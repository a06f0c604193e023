"""Warm per-layer measurements in one in-process Spark session.

    python3 perfbench/layers.py ROOT ZIP INPUT WORKDIR BUCKETS CORES SEED RESULT_JSON

Times calls into the public functions of ``engine/`` from outside and
reads Spark's own SQL metrics from each executed plan.  Every timed
action consumes the layer's output column (a sum of lengths), since a
bare count lets Catalyst prune the Python UDF.  Times are seconds;
``*_ms`` metrics are Spark's millisecond timings summed over tasks.

The ``core.parser`` layer runs on a sample of every payload kind of the
whole snapshot; the Spark layers run on its first ``SLICE_TURNS`` turns
(whole conversations), so that the session, the lineage runs and the
optional stages fit one run's time limit.  Run as its own process so
the session and its workers end with it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

import pyarrow.dataset as pads


def _plan_nodes(spark, plan):
    """Every physical node of an executed plan, through AQE stages."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    stack = [plan]
    while stack:
        p = stack.pop()
        yield p
        kind = p.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(p.plan())
        else:
            stack.extend(conv.asJava(p.children()))


def sql_metrics(spark, df, node: str) -> dict[str, int]:
    """Sum of each SQL metric over the executed plan's ``node`` nodes."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    out: dict[str, int] = {}
    for p in _plan_nodes(spark, df._jdf.queryExecution().executedPlan()):
        if p.getClass().getSimpleName() != node:
            continue
        metrics = conv.asJava(p.metrics())
        for k in metrics.keySet():
            out[k] = out.get(k, 0) + int(metrics[k].value())
    return out


def timed(fn):
    t0 = time.perf_counter()
    result = fn()
    return time.perf_counter() - t0, result


def consume(df, *exprs):
    """Run ``df`` to completion through an aggregate of ``exprs``; return
    the seconds, the result row and the aggregate (for its plan)."""
    agg = df.agg(*exprs)
    dt, rows = timed(agg.collect)
    return dt, rows[0], agg


def parser_layer(texts) -> dict:
    """core.parser per payload kind, single-threaded in this process."""
    from engine.core import parser

    out = {}
    kinds = parser.detect_kinds(texts)
    nbytes = texts.str.encode("utf-8").str.len()
    md_parts = []
    for kind in ("html", "markdown", "tool_json", "empty"):
        rows = texts[kinds == kind]
        out[f"parser.{kind}_rows"] = len(rows)
        out[f"parser.{kind}_bytes"] = int(nbytes[kinds == kind].sum())
        sample = rows.iloc[:PARSER_SAMPLE]
        runs = []
        for _ in range(3):
            dt, md = timed(lambda: parser.extract_markdown_series(sample))
            runs.append(dt)
        md_parts.append(md)
        out[f"parser.{kind}_us_per_row"] = statistics.median(runs) / max(len(sample), 1) * 1e6
    import pandas as pd

    md = pd.concat(md_parts, ignore_index=True)
    keys = pd.DataFrame({"conv_id": "c", "turn_idx": range(len(md))})
    runs = [timed(lambda: parser.segment_blocks_frame(md, keys))[0] for _ in range(3)]
    out["parser.segment_us_per_row"] = statistics.median(runs) / len(md) * 1e6
    return out


def _files(*paths):
    """Number and bytes of the parquet files under ``paths``."""
    n = size = 0
    for path in paths:
        for root, _, files in os.walk(path):
            for f in files:
                if f.endswith(".parquet"):
                    n += 1
                    size += os.path.getsize(os.path.join(root, f))
    return n, size


SLICE_TURNS = 6_000
TRACE_PAIRS = 2
PARSER_SAMPLE = 2_000
STAGES = {  # run_with_resume flag -> tables it writes, per-bucket first
    "translate": ("docs_translated",),
    "quarantine": ("quarantine",),
    "curate": ("curation",),
    "conv_curate": ("conv_curation",),
    "line_dedup": ("line_counts", "boilerplate_lines"),
    "dedup": ("fingerprints", "dup_clusters"),
}


def main(argv: list[str]) -> int:
    root, zip_path, input_path, work, buckets, cores, seed, result = argv
    buckets, cores, seed = int(buckets), int(cores), int(seed)
    sys.path[:0] = [root, os.path.dirname(os.path.abspath(__file__))]
    import pandas as pd
    from pyspark.sql import functions as F

    import corpus
    import launch
    from engine.spark import lineage, parse_udf, pipeline
    from engine.spark.session import get_spark

    m: dict[str, float] = {}

    snap = pd.read_parquet(input_path)
    m.update(parser_layer(snap["text"]))

    # the Spark layers run on the first conversations of the snapshot, so
    # that the whole session, the optional stages included, fits the run
    n_files = len(os.listdir(input_path))
    part = corpus.trim(snap, SLICE_TURNS)
    part_path = os.path.join(work, "slice")
    corpus.write(part, part_path, n_files)
    day1_path = os.path.join(work, "day1")
    corpus.write(corpus.next_day(part, seed), day1_path, n_files)
    del snap, part

    dt, spark = timed(lambda: get_spark(cores=cores, app="perfbench-layers"))
    m["session.get_spark_s"] = dt
    spark.sparkContext.addPyFile(zip_path)
    src = spark.read.parquet(part_path)

    # turns: the first call pays for Python worker start-up
    turns = pipeline.extract_turns(src)
    agg = (F.sum(F.length("markdown")), F.sum(F.size("images")), F.count("*"))
    cold, _, first = consume(turns, *agg)
    py = sql_metrics(spark, first, "ArrowEvalPythonExec")
    m["parse_udf.py_start_ms"] = py.get("pythonBootTime", 0)
    m["parse_udf.py_init_ms"] = py.get("pythonInitTime", 0)
    m["pipeline.extract_turns_s"], _, _ = consume(turns, *agg)
    m["session.cold_penalty_s"] = cold - m["pipeline.extract_turns_s"]

    m["scan.s"], _, _ = consume(src, F.sum(F.length("text")))
    md = parse_udf.extract_markdown_udf(F.col("text"))
    m["parse_udf.s"], _, parsed = consume(src.select(md.alias("md")), F.sum(F.length("md")))
    py = sql_metrics(spark, parsed, "ArrowEvalPythonExec")
    m["parse_udf.py_run_ms"] = py.get("pythonTotalTime", 0)
    m["parse_udf.bytes_to_py"] = py.get("pythonDataSent", 0)
    m["parse_udf.bytes_from_py"] = py.get("pythonDataReceived", 0)
    m["assemble.s"] = m["pipeline.extract_turns_s"] - m["parse_udf.s"]

    # lineage: a fresh run, traced, whose table writes give the write
    # layer (write self time minus the same frame's aggregate above/below)
    out = os.path.join(work, "lineage")

    def resume(df, snap_id, **flags):
        return timed(lambda: lineage.run_with_resume(
            spark, df, out, snapshot_id=snap_id, n_buckets=buckets, spans=True, **flags))

    spans: list[dict] = []
    uninstall = launch.install_spans(spans)
    m["lineage.fresh_s"], _ = resume(src, "day0")
    uninstall()
    written = launch.self_times(spans)
    m["write.files"], m["write.bytes"] = _files(
        *(os.path.join(out, t) for t in ("turns", "docs", "spans")))
    committed = spark.read.parquet(os.path.join(out, "turns"))

    docs = pipeline.extract_docs(committed)
    m["docs.s"], row, dagg = consume(docs, F.sum(F.length("markdown")), F.count("*"))
    m["docs.rows"] = row[1]
    m["docs.shuffle_bytes"] = sql_metrics(spark, dagg, "ShuffleExchangeExec").get(
        "shuffleBytesWritten", 0)

    sp = pipeline.extract_spans(committed)
    m["spans.s"], row, sagg = consume(sp, F.sum(F.length("text")), F.count("*"))
    m["spans.rows"] = row[1]
    py = sql_metrics(spark, sagg, "MapInPandasExec")
    m["spans.py_run_ms"] = py.get("pythonTotalTime", 0)
    m["spans.bytes_to_py"] = py.get("pythonDataSent", 0)
    m["spans.bytes_from_py"] = py.get("pythonDataReceived", 0)
    for table, frame in (("turns", "pipeline.extract_turns_s"), ("docs", "docs.s"),
                         ("spans", "spans.s")):
        m[f"write.{table}_s"] = written.get(table, 0.0) - m[frame]

    # tracing overhead: the same retry with the span wrappers off and on,
    # in pairs that alternate which side runs first
    plain, traced = [], []
    for i in range(TRACE_PAIRS):
        for on in ((False, True) if i % 2 == 0 else (True, False)):
            uninstall = launch.install_spans(spans) if on else None
            (traced if on else plain).append(resume(src, "day0")[0])
            if uninstall:
                uninstall()
    m["lineage.retry_s"] = statistics.median(plain)
    m["trace.overhead_s"] = statistics.median(traced) - m["lineage.retry_s"]

    # optional stages: one backfill of all six over the completed output;
    # each stage's time is the self time of its tables' writes, which run
    # the stage's plan (six lone backfills do not fit the run's limit)
    spans.clear()
    uninstall = launch.install_spans(spans)
    m["stage.backfill_s"], _ = resume(src, "day0", **{s: True for s in STAGES})
    uninstall()
    self_s = launch.self_times(spans)
    for stage, tables in STAGES.items():
        m[f"stage.{stage}_s"] = sum(self_s.get(t, 0.0) for t in tables)
        m[f"stage.{stage}_rows"] = pads.dataset(
            os.path.join(out, tables[0]), partitioning="hive").count_rows()

    m["lineage.detect_s"], stats = resume(spark.read.parquet(day1_path), "day1",
                                          detect_changes=True)
    m["lineage.buckets_processed"] = stats["buckets_processed"]

    spark.stop()
    with open(result, "w") as f:
        json.dump(m, f)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
