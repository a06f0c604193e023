"""spark-submit entry point for one timed extraction job.

    spark-submit --py-files engine.zip perfbench/launch.py \
        RESULT_JSON TRACE ROOT [run_extract args...]

Starts the session with ``engine.spark.session.get_spark`` (the same call
``run_extract.main`` makes, so its ``getOrCreate`` reuses the session),
stamps the time the session became ready, then runs ``run_extract.main``
from ROOT unchanged.  With TRACE=1 every parquet write the job
issues is wrapped in a span named by its output table, and every
parquet read, ``collect`` and call that builds the job's plans
(``engine.spark.pipeline.extract_*``, ``lineage.with_part_hash``,
``lineage.read_lineage``) in a span of its own; spans are kept in
memory and written to RESULT_JSON when the job ends.
"""

from __future__ import annotations

import contextlib
import importlib.util
import io
import json
import os
import sys
import time


def install_spans(spans: list[dict]):
    """Wrap each parquet read and write, each ``collect`` and the engine's
    plan-building entry points in spans; a span records its parent, so
    self time can be told from time in nested spans.  Returns a function
    that removes the wrappers."""
    from pyspark.sql.classic.dataframe import DataFrame
    from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

    from engine.spark import lineage, pipeline

    open_spans: list[int] = []
    originals = []

    def wrap(owner, attr, name_of):
        orig = getattr(owner, attr)
        originals.append((owner, attr, orig))

        def timed(*args, **kwargs):
            span = {"name": name_of(args, kwargs), "start": time.time(),
                    "parent": open_spans[-1] if open_spans else None}
            spans.append(span)
            open_spans.append(len(spans) - 1)
            try:
                return orig(*args, **kwargs)
            finally:
                open_spans.pop()
                span["end"] = time.time()

        setattr(owner, attr, timed)

    def table(args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else "")
        return os.path.basename(str(path).rstrip("/")) or "noop"

    wrap(DataFrameWriter, "parquet", table)
    wrap(DataFrameReader, "parquet", lambda args, kwargs: "read")
    wrap(DataFrame, "collect", lambda args, kwargs: "collect")
    for module, names in ((pipeline, ("extract_turns", "extract_docs", "extract_spans")),
                          (lineage, ("with_part_hash", "read_lineage"))):
        for name in names:
            wrap(module, name, lambda args, kwargs, n=name: f"plan.{n}")

    def uninstall():
        for owner, attr, orig in originals:
            setattr(owner, attr, orig)

    return uninstall


def self_times(spans: list[dict]) -> dict[str, float]:
    """Seconds per span name, each span counted without its child spans."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    out: dict[str, float] = {}
    for s, t in zip(spans, own):
        out[s["name"]] = out.get(s["name"], 0.0) + t
    return out


def main(argv: list[str]) -> int:
    result_path, trace, root, job_argv = argv[0], argv[1] == "1", argv[2], argv[3:]
    from engine.spark.session import get_spark

    cores = int(job_argv[job_argv.index("--cores") + 1])
    get_spark(cores=cores, app="run-extract")
    ready = time.time()
    spans: list[dict] = []
    if trace:
        install_spans(spans)

    spec = importlib.util.spec_from_file_location(
        "run_extract", os.path.join(root, "run_extract.py")
    )
    run_extract = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run_extract)
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = run_extract.main(job_argv)
    end = time.time()
    with open(result_path, "w") as f:
        json.dump({"ready": ready, "end": end, "stdout": out.getvalue(), "spans": spans}, f)
    return rc


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
