"""End-to-end benchmark of the spark-submit extraction job.

    python3 perfbench/run.py --workload fresh_core --seed 1 --seconds 30 --trace 0

Run from the root of a source tree.  One run:

1. packages ``engine/`` of that tree for ``--py-files`` with its
   ``make_pyfiles.py``;
2. makes the workload's input snapshot from ``--seed`` (cached under
   ``.perfbench/`` with its oracle digests, keyed by seed, size and a
   hash of the sources);
3. runs ``run_extract.main`` under ``spark-submit --py-files`` through
   ``perfbench/launch.py``, one job at a time (a closed loop with one
   client), until the jobs' measured time reaches ``--seconds``;
4. checks every job's outputs, outside the timing;
5. prints each metric with its unit, then one JSON line.

``--trace 1`` instead makes one traced cold job (spans around each
write and collect, see ``launch.py``) and one warm in-process session
over the same input (``layers.py``), and prints the per-layer metrics.

Workloads (sizes are fixed here and stated in BENCHMARK.json):

* ``fresh_core``: a new snapshot of the fixture mix into an empty
  output, with ``--spans``: parse, assembly, three partitioned writes,
  the docs shuffle and spans all do work.
* ``retry_done``: the same job rerun with the same snapshot id into an
  output that already holds that snapshot's completed run (a scheduler
  retry of a job that succeeded).  It processes no bucket and must leave
  the output byte-identical.  The completed output is built once per
  source tree from a fixed snapshot; the seed permutes the row order of
  the input files the retry reads.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import io
import json
import os
import pickle
import re
import shutil
import statistics
import sys
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import check  # noqa: E402
import launch  # noqa: E402
import proc  # noqa: E402

CORES = 4
DRIVER_MEMORY = "4500m"  # run_extract refuses >200k turns under 4 GiB
RUN_LIMIT_S = 170  # a run must end within 180 s
JOB_TIMEOUT_S = 150
BASE_SEED = 0
INPUT_FILES = 8
INPUT_CACHE = 24  # snapshots kept under .perfbench/inputs


@dataclass(frozen=True)
class Workload:
    turns: int
    buckets: int
    flags: tuple[str, ...]
    retry: bool


WORKLOADS = {
    "fresh_core": Workload(64_000, 16, ("--spans",), retry=False),
    "retry_done": Workload(64_000, 16, ("--spans",), retry=True),
}

def sources_hash() -> str:
    """Hash of the program under test and of the input generator: the key
    of every cached input, oracle digest and completed output."""
    h = hashlib.blake2b(digest_size=8)
    files = [os.path.join(ROOT, "run_extract.py"), os.path.join(HERE, "corpus.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, "engine"))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for path in files:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build_zip() -> str:
    """``dist/engine.zip`` of the tree, made by the repo's own packager."""
    import make_pyfiles

    with contextlib.redirect_stdout(io.StringIO()):
        return make_pyfiles.main()


# ------------------------------------------------------------------ inputs
def _prune_inputs() -> None:
    base = os.path.join(WORK, "inputs")
    entries = sorted(os.scandir(base), key=lambda e: e.stat().st_mtime)
    for e in entries[:-INPUT_CACHE]:
        shutil.rmtree(e.path, ignore_errors=True)


def prepare(name: str, tag: str, make, work: str, oracle: bool = True) -> dict:
    """Snapshot ``name`` (a transcripts dir, a description and, with
    ``oracle``, its oracle digests), made by ``make()`` once and then read
    from the cache."""
    import corpus

    d = os.path.join(WORK, "inputs", f"{name}-{tag}")
    meta = os.path.join(d, "expected.pkl")
    if not os.path.exists(meta):
        shutil.rmtree(d, ignore_errors=True)
        df = make()
        corpus.write(df, os.path.join(d, "transcripts"), INPUT_FILES)
        snap = {
            "about": corpus.describe(df),
            "expected": corpus.oracle_digests(df, ROOT, CORES, work) if oracle else None,
        }
        with open(meta + ".tmp", "wb") as f:
            pickle.dump(snap, f)
        os.replace(meta + ".tmp", meta)
        _prune_inputs()
    os.utime(d)
    with open(meta, "rb") as f:
        snap = pickle.load(f)
    snap["path"] = os.path.join(d, "transcripts")
    snap["in_bytes"] = check.tree_bytes(snap["path"])
    return snap


# ------------------------------------------------------------------- jobs
def submit(zip_path: str, snap: dict, out: str, snapshot_id: str, wl: Workload,
           log_dir: str, trace: bool = False, timeout: float = JOB_TIMEOUT_S) -> dict:
    """One cold spark-submit job; timings, CPU and RSS of its tree."""
    os.makedirs(log_dir, exist_ok=True)
    result = os.path.join(log_dir, "job.json")
    if os.path.exists(result):
        os.remove(result)
    cmd = [
        "spark-submit", "--master", f"local[{CORES}]",
        "--driver-memory", DRIVER_MEMORY, "--py-files", zip_path,
        os.path.join(HERE, "launch.py"), result, "1" if trace else "0", ROOT,
        "--input", snap["path"], "--output", out, "--snapshot-id", snapshot_id,
        "--buckets", str(wl.buckets), "--cores", str(CORES), *wl.flags,
    ]
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    t0 = time.time()
    r = proc.run_tree(cmd, timeout, cwd=log_dir, env=env,
                      log_path=os.path.join(log_dir, "spark.log"))
    if r["rc"] != 0 or not os.path.exists(result):
        return {**r, "problems": [f"exit code {r['rc']}"
                                  + (" (timed out)" if r["timed_out"] else "")]}
    with open(result) as f:
        job = json.load(f)
    return {**r, "problems": [], "stdout": job["stdout"], "spans": job["spans"],
            "setup_s": job["ready"] - t0, "job_s": job["end"] - job["ready"]}


def expect_done(job: dict, buckets: int, turns: int) -> list[str]:
    """run_extract's summary line must report the bucket and turn counts."""
    m = re.search(r"done: (\d+) buckets processed, (\d+) turns total", job["stdout"])
    if not m:
        return ["no summary line in run_extract output"]
    got_b, got_t = int(m.group(1)), int(m.group(2))
    problems = []
    if got_b != buckets:
        problems.append(f"{got_b} buckets processed, {buckets} expected")
    if got_t != turns:
        problems.append(f"{got_t} turns total, {turns} expected")
    return problems


class Run:
    """One benchmark run: its scratch directory, deadline and jobs."""

    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.t0 = time.time()
        self.tag = sources_hash()
        self.dir = os.path.join(WORK, "runs", f"{os.getpid()}")
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        self.zip = build_zip()
        self.jobs: list[dict] = []

    def left(self) -> float:
        return RUN_LIMIT_S - (time.time() - self.t0)

    def snapshot(self) -> dict:
        import corpus

        wl, seed = self.wl, self.args.seed
        if not wl.retry:
            return prepare("core", f"{wl.turns}-s{seed}-{self.tag}",
                           lambda: corpus.snapshot(wl.turns, seed), self.dir)
        base = prepare("retry", f"{wl.turns}-base-{self.tag}",
                       lambda: corpus.snapshot(wl.turns, BASE_SEED), self.dir)
        shuffled = prepare(
            "retry", f"{wl.turns}-s{seed}-{self.tag}",
            lambda: corpus.shuffled(base["path"], seed), self.dir, oracle=False,
        )
        shuffled["base"] = base
        return shuffled

    def completed_output(self, snap: dict) -> str:
        """The retry's output: a completed, oracle-checked run of the base
        snapshot, built once per source tree."""
        d = os.path.join(WORK, "completed", f"{self.wl.turns}-{self.tag}")
        meta = os.path.join(d, "meta.json")
        if os.path.exists(meta):
            return d
        shutil.rmtree(d, ignore_errors=True)
        out = os.path.join(d, "out")
        base = snap["base"]
        job = submit(self.zip, base, out, "day0", self.wl,
                     os.path.join(self.dir, "base"), timeout=max(self.left() - 40, 1))
        problems = job["problems"] or (
            expect_done(job, self.wl.buckets, base["about"]["turns"])
            + check.core_problems(out, base["expected"]))
        if problems:
            raise RuntimeError(f"completed output for retry_done: {problems}")
        with open(meta, "w") as f:
            json.dump({"tree": check.tree_digest(out)}, f)
        return d

    def timed_job(self, snap: dict, trace: bool = False) -> dict:
        """One job and its checks; ``job["ok"]`` when both passed."""
        log = os.path.join(self.dir, f"job{len(self.jobs)}")
        if self.wl.retry:
            done = self.completed_output(snap)
            out = os.path.join(done, "out")
        else:
            out = os.path.join(self.dir, "out")
            shutil.rmtree(out, ignore_errors=True)
        job = submit(self.zip, snap, out, "day0", self.wl, log, trace,
                     timeout=min(JOB_TIMEOUT_S, self.left()))
        if "job_s" in job:
            job["problems"] = (
                expect_done(job, 0, snap["about"]["turns"]) if self.wl.retry
                else expect_done(job, self.wl.buckets, snap["about"]["turns"])
                + check.core_problems(out, snap["expected"]))
            job["out_bytes"] = check.tree_bytes(out)
        if self.wl.retry:
            with open(os.path.join(done, "meta.json")) as f:
                if check.tree_digest(out) != json.load(f)["tree"]:
                    job["problems"].append("the retry changed the completed output")
                    shutil.rmtree(done)
        job["ok"] = not job["problems"]
        self.jobs.append(job)
        return job


def e2e_metrics(jobs: list[dict], snap: dict) -> dict:
    """Medians over the jobs that ran to completion."""
    med = lambda f: statistics.median(f(j) for j in jobs)  # noqa: E731
    kturns = snap["about"]["turns"] / 1000
    return {
        "setup_s": med(lambda j: j["setup_s"]),
        "job_s": med(lambda j: j["job_s"]),
        "turns_per_s": med(lambda j: 1000 * kturns / j["job_s"]),
        "cpu_s_per_kturn": med(lambda j: j["cpu_s"] / kturns),
        "out_bytes_per_in_byte": med(lambda j: j["out_bytes"] / snap["in_bytes"]),
    }


def host_sample() -> dict:
    return {"stat": proc.stat_cpu(), "utc": time.strftime("%H:%M:%SZ", time.gmtime()),
            "loadavg": os.getloadavg()[0]}


HISTORY = os.path.join(WORK, "history.jsonl")


def past_job_s(workload: str, tag: str) -> list[float]:
    """Median job_s of each earlier untraced run of ``workload`` on the
    same sources."""
    if not os.path.exists(HISTORY):
        return []
    with open(HISTORY) as f:
        runs = [json.loads(line) for line in f]
    return [r["metrics"]["job_s"] for r in runs
            if r["workload"] == workload and r["tag"] == tag and not r["trace"]]


def measure(run: Run, snap: dict) -> dict:
    """Timed jobs until their measured time reaches --seconds."""
    spent = 0.0
    while not run.jobs or spent < run.args.seconds:
        last = run.jobs[-1] if run.jobs else None
        need = (last["setup_s"] + last["job_s"] + 5) if last and "job_s" in last else 0
        if run.jobs and run.left() < need:
            break
        job = run.timed_job(snap)
        if not job["ok"]:
            break
        spent += job["setup_s"] + job["job_s"]
    timed = [j for j in run.jobs if "job_s" in j]
    if not timed:
        raise RuntimeError(f"no job completed: {run.jobs[-1]['problems']}")
    return e2e_metrics(timed, snap)


def required(job: dict) -> dict:
    if "job_s" not in job:
        raise RuntimeError(f"job failed: {job['problems']}")
    return job


def span_metrics(spans: list[dict], job_s: float) -> dict:
    """The traced job's self time per span, grouped into e2e.* metrics."""
    by_name: dict[str, float] = {}
    for name, t in launch.self_times(spans).items():
        name = "plan" if name.startswith("plan.") else name.lstrip("_")
        by_name[name] = by_name.get(name, 0.0) + t
    m = {f"e2e.{n}_s": by_name.pop(n, 0.0)
         for n in ("read", "collect", "plan", "turns", "docs", "spans", "lineage")}
    attributed = sum(m.values())
    m["e2e.unattributed_s"] = job_s - attributed
    m["e2e.attributed_share"] = attributed / job_s
    return m


def trace(run: Run, snap: dict) -> dict:
    """Traced cold job + warm per-layer session; per-layer metrics."""
    job = required(run.timed_job(snap, trace=True))
    m = {"trace.job_s": job["job_s"], "trace.peak_rss_mb": job["peak_rss_mb"]}
    m.update(span_metrics(job["spans"], job["job_s"]))
    # the job's time outside the three table writes (which include the
    # parse, assembly, docs shuffle and spans that feed them)
    m["lineage.overhead_s"] = job["job_s"] - sum(
        m[f"e2e.{t}_s"] for t in ("turns", "docs", "spans"))

    out = os.path.join(run.dir, "layers.json")
    r = proc.run_tree(
        [sys.executable, os.path.join(HERE, "layers.py"), ROOT, run.zip, snap["path"],
         run.dir, str(run.wl.buckets), str(CORES), str(run.args.seed), out],
        timeout=max(run.left(), 1), cwd=run.dir,
        env={**os.environ, "SPARK_DRIVER_MEM": DRIVER_MEMORY, "PYTHONPATH": ""},
        log_path=os.path.join(run.dir, "layers.log"))
    if r["rc"] != 0:
        raise RuntimeError(f"layer session failed with exit code {r['rc']}"
                           f"{' (timed out)' if r['timed_out'] else ''}")
    with open(out) as f:
        m.update(json.load(f))
    return m


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("engine", "run_extract.py", "make_pyfiles.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing or shutil.which("spark-submit") is None:
        print(f"error: {ROOT} is not a source tree with spark-submit on PATH "
              f"(missing: {missing or ['spark-submit']})", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    proc.become_subreaper()

    run = Run(args)
    try:
        snap = run.snapshot()
        before = host_sample()
        metrics = trace(run, snap) if args.trace else measure(run, snap)
        after = host_sample()
    finally:
        shutil.rmtree(run.dir, ignore_errors=True)

    failed = sum(not j["ok"] for j in run.jobs)
    host = {"steal_share": proc.cpu_steal_share(before["stat"], after["stat"]),
            "utc_start": before["utc"], "utc_end": after["utc"],
            "loadavg": before["loadavg"]}
    os.makedirs(WORK, exist_ok=True)
    with open(HISTORY, "a") as f:
        f.write(json.dumps({"workload": args.workload, "seed": args.seed, "tag": run.tag,
                            "trace": bool(args.trace), "metrics": metrics, "host": host,
                            "jobs": len(run.jobs), "failed": failed}) + "\n")

    a = snap["about"]
    print(f"workload {args.workload} seed {args.seed}: {a['turns']} turns, "
          f"{a['conversations']} conversations, {a['payload_bytes']} payload bytes, "
          f"kinds {a['kind_rows']}; {run.wl.buckets} buckets, local[{CORES}], "
          f"{DRIVER_MEMORY} heap, flags {' '.join(run.wl.flags)}")
    for j, job in enumerate(run.jobs):
        print(f"job {j}: {'ok' if job['ok'] else 'FAILED ' + '; '.join(job['problems'])}")
    print(f"host: steal_share {host['steal_share']:.4f}, {host['utc_start']}-"
          f"{host['utc_end']}, loadavg {host['loadavg']:.2f}")
    print(f"failed_frac {failed / len(run.jobs):.4f} ({failed}/{len(run.jobs)} jobs)")
    past = past_job_s(args.workload, run.tag)
    if args.trace and past:
        print(f"traced job_s {metrics['trace.job_s']:.3f} s against the median untraced "
              f"job_s {statistics.median(past):.3f} s of {len(past)} earlier runs")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    units = {m["name"]: m["unit"] for m in listed}
    if units.keys() != metrics.keys():
        raise RuntimeError(f"metrics differ from BENCHMARK.json: "
                           f"{sorted(units.keys() ^ metrics.keys())}")
    result = {}
    for name, value in metrics.items():
        print(f"{name} {value:.6g} {units[name]}")
        result[name] = {"value": value, "unit": units[name]}
    print(json.dumps({"correct": failed == 0, "attempted": len(run.jobs),
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
