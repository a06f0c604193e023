"""Process-tree accounting and host-noise samples, read from /proc.

``run_tree`` starts a command in its own process group and returns its
exit code, the user+sys CPU of every process of the tree (the
spark-submit JVM, the Python driver and the Python workers) and the
peak of the tree's proportional set size (PSS, so pages shared by
forked workers count once).  CPU is the RUSAGE_CHILDREN difference
around the job: with ``become_subreaper`` the benchmark adopts any
worker that outlives the JVM, stops it and reaps it, so its CPU is
counted too.
"""

from __future__ import annotations

import contextlib
import ctypes
import os
import resource
import signal
import subprocess
import threading
import time

_PR_SET_CHILD_SUBREAPER = 36


def _table() -> dict[int, int]:
    """pid -> ppid of every live process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, tail = f.read().rsplit(")", 1)
        except OSError:
            continue
        out[int(name)] = int(tail.split()[1])  # the field after state
    return out


def _reap_children(grace_s: float = 10.0) -> None:
    """Wait for every child of this process, the orphans it adopted
    included (the PySpark daemon leaves the job's process group and exits
    after the JVM); kill those still alive after ``grace_s``."""
    deadline = time.time() + grace_s
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.time() > deadline:
            for child, parent in _table().items():
                if parent == os.getpid():
                    with contextlib.suppress(ProcessLookupError):
                        os.kill(child, signal.SIGKILL)
        time.sleep(0.01)


def _pss_kb(pid: int) -> int:
    """Proportional set size: shared pages (forked Python workers, a
    vfork child of the JVM) count once across the tree, unlike RSS."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _descendants(table, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in table.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(children.get(p, []))
    return out


def become_subreaper() -> None:
    """Adopt orphaned descendants (Python workers outliving the JVM), so
    that they can be stopped, reaped and counted."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def run_tree(cmd: list[str], timeout: float, cwd: str, env: dict,
             log_path: str, poll_s: float = 0.5) -> dict:
    """Run ``cmd`` to completion (or kill its group at ``timeout``), then
    stop and reap whatever of its tree is left.  Call
    ``become_subreaper`` first, so the tree's CPU is all counted."""
    before = resource.getrusage(resource.RUSAGE_CHILDREN)
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
    peak_kb = 0
    stop = threading.Event()

    def sample():
        nonlocal peak_kb
        while not stop.wait(poll_s):
            pids = _descendants(_table(), proc.pid)
            peak_kb = max(peak_kb, sum(_pss_kb(p) for p in pids))

    sampler = threading.Thread(target=sample, daemon=True)
    sampler.start()
    timed_out = False
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        timed_out = True
    stop.set()
    sampler.join()
    # the group outlives its leader only through leftovers: stop them
    with contextlib.suppress(ProcessLookupError):
        os.killpg(proc.pid, signal.SIGKILL)
    proc.wait()
    _reap_children()
    after = resource.getrusage(resource.RUSAGE_CHILDREN)
    return {
        "rc": proc.returncode,
        "timed_out": timed_out,
        "cpu_s": (after.ru_utime - before.ru_utime) + (after.ru_stime - before.ru_stime),
        "peak_rss_mb": peak_kb / 1024,
    }


def cpu_steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two ``stat_cpu`` samples that the
    hypervisor stole."""
    d = [a - b for a, b in zip(after, before)]
    total = sum(d[:8])
    return d[7] / total if total else 0.0


def stat_cpu() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat, as tick counts."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]
