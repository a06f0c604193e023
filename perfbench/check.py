"""Output checks, run after each timed job and outside its timing.

``core_problems`` compares the turns, docs and spans tables of an
output directory with the oracle digests of the snapshot (see
``corpus.oracle_digests``): every turn byte-equal by
``(conv_id, turn_idx)`` with the same image ids, every document equal,
every turn's span rows equal.  ``tree_digest`` fingerprints a whole
output directory, for the runs whose outputs must not change.
"""

from __future__ import annotations

import hashlib
import os

import pyarrow.parquet as pq

from corpus import digest, span_digest

_NO_SPANS = span_digest([])


def _read(out_dir: str, table: str, columns: list[str]) -> dict:
    path = os.path.join(out_dir, table)
    if not os.path.isdir(path):
        return {}
    return pq.read_table(path, columns=columns).to_pydict()


def core_problems(out_dir: str, expected: dict) -> list[str]:
    """Human-readable mismatches; empty when the output is correct."""
    problems = []

    t = _read(out_dir, "turns", ["conv_id", "turn_idx", "markdown", "images"])
    got = {
        (c, i): (digest(m), tuple(im))
        for c, i, m, im in zip(t.get("conv_id", []), t.get("turn_idx", []),
                               t.get("markdown", []), t.get("images", []))
    }
    want = expected["turns"]
    bad = sum(got.get(k) != v for k, v in want.items()) + len(got.keys() - want.keys())
    if bad or len(t.get("conv_id", [])) != len(want):
        problems.append(f"turns: {bad} of {len(want)} differ from the oracle "
                        f"({len(t.get('conv_id', []))} rows written)")

    d = _read(out_dir, "docs", ["conv_id", "markdown"])
    got_docs = {c: digest(m) for c, m in zip(d.get("conv_id", []), d.get("markdown", []))}
    bad = sum(got_docs.get(k) != v for k, v in expected["docs"].items())
    bad += len(got_docs.keys() - expected["docs"].keys())
    if bad or len(d.get("conv_id", [])) != len(expected["docs"]):
        problems.append(f"docs: {bad} of {len(expected['docs'])} differ")

    cols = ["conv_id", "turn_idx", "block_idx", "block_type", "level",
            "start", "end", "text"]
    s = _read(out_dir, "spans", cols)
    rows: dict = {}
    for r in zip(*(s.get(c, []) for c in cols)):
        rows.setdefault((r[0], r[1]), []).append(r[2:])
    got_spans = {k: span_digest(sorted(v)) for k, v in rows.items()}
    bad = sum(got_spans.get(k, _NO_SPANS) != v for k, v in expected["spans"].items())
    bad += len(got_spans.keys() - expected["spans"].keys())
    n_rows = len(s.get("conv_id", []))
    if bad or n_rows != expected["n_spans"]:
        problems.append(f"spans: {bad} turns differ ({n_rows} rows, "
                        f"{expected['n_spans']} expected)")
    return problems


def tree_digest(out_dir: str) -> str:
    """Digest of every file's relative path and bytes under ``out_dir``."""
    h = hashlib.blake2b(digest_size=16)
    for root, dirs, files in os.walk(out_dir):
        dirs.sort()
        for name in sorted(files):
            path = os.path.join(root, name)
            h.update(os.path.relpath(path, out_dir).encode() + b"\0")
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def tree_bytes(out_dir: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(out_dir)
        for f in files
    )
