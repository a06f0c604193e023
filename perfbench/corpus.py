"""Seeded benchmark inputs and their oracle digests.

Every snapshot is built from ``engine.fixtures.make_transcripts`` (the
default fixture mix) and trimmed at a conversation boundary to a target
turn count, so the seed changes the conversation lengths and the
long-conversation tail but not the size of the job.  The expected
output of a snapshot is computed once, with ``engine.oracle``, and kept
as digests beside the parquet:

* per turn: a digest of the Markdown, the image ids, and a digest of
  the turn's block list (the span rows);
* per conversation: a digest of the assembled document.

Oracle work is spread over a few worker processes (this file run as a
script), since it is pure Python at ~140 us per turn.
"""

from __future__ import annotations

import hashlib
import math
import os
import pickle
import subprocess
import sys

import pandas as pd

DAY = pd.Timedelta(days=1)


def digest(text: str) -> bytes:
    return hashlib.blake2b(text.encode("utf-8"), digest_size=16).digest()


def span_digest(rows) -> bytes:
    """Digest of one turn's span rows, each (block_idx, block_type,
    level, start, end, text), in block order."""
    h = hashlib.blake2b(digest_size=16)
    for r in rows:
        h.update("\x1f".join(str(v) for v in r).encode("utf-8") + b"\x1e")
    return h.digest()


def snapshot(n_turns: int, seed: int) -> pd.DataFrame:
    """The fixture mix for ``seed``, cut after the last whole
    conversation that fits in ``n_turns``."""
    from engine import fixtures

    n_convs = math.ceil(n_turns / 13 * 1.25) + 8
    while True:
        df = fixtures.make_transcripts(n_convs, seed=seed)
        if len(df) >= n_turns:
            break
        n_convs *= 2
    return trim(df, n_turns)


def trim(df: pd.DataFrame, n_turns: int) -> pd.DataFrame:
    """The conversations of ``df``, in id order, that fit in ``n_turns``."""
    sizes = df.groupby("conv_id", sort=True).size()
    keep = sizes.index[sizes.cumsum() <= n_turns]
    return df[df["conv_id"].isin(keep)].reset_index(drop=True)


def next_day(base: pd.DataFrame, seed: int, frac: float = 0.02) -> pd.DataFrame:
    """``base`` plus one day of traffic: ``frac`` new conversations and
    1-4 new turns appended to ``frac`` of the existing ones.  Appended
    turns reuse payloads of other base turns (so the kind mix holds) and
    are stamped one day later."""
    import numpy as np

    rng = np.random.RandomState(seed)
    convs = base["conv_id"].unique()
    n_touch = max(1, int(len(convs) * frac))
    touched = rng.choice(convs, size=n_touch, replace=False)
    last = base.groupby("conv_id")["turn_idx"].max()
    rows = []
    for conv in touched:
        k = 1 + rng.randint(4)
        src = base.iloc[rng.randint(len(base), size=k)].copy()
        src["conv_id"] = conv
        src["turn_idx"] = np.arange(last[conv] + 1, last[conv] + 1 + k, dtype="int32")
        src["ts"] = src["ts"] + DAY
        rows.append(src)
    from engine import fixtures

    new = fixtures.make_transcripts(n_touch, seed=seed, skew_giant=False)
    new["conv_id"] = ("day1-" + new["conv_id"].astype(str)).astype("string")
    new["ts"] = new["ts"] + DAY
    out = pd.concat([base, *rows, new], ignore_index=True)
    return out.astype(base.dtypes.to_dict())


def shuffled(path: str, seed: int) -> pd.DataFrame:
    """The snapshot at ``path`` with its rows in a seeded random order."""
    df = pd.read_parquet(path)
    return df.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def _oracle_rows(rows) -> list[tuple]:
    from engine import oracle

    out = []
    for conv, turn, text in rows:
        r = oracle.process_turn(conv, turn, text)
        blocks = [
            (i, b["block_type"], b["level"], b["start"], b["end"], b["text"])
            for i, b in enumerate(r.blocks)
        ]
        out.append((conv, turn, r.markdown, tuple(r.image_ids),
                    span_digest(blocks), len(blocks)))
    return out


def oracle_digests(df: pd.DataFrame, root: str, workers: int, work: str) -> dict:
    """Expected turns, docs and spans of ``df`` per ``engine.oracle``,
    computed by ``workers`` worker processes that exchange pickles
    through the directory ``work``."""
    rows = list(zip(df["conv_id"].astype(str), df["turn_idx"].astype(int),
                    df["text"].astype(str)))
    size = math.ceil(len(rows) / workers)
    procs = []
    for i in range(workers):
        inp, out = (os.path.join(work, f"oracle-{i}.{ext}") for ext in ("in", "out"))
        with open(inp, "wb") as f:
            pickle.dump(rows[i * size:(i + 1) * size], f)
        procs.append((subprocess.Popen([sys.executable, __file__, root, inp, out]), out))
    codes = [proc.wait() for proc, _ in procs]
    if any(codes):
        raise RuntimeError(f"oracle workers exited with codes {codes}")
    results = []
    for _, out in procs:
        with open(out, "rb") as f:
            results += pickle.load(f)
    from engine.core import spec

    turns, spans, by_conv = {}, {}, {}
    n_spans = 0
    for conv, turn, md, images, sd, nb in results:
        turns[(conv, turn)] = (digest(md), images)
        spans[(conv, turn)] = sd
        n_spans += nb
        by_conv.setdefault(conv, []).append((turn, md))
    docs = {
        conv: digest(spec.DOC_JOIN.join(md for _, md in sorted(parts)))
        for conv, parts in by_conv.items()
    }
    return {"turns": turns, "spans": spans, "docs": docs, "n_spans": n_spans}


def describe(df: pd.DataFrame) -> dict:
    """Turns, bytes and payload-kind mix of a snapshot."""
    from engine.core import parser

    kinds = parser.detect_kinds(df["text"])
    nbytes = df["text"].str.encode("utf-8").str.len()
    return {
        "turns": int(len(df)),
        "conversations": int(df["conv_id"].nunique()),
        "payload_bytes": int(nbytes.sum()),
        "kind_rows": {k: int(v) for k, v in kinds.value_counts().items()},
        "kind_bytes": {k: int(v) for k, v in nbytes.groupby(kinds).sum().items()},
    }


def write(df: pd.DataFrame, path: str, parts: int) -> None:
    """``df`` as a directory of ``parts`` parquet files of contiguous
    rows, the layout of an exported snapshot (one file of one row group
    would give the scan a single split)."""
    tmp = path + ".tmp"
    os.makedirs(tmp, exist_ok=True)
    step = math.ceil(len(df) / parts)
    for i in range(parts):
        df.iloc[i * step:(i + 1) * step].to_parquet(
            os.path.join(tmp, f"part-{i:05d}.parquet"), index=False)
    os.replace(tmp, path)


if __name__ == "__main__":
    # oracle worker: ROOT IN_PICKLE OUT_PICKLE
    sys.path.insert(0, sys.argv[1])
    with open(sys.argv[2], "rb") as f:
        work = pickle.load(f)
    with open(sys.argv[3], "wb") as f:
        pickle.dump(_oracle_rows(work), f)
