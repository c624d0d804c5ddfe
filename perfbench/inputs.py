"""Seeded input generators for the benchmark workloads.

Inputs are built with numpy from ``--seed`` alone (the same seed gives the
same rows) and written as parquet files with pyarrow, so staging runs no
Spark job.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = np.datetime64("2024-01-01T00:00:00", "ms")
ROLES = np.array(["user", "assistant", "tool", "system"])
#: every DUP_EVERY-th doc / vector is a planted copy of id // DUP_EVERY
DUP_EVERY = 10
VOCAB = 5000

TS = pa.timestamp("us", tz="UTC")
TURNS_SCHEMA = pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int32()),
                          ("role", pa.string()), ("text", pa.string()),
                          ("tool", pa.string()), ("ts", TS)])
STATES_SCHEMA = pa.schema([("conv_id", pa.string()), ("state_ts", TS),
                           ("label", pa.string()), ("state_seq", pa.int64())])
DOCS_SCHEMA = pa.schema([("doc_id", pa.int64()), ("text", pa.string())])
EMB_SCHEMA = pa.schema([("vec_id", pa.int64()), ("embedding", pa.list_(pa.float64()))])


def write(pdf: pd.DataFrame, schema: pa.Schema, path: str, files: int) -> None:
    """Write ``pdf`` as ``files`` parquet files of consecutive rows."""
    os.makedirs(path)
    table = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
    step = -(-len(pdf) // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet"))


def _conv_ids(conv: np.ndarray) -> np.ndarray:
    return np.char.add("conv", np.char.zfill(conv.astype(str), 6)).astype(object)


def transcripts(n_turns: int, n_convs: int, seed: int, dup_pct: float = 2.0) -> pd.DataFrame:
    """Zipf-skewed transcript table (conv_id, turn_idx, role, text, tool, ts).

    A turn lands in conversation ``floor(n_convs * u**2)``, so low ids are
    hot (the hottest holds about ``1/sqrt(n_convs)`` of all turns). Gaps are
    1-121 s with 3% multi-hour jumps (session boundaries). ``dup_pct``
    percent of the turns are resent: a second row with the same key, ts one
    second later and altered text, which the last-wins dedup must drop.
    """
    rng = np.random.default_rng(seed)
    u = rng.random(n_turns)
    conv = np.sort((u * u * n_convs).astype(np.int64), kind="stable")
    starts = np.r_[0, np.flatnonzero(np.diff(conv)) + 1]
    sizes = np.diff(np.r_[starts, n_turns])
    turn_idx = np.arange(n_turns) - np.repeat(starts, sizes)
    gap = rng.integers(1_000, 121_000, n_turns)
    gap[rng.random(n_turns) < 0.03] += 4 * 3600 * 1000
    # each conversation starts somewhere in its first 30 days
    gap[starts] = rng.integers(0, 30 * 86_400_000, len(starts))
    cum = np.cumsum(gap)
    ts_ms = cum - np.repeat(cum[starts] - gap[starts], sizes)
    df = pd.DataFrame({
        "conv_id": _conv_ids(conv),
        "turn_idx": turn_idx.astype(np.int32),
        "role": ROLES[rng.integers(0, len(ROLES), n_turns)],
        "text": pd.Series(np.char.add("turn ", turn_idx.astype(str))).str.cat(
            pd.Series(conv.astype(str)), sep=" of conv "),
        "tool": np.where(rng.random(n_turns) < 0.10, "search", None),
        "ts": EPOCH + ts_ms.astype("timedelta64[ms]"),
    })
    dup = df[rng.random(n_turns) < dup_pct / 100.0].copy()
    dup["ts"] = dup["ts"] + pd.Timedelta(seconds=1)
    dup["text"] = dup["text"] + " (resent)"
    out = pd.concat([df, dup], ignore_index=True)
    return out.iloc[rng.permutation(len(out))].reset_index(drop=True)


def states(turns: pd.DataFrame, seed: int, rate_pct: float = 15.0) -> pd.DataFrame:
    """State stream (conv_id, state_ts, label, state_seq) for ``turns``.

    About ``rate_pct`` percent of turns get a state up to 30 s before the
    turn, a third of them exactly at it (the inclusive as-of bound). Every
    conversation also gets one leakage probe: a ``label_future`` state one
    hour after its last turn, which no turn may ever see.
    """
    rng = np.random.default_rng(seed + 1)
    pick = turns[rng.random(len(turns)) < rate_pct / 100.0]
    back = rng.integers(1, 30_000, len(pick)).astype("timedelta64[ms]")
    back[rng.random(len(pick)) < 1 / 3] = np.timedelta64(0, "ms")
    near = pd.DataFrame({
        "conv_id": pick["conv_id"].to_numpy(),
        "state_ts": pick["ts"].to_numpy() - back,
        "label": np.char.add("label_", rng.integers(0, 11, len(pick)).astype(str)),
    })
    last = turns.groupby("conv_id", sort=True)["ts"].max()
    future = pd.DataFrame({
        "conv_id": last.index.to_numpy(),
        "state_ts": last.to_numpy() + np.timedelta64(3600, "s"),
        "label": "label_future",
    })
    out = pd.concat([near, future], ignore_index=True)
    out["state_seq"] = np.arange(len(out), dtype=np.int64)
    return out


def _planted_root(ids: np.ndarray) -> np.ndarray:
    """Lowest id of each planted-copy chain (100 -> 10 -> 1)."""
    root = ids.copy()
    while True:
        m = (root % DUP_EVERY == 0) & (root > 0)
        if not m.any():
            return root
        root[m] //= DUP_EVERY


def docs(n_docs: int, seed: int, words: int = 40, boiler_pct: float = 2.0) -> pd.DataFrame:
    """Doc corpus (doc_id, text) of ``words`` random vocabulary words.

    Every ``DUP_EVERY``-th doc repeats the text of doc ``id // DUP_EVERY``
    (planted exact-duplicate groups). ``boiler_pct`` percent of the docs
    that no copy refers to share one boilerplate template and differ only
    in a final id word: a near-duplicate cluster that forms one hot bucket.
    """
    rng = np.random.default_rng(seed + 2)
    vocab = np.char.add("w", np.arange(VOCAB).astype(str))
    mat = rng.integers(0, VOCAB, (n_docs, words))
    ids = np.arange(n_docs, dtype=np.int64)
    root = _planted_root(ids)
    text = np.array([" ".join(r) for r in vocab[mat[root]]], dtype=object)
    # boilerplate only on docs no planted copy points at, so every planted
    # pair sits in a small bucket and must be found
    free = (ids * DUP_EVERY >= n_docs) & (root == ids)
    boiler = free & (rng.random(n_docs) < boiler_pct / 100.0)
    template = " ".join(vocab[rng.integers(0, VOCAB, words - 1)])
    text[boiler] = [f"{template} b{i}" for i in ids[boiler]]
    return pd.DataFrame({"doc_id": ids, "text": text})


def embeddings(n_vecs: int, seed: int, dims: int = 64) -> pd.DataFrame:
    """Embedding corpus (vec_id, embedding) uniform in [-1, 1)^dims. Every
    ``DUP_EVERY``-th vector is its chain root scaled by 1.001: a planted
    near-duplicate at cosine 1 that any LSH bucketing must co-locate."""
    rng = np.random.default_rng(seed + 3)
    vec = rng.uniform(-1.0, 1.0, (n_vecs, dims))
    ids = np.arange(n_vecs, dtype=np.int64)
    root = _planted_root(ids)
    planted = root != ids
    vec[planted] = vec[root[planted]] * 1.001
    return pd.DataFrame({"vec_id": ids, "embedding": list(vec)})


def planted_pairs(n: int) -> set[tuple[int, int]]:
    """(root, copy) id pairs the doc and embedding generators planted."""
    ids = np.arange(DUP_EVERY, n, DUP_EVERY)
    return set(zip(_planted_root(ids).tolist(), ids.tolist()))
