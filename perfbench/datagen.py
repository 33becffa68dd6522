"""Seeded benchmark inputs, written as parquet in the testdata schemas.

The same seed gives byte-identical tables.  Shapes are fixed by
construction so that the row counts of the ingest queries do not depend
on the seed (every hour holds every event type, every user appears,
every IVF cell receives vectors); values, order and vocabulary draws do.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "error", "purchase", "search", "view")
EVENT_HOURS = 72
EVENTS_PER_HOUR_TYPE = 40  # 72 h x 5 types x 40 = 14,400 events
N_USERS = 150
EMB_DIM = 64
N_VECTORS = 2000
N_CELLS = 16  # the IVF coarse quantizer's cell count
VOCAB_SIZE = 400


def _rng(seed: int, stream: int) -> np.random.Generator:
    """Independent generator per table; any integer seed is accepted."""
    return np.random.default_rng([seed % 2**63, stream])


def vocabulary(seed: int) -> list[str]:
    """Distinct pseudo-words built from seeded syllables."""
    rng = _rng(seed, 1)
    syll = ["ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo", "ze", "ba",
            "di", "fu", "ga", "he", "jo", "pu", "qi", "wa", "xe", "yu"]
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < VOCAB_SIZE:
        w = "".join(syll[i] for i in rng.integers(0, len(syll), rng.integers(2, 4)))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def documents(seed: int, n_docs: int) -> pa.Table:
    rng = _rng(seed, 2)
    vocab = vocabulary(seed)
    # Zipf-like word frequencies, like natural text
    p = 1.0 / np.arange(1, len(vocab) + 1)
    p /= p.sum()
    texts = []
    for _ in range(n_docs):
        idx = rng.choice(len(vocab), size=int(rng.integers(8, 48)), p=p)
        texts.append(" ".join(vocab[i] for i in idx))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(["en", "de", "fr", "zh"], n_docs), pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 8, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def prompts(seed: int, n: int) -> list[str]:
    """Distinct prompts of 3-8 words drawn from the corpus vocabulary."""
    rng = _rng(seed, 3)
    vocab = vocabulary(seed)
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < n:
        words = rng.choice(len(vocab), size=int(rng.integers(3, 9)), replace=False)
        text = " ".join(vocab[i] for i in words)
        if text not in seen:
            seen.add(text)
            out.append(text)
    return out


def events(seed: int, n_hours: int = EVENT_HOURS) -> pa.Table:
    rng = _rng(seed, 4)
    per_cell = EVENTS_PER_HOUR_TYPE
    hours = np.repeat(np.arange(n_hours), len(EVENT_TYPES) * per_cell)
    types = np.tile(np.repeat(np.arange(len(EVENT_TYPES)), per_cell), n_hours)
    n = len(hours)
    base = dt.datetime(2024, 1, 1)
    micros = hours * 3_600_000_000 + rng.integers(0, 3_600_000_000, n)
    order = np.argsort(micros, kind="stable")
    users = np.concatenate([np.arange(N_USERS), rng.integers(0, N_USERS, n - N_USERS)])
    rng.shuffle(users)
    ts = [base + dt.timedelta(microseconds=int(m)) for m in micros[order]]
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array([EVENT_TYPES[t] for t in types[order]], pa.string()),
        "value": pa.array(np.round(rng.uniform(1.0, 500.0, n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def embeddings(seed: int) -> pa.Table:
    """Isotropic unit vectors.  Unlike tight clusters, they leave no IVF
    cell empty after k-means, so the per-cell row count is the same
    ``N_CELLS`` for every seed."""
    rng = _rng(seed, 5)
    x = rng.standard_normal((N_VECTORS, EMB_DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECTORS), pa.int64()),
        "embedding": pa.array(list(x.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, N_CELLS, N_VECTORS), pa.int32()),
    })


def write_inputs(out_dir: str, tables: dict[str, pa.Table]) -> None:
    """Write ``{name: table}`` as ``<out_dir>/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
