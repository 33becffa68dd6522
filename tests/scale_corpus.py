"""Seeded ~10× synthetic corpus for the scale-stress suite.

The driver fixtures top out at sf0.1 (5k docs / 5k vectors); the code
paths that only matter at 100 TB — the GEMM build-side slicer's
multi-slice outer loop, the distributed large-star/small-star
connected-components rounds, LSH recall at real candidate volumes —
need a corpus an order of magnitude past that to execute at all.  This
module builds one ONCE at a fixed /tmp path (marker-file idempotent,
fully seeded, schema-identical to the driver testdata) with KNOWN
planted structure so the stress tests can assert recall against ground
truth instead of against another implementation:

- 50,000 documents (30-80 tokens from a 2,500-word vocab + stopwords):
  * 1,000 planted near-duplicate pairs (copy + one appended token —
    distinct-token Jaccard n/(n+1) ≈ 0.97..0.99, shingle Jaccard
    (n-2)/(n-1), both far above the operators' thresholds)
  * 100 planted EXACT duplicate docs (verbatim copies)
- 20,000 embeddings (dim 64): 32 seeded Gaussian clusters (σ=0.1 —
  cluster-mate cosine ≈ 0.6, below the similarity thresholds) plus
  200 planted near-identical vector pairs (cosine ≈ 0.999).

The corpus is written once and then left alone, so its files keep
their sizes and mtimes and the persisted indexes built over it
(``cache.build_once`` keys on those) stay valid across pytest runs;
rewriting it makes them rebuild.
"""

from __future__ import annotations

import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SCALE_DIR = Path("/tmp/spark_graft_scale10x_v1")
SEED = 20260814

N_BASE = 48_900
N_NEAR_PAIRS = 1_000
N_EXACT_DUPS = 100
N_DOCS = N_BASE + N_NEAR_PAIRS + N_EXACT_DUPS  # 50,000

N_VECS_BASE = 19_800
N_VEC_PAIRS = 200
N_VECS = N_VECS_BASE + N_VEC_PAIRS  # 20,000
DIM = 64
N_CLUSTERS = 32
CLUSTER_NOISE = 0.1
PAIR_NOISE = 0.002

# 100x tier (VERDICT r6 task 9): one more order of magnitude, opt-in
# (tests/test_scale_100x.py).  Cluster count scales with n — the
# SemDeDup/IVF posture at 100 TB is vectors-per-cell ~constant, cells
# ∝ corpus — so the planted structure keeps the same local density.
SCALE100_DIR = Path("/tmp/spark_graft_scale100x_v1")
N_BASE_100 = 489_000
N_NEAR_PAIRS_100 = 10_000
N_EXACT_DUPS_100 = 1_000
N_VECS_BASE_100 = 198_000
N_VEC_PAIRS_100 = 2_000
N_CLUSTERS_100 = 320

STOPWORDS = ["the", "a", "of", "and", "to", "in"]
LANGS = ["en", "de", "fr", "es", "zh"]


def _build_documents(
    rng: np.random.Generator,
    out_dir: Path,
    n_base: int = N_BASE,
    n_near: int = N_NEAR_PAIRS,
    n_exact: int = N_EXACT_DUPS,
) -> dict:
    vocab = np.array([f"w{i}" for i in range(2500)] + STOPWORDS * 60)
    texts: list[str] = []
    lengths = rng.integers(30, 81, size=n_base)
    for n in lengths:
        texts.append(" ".join(rng.choice(vocab, size=int(n))))
    near_pairs: list[tuple[int, int]] = []
    # near-dup: source doc + ONE appended token (ids n_base..)
    for i in range(n_near):
        src = i  # base ids 0..n_near-1
        texts.append(texts[src] + " " + str(rng.choice(vocab)))
        near_pairs.append((src, n_base + i))
    exact_pairs: list[tuple[int, int]] = []
    for i in range(n_exact):
        src = 2000 + i
        texts.append(texts[src])
        exact_pairs.append((src, n_base + n_near + i))
    n_docs = n_base + n_near + n_exact
    doc_ids = np.arange(n_docs, dtype=np.int64)
    tbl = pa.table(
        {
            "doc_id": doc_ids,
            "text": texts,
            "lang": [LANGS[i % len(LANGS)] for i in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    pq.write_table(tbl, out_dir / "documents.parquet")
    return {"near_pairs": near_pairs, "exact_pairs": exact_pairs}


def _build_embeddings(
    rng: np.random.Generator,
    out_dir: Path,
    n_vecs_base: int = N_VECS_BASE,
    n_vec_pairs: int = N_VEC_PAIRS,
    n_clusters: int = N_CLUSTERS,
) -> dict:
    centers = rng.normal(size=(n_clusters, DIM))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    labels = rng.integers(0, n_clusters, size=n_vecs_base)
    vecs = centers[labels] + rng.normal(scale=CLUSTER_NOISE, size=(n_vecs_base, DIM))
    vec_pairs: list[tuple[int, int]] = []
    extra = np.empty((n_vec_pairs, DIM))
    extra_labels = np.empty(n_vec_pairs, dtype=np.int64)
    for i in range(n_vec_pairs):
        src = i * 7  # spread sources across clusters
        extra[i] = vecs[src] + rng.normal(scale=PAIR_NOISE, size=DIM)
        extra_labels[i] = labels[src]
        vec_pairs.append((src, n_vecs_base + i))
    allv = np.vstack([vecs, extra]).astype(np.float32)
    all_labels = np.concatenate([labels, extra_labels]).astype(np.int32)
    n_vecs = n_vecs_base + n_vec_pairs
    tbl = pa.table(
        {
            "vec_id": np.arange(n_vecs, dtype=np.int64),
            "embedding": pa.array(list(allv), type=pa.list_(pa.float32())),
            "label": all_labels,
        }
    )
    pq.write_table(tbl, out_dir / "embeddings.parquet")
    return {"vec_pairs": vec_pairs}


def build_scale_corpus() -> dict:
    """Build (idempotent) and return the planted ground truth."""
    meta_path = SCALE_DIR / "planted.json"
    if meta_path.exists():
        return json.loads(meta_path.read_text())
    SCALE_DIR.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(SEED)
    meta = _build_documents(rng, SCALE_DIR)
    meta.update(_build_embeddings(rng, SCALE_DIR))
    meta_path.write_text(json.dumps(meta))
    return json.loads(meta_path.read_text())


def build_scale100_corpus() -> dict:
    """The opt-in 100x corpus (500k docs / 200k vectors, cluster count
    scaled 10x so vectors-per-cluster stays constant)."""
    meta_path = SCALE100_DIR / "planted.json"
    if meta_path.exists():
        return json.loads(meta_path.read_text())
    SCALE100_DIR.mkdir(parents=True, exist_ok=True)
    rng = np.random.default_rng(SEED + 1)
    meta = _build_documents(
        rng, SCALE100_DIR, N_BASE_100, N_NEAR_PAIRS_100, N_EXACT_DUPS_100
    )
    meta.update(
        _build_embeddings(
            rng, SCALE100_DIR, N_VECS_BASE_100, N_VEC_PAIRS_100, N_CLUSTERS_100
        )
    )
    meta_path.write_text(json.dumps(meta))
    return json.loads(meta_path.read_text())
