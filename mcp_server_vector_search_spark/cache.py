"""Tracked scratch persistence.

Operators persist() scratch subtrees (signature tables, exploded
shingles, edge lists) that are read several times within ONE query's
plan.  In a long-lived session running many registered queries those
cached blocks would otherwise accumulate in executor storage memory
(ADVICE r6).  ``scratch_persist`` records every handle; callers that
own a materialization boundary (bench.py's per-query loop, the engine
facade, tests) call ``release_scratch()`` once the result is collected.

Unpersisting is deliberately NOT done inside the query functions —
they return lazy DataFrames, and unpersisting before the driver
materializes would silently drop the reuse the persist exists for.

``build_once`` is the other half: persisted indexes that outlive a
query, built once and then only read — the reference likewise creates
its index as DDL once (README.md:72-79) and reads it per query
(server.py:87).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel

_SCRATCH: list[DataFrame] = []


def scratch_persist(df: DataFrame, level: StorageLevel | None = None) -> DataFrame:
    """persist() with handle tracking; returns the same DataFrame."""
    out = df.persist(level) if level is not None else df.persist()
    _SCRATCH.append(out)
    return out


def release_scratch() -> int:
    """Unpersist every tracked scratch DataFrame (blocking=False).
    Returns how many handles were released.  Safe to call repeatedly
    and with stopped sessions (errors are swallowed — the JVM frees the
    blocks on session stop anyway)."""
    n = 0
    while _SCRATCH:
        df = _SCRATCH.pop()
        try:
            df.unpersist()
            n += 1
        except Exception:  # noqa: BLE001 — session may be gone
            pass
    return n


# ---------------------------------------------------------------------------
# Persisted-index store: one entry per STORE_ROOT/<family>/<key>/
# ---------------------------------------------------------------------------

STORE_ROOT = Path(__file__).resolve().parents[1] / ".cache"
STORE_VERSION = 1  # bump when shared build math changes: every family rebuilds


def _fingerprint(sf_dir: str, tables) -> list:
    """(name relative to ``sf_dir``, size, mtime_ns) of every file under
    each ``{sf_dir}/{table}.parquet`` (a file or a directory of parts),
    from ``os.stat`` alone — no Spark job."""
    out = []
    for table in tables:
        top = os.path.join(sf_dir, f"{table}.parquet")
        walk = [os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs]
        for p in sorted(walk or [top]):
            st = os.stat(p)
            out.append([os.path.relpath(p, sf_dir), st.st_size, st.st_mtime_ns])
    return out


def build_once(
    family: str, sf_dir: str, tables, params: dict, build: Callable[[Path], dict]
) -> tuple[Path, dict]:
    """Return ``(entry_dir, meta)`` for one persisted index, building it
    on a miss.

    The key covers ``family``, the JSON-able ``params``,
    ``STORE_VERSION`` and the fingerprint of ``tables`` — not the
    ``sf_dir`` path, so data rewritten in place gets a new entry.  A
    miss calls ``build(work_dir)`` on a fresh directory unique to the
    call; it writes the index there and returns the metadata, which
    lands in ``meta.json`` last, and one ``os.rename`` publishes the
    directory.  A build that raises leaves nothing behind; a builder
    that loses the rename race drops its copy and returns the winner's."""
    blob = json.dumps(
        [STORE_VERSION, family, params, _fingerprint(sf_dir, tables)], sort_keys=True
    )
    entry = STORE_ROOT / family / hashlib.sha256(blob.encode()).hexdigest()[:16]
    meta_file = entry / "meta.json"
    if meta_file.exists():
        return entry, json.loads(meta_file.read_text())
    entry.parent.mkdir(parents=True, exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f".{entry.name}.{os.getpid()}.", dir=entry.parent))
    try:
        text = json.dumps(build(work))
        (work / "meta.json").write_text(text)
        try:
            os.rename(work, entry)
        except OSError:
            if not meta_file.exists():
                raise
            shutil.rmtree(work)  # lost the race: the published entry wins
            text = meta_file.read_text()
    except BaseException:
        shutil.rmtree(work, ignore_errors=True)
        raise
    return entry, json.loads(text)
