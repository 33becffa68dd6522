"""Persisted-index store (``cache.build_once``): entries are keyed on
input content rather than the ``sf_dir`` path, and published by one
atomic rename — stale data, an interrupted build and a lost publish
race must each leave a store that later calls read correctly."""

from __future__ import annotations

import shutil

import pyarrow.parquet as pq
import pytest

from mcp_server_vector_search_spark import cache
from mcp_server_vector_search_spark.operators import ann

from .conftest import SF_SMOKE


@pytest.fixture
def store(tmp_path, monkeypatch):
    """An empty store root private to one test."""
    root = tmp_path / "store"
    monkeypatch.setattr(cache, "STORE_ROOT", root)
    return root


def _sf_dir(tmp_path, table="embeddings"):
    sf = tmp_path / "sf"
    sf.mkdir()
    shutil.copy(f"{SF_SMOKE}/{table}.parquet", sf / f"{table}.parquet")
    return sf


def test_rewritten_table_at_same_path_rebuilds(spark, store, tmp_path):
    """Data regenerated at the same path must get a new index, not the
    entry built from the old files."""
    sf = _sf_dir(tmp_path)
    idx, _ = ann.load_or_build_ivf_index(spark, str(sf))
    old_ids = {r.vec_id for r in idx.select("vec_id").collect()}

    table = pq.read_table(sf / "embeddings.parquet")
    half = table.slice(0, table.num_rows // 2)
    pq.write_table(half, sf / "embeddings.parquet")

    idx, _ = ann.load_or_build_ivf_index(spark, str(sf))
    new_ids = {r.vec_id for r in idx.select("vec_id").collect()}
    assert new_ids == set(half.column("vec_id").to_pylist())
    assert new_ids != old_ids
    assert len(list((store / "ivf").iterdir())) == 2


def test_interrupted_build_leaves_nothing(store, tmp_path):
    """A build that raises part-way publishes nothing and leaves no
    partial directory; the next call builds cleanly."""
    sf = _sf_dir(tmp_path)

    def broken(work):
        (work / "data").mkdir()
        (work / "data" / "part-0").write_text("half")
        raise RuntimeError("build died")

    with pytest.raises(RuntimeError, match="build died"):
        cache.build_once("fam", str(sf), ["embeddings"], {"p": 1}, broken)
    assert list((store / "fam").iterdir()) == []

    calls = []

    def good(work):
        calls.append(work)
        (work / "data").mkdir()
        return {"ok": True}

    entry, meta = cache.build_once("fam", str(sf), ["embeddings"], {"p": 1}, good)
    assert meta == {"ok": True} and (entry / "data").is_dir()
    assert list((store / "fam").iterdir()) == [entry]
    # a hit: the build is not called again
    assert cache.build_once("fam", str(sf), ["embeddings"], {"p": 1}, good) == (
        entry, meta
    )
    assert len(calls) == 1


def test_lost_race_uses_winner(store, tmp_path):
    """Two builders of one key: the one that publishes second drops its
    copy and both return the published entry."""
    sf = _sf_dir(tmp_path)
    args = ("fam", str(sf), ["embeddings"], {"p": 1})
    inner = []

    def winner(work):
        return {"by": "winner"}

    def loser(work):
        # a concurrent builder publishes while this one is still building
        inner.append(cache.build_once(*args, winner))
        return {"by": "loser"}

    entry, meta = cache.build_once(*args, loser)
    assert (entry, meta) == inner[0]
    assert meta == {"by": "winner"}
    assert list((store / "fam").iterdir()) == [entry]


def test_key_covers_params_not_path(store, tmp_path):
    """Same bytes at another path share the entry; other params miss."""
    sf = _sf_dir(tmp_path)
    other = tmp_path / "other"
    shutil.copytree(sf, other)  # copytree keeps mtimes (copy2)
    e1, _ = cache.build_once("fam", str(sf), ["embeddings"], {"p": 1}, lambda w: {})
    e2, _ = cache.build_once("fam", str(other), ["embeddings"], {"p": 1}, lambda w: {})
    e3, _ = cache.build_once("fam", str(sf), ["embeddings"], {"p": 2}, lambda w: {})
    assert e1 == e2 and e1 != e3
