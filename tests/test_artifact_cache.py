"""The artifact cache (vector_db_service_spark/cache.py): snapshot and
restore, the missing-source rule, single-flight builds, the one temp
root with key-derived directories, and the guard that no module keeps a
private memo dict."""

from __future__ import annotations

import importlib
import os
import pkgutil
import shutil
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import vector_db_service_spark  # noqa: E402
from vector_db_service_spark import cache  # noqa: E402
from vector_db_service_spark.sources import tables  # noqa: E402

pytestmark = pytest.mark.smoke

NAMESPACES = {
    "schema", "row_count", "dim", "qvec", "grid_bounds", "stored",
    "cdc_tree", "mllib_km", "coarse", "dedup_labels", "allpairs", "bucketed",
    "resident",
}


def _copy_corpus(src: str, dst: str) -> str:
    os.makedirs(dst)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return dst


def _warm_every_namespace(spark, sf_dir: str, root: str) -> None:
    from vector_db_service_spark.operators import ann, dedup, grid, knn, relational, store

    tables.load(spark, sf_dir, "embeddings")
    tables.row_count(sf_dir, "embeddings")
    tables.embedding_dim(sf_dir)
    knn.query_vector_row(spark, sf_dir, 0)
    grid.bounds_cached(spark, sf_dir, None)
    knn.knn(spark, sf_dir, query_id=0, library=1)
    store.ensure_library(spark, sf_dir, 1, root=root)  # builds
    store.ensure_library(spark, sf_dir, 1, root=root)  # reads the stored stamp
    store.ensure_ivf_centroids(spark, sf_dir, root)
    store.grid_probe(spark, sf_dir, library=2, root=root)  # stored bounds
    store.ivf_probe(spark, sf_dir, root=root)  # stored centroids
    store.versioned_cdc_tree(spark, sf_dir)
    ann.mllib_km_centers(spark, sf_dir, 7)
    ann._coarse_centers(spark, sf_dir, 7)
    dedup.near_dup_labels_cached(spark, sf_dir)
    dedup.allpairs_cached(spark, sf_dir)
    relational._ensure_bucketed_tables(spark, sf_dir)


def _namespaces() -> set[str]:
    return {k[0] for k in cache.snapshot()}


def test_restore_empty_snapshot_then_refill(spark, sf_dir, tmp_path, drop_memos):
    root = str(tmp_path / "idx")
    _warm_every_namespace(spark, sf_dir, root)
    assert NAMESPACES <= _namespaces()
    cache.restore({})
    assert cache.snapshot() == {}
    _warm_every_namespace(spark, sf_dir, root)
    assert NAMESPACES <= _namespaces()


def test_missing_source_is_not_memoized(spark, tmp_path, drop_memos):
    missing = os.path.realpath(str(tmp_path / "absent.parquet"))
    calls = []
    for _ in range(2):
        assert cache.memo("test_missing", missing, (), lambda: calls.append(1) or 7) == 7
    assert len(calls) == 2
    assert "test_missing" not in _namespaces()

    with pytest.raises(Exception):
        tables.read_parquet(spark, missing)
    assert not [k for k in cache.snapshot() if k[0] == "schema" and k[1] == (missing,)]


def test_concurrent_misses_build_once(sf_dir, tmp_path, monkeypatch, drop_memos):
    d = _copy_corpus(sf_dir, str(tmp_path / "corpus"))
    calls = []
    real = tables._first_vector_dim

    def counting(path, column):
        calls.append(path)
        time.sleep(0.2)  # every other client arrives while this build runs
        return real(path, column)

    monkeypatch.setattr(tables, "_first_vector_dim", counting)
    start = threading.Barrier(8, timeout=30)
    results = [None] * 8

    def client(i: int) -> None:
        start.wait()
        results[i] = tables.embedding_dim(d)

    threads = [threading.Thread(target=client, args=(i,)) for i in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert len(calls) == 1
    assert results[0] and results == [results[0]] * 8


def test_different_keys_build_in_parallel(tmp_path, drop_memos):
    src = tmp_path / "src.parquet"
    src.write_bytes(b"x")
    both_inside = threading.Barrier(2, timeout=30)
    results = {}

    def build(tag: str):
        # blocks until the other key's build is running too: builds of
        # different keys that were serialized would break the barrier
        both_inside.wait()
        return tag

    def client(tag: str) -> None:
        results[tag] = cache.memo("test_parallel", str(src), (tag,), lambda: build(tag))

    threads = [threading.Thread(target=client, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=60)
    assert not any(t.is_alive() for t in threads)
    assert results == {"a": "a", "b": "b"}


def test_no_module_keeps_a_memo_dict():
    offenders = []
    for info in pkgutil.walk_packages(
        vector_db_service_spark.__path__, vector_db_service_spark.__name__ + "."
    ):
        mod = importlib.import_module(info.name)
        offenders += [
            f"{info.name}.{name}"
            for name, value in vars(mod).items()
            if name.endswith("_CACHE") and isinstance(value, dict)
        ]
    assert offenders == []


def test_cdc_tree_directories_do_not_leak(spark, sf_dir, tmp_path, drop_memos):
    """A harness's snapshot/restore re-runs rebuild the shared CDC tree in
    the same directory, and a rewritten corpus replaces the old tree."""
    import pyarrow.parquet as pq

    from tests.oracle_harness import compare, duckdb_con
    from vector_db_service_spark import entrypoints
    from vector_db_service_spark.operators import store

    d = _copy_corpus(sf_dir, str(tmp_path / "corpus"))
    trees = os.path.join(cache.root(), "cdc_tree")
    existing = set(os.listdir(trees)) if os.path.isdir(trees) else set()

    before = cache.snapshot()
    _, first = store.versioned_cdc_tree(spark, d)
    for _ in range(2):
        saved = cache.snapshot()
        cache.restore(before)
        _, again = store.versioned_cdc_tree(spark, d)
        cache.restore(saved)
        assert again == first
    assert set(os.listdir(trees)) - existing == {os.path.basename(first)}

    emb = os.path.join(d, "embeddings.parquet")
    table = pq.read_table(emb)
    os.remove(emb)
    pq.write_table(table, emb)
    _, rebuilt = store.versioned_cdc_tree(spark, d)
    assert rebuilt != first
    assert not os.path.exists(first)
    assert set(os.listdir(trees)) - existing == {os.path.basename(rebuilt)}

    name = "s19_store_time_travel"
    got = entrypoints.QUERIES[name](spark, d)
    assert compare(got, duckdb_con(d).execute(entrypoints.ORACLES[name]).fetchdf()) == []
