"""Resident search state (operators/knn.py `resident`): the derived
searches scan an in-memory covering copy of their scope. Pinned here:
an in-place rewrite of the data is served fresh (also after a cache
restore forgot the copy), a superseded or restored-away copy is
released, a plain `load()` keeps its own plan, concurrent misses build
once, and a search, cold or warm, is one Spark job that fills its
copy."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark import StorageLevel  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from tests.oracle_harness import compare  # noqa: E402
from vector_db_service_spark import oracles  # noqa: E402
from vector_db_service_spark.operators import grid as grid_ops  # noqa: E402
from vector_db_service_spark.operators import knn as knn_ops  # noqa: E402
from vector_db_service_spark.operators import lsh as lsh_ops  # noqa: E402
from vector_db_service_spark.plans.inspect import explain_str  # noqa: E402
from vector_db_service_spark.sources.tables import load  # noqa: E402

pytestmark = pytest.mark.smoke

K = 10


def _copy_corpus(src: str, dst: str) -> str:
    os.makedirs(dst)
    for name in os.listdir(src):
        shutil.copyfile(os.path.join(src, name), os.path.join(dst, name))
    return dst


def _write_corpus(d: str) -> str:
    """A 300-row, 4-dimensional corpus of 3 libraries: at 4 dimensions
    the grid reaches the full hypercube around the query, so every
    search kind returns k rows whose scores the rewrite below changes."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d)
    rng = np.random.default_rng(17)
    vecs = rng.normal(0, 1, (300, 4)).astype("float32")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(300), pa.int64()),
        "embedding": pa.array([list(v) for v in vecs], pa.list_(pa.float32())),
        "label": pa.array(np.arange(300) % 3, pa.int32()),
    }), os.path.join(d, "embeddings.parquet"))
    return d


def _double_in_place(d: str) -> None:
    """Rewrite embeddings.parquet at the same path with every vector
    doubled, as an external writer would (pyarrow, not Spark)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    path = os.path.join(d, "embeddings.parquet")
    table = pq.read_table(path)
    emb = table.column("embedding").combine_chunks()
    doubled = pa.ListArray.from_arrays(
        emb.offsets, pc.multiply(emb.flatten(), pa.scalar(2.0, emb.type.value_type)),
        mask=emb.is_null(),
    )
    i = table.schema.get_field_index("embedding")
    time.sleep(0.01)  # a later mtime, whatever the filesystem's clock step
    pq.write_table(table.set_column(i, table.field(i), doubled), path)


def _searches(spark, d: str, q: int, library: int, dim: int) -> dict:
    """(search, oracle SQL) of every derived search kind; the metrics
    see the doubling (dot product and euclidean do, cosine would not)."""
    planes = lsh_ops.hyperplanes(dim)
    return {
        "flat": (knn_ops.knn(spark, d, query_id=q, k=K, metric="dot_product"),
                 oracles.knn_sql(q, K, "dot_product")),
        "library": (knn_ops.knn(spark, d, query_id=q, k=K, metric="dot_product",
                                library=library),
                    oracles.knn_sql(q, K, "dot_product", library=library)),
        "lsh": (lsh_ops.search(spark, d, query_id=q, k=K, metric="dot_product",
                               library=library),
                oracles.lsh_search_sql(planes, q, K, "dot_product", library=library)),
        "grid": (grid_ops.search(spark, d, query_id=q, k=K, metric="euclidean",
                                 library=library),
                 oracles.grid_search_sql(q, K, "euclidean", library=library)),
    }


def _assert_exact(spark, d: str, q: int, library: int, dim: int) -> dict:
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{d}/embeddings.parquet'")
    try:
        got = {}
        for kind, (df, sql) in _searches(spark, d, q, library, dim).items():
            assert compare(df, con.execute(sql).df()) == [], kind
            got[kind] = sorted(tuple(r) for r in df.collect())
        return got
    finally:
        con.close()


@pytest.mark.parametrize("forget", [False, True], ids=["memo", "memo-forgotten"])
def test_inplace_rewrite_is_served_fresh(spark, tmp_path, drop_memos, forget):
    """Every derived search kind, warm, then the embeddings rewritten in
    place with every vector doubled: each search equals the DuckDB
    oracle over the NEW data. A superseded copy must be released before
    its rebuild, or Spark's CacheManager matches the new read to it by
    root path. With `forget` a harness restore has dropped the memo
    entries first, so it is the restore that must release them."""
    d = _write_corpus(str(tmp_path / "corpus"))
    q = 4
    qvec, library = knn_ops.query_vector_row(spark, d, q)
    before = _assert_exact(spark, d, q, library, len(qvec))
    _double_in_place(d)
    if forget:
        drop_memos("resident")
    after = _assert_exact(spark, d, q, library, len(qvec))
    for kind in ("flat", "library", "lsh", "grid"):
        assert len(after[kind]) == K and after[kind] != before[kind], kind


def _blocks(df) -> int:
    """Id of the RDD that holds the cached frame's blocks."""
    manager = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = manager.lookupCachedData(df._jdf).get()
    return cached.cachedRepresentation().cacheBuilder().cachedColumnBuffers().id()


def test_superseded_copy_is_released(spark, tmp_path):
    """A changed signature unpersists the old resident copy before the
    new one is cached. (The two copies' plans are equal, as Spark
    compares file reads by root path, so the old frame's storageLevel
    reads the new copy's: the check is on the blocks.)"""
    from vector_db_service_spark.benchutil import persisted_rdds

    d = _write_corpus(str(tmp_path / "corpus"))
    knn_ops.knn(spark, d, query_id=3, k=K).collect()
    old = knn_ops.resident(spark, d)
    old_blocks = _blocks(old)
    assert old_blocks in persisted_rdds(spark)
    _double_in_place(d)
    knn_ops.knn(spark, d, query_id=3, k=K).collect()
    new = knn_ops.resident(spark, d)
    assert new is not old and not old.is_cached
    assert old_blocks not in persisted_rdds(spark)
    assert _blocks(new) in persisted_rdds(spark)


def test_restore_releases_the_copies_it_drops(spark, tmp_path):
    """A harness replay (snapshot, query, restore) starts cold: the
    restore unpersists the resident copy the query built, and a copy
    the snapshot holds but an earlier restore released is rebuilt on
    its next use."""
    from vector_db_service_spark import cache

    d = _write_corpus(str(tmp_path / "corpus"))
    before = cache.snapshot()
    want = knn_ops.knn(spark, d, query_id=3, k=K).collect()
    first = knn_ops.resident(spark, d)
    after_first = cache.snapshot()
    cache.restore(before)
    assert first.storageLevel == StorageLevel.NONE
    assert knn_ops.knn(spark, d, query_id=3, k=K).collect() == want
    replay = knn_ops.resident(spark, d)
    assert replay is not first and replay.storageLevel != StorageLevel.NONE
    cache.restore(after_first)  # brings back the released first copy
    assert replay.storageLevel == StorageLevel.NONE
    again = knn_ops.resident(spark, d)
    assert again is not first and again.storageLevel != StorageLevel.NONE
    assert knn_ops.knn(spark, d, query_id=3, k=K).collect() == want


def test_plain_load_keeps_its_plan_after_a_search(spark, sf_dir):
    """After a library search filled its resident copy, a plain
    load().filter() of the same library still plans its own parquet
    scan with the filter pushed down: no resident plan stands in for it
    (each carries the derived `sq`)."""
    knn_ops.knn(spark, sf_dir, query_id=0, k=K, library=3).collect()
    lsh_ops.search(spark, sf_dir, query_id=0, k=K, library=3).collect()
    df = load(spark, sf_dir, "embeddings").filter(F.col("label") == 3).select("vec_id")
    plan = explain_str(df)
    assert "PushedFilters" in plan
    assert "EqualTo(label,3)" in plan.replace(" ", "")
    assert "InMemoryRelation" not in plan and "InMemoryTableScan" not in plan
    resident = explain_str(knn_ops.knn(spark, sf_dir, query_id=0, k=K, library=3))
    assert "InMemoryTableScan" in resident


def test_concurrent_misses_build_once(spark, sf_dir, tmp_path, monkeypatch):
    """Eight threads missing one resident key build it once and share
    the one frame."""
    d = _copy_corpus(sf_dir, str(tmp_path / "corpus"))
    calls = []
    real = knn_ops.covering_rows

    def counting(emb, index=None):
        calls.append(index)
        time.sleep(0.2)  # every other client arrives while this build runs
        return real(emb, index)

    monkeypatch.setattr(knn_ops, "covering_rows", counting)
    start = threading.Barrier(8, timeout=30)
    results = [None] * 8

    def client(i: int) -> None:
        start.wait()
        results[i] = knn_ops.resident(spark, d, 2)

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
    assert all(r is results[0] for r in results)


def _jobs(spark, build) -> tuple[list, int]:
    group = f"resident-jobs-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "resident")
    try:
        rows = build().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(list(sc.statusTracker().getJobIdsForGroup(group)))


def _filled(df) -> bool:
    """Whether the cached frame holds all its blocks."""
    manager = df.sparkSession._jsparkSession.sharedState().cacheManager()
    cached = manager.lookupCachedData(df._jdf)
    return bool(cached.isDefined()
                and cached.get().cachedRepresentation().cacheBuilder().isCachedColumnBuffersLoaded())


@pytest.mark.parametrize("op", ["knn", "lsh", "grid"])
def test_library_search_jobs_cold_and_warm(spark, sf_dir, tmp_path, op):
    """A library search whose query is in the library is exactly 1 Spark
    job, cold (it fills its resident copy in that job: grid's carries
    its cells) and warm."""
    d = _copy_corpus(sf_dir, str(tmp_path / "corpus"))
    qvec, library = knn_ops.query_vector_row(spark, d, 11)
    ids = [r["vec_id"] for r in load(spark, d, "embeddings")
           .filter(F.col("label") == library).select("vec_id").limit(3).collect()]
    mins, maxs = grid_ops.bounds_cached(spark, d, library)
    search, column = {
        "knn": (lambda q: knn_ops.knn(spark, d, query_id=q, k=K, library=library), None),
        "lsh": (lambda q: lsh_ops.search(spark, d, query_id=q, k=K, library=library),
                lsh_ops.covering_column(lsh_ops.hyperplanes(len(qvec)))),
        "grid": (lambda q: grid_ops.search(spark, d, query_id=q, k=K, library=library),
                 grid_ops.covering_column(mins, maxs)),
    }[op]
    knn_ops.query_vector_rows(spark, d, ids)
    assert not _filled(knn_ops.resident(spark, d, library, column))
    rows, cold = _jobs(spark, lambda: search(ids[0]))
    assert ids[0] in {r["vec_id"] for r in rows}
    assert cold == 1, cold
    assert _filled(knn_ops.resident(spark, d, library, column))
    for q in ids[1:]:
        rows, warm = _jobs(spark, lambda: search(q))
        assert q in {r["vec_id"] for r in rows}
        assert warm == 1, (q, warm)


def test_release_checkpoints_keeps_resident_copies(spark, tmp_path):
    """benchutil.release_checkpoints, as bench.py runs it around each
    query (own_checkpoints), releases the checkpoints that query pinned
    and nothing else: a checkpoint pinned before the query stays
    readable, and a resident copy filled inside the query keeps its
    cached blocks for the next one."""
    from vector_db_service_spark.benchutil import own_checkpoints, persisted_rdds

    d = _write_corpus(str(tmp_path / "corpus"))
    earlier = spark.range(10).localCheckpoint(eager=True)
    before = persisted_rdds(spark)
    with own_checkpoints(spark):
        spark.range(20).localCheckpoint(eager=True)
        knn_ops.knn(spark, d, query_id=4, k=K).collect()
        pinned = persisted_rdds(spark) - before
    after = persisted_rdds(spark)
    assert before <= after
    assert len(pinned) == 2  # the query's checkpoint and the resident copy's buffers
    assert len(pinned & after) == 1
    assert earlier.count() == 10
    assert knn_ops.resident(spark, d).storageLevel != StorageLevel.NONE
