"""Per-search fixed costs: the driver-side query-vector lookup, the
schema-memoized table loads, the single-parse LSH candidate predicate,
and the one-scan grid prefix — each pinned to the result of the form it
replaced, plus a Spark-job budget per search."""

from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vector_db_service_spark import cache  # noqa: E402
from vector_db_service_spark.operators import grid as grid_ops  # noqa: E402
from vector_db_service_spark.operators import knn as knn_ops  # noqa: E402
from vector_db_service_spark.operators import lsh as lsh_ops  # noqa: E402
from vector_db_service_spark.plans.inspect import explain_str  # noqa: E402
from vector_db_service_spark.sources import tables  # noqa: E402
from vector_db_service_spark.sources.tables import load  # noqa: E402

pytestmark = pytest.mark.smoke


@pytest.fixture
def cold_qvec_memo(drop_memos):
    """Empty query-vector memo for the test, restored afterwards; calling
    it empties the memo again."""
    drop_memos("qvec")
    return lambda: drop_memos("qvec")


def _spark_rows(spark, sf_dir: str) -> dict[int, tuple[list[float], int | None]]:
    rows = load(spark, sf_dir, "embeddings").select("vec_id", "embedding", "label").collect()
    return {
        int(r["vec_id"]): (
            list(r["embedding"]),
            int(r["label"]) if r["label"] is not None else None,
        )
        for r in rows
    }


def _assert_lookup_matches_spark(spark, sf_dir: str, clear_qvec_memo) -> None:
    want = _spark_rows(spark, sf_dir)
    ids = sorted(want)
    sample = ids[:3] + ids[len(ids) // 2: len(ids) // 2 + 3] + ids[-3:]
    for q in sample:
        assert knn_ops.query_vector_row(spark, sf_dir, q) == want[q], q
    clear_qvec_memo()
    assert knn_ops.query_vector_rows(spark, sf_dir, ids) == want
    missing = max(ids) + 1000
    with pytest.raises(KeyError):
        knn_ops.query_vector_row(spark, sf_dir, missing)
    with pytest.raises(KeyError):
        knn_ops.query_vector_rows(spark, sf_dir, [ids[0], missing])


def test_driver_lookup_matches_spark_read(spark, sf_dir, cold_qvec_memo):
    _assert_lookup_matches_spark(spark, sf_dir, cold_qvec_memo)


def test_driver_lookup_null_label(spark, sf_dir, tmp_path, cold_qvec_memo):
    from tests.nulls_fixture import build_nulls_fixture

    d = build_nulls_fixture(str(tmp_path / "nulls"), sf_dir)
    want = _spark_rows(spark, d)
    assert any(label is None for _, label in want.values())
    null_id = next(q for q, (_, label) in want.items() if label is None)
    assert knn_ops.query_vector_row(spark, d, null_id)[1] is None
    _assert_lookup_matches_spark(spark, d, cold_qvec_memo)


def test_driver_lookup_hive_partitioned(spark, sf_dir, tmp_path, cold_qvec_memo):
    """A `label=<n>/` layout, as Spark's partitionBy writes it (a NULL
    label lands in Spark's default partition)."""
    from tests.nulls_fixture import build_nulls_fixture

    src = build_nulls_fixture(str(tmp_path / "nulls"), sf_dir)
    d = str(tmp_path / "hive")
    load(spark, src, "embeddings").write.partitionBy("label").parquet(
        os.path.join(d, "embeddings.parquet")
    )
    assert any(n.startswith("label=") for n in os.listdir(os.path.join(d, "embeddings.parquet")))
    assert _spark_rows(spark, d) == _spark_rows(spark, src)
    _assert_lookup_matches_spark(spark, d, cold_qvec_memo)


def test_load_sees_rewrite_with_extra_column(spark, tmp_path):
    """The schema memo is keyed by file identity: rewriting a table with
    an extra column makes the next load infer the new schema, and an
    unchanged table is opened with no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = str(tmp_path)
    path = os.path.join(d, "region.parquet")
    pq.write_table(pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"]}), path)
    assert load(spark, d, "region").columns == ["r_regionkey", "r_name"]
    entry = cache.snapshot()[("schema", (os.path.realpath(path),), ())]
    assert entry[0] == (tables.path_signature(path),)

    group = f"schema-memo-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "memoized load")
    try:
        df = load(spark, d, "region")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert df.columns == ["r_regionkey", "r_name"]

    pq.write_table(
        pa.table({"r_regionkey": [0, 1], "r_name": ["a", "b"], "r_comment": ["x", "y"]}),
        path,
    )
    df = load(spark, d, "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(r["r_comment"] for r in df.collect()) == ["x", "y"]


def test_lsh_candidates_match_column_form(spark, sf_dir):
    """The single-parse OR-chain, and the bucket-key predicate over the
    covering rows, select exactly the rows the Column-form predicate (one
    sim.dot per plane, joined by `|`) selects."""
    emb = load(spark, sf_dir, "embeddings")
    for q in (0, 7, 123):
        qvec = knn_ops.query_vector(spark, sf_dir, q)
        planes = lsh_ops.hyperplanes(len(qvec))
        match = None
        for plane, bit in zip(planes, lsh_ops.query_bits(qvec, planes)):
            side = lsh_ops._plane_dot(F.col("embedding"), plane) >= F.lit(0.0)
            agree = side if bit == 1 else ~side
            match = agree if match is None else (match | agree)
        want = {r["vec_id"] for r in emb.filter(match).select("vec_id").collect()}
        got = {
            r["vec_id"]
            for r in lsh_ops.candidates(emb, qvec, planes).select("vec_id").collect()
        }
        assert got == want, q
        rows = knn_ops.covering_rows(emb, lsh_ops.covering_column(planes))
        keyed = {
            r["vec_id"]
            for r in lsh_ops.bucket_candidates(rows, qvec, planes).select("vec_id").collect()
        }
        assert keyed == want, q


def test_grid_search_plan_scans_once(spark, sf_dir, monkeypatch):
    """The prefix grid.search collects reads the embeddings once: the
    stopping radius comes from the bounded prefix, not from a second
    count branch cross-joined back."""
    collected = []
    real = grid_ops.stop_radius_prefix
    monkeypatch.setattr(grid_ops, "stop_radius_prefix",
                        lambda *a: collected.append(real(*a)) or collected[-1])
    _, label = knn_ops.query_vector_row(spark, sf_dir, 0)
    for library in (None, label):
        grid_ops.search(spark, sf_dir, query_id=0, k=10, library=library)
        plan = explain_str(collected.pop(), "simple")
        scans = [ln for ln in plan.splitlines()
                 if "FileScan parquet" in ln and "embeddings" in ln]
        assert len(scans) == 1, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "CartesianProduct" not in plan, plan


JOB_BOUNDS = {
    "knn.flat": 2,
    "knn.library": 2,
    # the probe collects its top-k (LSH) or its bounded stopping-radius
    # prefix (grid) in one job and finishes on the driver
    "lsh.library": 1,
    "grid.library": 1,
    # warm stored-index probes: the stored rows cover the probe, and
    # probe metadata (grid bounds, IVF centroids) is memoized
    "store.lsh_probe": 1,
    "store.grid_probe": 1,
    "store.ivf_probe": 1,
}


@pytest.mark.parametrize("op", list(JOB_BOUNDS))
def test_search_runs_at_most_two_jobs(spark, sf_dir, op, cold_qvec_memo, tmp_path):
    """Built and collected with its query vector NOT memoized, a search
    runs at most its JOB_BOUNDS Spark jobs: at most 2 for a k-NN
    search, 1 for LSH, grid and a warm stored-index probe. Table schemas,
    grid bounds and the store are warm, as a serving process keeps
    them."""
    from vector_db_service_spark.operators import store

    q = 11
    _, label = knn_ops.query_vector_row(spark, sf_dir, q)
    root = str(tmp_path / "idx")
    build = {
        "knn.flat": lambda: knn_ops.knn(spark, sf_dir, query_id=q, k=10, metric="cosine"),
        "knn.library": lambda: knn_ops.knn(spark, sf_dir, query_id=q, k=10, library=label),
        "lsh.library": lambda: lsh_ops.search(spark, sf_dir, query_id=q, k=10, library=label),
        "grid.library": lambda: grid_ops.search(spark, sf_dir, query_id=q, k=10, library=label),
        "store.lsh_probe": lambda: store.lsh_probe(
            spark, sf_dir, library=label, query_id=q, k=10, root=root),
        "store.grid_probe": lambda: store.grid_probe(
            spark, sf_dir, library=label, query_id=q, k=10, root=root),
        "store.ivf_probe": lambda: store.ivf_probe(
            spark, sf_dir, query_id=q, k=10, nprobe=2, root=root),
    }[op]
    if op.startswith("store."):
        # the first probe builds the store, the second reads its
        # registry and probe metadata into the memo
        for _ in range(2):
            build().collect()
    cold_qvec_memo()
    load(spark, sf_dir, "embeddings")
    grid_ops.bounds_cached(spark, sf_dir, label)
    group = f"search-jobs-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    sc.setJobGroup(group, op)
    try:
        rows = build().collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    if op != "store.ivf_probe":  # IVF need not probe the query's own list
        assert q in {r["vec_id"] for r in rows}
    jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert 1 <= len(jobs) <= JOB_BOUNDS[op], (op, jobs)


@pytest.mark.parametrize("metric", ["cosine", "dot_product", "euclidean", "manhattan"])
def test_text_kernel_builds_in_few_py4j_commands(spark, metric, monkeypatch):
    """A kernel over a column name and a vector_sql literal is one parsed
    string: building it sends at most 5 py4j commands, however long the
    vector (the Column-API form sends one per expression node, ~100-400
    at 64 dims)."""
    from vector_db_service_spark.functions import similarity as sim

    from py4j import protocol

    q = [float(i) / 7.0 for i in range(64)]
    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command
    sent = []

    def counting(command, *args, **kwargs):
        # object deletes from Python's garbage collector are not the
        # build's round trips, and they arrive whenever a cycle runs
        if not command.startswith(protocol.MEMORY_COMMAND_NAME):
            sent.append(command)
        return real(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting)
    sim.score(metric, "embedding", sim.vector_sql(q))
    monkeypatch.undo()
    assert 1 <= len(sent) <= 5, (metric, len(sent))


def _wide_bounds(emb, dim: int) -> tuple[list, list]:
    """The per-dimension bounds as grid.bounds computed them before its
    posexplode + GROUP BY form: one wide aggregate of 2*dim columns."""
    e = F.col("embedding")
    row = emb.agg(
        F.array(*[F.min(F.element_at(e, i + 1).cast("double")) for i in range(dim)]).alias("mins"),
        F.array(*[F.max(F.element_at(e, i + 1).cast("double")) for i in range(dim)]).alias("maxs"),
    ).head()
    if row is None or row["mins"] is None or row["mins"][0] is None:
        return [], []
    return list(row["mins"]), list(row["maxs"])


def test_bounds_match_wide_aggregate(spark, sf_dir):
    """grid.bounds returns exactly the wide aggregate's lists: on the
    corpus, one library, an empty scope, NULL vectors and elements, and
    (where the wide form's element_at only runs without ANSI mode)
    ragged arrays shorter and longer than `dim`."""
    from vector_db_service_spark.sources.tables import embedding_dim

    emb = load(spark, sf_dir, "embeddings")
    dim = embedding_dim(sf_dir)
    for scope in (emb, emb.filter(F.col("label") == 2), emb.filter(F.col("label") == -1)):
        assert grid_ops.bounds(scope, dim=dim) == _wide_bounds(scope, dim)
    assert grid_ops.bounds(emb.filter(F.col("label") == -1), dim=dim) == ([], [])
    schema = "vec_id long, embedding array<float>"
    nulls = spark.createDataFrame(
        [(1, [1.0, None, 3.0]), (2, None), (3, [-2.0, None, 0.5]), (4, [0.0, None, None])], schema)
    assert grid_ops.bounds(nulls, dim=3) == _wide_bounds(nulls, 3)
    assert grid_ops.bounds(nulls, dim=3)[0] == [-2.0, None, 0.5]
    first_null = spark.createDataFrame([(1, [None, 2.0])], schema)
    assert grid_ops.bounds(first_null, dim=2) == _wide_bounds(first_null, 2) == ([], [])

    lenient = spark.newSession()
    lenient.conf.set("spark.sql.ansi.enabled", "false")
    ragged = lenient.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0]), (3, None), (4, [0.5, -1.0, 7.0, 9.0])], schema)
    for d in (1, 2, 3, 5):
        assert grid_ops.bounds(ragged, dim=d) == _wide_bounds(ragged, d), d
    assert grid_ops.bounds(ragged, dim=5) == ([0.5, -1.0, 7.0, 9.0, None],
                                             [3.0, 2.0, 7.0, 9.0, None])
