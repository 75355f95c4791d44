"""Reference-semantics unit tests beyond oracle parity (SURVEY §5):
validation error paths (the reference's 422s -> ValueError/KeyError),
empty-library short-circuit, k-bounds, score-range invariants, and
tie-break determinism.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from vector_db_service_spark.operators import knn as knn_ops  # noqa: E402
from vector_db_service_spark.operators import lsh as lsh_ops  # noqa: E402
from vector_db_service_spark.functions import similarity as sim  # noqa: E402
from vector_db_service_spark.sources.tables import load  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.001")


@pytest.mark.parametrize("bad_k", [0, -1, 101, 1000])
def test_k_out_of_bounds_raises(spark, bad_k):
    # reference schemas/search_schema.py:26 -> HTTP 422; here ValueError
    with pytest.raises(ValueError, match=r"k must be in \[1,100\]"):
        knn_ops.knn(spark, SF, query_id=0, k=bad_k)


def test_unknown_metric_raises(spark):
    # reference similarity.py:341 ValueError on unknown metric
    with pytest.raises(ValueError, match="unknown metric"):
        knn_ops.knn(spark, SF, query_id=0, k=5, metric="chebyshev")


def test_missing_query_vector_raises(spark):
    with pytest.raises(KeyError, match="not found"):
        knn_ops.knn(spark, SF, query_id=10_000_000, k=5)


def test_empty_library_short_circuits_to_zero_rows(spark):
    # reference vector_service.py:226-241: empty library -> empty response
    df = knn_ops.knn(spark, SF, query_id=0, k=10, metric="cosine", library=987654)
    assert df.count() == 0


def test_k_greater_than_n_returns_all(spark):
    # reference similarity.py:464-466 (T5)
    n_lib1 = load(spark, SF, "embeddings").filter(F.col("label") == 1).count()
    assert n_lib1 < 100
    df = knn_ops.knn(spark, SF, query_id=0, k=100, metric="cosine", library=1)
    assert df.count() == n_lib1


def test_score_range_invariants(spark):
    # reference tests/test_integration_algorithms.py:219-232: cosine in
    # [-1,1]; euclidean/manhattan similarity in (0,1]; distances >= 0
    emb = load(spark, SF, "embeddings").limit(200)
    e = F.col("embedding")
    q = sim.vector_lit([1.0] * 64)
    row = emb.select(
        F.min(sim.cosine(e, q)).alias("cmin"), F.max(sim.cosine(e, q)).alias("cmax"),
        F.min(sim.euclidean_similarity(e, q)).alias("esmin"),
        F.max(sim.euclidean_similarity(e, q)).alias("esmax"),
        F.min(sim.euclidean_distance(e, q)).alias("edmin"),
        F.min(sim.manhattan_distance(e, q)).alias("mdmin"),
    ).head()
    assert -1.0 <= row["cmin"] <= row["cmax"] <= 1.0
    assert 0.0 < row["esmin"] <= row["esmax"] <= 1.0
    assert row["edmin"] >= 0.0 and row["mdmin"] >= 0.0


def test_topk_deterministic_across_runs(spark):
    a = [r.asDict() for r in knn_ops.knn(spark, SF, query_id=3, k=10).collect()]
    b = [r.asDict() for r in knn_ops.knn(spark, SF, query_id=3, k=10).collect()]
    assert a == b


def test_lsh_candidates_superset_contains_exact_top1(spark):
    # reference LSH is approximate, but the query's own vector always
    # agrees with itself on every plane, so it must be in the candidates
    qvec = knn_ops.query_vector(spark, SF, 7)
    planes = lsh_ops.hyperplanes(len(qvec))
    cand = lsh_ops.candidates(load(spark, SF, "embeddings"), qvec, planes)
    assert cand.filter(F.col("vec_id") == 7).count() == 1


def test_malformed_rows_swallowed_not_fatal(spark):
    """K13 error-swallow parity (reference similarity.py:343-345 skips
    rows that fail scoring): null or dimension-mismatched embeddings must
    yield null scores that sort to the bottom — never a query failure."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
    ])
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.5, 0.5, 0.0, 0.0]),
        (3, None),                    # missing embedding
        (4, [1.0, 0.0]),              # wrong dimension (short)
    ]
    df = spark.createDataFrame(rows, schema)
    q = sim.vector_lit([1.0, 0.0, 0.0, 0.0])
    scored = df.withColumn("score", F.round(sim.cosine(F.col("embedding"), q), 6))
    got = {r["vec_id"]: r["score"] for r in scored.collect()}
    assert got[1] == 1.0
    assert got[3] is None  # swallowed, not raised
    # short vector: zip_with pads with null -> null score (swallowed)
    assert got[4] is None
    # and top-k ordering puts swallowed rows last (desc NULLS LAST)
    order = [r["vec_id"] for r in scored.orderBy(F.desc("score"), F.asc("vec_id")).collect()]
    assert order[:2] == [1, 2] and set(order[2:]) == {3, 4}


def test_grid_low_dim_uses_full_hypercube(spark):
    """Reference grid neighbor enumeration: dim <= 4 explores the full
    hypercube (algorithms.py:552-563) so a cell differing in TWO dims by
    1 is reachable at radius 1; dim > 4 uses the Manhattan-ball
    (algorithms.py:540-550) where that same cell is unreachable."""
    from pyspark.sql import types as T
    from vector_db_service_spark.operators.grid import r_needed_sql

    schema = T.StructType([
        T.StructField("cid", T.LongType()),
        T.StructField("cells", T.ArrayType(T.LongType())),
    ])
    df3 = spark.createDataFrame(
        [(1, [0, 0, 0]), (2, [1, 1, 0]), (3, [2, 0, 0])], schema
    )
    got3 = {r["cid"]: r["r"] for r in
            df3.select("cid", F.expr(r_needed_sql("cells", [0, 0, 0])).alias("r")).collect()}
    assert got3 == {1: 0, 2: 1, 3: 2}  # diag cell reachable at its Chebyshev radius

    df5 = spark.createDataFrame(
        [(1, [0, 0, 0, 0, 0]), (2, [1, 1, 0, 0, 0]), (3, [0, 3, 0, 0, 0])], schema
    )
    got5 = {r["cid"]: r["r"] for r in
            df5.select("cid", F.expr(r_needed_sql("cells", [0, 0, 0, 0, 0])).alias("r")).collect()}
    assert got5[1] == 0 and got5[3] == 3
    assert got5[2] is None  # two-dim diff: outside the Manhattan ball


def _r_needed_reference(cells_col, qcell):
    """The filter/size/element_at form r_needed_sql replaced, kept as the
    reference its one-fold form must agree with."""
    qc = F.array(*[F.lit(c).cast("long") for c in qcell])
    diffs = F.zip_with(cells_col, qc, lambda a, b: F.abs(a - b))
    if len(qcell) <= 4:
        return F.array_max(diffs)
    nz = F.filter(diffs, lambda d: d != 0)
    return (
        F.when(F.size(nz) == 0, F.lit(0))
        .when(F.size(nz) == 1, F.element_at(nz, 1))
        .otherwise(F.lit(None))
    )


@pytest.mark.smoke
@pytest.mark.parametrize("dim", [3, 5])
def test_grid_r_needed_null_and_ragged_cells(spark, dim):
    """NULL coordinates and ragged arrays (zip_with pads the shorter side
    with NULL) count as no difference, in both reachability forms; a
    NULL array stays unreachable."""
    from pyspark.sql import types as T
    from vector_db_service_spark.operators.grid import r_needed_sql

    schema = T.StructType([
        T.StructField("cid", T.LongType()),
        T.StructField("cells", T.ArrayType(T.LongType())),
    ])
    zero = [0] * dim
    rows = [
        [None] * dim,                      # every coordinate NULL
        [None] + [0] * (dim - 1),          # NULL beside the center
        [None, 2] + [0] * (dim - 2),       # NULL + one differing dim
        [1, None, 2] + [0] * (dim - 3),    # NULL + two differing dims
        [0, 3],                            # shorter than the query
        [0, 1],
        zero + [5],                        # longer than the query
        [1] + [0] * (dim - 1) + [5],
        [2, 2] + [None] * (dim - 2),
        None,                              # NULL array
    ]
    df = spark.createDataFrame(list(enumerate(rows)), schema)
    got = {
        r["cid"]: (r["new"], r["ref"])
        for r in df.select(
            "cid",
            F.expr(r_needed_sql("cells", zero)).alias("new"),
            _r_needed_reference(F.col("cells"), zero).alias("ref"),
        ).collect()
    }
    assert all(new == ref for new, ref in got.values()), got
    if dim > 4:
        assert [got[i][0] for i in range(len(rows))] == [
            0, 0, 2, None, 3, 1, 0, 1, None, None
        ]
    else:
        assert [got[i][0] for i in range(len(rows))] == [
            None, 0, 2, 2, 3, 1, 0, 1, 2, None
        ]


def test_topk_invariant_to_input_partitioning(spark):
    """The rounded-score total order makes top-k independent of physical
    partitioning — the determinism contract a distributed engine must
    keep (same result on 1 partition or 1000)."""
    from vector_db_service_spark.operators.knn import query_vector, score_all

    qvec = query_vector(spark, SF, 2)
    emb = load(spark, SF, "embeddings")

    def topk(df):
        return [
            (r["vec_id"], r["score"])
            for r in score_all(df, qvec, "cosine")
            .orderBy(F.desc("score"), F.asc("vec_id")).limit(10)
            .select("vec_id", "score").collect()
        ]

    assert topk(emb) == topk(emb.repartition(17)) == topk(emb.coalesce(1))


def test_sql_surface_matches_dataframe_kernels(spark):
    """The pure-SQL surface (functions/sql_surface.py + temp views) must
    produce the identical flagship result as the DataFrame API — same
    Catalyst expressions, same plan, same rows."""
    from vector_db_service_spark.functions import sql_surface as S
    from vector_db_service_spark.sources.tables import register_views

    register_views(spark, SF)
    qvec = knn_ops.query_vector(spark, SF, 0)
    q_sql = "array(" + ", ".join(f"{v!r}D" for v in qvec) + ")"
    sql_df = spark.sql(f"""
        SELECT vec_id, label, round({S.cosine_sql('embedding', q_sql)}, 6) AS score
        FROM embeddings
        ORDER BY score DESC, vec_id
        LIMIT 10
    """)
    api_df = knn_ops.knn(spark, SF, query_id=0, k=10, metric="cosine")
    assert [r.asDict() for r in sql_df.collect()] == [r.asDict() for r in api_df.collect()]


def test_pointer_doubling_components_match_plain_propagation(spark):
    """near_dup_components_fast (neighbor-min + pointer-jump per round)
    must produce the identical component histogram as the plain
    bounded-propagation version — the O(log d) scale path is exact."""
    from vector_db_service_spark.operators import dedup

    docs = load(spark, SF, "documents")
    plain = {(r["comp"], r["n_docs"])
             for r in dedup.near_dup_components(docs, rounds=10).collect()}
    fast = {(r["comp"], r["n_docs"])
            for r in dedup.near_dup_components_fast(docs, rounds=5).collect()}
    assert plain == fast


def test_keep_canonical_one_survivor_per_component(spark):
    """near_dup_keep_canonical keeps EXACTLY one doc per component (the
    component-min canonical), so total survivors across sources must
    equal the number of distinct components, and singleton docs always
    survive."""
    from vector_db_service_spark.operators import dedup

    docs = load(spark, SF, "documents")
    n_components = dedup.near_dup_components_fast(docs).count()
    out = dedup.near_dup_keep_canonical(docs).collect()
    assert sum(r.n_survivors for r in out) == n_components
    assert sum(r.n_docs for r in out) == docs.count()
    for r in out:
        assert r.n_removed == r.n_docs - r.n_survivors
        assert 0.0 <= r.removal_frac < 1.0


def test_knn_safe_swallows_internal_errors_only(spark, monkeypatch):
    """Query-level error swallow (reference vector_service.py:290-310):
    internal failures degrade to the empty search response; embedding
    (KeyError) and validation (ValueError) errors re-raise."""
    def boom(*a, **k):
        raise RuntimeError("index corrupted")

    monkeypatch.setattr(knn_ops, "score_all", boom)
    df = knn_ops.knn_safe(spark, SF, query_id=0, k=10)
    assert df.columns == ["vec_id", "label", "score"]
    assert df.count() == 0
    hyd = knn_ops.knn_safe(spark, SF, query_id=0, k=10, hydrate=True)
    assert hyd.columns == ["vec_id", "label", "score", "text", "lang", "source"]
    assert hyd.count() == 0
    monkeypatch.undo()

    with pytest.raises(KeyError, match="not found"):
        knn_ops.knn_safe(spark, SF, query_id=10_000_000, k=5)
    with pytest.raises(ValueError, match=r"k must be in"):
        knn_ops.knn_safe(spark, SF, query_id=0, k=0)
    # happy path identical to the unwrapped search
    safe = knn_ops.knn_safe(spark, SF, query_id=0, k=5).collect()
    plain = knn_ops.knn(spark, SF, query_id=0, k=5).collect()
    assert safe == plain


def test_knn_safe_swallows_executor_side_errors(spark, monkeypatch):
    """The swallow covers EXECUTION, not just plan construction
    (reference vector_service.py:290-310 wraps the whole search): a
    failure raised on executors at evaluation time — injected here as a
    data-dependent raise_error inside the score expression, which only
    fires when tasks actually evaluate rows — degrades to the empty
    frame because knn_safe forces the result eagerly inside the try."""
    real = knn_ops.score_all

    def runtime_boom(emb, qvec, metric="cosine"):
        df = real(emb, qvec, metric)
        poisoned = F.when(
            F.col("vec_id") >= 0, F.raise_error(F.lit("shard corrupted"))
        ).otherwise(F.col("score"))
        return df.withColumn("score", poisoned)

    monkeypatch.setattr(knn_ops, "score_all", runtime_boom)
    # the unwrapped plan builds fine and only fails when evaluated
    lazy = knn_ops.knn(spark, SF, query_id=0, k=5)
    with pytest.raises(Exception, match="shard corrupted"):
        lazy.collect()
    df = knn_ops.knn_safe(spark, SF, query_id=0, k=5)
    assert df.columns == ["vec_id", "label", "score"]
    assert df.count() == 0
