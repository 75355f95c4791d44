"""Cross-validation of the Spark kernel expressions against NumPy
reference implementations over adversarial inputs — zeros, tiny/huge
magnitudes, negatives, and 500 seeded random pairs — evaluated in ONE
batched Spark job (the property-test style the reference lacks,
SURVEY §5)."""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql import types as T  # noqa: E402

from vector_db_service_spark.functions import similarity as sim  # noqa: E402

DIM = 16


def _cases() -> list[tuple[int, list[float], list[float]]]:
    rng = np.random.RandomState(7)
    cases = []
    # adversarial: zero vs zero, zero vs unit, tiny, huge, negated, equal
    z = [0.0] * DIM
    u = [1.0] + [0.0] * (DIM - 1)
    cases += [(0, z, z), (1, z, u), (2, u, u)]
    cases.append((3, (np.ones(DIM) * 1e-20).tolist(), (np.ones(DIM) * 1e-20).tolist()))
    cases.append((4, (np.ones(DIM) * 1e18).tolist(), (np.ones(DIM) * 1e18).tolist()))
    cases.append((5, u, [-x for x in u]))
    for i in range(500):
        a = rng.normal(0, 10 ** rng.randint(-3, 4), DIM)
        b = rng.normal(0, 10 ** rng.randint(-3, 4), DIM)
        cases.append((6 + i, a.astype(np.float64).tolist(), b.astype(np.float64).tolist()))
    return cases


def _np_expected(a, b):
    a, b = np.asarray(a, dtype=np.float64), np.asarray(b, dtype=np.float64)
    na, nb = float(np.sqrt(np.sum(a * a))), float(np.sqrt(np.sum(b * b)))
    dot = float(np.sum(a * b))
    cos = 0.0 if na == 0.0 or nb == 0.0 else dot / (na * nb)
    eu = float(np.sqrt(np.sum((a - b) ** 2)))
    man = float(np.sum(np.abs(a - b)))
    return cos, dot, eu, man


def test_kernels_match_numpy_on_adversarial_and_random_pairs(spark):
    cases = _cases()
    schema = T.StructType([
        T.StructField("cid", T.LongType()),
        T.StructField("a", T.ArrayType(T.DoubleType())),
        T.StructField("b", T.ArrayType(T.DoubleType())),
    ])
    df = spark.createDataFrame(cases, schema)
    rows = df.select(
        "cid",
        sim.cosine(F.col("a"), F.col("b")).alias("cos"),
        sim.dot(F.col("a"), F.col("b")).alias("dot"),
        sim.euclidean_distance(F.col("a"), F.col("b")).alias("eu"),
        sim.manhattan_distance(F.col("a"), F.col("b")).alias("man"),
    ).collect()
    by_id = {c[0]: (c[1], c[2]) for c in cases}
    for r in rows:
        a, b = by_id[r["cid"]]
        cos, dot, eu, man = _np_expected(a, b)
        # same op order -> tiny tolerance covers numpy pairwise-sum drift
        assert abs(r["cos"] - cos) <= 1e-9 + 1e-9 * abs(cos), r["cid"]
        assert abs(r["dot"] - dot) <= 1e-9 + 1e-9 * abs(dot), r["cid"]
        assert abs(r["eu"] - eu) <= 1e-9 + 1e-9 * abs(eu), r["cid"]
        assert abs(r["man"] - man) <= 1e-9 + 1e-9 * abs(man), r["cid"]
        assert -1.0 - 1e-12 <= r["cos"] <= 1.0 + 1e-12  # range invariant


# --- text form == Column form, as raw doubles ---------------------------------

def _adversarial_rows(dim: int) -> list[tuple]:
    """(id, a, b) rows the stored corpora never hold: NULL arrays, NULL
    elements, ragged arrays, zero vectors."""
    rng = np.random.RandomState(11)
    v = [float(x) for x in rng.normal(0, 1, dim)]
    w = [float(x) for x in rng.normal(0, 1, dim)]
    z = [0.0] * dim
    return [
        (-1, None, w), (-2, v, None), (-3, None, None), (-4, None, z),
        (-5, [None] + v[1:], w), (-6, v, w[:-1] + [None]),
        (-7, v[:-1], w), (-8, v, w[: dim // 2]), (-9, [], w), (-10, [], []),
        (-11, z, w), (-12, v, z), (-13, z, z), (-14, z[:-1], z),
        (-15, [None] * dim, z),
    ]


def _pairs_frame(spark, sf_dir: str):
    """sf0.001 consecutive-id pairs plus the adversarial rows, as
    (id, a, b) with the corpus' array<float> type."""
    from vector_db_service_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("id"), F.col("embedding").alias("a"))
    b = emb.select((F.col("vec_id") - 1).alias("id"), F.col("embedding").alias("b"))
    dim = len(emb.select("embedding").head()[0])
    adv = spark.createDataFrame(
        _adversarial_rows(dim), "id long, a array<float>, b array<float>"
    )
    return a.join(b, "id").unionByName(adv), dim


def _bits(x):
    # repr keeps -0.0 apart from 0.0 and compares NaN equal to itself
    return None if x is None else repr(x)



@pytest.mark.smoke
def test_text_kernels_bit_identical_to_column_kernels(spark, sf_dir):
    """Every kernel parsed from one SQL string (column names and
    vector_sql literals) evaluates to exactly the doubles its Column
    form does — column vs column and column vs literal, on the corpus and
    on NULL, ragged and zero inputs."""
    df, dim = _pairs_frame(spark, sf_dir)
    rng = np.random.RandomState(3)
    lits = {
        "q": [float(x) for x in rng.normal(0, 1, dim)],
        "zero": [0.0] * dim,
        "short": [float(x) for x in rng.normal(0, 1, dim - 1)],
    }
    binary = {
        "euclidean_distance": sim.euclidean_distance,
        "manhattan_distance": sim.manhattan_distance,
        "cosine_distance": sim.cosine_distance,
        **{f"score_{m}": (lambda a, b, m=m: sim.score(m, a, b)) for m in sim.METRICS},
    }
    cols = [sim.norm("a").alias("t_norm"), sim.norm(F.col("a")).alias("c_norm")]
    for name, kern in binary.items():
        cols += [kern("a", "b").alias(f"t_{name}_ab"),
                 kern(F.col("a"), F.col("b")).alias(f"c_{name}_ab")]
        for ln, vec in lits.items():
            cols += [kern("a", sim.vector_sql(vec)).alias(f"t_{name}_{ln}"),
                     kern(F.col("a"), sim.vector_lit(vec)).alias(f"c_{name}_{ln}")]
    rows = df.select("id", *cols).collect()
    assert len(rows) > 100
    names = [c[2:] for c in rows[0].asDict() if c.startswith("t_")]
    for r in rows:
        for n in names:
            assert _bits(r[f"t_{n}"]) == _bits(r[f"c_{n}"]), (r["id"], n)
    # the adversarial rows do reach the NULL paths
    nulls = {n for r in rows for n in names if r[f"t_{n}"] is None}
    assert "score_cosine_ab" in nulls and "norm" in nulls


@pytest.mark.smoke
@pytest.mark.parametrize("metric", sorted(sim.METRICS))
def test_score_all_equals_rounded_score(spark, sf_dir, tmp_path, metric):
    """knn.score_all (folded query norm, row norm folded once) scores
    exactly like round(sim.score(...), 6), including a zero query vector,
    NULL/ragged/zero rows, and a library filter over NULL labels (the
    nulls fixture)."""
    from tests.nulls_fixture import build_nulls_fixture
    from vector_db_service_spark.operators import knn
    from vector_db_service_spark.sources.tables import load

    df, dim = _pairs_frame(spark, sf_dir)
    emb = df.select("id", F.col("a").alias("embedding"), F.lit(1).alias("label"))
    nulls = build_nulls_fixture(str(tmp_path / "nulls"), sf_dir)
    fixture = load(spark, nulls, "embeddings").select(
        F.col("vec_id").alias("id"), "embedding", "label"
    )
    rng = np.random.RandomState(5)
    queries = {
        "q": [float(x) for x in rng.normal(0, 1, dim)],
        "zero": [0.0] * dim,
        "short": [float(x) for x in rng.normal(0, 1, dim - 1)],
    }
    for qn, qvec in queries.items():
        for frame, library in ((emb, None), (fixture, 1), (fixture, None)):
            want_frame = frame if library is None else frame.filter(F.col("label") == library)
            want = {
                r["id"]: _bits(r["s"])
                for r in want_frame.select(
                    "id", F.round(sim.score(metric, F.col("embedding"), sim.vector_lit(qvec)), 6)
                    .alias("s")).collect()
            }
            got = {
                r["id"]: _bits(r["score"])
                for r in knn.score_all(want_frame, qvec, metric).collect()
            }
            assert got == want, (metric, qn, library)


@pytest.mark.smoke
@pytest.mark.parametrize("metric", sorted(sim.METRICS))
def test_score_all_with_sq_equals_rounded_score(spark, sf_dir, tmp_path, metric):
    """With a stored sum of squares `sq` on the frame (a resident copy,
    knn.resident), knn.score_all still scores exactly like
    round(sim.score(...), 6): on NULL/ragged/zero rows, with zero and
    short queries, and over the resident copies of the nulls fixture
    (whole corpus and one library)."""
    from tests.nulls_fixture import build_nulls_fixture
    from vector_db_service_spark.operators import knn
    from vector_db_service_spark.sources.tables import load

    df, dim = _pairs_frame(spark, sf_dir)
    sq = F.expr(sim.sum_squares_text(sim.quoted_ident("embedding")))
    emb = df.select("id", F.col("a").alias("embedding"), F.lit(1).alias("label"))
    nulls = build_nulls_fixture(str(tmp_path / "nulls"), sf_dir)
    plain = load(spark, nulls, "embeddings")
    rng = np.random.RandomState(7)
    queries = {
        "q": [float(x) for x in rng.normal(0, 1, dim)],
        "zero": [0.0] * dim,
        "short": [float(x) for x in rng.normal(0, 1, dim - 1)],
    }
    frames = [(emb, emb.withColumn("sq", sq), "id")]
    for library in (None, 1):
        scope = plain if library is None else plain.filter(F.col("label") == library)
        frames.append((scope, knn.resident(spark, nulls, library), "vec_id"))
    for qn, qvec in queries.items():
        for frame, with_sq, key in frames:
            assert "sq" in with_sq.columns
            want = {
                r[key]: _bits(r["s"])
                for r in frame.select(
                    key, F.round(sim.score(metric, F.col("embedding"), sim.vector_lit(qvec)), 6)
                    .alias("s")).collect()
            }
            got = {
                r[key]: _bits(r["score"])
                for r in knn.score_all(with_sq, qvec, metric).collect()
            }
            assert got == want, (metric, qn, key)
