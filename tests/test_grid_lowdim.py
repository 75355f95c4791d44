"""Grid search parity on LOW-dimensional corpora (round-2 VERDICT next
#7): the operator's dim<=4 branch enumerates the full hypercube
(Chebyshev reachability, reference algorithms.py:552-563) while dim>4
uses the Manhattan ball; the oracle SQL must follow the same dynamic
branch or operator and oracle silently disagree on <=4-dim data.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from vector_db_service_spark import oracles
from vector_db_service_spark.operators import grid as grid_ops

from oracle_harness import compare


@pytest.fixture(scope="module", params=[3, 4, 6])
def lowdim_sf(request, spark, tmp_path_factory):
    dim = request.param
    root = tmp_path_factory.mktemp(f"sf_dim{dim}")
    # deterministic scatter that puts vectors in MANY distinct cells and
    # >= 2 dims away from the query for some rows (exercising the branch
    # difference: Chebyshev reaches them, the Manhattan ball does not)
    emb = spark.range(80).select(
        F.col("id").cast("long").alias("vec_id"),
        (F.col("id") % 3).cast("int").alias("label"),
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.sin(F.col("id") * 2.3 + i.cast("double") * 1.1).cast("float"),
        ).alias("embedding"),
    )
    emb.write.parquet(str(root / "embeddings.parquet"))
    return dim, str(root)


def test_grid_search_parity_lowdim(spark, lowdim_sf):
    dim, sf = lowdim_sf
    sdf = grid_ops.search(spark, sf, query_id=0, k=5, metric="euclidean")
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; DuckDB reads it via glob
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet/*.parquet'"
    )
    odf = con.execute(oracles.grid_search_sql(query_id=0, k=5)).fetchdf()
    assert compare(sdf, odf) == []


def test_branches_actually_differ(spark, lowdim_sf):
    """Sanity: on dim<=4 data the hypercube candidate set is strictly
    larger than the Manhattan ball's — i.e. the branch matters and the
    old Manhattan-only oracle WOULD have diverged."""
    dim, sf = lowdim_sf
    if dim > 4:
        pytest.skip("hypercube branch only applies at dim <= 4")
    from vector_db_service_spark.sources.tables import load
    from vector_db_service_spark.operators.knn import query_vector

    emb = load(spark, sf, "embeddings")
    qvec = query_vector(spark, sf, 0)
    mins, maxs = grid_ops.bounds(emb)
    qcell = grid_ops.query_cell(qvec, mins, maxs)
    cells = grid_ops.cell_coords_expr("embedding", mins, maxs)
    qc = F.array(*[F.lit(c).cast("long") for c in qcell])
    diffs = F.zip_with(cells, qc, lambda a, b: F.abs(a - b))
    nz = F.filter(diffs, lambda d: d != 0)
    both = emb.select(
        (F.array_max(diffs) <= grid_ops.MAX_RADIUS).alias("cheby_reach"),
        ((F.size(nz) <= 1) & (F.array_max(diffs) <= grid_ops.MAX_RADIUS))
        .alias("manhattan_reach"),
    ).collect()
    n_cheby = sum(1 for r in both if r["cheby_reach"])
    n_manh = sum(1 for r in both if r["manhattan_reach"])
    assert n_cheby > n_manh, (n_cheby, n_manh)
