"""The PCA oracles' `WITH RECURSIVE` form (ann.pca_*_sql) against the
unrolled form it replaced, kept here verbatim: one CTE stage per round,
107 KB of SQL at the registered 64/96 rounds, which DuckDB 1.0 needed
about 4 GB and 20 s to bind and plan at sf0.001 (4-vCPU VM). Rows must
be equal, not close.

Not in the smoke tier: the unrolled side is the cost being removed."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import duckdb_con  # noqa: E402
from vector_db_service_spark.operators import ann  # noqa: E402
from vector_db_service_spark.operators.ann import (  # noqa: E402
    PCA2_ROUNDS,
    PCA_Q_SCALE,
    PCA_ROUNDS,
    PCA_V_SCALE,
)
from vector_db_service_spark.sources.tables import embedding_dim  # noqa: E402


def _sdiv(x: str, y: str) -> str:
    return f"CASE WHEN {x} < 0 THEN -((-({x})) // ({y})) ELSE ({x}) // ({y}) END"


_HEAD = f"""
WITH q AS MATERIALIZED (
  SELECT list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {PCA_Q_SCALE})
                                  AS BIGINT)) AS qv
  FROM embeddings
),
gram AS MATERIALIZED (
  SELECT i, j, CAST(sum(qv[i] * qv[j]) AS BIGINT) AS g
  FROM q, generate_series(1, {{dim}}) s1(i), generate_series(1, {{dim}}) s2(j)
  GROUP BY i, j
),
v0 AS MATERIALIZED (
  SELECT i, CAST({PCA_V_SCALE} AS BIGINT) AS v
  FROM generate_series(1, {{dim}}) t(i)
),"""


def _v_stages(rounds: int) -> str:
    return ",".join(f"""
w{r + 1} AS MATERIALIZED (
  SELECT g.i, CAST(sum(g.g * v.v) AS BIGINT) AS w
  FROM gram g JOIN v{r} v ON v.i = g.j GROUP BY g.i
),
d{r + 1} AS MATERIALIZED (
  SELECT greatest(CAST(1 AS BIGINT), max(abs(w)) // {PCA_V_SCALE}) AS d
  FROM w{r + 1}
),
v{r + 1} AS MATERIALIZED (
  SELECT i, {_sdiv('w', f'(SELECT d FROM d{r + 1})')} AS v
  FROM w{r + 1}
)""" for r in range(rounds))


def unrolled_power_iteration_sql(dim: int, rounds: int = PCA_ROUNDS) -> str:
    return _HEAD.format(dim=dim) + _v_stages(rounds) + f"""
SELECT CAST(i AS INT) AS dim_idx, v AS v_scaled FROM v{rounds}
"""


def unrolled_top2_sql(dim: int, rounds: int = PCA_ROUNDS,
                      rounds2: int = PCA2_ROUNDS) -> str:
    u_stages = ",".join(f"""
uw{r + 1} AS MATERIALIZED (
  SELECT g.i, CAST(sum(g.g * u.v) AS BIGINT) AS w
  FROM gram g JOIN u{r} u ON u.i = g.j GROUP BY g.i
),
ud{r + 1} AS MATERIALIZED (
  SELECT greatest(CAST(1 AS BIGINT), max(abs(w)) // {PCA_V_SCALE}) AS d
  FROM uw{r + 1}
),
up{r + 1} AS MATERIALIZED (
  SELECT i, {_sdiv('w', f'(SELECT d FROM ud{r + 1})')} AS v
  FROM uw{r + 1}
),
pp{r + 1} AS MATERIALIZED (
  SELECT CAST(sum(u.v * f.v) AS BIGINT) AS p
  FROM up{r + 1} u JOIN v1f f ON f.i = u.i
),
rr{r + 1} AS MATERIALIZED (
  SELECT {_sdiv('p * 1000', '(SELECT n1 FROM n1)')} AS r FROM pp{r + 1}
),
u{r + 1} AS MATERIALIZED (
  SELECT u.i,
         u.v - ({_sdiv(f'(SELECT r FROM rr{r + 1}) * f.v', '1000')}) AS v
  FROM up{r + 1} u JOIN v1f f ON f.i = u.i
)""" for r in range(rounds2))
    return _HEAD.format(dim=dim) + _v_stages(rounds) + f""",
v1f AS MATERIALIZED (SELECT i, v FROM v{rounds}),
n1 AS MATERIALIZED (SELECT CAST(sum(v * v) AS BIGINT) AS n1 FROM v1f),
u0 AS MATERIALIZED (
  SELECT i, CAST({PCA_V_SCALE} AS BIGINT) AS v
  FROM generate_series(1, {dim}) t(i)
),{u_stages}
SELECT CAST(f.i AS INT) AS dim_idx, f.v AS v1_scaled, u.v AS v2_scaled
FROM v1f f JOIN u{rounds2} u ON u.i = f.i
"""


def unrolled_project2d_sql(dim: int, rounds: int = PCA_ROUNDS,
                           rounds2: int = PCA2_ROUNDS) -> str:
    return f"""
WITH vs AS MATERIALIZED (
  SELECT dim_idx, v1_scaled, v2_scaled FROM ({unrolled_top2_sql(dim, rounds, rounds2)})
),
q AS (
  SELECT vec_id, label,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * {PCA_Q_SCALE})
                                  AS BIGINT)) AS qv
  FROM embeddings
),
terms AS (
  SELECT vec_id, label, unnest(qv) AS c,
         generate_subscripts(qv, 1) AS j
  FROM q
)
SELECT t.vec_id, t.label,
       CAST(sum(t.c * v.v1_scaled) AS BIGINT) AS p1_scaled,
       CAST(sum(t.c * v.v2_scaled) AS BIGINT) AS p2_scaled
FROM terms t JOIN vs v ON v.dim_idx = t.j
GROUP BY t.vec_id, t.label
"""


def _rows(con, sql: str) -> list[tuple]:
    return sorted(con.execute(sql).fetchall(), key=repr)


@pytest.mark.parametrize("rounds,rounds2", [(PCA_ROUNDS, PCA2_ROUNDS), (3, 5), (1, 1)])
def test_recursive_pca_oracles_equal_unrolled(sf_dir, rounds, rounds2):
    dim = embedding_dim(sf_dir)
    con = duckdb_con(sf_dir)
    try:
        pairs = [
            (ann.pca_power_iteration_sql(dim, rounds),
             unrolled_power_iteration_sql(dim, rounds)),
            (ann.pca_top2_sql(dim, rounds, rounds2),
             unrolled_top2_sql(dim, rounds, rounds2)),
            (ann.pca_project2d_sql(dim, rounds, rounds2),
             unrolled_project2d_sql(dim, rounds, rounds2)),
        ]
        for recursive, unrolled in pairs:
            got = _rows(con, recursive)
            assert got, recursive
            assert got == _rows(con, unrolled)
    finally:
        con.close()


def test_recursive_pca_oracle_text_is_small(sf_dir):
    """The registered oracles stay a few KB however many rounds run."""
    dim = embedding_dim(sf_dir)
    for sql in (ann.pca_power_iteration_sql(dim), ann.pca_top2_sql(dim),
                ann.pca_project2d_sql(dim)):
        assert len(sql) < 4096, len(sql)
