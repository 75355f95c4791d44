"""Similarity kernels K1-K12 as pure Spark column expressions.

Parity target: reference vector_db/similarity.py (SimilarityCalculator,
cosine/dot/euclidean/manhattan + batch variants, zero-vector guard at
similarity.py:47-52 returning 0.0, `1/(1+distance)` similarity forms at
similarity.py:94-109,129-144).

Design notes (Spark-first, 100 TB aware):
- No Python UDFs. Every kernel is a higher-order-function expression
  (`zip_with` + `aggregate`) evaluated JVM-side, so scoring N vectors is
  a single projection over a columnar scan — the Spark analog of the
  reference's NumPy batch matmul (similarity.py:146-183), but
  partition-parallel instead of single-process. Spark has no generated
  code for higher-order functions: they are CodegenFallback
  expressions, evaluated INTERPRETED (lambda variables bound per
  element, one boxed value per step), and the projection holding them
  falls out of whole-stage codegen. The kernel cost is that
  interpreter, not the scan.
- Each kernel is parsed from ONE SQL string whenever its operands are
  SQL text: a column name (a plain `str`) or a literal vector
  (`vector_sql`). Building the same tree through the Column API costs
  one py4j round trip per node — a cosine against a 64-d literal is
  ~390 round trips and ~60 ms of driver time, the parsed string 3 and
  under 1 ms — and a search builds its kernel on every call. The string
  is node for node the Column form (`CAST(x AS DOUBLE)` products, a
  `0.0D` seed, a left fold, the same `CASE WHEN` zero guard), so the
  two evaluate bit-identically (pinned by
  tests/test_kernel_numpy_crosscheck.py). Column operands (lambda
  variables, computed arrays) keep the Column builders.
- All arithmetic in DOUBLE even though vectors are float32 arrays
  (reference coerces to float32 at storage.py:70). DuckDB oracles
  compute in double; float32 accumulation noise (~1e-6 over 64 dims)
  would break the value-hash, double noise (~1e-15) rounds away at 6
  decimals.
- The "batch" kernels K7-K12 need no separate implementation: scoring a
  column against a literal query vector IS the batch form — Catalyst
  vectorizes it over every row of the scan.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F


class SqlText(str):
    """A kernel operand given as SQL text (a `vector_sql` literal). A
    plain `str` operand is a column NAME."""


Operand = Union[Column, str]


def quoted_ident(name: str) -> str:
    """Backtick-quote a column name before embedding it in an F.expr
    string. A `str` operand is documented as a COLUMN NAME, not a SQL
    fragment — an unquoted reserved word or dotted/hyphenated name would
    misparse or bind to the wrong expression with no error tying it back
    here. Backticks make any name a single identifier; embedded
    backticks are escaped by doubling, per Spark's quoting rule."""
    return "`" + name.replace("`", "``") + "`"


def vector_sql(vec: Sequence[float]) -> SqlText:
    """A literal array<double> as SQL text. repr() round-trips each
    float64 bit-for-bit; the D suffix keeps Spark from parsing the
    literal as DECIMAL."""
    return SqlText("array(" + ", ".join(f"{float(v)!r}D" for v in vec) + ")")


def vector_lit(vec: Sequence[float]) -> Column:
    """A query vector as a literal array<double> column. This is how a
    materialized query embedding enters the plan — same shape as the
    reference passing np.ndarray into index.search (algorithms.py:161).
    Built as ONE parsed SQL string: the F.array(*[F.lit(v) ...]) form
    costs dim+1 py4j round trips per use (and these literals appear once
    per hyperplane per band across the LSH family)."""
    return F.expr(vector_sql(vec))


def long_array_sql(vals: Sequence[int]) -> SqlText:
    """An integer vector (grid cell coordinates) as a literal
    array<bigint> in SQL text, the vector_sql of integer arrays."""
    return SqlText("array(" + ", ".join(f"{int(v)}L" for v in vals) + ")")


def _text(x: Operand) -> str | None:
    if isinstance(x, Column):
        return None
    return x if isinstance(x, SqlText) else quoted_ident(x)


def _kernel(text_form: Callable[..., str], column_form: Callable[..., Column],
            *operands: Operand) -> Column:
    """One parsed string when every operand is SQL text, else the Column
    builder (text operands parsed to Columns first)."""
    texts = [_text(x) for x in operands]
    if None not in texts:
        return F.expr(text_form(*texts))
    return column_form(
        *[x if isinstance(x, Column) else F.expr(t) for x, t in zip(operands, texts)]
    )


# --- SQL-text forms: node for node the Column forms below -------------------

_X, _Y = "CAST(x AS DOUBLE)", "CAST(y AS DOUBLE)"


def _fold_pairs_text(a: str, b: str, term: str) -> str:
    return f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), 0.0D, (acc, v) -> acc + v)"


def dot_text(a: str, b: str) -> str:
    """SQL text of `dot` over two SQL-text operands (also the LSH
    hyperplane projections' form)."""
    return _fold_pairs_text(a, b, f"{_X} * {_Y}")


def sum_squares_text(a: str, finish: str | None = None) -> str:
    """SQL text of the fold `norm` takes the square root of; `finish` is
    an optional finish lambda over the sum (knn.score_all's cosine)."""
    tail = "" if finish is None else f", {finish}"
    return f"aggregate({a}, 0.0D, (acc, x) -> acc + {_X} * {_X}{tail})"


def _norm_text(a: str) -> str:
    return f"sqrt({sum_squares_text(a)})"


def _cosine_text(a: str, b: str) -> str:
    na, nb = _norm_text(a), _norm_text(b)
    return (
        f"CASE WHEN ({na} = 0.0D) OR ({nb} = 0.0D) THEN 0.0D "
        f"ELSE {dot_text(a, b)} / ({na} * {nb}) END"
    )


def _euclidean_distance_text(a: str, b: str) -> str:
    return f"sqrt({_fold_pairs_text(a, b, f'({_X} - {_Y}) * ({_X} - {_Y})')})"


def _manhattan_distance_text(a: str, b: str) -> str:
    return _fold_pairs_text(a, b, f"abs({_X} - {_Y})")


def _one_over_one_plus_text(dist: str) -> str:
    return f"1.0D / (1.0D + {dist})"


# --- Column forms: for operands that are not SQL text -----------------------

def _d(x: Column) -> Column:
    return x.cast("double")


def _dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: _d(x) * _d(y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm_col(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + _d(x) * _d(x)))


def _cosine_col(a: Column, b: Column) -> Column:
    na, nb = _norm_col(a), _norm_col(b)
    return F.when((na == F.lit(0.0)) | (nb == F.lit(0.0)), F.lit(0.0)).otherwise(
        _dot_col(a, b) / (na * nb)
    )


def _euclidean_distance_col(a: Column, b: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (_d(x) - _d(y)) * (_d(x) - _d(y))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def _manhattan_distance_col(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: F.abs(_d(x) - _d(y))),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _one_over_one_plus_col(dist: Column) -> Column:
    return F.lit(1.0) / (F.lit(1.0) + dist)


# --- the kernels -------------------------------------------------------------

def dot(a: Operand, b: Operand) -> Column:
    """K2/K12: plain dot product (similarity.py:56-73,285-307)."""
    return _kernel(dot_text, _dot_col, a, b)


def norm(a: Operand) -> Column:
    """L2 norm, computed in double."""
    return _kernel(_norm_text, _norm_col, a)


def cosine(a: Operand, b: Operand) -> Column:
    """K1/K7: cosine similarity with the reference's zero-vector guard —
    0.0 when either norm is zero (similarity.py:47-52,167-181), never a
    divide-by-zero (ANSI-safe)."""
    return _kernel(_cosine_text, _cosine_col, a, b)


def euclidean_distance(a: Operand, b: Operand) -> Column:
    """K3/K8: L2 distance (similarity.py:75-92)."""
    return _kernel(_euclidean_distance_text, _euclidean_distance_col, a, b)


def euclidean_similarity(a: Operand, b: Operand) -> Column:
    """K4/K9: 1/(1+dist) (similarity.py:94-109)."""
    return _kernel(
        lambda x, y: _one_over_one_plus_text(_euclidean_distance_text(x, y)),
        lambda x, y: _one_over_one_plus_col(_euclidean_distance_col(x, y)),
        a, b,
    )


def manhattan_distance(a: Operand, b: Operand) -> Column:
    """K5/K10: L1 distance (similarity.py:111-127)."""
    return _kernel(_manhattan_distance_text, _manhattan_distance_col, a, b)


def manhattan_similarity(a: Operand, b: Operand) -> Column:
    """K6/K11: 1/(1+dist) (similarity.py:129-144)."""
    return _kernel(
        lambda x, y: _one_over_one_plus_text(_manhattan_distance_text(x, y)),
        lambda x, y: _one_over_one_plus_col(_manhattan_distance_col(x, y)),
        a, b,
    )


# Metric registry — the engine's analog of the reference's metric-name
# dispatch (similarity.py:309-345 similarity_generator). Extensibility is
# "register an expression builder", mirroring the fixed enum at
# schemas/search_schema.py:15-20.
METRICS: dict[str, Callable[[Operand, Operand], Column]] = {
    "cosine": cosine,
    "dot_product": dot,
    "euclidean": euclidean_similarity,
    "manhattan": manhattan_similarity,
}

def cosine_distance(a: Operand, b: Operand) -> Column:
    """1 - cosine similarity (angular dissimilarity; zero-vector guard
    inherits cosine's 0.0 -> distance 1.0)."""
    return _kernel(
        lambda x, y: f"1.0D - {_cosine_text(x, y)}",
        lambda x, y: F.lit(1.0) - _cosine_col(x, y),
        a, b,
    )


# Raw distance forms (lower is closer) for callers that want distances.
DISTANCES: dict[str, Callable[[Operand, Operand], Column]] = {
    "euclidean": euclidean_distance,
    "manhattan": manhattan_distance,
    "cosine": cosine_distance,
}


def score(metric: str, a: Operand, b: Operand) -> Column:
    """Similarity score under `metric`, higher = more similar. Unknown
    metric raises, like the reference's ValueError (similarity.py:341).
    Operands: Columns, column names, or `vector_sql` literals."""
    try:
        return METRICS[metric](a, b)
    except KeyError:
        raise ValueError(f"unknown metric {metric!r}; expected {sorted(METRICS)}") from None
