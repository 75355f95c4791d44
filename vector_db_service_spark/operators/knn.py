"""Flat (exact) k-NN search — the flagship query path.

Parity target: reference FlatIndex.search (vector_db/algorithms.py:161-193)
+ VectorService.search_similar_chunks (services/vector_service.py:184-310):
scope to a library, score every vector under a metric, exact top-k, then
hydrate result rows with an inner join that silently drops index orphans
(services/vector_service.py:254-278).

Spark shape of the plan (what .explain should show):
  InMemoryTableScan of the scope's RESIDENT copy (below): the first
  search of a scope runs it over the label-filtered parquet scan and
  fills the copy in that same job
  -> score projection (functions/similarity.py; its zip_with/aggregate
     kernels are interpreted higher-order functions — CodegenFallback —
     so that projection runs outside whole-stage codegen; cosine reads
     the row's stored sum of squares `sq` instead of folding it)
  -> TakeOrderedAndProject (the built-in partial top-k: per-partition
     heap + driver merge, same O(n log k) the reference hand-rolls at
     similarity.py:347-395 and argpartition-optimizes at :464-470 — O2/O3
     in SURVEY §4 come free)
  -> BroadcastHashJoin against the row table (k <= 100 rows, J1)

Resident state. The reference answers every search from state it keeps
live: an in-memory vector store (vector_db/storage.py:11-41) and one
index per library (services/vector_service.py:54-66). A resident copy
is that state here, from two sources under one rule (`keep_resident`):
- `resident`: per search scope (a library, or the whole corpus) and
  index column, the scope's covering rows — (vec_id, label, embedding,
  sq), plus the LSH `bucket` or the grid `cells` — the same rows the
  stored indexes write (`covering_rows`), keyed on the embeddings file
  identity;
- store._library_rows: a library's stored index partition with `sq`,
  keyed on that partition's file identity.
Each is cached in Spark's block manager, so a warm search or stored
probe decodes no parquet, folds no norm and recomputes no hash or cell.
Freshness is the cache.memo rule, keyed on the source's file identity,
and one rule of its own: a copy leaves the memo only through its
release, which unpersists it — a superseded copy before its
replacement is cached, a copy a cache.restore drops at once. Spark's
CacheManager matches a new read of a rewritten file to a cached plan
by root path alone, so a copy left cached would serve the old data to
the rebuild. The derived `sq` column keeps a resident plan from ever
standing in for a plain `load()`: its pushdown and pruning stay as
they are.

At 100 TB: embeddings partitioned by library -> the filter is partition
pruning; top-k never shuffles the full table (each partition emits <= k
rows); the hydration join broadcasts the k-row side, never the row table.
A resident copy is bounded by the block manager (MEMORY_AND_DISK), as
the reference's store is bounded by its process.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..functions import similarity as sim
from ..sources.tables import load, path_signature

K_MIN, K_MAX = 1, 100  # reference schemas/search_schema.py:26


def validate_k(k: int) -> None:
    """k ∈ [1,100] — reference request validation (search_schema.py:26),
    422 on violation; here a ValueError in driver code."""
    if not K_MIN <= k <= K_MAX:
        raise ValueError(f"k must be in [{K_MIN},{K_MAX}], got {k}")


def query_vector(spark: SparkSession, sf_dir: str, query_id: int) -> list[float]:
    """Materialize one stored embedding as the query parameter — the
    analog of the reference embedding a query string before planning
    (services/vector_service.py:243-252); the vector enters the plan as
    a literal."""
    return query_vector_row(spark, sf_dir, query_id)[0]


def _stored_vectors(sf_dir: str, vec_filter) -> list[dict]:
    """(vec_id, embedding, label) rows of the embeddings table matching a
    pyarrow filter, read on the driver with `pyarrow.dataset`: row-group
    statistics skip every row group that cannot hold a wanted id, and no
    Spark job runs. `partitioning="hive"` reads a `label=<n>/` directory
    layout the way Spark does (including the NULL partition), and files
    named `_*` / `.*` are skipped as Spark skips them."""
    import os

    import pyarrow.dataset as ds

    table = ds.dataset(
        os.path.join(sf_dir, "embeddings.parquet"),
        format="parquet", partitioning="hive",
    ).to_table(columns=["vec_id", "embedding", "label"], filter=vec_filter)
    return table.to_pylist()


def _vector_entry(row: dict) -> tuple[list[float], int | None]:
    # label is OPTIONAL metadata (nullable at the source); a NULL label
    # rides through as None so consumers surface it as SQL NULL, the
    # same value the oracle reads from the table.
    label = row["label"]
    return list(row["embedding"]), int(label) if label is not None else None


def query_vector_row(
    spark: SparkSession, sf_dir: str, query_id: int
) -> tuple[list[float], int]:
    """(embedding, label) of a stored vector; the label is the query's
    own library (NULL as None).

    The row is read on the DRIVER (`_stored_vectors`: a pyarrow.dataset
    scan filtered on vec_id, pruned by row-group statistics), like
    tables.row_count / embedding_dim read footers: a Spark
    `filter(...).head()` costs ~4 incremental-scan jobs (~0.27 s) for
    one row, the driver read ~0.01 s. Values are the same float32
    elements Spark would return, widened to Python floats.

    Memoized per (table file identity, query_id) in cache.memo: every
    search call needs this lookup, and the reference amortizes it the
    same way by keeping vectors resident in its storage dict
    (vector_db/storage.py:11-41). The key covers every part file, so a
    rewrite of any partition drops the entry. A missing id raises
    KeyError."""
    import os

    import pyarrow.dataset as ds

    def build() -> tuple[list[float], int | None]:
        rows = _stored_vectors(sf_dir, ds.field("vec_id") == int(query_id))
        if not rows:
            raise KeyError(f"query vector {query_id} not found")
        return _vector_entry(rows[0])

    p = os.path.join(sf_dir, "embeddings.parquet")
    return cache.memo("qvec", p, (query_id,), build)


def query_vector_rows(
    spark: SparkSession, sf_dir: str, query_ids: list[int]
) -> dict[int, tuple[list[float], int]]:
    """Batch form of query_vector_row: the first miss reads every
    requested id in ONE driver-side `isin` read, and the memo of each
    id is filled from it."""
    import os

    import pyarrow.dataset as ds

    read: dict[int, tuple[list[float], int | None]] = {}

    def build(q: int) -> tuple[list[float], int | None]:
        if not read:
            rows = _stored_vectors(
                sf_dir, ds.field("vec_id").isin([int(x) for x in query_ids])
            )
            read.update((int(r["vec_id"]), _vector_entry(r)) for r in rows)
            missing = [x for x in query_ids if x not in read]
            if missing:
                raise KeyError(f"query vectors not found: {missing}")
        return read[q]

    p = os.path.join(sf_dir, "embeddings.parquet")
    return {q: cache.memo("qvec", p, (q,), lambda q=q: build(q)) for q in query_ids}


def score_all(
    emb: DataFrame,
    qvec: Sequence[float],
    metric: str = "cosine",
) -> DataFrame:
    """Score every vector of `emb` against the query. Scores are
    rounded to 6 decimals *before* ranking so the top-k frontier is
    deterministic and oracle-stable (SURVEY §7 hard part #1). Every
    literal-query re-rank (flat, LSH, grid, the stored probes) scores
    through here.

    The query norm is a constant, but Catalyst can't fold it (lambda
    expressions are never foldable), so for cosine it is computed
    driver-side and enters the plan as a literal. The row's sum of
    squares is read from the frame's `sq` column when it has one (a
    resident copy), else it is the accumulator of the norm fold, handed
    to that fold's finish lambda, which holds the zero guard and the
    divide: one fold per row feeds both of its uses, where sim.score's
    cosine folds each norm twice. That cuts the per-row array passes
    from 5 to 2 (1 with `sq`) and keeps the score one projection, so a
    Limit/Sort above it still plans as TakeOrderedAndProject. `sq` is
    the same fold (sim.sum_squares_text), and a left-to-right Python
    double sum == Spark's aggregate fold, so both forms are bit-identical
    to round(sim.score(...), 6) (pinned by
    tests/test_kernel_numpy_crosscheck.py)."""
    q = sim.vector_sql(qvec)
    if metric != "cosine":
        return emb.withColumn("score", F.round(sim.score(metric, "embedding", q), 6))
    import math

    qn = math.sqrt(sum(float(v) * float(v) for v in qvec))
    if qn == 0.0:
        return emb.withColumn("score", F.expr("round(0.0D, 6)"))
    e = sim.quoted_ident("embedding")
    cos = (f"round(CASE WHEN sqrt(sq) = 0.0D THEN 0.0D "
           f"ELSE {sim.dot_text(e, q)} / (sqrt(sq) * {qn!r}D) END, 6)")
    if "sq" in emb.columns:
        return emb.withColumn("score", F.expr(cos))
    return emb.withColumn("score", F.expr(sim.sum_squares_text(e, finish=f"sq -> {cos}")))


def scope(spark: SparkSession, sf_dir: str, library: int | None = None) -> DataFrame:
    """The embeddings rows a search of `library` covers (every row for
    None)."""
    emb = load(spark, sf_dir, "embeddings")
    return emb if library is None else emb.filter(f"label = {int(library)}")


def covering_rows(emb: DataFrame, index: tuple[str, str] | None = None) -> DataFrame:
    """(vec_id, label[, <index column>], embedding) of `emb`: the rows
    that cover a search of their scope. `index` is the (name, SQL text)
    of the index column — `lsh.covering_column`'s bucket key,
    `grid.covering_column`'s cell coordinates — or None for flat. The
    stored indexes (store._rebuild) write these rows with their stamp,
    and `resident` caches them with `sq`, so the two forms cannot
    drift."""
    cols = ["vec_id", "label", "embedding"]
    if index is not None:
        name, text = index
        cols.insert(2, f"{text} AS {sim.quoted_ident(name)}")
    return emb.selectExpr(*cols)


def resident(
    spark: SparkSession,
    sf_dir: str,
    library: int | None = None,
    column: tuple[str, str] | None = None,
) -> DataFrame:
    """The resident copy of a search scope (module docstring): the
    `covering_rows(scope(...), column)` of `library`, kept by
    `keep_resident` on the embeddings file identity. `column` is the
    index column's (name, SQL text), or None for the flat copy; the memo
    key is (library, column), everything the rows are computed from
    besides the file."""
    return keep_resident(os.path.join(sf_dir, "embeddings.parquet"), (library, column),
                         lambda: covering_rows(scope(spark, sf_dir, library), column))


def keep_resident(source: str, key: tuple, rows: Callable[[], DataFrame]) -> DataFrame:
    """`rows()` with their sum of squares `sq`, as a lazily cached frame:
    the one rule of every resident copy (module docstring), whether its
    rows come from the embeddings table (`resident`) or from a stored
    index partition (store._library_rows). The first search over it
    fills the cache in its own job, so no extra job runs.

    Memoized on the file identity of `source` (cache.memo namespace
    `resident`) under `key`, released by unpersisting: a changed
    signature releases the superseded copy before the new one is
    cached. A hit that is no longer cached (released by a cache.restore
    that a later restore undid) is rebuilt. Concurrent misses of one key
    build it once. A source the driver cannot stat (a remote store) has
    no file identity, so no memo entry would ever release its copy: its
    rows are read plainly, on every call."""
    def with_sq() -> DataFrame:
        return rows().withColumn("sq", F.expr(sim.sum_squares_text(sim.quoted_ident("embedding"))))

    if path_signature(source)[1] is None:
        return with_sq()

    def build() -> DataFrame:
        return with_sq().cache()

    copy = cache.memo("resident", source, key, build, release=_unpersist)
    if not copy.is_cached:
        copy = cache.memo("resident", source, key, build, refresh=True, release=_unpersist)
    return copy


def _unpersist(rows: DataFrame) -> None:
    rows.unpersist()


def sql_over(df: DataFrame, query: str) -> DataFrame:
    """`query`, SQL text that names its input `{df}`, over `df`. PySpark
    binds `{df}` to a temp view under a fresh uuid name and drops it once
    the query is analyzed, so concurrent calls never share a name. The
    whole query is parsed once, in about 8 py4j commands; the same plan
    built through the DataFrame API costs one round trip per Column node
    (an orderBy of two keys 13, a three-column select 17)."""
    return df.sparkSession.sql(query, df=df)


def top_k_sql(source: str, k: int) -> str:
    """SQL text of the k best rows of `source` (a relation in SQL text)
    by (score desc, vec_id asc), as (vec_id, label, score)."""
    return f"SELECT vec_id, label, score FROM {source} ORDER BY score DESC, vec_id LIMIT {int(k)}"


def top_k(scored: DataFrame, k: int) -> DataFrame:
    """The k best rows of `scored` by (score desc, vec_id asc) as
    (vec_id, label, score): one TakeOrderedAndProject."""
    return sql_over(scored, top_k_sql("{df}", k))


def spark_order(score: float | None, tie) -> tuple:
    """Sort key of a row in Spark's `ORDER BY score DESC, tie` order:
    NaN scores first, NULL scores last, -0.0 equal to 0.0, NULL ties
    first."""
    import math

    by_score = (2,) if score is None else (0,) if math.isnan(score) else (1, -score)
    return by_score, (tie is not None, tie if tie is not None else 0)


def local_top_k(source: DataFrame, found: Sequence[Sequence]) -> DataFrame:
    """`found`, collected (vec_id, label, score) rows, as a frame with the
    names and types top_k gives over `source`: a SELECT ... FROM VALUES,
    which collects with no Spark job (spark.createDataFrame runs one).
    Each value is written as its repr, a string the outer casts parse
    back exactly (a double's repr round-trips; 'nan' and 'inf' parse as
    well). The all-NULL row the WHERE drops makes every column nullable,
    as top_k's are, and an empty `found` a zero-row relation."""
    types = {f.name: f.dataType.simpleString() for f in source.schema}
    values = "".join(
        ", (" + ", ".join("NULL" if x is None else f"'{x!r}'" for x in row) + ", true)"
        for row in found
    )
    return source.sparkSession.sql(
        f"SELECT CAST(vec_id AS {types['vec_id']}) AS vec_id,"
        f" CAST(label AS {types['label']}) AS label, CAST(score AS DOUBLE) AS score"
        f" FROM VALUES (NULL, NULL, NULL, false){values} AS t(vec_id, label, score, kept)"
        " WHERE kept"
    )


def knn(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    k: int = 10,
    metric: str = "cosine",
    library: int | None = None,
    hydrate: bool = False,
) -> DataFrame:
    """Exact k-NN: top-k by (score desc, vec_id asc) — total order matches
    the reference's heap tie-break on (similarity, chunk_id)
    (similarity.py:389-392) made explicit for determinism."""
    validate_k(k)
    qvec = query_vector(spark, sf_dir, query_id)
    topk = top_k(score_all(resident(spark, sf_dir, library), qvec, metric), k)
    if not hydrate:
        return topk
    # J1 hydration: inner join => index-orphan rows are dropped, matching
    # services/vector_service.py:265-278. The k-row side is broadcast.
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id"), F.col("text"), F.col("lang"), F.col("source")
    )
    return (
        docs.join(F.broadcast(topk), docs.doc_id == topk.vec_id, "inner")
        .select("vec_id", "label", "score", "text", "lang", "source")
    )


def knn_safe(
    spark: SparkSession,
    sf_dir: str,
    **kwargs,
) -> DataFrame:
    """Query-level error swallow (services/vector_service.py:290-310):
    embedding failures (here: missing query vector -> KeyError) and
    request-validation errors (k bounds / unknown metric -> ValueError,
    which the reference rejects at the schema layer before the swallow
    wrapper) RE-RAISE; any OTHER internal failure returns the empty
    search-response frame instead of propagating — search degrades to
    zero results, it never 500s.

    The reference swallow wraps the WHOLE search execution, not just
    request planning — so the result is forced EAGERLY here (a
    localCheckpoint of the <= k-row top-k, i.e. exactly the job the
    caller was about to run, with no recompute on collect): executor-side
    failures at evaluation time degrade to the empty frame too, instead
    of leaking out of a lazily returned plan."""
    try:
        return knn(spark, sf_dir, **kwargs).localCheckpoint(eager=True)
    except (KeyError, ValueError):
        raise
    except Exception:
        emb = load(spark, sf_dir, "embeddings")
        empty = emb.select("vec_id", "label", F.lit(0.0).alias("score")).limit(0)
        if kwargs.get("hydrate"):
            docs = load(spark, sf_dir, "documents")
            return (
                empty.crossJoin(docs.select("text", "lang", "source"))
                .select("vec_id", "label", "score", "text", "lang", "source")
                .limit(0)
            )
        return empty


def knn_distance(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    k: int = 10,
    metric: str = "euclidean",
) -> DataFrame:
    """Distance-ordered variant (lower = closer), K3/K5 surface."""
    validate_k(k)
    qvec = query_vector(spark, sf_dir, query_id)
    emb = load(spark, sf_dir, "embeddings")
    dist = F.round(sim.DISTANCES[metric]("embedding", sim.vector_sql(qvec)), 6)
    return (
        emb.withColumn("dist", dist)
        .orderBy(F.asc("dist"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "label", "dist")
    )


def knn_prefiltered(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    k: int = 10,
    metric: str = "cosine",
    lang: str = "en",
) -> DataFrame:
    """Metadata-PREFILTERED vector search: restrict the candidate set by
    a document attribute (here `lang`) BEFORE scoring, then exact top-k
    — the filtered-ANN surface every production vector store exposes.
    The metadata restriction is a semi-join against the documents table
    pushed below the scoring projection, so only surviving vectors pay
    the kernel; at scale, when metadata lives denormalized on the vector
    table (the partitioned-store layout), this same plan becomes a
    partition-pruned scan + pushed filter with no join at all."""
    validate_k(k)
    qvec = query_vector(spark, sf_dir, query_id)
    from ..sources.tables import load as _load

    allowed = (
        _load(spark, sf_dir, "documents")
        .filter(F.col("lang") == lang)
        .select(F.col("doc_id").alias("vec_id"))
    )
    emb = _load(spark, sf_dir, "embeddings").join(allowed, "vec_id", "left_semi")
    return top_k(score_all(emb, qvec, metric), k)


def range_search(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    min_score: float = 0.2,
    metric: str = "cosine",
    library: int | None = None,
) -> DataFrame:
    """Radius (range) search: every vector whose similarity to the query
    clears `min_score` — the standard vector-store surface the top-k
    family can't express, because the RESULT SIZE is data-dependent (the
    reference's search is k-bounded, services/vector_service.py:214-241;
    range search is its recall-complete dual). Same scoring kernel and
    6-decimal rounding as knn/score_all, so the DuckDB oracle is exact.

    At scale this is the cheapest search shape in the file: one
    scan + filter, NO shuffle at all (not even the top-k
    sort), embarrassingly parallel at any corpus size, and the library
    filter partition-prunes like every other per-library scan."""
    qvec = query_vector(spark, sf_dir, query_id)
    scored = score_all(resident(spark, sf_dir, library), qvec, metric)
    return scored.filter(F.col("score") >= F.lit(float(min_score))).select(
        "vec_id", "label", "score"
    )
