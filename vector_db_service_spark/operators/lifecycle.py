"""Index lifecycle orchestration (I11) — per-library algorithm registry,
algorithm switch, and rebuild-affected-partitions-only recompute.

Parity target: reference VectorService's registry + rebuild machinery
(services/vector_service.py:54-464): per-library index instances keyed by
algorithm (factory defaults :19-40), `set_library_algorithm` (:314-346)
recreating the index object, `_rebuild_library_index` (:350-390) doing a
full per-library rebuild on every mutation.

Spark design: the registry is a tiny config frame (label, algorithm); an
index "instance" is a derived DataFrame — flat needs no structure
(SURVEY I1: the cached embedding partition IS the flat index), lsh is the
(vec_id, table_idx, bit) signature frame, grid is the (vec_id, cell) cell
frame. A rebuild touches ONLY the affected library's rows: the stored
index tables are written partitionBy(label), so store.rebuild_library is
a single-partition overwrite — the reference's "one rebuild per batch"
amortization (O9) with partition-scoped I/O instead of a global rebuild.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from . import grid as grid_ops
from . import lsh as lsh_ops

ALGORITHMS = ("flat", "lsh", "grid")


def default_algorithm(library: int) -> str:
    """algorithm_registry's label -> algorithm mapping for one library."""
    return ALGORITHMS[library % len(ALGORITHMS)]


def algorithm_registry(emb: DataFrame) -> DataFrame:
    """Default per-library algorithm config: deterministic label -> algo
    mapping (the analog of Library.preferred_index_algorithm,
    reference database/models.py:28-34). A NULL label is excluded: the
    registry is keyed by library id, and a vector without one cannot be
    routed to a per-library index (the service addresses indexes by
    library_id throughout vector_service.py). The isNotNull guard also
    dodges a Spark 4.1 DataFrame-path hazard where element_at on a
    LITERAL array with a NULL index constant-folds to the LAST element
    instead of NULL (the SQL path returns NULL correctly)."""
    return (
        emb.select("label").distinct()
        .filter(F.col("label").isNotNull())
        .withColumn(
            "algorithm",
            F.element_at(
                F.array(*[F.lit(a) for a in ALGORITHMS]),
                (F.col("label") % len(ALGORITHMS) + 1).cast("int"),
            ),
        )
    )


def switch_algorithm(registry: DataFrame, library: int, new_algorithm: str) -> DataFrame:
    """set_library_algorithm (vector_service.py:314-346): config row
    update; the rebuild of that library's index follows."""
    if new_algorithm not in ALGORITHMS:
        raise ValueError(f"unknown algorithm {new_algorithm!r}; expected {ALGORITHMS}")
    return registry.withColumn(
        "algorithm",
        F.when(F.col("label") == library, F.lit(new_algorithm)).otherwise(F.col("algorithm")),
    )


def index_state_after_switch(spark: SparkSession, sf_dir: str, *,
                             library: int = 2, new_algorithm: str = "grid") -> DataFrame:
    """I11 end-to-end as one checkable post-state: switch `library` to
    `new_algorithm`, rebuild every library's index under its (possibly
    new) algorithm, and report per-library (algorithm, n_index_rows).
    Index cardinalities are structural (flat: 0, lsh: n*num_hashes,
    grid: n), so the oracle verifies the rebuild fan-out exactly."""
    from ..sources.tables import embedding_dim, row_count

    emb = load(spark, sf_dir, "embeddings")
    registry = switch_algorithm(algorithm_registry(emb), library, new_algorithm)
    # footer-read dim, zero Spark jobs (dim 1 placeholder for an empty
    # table keeps hyperplanes well-formed; the builds emit 0 rows)
    nonempty = bool(row_count(sf_dir, "embeddings"))
    planes = lsh_ops.hyperplanes(embedding_dim(sf_dir) if nonempty else 1)
    mins, maxs = (
        grid_ops.bounds(emb, dim=embedding_dim(sf_dir)) if nonempty else ([], [])
    )

    lsh_rows = lsh_ops.build_index(emb, planes).groupBy("label").agg(
        F.count("*").alias("n_lsh")
    )
    grid_rows = grid_ops.build_index(emb, mins, maxs).groupBy("label").agg(
        F.count("*").alias("n_grid")
    )
    return (
        registry.join(lsh_rows, "label", "left")
        .join(grid_rows, "label", "left")
        .select(
            "label",
            "algorithm",
            F.when(F.col("algorithm") == "flat", F.lit(0))
            .when(F.col("algorithm") == "lsh", F.coalesce("n_lsh", F.lit(0)))
            .otherwise(F.coalesce("n_grid", F.lit(0)))
            .cast("long")
            .alias("n_index_rows"),
        )
    )


def knn_auto(spark: SparkSession, sf_dir: str, *, library: int,
             query_id: int = 0, k: int = 10, root: str | None = None) -> DataFrame:
    """§2.7 steps 1-5: resolve the library's preferred algorithm from the
    registry, lazy-build its index, dispatch the probe — the Spark form
    of VectorService.search_similar_chunks' config-driven dispatch
    (services/vector_service.py:214-241, SURVEY hard part #4). Metric
    defaults follow the factory (vector_service.py:19-40), as the
    probes' own: flat/lsh -> cosine, grid -> euclidean. An empty library
    short-circuits to zero rows. lsh/grid probe the MATERIALIZED
    per-library index under `root` (lazy-built on first use,
    operators/store.py), so build-once/query-many sessions read stored
    rows instead of recomputing signatures/cells; flat needs no
    structure (the embedding partition IS the index)."""
    from . import knn as knn_ops
    from . import store

    algorithm = default_algorithm(library)
    if algorithm == "flat":
        return knn_ops.knn(spark, sf_dir, query_id=query_id, k=k,
                           metric="cosine", library=library)
    probe = store.lsh_probe if algorithm == "lsh" else store.grid_probe
    return probe(spark, sf_dir, library=library, query_id=query_id, k=k, root=root)
