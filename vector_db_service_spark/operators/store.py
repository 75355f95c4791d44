"""Materialized index lifecycle (I11) — on-disk per-library index
tables + registry that a SECOND session can probe without recomputing.

Parity target: the reference keeps LIVE per-library index instances and
rebuilds one library's index on every mutation, down to zero vectors
(services/vector_service.py:54-66, 350-390), and answers a probe from
the index state it holds (vector_db/storage.py). The Spark form, every
table partitioned by label:

  lsh_index/     (vec_id, bucket, embedding, source_sig) — `bucket`
                 packs the vector's 10 sign bits (lsh.bucket_sql)
  grid_index/    (vec_id, cells, embedding, source_sig) — its grid cell
                 coordinates
  grid_bounds/   (mins, maxs, source_sig) — the normalization constants
  registry/      (algorithm, source_sig, n_rows) — preferred_index_algorithm
                 and the library's row count at that stamp
  ivf_centroids/ (centroid, source_sig) — the IVF coarse quantizer

`source_sig` is the stamp of the data the rows were built from: the
embeddings table's tables.path_signature, the same value on every row
of one build, written in the same commit as the rows it certifies (the
rule of every cache.memo entry and of the kmeans center stamps,
save_km_centers).

The index rows carry the embedding: the index COVERS its probe. They are
knn.covering_rows, the rows the derived searches keep resident in
memory (knn.resident), so the stored and the resident forms cannot
drift. A probe and its derived search call one function per index
(lsh.probe, grid.probe) and differ only in the rows they pass: here the
resident copy of the library's stored partition (Reading). That function
collects the bounded answer in ONE Spark job, with no join back to the
embeddings table, and returns it as a local frame; only when no row is
a candidate does the fallback run a second. So the same oracle SQL
checks both forms. A rebuild is a DYNAMIC-partition overwrite of
exactly one label directory per table (the per-write
`partitionOverwriteMode=dynamic` option), the partition-scoped analog
of `_rebuild_library_index`.

Reading. Every stored-state read (the stamps, the grid bounds, the
registry's count, the IVF centroids) goes through one reader, _stored,
memoized on the file identity of the library's label partition (the
whole table for the centroids), which every write of it changes, so a
rebuild of one library leaves every other library's entries hits. Warm,
an lsh or IVF probe reads 1 entry before its job and a grid probe 2 (its
stamp and its bounds row): memo hits, no Spark job, no FileSystem call.
A miss checks existence through Spark's Hadoop FileSystem API, NOT
driver-local os.path: on a shared/remote store a path invisible to the
driver's local FS is not "an empty library".

The index rows a probe scans are RESIDENT, as the reference keeps its
indexes live (vector_db/storage.py): _library_rows keeps the library's
stored partition, with `sq`, cached in Spark's block manager under the
rule of knn.resident (knn.keep_resident), keyed on that partition's
file identity. Its first probe infers the partition's schema (one
job) and fills the copy inside its own job; a warm probe opens no
parquet file. A changed
partition (a rebuild, or any other writer) releases the superseded copy
before the next one is read, because Spark's CacheManager would match
that read to the old copy by its path. The IVF lists are the
libraries, so ivf_probe scores the libraries' resident copies
(knn.resident), the ones library k-NN searches scan. A Spark write into
a stored table refreshes every copy cached under that table's root
(CacheManager.recacheByPath), so rebuilding one library makes the
others' copies refill from their unchanged files on their next probe,
inside that probe's one job.

Freshness. Since a probe no longer re-ranks against the live
embeddings, a stale index would serve wrong scores, not only lower
recall, so staleness must catch any rewrite of the data, in-place
value edits included. A library is fresh when its partition of EACH
table its algorithm reads (lsh_index; grid_index and grid_bounds; the
registry for flat) carries the embeddings table's current signature, a
driver-side stat of its files, or when the registry records 0 rows for
it at that signature; the IVF centroids are fresh when every row
carries it. The stamp is taken BEFORE the rebuild reads the data: a
write that lands during the rebuild leaves an older stamp, so the next
probe rebuilds again, where a stamp taken after the read would certify
rows built from the older data. A partition with no stamp, or no
partition, is stale. The stamp covers the whole embeddings table, so a
rewrite of any file — even one that touches a single library's rows —
makes every library's stored index and the IVF centroids stale, and
each rebuilds on its next probe; the write-then-probe cost of that is
not measured by any benchmark workload.

Empty libraries. A library with no rows, never filled or emptied by a
rewrite, is a recorded state, not a missing partition: its rebuild
writes no index rows, drops the library's old partitions from its
algorithm's tables and records n_rows = 0 (counted in the rebuild's own
write job), and its probes return no rows without rebuilding. An empty
corpus has no centroids, so its IVF state is fresh as it is.

Concurrency. Within one process, a stale library or centroid table is
checked again and rebuilt under one lock (_fresh), so concurrent probes
rebuild it once. Across processes, two rebuilds of one library are
safe: (a) each table's dynamic-partition overwrite replaces the
`label=N` directory in one FileOutputCommitter commit, so readers see
the old complete partition or the new one, never a mix of files from
two builds; (b) the stamp lives in the rows, so rows and stamp land in
one commit and a stamp never certifies rows of another build. If the
data is rewritten while two rebuilds run, each partition still carries
the stamp of the data its rows were read from, and any partition whose
stamp is not the current signature is rebuilt on the next probe. The
grid probe reads two tables (cells and bounds); a probe that sees them
from two builds of different data sees two stamps, at least one stale,
and rebuilds. On a production lakehouse the same layout upgrades to
Delta/Iceberg `replaceWhere`/`overwritePartitions` for snapshot-atomic
multi-table commits — the operator surface is unchanged.
"""

from __future__ import annotations

import json
import os
import sys
from typing import Callable

from py4j.protocol import Py4JJavaError
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .. import cache
from ..sources.tables import embedding_dim, load, path_signature, row_count
from . import grid as grid_ops
from . import lifecycle
from . import lsh as lsh_ops
from .knn import (
    covering_rows, keep_resident, local_top_k, query_vector, resident, score_all, spark_order,
    top_k, validate_k,
)

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
# covering layout: a store written by the earlier (vec_id, table_idx,
# bit) / (vec_id, cells, cell_key) layout lives under another name, so a
# one-label dynamic overwrite never mixes two schemas in one table
DEFAULT_ROOT = os.path.join(_REPO_ROOT, "spark-warehouse", "vdbs_covering_indexes")

# the registry's record of a library: the stamp and its row count there
_COUNTED = ("source_sig", "n_rows")
# per algorithm, the tables whose label partition a probe reads and the
# columns it reads there, the stamp first (module docstring, Freshness).
# flat stores no index structure (I1), so its registry row is its stamp.
_READS = {
    "lsh": {"lsh_index": ("source_sig",)},
    "grid": {"grid_index": ("source_sig",), "grid_bounds": ("source_sig", "mins", "maxs")},
    "flat": {"registry": _COUNTED},
}
_CENTROIDS = ("label", "centroid", "source_sig")
# the schema save_km_centers writes, as StructType.simpleString()
_KM_SCHEMA = "struct<list_id:int,centroid:array<double>,source_sig:string>"
_TYPES = {"label": "int", "source_sig": "string", "n_rows": "bigint", "mins": "array<double>",
          "maxs": "array<double>", "centroid": "array<double>"}


def index_root(sf_dir: str, root: str | None = None) -> str:
    """One store per source dataset (sf tag) so scale factors never
    cross-contaminate."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    return os.path.join(root or DEFAULT_ROOT, tag)


def _dynamic_overwrite(df: DataFrame, path: str, col: str = "label") -> None:
    """Overwrite ONLY the `col` partitions present in `df`, keeping every
    other partition's directory untouched — the reference's one-library
    rebuild with partition-scoped I/O (col="list_id" gives the same
    contract for IVF list partitions). The mode is a per-write option,
    never a flip of the session-global conf: a concurrent rebuild could
    otherwise restore `static` while this write runs, and a static
    overwrite replaces the whole table — every other label's partition."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(col)
        .parquet(path)
    )


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) of `path` through the Hadoop FileSystem API —
    works on any Spark-visible filesystem (local, HDFS, object store),
    unlike driver-local os.path probes."""
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _fs_exists(spark: SparkSession, path: str) -> bool:
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath))


def _holds_data(spark: SparkSession, path: str) -> bool:
    """Whether `path` exists and lists a file Spark reads as data: one
    whose name lacks the `_` or `.` prefix of the files and directories
    its reader skips (`_SUCCESS`, `_temporary/`, `.crc` checksums)."""
    fs, hpath = _fs(spark, path)
    return bool(fs.exists(hpath)) and any(
        not st.getPath().getName().startswith(("_", ".")) for st in fs.listStatus(hpath))


def _source_stamp(sf_dir: str) -> str:
    """The embeddings table's path_signature as the string the stored
    rows carry."""
    return json.dumps(path_signature(os.path.join(sf_dir, "embeddings.parquet")))


def _stored(spark: SparkSession, table_dir: str, columns: tuple[str, ...],
            library: int | None = None, written: tuple | None = None) -> tuple[tuple, ...]:
    """The one reader of stored state: `columns` of every row of the
    table, or of the first row of the `library` label partition (every
    column read there holds one value per partition). () for no table or
    no partition. The declared schema needs no inference job, and reads a
    column that a table of an older layout lacks as NULL: stale. Memoized
    on the file identity of what it reads: the `label=N` partition
    directory for a library, so a rebuild of one library leaves every
    other library's entry a hit, else the whole table. An absent table or
    partition is checked afresh on every call, through the FileSystem API
    alone: no Spark job. `written` records the rows a rebuild just wrote
    instead of reading them back: only rows whose caller uses them as a
    fact about the data their stamp names (a count, the centroids), never
    a stamp that certifies index rows a probe then reads from disk."""
    source = table_dir if library is None else os.path.join(table_dir, f"label={int(library)}")

    def read() -> tuple[tuple, ...]:
        if not _fs_exists(spark, source):
            return ()
        schema = ", ".join(f"{c} {_TYPES[c]}" for c in dict.fromkeys((*columns, "label")))
        table = spark.read.schema(schema).parquet(table_dir)
        if library is not None:
            table = table.filter(f"label = {int(library)}").limit(1)
        return tuple(tuple(r) for r in table.select(*columns).collect())

    return cache.memo("stored", source, (library, columns),
                      read if written is None else lambda: written)


def _fresh(lock_key: tuple, check: Callable[[], tuple | None],
           rebuild: Callable[[], tuple]) -> tuple:
    """check(), the stored state or None when stale; when stale, checked
    again and rebuilt under the process-wide lock of `lock_key`, so
    concurrent probes in one process rebuild once. rebuild() returns the
    state it wrote."""
    state = check()
    if state is None:
        with cache.key_lock(lock_key):
            state = check()
            if state is None:
                state = rebuild()
    return state


def _library_state(spark: SparkSession, base: str, library: int, algorithm: str,
                   stamp: str) -> tuple | None:
    """The rows a probe of `library` reads, one per table of its
    algorithm, when each carries `stamp`; () when the registry records
    the library empty at `stamp`; None when it is stale."""
    rows = [_stored(spark, os.path.join(base, table), columns, library)
            for table, columns in _READS[algorithm].items()]
    if all(r and r[0][0] == stamp for r in rows):
        return tuple(r[0] for r in rows)
    if _stored(spark, os.path.join(base, "registry"), _COUNTED, library) == ((stamp, 0),):
        return ()
    return None


def _write_counted(df: DataFrame, path: str) -> int:
    """_dynamic_overwrite of `df`; its row count, observed in the write."""
    obs = Observation()
    _dynamic_overwrite(df.observe(obs, F.count(F.lit(1)).alias("n")), path)
    return obs.get["n"]


def _rebuild(spark: SparkSession, sf_dir: str, library: int, algorithm: str | None,
             root: str | None) -> tuple:
    """_rebuild_library_index (vector_service.py:350-390) against the
    STORE: recompute one library's covering index rows, dynamic-overwrite
    that label's partition of each table, and record the library's row
    count in its registry row. Returns the state _library_state reads."""
    algorithm = algorithm or lifecycle.default_algorithm(library)
    if algorithm not in lifecycle.ALGORITHMS:
        raise ValueError(f"unknown algorithm {algorithm!r}; expected {lifecycle.ALGORITHMS}")
    base = index_root(sf_dir, root)
    stamp = _source_stamp(sf_dir)  # BEFORE the read (module docstring)
    emb = load(spark, sf_dir, "embeddings").filter(F.col("label") == library)
    n, bounds = 0, ()
    if algorithm == "flat":
        n = emb.count()
    elif row_count(sf_dir, "embeddings"):  # footer reads, zero Spark jobs
        dim = embedding_dim(sf_dir)
        if algorithm == "lsh":
            rows = covering_rows(emb, lsh_ops.covering_column(lsh_ops.hyperplanes(dim)))
            n = _write_counted(rows.withColumn("source_sig", F.lit(stamp)),
                               os.path.join(base, "lsh_index"))
        else:
            mins, maxs = grid_ops.bounds(emb, dim=dim)
            if mins:  # an empty library has no bounds
                rows = covering_rows(emb, grid_ops.covering_column(mins, maxs))
                n = _write_counted(rows.withColumn("source_sig", F.lit(stamp)),
                                   os.path.join(base, "grid_index"))
                bounds = ((stamp, mins, maxs),)
                _dynamic_overwrite(spark.createDataFrame(
                    [(library, mins, maxs, stamp)],
                    "label int, mins array<double>, maxs array<double>, source_sig string",
                ), os.path.join(base, "grid_bounds"))
    if n == 0 and algorithm != "flat":  # a zero-row write replaces no partition
        for table in _READS[algorithm]:
            fs, hpath = _fs(spark, os.path.join(base, table, f"label={int(library)}"))
            fs.delete(hpath, True)
    registry = os.path.join(base, "registry")
    _dynamic_overwrite(spark.createDataFrame(
        [(library, algorithm, stamp, n)],
        "label int, algorithm string, source_sig string, n_rows bigint",
    ), registry)
    # spares an empty library's next probe the read
    _stored(spark, registry, _COUNTED, library, written=((stamp, n),))
    if algorithm == "flat":
        return ((stamp, n),)
    return ((stamp,), *bounds) if n else ()


def rebuild_library(
    spark: SparkSession,
    sf_dir: str,
    library: int,
    algorithm: str | None = None,
    root: str | None = None,
) -> str:
    """Force-rebuild one library's stored index (_rebuild). Returns the
    store root."""
    _rebuild(spark, sf_dir, library, algorithm, root)
    return index_root(sf_dir, root)


def _library(spark: SparkSession, sf_dir: str, library: int, algorithm: str,
             root: str | None) -> tuple[str, tuple]:
    """(store root, the library's fresh state), rebuilt when stale."""
    base = index_root(sf_dir, root)
    return base, _fresh(
        ("store_rebuild", base, library),
        lambda: _library_state(spark, base, library, algorithm, _source_stamp(sf_dir)),
        lambda: _rebuild(spark, sf_dir, library, algorithm, root),
    )


def ensure_library(
    spark: SparkSession,
    sf_dir: str,
    library: int,
    algorithm: str | None = None,
    root: str | None = None,
) -> str:
    """Lazy build with STALENESS detection: rebuild the library's stored
    index unless it is fresh (module docstring) — the reference's
    build-on-first-use, vector_service.py:214-241, plus a rebuild after
    any rewrite of the data. Warm, every check is a memo hit: no Spark
    job, no FileSystem call. Returns the store root."""
    algorithm = algorithm or lifecycle.default_algorithm(library)
    return _library(spark, sf_dir, library, algorithm, root)[0]


def stored_registry(spark: SparkSession, sf_dir: str,
                    root: str | None = None) -> DataFrame:
    return spark.read.parquet(os.path.join(index_root(sf_dir, root), "registry"))


def _library_rows(spark: SparkSession, table_dir: str, library: int) -> DataFrame:
    """The `library` partition of a stored index table (its rows and
    label), kept resident with `sq` by knn.keep_resident on that
    partition's file identity: warm, a probe scans memory, and a rebuild
    of another library leaves this copy a hit."""
    part = os.path.join(table_dir, f"label={int(library)}")
    return keep_resident(part, (), lambda: spark.read.option("basePath", table_dir).parquet(part))


def lsh_probe(
    spark: SparkSession,
    sf_dir: str,
    *,
    library: int,
    query_id: int = 0,
    k: int = 10,
    metric: str = "cosine",
    root: str | None = None,
) -> DataFrame:
    """Probe the STORED lsh index: lsh.probe over the library's stored
    rows, whose packed bucket agrees with the query's signature in ANY
    table (the reference's union-of-buckets, algorithms.py:387-391) —
    every key but the query's complement — scored on their stored
    embedding. No signature recompute, no join."""
    validate_k(k)
    base, state = _library(spark, sf_dir, library, "lsh", root)
    qvec = query_vector(spark, sf_dir, query_id)
    if not state:  # an empty library
        return local_top_k(load(spark, sf_dir, "embeddings"), [])
    rows = _library_rows(spark, os.path.join(base, "lsh_index"), library)
    return lsh_ops.probe(rows, qvec, lsh_ops.hyperplanes(len(qvec)), k, metric)


def grid_probe(
    spark: SparkSession,
    sf_dir: str,
    *,
    library: int,
    query_id: int = 0,
    k: int = 10,
    metric: str = "euclidean",
    root: str | None = None,
) -> DataFrame:
    """Probe the STORED grid index: grid.probe over the library's stored
    rows and bounds — the cell assignment is READ, not recomputed, and
    the rows carry the embedding the re-rank scores."""
    validate_k(k)
    base, state = _library(spark, sf_dir, library, "grid", root)
    qvec = query_vector(spark, sf_dir, query_id)
    if not state:  # an empty library
        return local_top_k(load(spark, sf_dir, "embeddings"), [])
    _, (_, mins, maxs) = state
    rows = _library_rows(spark, os.path.join(base, "grid_index"), library)
    return grid_ops.probe(rows, qvec, mins, maxs, k, metric)


def rebuild_and_probe(
    spark: SparkSession,
    sf_dir: str,
    *,
    library: int = 1,
    query_id: int = 0,
    k: int = 10,
    root: str | None = None,
) -> DataFrame:
    """I11 end-to-end against the store: force-rebuild one library's
    partition, then probe it as lifecycle.knn_auto dispatches. The result
    contract equals the derived probe, so lsh_search_sql /
    grid_search_sql oracle-check the whole write->read path."""
    rebuild_library(spark, sf_dir, library, root=root)
    return lifecycle.knn_auto(spark, sf_dir, library=library, query_id=query_id, k=k,
                              root=root)


def _centroids(spark: SparkSession, sf_dir: str, base: str) -> tuple[tuple, ...]:
    """The stored IVF centroid rows (label, centroid, source_sig), fresh
    when each carries the current stamp (or the corpus is empty), else
    rebuilt: stamped before the read, collected (a row per library) and
    written in one overwrite."""
    path = os.path.join(base, "ivf_centroids")

    def check() -> tuple[tuple, ...] | None:
        rows, stamp = _stored(spark, path, _CENTROIDS), _source_stamp(sf_dir)
        fresh = bool(rows) or not row_count(sf_dir, "embeddings")
        return rows if fresh and all(r[2] == stamp for r in rows) else None

    def rebuild() -> tuple[tuple, ...]:
        from .ann import centroids

        stamp = _source_stamp(sf_dir)
        rows = tuple((r["label"], r["centroid"], stamp)
                     for r in centroids(load(spark, sf_dir, "embeddings")).collect())
        df = spark.createDataFrame(rows, "label int, centroid array<double>, source_sig string")
        df.write.mode("overwrite").partitionBy("label").parquet(path)
        return _stored(spark, path, _CENTROIDS, written=rows)

    return _fresh(("ivf_rebuild", base), check, rebuild)


def ensure_ivf_centroids(spark: SparkSession, sf_dir: str, root: str | None = None) -> str:
    """The IVF coarse index (_centroids) built once and READ on every
    probe, fresh by the rule of ensure_library. Returns the store root."""
    base = index_root(sf_dir, root)
    _centroids(spark, sf_dir, base)
    return base


def km_centers_path(sf_dir: str, n_lists: int, root: str | None = None) -> str:
    return os.path.join(index_root(sf_dir, root), f"mllib_km_centers_{n_lists}")


def load_km_centers(
    spark: SparkSession, sf_dir: str, n_lists: int, root: str | None = None
) -> list | None:
    """Durable read side of the MLlib quantizer state (r11 verdict #5):
    the fitted kmeans|| centers are INDEX STATE — train once, probe
    many — and before this round the memo died with the process, so a
    new session re-paid the distributed fit once per corpus. Returns
    the persisted centers iff the stored source signature (the same
    tables.path_signature identity every driver-side memo keys on)
    matches the embeddings table's CURRENT signature; None on any
    mismatch or absence, and the caller refits + persists. The read is
    a bounded n_lists-row collect of a single-file parquet — index
    registry semantics (reference services/vector_service.py:54-464)
    done durably, same contract as ensure_ivf_centroids above."""
    p = km_centers_path(sf_dir, n_lists, root)
    # r12 advisor: a partial/corrupt persisted dir (crash between mkdir
    # and part-file write, schema drift, truncated footer) must degrade
    # to a REFIT — which overwrites the bad state — not poison every
    # kmeans-backed query until someone hand-deletes the path. So a dir
    # with no data file (a killed write leaves only `_temporary/`), a
    # file Spark cannot read, or a schema other than save_km_centers'
    # reads as a miss; any other error surfaces.
    if not _holds_data(spark, p):
        return None
    sig = _source_stamp(sf_dir)
    try:
        table = spark.read.parquet(p)
        schema = table.schema.simpleString()
        why = None if schema == _KM_SCHEMA else f"schema {schema}"
        rows = table.collect() if why is None else []
    except Py4JJavaError as exc:
        if not _unreadable_file(spark, exc):
            raise
        why = exc.java_exception.toString()
    if why is not None:
        print(f"[vdbs] rejecting persisted kmeans centers at {p}: {why}; "
              "refitting (the refit overwrites this state)", file=sys.stderr)
        return None
    # Accept 1..n_lists centers with CONTIGUOUS list_ids: MLlib kmeans
    # can legitimately fit fewer than k centers on degenerate data
    # (n distinct points < k), and requiring exactly n_lists made that
    # valid state perpetually refit+rewrite on every cold start (r12
    # advisor). Contiguity still rejects a file missing interior rows.
    # list_id IS the center's position in the fitted order — downstream
    # argmin/list routing depends on it, so restore order explicitly.
    centers = {r["list_id"]: r["centroid"] for r in rows if r["source_sig"] == sig}
    if (not rows or len(rows) > n_lists or set(centers) != set(range(len(rows)))
            or any(c is None or None in c for c in centers.values())):
        return None
    return [list(centers[i]) for i in range(len(rows))]


def _unreadable_file(spark: SparkSession, exc: Py4JJavaError) -> bool:
    """Whether Spark failed `exc` because a file could not be read. The
    task failure wraps the cause: a truncated or garbled parquet file
    raises a SparkException of a FAILED_READ_FILE condition, and one
    that no longer matches its Hadoop checksum file an IOException."""
    from py4j.java_gateway import is_instance_of

    gateway = spark.sparkContext._gateway
    cause = exc.java_exception
    while cause is not None:
        if is_instance_of(gateway, cause, "java.io.IOException") or (
                is_instance_of(gateway, cause, "org.apache.spark.SparkThrowable")
                and str(cause.getCondition()).startswith("FAILED_READ_FILE")):
            return True
        cause = cause.getCause()
    return False


def save_km_centers(
    spark: SparkSession,
    sf_dir: str,
    n_lists: int,
    centers: list,
    root: str | None = None,
) -> None:
    """Write side of load_km_centers: persists the fitted centers next
    to the stored IVF index, stamped with the source table's
    path_signature so a dataset rewrite invalidates them exactly like
    every other stored-index fingerprint."""
    sig = _source_stamp(sf_dir)
    df = spark.createDataFrame(
        [(i, [float(x) for x in c], sig) for i, c in enumerate(centers)],
        "list_id int, centroid array<double>, source_sig string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        km_centers_path(sf_dir, n_lists, root)
    )


def probed_labels(
    cents, qvec: list[float], metric: str, nprobe: int
) -> list[int]:
    """Labels of the best `nprobe` centroids, ranked on the driver in the
    order Spark's `Window.orderBy(desc(c_score), asc(label))` gives:
    NaN first and NULL last (desc), ties and NULL labels by label
    ascending, NULLs first. Scores are ann._py_score, bit-identical to
    sim.score. A NULL label keeps its rank slot and matches no row, as
    it did in the window plus equi-join."""
    from .ann import _py_score

    def key(entry):
        label, cent = entry
        return spark_order(_py_score(metric, cent, qvec), label)

    return [label for label, _ in sorted(cents, key=key)[:nprobe] if label is not None]


def ivf_probe(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    k: int = 10,
    nprobe: int = 1,
    metric: str = "cosine",
    root: str | None = None,
) -> DataFrame:
    """Probe the STORED IVF index: rank the persisted centroids on the
    driver (read once per index version, probed_labels), then exactly
    re-rank the best `nprobe` lists. The lists are the libraries, so
    each is its library's resident copy (knn.resident), the one a
    library k-NN search scans too: one Spark job, from memory when warm.
    Result contract equals the derived ivf_topk, so the same oracle
    checks the write->read path."""
    import functools

    validate_k(k)
    cents = _centroids(spark, sf_dir, index_root(sf_dir, root))
    qvec = query_vector(spark, sf_dir, query_id)
    labels = probed_labels([(label, c) for label, c, _ in cents], qvec, metric, nprobe)
    lists = [resident(spark, sf_dir, label) for label in labels]
    rows = (functools.reduce(DataFrame.union, lists) if lists
            else load(spark, sf_dir, "embeddings").filter(F.lit(False)))
    return top_k(score_all(rows, qvec, metric), k)


# --- dataset versioning / time travel (round 14) ----------------------------
#
# Reproducible training snapshots: "train on the corpus exactly as of
# commit k" is a first-class need of a 100-TB data pipeline (rerunning
# an ablation against a store that CDC has since mutated is silent
# corruption). Delta/Iceberg solve it with a table format; the same
# contract falls out of partition-level COPY-ON-WRITE plus a manifest:
# each CDC commit rewrites ONLY its affected label partitions under a
# new version directory, the manifest maps every (version, label) to
# the newest directory at-or-before that version, and any historical
# snapshot reads at full scan speed with zero log reconstruction. The
# reference has no versioning at all — this is the §2.14
# beyond-reference family extended to store lifecycle.

def _versioned_read(
    spark: SparkSession, manifest: dict, version: int
) -> DataFrame:
    """Snapshot as of `version`: per label, the newest committed
    directory at-or-before it (the COW manifest lookup). Selected
    label dirs are GROUPED BY COMMIT and each group is read as ONE
    relation (`basePath` = the commit dir, so the `label` partition
    column comes back for free) — a per-label relation costs ~0.1 s of
    driver planning each, and 10 labels x 3 versions made the summary
    pass 3.3 s of pure planning. Every leaf remains a plain
    partition-pruned parquet scan."""
    import functools

    pick: dict = {}
    for (v, label), d in manifest.items():
        if v <= version and (label not in pick or pick[label][0] < v):
            pick[label] = (v, d)
    by_commit: dict = {}
    for _label, (v, d) in pick.items():
        by_commit.setdefault(v, []).append(d)
    frames = [
        spark.read.option("basePath", os.path.dirname(dirs[0]))
        .parquet(*sorted(dirs))
        .select("vec_id", F.col("label").cast("int").alias("label"),
                "embedding")
        for v, dirs in sorted(by_commit.items())
    ]
    return functools.reduce(lambda a, b: a.unionByName(b), frames)


# The deterministic CDC change log of the versioned store, the streamed
# store merge and the incrementally maintained view: DELETE the rows with
# vec_id % 13 == 7 and UPDATE those with vec_id % 11 == 5, a delete
# winning where both match; an update's re-embedding is
# reverse(embedding), an IEEE-exact permutation the oracles replay with
# list_reverse.
CDC_DEL_MOD, CDC_DEL_REM = 13, 7
CDC_UPD_MOD, CDC_UPD_REM = 11, 5


def cdc_op() -> Column:
    """'delete', 'update', or NULL for a row the CDC log leaves alone."""
    return F.when(F.col("vec_id") % CDC_DEL_MOD == CDC_DEL_REM, F.lit("delete")).when(
        F.col("vec_id") % CDC_UPD_MOD == CDC_UPD_REM, F.lit("update")
    )


def cdc_log(base: DataFrame, *before: Column) -> DataFrame:
    """The CDC log over `base`, one row per mutated vec_id: (vec_id,
    label, op, *before, embedding), the embedding the after-image (NULL
    for a delete); `before` are columns of the base row."""
    op = cdc_op()
    return base.filter(op.isNotNull()).select(
        "vec_id",
        "label",
        op.alias("op"),
        *before,
        F.when(op == "update", F.reverse(F.col("embedding"))).alias("embedding"),
    )


def versioned_cdc_merge(
    spark: SparkSession, sf_dir: str, out_dir: str | None = None
) -> tuple[dict, str]:
    """Commit the deterministic CDC log (cdc_log) as TWO ordered version
    commits — batch 1 is the even-vec_id half of the log, batch 2 the
    odd half (a content split, so version history is deterministic and
    SQL-replayable; a timestamp split would not be). Returns (manifest,
    out_dir); version 0 is the pre-CDC bootstrap."""
    # the store partitions by library id (label); the reference schema
    # makes library_id a REQUIRED FK (database/models.py), so a vector
    # without one is not storable — same insert-time validation here
    base = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("label").isNotNull())
        .select("vec_id", "label", "embedding")
    )
    out_dir = out_dir or cache.scratch_dir("vdbs_timetravel_")
    manifest: dict = {}

    def _commit(df: DataFrame, version: int, labels: list) -> None:
        # ONE label-partitioned write per commit (a per-label write loop
        # costs one sequential Spark job per label — measured 9.4 s for
        # the 3-version lifecycle vs ~2.5 s fused); the manifest then
        # points at the per-label partition directories the single
        # commit produced.
        vdir = os.path.join(out_dir, f"v{version}")
        df.select("vec_id", "embedding", "label").write.mode(
            "overwrite"
        ).partitionBy("label").parquet(vdir)
        for label in labels:
            manifest[(version, label)] = os.path.join(vdir, f"label={label}")

    # ONE distinct scan answers all three label questions (every label
    # for the v0 commit + each CDC half-batch's affected set) — the
    # former three separate collect jobs each re-scanned the corpus for
    # information this single (label, parity) frame already carries
    # (r16 opt: guide §1.2, fewer passes; x6 across the store family)
    label_parity = {
        (r["label"], r["parity"])
        for r in base.select(
            "label",
            F.when(cdc_op().isNotNull(), F.col("vec_id") % 2)
            .cast("int").alias("parity"),
        ).distinct().collect()
    }
    all_labels = sorted({lab for lab, _p in label_parity})
    _commit(base, 0, all_labels)

    log = cdc_log(base)
    for b, parity in ((1, 0), (2, 1)):
        batch = log.filter(F.col("vec_id") % 2 == parity)
        affected = sorted(
            lab for lab, p in label_parity if p == parity
        )
        if not affected:
            continue
        cur = _versioned_read(spark, manifest, b - 1).filter(
            F.col("label").isin(affected)
        )
        post = (
            cur.join(batch.select("vec_id"), "vec_id", "left_anti")
            .unionByName(
                batch.filter(F.col("op") == "update").select(
                    "vec_id", "label", "embedding"
                )
            )
        )
        _commit(post, b, affected)
    return manifest, out_dir


def versioned_cdc_tree(
    spark: SparkSession, sf_dir: str
) -> tuple[dict, str]:
    """Shared PRISTINE committed CDC history for the read-only store
    lifecycle consumers (time travel, diff, restore-as-metadata,
    incremental read, clone source, compaction source) — the
    materialize-once discipline of near_dup_labels_cached applied to
    the version store itself: a store is committed ONCE and every
    lifecycle query reads the same committed tree; re-committing the
    identical deterministic history per query was 5x the same three
    write jobs per bench sweep. Keyed by source-file identity
    (cache.memo), so a changed corpus invalidates the tree and removes
    the old one; the tree lives in a cache-owned directory, so a rebuild
    on the same corpus rewrites it in place. The returned manifest is a
    COPY (consumers may add metadata commits), and the returned
    directories are READ-ONLY by contract — any consumer that must
    mutate or delete directories (store_vacuum) builds its own private
    tree via versioned_cdc_merge. Consumers return LAZY frames over the
    tree; it is removed when superseded or at exit."""
    manifest, out_dir = cache.memo(
        "cdc_tree",
        os.path.join(sf_dir, "embeddings.parquet"),
        (),
        lambda d: versioned_cdc_merge(spark, sf_dir, out_dir=d),
        artifact=True,
    )
    return dict(manifest), out_dir


def store_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry surface: commit the CDC history, then read EVERY
    version back through the manifest and summarize each snapshot
    (row count + a BIGINT micro-unit checksum of the first embedding
    component — order-independent, so the hash compares exactly).
    Exact oracle: per-version CDC predicate replay
    (store_time_travel_sql). Reads the SHARED committed tree
    (versioned_cdc_tree) and returns lazily — the consumer's own
    action materializes the one aggregation job (r17 opt: the former
    private-tree + return-time eager checkpoint paid the three commit
    writes plus one pinning job per query for an identical result)."""
    import functools

    manifest, _out_dir = versioned_cdc_tree(spark, sf_dir)
    versions = sorted({v for (v, _l) in manifest})
    # ONE aggregation job over the union of version-tagged snapshot
    # reads (three separate agg jobs paid ~0.4 s of scheduling each
    # at local[32] for trivial data)
    tagged = [
        _versioned_read(spark, manifest, v).select(
            F.lit(v).cast("int").alias("version"), "embedding"
        )
        for v in versions
    ]
    return (
        functools.reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("version")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.expr(
                    "CAST(round(CAST(element_at(embedding, 1) AS DOUBLE)"
                    " * 1e6) AS BIGINT)"
                )
            ).cast("long").alias("sum_e0_us"),
        )
    )


def store_time_travel_sql() -> str:
    """DuckDB mirror: version k = the base table with the first k CDC
    half-batches applied (deletes %13==7 removed, surviving updates
    %11==5 reversed; batch parity on vec_id%2)."""

    def ver(conds: str) -> str:
        if not conds:
            return ("SELECT vec_id, label, embedding FROM embeddings"
                    " WHERE label IS NOT NULL")
        return f"""
  SELECT vec_id, label,
         CASE WHEN vec_id % 11 = 5 AND vec_id % 13 != 7 AND ({conds})
              THEN list_reverse(embedding) ELSE embedding END AS embedding
  FROM embeddings
  WHERE label IS NOT NULL AND NOT (vec_id % 13 = 7 AND ({conds}))"""

    def summ(v: int, body: str) -> str:
        return f"""
SELECT {v} AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT))
            AS BIGINT) AS sum_e0_us
FROM ({body})"""

    v0 = ver("")
    v1 = ver("vec_id % 2 = 0")
    v2 = ver("vec_id % 2 = 0 OR vec_id % 2 = 1")
    return (
        summ(0, v0) + "\nUNION ALL" + summ(1, v1) + "\nUNION ALL" + summ(2, v2)
    )


def _vacuum_private_tree(
    spark: SparkSession, sf_dir: str
) -> tuple[dict, str]:
    """A PRIVATE copy of the committed CDC tree that a destructive
    consumer (vacuum) may delete from: hardlink-clone of the shared
    pristine tree when the filesystem supports it (no data copied; the
    clone's manifest mirrors the source layout under the private
    root), falling back to a fresh versioned_cdc_merge on any link
    failure (cross-device, permission, non-POSIX store)."""
    src_manifest, src_root = versioned_cdc_tree(spark, sf_dir)
    priv = cache.scratch_dir("vdbs_vacuum_")
    try:
        for root, dirs, files in os.walk(src_root):
            rel = os.path.relpath(root, src_root)
            dst = priv if rel == "." else os.path.join(priv, rel)
            os.makedirs(dst, exist_ok=True)
            for f in files:
                os.link(os.path.join(root, f), os.path.join(dst, f))
    except OSError:
        import shutil

        shutil.rmtree(priv, ignore_errors=True)
        return versioned_cdc_merge(spark, sf_dir)
    manifest = {
        k: os.path.join(priv, os.path.relpath(d, src_root))
        for k, d in src_manifest.items()
    }
    return manifest, priv


def store_vacuum_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention/vacuum for the versioned store — the lifecycle step
    that makes COW versioning sustainable: keep exactly the directories
    the LATEST snapshot references (per label, its newest commit),
    physically delete every other version dir, and then RE-READ the
    surviving snapshot so the returned summary proves the vacuum
    removed nothing the live view needs (a wrong needed-set would
    surface as a missing-path read error or a count/checksum hash
    mismatch, not a silent pass). The Delta VACUUM analog without the
    table format; at 100 TB this is the storage-reclaim job that runs
    after retention windows expire.

    Output: one row — post-vacuum n_rows + BIGINT micro-unit checksum
    of the latest snapshot, plus the kept/removed directory accounting
    (both derivable from the CDC predicates, so the oracle recomputes
    them from label algebra alone).

    r17: vacuum DELETES directories, so it cannot read the shared
    pristine tree in place — instead of re-committing the whole history
    (three label-partitioned writes per call), it HARDLINK-clones the
    shared tree into a private dir (O(metadata), the filesystem
    snapshot/reflink pattern: unlinking a hardlinked dir never touches
    the source bytes) and vacuums the clone. Identical layout,
    identical deletions, zero Spark jobs for the setup."""
    import functools
    import shutil

    manifest, out_dir = _vacuum_private_tree(spark, sf_dir)
    try:
        pick: dict = {}
        for (v, label), d in manifest.items():
            if label not in pick or pick[label][0] < v:
                pick[label] = (v, d)
        needed = {d for (_v, d) in pick.values()}
        removed = sorted(set(manifest.values()) - needed)
        for d in removed:
            shutil.rmtree(d, ignore_errors=True)
        kept_manifest = {
            (v, label): d for label, (v, d) in pick.items()
        }
        latest = max(v for (v, _l) in manifest)
        snap = _versioned_read(spark, kept_manifest, latest)
        return snap.agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.expr(
                    "CAST(round(CAST(element_at(embedding, 1) AS DOUBLE)"
                    " * 1e6) AS BIGINT)"
                )
            ).cast("long").alias("sum_e0_us"),
        ).select(
            "n_rows",
            "sum_e0_us",
            F.lit(len(needed)).cast("long").alias("n_dirs_kept"),
            F.lit(len(removed)).cast("long").alias("n_dirs_removed"),
        ).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


def store_vacuum_retention_sql() -> str:
    """Mirror: the latest snapshot is the full CDC merge (both
    half-batches applied); the directory accounting is pure label
    algebra — every label owns one v0 dir plus one dir per half-batch
    that mutates it, and the vacuum keeps exactly one (the newest) per
    label."""
    in_log = "(vec_id % 13 = 7 OR vec_id % 11 = 5)"
    return f"""
WITH post AS (
  SELECT vec_id, label,
         CASE WHEN vec_id % 11 = 5 AND vec_id % 13 != 7
              THEN list_reverse(embedding) ELSE embedding END AS embedding
  FROM embeddings
  WHERE label IS NOT NULL AND vec_id % 13 != 7
),
summ AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(SUM(CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT))
              AS BIGINT) AS sum_e0_us
  FROM post
),
dirs AS (
  SELECT CAST(COUNT(DISTINCT label) AS BIGINT) AS kept,
         CAST(COUNT(DISTINCT CASE WHEN {in_log} AND vec_id % 2 = 0
                                  THEN label END)
            + COUNT(DISTINCT CASE WHEN {in_log} AND vec_id % 2 = 1
                                  THEN label END) AS BIGINT) AS extra
  FROM embeddings WHERE label IS NOT NULL
)
SELECT s.n_rows, s.sum_e0_us, d.kept AS n_dirs_kept,
       d.extra AS n_dirs_removed
FROM summ s, dirs d
"""


def compact_latest(spark: SparkSession, manifest: dict, out_dir: str) -> int:
    """Small-file compaction as a copy-on-write commit: read the LATEST
    snapshot through the manifest, repartition so each label's rows
    land in one task, and commit the rewrite as a NEW version covering
    every label. Old versions stay readable (time travel is untouched
    — compaction is a commit like any other, the OPTIMIZE analog of
    Delta/Iceberg without the table format); the latest snapshot now
    reads one file per label instead of one-per-historic-task. Returns
    the new version number."""
    latest = max(v for (v, _l) in manifest)
    labels = sorted({l for (_v, l) in manifest})
    snap = _versioned_read(spark, manifest, latest)
    vdir = os.path.join(out_dir, f"v{latest + 1}")
    # one hash partition per label: every label directory is written by
    # exactly one task -> exactly one data file per label
    snap.repartition(len(labels), "label").select(
        "vec_id", "embedding", "label"
    ).write.mode("overwrite").partitionBy("label").parquet(vdir)
    for label in labels:
        manifest[(latest + 1, label)] = os.path.join(vdir, f"label={label}")
    return latest + 1


def store_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry surface: commit the deterministic CDC history (the
    store_time_travel lifecycle), COMPACT the latest snapshot into a
    new version, and summarize the pre- and post-compaction snapshots
    side by side — parity between the two rows proves the rewrite
    moved bytes, not data. The file-count reduction itself is pinned
    in tests (engine-artifact, not SQL-derivable); the oracle replays
    both rows from the CDC predicates. Reads the SHARED committed tree;
    the compaction COMMIT (a new version — the COW discipline means a
    commit may live in any directory the manifest points at) goes to a
    PRIVATE dir so the shared tree stays pristine (r17 opt)."""
    import functools

    manifest, _src_dir = versioned_cdc_tree(spark, sf_dir)
    priv = cache.scratch_dir("vdbs_compaction_")
    before = max(v for (v, _l) in manifest)
    after = compact_latest(spark, manifest, priv)
    tagged = [
        _versioned_read(spark, manifest, v).select(
            F.lit(v).cast("int").alias("version"), "embedding"
        )
        for v in (before, after)
    ]
    return (
        functools.reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("version")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.expr(
                    "CAST(round(CAST(element_at(embedding, 1) AS DOUBLE)"
                    " * 1e6) AS BIGINT)"
                )
            ).cast("long").alias("sum_e0_us"),
        )
    )


def store_compaction_sql() -> str:
    """Mirror: versions 2 (pre-compaction latest) and 3 (the compaction
    commit) both summarize the full CDC merge — identical content by
    construction."""
    post = """
  SELECT vec_id, label,
         CASE WHEN vec_id % 11 = 5 AND vec_id % 13 != 7
              THEN list_reverse(embedding) ELSE embedding END AS embedding
  FROM embeddings
  WHERE label IS NOT NULL AND vec_id % 13 != 7"""

    def summ(v: int) -> str:
        return f"""
SELECT {v} AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT))
            AS BIGINT) AS sum_e0_us
FROM ({post})"""

    return summ(2) + "\nUNION ALL" + summ(3)


def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the versioned store — the lakehouse
    lifecycle the COW commits make safe: commit v0 with the base
    schema, commit v1 whose writer ADDS a `quality` column
    (deterministic: vec_id % 97, so the oracle recomputes it), then
    read the union of both commits with Spark's mergeSchema — old
    files surface the new column as NULL, new files carry it, and no
    rewrite of historical data ever happens (the at-100-TB point:
    schema changes must not touch old bytes). The v1 cohort is the
    even-vec_id half, so membership is pure arithmetic cross-engine.

    Output: per (version, has_quality) counts plus the BIGINT sum of
    the new column where present — proving NULL-backfill semantics
    byte-exactly rather than asserting them."""
    base = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    out_dir = cache.scratch_dir("vdbs_schema_evo_")
    v0 = os.path.join(out_dir, "v0")
    v1 = os.path.join(out_dir, "v1")
    base.filter(F.col("vec_id") % 2 == 1).write.parquet(v0)
    base.filter(F.col("vec_id") % 2 == 0).withColumn(
        "quality", (F.col("vec_id") % 97).cast("long")
    ).write.parquet(v1)
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(v0, v1)
        .withColumn(
            "version",
            F.when(F.col("quality").isNull(), F.lit(0)).otherwise(
                F.lit(1)
            ).cast("int"),
        )
    )
    out = merged.groupBy("version").agg(
        F.count("*").cast("long").alias("n_rows"),
        F.count("quality").cast("long").alias("n_with_quality"),
        F.coalesce(F.sum("quality"), F.lit(0)).cast("long").alias(
            "sum_quality"
        ),
    )
    return out


def schema_evolution_sql() -> str:
    """Mirror: v1 = even vec_ids with quality = vec_id % 97; v0 = odd
    vec_ids where the merged read backfills NULL."""
    return """
SELECT CAST(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END AS INT) AS version,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_quality,
       CAST(sum(CASE WHEN vec_id % 2 = 0 THEN vec_id % 97 ELSE 0 END)
            AS BIGINT) AS sum_quality
FROM embeddings
GROUP BY 1
"""


def store_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE of the versioned store — the Delta/
    Iceberg clone contract without the table format: a clone is a new
    MANIFEST pointing at the source's existing commit directories (no
    data copied), and writes to the clone are copy-on-write commits
    into the CLONE's own tree, so the source's bytes are never touched.
    At 100 TB this is how a team forks a training corpus for an
    experiment in O(metadata) instead of O(data).

    Lifecycle exercised here: commit the deterministic CDC history,
    shallow-clone the latest version, apply one further mutation batch
    to the CLONE ONLY (negate the embeddings of vec_id % 19 == 3 — a
    deterministic, oracle-replayable delta), and summarize source
    HEAD vs clone HEAD side by side. Divergence shows in the checksum;
    the source row doubles as the byte-untouched proof (its checksum
    equals the plain CDC merge), and the no-copy property is pinned in
    tests (clone tree contains only the delta commit's files).
    Reads the SHARED committed source tree; the clone's own COW tree is
    a PRIVATE dir (r17 opt) — which is also truer to the contract: a
    clone never writes inside the source's directory at all."""
    import functools

    manifest, _src_dir = versioned_cdc_tree(spark, sf_dir)
    latest = max(v for (v, _l) in manifest)
    # shallow clone: a NEW manifest whose v0 points at the source's
    # newest-per-label directories — no data moves
    pick: dict = {}
    for (v, label), d in manifest.items():
        if v <= latest and (label not in pick or pick[label][0] < v):
            pick[label] = (v, d)
    clone_manifest = {(0, label): d for label, (_v, d) in pick.items()}
    clone_dir = cache.scratch_dir("vdbs_clone_")
    # mutate the CLONE: one COW commit into the clone's own tree
    cur = _versioned_read(spark, clone_manifest, 0)
    is_mut = F.col("vec_id") % 19 == 3
    affected = sorted(
        r["label"]
        for r in cur.filter(is_mut).select("label").distinct().collect()
    )
    post = cur.filter(F.col("label").isin(affected)).select(
        "vec_id",
        F.when(
            is_mut, F.transform("embedding", lambda x: -x)
        ).otherwise(F.col("embedding")).alias("embedding"),
        "label",
    )
    v1 = os.path.join(clone_dir, "v1")
    post.write.mode("overwrite").partitionBy("label").parquet(v1)
    for label in affected:
        clone_manifest[(1, label)] = os.path.join(v1, f"label={label}")
    frames = [
        _versioned_read(spark, manifest, latest).select(
            F.lit("source_head").alias("side"), "embedding"
        ),
        _versioned_read(spark, clone_manifest, 1).select(
            F.lit("clone_head").alias("side"), "embedding"
        ),
    ]
    return (
        functools.reduce(lambda a, b: a.unionByName(b), frames)
        .groupBy("side")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.expr(
                    "CAST(round(CAST(element_at(embedding, 1) AS DOUBLE)"
                    " * 1e6) AS BIGINT)"
                )
            ).cast("long").alias("sum_e0_us"),
        )
    )


def store_clone_sql() -> str:
    """Mirror: source head = the full CDC merge; clone head = the same
    merge with vec_id%19==3 survivors' embeddings negated (negation
    flips the first component's micro-unit term exactly)."""
    post = """
  SELECT vec_id,
         CASE WHEN vec_id % 11 = 5 AND vec_id % 13 != 7
              THEN list_reverse(embedding) ELSE embedding END AS embedding
  FROM embeddings
  WHERE label IS NOT NULL AND vec_id % 13 != 7"""
    return f"""
WITH merged AS MATERIALIZED ({post})
SELECT 'source_head' AS side, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT))
            AS BIGINT) AS sum_e0_us
FROM merged
UNION ALL
SELECT 'clone_head', CAST(count(*) AS BIGINT),
       CAST(sum(CASE WHEN vec_id % 19 = 3
                     THEN -CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6)
                                AS BIGINT)
                     ELSE CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6)
                               AS BIGINT) END) AS BIGINT)
FROM merged
"""


def version_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset DIFF between two committed versions — the review surface
    a versioned training corpus needs before a promote ("what exactly
    changed since the snapshot we trained on?"): per label, rows added,
    rows removed, rows changed (same vec_id, different payload), rows
    identical. Computed from the COW manifest reads with one full outer
    join on vec_id per label scope — no full-corpus sort, and at 100 TB
    the join prunes to the labels whose manifests differ (identical
    label dirs can be skipped entirely by pointer equality; here every
    label is read so the 'identical' count is itself verified rather
    than inferred).

    Diffs v0 (bootstrap) against the final CDC version: the oracle
    recomputes every cell from the CDC predicates."""
    manifest, _out_dir = versioned_cdc_tree(spark, sf_dir)
    latest = max(v for (v, _l) in manifest)
    a = _versioned_read(spark, manifest, 0).select(
        "vec_id", "label", F.col("embedding").alias("ea")
    )
    b = _versioned_read(spark, manifest, latest).select(
        "vec_id", F.col("label").alias("label_b"),
        F.col("embedding").alias("eb"),
    )
    j = a.join(b, "vec_id", "full_outer")
    out = (
        j.select(
            F.coalesce("label", "label_b").alias("label"),
            F.when(F.col("ea").isNull(), F.lit("added"))
            .when(F.col("eb").isNull(), F.lit("removed"))
            .when(F.col("ea") != F.col("eb"), F.lit("changed"))
            .otherwise(F.lit("identical"))
            .alias("status"),
        )
        .groupBy("label")
        .pivot("status", ["added", "removed", "changed", "identical"])
        .count()
        .na.fill(0)
        .select(
            "label",
            F.col("added").cast("long").alias("n_added"),
            F.col("removed").cast("long").alias("n_removed"),
            F.col("changed").cast("long").alias("n_changed"),
            F.col("identical").cast("long").alias("n_identical"),
        )
    )
    return out


def version_diff_sql() -> str:
    """Mirror: the CDC feed only deletes (vec_id%13==7) and updates
    (vec_id%11==5, not deleted); nothing is added, so per label
    n_added = 0, n_removed = deletes, n_changed = surviving updates
    WHOSE PAYLOAD ACTUALLY CHANGED, n_identical = the rest. The
    payload condition matters: the diff's documented contract is
    'changed = same vec_id, different payload' (a COW manifest diff
    compares bytes, not intent), and the update is the IEEE-exact
    reversal — so an update applied to a PALINDROMIC vector (e.g. the
    ties fixture's zero vectors) is a no-op write and counts as
    identical. On the gate corpora (random floats, no palindromes) the
    condition is vacuously true; the ties fixture is where it is
    load-bearing (tests/test_ties_parity.py caught the unconditioned
    count diverging from the engine)."""
    return """
SELECT label,
       CAST(0 AS BIGINT) AS n_added,
       CAST(count(*) FILTER (WHERE vec_id % 13 = 7) AS BIGINT) AS n_removed,
       CAST(count(*) FILTER (WHERE vec_id % 13 != 7 AND vec_id % 11 = 5
                             AND list_reverse(embedding) != embedding)
            AS BIGINT) AS n_changed,
       CAST(count(*) FILTER (WHERE vec_id % 13 != 7
                             AND (vec_id % 11 != 5
                                  OR list_reverse(embedding) = embedding))
            AS BIGINT) AS n_identical
FROM embeddings
WHERE label IS NOT NULL
GROUP BY label
"""


def store_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE — roll the versioned store back to an earlier snapshot
    as a NEW commit (the Delta `RESTORE TABLE ... VERSION AS OF`
    analog): after the two CDC commits, version 3 is created whose
    manifest entries point at version 0's partition directories — an
    O(metadata) operation (the clone discipline: no bytes move, no
    bytes are deleted), so the rollback is itself versioned and the
    intermediate history v1/v2 STAYS readable (an audit can still ask
    what the store looked like mid-incident). The summary reads every
    version back through the manifest: the v3 row must equal the v0
    row exactly, and v1/v2 keep their post-CDC counts — both facts are
    in the driver-compared artifact, not just a test."""
    import functools
    manifest, _out_dir = versioned_cdc_tree(spark, sf_dir)
    latest = max(v for (v, _l) in manifest)
    # restore-as-commit: point the new version at v0's directories
    pick: dict = {}
    for (v, label), d in manifest.items():
        if v == 0:
            pick[label] = d
    for label, d in pick.items():
        manifest[(latest + 1, label)] = d
    versions = sorted({v for (v, _l) in manifest})
    tagged = [
        _versioned_read(spark, manifest, v).select(
            F.lit(v).cast("int").alias("version"), "embedding"
        )
        for v in versions
    ]
    out = (
        functools.reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("version")
        .agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.expr(
                    "CAST(round(CAST(element_at(embedding, 1) AS DOUBLE)"
                    " * 1e6) AS BIGINT)"
                )
            ).cast("long").alias("sum_e0_us"),
        )
    )
    return out


def store_restore_sql() -> str:
    """Mirror of store_restore: the time-travel summary plus the
    restored version 3 == version 0 by construction."""
    base = store_time_travel_sql()
    return (
        base
        + """
UNION ALL
SELECT 3 AS version, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(round(CAST(embedding[1] AS DOUBLE) * 1e6) AS BIGINT))
            AS BIGINT) AS sum_e0_us
FROM (SELECT vec_id, label, embedding FROM embeddings
      WHERE label IS NOT NULL)"""
    )


def store_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CHANGE-FEED read between two committed versions —
    what a downstream incremental consumer (index maintainer,
    replication target, feature store) actually pulls, where
    version_diff only reports the counts: per changed row, (vec_id,
    label, change, e0_us) with change in (removed, changed) and e0_us
    the NEW payload's first-component micro-units (NULL for removed
    rows). One full-outer join on vec_id between the two manifest
    snapshots; at 100 TB the join prunes to labels whose manifest
    pointers differ (pointer-equal label dirs cannot contain changes —
    the clone/COW invariant), so the feed costs O(changed partitions),
    not O(corpus)."""
    manifest, _out_dir = versioned_cdc_tree(spark, sf_dir)
    latest = max(v for (v, _l) in manifest)
    a = _versioned_read(spark, manifest, 0).select(
        "vec_id", "label", F.col("embedding").alias("ea")
    )
    b = _versioned_read(spark, manifest, latest).select(
        "vec_id", F.col("label").alias("label_b"),
        F.col("embedding").alias("eb"),
    )
    j = a.join(b, "vec_id", "full_outer")
    out = (
        j.select(
            "vec_id",
            F.coalesce("label", "label_b").alias("label"),
            F.when(F.col("ea").isNull(), F.lit("added"))
            .when(F.col("eb").isNull(), F.lit("removed"))
            .when(F.col("ea") != F.col("eb"), F.lit("changed"))
            .otherwise(F.lit("identical"))
            .alias("change"),
            F.expr(
                "CAST(round(CAST(element_at(eb, 1) AS DOUBLE) * 1e6)"
                " AS BIGINT)"
            ).alias("e0_us"),
        )
        .filter(F.col("change").isin("added", "removed", "changed"))
    )
    return out


def store_incremental_read_sql() -> str:
    """Mirror: the CDC predicates name every changed row directly —
    deletes (vec_id%13==7) surface as 'removed' with NULL payload,
    surviving updates (vec_id%11==5) as 'changed' whose new first
    component is the ORIGINAL embedding's last component (the update is
    the IEEE-exact reversal). 'Changed' additionally requires the
    payload to actually differ (list_reverse != original): the feed is
    a payload diff between two committed snapshots, so an update that
    writes back an identical vector (reversal of a palindrome — the
    ties fixture's zero vectors) produces NO feed row, matching the
    engine's full-outer-join comparison. Vacuous on the gate corpora;
    load-bearing under ties (tests/test_ties_parity.py)."""
    return """
SELECT vec_id, label, 'removed' AS change, CAST(NULL AS BIGINT) AS e0_us
FROM embeddings WHERE label IS NOT NULL AND vec_id % 13 = 7
UNION ALL
SELECT vec_id, label, 'changed',
       CAST(round(CAST(embedding[len(embedding)] AS DOUBLE) * 1e6) AS BIGINT)
FROM embeddings WHERE label IS NOT NULL AND vec_id % 13 != 7
  AND vec_id % 11 = 5 AND list_reverse(embedding) != embedding
"""
