"""Parquet table loaders for the driver test data (TESTDATA.md).

The reference's durable store is PostgreSQL rows + an in-memory vector
dict (reference database/models.py:19-91, vector_db/storage.py:11-41).
Here both live as columnar parquet tables; at scale the chunk/embedding
tables would be written `partitionBy(library_id)` so library-scoped
searches are partition-pruned scans (reference's reverse index
vector_db/storage.py:29 for free). The in-memory dict's role — vectors
kept live between searches — is the resident copy of each search scope
(operators/knn.py `resident`): a cached, derived frame over `load`,
keyed on `path_signature` like every memo, which never replaces a plain
`load()`'s plan, so the loaders' pushdown and pruning hold as stated.

Entity mapping onto the driver tables (SURVEY.md §1.4):
  library  -> `label` column of embeddings (small int domain)
  chunk    -> one row of embeddings (vec_id) / documents (doc_id)
  document -> one row of documents.parquet
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import cache

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver table. Column pruning + predicate pushdown reach the
    parquet scan because this stays a plain declarative read.

    `events.ts` has shipped under two physical encodings across testdata
    generations — int64 epoch-nanoseconds and parquet `timestamp[us]` — so
    the loader branches on the type it actually finds rather than assuming
    one. Either way it exposes `ts_us` = epoch microseconds, the
    timezone-free representation every downstream operator and DuckDB
    oracle (`epoch_us(ts)`) agrees on.

    Only a `ts` annotated `timestamp[ns]` in the footer touches the
    session: Spark rejects that type unless
    `spark.sql.legacy.parquet.nanosAsLong` reads it as int64, and the
    scan reads that conf when it executes, not when it is planned, so it
    is set on `spark` and stays set. Every other encoding leaves the
    caller's conf as it was."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        if _ts_int64_unit(sf_dir) == "ns":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
        return df.withColumn(
            "ts_us", _epoch_us(spark, sf_dir, df.schema["ts"].dataType)
        ).drop("ts")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """`spark.read.parquet(path)` without the per-call schema inference.
    Inference runs one Spark job (a footer read on the executors) every
    time a table is opened, ~0.13 s of scheduling per search for a
    property of the FILES. The schema Spark inferred is memoized per
    file identity (cache.memo: any rewrite of any part file, e.g. one
    that adds a column, drops the entry) and handed back through
    `spark.read.schema(...)`, which plans the same scan with no job.
    A missing path is not memoized, so it still raises Spark's own
    error."""
    schema = cache.memo("schema", path, (), lambda: spark.read.parquet(path).schema)
    return spark.read.format("parquet").schema(schema).load(path)


def _epoch_us(spark: SparkSession, sf_dir: str, ts_type) -> F.Column:
    """Epoch-microseconds expression for whichever physical type `ts` has.
    No session-state mutation: every branch is timezone-independent."""
    import logging

    from pyspark.sql.types import LongType, TimestampNTZType, TimestampType

    log = logging.getLogger(__name__)
    if isinstance(ts_type, LongType):
        # An int64 ts could be epoch-NANOS (the historical encoding) or
        # epoch-MICROS. The parquet logical-type annotation is the
        # authoritative signal (a timestamp[ns]-annotated column reaches
        # Spark as LongType only because of nanosAsLong); footer column
        # stats are the fallback for unannotated raw int64: epoch-nanos
        # for any date past 1973 exceed 1e17, epoch-micros stay below it
        # until the year 5138 — no realistic overlap.
        unit = _ts_int64_unit(sf_dir)
        if unit is None:
            unit = "us" if 0 < _ts_stat_max(sf_dir) < int(1e17) else "ns"
            log.info("events.ts int64: no logical-type annotation; "
                     "footer-stat heuristic chose %s", unit)
        else:
            log.info("events.ts int64: logical-type annotation says %s", unit)
        if unit == "us":
            return F.col("ts").cast("long")
        # integer `div`, not `/`: nanos exceed 2^53, so double division
        # loses the low microsecond bits
        return F.expr("ts div 1000")
    if isinstance(ts_type, TimestampNTZType):
        # pure wall-clock arithmetic on the NTZ value — equals DuckDB's
        # timezone-free epoch_us(ts) under ANY session timezone (a
        # NTZ->TIMESTAMP cast would route through the session tz)
        return F.expr(
            "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)"
        )
    if isinstance(ts_type, TimestampType):
        # an instant: unix_micros is timezone-independent by definition
        return F.unix_micros(F.col("ts"))
    raise TypeError(f"events.ts has unsupported type {ts_type}")


def _ts_int64_unit(sf_dir: str) -> str | None:
    """Unit of the `ts` column's parquet timestamp logical-type
    annotation ('ns'/'us'), or None when the column is a raw unannotated
    int64 (callers then fall back to the footer-stat magnitude
    heuristic)."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    try:
        if os.path.isdir(path):
            files = sorted(glob.glob(os.path.join(path, "*.parquet")))
            if not files:
                return None
            path = files[0]
        t = pq.read_schema(path).field("ts").type
        if pa.types.is_timestamp(t) and t.unit in ("ns", "us"):
            return t.unit
    except (OSError, pa.ArrowInvalid):  # a missing or unreadable footer
        return None
    return None


def _ts_stat_max(sf_dir: str) -> int:
    """Max of the `ts` column from parquet footer statistics (driver-side
    metadata read, no scan). Returns 0 when stats are absent, are not
    integers (a timestamp-annotated column) or the footer cannot be
    read — callers then keep the historical nanos interpretation."""
    import glob
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = f"{sf_dir}/events.parquet"
    files = (
        sorted(glob.glob(os.path.join(path, "*.parquet")))
        if os.path.isdir(path)
        else [path]
    )
    mx = 0
    try:
        for f in files:
            md = pq.read_metadata(f)
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "ts" and col.statistics is not None:
                        v = col.statistics.max
                        if isinstance(v, int):
                            mx = max(mx, v)
    except (OSError, pa.ArrowInvalid):  # a missing or unreadable footer
        return 0
    return mx


def row_count(sf_dir: str, name: str) -> int:
    """Exact table row count from parquet FOOTER metadata — a driver-side
    metadata read, zero Spark jobs. Sampling-rate calculations (IVF/PQ
    train caps, recall-measurement caps) only need |T|, and paying a
    full-scan `df.count()` job for it is pure overhead; at scale this is
    one footer read per file, the same cost as planning the scan.
    Memoized per file identity (cache.memo) so repeated probes of
    the same table — obs_health's ten-table liveness sweep, every
    train-cap calculation in a bench run — stat the files but reread no
    footers."""
    import glob
    import os

    import pyarrow.parquet as pq

    path = f"{sf_dir}/{name}.parquet"

    def build() -> int:
        if os.path.isdir(path):
            return sum(
                pq.read_metadata(f).num_rows
                for f in sorted(glob.glob(os.path.join(path, "*.parquet")))
            )
        return pq.read_metadata(path).num_rows

    return cache.memo("row_count", path, (), build)


def embedding_dim(sf_dir: str, name: str = "embeddings",
                  column: str = "embedding") -> int:
    """Vector dimensionality from ONE driver-side pyarrow batch read —
    zero Spark jobs. Every banded/grid/flat builder needs the dim before
    it can synthesize hyperplanes or cell bounds, and each paid a
    one-row Spark job (~0.15 s of pure scheduling at local[32]) per
    query for a number that is a property of the FILE. Memoized per
    file identity like row_count; the parquet schema types the column
    as list<float> without a length, so one real row is read (first
    batch of the first part file)."""
    path = f"{sf_dir}/{name}.parquet"
    return cache.memo("dim", path, (column,), lambda: _first_vector_dim(path, column))


def _first_vector_dim(path: str, column: str) -> int:
    import glob
    import os

    import pyarrow.parquet as pq

    files = [path]
    if os.path.isdir(path):
        files = sorted(glob.glob(os.path.join(path, "**", "*.parquet"),
                                 recursive=True))
        if not files:
            raise FileNotFoundError(f"no parquet parts under {path}")
    # scan batches (and part files) until a NON-NULL vector appears: an
    # empty first part or a leading NULL run must not crash the read
    # (round-11 review #3 — bare StopIteration / len(None) were both far
    # from the documented loud failure). Single-row read still assumes
    # uniform dimensionality across rows, which load()'s array<float>
    # schema and the builders' fixed-width algebra already require.
    dim = None
    for f in files:
        for batch in pq.ParquetFile(f).iter_batches(
            batch_size=256, columns=[column]
        ):
            col = batch.column(0)
            for i in range(len(col)):
                v = col[i].as_py()
                if v is not None:
                    dim = len(v)
                    break
            if dim is not None:
                break
        if dim is not None:
            break
    if dim is None:
        raise ValueError(
            f"cannot determine embedding dimensionality: column {column!r} "
            f"has no non-null value in any part of {path}"
        )
    return dim


def spread_for_compute(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Ensure a CPU-heavy projection (per-token hashing, shingling,
    fingerprinting) runs with at least core-count partitions. Small-SF
    tables arrive as ONE parquet row-group -> one task, serializing the
    whole expression on a single core while 31 idle. No-op when the scan
    already has enough partitions — at production scale the file count
    provides the parallelism, and a blanket repartition() (a full shuffle
    of the text) would be the bug, so this only pays the tiny shuffle
    when the input is under-partitioned."""
    spark = df.sparkSession
    want = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= want:
        return df
    return df.repartition(want)


def path_signature(path: str) -> tuple:
    """Cache-key identity of a parquet table on disk. For a directory
    table the signature covers every contained part file (max mtime_ns +
    total size + file count) — an in-place rewrite of one partition
    subdirectory changes the signature even when the top-level directory
    mtime does not. Single-file tables degrade to the one stat. It is the
    freshness rule of every cache.memo entry and of the durable kmeans
    center stamps (store.load_km_centers)."""
    import glob
    import os

    rp = os.path.realpath(path)
    try:
        if os.path.isdir(rp):
            files = sorted(
                glob.glob(os.path.join(rp, "**", "*.parquet"), recursive=True)
            )
            if not files:
                st = os.stat(rp)
                return (rp, st.st_mtime_ns, st.st_size, 0)
            stats = [os.stat(f) for f in files]
            return (
                rp,
                max(s.st_mtime_ns for s in stats),
                sum(s.st_size for s in stats),
                len(stats),
            )
        st = os.stat(rp)
        return (rp, st.st_mtime_ns, st.st_size, 1)
    except OSError:
        return (rp, None, None, None)


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so operators can be written in
    SQL as well as the DataFrame API (same Catalyst plan either way)."""
    for name in TABLES:
        load(spark, sf_dir, name).createOrReplaceTempView(name)
