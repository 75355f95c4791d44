"""Structured-Streaming semantics tests (SURVEY §2.11 analogs):
micro-batch incremental embedding with a pending-set anti-join, and
watermark behavior differences between complete and append output modes.
"""

from __future__ import annotations

import os
import sys
import tempfile
import threading
import time

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from vector_db_service_spark.streaming import pipeline as stream_ops  # noqa: E402
from vector_db_service_spark.sources.tables import load  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.001")


def test_embed_pending_skips_already_embedded(spark, tmp_path):
    docs = load(spark, SF, "documents")
    n_docs = docs.count()
    already = docs.filter(F.col("doc_id") < 100).select("doc_id")
    n_already = already.count()
    out = stream_ops.embed_pending_stream(
        spark, SF, out_dir=str(tmp_path), already=already
    )
    assert out.count() == n_docs - n_already
    # no overlap with the already-embedded set (O10 anti-join semantics)
    assert out.filter(F.col("doc_id") < 100).count() == 0
    # embeddings are unit-normalized 16-dim vectors
    row = out.select(F.size("embedding").alias("d")).head()
    assert row["d"] == 16


def test_embed_pending_full_matches_batch(spark, tmp_path):
    from vector_db_service_spark.functions.embed import hash_embedding

    streamed = stream_ops.embed_pending_stream(spark, SF, out_dir=str(tmp_path))
    batch = load(spark, SF, "documents").select(
        "doc_id", hash_embedding(F.col("text")).alias("embedding")
    )
    diff = (
        streamed.withColumnRenamed("embedding", "se")
        .join(batch.withColumnRenamed("embedding", "be"), "doc_id")
        .filter(F.col("se") != F.col("be"))
    )
    assert streamed.count() == batch.count()
    assert diff.count() == 0


def test_windowed_counts_match_batch_groupby(spark):
    streamed = stream_ops.windowed_event_counts(spark, SF)
    batch = (
        load(spark, SF, "events")
        .groupBy(
            F.floor(F.col("ts_us") / F.lit(3_600_000_000)).cast("long").alias("hour_id"),
            "event_type",
        )
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    assert streamed.count() == batch.count()
    joined = streamed.join(batch, ["hour_id", "event_type"], "inner").filter(
        (streamed.n_events == batch.n_events) & (streamed.sum_value == batch.sum_value)
    )
    assert joined.count() == batch.count()


def test_append_mode_watermark_holds_back_open_windows(spark):
    """In append mode a single AvailableNow pass emits only windows fully
    below the final watermark (max event_time - delay); the tail window
    stays open and is withheld — the late-data contract the complete-mode
    query doesn't exercise."""
    import uuid

    stream = stream_ops._events_stream(spark, SF)
    agg = (
        stream.withWatermark("event_time", "30 minutes")
        .groupBy(F.window("event_time", "1 hour"))
        .agg(F.count("*").alias("n_events"))
    )
    name = f"append_{uuid.uuid4().hex[:12]}"
    q = (
        agg.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    appended = spark.table(name)
    total_windows = (
        load(spark, SF, "events")
        .select(F.floor(F.col("ts_us") / F.lit(3_600_000_000)).alias("h"))
        .distinct()
        .count()
    )
    n_emitted = appended.count()
    assert n_emitted < total_windows  # at least the open tail window withheld
    assert n_emitted >= total_windows - 2  # but no more than the frontier


def _caller(spark):
    """A session for a test to watch: a clone of the test session with a
    shuffle width no stream uses and nanosAsLong unset."""
    caller = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    caller.conf.set("spark.sql.shuffle.partitions", "5")
    caller.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
    return caller


@pytest.mark.smoke
def test_running_streams_leave_the_caller_conf_alone(spark):
    """The stream bound and the interval join's no-data-batch skip live
    on each query's own session: a thread polling the caller's conf while
    a window aggregation and the interval join run never sees either."""
    caller = _caller(spark)
    keys = ("spark.sql.shuffle.partitions", "spark.sql.streaming.noDataMicroBatches.enabled")
    initial = tuple(caller.conf.get(k) for k in keys)
    rows = {}

    def run():
        rows["windows"] = stream_ops.windowed_event_counts(caller, SF).count()
        rows["pairs"] = stream_ops.stream_interval_join(caller, SF).count()

    runner = threading.Thread(target=run, daemon=True)
    runner.start()
    seen = set()
    deadline = time.time() + 600
    while runner.is_alive() and time.time() < deadline:
        seen.add(tuple(caller.conf.get(k) for k in keys))
        time.sleep(0.005)
    runner.join(timeout=1)
    assert not runner.is_alive()
    seen.add(tuple(caller.conf.get(k) for k in keys))
    assert seen == {initial}
    assert rows["windows"] > 0 and rows["pairs"] > 0


@pytest.mark.smoke
def test_runner_state_has_eight_partitions(spark):
    """A stateful stream sent through the runner keeps its state in 8
    shuffle partitions (its progress says so) while the caller keeps 5."""
    from pyspark.sql.streaming import StreamingQueryListener

    widths = []

    class Widths(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            widths.extend(op.numShufflePartitions for op in event.progress.stateOperators)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    listener = Widths()

    def build(s):
        s.streams.addListener(listener)
        return (
            stream_ops._file_stream(s, SF, "documents.parquet")
            .groupBy((F.col("doc_id") % 3).alias("g"))
            .count()
        )

    caller = _caller(spark)
    out = stream_ops._run_stream(caller, build, "complete")
    try:
        assert out.count() == 3
        deadline = time.time() + 30  # progress events arrive asynchronously
        while not widths and time.time() < deadline:
            time.sleep(0.1)
    finally:
        out.sparkSession.streams.removeListener(listener)
    assert widths and set(widths) == {8}
    assert caller.conf.get("spark.sql.shuffle.partitions") == "5"


@pytest.mark.smoke
def test_stream_work_dirs_stay_under_the_cache_root(spark):
    """These four streams used to leave a temp tree per call; their work
    directories now live under the one cache root, and the sink
    directories the returned frames were read from are gone."""
    from vector_db_service_spark import cache

    tmp = tempfile.gettempdir()
    root = cache.root()
    before = set(os.listdir(tmp))
    before_root = set(os.listdir(root))
    assert stream_ops.embed_pending_stream(spark, SF).count() > 0
    assert stream_ops.dedup_events_stream(spark, SF).count() > 0
    assert stream_ops.decontamination_stream(spark, SF).count() > 0
    assert stream_ops.quality_resample_stream(spark, SF).count() > 0
    new = {os.path.join(tmp, e) for e in set(os.listdir(tmp)) - before}
    assert new - {root} == set()
    assert set(os.listdir(root)) - before_root == set()


def _streaming_queries():
    from vector_db_service_spark.entrypoints import QUERIES

    return sorted(n for n in QUERIES if n.startswith("stream_")) + ["ann_beam_search_served"]


@pytest.mark.parametrize("name", _streaming_queries())
def test_streaming_query_leaves_the_session_conf_alone(spark, name):
    """Every registered query that runs a stream leaves its caller's conf
    as it found it; a query that reads `events` through tables.load does
    so on the query's own session (else nanosAsLong would appear here)."""
    from vector_db_service_spark.entrypoints import QUERIES

    caller = _caller(spark)
    before = dict(caller.conf.getAll)
    assert QUERIES[name](caller, SF).count() >= 0
    assert dict(caller.conf.getAll) == before


def test_multimodal_decode_is_gated_and_frames_flatmap(spark):
    """Compressed-image decode stays an explicit gate (no codec libs in
    this container) — it must raise, not silently fake. Fixed-stride P6
    PPM decodes for real through the pure-Python reader: header comments
    and whitespace per the netpbm spec, byte-exact raster, truncation is
    an error. Frame sampling is the 1-row -> n-rows flatMap shape with
    exact frame arithmetic."""
    import pytest as _pytest

    from vector_db_service_spark.operators import multimodal as mm

    with _pytest.raises(NotImplementedError):
        mm.decode_image(b"\xff\xd8\xff\xe0JPEG")  # JPEG stays codec-gated

    raster = bytes(range(2 * 3 * 3))  # 2x3 RGB, bytes 0..17
    ppm = b"P6\n# a comment\n 3\t2\n255\n" + raster
    w, h, maxval, px = mm.decode_image(ppm)
    assert (w, h, maxval) == (3, 2, 255)
    assert px.shape == (2, 3, 3)
    assert px.tobytes() == raster
    with _pytest.raises(ValueError):
        mm.decode_image(b"P6\n3 2\n255\n" + raster[:-1])  # truncated

    blobs = mm.blobs(spark, SF).limit(20)
    frames = mm.sample_frames(blobs)
    per_doc = {r["doc_id"]: r["n"] for r in
               frames.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    sizes = {r["doc_id"]: r["n_bytes"] for r in
             blobs.select("doc_id", F.length("blob").alias("n_bytes")).collect()}
    assert per_doc == {d: -(-n // mm.FRAME_BYTES) for d, n in sizes.items()}
