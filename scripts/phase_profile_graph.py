"""Scratch phase profiler for the knn-graph maintenance lifecycle
(r16 optimization round): where do ann_beam_search_served's ~8 s and
stream_knn_graph_maintenance's ~6 s actually go? Throwaway measurement
tooling, not part of the library."""

from __future__ import annotations

import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from vector_db_service_spark.session import get_spark  # noqa: E402

sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("vdbs-phase-graph")
spark.sparkContext.setLogLevel("ERROR")

for _t in ("documents", "embeddings", "events", "lineitem"):
    spark.read.parquet(os.path.join(sf_dir, f"{_t}.parquet")).count()
from vector_db_service_spark.benchutil import (  # noqa: E402
    persisted_rdds,
    prewarm_index_state,
    release_checkpoints,
)

prewarm_index_state(spark, sf_dir)
from vector_db_service_spark.streaming import pipeline as sp  # noqa: E402

sp.windowed_event_counts(spark, "/root/testdata/sf0.001").count()

from pyspark.sql import functions as F  # noqa: E402

from vector_db_service_spark.operators import ann  # noqa: E402
from vector_db_service_spark.sources.tables import load  # noqa: E402

_t0 = [time.perf_counter()]
_marks: list[tuple[str, float]] = []


def mark(label: str) -> None:
    now = time.perf_counter()
    _marks.append((label, now - _t0[0]))
    _t0[0] = now


kept = persisted_rdds(spark)  # blocks pinned from here on are the trials'
for trial in range(3):
    release_checkpoints(spark, kept)
    _marks.clear()
    _t0[0] = time.perf_counter()

    paths = sp.knn_graph_maintenance_init(spark, sf_dir)
    mark("init (full knn_join build + write + mutlog)")
    sp.knn_graph_maintenance_run(spark, sf_dir, paths)
    mark("maintenance stream (2 micro-batches)")
    kj = (
        spark.read.parquet(paths["store"])
        .select("src", "dst")
        .localCheckpoint(eager=True)
    )
    mark("store read-back ckpt")
    und = (
        kj.unionByName(
            kj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    base = load(spark, sf_dir, "embeddings")
    mut = sp._index_maintenance_mutations(base).localCheckpoint(eager=False)
    post = (
        base.join(mut.select("vec_id"), "vec_id", "left_anti")
        .select("vec_id", "label", "embedding")
        .unionByName(mut.select("vec_id", "label", "embedding"))
    )
    res = ann.graph_beam_search(
        spark, sf_dir, query_id=0, k=10, beam=8, rounds=2,
        sample_mod=16, m=3, prebuilt_edges=und, corpus=post,
    )
    mark("walk build (incl. query head())")
    res.write.mode("overwrite").format("noop").save()
    mark("final noop write")
    shutil.rmtree(paths["root"], ignore_errors=True)
    print(f"--- trial {trial} ---")
    tot = sum(dt for _, dt in _marks)
    for lbl, dt in _marks:
        print(f"  {dt:6.2f}s  {lbl}")
    print(f"  {tot:6.2f}s  TOTAL")

spark.stop()
