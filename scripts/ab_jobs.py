"""Job-count + wall A/B probe (r17): run named queries with a job
group and report how many Spark JOBS each execution scheduled, plus
wall time. Job count is the host-weather-independent currency for the
sub-2 s population (guide §1: at sf0.1 the scheduling floor dominates,
so fewer jobs == faster everywhere and the count itself cannot be
faked by a quiet host).

Usage: python scripts/ab_jobs.py [--runs 2] q1 q2 ...
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from vector_db_service_spark.session import get_spark  # noqa: E402
from vector_db_service_spark import cache, entrypoints  # noqa: E402
from vector_db_service_spark.benchutil import (  # noqa: E402
    persisted_rdds,
    prewarm_index_state,
    release_checkpoints,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("vdbs-ab")
    spark.sparkContext.setLogLevel("ERROR")
    for _t in ("documents", "embeddings", "events", "orders", "lineitem"):
        try:
            spark.read.parquet(os.path.join(sf_dir, f"{_t}.parquet")).count()
        except Exception:
            pass
    from vector_db_service_spark.operators import store as _store

    for _lib in (1, 2):
        _store.ensure_library(spark, sf_dir, _lib)
    prewarm_index_state(spark, sf_dir)
    if any(n.startswith("stream_") or n.endswith("_served")
           for n in args.names):
        try:
            from vector_db_service_spark.streaming import pipeline as _sp

            _sp.windowed_event_counts(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass

    st = spark.sparkContext.statusTracker()
    results: dict[str, dict] = {}
    kept = persisted_rdds(spark)  # blocks pinned from here on are the runs'
    for name in args.names:
        fn = entrypoints.QUERIES[name]
        saved = cache.snapshot()
        jobs, walls = [], []
        for i in range(args.runs):
            cache.restore(saved)
            release_checkpoints(spark, kept)
            gid = f"ab_{name}_{i}"
            spark.sparkContext.setJobGroup(gid, name)
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            walls.append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobGroup(None, None)
            jobs.append(len(st.getJobIdsForGroup(gid)))
        results[name] = {"jobs": jobs, "walls": walls}
        print(f"{name}: jobs={jobs} walls={walls}")
    if args.json:
        with open(os.path.join(_REPO, args.json), "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
