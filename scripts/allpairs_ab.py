"""Exclusive syn10x A/B for dedup_allpairs_cosine (r12 verdict #3).

The r12 scale probe read the syn10x WARM run at 1545 cpu-busy-s where
the r11 exclusive A/B read 767 — identical code, ~2x the busy-seconds,
steal ~0. Hypothesis: this VM's effective core speed moves (frequency /
contention effects that never surface as steal), so raw cpu-seconds
cannot anchor a target by themselves. This script measures the pair
needed to settle it:

  - the PINNED calibration probe's wall + cpu-busy (the normalizer), and
  - cold + warm allpairs runs on the same syn10x corpus scale_probe
    builds, with per-run busy/steal,

so the busy target can be certified as a RATIO to the calibration
probe's busy in the same window. Run EXCLUSIVELY (no concurrent Spark).
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import functions as F  # noqa: E402

from vector_db_service_spark.session import get_spark  # noqa: E402
from vector_db_service_spark import cache, entrypoints  # noqa: E402
from vector_db_service_spark.benchutil import (  # noqa: E402
    cpu_snap,
    persisted_rdds,
    release_checkpoints,
)
from scripts.scale_probe import SYN, build_synthetic  # noqa: E402


def main() -> None:
    spark = get_spark("allpairs-ab")
    spark.sparkContext.setLogLevel("ERROR")
    build_synthetic(spark)
    # same JIT warmup the probe harness applies: volume-matched
    # synthetic kernels, never the timed query on its timed data
    entrypoints.QUERIES["dedup_minhash_signatures"](
        spark, "/root/testdata/sf0.1"
    ).count()

    kept = persisted_rdds(spark)  # blocks pinned from here on are the runs'
    cal_df = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")

    def calibrate() -> dict:
        release_checkpoints(spark, kept)
        b0, s0 = cpu_snap()
        t0 = time.perf_counter()
        cal_df.groupBy("l_returnflag").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            F.avg("l_quantity"), F.count("*"),
        ).write.mode("overwrite").format("noop").save()
        wall = round(time.perf_counter() - t0, 4)
        b1, s1 = cpu_snap()
        return {"wall": wall, "busy": round(b1 - b0, 2),
                "steal": round(s1 - s0, 2)}

    calibrate()  # untimed first touch
    out: dict = {"calibration": [calibrate()]}

    snap = cache.snapshot()
    runs = []
    for i in range(3):  # run 0 = cold (JIT/page cache), 1-2 = warm
        cache.restore(snap)
        release_checkpoints(spark, kept)
        b0, s0 = cpu_snap()
        t0 = time.perf_counter()
        entrypoints.QUERIES["dedup_allpairs_cosine"](spark, SYN).write.mode(
            "overwrite"
        ).format("noop").save()
        wall = round(time.perf_counter() - t0, 3)
        b1, s1 = cpu_snap()
        runs.append({"wall": wall, "busy": round(b1 - b0, 1),
                     "steal": round(s1 - s0, 1)})
        print(f"# run {i}: {runs[-1]}", file=sys.stderr)
        out["calibration"].append(calibrate())

    out["allpairs_syn10x"] = runs
    warm = runs[1:]
    cal_busy = [c["busy"] for c in out["calibration"]]
    out["warm_busy_median"] = sorted(r["busy"] for r in warm)[len(warm) // 2]
    out["cal_busy_median"] = sorted(cal_busy)[len(cal_busy) // 2]
    out["busy_ratio_warm_to_cal"] = round(
        out["warm_busy_median"] / max(out["cal_busy_median"], 1e-9), 1
    )
    print(json.dumps(out))


if __name__ == "__main__":
    main()
