"""Ad-hoc optimization profiler (r16): time individual queries with the
bench's noop-sink + cache-homogeneity discipline, without paying for a
full 281-query sweep. For relative before/after decisions only — the
committed BENCH numbers come from bench.py.

Usage:
  python scripts/opt_profile.py q1 q2 ...            # 3 runs each
  python scripts/opt_profile.py --runs 5 q1
  python scripts/opt_profile.py --top 15             # 15 slowest from BENCH_DETAIL.json
  python scripts/opt_profile.py --explain plans/r16 --suffix before q1
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
    cpu_snap,
    durable_km_center_dirs,
    persisted_rdds,
    prewarm_index_state,
    proc_tree_cpu,
    release_checkpoints,
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--top", type=int, default=0)
    ap.add_argument("--explain", default=None,
                    help="directory to write <name>_<suffix>.txt plans into")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--json", default=None, help="write results JSON here")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = list(args.names)
    if args.top:
        with open(os.path.join(_REPO, "BENCH_DETAIL.json")) as f:
            detail = json.load(f)
        names += [
            n for n, _ in sorted(
                detail["queries"].items(), key=lambda kv: -kv[1]
            )[: args.top]
            if n not in names
        ]
    unknown = [n for n in names if n not in entrypoints.QUERIES]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    spark = get_spark("vdbs-opt")
    spark.sparkContext.setLogLevel("ERROR")
    for _t in ("documents", "embeddings", "events", "orders", "lineitem",
               "customer", "supplier", "part", "nation", "region"):
        try:
            spark.read.parquet(os.path.join(sf_dir, f"{_t}.parquet")).count()
        except Exception:
            pass
    from vector_db_service_spark.operators import store as _store

    for _lib in (1, 2):
        _store.ensure_library(spark, sf_dir, _lib)
    prewarm_index_state(spark, sf_dir)
    if any(n.startswith("stream_") or n.endswith("_served") for n in names):
        try:
            from vector_db_service_spark.streaming import pipeline as _sp

            _sp.windowed_event_counts(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass

    results: dict[str, dict] = {}
    import shutil

    kept = persisted_rdds(spark)  # blocks pinned from here on are the runs'
    for name in names:
        fn = entrypoints.QUERIES[name]
        if args.explain:
            os.makedirs(os.path.join(_REPO, args.explain), exist_ok=True)
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(
                os.path.join(
                    _REPO, args.explain, f"{name}_{args.suffix}.txt"
                ),
                "w",
            ) as f:
                f.write(plan)
        saved = cache.snapshot()
        durable0 = durable_km_center_dirs(sf_dir)
        runs: list[float] = []
        cpu: list[float] = []
        for i in range(args.runs):
            cache.restore(saved)
            for p in durable_km_center_dirs(sf_dir) - durable0:
                shutil.rmtree(p, ignore_errors=True)
            release_checkpoints(spark, kept)
            spark.sparkContext.setJobDescription(f"opt:{name}#{i}")
            p0 = proc_tree_cpu()
            b0, s0 = cpu_snap()
            t0 = time.perf_counter()
            try:
                fn(spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
            except Exception as exc:
                print(f"# {name}: ERROR {type(exc).__name__}: {exc}"[:300],
                      file=sys.stderr)
                results[name] = {"error": f"{type(exc).__name__}: {exc}"[:300]}
                break
            wall = round(time.perf_counter() - t0, 4)
            b1, s1 = cpu_snap()
            runs.append(wall)
            cpu.append(round(proc_tree_cpu() - p0, 2))
            print(
                f"# {name} run{i}: {wall:.3f}s "
                f"(proc {cpu[-1]:.1f} busy {b1 - b0:.1f} steal {s1 - s0:.1f})",
                file=sys.stderr,
            )
        if runs:
            rs = sorted(runs)
            mid = len(rs) // 2
            med = rs[mid] if len(rs) % 2 else round(
                (rs[mid - 1] + rs[mid]) / 2, 4
            )
            results[name] = {
                "median": med,
                "runs": runs,
                "spread": round(rs[-1] - rs[0], 4),
                "cpu_proc": cpu,
            }
            print(f"{name}: median {med:.3f}s of {runs}")
    if args.json:
        with open(os.path.join(_REPO, args.json), "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)
    spark.stop()


if __name__ == "__main__":
    main()
