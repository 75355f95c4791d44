"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (noop-sink write) so the timing
includes the full scan->score->topk->join pipeline, not just plan
construction. The 10 heaviest queries are executed 3x (watch-listed
queries 5x) and report the MEDIAN (with a max-min `spread` field in the
JSON), so regression claims can be separated from host-burst variance;
`value` is the sum of medians (top-10) plus single-shot timings (rest).

HOST CALIBRATION (round-10 review #2): the same code has measured
15-35% slower on the grading host than on the build host two rounds
running, and ±1 s single-shot drift hits untouched queries — wall time
alone cannot distinguish a plan regression from a throttled VM. Two
throttle-independent signals now land in the JSON:
  - `calibration`: wall seconds of one PINNED probe (a fixed lineitem
    aggregate) run at sweep start / middle / end — a hot host shows a
    drifting or elevated triple on a query whose plan never changes.
  - per-query `cpu_busy_sec` / `cpu_steal_sec` (BENCH_DETAIL.json) and
    sweep totals (stdout): /proc/stat busy-jiffy deltas count actual
    on-CPU work, and the STEAL field directly exposes hypervisor
    throttling — on this VM steal is live and reaches minutes per hour.
    A wall regression with flat cpu_busy and elevated steal is the
    host, not the plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, _REPO)
# Python WORKERS don't inherit the driver's sys.path mutation — without
# this, every Pandas-UDF query fails to unpickle when bench.py is invoked
# from outside the repo directory.
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from vector_db_service_spark.session import get_spark  # noqa: E402
from vector_db_service_spark import entrypoints  # noqa: E402


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("vdbs-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers/pages once so per-query numbers
    # measure execution, not first-touch IO setup. Plain per-table
    # counts only: no TIMED QUERY is ever pre-run on the timed data
    # (a query pre-run would JIT its exact codegen paths against its
    # own inputs and shade the harness — round-8 review finding).
    for _t in ("documents", "embeddings", "events", "orders", "lineitem",
               "customer", "supplier", "part", "nation", "region"):
        try:
            spark.read.parquet(os.path.join(sf_dir, f"{_t}.parquet")).count()
        except Exception:
            pass
    # pre-build the stored indexes (build-once is index lifecycle, not
    # query cost): the i11_* probes then time the warm read path —
    # partition-pruned stored-row read + broadcast re-rank
    from vector_db_service_spark.operators import store as _store

    for _lib in (1, 2):
        _store.ensure_library(spark, sf_dir, _lib)
    # pre-build the IN-PROCESS index state the same way (round-11 review
    # #1): quantizer centers (driver Lloyd + MLlib kmeans||), grid
    # bounds, query-vector literals. Train-once/probe-many is the index
    # lifecycle — fit cost is excluded from query timings as amortized
    # index build, IDENTICALLY for first runs and re-runs. Before this,
    # the first timed run of e.g. ann_ivf_recall_sweep paid the fit
    # (10.4 s) while its re-runs hit the memo (~2 s): the median was
    # structurally warm and the spread was cache asymmetry, not noise.
    from vector_db_service_spark.benchutil import prewarm_index_state

    prewarm_index_state(spark, sf_dir)
    # warm the Structured Streaming machinery (state store provider,
    # streaming listener threads, micro-batch planner) on the SMALLEST
    # dataset so the first timed stream_* query measures steady-state
    # execution, not first-touch engine init (~5-8 s observed)
    if sf_dir.rstrip("/") != "/root/testdata/sf0.001":
        try:
            from vector_db_service_spark.streaming import pipeline as _sp

            _sp.windowed_event_counts(spark, "/root/testdata/sf0.001").count()
        except Exception:
            pass
    # warm the heavyweight interpreted-HOF expression families (simhash /
    # minhash / rolling-hash / embedding-dot folds are Catalyst-
    # interpreted, and the JVM only JITs those paths after enough row
    # volume — the first full-scale run would otherwise pay ~2.5 s of
    # interpreter cost billed to whichever dedup query runs first) on a
    # SYNTHETIC deterministic corpus, never on any timed (query, sf_dir)
    # pair: warming a timed query on its own timed data shades the
    # harness (round-8 review finding). Row volume, not data identity,
    # is what carries the interpreter across the JIT threshold.
    try:
        from pyspark.sql import functions as F

        from vector_db_service_spark.functions import hashing as H

        # token volume matched to (and exceeding) the timed corpora: the
        # interpreter JITs per-evaluation, so rows x tokens is the knob
        _syn_n = 6000
        _syn = spark.range(_syn_n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(
                " ",
                *[
                    F.substring(
                        F.md5(F.concat(F.col("id").cast("string"), F.lit(str(i)))),
                        1, 8,
                    )
                    for i in range(50)
                ],
            ).alias("text"),
        ).localCheckpoint()
        for _ in range(2):
            _syn.select(
                H.simhash("text").alias("x")
            ).select(
                "x", H.hamming(F.col("x"), F.col("x") + 1).alias("hd"),
                H.simhash_blocks(F.col("x")).alias("blk"),
            ).write.mode("overwrite").format("noop").save()
            _syn.select(
                H.minhash_bands("text").alias("b"),
                F.array_distinct(H.shingles("text")).alias("s"),
            ).write.mode("overwrite").format("noop").save()
            _syn.select(
                F.explode(H.shingle_hashes("text")).alias("t")
            ).write.mode("overwrite").format("noop").save()
        # allpairs-specific kernels, same synthetic-volume rationale:
        # the decimal(38,0) screened compares, the per-doc tail-frame
        # window sums, and the map collect/zip-merge dot are
        # interpreted/JIT-sensitive paths no other warmup touches —
        # without this, the first timed allpairs runs pay the JIT
        # (observed monotone 7.6 -> 4.5 s across its five re-runs)
        from pyspark.sql import Window as _W

        _toks = _syn.select(
            "doc_id", F.explode(H.shingle_hashes("text")).alias("tok")
        ).groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("w"))
        _od = _W.partitionBy("doc_id").orderBy(F.col("tok"))
        _tail = _od.rowsBetween(_W.currentRow, _W.unboundedFollowing)
        _full = _od.rowsBetween(_W.unboundedPreceding, _W.unboundedFollowing)
        _dec = "decimal(38,0)"
        _wn = _toks.select(
            "doc_id", "tok", "w",
            F.sum(F.col("w") * F.col("w")).over(_full).alias("n2"),
            F.sum(F.col("w") * F.col("w")).over(_tail).alias("t2"),
        )
        for _ in range(2):
            _scr = (
                F.when(
                    F.col("t2").cast("double") * 25.0
                    > F.col("n2").cast("double") * 16.0 * F.lit(1.0 + 1e-9),
                    F.lit(True),
                )
                .when(
                    F.col("t2").cast("double") * 25.0
                    < F.col("n2").cast("double") * 16.0 * F.lit(1.0 - 1e-9),
                    F.lit(False),
                )
                .otherwise(
                    F.lit(25).cast(_dec) * F.col("t2").cast(_dec)
                    >= F.lit(16).cast(_dec) * F.col("n2").cast(_dec)
                )
            )
            _vec = _wn.filter(_scr).filter(F.col("doc_id") < 300).groupBy(
                "doc_id"
            ).agg(
                F.map_from_entries(
                    F.collect_list(F.struct("tok", "w"))
                ).alias("vec")
            )
            # bounded pair volume (<300 docs -> ~90k pairs): enough rows
            # to carry the merge kernel across the JIT threshold
            _vec.alias("a").join(
                _vec.alias("b"),
                F.col("a.doc_id") != F.col("b.doc_id"),
            ).select(
                F.expr(
                    "aggregate(map_values(map_zip_with(a.vec, b.vec, "
                    "(k, x, y) -> coalesce(x, CAST(0 AS BIGINT)) * "
                    "coalesce(y, CAST(0 AS BIGINT)))), CAST(0 AS BIGINT), "
                    "(acc, v) -> acc + v)"
                ).alias("dot")
            ).write.mode("overwrite").format("noop").save()
        # embedding kernels: the SAME library expression trees the knn /
        # embedding-pair queries run (zip_with+aggregate dot, norm,
        # euclidean/manhattan folds, hyperplane band keys and the
        # first-collision predicate), over synthetic vectors
        from vector_db_service_spark.functions import similarity as sim
        from vector_db_service_spark.operators.lsh import (
            N_SIGN_BANDS, SEED, band_keys, first_collision, hyperplanes,
        )

        _planes = hyperplanes(64, N_SIGN_BANDS * 2, SEED)
        _emb = spark.range(6000).select(
            F.expr(
                "transform(sequence(1, 64), i -> "
                "cast(pmod(id * i, 97) as float) / 97.0f)"
            ).alias("v"),
            F.expr(
                "transform(sequence(1, 64), i -> "
                "cast(pmod(id * i + 13, 89) as float) / 89.0f)"
            ).alias("w"),
        ).localCheckpoint()
        for _ in range(2):
            _emb.select(
                sim.dot(F.col("v"), F.col("w")).alias("d"),
                sim.norm(F.col("v")).alias("n"),
                sim.euclidean_distance(F.col("v"), F.col("w")).alias("e"),
                sim.manhattan_distance(F.col("v"), F.col("w")).alias("m"),
                band_keys("v", _planes, 2).alias("b"),
            ).select(
                "d", "n", "e", "m", "b",
                first_collision(F.col("b"), F.col("b"), N_SIGN_BANDS).alias("fc"),
            ).write.mode("overwrite").format("noop").save()
    except Exception:
        pass
    # Python-worker/Arrow spawn for the first mapInPandas query: warmed
    # at the SMALLEST sf, and only when that is not the timed sf
    if sf_dir.rstrip("/") != "/root/testdata/sf0.001":
        try:
            entrypoints.QUERIES["mm_blob_features"](
                spark, "/root/testdata/sf0.001"
            ).count()
        except Exception:
            pass

    # shared with scripts/scale_probe.py — both harnesses must apply the
    # same isolation/attribution discipline or their numbers diverge
    from vector_db_service_spark.benchutil import cpu_snap as _cpu_snap
    from vector_db_service_spark.benchutil import proc_tree_cpu as _proc_cpu
    from vector_db_service_spark.benchutil import own_checkpoints

    cpu_busy: dict[str, float] = {}
    cpu_steal: dict[str, float] = {}
    # per-PROCESS-TREE cpu (python + JVM + workers): the host-wide
    # busy counter above is contaminable by co-tenant work (r13:
    # driver read dedup_components at 39 host-busy cpu-s with 8.7 s
    # steal where the builder read 16.9 at the same HEAD) — this
    # counter only moves when OUR processes burn cpu
    cpu_proc: dict[str, float] = {}
    # names whose process-tree delta underflowed (child exited and was
    # reparented out of the tree mid-window) — floored to 0 above and
    # published so compares treat them as "no busy evidence"
    cpu_proc_underflow: list[str] = []
    # r16 verdict #1: per-RUN steal series (parallel to runs[]) — a
    # median whose outlier runs carry elevated steal is adjudicated as
    # host burst, not plan movement, without needing a second sweep
    runs_steal: dict[str, list[float]] = {}
    runs_busy: dict[str, list[float]] = {}

    def _time_one(name: str, fn, record_error: bool = True) -> float | None:
        """One fully-materialized timed execution; None on error. The
        checkpoint blocks it pins are released after its timing."""
        with own_checkpoints(spark):
            return _timed_run(name, fn, record_error)

    def _timed_run(name: str, fn, record_error: bool) -> float | None:
        b0, s0 = _cpu_snap()
        p0 = _proc_cpu()
        t0 = time.perf_counter()
        try:
            df = fn(spark, sf_dir)
            # noop sink: forces FULL materialization of every output column
            # in one job (count() would let Catalyst prune the expressions
            # being measured; limit(k) would compute only k rows)
            df.write.mode("overwrite").format("noop").save()
        except Exception as exc:  # one broken query must not zero the round
            msg = f"{type(exc).__name__}: {exc}"[:300]
            if record_error:
                # only first runs charge the error penalty — a failed
                # RE-run of a query whose first run succeeded must not
                # flip it to errored (its single timing stands)
                errors[name] = msg
            print(f"# {name}: ERROR {msg}", file=sys.stderr)
            return None
        wall = round(time.perf_counter() - t0, 4)
        b1, s1 = _cpu_snap()
        p1 = _proc_cpu()
        # last run wins: for re-run queries the stored pair describes one
        # representative execution, which is all attribution needs
        cpu_busy[name] = round(b1 - b0, 2)
        cpu_steal[name] = round(s1 - s0, 2)
        runs_steal.setdefault(name, []).append(round(s1 - s0, 2))
        runs_busy.setdefault(name, []).append(round(b1 - b0, 2))
        dp = round(p1 - p0, 2)
        if dp < 0:
            # a long-lived child (streaming worker) exited mid-window and
            # was reparented outside our tree, taking its cumulative time
            # with it (r15 verdict #3: stream_click_purchase_join read
            # -124.8). Floor at 0 and FLAG it: a flagged row carries NO
            # busy evidence, and bench_compare must not read the floored
            # 0 as "flat busy" when splitting plan flags from host noise.
            cpu_proc_underflow.append(name)
            dp = 0.0
        cpu_proc[name] = dp
        return wall

    # pinned calibration probe: a fixed 1-row aggregate whose plan never
    # changes round-over-round. Timed THREE times across the sweep
    # (start/middle/end); drift between the three numbers — or between
    # rounds — measures the HOST, not this repo's plans.
    _cal_df = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))

    # the triple also records the probe's cpu-BUSY (r12 verdict #3): raw
    # cpu-seconds swing ~2x with host weather on this VM (allpairs syn10x
    # read 767 vs 1545 busy-s for identical code, steal ≈ 0), so busy
    # targets are certified as RATIOS to the calibration probe's busy,
    # the same normalization wall times already get
    calibration_busy: list[float] = []
    calibration_steal: list[float] = []
    calibration_proc: list[float] = []  # process-tree cpu, uncontaminable

    def _calibrate(record_busy: bool = False) -> float:
        from pyspark.sql import functions as F

        # isolated from THIS repo's plans: pinned checkpoint blocks tax
        # shuffles (73s-vs-28s effect documented in scale_probe.py), and
        # every timed query releases its own when it ends (_time_one)
        b0, s0 = _cpu_snap()
        p0 = _proc_cpu()
        t0 = time.perf_counter()
        _cal_df.groupBy("l_returnflag").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            F.avg("l_quantity"), F.count("*"),
        ).write.mode("overwrite").format("noop").save()
        wall = round(time.perf_counter() - t0, 4)
        if record_busy:
            b1, s1 = _cpu_snap()
            calibration_busy.append(round(b1 - b0, 2))
            calibration_steal.append(round(s1 - s0, 2))
            calibration_proc.append(round(_proc_cpu() - p0, 2))
        return wall

    # Sweep-start HOT WINDOW (r12 verdict #5): calibration t0 ran 1.5-2.2x
    # t1/t2 in both r11 and r12 — the first ~dozen timed queries pay
    # JVM/page-cache warmup that per-query attribution misreads as query
    # cost (the three r12 text-family flags were alphabetically-early
    # single-shots in exactly that window). Run the UNTIMED probe until
    # two consecutive runs agree within 10% (bounded at 8 extra runs, each
    # well under a second) before anything is timed.
    _w_prev = _calibrate()  # untimed first touch (JIT + page cache)
    for _ in range(8):
        _w_cur = _calibrate()
        if abs(_w_cur - _w_prev) <= 0.10 * max(_w_cur, _w_prev):
            break
        _w_prev = _w_cur
    calibration = [_calibrate(record_busy=True)]

    # Cache-homogeneity discipline (round-11 review #1): snapshot EVERY
    # module-level memo — materialized-artifact paths (dedup labels)
    # AND index state (quantizer centers, query vectors, grid bounds,
    # fingerprints) — just before each query's FIRST run, and restore
    # that exact state around each re-run. All N runs of a query then
    # execute under identical cache conditions: state prewarm_index_
    # state() built is warm in every run; a key only a query's own
    # first run built is re-paid by every re-run. The median stops
    # mixing one cold run with warm re-runs, and `spread` measures the
    # host again instead of cache asymmetry.
    # ... and the DURABLE layer too (r12 advisor): save_km_centers
    # persists the kmeans fit on disk, which memo-restore can't undo —
    # snapshot the set of persisted center dirs before each first run and
    # delete any NEW ones before each re-run, so a non-prewarmed n_lists
    # key refits on every run instead of only the first.
    from vector_db_service_spark import cache
    from vector_db_service_spark.benchutil import durable_km_center_dirs

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    runs: dict[str, list[float]] = {}
    cache_before: dict[str, dict] = {}
    durable_before: dict[str, set] = {}
    durable_created: dict[str, set] = {}
    # sweep position in calibration-SEGMENT units (0 = start probe,
    # 1 = mid probe, 2 = end probe) so compares can normalize each
    # query by the host speed AT ITS POSITION instead of one global
    # factor — the r13 triple rose 0.17->0.33 across the sweep with
    # late-concentrated steal, and a single factor over-corrected
    # early queries / under-corrected late ones (r13 verdict #7)
    # FIVE calibration points from r14 on (start / mid-single /
    # post-single / mid-rerun / end): interpolating a 3-point series
    # lets one start reading anchor half the sweep; with five, each
    # point anchors a quarter and interior points are bracketed by
    # queries on both sides. Positions are in segment units [0, 4].
    sweep_pos: dict[str, float] = {}
    _n_single = max(1, len(entrypoints.QUERIES))
    for _qi, (name, fn) in enumerate(sorted(entrypoints.QUERIES.items())):
        if _qi == _n_single // 2:
            calibration.append(_calibrate(record_busy=True))  # mid-single
        sweep_pos[name] = round(2.0 * (_qi + 0.5) / _n_single, 4)
        cache_before[name] = cache.snapshot()
        durable_before[name] = durable_km_center_dirs(sf_dir)
        t = _time_one(name, fn)
        # dirs THIS query's own first run persisted (scoping the
        # re-run deletion to the creator — a global
        # now-minus-snapshot delta would delete state later queries'
        # first runs created in between)
        durable_created[name] = (
            durable_km_center_dirs(sf_dir) - durable_before[name]
        )
        if t is None:
            continue
        runs[name] = [t]
        timings[name] = t
        print(f"# {name}: {t:.3f}s", file=sys.stderr)

    calibration.append(_calibrate(record_busy=True))  # mid-sweep: after the single shots

    # MEDIAN-OF-3 for the heaviest queries (round-9 review #3): driver
    # deltas of ±1 s on 2-6 s queries flip sign round-over-round with no
    # code change — single-shot timings are host-burst-noise-dominated
    # at this scale, so plan regressions can't be attributed. The 10
    # most expensive queries get two more timed executions; each reports
    # the MEDIAN of its 3 runs plus a `spread` (max-min) so a
    # regression claim can be checked against the run-to-run variance.
    # WATCH-LIST OVERRIDE (round-10 review #1/#3): queries under an
    # explicit perf target whose 3-run spread still straddles the
    # target get FIVE runs. Current targets (round 14, both on the
    # host-certifiable footing of COVERAGE.md RE-BASELINE 1/3):
    # allpairs <=20 cpu-busy-seconds at sf0.1 with <4 s wall as the
    # quiet-host expectation; recall sweep <=40 cpu-busy-seconds with
    # <2.5 s wall as the quiet-host expectation (the calibration
    # triple tells you which regime a sample ran in; cpu_proc_sec
    # proves the busy window uncontaminated).
    n_rerun = int(os.environ.get("SPARK_GRAFT_BENCH_RERUNS_TOP", "10"))
    # reruns disabled entirely (RERUNS_TOP=0) disables the watch list
    # too — a single-shot sweep must stay single-shot
    extra_reruns = (
        {
            "dedup_allpairs_cosine": 4,
            "ann_ivf_recall_sweep": 4,
            # r12 verdict #2: the three text-family single-shot flags
            # (plans untouched, presumed sweep-start hot window) must come
            # back with runs[] + spread so the next verdict can close them
            # either way — pinned to median-of-3 for this adjudication
            "text_decontamination": 2,
            "text_char_entropy": 2,
            "text_dsir_importance": 2,
            # r16 verdict #1: the four serving/graph heavies drew driver
            # spreads of 17-65 s under host bursts (their 8-core runs of
            # the same code ran 3-4x FASTER) — five runs + the per-run
            # steal series published below let a median survive one or
            # two burst-stalled runs and let PERF attribute the outliers
            "ann_beam_search_served": 4,
            "stream_ivf_refit_served": 4,
            "ann_ivfpq_rerank_sweep": 4,
            "ann_mutual_knn_components": 4,
        }
        if n_rerun > 0 else {}
    )
    rerun_set = sorted(timings, key=lambda n: -timings[n])[:n_rerun]
    rerun_set += [n for n in extra_reruns if n in timings and n not in rerun_set]
    # AUTO-ESCALATION (round-11 verdict #2): a query whose single-shot
    # timing moved beyond its noise floor vs the PREVIOUS committed
    # sweep gets the median-of-3 treatment IN THIS SWEEP, so a
    # bench_compare flag carries runs[] + spread the moment it appears
    # instead of waiting a round with no variance data to adjudicate
    # (r11's four quantizer-family flags were exactly this blind spot).
    # Floor and host normalization mirror scripts/bench_compare.py:
    # re-run-only variance when the old detail has per-run lists, 0.3 s
    # absolute floor, and the pinned-probe calibration ratio dividing
    # the new wall before comparison. Escalations are capped (largest
    # deltas first) so a globally-hot host can't double the sweep.
    if n_rerun > 0:
        _prev_path = os.path.join(_REPO, "BENCH_DETAIL.json")
        try:
            with open(_prev_path) as f:
                _prev = json.load(f)
            # ADDITIVE floor transport (r14 verdict #2): shared algebra
            # with scripts/bench_compare.py — dividing walls by the
            # calibration ratio manufactured regressions out of raw
            # improvements whenever the current host was FASTER, because
            # the sub-second scheduling floor does not scale with CPU
            # speed; the positional calibration delta transports it
            from vector_db_service_spark.benchutil import (
                floor_transport as _floor_transport,
            )

            _adj = _floor_transport(
                _prev,
                {
                    "calibration": calibration,
                    "sweep_pos": sweep_pos,
                    "queries": timings,
                },
            )

            _prev_floor = dict(_prev.get("spread", {}))
            for _n, _rs in (_prev.get("runs") or {}).items():
                if len(_rs) >= 3:
                    _prev_floor[_n] = round(max(_rs[1:]) - min(_rs[1:]), 4)
            _flagged = []
            for _n, _t in timings.items():
                if _n in rerun_set or _n not in _prev.get("queries", {}):
                    continue
                _delta = abs(_adj(_n, _t) - _prev["queries"][_n])
                _floor = max(_prev_floor.get(_n, 0.0), 0.3)
                if _delta > _floor:
                    _flagged.append((_delta - _floor, _n))
            _cap = int(os.environ.get("SPARK_GRAFT_BENCH_ESCALATE_CAP", "12"))
            _flagged.sort(reverse=True)
            if len(_flagged) > _cap:
                print(
                    f"# escalation cap: {len(_flagged)} flagged, "
                    f"re-running the {_cap} largest-delta",
                    file=sys.stderr,
                )
            for _excess, _n in _flagged[:_cap]:
                rerun_set.append(_n)
                print(
                    f"# escalated to median-of-3 (moved {_excess:.2f}s beyond "
                    f"its floor vs previous sweep): {_n}",
                    file=sys.stderr,
                )
        except (FileNotFoundError, json.JSONDecodeError, KeyError):
            pass  # no previous detail to compare against — fresh checkout
    spread: dict[str, float] = {}
    import shutil as _shutil

    _n_rerun_total = max(1, len(rerun_set))
    for _rj, name in enumerate(rerun_set):
        if _rj == _n_rerun_total // 2 and _rj > 0:
            calibration.append(_calibrate(record_busy=True))  # mid-rerun
        # the reported median comes from the re-run phase, so the
        # query's effective position moves to the re-run segments
        sweep_pos[name] = round(2.0 + 2.0 * (_rj + 0.5) / _n_rerun_total, 4)
        for _ in range(extra_reruns.get(name, 2)):
            saved = cache.snapshot()
            cache.restore(cache_before[name])
            # durable-state symmetry: drop center dirs this query's own
            # FIRST run created so the re-run refits exactly like it
            # (it re-persists them itself); scoped to the creator so
            # other queries' persisted state is never touched
            for _p in durable_created.get(name, set()):
                _shutil.rmtree(_p, ignore_errors=True)
            t = _time_one(name, entrypoints.QUERIES[name], record_error=False)
            cache.restore(saved)
            if t is not None:
                runs[name].append(t)
        rs = sorted(runs[name])
        # true median: if a re-run errored (len 2) the middle-index pick
        # would report the MAX — midpoint the two middle values instead
        mid = len(rs) // 2
        timings[name] = (
            rs[mid] if len(rs) % 2 else round((rs[mid - 1] + rs[mid]) / 2, 4)
        )
        spread[name] = round(rs[-1] - rs[0], 4)
        print(
            f"# {name}: median {timings[name]:.3f}s of {rs} "
            f"(spread {spread[name]:.3f}s, "
            f"steal/run {runs_steal.get(name, [])})",
            file=sys.stderr,
        )

    calibration.append(_calibrate(record_busy=True))  # end of sweep

    # an errored query must not IMPROVE the headline (it would otherwise
    # subtract its wall time): charge each error the max observed query
    # time ×2 (floor 60 s) so failures strictly cost more than success
    penalty = round(max([60.0] + [2.0 * t for t in timings.values()]), 4)
    total = round(sum(timings.values()) + penalty * len(errors), 4)
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "spread": spread,
        "errors": errors,
        "error_penalty_sec_each": penalty if errors else 0.0,
        "calibration": calibration,
        "calibration_busy": calibration_busy,
        "calibration_steal": calibration_steal,
        "calibration_proc": calibration_proc,
        "cpu_busy_sec": cpu_busy,
        "cpu_steal_sec": cpu_steal,
        "cpu_proc_sec": cpu_proc,
        "runs_steal": runs_steal,
        "runs_busy": runs_busy,
        "cpu_proc_underflow": sorted(set(cpu_proc_underflow)),
        "sweep_pos": sweep_pos,
        "sf": sf,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    # Keep the single stdout line SMALL (driver tail-captures stdout; the
    # full 117-query dict overflowed it in round 1) — top-10 heaviest only,
    # full per-query detail in BENCH_DETAIL.json.
    top10 = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:10])
    print(json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "n_errors": len(errors),
        "error_penalty_sec_each": penalty if errors else 0.0,
        "queries": top10,
        "spread": {n: spread[n] for n in top10 if n in spread},
        "steal_runs": {n: runs_steal[n] for n in top10 if n in runs_steal},
        "calibration": calibration,
        "calibration_busy": calibration_busy,
        "cpu_busy_total_sec": round(sum(cpu_busy.values()), 1),
        "cpu_proc_total_sec": round(sum(cpu_proc.values()), 1),
        "cpu_steal_total_sec": round(sum(cpu_steal.values()), 1),
        "sf": sf,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
