"""Shared measurement helpers for bench.py and scripts/scale_probe.py.

Both harnesses must apply the SAME isolation and attribution discipline
or their numbers stop being comparable — these helpers existed as
verbatim copies in each file until round 11, which is exactly how the
two would silently diverge on the next fix.
"""

from __future__ import annotations

import os
from contextlib import contextmanager


def _persisted(spark):
    """(id, RDD) of every RDD persisted in the context."""
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().iterator()
    while it.hasNext():
        pair = it.next()
        yield int(pair._1()), pair._2()


def persisted_rdds(spark) -> frozenset[int]:
    """Ids of the RDDs persisted in the context now: the mark a query's
    release_checkpoints keeps."""
    return frozenset(rdd_id for rdd_id, _ in _persisted(spark))


def release_checkpoints(spark, kept: frozenset[int]) -> None:
    """Unpersist the localCheckpoint blocks pinned since `kept` (a
    persisted_rdds mark taken when the query started). Queries must time
    INDEPENDENTLY: checkpointed iteration frames (dedup/CC) and
    fingerprint tables otherwise accumulate in the block manager across
    a sweep and the resulting storage-memory pressure taxes every later
    shuffle — measured 73 s vs 28 s on the allpairs syn10x warm run with
    vs without leftover blocks resident. Only checkpoints are released:
    a cached Dataset (the resident search copies, operators/knn.py) is
    index state the next query reads, and unpersisting its RDD under
    Spark's CacheManager would leave that cache entry recomputing on
    every read; a replay's cache.restore releases the copies its run
    built. Blocks pinned before the mark belong to other queries
    and stay."""
    for rdd_id, rdd in list(_persisted(spark)):
        if rdd_id not in kept and rdd.isCheckpointed():
            rdd.unpersist(False)


@contextmanager
def own_checkpoints(spark):
    """Run the block as one query: the checkpoints it pins are released
    when it exits."""
    kept = persisted_rdds(spark)
    try:
        yield
    finally:
        release_checkpoints(spark, kept)


def durable_km_center_dirs(sf_dir: str, root: str | None = None) -> set[str]:
    """Existing DURABLE kmeans-center dirs for this dataset. The in-memory
    cache.snapshot()/cache.restore() cannot undo a PERSISTED
    save_km_centers write: for any n_lists key prewarm didn't build, the
    first run would pay the distributed fit while re-runs paid only a
    bounded parquet read — the exact cold/warm asymmetry r11 flagged,
    masked only because every registered query uses n_lists=7 (r12
    advisor). bench.py snapshots this set before a query's first run and
    deletes any NEWLY-created dir before each re-run, so every run refits
    exactly like the first."""
    import glob

    from vector_db_service_spark.operators.store import index_root

    return set(
        glob.glob(os.path.join(index_root(sf_dir, root), "mllib_km_centers_*"))
    )


def prewarm_index_state(spark, sf_dir: str) -> None:
    """Build the shared index state (quantizer centers, grid bounds,
    query-vector literals) BEFORE any timed run, so fit cost is
    excluded from query timings as amortized index build — the same
    train-once/probe-many lifecycle the reference's indexes follow and
    the same precedent as bench.py's ensure_library() pre-build for the
    stored-index probes. Keys warmed here are exactly the ones the
    registry's ann/knn/grid queries request (n_lists=7 everywhere,
    query ids 0-4); a query that requests an unseen key still pays its
    own build on EVERY run (first and re-runs alike) thanks to the
    cache.snapshot()/cache.restore() discipline around each run."""
    from vector_db_service_spark.operators import ann, grid, knn

    # driver-side Lloyd coarse quantizer (recall sweep, ivfpq, blocked
    # pairs, silhouette, cluster reps — all n_lists=7 in the registry)
    ann._coarse_centers(spark, sf_dir, 7)
    # distributed MLlib kmeans|| fit (mllib_ivf_kmeans_topk, n_lists=7)
    ann.mllib_km_centers(spark, sf_dir, 7)
    # per-dimension grid bounds: whole-corpus and the per-library scopes
    # the registered grid searches use (library=2) plus the stored-index
    # lifecycle's library 1
    for lib in (None, 1, 2):
        grid.bounds_cached(spark, sf_dir, lib)
    # query-vector literals for the search entry points (ids 0-4: the
    # recall sweep probes 0..4, every other registered search uses 0)
    knn.query_vector_rows(spark, sf_dir, [0, 1, 2, 3, 4])


def cpu_snap() -> tuple[float, float]:
    """(busy_sec, steal_sec) from the host-wide /proc/stat line.
    Busy = user+nice+system: actual on-CPU work, which a throttled
    hypervisor does NOT inflate (the VM simply isn't running).
    Steal: jiffies the hypervisor withheld — the throttle itself."""
    try:
        v = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        hz = float(os.sysconf("SC_CLK_TCK"))
        return (v[0] + v[1] + v[2]) / hz, (v[7] if len(v) > 7 else 0) / hz
    except Exception:
        return 0.0, 0.0


def cal_at(cal: list, pos: float) -> float:
    """Piecewise-linear interpolation of the calibration probe series.

    `pos` is in calibration-SEGMENT units: 0.0 = the sweep-start probe,
    1.0 = the mid-sweep probe (after the single shots), 2.0 = the
    end-of-sweep probe (after the re-runs). Round-13 evidence showed a
    single whole-sweep factor mis-normalizes position-dependent drift
    (the r13 triple rose 0.17->0.33 across the sweep and the 22.8 s of
    steal was late-concentrated), so per-query normalization
    interpolates the triple at the query's own position instead
    (r13 verdict #7)."""
    if not cal:
        return 1.0
    pts = [float(c) for c in cal]
    if len(pts) == 1:
        return pts[0]
    p = min(max(float(pos), 0.0), float(len(pts) - 1))
    i = min(int(p), len(pts) - 2)
    frac = p - i
    return pts[i] + frac * (pts[i + 1] - pts[i])


def sweep_positions(detail: dict) -> dict:
    """Per-query sweep position (calibration-segment units) for a
    BENCH_DETAIL dict. Round-14+ files record it directly under
    `sweep_pos`; for older files it is reconstructed from what the
    sweep deterministically did: single shots ran in sorted(name)
    order between cal[0] and cal[1] (pos = (rank+0.5)/N), and any
    query with >1 entry in `runs` took its reported median from the
    re-run phase between cal[1] and cal[2], re-run in descending
    single-shot-time order (the top-k selection), so
    pos = 1 + (rank+0.5)/M. The reconstruction approximates the
    escalation/watch-list additions' exact ordering but stays within
    the correct calibration segment, which is what bounds the error."""
    if isinstance(detail.get("sweep_pos"), dict) and detail["sweep_pos"]:
        return {k: float(v) for k, v in detail["sweep_pos"].items()}
    queries = detail.get("queries") or {}
    names = sorted(queries)
    n = max(1, len(names))
    pos = {name: (i + 0.5) / n for i, name in enumerate(names)}
    runs = detail.get("runs") or {}
    rerun = [name for name in names if len(runs.get(name) or []) > 1]
    # re-run order: descending first-run wall, the top-k rerun rule
    rerun.sort(key=lambda name: -(runs[name][0]))
    m = max(1, len(rerun))
    for j, name in enumerate(rerun):
        pos[name] = 1.0 + (j + 0.5) / m
    return pos


def interp_series(detail: dict) -> list:
    """Calibration series safe for POSITIONAL interpolation.

    Files that predate recorded `sweep_pos` (pre-round-14) carry a
    3-point triple whose t0 is a single start reading with shifting
    semantics (JIT-hot before r13's warm-until-stable loop; one
    unbracketed quiet-host sample after) — linearly extrapolating that
    one point over the entire first half of the sweep amplifies its
    noise into every early query (a dry-run of the r12->r13 compare
    with raw triples flagged 104 queries; the cleaned series flags
    single digits). Replace t0 with t1 for such files; interior points
    are bracketed by queries on both sides and stay. Round-14+ sweeps
    record five points (start / mid-single / post-single / mid-rerun /
    end) plus exact positions, so each point only anchors a
    quarter-sweep and the raw series is used as-is."""
    cal = [float(c) for c in (detail.get("calibration") or [])]
    has_pos = isinstance(detail.get("sweep_pos"), dict) and detail["sweep_pos"]
    if cal and len(cal) >= 2 and not has_pos:
        cal = [cal[1]] + cal[1:]
    return cal


def floor_transport(detail_old: dict, detail_new: dict):
    """ADDITIVE scheduling-floor transport between two sweeps — the
    r14-verdict fix for the cross-regime normalization artifact.

    The old scheme DIVIDED new walls by the calibration ratio. That is
    only correct for the busy-proportional component of a wall; the
    sub-second queries that dominate this suite's count are instead
    dominated by a fixed per-query scheduling floor that does NOT scale
    with host CPU speed — so when the new host is FASTER (ratio < 1)
    the division inflates every floor-dominated wall and manufactures
    regressions out of raw improvements (the r13->r14 compare read 69
    flags on a sweep whose raw walls fell 10%). The calibration probe
    is itself a floor-dominated sub-second query, so its positional
    wall is the best in-sweep measure of that floor + weather: express
    a new wall in old-sweep units by SUBTRACTING the new sweep's
    positional calibration wall and ADDING the old sweep's
    (wall - c_new + c_old). Multi-second queries where CPU-speed
    scaling would matter are exactly the ones whose cpu_proc_sec both
    sweeps record — busy deltas, not wall ratios, adjudicate those.

    Returns adj(name, new_wall) -> the new wall transported into the
    old sweep's weather units."""
    import statistics as _stats

    pos_o = sweep_positions(detail_old)
    pos_n = sweep_positions(detail_new)
    ical_o = interp_series(detail_old)
    ical_n = interp_series(detail_new)
    med_o = _stats.median(ical_o) if ical_o else 0.0
    med_n = _stats.median(ical_n) if ical_n else 0.0

    def adj(name: str, new_wall: float) -> float:
        if (
            name in pos_o
            and name in pos_n
            and len(ical_o) >= 2
            and len(ical_n) >= 2
        ):
            return (
                new_wall
                - cal_at(ical_n, pos_n[name])
                + cal_at(ical_o, pos_o[name])
            )
        return new_wall - med_n + med_o

    return adj


def proc_tree_cpu() -> float:
    """CPU seconds (utime+stime) consumed by THIS process and every
    live descendant — the python driver plus the py4j-launched JVM and
    any Arrow/pandas workers. cpu_snap() reads the HOST-WIDE
    /proc/stat counter, which any co-tenant process inflates: the r13
    driver sweep read dedup_components at 39 host-busy cpu-s (with
    8.7 s of steal in the same window) while the builder sweep at the
    same HEAD read 16.9 — attribution needs a counter foreign work
    cannot touch. Children are discovered via /proc/<pid>/stat ppid
    chains; a child that EXITS donates its time to the parent's
    cutime/cstime, which are added too, so short-lived workers are not
    lost."""
    import os as _os

    hz = float(_os.sysconf("SC_CLK_TCK"))
    me = _os.getpid()
    # one pass over /proc to map pid -> (ppid, utime+stime+cutime+cstime)
    stats: dict[int, tuple[int, float]] = {}
    try:
        pids = [int(d) for d in _os.listdir("/proc") if d.isdigit()]
    except OSError:
        return 0.0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                raw = f.read().decode("ascii", "replace")
        except OSError:
            continue  # exited between listdir and open
        # comm may contain spaces/parens: split after the LAST ')'
        rest = raw[raw.rfind(")") + 2:].split()
        # rest[1]=ppid, rest[11..14]=utime stime cutime cstime
        try:
            ppid = int(rest[1])
            cpu = sum(int(rest[i]) for i in (11, 12, 13, 14)) / hz
        except (IndexError, ValueError):
            continue
        stats[pid] = (ppid, cpu)
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _cpu) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack, seen = 0.0, [me], set()
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if pid in stats:
            total += stats[pid][1]
            stack.extend(kids.get(pid, ()))
    return total
