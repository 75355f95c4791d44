"""The committed rotation must equal a fresh computation from the
committed CORRECTNESS history (r15 verdict #1: hand-maintained rotation
narratives drifted from the artifacts; now the artifact IS the
narrative)."""

from __future__ import annotations

import os

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fresh():
    from vector_db_service_spark import entrypoints, rotationlib
    from vector_db_service_spark.rotation_changed import CHANGED_THIS_ROUND

    hist, latest = rotationlib.correctness_history(_REPO)
    pri = rotationlib.priority_order(
        list(entrypoints.QUERIES), hist,
        changed=CHANGED_THIS_ROUND, head=50, next_round=latest + 1,
    )
    return pri, hist, latest


def test_committed_rotation_matches_fresh_computation():
    from vector_db_service_spark.rotation_generated import PRIORITY_50

    pri, _, _ = _fresh()
    assert PRIORITY_50 == pri, (
        "rotation_generated.py is stale — run scripts/gen_status.py"
    )


def test_rotation_head_shape():
    from vector_db_service_spark import entrypoints
    from vector_db_service_spark.rotation_generated import PRIORITY_50

    assert len(PRIORITY_50) == 50
    assert len(set(PRIORITY_50)) == 50
    missing = [n for n in PRIORITY_50 if n not in entrypoints.QUERIES]
    assert not missing, f"priority names not registered: {missing}"
    # the registry order actually starts with the head (the driver
    # samples the FIRST 50 registered queries)
    assert list(entrypoints.QUERIES)[:50] == PRIORITY_50


def test_staleness_ceiling_honored_when_it_fits():
    """Every query that would hit the staleness ceiling at the NEXT
    round must be in the computed head (unless the over-ceiling cohort
    plus the mandatory never/changed tiers genuinely exceed 50 — then
    the overflow is the documented debt, not a silent omission)."""
    from vector_db_service_spark import rotationlib
    from vector_db_service_spark.rotation_generated import PRIORITY_50

    pri, hist, latest = _fresh()
    next_round = latest + 1
    over = {
        n
        for n in hist
        if next_round - hist[n] >= rotationlib.STALENESS_CEILING
    }
    over &= set(
        __import__(
            "vector_db_service_spark.entrypoints", fromlist=["QUERIES"]
        ).QUERIES
    )
    missed = over - set(PRIORITY_50)
    if missed:
        # mandatory tiers = never-green + CHANGED_THIS_ROUND + the
        # over-ceiling cohort (the docstring's contract; the original
        # assert omitted the changed tier, so with the cohort at
        # exactly 50 ANY changed entry failed it — r17 fix to match
        # the documented intent)
        from vector_db_service_spark.rotation_changed import CHANGED_THIS_ROUND

        never = [n for n in PRIORITY_50 if n not in hist]
        mandatory = set(never) | set(CHANGED_THIS_ROUND) | over
        assert len(mandatory) > 50, (
            f"ceiling cohort fits but is not fully sampled: {sorted(missed)}"
        )


def test_projected_staleness_within_ceiling():
    """The committed head keeps the projected max staleness (the
    generated STATUS table, rotationlib.projected_debt) within the
    ceiling, however long the changed-this-round list is: the
    oldest-green tier gets the head slots it needs before the changed
    rows fill the rest."""
    from vector_db_service_spark import entrypoints, rotationlib
    from vector_db_service_spark.rotation_generated import PRIORITY_50

    hist, latest = rotationlib.correctness_history(_REPO)
    proj = rotationlib.projected_debt(
        list(entrypoints.QUERIES), hist, PRIORITY_50, latest + 1
    )
    worst = max(r["max_staleness"] for r in proj)
    assert worst <= rotationlib.STALENESS_CEILING, proj


def test_reserved_tier_precedes_a_crowding_changed_list():
    """A changed list as long as the head cannot push the oldest-green
    rows the ceiling needs out of it, where the order with no reserved
    tier (never, changed, oldest) would exceed the ceiling."""
    from vector_db_service_spark.rotationlib import (
        STALENESS_CEILING, priority_order, projected_debt,
    )

    reg = [f"q{i:03d}" for i in range(120)]
    hist = {n: 10 + i // 20 for i, n in enumerate(reg)}  # 6 cohorts of 20
    changed = tuple(reversed(reg))[:30]  # the newest rows, all marked changed
    nxt = 10 + STALENESS_CEILING + 1
    plain = sorted(changed)  # no never-green rows, so the unreserved head
    crowded = projected_debt(reg, hist, plain, nxt, head=30)
    assert max(r["max_staleness"] for r in crowded) > STALENESS_CEILING
    pri = priority_order(reg, hist, changed=changed, head=30, next_round=nxt)
    proj = projected_debt(reg, hist, pri, nxt, head=30)
    assert max(r["max_staleness"] for r in proj) <= STALENESS_CEILING
    assert pri[0] == "q000"  # the oldest row leads the reserved tier
    assert len(set(pri)) == len(pri) == 30


def test_priority_order_properties():
    """Structural properties of the computed order on synthetic
    histories: never-green first (alphabetical), changed next, then
    strictly oldest-first; deterministic; total. The whole registry fits
    the head, so the projection needs no reserved tier."""
    from vector_db_service_spark.rotationlib import priority_order

    reg = [f"q{i:02d}" for i in range(20)]
    hist = {f"q{i:02d}": 10 + (i % 4) for i in range(15)}  # q15..q19 never
    changed = ("q03", "q07", "q99")  # q99 unregistered -> ignored
    pri = priority_order(reg, hist, changed=changed, head=20, next_round=14)
    assert pri[:5] == ["q15", "q16", "q17", "q18", "q19"]  # never, alpha
    assert pri[5:7] == ["q03", "q07"]  # changed, alpha, registered only
    rest = pri[7:]
    rounds = [hist[n] for n in rest]
    assert rounds == sorted(rounds)  # oldest-green drains first
    assert pri == priority_order(reg, hist, changed=changed, head=20, next_round=14)
    assert len(set(pri)) == len(pri) == 20


def test_staleness_histogram_total():
    from vector_db_service_spark.rotationlib import staleness_histogram

    reg = ["a", "b", "c", "d"]
    hist = {"a": 10, "b": 10, "c": 12}
    h = staleness_histogram(reg, hist)
    assert h == {"never": 1, "r10": 2, "r12": 1}
    assert sum(h.values()) == len(reg)


def test_bench_compare_underflow_rows_are_not_flat_busy(tmp_path):
    """A query whose process-tree counter underflowed must be treated as
    having NO busy evidence: its over-floor wall move lands in the
    plan-flag list, not the 'flat busy = host context' list (r15
    verdict #3)."""
    import json
    import subprocess
    import sys

    def detail(wall, busy, underflow):
        return {
            "queries": {"q_uf": wall, "q_flat": wall},
            "runs": {},
            "spread": {"q_uf": 0.01, "q_flat": 0.01},
            "calibration": [0.2, 0.2, 0.2],
            "cpu_proc_sec": {"q_uf": busy, "q_flat": 5.0},
            "cpu_steal_sec": {},
            "cpu_proc_underflow": underflow,
        }

    old = tmp_path / "old.json"
    new = tmp_path / "new.json"
    old.write_text(json.dumps(detail(1.0, 5.0, [])))
    # both queries' walls triple; q_uf's busy floored to 0 + flagged,
    # q_flat's busy genuinely flat
    new.write_text(json.dumps(detail(3.0, 0.0, ["q_uf"])))
    out = subprocess.run(
        [sys.executable,
         os.path.join(_REPO, "scripts", "bench_compare.py"),
         str(old), str(new)],
        capture_output=True, text=True, timeout=60,
    ).stdout
    lines = out.splitlines()
    plan_idx = next(
        i for i, ln in enumerate(lines) if "WITH a process-tree busy" in ln
    )
    flat_idx = next(
        i for i, ln in enumerate(lines) if "FLAT process-tree busy" in ln
    )
    plan_block = "\n".join(lines[plan_idx:flat_idx])
    flat_block = "\n".join(lines[flat_idx:])
    assert "q_uf" in plan_block and "q_uf" not in flat_block
    assert "q_flat" in flat_block and "q_flat" not in plan_block
