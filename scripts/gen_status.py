"""Regenerate the machine-countable blocks of STATUS.md AND the driver
rotation.

Hand-written counts drifted two rounds running (round-9 said 522 when
577 existed; round-10 said 681 when 756 existed), so the counts are now
GENERATED; round 15's rotation narrative drifted the same way (STATUS
said 18/12/~31 where the committed samples said 7/36 — r15 verdict #1),
so the rotation is now generated too: the priority order is COMPUTED
from the CORRECTNESS_r*.json history (rotationlib: never-green first,
then the changed-this-round list below, then oldest-green-first) and
materialized into vector_db_service_spark/rotation_generated.py plus
the `<!-- GEN:rotation -->` STATUS block. Run it (and commit the
result) whenever tests, registrations, or driver samples change:

    python scripts/gen_status.py
"""

from __future__ import annotations

import os
import re
import subprocess
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

BEGIN = "<!-- GEN:counts -->"
END = "<!-- /GEN:counts -->"
RBEGIN = "<!-- GEN:rotation -->"
REND = "<!-- /GEN:rotation -->"

# The ONE hand-maintained rotation input (everything else derives from
# the committed artifacts): queries whose code paths changed materially
# this round, so their old green rows no longer certify the current
# code. Reset this list each round.
CHANGED_THIS_ROUND: tuple[str, ...] = (
    # the coarse quantizer trains, assigns, frames its centers and
    # routes through one helper per step (operators/ann.py)
    "ann_blocked_pair_recall",
    "ann_cluster_silhouette",
    "ann_ivf_balance_audit",
    "ann_ivf_filtered",
    "ann_ivf_list_split",
    "ann_ivf_multi_query",
    "ann_ivf_nprobe_autotune",
    "ann_ivf_recall_sweep",
    "ann_ivfpq_rerank_sweep",
    "ann_ivfpq_residual_topk",
    "ann_ivfpq_topk",
    "ann_pq_topk",
    "ann_product_quantize",
    "ann_refit_recall_gain",
    "dedup_semantic_keep",
    "mllib_ivf_kmeans_topk",
    "stream_ivf_maintenance",
    "stream_ivf_refit",
    "stream_ivf_refit_served",
    # the stream's sink directory is checkpointed into the result and
    # removed (streaming/pipeline.py)
    "stream_decontamination",
    "stream_embed_pending",
    "stream_quality_resample",
    # tables.load reads `events` without setting nanosAsLong unless
    # its footer says timestamp[ns]
    "p2_conjunctive_filter",
    "p3_json_filter",
    "rel_asof_purchase_click",
    "rel_conversion_funnel",
    "rel_event_funnel",
    "rel_event_transitions",
    "rel_events_daily_rollup",
    "rel_events_hourly",
    "rel_events_json_stats",
    "rel_interarrival_stats",
    "rel_moving_avg_value",
    "rel_range_join_context",
    "rel_salted_user_counts",
    "rel_scd2_user_history",
    "rel_sessionize_events",
    "rel_sliding_1h_sum",
    "rel_temporal_tier_join",
    "rel_user_day_retention",
    "rel_user_running_totals",
    "rel_value_deciles",
    "rel_value_outliers",
    "rel_value_percentiles",
    "s18_orc_file_roundtrip",
    "s4_scan_by_parent",
    "sketch_bloom_membership",
    "sketch_countmin_event_types",
    "sketch_countmin_merge",
    "sketch_hll_by_event_type",
    "sketch_hll_distinct_users",
    "sketch_hll_intersection",
    "sketch_hll_merge",
    "sketch_kmv_merge",
    "sketch_kmv_overlap",
    "sketch_quantile_histogram",
    "stream_late_data_audit",
)
# Estimated new-ops-per-round for the staleness projection table (the
# recent-round average; only used for the forward-looking table).
NEW_PER_ROUND = 10


def collect_pytest_count() -> tuple[int, int]:
    """(n_tests, n_expected_skips) from a live pytest collection."""
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q", "tests/"],
        cwd=_REPO, capture_output=True, text=True, timeout=600,
    ).stdout
    m = re.search(r"(\d+) tests? collected", out)
    if not m:
        raise RuntimeError(f"could not parse pytest collection tail: {out[-300:]}")
    n = int(m.group(1))
    # expected skips are conditional at RUN time (hypercube dim<=4 branch);
    # count the explicit pytest.skip call sites as the upper bound
    skips = subprocess.run(
        ["grep", "-rc", "pytest.skip(", "tests/"],
        cwd=_REPO, capture_output=True, text=True,
    ).stdout
    n_skip_sites = sum(
        int(line.rsplit(":", 1)[1]) for line in skips.splitlines() if ":" in line
    )
    return n, n_skip_sites


def registry_counts() -> tuple[int, int]:
    from vector_db_service_spark import entrypoints

    return len(entrypoints.QUERIES), len(entrypoints.ORACLES)


def gen_rotation() -> tuple[str, int]:
    """Compute the priority order, write rotation_generated.py, and
    return (STATUS rotation block, head size)."""
    from vector_db_service_spark import entrypoints, rotationlib

    registered = list(entrypoints.QUERIES)
    hist, latest = rotationlib.correctness_history(_REPO)
    next_round = latest + 1
    pri = rotationlib.priority_order(
        registered, hist, changed=CHANGED_THIS_ROUND, head=50
    )
    histo = rotationlib.staleness_histogram(registered, hist)
    proj = rotationlib.projected_debt(
        registered, hist, pri, next_round, new_per_round=NEW_PER_ROUND
    )
    never = [n for n in pri if n not in hist]
    chg = [n for n in pri if n in CHANGED_THIS_ROUND and n not in never]
    n_stale_head = len(pri) - len(never) - len(chg)
    lines = [
        '"""AUTO-GENERATED by scripts/gen_status.py — do not edit.',
        "",
        "The driver-sample head, computed from the CORRECTNESS_r*.json",
        "history by rotationlib.priority_order (never-green first, then",
        "gen_status.CHANGED_THIS_ROUND, then oldest-green-first).",
        "Regenerate with: python scripts/gen_status.py",
        '"""',
        "",
        "PRIORITY_50 = [",
    ]
    for n in pri:
        tag = ("never" if n in never
               else "changed" if n in chg else f"r{hist[n]}")
        lines.append(f"    {n!r},  # {tag}")
    lines.append("]")
    path = os.path.join(
        _REPO, "vector_db_service_spark", "rotation_generated.py"
    )
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")

    histo_txt = ", ".join(f"{k}x{v}" for k, v in histo.items())
    proj_rows = "\n".join(
        f"  | r{r['round']} | r{r['oldest_green']} | {r['max_staleness']} "
        f"| {r['n_at_or_over_ceiling']} |"
        for r in proj
    )
    block = (
        f"{RBEGIN}\n"
        f"- Rotation is COMPUTED from the CORRECTNESS history "
        f"(`rotationlib.priority_order`; r15 verdict #1): this round's "
        f"50-slot sample = {len(never)} never-sampled new ops, "
        f"{len(chg)} changed-path rows (`gen_status.CHANGED_THIS_ROUND`),"
        f" and the {n_stale_head} oldest-green rows.\n"
        f"- Staleness histogram (last green driver round, all "
        f"{len(registered)} queries): {histo_txt}.\n"
        f"- Projected ceiling (simulated oldest-first drain, "
        f"~{NEW_PER_ROUND} new ops/round, 50-slot samples; ceiling = "
        f"{rotationlib.STALENESS_CEILING} rounds):\n\n"
        f"  | round | oldest green | max staleness | at/over ceiling |\n"
        f"  |---|---|---|---|\n"
        f"{proj_rows}\n\n"
        f"- Generated by `scripts/gen_status.py`; re-run it instead of "
        f"editing this block.\n"
        f"{REND}"
    )
    return block, len(pri)


def main() -> None:
    n_tests, n_skip_sites = collect_pytest_count()
    n_queries, n_oracles = registry_counts()
    rot_block, head = gen_rotation()
    block = (
        f"{BEGIN}\n"
        f"- **{n_queries} registered queries**, **{n_oracles} with exact\n"
        f"  DuckDB value-hash oracles**, {n_queries - n_oracles} rows-only\n"
        f"  (the wall-clock `obs_timed_search`).\n"
        f"- **{n_tests} pytest checks collected** (`pytest --collect-only`;\n"
        f"  {n_skip_sites} conditional skip site(s) in the tree — the grid\n"
        f"  hypercube branch skips unless dim<=4).\n"
        f"- Counts generated by `scripts/gen_status.py`; re-run it instead\n"
        f"  of editing these numbers.\n"
        f"{END}"
    )
    path = os.path.join(_REPO, "STATUS.md")
    text = open(path).read()
    if BEGIN in text:
        new = re.sub(
            re.escape(BEGIN) + r".*?" + re.escape(END), block, text, flags=re.S
        )
    else:
        raise RuntimeError("STATUS.md has no GEN:counts markers")
    if RBEGIN in new:
        new = re.sub(
            re.escape(RBEGIN) + r".*?" + re.escape(REND),
            rot_block.replace("\\", "\\\\"), new, flags=re.S,
        )
    else:
        raise RuntimeError("STATUS.md has no GEN:rotation markers")
    open(path, "w").write(new)
    print(f"STATUS.md: {n_queries} queries / {n_oracles} oracles / "
          f"{n_tests} tests / rotation head {head}")


if __name__ == "__main__":
    main()
