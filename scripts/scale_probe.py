"""Scale probe: measure key operators at sf0.01, sf0.1, and a synthetic
10x-sf0.1 corpus (~50K docs / 20K vectors / 600K events) built by
unioning sf0.1 with id offsets and a per-copy token mutation.

Evidence for the design-for-scale claims: operators whose plans are
single-scan projections / bucketed joins / mergeable aggregations
should scale ~linearly in rows; the dedup pair family grows with the
duplicate structure the synthetic corpus deliberately injects (every
doc gains 9 near-twins), so its growth is reported, not asserted
linear.

Writes one JSON line; run exclusively (no concurrent Spark work).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)
os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import functions as F  # noqa: E402

from vector_db_service_spark.session import get_spark  # noqa: E402
from vector_db_service_spark import entrypoints  # noqa: E402

COPIES = 10
SYN = "/tmp/spark_graft_scale/sf1.0syn"
PROBES = [
    "knn_search_hydrated",
    "text_gopher_filter",
    "text_decontamination",
    "pipeline_sequence_packing",
    "sketch_quantile_histogram",
    "sketch_hll_merge",
    "a1_count_by_library",
    "rel_revenue_by_nation",
    "dedup_minhash_pairs",
    "text_blocklist_filter",
    "text_unigram_logprob",
    "dedup_keep_canonical",
    "ann_matryoshka_recall",
    "dedup_substring_spans",
    "dedup_semantic_keep",
    # round-8: prefix-filtered allpairs — pair output grows with the
    # injected duplicate structure like the rest of the dedup family
    "dedup_allpairs_cosine",
    # round-12: the spread-parallelized banded pair joins — scaling
    # evidence that the quadratic expansion distributes (the sf0.1
    # broadcast-probe plan ran it in one task)
    "ann_knn_join",
    "dedup_embedding_pairs",
    # round-9/10 additions: fused single-scan recall sweep, bounded
    # label propagation, JVM-only hygiene projections, deep PNG decode,
    # per-vector sign signatures
    "ann_ivf_recall_sweep",
    "dedup_components",
    "text_pii_scrub",
    "text_script_profile",
    "mm_decode_png_deep",
    "ann_index_recall_report",
    # round-13: the iterative mutual-kNN graph labeling (rounds grow
    # log-with-diameter; 10x vectors deepen the chains) and the image
    # dHash pair join (pair output grows with the injected near-twin
    # structure like the text dedup family)
    "ann_mutual_knn_components",
    "mm_phash_near_dups",
    # round-14 (r13 verdict #8): the pairs op itself — the banded knn
    # join + reciprocal semi-join WITHOUT the contraction loop, so the
    # two costs are separable in the probe
    "ann_mutual_knn_pairs",
    # round-14: the maintained-IVF lifecycle (startup assign + two
    # partition-scoped merge batches) at 10x corpus volume
    "stream_ivf_maintenance",
    # round-14: the two new quadratic-family ops — the globally-banded
    # cross-label pair join (auto width n_labels=1) and the
    # fingerprint-store ingestion probe (the near-twin corpus floods
    # both with genuine duplicate structure)
    "pipeline_hard_negatives",
    "stream_ingestion_dedup",
    # round-14 continuation: NN-descent rides the banded graph's
    # neighbor-of-neighbor expansion (linear in n*m^2, and the
    # near-twin corpus densifies every neighborhood); the PCA Gram
    # aggregation is the dim^2-partials-per-task shape whose wall
    # should stay flat-ish at 10x rows; the triangle census is the
    # two-hop join over the mutual edge list
    "ann_nn_descent",
    "emb_pca_power_iteration",
    "ann_knn_triangles",
    # round-14 continuation, second wave: the maintained-graph
    # lifecycle (startup build + partition-scoped rebuild batches), the
    # navigated walk (entry-layer scan should amortize at 10x), the
    # two-pass integer OOD screen, and the image cluster contraction
    "stream_knn_graph_maintenance",
    "ann_graph_beam_search",
    "emb_ood_zscore",
    "mm_phash_components",
    # round-15: the recall AUDIT with its fixed-count anchor truth side
    # (r14 verdict #3 — the old 1-in-5 fraction kept the truth leg
    # quadratic; anchors make it O(anchors * n) and this row is the
    # evidence), and the refit lifecycle (maintenance + Lloyd refit +
    # full list rebuild)
    "ann_nn_descent_recall",
    "stream_ivf_refit",
    # round-15 continuation: batched IVF serving (scored volume ~
    # nprobe/n_lists of brute force), the drift-vs-refit recall
    # measurement (two fits + one scored pass), the top-2 PCA (Gram is
    # the only data-sized stage — wall should stay near-flat), and the
    # audio activity screen (single fused pass)
    "ann_ivf_multi_query",
    "ann_refit_recall_gain",
    "emb_pca_top2",
    "mm_audio_activity",
    # round-16: the maintained-graph SERVED walk (lifecycle + walk; the
    # beam_walk_only row below isolates the walk itself), the chained
    # refit->recall lifecycle on the stored bytes, and the rerank sweep
    # now averaged over the 10-query serving set
    "ann_beam_search_served",
    "stream_ivf_refit_served",
    "ann_ivfpq_rerank_sweep",
]
# lineitem-backed queries only have real data at the source SFs; the
# synthetic corpus scales documents/embeddings/events 10x and reuses
# sf0.1's relational tables unchanged (rel_* stays flat as a control).


def build_synthetic(spark) -> None:
    if os.path.isdir(SYN):
        shutil.rmtree(SYN)
    os.makedirs(SYN, exist_ok=True)
    src = "/root/testdata/sf0.1"
    docs = spark.read.parquet(f"{src}/documents.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    ev = spark.read.parquet(f"{src}/events.parquet")
    copies = spark.range(COPIES).select(F.col("id").alias("cp"))
    # documents: offset ids; mutate ONE token per copy so copies are
    # near-dups (the realistic shape), not byte-identical
    d = (
        docs.crossJoin(copies)
        .select(
            (F.col("doc_id") + F.col("cp") * F.lit(10_000_000)).alias("doc_id"),
            F.when(F.col("cp") == 0, F.col("text"))
            .otherwise(F.concat(F.col("text"), F.lit(" rev"), F.col("cp").cast("string")))
            .alias("text"),
            "lang", "source", "n_chars",
        )
        # declared size must track the mutated text (operators that
        # trust n_chars — embed validity, catalog stats — stay honest)
        .withColumn("n_chars", F.length("text"))
    )
    d.write.mode("overwrite").parquet(f"{SYN}/documents.parquet")
    e = (
        emb.crossJoin(copies)
        .select(
            (F.col("vec_id") + F.col("cp") * F.lit(10_000_000)).alias("vec_id"),
            "label",
            F.col("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "label", "embedding")],
        )
    )
    e.write.mode("overwrite").parquet(f"{SYN}/embeddings.parquet")
    v = (
        ev.crossJoin(copies)
        .select(
            (F.col("event_id") + F.col("cp") * F.lit(100_000_000)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("cp") * F.lit(10_000_000)).alias("user_id"),
            "event_type", "value", "props",
        )
    )
    v.write.mode("overwrite").parquet(f"{SYN}/events.parquet")
    # relational tables pass through unchanged (control group)
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{SYN}/{t}.parquet"
        )


# shared with bench.py — both harnesses must apply the same
# isolation/attribution discipline or their numbers diverge
from vector_db_service_spark import cache as _cache  # noqa: E402
from vector_db_service_spark.benchutil import (  # noqa: E402
    cpu_snap as _cpu_snap,
    persisted_rdds as _persisted_rdds,
    release_checkpoints as _release_checkpoints,
)


def main() -> None:
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    build_synthetic(spark)
    entrypoints.flagship(spark, "/root/testdata/sf0.1").count()
    for w in ("dedup_simhash_fingerprints", "dedup_minhash_signatures"):
        entrypoints.QUERIES[w](spark, "/root/testdata/sf0.1").count()

    # pinned calibration probe, SAME shape as bench.py's, now recording
    # cpu-BUSY alongside wall (r12 verdict #3): raw cpu-seconds on this
    # VM swing ~2x between windows with steal ≈ 0 (allpairs syn10x read
    # 767 vs 1545 busy-s for identical code) — effective core speed
    # moves, so busy targets are only certifiable as RATIOS to what the
    # calibration probe's busy reads in the same window.
    from pyspark.sql import functions as F

    kept = _persisted_rdds(spark)  # blocks pinned from here on are the probes'
    _cal_df = spark.read.parquet("/root/testdata/sf0.1/lineitem.parquet")
    calibration: dict[str, list[float]] = {"wall": [], "busy": [], "steal": []}

    def _calibrate() -> None:
        _release_checkpoints(spark, kept)
        b0, s0 = _cpu_snap()
        t0 = time.perf_counter()
        _cal_df.groupBy("l_returnflag").agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            F.avg("l_quantity"), F.count("*"),
        ).write.mode("overwrite").format("noop").save()
        b1, s1 = _cpu_snap()
        calibration["wall"].append(round(time.perf_counter() - t0, 4))
        calibration["busy"].append(round(b1 - b0, 2))
        calibration["steal"].append(round(s1 - s0, 2))

    _calibrate()  # untimed-in-spirit first touch still recorded: slot 0
    out: dict[str, dict[str, float]] = {}
    cpu: dict[str, dict[str, float]] = {}
    steal: dict[str, dict[str, float]] = {}
    for sf_name, sf_dir in (
        ("sf0.01", "/root/testdata/sf0.01"),
        ("sf0.1", "/root/testdata/sf0.1"),
        ("syn10x", SYN),
    ):
        _calibrate()  # one window reading per probe tier
        for name in PROBES:
            # cache-honest warm runs (same discipline as bench.py):
            # snapshot the artifact cache — artifact paths AND index
            # state — so the re-run below replays a real recompute
            # under the first run's exact cache conditions
            cache_before = _cache.snapshot()
            _release_checkpoints(spark, kept)
            b0, s0 = _cpu_snap()
            t0 = time.perf_counter()
            df = entrypoints.QUERIES[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            out.setdefault(name, {})[sf_name] = round(time.perf_counter() - t0, 3)
            b1, s1 = _cpu_snap()
            cpu.setdefault(name, {})[sf_name] = round(b1 - b0, 1)
            steal.setdefault(name, {})[sf_name] = round(s1 - s0, 1)
            print(f"# {sf_name} {name}: {out[name][sf_name]}s "
                  f"(busy {b1-b0:.0f}s steal {s1-s0:.0f}s)", file=sys.stderr)
            if sf_name == "syn10x":
                # syn10x first runs carry a one-time cost no other probe
                # point pays: the Catalyst-interpreted HOF/decimal
                # kernels cross the JVM JIT threshold only at this row
                # volume, and the 10x frames stress GC (GCLocker
                # warnings observed). Record a SECOND, steady-state run
                # so scaling ratios can be read off plan cost instead of
                # JIT cost — measured 97s -> 28s on the allpairs shape.
                saved = _cache.snapshot()
                _cache.restore(cache_before)
                _release_checkpoints(spark, kept)
                b0, s0 = _cpu_snap()
                t0 = time.perf_counter()
                entrypoints.QUERIES[name](spark, sf_dir).write.format(
                    "noop"
                ).mode("overwrite").save()
                out[name]["syn10x_warm"] = round(time.perf_counter() - t0, 3)
                b1, s1 = _cpu_snap()
                cpu[name]["syn10x_warm"] = round(b1 - b0, 1)
                steal[name]["syn10x_warm"] = round(s1 - s0, 1)
                _cache.restore(saved)
                print(
                    f"# syn10x_warm {name}: {out[name]['syn10x_warm']}s "
                    f"(busy {b1-b0:.0f}s steal {s1-s0:.0f}s)",
                    file=sys.stderr,
                )
        # r15 (r14 verdict #5): beam-search BUILD vs WALK split. The
        # registered query bundles the kNN-graph build with the
        # navigated walk; at scale the graph is a maintained artifact
        # (stream_knn_graph_maintenance), so the serving claim must be
        # substantiated on the walk alone. Build the undirected edge
        # set once (timed as *_graph_build), materialize it, then time
        # the walk against the prebuilt graph (*_walk_only).
        from vector_db_service_spark.operators import ann as _ann
        from vector_db_service_spark.operators.ann import knn_join as _kj

        _release_checkpoints(spark, kept)
        b0, s0 = _cpu_snap()
        t0 = time.perf_counter()
        _kjdf = _kj(spark, sf_dir, m=3).select("src", "dst")
        _und = (
            _kjdf.unionByName(
                _kjdf.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            .distinct()
            .localCheckpoint(eager=True)
        )
        b1, s1 = _cpu_snap()
        out.setdefault("beam_graph_build", {})[sf_name] = round(
            time.perf_counter() - t0, 3
        )
        cpu.setdefault("beam_graph_build", {})[sf_name] = round(b1 - b0, 1)
        steal.setdefault("beam_graph_build", {})[sf_name] = round(s1 - s0, 1)
        b0, s0 = _cpu_snap()
        t0 = time.perf_counter()
        _ann.graph_beam_search(
            spark, sf_dir, query_id=0, k=10, prebuilt_edges=_und
        ).write.format("noop").mode("overwrite").save()
        b1, s1 = _cpu_snap()
        out.setdefault("beam_walk_only", {})[sf_name] = round(
            time.perf_counter() - t0, 3
        )
        cpu.setdefault("beam_walk_only", {})[sf_name] = round(b1 - b0, 1)
        steal.setdefault("beam_walk_only", {})[sf_name] = round(s1 - s0, 1)
        print(
            f"# {sf_name} beam split: build {out['beam_graph_build'][sf_name]}s"
            f" walk {out['beam_walk_only'][sf_name]}s",
            file=sys.stderr,
        )
    _calibrate()  # end-of-probe window
    print(json.dumps({
        "copies": COPIES, "timings": out,
        "cpu_busy_sec": cpu, "cpu_steal_sec": steal,
        "calibration": calibration,
    }))


if __name__ == "__main__":
    main()
