"""Round-14 regression pins.

Covers the r13 advisor/judge findings fixed this round:
  * _min_contract_components pointer-jumping bound (monotone-id chain —
    the advisor's counterexample where plain min-contraction is linear)
  * streaming temp-dir hygiene (stream ops must not leak mkdtemp state)
  * map-side partial top-k parity for the multi-query search surfaces
"""
from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMALL as SF
from vector_db_service_spark.operators import ann


def _chain_edges(spark, n, parts=4):
    """Symmetric edge list of the monotone-id chain 0-1-2-...-(n-1):
    the exact shape the r13 advisor showed defeats un-flattened
    min-contraction (each hook round shortens the chain by ONE node,
    so convergence was linear in n, not log2)."""
    fwd = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    sym = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    return sym.coalesce(parts).localCheckpoint(eager=False)


def test_min_contract_chain_converges_within_log_rounds(spark):
    # 200-node chain: log2(200) < 8 outer rounds must suffice. Before
    # the r14 pointer-jump fix this exhausted max_rounds=16 (needing
    # ~199 rounds) and raised the spurious non-convergence error.
    edges = _chain_edges(spark, 200)
    rep = ann._min_contract_components(edges, iter_parts=4, max_rounds=8)
    rows = rep.collect()
    assert len(rows) == 200
    assert {r.rep for r in rows} == {0}
    assert {r.cnode for r in rows} == set(range(200))


def test_min_contract_multi_component_and_reverse_ids(spark):
    # Two components, one of them a REVERSED-id chain (worst case for
    # min-hooking from the other direction) plus a star; exact labels.
    rows = [(9, 8), (8, 7), (7, 6), (6, 5),  # chain 5..9 (desc ids)
            (100, 101), (100, 102), (100, 103)]  # star at 100
    fwd = spark.createDataFrame(rows, "src long, dst long")
    sym = fwd.unionByName(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    rep = ann._min_contract_components(sym, iter_parts=2, max_rounds=6)
    got = {r.cnode: r.rep for r in rep.collect()}
    assert got == {5: 5, 6: 5, 7: 5, 8: 5, 9: 5,
                   100: 100, 101: 100, 102: 100, 103: 100}


def test_min_contract_empty_edges_returns_none(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert ann._min_contract_components(empty, iter_parts=2) is None


def test_mutual_knn_components_unchanged_by_flatten(spark):
    # The flatten is a pure convergence fix: labels on the real corpus
    # must match the union-find ground truth exactly (same pin as
    # test_round13_ops, re-asserted against the new code path).
    pairs = ann.mutual_knn_pairs(spark, SF, m=3).collect()
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        ra, rb = find(r.vec_id_a), find(r.vec_id_b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    import pyarrow.parquet as pq

    all_ids = set(
        pq.read_table(
            os.path.join(SF, "embeddings.parquet"), columns=["vec_id"]
        )["vec_id"].to_pylist()
    )
    expect = {}
    for v in all_ids:
        expect[find(v)] = expect.get(find(v), 0) + 1
    got = {
        r.comp: r.n_vectors
        for r in ann.mutual_knn_components(spark, SF, m=3).collect()
    }
    assert got == expect


def test_index_maintenance_delta_compacted(spark, tmp_path):
    # r13 verdict #4: mutation state must be a COMPACTED delta (one row
    # per mutated id), not an append-only journal replayed per batch.
    # Both micro-batches touch the same labels, so an append-journal
    # design would leave duplicate state; the delta must hold exactly
    # one row per distinct mutated vec_id.
    from vector_db_service_spark.streaming import pipeline as sp

    paths = sp.index_maintenance_init(spark, SF, out_dir=str(tmp_path))
    sp.index_maintenance_run(spark, SF, paths)
    muts = spark.read.parquet(paths["mut_src"])
    delta = spark.read.parquet(paths["delta"])
    n_ids = muts.select("vec_id").distinct().count()
    assert delta.count() == n_ids
    assert delta.select("vec_id").distinct().count() == n_ids
    assert "seen" not in paths  # the journal is gone by design


def test_stream_ops_leave_no_tmp_state(spark):
    # r13 advisor: every invocation of the three streaming lifecycle
    # ops leaked a mkdtemp tree (full corpus copies under bench
    # median-of-3 reruns). Each op must clean its working dir after
    # eagerly materializing its result.
    import glob

    from vector_db_service_spark import cache
    from vector_db_service_spark.streaming import pipeline as sp

    import tempfile

    # work trees live under the cache root; the temp dir is checked too
    roots = (tempfile.gettempdir(), cache.root())
    patterns = [os.path.join(r, p) for r in roots for p in (
        "vdbs_idx_maint_*", "vdbs_knn_stream_*", "vdbs_cdc_*", "vdbs_ivf_maint_*",
        "vdbs_timetravel_*", "vdbs_ingest_dedup_*", "vdbs_ckpt_*")]
    before = {p: set(glob.glob(p)) for p in patterns}
    assert sp.index_maintenance_stream(spark, SF).count() > 0
    assert sp.knn_query_stream(spark, SF, query_ids=[0, 1], k=3).count() == 6
    assert sp.cdc_upserts_stream(spark, SF).count() > 0
    assert sp.ivf_maintenance_stream(spark, SF).count() > 0
    assert sp.ingestion_dedup_stream(spark, SF).count() > 0
    from vector_db_service_spark.operators import store as st
    assert st.store_time_travel(spark, SF).count() == 3
    after = {p: set(glob.glob(p)) for p in patterns}
    leaked = {p: after[p] - before[p] for p in patterns if after[p] - before[p]}
    assert not leaked, f"leaked temp dirs: {leaked}"


def test_multi_query_topk_no_window_exchange(spark):
    # r13 verdict #3: the multi-query search surfaces must not rank via
    # a full-width window (which exchanges all n*q scored rows). The
    # plan contract: no Window node anywhere; ranking happens as
    # map-side partial top-k (Arrow pass) + a k-merge aggregation.
    df = ann.brute_force_topk(spark, SF, query_ids=[0, 1, 2], k=4)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert "MapInPandas" in plan
    rows = df.collect()
    # rnk is the contiguous 1-based position per query, k rows each
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rs] == list(range(1, len(rs) + 1))
        scores = [(-r.score, r.vec_id) for r in rs]
        assert scores == sorted(scores)


def _dir_bytes(path):
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.startswith(("_", ".")):
                continue  # _SUCCESS / CRC sidecars
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = fh.read()
    return out


def test_ivf_maintenance_untouched_lists_byte_identical(spark, tmp_path):
    # r13 verdict #3: per-batch IVF maintenance must rewrite ONLY the
    # list partitions the batch touches. Inject a two-row mutation feed;
    # every list outside (old list union new list) of those ids must be
    # byte-identical after the stream.
    from pyspark.sql import functions as F

    from vector_db_service_spark.sources.tables import load
    from vector_db_service_spark.streaming import pipeline as sp

    base = load(spark, SF, "embeddings")
    muts = base.filter(F.col("vec_id").isin([3, 10])).select(
        "vec_id", "label",
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    paths = sp.ivf_maintenance_init(spark, SF, out_dir=str(tmp_path),
                                    mutations=muts)
    idx0 = spark.read.parquet(paths["idx"])
    old_lists = {r.list_id for r in idx0.filter(
        F.col("vec_id").isin([3, 10])).select("list_id").collect()}
    new_lists = {r.list_id for r in sp._ivf_assign(muts, paths["centers"])
                 .select("list_id").collect()}
    affected = old_lists | new_lists
    untouched = [d for d in os.listdir(paths["idx"])
                 if d.startswith("list_id=")
                 and int(d.split("=")[1]) not in affected]
    assert untouched, "test needs at least one untouched list"
    before = {d: _dir_bytes(os.path.join(paths["idx"], d)) for d in untouched}
    sp.ivf_maintenance_run(spark, SF, paths)
    after = {d: _dir_bytes(os.path.join(paths["idx"], d)) for d in untouched}
    assert before == after
    # and the mutated ids actually moved/updated in the final index
    fin = {r.vec_id: r.list_id for r in spark.read.parquet(paths["idx"])
           .filter(F.col("vec_id").isin([3, 10])).collect()}
    exp = {r.vec_id: r.list_id for r in sp._ivf_assign(muts, paths["centers"])
           .collect()}
    assert fin == exp


def test_ivf_maintenance_refit_trigger(spark, tmp_path):
    # drift monitor: a batch that floods one list past 3/2 of its
    # baseline count must raise refit_due for that list (and the drift
    # log must carry the row). The flood re-embeds many vectors to an
    # existing vector's embedding, so they all land in its list.
    from pyspark.sql import functions as F

    from vector_db_service_spark.sources.tables import load
    from vector_db_service_spark.streaming import pipeline as sp

    base = load(spark, SF, "embeddings")
    anchor = base.limit(1).collect()[0]
    target_vec = list(anchor.embedding)
    # every vector NOT already the anchor gets re-embedded onto it
    muts = (
        base.filter(F.col("vec_id") != anchor.vec_id)
        .limit(200)
        .select(
            "vec_id", "label",
            F.array(*[F.lit(float(x)).cast("float") for x in target_vec])
            .alias("embedding"),
        )
    )
    paths = sp.ivf_maintenance_init(spark, SF, out_dir=str(tmp_path),
                                    mutations=muts)
    target_list = sp._ivf_assign(
        base.filter(F.col("vec_id") == anchor.vec_id), paths["centers"]
    ).collect()[0].list_id
    sp.ivf_maintenance_run(spark, SF, paths)
    drift = spark.read.parquet(paths["drift"])
    flagged = {r.list_id for r in drift.filter("refit_due").collect()}
    assert target_list in flagged
    base_n = {r.list_id: r.n for r in
              spark.read.parquet(paths["base_stats"]).collect()}
    final_n = {
        r.list_id: r.n for r in sp._ivf_list_stats(
            spark.read.parquet(paths["idx"])).collect()}
    assert final_n[target_list] * 2 > base_n[target_list] * 3


def test_time_travel_v0_immutable_and_snapshots_differ(spark, tmp_path):
    # COW contract: committing versions 1 and 2 must not touch any v0
    # file (historical snapshots stay byte-stable), and the as-of reads
    # must differ in exactly the committed batch's ids.
    from pyspark.sql import functions as F

    from vector_db_service_spark.operators import store as st

    manifest, out = st.versioned_cdc_merge(spark, SF, out_dir=str(tmp_path))
    v0_dirs = [d for (v, _l), d in manifest.items() if v == 0]
    assert v0_dirs and all(os.path.isdir(d) for d in v0_dirs)
    v0 = {r.vec_id for r in st._versioned_read(spark, manifest, 0).collect()}
    v1 = {r.vec_id for r in st._versioned_read(spark, manifest, 1).collect()}
    v2 = {r.vec_id for r in st._versioned_read(spark, manifest, 2).collect()}
    # batch 1 deletes = even ids with vec_id%13==7; batch 2 = odd ones
    del1 = {i for i in v0 if i % 13 == 7 and i % 2 == 0}
    del2 = {i for i in v0 if i % 13 == 7 and i % 2 == 1}
    assert v0 - v1 == del1
    assert v1 - v2 == del2
    # updates present at every version they were committed in
    upd1 = {i for i in v0 if i % 11 == 5 and i % 13 != 7 and i % 2 == 0}
    assert upd1 <= v1 and upd1 <= v2
    # reading "as of 1" after v2 exists must NOT see batch-2 effects:
    # the update re-embedding is a reversal, so spot-check one vector
    if upd1:
        vid = min(upd1)
        base_vec = {r.vec_id: list(r.embedding) for r in
                    st._versioned_read(spark, manifest, 0)
                    .filter(F.col("vec_id") == vid).collect()}[vid]
        v1_vec = {r.vec_id: list(r.embedding) for r in
                  st._versioned_read(spark, manifest, 1)
                  .filter(F.col("vec_id") == vid).collect()}[vid]
        assert v1_vec == base_vec[::-1]


def test_ingestion_dedup_cross_batch_store_effect(spark):
    # the layered store path must actually fire at the frozen test SF:
    # at least one batch-2 doc (doc_id%10==5) is a dup OF a batch-1
    # NOVEL doc (doc_id%10==0) — proving batch-1 survivors' fingerprints
    # reached the store before batch 2 probed it.
    from vector_db_service_spark.streaming import pipeline as sp

    rows = sp.ingestion_dedup_stream(spark, SF).collect()
    assert all((r.dup_of == -1) != r.is_dup for r in rows)
    cross = [r for r in rows
             if r.is_dup and r.doc_id % 10 == 5 and r.dup_of % 10 == 0]
    assert cross, "no cross-batch dup at the pinned SF — store path unexercised"
    # and every cross-batch target must itself be novel (dups are never
    # appended to the store)
    verdict = {r.doc_id: r.is_dup for r in rows}
    assert all(not verdict[r.dup_of] for r in cross)


def test_binary_hamming_plan_and_semantics(spark):
    # two-stage contract: candidate cut and final cut both compile to
    # TakeOrderedAndProject (no full sort, no window); hamming of the
    # query against itself is 0 and it ranks first on cosine.
    df = ann.binary_hamming_topk(spark, SF, query_id=0, k=5, rerank=20)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan
    rows = df.collect()
    assert len(rows) == 5
    top = max(rows, key=lambda r: (r.score_us, -r.vec_id))
    assert top.vec_id == 0 and top.hamming == 0 and top.score_us == 1_000_000


def test_vacuum_removes_old_dirs_and_latest_survives(spark, tmp_path):
    # run the versioned merge with a known out_dir, then replicate the
    # vacuum's needed-set computation and assert the v0 dirs of labels
    # later rewritten are genuinely deletable (snapshot reads equal
    # before/after) — the registry op itself re-reads after deleting.
    from vector_db_service_spark.operators import store as st

    manifest, out = st.versioned_cdc_merge(spark, SF, out_dir=str(tmp_path))
    pick = {}
    for (v, label), d in manifest.items():
        if label not in pick or pick[label][0] < v:
            pick[label] = (v, d)
    needed = {d for (_v, d) in pick.values()}
    removed = sorted(set(manifest.values()) - needed)
    assert removed, "test needs at least one obsolete dir"
    latest = max(v for (v, _l) in manifest)
    before = sorted(map(tuple, st._versioned_read(
        spark, manifest, latest).collect()))
    import shutil
    for d in removed:
        shutil.rmtree(d, ignore_errors=True)
    kept_manifest = {(v, label): d for label, (v, d) in pick.items()}
    after = sorted(map(tuple, st._versioned_read(
        spark, kept_manifest, latest).collect()))
    assert before == after
    assert all(not os.path.isdir(d) for d in removed)
