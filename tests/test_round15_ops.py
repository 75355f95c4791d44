"""Round-15 operator pins: the IVF refit lifecycle (the consequence of
refit_due), plus this round's new-operator semantics."""

from __future__ import annotations

import shutil

from pyspark.sql import functions as F

from tests.conftest import SF_SMALL as SF
from vector_db_service_spark.sources.tables import load
from vector_db_service_spark.streaming import pipeline as sp


def test_ivf_refit_equals_from_scratch_and_improves(spark):
    keep: dict = {}
    try:
        out = sp.ivf_refit_stream(spark, SF, keep_paths=keep)
        rows = out.collect()
        pre = [r for r in rows if r.stage == "pre_refit"]
        post = [r for r in rows if r.stage == "post_refit"]
        assert pre and post
        # the corpus is conserved across the rebuild
        assert sum(r.n_vectors for r in pre) == sum(r.n_vectors for r in post)
        # the refit's entire point: total quantization error DROPS when
        # the centers are refit on the drifted corpus
        assert sum(r.sum_qerr_us for r in post) < sum(r.sum_qerr_us for r in pre)

        # post-refit ON-DISK state == a from-scratch build on the post
        # corpus (exceptAll both ways) — the LSH byte-identity
        # discipline applied to the trained index
        base = load(spark, SF, "embeddings")
        muts = sp._ivf_refit_mutations(base)
        scratch_corpus = (
            base.join(muts.select("vec_id"), "vec_id", "left_anti")
            .select("vec_id", "label", "embedding")
            .unionByName(muts)
        )
        cols = [
            F.col("vec_id").cast("long"),
            F.col("label").cast("long"),
            F.col("qerr_us").cast("long"),
            F.col("list_id").cast("int"),
        ]
        scratch = sp._ivf_assign(scratch_corpus, keep["refit_centers"]).select(*cols)
        disk = spark.read.parquet(keep["idx"]).select(*cols)
        assert disk.exceptAll(scratch).count() == 0
        assert scratch.exceptAll(disk).count() == 0
    finally:
        if "root" in keep:
            shutil.rmtree(keep["root"], ignore_errors=True)


def test_bpe_encode_corpus_conservation(spark):
    """Per-document budgets must reconcile exactly with the corpus:
    n_words sums to the corpus word count, and each document's BPE
    token count is bounded by [its word count, its character count]."""
    from vector_db_service_spark.operators import textops

    docs = load(spark, SF, "documents")
    out = textops.bpe_encode_corpus(docs, n_merges=5)
    total_words = (
        docs.select(F.explode(F.split(F.lower("text"), " ")).alias("w"))
        .filter(F.length("w") >= 1)
        .count()
    )
    agg = out.agg(F.sum("n_words"), F.sum("n_bpe_tokens")).head()
    assert agg[0] == total_words
    assert agg[1] <= docs.agg(
        F.sum(F.length(F.regexp_replace(F.lower("text"), " ", "")))
    ).head()[0]
    bad = out.filter(
        (F.col("n_bpe_tokens") < F.col("n_words"))
        | (F.col("n_bpe_tokens") <= 0)
    ).count()
    assert bad == 0


def test_beam_search_prebuilt_graph_identical(spark):
    """The walk against a MAINTAINED graph artifact must return exactly
    what the self-building path returns — the scale probe's build/walk
    split (r14 verdict #5) is only valid if the two paths agree."""
    from vector_db_service_spark.operators import ann
    from vector_db_service_spark.operators.ann import knn_join

    kj = knn_join(spark, SF, m=3).select("src", "dst")
    und = kj.unionByName(
        kj.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    a = ann.graph_beam_search(spark, SF, query_id=0, k=10).collect()
    b = ann.graph_beam_search(
        spark, SF, query_id=0, k=10, prebuilt_edges=und
    ).collect()
    assert a == b


def test_pca_guard_uses_measured_magnitude(spark, tmp_path):
    """A tiny corpus with HUGE components must trip the int64 guard even
    though the old max|x|~=1 assumption would have let it through
    (r14 advisor: silent wrap risk)."""
    import pytest

    from vector_db_service_spark.operators import ann

    sf = str(tmp_path)
    spark.createDataFrame(
        [(i, 0, [1.0e6] * 4) for i in range(10)],
        "vec_id long, label long, embedding array<float>",
    ).write.parquet(f"{sf}/embeddings.parquet")
    with pytest.raises(ValueError, match="int64 envelope"):
        ann.pca_power_iteration(spark, sf)


def test_residual_pq_reconstructs_tighter_than_raw(spark):
    """The reason FAISS encodes residuals: with the same code budget,
    PQ over r = x - c(list) must reconstruct with LOWER mean error than
    PQ over raw vectors (residuals concentrate near zero, so the
    codebooks spend their centroids on a tighter distribution)."""
    from vector_db_service_spark.operators import ann

    raw_mean = (
        ann.product_quantize(spark, SF, n_subvectors=8, codebook_k=16)
        .agg(F.avg("recon_l2"))
        .head()[0]
    )
    cents = ann._coarse_centers(spark, SF, 7)
    resid, codebooks, sub_dim = ann._residual_pq_state(
        spark, SF, cents, n_subvectors=8, codebook_k=16, train_pct=25
    )
    _codes, err_terms = ann._pq_codes(codebooks, sub_dim)
    res_mean = (
        resid.select(
            F.sqrt(F.expr(" + ".join(err_terms))).alias("recon_l2")
        )
        .agg(F.avg("recon_l2"))
        .head()[0]
    )
    assert res_mean < raw_mean, (res_mean, raw_mean)


def test_pca_top2_matches_numpy_eigenvectors(spark):
    """Both integer iterates must land on the top-2 eigendirections of
    the same quantized Gram matrix, and be numerically orthogonal."""
    import numpy as np

    from vector_db_service_spark.operators import ann

    rows = sorted(ann.pca_top2(spark, SF).collect(),
                  key=lambda r: r.dim_idx)
    v1 = np.array([r.v1_scaled for r in rows], dtype=np.float64)
    v2 = np.array([r.v2_scaled for r in rows], dtype=np.float64)
    emb = load(spark, SF, "embeddings").select("embedding").collect()
    X = np.array([
        np.round(np.asarray(r.embedding, dtype=np.float64) * 100)
        for r in emb
    ])
    G = X.T @ X
    _evals, evecs = np.linalg.eigh(G)

    def cos(a, b):
        return abs(float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    assert cos(v1, evecs[:, -1]) > 0.999
    assert cos(v2, evecs[:, -2]) > 0.99
    assert cos(v1, v2) < 0.01  # deflation held the plane orthogonal


def test_refit_recall_gain_is_measurable(spark):
    """At the driver's gate SF the drift must COST the stale quantizer
    recall and the refit must win it back (mean post >= pre, both
    nondegenerate) — the op is a measurement, so vacuity is the bug."""
    from vector_db_service_spark.operators import ann

    rows = ann.refit_recall_gain(spark, "/root/testdata/sf0.01").collect()
    pre = [r.recall_micro for r in rows if r.method == "pre_refit"]
    post = [r.recall_micro for r in rows if r.method == "post_refit"]
    assert len(pre) == len(post) == 10
    assert 0 < sum(pre) / len(pre) < 1_000_000  # drift costs recall
    assert sum(post) >= sum(pre)  # the refit wins it back


def test_bucketed_join_is_exchange_free(spark):
    """The whole point of the bucketed layout: NO Exchange node may
    feed the join — both sides stream straight from their bucket files.
    (A plain parquet-parquet join of these tables plans a shuffle on
    at least one side.)"""
    from vector_db_service_spark.operators import relational

    # at test scale Catalyst (correctly) broadcasts the tiny dimension,
    # which sidesteps bucketing entirely — the contract under pin is the
    # BIG-data regime where broadcast is off the table, so disable it
    key = "spark.sql.autoBroadcastJoinThreshold"
    prev = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        df = relational.bucketed_join_audit(spark, SF, n_buckets=8)
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, prev)
    join_at = min(
        (plan.find(t) for t in ("SortMergeJoin", "ShuffledHashJoin")
         if plan.find(t) >= 0),
        default=-1,
    )
    assert join_at >= 0, plan
    # everything BELOW the join (its inputs) must be exchange-free;
    # the aggregation above it may legitimately shuffle
    below = plan[join_at:]
    assert "Exchange" not in below, below
    # and the results are layout-independent
    rows = {r.c_mktsegment: (r.n_orders, r.revenue_cents)
            for r in df.collect()}
    assert rows and all(n > 0 for n, _ in rows.values())


def test_ivf_refit_guard_raises_on_quiet_feed(spark):
    """A feed that never crosses the drift thresholds must raise the
    loud guard, not silently 'refit' an undrifted index."""
    import pytest

    orig = sp._ivf_refit_mutations
    # the DEFAULT maintenance feed (negation) is measured not to fire
    sp._ivf_refit_mutations = sp._index_maintenance_mutations
    try:
        with pytest.raises(ValueError, match="refit threshold"):
            sp.ivf_refit_stream(spark, SF)
    finally:
        sp._ivf_refit_mutations = orig
