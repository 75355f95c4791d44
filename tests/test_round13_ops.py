"""Round-13 additions, each pinning an r12 verdict/advisor item:

  verdict #6 — streaming incremental index maintenance: foreachBatch
     rebuilds ONLY mutated libraries' LSH partitions; an untouched
     library's partition directory stays byte-identical (never
     rewritten), a mutated one is rewritten with the post-state bits.
  advisor #1 — load_km_centers must treat corrupt/partial persisted
     center state as a cache miss (refit overwrites it), and must
     accept a legitimately-smaller-than-k fit (degenerate data) instead
     of perpetually refitting on every cold start. Only an unreadable
     file or state of another schema is a miss; other errors surface.
  verdict #4 — grid.bounds with a caller-supplied footer dim: no probe
     job, same values, and the empty-input guard still works.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from vector_db_service_spark.operators import grid, store  # noqa: E402
from vector_db_service_spark.sources.tables import load  # noqa: E402
from vector_db_service_spark.streaming import pipeline as sp  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")


def _partition_fingerprint(idx_path: str, label: int) -> list[tuple]:
    """(relpath, size, mtime_ns) of every file in one label partition —
    byte-level identity proxy: a rewrite produces new part files with
    new names/mtimes even if the rows are equal."""
    part = os.path.join(idx_path, f"label={label}")
    out = []
    for root, _dirs, files in os.walk(part):
        for f in sorted(files):
            p = os.path.join(root, f)
            st = os.stat(p)
            out.append((os.path.relpath(p, part), st.st_size, st.st_mtime_ns))
    return sorted(out)


# ------------------------------------------------ stream index maintenance
def test_index_maintenance_untouched_partition_byte_identical(spark, tmp_path):
    """The stream's per-batch rebuild is partition-scoped: a library with
    no mutations in the log (label 0) must keep its exact initial-build
    part files — not be rewritten with equal rows (the reference rebuilds
    one library per mutation, vector_service.py:350-390)."""
    paths = sp.index_maintenance_init(spark, SF, out_dir=str(tmp_path))
    before_untouched = _partition_fingerprint(paths["idx"], 0)
    before_mutated = _partition_fingerprint(paths["idx"], 1)
    assert before_untouched and before_mutated  # both built at init

    sp.index_maintenance_run(spark, SF, paths)

    assert _partition_fingerprint(paths["idx"], 0) == before_untouched
    # the mutated library's partition WAS rewritten (new files/mtimes)
    assert _partition_fingerprint(paths["idx"], 1) != before_mutated


def test_index_maintenance_post_state_bits(spark, tmp_path):
    """Post-state equals a from-scratch batch build over base-with-
    mutations-applied: the incremental path must not diverge from the
    full rebuild it is an optimization of."""
    from pyspark.sql import functions as F

    from vector_db_service_spark.operators import lsh as lsh_ops
    from vector_db_service_spark.sources.tables import embedding_dim

    paths = sp.index_maintenance_init(spark, SF, out_dir=str(tmp_path))
    sp.index_maintenance_run(spark, SF, paths)
    got = (
        spark.read.parquet(paths["idx"])
        .select("vec_id", F.col("label").cast("int"), "table_idx", "bit")
    )

    base = load(spark, SF, "embeddings")
    post = base.select(
        "vec_id",
        "label",
        F.when(
            F.col("label").isin(1, 2) & (F.col("vec_id") % 7 == 3),
            F.transform("embedding", lambda x: -x),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    want = lsh_ops.build_index(post, lsh_ops.hyperplanes(embedding_dim(SF)))
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0


# --------------------------------------------------- durable kmeans centers
def test_load_km_centers_corrupt_state_falls_back(spark, tmp_path):
    """A torn/garbled persisted centers dir must read as a cache MISS
    (None -> caller refits and overwrites), not raise and poison every
    kmeans-backed query until the dir is hand-deleted."""
    root = str(tmp_path)
    p = store.km_centers_path(SF, 7, root)
    os.makedirs(p, exist_ok=True)
    with open(os.path.join(p, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    assert store.load_km_centers(spark, SF, 7, root) is None


@pytest.mark.smoke
def test_load_km_centers_killed_write_refits(spark, tmp_path):
    """A dir holding no data file, only the `_temporary/` a killed write
    leaves, reads as a miss (Spark cannot infer a schema there); the
    refit's save then overwrites it and reads back."""
    root = str(tmp_path)
    p = store.km_centers_path(SF, 7, root)
    os.makedirs(os.path.join(p, "_temporary", "0"))
    assert store.load_km_centers(spark, SF, 7, root) is None
    store.save_km_centers(spark, SF, 7, [[5.0, 6.0]], root)
    assert store.load_km_centers(spark, SF, 7, root) == [[5.0, 6.0]]


def test_load_km_centers_accepts_degenerate_smaller_fit(spark, tmp_path):
    """MLlib kmeans can return fewer than k centers on degenerate data;
    that persisted state is VALID and must round-trip (the old
    len==n_lists check made every cold start refit + rewrite forever)."""
    root = str(tmp_path)
    centers = [[1.0, 2.0], [3.0, 4.0], [5.0, 6.0]]  # 3 centers, n_lists=7
    store.save_km_centers(spark, SF, 7, centers, root)
    assert store.load_km_centers(spark, SF, 7, root) == centers


def test_load_km_centers_rejects_gapped_list_ids(spark, tmp_path):
    """Non-contiguous list_ids mean missing interior rows — positional
    routing would silently shift, so the file must be rejected."""
    import json

    from vector_db_service_spark.sources.tables import path_signature

    root = str(tmp_path)
    sig = json.dumps(path_signature(os.path.join(SF, "embeddings.parquet")))
    df = spark.createDataFrame(
        [(0, [1.0], sig), (2, [2.0], sig)],  # list_id 1 missing
        "list_id int, centroid array<double>, source_sig string",
    )
    df.coalesce(1).write.mode("overwrite").parquet(
        store.km_centers_path(SF, 7, root)
    )
    assert store.load_km_centers(spark, SF, 7, root) is None


def _saved_centers(spark, tmp_path) -> tuple[str, str]:
    """(root, the single part file) of one saved 2-center state."""
    import glob

    root = str(tmp_path)
    store.save_km_centers(spark, SF, 7, [[1.0, 2.0], [3.0, 4.0]], root)
    (part,) = glob.glob(os.path.join(store.km_centers_path(SF, 7, root), "*.parquet"))
    return root, part


@pytest.mark.smoke
@pytest.mark.parametrize("checksum", [True, False], ids=["with-crc", "without-crc"])
def test_load_km_centers_truncated_footer_refits(spark, tmp_path, checksum):
    """A part file cut short (a torn write) reads as a miss, whether or
    not its Hadoop checksum file is still beside it; the refit's save
    then overwrites it and reads back."""
    root, part = _saved_centers(spark, tmp_path)
    if not checksum:
        crc = os.path.join(os.path.dirname(part), f".{os.path.basename(part)}.crc")
        os.remove(crc)
    data = open(part, "rb").read()
    with open(part, "wb") as f:
        f.write(data[:-20])
    assert store.load_km_centers(spark, SF, 7, root) is None
    store.save_km_centers(spark, SF, 7, [[5.0, 6.0]], root)
    assert store.load_km_centers(spark, SF, 7, root) == [[5.0, 6.0]]


@pytest.mark.smoke
@pytest.mark.parametrize("schema, row", [
    ("list_id int, source_sig string", (0, "sig")),
    ("list_id int, centroid string, source_sig string", (0, "[1.0, 2.0]", "sig")),
    ("list_id string, centroid array<double>, source_sig string", ("0", [1.0], "sig")),
], ids=["missing-centroid", "string-centroid", "string-list-id"])
def test_load_km_centers_other_schema_refits(spark, tmp_path, schema, row):
    """State of another schema (a column missing, or of another type)
    reads as a miss, even when every row carries the current stamp."""
    from vector_db_service_spark.operators.store import _source_stamp

    root = str(tmp_path)
    row = tuple(_source_stamp(SF) if x == "sig" else x for x in row)
    spark.createDataFrame([row], schema).coalesce(1).write.parquet(
        store.km_centers_path(SF, 7, root))
    assert store.load_km_centers(spark, SF, 7, root) is None


@pytest.mark.smoke
def test_load_km_centers_other_errors_surface(spark, tmp_path):
    """Only an unreadable file reads as a miss: a JVM error of another
    kind, or a Python error, raised by the read propagates."""
    from py4j.protocol import Py4JJavaError

    root, _ = _saved_centers(spark, tmp_path)

    class Session:
        """The test session, with a read that fails with `error`."""

        def __init__(self, error):
            self.error = error

        def __getattr__(self, name):
            return getattr(spark, name)

        @property
        def read(self):
            return self

        def parquet(self, path):
            raise self.error()

    def jvm_error():
        try:
            spark._jvm.java.util.ArrayList().get(3)
        except Py4JJavaError as exc:
            return exc
        raise AssertionError("the JVM call did not fail")

    with pytest.raises(Py4JJavaError):
        store.load_km_centers(Session(jvm_error), SF, 7, root)
    with pytest.raises(RuntimeError):
        store.load_km_centers(Session(RuntimeError), SF, 7, root)
    assert store.load_km_centers(spark, SF, 7, root) == [[1.0, 2.0], [3.0, 4.0]]


# ------------------------------------------------------- footer-dim bounds
def test_bounds_with_footer_dim_matches_probe_path(spark):
    from vector_db_service_spark.sources.tables import embedding_dim

    emb = load(spark, SF, "embeddings")
    assert grid.bounds(emb, dim=embedding_dim(SF)) == grid.bounds(emb)


def test_bounds_with_dim_on_empty_input_returns_empty(spark):
    """With dim supplied the probe job is gone, so emptiness must be
    detected from the aggregate itself (min over zero rows is NULL)."""
    from pyspark.sql import functions as F

    emb = load(spark, SF, "embeddings").filter(F.col("label") == -999)
    assert grid.bounds(emb, dim=4) == ([], [])


# ------------------------------------------------- new search surfaces
def test_range_search_is_recall_complete_and_thresholded(spark):
    """Every returned score clears the threshold, the query vector
    itself is returned (self-similarity 1.0 >= 0.2), and the result
    equals the brute-force filter — no candidate pruning anywhere."""
    from pyspark.sql import functions as F

    from vector_db_service_spark.operators import knn as knn_ops

    out = knn_ops.range_search(spark, SF, query_id=0, min_score=0.2)
    rows = out.collect()
    assert all(r["score"] >= 0.2 for r in rows)
    assert any(r["vec_id"] == 0 for r in rows)
    # recall-complete: nothing above threshold is missing
    qvec = knn_ops.query_vector(spark, SF, 0)
    full = knn_ops.score_all(load(spark, SF, "embeddings"), qvec, "cosine")
    n_above = full.filter(F.col("score") >= 0.2).count()
    assert len(rows) == n_above


def test_mutual_knn_pairs_symmetric_and_subset(spark):
    """Each mutual pair appears once (a < b), and both directions exist
    in the underlying knn_join edge list."""
    from vector_db_service_spark.operators import ann

    kj = ann.knn_join(spark, SF, m=3).select("src", "dst").collect()
    edges = {(r["src"], r["dst"]) for r in kj}
    pairs = ann.mutual_knn_pairs(spark, SF, m=3).collect()
    assert pairs, "no mutual pairs at test scale"
    for r in pairs:
        a, b = r["vec_id_a"], r["vec_id_b"]
        assert a < b
        assert (a, b) in edges and (b, a) in edges


# ------------------------------------------------------ image phash dedup
def test_phash_blocked_join_equals_quadratic(spark):
    """The 4x16-bit block join must return EXACTLY the all-pairs
    hamming<=3 set (pigeonhole losslessness), each pair once."""
    from vector_db_service_spark.operators import multimodal as mm

    sigs = {
        r["doc_id"]: r["phash"]
        for r in mm.phash_signatures(spark, SF).collect()
    }
    want = set()
    ids = sorted(sigs)
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")
            if h <= 3:
                want.add((a, b, h))
    got = [
        (r["doc_id_1"], r["doc_id_2"], r["hamming"])
        for r in mm.phash_near_dups(spark, SF, max_hamming=3).collect()
    ]
    assert len(got) == len(set(got)), "pair emitted more than once"
    assert set(got) == want


def test_phash_identical_rasters_collide_at_zero(spark):
    """Two docs with identical text produce identical rasters, so their
    dHash hamming is 0 and the pair must surface."""
    from vector_db_service_spark.operators import multimodal as mm

    sigs = mm.phash_signatures(spark, SF).collect()
    by_hash = {}
    for r in sigs:
        by_hash.setdefault(r["phash"], []).append(r["doc_id"])
    dup_groups = [v for v in by_hash.values() if len(v) > 1]
    if not dup_groups:
        pytest.skip("no identical-hash docs at this sf")
    pairs = {
        (r["doc_id_1"], r["doc_id_2"])
        for r in mm.phash_near_dups(spark, SF).collect()
    }
    g = sorted(dup_groups[0])
    assert (g[0], g[1]) in pairs


# --------------------------------------------------- streamed query workload
def test_knn_query_stream_complete_and_ranked(spark):
    """Every requested query_id answers with exactly k ranked rows
    (rnk 1..k, scores non-increasing) — the stateless micro-batch
    union must behave exactly like one batch multi-query search."""
    from vector_db_service_spark.streaming import pipeline as sp2

    k = 5
    rows = sp2.knn_query_stream(spark, SF, query_ids=[0, 1, 2, 3], k=k).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert sorted(by_q) == [0, 1, 2, 3]
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, k + 1))
        scores = [r["score"] for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert rs[0]["vec_id"] == q  # self-similarity tops cosine


# ----------------------------------------------------------- bigram LM
def test_bigram_logprob_orders_shuffled_text_below_natural(spark):
    """The bigram model must penalize word-order scrambling that the
    unigram model is blind to: a corpus of repeated natural sentences
    plus one scrambled doc (same multiset of words) scores the
    scrambled doc strictly lower."""
    from vector_db_service_spark.operators import textops

    natural = "the quick brown fox jumps over the lazy dog"
    scrambled = "dog the over quick lazy fox the brown jumps"
    docs = spark.createDataFrame(
        [(i, natural) for i in range(20)] + [(99, scrambled)],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["avg_logprob"]
            for r in textops.bigram_logprob(docs).collect()}
    assert rows[99] < rows[0]
    # unigram is blind to the scramble: same tokens, same score
    uni = {r["doc_id"]: r["avg_logprob"]
           for r in textops.unigram_logprob(docs).collect()}
    assert uni[99] == uni[0]


def test_bigram_logprob_drops_sub_two_token_docs(spark):
    from vector_db_service_spark.operators import textops

    docs = spark.createDataFrame(
        [(1, "single"), (2, ""), (3, "two tokens")],
        "doc_id long, text string",
    )
    rows = textops.bigram_logprob(docs).collect()
    assert sorted(r["doc_id"] for r in rows) == [3]


# ------------------------------------------------ mutual-kNN components
def test_mutual_knn_components_equal_union_find(spark):
    """The iterated-contraction labeling must equal an independent
    union-find over the (already parity-verified) mutual pair list,
    with singletons included and comp = component-min vec_id."""
    import collections

    from vector_db_service_spark.operators import ann
    from vector_db_service_spark.sources.tables import load

    pairs = ann.mutual_knn_pairs(spark, SF, m=3).collect()
    ids = [r["vec_id"] for r in
           load(spark, SF, "embeddings").select("vec_id").collect()]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs:
        a, b = find(r["vec_id_a"]), find(r["vec_id_b"])
        if a != b:
            parent[max(a, b)] = min(a, b)
    want = collections.Counter(find(i) for i in ids)
    got = {r["comp"]: r["n_vectors"]
           for r in ann.mutual_knn_components(spark, SF, m=3).collect()}
    assert got == dict(want)
    assert sum(got.values()) == len(ids)  # singletons included


# -------------------------------------------------------- CDC merge stream
def test_cdc_upserts_merge_semantics(spark):
    """Deleted ids absent; updated ids carry the reversed embedding;
    untouched ids byte-equal the base; deletes win when an id matches
    both predicates (vec_id ≡ 60 mod 143)."""
    from vector_db_service_spark.streaming import pipeline as sp3

    base = {r["vec_id"]: list(r["embedding"])
            for r in load(spark, SF, "embeddings").collect()}
    out = sp3.cdc_upserts_stream(spark, SF).collect()
    got = {r["vec_id"]: r for r in out}

    deleted = {i for i in base if i % 13 == 7}
    updated = {i for i in base if i % 11 == 5 and i % 13 != 7}
    assert deleted and updated  # the log is non-trivial at this sf
    assert not (deleted & set(got))  # deletes (incl. overlap ids) gone
    overlap = [i for i in base if i % 11 == 5 and i % 13 == 7]
    assert overlap, "no delete-precedence id at this sf"
    for i, r in got.items():
        src = base[i][::-1] if i in updated else base[i]
        want = [round(float(src[j]), 6) for j in range(4)]
        assert [r[f"e{j}"] for j in range(4)] == pytest.approx(want)
    assert set(got) == set(base) - deleted


# ------------------------------------------------------------- keywords
def test_tfidf_keywords_ranks_rare_terms_first(spark):
    """A term unique to one doc must outrank corpus-wide terms within
    that doc, and the per-doc top-k is total-ordered."""
    from vector_db_service_spark.operators import textops

    docs = spark.createDataFrame(
        [(i, "common words everywhere") for i in range(9)]
        + [(9, "common words everywhere zyzzyva")],
        "doc_id long, text string",
    )
    rows = textops.tfidf_keywords(docs, k=2).collect()
    top = {(r["doc_id"], r["rnk"]): r["token"] for r in rows}
    assert top[(9, 1)] == "zyzzyva"  # idf ln(10/1) beats ln(10/10)=0
    for r in rows:
        assert 1 <= r["rnk"] <= 2


# ------------------------------------------------------------ waveform
def test_waveform_stats_known_signal(spark):
    """A crafted text whose utf-8 bytes form a known PCM pattern must
    produce hand-computable features; empty text is a silent buffer."""
    import math

    import numpy as np

    from vector_db_service_spark.operators import multimodal as mm
    from vector_db_service_spark.operators.multimodal import (
        WAV_SAMPLES, _cycled_raster_bytes,
    )

    texts = [(0, "A"), (1, ""), (2, "stereo-ish pattern éé")]
    docs = spark.createDataFrame(texts, "doc_id long, text string")

    # reuse the operator's own synthesize+decode contract as the spec
    def expect(text):
        x = np.frombuffer(
            _cycled_raster_bytes(text, WAV_SAMPLES * 2), dtype="<i2"
        ).astype(np.int64)
        neg = x < 0
        return (
            len(x),
            round(math.sqrt(int((x * x).sum()) / len(x)), 6),
            int((neg[1:] != neg[:-1]).sum()),
            int(np.abs(x).max()),
        )

    # drive through a temp parquet so the sf_dir-shaped API applies
    import tempfile

    d = tempfile.mkdtemp(prefix="wavetest_")
    docs.write.mode("overwrite").parquet(os.path.join(d, "documents.parquet"))
    rows = {r["doc_id"]: r for r in mm.waveform_stats(spark, d).collect()}
    for doc_id, text in texts:
        n, rms, zc, peak = expect(text)
        r = rows[doc_id]
        assert (r["n_samples"], r["zero_crossings"], r["peak"]) == (n, zc, peak)
        assert r["rms"] == pytest.approx(rms, abs=1e-6)
    # silence: all-zero buffer
    assert rows[1]["rms"] == 0.0 and rows[1]["peak"] == 0
