"""Deduplication operators over the documents/embeddings tables —
the training-data-pipeline surface (BASELINE.json north_star).

Five families, each designed so the pair-generation step is an equi-join
on a bucket key (never a cross join), which is what survives 100 TB:

  exact        md5(text) group-by                      (hash dedup)
  minhash      shingle -> minhash -> band -> bucket join -> exact jaccard
  simhash      28-bit fingerprint -> block join (lossless for r<=3)
               -> hamming verify
  ngram        word-3-gram jaccard, minhash-band blocked
  embedding    cosine near-dup, (label, hyperplane-sign-band)-blocked

The oracle SQL for the minhash/simhash/ngram operators deliberately
uses the naive quadratic formulation — those blocked joins return the
IDENTICAL pair set (banding there is a candidate superset + exact
verify; simhash blocking is lossless by pigeonhole), so hash-equality
against the naive oracle proves the pruning is sound. The embedding
operator's sign-band blocking is NOT lossless (random hyperplanes give
no containment guarantee), so its oracle mirrors the identical banded
candidates and the recall of the band knob is measured separately
(operators/ann.py::blocked_pair_recall).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import cache
from ..functions import hashing as H
from ..functions import similarity as sim
from ..sources.tables import spread_for_compute


def exact_dedup_summary(docs: DataFrame) -> DataFrame:
    """Exact dedup accounting: total rows vs distinct texts vs distinct
    normalized texts (lower + squeezed whitespace)."""
    norm = F.regexp_replace(F.lower(F.col("text")), "\\s+", " ")
    return docs.agg(
        F.count("*").alias("total_docs"),
        F.countDistinct(F.md5("text")).alias("distinct_texts"),
        F.countDistinct(F.md5(norm)).alias("distinct_normalized"),
    )


def exact_dedup_keep_first(docs: DataFrame) -> DataFrame:
    """Canonicalization: keep the min doc_id per distinct text — the
    standard keep-one policy. Post-state row count per source.

    A NULL text survives unconditionally: keep-first removes rows whose
    content is IDENTICAL, and SQL equality says NULL equals nothing —
    grouping unknowns together would destroy all-but-one of every
    unknown-content document at 100 TB (both engines' GROUP BY would
    happily do it; the null fixture is where this is load-bearing)."""
    w_key = F.md5(F.col("text"))
    keep = (
        docs.filter(F.col("text").isNotNull())
        .groupBy(w_key.alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
    )
    survivors = docs.join(keep.select("doc_id"), "doc_id", "left_semi")
    return (
        survivors.unionByName(docs.filter(F.col("text").isNull()))
        .groupBy("source")
        .agg(F.count("*").alias("n_docs"))
    )


def _pair_join(keyed: DataFrame, key_cols: list[str], payload: list[str],
               bands_col: str | None = None,
               n_bands: int | None = None) -> DataFrame:
    """Candidate pairs sharing a bucket key: equi-self-join, id1 < id2.
    The only shuffle is on the bucket key.

    With `bands_col` (the full band-key array, present on both sides),
    multi-band duplicates are dropped MAP-SIDE by the first-collision
    predicate (lsh.first_collision) — key_cols[0] must be the band
    index. Without it, the legacy distinct shuffle dedups."""
    carry = payload + ([bands_col] if bands_col else [])
    left = keyed.select(*key_cols, *[F.col(c).alias(f"{c}_1") for c in carry])
    right = keyed.select(*key_cols, *[F.col(c).alias(f"{c}_2") for c in carry])
    out_cols = [f"{c}_1" for c in payload] + [f"{c}_2" for c in payload]
    pairs = left.join(right, key_cols).filter(
        F.col(f"{payload[0]}_1") < F.col(f"{payload[0]}_2")
    )
    if bands_col is None:
        return pairs.select(out_cols).distinct()
    from .lsh import first_collision

    return pairs.filter(
        F.col(key_cols[0])
        == first_collision(
            F.col(f"{bands_col}_1"), F.col(f"{bands_col}_2"), n_bands
        )
    ).select(out_cols)


def minhash_near_dups(docs: DataFrame, threshold: float = 0.2) -> DataFrame:
    """MinHash-LSH near-duplicate pairs: band-bucket candidate join,
    then EXACT jaccard on distinct-shingle sets as the verify step."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    # one materialization of (band keys, shingle set) feeds the candidate
    # join AND both verify joins — the shingle/md5 pipeline runs once per
    # doc, not once per branch (the persisted-signature-table shape)
    pre = spread_for_compute(docs).select(
        "doc_id",
        H.minhash_bands("text").alias("bands"),
        F.array_distinct(H.shingles("text")).alias("sh"),
    ).localCheckpoint(eager=False)
    keyed = pre.select(
        "doc_id", "bands", F.posexplode("bands").alias("band_idx", "band_key")
    )
    pairs = _pair_join(keyed, ["band_idx", "band_key"], ["doc_id"],
                       bands_col="bands", n_bands=H.MINHASH_BANDS)
    sh = pre.select("doc_id", "sh")
    j = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_id_1").withColumnRenamed("sh", "sh_1"), "doc_id_1")
        .join(sh.withColumnRenamed("doc_id", "doc_id_2").withColumnRenamed("sh", "sh_2"), "doc_id_2")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_1", "sh_2")).cast("double")
                / F.size(F.array_union("sh_1", "sh_2")).cast("double"),
                6,
            ),
        )
    )
    return (
        j.filter(F.col("jaccard") >= F.lit(threshold))
        .select("doc_id_1", "doc_id_2", "jaccard")
    )


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs within hamming <= 3 of SIMHASH_BITS (28)
    bits. The block join (4 blocks, 7 bits each) is lossless for this
    radius by pigeonhole, so results equal the all-pairs scan the oracle
    performs."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    # localCheckpoint: both join sides + the verify read the SAME tiny
    # materialized fingerprint frame instead of re-hashing the corpus per
    # branch (measured 2.2x). At scale this is the index-build write: the
    # fingerprint table is persisted once, then joined against itself.
    fingered = (
        spread_for_compute(docs)
        .select("doc_id", H.simhash("text").alias("sh"))
        .localCheckpoint(eager=False)
    )
    keyed = fingered.select(
        "doc_id", "sh", F.posexplode(H.simhash_blocks(F.col("sh"))).alias("block_idx", "block_key")
    )
    left = keyed.select(
        "block_idx", "block_key", F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh_1")
    )
    right = keyed.select(
        "block_idx", "block_key", F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh_2")
    )
    # both dedup stages are MAP-SIDE: the hamming bit_count verify, then
    # the first-collision predicate — the first block index whose bits
    # agree — which keeps a multi-block-colliding pair only in its first
    # shared block. No distinct: the candidate pair stream is never
    # shuffled at all. The predicate is PURE SCALAR xor/shift/mask on the
    # two fingerprints (block i agrees iff ((sh_1^sh_2)>>(i*w)) & mask
    # = 0) — the earlier array-valued form (lsh.first_collision over
    # simhash_blocks of both sides) allocated two arrays + an interpreted
    # zip_with per candidate row, ~8M allocations at sf0.1.
    width = H.SIMHASH_BITS // H.SIMHASH_BLOCKS
    mask = (1 << width) - 1
    first_coll = "CASE " + " ".join(
        f"WHEN (shiftright(sh_1 ^ sh_2, {i * width}) & {mask}) = 0 THEN {i}"
        for i in range(H.SIMHASH_BLOCKS - 1)
    ) + f" ELSE {H.SIMHASH_BLOCKS - 1} END"
    return (
        left.join(right, ["block_idx", "block_key"])
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .withColumn("hamming", H.hamming(F.col("sh_1"), F.col("sh_2")))
        .filter(F.col("hamming") <= max_hamming)
        .filter(F.col("block_idx") == F.expr(first_coll))
        .select("doc_id_1", "doc_id_2", "hamming")
    )


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    return spread_for_compute(docs).select(
        "doc_id", H.simhash("text").alias("simhash")
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """Inspectable minhash signatures (first 4 components as columns)."""
    sig = H.minhash_signature("text")
    return docs.select(
        "doc_id",
        *[F.element_at(sig, i + 1).alias(f"mh{i}") for i in range(4)],
    )


def ngram_jaccard_topk(docs: DataFrame, k: int = 20) -> DataFrame:
    """Top-k most similar doc pairs by word-3-gram jaccard. Candidates
    come from minhash bands (scale path); the exact-jaccard verify makes
    the band choice a recall knob, and top-k ordering is total."""
    near = minhash_near_dups(docs, threshold=0.0)
    return (
        near.orderBy(F.desc("jaccard"), F.asc("doc_id_1"), F.asc("doc_id_2"))
        .limit(k)
    )


def embedding_near_dups(emb: DataFrame, threshold: float = 0.8,
                        band_bits: int | None = None,
                        n_rows: int | None = None,
                        dim: int | None = None) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked by (label, sign-band).

    Candidate generation is an equi-join on (label, band_idx, band_key)
    where band keys pack `band_bits` deterministic hyperplane sign bits
    (operators/lsh.py::band_keys, seed-42 planes) — a random pair
    collides on a band with prob ~2^-band_bits while a pair at the 0.8
    cosine threshold (per-bit agreement p ≈ 0.80) survives >=1 of the
    L = NUM_HASHES/band_bits bands with prob 1-(1-p^b)^L ≈ 0.99. The
    per-label ALL-pairs self-join this replaces is O(n²) per library —
    10M vectors/library would mean 10^13 candidate pairs; banding keeps
    the shuffle proportional to actual near-duplicates. Recall of the
    banding knob is measured by ann.blocked_pair_recall (sampled exact
    ground truth); the oracle mirrors the identical banded candidates,
    so the check stays exact.

    When `band_bits` is None it auto-scales from `n_rows` (pass the
    footer count) so bucket sizes stay constant at any corpus scale —
    see lsh.auto_band_bits; resolves to 2 (== the static oracles) at
    test scales."""
    from .lsh import SEED, N_SIGN_BANDS, auto_band_bits, band_keys, first_collision, hyperplanes

    band_bits = auto_band_bits(n_rows if n_rows is not None else 0, band_bits)
    if dim is None:
        # generic-DataFrame fallback: one 1-row Spark job (~0.15 s of
        # scheduling). Callers with a parquet table on disk pass the
        # footer-read dim (tables.embedding_dim) instead.
        dim = emb.select(F.size("embedding")).head()[0]
    planes = hyperplanes(dim, N_SIGN_BANDS * band_bits, SEED)
    # spread BEFORE banding: the band equi-join's OUTPUT is quadratic in
    # bucket size while its INPUT is tiny, so the planner broadcasts one
    # side and runs the pair expansion at the PROBE side's parallelism —
    # a single-row-group scan would serialize every candidate dot
    # product in one task (wall == cpu at local[32], measured on
    # ann_knn_join). No-op at production partition counts, like every
    # other spread site.
    emb = spread_for_compute(emb)
    # norms are per-VECTOR, not per-pair: compute once on each join side
    # (n vs n^2 norm evaluations), pairs then need only the dot product
    banded = emb.select(
        "label", "vec_id", "embedding", sim.norm("embedding").alias("nrm"),
        band_keys("embedding", planes, band_bits).alias("bands"),
    ).select(
        "label", "vec_id", "embedding", "nrm", "bands",
        F.posexplode("bands").alias("band_idx", "band_key"),
    )
    a = banded.select(
        "label", "band_idx", "band_key", F.col("vec_id").alias("vec_id_1"),
        F.col("embedding").alias("e1"), F.col("nrm").alias("n1"),
        F.col("bands").alias("b1"),
    )
    b = banded.select(
        "label", "band_idx", "band_key", F.col("vec_id").alias("vec_id_2"),
        F.col("embedding").alias("e2"), F.col("nrm").alias("n2"),
        F.col("bands").alias("b2"),
    )
    cos = F.when(
        (F.col("n1") == F.lit(0.0)) | (F.col("n2") == F.lit(0.0)), F.lit(0.0)
    ).otherwise(sim.dot("e1", "e2") / (F.col("n1") * F.col("n2")))
    # multi-band duplicates die map-side on the first-collision predicate
    # (lsh.first_collision) — no distinct shuffle of the pair stream, and
    # the 64-dim dot product runs once per unique pair, not once per
    # colliding band
    return (
        a.join(b, ["label", "band_idx", "band_key"])
        .filter(F.col("vec_id_1") < F.col("vec_id_2"))
        .filter(
            F.col("band_idx")
            == first_collision(F.col("b1"), F.col("b2"), N_SIGN_BANDS)
        )
        .withColumn("cos", F.round(cos, 6))
        .filter(F.col("cos") >= F.lit(threshold))
        .select("label", "vec_id_1", "vec_id_2", "cos")
    )


def _dup_graph(docs: DataFrame, max_hamming: int) -> DataFrame:
    """Symmetrized near-dup edge list, lineage-truncated: every
    propagation round re-reads the one materialized frame. Iterating
    over GRAPH NODES ONLY (not the whole corpus) is the key scale move —
    isolated documents never change labels, and on a real corpus
    near-dup nodes are a tiny fraction of rows, so the per-round join
    input shrinks from |corpus| to |dup nodes|.

    Symmetrization is one explode over the pair stream, NOT a
    self-union: a union's two branches each re-run the banded candidate
    join (measured 2x the edge-materialization cost). The explode keeps
    the candidate join at full scan parallelism; the repartition then
    narrows the materialized frame to iteration width (a cheap shuffle
    of (bigint, bigint) rows) so every downstream round inherits a
    partition count proportional to the cluster instead of the full
    shuffle width — checkpointed RDDs bypass AQE coalescing, and
    per-round scheduling otherwise dominates (measured ~20% of the
    query at local[32]). The node set is NOT materialized here:
    consumers derive it for free (the contraction's groupBy emits every
    node; the plain variant dedups src)."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    spark = docs.sparkSession
    iter_parts = max(4, spark.sparkContext.defaultParallelism // 8)
    pairs = simhash_near_dups(docs, max_hamming).select("doc_id_1", "doc_id_2")
    return (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("doc_id_1").alias("src"), F.col("doc_id_2").alias("dst")
                    ),
                    F.struct(
                        F.col("doc_id_2").alias("src"), F.col("doc_id_1").alias("dst")
                    ),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .repartition(iter_parts)
        .localCheckpoint(eager=False)
    )


def _all_labels(docs: DataFrame, nodes: DataFrame, labels: DataFrame) -> DataFrame:
    """Full per-document labeling: re-attach isolated documents (their
    own singleton component) to the dup-graph labels — identical to
    propagating over the full corpus, since an isolated node's label
    never moves. Returns (node, comp) for EVERY document."""
    isolated = docs.join(nodes, docs.doc_id == nodes.node, "left_anti").select(
        F.col("doc_id").alias("node"), F.col("doc_id").alias("comp")
    )
    return labels.unionByName(isolated)


def _with_isolated(docs: DataFrame, nodes: DataFrame, labels: DataFrame) -> DataFrame:
    """Aggregate the full labeling to (comp, n_docs)."""
    return (
        _all_labels(docs, nodes, labels)
        .groupBy("comp")
        .agg(F.count("*").alias("n_docs"))
    )


def near_dup_components(docs: DataFrame, max_hamming: int = 3,
                        rounds: int = 10) -> DataFrame:
    """Duplicate-cluster extraction: connected components over the
    simhash near-dup pair graph via `rounds` iterations of min-label
    propagation (each: join labels across edges, take the min). Bounded
    iteration keeps the operator deterministic AND oracle-checkable (the
    oracle unrolls the same rounds); it equals true components whenever
    component diameter <= rounds. Iteration runs over graph nodes only
    (see _dup_graph). Returns (comp, n_docs) per duplicate cluster."""
    edges = _dup_graph(docs, max_hamming)
    iter_parts = max(4, docs.sparkSession.sparkContext.defaultParallelism // 8)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .coalesce(iter_parts)
        .localCheckpoint(eager=False)
    )
    labels = nodes.select("node", F.col("node").alias("comp"))
    for rnd in range(rounds):
        nbr = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), F.col("comp")
        )
        prev = labels
        labels = (
            labels.unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"))
            # truncate lineage each round: the label frame is tiny, but a
            # 10-round chained plan makes Catalyst analysis explode
            .coalesce(iter_parts)
            .localCheckpoint(eager=False)
        )
        # EXACT early exit: per-node labels are monotone non-increasing
        # under min-propagation, so a round that changes nothing proves
        # every remaining round is the identity — the result is
        # bit-identical to the full `rounds` unroll (the oracle's), at
        # a fraction of the blocking jobs (real dup graphs converge in
        # ~component-diameter rounds, typically 2-3, not 10). The check
        # itself is one count over the tiny (node, comp) frame and
        # doubles as the materialization action the lazy checkpoint
        # needs anyway. Skipped on the last round (nothing left to
        # save).
        if rnd < rounds - 1:
            changed = (
                labels.join(prev.withColumnRenamed("comp", "prev_comp"), "node")
                .filter(F.col("comp") != F.col("prev_comp"))
                .limit(1)
                .count()
            )
            if changed == 0:
                break
    return _with_isolated(docs, nodes, labels)


def containment_pairs(docs: DataFrame, threshold: float = 0.5) -> DataFrame:
    """Asymmetric near-dup detection: jaccard CONTAINMENT
    |A∩B| / |A| — catches small documents swallowed by larger ones
    (quote extraction, boilerplate wrapping), which symmetric jaccard
    misses. Same banded candidate join as minhash_near_dups; both
    directed containments are emitted per unordered candidate pair."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    sig = H.minhash_signature("text")
    pre = spread_for_compute(docs).select(
        "doc_id",
        H.minhash_bands("text").alias("bands"),
        F.array_distinct(H.shingles("text")).alias("sh"),
    ).localCheckpoint(eager=False)
    keyed = pre.select(
        "doc_id", "bands", F.posexplode("bands").alias("band_idx", "band_key")
    )
    pairs = _pair_join(keyed, ["band_idx", "band_key"], ["doc_id"],
                       bands_col="bands", n_bands=H.MINHASH_BANDS)
    sh = pre.select("doc_id", "sh")
    joined = (
        pairs.join(sh.withColumnRenamed("doc_id", "doc_id_1").withColumnRenamed("sh", "sh_1"), "doc_id_1")
        .join(sh.withColumnRenamed("doc_id", "doc_id_2").withColumnRenamed("sh", "sh_2"), "doc_id_2")
        .withColumn("n_common", F.size(F.array_intersect("sh_1", "sh_2")))
    )
    c12 = F.round(F.col("n_common").cast("double") / F.size("sh_1").cast("double"), 6)
    c21 = F.round(F.col("n_common").cast("double") / F.size("sh_2").cast("double"), 6)
    return (
        joined.withColumn("containment_1_in_2", c12)
        .withColumn("containment_2_in_1", c21)
        .filter((F.col("containment_1_in_2") >= threshold)
                | (F.col("containment_2_in_1") >= threshold))
        .select("doc_id_1", "doc_id_2", "containment_1_in_2", "containment_2_in_1")
    )


def near_dup_components_fast(docs: DataFrame, max_hamming: int = 3,
                             rounds: int = 5,
                             labels: DataFrame | None = None) -> DataFrame:
    """Aggregated (comp, n_docs) view of near_dup_labels_fast — the
    registered dedup_components variant."""
    if labels is None:
        labels = near_dup_labels_fast(docs, max_hamming, rounds)
    return labels.groupBy("comp").agg(F.count("*").alias("n_docs"))


def near_dup_labels_cached(spark, sf_dir: str, max_hamming: int = 3,
                           rounds: int = 5) -> DataFrame:
    """Memoized per-corpus component labeling: dedup_components and
    dedup_keep_canonical both need the SAME simhash-graph labeling of
    the same file — in a sweep that ran the full banded join +
    contraction + pointer-doubling chain twice. The labeling is
    materialized ONCE to a parquet in a cache.memo artifact directory
    (keyed by file identity + params) and
    every consumer reads that table — unlike a cached localCheckpoint,
    parquet survives block-manager cleanup between externally timed
    queries (an unpersist-all between bench queries evicted the
    checkpoint blocks out from under the memoized frame:
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND). At 100 TB this is exactly
    'write the labeling once, join it from both consumers'."""
    from ..sources.tables import load

    def build(out: str) -> str:
        docs = load(spark, sf_dir, "documents")
        near_dup_labels_fast(docs, max_hamming, rounds).write.mode(
            "overwrite"
        ).parquet(out)
        return out

    out = cache.memo(
        "dedup_labels", f"{sf_dir}/documents.parquet", (max_hamming, rounds),
        build, artifact=True,
    )
    # EVERY consumer — including the first — reads the durable parquet
    # the write just materialized: a returned localCheckpoint frame is
    # non-recomputable once its blocks are evicted (an unpersist-all
    # between externally timed queries can run before the first
    # consumer finishes), while the parquet read costs one small scan
    # and survives any block-manager cleanup
    return spark.read.parquet(out)


def near_dup_labels_fast(docs: DataFrame, max_hamming: int = 3,
                         rounds: int = 5) -> DataFrame:
    """The O(log diameter) form of near_dup_components: each round does
    one neighbor-min propagation THEN one pointer-jump (comp <- comp of
    comp), so label information travels 2^r hops in r rounds instead of
    r — the 100 TB path for deep duplicate chains (plain propagation
    needs diameter rounds; 5 doubled rounds cover diameter ~32).
    Iteration runs over graph nodes only (see _dup_graph). Verified
    equal to the bounded-propagation version in tests; this is the
    REGISTERED dedup_components variant (the 10-round plain-propagation
    oracle matches whenever component diameter <= 10, which the
    equality test pins for the test corpora)."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    # edges arrive already narrowed to iteration width and checkpointed
    # (see _dup_graph) — one materialization instead of the former two
    edges = _dup_graph(docs, max_hamming)
    spark = docs.sparkSession
    iter_parts = max(4, spark.sparkContext.defaultParallelism // 8)

    # CONTRACTION pre-pass — the only phase that touches the full edge
    # list. Near-dup graphs are clique-heavy (a duplicated template makes
    # all its copies pairwise near-dups), so |E| >> |V|; iterating joins
    # over |E| per round pays that density every round. Instead: one
    # aggregation computes m(n) = min over the closed neighborhood, a
    # valid component-preserving contraction (m(n) is always in n's
    # component); the doubling loop then runs on the CONTRACTED graph
    # (edges between distinct representatives — a clique collapses to
    # one supernode, so the loop input is |E'| ~ cross-clique links
    # only). For chain-shaped graphs nothing contracts and this degrades
    # gracefully to the original cost + one extra pass.
    # TWO-hop hook (r17, ported from ann._min_contract_components where
    # it measured 4->3 rounds / 13->8 jobs): m(n) = min over the closed
    # 2-hop neighborhood — min(m1(n), min over nbrs u of m1(u)) with m1
    # the closed 1-hop min. Every candidate is a node of n's component
    # and <= the 1-hop hook, so the contraction stays
    # component-preserving and monotone; the extra join+agg rides the
    # same pre-pass job while the contracted graph (and therefore the
    # doubling loop's input and round count) shrinks by another hop.
    m1 = (
        edges.groupBy("src")
        .agg(F.min("dst").alias("min_nbr"))
        .select(
            F.col("src").alias("node"),
            F.least(F.col("src"), F.col("min_nbr")).alias("comp"),
        )
    )
    nbr2 = (
        edges.join(
            m1.select(F.col("node").alias("dst"), F.col("comp").alias("dc")),
            "dst",
        )
        .groupBy("src")
        .agg(F.min("dc").alias("nbr2"))
    )
    m = (
        m1.join(
            nbr2.select(F.col("src").alias("node"), "nbr2"), "node", "left"
        )
        .select(
            "node",
            F.least("comp", F.coalesce("nbr2", "comp")).alias("comp"),
        )
        .coalesce(iter_parts)
        .localCheckpoint(eager=False)
    )
    # the contraction's groupBy emits every graph node (edges are
    # symmetric, so every node appears as src) — the node set for the
    # isolated-doc re-attach reads the already-checkpointed m for free,
    # where a distinct over edges was a whole extra shuffle + job
    nodes = m.select("node")
    cedges = (
        edges.join(
            m.select(F.col("node").alias("src"), F.col("comp").alias("cs")), "src"
        )
        .join(m.select(F.col("node").alias("dst"), F.col("comp").alias("cd")), "dst")
        .filter(F.col("cs") != F.col("cd"))
        .select(F.col("cs").alias("src"), F.col("cd").alias("dst"))
        .distinct()  # symmetric already: input edges carry both directions
        .coalesce(iter_parts)
        .localCheckpoint(eager=False)
    )
    edges = cedges
    # Pure-clique corpora (every dup family is a template clique)
    # contract to ZERO cross-representative edges — the loop would be
    # `rounds` rounds of scheduling for an already-final labeling. One
    # tiny action on the checkpointed contracted frame skips it.
    if edges.isEmpty():
        full_labels = m
        return _all_labels(docs, nodes, full_labels)
    labels = m.select(F.col("comp").alias("node")).distinct().select(
        "node", F.col("node").alias("comp")
    )
    for _rnd in range(rounds):
        nbr = edges.join(labels, edges.dst == labels.node).select(
            F.col("src").alias("node"), F.col("comp"),
            F.lit(None).cast("long").alias("prev"),
        )
        # Fused propagate + fixed-point probe: `prev` rides along in the
        # SAME aggregation (min ignores the nbr rows' nulls; every node
        # already carries exactly one labels row, so min(prev) IS its
        # previous label), and the moved-count action below is also what
        # materializes the checkpoint — one job does propagation AND the
        # early-stop test, where the unfused form paid a separate
        # join + isEmpty scan per round.
        propagated = (
            labels.withColumn("prev", F.col("comp")).unionByName(nbr)
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("prev").alias("prev"))
            .coalesce(iter_parts)
            .localCheckpoint(eager=False)
        )
        moved = propagated.agg(
            F.sum((F.col("comp") != F.col("prev")).cast("long")).alias("n")
        ).first()["n"]
        propagated = propagated.select("node", "comp")
        # If NO label moved, the labeling is a fixed point (every node
        # already holds its component min — the pointer jump would be the
        # identity too); remaining rounds are pure scheduling overhead.
        if not moved:
            labels = propagated
            break
        # pointer jump: comp <- label of comp (doubles the reach)
        parent = propagated.select(
            F.col("node").alias("p_node"), F.col("comp").alias("p_comp")
        )
        labels = (
            propagated.join(parent, propagated.comp == parent.p_node)
            .select("node", F.col("p_comp").alias("comp"))
            .coalesce(iter_parts)
            .localCheckpoint(eager=False)
        )
    # expand the contraction: every original node takes its
    # representative's final label
    full_labels = m.join(
        labels.select(F.col("node").alias("rep"), F.col("comp").alias("rcomp")),
        m.comp == F.col("rep"),
    ).select("node", F.col("rcomp").alias("comp"))
    return _all_labels(docs, nodes, full_labels)


def near_dup_keep_canonical(docs: "DataFrame", max_hamming: int = 3,
                            rounds: int = 5,
                            labels: "DataFrame | None" = None) -> "DataFrame":
    """Deduped-corpus materialization — the step that turns duplicate
    DETECTION into a training corpus: label every document with its
    near-dup component (simhash graph, contracted pointer-doubling
    components), keep exactly the CANONICAL document per cluster, and
    report per-source survivor accounting. The canonical is the
    component label itself: min-label propagation converges to the
    component's minimum doc_id, so `doc_id == comp` selects one
    deterministic survivor per cluster with no extra pass.

    Plan: component labels are (node, comp) for every document; the
    verdict join back to the corpus is an equi-join on doc_id (hash
    co-partitionable at any scale — at 100 TB both sides bucket by
    doc_id) and the accounting is one map-side-combinable groupBy over
    |sources| groups. The survivor SET (doc_id == comp) is available to
    a writer as the same frame pre-aggregation."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    if labels is None:
        labels = near_dup_labels_fast(docs, max_hamming, rounds)
    per_doc = docs.join(labels, docs.doc_id == labels.node).select(
        "source", (F.col("doc_id") == F.col("comp")).alias("survives")
    )
    surv = F.sum(F.col("survives").cast("long")).alias("n_survivors")
    return (
        per_doc.groupBy("source")
        .agg(F.count("*").alias("n_docs"), surv)
        .select(
            "source",
            "n_docs",
            "n_survivors",
            (F.col("n_docs") - F.col("n_survivors")).alias("n_removed"),
            F.round(
                (F.col("n_docs") - F.col("n_survivors")).cast("double")
                / F.col("n_docs").cast("double"),
                6,
            ).alias("removal_frac"),
        )
    )


CONTRASTIVE_SHARDS = 8


def contrastive_pairs(docs: DataFrame, threshold: float = 0.2,
                      n_shards: int = CONTRASTIVE_SHARDS) -> DataFrame:
    """Training-pair generation for contrastive/embedding fine-tuning:
    POSITIVES are the verified minhash near-dup pairs; NEGATIVES pair
    every document with its two successors on a deterministic md5 ring
    (order by (md5(text), doc_id), wrap at the end) — reproducible
    "random" negatives with no RNG, stable across engines, runs and
    partitionings. Output: (anchor_id, other_id, label).

    The ring is SHARDED: each document lands in one of `n_shards` frozen
    md5(doc_id) buckets and rings with its shard-mates only, so the
    row_number window partitions by shard — no single-partition global
    window anywhere in the plan. At 100 TB n_shards scales with the
    cluster; which negatives are drawn changes with n_shards but their
    statistics don't (the ring order is arbitrary by design), and for a
    FIXED n_shards the draw is exactly reproducible (the oracle replays
    the same sharded ring)."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    pos = minhash_near_dups(docs, threshold=threshold).select(
        F.col("doc_id_1").alias("anchor_id"),
        F.col("doc_id_2").alias("other_id"),
        F.lit("pos").alias("label"),
    )
    from pyspark.sql import Window as W

    shard = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long") % n_shards
    )
    # ONE ordered window pass per shard: successors come from lead(),
    # the wraparound rows from first/nth_value over the full frame —
    # the join formulation of the same ring (succ nrk = rk % n + 1
    # joined back on rank) re-sorted the shard window for each of its
    # three consumers and paid two shuffle joins (5.7 s vs 1.5 s at
    # sf0.1; the pair set is IDENTICAL and the oracle replays the join
    # form, so equality also re-proves the rewrite).
    wo = W.partitionBy("shard").orderBy(F.md5("text"), F.col("doc_id"))
    full = wo.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    ranked = docs.select("doc_id", "text", shard.alias("shard")).select(
        "doc_id",
        F.row_number().over(wo).alias("rk"),
        F.count("*").over(full).alias("n_docs"),
        F.lead("doc_id", 1).over(wo).alias("ld1"),
        F.lead("doc_id", 2).over(wo).alias("ld2"),
        F.first("doc_id").over(full).alias("fst"),
        F.nth_value("doc_id", 2).over(full).alias("snd"),
    )
    succ1 = ranked.select(
        F.col("doc_id").alias("anchor_id"),
        F.coalesce("ld1", "fst").alias("other_id"),
        F.lit("neg").alias("label"),
    )
    succ2 = ranked.select(
        F.col("doc_id").alias("anchor_id"),
        F.coalesce(
            "ld2",
            F.when(F.col("rk") == F.col("n_docs") - 1, F.col("fst")).otherwise(
                F.col("snd")
            ),
        ).alias("other_id"),
        F.lit("neg").alias("label"),
    )
    negs = succ1.unionByName(succ2)
    return pos.unionByName(
        negs.filter(
            F.col("other_id").isNotNull()
            & (F.col("anchor_id") != F.col("other_id"))
        )
    )


def substring_span_stats(docs: DataFrame, n: int = 5,
                         flag_threshold: float = 0.2) -> DataFrame:
    """Exact substring-span dedup accounting (the hash-window analog of
    Lee et al. 2022's suffix-array dedup, "Deduplicating Training Data
    Makes Language Models Better"): a span is a word n-gram window; a
    span is DUPLICATED when its hash occurs in at least one other
    document. Per document: total spans, spans duplicated elsewhere,
    the duplicated fraction, and a flag at `flag_threshold`. Complements
    repetition_scores (within-doc repeats) and the doc-level minhash /
    simhash / jaccard families (whole-doc resemblance) with span-level
    cross-doc duplication — the signal used to cut boilerplate and
    licence blocks out of pretraining corpora.

    100 TB shape: the text is hashed to int64 window hashes map-side and
    never shuffles. The (doc_id, gh) partial count shrinks repeats
    before any exchange; gram doc-frequencies aggregate over that
    reduced pair table; the join back is an equi-join on the gram hash
    between two already-gh-partitioned frames. Everything downstream of
    tokenization moves only (int64, int64) rows.
    """
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    from ..functions import hashing as H

    ex = docs.select(
        "doc_id", F.explode(F.expr(H.shingle_hashes_sql("text", n))).alias("gh")
    )
    pairs = ex.groupBy("doc_id", "gh").agg(F.count("*").alias("c"))
    freq = pairs.groupBy("gh").agg(F.count("*").alias("n_docs"))
    frac = F.round(
        F.col("n_dup_spans").cast("double") / F.col("n_spans").cast("double"), 6
    )
    return (
        pairs.join(freq, "gh")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_spans"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("c")).otherwise(0))
            .cast("long")
            .alias("n_dup_spans"),
        )
        .select(
            "doc_id",
            "n_spans",
            "n_dup_spans",
            frac.alias("dup_span_frac"),
            (frac >= F.lit(flag_threshold)).alias("is_flagged"),
        )
    )


def paragraph_dedup(docs: DataFrame, para_tokens: int = 20) -> DataFrame:
    """CCNet-style paragraph-level exact dedup (Wenzek et al. 2020
    dedupe at paragraph granularity before any doc-level pass): split
    every document into non-overlapping `para_tokens`-word paragraphs
    (this corpus has no newline structure, so the fixed window is the
    deterministic paragraph analog — same convention as
    textops.chunk_documents), hash each, and keep a paragraph only at
    its FIRST occurrence corpus-wide (min (doc_id, para_idx)). Reports
    per-source paragraph counts, removals, removal fraction, and an
    order-independent xor signature of the SURVIVING paragraphs — the
    content-addressed identity a writer would publish for the deduped
    corpus (same signature idea as pipeline_dataset_manifest).

    100 TB shape: paragraphs shuffle only as (md5, bigint-key) pairs for
    the keep-first group-by (map-side combinable min); the verdict join
    back is an equi-join on the paragraph hash; accounting is a
    |sources|-group aggregate. The full text never shuffles."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    toks = F.split(F.col("text"), " ")
    n_paras = F.greatest(
        F.ceil(F.size("toks") / F.lit(para_tokens)).cast("int"), F.lit(1)
    )
    piece = F.concat_ws(
        " ", F.slice(F.col("toks"), F.col("para_idx") * para_tokens + 1, para_tokens)
    )
    paras = (
        docs.select("doc_id", "source", toks.alias("toks"), n_paras.alias("np"))
        .select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(0), F.col("np") - 1)).alias("para_idx"),
            "toks",
        )
        .select(
            "doc_id",
            "source",
            "para_idx",
            F.md5(piece).alias("h"),
            # 32-bit hash for the xor signature (full md5 keys equality)
            F.conv(F.substring(F.md5(piece), 1, 8), 16, 10)
            .cast("long")
            .alias("h32"),
            # total order of occurrences; para_idx < 1e6 holds for any
            # document under ~20M words
            (F.col("doc_id") * F.lit(1_000_000) + F.col("para_idx")).alias("okey"),
        )
    )
    kept = paras.groupBy("h").agg(F.min("okey").alias("keep_key"))
    joined = paras.join(kept, "h").withColumn(
        "survives", F.col("okey") == F.col("keep_key")
    )
    return (
        joined.groupBy("source")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum((~F.col("survives")).cast("long")).alias("n_removed"),
            F.expr("bit_xor(CASE WHEN okey = keep_key THEN h32 END)").alias(
                "survivor_sig"
            ),
        )
        .select(
            "source",
            "n_paras",
            "n_removed",
            F.round(
                F.col("n_removed").cast("double") / F.col("n_paras").cast("double"),
                6,
            ).alias("removal_frac"),
            "survivor_sig",
        )
    )


WINNOW_WINDOW = 4


def winnowing_fingerprints(docs: DataFrame, window: int = WINNOW_WINDOW) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken
    2003 — the MOSS algorithm): over each document's word-3-gram hash
    sequence, slide a `window`-gram window and keep the MINIMUM hash of
    each window; the distinct selected hashes are the document's
    fingerprint set. Winnowing guarantees any shared run of
    window+2 words contributes a shared fingerprint, at ~2/(window+1)
    the density of full shingling — the standard plagiarism/boilerplate
    detector at corpus scale. Documents shorter than the window keep
    their global-min hash (the spec's degenerate case).

    Per document: gram count, fingerprint count, how many fingerprints
    also occur in ANOTHER document, and that shared fraction — the
    span-level contamination signal at fingerprint (not full-shingle)
    cost. Selection is one zero-shuffle projection; only the distinct
    (doc_id, fp) pairs shuffle for the doc-frequency count."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    gh = F.expr(H.shingle_hashes_sql("text", 3))
    fps = F.array_distinct(
        F.when(
            F.size("gh") >= window,
            F.transform(
                F.sequence(F.lit(1), F.size("gh") - window + 1),
                lambda i: F.array_min(F.slice(F.col("gh"), i, window)),
            ),
        ).otherwise(F.array(F.array_min("gh")))
    )
    # checkpoint the hash array BEFORE the window-min projection:
    # projection collapse would otherwise inline the full md5 shingle
    # pipeline at every `gh` reference — including the per-window slice
    # lambda, i.e. O(n_windows) recomputations per document (measured
    # 23x at sf0.1). Same cut the minhash pipeline uses.
    hashed = (
        spread_for_compute(docs)
        .select("doc_id", gh.alias("gh"))
        .localCheckpoint(eager=False)
    )
    base = hashed.select(
        "doc_id", F.size("gh").cast("long").alias("n_grams"), fps.alias("fps")
    ).localCheckpoint(eager=False)
    ex = base.select("doc_id", F.explode("fps").alias("fp"))
    freq = ex.groupBy("fp").agg(F.countDistinct("doc_id").alias("df"))
    per_doc = (
        ex.join(freq, "fp")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_fingerprints"),
            F.sum((F.col("df") > 1).cast("long")).alias("n_shared"),
        )
    )
    return (
        base.select("doc_id", "n_grams")
        .join(per_doc, "doc_id")
        .select(
            "doc_id",
            "n_grams",
            "n_fingerprints",
            "n_shared",
            F.round(
                F.col("n_shared").cast("double")
                / F.col("n_fingerprints").cast("double"),
                6,
            ).alias("shared_frac"),
        )
    )


def lsh_tuning_curve(spark: SparkSession) -> DataFrame:
    """The MinHash-LSH operating-characteristic table the banded join's
    parameters come from: for every (bands b, rows r) factorization of
    the NUM_MINHASH=16 permutations, the probability a pair at Jaccard
    similarity s becomes a candidate is P(s) = 1 - (1 - s^r)^b
    (Leskovec/Rajaraman/Ullman, Mining of Massive Datasets ch. 3).
    Evaluated over a 5%-step similarity grid in integer micros, plus
    each split's 50%-collision threshold s50 = (1 - (1/2)^(1/b))^(1/r)
    — the knob that trades recall against candidate volume BEFORE
    paying for a 100 TB banded join. Pure closed-form math (no corpus
    scan); registered so the tuning surface itself is under the exact
    cross-engine gate (pow/round parity).

    Reference parity: the reference tunes its LSH analogically with
    fixed num_planes heuristics (vector_db/algorithms.py LSH section);
    this is the principled version for the MinHash family."""
    splits = [(b, H.NUM_MINHASH // b) for b in (1, 2, 4, 8, 16)]
    base = spark.createDataFrame(splits, "bands int, rows int")
    s = F.col("s_pct").cast("double") / F.lit(100.0)
    p_band = F.pow(s, F.col("rows").cast("double"))
    p = F.lit(1.0) - F.pow(F.lit(1.0) - p_band, F.col("bands").cast("double"))
    s50 = F.pow(
        F.lit(1.0) - F.pow(F.lit(0.5), F.lit(1.0) / F.col("bands").cast("double")),
        F.lit(1.0) / F.col("rows").cast("double"),
    )
    return (
        base.select(
            "bands",
            "rows",
            F.explode(F.sequence(F.lit(5), F.lit(95), F.lit(5))).alias("s_pct"),
        )
        .select(
            "bands",
            "rows",
            "s_pct",
            F.round(p * 1e6, 0).cast("bigint").alias("p_collide_us"),
            F.round(s50 * 1e6, 0).cast("bigint").alias("s50_us"),
        )
    )


def allpairs_cosine(docs: DataFrame, tau_num: int = 4,
                    tau_den: int = 5,
                    _w_safe: int | None = None,
                    _norm_safe: int | None = None) -> DataFrame:
    """AllPairs prefix-filtered TF-IDF cosine similarity join (Bayardo,
    Ma, Srikant 2007, "Scaling Up All Pairs Similarity Search") over
    word-3-gram shingle features — the lexical near-dup primitive
    between exact-hash and MinHash: find every document pair whose
    shingle-TF-IDF cosine >= tau = tau_num/tau_den (default 0.8)
    WITHOUT the all-pairs product and WITHOUT MinHash's probabilistic
    recall. The prefix filter is lossless: index a document under only
    its rarest shingles under a GLOBAL rarest-first feature order (the
    minimal prefix such that the residual tail mass can no longer
    reach tau on its own), join prefixes to prefixes, and any pair at
    cosine >= tau must collide on its first-in-global-order shared
    feature, which lies in BOTH prefixes — completeness holds by
    Cauchy-Schwarz on the tail (the PPJoin-family prefix filter:
    Chaudhuri/Ganti/Kaushik 2006, Vernica/Carey/Li SIGMOD 2010). Shingle (not unigram) features because
    discrimination is the point: this corpus has a ~31-word vocabulary,
    so unigram TF-IDF rates half the corpus as similar, while shared
    rare 3-gram runs isolate true near-dups (same feature convention as
    the MinHash family).

    Every comparison that decides membership is INTEGER-EXACT on both
    engines: idf is quantized once to millinats, weights w = tf *
    idf_mln, norms and dots are exact bigint sums (wrap-proof by the
    domain guard below), the prefix boundary is tau_den^2 * tail2 >=
    tau_num^2 * norm2 (tau squared, cleared of denominators — q2 *
    tail2 can pass 2^63 inside the domain, so the exact image is
    DECIMAL(38,0)), and the final verdict tau_den^2 * dot^2 >=
    tau_num^2 * norm2_1 * norm2_2 is likewise exact (dot^2 can exceed
    int64; the DuckDB side uses HUGEINT). Each exact compare is
    DOUBLE-SCREENED (_ge_screened): the double images decide every row
    outside a certified 1e-9 relative band around the boundary (the
    double error on these products is < 1e-14), and the BigDecimal-slow
    DECIMAL(38,0) path runs only inside the band — bit-identical
    verdicts, decimal math on ~no rows. The reported cosine is the only
    float and is rounded to integer micros AFTER the verdict. df ==
    n_docs shingles carry idf_mln = 0 and are dropped exactly (they
    cannot contribute).

    EXACTNESS-DOMAIN GUARD: decimal(38,0) triple products (q2 * tail2_1
    * tail2_2 and q2 * dot^2 vs p2 * norm2_1 * norm2_2) are only exact
    while every norm2 <= isqrt((10^38 - 1) / max(p2, q2)) (~2e18 at
    tau = 0.8) — beyond that, non-ANSI Spark would NULL the overflowed
    multiply and the filter would silently DROP the pair, breaking the
    lossless guarantee exactly at scale; similarly a bigint norm sum
    could wrap past 2^63 on heavy-tailed corpora. Two raise_error()
    guards make both failure modes LOUD instead: a per-row guard
    (w^2 * n_features < 8.8e18, evaluated on the exact double image of
    w) proves every long partial sum stays below 2^63, and a per-doc
    guard rejects norm2 > the decimal-product bound. All downstream
    bigint arithmetic (w <= sqrt(norm2), dot <= sqrt(norm2_1 * norm2_2),
    positive partial sums) is then provably wrap-free by Cauchy-Schwarz.
    The DuckDB oracle's HUGEINT holds ~1.7e38, so the oracle stays
    exact over the full guarded domain.

    100 TB shape: tf/df/weights are map-side-combined aggregates of the
    exploded shingle stream (shuffles carry |doc x distinct-shingle|
    and |shingle-vocab| rows, never text); the prefix is a per-doc
    window over the weight table (partitioned by doc, never global);
    candidate generation is an equi-join of the SMALL prefix table
    against the full posting table on shingle hash (the banded-equi-join
    shape of the MinHash family, but with a deterministic completeness
    guarantee); verification joins only candidate pairs. tau is the
    volume knob: higher tau -> shorter prefixes -> fewer candidates."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    from pyspark.sql import Window

    p2, q2 = tau_num * tau_num, tau_den * tau_den
    # features are 64-bit shingle HASHES, not shingle strings: every
    # downstream shuffle (tf, df, postings, candidate join, dot join)
    # then carries (bigint, bigint) rows — text never shuffles, the
    # dedup-family invariant. Both engines hash with the same
    # md5-prefix map, so a (vanishingly rare) collision merges the
    # same two shingles on both sides and parity is unaffected.
    # spread BEFORE the shingle hashing (same convention as the MinHash
    # and SimHash pipelines): a single-row-group scan would otherwise
    # serialize the whole md5 stage on one core; no-op at production
    # file counts
    toks = spread_for_compute(docs).select(
        "doc_id", F.explode(H.shingle_hashes("text")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").cast("long").alias("tf"))
    n_docs = docs.select(F.count("*").cast("double").alias("n_docs"))
    # df as a WINDOW over the tf frame (tf has exactly one row per
    # (doc, tok), so count(*) per tok partition IS the document
    # frequency): one exchange on tok computes df AND leaves the rows
    # in hand for the weight projection, where the former
    # groupBy-then-join shape paid a df aggregation exchange plus a
    # re-shuffle of the full tf frame for the tok equi-join. Same
    # idf_mln values, one fewer pass over the largest frame.
    by_tok = Window.partitionBy("tok")
    idf_mln = F.round(
        F.log(F.col("n_docs") / F.count("*").over(by_tok).cast("double"))
        * 1000,
        0,
    ).cast("long")
    w = (
        tf.crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id", "tok", "tf", idf_mln.alias("idf_mln")
        )
        .filter(F.col("idf_mln") > 0)
        .select(
            "doc_id", "tok", "idf_mln",
            (F.col("tf") * F.col("idf_mln")).alias("w"),
            # double image of w for the wrap guard: exact for products
            # < 2^53, and the guard thresholds sit far below that
            (F.col("tf").cast("double") * F.col("idf_mln").cast("double"))
            .alias("w_dbl"),
        )
    )
    # per-doc: norm2 (exact), and the tail mass at-or-after each shingle
    # under the GLOBAL rarest-first feature order (idf desc = df asc,
    # tok asc — the PPJoin/Chaudhuri prefix-filter ordering). A shingle
    # is in the PREFIX iff the tail including it could still reach tau.
    # Because the order is global, the FIRST shared feature of any
    # tau-pair lies in BOTH prefixes, so candidate generation is a
    # prefix-to-prefix equi-join: common (long-posting-list) shingles
    # fall outside both prefixes and never fan out. (The earlier
    # per-doc weight order was only sound for prefix-vs-FULL probing,
    # whose posting lists made a densified corpus quadratic: 400 s on
    # the syn10x probe vs 8 s with this order.)
    # ONE WindowExec for all three per-doc quantities: norm2 and the
    # guard count are whole-partition facts, but giving them the SAME
    # (partitionBy, orderBy) spec as tail2 — with an
    # unbounded-to-unbounded frame — lets Catalyst fuse them into the
    # single sorted Window pass tail2 already needs, instead of a
    # second unordered WindowExec (a second buffering pass over the
    # largest frame; measurably slower at the syn10x probe scale).
    ord_doc = Window.partitionBy("doc_id").orderBy(
        F.col("idf_mln").desc(), F.col("tok").asc()
    )
    by_doc = ord_doc.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    tail_w = ord_doc.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    # --- exactness-domain guards (see docstring) -----------------------
    # W_SAFE: a per-term bound so w*w is representable in decimal(38,0);
    # WITHOUT it an overflowed square becomes a NULL term that sum()
    # SKIPS — a silently-too-small norm, worse than a loud failure.
    # NORM_SAFE: the largest norm2 for which every downstream decimal
    # triple product provably fits 38 digits and every bigint cast /
    # dot partial sum is wrap-free.
    import math as _math

    dec = "decimal(38,0)"
    # the _w_safe/_norm_safe knobs exist so tests can shrink the domain
    # and prove the loud-failure path end-to-end without a 1e18 corpus
    W_SAFE = _w_safe if _w_safe is not None else 10**18
    NORM_SAFE = (
        _norm_safe if _norm_safe is not None
        else _math.isqrt((10**38 - 1) // max(p2, q2))
    )
    _w_err = (
        "allpairs_cosine: tf*idf weight exceeds the exact-verdict domain "
        f"(w > {W_SAFE}); rescale idf quantization before rerunning"
    )
    _n_err = (
        "allpairs_cosine: document norm exceeds the exact-verdict domain "
        f"(norm2 NULL or > {NORM_SAFE}); decimal(38,0) products would "
        "overflow and silently drop pairs — shard or rescale the corpus"
    )
    # WRAP-PROOF LONG WINDOW SUMS (decimal sums measured 2x slower):
    # per-row guard w^2 * n_features < SUM_SAFE makes every partial and
    # final sum provably < 2^63 (sum over cnt terms each <= max w^2 <=
    # SUM_SAFE / cnt), so the long arithmetic cannot wrap whenever the
    # guard passes — and a violating row raise_error()s inside the same
    # task BEFORE its stage can commit output, so an out-of-domain
    # corpus still fails loudly, never silently. SUM_SAFE sits ~4.5%
    # below 2^63, far above double roundoff on the guard product.
    SUM_SAFE = 8.8e18
    cnt_dbl = F.count("*").over(by_doc).cast("double")
    unsafe_w = (F.col("w_dbl") > F.lit(float(W_SAFE))) | (
        F.col("w_dbl") * F.col("w_dbl") * cnt_dbl >= F.lit(SUM_SAFE)
    )
    w_guarded = F.when(unsafe_w, F.raise_error(_w_err)).otherwise(F.col("w"))
    # past the norm guard every value is <= NORM_SAFE < 2^63, so all
    # downstream long arithmetic is wrap-free (w <= sqrt(norm2),
    # tail2 <= norm2, dot <= sqrt(norm2_1 * norm2_2) by Cauchy-Schwarz,
    # positive partial sums) and every decimal triple product provably
    # fits 38 digits. One select: Catalyst extracts the window sums out
    # of the guard's CASE WHEN, and each saved Dataset creation saves a
    # driver-side incremental-analysis pass over this (wide) plan.
    norm2_w = F.sum(F.col("w") * F.col("w")).over(by_doc)
    # idf_mln is NOT selected into wn: its last downstream consumer (the
    # candidate max_by) died with the round-11 suffix-filter pushdown,
    # and column pruning cannot reach through the localCheckpoint — an
    # unselected column would otherwise be materialized and cached for
    # every (doc, tok) row of the pipeline's largest frame. The window
    # orderBy reads idf_mln from the INPUT frame, not from wn's output.
    wn = w.select(
        "doc_id",
        "tok",
        w_guarded.alias("w"),
        F.when(
            norm2_w.isNull() | (norm2_w > F.lit(NORM_SAFE).cast("long")),
            F.raise_error(_n_err),
        ).otherwise(norm2_w).alias("norm2"),
        F.sum(F.col("w") * F.col("w")).over(tail_w).alias("tail2"),
    ).localCheckpoint(eager=False)
    # DOUBLE-SCREENED exact compare (round-9 review #4): the decimal
    # comparisons below are exact but BigDecimal-slow per row. Each
    # product's double image carries < 1e-14 relative error (exact
    # int64 inputs, <= 3 roundings per side), so a 1e-9 relative
    # margin certifies every row that is not razor-close to the
    # boundary and the exact decimal path runs ONLY inside that band —
    # same verdicts bit for bit (the oracle-parity suite re-proves it),
    # decimal math on ~0 rows instead of every candidate.
    def _ge_screened(c1: int, a1, a2, c2: int, b1, b2):
        lhs_d = F.lit(float(c1)) * a1.cast("double") * a2.cast("double")
        rhs_d = F.lit(float(c2)) * b1.cast("double") * b2.cast("double")
        exact = (
            F.lit(c1).cast(dec) * a1.cast(dec) * a2.cast(dec)
            >= F.lit(c2).cast(dec) * b1.cast(dec) * b2.cast(dec)
        )
        return (
            F.when(lhs_d > rhs_d * F.lit(1.0 + 1e-9), F.lit(True))
            .when(lhs_d < rhs_d * F.lit(1.0 - 1e-9), F.lit(False))
            .otherwise(exact)
        )

    # q2 * tail2 can reach ~q2 * NORM_SAFE (> 2^63) inside the guarded
    # domain — a long multiply would wrap silently, hence screen+decimal
    prefix = wn.filter(
        _ge_screened(
            q2, F.col("tail2"), F.lit(1), p2, F.col("norm2"), F.lit(1)
        )
    )
    # candidates: prefix-to-prefix equi-join on the shingle hash; the
    # first-in-global-order shared feature argument makes this complete.
    # The POSITIONAL suffix filter (PPJoin's second filter, exact) is
    # applied PER ROW, BELOW the pair aggregation: for the FIRST shared
    # feature t* (max idf, min hash — the global order), every shared
    # feature of the pair lies in both suffixes at t*, so by
    # Cauchy-Schwarz dot^2 <= tail2_1(t*) * tail2_2(t*); a pair whose
    # suffix-mass product cannot reach tau^2 * norm2_1 * norm2_2 is
    # pruned BEFORE the dot-verification join ever sees it. The bound
    # q2 * tail2_1(t) * tail2_2(t) is monotone NON-INCREASING along the
    # global feature order (tails only shrink), so "the first shared
    # token passes" is EXACTLY "some colliding row passes" — the filter
    # commutes below the groupBy row-for-row losslessly. That ordering
    # argument is what pays on a densified corpus: a small closed
    # vocabulary makes near-every doc pair share SOME prefix feature
    # (20.3M colliding rows on the syn10x probe), but false pairs share
    # only common features — late in the rarest-first order, tiny
    # suffix mass — so the row filter kills ~99% of collisions
    # map-side, INSIDE the join stage, before they are ever shuffled
    # into the pair aggregation (the former shape aggregated all 20.3M
    # rows through a max_by(struct, struct) just to test the same bound
    # once per pair; the round-11 row-level form deletes the max_by and
    # shrinks the aggregation input to ~the true pair set).
    left = prefix.select(
        F.col("doc_id").alias("doc_id_1"), "tok",
        F.col("norm2").alias("norm2_1"), F.col("tail2").alias("tail2_1"),
    )
    right = prefix.select(
        F.col("doc_id").alias("doc_id_2"), "tok",
        F.col("norm2").alias("norm2_2"), F.col("tail2").alias("tail2_2"),
    )
    cand = (
        left.join(right, "tok")
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
        .filter(
            _ge_screened(
                q2, F.col("tail2_1"), F.col("tail2_2"),
                p2, F.col("norm2_1"), F.col("norm2_2"),
            )
        )
        .groupBy("doc_id_1", "doc_id_2")
        .agg(
            F.first("norm2_1").alias("norm2_1"),
            F.first("norm2_2").alias("norm2_2"),
        )
    )
    # exact verification: per-doc feature MAPS, one map-side zip-merge
    # dot per surviving pair. The naive verify (candidates exploded
    # against both posting tables and re-aggregated) shuffles
    # |candidates| x |features-per-doc| rows — ~500M on the syn10x
    # probe; attaching the two bounded maps keeps the shuffle at
    # |candidates| rows and the O(features) merge row-local.
    # NOTE (r17, measured and REVERTED): pruning this aggregation to
    # candidate-endpoint doc ids (wn left-semi-joined to the cand pair
    # endpoints before the groupBy) was tried per the r16 verdict's
    # candidate #4 and measured on the syn10x probe: the prune's cost
    # is proportional to the PAIR set (the endpoint stream + semi-join
    # build), which on a densified corpus dwarfs the map-build it
    # saves — warm busy regressed ~20-25% with or without a distinct
    # on the endpoint stream, and at sf0.1 candidates cover most docs
    # so there is no win either. A sparse-duplicate corpus would
    # benefit, but both available probes are dense; shipping a change
    # whose only measured effects are negative is guide-§1 malpractice.
    vecs = wn.groupBy("doc_id").agg(
        F.map_from_entries(F.collect_list(F.struct("tok", "w"))).alias("vec")
    )
    dots = (
        cand.join(
            vecs.select(F.col("doc_id").alias("doc_id_1"), F.col("vec").alias("v1")),
            "doc_id_1",
        )
        .join(
            vecs.select(F.col("doc_id").alias("doc_id_2"), F.col("vec").alias("v2")),
            "doc_id_2",
        )
        .select(
            "doc_id_1",
            "doc_id_2",
            "norm2_1",
            "norm2_2",
            # hash-merge dot: map_zip_with builds ONE hash index over the
            # union of keys (O(f1 + f2) per pair), where the former
            # try_element_at probe scanned v2 LINEARLY per v1 entry
            # (ArrayBasedMapData has no index -> O(f1 * f2) per pair; at
            # book-length feature counts that quadratic is the verify
            # bottleneck). Non-shared keys multiply against coalesce(0)
            # and vanish; every product and partial sum is the same
            # wrap-free bigint arithmetic as before (w1*w2 <=
            # sqrt(norm2_1 * norm2_2) <= NORM_SAFE by Cauchy-Schwarz).
            F.expr(
                "aggregate(map_values(map_zip_with(v1, v2, "
                "(k, x, y) -> coalesce(x, CAST(0 AS BIGINT)) * "
                "coalesce(y, CAST(0 AS BIGINT)))), CAST(0 AS BIGINT), "
                "(acc, v) -> acc + v)"
            ).alias("dot"),
        )
    )
    verdict = _ge_screened(
        q2, F.col("dot"), F.col("dot"),
        p2, F.col("norm2_1"), F.col("norm2_2"),
    ) & (F.col("dot") > 0)
    return (
        dots.filter(verdict)
        .select(
            "doc_id_1",
            "doc_id_2",
            F.round(
                F.col("dot").cast("double")
                / (F.sqrt(F.col("norm2_1").cast("double"))
                   * F.sqrt(F.col("norm2_2").cast("double")))
                * 1e6,
                0,
            )
            .cast("bigint")
            .alias("cos_us"),
        )
    )


def allpairs_cached(spark, sf_dir: str, tau_num: int = 4,
                    tau_den: int = 5) -> DataFrame:
    """Memoized per-corpus AllPairs result (doc_id_1, doc_id_2, cos_us):
    the exact near-dup pair table is the most expensive artifact of the
    dedup family and has TWO registered consumers — dedup_allpairs_cosine
    itself and the minhash_vs_exact_recall audit's ground truth. Same
    materialize-once-to-parquet pattern (a cache.memo artifact) as
    near_dup_labels_cached: compute on miss, every later consumer reads
    the durable table. At 100 TB this is 'persist the similarity-join
    output once, audit and downstream passes join against it'."""
    from ..sources.tables import load

    def build(out: str) -> str:
        docs = load(spark, sf_dir, "documents")
        allpairs_cosine(docs, tau_num, tau_den).write.mode("overwrite").parquet(out)
        return out

    out = cache.memo(
        "allpairs", f"{sf_dir}/documents.parquet", (tau_num, tau_den),
        build, artifact=True,
    )
    # read the durable parquet on the miss path too (same round-10 fix
    # as near_dup_labels_cached): a returned checkpoint frame is
    # non-recomputable once its blocks are evicted
    return spark.read.parquet(out)


def _shard4(col: str) -> "F.Column":
    """Frozen 40% md5 sample bucket of a doc-id column (the
    train_val_split draw convention), applicable to either endpoint of
    a pair row."""
    return (
        F.expr(
            f"CAST(conv(substring(md5(CAST({col} AS STRING)), 1, 8), 16, 10)"
            " AS BIGINT)"
        )
        % 10
        < 4
    )


def minhash_vs_exact_recall(docs: DataFrame, threshold: float = 0.2,
                            truth_pairs: DataFrame | None = None) -> DataFrame:
    """Candidate-quality evaluation of the MinHash-LSH banded join
    against the DETERMINISTIC lexical ground truth — 'measure, don't
    guess' applied to the dedup family itself: how much of the exact
    prefix-filtered AllPairs result (shingle-TF-IDF cosine >= 0.8, the
    pair set a lossless near-dup pass must produce) does the
    banded-jaccard candidate pipeline (jaccard >= threshold) actually
    cover, and at what precision? At 100 TB this is the acceptance
    check run on a sample shard before trusting a probabilistic dedup
    configuration corpus-wide; the tuning knob it feeds is
    lsh_tuning_curve's (bands, rows) table.

    Audited on a DETERMINISTIC 40% sample shard (frozen md5 bucket of
    doc_id, the train_val_split draw convention): the ground truth is
    the CORPUS-WIDE AllPairs pair set (production idf — the actual
    configuration being accepted) restricted to pairs with BOTH
    endpoints in the shard, against the banded candidate pipeline run
    on the shard (banding and jaccard are per-doc/per-pair, so
    shard-run == full-run restricted to shard endpoints). At 100 TB
    the truth table is the persisted similarity-join output
    (allpairs_cached) — the audit JOINS it, never recomputes it, and
    never re-derives idf on the sample.

    One row: truth/candidate/hit counts and precision/recall in
    integer micros (ratios of exact integer counts). Both inputs are
    bucketed equi-join pipelines; the overlap join is on (id, id)
    pairs."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    shard = docs.filter(_shard4("doc_id"))
    if truth_pairs is None:
        truth_pairs = allpairs_cosine(docs)
    # lineage-cut both pair sets: each feeds its own count AND the hit
    # join — without the cut the full AllPairs / banded-MinHash
    # pipelines execute once per consumer
    truth = (
        truth_pairs.filter(_shard4("doc_id_1") & _shard4("doc_id_2"))
        .select("doc_id_1", "doc_id_2")
        .localCheckpoint(eager=False)
    )
    cand = (
        minhash_near_dups(shard, threshold)
        .select("doc_id_1", "doc_id_2")
        .localCheckpoint(eager=False)
    )
    hit = truth.join(cand, ["doc_id_1", "doc_id_2"], "left_semi")
    counts = (
        truth.agg(F.count("*").cast("long").alias("n_truth"))
        .crossJoin(cand.agg(F.count("*").cast("long").alias("n_candidates")))
        .crossJoin(hit.agg(F.count("*").cast("long").alias("n_hits")))
    )
    # empty-denominator guard: an empty pair set reports 0, not NaN
    prec = F.when(
        F.col("n_candidates") > 0,
        F.round(F.col("n_hits").cast("double")
                / F.col("n_candidates").cast("double") * 1e6, 0),
    ).otherwise(F.lit(0.0))
    rec = F.when(
        F.col("n_truth") > 0,
        F.round(F.col("n_hits").cast("double")
                / F.col("n_truth").cast("double") * 1e6, 0),
    ).otherwise(F.lit(0.0))
    return counts.select(
        "n_truth",
        "n_candidates",
        "n_hits",
        prec.cast("bigint").alias("precision_us"),
        rec.cast("bigint").alias("recall_us"),
    )


def leakage_safe_split(docs: DataFrame, val_pct: int = 10,
                       max_hamming: int = 3,
                       labels: DataFrame | None = None) -> DataFrame:
    """Leakage-safe train/val split: the plain md5(doc_id) split
    (textops.train_val_split) can land two NEAR-DUPLICATES on opposite
    sides of the boundary — the validation set then contains soft
    copies of training examples and every metric on it is inflated.
    Assigning by near-dup COMPONENT closes that hole: the split key is
    md5(comp) (the cluster's canonical label), so a whole duplicate
    cluster moves together and no near-dup pair can cross the
    boundary. Same md5-bucket determinism as the doc-level split
    (appending docs cannot move an existing cluster's side unless the
    cluster itself merges).

    Output: per split (n_docs, n_clusters) plus `leaked_pairs` — the
    count of near-dup pairs crossing the boundary, recomputed
    INDEPENDENTLY from the pair list (not asserted zero: the Spark
    side joins the dup graph against the assignment, and the oracle
    replays the same count from its own quadratic pair CTE — a wrong
    assignment keying would show up as a nonzero, hash-mismatched
    column)."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    if labels is None:
        labels = near_dup_labels_fast(docs, max_hamming)
    bucket = (
        F.conv(F.substring(F.md5(F.col("comp").cast("string")), 1, 8), 16, 10)
        .cast("long") % F.lit(100)
    )
    tagged = labels.select(
        "node",
        "comp",
        F.when(bucket < val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
        .alias("split"),
    ).localCheckpoint(eager=False)
    edges = _dup_graph(docs, max_hamming)  # symmetric: each pair twice
    leaked = (
        edges.join(
            tagged.select(F.col("node").alias("src"),
                          F.col("split").alias("split_a")), "src")
        .join(
            tagged.select(F.col("node").alias("dst"),
                          F.col("split").alias("split_b")), "dst")
        .filter(F.col("split_a") != F.col("split_b"))
        .agg((F.count("*") / 2).cast("long").alias("leaked_pairs"))
    )
    per = tagged.groupBy("split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.countDistinct("comp").cast("long").alias("n_clusters"),
    )
    return per.crossJoin(F.broadcast(leaked)).select(
        "split", "n_docs", "n_clusters", "leaked_pairs"
    )


def dedup_mixture_shift(docs: "DataFrame",
                        labels: "DataFrame | None" = None,
                        max_hamming: int = 3,
                        rounds: int = 5) -> "DataFrame":
    """How dedup MOVES the training mixture — the interaction report a
    data recipe needs before fixing domain weights: near-duplicates are
    never uniform across (lang, source) domains (crawl dups concentrate
    in few sources), so deduping shifts every domain's token share.
    Per domain: raw vs deduped token counts and the share shift in
    exact integer parts-per-million (n * 1e6 DIV total on both sides —
    no float ratios to drift cross-engine). A mixture fit on the RAW
    corpus then applied to the DEDUPED one trains on the wrong
    distribution; shift_ppm is the size of that error per domain.

    Plan: the memoized component labeling (one graph pass, shared with
    dedup_components / keep_canonical), one equi-join on doc_id, one
    grouped conditional aggregation over |domains| groups, totals via
    an unpartitioned window over the aggregated frame (the
    mixture_weights discipline — the corpus scans once)."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    from pyspark.sql import Window

    if labels is None:
        labels = near_dup_labels_fast(docs, max_hamming, rounds)
    toks = F.size(F.split(F.lower("text"), " ")).cast("long")
    per = (
        docs.join(labels, docs.doc_id == labels.node)
        .select(
            "lang", "source", toks.alias("nt"),
            (F.col("doc_id") == F.col("comp")).alias("survives"),
        )
        .groupBy("lang", "source")
        .agg(
            F.sum("nt").cast("long").alias("n_tokens_raw"),
            F.sum(F.when(F.col("survives"), F.col("nt")).otherwise(0))
            .cast("long").alias("n_tokens_dedup"),
        )
    )
    w = Window.partitionBy()
    per = per.withColumn(
        "tr", F.sum("n_tokens_raw").over(w).cast("long")
    ).withColumn("td", F.sum("n_tokens_dedup").over(w).cast("long"))
    raw_ppm = F.expr("n_tokens_raw * 1000000 DIV tr")
    ded_ppm = F.expr("n_tokens_dedup * 1000000 DIV td")
    return per.select(
        "lang", "source", "n_tokens_raw", "n_tokens_dedup",
        raw_ppm.cast("long").alias("share_raw_ppm"),
        ded_ppm.cast("long").alias("share_dedup_ppm"),
        (ded_ppm - raw_ppm).cast("long").alias("shift_ppm"),
    )


def simhash_threshold_curve(docs: "DataFrame",
                            max_hamming: int = 3) -> "DataFrame":
    """The SimHash radius-TUNING curve — cumulative near-dup pair
    volume per hamming threshold, the number a dedup operator reads
    before picking the radius (the simhash counterpart of the MinHash
    S-curve table): too tight misses near-dups, too loose merges
    distinct documents, and the knee of this curve is where the real
    corpus separates the two. One lossless blocked pair scan (the
    pigeonhole 4-block join is exact for every threshold <= 3), one
    4-row grouped count, and a bounded threshold expansion — the curve
    costs the same as the pair query it tunes. Exact quadratic-scan
    oracle, so the curve also re-proves losslessness at every radius."""
    docs = docs.filter(F.col("text").isNotNull())  # content population (no NULL-text docs)
    pairs = simhash_near_dups(docs, max_hamming)
    per = pairs.groupBy("hamming").agg(
        F.count("*").cast("long").alias("n_at")
    )
    spark = docs.sparkSession
    t = spark.range(0, max_hamming + 1).select(
        F.col("id").cast("int").alias("threshold")
    )
    return (
        t.join(per, per.hamming <= t.threshold, "left")
        .groupBy("threshold")
        .agg(
            F.coalesce(
                F.sum(F.when(per.hamming == F.col("threshold"), per.n_at)),
                F.lit(0),
            ).cast("long").alias("n_pairs_at"),
            F.coalesce(F.sum("n_at"), F.lit(0)).cast("long")
            .alias("n_pairs_cum"),
        )
    )
