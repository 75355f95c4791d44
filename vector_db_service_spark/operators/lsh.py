"""LSH index (I3-I6) with the reference's exact — nonstandard — semantics.

Parity target: reference LSHIndex (vector_db/algorithms.py:196-455):
- `num_hashes` random unit hyperplanes from np.random.seed(seed), drawn
  normal(0,1,dim) then L2-normalized (algorithms.py:271-283).
- bit_i = (v . plane_i >= 0)  (algorithms.py:285-302).
- Each hash table i is keyed by that SINGLE bit, so a table has at most
  two buckets (algorithms.py:345-355). Candidates = union over tables of
  the query's same-bit bucket (algorithms.py:387-391) — deliberately
  low-selectivity (~ n/2 per table unioned across tables); replicated
  literally, NOT replaced by MLlib's BucketedRandomProjectionLSH, whose
  Euclidean-bucket semantics would change candidate sets (SURVEY §7
  hard part #2).
- Exact re-rank of candidates under the requested metric
  (algorithms.py:400-415), top-k by (score desc, id asc).

Spark design:
- Hyperplanes are generated driver-side (same numpy calls, same seed —
  O15) and enter the plan as literal arrays: ~dim*num_hashes doubles,
  trivially broadcast to every executor.
- The index is a DataFrame (vec_id, label, table_idx, bit) built by one
  narrow projection + posexplode — no shuffle (build_index, the
  inspectable per-table form).
- A probe packs a vector's 10 bits into one bucket key next to its
  embedding (covering_column), so a row is a candidate — its sign bit
  agrees with the query's on ANY plane, the union of buckets — exactly
  when `bucket <> the query's complement key`, then the exact re-rank.
  One function (`probe`) collects that top-k in one Spark job: the
  derived search passes it the scope's resident copy (knn.resident),
  the stored probe (operators/store.py) one label partition of the
  stored index — the same rows, the same plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import similarity as sim
from ..sources.tables import load
from .knn import (
    local_top_k, query_vector, query_vector_row, resident, score_all, top_k, validate_k,
)

NUM_HASHES = 10  # reference default, services/vector_service.py:29-32
SEED = 42


def hyperplanes(dim: int, num_hashes: int = NUM_HASHES, seed: int = SEED) -> list[list[float]]:
    """I3: deterministic random unit hyperplanes — same numpy sequence as
    the reference (algorithms.py:271-283)."""
    rng_state = np.random.RandomState(seed)
    planes = []
    for _ in range(num_hashes):
        h = rng_state.normal(0, 1, dim)
        h = h / np.linalg.norm(h)
        planes.append([float(x) for x in h])
    return planes


N_SIGN_BANDS = NUM_HASHES // 2  # 5 bands — the OR-recall budget of sign banding


def auto_band_bits(
    n_rows: int,
    requested: int | None = None,
    n_labels: int = 10,
    target_bucket: int = 128,
) -> int:
    """Scale-adaptive sign-band width. A FIXED band_bits is a scale
    trap: 2 bits means 4 buckets per band, so bucket size grows linearly
    with the corpus and the banded self-join's candidate-pair count grows
    QUADRATICALLY — measured: the same knn_join that takes ~2 s on the
    5k-vector test corpus does not finish at 500k vectors with bits=2.
    The fix is to hold the expected bucket size constant instead:
    band_bits = ceil(log2(per_label_rows / target_bucket)), clamped to
    [2, 16], with the band COUNT held at N_SIGN_BANDS so the OR-recall
    budget (1-(1-p^bits)^bands for per-bit agreement p) stays explicit.
    More bits -> more hyperplanes (N_SIGN_BANDS * bits), finer buckets,
    pair work proportional to true near-duplicates. At the driver's test
    scales this resolves to 2, i.e. bit-identical to the static oracles;
    pass `requested` to pin it."""
    if requested is not None:
        return requested
    import math

    per_label = max(2, n_rows // max(1, n_labels))
    return max(2, min(16, math.ceil(math.log2(max(2.0, per_label / target_bucket)))))


def _plane_dot(vec_col: Column, plane: list[float]) -> Column:
    return sim.dot(vec_col, sim.vector_lit(plane))


def _plane_dot_sql(vec_sql: str, plane: list[float]) -> str:
    """The SQL-string image of _plane_dot (sim.dot_text over the plane
    literal) — bit-identical to the Column form (pinned by the band_keys
    / signature_bits identity tests)."""
    return sim.dot_text(vec_sql, sim.vector_sql(plane))


def signature_bits(vec_col: Column | str, planes: list[list[float]]) -> Column:
    """I4: array of per-plane sign bits (algorithms.py:285-302).

    Column-name (str) input takes the single-parse SQL form — same
    rationale and same bit-for-bit algebra as band_keys(str); pinned by
    tests/test_round9_ops.py::test_signature_bits_sql_path_bit_identical."""
    if isinstance(vec_col, str):
        vec_sql = sim.quoted_ident(vec_col)
        bits = [
            f"CASE WHEN {_plane_dot_sql(vec_sql, p)} >= 0.0D THEN 1 ELSE 0 END"
            for p in planes
        ]
        return F.expr("array(" + ", ".join(bits) + ")")
    return F.array(
        *[
            F.when(_plane_dot(vec_col, p) >= F.lit(0.0), F.lit(1)).otherwise(F.lit(0))
            for p in planes
        ]
    )


def bucket_key(bits_col: Column) -> Column:
    """Pack bits into one integer key, sum(bit_i * 2^i)
    (algorithms.py:304-310). Used for bucket-level stats (A8)."""
    # fold over the reversed bits: acc*2 + bit == sum(bit_i * 2^i)
    return F.aggregate(
        F.reverse(bits_col),
        F.lit(0).cast("long"),
        lambda acc, bit: acc * F.lit(2).cast("long") + bit.cast("long"),
    )


def bucket_sql(vec_col: str, planes: list[list[float]]) -> str:
    """SQL text of the packed bucket key sum(bit_i * 2^i) of the column
    named `vec_col`: bucket_key(signature_bits(vec_col, planes)) for
    every vector whose plane projections are non-NULL, and NULL where
    they are NULL (a NULL vector or a NULL element), where bucket_key
    packs zeros. A NULL key fails every comparison, so such a row is
    never an LSH candidate — as in `candidates`, whose per-plane
    predicates are NULL for it."""
    vec_sql = sim.quoted_ident(vec_col)
    return " + ".join(
        f"CAST({_plane_dot_sql(vec_sql, p)} >= 0.0D AS BIGINT) * {1 << i}L"
        for i, p in enumerate(planes)
    )


def covering_column(planes: list[list[float]]) -> tuple[str, str]:
    """The index column of the LSH covering rows (knn.covering_rows):
    the packed bucket key of `embedding` under `planes`."""
    return "bucket", bucket_sql("embedding", planes)


def complement_key(qbits: list[int]) -> int:
    """Bucket key of the signature that disagrees with `qbits` on every
    plane. A row agrees with the query on at least one plane — the
    union-of-buckets candidate rule — exactly when its key is not this
    one."""
    return sum((1 - b) << i for i, b in enumerate(qbits))


def build_index(emb: DataFrame, planes: list[list[float]]) -> DataFrame:
    """I5: the index as a DataFrame (vec_id, label, table_idx, bit) —
    posexplode of the signature replaces the per-table dict inserts
    (algorithms.py:345-355)."""
    return emb.select(
        "vec_id",
        "label",
        F.posexplode(signature_bits("embedding", planes)).alias("table_idx", "bit"),
    )


def band_keys(vec_col: Column | str, planes: list[list[float]],
              band_bits: int = 2) -> Column:
    """Banded multi-bit bucket keys — the PAIR-blocking form of the index.

    The reference's single-bit tables (algorithms.py:345-355) are fine for
    one-query probes but useless for blocking pair joins: two random
    vectors agree on >=1 of 10 single bits with prob ~1-2^-10, i.e. the
    candidate set is the whole corpus. Grouping the same sign bits into
    bands of `band_bits` (minhash-style banding applied to hyperplane
    signs) makes a random pair collide on a given band with prob ~2^-b
    while similar pairs (per-bit agreement p = 1 - theta/pi) still collide
    on >=1 band with prob 1-(1-p^b)^L — the recall/selectivity knob for
    banded candidate joins. Returns an array of L = len(planes)//band_bits
    packed band keys.

    Pass the vector as a COLUMN NAME (str) to get the single-parse form:
    the Column-API form costs one py4j round trip per lambda/literal
    node — ~0.5 s of pure driver time per banded query at 32 planes x 64
    dims — where one F.expr string parses JVM-side in milliseconds. The
    SQL replicates the Column algebra node for node (same zip_with
    multiply in double, same 0.0D seed, same fold, same CASE/packing
    integer arithmetic), so keys are bit-identical; pinned by
    tests/test_round9_ops.py::test_band_keys_sql_path_bit_identical."""
    n_bands = len(planes) // band_bits
    if isinstance(vec_col, str):
        vec_sql = sim.quoted_ident(vec_col)
        keys_sql = []
        for j in range(n_bands):
            terms = []
            for i in range(j * band_bits, (j + 1) * band_bits):
                dot = _plane_dot_sql(vec_sql, planes[i])
                terms.append(
                    f"(CASE WHEN {dot} >= 0.0D THEN 1 ELSE 0 END) "
                    f"* {1 << (i - j * band_bits)}"
                )
            keys_sql.append(" + ".join(terms))
        return F.expr("array(" + ", ".join(keys_sql) + ")")
    keys = []
    for j in range(n_bands):
        key: Column | None = None
        for i in range(j * band_bits, (j + 1) * band_bits):
            bit = F.when(
                _plane_dot(vec_col, planes[i]) >= F.lit(0.0), F.lit(1)
            ).otherwise(F.lit(0))
            term = bit * F.lit(1 << (i - j * band_bits))
            key = term if key is None else (key + term)
        keys.append(key)
    return F.array(*keys)


def first_collision(bands_1: Column, bands_2: Column, n: int | None = None) -> Column:
    """0-based index of the FIRST position where two band-key arrays
    agree — the shuffle-free deduplication predicate for banded
    self-joins.

    A candidate pair colliding in c >= 1 bands appears c times in a
    banded equi-join (once per colliding band); the classic fix is
    `.distinct()`, which shuffles the ENTIRE candidate pair stream — at
    100 TB that shuffle, not the join, is the pipeline's biggest
    intermediate. When both join sides carry their full band-key array
    (a few small ints next to a 64-double embedding: free), the
    duplicate rows are instead dropped MAP-SIDE by keeping only the row
    whose band_idx equals the first agreeing index — exactly one
    representative per unique pair, no shuffle, and per-pair scoring
    (dot products, jaccard) runs once instead of c times. Output sets
    are provably identical to the distinct form, so DuckDB oracles keep
    their DISTINCT formulation unchanged.

    `n` (the static band count every caller knows) selects the scalar
    chained-CASE form: element_at comparisons stay inside whole-stage
    codegen, where the n=None fallback (zip_with + array_position) is an
    interpreted higher-order expression that allocates a boolean array
    per candidate row — measured ~2x on the banded pair streams at
    sf0.1. Both return -1 when no position agrees (array_position's
    0-means-absent, shifted), which can never equal a band_idx, so the
    predicate semantics are unchanged."""
    if n is not None:
        expr = F.lit(-1)
        for i in range(n - 1, -1, -1):
            expr = F.when(bands_1[i] == bands_2[i], F.lit(i)).otherwise(expr)
        return expr
    return F.array_position(
        F.zip_with(bands_1, bands_2, lambda x, y: x == y), F.lit(True)
    ) - F.lit(1)


def query_bits(qvec: list[float], planes: list[list[float]]) -> list[int]:
    """Query-side signature, computed driver-side with the same float64
    arithmetic the executors use."""
    q = np.asarray(qvec, dtype=np.float64)
    return [int(float(np.dot(q, np.asarray(p))) >= 0.0) for p in planes]


def candidates(emb: DataFrame, qvec: list[float], planes: list[list[float]]) -> DataFrame:
    """I6 candidate set: union over tables of the query's same-bit bucket
    == rows whose signature agrees with the query on ANY plane. Expressed
    as a single predicate over the signature column, so candidate pruning
    happens inside the scan projection — no join, no shuffle.

    Built as ONE parsed SQL OR-chain over _plane_dot_sql — node for node
    the Column form `dot >= 0.0` / `~(dot >= 0.0)` joined by `|`, so the
    predicate is the same expression tree — because the Column API pays
    one py4j round trip per node: ~0.44 s of driver time per search at
    10 planes x 64 dims. The probes select the same set from covering
    rows by their stored key (bucket_candidates)."""
    return emb.filter(F.expr(" OR ".join(_agreement_sql(qvec, planes))))


def bucket_candidates(rows: DataFrame, qvec: list[float], planes: list[list[float]]) -> DataFrame:
    """`candidates` over covering rows, which carry their packed
    `bucket` (covering_column): one integer predicate, every key but the
    query's complement, in place of the per-plane OR-chain."""
    return rows.filter(f"bucket <> {complement_key(query_bits(qvec, planes))}")


def _agreement_sql(qvec: list[float], planes: list[list[float]]) -> list[str]:
    """Per plane, the SQL predicate 'the row's sign bit equals the
    query's' — node for node `dot >= 0.0` / `~(dot >= 0.0)`."""
    vec_sql = sim.quoted_ident("embedding")
    terms = []
    for plane, bit in zip(planes, query_bits(qvec, planes)):
        side = f"({_plane_dot_sql(vec_sql, plane)} >= 0.0D)"
        terms.append(side if bit == 1 else f"(NOT {side})")
    return terms


def agreement_count(qvec: list[float], planes: list[list[float]]) -> Column:
    """Number of hyperplanes on which a row's signature agrees with the
    query's — the Hamming *similarity* of the two signatures. Used by the
    deterministic empty-candidate fallback."""
    return F.expr(
        "0" + "".join(
            f" + CASE WHEN {agree} THEN 1 ELSE 0 END"
            for agree in _agreement_sql(qvec, planes)
        )
    )


def nearest_buckets_topk(
    rows: DataFrame, qvec: list[float], planes: list[list[float]], k: int, metric: str,
) -> DataFrame:
    """Empty-candidate fallback over `rows` (which carry `embedding`):
    the nearest buckets by signature Hamming similarity (agreeing-plane
    count desc, vec_id asc), capped like a bucket sample would be, then
    the exact top-k."""
    cand = (
        rows.withColumn("_agree", agreement_count(qvec, planes))
        .orderBy(F.desc("_agree"), F.asc("vec_id"))
        .limit(max(4 * k, 32))
        .drop("_agree")
    )
    return top_k(score_all(cand, qvec, metric), k)


def probe(
    rows: DataFrame, qvec: list[float], planes: list[list[float]], k: int, metric: str,
) -> DataFrame:
    """The LSH search over `rows`, covering rows with their `bucket`:
    the candidates' exact top-k collected in one Spark job and returned
    as a local frame (knn.local_top_k). No candidate runs the fallback,
    a second job: the reference samples RANDOM buckets
    (algorithms.py:393-398), nearest_buckets_topk the nearest ones,
    deterministically. Shared by search and store.lsh_probe, which
    differ only in the rows they pass."""
    found = top_k(score_all(bucket_candidates(rows, qvec, planes), qvec, metric), k).collect()
    if not found:
        return nearest_buckets_topk(rows, qvec, planes, k, metric)
    return local_top_k(rows, found)


def search(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    k: int = 10,
    metric: str = "cosine",
    num_hashes: int = NUM_HASHES,
    seed: int = SEED,
    library: int | None = None,
) -> DataFrame:
    """I6: LSH probe + exact re-rank, same result contract as flat kNN:
    `probe` over the scope's resident copy (knn.resident). `library`
    scopes the probe to one library's rows (the reference keeps one
    LSHIndex per library, services/vector_service.py:66)."""
    validate_k(k)
    qvec = query_vector(spark, sf_dir, query_id)
    planes = hyperplanes(len(qvec), num_hashes, seed)
    return probe(resident(spark, sf_dir, library, covering_column(planes)), qvec, planes, k, metric)


def bucket_stats(emb: DataFrame, planes: list[list[float]]) -> DataFrame:
    """I12/A8: per-table bucket histogram (algorithms.py:420-440):
    bucket count, sizes — one groupBy over the index DataFrame."""
    idx = build_index(emb, planes)
    per_bucket = idx.groupBy("table_idx", "bit").agg(F.count("*").alias("bucket_size"))
    return per_bucket.groupBy("table_idx").agg(
        F.count("*").alias("n_buckets"),
        F.sum("bucket_size").alias("n_vectors"),
        F.max("bucket_size").alias("max_bucket"),
        F.min("bucket_size").alias("min_bucket"),
    )


def signatures(emb: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Per-vector packed bucket key — the inspectable index surface."""
    return emb.select(
        "vec_id",
        "label",
        bucket_key(signature_bits("embedding", planes)).alias("bucket"),
    )


def multiprobe_search(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    k: int = 10,
    metric: str = "cosine",
    band_bits: int | None = None,
) -> DataFrame:
    """LSH MULTI-PROBE search over the banded index (Lv et al.,
    VLDB'07): probe not just the query's own bucket per band but every
    bucket within Hamming distance 1 of its band key — the standard
    recall-vs-tables trade (multi-probe buys the recall extra hash
    tables would, without storing them; at 100 TB the index is the
    dominant storage bill, so probing wider beats building more).
    Candidates = rows sharing any band where
    bit_count(row_key XOR query_key) <= 1, evaluated INSIDE the scan
    projection as a zip_with/exists predicate over the row's band-key
    array against the query's literal keys — no join, no shuffle; then
    the exact re-rank with the same (score desc, vec_id asc) contract
    as every other probe. A 1-bit probe radius multiplies candidate
    mass by ~(1 + band_bits * p/(1-p)) per band; the oracle replays
    the identical XOR algebra."""
    from ..sources.tables import row_count

    validate_k(k)
    band_bits = auto_band_bits(row_count(sf_dir, "embeddings"), band_bits)
    qvec, _qlabel = query_vector_row(spark, sf_dir, query_id)
    planes = hyperplanes(len(qvec), N_SIGN_BANDS * band_bits, SEED)
    # query band keys, driver-side with the executors' float64 algebra
    qbits = query_bits(qvec, planes)
    qkeys = [
        sum(qbits[b * band_bits + i] << i for i in range(band_bits))
        for b in range(N_SIGN_BANDS)
    ]
    emb = load(spark, sf_dir, "embeddings")
    qk_lit = ", ".join(str(x) for x in qkeys)
    cand = emb.withColumn(
        "_bands", band_keys("embedding", planes, band_bits)
    ).filter(
        F.expr(
            f"exists(zip_with(_bands, array({qk_lit}), "
            f"(a, b) -> bit_count(a ^ b) <= 1), x -> x)"
        )
    ).drop("_bands")
    return top_k(score_all(cand, qvec, metric), k)
