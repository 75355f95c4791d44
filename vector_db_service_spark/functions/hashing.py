"""MinHash and SimHash column expressions for near-duplicate detection.

Standard constructions (Broder 1997 resemblance sketches; Charikar 2002
simhash), parameterized for exact cross-engine reproducibility:
- base string hash: md5-prefix int64 mod p (functions/text.py).
- minhash permutations: h_j(x) = (a_j * x + b_j) mod p with (a_j, b_j)
  drawn once from python random.Random(seed) and embedded as literals in
  both the Spark plan and the oracle SQL. a*x stays < 2^63 because both
  factors are < p = 2^31-1 (ANSI-mode safe).
- simhash: SIMHASH_BITS (28)-bit, bit_b = sign of sum over tokens of ±1
  by bit b of the token hash; bit extraction via floor(h / 2^b) % 2,
  which is exact in double for h < 2^31 and identical in DuckDB.

LSH banding note (the 100 TB path): minhash rows are split into bands —
near-dup candidates share at least one full band, so the pair join is an
equi-join on (band_idx, band_key), never a cross join. For simhash with
hamming radius r, splitting the fingerprint into r+1 blocks guarantees
(pigeonhole) every true pair shares a block — the blocked equi-join is
LOSSLESS, which is why the naive-quadratic oracle returns the identical
pair set.
"""

from __future__ import annotations

import random

from pyspark.sql import Column
from pyspark.sql import functions as F

from .text import MOD_P, token_hashes, tokens

NUM_MINHASH = 16
MINHASH_BANDS = 4  # 4 bands x 4 rows
# 28 bits (token hashes carry 31; bit extraction via floor(h/2^b)%2 stays
# exact in double): coarse 16-bit prints made near-everything a "near-dup"
# pair on similar corpora — 28 bits keeps the hamming<=3 pair set sparse
# and the 7-bit block buckets selective
SIMHASH_BITS = 28
SIMHASH_BLOCKS = 4  # lossless for hamming <= 3 (pigeonhole)
SEED = 42


def minhash_params(num: int = NUM_MINHASH, seed: int = SEED) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [(rng.randrange(1, MOD_P), rng.randrange(0, MOD_P)) for _ in range(num)]


def shingles_sql(text_sql: str = "text", n: int = 3) -> str:
    """Word n-gram shingles as a Spark-SQL string; short docs fall back
    to the whole text as a single shingle (mirrored in the oracle). The
    token array is let-bound: element_at inside the gram lambda must not
    re-split the string per element (that would be O(len^2) per row).
    String form for the same reason as simhash_sql: the Column form's
    tree costs py4j build time plus repeated Catalyst analysis at every
    downstream lazy localCheckpoint."""
    toks = f"split(lower({text_sql}), ' ')"
    gram = (
        "concat_ws(' ', "
        + ", ".join(f"element_at(t, i + {j})" for j in range(n))
        + ")"
    )
    grams = f"transform(sequence(1, size(t) - {n - 1}), i -> {gram})"
    body = (
        f"CASE WHEN size(t) >= {n} THEN {grams} "
        f"ELSE array(lower({text_sql})) END"
    )
    return f"element_at(transform(array({toks}), t -> {body}), 1)"


def shingles(text_sql: str = "text", n: int = 3) -> Column:
    return F.expr(shingles_sql(text_sql, n))


def _token_hash_sql(tok_sql: str) -> str:
    # = text.token_hash: 32-bit md5-prefix parsed as int64, mod p
    return (
        f"CAST(conv(substring(md5({tok_sql}), 1, 8), 16, 10) AS BIGINT) % {MOD_P}"
    )


def shingle_hashes_sql(text_sql: str = "text", n: int = 3) -> str:
    return f"transform({shingles_sql(text_sql, n)}, s -> {_token_hash_sql('s')})"


def shingle_hashes(text_sql: str = "text", n: int = 3) -> Column:
    return F.expr(shingle_hashes_sql(text_sql, n))


def _perm(a: int, b: int):
    # factory (not default-arg closure): PySpark counts lambda params via
    # inspect.signature, so extra default args break higher-order fns
    return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MOD_P)


def let(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate `value` ONCE and bind
    it as a lambda variable in `body`. Spark's codegen subexpression
    elimination skips trees containing LambdaFunctions, so a sub-expression
    referenced N times is otherwise recomputed N times — for the md5
    shingle pipeline that turns into a 256x per-row blowup."""
    return F.element_at(F.transform(F.array(value), body), 1)


def minhash_signature_sql(text_sql: str = "text",
                          params: list[tuple[int, int]] | None = None) -> str:
    """Array of NUM_MINHASH minima over the permuted shingle hashes as a
    Spark-SQL string. The shingle-hash array is computed once
    (let-bound); each permutation is then a cheap pass over the
    materialized longs."""
    params = params or minhash_params()
    mins = ", ".join(
        f"array_min(transform(hs, h -> ({a} * h + {b}) % {MOD_P}))"
        for a, b in params
    )
    return (
        f"element_at(transform(array({shingle_hashes_sql(text_sql)}), "
        f"hs -> array({mins})), 1)"
    )


def minhash_signature(text_sql: str = "text",
                      params: list[tuple[int, int]] | None = None) -> Column:
    return F.expr(minhash_signature_sql(text_sql, params))


def minhash_bands_sql(text_sql: str = "text", bands: int = MINHASH_BANDS,
                      rows: int = NUM_MINHASH // MINHASH_BANDS) -> str:
    """Band keys: concat of each band's minima — the LSH bucket keys.
    The signature is let-bound so it is computed once, not once per
    band-key element."""
    keys = ", ".join(
        "concat_ws('-', "
        + ", ".join(
            f"CAST(element_at(s, {b * rows + r + 1}) AS STRING)"
            for r in range(rows)
        )
        + ")"
        for b in range(bands)
    )
    return (
        f"element_at(transform(array({minhash_signature_sql(text_sql)}), "
        f"s -> array({keys})), 1)"
    )


def minhash_bands(text_sql: str = "text", bands: int = MINHASH_BANDS,
                  rows: int = NUM_MINHASH // MINHASH_BANDS) -> Column:
    return F.expr(minhash_bands_sql(text_sql, bands, rows))


def _bit(h: Column, b: int) -> Column:
    # floor(h / 2^b) % 2 — exact in double for h < 2^31, identical in DuckDB
    return F.floor(h / F.lit(float(1 << b))).cast("long") % F.lit(2)


def simhash_sql(text_sql: str = "text", bits: int = SIMHASH_BITS) -> str:
    """SIMHASH_BITS (28)-bit simhash over token hashes as a single long,
    built as ONE Spark-SQL string (same technique as ann._pq_codes:
    the nested-Column form costs thousands of py4j round trips — measured
    ~1.2 s of DRIVER time per query just to build the tree; the string
    form is microseconds + one parse). Semantically identical to the
    previous Column construction, pinned by tests against the oracle.

    NOTE: an array<long>-accumulator single-pass variant was measured
    3x SLOWER at RUN time than `bits` scalar aggregates — per-token array
    allocation in transform/zip_with dominates; scalar folds stay
    allocation-free."""
    from .text import MOD_P as _P

    th = (
        f"transform(split(lower({text_sql}), ' '), "
        f"t -> CAST(conv(substring(md5(t), 1, 8), 16, 10) AS BIGINT) % {_P})"
    )
    # Single-aggregate array accumulator: ONE pass over the token hashes
    # carrying all `bits` signed counters. The per-bit-scalar-aggregate
    # form has a 28x bigger expression tree, and Catalyst re-ANALYZES the
    # embedding plan at every downstream lazy localCheckpoint — measured
    # ~2 s of driver time per dedup query vs ~0.1 s for this form, with
    # equal executor-side runtime on the current corpus. Bit extraction
    # is floor(h / 2^b) % 2 — exact in double for h < 2^31 (= _bit).
    pows_d = "array(" + ", ".join(repr(float(1 << b)) for b in range(bits)) + ")"
    pows_l = "array(" + ", ".join(f"CAST({1 << b} AS BIGINT)" for b in range(bits)) + ")"
    sums = (
        f"aggregate(hs, array_repeat(CAST(0 AS BIGINT), {bits}), "
        f"(acc, h) -> zip_with(acc, {pows_d}, "
        f"(a, p) -> a + (CAST(floor(h / p) AS BIGINT) % 2) "
        f"* CAST(2 AS BIGINT) - CAST(1 AS BIGINT)))"
    )
    pack = (
        f"aggregate(zip_with({sums}, {pows_l}, "
        f"(s, p) -> CASE WHEN s >= 0 THEN p ELSE CAST(0 AS BIGINT) END), "
        f"CAST(0 AS BIGINT), (a, x) -> a + x)"
    )
    # let-bind: the aggregate passes over ONE materialized md5-hash array
    return f"element_at(transform(array({th}), hs -> {pack}), 1)"


def simhash(text_sql: str = "text", bits: int = SIMHASH_BITS) -> Column:
    """Column form of simhash_sql — callers pass the SQL string of the
    text column (e.g. "text"), not a Column."""
    return F.expr(simhash_sql(text_sql, bits))


def simhash_blocks(sh: Column, blocks: int = SIMHASH_BLOCKS,
                   bits: int = SIMHASH_BITS) -> Column:
    """Split the fingerprint into `blocks` equal bit-blocks (the lossless
    hamming-LSH bucket keys)."""
    width = bits // blocks
    return F.array(
        *[
            (F.floor(sh / F.lit(float(1 << (i * width)))).cast("long") % F.lit(1 << width))
            for i in range(blocks)
        ]
    )


def hamming(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))
