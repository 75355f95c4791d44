"""Second-stage retrieval operators the reference lacks but every
production vector-search service grows: hybrid lexical+vector fusion and
result diversification.

- bm25_scores / hybrid_rrf_search: Okapi BM25 keyword scoring as pure
  column expressions (tf from the token array, df/avgdl from one corpus
  aggregate broadcast back), fused with the cosine ranking by Reciprocal
  Rank Fusion (Cormack et al. 2009: score = sum 1/(60+rank)). Both
  ranked lists round scores to 6dp BEFORE ranking with a doc_id
  tiebreak, so DuckDB reproduces the ranks — and therefore the fusion —
  exactly.
- mmr_rerank: Maximal Marginal Relevance diversification (Carbonell &
  Goldstein 1998) over a bounded top-`pool` candidate set. The greedy
  selection runs driver-side over the collected pool — bounded by a
  TakeOrderedAndProject exactly like the quantizer training samples
  (ann.py), partitioning-independent — with all similarity inputs
  rounded to 6dp so the unrolled-SQL oracle replays the identical
  argmax chain.

At 100 TB: BM25 stats are one corpus aggregate (broadcast), per-doc
scoring stays in whole-stage codegen; the RRF join touches only the two
k-bounded rank lists; MMR touches only the k-bounded pool.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import oracles
from ..functions import similarity as sim
from ..sources.tables import load
from .knn import query_vector_row

BM25_K1 = 1.2
BM25_B = 0.75
RRF_C = 60
QUERY_TOKENS = ("vector", "query", "scan")


def bm25_scores(docs: DataFrame, query_tokens=QUERY_TOKENS) -> DataFrame:
    """Per-document Okapi BM25 for a fixed token query. tf comes from the
    token array, df/N/avgdl from ONE corpus aggregate joined back as a
    broadcast scalar — no per-term shuffle."""
    toks = F.split(F.lower(F.col("text")), " ")

    def _tf(term: str):
        # closure, NOT a default-arg lambda: F.filter treats a second
        # lambda parameter as the array INDEX argument
        return F.size(F.filter(toks, lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf_{i}") for i, t in enumerate(query_tokens)]
    per_doc = docs.select("doc_id", F.size(toks).alias("dl"), *tf_cols)
    stats = per_doc.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(query_tokens))
        ],
    )
    scored = per_doc.crossJoin(F.broadcast(stats))
    terms = []
    for i in range(len(query_tokens)):
        tf = F.col(f"tf_{i}").cast("double")
        idf = F.log(
            (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
            + 1.0
        )
        denom = tf + F.lit(BM25_K1) * (
            F.lit(1.0 - BM25_B)
            + F.lit(BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
        )
        terms.append(idf * tf * F.lit(BM25_K1 + 1.0) / denom)
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return scored.select("doc_id", F.round(total, 6).alias("bm25"))


def bm25_sql(query_tokens=QUERY_TOKENS, source: str = "documents") -> str:
    """DuckDB mirror of bm25_scores, term for term."""
    tok = "string_split(lower(text), ' ')"
    tf_exprs = ", ".join(
        f"len(list_filter({tok}, x -> x = '{t}')) AS tf_{i}"
        for i, t in enumerate(query_tokens)
    )
    df_exprs = ", ".join(
        f"CAST(sum(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(query_tokens))
    )
    terms = " + ".join(
        f"ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1.0)"
        f" * CAST(tf_{i} AS DOUBLE) * {BM25_K1 + 1.0!r}"
        f" / (CAST(tf_{i} AS DOUBLE) + {BM25_K1!r} * ({1.0 - BM25_B!r}"
        f" + {BM25_B!r} * CAST(dl AS DOUBLE) / avgdl))"
        for i in range(len(query_tokens))
    )
    return f"""
per_doc AS (
  SELECT doc_id, len({tok}) AS dl, {tf_exprs} FROM {source}
),
stats AS (
  SELECT count(*) AS n_docs, avg(dl) AS avgdl, {df_exprs} FROM per_doc
),
bm AS (
  SELECT doc_id, round({terms}, 6) AS bm25 FROM per_doc, stats
)"""


def hybrid_rrf_search(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    list_k: int = 20,
    k: int = 10,
) -> DataFrame:
    """Hybrid retrieval: cosine top-`list_k` and BM25 top-`list_k`,
    fused with Reciprocal Rank Fusion, final top-`k`. Both rank lists
    rank on 6dp-rounded scores with a doc_id tiebreak (the repo-wide
    cross-engine rank contract)."""
    qvec, _ = query_vector_row(spark, sf_dir, query_id)
    emb = load(spark, sf_dir, "embeddings")
    vec_ranked = (
        emb.select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                sim.score("cosine", "embedding", sim.vector_sql(qvec)), 6
            ).alias("cos"),
        )
        .withColumn(
            "vec_rank",
            F.row_number().over(Window.orderBy(F.desc("cos"), F.asc("doc_id"))),
        )
        .filter(F.col("vec_rank") <= list_k)
    )
    kw_ranked = (
        bm25_scores(load(spark, sf_dir, "documents"))
        .withColumn(
            "kw_rank",
            F.row_number().over(Window.orderBy(F.desc("bm25"), F.asc("doc_id"))),
        )
        .filter(F.col("kw_rank") <= list_k)
    )
    fused = vec_ranked.join(kw_ranked, "doc_id", "full_outer").select(
        "doc_id",
        F.col("vec_rank").cast("long").alias("vec_rank"),
        F.col("kw_rank").cast("long").alias("kw_rank"),
        F.round(
            F.coalesce(1.0 / (F.lit(RRF_C) + F.col("vec_rank")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_C) + F.col("kw_rank")), F.lit(0.0)),
            6,
        ).alias("rrf_score"),
    )
    return (
        fused.orderBy(F.desc("rrf_score"), F.asc("doc_id"))
        .limit(k)
        .select("doc_id", "vec_rank", "kw_rank", "rrf_score")
    )


def hybrid_rrf_sql(query_id: int = 0, list_k: int = 20, k: int = 10) -> str:
    cos = oracles.cosine_sql("e.embedding", "q.qv")
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
vec_ranked AS (
  SELECT doc_id, vec_rank FROM (
    SELECT e.vec_id AS doc_id, round({cos}, 6) AS cos,
           row_number() OVER (ORDER BY round({cos}, 6) DESC, e.vec_id) AS vec_rank
    FROM embeddings e, q
  ) WHERE vec_rank <= {list_k}
),
{bm25_sql()},
kw_ranked AS (
  SELECT doc_id, kw_rank FROM (
    SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS kw_rank
    FROM bm
  ) WHERE kw_rank <= {list_k}
)
SELECT coalesce(v.doc_id, w.doc_id) AS doc_id,
       CAST(v.vec_rank AS BIGINT) AS vec_rank,
       CAST(w.kw_rank AS BIGINT) AS kw_rank,
       round(coalesce(1.0 / ({RRF_C} + v.vec_rank), 0.0)
             + coalesce(1.0 / ({RRF_C} + w.kw_rank), 0.0), 6) AS rrf_score
FROM vec_ranked v FULL OUTER JOIN kw_ranked w USING (doc_id)
ORDER BY rrf_score DESC, doc_id
LIMIT {k}
"""


MMR_LAMBDA = 0.7


def _round6(x: float) -> float:
    """HALF_UP at 6dp — matches Spark/DuckDB round(), not banker's."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _cos_seq(a, b) -> float:
    """Sequential left-to-right cosine in float64 — the same fold order
    as Spark's F.aggregate and DuckDB's list_sum, so 6dp rounding agrees
    bit-for-bit."""
    dot = 0.0
    na = 0.0
    nb = 0.0
    for x, y in zip(a, b):
        dot += float(x) * float(y)
    for x in a:
        na += float(x) * float(x)
    for y in b:
        nb += float(y) * float(y)
    if na == 0.0 or nb == 0.0:
        return 0.0
    return dot / (math.sqrt(na) * math.sqrt(nb))


def mmr_rerank(
    spark: SparkSession,
    sf_dir: str,
    *,
    query_id: int = 0,
    pool: int = 20,
    k: int = 5,
    lam: float = MMR_LAMBDA,
) -> DataFrame:
    """MMR diversified top-k: pool = cosine top-`pool` (ranked on 6dp-
    rounded scores, vec_id tiebreak), then greedy selection of `k` where
    step score = lam*rel - (1-lam)*max_sim_to_selected. The pool is
    collected driver-side — a k-bounded TakeOrderedAndProject, the same
    documented bounded-collect contract as the quantizer fits — and all
    similarity inputs are 6dp-rounded so the unrolled SQL oracle replays
    the identical argmax chain."""
    qvec, _ = query_vector_row(spark, sf_dir, query_id)
    emb = load(spark, sf_dir, "embeddings")
    cand = (
        emb.select(
            "vec_id",
            F.round(
                sim.score("cosine", "embedding", sim.vector_sql(qvec)), 6
            ).alias("rel"),
            "embedding",
        )
        .orderBy(F.desc("rel"), F.asc("vec_id"))
        .limit(pool)
        .collect()
    )
    vecs = {r["vec_id"]: list(r["embedding"]) for r in cand}
    rel = {r["vec_id"]: float(r["rel"]) for r in cand}
    pair = {
        (a, b): _round6(_cos_seq(vecs[a], vecs[b]))
        for a in vecs
        for b in vecs
        if a != b
    }
    selected: list[tuple[int, float, float]] = []  # (vec_id, rel, mmr)
    chosen: set[int] = set()
    for _ in range(min(k, len(cand))):
        best = None
        for r in cand:
            v = r["vec_id"]
            if v in chosen:
                continue
            max_sim = max((pair[(v, s)] for s, _, _ in selected), default=0.0)
            score = lam * rel[v] - (1.0 - lam) * max_sim
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, score)
        _, v, score = best
        chosen.add(v)
        selected.append((v, rel[v], _round6(score)))
    return spark.createDataFrame(
        [(i + 1, v, r, m) for i, (v, r, m) in enumerate(selected)],
        "sel_order int, vec_id long, rel double, mmr_score double",
    )


def mmr_sql(query_id: int = 0, pool: int = 20, k: int = 5,
            lam: float = MMR_LAMBDA) -> str:
    """Unrolled greedy MMR: stage i selects the argmax of
    lam*rel - (1-lam)*max(sim to stages 1..i-1) among the remaining
    pool, with the identical 6dp-rounded inputs and vec_id tiebreak."""
    cos = oracles.cosine_sql("e.embedding", "q.qv")
    pcos = oracles.cosine_sql("a.embedding", "b.embedding")
    stages = []
    prev: list[str] = []
    for i in range(1, k + 1):
        not_in = (
            f"AND c.vec_id NOT IN ({', '.join(f'(SELECT vec_id FROM s{j})' for j in prev)})"
            if prev
            else ""
        )
        max_sim = (
            "coalesce((SELECT max(p.sim) FROM pair p WHERE p.va = c.vec_id AND p.vb IN ("
            + ", ".join(f"(SELECT vec_id FROM s{j})" for j in prev)
            + ")), 0.0)"
            if prev
            else "0.0"
        )
        stages.append(
            # MATERIALIZED: each stage references all prior stages, so
            # DuckDB's default CTE inlining re-evaluates the whole greedy
            # prefix per stage — exponential replay (~12 s at sf0.01).
            # Materializing makes the oracle linear in k.
            f"s{i} AS MATERIALIZED (\n"
            f"  SELECT {i} AS sel_order, c.vec_id, c.rel,\n"
            f"         round({lam!r} * c.rel - {1.0 - lam!r} * {max_sim}, 6) AS mmr_score\n"
            f"  FROM cand c WHERE 1=1 {not_in}\n"
            f"  ORDER BY {lam!r} * c.rel - {1.0 - lam!r} * {max_sim} DESC, c.vec_id\n"
            f"  LIMIT 1\n)"
        )
        prev.append(str(i))
    union = "\nUNION ALL\n".join(f"SELECT * FROM s{j}" for j in prev)
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
cand AS MATERIALIZED (
  SELECT vec_id, rel, embedding FROM (
    SELECT e.vec_id, round({cos}, 6) AS rel, e.embedding
    FROM embeddings e, q
    ORDER BY round({cos}, 6) DESC, e.vec_id
    LIMIT {pool}
  )
),
pair AS MATERIALIZED (
  SELECT a.vec_id AS va, b.vec_id AS vb, round({pcos}, 6) AS sim
  FROM cand a JOIN cand b ON a.vec_id != b.vec_id
),
{chr(10).join(s + ',' for s in stages[:-1])}
{stages[-1]}
SELECT CAST(sel_order AS INTEGER) AS sel_order, CAST(vec_id AS BIGINT) AS vec_id,
       rel, mmr_score
FROM ({union})
"""
