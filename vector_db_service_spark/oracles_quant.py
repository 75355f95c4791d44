"""DuckDB replay of the canonical quantizer fits — EXACT oracles for the
Lloyd-trained ANN family (ann.py: _pq_train, _coarse_centers, pq_topk,
ivfpq_topk, product_quantize, ivf_kmeans_recall_sweep).

The fits are deterministic and cross-engine reproducible by
construction (ann._lloyd_canonical):

  * the training sample is the md5-ordered bounded subset both engines
    can name in SQL (ORDER BY md5(vec_id::VARCHAR), vec_id LIMIT cap);
  * init centers are the first k rows of that order (no RNG);
  * assignment distances are rounded to 6dp before the argmin, update
    means are rounded to 6dp — the ONLY accumulation-order hazard
    (the per-cluster mean) is absorbed by the round, and the raw
    squared-L2 sums agree bit-exactly because numpy (axis length < 128),
    Spark's aggregate() fold, and DuckDB's list_sum all reduce the
    element axis sequentially over identical doubles.

So the oracle does not need pinned literals: it re-runs the fit as an
unrolled CTE chain (one assignment + one update CTE per Lloyd
iteration, MATERIALIZED so DuckDB cannot exponentially re-inline the
chain) and then replays encode / routing / ADC / re-rank with the same
6dp-round + lowest-id tiebreak contracts as the Spark operators.

Reference parity anchor: vector_db/algorithms.py builds its indexes
with the same train-once/serve-many split; this module is the
correctness gate for our trained-quantizer analogs.
"""

from __future__ import annotations

from . import oracles

# Spark: F.md5(vec_id.cast("string")); init/sample order is (md5 hex, vec_id)
_H = "md5(CAST(vec_id AS VARCHAR))"
_BUCKET = f"CAST(('0x' || substr({_H}, 1, 8)) AS BIGINT) % 100"


def _l2sq(a: str, b: str) -> str:
    """Squared L2 between two list exprs — same sequential fold as
    Spark's aggregate(zip_with(...)) and numpy's small-axis sum."""
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        f"* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )


def _fit_ctes(
    prefix: str,
    k_eff: int,
    iters: int,
    n_sub: int,
    sub_dim: int,
    train_pct: int | None,
    train_cap: int,
    source: str = "embeddings",
) -> str:
    """CTE chain replaying _lloyd_canonical over the md5-ordered sample.

    Emits {prefix}cb (sub_id, cid, c) — for the coarse quantizer n_sub
    is 1 and sub_id is constant 0. Assumes the bucket sample is
    non-empty and >= k_eff rows (true at every test scale; the Spark
    side's degenerate-corpus fallbacks are exercised by unit tests, not
    by the oracle corpus). `source` names the table/CTE the fit trains
    on (the IVF refit oracle trains on the post-mutation corpus CTE)."""
    p = prefix
    where = f"WHERE {_BUCKET} < {train_pct}" if train_pct is not None else ""
    # the COARSE quantizer (n_sub == 1) trains on the whole vector: take
    # it directly and drive the mean-recompute index range off len(v),
    # so the chain is dimension-agnostic — a sub_dim literal that
    # disagreed with the corpus dim silently truncated the fit (r15
    # advisor: refit chains hardcoded 64)
    whole = n_sub == 1
    slice_v = (
        "embedding"
        if whole
        else (
            f"list_slice(embedding, subs.sub_id * {sub_dim} + 1, "
            f"(subs.sub_id + 1) * {sub_dim})"
        )
    )
    di_range = (
        "range(1, len(v) + 1)" if whole else f"range(1, {sub_dim} + 1)"
    )
    ctes = [
        f"""{p}samp AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY {_H}, vec_id) AS rid, embedding
  FROM (SELECT vec_id, embedding FROM {source} {where}
        ORDER BY {_H}, vec_id LIMIT {train_cap})
)""",
        f"""{p}sub AS MATERIALIZED (
  SELECT rid, subs.sub_id,
         list_transform({slice_v}, x -> CAST(x AS DOUBLE)) AS v
  FROM {p}samp, (SELECT unnest(range({n_sub})) AS sub_id) subs
)""",
        f"""{p}c0 AS MATERIALIZED (
  SELECT sub_id, rid - 1 AS cid, list_transform(v, x -> round(x, 6)) AS c
  FROM {p}sub WHERE rid <= {k_eff}
)""",
    ]
    for t in range(1, iters + 1):
        d2 = f"round({_l2sq('s.v', 'c.c')}, 6)"
        ctes.append(
            f"""{p}a{t} AS MATERIALIZED (
  SELECT rid, sub_id, v, cid FROM (
    SELECT s.rid, s.sub_id, s.v, c.cid,
           row_number() OVER (PARTITION BY s.rid, s.sub_id
                              ORDER BY {d2}, c.cid) AS rn
    FROM {p}sub s JOIN {p}c{t - 1} c ON c.sub_id = s.sub_id
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""{p}c{t} AS MATERIALIZED (
  SELECT prev.sub_id, prev.cid, coalesce(nxt.c, prev.c) AS c
  FROM {p}c{t - 1} prev LEFT JOIN (
    SELECT sub_id, cid, list(mv ORDER BY di) AS c FROM (
      SELECT sub_id, cid, di, round(avg(val), 6) AS mv
      FROM (SELECT sub_id, cid, unnest(v) AS val,
                   unnest({di_range}) AS di FROM {p}a{t})
      GROUP BY sub_id, cid, di
    ) GROUP BY sub_id, cid
  ) nxt ON nxt.sub_id = prev.sub_id AND nxt.cid = prev.cid
)"""
        )
    ctes.append(f"{p}cb AS (SELECT sub_id, cid, c FROM {p}c{iters})")
    return ",\n".join(ctes)


def pq_fit_ctes(
    n_subvectors: int = 8,
    codebook_k: int = 16,
    train_pct: int = 25,
    iters: int = 8,
    sub_dim: int = 8,
    train_cap: int = 100_000,
) -> str:
    return _fit_ctes("pq", codebook_k, iters, n_subvectors, sub_dim,
                     train_pct, train_cap)


def coarse_fit_ctes(
    n_lists: int = 7,
    iters: int = 8,
    dim: int = 0,  # unused: the n_sub==1 chain is dimension-agnostic
    train_cap: int = 100_000,
) -> str:
    # prefix "c" -> final CTE name "ccb"; sub_dim is irrelevant at
    # n_sub == 1 (_fit_ctes takes the whole vector and drives the mean
    # index range off len(v))
    return _fit_ctes("c", n_lists, iters, 1, 0, None, train_cap)


def _pq_encode_cte(sub_dim: int = 8, source: str = "embeddings",
                   name: str = "enc") -> str:
    """{name} (vec_id, label, sub_id, cid, d2): nearest-codeword per
    subspace over the FULL corpus — UNROUNDED d2 argmin with lowest-cid
    tiebreak, matching ann._pq_codes' array_position-of-min.
    `source` lets the residual-IVFPQ oracle encode the resid CTE."""
    sl = (
        f"list_slice(e.embedding, b.sub_id * {sub_dim} + 1, "
        f"(b.sub_id + 1) * {sub_dim})"
    )
    d2 = _l2sq(sl, "b.c")
    return f"""{name} AS MATERIALIZED (
  SELECT vec_id, label, sub_id, cid, d2 FROM (
    SELECT e.vec_id, e.label, b.sub_id, b.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id, b.sub_id
                              ORDER BY {d2}, b.cid) AS rn
    FROM {source} e CROSS JOIN pqcb b
  ) WHERE rn = 1
)"""


def _coarse_assign_cte() -> str:
    """asg (vec_id, label, embedding, list_id): nearest coarse centroid,
    UNROUNDED d2 + lowest-id tiebreak (= ann._nearest)."""
    d2 = _l2sq("e.embedding", "b.c")
    return f"""asg AS MATERIALIZED (
  SELECT vec_id, label, embedding, CAST(cid AS INTEGER) AS list_id FROM (
    SELECT e.vec_id, e.label, e.embedding, b.cid,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, b.cid) AS rn
    FROM embeddings e CROSS JOIN ccb b
  ) WHERE rn = 1
)"""


def _sub_codes(n_sub: int) -> str:
    return ",\n         ".join(
        f"CAST(MAX(CASE WHEN sub_id = {s} THEN cid END) AS INTEGER) AS code{s}"
        for s in range(n_sub)
    )


def product_quantize_sql(n_subvectors: int = 8, sub_dim: int = 8) -> str:
    errs = ",\n         ".join(
        f"MAX(CASE WHEN sub_id = {s} THEN d2 END) AS err{s}"
        for s in range(n_subvectors)
    )
    err_sum = " + ".join(f"err{s}" for s in range(n_subvectors))
    return f"""
WITH {pq_fit_ctes(n_subvectors=n_subvectors, sub_dim=sub_dim)},
{_pq_encode_cte(sub_dim)},
piv AS (
  SELECT vec_id, label,
         {_sub_codes(n_subvectors)},
         {errs}
  FROM enc GROUP BY vec_id, label
)
SELECT vec_id, label, {', '.join(f'code{s}' for s in range(n_subvectors))},
       round(sqrt({err_sum}), 6) AS recon_l2
FROM piv
"""


def _lut_cte(query_id: int, sub_dim: int) -> str:
    sl = (
        f"list_slice(q.embedding, b.sub_id * {sub_dim} + 1, "
        f"(b.sub_id + 1) * {sub_dim})"
    )
    return f"""qv AS (SELECT embedding FROM embeddings WHERE vec_id = {query_id}),
lut AS MATERIALIZED (
  SELECT b.sub_id, b.cid, {_l2sq(sl, 'b.c')} AS qd2
  FROM pqcb b, qv q
)"""


def _adc_terms(n_sub: int) -> tuple[str, str]:
    ts = ",\n           ".join(
        f"MAX(CASE WHEN e.sub_id = {s} THEN l.qd2 END) AS t{s}"
        for s in range(n_sub)
    )
    # left-to-right s order = Spark's ' + '.join(adc_terms)
    return ts, " + ".join(f"t{s}" for s in range(n_sub))


def pq_topk_sql(
    query_id: int = 0,
    k: int = 10,
    n_subvectors: int = 8,
    sub_dim: int = 8,
    rerank: int = 200,
) -> str:
    ts, tsum = _adc_terms(n_subvectors)
    dist = oracles.euclidean_distance_sql("e.embedding", "q.embedding")
    return f"""
WITH {pq_fit_ctes(n_subvectors=n_subvectors, sub_dim=sub_dim)},
{_pq_encode_cte(sub_dim)},
{_lut_cte(query_id, sub_dim)},
adcp AS MATERIALIZED (
  SELECT e.vec_id, {ts}
  FROM enc e JOIN lut l ON l.sub_id = e.sub_id AND l.cid = e.cid
  GROUP BY e.vec_id
),
cand AS (
  SELECT vec_id, CAST(round(({tsum}) * 1e6) AS BIGINT) AS adc_us FROM adcp
  ORDER BY adc_us, vec_id LIMIT {rerank}
)
SELECT e.vec_id, e.label, c.adc_us,
       CAST(round(({dist}) * 1e6) AS BIGINT) AS dist_us
FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qv q
ORDER BY dist_us, e.vec_id LIMIT {k}
"""


def ivfpq_topk_sql(
    query_id: int = 0,
    k: int = 10,
    n_lists: int = 7,
    nprobe: int = 4,
    n_subvectors: int = 8,
    sub_dim: int = 8,
    rerank: int = 200,
) -> str:
    ts, tsum = _adc_terms(n_subvectors)
    dist = oracles.euclidean_distance_sql("e.embedding", "q.embedding")
    route = f"CAST(round({_l2sq('q.embedding', 'b.c')} * 1e6) AS BIGINT)"
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
{pq_fit_ctes(n_subvectors=n_subvectors, sub_dim=sub_dim)},
{_coarse_assign_cte()},
{_pq_encode_cte(sub_dim)},
{_lut_cte(query_id, sub_dim)},
probed AS (
  SELECT CAST(b.cid AS INTEGER) AS list_id FROM ccb b, qv q
  ORDER BY {route}, b.cid LIMIT {nprobe}
),
adcp AS MATERIALIZED (
  SELECT e.vec_id, a.list_id, {ts}
  FROM enc e
  JOIN (SELECT vec_id, list_id FROM asg JOIN probed USING (list_id)) a
    ON a.vec_id = e.vec_id
  JOIN lut l ON l.sub_id = e.sub_id AND l.cid = e.cid
  GROUP BY e.vec_id, a.list_id
),
cand AS (
  SELECT vec_id, list_id, CAST(round(({tsum}) * 1e6) AS BIGINT) AS adc_us
  FROM adcp
  ORDER BY adc_us, vec_id LIMIT {rerank}
)
SELECT e.vec_id, e.label, c.list_id, c.adc_us,
       CAST(round(({dist}) * 1e6) AS BIGINT) AS dist_us
FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qv q
ORDER BY dist_us, e.vec_id LIMIT {k}
"""


def ivfpq_residual_sql(
    query_id: int = 0,
    k: int = 10,
    n_lists: int = 7,
    nprobe: int = 4,
    n_subvectors: int = 8,
    sub_dim: int = 8,
    codebook_k: int = 16,
    train_pct: int = 25,
    rerank: int = 200,
) -> str:
    """Oracle for ann.ivfpq_residual_topk: the coarse chain and
    assignment, the residual projection, the PQ fit chain trained on
    the resid CTE, the residual encode, PER-LIST query-residual lookup
    tables, and the identical ADC + exact re-rank algebra as
    ivfpq_topk_sql."""
    ts, tsum = _adc_terms(n_subvectors)
    dist = oracles.euclidean_distance_sql("e.embedding", "q.embedding")
    route = f"CAST(round({_l2sq('q.embedding', 'b.c')} * 1e6) AS BIGINT)"
    qsl = (
        f"list_slice(r.v, b.sub_id * {sub_dim} + 1, "
        f"(b.sub_id + 1) * {sub_dim})"
    )
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
{_coarse_assign_cte()},
resid AS MATERIALIZED (
  SELECT a.vec_id, a.label, a.list_id,
         list_transform(list_zip(a.embedding, b.c),
                        p -> CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))
           AS embedding
  FROM asg a JOIN ccb b ON b.cid = a.list_id
),
{_fit_ctes("pq", codebook_k, 8, n_subvectors, sub_dim, train_pct,
           100_000, source="resid")},
{_pq_encode_cte(sub_dim, source="resid", name="renc")},
qv AS (SELECT embedding FROM embeddings WHERE vec_id = {query_id}),
probed AS (
  SELECT CAST(b.cid AS INTEGER) AS list_id FROM ccb b, qv q
  ORDER BY {route}, b.cid LIMIT {nprobe}
),
qres AS MATERIALIZED (
  SELECT p.list_id,
         list_transform(list_zip(q.embedding, b.c),
                        p2 -> CAST(p2[1] AS DOUBLE) - CAST(p2[2] AS DOUBLE))
           AS v
  FROM probed p JOIN ccb b ON b.cid = p.list_id, qv q
),
rlut AS MATERIALIZED (
  SELECT r.list_id, b.sub_id, b.cid, {_l2sq(qsl, 'b.c')} AS qd2
  FROM pqcb b, qres r
),
adcp AS MATERIALIZED (
  SELECT e.vec_id, a.list_id, {ts}
  FROM renc e
  JOIN (SELECT vec_id, list_id FROM asg JOIN probed USING (list_id)) a
    ON a.vec_id = e.vec_id
  JOIN rlut l ON l.list_id = a.list_id AND l.sub_id = e.sub_id
             AND l.cid = e.cid
  GROUP BY e.vec_id, a.list_id
),
cand AS (
  SELECT vec_id, list_id, CAST(round(({tsum}) * 1e6) AS BIGINT) AS adc_us
  FROM adcp
  ORDER BY adc_us, vec_id LIMIT {rerank}
)
SELECT e.vec_id, e.label, c.list_id, c.adc_us,
       CAST(round(({dist}) * 1e6) AS BIGINT) AS dist_us
FROM cand c JOIN embeddings e ON e.vec_id = c.vec_id, qv q
ORDER BY dist_us, e.vec_id LIMIT {k}
"""


def ivfpq_rerank_sweep_sql(
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9),
    k: int = 10,
    budgets: tuple = (25, 50, 100, 200),
    n_lists: int = 7,
    nprobe: int = 4,
    n_subvectors: int = 8,
    sub_dim: int = 8,
) -> str:
    """Oracle for ann.ivfpq_rerank_sweep: per-query ADC ranking over the
    routed lists, per-budget prefix cuts, exact re-rank, overlap against
    each query's full-scan exact top-k under the identical euclidean
    micro-unit order — summed over the query set (mean recall in micro
    units; r15 verdict #4 moved the curve from one query to a set)."""
    ts, tsum = _adc_terms(n_subvectors)
    dist = oracles.euclidean_distance_sql("e.embedding", "q.qv")
    route = f"CAST(round({_l2sq('q.qv', 'b.c')} * 1e6) AS BIGINT)"
    sl_q = (
        f"list_slice(q.qv, b.sub_id * {sub_dim} + 1, "
        f"(b.sub_id + 1) * {sub_dim})"
    )
    ids = ", ".join(str(i) for i in query_ids)
    nq = len(query_ids)
    blist = ", ".join(str(b) for b in budgets)
    maxb = max(budgets)
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
{pq_fit_ctes(n_subvectors=n_subvectors, sub_dim=sub_dim)},
{_coarse_assign_cte()},
{_pq_encode_cte(sub_dim)},
qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id IN ({ids})),
lut AS MATERIALIZED (
  SELECT q.query_id, b.sub_id, b.cid, {_l2sq(sl_q, 'b.c')} AS qd2
  FROM pqcb b, qs q
),
probed AS MATERIALIZED (
  SELECT query_id, list_id FROM (
    SELECT q.query_id, CAST(b.cid AS INTEGER) AS list_id,
           row_number() OVER (PARTITION BY q.query_id
                              ORDER BY {route}, b.cid) AS rn
    FROM ccb b, qs q
  ) WHERE rn <= {nprobe}
),
adcp AS MATERIALIZED (
  SELECT r.query_id, e.vec_id, {ts}
  FROM enc e
  JOIN (SELECT p.query_id, a.vec_id
        FROM asg a JOIN probed p ON p.list_id = a.list_id) r
    ON r.vec_id = e.vec_id
  JOIN lut l ON l.query_id = r.query_id
            AND l.sub_id = e.sub_id AND l.cid = e.cid
  GROUP BY r.query_id, e.vec_id
),
cand AS MATERIALIZED (
  SELECT query_id, vec_id,
         row_number() OVER (PARTITION BY query_id
           ORDER BY CAST(round(({tsum}) * 1e6) AS BIGINT), vec_id)
           AS adc_rank
  FROM adcp
  QUALIFY adc_rank <= {maxb}
),
rer AS MATERIALIZED (
  SELECT c.query_id, c.vec_id, c.adc_rank,
         CAST(round(({dist}) * 1e6) AS BIGINT) AS dist_us
  FROM cand c
  JOIN embeddings e ON e.vec_id = c.vec_id
  JOIN qs q ON q.query_id = c.query_id
),
exact AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY CAST(round(({dist}) * 1e6) AS BIGINT), e.vec_id) AS rn
    FROM embeddings e, qs q
  ) WHERE rn <= {k}
),
budgets AS (SELECT CAST(unnest([{blist}]) AS INTEGER) AS budget),
got AS (
  SELECT budget, query_id, vec_id FROM (
    SELECT bu.budget, r.query_id, r.vec_id,
           row_number() OVER (PARTITION BY bu.budget, r.query_id
                              ORDER BY r.dist_us, r.vec_id) AS rn
    FROM budgets bu JOIN rer r ON r.adc_rank <= bu.budget
  ) WHERE rn <= {k}
),
ov AS (
  SELECT g.budget, CAST(count(*) AS BIGINT) AS hits
  FROM got g SEMI JOIN exact e
    ON e.query_id = g.query_id AND e.vec_id = g.vec_id
  GROUP BY g.budget
)
SELECT bu.budget, CAST(coalesce(ov.hits, 0) AS BIGINT) AS hits,
       CAST(coalesce(ov.hits, 0) * 1000000 // {k * nq} AS BIGINT)
         AS recall_micro
FROM budgets bu LEFT JOIN ov USING (budget)
"""


def recall_sweep_sql(
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
    n_lists: int = 7,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
) -> str:
    cos_pair = oracles.cosine_sql("a.embedding", "q.qv")
    cos_cent = oracles.cosine_sql("b.c", "q.qv")
    ids = ", ".join(str(i) for i in query_ids)
    probes = ", ".join(str(p) for p in nprobes)
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
{_coarse_assign_cte()},
qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id IN ({ids})),
pairs AS MATERIALIZED (
  SELECT q.query_id, a.vec_id, a.list_id, round({cos_pair}, 6) AS score
  FROM asg a, qs q
),
exact AS (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id) AS rn
    FROM pairs) WHERE rn <= {k}
),
cq AS MATERIALIZED (
  SELECT q.query_id, CAST(b.cid AS INTEGER) AS list_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY round({cos_cent}, 6) DESC, b.cid) AS c_rnk
  FROM ccb b, qs q
),
probes AS (SELECT CAST(unnest([{probes}]) AS INTEGER) AS nprobe),
sweep AS (
  SELECT nprobe, query_id, vec_id FROM (
    SELECT p.nprobe, pr.query_id, pr.vec_id,
           row_number() OVER (PARTITION BY p.nprobe, pr.query_id
                              ORDER BY pr.score DESC, pr.vec_id) AS rn
    FROM pairs pr
    JOIN cq ON cq.query_id = pr.query_id AND cq.list_id = pr.list_id
    CROSS JOIN probes p
    WHERE cq.c_rnk <= p.nprobe
  ) WHERE rn <= {k}
),
ov AS (
  SELECT s.nprobe, s.query_id, count(*) AS n_overlap
  FROM exact e JOIN sweep s ON s.query_id = e.query_id AND s.vec_id = e.vec_id
  GROUP BY s.nprobe, s.query_id
)
SELECT q.query_id, p.nprobe,
       CAST(coalesce(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
       round(coalesce(ov.n_overlap, 0) / {float(k)!r}, 4) AS recall
FROM (SELECT query_id FROM qs) q
CROSS JOIN probes p
LEFT JOIN ov ON ov.nprobe = p.nprobe AND ov.query_id = q.query_id
ORDER BY p.nprobe, q.query_id
"""


def ivf_multi_query_sql(
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9),
    k: int = 10,
    n_lists: int = 7,
    nprobe: int = 4,
) -> str:
    """Oracle for ann.ivf_multi_query_topk: canonical-Lloyd fit replay,
    the same argmin assignment, rounded centroid ranking per query,
    scoring restricted to the probed lists, (score desc, vec_id)
    per-query top-k."""
    cos_pair = oracles.cosine_sql("a.embedding", "q.qv")
    cos_cent = oracles.cosine_sql("b.c", "q.qv")
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
{_coarse_assign_cte()},
qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id IN ({ids})),
cq AS MATERIALIZED (
  SELECT q.query_id, CAST(b.cid AS INTEGER) AS list_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY round({cos_cent}, 6) DESC, b.cid) AS c_rnk
  FROM ccb b, qs q
),
routed AS MATERIALIZED (
  SELECT q.query_id, a.vec_id, a.label, round({cos_pair}, 6) AS score
  FROM asg a
  JOIN cq ON cq.list_id = a.list_id AND cq.c_rnk <= {nprobe}
  JOIN qs q ON q.query_id = cq.query_id
)
SELECT query_id, CAST(rn AS INTEGER) AS rnk, vec_id, label, score FROM (
  SELECT query_id, vec_id, label, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rn
  FROM routed
) WHERE rn <= {k}
"""


def refit_recall_gain_sql(
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4, 5, 6, 7, 8, 9),
    k: int = 10,
    n_lists: int = 7,
    nprobe: int = 4,
    lloyd_iters: int = 8,
    train_cap: int = 100_000,
) -> str:
    """Oracle for ann.refit_recall_gain: the pre-corpus canonical fit
    (ccb), the x4-drifted post corpus, the post-corpus refit chain
    (rcb via _fit_ctes(source='post')), both unrounded-argmin
    assignments, one scored pass, and per-query routed top-k overlap
    against the exact top-k — all replayed with zero pinned state. The
    fit chains are dimension-AGNOSTIC (r15 advisor: a hardcoded
    sub_dim=64 silently truncated the fit on any other corpus —
    _fit_ctes now takes the whole vector at n_sub == 1)."""
    cos_pair = oracles.cosine_sql("p.embedding", "q.qv")
    cos_pre = oracles.cosine_sql("b.c", "q.qv")
    ids = ", ".join(str(i) for i in query_ids)
    refit = _fit_ctes("r", n_lists, lloyd_iters, 1, 0, None, train_cap,
                      source="post")

    def asg(cb: str, name: str, col: str) -> str:
        d2 = _l2sq("e.embedding", "b.c")
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, CAST(cid AS INTEGER) AS {col} FROM (
    SELECT e.vec_id, b.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2}, b.cid) AS rn
    FROM post e CROSS JOIN {cb} b
  ) WHERE rn = 1
)"""

    def cq(cb: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT q.query_id, CAST(b.cid AS INTEGER) AS list_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY round({cos_pre}, 6) DESC, b.cid) AS c_rnk
  FROM {cb} b, qs q
)"""

    def routed(cqn: str, col: str, name: str) -> str:
        return f"""{name} AS (
  SELECT query_id, vec_id FROM (
    SELECT pr.query_id, pr.vec_id,
           row_number() OVER (PARTITION BY pr.query_id
                              ORDER BY pr.score DESC, pr.vec_id) AS rn
    FROM pairs pr
    JOIN {cqn} c ON c.query_id = pr.query_id AND c.list_id = pr.{col}
    WHERE c.c_rnk <= {nprobe}
  ) WHERE rn <= {k}
)"""

    def ov(branch: str, name: str) -> str:
        return f"""{name} AS (
  SELECT s.query_id, count(*) AS hits
  FROM exact e JOIN {branch} s
    ON s.query_id = e.query_id AND s.vec_id = e.vec_id
  GROUP BY s.query_id
)"""

    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
post AS MATERIALIZED (
  SELECT vec_id, label,
         CASE WHEN label IN (1, 2) AND vec_id % 7 = 3
              THEN list_transform(embedding,
                                  x -> CAST(CAST(x AS DOUBLE) * 4.0 AS FLOAT))
              ELSE embedding END AS embedding
  FROM embeddings
),
{refit},
{asg("ccb", "pasg", "list_pre")},
{asg("rcb", "rasg", "list_post")},
qs AS (SELECT vec_id AS query_id, embedding AS qv FROM post
       WHERE vec_id IN ({ids})),
pairs AS MATERIALIZED (
  SELECT q.query_id, p.vec_id, pa.list_pre, ra.list_post,
         round({cos_pair}, 6) AS score
  FROM post p
  JOIN pasg pa USING (vec_id)
  JOIN rasg ra USING (vec_id)
  CROSS JOIN qs q
),
exact AS MATERIALIZED (
  SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY score DESC, vec_id) AS rn
    FROM pairs) WHERE rn <= {k}
),
{cq("ccb", "cq_pre")},
{cq("rcb", "cq_post")},
{routed("cq_pre", "list_pre", "b_pre")},
{routed("cq_post", "list_post", "b_post")},
{ov("b_pre", "ov_pre")},
{ov("b_post", "ov_post")}
SELECT 'pre_refit' AS method, q.query_id,
       CAST(coalesce(o.hits, 0) AS BIGINT) AS hits,
       CAST(coalesce(o.hits, 0) * 1000000 // {k} AS BIGINT) AS recall_micro
FROM (SELECT query_id FROM qs) q LEFT JOIN ov_pre o USING (query_id)
UNION ALL
SELECT 'post_refit', q.query_id,
       CAST(coalesce(o.hits, 0) AS BIGINT),
       CAST(coalesce(o.hits, 0) * 1000000 // {k} AS BIGINT)
FROM (SELECT query_id FROM qs) q LEFT JOIN ov_post o USING (query_id)
"""


def ivf_filtered_sql(
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
    n_lists: int = 7,
    nprobe: int = 4,
    lang: str = "en",
) -> str:
    """Oracle for ann.ivf_filtered_topk: the multi-query serving oracle
    with the metadata predicate applied before scoring."""
    cos_pair = oracles.cosine_sql("a.embedding", "q.qv")
    cos_cent = oracles.cosine_sql("b.c", "q.qv")
    ids = ", ".join(str(i) for i in query_ids)
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
{_coarse_assign_cte()},
fasg AS MATERIALIZED (
  SELECT * FROM asg
  WHERE vec_id IN (SELECT doc_id FROM documents WHERE lang = '{lang}')
),
qs AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings
       WHERE vec_id IN ({ids})),
cq AS MATERIALIZED (
  SELECT q.query_id, CAST(b.cid AS INTEGER) AS list_id,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY round({cos_cent}, 6) DESC, b.cid) AS c_rnk
  FROM ccb b, qs q
),
routed AS MATERIALIZED (
  SELECT q.query_id, a.vec_id, a.label, round({cos_pair}, 6) AS score
  FROM fasg a
  JOIN cq ON cq.list_id = a.list_id AND cq.c_rnk <= {nprobe}
  JOIN qs q ON q.query_id = cq.query_id
)
SELECT query_id, CAST(rn AS INTEGER) AS rnk, vec_id, label, score FROM (
  SELECT query_id, vec_id, label, score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, vec_id) AS rn
  FROM routed
) WHERE rn <= {k}
"""


def semantic_dedup_keep_sql(n_lists: int = 7, threshold: float = 0.35) -> str:
    """Oracle for ann.semantic_dedup_keep: replay the canonical coarse
    fit, the unrounded-argmin assignment, the (round(d2,6), vec_id)
    representative order, and the cosine-to-representative verdict."""
    cos = oracles.cosine_sql("a.embedding", "r.rep_emb")
    d2 = _l2sq("e.embedding", "b.c")
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
asg AS MATERIALIZED (
  SELECT vec_id, embedding, CAST(cid AS INTEGER) AS list_id,
         round(d2x, 6) AS d2r
  FROM (
    SELECT e.vec_id, e.embedding, b.cid, {d2} AS d2x,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY {d2}, b.cid) AS rn
    FROM embeddings e CROSS JOIN ccb b
  ) WHERE rn = 1
),
rep AS (
  SELECT list_id, vec_id AS rep_id, embedding AS rep_emb FROM (
    SELECT list_id, vec_id, embedding,
           row_number() OVER (PARTITION BY list_id ORDER BY d2r, vec_id) AS rn
    FROM asg
  ) WHERE rn = 1
)
SELECT a.vec_id, a.list_id, r.rep_id,
       round({cos}, 6) AS cos_to_rep,
       (a.vec_id = r.rep_id OR round({cos}, 6) < {threshold!r}) AS keep
FROM asg a JOIN rep r ON a.list_id = r.list_id
"""


def cluster_silhouette_sql(n_lists: int = 7) -> str:
    """Oracle for ann.cluster_silhouette: canonical-Lloyd fit replay,
    per-vector nearest / second-nearest center distances via the same
    (d2, cid) total order, same 1 - sqrt(a)/sqrt(b) micro-unit algebra,
    same integer-mean aggregation."""
    d2 = _l2sq("e.embedding", "b.c")
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
d AS (
  SELECT e.vec_id, CAST(b.cid AS INTEGER) AS cid, {d2} AS d2
  FROM embeddings e CROSS JOIN ccb b
),
r AS (
  SELECT vec_id, cid, d2,
         row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
  FROM d
),
per AS (
  SELECT a.vec_id, a.cid AS list_id,
         CASE WHEN b.d2 > 0
              THEN CAST(round((1.0 - sqrt(a.d2) / sqrt(b.d2)) * 1e6) AS BIGINT)
              ELSE 0 END AS s_us
  FROM r a JOIN r b ON b.vec_id = a.vec_id AND a.rn = 1 AND b.rn = 2
)
SELECT list_id, count(*) AS n_vectors,
       CAST(round(avg(s_us)) AS BIGINT) AS avg_sil_us
FROM per GROUP BY list_id ORDER BY list_id
"""


def norm_outliers_sql(sigmas: float = 3.0) -> str:
    """Oracle for ann.norm_outliers: same integer-micro norms, same
    term-for-term mean/sd/bounds arithmetic, same verdict counts."""
    norm_us = (
        "CAST(round(sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * 1e6) AS BIGINT)"
    )
    mean = "(CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    sd = (
        "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE))"
    )
    return f"""
WITH normed AS (
  SELECT vec_id, label, {norm_us} AS norm_us FROM embeddings
),
st AS (
  SELECT count(*) AS n, sum(norm_us) AS s1, sum(norm_us * norm_us) AS s2
  FROM normed
),
b AS (
  SELECT CAST(round({mean} - {sigmas!r} * {sd}) AS BIGINT) AS lo_us,
         CAST(round({mean} + {sigmas!r} * {sd}) AS BIGINT) AS hi_us
  FROM st
)
SELECT label, count(*) AS n_vectors,
       CAST(sum(CASE WHEN norm_us < lo_us THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
       CAST(sum(CASE WHEN norm_us > hi_us THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
       lo_us, hi_us
FROM normed, b
GROUP BY label, lo_us, hi_us ORDER BY label
"""


def spectrum_audit_sql() -> str:
    """Replay of ann.spectrum_audit: same integer-micro quantization,
    same upper-triangle second-moment sums (BIGINT), same
    HUGEINT trace-of-M-squared with doubled off-diagonals, same final
    double ratios of exact integers."""
    return """
WITH x AS (
  SELECT list_transform(embedding,
                        v -> CAST(round(CAST(v AS DOUBLE) * 1e6, 0) AS BIGINT))
           AS xs
  FROM embeddings
),
expanded AS (
  SELECT ta.a AS a, tb.b AS b, xs[ta.a + 1] * xs[tb.b + 1] AS p
  FROM x,
       unnest(generate_series(0, len(xs) - 1)) AS ta(a),
       unnest(generate_series(ta.a, len(xs) - 1)) AS tb(b)
),
m AS (
  SELECT a, b, CAST(sum(p) AS BIGINT) AS m FROM expanded GROUP BY a, b
),
traces AS (
  SELECT CAST(sum(CASE WHEN a = b THEN m END) AS BIGINT) AS tr_m,
         sum(CASE WHEN a = b THEN CAST(m AS HUGEINT) * m
                  ELSE 2 * CAST(m AS HUGEINT) * m END) AS tr_m2
  FROM m
),
top AS (
  SELECT a AS top_dim, m AS top_m FROM m WHERE a = b
  ORDER BY m DESC, a ASC LIMIT 1
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings)
SELECT n_vectors, tr_m,
       CAST(round(CAST(tr_m AS DOUBLE) * CAST(tr_m AS DOUBLE)
                  / CAST(tr_m2 AS DOUBLE) * 1e6, 0) AS BIGINT) AS eff_rank_ppm,
       top_dim,
       CAST(round(CAST(top_m AS DOUBLE) / CAST(tr_m AS DOUBLE) * 1e6, 0)
            AS BIGINT) AS top_dim_share_ppm
FROM n, traces, top
"""


def nprobe_autotune_sql(
    query_ids: tuple[int, ...] = (0, 1, 2, 3, 4),
    k: int = 10,
    n_lists: int = 7,
    nprobes: tuple[int, ...] = (1, 2, 4, 8),
    target_recall_micro: int = 800_000,
) -> str:
    """Oracle for ann.ivf_nprobe_autotune: the recall-sweep oracle as a
    subquery, hits summed per probe point, mean recall in micro units,
    and the min-qualifying-nprobe choice (falling back to the largest
    point when nothing qualifies)."""
    nq = len(query_ids)
    return f"""
WITH curve AS MATERIALIZED (
  SELECT nprobe, n_overlap
  FROM ({recall_sweep_sql(query_ids=query_ids, k=k, n_lists=n_lists,
                          nprobes=nprobes)})
),
est AS (
  SELECT nprobe, CAST(sum(n_overlap) AS BIGINT) AS hits,
         CAST(sum(n_overlap) * 1000000 // {k * nq} AS BIGINT)
           AS recall_micro
  FROM curve GROUP BY nprobe
),
ch AS (
  SELECT coalesce(
           min(nprobe) FILTER (WHERE recall_micro >= {target_recall_micro}),
           max(nprobe)) AS c
  FROM est
)
SELECT e.nprobe, e.hits, e.recall_micro,
       e.recall_micro >= {target_recall_micro} AS meets_target,
       e.nprobe = ch.c AS chosen
FROM est e, ch
"""


def ivf_balance_audit_sql(n_lists: int = 7) -> str:
    """Oracle for ann.ivf_balance_audit: canonical fit replay, argmin
    assignment, per-list counts with EMPTY lists kept (range join),
    integer share/imbalance micro units."""
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
{_coarse_assign_cte()},
counts AS (
  SELECT list_id, CAST(count(*) AS BIGINT) AS n FROM asg GROUP BY list_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM embeddings),
lists AS (SELECT CAST(unnest(range({n_lists})) AS INTEGER) AS list_id)
SELECT l.list_id,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_vectors,
       CAST(coalesce(c.n, 0) * 1000000 // greatest(t.t, 1) AS BIGINT)
         AS share_micro,
       CAST(coalesce(c.n, 0) * {n_lists} * 1000000 // greatest(t.t, 1)
            AS BIGINT) AS imbalance_micro
FROM lists l LEFT JOIN counts c USING (list_id), tot t
"""


def ivf_list_split_sql(
    n_lists: int = 7, lloyd_iters: int = 8, train_cap: int = 100_000
) -> str:
    """Oracle for ann.ivf_list_split: coarse fit + assignment replay,
    argmax-list scalar subquery ((count desc, list_id) order), the
    two-means split chain trained on the list's md5-ordered sample
    (_fit_ctes over the `big` CTE), unrounded-argmin sub-assignment,
    and per-stage integer share stats."""
    split_fit = _fit_ctes(
        "s", 2, lloyd_iters, 1, 0, None, train_cap, source="big"
    )
    d2 = _l2sq("e.embedding", "b.c")
    return f"""
WITH {coarse_fit_ctes(n_lists=n_lists)},
{_coarse_assign_cte()},
cnt AS (SELECT list_id, count(*) AS n FROM asg GROUP BY list_id),
tgt AS (SELECT list_id FROM cnt ORDER BY n DESC, list_id LIMIT 1),
big AS MATERIALIZED (
  SELECT vec_id, embedding FROM asg SEMI JOIN tgt USING (list_id)
),
{split_fit},
sub AS MATERIALIZED (
  SELECT vec_id, CAST(cid AS INTEGER) AS sub_id FROM (
    SELECT e.vec_id, b.cid,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2}, b.cid) AS rn
    FROM big e CROSS JOIN scb b
  ) WHERE rn = 1
),
post AS (
  SELECT a.vec_id,
         CASE WHEN s.vec_id IS NULL THEN a.list_id
              WHEN s.sub_id = 0 THEN a.list_id
              ELSE {n_lists} END AS list_id
  FROM asg a LEFT JOIN sub s ON s.vec_id = a.vec_id
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS t FROM embeddings),
stages AS (
  SELECT 'pre_split' AS stage, list_id, CAST(count(*) AS BIGINT) AS n
  FROM asg GROUP BY list_id
  UNION ALL
  SELECT 'post_split', list_id, CAST(count(*) AS BIGINT)
  FROM post GROUP BY list_id
)
SELECT stage, CAST(list_id AS INTEGER) AS list_id, n AS n_vectors,
       CAST(n * 1000000 // greatest(t.t, 1) AS BIGINT) AS share_micro
FROM stages, tot t
"""
