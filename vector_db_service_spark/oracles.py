"""DuckDB oracle-SQL fragment builders.

Each fragment mirrors one column expression from functions/similarity.py
term for term, in double precision, so the driver's side-by-side
value-hash comparison (CORRECTNESS_r{N}.json) is stable. Scores are
rounded to 6 decimals in BOTH engines before ranking; double accumulation
noise (~1e-15) never reaches the rounding boundary.

`a` / `b` are SQL expressions evaluating to FLOAT[] lists.
"""

from __future__ import annotations


def dot_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
    )


def norm_sql(a: str) -> str:
    return f"sqrt(list_sum(list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"


def cosine_sql(a: str, b: str) -> str:
    # zero-vector guard -> 0.0, mirroring similarity.py:47-52
    return (
        f"CASE WHEN {norm_sql(a)} = 0 OR {norm_sql(b)} = 0 THEN 0.0 "
        f"ELSE {dot_sql(a, b)} / ({norm_sql(a)} * {norm_sql(b)}) END"
    )


def euclidean_distance_sql(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)) "
        f"* (CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE)))))"
    )


def euclidean_similarity_sql(a: str, b: str) -> str:
    return f"1.0 / (1.0 + {euclidean_distance_sql(a, b)})"


def manhattan_distance_sql(a: str, b: str) -> str:
    return (
        f"list_sum(list_transform(list_zip({a}, {b}), "
        f"p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE))))"
    )


def manhattan_similarity_sql(a: str, b: str) -> str:
    return f"1.0 / (1.0 + {manhattan_distance_sql(a, b)})"


METRIC_SQL = {
    "cosine": cosine_sql,
    "dot_product": dot_sql,
    "euclidean": euclidean_similarity_sql,
    "manhattan": manhattan_similarity_sql,
}

def cosine_distance_sql(a: str, b: str) -> str:
    return f"1.0 - ({cosine_sql(a, b)})"


DISTANCE_SQL = {
    "euclidean": euclidean_distance_sql,
    "manhattan": manhattan_distance_sql,
    "cosine": cosine_distance_sql,
}


def knn_sql(query_id: int = 0, k: int = 10, metric: str = "cosine",
            library: int | None = None, hydrate: bool = False) -> str:
    """Oracle for operators/knn.py::knn — same scoring, same rounding,
    same (score desc, vec_id asc) total order."""
    score = METRIC_SQL[metric]("e.embedding", "q.qv")
    lib_filter = f"AND e.label = {library}" if library is not None else ""
    base = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
scored AS (
  SELECT e.vec_id, e.label, round({score}, 6) AS score
  FROM embeddings e, q
  WHERE 1=1 {lib_filter}
),
topk AS (
  SELECT vec_id, label, score FROM scored
  QUALIFY row_number() OVER (ORDER BY score DESC, vec_id) <= {k}
)
"""
    if not hydrate:
        return base + "SELECT vec_id, label, score FROM topk"
    return base + (
        "SELECT t.vec_id, t.label, t.score, d.text, d.lang, d.source\n"
        "FROM topk t JOIN documents d ON d.doc_id = t.vec_id"
    )


def _plane_lit(plane: list[float]) -> str:
    """DOUBLE[] literal — repr() round-trips each float64 exactly, so
    DuckDB parses the same IEEE value Spark gets via F.lit."""
    return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"


def _bit_sql(vec_expr: str, plane: list[float]) -> str:
    return f"CASE WHEN {dot_sql(vec_expr, _plane_lit(plane))} >= 0 THEN 1 ELSE 0 END"


def band_key_sql(vec_expr: str, planes: list[list[float]], j: int,
                 band_bits: int = 2) -> str:
    """Packed key of band j — mirrors operators/lsh.py::band_keys."""
    return " + ".join(
        f"{_bit_sql(vec_expr, planes[i])} * {1 << (i - j * band_bits)}"
        for i in range(j * band_bits, (j + 1) * band_bits)
    )


def banded_cte_sql(planes: list[list[float]], band_bits: int = 2,
                   source: str = "embeddings") -> str:
    """(label, vec_id, embedding, band_idx, band_key) rows — the SQL
    mirror of the posexplode(band_keys(...)) candidate index. MATERIALIZED
    callers must wrap this (DuckDB inlines CTEs per reference; a twice-
    referenced bit-computation would be evaluated twice)."""
    n_bands = len(planes) // band_bits
    return "\nUNION ALL\n".join(
        f"SELECT label, vec_id, embedding, {j} AS band_idx, "
        f"{band_key_sql('embedding', planes, j, band_bits)} AS band_key "
        f"FROM {source}"
        for j in range(n_bands)
    )


def lsh_signatures_sql(planes: list[list[float]]) -> str:
    """Packed bucket key per vector — sum(bit_i * 2^i), mirroring
    operators/lsh.py::signatures."""
    terms = " + ".join(
        f"CAST({_bit_sql('embedding', p)} AS BIGINT) * {1 << i}"
        for i, p in enumerate(planes)
    )
    return f"SELECT vec_id, label, {terms} AS bucket FROM embeddings"


def lsh_bucket_stats_sql(planes: list[list[float]]) -> str:
    """Per-table bucket histogram, mirroring operators/lsh.py::bucket_stats."""
    unions = "\nUNION ALL\n".join(
        f"SELECT {i} AS table_idx, {_bit_sql('embedding', p)} AS bit FROM embeddings"
        for i, p in enumerate(planes)
    )
    return f"""
WITH bits AS ({unions}),
per_bucket AS (
  SELECT table_idx, bit, count(*) AS bucket_size FROM bits GROUP BY table_idx, bit
)
SELECT table_idx, count(*) AS n_buckets, CAST(sum(bucket_size) AS BIGINT) AS n_vectors,
       max(bucket_size) AS max_bucket, min(bucket_size) AS min_bucket
FROM per_bucket GROUP BY table_idx
"""


def lsh_search_sql(planes: list[list[float]], query_id: int = 0, k: int = 10,
                   metric: str = "cosine", library: int | None = None) -> str:
    """LSH probe + exact re-rank, mirroring operators/lsh.py::search:
    candidate iff the signature agrees with the query's on ANY plane.
    The deterministic empty-candidate fallback is mirrored too: if no
    row agrees on any plane, the pool becomes the rows with the highest
    signature-agreement count (all zero in that case, so effectively
    vec_id order) capped at max(4k, 32) — exactly lsh.search's branch."""
    agree_terms = " OR ".join(
        f"({_bit_sql('e.embedding', p)} = {_bit_sql('q.qv', p)})" for p in planes
    )
    agree_count = " + ".join(
        f"CASE WHEN {_bit_sql('e.embedding', p)} = {_bit_sql('q.qv', p)}"
        " THEN 1 ELSE 0 END"
        for p in planes
    )
    score = METRIC_SQL[metric]("e.embedding", "q.qv")
    lib_filter = f"AND e.label = {library}" if library is not None else ""
    lib_filter_bare = f"WHERE e.label = {library}" if library is not None else ""
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
cand AS (
  SELECT e.vec_id, e.label, round({score}, 6) AS score
  FROM embeddings e, q
  WHERE ({agree_terms}) {lib_filter}
),
fallback AS (
  SELECT e.vec_id, e.label, round({score}, 6) AS score
  FROM embeddings e, q {lib_filter_bare}
  ORDER BY ({agree_count}) DESC, e.vec_id ASC LIMIT {max(4 * k, 32)}
),
pool AS (
  SELECT * FROM cand
  UNION ALL
  SELECT * FROM fallback WHERE (SELECT count(*) FROM cand) = 0
)
SELECT vec_id, label, score FROM pool
QUALIFY row_number() OVER (ORDER BY score DESC, vec_id) <= {k}
"""


def grid_cells_sql(cell_size: float = 0.1) -> str:
    """Cell key per vector, mirroring operators/grid.py::build_index."""
    return f"""
WITH ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings
),
b AS (
  SELECT i, min(x) AS mn,
         CASE WHEN max(x) - min(x) = 0 THEN 1 ELSE max(x) - min(x) END AS rng
  FROM ex GROUP BY i
),
cells AS (
  SELECT e.vec_id, e.label, e.i,
         CAST(floor(((e.x - b.mn) / b.rng) / {cell_size!r}) AS BIGINT) AS c
  FROM ex e JOIN b USING (i)
)
SELECT vec_id, label, string_agg(c::VARCHAR, '_' ORDER BY i) AS cell_key
FROM cells GROUP BY vec_id, label
"""


def grid_cell_stats_sql(cell_size: float = 0.1) -> str:
    return f"""
WITH keys AS ({grid_cells_sql(cell_size)}),
per_cell AS (SELECT cell_key, count(*) AS cell_n FROM keys GROUP BY cell_key)
SELECT count(*) AS non_empty_cells, round(avg(cell_n), 4) AS avg_cell_size,
       max(cell_n) AS max_cell_size, CAST(sum(cell_n) AS BIGINT) AS vector_count
FROM per_cell
"""


def grid_search_sql(query_id: int = 0, k: int = 10, metric: str = "euclidean",
                    cell_size: float = 0.1, max_radius: int = 3,
                    library: int | None = None) -> str:
    """Grid expanding-radius probe + exact re-rank, mirroring
    operators/grid.py::search (same stopping-radius rule). With `library`
    set, index AND normalization bounds cover only that library; the
    query cell is computed from the query's own vector under those
    bounds (the query need not belong to the library).

    Both reachability branches of grid.r_needed_sql are mirrored, selected
    DYNAMICALLY on the data's dimension (count of qcells rows): dim <= 4
    is the reference's full-hypercube enumeration (r = Chebyshev
    max|delta|, every cell reachable); dim > 4 is the Manhattan ball
    (only cells differing in exactly one dimension reachable) — so the
    oracle can't silently diverge from the operator on low-dim data.

    The deterministic empty-candidate fallback is mirrored too: when no
    cell is reachable (out-of-library query in a sparse region), the
    candidate pool becomes the Chebyshev-nearest rows (maxdiff asc,
    vec_id asc) capped at max(4k, 32) — exactly grid.search's branch."""
    score = METRIC_SQL[metric]("e.embedding", "q.qv")
    lib_filter = f"WHERE label = {library}" if library is not None else ""
    return f"""
WITH ex AS (
  SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
         CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings {lib_filter}
),
b AS (
  SELECT i, min(x) AS mn,
         CASE WHEN max(x) - min(x) = 0 THEN 1 ELSE max(x) - min(x) END AS rng
  FROM ex GROUP BY i
),
cells AS (
  SELECT e.vec_id, e.label, e.i,
         CAST(floor(((e.x - b.mn) / b.rng) / {cell_size!r}) AS BIGINT) AS c
  FROM ex e JOIN b USING (i)
),
qex AS (
  SELECT generate_subscripts(embedding, 1) AS i, CAST(unnest(embedding) AS DOUBLE) AS x
  FROM embeddings WHERE vec_id = {query_id}
),
qcells AS (
  SELECT q.i, CAST(floor(((q.x - b.mn) / b.rng) / {cell_size!r}) AS BIGINT) AS c
  FROM qex q JOIN b USING (i)
),
diffs AS (
  SELECT c.vec_id, c.label,
         sum(CASE WHEN c.c != q.c THEN 1 ELSE 0 END) AS ndiff,
         max(abs(c.c - q.c)) AS maxdiff
  FROM cells c JOIN qcells q USING (i)
  GROUP BY c.vec_id, c.label
),
rneed AS (
  SELECT vec_id, label,
         CASE WHEN (SELECT count(*) FROM qcells) <= 4 THEN maxdiff
              WHEN ndiff <= 1 THEN maxdiff
              ELSE NULL END AS r_needed
  FROM diffs
),
reachable AS (SELECT * FROM rneed
              WHERE r_needed IS NOT NULL AND r_needed <= {max_radius}),
rcount AS (SELECT r_needed, count(*) AS n FROM reachable GROUP BY r_needed),
cum AS (
  SELECT r_needed, sum(n) OVER (ORDER BY r_needed
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n
  FROM rcount
),
stop AS (
  SELECT coalesce(min(CASE WHEN cum_n >= {2 * k} THEN r_needed END), {max_radius}) AS stop_r
  FROM cum
),
cand AS (
  SELECT r.vec_id, r.label FROM reachable r, stop s WHERE r.r_needed <= s.stop_r
),
fallback AS (
  SELECT vec_id, label FROM diffs
  ORDER BY maxdiff ASC, vec_id ASC LIMIT {max(4 * k, 32)}
),
pool AS (
  SELECT * FROM cand
  UNION ALL
  SELECT * FROM fallback WHERE (SELECT count(*) FROM cand) = 0
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id})
SELECT c.vec_id, c.label, round({score}, 6) AS score
FROM pool c JOIN embeddings e ON e.vec_id = c.vec_id, q
QUALIFY row_number() OVER (ORDER BY score DESC, c.vec_id) <= {k}
"""


def knn_distance_sql(query_id: int = 0, k: int = 10, metric: str = "euclidean") -> str:
    dist = DISTANCE_SQL[metric]("e.embedding", "q.qv")
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id})
SELECT e.vec_id, e.label, round({dist}, 6) + 0.0 AS dist
FROM embeddings e, q
QUALIFY row_number() OVER (ORDER BY dist ASC, vec_id) <= {k}
"""


def index_maintenance_sql(planes: list[list[float]]) -> str:
    """Post-state of the streamed-maintenance LSH index
    (streaming/pipeline.py::index_maintenance_stream): signature bits
    over the embeddings table WITH the deterministic mutation log
    applied (labels 1/2, vec_id % 7 = 3, IEEE-exact negation). One
    UNION ALL branch per hyperplane mirrors the posexplode."""
    post = (
        "SELECT vec_id, label, "
        "CASE WHEN label IN (1, 2) AND vec_id % 7 = 3 "
        "THEN list_transform(embedding, x -> -x) ELSE embedding END "
        "AS embedding FROM embeddings"
    )
    unions = "\nUNION ALL\n".join(
        f"SELECT vec_id, label, {i} AS table_idx, "
        f"{_bit_sql('embedding', p)} AS bit FROM post"
        for i, p in enumerate(planes)
    )
    return f"WITH post AS ({post})\n{unions}"


def range_search_sql(
    query_id: int = 0,
    min_score: float = 0.2,
    metric: str = "cosine",
    library: int | None = None,
) -> str:
    """Mirror of operators/knn.py::range_search — same kernel, same
    6-decimal rounding, same >= threshold; no ordering needed because
    the result is a SET (the driver compare is order-insensitive)."""
    score = METRIC_SQL[metric]("e.embedding", "q.qv")
    lib = f"AND e.label = {library}" if library is not None else ""
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id})
SELECT e.vec_id, e.label, round({score}, 6) AS score
FROM embeddings e, q
WHERE round({score}, 6) >= {min_score!r} {lib}
"""


def binary_hamming_topk_sql(
    query_id: int = 0, k: int = 10, rerank: int = 50, dim: int = 64
) -> str:
    """Mirror of ann.binary_hamming_topk: sign-bit words (32 bits per
    BIGINT, bit i of word w set iff embedding[w*32+i+1] >= 0), Hamming
    candidate cut at `rerank` on (hamming, vec_id), exact cosine
    re-rank in integer micro-units."""
    def word(src: str, w: int) -> str:
        hi = min(32, dim - w * 32)
        return (
            f"CAST(list_sum(list_transform(generate_series(0, {hi - 1}), "
            f"i -> CASE WHEN {src}.embedding[i + {w * 32 + 1}] >= 0 "
            f"THEN (CAST(1 AS BIGINT) << i) ELSE CAST(0 AS BIGINT) END)) "
            f"AS BIGINT)"
        )

    n_words = (dim + 31) // 32
    ham = " + ".join(
        f"bit_count(xor({word('e', w)}, {word('q', w)}))"
        for w in range(n_words)
    )
    score = cosine_sql("e.embedding", "q.embedding")
    return f"""
WITH qv AS (SELECT embedding FROM embeddings WHERE vec_id = {query_id}),
cand AS (
  SELECT e.vec_id, e.label, e.embedding,
         CAST(({ham}) AS INTEGER) AS hamming
  FROM embeddings e, qv q
  ORDER BY hamming, e.vec_id
  LIMIT {rerank}
)
SELECT e.vec_id, e.label, e.hamming,
       CAST(round(({score}) * 1e6) AS BIGINT) AS score_us
FROM cand e, qv q
ORDER BY score_us DESC, e.vec_id
LIMIT {k}
"""
