"""MLlib batch index builds — the idiomatic Spark alternative alongside
the reference-faithful reimplementations (operators/lsh.py, grid.py).

The reference's hand-written indexes are replicated exactly elsewhere
(SURVEY §7 hard part #2: MLlib's semantics differ, so parity queries use
the faithful ones). These operators are the SCALE path the north-star
asks for: MLlib's LSH family trained once over the embedding table,
producing bucket tables that at 100 TB get written partitioned by hash
key so probes are partition-pruned joins.

Semantics-divergent from the reference BY DESIGN (documented here):

- brp_bucket_index / brp_approx_knn: BucketedRandomProjectionLSH
  (Euclidean buckets, bucketLength-tuned), vs the reference's
  sign-of-dot single-bit tables (algorithms.py:285-310).
- minhash_jaccard_join: MinHashLSH.approxSimilarityJoin over binary
  md5-indexed shingle vectors, vs functions/hashing.py's explicit
  (a*x+b) mod p permutations.

All models are seeded, so outputs are deterministic run-to-run — and
since round 8 every MLlib query has an EXACT DuckDB oracle: the fitted
state (BRP unit vectors, MinHash randCoefficients, kmeans|| centers)
replays as pinned literals, each pinned against a live fit by
tests/test_brp_oracle.py and tests/test_mllib_oracles.py.
"""

from __future__ import annotations

from pyspark.ml.feature import BucketedRandomProjectionLSH, HashingTF, MinHashLSH
from pyspark.ml.functions import array_to_vector, vector_to_array
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import shingles
from ..sources.tables import load

SEED = 42


def _emb_vectors(emb: DataFrame) -> DataFrame:
    return emb.withColumn("vec", array_to_vector(F.col("embedding").cast("array<double>")))


def brp_bucket_index(spark: SparkSession, sf_dir: str, bucket_length: float = 1.0,
                     num_tables: int = 4) -> DataFrame:
    """Batch index build: per-vector BRP-LSH bucket ids, one row per
    (vec_id, table, bucket). The written form of this frame IS the index
    — at scale, partitionBy(table, bucket) makes probes pruned scans."""
    emb = _emb_vectors(load(spark, sf_dir, "embeddings"))
    brp = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=num_tables, seed=SEED,
    )
    model = brp.fit(emb)
    hashed = model.transform(emb)
    return hashed.select(
        "vec_id", "label",
        F.posexplode("hashes").alias("table_idx", "bucket_vec"),
    ).select(
        "vec_id", "label", "table_idx",
        F.element_at(vector_to_array(F.col("bucket_vec")), 1).cast("long").alias("bucket"),
    )


def brp_approx_knn(spark: SparkSession, sf_dir: str, query_id: int = 0,
                   k: int = 10, bucket_length: float = 1.0) -> DataFrame:
    """approxNearestNeighbors SEMANTICS over the trained BRP model —
    MLlib's ANN probe (Euclidean), the idiomatic counterpart of
    lsh.search. The MLlib model supplies the hash family (fit +
    transform) and the candidate rule is approxNearestNeighbors'
    single-probe set (hashDistance 0: shares >= 1 bucket with the
    query), but the final top-k cut is done HERE with the explicit
    (distance, vec_id) order. approxNearestNeighbors itself sorts on
    the distance column alone, so with duplicate vectors tied at the
    k-boundary its survivor is partition-order-dependent — the ties
    fixture (tests/test_ties_parity.py) caught the engine and oracle
    disagreeing on WHICH duplicate survives. The explicit cut is also
    the shape that serves at scale: bucket semi-join (a pruned scan
    when the index is partitioned by bucket) + TakeOrderedAndProject,
    instead of a per-query driver-side call."""
    from ..functions import similarity as sim

    emb0 = load(spark, sf_dir, "embeddings")
    emb = _emb_vectors(emb0)
    qrow = emb.filter(F.col("vec_id") == query_id).select("embedding").head()
    if qrow is None:
        raise KeyError(f"query vector {query_id} not found")
    brp = BucketedRandomProjectionLSH(
        inputCol="vec", outputCol="hashes",
        bucketLength=bucket_length, numHashTables=4, seed=SEED,
    )
    model = brp.fit(emb)
    buckets = model.transform(emb).select(
        "vec_id", F.posexplode("hashes").alias("t", "bv")
    ).select(
        "vec_id", "t",
        F.element_at(vector_to_array(F.col("bv")), 1).alias("b"),
    ).localCheckpoint(eager=False)  # one hash pass feeds probe + scan
    # the query lives in the corpus, so its bucket row group IS the
    # probe — exactly the single-probe candidate set
    probe = buckets.filter(F.col("vec_id") == query_id).select("t", "b")
    cand = (
        buckets.join(F.broadcast(probe), ["t", "b"], "left_semi")
        .select("vec_id")
        .distinct()
    )
    qlit = sim.vector_sql([float(x) for x in qrow["embedding"]])
    return (
        emb0.join(cand, "vec_id", "left_semi")
        .select(
            "vec_id", "label",
            sim.DISTANCES["euclidean"]("embedding", qlit).alias("d"),
        )
        .orderBy(F.asc("d"), F.asc("vec_id"))
        .limit(k)
        .select("vec_id", "label", F.round(F.col("d"), 6).alias("dist"))
    )


MINHASH_NUM_FEATURES = 4096
MINHASH_NUM_TABLES = 8
MINHASH_HASH_PRIME = 2038074743  # MinHashLSH.HASH_PRIME
# randCoefficients of the seed-42 MinHashLSH fit at numHashTables=8 — a
# function of (seed, numHashTables) ONLY, never of the data (pinned by
# tests/test_mllib_oracles.py against a live fit). MLlib's per-index
# hash is min over nonzero i of ((1 + i) * a + b) % HASH_PRIME in Long
# arithmetic (verified empirically in the pinning test — Int overflow
# semantics would differ).
MINHASH_RAND_COEFFICIENTS: list[tuple[int, int]] = [
    (1562431131, 117392763),
    (1467211249, 102948884),
    (662969971, 2023087525),
    (595021506, 1519796918),
    (1429255520, 196118093),
    (1939977183, 969067502),
    (791955277, 819572292),
    (592164477, 1482678032),
]

# One default shared by the operator AND its oracle builder: they once
# diverged (0.8 vs 0.5), which guaranteed a confusing mismatch for any
# caller comparing default-to-default even though the registered pair
# pinned both explicitly.
MINHASH_JOIN_THRESHOLD: float = 0.5


def minhash_jaccard_join(spark: SparkSession, sf_dir: str,
                         threshold: float = MINHASH_JOIN_THRESHOLD,
                         num_features: int = MINHASH_NUM_FEATURES) -> DataFrame:
    """MLlib MinHashLSH near-duplicate join over binary shingle-feature
    vectors: pairs with Jaccard DISTANCE below `threshold`. The
    idiomatic counterpart of operators/dedup.py::minhash_near_dups.

    Featurization is a 32-bit-md5-mod-num_features index per distinct
    shingle (NOT HashingTF): murmur3 term indices are not expressible in
    portable SQL, while the md5 indices replay exactly in DuckDB — which
    is what upgrades this query from a rows-only check to an EXACT
    oracle (minhash_jaccard_join_sql: pinned randCoefficients + the same
    Long-arithmetic minhash + the same index-set jaccard). The fit,
    signature transform and candidate join remain pure MLlib. The dense
    0/1 expansion feeding array_to_vector is test-scale plumbing — at
    100 TB the feature vector stays sparse (HashingTF path above) and
    the banded signature join is the same shape either way. Distances
    surface as integer micro-units (see ann.pq_topk rationale)."""
    from pyspark.ml.feature import CountVectorizerModel

    from ..sources.tables import spread_for_compute

    docs = spread_for_compute(
        # content population: a NULL text has no shingles; its [NULL]
        # fallback shingle would featurize to an all-zero vector, which
        # MinHashLSHModel rejects ("at least 1 non zero entry")
        load(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    ).select("doc_id", F.array_distinct(shingles("text")).alias("sh"))

    def to_idx(s):
        return (
            F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")
            % num_features
        ).cast("string")

    feat = docs.filter(F.col("sh").isNotNull() & (F.size("sh") > 0)).select(
        "doc_id", F.array_distinct(F.transform("sh", to_idx)).alias("terms")
    )
    # identity vocabulary ['0'..'num_features-1']: CountVectorizerModel
    # maps term str(i) to vocab position i, producing SPARSE binary
    # vectors (keyDistance stays O(nnz) — a dense 0/1 expansion made the
    # join's jaccard pass iterate num_features per candidate and was 9x
    # slower end-to-end at sf0.1)
    cv = CountVectorizerModel.from_vocabulary(
        [str(i) for i in range(num_features)],
        inputCol="terms", outputCol="tf_vec", binary=True,
    )
    # checkpoint the featurized frame: approxSimilarityJoin re-evaluates
    # its inputs several times (explode x 2 sides x distance pass)
    featured = cv.transform(feat).localCheckpoint(eager=False)
    mh = MinHashLSH(
        inputCol="tf_vec", outputCol="hashes",
        numHashTables=MINHASH_NUM_TABLES, seed=SEED,
    )
    model = mh.fit(featured)
    pairs = model.approxSimilarityJoin(featured, featured, threshold, distCol="jdist")
    return (
        pairs.select(
            F.col("datasetA.doc_id").alias("doc_id_1"),
            F.col("datasetB.doc_id").alias("doc_id_2"),
            F.round(F.col("jdist") * F.lit(1e6), 0).cast("bigint").alias("jdist_us"),
        )
        .filter(F.col("doc_id_1") < F.col("doc_id_2"))
    )


def minhash_jaccard_join_sql(threshold: float = MINHASH_JOIN_THRESHOLD,
                             num_features: int = MINHASH_NUM_FEATURES) -> str:
    """DuckDB mirror of minhash_jaccard_join: same md5 feature indices,
    same pinned (a, b) coefficients, same Long-arithmetic minhash, same
    share-a-hash candidate rule, same index-set jaccard distance."""
    from .. import oracles_pipeline as opl

    coef_vals = ", ".join(
        f"({t}, {a}, {b})"
        for t, (a, b) in enumerate(MINHASH_RAND_COEFFICIENTS)
    )
    idxs = (
        f"list_sort(list_distinct(list_transform({opl.SHINGLES}, "
        f"s -> CAST(CAST(('0x' || substr(md5(s), 1, 8)) AS BIGINT) "
        f"% {num_features} AS INTEGER))))"
    )
    return f"""
WITH feats AS (
  SELECT doc_id, {idxs} AS idxs FROM documents WHERE text IS NOT NULL
),
coef AS (SELECT * FROM (VALUES {coef_vals}) AS t(tbl, a, b)),
ex AS (SELECT doc_id, unnest(idxs) AS i FROM feats),
sig AS (
  SELECT e.doc_id, c.tbl,
         min(((1 + CAST(e.i AS BIGINT)) * c.a + c.b) % {MINHASH_HASH_PRIME}) AS hv
  FROM ex e CROSS JOIN coef c GROUP BY e.doc_id, c.tbl
),
cand AS (
  SELECT DISTINCT s1.doc_id AS d1, s2.doc_id AS d2
  FROM sig s1 JOIN sig s2
    ON s1.tbl = s2.tbl AND s1.hv = s2.hv AND s1.doc_id < s2.doc_id
),
scored AS (
  SELECT c.d1 AS doc_id_1, c.d2 AS doc_id_2,
         1.0 - CAST(len(list_intersect(f1.idxs, f2.idxs)) AS DOUBLE)
             / CAST(len(list_distinct(list_concat(f1.idxs, f2.idxs))) AS DOUBLE)
           AS jd
  FROM cand c
  JOIN feats f1 ON f1.doc_id = c.d1
  JOIN feats f2 ON f2.doc_id = c.d2
)
SELECT doc_id_1, doc_id_2, CAST(round(jd * 1e6) AS BIGINT) AS jdist_us
FROM scored WHERE jd < {threshold!r}
"""


# Random unit vectors of the seed-42 BucketedRandomProjectionLSH fit at
# dim=64 / numHashTables=4 — a function of (seed, dim, numTables) ONLY,
# never of the data (pinned by tests/test_brp_oracle.py against a live
# fit). Embedding them as literals lets a static DuckDB oracle recompute
# floor(dot(v, u_i) / bucketLength) buckets exactly; repr() round-trips
# each float64 bit-for-bit.
BRP_BUCKET_LENGTH = 1.0
BRP_NUM_TABLES = 4
BRP_RAND_UNIT_VECTORS: list[list[float]] = [
    [0.12949674375780473, 0.10426463032006292, -0.10771877038736019, -0.1255372363345624, 0.031864015961875526, 0.07763903148140297, -0.09267625761376243, -0.15838508708815516, -0.02165389051618035, 0.16854269109352538, 0.09098491965165977, -0.013780063771881217, 0.15995718784720656, -0.07260502199283608, -0.13717864034381758, 0.040117573088542115, -0.05560766029690286, 0.062454079998983995, -0.1364876173085817, 0.036404539477744795, 0.17590650082725473, 0.049731132116372166, 0.054615194300076435, 0.17233239373966974, -0.03139385289904706, -0.009519024250218314, 0.1424166108604675, -0.03688726820688779, -0.019651834133742857, -0.21077117424649872, 0.16146554421004417, -0.15465212141720716, -0.2228011893040183, -0.10417242087441117, -0.2890542789985285, -0.18495762435445184, -0.013835841572937869, 0.1461959233590042, -0.030521449505394982, 0.029200581252854782, -0.036279601655707094, -0.2005551336051944, -0.05482524727370144, -0.057835009365983805, 0.1266353384984892, -0.004643580505872421, -0.1256144906681653, 0.21119488292759514, 0.1299317417234659, -0.12005833484317877, 0.12163713866691228, -0.21906770558940117, 0.03413749349242529, 0.02807014081433207, 0.15946395092753893, -0.17239926149026796, 0.03072450601327282, 0.06364796961267483, -0.0600848460661747, 0.06112732611580623, 0.25088844927734233, -0.07177726126717898, -0.21355986809913746, 0.04383816738170152],
    [0.04324546763126772, -0.1196250007447754, -0.000355742170688643, -0.06290591868245525, -0.07273002664444873, -0.0025350541717712822, 0.21857258132453325, -0.14693412707906917, 0.07881307914343753, -0.020660480606120326, 0.0880343533187672, 0.16282531161891542, 0.11732429428317515, 0.02942823915355396, 0.1220668317446316, -0.09813315096329371, 0.10664634497642195, -0.03370424478078597, -0.10137999150787967, -0.24747202128264886, -0.24704059522100943, -0.07652882574249704, -0.05428342382724887, 0.03297680839243599, -0.06382884375871065, 0.059223190811845725, -0.059273205519043574, 0.006057363702502043, 0.09351308498819277, -0.03607765734181544, 0.010717326609066756, 0.1671127197096646, 0.10133632225224352, 0.22856203619428414, 0.019371121326215757, -0.13201596955909142, 0.026644357112041522, 0.11895237041886508, 0.2006419009478108, -0.18627509281145743, -0.25310124524861277, 0.181641915258207, -0.07428222129311543, 0.098827609066886, 0.2088636922985201, 0.1497187960249646, -0.02549389751561777, -0.2992261327735093, 0.058379038344302144, 0.08717337513955836, -0.09887300181280123, 0.15919954423297916, 0.23621567316506964, 0.008946170086847385, 0.1718864885541727, -0.07733534461311735, 0.10204751223628504, 0.05543424240252225, -0.06225994690770243, 0.054967533676602995, 0.0879992390575857, 0.11509781648299505, 0.03937942153452649, 0.04267392826482056],
    [0.2253599547352401, 0.084686016900039, -0.12090235717915984, 0.012037035560567483, 0.05653929989547702, -0.19784366335303277, 0.15157652606891173, -0.07726288997430494, 0.09069712513868437, -0.01850775179851565, 0.09420127205578385, -0.044324398614280294, -0.01062930981041057, -0.06194936947753676, 0.03574121958713461, -0.11595951529739637, -0.06624457677123273, 0.2712366777191197, 0.01533153186863178, 0.18713711661424884, 0.04465499294074913, 0.08888672766398283, 0.0959456780978348, -0.07089928799994677, -0.23457091437136127, 0.009604915537812436, 0.019456711376994573, -0.10214125471448683, -0.21790520325684198, 0.16383454757654273, 0.055456209262321005, 0.16443921269983677, 0.037453954195909266, 0.12401790285189035, 0.08866502795089151, -0.02938251183534179, 0.04390435464347258, 0.10202408760518072, 0.18064985547214535, 0.13747465326312658, 0.045180519164631894, 0.14098454107711914, 0.0033389589485273265, -0.0812388597453255, -0.0017409007440788824, -0.13338295982400739, -0.0028185053398772997, 0.19979634198148805, 0.13939946082109098, -0.12874306733279453, 0.029588120684531684, 0.15535201312812244, 0.01059987575708014, -0.13304607224460271, 0.18034472263476178, 0.040046209069542905, -0.05070562271716691, -0.20676253064762004, 0.11012487642391115, -0.10545618963525344, 0.19875023092077387, 0.09380610937437693, 0.13795962125376615, 0.2927722551070435],
    [-0.06374135683995162, -0.09219503246981259, 0.20387147163340155, -0.10935797479905664, -0.04308987473913211, -0.22053735363025692, -0.0689505866185994, -0.335906687103947, 0.039147854997285396, -0.1496523981120987, -0.22241719602183366, 0.010556593479734708, -0.17237743213626663, 0.09042793042560178, -0.16716014790388486, 0.1623874130871556, 0.0016294745422463736, 0.0852497427913705, -0.17153256310120862, 0.10578917251323942, 0.0793227971835568, 0.016029777279764824, 0.05042081026847254, -0.07556934199188059, 0.05626682220005956, -0.10333901194035604, 0.008307604126977912, -0.09633777979600622, 0.1532688478369975, 0.11940703413743275, 0.16071269411711286, -0.009202061603050597, -0.07346227785473011, 0.1364132505370998, 0.12256128954494584, -0.08972364033338956, 0.11501214463815192, -0.328871752830656, 0.054044983219077775, 0.052742933259140166, 0.10928698480434651, -0.045185470946430495, 0.13894898075688086, -0.030477763874640906, 0.020215754742539182, 0.08675717574067274, 0.047838716967836085, 0.012605032955128678, -0.16082285233359414, -0.03444399726472531, -0.07829696607501378, -0.01900287098000823, 0.244327756207043, 0.23932680858694025, -0.10052570582133381, -0.01990727013443709, 0.01781187785973467, -0.1183833051902047, 0.02475355910216522, 0.0938850567409529, -0.05664336305195141, -0.023485688576799755, 0.10434324461021213, 0.17995762924893127],
]


def brp_bucket_index_sql(
    bucket_length: float = BRP_BUCKET_LENGTH,
    num_tables: int = BRP_NUM_TABLES,
) -> str:
    """DuckDB mirror of brp_bucket_index: bucket of table i is
    floor(dot(embedding, u_i) / bucketLength) over the pinned seed-42
    unit vectors — the exact MLlib hash function
    (BucketedRandomProjectionLSH.hashFunction)."""
    from .. import oracles

    selects = "\nUNION ALL\n".join(
        f"SELECT vec_id, label, {i} AS table_idx, "
        f"CAST(floor({oracles.dot_sql('embedding', oracles._plane_lit(BRP_RAND_UNIT_VECTORS[i]))}"
        f" / {bucket_length!r}) AS BIGINT) AS bucket FROM embeddings"
        for i in range(num_tables)
    )
    return selects


def brp_approx_knn_sql(
    query_id: int = 0,
    k: int = 10,
    bucket_length: float = BRP_BUCKET_LENGTH,
    num_tables: int = BRP_NUM_TABLES,
) -> str:
    """DuckDB mirror of approxNearestNeighbors single-probe semantics
    (LSH.scala): candidates = rows sharing >= 1 exact bucket with the
    query (hashDistance 0), ranked by true Euclidean distance, top k."""
    from .. import oracles

    def bucket(vec_expr: str, i: int) -> str:
        lit = oracles._plane_lit(BRP_RAND_UNIT_VECTORS[i])
        return (
            f"CAST(floor({oracles.dot_sql(vec_expr, lit)} / {bucket_length!r}) AS BIGINT)"
        )

    share = " OR ".join(
        f"({bucket('e.embedding', i)} = {bucket('q.qv', i)})" for i in range(num_tables)
    )
    dist = oracles.euclidean_distance_sql("e.embedding", "q.qv")
    return f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {query_id}),
cand AS (
  SELECT e.vec_id, e.label, {dist} AS rawdist
  FROM embeddings e, q WHERE {share}
)
SELECT vec_id, label, round(rawdist, 6) AS dist
FROM cand ORDER BY rawdist, vec_id LIMIT {k}
"""


# Fitted cluster centers of the seed-42 MLlib KMeans coarse quantizer
# (k=7, kmeans|| init) over the sf0.01 embeddings table — the DATA-
# dependent analog of BRP_RAND_UNIT_VECTORS above. kmeans|| is not
# SQL-replayable, but for a FIXED input split it is bit-deterministic
# (the test corpora are single-split parquet files: <4 MB, one scan
# partition under any spark.sql.files config), so the fitted state
# replays as literals. Pinned by tests/test_mllib_oracles.py against a
# live fit; the oracle below is therefore scoped to the sf0.01 corpus
# the driver's correctness gate runs on. repr() round-trips each
# float64 bit-for-bit.
IVF_KMEANS_N_LISTS = 7
IVF_KMEANS_CENTERS_SF001: list[list[float]] = [
    [-0.07895943799879976, 0.020328032794909984, 0.019260714520127155, 0.014299740001129418, -0.0028751694310743077, -0.012575098900840834, 0.06736653438039447, -0.005613085052643258, 0.0025995325297117236, 0.032816976265838516, 0.012027233953659351, -0.009566991701005743, -0.032419795098786175, 0.010070859313754437, -0.06907759765163064, -0.01196502117941586, 0.04370495785171023, -0.00740268200259799, -0.0051106629266331974, 0.04013114370978796, 0.010471632981744524, 0.001126664081731668, 0.013448502254099227, -0.054020999769608564, -0.0010538750928110229, 0.052197423241495226, -0.06377736039173144, 0.01941508119925857, 0.003194471715519635, -0.027729808263337385, -0.03558656151334827, 0.002858913804476078, -0.004466863975931819, -0.02136867976245972, -0.06689991103127026, 0.009788061251254896, 0.05312543858129245, 0.017295813653618097, 0.01813247207050713, 0.016620710108859037, 0.030661939696829697, 0.082411624942548, -0.051551453457572144, 0.004537654219445988, -0.03896402621176094, 0.007193888311919112, 0.06860384819088862, -0.00966389153439265, -0.010000298239398174, -0.023144861668921435, 0.04568585805738202, 0.053259274675152624, 0.03912344640837266, 0.009777651465712833, 0.02169029931896008, -0.013998537869729962, 0.011717858989364826, 0.007498958062093992, -0.03728493950687922, -0.01978474079649179, -0.0010492622565764647, 0.013538174267607526, -0.003159882572407906, 0.009649744970150866],
    [0.026286607162910515, -0.03321447125053965, -0.0008028634445508943, 0.0016891745588509368, 0.06850737098284299, 0.06572875749116065, -0.09254088506277186, -0.00719928386824904, 0.021006416747695766, 0.002085823367815465, 0.015934489521896467, 0.07481098874122837, -0.019206872206996198, -0.01883857729990268, -0.007935553937204532, 0.03698074737621937, -0.044813099804741796, -0.02046272904990474, 0.01059664990170859, -0.03129937367339153, 0.011702282278565691, 0.01854485599906184, -0.029156817070179388, -0.03841283746587579, -0.018110360324499197, 0.04842660418871674, 0.028705602104309946, 0.0028753788355970755, 0.009035066085925792, -0.001011110795661807, 0.010667166189523415, -0.011045800097053872, -0.016333122306969018, 0.027250092836038676, -0.004548643515590811, -0.03572612666175701, -0.04941638747986872, 0.0689945576050377, 0.008268426377617289, 0.01565162608749233, -0.04387557707959786, -0.052708271675874135, 0.013264750386952073, 0.05469607601116877, -0.0024785371730104092, 0.036060038561117835, 0.005236040393356234, 0.010279875213745982, -0.01691281637104112, -0.025664378330111506, -0.00024717784544918685, 0.018979968723942878, -0.029662864065994655, 0.040849017802975146, -0.025210784024966418, -0.024637768967659214, 0.032644590153358875, -0.004065821521726321, 0.06169215495028766, 0.03082553496351466, 0.006258384970215048, 0.02400923655513907, -0.01256149783912406, -0.018918968571233565],
    [0.0025331401661530415, -0.009001341649498087, -0.017923802473167185, -0.00954304398301075, -0.0029383032090680777, -0.015815505160475675, -0.012569920297982259, 0.026826279432258023, -0.0021621530899176163, 0.01425655990952125, 0.02259294165985852, 0.012509636925796996, 0.03255420655367966, -0.0030961706531497666, 0.04782705628840288, -0.02105358838656135, -0.017082434198116215, 0.032385885998835115, 0.0076861277141362285, -0.023012283308659943, 0.00573154434150981, 0.03891162767584594, 0.009161266950749845, -0.03222014141304173, -0.016948325653809763, 0.013117291259509072, -0.009241353672926911, -0.013899962303562547, -0.035104983616927814, -0.03849943937406489, -0.020159792684387626, -0.01442831046836734, 0.04641449803493056, -0.007167996123723053, 0.0014328285381812952, 0.05071056427495589, -0.012317359856031131, -0.03712030946157166, 0.011921362708820214, -0.04900870712392031, 0.008670112312516584, -0.045724743041473455, -0.041175796424109, -0.07292658408262485, 0.026944122060843442, -0.03627770157412292, -0.021801755318795944, 0.023383346923301875, 0.029412933899982577, -0.06201833462669901, 0.0073722350819668955, -0.051017309187989426, 0.016601221877554397, 0.010517961867980426, -4.536382423467793e-05, 0.0068318446239298385, -0.042099918886928, -0.019205712657839165, 0.018486619023122947, -0.052215659731168755, 0.0023251428172203167, 0.02685509888644172, -0.04864903680874773, -0.03248911605761298],
    [0.04550998349235776, 0.009360233502572073, 0.019659668147591326, 0.00512551265385221, -0.033028584124301284, -0.002749121357234852, -0.015302997639211004, 0.08682669653310714, -0.05361324314794996, 0.004481699814855614, -0.007940274131867816, -0.011409405384705786, 0.006039720293997294, -0.03193628127234714, -0.01854878325453576, 0.041552620676948746, -0.03860177969053278, 0.008238096010652098, 0.013958625063327524, -0.0007237902411040576, -0.034143017672741895, -0.015465417027692585, -0.0052840508684954225, 0.048741093590198195, 0.03831503030035974, 0.014268964142812526, -0.01895999626311309, 0.028695613541640342, 0.03628788650008466, 0.04122204471632893, 0.03511624679188518, 0.04731589470003896, 0.011747414904975278, 0.04431706845335772, 0.04608303373611039, 0.023246328765526413, -0.025281460043590734, -0.01245528107152923, -0.03884897383250063, 0.004297629950622863, -0.015013433095095131, -0.04275762750767172, 0.0392722527606084, 0.025520070019239723, -0.051915991700062634, -0.011358759308452992, -0.018554097579737357, 0.02552595349466976, -0.02797995068488971, 0.03294445523608695, 0.04976215885322103, 0.029819587322280686, 0.0050188138916650235, -0.03844178958028993, 0.012773148080005365, 0.012239910866243436, 0.030527193953885753, 0.008253229141016217, -0.07693363454309292, -0.010880325744716066, 0.01829879894195234, -0.06693719626774135, -0.007678559395101141, -0.005166422909892657],
    [0.022840508243202096, 0.0028332773869070003, -0.013209754757727274, 0.007339899487955595, 0.0003201611467548424, -0.006801797709028635, -0.029055217757732385, -0.0650168028881862, -0.014501677549560554, -0.05534734814760408, -0.012702621957508936, -0.03829457626298314, -0.00964996732363943, 0.041664285673981616, -0.014179330970537626, 0.05913690254203088, 0.002572446284050654, 0.029037570816442548, 0.003986688057747891, 0.018810684256701883, -0.003186048180352719, -0.02191688676525484, 0.019573016714448818, 0.03081848135583901, -0.012878679479832672, -0.07597952568349206, -0.015820212701371583, -0.00262261679225568, 0.01371917954280174, -0.005525580374523997, 0.043328619739484216, -0.06453729266788633, -0.027226219975134535, -0.03895259830391123, 0.014725438041967295, -0.06268365892104893, 0.019370202595988907, -0.049121100610742964, -0.03501324471324638, 0.00808980268162226, -0.003326951445723396, 0.043726917558593585, 0.011372250765340314, -0.02913688043738494, 0.005214216038244298, 0.01907390113185448, -0.01407781552517831, 0.017572830650827934, 0.02634479095216929, 0.008377247473358043, -0.014138359753858475, -0.043059420367215, 0.025387178035175782, -0.0025605939032781557, 0.005361594924969332, -0.008162899633004728, -0.005522988548147536, 0.007309665738527352, -0.0022698517410996524, 0.04675808765681549, -0.019588520101803755, 0.011290590000758778, 0.062259916368583655, 0.018610447599452785],
    [-0.032196809978423904, 0.026412979222922805, -0.038777200133717125, -0.03156703432267975, 0.038845128335413474, 0.06628756620921195, 0.01262226558866955, -0.02109056813753254, 0.10029721943040688, 0.11351672114272202, 0.05701522622257471, 0.009910712542477995, -0.010992468223862704, 0.09889386363682293, -0.015043556823262146, 0.0030793421680019016, 0.06814611279073038, 0.026830405085569334, -0.02884464631123202, 0.007582362918626694, -0.0380282819359785, -0.019023239878671508, 0.016958360704371615, -0.047267493941555064, -0.07458328165202623, -0.07779529167427902, -0.015863871623185418, 0.08486152517919739, 0.0009626207895399558, 0.03725660206483943, 0.048675169419896386, 0.023541665192516076, 0.04021103360823222, -0.0946672152772191, 0.04339623726194813, 0.06491942366673832, -0.0074646419268988426, 0.03795680647627229, 0.055203832752470455, 0.014455529462013925, 0.04141308305164178, -0.02072325659294923, 0.07098465796471351, 0.015063476216580185, 0.005586897111719563, -0.029161852474013962, 0.025682495036605923, 0.01656071152926112, -0.06624097433329248, 0.0358148253567162, -0.06354045214053863, 0.01651639906534304, 0.02962704493741815, -0.06687759341938154, 0.03232046286575496, 0.005866048502780142, -0.056561177042091175, 0.046027592405499446, 0.0512060166913129, -0.06394804947610412, -0.025417977057042573, 0.023699903023606608, 0.0045829689396279195, -0.02797504263885674],
    [-0.02148375107504238, -0.026647578040927142, 0.04966358805639606, -0.048118090560912326, 0.033120052999485346, 0.00906403873005282, -0.021737198507160705, 0.020846259835476087, 0.014153026095423769, -0.03789360379658134, -0.01167319246599356, -0.017518997650151535, -0.010310037661406953, -0.011089778917652192, 0.05138240935738688, -0.09420452846245746, 0.09925544915744991, -0.0356692040489071, -0.04197515215393219, 0.021572549401198404, -0.002975821652907436, -0.01653042665221018, 0.017293497002525728, 0.003954337199486919, 0.029822896798022913, 0.07711520252780894, 0.08989440883762377, 0.021925923051470418, -0.034628007497827885, 0.03961586384536793, -0.02114595973990479, 0.003996598380442681, 0.021843216540681602, -0.031794010395168375, 0.018186510218922997, -0.010825126293762508, -0.0031065011823202594, 0.014946447904379564, 0.02537109768728457, 0.015992333108196193, 0.0069798884259229055, -0.030742421267273976, 0.017406264374338946, 0.04644008184451673, -0.034370728231713936, 0.04042411939501447, -0.010947034765287475, -0.06307324595153489, -0.02429089915417766, 0.012597095292314129, -0.01272032236072661, 0.007153734514466092, -0.020779544763835305, -0.03542513397948469, 0.012743590813982537, -0.0018608583082145049, 0.04293561101224179, -0.027858623773080564, -0.020999834995116977, -0.02823233605615037, -0.0033169735412476426, 0.018615013188105354, 0.0188844241221609, -0.04812943483249016],
]


def ivf_kmeans_topk_sql(query_id: int = 0, k: int = 10, nprobe: int = 4) -> str:
    """DuckDB mirror of ann.ivf_kmeans_topk at the registered operating
    point (sf0.01, n_lists=7, nprobe=4, cosine).

    PRECONDITION — sf0.01 corpus ONLY: the kmeans|| fit's RNG state is
    not SQL-reproducible, so this oracle replays PINNED centers
    (IVF_KMEANS_CENTERS_SF001 above, guarded against a live fit in
    tests/test_mllib_oracles.py). The Spark side refits on whatever
    corpus it is handed; comparing this SQL against any other corpus
    is a guaranteed (and meaningless) mismatch. The driver's
    correctness gate runs at sf0.01; local parity must route through
    tests/test_oracle_parity._PINNED_SF, which pins this query to the
    sf0.01 corpus regardless of SPARK_GRAFT_SF_ORACLE.

    The pinned centers stand in for the kmeans|| fit, then assignment reuses the
    EXACT argmin CTE the ivfpq oracle uses (_coarse_assign_cte — same
    fold order, same lowest-id tiebreak as ann._nearest), routing
    takes the nprobe cosine-nearest centers, and scores surface as
    integer micro-units ordered by the same key as the Spark side."""
    from .. import oracles, oracles_quant

    vals = ",\n    ".join(
        f"({i}, {oracles._plane_lit(c)})"
        for i, c in enumerate(IVF_KMEANS_CENTERS_SF001)
    )
    route = oracles.cosine_sql("b.c", "q.embedding")
    score = oracles.cosine_sql("a.embedding", "q.embedding")
    return f"""
WITH ccb AS (
  SELECT * FROM (VALUES
    {vals}) AS t(cid, c)
),
qv AS (SELECT embedding FROM embeddings WHERE vec_id = {query_id}),
{oracles_quant._coarse_assign_cte()},
probed AS (
  SELECT CAST(b.cid AS INTEGER) AS list_id FROM ccb b, qv q
  ORDER BY CAST(round(({route}) * 1e6) AS BIGINT) DESC, b.cid
  LIMIT {nprobe}
)
SELECT a.vec_id, a.label, a.list_id,
       CAST(round(({score}) * 1e6) AS BIGINT) AS score_us
FROM asg a JOIN probed USING (list_id), qv q
ORDER BY score_us DESC, a.vec_id LIMIT {k}
"""


def ivf_maintenance_sql() -> str:
    """DuckDB mirror of streaming.pipeline.ivf_maintenance_stream: the
    per-list drift summary after the deterministic mutation feed has
    been merged into the maintained IVF store.

    PRECONDITION — sf0.01 corpus ONLY, same as ivf_kmeans_topk_sql: the
    kmeans|| fit is not SQL-reproducible, so the pinned
    IVF_KMEANS_CENTERS_SF001 stand in for the durable centers the
    Spark side loads (store.load_km_centers). Both assignments replay
    the exact argmin fold (_l2sq, lowest-cid tiebreak =
    ann._nearest); the quantization-error stat is the assigned
    (minimum) squared L2 in integer micro-units, summed as BIGINT so
    the aggregate is order-independent; refit_due reproduces the same
    integer cross-multiplications as the Spark side
    (count beyond 3/2 of baseline, or mean qerr beyond 5/4)."""
    from .. import oracles_quant

    vals = ",\n    ".join(
        f"({i}, {_plane_lit_local(c)})"
        for i, c in enumerate(IVF_KMEANS_CENTERS_SF001)
    )
    d2 = oracles_quant._l2sq("e.embedding", "b.c")

    def asg(src: str, name: str) -> str:
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, CAST(cid AS INTEGER) AS list_id,
         CAST(round(d2 * 1e6) AS BIGINT) AS qerr_us FROM (
    SELECT e.vec_id, b.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2}, b.cid) AS rn
    FROM {src} e CROSS JOIN ccb b
  ) WHERE rn = 1
)"""

    # the deterministic mutation family of _index_maintenance_mutations:
    # labels (1, 2), vec_id % 7 == 3, IEEE-exact negation
    return f"""
WITH ccb AS (
  SELECT * FROM (VALUES
    {vals}) AS t(cid, c)
),
post AS MATERIALIZED (
  SELECT vec_id, label,
         CASE WHEN label IN (1, 2) AND vec_id % 7 = 3
              THEN list_transform(embedding, x -> -x)
              ELSE embedding END AS embedding
  FROM embeddings
),
{asg("embeddings", "basg")},
{asg("post", "pasg")},
bstat AS (
  SELECT list_id, COUNT(*) AS n_base,
         CAST(SUM(qerr_us) AS BIGINT) AS sum_qerr_base_us
  FROM basg GROUP BY list_id
),
pstat AS (
  SELECT list_id, COUNT(*) AS n_now,
         CAST(SUM(qerr_us) AS BIGINT) AS sum_qerr_now_us
  FROM pasg GROUP BY list_id
)
SELECT b.list_id, b.n_base, p.n_now, b.sum_qerr_base_us, p.sum_qerr_now_us,
       ((p.n_now * 2 > b.n_base * 3) OR
        (p.sum_qerr_now_us * b.n_base * 4 > b.sum_qerr_base_us * p.n_now * 5))
       AS refit_due
FROM bstat b JOIN pstat p USING (list_id)
"""


def ivf_refit_sql(n_lists: int = 7, lloyd_iters: int = 8,
                  train_cap: int = 100_000) -> str:
    """DuckDB mirror of streaming.pipeline.ivf_refit_stream: the refit
    CONSEQUENCE of the drift monitor. Replays (1) the post-mutation
    corpus under the x4-scaled drift feed (IEEE-exact: double multiply
    by a power of two, cast back to FLOAT), (2) the pre-refit per-list
    stats against the pinned durable centers, (3) the canonical-Lloyd
    REFIT over the md5-ordered post-state sample as an unrolled CTE
    chain (oracles_quant._fit_ctes with source=post — the identical
    fit the PQ/IVF-PQ oracles replay), and (4) the post-refit stats
    against the refit centers.

    PRECONDITION — sf0.01 corpus ONLY for the pinned OLD centers (same
    as ivf_maintenance_sql); the refit chain itself is corpus-agnostic."""
    from .. import oracles_quant

    vals = ",\n    ".join(
        f"({i}, {_plane_lit_local(c)})"
        for i, c in enumerate(IVF_KMEANS_CENTERS_SF001)
    )
    d2_old = oracles_quant._l2sq("e.embedding", "b.c")
    d2_new = oracles_quant._l2sq("e.embedding", "b.c")
    # sub_dim is ignored at n_sub == 1: the chain takes the whole vector
    # and is dimension-agnostic (r15 advisor — a 64 literal here
    # silently truncated the fit on any non-64-dim corpus)
    fit = oracles_quant._fit_ctes(
        "r", n_lists, lloyd_iters, 1, 0, None, train_cap, source="post"
    )

    def asg(cb: str, name: str) -> str:
        d2 = d2_old if cb == "ccb" else d2_new
        return f"""{name} AS MATERIALIZED (
  SELECT vec_id, CAST(cid AS INTEGER) AS list_id,
         CAST(round(d2 * 1e6) AS BIGINT) AS qerr_us FROM (
    SELECT e.vec_id, b.cid, {d2} AS d2,
           row_number() OVER (PARTITION BY e.vec_id
                              ORDER BY {d2}, b.cid) AS rn
    FROM post e CROSS JOIN {cb} b
  ) WHERE rn = 1
)"""

    return f"""
WITH ccb AS (
  SELECT * FROM (VALUES
    {vals}) AS t(cid, c)
),
post AS MATERIALIZED (
  SELECT vec_id, label,
         CASE WHEN label IN (1, 2) AND vec_id % 7 = 3
              THEN list_transform(embedding,
                                  x -> CAST(CAST(x AS DOUBLE) * 4.0 AS FLOAT))
              ELSE embedding END AS embedding
  FROM embeddings
),
{asg("ccb", "pasg")},
{fit},
{asg("rcb", "rasg")}
SELECT 'pre_refit' AS stage, list_id,
       CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(sum(qerr_us) AS BIGINT) AS sum_qerr_us
FROM pasg GROUP BY list_id
UNION ALL
SELECT 'post_refit', list_id, CAST(count(*) AS BIGINT),
       CAST(sum(qerr_us) AS BIGINT)
FROM rasg GROUP BY list_id
"""


def _plane_lit_local(vec: list[float]) -> str:
    from .. import oracles

    return oracles._plane_lit(vec)
