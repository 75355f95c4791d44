"""Operators must infer the embedding dimension from the data — a
hard-coded plane/bounds width on a non-64-dim corpus would silently
null-pad zip_with dot products and return empty/wrong candidates
(round-2 VERDICT 'What's wrong' #1).

These tests synthesize an 8-dim corpus (plus minimal documents) into a
tmp sf_dir and run the previously dim-64-hard-coded paths end-to-end.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_service_spark.operators import ann, lifecycle, store

DIM = 8
N_VECS = 60
N_LABELS = 4


@pytest.fixture(scope="module")
def small_dim_sf(spark, tmp_path_factory):
    """A synthetic sf_dir whose embeddings are 8-dim."""
    root = tmp_path_factory.mktemp("sf_dim8")
    emb = spark.range(N_VECS).select(
        F.col("id").cast("long").alias("vec_id"),
        (F.col("id") % N_LABELS).cast("int").alias("label"),
        F.transform(
            F.sequence(F.lit(0), F.lit(DIM - 1)),
            lambda i: F.sin(F.col("id") * 1.7 + i.cast("double")).cast("float"),
        ).alias("embedding"),
    )
    emb.write.parquet(str(root / "embeddings.parquet"))
    docs = spark.range(N_VECS).select(
        F.col("id").cast("long").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id").cast("string")).alias("text"),
        F.lit("en").alias("lang"),
        F.lit("src0").alias("source"),
        F.length(F.concat(F.lit("doc "), F.col("id").cast("string"))).alias("n_chars"),
    )
    docs.write.parquet(str(root / "documents.parquet"))
    return str(root)


def test_index_recall_report_non64(spark, small_dim_sf):
    rows = ann.index_recall_report(
        spark, small_dim_sf, query_ids=[0, 1, 2], k=5
    ).collect()
    # 3 queries x 2 methods, and the LSH candidate set must be non-trivial:
    # with inferred planes, sign agreement on ANY of 10 planes keeps most
    # of the corpus, so recall can't collapse to all-zero
    assert len(rows) == 6
    by_method = {}
    for r in rows:
        by_method.setdefault(r["method"], []).append(r["recall"])
    assert set(by_method) == {"lsh", "ivf"}
    assert max(by_method["lsh"]) > 0.0


def test_lifecycle_state_non64(spark, small_dim_sf):
    rows = lifecycle.index_state_after_switch(
        spark, small_dim_sf, library=2, new_algorithm="grid"
    ).collect()
    state = {r["label"]: (r["algorithm"], r["n_index_rows"]) for r in rows}
    assert len(state) == N_LABELS
    # structural cardinalities: lsh = n*10 signature rows, grid = n rows
    per = N_VECS // N_LABELS
    for label, (algo, n_rows) in state.items():
        expected = {"flat": 0, "lsh": per * 10, "grid": per}[algo]
        assert n_rows == expected, (label, algo, n_rows)


def test_stored_probe_non64(spark, small_dim_sf, tmp_path):
    """The store path already inferred dim; pin it for non-64 too."""
    out = store.lsh_probe(
        spark, small_dim_sf, library=1, query_id=1, k=5, root=str(tmp_path)
    ).collect()
    assert len(out) == 5
    assert out[0]["vec_id"] == 1  # self-match ranks first under cosine


def test_path_signature_sees_partition_subdir_rewrites(spark, tmp_path):
    """ADVICE r5: cache keys must not stat only the top-level directory —
    an in-place rewrite of one partition subdirectory can leave the
    parent mtime unchanged. path_signature covers every contained part
    file (max mtime_ns + total size + count), so any partition rewrite
    changes the signature."""
    import os
    import time

    from vector_db_service_spark.sources.tables import path_signature

    table = tmp_path / "t.parquet"
    for lbl in (0, 1):
        d = table / f"label={lbl}"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(b"x" * (10 + lbl))

    sig1 = path_signature(str(table))
    assert sig1[3] == 2  # two part files counted

    # rewrite ONE partition's file in place; freeze the parent dir mtime
    parent_stat = os.stat(table)
    time.sleep(0.01)
    (table / "label=1" / "part-0.parquet").write_bytes(b"y" * 99)
    os.utime(table, ns=(parent_stat.st_atime_ns, parent_stat.st_mtime_ns))

    sig2 = path_signature(str(table))
    assert sig2 != sig1  # size and mtime of the part file changed

    # single-file table degrades to the one stat
    f = tmp_path / "single.parquet"
    f.write_bytes(b"z" * 5)
    assert path_signature(str(f))[3] == 1

    # missing path yields the None identity, never raises
    assert path_signature(str(tmp_path / "absent.parquet"))[1] is None
