"""The coarse-quantizer kernel reads its centers from one of two sources:
inline literals or a column of a one-row broadcast frame (ann._cmat_frame).
Call sites keep whichever source their plan was tuned with, so the two
must compute the same list ids, PQ codes and quantization errors."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from vector_db_service_spark.operators import ann
from vector_db_service_spark.sources.tables import load


def _encode(df, cents, codebooks, sub_dim, cmat=None, cbm=None):
    codes, errs = ann._pq_codes(codebooks, sub_dim, cbm=cbm)
    src = cents if cmat is None else cmat
    return df.select(
        "vec_id",
        ann._nearest(src).alias("list_id"),
        F.expr(
            f"CAST(round(array_min({ann._center_d2(src)}) * 1e6) AS BIGINT)"
        ).alias("qerr_us"),
        *codes,
        F.expr(f"CAST(round(({' + '.join(errs)}) * 1e6) AS BIGINT)").alias("pq_err_us"),
    )


@pytest.mark.smoke
def test_inline_and_broadcast_centers_agree(spark, sf_dir):
    emb = load(spark, sf_dir, "embeddings")
    cents = ann._coarse_centers(spark, sf_dir, 7)
    codebooks, sub_dim = ann._pq_train(
        emb, n_subvectors=8, codebook_k=16, train_pct=25
    )
    inline = _encode(emb, cents, codebooks, sub_dim).orderBy("vec_id").collect()
    frame = F.broadcast(ann._cmat_frame(spark, cmat=cents, cbm=codebooks))
    matrix = (
        _encode(emb.crossJoin(frame), cents, codebooks, sub_dim, cmat="cmat", cbm="cbm")
        .orderBy("vec_id")
        .collect()
    )
    assert len(inline) == emb.count() > 0
    assert matrix == inline
    assert len({r.list_id for r in inline}) > 1
    # the maintained-IVF assignment is the same kernel with inline centers
    from vector_db_service_spark.streaming import pipeline

    assigned = {
        r.vec_id: (r.list_id, r.qerr_us)
        for r in pipeline._ivf_assign(emb, cents).collect()
    }
    assert assigned == {r.vec_id: (r.list_id, r.qerr_us) for r in inline}
