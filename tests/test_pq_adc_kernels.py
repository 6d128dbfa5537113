"""Bit-equality of the two implementations of each IVFADC kernel.

The ADC search path runs every kernel as an Arrow pandas UDF
(component-sequential numpy folds). The Catalyst expression form
(interpreted higher-order functions, slow) is kept as the reference
that documents the exact IEEE fold the oracle SQL mirrors. The hash
gate only stays sound if the two are bit-identical: numpy must not
fuse or reassociate the folds. Pin it per element over the real
embeddings fixture.

Also pins the centroid top-k kernel's exact-fold branch against its
expression form (same scores, same DESC/cent_id ASC tie-break) — the
probe's list SELECTION is part of the hashed output.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def test_pq_code_udf_matches_expression_form(spark):
    """The codes UDF picks, per subspace block of k LUT entries of the
    expression form, the first position of the block minimum — the
    ``list_position(l, list_min(l))`` argmin of the SQL twins."""
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
        pq_code_array_udf,
        pq_query_lut_column,
    )

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    m, k = model["m"], model["k"]
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select(
        "vec_id",
        pq_query_lut_column(model).alias("expr"),
        pq_code_array_udf(model)(F.col("embedding")).alias("udf"),
    ).collect()
    assert rows
    for r in rows:
        blocks = [r["expr"][s * k : (s + 1) * k] for s in range(m)]
        want = [blk.index(min(blk)) for blk in blocks]
        assert want == list(r["udf"]), r["vec_id"]


def test_pq_lut_udf_matches_expression_form_bitwise(spark):
    from dss_nlp_ingestion_spark.operators.pq import (
        DEFAULT_PQ_ARTIFACT,
        load_pq_artifact,
        pq_query_lut_column,
        pq_query_lut_udf,
    )

    model = load_pq_artifact(DEFAULT_PQ_ARTIFACT)
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(64)
    rows = emb.select(
        "vec_id",
        pq_query_lut_column(model).alias("expr"),
        pq_query_lut_udf(model)(F.col("embedding")).alias("udf"),
    ).collect()
    assert rows
    for r in rows:
        # repr-level equality == bit equality for finite doubles
        assert [repr(x) for x in r["expr"]] == [repr(x) for x in r["udf"]], (
            r["vec_id"]
        )


def test_centroid_topk_udf_matches_expression_form(spark):
    from dss_nlp_ingestion_spark.operators.similarity import (
        centroid_topk_expr,
        centroid_topk_udf,
        load_ivf_centroids,
    )

    # 32 x 64 cells: within the exact-fold cap
    cents = [
        {"cent_id": int(c), "_cvec": [float(x) for x in v]}
        for c, v in load_ivf_centroids()
    ]
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    n_best = 4
    rows = emb.select(
        F.col("vec_id").alias("id"),
        centroid_topk_expr(F.col("embedding"), cents, n_best).alias("lits"),
        centroid_topk_udf(cents, n_best)(F.col("embedding")).alias("uds"),
    ).collect()
    lits = {r["id"]: list(r["lits"]) for r in rows}
    uds = {r["id"]: list(r["uds"]) for r in rows}
    assert lits and set(lits) == set(uds)
    for vid, ordered in lits.items():
        assert ordered == uds[vid], vid


def test_cosine_arrow_matches_expression_form_bitwise(spark):
    from dss_nlp_ingestion_spark.operators.similarity import cosine, cosine_expr

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    a = emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = emb.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    pairs = a.join(b, F.col("ia") % 13 == F.col("ib") % 13).limit(4000)
    rows = pairs.select(
        "ia",
        "ib",
        cosine(F.col("va"), F.col("vb")).alias("arrow"),
        cosine_expr(F.col("va"), F.col("vb")).alias("expr"),
    ).collect()
    assert rows
    for r in rows:
        assert repr(r["arrow"]) == repr(r["expr"]), (r["ia"], r["ib"])


def test_hyperplane_bucket_arrow_matches_expression_form(spark):
    from dss_nlp_ingestion_spark.operators.similarity import (
        hyperplane_bucket,
        hyperplane_bucket_expr,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select(
        "vec_id",
        hyperplane_bucket(F.col("embedding")).alias("arrow"),
        hyperplane_bucket_expr(F.col("embedding")).alias("expr"),
    ).collect()
    assert rows
    for r in rows:
        assert r["arrow"] == r["expr"], r["vec_id"]
