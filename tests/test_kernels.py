"""The Arrow kernels (cell_labels_frame, srp_signature_frame) are the
only runtime path of the labeling and SRP hot loops; the expression
folds (_cell_ranks, srp_signature) stay as their bit-identity
references. These tests pin kernel == reference, at the kernel and at
the operators built on it."""

from __future__ import annotations

from pyspark.sql import functions as F


def _vectors(spark, n=200, dims=8):
    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dims)),
            lambda i: (
                (F.pmod(F.xxhash64(F.col("id"), i), 1001) - 500) / 500.0
            ).cast("float"),
        ).alias("embedding"),
    )


def test_semantic_dedup_identical_across_kernels(spark):
    """semantic_dedup_flags labels through the Arrow kernel; its
    cluster ids and dup flags must equal those of the _cell_ranks
    expression kernel over the same fitted centroids."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        _cell_ranks,
        embedding_near_dup_ids,
        exact_kmeans_centroids,
        micro_vec,
        semantic_dedup_flags,
    )

    df = _vectors(spark, n=300)
    got = sorted(
        (r["vec_id"], r["cluster_id"], r["is_dup"])
        for r in semantic_dedup_flags(df, n_cells=4, iters=2).collect()
    )
    cents = exact_kmeans_centroids(df, n_cells=4, iters=2)
    ref = df.withColumn(
        "cluster_id",
        F.element_at(_cell_ranks(micro_vec(F.col("embedding")), cents), 1),
    )
    dups = {
        r["vec_id"]
        for r in embedding_near_dup_ids(
            ref, 0.45, block_col="cluster_id"
        ).collect()
    }
    want = sorted(
        (r["vec_id"], r["cluster_id"], r["vec_id"] in dups)
        for r in ref.collect()
    )
    assert got == want and len(got) == 300


def test_ivf_kmeans_exact_topk_identical_across_kernels(spark):
    """ivf_kmeans_exact_topk labels the corpus through the Arrow
    kernel; its top-k must equal ivf_topk over corpus labels and query
    probes both taken from the _cell_ranks expression kernel."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        _cell_ranks,
        exact_kmeans_centroids,
        ivf_kmeans_exact_topk,
        ivf_topk,
        micro_vec,
    )

    corpus = _vectors(spark, n=300)
    queries = _vectors(spark, n=5).withColumnRenamed("vec_id", "query_id")
    cents = exact_kmeans_centroids(corpus, n_cells=4, iters=1)
    ranks = _cell_ranks(micro_vec(F.col("embedding")), cents)
    want_df = ivf_topk(
        corpus.withColumn("label", F.element_at(ranks, 1)),
        queries.withColumn("label", F.explode(F.slice(ranks, 1, 2))),
        k=3,
    )
    key = ["query_id", "neighbor_id", "cos_sim", "rank"]
    want = sorted(tuple(r[k] for k in key) for r in want_df.collect())
    got = sorted(
        tuple(r[k] for k in key)
        for r in ivf_kmeans_exact_topk(
            corpus, queries, k=3, n_cells=4, n_probe=2, iters=1
        ).collect()
    )
    assert got == want and len(got) == 15


def test_minhash_family_auto_default_is_expr(spark):
    """MinHash banding has one kernel family, the expression fold (it
    beat the Arrow twin once shingling went linear), so its plan is
    Python-free."""
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        banded_minhash_keys,
    )

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 F.col("id").cast("string")).alias("text"),
    )
    plan = (
        banded_minhash_keys(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in plan


def test_kmeans_fit_identical_across_kernels(spark):
    """The distributed Lloyd fit (assign step = pre_quantized
    cell_labels_frame) must produce bit-identical centroids to the
    driver-local numpy Lloyd (_local_lloyd, reached through a
    sample_cap covering the corpus) at every iteration count."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        exact_kmeans_centroids,
    )

    df = _vectors(spark, n=400, dims=6)
    for iters in (1, 3):
        a = exact_kmeans_centroids(df, n_cells=5, iters=iters)
        b = exact_kmeans_centroids(
            df, n_cells=5, iters=iters, sample_cap=400
        )
        assert a == b


def test_pre_quantized_labels_match_snapped(spark):
    """pre_quantized=True on already-micro int64 arrays must agree with
    the float snap path on the same underlying vectors."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        cell_labels_frame,
        micro_vec,
    )

    df = _vectors(spark, n=200, dims=6)
    cents = [[i * 100_000] * 6 for i in range(4)]
    a = sorted(
        tuple(r)
        for r in cell_labels_frame(df, cents).select("vec_id", "cluster_id").collect()
    )
    micro = df.select(
        F.col("vec_id").alias("vid2"),
        micro_vec(F.col("embedding"), 6).alias("mv"),
    )
    b = sorted(
        tuple(r)
        for r in cell_labels_frame(micro, cents, vec_col="mv", pre_quantized=True)
        .select("vid2", "cluster_id")
        .collect()
    )
    assert a == b and len(a) == 200


def test_null_and_nan_rows_match_expr(spark):
    """NULL-row parity (r9): a null vector labels as cell 0 on BOTH
    kernels (expr: all distances null -> struct sort tie-break to the
    lowest cell_id); NaN elements become micro component 0 on both
    (Spark round(NaN*1e6) casts to long 0)."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        _cell_ranks,
        cell_labels_frame,
        micro_vec,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5, 0.5]),
            (2, None),
            (3, [0.9, 0.1]),
            (4, [float("nan"), 0.9]),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    cents = [[100_000, 900_000], [900_000, 100_000]]
    expr = sorted(
        (r["vec_id"], r["cluster_id"])
        for r in df.select(
            "vec_id",
            F.element_at(
                _cell_ranks(micro_vec(F.col("embedding"), 6), cents), 1
            ).alias("cluster_id"),
        ).collect()
    )
    arrow = sorted(
        tuple(r)
        for r in cell_labels_frame(df, cents).select("vec_id", "cluster_id").collect()
    )
    assert arrow == expr
    assert dict(arrow)[2] == 0  # the null row labels cell 0


def test_srp_null_and_nan_rows_match_expr(spark):
    """SRP null-row parity: a null vector gives ALL-ZERO bits on both
    paths (expr: when(null >= 0) falls to otherwise(0)) — distinct from
    a zero VECTOR whose dots are 0 >= 0 = all-one; NaN elements become
    micro 0 on both."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        srp_sign_matrix,
        srp_signature,
        srp_signature_frame,
    )

    df = spark.createDataFrame(
        [
            (1, [0.5, 0.5]),
            (2, None),
            (3, [float("nan"), 0.3]),
            (4, [0.0, 0.0]),
        ],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )
    mat = srp_sign_matrix(8, 2, "srp")
    expr = sorted(
        (r["vec_id"], tuple(r["bits"]))
        for r in df.select(
            "vec_id", srp_signature(F.col("embedding"), mat, 6).alias("bits")
        ).collect()
    )
    arrow = sorted(
        (r["vid"], tuple(r["bits"]))
        for r in srp_signature_frame(df, mat).collect()
    )
    assert arrow == expr
    d = dict(arrow)
    assert d[2] == (0,) * 8          # null row: all-zero bits
    assert d[4] == (1,) * 8          # zero vector: all-one bits (0 >= 0)
