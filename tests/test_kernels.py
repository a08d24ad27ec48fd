"""The session kernel knob (_kernels.py, r9 verdict task #1): proven
bit-identical Arrow kernels are the DEFAULT, $SPARK_GRAFT_KERNEL=expr
forces the Python-free expression plans, and operator arguments win
over the env."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark._kernels import (
    KERNEL_ENV,
    default_kernel,
    resolve_kernel,
)


def test_default_is_arrow(monkeypatch):
    monkeypatch.delenv(KERNEL_ENV, raising=False)
    assert default_kernel() == "arrow"
    assert resolve_kernel(None) == "arrow"


def test_env_forces_expr(monkeypatch):
    monkeypatch.setenv(KERNEL_ENV, "expr")
    assert resolve_kernel(None) == "expr"
    # explicit argument still wins over the env
    assert resolve_kernel("arrow") == "arrow"


def test_invalid_values_raise(monkeypatch):
    monkeypatch.setenv(KERNEL_ENV, "cuda")
    with pytest.raises(ValueError, match="SPARK_GRAFT_KERNEL"):
        default_kernel()
    monkeypatch.delenv(KERNEL_ENV, raising=False)
    with pytest.raises(ValueError, match="kernel must be"):
        resolve_kernel("nope")


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


def test_env_expr_removes_python_stages(spark, monkeypatch):
    """SPARK_GRAFT_KERNEL=expr is the one-line driver-parity switch:
    the same operator call produces a plan with zero Arrow stages."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        semantic_dedup_flags,
    )

    df = _vectors(spark)
    monkeypatch.setenv(KERNEL_ENV, "expr")
    plan_expr = (
        semantic_dedup_flags(df, n_cells=4, iters=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    monkeypatch.delenv(KERNEL_ENV, raising=False)
    plan_arrow = (
        semantic_dedup_flags(df, n_cells=4, iters=1)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" not in plan_expr
    assert "ArrowEvalPython" not in plan_expr
    assert "MapInPandas" in plan_arrow


def test_semantic_dedup_identical_across_kernels(spark):
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        semantic_dedup_flags,
    )

    df = _vectors(spark, n=300)
    key = ["vec_id", "cluster_id", "is_dup"]
    a = sorted(
        tuple(r[k] for k in key)
        for r in semantic_dedup_flags(
            df, n_cells=4, iters=2, labeler="expr"
        ).collect()
    )
    b = sorted(
        tuple(r[k] for k in key)
        for r in semantic_dedup_flags(
            df, n_cells=4, iters=2, labeler="arrow"
        ).collect()
    )
    assert a == b and len(a) == 300


def test_ivf_kmeans_exact_topk_identical_across_kernels(spark):
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        ivf_kmeans_exact_topk,
    )

    corpus = _vectors(spark, n=300)
    queries = _vectors(spark, n=5).withColumnRenamed("vec_id", "query_id")
    key = ["query_id", "neighbor_id", "cos_sim", "rank"]
    a = sorted(
        tuple(r[k] for k in key)
        for r in ivf_kmeans_exact_topk(
            corpus, queries, k=3, n_cells=4, iters=1, labeler="expr"
        ).collect()
    )
    b = sorted(
        tuple(r[k] for k in key)
        for r in ivf_kmeans_exact_topk(
            corpus, queries, k=3, n_cells=4, iters=1, labeler="arrow"
        ).collect()
    )
    assert a == b and len(a) == 15


def test_minhash_family_auto_default_is_expr(spark, monkeypatch):
    """MinHash banding has one kernel family, the expression fold (it
    beat the Arrow twin once shingling went linear), so its plan is
    Python-free whether or not $SPARK_GRAFT_KERNEL is set."""
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        banded_minhash_keys,
    )

    docs = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("alpha beta gamma delta epsilon zeta "),
                 F.col("id").cast("string")).alias("text"),
    )
    for env in (None, "arrow"):
        if env is None:
            monkeypatch.delenv(KERNEL_ENV, raising=False)
        else:
            monkeypatch.setenv(KERNEL_ENV, env)
        plan = (
            banded_minhash_keys(docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "MapInPandas" not in plan


def test_resolve_kernel_auto_param():
    import os

    os.environ.pop(KERNEL_ENV, None)
    assert resolve_kernel(None, auto="expr") == "expr"
    assert resolve_kernel(None, auto="arrow") == "arrow"
    assert resolve_kernel("arrow", auto="expr") == "arrow"
    with pytest.raises(ValueError, match="auto must be"):
        resolve_kernel(None, auto="nope")


def test_kmeans_fit_identical_across_kernels(spark):
    """The distributed Lloyd assign step under the arrow kernel
    (pre_quantized cell_labels_frame) must produce bit-identical
    centroids to the Catalyst argmin at every iteration count."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        exact_kmeans_centroids,
    )

    df = _vectors(spark, n=400, dims=6)
    for iters in (1, 3):
        a = exact_kmeans_centroids(
            df, n_cells=5, iters=iters, labeler="expr"
        )
        b = exact_kmeans_centroids(
            df, n_cells=5, iters=iters, labeler="arrow"
        )
        assert a == b
    # and the unset default resolves to the same result
    c = exact_kmeans_centroids(df, n_cells=5, iters=3)
    assert c == a


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
        (r["vid"], r["cluster_id"])
        for r in cell_labels_frame(df, cents).collect()
    )
    micro = df.select(
        F.col("vec_id").alias("vid2"),
        micro_vec(F.col("embedding"), 6).alias("mv"),
    )
    b = sorted(
        (r["vid"], r["cluster_id"])
        for r in cell_labels_frame(
            micro, cents, id_col="vid2", vec_col="mv", pre_quantized=True
        ).collect()
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
        (r["vid"], r["cluster_id"])
        for r in cell_labels_frame(df, cents).collect()
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
