"""Unit tests for the round-6 statistics/LSH operators:

- operators/regression.grouped_ols — per-group OLS from exact integer
  moments (slope/intercept/R^2 vs a pure-Python reference, degenerate
  group handling).
- operators/bootstrap.poisson_bootstrap_mean — deterministic Poisson
  bootstrap (weight reproducibility vs a pure-Python md5 fold, exact
  point mean, interval sanity).
- operators/similarity.srp_lsh_pairs — sign-random-projection LSH
  (scale invariance guarantees recall of exact scaled copies, verified
  pairs agree with brute-force cosine, parameter validation).
"""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.operators.bootstrap import (
    POISSON1_CDF,
    poisson_bootstrap_mean,
    poisson_weight_expr,
)
from hse_etl_ochirov_aldar_spark.operators.regression import grouped_ols
from hse_etl_ochirov_aldar_spark.operators.similarity import (
    cosine,
    srp_lsh_pairs,
    srp_sign_matrix,
)


# ---------------------------------------------------------------------------
# grouped_ols
# ---------------------------------------------------------------------------


def _py_ols(pts: list[tuple[int, int]]) -> tuple[float, float, float]:
    n = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    syy = sum(p[1] * p[1] for p in pts)
    cov = n * sxy - sx * sy
    varx = n * sxx - sx * sx
    vary = n * syy - sy * sy
    slope = cov / varx
    intercept = (sy - slope * sx) / n
    r2 = cov * cov / (varx * vary)
    return round(slope, 6), round(intercept, 6), round(r2, 6)


def test_grouped_ols_matches_python_reference(spark):
    pts_a = [(0, 10), (1, 13), (2, 15), (3, 19), (4, 20)]
    pts_b = [(0, 50), (2, 40), (4, 31), (6, 22)]
    rows = [("a", x, y) for x, y in pts_a] + [("b", x, y) for x, y in pts_b]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {
        r["g"]: r
        for r in grouped_ols(
            df, ["g"], F.col("x"), F.col("y")
        ).collect()
    }
    for g, pts in (("a", pts_a), ("b", pts_b)):
        slope, intercept, r2 = _py_ols(pts)
        assert out[g]["n"] == len(pts)
        assert out[g]["slope"] == pytest.approx(slope, abs=1e-9)
        assert out[g]["intercept"] == pytest.approx(intercept, abs=1e-9)
        assert out[g]["r2"] == pytest.approx(r2, abs=1e-9)


def test_grouped_ols_scales_applied_to_final_doubles_only(spark):
    # y in centi-units, x in days: slope should come back in natural
    # units/day, intercept in natural units.
    pts = [(0, 100), (1, 300), (2, 500)]  # exact line y_units = 200x + 100
    df = spark.createDataFrame([("g", x, y) for x, y in pts], "g string, x long, y long")
    row = grouped_ols(
        df, ["g"], F.col("x"), F.col("y"), x_scale=1.0, y_scale=0.01
    ).collect()[0]
    assert row["slope"] == pytest.approx(2.0)
    assert row["intercept"] == pytest.approx(1.0)
    assert row["r2"] == pytest.approx(1.0)


def test_grouped_ols_degenerate_groups_null(spark):
    rows = [
        ("single", 1, 5),          # n=1 -> all NULL
        ("zerovarx", 3, 1), ("zerovarx", 3, 9),   # varx=0 -> all NULL
        ("zerovary", 1, 7), ("zerovary", 2, 7),   # vary=0 -> r2 NULL only
        ("nully", 1, None), ("nully", 2, 4),      # null y rows excluded
    ]
    df = spark.createDataFrame(rows, "g string, x long, y long")
    out = {r["g"]: r for r in grouped_ols(df, ["g"], F.col("x"), F.col("y")).collect()}
    assert out["single"]["slope"] is None and out["single"]["r2"] is None
    assert out["zerovarx"]["slope"] is None and out["zerovarx"]["n"] == 2
    assert out["zerovary"]["slope"] == pytest.approx(0.0)
    assert out["zerovary"]["r2"] is None
    # one non-null point -> n=1 -> degenerate
    assert out["nully"]["n"] == 1 and out["nully"]["slope"] is None


def test_grouped_ols_plan_is_single_partial_agg(spark):
    df = spark.range(1000).select(
        (F.col("id") % 7).alias("g"), F.col("id").alias("x"), (F.col("id") * 3).alias("y")
    )
    plan = grouped_ols(df, ["g"], F.col("x"), F.col("y"))._jdf.queryExecution().executedPlan().toString()
    # map-side partial aggregation, exactly one key exchange, no sort/window
    assert plan.count("Exchange") == 1
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    assert "Window" not in plan


# ---------------------------------------------------------------------------
# poisson_bootstrap_mean
# ---------------------------------------------------------------------------


def _py_poisson_weight(key: str, replica: int) -> int:
    block, j = replica // 4, replica % 4
    digest = hashlib.md5(f"{key}:{block}".encode()).hexdigest()
    v = int(digest[8 * j : 8 * j + 8], 16)
    u = (v + 0.5) / 4294967296.0
    for k, t in enumerate(POISSON1_CDF):
        if u < t:
            return k
    return len(POISSON1_CDF)


def test_poisson_weights_match_python_md5_fold(spark):
    keys = ["17", "42", "999983", "abc"]
    df = spark.createDataFrame([(k,) for k in keys], "k string")
    out = df.select(
        "k", *[poisson_weight_expr(F.col("k"), r).alias(f"w{r}") for r in range(8)]
    ).collect()
    for row in out:
        for r in range(8):
            assert row[f"w{r}"] == _py_poisson_weight(row["k"], r), (row["k"], r)


def test_poisson_weights_have_unit_mean_empirically(spark):
    # mean of Poisson(1) weights over many (row, replica) draws ~ 1.
    df = spark.range(2000).select(F.col("id").cast("string").alias("k"))
    avg = (
        df.select(
            *[poisson_weight_expr(F.col("k"), r).alias(f"w{r}") for r in range(4)]
        )
        .agg(*[F.avg(f"w{r}").alias(f"a{r}") for r in range(4)])
        .collect()[0]
    )
    for r in range(4):
        assert 0.9 < avg[f"a{r}"] < 1.1


def test_bootstrap_point_mean_exact_and_interval_sane(spark):
    vals = [(i, 100 + (i * 37) % 500) for i in range(400)]
    df = spark.createDataFrame(vals, "id long, cents long")
    row = poisson_bootstrap_mean(
        df, F.col("id"), F.col("cents"), y_scale=0.01, replicas=16
    ).collect()[0]
    exact = round(sum(v for _, v in vals) / len(vals) * 0.01, 6)
    assert row["n"] == 400
    assert row["point_mean"] == pytest.approx(exact, abs=1e-9)
    assert row["ci_lo"] <= row["point_mean"] <= row["ci_hi"]
    # interval should be tight-ish for n=400 (sd/sqrt(n) scale, not junk)
    assert row["ci_hi"] - row["ci_lo"] < 1.0
    assert row["n_replicas"] == 16


def test_bootstrap_null_y_rows_excluded(spark):
    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 20)], "id long, cents long"
    )
    row = poisson_bootstrap_mean(df, F.col("id"), F.col("cents"), replicas=8).collect()[0]
    assert row["n"] == 2
    assert row["point_mean"] == pytest.approx(15.0)


def test_bootstrap_is_one_scan_no_row_explosion(spark):
    df = spark.range(100).select(F.col("id"), (F.col("id") * 2).alias("cents"))
    plan = (
        poisson_bootstrap_mean(df, F.col("id"), F.col("cents"), replicas=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Generate" not in plan  # no explode: replicas are columns
    assert "Join" not in plan


# ---------------------------------------------------------------------------
# srp_lsh_pairs
# ---------------------------------------------------------------------------


def _mk_vectors(spark, n=60, dims=8):
    """n pseudo-random float vectors + 5 scaled copies of the first 5."""
    base = []
    for i in range(n):
        vec = [
            round(math.sin(i * 13.37 + d * 0.7) * 2.0, 3) for d in range(dims)
        ]
        base.append((i, vec))
    dups = [(1000 + i, [round(x * 2.5, 6) for x in base[i][1]]) for i in range(5)]
    return spark.createDataFrame(base + dups, "vec_id long, embedding array<float>")


def test_srp_recovers_scaled_copies(spark):
    df = _mk_vectors(spark)
    pairs = srp_lsh_pairs(df, threshold=0.95, bits=16, bands=4).collect()
    found = {(r["vec_id_a"], r["vec_id_b"]) for r in pairs}
    # sign(dot) is scale-invariant: a positive-scaled copy shares ALL
    # bits with its source, so every planted pair MUST be recalled.
    for i in range(5):
        assert (i, 1000 + i) in found
    for r in pairs:
        assert r["cos_sim"] >= 0.95


def test_srp_verified_pairs_agree_with_brute_force(spark):
    df = _mk_vectors(spark, n=40)
    pairs = {
        (r["vec_id_a"], r["vec_id_b"]): r["cos_sim"]
        for r in srp_lsh_pairs(df, threshold=0.9, bits=8, bands=4).collect()
    }
    a = df.alias("a")
    b = df.alias("b")
    brute = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.col("b.vec_id").alias("ib"),
            F.round(cosine(F.col("a.embedding"), F.col("b.embedding")), 6).alias("c"),
        )
        .where(F.col("c") >= 0.9)
        .collect()
    )
    for r in brute:
        key = (r["ia"], r["ib"])
        if key in pairs:
            # any candidate the banding surfaced must carry the exact cosine
            assert pairs[key] == pytest.approx(r["c"], abs=1e-6)
    # LSH output is a subset of the brute-force truth (verify step).
    truth = {(r["ia"], r["ib"]) for r in brute}
    assert set(pairs).issubset(truth)


def test_srp_sign_matrix_deterministic_and_rademacher():
    m1 = srp_sign_matrix(16, 64)
    m2 = srp_sign_matrix(16, 64)
    assert m1 is m2  # memoized
    assert all(v in (-1, 1) for row in m1 for v in row)
    # roughly balanced signs (md5 nibble >= 8)
    plus = sum(1 for row in m1 for v in row if v == 1)
    assert 0.35 < plus / (16 * 64) < 0.65


def test_srp_rejects_uneven_bands(spark):
    df = _mk_vectors(spark, n=8)
    with pytest.raises(ValueError, match="bands"):
        srp_lsh_pairs(df, bits=10, bands=4)


def test_srp_candidates_shuffle_ids_only(spark):
    df = _mk_vectors(spark, n=30)
    plan = (
        srp_lsh_pairs(df, threshold=0.9)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "cartesian" not in plan.lower()


def test_bootstrap_ci_null_when_a_replica_mean_is_missing(spark):
    """A replica whose Poisson weights all drew 0 has a NULL mean; the
    CI must be NULLed outright (r7 advice fix), never silently shifted
    onto wrong order statistics by NULLS-first sort order."""
    # single row: P(w=0) = e^-1 per replica, so across 32 replicas at
    # least one zero-weight replica is a near-certainty — assert the
    # fixture actually hits the degenerate case, then the contract
    from hse_etl_ochirov_aldar_spark.operators.bootstrap import (
        poisson_bootstrap_mean,
        poisson_weight_expr,
    )

    df = spark.createDataFrame([(7, 100)], "id long, cents long")
    weights = df.select(
        *[poisson_weight_expr(F.col("id"), r).alias(f"w{r}") for r in range(32)]
    ).collect()[0]
    assert any(weights[f"w{r}"] == 0 for r in range(32))  # degenerate case live
    row = poisson_bootstrap_mean(
        df, F.col("id"), F.col("cents"), replicas=32
    ).collect()[0]
    assert row["ci_lo"] is None and row["ci_hi"] is None
    assert row["point_mean"] == 100.0 and row["n"] == 1


def test_srp_arrow_signature_bit_identical_to_expression(spark):
    """srp_signature_frame (Arrow/numpy int64 matmul) must equal the
    expression fold BIT-FOR-BIT: the micro snap replicates Spark
    round-HALF-UP on the identical IEEE double product, and integer
    matmul has no summation-order concern. Vectors include negative
    components, zeros, and magnitudes that exercise the rounding
    boundary region."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        srp_sign_matrix,
        srp_signature,
        srp_signature_frame,
    )

    dims, bits = 24, 32
    df = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dims)),
            lambda i: (
                (F.pmod(F.xxhash64(F.col("id"), i), 2_000_001) - 1_000_000)
                / 1_000_000.0
            ).cast("float"),
        ).alias("embedding"),
    )
    mat = srp_sign_matrix(bits, dims)
    expr = {
        r["vid"]: r["bits"]
        for r in df.select(
            F.col("vec_id").alias("vid"),
            srp_signature(F.col("embedding"), mat).alias("bits"),
        ).collect()
    }
    arrow = {
        r["vid"]: r["bits"]
        for r in srp_signature_frame(df, mat).collect()
    }
    assert arrow == expr


def test_srp_pairs_leading_null_vector(spark):
    """A NULL vector in the first row must not set the signature width
    (without ANSI mode size(NULL) is -1, which built empty hyperplanes
    and crashed the kernel); the pair among the non-NULL rows is still
    found and the NULL row pairs with nothing."""
    df = spark.createDataFrame(
        [(1, None), (2, [0.5, 0.25, -0.5]), (3, [1.0, 0.5, -1.0])],
        "vec_id long, embedding array<float>",
    ).coalesce(1)
    pairs = [
        (r["vec_id_a"], r["vec_id_b"])
        for r in srp_lsh_pairs(df, threshold=0.95, bits=8, bands=4).collect()
    ]
    assert pairs == [(2, 3)]


def test_cell_labels_arrow_bit_identical_to_expression(spark):
    """cell_labels_frame (int64 Arrow matmul) must equal
    element_at(_cell_ranks(micro_vec(v)), 1) exactly — same micro
    snap, exact integer L2, argmin first-occurrence = smallest-cell_id
    tie-break. Includes duplicate centroids so ties are exercised."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        _cell_ranks,
        cell_labels_frame,
        micro_vec,
    )

    dims = 12
    df = spark.range(400).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(dims)),
            lambda i: (
                (F.pmod(F.xxhash64(F.col("id"), i), 2001) - 1000) / 1000.0
            ).cast("float"),
        ).alias("embedding"),
    )
    cents = [
        [((7 * c + 3 * d) % 11 - 5) * 100_000 for d in range(dims)]
        for c in range(6)
    ]
    cents.append(list(cents[2]))  # duplicate centroid -> guaranteed ties
    expr = {
        r["vec_id"]: r["cid"]
        for r in df.select(
            "vec_id",
            F.element_at(
                _cell_ranks(micro_vec(F.col("embedding")), cents), 1
            ).alias("cid"),
        ).collect()
    }
    arrow = {
        r["vec_id"]: r["cluster_id"]
        for r in cell_labels_frame(df, cents).select("vec_id", "cluster_id").collect()
    }
    assert arrow == expr


def test_cluster_balanced_sample_draw_matches_expression_reference(spark):
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        cluster_balanced_sample,
        temperature_mixture_sample,
    )
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        _cell_ranks,
        exact_kmeans_centroids,
        micro_vec,
    )

    df = spark.range(300).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda i: (
                (F.pmod(F.xxhash64(F.col("id"), i), 1001) - 500) / 500.0
            ).cast("float"),
        ).alias("embedding"),
    )
    a = sorted(
        r["vec_id"]
        for r in cluster_balanced_sample(df, total=60, n_cells=4).collect()
    )
    # the same draw over labels from the _cell_ranks expression reference
    cents = exact_kmeans_centroids(df, n_cells=4, iters=3)
    ref = df.withColumn(
        "cluster_id",
        F.element_at(_cell_ranks(micro_vec(F.col("embedding")), cents), 1),
    )
    b = sorted(
        r["vec_id"]
        for r in temperature_mixture_sample(
            ref, "cluster_id", "vec_id", 60
        ).collect()
    )
    assert a == b and len(a) > 0
    # labels come with column passthrough — labeled rows come straight
    # out of the Arrow stage, no label join back onto the corpus
    plan = cluster_balanced_sample(
        df, total=60, n_cells=4
    )._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
