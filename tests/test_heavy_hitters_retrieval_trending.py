"""Unit tests for the r6 operator additions: sketch-pruned heavy
hitters, RRF hybrid retrieval, and bucketed-decay trending."""

from __future__ import annotations

from pyspark.sql import functions as F


def _hh(spark, rows, m, parts):
    from hse_etl_ochirov_aldar_spark.operators.heavy_hitters import (
        heavy_hitters,
    )

    df = spark.createDataFrame([(r,) for r in rows], "k STRING").repartition(
        parts
    )
    return {
        (r["key"], r["cnt"]) for r in heavy_hitters(df, "k", m=m).collect()
    }


def test_heavy_hitters_exact_and_partitioning_independent(spark):
    # 1000 rows: 'a' 400, 'b' 150, 'c' 60, long tail of singletons
    rows = ["a"] * 400 + ["b"] * 150 + ["c"] * 60 + [
        f"t{i}" for i in range(390)
    ]
    # m=9 -> threshold N/10 = 100: exactly {a, b}
    expected = {("a", 400), ("b", 150)}
    for parts in (1, 7, 32):
        assert _hh(spark, rows, 9, parts) == expected
    # m=19 -> threshold 50: c joins
    assert _hh(spark, rows, 19, 8) == expected | {("c", 60)}


def test_heavy_hitters_counts_are_exact_not_sketch_estimates(spark):
    # adversarial for MG: many mid-weight keys evict each other; the
    # recount must still return EXACT counts for survivors
    rows = []
    for i in range(50):
        rows += [f"k{i}"] * (10 + i)
    got = _hh(spark, rows, 4, 16)  # N=1725, threshold 345: nobody
    assert got == set()
    got = _hh(spark, rows, 2, 16)  # threshold 575: still nobody
    assert got == set()


def test_rrf_fuse_sums_micro_units_and_handles_missing_leg(spark):
    from hse_etl_ochirov_aldar_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2)],
        "query_id INT, neighbor_id INT, rank INT",
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 12, 2)],
        "query_id INT, neighbor_id INT, rank INT",
    )
    out = {
        r["neighbor_id"]: (r["rrf_units"], r["fused_rank"])
        for r in rrf_fuse([lex, dense], k=3).collect()
    }
    # 11: both legs (1e6/62 + 1e6/61) beats 10 and 12 (one leg each)
    assert out[11] == (1000000 // 62 + 1000000 // 61, 1)
    assert out[10] == (1000000 // 61, 2)
    assert out[12] == (1000000 // 62, 3)


def test_jaccard_topk_excludes_self_and_zero_overlap(spark):
    from hse_etl_ochirov_aldar_spark.operators.retrieval import jaccard_topk

    docs = spark.createDataFrame(
        [
            (0, "red green blue"),
            (1, "red green yellow"),
            (2, "cyan magenta"),
        ],
        "doc_id BIGINT, text STRING",
    )
    qs = docs.where("doc_id = 0").select(
        F.col("doc_id").alias("query_id"), "text"
    )
    got = {
        (r["neighbor_id"], r["jaccard"], r["rank"])
        for r in jaccard_topk(docs, qs, k=5).collect()
    }
    # doc 1 shares {red, green} of union size 4; doc 2 shares nothing
    # and never appears; self (doc 0) excluded
    assert got == {(1, 0.5, 1)}


def test_decayed_counts_weights_and_zero_drop(spark):
    from hse_etl_ochirov_aldar_spark.operators.trending import decayed_counts

    day_us = 86_400_000_000
    rows = [
        ("hot", 100 * day_us),      # ref point: weight 1_000_000
        ("hot", 100 * day_us - 1),  # <1 period old: 1_000_000
        ("hot", 99 * day_us),       # exactly 1 period: 500_000
        ("warm", 97 * day_us),      # 3 periods: 125_000
        ("cold", 50 * day_us),      # 50 periods: weight 0, dropped
    ]
    df = spark.createDataFrame(rows, "item STRING, ts_us LONG")
    out = {
        r["item"]: (r["score_units"], r["n_events"], r["last_seen_us"])
        for r in decayed_counts(
            df, "item", F.col("ts_us"), half_life_us=day_us
        ).collect()
    }
    assert out["hot"] == (2_500_000, 3, 100 * day_us)
    assert out["warm"] == (125_000, 1, 97 * day_us)
    assert "cold" not in out


def test_decayed_counts_shift_guard_past_64_periods(spark):
    from hse_etl_ochirov_aldar_spark.operators.trending import decayed_counts

    day_us = 86_400_000_000
    # JVM shiftright wraps shift mod 64: an event 64 periods old would
    # get weight 1_000_000 >> 0 without the guard
    df = spark.createDataFrame(
        [("now", 200 * day_us), ("ancient", 136 * day_us)],
        "item STRING, ts_us LONG",
    )
    out = {
        r["item"]
        for r in decayed_counts(
            df, "item", F.col("ts_us"), half_life_us=day_us
        ).collect()
    }
    assert out == {"now"}


def test_word_shingle_postings_matches_array_twin(spark):
    """The relational shingle builder must emit exactly the distinct
    shingle set of word_shingles — including short docs (whole-doc
    shingle), repeated shingles (deduped), and messy whitespace."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.functions.text import (
        word_shingle_postings,
        word_shingles,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),
            (2, "a"),            # 1 token: whole-doc shingle
            (3, "x  y"),         # 2 tokens, messy whitespace
            (4, "a b a b a b"),  # repeated shingles dedupe
            (5, "  p q r  "),    # exactly n tokens
        ],
        "doc_id LONG, text STRING",
    )
    rel = {
        (r["id"], r["tok"])
        for r in word_shingle_postings(docs).collect()
    }
    arr = {
        (r["doc_id"], r["tok"])
        for r in docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(word_shingles(F.col("text")))
            ).alias("tok"),
        ).collect()
    }
    assert rel == arr
