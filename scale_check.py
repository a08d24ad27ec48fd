"""Synthetic scale checks — NOT part of the driver bench.

Generates multi-million-row inputs in-plan (spark.range + expressions,
no disk) and times the engine's scale-critical operators, to verify
the partitioning/shuffle design holds well past the test fixtures.
Results are recorded in PERF.md.

    python scale_check.py            # ~2-4 min on local[32]
    python scale_check.py srp arrow  # only checks whose label contains
                                     # any given substring
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.session import get_spark

_FILTERS = sys.argv[1:]


def timed(label, fn):
    if _FILTERS and not any(s in label for s in _FILTERS):
        return None
    t0 = time.perf_counter()
    out = fn()
    dt = round(time.perf_counter() - t0, 2)
    print(json.dumps({"check": label, "seconds": dt, "result": out}))
    return dt


def main() -> None:
    spark = get_spark(app_name="scale-check")
    spark.sparkContext.setLogLevel("ERROR")

    # 1) sessionize 10M events over 100k users (window + agg, two
    #    keyed shuffles)
    def sessionize_10m():
        from hse_etl_ochirov_aldar_spark.streaming.sessionize import (
            sessionize_batch,
        )

        ev = spark.range(10_000_000).select(
            (F.col("id") % 100_000).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1700000000) + (F.xxhash64("id") % 10_000_000)
            ).alias("ts"),
            (F.pmod(F.xxhash64("id", F.lit(1)), 10000) / 100.0).alias("value"),
        )
        return sessionize_batch(ev, gap_seconds=600).count()

    # 2) MinHash LSH candidates over 300k synthetic ~32-word docs.
    def _minhash_docs():
        words = F.transform(
            F.sequence(F.lit(1), F.lit(32)),
            lambda i: F.concat(
                F.lit("w"), (F.pmod(F.xxhash64(F.col("id"), i), 5000)).cast("string")
            ),
        )
        return spark.range(300_000).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", words).alias("text"),
        )

    def minhash_300k():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            minhash_lsh_candidates,
        )

        return minhash_lsh_candidates(_minhash_docs()).count()

    # 3) hot-key join, 5M facts with 50% on one key: plain vs salted
    def _skewed_sides():
        facts = spark.range(5_000_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.pmod(F.xxhash64("id"), 1000))
            .alias("k"),
            F.col("id").alias("v"),
        )
        dim = spark.range(1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("attr")
        )
        return facts, dim

    def skew_plain():
        facts, dim = _skewed_sides()
        # force a shuffle join so the skew actually lands on a reducer
        return (
            facts.hint("merge")
            .join(dim.hint("merge"), "k")
            .groupBy()
            .agg(F.count(F.lit(1)))
            .collect()[0][0]
        )

    def skew_salted():
        from hse_etl_ochirov_aldar_spark.operators.skew import salted_join

        facts, dim = _skewed_sides()
        return (
            salted_join(facts, dim, ["k"], salt_buckets=32)
            .groupBy()
            .agg(F.count(F.lit(1)))
            .collect()[0][0]
        )

    # 4) blocked embedding near-dup over 200k 16-dim vectors in 1000
    #    cells (the IVF-blocked scale path; exact would be 4e10 pairs)
    def embedding_blocked_200k():
        from hse_etl_ochirov_aldar_spark.operators.similarity import (
            embedding_near_dup_ids,
        )

        vecs = spark.range(200_000).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 1000.0).cast(
                    "float"
                ),
            ).alias("embedding"),
            F.pmod(F.xxhash64("id", F.lit(99)), 1000).cast("int").alias("label"),
        )
        dups = embedding_near_dup_ids(vecs, threshold=0.999, block_col="label")
        return vecs.join(dups, "vec_id", "left_anti").count()

    # 4b) SRP-LSH near-pairs at 200k vectors — the r7 sizing rule at
    #    volume: bits-per-band buys candidate shrinkage (rpb=16 ->
    #    2^-16 random collision rate, ~2.4M candidates from 2e10
    #    pairs), bands buy recall back; planted scaled copies have
    #    cosine 1.0 and share all bits, so found == planted exactly
    #    (centered components keep natural cosines far below 0.95).
    def srp_lsh_200k():
        from hse_etl_ochirov_aldar_spark.operators.similarity import srp_lsh_pairs

        base = spark.range(200_000).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: (
                    (F.pmod(F.xxhash64(F.col("id"), i), 1000) - 500) / 1000.0
                ).cast("float"),
            ).alias("embedding"),
        )
        copies = base.where(F.col("vec_id") < 100).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform("embedding", lambda x: (x * F.lit(1.5)).cast("float")).alias(
                "embedding"
            ),
        )
        pairs = srp_lsh_pairs(
            base.unionByName(copies), threshold=0.95, bits=128, bands=8
        )
        found = {
            (r["vec_id_a"], r["vec_id_b"])
            for r in pairs.select("vec_id_a", "vec_id_b").collect()
        }
        return {
            "pairs": len(found),
            "planted_found": sum(1 for a, b in found if b == a + 1_000_000),
        }

    # 4c) COMPOSED Arrow kernels: the two int64 kernels working
    #    together in one catalog-adjacent pipeline — cluster-balanced
    #    coreset draw (labeling kernel, finding 25) feeding SRP-LSH
    #    near-pair mining over the drawn coreset (signature kernel,
    #    finding 24). 100 planted scaled copies ride the draw via id
    #    pinning below.
    def coreset_then_srp_200k():
        from hse_etl_ochirov_aldar_spark.operators.sampling import (
            cluster_balanced_sample,
        )
        from hse_etl_ochirov_aldar_spark.operators.similarity import (
            srp_lsh_pairs,
        )

        base = spark.range(200_000).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: (
                    (F.pmod(F.xxhash64(F.col("id"), i), 1000) - 500) / 1000.0
                ).cast("float"),
            ).alias("embedding"),
        )
        coreset = cluster_balanced_sample(
            base, total=50_000, n_cells=64, iters=2
        ).select("vec_id", "embedding")
        # plant scaled copies of the 100 LOWEST-id drawn vectors
        # (cosine 1.0); ordered pick — a bare limit() is plan-dependent
        copies = coreset.orderBy("vec_id").limit(100).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"),
            F.transform(
                "embedding", lambda x: (x * F.lit(1.5)).cast("float")
            ).alias("embedding"),
        )
        pairs = srp_lsh_pairs(
            coreset.unionByName(copies), threshold=0.95, bits=128, bands=8
        )
        found = {
            (r["vec_id_a"], r["vec_id_b"])
            for r in pairs.select("vec_id_a", "vec_id_b").collect()
        }
        return {
            "pairs": len(found),
            "planted_found": sum(1 for a, b in found if b == a + 1_000_000),
        }

    # 5) as-of join: 5M probes against 500k versioned build rows
    def asof_5m():
        from hse_etl_ochirov_aldar_spark.operators.asof import asof_join

        probes = spark.range(5_000_000).select(
            (F.col("id") % 50_000).alias("k"),
            F.timestamp_seconds(
                F.lit(1700000000) + (F.pmod(F.xxhash64("id"), 5_000_000))
            ).alias("ts"),
            F.col("id").alias("probe_id"),
        )
        builds = spark.range(500_000).select(
            (F.col("id") % 50_000).alias("k"),
            F.timestamp_seconds(
                F.lit(1700000000) + (F.pmod(F.xxhash64("id", F.lit(7)), 5_000_000))
            ).alias("bts"),
            (F.col("id") * 10).alias("version_attr"),
        ).dropDuplicates(["k", "bts"])
        out = asof_join(probes, builds, "k", "ts", "bts", ["version_attr"])
        return out.where(F.col("version_attr").isNotNull()).count()

    # 6) range join: 5M probes against 200k bounded windows
    def range_5m():
        from hse_etl_ochirov_aldar_spark.operators.range_join import (
            range_join_bucketed,
        )

        probes = spark.range(5_000_000).select(
            (F.col("id") % 20_000).alias("k"),
            F.timestamp_seconds(
                F.lit(1700000000) + (F.pmod(F.xxhash64("id"), 2_000_000))
            ).alias("ts"),
        )
        builds = spark.range(200_000).select(
            (F.col("id") % 20_000).alias("k"),
            F.timestamp_seconds(
                F.lit(1700000000) + (F.pmod(F.xxhash64("id", F.lit(3)), 2_000_000))
            ).alias("s"),
        ).withColumn("e", F.col("s") + F.expr("INTERVAL 1 HOUR"))
        j = range_join_bucketed(probes, builds, "k", "ts", "s", "e", 3600)
        return j.count()

    # 8) synthetic ~30-word docs for the curation operators
    def _synth_docs(n):
        words = F.transform(
            F.sequence(F.lit(1), F.lit(30)),
            lambda i: F.concat(
                F.lit("w"), (F.pmod(F.xxhash64(F.col("id"), i), 8000)).cast("string")
            ),
        )
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", words).alias("text"),
        )

    # Gopher screens over 2M docs: raw-counter struct materialized
    # behind a Generate barrier, ratios derived above (PERF finding 14;
    # bare-column form 23s, ratio-struct barrier 16s, this form 3.8s)
    def gopher_2m():
        from hse_etl_ochirov_aldar_spark.functions.text import (
            with_gopher_signals,
        )

        docs = with_gopher_signals(_synth_docs(2_000_000))
        sig = F.col("gsig")
        kept = docs.where(
            sig["mwl"].between(2.0, 10.0)
            & (sig["symr"] <= 0.1)
            & (sig["alphar"] >= 0.8)
            & (sig["bulletr"] <= 0.9)
            & (sig["dupliner"] <= 0.3)
        )
        return kept.count()

    # split + pack 10M docs into 512-token sequences over 1024 shards:
    # one shuffle, per-shard windows (no global sort)
    def pack_10m():
        from hse_etl_ochirov_aldar_spark.operators.sampling import (
            hash_split,
            pack_sequences,
        )

        docs = spark.range(10_000_000).select(
            F.col("id").alias("doc_id"),
            (F.pmod(F.xxhash64("id"), 400) + 10).alias("n_tokens"),
        )
        packed = pack_sequences(
            hash_split(docs, "doc_id"), 512, 1024, "n_tokens", "doc_id"
        )
        return packed.groupBy("split").agg(
            F.countDistinct("shard", "pack_id").alias("n_packs")
        ).count()

    # decontaminate 2M docs against a 10k-text eval set (broadcast semi)
    def decontaminate_2m():
        from hse_etl_ochirov_aldar_spark.operators.decontaminate import (
            contaminated_ids,
        )

        docs = _synth_docs(2_000_000)
        evals = _synth_docs(10_000).select("text")
        return contaminated_ids(docs, evals, n=8).count()

    # incremental dedup: 400k-doc batch (half re-crawled corpus content
    # -- same doc_id -> same deterministic text) against a 2M-doc
    # corpus. Corpus side must stream with zero shuffles.
    def incremental_dedup_2m():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            incremental_dedup,
        )

        corpus = _synth_docs(2_000_000)
        batch = _synth_docs(2_200_000).where(
            (F.col("doc_id") >= 2_000_000) | (F.col("doc_id") % 10 == 0)
        )
        return incremental_dedup(batch, corpus).count()

    # duplicated-span screen over 1M docs: ~26M sliding 5-token spans
    # through the 16-byte-key census + keyed join back; 10% of docs
    # carry a shared boilerplate passage so the dup path does real work
    def span_screen_1m():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            duplicate_span_stats,
        )

        docs = _synth_docs(1_000_000).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.col("text"), F.lit(" the same legal footer text here")
                ),
            ).otherwise(F.col("text")),
        )
        stats = duplicate_span_stats(docs, span_tokens=5)
        flagged = stats.where(F.col("n_dup_spans") > 0).count()
        assert flagged >= 100_000, flagged
        return flagged

    # DSIR importance weights over 2M docs vs a 20k-doc target domain:
    # two vocab censuses + token equi-joins + per-doc regroup
    def dsir_2m():
        from hse_etl_ochirov_aldar_spark.operators.lm_score import (
            importance_weights,
        )

        raw = _synth_docs(2_000_000)
        target = _synth_docs(20_000)
        w = importance_weights(raw, target)
        return w.where(F.col("imp_micro") > 0).count()

    # CCNet bucketing over 2M scored docs in 20 groups: grouped exact
    # percentile bounds broadcast back — no per-group sort
    def ppl_buckets_2m():
        from hse_etl_ochirov_aldar_spark.operators.lm_score import (
            perplexity_buckets,
        )

        scored = spark.range(2_000_000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("g"), (F.col("id") % 20).cast("string")).alias(
                "lang"
            ),
            (F.pmod(F.xxhash64("id"), 400) + 100).alias("n_tokens"),
            (-F.pmod(F.xxhash64("id", F.lit(1)), 4_000_000_000) - 1).alias(
                "lp_micro"
            ),
        )
        b = perplexity_buckets(scored)
        return b.groupBy("ppl_bucket").count().count()

    # near-dup ingest: 200k-doc batch (half re-crawled with trailing
    # chrome) against a 1M-doc corpus — corpus text never shuffles;
    # the batch's banded keys broadcast to probe the corpus stream
    def incremental_minhash_1m():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            incremental_minhash_dedup,
        )

        corpus = _synth_docs(1_000_000)
        batch = _synth_docs(1_200_000).where(
            (F.col("doc_id") >= 1_000_000) | (F.col("doc_id") % 10 == 0)
        ).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            F.when(
                F.col("doc_id") < 1_000_000,
                F.concat(F.col("text"), F.lit(" trailing chrome")),
            ).otherwise(F.col("text")).alias("text"),
        )
        return incremental_minhash_dedup(batch, corpus, threshold=0.6).count()

    # exact-substring removal over 500k docs, 10% carrying a shared
    # 7-token boilerplate passage: census + per-doc regroup + in-array
    # rebuild
    def substring_removal_500k():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            remove_duplicate_spans,
        )

        docs = _synth_docs(500_000).withColumn(
            "text",
            F.when(
                F.col("doc_id") % 10 == 0,
                F.concat(
                    F.col("text"),
                    F.lit(" shared boiler plate passage appears verbatim here"),
                ),
            ).otherwise(F.col("text")),
        )
        out = remove_duplicate_spans(docs, span_tokens=5, min_docs=2)
        cleaned = out.where(F.col("n_tokens_removed") >= 7).count()
        assert cleaned >= 50_000, cleaned
        return cleaned

    # exact vs approx percentile bounds over 10M doubles — the
    # documented 100 TB escape hatch, measured (exact keeps a
    # per-partition value digest; approx bounds memory at rank error
    # <= 1/accuracy)
    def _pct_vals():
        return spark.range(10_000_000).select(
            (F.pmod(F.xxhash64("id"), 1_000_000) / 100.0).alias("value")
        )

    def percentile_exact_10m():
        from hse_etl_ochirov_aldar_spark.operators.percentile import (
            global_percentile_bounds,
        )

        r = global_percentile_bounds(_pct_vals(), "value").collect()[0]
        return [r.p_lo, r.p_hi]

    def percentile_approx_10m():
        from hse_etl_ochirov_aldar_spark.operators.percentile import (
            global_percentile_bounds,
        )

        r = global_percentile_bounds(
            _pct_vals(), "value", approx=True, accuracy=10_000
        ).collect()[0]
        return [r.p_lo, r.p_hi]

    # 21b) rank-based EXACT bounds at 10M rows: the O(1)-task-state twin
    #      of the percentile aggregate (no value->count buffer). Global
    #      case + a 4-huge-groups case (2.5M rows per group — a plain
    #      per-group window would drag each group through ONE task; the
    #      range partitioning splits them). Identity asserted vs the
    #      buffer aggregate both times.
    def percentile_ranked_10m():
        from hse_etl_ochirov_aldar_spark.operators.percentile import (
            global_percentile_bounds,
            grouped_percentile_bounds_ranked,
        )

        t0 = time.perf_counter()
        g_rank = global_percentile_bounds(
            _pct_vals(), "value", strategy="rank"
        ).collect()[0]
        t_global = round(time.perf_counter() - t0, 2)
        g_buf = global_percentile_bounds(_pct_vals(), "value").collect()[0]
        assert (g_rank.p_lo, g_rank.p_hi) == (g_buf.p_lo, g_buf.p_hi)
        spark.catalog.clearCache()

        grouped = spark.range(10_000_000).select(
            F.pmod(F.xxhash64("id", F.lit(3)), F.lit(4)).alias("grp"),
            (F.pmod(F.xxhash64("id"), 1_000_000) / 100.0).alias("value"),
        )
        t0 = time.perf_counter()
        rk = {
            r.grp: (r.p_lo, r.p_hi)
            for r in grouped_percentile_bounds_ranked(
                grouped, "value", ["grp"]
            ).collect()
        }
        t_grouped = round(time.perf_counter() - t0, 2)
        buf = {
            r.grp: (r.p_lo, r.p_hi)
            for r in grouped.groupBy("grp")
            .agg(
                F.percentile("value", F.lit(0.05)).alias("p_lo"),
                F.percentile("value", F.lit(0.95)).alias("p_hi"),
            )
            .collect()
        }
        assert rk == buf
        spark.catalog.clearCache()
        return {
            "global_s": t_global,
            "grouped_4x2.5m_s": t_grouped,
            "identical": True,
        }

    # 21b-skew) ranked percentile under a degenerate tie block: ONE
    #     value owns 30% of 10M rows. Range partitioning can't split
    #     equal keys, so without the internal salt the hot value's 3M
    #     rows would land in a single task; the salt spreads the tie
    #     block across adjacent partitions. Identity vs the buffer
    #     aggregate asserted (ties are interchangeable at a rank).
    def percentile_ranked_skew_10m():
        from hse_etl_ochirov_aldar_spark.operators.percentile import (
            grouped_percentile_bounds_ranked,
        )

        skewed = spark.range(10_000_000).select(
            F.pmod(F.xxhash64("id", F.lit(5)), F.lit(4)).alias("grp"),
            F.when(F.pmod(F.xxhash64("id", F.lit(6)), F.lit(10)) < 3, F.lit(42.0))
            .otherwise(F.pmod(F.xxhash64("id"), 1_000_000) / 100.0)
            .alias("value"),
        )
        t0 = time.perf_counter()
        rk = {
            r.grp: (r.p_lo, r.p_hi)
            for r in grouped_percentile_bounds_ranked(
                skewed, "value", ["grp"]
            ).collect()
        }
        t_ranked = round(time.perf_counter() - t0, 2)
        buf = {
            r.grp: (r.p_lo, r.p_hi)
            for r in skewed.groupBy("grp")
            .agg(
                F.percentile("value", F.lit(0.05)).alias("p_lo"),
                F.percentile("value", F.lit(0.95)).alias("p_hi"),
            )
            .collect()
        }
        assert rk == buf
        spark.catalog.clearCache()
        return {"ranked_s": t_ranked, "identical": True}

    # 21c) mergeable HLL uniques at 20M events / 100k users / 120 days:
    #      the raw scan builds ONE sketch row per day (map-side
    #      combinable, fixed 2^12 registers per task); the trailing-7d
    #      rollup then unions <=7 tiny rows per window — history never
    #      rescanned. Compare vs the exact sliding distinct (pairs
    #      exploded onto covering windows) and assert every window's
    #      estimate inside the 5% audit bound.
    def hll_rolling_uniques_20m():
        from pyspark.sql import Window

        ev = spark.range(20_000_000).select(
            F.date_add(
                F.lit("2024-01-01").cast("date"),
                F.pmod(F.xxhash64("id"), F.lit(120)).cast("int"),
            ).alias("day"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(100_000)).alias("user_id"),
        )
        t0 = time.perf_counter()
        daily = ev.groupBy("day").agg(
            F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
        ).persist()
        n_days = daily.count()
        t_build = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        cover = F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("wday")
        est = {
            r.wday: r.est
            for r in daily.select(cover, "sk")
            .groupBy("wday")
            .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
            .collect()
        }
        t_union = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        exact = {
            r.wday: r.u
            for r in ev.distinct()
            .select(cover, "user_id")
            .groupBy("wday")
            .agg(F.count_distinct("user_id").alias("u"))
            .collect()
        }
        t_exact = round(time.perf_counter() - t0, 2)
        daily.unpersist()
        worst = max(
            abs(est[d] - exact[d]) / exact[d] for d in exact if d in est
        )
        assert worst <= 0.05, worst
        return {
            "days": n_days,
            "sketch_build_s": t_build,
            "window_union_s": t_union,
            "exact_sliding_s": t_exact,
            "worst_rel_err": round(worst, 4),
        }

    # 22) SemDeDup at 100k vectors: offline-fit centroids (hash sample
    #     quantized to micro-units) injected, 128 learned clusters,
    #     within-cluster pairs only (~100k*390/2 = 20M candidate pairs
    #     collapsed by cluster blocking from the 5e9 exact pair space)
    def semantic_dedup_100k():
        from hse_etl_ochirov_aldar_spark.operators.similarity import (
            semantic_dedup_flags,
        )

        n, cells = 100_000, 128
        vecs = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: (F.pmod(F.xxhash64(F.col("id"), i), 1000) / 1000.0).cast(
                    "float"
                ),
            ).alias("embedding"),
        )
        sample = (
            vecs.orderBy(F.xxhash64("vec_id"), "vec_id").limit(cells).collect()
        )
        cents = [
            [int(round(float(x) * 1_000_000)) for x in r["embedding"]]
            for r in sample
        ]
        return (
            semantic_dedup_flags(
                vecs, threshold=0.998, n_cells=cells, centroids=cents
            )
            .where(~F.col("is_dup"))
            .count()
        )

    # 23) seeded training shuffle over 10M docs into 1024 shards: one
    #     row-local hash pair + one shuffle + per-shard windows
    def training_shuffle_10m():
        from hse_etl_ochirov_aldar_spark.operators.sampling import (
            training_shuffle,
        )

        docs = spark.range(10_000_000).select(F.col("id").alias("doc_id"))
        out = training_shuffle(docs, "doc_id", n_shards=1024, seed=3)
        return out.select(
            F.sum(F.col("position") * ((F.col("shard") % 7) + 1))
        ).collect()[0][0]

    # n-gram diversity over 2M docs x 20 sources: three Zipf-compressed
    # censuses (uni/bi/tri) + micro-nat entropy, no joins in the row path
    def _div_docs():
        return _synth_docs(2_000_000).select(
            (F.col("doc_id") % 20).cast("string").alias("source"), "text"
        )

    def ngram_diversity_2m():
        from hse_etl_ochirov_aldar_spark.operators.diversity import (
            ngram_diversity_stats,
        )

        out = ngram_diversity_stats(_div_docs(), "source").collect()
        return int(sum(r["n_tokens"] for r in out))

    def ngram_diversity_2m_approx():
        from hse_etl_ochirov_aldar_spark.operators.diversity import (
            ngram_diversity_stats,
        )

        out = ngram_diversity_stats(
            _div_docs(), "source", approx=True
        ).collect()
        return int(sum(r["n_tokens"] for r in out))

    # cluster-balanced draw over 200k x 16-dim vectors, 64 cells:
    # integer Lloyd fit + Arrow int64 argmin labels + one quota window.
    def cluster_balanced_200k():
        from hse_etl_ochirov_aldar_spark.operators.sampling import (
            cluster_balanced_sample,
        )

        vecs = spark.range(200_000).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: (
                    F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0
                ).cast("float"),
            ).alias("embedding"),
        )
        s = cluster_balanced_sample(vecs, total=10_000, n_cells=64, iters=2)
        return s.select("vec_id").distinct().count()

    # cluster-balanced draw at 1M vectors (5x the 200k row): labeling
    # is the per-row cost, carried by the Arrow kernel's BLAS argmin.
    def cluster_balanced_1m():
        from hse_etl_ochirov_aldar_spark.operators.sampling import (
            cluster_balanced_sample,
        )

        vecs = spark.range(1_000_000).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: (
                    F.pmod(F.xxhash64(F.col("id"), i), 1000) / 500.0 - 1.0
                ).cast("float"),
            ).alias("embedding"),
        )
        s = cluster_balanced_sample(vecs, total=20_000, n_cells=64, iters=2)
        return s.select("vec_id").distinct().count()

    # Q21 EXISTS/NOT-EXISTS rewrite at 10M lineitems / 1.5M orders:
    # one orderkey shuffle + window over the aggregated relation
    def waiting_orders_10m():
        li = spark.range(10_000_000).select(
            (F.col("id") % 1_500_000).alias("l_orderkey"),
            F.pmod(F.xxhash64("id"), 100).alias("l_suppkey"),
            F.timestamp_seconds(
                F.lit(1700000000) + F.pmod(F.xxhash64("id", F.lit(2)), 20_000_000)
            ).alias("l_shipdate"),
        )
        orders = spark.range(1_500_000).select(
            F.col("id").alias("o_orderkey"),
            F.timestamp_seconds(F.lit(1700000000)).alias("o_orderdate"),
        )
        from pyspark.sql import Window

        joined = li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        per = joined.groupBy("l_orderkey", "l_suppkey").agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS")
                ).cast("long")
            ).alias("late")
        )
        w = Window.partitionBy("l_orderkey")
        blamed = (
            per.withColumn("nsupp", F.count(F.lit(1)).over(w))
            .withColumn("nlate", F.sum("late").over(w))
            .where(
                (F.col("late") == 1)
                & (F.col("nsupp") >= 2)
                & (F.col("nlate") == 1)
            )
        )
        return blamed.groupBy("l_suppkey").count().count()

    # the cardinality escape hatch: exact count_distinct vs HLL++
    # approx_count_distinct on 10M rows / ~5M distinct keys
    def distinct_exact_10m():
        df = spark.range(10_000_000).select(
            F.pmod(F.xxhash64("id"), 5_000_000).alias("k")
        )
        return df.agg(F.count_distinct("k")).collect()[0][0]

    def distinct_approx_10m():
        df = spark.range(10_000_000).select(
            F.pmod(F.xxhash64("id"), 5_000_000).alias("k")
        )
        return df.agg(F.approx_count_distinct("k", 0.01)).collect()[0][0]

    # real binary decode throughput: 500k JVM-built P6 images through
    # the numpy PPM parser inside Arrow mapInPandas batches
    def ppm_decode_500k():
        from hse_etl_ochirov_aldar_spark.operators.multimodal import (
            extract_media_features,
            ppm_decoder,
        )

        media = (
            spark.range(500_000)
            .select(
                F.col("id").alias("media_id"),
                F.lit("image").alias("kind"),
                (1 + F.col("id") % 13).cast("int").alias("__w"),
                (1 + F.col("id") % 7).cast("int").alias("__h"),
                (32 + F.col("id") % 96).cast("int").alias("__r"),
            )
            .select(
                "media_id",
                "kind",
                F.encode(
                    F.concat(
                        F.lit("P6\n"),
                        F.col("__w").cast("string"),
                        F.lit(" "),
                        F.col("__h").cast("string"),
                        F.lit("\n255\n"),
                        F.expr(
                            "repeat(concat(char(__r), char(40), char(50)),"
                            " __w * __h)"
                        ),
                    ),
                    "utf-8",
                ).alias("payload"),
            )
            .repartition(32)
        )
        return int(
            extract_media_features(media, decoder=ppm_decoder)
            .agg(F.sum("checksum"))
            .collect()[0][0]
        )

    # funnel at 10M events / 100k users: k filtered aggregates + k-1
    # key joins, no full-stream window
    def funnel_10m():
        from hse_etl_ochirov_aldar_spark.operators.funnel import (
            funnel_report,
        )

        ev = spark.range(10_000_000).select(
            (F.col("id") % 100_000).alias("user_id"),
            F.timestamp_seconds(
                F.lit(1700000000) + F.pmod(F.xxhash64("id"), 10_000_000)
            ).alias("ts"),
            F.element_at(
                F.array(
                    F.lit("view"), F.lit("click"), F.lit("purchase"),
                    F.lit("error"),
                ),
                (F.pmod(F.xxhash64("id", F.lit(1)), 4) + 1).cast("int"),
            ).alias("event_type"),
        )
        r = funnel_report(
            ev, ["view", "click", "purchase"], window_seconds=86400
        ).collect()[0]
        return int(r["n_step3"])

    # sf1.0-equivalent flagship: the full keep-best near-dedup ->
    # diversity-report composition (the catalog's curation_pipeline_v4
    # shape) on 153k distinct synthetic docs with 2% injected near-dups
    # — a decade above the sf0.1 gate scale, to confirm the LSH banding
    # + star CC + census story stays ~linear (measured r4: 51k 7.1s ->
    # 153k 12.8s, 3x data for 1.8x time).
    def keep_best_curation_150k():
        from hse_etl_ochirov_aldar_spark.functions.text import token_count
        from hse_etl_ochirov_aldar_spark.operators.diversity import (
            ngram_diversity_stats,
        )
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            minhash_dedup_keep_best,
        )

        n = 150_000
        words = F.transform(
            F.sequence(F.lit(1), F.lit(30)),
            lambda i: F.concat(
                F.lit("w"), (F.pmod(F.xxhash64(F.col("id"), i), 8000)).cast("string")
            ),
        )
        base = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("lang"), (F.col("id") % 5).cast("string")).alias("lang"),
            F.concat_ws(" ", words).alias("text"),
        )
        dups = base.where(F.col("doc_id") < n // 50).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"),
            "lang",
            F.concat("text", F.lit(" nearduplicate tail")).alias("text"),
        )
        docs = base.unionByName(dups)
        kept = minhash_dedup_keep_best(
            docs, token_count(F.col("text")), threshold=0.6
        )
        ngram_diversity_stats(kept, "lang", "text").collect()
        return kept.count()

    timed("keep_best_curation_150k_docs", keep_best_curation_150k)

    # star-contraction CC on an adversarial DEEP CHAIN: 10k-diameter
    # path graph plus bulk shallow components. Min-label propagation
    # would need 10k rounds here; large-star/small-star must finish in
    # O(log^2) rounds (the 100 TB crawl-ring case).
    def cc_star_deep_chain():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            connected_components_star,
        )

        chain = spark.range(10_000).select(
            F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
        )
        # 100k extra 2-node components so the edge volume is not toy
        bulk = spark.range(100_000).select(
            (F.col("id") * 2 + 1_000_000).alias("id_a"),
            (F.col("id") * 2 + 1_000_001).alias("id_b"),
        )
        labels = connected_components_star(chain.unionByName(bulk))
        # every chain node must land on rep 0
        return (
            labels.where((F.col("id") <= 10_000) & (F.col("rep") == 0))
            .count()
        )

    timed("cc_star_10k_deep_chain", cc_star_deep_chain)
    timed("funnel_10m_events", funnel_10m)
    timed("ppm_decode_500k_images", ppm_decode_500k)
    timed("ngram_diversity_2m_docs", ngram_diversity_2m)

    # 32) Zipf-skew stress for the census/dedup family (r8 verdict
    #     task #5): the sf1.0 upsampler preserves distributions, so
    #     these corpora deliberately plant ONE hot key owning ~20% of
    #     spans / segments / LSH-bucket membership and report
    #     uniform-vs-skewed wall time at identical scale. Bounded
    #     ratios = no superlinear blowup: the censuses combine
    #     map-side before the exchange (the hot key arrives at its
    #     reducer as ~n_partitions partial rows, not ~n_docs rows),
    #     AQE splits the skewed post-census joins, and the LSH bucket
    #     cap chains the boilerplate bucket instead of squaring it.
    _HOT_TEXT = " ".join(f"boiler{i}" for i in range(30))

    def _skewed_corpus(n, hot_every=5):
        return _synth_docs(n).withColumn(
            "text",
            F.when(
                F.col("doc_id") % hot_every == 0, F.lit(_HOT_TEXT)
            ).otherwise(F.col("text")),
        )

    def _ab(label_uniform, build_uniform, build_skewed):
        t0 = time.perf_counter()
        u = build_uniform()
        t_uni = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        s = build_skewed()
        t_skew = round(time.perf_counter() - t0, 2)
        return {
            "uniform_s": t_uni,
            "skew_s": t_skew,
            "ratio": round(t_skew / t_uni, 2) if t_uni else None,
            "uniform_out": u,
            "skew_out": s,
        }

    def span_screen_skew_500k():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            duplicate_span_stats,
        )

        n = 500_000

        def run(docs):
            return (
                duplicate_span_stats(docs, span_tokens=5)
                .agg(
                    F.sum("n_dup_spans").alias("d"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()[0]["n"]
            )

        out = _ab(
            "span",
            lambda: run(_synth_docs(n)),
            lambda: run(_skewed_corpus(n)),
        )
        assert out["uniform_out"] == n and out["skew_out"] == n
        return out

    def line_dedup_skew_300k():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            segment_boilerplate_removal,
        )

        n = 300_000

        def run(docs):
            return (
                segment_boilerplate_removal(docs, chunk_words=10)
                .agg(
                    F.sum("n_segments_removed").alias("r"),
                    F.count(F.lit(1)).alias("n"),
                )
                .collect()[0]["n"]
            )

        out = _ab(
            "line",
            lambda: run(_synth_docs(n)),
            lambda: run(_skewed_corpus(n)),
        )
        assert out["uniform_out"] == n and out["skew_out"] == n
        return out

    def minhash_skew_300k():
        from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
            minhash_lsh_candidates,
        )

        n = 300_000

        def run(docs):
            return minhash_lsh_candidates(docs).count()

        out = _ab(
            "minhash",
            lambda: run(_synth_docs(n)),
            lambda: run(_skewed_corpus(n)),
        )
        # the 60k-doc boilerplate bucket must CHAIN (b-1 pairs per
        # band, deduped across bands), never square: pair count stays
        # linear in the hot-group size
        assert out["skew_out"] < 2 * (n // 5), out["skew_out"]
        return out

    # 31) quantizer fit over 2M x 16-dim vectors, 64 cells: the
    #     sample-cap path (one TakeOrdered collect of 4096 micro-
    #     vectors + driver-local integer Lloyd) vs the distributed
    #     iteration path (iters+2 full scans with an interpreted-HOF
    #     64-way argmin per row per round). Same integer arithmetic;
    #     identical centroids whenever the corpus fits the cap.
    def quantizer_fit_2m():
        from hse_etl_ochirov_aldar_spark.operators.similarity import (
            exact_kmeans_centroids,
        )

        n = 2_000_000
        vecs = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(16)),
                lambda i: (
                    F.pmod(F.xxhash64(F.col("id"), i), 1000) / 1000.0
                ).cast("float"),
            ).alias("embedding"),
        )
        t0 = time.perf_counter()
        exact_kmeans_centroids(vecs, n_cells=64, iters=3, sample_cap=4096)
        t_samp = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        exact_kmeans_centroids(vecs, n_cells=64, iters=3)
        t_full = round(time.perf_counter() - t0, 2)
        return {"sample_cap_s": t_samp, "distributed_s": t_full}

    timed("ngram_diversity_2m_docs_approx", ngram_diversity_2m_approx)
    timed("cluster_balanced_sample_200k", cluster_balanced_200k)
    timed("cluster_balanced_sample_1m", cluster_balanced_1m)
    timed("waiting_orders_blame_10m", waiting_orders_10m)
    timed("distinct_exact_10m", distinct_exact_10m)
    timed("distinct_approx_10m", distinct_approx_10m)
    timed("semantic_dedup_100k_vectors", semantic_dedup_100k)
    timed("training_shuffle_10m_docs", training_shuffle_10m)
    timed("sessionize_10m_events", sessionize_10m)
    timed("percentile_exact_bounds_10m", percentile_exact_10m)
    timed("percentile_approx_bounds_10m", percentile_approx_10m)
    timed("percentile_ranked_bounds_10m", percentile_ranked_10m)
    timed("hll_rolling_uniques_20m", hll_rolling_uniques_20m)
    timed("percentile_ranked_skew_10m", percentile_ranked_skew_10m)
    timed("exact_substring_removal_500k_docs", substring_removal_500k)
    timed("dsir_importance_2m_docs", dsir_2m)
    timed("perplexity_buckets_2m_docs", ppl_buckets_2m)
    timed("incremental_minhash_400k_batch_vs_1m_corpus", incremental_minhash_1m)
    timed("incremental_dedup_2m_corpus_200k_batch", incremental_dedup_2m)
    timed("span_screen_1m_docs", span_screen_1m)
    timed("asof_join_5m_probes", asof_5m)
    timed("range_join_5m_probes", range_5m)
    timed("minhash_lsh_300k_docs", minhash_300k)
    timed("skewed_join_plain_5m", skew_plain)
    timed("skewed_join_salted_5m", skew_salted)
    timed("embedding_near_dedup_blocked_200k", embedding_blocked_200k)
    timed("srp_lsh_near_pairs_200k", srp_lsh_200k)
    timed("coreset_then_srp_200k_composed_arrow", coreset_then_srp_200k)
    timed("gopher_filters_2m_docs", gopher_2m)
    timed("split_pack_10m_docs", pack_10m)
    timed("decontaminate_2m_docs", decontaminate_2m)
    timed("quantizer_fit_2m_sample_cap", quantizer_fit_2m)
    timed("span_screen_skew_500k", span_screen_skew_500k)
    timed("line_dedup_skew_300k", line_dedup_skew_300k)
    timed("minhash_skew_300k", minhash_skew_300k)

    # 30) join-strategy quota sampling at 1M GROUPS (r10 verdict task
    #     #3): the regime the collect strategy's guard refuses — quotas
    #     stay a DataFrame (exact in-plan isqrt, BIGINT div), attach by
    #     equi-join, nothing reaches the driver. Correctness cross-check
    #     at 50k groups (collect path with a raised guard must select
    #     the IDENTICAL rows); the 1M-group run proves the scale path.
    def quota_join_1m_groups():
        from hse_etl_ochirov_aldar_spark.operators.sampling import (
            temperature_mixture_sample,
        )

        df = spark.range(5_000_000).select(
            F.pmod(F.xxhash64("id"), F.lit(1_000_000)).alias("g"),
            F.col("id").alias("k"),
        )
        t0 = time.perf_counter()
        n_join = temperature_mixture_sample(
            df, "g", "k", total=2_000_000, strategy="join"
        ).count()
        t_1m = round(time.perf_counter() - t0, 2)

        small = spark.range(500_000).select(
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(50_000)).alias("g"),
            F.col("id").alias("k"),
        )
        a = temperature_mixture_sample(
            small, "g", "k", total=100_000, strategy="join"
        ).agg(F.sum("k").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        b = temperature_mixture_sample(
            small, "g", "k", total=100_000, max_groups=50_000
        ).agg(F.sum("k").alias("s"), F.count(F.lit(1)).alias("n")).collect()[0]
        assert (a.s, a.n) == (b.s, b.n), (a, b)
        return {"groups_1m_s": t_1m, "n_sampled": n_join,
                "identical_50k_groups": True}

    # 31) ranked percentile bounds at 300k groups — past the census
    #     broadcast threshold (100k rows), so the offsets join runs
    #     WITHOUT the broadcast hint (AQE chooses); identity vs the
    #     buffer aggregate still exact (r10 verdict task #2).
    def percentile_ranked_300k_groups():
        from hse_etl_ochirov_aldar_spark.operators.percentile import (
            grouped_percentile_bounds_ranked,
        )

        df = spark.range(6_000_000).select(
            F.pmod(F.xxhash64("id"), F.lit(300_000)).alias("grp"),
            (F.pmod(F.xxhash64("id", F.lit(1)), 1_000_000) / 100.0).alias(
                "value"
            ),
        )
        t0 = time.perf_counter()
        rk = grouped_percentile_bounds_ranked(df, "value", ["grp"])
        n = rk.count()
        t_ranked = round(time.perf_counter() - t0, 2)
        bad = (
            rk.select("grp", F.col("p_lo").alias("r_lo"), F.col("p_hi").alias("r_hi"))
            .join(
                df.groupBy("grp").agg(
                    F.percentile("value", F.lit(0.05)).alias("b_lo"),
                    F.percentile("value", F.lit(0.95)).alias("b_hi"),
                ),
                "grp",
                "full",
            )
            .where(
                (~F.col("r_lo").eqNullSafe(F.col("b_lo")))
                | (~F.col("r_hi").eqNullSafe(F.col("b_hi")))
            )
            .count()
        )
        assert bad == 0
        spark.catalog.clearCache()
        return {"ranked_s": t_ranked, "n_groups": n, "identical": True}

    # 32) quota sampling under a DEGENERATE hot group: one group owns
    #     50% of 5M rows. The old single-window rank would drag all
    #     2.5M rows through ONE reducer (window partitions are the one
    #     thing AQE cannot split); the r10 skew_safe=True two-stage rank
    #     bounds every task. A/B on identical data: same membership
    #     checksum; locally the single window WINS (one task sorting
    #     2.5M rows is cheap; the two-stage pays a 2nd shuffle+sort),
    #     which is exactly why explicit skew_safe=True is reserved for
    #     executor-breaking group sizes — and why the r11 auto default
    #     (skew_safe=None) routes per group by a 10M-row threshold
    #     instead of flipping the whole draw (check 33 below).
    def quota_skew_hot_group_5m():
        from pyspark.sql import Window

        from hse_etl_ochirov_aldar_spark.operators.sampling import (
            hash_bucket,
            quota_sample,
        )

        df = spark.range(5_000_000).select(
            F.when(F.col("id") % 2 == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 997).cast("string")))
            .alias("g"),
            F.col("id").alias("k"),
        )
        t0 = time.perf_counter()
        two = quota_sample(df, "g", 1000, "k", skew_safe=True).agg(
            F.sum("k").alias("s"), F.count(F.lit(1)).alias("n")
        ).collect()[0]
        t_two = round(time.perf_counter() - t0, 2)
        w = Window.partitionBy("g").orderBy(
            hash_bucket("k", 1_000_000_007), F.col("k")
        )
        t0 = time.perf_counter()
        one = (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= 1000)
            .agg(F.sum("k").alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()[0]
        )
        t_one = round(time.perf_counter() - t0, 2)
        assert (two.s, two.n) == (one.s, one.n), (two, one)
        return {
            "two_stage_s": t_two,
            "single_window_s": t_one,
            "identical_draw": True,
            "n_sampled": two.n,
        }

    # 33) r11 auto skew_safe routing, both sides of the documented
    #     SKEW_SAFE_GROUP_ROWS=10M threshold:
    #     (a) BELOW — max group 2.5M: the hot slice of the routed plan
    #         is provably EMPTY (zero groups above threshold), so auto
    #         pays only the census on top of the single window — never
    #         the 8.8s-vs-1.25s two-stage tax (finding 37).
    #     (b) ABOVE — one 12M-row group: auto routes it through the
    #         salted two-stage rank; membership equals the naive
    #         single-window draw exactly (checksum + count).
    def quota_auto_route_threshold():
        from hse_etl_ochirov_aldar_spark.operators.sampling import (
            SKEW_SAFE_GROUP_ROWS,
            quota_sample,
        )

        # (a) below threshold: same 5M frame as check 32
        df = spark.range(5_000_000).select(
            F.when(F.col("id") % 2 == 0, F.lit("hot"))
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 997).cast("string")))
            .alias("g"),
            F.col("id").alias("k"),
        )
        n_over = (
            df.groupBy("g")
            .count()
            .where(F.col("count") > SKEW_SAFE_GROUP_ROWS)
            .count()
        )
        assert n_over == 0  # the hot branch salts zero groups

        def min2(frame_fn):
            """min-of-2 with a checksum: first execution pays
            whole-stage codegen, which at this scale is bigger than
            the auto-vs-single delta itself (bench.py precedent)."""
            best, out = None, None
            for _ in range(2):
                t0 = time.perf_counter()
                out = frame_fn().agg(
                    F.sum("k").alias("s"), F.count(F.lit(1)).alias("n")
                ).collect()[0]
                dt = round(time.perf_counter() - t0, 2)
                best = dt if best is None else min(best, dt)
            return best, out

        t_auto, auto = min2(lambda: quota_sample(df, "g", 1000, "k"))
        t_single, single = min2(
            lambda: quota_sample(df, "g", 1000, "k", skew_safe=False)
        )
        assert (auto.s, auto.n) == (single.s, single.n)

        # (b) above threshold: one 12M-row group + 997 small ones
        big = spark.range(16_000_000).select(
            F.when(F.col("id") % 4 != 0, F.lit("mega"))
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 997).cast("string")))
            .alias("g"),
            F.col("id").alias("k"),
        )
        t_auto_b, auto_b = min2(lambda: quota_sample(big, "g", 1000, "k"))
        t_single_b, single_b = min2(
            lambda: quota_sample(big, "g", 1000, "k", skew_safe=False)
        )
        assert (auto_b.s, auto_b.n) == (single_b.s, single_b.n)
        return {
            "below_auto_s": t_auto,
            "below_single_s": t_single,
            "below_groups_salted_hot": n_over,
            "above_auto_s": t_auto_b,
            "above_single_s": t_single_b,
            "identical_draw": True,
        }

    # 34) r11 HTML main-content extraction at volume: 200k synthetic
    #     pages (~1 KB each). The operator is row-local array lambdas,
    #     so wall-clock must scale linearly with pages and parallelize
    #     across all cores — no shuffle exists to become a bottleneck.
    def html_extract_200k():
        from hse_etl_ochirov_aldar_spark.operators.html_extract import (
            extract_main_content,
        )

        body = (
            "This is sentence %d of a realistic article paragraph "
            "holding enough prose to clear the length screen easily."
        )
        pages = spark.range(200_000).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit('<div class="nav"><a href="/">Home</a> '
                      '<a href="/x">About page</a></div>'
                      # r12: non-content bodies in the hot path so the
                      # strip pass is part of the measured cost
                      '<script>var t = track("x"); t.send(99);</script>'
                      '<!-- rendered by engine build 123 --><p>'),
                F.format_string(body, F.pmod(F.col("id"), F.lit(997))),
                F.lit('</p><div>Plenty of mixed prose text with one '
                      'small <a href="/l">link</a> among words.</div>'
                      '<p>No.</p><style>.x{margin:0}</style>'
                      '<div class="footer">'
                      '<a href="/t">Terms of service</a></div>'),
            ).alias("html"),
        )
        t0 = time.perf_counter()
        row = (
            extract_main_content(pages)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_kept_blocks").alias("kept"),
                F.sum(F.length("content")).alias("chars"),
            )
            .collect()[0]
        )
        dt = round(time.perf_counter() - t0, 2)
        assert row.n == 200_000 and row.kept == 2 * 200_000
        return {
            "seconds": dt,
            "pages_per_sec": int(200_000 / dt),
            "kept_blocks": row.kept,
            "content_chars": row.chars,
        }

    # link graph at frontier-ish shape: 200k pages across a 10k-host
    # universe, ~4 resolvable links per page -> row-local extraction,
    # host-pair-bounded edge aggregation (~600k distinct pairs), then
    # 3 directed exact-integer rounds on the 10k-node host graph —
    # the full link_host_pagerank chain with a graph 170x the catalog
    # fixture's
    def link_graph_200k():
        from hse_etl_ochirov_aldar_spark.operators.graph import (
            pagerank_exact_directed,
        )
        from hse_etl_ochirov_aldar_spark.operators.link_graph import (
            extract_links,
            host_link_edges,
        )

        host = F.pmod(F.col("id"), F.lit(10_000)).cast("string")
        t = [
            F.pmod(F.col("id") * 7 + k, F.lit(10_000)).cast("string")
            for k in (1, 2, 3)
        ]
        pages = spark.range(200_000).select(
            F.col("id").alias("doc_id"),
            F.concat(
                F.lit("https://h"), host, F.lit(".example/p"),
                F.col("id").cast("string"),
            ).alias("url"),
            F.concat(
                F.lit('<p><a href="/nav">Site navigation link</a> '),
                F.lit('<a href="https://h'), t[0],
                F.lit('.example/a">First related article</a> '),
                F.lit('<a href="//h'), t[1],
                F.lit('.example/b">Second related article</a> '),
                F.lit("<a href='https://h"), t[2],
                F.lit(".example/c'>Third related article</a> "),
                F.lit('<a href="#top">Back to top</a></p>'),
            ).alias("html"),
        )
        t0 = time.perf_counter()
        links = extract_links(pages).localCheckpoint()
        n_links = links.count()
        t_extract = round(time.perf_counter() - t0, 2)
        e = (
            host_link_edges(links)
            .select(F.col("src_host").alias("src"), F.col("dst_host").alias("dst"))
            .localCheckpoint()
        )
        n_edges = e.count()
        t_edges = round(time.perf_counter() - t0 - t_extract, 2)
        pr = pagerank_exact_directed(e, iters=3)
        n_hosts = pr.count()
        dt = round(time.perf_counter() - t0, 2)
        # 4 resolvable links per page (nav + 3 cross-host); fragment
        # dropped. Host self-loops (t_k == own host) fold out of the
        # edge list; nav links are all self-loops.
        assert n_links == 4 * 200_000, n_links
        assert n_hosts == 10_000, n_hosts
        return {
            "seconds": dt,
            "extract_s": t_extract,
            "edges_s": t_edges,
            "rank_s": round(dt - t_extract - t_edges, 2),
            "pages_per_sec": int(200_000 / dt),
            "n_links": n_links,
            "n_host_edges": n_edges,
        }

    timed("quota_join_1m_groups", quota_join_1m_groups)
    timed("percentile_ranked_300k_groups", percentile_ranked_300k_groups)
    timed("quota_skew_hot_group_5m", quota_skew_hot_group_5m)
    timed("quota_auto_route_threshold", quota_auto_route_threshold)
    timed("html_extract_200k", html_extract_200k)
    timed("link_graph_200k", link_graph_200k)
    spark.stop()


if __name__ == "__main__":
    main()
