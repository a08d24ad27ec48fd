"""Corpus-curation operators: Gopher quality screens, PII redaction,
deterministic hash splits, per-domain quota sampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.functions.text import (
    PII_PATTERNS,
    pii_count,
    redact_pii,
)
from hse_etl_ochirov_aldar_spark.operators.sampling import (
    hash_bucket,
    hash_split,
    quota_sample,
)
from hse_etl_ochirov_aldar_spark.sources.readers import load_table


def test_hash_split_partitions_everything_deterministically(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    s = hash_split(docs, "doc_id")
    n = docs.count()
    # total preserved, no NULL split
    by = {r.split: r.n for r in s.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(by.values()) == n and set(by) <= {"train", "val", "test"}
    # roughly fraction-accurate (hash uniformity at n=500: train 80% +- 10pt)
    assert 0.7 <= by["train"] / n <= 0.9
    # membership is a pure function of the key: identical across runs AND
    # across partitionings (the failure mode of rand()/monotonic ids)
    a = {(r.doc_id, r.split) for r in s.select("doc_id", "split").collect()}
    b = {
        (r.doc_id, r.split)
        for r in hash_split(docs.repartition(7, "lang"), "doc_id")
        .select("doc_id", "split")
        .collect()
    }
    assert a == b


def test_hash_split_weights_validated(spark):
    df = spark.range(10)
    with pytest.raises(ValueError):
        hash_split(df, "id", {"train": 50, "test": 20})


def test_quota_sample_caps_every_group(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    out = quota_sample(docs, "source", 7, "doc_id")
    per = out.groupBy("source").agg(F.count("*").alias("n")).collect()
    assert all(r.n <= 7 for r in per)
    # groups smaller than the quota pass through whole
    small = quota_sample(docs.where(F.col("doc_id") < 3), "source", 7, "doc_id")
    assert small.count() == 3
    # deterministic: same ids regardless of input partitioning
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in quota_sample(docs.repartition(13), "source", 7, "doc_id")
        .select("doc_id")
        .collect()
    )
    assert a == b


def test_redact_pii_scrubs_all_patterns(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob.smith+x@corp.example.org now"),
            (2, "dial +49 030-1234 tonight"),
            (3, "host 192.168.0.1 up"),
            (4, "clean text stays clean"),
        ],
        ["id", "text"],
    )
    red = df.select(
        "id",
        redact_pii(F.col("text")).alias("red"),
        *[pii_count(F.col("text"), k).alias(k.lower()) for k in PII_PATTERNS],
    )
    rows = {r.id: r for r in red.collect()}
    assert rows[1].red == "mail <EMAIL> now" and rows[1].email == 1
    assert rows[2].red == "dial <PHONE> tonight" and rows[2].phone == 1
    assert rows[3].red == "host <IP> up" and rows[3].ip == 1
    assert rows[4].red == "clean text stays clean"
    # redacted text has no remaining matches for any pattern
    residual = red.select(
        sum(
            F.size(F.regexp_extract_all(F.col("red"), F.lit(p), 0))
            for p in PII_PATTERNS.values()
        ).alias("left")
    ).agg(F.sum("left").alias("s")).collect()[0].s
    assert residual == 0


def test_gopher_filters_reject_exactly_the_fixtures(spark, sf_dir):
    """Each injected bad doc fails its target screen; the real corpus is
    untouched by screens the fixtures target (en row aside, every other
    lang keeps all docs)."""
    from hse_etl_ochirov_aldar_spark.queries import q_gopher_quality_filters

    rows = {r.lang: r for r in q_gopher_quality_filters(spark, sf_dir).collect()}
    en = rows["en"]
    assert en.n_docs - en.n_kept == 7  # exactly the 7 fixtures die
    for col in ("n_len", "n_mwl", "n_symbol", "n_alpha", "n_bullet",
                "n_ellipsis", "n_dupline"):
        assert getattr(en, col) >= 1  # every screen fires at least once
    for lang, r in rows.items():
        if lang != "en":
            assert r.n_kept == r.n_docs


def test_decontaminate_flags_fixtures_and_spares_controls(spark, sf_dir):
    """Every 20th doc is contaminated by construction (its own 8-token
    slice seeds the eval set); the no-match control prompts flag
    nothing; clean + contaminated partitions the corpus."""
    from hse_etl_ochirov_aldar_spark.operators.decontaminate import (
        contaminated_ids,
        ngram_decontaminate,
    )
    from hse_etl_ochirov_aldar_spark.queries import (
        _DECONTAM_CLEAN_PROMPTS,
        q_decontaminate_docs,
    )
    from hse_etl_ochirov_aldar_spark.functions.text import whitespace_tokens

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    evals = docs.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(" ", F.slice(whitespace_tokens(F.col("text")), 2, 8)).alias("text")
    )
    bad = {r.doc_id for r in contaminated_ids(docs, evals, n=8).collect()}
    fixtures = {r.doc_id for r in docs.where(F.col("doc_id") % 20 == 0).collect()}
    assert fixtures <= bad  # all seeded docs caught
    clean = ngram_decontaminate(docs, evals, n=8)
    assert clean.count() == n - len(bad)
    # control prompts alone catch nothing
    controls = spark.createDataFrame(
        [(t,) for t in _DECONTAM_CLEAN_PROMPTS], "text STRING"
    )
    assert contaminated_ids(docs, controls, n=8).count() == 0
    # report partitions the corpus
    rep = q_decontaminate_docs(spark, sf_dir).agg(
        F.sum("n_docs").alias("d"),
        F.sum("n_contaminated").alias("c"),
        F.sum("n_clean").alias("k"),
    ).collect()[0]
    assert rep.d == rep.c + rep.k == n


def test_decontaminate_plan_broadcasts_eval_side(spark, sf_dir):
    """The corpus never shuffles: the eval shingle set broadcasts into
    a LEFT SEMI hash join (the 100 TB contract of the operator)."""
    from hse_etl_ochirov_aldar_spark.queries import q_decontaminate_docs

    plan = (
        q_decontaminate_docs(spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_pack_sequences_invariants(spark, sf_dir):
    """Packs per shard are contiguous from 0; every non-final pack's
    fill is within one max-doc of the budget (the greedy boundary
    rule); assignment is a pure function of the key — identical under
    any input partitioning."""
    from hse_etl_ochirov_aldar_spark.operators.sampling import pack_sequences

    budget = 512
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens")
    )
    max_doc = docs.agg(F.max("n_tokens")).collect()[0][0]
    packed = pack_sequences(docs, budget, 8, "n_tokens", "doc_id")
    per_pack = (
        packed.groupBy("shard", "pack_id")
        .agg(F.sum("n_tokens").alias("t"))
        .collect()
    )
    shards = {}
    for r in per_pack:
        shards.setdefault(r.shard, []).append((r.pack_id, r.t))
    for shard, packs in shards.items():
        ids = sorted(p for p, _ in packs)
        assert ids == list(range(len(ids)))  # contiguous from 0
        for pid, t in packs:
            if pid != ids[-1]:
                assert abs(t - budget) < max_doc
    a = sorted((r.doc_id, r.shard, r.pack_id) for r in packed.collect())
    b = sorted(
        (r.doc_id, r.shard, r.pack_id)
        for r in pack_sequences(
            docs.repartition(11), budget, 8, "n_tokens", "doc_id"
        ).collect()
    )
    assert a == b


def test_mixture_sample_sqrt_quotas(spark, sf_dir):
    """Quotas follow total * isqrt(n_g) // sum(isqrt): dominant domains
    are down-weighted relative to their raw share; selection is
    deterministic across partitionings."""
    import math

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    counts = {r[0]: r[1] for r in docs.groupBy("source").count().collect()}
    w = {g: math.isqrt(n) for g, n in counts.items()}
    s = sum(w.values())
    expected = {g: 200 * wg // s for g, wg in w.items()}
    out = temperature_mixture_sample(docs, "source", "doc_id", total=200)
    got = {r[0]: r[1] for r in out.groupBy("source").count().collect()}
    assert got == {g: q for g, q in expected.items() if q > 0}
    # temperature flattens: the biggest domain's sampled share never
    # exceeds its raw corpus share (strictly below when domains are
    # skewed; equal only for a uniform corpus like this fixture's)
    big = max(counts, key=counts.get)
    assert got[big] / sum(got.values()) <= counts[big] / sum(counts.values())
    skewed = docs.where(F.col("doc_id") % 3 != 0).unionByName(
        docs.where(F.col("source") == big)
    )
    sk_counts = {r[0]: r[1] for r in skewed.groupBy("source").count().collect()}
    sk = temperature_mixture_sample(skewed, "source", "doc_id", total=200)
    sk_got = {r[0]: r[1] for r in sk.groupBy("source").count().collect()}
    sk_big = max(sk_counts, key=sk_counts.get)
    assert (
        sk_got[sk_big] / sum(sk_got.values())
        < sk_counts[sk_big] / sum(sk_counts.values())
    )
    a = sorted(r.doc_id for r in out.select("doc_id").collect())
    b = sorted(
        r.doc_id
        for r in temperature_mixture_sample(
            docs.repartition(13), "source", "doc_id", total=200
        ).select("doc_id").collect()
    )
    assert a == b


def test_unigram_logprob_hand_computed(spark):
    import math

    from hse_etl_ochirov_aldar_spark.operators.lm_score import (
        MICRO,
        keep_by_avg_logprob,
        unigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "A  b"), (3, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in unigram_logprob_scores(docs).collect()}
    # corpus counts (lowercased): a->3, b->2; total=5, vocab=2
    lp_a = round(math.log((3 + 1) / (5 + 2)) * MICRO)
    lp_b = round(math.log((2 + 1) / (5 + 2)) * MICRO)
    assert out[1].n_tokens == 3 and out[1].lp_micro == 2 * lp_a + lp_b
    assert out[2].n_tokens == 2 and out[2].lp_micro == lp_a + lp_b
    assert out[3].n_tokens == 0 and out[3].lp_micro == 0
    assert out[3].avg_logprob is None
    assert abs(out[1].avg_logprob - (2 * lp_a + lp_b) / (MICRO * 3)) < 1e-12
    # threshold: doc 2 has the higher mean (fewer repeats of the rare b)
    means = {d: r.avg_logprob for d, r in out.items() if r.n_tokens}
    thr = (means[1] + means[2]) / 2
    kept = {r.doc_id for r in keep_by_avg_logprob(unigram_logprob_scores(docs), thr).collect()}
    assert kept == {1 if means[1] > means[2] else 2}


def test_unigram_logprob_reference_model_oov(spark):
    import math

    from hse_etl_ochirov_aldar_spark.operators.lm_score import (
        MICRO,
        unigram_logprob_scores,
    )

    model = spark.createDataFrame([(1, "x x y")], "doc_id long, text string")
    target = spark.createDataFrame([(9, "x zzz")], "doc_id long, text string")
    out = unigram_logprob_scores(target, model_df=model).collect()[0]
    # model: x->2, y->1; total=3, vocab=2; OOV mass = 1/(3+2)
    lp_x = round(math.log((2 + 1) / (3 + 2)) * MICRO)
    lp_oov = round(math.log(1 / (3 + 2)) * MICRO)
    assert out.n_tokens == 2 and out.lp_micro == lp_x + lp_oov


def test_tfidf_hand_computed(spark):
    import math

    from hse_etl_ochirov_aldar_spark.operators.tfidf import MICRO, tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "apple banana apple"), (2, "banana cherry"), (3, "cherry cherry dog")],
        "doc_id long, text string",
    )
    out = {(r.doc_id, r.rank): r for r in tfidf_top_terms(docs, k=2).collect()}
    # df: apple 1, banana 2, cherry 2, dog 1; N=3
    idf = {t: round(math.log(3 / d) * MICRO) for t, d in
           [("apple", 1), ("banana", 2), ("cherry", 2), ("dog", 1)]}
    # doc1: apple tf=2 score 2*idf(apple) > banana 1*idf(banana)
    assert out[(1, 1)].term == "apple"
    assert out[(1, 1)].score_micro == 2 * idf["apple"]
    assert out[(1, 2)].term == "banana"
    # doc3: cherry tf=2 vs dog tf=1 -> dog idf higher; 2*idf(cherry) vs idf(dog)
    want = sorted(
        [("cherry", 2 * idf["cherry"]), ("dog", idf["dog"])],
        key=lambda x: (-x[1], x[0]),
    )
    assert (out[(3, 1)].term, out[(3, 1)].score_micro) == want[0]
    assert (out[(3, 2)].term, out[(3, 2)].score_micro) == want[1]


def test_tfidf_tie_breaks_on_term(spark):
    from hse_etl_ochirov_aldar_spark.operators.tfidf import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "zeta alpha"), (2, "other words")], "doc_id long, text string"
    )
    # zeta and alpha both tf=1, df=1 -> equal scores; rank 1 must be alpha
    out = {r.rank: r.term for r in
           tfidf_top_terms(docs, k=2).where("doc_id = 1").collect()}
    assert out == {1: "alpha", 2: "zeta"}


def test_repetition_coverage_hand_and_short_docs(spark):
    from hse_etl_ochirov_aldar_spark.operators.repetition import (
        top_ngram_coverage,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "x"), (3, "p q r")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in top_ngram_coverage(docs).collect()}
    # grams of 1: ab,ba,ab,ba -> top is "a b" (tie broken to smallest)
    assert out[1].top_ngram == "a b"
    assert out[1].top_ngram_count == 2 and out[1].ngram_total == 4
    assert out[1].ngram_coverage == 0.5
    # shorter than n: null gram, zero counts, null coverage
    assert out[2].top_ngram is None and out[2].ngram_total == 0
    assert out[2].ngram_coverage is None
    assert out[3].top_ngram == "p q" and out[3].ngram_total == 2


def test_segment_removal_idempotent(spark, sf_dir):
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        segment_boilerplate_removal,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    once = segment_boilerplate_removal(docs, chunk_words=10)
    twice = segment_boilerplate_removal(
        once.select("doc_id", "text"), chunk_words=10
    )
    # line-mode removal provably creates no new boilerplate (segment
    # set only shrinks); chunk mode re-chunks shifted boundaries, so
    # assert the no-op empirically on the deterministic fixture corpus
    assert twice.where(F.col("n_segments_removed") > 0).count() == 0


def test_corpus_diff_statuses(spark):
    from hse_etl_ochirov_aldar_spark.operators.snapshot import corpus_diff

    v1 = spark.createDataFrame(
        [(1, "same"), (2, "old text"), (3, "gone")], "doc_id long, text string"
    )
    v2 = spark.createDataFrame(
        [(1, "same"), (2, "new text"), (4, "fresh")], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in corpus_diff(v1, v2).collect()}
    assert got == {1: "unchanged", 2: "changed", 3: "removed", 4: "added"}


def test_quality_classifier_orders_spam_below_prose(spark):
    from hse_etl_ochirov_aldar_spark.operators.classifier import (
        keep_by_quality,
        linear_quality_scores,
    )

    docs = spark.createDataFrame(
        [
            (1, "a perfectly ordinary english sentence about data engines"),
            (2, "### ### ### buy now ### ### ### ... ... ..."),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.quality_micro for r in linear_quality_scores(docs).collect()}
    assert out[1] > out[2]  # symbol spam scores lower
    assert out[3] == 0  # token-less doc pinned to zero
    kept = {r.doc_id for r in keep_by_quality(linear_quality_scores(docs), 0.5).collect()}
    assert 1 in kept and 3 not in kept


def test_quality_classifier_custom_weights(spark):
    from hse_etl_ochirov_aldar_spark.operators.classifier import (
        DEFAULT_WEIGHTS,
        MICRO,
        linear_quality_scores,
    )

    docs = spark.createDataFrame([(1, "plain words here")], "doc_id long, text string")
    neutral = dict.fromkeys(DEFAULT_WEIGHTS, 0.0)
    out = linear_quality_scores(docs, weights=neutral).collect()[0]
    assert out.quality_micro == MICRO // 2  # sigmoid(0) = 0.5 exactly


def test_contamination_report_attribution_and_controls(spark):
    from hse_etl_ochirov_aldar_spark.operators.decontaminate import (
        contamination_report,
    )

    docs = spark.createDataFrame(
        [
            (1, "one two three four five six seven eight tail a"),
            (2, "x one two three four five six seven eight y"),
            (3, "completely unrelated words with no overlap at all"),
        ],
        "doc_id long, text string",
    )
    evals = spark.createDataFrame(
        [
            (100, "one two three four five six seven eight"),  # hits docs 1,2
            (200, "never matching benchmark prompt item words q r"),  # 0 hits
        ],
        "eval_id long, text string",
    )
    got = {r.eval_id: r.docs_hit for r in contamination_report(docs, evals).collect()}
    assert got == {100: 2, 200: 0}


def test_importance_weights_sign_and_oov(spark):
    """DSIR word-unigram weights: docs made of target-typical tokens
    score positive, off-target docs negative; OOV tokens fall back to
    the target model's smoothed unknown mass instead of vanishing."""
    from hse_etl_ochirov_aldar_spark.operators.lm_score import importance_weights

    raw = spark.createDataFrame(
        [
            (1, "wiki wiki science"),   # target-typical
            (2, "spam spam spam ads"),  # off-target, OOV under target
            (3, ""),                    # empty: n_tokens=0, imp=0
        ],
        "doc_id long, text string",
    )
    target = spark.createDataFrame(
        [(10, "wiki science wiki article")], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.n_tokens, r.imp_micro)
        for r in importance_weights(raw, target).collect()
    }
    assert got[1][0] == 3 and got[1][1] > 0
    assert got[2][0] == 4 and got[2][1] < 0
    assert got[3] == (0, 0)
    # deterministic: a recomputation yields identical integer weights
    w2 = importance_weights(raw, target).collect()
    assert all(r.imp_micro == got[r.doc_id][1] for r in w2)


def test_perplexity_buckets_tertiles_and_empty(spark):
    from hse_etl_ochirov_aldar_spark.operators.lm_score import perplexity_buckets

    # hand-built scored frame: 6 docs in one lang with distinct means
    rows = [
        (i, "en", 10, lp) for i, lp in enumerate(
            [-60_000_000, -50_000_000, -40_000_000, -30_000_000,
             -20_000_000, -10_000_000]
        )
    ] + [(99, "en", 0, 0)]  # empty doc
    scored = spark.createDataFrame(
        rows, "doc_id long, lang string, n_tokens long, lp_micro long"
    )
    got = {r.doc_id: r.ppl_bucket for r in perplexity_buckets(scored).collect()}
    assert got[99] == "empty"
    assert [got[i] for i in range(6)] == [
        "tail", "tail", "middle", "middle", "head", "head"
    ]


def test_bigram_logprob_hand_computed(spark):
    """Interpolated bigram LM vs a by-hand model: corpus
    'a b a b c' / 'a a a' / '' / 'z' -> T=9, V=4; doc2 scores
    ln(p1(a)) + 2*ln((3*p2(a|a) + p1(a))/4) in micro-units; empty doc
    scores (0, 0)."""
    import math

    from hse_etl_ochirov_aldar_spark.operators.lm_score import (
        bigram_logprob_scores,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a a a"), (3, ""), (4, "z")],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in bigram_logprob_scores(docs).collect()}
    T, V = 9, 4
    p1 = lambda cu: (cu + 1.0) / (T + V)
    p2 = lambda c2, cp: (c2 + 1.0) / (cp + V)
    lp = lambda p: round(math.log(p) * 1e6)
    assert out[2].n_tokens == 3
    assert out[2].lp2_micro == lp(p1(5)) + 2 * lp((3.0 * p2(2, 5) + p1(5)) / 4.0)
    assert out[3].n_tokens == 0 and out[3].lp2_micro == 0
    assert out[4].n_tokens == 1 and out[4].lp2_micro == lp(p1(1))


def test_bigram_penalizes_word_salad_vs_unigram(spark):
    """The point of the bigram screen: shuffled word salad with the
    same unigram counts as fluent text scores strictly worse under the
    bigram model (unigram scores are identical by construction)."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.lm_score import (
        bigram_logprob_scores,
        unigram_logprob_scores,
    )

    fluent = "the cat sat on the mat " * 5
    salad = "the the cat on sat mat the cat mat on sat the " + "cat sat on the mat the " * 3
    docs = spark.createDataFrame(
        [(1, fluent.strip()), (2, salad.strip())], ["doc_id", "text"]
    )
    uni = {r.doc_id: r.lp_micro for r in unigram_logprob_scores(docs).collect()}
    bi = {
        r.doc_id: r.lp2_micro / r.n_tokens
        for r in bigram_logprob_scores(docs).collect()
    }
    assert uni[1] == uni[2]  # same token multiset -> same unigram score
    assert bi[1] > bi[2]  # context model separates them


def test_hard_negative_mining_invariants(spark, sf_dir):
    """No returned negative shares the query's label, none is at or
    above the false-negative cosine ceiling, ranks are 1..k dense, and
    every returned cosine is >= the best EXCLUDED different-label
    cosine (they really are the hardest)."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        brute_force_topk,
        hard_negative_mining,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )
    out = hard_negative_mining(emb, qs, k=5).persist()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    rows = out.collect()
    assert rows
    per_q = {}
    for r in rows:
        assert labels[r.query_id] != r.neighbor_label
        assert r.cos_sim < 0.99
        per_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # hardest-first: min returned cosine >= max cosine of any excluded
    # different-label candidate (checked via the unrestricted top-50)
    wide = {
        (r.query_id, r.neighbor_id): r.cos_sim
        for r in brute_force_topk(emb, qs, k=50).collect()
        if labels[r.query_id] != labels.get(r.neighbor_id)
        and r.cos_sim < 0.99
    }
    for qid, ranks in per_q.items():
        got = {r.neighbor_id for r in rows if r.query_id == qid}
        best_excluded = max(
            (c for (q, n), c in wide.items() if q == qid and n not in got),
            default=-1.0,
        )
        worst_kept = min(r.cos_sim for r in rows if r.query_id == qid)
        assert worst_kept >= best_excluded
    out.unpersist()


def test_ngram_diversity_detects_duplication(spark, sf_dir):
    """Duplicating every document must leave distinct counts unchanged
    while doubling totals — so every TTR ratio halves (±1 bp for the
    integer floor) and entropy is unchanged (the distribution shape is
    identical). The diagnostic must move the right way under the exact
    corruption it exists to detect."""
    from hse_etl_ochirov_aldar_spark.operators.diversity import (
        ngram_diversity_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    base = {
        r["source"]: r.asDict()
        for r in ngram_diversity_stats(docs, "source").collect()
    }
    doubled = {
        r["source"]: r.asDict()
        for r in ngram_diversity_stats(docs.union(docs), "source").collect()
    }
    for src, b in base.items():
        d = doubled[src]
        assert d["n_tokens"] == 2 * b["n_tokens"]
        assert d["distinct_unigrams"] == b["distinct_unigrams"]
        assert abs(d["ttr_bp"] - b["ttr_bp"] // 2) <= 1
        assert abs(d["bigram_ttr_bp"] - b["bigram_ttr_bp"] // 2) <= 1
        # H(2x copies) = H(x): every count doubles, shape unchanged
        assert abs(d["unigram_entropy"] - b["unigram_entropy"]) < 2e-6


def test_ngram_diversity_ordering_and_bounds(spark, sf_dir):
    from hse_etl_ochirov_aldar_spark.operators.diversity import (
        ngram_diversity_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    for r in ngram_diversity_stats(docs, "source").collect():
        # higher-order n-grams are at least as distinct as lower-order
        assert r["trigram_ttr_bp"] >= r["bigram_ttr_bp"] >= r["ttr_bp"]
        assert 0 < r["ttr_bp"] <= 10000
        # 0 <= H <= ln(distinct)
        import math

        assert -1e-6 <= r["unigram_entropy"] <= math.log(
            r["distinct_unigrams"]
        ) + 1e-6


def test_cluster_balanced_sample_quotas_and_determinism(spark, sf_dir):
    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        cluster_balanced_sample,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    s1 = cluster_balanced_sample(emb, total=60, n_cells=4, iters=2)
    rows = s1.collect()
    assert 0 < len(rows) <= 60
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["vec_id"])
    # sqrt weighting: no cluster may take the whole draw unless it is
    # the only one
    if len(by_cluster) > 1:
        assert max(len(v) for v in by_cluster.values()) < 60
    # deterministic under repartitioning (window orders by hash+key)
    s2 = cluster_balanced_sample(
        emb.repartition(7), total=60, n_cells=4, iters=2
    )
    ids1 = sorted(r["vec_id"] for r in rows)
    ids2 = sorted(r["vec_id"] for r in s2.collect())
    assert ids1 == ids2


def test_ngram_diversity_approx_tracks_exact(spark, sf_dir):
    """approx=True (the HLL escape hatch) must agree with exact mode on
    totals/entropy bit-for-bit and on distinct counts within the
    sketch's error budget."""
    from hse_etl_ochirov_aldar_spark.operators.diversity import (
        ngram_diversity_stats,
    )

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    exact = {
        r["source"]: r.asDict()
        for r in ngram_diversity_stats(docs, "source").collect()
    }
    approx = {
        r["source"]: r.asDict()
        for r in ngram_diversity_stats(docs, "source", approx=True).collect()
    }
    for src, e in exact.items():
        a = approx[src]
        assert a["n_tokens"] == e["n_tokens"]
        assert a["n_bigrams"] == e["n_bigrams"]
        assert a["distinct_unigrams"] == e["distinct_unigrams"]
        assert a["unigram_entropy"] == e["unigram_entropy"]
        for col in ("distinct_bigrams", "distinct_trigrams"):
            if e[col]:
                assert abs(a[col] - e[col]) / e[col] < 0.05


def test_distribution_matched_sample_matches_target_marginal(spark, sf_dir):
    """The sampled group shares must track the TARGET's shares (not the
    raw corpus's), quotas are integer-exact, and membership is
    deterministic under repartitioning."""
    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        distribution_matched_sample,
    )

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("lang") == "en").select("source", "doc_id")
    raw = docs.select("source", "doc_id")
    s = distribution_matched_sample(raw, target, "source", "doc_id", 200)
    got = {r.source: r.n for r in s.groupBy("source").agg(F.count("*").alias("n")).collect()}
    tcounts = {r.source: r.n for r in target.groupBy("source").agg(F.count("*").alias("n")).collect()}
    tt = sum(tcounts.values())
    for g, n in got.items():
        assert n == 200 * tcounts[g] // tt  # quota hit exactly (raw has enough)
    ids1 = sorted(r.doc_id for r in s.collect())
    ids2 = sorted(
        r.doc_id
        for r in distribution_matched_sample(
            raw.repartition(9), target, "source", "doc_id", 200
        ).collect()
    )
    assert ids1 == ids2


def test_quota_group_guard_raises_on_high_cardinality(spark):
    """r8 verdict task #6: quotas keyed on a high-cardinality column
    must raise with guidance instead of collecting one row per group
    to the driver; the probe itself is bounded (limit max+1)."""
    import pytest

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        distribution_matched_sample,
        temperature_mixture_sample,
    )

    df = spark.range(500).selectExpr(
        "cast(id as string) as doc_id", "id % 3 as lang", "id as uniq"
    )
    with pytest.raises(ValueError, match="distinct groups"):
        temperature_mixture_sample(
            df, "uniq", "doc_id", total=10, max_groups=100
        )
    with pytest.raises(ValueError, match="distinct groups"):
        distribution_matched_sample(
            df, df, "uniq", "doc_id", total=10, max_groups=100
        )
    # mixture-shaped keys stay fine under the same guard
    out = temperature_mixture_sample(
        df, "lang", "doc_id", total=30, max_groups=100
    )
    assert 0 < out.count() <= 30


def test_join_strategy_quotas_bit_identical_to_collect(spark, sf_dir):
    """r10 verdict task #3: strategy='join' computes quotas in-plan
    (exact isqrt + BIGINT div) and must select EXACTLY the same rows
    as the driver-collect strategy on both quota samplers."""
    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        distribution_matched_sample,
        temperature_mixture_sample,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    a = {
        r.doc_id
        for r in temperature_mixture_sample(
            docs, "source", "doc_id", total=200
        ).collect()
    }
    b = {
        r.doc_id
        for r in temperature_mixture_sample(
            docs, "source", "doc_id", total=200, strategy="join"
        ).collect()
    }
    assert a == b and len(a) > 0

    target = docs.where(F.length("text") > 100)
    c = {
        r.doc_id
        for r in distribution_matched_sample(
            docs, target, "source", "doc_id", 150
        ).collect()
    }
    d = {
        r.doc_id
        for r in distribution_matched_sample(
            docs, target, "source", "doc_id", 150, strategy="join"
        ).collect()
    }
    assert c == d and len(c) > 0


def test_join_strategy_handles_groups_beyond_collect_guard(spark):
    """The join strategy is the path the guard's error points at: on a
    key whose cardinality trips the collect guard it must still run,
    and agree with the collect path run under a raised guard."""
    import pytest

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    df = spark.range(30_000).select(
        (F.col("id") % 5_000).cast("string").alias("g"),
        F.col("id").alias("k"),
    )
    with pytest.raises(ValueError, match="strategy='join'"):
        temperature_mixture_sample(df, "g", "k", total=10_000, max_groups=1_000)
    joined = {
        r.k
        for r in temperature_mixture_sample(
            df, "g", "k", total=10_000, strategy="join"
        ).collect()
    }
    collected = {
        r.k
        for r in temperature_mixture_sample(
            df, "g", "k", total=10_000, max_groups=10_000
        ).collect()
    }
    assert joined == collected and len(joined) > 0


def test_exact_isqrt_column_matches_math_isqrt(spark):
    """_exact_isqrt must equal math.isqrt on perfect squares, their
    neighbors, and huge BIGINTs where double sqrt rounds."""
    import math

    from hse_etl_ochirov_aldar_spark.operators.sampling import _exact_isqrt

    vals = []
    for base in [0, 1, 2, 3, 10, 999, 10**6, 10**12, 2**49, 2**50 - 1]:
        vals += [base, base + 1, max(0, base - 1)]
    for r in [10**6, 10**7, 3037000499]:  # isqrt(2^63-1) = 3037000499
        vals += [r * r - 1, r * r, r * r + 1]
    vals = sorted(set(v for v in vals if 0 <= v < 2**63))
    df = spark.createDataFrame([(v,) for v in vals], "n long")
    got = {
        r.n: r.s
        for r in df.select("n", _exact_isqrt(F.col("n")).alias("s")).collect()
    }
    for v in vals:
        assert got[v] == math.isqrt(v), (v, got[v], math.isqrt(v))


def test_token_budget_mixture_boundary_and_determinism(spark, sf_dir):
    """token_budget_mixture_sample: each group's kept prefix obeys the
    greedy boundary rule — cost before the last kept doc is under
    budget, and dropping the boundary doc would leave the budget
    unfilled (overshoot <= one doc). Membership is identical under a
    different input partitioning."""
    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        _exact_isqrt,
        token_budget_mixture_sample,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    total = docs.agg(F.sum("n_chars")).first()[0] // 3
    kept = token_budget_mixture_sample(docs, "source", "doc_id", "n_chars", total)
    k = kept.groupBy("source").agg(
        F.sum("n_chars").alias("used"), F.max("n_chars").alias("max_doc")
    )
    masses = (
        docs.where(F.col("source").isNotNull())
        .groupBy("source")
        .agg(F.sum("n_chars").alias("m"))
    )
    w = masses.select("source", _exact_isqrt(F.col("m")).alias("wt"))
    s = w.agg(F.sum("wt")).first()[0]
    budgets = {
        r.source: total * r.wt // s for r in w.collect()
    }
    for r in k.collect():
        b = budgets[r.source]
        # under-budget before the boundary doc; can't be a whole doc short
        assert r.used - r.max_doc < b, (r.source, r.used, b)
    # determinism across partitioning
    a = {r.doc_id for r in kept.collect()}
    b2 = {
        r.doc_id
        for r in token_budget_mixture_sample(
            docs.repartition(17, "lang"), "source", "doc_id", "n_chars", total
        ).collect()
    }
    assert a == b2 and len(a) > 0


def test_chunk_text_windows_and_edges(spark):
    """chunk_text: overlapping windows reconstruct the document, the
    final chunk is the short tail, empty/NULL texts yield no chunks
    (the descending-sequence guard), and single-window docs chunk
    whole."""
    from hse_etl_ochirov_aldar_spark.operators.chunking import chunk_text

    text = "".join(chr(ord("a") + i % 26) for i in range(1000))
    df = spark.createDataFrame(
        [(1, text), (2, "short"), (3, ""), (4, None)], ["doc_id", "text"]
    )
    ch = chunk_text(df, "text", size=512, stride=384)
    rows = sorted(
        ((r.doc_id, r.chunk_idx, r.chunk_start, r.chunk_text) for r in ch.collect())
    )
    by_doc = {}
    for d, i, s, t in rows:
        by_doc.setdefault(d, []).append((i, s, t))
    assert sorted(by_doc) == [1, 2]
    assert [(i, s) for i, s, _ in by_doc[1]] == [(0, 0), (1, 384), (2, 768)]
    assert by_doc[1][0][2] == text[0:512]
    assert by_doc[1][1][2] == text[384:896]
    assert by_doc[1][2][2] == text[768:1000]  # short tail
    # overlap region agrees between consecutive chunks
    assert by_doc[1][0][2][384:] == by_doc[1][1][2][: 512 - 384]
    assert by_doc[2] == [(0, 0, "short")]
    import pytest

    with pytest.raises(ValueError, match=">= 1"):
        chunk_text(df, "text", size=0, stride=10)


def test_two_stage_rank_and_prefix_equal_single_window(spark):
    """The salted two-stage draws must equal the naive single-window
    definitions EXACTLY — including _hash_prefix_take's subtle case
    where a stage-1-dropped row precedes a surviving row in global
    hash order (the survivors-only prefix would undercount and wrongly
    keep it). Randomized frames with zero costs, hot groups, and tiny
    salts to force cross-salt interactions."""
    import random

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        _hash_prefix_take,
        _hash_rank_take,
        hash_bucket,
    )
    from pyspark.sql import Window

    rng = random.Random(42)
    rows = []
    k = 0
    for g, n in [("hot", 400), ("a", 17), ("b", 3), ("c", 60)]:
        for _ in range(n):
            rows.append((g, k, rng.choice([0, 0, 1, 2, 5, 40])))
            k += 1
    df = spark.createDataFrame(rows, "g string, k long, cost long").repartition(7)

    for quota in (0, 1, 5, 37):
        got = {
            r.k
            for r in _hash_rank_take(
                df.withColumn("__quota", F.lit(quota)), "g", "k", n_salt=3,
                skew_safe=True,
            ).collect()
        }
        w = Window.partitionBy("g").orderBy(hash_bucket("k", 1_000_000_007), F.col("k"))
        want = {
            r.k
            for r in df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= quota)
            .collect()
        }
        assert got == want, (quota, len(got), len(want))

    for budget in (0, 1, 7, 50, 10_000):
        got = {
            r.k
            for r in _hash_prefix_take(
                df.withColumn("__budget", F.lit(budget)), "g", "k", "cost",
                n_salt=3, skew_safe=True,
            ).collect()
        }
        wp = (
            Window.partitionBy("g")
            .orderBy(hash_bucket("k", 1_000_000_007), F.col("k"))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        want = {
            r.k
            for r in df.withColumn(
                "__cum", F.coalesce(F.sum("cost").over(wp), F.lit(0))
            )
            .where(F.col("__cum") < budget)
            .collect()
        }
        assert got == want, (budget, len(got), len(want))


def test_auto_skew_safe_routes_by_group_size_membership_identical(
    spark, monkeypatch
):
    """r11 verdict task #6: skew_safe=None routes per group from an
    in-plan census — hot groups take the two-stage path, small groups
    the single window — and membership is identical to both explicit
    modes. NULL-group rows must survive the census join (eqNullSafe):
    they are a real group to the samplers, and an inner join would
    silently drop them."""
    import random

    from hse_etl_ochirov_aldar_spark.operators import sampling as S

    rng = random.Random(9)
    rows = []
    k = 0
    for g, n in [("hot", 300), ("a", 20), ("b", 4), (None, 12)]:
        for _ in range(n):
            rows.append((g, k, rng.choice([0, 1, 3, 25])))
            k += 1
    df = spark.createDataFrame(
        rows, "g string, k long, cost long"
    ).repartition(6)
    # threshold between the small groups and the hot one: routing is real
    monkeypatch.setattr(S, "SKEW_SAFE_GROUP_ROWS", 50)

    for quota in (3, 17):
        by_mode = {
            mode: {
                r.k
                for r in S.quota_sample(
                    df, "g", quota, "k", skew_safe=mode
                ).collect()
            }
            for mode in (None, True, False)
        }
        assert by_mode[None] == by_mode[True] == by_mode[False]
        # NULL group sampled like any other (12 rows > some quotas)
        null_kept = {
            r.k
            for r in S.quota_sample(df, "g", quota, "k").collect()
            if r.g is None
        }
        assert len(null_kept) == min(quota, 12)

    for budget in (10, 200):
        got = {
            mode: {
                r.k
                for r in S._hash_prefix_take(
                    df.withColumn("__budget", F.lit(budget)),
                    "g",
                    "k",
                    "cost",
                    n_salt=3,
                    skew_safe=mode,
                ).collect()
            }
            for mode in (None, True, False)
        }
        assert got[None] == got[True] == got[False]


def test_static_skew_route_plan_shapes(spark, tmpdir):
    """r11 verdict task #3: when Catalyst plan stats PROVE the frame
    small (file leaves, bytes < rows-bound x 4), skew_safe=None builds
    the LITERAL single-window plan — no salt column, no census join —
    the r10 form whose absence was the r11 token_budget_mixture bench
    regression (measured: structural two-stage 1.10s vs single window
    0.54s at sf0.1; DECIMAL quota products were ~0.07s of it). Frames
    the probe cannot bound (LocalRelation) keep the in-plan
    conditional-salt census; membership is identical either way (the
    existing route-invariance pins)."""
    import random

    from hse_etl_ochirov_aldar_spark.operators import sampling as S

    rng = random.Random(3)
    rows = [
        (rng.choice(["a", "b", "c"]), i, rng.randint(1, 40))
        for i in range(300)
    ]
    local = spark.createDataFrame(rows, "g string, k long, cost long")
    path = f"{tmpdir}/skewroute"
    local.write.parquet(path)
    filed = spark.read.parquet(path)

    def plan(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # file-backed provably-small frame -> single window, no census
    p_file = plan(S.quota_sample(filed, "g", 7, "k"))
    assert "__qsalt" not in p_file and "__gn" not in p_file
    p_budget = plan(
        S.token_budget_mixture_sample(filed, "g", "k", "cost", 500)
    )
    assert "__qsalt" not in p_budget
    # LocalRelation -> stats untrusted -> in-plan conditional salt
    p_local = plan(S.quota_sample(local, "g", 7, "k"))
    assert "__qsalt" in p_local
    # membership agrees across the route boundary
    a = {r.k for r in S.quota_sample(filed, "g", 7, "k").collect()}
    b = {r.k for r in S.quota_sample(local, "g", 7, "k").collect()}
    assert a == b and len(a) == 21


def test_quota_div_expr_exact_in_bigint_wrap_regime(spark):
    """r10 ADVICE (medium): total * w div s used to ride BIGINT and
    wrap Java-style for products >= 2^63 — the 100 TB token-budget
    regime — silently diverging from the collect strategy's Python
    ints. The DECIMAL(38,0) form must equal Python // bit-for-bit
    across the wrap boundary."""
    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        _quota_div_expr,
    )

    cases = [
        # (total, w, s): products straddling 2^63 and the old garbage zone
        (30_000_000_000_000, 2_121_320_343, 5_121_320_343),
        (9_200_000_000_000_000_000, 3_037_000_499, 4_037_000_499),
        (200, 7, 19),  # small regime unchanged
        (1_000_000_007, 999_999_937, 1_000_000_000),
        (2**62, 2**31, 2**33),
    ]
    df = spark.createDataFrame(
        [(w, s) for _, w, s in cases], "__w long, __s long"
    )
    got = df.select(
        "__w",
        "__s",
        *[
            _quota_div_expr(t, "__w", "__s").alias(f"q{i}")
            for i, (t, _, _) in enumerate(cases)
        ],
    ).collect()
    by_ws = {(r["__w"], r["__s"]): r for r in got}
    for i, (total, w, s) in enumerate(cases):
        assert by_ws[(w, s)][f"q{i}"] == total * w // s, (total, w, s)


def test_bm25_score_expr_exact_in_wrap_regime(spark):
    """finding 39b: the BM25 integer score used to wrap past ~1e10
    corpus tokens (idf*22*L*tf >= 2^63). The DECIMAL(38,0) form must
    equal Python bigint arithmetic at 100 TB-scale stats — and stay
    identical to the old regime below the wrap point."""
    from hse_etl_ochirov_aldar_spark.operators.bm25 import bm25_score_expr

    cases = [
        # (idf_micro, corpus_len, tf, dl, n_docs)
        (35_000_000, 10**15, 1_000_000, 1_000_000, 10**9),  # 100 TB
        (16_811_243, 10**13, 400, 90_000, 10**10),
        (2_500_000, 50_000_000, 17, 1_200, 100_000),  # small regime
        (1, 1, 1, 1, 1),
    ]
    df = spark.createDataFrame(
        cases, "idf_micro long, corpus_len long, tf long, dl long, n_docs long"
    )
    got = {
        (r.idf_micro, r.corpus_len): r.s
        for r in df.select("idf_micro", "corpus_len", bm25_score_expr().alias("s")).collect()
    }
    for idf, L, tf, dl, n in cases:
        want = (idf * 22 * L * tf) // (10 * L * tf + 3 * L + 9 * dl * n)
        assert got[(idf, L)] == want, (idf, L, got[(idf, L)], want)


def test_token_budget_mixture_exact_at_huge_costs(spark):
    """End-to-end pin for the overflow fix: per-doc costs near 1e18
    push group masses (and total_budget * isqrt(mass)) far past 2^63.
    The kept set must be the md5-hash-order greedy prefix under
    budgets computed with PYTHON arbitrary-precision ints — the
    documented engine-portability contract, previously violated in
    exactly this regime."""
    import math

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        hash_bucket,
        token_budget_mixture_sample,
    )

    rows = [
        ("big", k, 900_000_000_000_000_000) for k in range(5)
    ] + [("small", k, 450_000_000_000_000_000) for k in range(100, 104)]
    df = spark.createDataFrame(rows, "g string, k long, cost long")
    total_budget = 4_000_000_000_000_000_000  # 4e18: products ~1e28
    kept = {
        r.k
        for r in token_budget_mixture_sample(
            df, "g", "k", "cost", total_budget
        ).collect()
    }
    # Python reference: exact budgets + greedy prefix in md5-hash order
    order = {
        r.k: r.h
        for r in df.select(
            "k", hash_bucket(F.col("k"), 1_000_000_007).alias("h")
        ).collect()
    }
    masses = {"big": 5 * 900_000_000_000_000_000,
              "small": 4 * 450_000_000_000_000_000}
    s = sum(math.isqrt(m) for m in masses.values())
    want = set()
    for g, m in masses.items():
        budget = total_budget * math.isqrt(m) // s
        acc = 0
        for gg, k, c in sorted(
            (r for r in rows if r[0] == g), key=lambda r: (order[r[1]], r[1])
        ):
            if acc < budget:
                want.add(k)
            acc += c
    assert kept == want and len(kept) > 0


def test_semantic_decontaminate_contract(spark):
    """Embedding-space decontamination: exact self-matches and
    above-threshold near-matches drop, sub-threshold survives, an
    EMPTY eval set keeps everything, zero-norm corpus rows are never
    dropped (NaN cosine must not compare true), and the plan is
    map-only (no Exchange before a caller's aggregate)."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    rows = [
        (1, [1.0, 0.0, 0.0]),   # == eval vector -> drop
        (2, [0.9, 0.1, 0.0]),   # cos ~0.994 -> drop at 0.95
        (3, [0.0, 1.0, 0.0]),   # orthogonal -> keep
        (4, [0.5, 0.5, 0.5]),   # cos ~0.577 -> keep
        (5, [0.0, 0.0, 0.0]),   # zero norm -> keep (NaN guard)
        (6, None),              # NULL vector -> keep (r11 ADVICE pin)
    ]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    evals = spark.createDataFrame(
        [(100, [1.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    kept = {r.vec_id for r in semantic_decontaminate(corpus, evals).collect()}
    assert kept == {3, 4, 5, 6}

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert semantic_decontaminate(corpus, empty).count() == 6
    # zero-norm EVAL vectors are dropped from the probe, not matched
    zeroev = spark.createDataFrame(
        [(9, [0.0, 0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    assert semantic_decontaminate(corpus, zeroev).count() == 6

    plan = (
        semantic_decontaminate(corpus, evals)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only allowed exchange is the broadcast of the 1-row probe
    assert "Exchange hashpartitioning" not in plan


def test_semantic_decontaminate_auto_route(spark, monkeypatch):
    """strategy=None routes on eval_rows x dims: below the threshold
    the plan is the exact expression form (no Python stage), above it
    the Arrow matmul kernel (MapInPandas) — and membership is
    identical on both sides of the route (the salt-route-invariance
    discipline from sampling)."""
    from hse_etl_ochirov_aldar_spark.operators import decontaminate as D

    rows = [(i, [float(i), 1.0, 0.5]) for i in range(1, 8)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    evals = spark.createDataFrame(
        [(100, [1.0, 1.0, 0.5]), (101, [7.0, 1.0, 0.5])],
        "vec_id long, embedding array<double>",
    )

    def plan_of(df):
        return df._jdf.queryExecution().executedPlan().toString()

    # 2 evals x 3 dims = 6 cells: below any sane threshold -> expr
    auto_lo = D.semantic_decontaminate(corpus, evals)
    assert "MapInPandas" not in plan_of(auto_lo)
    # force the threshold under the same eval set -> arrow fires
    monkeypatch.setattr(D, "SEMANTIC_AUTO_ARROW_CELLS", 5)
    auto_hi = D.semantic_decontaminate(corpus, evals)
    assert "MapInPandas" in plan_of(auto_hi)
    ke = {r.vec_id for r in auto_lo.collect()}
    ka = {r.vec_id for r in auto_hi.collect()}
    assert ke == ka and 0 < len(ke) < len(rows)
    # explicit overrides still win over the auto probe
    monkeypatch.setattr(D, "SEMANTIC_AUTO_ARROW_CELLS", 10**12)
    forced = D.semantic_decontaminate(corpus, evals, strategy="arrow")
    assert "MapInPandas" in plan_of(forced)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="expr|arrow"):
        D.semantic_decontaminate(corpus, evals, strategy="bogus")


def test_semantic_decontaminate_arrow_twin_agrees(spark, sf_dir):
    """The opt-in Arrow matmul path keeps the SAME membership as the
    expression path on the embeddings fixture (no vector sits within
    float-reorder distance of the 0.95 boundary there — asserted, so
    this equality is stable, not lucky), and honors the zero-norm and
    empty-eval contracts."""
    import numpy as np

    from hse_etl_ochirov_aldar_spark.operators.decontaminate import (
        semantic_decontaminate,
        semantic_decontaminate_arrow,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    evals = emb.where(F.pmod(F.col("vec_id"), F.lit(29)) == 0)
    a = {r.vec_id for r in semantic_decontaminate(emb, evals).collect()}
    b = {r.vec_id for r in semantic_decontaminate_arrow(emb, evals).collect()}
    assert a == b and 0 < len(a) < emb.count()

    # boundary-margin audit: no fixture cosine within 1e-9 of 0.95
    ev = np.asarray([r[0] for r in evals.select("embedding").collect()])
    vv = np.asarray([r[0] for r in emb.select("embedding").collect()])
    en = np.sqrt((ev * ev).sum(1))
    nn = np.sqrt((vv * vv).sum(1))
    cos = (vv @ ev.T) / (nn[:, None] * en[None, :])
    assert (np.abs(np.round(cos, 6) - 0.95).min()) > 1e-9

    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 0.0]), (3, None)],
        "vec_id long, embedding array<double>",
    )
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_decontaminate_arrow(corpus, empty).count() == 3
    evals2 = spark.createDataFrame(
        [(9, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    kept = {r.vec_id for r in semantic_decontaminate_arrow(corpus, evals2).collect()}
    # self-match dropped; zero-norm AND NULL vectors kept (r11 ADVICE
    # pin — np.asarray(None) used to raise here)
    assert kept == {2, 3}
