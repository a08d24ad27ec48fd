"""LLM corpus curation: Gopher quality screens, PII redaction,
deterministic splits and sampling, decontamination, multimodal
features, behavioral analytics, and the ANN family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import month_of
from ..functions.exact import (
    as_value,
    avg_units_expr,
    oracle_avg_units,
    oracle_avg_value,
    oracle_sum_value,
    oracle_units,
    oracle_units_sum,
    units,
    units_sum,
)
from ..functions.text import token_count, whitespace_tokens
from ..operators.aggregates import conditional_count, daily_avg
from ..operators.similarity import brute_force_topk, ivf_topk
from ..operators.text_dedup import minhash_lsh_candidates, ngram_jaccard_pairs
from ..sources.readers import load_table

from ._base import (
    _DECONTAM_CLEAN_PROMPTS,
    _EVENT_KINDS,
    _ORACLE_DAILY_SELECT,
    _SHINGLE8,
    _ORACLE_EVENTS_BASE,
    _docs_with_near_dups,
    _events_base,
    QUANTIZER_SAMPLE_CAP,
    _kmeans_label_ctes,
    _oracle_hash32,
    embeddings_centroids,
)

# ---------------------------------------------------------------------------
# Gopher-style quality filtering (Rae et al. 2021 §A1.1), PII redaction,
# deterministic splits, and per-domain quota sampling — the corpus-curation
# layer of an LLM training-data pipeline. All signals are single divisions
# of exact integer counts; all rules are engine-portable comparisons.
# ---------------------------------------------------------------------------

# Deterministic rule-trigger fixtures: each doc is crafted to trip a
# specific Gopher screen. The SAME literals feed the Spark DataFrame and
# the DuckDB oracle (generated below), so the two sides cannot drift.
_GOPHER_BAD_DOCS: list[tuple[int, str]] = [
    (9000001, "- alpha item one two three four five six\n"
              "- beta item one two three four five six\n"
              "- gamma item one two three four five six\n"
              "- delta item one two three four five six"),  # bullet lines
    (9000002, "alpha# beta# gamma delta epsilon zeta eta theta iota "
              "kappa lambda mu"),  # symbol-to-word
    (9000003, "first line goes here...\nsecond line goes after...\n"
              "third line goes done...\nfourth line stays good"),  # ellipsis
    (9000004, "same line here\nsame line here\nsame line here\n"
              "same line here\nunique tail line"),  # duplicate lines
    (9000005, "11 22 33 44 55 66 77 88 99 101 202 303"),  # no alpha words
    (9000006, "tiny doc"),  # too short
    (9000007, "pneumonoultramicroscopicsilicovolcanoconiosis "
              "supercalifragilisticexpialidocious "
              "floccinaucinihilipilification antidisestablishmentarianism "
              "honorificabilitudinitatibus pseudopseudohypoparathyroidism "
              "incomprehensibilities uncharacteristically "
              "electroencephalographically otorhinolaryngological"),  # word len
]

_GOPHER_BAD_SQL = "\n  UNION ALL\n".join(
    f"  SELECT {i} AS doc_id, '{t}' AS text, 'en' AS lang"
    for i, t in _GOPHER_BAD_DOCS
)


def q_gopher_quality_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Gopher-filter report: how many docs each quality
    screen rejects, and how many survive all of them. Screens (public
    Gopher/C4 heuristics): token-count band, mean word length 2-10,
    symbol-to-word ratio <= 0.1, alpha-word ratio >= 0.8, bullet-line
    ratio <= 0.9, ellipsis-line ratio <= 0.3, duplicate-line fraction
    <= 0.3. Every signal is per-row column algebra (no shuffle before
    the final agg); rule fixtures are injected deterministically."""
    from ..functions.text import with_gopher_signals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    bad = spark.createDataFrame(
        [(i, t, "en") for i, t in _GOPHER_BAD_DOCS], "doc_id LONG, text STRING, lang STRING"
    )
    corpus = docs.unionByName(bad)
    text = F.col("text")
    # Generate-barrier struct: the fold runs once per row even though
    # six fields are read below (functions/text.with_gopher_signals)
    sig = F.col("gsig")
    scored = with_gopher_signals(corpus).select(
        "lang",
        token_count(text).alias("n_tokens"),
        sig["mwl"].alias("mwl"),
        sig["symr"].alias("symr"),
        sig["alphar"].alias("alphar"),
        sig["bulletr"].alias("bulletr"),
        sig["ellipsisr"].alias("ellipsisr"),
        sig["dupliner"].alias("dupliner"),
    )
    fails = scored.select(
        "lang",
        ((F.col("n_tokens") < 10) | (F.col("n_tokens") > 100000)).alias("f_len"),
        ~F.col("mwl").between(2.0, 10.0) | F.col("mwl").isNull(),
        (F.col("symr") > 0.1).alias("f_symbol"),
        (F.col("alphar") < 0.8).alias("f_alpha"),
        (F.col("bulletr") > 0.9).alias("f_bullet"),
        (F.col("ellipsisr") > 0.3).alias("f_ellipsis"),
        (F.col("dupliner") > 0.3).alias("f_dupline"),
    ).toDF(
        "lang", "f_len", "f_mwl", "f_symbol", "f_alpha", "f_bullet",
        "f_ellipsis", "f_dupline",
    )
    cnt = lambda c: F.sum(F.when(F.col(c), 1).otherwise(0)).alias("n_" + c[2:])
    kept = ~(
        F.col("f_len") | F.col("f_mwl") | F.col("f_symbol") | F.col("f_alpha")
        | F.col("f_bullet") | F.col("f_ellipsis") | F.col("f_dupline")
    )
    return fails.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
        cnt("f_len"), cnt("f_mwl"), cnt("f_symbol"), cnt("f_alpha"),
        cnt("f_bullet"), cnt("f_ellipsis"), cnt("f_dupline"),
    )


ORACLE_GOPHER_QUALITY_FILTERS = f"""
WITH corpus AS (
  SELECT doc_id, text, lang FROM documents
  UNION ALL
{_GOPHER_BAD_SQL}
),
scored AS (
  SELECT lang,
         len(toks) AS n_tokens,
         CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE)
           / len(toks) AS mwl,
         CAST(len(list_filter(toks, t -> contains(t, '#')
              OR contains(t, '...') OR contains(t, '…'))) AS DOUBLE)
           / len(toks) AS symr,
         CAST(len(list_filter(toks, t -> regexp_matches(t, '[A-Za-z]')))
              AS DOUBLE) / len(toks) AS alphar,
         CASE WHEN len(lines) > 0
              THEN CAST(len(list_filter(lines,
                   x -> regexp_matches(trim(x), '^[-*•]'))) AS DOUBLE)
                   / len(lines) ELSE 0.0 END AS bulletr,
         CASE WHEN len(lines) > 0
              THEN CAST(len(list_filter(lines,
                   x -> regexp_matches(trim(x), '(\\.\\.\\.|…)$'))) AS DOUBLE)
                   / len(lines) ELSE 0.0 END AS ellipsisr,
         CASE WHEN len(lines) > 0
              THEN CAST(len(lines) - len(list_distinct(lines)) AS DOUBLE)
                   / len(lines) ELSE 0.0 END AS dupliner
  FROM (SELECT lang,
               list_filter(string_split_regex(trim(text), '\\s+'),
                           x -> x <> '') AS toks,
               list_filter(string_split(text, chr(10)),
                           x -> trim(x) <> '') AS lines
        FROM corpus)
),
fails AS (
  SELECT lang,
         (n_tokens < 10 OR n_tokens > 100000) AS f_len,
         NOT (mwl >= 2.0 AND mwl <= 10.0) AS f_mwl,
         symr > 0.1 AS f_symbol,
         alphar < 0.8 AS f_alpha,
         bulletr > 0.9 AS f_bullet,
         ellipsisr > 0.3 AS f_ellipsis,
         dupliner > 0.3 AS f_dupline
  FROM scored
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN NOT (f_len OR f_mwl OR f_symbol OR f_alpha
                 OR f_bullet OR f_ellipsis OR f_dupline)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS n_len,
       CAST(sum(CASE WHEN f_mwl THEN 1 ELSE 0 END) AS BIGINT) AS n_mwl,
       CAST(sum(CASE WHEN f_symbol THEN 1 ELSE 0 END) AS BIGINT) AS n_symbol,
       CAST(sum(CASE WHEN f_alpha THEN 1 ELSE 0 END) AS BIGINT) AS n_alpha,
       CAST(sum(CASE WHEN f_bullet THEN 1 ELSE 0 END) AS BIGINT) AS n_bullet,
       CAST(sum(CASE WHEN f_ellipsis THEN 1 ELSE 0 END) AS BIGINT) AS n_ellipsis,
       CAST(sum(CASE WHEN f_dupline THEN 1 ELSE 0 END) AS BIGINT) AS n_dupline
FROM fails GROUP BY lang
"""


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub report: detect + redact emails/phones/IPs (conservative
    Java-regex == RE2 patterns, functions/text.py PII_PATTERNS), per
    source. PII strings are deterministically injected into the first 15
    docs (the corpus has none) so every pattern is exercised; the exact
    same concatenation runs in the oracle. chars_delta proves the
    redaction rewrote the text (token substitution changes length)."""
    from ..functions.text import pii_count, redact_pii

    docs = load_table(spark, sf_dir, "documents")
    injected = F.concat(
        F.col("text"),
        F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or call +1 555-"),
        (F.col("doc_id") + 1000).cast("string"),
        F.lit(" at 10.1."), F.col("doc_id").cast("string"),
        F.lit(".77 today"),
    )
    with_pii = docs.select(
        "doc_id",
        "source",
        F.when(F.col("doc_id") < 15, injected).otherwise(F.col("text")).alias("text"),
    )
    text = F.col("text")
    per_doc = with_pii.select(
        "source",
        pii_count(text, "EMAIL").alias("n_em"),
        pii_count(text, "PHONE").alias("n_ph"),
        pii_count(text, "IP").alias("n_ip"),
        (F.length(text) - F.length(redact_pii(text))).alias("delta"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_em").alias("n_emails"),
        F.sum("n_ph").alias("n_phones"),
        F.sum("n_ip").alias("n_ips"),
        F.sum(
            F.when((F.col("n_em") + F.col("n_ph") + F.col("n_ip")) > 0, 1).otherwise(0)
        ).alias("n_pii_docs"),
        F.sum("delta").alias("chars_delta"),
    )


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"\+[0-9]{1,2} [0-9]{3}-[0-9]{4}"
_PII_IP = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"

ORACLE_PII_REDACTION = f"""
WITH with_pii AS (
  SELECT doc_id, source,
         CASE WHEN doc_id < 15
              THEN text || ' contact user' || CAST(doc_id AS VARCHAR)
                   || '@mail.example.com or call +1 555-'
                   || CAST(doc_id + 1000 AS VARCHAR)
                   || ' at 10.1.' || CAST(doc_id AS VARCHAR) || '.77 today'
              ELSE text END AS text
  FROM documents
),
per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_em,
         len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_ph,
         len(regexp_extract_all(text, '{_PII_IP}')) AS n_ip,
         length(text) - length(
           regexp_replace(
             regexp_replace(
               regexp_replace(text, '{_PII_EMAIL}', '<EMAIL>', 'g'),
               '{_PII_PHONE}', '<PHONE>', 'g'),
             '{_PII_IP}', '<IP>', 'g')) AS delta
  FROM with_pii
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_em) AS BIGINT) AS n_emails,
       CAST(sum(n_ph) AS BIGINT) AS n_phones,
       CAST(sum(n_ip) AS BIGINT) AS n_ips,
       CAST(sum(CASE WHEN n_em + n_ph + n_ip > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_pii_docs,
       CAST(sum(delta) AS BIGINT) AS chars_delta
FROM per_doc GROUP BY source
"""

def q_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by md5 hash bucket of
    doc_id (operators/sampling.hash_split): reproducible run-to-run,
    engine-portable (the oracle recomputes membership in SQL), and
    row-local — no shuffle, unlike randomSplit which resamples on task
    retry. Reports per-split doc/token/lang tallies plus sum(doc_id) as
    a membership checksum."""
    from ..operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    s = hash_split(docs, "doc_id")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


ORACLE_TRAIN_VAL_TEST_SPLIT = f"""
WITH b AS (
  SELECT doc_id, lang, text,
         {_oracle_hash32("CAST(doc_id AS VARCHAR)")} % 100 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> ''))) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM b GROUP BY 1
"""


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split
    (operators/sampling.leakage_safe_split): over the dup-injected
    corpus, verified near-dup pairs (LSH -> Jaccard >= 0.6) collapse to
    connected components, and the split is assigned by md5 of the
    CLUSTER representative — so a near-copy can never land on the other
    side of the eval boundary from its original (doc-keyed hash splits
    leak here by construction). Per-split doc count + membership
    checksum; the no-straddle invariant itself is pytest-asserted
    (test_properties.py).

    Oracle: same recursive transitive closure as
    ORACLE_NEAR_DEDUP_MINHASH (LSH+verify == exact-Jaccard pairs on
    this corpus, the proven 100%-recall invariant), then min-of-
    component rep -> hash bucket -> split."""
    from ..operators.sampling import leakage_safe_split
    from ..operators.text_dedup import connected_components_min

    corpus = _docs_with_near_dups(spark, sf_dir)
    verified = ngram_jaccard_pairs(
        corpus, minhash_lsh_candidates(corpus), threshold=0.6
    )
    comp = connected_components_min(verified.select("id_a", "id_b"))
    s = leakage_safe_split(corpus, comp, "doc_id")
    return s.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


ORACLE_LEAKAGE_SAFE_SPLIT = f"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' nearduplicate tail'
  FROM documents WHERE doc_id < 20
),
sh AS (
  SELECT doc_id AS id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS w
        FROM corpus)
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)), 4) >= 0.6
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
minreach AS (SELECT a, min(b) AS mb FROM reach GROUP BY a),
reps AS (
  SELECT c.doc_id, least(c.doc_id, coalesce(m.mb, c.doc_id)) AS rep
  FROM corpus c LEFT JOIN minreach m ON m.a = c.doc_id
),
b AS (
  SELECT doc_id,
         {_oracle_hash32("CAST(rep AS VARCHAR)")} % 100 AS bucket
  FROM reps
)
SELECT CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split,
       count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM b GROUP BY 1
"""


def q_domain_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture balancing: cap every source domain at 15 docs, chosen by
    hash order of doc_id (operators/sampling.quota_sample) — a
    deterministic per-group uniform sample, the standard guard against
    one domain dominating a training mix. sum(doc_id) checksums WHICH
    docs were kept, not just how many."""
    from ..operators.sampling import quota_sample

    docs = load_table(spark, sf_dir, "documents")
    s = quota_sample(docs, "source", 15, "doc_id")
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


def q_domain_quota_sample_skewsafe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The SAME per-domain quota sample computed by the salted
    TWO-STAGE rank (r11 verdict task #5: quota_sample(...,
    skew_safe=True) — stage 1 windows over (group, salt) so a hot
    domain spreads across 64 tasks, stage 2 re-ranks the bounded
    survivors). Sharing ORACLE_DOMAIN_QUOTA_SAMPLE with the
    single-window entry IS the correctness claim: the two-stage plan
    must produce bit-identical membership, and this entry puts that
    plan under the driver's own checking (until now it was visible
    only to pin tests)."""
    from ..operators.sampling import quota_sample

    docs = load_table(spark, sf_dir, "documents")
    s = quota_sample(docs, "source", 15, "doc_id", skew_safe=True)
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum(token_count(F.col("text"))).alias("total_tokens"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


ORACLE_DOMAIN_QUOTA_SAMPLE = f"""
WITH ranked AS (
  SELECT source, doc_id, text,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_oracle_hash32("CAST(doc_id AS VARCHAR)")} % 1000000007,
                    doc_id) AS rn
  FROM documents
)
SELECT source, count(*) AS n_sampled,
       CAST(sum(len(list_filter(string_split_regex(trim(text), '\\s+'),
                                x -> x <> ''))) AS BIGINT) AS total_tokens,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM ranked WHERE rn <= 15 GROUP BY source
"""


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted (alpha=0.5) mixture sample of 200 docs
    across source domains (operators/sampling.temperature_mixture_sample):
    quotas proportional to sqrt(domain size) via INTEGER-only arithmetic
    (total * isqrt(n_g) // sum isqrt), so the oracle recomputes the
    exact same quotas; within-domain selection is hash-order rank.
    Report: per-source quota fill + sum(doc_id) membership checksum."""
    from ..operators.sampling import temperature_mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    s = temperature_mixture_sample(docs, "source", "doc_id", total=200)
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


def q_mixture_sample_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME temperature mixture sample computed by the driver-free
    join strategy (r10 verdict task #3): quotas stay a DataFrame —
    per-group counts, exact integer sqrt in-plan (_exact_isqrt), the
    weight sum via a broadcast 1-row crossJoin, ``200 * w div s`` in
    BIGINTs — attached by equi-join, then the identical md5-rank draw.
    No driver collect anywhere, so group cardinality is unbounded
    (the collect strategy's max_groups guard points here). Sharing
    ORACLE_MIXTURE_SAMPLE with the collect entry IS the correctness
    claim: both strategies must produce bit-identical membership."""
    from ..operators.sampling import temperature_mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    s = temperature_mixture_sample(
        docs, "source", "doc_id", total=200, strategy="join"
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


def q_chunk_documents_chars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-prep chunking in CHARACTER units (r10): every document
    explodes into 200-char
    windows at stride 150 (50-char overlap) via the row-local
    operators/chunking.chunk_text — no shuffle, no Python, whole-stage
    codegen end to end; (doc_id, chunk_idx) is a stable engine-
    portable key. Report: per-source docs chunked, chunk count, chunk
    chars, and a BIGINT md5 checksum over every chunk's text — the
    checksum pins the exact chunk CONTENT (boundaries included), not
    just the counts, so an off-by-one window would go red."""
    from ..operators.chunking import chunk_text

    docs = load_table(spark, sf_dir, "documents")
    ch = chunk_text(docs, "text", size=200, stride=150)
    md5_int = F.conv(
        F.substring(F.md5(F.col("chunk_text")), 1, 8), 16, 10
    ).cast("long")
    return (
        ch.groupBy("source")
        .agg(
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.length("chunk_text")).alias("sum_chunk_chars"),
            F.sum(md5_int).alias("chunk_checksum"),
        )
        .orderBy("source")
    )


ORACLE_CHUNK_DOCUMENTS_CHARS = f"""
WITH starts AS (
  SELECT doc_id, source, text,
         unnest(range(0, CAST((len(text) - 1) // 150 + 1 AS BIGINT))) AS i
  FROM documents WHERE len(text) > 0
),
ch AS (
  SELECT doc_id, source,
         substr(text, CAST(i * 150 + 1 AS BIGINT), 200) AS chunk_text
  FROM starts
)
SELECT source,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(len(chunk_text)) AS BIGINT) AS sum_chunk_chars,
       CAST(sum({_oracle_hash32("chunk_text")}) AS BIGINT) AS chunk_checksum
FROM ch GROUP BY source ORDER BY source
"""


def q_token_budget_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted temperature mixture (r10): per-source budgets in
    CHAR units proportional to sqrt of source mass (alpha=0.5), filled
    by the md5-hash-order doc prefix with the pack_sequences boundary
    rule (operators/sampling.token_budget_mixture_sample). Training
    mixtures are specified in tokens, not documents — the row-quota
    samplers over-draw short-doc domains at a fixed token target; this
    is the mass-correct form. Everything is BIGINT (in-plan exact
    isqrt, div budgets, window prefix sums), so the oracle recomputes
    identical membership. The total budget is a third of corpus chars
    — the one driver-side scalar (1-row agg, the partition-values
    class); quotas/budgets themselves never leave the plan. Report:
    per-source docs kept, chars kept, membership checksum."""
    from ..operators.sampling import token_budget_mixture_sample

    docs = load_table(spark, sf_dir, "documents")
    # coalesce guards the empty-frame NULL sum (r11 ADVICE, pinned in
    # the v5 sibling too): a 0 budget yields the empty sample
    total = docs.agg(
        F.coalesce(F.sum("n_chars"), F.lit(0))
    ).first()[0] // 3
    s = token_budget_mixture_sample(docs, "source", "doc_id", "n_chars", total)
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("source")
    )


ORACLE_TOKEN_BUDGET_MIXTURE = f"""
WITH masses AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS m
  FROM documents WHERE source IS NOT NULL GROUP BY source
),
r0 AS (
  SELECT source, m, CAST(floor(sqrt(m)) AS BIGINT) AS r FROM masses
),
r1 AS (
  SELECT source, m,
         r + CASE WHEN (r+1)*(r+1) <= m THEN 1 ELSE 0 END AS r FROM r0
),
w AS (
  SELECT source, r - CASE WHEN r*r > m THEN 1 ELSE 0 END AS wt FROM r1
),
budget AS (
  SELECT source,
         ((SELECT CAST(sum(n_chars) AS BIGINT) FROM documents) // 3)
           * wt // (SELECT sum(wt) FROM w) AS b
  FROM w
),
ranked AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (
           PARTITION BY source
           ORDER BY {_oracle_hash32("CAST(doc_id AS VARCHAR)")} % 1000000007,
                    doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
  FROM documents WHERE source IS NOT NULL
)
SELECT rk.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(rk.n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(rk.doc_id) AS BIGINT) AS sum_doc_id
FROM ranked rk JOIN budget USING (source)
WHERE COALESCE(rk.cum, 0) < budget.b AND budget.b > 0
GROUP BY rk.source
ORDER BY rk.source
"""


ORACLE_MIXTURE_SAMPLE = f"""
WITH counts AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
),
w AS (
  SELECT source, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM counts
),
quota AS (
  SELECT source, (200 * wt) // (SELECT sum(wt) FROM w) AS q FROM w
),
ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY {_oracle_hash32("CAST(doc_id AS VARCHAR)")} % 1000000007,
                    doc_id) AS rn
  FROM documents
)
SELECT r.source, count(*) AS n_sampled,
       CAST(sum(r.doc_id) AS BIGINT) AS sum_doc_id
FROM ranked r JOIN quota USING (source)
WHERE r.rn <= quota.q
GROUP BY r.source
"""


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/sampling.pack_sequences): documents
    are packed into 512-token training sequences within 8 hash shards;
    per-shard report of docs, packs, token totals, and the fullest
    pack. Packing is a per-shard window over hash order — parallel
    across shards, no global sort — and pack membership is a pure
    function of (doc_id, token count), recomputed by the oracle."""
    from ..operators.sampling import pack_sequences

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).alias("n_tokens")
    )
    packed = pack_sequences(docs, budget=512, n_shards=8,
                            token_col="n_tokens", key_col="doc_id")
    per_pack = packed.groupBy("shard", "pack_id").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("pack_tokens"),
    )
    return per_pack.groupBy("shard").agg(
        F.sum("n_docs").alias("n_docs"),
        F.count(F.lit(1)).alias("n_packs"),
        F.sum("pack_tokens").alias("total_tokens"),
        F.max("pack_tokens").alias("max_pack_tokens"),
    )


ORACLE_PACK_SEQUENCES = f"""
WITH toks AS (
  SELECT doc_id,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '')) AS n_tokens
  FROM documents
),
packed AS (
  SELECT CAST({_oracle_hash32("CAST(doc_id AS VARCHAR)")} % 8 AS BIGINT) AS shard,
         n_tokens,
         CAST(floor(coalesce(sum(n_tokens) OVER (
           PARTITION BY {_oracle_hash32("CAST(doc_id AS VARCHAR)")} % 8
           ORDER BY {_oracle_hash32("CAST(doc_id AS VARCHAR)")} % 1000000007,
                    doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / 512.0)
         AS BIGINT) AS pack_id
  FROM toks
),
per_pack AS (
  SELECT shard, pack_id, count(*) AS n_docs, sum(n_tokens) AS pack_tokens
  FROM packed GROUP BY shard, pack_id
)
SELECT shard, CAST(sum(n_docs) AS BIGINT) AS n_docs,
       count(*) AS n_packs,
       CAST(sum(pack_tokens) AS BIGINT) AS total_tokens,
       CAST(max(pack_tokens) AS BIGINT) AS max_pack_tokens
FROM per_pack GROUP BY shard
"""


def q_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded deterministic training-order shuffle
    (operators/sampling.training_shuffle): every document gets a shard
    and an in-shard position from two salted md5 hashes of
    (seed, doc_id) — a reproducible, cluster-size-independent global
    shuffle with no global sort (per-shard windows only), re-derivable
    per epoch by bumping the seed. Full (doc_id, shard, position)
    assignment as output; the oracle recomputes it hash-for-hash."""
    from ..operators.sampling import training_shuffle

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return training_shuffle(docs, "doc_id", n_shards=4, seed=1).select(
        "doc_id", "shard", "position"
    )


ORACLE_TRAINING_SHUFFLE = f"""
WITH h AS (
  SELECT doc_id,
         {_oracle_hash32("'1:s:' || CAST(doc_id AS VARCHAR)")} % 4 AS shard,
         {_oracle_hash32("'1:o:' || CAST(doc_id AS VARCHAR)")} % 1000000007
           AS oh
  FROM documents
)
SELECT doc_id, CAST(shard AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY shard ORDER BY oh, doc_id) - 1
            AS BIGINT) AS position
FROM h
"""


def q_decontaminate_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (operators/decontaminate.py): an eval
    set is built from an 8-token slice (positions 2-9) of every 20th
    document — contaminated-by-construction — plus two no-match control
    prompts; any doc sharing an 8-token shingle with it is flagged.
    Broadcast semi join: the corpus is never shuffled — the eval shingle
    set (benchmark-sized at any corpus scale) broadcasts, and only the
    matched ids reach an exchange. Per-lang report; sum(doc_id) of the
    flagged set checksums WHICH docs were caught (the tiny shared
    vocabulary makes natural 8-gram collisions legitimate extra hits,
    identically recomputed by the oracle)."""
    from ..functions.text import whitespace_tokens
    from ..operators.decontaminate import contaminated_ids

    docs = load_table(spark, sf_dir, "documents")
    evals = docs.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(" ", F.slice(whitespace_tokens(F.col("text")), 2, 8)).alias(
            "text"
        )
    ).unionByName(
        spark.createDataFrame([(t,) for t in _DECONTAM_CLEAN_PROMPTS], "text STRING")
    )
    bad = contaminated_ids(docs, evals, n=8).withColumn("c", F.lit(1))
    return (
        docs.join(bad, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("c").isNotNull(), 1).otherwise(0)).alias(
                "n_contaminated"
            ),
            F.sum(F.when(F.col("c").isNull(), 1).otherwise(0)).alias("n_clean"),
            F.coalesce(
                F.sum(F.when(F.col("c").isNotNull(), F.col("doc_id"))), F.lit(0)
            ).alias("sum_contam_id"),
        )
    )


_DECONTAM_PROMPTS_SQL = "\n  UNION ALL\n".join(
    f"  SELECT '{t}' AS text" for t in _DECONTAM_CLEAN_PROMPTS
)

ORACLE_DECONTAMINATE_DOCS = f"""
WITH tok AS (
  SELECT doc_id, lang,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents
),
evals AS (
  SELECT array_to_string(list_slice(w, 2, 9), ' ') AS text
  FROM tok WHERE doc_id % 20 = 0
  UNION ALL
{_DECONTAM_PROMPTS_SQL}
),
eg AS (
  SELECT DISTINCT unnest({_SHINGLE8.format(w='w')}) AS gram
  FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x <> '') AS w FROM evals)
),
bad AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({_SHINGLE8.format(w='w')}) AS gram FROM tok) dg
  JOIN eg USING (gram)
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(CASE WHEN bad.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_contaminated,
       CAST(sum(CASE WHEN bad.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_clean,
       CAST(coalesce(sum(CASE WHEN bad.doc_id IS NOT NULL THEN tok.doc_id END), 0)
         AS BIGINT) AS sum_contam_id
FROM tok LEFT JOIN bad ON tok.doc_id = bad.doc_id
GROUP BY lang
"""


def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media column -> Arrow-batched mapInPandas feature
    extraction with the REAL PPM decoder (operators/multimodal.
    decode_ppm — numpy parses the actual P6 bytes: header tokens,
    comment skipping, pixel array). Payloads are genuine P6 images
    built JVM-side from `part` columns (solid color, channels kept in
    32..127 so each pixel char is one UTF-8 byte), which makes every
    extracted feature — dimensions from the parsed header, checksum =
    exact pixel-byte sum — SQL-predictable: the formerly rows-only
    multimodal entry now carries a full value-hash oracle. The decode
    itself (binary parsing in Python over Arrow batches) is exactly
    the production path; only codec formats remain stubbed."""
    from ..operators.multimodal import extract_media_features, ppm_decoder

    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") <= 300)
    media = part.select(
        F.col("p_partkey").alias("media_id"),
        F.lit("image").alias("kind"),
        (1 + F.col("p_partkey") % 13).cast("int").alias("__w"),
        (1 + F.col("p_partkey") % 7).cast("int").alias("__h"),
        (32 + F.col("p_partkey") % 96).cast("int").alias("__r"),
        (32 + (F.col("p_partkey") * 3) % 96).cast("int").alias("__g"),
        (32 + F.col("p_size") % 96).cast("int").alias("__b"),
    ).select(
        "media_id",
        "kind",
        F.encode(
            F.concat(
                F.lit("P6\n"),
                F.col("__w").cast("string"),
                F.lit(" "),
                F.col("__h").cast("string"),
                F.lit("\n255\n"),
                F.expr("repeat(concat(char(__r), char(__g), char(__b)), __w * __h)"),
            ),
            "utf-8",
        ).alias("payload"),
    )
    feats = extract_media_features(media, decoder=ppm_decoder)
    return feats.select(
        "media_id", "n_bytes", "width", "height", "checksum"
    ).orderBy("media_id")


ORACLE_MULTIMODAL_FEATURES = """
WITH m AS (
  SELECT p_partkey AS media_id,
         1 + p_partkey % 13 AS w,
         1 + p_partkey % 7 AS h,
         32 + p_partkey % 96 AS r,
         32 + (p_partkey * 3) % 96 AS g,
         32 + p_size % 96 AS b
  FROM part WHERE p_partkey <= 300
)
SELECT media_id,
       CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
            + 3 * w * h AS INTEGER) AS n_bytes,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST((r + g + b) * w * h AS BIGINT) AS checksum
FROM m ORDER BY media_id
"""


def q_mixed_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-modality media table — REAL P6 images and REAL RIFF/WAVE
    8-bit mono PCM audio, both built byte-exact JVM-side from `part`
    columns — routed through ONE mapInPandas stage by the magic-byte
    sniffing dispatcher (operators/multimodal.sniff_decoder): numpy
    parses the actual image pixels and the actual WAV chunk list.
    Every feature (dims, duration = samples/rate, checksum = exact
    byte sums) is SQL-predicted, so the mixed pipeline is value-hash
    oracled end-to-end."""
    from ..operators.multimodal import extract_media_features, sniff_decoder

    part = load_table(spark, sf_dir, "part")
    images = part.where(F.col("p_partkey") <= 150).select(
        F.col("p_partkey").alias("media_id"),
        F.lit("image").alias("kind"),
        (1 + F.col("p_partkey") % 13).cast("int").alias("__w"),
        (1 + F.col("p_partkey") % 7).cast("int").alias("__h"),
        (32 + F.col("p_partkey") % 96).cast("int").alias("__r"),
        (32 + (F.col("p_partkey") * 3) % 96).cast("int").alias("__g"),
        (32 + F.col("p_size") % 96).cast("int").alias("__b"),
    ).select(
        "media_id",
        "kind",
        F.encode(
            F.concat(
                F.lit("P6\n"),
                F.col("__w").cast("string"),
                F.lit(" "),
                F.col("__h").cast("string"),
                F.lit("\n255\n"),
                F.expr("repeat(concat(char(__r), char(__g), char(__b)), __w * __h)"),
            ),
            "utf-8",
        ).alias("payload"),
    )
    audio = part.where(
        (F.col("p_partkey") > 150) & (F.col("p_partkey") <= 300)
    ).select(
        F.col("p_partkey").alias("media_id"),
        F.lit("audio").alias("kind"),
        (1 + F.col("p_partkey") % 91).cast("int").alias("__n"),
        (32 + F.col("p_partkey") % 96).cast("int").alias("__v"),
    ).select(
        "media_id",
        "kind",
        F.encode(
            F.expr(
                "concat('RIFF', char(36 + __n), char(0), char(0), char(0),"
                " 'WAVE', 'fmt ', char(16), char(0), char(0), char(0),"
                " char(1), char(0), char(1), char(0),"
                " char(64), char(31), char(0), char(0),"   # 8000 Hz LE32
                " char(64), char(31), char(0), char(0),"   # byte rate
                " char(1), char(0), char(8), char(0),"     # align, bits
                " 'data', char(__n), char(0), char(0), char(0),"
                " repeat(char(__v), __n))"
            ),
            "utf-8",
        ).alias("payload"),
    )
    feats = extract_media_features(
        images.unionByName(audio), decoder=sniff_decoder
    )
    return feats.select(
        "media_id", "kind", "n_bytes", "width", "height", "duration_s",
        "checksum",
    ).orderBy("media_id")


ORACLE_MIXED_MEDIA_FEATURES = """
WITH img AS (
  SELECT p_partkey AS media_id,
         1 + p_partkey % 13 AS w,
         1 + p_partkey % 7 AS h,
         32 + p_partkey % 96 AS r,
         32 + (p_partkey * 3) % 96 AS g,
         32 + p_size % 96 AS b
  FROM part WHERE p_partkey <= 150
),
aud AS (
  SELECT p_partkey AS media_id,
         1 + p_partkey % 91 AS n,
         32 + p_partkey % 96 AS v
  FROM part WHERE p_partkey > 150 AND p_partkey <= 300
)
SELECT media_id, 'image' AS kind,
       CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR))
            + 3 * w * h AS INTEGER) AS n_bytes,
       CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(NULL AS DOUBLE) AS duration_s,
       CAST((r + g + b) * w * h AS BIGINT) AS checksum
FROM img
UNION ALL
SELECT media_id, 'audio' AS kind,
       CAST(44 + n AS INTEGER) AS n_bytes,
       CAST(NULL AS INTEGER) AS width, CAST(NULL AS INTEGER) AS height,
       CAST(n AS DOUBLE) / 8000.0 AS duration_s,
       CAST(v * n AS BIGINT) AS checksum
FROM aud
ORDER BY media_id
"""


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view -> click -> purchase funnel with strict sequential
    semantics and a 24h conversion window (operators/funnel.
    funnel_report): a step counts only when its first qualifying event
    lands STRICTLY AFTER the previous step's completion and within the
    window. Per-step user counts + conversion in exact basis points;
    the oracle chains the same per-step min-within-window
    aggregates."""
    from ..operators.funnel import funnel_report

    ev = load_table(spark, sf_dir, "events")
    return funnel_report(
        ev, ["view", "click", "purchase"], window_seconds=86400
    )


ORACLE_FUNNEL_CONVERSION = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY 1
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2
  FROM events e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND e.ts <= s1.t1 + INTERVAL 86400 SECOND GROUP BY 1
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3
  FROM events e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND e.ts <= s2.t2 + INTERVAL 86400 SECOND GROUP BY 1
),
c AS (
  SELECT (SELECT count(*) FROM s1) AS n_step1,
         (SELECT count(*) FROM s2) AS n_step2,
         (SELECT count(*) FROM s3) AS n_step3
)
SELECT CAST(n_step1 AS BIGINT) AS n_step1,
       CAST(n_step2 AS BIGINT) AS n_step2,
       CAST(n_step3 AS BIGINT) AS n_step3,
       CAST(CASE WHEN n_step1 > 0 THEN n_step2 * 10000 // n_step1
                 ELSE 0 END AS BIGINT) AS conv_step2_bp,
       CAST(CASE WHEN n_step1 > 0 THEN n_step3 * 10000 // n_step1
                 ELSE 0 END AS BIGINT) AS conv_step3_bp
FROM c
"""


def q_scd2_user_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type 2 dimension history (operators/scd.scd2_history): each
    user's event stream becomes validity intervals — valid_from /
    valid_to / is_current per version — the point-in-time answer the
    reference's keep-newest upsert throws away. One key shuffle, one
    lead window; oracle is the same lead in SQL."""
    from ..operators.scd import scd2_history

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id") < 30)
        .select("user_id", "event_id", "ts", "event_type")
    )
    hist = scd2_history(ev, ["user_id"], "ts", tiebreak_col="event_id")
    return hist.select(
        "user_id", "event_id", "event_type", "valid_from", "valid_to",
        "is_current",
    ).orderBy("user_id", "valid_from", "event_id")


ORACLE_SCD2_USER_HISTORY = """
SELECT user_id, event_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM events
WHERE user_id < 30 AND ts IS NOT NULL
ORDER BY user_id, valid_from, event_id
"""


def q_experiment_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout: users split into control/treatment by
    the deterministic md5 hash bucket (sampling.split_assign
    machinery — retry-safe, recomputable by any engine), then each
    arm's purchase-value stats in exact integer cents: n_users,
    n_events, total value, and the exact half-up mean. The uplift
    column is the arm-mean difference in cents — pure BIGINT until one
    final double division. Assignment never shuffles (row-local md5);
    the readout is one keyed aggregate."""
    from ..operators.sampling import hash_bucket

    ev = load_table(spark, sf_dir, "events").where(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    )
    arm = F.when(hash_bucket("user_id", 2) == 0, "control").otherwise(
        "treatment"
    )
    val_u = units("value")
    return (
        ev.select(arm.alias("arm"), "user_id", val_u.alias("__v"))
        .groupBy("arm")
        .agg(
            F.count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("__v").alias("sum_value_u"),
        )
        .select(
            "arm",
            "n_users",
            "n_events",
            as_value("sum_value_u").alias("total_value"),
            avg_units_expr("sum_value_u", "n_events", 2, 2).alias(
                "mean_value"
            ),
        )
        .orderBy("arm")
    )


ORACLE_EXPERIMENT_UPLIFT = f"""
WITH ev AS (
  SELECT CASE WHEN {_oracle_hash32("CAST(user_id AS VARCHAR)")} % 2 = 0
              THEN 'control' ELSE 'treatment' END AS arm,
         user_id, {oracle_units('value')} AS v
  FROM events
  WHERE event_type = 'purchase' AND value IS NOT NULL
),
g AS (
  SELECT arm, count(DISTINCT user_id) AS n_users,
         count(*) AS n_events,
         CAST(sum(v) AS BIGINT) AS sum_u
  FROM ev GROUP BY arm
)
SELECT arm, n_users, n_events,
       CAST(sum_u AS DOUBLE) / 100.0 AS total_value,
       {oracle_avg_units('sum_u', 'n_events', 2, 2)} AS mean_value
FROM g ORDER BY arm
"""


def q_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavioral transition matrix: per user-ordered
    event stream, count (event_type -> next event_type) pairs — the
    Markov-chain census behind "what do users do after X" product
    questions. One key shuffle + one lead window over (ts, event_id);
    the matrix itself is #types² rows."""
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("user_id", "ts", "event_id", "event_type")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.withColumn("next_type", F.lead("event_type").over(w)).where(
        F.col("next_type").isNotNull()
    )
    return (
        pairs.groupBy(
            F.col("event_type").alias("type_from"),
            F.col("next_type").alias("type_to"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("type_from", "type_to")
    )


ORACLE_EVENT_TRANSITIONS = """
WITH pairs AS (
  SELECT event_type AS type_from,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS type_to
  FROM events WHERE ts IS NOT NULL
)
SELECT type_from, type_to, count(*) AS n_transitions
FROM pairs WHERE type_to IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


def q_mad_outlier_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier screen per event type: median and MAD (median
    absolute deviation) in exact integer cents, flagging values with
    |v - median| > 3·MAD — the heavy-tail-safe alternative to z-scores
    (one wild sensor can't drag its own threshold the way it drags a
    mean/stddev). Medians of integer cents are exact half-integers in
    BOTH engines (percentile_cont linear interpolation), so every
    comparison is engine-exact.

    Plan: two grouped exact-percentile aggregates (value median, then
    deviation median) — each a map-side-combined digest, no per-group
    sort — with group-count-sized broadcast joins back; one final
    conditional rollup. Three scans of the filtered column is the
    exact-MAD floor; for value domains too wide for the aggregate's
    value->count buffer the escape hatches in operators/percentile.py
    apply (approx_percentile, or the EXACT O(1)-state rank-based twin
    grouped_percentile_bounds_ranked)."""
    ev = load_table(spark, sf_dir, "events").where(
        F.col("value").isNotNull()
    )
    vu = ev.select("event_type", units("value").alias("__v"))
    med = vu.groupBy("event_type").agg(
        F.percentile("__v", F.lit(0.5)).alias("__med")
    )
    dev = vu.join(F.broadcast(med), "event_type").select(
        "event_type", "__v", "__med",
        F.abs(F.col("__v") - F.col("__med")).alias("__dev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("__dev", F.lit(0.5)).alias("__mad")
    )
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_values"),
            F.sum(
                F.when(F.col("__dev") > 3 * F.col("__mad"), 1).otherwise(0)
            ).alias("n_outliers"),
            (F.first("__med") / F.lit(100.0)).alias("median_value"),
            (F.first("__mad") / F.lit(100.0)).alias("mad_value"),
        )
        .orderBy("event_type")
    )


ORACLE_MAD_OUTLIER_SCREEN = f"""
WITH vu AS (
  SELECT event_type, {oracle_units('value')} AS v
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT event_type,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS m
  FROM vu GROUP BY event_type
),
dev AS (
  SELECT vu.event_type, vu.v, med.m, abs(vu.v - med.m) AS d
  FROM vu JOIN med USING (event_type)
),
mad AS (
  SELECT event_type,
         percentile_cont(0.5) WITHIN GROUP (ORDER BY d) AS md
  FROM dev GROUP BY event_type
)
SELECT dev.event_type,
       count(*) AS n_values,
       CAST(sum(CASE WHEN d > 3 * md THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(any_value(dev.m) AS DOUBLE) / 100.0 AS median_value,
       CAST(any_value(md) AS DOUBLE) / 100.0 AS mad_value
FROM dev JOIN mad USING (event_type)
GROUP BY dev.event_type
ORDER BY dev.event_type
"""


def q_copurchase_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics on relational data: connected components of the
    part co-purchase graph (parts are adjacent when they appear in the
    same order) — the text_dedup clustering engine
    (connected_components_min: star contraction with the size-gated
    driver union-find) exposed as a first-class catalog
    operator. Per-component census keyed by the minimum member.

    Plan: the edge list is a self-join of the part-filtered lineitem
    projection on orderkey (two-column scans, DISTINCT on the pair) —
    facts shuffle once; the component loop then runs over the
    pair-graph only, orders of magnitude smaller. Oracle: recursive
    transitive closure."""
    from ..operators.text_dedup import connected_components_min

    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_partkey") < 60)
        .select("l_orderkey", "l_partkey")
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("id_a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("id_b"))
    edges = (
        a.join(b, "o")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    comp = connected_components_min(edges)
    return (
        comp.groupBy(F.col("rep").alias("component_rep"))
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.max("id").alias("max_part"),
        )
        .orderBy("component_rep")
    )


ORACLE_COPURCHASE_COMPONENTS = """
WITH RECURSIVE li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 60
),
e AS (
  SELECT DISTINCT a.l_partkey AS ea, b.l_partkey AS eb
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT ea AS a, eb AS b FROM e UNION ALL SELECT eb, ea FROM e
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, x.b FROM reach r JOIN edges x ON r.b = x.a
),
clusters AS (
  SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a
)
SELECT rep AS component_rep, CAST(count(*) AS BIGINT) AS n_parts,
       CAST(max(id) AS BIGINT) AS max_part
FROM clusters GROUP BY rep ORDER BY component_rep
"""


# --- similarity search ------------------------------------------------------


def _ann_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding", "label"
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-5 for 10 broadcast query vectors."""
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, _ann_queries(spark, sf_dir), k=5)


def q_semantic_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination (operators/
    decontaminate.semantic_decontaminate): vec_id % 29 == 0 plays the
    eval set; corpus rows within cosine 0.95 of ANY eval vector drop
    (the eval members themselves self-match at 1.0, so the screen
    provably fires). Map-only plan: the eval side collapses to one
    broadcast row of (vector, norm) structs and each corpus row
    answers a row-local EXISTS — the corpus never shuffles before the
    report aggregate. The default strategy=None auto-route resolves to
    the exact expression path here (eval cells stay far below
    SEMANTIC_AUTO_ARROW_CELLS at driver/bench scales — pin-tested), so
    this entry keeps the bit-exact oracle contract while exercising
    the auto knob. Report per label: survivors + id checksum."""
    from ..operators.decontaminate import semantic_decontaminate

    emb = load_table(spark, sf_dir, "embeddings")
    evals = emb.where(F.pmod(F.col("vec_id"), F.lit(29)) == 0)
    kept = semantic_decontaminate(emb, evals, threshold=0.95)
    return (
        kept.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
        .orderBy("label")
    )


ORACLE_SEMANTIC_DECONTAMINATE = """
-- NULL-embedding pin (r11 ADVICE): a NULL corpus vector yields NULL
-- cosines, NOT EXISTS over them is TRUE -> KEPT, matching both engine
-- paths (expression: __cn IS NULL branch; arrow: isnull mask).
WITH e AS (
  SELECT embedding FROM embeddings
  WHERE vec_id % 29 = 0
    AND list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                x -> x * x)) > 0
),
kept AS (
  SELECT c.vec_id, c.label FROM embeddings c
  WHERE list_sum(list_transform(CAST(c.embedding AS DOUBLE[]),
                                x -> x * x)) = 0
     OR NOT EXISTS (
       SELECT 1 FROM e
       WHERE round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
                                          CAST(e.embedding AS DOUBLE[])),
                   6) >= 0.95
     )
)
SELECT label, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(vec_id) AS BIGINT) AS sum_vec_id
FROM kept GROUP BY label ORDER BY label
"""


_ORACLE_COS = (
    "round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]), "
    "CAST(c.embedding AS DOUBLE[])), 6)"
)

ORACLE_ANN_COSINE_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding, label FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {_ORACLE_COS} AS cos_sim
  FROM q CROSS JOIN embeddings c
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""


def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard negatives
    (operators/similarity.hard_negative_mining): for each of the 10
    query vectors, the top-5 most-similar corpus vectors with a
    DIFFERENT label, capped at cosine < 0.99 to screen near-duplicate
    false negatives. The corpus streams once; queries broadcast."""
    from ..operators.similarity import hard_negative_mining

    emb = load_table(spark, sf_dir, "embeddings")
    return hard_negative_mining(emb, _ann_queries(spark, sf_dir), k=5)


ORACLE_HARD_NEGATIVE_MINING = f"""
WITH q AS (SELECT vec_id AS query_id, embedding, label
           FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
         {_ORACLE_COS} AS cos_sim
  FROM q CROSS JOIN embeddings c
  WHERE c.label <> q.label
)
SELECT query_id, neighbor_id, neighbor_label, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC)
            AS INT) AS rank
FROM scored
WHERE cos_sim < 0.99
QUALIFY rank <= 5
"""


def q_ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full IVF: k-means coarse quantizer fit on the corpus, corpus
    labeled with its nearest cell, queries multi-probed (2 of 8 cells),
    exact top-5 within candidates.

    Round 3: switched from pyspark.ml KMeans (float partial sums combine
    in shuffle-fetch order -> run-to-run nondeterminism -> rows-only
    check) to the exact BIGINT micro-unit Lloyd fit
    (operators/similarity.exact_kmeans_centroids), which is a pure
    function of the data. The DuckDB twin (ORACLE_ANN_IVF_KMEANS)
    re-derives the same init ranking, 3 Lloyd iterations, labels,
    probes, and ranking — a full hash check instead of rows-only."""
    from ..operators.similarity import ivf_kmeans_exact_topk

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = embeddings_centroids(spark, sf_dir, n_cells=8, iters=3)
    return ivf_kmeans_exact_topk(
        emb, qs, k=5, n_cells=8, n_probe=2, iters=3, centroids=cents
    )


def _oracle_ivf_kmeans(
    n_cells: int = 8,
    n_probe: int = 2,
    k: int = 5,
    iters: int = 3,
    dims: int = 64,
    scale: int = 6,
) -> str:
    """Unrolled-iteration DuckDB twin of ivf_kmeans_exact_topk on the
    shared _kmeans_label_ctes scaffolding; only the final cosine is
    float, rounded to 6 like the other green ANN oracles."""
    dist = (
        "list_sum(list_transform(range(1, {d}), "
        "i -> (q.v[i] - s.c[i]) * (q.v[i] - s.c[i])))"
    ).format(d=dims + 1)
    final = iters
    ctes = _kmeans_label_ctes(
        "embeddings", n_cells, iters, dims, scale, QUANTIZER_SAMPLE_CAP
    )
    ctes.append(
        f"""probes AS (
  SELECT query_id, cell_id FROM (
    SELECT q.vec_id AS query_id, s.cell_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, s.cell_id) AS rn
    FROM qv q CROSS JOIN cents{final} s
    WHERE q.vec_id < 10
  ) WHERE rn <= {n_probe}
)""",
    )
    ctes.append(
        f"""scored AS (
  SELECT p.query_id, l.vec_id AS neighbor_id,
         round(list_cosine_similarity(CAST(qe.embedding AS DOUBLE[]),
                                      CAST(ce.embedding AS DOUBLE[])), 6)
           AS cos_sim
  FROM probes p
  JOIN labeled l ON l.cell_id = p.cell_id AND l.vec_id <> p.query_id
  JOIN embeddings qe ON qe.vec_id = p.query_id
  JOIN embeddings ce ON ce.vec_id = l.vec_id
)""",
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS INT)
         AS rank
FROM scored
QUALIFY rank <= {k}
"""
    )


ORACLE_ANN_IVF_KMEANS = _oracle_ivf_kmeans()


def q_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-bucketed top-5: only the query's coarse cell is scored."""
    emb = load_table(spark, sf_dir, "embeddings")
    return ivf_topk(emb, _ann_queries(spark, sf_dir), k=5)


ORACLE_ANN_IVF_TOPK = f"""
WITH q AS (SELECT vec_id AS query_id, embedding, label FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT q.query_id, c.vec_id AS neighbor_id, {_ORACLE_COS} AS cos_sim
  FROM q JOIN embeddings c ON c.label = q.label
  WHERE c.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cos_sim,
       CAST(row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
FROM scored
QUALIFY rank <= 5
"""

def q_rolling_7d_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed-frame analytics (W-extension: frames are free Spark API
    surface the reference never exercises, SURVEY §2.5): per event-type
    7-row trailing average and cumulative count over the daily series.
    Partitioned by event_type — parallel windows, no global sort."""
    daily = (
        _events_base(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(units_sum("value").alias("s_value"), F.count(F.lit(1)).alias("n"))
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # Frame-sum the exact BIGINT cent units (order-independent in any
    # engine) and divide once half-up — round(avg(double) over frame, 4)
    # flips the last digit between Spark and DuckDB (CORRECTNESS_r01).
    framed = daily.select(
        "event_type",
        "day",
        F.sum("s_value").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
        F.sum("n").over(wcum).alias("cum_readings"),
    )
    return framed.select(
        "event_type",
        "day",
        avg_units_expr("s7", "n7", 2, 4).alias("avg_7d"),
        "cum_readings",
    )


ORACLE_ROLLING_7D_AVG = f"""
WITH clean AS (
  SELECT event_id, CAST(ts AS DATE) AS day, value,
         lower(trim(event_type)) AS event_type
  FROM events
  WHERE lower(trim(event_type)) IN ('view', 'click', 'purchase')
    AND value IS NOT NULL
),
daily AS (
  SELECT event_type, day,
         sum(CAST(round(value * 100) AS BIGINT)) AS s_value,
         count(*) AS n
  FROM clean GROUP BY event_type, day
),
framed AS (
  SELECT event_type, day,
         CAST(sum(s_value) OVER w7 AS BIGINT) AS s7,
         count(*) OVER w7 AS n7,
         CAST(sum(n) OVER wcum AS BIGINT) AS cum_readings
  FROM daily
  WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
         wcum AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT event_type, day,
       {oracle_avg_units('s7', 'n7', 2, 4)} AS avg_7d,
       cum_readings
FROM framed
"""


def q_raw_typing_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q1's front-end exactly as the reference sees it: an
    ALL-STRING raw layer (S1 TEXT staging) typed back via F1
    multi-format timestamp fallback parse, F2 decimal-comma + NULLIF('')
    normalization, F3 case/whitespace normalization, P2/P3 filters,
    then the daily aggregate. The raw strings are built
    deterministically from `events` in-plan (two timestamp formats by
    parity, comma decimals, padded uppercase kinds, empty-string gaps),
    so the oracle computes the expected result from the original
    columns."""
    from ..functions.cleaning import coalesce_multi_format_timestamp, decimal_comma_to_double

    ev = load_table(spark, sf_dir, "events")
    even = F.col("event_id") % 2 == 0
    raw = ev.select(
        "event_id",
        F.when(even, F.date_format("ts", "dd-MM-yyyy HH:mm:ss"))
        .otherwise(F.date_format("ts", "dd-MM-yyyy HH:mm"))
        .alias("noted_date"),
        F.when(F.col("event_id") % 97 == 0, F.lit(""))
        .otherwise(F.regexp_replace(F.col("value").cast("string"), "[.]", ","))
        .alias("temp"),
        F.when(even, F.upper(F.concat(F.lit("  "), F.col("event_type"), F.lit(" "))))
        .otherwise(F.col("event_type"))
        .alias("out_in"),
    )
    parsed = raw.select(
        coalesce_multi_format_timestamp(
            "noted_date", "dd-MM-yyyy HH:mm:ss", "dd-MM-yyyy HH:mm"
        )
        .cast("date")
        .alias("day"),
        decimal_comma_to_double("temp").alias("value"),
        F.lower(F.trim(F.col("out_in"))).alias("event_type"),
    ).where(
        F.col("event_type").isin(*_EVENT_KINDS)
        & F.col("value").isNotNull()
        & F.col("day").isNotNull()
    )
    return daily_avg(parsed)


ORACLE_RAW_TYPING_ROUNDTRIP = f"""
WITH clean AS (
  SELECT CAST(ts AS DATE) AS day, value
  FROM events
  WHERE lower(trim(event_type)) IN ('view', 'click', 'purchase')
    AND value IS NOT NULL AND ts IS NOT NULL AND event_id % 97 <> 0
)
{_ORACLE_DAILY_SELECT}
"""


def q_skew_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key-safe fact-to-dim join (operators/skew.py): events salted
    over 16 buckets against a 16x-replicated customer dim, aggregated
    to per-segment exact-units totals. Result is provably identical to
    the unsalted join, so the plain-SQL oracle applies."""
    from ..operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    ).where(F.col("value").isNotNull())
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = salted_join(ev, cust, ["user_id"], salt_buckets=16, how="inner")
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            units_sum("value").alias("s_value"),
        )
        .select(
            "c_mktsegment",
            "n_events",
            as_value("s_value", 2).alias("total_value"),
        )
    )


ORACLE_SKEW_JOIN_SALTED = f"""
SELECT c_mktsegment,
       count(*) AS n_events,
       {oracle_sum_value('value')} AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
WHERE e.value IS NOT NULL
GROUP BY c_mktsegment
"""


def q_embedding_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup: 20 scaled copies (cosine = 1.0)
    are injected with offset ids; dedup keeps the lowest id of each
    near-dup group (cos >= 0.95; natural max in this corpus is ~0.51,
    so exactly the injected copies are dropped). Survivors per label.

    SCALE-SAFE path: a coarse quantizer (deterministic hash-sampled
    centroids — k-means seeding with zero Lloyd rounds; swap in an
    offline exact_kmeans_centroids fit when cells gate search recall) blocks
    the pair space: every vector is assigned its 2 nearest cells by
    COSINE (scale-invariant, so a copy and its scalar multiple
    provably share cells for ANY centroid set); candidate pairs are
    generated only within shared cells — an equi-join on cell_id over
    (cell, id) rows, never the O(n^2) cross join (that unblocked form
    survives as the test-only recall baseline,
    tests/test_dedup_invariants.py). Cells are SIZED to the corpus:
    n_cells >= 2*n_probe*n / target_cell_pop (PERF.md finding 8) — 64
    cells puts ~60 vectors in a cell at this scale."""
    from ..operators.similarity import (
        assign_cells,
        embedding_near_dup_ids,
        sampled_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    dups = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.5)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    corpus = emb.unionByName(dups)
    # n_probe=2: a pair is compared if it shares either probed cell —
    # the standard multi-probe recall guard for vectors near a cell
    # boundary; duplicate-cell hits collapse in the candidate distinct.
    cent = sampled_centroids(corpus, n_cells=64)
    assigned = assign_cells(corpus, cent, n_probe=2, metric="cosine")
    dup_ids = embedding_near_dup_ids(
        assigned, threshold=0.95, block_col="cell_id"
    )
    kept = corpus.join(dup_ids, "vec_id", "left_anti")
    return kept.groupBy("label").agg(F.count(F.lit(1)).alias("n_vecs"))


ORACLE_EMBEDDING_NEAR_DEDUP = """
WITH corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT)),
         label
  FROM embeddings WHERE vec_id < 20
),
dups AS (
  SELECT DISTINCT b.vec_id
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])), 6) >= 0.95
)
SELECT label, count(*) AS n_vecs
FROM corpus
WHERE vec_id NOT IN (SELECT vec_id FROM dups)
GROUP BY label
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): prune semantically redundant
    vectors INSIDE learned k-means clusters only. 20 lightly-scaled
    copies (cosine exactly 1.0, tiny L2 offset so they co-cluster with
    their originals) are injected; threshold 0.45 additionally prunes
    the corpus's natural semantic redundancy (max natural cosine ~0.51
    at sf0.01). Per-cluster kept/dropped census as output.

    Everything is deterministic — exact-integer Lloyd fit
    (operators/similarity.exact_kmeans_centroids), integer argmin
    labeling, cosine rounded to 6dp — so the DuckDB twin re-derives
    the full fit+label+flag pipeline (shared _kmeans_label_ctes
    scaffolding) and the driver hash-checks it."""
    from ..operators.similarity import semantic_dedup_flags

    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.02)).cast("float")
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(copies)
    flags = semantic_dedup_flags(
        corpus, threshold=0.45, n_cells=8, iters=3,
        sample_cap=QUANTIZER_SAMPLE_CAP,
    )
    return (
        flags.groupBy("cluster_id")
        .agg(
            F.count(F.when(~F.col("is_dup"), 1)).alias("n_kept"),
            F.count(F.when(F.col("is_dup"), 1)).alias("n_dropped"),
        )
        .orderBy("cluster_id")
    )


def _oracle_semantic_dedup(
    threshold: float = 0.45,
    n_cells: int = 8,
    iters: int = 3,
    dims: int = 64,
    scale: int = 6,
) -> str:
    corpus = """corpus AS (
  SELECT vec_id, embedding, label FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x * 1.02 AS FLOAT)),
         label
  FROM embeddings WHERE vec_id < 20
)"""
    ctes = [corpus] + _kmeans_label_ctes(
        "corpus", n_cells, iters, dims, scale, QUANTIZER_SAMPLE_CAP
    )
    ctes.append(
        f"""dups AS (
  SELECT DISTINCT b.vec_id
  FROM labeled a
  JOIN labeled b ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
  JOIN corpus ea ON ea.vec_id = a.vec_id
  JOIN corpus eb ON eb.vec_id = b.vec_id
  WHERE round(list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]),
                                     CAST(eb.embedding AS DOUBLE[])),
              {scale}) >= {threshold}
)"""
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT l.cell_id AS cluster_id,
       CAST(count(*) FILTER (d.vec_id IS NULL) AS BIGINT) AS n_kept,
       CAST(count(*) FILTER (d.vec_id IS NOT NULL) AS BIGINT) AS n_dropped
FROM labeled l LEFT JOIN dups d ON l.vec_id = d.vec_id
GROUP BY l.cell_id
ORDER BY cluster_id
"""
    )


ORACLE_SEMANTIC_DEDUP = _oracle_semantic_dedup()


# --- semi-structured normalization (SURVEY Q10: S3/S4, J4, F8, F10) ---------


def q_json_normalize_pets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q10a: a JSON payload (pets array, built deterministically
    from `part`) goes through a REAL serialize -> from_json -> explode
    normalization (S3 + J4 + F8); the oracle computes the expected
    normalized table directly from the base columns."""
    from ..operators.normalize import normalize_pets_json

    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") <= 50)
    keyed_pet = F.struct(
        F.col("p_partkey").alias("k"),
        F.struct(
            F.col("p_name").alias("name"),
            F.col("p_brand").alias("species"),
            F.split("p_type", " ").alias("favFoods"),
            F.col("p_size").cast("int").alias("birthYear"),
            F.lit(None).cast("string").alias("photo"),
        ).alias("pet"),
    )
    payload = part.agg(
        F.to_json(
            F.struct(
                F.transform(
                    F.array_sort(F.collect_list(keyed_pet)), lambda s: s["pet"]
                ).alias("pets")
            )
        ).alias("payload")
    )
    pets, _favfoods = normalize_pets_json(payload)
    return pets


ORACLE_JSON_NORMALIZE_PETS = """
SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS INT) AS pet_id,
       p_name AS name,
       p_brand AS species,
       CAST(p_size AS INT) AS birth_year,
       array_to_string(string_split(p_type, ' '), ';') AS fav_foods_joined
FROM part WHERE p_partkey <= 50
"""


def q_xml_normalize_foods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q10b: an XML nutrition payload (attributed elements, built
    deterministically from `part`) is parsed with schema'd from_xml
    (F10: attributes as _-prefixed fields, element text as _VALUE) and
    normalized to a foods table; oracle from the base columns."""
    from ..operators.normalize import normalize_nutrition_xml

    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") <= 30)
    food_xml = F.concat(
        F.lit("<food><name>"),
        F.col("p_name"),
        F.lit('</name><serving units="g">'),
        F.col("p_size").cast("string"),
        F.lit('</serving><calories total="'),
        F.floor("p_retailprice").cast("string"),
        F.lit('" fat="'),
        (F.col("p_size") * 10).cast("string"),
        F.lit('"/><vitamins><a>'),
        F.length("p_name").cast("string"),
        F.lit("</a><c>"),
        (F.col("p_size") % 7).cast("string"),
        F.lit("</c></vitamins></food>"),
    )
    payload = part.agg(
        F.concat(
            F.lit(
                '<root><daily_values><total_fat units="g">65</total_fat>'
                '<sodium units="mg">2400</sodium></daily_values>'
            ),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col("p_partkey").alias("k"), food_xml.alias("x"))
                        )
                    ),
                    lambda s: s["x"],
                ),
            ),
            F.lit("</root>"),
        ).alias("payload")
    )
    foods, _daily = normalize_nutrition_xml(payload)
    return foods


ORACLE_XML_NORMALIZE_FOODS = """
SELECT CAST(row_number() OVER (ORDER BY p_partkey) AS INT) AS food_id,
       p_name AS name,
       CAST(p_size AS BIGINT) AS serving_amount,
       'g' AS serving_units,
       CAST(floor(p_retailprice) AS BIGINT) AS calories_total,
       CAST(p_size * 10 AS BIGINT) AS calories_fat,
       CAST(length(p_name) AS BIGINT) AS vitamin_a,
       CAST(p_size % 7 AS BIGINT) AS vitamin_c
FROM part WHERE p_partkey <= 30
"""


def q_xml_attrs_sparse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q10b extension (VERDICT r2 #9): ATTRIBUTE-heavy XML with
    MISSING OPTIONAL nodes — the part of the reference's nutrition shape
    (HW-2/init/init.sql:42-45: attributed elements, attribute+text
    leaves, per-record optional children) the first fixture doesn't
    exercise. Per item:

      - optional ``grade`` ATTRIBUTE (present iff p_partkey % 3 = 0)
      - optional self-closing attributes-only ``<dims/>`` ELEMENT
        (present iff p_partkey even) — missing element must surface as
        a NULL struct whose field accesses are null-safe (F9 contract)
      - optional ``<note>`` text ELEMENT (present iff p_size > 25)
      - ``<price ccy=..>`` attribute-plus-text leaf (always present)

    One schema'd from_xml (JVM-side, F10), no surrogate window — the
    id attribute is the natural key, so normalization is a pure
    per-row Generate with no ordering pass."""
    from ..operators.normalize import normalize_sparse_items_xml

    part = load_table(spark, sf_dir, "part").where(F.col("p_partkey") <= 40)
    item_xml = F.concat(
        F.lit('<item id="'),
        F.col("p_partkey").cast("string"),
        F.lit('" cat="'),
        F.col("p_brand"),
        F.lit('"'),
        F.when(
            F.col("p_partkey") % 3 == 0,
            F.concat(F.lit(' grade="'), F.col("p_type"), F.lit('"')),
        ).otherwise(F.lit("")),
        F.lit(">"),
        F.when(
            F.col("p_partkey") % 2 == 0,
            F.concat(
                F.lit('<dims units="cm" w="'),
                F.col("p_size").cast("string"),
                F.lit('" h="'),
                (F.col("p_size") * 2).cast("string"),
                F.lit('"/>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            F.col("p_size") > 25,
            F.concat(F.lit("<note>"), F.col("p_name"), F.lit("</note>")),
        ).otherwise(F.lit("")),
        F.lit('<price ccy="USD">'),
        F.floor("p_retailprice").cast("string"),
        F.lit("</price></item>"),
    )
    payload = part.agg(
        F.concat(
            F.lit("<inventory>"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("p_partkey").alias("k"), item_xml.alias("x")
                            )
                        )
                    ),
                    lambda s: s["x"],
                ),
            ),
            F.lit("</inventory>"),
        ).alias("payload")
    )
    return normalize_sparse_items_xml(payload)


ORACLE_XML_ATTRS_SPARSE = """
SELECT CAST(p_partkey AS BIGINT) AS item_id,
       p_brand AS category,
       CASE WHEN p_partkey % 3 = 0 THEN p_type END AS grade,
       CASE WHEN p_partkey % 2 = 0 THEN 'cm' END AS dims_units,
       CASE WHEN p_partkey % 2 = 0 THEN CAST(p_size AS BIGINT) END AS dims_w,
       CASE WHEN p_partkey % 2 = 0 THEN CAST(p_size * 2 AS BIGINT) END AS dims_h,
       CASE WHEN p_size > 25 THEN p_name END AS note,
       CAST(floor(p_retailprice) AS BIGINT) AS price,
       'USD' AS price_ccy
FROM part WHERE p_partkey <= 40
"""


def q_customer_order_presence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi/anti join surface (EXISTS / NOT EXISTS): per market segment,
    customers with and without any events. Both plans are one hash
    join that never materializes the fan-out — the scalable form of
    the 'has any child row' predicate."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    event_users = load_table(spark, sf_dir, "events").select("user_id")
    active = (
        cust.join(event_users, cust.c_custkey == event_users.user_id, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    inactive = (
        cust.join(event_users, cust.c_custkey == event_users.user_id, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_inactive"))
    )
    return active.join(inactive, "c_mktsegment", "outer").select(
        "c_mktsegment",
        F.coalesce("n_active", F.lit(0)).alias("n_active"),
        F.coalesce("n_inactive", F.lit(0)).alias("n_inactive"),
    )


ORACLE_CUSTOMER_ORDER_PRESENCE = """
SELECT c_mktsegment,
       count(*) FILTER (EXISTS (SELECT 1 FROM events e
                                WHERE e.user_id = c.c_custkey)) AS n_active,
       count(*) FILTER (NOT EXISTS (SELECT 1 FROM events e
                                    WHERE e.user_id = c.c_custkey)) AS n_inactive
FROM customer c
GROUP BY c_mktsegment
"""


def q_pivot_status_by_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (long -> wide): order counts per month with one column per
    status. Explicit pivot values keep the schema static and skip the
    extra distinct-values job Spark otherwise runs — the rule for
    production pivots. The reference builds the same shape by hand with
    FILTER counts (build_analytical_marts.py:113-116)."""
    o = load_table(spark, sf_dir, "orders").withColumn(
        "report_month", month_of("o_orderdate")
    )
    return (
        o.groupBy("report_month")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .agg(F.count(F.lit(1)))
        .select(
            "report_month",
            F.coalesce("O", F.lit(0)).alias("n_open"),
            F.coalesce("F", F.lit(0)).alias("n_finished"),
            F.coalesce("P", F.lit(0)).alias("n_partial"),
        )
    )


ORACLE_PIVOT_STATUS_BY_MONTH = """
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS report_month,
       count(*) FILTER (o_orderstatus = 'O') AS n_open,
       count(*) FILTER (o_orderstatus = 'F') AS n_finished,
       count(*) FILTER (o_orderstatus = 'P') AS n_partial
FROM orders
GROUP BY 1
"""


def q_status_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long, the pivot inverse) via the native
    DataFrame.unpivot/melt: per-month status counts back to
    (month, status, n) rows. Expand-based, single pass, no shuffle
    beyond the upstream aggregate."""
    wide = q_pivot_status_by_month(spark, sf_dir)
    return wide.unpivot(
        ids=["report_month"],
        values=["n_open", "n_finished", "n_partial"],
        variableColumnName="status_col",
        valueColumnName="n",
    )


ORACLE_STATUS_UNPIVOT = """
WITH wide AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS report_month,
         count(*) FILTER (o_orderstatus = 'O') AS n_open,
         count(*) FILTER (o_orderstatus = 'F') AS n_finished,
         count(*) FILTER (o_orderstatus = 'P') AS n_partial
  FROM orders GROUP BY 1
)
SELECT report_month, 'n_open' AS status_col, n_open AS n FROM wide
UNION ALL SELECT report_month, 'n_finished', n_finished FROM wide
UNION ALL SELECT report_month, 'n_partial', n_partial FROM wide
"""


def q_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/A9/I6 as a first-class query: per-rule violation counts
    (the reference's CHECK constraint + validation-gate pattern,
    final-module-3/init/init.sql:67, mongo_to_postgres_replication.py:
    274-287). One scan per table computes all of that table's rule
    counts via conditional aggregation (A4); rules are then unpivoted.
    Zero counts are asserted too — a gate that can't prove zero is no
    gate."""

    def melt(agg_df: DataFrame, names: list[str]) -> DataFrame:
        return agg_df.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(n).alias("rule_name"),
                            F.col(n).alias("n_violations"),
                        )
                        for n in names
                    ]
                )
            ).alias("r")
        ).select("r.rule_name", "r.n_violations")

    li = load_table(spark, sf_dir, "lineitem").agg(
        conditional_count(F.col("l_discount") > 0.08).alias("lineitem_discount_gt_8pct"),
        conditional_count(
            (F.col("l_quantity") < 1) | (F.col("l_quantity") > 50)
        ).alias("lineitem_qty_out_of_domain"),
    )
    o = load_table(spark, sf_dir, "orders").agg(
        conditional_count(F.col("o_totalprice") <= 0).alias("orders_nonpositive_total"),
    )
    ev = load_table(spark, sf_dir, "events").agg(
        conditional_count(F.col("ts").isNull()).alias("events_null_ts"),
        conditional_count(F.col("value") > 400).alias("events_value_above_400"),
    )
    return (
        melt(li, ["lineitem_discount_gt_8pct", "lineitem_qty_out_of_domain"])
        .unionByName(melt(o, ["orders_nonpositive_total"]))
        .unionByName(melt(ev, ["events_null_ts", "events_value_above_400"]))
    )


ORACLE_QUALITY_REPORT = """
SELECT 'lineitem_discount_gt_8pct' AS rule_name,
       count(*) FILTER (l_discount > 0.08) AS n_violations FROM lineitem
UNION ALL SELECT 'lineitem_qty_out_of_domain',
       count(*) FILTER (l_quantity < 1 OR l_quantity > 50) FROM lineitem
UNION ALL SELECT 'orders_nonpositive_total',
       count(*) FILTER (o_totalprice <= 0) FROM orders
UNION ALL SELECT 'events_null_ts',
       count(*) FILTER (ts IS NULL) FROM events
UNION ALL SELECT 'events_value_above_400',
       count(*) FILTER (value > 400) FROM events
"""


def q_daily_unique_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (engine surface beyond the reference, which
    never uses COUNT(DISTINCT)): exact per-day unique users + event
    count. Catalyst plans the distinct as a two-phase expand+aggregate;
    the documented 100 TB escape hatch is approx_count_distinct (HLL,
    one pass, no expand) at a stated error bound."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return (
        ev.select(F.col("ts").cast("date").alias("day"), "user_id")
        .groupBy("day")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


ORACLE_DAILY_UNIQUE_USERS = """
SELECT CAST(ts AS DATE) AS day,
       count(DISTINCT user_id) AS n_users,
       count(*) AS n_events
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
"""


def q_rolling_unique_users_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day unique users from MERGEABLE per-day HLL sketches
    (Apache DataSketches via ``hll_sketch_agg``, lgK=12) — the
    incremental-uniques pattern for 100 TB: the raw scan builds one
    sketch row per day (map-side-combinable aggregate, fixed 2^12
    registers per task regardless of cardinality); every rolling
    window, month rollup, or all-time estimate after that is a UNION
    of day sketches — ~n_days tiny binary rows, the history is never
    rescanned, and an incremental day appends one row.

    COUNT(DISTINCT) can't do any of that: it is not mergeable across
    pre-aggregated state, so each window re-expands the raw rows.
    The entry proves the sketch honest instead of emitting its raw
    estimate: alongside each window's estimate it computes the EXACT
    trailing-7-day distinct (distinct (day,user) pairs exploded onto
    the ≤7 calendar windows they cover — a distributed sliding
    distinct, no correlated per-day rescan) and emits
    ``hll_within_8pct`` = 25·|est − exact| ≤ 2·exact in pure BIGINTs.
    Bound calibration (r10 ADVICE): lgK=12 RSE ≈ 1.6%, so 8% ≈ 5σ —
    wide enough that no dataset's hash placement can trip the shared
    value-hash oracle (a 3σ/5% bound was a probabilistic guarantee
    masquerading as a hard assertion: with many windows per sweep one
    unlucky window would make the entry permanently red with no code
    bug). The TIGHT 3σ/5% bound is asserted in the entry's own test
    (tests/test_streaming_and_incremental.py) where a failure reads
    as "sketch accuracy regressed", not as an oracle mismatch.
    Sketches are deterministic for a given input, so the flag is
    hash-stable; the oracle reproduces day / exact / TRUE — if the
    sketch ever drifted past 5σ, the driver's value-hash goes red."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    days_user = ev.select(F.col("ts").cast("date").alias("day"), "user_id")
    daily_sk = days_user.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    # calendar windows: the sketch (resp. user) of day d belongs to
    # every window ending in [d, d+6]; union per window end.
    cover = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
    ).alias("wday")
    est7 = (
        daily_sk.select(cover, "sk")
        .groupBy("wday")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__est"))
    )
    exact7 = (
        days_user.distinct()
        .select(cover, "user_id")
        .groupBy("wday")
        .agg(F.count_distinct("user_id").alias("u7_users"))
    )
    observed = daily_sk.select(F.col("day").alias("wday"))
    return (
        exact7.join(est7, "wday")
        .join(observed, "wday", "left_semi")
        .select(
            F.col("wday").alias("day"),
            "u7_users",
            (
                25 * F.abs(F.col("__est") - F.col("u7_users"))
                <= 2 * F.col("u7_users")
            ).alias("hll_within_8pct"),
        )
    )


ORACLE_ROLLING_UNIQUE_USERS_HLL = """
WITH pairs AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
  FROM events WHERE ts IS NOT NULL
),
days AS (SELECT DISTINCT day FROM pairs),
cover AS (
  SELECT d.day AS wday, p.user_id
  FROM pairs p JOIN days d ON d.day - p.day BETWEEN 0 AND 6
)
SELECT wday AS day,
       count(DISTINCT user_id) AS u7_users,
       TRUE AS hll_within_8pct
FROM cover GROUP BY 1
"""


def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohort matrix: users grouped by their first
    active week; for each (cohort, weeks-since-cohort) cell, how many
    of them were active, plus retention in exact basis points against
    the cohort's week-0 size.

    The classic warehouse triangle query. Plan shape: one distinct
    (user, week) census, one per-user min (cohort), a user-keyed join
    back (both sides pre-shuffled on user_id — AQE reuses the
    partitioning), and a tiny (cohort, offset) rollup; week-0 sizes
    re-enter via a broadcast join. No window over the full corpus, no
    global sort. Both engines truncate weeks to ISO Monday, and
    retention_bp is BIGINT arithmetic (n*10000 div size) so the matrix
    is engine-exact."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    acts = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("week")
    ).distinct()
    firsts = acts.groupBy("user_id").agg(F.min("week").alias("cohort"))
    per = (
        acts.join(firsts, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("week"), F.col("cohort")) / 7)
            .cast("long")
            .alias("offset_w"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )
    sizes = per.where(F.col("offset_w") == 0).select(
        "cohort", F.col("n_users").alias("cohort_size")
    )
    return (
        per.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "offset_w",
            "n_users",
            F.expr("CAST(n_users * 10000 div cohort_size AS BIGINT)").alias(
                "retention_bp"
            ),
        )
        .orderBy("cohort", "offset_w")
    )


ORACLE_RETENTION_COHORTS = """
WITH acts AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS week
  FROM events WHERE ts IS NOT NULL
),
firsts AS (
  SELECT user_id, min(week) AS cohort FROM acts GROUP BY user_id
),
per AS (
  SELECT cohort,
         CAST(datediff('day', cohort, week) // 7 AS BIGINT) AS offset_w,
         count(*) AS n_users
  FROM acts JOIN firsts USING (user_id)
  GROUP BY 1, 2
)
SELECT p.cohort, p.offset_w, p.n_users,
       CAST(p.n_users * 10000 // s.n_users AS BIGINT) AS retention_bp
FROM per p
JOIN (SELECT cohort, n_users FROM per WHERE offset_w = 0) s
  ON p.cohort = s.cohort
ORDER BY p.cohort, p.offset_w
"""


def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (year -> month -> grand total) over
    orders, exact-units money. Grouping-set aggregates are a single
    expand+aggregate in Catalyst — one shuffle for all three levels,
    not three scans."""
    o = load_table(spark, sf_dir, "orders")
    yearly = o.select(
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.col("o_totalprice"),
    )
    return (
        yearly.rollup("order_year", "order_month")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            units_sum("o_totalprice").alias("s_total"),
        )
        .select(
            "order_year",
            "order_month",
            "n_orders",
            as_value("s_total", 2).alias("total_price"),
        )
    )


ORACLE_SALES_ROLLUP = f"""
SELECT year(o_orderdate) AS order_year,
       month(o_orderdate) AS order_month,
       count(*) AS n_orders,
       {oracle_sum_value('o_totalprice')} AS total_price
FROM orders
GROUP BY ROLLUP (year(o_orderdate), month(o_orderdate))
"""


def q_layer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10/U1: the reference's own verification query — per-table row
    counts stacked with UNION ALL (final-module-3/README.md:47-54).
    Each count is a 1-row partial-aggregated scan; the union is free."""
    from functools import reduce

    tables = ["region", "nation", "customer", "orders", "lineitem", "events"]
    counts = [
        load_table(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("n_rows")
        )
        for t in tables
    ]
    return reduce(lambda a, b: a.unionByName(b), counts)


ORACLE_LAYER_COUNTS = """
SELECT 'region' AS table_name, count(*) AS n_rows FROM region
UNION ALL SELECT 'nation', count(*) FROM nation
UNION ALL SELECT 'customer', count(*) FROM customer
UNION ALL SELECT 'orders', count(*) FROM orders
UNION ALL SELECT 'lineitem', count(*) FROM lineitem
UNION ALL SELECT 'events', count(*) FROM events
"""


def q_latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 latest-row select, Spark-first: ``max_by`` over a (ts,
    event_id) tie-break struct — one partial-aggregated shuffle, no
    window, no sort (the reference does ORDER BY id DESC LIMIT 1,
    sources_to_linear.py:24)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    key = F.struct(F.col("ts"), F.col("event_id"))
    return ev.groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.max_by("event_id", key).alias("last_event_id"),
        F.max_by("event_type", key).alias("last_event_type"),
    )


ORACLE_LATEST_EVENT_PER_USER = """
SELECT user_id, ts AS last_ts, event_id AS last_event_id,
       event_type AS last_event_type
FROM events
WHERE ts IS NOT NULL
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
"""


def q_asof_last_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): each event is matched to the
    user's most recent order at or before the event time — one keyed
    shuffle + per-key sort (the union-and-carry idiom), never a range
    cross join. Oracle: DuckDB's native ASOF LEFT JOIN."""
    from ..operators.asof import asof_join

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "user_id", "ts", "value")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("user_id"),
        "o_orderdate",
        F.col("o_orderkey").alias("last_order_key"),
        F.col("o_totalprice").alias("last_order_price"),
    )
    w = Window.partitionBy("user_id", "o_orderdate").orderBy(
        F.desc("last_order_key")
    )
    builds = (
        orders.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )
    return asof_join(
        ev,
        builds,
        key="user_id",
        probe_ts="ts",
        build_ts="o_orderdate",
        attrs=["last_order_key", "last_order_price"],
    )


ORACLE_ASOF_LAST_ORDER = """
WITH b AS (
  SELECT o_custkey AS user_id, o_orderdate,
         o_orderkey AS last_order_key, o_totalprice AS last_order_price
  FROM orders
  QUALIFY row_number() OVER (PARTITION BY o_custkey, o_orderdate
                             ORDER BY o_orderkey DESC) = 1
)
SELECT e.event_id, e.user_id, e.ts, e.value,
       b.last_order_key, b.last_order_price
FROM (SELECT event_id, user_id, ts, value FROM events WHERE ts IS NOT NULL) e
ASOF LEFT JOIN b ON e.user_id = b.user_id AND e.ts >= b.o_orderdate
"""


def q_range_join_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-interval range join (operators/range_join.py): events
    matched to the user's orders whose 7-day window contains the event
    time, via (key, time-bucket) equi-join with 2x build replication —
    never an inequality nested loop. Per-event match stats."""
    from ..operators.range_join import range_join_bucketed

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "user_id", "ts")
    )
    purchases = (
        load_table(spark, sf_dir, "events")
        .where(
            F.col("ts").isNotNull()
            & (F.lower(F.trim(F.col("event_type"))) == "purchase")
        )
        .select(
            "user_id",
            F.col("ts").alias("p_start"),
            (F.col("ts") + F.expr("INTERVAL 7 DAYS")).alias("p_end"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    joined = range_join_bucketed(
        ev, purchases, "user_id", "ts", "p_start", "p_end", 7 * 86400
    )
    return joined.groupBy("event_id").agg(
        F.count(F.lit(1)).alias("n_purchase_windows"),
        F.max("purchase_id").alias("max_purchase_id"),
    )


ORACLE_RANGE_JOIN_RECENT_ORDERS = """
WITH p AS (
  SELECT user_id, ts AS p_start, ts + INTERVAL 7 DAY AS p_end,
         event_id AS purchase_id
  FROM events
  WHERE ts IS NOT NULL AND lower(trim(event_type)) = 'purchase'
)
SELECT e.event_id, count(*) AS n_purchase_windows,
       max(p.purchase_id) AS max_purchase_id
FROM events e JOIN p
  ON e.user_id = p.user_id
 AND e.ts >= p.p_start AND e.ts < p.p_end
WHERE e.ts IS NOT NULL
GROUP BY e.event_id
"""


def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (2h gap) of the event stream, batch
    flavor (streaming/sessionize.py; the applyInPandasWithState twin is
    exercised in tests). Lag-gap flag -> running-sum session ids ->
    per-session aggregate; per-user windows, no global sort."""
    from ..streaming.sessionize import sessionize_batch

    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    return sessionize_batch(ev, gap_seconds=7200)


ORACLE_SESSIONIZE_EVENTS = """
WITH e AS (
  SELECT user_id, ts, value FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) > 7200000000
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
sid AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM flagged
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(round(coalesce(value, 0) * 100) AS BIGINT)) AS DOUBLE) / 100.0
         AS total_value
FROM sid
GROUP BY user_id, session_id
"""


# --- streaming (SURVEY §2.9 Spark-native extension) -------------------------

_STREAM_RUN_SEQ = iter(range(1, 1_000_000))


def q_streaming_daily_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of daily_avg: events parquet replayed
    through readStream + watermark + 1-day tumbling window with an
    availableNow trigger (the reference's @daily batch, Spark-native).
    The finished in-memory sink table is returned as the result."""
    import os

    from .._stage import scratch_dir
    from ..streaming.daily import run_available_now, streaming_daily_avg

    events = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    tmp = scratch_dir(spark, "hse_stream_")
    src = os.path.join(tmp, "src")
    events.write.mode("overwrite").parquet(src)
    name = f"stream_daily_avg_{next(_STREAM_RUN_SEQ)}"
    run_available_now(
        streaming_daily_avg(spark, src), os.path.join(tmp, "ckpt"), query_name=name
    )
    return spark.table(name)


ORACLE_STREAMING_DAILY_AVG = f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
       {oracle_avg_value('value', 2, 2)} AS avg_value,
       count(*) AS n_readings
FROM events
WHERE ts IS NOT NULL
GROUP BY 1
"""


def q_session_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition entry: gap-sessionization (streaming/sessionize.
    sessionize_batch, 2h gap) feeding the exact equal-width histogram
    (operators/profile.value_histogram) of session durations in
    minutes — the engagement-distribution readout product teams pull
    weekly. Sessions shuffle once on user_id; the histogram is a
    row-local bucket index + one tiny groupBy."""
    from ..operators.profile import value_histogram
    from ..streaming.sessionize import _epoch_micros, sessionize_batch

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "ts", "value")
    )
    sessions = sessionize_batch(ev, gap_seconds=7200)
    # _epoch_micros: the session bounds can be TIMESTAMP_NTZ under the
    # driver's plain session (the verify-skill events gotcha) — a bare
    # double cast rejects NTZ
    dur_us = _epoch_micros(sessions, "session_end") - _epoch_micros(
        sessions, "session_start"
    )
    with_dur = sessions.withColumn(
        "duration_min", dur_us / 1_000_000.0 / 60.0
    )
    return value_histogram(with_dur, "duration_min", buckets=12, lo=0.0, hi=720.0)


ORACLE_SESSION_DURATION_HISTOGRAM = """
WITH e AS (
  SELECT user_id, ts FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
flagged AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts) > 7200000000
              THEN 1 ELSE 0 END AS new_s
  FROM e
),
sid AS (
  SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS session_id
  FROM flagged
),
sess AS (
  SELECT (epoch_us(max(ts)) - epoch_us(min(ts))) / 1000000.0 / 60.0
           AS duration_min
  FROM sid GROUP BY user_id, session_id
),
b AS (
  SELECT least(11, greatest(0,
           CAST(floor((duration_min - 0.0) / 60.0) AS INT))) AS bucket
  FROM sess WHERE duration_min IS NOT NULL
),
c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY 1),
spine AS (SELECT CAST(range AS INT) AS bucket FROM range(0, 12))
SELECT s.bucket,
       CAST(s.bucket * 60.0 AS DOUBLE) AS bucket_lo,
       CAST((s.bucket + 1) * 60.0 AS DOUBLE) AS bucket_hi,
       coalesce(c.n_rows, 0) AS n_rows
FROM spine s LEFT JOIN c ON s.bucket = c.bucket
ORDER BY s.bucket
"""


def q_weighted_sample_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-weighted corpus sampling WITHOUT replacement
    (operators/sampling.weighted_sample_topk, the Efraimidis-Spirakis
    A-ES reservoir): the 100 docs drawn with probability proportional
    to character length — the "sample by token budget, not by doc
    count" draw every mixture pipeline needs. Deterministic and
    engine-portable: the reservoir key is ln(md5-uniform)/weight
    rounded to 12dp with a doc_id tie-break, so the oracle reproduces
    the exact member set (a rand()-based sampler cannot be audited at
    all). Selection is TakeOrdered top-k — no global sort, no shuffle
    of the corpus."""
    from ..operators.sampling import weighted_sample_topk

    docs = load_table(spark, sf_dir, "documents")
    weighted = docs.withColumn(
        "weight", F.greatest(F.length("text"), F.lit(1)).cast("bigint")
    )
    return weighted_sample_topk(weighted, "doc_id", "weight", k=100).select(
        "doc_id", "lang", "weight"
    )


ORACLE_WEIGHTED_SAMPLE_TOKENS = f"""
WITH w AS (
  SELECT doc_id, lang,
         CAST(greatest(len(text), 1) AS BIGINT) AS weight,
         ({_oracle_hash32("CAST(doc_id AS VARCHAR)")} + 0.5)
           / 4294967296.0 AS u
  FROM documents
)
SELECT doc_id, lang, weight
FROM (
  SELECT *, round(ln(u) / CAST(weight AS DOUBLE), 12) AS rk
  FROM w ORDER BY rk DESC, doc_id LIMIT 100
)
"""


def q_stratified_kfold_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-balanced stratified k-fold assignment
    (operators/sampling.stratified_kfold): within every language the
    docs are ranked by md5-hash order and dealt round-robin into 5
    folds, so per-stratum fold sizes differ by at most one — the
    cross-validation contract a probabilistic hash split cannot give
    small strata. Output is the per-(lang, fold) census with a
    membership checksum; fold membership is a pure function of
    (doc_id, lang, k), recomputable by any engine."""
    from ..operators.sampling import stratified_kfold

    docs = load_table(spark, sf_dir, "documents")
    folds = stratified_kfold(docs, "doc_id", "lang", k=5)
    return folds.groupBy("lang", "fold").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


ORACLE_STRATIFIED_KFOLD_BALANCE = f"""
WITH r AS (
  SELECT doc_id, lang,
         CAST((row_number() OVER (
            PARTITION BY lang
            ORDER BY {_oracle_hash32("CAST(doc_id AS VARCHAR)")}
                     % 1000000007, doc_id) - 1) % 5 AS INT) AS fold
  FROM documents
)
SELECT lang, fold, count(*) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM r GROUP BY 1, 2
"""


def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming sliding-window trend counts
    (streaming/daily.streaming_sliding_counts): events replayed through
    readStream -> watermark -> 1h windows sliding every 30min, grouped
    by normalized event type — each event lands in 2 overlapping
    windows, so a spike surfaces within one slide instead of at a day
    boundary. availableNow + complete-mode memory sink (the harness
    runner); production uses update mode + the upsert sink, where the
    watermark bounds state (module docstring). Oracle: each event
    expands to its slide-aligned window starts via integer epoch-us
    division — the batch twin of F.window's epoch-aligned assignment."""
    import os

    from .._stage import scratch_dir
    from ..streaming.daily import run_available_now, streaming_sliding_counts

    events = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    tmp = scratch_dir(spark, "hse_stream_")
    src = os.path.join(tmp, "src")
    events.write.mode("overwrite").parquet(src)
    name = f"stream_sliding_counts_{next(_STREAM_RUN_SEQ)}"
    run_available_now(
        streaming_sliding_counts(spark, src),
        os.path.join(tmp, "ckpt"),
        query_name=name,
    )
    return spark.table(name)


ORACLE_SLIDING_WINDOW_COUNTS = """
WITH e AS (
  SELECT epoch_us(ts) AS us, lower(trim(event_type)) AS event_type
  FROM events WHERE ts IS NOT NULL
),
expanded AS (
  SELECT unnest(list_transform(range(0, 2),
                k -> (us // 1800000000 - k) * 1800000000)) AS start_us,
         us, event_type
  FROM e
)
SELECT make_timestamp(start_us) AS window_start,
       make_timestamp(start_us + 3600000000) AS window_end,
       event_type,
       count(*) AS n_events
FROM expanded
WHERE us < start_us + 3600000000 AND us >= start_us
GROUP BY 1, 2, 3
"""


def q_ewma_anomaly_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online per-user EWMA z-score anomaly screen, batch flavor
    (streaming/anomaly.ewma_scores_batch): each value is judged against
    the exponentially weighted mean/variance of its user's PAST values
    only (warmup 5, |z| >= 3), the constant-state
    monitoring fold that windowed stddev cannot match at stream scale.

    Oracle-checkable because the fold is a sequential chain of IEEE
    double ops with hardware sqrt — no reduction, no summation-order
    freedom — replayed exactly by a DuckDB recursive CTE over the same
    (ts, event_id) order."""
    from ..streaming.anomaly import ewma_scores_batch

    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    scores = ewma_scores_batch(ev, alpha=0.2, threshold=3.0)
    return scores.select(
        "user_id",
        "ts",
        "value",
        F.round("zscore", 6).alias("zscore"),
        F.round("ewma_mean", 6).alias("ewma_mean"),
    )


ORACLE_EWMA_ANOMALY_SCORES = """
WITH RECURSIVE ev AS (
  SELECT user_id, event_id, ts, CAST(value AS DOUBLE) AS v,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND value IS NOT NULL AND NOT isnan(value)
),
fold AS (
  SELECT user_id, CAST(0 AS BIGINT) AS rn,
         CAST(0.0 AS DOUBLE) AS mean, CAST(0.0 AS DOUBLE) AS var,
         CAST(0 AS BIGINT) AS n,
         CAST(NULL AS TIMESTAMP) AS ts, CAST(NULL AS DOUBLE) AS v,
         CAST(NULL AS DOUBLE) AS z, CAST(NULL AS DOUBLE) AS mean_prev
  FROM (SELECT DISTINCT user_id FROM ev)
  UNION ALL
  SELECT e.user_id, e.rn,
         CASE WHEN f.n = 0 THEN e.v
              ELSE f.mean + 0.2 * (e.v - f.mean) END,
         CASE WHEN f.n = 0 THEN 0.0
              ELSE (1.0 - 0.2) * (f.var + 0.2 * (e.v - f.mean)
                                          * (e.v - f.mean)) END,
         f.n + 1, e.ts, e.v,
         CASE WHEN f.n >= 5 AND f.var > 0.0
              THEN (e.v - f.mean) / sqrt(f.var) END,
         f.mean
  FROM fold f JOIN ev e ON e.user_id = f.user_id AND e.rn = f.rn + 1
)
SELECT user_id, ts, v AS value,
       round(z, 6) AS zscore,
       round(mean_prev, 6) AS ewma_mean
FROM fold
WHERE z IS NOT NULL AND abs(z) >= 3.0
"""


# --- sketch-pruned heavy hitters --------------------------------------------


def q_heavy_hitters_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every token above 2% of the corpus token mass, with its EXACT
    count, found via per-partition weighted Misra-Gries sketches + one
    exact recount of the tiny candidate set
    (operators/heavy_hitters.heavy_hitters — the module docstring
    derives the completeness bound that makes a sketch path
    hash-checkable: the sketch affects cost, never the answer). The
    hot-token screen a tokenizer/stopword audit runs without shuffling
    a billion-key vocabulary."""
    from ..operators._plan import spread_small_input
    from ..operators.heavy_hitters import heavy_hitters

    # spread the scan BEFORE the tokenize+explode so the Generate runs
    # parallel (r12 serialized-Generate fix); heavy_hitters' own spread
    # then no-ops on the already-repartitioned plan
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("token")
    )
    return heavy_hitters(toks, "token", m=49).select(
        F.col("key").alias("token"), "cnt"
    )


ORACLE_HEAVY_HITTERS_TOKENS = r"""
WITH toks AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''
         )) AS token
  FROM documents
),
c AS (SELECT token, CAST(count(*) AS BIGINT) AS cnt FROM toks GROUP BY 1)
SELECT token, cnt FROM c WHERE cnt * 50 > (SELECT count(*) FROM toks)
"""


# --- hybrid retrieval (RRF) -------------------------------------------------


def q_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid related-document retrieval: the lexical leg ranks by
    exact token-set Jaccard (operators/retrieval.jaccard_topk), the
    dense leg by embedding cosine (operators/similarity
    .brute_force_topk), and reciprocal-rank fusion combines them in
    integer micro-units (operators/retrieval.rrf_fuse) — the
    eval-set / RAG construction step that needs no score calibration
    between legs. 10 query docs, top-10 per leg, fused top-5."""
    from ..operators.retrieval import jaccard_topk, rrf_fuse
    from ..operators.similarity import brute_force_topk

    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    q_docs = docs.where(F.col("doc_id") < 10).select(
        F.col("doc_id").alias("query_id"), "text"
    )
    lex = jaccard_topk(docs, q_docs, k=10).select(
        "query_id", "neighbor_id", "rank"
    )
    dense = brute_force_topk(emb, _ann_queries(spark, sf_dir), k=10).select(
        "query_id", "neighbor_id", "rank"
    )
    return rrf_fuse([lex, dense], k=5)


ORACLE_RRF_HYBRID_RETRIEVAL = rf"""
WITH q AS (SELECT doc_id AS query_id, text FROM documents WHERE doc_id < 10),
qt AS (
  SELECT query_id, unnest(list_distinct(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''
         ))) AS token
  FROM q
),
qs AS (SELECT query_id, count(*) AS nq FROM qt GROUP BY 1),
ct AS (
  SELECT doc_id AS neighbor_id, unnest(list_distinct(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), x -> x <> ''
         ))) AS token
  FROM documents
),
cs AS (SELECT neighbor_id, count(*) AS nc FROM ct GROUP BY 1),
inter AS (
  SELECT qt.query_id, ct.neighbor_id, count(*) AS ni
  FROM qt JOIN ct USING (token)
  WHERE qt.query_id <> ct.neighbor_id
  GROUP BY 1, 2
),
lex AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY round(ni / CAST(nq + nc - ni AS DOUBLE), 6) DESC,
                    neighbor_id ASC) AS INT) AS rank
  FROM inter JOIN qs USING (query_id) JOIN cs USING (neighbor_id)
  QUALIFY rank <= 10
),
qe AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
scored AS (
  SELECT qe.query_id, c.vec_id AS neighbor_id,
         {_ORACLE_COS.replace("q.embedding", "qe.embedding")} AS cos_sim
  FROM qe CROSS JOIN embeddings c
  WHERE c.vec_id <> qe.query_id
),
dense AS (
  SELECT query_id, neighbor_id,
         CAST(row_number() OVER (
           PARTITION BY query_id
           ORDER BY cos_sim DESC, neighbor_id ASC) AS INT) AS rank
  FROM scored QUALIFY rank <= 10
),
pooled AS (
  SELECT query_id, neighbor_id,
         CAST(floor(1000000.0 / (60 + rank)) AS BIGINT) AS c FROM lex
  UNION ALL
  SELECT query_id, neighbor_id,
         CAST(floor(1000000.0 / (60 + rank)) AS BIGINT) AS c FROM dense
),
fused AS (
  SELECT query_id, neighbor_id, CAST(sum(c) AS BIGINT) AS rrf_units
  FROM pooled GROUP BY 1, 2
)
SELECT query_id, neighbor_id, rrf_units,
       CAST(row_number() OVER (
         PARTITION BY query_id
         ORDER BY rrf_units DESC, neighbor_id ASC) AS INT) AS fused_rank
FROM fused QUALIFY fused_rank <= 5
"""


# ---------------------------------------------------------------------------
# SRP-LSH cosine near-pairs (the data-independent LSH member of the
# blocking family: brute = exact, IVF = learned cells, SRP = fixed
# hyperplanes).
# ---------------------------------------------------------------------------


def q_srp_lsh_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine >= 0.95 near-pairs via banded sign-random-projection LSH
    (operators/similarity.srp_lsh_pairs): 64 md5-derived Rademacher
    hyperplane bits in 8 bands block the pair space; candidates are an
    equi-join on (band, band_key) carrying ids only, then exact cosine
    verifies against once-computed per-vector norms. Unlike the IVF
    path there is NO fit step — the hyperplanes are data-independent,
    so the same signatures work for streaming appends where a quantizer
    goes stale. 64/8 rather than 16/4 is the scale-honest operating
    point (r7, PERF finding 23): the random-pair collision rate drops
    8x (8/2^8 = 1/32 vs 4/2^4 = 1/4) while 0.95-cosine recall IMPROVES
    to ~0.988 —
    candidate verification, not signature computation, is the cost that
    explodes with corpus size. Same 20 injected scaled copies as
    embedding_near_dedup (cos = 1.0 against their sources; natural
    corpus max ~0.51), so the verified pair set is exactly the planted
    one — and sign(dot) is scale-invariant, so a copy provably shares
    all 64 bits with its source."""
    from ..operators.similarity import srp_lsh_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    dups = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.5)).cast("float")
        ).alias("embedding"),
    )
    corpus = emb.select("vec_id", "embedding").unionByName(dups)
    return srp_lsh_pairs(
        corpus, threshold=0.95, bits=64, bands=8
    ).orderBy("vec_id_a", "vec_id_b")


def _srp_oracle(bits: int = 16, bands: int = 4, dims: int = 64) -> str:
    from ..operators.similarity import srp_sign_matrix

    mat = srp_sign_matrix(bits, dims)
    rpb = bits // bands
    bit_exprs = ",\n     ".join(
        "CASE WHEN list_sum(list_transform(range(1, {d}), "
        "i -> v[i] * ({row})[i])) >= 0 THEN 1 ELSE 0 END".format(
            d=dims + 1, row="[" + ",".join(str(s) for s in row) + "]"
        )
        for row in mat
    )
    key_expr = " + ".join(
        f"({1 << j}) * bits[{rpb} * band_id + {j + 1}]" for j in range(rpb)
    )
    return f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000,
         list_transform(embedding, x -> CAST(x * 1.5 AS FLOAT))
  FROM embeddings WHERE vec_id < 20
),
qv AS (
  SELECT vec_id, embedding,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
  FROM corpus
),
sig AS (
  SELECT vec_id, embedding,
    [{bit_exprs}] AS bits
  FROM qv
),
bandrows AS (
  SELECT vec_id, embedding, band_id, {key_expr} AS band_key
  FROM sig CROSS JOIN (SELECT CAST(range AS INT) AS band_id
                       FROM range(0, {bands}))
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b
  FROM bandrows a JOIN bandrows b
    ON a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.vec_id < b.vec_id
)
SELECT c.vec_id_a, c.vec_id_b,
       round(list_cosine_similarity(CAST(va.embedding AS DOUBLE[]),
                                    CAST(vb.embedding AS DOUBLE[])), 6)
         AS cos_sim
FROM cand c
JOIN corpus va ON va.vec_id = c.vec_id_a
JOIN corpus vb ON vb.vec_id = c.vec_id_b
WHERE round(list_cosine_similarity(CAST(va.embedding AS DOUBLE[]),
                                   CAST(vb.embedding AS DOUBLE[])), 6)
      >= 0.95
ORDER BY vec_id_a, vec_id_b
"""


ORACLE_SRP_LSH_NEAR_PAIRS = _srp_oracle(64, 8)


# ---------------------------------------------------------------------------
# Exact trailing rolling median (robust smoothing).
# ---------------------------------------------------------------------------


def q_rolling_median_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware trailing 7-day exact median of the per-type
    daily value sums (operators/timeseries.rolling_median_daily): the
    robust twin of rolling_7d_avg — a RANGE frame over calendar days
    (gap days shrink the window), values collected and sorted
    executor-side within the bounded frame, median as the mean of two
    middle BIGINTs. No float aggregate crosses the engine boundary:
    the hash-compared columns are BIGINTs plus one exact /2/100
    division."""
    from ..operators.timeseries import rolling_median_daily

    daily = (
        _events_base(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(units_sum("value").alias("units"))
    )
    return rolling_median_daily(
        daily, key_col="event_type", day_col="day", units_col="units", days=7
    ).orderBy("event_type", "day")


ORACLE_ROLLING_MEDIAN_VALUE = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
daily AS (
  SELECT event_type, day, {oracle_units_sum('value')} AS units
  FROM clean GROUP BY event_type, day
),
framed AS (
  SELECT event_type, day,
         list_sort(list(units) OVER w) AS vals
  FROM daily
  WINDOW w AS (PARTITION BY event_type
               ORDER BY date_diff('day', DATE '1970-01-01', day)
               RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day,
       CAST(len(vals) AS BIGINT) AS n_in_window,
       CAST(vals[CAST((len(vals)+1)//2 AS INT)]
            + vals[CAST((len(vals)+2)//2 AS INT)] AS BIGINT)
         AS median_units_x2,
       CAST(vals[CAST((len(vals)+1)//2 AS INT)]
            + vals[CAST((len(vals)+2)//2 AS INT)] AS DOUBLE) / 2 / 100
         AS median_value
FROM framed
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# RFM customer segmentation (distributed NTILE).
# ---------------------------------------------------------------------------


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic RFM quintile segmentation of the orders fact
    (operators/rfm.rfm_scores): per-customer recency/frequency/monetary
    rollup, then three exact NTILE(5) scores computed WITHOUT the
    single-partition window trap — distributed global_rank + the ANSI
    NTILE formula against a broadcast total count — and a named segment.
    Mirrors the reference's per-user mart shape
    (build_analytical_marts.py:24-69) with warehouse-standard scoring."""
    from ..operators.rfm import rfm_scores

    orders = load_table(spark, sf_dir, "orders")
    return rfm_scores(orders).orderBy("o_custkey")


ORACLE_RFM_SEGMENTS = """
WITH per_cust AS (
  SELECT o_custkey,
         max(CAST(o_orderdate AS DATE)) AS last_day,
         count(*) AS frequency,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS mu
  FROM orders GROUP BY o_custkey
),
anchor AS (SELECT max(CAST(o_orderdate AS DATE)) AS anchor_day FROM orders),
base AS (
  SELECT o_custkey,
         CAST(date_diff('day', last_day, anchor_day) AS BIGINT)
           AS recency_days,
         CAST(frequency AS BIGINT) AS frequency, mu
  FROM per_cust CROSS JOIN anchor
),
scored AS (
  SELECT o_custkey, recency_days, frequency,
         CAST(mu AS DOUBLE) / 100.0 AS monetary,
         CAST(6 - NTILE(5) OVER (ORDER BY recency_days, o_custkey) AS INT)
           AS r_score,
         CAST(6 - NTILE(5) OVER (ORDER BY -frequency, o_custkey) AS INT)
           AS f_score,
         CAST(6 - NTILE(5) OVER (ORDER BY -mu, o_custkey) AS INT)
           AS m_score
  FROM base
)
SELECT o_custkey, recency_days, frequency, monetary,
       r_score, f_score, m_score,
       CASE WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
              THEN 'champion'
            WHEN f_score >= 4 THEN 'loyal'
            WHEN m_score >= 4 THEN 'big_spender'
            WHEN r_score >= 4 THEN 'recent'
            WHEN r_score <= 2 AND f_score <= 2 THEN 'hibernating'
            WHEN r_score <= 2 THEN 'at_risk'
            ELSE 'regular' END AS segment
FROM scored
ORDER BY o_custkey
"""


# ---------------------------------------------------------------------------
# Robust (median/MAD) outlier screen.
# ---------------------------------------------------------------------------


def q_mad_outlier_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type robust outlier ROWS: |value - median| >= 3.5 *
    1.4826 * MAD (operators/robust.mad_outliers) — the row-level
    drill-down next to mad_outlier_screen's per-type summary. Exact
    medians via the value-census order-statistic trick — the shuffle
    carries distinct (type, value) pairs, never raw rows (the census
    alternative to the screen's percentile digests) — and a pure-BIGINT
    cross-multiplied predicate, so the emitted set is bit-identical
    across engines. Robust twin of the percentile trim
    (HW-3/airflow/dags/iot_temperature.py:64-72)."""
    from ..operators.robust import mad_outliers

    ev = _events_base(spark, sf_dir)
    return mad_outliers(
        ev.select("event_type", "event_id", "user_id", "value"),
        group_col="event_type",
        value_col="value",
    ).orderBy("event_type", "event_id")


ORACLE_MAD_OUTLIER_ROWS = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
u AS (
  SELECT event_type, event_id, user_id, value,
         CAST(round(value * 100) AS BIGINT) AS vu
  FROM clean
),
m AS (
  SELECT event_type, CAST(2 * median(vu) AS BIGINT) AS med2
  FROM u GROUP BY event_type
),
d AS (
  SELECT u.*, m.med2, abs(2 * u.vu - m.med2) AS dev
  FROM u JOIN m USING (event_type)
),
md AS (
  SELECT event_type, CAST(2 * median(dev) AS BIGINT) AS devmed2
  FROM d GROUP BY event_type
)
SELECT d.event_type, d.event_id, d.user_id, d.value,
       d.med2, md.devmed2,
       round(CAST(2 * (2 * d.vu - d.med2) AS DOUBLE)
             / (1.4826 * md.devmed2), 6) AS robust_z
FROM d JOIN md USING (event_type)
WHERE md.devmed2 > 0
  AND 200000000 * d.dev >= 14826 * 35000 * md.devmed2
ORDER BY event_type, event_id
"""


# ---------------------------------------------------------------------------
# Multi-dimensional ROLLUP revenue (OLAP grouping-sets operator).
# ---------------------------------------------------------------------------


def q_revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation x order-year revenue with ROLLUP subtotals and a grand
    total — Spark's native multi-dimensional aggregate (df.rollup:
    ONE shuffle computes all three grouping levels via partial
    Expand+HashAggregate, not three scans). Grouped-out levels surface
    as 'ALL' labels so the subtotal rows are unambiguous. The OLAP
    grouping-sets shape the reference's mart layer approximates with
    separate queries (build_analytical_marts.py:24-138)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    base = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("n_name"),
            F.year("o_orderdate").cast("long").alias("order_year"),
            units("o_totalprice").alias("rev_units"),
        )
    )
    rolled = base.rollup("n_name", "order_year").agg(
        F.sum("rev_units").alias("rev_units_sum"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return rolled.select(
        F.coalesce("n_name", F.lit("ALL")).alias("nation"),
        F.coalesce(F.col("order_year").cast("string"), F.lit("ALL")).alias(
            "order_year"
        ),
        as_value("rev_units_sum").alias("revenue"),
        "n_orders",
    ).orderBy("nation", "order_year")


ORACLE_REVENUE_ROLLUP = """
WITH base AS (
  SELECT n.n_name,
         CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS rev_units
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT coalesce(n_name, 'ALL') AS nation,
       coalesce(CAST(order_year AS VARCHAR), 'ALL') AS order_year,
       CAST(sum(rev_units) AS DOUBLE) / 100.0 AS revenue,
       count(*) AS n_orders
FROM base
GROUP BY ROLLUP (n_name, order_year)
ORDER BY nation, order_year
"""


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (relational closed form).
# ---------------------------------------------------------------------------


def q_cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided robust CUSUM over each event type's daily value totals
    (operators/timeseries.cusum_changepoints): the textbook
    max(0, s + y) recursion computed RELATIONALLY via the
    cumsum-minus-running-minimum identity — two codegen'd windows, no
    Python fold, no applyInPandas state. Center/allowance come from the
    exact integer median/MAD census, so every emitted statistic and
    alarm is BIGINT-exact across engines. The drift detector that
    catches slow level shifts the per-point screens
    (mad_outlier_screen, ewma_anomaly_scores) are blind to."""
    from ..operators.timeseries import cusum_changepoints

    daily = (
        _events_base(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(units_sum("value").alias("units"))
    )
    return cusum_changepoints(
        daily, key_col="event_type", day_col="day", units_col="units"
    ).orderBy("event_type", "day")


ORACLE_CUSUM_CHANGEPOINTS = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
daily AS (
  SELECT event_type, day,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS units
  FROM clean GROUP BY event_type, day
),
m AS (
  SELECT event_type, CAST(2 * median(units) AS BIGINT) AS med2
  FROM daily GROUP BY event_type
),
d AS (
  SELECT daily.*, m.med2, abs(2 * units - m.med2) AS dev
  FROM daily JOIN m USING (event_type)
),
md AS (
  SELECT event_type, CAST(2 * median(dev) AS BIGINT) AS devmed2
  FROM d GROUP BY event_type
),
b AS (
  SELECT d.event_type, d.day, d.units, d.med2, md.devmed2
  FROM d JOIN md USING (event_type)
),
s AS (
  SELECT *,
         sum(4 * units - 2 * med2 - devmed2) OVER w AS s_pos,
         sum(4 * units - 2 * med2 + devmed2) OVER w AS s_neg
  FROM b
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)
),
c AS (
  SELECT event_type, day, units, med2, devmed2,
         CAST(s_pos - least(0, min(s_pos) OVER w) AS BIGINT)
           AS cusum_pos_x4,
         CAST(greatest(0, max(s_neg) OVER w) - s_neg AS BIGINT)
           AS cusum_neg_x4
  FROM s
  WINDOW w AS (PARTITION BY event_type ORDER BY day
               ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, day, units, med2, devmed2,
       cusum_pos_x4, cusum_neg_x4,
       (devmed2 > 0 AND cusum_pos_x4 >= 5 * devmed2) AS alarm_pos,
       (devmed2 > 0 AND cusum_neg_x4 >= 5 * devmed2) AS alarm_neg
FROM c
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Two-sample KS drift screen (exact, census ECDFs).
# ---------------------------------------------------------------------------


def q_ks_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit: per event type, the EXACT two-sample
    Kolmogorov-Smirnov statistic between the early and late half of the
    observation window (operators/drift.ks_two_sample). ECDFs accumulate
    over the value census (shuffle = distinct values, not rows) and the
    supremum compares cross-multiplied BIGINTs — the refresh-vs-history
    drift gate a training-data pipeline runs after every ingest."""
    from ..operators.drift import ks_two_sample

    ev = _events_base(spark, sf_dir).select(
        "event_type",
        F.datediff("day", F.lit("1970-01-01").cast("date")).cast("long").alias(
            "__de"
        ),
        units("value").alias("__vu"),
    )
    spans = ev.groupBy("event_type").agg(
        F.floor((F.min("__de") + F.max("__de")) / 2).alias("__mid")
    )
    labeled = ev.join(F.broadcast(spans), "event_type")
    return (
        ks_two_sample(
            labeled,
            key_col="event_type",
            units_col="__vu",
            is_a=F.col("__de") <= F.col("__mid"),
        )
        .where((F.col("n_a") > 0) & (F.col("n_b") > 0))
        .orderBy("event_type")
    )


ORACLE_KS_VALUE_DRIFT = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
u AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', day) AS de,
         CAST(round(value * 100) AS BIGINT) AS vu
  FROM clean
),
spans AS (
  SELECT event_type, (min(de) + max(de)) // 2 AS mid
  FROM u GROUP BY event_type
),
lab AS (
  SELECT u.event_type, vu, (de <= mid) AS early
  FROM u JOIN spans USING (event_type)
),
census AS (
  SELECT event_type, vu,
         sum(CASE WHEN early THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN early THEN 0 ELSE 1 END) AS cb
  FROM lab GROUP BY event_type, vu
),
cum AS (
  SELECT event_type, vu,
         sum(ca) OVER w AS cuma, sum(cb) OVER w AS cumb
  FROM census
  WINDOW w AS (PARTITION BY event_type ORDER BY vu
               ROWS UNBOUNDED PRECEDING)
),
tot AS (
  SELECT event_type,
         CAST(sum(ca) AS BIGINT) AS n_a, CAST(sum(cb) AS BIGINT) AS n_b
  FROM census GROUP BY event_type
),
d AS (
  SELECT c.event_type, t.n_a, t.n_b,
         CAST(abs(cuma * n_b - cumb * n_a) AS BIGINT) AS diff, c.vu
  FROM cum c JOIN tot t USING (event_type)
),
mx AS (
  SELECT event_type, n_a, n_b, max(diff) AS d_num
  FROM d GROUP BY event_type, n_a, n_b
)
SELECT mx.event_type, mx.n_a, mx.n_b, mx.d_num,
       round(CAST(mx.d_num AS DOUBLE) / (mx.n_a * mx.n_b), 6) AS ks_stat,
       min(d.vu) AS at_units
FROM mx JOIN d ON d.event_type = mx.event_type AND d.diff = mx.d_num
WHERE mx.n_a > 0 AND mx.n_b > 0
GROUP BY mx.event_type, mx.n_a, mx.n_b, mx.d_num
ORDER BY mx.event_type
"""


# ---------------------------------------------------------------------------
# Common event-path mining (session behavioral motifs).
# ---------------------------------------------------------------------------


def q_common_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top behavioral motifs: each user-day session's first five events
    in (ts, event_id) order, joined into a path string, counted across
    sessions; paths seen in >= 5 sessions survive. Pure built-ins —
    collect_list + array_sort on a (ts, event_id, type) struct (session
    arrays are bounded, never row-scale), one Generate-free pipeline of
    two shuffles. The journey-mining mart downstream of sessionization
    (streaming/sessionize.py) — mirrors the reference's per-user
    activity mart shape (build_analytical_marts.py:24-69)."""
    ev = load_table(spark, sf_dir, "events")
    kind = F.lower(F.trim(F.col("event_type")))
    base = ev.where(
        kind.isin("view", "click", "purchase") & F.col("value").isNotNull()
    ).select(
        "user_id",
        F.col("ts").cast("date").alias("day"),
        F.struct(F.col("ts"), F.col("event_id"), kind.alias("et")).alias("__s"),
    )
    paths = (
        base.groupBy("user_id", "day")
        .agg(
            F.array_join(
                F.slice(
                    F.transform(
                        F.array_sort(F.collect_list("__s")), lambda x: x["et"]
                    ),
                    1,
                    5,
                ),
                ">",
            ).alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .where(F.col("n_sessions") >= 5)
    )
    return paths.orderBy("path")


ORACLE_COMMON_EVENT_PATHS = """
WITH base AS (
  SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
         lower(trim(event_type)) AS et
  FROM events
  WHERE lower(trim(event_type)) IN ('view', 'click', 'purchase')
    AND value IS NOT NULL
),
sess AS (
  SELECT user_id, day,
         array_to_string(
           list_slice(list(et ORDER BY ts, event_id), 1, 5), '>') AS path
  FROM base GROUP BY user_id, day
)
SELECT path, count(*) AS n_sessions
FROM sess GROUP BY path HAVING count(*) >= 5
ORDER BY path
"""


# ---------------------------------------------------------------------------
# View -> purchase conversion lag (as-of join + exact percentiles).
# ---------------------------------------------------------------------------


def q_conversion_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert SLA: for every purchase, the as-of (most recent
    at-or-before) view by the same user — the custom temporal join
    Spark lacks natively, computed by operators/asof.asof_join's
    union+carry window (one key shuffle, no range explosion) — then
    exact p50/p90/p99 of the lag in whole minutes per purchase day.
    Timestamps fold through epoch-microsecond longs
    (streaming/sessionize._epoch_micros) so both parquet timestamp
    flavors and both engines agree bit-for-bit. Oracle uses DuckDB's
    native ASOF JOIN — an independent second implementation."""
    from ..operators.asof import asof_join
    from ..streaming.sessionize import _epoch_micros

    ev = load_table(spark, sf_dir, "events")
    kind = F.lower(F.trim(F.col("event_type")))
    base = ev.where(
        kind.isin("view", "purchase") & F.col("value").isNotNull()
    ).select("user_id", "ts", "event_id", kind.alias("et"))
    views = (
        base.where(F.col("et") == "view")
        .select("user_id", "ts")
        .withColumn("view_us", _epoch_micros(base, "ts"))
    )
    purchases = base.where(F.col("et") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    j = asof_join(
        purchases, views, key="user_id", probe_ts="ts", build_ts="ts",
        attrs=["view_us"],
    )
    # BIGINT div (not double /): the quotient must floor exactly even
    # when the lag lands on a whole-minute boundary.
    lag_min = (
        (_epoch_micros(j, "ts") - F.col("view_us"))
        .cast("long")
        .alias("__lag_us")
    )
    j = j.withColumn("__lag_us", lag_min).withColumn(
        "lag_min", F.expr("__lag_us div 60000000")
    )
    return (
        j.where(F.col("view_us").isNotNull())
        .select(F.col("ts").cast("date").alias("day"), "lag_min")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.percentile(F.col("lag_min"), F.lit(0.5)).alias("p50_min"),
            F.percentile(F.col("lag_min"), F.lit(0.9)).alias("p90_min"),
            F.percentile(F.col("lag_min"), F.lit(0.99)).alias("p99_min"),
        )
        .orderBy("day")
    )


ORACLE_CONVERSION_LAG_PERCENTILES = """
WITH base AS (
  SELECT user_id, ts, event_id, lower(trim(event_type)) AS et
  FROM events
  WHERE lower(trim(event_type)) IN ('view', 'purchase')
    AND value IS NOT NULL
),
v AS (SELECT user_id, ts, epoch_us(ts) AS view_us FROM base
      WHERE et = 'view'),
p AS (SELECT user_id, ts, event_id FROM base WHERE et = 'purchase'),
lagged AS (
  SELECT CAST(p.ts AS DATE) AS day,
         (epoch_us(p.ts) - v.view_us) // 60000000 AS lag_min
  FROM p ASOF JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
)
SELECT day, count(*) AS n_conversions,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY lag_min) AS p50_min,
       percentile_cont(0.9) WITHIN GROUP (ORDER BY lag_min) AS p90_min,
       percentile_cont(0.99) WITHIN GROUP (ORDER BY lag_min) AS p99_min
FROM lagged
GROUP BY day ORDER BY day
"""


# ---------------------------------------------------------------------------
# Feature hashing (the hashing trick) over document tokens.
# ---------------------------------------------------------------------------


def q_feature_hashing_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick featurization: every document token maps to one of
    1 024 feature slots via the cross-engine md5 bucket
    (operators/sampling.hash_bucket — no vocabulary fit, no dictionary
    broadcast, the bounded-width sparse featurizer linear models train
    on at corpus scale). Output: per-slot corpus statistics (token
    occurrences, distinct tokens, documents touched) for the collision
    audit that picks the hash width. One explode + one groupBy; the
    shuffle carries (slot, token) partials, map-side combined."""
    from ..operators.sampling import hash_bucket

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("token"),
    )
    slotted = toks.withColumn("slot", hash_bucket("token", 1024))
    return (
        slotted.groupBy("slot")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.countDistinct("token").alias("n_tokens"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
        .orderBy("slot")
    )


ORACLE_FEATURE_HASHING_DOCS = f"""
WITH toks AS (
  SELECT doc_id, unnest(
    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
  ) AS token
  FROM documents
),
slotted AS (
  SELECT doc_id, token,
         CAST({_oracle_hash32("token")} % 1024 AS BIGINT) AS slot
  FROM toks
)
SELECT slot,
       count(*) AS n_occurrences,
       CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
FROM slotted
GROUP BY slot ORDER BY slot
"""


# ---------------------------------------------------------------------------
# Daily per-type value envelope (p10/p50/p90 bands).
# ---------------------------------------------------------------------------


def q_daily_value_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operations-dashboard envelope: per (event_type, day), the exact
    p10/p50/p90 of event values plus the trimmed spread — the banded
    chart behind every anomaly triage. Grouped exact percentile
    aggregates (map-side partial value digests, one shuffle); values
    enter as exact cent units so the interpolated percentiles are
    engine-identical doubles."""
    ev = _events_base(spark, sf_dir).withColumn("__vu", units("value"))
    return (
        ev.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.percentile(F.col("__vu"), F.lit(0.1)).alias("p10_units"),
            F.percentile(F.col("__vu"), F.lit(0.5)).alias("p50_units"),
            F.percentile(F.col("__vu"), F.lit(0.9)).alias("p90_units"),
        )
        .withColumn("band_units", F.col("p90_units") - F.col("p10_units"))
        .orderBy("event_type", "day")
    )


ORACLE_DAILY_VALUE_ENVELOPE = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
u AS (
  SELECT event_type, day, CAST(round(value * 100) AS BIGINT) AS vu
  FROM clean
)
SELECT event_type, day, count(*) AS n_events,
       percentile_cont(0.1) WITHIN GROUP (ORDER BY vu) AS p10_units,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY vu) AS p50_units,
       percentile_cont(0.9) WITHIN GROUP (ORDER BY vu) AS p90_units,
       percentile_cont(0.9) WITHIN GROUP (ORDER BY vu)
         - percentile_cont(0.1) WITHIN GROUP (ORDER BY vu) AS band_units
FROM u
GROUP BY event_type, day
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Daily OHLC candlesticks (sort-free first/last aggregates).
# ---------------------------------------------------------------------------


def q_daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (event_type, day) open/high/low/close of event values — the
    candlestick rollup, computed with ZERO window functions: open and
    close are min/max over a (epoch_us, event_id, value) struct (the
    sort-free extremum idiom, PERF.md finding 18 — one map-side-combined
    HashAggregate, no Exchange+Sort+Window), high/low are plain min/max.
    Timestamps enter as epoch-microsecond longs so both parquet flavors
    and both engines order identically."""
    from ..streaming.sessionize import _epoch_micros

    ev = load_table(spark, sf_dir, "events")
    kind = F.lower(F.trim(F.col("event_type")))
    base = ev.where(
        kind.isin(*_EVENT_KINDS) & F.col("value").isNotNull()
    ).select(
        kind.alias("event_type"),
        F.col("ts").cast("date").alias("day"),
        _epoch_micros(ev, "ts").alias("__us"),
        "event_id",
        units("value").alias("__vu"),
    )
    s = F.struct(F.col("__us"), F.col("event_id"), F.col("__vu"))
    return (
        base.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(s).getField("__vu").alias("open_units"),
            F.max(s).getField("__vu").alias("close_units"),
            F.max("__vu").alias("high_units"),
            F.min("__vu").alias("low_units"),
        )
        .orderBy("event_type", "day")
    )


ORACLE_DAILY_OHLC = """
WITH base AS (
  SELECT lower(trim(event_type)) AS event_type,
         CAST(ts AS DATE) AS day,
         epoch_us(ts) AS us, event_id,
         CAST(round(value * 100) AS BIGINT) AS vu
  FROM events
  WHERE lower(trim(event_type)) IN ('view', 'click', 'purchase')
    AND value IS NOT NULL
)
SELECT event_type, day, count(*) AS n_events,
       (min(struct_pack(us := us, event_id := event_id, vu := vu))).vu
         AS open_units,
       (max(struct_pack(us := us, event_id := event_id, vu := vu))).vu
         AS close_units,
       max(vu) AS high_units,
       min(vu) AS low_units
FROM base
GROUP BY event_type, day
ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# Temporal debounce screen (near-in-time duplicate events).
# ---------------------------------------------------------------------------


def q_debounce_duplicate_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-quality screen for retry storms / double-fires: an event
    is "debounced" when the SAME user emitted the SAME event type with
    the SAME value within the previous 5 minutes. One lag window per
    (user_id, event_type) over epoch-microsecond order (total order via
    event_id tie-break), pure integer comparisons — the temporal
    cousin of the content dedups (operators/dedup.py), catching
    duplicates that differ in event_id but not in substance."""
    from ..streaming.sessionize import _epoch_micros

    ev = load_table(spark, sf_dir, "events")
    kind = F.lower(F.trim(F.col("event_type")))
    base = ev.where(
        kind.isin(*_EVENT_KINDS) & F.col("value").isNotNull()
    ).select(
        kind.alias("event_type"),
        "user_id",
        _epoch_micros(ev, "ts").alias("__us"),
        "event_id",
        units("value").alias("__vu"),
    )
    w = Window.partitionBy("user_id", "event_type").orderBy("__us", "event_id")
    flagged = base.select(
        "event_type",
        (
            F.lag("__us").over(w).isNotNull()
            & (F.col("__us") - F.lag("__us").over(w) <= F.lit(300_000_000))
            & (F.lag("__vu").over(w) == F.col("__vu"))
        ).alias("__deb"),
    )
    return (
        flagged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("__deb"), 1).otherwise(0)).alias("n_debounced"),
        )
        .withColumn(
            "debounce_share",
            F.round(
                F.col("n_debounced").cast("double")
                / F.col("n_events").cast("double"),
                6,
            ),
        )
        .orderBy("event_type")
    )


ORACLE_DEBOUNCE_DUPLICATE_EVENTS = """
WITH base AS (
  SELECT lower(trim(event_type)) AS event_type, user_id,
         epoch_us(ts) AS us, event_id,
         CAST(round(value * 100) AS BIGINT) AS vu
  FROM events
  WHERE lower(trim(event_type)) IN ('view', 'click', 'purchase')
    AND value IS NOT NULL
),
flagged AS (
  SELECT event_type,
         (lag(us) OVER w IS NOT NULL
          AND us - lag(us) OVER w <= 300000000
          AND lag(vu) OVER w = vu) AS deb
  FROM base
  WINDOW w AS (PARTITION BY user_id, event_type ORDER BY us, event_id)
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN deb THEN 1 ELSE 0 END) AS BIGINT) AS n_debounced,
       round(CAST(sum(CASE WHEN deb THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE), 6) AS debounce_share
FROM flagged
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Revenue Gini concentration by market segment.
# ---------------------------------------------------------------------------


def q_revenue_gini_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How concentrated is customer spend inside each market segment:
    the exact Gini coefficient of per-customer revenue
    (operators/profile.gini_coefficient — census rank block-sums, no
    per-group sort, float only in the one final division). The scalar
    inequality readout next to revenue_concentration's top-k share."""
    from ..operators.profile import gini_coefficient

    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    per_cust = (
        orders.join(customer, orders.o_custkey == customer.c_custkey)
        .groupBy("c_custkey", "c_mktsegment")
        .agg(units_sum("o_totalprice").alias("rev_units"))
    )
    return gini_coefficient(
        per_cust, group_col="c_mktsegment", units_col="rev_units"
    ).orderBy("c_mktsegment")


ORACLE_REVENUE_GINI_BY_SEGMENT = """
WITH per_cust AS (
  SELECT c.c_custkey, c.c_mktsegment,
         CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_units
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY c.c_custkey, c.c_mktsegment
),
census AS (
  SELECT c_mktsegment, rev_units, count(*) AS cnt
  FROM per_cust GROUP BY c_mktsegment, rev_units
),
cum AS (
  SELECT c_mktsegment, rev_units, cnt,
         CAST(sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY rev_units
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS r
  FROM census
),
blocks AS (
  SELECT c_mktsegment, cnt, rev_units * cnt AS tot_blk,
         rev_units * (r * (r + 1) - (r - cnt) * (r - cnt + 1)) // 2
           AS blk2
  FROM cum
),
agg AS (
  SELECT c_mktsegment,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(tot_blk) AS BIGINT) AS total_units,
         CAST(sum(blk2) AS BIGINT) AS s
  FROM blocks GROUP BY c_mktsegment
)
SELECT c_mktsegment, n, total_units,
       round(CAST(2 * s - (n + 1) * total_units AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(total_units AS DOUBLE)), 6)
         AS gini
FROM agg
WHERE total_units > 0
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# ML feature scaling (min-max + z-score + percent rank, per segment).
# ---------------------------------------------------------------------------


def q_acctbal_feature_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-market-segment feature preparation for customer balance:
    min-max scaling, z-score, and percent rank — the three standard
    normalizations an ML feature store materializes. Percent rank uses
    the value CENSUS (rank-with-ties via cumulative census counts
    joined back on the value), never a row-scale ORDER BY window;
    min/max/moment frames are per-segment broadcasts. All numerators/
    denominators are exact integers; floats appear only in the final
    divisions (identical expression shape in the oracle).

    Moment bound: z-scores form n*sumsq in DOUBLE from exact BIGINTs —
    deterministic (same integer -> same IEEE double in any engine), with
    mild cancellation because sums are segment-local; beyond ~1e6 rows
    per segment at 2 dp units, rescale units (same contract as
    correlation_matrix)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        units("c_acctbal").alias("__vu"),
        "c_acctbal",
    )
    moments = cust.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("__n"),
        F.min("__vu").alias("__mn"),
        F.max("__vu").alias("__mx"),
        F.sum("__vu").alias("__sum"),
        F.sum(F.col("__vu") * F.col("__vu")).alias("__sumsq"),
    )
    census = cust.groupBy("c_mktsegment", "__vu").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w = Window.partitionBy("c_mktsegment").orderBy("__vu")
    ranks = census.select(
        "c_mktsegment",
        "__vu",
        (F.sum("__cnt").over(w) - F.col("__cnt") + 1).alias("__rank_min"),
    )
    j = cust.join(F.broadcast(moments), "c_mktsegment").join(
        ranks, ["c_mktsegment", "__vu"]
    )
    minmax = F.when(
        F.col("__mx") > F.col("__mn"),
        F.round(
            (F.col("__vu") - F.col("__mn")).cast("double")
            / (F.col("__mx") - F.col("__mn")).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    var_num = (
        F.col("__n").cast("double") * F.col("__sumsq").cast("double")
        - F.col("__sum").cast("double") * F.col("__sum").cast("double")
    )
    z = F.round(
        (F.col("__n") * F.col("__vu") - F.col("__sum")).cast("double")
        / F.sqrt(var_num * F.col("__n").cast("double") / (F.col("__n") - F.lit(1.0))),
        6,
    )
    pr = F.when(
        F.col("__n") > 1,
        F.round(
            (F.col("__rank_min") - 1).cast("double")
            / (F.col("__n") - 1).cast("double"),
            6,
        ),
    ).otherwise(F.lit(0.0))
    return j.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        minmax.alias("minmax_scaled"),
        z.alias("z_score"),
        pr.alias("pct_rank"),
    ).orderBy("c_custkey")


ORACLE_ACCTBAL_FEATURE_SCALING = """
WITH cust AS (
  SELECT c_custkey, c_mktsegment, c_acctbal,
         CAST(round(c_acctbal * 100) AS BIGINT) AS vu
  FROM customer
),
m AS (
  SELECT c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         min(vu) AS mn, max(vu) AS mx,
         CAST(sum(vu) AS BIGINT) AS s,
         CAST(sum(vu * vu) AS BIGINT) AS ssq
  FROM cust GROUP BY c_mktsegment
),
census AS (
  SELECT c_mktsegment, vu, count(*) AS cnt
  FROM cust GROUP BY c_mktsegment, vu
),
ranks AS (
  SELECT c_mktsegment, vu,
         CAST(sum(cnt) OVER (PARTITION BY c_mktsegment ORDER BY vu
                             ROWS UNBOUNDED PRECEDING)
              - cnt + 1 AS BIGINT) AS rank_min
  FROM census
)
SELECT c.c_custkey, c.c_mktsegment, c.c_acctbal,
       CASE WHEN m.mx > m.mn
            THEN round(CAST(c.vu - m.mn AS DOUBLE)
                       / CAST(m.mx - m.mn AS DOUBLE), 6)
            ELSE 0.0 END AS minmax_scaled,
       round(CAST(m.n * c.vu - m.s AS DOUBLE)
             / sqrt((CAST(m.n AS DOUBLE) * CAST(m.ssq AS DOUBLE)
                     - CAST(m.s AS DOUBLE) * CAST(m.s AS DOUBLE))
                    * CAST(m.n AS DOUBLE) / (m.n - 1.0)), 6) AS z_score,
       CASE WHEN m.n > 1
            THEN round(CAST(r.rank_min - 1 AS DOUBLE)
                       / CAST(m.n - 1 AS DOUBLE), 6)
            ELSE 0.0 END AS pct_rank
FROM cust c
JOIN m USING (c_mktsegment)
JOIN ranks r ON r.c_mktsegment = c.c_mktsegment AND r.vu = c.vu
ORDER BY c.c_custkey
"""


# ---------------------------------------------------------------------------
# Cohort LTV curves (cumulative revenue per acquisition cohort).
# ---------------------------------------------------------------------------


def q_cohort_ltv_curves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lifetime-value curves: customers cohorted by first-order month;
    for each (cohort, months-since-acquisition), the cohort's
    cumulative revenue and exact per-customer LTV. Month arithmetic is
    pure integers (year*12 + month), the cumulation is one window over
    the (cohort, month) rollup — O(cohorts x months) rows, not
    row-scale — and the per-customer division uses the half-up integer
    average (functions/exact.avg_units_expr). The acquisition-cohort
    twin of retention_cohorts."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (
            F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1
        ).cast("long").alias("__m"),
        units("o_totalprice").alias("__rev"),
    )
    firsts = orders.groupBy("o_custkey").agg(F.min("__m").alias("__cohort_m"))
    cohort_sizes = firsts.groupBy("__cohort_m").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    fact = orders.join(firsts, "o_custkey").select(
        "__cohort_m",
        (F.col("__m") - F.col("__cohort_m")).alias("months_since"),
        "__rev",
    )
    monthly = fact.groupBy("__cohort_m", "months_since").agg(
        F.sum("__rev").alias("__mrev")
    )
    w = (
        Window.partitionBy("__cohort_m")
        .orderBy("months_since")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = monthly.withColumn("cum_rev_units", F.sum("__mrev").over(w))
    out = cum.join(F.broadcast(cohort_sizes), "__cohort_m").select(
        F.concat_ws(
            "-",
            F.format_string("%04d", (F.col("__cohort_m") / 12).cast("int")),
            F.format_string("%02d", (F.col("__cohort_m") % 12 + 1).cast("int")),
        ).alias("cohort_month"),
        "months_since",
        "n_customers",
        "cum_rev_units",
        avg_units_expr("cum_rev_units", "n_customers", 2, 2).alias(
            "ltv_per_customer"
        ),
    )
    return out.orderBy("cohort_month", "months_since")


ORACLE_COHORT_LTV_CURVES = f"""
WITH o AS (
  SELECT o_custkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
           AS m,
         CAST(round(o_totalprice * 100) AS BIGINT) AS rev
  FROM orders
),
firsts AS (
  SELECT o_custkey, min(m) AS cohort_m FROM o GROUP BY o_custkey
),
sizes AS (
  SELECT cohort_m, CAST(count(*) AS BIGINT) AS n_customers
  FROM firsts GROUP BY cohort_m
),
fact AS (
  SELECT f.cohort_m, o.m - f.cohort_m AS months_since, o.rev
  FROM o JOIN firsts f USING (o_custkey)
),
monthly AS (
  SELECT cohort_m, months_since, CAST(sum(rev) AS BIGINT) AS mrev
  FROM fact GROUP BY cohort_m, months_since
),
cum AS (
  SELECT cohort_m, months_since,
         CAST(sum(mrev) OVER (PARTITION BY cohort_m ORDER BY months_since
                              ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_rev_units
  FROM monthly
)
SELECT printf('%04d-%02d', CAST(c.cohort_m // 12 AS INT),
              CAST(c.cohort_m % 12 + 1 AS INT)) AS cohort_month,
       c.months_since, s.n_customers, c.cum_rev_units,
       {oracle_avg_units("c.cum_rev_units", "s.n_customers", 2, 2)}
         AS ltv_per_customer
FROM cum c JOIN sizes s USING (cohort_m)
ORDER BY cohort_month, months_since
"""


# ---------------------------------------------------------------------------
# Embedding int8 scalar quantization audit.
# ---------------------------------------------------------------------------


def q_embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-vector min-max) int8 quantization of the embedding
    column — the 4x storage cut before ANN indexing — audited by
    integer checksums: per vector, the quantized-code sum / min / max
    plus the dequantization scale. Quantization is pure array
    expressions (transform + aggregate, whole-stage codegen, zero
    Python); float->double widening and the scale division are
    bit-identical IEEE ops in both engines, and floor() makes the
    emitted codes integers, so the audit hash-matches exactly.
    Constant vectors (mx = mn) quantize to all-zero codes by contract."""
    emb = load_table(spark, sf_dir, "embeddings")
    mn = F.array_min("embedding").cast("double")
    mx = F.array_max("embedding").cast("double")
    q = F.when(
        mx > mn,
        F.transform(
            "embedding",
            lambda x: F.floor(
                (x.cast("double") - mn) * F.lit(255.0) / (mx - mn)
            ).cast("long"),
        ),
    ).otherwise(
        F.transform("embedding", lambda x: F.lit(0).cast("long"))
    )
    base = emb.select("vec_id", q.alias("__q"), mn.alias("__mn"), mx.alias("__mx"))
    return base.select(
        "vec_id",
        F.size("__q").cast("long").alias("n_dims"),
        F.aggregate(
            "__q", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("q_sum"),
        F.array_min("__q").alias("q_min"),
        F.array_max("__q").alias("q_max"),
        F.round((F.col("__mx") - F.col("__mn")) / F.lit(255.0), 9).alias(
            "scale"
        ),
    ).orderBy("vec_id")


ORACLE_EMBEDDING_INT8_QUANTIZE = """
WITH base AS (
  SELECT vec_id, embedding,
         CAST(list_min(embedding) AS DOUBLE) AS mn,
         CAST(list_max(embedding) AS DOUBLE) AS mx
  FROM embeddings
),
quant AS (
  SELECT vec_id, mn, mx,
         CASE WHEN mx > mn
              THEN list_transform(embedding,
                     x -> CAST(floor((CAST(x AS DOUBLE) - mn) * 255.0
                                     / (mx - mn)) AS BIGINT))
              ELSE list_transform(embedding, x -> CAST(0 AS BIGINT))
         END AS q
  FROM base
)
SELECT vec_id,
       CAST(len(q) AS BIGINT) AS n_dims,
       CAST(list_sum(q) AS BIGINT) AS q_sum,
       list_min(q) AS q_min,
       list_max(q) AS q_max,
       round((mx - mn) / 255.0, 9) AS scale
FROM quant
ORDER BY vec_id
"""


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median of pairwise slopes).
# ---------------------------------------------------------------------------


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust daily trend per event type: the Theil-Sen estimator —
    median over ALL pairwise slopes of the (day, daily-total) series —
    which tolerates up to ~29% corrupted days where OLS breaks on one
    (the robust sibling of ols_by_group). The pair self-join is bounded
    by the CALENDAR, never row counts: the daily rollup is O(types x
    days), its pair census O(types x days^2) — at a 10-year span that
    is 6.7M slope rows per type, a trivial shuffle. Slopes are single
    exact-integer divisions evaluated identically in both engines; the
    median is the exact interpolated percentile."""
    daily = (
        _events_base(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(units_sum("value").alias("u"))
        .select(
            "event_type",
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("d"),
            "u",
        )
    )
    a = daily.select(
        "event_type", F.col("d").alias("d1"), F.col("u").alias("u1")
    )
    b = daily.select(
        "event_type", F.col("d").alias("d2"), F.col("u").alias("u2")
    )
    slopes = (
        a.join(b, "event_type")
        .where(F.col("d1") < F.col("d2"))
        .select(
            "event_type",
            (
                (F.col("u2") - F.col("u1")).cast("double")
                / (F.col("d2") - F.col("d1")).cast("double")
            ).alias("slope"),
        )
    )
    return (
        slopes.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.percentile(F.col("slope"), F.lit(0.5)), 6).alias(
                "slope_units_per_day"
            ),
        )
        .orderBy("event_type")
    )


ORACLE_THEIL_SEN_TREND = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', day) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS u
  FROM clean GROUP BY event_type, day
),
slopes AS (
  SELECT a.event_type,
         CAST(b.u - a.u AS DOUBLE) / CAST(b.d - a.d AS DOUBLE) AS slope
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.d < b.d
)
SELECT event_type, count(*) AS n_pairs,
       round(percentile_cont(0.5) WITHIN GROUP (ORDER BY slope), 6)
         AS slope_units_per_day
FROM slopes
GROUP BY event_type
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Quantity-weighted median price (weighted order statistics).
# ---------------------------------------------------------------------------


def q_weighted_median_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per return-flag quantity-WEIGHTED median of line price — "the
    price at which half the physical volume trades", which an
    unweighted median misstates whenever cheap lines carry big
    quantities. Weighted order statistic over the value census: one
    (flag, price) groupBy summing integer quantity weights, one window
    cumsum over distinct prices, the lower weighted median = smallest
    price whose cumulative weight reaches half the total
    (2*cum >= total in pure BIGINTs). Shuffle = distinct prices, never
    line rows; no engine has this builtin, so both sides state the
    same census formula."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        units("l_extendedprice").alias("__pu"),
        units("l_quantity", 0).alias("__qty"),
    )
    census = li.groupBy("l_returnflag", "__pu").agg(
        F.sum("__qty").alias("__w")
    )
    w = Window.partitionBy("l_returnflag").orderBy("__pu")
    cum = census.withColumn("__cw", F.sum("__w").over(w))
    totals = census.groupBy("l_returnflag").agg(
        F.sum("__w").alias("total_qty"),
        F.count(F.lit(1)).alias("n_prices"),
    )
    j = cum.join(F.broadcast(totals), "l_returnflag")
    return (
        j.where(2 * F.col("__cw") >= F.col("total_qty"))
        .groupBy("l_returnflag", "total_qty", "n_prices")
        .agg(F.min("__pu").alias("wmedian_units"))
        .select(
            "l_returnflag",
            "total_qty",
            "n_prices",
            "wmedian_units",
            as_value("wmedian_units").alias("wmedian_price"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_WEIGHTED_MEDIAN_PRICE = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pu,
         CAST(round(l_quantity) AS BIGINT) AS qty
  FROM lineitem
),
census AS (
  SELECT l_returnflag, pu, CAST(sum(qty) AS BIGINT) AS w
  FROM li GROUP BY l_returnflag, pu
),
cum AS (
  SELECT l_returnflag, pu, w,
         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY pu
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
  FROM census
),
tot AS (
  SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS total_qty,
         CAST(count(*) AS BIGINT) AS n_prices
  FROM census GROUP BY l_returnflag
)
SELECT c.l_returnflag, t.total_qty, t.n_prices,
       min(c.pu) AS wmedian_units,
       CAST(min(c.pu) AS DOUBLE) / 100.0 AS wmedian_price
FROM cum c JOIN tot t USING (l_returnflag)
WHERE 2 * c.cw >= t.total_qty
GROUP BY c.l_returnflag, t.total_qty, t.n_prices
ORDER BY c.l_returnflag
"""


def q_weighted_quantile_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """weighted_median_price generalized to a quantile BAND (p25 / p50
    / p90 of price by traded quantity) — "90% of physical volume
    trades at or below this price". One census, one window cumsum over
    distinct prices, then ALL THREE lower weighted quantiles read off
    the same cumulative frame as conditional mins: quantile p = n/d is
    the smallest price with d·cum ≥ n·total, pure BIGINT cross-
    multiplication (no float p·total rounding seam between engines).
    Adding a quantile costs one more aggregate expression, not another
    pass. Shuffle stays distinct-prices-sized; the per-flag window
    runs over the census, never line rows (weighted_median_price's
    scale contract, reference J1/A2 lineage)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        units("l_extendedprice").alias("__pu"),
        units("l_quantity", 0).alias("__qty"),
    )
    census = li.groupBy("l_returnflag", "__pu").agg(
        F.sum("__qty").alias("__w")
    )
    w = Window.partitionBy("l_returnflag").orderBy("__pu")
    cum = census.withColumn("__cw", F.sum("__w").over(w))
    totals = census.groupBy("l_returnflag").agg(
        F.sum("__w").alias("total_qty")
    )
    j = cum.join(F.broadcast(totals), "l_returnflag")

    def _wq(num: int, den: int):
        return F.min(
            F.when(
                den * F.col("__cw") >= num * F.col("total_qty"),
                F.col("__pu"),
            )
        )

    return (
        j.groupBy("l_returnflag", "total_qty")
        .agg(
            _wq(1, 4).alias("__p25"),
            _wq(1, 2).alias("__p50"),
            _wq(9, 10).alias("__p90"),
        )
        .select(
            "l_returnflag",
            "total_qty",
            as_value("__p25").alias("wp25_price"),
            as_value("__p50").alias("wp50_price"),
            as_value("__p90").alias("wp90_price"),
        )
        .orderBy("l_returnflag")
    )


ORACLE_WEIGHTED_QUANTILE_BANDS = """
WITH li AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS pu,
         CAST(round(l_quantity) AS BIGINT) AS qty
  FROM lineitem
),
census AS (
  SELECT l_returnflag, pu, CAST(sum(qty) AS BIGINT) AS w
  FROM li GROUP BY l_returnflag, pu
),
cum AS (
  SELECT l_returnflag, pu, w,
         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY pu
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
  FROM census
),
tot AS (
  SELECT l_returnflag, CAST(sum(w) AS BIGINT) AS total_qty
  FROM census GROUP BY l_returnflag
)
SELECT c.l_returnflag, t.total_qty,
       CAST(min(CASE WHEN 4 * c.cw >= 1 * t.total_qty THEN c.pu END) AS DOUBLE) / 100.0 AS wp25_price,
       CAST(min(CASE WHEN 2 * c.cw >= 1 * t.total_qty THEN c.pu END) AS DOUBLE) / 100.0 AS wp50_price,
       CAST(min(CASE WHEN 10 * c.cw >= 9 * t.total_qty THEN c.pu END) AS DOUBLE) / 100.0 AS wp90_price
FROM cum c JOIN tot t USING (l_returnflag)
GROUP BY c.l_returnflag, t.total_qty
ORDER BY c.l_returnflag
"""


# ---------------------------------------------------------------------------
# Mann-Whitney U location-shift test (exact midranks).
# ---------------------------------------------------------------------------


def q_mann_whitney_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did values SHIFT between the early and late half of the window?
    The Mann-Whitney U / rank-sum test per event type — the
    location-sensitive companion to ks_value_drift's shape test.
    Midranks (tie-corrected) come off the combined value census:
    2*midrank = 2*cum - cnt + 1 stays integral, so 2*U is an exact
    BIGINT and the common-language effect size (P(late > early), the
    AUC) is one final division. Shuffle = distinct values per type."""
    ev = _events_base(spark, sf_dir).select(
        "event_type",
        F.datediff("day", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("__de"),
        units("value").alias("__vu"),
    )
    spans = ev.groupBy("event_type").agg(
        F.floor((F.min("__de") + F.max("__de")) / 2).alias("__mid")
    )
    lab = ev.join(F.broadcast(spans), "event_type").select(
        "event_type", "__vu", (F.col("__de") <= F.col("__mid")).alias("__early")
    )
    census = lab.groupBy("event_type", "__vu").agg(
        F.sum(F.when(F.col("__early"), 1).otherwise(0)).alias("__ca"),
        F.sum(F.when(F.col("__early"), 0).otherwise(1)).alias("__cb"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("__vu")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = census.select(
        "event_type",
        "__ca",
        "__cb",
        (F.sum(F.col("__ca") + F.col("__cb")).over(w)).alias("__cum"),
    ).withColumn("__cnt", F.col("__ca") + F.col("__cb"))
    # 2*R_a = sum over values of ca * (2*cum - cnt + 1)
    agg = cum.groupBy("event_type").agg(
        F.sum("__ca").alias("n_early"),
        F.sum("__cb").alias("n_late"),
        F.sum(
            F.col("__ca") * (2 * F.col("__cum") - F.col("__cnt") + 1)
        ).alias("__r2a"),
    )
    u2 = F.col("__r2a") - F.col("n_early") * (F.col("n_early") + 1)
    return (
        agg.where((F.col("n_early") > 0) & (F.col("n_late") > 0))
        .select(
            "event_type",
            "n_early",
            "n_late",
            u2.alias("u2_early"),
            F.round(
                u2.cast("double")
                / (
                    F.lit(2.0)
                    * F.col("n_early").cast("double")
                    * F.col("n_late").cast("double")
                ),
                6,
            ).alias("auc_early_gt_late"),
        )
        .orderBy("event_type")
    )


ORACLE_MANN_WHITNEY_SHIFT = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
u AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', day) AS de,
         CAST(round(value * 100) AS BIGINT) AS vu
  FROM clean
),
spans AS (
  SELECT event_type, (min(de) + max(de)) // 2 AS mid
  FROM u GROUP BY event_type
),
lab AS (
  SELECT u.event_type, vu, (de <= mid) AS early
  FROM u JOIN spans USING (event_type)
),
census AS (
  SELECT event_type, vu,
         sum(CASE WHEN early THEN 1 ELSE 0 END) AS ca,
         sum(CASE WHEN early THEN 0 ELSE 1 END) AS cb
  FROM lab GROUP BY event_type, vu
),
cum AS (
  SELECT event_type, ca, cb, ca + cb AS cnt,
         sum(ca + cb) OVER (PARTITION BY event_type ORDER BY vu
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM census
),
agg AS (
  SELECT event_type,
         CAST(sum(ca) AS BIGINT) AS n_early,
         CAST(sum(cb) AS BIGINT) AS n_late,
         CAST(sum(ca * (2 * cum - cnt + 1)) AS BIGINT) AS r2a
  FROM cum GROUP BY event_type
)
SELECT event_type, n_early, n_late,
       CAST(r2a - n_early * (n_early + 1) AS BIGINT) AS u2_early,
       round(CAST(r2a - n_early * (n_early + 1) AS DOUBLE)
             / (2.0 * CAST(n_early AS DOUBLE) * CAST(n_late AS DOUBLE)), 6)
         AS auc_early_gt_late
FROM agg
WHERE n_early > 0 AND n_late > 0
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Vocabulary drift screen (document-frequency rate shift).
# ---------------------------------------------------------------------------


def q_vocab_drift_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-refresh vocabulary drift: split the corpus into two
    halves (doc_id parity — the deterministic stand-in for
    snapshot-old vs snapshot-new), compute each token's DOCUMENT
    frequency rate in both, and surface the 20 tokens whose rate moved
    most. The comparison |df_a * n_b - df_b * n_a| stays in BIGINTs
    (cross-multiplied rate difference — no float rates until the
    report), top-20 via TakeOrdered with token tie-break. The
    vocabulary-level companion to ks_value_drift: catches topic/source
    composition shifts numeric drift screens cannot see."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 2 == 0).alias("__in_a"),
        F.explode(
            F.array_distinct(whitespace_tokens(F.lower(F.col("text"))))
        ).alias("token"),
    )
    halves = docs.agg(
        F.sum(F.when(F.col("doc_id") % 2 == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("doc_id") % 2 == 0, 0).otherwise(1)).alias("n_b"),
    )
    df = toks.groupBy("token").agg(
        F.sum(F.when(F.col("__in_a"), 1).otherwise(0)).alias("df_a"),
        F.sum(F.when(F.col("__in_a"), 0).otherwise(1)).alias("df_b"),
    )
    j = df.crossJoin(F.broadcast(halves))
    drift = F.abs(
        F.col("df_a") * F.col("n_b") - F.col("df_b") * F.col("n_a")
    )
    return (
        j.select(
            "token",
            "df_a",
            "df_b",
            drift.alias("drift_num"),
            F.round(
                drift.cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double")),
                6,
            ).alias("rate_shift"),
        )
        .orderBy(F.desc("drift_num"), F.asc("token"))
        .limit(20)
    )


ORACLE_VOCAB_DRIFT_SCREEN = """
WITH toks AS (
  SELECT doc_id, (doc_id % 2 = 0) AS in_a, unnest(
    list_distinct(
      list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> ''))
  ) AS token
  FROM documents
),
halves AS (
  SELECT CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_a,
         CAST(sum(CASE WHEN doc_id % 2 = 0 THEN 0 ELSE 1 END) AS BIGINT)
           AS n_b
  FROM documents
),
df AS (
  SELECT token,
         CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS df_a,
         CAST(sum(CASE WHEN in_a THEN 0 ELSE 1 END) AS BIGINT) AS df_b
  FROM toks GROUP BY token
)
SELECT token, df_a, df_b,
       CAST(abs(df_a * n_b - df_b * n_a) AS BIGINT) AS drift_num,
       round(CAST(abs(df_a * n_b - df_b * n_a) AS DOUBLE)
             / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
         AS rate_shift
FROM df CROSS JOIN halves
ORDER BY drift_num DESC, token
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Order inter-arrival cadence by market segment.
# ---------------------------------------------------------------------------


def q_orders_interarrival_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase cadence: per-customer gaps between CONSECUTIVE orders
    (one lag window per customer, day-grain integers, orderkey
    tie-break for same-day orders), summarized per market segment with
    exact p50/p90 percentiles — the reorder-cycle readout a
    replenishment model calibrates on."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("__de"),
    )
    w = Window.partitionBy("o_custkey").orderBy("__de", "o_orderkey")
    gaps = orders.select(
        "o_custkey",
        (F.col("__de") - F.lag("__de").over(w)).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    return (
        gaps.join(cust, gaps.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.percentile(F.col("gap_days"), F.lit(0.5)).alias("p50_gap_days"),
            F.percentile(F.col("gap_days"), F.lit(0.9)).alias("p90_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


ORACLE_ORDERS_INTERARRIVAL_GAPS = """
WITH o AS (
  SELECT o_custkey, o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS de
  FROM orders
),
gaps AS (
  SELECT o_custkey,
         de - lag(de) OVER (PARTITION BY o_custkey
                            ORDER BY de, o_orderkey) AS gap_days
  FROM o
)
SELECT c.c_mktsegment, count(*) AS n_gaps,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY g.gap_days)
         AS p50_gap_days,
       percentile_cont(0.9) WITHIN GROUP (ORDER BY g.gap_days)
         AS p90_gap_days
FROM gaps g JOIN customer c ON g.o_custkey = c.c_custkey
WHERE g.gap_days IS NOT NULL
GROUP BY c.c_mktsegment
ORDER BY c.c_mktsegment
"""


# ---------------------------------------------------------------------------
# Lag-1 autocorrelation of daily totals (exact integer moments).
# ---------------------------------------------------------------------------


def q_events_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day persistence per event type: the lag-1 Pearson
    autocorrelation of daily value totals — the "is today predictive
    of tomorrow" statistic that decides whether a forecaster beats the
    naive baseline. Consecutive days pair via one equi-join on day+1
    (no window state), all five moments accumulate as exact BIGINTs,
    and both engines evaluate the identical closed-form r before one
    6 dp round. Moment bound: sums of squared daily units — rescale
    units past ~1e13 daily totals (same contract as
    numeric_correlations)."""
    daily = (
        _events_base(spark, sf_dir)
        .groupBy("event_type", "day")
        .agg(units_sum("value").alias("u"))
        .select(
            "event_type",
            F.datediff("day", F.lit("1970-01-01").cast("date"))
            .cast("long")
            .alias("d"),
            "u",
        )
    )
    a = daily.select("event_type", "d", F.col("u").alias("x"))
    b = daily.select(
        "event_type", (F.col("d") - 1).alias("d"), F.col("u").alias("y")
    )
    pairs = a.join(b, ["event_type", "d"])
    m = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("x").alias("__sx"),
        F.sum("y").alias("__sy"),
        F.sum(F.col("x") * F.col("y")).alias("__sxy"),
        F.sum(F.col("x") * F.col("x")).alias("__sxx"),
        F.sum(F.col("y") * F.col("y")).alias("__syy"),
    )
    num = (
        F.col("n_pairs") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    ).cast("double")
    den = F.sqrt(
        (F.col("n_pairs") * F.col("__sxx") - F.col("__sx") * F.col("__sx")).cast(
            "double"
        )
        * (
            F.col("n_pairs") * F.col("__syy") - F.col("__sy") * F.col("__sy")
        ).cast("double")
    )
    return (
        m.where(
            (F.col("n_pairs") > 1)
            & (
                F.col("n_pairs") * F.col("__sxx")
                > F.col("__sx") * F.col("__sx")
            )
            & (
                F.col("n_pairs") * F.col("__syy")
                > F.col("__sy") * F.col("__sy")
            )
        )
        .select(
            "event_type",
            "n_pairs",
            F.round(num / den, 6).alias("autocorr_lag1"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_AUTOCORR_LAG1 = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
daily AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-01', day) AS d,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS u
  FROM clean GROUP BY event_type, day
),
pairs AS (
  SELECT a.event_type, a.u AS x, b.u AS y
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND b.d = a.d + 1
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY event_type
)
SELECT event_type, n_pairs,
       round(CAST(n_pairs * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n_pairs * sxx - sx * sx AS DOUBLE)
                    * CAST(n_pairs * syy - sy * sy AS DOUBLE)), 6)
         AS autocorr_lag1
FROM m
WHERE n_pairs > 1 AND n_pairs * sxx > sx * sx AND n_pairs * syy > sy * sy
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# Per-user behavioral entropy (fixed-order log terms).
# ---------------------------------------------------------------------------


def q_user_event_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral diversity per user: Shannon entropy (nats) of the
    view/click/purchase mix — the focus-vs-explorer feature a churn or
    recommendation model consumes. Counts pivot into FIXED columns via
    conditional aggregation so the three c*ln(c) terms sum in an
    EXPLICIT left-to-right order — float sums of logs are
    order-sensitive in the last ulp, and hash-aggregate order differs
    between engines, so the fixed-order expression is what makes the
    6 dp round hash-identical (same discipline as pmi_collocations'
    single-log micro-units)."""
    ev = _events_base(spark, sf_dir)
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("__cv"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("__cc"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "__cp"
        ),
        F.countDistinct("event_type").alias("n_types"),
    )

    def term(c):
        return F.when(
            F.col(c) > 0, F.col(c).cast("double") * F.log(F.col(c).cast("double"))
        ).otherwise(F.lit(0.0))

    h = F.round(
        F.log(F.col("n_events").cast("double"))
        - (term("__cv") + term("__cc") + term("__cp"))
        / F.col("n_events").cast("double"),
        6,
    )
    return counts.select(
        "user_id", "n_events", "n_types", h.alias("entropy_nats")
    ).orderBy("user_id")


ORACLE_USER_EVENT_ENTROPY = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
counts AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
              AS BIGINT) AS cv,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS BIGINT) AS cc,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS cp,
         CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
  FROM clean GROUP BY user_id
)
SELECT user_id, n_events, n_types,
       round(ln(CAST(n_events AS DOUBLE))
             - (CASE WHEN cv > 0
                     THEN CAST(cv AS DOUBLE) * ln(CAST(cv AS DOUBLE))
                     ELSE 0.0 END
                + CASE WHEN cc > 0
                       THEN CAST(cc AS DOUBLE) * ln(CAST(cc AS DOUBLE))
                       ELSE 0.0 END
                + CASE WHEN cp > 0
                       THEN CAST(cp AS DOUBLE) * ln(CAST(cp AS DOUBLE))
                       ELSE 0.0 END)
               / CAST(n_events AS DOUBLE), 6) AS entropy_nats
FROM counts
ORDER BY user_id
"""


# ---------------------------------------------------------------------------
# Zipf slope of the token frequency distribution.
# ---------------------------------------------------------------------------


def q_zipf_slope_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary power-law audit: the log-log OLS slope over the
    top-100 token frequencies — natural corpora sit near -1; a slope
    far off flags boilerplate floods or template spam before they
    poison a tokenizer fit. Token census -> TakeOrdered top-100
    (count desc, token tie-break) -> each log TERM is rounded to
    integer micro-units BEFORE summing (the pmi_collocations
    discipline: float sums are order-sensitive, integer sums are not),
    so the regression moments are exact BIGINTs in both engines. The
    100-row rank window is bounded by k, not the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("token"))
        .limit(100)
    )
    w = Window.orderBy(F.desc("cnt"), F.asc("token"))
    ranked = counts.select(
        "cnt", F.row_number().over(w).cast("long").alias("rank")
    )
    terms = ranked.select(
        F.round(F.log(F.col("rank").cast("double")) * 1_000_000)
        .cast("long")
        .alias("x"),
        F.round(F.log(F.col("cnt").cast("double")) * 1_000_000)
        .cast("long")
        .alias("y"),
    )
    m = terms.agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("x").alias("__sx"),
        F.sum("y").alias("__sy"),
        F.sum(F.col("x") * F.col("y")).alias("__sxy"),
        F.sum(F.col("x") * F.col("x")).alias("__sxx"),
    )
    slope = (
        (F.col("n_tokens") * F.col("__sxy") - F.col("__sx") * F.col("__sy")).cast(
            "double"
        )
        / (
            F.col("n_tokens") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
        ).cast("double")
    )
    return m.select(
        "n_tokens",
        F.round(slope, 6).alias("zipf_slope"),
        F.round(
            (
                F.col("__sy").cast("double")
                - slope * F.col("__sx").cast("double")
            )
            / F.col("n_tokens").cast("double")
            / 1_000_000.0,
            6,
        ).alias("intercept_ln"),
    )


ORACLE_ZIPF_SLOPE_VOCAB = """
WITH toks AS (
  SELECT unnest(
    list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')
  ) AS token
  FROM documents
),
counts AS (
  SELECT token, count(*) AS cnt
  FROM toks GROUP BY token
  ORDER BY cnt DESC, token
  LIMIT 100
),
ranked AS (
  SELECT cnt,
         CAST(row_number() OVER (ORDER BY cnt DESC, token) AS BIGINT)
           AS rank
  FROM counts
),
terms AS (
  SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1000000) AS BIGINT) AS x,
         CAST(round(ln(CAST(cnt AS DOUBLE)) * 1000000) AS BIGINT) AS y
  FROM ranked
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx
  FROM terms
)
SELECT n_tokens,
       round(CAST(n_tokens * sxy - sx * sy AS DOUBLE)
             / CAST(n_tokens * sxx - sx * sx AS DOUBLE), 6) AS zipf_slope,
       round((CAST(sy AS DOUBLE)
              - (CAST(n_tokens * sxy - sx * sy AS DOUBLE)
                 / CAST(n_tokens * sxx - sx * sx AS DOUBLE))
                * CAST(sx AS DOUBLE))
             / CAST(n_tokens AS DOUBLE) / 1000000.0, 6) AS intercept_ln
FROM m
"""


# ---------------------------------------------------------------------------
# Dominant-value (near-zero-variance) feature screen.
# ---------------------------------------------------------------------------


def q_dominant_value_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store hygiene: for each candidate categorical column,
    the dominant value and its share — near-constant columns (share >=
    0.9) carry no signal and silently break downstream encoders.
    Columns unpivot into one (table, column, value) relation (single
    scan per table), the per-column mode comes from the sort-free
    min(struct(-count, value)) extremum, and the share is one division
    of exact counts."""

    def unpivot(df: DataFrame, tbl: str, cols: list[str]) -> DataFrame:
        parts = [
            df.select(
                F.lit(tbl).alias("tbl"),
                F.lit(c).alias("col"),
                F.col(c).cast("string").alias("val"),
            )
            for c in cols
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    longf = unpivot(cust, "customer", ["c_mktsegment", "c_nationkey"]).unionByName(
        unpivot(orders, "orders", ["o_orderstatus", "o_orderpriority"])
    )
    census = longf.groupBy("tbl", "col", "val").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    top = census.groupBy("tbl", "col").agg(
        F.sum("__cnt").alias("n_rows"),
        F.min(
            F.struct((-F.col("__cnt")).alias("nc"), F.col("val").alias("v"))
        ).alias("__m"),
    )
    return top.select(
        "tbl",
        "col",
        "n_rows",
        F.col("__m.v").alias("top_value"),
        (-F.col("__m.nc")).alias("top_count"),
        F.round(
            (-F.col("__m.nc")).cast("double") / F.col("n_rows").cast("double"), 6
        ).alias("top_share"),
        ((-F.col("__m.nc")) * 10 >= F.col("n_rows") * 9).alias("near_constant"),
    ).orderBy("tbl", "col")


ORACLE_DOMINANT_VALUE_SCREEN = """
WITH longf AS (
  SELECT 'customer' AS tbl, 'c_mktsegment' AS col,
         CAST(c_mktsegment AS VARCHAR) AS val FROM customer
  UNION ALL
  SELECT 'customer', 'c_nationkey', CAST(c_nationkey AS VARCHAR)
  FROM customer
  UNION ALL
  SELECT 'orders', 'o_orderstatus', CAST(o_orderstatus AS VARCHAR)
  FROM orders
  UNION ALL
  SELECT 'orders', 'o_orderpriority', CAST(o_orderpriority AS VARCHAR)
  FROM orders
),
census AS (
  SELECT tbl, col, val, count(*) AS cnt
  FROM longf GROUP BY tbl, col, val
),
top AS (
  SELECT tbl, col,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         min(struct_pack(nc := -cnt, v := val)) AS m
  FROM census GROUP BY tbl, col
)
SELECT tbl, col, n_rows,
       m.v AS top_value,
       CAST(-(m.nc) AS BIGINT) AS top_count,
       round(CAST(-(m.nc) AS DOUBLE) / CAST(n_rows AS DOUBLE), 6)
         AS top_share,
       (-(m.nc) * 10 >= n_rows * 9) AS near_constant
FROM top
ORDER BY tbl, col
"""


# ---------------------------------------------------------------------------
# Churn hazard table (discrete survival analysis).
# ---------------------------------------------------------------------------


def q_churn_hazard_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-time churn hazard: treating each user's LAST event day
    as churn, for every lifetime t (days between first and last
    activity) the number still at risk, the number churning, and the
    hazard d/n — the life-table a retention model calibrates against.
    Lifetimes reduce to a census (one row per distinct lifetime), the
    at-risk counts come from ONE suffix sum over that census (window
    over distinct lifetimes, not users), and the hazard is a single
    exact division. Everything before the final round is BIGINT."""
    ev = _events_base(spark, sf_dir)
    lifetimes = ev.groupBy("user_id").agg(
        F.datediff(F.max("day"), F.min("day")).cast("long").alias("lifetime")
    )
    census = lifetimes.groupBy("lifetime").agg(
        F.count(F.lit(1)).alias("d_churned")
    )
    # at-risk(t) = users with lifetime >= t: suffix sum over the census
    w = (
        Window.orderBy(F.desc("lifetime"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # the census is O(distinct lifetimes) = O(calendar days): a single
    # window over it is bounded, not row-scale
    tab = census.withColumn("n_at_risk", F.sum("d_churned").over(w))
    return tab.select(
        "lifetime",
        "n_at_risk",
        "d_churned",
        F.round(
            F.col("d_churned").cast("double") / F.col("n_at_risk").cast("double"),
            6,
        ).alias("hazard"),
    ).orderBy("lifetime")


ORACLE_CHURN_HAZARD_TABLE = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
lifetimes AS (
  SELECT user_id,
         date_diff('day', min(day), max(day)) AS lifetime
  FROM clean GROUP BY user_id
),
census AS (
  SELECT lifetime, count(*) AS d_churned
  FROM lifetimes GROUP BY lifetime
)
SELECT lifetime,
       CAST(sum(d_churned) OVER (ORDER BY lifetime DESC
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS n_at_risk,
       CAST(d_churned AS BIGINT) AS d_churned,
       round(CAST(d_churned AS DOUBLE)
             / CAST(sum(d_churned) OVER (ORDER BY lifetime DESC
                                         ROWS UNBOUNDED PRECEDING)
                    AS DOUBLE), 6) AS hazard
FROM census
ORDER BY lifetime
"""


# ---------------------------------------------------------------------------
# ABC inventory classification (distributed prefix sums).
# ---------------------------------------------------------------------------


def q_abc_part_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC analysis: parts ranked by revenue, class A = parts covering
    the first 80% of cumulative revenue, B the next 15%, C the tail —
    the warehouse stocking policy classic. The cumulative share uses
    operators/rank.global_cumsum, the distributed prefix sum (range
    shuffle + per-partition window + offset census) — never a
    single-partition ORDER BY window over the part dimension. Class
    boundaries compare cross-multiplied BIGINTs (no float shares until
    the report)."""
    from ..operators.rank import global_cumsum

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", units("l_extendedprice").alias("__rev")
    )
    per_part = li.groupBy("l_partkey").agg(F.sum("__rev").alias("rev_units"))
    per_part = per_part.withColumn("__neg", -F.col("rev_units"))
    cum = global_cumsum(
        per_part, ["__neg", "l_partkey"], "rev_units", "cum_units"
    )
    total = per_part.agg(F.sum("rev_units").alias("__total"))
    classed = cum.crossJoin(F.broadcast(total)).withColumn(
        "abc_class",
        F.when(100 * F.col("cum_units") <= 80 * F.col("__total"), "A")
        .when(100 * F.col("cum_units") <= 95 * F.col("__total"), "B")
        .otherwise("C"),
    )
    return (
        classed.groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.sum("rev_units").alias("class_rev_units"),
        )
        .crossJoin(F.broadcast(total))
        .select(
            "abc_class",
            "n_parts",
            "class_rev_units",
            F.round(
                F.col("class_rev_units").cast("double")
                / F.col("__total").cast("double"),
                6,
            ).alias("rev_share"),
        )
        .orderBy("abc_class")
    )


ORACLE_ABC_PART_CLASSIFICATION = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS rev_units
  FROM lineitem GROUP BY l_partkey
),
cum AS (
  SELECT l_partkey, rev_units,
         CAST(sum(rev_units) OVER (ORDER BY rev_units DESC, l_partkey
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS cum_units
  FROM per_part
),
tot AS (SELECT CAST(sum(rev_units) AS BIGINT) AS total FROM per_part),
classed AS (
  SELECT c.*,
         CASE WHEN 100 * c.cum_units <= 80 * t.total THEN 'A'
              WHEN 100 * c.cum_units <= 95 * t.total THEN 'B'
              ELSE 'C' END AS abc_class
  FROM cum c CROSS JOIN tot t
)
SELECT abc_class,
       count(*) AS n_parts,
       CAST(sum(rev_units) AS BIGINT) AS class_rev_units,
       round(CAST(sum(rev_units) AS DOUBLE) / CAST(t.total AS DOUBLE), 6)
         AS rev_share
FROM classed CROSS JOIN tot t
GROUP BY abc_class, t.total
ORDER BY abc_class
"""


# ---------------------------------------------------------------------------
# Categorical mix drift: chi-square over fixed-order cells.
# ---------------------------------------------------------------------------

_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def q_priority_mix_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the CATEGORY mix shift between the early and late half of
    the order window? Pearson chi-square over the 2x5 priority
    contingency table — the categorical member of the drift trio
    (ks_value_drift: shape, mann_whitney_shift: location, this: mix).
    The table pivots into ONE row of fixed columns (conditional
    aggregation, one scan), so the ten (obs-exp)^2/exp terms sum in an
    EXPLICIT written order — the same fixed-order-float discipline as
    user_event_entropy — and every obs/total is an exact BIGINT."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
        ).cast("long").alias("__de"),
    )
    span = orders.agg(
        F.floor((F.min("__de") + F.max("__de")) / 2).alias("__mid")
    )
    lab = orders.crossJoin(F.broadcast(span)).select(
        "o_orderpriority", (F.col("__de") <= F.col("__mid")).alias("__early")
    )
    aggs = []
    for i, p in enumerate(_PRIORITIES):
        aggs.append(
            F.sum(
                F.when((F.col("o_orderpriority") == p) & F.col("__early"), 1)
                .otherwise(0)
            ).alias(f"__a{i}")
        )
        aggs.append(
            F.sum(
                F.when((F.col("o_orderpriority") == p) & ~F.col("__early"), 1)
                .otherwise(0)
            ).alias(f"__b{i}")
        )
    row = lab.agg(*aggs)
    n_a = sum((F.col(f"__a{i}") for i in range(5)), F.lit(0))
    n_b = sum((F.col(f"__b{i}") for i in range(5)), F.lit(0))
    row = row.withColumn("n_early", n_a.cast("long")).withColumn(
        "n_late", n_b.cast("long")
    )
    n = F.col("n_early") + F.col("n_late")

    def term(obs, row_tot, col_i):
        cat_tot = F.col(f"__a{col_i}") + F.col(f"__b{col_i}")
        exp = (
            row_tot.cast("double")
            * cat_tot.cast("double")
            / n.cast("double")
        )
        o = obs.cast("double")
        return F.when(cat_tot > 0, (o - exp) * (o - exp) / exp).otherwise(
            F.lit(0.0)
        )

    chi2 = sum(
        (
            term(F.col(f"__a{i}"), F.col("n_early"), i)
            + term(F.col(f"__b{i}"), F.col("n_late"), i)
            for i in range(5)
        ),
        F.lit(0.0),
    )
    return row.select(
        "n_early",
        "n_late",
        F.lit(4).cast("long").alias("dof"),
        F.round(chi2, 6).alias("chi2"),
    )


def _oracle_priority_chi2() -> str:
    cells_a = ",\n         ".join(
        "CAST(sum(CASE WHEN o_orderpriority = '{p}' AND early THEN 1 "
        "ELSE 0 END) AS BIGINT) AS a{i}".format(p=p, i=i)
        for i, p in enumerate(_PRIORITIES)
    )
    cells_b = ",\n         ".join(
        "CAST(sum(CASE WHEN o_orderpriority = '{p}' AND NOT early THEN 1 "
        "ELSE 0 END) AS BIGINT) AS b{i}".format(p=p, i=i)
        for i, p in enumerate(_PRIORITIES)
    )
    terms = []
    for r in ("a", "b"):
        row_tot = "n_early" if r == "a" else "n_late"
        for i in range(5):
            terms.append(
                "(CASE WHEN a{i} + b{i} > 0 THEN "
                "(CAST({r}{i} AS DOUBLE) - CAST({rt} AS DOUBLE) "
                "* CAST(a{i} + b{i} AS DOUBLE) / CAST(n_early + n_late AS DOUBLE)) "
                "* (CAST({r}{i} AS DOUBLE) - CAST({rt} AS DOUBLE) "
                "* CAST(a{i} + b{i} AS DOUBLE) / CAST(n_early + n_late AS DOUBLE)) "
                "/ (CAST({rt} AS DOUBLE) * CAST(a{i} + b{i} AS DOUBLE) "
                "/ CAST(n_early + n_late AS DOUBLE)) ELSE 0.0 END)".format(
                    i=i, r=r, rt=row_tot
                )
            )
    # Spark sums a0-term + b0-term per category THEN advances: mirror
    # (a_i + b_i) pair order exactly
    paired = []
    for i in range(5):
        paired.append(f"({terms[i]} + {terms[5 + i]})")
    chi_expr = " + ".join(paired)
    return f"""
WITH o AS (
  SELECT o_orderpriority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS de
  FROM orders
),
span AS (SELECT (min(de) + max(de)) // 2 AS mid FROM o),
lab AS (
  SELECT o_orderpriority, (de <= mid) AS early
  FROM o CROSS JOIN span
),
row1 AS (
  SELECT {cells_a},
         {cells_b}
  FROM lab
),
tot AS (
  SELECT *, a0+a1+a2+a3+a4 AS n_early, b0+b1+b2+b3+b4 AS n_late
  FROM row1
)
SELECT CAST(n_early AS BIGINT) AS n_early,
       CAST(n_late AS BIGINT) AS n_late,
       CAST(4 AS BIGINT) AS dof,
       round({chi_expr}, 6) AS chi2
FROM tot
"""


ORACLE_PRIORITY_MIX_CHI2 = _oracle_priority_chi2()


# ---------------------------------------------------------------------------
# Monthly return-rate timeline.
# ---------------------------------------------------------------------------


def q_return_rate_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-line share per ship month: the quality-of-service
    timeline behind returned_items_report — one conditional aggregate
    per month, exact integer counts, one final division."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.date_trunc("month", F.col("l_shipdate")).cast("date").alias(
            "ship_month"
        ),
        (F.col("l_returnflag") == "R").alias("__ret"),
    )
    return (
        li.groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(F.when(F.col("__ret"), 1).otherwise(0)).alias("n_returned"),
        )
        .withColumn(
            "return_rate",
            F.round(
                F.col("n_returned").cast("double")
                / F.col("n_lines").cast("double"),
                6,
            ),
        )
        .orderBy("ship_month")
    )


ORACLE_RETURN_RATE_MONTHLY = """
SELECT CAST(date_trunc('month', CAST(l_shipdate AS DATE)) AS DATE)
         AS ship_month,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returned,
       round(CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS return_rate
FROM lineitem
GROUP BY date_trunc('month', CAST(l_shipdate AS DATE))
ORDER BY ship_month
"""


# ---------------------------------------------------------------------------
# New vs returning users per day.
# ---------------------------------------------------------------------------


def q_new_vs_returning_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Growth-accounting split: per day, users seen for the FIRST time
    ever vs returning users — the acquisition/retention decomposition
    of the DAU curve. One min(day) per user (map-side-combined), one
    equi-join back on (user, day is-first), one daily rollup; all
    exact counts."""
    ev = _events_base(spark, sf_dir).select("user_id", "day").distinct()
    firsts = ev.groupBy("user_id").agg(F.min("day").alias("__first_day"))
    j = ev.join(F.broadcast(firsts), "user_id")
    return (
        j.groupBy("day")
        .agg(
            F.sum(
                F.when(F.col("day") == F.col("__first_day"), 1).otherwise(0)
            ).alias("n_new"),
            F.sum(
                F.when(F.col("day") != F.col("__first_day"), 1).otherwise(0)
            ).alias("n_returning"),
        )
        .withColumn(
            "new_share",
            F.round(
                F.col("n_new").cast("double")
                / (F.col("n_new") + F.col("n_returning")).cast("double"),
                6,
            ),
        )
        .orderBy("day")
    )


ORACLE_NEW_VS_RETURNING_DAILY = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
ev AS (SELECT DISTINCT user_id, day FROM clean),
firsts AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id)
SELECT e.day,
       CAST(sum(CASE WHEN e.day = f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_new,
       CAST(sum(CASE WHEN e.day <> f.first_day THEN 1 ELSE 0 END) AS BIGINT)
         AS n_returning,
       round(CAST(sum(CASE WHEN e.day = f.first_day THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS new_share
FROM ev e JOIN firsts f USING (user_id)
GROUP BY e.day
ORDER BY e.day
"""


# ---------------------------------------------------------------------------
# Order size (lines per order) histogram.
# ---------------------------------------------------------------------------


def q_order_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution: lines per order censused twice (order
    rollup, then size census) — the shape parameter behind the basket
    operators' cost models (basket_lift_pairs' quadratic term) and the
    shuffle-sizing estimate for per-order aggregates."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    sizes = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("n_lines"))
    total = sizes.agg(F.count(F.lit(1)).alias("__n_orders"))
    return (
        sizes.groupBy("n_lines")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .crossJoin(F.broadcast(total))
        .select(
            "n_lines",
            "n_orders",
            F.round(
                F.col("n_orders").cast("double") / F.col("__n_orders").cast("double"),
                6,
            ).alias("share"),
        )
        .orderBy("n_lines")
    )


ORACLE_ORDER_SIZE_HISTOGRAM = """
WITH sizes AS (
  SELECT l_orderkey, count(*) AS n_lines
  FROM lineitem GROUP BY l_orderkey
),
tot AS (SELECT CAST(count(*) AS BIGINT) AS n_orders_total FROM sizes)
SELECT n_lines, count(*) AS n_orders,
       round(CAST(count(*) AS DOUBLE) / CAST(t.n_orders_total AS DOUBLE), 6)
         AS share
FROM sizes CROSS JOIN tot t
GROUP BY n_lines, t.n_orders_total
ORDER BY n_lines
"""


# ---------------------------------------------------------------------------
# Supplier concentration per part (Herfindahl index).
# ---------------------------------------------------------------------------


def q_part_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supply-chain risk: the Herfindahl-Hirschman concentration of
    supplier quantity share per part, top-20 single-sourced-most parts.
    HHI = sum(share^2) stays exact as the integer ratio
    sum(q_i^2) / (sum q_i)^2 — two censuses and ONE division into
    basis points; no float shares accumulate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", units("l_quantity", 0).alias("__q")
    )
    per_supp = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum("__q").alias("__sq")
    )
    per_part = per_supp.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.sum("__sq").alias("__tot"),
        F.sum(F.col("__sq") * F.col("__sq")).alias("__sumsq"),
    )
    return (
        per_part.where(F.col("__tot") > 0)
        .select(
            "l_partkey",
            "n_suppliers",
            F.round(
                F.lit(10_000.0)
                * F.col("__sumsq").cast("double")
                / (F.col("__tot") * F.col("__tot")).cast("double"),
                6,
            ).alias("hhi_bp"),
        )
        .orderBy(F.desc("hhi_bp"), F.desc("n_suppliers"), F.asc("l_partkey"))
        .limit(20)
    )


ORACLE_PART_SUPPLIER_HHI = """
WITH li AS (
  SELECT l_partkey, l_suppkey,
         CAST(round(l_quantity) AS BIGINT) AS q
  FROM lineitem
),
per_supp AS (
  SELECT l_partkey, l_suppkey, CAST(sum(q) AS BIGINT) AS sq
  FROM li GROUP BY l_partkey, l_suppkey
),
per_part AS (
  SELECT l_partkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(sq) AS BIGINT) AS tot,
         CAST(sum(sq * sq) AS BIGINT) AS sumsq
  FROM per_supp GROUP BY l_partkey
)
SELECT l_partkey, n_suppliers,
       round(10000.0 * CAST(sumsq AS DOUBLE) / CAST(tot * tot AS DOUBLE), 6)
         AS hhi_bp
FROM per_part
WHERE tot > 0
ORDER BY hhi_bp DESC, n_suppliers DESC, l_partkey
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Monthly revenue pivot (wide mart via df.pivot).
# ---------------------------------------------------------------------------

_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")


def q_monthly_revenue_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The wide reporting mart: order-month rows x market-segment
    columns of exact revenue — Spark's native ``groupBy().pivot()``
    with the segment domain DECLARED (skipping the extra
    distinct-values scan pivot otherwise runs; one Expand-free
    aggregate). Integer units keep every cell engine-exact; the oracle
    states the same table as conditional aggregation."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    base = orders.join(
        customer, orders.o_custkey == customer.c_custkey
    ).select(
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias(
            "order_month"
        ),
        "c_mktsegment",
        units("o_totalprice").alias("__rev"),
    )
    wide = (
        base.groupBy("order_month")
        .pivot("c_mktsegment", list(_SEGMENTS))
        .agg(F.sum("__rev"))
    )
    out = wide.select(
        "order_month",
        *[
            as_value(F.coalesce(F.col(s), F.lit(0))).alias(f"rev_{s.lower()}")
            for s in _SEGMENTS
        ],
    )
    return out.orderBy("order_month")


ORACLE_MONTHLY_REVENUE_PIVOT = """
SELECT CAST(date_trunc('month', CAST(o.o_orderdate AS DATE)) AS DATE)
         AS order_month,
       CAST(sum(CASE WHEN c.c_mktsegment = 'AUTOMOBILE'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END) AS DOUBLE) / 100.0 AS rev_automobile,
       CAST(sum(CASE WHEN c.c_mktsegment = 'BUILDING'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END) AS DOUBLE) / 100.0 AS rev_building,
       CAST(sum(CASE WHEN c.c_mktsegment = 'FURNITURE'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END) AS DOUBLE) / 100.0 AS rev_furniture,
       CAST(sum(CASE WHEN c.c_mktsegment = 'HOUSEHOLD'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END) AS DOUBLE) / 100.0 AS rev_household,
       CAST(sum(CASE WHEN c.c_mktsegment = 'MACHINERY'
                THEN CAST(round(o.o_totalprice * 100) AS BIGINT)
                ELSE 0 END) AS DOUBLE) / 100.0 AS rev_machinery
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
GROUP BY date_trunc('month', CAST(o.o_orderdate AS DATE))
ORDER BY order_month
"""


# ---------------------------------------------------------------------------
# Longest activity streaks (gaps-and-islands).
# ---------------------------------------------------------------------------


def q_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement streaks: each user's longest run of CONSECUTIVE
    active days, censused into a distribution — the classic
    gaps-and-islands pattern (island key = day_epoch - row_number per
    user; consecutive days share it). One per-user window over
    distinct active days, two rollups; everything integer."""
    ev = _events_base(spark, sf_dir).select("user_id", "day").distinct()
    days = ev.select(
        "user_id",
        F.datediff("day", F.lit("1970-01-01").cast("date"))
        .cast("long")
        .alias("__de"),
    )
    w = Window.partitionBy("user_id").orderBy("__de")
    islands = days.select(
        "user_id",
        (F.col("__de") - F.row_number().over(w)).alias("__island"),
    )
    streaks = islands.groupBy("user_id", "__island").agg(
        F.count(F.lit(1)).alias("__len")
    )
    best = streaks.groupBy("user_id").agg(F.max("__len").alias("max_streak"))
    return (
        best.groupBy("max_streak")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("max_streak")
    )


ORACLE_ACTIVITY_STREAKS = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
ev AS (SELECT DISTINCT user_id, day FROM clean),
days AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', day) AS de
  FROM ev
),
islands AS (
  SELECT user_id,
         de - row_number() OVER (PARTITION BY user_id ORDER BY de)
           AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, count(*) AS len
  FROM islands GROUP BY user_id, island
),
best AS (
  SELECT user_id, CAST(max(len) AS BIGINT) AS max_streak
  FROM streaks GROUP BY user_id
)
SELECT max_streak, count(*) AS n_users
FROM best GROUP BY max_streak
ORDER BY max_streak
"""


# ---------------------------------------------------------------------------
# Day-of-week seasonality profile.
# ---------------------------------------------------------------------------


def q_dow_value_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly seasonality per event type: exact half-up average value
    per ISO day-of-week (Monday=1 — Spark and DuckDB disagree on
    dayofweek origin, so both sides rebase explicitly), plus each
    type's PEAK weekday via the sort-free min-struct extremum over the
    7-row profile."""
    ev = _events_base(spark, sf_dir).select(
        "event_type",
        # Spark dayofweek: Sunday=1 ... rebase to ISO Monday=1
        (((F.dayofweek("day") + 5) % 7) + 1).cast("long").alias("iso_dow"),
        units("value").alias("__vu"),
    )
    prof = ev.groupBy("event_type", "iso_dow").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("__vu").alias("__su"),
    )
    peak = prof.groupBy("event_type").agg(
        F.min(
            F.struct(
                (-(F.lit(100) * F.col("__su"))
                 .cast("double") / F.col("n_events").cast("double")).alias("na"),
                F.col("iso_dow").alias("d"),
            )
        ).getField("d").alias("peak_dow")
    )
    return (
        prof.join(F.broadcast(peak), "event_type")
        .select(
            "event_type",
            "iso_dow",
            "n_events",
            avg_units_expr("__su", "n_events", 2, 2).alias("avg_value"),
            "peak_dow",
        )
        .orderBy("event_type", "iso_dow")
    )


ORACLE_DOW_VALUE_PROFILE = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
u AS (
  SELECT event_type, isodow(day) AS iso_dow,
         CAST(round(value * 100) AS BIGINT) AS vu
  FROM clean
),
prof AS (
  SELECT event_type, CAST(iso_dow AS BIGINT) AS iso_dow,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(vu) AS BIGINT) AS su
  FROM u GROUP BY event_type, iso_dow
),
peak AS (
  SELECT event_type,
         (min(struct_pack(
             na := -(100.0 * CAST(su AS DOUBLE)) / CAST(n_events AS DOUBLE),
             d := iso_dow))).d AS peak_dow
  FROM prof GROUP BY event_type
)
SELECT p.event_type, p.iso_dow, p.n_events,
       {oracle_avg_units("p.su", "p.n_events", 2, 2)} AS avg_value,
       k.peak_dow
FROM prof p JOIN peak k USING (event_type)
ORDER BY p.event_type, p.iso_dow
"""


# ---------------------------------------------------------------------------
# Top-supplier winner margin per nation (sort-free top-2 gap).
# ---------------------------------------------------------------------------


def q_nation_top_supplier_margin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Competitive gap: per supplier nation, the revenue lead of the
    top supplier over the runner-up — two sort-free extremum aggregates
    (max struct for the winner, conditional max for the best
    strictly-below-winner revenue) instead of a rank window. Nations
    with a single revenue level report a zero margin against
    themselves-excluded NULL -> filtered."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", units("l_extendedprice").alias("__rev")
    )
    supplier = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    per_supp = (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy("n_name", "s_suppkey")
        .agg(F.sum("__rev").alias("rev_units"))
    )
    win = per_supp.groupBy("n_name").agg(
        F.max(
            F.struct(F.col("rev_units").alias("r"), (-F.col("s_suppkey")).alias("ns"))
        ).alias("__w")
    ).select(
        "n_name",
        F.col("__w.r").alias("top_rev_units"),
        (-F.col("__w.ns")).alias("top_suppkey"),
    )
    second = (
        per_supp.join(F.broadcast(win), "n_name")
        .where(F.col("rev_units") < F.col("top_rev_units"))
        .groupBy("n_name")
        .agg(F.max("rev_units").alias("runnerup_rev_units"))
    )
    return (
        win.join(second, "n_name")
        .select(
            "n_name",
            "top_suppkey",
            "top_rev_units",
            "runnerup_rev_units",
            (F.col("top_rev_units") - F.col("runnerup_rev_units")).alias(
                "margin_units"
            ),
        )
        .orderBy("n_name")
    )


ORACLE_NATION_TOP_SUPPLIER_MARGIN = """
WITH per_supp AS (
  SELECT n.n_name, s.s_suppkey,
         CAST(sum(CAST(round(l.l_extendedprice * 100) AS BIGINT))
              AS BIGINT) AS rev_units
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  GROUP BY n.n_name, s.s_suppkey
),
win AS (
  SELECT n_name,
         (max(struct_pack(r := rev_units, ns := -s_suppkey))).r
           AS top_rev_units,
         -(max(struct_pack(r := rev_units, ns := -s_suppkey))).ns
           AS top_suppkey
  FROM per_supp GROUP BY n_name
),
second AS (
  SELECT p.n_name, CAST(max(p.rev_units) AS BIGINT) AS runnerup_rev_units
  FROM per_supp p JOIN win w USING (n_name)
  WHERE p.rev_units < w.top_rev_units
  GROUP BY p.n_name
)
SELECT w.n_name, CAST(w.top_suppkey AS BIGINT) AS top_suppkey,
       w.top_rev_units, s.runnerup_rev_units,
       w.top_rev_units - s.runnerup_rev_units AS margin_units
FROM win w JOIN second s USING (n_name)
ORDER BY w.n_name
"""


# ---------------------------------------------------------------------------
# Exact-duplicate cluster size histogram.
# ---------------------------------------------------------------------------


def q_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication structure, not just rate: the histogram of
    exact-duplicate cluster sizes over the copy-injected corpus
    (how many texts appear once, twice, k times) — the shape that
    picks between keep-first dedup and frequency-weighted sampling.
    The probe corpus injects VERBATIM copies (first 20 docs twice, so
    the histogram provably shows a size-2 band; the near-dup fixture
    would md5 apart). Two censuses over 16-byte digests; text never
    shuffles."""
    base = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = base.where(F.col("doc_id") < 20).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
    )
    docs = base.unionByName(copies)
    sizes = docs.groupBy(F.md5(F.col("text")).alias("__d")).agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .withColumn(
            "n_docs", (F.col("cluster_size") * F.col("n_clusters")).cast("long")
        )
        .orderBy("cluster_size")
    )


ORACLE_DUP_CLUSTER_HISTOGRAM = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, text
  FROM documents WHERE doc_id < 20
),
sizes AS (
  SELECT md5(text) AS d, count(*) AS cluster_size
  FROM corpus GROUP BY md5(text)
)
SELECT cluster_size, count(*) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM sizes GROUP BY cluster_size
ORDER BY cluster_size
"""


# ---------------------------------------------------------------------------
# Median order value by market segment (census median reuse).
# ---------------------------------------------------------------------------


def q_median_order_value_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typical-ticket mart: the exact median order value per market
    segment — reusing the value-census order-statistic operator
    (operators/robust._group_median2, the same machinery behind the
    MAD screen and CUSUM center): the shuffle carries distinct
    (segment, price) pairs, med2 = the two middle order statistics
    summed, still BIGINT; value = med2 / 2 / 100 in one exact-input
    division."""
    from ..operators.robust import _group_median2

    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", units("o_totalprice").alias("__pu")
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    j = orders.join(customer, orders.o_custkey == customer.c_custkey)
    med = _group_median2(
        j.select("c_mktsegment", "__pu"), "c_mktsegment", "__pu", "med2"
    )
    return med.select(
        "c_mktsegment",
        F.col("n_rows").alias("n_orders"),
        "med2",
        (F.col("med2").cast("double") / 2.0 / 100.0).alias("median_order_value"),
    ).orderBy("c_mktsegment")


ORACLE_MEDIAN_ORDER_VALUE_BY_SEGMENT = """
WITH j AS (
  SELECT c.c_mktsegment,
         CAST(round(o.o_totalprice * 100) AS BIGINT) AS pu
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(2 * median(pu) AS BIGINT) AS med2,
       CAST(CAST(2 * median(pu) AS BIGINT) AS DOUBLE) / 2.0 / 100.0
         AS median_order_value
FROM j
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


# ---------------------------------------------------------------------------
# Global order-value decile table.
# ---------------------------------------------------------------------------


def q_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The one-row decile card for order value: exact p10..p90 as a
    single ordered-set aggregate over integer cents (one map-side-
    combined pass, no sort, no window) — the summary a pricing page or
    an SLA doc quotes. Interpolated percentiles of BIGINTs are
    engine-exact doubles."""
    orders = load_table(spark, sf_dir, "orders").select(
        units("o_totalprice").alias("__pu")
    )
    aggs = [F.count(F.lit(1)).alias("n_orders")] + [
        F.percentile(F.col("__pu"), F.lit(q / 10)).alias(f"p{q}0_units")
        for q in range(1, 10)
    ]
    return orders.agg(*aggs)


ORACLE_ORDER_VALUE_DECILES = """
SELECT count(*) AS n_orders,
       """ + ",\n       ".join(
    "percentile_cont({q}) WITHIN GROUP (ORDER BY CAST(round("
    "o_totalprice * 100) AS BIGINT)) AS p{p}0_units".format(q=q / 10, p=q)
    for q in range(1, 10)
) + """
FROM orders
"""


# ---------------------------------------------------------------------------
# Calendar completeness: missing-days report.
# ---------------------------------------------------------------------------


def q_events_missing_days_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-completeness audit: per event type, how many calendar
    days inside its own [first, last] span produced ZERO events — the
    silent-pipeline-outage detector. Dense calendar via
    sequence()/explode (bounded by span days, the gap_fill_daily
    pattern), LEFT ANTI against observed days, exact counts."""
    ev = _events_base(spark, sf_dir).select("event_type", "day").distinct()
    spans = ev.groupBy("event_type").agg(
        F.min("day").alias("__d0"), F.max("day").alias("__d1")
    )
    grid = spans.select(
        "event_type",
        F.explode(
            F.sequence(F.col("__d0"), F.col("__d1"), F.expr("interval 1 day"))
        ).alias("day"),
    )
    missing = grid.join(ev, ["event_type", "day"], "left_anti")
    span_days = spans.select(
        "event_type",
        (F.datediff("__d1", "__d0") + 1).cast("long").alias("span_days"),
    )
    n_missing = missing.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_missing")
    )
    return (
        span_days.join(n_missing, "event_type", "left")
        .select(
            "event_type",
            "span_days",
            F.coalesce(F.col("n_missing"), F.lit(0)).cast("long").alias(
                "n_missing"
            ),
            F.round(
                F.coalesce(F.col("n_missing"), F.lit(0)).cast("double")
                / F.col("span_days").cast("double"),
                6,
            ).alias("missing_share"),
        )
        .orderBy("event_type")
    )


ORACLE_EVENTS_MISSING_DAYS_REPORT = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
ev AS (SELECT DISTINCT event_type, day FROM clean),
spans AS (
  SELECT event_type, min(day) AS d0, max(day) AS d1 FROM ev
  GROUP BY event_type
),
grid AS (
  SELECT event_type, CAST(unnest(generate_series(d0, d1,
                                 INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
),
missing AS (
  SELECT g.event_type, count(*) AS n_missing
  FROM grid g LEFT JOIN ev e
    ON e.event_type = g.event_type AND e.day = g.day
  WHERE e.day IS NULL
  GROUP BY g.event_type
)
SELECT s.event_type,
       CAST(date_diff('day', s.d0, s.d1) + 1 AS BIGINT) AS span_days,
       CAST(coalesce(m.n_missing, 0) AS BIGINT) AS n_missing,
       round(CAST(coalesce(m.n_missing, 0) AS DOUBLE)
             / CAST(date_diff('day', s.d0, s.d1) + 1 AS DOUBLE), 6)
         AS missing_share
FROM spans s LEFT JOIN missing m USING (event_type)
ORDER BY s.event_type
"""


# ---------------------------------------------------------------------------
# Week-over-week movers.
# ---------------------------------------------------------------------------


def q_weekly_movers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week movement per event type: weekly value totals
    (ISO week = epoch-day div 7 anchored to Monday 1970-01-05 — both
    engines state the same integer arithmetic, no locale-dependent
    week function), previous week via one lag window over the weekly
    rollup, exact integer delta and one 6 dp pct-change division."""
    ev = _events_base(spark, sf_dir).select(
        "event_type",
        F.floor(
            (F.datediff("day", F.lit("1970-01-05").cast("date"))) / 7
        ).cast("long").alias("week_idx"),
        units("value").alias("__vu"),
    )
    weekly = ev.groupBy("event_type", "week_idx").agg(
        F.sum("__vu").alias("week_units")
    )
    w = Window.partitionBy("event_type").orderBy("week_idx")
    out = weekly.select(
        "event_type",
        "week_idx",
        "week_units",
        F.lag("week_units").over(w).alias("prev_units"),
        F.lag("week_idx").over(w).alias("__prev_idx"),
    )
    gapless = F.col("__prev_idx") == F.col("week_idx") - 1
    return (
        out.where(F.col("prev_units").isNotNull() & gapless & (F.col("prev_units") > 0))
        .select(
            "event_type",
            "week_idx",
            "week_units",
            "prev_units",
            (F.col("week_units") - F.col("prev_units")).alias("delta_units"),
            F.round(
                (F.col("week_units") - F.col("prev_units")).cast("double")
                / F.col("prev_units").cast("double"),
                6,
            ).alias("pct_change"),
        )
        .orderBy("event_type", "week_idx")
    )


ORACLE_WEEKLY_MOVERS = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
ev AS (
  SELECT event_type,
         date_diff('day', DATE '1970-01-05', day) // 7 AS week_idx,
         CAST(round(value * 100) AS BIGINT) AS vu
  FROM clean
),
weekly AS (
  SELECT event_type, CAST(week_idx AS BIGINT) AS week_idx,
         CAST(sum(vu) AS BIGINT) AS week_units
  FROM ev GROUP BY event_type, week_idx
),
lagged AS (
  SELECT event_type, week_idx, week_units,
         lag(week_units) OVER w AS prev_units,
         lag(week_idx) OVER w AS prev_idx
  FROM weekly
  WINDOW w AS (PARTITION BY event_type ORDER BY week_idx)
)
SELECT event_type, week_idx, week_units, prev_units,
       week_units - prev_units AS delta_units,
       round(CAST(week_units - prev_units AS DOUBLE)
             / CAST(prev_units AS DOUBLE), 6) AS pct_change
FROM lagged
WHERE prev_units IS NOT NULL AND prev_idx = week_idx - 1
  AND prev_units > 0
ORDER BY event_type, week_idx
"""


# ---------------------------------------------------------------------------
# k-anonymity audit (privacy / data-governance screen).
# ---------------------------------------------------------------------------


def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy screen before sharing a customer extract: treating
    (nation, market segment) as the quasi-identifier, the
    equivalence-class size distribution, the k-anonymity level (the
    smallest class), and how many customers sit in classes below
    k = 5 — the re-identification exposure a governance gate reports.
    One census over the quasi-identifier, one rollup over class sizes;
    all exact counts, one final share division."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey", "c_mktsegment"
    )
    classes = cust.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("class_size")
    )
    return classes.agg(
        F.count(F.lit(1)).alias("n_classes"),
        F.sum("class_size").alias("n_rows"),
        F.min("class_size").alias("k_anonymity"),
        F.sum(F.when(F.col("class_size") < 5, F.col("class_size")).otherwise(0))
        .alias("n_below_k5"),
    ).select(
        "n_classes",
        "n_rows",
        "k_anonymity",
        "n_below_k5",
        F.round(
            F.col("n_below_k5").cast("double") / F.col("n_rows").cast("double"),
            6,
        ).alias("exposure_share"),
    )


ORACLE_K_ANONYMITY_AUDIT = """
WITH classes AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS class_size
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT count(*) AS n_classes,
       CAST(sum(class_size) AS BIGINT) AS n_rows,
       CAST(min(class_size) AS BIGINT) AS k_anonymity,
       CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
            AS BIGINT) AS n_below_k5,
       round(CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END)
                  AS DOUBLE) / CAST(sum(class_size) AS DOUBLE), 6)
         AS exposure_share
FROM classes
"""


# ---------------------------------------------------------------------------
# Activity inequality across users (Gini reuse).
# ---------------------------------------------------------------------------


def q_activity_gini_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How unevenly is engagement distributed: the exact Gini of
    per-user event counts, per event type — power-user concentration
    (operators/profile.gini_coefficient, second consumer after the
    revenue entry; the census machinery makes inequality audits a
    one-liner over any integer measure)."""
    from ..operators.profile import gini_coefficient

    ev = _events_base(spark, sf_dir)
    per_user = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return gini_coefficient(
        per_user, group_col="event_type", units_col="n_events"
    ).orderBy("event_type")


ORACLE_ACTIVITY_GINI_USERS = f"""
WITH clean AS ({_ORACLE_EVENTS_BASE}),
per_user AS (
  SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n_events
  FROM clean GROUP BY event_type, user_id
),
census AS (
  SELECT event_type, n_events, count(*) AS cnt
  FROM per_user GROUP BY event_type, n_events
),
cum AS (
  SELECT event_type, n_events, cnt,
         CAST(sum(cnt) OVER (PARTITION BY event_type ORDER BY n_events
                             ROWS UNBOUNDED PRECEDING) AS BIGINT) AS r
  FROM census
),
blocks AS (
  SELECT event_type, cnt, n_events * cnt AS tot_blk,
         n_events * (r * (r + 1) - (r - cnt) * (r - cnt + 1)) // 2 AS blk2
  FROM cum
),
agg AS (
  SELECT event_type,
         CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(tot_blk) AS BIGINT) AS total_units,
         CAST(sum(blk2) AS BIGINT) AS s
  FROM blocks GROUP BY event_type
)
SELECT event_type, n, total_units,
       round(CAST(2 * s - (n + 1) * total_units AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(total_units AS DOUBLE)), 6)
         AS gini
FROM agg
WHERE total_units > 0
ORDER BY event_type
"""
