"""Diversity reports, tokenizer fertility, trajectory assembly,
keep-best near-dedup, and the end-to-end curation composition.
"""

from __future__ import annotations

from collections.abc import Callable

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
from ..functions.text import (
    BPE_TOKEN_REGEX,
    STOPWORDS,
    bpe_token_count,
    char_fingerprint,
    predicted_lang,
    stopword_count,
    token_count,
    whitespace_tokens,
)
from ..operators.aggregates import conditional_count, daily_avg, mode_by_group
from ..operators.dedup import dedup_keep_first
from ..operators.percentile import percentile_trim
from ..operators.similarity import brute_force_topk, ivf_topk
from ..operators.text_dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    segment_boilerplate_removal,
    simhash_near_pairs,
)
from ..operators.topk import topk_extremes
from ..sources.readers import load_table

from ._base import (  # noqa: F401  (shared helpers re-used across modules)
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

def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram diversity report (operators/diversity.
    ngram_diversity_stats): distinct-1/2/3 ratios in basis points and
    unigram Shannon entropy in exact micro-nats — the self-repetition
    health check read before/after dedup to confirm the pipeline
    raised diversity. All ratios are BIGINT integer divisions; entropy
    follows the lm_score micro-unit snap contract, so the DuckDB twin
    reproduces every value bit-for-bit."""
    from ..operators.diversity import ngram_diversity_stats

    docs = load_table(spark, sf_dir, "documents")
    return ngram_diversity_stats(docs, "source", "text").orderBy("source")


ORACLE_NGRAM_DIVERSITY = r"""
WITH tok AS (
  SELECT source,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
uni AS (
  SELECT source, u.g FROM tok, unnest(t) AS u(g)
),
bi AS (
  SELECT source, u.g
  FROM tok, unnest(list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i + 1])) AS u(g)
),
tri AS (
  SELECT source, u.g
  FROM tok, unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(g)
),
ucnt AS (SELECT source, g, count(*) AS c FROM uni GROUP BY 1, 2),
ua AS (
  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS distinct_unigrams,
         CAST(sum(c * CAST(round(ln(c) * 1000000) AS BIGINT)) AS BIGINT)
           AS slc
  FROM ucnt GROUP BY 1
),
ba AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams
  FROM bi GROUP BY 1
),
ta AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_trigrams,
         CAST(count(DISTINCT g) AS BIGINT) AS distinct_trigrams
  FROM tri GROUP BY 1
)
SELECT ua.source, n_tokens, distinct_unigrams,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(distinct_bigrams, 0) AS distinct_bigrams,
       coalesce(n_trigrams, 0) AS n_trigrams,
       coalesce(distinct_trigrams, 0) AS distinct_trigrams,
       CAST(distinct_unigrams * 10000 // n_tokens AS BIGINT) AS ttr_bp,
       CASE WHEN coalesce(n_bigrams, 0) > 0
            THEN CAST(distinct_bigrams * 10000 // n_bigrams AS BIGINT)
            ELSE 0 END AS bigram_ttr_bp,
       CASE WHEN coalesce(n_trigrams, 0) > 0
            THEN CAST(distinct_trigrams * 10000 // n_trigrams AS BIGINT)
            ELSE 0 END AS trigram_ttr_bp,
       CAST(CAST(round(ln(n_tokens) * 1000000) AS BIGINT)
            - (2 * slc + n_tokens) // (2 * n_tokens) AS DOUBLE)
         / 1000000.0 AS unigram_entropy
FROM ua LEFT JOIN ba USING (source) LEFT JOIN ta USING (source)
ORDER BY source
"""


def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D4-style cluster-balanced coreset draw (operators/sampling.
    cluster_balanced_sample): exact-integer k-means cells over the
    embeddings, per-cluster quotas proportional to sqrt(cluster size)
    in INTEGER-only arithmetic, md5-hash-order pick inside each
    cluster. Per-cluster sample census + membership checksum; the
    oracle re-derives the full fit (shared _kmeans_label_ctes
    scaffolding), the quotas, and the ranked membership."""
    from ..operators.sampling import cluster_balanced_sample

    emb = load_table(spark, sf_dir, "embeddings")
    cents = embeddings_centroids(spark, sf_dir, n_cells=8, iters=3)
    s = cluster_balanced_sample(
        emb, total=100, n_cells=8, iters=3, centroids=cents
    )
    return (
        s.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("vec_id").alias("sum_vec_id"),
        )
        .orderBy("cluster_id")
    )


ORACLE_CLUSTER_BALANCED_SAMPLE = (
    "WITH "
    + ",\n".join(_kmeans_label_ctes("embeddings", 8, 3, 64, 6, QUANTIZER_SAMPLE_CAP))
    + f""",
counts AS (SELECT cell_id, count(*) AS n FROM labeled GROUP BY cell_id),
w AS (SELECT cell_id, CAST(floor(sqrt(n)) AS BIGINT) AS wt FROM counts),
quota AS (
  SELECT cell_id, (100 * wt) // (SELECT sum(wt) FROM w) AS q FROM w
),
ranked AS (
  SELECT cell_id, vec_id,
         row_number() OVER (
           PARTITION BY cell_id
           ORDER BY {_oracle_hash32("CAST(vec_id AS VARCHAR)")} % 1000000007,
                    vec_id) AS rn
  FROM labeled
)
SELECT r.cell_id AS cluster_id, CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(r.vec_id) AS BIGINT) AS sum_vec_id
FROM ranked r JOIN quota USING (cell_id)
WHERE r.rn <= quota.q
GROUP BY r.cell_id
ORDER BY cluster_id
"""
)


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility / compression diagnostics per language:
    BPE-ish tokens per whitespace word and characters per BPE token,
    both in exact basis points — the standard check that a tokenizer
    is not fragmenting one language's text far more than another's
    (fertility inflation = wasted context window for that slice).
    Pure row-local counting plus a language-sized rollup."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        F.length("text").cast("long").alias("__chars"),
        bpe_token_count(F.col("text")).cast("long").alias("__bpe"),
        token_count(F.col("text")).cast("long").alias("__ws"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__chars").alias("total_chars"),
            F.sum("__bpe").alias("total_bpe_tokens"),
            F.sum("__ws").alias("total_ws_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "total_bpe_tokens",
            "total_ws_tokens",
            F.expr(
                "CAST(total_bpe_tokens * 10000 div total_ws_tokens AS BIGINT)"
            ).alias("bpe_per_word_bp"),
            F.expr(
                "CAST(total_chars * 10000 div total_bpe_tokens AS BIGINT)"
            ).alias("chars_per_token_bp"),
        )
        .orderBy("lang")
    )


ORACLE_TOKENIZER_FERTILITY = f"""
WITH per AS (
  SELECT lang, CAST(len(text) AS BIGINT) AS chars,
         CAST(len(regexp_extract_all(text, '{BPE_TOKEN_REGEX}', 0)) AS BIGINT)
           AS bpe,
         CAST(len(list_filter(string_split_regex(trim(text), '\\s+'),
                              x -> x <> '')) AS BIGINT) AS ws
  FROM documents
),
g AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(chars) AS BIGINT) AS total_chars,
         CAST(sum(bpe) AS BIGINT) AS total_bpe_tokens,
         CAST(sum(ws) AS BIGINT) AS total_ws_tokens
  FROM per GROUP BY lang
)
SELECT lang, n_docs, total_chars, total_bpe_tokens, total_ws_tokens,
       CAST(total_bpe_tokens * 10000 // total_ws_tokens AS BIGINT)
         AS bpe_per_word_bp,
       CAST(total_chars * 10000 // total_bpe_tokens AS BIGINT)
         AS chars_per_token_bp
FROM g ORDER BY lang
"""


def q_trajectory_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT-style trajectory construction (operators/normalize.
    assemble_trajectories): each user-day's events become ONE ordered
    event-type sequence — the dialog/trajectory assembly step that
    turns raw logs into training examples. One group-key shuffle;
    ordering is row-local array_sort (ties broken by the item), no
    window, no global sort. Summarized per user-day with the
    trajectory string itself hash-checked."""
    from ..operators.normalize import assemble_trajectories

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & (F.col("user_id") < 50))
        .select("user_id", F.to_date("ts").alias("day"), "ts", "event_id",
                "event_type")
    )
    return assemble_trajectories(
        ev, ["user_id", "day"], ["ts", "event_id"], "event_type"
    ).orderBy("user_id", "day")


ORACLE_TRAJECTORY_ASSEMBLY = """
SELECT user_id, CAST(ts AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_items,
       string_agg(event_type, ';' ORDER BY ts, event_id, event_type)
         AS trajectory
FROM events
WHERE ts IS NOT NULL AND user_id < 50
GROUP BY 1, 2
ORDER BY user_id, day
"""


def q_near_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dedup keeping the highest-quality cluster member
    (operators/text_dedup.minhash_dedup_keep_best): quality = token
    count, so the injected near-dup copies — which carry an extra tail
    token — WIN over their originals, the opposite survivor set from
    keep-min-id (the sum_doc_id checksum proves membership, not just
    counts). Oracle: same 100%-recall exact-Jaccard closure as
    near_dedup_minhash, plus one argmax per cluster."""
    from ..operators.text_dedup import minhash_dedup_keep_best

    corpus = _docs_with_near_dups(spark, sf_dir)
    kept = minhash_dedup_keep_best(
        corpus, token_count(F.col("text")), threshold=0.6
    )
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("sum_doc_id"),
    )


ORACLE_NEAR_DEDUP_KEEP_BEST = r"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text || ' nearduplicate tail'
  FROM documents WHERE doc_id < 20
),
sh AS (
  SELECT doc_id AS id,
         len(w) AS score,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
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
clusters AS (
  SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a
),
winners AS (
  SELECT rep, id FROM (
    SELECT c.rep, c.id,
           row_number() OVER (PARTITION BY c.rep
                              ORDER BY sh.score DESC, c.id) AS rn
    FROM clusters c JOIN sh ON sh.id = c.id
  ) WHERE rn = 1
)
SELECT lang, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM corpus
WHERE doc_id NOT IN (SELECT id FROM clusters)
   OR doc_id IN (SELECT id FROM winners)
GROUP BY lang
"""


def q_length_matched_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-matched sampling (operators/sampling.
    distribution_matched_sample): draw ~300 docs whose LENGTH-bucket
    histogram matches the English slice's histogram — the categorical
    marginal-matching cousin of DSIR's content reweighting. Integer
    quotas from the target counts, md5-hash-rank membership; the
    oracle recomputes both."""
    from ..operators.sampling import distribution_matched_sample

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "len_bucket", F.expr("CAST(n_chars div 100 AS BIGINT)")
    )
    target = docs.where(F.col("lang") == "en")
    s = distribution_matched_sample(docs, target, "len_bucket", "doc_id", 300)
    return (
        s.groupBy("len_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("len_bucket")
    )


ORACLE_LENGTH_MATCHED_SAMPLE = f"""
WITH docs AS (
  SELECT doc_id, lang, n_chars // 100 AS len_bucket FROM documents
),
t AS (
  SELECT len_bucket, count(*) AS c FROM docs WHERE lang = 'en' GROUP BY 1
),
quota AS (
  SELECT len_bucket, (300 * c) // (SELECT sum(c) FROM t) AS q FROM t
),
ranked AS (
  SELECT len_bucket, doc_id,
         row_number() OVER (
           PARTITION BY len_bucket
           ORDER BY {_oracle_hash32("CAST(doc_id AS VARCHAR)")} % 1000000007,
                    doc_id) AS rn
  FROM docs
)
SELECT r.len_bucket, CAST(count(*) AS BIGINT) AS n_sampled,
       CAST(sum(r.doc_id) AS BIGINT) AS sum_doc_id
FROM ranked r JOIN quota USING (len_bucket)
WHERE r.rn <= quota.q
GROUP BY r.len_bucket
ORDER BY len_bucket
"""


def q_curation_pipeline_v4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-3 composition: keep-BEST near-dedup over the dup-injected
    corpus, then the per-language n-gram diversity report of the
    survivors — the before/after-dedup health check wired end-to-end
    (dedup should RAISE per-slice diversity; the report proves it on
    the surviving corpus). Oracle: the keep-best closure CTE feeding
    the diversity aggregations."""
    from ..operators.diversity import ngram_diversity_stats
    from ..operators.text_dedup import minhash_dedup_keep_best

    corpus = _docs_with_near_dups(spark, sf_dir)
    kept = minhash_dedup_keep_best(
        corpus, token_count(F.col("text")), threshold=0.6
    )
    return (
        ngram_diversity_stats(kept, "lang", "text")
        .select("lang", "n_tokens", "distinct_unigrams", "ttr_bp",
                "unigram_entropy")
        .orderBy("lang")
    )


ORACLE_CURATION_PIPELINE_V4 = r"""
WITH RECURSIVE corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text || ' nearduplicate tail'
  FROM documents WHERE doc_id < 20
),
sh AS (
  SELECT doc_id AS id,
         len(w) AS score,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\s+'),
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
clusters AS (
  SELECT a AS id, least(a, min(b)) AS rep FROM reach GROUP BY a
),
winners AS (
  SELECT rep, id FROM (
    SELECT c.rep, c.id,
           row_number() OVER (PARTITION BY c.rep
                              ORDER BY sh.score DESC, c.id) AS rn
    FROM clusters c JOIN sh ON sh.id = c.id
  ) WHERE rn = 1
),
kept AS (
  SELECT lang, text FROM corpus
  WHERE doc_id NOT IN (SELECT id FROM clusters)
     OR doc_id IN (SELECT id FROM winners)
),
tok AS (
  SELECT lang,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM kept
),
ucnt AS (
  SELECT lang, u.g, count(*) AS c
  FROM tok, unnest(t) AS u(g) GROUP BY 1, 2
),
ua AS (
  SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         CAST(count(*) AS BIGINT) AS distinct_unigrams,
         CAST(sum(c * CAST(round(ln(c) * 1000000) AS BIGINT)) AS BIGINT)
           AS slc
  FROM ucnt GROUP BY 1
)
SELECT lang, n_tokens, distinct_unigrams,
       CAST(distinct_unigrams * 10000 // n_tokens AS BIGINT) AS ttr_bp,
       CAST(CAST(round(ln(n_tokens) * 1000000) AS BIGINT)
            - (2 * slc + n_tokens) // (2 * n_tokens) AS DOUBLE)
         / 1000000.0 AS unigram_entropy
FROM ua ORDER BY lang
"""


def q_bitext_margin_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/bitext.py, the LASER/
    CCMatrix ratio-margin miner): embeddings labels < 5 play the source
    "language", labels >= 5 the target; mutual-top-1 pairs kept when
    the exact basis-point ratio margin clears 1.10 (109 pairs at
    sf0.01 — selective but non-degenerate). Everything after the
    round-6 cosine snap is BIGINT, so the DuckDB twin re-derives ranks,
    k-NN sums, and the one-integer-division margin bit-for-bit."""
    from ..operators.bitext import margin_bitext_mine

    emb = load_table(spark, sf_dir, "embeddings")
    return margin_bitext_mine(
        emb.where(F.col("label") < 5),
        emb.where(F.col("label") >= 5),
        k=4,
        margin_bp=11000,
    )


ORACLE_BITEXT_MARGIN_MINING = """
WITH a AS (SELECT vec_id AS a_id, embedding FROM embeddings WHERE label < 5),
b AS (SELECT vec_id AS b_id, embedding FROM embeddings WHERE label >= 5),
scored AS (
  SELECT a_id, b_id,
         CAST(round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                    CAST(b.embedding AS DOUBLE[])) * 1000000, 0) AS BIGINT)
           AS cos6u
  FROM a CROSS JOIN b
),
ranked AS (
  SELECT *,
         row_number() OVER (PARTITION BY a_id
                            ORDER BY cos6u DESC, b_id) AS rank_a,
         row_number() OVER (PARTITION BY b_id
                            ORDER BY cos6u DESC, a_id) AS rank_b
  FROM scored
),
enr AS (
  SELECT *,
         sum(CASE WHEN rank_a <= 4 THEN cos6u END)
           OVER (PARTITION BY a_id) AS sum_a,
         sum(CASE WHEN rank_a <= 4 THEN 1 ELSE 0 END)
           OVER (PARTITION BY a_id) AS cnt_a,
         sum(CASE WHEN rank_b <= 4 THEN cos6u END)
           OVER (PARTITION BY b_id) AS sum_b,
         sum(CASE WHEN rank_b <= 4 THEN 1 ELSE 0 END)
           OVER (PARTITION BY b_id) AS cnt_b
  FROM ranked
)
SELECT a_id, b_id, cos6u,
       CAST((2 * cos6u * 10000 * cnt_a * cnt_b)
            // (sum_a * cnt_b + sum_b * cnt_a) AS BIGINT) AS margin_bp
FROM enr
WHERE rank_a = 1 AND rank_b = 1
  AND (sum_a * cnt_b + sum_b * cnt_a) > 0
  AND (2 * cos6u * 10000 * cnt_a * cnt_b)
      // (sum_a * cnt_b + sum_b * cnt_a) >= 11000
ORDER BY a_id
"""


def q_part_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer PageRank (operators/graph.pagerank_exact) over the part
    co-purchase graph (same edge construction as
    copurchase_components): 3 exact-arithmetic rounds at damping
    85/100, plus each node's degree. Top-10 by rank with id tie-break.
    The DuckDB twin unrolls the identical three rounds — bit-for-bit,
    which float PageRank cannot offer."""
    from ..operators.graph import degree_stats, pagerank_exact

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
    pr = pagerank_exact(edges, iters=3, damping_pct=85)
    deg = degree_stats(edges)
    return (
        pr.join(deg, "id")
        .select(
            F.col("id").alias("part_id"),
            "degree",
            "rank_micro",
        )
        .orderBy(F.desc("rank_micro"), F.asc("part_id"))
        .limit(10)
    )


def _oracle_part_pagerank(iters: int = 3) -> str:
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(f"""r{i} AS (
  SELECT e.dst AS id,
         CAST(150000 + (85 * sum((2 * r.rank_micro + d.deg) // (2 * d.deg)))
              // 100 AS BIGINT) AS rank_micro
  FROM e JOIN {prev} r ON e.src = r.id JOIN deg d ON e.src = d.src
  GROUP BY e.dst
)""")
        prev = f"r{i}"
    return f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 60
),
p AS (
  SELECT DISTINCT a.l_partkey AS id_a, b.l_partkey AS id_b
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
e AS (SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
deg AS (SELECT src, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY src),
r0 AS (SELECT src AS id, CAST(1000000 AS BIGINT) AS rank_micro FROM deg),
{",".join(rounds)}
SELECT r.id AS part_id, d.deg AS degree, r.rank_micro
FROM {prev} r JOIN deg d ON r.id = d.src
ORDER BY r.rank_micro DESC, part_id
LIMIT 10
"""


ORACLE_PART_PAGERANK = _oracle_part_pagerank()


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation + local clustering coefficient
    over the same co-purchase graph as part_pagerank
    (operators/graph.triangle_counts): degree-oriented wedge counting
    (Suri-Vassilvitskii), so no hub-part wedge explosion — the oriented
    out-degree is O(sqrt(edges)) no matter how popular a part is. The
    oracle counts the identical triangles with the naive a<b<c
    three-way join: two independent algorithms, one answer."""
    from ..operators.graph import triangle_counts

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
    return (
        triangle_counts(edges)
        .select(
            F.col("id").alias("part_id"), "degree", "triangles", "clustering_coeff"
        )
        .orderBy("part_id")
    )


def q_part_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """17-core of the strong co-purchase graph over 60 part groups
    (operators/graph.kcore_members): nodes are ``l_partkey % 60``
    buckets, an edge exists when a pair co-occurs in strictly more
    orders than the average pair does (the "stronger than chance"
    screen — the raw co-occurrence graph is complete at any scale
    factor, so thresholding is what creates structure), and iterative
    peeling then keeps only groups embedded in a dense community.
    Every peel round removes at least one node and the graph has at
    most 60 nodes (the modulo bucketing), so 60 rounds PROVABLY reach
    the fixpoint at any scale factor: the Spark side iterates with
    that bound and the DuckDB twin unrolls exactly 60 edge-filter
    rounds — the unroll is a certificate, not a guess; post-fixpoint
    rounds are no-ops. The avg-count scalar rides in via a broadcast
    1-row aggregate (no driver collect, no nested agg)."""
    from ..operators.graph import kcore_members

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", (F.col("l_partkey") % 60).alias("pg"))
        .distinct()
    )
    a = li.select(F.col("l_orderkey").alias("o"), F.col("pg").alias("id_a"))
    b = li.select(F.col("l_orderkey").alias("o"), F.col("pg").alias("id_b"))
    pc = (
        a.join(b, "o")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    avg_cnt = pc.agg(F.avg("cnt").alias("avg_cnt"))
    edges = (
        pc.crossJoin(F.broadcast(avg_cnt))
        .where(F.col("cnt") > F.col("avg_cnt"))
        .select("id_a", "id_b")
    )
    return (
        kcore_members(edges, k=17, max_rounds=60)
        .select(F.col("id").alias("part_group"), "core_degree")
        .orderBy("part_group")
    )


def _oracle_part_kcore(k: int = 17, rounds: int = 60) -> str:
    steps = []
    for i in range(1, rounds + 1):
        steps.append(
            f"""d{i} AS MATERIALIZED (SELECT src, count(*) AS c FROM e{i - 1} GROUP BY src),
e{i} AS MATERIALIZED (
  SELECT e.src, e.dst FROM e{i - 1} e
  JOIN d{i} da ON da.src = e.src AND da.c >= {k}
  JOIN d{i} db ON db.src = e.dst AND db.c >= {k}
)"""
        )
    joined = ",\n".join(steps)
    return f"""
WITH li AS (
  SELECT DISTINCT l_orderkey, l_partkey % 60 AS pg FROM lineitem
),
pc AS (
  SELECT a.pg AS id_a, b.pg AS id_b, count(*) AS cnt
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.pg < b.pg
  GROUP BY 1, 2
),
p AS (
  SELECT id_a, id_b FROM pc WHERE cnt > (SELECT avg(cnt) FROM pc)
),
e0 AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
       UNION ALL SELECT id_b, id_a FROM p),
{joined}
SELECT src AS part_group, CAST(count(*) AS BIGINT) AS core_degree
FROM e{rounds} GROUP BY src ORDER BY part_group
"""


ORACLE_PART_KCORE = _oracle_part_kcore()


ORACLE_PART_TRIANGLES = """
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 60
),
p AS (
  SELECT DISTINCT a.l_partkey AS id_a, b.l_partkey AS id_b
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
tr AS (
  SELECT e1.id_a AS x, e1.id_b AS y, e2.id_b AS z
  FROM p e1
  JOIN p e2 ON e2.id_a = e1.id_a AND e2.id_b > e1.id_b
  JOIN p e3 ON e3.id_a = e1.id_b AND e3.id_b = e2.id_b
),
nodes AS (
  SELECT x AS id FROM tr
  UNION ALL SELECT y FROM tr
  UNION ALL SELECT z FROM tr
),
tcount AS (SELECT id, CAST(count(*) AS BIGINT) AS t FROM nodes GROUP BY id),
deg AS (
  SELECT id, CAST(count(*) AS BIGINT) AS d
  FROM (SELECT id_a AS id FROM p UNION ALL SELECT id_b AS id FROM p)
  GROUP BY id
)
SELECT deg.id AS part_id, deg.d AS degree,
       coalesce(t.t, 0) AS triangles,
       CASE WHEN deg.d >= 2
            THEN round(CAST(2 * coalesce(t.t, 0) AS DOUBLE)
                       / CAST(deg.d * (deg.d - 1) AS DOUBLE), 6)
            ELSE CAST(0 AS DOUBLE) END AS clustering_coeff
FROM deg LEFT JOIN tcount t ON t.id = deg.id
ORDER BY part_id
"""


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair assembly (operators/normalize.
    preference_pairs): per source, the longest document (token count)
    becomes chosen and the shortest rejected, ties broken on doc_id —
    one max_by/min_by aggregation, no window, no per-group sort. The
    oracle re-derives both slots with rank windows."""
    from ..operators.normalize import preference_pairs

    docs = load_table(spark, sf_dir, "documents").select(
        "source", "doc_id", token_count(F.col("text")).cast("long").alias("score")
    )
    return preference_pairs(
        docs, "source", "doc_id", "score", min_margin=1
    ).orderBy("group")


ORACLE_PREFERENCE_PAIRS = r"""
WITH scored AS (
  SELECT source, doc_id,
         CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                              x -> x <> '')) AS BIGINT) AS score
  FROM documents
),
ch AS (
  SELECT source, doc_id AS chosen_id, score AS chosen_score FROM scored
  QUALIFY row_number() OVER (PARTITION BY source
                             ORDER BY score DESC, doc_id ASC) = 1
),
rj AS (
  SELECT source, doc_id AS rejected_id, score AS rejected_score FROM scored
  QUALIFY row_number() OVER (PARTITION BY source
                             ORDER BY score ASC, doc_id DESC) = 1
),
n AS (SELECT source, count(*) AS n FROM scored GROUP BY source)
SELECT ch.source AS "group", chosen_id, rejected_id,
       chosen_score, rejected_score,
       chosen_score - rejected_score AS margin
FROM ch JOIN rj ON ch.source = rj.source JOIN n ON n.source = ch.source
WHERE n.n >= 2 AND chosen_id <> rejected_id
  AND chosen_score - rejected_score >= 1
ORDER BY ch.source
"""


def q_bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary induction, step one of BPE training: census of
    adjacent CHARACTER pairs inside words across the corpus and the
    top-20 merge candidates (the pair a BPE trainer would merge first,
    then re-census). Pure array algebra — per doc, one flatten of
    per-word pair lists below a single explode; the groupBy key space
    is bounded by the alphabet squared, so map-side partials compress
    almost everything before the shuffle. Single-char words contribute
    nothing (guarded: Spark's sequence() runs DESCENDING when start >
    stop, so an unguarded length-1 word would emit garbage pairs)."""
    docs = load_table(spark, sf_dir, "documents")
    # built with F.expr: SQL substring(w, i, 2) accepts column args,
    # the python F.substring does not
    per_doc = docs.select(
        F.explode(
            F.expr(
                "flatten(transform("
                "  filter(split(lower(trim(text)), '\\\\s+'), w -> length(w) >= 2),"
                "  w -> transform(sequence(1, length(w) - 1),"
                "                 i -> substring(w, i, 2))))"
            )
        ).alias("pair")
    )
    return (
        per_doc.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), F.asc("pair"))
        .limit(20)
    )


ORACLE_BPE_MERGE_CANDIDATES = r"""
WITH tok AS (
  SELECT list_filter(string_split_regex(lower(trim(text)), '\s+'),
                     w -> len(w) >= 2) AS ws
  FROM documents
),
pairs AS (
  SELECT p FROM tok,
       unnest(flatten(list_transform(ws,
         w -> list_transform(range(1, len(w)),
                             i -> substring(w, i, 2))))) AS u(p)
)
SELECT p AS pair, CAST(count(*) AS BIGINT) AS n_occurrences
FROM pairs GROUP BY p
ORDER BY n_occurrences DESC, pair ASC
LIMIT 20
"""


def q_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph via
    deterministic SYNCHRONOUS label propagation
    (operators/graph.label_propagation): 4 rounds, neighbor-label mode
    with smallest-label tie-break — the co-viewed/co-bought clustering
    a recommender mart feeds on. Output: one row per community with
    its size and smallest member. The DuckDB twin unrolls the same 4
    rounds (AS MATERIALIZED, the kcore lesson) — bit-identical because
    sync+min-tie-break removes every source of order dependence."""
    from ..operators.graph import label_propagation

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
    labels = label_propagation(edges, iters=4)
    return (
        labels.groupBy("community")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min("id").alias("min_member"),
        )
        .orderBy("community")
    )


def _oracle_part_communities(iters: int = 4) -> str:
    rounds = []
    prev = "l0"
    for i in range(1, iters + 1):
        rounds.append(f"""c{i} AS MATERIALIZED (
  SELECT e.dst AS id, l.label, count(*) AS cnt
  FROM e JOIN {prev} l ON e.src = l.id
  GROUP BY e.dst, l.label
),
l{i} AS MATERIALIZED (
  SELECT id,
         (min(struct_pack(nc := -cnt, lab := label))).lab AS label
  FROM c{i} GROUP BY id
)""")
        prev = f"l{i}"
    return f"""
WITH li AS (
  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_partkey < 60
),
p AS (
  SELECT DISTINCT a.l_partkey AS id_a, b.l_partkey AS id_b
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
e AS MATERIALIZED (SELECT id_a AS src, id_b AS dst FROM p
      UNION ALL SELECT id_b, id_a FROM p),
l0 AS (SELECT DISTINCT src AS id, src AS label FROM e),
{",".join(rounds)}
SELECT label AS community,
       CAST(count(*) AS BIGINT) AS n_members,
       min(id) AS min_member
FROM {prev}
GROUP BY label
ORDER BY community
"""


ORACLE_PART_COMMUNITIES = _oracle_part_communities()
