"""Span/line dedup, LM quality scoring (unigram/bigram/DSIR/
perplexity), retrieval (TF-IDF/BM25), snapshot diffs, and the
incremental-corpus dedup pipelines.
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
    _kmeans_label_ctes,
    _oracle_hash32,
    embeddings_centroids,
)

def q_line_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level segment dedup (C4/RefinedWeb-style boilerplate
    removal): every 10-word chunk appearing in >= 2 distinct documents
    is dropped from ALL of them, documents are reassembled from the
    surviving chunks in order, and the result is summarized per
    language. Sub-document granularity of the reference's dedup-before-
    load contract (mongo_to_postgres_replication.py:35-39); chunk mode
    because the synthetic corpus has no line structure (the operator's
    default is physical lines).

    All output aggregates are integers (counts + char lengths), so the
    oracle hash is arithmetic-order-proof by construction."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    cleaned = segment_boilerplate_removal(corpus, chunk_words=10, min_docs=2)
    return cleaned.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum((F.col("n_segments_removed") > 0).cast("int")).alias("docs_touched"),
        F.sum("n_segments_removed").alias("segs_removed"),
        F.sum(F.length("text")).alias("clean_chars"),
    )


ORACLE_LINE_DEDUP_DOCS = r"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text || ' nearduplicate tail'
  FROM documents WHERE doc_id < 20
),
w AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     t -> t <> '') AS wl
  FROM corpus
),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(wl[((i-1)*10+1):(i*10)], ' ') AS seg
  FROM w, UNNEST(range(1, CAST(ceil(len(wl) / 10.0) AS BIGINT) + 1)) AS t(i)
),
boiler AS (
  SELECT lower(trim(seg)) AS k
  FROM segs GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
reb AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean,
         count(*) AS nkept
  FROM segs WHERE lower(trim(seg)) NOT IN (SELECT k FROM boiler)
  GROUP BY doc_id
),
docs2 AS (
  SELECT w.lang, coalesce(r.clean, '') AS text,
         CAST(ceil(len(w.wl) / 10.0) AS BIGINT) - coalesce(r.nkept, 0) AS nrem
  FROM w LEFT JOIN reb r USING (doc_id)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN nrem > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_touched,
       CAST(sum(nrem) AS BIGINT) AS segs_removed,
       CAST(sum(length(text)) AS BIGINT) AS clean_chars
FROM docs2 GROUP BY lang
"""


def q_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality filter (cheap perplexity screen): score every
    document by mean token log-prob under the corpus's own add-1
    unigram model, keep docs above -3.405 nats/token, summarize per
    language. Per-token log-probs snap to integer micro-units BEFORE
    summation and the threshold test is pure BIGINT
    (lp_sum >= thr * n), so the oracle hash cannot drift
    (functions/exact.py policy; operators/lm_score.py)."""
    from ..operators.lm_score import keep_by_avg_logprob, unigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob_scores(docs)
    kept = keep_by_avg_logprob(scored, -3.405)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("lp_micro").alias("lp_micro_sum"),
        )
        .join(
            kept.groupBy("lang").agg(F.count(F.lit(1)).alias("docs_kept")),
            "lang",
            "left",
        )
        .withColumn("docs_kept", F.coalesce(F.col("docs_kept"), F.lit(0)))
    )


ORACLE_UNIGRAM_LOGPROB_QUALITY = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> ''))
         AS tok
  FROM documents
),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM counts),
lp AS (
  SELECT tok,
         CAST(round(ln((c + 1.0) / (total + vocab)) * 1000000, 0) AS BIGINT)
         AS lp_micro
  FROM counts, tot
),
per_doc AS (
  SELECT t.doc_id, count(*) AS n, sum(p.lp_micro) AS s
  FROM toks t JOIN lp p USING (tok) GROUP BY t.doc_id
),
alldocs AS (
  SELECT d.lang, coalesce(pd.n, 0) AS n, coalesce(pd.s, 0) AS s
  FROM documents d LEFT JOIN per_doc pd USING (doc_id)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(s) AS BIGINT) AS lp_micro_sum,
       CAST(sum(CASE WHEN n > 0 AND s >= -3405000 * n THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept
FROM alldocs GROUP BY lang
"""


def q_bigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram-LM quality screen
    (operators/lm_score.bigram_logprob_scores): the context-sensitive
    upgrade of the unigram filter — word salad with plausible unigram
    frequencies scores badly once bigram context enters. λ = 3/4
    interpolation with the unigram model, add-1 smoothing, per-token
    log-probs snapped to BIGINT micro-units before summation. Per-
    language rollup plus the count of docs above -3.4 nats/token
    (threshold tested as lp2 >= thr·n in pure BIGINT)."""
    from ..operators.lm_score import bigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = bigram_logprob_scores(docs)
    thr = -3_400_000  # micro-nats per token
    return scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("lp2_micro").alias("lp2_micro_sum"),
        F.sum(
            F.when(
                (F.col("n_tokens") > 0)
                & (F.col("lp2_micro") >= F.lit(thr) * F.col("n_tokens")),
                1,
            ).otherwise(0)
        ).alias("docs_kept"),
    )


ORACLE_BIGRAM_LOGPROB_QUALITY = r"""
WITH base AS (
  SELECT doc_id, list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> '')
         AS toks
  FROM documents
),
pairs AS (
  SELECT doc_id, bi.prev AS prev, bi.cur AS cur
  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks)),
               i -> struct_pack(prev := toks[i], cur := toks[i+1]))) AS bi
        FROM base)
),
uni AS (
  SELECT tok, count(*) AS c
  FROM (SELECT unnest(toks) AS tok FROM base) GROUP BY tok
),
tot AS (SELECT sum(c) AS T, count(*) AS V FROM uni),
bi AS (SELECT prev, cur, count(*) AS c2 FROM pairs GROUP BY prev, cur),
blp AS (
  SELECT p.doc_id,
         CAST(round(ln((3.0 * ((b.c2 + 1.0) / (up.c + V))
                        + ((uc.c + 1.0) / (T + V))) / 4.0) * 1000000, 0)
              AS BIGINT) AS lp
  FROM pairs p
  JOIN bi b ON b.prev = p.prev AND b.cur = p.cur
  JOIN uni up ON up.tok = p.prev
  JOIN uni uc ON uc.tok = p.cur, tot
),
flp AS (
  SELECT b.doc_id,
         CAST(round(ln((u.c + 1.0) / (T + V)) * 1000000, 0) AS BIGINT) AS lp
  FROM base b JOIN uni u ON u.tok = b.toks[1], tot
  WHERE len(b.toks) > 0
),
per_doc AS (
  SELECT doc_id, count(*) AS n, CAST(sum(lp) AS BIGINT) AS s
  FROM (SELECT * FROM blp UNION ALL SELECT * FROM flp) GROUP BY doc_id
),
alldocs AS (
  SELECT d.lang, coalesce(pd.n, 0) AS n, coalesce(pd.s, 0) AS s
  FROM documents d LEFT JOIN per_doc pd USING (doc_id)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n) AS BIGINT) AS total_tokens,
       CAST(sum(s) AS BIGINT) AS lp2_micro_sum,
       CAST(sum(CASE WHEN n > 0 AND s >= -3400000 * n THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept
FROM alldocs GROUP BY lang
"""


def q_dsir_importance_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Targeted data selection (the DSIR recipe, word-unigram
    instantiation): weight every document by how much more likely its
    tokens are under a curated target domain's unigram model (docs from
    source 'src0') than under the raw corpus's own model; select docs
    with positive importance. Per-token log-ratios snap to integer
    micro-units before the order-independent BIGINT sum
    (functions/exact.py policy; operators/lm_score.py)."""
    from ..operators.lm_score import importance_weights

    docs = load_table(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    w = importance_weights(docs, target)
    selected = (F.col("n_tokens") > 0) & (F.col("imp_micro") > 0)
    return w.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("imp_micro").alias("imp_micro_sum"),
        F.sum(F.when(selected, 1).otherwise(0)).alias("n_selected"),
    )


ORACLE_DSIR_IMPORTANCE_SELECT = r"""
WITH rtoks AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> ''))
         AS tok
  FROM documents
),
ttoks AS (
  SELECT unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> ''))
         AS tok
  FROM documents WHERE source = 'src0'
),
rc AS (SELECT tok, count(*) AS c FROM rtoks GROUP BY tok),
rtot AS (SELECT sum(c) AS total, count(*) AS vocab FROM rc),
tc AS (SELECT tok, count(*) AS c FROM ttoks GROUP BY tok),
ttot AS (SELECT sum(c) AS total, count(*) AS vocab FROM tc),
rlp AS (
  SELECT tok, CAST(round(ln((c + 1.0) / (total + vocab)) * 1000000, 0)
              AS BIGINT) AS lp
  FROM rc, rtot
),
tlp AS (
  SELECT tok, CAST(round(ln((c + 1.0) / (total + vocab)) * 1000000, 0)
              AS BIGINT) AS lp
  FROM tc, ttot
),
tunk AS (
  SELECT CAST(round(ln(1.0 / (total + vocab)) * 1000000, 0) AS BIGINT)
         AS lp
  FROM ttot
),
per_doc AS (
  SELECT r.doc_id, count(*) AS n,
         sum(coalesce(t.lp, (SELECT lp FROM tunk)) - rl.lp) AS imp
  FROM rtoks r
  JOIN rlp rl USING (tok)
  LEFT JOIN tlp t USING (tok)
  GROUP BY r.doc_id
),
alldocs AS (
  SELECT d.lang, coalesce(pd.n, 0) AS n, coalesce(pd.imp, 0) AS imp
  FROM documents d LEFT JOIN per_doc pd USING (doc_id)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(imp) AS BIGINT) AS imp_micro_sum,
       CAST(sum(CASE WHEN n > 0 AND imp > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_selected
FROM alldocs GROUP BY lang
"""


def q_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail corpus partitioning by unigram-LM
    score tertiles (the CCNet recipe: route each language's lowest-
    perplexity third to training, re-screen or drop the tail). Bucket
    thresholds are per-group exact percentiles broadcast back onto the
    data — no per-language global sort (operators/lm_score.py
    perplexity_buckets)."""
    from ..operators.lm_score import perplexity_buckets, unigram_logprob_scores

    docs = load_table(spark, sf_dir, "documents")
    scored = unigram_logprob_scores(docs)
    b = perplexity_buckets(scored, ["lang"])
    return (
        b.where(F.col("n_tokens") > 0)
        .groupBy("lang", "ppl_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
    )


ORACLE_PERPLEXITY_BUCKETS = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> ''))
         AS tok
  FROM documents
),
counts AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM counts),
lp AS (
  SELECT tok,
         CAST(round(ln((c + 1.0) / (total + vocab)) * 1000000, 0) AS BIGINT)
         AS lp_micro
  FROM counts, tot
),
per_doc AS (
  SELECT t.doc_id, count(*) AS n, sum(p.lp_micro) AS s
  FROM toks t JOIN lp p USING (tok) GROUP BY t.doc_id
),
scored AS (
  SELECT d.lang, pd.n, pd.s / (1000000.0 * pd.n) AS avg
  FROM documents d JOIN per_doc pd USING (doc_id)
),
bounds AS (
  SELECT lang,
         quantile_cont(avg, 1.0/3.0) AS t_lo,
         quantile_cont(avg, 2.0/3.0) AS t_hi
  FROM scored GROUP BY lang
)
SELECT s.lang,
       CASE WHEN s.avg < b.t_lo THEN 'tail'
            WHEN s.avg < b.t_hi THEN 'middle'
            ELSE 'head' END AS ppl_bucket,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n) AS BIGINT) AS total_tokens
FROM scored s JOIN bounds b USING (lang)
GROUP BY 1, 2
"""


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF terms (corpus-relative salience, the
    A7 count+rank idiom lifted to the token domain). Corpus statistics
    run over ALL documents; the probe set is narrowed afterwards to
    keep the result bounded. Integer-exact scores: tf * BIGINT
    micro-unit idf, ties broken on the term string."""
    from ..operators.tfidf import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3).where(F.col("doc_id") < 100)


ORACLE_TFIDF_TOP_TERMS = r"""
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> ''))
         AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
nd AS (SELECT count(*) AS n_docs FROM documents),
idf AS (
  SELECT term,
         CAST(round(ln(CAST(n_docs AS DOUBLE) / df_t) * 1000000, 0) AS BIGINT)
         AS idf_micro
  FROM dfreq, nd
),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, tf.tf * idf.idf_micro AS score_micro
  FROM tf JOIN idf USING (term)
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY doc_id ORDER BY score_micro DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, score_micro,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 3 AND doc_id < 100
"""


# BM25 query set: literals shared verbatim between the Spark query and
# the DuckDB oracle (terms drawn from the documents vocabulary).
_BM25_QUERIES: list[tuple[int, str]] = [
    (1, "spark window join"),
    (2, "hash merge sort batch"),
    (3, "stream query filter vector"),
]


def q_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (operators/bm25.bm25_topk): top-10
    documents per query for a fixed 3-query set, Okapi BM25 with
    k1=1.2 / b=0.75 held as exact rationals so the whole score is one
    BIGINT integer division — rankings and hashes are engine-exact
    (module docstring derives the rewrite). The lexical-retrieval leg
    of eval-set construction / hard-negative mining next to the
    embedding ANN queries; corpus-sized work is bounded by the query
    vocabulary (terms filter before the tf census)."""
    from ..operators.bm25 import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    return bm25_topk(spark, docs, _BM25_QUERIES, k=10)


_BM25_VALUES = ", ".join(f"({i}, '{q}')" for i, q in _BM25_QUERIES)

ORACLE_BM25_RETRIEVAL = rf"""
WITH q AS (
  SELECT * FROM (VALUES {_BM25_VALUES}) AS t(query_id, qtext)
),
qt AS (
  SELECT query_id, unnest(list_distinct(list_filter(
           regexp_split_to_array(trim(lower(qtext)), '\s+'), x -> x <> ''
         ))) AS term
  FROM q
),
b2 AS (
  SELECT doc_id AS id, toks, len(toks) AS dl
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           x -> x <> '') AS toks
        FROM documents)
),
stats AS (
  SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS corpus_len FROM b2
),
tf AS (
  SELECT id, dl, term, count(*) AS tf
  FROM (SELECT id, dl, unnest(toks) AS term FROM b2)
  WHERE term IN (SELECT DISTINCT term FROM qt)
  GROUP BY id, dl, term
),
dfreq AS (SELECT term, count(*) AS df_t FROM tf GROUP BY term),
idf AS (
  SELECT term,
         CAST(round(ln(CAST(n_docs + 1 AS DOUBLE) / (df_t + 0.5)) * 1000000,
                    0) AS BIGINT) AS idf_micro
  FROM dfreq, stats
),
scored AS (
  SELECT qt.query_id, tf.id,
         CAST(sum((idf.idf_micro * 22 * stats.corpus_len * tf.tf)
                  // (10 * stats.corpus_len * tf.tf + 3 * stats.corpus_len
                      + 9 * tf.dl * stats.n_docs)) AS BIGINT) AS score_micro
  FROM tf JOIN qt USING (term) JOIN idf USING (term), stats
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
           PARTITION BY query_id ORDER BY score_micro DESC, id ASC) AS rank
  FROM scored
)
SELECT CAST(query_id AS BIGINT) AS query_id, id AS doc_id, score_micro,
       CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 10
"""


def q_repetition_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition screen: flag documents whose most frequent
    word 2-gram covers > 10% of all its 2-grams (template/keyword-spam
    signal; completes the row-local Gopher signals
    (functions.text.with_gopher_signals) with the
    census-based one). The flag test is integer cross-multiplication
    (top*10 > total) and every output is a BIGINT sum —
    arithmetic-order-proof."""
    from ..operators.repetition import top_ngram_coverage

    docs = load_table(spark, sf_dir, "documents")
    t = top_ngram_coverage(docs, n=2)
    return t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(
            (F.col("top_ngram_count") * 10 > F.col("ngram_total")).cast("int")
        ).alias("docs_flagged"),
        F.sum("top_ngram_count").alias("top_counts"),
        F.sum("ngram_total").alias("ngram_totals"),
    )


ORACLE_REPETITION_SCREEN = r"""
WITH w AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                     t -> t <> '') AS wl
  FROM documents
),
grams AS (
  SELECT doc_id, unnest(list_transform(range(1, len(wl)),
                        i -> array_to_string(wl[i:i+1], ' '))) AS g
  FROM w WHERE len(wl) >= 2
),
census AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY doc_id, g),
per_doc AS (
  SELECT doc_id, max(c) AS topc, sum(c) AS tot FROM census GROUP BY doc_id
),
alldocs AS (
  SELECT w.lang, coalesce(pd.topc, 0) AS topc, coalesce(pd.tot, 0) AS tot
  FROM w LEFT JOIN per_doc pd USING (doc_id)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN topc * 10 > tot THEN 1 ELSE 0 END) AS BIGINT)
         AS docs_flagged,
       CAST(sum(topc) AS BIGINT) AS top_counts,
       CAST(sum(tot) AS BIGINT) AS ngram_totals
FROM alldocs GROUP BY lang
"""


def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot delta between two corpus versions (I2 incremental
    contract generalized to content hashes): v2 deterministically drops
    every 13th doc, rewrites every 7th, and appends 10 new ids; the
    diff classifies every id as added/removed/changed/unchanged on
    16-byte md5 keys — payloads never shuffle."""
    from ..operators.snapshot import corpus_diff

    v1 = load_table(spark, sf_dir, "documents")
    v2 = (
        v1.where(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 7 == 0, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
        .unionByName(
            v1.where(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
            )
        )
    )
    return (
        corpus_diff(v1, v2)
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


ORACLE_CORPUS_SNAPSHOT_DIFF = """
WITH v1 AS (SELECT doc_id, text FROM documents),
v2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 13 <> 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id < 10
),
d AS (
  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
         CASE WHEN o.doc_id IS NULL THEN 'added'
              WHEN n.doc_id IS NULL THEN 'removed'
              WHEN md5(o.text) <> md5(n.text) THEN 'changed'
              ELSE 'unchanged' END AS status
  FROM v1 o FULL OUTER JOIN v2 n ON o.doc_id = n.doc_id
)
SELECT status, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY status
"""


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filter (FineWeb-Edu plumbing): a linear
    classifier over the Gopher signals scores every document, the score
    snaps to BIGINT micro-units, and documents >= 0.5 survive.
    Per-language report of kept counts and score mass; all aggregates
    integer-exact (operators/classifier.py)."""
    from ..operators.classifier import keep_by_quality, linear_quality_scores

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    scored = linear_quality_scores(docs)
    kept = keep_by_quality(scored, 0.5)
    return (
        scored.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("quality_micro").alias("quality_micro_sum"),
        )
        .join(
            kept.groupBy("lang").agg(F.count(F.lit(1)).alias("docs_kept")),
            "lang",
            "left",
        )
        .withColumn("docs_kept", F.coalesce(F.col("docs_kept"), F.lit(0)))
    )


ORACLE_QUALITY_CLASSIFIER = r"""
WITH scored AS (
  SELECT lang,
         len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN
           CAST(round(
             1.0 / (1.0 + exp(-(
               -2.0
               + 2.5 * (CAST(len(list_filter(toks,
                         t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
                        / len(toks))
               + -8.0 * (CAST(len(list_filter(toks, t -> contains(t, '#')
                         OR contains(t, '...') OR contains(t, '…')))
                         AS DOUBLE) / len(toks))
               + -2.0 * (CASE WHEN len(lines) > 0
                         THEN CAST(len(lines) - len(list_distinct(lines))
                              AS DOUBLE) / len(lines) ELSE 0.0 END)
               + -0.08 * (CAST(list_sum(list_transform(toks,
                          t -> length(t))) AS DOUBLE) / len(toks))
               + 0.4 * ln(1.0 + len(toks))
             ))) * 1000000, 0) AS BIGINT)
         ELSE 0 END AS quality_micro
  FROM (SELECT lang,
               list_filter(string_split_regex(trim(text), '\s+'),
                           x -> x <> '') AS toks,
               list_filter(string_split(text, chr(10)),
                           x -> trim(x) <> '') AS lines
        FROM documents)
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(quality_micro) AS BIGINT) AS quality_micro_sum,
       CAST(sum(CASE WHEN quality_micro >= 500000 THEN 1 ELSE 0 END)
            AS BIGINT) AS docs_kept
FROM scored GROUP BY lang
"""


def q_contamination_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-item contamination attribution: the same eval set as
    decontaminate_docs but keyed by item, reporting how many DISTINCT
    corpus docs each benchmark item leaks into (0 for the control
    prompts). The triage signal deciding between dropping corpus docs
    and dropping an eval item (operators/decontaminate.py)."""
    from ..functions.text import whitespace_tokens
    from ..operators.decontaminate import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    evals = (
        docs.where(F.col("doc_id") % 20 == 0)
        .select(
            F.col("doc_id").alias("eval_id"),
            F.concat_ws(
                " ", F.slice(whitespace_tokens(F.col("text")), 2, 8)
            ).alias("text"),
        )
        .unionByName(
            spark.createDataFrame(
                [(-1 - i, t) for i, t in enumerate(_DECONTAM_CLEAN_PROMPTS)],
                "eval_id LONG, text STRING",
            )
        )
    )
    return contamination_report(docs, evals, n=8)


_DECONTAM_PROMPTS_ID_SQL = "\n  UNION ALL\n".join(
    f"  SELECT {-1 - i} AS eval_id, '{t}' AS text"
    for i, t in enumerate(_DECONTAM_CLEAN_PROMPTS)
)

ORACLE_CONTAMINATION_ATTRIBUTION = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents
),
evals AS (
  SELECT doc_id AS eval_id, array_to_string(list_slice(w, 2, 9), ' ') AS text
  FROM tok WHERE doc_id % 20 = 0
  UNION ALL
{_DECONTAM_PROMPTS_ID_SQL}
),
eg AS (
  SELECT DISTINCT eval_id, unnest({_SHINGLE8.format(w='w')}) AS gram
  FROM (SELECT eval_id, list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x <> '') AS w FROM evals)
),
pairs AS (
  SELECT DISTINCT eg.eval_id, dg.doc_id
  FROM (SELECT doc_id, unnest({_SHINGLE8.format(w='w')}) AS gram FROM tok) dg
  JOIN eg USING (gram)
),
hits AS (SELECT eval_id, count(*) AS docs_hit FROM pairs GROUP BY eval_id)
SELECT e.eval_id, CAST(coalesce(h.docs_hit, 0) AS BIGINT) AS docs_hit
FROM (SELECT DISTINCT eval_id FROM evals) e LEFT JOIN hits h USING (eval_id)
"""


def q_curation_pipeline_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 flagship composition — the full curation chain a
    training-data team runs, as ONE DataFrame program:

      boilerplate removal (10-word segments shared across docs)
        -> linear quality classifier, keep score >= 0.5
        -> exact dedup on the CLEANED text (keep min id)
        -> benchmark decontamination (8-gram screen vs eval slices
           of the original corpus)
        -> per-language survivor report

    Every stage is the already-oracled operator (text_dedup.segment_
    boilerplate_removal, classifier.linear_quality_scores,
    text_dedup.exact_dedup, decontaminate.ngram_decontaminate); the
    oracle is the composed CTE chain of their SQL twins. Outputs are
    BIGINT counts/sums only."""
    from ..functions.text import whitespace_tokens
    from ..operators.classifier import keep_by_quality, linear_quality_scores
    from ..operators.decontaminate import ngram_decontaminate

    docs = load_table(spark, sf_dir, "documents")
    # materialize the layer boundaries (the v3 pattern, r12): without a
    # barrier every downstream stage that references its input twice —
    # exact_dedup's census+join, decontamination's screen+anti-join —
    # re-executes the FULL upstream chain per reference, multiplying the
    # segment-transform cost ~4x (measured 8.1s -> 4.5s at sf0.1). At
    # 100 TB these are the persisted clean-layer parquet artifacts
    # (sources/sinks.write_overwrite); persist() is the in-session
    # stand-in.
    cleaned = segment_boilerplate_removal(
        docs.select("doc_id", "text", "lang"), chunk_words=10, min_docs=2
    ).persist()
    kept = keep_by_quality(linear_quality_scores(cleaned), 0.5)
    deduped = exact_dedup(kept).persist()
    evals = docs.where(F.col("doc_id") % 20 == 0).select(
        F.concat_ws(" ", F.slice(whitespace_tokens(F.col("text")), 2, 8)).alias(
            "text"
        )
    )
    final = ngram_decontaminate(deduped, evals, n=8)
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
        F.sum("quality_micro").alias("quality_micro_sum"),
    )


ORACLE_CURATION_PIPELINE_V2 = f"""
WITH w AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\\s+'),
                     t -> t <> '') AS wl
  FROM documents
),
segs AS (
  SELECT doc_id, i AS pos,
         array_to_string(wl[((i-1)*10+1):(i*10)], ' ') AS seg
  FROM w, UNNEST(range(1, CAST(ceil(len(wl) / 10.0) AS BIGINT) + 1)) AS t(i)
),
boiler AS (
  SELECT lower(trim(seg)) AS k
  FROM segs GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
),
reb AS (
  SELECT doc_id, string_agg(seg, ' ' ORDER BY pos) AS clean
  FROM segs WHERE lower(trim(seg)) NOT IN (SELECT k FROM boiler)
  GROUP BY doc_id
),
cleaned AS (
  SELECT w.doc_id, w.lang, coalesce(r.clean, '') AS text
  FROM w LEFT JOIN reb r USING (doc_id)
),
ctox AS (
  SELECT doc_id, lang, text,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     x -> x <> '') AS toks,
         list_filter(string_split(text, chr(10)),
                     x -> trim(x) <> '') AS lines
  FROM cleaned
),
scored AS (
  SELECT doc_id, lang, text, len(toks) AS n_tokens,
         CASE WHEN len(toks) > 0 THEN
           CAST(round(
             1.0 / (1.0 + exp(-(
               -2.0
               + 2.5 * (CAST(len(list_filter(toks,
                         t -> regexp_matches(t, '[A-Za-z]'))) AS DOUBLE)
                        / len(toks))
               + -8.0 * (CAST(len(list_filter(toks, t -> contains(t, '#')
                         OR contains(t, '...') OR contains(t, '…')))
                         AS DOUBLE) / len(toks))
               + -2.0 * (CASE WHEN len(lines) > 0
                         THEN CAST(len(lines) - len(list_distinct(lines))
                              AS DOUBLE) / len(lines) ELSE 0.0 END)
               + -0.08 * (CAST(list_sum(list_transform(toks,
                          t -> length(t))) AS DOUBLE) / len(toks))
               + 0.4 * ln(1.0 + len(toks))
             ))) * 1000000, 0) AS BIGINT)
         ELSE 0 END AS quality_micro
  FROM ctox
),
kept AS (SELECT * FROM scored WHERE quality_micro >= 500000),
surv AS (
  SELECT k.* FROM kept k
  JOIN (SELECT min(doc_id) AS keep_id FROM kept
        GROUP BY lower(trim(text))) d
    ON k.doc_id = d.keep_id
),
evals AS (
  SELECT array_to_string(list_slice(wl, 2, 9), ' ') AS text
  FROM w WHERE doc_id % 20 = 0
),
eg AS (
  SELECT DISTINCT unnest({_SHINGLE8.format(w='ew')}) AS gram
  FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'),
               x -> x <> '') AS ew FROM evals)
),
badi AS (
  SELECT DISTINCT doc_id
  FROM (SELECT doc_id, unnest({_SHINGLE8.format(w='sw')}) AS gram
        FROM (SELECT doc_id,
                     list_filter(string_split_regex(trim(text), '\\s+'),
                                 x -> x <> '') AS sw FROM surv)) dg
  JOIN eg USING (gram)
),
final AS (SELECT * FROM surv WHERE doc_id NOT IN (SELECT doc_id FROM badi))
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       CAST(sum(quality_micro) AS BIGINT) AS quality_micro_sum
FROM final GROUP BY lang
"""


def q_incremental_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot ingest dedup: a synthetic 'new crawl batch' (fresh
    docs + re-crawled copies of corpus content + within-batch dups) is
    deduped against the existing corpus by content digest — corpus never
    shuffles (broadcast digest probe, see operators/text_dedup.py:
    incremental_dedup). Extends the reference's keep-one-per-natural-key
    contract (mongo_to_postgres_replication.py:35-39) to ingest deltas."""
    from ..operators.text_dedup import incremental_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    did = F.col("doc_id")
    nb = (
        docs.where(did % 5 == 0)
        .unionByName(
            docs.where(did % 7 == 1).withColumn("doc_id", did + 100000)
        )
        .unionByName(
            docs.where((did % 5 == 0) & (did % 3 == 0)).withColumn(
                "doc_id", did + 200000
            )
        )
    )
    corpus = docs.where(did % 5 != 0)
    return incremental_dedup(nb, corpus).select("doc_id", "lang", "source")


def q_vocab_growth_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary richness: distinct token types vs total
    tokens and the type-token ratio in integer micro-units — the
    lexical-diversity screen that separates template/boilerplate
    sources (low TTR) from organic text in corpus triage. One token
    explode + one (source, token) census with map-side partials; the
    per-source rollup rides the same shuffle key."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source",
        F.explode(
            whitespace_tokens(F.lower(F.col("text")))
        ).alias("tok"),
    )
    return (
        toks.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.count_distinct("tok").alias("distinct_tokens"),
        )
        .withColumn(
            "ttr_micro",
            # DECIMAL(38,0) product (finding-39 discipline): a
            # high-entropy source (random IDs) can push
            # distinct_tokens toward total_tokens ~1e13 at 100 TB,
            # and x1e6 wraps BIGINT; the ratio itself always fits.
            F.expr(
                "CAST(CAST(distinct_tokens AS DECIMAL(38,0)) * 1000000"
                " DIV total_tokens AS BIGINT)"
            ),
        )
    )


ORACLE_VOCAB_GROWTH_STATS = r"""
WITH toks AS (
  SELECT source,
         unnest(list_filter(
           regexp_split_to_array(trim(lower(text)), '\s+'), t -> t <> ''))
         AS tok
  FROM documents
)
SELECT source,
       CAST(count(*) AS BIGINT) AS total_tokens,
       CAST(count(DISTINCT tok) AS BIGINT) AS distinct_tokens,
       CAST(count(DISTINCT tok) * 1000000 // count(*) AS BIGINT) AS ttr_micro
FROM toks GROUP BY source
"""


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: every document fans out into overlapping
    64-token windows at stride 48 (operators/normalize.py:
    chunk_documents — pure per-row array math below one Generate, zero
    shuffles). Chunk text value-checked via md5 digest."""
    from ..operators.normalize import chunk_documents

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    out = chunk_documents(docs, chunk_tokens=64, stride=48)
    return out.select(
        "doc_id",
        "chunk_id",
        "n_chunk_tokens",
        F.md5("chunk_text").alias("chunk_digest"),
    )


ORACLE_CHUNK_DOCUMENTS = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     t -> t <> '') AS w
  FROM documents
),
starts AS (
  SELECT doc_id, w, unnest(range(1, len(w) + 1, 48)) AS s
  FROM tok WHERE len(w) > 0
)
SELECT doc_id,
       CAST((s - 1) // 48 AS INT) AS chunk_id,
       CAST(least(64, len(w) - s + 1) AS BIGINT) AS n_chunk_tokens,
       md5(coalesce(array_to_string(w[s:s+63], ' '), '')) AS chunk_digest
FROM starts
"""


def q_exact_substring_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style exact-substring removal: a boilerplate sentence
    injected into every 4th document is excised token-precisely from
    ALL of them (plus any organically repeated 5-gram passages), and
    documents reassemble from surviving tokens
    (operators/text_dedup.py: remove_duplicate_spans). The digest of
    the rewritten text value-checks the rebuild byte-for-byte."""
    from ..operators.text_dedup import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    boiler = " common boilerplate passage appears in many documents verbatim"
    seeded = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(boiler))
        ).otherwise(F.col("text")),
    )
    out = remove_duplicate_spans(seeded, span_tokens=5, min_docs=2)
    return out.select(
        "doc_id", "n_tokens_removed", F.md5("text").alias("clean_digest")
    )


ORACLE_EXACT_SUBSTRING_REMOVAL = r"""
WITH docs2 AS (
  SELECT doc_id,
         CASE WHEN doc_id % 4 = 0
              THEN text ||
                ' common boilerplate passage appears in many documents verbatim'
              ELSE text END AS text
  FROM documents
),
tok AS (
  SELECT doc_id,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     t -> t <> '') AS w
  FROM docs2
),
spans AS (
  SELECT doc_id, s['spos'] AS spos, s['sp'] AS sp
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 3),
                  i -> {'spos': i, 'sp': array_to_string(w[i:i+4], ' ')})) AS s
    FROM tok WHERE len(w) >= 5
  )
),
dup AS (
  SELECT sp FROM spans GROUP BY sp HAVING count(DISTINCT doc_id) >= 2
),
starts AS (
  SELECT doc_id, list(spos) AS st
  FROM spans WHERE sp IN (SELECT sp FROM dup)
  GROUP BY doc_id
),
rebuilt AS (
  SELECT t.doc_id, t.w,
         list_distinct(flatten(list_transform(coalesce(s.st, []),
                       x -> range(x, x + 5)))) AS cov
  FROM tok t LEFT JOIN starts s USING (doc_id)
),
final AS (
  SELECT doc_id, w,
         list_filter(range(1, len(w) + 1),
                     p -> NOT list_contains(cov, p)) AS keptpos
  FROM rebuilt
)
SELECT doc_id,
       CAST(len(w) - len(keptpos) AS BIGINT) AS n_tokens_removed,
       md5(coalesce(array_to_string(list_transform(keptpos, p -> w[p]), ' '),
                    ''))
         AS clean_digest
FROM final
"""


def q_curation_pipeline_v3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-2 substring-and-quality flagship composition — the
    passage-level cleaning and LM-quality routing chain, ONE program:

      exact-substring removal (5-token spans; boilerplate seeded into
        every 4th doc so the stage does real work)
        -> self-corpus unigram-LM scoring of the REWRITTEN text
        -> CCNet perplexity buckets per language, drop the tail third
        -> context-window chunking (64 tokens, stride 48)
        -> per-language report: docs kept, chunks, chunk tokens

    Every stage is an already-oracled operator; the oracle is the
    composed CTE chain of their SQL twins. Outputs are BIGINT only."""
    from ..operators.lm_score import perplexity_buckets, unigram_logprob_scores
    from ..operators.text_dedup import remove_duplicate_spans

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    boiler = " common boilerplate passage appears in many documents verbatim"
    seeded = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 4 == 0, F.concat(F.col("text"), F.lit(boiler))
        ).otherwise(F.col("text")),
    )
    # materialize the cleaned layer: scoring (census + token join +
    # doc join) and bucketing (bounds + data) each re-reference it, and
    # without a barrier the whole substring-removal pipeline re-executes
    # per reference (34s -> ~8s at sf0.1). The medallion answer at
    # 100 TB is writing the clean layer to storage
    # (sources/sinks.write_overwrite); persist() is its in-session
    # equivalent.
    cleaned = remove_duplicate_spans(seeded, span_tokens=5, min_docs=2).persist()
    scored = unigram_logprob_scores(cleaned)
    bucketed = perplexity_buckets(scored, ["lang"])
    kept = bucketed.where(
        (F.col("n_tokens") > 0) & (F.col("ppl_bucket") != "tail")
    )
    # Chunk statistics computed ARITHMETICALLY from the scoring pass's
    # n_tokens (r13, guide §1.2 "don't compute things you throw away"):
    # the report only needs per-doc chunk COUNT and token SUM, both
    # closed forms of the token count — windows start at 1, 1+48,
    # 1+96, ... while <= n, each holding least(64, n - start + 1)
    # tokens. This is literally the oracle's own formulation
    # (list_transform(range(1, n+1, 48), x -> least(64, n-x+1))); the
    # previous chunk_documents call re-tokenized every kept document
    # and materialized chunk TEXT only to count it. Lowercasing never
    # changes whitespace token COUNTS, so the scoring tokenization's n
    # equals the chunker's (pinned by
    # tests/test_r13_optimizations.py::test_v3_chunk_arithmetic).
    # `kept` now has a single consumer, so its persist() barrier is
    # gone too.
    starts = F.sequence(F.lit(1), F.col("n_tokens"), F.lit(48))
    return (
        kept.select(
            "lang",
            F.size(starts).alias("__nc"),
            F.aggregate(
                F.transform(
                    starts,
                    lambda x: F.least(
                        F.lit(64), F.col("n_tokens") - x + 1
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("__ct"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__nc").alias("n_chunks"),
            F.sum("__ct").alias("chunk_tokens"),
        )
    )


ORACLE_CURATION_PIPELINE_V3 = r"""
WITH docs2 AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 4 = 0
              THEN text ||
                ' common boilerplate passage appears in many documents verbatim'
              ELSE text END AS text
  FROM documents
),
tok AS (
  SELECT doc_id, lang,
         list_filter(regexp_split_to_array(trim(text), '\s+'),
                     t -> t <> '') AS w
  FROM docs2
),
spans AS (
  SELECT doc_id, s['spos'] AS spos, s['sp'] AS sp
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(w) - 3),
                  i -> {'spos': i, 'sp': array_to_string(w[i:i+4], ' ')})) AS s
    FROM tok WHERE len(w) >= 5
  )
),
dup AS (
  SELECT sp FROM spans GROUP BY sp HAVING count(DISTINCT doc_id) >= 2
),
starts AS (
  SELECT doc_id, list(spos) AS st
  FROM spans WHERE sp IN (SELECT sp FROM dup)
  GROUP BY doc_id
),
cleaned AS (
  SELECT t.doc_id, t.lang,
         list_transform(
           list_filter(range(1, len(t.w) + 1),
             p -> NOT list_contains(
               list_distinct(flatten(list_transform(coalesce(s.st, []),
                             x -> range(x, x + 5)))), p)),
           p -> t.w[p]) AS kt
  FROM tok t LEFT JOIN starts s USING (doc_id)
),
toks2 AS (
  SELECT doc_id, lower(unnest(kt)) AS tok FROM cleaned
),
counts AS (SELECT tok, count(*) AS c FROM toks2 GROUP BY tok),
tot AS (SELECT sum(c) AS total, count(*) AS vocab FROM counts),
lp AS (
  SELECT tok,
         CAST(round(ln((c + 1.0) / (total + vocab)) * 1000000, 0) AS BIGINT)
         AS lp_micro
  FROM counts, tot
),
per_doc AS (
  SELECT t.doc_id, count(*) AS n, sum(p.lp_micro) AS s
  FROM toks2 t JOIN lp p USING (tok) GROUP BY t.doc_id
),
scored AS (
  SELECT c.lang, c.doc_id, pd.n, pd.s / (1000000.0 * pd.n) AS avg
  FROM cleaned c JOIN per_doc pd USING (doc_id)
),
bounds AS (
  SELECT lang, quantile_cont(avg, 1.0/3.0) AS t_lo
  FROM scored GROUP BY lang
),
kept AS (
  SELECT s.lang, s.doc_id, s.n
  FROM scored s JOIN bounds b USING (lang)
  WHERE s.avg >= b.t_lo
),
chunked AS (
  SELECT lang, doc_id,
         list_transform(range(1, n + 1, 48),
                        x -> least(64, n - x + 1)) AS ch
  FROM kept
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(len(ch)) AS BIGINT) AS n_chunks,
       CAST(sum(list_sum(ch)) AS BIGINT) AS chunk_tokens
FROM chunked GROUP BY lang
"""


_FRESH_WORDS = [
    "fresh", "alpha", "beta", "gamma", "delta",
    "eps", "zeta", "eta", "theta", "iota",
]


def q_incremental_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot NEAR-dup ingest dedup: a new crawl batch holds
    re-crawled corpus pages differing only by trailing chrome, genuinely
    fresh pages, and within-batch near-dups of the fresh pages. The
    batch is deduped against the corpus by MinHash+LSH with exact-
    Jaccard verification — corpus text never shuffles (broadcast banded-
    key probe, operators/text_dedup.py: incremental_minhash_dedup).

    Oracle-able because LSH+verify recovers exactly the exact-Jaccard
    pair set on this fixture (the near_dedup_minhash recall argument);
    the DuckDB twin brute-forces batch x corpus Jaccard and replays the
    within-batch transitive closure. The twin is QUADRATIC by design
    (NOT EXISTS over all batch x corpus pairs) — tractable at the
    driver's sf0.01 gate, not at sf0.1+; the Spark side stays
    sub-quadratic via the banded-key probe at every scale."""
    from ..operators.text_dedup import incremental_minhash_dedup

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang"
    )
    did = F.col("doc_id")
    fresh_text = F.concat_ws(
        " ", *[F.concat(F.lit(w), did.cast("string")) for w in _FRESH_WORDS]
    )
    recrawl = docs.where(did % 5 == 0).select(
        (did + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" nearduplicate tail")).alias("text"),
        "lang",
    )
    fresh = docs.where(did % 7 == 1).select(
        (did + 300000).alias("doc_id"), fresh_text.alias("text"), "lang"
    )
    batchdup = docs.where((did % 7 == 1) & (did % 2 == 1)).select(
        (did + 400000).alias("doc_id"),
        F.concat(fresh_text, F.lit(" tail2")).alias("text"),
        "lang",
    )
    batch = recrawl.unionByName(fresh).unionByName(batchdup)
    kept = incremental_minhash_dedup(batch, docs, threshold=0.6)
    return kept.select("doc_id", "lang")


_ORACLE_FRESH_TEXT = " || ' ' || ".join(
    f"'{w}' || doc_id" for w in _FRESH_WORDS
)

ORACLE_INCREMENTAL_MINHASH_DEDUP = f"""
WITH RECURSIVE batch AS (
  SELECT doc_id + 100000 AS doc_id, text || ' nearduplicate tail' AS text,
         lang
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 300000, {_ORACLE_FRESH_TEXT}, lang
  FROM documents WHERE doc_id % 7 = 1
  UNION ALL
  SELECT doc_id + 400000, {_ORACLE_FRESH_TEXT} || ' tail2', lang
  FROM documents WHERE doc_id % 7 = 1 AND doc_id % 2 = 1
),
bsh AS (
  SELECT doc_id AS id, lang,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS w
        FROM batch)
),
csh AS (
  SELECT doc_id AS id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS w
        FROM documents)
),
survivors0 AS (
  SELECT b.id, b.lang, b.s FROM bsh b
  WHERE NOT EXISTS (
    SELECT 1 FROM csh c
    WHERE round(CAST(len(list_intersect(b.s, c.s)) AS DOUBLE)
                / len(list_distinct(b.s || c.s)), 4) >= 0.6
  )
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM survivors0 a JOIN survivors0 b ON a.id < b.id
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
losers AS (SELECT DISTINCT a AS id FROM reach WHERE b < a)
SELECT id AS doc_id, lang
FROM survivors0
WHERE id NOT IN (SELECT id FROM losers)
"""


ORACLE_INCREMENTAL_CORPUS_DEDUP = """
WITH nb AS (
  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 100000, text, lang, source FROM documents
  WHERE doc_id % 7 = 1
  UNION ALL
  SELECT doc_id + 200000, text, lang, source FROM documents
  WHERE doc_id % 5 = 0 AND doc_id % 3 = 0
),
corp AS (
  SELECT md5(lower(trim(text))) AS d FROM documents WHERE doc_id % 5 <> 0
)
SELECT doc_id, lang, source
FROM nb
WHERE md5(lower(trim(text))) NOT IN (SELECT d FROM corp)
QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                           ORDER BY doc_id) = 1
"""


# 5-token sliding spans of a tokenized text `w` (word_shingles n=5:
# whole-text fallback under 5 tokens, distinct spans otherwise)
_SHINGLE5 = (
    "CASE WHEN len({w}) >= 5 THEN list_distinct(list_transform("
    "range(1, len({w}) - 3), i -> array_to_string(list_slice({w}, i, i + 4), ' ')))"
    " ELSE [array_to_string({w}, ' ')] END"
)


def q_duplicate_span_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplication screen: per document, how many of its
    distinct sliding 5-token spans appear in >=2 documents, and the
    duplicated fraction in integer micro-units (operators/text_dedup.py:
    duplicate_span_stats — 16-byte span keys, one census shuffle +
    one keyed join back). The routing signal for substring-level dedup."""
    from ..operators.text_dedup import duplicate_span_stats

    docs = load_table(spark, sf_dir, "documents")
    return duplicate_span_stats(
        docs.select("doc_id", "text"), span_tokens=5, min_docs=2
    )


ORACLE_DUPLICATE_SPAN_SCREEN = f"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '') AS w
  FROM documents
),
sp AS (
  SELECT doc_id, unnest({_SHINGLE5.format(w='w')}) AS s FROM tok
),
dup AS (
  SELECT s FROM sp GROUP BY s HAVING count(*) >= 2
)
SELECT sp.doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN dup.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_dup_spans,
       CAST(CAST(sum(CASE WHEN dup.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            * 1000000 // count(*) AS BIGINT) AS dup_ratio_micro
FROM sp LEFT JOIN dup ON sp.s = dup.s
GROUP BY sp.doc_id
"""


# ---------------------------------------------------------------------------
# PMI collocation mining (phrase extraction).
# ---------------------------------------------------------------------------


def q_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top adjacent-word collocations by pointwise mutual information
    (operators/collocations.pmi_collocations): pairs that co-occur far
    beyond their unigram frequencies — the phrase-mining pass that
    finds the multiword units a tokenizer should keep together. All
    counts are exact map-side-combined censuses; the PMI ratio is one
    fixed multiplication order through a single ln(), snapped to
    integer micro-nats before ordering — so the top-100 cut is a
    BIGINT comparison in both engines."""
    from ..operators.collocations import pmi_collocations

    docs = load_table(spark, sf_dir, "documents")
    return (
        pmi_collocations(docs, min_count=5)
        .orderBy(F.desc("pmi_micro"), "w1", "w2")
        .limit(100)
    )


ORACLE_PMI_COLLOCATIONS = """
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\\s+'),
                     x -> x <> '') AS ts
  FROM documents
),
uni AS (SELECT unnest(ts) AS w FROM toks),
ucen AS (SELECT w, count(*) AS c_uni FROM uni GROUP BY w),
bi AS (
  SELECT unnest(ts[1:len(ts)-1]) AS w1, unnest(ts[2:len(ts)]) AS w2
  FROM toks WHERE len(ts) >= 2
),
bcen AS (
  SELECT w1, w2, count(*) AS pair_count FROM bi
  GROUP BY w1, w2 HAVING count(*) >= 5
),
tot AS (
  SELECT (SELECT sum(c_uni) FROM ucen) AS n_tokens,
         (SELECT count(*) FROM bi) AS n_bigrams
),
scored AS (
  SELECT b.w1, b.w2, b.pair_count,
         CAST(round(ln(
           (CAST(b.pair_count AS DOUBLE) * CAST(t.n_tokens AS DOUBLE)
              * CAST(t.n_tokens AS DOUBLE))
           / (CAST(t.n_bigrams AS DOUBLE) * CAST(ua.c_uni AS DOUBLE)
              * CAST(ub.c_uni AS DOUBLE))
         ) * 1000000) AS BIGINT) AS pmi_micro
  FROM bcen b
  JOIN ucen ua ON ua.w = b.w1
  JOIN ucen ub ON ub.w = b.w2
  CROSS JOIN tot t
)
SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count, pmi_micro,
       CAST(pmi_micro AS DOUBLE) / 1000000 AS pmi
FROM scored
ORDER BY pmi_micro DESC, w1, w2
LIMIT 100
"""


# ---------------------------------------------------------------------------
# Two-judge screen agreement (Cohen's kappa).
# ---------------------------------------------------------------------------


def q_screen_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two document quality screens
    (operators/agreement.cohens_kappa): judge A is the structural
    length gate (30 <= tokens <= 90), judge B the stopword-fluency
    gate (en-stopword share >= 5%, compared as the integer cross
    product nsw*100 >= 5*ntok — no float ratio). The chance-corrected
    agreement a pipeline checks before swapping screens. Whole
    statistic reduces to four exact confusion counts; kappa is one
    BIGINT-ratio division rounded half-even to 6dp."""
    from ..operators.agreement import cohens_kappa

    docs = load_table(spark, sf_dir, "documents")
    ntok = token_count(F.col("text"))
    nsw = stopword_count(F.col("text"), STOPWORDS["en"])
    judge_a = (ntok >= 30) & (ntok <= 90)
    judge_b = nsw * 100 >= 5 * ntok
    return cohens_kappa(docs, judge_a, judge_b)


ORACLE_SCREEN_AGREEMENT_KAPPA = """
WITH t AS (
  SELECT len(list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '')) AS ntok,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> lower(x) IN ('the','a','of','and','in','to','is')))
           AS nsw
  FROM documents
  WHERE text IS NOT NULL
),
c AS (
  SELECT
    sum(CASE WHEN ntok BETWEEN 30 AND 90 AND nsw*100 >= 5*ntok
             THEN 1 ELSE 0 END) AS n11,
    sum(CASE WHEN ntok BETWEEN 30 AND 90 AND nsw*100 < 5*ntok
             THEN 1 ELSE 0 END) AS n10,
    sum(CASE WHEN ntok NOT BETWEEN 30 AND 90 AND nsw*100 >= 5*ntok
             THEN 1 ELSE 0 END) AS n01,
    sum(CASE WHEN ntok NOT BETWEEN 30 AND 90 AND nsw*100 < 5*ntok
             THEN 1 ELSE 0 END) AS n00,
    (SELECT count(*) FROM documents WHERE text IS NULL) AS n_unjudged
  FROM t
)
SELECT CAST(n11+n10+n01+n00 AS BIGINT) AS n_items,
       CAST(n11 AS BIGINT) AS n_both_pass,
       CAST(n10 AS BIGINT) AS n_only_a,
       CAST(n01 AS BIGINT) AS n_only_b,
       CAST(n00 AS BIGINT) AS n_neither,
       round(CAST(n11+n00 AS DOUBLE) / CAST(n11+n10+n01+n00 AS DOUBLE), 6)
         AS p_o,
       round(CAST((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00) AS DOUBLE)
             / CAST((n11+n10+n01+n00)*(n11+n10+n01+n00) AS DOUBLE), 6)
         AS p_e,
       CASE WHEN (n11+n10+n01+n00)*(n11+n10+n01+n00)
                 - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) <> 0
            THEN round(
              CAST((n11+n10+n01+n00)*(n11+n00)
                   - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE)
              / CAST((n11+n10+n01+n00)*(n11+n10+n01+n00)
                   - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE),
              6)
       END AS kappa,
       CAST(n_unjudged AS BIGINT) AS n_unjudged
FROM c
"""
