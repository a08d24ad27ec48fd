"""PMI collocation mining (phrase extraction for corpus curation).

The word2vec-phrases / NLTK-collocations staple: find adjacent word
pairs that co-occur far more often than their unigram frequencies
predict — multiword entities ("new york", "machine learning") that a
tokenizer or phrase-joiner should treat as units. Reference analogue:
the reference's text marts stop at per-word explode + count
(build_analytical_marts.py LATERAL UNNEST modes); PMI is the
corpus-statistics upgrade a training-data pipeline needs.

Cross-engine exactness: all counts are exact BIGINTs from map-side
combined censuses; the PMI ratio is assembled in ONE fixed
multiplication order on both engines and only then passed through a
single ln(), snapped to integer micro-nats (round(ln * 1e6), the
lm_score contract) — so ordering and thresholding happen on BIGINTs.

Scale shape (100 TB):
- tokenization is ONE Generate (posexplode) per document, bigrams come
  from a window ``lead`` over the position order — no interpreted
  array lambda whose free subexpression re-evaluates per element
  (PERF.md finding 22);
- both censuses (unigram, bigram) are groupBy aggregates with map-side
  partials, shuffle rows ~ vocabulary (Zipf-compressed), not tokens;
  they are persisted (vocabulary-sized, not row-scale) so the corpus
  is tokenized exactly twice — once plain, once windowed — no matter
  how many consumers the censuses feed;
- corpus totals ride in as broadcast 1-row aggregates off the CACHED
  censuses (no driver collect, no extra corpus pass);
- the two unigram-count joins are Zipf-skewed on stopwords — AQE
  skew-join splits them (the manual upgrade is a broadcast top-K +
  shuffle remainder, same note as lm_score).

Measured crossover (PERF finding 20's pattern): at sf0.1 the persist
fill costs ~0.6s more than just re-scanning the tiny parquet five
times — test scale is below the crossover. The cached-census shape is
kept because it is the one that survives 100 TB, where each avoided
pass is a full corpus tokenization; the cache itself stays
vocabulary-bounded at any corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import whitespace_tokens

MICRO = 1_000_000


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information for every adjacent lowercased word
    pair with ``pair_count >= min_count``.

    PMI = ln( (c_ab / N) / ((c_a / n) * (c_b / n)) ) with N = total
    bigrams, n = total tokens; returned as ``pmi_micro`` (BIGINT
    micro-nats — the orderable, engine-exact form) plus a DOUBLE
    ``pmi`` convenience. Output columns: ``w1, w2, pair_count,
    pmi_micro, pmi``. Output is census-bounded (distinct pairs above
    min_count), never row-scale.
    """
    from ._plan import spread_small_input

    # r12: (1) spread the scan BEFORE tokenizing — the tokenize explode
    # is the per-row CPU term and otherwise serializes on the small
    # scan's single partition (serialized-Generate fix family);
    # (2) derive bigrams ROW-LOCALLY from the token array (adjacent
    # slices zipped) instead of lead() over a corpus-wide window — the
    # window shuffled every (id, pos, token) row just to pair
    # neighbors that already sit adjacent in the per-row array. Same
    # pairs by construction; one full-corpus shuffle removed at any
    # scale.
    base = spread_small_input(df.select(text_col)).select(
        whitespace_tokens(F.lower(F.col(text_col))).alias("__ts")
    )
    toks = base.select(F.explode("__ts").alias("__tok"))
    n1 = F.greatest(F.size("__ts") - 1, F.lit(0))
    bigrams = base.select(
        F.explode(
            F.zip_with(
                F.slice("__ts", 1, n1),
                F.slice("__ts", 2, n1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("__bg")
    ).select("__bg.w1", "__bg.w2")

    # Both censuses are vocabulary-sized (Zipf-compressed), so persist
    # them: every downstream consumer — the two dimension joins AND the
    # corpus totals — reads the cached census instead of re-executing
    # the tokenize scan (Spark re-runs a subplan per DAG consumer; the
    # naive form scanned + re-tokenized the corpus FIVE times). Two
    # text-only parquet scans total, one of them windowed. Consumers
    # sweeping the catalog clearCache() between entries (the
    # important_part_value persist contract).
    uni = (
        toks.groupBy(F.col("__tok").alias("w"))
        .agg(F.count(F.lit(1)).alias("c_uni"))
        .persist()
    )
    bi_all = (
        bigrams.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("pair_count")).persist()
    )
    bi = bi_all.where(F.col("pair_count") >= min_count)
    totals = uni.agg(F.sum("c_uni").alias("n_tokens"))
    # total bigrams off the cached census — NOT a third corpus pass
    n_bigrams = bi_all.agg(F.sum("pair_count").alias("n_bigrams"))

    joined = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("c_uni").alias("c_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("c_uni").alias("c_b")), "w2")
        .crossJoin(F.broadcast(totals))
        .crossJoin(F.broadcast(n_bigrams))
    )
    # One fixed left-associative multiplication order, mirrored
    # verbatim in the SQL twin — then a single ln() and the micro snap.
    ratio = (
        F.col("pair_count").cast("double")
        * F.col("n_tokens").cast("double")
        * F.col("n_tokens").cast("double")
    ) / (
        F.col("n_bigrams").cast("double")
        * F.col("c_a").cast("double")
        * F.col("c_b").cast("double")
    )
    pmi_micro = F.round(F.log(ratio) * MICRO).cast("long")
    return joined.select(
        "w1",
        "w2",
        F.col("pair_count").cast("long").alias("pair_count"),
        pmi_micro.alias("pmi_micro"),
        (pmi_micro.cast("double") / MICRO).alias("pmi"),
    )
