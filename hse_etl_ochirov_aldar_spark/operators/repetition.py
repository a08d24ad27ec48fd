"""Within-document n-gram repetition signals (the Gopher repetition
screens that need a census, completing functions/text.with_gopher_signals'
row-local ratios).

``top_ngram_coverage``: fraction of a document's word n-grams taken by
its single most frequent n-gram — high values flag template/keyword
spam ("fraction of tokens in most common n-gram", Gopher §A.1.1).

Scale shape (100 TB): relational, not row-local — a per-row array
census is O(len²) per document and explodes on long documents, while
explode + two keyed groupBys (census on (doc, gram), then per-doc
max+total with map-side partials) is linear and shuffles compact
(id, 8-byte-gram-hashable) rows. The winner per doc is picked with a
single min(struct(-count, gram)) aggregate — deterministic tie-break
on the gram string, no per-doc window needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import bind_once, whitespace_tokens


def word_ngrams(col, n: int = 2):
    """NON-distinct word n-grams (repetition census input — unlike
    word_shingles, multiplicity matters here). Documents shorter than
    ``n`` tokens yield no n-grams."""
    c = F.col(col) if isinstance(col, str) else col

    def body(toks):
        k = F.size(toks)
        return F.when(
            k >= n,
            F.transform(
                F.sequence(F.lit(1), k - F.lit(n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(whitespace_tokens(F.lower(c)), body)


def top_ngram_coverage(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
) -> DataFrame:
    """``df`` + repetition columns:

    - ``top_ngram``        most frequent word n-gram (tie: smallest)
    - ``top_ngram_count``  BIGINT occurrences of it
    - ``ngram_total``      BIGINT n-grams in the document
    - ``ngram_coverage``   DOUBLE top_ngram_count / ngram_total

    Docs with fewer than ``n`` tokens get (null, 0, 0, null). The
    coverage double is an exact IEEE quotient of two integers —
    engine-independent without rounding.
    """
    grams = df.select(
        F.col(id_col).alias("id"), F.explode(word_ngrams(text_col, n)).alias("g")
    )
    census = grams.groupBy("id", "g").agg(F.count(F.lit(1)).alias("c"))
    per_doc = census.groupBy("id").agg(
        F.min(F.struct((-F.col("c")).alias("neg"), F.col("g").alias("g"))).alias(
            "m"
        ),
        F.sum("c").alias("ngram_total"),
    )
    return (
        df.join(per_doc, df[id_col] == per_doc["id"], "left")
        .select(
            df["*"],
            F.col("m.g").alias("top_ngram"),
            F.coalesce(-F.col("m.neg"), F.lit(0)).alias("top_ngram_count"),
            F.coalesce(F.col("ngram_total"), F.lit(0)).alias("ngram_total"),
            F.when(
                F.col("ngram_total") > 0,
                (-F.col("m.neg")).cast("double") / F.col("ngram_total"),
            ).alias("ngram_coverage"),
        )
    )
