"""Shared catalog helpers: the events clean-layer base, dup-injected
corpus builder, cross-engine hash/k-means oracle scaffolding, and
the process-memoized offline quantizer fit.
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

# ---------------------------------------------------------------------------
# Shared offline-fit quantizer artifact.
#
# Production fits the coarse k-means quantizer ONCE over a corpus and
# reuses the centroids across every downstream consumer — IVF search
# batches, the D4 cluster-balanced draw, snapshot after snapshot of a
# growing corpus. Refitting per operator invocation would add ``iters``
# full corpus scans to each, which at 100 TB dwarfs the operator itself.
# This process-level memo is that offline artifact's stand-in: keyed on
# the data location + fit parameters, deterministic (exact-integer
# Lloyd), so every consumer sees the identical centroids the oracle SQL
# re-derives. The first consumer in a session pays the fit.
# ---------------------------------------------------------------------------

_QUANTIZER_CACHE: dict[tuple, list[list[int]]] = {}


# The fit sample bound shared by every embeddings-quantizer consumer
# and its DuckDB twin (_kmeans_label_ctes sample_cap): the coarse
# quantizer trains on the first QUANTIZER_SAMPLE_CAP vectors by
# (md5-hash32(id), id) — the FAISS-style sample-fit that bounds the
# fit's collect at any corpus size. Both gate SFs have <= 2k vectors,
# so the sample covers the corpus and centroids are bit-identical to
# the full distributed fit (asserted in tests).
QUANTIZER_SAMPLE_CAP = 4096


def embeddings_centroids(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 8,
    iters: int = 3,
    scale: int = 6,
) -> list[list[int]]:
    """Memoized exact_kmeans_centroids fit over ``sf_dir``'s embeddings
    table (see module comment above for why sharing the fit is the
    production shape, not a benchmark shortcut)."""
    from ..operators.similarity import exact_kmeans_centroids

    key = (sf_dir.rstrip("/"), n_cells, iters, scale)
    if key not in _QUANTIZER_CACHE:
        emb = load_table(spark, sf_dir, "embeddings")
        _QUANTIZER_CACHE[key] = exact_kmeans_centroids(
            emb, n_cells, iters, scale=scale, sample_cap=QUANTIZER_SAMPLE_CAP
        )
    return _QUANTIZER_CACHE[key]




_EVENT_KINDS = ("view", "click", "purchase")


def _events_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared parse+filter base (SURVEY Q1 front half: P2, P3, F3, F6)."""
    ev = load_table(spark, sf_dir, "events")
    kind = F.lower(F.trim(F.col("event_type")))
    return (
        ev.where(kind.isin(*_EVENT_KINDS) & F.col("value").isNotNull())
        .select(
            "event_id",
            "user_id",
            F.col("ts").cast("date").alias("day"),
            "value",
            kind.alias("event_type"),
        )
    )


_ORACLE_EVENTS_BASE = """
    SELECT event_id, user_id, CAST(ts AS DATE) AS day, value,
           lower(trim(event_type)) AS event_type
    FROM events
    WHERE lower(trim(event_type)) IN ('view', 'click', 'purchase')
      AND value IS NOT NULL
"""


_ORACLE_DAILY_SELECT = (
    f"SELECT day, {oracle_avg_value('value')} AS avg_value, "
    "count(*) AS n_readings FROM clean GROUP BY day"
)


# --- near-duplicate detection (rows-only driver check; invariants in tests) --


def _docs_with_near_dups(spark: SparkSession, sf_dir: str, n_dups: int = 20) -> DataFrame:
    """Corpus + deterministic injected near-duplicates (first n docs with
    a token appended, ids offset by 1,000,000) — mirrors the reference's
    deliberately seeded duplicates testbed (seed_mongo.py:130-133)."""
    docs = load_table(spark, sf_dir, "documents")
    dups = docs.where(F.col("doc_id") < n_dups).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" nearduplicate tail")).alias("text"),
        "lang",
        "source",
        (F.col("n_chars") + 19).alias("n_chars"),
    )
    return docs.unionByName(dups)


# DuckDB twin of operators/sampling.hash_bucket: integer value of the
# first 8 md5 hex chars (most-significant first), as a SQL expression.
def _oracle_hash32(expr: str) -> str:
    return (
        "list_sum(list_transform(range(0,8), i -> "
        f"(strpos('0123456789abcdef', substr(md5({expr}), CAST(i+1 AS INT), 1)) - 1)"
        " * (1::BIGINT << CAST(4*(7-i) AS INT))))"
    )


# Eval prompts that match nothing in the corpus (negative controls for
# the decontamination screen); same literals feed Spark and the oracle.
_DECONTAM_CLEAN_PROMPTS = [
    "zulu xray quebec victor whiskey tango sierra romeo",
    "holdout benchmark question alpha bravo charlie delta echo",
]


def _kmeans_label_ctes(
    source: str = "embeddings",
    n_cells: int = 8,
    iters: int = 3,
    dims: int = 64,
    scale: int = 6,
    sample_cap: int | None = None,
) -> list[str]:
    """Shared DuckDB CTE scaffolding for the deterministic integer
    Lloyd fit (exact_kmeans_centroids twin): micro-unit quantization,
    hash-ranked init, ``iters`` unrolled assign/update rounds, and a
    final ``labeled(vec_id, cell_id)`` assignment over ``source``.
    Every arithmetic step is BIGINT (signed half-up division split on
    sign so engine floor-vs-truncate semantics never matter). Used by
    both the IVF-search oracle and the SemDeDup oracle.

    ``sample_cap`` mirrors exact_kmeans_centroids' sample-fit: the
    init and the assign/update rounds draw from the first
    ``sample_cap`` vectors by (hash, id) — ``fitset`` — while the
    final ``labeled`` assignment still covers all of ``source``."""
    h = _oracle_hash32("CAST(vec_id AS VARCHAR)")
    m = 10**scale
    dist = (
        "list_sum(list_transform(range(1, {d}), "
        "i -> (q.v[i] - s.c[i]) * (q.v[i] - s.c[i])))"
    ).format(d=dims + 1)
    halfup = (
        "CAST(CASE WHEN s >= 0 THEN (2*s + n) // (2*n) "
        "ELSE -((-2*s + n) // (2*n)) END AS BIGINT)"
    )
    fit_filter = (
        f"QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {sample_cap}"
        if sample_cap is not None
        else ""
    )
    ctes = [
        f"""qv AS (
  SELECT vec_id,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {m}) AS BIGINT)) AS v
  FROM {source}
)""",
        f"""fitset AS (
  SELECT vec_id, v FROM qv
  {fit_filter}
)""",
        f"cells AS (SELECT CAST(range AS BIGINT) AS cell_id FROM range(0, {n_cells}))",
        f"""cents0 AS (
  SELECT CAST(row_number() OVER (ORDER BY {h}, vec_id) - 1 AS BIGINT) AS cell_id,
         v AS c
  FROM fitset
  QUALIFY row_number() OVER (ORDER BY {h}, vec_id) <= {n_cells}
)""",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"""assign{t} AS (
  SELECT vec_id, v, cell_id FROM (
    SELECT q.vec_id, q.v, s.cell_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, s.cell_id) AS rn
    FROM fitset q CROSS JOIN cents{t - 1} s
  ) WHERE rn = 1
)""",
        )
        ctes.append(
            f"""cents{t} AS (
  SELECT cells.cell_id, coalesce(newc.c, prev.c) AS c
  FROM cells
  LEFT JOIN (
    SELECT cell_id, list({halfup} ORDER BY i) AS c
    FROM (
      SELECT a.cell_id, t.i, CAST(sum(a.v[t.i]) AS BIGINT) AS s,
             CAST(count(*) AS BIGINT) AS n
      FROM assign{t} a, range(1, {dims + 1}) t(i)
      GROUP BY a.cell_id, t.i
    ) GROUP BY cell_id
  ) newc USING (cell_id)
  LEFT JOIN cents{t - 1} prev ON prev.cell_id = cells.cell_id
)""",
        )
    final = iters
    ctes.append(
        f"""labeled AS (
  SELECT vec_id, cell_id FROM (
    SELECT q.vec_id, s.cell_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY {dist}, s.cell_id) AS rn
    FROM qv q CROSS JOIN cents{final} s
  ) WHERE rn = 1
)""",
    )
    return ctes


# 8-token shingle set of a tokenized text `w` (matches word_shingles
# n=8: whole-text fallback under 8 tokens, distinct shingles otherwise)
_SHINGLE8 = (
    "CASE WHEN len({w}) >= 8 THEN list_distinct(list_transform("
    "range(1, len({w}) - 6), i -> array_to_string(list_slice({w}, i, i + 7), ' ')))"
    " ELSE [array_to_string({w}, ' ')] END"
)
