"""Text analysis expression library (north-star ops, BASELINE.json).

Everything here is built from ``pyspark.sql.functions`` — JVM-side,
codegen-eligible, no Python UDFs. Operates on the ``documents`` table
(doc_id, text, lang, source, n_chars).

Design for 100 TB: all functions are per-row (embarrassingly parallel,
no shuffle); arrays stay bounded by document length; nothing collects
to the driver.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A small multilingual stopword profile per language, used by both the
# heuristic language detector and quality scoring. Deliberately tiny and
# public-knowledge (top function words).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "in", "to", "is"],
    "de": ["der", "die", "das", "und", "ist", "von", "ein"],
    "fr": ["le", "la", "les", "et", "est", "un", "une"],
    "es": ["el", "la", "los", "y", "es", "un", "una"],
    "zh": ["de", "le", "shi", "he", "zai", "you", "wo"],
}

# BPE-ish token boundary: word chars, numbers, or single punctuation —
# a public regex approximation of subword pre-tokenization.
BPE_TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def bind_once(value: Column, body) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Spark's higher-order functions are interpreted and get no common-
    subexpression elimination, so a free expression captured inside a
    per-element lambda (``slice(toks, i, n)`` over a position sequence)
    re-runs for EVERY element: tokenizing inside a shingle lambda is
    O(tokens^2) per document. Routing the value through a one-element
    ``transform`` binds it to a lambda variable, which the inner lambdas
    then read for free.
    """
    return F.element_at(F.transform(F.array(value), body), 1)


def whitespace_tokens(col: Column | str) -> Column:
    """Whitespace tokenization, empty tokens removed.

    Whitespace = ASCII ``\\s`` (Java regex; RE2-compatible, so the
    DuckDB oracles agree). Unicode space characters (U+2000 family)
    are NOT separators — differs from Python's ``str.split()``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda t: t != "")


def bpe_ish_tokens(col: Column | str) -> Column:
    """Subword-ish tokens via regexp_extract_all (letters / digits /
    single punctuation) — the usual pre-tokenizer approximation for
    token-count estimation without a real BPE vocab."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_TOKEN_REGEX), 0)


def token_count(col: Column | str) -> Column:
    return F.size(whitespace_tokens(col))


def bpe_token_count(col: Column | str) -> Column:
    return F.size(bpe_ish_tokens(col))


def stopword_count(col: Column | str, stopwords: list[str]) -> Column:
    """Number of tokens that are stopwords (with multiplicity)."""
    toks = whitespace_tokens(col)
    sw = F.array(*[F.lit(w) for w in stopwords])
    return F.size(F.filter(toks, lambda t: F.array_contains(sw, F.lower(t))))


def predicted_lang_from_tokens(lowered_tokens: Column) -> Column:
    """Argmax language over an ALREADY-LOWERED token array — the
    shared core of :func:`predicted_lang`, shaped as ONE fold over the
    tokens (each token tested against every profile) instead of one
    filter pass per profile. Interpreted lambdas get no common-
    subexpression elimination (PERF finding: CollapseProject re-inlines
    a column per reference), so the per-profile form re-TOKENIZED its
    input once per language — 5x the split/trim/filter work; here the
    token array appears exactly once in the expression tree. Semantics
    are bit-identical: integer hit counts, strictly-greater argmax =
    lexicographically-smallest tie-break, 'und' when nothing hits."""
    langs = sorted(STOPWORDS)
    profiles = [
        F.array(*[F.lit(w) for w in STOPWORDS[lang]]) for lang in langs
    ]
    scores = F.aggregate(
        lowered_tokens,
        F.array(*[F.lit(0) for _ in langs]),
        lambda acc, t: F.zip_with(
            acc,
            F.array(
                *[F.array_contains(p, t).cast("int") for p in profiles]
            ),
            lambda a, h: a + h,
        ),
    )
    pairs = F.zip_with(
        scores,
        F.array(*[F.lit(lang) for lang in langs]),
        lambda s, lang: F.struct(s.alias("score"), lang.alias("lang")),
    )
    best = F.aggregate(
        pairs,
        F.struct(F.lit(-1).alias("score"), F.lit("und").alias("lang")),
        lambda acc, x: F.when(x["score"] > acc["score"], x).otherwise(acc),
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def predicted_lang(col: Column | str) -> Column:
    """Argmax language by stopword-profile score; deterministic
    tie-break = lexicographically smallest language code. Falls back to
    'und' when no profile matches at all."""
    return predicted_lang_from_tokens(
        F.transform(whitespace_tokens(col), lambda t: F.lower(t))
    )


# ---------------------------------------------------------------------------
# Gopher-style quality signals (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", §A1.1 public filter
# heuristics). All pure column expressions — per-row, no shuffle, no UDF.
# Ratios are single divisions of exact integer counts, so Spark and a SQL
# oracle agree bit-for-bit.
# ---------------------------------------------------------------------------


def _lines(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, "\n"), lambda x: F.trim(x) != "")


def _gopher_counters(col: Column | str) -> Column:
    """RAW Gopher counters as one struct: ``ts`` (token fold: n, chars,
    sym, alpha), ``ls`` (line fold: n, bullet, ell), ``dist`` (distinct
    line count). Two interpreted folds + one array_distinct — the
    ENTIRE per-row cost of the signal family lives here, so this is
    the thing to materialize once (with_gopher_signals); the ratio
    fields derived from it are trivial arithmetic."""
    toks = whitespace_tokens(col)
    zl = F.lit(0).cast("long")
    ts = F.aggregate(
        toks,
        F.struct(
            zl.alias("n"), zl.alias("chars"), zl.alias("sym"), zl.alias("alpha")
        ),
        lambda a, t: F.struct(
            (a["n"] + 1).alias("n"),
            (a["chars"] + F.length(t)).alias("chars"),
            (
                a["sym"]
                + F.when(
                    t.contains("#") | t.contains("...") | t.contains("…"), 1
                ).otherwise(0)
            ).alias("sym"),
            (a["alpha"] + F.when(t.rlike("[A-Za-z]"), 1).otherwise(0)).alias(
                "alpha"
            ),
        ),
    )
    lines = _lines(col)
    ls = F.aggregate(
        lines,
        F.struct(zl.alias("n"), zl.alias("bullet"), zl.alias("ell")),
        lambda a, x: F.struct(
            (a["n"] + 1).alias("n"),
            (a["bullet"] + F.when(F.trim(x).rlike(r"^[-*•]"), 1).otherwise(0)).alias(
                "bullet"
            ),
            (
                a["ell"]
                + F.when(F.trim(x).rlike(r"(\.\.\.|…)$"), 1).otherwise(0)
            ).alias("ell"),
        ),
    )
    return F.struct(
        ts.alias("ts"),
        ls.alias("ls"),
        F.size(F.array_distinct(lines)).alias("dist"),
    )


def _gopher_ratios(cnt: Column) -> Column:
    """Ratio struct (mwl, symr, alphar, bulletr, ellipsisr, dupliner)
    over a counters struct — cheap row-local arithmetic; integer counts
    and plain divisions, so the DuckDB oracles recompute it exactly."""
    ts, ls = cnt["ts"], cnt["ls"]
    n, ln = ts["n"], ls["n"]
    return F.struct(
        F.when(n > 0, ts["chars"] / n).alias("mwl"),
        F.when(n > 0, ts["sym"] / n).otherwise(F.lit(0.0)).alias("symr"),
        F.when(n > 0, ts["alpha"] / n).otherwise(F.lit(0.0)).alias("alphar"),
        F.when(ln > 0, ls["bullet"] / ln).otherwise(F.lit(0.0)).alias("bulletr"),
        F.when(ln > 0, ls["ell"] / ln).otherwise(F.lit(0.0)).alias("ellipsisr"),
        F.when(
            ln > 0, (ln - cnt["dist"]) / ln
        ).otherwise(F.lit(0.0)).alias("dupliner"),
    )


# ---------------------------------------------------------------------------
# PII redaction: conservative public regexes, identical semantics under
# Java regex (Spark) and RE2 (DuckDB oracle) — no lookaround, no \b cases
# that differ. regexp_replace is JVM-side and codegen-eligible.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, str] = {
    # token name -> pattern
    "EMAIL": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "PHONE": r"\+[0-9]{1,2} [0-9]{3}-[0-9]{4}",
    "IP": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
}


def pii_count(col: Column | str, kind: str) -> Column:
    """Occurrences of one PII pattern in the text."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(PII_PATTERNS[kind]), 0))


def redact_pii(col: Column | str) -> Column:
    """Replace every PII match with its ``<KIND>`` token. Order matters:
    emails first (an email must not be half-eaten by the IP rule once
    digits.digits sequences inside it are rewritten)."""
    c = F.col(col) if isinstance(col, str) else col
    for kind in ("EMAIL", "PHONE", "IP"):
        c = F.regexp_replace(c, PII_PATTERNS[kind], f"<{kind}>")
    return c


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Distinct n-word shingles (the MinHash/Jaccard input set).

    transform over an index sequence + slice keeps this a pure array
    expression; short documents yield the whole-document shingle. The
    token array is bound once per row (``bind_once``), so the document
    is tokenized once and shingling is linear in its length.
    """

    def body(toks):
        k = F.size(toks)
        return F.when(
            k >= n,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), k - F.lit(n - 1)),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
                )
            ),
        ).otherwise(F.array(F.concat_ws(" ", toks)))

    return bind_once(whitespace_tokens(col), body)


def char_fingerprint(col: Column | str, modulus: int = 1_000_000_007) -> Column:
    """Polynomial rolling hash over the document's characters (base 31,
    prime modulus) — a deterministic whole-document fingerprint, the
    building block for content-defined chunking / winnowing.

    Pure fold over the char array; identical algorithm is expressible in
    the DuckDB oracle via list_reduce, so this stays hash-checkable.
    """
    c = F.col(col) if isinstance(col, str) else col
    chars = F.split(c, "")
    return F.aggregate(
        chars,
        F.lit(0).cast("long"),
        lambda acc, ch: (acc * 31 + F.ascii(ch)) % modulus,
    )


def with_gopher_signals(df, text_col: str = "text", out_col: str = "gsig"):
    """``df`` plus ONE materialized struct column of all Gopher signals.

    A bare ratio-struct column referenced k times is re-inlined
    k times once projections collapse (no CSE for interpreted lambdas —
    PERF finding 1/5), so a 6-field screen pays the tokenization fold
    up to 6x. This routes the RAW COUNTER struct (_gopher_counters —
    where all the fold cost lives) through ``explode(array(...))``,
    whose Generate node is a projection barrier: the two folds run
    exactly once per row at ANY scale, and the ratio fields are then
    trivial arithmetic over the materialized counters. (Materializing
    the RATIO struct instead re-expanded each ratio's slice of the
    folds — measured 3.6x slower at sf0.1; the counters split is what
    makes the barrier a pure win.) Same values, same oracles.
    """
    from pyspark.sql import functions as F

    tmp = f"__{out_col}_cnt"
    return (
        df.select(
            "*",
            F.explode(F.array(_gopher_counters(F.col(text_col)))).alias(tmp),
        )
        .withColumn(out_col, _gopher_ratios(F.col(tmp)))
        .drop(tmp)
    )


def word_shingle_postings(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
):
    """DISTINCT (id, tok) n-word-shingle postings, built RELATIONALLY:
    posexplode the tokens once (a Generate barrier, so tokenization
    runs exactly once per document) and assemble each shingle from
    window ``lead``s over the position order.

    Same shingle set as ``word_shingles`` + array_distinct + explode —
    including the short-document rule: a document with fewer than
    ``n`` tokens yields its whole token sequence as one shingle
    (concat_ws skips the NULL leads past the end). Both forms are
    linear in the document length (the array twin binds its tokens
    once, ``bind_once``); this one yields posting ROWS directly and is
    one explode and one window however many consumers read it.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(whitespace_tokens(F.col(text_col))).alias("pos", "tok"),
    )
    wd = Window.partitionBy("id").orderBy("pos")
    w_id = Window.partitionBy("id")
    leads = [F.col("tok")] + [
        F.lead("tok", i).over(wd) for i in range(1, n)
    ]
    return (
        toks.select(
            "id",
            "pos",
            F.concat_ws(" ", *leads).alias("shingle"),
            F.count(F.lit(1)).over(w_id).alias("__k"),
        )
        # keep positions that start a full shingle; short docs keep
        # position 0 (the whole-document shingle)
        .where(
            F.col("pos")
            <= F.greatest(F.col("__k") - n, F.lit(0))
        )
        .select("id", F.col("shingle").alias("tok"))
        .distinct()
    )
