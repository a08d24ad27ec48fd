"""Benchmark decontamination: drop corpus documents that overlap an
evaluation set by any n-token shingle (the standard n-gram
decontamination used for LLM training corpora, e.g. GPT-3 appendix C /
PaLM §C.1 use 8-13-gram overlap).

Scale shape (100 TB corpus, small eval set): the eval side is
benchmark-sized (10^4-10^6 texts), so its distinct shingle set is
broadcast and the corpus streams through a broadcast LEFT SEMI join on
the shingle string — the corpus is never shuffled; the only exchange is
the distinct over matched (small) contaminated ids. The corpus side
explodes per-doc DISTINCT shingles (word_shingles), so a doc repeating
one phrase contributes it once.

No reference analogue (SURVEY §2.8 extension); the contract mirrors the
reference's quality-gate style: a flag, a report, and a clean survivors
set, all engine-recomputable (whitespace tokens + space-joined shingles
are byte-identical in the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import word_shingles


def eval_shingles(
    eval_df: DataFrame, n: int = 8, text_col: str = "text"
) -> DataFrame:
    """Distinct n-token shingles of the evaluation set — the (small)
    broadcast side. Short texts fall back to their whole-text shingle
    (word_shingles contract)."""
    return (
        eval_df.select(
            F.explode(word_shingles(F.col(text_col), n)).alias("gram")
        ).distinct()
    )


def contaminated_ids(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Ids of corpus docs sharing at least one n-token shingle with the
    eval set. Broadcast semi join — corpus-side rows never shuffle; the
    distinct runs over matched ids only (bounded by corpus hit rate)."""
    from ._plan import spread_small_input

    grams = eval_shingles(eval_df, n, eval_text_col)
    # spread before the corpus-side shingle explode (r12 serialized-
    # Generate fix; no-op at real scale or on already-repartitioned
    # pipeline inputs)
    doc_grams = spread_small_input(docs.select(id_col, text_col)).select(
        id_col, F.explode(word_shingles(F.col(text_col), n)).alias("gram")
    )
    return (
        doc_grams.join(F.broadcast(grams), "gram", "left_semi")
        .select(id_col)
        .distinct()
    )


def ngram_decontaminate(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_text_col: str = "text",
) -> DataFrame:
    """Corpus minus eval-overlapping docs (anti join on the contaminated
    id set — ids only, the doc payload is never duplicated)."""
    bad = contaminated_ids(docs, eval_df, n, id_col, text_col, eval_text_col)
    return docs.join(bad, id_col, "left_anti")


def contamination_report(
    docs: DataFrame,
    eval_df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """Per-eval-item attribution: (eval_id, docs_hit) — how many
    DISTINCT corpus documents share at least one n-token shingle with
    each evaluation text. Items hitting nothing report 0.

    The flag-only screen (contaminated_ids) tells you THAT the corpus
    is contaminated; this tells you WHICH benchmark items leak and how
    broadly — the triage signal deciding between dropping corpus docs
    and dropping the eval item. Same scale shape as the screen: the
    (eval_id, gram) side broadcasts, corpus rows never shuffle, and
    only matched (eval_id, doc_id) pairs reach the distinct + count
    exchanges (bounded by hit rate, not corpus size).
    """
    egrams = eval_df.select(
        F.col(eval_id_col).alias("eval_id"),
        F.explode(word_shingles(F.col(eval_text_col), n)).alias("gram"),
    ).distinct()
    from ._plan import spread_small_input

    # spread before the corpus-side shingle explode (r12 serialized-
    # Generate fix; no-op at real scale)
    doc_grams = spread_small_input(docs.select(id_col, text_col)).select(
        F.col(id_col).alias("__did"),
        F.explode(word_shingles(F.col(text_col), n)).alias("gram"),
    )
    hits = (
        doc_grams.join(F.broadcast(egrams), "gram")
        .select("eval_id", "__did")
        .distinct()
        .groupBy("eval_id")
        .agg(F.count(F.lit(1)).alias("docs_hit"))
    )
    return (
        eval_df.select(F.col(eval_id_col).alias("eval_id"))
        .distinct()
        .join(hits, "eval_id", "left")
        .withColumn("docs_hit", F.coalesce(F.col("docs_hit"), F.lit(0)))
    )


# Auto-route boundary for semantic_decontaminate (r11 verdict task #1):
# the expression path pays one interpreted fold per (corpus row x eval
# vector), the Arrow path one dgemm per batch. Measured A/B (PERF.md r11
# addendum): 20k evals x 690 dims = 1.38e7 cells -> 41.05s expression vs
# 0.66s Arrow on the same corpus (62x). Cost is linear in cells, so at
# 1e6 cells the expression path is ~3s on that corpus — the edge of
# fine; past it the interpreted fold is the wrong tool. Benchmark-sized
# eval sets (1e2-1e4 texts x 64-1e3 dims) sit comfortably below.
SEMANTIC_AUTO_ARROW_CELLS = 1_000_000


def semantic_decontaminate(
    corpus: DataFrame,
    evals: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    scale: int = 6,
    strategy: str | None = None,
) -> DataFrame:
    """EMBEDDING-space decontamination: drop corpus rows whose cosine
    similarity to ANY eval-set vector reaches ``threshold`` — the
    semantic twin of :func:`ngram_decontaminate` for paraphrased or
    lightly-rewritten benchmark leakage that shares no 8-gram with the
    eval text (the screen modern corpus pipelines run alongside the
    lexical one; cf. the paraphrase-contamination analyses around
    GSM8K/MMLU leakage).

    Scale shape (100 TB corpus, benchmark-sized eval set): the eval
    side collapses to ONE row carrying an array of (vector, norm)
    structs — bounded by the eval-set size, the same justified
    smallness as the n-gram screen's broadcast shingle set — and rides
    a broadcast 1-row crossJoin (the engine's J1 idiom). Each corpus
    row then answers "is any eval vector within the threshold" with a
    row-local EXISTS over that array: the corpus never shuffles, never
    regroups, and the plan stays map-only end to end. An eval-side
    JOIN + groupBy(corpus id) formulation would shuffle every corpus
    id; this shape shuffles nothing.

    Exactness: cosine folds components in array order on both engines
    (IEEE doubles, identical order -> identical bits) and compares at
    ``scale`` decimals — the brute_force_topk contract, so the DuckDB
    oracle (list_cosine_similarity rounded to the same scale)
    reproduces the kept set exactly. Corpus rows with a NULL or
    zero-norm vector can match nothing (cosine undefined -> kept, the
    choice the DuckDB oracle makes for free: NOT EXISTS over NULL
    cosines is TRUE); zero-norm EVAL vectors are dropped from the
    probe side for the same reason.

    ``strategy``: ``None`` (default) auto-routes on eval size — one
    eval-side count+dims aggregate (benchmark-sized by contract, the
    same smallness the broadcast probe relies on) picks the Arrow
    matmul kernel (:func:`semantic_decontaminate_arrow`) when
    ``eval_rows x dims`` exceeds :data:`SEMANTIC_AUTO_ARROW_CELLS`,
    where the interpreted fold is measured ~60x slower, and the exact
    expression form below it — the ``skew_safe=None`` pattern from
    sampling. NOTE the kernel is tolerance-class (numpy reorders the
    float sum; last-ulp boundary flips possible), so callers needing
    the bit-exact oracle contract at large eval sets must pass
    ``strategy="expr"`` explicitly.
    """
    if strategy is None:
        n, d = evals.agg(
            F.count(F.lit(1)), F.max(F.size(F.col(vec_col)))
        ).first()
        strategy = (
            "arrow"
            if (n or 0) * (d or 0) > SEMANTIC_AUTO_ARROW_CELLS
            else "expr"
        )
    if strategy == "arrow":
        return semantic_decontaminate_arrow(
            corpus, evals, threshold, vec_col, scale
        )
    if strategy != "expr":
        raise ValueError(f"unknown strategy {strategy!r} (expr|arrow)")

    from ._plan import spread_small_input
    from .similarity import _norm

    # spread the corpus scan (r12): "map-only, never shuffles" also
    # means nothing ever re-partitions it, so on a small single-file
    # scan the per-row EXISTS fold — the whole cost of this operator —
    # ran as ONE task (measured 2.6s single-task stage at sf0.1).
    # No-op at real scale.
    corpus = spread_small_input(corpus)

    probe = F.broadcast(
        evals.select(
            F.col(vec_col).alias("__ev"), _norm(F.col(vec_col)).alias("__en")
        )
        .where(F.col("__en") > 0)
        .agg(
            F.collect_list(F.struct("__ev", "__en")).alias("__evals")
        )
    )
    dot = lambda a, b: F.aggregate(  # noqa: E731 (local, mirrors _dot)
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # corpus norm HOISTED to a plain column (r11 verdict task #1): as a
    # closure expression inside the exists lambda it was re-folded per
    # EVAL VECTOR — dims extra interpreted work per (row x eval); as a
    # column it folds once per row, and the lambda only multiplies.
    cn = F.col("__cn")
    hit = F.exists(
        F.col("__evals"),
        lambda e: F.round(
            dot(F.col(vec_col), e["__ev"]) / (cn * e["__en"]),
            scale,
        )
        >= F.lit(float(threshold)),
    )
    return (
        corpus.crossJoin(probe)
        .withColumn("__cn", _norm(F.col(vec_col)))
        .where(cn.isNull() | (cn == 0) | ~hit)
        .drop("__evals", "__cn")
    )


def semantic_decontaminate_arrow(
    corpus: DataFrame,
    evals: DataFrame,
    threshold: float = 0.95,
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Opt-in Arrow scale path of :func:`semantic_decontaminate`: one
    vectorized numpy matmul per Arrow batch (corpus_chunk @ evals.T)
    instead of the interpreted per-element HOF fold. Unlike the
    exact integer kernels (cell_labels_frame, srp_signature_frame) it
    is a float twin: numpy reorders the float sum, so the last ulp can
    differ from the expression path's ordered fold, and
    float-aggregation twins stay explicit opt-in scale paths with
    tolerance tests, never the driver-checked entry.

    When it matters: the expression path pays |evals| x dims
    interpreted multiply-adds per corpus row (~ms/row at 64-dim x
    ~1e2 evals) — fine for benchmark-sized eval sets, hopeless at
    1e5-1e6 eval rows; the matmul path amortizes to one dgemm per
    batch. Eval vectors collect to the driver (bounded — the same
    smallness argument as the broadcast probe) and ship in the
    closure. Same NULL/zero-norm guards as the expression path (NULL
    corpus vectors are KEPT — pinned across all three implementations
    including the DuckDB oracle, r11 ADVICE)."""
    import numpy as np

    from ._plan import spread_small_input

    # same single-task trap as the expression path (r12): the dgemm
    # batches inherit the scan's partitioning; spread so they run on
    # every core. No-op at real scale.
    corpus = spread_small_input(corpus)

    ev_rows = [
        r[0]
        for r in evals.select(vec_col).collect()
        if r[0] is not None
    ]
    emat = np.asarray(ev_rows, dtype=np.float64)
    if emat.size:
        en = np.sqrt(np.einsum("ij,ij->i", emat, emat))
        keep_ev = en > 0
        emat, en = emat[keep_ev], en[keep_ev]
    thr = float(threshold)
    schema = corpus.schema
    names = [f.name for f in schema.fields]
    vpos = names.index(vec_col)

    def _screen(batches):
        for pdf in batches:
            if emat.size == 0 or len(pdf) == 0:
                yield pdf
                continue
            vals = list(pdf.iloc[:, vpos])
            isnull = np.array([x is None for x in vals], dtype=bool)
            # NULL vectors ride as zero rows: zero norm -> kept, and
            # np.asarray never sees a None (it would raise TypeError)
            zdim = emat.shape[1] if emat.ndim == 2 else 0
            v = np.asarray(
                [
                    np.zeros(zdim) if x is None
                    else np.asarray(x, dtype=np.float64)
                    for x in vals
                ]
            )
            nc = np.sqrt(np.einsum("ij,ij->i", v, v))
            dots = v @ emat.T  # n x k
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = dots / (nc[:, None] * en[None, :])
            hit = (np.round(cos, scale) >= thr).any(axis=1)
            keep = isnull | (nc == 0) | ~hit
            yield pdf[keep]

    return corpus.mapInPandas(_screen, schema=schema)
