"""Exact set-similarity self-join via prefix filtering (PPJoin-style).

The third exact path to the all-pairs Jaccard >= t set, next to the
brute-force cross join (ground truth) and MinHash-LSH + verify
(text_dedup.py): candidates come from an ORDINARY equi-join on each
record's rarest tokens, then exact verification — no signatures, no
probability, no cross join.

Completeness lemma (why the prefix x prefix join misses nothing).
Order the token universe by (document frequency ASC, token ASC) and
let each set A (|A| = a) keep its first ``a - ceil(t*a) + 1`` tokens
under that order as its PREFIX. For any pair with J(A,B) >= t, with
a >= b w.l.o.g.:

  - J <= |B|/|A| forces b >= t*a, and
  - o*(1+t) >= t*(a+b) >= t*a*(1+t) forces overlap o >= ceil(t*a)
    (and a >= b gives o >= ceil(t*b) too);

let w be the FIRST common token under the order: every token before w
in either record is non-common, so w sits at position <= a - o + 1 <=
a - ceil(t*a) + 1 in A and likewise within B's prefix — BOTH prefixes
contain w, and the (prefix x prefix) equi-join emits the candidate.
(Cited form: Chaudhuri et al., ICDE 2006 "A Primitive Operator for
Similarity Joins"; Bayardo et al., WWW 2007 "Scaling Up All Pairs
Similarity Search"; Xiao et al., WWW 2008 PPJoin.)

Scale shape (100 TB): rarity ordering makes the join side tiny — the
prefix holds each record's LEAST frequent tokens, so candidate volume
is sum over prefix tokens of their document frequency (near-linear on
natural corpora where most shingles are rare), versus |corpus|^2 for
brute force. All stages are ordinary shuffles: one token-frequency
census, one rank window over postings, one hash equi-join, one
array verify per candidate. Skewed hot tokens never enter prefixes
(they sort last in the rarity order), so the classic stop-word skew
of a similarity join disappears by construction.

Plan-shape notes (measured at sf0.1, PERF finding 22):
- The postings relation feeds four consumers; Spark re-executes the
  producing subplan per consumer, so it is staged ONCE through a temp
  parquet directory (the sliding_window_counts idiom). persist() was
  tried and rejected — this platform's memory store filled in 8s and
  scanned slower than parquet (finding 16).
- Verification joins the candidate pairs against per-record SORTED
  ARRAYS (one collect_list aggregate) and intersects them with the
  codegen'd array_intersect — never by re-joining postings per pair,
  which materialized |candidates| x |set| intermediate rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .._stage import stage_parquet
from ._plan import spread_small_input


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    set_col: Column | str,
    id_col: str = "doc_id",
    threshold: float = 0.6,
    scale: int = 4,
) -> DataFrame:
    """All unordered pairs (id_a < id_b) whose EXACT Jaccard similarity
    of ``set_col`` (an array column; de-duplicated here) is >=
    ``threshold`` after rounding to ``scale`` decimals — identical
    output to the brute-force cross join, via prefix-filtered
    candidates. Output: (id_a, id_b, jaccard).

    If the set column is an expensive expression (an interpreted
    shingling lambda), prefer building the (id, tok) postings
    relationally and calling ``prefix_filter_jaccard_pairs_postings``
    directly — this wrapper evaluates the array expression once and
    explodes it.
    """
    s = F.col(set_col) if isinstance(set_col, str) else set_col
    sets = spread_small_input(
        df.select(F.col(id_col).alias("id"), F.array_distinct(s).alias("s"))
    ).where(F.size("s") > 0)
    postings = sets.select("id", F.explode("s").alias("tok"))
    return prefix_filter_jaccard_pairs_postings(
        postings, threshold=threshold, scale=scale
    )


def prefix_filter_jaccard_pairs_postings(
    postings: DataFrame,
    threshold: float = 0.6,
    scale: int = 4,
) -> DataFrame:
    """Core pipeline over a DISTINCT (id, tok) postings relation.
    ``postings`` rows must be unique per (id, tok) — each record's set
    membership, exploded."""
    # stage once (PERF finding 22): four consumers would otherwise
    # re-execute the postings subplan; lifecycle + multi-node root
    # resolution live in _stage.stage_parquet
    ex = stage_parquet(postings, prefix="hse_setsim_")

    dfreq = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("df_t"))
    # explicit width for the expression-bound stages (r12; the
    # cosine_dup_ids precedent): postings rows are ~20 bytes so AQE
    # coalesces the window and verify inputs to 3-5 tasks, but the
    # per-row cost — prefix-window ranking here, the candidate-pair
    # array_intersect below — is what dominates, and Catalyst prices
    # partitions by bytes only.
    target = postings.sparkSession.sparkContext.defaultParallelism
    w_rank = Window.partitionBy("id").orderBy("df_t", "tok")
    w_id = Window.partitionBy("id")
    # candidate generation runs at threshold - 0.5*10^-scale: the final
    # filter keeps pairs whose ROUNDED Jaccard >= threshold, which
    # admits true similarities half an ulp below it — the lemma must
    # cover those too or a knife-edge pair would be provably missed
    t_cand = threshold - 0.5 * 10**-scale
    # the 1e-9 slack (as in the length prune below) keeps a float
    # product just above an integer — 0.545 * 200 = 109.00000000000001
    # — from ceiling one token too high and shortening the prefix
    prefix = (
        ex.join(dfreq, "tok")
        .repartition(target, "id")
        .select(
            "id",
            "tok",
            F.row_number().over(w_rank).alias("__pos"),
            F.count(F.lit(1)).over(w_id).alias("__n"),
        )
        .where(
            F.col("__pos")
            <= F.col("__n") - F.ceil(F.lit(t_cand) * F.col("__n") - 1e-9) + 1
        )
        .select("id", "tok", "__n")
    )
    # Candidate generation joins PREFIX x PREFIX, not prefix x full
    # index (r13, guide §3 "cut the join input" — the AllPairs/PPJoin
    # indexing rule, Bayardo et al. WWW'07): for J(A,B) >= t_cand the
    # FIRST common token under the (df ASC, tok ASC) order sits in BOTH
    # prefixes — every token before it in either record is non-common,
    # and o >= ceil(t_cand * max(|A|,|B|)) bounds its position inside
    # the prefix — so indexing only prefix tokens still emits every
    # qualifying pair, while a hot token stops fanning out against
    # every record that merely CONTAINS it (it enters the index only
    # where it is among a record's rarest). The PPJoin+ length prune
    # moves here too, BEFORE the distinct, so size-mismatched
    # duplicates never reach that shuffle. Both join sides share one
    # exchange: the right side is a projection over the SAME
    # repartition, which ReuseExchange collapses.
    pleft = prefix.repartition(target, "tok")
    pright = pleft.select(
        F.col("id").alias("id_t"), "tok", F.col("__n").alias("__nt")
    )
    cand = (
        pleft.join(pright, "tok")
        .where(F.col("id") != F.col("id_t"))
        .where(
            F.least("__n", "__nt")
            >= F.lit(t_cand - 1e-9) * F.greatest("__n", "__nt")
        )
        .select(
            F.least("id", "id_t").alias("id_a"),
            F.greatest("id", "id_t").alias("id_b"),
        )
        .distinct()
    )
    arrs = ex.groupBy("id").agg(
        F.sort_array(F.collect_list("tok")).alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    a = arrs.select(
        F.col("id").alias("id_a"), F.col("s").alias("__sa"), F.col("n").alias("__na")
    )
    b = arrs.select(
        F.col("id").alias("id_b"), F.col("s").alias("__sb"), F.col("n").alias("__nb")
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jac = F.round(inter / (F.col("__na") + F.col("__nb") - inter), scale)
    # the PPJoin+ length prune (r12) now runs at candidate generation,
    # before the distinct — candidates arriving here are already
    # length-compatible, and the exact Jaccard filter adjudicates.
    return (
        cand.repartition(target, "id_a")
        .join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )
