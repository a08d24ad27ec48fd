"""Deterministic dataset splitting & quota sampling (north-star ops).

Training-data pipelines need splits and mixture caps that are (a)
reproducible run-to-run and cluster-size-independent, (b) pure row-local
or single-shuffle operations at 100 TB, and (c) portable across engines
so holdout membership can be audited outside Spark. Everything here
derives from a cross-engine md5-based hash of the row key — never
``rand()`` (nondeterministic across retries/partitionings) and never
``monotonically_increasing_id`` (partition-layout-dependent).

No reference analogue (the reference pipelines are full-copy ETL,
SURVEY §2.8); these extend the engine for LLM-corpus preparation.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hash_bucket(col, buckets: int = 100):
    """Stable bucket in [0, buckets): integer value of the first 8 hex
    chars of md5(key) mod buckets. md5 is identical everywhere, so a
    row's bucket — hence its split — can be recomputed by any engine
    (the same portability trick as text_dedup.md5_hash32)."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.conv(F.substring(F.md5(c.cast("string")), 1, 8), 16, 10).cast("long")
    return F.pmod(h, F.lit(buckets))


def hash_split(
    df: DataFrame,
    key_col: str,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Adds a ``split`` column by hash bucket: deterministic,
    fraction-accurate train/val/test assignment.

    ``weights`` maps split name -> percent (must sum to 100); default
    80/10/10. Row-local (one md5 per row, no shuffle, no state) — the
    100 TB-safe form of ``randomSplit``, which resamples on retry and
    cannot be reproduced outside Spark.
    """
    return df.withColumn("split", split_assign(key_col, weights))


def split_assign(key, weights: dict[str, int] | None = None):
    """Split-name Column for a key column/name: hash bucket in [0,100)
    mapped through the cumulative weight ranges (shared by hash_split
    and leakage_safe_split)."""
    weights = weights or {"train": 80, "val": 10, "test": 10}
    if sum(weights.values()) != 100:
        raise ValueError("split weights must sum to 100")
    b = hash_bucket(key, 100)
    expr = None
    lo = 0
    for name, pct in weights.items():
        cond = (b >= F.lit(lo)) & (b < F.lit(lo + pct))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo += pct
    return expr


def leakage_safe_split(
    df: DataFrame,
    cluster_map: DataFrame,
    key_col: str,
    weights: dict[str, int] | None = None,
) -> DataFrame:
    """Near-dup-aware train/val/test assignment: every duplicate
    CLUSTER lands wholly in one split, so no near-copy of a training
    document can leak into the held-out sets (the standard eval-
    integrity requirement for LLM corpora — doc-level hash splits
    silently put near-identical pairs on both sides of the boundary).

    ``cluster_map`` is the (id, rep) output of
    text_dedup.connected_components_min over the verified near-dup
    pair graph: rows join their cluster representative (rep = min id
    of the component) and are bucketed by md5(rep) instead of md5(id);
    un-clustered rows fall back to their own id (left join + coalesce
    — identical to hash_split for them). One extra join against the
    cluster map, which is pair-graph-sized (orders of magnitude
    smaller than the corpus); assignment stays a pure function of
    (key, cluster graph), recomputable by any engine.

    Join strategy (r10): NO explicit broadcast hint — at laptop scale
    AQE converts the join to broadcast at runtime anyway (the map is
    tiny), while at 100 TB a high-dup corpus's cluster map is
    corpus-fraction-sized and a forced broadcast would OOM the
    driver; letting AQE measure the build side makes the operator
    self-degrading, the same policy as the ranked-percentile census.
    """
    # unique internal name: a bare '_rep' collides (AMBIGUOUS_REFERENCE)
    # when the input frame already carries one, e.g. retained dedup-
    # cluster metadata (same collision class fixed in
    # minhash_dedup_keep_best)
    rep_col = "__lss_rep"
    while rep_col in df.columns:
        rep_col = "_" + rep_col
    reps = cluster_map.select(
        F.col("id").alias(key_col), F.col("rep").alias(rep_col)
    )
    joined = df.join(reps, key_col, "left")
    split_key = F.coalesce(F.col(rep_col), F.col(key_col))
    return joined.withColumn("split", split_assign(split_key, weights)).drop(
        rep_col
    )


def pack_sequences(
    df: DataFrame,
    budget: int,
    n_shards: int,
    token_col: str,
    key_col: str,
) -> DataFrame:
    """Greedy contiguous sequence packing: adds ``shard`` and ``pack_id``
    so that consecutive docs (in deterministic hash order within a
    shard) share a pack until its token budget fills — the standard
    approximation for batching variable-length documents into
    fixed-size training sequences with bounded padding waste.

    ``pack_id = floor(exclusive_prefix_token_sum / budget)``: a doc
    starts a new pack exactly when the tokens before it fill a whole
    number of budgets. Docs longer than the budget own their packs and
    simply advance the boundary. The window is per-shard (hash of the
    key), so packing parallelizes over ``n_shards`` independent
    partitions — no global sort, no single-reducer window; shard count
    scales with the cluster, and assignment stays a pure function of
    (key, tokens) recomputable by any engine.
    """
    w = (
        Window.partitionBy("shard")
        .orderBy(hash_bucket(key_col, 1_000_000_007), F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        df.withColumn("shard", hash_bucket(key_col, n_shards))
        .withColumn(
            "pack_id",
            F.floor(
                F.coalesce(F.sum(token_col).over(w), F.lit(0)) / F.lit(budget)
            ),
        )
    )


MAX_QUOTA_GROUPS = 100_000


def _bounded_group_counts(
    df: DataFrame, group_col: str, max_groups: int
) -> dict:
    """Per-group counts collected to the driver, GUARDED (r8 verdict
    task #6): the quota samplers' one-row-per-group collect is the
    right shape for mixture keys (domains, languages — dozens to
    thousands of groups) but silently becomes a driver OOM if someone
    keys quotas on a high-cardinality column (url, doc_id). The probe
    collects at most ``max_groups + 1`` rows — driver memory stays
    bounded even in the failure case — and raises with guidance
    instead of degrading. NULL groups are excluded (None cannot be a
    create_map key; a NULL-group row draws no quota)."""
    rows = (
        df.groupBy(group_col).count().limit(max_groups + 1).collect()
    )
    if len(rows) > max_groups:
        raise ValueError(
            f"{group_col!r} has more than {max_groups} distinct groups: "
            f"per-group quotas collect one row per group to the driver, "
            f"which is meant for mixture keys (domain, language, "
            f"cluster), not high-cardinality keys. Pass "
            f"strategy='join' for the driver-free scalable path, "
            f"re-key the quota on a coarser column, or raise "
            f"max_groups explicitly if the driver can genuinely hold "
            f"the group table"
        )
    return {r[0]: r[1] for r in rows if r[0] is not None}


def _exact_isqrt(n):
    """Exact integer sqrt of a BIGINT count as a Column — the engine-
    side twin of Python ``math.isqrt``. ``floor(sqrt(double(n)))`` can
    be off by one in either direction once the double rounds (still
    exact for counts < 2^50, but the correction costs nothing); one
    bump up then one bump down pins it for all BIGINT counts, so join-
    strategy quotas equal the driver-collect quotas bit-for-bit.
    The correction squares ride DECIMAL(38,0): r ≤ isqrt(2^63) ≈
    3.04e9, so r² ≤ ~9.3e18 — exact in 38 digits, while a BIGINT
    square would WRAP for n near 2^63 and flip both corrections."""

    def _d(c):
        return c.cast("decimal(38,0)")

    r = F.floor(F.sqrt(n.cast("double"))).cast("long")
    r = F.when(_d(r + 1) * _d(r + 1) <= _d(n), r + 1).otherwise(r)
    return F.when(_d(r) * _d(r) > _d(n), r - 1).otherwise(r)


def _quota_div_expr(total: int, w: str, s: str) -> Column:
    """``total * w div s`` with Python-int exactness on the engine
    side (r10 ADVICE, medium): the plain BIGINT product wraps
    Java-style once ``total * w >= 2^63`` with ansi off — exactly the
    100 TB token-budget regime (~3e13-char budgets x isqrt weights up
    to ~1e7), where the old form returned garbage (often negative)
    quotas with no error while the collect strategy's Python ints
    stayed exact. The product rides DECIMAL(38,0) (max magnitude here
    2^63 x 2^63 ≈ 8.5e37 — exact in 38 digits, the _exact_isqrt
    trick), ``div`` is Spark's integral divide (exact truncation ==
    floor for the non-negative operands quotas always are), and the
    result lands back in BIGINT (w <= s always, so quotient <= total
    fits). Measured: total=3e13, w=2.1e9, s=5.1e9 -> BIGINT form
    -323503352, DECIMAL form == Python ``//`` bit-for-bit."""
    return F.expr(
        f"CAST(CAST({int(total)} AS DECIMAL(38,0)) * {w} div {s} AS BIGINT)"
    )


QUOTA_RANK_SALT = 64

# Auto skew_safe threshold (r11 verdict task #6, in finding-37 terms):
# below this many rows per group, one task sorting the whole group is
# fine (gate-scale A/B: a single task sorts 2.5M candidate rows in
# ~2.4s; ExternalSorter spills past memory, so ~10M narrow rows is
# still comfortably one-task territory) and the single window is ~2x
# cheaper than the two-stage form. Above it, a hot group's slice
# funnels through ONE reducer — window partitions are the one thing
# AQE cannot split — so the salted two-stage rank/prefix (bounded
# tasks: <= n_salt x quota candidates regardless of group size) takes
# over. Membership is identical either way (pin-tested), so routing
# per group changes cost only, never the sample.
SKEW_SAFE_GROUP_ROWS = 10_000_000


def _static_skew_route(df: DataFrame, skew_safe: bool | None) -> bool | None:
    """Zero-cost first tier of the skew_safe=None auto route (r11
    verdict task #3): when Catalyst's plan statistics PROVE the frame
    is too small to hold a :data:`SKEW_SAFE_GROUP_ROWS`-row group,
    resolve auto to ``False`` so the draw builds the LITERAL
    single-window plan. The in-plan conditional salt keeps membership
    right below the threshold but still pays the two-stage STRUCTURE —
    the salt-0 stage-1 window subtree is evaluated twice (once for the
    survivors branch, once for the first-dropped-key aggregate) plus a
    null-safe join — measured at sf0.1 as the whole r11
    token_budget_mixture regression (1.10s auto vs 0.54s single-window;
    the initially-suspected DECIMAL(38,0) quota products were ~0.07s).
    A driver-side max over the group census was also tried and is a
    wash: it serializes an extra corpus-scan job before the draw
    (measured 1.53s — the scan you save structurally you pay again in
    wall clock).

    Probe contract (the spread_small_input discipline, _plan.py): only
    file-relation leaves are trusted, and the bound is conservative —
    ``est_bytes < max_rows x 4`` assumes no real table packs under ~4
    bytes/row, so a fire means "cannot contain a 10M-row group". A
    pathological all-RLE table that beats 4 bytes/row AND has one group
    owning >10M rows would misroute to the single window: slower, never
    wrong (membership is salt-invariant, pin-tested). Unknown sizes
    (LocalRelation, streams) return None -> callers fall through to the
    in-plan conditional-salt census, the honest design at real scale
    (group sizes threaded free where the plan computes them anyway)."""
    if skew_safe is not None:
        return skew_safe
    from ._plan import definitely_small_frame

    if definitely_small_frame(df, SKEW_SAFE_GROUP_ROWS, min_bytes_per_row=4):
        return False
    return None


def _with_group_sizes(df: DataFrame, group_col: str) -> DataFrame:
    """Attach each row's group size as ``__gn`` — the auto-skew_safe
    routing signal (r11 verdict task #6), computed IN-PLAN: a
    map-side-combinable census (group-count-sized shuffle) joined back
    null-safely. eqNullSafe keeps NULL-group rows — they are a real
    group to the window samplers, and an inner null-dropping join would
    silently change membership. The census build side is tiny, so AQE
    broadcasts it; joins (unlike windows) are also AQE-skew-splittable,
    so the hot group cannot funnel here."""
    census = df.groupBy(F.col(group_col).alias("__gk")).agg(
        F.count(F.lit(1)).alias("__gn")
    )
    return df.join(
        census, F.col(group_col).eqNullSafe(F.col("__gk"))
    ).drop("__gk")


def _hash_rank_take(
    df: DataFrame,
    group_col: str,
    key_col: str,
    n_salt: int = QUOTA_RANK_SALT,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Keep the rows whose GLOBAL per-group md5-hash-order rank is
    within the row's ``__quota`` — computed as a two-stage salted rank
    so no task ever windows a whole group (r10: a hot group owning
    half the corpus would otherwise drag 50 TB through ONE reducer —
    window partitions are the one thing AQE cannot split, so the old
    single-window form's skew claim was wrong at scale).

    Stage 1 windows over (group, salt) — the hot group spreads across
    ``n_salt`` tasks — and keeps each salt's local top-``__quota``:
    a row in the global top-quota is in its salt's top-quota (its
    local predecessors are a subset of its global ones), so stage 1
    never drops a winner. Stage 2 re-ranks the survivors over the
    group alone; its input is ≤ n_salt x quota rows per group
    regardless of group size, so the unsalted window is now safe.
    Membership is EXACTLY the single-window draw (pin-tested): the
    order key (hash, key) is the same total order both times.
    Expects ``__quota`` on the rows; drops it and the rank columns.

    ``skew_safe``: ``None`` (default, r11 verdict task #6) salts
    CONDITIONALLY per group from an in-plan census
    (:func:`_with_group_sizes`): groups above
    :data:`SKEW_SAFE_GROUP_ROWS` rows draw a real salt, the rest salt
    0 — which makes stage 1 LITERALLY the single window for them
    (partitioning by (group, 0) == (group)), so below the threshold
    auto pays only the census and a quota-bounded stage-2 re-rank,
    never the full two-stage tax (finding 37's 8.8s-vs-1.25s). The
    two-stage correctness argument is per-group and holds for ANY
    salt assignment, so membership is identical across all three
    modes (pin-tested). Explicit ``True``/``False`` overrides for
    callers who already know their skew (finding-30 discipline;
    collect-strategy callers resolve auto from their already-
    collected counts for free)."""
    h = hash_bucket(key_col, 1_000_000_007)
    if skew_safe is False:
        w = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= F.col("__quota"))
            .drop("__rn", "__quota", "__gn")
        )
    salt = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit("qsalt"),
                                          F.col(key_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long"),
        F.lit(n_salt),
    )
    if skew_safe is None:
        # callers that already know group sizes thread them in as
        # ``__gn`` (the join strategies compute per-group counts anyway)
        # so auto costs them NOTHING; only count-blind callers pay the
        # census pass (measured min-of-2 at gate scale: ~1.9s over a 5M
        # frame — the price of learning the skew, NOT the two-stage tax)
        if "__gn" not in df.columns:
            df = _with_group_sizes(df, group_col)
        salt = F.when(
            F.col("__gn") > SKEW_SAFE_GROUP_ROWS, salt
        ).otherwise(F.lit(0))
    w1 = Window.partitionBy(group_col, "__qsalt").orderBy(h, F.col(key_col))
    w2 = Window.partitionBy(group_col).orderBy(h, F.col(key_col))
    return (
        df.withColumn("__qsalt", salt)
        .withColumn("__r1", F.row_number().over(w1))
        .where(F.col("__r1") <= F.col("__quota"))
        .withColumn("__rn", F.row_number().over(w2))
        .where(F.col("__rn") <= F.col("__quota"))
        .drop("__qsalt", "__r1", "__rn", "__quota", "__gn")
    )


def _hash_prefix_take(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cost_col: str,
    n_salt: int = QUOTA_RANK_SALT,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Keep the rows whose GLOBAL per-group md5-hash-order EXCLUSIVE
    prefix cost stays under the row's ``__budget`` — the token-budget
    analogue of :func:`_hash_rank_take`, bounded tasks under any group
    skew, membership exactly the single-window draw (pin-tested).

    Stage 1 windows over (group, salt): a winner's true global prefix
    is >= its same-salt local prefix, so rows whose LOCAL prefix
    already reaches the budget can never win — the survivors are a
    superset of the winners, sized by budget mass, not group size.
    The subtlety stage 2 must honor: a surviving row R preceded (in
    the global hash order) by ANY stage-1-dropped row P is itself a
    loser — P's local prefix alone proves R's true prefix >= budget —
    but P's cost is missing from a survivors-only prefix sum, which
    would undercount R's prefix and wrongly keep it. So stage 1 also
    reduces each group's FIRST dropped order key (a skew-safe
    partial+final min aggregate, group-count-sized); stage 2 discards
    survivors at or past it, after which survivors-only prefixes ARE
    the true prefixes and the budget test is exact.

    ``skew_safe``: same tri-state as :func:`_hash_rank_take` — ``None``
    (default) salts conditionally per group from the in-plan census
    (row count, the quantity the window task actually sorts; salt 0
    below the threshold makes stage 1 the single prefix window for
    that group), explicit bools override. The stage-1/stage-2 proof is
    per-group and salt-assignment-independent, so membership never
    moves."""
    h = hash_bucket(key_col, 1_000_000_007)
    if skew_safe is False:
        w = (
            Window.partitionBy(group_col)
            .orderBy(h, F.col(key_col))
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        return (
            df.withColumn(
                "__cum",
                F.coalesce(
                    F.sum(F.col(cost_col).cast("long")).over(w), F.lit(0)
                ),
            )
            .where(F.col("__cum") < F.col("__budget"))
            .drop("__cum", "__budget", "__gn")
        )
    ord_key = F.struct(h.alias("h"), F.col(key_col).alias("k"))
    salt = F.pmod(
        F.conv(
            F.substring(F.md5(F.concat_ws(":", F.lit("qsalt"),
                                          F.col(key_col).cast("string"))), 1, 8),
            16, 10,
        ).cast("long"),
        F.lit(n_salt),
    )
    if skew_safe is None:
        if "__gn" not in df.columns:
            df = _with_group_sizes(df, group_col)
        salt = F.when(
            F.col("__gn") > SKEW_SAFE_GROUP_ROWS, salt
        ).otherwise(F.lit(0))
    w1 = (
        Window.partitionBy(group_col, "__qsalt")
        .orderBy(h, F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.withColumn("__qsalt", salt).withColumn(
        "__c1",
        F.coalesce(F.sum(F.col(cost_col).cast("long")).over(w1), F.lit(0)),
    )
    # the drop0 join must be NULL-SAFE on the group key (r11): NULL is
    # a real group to the windows, but a name-list join would never
    # match its drop0 row, silently skipping the dropped-predecessor
    # discard and over-keeping NULL-group rows.
    drop0 = (
        base.where(F.col("__c1") >= F.col("__budget"))
        .groupBy(F.col(group_col).alias("__dk"))
        .agg(F.min(ord_key).alias("__drop0"))
    )
    w2 = (
        Window.partitionBy(group_col)
        .orderBy(h, F.col(key_col))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        base.where(F.col("__c1") < F.col("__budget"))
        .join(drop0, F.col(group_col).eqNullSafe(F.col("__dk")), "left")
        .drop("__dk")
        .where(F.col("__drop0").isNull() | (ord_key < F.col("__drop0")))
        .withColumn(
            "__cum",
            F.coalesce(
                F.sum(F.col(cost_col).cast("long")).over(w2), F.lit(0)
            ),
        )
        .where(F.col("__cum") < F.col("__budget"))
        .drop("__qsalt", "__c1", "__drop0", "__cum", "__budget", "__gn")
    )


def _quota_join_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    quotas: DataFrame,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Shared join-strategy tail: attach per-group ``__quota`` rows by
    equi-join (NO driver collect, NO broadcast hint — the strategy
    exists for millions of groups, and AQE still picks broadcast when
    the quota frame turns out small), then the salted two-stage
    md5-hash-order rank draw (:func:`_hash_rank_take`) — identical
    membership to the collect strategy; ``skew_safe=True`` bounds
    tasks under any group skew via the two-stage rank. Probes the
    static skew route on the PRE-join frame (join-node plan stats
    multiply child sizes and would never fire)."""
    return _hash_rank_take(
        df.join(quotas, group_col),
        group_col,
        key_col,
        skew_safe=_static_skew_route(df, skew_safe),
    )


def temperature_mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    total: int,
    max_groups: int = MAX_QUOTA_GROUPS,
    strategy: str = "collect",
    skew_safe: bool | None = None,
) -> DataFrame:
    """Temperature-weighted mixture sampling (alpha = 0.5): draw ~``total``
    rows with per-group quotas proportional to sqrt(group size) — the
    standard down-weighting of dominant domains / up-weighting of rare
    ones when balancing a training mixture (cf. multilingual sampling in
    the mBERT/XLM-R line of work).

    Exactness contract: quotas use INTEGER arithmetic only —
    ``quota_g = total * isqrt(n_g) // sum(isqrt(n_h))`` — so any engine
    recomputes identical quotas (float sqrt+sum could flip a boundary
    row by one ulp; isqrt of a BIGINT count cannot, for counts < 2^50
    where floor(sqrt(double)) is exact). Per-group counts are collected
    to the driver — bounded by the number of groups (domains), the same
    justified materialization as the touched-partition collect in
    sinks, and GUARDED by ``max_groups`` against accidental
    high-cardinality keys (_bounded_group_counts). Selection within a
    group is hash-order rank (deterministic, partitioning-independent);
    one shuffle on ``group_col``.

    ``strategy="join"`` (r10 verdict task #3) is the scalable path the
    guard points at: quotas are computed as a DataFrame — per-group
    counts, exact integer sqrt (:func:`_exact_isqrt`), the weight sum
    attached via a broadcast 1-row crossJoin, ``total * w div s`` in
    BIGINTs — and attached by equi-join, so NOTHING reaches the
    driver and group cardinality is unbounded (1M-group scale check
    in scale_check.py). Same md5-rank draw; quotas are bit-identical
    to the collect strategy (integer arithmetic both sides), so
    membership is too (pin-tested).
    """
    if strategy == "join":
        counts_df = (
            df.where(F.col(group_col).isNotNull())
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("__n"))
        )
        skew_safe = _static_skew_route(df, skew_safe)
        w_df = counts_df.select(
            group_col, "__n", _exact_isqrt(F.col("__n")).alias("__w")
        )
        s_df = w_df.agg(F.sum("__w").alias("__s"))
        quotas = (
            w_df.crossJoin(F.broadcast(s_df))
            .select(
                group_col,
                # thread the group size through: the auto-skew_safe
                # draw can then salt conditionally with ZERO extra
                # scans (it would otherwise census the corpus itself)
                F.col("__n").alias("__gn"),
                _quota_div_expr(total, "__w", "__s").alias("__quota"),
            )
            .where(F.col("__quota") > 0)
        )
        return _quota_join_sample(
            df, group_col, key_col, quotas, skew_safe=skew_safe
        )
    if strategy != "collect":
        raise ValueError(f"unknown strategy {strategy!r} (collect|join)")
    counts = _bounded_group_counts(df, group_col, max_groups)
    if skew_safe is None:
        # the counts are already on the driver — resolve auto for free
        # instead of paying _group_size_routed's census pass
        skew_safe = max(counts.values(), default=0) > SKEW_SAFE_GROUP_ROWS
    w = {g: math.isqrt(n) for g, n in counts.items()}
    s = sum(w.values())
    if s == 0:
        return df.limit(0)
    quotas = {g: total * wg // s for g, wg in sorted(w.items())}
    qmap = F.create_map(
        *[x for g, q in quotas.items() for x in (F.lit(g), F.lit(q))]
    )
    return _hash_rank_take(
        df.withColumn("__quota", qmap[F.col(group_col)]).where(
            F.col("__quota") > 0
        ),
        group_col,
        key_col,
        skew_safe=skew_safe,
    )


def token_budget_mixture_sample(
    df: DataFrame,
    group_col: str,
    key_col: str,
    cost_col: str,
    total_budget: int,
    skew_safe: bool | None = None,
) -> DataFrame:
    """Temperature-weighted mixture sampling with TOKEN budgets instead
    of row quotas: each group gets a budget in cost units (tokens,
    chars, bytes) proportional to sqrt of its total mass — alpha=0.5
    down-weighting of dominant domains — and contributes its md5-hash-
    order prefix of documents until the budget fills. Training mixtures
    are specified in tokens, not documents; a row-quota sampler
    systematically over-draws from short-doc domains at a fixed token
    target.

    Greedy boundary rule (shared with pack_sequences): a doc is kept
    iff the cost accumulated BEFORE it is still under budget, so each
    group overshoots by at most its one boundary doc and a group with
    any budget contributes at least one doc. Exactness contract:
    budgets are pure BIGINT arithmetic — ``total_budget *
    isqrt(mass_g) div sum(isqrt(mass_h))`` with the in-plan exact
    isqrt — and the prefix test compares BIGINT window sums, so any
    engine recomputes identical membership.

    Scale shape (100 TB): join-strategy only — masses, weights, and
    budgets stay DataFrames (the 1-row weight total rides a broadcast
    crossJoin), attached by equi-join; NOTHING reaches the driver and
    group cardinality is unbounded. One shuffle on ``group_col``
    shared by the budget join and the prefix-sum window. The auto
    ``skew_safe`` route resolves statically from plan statistics when
    they prove the frame small (:func:`_static_skew_route`, zero
    cost); otherwise the in-plan conditional salt threads the group
    sizes the budget join computes anyway.
    """
    masses = (
        df.where(F.col(group_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.sum(F.col(cost_col).cast("long")).alias("__mass"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    # zero-cost static route first (plan stats on the PRE-join frame;
    # join-node estimates multiply child sizes and never fire)
    skew_safe = _static_skew_route(df, skew_safe)
    w_df = masses.select(
        group_col, "__n", _exact_isqrt(F.col("__mass")).alias("__w")
    )
    s_df = w_df.agg(F.sum("__w").alias("__s"))
    budgets = (
        w_df.crossJoin(F.broadcast(s_df))
        .select(
            group_col,
            F.col("__n").alias("__gn"),  # free auto-skew_safe signal
            _quota_div_expr(total_budget, "__w", "__s").alias("__budget"),
        )
        .where(F.col("__budget") > 0)
    )
    return _hash_prefix_take(
        df.join(budgets, group_col), group_col, key_col, cost_col,
        skew_safe=skew_safe,
    )


def quota_sample(
    df: DataFrame,
    group_col: str,
    quota: int,
    key_col: str,
    skew_safe: bool | None = None,
) -> DataFrame:
    """At most ``quota`` rows per group, chosen by hash order of the key
    — a deterministic uniform sample without replacement per group (the
    mixture-balancing cap of corpus preparation: no domain may dominate
    the training mix).

    The rank is over hash order with the unique key as tie-break, so
    output is identical for any input partitioning. Skew (r10): the
    earlier docstring claimed AQE would split an oversized group, but
    window partitions are the one thing AQE canNOT split — one hot
    domain funnels its whole slice of the corpus through a single
    reducer. ``skew_safe=True`` switches to the salted two-stage
    :func:`_hash_rank_take` (every task bounded by n_salt x quota
    candidates regardless of group size) at a measured ~2x local
    cost; identical membership either way (pin-tested). Default
    ``None`` (r11): an in-plan per-group census routes only the
    groups above :data:`SKEW_SAFE_GROUP_ROWS` through the two-stage
    path — callers no longer need to know their skew, and small-group
    corpora never pay the two-stage tax (r12: frames Catalyst plan
    stats can PROVE small skip even the census and run the literal
    single window, :func:`_static_skew_route`).
    """
    return _hash_rank_take(
        df.withColumn("__quota", F.lit(int(quota))),
        group_col,
        key_col,
        skew_safe=_static_skew_route(df, skew_safe),
    )


def training_shuffle(
    df: DataFrame,
    key_col: str,
    n_shards: int = 4,
    seed: int = 0,
) -> DataFrame:
    """Seeded deterministic global shuffle for training-order
    randomization: adds ``shard`` (which output file a row lands in)
    and ``position`` (its 0-based rank inside the shard).

    Training runs need the corpus in a random-looking order that is
    (a) reproducible bit-for-bit across runs and cluster sizes,
    (b) re-derivable per epoch by changing ``seed``, and (c) never a
    global sort. Shard and in-shard order come from two salted md5
    hashes of (seed, key): one hash pair per row, one shuffle on
    ``shard``, a per-shard window for the position — the same scale
    shape as pack_sequences (shard count scales with the cluster; no
    global ordering structure exists at all). rand()-based shuffles
    break (a) on task retry; zipWithIndex-style shuffles break (c)
    and pin the order to the physical partition layout. Distinct
    salts ("s:" / "o:") keep the in-shard order independent of the
    shard assignment residue.
    """
    if n_shards <= 0:
        raise ValueError("n_shards must be positive")
    key = F.col(key_col).cast("string")
    shard_h = F.concat(F.lit(f"{seed}:s:"), key)
    order_h = F.concat(F.lit(f"{seed}:o:"), key)
    w = Window.partitionBy("shard").orderBy(F.col("_oh"), F.col(key_col))
    return (
        df.withColumn("shard", hash_bucket(shard_h, n_shards))
        .withColumn("_oh", hash_bucket(order_h, 1_000_000_007))
        .withColumn(
            "position", (F.row_number().over(w) - F.lit(1)).cast("long")
        )
        .drop("_oh")
    )


def cluster_balanced_sample(
    vectors: DataFrame,
    total: int,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    centroids: list[list[int]] | None = None,
) -> DataFrame:
    """Diversity-balanced sampling over LEARNED clusters — the D4-style
    coreset draw (Tirumala et al. 2023): fit the deterministic integer
    k-means quantizer (similarity.exact_kmeans_centroids), label every
    vector by literal-centroid argmin, then sample per-cluster quotas
    proportional to sqrt(cluster size) — dense regions are down-
    weighted, rare regions kept, so the sample covers the embedding
    space instead of mirroring its density.

    Determinism: the fit is exact integer Lloyd (SQL-reproducible), the
    quotas are temperature_mixture_sample's INTEGER arithmetic, and the
    in-cluster pick is md5-hash-order rank — the whole draw is a pure
    function of the data, recomputable by any engine.

    Scale shape (100 TB): labeling is a row-local argmin (no join); the
    only shuffle is the quota window on cluster_id
    (n_cells values — AQE splits the big cells); per-cluster counts
    collect to the driver bounded by n_cells. Returns sampled rows
    with a ``cluster_id`` column.

    ``centroids`` (micro-unit int vectors) skips the in-line fit —
    the production shape for repeated draws over one corpus, mirroring
    semantic_dedup_flags(centroids=): fit once offline with
    exact_kmeans_centroids, reuse per draw. Without it every call pays
    ``iters`` extra full scans, which at 100 TB dwarfs the draw itself.

    Labels come from similarity.cell_labels_frame, the int64 Arrow
    argmin with column passthrough, so the labeled rows come straight
    out of the Arrow stage (no label join). ``labeled`` feeds two
    consumers (the quota count-collect and the rank window) and is
    deliberately not persisted: relabeling is cheaper than the cache
    build (1M-vector draw on local[32]: 20.2 s, 21.9 s with persist).
    """
    from ._plan import spread_small_input
    from .similarity import cell_labels_frame, exact_kmeans_centroids

    cents = centroids if centroids is not None else exact_kmeans_centroids(
        vectors, n_cells, iters, id_col, vec_col, scale
    )
    labeled = cell_labels_frame(
        spread_small_input(vectors), cents, vec_col=vec_col, scale=scale
    )
    return temperature_mixture_sample(labeled, "cluster_id", id_col, total)


def distribution_matched_sample(
    df: DataFrame,
    target: DataFrame,
    group_col: str,
    key_col: str,
    total: int,
    max_groups: int = MAX_QUOTA_GROUPS,
    strategy: str = "collect",
    skew_safe: bool | None = None,
) -> DataFrame:
    """Sample ~``total`` rows of ``df`` so that ``group_col``'s
    distribution matches the TARGET corpus's distribution — the
    domain/length/language rebalancing step when raw crawl proportions
    must be bent toward a reference mix (the histogram-matching cousin
    of DSIR: DSIR reweights by content, this matches a categorical
    marginal exactly).

    Quotas are INTEGER arithmetic only — ``quota_g = total * t_g //
    t_total`` over the target's per-group counts — so any engine
    recomputes identical membership; in-group selection is md5-hash-
    order rank (deterministic, partitioning-independent). Groups absent
    from the target get quota 0 (dropped); groups where ``df`` has
    fewer rows than quota contribute what they have (the sample then
    undershoots ``total`` — matching exactly would mean resampling
    with replacement, which a dedup-minded pipeline never does).

    Scale shape (100 TB): the target reduces to one driver-bounded
    count per group (the same justified collect as
    temperature_mixture_sample, with the same ``max_groups`` guard);
    the rank draw is the salted two-stage :func:`_hash_rank_take`, so
    a hot group never pins one reducer. NULL-group rows in df are
    dropped like any other quota-0 group ("match the NULL slice" is
    not a meaningful target).

    ``strategy="join"`` removes the driver collect entirely (r10
    verdict task #3): target counts and their 1-row total stay
    DataFrames, ``total * t_g div t_total`` is computed per group in
    BIGINTs, and quotas attach by equi-join — unbounded group
    cardinality, bit-identical membership to the collect strategy.
    """
    if strategy == "join":
        tcounts_df = (
            target.where(F.col(group_col).isNotNull())
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("__tn"))
        )
        tt_df = tcounts_df.agg(F.sum("__tn").alias("__tt"))
        quotas = (
            tcounts_df.crossJoin(F.broadcast(tt_df))
            .select(
                group_col,
                _quota_div_expr(total, "__tn", "__tt").alias("__quota"),
            )
            .where(F.col("__quota") > 0)
        )
        return _quota_join_sample(
            df, group_col, key_col, quotas, skew_safe=skew_safe
        )
    if strategy != "collect":
        raise ValueError(f"unknown strategy {strategy!r} (collect|join)")
    tcounts = _bounded_group_counts(target, group_col, max_groups)
    t_total = sum(tcounts.values())
    if t_total == 0:
        return df.limit(0)
    quotas = {g: total * c // t_total for g, c in sorted(tcounts.items())}
    qmap = F.create_map(
        *[x for g, q in quotas.items() for x in (F.lit(g), F.lit(q))]
    )
    return _hash_rank_take(
        df.withColumn("__quota", qmap[F.col(group_col)]).where(
            F.col("__quota") > 0
        ),
        group_col,
        key_col,
        # the collected counts here are the TARGET's, not df's, so auto
        # still needs df's own route — the static probe answers it free
        skew_safe=_static_skew_route(df, skew_safe),
    )


def weighted_sample_topk(
    df: DataFrame,
    key_col: str,
    weight_col,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis-Spirakis A-ES): each row draws the reservoir key
    ln(u) / w with u a uniform derived from md5(key), and the k
    largest keys are the sample — inclusion probability proportional
    to weight, exactly one pass, no replacement bookkeeping.

    Determinism/portability: u = (hash32(key) + 0.5) / 2^32 is exact
    in both engines; the key is rounded to 12dp with a
    (key DESC)-then-id tie-break so the selected set is reproducible
    bit-for-bit outside Spark (the audit requirement every
    ``rand()``-based sampler fails). 12dp is the sweet spot: libm ln
    differs across engines only in the last ulp (< 4e-15 for |key| <=
    |ln(2^-32)| ~ 23), which 1e-12 granularity absorbs, while keys
    keep full A-ES resolution for weights up to ~1e8 (at weight w the
    key magnitude is <= 23/w; 6dp collapsed weights above ~1e4 onto a
    few thousand plateau values, degrading heavy-row selection to
    id-order — the round-5 advice finding). Weights beyond 1e8 should
    be rescaled (inclusion probability only depends on relative
    weight).

    Scale shape (100 TB): key computation is row-local; selection is
    a TakeOrdered top-k (per-partition heaps, no global sort, no
    shuffle of the data — only k rows reach the driver-side merge).
    Weights must be >= 1 (guard with greatest()).
    """
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (
        hash_bucket(key_col, 4_294_967_296).cast("double") + F.lit(0.5)
    ) / F.lit(4_294_967_296.0)
    # ln(u) < 0, so larger weight -> key closer to 0 -> more likely
    # in the top-k, the A-ES ordering (equivalent to u^(1/w) DESC)
    rank_key = F.round(F.log(u) / F.greatest(w.cast("double"), F.lit(1.0)), 12)
    return (
        df.withColumn("__res_key", rank_key)
        .orderBy(F.col("__res_key").desc(), F.col(key_col))
        .limit(k)
        .drop("__res_key")
    )


def stratified_kfold(
    df: DataFrame,
    key_col: str,
    strata_col: str,
    k: int = 5,
) -> DataFrame:
    """Adds a ``fold`` column in [0, k): within every stratum rows are
    ranked by (md5-hash, key) and folds assigned round-robin — so fold
    sizes within a stratum differ by AT MOST ONE (exact balance, which
    the probabilistic hash_split cannot promise for small strata: a
    20-row language would routinely land 0 rows in some fold at k=5).

    Cross-validation contract: every row appears in exactly one fold;
    fold membership is a pure function of (key, stratum, k) —
    recomputable by any engine, stable across cluster sizes and reruns.

    Scale shape (100 TB): one shuffle on ``strata_col`` for the
    row_number window; strata are language/source-sized (thousands of
    groups, each large), so AQE handles size variance. For a skewed
    mega-stratum swap in the hash-bucket assignment (hash_split) where
    exact balance stops mattering at that size.
    """
    win = Window.partitionBy(strata_col).orderBy(
        hash_bucket(key_col, 1_000_000_007), F.col(key_col)
    )
    return df.withColumn(
        "fold", (F.row_number().over(win) - F.lit(1)) % F.lit(k)
    )
