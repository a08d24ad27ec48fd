"""Graph analytics over relational edge lists: degree census and
deterministic integer PageRank.

Connected components live in text_dedup (star contraction, or a
driver union-find for small graphs — the dedup clustering engine);
this module adds the centrality side. Everything runs on an
undirected pair list ``(id_a, id_b)`` — the same shape the dedup and
co-purchase queries already produce.

PageRank here is EXACT-INTEGER: ranks are BIGINT micro-units, the
damping factor is the exact rational 85/100, and each node's
distributed share uses the signed half-up division the k-means fit
already standardized — so a fixed-iteration run is a pure function of
the edge list that DuckDB re-derives bit-for-bit (unrolled-CTE twin),
unlike float PageRank whose partial-sum order wobbles ranks across
runs. Per-share rounding means total mass is conserved only to
±0.5 micro-unit per (node, neighbor) pair per round — a diagnostic
ranking tolerance, documented rather than hidden.

Scale shape (100 TB): each iteration is one equi-join of the rank
table (one BIGINT per node) to the edge list plus one map-side-
combinable groupBy — the classic broadcast-model iteration with
O(edges) shuffle per round; localCheckpoint keeps the plan flat.
Degree census is a single groupBy over the doubled edge list.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MICRO = 1_000_000


def _undirected(pairs: DataFrame) -> DataFrame:
    """Both directions, self-loops dropped, deduped."""
    und = pairs.select("id_a", "id_b").where(
        F.col("id_a") != F.col("id_b")
    ).distinct()
    return und.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(und.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst")))


def degree_stats(pairs: DataFrame) -> DataFrame:
    """Per-node degree over the undirected pair list: ``id, degree``."""
    return (
        _undirected(pairs)
        .groupBy(F.col("src").alias("id"))
        .agg(F.count(F.lit(1)).alias("degree"))
    )


def pagerank_exact(
    pairs: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
) -> DataFrame:
    """(id, rank_micro) after ``iters`` rounds of integer PageRank on
    the undirected graph: init 1,000,000 micro-units per node;
    update r'(v) = (100-d)% of MICRO + d% of the half-up-divided
    shares arriving from v's neighbors. ``damping_pct`` is the exact
    integer percentage (85 = the standard 0.85).

    Every node in the pair list has degree >= 1 (self-loops dropped,
    isolated nodes never appear), so there is no dangling-mass term.
    Fixed iterations, exact arithmetic: reproducible by any engine.
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    edges = _undirected(pairs).localCheckpoint()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    ranks = deg.select(
        F.col("src").alias("id"), F.lit(MICRO).cast("long").alias("rank_micro")
    )
    base = (100 - damping_pct) * MICRO // 100
    # signed half-up division (functions share the convention with
    # similarity._halfup_div; ranks are non-negative so the simple
    # form suffices and the oracle mirrors it)
    for _ in range(iters):
        shares = (
            edges.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(deg, "src")
            .select(
                F.col("dst").alias("id"),
                F.expr(
                    "CAST((2 * rank_micro + deg) div (2 * deg) AS BIGINT)"
                ).alias("share"),
            )
        )
        ranks = (
            shares.groupBy("id")
            .agg(F.sum("share").alias("__in"))
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"CAST(({damping_pct} * __in) div 100 AS BIGINT)"
                    )
                ).alias("rank_micro"),
            )
            .localCheckpoint()
        )
    return ranks


def pagerank_exact_directed(
    edges: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    checkpoint_every: int = 4,
) -> DataFrame:
    """(id, rank_micro) after ``iters`` rounds of integer PageRank on
    a DIRECTED edge list ``(src, dst)`` — the web-link-graph variant
    of :func:`pagerank_exact`: each node splits its rank over its
    OUT-edges (half-up integer division, same convention), and every
    node in the graph — including pure sinks with no out-edges —
    appears in every round's output.

    Two documented simplifications keep the fixed-iteration run an
    exact pure function of the edge list (so the DuckDB unrolled-CTE
    twin is bit-for-bit): duplicate (src, dst) rows collapse to one
    edge (endorsement, not multiplicity), and DANGLING MASS IS
    DROPPED — a sink's rank is not redistributed, the common
    "lumped-teleport-omitted" variant. Rankings are a diagnostic
    quality signal; mass conservation is not the contract.

    Scale shape: per round, one equi-join of the rank table (one
    BIGINT per node) to the edge list plus a map-side-combinable
    groupBy — O(edges) shuffle per round on a host graph whose size
    is frontier-bounded, never page-bounded. Unlike the undirected
    kernel, rounds are LAZY by default: an eager localCheckpoint per
    round costs one driver job each, which dominates wall-clock at
    the common 3-round depth (measured ~10s -> <1s warm on a
    180-edge host graph), while a 3-round lineage is shallow enough
    for one AQE-planned job with exchange reuse across rounds. Past
    ``checkpoint_every`` rounds the plan nests enough joins that
    ranks checkpoint on that cadence (and the edge/node tables are
    pinned up front so checkpoint jobs never re-derive an expensive
    upstream extraction per round).
    """
    if not 0 <= damping_pct <= 100:
        raise ValueError("damping_pct must be in [0, 100]")
    e = (
        edges.select("src", "dst")
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    nodes = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    will_checkpoint = bool(checkpoint_every) and iters > checkpoint_every
    if will_checkpoint:
        e = e.localCheckpoint()
        nodes = nodes.localCheckpoint()
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ranks = nodes.select("id", F.lit(MICRO).cast("long").alias("rank_micro"))
    base = (100 - damping_pct) * MICRO // 100
    for i in range(iters):
        inflow = (
            e.join(ranks.withColumnRenamed("id", "src"), "src")
            .join(outdeg, "src")
            .select(
                F.col("dst").alias("id"),
                F.expr(
                    "CAST((2 * rank_micro + od) div (2 * od) AS BIGINT)"
                ).alias("share"),
            )
            .groupBy("id")
            .agg(F.sum("share").alias("__in"))
        )
        ranks = (
            nodes.join(inflow, "id", "left")
            .select(
                "id",
                (
                    F.lit(base)
                    + F.expr(
                        f"CAST(({damping_pct} * coalesce(__in, 0)) div 100"
                        " AS BIGINT)"
                    )
                ).alias("rank_micro"),
            )
        )
        if will_checkpoint and (i + 1) % checkpoint_every == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint()
    return ranks


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    via DEGREE-ORIENTED wedge counting (the MapReduce-standard trick:
    Suri & Vassilvitskii, "Counting Triangles and the Curse of the
    Last Reducer", WWW'11).

    Each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one. The orientation is acyclic and bounds
    every node's OUT-degree by O(sqrt(m)) regardless of how large its
    real degree is — so the wedge self-join below never quadratically
    explodes on a celebrity hub, which is exactly what kills the naive
    id-ordered formulation at 100 TB. In a triangle {a, b, c} ordered
    by (degree, id), the oriented edges are a->b, a->c, b->c: the
    wedge generated at the LOWEST corner (b, c) is confirmed by one
    hash equi-join against the oriented edge list, counting each
    triangle exactly once with no dedup pass.

    Shape: degree census (one groupBy), orientation (broadcast-sized
    degree table joined twice — or shuffled if large; Catalyst/AQE
    picks), one self-join on the wedge apex, one confirm equi-join,
    one final groupBy. All equi-joins, no cartesian.

    Output: ``id, degree, triangles, clustering_coeff`` for every
    node with degree >= 1; ``clustering_coeff`` is
    ``2*T / (d*(d-1))`` rounded to 6dp (0.0 for degree-1 nodes).
    """
    edges = pairs.select("id_a", "id_b").where(
        F.col("id_a") != F.col("id_b")
    ).select(
        F.least("id_a", "id_b").alias("u"), F.greatest("id_a", "id_b").alias("v")
    ).distinct()
    deg = degree_stats(edges.select(F.col("u").alias("id_a"), F.col("v").alias("id_b")))
    du = deg.select(F.col("id").alias("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("degree").alias("dv"))
    # orient by (degree, id): lo -> hi
    lo_is_u = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = (
        edges.join(du, "u").join(dv, "v")
        .select(
            F.when(lo_is_u, F.col("u")).otherwise(F.col("v")).alias("lo"),
            F.when(lo_is_u, F.col("v")).otherwise(F.col("u")).alias("hi"),
        )
    )
    # wedges at the lowest corner: two out-neighbors of the same node,
    # ordered by the SAME (degree, id) orientation so (x, y) matches
    # the oriented confirm edge x -> y directly.
    a = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("x"))
    b = oriented.select(F.col("lo").alias("apex"), F.col("hi").alias("y"))
    wedges = a.join(b, "apex").where(F.col("x") != F.col("y"))
    confirm = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    tri = wedges.join(confirm, ["x", "y"]).select(
        F.col("apex").alias("n1"), F.col("x").alias("n2"), F.col("y").alias("n3")
    )
    per_node = (
        tri.select(F.col("n1").alias("id"))
        .unionByName(tri.select(F.col("n2").alias("id")))
        .unionByName(tri.select(F.col("n3").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    return (
        deg.join(per_node, "id", "left")
        .select(
            "id",
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangles"),
            F.when(
                F.col("degree") >= 2,
                F.round(
                    2.0
                    * F.coalesce(F.col("triangles"), F.lit(0)).cast("double")
                    / (F.col("degree").cast("double") * (F.col("degree") - 1).cast("double")),
                    6,
                ),
            )
            .otherwise(F.lit(0.0))
            .alias("clustering_coeff"),
        )
    )


def kcore_members(pairs: DataFrame, k: int, max_rounds: int = 30) -> DataFrame:
    """Nodes of the k-core (maximal subgraph where every node has
    degree >= k) by iterative peeling: drop all nodes with current
    degree < k, recompute, repeat until a fixpoint.

    Shape per round: one map-side-combined degree census + one
    broadcast-friendly LEFT ANTI join per edge endpoint — O(edges)
    shuffle rows, no driver-side graph state. The only driver values
    are one COUNT per round (the loop condition — O(1) bytes) and
    ``localCheckpoint`` to keep the plan from deepening linearly in
    rounds (same lineage discipline as pagerank_exact).

    Rounds are data-dependent (a path graph peels one layer per
    round); if ``max_rounds`` peels happen without reaching the
    fixpoint the operator RAISES rather than returning a superset that
    silently isn't a k-core — the same honest-failure contract as
    text_dedup's star contraction. Each peel strictly removes >= 1
    node, so ``max_rounds = node count`` always suffices: the loop
    runs ``max_rounds + 1`` iterations so the emptiness check is
    observed once more AFTER the final possible peel (without the +1,
    a graph needing exactly ``max_rounds`` peels would raise despite
    having converged).

    Output: ``id, core_degree`` (degree inside the k-core) for every
    member node.
    """
    # Eager checkpoint of the edge list at entry: the producing subplan
    # (typically an expensive pair census) would otherwise execute once
    # for round 1's degree census AND again when round 1's survivor
    # set is checkpointed — r7 profiling showed that double execution,
    # not the peeling, dominated part_kcore. The edge list itself is
    # the bounded relation here (O(edges), already the loop's working
    # set), so materializing it once is strictly cheaper.
    und = _undirected(pairs).localCheckpoint(eager=True)
    alive = und
    for _ in range(max_rounds + 1):
        deg = alive.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
        weak = deg.where(F.col("deg") < k).select("src")
        if weak.isEmpty():
            return deg.select(
                F.col("src").alias("id"), F.col("deg").cast("long").alias("core_degree")
            )
        alive = (
            alive.join(weak, "src", "left_anti")
            .join(weak.withColumnRenamed("src", "dst"), "dst", "left_anti")
            .select("src", "dst")
            .localCheckpoint(eager=True)
        )
    raise RuntimeError(
        f"k-core peeling did not converge within {max_rounds} rounds; "
        "raise max_rounds (each round removes at least one node, so "
        "node count is a safe upper bound)"
    )


def label_propagation(
    pairs: DataFrame,
    iters: int = 4,
) -> DataFrame:
    """(id, community) after ``iters`` SYNCHRONOUS label-propagation
    rounds on the undirected graph: every node starts as its own label;
    each round every node adopts its neighbors' MODE label, ties broken
    to the SMALLEST label. Synchronous updates + deterministic
    tie-break = bit-identical in any engine (asynchronous LPA's
    order-dependence is exactly what an oracle cannot reproduce).

    Per round: one (neighbor-label) equi-join, one (node, label)
    census, one min(struct(-count, label)) extremum — all
    map-side-combinable, O(edges) shuffle, no windows
    (PERF.md finding 18's sort-free mode). Fixed rounds keep the plan
    finite; localCheckpoint flattens lineage between rounds, same as
    pagerank_exact. Convergence is NOT guaranteed in ``iters`` rounds
    (bipartite structures can oscillate) — the operator reports the
    round-``iters`` labeling, which the unrolled oracle reproduces
    exactly; callers wanting a fixpoint should compare successive
    rounds."""
    edges = _undirected(pairs).localCheckpoint()
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for _ in range(iters):
        counted = (
            edges.join(labels.withColumnRenamed("id", "src"), "src")
            .groupBy(F.col("dst").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        labels = (
            counted.groupBy("id")
            .agg(
                F.min(
                    F.struct((-F.col("__cnt")).alias("nc"), F.col("label").alias("lab"))
                ).getField("lab").alias("label")
            )
            .localCheckpoint()
        )
    return labels.select("id", F.col("label").alias("community"))
