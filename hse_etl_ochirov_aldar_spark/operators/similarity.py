"""Embedding similarity search (north-star ops, BASELINE.json).

Two paths over an ``array<float>`` embedding column:

- brute-force cosine top-k: the exact baseline. Query set is broadcast;
  each partition scores its rows and keeps a local top-k via window
  rank on the (already small) per-query candidate sets.
- IVF-style bucketed search: a coarse quantizer (here: the clustering
  label column, standing in for k-means cell ids) restricts scoring to
  the probe's cell — the classic inverted-file trade of recall for a
  |cells|-fold cost cut. At 100 TB this is the difference between
  scanning everything per query and scanning one shard.

All vector math is sequential folds over zipped arrays (JVM codegen,
double precision) — deterministic, hence oracle-comparable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from ._plan import spread_small_input


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    ``queries`` (query_id, embedding) is broadcast — the corpus streams
    once regardless of query count. Ranking uses the cosine rounded to
    ``scale`` decimals with id tie-break, making order deterministic
    across engines. Self-matches are excluded when ids collide.
    """
    # norms once per row on each side of the join barrier (the
    # cosine_dup_ids pattern): every (query, corpus) pair pays one dot
    # instead of three array folds; the double math is unchanged
    # (dot / (nq * nc)), so rounded results are bit-identical
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("__nq"),
        )
    )
    scored = (
        spread_small_input(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
                _norm(F.col(vec_col)).alias("__nc"),
            )
        )
        .crossJoin(q)
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("__nq") * F.col("__nc")),
                scale,
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def embedding_near_dup_ids(
    vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    scale: int = 6,
) -> DataFrame:
    """Ids of embedding-cosine near-duplicates (north-star dedup op).

    A vector is a duplicate iff some vector with a SMALLER id has
    cosine >= ``threshold`` against it (keep-first semantics, matching
    the reference's dedup-keeps-one contract,
    mongo_to_postgres_replication.py:35-39 — here 'first' = lowest id,
    deterministic). Non-iterative by design: unlike connected-component
    clustering this is one self-join, SQL-expressible, and
    oracle-comparable.

    ``block_col=None`` compares all pairs (exact, O(n^2) — the
    correctness baseline). At scale pass a coarse-quantizer cell column
    (from ``assign_cells``; multi-probe inputs with several rows per
    vector are fine) to only compare within cells — the same
    recall-for-cost trade as IVF search; true near-dups land in the
    same cell for any sane quantizer.

    Blocked path is candidates-then-verify: the within-cell self-join
    runs over (cell, id) rows ONLY — the shuffle never carries vector
    payloads, and each distinct candidate pair is scored exactly once
    even when multi-probe makes it collide in several cells (the naive
    vectors-in-the-join form paid the cosine up to n_probe^2 times per
    pair and shuffled the embeddings with it).
    """
    if block_col:
        # explicit width for the within-cell pair fanout (r12; the
        # cosine_dup_ids / basket precedent): the (cell, id) rows are
        # ~16 bytes so AQE coalesces the self-join to 1-2 tasks, but
        # the per-row cost is the quadratic within-cell pair expansion
        # + distinct. One repartition feeds both sides.
        target = vectors.sparkSession.sparkContext.defaultParallelism
        ids = vectors.select(
            F.col(block_col).alias("_cell"), F.col(id_col).alias("_id")
        ).repartition(target, "_cell")
        a, b = ids.alias("a"), ids.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a._cell") == F.col("b._cell"))
                & (F.col("a._id") < F.col("b._id")),
            )
            .select(
                F.col("a._id").alias("_a_id"), F.col("b._id").alias("_b_id")
            )
            .distinct()
        )
        return cosine_dup_ids(vectors, cand, threshold, id_col, vec_col, scale)
    else:
        left = spread_small_input(
            vectors.select(
                F.col(id_col).alias("_a_id"), F.col(vec_col).alias("_a_vec")
            )
        )
        right = vectors.select(
            F.col(id_col).alias("_b_id"), F.col(vec_col).alias("_b_vec")
        )
        pairs = left.crossJoin(right).where(F.col("_a_id") < F.col("_b_id"))
    return (
        pairs.where(
            F.round(cosine(F.col("_a_vec"), F.col("_b_vec")), scale) >= threshold
        )
        .select(F.col("_b_id").alias(id_col))
        .distinct()
    )


def cosine_dup_ids(
    vectors: DataFrame,
    cand: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """Verify candidate pairs (``_a_id``, ``_b_id``) by exact cosine;
    return the higher ids of pairs at/above ``threshold`` (the dedup
    losers). Per-vector norms are computed ONCE on the lookup side (the
    join is a projection barrier, so CollapseProject cannot re-inline
    the fold into the per-pair expression); each scored pair pays a
    single dot.

    The candidate stream is explicitly repartitioned by key: its BYTE
    size is tiny (two longs/row) so AQE coalesces it onto one or two
    reducers — but its per-row COMPUTE (a dim-wide fold per pair) is
    the whole cost of the stage, and Catalyst cannot see that. Without
    the repartition, the measured plan ran every cosine on a single
    task (and Spark chose to broadcast the fat pair+vector side).
    The (id, vec, norm) table is broadcast to every task — right
    whenever the vector table fits the broadcast cap (into the
    ~10M-vector range at dim 64).
    """
    base = (
        vectors.select(F.col(id_col), F.col(vec_col))
        .dropDuplicates([id_col])
        .select(
            F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
        )
    )
    target = vectors.sparkSession.sparkContext.defaultParallelism
    pairs = cand.repartition(target, "_a_id").join(
        F.broadcast(
            base.select(
                F.col(id_col).alias("_a_id"),
                F.col(vec_col).alias("_a_vec"),
                F.col("_nrm").alias("_a_nrm"),
            )
        ),
        "_a_id",
    ).join(
        F.broadcast(
            base.select(
                F.col(id_col).alias("_b_id"),
                F.col(vec_col).alias("_b_vec"),
                F.col("_nrm").alias("_b_nrm"),
            )
        ),
        "_b_id",
    )
    return (
        pairs.where(
            F.round(
                _dot(F.col("_a_vec"), F.col("_b_vec"))
                / (F.col("_a_nrm") * F.col("_b_nrm")),
                scale,
            )
            >= threshold
        )
        .select(F.col("_b_id").alias(id_col))
        .distinct()
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    query_id_col: str = "query_id",
    scale: int = 6,
) -> DataFrame:
    """IVF-bucketed top-k: score only corpus rows in the query's cell.

    The cell assignment here is the precomputed ``label`` column (the
    coarse quantizer's output); in a full system the quantizer is a
    k-means fit + nearest-centroid assignment, and multi-probe extends
    the join to the p nearest cells. The equi-join on cell id replaces
    the cross join — shuffle-partitioned by cell, broadcast when the
    query side is small.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("__nq"),
            F.col(cell_col).alias("q_cell"),
        )
    )
    scored = (
        spread_small_input(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
                _norm(F.col(vec_col)).alias("__nc"),
                F.col(cell_col).alias("c_cell"),
            )
        )
        .join(q, F.col("c_cell") == F.col("q_cell"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("__nq") * F.col("__nc")),
                scale,
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


# --- IVF with a real k-means coarse quantizer ------------------------------


def sampled_centroids(
    vectors: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic sampled-centroid quantizer: ``n_cells`` corpus
    vectors chosen by hash order of their ids (xxhash64 — a seeded
    pseudo-random, reproducible sample) become the cell directions.

    This is exactly k-means' seeding step with zero Lloyd rounds — the
    right cost point for DEDUP BLOCKING, where cell quality only moves
    efficiency, never correctness: cosine assignment is scale-invariant
    for ANY centroid set, so near-identical vectors co-locate
    regardless, and multi-probe covers boundary error. Spend Lloyd
    iterations (exact_kmeans_centroids) when cells gate search recall
    (ann_ivf_kmeans_topk), not here. No ML fit, no iterations: one
    top-n_cells collect of the sample."""
    rows = (
        vectors.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        .orderBy(F.xxhash64(F.col("_id")), F.col("_id"))
        .limit(n_cells)
        .collect()
    )
    out = [
        (i, [float(x) for x in r["_v"]]) for i, r in enumerate(rows)
    ]
    return vectors.sparkSession.createDataFrame(
        out, "cell_id INT, centroid ARRAY<DOUBLE>"
    )


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x.cast("double") - y.cast("double")) ** 2),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_cells(
    vectors: DataFrame,
    centroids: DataFrame,
    n_probe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "l2",
) -> DataFrame:
    """Nearest-centroid assignment as a broadcast join + rank: each
    vector gets its ``n_probe`` closest cells (one output row per
    (vector, probe)). n_probe=1 labels a corpus; n_probe>1 implements
    multi-probe search on the query side — the standard recall knob.
    Deterministic tie-break on cell_id.

    ``metric="cosine"`` assigns by direction only — scale-INVARIANT,
    so a vector and any positive scalar multiple of it land in the
    same cell. That is the correct quantizer for cosine-threshold
    dedup, where duplicates are defined up to magnitude. Ranking drops
    the |v| factor (constant per vector, cannot change its own
    ranking) and precomputes |c| on the 16-row broadcast side — one
    array fold per (vector, centroid) instead of three."""
    from pyspark.sql import Window

    if metric == "cosine":
        centroids = centroids.select(
            "cell_id", "centroid", _norm(F.col("centroid")).alias("__cn")
        )
        dist = -(_dot(F.col(vec_col), F.col("centroid")) / F.col("__cn"))
    else:
        dist = _l2sq(F.col(vec_col), F.col("centroid"))
    scored = (
        spread_small_input(vectors)
        .crossJoin(F.broadcast(centroids))
        .select("*", dist.alias("__d2"))
    )
    w = Window.partitionBy(id_col).orderBy(F.asc("__d2"), F.asc("cell_id"))
    return (
        scored.withColumn("__pr", F.row_number().over(w))
        .where(F.col("__pr") <= n_probe)
        .drop("centroid", "__cn", "__d2", "__pr")
    )


# --- exact-arithmetic IVF (deterministic, oracle-comparable) ----------------


def _halfup_div(s: int, n: int) -> int:
    """Signed half-up integer division s/n (n > 0), identical to the
    SQL twin in queries.ORACLE_ANN_IVF_KMEANS: both split on sign so
    engine floor-vs-truncate differences never apply."""
    return (2 * s + n) // (2 * n) if s >= 0 else -((-2 * s + n) // (2 * n))


def micro_vec(vec: Column, scale: int = 6) -> Column:
    """array<float> -> array<bigint> exact micro-units (functions.exact
    pattern lifted to vectors): round(x * 10^scale) per component. All
    downstream quantizer math is then BIGINT — order-independent and
    bit-identical across engines."""
    m = F.lit(float(10**scale))
    return F.transform(
        vec, lambda x: F.round(x.cast("double") * m, 0).cast("long")
    )


def _cell_ranks(vcol: Column, cents: list[list[int]]) -> Column:
    """Array of cell ids sorted by (exact distance, cell_id) — struct
    ordering gives the deterministic tie-break for free.

    The centroid matrix enters the plan as ONE array<array<bigint>>
    literal and the per-cell distance is an indexed transform over it,
    not n_cells x dims separate F.lit nodes: the unrolled form built a
    ~4k-node expression tree whose Catalyst analysis alone cost ~1s
    PER ITERATION of the Lloyd loop (measured r4; the fit does iters+2
    such plans), swamping the actual work on small inputs."""
    mat = F.lit([[int(x) for x in c] for c in cents])
    return F.transform(
        F.sort_array(
            F.transform(
                mat,
                lambda cent, i: F.struct(
                    F.aggregate(
                        F.zip_with(vcol, cent, lambda x, y: (x - y) * (x - y)),
                        F.lit(0).cast("long"),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    i.cast("long").alias("cell_id"),
                ),
            )
        ),
        lambda s: s["cell_id"],
    )


def _local_lloyd(
    vecs: list[list[int]], n_cells: int, iters: int
) -> list[list[int]]:
    """Driver-local exact Lloyd over an ALREADY hash-rank-ordered,
    cap-bounded micro-vector sample — the same integer math as the
    distributed path (init = first ``n_cells`` rows, argmin with
    first-min/lowest-cell tie-break, signed half-up mean), so for a
    sample that covers the whole corpus the centroids are
    bit-identical. numpy int64 throughout; bounds: |component| <=
    ~2e6 micro-units -> squares <= 4e12, 64-dim distance sums <=
    ~3e14, cap-bounded update sums <= cap * 2e6 — all far inside
    int64."""
    import numpy as np

    V = np.asarray(vecs, dtype=np.int64)
    cents = V[:n_cells].copy()
    for _ in range(iters):
        d = ((V[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)  # first-min == lowest cell_id tie-break
        new = cents.copy()
        for c in range(n_cells):
            mask = lab == c
            n_c = int(mask.sum())
            if n_c:  # empty cells keep their previous centroid
                s = V[mask].sum(axis=0)
                new[c] = np.array(
                    [_halfup_div(int(x), n_c) for x in s], dtype=np.int64
                )
        cents = new
    return [[int(x) for x in row] for row in cents]


def exact_kmeans_centroids(
    vectors: DataFrame,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    sample_cap: int | None = None,
) -> list[list[int]]:
    """Deterministic Lloyd k-means in exact BIGINT micro-unit
    arithmetic; returns the centroid micro-vectors as Python ints.

    Why not pyspark.ml KMeans: its float
    partial sums combine in shuffle-fetch order, so centroids — and
    boundary assignments — can flip between runs, which is why the
    round-1/2 catalog entry was rows-only. Here every step is
    order-independent integer math, so the fit is a pure function of
    the data and SQL-expressible (the DuckDB twin unrolls the same
    iterations):

    - init: the ``n_cells`` vectors ranked first by
      (md5-hash32(id), id) — a seeded, engine-portable sample
      (sampled_centroids' hash trick with the portable hash).
    - assign: argmin over cells of exact squared L2 on micro-units,
      tie-break on cell_id.
    - update: per-dimension BIGINT sums, signed half-up division;
      empty cells keep their previous centroid.

    Scale shape: each iteration is one full-corpus scan reduced to
    n_cells x dims BIGINTs (map-side partials; the groupBy key has
    n_cells values). Centroids live on the driver (n_cells x dims ints,
    bounded and tiny) and re-enter the plan as literals — the classic
    broadcast-model iteration. iters is fixed and small: the quantizer
    gates efficiency/recall, not correctness, so convergence is not
    chased (same trade as sampled_centroids).

    ``sample_cap``: fit on the first ``sample_cap`` vectors by
    (md5-hash32(id), id) — the production quantizer shape at 100 TB
    (FAISS-style sample-fit: the coarse quantizer is trained on a
    bounded sample, never the full corpus). One TakeOrdered job
    (map-side partial top-cap, no full sort) collects <= cap
    micro-vectors (cap * dims BIGINTs — a documented bounded collect)
    and the Lloyd loop runs driver-local in the identical integer
    arithmetic (_local_lloyd). When the corpus has <= cap vectors the
    sample IS the corpus and the centroids are bit-identical to the
    distributed path (asserted in tests), so the DuckDB twins
    (_kmeans_label_ctes with the same cap) stay exact at any SF.
    Replaces iters+2 scan jobs with one — at bench scale the fit cost
    is per-job fixed overhead, not arithmetic.

    The distributed path's assign step runs cell_labels_frame on the
    cached micro-vector projection (pre_quantized; the same argmin and
    tie-break as ``_cell_ranks``, bit-identical).
    """
    from .text_dedup import md5_hash32

    if sample_cap is not None:
        if sample_cap < n_cells:
            raise ValueError("sample_cap must be >= n_cells")
        rows = (
            vectors.select(
                F.col(id_col).alias("_id"),
                micro_vec(F.col(vec_col), scale).alias("_v"),
            )
            .orderBy(md5_hash32(F.col("_id").cast("string")), F.col("_id"))
            .limit(sample_cap)
            .collect()
        )
        return _local_lloyd([[int(x) for x in r["_v"]] for r in rows], n_cells, iters)

    # spread: a small corpus read from one parquet file would run every
    # assign scan's distance math on a single core; at real scale the
    # guard makes this a no-op. cache(): the projection
    # is re-scanned iters+1 times; eviction under memory pressure just
    # recomputes — at 100 TB swap for a written-out quantized staging
    # table (same plan shape, storage-backed).
    qv = spread_small_input(
        vectors.select(
            F.col(id_col).alias("_id"),
            micro_vec(F.col(vec_col), scale).alias("_v"),
        )
    )
    qv = qv.cache()
    try:
        init_rows = (
            qv.orderBy(md5_hash32(F.col("_id").cast("string")), F.col("_id"))
            .limit(n_cells)
            .collect()
        )
        cents = [[int(x) for x in r["_v"]] for r in init_rows]
        dims = len(cents[0])
        for _ in range(iters):
            assigned = cell_labels_frame(
                qv, cents, vec_col="_v", pre_quantized=True
            ).select(F.col("cluster_id").alias("_cell"), "_v")
            agg = assigned.groupBy("_cell").agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    F.sum(F.element_at(F.col("_v"), i + 1)).alias(f"_s{i}")
                    for i in range(dims)
                ],
            )
            new_cents = [list(c) for c in cents]
            for r in agg.collect():  # <= n_cells rows, bounded
                new_cents[int(r["_cell"])] = [
                    _halfup_div(int(r[f"_s{i}"]), int(r["_n"]))
                    for i in range(dims)
                ]
            cents = new_cents
    finally:
        qv.unpersist()
    return cents


def ivf_kmeans_exact_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 8,
    n_probe: int = 2,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    scale: int = 6,
    centroids: list[list[int]] | None = None,
    sample_cap: int | None = None,
) -> DataFrame:
    """End-to-end IVF search on the exact-arithmetic quantizer: fit
    (exact_kmeans_centroids) -> label corpus (1 cell each, literal
    centroid argmin — no join) -> multi-probe queries (n_probe cells)
    -> exact cosine top-k within probed cells.

    Fully deterministic, so unlike a pyspark.ml KMeans fit it carries
    a DuckDB oracle (ORACLE_ANN_IVF_KMEANS) that re-derives the same centroids,
    labels, probes, and ranking. Search cost is the same
    ~n_probe/n_cells corpus fraction per query.

    ``centroids`` (micro-unit int vectors) skips the in-line fit — the
    production IVF shape: the coarse quantizer is fit once offline and
    reused for every search batch (same seam as semantic_dedup_flags /
    cluster_balanced_sample).
    """
    cents = centroids if centroids is not None else exact_kmeans_centroids(
        corpus, n_cells, iters, id_col, vec_col, scale, sample_cap
    )
    # spread BEFORE labeling (r8, PERF finding 26): the argmin is this
    # plan's per-row CPU cost, and an Exchange above the labeling stage
    # would only spread the finished rows. No-op at real scale. The
    # Arrow kernel labels and passes (id, vec) through losslessly
    # (join-free); the norm is the same JVM expression on the same
    # values, computed above the kernel.
    labeled = cell_labels_frame(
        spread_small_input(corpus.select(id_col, vec_col)), cents,
        vec_col=vec_col, scale=scale,
    ).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        _norm(F.col(vec_col)).alias("__nc"),
        F.col("cluster_id").alias("c_cell"),
    )
    probes = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        _norm(F.col(vec_col)).alias("__nq"),
        F.explode(
            F.slice(
                _cell_ranks(micro_vec(F.col(vec_col), scale), cents),
                1,
                n_probe,
            )
        ).alias("q_cell"),
    )
    scored = (
        labeled
        .join(F.broadcast(probes), F.col("c_cell") == F.col("q_cell"))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("__nq") * F.col("__nc")),
                6,
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def semantic_dedup_flags(
    vectors: DataFrame,
    threshold: float = 0.45,
    n_cells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    centroids: list[list[int]] | None = None,
    sample_cap: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) flags: cluster the
    corpus with the exact-integer k-means fit, then mark as redundant
    every vector that has a same-cluster neighbor with smaller id at
    cosine >= ``threshold`` (keep-first semantics, matching the other
    dedup families).

    Differs from ``embedding_near_dup_ids`` with quantizer blocking in
    both intent and mechanics: there the cells are a recall structure
    (multi-probe, threshold ~0.95, drop only true near-copies); here the
    clustering IS the semantic grouping (single assignment, learned
    Lloyd centroids, moderate threshold) and cross-cluster pairs are
    deliberately never compared — the SemDeDup trade that makes pruning
    O(sum of cluster sizes squared) instead of O(n^2).

    Scale shape: the fit is iters full scans reduced to n_cells x dims
    BIGINTs; labeling is a literal-centroid argmin (no join, no
    shuffle); the candidate self-join runs on (cluster, id) pairs only
    (embedding payloads stay out of the shuffle, cosine is paid once
    per distinct pair via cosine_dup_ids). At 100 TB size n_cells so
    the expected cluster population keeps the pair space tractable
    (PERF.md finding 8's sizing rule applies unchanged).

    Returns the input columns + ``cluster_id`` + boolean ``is_dup``.
    Fully deterministic -> carries a DuckDB oracle
    (queries.ORACLE_SEMANTIC_DEDUP re-derives fit, labels, and flags).

    ``centroids`` (micro-unit int vectors) skips the in-line fit —
    the production shape for repeated runs over a growing corpus: fit
    once offline (exact_kmeans_centroids, or a hash-sample via
    sampled_centroids quantized through micro_vec), reuse per batch.

    Labels come from the Arrow labeling kernel with column passthrough
    (no label join). ``labeled`` feeds several consumers (pair mining,
    the cosine lookups and the flag join) and is deliberately not
    persisted: relabeling is cheaper than a cache build
    (cluster_balanced_sample's r9 measurement).
    """
    cents = centroids if centroids is not None else exact_kmeans_centroids(
        vectors, n_cells, iters, id_col, vec_col, scale, sample_cap
    )
    labeled = cell_labels_frame(
        spread_small_input(vectors), cents, vec_col=vec_col, scale=scale
    )
    dup_ids = embedding_near_dup_ids(
        labeled, threshold, id_col, vec_col, block_col="cluster_id", scale=scale
    )
    return labeled.join(
        dup_ids.withColumn("is_dup", F.lit(True)), id_col, "left"
    ).withColumn("is_dup", F.coalesce(F.col("is_dup"), F.lit(False)))


def hard_negative_mining(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    max_cos: float = 0.99,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    query_id_col: str = "query_id",
    scale: int = 6,
) -> DataFrame:
    """Hard negatives for contrastive training: for each query vector,
    the top-``k`` most-cosine-similar corpus vectors whose label
    DIFFERS from the query's — the negatives that actually move a
    contrastive loss (random negatives are trivially separable; the
    near-boundary ones carry the gradient signal).

    ``max_cos`` additionally screens out false negatives: a
    different-label vector at cosine ~1.0 is almost surely a labeling
    error or near-duplicate, and training against it as a negative is
    poison — the standard hard-negative-mining guard.

    Same scale shape as brute_force_topk: the query set broadcasts
    (queries are batch-sized, the corpus is the 100 TB side), the
    corpus streams ONCE through the scored cross join regardless of
    query count, and top-k is a window partitioned by query id. The
    label filter runs before ranking so the window sees only true
    candidates. For corpus-x-corpus mining at scale, feed this
    per-cell inside the IVF quantizer exactly like ivf_topk — the
    blocking composes, it is not re-implemented here.
    """
    q = F.broadcast(
        queries.select(
            F.col(query_id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            _norm(F.col(vec_col)).alias("__nq"),
            F.col(label_col).alias("q_label"),
        )
    )
    scored = (
        spread_small_input(
            corpus.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
                _norm(F.col(vec_col)).alias("__nc"),
                F.col(label_col).alias("neighbor_label"),
            )
        )
        .crossJoin(q)
        .where(F.col("neighbor_label") != F.col("q_label"))
        .select(
            "query_id",
            "neighbor_id",
            "neighbor_label",
            F.round(
                _dot(F.col("q_vec"), F.col("c_vec"))
                / (F.col("__nq") * F.col("__nc")),
                scale,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") < F.lit(max_cos))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos_sim"), F.asc("neighbor_id")
    )
    return scored.withColumn(
        "rank", F.row_number().over(w).cast("int")
    ).where(F.col("rank") <= k)


# ---------------------------------------------------------------------------
# Sign-random-projection LSH (the LSH-bucketed cosine variant, next to
# the IVF family above): Charikar's SimHash for dense vectors.
# ---------------------------------------------------------------------------

_SRP_MAT_CACHE: dict[tuple[int, int, str], list[list[int]]] = {}


def srp_sign_matrix(bits: int, dims: int, seed: str = "srp") -> list[list[int]]:
    """Deterministic Rademacher (+-1) hyperplane matrix for SRP-LSH,
    derived from md5 so any engine (or an auditing oracle) regenerates
    it bit-for-bit — the dense-vector analogue of text_dedup.md5_hash32.
    Rademacher entries are a standard SRP choice (Achlioptas-style
    sparse/sign projections preserve the collision-probability
    guarantee 1 - theta/pi) and make the projection EXACT over
    micro-unit integer vectors: sum of +-1 * BIGINT components, no
    float summation order to disagree on at the sign boundary."""
    key = (bits, dims, seed)
    if key not in _SRP_MAT_CACHE:
        import hashlib

        mat = []
        for b in range(bits):
            row = []
            for d in range(dims):
                h = hashlib.md5(f"{seed}:{b}:{d}".encode()).hexdigest()
                row.append(1 if int(h[0], 16) >= 8 else -1)
            mat.append(row)
        _SRP_MAT_CACHE[key] = mat
    return _SRP_MAT_CACHE[key]


def srp_signature(
    vec: Column, mat: list[list[int]], scale: int = 6
) -> Column:
    """array<float> -> array<int> of sign bits (1 if the exact integer
    dot with the hyperplane is >= 0) — the expression reference that
    tests pin srp_signature_frame against. One literal matrix node +
    one indexed transform (the _cell_ranks lesson: never bits x dims
    separate F.lit leaves)."""
    mv = micro_vec(vec, scale)
    m = F.lit([[int(s) for s in row] for row in mat])
    return F.transform(
        m,
        lambda row: F.when(
            F.aggregate(
                F.zip_with(mv, row, lambda x, s: x * s),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            >= 0,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .cast("int"),
    )


def srp_signature_frame(
    vectors: DataFrame,
    mat: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
) -> DataFrame:
    """(vid, bits) via ONE Arrow-batched numpy int64 matmul per batch —
    the runtime path of srp_lsh_pairs, with srp_signature as its
    reference. Unlike the float Pandas-UDF twins elsewhere it is
    provably BIT-IDENTICAL to that expression fold (test-pinned): the
    micro snap replicates Spark round-HALF-UP exactly (sign *
    floor(|d| + 0.5) on the same IEEE double product d = float64(x) *
    10^scale, exact below 2^52), and the hyperplane dots are integer
    matmul — no float aggregation anywhere, so there is no
    summation-order or ulp concern. The interpreted fold re-evaluates
    the free micro-vec per hyperplane row (finding 22's class) and
    costs ~2 orders of magnitude more per element than vectorized
    int64 BLAS.
    """
    import numpy as np
    import pandas as pd

    sig_t = np.asarray(mat, dtype=np.int64).T  # dims x bits
    sig_f = sig_t.astype(np.float64)
    m = float(10**scale)
    id_type = vectors.schema[id_col].dataType.simpleString()

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pd.DataFrame({"vid": [], "bits": []})
                continue
            # NULL-ROW parity with srp_signature (pin-tested): a null
            # vector null-poisons every dot there, and when(null >= 0)
            # falls to otherwise(0) — ALL-ZERO bits (NOT the zero-
            # vector signature, whose dots are 0 >= 0 = all-one).
            # NaN elements become micro component 0 on both paths
            # (Spark round(NaN*1e6) casts to long 0 <-> nan_to_num).
            zero_f = np.zeros(sig_f.shape[0], dtype=np.float64)
            null_rows = np.array(
                [x is None for x in pdf[vec_col]], dtype=bool
            )
            v = np.asarray(
                [
                    zero_f if x is None else np.asarray(x, dtype=np.float64)
                    for x in pdf[vec_col]
                ]
            )
            np.nan_to_num(v, copy=False)
            d = v * m
            micro = (np.sign(d) * np.floor(np.abs(d) + 0.5)).astype(np.int64)
            # int64 matmul in numpy is a naive single-thread loop (no
            # BLAS kernel for integers); the identical product is EXACT
            # in float64 dgemm whenever every partial sum is an integer
            # below 2^53 — with Rademacher (+-1) hyperplanes that bound
            # is dims * max|micro| (r8, same bit-identity, ~BLAS-fast).
            # Fall back to int64 if a batch ever exceeds it.
            if np.abs(micro).max(initial=0) * micro.shape[1] < (1 << 53):
                bits = (micro.astype(np.float64) @ sig_f >= 0).astype(
                    np.int32
                )
            else:
                bits = (micro @ sig_t >= 0).astype(np.int32)
            bits[null_rows] = 0
            yield pd.DataFrame(
                {"vid": pdf[id_col], "bits": [b.tolist() for b in bits]}
            )

    return vectors.select(id_col, vec_col).mapInPandas(
        gen, f"vid {id_type}, bits array<int>"
    )


def cell_labels_frame(
    vectors: DataFrame,
    cents: list[list[int]],
    vec_col: str = "embedding",
    scale: int = 6,
    pre_quantized: bool = False,
) -> DataFrame:
    """``vectors`` plus ``cluster_id``, its nearest-centroid label, via
    ONE Arrow batch of int64 matrix arithmetic — the exact twin of
    ``element_at(_cell_ranks(micro_vec(v)), 1)`` (test-pinned equal):
    micro snap replicates Spark round-HALF-UP on the same IEEE double
    product; squared L2 expands to vv - 2 v.c + cc in int64 (bounds:
    |term| <= dims x (1.5e6)^2 ~ 1.4e14, far inside BIGINT); the
    argmin's first-occurrence rule IS the smallest-cell_id tie-break.
    Same finding-24 pattern as srp_signature_frame: integer math means
    the vectorized path is provably identical, not tolerance-close.
    Labeling is the per-row cost that dominates quantizer consumers at
    corpus scale (IVF corpus labels, SemDeDup cells, D4 coreset draw).

    Every input column passes through the Arrow stage unchanged — the
    join-free shape (r9): consumers that need labeled full rows
    (SemDeDup flags, the coreset draw, IVF corpus labeling) would
    otherwise pay a shuffle join of labels back onto the corpus. Arrow
    round-trips values losslessly (IEEE floats bit-preserved), so the
    passthrough keeps the bit-identity guarantee.

    ``pre_quantized=True`` treats ``vec_col`` as ALREADY-micro int64
    arrays and skips the snap — the exact_kmeans_centroids Lloyd loop
    labels its cached micro-vector projection directly (r9); identical
    argmin/tie-break arithmetic either way.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import LongType, StructField, StructType

    c = np.asarray(cents, dtype=np.int64)  # cells x dims
    cc = np.einsum("ij,ij->i", c, c)
    cf = c.astype(np.float64)
    ccf = cc.astype(np.float64)
    max_c = int(np.abs(c).max(initial=0))
    m = float(10**scale)
    # never .add() onto vectors.schema — StructType.add mutates in place
    # and df.schema is cached on the DataFrame
    out_schema = StructType(
        list(vectors.schema.fields) + [StructField("cluster_id", LongType())]
    )

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:
                yield pdf.assign(cluster_id=pd.Series([], dtype="int64"))
                continue
            # NULL-ROW parity with the expression path (pin-tested):
            # a null VECTOR makes every per-cell distance null there,
            # and the (d, cell_id) struct sort puts null distances
            # first with the cell_id tie-break — null rows label as
            # cell 0 deterministically. Map them to a zero vector,
            # compute the batch normally, overwrite with 0. NaN
            # ELEMENTS match expr too: Spark's round(NaN*1e6) casts to
            # long 0, so nan_to_num(0.0) -> micro 0 is the identical
            # component. (An array<float> with a null ELEMENT is
            # indistinguishable from NaN after Arrow and takes the NaN
            # rule — the one documented divergence; expr would
            # null-poison that row's distances.)
            dims = c.shape[1]
            if pre_quantized:
                zero_i = np.zeros(dims, dtype=np.int64)
                null_rows = np.array(
                    [x is None for x in pdf[vec_col]], dtype=bool
                )
                micro = np.asarray(
                    [
                        zero_i if x is None else np.asarray(x, dtype=np.int64)
                        for x in pdf[vec_col]
                    ]
                )
            else:
                zero_f = np.zeros(dims, dtype=np.float64)
                null_rows = np.array(
                    [x is None for x in pdf[vec_col]], dtype=bool
                )
                v = np.asarray(
                    [
                        zero_f
                        if x is None
                        else np.asarray(x, dtype=np.float64)
                        for x in pdf[vec_col]
                    ]
                )
                np.nan_to_num(v, copy=False)
                d = v * m
                micro = (np.sign(d) * np.floor(np.abs(d) + 0.5)).astype(
                    np.int64
                )
            # same exact-float64-dgemm trick as srp_signature_frame
            # (r8): every term of vv - 2 v.c + cc is an integer, and
            # as long as the largest possible term magnitude
            # (dims * max_component^2, x4 for the combination) stays
            # below 2^53 the float64 pipeline is EXACT and the matmul
            # hits BLAS instead of numpy's naive int64 loop.
            max_m = int(np.abs(micro).max(initial=0))
            bound = 4 * micro.shape[1] * max(max_m, max_c) ** 2
            if bound < (1 << 53):
                vvf = np.einsum("ij,ij->i", micro, micro, dtype=np.float64)
                dist = (
                    vvf[:, None]
                    - 2.0 * (micro.astype(np.float64) @ cf.T)
                    + ccf[None, :]
                )
            else:
                vv = np.einsum("ij,ij->i", micro, micro)
                dist = vv[:, None] - 2 * (micro @ c.T) + cc[None, :]
            labels = np.argmin(dist, axis=1).astype(np.int64)
            labels[null_rows] = 0
            yield pdf.assign(cluster_id=labels)

    return vectors.mapInPandas(gen, out_schema)


def srp_lsh_pairs(
    vectors: DataFrame,
    threshold: float = 0.95,
    bits: int = 16,
    bands: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 6,
    seed: str = "srp",
) -> DataFrame:
    """Cosine near-pair mining via banded SRP-LSH + exact verify.

    The third blocking strategy in this module's family (brute = exact
    baseline, IVF = data-dependent cells, SRP = data-INDEPENDENT
    hyperplanes — no fit step, so it composes with streaming ingest
    where a quantizer would go stale). ``bits`` sign bits are split
    into ``bands``; two vectors are candidates iff some band's bits all
    agree (collision prob per bit 1 - theta/pi, so a 0.95-cosine pair
    at 4x4 bits survives with ~0.98 probability while a random pair's
    candidate rate is ~4/2^4 per band family). Candidates are an
    ordinary equi-join on (band_id, band_key) carrying IDS ONLY —
    embeddings rejoin afterwards, so the banded shuffle moves 3 ints
    per (vector, band), never the vectors themselves. Exact cosine >=
    threshold verifies every candidate: false positives cost time, not
    correctness; recall is the banding guarantee above.

    The band rows feed both sides of the self-join through ONE
    repartition, so the signature kernel runs once: the second side
    reuses the first side's exchange. Staging the band rows through
    parquet instead measured slower on 4 CPUs (sf0.1 entry 1.79 s vs
    1.67 s median over 6 alternating reps; 200k vectors at 128 bits
    46.3 s vs 40.9 s over 4; identical pairs).

    Sizing ``bits``/``bands`` is the whole cost model: random-pair
    candidate rate is ~bands/2^(bits/bands), so at corpus scale you buy
    candidate shrinkage with bits-per-band (64 bits in 8 bands collides
    at 8/2^8 = 1/32 vs 16-in-4's 4/2^4 = 1/4 — an 8x drop — with
    BETTER 0.95-cosine recall,
    0.988 vs 0.985 — signature cost is linear in rows and trivially
    parallel, verify cost is per-candidate and is what explodes).
    Signatures come from srp_signature_frame, the Arrow int64 matmul
    that is bit-identical to srp_signature (test-pinned). The verify
    lookup follows cosine_dup_ids: the (id, vec, norm) table is
    broadcast to every task (right into the ~10M-vector range at
    dim 64).

    Output: (vec_id_a, vec_id_b, cos_sim 6dp) for verified pairs.
    """
    if bits % bands != 0:
        raise ValueError("bits must divide evenly into bands")
    rpb = bits // bands
    mat = srp_sign_matrix(bits, _vec_dims(vectors, vec_col), seed)
    # spread before the signature kernel (PERF finding 2): a small
    # single-file corpus arrives in 1-2 partitions, and the per-row
    # signature work is the CPU cost of this operator — without the
    # spread it runs on 1-2 cores. No-op at real scale.
    sig = srp_signature_frame(
        spread_small_input(vectors), mat, id_col=id_col, vec_col=vec_col,
        scale=scale,
    )
    band_rows = sig.select(
        "vid",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        sum(
                            (
                                F.element_at("bits", b * rpb + j + 1)
                                * F.lit(1 << j)
                            )
                            for j in range(rpb)
                        ).alias("band_key"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("vid", "bk.band_id", "bk.band_key")
    # explicit width for the within-bucket pair fanout (r12; the
    # basket/embedding-cells precedent): band rows are ~24 bytes so the
    # self-join input arrives in a handful of tasks, but its per-row
    # cost is the bucket pair expansion. One repartition, both sides.
    band_rows = band_rows.repartition(
        vectors.sparkSession.sparkContext.defaultParallelism,
        "band_id",
        "band_key",
    )
    cand = (
        band_rows.alias("a")
        .join(
            band_rows.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.vid") < F.col("b.vid")),
        )
        .select(
            F.col("a.vid").alias("vec_id_a"), F.col("b.vid").alias("vec_id_b")
        )
        .distinct()
    )
    # Verify with the cosine_dup_ids discipline: per-vector norms are
    # computed ONCE on the lookup side (the join is a projection
    # barrier, so CollapseProject cannot re-inline the fold into the
    # per-pair expression — a naive cosine(_ea, _eb) pays THREE
    # interpreted dim-wide folds per candidate, this pays one), and the
    # candidate stream is repartitioned because its per-row COMPUTE,
    # not its byte size, is the cost of the stage.
    base = vectors.select(
        F.col(id_col), F.col(vec_col), _norm(F.col(vec_col)).alias("_nrm")
    )
    target = vectors.sparkSession.sparkContext.defaultParallelism
    return (
        cand.repartition(target, "vec_id_a")
        .join(
            F.broadcast(
                base.select(
                    F.col(id_col).alias("vec_id_a"),
                    F.col(vec_col).alias("_ea"),
                    F.col("_nrm").alias("_na"),
                )
            ),
            "vec_id_a",
        )
        .join(
            F.broadcast(
                base.select(
                    F.col(id_col).alias("vec_id_b"),
                    F.col(vec_col).alias("_eb"),
                    F.col("_nrm").alias("_nb"),
                )
            ),
            "vec_id_b",
        )
        .select(
            "vec_id_a",
            "vec_id_b",
            F.round(
                _dot(F.col("_ea"), F.col("_eb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= F.lit(threshold))
    )


def _vec_dims(df: DataFrame, vec_col: str) -> int:
    """Vector width from one non-NULL row (embeddings are fixed-width by
    contract; a metadata-only probe would need a schema annotation
    parquet does not carry). NULL rows are skipped: without ANSI mode
    ``size(NULL)`` is -1, not a width."""
    row = (
        df.where(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .first()
    )
    if row is None:
        raise ValueError(
            f"cannot infer dims of {vec_col!r}: no non-NULL vector"
        )
    return int(row["d"])
