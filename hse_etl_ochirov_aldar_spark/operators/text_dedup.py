"""Document deduplication families (north-star ops, BASELINE.json).

Four strategies, all pure DataFrame programs (no Python in the row
path), each returning either a deduped corpus or candidate duplicate
pairs:

- exact:       hash-groupBy on normalized text (one shuffle)
- MinHash+LSH: shingle -> k minhashes -> bands -> bucket join (shuffles
               on band buckets only; no O(n^2) cross join)
- SimHash:     per-token hash bit-vote -> bucketed hamming check
- n-gram Jaccard: exact set similarity, verified on LSH candidates only

Scale notes (100 TB): every strategy avoids the quadratic pair space by
bucketing (LSH bands / simhash prefixes); the only all-pairs work
happens within buckets, whose size is bounded by collision probability.
AQE skew handling splits pathological buckets (e.g. boilerplate shingle
sets). Candidate verification (exact Jaccard) touches only
bucket-cojoined pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import bind_once, whitespace_tokens, word_shingles
from .dedup import dedup_keep_first
from ._plan import spread_small_input


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized text; keeps the smallest id per group
    (deterministic). One hash shuffle on a 128-bit text digest — we
    group on md5(text), not the text itself, so shuffle rows carry 16
    bytes instead of whole documents."""
    with_key = df.withColumn("__k", F.md5(F.lower(F.trim(F.col(text_col)))))
    return dedup_keep_first(with_key, ["__k"], [id_col]).drop("__k")


_LONG_MAX = (1 << 63) - 1


def _minhash_fold(shingles, num_hashes: int):
    """The MinHash signature of a shingle-string array column.

    minhash_j(doc) = min over shingles of hash_j(shingle). Computed as
    ONE fold over the shingle-hash array: each shingle STRING is
    xxhash64'd exactly once, and the j-th family member is the cheap
    long-hash xxhash64(h, j). The naive form — num_hashes separate
    array_min(transform(shingles, xxhash64(s, j))) expressions — gets
    inlined by CollapseProject into num_hashes full re-shinglings +
    string re-hashes per row (~60x slower measured at sf0.1); the
    single-fold shape is what keeps this linear. Zero shingles keep the
    init (LONG_MAX repeated).
    """
    seeds = F.array(*[F.lit(j) for j in range(num_hashes)])
    return F.aggregate(
        F.transform(shingles, lambda s: F.xxhash64(s)),
        F.array_repeat(F.lit(_LONG_MAX).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(acc, seeds, lambda m, j: F.least(m, F.xxhash64(h, j))),
    )


def _shingle_sets(
    df: DataFrame, id_col: str, text_col: str, shingle_n: int
) -> DataFrame:
    """(id, sh): each document's distinct word shingles, one row per
    document. The one shingle pass that both the signatures
    (``_band_keys``) and the exact-Jaccard verify
    (``_verify_jaccard``) read; spread first, since shingling is the
    per-row CPU term."""
    return spread_small_input(df).select(
        F.col(id_col).alias("id"),
        word_shingles(F.col(text_col), shingle_n).alias("sh"),
    )


def _band_keys(sh: DataFrame, num_hashes: int, bands: int) -> DataFrame:
    """(id, band, bucket) banded LSH keys of an (id, sh) shingle-set
    frame: one row per (doc, band), bucket = hash of the band's
    signature slice.

    The signature is projected first and the band INDEX exploded above
    it: the Generate node is a projection barrier, so the fold runs
    once per doc. Banding in the same projection as the fold (an array
    of per-band slices) lets CollapseProject inline the whole fold into
    every band slice — ``bands``x recomputation.
    """
    rows_per_band = num_hashes // bands
    return (
        sh.select("id", _minhash_fold(F.col("sh"), num_hashes).alias("minhash"))
        .select(
            "id",
            "minhash",
            F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        )
        .select(
            "id",
            "band",
            F.xxhash64(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(
                            F.col("minhash"),
                            F.col("band") * rows_per_band + 1,
                            rows_per_band,
                        ),
                        lambda x: x.cast("string"),
                    ),
                )
            ).alias("bucket"),
        )
    )


def banded_minhash_keys(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, band, bucket) banded LSH keys: one row per (doc, band),
    bucket = hash of the band's signature slice. Docs agreeing on ALL
    hashes within a band share its bucket."""
    return _band_keys(
        _shingle_sets(df, id_col, text_col, shingle_n), num_hashes, bands
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) via banded LSH.

    Docs agreeing on ALL hashes within >=1 band land in the same
    bucket. Buckets are built in one expression per row (band structs
    derived from a single materialized signature), then pairs are
    emitted per bucket via groupBy + collect_list + in-array
    combination — the corpus is scanned ONCE and the shuffle carries
    (band, bucket-hash, id) rows, n*bands total, never n^2. The only
    quadratic work is inside a bucket, whose size is bounded by LSH
    collision probability.

    ``max_bucket_size`` is the boilerplate-corpus guard: a bucket of b
    docs normally emits b*(b-1)/2 pairs, so ONE pathological bucket
    (1M identical headers) is an O(10^12)-pair task no AQE split can
    save. Buckets over the cap instead emit a CHAIN of consecutive-id
    pairs (b-1 pairs, linear): downstream Jaccard verification plus
    connected-components clustering (minhash_dedup) still collapses the
    whole cluster through the chain, so true boilerplate dup groups
    keep exactly one survivor — only *heterogeneous* hash-collision
    buckets over the cap (vanishingly rare by construction) can lose
    recall, and those are precisely the buckets worth refusing to
    quadratically explode.
    """
    banded = banded_minhash_keys(
        df, id_col, text_col, num_hashes, bands, shingle_n
    )
    return _bucket_pairs(banded, max_bucket_size)


def _bucket_pairs(banded: DataFrame, max_bucket_size: int = 1024) -> DataFrame:
    """Candidate pairs (id_a < id_b) from a prebuilt (id, band, bucket)
    keys frame — the bucket-combination stage of
    ``minhash_lsh_candidates``, factored out for callers that already
    hold the keys (minhash_dedup, and incremental_minhash_dedup's
    PERSISTED batch keys) instead of paying a second signature fold."""
    buckets = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .where(F.size("ids") > 1)
    )
    n = F.size(F.col("ids"))
    all_pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids")) - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    chain_pairs = F.zip_with(
        F.slice(F.col("ids"), F.lit(1), n - 1),
        F.slice(F.col("ids"), F.lit(2), n - 1),
        lambda a, b: F.struct(a.alias("id_a"), b.alias("id_b")),
    )
    pairs = (
        buckets.select(
            F.explode(
                F.when(n <= F.lit(max_bucket_size), all_pairs).otherwise(chain_pairs)
            ).alias("p")
        )
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    return pairs


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs (verification stage).

    Joins each side's shingle set to the candidate list, then computes
    |A ∩ B| / |A ∪ B| with array expressions. Only candidate pairs pay
    the set math — the LSH stage already killed the quadratic blowup.
    """
    return _verify_jaccard(
        _shingle_sets(df, id_col, text_col, shingle_n), candidates, threshold
    )


def _verify_jaccard(
    sh: DataFrame, candidates: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification over a prebuilt (id, sh) shingle-set
    frame — the join+set-math stage of ``ngram_jaccard_pairs``,
    factored out so callers verify against the same shingle frame their
    signatures came from (minhash_dedup; incremental_minhash_dedup's
    PERSISTED batch sets) instead of re-shingling per consumer."""
    joined = (
        candidates.join(sh.withColumnsRenamed({"id": "id_a", "sh": "sh_a"}), "id_a")
        .join(sh.withColumnsRenamed({"id": "id_b", "sh": "sh_b"}), "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        joined.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def connected_components_star(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """(id, rep) per node via alternating large-star/small-star rounds
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the deep-chain-safe distributed CC.

    Min-label propagation needs rounds = component DIAMETER: an
    adversarial 10k-deep dup chain (crawl rings, boilerplate ladders)
    at 100 TB would run 10k shuffle rounds. Star contraction converges
    in O(log^2 n) rounds regardless of diameter, because every round
    rewires whole neighborhoods onto their minimum:

    - large-star: every node u points its STRICTLY LARGER neighbors at
      m = min(neighborhood(u) + u);
    - small-star: every node u points its smaller-or-equal neighbors
      (and itself) at m = min of those.

    Each phase is one edge-keyed groupBy + join (map-side combinable),
    canonicalized and distinct'ed, localCheckpoint'ed so the plan stays
    flat. Convergence = the canonical edge set stops changing, detected
    by an exact (count, xxhash64-sum) signature — one tiny aggregate
    per round instead of a full exceptAll shuffle. At fixpoint the
    edges form stars rooted at each component's minimum id.
    """
    # ids appearing ONLY as self-pairs (id_a == id_b) carry no edge and
    # would otherwise vanish at the a != b filter; they re-enter at the
    # end as their own rep, honoring the every-input-id-gets-a-rep
    # contract of the union-find path.
    selfers = (
        pairs.where(F.col("id_a") == F.col("id_b"))
        .select(F.col("id_a").alias("id"))
        .distinct()
    )
    edges = (
        pairs.select(
            F.least("id_a", "id_b").alias("a"),
            F.greatest("id_a", "id_b").alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    sig = None
    converged = False
    for _ in range(max_iter):
        # ---- large-star ----
        nbrs = edges.select(
            F.col("a").alias("u"), F.col("b").alias("v")
        ).unionByName(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        edges = (
            nbrs.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        # ---- small-star ---- (neighbors of u that are <= u, keyed on u)
        sml = edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        smins = sml.groupBy("u").agg(F.min("v").alias("m"))
        edges = (
            sml.join(smins, "u")
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .unionByName(
                smins.select(F.col("m").alias("a"), F.col("u").alias("b"))
            )
            .select(
                F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
            .localCheckpoint()
        )
        row = edges.agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.xxhash64("a", "b")).alias("h")
        ).first()
        new_sig = (row["n"], row["h"])
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        # a non-contracted graph can map one id to MULTIPLE reps,
        # breaking the one-rep-per-id contract downstream dedup relies
        # on — never return that silently
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"{max_iter} rounds; the edge-set signature was still "
            f"changing. Raise max_iter (O(log^2 n) rounds suffice for "
            f"any graph, so this indicates max_iter far below log^2 of "
            f"the node count)."
        )
    reps = (
        edges.select(F.col("b").alias("id"), F.col("a").alias("rep"))
        .unionByName(edges.select(F.col("a").alias("id"), F.col("a").alias("rep")))
        .distinct()
    )
    self_only = selfers.join(
        reps.select("id"), "id", "left_anti"
    ).select("id", F.col("id").alias("rep"))
    return reps.unionByName(self_only)


# Pair graphs up to this many undirected pairs are clustered on the driver.
_COLLECT_THRESHOLD = 100_000


def _collect_at_most(pairs: DataFrame, limit: int) -> list | None:
    """``pairs`` collected to the driver when it holds at most
    ``limit`` rows, else None — one bounded collect (``limit(k+1)``).
    The pair frames this sees end in a distinct, so every expensive
    stage runs as a fully parallel shuffle stage and only the final
    post-shuffle read is taken partition-wave by partition-wave."""
    if not limit:
        return None
    rows = pairs.limit(limit + 1).collect()
    return rows if len(rows) <= limit else None


def _union_find(rows) -> dict:
    """{id: component minimum} over collected (id_a, id_b) rows."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min so rep is the component minimum
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return {x: find(x) for x in parent}


def connected_components_min(
    pairs: DataFrame,
    max_iter: int = 25,
    collect_threshold: int = _COLLECT_THRESHOLD,
) -> DataFrame:
    """(id, rep) for every id in the pair graph: ``rep`` is the minimum
    id of the node's connected component, so a dup chain A~B~C with A~C
    never compared still collapses onto A.

    Small graphs (<= ``collect_threshold`` undirected pairs) take one
    bounded collect (``_collect_at_most``) to a driver union-find,
    replacing several rounds of fixed per-job overhead. Larger graphs
    take the large-star/small-star contraction
    (connected_components_star, Kiveris et al.), whose rounds are
    O(log^2 n) independent of component diameter — deep dup chains
    cannot blow up the round count. Set ``collect_threshold=0`` to
    force the distributed path; the star loop gets ``2 * max_iter``
    rounds.
    """
    und = pairs.select("id_a", "id_b").distinct()
    rows = _collect_at_most(und, collect_threshold)
    if rows is not None:
        id_type = pairs.schema["id_a"].dataType.simpleString()
        return pairs.sparkSession.createDataFrame(
            list(_union_find(rows).items()), f"id {id_type}, rep {id_type}"
        )
    und = und.persist()
    try:
        return connected_components_star(und, max_iter=max_iter * 2)
    finally:
        und.unpersist()


def minhash_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """End-to-end near-dedup: LSH candidates -> Jaccard verify ->
    connected components -> keep the minimum id of each dup cluster.

    Clustering runs to FIXPOINT (connected_components_min), so
    transitive chains collapse: A~B~C with A≁C keeps only A — the
    reference's keep-one-per-cluster contract
    (mongo_to_postgres_replication.py:35-39). Docs in no verified pair
    are untouched.

    One (id, sh) shingle-set frame feeds the signature fold and both
    sides of the exact-string Jaccard verify, and the verified pair
    graph reaches the driver in one bounded collect when it is small:
    one query plus the caller's write. The frame is not persisted:
    shingling is linear, the spread exchange under it is reused by all
    three consumers, and caching it would add a cache-fill job per
    reference (measured 11 jobs vs 8, same wall time).
    """
    sh = _shingle_sets(df, id_col, text_col, shingle_n)
    return _keep_component_minimum(
        df,
        _verified_pairs(sh, threshold, num_hashes, bands, max_bucket_size),
        id_col,
    )


def _verified_pairs(
    sh: DataFrame,
    threshold: float,
    num_hashes: int,
    bands: int,
    max_bucket_size: int,
) -> DataFrame:
    """Verified near-dup pairs of an (id, sh) shingle-set frame: LSH
    candidates from its signatures, exact Jaccard on the same sets."""
    cands = _bucket_pairs(_band_keys(sh, num_hashes, bands), max_bucket_size)
    return _verify_jaccard(sh, cands, threshold)


def _keep_component_minimum(
    df: DataFrame,
    verified: DataFrame,
    id_col: str,
) -> DataFrame:
    """``df`` minus every member of the ``verified`` pair graph that is
    not its component's minimum id.

    A small graph is clustered on the driver after one bounded collect
    and its losers are pushed into the scan as one ``isin`` filter (no
    build side, no exchange); a larger one goes through the distributed
    connected_components_min and a left-anti join.
    """
    und = verified.select("id_a", "id_b").distinct()
    rows = _collect_at_most(und, _COLLECT_THRESHOLD)
    if rows is None:
        comp = connected_components_min(und, collect_threshold=0)
        losers = comp.where(F.col("rep") != F.col("id")).select(
            F.col("id").alias(id_col)
        )
        return df.join(losers, id_col, "left_anti")
    loser_ids = [x for x, rep in _union_find(rows).items() if x != rep]
    # NULL ids never appear in pairs (they can't equal anything), so
    # they are always keepers — but ~isin() evaluates to NULL for them
    # and would silently drop the rows
    return df.where(F.col(id_col).isNull() | ~F.col(id_col).isin(loser_ids))


def md5_hash32(t):
    """Cross-engine-portable 32-bit token hash: the integer value of the
    first 8 hex chars of md5 (identical in Spark and DuckDB, byte-for-
    byte on UTF-8 input). Costlier than xxhash64 (string md5 + base
    conversion) — the oracle-comparable alternative, not the default."""
    return F.conv(F.substring(F.md5(t), 1, 8), 16, 10).cast("long")


def simhash(
    df: DataFrame, text_col: str = "text", bits: int = 32, token_hash=None
) -> DataFrame:
    """Adds a ``simhash`` BIGINT column: per-token hash bit-vote.

    bit_i(doc) = 1 if sum over tokens of (+1 if hash bit set else -1) > 0.
    ONE fold over the token-hash array carrying a ``bits``-wide vote
    vector (zip_with against a bit-index array) — each token is hashed
    exactly once. The per-bit-fold form re-hashes every token ``bits``
    times once CollapseProject inlines the shared subexpressions (see
    _minhash_fold). No shuffle.

    ``token_hash`` defaults to xxhash64 (JVM-codegen, the production
    path); pass ``md5_hash32`` for a cross-engine-reproducible simhash
    (DuckDB-oracle-comparable).
    """
    toks = whitespace_tokens(F.col(text_col))
    hashes = F.transform(toks, token_hash or (lambda t: F.xxhash64(t)))
    bit_val = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            bit_val,
            lambda a, mask: a
            + F.when(h.bitwiseAND(mask) != 0, 1).otherwise(-1),
        ),
    )
    sim = F.aggregate(
        F.zip_with(
            votes,
            bit_val,
            lambda v, mask: F.when(v > 0, mask).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return df.withColumn("simhash", sim)


def simhash_near_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
    max_hamming: int = 3,
    prefix_bits: int = 8,
    token_hash=None,
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance <= max_hamming.

    Bucketing: docs are joined only within equal high-``prefix_bits``
    of the simhash (a standard multi-probe simplification of the
    Charikar rotation scheme); hamming distance computed via
    bit_count(xor). Shuffle key is the prefix — no cross join.
    """
    s = simhash(spread_small_input(df), text_col, bits, token_hash).select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.shiftright(F.col("simhash"), bits - prefix_bits).alias("bucket"),
    )
    a, b = s.alias("a"), s.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.id") < F.col("b.id")),
        )
        .where(ham <= max_hamming)
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            ham.alias("hamming"),
        )
    )


def text_segments(
    col: str | "F.Column",
    chunk_words: int | None = None,
    delimiter: str = r"\r?\n",
):
    """Array of text segments: physical lines by default, or fixed
    ``chunk_words``-word chunks (for corpora without line structure).
    Empty/whitespace-only segments are dropped in line mode; chunk mode
    yields ceil(n_tokens / chunk_words) chunks, [] for empty text."""
    c = F.col(col) if isinstance(col, str) else col
    if chunk_words is None:
        return F.filter(F.split(c, delimiter), lambda s: F.trim(s) != "")

    def body(toks):
        n = F.size(toks)
        nch = F.ceil(n / F.lit(float(chunk_words))).cast("int")
        return F.when(
            n > 0,
            F.transform(
                F.sequence(F.lit(1), nch),
                lambda i: F.concat_ws(
                    " ", F.slice(toks, (i - 1) * chunk_words + 1, chunk_words)
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

    return bind_once(whitespace_tokens(c), body)


def segment_boilerplate_removal(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
    chunk_words: int | None = None,
    delimiter: str = r"\r?\n",
) -> DataFrame:
    """Corpus-level segment dedup (C4/RefinedWeb-style boilerplate
    removal): drop every segment whose normalized form appears in
    >= ``min_docs`` DISTINCT documents, and reassemble each document
    from its surviving segments in original order. Returns ``df`` with
    ``text_col`` rewritten (possibly '') plus ``n_segments_removed``.

    Reference analogue: the dedup-before-load contract
    (mongo_to_postgres_replication.py:35-39) applied at sub-document
    granularity — the standard "remove lines shared across documents"
    pass of web-corpus curation.

    Scale shape (100 TB): three shuffles, all on compact keys —
    (1) boilerplate census groups by an 8-byte xxhash64 of the
    normalized segment (never the segment text), with map-side partial
    aggregation; (2) the anti-join shuffles (key, pos, segment) against
    the boilerplate key set (AQE broadcasts it when small); (3)
    reassembly regroups by document id. A within-document repeat does
    NOT make a segment boilerplate (count_distinct on the doc id);
    segments removed from one doc are removed from all. xxhash64
    collisions can over-remove at ~(n_segments^2 / 2^64) probability —
    negligible; group on md5 if bytes-exact behavior is ever required.
    """
    segs = text_segments(text_col, chunk_words, delimiter)
    joiner = " " if chunk_words is not None else "\n"
    # spread BEFORE computing the segment arrays: the segmentation
    # transform is the per-row CPU term, and both the census and the
    # rebuild branch re-evaluate it — on the scan's single partition it
    # serializes one core twice (r12; the duplicate_span_stats fix,
    # same shape). No-op at real scale.
    base = spread_small_input(df).withColumn("__segs", segs).withColumn(
        "__n0", F.size("__segs")
    )
    pos = base.select(
        id_col, F.posexplode("__segs").alias("__pos", "__seg")
    ).withColumn("__k", F.xxhash64(F.lower(F.trim(F.col("__seg")))))
    boiler = (
        pos.groupBy("__k")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__k")
    )
    rebuilt = (
        pos.join(boiler, "__k", "left_anti")
        .groupBy(id_col)
        .agg(
            F.concat_ws(
                joiner,
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__seg"))),
                    lambda x: x["__seg"],
                ),
            ).alias("__clean"),
            F.count(F.lit(1)).alias("__nkept"),
        )
    )
    return (
        base.drop("__segs", text_col)
        .join(rebuilt, id_col, "left")
        .withColumn(text_col, F.coalesce(F.col("__clean"), F.lit("")))
        .withColumn(
            "n_segments_removed",
            F.col("__n0") - F.coalesce(F.col("__nkept"), F.lit(0)),
        )
        .drop("__clean", "__nkept", "__n0")
    )


def incremental_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Dedup a NEW ingest batch against an existing (large) corpus by
    exact normalized-content digest, plus within the batch itself
    (keep smallest id) — the per-crawl-snapshot ingest pattern: each
    batch lands, already-seen content is dropped, survivors append.

    Scale shape (100 TB corpus, batch-sized delta): the corpus is the
    side that must NEVER shuffle. Its digests are probed against a
    BROADCAST of the batch's distinct digests (LEFT SEMI, build side =
    batch), so the corpus is scanned once with no exchange; only the
    matched digests — bounded by batch size, not corpus size — reach
    the distinct. Those collided digests then broadcast back to
    anti-join the batch. Net: zero corpus shuffles, two broadcasts of
    batch-bounded digest sets, one batch-side shuffle for keep-min.

    No reference analogue as an operator; the semantics extend the
    reference's dedup-at-source contract
    (mongo_to_postgres_replication.py:35-39, keep one row per natural
    key) to cross-snapshot ingest.
    """
    dig = F.md5(F.lower(F.trim(F.col(text_col))))
    nb = new_batch.withColumn("__dig", dig)
    batch_digests = nb.select("__dig").distinct()
    seen = (
        corpus.select(dig.alias("__dig"))
        .join(F.broadcast(batch_digests), "__dig", "left_semi")
        .distinct()
    )
    fresh = nb.join(F.broadcast(seen), "__dig", "left_anti")
    return dedup_keep_first(fresh, ["__dig"], [id_col]).drop("__dig")


def remove_duplicate_spans(
    docs: DataFrame,
    span_tokens: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring removal (the RefinedWeb/Gopher exact-substring
    dedup pass): delete every token covered by a sliding
    ``span_tokens``-token span that occurs in >= ``min_docs`` DISTINCT
    documents, and reassemble each document from its surviving tokens
    in order. Returns ``docs`` with ``text_col`` rewritten (canonical
    single-space joins) plus ``n_tokens_removed``.

    Upgrade of ``duplicate_span_stats`` from reporting to rewriting —
    where segment_boilerplate_removal drops whole lines/chunks, this
    removes the precise overlapping token ranges a repeated passage
    covers, regardless of line structure.

    Scale shape: spans shrink to 8-byte xxhash64 keys with their start
    positions before any exchange; the census is one hash shuffle with
    map-side partials (distinct-doc support, so within-doc repeats
    alone never trigger removal); duplicated starts regroup per doc
    (one keyed shuffle) and the rebuild is per-row array math — no
    shuffle carries document text except the final join back to
    ``docs``. Coverage testing is O(n_tokens x covered) per doc
    in-array; covered is small in non-pathological corpora (a fully
    boilerplate doc degrades to O(n^2) array ops on one row, bounded
    by doc length).
    """
    docs = spread_small_input(docs)  # span hashing + rebuild are per-row CPU work
    toks = whitespace_tokens(F.col(text_col))
    n = F.size(toks)
    k = span_tokens
    span_structs = bind_once(
        toks,
        lambda t: F.when(
            F.size(t) >= k,
            F.transform(
                F.sequence(F.lit(1), F.size(t) - k + 1),
                lambda i: F.struct(
                    i.alias("spos"),
                    F.xxhash64(F.concat_ws(" ", F.slice(t, i, k))).alias("__h"),
                ),
            ),
        ).otherwise(F.array().cast("array<struct<spos:int,__h:bigint>>")),
    )
    pos_spans = docs.select(
        id_col, F.explode(span_structs).alias("__s")
    ).select(id_col, F.col("__s.spos").alias("__spos"), F.col("__s.__h").alias("__h"))
    dup_keys = (
        pos_spans.groupBy("__h")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h")
    )
    starts = (
        pos_spans.join(dup_keys, "__h", "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("__spos").alias("__starts"))
    )
    covered = F.array_distinct(
        F.flatten(
            F.transform(
                F.coalesce(F.col("__starts"), F.array().cast("array<int>")),
                lambda s: F.sequence(s, s + k - 1),
            )
        )
    )
    # null text keeps the empty-array result
    kept = F.when(
        n > 0,
        F.filter(toks, lambda t, i: ~F.array_contains(covered, i + 1)),
    ).otherwise(F.array().cast("array<string>"))
    return (
        docs.join(starts, id_col, "left")
        .withColumn("__clean", F.concat_ws(" ", kept))
        .withColumn("n_tokens_removed", n - F.size(kept))
        .drop(text_col, "__starts")
        .withColumnRenamed("__clean", text_col)
    )


def incremental_minhash_dedup(
    new_batch: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """NEAR-duplicate dedup of an ingest batch against a large corpus:
    drop batch docs whose n-gram Jaccard vs ANY corpus doc reaches
    ``threshold``, then near-dedup the survivors within the batch
    (``minhash_dedup``: LSH -> verify -> connected components).

    The near-dup extension of ``incremental_dedup``'s ingest contract
    (itself extending the reference's keep-one-per-natural-key dedup,
    mongo_to_postgres_replication.py:35-39) — the per-crawl-snapshot
    pattern when re-crawled pages differ by boilerplate, timestamps, or
    trailing chrome rather than being byte-identical.

    Scale shape (100 TB corpus, batch-sized delta): the corpus text
    NEVER shuffles. Both sides band their MinHash signatures; the
    batch's (band, bucket) key set — bounded by |batch| x bands 8-byte
    keys — BROADCASTS to semi-join the corpus's banded stream, so only
    colliding corpus docs survive the probe. Their ids (candidate-
    bounded) broadcast back to semi-join the corpus for shingle sets,
    and Jaccard verification touches candidate pairs only.

    Caching: four batch-bounded intermediates are ``persist()``-ed —
    banded keys, candidate pairs, batch shingle sets, survivors (see
    inline comments).
    """
    # Spread the batch ONCE at entry (no-op at real scale): every
    # downstream stage — banding, the shingle verify, and above all the
    # within-batch minhash_dedup over the PERSISTED `fresh` frame —
    # inherits this layout. Without it `fresh` persists on the scan's
    # 1-2 partitions and the whole within-batch stage serializes on one
    # core (the spread probe cannot fire there: persist substitutes an
    # InMemoryRelation leaf it refuses to trust). r12 fix.
    new_batch = spread_small_input(new_batch)
    # the batch's shingle sets feed its signatures, the cross-corpus
    # verify AND both sides of the within-batch verify below — persist
    # them once instead of re-shingling the batch per consumer
    bsh = _shingle_sets(new_batch, id_col, text_col, shingle_n).persist()
    # the batch's banded keys feed BOTH the broadcast probe and the
    # candidate join — batch-bounded, so persist them like `cand` and
    # `fresh` below rather than re-running the signature fold per
    # consumer (r12)
    bkeys = _band_keys(bsh, num_hashes, bands).persist()
    ckeys = banded_minhash_keys(
        corpus, id_col, text_col, num_hashes, bands, shingle_n
    )
    probe = bkeys.select("band", "bucket").distinct()
    chits = ckeys.join(F.broadcast(probe), ["band", "bucket"], "left_semi")
    # candidate pairs and the de-dup'd batch are both batch-bounded
    # (the small side of an ingest by construction): persist them, or
    # every downstream stage — matched-id broadcast, verification,
    # anti-join, and each job of the within-batch minhash_dedup —
    # re-executes the full signature pipeline it embeds (A/B at sf0.1:
    # 13.8s -> 3.6s warm)
    cand = (
        bkeys.withColumnRenamed("id", "id_a")
        .join(chits.withColumnRenamed("id", "id_b"), ["band", "bucket"])
        .select("id_a", "id_b")
        .distinct()
        .persist()
    )
    matched = cand.select(F.col("id_b").alias(id_col)).distinct()
    # spread the corpus SCAN (file leaf), not the joined frame: the
    # probe only trusts all-file-leaf plans, and `matched` rides on the
    # persisted candidate frame (an InMemoryRelation leaf). The
    # broadcast semi-join preserves the spread partitioning, so the
    # shingle transform still runs spread.
    csh = (
        spread_small_input(corpus.select(id_col, text_col))
        .join(F.broadcast(matched), id_col, "left_semi")
        .select(
            F.col(id_col).alias("id_b"),
            word_shingles(F.col(text_col), shingle_n).alias("sh_b"),
        )
    )
    joined = (
        cand.join(
            bsh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a")),
            "id_a",
        ).join(csh, "id_b")
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    dup_ids = (
        joined.where(F.round(jac, 4) >= F.lit(threshold))
        .select(F.col("id_a").alias(id_col))
        .distinct()
    )
    fresh = new_batch.join(F.broadcast(dup_ids), id_col, "left_anti").persist()
    # Within-batch near-dedup of the survivors. Equivalent to
    # minhash_dedup(fresh, ...) — banded keys and shingle sets are
    # deterministic per-doc functions, so restricting the PERSISTED
    # batch frames to surviving ids yields exactly the frames
    # minhash_dedup would recompute — but pays ZERO additional
    # signature folds or shingle transforms (r13; was one of each).
    dup_as_id = dup_ids.select(F.col(id_col).alias("id"))
    fkeys = bkeys.join(F.broadcast(dup_as_id), "id", "left_anti")
    fsh = bsh.join(F.broadcast(dup_as_id), "id", "left_anti")
    verified = _verify_jaccard(
        fsh, _bucket_pairs(fkeys, max_bucket_size), threshold
    )
    return _keep_component_minimum(fresh, verified, id_col)


def duplicate_span_stats(
    docs: DataFrame,
    span_tokens: int = 5,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplication screen (the cross-document repeated-
    passage signal behind RefinedWeb/Gopher exact-substring dedup): for
    each document, how many of its distinct sliding ``span_tokens``-word
    spans also occur in at least ``min_docs`` documents overall, and the
    duplicated fraction in integer micro-units.

    Unlike segment_boilerplate_removal (non-overlapping chunks, rewrites
    the text) this measures OVERLAPPING spans and only reports — the
    screen a curation pipeline uses to route docs to expensive substring
    removal or to drop them outright.

    Scale shape: spans shrink to 8-byte xxhash64 keys before any
    exchange (~5x fewer key bytes shuffled than md5's 32-char hex
    strings, and long keys hash/compare cheaper — at sf0.1 the A/B is
    within noise because 500k span rows don't stress the exchange; the
    byte ratio is what matters at corpus scale); the census is
    one hash shuffle with map-side partials (each doc contributes a
    span once — word_shingles is distinct). The join back is a keyed
    equi-join on the same 8-byte key; duplicated-span sets are
    corpus-sized, so no broadcast is assumed. The key never reaches the
    output (counts only), so a 2^-64-probability collision can only
    nudge a count by one — group on md5 if bytes-exact census behavior
    is ever required.

    Returns one row per input document:
      (id_col, n_spans, n_dup_spans, dup_ratio_micro) — all BIGINT,
    dup_ratio_micro = floor(n_dup_spans * 1e6 / n_spans).
    """
    # Spread the DOCS, not the exploded span stream: a repartition of
    # the exploded frame lands ABOVE the Generate in the physical plan,
    # so the tokenize+shingle explode — the dominant per-row CPU term —
    # would still run on the scan's single partition and serialize on
    # one core (r12: measured 4.7s single-core vs ~0.3s spread at
    # sf0.1, ~3x on the whole entry). Spreading the scan puts the
    # exchange BELOW the Generate; at real scale both forms no-op.
    spans = (
        spread_small_input(docs.select(id_col, text_col))
        .select(
            F.col(id_col),
            F.explode(word_shingles(F.col(text_col), span_tokens)).alias(
                "__s"
            ),
        )
        .select(id_col, F.xxhash64("__s").alias("__h"))
    )
    dup = (
        spans.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .where(F.col("__nd") >= min_docs)
        .select("__h", F.lit(1).alias("__isdup"))
    )
    return (
        spans.join(dup, "__h", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.coalesce(F.col("__isdup"), F.lit(0))).alias(
                "n_dup_spans"
            ),
        )
        .withColumn(
            "dup_ratio_micro",
            # exact integer floor division on both engines (DIV / //):
            # never float-divide two integers the oracle will also divide
            F.expr("CAST(n_dup_spans * 1000000 DIV n_spans AS BIGINT)"),
        )
    )


def minhash_dedup_keep_best(
    df: DataFrame,
    score_col,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.7,
    num_hashes: int = 16,
    bands: int = 8,
    shingle_n: int = 3,
    max_bucket_size: int = 1024,
) -> DataFrame:
    """Near-dedup keeping the HIGHEST-QUALITY member of each dup
    cluster instead of the smallest id — the production keep rule
    (of N crawled copies of a page, keep the cleanest/longest one,
    not whichever crawled first). ``score_col`` is any per-row quality
    column/expression; ties break to the smallest id so the survivor
    set is a pure function of the data.

    Same candidate/verify/cluster pipeline as minhash_dedup; the only
    extra work is one argmax per cluster (``max_by`` over the cluster
    membership — partial-aggregated, cluster-count-sized) and a
    membership join back. The join runs distributed regardless of the
    connected-components small-graph path (the membership frame is
    pair-graph-sized either way).
    """
    score = F.col(score_col) if isinstance(score_col, str) else score_col
    sh = _shingle_sets(df, id_col, text_col, shingle_n)
    comp = connected_components_min(
        _verified_pairs(sh, threshold, num_hashes, bands, max_bucket_size)
    )
    # private column names: df may legitimately carry a "rep" column
    membership = comp.select(
        F.col("id").alias(id_col), F.col("rep").alias("__kb_rep")
    )
    scored = df.join(membership, id_col, "left")
    key = F.struct(score.alias("s"), (-F.col(id_col)).alias("nid"))
    winners = (
        scored.where(F.col("__kb_rep").isNotNull())
        .groupBy("__kb_rep")
        .agg(F.max_by(F.col(id_col), key).alias("__win"))
    )
    return (
        scored.join(winners, "__kb_rep", "left")
        .where(F.col("__kb_rep").isNull() | (F.col(id_col) == F.col("__win")))
        .drop("__kb_rep", "__win")
    )
