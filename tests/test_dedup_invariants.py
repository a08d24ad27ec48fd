"""Near-dup detection invariants, mirroring the reference's
deliberately-seeded-duplicates test strategy (SURVEY.md §5: after dedup,
counts must equal base counts exactly)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash_near_pairs,
)
from hse_etl_ochirov_aldar_spark.queries import _docs_with_near_dups
from hse_etl_ochirov_aldar_spark.sources.readers import load_table

N_DUPS = 20


def test_exact_dedup_removes_exact_copies(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    base = docs.count()
    dups = docs.limit(15).withColumn("doc_id", F.col("doc_id") + 2_000_000)
    kept = exact_dedup(docs.unionByName(dups))
    assert kept.count() == base
    # survivors keep the smallest doc_id
    assert kept.where(F.col("doc_id") >= 2_000_000).count() == 0


def test_minhash_lsh_finds_injected_candidates(spark, sf_dir):
    corpus = _docs_with_near_dups(spark, sf_dir, N_DUPS)
    cands = minhash_lsh_candidates(corpus)
    hits = cands.where(
        (F.col("id_b") - F.col("id_a") == 1_000_000) & (F.col("id_a") < N_DUPS)
    ).count()
    # banded LSH is probabilistic; at jaccard ~0.85+ with 4 bands x 4 rows
    # expected recall >> 0.9
    assert hits >= int(N_DUPS * 0.8), f"LSH recall too low: {hits}/{N_DUPS}"


def test_minhash_dedup_removes_injected_near_dups(spark, sf_dir):
    # the driver's documents table contains NATURAL near-dups (observed
    # jaccard ~0.98 pairs), so the invariant is: dedup of the injected
    # corpus keeps exactly what dedup of the original corpus keeps —
    # all injected copies (larger ids, always the id_b loser side) gone.
    docs = load_table(spark, sf_dir, "documents")
    corpus = _docs_with_near_dups(spark, sf_dir, N_DUPS)
    kept = minhash_dedup(corpus, threshold=0.6)
    kept_natural = minhash_dedup(docs, threshold=0.6)
    injected_survivors = kept.where(F.col("doc_id") >= 1_000_000).count()
    assert injected_survivors <= int(N_DUPS * 0.2), (
        f"{injected_survivors}/{N_DUPS} injected dups survived"
    )
    assert kept.where(F.col("doc_id") < 1_000_000).count() == kept_natural.count()


def test_ngram_jaccard_scores_injected_pairs_high(spark, sf_dir):
    corpus = _docs_with_near_dups(spark, sf_dir, N_DUPS)
    cands = minhash_lsh_candidates(corpus)
    verified = ngram_jaccard_pairs(corpus, cands, threshold=0.6)
    rows = verified.collect()
    assert all(r.jaccard >= 0.6 for r in rows)
    injected = [r for r in rows if r.id_b - r.id_a == 1_000_000]
    assert len(injected) >= int(N_DUPS * 0.8)


def test_simhash_finds_injected_near_pairs(spark, sf_dir):
    corpus = _docs_with_near_dups(spark, sf_dir, N_DUPS)
    pairs = simhash_near_pairs(corpus, max_hamming=6, prefix_bits=4)
    injected = pairs.where(F.col("id_b") - F.col("id_a") == 1_000_000).count()
    # simhash prefix bucketing trades recall for cost; expect most found
    assert injected >= int(N_DUPS * 0.5), f"simhash recall too low: {injected}"


def test_ivf_kmeans_recall_vs_brute_force(spark, sf_dir):
    """The k-means IVF path must return complete top-k lists and keep a
    material fraction of the exact neighbors while scoring only
    n_probe/n_cells of the corpus."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        brute_force_topk,
        ivf_kmeans_exact_topk,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.where(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    ivf = ivf_kmeans_exact_topk(emb, qs, k=5, n_cells=8, n_probe=2)
    ivf_rows = {(r.query_id, r.neighbor_id) for r in ivf.collect()}
    assert len(ivf_rows) == 50  # complete top-5 per query

    bf = brute_force_topk(emb, qs, k=5)
    bf_rows = {(r.query_id, r.neighbor_id) for r in bf.collect()}
    recall = len(ivf_rows & bf_rows) / len(bf_rows)
    assert recall >= 0.3, recall


def test_lsh_recall_matches_exact_jaccard(spark, sf_dir):
    """On the deterministic corpus, LSH-candidate + verify recovers
    EXACTLY the brute-force Jaccard >= 0.6 pair set (100% recall, no
    false positives after verification)."""
    from hse_etl_ochirov_aldar_spark.queries import (
        q_jaccard_exact_pairs,
        q_ngram_jaccard_pairs,
    )

    lsh = {
        (r.id_a, r.id_b) for r in q_ngram_jaccard_pairs(spark, sf_dir).collect()
    }
    exact = {
        (r.id_a, r.id_b) for r in q_jaccard_exact_pairs(spark, sf_dir).collect()
    }
    assert lsh == exact
    assert len(exact) > 0


def test_minhash_dedup_transitive_chain(spark):
    """Keep-one-per-cluster (mongo_to_postgres_replication.py:35-39):
    a dup chain A~B~C where A and C are NOT directly similar must
    still collapse to the single survivor A via connected components."""
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        minhash_dedup,
        ngram_jaccard_pairs,
        minhash_lsh_candidates,
    )

    words = [f"w{i}" for i in range(1, 19)]
    mk = lambda lo, hi: " ".join(words[lo - 1 : hi])
    docs = spark.createDataFrame(
        [(1, mk(1, 12)), (2, mk(4, 15)), (3, mk(7, 18))], ["doc_id", "text"]
    )
    # sanity on the construction: A~B and B~C verify at 0.5, A~C does not
    cands = minhash_lsh_candidates(docs, num_hashes=16, bands=16)
    verified = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, cands, threshold=0.5).collect()
    }
    assert verified == {(1, 2), (2, 3)}
    kept = minhash_dedup(docs, threshold=0.5, num_hashes=16, bands=16)
    assert [r.doc_id for r in kept.collect()] == [1]


def test_connected_components_min_fixpoint(spark):
    """Min-label propagation reaches the true component minimum on a
    path graph longer than one round's reach."""
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        connected_components_min,
    )

    pairs = spark.createDataFrame(
        [(10, 20), (20, 30), (30, 40), (40, 50), (100, 200)], ["id_a", "id_b"]
    )
    want = {
        (10, 10), (20, 10), (30, 10), (40, 10), (50, 10),
        (100, 100), (200, 100),
    }
    # small-graph fast path (driver union-find) and the distributed
    # fixpoint (forced via collect_threshold=0) must agree exactly
    got = {(r.id, r.rep) for r in connected_components_min(pairs).collect()}
    assert got == want
    dist = {
        (r.id, r.rep)
        for r in connected_components_min(pairs, collect_threshold=0).collect()
    }
    assert dist == want


def test_connected_components_star_matches_union_find(spark):
    """Star contraction must agree exactly with driver union-find on a
    randomized multi-component graph (chains, a clique, a star, and
    isolated pairs; seeded so the case is reproducible)."""
    import random

    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        connected_components_star,
    )

    rng = random.Random(1234)
    edges: list[tuple[int, int]] = []
    edges += [(i, i + 1) for i in range(0, 60)]                 # chain
    edges += [(1000 + a, 1000 + b) for a in range(8) for b in range(a)]  # clique
    edges += [(2000, 2000 + i) for i in range(1, 10)]           # star
    edges += [(3000 + 2 * i, 3001 + 2 * i) for i in range(5)]   # pairs
    nodes = sorted({n for e in edges for n in e})
    extra = [tuple(rng.sample(nodes, 2)) for _ in range(40)]    # random merges
    edges += extra

    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {(n, find(n)) for n in nodes}

    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {(r.id, r.rep) for r in connected_components_star(pairs).collect()}
    assert got == want


def test_connected_components_star_deep_chain_few_rounds(spark):
    """A 512-deep path graph (diameter 512) must collapse with the
    star algorithm's O(log^2 n) rounds — max_iter=12 would take
    min-label propagation only 12 of the 512 hops it needs."""
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(512)], ["id_a", "id_b"]
    )
    got = {(r.id, r.rep) for r in connected_components_star(pairs, max_iter=12).collect()}
    assert got == {(i, 0) for i in range(513)}


def test_connected_components_star_self_pairs_and_nonconvergence(spark):
    """Contract parity with the union-find path: ids present
    ONLY as self-pairs still get a rep=id row, and an exhausted
    max_iter raises instead of silently returning a non-contracted
    edge set (which could map one id to multiple reps)."""
    import pytest

    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (7, 7), (8, 8), (1, 1)], ["id_a", "id_b"]
    )
    got = {(r.id, r.rep) for r in connected_components_star(pairs).collect()}
    assert got == {(1, 1), (2, 1), (7, 7), (8, 8)}

    deep = spark.createDataFrame(
        [(i, i + 1) for i in range(512)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components_star(deep, max_iter=1)


def test_lsh_bucket_cap_bounds_pair_count(spark):
    """Boilerplate corpus (identical docs -> one giant bucket per band):
    the cap turns b*(b-1)/2 pair explosion into a b-1 chain, and dedup
    still collapses the whole cluster to one survivor through the
    chain + connected components."""
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        minhash_dedup,
        minhash_lsh_candidates,
    )

    docs = spark.createDataFrame(
        [(i, "the same boilerplate header text repeated verbatim") for i in range(200)],
        ["doc_id", "text"],
    )
    pairs = minhash_lsh_candidates(docs, max_bucket_size=32)
    assert pairs.count() == 199  # chain, not 19900 quadratic pairs
    kept = minhash_dedup(docs, threshold=0.9, max_bucket_size=32)
    assert [r.doc_id for r in kept.collect()] == [0]


def test_blocked_embedding_dedup_matches_unblocked(spark, sf_dir):
    """The k-means-cell-blocked dedup (catalog path) must keep exactly
    the same survivors as the O(n^2) unblocked ground truth: cosine
    cell assignment is scale-invariant, so every injected scaled copy
    shares a probed cell with its source."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        embedding_near_dup_ids,
    )
    from hse_etl_ochirov_aldar_spark.queries import q_embedding_near_dedup
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    dups = emb.where(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform("embedding", lambda x: (x * F.lit(1.5)).cast("float")).alias(
            "embedding"
        ),
        "label",
    )
    corpus = emb.unionByName(dups)
    unblocked = {
        (r.label, r.n_vecs)
        for r in corpus.join(
            embedding_near_dup_ids(corpus, threshold=0.95), "vec_id", "left_anti"
        )
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("n_vecs"))
        .collect()
    }
    blocked = {(r.label, r.n_vecs) for r in q_embedding_near_dedup(spark, sf_dir).collect()}
    assert blocked == unblocked


def test_segment_boilerplate_removal_lines(spark):
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        segment_boilerplate_removal,
    )

    docs = spark.createDataFrame(
        [
            (1, "unique one\nSubscribe now\nmore text", "en"),
            (2, "subscribe now \nother content", "en"),
            (3, "totally different", "fr"),
            (4, "Subscribe now", "en"),
            (5, "", "en"),
            (6, "dup dup\ndup dup", "en"),  # within-doc repeat only
        ],
        "doc_id long, text string, lang string",
    )
    out = {r.doc_id: r for r in segment_boilerplate_removal(docs).collect()}
    # shared line removed everywhere, case/trim-insensitively
    assert out[1].text == "unique one\nmore text" and out[1].n_segments_removed == 1
    assert out[2].text == "other content" and out[2].n_segments_removed == 1
    # doc that was ONLY boilerplate survives as an empty row
    assert out[4].text == "" and out[4].n_segments_removed == 1
    # untouched docs: order and content preserved, repeats within one
    # doc are NOT boilerplate (distinct-doc census)
    assert out[3].text == "totally different" and out[3].n_segments_removed == 0
    assert out[6].text == "dup dup\ndup dup" and out[6].n_segments_removed == 0
    assert out[5].text == "" and out[5].n_segments_removed == 0
    # non-text columns pass through
    assert out[3].lang == "fr"


def test_segment_boilerplate_removal_chunks(spark):
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        segment_boilerplate_removal,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c x y z"), (3, "q r s")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: r
        for r in segment_boilerplate_removal(docs, chunk_words=3).collect()
    }
    assert out[1].text == "d e f" and out[1].n_segments_removed == 1
    assert out[2].text == "x y z" and out[2].n_segments_removed == 1
    assert out[3].text == "q r s" and out[3].n_segments_removed == 0


def test_segment_removal_min_docs_threshold(spark):
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        segment_boilerplate_removal,
    )

    docs = spark.createDataFrame(
        [(1, "shared line\nown1"), (2, "shared line\nown2"), (3, "shared line\nown3")],
        "doc_id long, text string",
    )
    # min_docs=4 > support: nothing removed
    out = segment_boilerplate_removal(docs, min_docs=4)
    assert all(r.n_segments_removed == 0 for r in out.collect())
    # min_docs=3 == support: removed from all three
    out3 = {r.doc_id: r.text for r in segment_boilerplate_removal(docs, min_docs=3).collect()}
    assert out3 == {1: "own1", 2: "own2", 3: "own3"}


def test_incremental_dedup_semantics(spark):
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        incremental_dedup,
    )

    corpus = spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text")], ["doc_id", "text"]
    )
    batch = spark.createDataFrame(
        [
            (10, "alpha text"),  # already in corpus -> dropped
            (11, "gamma text"),  # fresh -> survives
            (12, "gamma text"),  # within-batch dup -> keep-min drops it
            (13, "  GAMMA   text "),  # normalization: NOT equal (inner ws)
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        r.doc_id for r in incremental_dedup(batch, corpus).collect()
    )
    assert got == [11, 13]


def test_incremental_dedup_corpus_never_shuffles(spark, sf_dir):
    from hse_etl_ochirov_aldar_spark.queries import QUERIES

    plan = (
        QUERIES["incremental_corpus_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # corpus digests are probed via broadcast LEFT SEMI; the collided
    # set broadcasts back as LEFT ANTI -- no digest sort-merge join,
    # no cartesian pair space
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_duplicate_span_stats_fixture(spark):
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        duplicate_span_stats,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),  # spans: "a b c d e", "b c d e f"
            (2, "a b c d e g"),  # spans: "a b c d e", "b c d e g"
            (3, "x y"),  # short text -> single whole-text span
        ],
        ["doc_id", "text"],
    )
    rows = {
        r.doc_id: r
        for r in duplicate_span_stats(docs, span_tokens=5).collect()
    }
    assert rows[1].n_spans == 2 and rows[1].n_dup_spans == 1
    assert rows[1].dup_ratio_micro == 500_000
    assert rows[2].n_spans == 2 and rows[2].n_dup_spans == 1
    assert rows[3].n_spans == 1 and rows[3].n_dup_spans == 0
    assert rows[3].dup_ratio_micro == 0


def test_incremental_minhash_dedup_semantics(spark):
    """Batch-vs-corpus near-dedup: re-crawls with trailing chrome drop
    against the corpus, fresh docs survive, within-batch near-dup
    chains keep one doc."""
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        incremental_minhash_dedup,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus content with many words here")],
        ["doc_id", "text"],
    )
    batch = spark.createDataFrame(
        [
            (101, base + " trailing chrome"),          # near-dup of corpus 1
            (102, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10"),   # fresh
            (103, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 t"),  # near-dup of 102
            (104, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 t s"),  # chain: ~103
        ],
        ["doc_id", "text"],
    )
    kept = incremental_minhash_dedup(batch, corpus, threshold=0.6)
    assert {r.doc_id for r in kept.collect()} == {102}


def test_remove_duplicate_spans_rewrites_token_precisely(spark):
    """Exact-substring removal: the shared passage vanishes from every
    carrier (including overlap-extended coverage), unshared text and
    within-doc-only repeats survive, empty docs pass through."""
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        remove_duplicate_spans,
    )

    docs = spark.createDataFrame(
        [
            (1, "intro words here the same legal footer text here today"),
            (2, "other document body the same legal footer text here banana"),
            (3, "totally unrelated content with no shared passage at all"),
            # within-doc repeat only: distinct-doc support must NOT fire
            (4, "p q r s t p q r s t p q r s t p q r s t"),
            (5, ""),
        ],
        ["doc_id", "text"],
    )
    out = {
        r.doc_id: r
        for r in remove_duplicate_spans(docs, span_tokens=5, min_docs=2).collect()
    }
    assert out[1].text == "intro words here today"
    assert out[1].n_tokens_removed == 6
    assert out[2].text == "other document body banana"
    assert out[3].n_tokens_removed == 0
    assert out[4].n_tokens_removed == 0  # repeats live in ONE doc
    assert out[5].text == "" and out[5].n_tokens_removed == 0


def test_semantic_dedup_drops_coclustered_copies(spark, sf_dir):
    """SemDeDup semantics: a lightly-scaled copy (cosine 1.0, small L2
    offset) co-clusters with its original and is flagged; survivors
    keep the lowest id per redundant pair; every flagged vector has a
    kept same-cluster neighbor at/above the threshold."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        cosine,
        semantic_dedup_flags,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    copies = emb.where(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x * F.lit(1.02)).cast("float")
        ).alias("embedding"),
        "label",
    )
    corpus = emb.unionByName(copies)
    flags = semantic_dedup_flags(corpus, threshold=0.45, n_cells=8, iters=2)
    flags.persist()
    rows = {r["vec_id"]: r for r in flags.collect()}
    # each copy shares a cluster with its original -> exactly one of the
    # pair is flagged (the higher id, keep-first)
    for vid in range(10):
        orig, copy = rows[vid], rows[vid + 1_000_000]
        assert orig["cluster_id"] == copy["cluster_id"], vid
        assert not orig["is_dup"] and copy["is_dup"], vid
    # every flagged vector has a kept, smaller-id, same-cluster witness
    kept = flags.where(~F.col("is_dup")).select(
        F.col("vec_id").alias("w_id"),
        F.col("cluster_id").alias("w_cluster"),
        F.col("embedding").alias("w_vec"),
    )
    flagged = flags.where(F.col("is_dup"))
    witnesses = flagged.join(
        kept,
        (F.col("cluster_id") == F.col("w_cluster"))
        & (F.col("w_id") < F.col("vec_id"))
        & (F.round(cosine(F.col("embedding"), F.col("w_vec")), 6) >= 0.45),
        "left_semi",
    )
    assert witnesses.count() == flagged.count()
    flags.unpersist()


def test_keep_best_prefers_high_score_member(spark):
    """keep-best must survive the highest-scoring member of each dup
    cluster (tie-break min id), and keep singletons untouched — the
    survivor SET differs from minhash_dedup's keep-min-id on the same
    corpus."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        minhash_dedup,
        minhash_dedup_keep_best,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base),                       # cluster A, short
        (2, base + " extra"),            # cluster A, longest -> winner
        (3, "totally different words entirely unrelated content here"),
        (4, base + " tail"),             # cluster A, tied with 2 on len
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    score = F.size(F.split("text", " "))
    best = {r.doc_id for r in minhash_dedup_keep_best(
        df, score, threshold=0.5).collect()}
    # docs 2 and 4 tie at 9 tokens; min id 2 wins
    assert best == {2, 3}
    kmin = {r.doc_id for r in minhash_dedup(df, threshold=0.5).collect()}
    assert kmin == {1, 3}
    assert best != kmin


def test_pagerank_exact_matches_python_reference(spark):
    """3-round integer PageRank on a known graph must equal a plain-
    Python implementation of the same exact arithmetic."""
    from hse_etl_ochirov_aldar_spark.operators.graph import (
        degree_stats,
        pagerank_exact,
    )

    edges = [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    deg = {n: len(v) for n, v in adj.items()}
    rank = {n: 1_000_000 for n in adj}
    for _ in range(3):
        share = {n: (2 * rank[n] + deg[n]) // (2 * deg[n]) for n in adj}
        rank = {
            n: 150_000 + (85 * sum(share[m] for m in adj[n])) // 100
            for n in adj
        }

    got = {r.id: r.rank_micro for r in pagerank_exact(pairs, iters=3).collect()}
    assert got == rank
    # the degree-2 hub (3) outranks the leaf (5)
    assert got[3] > got[5]

    degs = {r.id: r.degree for r in degree_stats(pairs).collect()}
    assert degs == deg

    import pytest as _pytest

    with _pytest.raises(ValueError, match="damping_pct"):
        pagerank_exact(pairs, damping_pct=101)


def test_sample_cap_fit_identical_when_corpus_covered(spark, sf_dir):
    """exact_kmeans_centroids(sample_cap=N) with N >= corpus size must
    be BIT-IDENTICAL to the distributed full-corpus fit: the sample is
    the whole corpus in the same (hash, id) order, and _local_lloyd
    replays the same integer arithmetic. This is the invariant that
    lets every catalog consumer switch to the one-job sample fit
    (QUANTIZER_SAMPLE_CAP) without touching its DuckDB oracle."""
    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        exact_kmeans_centroids,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    full = exact_kmeans_centroids(emb, n_cells=8, iters=3)
    samp = exact_kmeans_centroids(emb, n_cells=8, iters=3, sample_cap=4096)
    assert samp == full


def test_sample_cap_strict_subset_matches_duckdb_twin(spark, sf_dir):
    """When sample_cap < corpus size the fit trains on a strict hash
    sample; the labeling must still match the DuckDB twin built with
    the same cap (fitset CTE) — proving the SQL scaffolding and the
    driver-local Lloyd agree beyond the trivial cap >= n case."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        _cell_ranks,
        exact_kmeans_centroids,
        micro_vec,
    )
    from hse_etl_ochirov_aldar_spark.queries._base import _kmeans_label_ctes
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    from .oracle_utils import assert_matches_oracle, duckdb_connection

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    cap = 64
    assert cap < n, "fixture corpus must exceed the cap for this test"
    cents = exact_kmeans_centroids(emb, n_cells=8, iters=3, sample_cap=cap)
    labeled = emb.select(
        "vec_id",
        F.element_at(
            _cell_ranks(micro_vec(F.col("embedding"), 6), cents), 1
        ).alias("cell_id"),
    )
    sql = (
        "WITH "
        + ",\n".join(_kmeans_label_ctes("embeddings", 8, 3, 64, 6, cap))
        + "\nSELECT vec_id, cell_id FROM labeled"
    )
    con = duckdb_connection(sf_dir)
    assert_matches_oracle(labeled, con, sql, "sample_cap_labels")


def test_sample_cap_rejects_cap_below_n_cells(spark, sf_dir):
    import pytest as _pytest

    from hse_etl_ochirov_aldar_spark.operators.similarity import (
        exact_kmeans_centroids,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    with _pytest.raises(ValueError, match="sample_cap"):
        exact_kmeans_centroids(emb, n_cells=8, iters=1, sample_cap=4)
