"""Property-based tests (hypothesis): engine expressions vs plain-Python
references on generated data. One Spark job per example batch — each
property collects its generated rows into a single DataFrame pass."""

from __future__ import annotations

import datetime as dt
import re

from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.functions.cleaning import (
    coalesce_multi_format_timestamp,
    decimal_comma_to_double,
)
from hse_etl_ochirov_aldar_spark.functions.text import token_count, word_shingles
from hse_etl_ochirov_aldar_spark.operators.dedup import dedup_keep_first

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.decimals(
            min_value=-10_000, max_value=10_000, places=3, allow_nan=False
        ),
        min_size=1,
        max_size=20,
    )
)
def test_decimal_comma_roundtrip(spark, values):
    """F2: comma-rendered decimals parse back to the exact double."""
    rows = [(str(v).replace(".", ","),) for v in values]
    df = spark.createDataFrame(rows, ["raw"])
    got = [
        r[0] for r in df.select(decimal_comma_to_double("raw")).collect()
    ]
    expected = [float(v) for v in values]
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.datetimes(
            min_value=dt.datetime(1990, 1, 1),
            max_value=dt.datetime(2100, 1, 1),
        ).map(lambda d: d.replace(microsecond=0)),
        min_size=1,
        max_size=20,
    )
)
def test_multiformat_timestamp_roundtrip(spark, stamps):
    """F1: mixed dd-MM-yyyy HH:mm[:ss] strings parse back exactly
    (seconds format) or to the minute (short format)."""
    rows = [
        (
            d.strftime("%d-%m-%Y %H:%M:%S")
            if i % 2 == 0
            else d.strftime("%d-%m-%Y %H:%M"),
            i,
        )
        for i, d in enumerate(stamps)
    ]
    df = spark.createDataFrame(rows, ["raw", "i"])
    got = {
        r["i"]: r["ts"]
        for r in df.select(
            "i",
            coalesce_multi_format_timestamp(
                "raw", "dd-MM-yyyy HH:mm:ss", "dd-MM-yyyy HH:mm"
            ).alias("ts"),
        ).collect()
    }
    for i, d in enumerate(stamps):
        expected = d if i % 2 == 0 else d.replace(second=0)
        assert got[i] == expected, (i, d)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                whitelist_categories=["Lu", "Ll", "Nd", "Zs", "Po"]
            ),
            max_size=80,
        ),
        min_size=1,
        max_size=20,
    )
)
def test_token_count_matches_ascii_whitespace_split(spark, texts):
    """Whitespace token count == ASCII-\\s split length. NB: found by
    hypothesis — Python's str.split() treats Unicode spaces (U+2000…)
    as separators, but Java and RE2 '\\s' are ASCII-only, so Spark and
    the DuckDB oracle agree with each other and differ from Python on
    those characters. The engine's documented contract is ASCII \\s."""
    import re

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: r["n"]
        for r in df.select("i", token_count("t").alias("n")).collect()
    }
    for i, t in enumerate(texts):
        expected = [x for x in re.split("[ \t\n\x0b\f\r]+", t) if x != ""]
        assert got[i] == len(expected), (i, repr(t))


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=5),
            st.integers(min_value=0, max_value=1000),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_dedup_keep_first_properties(spark, pairs):
    """A6: output keys unique; each kept row is the min-ordered row of
    its group; output is a subset of the input."""
    df = spark.createDataFrame(pairs, ["k", "v"])
    out = dedup_keep_first(df, ["k"], ["v"]).collect()
    got = {(r.k, r.v) for r in out}
    keys = [r.k for r in out]
    assert len(keys) == len(set(keys))
    expected = {}
    for k, v in pairs:
        if k not in expected or v < expected[k]:
            expected[k] = v
    assert got == {(k, v) for k, v in expected.items()}


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),       # user
            st.integers(min_value=0, max_value=100_000), # ts offset seconds
        ),
        min_size=1,
        max_size=60,
    )
)
def test_sessionize_batch_invariants(spark, rows):
    """Sessions partition the events: counts sum to the input size,
    start <= end, and consecutive sessions of a user are separated by
    more than the gap."""
    import datetime as dt

    from hse_etl_ochirov_aldar_spark.streaming.sessionize import sessionize_batch

    base = dt.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(u, base + dt.timedelta(seconds=s), 1.0) for u, s in rows],
        ["user_id", "ts", "value"],
    )
    gap = 600
    sessions = sessionize_batch(df, gap_seconds=gap).collect()

    assert sum(r.n_events for r in sessions) == len(rows)
    per_user: dict[int, list] = {}
    for r in sessions:
        assert r.session_start <= r.session_end
        per_user.setdefault(r.user_id, []).append(r)
    for u, ss in per_user.items():
        ss.sort(key=lambda r: r.session_start)
        for prev, nxt in zip(ss, ss[1:]):
            delta = (nxt.session_start - prev.session_end).total_seconds()
            assert delta > gap, (u, prev, nxt)


@given(
    texts=st.lists(
        st.text(
            alphabet=st.sampled_from("abc xyz"), min_size=0, max_size=60
        ),
        min_size=1,
        max_size=8,
    ),
    chunk=st.integers(min_value=1, max_value=6),
)
@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
def test_chunk_documents_coverage_properties(spark, texts, chunk):
    """For any corpus and window size: tiling (stride == chunk) chunks
    concatenate back to the canonical token stream, token counts are
    preserved, and empty docs emit no chunks."""
    from hse_etl_ochirov_aldar_spark.operators.normalize import chunk_documents

    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    out = chunk_documents(docs, chunk_tokens=chunk, stride=chunk).collect()
    by_doc: dict[int, list] = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append(r)
    for i, t in enumerate(texts):
        toks = t.split()
        rows = sorted(by_doc.get(i, []), key=lambda r: r.chunk_id)
        if not toks:
            assert rows == []
            continue
        rebuilt = " ".join(r.chunk_text for r in rows).split()
        assert rebuilt == toks  # exact partition, order preserved
        assert sum(r.n_chunk_tokens for r in rows) == len(toks)
        assert all(r.n_chunk_tokens <= chunk for r in rows)


def test_importance_weights_self_target_is_zero(spark, sf_dir):
    """Scoring a corpus against ITSELF as target must yield exactly
    zero importance for every document (identical models cancel
    token-by-token in integer space) — catches any asymmetry between
    the target and raw model constructions."""
    from hse_etl_ochirov_aldar_spark.operators.lm_score import importance_weights
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = importance_weights(docs, docs)
    assert w.where(F.col("imp_micro") != 0).count() == 0


def test_training_shuffle_positions_contiguous_and_seeded(spark, sf_dir):
    """training_shuffle invariants: per-shard positions are exactly
    0..n-1 (a permutation, no gaps/dupes); membership is seed-invariant
    while the order changes with the seed (epoch re-shuffle)."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.sampling import training_shuffle
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    s1 = training_shuffle(docs, "doc_id", n_shards=4, seed=1).persist()
    per_shard = s1.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("position").alias("lo"),
        F.max("position").alias("hi"),
        F.countDistinct("position").alias("nd"),
    )
    for r in per_shard.collect():
        assert r["lo"] == 0 and r["hi"] == r["n"] - 1 and r["nd"] == r["n"]
    s2 = training_shuffle(docs, "doc_id", n_shards=4, seed=2)
    j = s1.alias("a").join(s2.alias("b"), "doc_id")
    total = j.count()
    moved = j.where(
        (F.col("a.shard") != F.col("b.shard"))
        | (F.col("a.position") != F.col("b.position"))
    ).count()
    assert total == docs.count()
    assert moved > total // 2  # a different epoch reshuffles most rows
    s1.unpersist()


def test_leakage_safe_split_no_cluster_straddles(spark, sf_dir):
    """leakage_safe_split no-straddle invariant: every verified near-dup
    cluster lands wholly inside one split — no (train, val/test) pair of
    near-duplicates can exist. Doc-keyed hash_split is the negative
    control: on the same corpus it must straddle at least one cluster
    (that leak is exactly what the operator removes)."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        hash_split,
        leakage_safe_split,
    )
    from hse_etl_ochirov_aldar_spark.operators.text_dedup import (
        connected_components_min,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from hse_etl_ochirov_aldar_spark.queries import _docs_with_near_dups

    corpus = _docs_with_near_dups(spark, sf_dir)
    verified = ngram_jaccard_pairs(
        corpus, minhash_lsh_candidates(corpus), threshold=0.6
    )
    comp = connected_components_min(verified.select("id_a", "id_b"))
    assert comp.count() > 0  # the injected dups must form clusters

    def straddles(split_df):
        labeled = split_df.join(
            comp.select(F.col("id").alias("doc_id"), "rep"), "doc_id"
        )
        return (
            labeled.groupBy("rep")
            .agg(F.countDistinct("split").alias("n_splits"))
            .where(F.col("n_splits") > 1)
            .count()
        )

    assert straddles(leakage_safe_split(corpus, comp, "doc_id")) == 0
    assert straddles(hash_split(corpus, "doc_id")) > 0


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # group
            st.integers(min_value=0, max_value=50),     # pos (ties allowed)
            st.text(alphabet="abcxyz", min_size=1, max_size=4),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_assemble_trajectories_matches_python_sort(spark, rows):
    """Trajectory = items joined in (pos, item) order per group — the
    engine must agree with a plain-Python sorted() reference on
    arbitrary data, including order-column ties."""
    from hse_etl_ochirov_aldar_spark.operators.normalize import (
        assemble_trajectories,
    )

    df = spark.createDataFrame(rows, ["g", "pos", "item"])
    got = {
        r.g: (r.n_items, r.trajectory)
        for r in assemble_trajectories(df, ["g"], ["pos"], "item").collect()
    }
    expected: dict = {}
    for g, pos, item in rows:
        expected.setdefault(g, []).append((pos, item))
    expected = {
        g: (len(v), ";".join(item for _, item in sorted(v)))
        for g, v in expected.items()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["a", "b", "c", "d"]),      # group
            st.integers(min_value=0, max_value=10_000),  # key
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[1],
    ),
    st.integers(min_value=1, max_value=50),  # total
)
def test_distribution_matched_quotas_property(spark, rows, total):
    """For any corpus/target pair (target = even keys): per-group
    sampled count == min(integer quota, group size); no group outside
    the target survives."""
    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        distribution_matched_sample,
    )

    df = spark.createDataFrame(rows, ["g", "k"])
    target = df.where(F.col("k") % 2 == 0)
    tcounts: dict = {}
    for g, k in rows:
        if k % 2 == 0:
            tcounts[g] = tcounts.get(g, 0) + 1
    tt = sum(tcounts.values())
    out = distribution_matched_sample(df, target, "g", "k", total).collect()
    got: dict = {}
    for r in out:
        got[r.g] = got.get(r.g, 0) + 1
    sizes: dict = {}
    for g, _ in rows:
        sizes[g] = sizes.get(g, 0) + 1
    if tt == 0:
        assert got == {}
        return
    for g in set(sizes) | set(got):
        quota = total * tcounts.get(g, 0) // tt
        assert got.get(g, 0) == min(quota, sizes[g])


_url_label = st.text(
    alphabet="abcdefghijklmnopqrstuvwxyzABC0123456789-", min_size=1, max_size=8
).filter(lambda s: not s.startswith("-") and not s.endswith("-"))
_url_param = st.tuples(
    st.text(alphabet="abcxyz", min_size=1, max_size=5),
    st.text(alphabet="abc123", min_size=0, max_size=5),
)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["http", "https", "HTTP", "HTTPS"]),
            st.lists(_url_label, min_size=1, max_size=4),  # host labels
            st.lists(_url_label, min_size=0, max_size=3),  # path segments
            st.lists(_url_param, min_size=0, max_size=4),
            st.booleans(),  # trailing slash
        ),
        min_size=1,
        max_size=12,
    )
)
def test_url_canonicalize_idempotent_and_invariant(spark, urls):
    """Fuzz: canonicalize(canonicalize(u)) == canonicalize(u), and the
    canonical form is invariant under tracking-param injection, a
    #fragment, a default port, and host upper-casing."""
    from hse_etl_ochirov_aldar_spark.functions.url import canonicalize_url

    raw, polluted = [], []
    for scheme, labels, segs, params, slash in urls:
        host = ".".join(labels)
        path = "/" + "/".join(segs) + ("/" if slash and segs else "")
        q = "&".join(f"{k}={v}" for k, v in params)
        base = f"{scheme}://{host}{path}" + (f"?{q}" if q else "")
        port = ":443" if scheme.lower() == "https" else ":80"
        pq = "&".join(
            f"{k}={v}" for k, v in (params + [("utm_source", "x")])
        )
        dirty = f"{scheme.upper()}://{host.upper()}{port}{path}?{pq}#frag"
        raw.append((base,))
        polluted.append((dirty,))

    def canon(rows):
        df = spark.createDataFrame(rows, ["url"])
        return [r[0] for r in df.select(canonicalize_url(F.col("url"))).collect()]

    c1 = canon(raw)
    c2 = canon([(c,) for c in c1])
    assert c1 == c2, "idempotence"
    assert canon(polluted) == c1, "pollution invariance"


@settings(**_SETTINGS)
@given(
    st.lists(
        st.sampled_from(["a", "b", "c", "d", "e", "f", "g", "h"]),
        min_size=1,
        max_size=300,
    ),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=5),
)
def test_heavy_hitters_matches_exact_census(spark, keys, m, parts):
    """heavy_hitters must equal the plain-Python exact census filtered
    at count > N/(m+1), for ANY key distribution, counter budget, and
    partitioning — the MG completeness bound made falsifiable."""
    from collections import Counter

    from hse_etl_ochirov_aldar_spark.operators.heavy_hitters import (
        heavy_hitters,
    )

    df = spark.createDataFrame([(k,) for k in keys], "k STRING").repartition(
        parts
    )
    got = {
        (r["key"], r["cnt"])
        for r in heavy_hitters(df, "k", m=m).collect()
    }
    census = Counter(keys)
    n = len(keys)
    expected = {(k, c) for k, c in census.items() if c * (m + 1) > n}
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["x", "y", "z"]),
            st.integers(min_value=0, max_value=50),
        ),
        min_size=1,
        max_size=60,
    )
)
def test_decayed_counts_matches_python_fold(spark, rows):
    """decayed_counts must equal the integer reference: weight =
    1e6 >> periods (0 past 20), summed per item, over any timestamps."""
    from hse_etl_ochirov_aldar_spark.operators.trending import decayed_counts

    hl = 1000  # 1000-microsecond half-life for compact examples
    df = spark.createDataFrame(
        [(k, t) for k, t in rows], "item STRING, ts_us LONG"
    )
    ref = max(t for _, t in rows)
    expected: dict[str, list[int]] = {}
    for k, t in rows:
        p = (ref - t) // hl
        w = (1_000_000 >> p) if p < 20 else 0
        if w > 0:
            expected.setdefault(k, [0, 0, 0])
            expected[k][0] += w
            expected[k][1] += 1
            expected[k][2] = max(expected[k][2], t)
    got = {
        r["item"]: [r["score_units"], r["n_events"], r["last_seen_us"]]
        for r in decayed_counts(
            df, "item", F.col("ts_us"), half_life_us=hl
        ).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(list("abcdefghij")),
            min_size=1,
            max_size=8,
            unique=True,
        ),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([0.3, 0.5, 0.6, 0.8]),
)
def test_prefix_filter_equals_brute_force(spark, sets, t):
    """The prefix-filtered join must return EXACTLY the brute-force
    all-pairs Jaccard >= t set for any input — the completeness lemma
    made falsifiable on adversarial tiny universes (10 tokens, so
    overlaps and frequency ties are everywhere)."""
    from itertools import combinations

    from hse_etl_ochirov_aldar_spark.operators.setsim import (
        prefix_filter_jaccard_pairs,
    )

    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(sets)],
        "doc_id LONG, sh ARRAY<STRING>",
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_filter_jaccard_pairs(
            df, "sh", threshold=t
        ).collect()
    }
    expected = set()
    for (ia, sa), (ib, sb) in combinations(enumerate(sets), 2):
        a, b = set(sa), set(sb)
        if not a or not b:
            continue
        j = round(len(a & b) / len(a | b), 4)
        if j >= t:
            expected.add((ia, ib, j))
    assert got == expected


def test_prefix_filter_knife_edge_prefix_length(spark):
    """t=0.55 at scale 2 gives a candidate threshold of 0.545, and
    0.545 * 200 is 109.00000000000001 in floating point: an unslacked
    ceil makes the 200-token record's prefix one token too short. Its
    91 own tokens are unique (document frequency 1), so they rank
    first and the dropped 92nd slot is the only common token the
    prefix could hold — the pair (Jaccard 109/200 = 0.545 -> 0.55)
    vanishes unless the prefix length carries the same 1e-9 slack as
    the length prune."""
    from hse_etl_ochirov_aldar_spark.operators.setsim import (
        prefix_filter_jaccard_pairs,
    )

    shared = [f"s{i:03d}" for i in range(109)]
    a = [f"a{i:03d}" for i in range(91)] + shared
    df = spark.createDataFrame(
        [(0, a), (1, shared)], "doc_id LONG, sh ARRAY<STRING>"
    )
    got = {
        (r["id_a"], r["id_b"], r["jaccard"])
        for r in prefix_filter_jaccard_pairs(
            df, "sh", threshold=0.55, scale=2
        ).collect()
    }
    assert round(len(shared) / len(a), 2) >= 0.55  # brute force keeps it
    assert got == {(0, 1, 0.55)}


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(
            st.floats(
                min_value=-1e9,
                max_value=1e9,
                allow_nan=False,
                allow_infinity=False,
            ),
            st.integers(min_value=-3, max_value=3).map(float),  # ties
        ),
        min_size=1,
        max_size=60,
    ),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_percentile_paths_match_python_reference(spark, values, p):
    """Both exact percentile paths — the value-buffering aggregate and
    the rank-based O(1)-state twin — equal a pure-Python
    percentile_cont (Spark's interpolation: short-circuit to v_lo when
    ranks coincide OR v_lo == v_hi, else the symmetric product form
    (hi-pos)*v_lo + (pos-lo)*v_hi) bit-for-bit, for arbitrary data
    incl. heavy ties and any percentile in [0, 1]."""
    import math

    from hse_etl_ochirov_aldar_spark.operators.percentile import (
        grouped_percentile_bounds_ranked,
    )

    s = sorted(values)
    pos = p * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    # Spark's Percentile short-circuits when the bracketing RANKS
    # coincide AND when the bracketing VALUES are equal (its counts map
    # holds one entry per distinct value, so tied endpoints never reach
    # the product form). The symmetric form without the s[lo]==s[hi]
    # branch returns 3.0000000000000004 for values=[3.0,3.0], p≈0.2465
    # — the r10-verdict falsifying example persisted in .hypothesis/.
    if hi == lo or s[lo] == s[hi]:
        expected = s[lo]
    else:
        expected = (hi - pos) * s[lo] + (pos - lo) * s[hi]

    df = spark.createDataFrame([(v,) for v in values], "v double")
    agg = df.agg(F.percentile("v", F.lit(p))).collect()[0][0]
    ranked = grouped_percentile_bounds_ranked(df, "v", [], p, p).collect()[0]
    assert agg == expected
    assert ranked["p_lo"] == expected and ranked["p_hi"] == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.one_of(
            st.integers(min_value=-2, max_value=2).map(float),  # tie-heavy
            st.floats(
                min_value=-1e6,
                max_value=1e6,
                allow_nan=False,
                allow_infinity=False,
            ),
        ),
        min_size=1,
        max_size=50,
    ),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
    st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
)
def test_percentile_agg_equals_ranked_directly(spark, values, pa, pb):
    """Direct agg == ranked bit-equality, NO Python reference between
    them (r11 verdict task #2): the r10 ulp bug survived because both
    paths were compared to a third implementation that happened to
    share the ranked path's formula theory. This test would have
    caught it regardless of whose theory was right. Tie-heavy data,
    two independent percentiles, and percentile_clamp boundary rows
    folded in: a value sitting exactly on a tied bound must be kept /
    clamped identically under strategy='rank' and strategy='buffer'."""
    from hse_etl_ochirov_aldar_spark.operators.percentile import (
        grouped_percentile_bounds_ranked,
        percentile_clamp,
    )

    lower, upper = sorted((pa, pb))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(values)], "k long, v double"
    )
    agg = df.agg(
        F.percentile("v", F.lit(lower)).alias("p_lo"),
        F.percentile("v", F.lit(upper)).alias("p_hi"),
    ).collect()[0]
    rk = grouped_percentile_bounds_ranked(
        df, "v", [], lower, upper
    ).collect()[0]
    assert rk["p_lo"] == agg["p_lo"]  # bit-identity, not approx
    assert rk["p_hi"] == agg["p_hi"]
    clamp_b = {
        (r.k, r.v)
        for r in percentile_clamp(
            df, "v", lower=lower, upper=upper, strategy="buffer"
        ).collect()
    }
    clamp_r = {
        (r.k, r.v)
        for r in percentile_clamp(
            df, "v", lower=lower, upper=upper, strategy="rank"
        ).collect()
    }
    assert clamp_r == clamp_b and len(clamp_r) == len(values)


@settings(**_SETTINGS)
@given(
    groups=st.lists(
        st.tuples(
            st.text(alphabet="abcdefg", min_size=1, max_size=3),
            st.integers(min_value=0, max_value=40),
        ),
        min_size=1,
        max_size=6,
        unique_by=lambda t: t[0],
    ),
    total=st.integers(min_value=0, max_value=200),
)
def test_temperature_quota_membership_recomputable_outside_spark(
    spark, groups, total
):
    """The quota samplers' portability contract, property-pinned: the
    selected set is a pure function of (keys, group sizes, total) that
    a PYTHON reimplementation (math.isqrt quotas + md5-rank order)
    reproduces key-for-key — and the collect and join strategies both
    equal it. If any engine-side piece (the in-plan isqrt, the BIGINT
    div, the md5 rank, a window tie-break) drifted, membership would
    move and this catches it."""
    import hashlib
    import math

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    rows = []
    k = 0
    for g, n in groups:
        for _ in range(n):
            rows.append((g, k))
            k += 1
    if not rows:
        return
    df = spark.createDataFrame(rows, "g string, k long").repartition(5)

    # driver-free reference implementation, pure Python
    sizes = {}
    for g, _n in groups:
        sizes[g] = sizes.get(g, 0) + _n
    sizes = {g: n for g, n in sizes.items() if n > 0}
    w = {g: math.isqrt(n) for g, n in sizes.items()}
    s = sum(w.values())
    expected = set()
    if s:
        quotas = {g: total * wg // s for g, wg in w.items()}

        def rank_key(key):
            h = int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16)
            return (h % 1_000_000_007, key)

        by_g = {}
        for g, key in rows:
            by_g.setdefault(g, []).append(key)
        for g, keys in by_g.items():
            for key in sorted(keys, key=rank_key)[: quotas.get(g, 0)]:
                expected.add(key)

    got_collect = {
        r.k for r in temperature_mixture_sample(df, "g", "k", total).collect()
    }
    got_join = {
        r.k
        for r in temperature_mixture_sample(
            df, "g", "k", total, strategy="join"
        ).collect()
    }
    assert got_collect == expected
    assert got_join == expected


@settings(**_SETTINGS)
@given(
    groups=st.lists(
        st.tuples(
            st.text(alphabet="abcde", min_size=1, max_size=2),
            st.integers(min_value=0, max_value=60),
        ),
        min_size=1,
        max_size=5,
        unique_by=lambda t: t[0],
    ),
    quota=st.integers(min_value=0, max_value=25),
    thresh=st.integers(min_value=1, max_value=70),
)
def test_auto_skew_safe_membership_invariant(spark, groups, quota, thresh):
    """r11 finding 40, property-pinned: for ANY group-size
    distribution, threshold placement, and quota, the auto
    (conditional-salt), explicit two-stage, and single-window draws
    select the IDENTICAL set — routing can move cost, never
    membership. The threshold is swept through the generated sizes so
    examples exercise all-cold, all-hot, and mixed salt routing."""
    from hse_etl_ochirov_aldar_spark.operators import sampling as S

    rows = []
    k = 0
    for g, n in groups:
        for _ in range(n):
            rows.append((g, k))
            k += 1
    if not rows:
        return
    df = spark.createDataFrame(rows, "g string, k long").repartition(5)
    if quota == 0:
        # quota 0 selects nothing under every mode; cheap early exit
        assert S.quota_sample(df, "g", 1, "k", skew_safe=True).count() >= 0
        return
    old = S.SKEW_SAFE_GROUP_ROWS
    S.SKEW_SAFE_GROUP_ROWS = thresh
    try:
        got = {
            mode: {
                r.k
                for r in S.quota_sample(
                    df, "g", quota, "k", skew_safe=mode
                ).collect()
            }
            for mode in (None, True, False)
        }
    finally:
        S.SKEW_SAFE_GROUP_ROWS = old
    assert got[None] == got[True] == got[False]


def _ref_shingles(text, n):
    """Plain-Python word_shingles: ASCII-whitespace tokens, distinct
    n-token shingles in first-occurrence order; fewer than n tokens
    (and NULL text) give the whole token sequence as one shingle."""
    toks = [t for t in re.split(r"[ \t\n\x0b\f\r]+", text or "") if t]
    if len(toks) < n:
        return [" ".join(toks)]
    return list(dict.fromkeys(
        " ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)
    ))


_SHINGLE_TEXTS = st.one_of(
    st.none(),
    st.sampled_from(["", " ", " \t\n \r"]),
    # a 4-word vocabulary repeats shingles; mixed separators and a
    # trailing space exercise the split/trim/empty-token filter
    st.lists(
        st.tuples(
            st.sampled_from([" ", "  ", "\t", "\n", " \r\n "]),
            st.sampled_from(["a", "b", "c", "dd"]),
        ),
        max_size=14,
    ).map(lambda parts: "".join(w + t for w, t in parts) + " "),
)


@settings(**_SETTINGS)
@given(st.lists(_SHINGLE_TEXTS, min_size=1, max_size=25))
def test_word_shingles_match_python_reference(spark, texts):
    """word_shingles (n = 3 and 8) equals the Python reference on NULL,
    empty, whitespace-only, shorter-than-n and repetitive texts."""
    df = spark.createDataFrame(list(enumerate(texts)), "i long, text string")
    got = {
        r.i: (r.s3, r.s8)
        for r in df.select(
            "i",
            word_shingles("text", 3).alias("s3"),
            word_shingles("text", 8).alias("s8"),
        ).collect()
    }
    assert got == {
        i: (_ref_shingles(t, 3), _ref_shingles(t, 8))
        for i, t in enumerate(texts)
    }
