"""Unit tests for operators/graph.triangle_counts (degree-oriented
wedge counting)."""

from __future__ import annotations

import itertools

from hse_etl_ochirov_aldar_spark.operators.graph import triangle_counts


def _run(spark, edges):
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    return {r["id"]: r for r in triangle_counts(df).collect()}


def test_k4_with_pendant(spark):
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    out = _run(spark, k4 + [(0, 5)])
    for n in (1, 2, 3):
        assert out[n]["triangles"] == 3
        assert out[n]["clustering_coeff"] == 1.0
    assert out[0]["degree"] == 4 and out[0]["triangles"] == 3
    assert out[0]["clustering_coeff"] == 0.5  # 2*3 / (4*3)
    assert out[5]["triangles"] == 0 and out[5]["clustering_coeff"] == 0.0


def test_triangle_free_graph(spark):
    # 6-cycle: every node degree 2, zero triangles
    out = _run(spark, [(i, (i + 1) % 6) for i in range(6)])
    assert all(r["triangles"] == 0 for r in out.values())
    assert all(r["clustering_coeff"] == 0.0 for r in out.values())


def test_duplicate_reversed_and_self_edges_ignored(spark):
    # triangle listed with duplicates, reversed orientation, self-loop
    out = _run(spark, [(0, 1), (1, 0), (1, 2), (2, 0), (0, 0), (1, 2)])
    assert all(out[n]["triangles"] == 1 for n in (0, 1, 2))
    assert all(out[n]["degree"] == 2 for n in (0, 1, 2))


def test_matches_bruteforce_on_pseudorandom_graph(spark):
    # deterministic pseudo-random graph, n=24, ~25% density
    nodes = range(24)
    edges = [
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if (a * 31 + b * 17) % 4 == 0
    ]
    adj = {n: set() for n in nodes}
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    expected = {
        n: sum(
            1
            for x, y in itertools.combinations(sorted(adj[n]), 2)
            if y in adj[x]
        )
        for n in nodes
    }
    out = _run(spark, edges)
    for n in nodes:
        if adj[n]:
            assert out[n]["triangles"] == expected[n], n
            assert out[n]["degree"] == len(adj[n])


def test_plan_is_equi_joins_only(spark):
    edges = [(a, b) for a in range(8) for b in range(a + 1, 8) if (a + b) % 3]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    plan = triangle_counts(df)._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert "BroadcastNestedLoop" not in plan


# --- kcore_members ---------------------------------------------------------


def test_kcore_peels_tail_keeps_clique(spark):
    from hse_etl_ochirov_aldar_spark.operators.graph import kcore_members

    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    df = spark.createDataFrame(k4 + [(3, 10), (10, 11), (11, 12)], "id_a long, id_b long")
    out = sorted((r["id"], r["core_degree"]) for r in kcore_members(df, 3).collect())
    assert out == [(0, 3), (1, 3), (2, 3), (3, 3)]


def test_kcore_cascading_peel(spark):
    from hse_etl_ochirov_aldar_spark.operators.graph import kcore_members

    # path 0-1-2-3-4: 2-core is empty, but only after CASCADING rounds
    # (endpoints peel first, exposing new degree-1 nodes each round)
    path = [(i, i + 1) for i in range(4)]
    df = spark.createDataFrame(path, "id_a long, id_b long")
    assert kcore_members(df, 2).count() == 0
    # cycle 0..4-0: every node degree 2 -> whole cycle IS the 2-core
    cyc = [(i, (i + 1) % 5) for i in range(5)]
    out = kcore_members(spark.createDataFrame(cyc, "id_a long, id_b long"), 2)
    assert sorted(r["id"] for r in out.collect()) == [0, 1, 2, 3, 4]


def test_kcore_raises_on_round_exhaustion(spark):
    import pytest as _pytest

    from hse_etl_ochirov_aldar_spark.operators.graph import kcore_members

    path = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(path, "id_a long, id_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        kcore_members(df, 2, max_rounds=1)


def test_label_propagation_two_clusters(spark):
    from hse_etl_ochirov_aldar_spark.operators.graph import label_propagation

    # two triangles joined by one bridge edge (3-10): sync LPA with
    # min tie-break settles to communities {1,2,3}->1 and {10,11,12}->3
    # (hand-traced through 4 synchronous rounds).
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (10, 11), (10, 12), (11, 12), (3, 10)],
        "id_a long, id_b long",
    )
    out = {r["id"]: r["community"] for r in label_propagation(edges, iters=4).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 3, 11: 3, 12: 3}


def test_kcore_converging_at_exactly_max_rounds_returns(spark):
    from hse_etl_ochirov_aldar_spark.operators.graph import kcore_members

    # path 0-1-...-6 peels to empty in exactly 3 rounds at k=2 (two
    # endpoints per round); with max_rounds=3 the fixpoint is only
    # observable on the (max_rounds+1)-th degree census — the r6
    # advice off-by-one made this raise despite having converged
    path = [(i, i + 1) for i in range(6)]
    df = spark.createDataFrame(path, "id_a long, id_b long")
    assert kcore_members(df, 2, max_rounds=3).count() == 0
