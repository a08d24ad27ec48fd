"""Unit tests for operators/collocations.py and operators/encoding.py."""

from __future__ import annotations

import hashlib
import math


def _bucket(key, k: int) -> int:
    return int(hashlib.md5(str(key).encode()).hexdigest()[:8], 16) % k


# --- pmi_collocations ------------------------------------------------------


def test_pmi_counts_and_score(spark):
    from hse_etl_ochirov_aldar_spark.operators.collocations import pmi_collocations

    # "new york" always adjacent; "the" everywhere (high-frequency,
    # low-PMI); pair counts exact.
    rows = [(i, "the new york times reported the news") for i in range(4)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in pmi_collocations(df, min_count=2).collect()}
    ny = out[("new", "york")]
    assert ny["pair_count"] == 4
    # n_tokens = 28, n_bigrams = 24, c(new)=c(york)=4
    expect = math.log((4.0 * 28.0 * 28.0) / (24.0 * 4.0 * 4.0))
    assert ny["pmi_micro"] == round(expect * 1_000_000)
    assert abs(ny["pmi"] - expect) < 1e-6
    # "the" pairs exist but with lower PMI than the exclusive pair
    assert out[("the", "new")]["pmi_micro"] < ny["pmi_micro"]


def test_pmi_min_count_and_case_fold(spark):
    from hse_etl_ochirov_aldar_spark.operators.collocations import pmi_collocations

    df = spark.createDataFrame(
        [(1, "Alpha Beta alpha beta"), (2, "alpha beta"), (3, "gamma delta")],
        "doc_id long, text string",
    )
    out = {(r["w1"], r["w2"]): r["pair_count"]
           for r in pmi_collocations(df, min_count=3).collect()}
    # case-folded: ALL three alpha->beta adjacencies count; gamma pair
    # (count 1) and beta->alpha (count 1) are cut by min_count
    assert out == {("alpha", "beta"): 3}


def test_pmi_plan_no_python(spark):
    from hse_etl_ochirov_aldar_spark.operators.collocations import pmi_collocations

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    plan = pmi_collocations(df)._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan
    assert "Cartesian" not in plan


# --- kfold_target_encode ---------------------------------------------------


def test_target_encode_leave_fold_out_exact(spark):
    from hse_etl_ochirov_aldar_spark.operators.encoding import kfold_target_encode

    k = 3
    rows = [(i, "a" if i % 2 == 0 else "b", (i + 1) * 100) for i in range(40)]
    df = spark.createDataFrame(rows, "key long, cat string, t long")
    out = kfold_target_encode(df, "key", "cat", "t", k=k).collect()

    # Python reference with the same md5 folds and half-up division
    from collections import defaultdict

    cnt: dict = defaultdict(int)
    s: dict = defaultdict(int)
    for key, cat, t in rows:
        f = _bucket(key, k)
        cnt[(cat, f)] += 1
        s[(cat, f)] += t
    for r in out:
        cat, f = r["category"], r["fold"]
        n_out = sum(v for (c, g), v in cnt.items() if c == cat and g != f)
        s_out = sum(v for (c, g), v in s.items() if c == cat and g != f)
        assert r["n_in_fold"] == cnt[(cat, f)]
        assert r["n_out"] == n_out
        assert not r["is_prior"]
        # exact half-up: (2*s*100 + n*100) div (2*n*100) / 100 with
        # in_scale == out_scale == 2
        expect = ((2 * s_out * 100 + n_out * 100) // (2 * n_out * 100)) / 100
        assert r["enc"] == expect


def test_target_encode_single_fold_category_uses_prior(spark):
    from hse_etl_ochirov_aldar_spark.operators.encoding import kfold_target_encode

    k = 5
    # find a key whose bucket is 0, to confine category "solo" there
    solo_key = next(i for i in range(1000, 2000) if _bucket(i, k) == 0)
    rows = [(i, "big", 500) for i in range(60)] + [(solo_key, "solo", 9900)]
    df = spark.createDataFrame(rows, "key long, cat string, t long")
    out = {(r["category"], r["fold"]): r
           for r in kfold_target_encode(df, "key", "cat", "t", k=k).collect()}
    r = out[("solo", 0)]
    assert r["is_prior"] and r["n_out"] == 0
    # The prior is leave-FOLD-out across ALL categories: every fold-0
    # row (the solo row AND the "big" rows that hash into fold 0) is
    # excluded from the global mean, so no fold-0 target — of any
    # category — leaks into fold 0's encoding.
    big_in_f0 = sum(1 for i in range(60) if _bucket(i, k) == 0)
    assert big_in_f0 > 0  # fixture sanity: the leak case is exercised
    n_ref = 61 - (big_in_f0 + 1)
    s_ref = (60 * 500 + 9900) - (big_in_f0 * 500 + 9900)
    expect = ((2 * s_ref * 100 + n_ref * 100) // (2 * n_ref * 100)) / 100
    assert r["enc"] == expect
    # every "big" cell is a plain leave-fold-out mean: 500 centi-units
    # = 5.00 in value terms (units contract, scale 2)
    for (cat, f), row in out.items():
        if cat == "big":
            assert row["enc"] == 5.0 and not row["is_prior"]


def test_target_encode_plan_no_window_no_python(spark):
    from hse_etl_ochirov_aldar_spark.operators.encoding import kfold_target_encode

    df = spark.createDataFrame([(1, "a", 10)], "key long, cat string, t long")
    plan = (
        kfold_target_encode(df, "key", "cat", "t")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Python" not in plan
    assert "Window" not in plan
