"""Unit tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import math
import random

import duckdb
import pytest

from perfbench.gen import TextSize, gen_text
from perfbench.metrics import Outcomes, tail_percentile
from perfbench.trace import StageStats, attribute
from perfbench.workloads import compare_rows, percentile_bounds_sql


def _stage(run_ms=0, out=0, shuffle=0, spill=0, gc=0, failed=0, status="COMPLETE"):
    return StageStats(status, run_ms, out, shuffle, spill, gc, failed)


# --- tail percentile: at least ten samples beyond ---------------------------


def test_tail_needs_more_than_ten_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


def test_tail_leaves_at_least_ten_beyond():
    for n in (11, 20, 37, 100, 1000):
        samples = [float(i) for i in range(1, n + 1)]
        p, v = tail_percentile(samples)
        assert sum(s > v for s in samples) >= 10
        # the next percentile up would leave fewer than ten beyond
        if p < 99:
            rank_next = -(-(p + 1) * n // 100)
            assert n - rank_next < 10


def test_tail_known_values():
    samples = [float(i) for i in range(1, 101)]
    assert tail_percentile(samples) == (90, 90.0)
    assert tail_percentile([float(i) for i in range(1, 21)]) == (50, 10.0)
    assert tail_percentile([float(i) for i in range(1, 1001)]) == (99, 990.0)


def test_tail_ignores_input_order():
    samples = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0, 12.0]
    assert tail_percentile(samples) == tail_percentile(sorted(samples))


# --- span-to-stage attribution ----------------------------------------------


def test_attribution_sums_stages_of_all_jobs():
    stages = {1: _stage(run_ms=1000, shuffle=2 * 2**20, gc=100),
              2: _stage(run_ms=500, out=10, spill=2**20)}
    c, out, failed = attribute(2.0, {7: [1], 8: [2]}, stages, cores=4)
    assert c["task_s"] == 1.5
    assert c["write_task_s"] == 0.5
    assert c["shuffle_mb"] == 2.0
    assert c["spill_mb"] == 1.0
    assert c["gc_s"] == 0.1
    assert c["jobs"] == 2
    assert c["idle_core_s"] == 2.0 * 4 - 1.5
    assert (out, failed) == (10, 0)


def test_attribution_counts_a_reused_stage_once():
    # job 8 lists the shuffle-map stage job 7 ran; Spark reports it skipped
    stages = {1: _stage(run_ms=1000, shuffle=2**20), 2: _stage(run_ms=200, out=5)}
    c, _, _ = attribute(1.0, {7: [1], 8: [1, 2]}, stages, cores=4)
    assert c["task_s"] == 1.2
    assert c["shuffle_mb"] == 1.0


def test_attribution_skips_skipped_and_unknown_stages():
    stages = {1: _stage(run_ms=900, status="SKIPPED"), 2: _stage(run_ms=100, failed=2)}
    c, _, failed = attribute(1.0, {7: [1, 2, 3]}, stages, cores=4)
    assert c["task_s"] == 0.1
    assert failed == 2


def test_attribution_of_a_span_without_jobs():
    c, out, failed = attribute(0.25, {}, {}, cores=4)
    assert c["jobs"] == 0 and c["task_s"] == 0
    assert c["idle_core_s"] == 1.0
    assert (out, failed) == (0, 0)


# --- error_rate accounting --------------------------------------------------


def test_error_rate_counts_each_failed_operation_once():
    o = Outcomes()
    ops = [o.attempt() for _ in range(4)]
    o.fail(ops[1])
    o.fail(ops[1])  # raised and then also failed its check
    assert (o.attempted, o.failed, o.error_rate) == (4, 1, 0.25)


def test_fail_all_taints_every_attempt():
    o = Outcomes()
    for _ in range(3):
        o.attempt()
    o.fail(0)
    o.fail_all()
    assert o.failed == 3 and o.error_rate == 1.0


def test_error_rate_of_nothing_attempted_is_zero():
    assert Outcomes().error_rate == 0.0


def test_failing_an_unattempted_operation_raises():
    o = Outcomes()
    o.attempt()
    with pytest.raises(ValueError):
        o.fail(1)


# --- generators and row comparison ------------------------------------------


def test_text_generator_is_seeded(tmp_path):
    size = TextSize(docs=200, vocab=500)
    a = gen_text(str(tmp_path / "a"), 3, size)
    b = gen_text(str(tmp_path / "b"), 3, size)
    c = gen_text(str(tmp_path / "c"), 4, size)
    read = lambda inp: open(f"{inp.docs}/part-0.json").read()  # noqa: E731
    assert read(a) == read(b) and a.expected_kept == b.expected_kept
    assert read(a) != read(c)
    planted = set().union(*a.planted.values())
    assert not (a.expected_kept & planted)
    assert a.rows == 200 + len(a.planted["exact"]) + len(a.planted["near"])


def _spark_percentile(values, p):
    # org.apache.spark.sql.catalyst.expressions.aggregate.Percentile
    vals = sorted(values)
    pos = (len(vals) - 1) * p
    lo, hi = math.floor(pos), math.ceil(pos)
    a, b = vals[lo], vals[hi]
    return a if a == b else (hi - pos) * a + (pos - lo) * b


def test_percentile_bounds_match_spark_interpolation():
    con = duckdb.connect()
    rng = random.Random(5)
    for n in (1, 2, 20, 399, 1000):
        vals = [round(rng.gauss(21, 6), 2) for _ in range(n)]
        con.execute("CREATE OR REPLACE TABLE t(x DOUBLE)")
        con.executemany("INSERT INTO t VALUES (?)", [(v,) for v in vals + [None]])
        got = con.sql(percentile_bounds_sql("t", "x")).fetchone()
        assert got == (_spark_percentile(vals, 0.05), _spark_percentile(vals, 0.95))


def test_compare_rows_tolerates_order_and_float_noise():
    assert compare_rows([(1, 0.1 + 0.2), (2, None)], [(2, None), (1, 0.3)]) is None
    msg = compare_rows([(1, 1.0)], [(1, 1.01)])
    assert msg and "1 rows vs 1 expected" in msg
