"""Fault injection at every step of the sinks' commit protocol.

For each writer the test injects a crash before every filesystem
mutation the commit makes (tests/fault_fs.py), then runs recovery the
way the next writer would. A DuckDB scan of the Parquet files must then
show EXACTLY the previous snapshot (crash before the marker rename) or
EXACTLY the new one (crash after it): never a mix, never a lost
partition, and no staging dir or marker left beside the table. The
schema record is one of the steps, so a crash also lands between the
data and the record: ``read_table`` must then see the old schema with
the old data or the new schema with the new data. The versioned commit
replays its epoch instead, which must apply the batch exactly once; a
second replay must be a no-op.
"""

from __future__ import annotations

import os
import shutil

import duckdb
import pytest

from hse_etl_ochirov_aldar_spark.plans.ivm import maintain_additive_mart_versioned
from hse_etl_ochirov_aldar_spark.sources.sinks import (
    _recover,
    compact_parquet,
    overwrite_window,
    read_table,
    upsert_keep_newest,
    write_partitioned,
)

from .fault_fs import crash, faults

FACT = "k INT, day STRING, ver INT"


def _facts(spark, rows):
    return spark.createDataFrame(rows, FACT)


def _prepare_facts(spark, t):
    write_partitioned(
        _facts(spark, [(1, "a", 1), (2, "a", 1), (3, None, 1), (4, "b", 1),
                       (5, "c", 1)]),
        t, "day",
    )


# writer -> (prepare(spark, table), write(spark, table), mutations per commit)
WRITERS = {
    # touches day=a (update), the NULL partition (new key), day=d (new)
    "upsert_partitioned": (
        _prepare_facts,
        lambda spark, t: upsert_keep_newest(
            spark, _facts(spark, [(1, "a", 2), (6, None, 1), (7, "d", 1)]),
            t, ["k"], "ver", partition_col="day",
        ),
        10,
    ),
    # adds a column: the apply step rewrites the root's schema record
    "upsert_widening": (
        _prepare_facts,
        lambda spark, t: upsert_keep_newest(
            spark,
            spark.createDataFrame(
                [(1, "a", 2, "x"), (7, "d", 1, "y")],
                FACT + ", note STRING",
            ),
            t, ["k"], "ver", partition_col="day",
        ),
        9,
    ),
    "upsert_whole_table": (
        lambda spark, t: upsert_keep_newest(
            spark, _facts(spark, [(1, "a", 1), (2, "b", 1)]), t, ["k"], "ver"
        ),
        lambda spark, t: upsert_keep_newest(
            spark, _facts(spark, [(2, "b", 2), (3, "c", 1)]), t, ["k"], "ver"
        ),
        6,
    ),
    "overwrite_window": (
        _prepare_facts,
        lambda spark, t: overwrite_window(
            spark, _facts(spark, [(8, "b", 1), (9, "d", 1)]), t, "day"
        ),
        8,
    ),
    "write_partitioned": (
        _prepare_facts,
        lambda spark, t: write_partitioned(
            _facts(spark, [(10, "b", 1), (11, "e", 1)]), t, "day"
        ),
        6,
    ),
    "compact_parquet": (
        lambda spark, t: spark.range(40).selectExpr("id", "id * 2 AS v")
        .repartition(4).write.parquet(t),
        lambda spark, t: compact_parquet(spark, t),
        6,
    ),
}


def _snapshot(table: str, old_files: frozenset):
    """(rows, data files) of a plain table, read by DuckDB. Files are
    named by directory and by whether they belong to ``old_files`` —
    the previous snapshot — since new files get fresh names per run."""
    files = sorted(
        (os.path.dirname(f), f in old_files) for f in _data_files(table)
    )
    rows = duckdb.sql(
        f"SELECT * FROM read_parquet('{table}/**/*.parquet', "
        "hive_partitioning = true, union_by_name = true) ORDER BY ALL"
    ).fetchall()
    return rows, files


def _data_files(table: str) -> frozenset:
    return frozenset(
        os.path.relpath(os.path.join(d, f), table)
        for d, _, fs in os.walk(table)
        for f in fs
        if f.endswith(".parquet")
    )


def _siblings(table: str) -> list[str]:
    return sorted(os.listdir(os.path.dirname(table)))


@pytest.fixture(scope="module")
def baselines(spark, tmp_path_factory):
    """Per writer: the prepared table, its snapshot and schema, the
    snapshot and schema after a fault-free write, and the index of the
    marker rename among the mutations that write made."""
    cache = {}

    def get(name):
        if name not in cache:
            prepare, write, n_steps = WRITERS[name]
            root = tmp_path_factory.mktemp(name)
            base = str(root / "base" / "t")
            prepare(spark, base)
            ok = str(root / "ok" / "t")
            shutil.copytree(base, ok)
            with faults(pytest.MonkeyPatch(), None) as plan:
                write(spark, ok)
            assert len(plan.steps) == n_steps, plan.steps
            publish = next(
                i for i, s in enumerate(plan.steps) if s == "rename t.commit.tmp"
            )
            old_files = _data_files(base)
            old = _snapshot(base, old_files), read_table(spark, base).schema
            new = _snapshot(ok, old_files), read_table(spark, ok).schema
            assert old != new
            cache[name] = base, old_files, old, new, publish
        return cache[name]

    return get


@pytest.mark.parametrize(
    "writer,step",
    [(w, k) for w, (_, _, n) in WRITERS.items() for k in range(n)],
)
def test_crash_at_every_commit_step(
    spark, baselines, monkeypatch, tmp_path, writer, step
):
    base, old_files, old, new, publish = baselines(writer)
    _, write, _ = WRITERS[writer]
    t = str(tmp_path / "t")
    shutil.copytree(base, t)
    steps = crash(monkeypatch, lambda: write(spark, t), step)
    _recover(spark, t)
    got = _snapshot(t, old_files), read_table(spark, t).schema
    assert got == (old if step <= publish else new)
    assert _siblings(t) == ["t"]
    if writer == "upsert_partitioned" and step == publish + 2:
        # the window in which a delete-then-rename loop loses a
        # partition: its old copy deleted, the staged copy not yet
        # renamed in. The next writer (here: the same batch,
        # redelivered) commits on top of the recovered table and loses
        # nothing.
        assert steps[-1].startswith("delete day=")
        write(spark, t)
        assert _snapshot(t, old_files)[0] == new[0][0]


def _mart_rows(root: str):
    log = os.path.join(root, "_log")
    v = max(int(n.split(".")[0]) for n in os.listdir(log) if n.endswith(".commit"))
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{root}/v{v:08d}/*.parquet') ORDER BY ALL"
    ).fetchall()


def _refresh(spark, root, rows, epoch):
    delta = spark.createDataFrame(rows, "g STRING, x LONG, w INT")
    return maintain_additive_mart_versioned(
        spark, root, delta, ["g"], ["x"], weight_col="w", epoch=epoch
    )


@pytest.fixture(scope="module")
def mart_base(spark, tmp_path_factory):
    """A versioned mart with two committed epochs (0 and 1)."""
    root = str(tmp_path_factory.mktemp("mart") / "mart")
    _refresh(spark, root, [("a", 1, 1), ("b", 2, 1)], 0)
    _refresh(spark, root, [("a", 3, 1)], 1)
    return root


@pytest.mark.parametrize("step", range(5))
def test_versioned_commit_crash_then_epoch_replay(
    spark, mart_base, monkeypatch, tmp_path, step
):
    root = str(tmp_path / "mart")
    shutil.copytree(mart_base, root)
    batch = [("a", 5, 1), ("b", 2, -1), ("c", 7, 1)]
    new = [("a", 3, 9), ("c", 1, 7)]  # b fully retracted
    steps = crash(monkeypatch, lambda: _refresh(spark, root, batch, 2), step)
    assert steps == [
        "delete v00000003",  # a crashed writer's unpublished data dir
        "create _schema.json",  # the schema record, inside v00000003
        "create 00000003.commit.tmp",
        "rename 00000003.commit.tmp",
        "delete v00000001",  # keep_versions GC
    ][:step]
    published = step > 3
    assert _mart_rows(root) == (new if published else [("a", 2, 4), ("b", 1, 2)])
    # the source redelivers epoch 2: applied exactly once either way
    assert _refresh(spark, root, batch, 2) == (None if published else 3)
    assert _mart_rows(root) == new
    assert _refresh(spark, root, batch, 2) is None
    assert _mart_rows(root) == new
    # no unpublished data dir survives; a crash mid-GC only delays GC
    assert sorted(n for n in os.listdir(root) if n != "_log")[-2:] == [
        "v00000002", "v00000003"
    ]
