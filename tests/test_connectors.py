"""Mongo-export reads (S5): the reference's aggregation pipeline
(``$sort`` + ``$group``/``$first`` dedup at source, plus ``$match``/
``$project``/``$limit``) executed by ``apply_mongo_pipeline`` over a
seeded mongoexport-style dump."""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def mongo_export(spark, tmp_path_factory):
    """A seeded user_sessions mongoexport dump (JSON lines) with
    deliberate duplicate natural keys — the reference's dedup-at-source
    testbed (seed_mongo.py idiom)."""
    import json as _json

    path = tmp_path_factory.mktemp("mongo") / "user_sessions.json"
    rows = []
    for i in range(30):
        rows.append({"_id": f"oid{i}", "natural_key": f"s{i % 10}",
                     "updated_at": 1000 + i, "device": "mobile" if i % 2 else "web"})
    path.write_text("\n".join(_json.dumps(r) for r in rows) + "\n")
    return str(path)


_REFERENCE_DEDUP_PIPELINE = [
    {"$sort": {"updated_at": -1}},
    {"$group": {"_id": "$natural_key",
                "updated_at": {"$first": "$updated_at"},
                "device": {"$first": "$device"}}},
]


def test_mongo_pipeline_executes_on_export(spark, mongo_export):
    """The reference's $sort + $group/$first dedup pipeline, run for
    real: one survivor per natural key, and it is the NEWEST doc."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from hse_etl_ochirov_aldar_spark.sources.connectors import (
        read_mongo_export,
    )

    schema = StructType([
        StructField("_id", StringType()),
        StructField("natural_key", StringType()),
        StructField("updated_at", LongType()),
        StructField("device", StringType()),
    ])
    df = read_mongo_export(
        spark, mongo_export, schema=schema,
        pipeline=_REFERENCE_DEDUP_PIPELINE,
    )
    assert [f.name for f in df.schema.fields] == ["_id", "updated_at", "device"]
    rows = {r["_id"]: (r.updated_at, r.device) for r in df.collect()}
    # 30 docs over 10 natural keys -> 10 survivors, each the newest
    # (keys s0..s9 seen at i, i+10, i+20 -> newest is i+20)
    assert rows == {
        f"s{i}": (1020 + i, "mobile" if i % 2 else "web") for i in range(10)
    }


def test_mongo_export_declared_schema_prunes_and_matches(spark, mongo_export):
    """$match translates to a real Filter ahead of the dedup window,
    and the declared schema (no inference pass) reaches the JSON scan's
    ReadSchema."""
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from hse_etl_ochirov_aldar_spark.sources.connectors import (
        read_mongo_export,
    )

    schema = StructType([
        StructField("_id", StringType()),
        StructField("natural_key", StringType()),
        StructField("updated_at", LongType()),
        StructField("device", StringType()),
    ])
    df = read_mongo_export(
        spark, mongo_export, schema=schema,
        pipeline=[{"$match": {"device": "web",
                              "updated_at": {"$gte": 1010}}}]
                 + _REFERENCE_DEDUP_PIPELINE,
    )
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    assert "PushedFilters" in plan or "Filter" in plan
    rows = df.collect()
    assert rows and all(r.device == "web" and r.updated_at >= 1010 for r in rows)


def test_mongo_pipeline_refuses_nondeterministic_first(spark, mongo_export):
    from pyspark.sql import functions as F  # noqa: F401

    from hse_etl_ochirov_aldar_spark.sources.connectors import (
        read_mongo_export,
    )

    with pytest.raises(ValueError, match="preceding .sort"):
        read_mongo_export(
            spark, mongo_export,
            pipeline=[{"$group": {"_id": "$natural_key",
                                  "device": {"$first": "$device"}}}],
        )


def test_mongo_group_first_tie_is_content_deterministic(spark):
    """$group/$first on EQUAL sort keys must pick as a pure function
    of the data (content-hash tie-break), not partition/arrival order:
    the same rows in reversed order and different partitioning must
    yield the identical pick."""
    from hse_etl_ochirov_aldar_spark.sources.connectors import (
        apply_mongo_pipeline,
    )

    rows = [
        ("k1", 5, "a"), ("k1", 5, "b"), ("k1", 5, "c"),
        ("k2", 7, "x"), ("k2", 7, "y"),
    ]
    pipe = [
        {"$sort": {"updated_at": -1}},
        {"$group": {"_id": "$nk", "device": {"$first": "$device"}}},
    ]
    schema = "nk STRING, updated_at INT, device STRING"
    a = apply_mongo_pipeline(
        spark.createDataFrame(rows, schema).repartition(1), pipe
    )
    b = apply_mongo_pipeline(
        spark.createDataFrame(list(reversed(rows)), schema).repartition(7),
        pipe,
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_mongo_sort_limit_and_terminal_sort(spark):
    """The lazy $sort must still materialize where order is
    observable: fused with $limit into a top-N, and at pipeline end."""
    from hse_etl_ochirov_aldar_spark.sources.connectors import (
        apply_mongo_pipeline,
    )

    rows = [(i, 100 - i) for i in range(20)]
    schema = "k INT, v INT"
    df = spark.createDataFrame(rows, schema).repartition(5)
    topn = apply_mongo_pipeline(
        df, [{"$sort": {"v": 1}}, {"$limit": 3}]
    ).collect()
    assert [r["v"] for r in topn] == [81, 82, 83]
    term = apply_mongo_pipeline(df, [{"$sort": {"k": -1}}]).collect()
    assert [r["k"] for r in term] == sorted(range(20), reverse=True)


def test_mongo_project_dropping_sort_key_fixes_order_first(spark):
    """A $project that drops a pending sort key materializes the sort
    while the key still exists (the eager-$sort behavior)."""
    from hse_etl_ochirov_aldar_spark.sources.connectors import (
        apply_mongo_pipeline,
    )

    rows = [(i, 100 - i) for i in range(10)]
    df = spark.createDataFrame(rows, "k INT, v INT").repartition(3)
    out = apply_mongo_pipeline(
        df,
        [{"$sort": {"v": 1}}, {"$project": {"k": 1}}, {"$limit": 2}],
    ).collect()
    assert [r["k"] for r in out] == [9, 8]


def test_mongo_match_null_semantics(spark):
    """BSON comparison treats null/missing as a value: {$ne: v} and
    {$in: [null, ...]} both match null fields, {field: null} matches
    only nulls, and range ops never match null — pinned against what
    mongod returns (round-5 advice finding: the naive col != lit
    translation silently dropped the null rows)."""
    import pytest

    from hse_etl_ochirov_aldar_spark.sources.connectors import (
        apply_mongo_pipeline,
    )

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b"), (4, None)], "id INT, tag STRING"
    )

    def ids(pipe):
        return sorted(r["id"] for r in apply_mongo_pipeline(df, pipe).collect())

    assert ids([{"$match": {"tag": {"$ne": "a"}}}]) == [2, 3, 4]
    assert ids([{"$match": {"tag": {"$ne": None}}}]) == [1, 3]
    assert ids([{"$match": {"tag": {"$in": [None, "b"]}}}]) == [2, 3, 4]
    assert ids([{"$match": {"tag": {"$in": ["a", "b"]}}}]) == [1, 3]
    assert ids([{"$match": {"tag": None}}]) == [2, 4]
    assert ids([{"$match": {"tag": {"$eq": None}}}]) == [2, 4]
    assert ids([{"$match": {"tag": {"$gt": "a"}}}]) == [3]

    with pytest.raises(ValueError, match=r"\$first operand"):
        apply_mongo_pipeline(
            df,
            [{"$sort": {"id": 1}},
             {"$group": {"_id": "$tag", "x": {"$first": 1}}}],
        )
