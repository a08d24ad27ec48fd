"""Mongo-source reads (SURVEY §2.1 S5 — the reference's live MongoDB
reads).

Reference behavior being mapped: Mongo collection scans via full
``find()`` plus aggregation-pipeline dedup at source
(final-module-3/airflow/dags/mongo_to_postgres_replication.py:35-39,
118,149,185).

Spark mapping: a ``mongoexport`` JSON-lines dump read with a declared
schema (:func:`read_mongo_export`), with the reference's aggregation
pipeline executed as DataFrame operations
(:func:`apply_mongo_pipeline`). The reference pipelines and the
benchmark's medallion workload read their landing data this way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def apply_mongo_pipeline(df: DataFrame, pipeline: list[dict]) -> DataFrame:
    """Execute the aggregation-pipeline subset the reference ships
    (mongo_to_postgres_replication.py:35-39: ``$sort`` + ``$group`` with
    ``$first`` — dedup at source — plus ``$match``/``$project``/
    ``$limit``) as DataFrame operations.

    It runs the reference's pipeline dict over a ``mongoexport`` dump
    (read_mongo_export): the same results mongod would return, computed
    in Spark instead, just without the wire-size win of running it
    server-side.

    Mongo semantics notes: ``$group``+``$first`` picks the first doc in
    the PRECEDING ``$sort`` order — with no upstream sort the choice is
    undefined server-side, so this translator refuses it (SURVEY §4
    caution 3: every dedup must be deterministic). On EQUAL sort keys
    Mongo's pick is also undefined, so the ``$group`` window appends a
    content-hash tie-breaker (xxhash64 of the whole row) — the choice
    is then a pure function of the data, never of partition/arrival
    order, and ties only between fully identical rows are left to the
    hash (where the pick cannot matter). ``$sort`` keys use 1/-1
    ascending/descending; ``_id`` in the output is the group key.

    ``$sort`` is LAZY: a global orderBy before ``$group`` would
    range-shuffle the whole collection only for the group window to
    re-shuffle by key and discard that order. The sort keys are
    recorded and materialized only where ordering is observable —
    consumed by the next ``$group``'s window, fused with ``$limit``
    into a TakeOrdered top-N, or applied once at pipeline end.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    def _sort_cols(keys):
        return [
            F.col(k).asc() if d == 1 else F.col(k).desc() for k, d in keys
        ]

    sort_keys: list[tuple[str, int]] | None = None
    for stage in pipeline:
        if len(stage) != 1:
            raise ValueError(f"one operator per stage, got {stage!r}")
        (op, spec), = stage.items()
        if op == "$match":
            import operator as pyop

            # Mongo vs SQL null semantics (round-5 advice finding):
            # BSON comparison treats a null/missing field as a VALUE —
            # {$ne: v} matches docs whose field is null or absent, and
            # {$in: [null, ...]} matches missing fields — while Spark's
            # three-valued `col != lit` / `isin` silently drops such
            # rows. The translations below add the explicit isNull
            # branches so the executed-dump path reproduces what mongod
            # would return. Range ops ($gt/$gte/$lt/$lte) are
            # type-bracketed in Mongo and never match null, which is
            # exactly Spark's null-propagating comparison — no branch.
            mops = {"$eq": pyop.eq, "$ne": pyop.ne, "$gt": pyop.gt,
                    "$gte": pyop.ge, "$lt": pyop.lt, "$lte": pyop.le}
            for field, cond in spec.items():
                if isinstance(cond, dict):
                    for mop, val in cond.items():
                        if mop == "$in":
                            vals = [v for v in val if v is not None]
                            pred = F.col(field).isin(*vals) if vals else F.lit(False)
                            if len(vals) != len(val):  # null in the list
                                pred = pred | F.col(field).isNull()
                            df = df.where(pred)
                        elif mop == "$ne":
                            if val is None:
                                df = df.where(F.col(field).isNotNull())
                            else:
                                df = df.where(
                                    (F.col(field) != F.lit(val))
                                    | F.col(field).isNull()
                                )
                        elif mop == "$eq":
                            df = df.where(
                                F.col(field).isNull()
                                if val is None
                                else F.col(field) == F.lit(val)
                            )
                        elif mop in mops:
                            df = df.where(mops[mop](F.col(field), F.lit(val)))
                        else:
                            raise ValueError(f"unsupported $match op {mop!r}")
                elif cond is None:
                    df = df.where(F.col(field).isNull())
                else:
                    df = df.where(F.col(field) == F.lit(cond))
        elif op == "$sort":
            sort_keys = list(spec.items())
        elif op == "$group":
            gid = spec["_id"]
            if not (isinstance(gid, str) and gid.startswith("$")):
                raise ValueError("only '_id': '$field' group keys supported")
            if sort_keys is None:
                raise ValueError(
                    "$group with $first requires a preceding $sort — "
                    "without it Mongo's pick is undefined"
                )
            key = gid[1:]
            accs = []
            for out, acc in spec.items():
                if out == "_id":
                    continue
                if not (isinstance(acc, dict) and list(acc) == ["$first"]):
                    raise ValueError(f"unsupported accumulator {acc!r}")
                src = acc["$first"]
                if not (isinstance(src, str) and src.startswith("$")):
                    raise ValueError(
                        f"$first operand must be a '$field' string, got {src!r}"
                    )
                accs.append((out, src[1:]))
            tie = F.xxhash64(F.struct(*[F.col(c) for c in df.columns]))
            w = Window.partitionBy(key).orderBy(*_sort_cols(sort_keys), tie)
            df = (
                df.withColumn("__rn", F.row_number().over(w))
                .where(F.col("__rn") == 1)
                .select(
                    F.col(key).alias("_id"),
                    *[F.col(src).alias(out) for out, src in accs],
                )
            )
            sort_keys = None
        elif op == "$project":
            keep = [f for f, v in spec.items() if v in (1, True)]
            drop = [f for f, v in spec.items() if v in (0, False)]
            if keep and drop:
                raise ValueError("$project cannot mix includes and excludes")
            if sort_keys is not None:
                survivors = set(keep) if keep else set(df.columns) - set(drop)
                if any(k not in survivors for k, _ in sort_keys):
                    # the projection drops a pending sort key — the
                    # order must be fixed while the key still exists
                    df = df.orderBy(*_sort_cols(sort_keys))
                    sort_keys = None
            df = df.select(*keep) if keep else df.drop(*drop)
        elif op == "$limit":
            if sort_keys is not None:
                # $sort + $limit fuse into TakeOrdered top-N
                df = df.orderBy(*_sort_cols(sort_keys))
                sort_keys = None
            df = df.limit(int(spec))
        else:
            raise ValueError(f"unsupported pipeline stage {op!r}")
    if sort_keys is not None:
        # terminal $sort: the one place the global order is observable
        df = df.orderBy(*_sort_cols(sort_keys))
    return df


def read_mongo_export(
    spark: SparkSession,
    path: str,
    schema=None,
    pipeline: list[dict] | None = None,
) -> DataFrame:
    """S5: read a ``mongoexport`` JSON-lines dump with a DECLARED
    schema (skipping inference's extra scan) and run the reference's
    aggregation pipeline over it via :func:`apply_mongo_pipeline`.
    JSON files split per line, so the scan parallelizes like any file
    source; the declared schema also prunes parsing to the referenced
    fields (Jackson skips unrequested tokens)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    df = reader.json(path)
    if pipeline:
        df = apply_mongo_pipeline(df, pipeline)
    return df
