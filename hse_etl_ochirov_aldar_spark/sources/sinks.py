"""Sinks (SURVEY.md §2.1 S7-S12) and the one commit protocol every
table write goes through.

The reference writes row-at-a-time INSERTs (anti-pattern,
sources_to_linear.py:59-79), TRUNCATE+rebuild full refreshes
(HW-3/airflow/dags/iot_temperature.py:44-46), ON CONFLICT DO NOTHING /
DO UPDATE keyed sinks (mongo_to_postgres_replication.py:61;
HW-4/airflow/dags/iot_temperature.py:209-216), and monthly
range-partitioned tables (final-module-3/init/init.sql:91-136), all
committed by Postgres transactions.

Spark-first mapping: vectorized Parquet writes. Partitioned layout via
``partitionBy`` (partition pruning replaces PG's range partitions);
window-scoped rebuilds replace only the partitions present in the new
data (the analogue of DELETE WHERE + INSERT); upserts via
read-union-keep-newest (the plain-Parquet idiom; on Delta Lake this is
MERGE, noted per call).

Commit protocol. A write replaces whole UNITS of a table: each touched
``col=value`` partition directory, or the whole table.

1. Stage: write the new content of every replaced unit into a fresh
   staging dir beside the table, ``<table>.staged``.
2. Publish: write ``<table>.commit.tmp`` naming the staging dir and the
   units, then rename it to ``<table>.commit``. That one atomic rename
   is the commit point.
3. Apply: replace each named unit with its staged copy (delete, then
   rename; a unit whose staged copy is gone is already applied, so the
   step is idempotent), then retire the marker and the staging dir.
4. Recover: every writer first calls :func:`_recover`, which rolls a
   published marker forward (step 3 again) and deletes an unpublished
   staging dir.

Guarantee: a crash before step 2 changes nothing visible; after step 2
the new snapshot is the committed one, and each writer rolls a
published commit forward before it reads the table, so no crash point
loses a unit or leaves a mix of two snapshots behind. Limit: a plain
Parquet reader that runs during step 3, or between a crash in step 3
and the next writer, can see a unit missing or some units already
replaced. Versioned tables close that gap: ``read_versioned`` readers
resolve the newest marker and never see a partial snapshot.

Versioned tables (:func:`versioned_upsert`, plans/ivm, operators/cdc)
run the same protocol with these settings: the staging dir is
``v<n+1>`` inside the root, the marker is ``_log/<n+1>.commit``
(optionally carrying the writer's ``epoch=``), there is no apply step,
and data dirs older than ``keep_versions`` are garbage-collected.
Markers, staging dirs and the log all live outside the data
directories, which hold only live files once each call returns.

Schema record. Each commit also records the table's schema, as
``_schema.json``, inside the committed unit, so the record becomes
visible atomically with the data: in the staging dir of a whole-table
commit, in ``v<n+1>`` of a versioned one (written before the marker),
and, for a partition-unit commit, in the marker, from which the apply
step writes it to the table root. A partition-unit record is the union
of the recorded and the new schema and is rewritten only when that
union changes; a table that has data but no record keeps none, since
its untouched units may hold columns the write does not know.
:func:`read_table` reads with the record, so re-reading a table the
engine wrote costs no schema-inference job; without a record it infers.
Spark skips ``_``-prefixed files and ``*.parquet`` globs do not match
the record.

Scale: a window rebuild or partition-scoped upsert never rewrites
untouched partitions; the commit costs a handful of metadata calls per
replaced unit, never a second copy of the data.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SCHEMA_RECORD = "_schema.json"


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` via the JVM Hadoop FS API — the
    object-store-correct way to test/list/size/move dataset directories
    (driver-side ``pathlib`` only works on local disk)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def _checked_rename(fs, src, dst) -> None:
    """Hadoop FileSystem.rename reports most failures by RETURNING
    FALSE, not raising — an unchecked call can silently drop the only
    remaining copy of a dataset after its destination was deleted.
    Every sink rename goes through this guard."""
    if not fs.rename(src, dst):
        raise IOError(f"filesystem rename failed: {src} -> {dst}")


def _read_text(fs, jpath) -> str:
    stream = fs.open(jpath)
    try:
        return bytes(stream.readAllBytes()).decode("utf-8")
    finally:
        stream.close()


def _write_text(fs, jpath, text: str) -> None:
    out = fs.create(jpath, True)
    out.write(bytearray(text, "utf-8"))
    out.close()


def _table_schema(df: DataFrame, partition_cols=()) -> dict:
    """``df``'s schema in its written layout, as JSON: partition
    columns last, as a read of the table returns them. (A Parquet read
    makes every column nullable, recorded or not.)"""
    fields = [f for f in df.schema.fields if f.name not in partition_cols]
    fields += [df.schema[c] for c in partition_cols]
    return StructType(fields).jsonValue()


def _schema_union(old: dict, new: dict) -> dict:
    """``old``'s fields in order, each with its type in ``new`` if it is
    there, then the fields only ``new`` has."""
    by_name = {f["name"]: f for f in new["fields"]}
    fields = [by_name.pop(f["name"], f) for f in old["fields"]]
    return {**new, "fields": fields + list(by_name.values())}


def _recorded_schema(fs, jrecord) -> dict | None:
    return json.loads(_read_text(fs, jrecord)) if fs.exists(jrecord) else None


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Read a table these sinks wrote, with the schema its commit
    recorded, so the read starts no schema-inference job. A table
    without a record (written by something else, or before records
    existed) is read by inference."""
    record = _recorded_schema(
        *_hadoop_fs(spark, f"{path.rstrip('/')}/{SCHEMA_RECORD}")
    )
    reader = spark.read
    if record is not None:
        reader = reader.schema(StructType.fromJson(record))
    return reader.parquet(path)


def _publish(fs, jmarker, payload: str) -> None:
    """Step 2: write ``<marker>.tmp`` carrying ``payload`` and rename it
    to ``jmarker``. Rename-to-a-NEW-NAME is atomic on HDFS/local (and
    an S3 marker PUT is atomic), so the commit is either published or
    not, never half-written. Raises if the marker already exists
    (single-writer contract)."""
    jtmp = jmarker.suffix(".tmp")
    _write_text(fs, jtmp, payload)
    if not fs.rename(jtmp, jmarker):
        fs.delete(jtmp, False)
        raise RuntimeError(
            f"commit {jmarker} already exists: concurrent writer (these "
            "sinks are single-writer; use Delta/Iceberg for OCC)"
        )


def _apply(spark: SparkSession, fs, jtable, commit: dict) -> None:
    """Step 3: replace each unit named by ``commit`` with its staged
    copy, then retire the marker and the staging dir. A partition-unit
    commit writes the schema record it carries first. Idempotent: a
    unit whose staged copy is gone was already moved into place."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    jstaged = Path(jtable.getParent(), commit["staged"])
    whole = commit["units"] is None
    if whole:
        moves = [(jstaged, jtable)]
    else:
        if not fs.exists(jtable):
            fs.mkdirs(jtable)
        if commit.get("schema") is not None:
            _write_text(fs, Path(jtable, SCHEMA_RECORD), json.dumps(commit["schema"]))
        moves = [(Path(jstaged, u), Path(jtable, u)) for u in commit["units"]]
    for src, dst in moves:
        if fs.exists(src):
            fs.delete(dst, True)
            _checked_rename(fs, src, dst)
    fs.delete(jtable.suffix(".commit"), False)
    if not whole:  # a whole-table commit renamed the staging dir itself
        fs.delete(jstaged, True)


def _recover(spark: SparkSession, table: str) -> None:
    """Step 4, run by every writer before it reads or stages anything:
    roll a published commit forward, delete an unpublished one."""
    fs, jtable = _hadoop_fs(spark, table.rstrip("/"))
    jmarker = jtable.suffix(".commit")
    if fs.exists(jmarker):
        _apply(spark, fs, jtable, json.loads(_read_text(fs, jmarker)))
    jstaged = jtable.suffix(".staged")
    if fs.exists(jstaged):
        # the marker's temp file only exists while staging does, and
        # goes first so that stays true if this recovery dies here
        fs.delete(jtable.suffix(".commit.tmp"), False)
        fs.delete(jstaged, True)


def _commit(
    df: DataFrame,
    table: str,
    partition_cols: tuple[str, ...] = (),
    partition_units: bool = False,
) -> None:
    """Steps 1-3 for a plain-layout table: ``df``, laid out by
    ``partition_cols``, is staged with its schema record, one marker
    publishes it, and the units are moved into place. With
    ``partition_units`` the units are the ``partition_cols[0]`` dirs
    the write produced; otherwise the unit is the whole table. The
    caller has already run :func:`_recover`."""
    spark = df.sparkSession
    table = table.rstrip("/")
    fs, jtable = _hadoop_fs(spark, table)
    Path = spark._jvm.org.apache.hadoop.fs.Path
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(table + ".staged")
    jstaged = jtable.suffix(".staged")
    schema = _table_schema(df, partition_cols)
    commit = {"staged": jstaged.getName(), "units": None}
    if partition_units:
        # listStatus preserves Spark's partition-value escaping
        names = [st.getPath().getName() for st in fs.listStatus(jstaged)]
        prefix = f"{partition_cols[0]}="
        commit["units"] = sorted(n for n in names if n.startswith(prefix))
        if fs.exists(jtable):
            old = _recorded_schema(fs, Path(jtable, SCHEMA_RECORD))
            union = None if old is None else _schema_union(old, schema)
            schema = None if union == old else union
        commit["schema"] = schema
    else:
        _write_text(fs, Path(jstaged, SCHEMA_RECORD), json.dumps(schema))
    _publish(fs, jtable.suffix(".commit"), json.dumps(commit))
    _apply(spark, fs, jtable, commit)


def write_overwrite(df: DataFrame, path: str) -> None:
    """S8: full-refresh sink (TRUNCATE + INSERT), committed as one
    whole-table unit. Spark's own ``mode("overwrite")`` deletes the
    target before its write job runs; staging first means a failed
    write leaves the previous table in place."""
    _recover(df.sparkSession, path)
    _commit(df, path)


def write_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """S12: partitioned table sink; replaces PG range partitioning.
    A full refresh: the whole table is the committed unit, so
    partitions absent from ``df`` disappear.

    Rows with NULL partition values land in the
    ``__HIVE_DEFAULT_PARTITION__`` directory — the analogue of the
    reference's DEFAULT partition (init.sql:107).
    """
    _recover(df.sparkSession, path)
    _commit(df, path, partition_cols)


def overwrite_window(
    spark: SparkSession, df: DataFrame, path: str, partition_col: str
) -> None:
    """S11+I2: replace only the partitions present in ``df``, leaving
    others untouched (the Spark analogue of ``DELETE ... WHERE day >=
    cutoff`` + window rebuild,
    HW-4/airflow/dags/iot_temperature.py:160-216). Each partition of
    ``df`` is one committed unit; the session conf is never touched."""
    _recover(spark, path)
    _commit(df, path, (partition_col,), partition_units=True)


def _keep_newest(
    merged: DataFrame, key_cols: list[str], version_col: str
) -> DataFrame:
    w = Window.partitionBy(*key_cols).orderBy(F.desc(version_col))
    return (
        merged.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .drop("__rn")
    )


def upsert_keep_newest(
    spark: SparkSession,
    df: DataFrame,
    path: str,
    key_cols: list[str],
    version_col: str,
    partition_col: str | None = None,
) -> None:
    """S10/I3: ``ON CONFLICT (key) DO UPDATE`` == keep-newest-per-key.

    Plain-Parquet idiom: read target, unionByName, rank by version desc
    within key, keep rn=1, commit. On Delta/Iceberg this is a single
    ``MERGE WHEN MATCHED UPDATE WHEN NOT MATCHED INSERT`` — swap this
    body, keep the signature.

    With ``partition_col`` the upsert is PARTITION-SCOPED: only target
    partitions present in ``df`` are read and replaced — upserting one
    day into a 100 TB table touches that day, not the table. Requires
    the target to be laid out by ``partition_col``. Contract: a key
    never moves between partitions. The newest row is kept per
    ``(partition_col, *key_cols)``, so a batch row whose key already
    lives in another partition is a second row, whether or not that
    partition is touched. The merged rows are hashed by
    ``partition_col`` into at most one task per touched partition
    (one shuffle), so the partitions are written in parallel, one file
    each. Without ``partition_col`` the whole table is the committed
    unit.

    All touched partitions commit under one marker, with the schema
    of the merged rows (a batch may add columns). Target existence is
    checked explicitly via the Hadoop FS API: a transient read error
    (permissions, corrupt footer) propagates instead of being mistaken
    for "first write" and silently discarding the table.
    """
    path = path.rstrip("/")
    _recover(spark, path)
    fs, jpath = _hadoop_fs(spark, path)
    merged = df
    if partition_col is not None:
        touched = [r[0] for r in df.select(partition_col).distinct().collect()]
    if fs.exists(jpath):
        existing = read_table(spark, path)
        if partition_col is not None:
            # NULL partition values need an explicit isNull branch:
            # `col IN (..., NULL)` is NULL (never true) in SQL, so the
            # existing __HIVE_DEFAULT_PARTITION__ rows would be left
            # out of the merge and then replaced by the batch's rows.
            non_null = [t for t in touched if t is not None]
            pred = (
                F.col(partition_col).isin(non_null)
                if non_null
                else F.lit(False)
            )
            if any(t is None for t in touched):
                pred = pred | F.col(partition_col).isNull()
            existing = existing.where(pred)
        merged = existing.unionByName(df, allowMissingColumns=True)
    if partition_col is None:
        _commit(_keep_newest(merged, key_cols, version_col), path)
        return
    tasks = max(1, min(len(touched), spark.sparkContext.defaultParallelism))
    merged = merged.repartition(tasks, partition_col)
    newest = _keep_newest(merged, [partition_col, *key_cols], version_col)
    _commit(newest, path, (partition_col,), partition_units=True)


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_file_mb: int = 128,
    sort_col: str | None = None,
    zorder_cols: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ~target_file_mb files, returning the new file count.

    Streaming sinks and incremental upserts accrete small files; at
    scale the scan's task-per-file overhead and the NameNode/listing
    pressure dominate. Rewrites through the commit protocol (one
    write, one shuffle). Sizing uses the Hadoop FS ContentSummary —
    correct on object storage, where driver-side ``pathlib`` sees
    nothing. ``sort_col`` additionally sorts within partitions so
    row-group min/max statistics become selective for that column
    (data skipping on later filtered scans).

    ``zorder_cols`` (mutually exclusive with ``sort_col``) clusters by
    the Morton interleave of the named numeric columns instead
    (functions/zorder.z_value): files then have bounded min/max extents
    in EVERY listed dimension, so box predicates over any of them skip
    files — a linear sort only ever serves its leading column. Rows are
    RANGE-partitioned by the key (repartitionByRange), not hashed: hash
    partitioning would scatter each z-range across all files and throw
    the clustering away.
    """
    import math

    path = path.rstrip("/")
    _recover(spark, path)
    fs, jpath = _hadoop_fs(spark, path)
    size_bytes = fs.getContentSummary(jpath).getLength()
    df = read_table(spark, path)
    n_files = max(1, math.ceil(size_bytes / (target_file_mb * 1024 * 1024)))
    if zorder_cols:
        if sort_col:
            raise ValueError("sort_col and zorder_cols are mutually exclusive")
        from ..functions.zorder import z_value

        key = z_value([F.col(c) for c in zorder_cols])
        out = (
            df.withColumn("__z", key)
            .repartitionByRange(n_files, "__z")
            .sortWithinPartitions("__z")
            .drop("__z")
        )
    elif sort_col:
        # RANGE partition + sort: each output file owns a disjoint value
        # range, so min/max footers prune at FILE granularity. A plain
        # repartition would hand every file a random sample — row
        # groups inside a file stay sorted, but every file would still
        # intersect every predicate.
        out = df.repartitionByRange(n_files, sort_col).sortWithinPartitions(
            sort_col
        )
    else:
        out = df.repartition(n_files)
    _commit(out, path)
    return n_files


# --- versioned tables: the same protocol, no apply step --------------------


def _versioned_log_dir(root: str) -> str:
    return root.rstrip("/") + "/_log"


def _versioned_data_dir(root: str, version: int) -> str:
    return f"{root.rstrip('/')}/v{version:08d}"


def _listed_versions(spark: SparkSession, path: str, prefix: str, suffix: str):
    """{version: Path} for the entries of ``path`` named
    ``<prefix><digits><suffix>`` — one listing, shared by the commit
    log (``_log/<n>.commit``) and the data dirs (``v<n>``)."""
    fs, jdir = _hadoop_fs(spark, path)
    if not fs.exists(jdir):
        return {}
    out = {}
    for status in fs.listStatus(jdir):
        name = status.getPath().getName()
        core = name[len(prefix): len(name) - len(suffix)]
        if name.startswith(prefix) and name.endswith(suffix) and core.isdigit():
            out[int(core)] = status.getPath()
    return out


def current_version(spark: SparkSession, root: str) -> int | None:
    """Highest COMMITTED version of a versioned table, or None.

    A version exists iff its commit marker ``_log/<n>.commit`` exists;
    data directories without a marker are invisible (crashed writers).
    """
    return max(
        _listed_versions(spark, _versioned_log_dir(root), "", ".commit"),
        default=None,
    )


def list_versions(spark: SparkSession, root: str) -> list[int]:
    """COMMITTED versions whose data is still retained (time-travel
    targets), ascending: one listing of ``_log`` intersected with one
    listing of the root. Commit markers are kept forever, data dirs
    only for the last ``keep_versions``."""
    committed = _listed_versions(spark, _versioned_log_dir(root), "", ".commit")
    return sorted(committed.keys() & _listed_versions(spark, root, "v", "").keys())


def _committed_epoch(spark: SparkSession, root: str, version: int) -> int | None:
    """The ``epoch=`` a commit marker recorded, or None."""
    fs, jpath = _hadoop_fs(
        spark, _versioned_log_dir(root) + f"/{version:08d}.commit"
    )
    for line in _read_text(fs, jpath).splitlines():
        if line.startswith("epoch="):
            return int(line[len("epoch="):])
    return None


def _commit_versioned(
    spark: SparkSession,
    root: str,
    build: Callable[[DataFrame | None], DataFrame],
    epoch: int | None = None,
    keep_versions: int = 2,
) -> int | None:
    """The commit protocol for a versioned table. ``build`` maps the
    current committed snapshot (None before the first commit) to the
    next one, which is staged in ``v<n+1>`` with its schema record and
    published by the ``_log/<n+1>.commit`` rename, with ``epoch``
    recorded in the same marker. Recovery is deleting the unpublished
    ``v<n+1>`` a crashed writer may have left; it runs first, even for
    a replay. Returns the committed version, or None when ``epoch`` <=
    the committed epoch (a replayed batch whose effect is already
    committed)."""
    cur = current_version(spark, root)
    nxt = (cur or 0) + 1
    staged = _versioned_data_dir(root, nxt)
    fs, jstaged = _hadoop_fs(spark, staged)
    fs.delete(jstaged, True)
    if epoch is not None and cur is not None:
        committed = _committed_epoch(spark, root, cur)
        if committed is not None and epoch <= committed:
            return None
    snapshot = None
    if cur is not None:
        snapshot = read_table(spark, _versioned_data_dir(root, cur))
    out = build(snapshot)
    out.write.parquet(staged)
    jrecord = spark._jvm.org.apache.hadoop.fs.Path(jstaged, SCHEMA_RECORD)
    _write_text(fs, jrecord, json.dumps(_table_schema(out)))
    payload = f"v{nxt:08d}\n" + (f"epoch={epoch}\n" if epoch is not None else "")
    _, jmarker = _hadoop_fs(spark, f"{_versioned_log_dir(root)}/{nxt:08d}.commit")
    _publish(fs, jmarker, payload)
    # GC by ONE listing of the live dirs: after steady-state GC only
    # ~keep_versions remain, so each commit's GC is O(keep), not
    # O(versions ever written). Markers stay (tiny, the time-travel log).
    for v, jdir in _listed_versions(spark, root, "v", "").items():
        if v <= nxt - keep_versions:
            fs.delete(jdir, True)
    return nxt


def read_versioned(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a committed snapshot of a versioned table — the current one
    by default, or ``version`` for time travel (plain-parquet twin of
    Delta's ``versionAsOf``). Raises FileNotFoundError for a version
    that was never committed or whose data dir has been retained out
    (``keep_versions`` GC); a crashed writer's orphan data dir is not
    readable because it has no commit marker."""
    if version is None:
        version = current_version(spark, root)
        if version is None:
            raise FileNotFoundError(f"no committed version under {root}")
    else:
        available = list_versions(spark, root)
        if version not in available:
            raise FileNotFoundError(
                f"version {version} of {root} is not committed+retained "
                f"(available: {available})"
            )
    return read_table(spark, _versioned_data_dir(root, version))


def versioned_upsert(
    spark: SparkSession,
    df: DataFrame,
    root: str,
    key_cols: list[str],
    version_col: str,
    keep_versions: int = 2,
) -> int:
    """S10/I3, ATOMIC form (VERDICT r2 #6): keep-newest-per-key upsert
    into a versioned table whose readers can never observe a partial
    state — the plain-parquet reconstruction of the Delta/Iceberg
    commit log, with zero new dependencies. Each call stages the FULL
    merged snapshot and publishes it with one marker rename (module
    docstring); at 100 TB you reserve it for dimension/mart tables,
    while fact tables take the partition-scoped
    :func:`upsert_keep_newest` or a real Delta/Iceberg MERGE.

    Returns the committed version number.
    """

    def merge(current: DataFrame | None) -> DataFrame:
        if current is not None:
            current = current.unionByName(df, allowMissingColumns=True)
        return _keep_newest(
            df if current is None else current, key_cols, version_col
        )

    return _commit_versioned(spark, root, merge, keep_versions=keep_versions)
