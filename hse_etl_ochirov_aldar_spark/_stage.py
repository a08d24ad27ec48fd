"""Session-scoped scratch staging with lifecycle (r7 verdict task #4,
ADVICE r7 medium).

Some operators materialize a small intermediate ONCE through a
parquet stage so a multi-consumer subplan is not re-executed per
consumer (PERF finding 22: setsim postings), and
the streaming catalog entries need a replay source + checkpoint
directory. Before r8 each call site did its own ``tempfile.mkdtemp``:
the dirs were never cleaned up (disk leak per call — including bench
guard reruns), and a driver-local ``/tmp`` path is only valid when
driver and executors share a filesystem.

This module is the one place those concerns live:

- **Root resolution.** ``spark.hse_etl.stageDir`` (Spark conf), else
  ``$SPARK_GRAFT_STAGE_DIR``, else a per-process directory under the
  system tempdir. The configured forms are how a real deployment
  points staging at shared storage (``hdfs://…/scratch``,
  ``s3a://bucket/scratch``); its lifecycle then belongs to the
  deployment (scratch-space TTL policies), not this process.
- **Multi-node guard.** The per-process tempdir default is only
  correct in ``local[*]`` mode — on a real cluster executors would
  write their OWN local disks and the driver-side read would miss the
  data. A non-local master with no configured stage dir raises
  immediately rather than returning silently-wrong results.
- **Cleanup.** The per-process default root is removed at interpreter
  exit (``atexit``). Per-call stage dirs cannot be deleted any
  earlier: the staged DataFrame is read lazily by downstream
  consumers, so the files must outlive this function. A long-lived
  session can reclaim explicitly with ``purge_stage_root()`` once it
  knows no staged DataFrame is still live (bench.py does this between
  catalog passes).
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession

STAGE_DIR_CONF = "spark.hse_etl.stageDir"
STAGE_DIR_ENV = "SPARK_GRAFT_STAGE_DIR"

_process_root: str | None = None
_seq = itertools.count()


def _unique_name(prefix: str) -> str:
    """A per-call directory name that is unique ACROSS processes.

    Under the per-process default root a plain counter would suffice,
    but a configured shared root (``spark.hse_etl.stageDir`` /
    ``$SPARK_GRAFT_STAGE_DIR``) is, by design, shared between
    concurrent sessions — two processes both writing
    ``<root>/hse_setsim_0`` with mode=overwrite would silently read
    each other's staged rows (ADVICE r8 medium). pid + uuid4 makes
    collisions impossible regardless of root; the counter is kept only
    for human-readable ordering within one process.
    """
    return f"{prefix}{os.getpid()}_{next(_seq)}_{uuid.uuid4().hex[:12]}"


def _default_root() -> str:
    """The per-process stage root, created lazily, removed at exit."""
    global _process_root
    if _process_root is None or not os.path.isdir(_process_root):
        _process_root = tempfile.mkdtemp(prefix=f"hse_stage_{os.getpid()}_")
        atexit.register(shutil.rmtree, _process_root, ignore_errors=True)
    return _process_root


def stage_root(spark: SparkSession) -> str:
    """Resolve the stage root for this session (see module docstring)."""
    configured = spark.conf.get(STAGE_DIR_CONF, None) or os.environ.get(
        STAGE_DIR_ENV
    )
    if configured:
        return configured.rstrip("/")
    master = spark.sparkContext.master or ""
    if not master.startswith("local"):
        raise ValueError(
            f"no shared stage directory configured for master {master!r}: "
            f"the default per-process tempdir is driver-local and a "
            f"multi-node read would miss executor-written files — set "
            f"{STAGE_DIR_CONF} (Spark conf) or ${STAGE_DIR_ENV} to a "
            f"shared filesystem path (hdfs://, s3a://, nfs mount)"
        )
    return _default_root()


def scratch_dir(spark: SparkSession, prefix: str) -> str:
    """A fresh directory path under the stage root (streaming replay
    sources, checkpoint locations, versioned-sink workspaces). The
    path is unique per call; lifecycle follows the root's."""
    path = f"{stage_root(spark)}/{_unique_name(prefix)}"
    # only meaningful for local-fs roots; hdfs/s3 writers mkdir lazily
    if "://" not in path:
        os.makedirs(path, exist_ok=True)
    return path


def stage_parquet(
    df: DataFrame, prefix: str, coalesce: int | None = 8
) -> DataFrame:
    """Materialize ``df`` once through a parquet stage and return a
    scan of the staged files.

    This is the multi-consumer seam (PERF finding 22): Spark
    re-executes a non-cached subplan per consumer, so an expensive
    small relation feeding a self-join (setsim postings) is
    computed once here and each consumer pays only a parquet scan.
    ``coalesce`` bounds the file count — these relations arrive in
    shuffle-partition granularity (~200 tiny files otherwise) and
    every consumer pays the file-open overhead; pass ``None`` to keep
    the producing partitioning for genuinely large stages.
    """
    spark = df.sparkSession
    path = f"{stage_root(spark)}/{_unique_name(prefix)}"
    w = df.coalesce(coalesce) if coalesce else df
    w.write.mode("overwrite").parquet(path)
    # the frame's own schema: the read-back starts no inference job
    return spark.read.schema(df.schema).parquet(path)


def purge_stage_root() -> None:
    """Delete the per-process default root NOW (long-lived sessions;
    caller asserts no staged DataFrame is still live). Configured
    shared roots are deliberately untouched — their lifecycle belongs
    to the deployment."""
    global _process_root
    if _process_root is not None:
        shutil.rmtree(_process_root, ignore_errors=True)
        _process_root = None
