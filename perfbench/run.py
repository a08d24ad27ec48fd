#!/usr/bin/env python3
"""Engine benchmark: one seeded workload, one closed-loop client, local[4].

    python3 perfbench/run.py --workload medallion_refresh --seed 1 \
        --seconds 10 --trace 0

Run from the repository root. The run generates its inputs from the
seed under ``.perfbench/``, sets up the engine three times (session,
inputs) and warms it up with the workload's warm-up operations, then
repeats the workload's operation back to back until ``--seconds`` of
operation time have passed, checking every output against an
independent recompute outside the timed region. The last line of
standard output is one JSON object: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
from statistics import median
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "hse_etl_ochirov_aldar_spark"
CORES = 4
HEAP = "1g"
SETUP_ROUNDS = 3


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _environment(work: str) -> dict[str, str]:
    """Point every scratch location of Spark, the engine and Python at
    the run's work directory; returns the session configs to add."""
    for sub in ("local", "tmp", "stage", "warehouse"):
        os.makedirs(f"{work}/{sub}", exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(CORES),
        "SPARK_DRIVER_MEMORY": HEAP,
        "SPARK_GRAFT_STAGE_DIR": f"{work}/stage",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # no /tmp/hsperfdata_* from spark-submit's launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    return {
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # The heap is committed and touched up front, so the RSS peak
        # does not depend on when the collector last grew it.
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData -Xms{HEAP} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM behind it, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def run(args) -> dict:
    from perfbench import workloads
    from perfbench.metrics import Outcomes, PeakRss, cpu_jiffies, tail_percentile
    from perfbench.trace import NullTracer, SparkTracer

    from hse_etl_ochirov_aldar_spark.session import get_spark

    mod = workloads.load(args.workload)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{os.getpid()}")
    conf = _environment(work)
    null = NullTracer()
    spark = None
    try:
        # Set-up = session start + input generation and loading, three
        # times (a new SparkContext each time; only the first launches
        # the JVM), then the workload's warm-up operations. A cold warm-up
        # happens once per JVM, so it is measured once and added to the
        # median.
        rounds_s, get_spark_s = [], []
        for _ in range(SETUP_ROUNDS):
            if spark is not None:
                spark.stop()
                shutil.rmtree(f"{work}/data", ignore_errors=True)
            t0 = time.perf_counter()
            spark = get_spark(app_name="perfbench", extra_conf=conf)
            get_spark_s.append(time.perf_counter() - t0)
            spark.sparkContext.setLogLevel("ERROR")
            wl = mod.Workload(spark, f"{work}/data", args.seed)
            rounds_s.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        for _ in range(wl.warmup_ops):  # JIT, codegen, Python workers, file caches
            wl.run_op(null)
            wl.after_op()
        warmup_s = time.perf_counter() - t0
        setup_s = median(rounds_s) + warmup_s

        tracer = SparkTracer(spark, CORES) if args.trace else None
        outcomes = Outcomes()
        plain_s, traced_s, extras = [], [], []
        busy = rows = 0.0
        steal0, total0 = cpu_jiffies()
        with PeakRss(_jvm_pid()) as rss:
            while not wl.exhausted and (
                busy < args.seconds or (tracer and min(len(plain_s), len(traced_s)) < 2)
            ):
                op = outcomes.attempt()
                # untraced, traced, traced, untraced, ...: operations still
                # speed up as the JVM warms, and this order does not hand
                # that drift to either side of the tracing overhead
                traced = tracer is not None and op % 4 in (1, 2)
                t0 = time.perf_counter()
                try:
                    if traced:
                        with tracer.operation(mod.NAME):
                            rows += wl.run_op(tracer)
                    else:
                        rows += wl.run_op(null)
                except Exception:
                    traceback.print_exc()
                    outcomes.fail(op)
                dt = time.perf_counter() - t0
                busy += dt
                (traced_s if traced else plain_s).append(dt)
                if traced:
                    extras.append(wl.trace_extras(tracer))
                if wl.check_every_op and (bad := _check(wl)):
                    print(f"op {op}: check failed: {bad}", file=sys.stderr)
                    outcomes.fail(op)
                wl.after_op()
        steal1, total1 = cpu_jiffies()
        if not wl.check_every_op and (bad := _check(wl)):
            print(f"final state check failed: {bad}", file=sys.stderr)
            outcomes.fail_all()

        # Not bounded metrics: error_rate is 0 on a passing run and the
        # tail needs more than ten batches, which a short run may not hold.
        tail = tail_percentile(plain_s)
        print(json.dumps({
            "workload": mod.NAME, "seed": args.seed,
            "error_rate": {"value": outcomes.error_rate, "unit": "ratio"},
            "batch_tail_s": {
                "percentile": tail and tail[0], "value": tail and tail[1],
                "samples": len(plain_s), "unit": "s",
            },
            "setup_rounds_s": rounds_s, "warmup_s": warmup_s, "batches_s": plain_s,
            # other tenants' load on a shared host slows every operation of
            # a run alike; this tells such a run apart
            "host_steal_share": (steal1 - steal0) / max(total1 - total0, 1),
        }))
        if tracer is None:
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_s": (rows / busy, "1/s"),
                "batch_p50_s": (median(plain_s), "s"),
                "peak_rss_mb": (rss.peak_bytes / 2**20, "MB"),
                "stored_bytes_per_input_byte": (wl.stored_bytes() / wl.input_bytes, "ratio"),
            }
        else:
            os.makedirs(base, exist_ok=True)
            tracer.dump(f"{base}/spans-{mod.NAME}-seed{args.seed}.jsonl")
            metrics = _per_layer(mod.NAME, tracer, extras, median(get_spark_s),
                                 median(traced_s) - median(plain_s))
        return {
            "correct": outcomes.failed == 0,
            "attempted": outcomes.attempted,
            "failed": outcomes.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def _check(wl) -> list[str]:
    """The workload's correctness gate; a gate that cannot even read
    the outputs is a mismatch too."""
    try:
        return wl.check()
    except Exception as e:
        return [f"check raised {type(e).__name__}: {e}"]


def _per_layer(name, tracer, extras, get_spark_s, overhead_s) -> dict:
    from perfbench import workloads

    units = {"jobs": "count", "shuffle_mb": "MB", "spill_mb": "MB"}
    out = {"session.get_spark.wall_s": (get_spark_s, "s")}
    for k, v in tracer.per_op_means(workloads.all_spans()).items():
        out[k] = (v, units.get(k.rsplit(".", 1)[1], "s"))
    for key, unit in workloads.EXTRAS.items():
        vals = [e[key] for e in extras if key in e]
        out[key] = (sum(vals) / len(vals) if vals else 0.0, unit)
    failed_tasks = sum(s.failed_tasks for s in tracer.spans)
    for wl in workloads.NAMES:
        out[f"{wl}.tasks_failed"] = (failed_tasks if wl == name else 0, "count")
        out[f"{wl}.trace_overhead_s"] = (overhead_s if wl == name else 0.0, "s")
    return out


def main(argv=None) -> int:
    args = _parse(argv)
    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: no {ENGINE}/ beside perfbench/; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
