"""Headline benchmark: runs the catalog's flagship queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The record is the PER-QUERY MINIMUM over $SPARK_GRAFT_BENCH_PASSES
full catalog passes (default 2 — r7 verdict task #2): a single-pass
reading of a sub-second entry is ±2x scheduler noise, which made the
guard flag DISJOINT sets of sub-1.5s entries on back-to-back runs, and
BENCH_REFERENCE.json itself is per-query minima of two quiet-host runs
— min-of-2 compares like with like. Min-of-2 also makes the record
order-independent for entries sharing a memoized offline artifact (the
embeddings quantizer fit): whichever entry pays the fit in pass 1 is
warm in pass 2.

Regression guard (PERF.md policy): every query is compared against a
reference timing with whole-machine drift normalization; >1.5x
adjusted AND >0.75s absolute flags in the JSON line. Two reference
tiers (r6 verdict task #3 — entries added after the primary baseline
was recorded used to be unguarded):

- ``BENCH_REFERENCE.json`` — the primary baseline (quiet-host warm
  run, regenerated only when the host itself changes; v1 kept as
  ``BENCH_REFERENCE_v1.json`` for provenance).
- ``BENCH_PREV.json`` — the previous accepted round's full per-query
  record, maintained at round close (``make bench-accept``). Queries
  absent from the primary (added since it was recorded) are guarded
  against this tier with the SAME drift factor — drift is always
  computed from the primary overlap, the stable anchor.

The guard itself is the pure function ``guard_regressions`` so a
synthetic 2x slowdown is unit-testable without Spark
(tests/test_bench_guard.py).
"""

from __future__ import annotations

import json
import os
import sys
import time

# guard thresholds (PERF.md policy, unchanged since r3)
RATIO_BAR = 1.5
ABS_BAR = 0.75
DRIFT_WARN = 1.3
MIN_BASE = 0.2  # sub-noise reference values are not guardable


def machine_drift(
    timings: dict[str, float], primary: dict[str, float]
) -> float | None:
    """Median now/ref ratio over the PRIMARY overlap: the reference was
    recorded on one VM incarnation; a reboot onto a slower/noisier host
    moves EVERY query by a similar factor, so only queries that moved
    relative to the rest of the catalog should flag."""
    ratios = sorted(
        t / primary[n]
        for n, t in timings.items()
        if primary.get(n) and primary[n] >= MIN_BASE
    )
    if not ratios:
        return None
    return round(ratios[len(ratios) // 2], 3)


def guard_regressions(
    timings: dict[str, float],
    primary: dict[str, float],
    secondary: dict[str, float] | None = None,
    drift: float | None = None,
) -> dict[str, dict]:
    """Flag queries whose timing regressed vs their reference tier.

    A query's base is its ``primary`` entry, else its ``secondary``
    entry (entries added after the primary baseline). Flag when
    t > RATIO_BAR * base*drift AND t - base*drift > ABS_BAR — the
    ratio alone over-flags sub-second queries (reference values are
    per-query minima, so ±0.3s scheduler noise reads as 1.5x).

    The drift factor is CLAMPED at >= 1.0 for flagging (r11 verdict
    task #3): drift normalization exists to forgive a SLOWER host, but
    on a faster host (drift < 1) it shrank every base and manufactured
    regressions out of flat raw timings — two rounds running, the only
    driver flags were this illusion (PERF finding 36;
    length_matched_sample). A fast host can only make queries look
    better, never worse, so raw ratios are the honest comparison
    there.
    """
    flags: dict[str, dict] = {}
    d = max(drift, 1.0) if drift else 1.0
    for name, t in timings.items():
        base = primary.get(name)
        source = "reference"
        if not base and secondary:
            base = secondary.get(name)
            source = "prev"
        if not base or base < MIN_BASE:
            continue
        adj = base * d
        if t > RATIO_BAR * adj and t - adj > ABS_BAR:
            flags[name] = {
                "ref": base,
                "now": t,
                "drift": drift,
                "ratio_vs_drift": round(t / adj, 2),
                "source": source,
            }
    return flags


def merge_error_timings(
    timings: dict[str, float], error_timings: dict[str, float]
) -> list[str]:
    """Fold never-succeeded queries' error timings into ``timings`` and
    return their names (ADVICE r8 low). A query with at least one
    successful pass keeps ONLY its successful min — a 0.05s
    time-to-exception must not under-report a 5s query. Mutates
    ``timings`` in place."""
    errored = sorted(set(error_timings) - set(timings))
    for name in errored:
        timings[name] = error_timings[name]
    return errored


def _load_queries(path: str) -> dict[str, float]:
    if not os.path.exists(path):
        return {}
    try:
        return json.load(open(path)).get("queries", {})
    except Exception:
        return {}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))

    from hse_etl_ochirov_aldar_spark.queries import BENCH_QUERIES, QUERIES
    from hse_etl_ochirov_aldar_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers once so timings measure query work
    QUERIES["pricing_summary"](spark, sf_dir).count()

    passes = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "2")))
    # Success and error timings are tracked SEPARATELY (ADVICE r8 low):
    # a query that fails fast in one pass (0.05s time-to-exception) but
    # succeeds in another must record the successful timing, not the
    # min of the two — folding them would under-report the query and
    # weaken the regression guard. Error times are used only when a
    # query never succeeded, and such queries are flagged in the line.
    timings: dict[str, float] = {}
    error_timings: dict[str, float] = {}
    for p in range(passes):
        for name in BENCH_QUERIES:
            t0 = time.perf_counter()
            try:
                df = QUERIES[name](spark, sf_dir)
                n = df.count()
            except Exception as exc:  # a broken query must not kill the line
                t = round(time.perf_counter() - t0, 3)
                error_timings[name] = min(error_timings.get(name, t), t)
                print(f"# {name}: ERROR {exc}", file=sys.stderr)
                continue
            t = round(time.perf_counter() - t0, 3)
            timings[name] = min(timings.get(name, t), t)
            print(f"# pass{p + 1} {name}: {t}s rows={n}", file=sys.stderr)
            # a few queries persist() small rollups as a scan barrier;
            # drop them so one query's leftover cache can't distort the
            # next query's timing or accumulate executor memory
            spark.catalog.clearCache()
        # staged parquet (setsim postings, streaming replay
        # sources) accumulates per pass; all staged frames are consumed
        # within their own query, so reclaim between passes
        from hse_etl_ochirov_aldar_spark._stage import purge_stage_root

        purge_stage_root()

    # queries that never succeeded fall back to their error timing so
    # the line still covers the full catalog, but are flagged as
    # errored so a fast failure can't masquerade as a fast query
    errored = merge_error_timings(timings, error_timings)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    here = os.path.dirname(os.path.abspath(__file__))
    primary = _load_queries(os.path.join(here, "BENCH_REFERENCE.json"))
    secondary = _load_queries(os.path.join(here, "BENCH_PREV.json"))
    drift = None
    out_drift_warning = False
    regressions: dict[str, dict] = {}
    if primary and sf == "0.1":
        drift = machine_drift(timings, primary)
        if drift is not None and drift > DRIFT_WARN:
            # median-normalization would silently absorb a uniform
            # software regression (shared helper, session config); a
            # drift this large needs a human to decide host-vs-code
            print(f"# DRIFT-WARNING machine_drift={drift} > {DRIFT_WARN}: "
                  "either the host slowed down or a shared code path "
                  "regressed across the whole catalog — inspect before "
                  "trusting the normalized guard", file=sys.stderr)
            out_drift_warning = True

        for name in guard_regressions(timings, primary, secondary, drift):
            # first execution of a plan pays whole-stage-codegen
            # compile + any transient host contention; re-run once
            # warm and keep the min so the record reflects the
            # query, not the moment (r3 false-positive precedent:
            # nation_volume_shipping 2.29s flagged, 1.0s warm)
            t0 = time.perf_counter()
            try:
                QUERIES[name](spark, sf_dir).count()
                t2 = round(time.perf_counter() - t0, 3)
            except Exception:
                t2 = timings[name]
            spark.catalog.clearCache()
            if t2 < timings[name]:
                print(f"# rerun {name}: {timings[name]}s -> {t2}s "
                      "(kept min)", file=sys.stderr)
                timings[name] = t2
        regressions = guard_regressions(timings, primary, secondary, drift)
        for name, r in regressions.items():
            print(f"# REGRESSION {name}: {r['ref']}s -> {r['now']}s "
                  f"({r['ratio_vs_drift']}x after {drift}x drift, "
                  f"vs {r['source']})", file=sys.stderr)
        total = round(sum(timings.values()), 3)

    out = {
        "metric": "catalog_total_runtime",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "passes": passes,
    }
    if drift is not None:
        out["machine_drift"] = drift
    if out_drift_warning:
        out["drift_warning"] = True
    if regressions:
        out["regressions"] = regressions
    if errored:
        out["errored"] = errored
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
