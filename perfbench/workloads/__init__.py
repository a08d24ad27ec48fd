"""The benchmark's workloads.

Each module exposes ``NAME``, ``SPANS`` (the layer calls it wraps) and a
``Workload(spark, work_dir, seed)`` class that generates its inputs and
offers:

- ``run_op(tracer)``: one closed-loop operation; returns input rows done
- ``check()``: mismatches against the independent recompute
- ``check_every_op``: check after each operation, or once at the end
- ``exhausted``: no pre-generated input left for another operation
- ``warmup_ops``: untimed operations run before the timed ones
- ``trace_extras(tracer)``: the workload's ``EXTRAS`` for a traced op
- ``after_op()``: housekeeping outside the timed region
- ``stored_bytes()`` and ``input_bytes`` for the storage ratio
"""

from __future__ import annotations

import datetime
import math

NAMES = ("medallion_refresh", "incremental_refresh", "text_curation")
# per-layer ratios some workloads add to the span counters, with units
EXTRAS = {
    "sources.sinks.upsert_keep_newest.rewrite_ratio": "ratio",
    "operators.text_dedup.minhash_dedup.candidate_precision": "ratio",
    "stage.staged_mb": "MB",
}


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    return v


def compare_rows(got: list[tuple], want: list[tuple]) -> str | None:
    """None when both row multisets agree (floats to 6 places), else a
    one-line description of the first difference."""
    g = sorted((tuple(_norm(v) for v in r) for r in got), key=repr)
    w = sorted((tuple(_norm(v) for v in r) for r in want), key=repr)
    if g == w:
        return None
    gs, ws = set(g), set(w)
    extra = next((r for r in g if r not in ws), None)
    missing = next((r for r in w if r not in gs), None)
    return f"{len(g)} rows vs {len(w)} expected; unexpected {extra}; missing {missing}"


def _percentile(p: float) -> str:
    pos = f"((len(v) - 1) * CAST({p} AS DOUBLE))"
    a, b = f"v[CAST(floor({pos}) AS BIGINT) + 1]", f"v[CAST(ceil({pos}) AS BIGINT) + 1]"
    return (f"CASE WHEN {a} = {b} THEN {a} "
            f"ELSE (ceil({pos}) - {pos}) * {a} + ({pos} - floor({pos})) * {b} END")


def percentile_bounds_sql(src: str, col: str, lower: float = 0.05, upper: float = 0.95) -> str:
    """DuckDB query for the one-row ``(lo, hi)`` percentile band of
    ``col``, as Spark's exact ``percentile`` computes it: interpolation
    (ceil - pos) * a + (pos - floor) * b between the order statistics
    around pos = (n - 1) * p, and a tied pair returned exactly. DuckDB's
    ``quantile_cont`` can land one ulp below a tied value, which would
    move a row sitting on the band edge to the other side."""
    return (f"SELECT {_percentile(lower)} AS lo, {_percentile(upper)} AS hi FROM "
            f"(SELECT list_sort(list({col}) FILTER (WHERE {col} IS NOT NULL)) AS v FROM {src})")


def load(name: str):
    """The workload module called ``name``."""
    from . import incremental, medallion, text

    mods = {m.NAME: m for m in (medallion, incremental, text)}
    if name not in mods:
        raise KeyError(f"unknown workload {name!r}; choose from {sorted(mods)}")
    return mods[name]


def all_spans() -> list[str]:
    from . import incremental, medallion, text

    return [s for m in (medallion, incremental, text) for s in m.SPANS]
