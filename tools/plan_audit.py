"""Catalog-wide physical-plan audit — the executable form of the
engine's three global plan invariants:

1. NO CartesianProduct anywhere. Broadcast 1-row scalar attachment
   plans as BroadcastNestedLoopJoin (allowed); the brute-force
   ground-truth pair generators are bounded/blocked before the final
   plan, so even they must not surface an unbounded cartesian.
2. NO BatchEvalPython (row-at-a-time Python UDF) anywhere — the
   zero-UDF contract (SURVEY §2.10), previously asserted only on
   driver-checked entries, holds for the FULL catalog.
3. MapInPandas / ArrowEvalPython (vectorized Arrow seams) only in the
   explicitly allowlisted entries — each a documented kernel with a
   JVM or bit-identity twin (PERF.md findings 27-32).

Two audit depths:

- static (always): the FINAL plan string of every catalog entry.
- ``--exec`` (r10 verdict task #4): additionally EXECUTE every entry
  through the noop sink and audit EVERY SQL execution the entry
  triggered — persist barriers, bounded collects, census counts,
  localCheckpoint fills — via the SQLAppStatusStore (the same
  per-execution physical-plan descriptions the Spark UI shows; the
  store is live even with spark.ui.enabled=false). This closes the
  "multi-job entries' intermediate jobs are only covered by targeted
  tests" caveat: the invariants hold over every plan that actually
  ran, not just the final one.

Usage:  python tools/plan_audit.py [SF_DIR] [--exec]
Writes PLAN_AUDIT.md and exits non-zero on any unexpected flag.
Run it after adding a catalog entry; `make plan-audit` wraps the
static depth, `make plan-audit-exec` the executed-jobs depth.
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# Arrow seams with documented expression references (the
# cell_labels_frame / srp_signature_frame consumers, multimodal decode,
# EWMA per-key fold, Misra-Gries partial).
ARROW_ALLOWED = {
    "ann_ivf_kmeans_topk",
    "cluster_balanced_sample",
    "ewma_anomaly_scores",
    "heavy_hitters_tokens",
    "mixed_media_features",
    "multimodal_features",
    "semantic_dedup",
    # surfaced by the r10 --exec depth: the SRP signature kernel
    # (arrow default since r9, bit-identity-pinned vs the JVM HOF
    # fold) runs inside the staged band-row write — an intermediate
    # job — so the final-plan audit never saw it.
    "srp_lsh_near_pairs",
}


def _flags(plan: str, name: str, unexpected: list[str], where: str) -> list[str]:
    flags: list[str] = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
        unexpected.append(f"{name}: CartesianProduct ({where})")
    if "BatchEvalPython" in plan:
        flags.append("BATCH_PY_UDF")
        unexpected.append(f"{name}: BatchEvalPython ({where})")
    if "MapInPandas" in plan or "ArrowEvalPython" in plan:
        flags.append("arrow-seam")
        if name not in ARROW_ALLOWED:
            unexpected.append(f"{name}: unallowlisted Arrow seam ({where})")
    return flags


def main() -> int:
    sys.path.insert(0, str(REPO))
    from hse_etl_ochirov_aldar_spark.queries import QUERIES
    from hse_etl_ochirov_aldar_spark.session import get_spark

    args = [a for a in sys.argv[1:] if a != "--exec"]
    exec_mode = "--exec" in sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    spark = get_spark(
        app_name="plan-audit",
        master="local[8]",
        shuffle_partitions=8,
        # the status store retains only spark.sql.ui.retainedExecutions
        # entries (default 1000) and evicts oldest-first — across 211
        # entries' accumulated history an execution-heavy entry could
        # have plans evicted BEFORE draining, silently under-counting
        # jobs while still reporting full coverage (r10 ADVICE). Raise
        # the cap far past any real run and assert no eviction below.
        extra_conf={"spark.sql.ui.retainedExecutions": "100000"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    store = spark._jsparkSession.sharedState().statusStore()

    def _max_execution_id() -> int:
        lst = store.executionsList()
        n = lst.size()
        return lst.apply(n - 1).executionId() if n else -1

    def _drain_after(watermark: int) -> list[str]:
        lst = store.executionsList()
        if lst.size() and lst.apply(0).executionId() > watermark + 1:
            raise RuntimeError(
                f"status store evicted executions below id "
                f"{lst.apply(0).executionId()} (watermark {watermark}): "
                f"the audit would under-count jobs — raise "
                f"spark.sql.ui.retainedExecutions"
            )
        plans = []
        for i in range(lst.size()):
            e = lst.apply(i)
            if e.executionId() > watermark:
                plans.append(e.physicalPlanDescription())
        return plans

    rows: list[tuple[str, list[str]]] = []
    unexpected: list[str] = []
    jobs_audited = 0
    for name, fn in QUERIES.items():
        watermark = _max_execution_id() if exec_mode else -1
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        flags = _flags(plan, name, unexpected, "final plan")
        if exec_mode:
            df.write.format("noop").mode("overwrite").save()
            for p in _drain_after(watermark):
                jobs_audited += 1
                for fl in _flags(p, name, unexpected, "executed job"):
                    if fl not in flags:
                        flags.append(fl)
        rows.append((name, flags))
        spark.catalog.clearCache()

    arrow = sorted(n for n, f in rows if "arrow-seam" in f)
    clean = sum(1 for _, f in rows if not f)
    depth = (
        f"every EXECUTED plan (noop-sink run; {jobs_audited} SQL "
        f"executions across {len(rows)} entries — persist barriers, "
        "bounded collects and checkpoint fills included)"
        if exec_mode
        else "final-plan strings (run `make plan-audit-exec` for the "
        "every-executed-job depth)"
    )
    out = [
        "# PLAN_AUDIT — catalog-wide physical-plan invariants",
        "",
        f"Generated by tools/plan_audit.py over {len(rows)} catalog",
        f"entries at `{sf_dir}`; audit depth: {depth}.",
        "",
        f"- entries audited: **{len(rows)}**",
    ]
    if exec_mode:
        out.append(f"- executed SQL plans audited: **{jobs_audited}**")
    out += [
        f"- CartesianProduct: **{sum(1 for _, f in rows if 'CARTESIAN' in f)}**"
        " (invariant: 0)",
        f"- BatchEvalPython (row-at-a-time UDF): "
        f"**{sum(1 for _, f in rows if 'BATCH_PY_UDF' in f)}** (invariant: 0)",
        f"- Arrow seams (MapInPandas/ArrowEvalPython): **{len(arrow)}**, all"
        " allowlisted documented kernels:",
        "",
    ]
    out += [f"  - `{n}`" for n in arrow]
    out += [
        "",
        f"- fully JVM-side entries: **{clean}**",
        "",
    ]
    if unexpected:
        out += ["## UNEXPECTED FLAGS", ""]
        out += [f"- {u}" for u in unexpected]
    (REPO / "PLAN_AUDIT.md").write_text("\n".join(out) + "\n")
    print(
        f"audited {len(rows)} entries"
        + (f", {jobs_audited} executed plans" if exec_mode else "")
        + f"; unexpected: {len(unexpected)}"
    )
    for u in unexpected:
        print(" !", u)
    return 1 if unexpected else 0


if __name__ == "__main__":
    raise SystemExit(main())
