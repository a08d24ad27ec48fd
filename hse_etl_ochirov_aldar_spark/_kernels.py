"""Default kernel family for PROVEN-BIT-IDENTICAL hot loops (r9,
verdict task #1).

Several per-row-dominant operators carry two implementations of the
same arithmetic:

- ``expr`` — pure Catalyst column algebra (interpreted higher-order
  folds for the integer dot products / XXH64 chains). Python-free
  plans, but HOF lambdas are interpreted per element and re-inline
  shared subexpressions (PERF findings 22/26), so the per-row cost is
  ~2 orders of magnitude above vectorized numpy.
- ``arrow`` — one Arrow-batched ``mapInPandas`` kernel per stage doing
  the IDENTICAL integer arithmetic in numpy (micro-unit snap
  replicates Spark round-HALF-UP on the same IEEE double product;
  dot products / L2 terms are integer matmuls, with the exact
  float64-dgemm fast path under the 2^53 bound — PERF findings 24/28/
  29). These are not tolerance-close twins: they are test-pinned
  BIT-IDENTICAL (tests/test_arrow_twins.py), so flipping between
  families can never move an oracle hash.

Measured at r8 (PERF.md): IVF/cluster labeling 3.2x at 200k vectors,
3.9x at 1M; SRP signatures 3.3x composed. Since the outputs are
provably identical, r9 makes ``arrow`` the DEFAULT for those sites and
keeps ``expr`` one env var away:

    SPARK_GRAFT_KERNEL=expr   # force the Python-free expression plans

Float-aggregation Pandas twins (brute_force_topk_arrow and friends)
are NOT governed by this knob — numpy float sums differ from JVM folds
in the last ulp, so those stay explicit opt-in scale paths with
tolerance tests, never a driver-checked default.
"""

from __future__ import annotations

import os

KERNEL_ENV = "SPARK_GRAFT_KERNEL"
_VALID = ("arrow", "expr")


def default_kernel() -> str:
    """The session-wide kernel family: $SPARK_GRAFT_KERNEL or 'arrow'."""
    k = os.environ.get(KERNEL_ENV, "arrow")
    if k not in _VALID:
        raise ValueError(
            f"${KERNEL_ENV}={k!r}: must be one of {_VALID}"
        )
    return k


def resolve_kernel(choice: str | None, auto: str = "arrow") -> str:
    """An operator's explicit kernel argument wins; None defers to
    $SPARK_GRAFT_KERNEL if set, else to ``auto`` — the family's
    measured-best default ('arrow' for the matmul-bound families:
    labeling, SRP — 2-3x wins at sf0.1). MinHash banding has no Arrow
    twin: its expression fold measured faster once shingling went
    linear. Centralized so every dual-path operator validates
    identically."""
    if choice is not None:
        if choice not in _VALID:
            raise ValueError(
                f"kernel must be one of {_VALID}, got {choice!r}"
            )
        return choice
    k = os.environ.get(KERNEL_ENV)
    if k is not None:
        if k not in _VALID:
            raise ValueError(f"${KERNEL_ENV}={k!r}: must be one of {_VALID}")
        return k
    if auto not in _VALID:
        raise ValueError(f"auto must be one of {_VALID}, got {auto!r}")
    return auto
