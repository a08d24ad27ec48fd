from .quality import (
    expect_check,
    expect_nonempty,
    expect_unique_key,
    observed_checks,
    violation_count,
)

__all__ = [
    "expect_check",
    "expect_nonempty",
    "expect_unique_key",
    "observed_checks",
    "violation_count",
]
