"""Fault injection for the sinks' commit protocol.

Every filesystem mutation a commit makes goes through the Hadoop
FileSystem handle that ``sources.sinks._hadoop_fs`` returns. ``faults``
monkeypatches that function so each handle is wrapped: mutations
(create, rename, delete, mkdirs) are recorded in order, and the one
numbered ``crash_at`` raises ``Crash`` INSTEAD of running — the process
dying just before that step. Spark's own staging write runs inside the
JVM and is not counted: a crash during it leaves only an unpublished
staging dir, the state ``crash_at=0`` already produces.
"""

from __future__ import annotations

from contextlib import contextmanager

from hse_etl_ochirov_aldar_spark.sources import sinks

MUTATIONS = ("create", "rename", "delete", "mkdirs")


class Crash(RuntimeError):
    pass


class _Plan:
    def __init__(self, crash_at: int | None):
        self.crash_at = crash_at
        self.steps: list[str] = []

    def step(self, name: str, args) -> None:
        if len(self.steps) == self.crash_at:
            raise Crash(f"injected crash before step {self.crash_at}: {name}")
        self.steps.append(f"{name} {args[0].getName() if args else ''}")


class _FaultyFS:
    def __init__(self, fs, plan: _Plan):
        self._fs = fs
        self._plan = plan

    def __getattr__(self, name):
        attr = getattr(self._fs, name)
        if name not in MUTATIONS:
            return attr

        def mutation(*args):
            self._plan.step(name, args)
            return attr(*args)

        return mutation


@contextmanager
def faults(monkeypatch, crash_at: int | None = None):
    """Yield the plan whose ``steps`` list records every mutation made
    inside the block; with ``crash_at`` the mutation at that index
    raises ``Crash`` instead of running."""
    plan = _Plan(crash_at)
    real = sinks._hadoop_fs

    def faulty(spark, path):
        fs, jpath = real(spark, path)
        return _FaultyFS(fs, plan), jpath

    monkeypatch.setattr(sinks, "_hadoop_fs", faulty)
    try:
        yield plan
    finally:
        monkeypatch.setattr(sinks, "_hadoop_fs", real)


def crash(monkeypatch, fn, crash_at: int) -> list[str]:
    """Run ``fn()`` with a crash injected before mutation ``crash_at``;
    assert it crashed and return the steps that did run."""
    with faults(monkeypatch, crash_at) as plan:
        try:
            fn()
        except Crash:
            return plan.steps
    raise AssertionError(f"no crash: only {len(plan.steps)} mutations ran")
