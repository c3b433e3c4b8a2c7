"""Tracing from outside the program: spans around public calls, job counts
per step, and task counters from Spark's event log.

Spans are recorded by wrapping public functions of the ``sparkmerge``
modules from here, so the program itself is unchanged.  Each span keeps its
name, start, end, parent and the benchmark step it ran in; spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import time
from collections import defaultdict
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    step: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans for the wrapped calls while ``enabled`` is true."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = False
        self.step: int | None = None
        self._stack: list[Span] = []
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a method, static or
        not) with a wrapper that records a span named ``name``."""
        raw = vars(owner)[attr]
        kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
        fn = raw.__func__ if kind else raw

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, kind(traced) if kind else traced)
        self._patched.append((owner, attr, raw))

    @contextlib.contextmanager
    def span(self, name: str):
        """Record a span around the body while tracing is enabled."""
        if not self.enabled:
            yield
            return
        span = Span(
            id=len(self.spans),
            name=name,
            parent=self._stack[-1].id if self._stack else None,
            step=self.step,
            start=time.perf_counter(),
        )
        self.spans.append(span)
        self._stack.append(span)
        try:
            yield
        finally:
            span.end = time.perf_counter()
            self._stack.pop()

    def unwrap(self) -> None:
        for owner, attr, raw in reversed(self._patched):
            setattr(owner, attr, raw)
        self._patched.clear()

    def per_step(self) -> dict[int, dict[str, dict[str, float]]]:
        """step → span name → {"s": total seconds, "self_s": total self
        seconds, "n": calls}.  Self time is a span's duration minus the time
        its direct children cover (calls are sequential, so children do not
        overlap)."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child_s[s.parent] += s.end - s.start
        out: dict[int, dict[str, dict[str, float]]] = defaultdict(
            lambda: defaultdict(lambda: {"s": 0.0, "self_s": 0.0, "n": 0})
        )
        for s in self.spans:
            if s.step is None:
                continue
            agg = out[s.step][s.name]
            agg["s"] += s.end - s.start
            agg["self_s"] += s.end - s.start - child_s[s.id]
            agg["n"] += 1
        return out

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def install(tracer: Tracer) -> None:
    """Wrap the public calls of every program layer the benchmark drives."""
    import sparkmerge.merge as merge
    from sparkmerge.changeset import Changeset
    from sparkmerge.plan import MergePlan
    from sparkmerge.ptable import PartitionedSnapshotTable
    from sparkmerge.table import SnapshotTable

    tracer.wrap(MergePlan, "build", "plan.build")
    # merge.py imports build_changeset by name, so wrap it where it is called
    tracer.wrap(merge, "build_changeset", "changeset.build")
    tracer.wrap(Changeset, "apply_changes", "changeset.apply_changes")
    tracer.wrap(Changeset, "audit", "changeset.audit")
    for attr in ("stage", "commit", "abort", "read", "set_property", "vacuum"):
        tracer.wrap(SnapshotTable, attr, f"table.{attr}")
    for attr in ("stage_merge", "commit", "read_partitions", "manifest", "compact", "vacuum"):
        tracer.wrap(PartitionedSnapshotTable, attr, f"ptable.{attr}")
    tracer.wrap(merge, "simple_merge", "merge.simple_merge")
    tracer.wrap(merge, "merge_partitioned", "merge.merge_partitioned")


def job_counts(sc, group: str) -> tuple[int, int]:
    """(jobs, distinct stages) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    return len(jobs), len(stages)


def event_log_counters(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Task counters summed over the stages of jobs in ``groups``, read from
    the uncompressed event log under ``log_dir``."""
    stage_of_group: set[int] = set()
    submitted: dict[tuple[int, int], float] = {}
    tasks = []
    # one log per session (set-up restarts the session); each may be a
    # directory of rolled files
    for path in glob.glob(f"{log_dir}/**", recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    if props.get("spark.jobGroup.id") in groups:
                        stage_of_group.update(ev["Stage IDs"])
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    if "Submission Time" in info:
                        submitted[(info["Stage ID"], info["Stage Attempt ID"])] = info[
                            "Submission Time"
                        ]
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    out = dict.fromkeys(
        [
            "spark.tasks",
            "spark.task_retries",
            "spark.task_wait_s",
            "spark.executor_run_s",
            "spark.executor_cpu_s",
            "spark.gc_s",
            "spark.shuffle_read_bytes",
            "spark.shuffle_write_bytes",
            "spark.spill_bytes",
            "spark.output_bytes",
        ],
        0.0,
    )
    for ev in tasks:
        if ev["Stage ID"] not in stage_of_group:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        out["spark.tasks"] += 1
        out["spark.task_retries"] += 1 if info.get("Attempt", 0) > 0 else 0
        sub = submitted.get((ev["Stage ID"], ev.get("Stage Attempt ID", 0)))
        if sub is not None:
            out["spark.task_wait_s"] += max(0, info["Launch Time"] - sub) / 1e3
        out["spark.executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
        out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1e3
        rd = m.get("Shuffle Read Metrics") or {}
        out["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0
        )
        out["spark.shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        out["spark.output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out
