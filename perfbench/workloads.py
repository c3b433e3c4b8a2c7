"""The two workloads, their output checks and their metrics.

Each workload is one closed loop driven by a single client (this process)
in one Spark session: the next operation starts only after the previous one
returned.  A run is

1. set-up, repeated ``SETUP_REPS`` times, each from a fresh session (the
   first repetition also launches the JVM); ``setup_s`` is the median;
2. untimed warm-up cycles, so the JIT and Spark's code generation settle;
3. timed cycles until ``--seconds`` have passed (at least ``MIN_TIMED``);
4. end-of-run output checks.

Every operation and every output check counts as attempted; one that raises
or does not hold counts as failed.  Timings are medians over the timed
steps.  With tracing on, every other timed cycle records spans, so the
difference between traced and untraced merges is the tracing overhead.
"""

from __future__ import annotations

import os
import statistics
import time
import traceback
from collections import defaultdict

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import inputs
import tracing

SETUP_REPS = 3
MIN_TIMED = 2

# Full-size and --short input sizes (rows).  The full sizes keep one run,
# set-up and warm-up included, under a minute on a busy 4-core host.
SIZES = {
    False: {"lineitem": 60_000, "orders": 24_000, "months": 24, "inserts": 20},
    True: {"lineitem": 6_000, "orders": 4_000, "months": 12, "inserts": 5},
}
# Untimed warm-up cycles.  Merge time falls over the first merges of a new
# JVM (JIT compilation and code generation), most in the first: for about
# five snapshot merges, and for about eight of the shorter lake cycles.
WARMUP = {"snapshot_merge": 5, "incremental_lake": 8}
COMPACT_EVERY = {False: 3, True: 2}
# Reads take a fraction of a second, so each cycle times two.
READS = 2

# The registry op run once per snapshot_merge run over the merged snapshot,
# so the queries layer is measured downstream of the merge it reads.
DOWNSTREAM_OP = "orders_basket_lift"

END_TO_END = [
    ("setup_s", "s"),
    ("merge_s", "s"),
    ("rows_per_s", "rows/s"),
    ("read_s", "s"),
    ("write_amp", "ratio"),
]

# Metrics printed for people, not in the result line: incremental_lake only,
# 0 on a correct run, too seed-dependent to bound (space depends on which
# months the retained versions touched; the JVM grows its heap at its own
# pace), or a property of the host rather than the program.
EXTRA = [
    ("space_amp", "ratio"),
    ("read_pruned_s", "s"),
    ("maintenance_s", "s"),
    ("failed_frac", "ratio"),
    ("peak_rss_mib", "MiB"),
    ("process_to_first_timed_step_s", "s"),
    ("host_steal_frac", "ratio"),
]

PER_LAYER = [
    ("session.start_s", "s"),
    ("plan.build_s", "s"),
    ("changeset.build_s", "s"),
    ("table.stage_s", "s"),
    ("table.stage_bytes", "bytes"),
    ("table.stage_files", "count"),
    ("table.read_open_s", "s"),
    ("table.commit_s", "s"),
    ("table.set_property_s", "s"),
    ("table.vacuum_s", "s"),
    ("ptable.stage_merge_s", "s"),
    ("ptable.commit_s", "s"),
    ("ptable.partitions_rewritten", "count"),
    ("ptable.partitions_carried", "count"),
    ("ptable.stage_bytes", "bytes"),
    ("ptable.manifest_reads", "count"),
    ("ptable.read_open_s", "s"),
    ("ptable.files_per_partition", "count"),
    ("ptable.compact_s", "s"),
    ("ptable.vacuum_s", "s"),
    ("merge.self_s", "s"),
    ("merge.jobs", "count"),
    ("merge.stages", "count"),
    ("merge.useful_write_frac", "ratio"),
    (f"op.{DOWNSTREAM_OP}.s", "s"),
    (f"op.{DOWNSTREAM_OP}.jobs", "count"),
    ("spark.tasks", "count"),
    ("spark.task_retries", "count"),
    ("spark.task_wait_s", "s"),
    ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.output_bytes", "bytes"),
    ("trace.overhead_s", "s"),
]

# (span name, kind of step it is read from, per-layer metric): the median
# over traced timed steps of that kind of the span's total time per step.
SPAN_METRICS = [
    ("plan.build", "merge", "plan.build_s"),
    ("changeset.build", "merge", "changeset.build_s"),
    ("table.stage", "merge", "table.stage_s"),
    ("table.read", "merge", "table.read_open_s"),
    ("table.commit", "merge", "table.commit_s"),
    ("table.set_property", "merge", "table.set_property_s"),
    ("table.vacuum", "maintenance", "table.vacuum_s"),
    ("ptable.stage_merge", "merge", "ptable.stage_merge_s"),
    ("ptable.commit", "merge", "ptable.commit_s"),
    ("ptable.read_partitions", "read", "ptable.read_open_s"),
    ("ptable.compact", "maintenance", "ptable.compact_s"),
    ("ptable.vacuum", "maintenance", "ptable.vacuum_s"),
]

# Per-merge filesystem statistics reported as the median over timed merges.
FS_METRICS = ["table.stage_bytes", "table.stage_files", "ptable.partitions_rewritten",
              "ptable.partitions_carried", "ptable.stage_bytes", "ptable.files_per_partition",
              "merge.useful_write_frac"]


class StepFailed(Exception):
    """An operation raised; the table state is unknown, so the run stops."""


class Run:
    """State of one benchmark run: the session, samples, checks, spans."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, short: bool,
                 work: str, process_start: float) -> None:
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.short, self.work = trace, short, work
        self.process_start = process_start
        self.size = SIZES[short]
        self.spark = None
        self.input_bytes = 0
        self.tracer = tracing.Tracer()
        self.session_s: list[float] = []
        self.setup_s: list[float] = []
        self.steps: list[dict] = []  # every operation, warm-up included
        self.stats: dict[str, list[float]] = defaultdict(list)  # per timed cycle
        self.checks: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.timed = False
        self.first_timed_at: float | None = None

    # ---- session ----

    def new_session(self, input_bytes: int) -> None:
        """Stop the current session, if any, and build a fresh one through
        the program's own ``get_spark``, which picks its session profile
        from the bytes the workload reads."""
        from sparkmerge.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.input_bytes = input_bytes
        clock = _Clock()
        self.spark = get_spark(f"perfbench-{self.workload}", input_bytes=input_bytes)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s.append(clock.stop()["s"])

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit."""
        import subprocess

        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def peak_rss_mib(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM in /proc/{pid}/status")

    # ---- operations and checks ----

    def op(self, kind: str, fn):
        """Run one operation as its own step, under its own job group and
        span, and record its wall time; a raise counts as a failed
        operation and ends the run."""
        self.attempted += 1
        step = len(self.steps)
        group = f"perfbench-{step}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, kind)
        self.tracer.step = step
        clock = _Clock()
        try:
            with self.tracer.span(f"step.{kind}"):
                result = fn()
        except Exception as exc:
            self.failed += 1
            self.checks.append({"check": f"{kind} raised", "ok": False,
                                "detail": traceback.format_exc(limit=6)})
            raise StepFailed(kind) from exc
        finally:
            self.tracer.step = None
            sc.setLocalProperty("spark.jobGroup.id", None)
        self.steps.append({"step": step, "kind": kind, **clock.stop(), "timed": self.timed,
                           "traced": self.tracer.enabled, "group": group})
        return result

    def count_jobs(self) -> None:
        """Attach each step's exact job and stage counts, once Spark's
        listener bus has delivered every job to the status tracker."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)
        for s in self.steps:
            s["jobs"], s["stages"] = tracing.job_counts(sc, s["group"])

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})

    def timed_steps(self, kind: str, traced: bool | None = None) -> list[dict]:
        return [s for s in self.steps if s["timed"] and s["kind"] == kind
                and (traced is None or s["traced"] == traced)]

    # ---- protocol ----

    def setup(self, make):
        """Repeat the set-up ``SETUP_REPS`` times, each into a fresh
        directory, and keep the last.  ``make(rep)`` writes the inputs,
        starts a fresh session sized to them (``new_session``), creates the
        tables and returns the workload state."""
        state = None
        for rep in range(SETUP_REPS):
            clock = _Clock(self.process_start if rep == 0 else None)
            state = make(rep)
            self.setup_s.append(clock.stop()["s"])
        return state

    def cycles(self, cycle, start: int, *, timed: bool) -> int:
        """Run ``cycle(i)`` from ``i = start``: the warm-up count untimed, or
        timed until the time is up (every other one traced in traced runs).
        Returns the next cycle index."""
        i = start
        if not timed:
            for _ in range(1 if self.short else WARMUP[self.workload]):
                cycle(i)
                i += 1
            return i
        self.timed = True
        t0 = self.first_timed_at = time.perf_counter()
        while i - start < MIN_TIMED or time.perf_counter() - t0 < self.seconds:
            self.tracer.enabled = self.trace and (i - start) % 2 == 0
            cycle(i)
            self.tracer.enabled = False
            i += 1
        self.timed = False
        return i


# ---- helpers ----


def _cpu_jiffies() -> tuple[int, int]:
    """(busy, steal) clock ticks summed over this machine's CPUs."""
    with open("/proc/stat", encoding="ascii") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], v[7]


class _Clock:
    """Wall time of an interval, and the same time net of host steal.

    On a shared virtual machine the hypervisor runs other guests on this
    guest's CPUs at times, and the kernel counts that as steal.  A step that
    kept the CPUs busy for ``busy`` ticks and lost ``steal`` ticks would have
    taken ``wall * busy / (busy + steal)`` on an uncontended host; timing
    metrics use that figure (``s``), and the raw wall time is kept
    (``wall_s``).  Measured on a 4-vCPU guest, this cut the run-to-run spread
    of read and merge medians by a factor of two to seven."""

    def __init__(self, start: float | None = None) -> None:
        self.cpu = _cpu_jiffies()
        self.start = time.perf_counter() if start is None else start

    def stop(self) -> dict:
        wall = time.perf_counter() - self.start
        busy, steal = (b - a for a, b in zip(self.cpu, _cpu_jiffies()))
        s = wall * busy / (busy + steal) if busy + steal else wall
        return {"s": s, "wall_s": wall, "busy_j": busy, "steal_j": steal}


def _median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def _files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _parquet_rows(paths) -> int:
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths if p.endswith(".parquet"))


def _local(uri: str) -> str:
    return uri.removeprefix("file:")


def _snapshot_bytes(df) -> int:
    """Bytes of the data files a snapshot read opens."""
    return sum(os.path.getsize(_local(p)) for p in df.inputFiles())


def _same_rows(a: pa.Table, b: pa.Table) -> bool:
    """Multiset equality of two tables with the same columns."""
    if a.num_rows != b.num_rows or set(a.column_names) != set(b.column_names):
        return False
    cols = sorted(a.column_names)
    order = [(c, "ascending") for c in cols]
    a = a.select(cols)
    return a.sort_by(order).equals(b.select(cols).cast(a.schema).sort_by(order))


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


# ---- snapshot_merge ----


def snapshot_merge(run: Run) -> None:
    """Full-extract merges into an unpartitioned snapshot of ``lineitem``:
    ~2.5% of rows updated, ~0.5% deleted, ~0.5% inserted per merge, with
    ``delete='YES'``, a 20% threshold and the audit log on.  Each cycle
    also reads the snapshot back and vacuums it to two versions.  Once per
    run a registry op reads the merged snapshot."""
    import sparkmerge.merge as merge  # looked up per call, so traced runs see the wrapper
    from sparkmerge import SnapshotTable

    n = run.size["lineitem"]
    base = os.path.join(run.work, "snapshot")

    def make(rep: int):
        li = inputs.lineitem(np.random.default_rng([run.seed, 0]), n)
        os.makedirs(base, exist_ok=True)
        path = os.path.join(base, f"load{rep}.parquet")
        run.new_session(inputs.write(li, path))
        table = SnapshotTable.create(run.spark, os.path.join(base, f"t{rep}"),
                                     run.spark.read.parquet(path))
        return {"table": table, "cur": li}

    st = run.setup(make)
    table, rng = st["table"], np.random.default_rng([run.seed, 1])
    audit_dir = merge.default_audit_path(table)
    next_key = n

    def cycle(i: int) -> None:
        nonlocal next_key
        src, changed, next_key = inputs.mutate_lineitem(rng, st["cur"], next_key)
        path = os.path.join(base, f"src{i}.parquet")
        inputs.write(src, path)
        before, audit_before = _files(table.path), _files(audit_dir)
        res = run.op("merge", lambda: merge.simple_merge(
            run.spark, table, run.spark.read.parquet(path), inputs.LINEITEM_KEY,
            delete="YES", threshold="20%", audit=True))
        new = {p: b for p, b in _files(table.path).items() if p not in before}
        new_audit = [p for p in _files(audit_dir) if p not in audit_before]
        snap = table.read(run.spark)
        run.check(f"merge {i}: changed_rows", res.changed_rows == changed,
                  f"{res.changed_rows} != {changed}")
        audit_rows = _parquet_rows(new_audit)
        run.check(f"merge {i}: audit rows", audit_rows == changed, f"{audit_rows} != {changed}")
        run.check(f"merge {i}: snapshot equals source", _same_rows(snap.toArrow(), src))
        if run.timed:
            written = sum(new.values()) + sum(os.path.getsize(p) for p in new_audit)
            run.stats["rows"].append(res.target_rows_before + src.num_rows)
            run.stats["table.stage_bytes"].append(sum(new.values()))
            run.stats["table.stage_files"].append(sum(p.endswith(".parquet") for p in new))
            run.stats["write_amp"].append(written / _snapshot_bytes(snap))
            run.stats["merge.useful_write_frac"].append(changed / _parquet_rows(new))
        for _ in range(READS):
            run.op("read", lambda: _noop(table.read(run.spark)))
        run.op("maintenance", lambda: table.vacuum(keep=2))
        if run.timed:
            run.stats["space_amp"].append(sum(_files(table.path).values()) / _snapshot_bytes(snap))
        os.remove(path)
        st["cur"] = src

    i = run.cycles(cycle, 0, timed=False)
    run.cycles(cycle, i, timed=True)
    run.timed, run.tracer.enabled = True, run.trace
    _downstream_op(run, table)
    run.timed, run.tracer.enabled = False, False


def _downstream_op(run: Run, table) -> None:
    """Run the registry op ``DOWNSTREAM_OP`` over the committed snapshot,
    collect its output and compare it with the op's DuckDB oracle over the
    same files.

    Registry ops read corpus tables through ``sparkmerge.queries.table_path``,
    which rewrites them into a cache directory outside the working tree; the
    benchmark points it at the snapshot's own data directory instead, so the
    op reads what the merges wrote."""
    import duckdb

    import sparkmerge.queries as queries
    from tools.check_oracle import canon

    registry = queries.registry()
    spec = registry[DOWNSTREAM_OP]

    def snapshot_dir() -> str:
        dirs = {os.path.dirname(_local(p)) for p in table.read(run.spark).inputFiles()}
        if len(dirs) != 1:
            raise RuntimeError(f"snapshot spans {len(dirs)} directories")
        return dirs.pop()

    def table_path(sf_dir: str, name: str) -> str:
        if name != "lineitem":
            raise KeyError(f"{DOWNSTREAM_OP} read {name!r}; only lineitem is provided")
        return snapshot_dir()

    queries.table_path = table_path
    got = run.op(f"op.{DOWNSTREAM_OP}", lambda: spec.fn(run.spark, run.work).toPandas())
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{snapshot_dir()}/*.parquet')")
        want = con.sql(spec.oracle).df()
    same = (len(got) == len(want) and sorted(got.columns) == sorted(want.columns)
            and canon(got).equals(canon(want)))
    run.check(f"{DOWNSTREAM_OP} over the snapshot matches its DuckDB oracle", same,
              f"{len(got)} vs {len(want)} rows")


# ---- incremental_lake ----


def incremental_lake(run: Run) -> None:
    """Partition-pruned daily merges into a month-partitioned ``orders``
    table, each followed by a full and a pruned read; every few merges a
    compaction and a vacuum."""
    import sparkmerge.merge as merge  # looked up per call, so traced runs see the wrapper
    from sparkmerge import PartitionedSnapshotTable

    n, n_months = run.size["orders"], run.size["months"]
    base = os.path.join(run.work, "lake")
    months = inputs.months(n_months)
    every = COMPACT_EVERY[run.short]

    def make(rep: int):
        orders = inputs.orders(np.random.default_rng([run.seed, 0]), n, n_months)
        os.makedirs(base, exist_ok=True)
        path = os.path.join(base, f"load{rep}.parquet")
        run.new_session(inputs.write(orders, path))
        table = PartitionedSnapshotTable.create(
            run.spark, os.path.join(base, f"t{rep}"), run.spark.read.parquet(path), "ds")
        return {"table": table, "cur": orders, "expected": {1: orders}, "original": orders}

    st = run.setup(make)
    table, rng = st["table"], np.random.default_rng([run.seed, 1])
    next_key = n

    def cycle(i: int) -> None:
        nonlocal next_key
        month = str(months[rng.integers(0, n_months)])
        delta = inputs.orders_delta(rng, st["cur"], month, run.size["inserts"], next_key)
        next_key += run.size["inserts"]
        path = os.path.join(base, f"delta{i}.parquet")
        inputs.write(delta, path)
        parts_before, files_before = table.partitions(), _files(table.path)
        res = run.op("merge", lambda: merge.merge_partitioned(
            run.spark, table, run.spark.read.parquet(path), inputs.ORDERS_KEY,
            delete="NO", prune_scan=True, strategy="auto"))
        parts_after = table.partitions()
        st["cur"] = inputs.apply_upsert(st["cur"], delta, "o_orderkey")
        st["expected"][res.version] = st["cur"]
        carried = [m for m in parts_before if m != month]
        run.check(f"merge {i}: copy-forward",
                  all(parts_after.get(m) == parts_before[m] for m in carried)
                  and set(parts_after) == set(parts_before) | {month},
                  f"month {month}")
        run.check(f"merge {i}: changed_rows", res.changed_rows == delta.num_rows,
                  f"{res.changed_rows} != {delta.num_rows}")
        if run.timed:
            new = {p: b for p, b in _files(table.path).items() if p not in files_before}
            snap = table.read(run.spark)
            rewritten = sum(parts_after.get(m) != parts_before.get(m) for m in parts_after)
            run.stats["rows"].append(res.target_rows_before + delta.num_rows)
            run.stats["ptable.partitions_rewritten"].append(rewritten)
            run.stats["ptable.partitions_carried"].append(len(parts_after) - rewritten)
            run.stats["ptable.stage_bytes"].append(sum(new.values()))
            run.stats["write_amp"].append(sum(new.values()) / _snapshot_bytes(snap))
            run.stats["merge.useful_write_frac"].append(res.changed_rows / _parquet_rows(new))
            run.stats["ptable.files_per_partition"].append(
                len(snap.inputFiles()) / len(parts_after))
        for _ in range(READS):
            run.op("read", lambda: _noop(table.read(run.spark)))
            run.op("read_pruned", lambda: _noop(table.read_partitions(run.spark, [month])))
        if (i + 1) % every == 0:
            if 1 in table.versions():
                run.check("read(version=1) equals the original load",
                          _same_rows(table.read(run.spark, version=1).toArrow(), st["original"]))

            def maintain() -> int:
                version = table.compact(run.spark)
                table.vacuum(keep=3)
                return version

            st["expected"][run.op("maintenance", maintain)] = st["cur"]
            if run.timed:
                run.stats["space_amp"].append(
                    sum(_files(table.path).values()) / _snapshot_bytes(table.read(run.spark)))
        os.remove(path)

    i = run.cycles(cycle, 0, timed=False)
    run.cycles(cycle, i, timed=True)
    run.check("convergence: final snapshot equals the replayed deltas",
              _same_rows(table.read(run.spark).toArrow(), st["cur"]))
    for v in table.versions():
        run.check(f"retained version {v} readable and intact",
                  _same_rows(table.read(run.spark, version=v).toArrow(), st["expected"][v]))


WORKLOADS = {"snapshot_merge": snapshot_merge, "incremental_lake": incremental_lake}


# ---- metrics ----


def _end_to_end(run: Run) -> dict:
    merges = [s["s"] for s in run.timed_steps("merge")]
    return {
        "setup_s": _median(run.setup_s),
        "merge_s": _median(merges),
        "rows_per_s": _median(n / t for n, t in zip(run.stats["rows"], merges)),
        "read_s": _median(s["s"] for s in run.timed_steps("read")),
        "write_amp": _median(run.stats["write_amp"]),
    }


def _extra(run: Run, rss: float) -> dict:
    first = run.first_timed_at or time.perf_counter()
    timed = [s for s in run.steps if s["timed"]]
    steal = sum(s["steal_j"] for s in timed)
    out = {
        "space_amp": _median(run.stats["space_amp"]),
        "failed_frac": run.failed / max(1, run.attempted),
        "peak_rss_mib": rss,
        "process_to_first_timed_step_s": first - run.process_start,
        # share of runnable CPU time the host gave to other guests
        "host_steal_frac": steal / max(1, steal + sum(s["busy_j"] for s in timed)),
    }
    if run.workload == "incremental_lake":
        out["read_pruned_s"] = _median(s["s"] for s in run.timed_steps("read_pruned"))
        out["maintenance_s"] = _median(s["s"] for s in run.timed_steps("maintenance"))
    return out


def _per_layer(run: Run) -> dict:
    per_step = run.tracer.per_step()
    out = dict.fromkeys((name for name, _ in PER_LAYER), 0.0)
    out["session.start_s"] = _median(run.session_s)
    for span, kind, metric in SPAN_METRICS:
        steps = [per_step[s["step"]] for s in run.timed_steps(kind, traced=True)]
        if any(span in spans for spans in steps):
            out[metric] = _median(spans[span]["s"] if span in spans else 0.0 for spans in steps)
    merges = run.timed_steps("merge")
    traced = [per_step[s["step"]] for s in merges if s["traced"]]
    top = "merge.simple_merge" if run.workload == "snapshot_merge" else "merge.merge_partitioned"
    out["merge.self_s"] = _median(spans[top]["self_s"] for spans in traced)
    out["ptable.manifest_reads"] = _median(
        spans["ptable.manifest"]["n"] if "ptable.manifest" in spans else 0 for spans in traced)
    out["merge.jobs"] = _median(s["jobs"] for s in merges)
    out["merge.stages"] = _median(s["stages"] for s in merges)
    for key in FS_METRICS:
        out[key] = _median(run.stats[key])
    op = run.timed_steps(f"op.{DOWNSTREAM_OP}")
    out[f"op.{DOWNSTREAM_OP}.s"] = _median(s["s"] for s in op)
    out[f"op.{DOWNSTREAM_OP}.jobs"] = _median(s["jobs"] for s in op)
    out["trace.overhead_s"] = (_median(s["s"] for s in merges if s["traced"])
                               - _median(s["s"] for s in merges if not s["traced"]))
    return out


def _spark_counters(run: Run) -> dict:
    """Event-log task counters of the timed merges, per merge."""
    merges = run.timed_steps("merge")
    totals = tracing.event_log_counters(os.path.join(run.work, "eventlog"),
                                        {s["group"] for s in merges})
    return {k: v / max(1, len(merges)) for k, v in totals.items()}


def run(workload: str, *, seed: int, seconds: float, trace: bool, short: bool, work: str,
        process_start: float) -> dict:
    r = Run(workload, seed, seconds, trace, short, work, process_start)
    if trace:
        tracing.install(r.tracer)
    rss = 0.0
    try:
        try:
            WORKLOADS[workload](r)
        except StepFailed:
            pass  # recorded as a failed operation
        if r.spark is not None:
            rss = r.peak_rss_mib()
            r.count_jobs()
        e2e, extra = _end_to_end(r), _extra(r, rss)
        layers = _per_layer(r) if trace else {}
    finally:
        r.close()
        r.tracer.unwrap()
    if trace:
        layers.update(_spark_counters(r))  # the event log is complete once the session stopped
    units = dict(END_TO_END) | dict(EXTRA) | dict(PER_LAYER)

    def with_units(d: dict) -> dict:
        return {k: {"value": v, "unit": units[k]} for k, v in d.items()}

    return {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace, "short": short,
        "sizes": SIZES[short], "input_bytes": r.input_bytes, "setup_reps": SETUP_REPS,
        "warmup_cycles": 1 if short else WARMUP[workload],
        "correct": r.failed == 0,
        "attempted": r.attempted, "failed": r.failed,
        "end_to_end": with_units(e2e), "extra": with_units(extra), "per_layer": with_units(layers),
        "samples": {"setup_s": r.setup_s, "session_start_s": r.session_s, "steps": r.steps},
        "checks": r.checks,
        "spans": r.tracer.dump(),
    }


def summary_lines(report: dict) -> list[str]:
    """Human-readable lines: every metric of the run by name and unit."""
    lines = [f"workload {report['workload']} seed {report['seed']} "
             f"attempted {report['attempted']} failed {report['failed']} "
             f"correct {report['correct']}"]
    sections = ["per_layer"] if report["trace"] else ["end_to_end", "extra"]
    for section in sections:
        for name, m in report[section].items():
            lines.append(f"  {name:40s} {m['value']:>16.6g} {m['unit']}")
    for c in report["checks"]:
        if not c["ok"]:
            lines.append(f"  CHECK FAILED: {c['check']}: {c['detail']}")
    return lines
