"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload snapshot_merge --seed 1 --seconds 12 --trace 0

Run it from the repository root.  It builds nothing: the program is the
``sparkmerge`` package next to this directory, driven in a local Spark
session sized to this host (``SPARK_GRAFT_CPUS`` = usable cores, a 4g JVM
heap).  Every file it writes stays inside the working directory:

- ``.perfbench_run/<pid>/``   inputs, tables, Spark scratch, event log —
                               removed when the run ends;
- ``.perfbench_out/``          one JSON report per run with every metric,
                               the step samples and, for traced runs, the
                               spans and event-log counters.

With ``--trace 0`` the last stdout line carries the end-to-end metrics; with
``--trace 1`` the per-layer ones.  ``--short`` shrinks inputs and steps for
the benchmark's own test.  The exit code is 0 only when every operation
succeeded and every output check passed.
"""

from __future__ import annotations

import time

# The first set-up is timed from here, so it includes interpreter and
# library start-up; the imports below come after it on purpose.
PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

import workloads  # noqa: E402

DRIVER_HEAP = "4g"


def _parse(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--short", action="store_true")
    return p.parse_args(argv)


def _spark_env(work: str, trace: bool) -> None:
    """Point every file Spark, the JVM and Python write at ``work`` and size
    the session to this host, before the JVM starts.

    Flush policy: local filesystem through Spark's default file committer,
    no fsync; reads are likely served from the page cache."""
    conf_dir = os.path.join(work, "conf")
    for d in (conf_dir, os.path.join(work, "tmp"), os.path.join(work, "local"), os.path.join(work, "eventlog")):
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp",
        "spark.ui.showConsoleProgress": "false",
        "spark.eventLog.enabled": "true" if trace else "false",
        "spark.eventLog.dir": f"file://{work}/eventlog",
        "spark.eventLog.compress": "false",
        # the status tracker must still hold every job when the run counts them
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w", encoding="utf-8") as f:
        f.writelines(f"{k} {v}\n" for k, v in conf.items())
    with open(os.path.join(conf_dir, "log4j2.properties"), "w", encoding="utf-8") as f:
        f.write(
            "rootLogger.level = error\n"
            "rootLogger.appenderRef.stderr.ref = console\n"
            "appender.console.type = Console\n"
            "appender.console.name = console\n"
            "appender.console.target = SYSTEM_ERR\n"
            "appender.console.layout.type = PatternLayout\n"
            "appender.console.layout.pattern = %p %c{1}: %m%n\n"
        )
    os.environ.update(
        SPARK_CONF_DIR=conf_dir,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        PYSPARK_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_HEAP,
    )


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkmerge", "__init__.py")):
        print(f"perfbench: no sparkmerge package under {root}; run from the repository root",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_run", str(os.getpid()))
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    _spark_env(work, bool(args.trace))
    try:
        report = workloads.run(
            args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            short=args.short,
            work=work,
            process_start=PROCESS_START,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it

    name = f"{args.workload}-seed{args.seed}-trace{args.trace}{'-short' if args.short else ''}.json"
    with open(os.path.join(out_dir, name), "w", encoding="utf-8") as f:
        json.dump(report, f, indent=1, sort_keys=True)
    for line in workloads.summary_lines(report):
        print(line)
    metrics = report["per_layer"] if args.trace else report["end_to_end"]
    print(
        json.dumps(
            {
                "correct": report["correct"],
                "attempted": report["attempted"],
                "failed": report["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0 if report["correct"] else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
