"""SparkSession builder with scale-oriented defaults.

Sized to the host it runs on (``host_cpus``, ``driver_memory``), with
settings that carry to a real cluster: AQE on (runtime partition coalescing +
skew-join splitting — matters for badkey_rank windows over skewed keys),
shuffle partitions sized to the parallelism, Arrow enabled for the
``mapInPandas``/``applyInPandasWithState`` paths (multimodal, streaming) and
``toPandas``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


# Below this input size the lean profile (8 partitions, AQE off) wins: every
# shuffle fits one task's memory and AQE's query-stage barriers plus idle-core
# scheduling cost more than they save (measured at sf0.1 ≈ 17 MiB).  Above it
# the work per task dominates the barrier cost and undersized parallelism
# throttles the box — measured at sf1 ≈ 177 MiB, where the lean profile pinned
# exactly 8 of 32 cores on the set-similarity joins.
_SMALL_INPUT_BYTES = 64 * 1024**2


def host_cpus() -> int:
    """Local parallelism: ``SPARK_GRAFT_CPUS``, else the CPUs this process
    may run on (its affinity mask, which a container's cpuset narrows)."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """Driver heap: ``SPARK_GRAFT_DRIVER_MEM``, else half the physical RAM,
    capped at 16g.  The local JVM's heap must leave room for its own
    off-heap memory, the Python workers and the OS page cache; a heap sized
    past physical RAM meets the kernel OOM killer instead of a Java OOM."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    half_mib = min(16 * 1024, ram // 2 // 1024**2)
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{half_mib}m"


def sql_confs(profile: str) -> dict[str, str]:
    """The dynamic SQL confs that differ between the ``"lean"`` and
    ``"scale"`` profiles.  ``get_spark`` builds a session with them, and a
    caller that moves a live session to another input size sets them (they
    are SQL confs, so a running session takes them; the core confs fixed at
    session start are not among them)."""
    return {
        "lean": {
            "spark.sql.shuffle.partitions": "8",
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.files.maxPartitionBytes": str(1024 * 1024),
            # every table in a <64 MiB corpus is dimension-sized, so
            # broadcasting everything is right
            "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        },
        "scale": {
            "spark.sql.shuffle.partitions": str(host_cpus()),
            "spark.sql.adaptive.enabled": "true",
            # The local corpus is ~MBs per table, so the 128 MB default split
            # would put every file on one task; 4 MB gives every core work.
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            # Spark's 10 MiB default — measured at sf1 (BASELINE.md round-4):
            # 64 MiB made the planner broadcast the 1.5M-row orders table
            # (single-threaded driver hash build), tripling tpch_q3/q5; the
            # same mistake at 100 TB would OOM the driver.  AQE still
            # upgrades shuffle joins to broadcast from runtime stats.
            "spark.sql.autoBroadcastJoinThreshold": str(10 * 1024 * 1024),
        },
    }[profile]


def get_spark(
    app_name: str = "sparkmerge",
    *,
    shuffle_partitions: int | None = None,
    input_bytes: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    At 100 TB scale ``shuffle_partitions`` should be ~2-3x total executor
    cores; AQE coalesces the excess at runtime, so we set the static number
    from the local parallelism and let AQE do the rest.

    ``input_bytes`` (when the caller knows the workload size, e.g. bench.py
    sums its scale dir) switches a sub-``_SMALL_INPUT_BYTES`` workload to a
    lean profile: 8 shuffle partitions, AQE off.  AQE's per-query-stage
    materialization barrier costs more than it saves when every shuffle fits
    in one task's memory — measured 2× end-to-end at sf0.1 (BASELINE.md).
    The default (no hint) keeps the scale posture: AQE on.
    """
    cpus = host_cpus()
    small = input_bytes is not None and input_bytes < _SMALL_INPUT_BYTES
    confs = sql_confs("lean" if small else "scale")
    if shuffle_partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # A real cluster reading 100 TB sets the split size back up through the
    # env var (row groups there are >=128 MB anyway).
    confs["spark.sql.files.maxPartitionBytes"] = os.environ.get(
        "SPARK_GRAFT_MAX_PARTITION_BYTES", confs["spark.sql.files.maxPartitionBytes"]
    )
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config(map=confs)
        # Lean-profile scheduler trims (measured ~30 ms/job → ~15 ms/job on
        # trivial jobs): locality wait is meaningless in local mode, and
        # compressing KB-sized shuffle/broadcast payloads costs more than the
        # bytes saved.  At real scale both defaults are correct — compression
        # pays for itself on network-bound shuffles — so the big profile
        # keeps them.
        .config("spark.locality.wait", "0" if small else "3s")
        .config("spark.shuffle.compress", "false" if small else "true")
        .config("spark.broadcast.compress", "false" if small else "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # keep catalog-table data (bucketed tables) out of the repo cwd
        .config("spark.sql.warehouse.dir", "/tmp/sparkmerge_warehouse")
        # The basket build peaks 5.5-6.7 GB at sf10 (OPTIMIZATION_r13.md #1):
        # an 8g heap lost a task to a heap OOM there, so a large host gets
        # 16g.  A small host gets half its RAM (see driver_memory).
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.openCostInBytes", str(512 * 1024))
    )
    return builder.getOrCreate()
