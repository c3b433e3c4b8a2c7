"""Scale-profile runner for bench.py's sf10 leg (one JSON line on stdout).

bench.py's own session is built with the LEAN profile (its sf0.1 input
hint): shuffle/broadcast compression OFF — core confs, fixed at session
start, that the leg's dynamic SQL-conf flip cannot reach.  At sf10 the
shuffle payload is GBs, and uncompressed shuffle I/O degraded
dedup_minhash 13 s → 214 s in the in-process leg.  This runner builds a
fresh SCALE-profile session (no input hint: AQE on, compression on,
32 shuffle partitions) and runs the same budgeted protocol, so the
committed artifact measures the posture a real sf10 job would run.

Two sub-blocks (r8 verdict ask #4 made breadth a committed BENCH
artifact, not a SCALING.md-only story), ordered cheap-first so budget
exhaustion only ever costs the heavy tail's later rows:

- ``breadth``: ~8 scale-safe ops spanning merge/agg/window/graph/text —
  the ~1× amortization story;
- ``tail``: the heavy exact shapes (SF10_OPS), budget-guarded entry.

Usage: PYTHONPATH=/root/repo python tools/bench_sf10_runner.py [sf10_dir]
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

import duckdb


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import bench  # SF10_* / TABLES are the contract

    from sparkmerge.profile import measure, release_checkpoint_blocks
    from sparkmerge.queries import registry, table_path
    from sparkmerge.session import get_spark, host_cpus

    sf10_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sparkmerge_sf10"
    # Per-BLOCK budgets (bench.SF10_BUDGET_S), each measured from its own
    # block start (r9 verdict ask #2: the r9 global budget spent itself on
    # throttled breadth runs and silently dropped 8 tail ops
    # including merge_full/tpch_q5 — the merge-at-scale evidence.  A
    # protected tail slice means a bad host day costs breadth rows, never
    # the headline merge story).
    cpus = host_cpus()

    spark = get_spark("bench-sf10")  # scale profile: AQE on, compression on
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={cpus}")
    # cap DuckDB spill so a runaway oracle errors fast (caught per-op)
    # instead of ENOSPC-ing the host — the pre-r8-fix failure mode
    con.execute("SET temp_directory='/tmp/duckdb_sf10_tmp'")
    con.execute("SET max_temp_directory_size='40GiB'")
    for t in bench.TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf10_dir}/{t}.parquet')"
        )
    for t in bench.TABLES:  # pre-warm read-optimized rewrites outside timings
        table_path(sf10_dir, t)

    # UNTIMED session warmup (r12, the merge_sparse_patch artifact
    # contradiction): the first job of a fresh session pays ~10 s of pure
    # warmup on this host (JIT/codegen compile, parquet + noop sink
    # classloading, shuffle infra init, page-cache first touch) — measured
    # 11.4 s for a trivial scan+agg+noop job vs sub-second steady-state.
    # Under the old protocol that cost landed entirely in the FIRST op's
    # row, and because a >=10 s first reading was returned un-repeated,
    # merge_sparse_patch (first in breadth) committed 20-25 s cold against
    # a 3.7-3.9 s steady state.  One representative untimed job absorbs
    # the session-generic share before any timed row.
    from pyspark.sql import functions as F

    (
        spark.read.parquet(table_path(sf10_dir, "orders"))
        .groupBy((F.col("o_orderkey") % 64).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_totalprice").alias("s"))
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    gc.collect()
    spark.sparkContext._jvm.System.gc()

    reg = registry()

    def run_block(entries, block_budget: float) -> dict:
        """One leg block over the op ids ``entries``.  The budget window
        is BLOCK-LOCAL (guards entry, not duration)."""
        t_start = time.perf_counter()

        def over_budget() -> bool:
            return time.perf_counter() - t_start > block_budget

        spark_times: dict[str, float] = {}
        duck_times: dict[str, float] = {}
        skipped: list[str] = []
        oracle_skipped: list[str] = []
        errors: dict[str, str] = {}
        for op_id in entries:
            if over_budget():
                skipped.append(op_id)
                continue
            spec = reg[op_id]
            # failure-isolated per op AND per side: one runaway query costs
            # its own row, never the whole leg.  The gc.collect() between
            # ops releases checkpoint blocks only asynchronously (through
            # the ContextCleaner), so each run also releases them first.
            try:
                spark_times[op_id] = round(
                    measure(
                        lambda: spec.fn(spark, sf10_dir)
                        .write.format("noop")
                        .mode("overwrite")
                        .save(),
                        before=lambda: release_checkpoint_blocks(spark),
                    ),
                    4,
                )
            except Exception as e:  # noqa: BLE001 — recorded, not hidden
                errors[op_id] = f"spark: {type(e).__name__}: {e}"[:200]
                continue
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            if op_id in bench.SF10_ORACLE_SKIP:
                oracle_skipped.append(op_id)
            elif spec.oracle is not None and not over_budget():
                try:
                    duck_times[op_id] = round(
                        measure(lambda: con.sql(spec.oracle).arrow()), 4
                    )
                except Exception as e:  # noqa: BLE001
                    errors[op_id] = f"duckdb: {type(e).__name__}: {e}"[:200]
        comparable = sum(spark_times[k] for k in duck_times)
        duck_total = sum(duck_times.values())
        block = {
            "queries": spark_times,
            "duckdb": duck_times,
            "ratio_vs_duckdb": round(comparable / duck_total, 3) if duck_total else None,
            "skipped": skipped,
            "oracle_skipped": oracle_skipped,
        }
        if errors:
            block["errors"] = errors
        return block

    budget = bench.SF10_BUDGET_S
    out = {
        "sf": 10,
        "budget_sec": budget,
        # cheap-first ordering retained, but every block now has its OWN
        # protected budget window — breadth overruns can no longer starve
        # the tail (the merge-at-scale evidence)
        "breadth": run_block(bench.SF10_BREADTH, budget["breadth"]),
        "tail": run_block(bench.SF10_OPS, budget["tail"]),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
