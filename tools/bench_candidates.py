"""Measure candidate headline ops (Spark vs DuckDB, bench.py protocol) to
decide what enters bench.py's HEADLINE list.  Run solo on an idle box.

Usage: PYTHONPATH=/root/repo python tools/bench_candidates.py [sf_dir] op...
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def adaptive(run) -> float:
    t0 = time.perf_counter()
    run()
    warm = time.perf_counter() - t0
    if warm >= 10:
        return warm
    n = 5 if warm < 2 else 3
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        ts.append(time.perf_counter() - t0)
    return sorted(ts)[len(ts) // 2]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ops = sys.argv[2:]
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sparkmerge.queries import registry
    from sparkmerge.session import get_spark, host_cpus

    total = sum(
        os.path.getsize(f"{sf_dir}/{t}.parquet") for t in TABLES
    )
    spark = get_spark("bench-candidates", input_bytes=total)
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={host_cpus()}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    for op in ops:
        spec = reg[op]
        s = adaptive(
            lambda: spec.fn(spark, sf_dir)
            .write.format("noop")
            .mode("overwrite")
            .save()
        )
        d = adaptive(lambda: con.sql(spec.oracle).arrow())
        print(f"{op}: spark {s:.3f}s duckdb {d:.3f}s ratio {s / d:.2f}")


if __name__ == "__main__":
    main()
