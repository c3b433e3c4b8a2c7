"""Targeted op timer: each named op at any SF dir, timed construct + noop
write by ``sparkmerge.profile.measure`` (bench.py's protocol), in a fresh
session with the profile bench would use for that dir.

Usage: python tools/time_ops.py <sf_dir> op[:kwarg=val,...] [op ...]
   e.g. python tools/time_ops.py /tmp/sparkmerge_sf10 dedup_cross_source_matrix:shingle_key=hash
"""

from __future__ import annotations

import gc
import os
import sys


def main() -> None:
    sf_dir = sys.argv[1]
    specs = []
    for arg in sys.argv[2:]:
        if ":" in arg:
            op, kv = arg.split(":", 1)
            kwargs = dict(p.split("=", 1) for p in kv.split(","))
        else:
            op, kwargs = arg, {}
        specs.append((arg, op, kwargs))
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from bench import TABLES
    from sparkmerge.profile import measure, release_checkpoint_blocks
    from sparkmerge.queries import registry, table_path
    from sparkmerge.session import get_spark

    input_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    spark = get_spark("time-ops", input_bytes=input_bytes)
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    for t in TABLES:
        table_path(sf_dir, t)
    # untimed session warmup (the sf10 runner discipline)
    from pyspark.sql import functions as F
    (
        spark.read.parquet(table_path(sf_dir, "orders"))
        .groupBy((F.col("o_orderkey") % 64).alias("b"))
        .agg(F.count(F.lit(1)).alias("n"))
        .write.format("noop").mode("overwrite").save()
    )

    for label, op, kwargs in specs:
        spec = reg[op]
        spark.sparkContext.setJobDescription(label)
        sec = measure(
            lambda: spec.fn(spark, sf_dir, **kwargs)
            .write.format("noop").mode("overwrite").save(),
            before=lambda: release_checkpoint_blocks(spark),
        )
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        print(f"{label:45s} {sec:8.2f} s", flush=True)


if __name__ == "__main__":
    main()
