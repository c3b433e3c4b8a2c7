"""Incremental soak — the 100 TB operational loop, end to end through storage.

Simulates N ingest days against a month-partitioned orders table at bench
scale: each day a delta-sized batch (one month's mutations + a band of new
keys) merges via ``merge_partitioned(prune_scan=True, strategy='auto')`` —
pruned target scan, broadcast changeset, write-pruned commit.  Along the way
it verifies the properties that make the design hold at 100 TB:

- **copy-forward**: after every merge, all untouched month partitions still
  point at their prior data directories (zero bytes rewritten for them);
- **pruned rewrite**: only the delta's month (and the insert band's month)
  appears under the new version's files;
- **idempotence is metadata-only**: re-merging a day's batch commits a new
  manifest but writes no data files;
- **compaction** midway keeps rows identical while collapsing small files;
- **time travel**: after all days, version 1 still reads back byte-identical
  to the original load, and `vacuum(keep=...)` never breaks a retained
  version;
- **convergence**: the final state equals applying all the deltas to the
  original frame with plain `merge_preview` (the storage loop adds nothing
  and loses nothing).

Usage: PYTHONPATH=/root/repo python tools/soak_incremental.py [sf_dir] [days]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    days = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from sparkmerge.merge import merge_partitioned, merge_preview
    from sparkmerge.session import get_spark
    from sparkmerge.table import SnapshotTable

    spark = get_spark("soak-incremental", input_bytes=100)
    spark.sparkContext.setLogLevel("ERROR")

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "ds", F.date_format("o_orderdate", "yyyy-MM")
    )
    months = sorted(r["ds"] for r in orders.select("ds").distinct().collect())
    assert len(months) >= days, f"need ≥{days} months, corpus has {len(months)}"

    def day_delta(i: int):
        """Day i mutates month[i] (statuses + totalprice on even keys) and
        inserts a small band of brand-new keys into that same month."""
        m = orders.filter(F.col("ds") == months[i])
        mut = F.col("o_orderkey") % 2 == 0
        base = m.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_custkey",
            F.when(mut, F.lit("X")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
            F.when(mut, F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderdate", "o_orderpriority", "ds",
        )
        ins = m.filter(F.col("o_orderkey") % 50 == 0).select(
            (F.col("o_orderkey") + 9_000_000_000).alias("o_orderkey"),
            "o_custkey", F.lit("N").alias("o_orderstatus"),
            "o_totalprice", "o_orderdate", "o_orderpriority", "ds",
        )
        return base.unionAll(ins)

    d = tempfile.mkdtemp(prefix="soak_inc_")
    keys = ["o_orderkey", "ds"]
    ok = True
    try:
        t0 = time.perf_counter()
        tbl = SnapshotTable.create(spark, os.path.join(d, "t"), orders, "ds")
        expected = orders
        for i in range(days):
            before = tbl.partitions()
            delta = day_delta(i)
            merge_partitioned(
                spark, tbl, delta, keys,
                delete="NO", prune_scan=True, strategy="auto",
            )
            after = tbl.partitions()
            touched = {m for m in after if m not in before or after[m] != before[m]}
            untouched_ok = all(after[m] == before[m] for m in before if m != months[i])
            pruned_ok = touched <= {months[i]}
            expected = merge_preview(expected, delta, keys, delete="NO")
            if not (untouched_ok and pruned_ok):
                ok = False
                print(f"day {i}: COPY-FORWARD VIOLATION touched={sorted(touched)}")
            # idempotence: same batch again must be a metadata-only commit
            files = os.path.join(d, "t", "files")
            dirs = set(os.listdir(files))
            merge_partitioned(spark, tbl, delta, keys, delete="NO",
                              prune_scan=True, strategy="auto")
            wrote = set(os.listdir(files)) - dirs
            if wrote:
                ok = False
                print(f"day {i}: idempotent re-merge wrote data ({sorted(wrote)})")
            if i == days // 2:
                tbl.compact(spark)
        # convergence: storage loop ≡ pure-dataflow replay
        final = tbl.read(spark)
        diff = final.exceptAll(expected).count() + expected.exceptAll(final).count()
        conv = diff == 0
        # time travel: version 1 is still the original load, byte-identical
        v1 = tbl.read(spark, version=1)
        tt = v1.exceptAll(orders).count() + orders.exceptAll(v1).count() == 0
        # vacuum must keep every retained version readable
        tbl.vacuum(keep=3)
        kept = tbl.read(spark, version=tbl.current_version() - 1).count() > 0
        took = time.perf_counter() - t0
        rows = final.count()
        print(
            f"soak-incremental days={days} rows={rows} versions={tbl.current_version()} "
            f"convergence={conv} time_travel_v1={tt} vacuum_read={kept} took={took:.1f}s"
        )
        ok = ok and conv and tt and kept
        print("PASS" if ok else "FAIL")
        sys.exit(0 if ok else 1)
    finally:
        shutil.rmtree(d, ignore_errors=True)


if __name__ == "__main__":
    main()
