"""sf10 leg — extend the growth evidence one more decade (10,000x sf0.001).

sf10 (~1.7 GiB) is derived by chaining tools/gen_scale.py twice
(sf0.1 -> sf1 -> sf10).  Chained alphabet rotations compose, so SOME
replica pairs share a total shift and their documents become exact
cross-replica duplicates — that inflates duplicate-cluster sizes, so the
set-similarity/dedup ops are deliberately NOT measured at sf10 (their sf1
rows in SCALING.md are the valid reading; the quadratic DuckDB oracle
formulations could not finish at sf10 anyway — 351 s at sf1 and ~100x that
at sf10).  The ops below have linear per-row work or key-offset-clean join
shapes, where the chained corpus is distribution-faithful.

Protocol: bench.py's adaptive repeats (warm-up >= 10 s IS the measurement,
else median of 3), noop sink vs arrow materialization, scale profile.

Usage: PYTHONPATH=/root/repo python tools/scale10_report.py
Writes the markdown table to stdout; paste/refresh into BASELINE.md's
sf10 section (BASELINE.md is the hand-maintained perf ledger; SCALING.md
stays the generated sf0.001-sf1 artifact).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

import duckdb

OPS = [
    # map-side / single-shuffle text + pipeline surface (the crossover ops)
    "text_stats",
    "text_fingerprint",
    "text_repetition",
    "pipeline_quality_filter",
    "pipeline_sequence_pack",
    "pipeline_training_mix",
    "feature_hash_bucket",
    "json_extract_props",
    # merge + micro-analytics (kept for honesty: DuckDB stays ahead here
    # until its memory cliff, far above 1.7 GiB)
    "merge_full",
    "merge_broadcast_delta",
    "window_tumbling",
    "tpch_q1",
    "tpch_q5",
    # r5: single-shuffle as-of + the bounded-cost graph/spatial builders
    "join_asof",
    "join_spatial_grid",
    "graph_cooccurrence_capped",
    # r6: the family edge builder now runs the ≤32 cap — sf10-safe; plus
    # the patch-mode merge and the single-shuffle funnel fold
    "graph_cooccurrence_edges",
    "merge_sparse_patch",
    "events_funnel_steps",
    # r6 late batches: map-side readability, per-doc hapax profile, the
    # bounded-agg graph statistics, cadence/funnel folds, the reversed
    # carry-forward asof, the period KPI, and the grid density labels
    # (dedup/set-similarity ops stay excluded — chained-replica dup
    # inflation, see module docstring)
    "text_readability_fk",
    "text_hapax_ratio",
    "graph_assortativity",
    "events_inter_arrival",
    "events_funnel_latency",
    "join_asof_forward",
    "timeseries_mom_growth",
    "spatial_dbscan_core",
    # r7: the recency-dedup merge, the ×28 contribution-explode engagement
    # ratio, the event-delta backlog cumsum, the per-user gap fold, the
    # first-occurrence vocab curve, and the calendar densify
    # (dedup_cross_source_matrix stays excluded with the dedup family —
    # chained-replica duplicate texts inflate cross-source shingle overlap)
    "merge_upsert_latest",
    "window_dau_mau_stickiness",
    "window_interval_stabbing",
    "events_user_cadence_cv",
    "text_vocab_growth",
    "window_calendar_densify",
]
# spark-only at sf10: the certifying oracles are quadratic (spatial
# all-pairs) or disk-spilling (raw co-occurrence) at this size
SPARK_ONLY = {"join_spatial_grid", "spatial_dbscan_core"}
SF10 = "/tmp/sparkmerge_sf10"
SF1 = "/tmp/sparkmerge_sf1"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _adaptive(run) -> float:
    """bench.py's adaptive protocol (bench.py:92 `_repeats` — keep in sync;
    bench.py nests it inside main() so it cannot be imported): a warm-up
    >= 10 s IS the measurement, 2-10 s warm-ups get median-of-3, < 2 s
    get median-of-5."""
    t0 = time.perf_counter()
    run()
    warm = time.perf_counter() - t0
    if warm >= 10:
        return warm
    n = 3 if warm >= 2 else 5
    ts = []
    for _ in range(n):
        t0 = time.perf_counter()
        run()
        ts.append(time.perf_counter() - t0)
    return sorted(ts)[len(ts) // 2]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sparkmerge.queries import registry, table_path
    from sparkmerge.session import get_spark, host_cpus

    for d, src, factor in ((SF1, "/root/testdata/sf0.1", 10), (SF10, SF1, 10)):
        # completeness check, not isdir: gen_scale makedirs before writing,
        # so an interrupted generation leaves a partial dir — regenerate
        # unless every table's parquet is present
        if not all(os.path.exists(os.path.join(d, f"{t}.parquet")) for t in TABLES):
            subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "gen_scale.py"),
                 src, d, str(factor)],
                check=True,
            )

    spark = get_spark("sparkmerge-sf10")  # scale profile: AQE on, 32 partitions
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    for t in TABLES:  # pre-warm the read-optimized rewrites outside timings
        table_path(SF10, t)

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={host_cpus()}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF10}/{t}.parquet')"
        )

    print("| op | spark s @sf10 | duckdb s @sf10 | ratio |")
    print("| --- | --- | --- | --- |")
    tot_s = tot_d = 0.0
    import gc as _gc

    for op in OPS:
        spec = reg[op]
        s = _adaptive(lambda: spec.fn(spark, SF10).write.format("noop").mode("overwrite").save())
        # reclaim prior ops' localCheckpoint blocks: they stay pinned on the
        # executor heap until the Python refs die AND the JVM ContextCleaner
        # fires — ~30 accumulated ops OOMed this session at sf10 (and GC
        # thrash from the same aging is the best explanation for r6's
        # anomalous 166 s dbscan reading vs 1.3 s solo at HEAD)
        _gc.collect()
        spark.sparkContext._jvm.System.gc()
        if op in SPARK_ONLY:
            print(f"| {op} | {s:.2f} | skip (quadratic certifier) | — |", flush=True)
            continue
        d = _adaptive(lambda: con.sql(spec.oracle).arrow())
        tot_s += s
        tot_d += d
        print(f"| {op} | {s:.2f} | {d:.2f} | {s / d:.2f} |", flush=True)
    print(f"| **total** | **{tot_s:.2f}** | **{tot_d:.2f}** | **{tot_s / tot_d:.2f}** |")


if __name__ == "__main__":
    main()
