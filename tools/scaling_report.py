"""Generate SCALING.md: wall-clock growth of representative operators across
sf0.001 → sf0.01 → sf0.1 (100× data growth), Spark vs the DuckDB oracle.

The point is the SHAPE, not the absolute numbers: Spark times are
floor-dominated at tiny SFs and grow sublinearly in data size, while the
all-pairs oracle formulations grow quadratically — the crossover the engine
is designed around.  Every reading is one ``sparkmerge.profile.measure``
call, as in bench.py (noop sink / arrow materialization).
"""

from __future__ import annotations

import os
import sys

import duckdb

# Sweep checkpoint: REPO-side, not /tmp (r9 verdict ask — the r9 refresh
# lost its half-finished /tmp checkpoint at a session boundary and the
# round shipped a partial table).  Gitignored working file; every run
# rewrites it per SF pass, incremental runs seed from it.
CHECKPOINT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scaling_partial.json"
)

OPS = [
    "merge_full",
    "merge_broadcast_delta",  # broadcast strategy (no target-row shuffle) vs merge_full's shuffle pair
    "badkey_rank",
    "dedup_minhash",
    "dedup_ngram_jaccard",
    "dedup_containment",
    "text_repetition",
    "pipeline_training_mix",
    "topk_similarity",
    "text_bm25_topk",
    "bitext_margin_mine",
    # r4 batch-2/3 families: the edge builder's bucket-density question
    # (×10 users in the same time span → ×100 pairs per bucket) and the
    # map-side featurization / one-shuffle resample shapes.
    # NOTE (r6): before the capped-builder migration graph_triangle_count
    # was excluded here — the uncapped graph densified toward complete by
    # sf0.1 (178 s Spark / 324 s DuckDB, >80 GB spill at sf1).  The ≤32
    # bucket cap keeps the derived graph sparse by construction, so the
    # WHOLE family now runs at sf1 in both engines and is measured below.
    "graph_cooccurrence_edges",
    "graph_degree_profile",
    "graph_triangle_count",
    "graph_pagerank_fixedpoint",
    "graph_connected_components",
    "feature_hash_bucket",
    "timeseries_resample_ffill",
    # r5 additions: the 2-D grid join (oracle is the certifying all-pairs —
    # quadratic, skipped at sf1), the weight-pruned neighborhood Jaccard,
    # the shingle-sampled substring-dup signal, and the rewritten
    # single-shuffle as-of join.
    "join_asof",
    "join_spatial_grid",
    "graph_jaccard_neighbors",
    "text_substring_dup_spans",
    # r6 additions: the patch-mode merge and the single-shuffle funnel fold
    "merge_sparse_patch",
    "events_funnel_steps",
    # r6 batch 3: the bounded-iteration graph family (peel + BFS), the
    # basket pair join (cost keyed on basket size², not |parts|²), the
    # coarse-cell kNN, and the single-shuffle streak islands
    "graph_kcore_peel",
    "graph_bfs_layers",
    "orders_basket_lift",
    "spatial_knn_grid",
    "window_streak_longest",
    # r6 batch 4/5: the triangle-backed coefficient, the grid-bounded
    # density labels, the window-bounded SNM candidate generation, and the
    # doc-keyed single-shuffle hapax profile
    "graph_clustering_coefficient",
    "spatial_dbscan_core",
    "dedup_sorted_neighborhood",
    "text_hapax_ratio",
    # r6 batch 6-8: the reversed carry-forward asof, the cohort LTV
    # self-join, the per-stage latency windows, the moment-sum graph
    # statistic, the class-matrix agg chain, and the fixed-association ACF
    "join_asof_forward",
    "orders_cohort_ltv",
    "events_funnel_latency",
    "graph_assortativity",
    "orders_abc_xyz_class",
    "timeseries_acf_lags",
    # r7 additions: the recency-dedup merge, the ×28 contribution-explode
    # engagement ratio, the first-occurrence vocab curve, the event-delta
    # backlog cumsum, the per-user gap fold, and the shingle-keyed
    # cross-source overlap (the heaviest new shape — grouping by the raw
    # 5-word shingle string; see the op's shingle_key='hash' lever for the
    # xxhash64-compacted shuffle key)
    "merge_upsert_latest",
    "window_dau_mau_stickiness",
    "text_vocab_growth",
    "window_interval_stabbing",
    "events_user_cadence_cv",
    "dedup_cross_source_matrix",
    # r8 additions: the calendar-join MASE rollup, the wedge-join link
    # predictor (degree ≤ K by construction), the month-binned validity
    # join, the bit-length histogram, the custkey-partitioned tier
    # migration, the bounded-domain latency percentiles, the shingle-keyed
    # novelty join (heaviest new r8 shape — same key family as the
    # cross-source matrix), and the broadcast-mean + rank-window MAD
    "orders_seasonal_naive_mase",
    "graph_link_predict_cn",
    "join_temporal_validity",
    "pipeline_length_bucket_stats",
    "orders_cust_migration_matrix",
    "orders_fulfillment_latency",
    "text_shingle_novelty_curve",
    "timeseries_seasonal_mad_outliers",
    "spatial_density_smooth",
    "events_type_lift_matrix",
    "text_source_trigram_cosine",
    "events_pattern_match_counts",
    # r8 batch 4: the size-histogram rollup past the CC fixed point (its
    # cost is the fixed point itself — the delta vs
    # graph_connected_components IS the measurement), the partkey-join OLS
    # moments, the user-window dwell buckets, and the broadcast NAAJ
    # (no-shuffle — its flat growth column is the point)
    "graph_component_size_profile",
    "orders_discount_elasticity",
    "events_dwell_bucket_profile",
    "join_anti_null_aware",
    # r8 batch 5/6: the orderkey co-partitioned histogram join, the
    # one-shuffle session KPI chain (window + two aggs sharing
    # hash(user_id)), the two-marginal lattice join, and the weight
    # histogram riding the capped pair builder
    "orders_order_size_distribution",
    "events_session_duration_profile",
    "orders_returnflag_priority_matrix",
    "graph_edge_weight_histogram",
    # r8 batch 7-9: the two-direction count_distinct coverage (no shared
    # pairs intermediate — the recompute-vs-checkpoint trade is the scale
    # story), the bounded-domain value bands, the global-order supplier
    # Pareto, the 4-join trade lattice, the props-explode Benford screen,
    # the per-key-aggregated-first FK audit, and the sentinel-token brand
    # Jaccard (pair fan-out bounded by the catalog)
    "supplier_part_coverage_profile",
    "events_value_percentile_bands",
    "supplier_workload_skew",
    "text_char_class_profile",
    "orders_nation_trade_matrix",
    "lineitem_discount_tax_grid",
    "events_benford_digit_profile",
    "events_burstiness_fano",
    "audit_fk_orphans",
    "orders_brand_audience_jaccard",
    "customer_balance_activity_grid",
    "text_word_length_profile",
    # r8 batch 10: the windowed arg-max peak table, the weekday lattice,
    # the bounded-domain drift percentiles, and the broadcast vendor-risk
    # rollup
    "events_peak_concentration",
    "orders_weekday_value_profile",
    "text_source_length_drift",
    "supplier_nation_acctbal_profile",
    # r9 batch 1: the month×priority lag lattice, the day-grain co-presence
    # matrix, the bounded-band LTV percentiles, and the sentinel-stream
    # vocabulary overlap (token grain of the brand-Jaccard recipe)
    "orders_monthly_mix_shift",
    "events_type_cooccurrence_daily",
    "customer_nation_ltv_profile",
    "text_source_vocab_overlap",
    # r10 batch 1: the SLA band lattice, the fixed-domain entropy pivot,
    # the vocab-bounded Zipf rank grid, and the nation×month lead-time
    # lag lattice
    "orders_priority_sla_breach",
    "events_user_type_entropy",
    "text_zipf_rank_profile",
    "supplier_lead_time_trend",
    # r10 perf rewrites: the long-cents q1 and the distributed prefix-sum
    # Pareto share join the sweep so their growth shape is tracked
    "tpch_q1",
    "window_cumulative_share",
    # r11 batch 1: the all-BIGINT brand×type quartile lattice, the
    # segment×nation matrix, the fixed-point centroid spread, and the
    # (source, lang) length-ratio prior
    "part_brand_price_position",
    "customer_segment_nation_matrix",
    "embedding_label_centroid_spread",
    "text_cross_lang_length_ratio",
    # r11 perf rewrites: the ASIA-pushdown q5 and the long-cents q9_style
    # join the sweep (orders_basket_lift is already a sweep row above)
    "tpch_q5",
    "tpch_q9_style",
    # r12 batch 1: the size×type pricing lattice, the per-type quartile
    # banding, the acctbal-band × nation mix, and the quality→length curve
    "part_size_type_price_matrix",
    "events_value_type_quantile_bands",
    "supplier_balance_band_mix",
    "documents_quality_length_curve",
]

# (op, sf) pairs whose ORACLE formulation is intentionally not run: the
# certifying all-pairs SQL is quadratic and would run for hours at that SF
# (the Spark column is still measured — that asymmetry is the point).
ORACLE_SKIP = {
    ("join_spatial_grid", "1"),
    # NOTE (r6): graph_jaccard_neighbors' sf1 oracle skip is LIFTED — the
    # capped edge builder bounds the derived graph, so the DuckDB side no
    # longer spills (pre-migration it died at >70 GB of temp).
}
# sf1 is derived from sf0.1 by tools/gen_scale.py (key-offset replication —
# see its docstring); generated on demand below if absent.
SFS = ["0.001", "0.01", "0.1", "1"]
SF_DIRS = {
    "0.001": "/root/testdata/sf0.001",
    "0.01": "/root/testdata/sf0.01",
    "0.1": "/root/testdata/sf0.1",
    "1": "/tmp/sparkmerge_sf1",
}
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sparkmerge.profile import measure
    from sparkmerge.queries import registry
    from sparkmerge.session import get_spark, host_cpus, sql_confs

    # Incremental mode: `python tools/scaling_report.py op1 op2 ...`
    # measures ONLY the named ops and seeds everything else from the last
    # full sweep's per-SF checkpoint (CHECKPOINT above, written by
    # every run).  The regenerated table still covers all of OPS; rows not
    # re-measured carry the cached same-host numbers.  No-arg runs remain
    # the full from-scratch sweep.
    only = set(sys.argv[1:])
    seeded: dict[str, dict[str, tuple[float, float]]] = {}
    if only:
        import json as _json

        # a typo'd op name would otherwise be silently ignored — every row
        # would come from the checkpoint while looking freshly measured
        # (ADVICE r8); fail loudly instead
        unknown = sorted(only - set(OPS))
        if unknown:
            raise SystemExit(
                f"incremental run: unknown op name(s) {unknown}; "
                f"valid names are the {len(OPS)} entries in OPS"
            )

        path = CHECKPOINT if os.path.exists(CHECKPOINT) else "/tmp/scaling_partial.json"
        with open(path) as fh:
            seeded = {
                o: {k: tuple(v) for k, v in m.items()}
                for o, m in _json.load(fh).items()
            }
        missing = [o for o in OPS if o not in only and o not in seeded]
        if missing:
            raise SystemExit(
                f"incremental run: no cached rows for {missing}; run the full sweep"
            )

    # One session across all SFs: build with the lean profile (sf≤0.1
    # inputs) and flip the dynamic SQL confs to the scale posture for the
    # sf1 pass, mirroring how bench.py / session.py pick profiles per size.
    spark = get_spark("sparkmerge-scaling", input_bytes=17 * 1024 * 1024)
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()

    # absorb one-time session costs (JVM classloading, codegen compiler,
    # parquet reader init) BEFORE the first measured op — without this the
    # first table row reads ~10× its steady state
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode("overwrite").save()
    from sparkmerge.queries import table_path as _tp

    spark.read.parquet(_tp(SF_DIRS["0.001"], "orders")).count()

    results: dict[str, dict[str, tuple[float, float]]] = dict(seeded)
    for sf in SFS:
        sf_dir = SF_DIRS[sf]
        if not os.path.isdir(sf_dir):
            import subprocess

            subprocess.run(
                [sys.executable, os.path.join(os.path.dirname(__file__), "gen_scale.py")],
                check=True,
            )
        for k, v in sql_confs("scale" if sf == "1" else "lean").items():
            spark.conf.set(k, v)
        con = duckdb.connect()
        con.execute(f"PRAGMA threads={host_cpus()}")
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for op in OPS:
            if only and op not in only:
                continue
            spec = reg[op]
            # a warm-up of 60 s or more is the reading — the quadratic
            # all-pairs oracle formulations at sf1 would otherwise take
            # minutes × several runs each
            s = measure(
                lambda: spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            )
            if (op, sf) in ORACLE_SKIP:
                results.setdefault(op, {})[sf] = (s, float("nan"))
                print(f"{op} sf{sf}: spark {s:.3f} duck skipped", file=sys.stderr)
                continue
            try:
                d = measure(lambda: con.sql(spec.oracle).arrow())
            except Exception as e:  # disk-spill death etc: record, keep going
                print(f"{op} sf{sf}: duck ERROR {e}", file=sys.stderr)
                d = float("nan")
            results.setdefault(op, {})[sf] = (s, d)
            print(f"{op} sf{sf}: spark {s:.3f} duck {d:.3f}", file=sys.stderr)
        # checkpoint partial results per SF pass — a late crash must not
        # lose a half-hour of measurement
        import json as _json

        with open(CHECKPOINT, "w") as fh:
            _json.dump({o: {k: list(v) for k, v in m.items()} for o, m in results.items()}, fh)

    lines = [
        "# SCALING — wall-clock growth across 1000× data (generated by tools/scaling_report.py)",
        "",
        "Session pre-warmed, then one `sparkmerge.profile.measure` reading per op",
        "(a warm-up whose length picks the repeats), same materialization as",
        "bench.py.  `spark@sf / duck@sf` in seconds; `growth` is",
        "time(sf1) / time(sf0.001) — data grows 1000×, so growth ≪ 1000 means the",
        "fixed job floor dominates (disappears at scale), growth ≈ 1000 is linear",
        "work, growth ≫ 1000 is super-linear (the all-pairs oracle formulations).",
        "sf1 (~170 MiB) is derived from sf0.1 by `tools/gen_scale.py`: key-offset",
        "replication that preserves per-key cardinalities and the duplicate-cluster",
        "size distribution (see its docstring).",
        "",
        "| op | " + " | ".join(f"sf{sf}" for sf in SFS) + " | spark growth | duckdb growth |",
        "| --- | " + " | ".join("---" for _ in SFS) + " | --- | --- |",
    ]
    import math

    top = SFS[-1]
    for op in OPS:
        def cell(sf):
            sv, dv = results[op][sf]
            return f"{sv:.2f} / " + ("skip" if math.isnan(dv) else f"{dv:.2f}")

        cells = [cell(sf) for sf in SFS]
        sg = results[op][top][0] / results[op]["0.001"][0]
        dtop, d0 = results[op][top][1], results[op]["0.001"][1]
        dg = "skip" if math.isnan(dtop) else f"{dtop / d0:.1f}×"
        lines.append(
            f"| {op} | " + " | ".join(cells) + f" | {sg:.1f}× | {dg} |"
        )
    lines += [
        "",
        "Reading: every Spark column grows far slower than the 1000× data growth —",
        "the per-query cost is floor + work, and the floor amortizes away exactly",
        "as it would on a cluster.  The set-similarity ops are the designed-for",
        "case: the DuckDB all-pairs formulation grows super-linearly while the",
        "prefix-filtered Spark plan stays near-linear, crossing over well before",
        "sf0.1 — at 100 TB the quadratic formulation does not finish.",
        "`merge_broadcast_delta` tracks `merge_full` at these SFs (both floor-",
        "dominated on a ≤170 MiB table) — its scale case is structural, not a",
        "stopwatch one: no Exchange carries target rows (PLANS.md) versus the full-outer's",
        "shuffle pair, i.e. at 100 TB it moves the delta, not the table.",
        "",
    ]
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SCALING.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")


if __name__ == "__main__":
    main()
