"""Plan auditor — renders PLANS.md: the physical-plan quality evidence for
every headline op (SURVEY.md §4 'iterate until it's the plan you'd want').

For each op it runs `.explain("formatted")` and extracts the signals that
matter at 100 TB:
- #Exchange (shuffles) and #BroadcastExchange (broadcast joins) — fewer
  shuffles / more broadcasts on dimension joins is the goal;
- PushedFilters reaching the parquet scans (predicate pushdown);
- ReadSchema widths (column pruning: scan only what the query projects);
- WholeStageCodegen coverage (JVM-side execution, no Python in the hot path).

Usage: PYTHONPATH=/root/repo python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import re
import sys

# Headline ops keep their historical ordering at the top of the table so
# round-over-round diffs of PLANS.md stay readable; every other registry op
# is appended automatically in main() — the audit covers the FULL registry.
OPS = [
    "merge_full",
    "softdelete_unmatched",
    "badkey_rank",
    "output_audit",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "tpch_q6",
    "tpch_q10",
    "tpch_q14",
    "tpch_q18",
    "tpch_q4_style",
    "dedup_exact",
    "dedup_minhash",
    "join_asof",
    "join_range_binned",
    "join_salted_skew",
    "join_bucketed_colocated",
    "topk_similarity",
    "ann_ivf",
    "text_stats",
    "text_fingerprint",
    "pipeline_training_mix",
    "sample_stratified",
    "json_extract_props",
    "window_tumbling",
    "window_session",
    "tpch_q2_style",
    "tpch_q9_style",
    "tpch_q17_style",
    "tpch_q21_style",
    "text_repetition",
    "text_pii_scrub",
    "pipeline_sequence_pack",
    "pipeline_quality_filter",
    "dedup_incremental",
    "pipeline_dataset_card",
    "merge_scd2",
    "text_decontaminate",
    "pipeline_domain_mix",
    "window_retention_cohort",
    "agg_outlier_rank",
    "embedding_quantize",
    "agg_mode",
    "dedup_containment",
    "join_asof_tolerance",
    "json_parse_quarantine",
    "pivot_unpivot",
    "join_fuzzy_name",
    "fn_try_cast_ops",
    "merge_scd2_multibatch",
    "pipeline_shard_shuffle",
    "agg_skew_profile",
    "ann_pq",
    "bitext_margin_mine",
    "text_bm25_topk",
    "bpe_pair_counts",
    "events_transition_counts",
    "join_bloom_prefilter",
    "text_line_dedup",
    "pipeline_chunk_split",
    "pipeline_repeat_upsample",
    "pipeline_curriculum_order",
    "agg_reservoir_sample",
    "text_markup_strip",
    "ann_range_search",
    "agg_corr_pairs",
    "text_keyword_tfidf",
    "events_anomaly_mad",
    "text_boilerplate_frac",
    "retrieval_rrf_fusion",
    "agg_token_gini",
    "pipeline_dataset_diff",
    "events_top_paths",
    "text_cooccurrence_window",
    "graph_cooccurrence_edges",
    "graph_degree_profile",
    "graph_triangle_count",
    "graph_pagerank_fixedpoint",
    "timeseries_resample_ffill",
    "events_gap_islands",
    "events_ewma_lagchain",
    "feature_hash_bucket",
    "tokenizer_vocab_coverage",
    "embedding_normalize_project",
    "text_syllable_profile",
    "pipeline_interleave_sources",
    "agg_kmv_distinct",
    "embedding_kmeans_fixedpoint",
    "join_hybrid_skew",
    "window_ntile_buckets",
    "events_attribution_lasttouch",
    "timeseries_interpolate_linear",
    "dedup_soft_weights",
    "agg_bitmap_distinct",
    "join_point_in_time",
    "scan_schema_merge",
    "stream_hll_rollup",
]


def formatted_explain(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def audit(text: str) -> dict:
    tree = text.split("\n\n", 1)[0]
    # \bExchange\b already excludes BroadcastExchange/ReusedExchange (no word
    # boundary inside those tokens) — subtracting the broadcast count again,
    # as earlier rounds did, undercounted shuffles on broadcast-bearing plans.
    shuffles = len(re.findall(r"\bExchange\b", tree))
    return {
        "shuffles": shuffles,
        "broadcasts": len(re.findall(r"BroadcastExchange", tree)),
        "scans": len(re.findall(r"Scan parquet", tree)),
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", text))),
        "pushed": re.findall(r"PushedFilters: \[([^\]]*)\]", text),
        "read_schemas": re.findall(r"ReadSchema: struct<([^>]*)>", text),
        "python_nodes": len(re.findall(r"(BatchEvalPython|ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)", text)),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from sparkmerge.queries import registry
    from sparkmerge.session import get_spark

    spark = get_spark("plan-report", input_bytes=100)
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    # sort the non-curated tail by op_id, so a PLANS.md re-cut keeps its rows
    # in place whichever module an op is registered from
    ops = OPS + sorted(op for op in reg if op not in set(OPS))

    lines = [
        "# PLANS — physical-plan audit of EVERY registry operator",
        "",
        f"Generated by `tools/plan_report.py` at `{sf_dir}` (plan SHAPE is scale-",
        "independent; only AQE runtime coalescing differs on a cluster).",
        "",
        "Signals per op: shuffle exchanges (the scale cost), broadcast joins,",
        "parquet scans with pushed filters + pruned read schemas, whole-stage-",
        "codegen spans, and Python-eval nodes.  Python nodes are 0 everywhere",
        "except the four multimodal decode ops, whose Arrow-batched",
        "`mapInPandas` IS the operator (codec plumbing) — no other op runs",
        "Python in a hot path.",
        "",
        "Ops that execute eagerly and return a materialized summary (snapshot",
        "lifecycle, streaming micro-batch readbacks, sink round-trips) appear",
        "in the second table: their final frame is a LocalTableScan/small",
        "rescan by construction, and the dataflow that did the work is the",
        "engine path audited in the first table (e.g. `table_time_travel` and",
        "`txn_commit_rollback` run the `merge_full` plan; `stream_*` ops run",
        "the batch-twin plans through foreachBatch).",
        "",
        "| op | shuffles | broadcasts | scans | codegen spans | python nodes |",
        "| --- | --- | --- | --- | --- | --- |",
    ]
    details = []
    eager_rows = []
    for op in ops:
        try:
            df = reg[op].fn(spark, sf_dir)
            text = formatted_explain(df)
        except Exception as e:  # an op that cannot even plan is a real bug
            print(f"{op}: EXPLAIN FAILED: {e}", flush=True)
            raise
        a = audit(text)
        row = (
            f"| `{op}` | {a['shuffles']} | {a['broadcasts']} | {a['scans']} "
            f"| {a['codegen_spans']} | {a['python_nodes']} |"
        )
        # "materialized" = the returned frame reads no file: either an eager
        # engine execution whose summary was collected and re-parallelized
        # (LocalTableScan / Scan ExistingRDD leaves), or a driver-built
        # fixture.  Pure spark.range generators keep their (real) dataflow
        # plans in the main table.
        materialized = a["scans"] == 0 and (
            "LocalTableScan" in text or "Scan ExistingRDD" in text
        )
        if materialized:
            eager_rows.append(f"| `{op}` | {a['shuffles']} | {a['python_nodes']} |")
        else:
            lines.append(row)
            pushed = [p for p in a["pushed"] if p.strip()]
            schemas = [s[:100] + ("…" if len(s) > 100 else "") for s in a["read_schemas"]]
            details.append(
                f"### `{op}`\n\n"
                + (f"- pushed filters: {'; '.join('`' + p + '`' for p in pushed)}\n" if pushed else "- pushed filters: (none — full scan by design)\n")
                + "".join(f"- read schema: `{s}`\n" for s in schemas)
            )
        print(f"{op}: shuffles={a['shuffles']} broadcasts={a['broadcasts']} "
              f"codegen={a['codegen_spans']} python={a['python_nodes']}"
              + (" [materialized]" if materialized else ""), flush=True)

    lines += [
        "",
        "## Materialized-input ops (no parquet scan in the returned frame)",
        "",
        "Three shapes land here, all by construction: eager engine",
        "executions whose summary was collected and re-parallelized",
        "(lifecycle/time-travel/debug ops — their distributed dataflows are",
        "the engine paths audited above), streaming ops returning a",
        "micro-batch sink readback, and iterative ops whose final frame",
        "reads a localCheckpoint (lineage truncation makes the checkpointed",
        "RDD the leaf; the per-round joins/aggregations executed as audited",
        "distributed plans).",
        "",
        "| op | residual shuffles | python nodes |",
        "| --- | --- | --- |",
    ] + eager_rows
    lines += ["", "## Per-op scan details", ""] + details
    with open("/root/repo/PLANS.md", "w", encoding="utf-8") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote /root/repo/PLANS.md ({len(ops)} ops, {len(eager_rows)} materialized)")


if __name__ == "__main__":
    main()
