"""r13 optimization-round regression tests: the sort-based basket build
(SortAggregate planning + conf-restore/partitioning semantics of
_sortagg_checkpoint), tpch_q5's size-gated supplier broadcast, bench's
cheapest-first sf1 ordering, the member-set ops' plans on
sparkmerge.ext.bitsets, and the single-path ops (the Generate-based edge
builder, the recall certifier) checked against a brute force or their
DuckDB oracles."""

from __future__ import annotations

from sparkmerge.queries import registry
from tests.conftest import assert_oracle_match

SF_DIR = "/root/testdata/sf0.001"


def _assert_no_object_hash_aggregate(df):
    """The member sets aggregate as declarative bit_or HashAggregates, never
    collect_set's ObjectHashAggregate."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ObjectHashAggregate" not in plan


def test_sortagg_checkpoint_plans_sort_aggregate_and_restores_confs(spark):
    """The basket build's collect_set must plan as a streaming SortAggregate
    (not ObjectHashAggregate — the r12 session-aging victim) under the flips
    _sortagg_checkpoint applies, and the flips must be construct-then-restore."""
    from pyspark.sql import functions as F

    from sparkmerge.queries import load
    from sparkmerge.queries.ext_analysis import _sortagg_checkpoint

    keys = (
        "spark.sql.adaptive.enabled",
        "spark.sql.execution.useObjectHashAggregateExec",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.useObjectHashAggregateExec", "true")
        build = (
            load(spark, SF_DIR, "lineitem")
            .select("l_orderkey", "l_partkey")
            .repartition("l_orderkey")
            .sortWithinPartitions("l_orderkey", "l_partkey")
            .groupBy("l_orderkey")
            .agg(F.sort_array(F.collect_set("l_partkey")).alias("parts"))
        )
        cp = _sortagg_checkpoint(build)
        # both flips restored after the materialization
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        assert (
            spark.conf.get("spark.sql.execution.useObjectHashAggregateExec")
            == "true"
        )
        # the checkpointed RDD records its static hash partitioning (a plain
        # localCheckpoint under AQE records UnknownPartitioning), so the
        # downstream consumers keyed on l_orderkey need no fresh exchange
        part = (
            cp._jdf.queryExecution().executedPlan().outputPartitioning().toString()
        )
        assert "hashpartitioning(l_orderkey" in part
        # and the build itself, planned under the same flips, is a streaming
        # SortAggregate — no resident per-group object hash map
        for k in keys:
            spark.conf.set(k, "false")
        build_plan = build._jdf.queryExecution().executedPlan().toString()
        assert "SortAggregate" in build_plan
        assert "ObjectHashAggregate" not in build_plan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_q5_supplier_broadcast_gate(spark, monkeypatch):
    from sparkmerge.queries import analytics

    # small corpus: gate open (hint applies, bench plan unchanged)
    assert analytics._q5_supplier_broadcastable(SF_DIR)
    # simulated 100 TB supplier: gate closed — no forced broadcast
    monkeypatch.setattr(analytics, "_Q5_SUPPLIER_BCAST_MAX_BYTES", 0)
    assert not analytics._q5_supplier_broadcastable(SF_DIR)
    fn = registry()["tpch_q5"].fn
    gate_off = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    monkeypatch.undo()
    gate_on = sorted(map(tuple, fn(spark, SF_DIR).collect()))
    # the gate changes join STRATEGY freedom only, never the result
    assert gate_on == gate_off
    assert len(gate_on) > 0


def test_q21_semi_join_below_windows(spark):
    """r13: the o_orderstatus='F' gate is a left-semi join BELOW the
    window exchange (per-order predicate over order-partitioned windows),
    and no orders join remains above the windows."""
    fn = registry()["tpch_q21_style"].fn
    plan = fn(spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()
    semi_at = plan.index("LeftSemi")
    window_at = plan.index("Window")
    # plans print top-down: the semi join appearing AFTER (deeper than)
    # the windows means it executes before them
    assert semi_at > window_at
    assert plan.count("LeftSemi") == 1


def test_sf1_leg_runs_cheapest_first():
    import bench

    assert set(bench._SF1_LAST_KNOWN_SEC) <= set(bench.HEADLINE)
    order = sorted(
        bench.HEADLINE, key=lambda op: bench._SF1_LAST_KNOWN_SEC.get(op, 0.0)
    )
    # budget exhaustion must drop the most expensive rows first — they are
    # the ones with receipts elsewhere (sf10 tail, SCALING.md)
    assert order[-1] == "dedup_minhash"
    assert order[-2] == "orders_basket_lift"


def test_cross_source_mask_and_sets_output_identical(spark):
    """The hashed shingle key gives the same counts as the raw one on this
    corpus (no xxhash64 collision); neither plan carries an
    ObjectHashAggregate.  The oracle sweep checks the raw key's output."""
    import pytest

    fn = registry()["dedup_cross_source_matrix"].fn
    raw = fn(spark, SF_DIR)
    hashed = fn(spark, SF_DIR, shingle_key="hash")
    assert sorted(tuple(r) for r in hashed.collect()) == sorted(
        tuple(r) for r in raw.collect()
    )
    _assert_no_object_hash_aggregate(raw)
    _assert_no_object_hash_aggregate(hashed)
    with pytest.raises(ValueError):
        fn(spark, SF_DIR, shingle_key="nope")


def test_brand_audience_auto_gate_and_path_identity(spark):
    """One plan at every scale: the bitset brand-set build carries no
    ObjectHashAggregate (the oracle sweep checks its output)."""
    _assert_no_object_hash_aggregate(
        registry()["orders_brand_audience_jaccard"].fn(spark, SF_DIR)
    )


def test_edges_pairgen_arrays_and_join_identical(spark):
    """The Generate-based per-bucket pair expansion (the one pair path)
    gives exactly the brute-force weighted edge multiset at both the family
    cap and the tight cap."""
    from sparkmerge.queries.ext_graph import _BUCKET_CAP, _TIGHT_CAP, _edges
    from tests.test_graph_ext import _brute_edges

    for cap in (_BUCKET_CAP, _TIGHT_CAP):
        got = {(r["u"], r["v"]): r["w"] for r in _edges(spark, SF_DIR, cap=cap).collect()}
        assert got == dict(_brute_edges(spark, cap=cap))
        assert len(got) > 0


def test_events_type_cooccurrence_auto_gate_and_path_identity(spark):
    """One plan at every scale: neither type-co-occurrence op carries an
    ObjectHashAggregate (the oracle sweep checks their output)."""
    for op in ("events_type_lift_matrix", "events_type_cooccurrence_daily"):
        _assert_no_object_hash_aggregate(registry()[op].fn(spark, SF_DIR))


def test_triangle_adjacency_generate_replaces_src_join(spark):
    """r13 session-3: the triangle kernel regenerates the oriented edge
    list map-side from the adjacency arrays (Generate), so the final plan
    carries exactly ONE adjacency join (the dstn re-key) — the r6-r12
    src-side shuffle join is gone — and the counts still match the naive
    per-node triangle enumeration on a small corpus."""
    import re

    from pyspark.sql import functions as F

    from sparkmerge.queries.ext_graph import (
        _TRI_MIN_W, _edges, _triangle_participation,
    )

    edges = (
        _edges(spark, SF_DIR).filter(F.col("w") >= _TRI_MIN_W).select("u", "v")
    )
    tri = _triangle_participation(edges)
    plan = tri._sc._jvm.PythonSQLUtils.explainString(
        tri._jdf.queryExecution(), "formatted"
    )
    joins = re.findall(r"\) (?:SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)", plan)
    assert len(joins) == 1, plan
    # ground truth: brute-force id-ordered triangle enumeration
    e = [(r["u"], r["v"]) for r in edges.collect()]
    es = set(e)
    from collections import Counter

    truth = Counter()
    nbrs = {}
    for u, v in e:
        nbrs.setdefault(u, set()).add(v)
    for u, v in e:
        for w in nbrs.get(u, set()) & nbrs.get(v, set()):
            truth[u] += 1
            truth[v] += 1
            truth[w] += 1
    got = {r["user_id"]: r["n_triangles"] for r in tri.collect()}
    assert got == dict(truth)


def test_vocab_overlap_mask_and_sets_output_identical(spark):
    """The bitset per-token source-set aggregation carries no
    ObjectHashAggregate (the oracle sweep checks its output)."""
    _assert_no_object_hash_aggregate(
        registry()["text_source_vocab_overlap"].fn(spark, SF_DIR)
    )


def test_pagerank_checkpoint_partitioning_and_single_lineage(spark):
    """r13 session-4: the degree-annotated adjacency checkpoint must record
    its hashpartitioning(src) (taken via _partitioned_checkpoint with AQE
    off — under AQE it recorded UnknownPartitioning and every iteration
    re-shuffled the full edge set), the initial ranks must derive from the
    checkpointed relation (no second run of the _edges lineage: zero
    parquet scans in the final plan), and only the per-iteration
    groupBy(dst) exchanges may remain."""
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        df = registry()["graph_pagerank_fixedpoint"].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        assert "UnknownPartitioning" not in plan
        assert "hashpartitioning(src" in plan  # the recorded checkpoint layout
        assert "Scan parquet" not in plan  # lineage fully truncated
        import re

        n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
        assert n_exchange == 3, plan  # one groupBy(dst) per iteration only
        # conf untouched by construction (the flip is inside the checkpoint)
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)


def test_dedup_survivors_covers_deep_chains(spark):
    """r13 session-5: the sf10 minhash pair graph carries a near-dup chain
    of min-label eccentricity 17 (18 propagation rounds), so
    dedup_cluster_survivors' old max_iters=8 RAISED at sf10.  The consumer
    now passes 32; this pins the failure mode at library level — a 25-deep
    chain must raise under the old budget and resolve to the single min
    survivor under the new one (the loop exits on the label-sum fixed
    point, so converged corpora pay nothing for the larger bound)."""
    import pytest as _pytest

    from sparkmerge.ext.dedup import dedup_survivors

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(100, 125)], "a_id int, b_id int"
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup_survivors(chain, max_iters=8).collect()
    rows = dedup_survivors(chain, max_iters=32).collect()
    assert {r["survivor_id"] for r in rows} == {100}
    assert {r["doc_id"] for r in rows} == set(range(101, 126))


def test_recall_eval_certifiers_output_identical(spark):
    """The inverted-index intersection-count certifier (the op's one
    certifier) matches the DuckDB oracle, whose truth set is the
    brute-force array_intersect formulation, at sf0.001 and sf0.01."""
    for sf in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        assert len(assert_oracle_match(spark, "dedup_lsh_recall_eval", sf)) == 1
