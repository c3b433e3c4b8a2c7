"""Golden merge scenarios (SURVEY.md §5.2) — one hand-built micro-fixture per
reference edge case (FIXTURES.md §D)."""

from __future__ import annotations

import datetime
from decimal import Decimal

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from sparkmerge import (
    MergeThresholdExceeded,
    MergeValidationError,
    SnapshotTable,
    build_changeset,
    simple_merge,
)


def counts(cs):
    return cs.action_counts()


def test_nullable_key_matches(spark):
    """NULL=NULL matches in the key (sp_SimpleMerge.sql:258-263, README.md:20-21)."""
    schema = "k int, k2 string, v1 string, v2 double"
    t = spark.createDataFrame([(1, None, "a", 1.0)], schema)
    s = spark.createDataFrame([(1, None, "a2", 1.0)], schema)
    cs = build_changeset(t, s, "k, k2")
    assert counts(cs) == {"UPDATE": 1}


def test_null_safe_change_detection(spark):
    """NULL→NULL is KEEP (not UPDATE); NULL→'x' is UPDATE (sp_SimpleMerge.sql:277-297)."""
    schema = "k int, v1 string, v2 double"
    t = spark.createDataFrame([(1, None, 1.0), (2, None, 2.0)], schema)
    s = spark.createDataFrame([(1, None, 1.0), (2, "x", 2.0)], schema)
    cs = build_changeset(t, s, "k")
    got = {r["k"]: r["_action"] for r in cs.df.collect()}
    assert got == {1: "KEEP", 2: "UPDATE"}


def test_all_columns_in_key_suppresses_update(spark):
    """No UPDATE action possible when every source column is a key (README.md:18-19)."""
    t = spark.createDataFrame([Row(k=1, k2="a"), Row(k=2, k2="b")])
    s = spark.createDataFrame([Row(k=1, k2="a"), Row(k=3, k2="c")])
    cs = build_changeset(t, s, "k, k2")
    assert counts(cs) == {"KEEP": 1, "DELETE": 1, "INSERT": 1}
    assert cs.plan.update_suppressed


def test_badkey_swapped_values_converge(spark):
    """Duplicate keys with swapped values merge; final multiset equals source
    (README.md:22-23: equal-key rows 'may swap places')."""
    t = spark.createDataFrame([Row(k=1, v="x"), Row(k=1, v="y")])
    s = spark.createDataFrame([Row(k=1, v="y"), Row(k=1, v="x")])
    cs = build_changeset(t, s, "k", bad_key=True)
    final = cs.apply_changes()
    assert sorted((r.k, r.v) for r in final.collect()) == [(1, "x"), (1, "y")]


def test_badkey_unequal_cardinality(spark):
    """More dups on one side: extras insert/delete (generated rn join)."""
    t = spark.createDataFrame([Row(k=1, v="a")])
    s = spark.createDataFrame([Row(k=1, v="a"), Row(k=1, v="b")])
    cs = build_changeset(t, s, "k", bad_key=True, bad_key_order=["v"])
    assert counts(cs) == {"KEEP": 1, "INSERT": 1}


def test_delete_modes(spark):
    """delete='YES' | 'set ...' | other (sp_SimpleMerge.sql:339-346)."""
    t = spark.createDataFrame([Row(k=1, v="a", dead=False), Row(k=2, v="b", dead=False)])
    s = spark.createDataFrame([Row(k=1, v="a", dead=False)])

    hard = build_changeset(t, s, "k", delete="YES")
    assert counts(hard) == {"KEEP": 1, "DELETE": 1}
    assert hard.apply_changes().count() == 1

    soft = build_changeset(t, s, "k", delete="set dead = true")
    rows = {r.k: r.dead for r in soft.apply_changes().collect()}
    assert rows == {1: False, 2: True}

    keep = build_changeset(t, s, "k", delete="NO")
    rows = {r.k: r.dead for r in keep.apply_changes().collect()}
    assert rows == {1: False, 2: False}


def test_soft_delete_expression_over_target_row(spark):
    """SET expr may reference target columns (evaluated on the old row)."""
    t = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    s = spark.createDataFrame([Row(k=1, v="a")])
    cs = build_changeset(t, s, "k", delete="set v = concat(v, '_gone')")
    rows = {r.k: r.v for r in cs.apply_changes().collect()}
    assert rows == {1: "a", 2: "b_gone"}


def test_target_filter_null_predicate_immune(spark, tmp_table_dir):
    """Filter-NULL rows are out of scope and immune (SURVEY.md §7.4)."""
    t = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 1), (3, "c", None)], "k int, v string, f int"
    )
    tbl = SnapshotTable.create(spark, tmp_table_dir, t)
    src = spark.createDataFrame([], "k bigint, v string, f int")
    simple_merge(spark, tbl, src, "k", target_filter="f >= 5")
    left = sorted(r.k for r in tbl.read(spark).collect())
    assert left == [2, 3]  # k=1 (in scope) deleted; false + NULL rows immune


def test_threshold_abort_and_empty_target_bypass(spark, tmp_path):
    t = spark.createDataFrame([Row(k=i, v=str(i)) for i in range(10)])
    tbl = SnapshotTable.create(spark, str(tmp_path / "a"), t)
    src = spark.createDataFrame([Row(k=1, v="CHANGED")] + [Row(k=i, v=str(i)) for i in range(2, 10)])
    # 2 changes / 10 rows = 20% > 15% → abort
    with pytest.raises(MergeThresholdExceeded):
        simple_merge(spark, tbl, src, "k", threshold="15%")
    assert tbl.current_version() == 1
    assert tbl.read(spark).count() == 10
    # within threshold commits
    res = simple_merge(spark, tbl, src, "k", threshold="25%")
    assert res.committed and res.changed_rows == 2
    # empty target bypasses the guard entirely (sp_SimpleMerge.sql:476)
    empty = SnapshotTable.create(
        spark, str(tmp_path / "b"), spark.createDataFrame([], "k bigint, v string")
    )
    res2 = simple_merge(spark, empty, src, "k", threshold="1%")
    assert res2.committed and res2.target_rows_before == 0


def test_audit_record_shape(spark, tmp_path):
    """Audit carries actionTime, action, key, d_*/i_* including target-only
    columns (sp_SimpleMerge.sql:350-410, :367-368)."""
    t = spark.createDataFrame([Row(k=1, v="a", extra="t-only"), Row(k=2, v="b", extra="x")])
    s = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")])
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), t)
    audit_path = str(tmp_path / "audit")
    simple_merge(spark, tbl, s, "k", audit_path=audit_path)
    audit = spark.read.parquet(audit_path)
    assert set(audit.columns) == {"actionTime", "action", "k", "d_v", "d_extra", "i_v", "i_extra"}
    by_action = {r["action"]: r for r in audit.collect()}
    assert set(by_action) == {"INSERT", "UPDATE", "DELETE"}
    assert by_action["UPDATE"]["d_v"] == "b" and by_action["UPDATE"]["i_v"] == "B"
    # target-only column appears in both images; insert's d_* is NULL
    assert by_action["UPDATE"]["d_extra"] == "x" and by_action["UPDATE"]["i_extra"] == "x"
    assert by_action["INSERT"]["d_v"] is None and by_action["INSERT"]["i_v"] == "c"
    assert by_action["DELETE"]["i_v"] is None


def test_audit_default_name(spark, tmp_path):
    """audit=True without audit_path writes to the reference's default name
    ``<target>_SimpleMergeOutput`` (isnull(@output, @target +
    '_SimpleMergeOutput'), sp_SimpleMerge.sql:432)."""
    import os

    from sparkmerge.merge import default_audit_path

    t = spark.createDataFrame([Row(k=1, v="a"), Row(k=2, v="b")])
    s = spark.createDataFrame([Row(k=2, v="B"), Row(k=3, v="c")])
    tbl = SnapshotTable.create(spark, str(tmp_path / "t"), t)
    res = simple_merge(spark, tbl, s, "k", audit=True)
    expected = str(tmp_path / "t_SimpleMergeOutput")
    assert default_audit_path(tbl) == expected
    assert os.path.isdir(expected)
    audit = spark.read.parquet(expected)
    assert audit.count() == res.audit_rows == 3
    # explicit audit_path still wins over the default
    other = str(tmp_path / "elsewhere")
    tbl2 = SnapshotTable.create(spark, str(tmp_path / "t2"), t)
    simple_merge(spark, tbl2, s, "k", audit=True, audit_path=other)
    assert os.path.isdir(other) and not os.path.isdir(str(tmp_path / "t2_SimpleMergeOutput"))


def test_source_subset_of_target_preserves_extras(spark, tmp_table_dir):
    """Source may omit target columns; updates leave them untouched, inserts
    NULL-fill them (sp_SimpleMerge.sql:200-201,:303-305,:323)."""
    t = spark.createDataFrame([Row(k=1, v="a", extra="keepme")])
    s = spark.createDataFrame([Row(k=1, v="A"), Row(k=2, v="b")])
    tbl = SnapshotTable.create(spark, tmp_table_dir, t)
    simple_merge(spark, tbl, s, "k")
    rows = {r.k: (r.v, r.extra) for r in tbl.read(spark).collect()}
    assert rows == {1: ("A", "keepme"), 2: ("b", None)}


def test_validation_errors(spark):
    t = spark.createDataFrame([], "k bigint, v string")
    with pytest.raises(MergeValidationError):
        build_changeset(t, spark.createDataFrame([], "x bigint, v string"), "k")
    with pytest.raises(MergeValidationError):
        build_changeset(t, spark.createDataFrame([], "k bigint, v string, z int"), "k")
    with pytest.raises(MergeValidationError):
        build_changeset(t, spark.createDataFrame([], "k bigint, v string"), " , ")


def test_debug_report_no_side_effects(spark, tmp_table_dir):
    t = spark.createDataFrame([Row(k=1, v="a")])
    tbl = SnapshotTable.create(spark, tmp_table_dir, t)
    rep = simple_merge(spark, tbl, t, "k", debug=True, threshold="15%")
    assert "MERGE INTO" in rep.merge_sql and "WHEN NOT MATCHED" in rep.merge_sql
    assert rep.target_rows == 1 and rep.threshold == 15.0
    assert "d_v" in rep.audit_ddl
    assert tbl.current_version() == 1 and tbl.properties() == {}


def test_audit_replay_reconstructs_target(spark, tmp_path):
    """The audit stream is COMPLETE: applying the CDC records (key + d_*/i_*
    images) to the pre-merge snapshot reproduces the post-merge snapshot
    exactly — so downstream consumers of the audit sink can maintain an
    exact replica without ever reading the table (the point of OUTPUT INTO,
    sp_SimpleMerge.sql:350-410)."""
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").limit(800)
    table = SnapshotTable.create(spark, str(tmp_path / "t"), orders)
    v1 = table.read(spark)

    upd = F.col("o_orderkey") % 3 == 0
    src = orders.where(F.col("o_orderkey") % 7 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.when(upd, F.col("o_orderkey").cast("double")).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderdate", "o_orderpriority",
    )
    audit_path = str(tmp_path / "audit")
    simple_merge(spark, table, src, "o_orderkey", audit_path=audit_path)
    v2 = table.read(spark)

    audit = spark.read.parquet(audit_path)
    nonkey = [c for c in orders.columns if c != "o_orderkey"]

    # replay: DELETE keys vanish; INSERT/UPDATE keys take their i_* images;
    # untouched rows carry over from v1
    deletes = audit.filter(F.col("action") == "DELETE").select("o_orderkey")
    upserts = audit.filter(F.col("action") != "DELETE").select(
        "o_orderkey", *[F.col(f"i_{c}").alias(c) for c in nonkey]
    )
    touched = audit.select("o_orderkey")
    replica = (
        v1.join(touched, "o_orderkey", "left_anti")
        .unionByName(upserts.select(v1.columns))
    )
    _ = deletes  # deletes are implied by membership in `touched` minus upserts
    assert replica.exceptAll(v2).count() == 0 and v2.exceptAll(replica).count() == 0


def test_hundred_column_key_capacity(spark):
    """The reference supports keys of up to 100 columns (sp_SimpleMerge.sql:12);
    the changeset build must handle that width (and target-extras beyond it)."""
    n_keys = 100
    key_cols = [f"k{i:03d}" for i in range(n_keys)]
    schema = ", ".join(f"{k} int" for k in key_cols) + ", v string"
    row_a = tuple(range(n_keys)) + ("a",)
    row_b = tuple(range(1, n_keys + 1)) + ("b",)
    t = spark.createDataFrame([row_a, row_b], schema)
    s = spark.createDataFrame(
        [row_a[:-1] + ("a2",), tuple(range(2, n_keys + 2)) + ("new",)], schema
    )
    cs = build_changeset(t, s, key_cols)
    assert cs.action_counts() == {"UPDATE": 1, "DELETE": 1, "INSERT": 1}


def test_skewed_key_badkey_merge_converges(spark):
    """90%-hot-key skew through the badKey window + full-outer join: the
    machinery AQE skew-splitting protects at scale must stay CORRECT under
    heavy skew locally (18k rows in one key group)."""
    n = 20_000
    skew = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("v"),
    )
    cs = build_changeset(skew, skew, "k", bad_key=True, bad_key_order=["v"])
    assert cs.action_counts() == {"KEEP": n}
    # and a mutation of one hot-key row surfaces as exactly one UPDATE
    src = skew.withColumn(
        "v", F.when(F.col("v") == 11, F.lit(-1)).otherwise(F.col("v"))
    )
    cs2 = build_changeset(skew, src, "k", bad_key=True, bad_key_order=["v"])
    acts = cs2.action_counts()
    # deterministic rank pairs rows by v-order; moving one v from sort
    # position 11 to 1 displaces the rows in between, so the diff is a
    # bounded run of UPDATEs (≤ the rank displacement) — and cardinalities
    # are equal, so never an INSERT or DELETE
    assert "DELETE" not in acts and "INSERT" not in acts
    assert acts.get("UPDATE", 0) <= 12
    assert acts.get("KEEP", 0) >= n - 12


def test_badkey_on_real_corpus_duplicates(spark, tmp_path):
    """The driver corpus's lineitem 'natural key' (l_orderkey, l_linenumber)
    is genuinely non-unique (~23% duplicate keys at every SF) — the exact
    situation @badKey=1 exists for (sp_SimpleMerge.sql:209-241).  A badKey
    merge over the real table must converge; without badKey the duplicate
    keys would cross-multiply in the join (by MERGE semantics, both here and
    in the reference)."""
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    assert li.count() > li.select("l_orderkey", "l_linenumber").distinct().count()
    table = SnapshotTable.create(spark, str(tmp_path / "t"), li)
    src = li.withColumn(
        "l_quantity",
        F.when(F.col("l_partkey") % 5 == 0, F.col("l_quantity") + 1.0).otherwise(
            F.col("l_quantity")
        ),
    )
    res = simple_merge(
        spark, table, src, ["l_orderkey", "l_linenumber"],
        bad_key=True, bad_key_order=li.columns,
    )
    final = table.read(spark)
    assert final.exceptAll(src).count() == 0 and src.exceptAll(final).count() == 0
    assert res.changed_rows > 0


class TestBroadcastStrategy:
    """strategy='broadcast' must produce the IDENTICAL changeset to the
    default shuffle full-outer — same rows, same actions, same images —
    while no shuffle Exchange in its physical plan carries target rows (the
    only Exchange moves the delta-sized matched-key set; see the plan-shape
    assertions below)."""

    def _assert_equivalent(self, t, s, keys, **kw):
        from tests.conftest import changeset_flat

        a = build_changeset(t, s, keys, strategy="shuffle", **kw).df
        b = build_changeset(t, s, keys, strategy="broadcast", **kw).df
        assert changeset_flat(a) == changeset_flat(b)

    def test_equivalence_all_delete_modes(self, spark):
        schema = "k int, v1 string, v2 double"
        t = spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0), (3, None, 3.0), (4, "d", 4.0)], schema
        )
        s = spark.createDataFrame(
            [(1, "a", 1.0), (2, "B", 2.0), (5, "e", 5.0), (3, None, 3.0)], schema
        )
        for delete in ("YES", "NO", "set v1 = 'gone'"):
            self._assert_equivalent(t, s, "k", delete=delete)

    def test_equivalence_null_keys_and_dup_source(self, spark):
        schema = "k int, k2 string, v double"
        t = spark.createDataFrame([(1, None, 1.0), (2, "x", 2.0)], schema)
        s = spark.createDataFrame(
            [(1, None, 9.0), (3, "y", 3.0), (3, "y", 3.5)], schema
        )
        self._assert_equivalent(t, s, "k, k2")

    def test_equivalence_duplicate_key_target(self, spark):
        """The distinct() OOM-guard (changeset.py broadcast branch): a
        duplicate-key TARGET must (a) produce the shuffle-identical
        changeset — every dup row classified — and (b) broadcast one row
        per DISTINCT matched key, not one per matched target row."""
        schema = "k int, v1 string, v2 double"
        t = spark.createDataFrame(
            [(1, "a", 1.0), (1, "a2", 1.5), (1, "a3", 1.75), (2, "b", 2.0),
             (2, "b2", 2.5), (3, "c", 3.0), (None, "n", 0.0), (None, "n2", 0.5)],
            schema,
        )
        s = spark.createDataFrame(
            [(1, "A", 9.0), (2, "b", 2.0), (5, "e", 5.0), (None, "N", 9.9)], schema
        )
        for delete in ("YES", "NO", "set v1 = 'gone'"):
            self._assert_equivalent(t, s, "k", delete=delete)
        # (b): the matched-key set is bounded by distinct matched keys (3:
        # k=1, k=2, k=NULL — null-safe match), not the 7 matched target rows
        cs = build_changeset(t, s, "k", strategy="broadcast")
        plan = cs.df._jdf.queryExecution().optimizedPlan().toString()
        assert "Deduplicate" in plan or "Aggregate" in plan, plan
        matched_dups = cs.df.filter("_action = 'UPDATE'").count()
        assert matched_dups == 6  # 3+2+2 dup rows minus the unchanged (2,b)

    def test_auto_picks_broadcast_for_tiny_source(self, spark, tmp_path):
        # 'auto' keys off Catalyst's size estimate, which is only meaningful
        # for file-backed relations (createDataFrame RDD scans report the
        # conservative default and correctly fall back to shuffle).
        spark.createDataFrame(
            [(i, float(i)) for i in range(100)], "k int, v double"
        ).write.parquet(str(tmp_path / "t"))
        spark.createDataFrame(
            [(1, 10.0), (200, 1.0)], "k int, v double"
        ).write.parquet(str(tmp_path / "s"))
        t = spark.read.parquet(str(tmp_path / "t"))
        s = spark.read.parquet(str(tmp_path / "s"))
        cs = build_changeset(t, s, "k", strategy="auto")
        plan = cs.df._jdf.queryExecution().executedPlan().toString()
        # the ONLY shuffle is the matched-key distinct — key columns only,
        # delta-sized; no Exchange ever carries a table row (v column)
        ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        assert ex and all("v#" not in l for l in ex)
        got = {r["k"]: r["_action"] for r in cs.df.filter("_action <> 'KEEP'").collect()}
        assert got[1] == "UPDATE" and got[200] == "INSERT"
        # DELETE classification also present under broadcast decomposition
        assert cs.df.filter("_action = 'DELETE'").count() == 99

    def test_broadcast_plan_has_zero_shuffles(self, spark):
        from sparkmerge.queries import registry

        df = registry()["merge_broadcast_delta"].fn(spark, "/root/testdata/sf0.001")
        plan = df._jdf.queryExecution().executedPlan().toString()
        # one key-only Exchange (the matched-key distinct); no table column
        # (o_custkey/o_totalprice/...) rides any shuffle
        ex = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
        assert ex
        for l in ex:
            assert "o_orderkey" in l and "o_totalprice" not in l and "o_custkey" not in l
        assert "BroadcastExchange" in plan

    def test_badkey_rejects_broadcast(self, spark):
        t = spark.createDataFrame([Row(k=1, v="x")])
        s = spark.createDataFrame([Row(k=1, v="y")])
        with pytest.raises(MergeValidationError):
            build_changeset(t, s, "k", bad_key=True, strategy="broadcast")

    def test_auto_falls_back_to_shuffle_for_big_source(self, spark, tmp_path):
        spark.createDataFrame(
            [(i, float(i)) for i in range(5000)], "k int, v double"
        ).write.parquet(str(tmp_path / "t"))
        t = spark.read.parquet(str(tmp_path / "t"))
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
            cs = build_changeset(t, t, "k", strategy="auto")
            plan = cs.df._jdf.queryExecution().executedPlan().toString()
            assert "FullOuter" in plan  # fell back to the shuffle full-outer
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    def test_broadcast_with_schema_evolution(self, spark):
        """Evolution widens the target with typed NULLs; the broadcast
        decomposition must union those against real source values without
        type or column-order drift, matching the shuffle path exactly."""
        from sparkmerge.merge import merge_preview

        t = spark.createDataFrame([(1, "a"), (2, "b")], "k int, v string")
        s = spark.createDataFrame(
            [(2, "B", 9.5), (3, "c", 1.5)], "k int, v string, score double"
        )
        a = merge_preview(t, s, "k", delete="NO", schema_evolution=True,
                          strategy="shuffle")
        b = merge_preview(t, s, "k", delete="NO", schema_evolution=True,
                          strategy="broadcast")
        assert a.schema == b.schema
        assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
        rows = {r["k"]: (r["v"], r["score"]) for r in b.collect()}
        assert rows == {1: ("a", None), 2: ("B", 9.5), 3: ("c", 1.5)}

    def test_broadcast_with_target_filter_and_audit(self, spark, tmp_path):
        """Filter-scoped merge + CDC audit through SnapshotTable under the
        broadcast strategy: out-of-scope rows immune, audit row set equal to
        the shuffle strategy's (timestamps excluded)."""
        rows = [(i, "keep" if i % 2 else "flip", i * 1.0) for i in range(1, 9)]
        t = spark.createDataFrame(rows, "k int, v string, f double")
        s = spark.createDataFrame(
            [(2, "FLIPPED", 2.0), (99, "new", 0.5)], "k int, v string, f double"
        )
        results = {}
        for strat in ("shuffle", "broadcast"):
            tbl = SnapshotTable.create(spark, str(tmp_path / strat), t)
            res = simple_merge(
                spark, tbl, s, "k",
                delete="NO", target_filter="f <= 4.0",
                audit_path=str(tmp_path / f"audit_{strat}"), strategy=strat,
            )
            audit = spark.read.parquet(str(tmp_path / f"audit_{strat}")).drop("actionTime")
            results[strat] = (
                sorted(map(tuple, tbl.read(spark).collect())),
                sorted(map(tuple, audit.collect())),
                res.changed_rows,
            )
        assert results["shuffle"] == results["broadcast"]
        final, audit_rows, changed = results["broadcast"]
        assert changed == 2  # one UPDATE in scope + one INSERT
        assert (6, "flip", 6.0) in final  # out-of-scope row untouched


# A mixed-type row of 16 columns: the images are built per action as whole
# rows, so every action's branch is checked field by field against a
# pure-Python expectation.  ``note`` is target-only (NULL on INSERT).
_WIDE_SCHEMA = (
    "k int, k2 string, i int, b bigint, sh smallint, f float, d double, "
    "dec decimal(10,2), s string, s2 string, flag boolean, dt date, "
    "ts timestamp, i2 int, d2 double, note string"
)
_WIDE_COLS = [c.split()[0] for c in _WIDE_SCHEMA.split(", ")]
_WIDE_KEY = ["k", "k2"]


def _wide_row(k, i, *, s="x", flag=True, note="n"):
    return (
        k, f"k{k}", i, i * 10, i % 7, i / 4, i / 8, Decimal(i) / 4, s, f"{s}{i}",
        flag, datetime.date(2020, 1, 1 + i % 28),
        datetime.datetime(2021, 2, 3, i % 24, 30), i + 1, i * 1.5, note,
    )


def _expected_images(target, source, delete, soft, patch):
    """(action, old, new) per key, straight from the merge semantics."""
    src_cols = _WIDE_COLS[:-1]
    t = {r[:2]: dict(zip(_WIDE_COLS, r)) for r in target}
    s = {r[:2]: dict(zip(src_cols, r)) for r in source}
    out = {}
    for key in set(t) | set(s):
        old, src = t.get(key), s.get(key)
        if old is None:
            out[key] = ("INSERT", None, {c: src.get(c) for c in _WIDE_COLS})
        elif src is None:
            if delete == "YES":
                out[key] = ("DELETE", old, None)
            elif soft:
                out[key] = ("SOFT_DELETE", old, {**old, **soft(old)})
            else:
                out[key] = ("KEEP", old, old)
        else:
            moved = [
                c for c in src_cols[2:]
                if src[c] != old[c] and not (patch and src[c] is None)
            ]
            if not moved:
                out[key] = ("KEEP", old, old)
                continue
            new = {
                c: old[c] if c not in src or (patch and src[c] is None) else src[c]
                for c in _WIDE_COLS
            }
            out[key] = ("UPDATE", old, new)
    return out


@pytest.mark.parametrize(
    "delete,update_mode",
    [("YES", "overwrite"), ("NO", "overwrite"),
     ("set flag = false, i = i + 100, note = 'gone'", "overwrite"),
     ("YES", "patch")],
)
def test_wide_row_images_per_action(spark, delete, update_mode):
    patch = update_mode == "patch"
    target = [_wide_row(k, k) for k in range(1, 6)]
    if patch:
        # NULL holes keep the target value; all-NULL and equal-where-set
        # rows stay KEEP
        holes = list(_wide_row(1, 1)[:-1])
        holes[2:] = [None] * (len(holes) - 2)
        partial = list(_wide_row(2, 2)[:-1])
        partial[2], partial[8], partial[11], partial[13] = 99, "y", None, None
        same = list(_wide_row(3, 3)[:-1])
        same[3], same[9], same[12] = None, None, None
        source = [
            tuple(holes), tuple(partial), tuple(same),
            _wide_row(6, 6)[:-1], _wide_row(7, 9, s=None, flag=None)[:-1],
        ]
    else:
        changed_one = _wide_row(2, 2)[:-1]
        changed_one = changed_one[:8] + ("y",) + changed_one[9:]
        to_nulls = tuple(v if j < 2 else None for j, v in enumerate(_wide_row(3, 3)[:-1]))
        source = [
            _wide_row(1, 1)[:-1], changed_one, to_nulls,
            _wide_row(6, 6)[:-1], _wide_row(7, 9, s=None, flag=None)[:-1],
        ]
    soft = (
        (lambda old: {"flag": False, "i": old["i"] + 100, "note": "gone"})
        if delete.startswith("set") else None
    )
    t = spark.createDataFrame(target, _WIDE_SCHEMA)
    s = spark.createDataFrame(source, _WIDE_SCHEMA.rsplit(", ", 1)[0])
    cs = build_changeset(t, s, _WIDE_KEY, delete=delete, update_mode=update_mode)
    got = {
        (r["k"], r["k2"]): (
            r["_action"],
            r["_old"].asDict() if r["_old"] is not None else None,
            r["_new"].asDict() if r["_new"] is not None else None,
        )
        for r in cs.df.collect()
    }
    want = _expected_images(target, source, delete, soft, patch)
    assert got == want
    actions = {a for a, _, _ in want.values()}
    assert actions == (
        {"INSERT", "UPDATE", "KEEP"}
        | ({"DELETE"} if delete == "YES" else {"SOFT_DELETE"} if soft else set())
    )
