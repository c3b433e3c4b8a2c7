"""Lifecycle/orchestration operators (SURVEY.md §2.A/§2.B rows that exercise
the storage + transaction machinery rather than pure dataflow).  Each runs a
REAL merge against a scratch SnapshotTable under /tmp and returns the
observable outcome as a DataFrame."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from sparkmerge.errors import MergeThresholdExceeded, MergeValidationError
from sparkmerge.merge import diff_versions, simple_merge
from sparkmerge.queries import load, register
from sparkmerge.queries.fixtures import (
    ORDERS_DELTA_SQL,
    classify_sql,
    orders_delta,
    orders_source,
)
from sparkmerge.table import SnapshotTable


def _scratch():
    return tempfile.mkdtemp(prefix="sparkmerge_op_")


@register(
    "lastupdate_prop",
    oracle="""
SELECT * FROM (VALUES
  ('stamped_on_create', false),
  ('stamped_after_abort', false),
  ('stamped_after_commit', true),
  ('odbc_canonical_format', true)
) AS v(checked_case, value)
""",
    description="lastUpdate table property stamped on successful commit only "
    "(sp_SimpleMerge.sql:129-140,:485-491; rollback quirk fixed per SURVEY §7.4)",
)
def lastupdate_prop(spark, sf_dir):
    d = _scratch()
    try:
        orders = load(spark, sf_dir, "orders").limit(500)
        tbl = SnapshotTable.create(spark, os.path.join(d, "t"), orders)
        stamped_initial = "lastUpdate" in tbl.properties()
        # aborted merge must NOT stamp
        try:
            simple_merge(spark, tbl, orders.limit(0), "o_orderkey", threshold="1%")
        except MergeThresholdExceeded:
            pass
        stamped_after_abort = "lastUpdate" in tbl.properties()
        simple_merge(spark, tbl, orders, "o_orderkey")
        stamped_after_commit = "lastUpdate" in tbl.properties()
        fmt_ok = False
        if stamped_after_commit:
            v = tbl.properties()["lastUpdate"]
            # ODBC-canonical style: 'YYYY-MM-DD hh:mm:ss.mmm' (convert(...,121))
            fmt_ok = len(v) == 23 and v[4] == "-" and v[10] == " " and v[19] == "."
        return spark.createDataFrame(
            [
                ("stamped_on_create", stamped_initial),
                ("stamped_after_abort", stamped_after_abort),
                ("stamped_after_commit", stamped_after_commit),
                ("odbc_canonical_format", fmt_ok),
            ],
            "checked_case string, value boolean",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


# The dry-run report is fully deterministic for a fixed input schema, so the
# oracle is the report itself as literals (golden values — a rendering change
# is SUPPOSED to break this check).
_DEBUG_MERGE_SQL = """MERGE INTO target t
USING source s
ON t.`o_orderkey` <=> s.`o_orderkey`
WHEN MATCHED AND (NOT (t.`o_custkey` <=> s.`o_custkey`) OR NOT (t.`o_orderstatus` <=> s.`o_orderstatus`) OR NOT (t.`o_totalprice` <=> s.`o_totalprice`) OR NOT (t.`o_orderdate` <=> s.`o_orderdate`) OR NOT (t.`o_orderpriority` <=> s.`o_orderpriority`)) THEN UPDATE SET t.`o_custkey` = s.`o_custkey`, t.`o_orderstatus` = s.`o_orderstatus`, t.`o_totalprice` = s.`o_totalprice`, t.`o_orderdate` = s.`o_orderdate`, t.`o_orderpriority` = s.`o_orderpriority`
WHEN NOT MATCHED THEN INSERT (`o_orderkey`, `o_custkey`, `o_orderstatus`, `o_totalprice`, `o_orderdate`, `o_orderpriority`) VALUES (s.`o_orderkey`, s.`o_custkey`, s.`o_orderstatus`, s.`o_totalprice`, s.`o_orderdate`, s.`o_orderpriority`)
WHEN NOT MATCHED BY SOURCE THEN DELETE"""

_DEBUG_AUDIT_DDL = (
    "actionTime TIMESTAMP, action STRING, o_orderkey BIGINT, d_o_custkey BIGINT, "
    "d_o_orderstatus STRING, d_o_totalprice DOUBLE, d_o_orderdate TIMESTAMP_NTZ, "
    "d_o_orderpriority STRING, i_o_custkey BIGINT, i_o_orderstatus STRING, "
    "i_o_totalprice DOUBLE, i_o_orderdate TIMESTAMP_NTZ, i_o_orderpriority STRING"
)


@register(
    "debug_dry_run",
    oracle=f"""
SELECT '{_DEBUG_MERGE_SQL}' AS merge_sql,
       15.0 AS threshold,
       CAST(500 AS BIGINT) AS target_rows,
       '{_DEBUG_AUDIT_DDL}' AS audit_ddl,
       true AS side_effect_free
""",
    description="@debug=1 dry-run: generated MERGE SQL, threshold, rowcount, audit DDL — "
    "zero side effects (sp_SimpleMerge.sql:422-465)",
)
def debug_dry_run(spark, sf_dir):
    d = _scratch()
    try:
        orders = load(spark, sf_dir, "orders").limit(500)
        tbl = SnapshotTable.create(spark, os.path.join(d, "t"), orders)
        v_before = tbl.current_version()
        rep = simple_merge(
            spark, tbl, orders_source(spark, sf_dir), "o_orderkey", debug=True, threshold="15%"
        )
        return spark.createDataFrame(
            [
                (
                    rep.merge_sql,
                    float(rep.threshold),
                    rep.target_rows,
                    rep.audit_ddl,
                    tbl.current_version() == v_before and tbl.properties() == {},
                )
            ],
            "merge_sql string, threshold double, target_rows bigint, audit_ddl string, side_effect_free boolean",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "schema_align_fullouter",
    oracle="""
WITH t_cols AS (
  SELECT column_name, row_number() OVER () AS ordinal
    FROM (DESCRIBE SELECT * FROM customer)
),
s_cols AS (
  SELECT column_name FROM (DESCRIBE SELECT c_custkey, c_name, c_acctbal FROM customer)
)
SELECT coalesce(t.column_name, s.column_name) AS column_name,
       (s.column_name IS NOT NULL) AS in_source,
       (t.column_name IS NOT NULL) AS in_target,
       (coalesce(t.column_name, s.column_name) = 'c_custkey') AS is_key
  FROM t_cols t FULL OUTER JOIN s_cols s USING (column_name)
""",
    description="full-outer alignment of source × target × key column sets "
    "(the #columnList build, sp_SimpleMerge.sql:187-191)",
)
def schema_align_fullouter(spark, sf_dir):
    from sparkmerge.plan import MergePlan

    c = load(spark, sf_dir, "customer")
    src = c.select("c_custkey", "c_name", "c_acctbal")
    plan = MergePlan.build(c.schema, src.schema, "c_custkey")
    rows = [(col.name, col.in_source, col.in_target, col.is_key) for col in plan.columns]
    return spark.createDataFrame(
        rows, "column_name string, in_source boolean, in_target boolean, is_key boolean"
    )


@register(
    "txn_commit_rollback",
    oracle="""
SELECT * FROM (VALUES
  ('staged_invisible_to_readers', true),
  ('abort_preserves_pointer', true),
  ('commit_swaps_pointer', true)
) AS v(checked_case, value)
""",
    description="snapshot transaction: staged version invisible until its version record "
    "is committed, abort leaves the current version untouched (sp_SimpleMerge.sql:470-479)",
)
def txn_commit_rollback(spark, sf_dir):
    d = _scratch()
    try:
        orders = load(spark, sf_dir, "orders").limit(500)
        tbl = SnapshotTable.create(spark, os.path.join(d, "t"), orders)
        staged = tbl.stage(orders.limit(100))
        invisible = tbl.read(spark).count() == 500  # staged not visible
        tbl.abort(staged)
        after_abort = tbl.current_version() == 1 and tbl.read(spark).count() == 500
        committed = tbl.commit(tbl.stage(orders.limit(100)))
        after_commit = tbl.current_version() == committed == 2 and tbl.read(spark).count() == 100
        return spark.createDataFrame(
            [
                ("staged_invisible_to_readers", invisible),
                ("abort_preserves_pointer", after_abort),
                ("commit_swaps_pointer", after_commit),
            ],
            "checked_case string, value boolean",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "error_raise",
    oracle="""
SELECT * FROM (VALUES
  ('validation_error_on_bad_key', 'MergeValidationError'),
  ('threshold_error_on_variance', 'MergeThresholdExceeded'),
  ('validation_error_on_bad_threshold', 'MergeValidationError')
) AS v(checked_case, raised)
""",
    description="typed error surface: throw 50000 → MergeValidationError, "
    "variance raiserror → MergeThresholdExceeded (sp_SimpleMerge.sql:128,:483)",
)
def error_raise(spark, sf_dir):
    d = _scratch()
    try:
        orders = load(spark, sf_dir, "orders").limit(100)
        tbl = SnapshotTable.create(spark, os.path.join(d, "t"), orders)
        rows = []

        def attempt(name, fn):
            try:
                fn()
                rows.append((name, "no_error"))
            except (MergeValidationError, MergeThresholdExceeded) as e:
                rows.append((name, type(e).__name__))

        attempt(
            "validation_error_on_bad_key",
            lambda: simple_merge(spark, tbl, orders, "nonexistent_col"),
        )
        attempt(
            "threshold_error_on_variance",
            lambda: simple_merge(spark, tbl, orders.limit(0), "o_orderkey", threshold="5%"),
        )
        attempt(
            "validation_error_on_bad_threshold",
            lambda: simple_merge(spark, tbl, orders, "o_orderkey", threshold="NaNpct"),
        )
        return spark.createDataFrame(rows, "checked_case string, raised string")
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "merge_partition_pruned",
    oracle="""
WITH src AS (
  SELECT o_orderkey, o_custkey, o_orderstatus,
         CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey AS DOUBLE)
              ELSE o_totalprice END AS o_totalprice,
         o_orderdate, o_orderpriority
    FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 10 <> 0
  UNION ALL
  SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
         CAST(o_orderkey AS DOUBLE), o_orderdate, o_orderpriority
    FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 50 = 0
)
SELECT * FROM orders WHERE o_orderstatus <> 'O'
UNION ALL
SELECT * FROM src
""",
    description="partition-pruned merge on a PartitionedSnapshotTable: source "
    "touches only the 'O' partition; 'F'/'P' carried forward by manifest "
    "reference, zero bytes rewritten (SURVEY.md §7.2 100 TB design)",
)
def merge_partition_pruned(spark, sf_dir):
    from sparkmerge.merge import merge_partitioned

    d = _scratch()
    try:
        orders = load(spark, sf_dir, "orders")
        tbl = SnapshotTable.create(
            spark, os.path.join(d, "t"), orders, "o_orderstatus"
        )
        o_part = orders.filter(F.col("o_orderstatus") == "O")
        upd = F.col("o_orderkey") % 3 == 0
        src = o_part.where(F.col("o_orderkey") % 10 != 0).select(
            "o_orderkey",
            "o_custkey",
            "o_orderstatus",
            F.when(upd, F.col("o_orderkey").cast("double"))
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        ).unionAll(
            o_part.where(F.col("o_orderkey") % 50 == 0).select(
                (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
                "o_custkey",
                "o_orderstatus",
                F.col("o_orderkey").cast("double").alias("o_totalprice"),
                "o_orderdate",
                "o_orderpriority",
            )
        )
        merge_partitioned(
            spark, tbl, src, ["o_orderkey", "o_orderstatus"], prune_scan=True
        )
        untouched = tbl.partitions()["F"] == tbl.partitions(version=1)["F"]
        if not untouched:
            raise AssertionError("copy-forward failed: 'F' partition was rewritten")
        rows = tbl.read(spark).collect()
        return spark.createDataFrame(rows, tbl.schema())
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "table_maintenance",
    oracle="""
SELECT * FROM (VALUES
  ('compact_to_single_file_data_identical', true),
  ('vacuum_removed_old_versions', true),
  ('add_columns_null_filled', true)
) AS v(checked_case, value)
""",
    description="storage lifecycle surface: compact() merges small files per "
    "partition (data-identical commit), vacuum() drops unreferenced versions, "
    "add_columns() widens the schema NULL-filled — each verified by outcome",
)
def table_maintenance(spark, sf_dir):
    d = _scratch()
    try:
        orders = load(spark, sf_dir, "orders").limit(2000)
        pt = SnapshotTable.create(
            spark, os.path.join(d, "pt"), orders.repartition(6), "o_orderstatus"
        )
        def n_files(val):
            p = os.path.join(pt.path, pt.partitions()[val])
            return len([f for f in os.listdir(p) if f.endswith(".parquet")])

        frag = n_files("O")
        before = pt.read(spark).count()
        pt.compact(spark)
        compacted = n_files("O") == 1 and pt.read(spark).count() == before
        removed = pt.vacuum(keep=1)

        st = SnapshotTable.create(spark, os.path.join(d, "st"), orders.limit(50))
        st.add_columns(spark, {"extra_score": "double"})
        widened = (
            "extra_score" in st.read(spark).columns
            and st.read(spark).filter(F.col("extra_score").isNull()).count() == 50
        )
        return spark.createDataFrame(
            [
                ("compact_to_single_file_data_identical", compacted and frag > 1),
                ("vacuum_removed_old_versions", bool(removed)),
                ("add_columns_null_filled", widened),
            ],
            "checked_case string, value boolean",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


@register(
    "sink_audit_append",
    oracle=f"""
{classify_sql()}
SELECT action, count(*) * 2 AS n FROM cls WHERE action <> 'KEEP' GROUP BY action
""",
    description="audit sink is append-mode CDC: two identical merges → doubled audit rows "
    "(OUTPUT INTO, sp_SimpleMerge.sql:350-410)",
)
def sink_audit_append(spark, sf_dir):
    d = _scratch()
    try:
        orders = load(spark, sf_dir, "orders")
        audit_path = os.path.join(d, "audit")
        for _ in range(2):
            tbl = SnapshotTable.create(spark, os.path.join(d, f"t{_}"), orders)
            simple_merge(
                spark, tbl, orders_source(spark, sf_dir), "o_orderkey", audit_path=audit_path
            )
        counts = (
            spark.read.parquet(audit_path)
            .groupBy("action")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        # materialize before the scratch dir is removed (the returned plan
        # must not reference the deleted audit path)
        return spark.createDataFrame(counts, "action string, n bigint")
    finally:
        shutil.rmtree(d, ignore_errors=True)


# --- table_time_travel: MVCC version-pinned reads ---


_TT_SUMMARY = """COUNT(*) AS n_rows,
       CAST(SUM(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS price_cents,
       CAST(SUM(CASE WHEN o_orderstatus IN ('X', 'N', 'Z') THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mutated"""

_TT_SRC2_SQL = """
SELECT o_orderkey, o_custkey,
       CASE WHEN o_orderkey % 3 = 0 THEN 'Z' ELSE o_orderstatus END
         AS o_orderstatus,
       CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 5.0
            ELSE o_totalprice END AS o_totalprice,
       o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 13 <> 0
""".strip()


@register(
    "table_time_travel",
    oracle=None,  # installed below (needs the shared orders-mutation SQL)
    description="MVCC time travel: after TWO further merge commits, read "
    "the table pinned at versions 1, 2, and 3 and summarize each — a "
    "converged merge makes version k ≡ its source extract, so the oracle "
    "recomputes all three states from the raw table and a hash match "
    "proves historical versions stay byte-readable after later commits "
    "(the snapshot design: a commit writes NEW data and a new version "
    "record, it never touches existing files); exact-integer summaries "
    "(price cents, mutation counts) keep the check value-strict",
)
def table_time_travel(spark, sf_dir):
    d = _scratch()
    try:
        o = load(spark, sf_dir, "orders")
        tbl = SnapshotTable.create(spark, os.path.join(d, "t"), o)  # v1
        src1 = orders_source(spark, sf_dir)
        simple_merge(spark, tbl, src1, "o_orderkey")  # v2
        mut2 = F.col("o_orderkey") % 3 == 0
        src2 = o.where(F.col("o_orderkey") % 13 != 0).select(
            "o_orderkey",
            "o_custkey",
            F.when(mut2, F.lit("Z")).otherwise(F.col("o_orderstatus")).alias(
                "o_orderstatus"
            ),
            F.when(mut2, F.col("o_totalprice") + 5.0)
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderdate",
            "o_orderpriority",
        )
        simple_merge(spark, tbl, src2, "o_orderkey")  # v3

        def summary(version: int):
            df = tbl.read(spark, version=version)
            return df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
                )
                .cast("long")
                .alias("price_cents"),
                F.sum(
                    F.when(
                        F.col("o_orderstatus").isin("X", "N", "Z"), 1
                    ).otherwise(0)
                )
                .cast("long")
                .alias("n_mutated"),
            ).select(F.lit(version).alias("version"), "*")

        out = summary(1).unionByName(summary(2)).unionByName(summary(3))
        rows = out.collect()  # materialize before the scratch dir is removed
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _install_time_travel_oracle() -> None:
    from sparkmerge.queries import _REGISTRY
    from sparkmerge.queries.fixtures import ORDERS_MUT_SQL

    sql = f"""
SELECT 1 AS version, {_TT_SUMMARY} FROM orders
UNION ALL
SELECT 2 AS version, {_TT_SUMMARY} FROM ({ORDERS_MUT_SQL})
UNION ALL
SELECT 3 AS version, {_TT_SUMMARY} FROM ({_TT_SRC2_SQL})
"""
    spec = _REGISTRY["table_time_travel"]
    _REGISTRY["table_time_travel"] = type(spec)(
        spec.op_id, spec.fn, sql, spec.description
    )


_install_time_travel_oracle()


# --- merge_version_diff: after-the-fact CDC from MVCC history ---
# (diff_versions re-derives the audit record by classifying read(v1) against
# read(v2) — useful when a merge ran without an audit_path.  The oracle is
# the SAME ground truth as merge_broadcast_delta's: v2 ≡ orders ⊕ delta, so
# reconstructing the changeset from STORAGE must reproduce exactly what the
# live classification produced — proving the MVCC history loses nothing.)


@register(
    "merge_version_diff",
    oracle=f"""
WITH src AS ({ORDERS_DELTA_SQL})
SELECT s.o_orderkey,
       CASE WHEN t.o_orderkey IS NULL THEN 'INSERT' ELSE 'UPDATE' END AS action,
       s.o_orderstatus AS new_status,
       s.o_totalprice AS new_totalprice
  FROM src s
  LEFT JOIN orders t ON t.o_orderkey = s.o_orderkey
 WHERE t.o_orderkey IS NULL
    OR t.o_custkey IS DISTINCT FROM s.o_custkey
    OR t.o_orderstatus IS DISTINCT FROM s.o_orderstatus
    OR t.o_totalprice IS DISTINCT FROM s.o_totalprice
    OR t.o_orderdate IS DISTINCT FROM s.o_orderdate
    OR t.o_orderpriority IS DISTINCT FROM s.o_orderpriority
""",
    description="after-the-fact CDC between two retained snapshot versions: "
    "commit a delta merge (v1 → v2, broadcast strategy), then diff_versions "
    "reconstructs the classified changeset purely from the stored versions; "
    "the oracle recomputes the same rows from the raw inputs, so a hash "
    "match proves the MVCC history preserves the merge's full change record "
    "without an audit table",
)
def merge_version_diff(spark, sf_dir):
    d = _scratch()
    try:
        o = load(spark, sf_dir, "orders")
        tbl = SnapshotTable.create(spark, os.path.join(d, "t"), o)  # v1
        delta = orders_delta(spark, sf_dir)
        simple_merge(spark, tbl, delta, "o_orderkey", delete="NO",
                     strategy="broadcast")  # v2
        cs = diff_versions(spark, tbl, "o_orderkey", from_version=1, to_version=2)
        out = cs.filter(F.col("_action") != "KEEP").select(
            "o_orderkey",
            F.col("_action").alias("action"),
            F.col("_new.o_orderstatus").alias("new_status"),
            F.col("_new.o_totalprice").alias("new_totalprice"),
        )
        rows = out.collect()  # materialize before the scratch dir is removed
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(d, ignore_errors=True)
