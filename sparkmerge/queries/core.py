"""§2.A core merge-dataflow operators — each runs the ENGINE (build_changeset
/ merge_preview), projected to a flat, oracle-hashable result.

Reference citations per op are in SURVEY.md §2.A; the oracle SQL mirrors the
T-SQL the reference would generate (null-safe join → IS NOT DISTINCT FROM,
INTERSECT change detection → OR-of-IS-DISTINCT-FROM, etc.).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkmerge.changeset import build_changeset, latest_per_key
from sparkmerge.merge import merge_preview
from sparkmerge.queries import load, register
from sparkmerge.queries.fixtures import (
    CUST_NULL_SRC_SQL,
    CUST_NULL_TGT_SQL,
    LINEITEM_MUT_SQL,
    ORDERS_COLS,
    ORDERS_DELTA_SQL,
    ORDERS_MUT_SQL,
    ORDERS_PATCH_SQL,
    ORDERS_UPSERT_FEED_SQL,
    PART_MUT_SQL,
    classify_sql,
    customer_nullkey,
    lineitem_source,
    orders_delta,
    orders_patch,
    orders_source,
    orders_upsert_feed,
    part_source,
)

# --- merge_full: the full-outer classification (sp_SimpleMerge.sql:243-346) ---


@register(
    "merge_full",
    oracle=f"{classify_sql()}\nSELECT o_orderkey, action FROM cls",
    description="one full-outer join classifies every row as INSERT/UPDATE/DELETE/KEEP",
)
def merge_full(spark, sf_dir):
    cs = build_changeset(load(spark, sf_dir, "orders"), orders_source(spark, sf_dir), "o_orderkey")
    return cs.df.select("o_orderkey", F.col("_action").alias("action"))


# --- join_null_safe_eq: NULL keys match (sp_SimpleMerge.sql:254-268) ---


@register(
    "join_null_safe_eq",
    oracle=f"""
WITH tgt AS ({CUST_NULL_TGT_SQL}), src AS ({CUST_NULL_SRC_SQL})
SELECT coalesce(t.c_custkey, s.c_custkey) AS c_custkey,
       coalesce(t.c_nationkey, s.c_nationkey) AS c_nationkey,
       CASE WHEN t.c_custkey IS NULL THEN 'INSERT'
            WHEN s.c_custkey IS NULL THEN 'DELETE'
            WHEN t.c_name IS DISTINCT FROM s.c_name
              OR t.c_acctbal IS DISTINCT FROM s.c_acctbal
              OR t.c_mktsegment IS DISTINCT FROM s.c_mktsegment THEN 'UPDATE'
            ELSE 'KEEP' END AS action
  FROM tgt t
  FULL OUTER JOIN src s
    ON t.c_custkey = s.c_custkey
   AND t.c_nationkey IS NOT DISTINCT FROM s.c_nationkey
""",
    description="null-safe composite-key equality: NULL=NULL matches (<=> / IS NOT DISTINCT FROM)",
)
def join_null_safe_eq(spark, sf_dir):
    tgt, src = customer_nullkey(spark, sf_dir)
    cs = build_changeset(tgt, src, "c_custkey, c_nationkey")
    return cs.df.select("c_custkey", "c_nationkey", F.col("_action").alias("action"))


# --- join_composite_key: AND-chain over ordered multi-column key ---


@register(
    "join_composite_key",
    oracle=f"""
WITH src AS ({LINEITEM_MUT_SQL})
SELECT coalesce(t.l_orderkey, s.l_orderkey) AS l_orderkey,
       coalesce(t.l_linenumber, s.l_linenumber) AS l_linenumber,
       CASE WHEN t.l_orderkey IS NULL THEN 'INSERT'
            WHEN s.l_orderkey IS NULL THEN 'DELETE'
            WHEN t.l_partkey IS DISTINCT FROM s.l_partkey
              OR t.l_suppkey IS DISTINCT FROM s.l_suppkey
              OR t.l_quantity IS DISTINCT FROM s.l_quantity
              OR t.l_extendedprice IS DISTINCT FROM s.l_extendedprice
              OR t.l_discount IS DISTINCT FROM s.l_discount
              OR t.l_tax IS DISTINCT FROM s.l_tax
              OR t.l_returnflag IS DISTINCT FROM s.l_returnflag
              OR t.l_linestatus IS DISTINCT FROM s.l_linestatus
              OR t.l_shipdate IS DISTINCT FROM s.l_shipdate THEN 'UPDATE'
            ELSE 'KEEP' END AS action
  FROM lineitem t
  FULL OUTER JOIN src s
    ON t.l_orderkey = s.l_orderkey AND t.l_linenumber = s.l_linenumber
""",
    description="composite equi-join key (ordered AND-chain, up to 100 columns)",
)
def join_composite_key(spark, sf_dir):
    cs = build_changeset(
        load(spark, sf_dir, "lineitem"), lineitem_source(spark, sf_dir), "l_orderkey, l_linenumber"
    )
    return cs.df.select("l_orderkey", "l_linenumber", F.col("_action").alias("action"))


# --- change_detect_intersect: null-safe row-wise change predicate ---


@register(
    "change_detect_intersect",
    oracle=f"""
WITH src AS ({ORDERS_MUT_SQL})
SELECT t.o_orderkey,
       (t.o_custkey IS DISTINCT FROM s.o_custkey
        OR t.o_orderstatus IS DISTINCT FROM s.o_orderstatus
        OR t.o_totalprice IS DISTINCT FROM s.o_totalprice
        OR t.o_orderdate IS DISTINCT FROM s.o_orderdate
        OR t.o_orderpriority IS DISTINCT FROM s.o_orderpriority) AS changed
  FROM orders t
  JOIN src s ON t.o_orderkey = s.o_orderkey
""",
    description="update only rows that actually changed: INTERSECT-equivalent null-safe comparison",
)
def change_detect_intersect(spark, sf_dir):
    cs = build_changeset(load(spark, sf_dir, "orders"), orders_source(spark, sf_dir), "o_orderkey")
    matched = cs.df.filter(F.col("_action").isin("UPDATE", "KEEP"))
    return matched.select("o_orderkey", (F.col("_action") == "UPDATE").alias("changed"))


# --- update_changed: new images of UPDATE rows (ordered by source ordinal) ---


@register(
    "update_changed",
    oracle=f"""
WITH src AS ({ORDERS_MUT_SQL})
SELECT s.*
  FROM orders t
  JOIN src s ON t.o_orderkey = s.o_orderkey
 WHERE t.o_custkey IS DISTINCT FROM s.o_custkey
    OR t.o_orderstatus IS DISTINCT FROM s.o_orderstatus
    OR t.o_totalprice IS DISTINCT FROM s.o_totalprice
    OR t.o_orderdate IS DISTINCT FROM s.o_orderdate
    OR t.o_orderpriority IS DISTINCT FROM s.o_orderpriority
""",
    description="THEN UPDATE SET t.c = s.c for every non-key source column",
)
def update_changed(spark, sf_dir):
    cs = build_changeset(load(spark, sf_dir, "orders"), orders_source(spark, sf_dir), "o_orderkey")
    return cs.df.filter(F.col("_action") == "UPDATE").select("_new.*")


# --- update_suppressed_all_key: no UPDATE branch when all columns are keys ---


@register(
    "update_suppressed_all_key",
    oracle=f"""
WITH src AS ({PART_MUT_SQL})
SELECT coalesce(t.p_partkey, s.p_partkey) AS p_partkey,
       CASE WHEN t.p_partkey IS NULL THEN 'INSERT'
            WHEN s.p_partkey IS NULL THEN 'DELETE'
            ELSE 'KEEP' END AS action
  FROM part t
  FULL OUTER JOIN src s
    ON t.p_partkey = s.p_partkey AND t.p_name = s.p_name AND t.p_brand = s.p_brand
   AND t.p_type = s.p_type AND t.p_size = s.p_size AND t.p_retailprice = s.p_retailprice
""",
    description="WHEN MATCHED omitted entirely when every source column is in the key",
)
def update_suppressed_all_key(spark, sf_dir):
    cs = build_changeset(
        load(spark, sf_dir, "part"),
        part_source(spark, sf_dir),
        "p_partkey, p_name, p_brand, p_type, p_size, p_retailprice",
    )
    # UPDATE is impossible here — the engine suppressed the branch (:275-276)
    return cs.df.select("p_partkey", F.col("_action").alias("action"))


# --- insert_unmatched / delete_unmatched: the two anti-join sides ---


@register(
    "insert_unmatched",
    oracle=f"""
WITH src AS ({ORDERS_MUT_SQL})
SELECT s.* FROM src s
 WHERE NOT EXISTS (SELECT 1 FROM orders t WHERE t.o_orderkey = s.o_orderkey)
""",
    description="WHEN NOT MATCHED BY TARGET THEN INSERT — source anti-join target",
)
def insert_unmatched(spark, sf_dir):
    cs = build_changeset(load(spark, sf_dir, "orders"), orders_source(spark, sf_dir), "o_orderkey")
    return cs.df.filter(F.col("_action") == "INSERT").select("_new.*")


@register(
    "delete_unmatched",
    oracle=f"""
WITH src AS ({ORDERS_MUT_SQL})
SELECT t.* FROM orders t
 WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
""",
    description="WHEN NOT MATCHED BY SOURCE THEN DELETE — target anti-join source",
)
def delete_unmatched(spark, sf_dir):
    cs = build_changeset(load(spark, sf_dir, "orders"), orders_source(spark, sf_dir), "o_orderkey")
    return cs.df.filter(F.col("_action") == "DELETE").select("_old.*")


# --- softdelete / keep: the other two @delete modes (final state) ---


@register(
    "softdelete_unmatched",
    oracle=f"""
WITH src AS ({ORDERS_MUT_SQL})
SELECT * FROM src
UNION ALL
SELECT t.o_orderkey, t.o_custkey, t.o_orderstatus, t.o_totalprice, t.o_orderdate,
       'GONE' AS o_orderpriority
  FROM orders t
 WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
""",
    description="@delete='set <expr>': unmatched target rows soft-deleted via UPDATE",
)
def softdelete_unmatched(spark, sf_dir):
    return merge_preview(
        load(spark, sf_dir, "orders"),
        orders_source(spark, sf_dir),
        "o_orderkey",
        delete="set o_orderpriority = 'GONE'",
    )


@register(
    "keep_unmatched",
    oracle=f"""
WITH src AS ({ORDERS_MUT_SQL})
SELECT * FROM src
UNION ALL
SELECT t.* FROM orders t
 WHERE NOT EXISTS (SELECT 1 FROM src s WHERE s.o_orderkey = t.o_orderkey)
""",
    description="@delete=other: unmatched target rows pass through untouched",
)
def keep_unmatched(spark, sf_dir):
    return merge_preview(
        load(spark, sf_dir, "orders"), orders_source(spark, sf_dir), "o_orderkey", delete="NO"
    )


# --- target_filter_scope: rows failing the filter are invisible to the merge ---


@register(
    "target_filter_scope",
    oracle=f"""
WITH src AS ({ORDERS_MUT_SQL})
SELECT * FROM src
UNION ALL
SELECT t.* FROM orders t
 WHERE NOT coalesce(t.o_orderdate >= TIMESTAMP '1995-01-01 00:00:00', false)
""",
    description="@targetFilter: out-of-scope target rows are never updated nor deleted",
)
def target_filter_scope(spark, sf_dir):
    return merge_preview(
        load(spark, sf_dir, "orders"),
        orders_source(spark, sf_dir),
        "o_orderkey",
        target_filter="o_orderdate >= TIMESTAMP '1995-01-01 00:00:00'",
    )


# --- badkey_rank: duplicate-key dedup ranking (deterministic-tiebreak form) ---


@register(
    "badkey_rank",
    oracle="""
SELECT l_orderkey, l_linenumber,
       row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS rn
  FROM lineitem
""",
    description="@badKey: row_number over the key makes duplicate keys pairwise-mergeable",
)
def badkey_rank(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_orderkey").orderBy("l_linenumber")
    return li.select("l_orderkey", "l_linenumber", F.row_number().over(w).alias("rn"))


# --- output_audit: the CDC record (fixed actionTime for determinism) ---

_AUDIT_TS = "TIMESTAMP '2024-01-01 00:00:00'"
_D_COLS = ", ".join(f"t_{c} AS d_{c}" for c in ORDERS_COLS[1:])
_I_COLS = ", ".join(
    f"CASE WHEN action = 'DELETE' THEN NULL ELSE s_{c} END AS i_{c}" for c in ORDERS_COLS[1:]
)


@register(
    "output_audit",
    oracle=f"""
{classify_sql()}
SELECT {_AUDIT_TS} AS actionTime, action, o_orderkey,
       {_D_COLS},
       {_I_COLS}
  FROM cls
 WHERE action <> 'KEEP'
""",
    description="OUTPUT clause: actionTime, action, key, d_*/i_* before/after images",
)
def output_audit(spark, sf_dir):
    cs = build_changeset(load(spark, sf_dir, "orders"), orders_source(spark, sf_dir), "o_orderkey")
    return cs.audit(action_time=F.expr(_AUDIT_TS))


# --- threshold_guard: the variance computation (decision inputs) ---


@register(
    "threshold_guard",
    oracle=f"""
{classify_sql()}
SELECT count(*) FILTER (WHERE action <> 'KEEP') AS changed,
       (SELECT count(*) FROM orders) AS target_rows,
       count(*) FILTER (WHERE action <> 'KEEP') * 100.0
         / (SELECT count(*) FROM orders) AS variance_pct,
       count(*) FILTER (WHERE action <> 'KEEP') * 100.0
         / (SELECT count(*) FROM orders) <= 15.0 AS within_threshold
  FROM cls
""",
    description="variance = changed/target*100; abort when above threshold (15% here)",
)
def threshold_guard(spark, sf_dir):
    orders = load(spark, sf_dir, "orders")
    cs = build_changeset(orders, orders_source(spark, sf_dir), "o_orderkey")
    changed = F.count(F.when(F.col("_action") != "KEEP", 1))
    total = orders.count()  # pre-count, sp_SimpleMerge.sql:141-150
    total_col = F.lit(total).cast("long")
    return cs.df.agg(
        changed.alias("changed"),
        total_col.alias("target_rows"),
        (changed * 100.0 / total_col).alias("variance_pct"),
        (changed * 100.0 / total_col <= 15.0).alias("within_threshold"),
    )


# --- merge_cdc_apply: ordered I/U/D change-stream application (the inverse of
# diff_versions: Debezium-shaped ingestion into a snapshot) ---

_CDC_COLS = "o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"


@register(
    "merge_cdc_apply",
    oracle=f"""
WITH cdc AS (
  SELECT o_orderkey, 'D' AS op, 2 AS seq, {_CDC_COLS}
    FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, 'U', 1, o_custkey, o_orderstatus, o_totalprice + 0.5,
         o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 5 = 1
  UNION ALL
  SELECT o_orderkey, 'U', 2, o_custkey, o_orderstatus, o_totalprice + 1.0,
         o_orderdate, o_orderpriority
    FROM orders WHERE o_orderkey % 5 = 1
  UNION ALL
  SELECT o_orderkey + 3000000, 'I', 1, {_CDC_COLS}
    FROM orders WHERE o_orderkey % 5 = 2
),
latest AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
      FROM cdc) t
   WHERE rn = 1
)
SELECT coalesce(c.o_orderkey, t.o_orderkey) AS o_orderkey,
       CASE WHEN c.op IS NULL THEN t.o_custkey ELSE c.o_custkey END AS o_custkey,
       CASE WHEN c.op IS NULL THEN t.o_orderstatus ELSE c.o_orderstatus END AS o_orderstatus,
       CASE WHEN c.op IS NULL THEN t.o_totalprice ELSE c.o_totalprice END AS o_totalprice,
       CASE WHEN c.op IS NULL THEN t.o_orderdate ELSE c.o_orderdate END AS o_orderdate,
       CASE WHEN c.op IS NULL THEN t.o_orderpriority ELSE c.o_orderpriority END AS o_orderpriority
  FROM orders t FULL OUTER JOIN latest c ON t.o_orderkey = c.o_orderkey
 WHERE c.op IS NULL OR c.op <> 'D'
""",
    description="CDC apply (the inverse of diff_versions): an ordered "
    "Debezium-shaped I/U/D stream — including two competing updates for the "
    "same key, where the highest sequence number must win — collapses to "
    "latest-per-key (one window) and applies through one full-outer join; "
    "same single-shuffle-pair shape as the merge engine itself",
)
def merge_cdc_apply(spark, sf_dir):
    o = load(spark, sf_dir, "orders")
    data = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"]

    def ev(filter_mod, op, seq, key=None, price=None):
        df = o.filter(F.col("o_orderkey") % 5 == filter_mod)
        cols = [
            (key if key is not None else F.col("o_orderkey")).alias("o_orderkey"),
            F.lit(op).alias("op"),
            F.lit(seq).cast("int").alias("seq"),
        ]
        for c in data:
            if c == "o_totalprice" and price is not None:
                cols.append(price.alias(c))
            else:
                cols.append(F.col(c))
        return df.select(*cols)

    cdc = (
        ev(0, "D", 2)
        .unionByName(ev(1, "U", 1, price=F.col("o_totalprice") + 0.5))
        .unionByName(ev(1, "U", 2, price=F.col("o_totalprice") + 1.0))
        .unionByName(ev(2, "I", 1, key=F.col("o_orderkey") + 3000000))
    )
    w = Window.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    latest = cdc.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)
    c = latest.select(
        F.col("o_orderkey"),
        F.col("op"),
        *[F.col(x).alias(f"c_{x}") for x in data],
    )
    joined = o.join(c, "o_orderkey", "full_outer")
    return joined.filter(F.col("op").isNull() | (F.col("op") != "D")).select(
        "o_orderkey",
        *[
            F.when(F.col("op").isNull(), F.col(x)).otherwise(F.col(f"c_{x}")).alias(x)
            for x in data
        ],
    )


# --- merge_scd2: type-2 slowly-changing-dimension history merge.  The
# reference's matched-branch (sp_SimpleMerge.sql:272-309) overwrites in
# place; the SCD2 variant instead closes the superseded version and appends
# the new one — the standard warehouse shape for dimension history.  Same
# single full-outer-join core; the two output branches (close / current) are
# projections of that one joined frame, so the whole op is one shuffle pair
# plus a map-side union. ---

_SCD2_DATA = "c_name, c_nationkey, c_acctbal, c_mktsegment"


@register(
    "merge_scd2",
    oracle=f"""
WITH src AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 10.0 AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 7 = 3
  UNION ALL
  SELECT c_custkey + 1000000, {_SCD2_DATA}
    FROM customer WHERE c_custkey % 13 = 0
),
j AS (
  SELECT t.c_custkey AS t_key, s.c_custkey AS s_key,
         t.c_name AS t_name, t.c_nationkey AS t_nationkey,
         t.c_acctbal AS t_acctbal, t.c_mktsegment AS t_mktsegment,
         s.c_name AS s_name, s.c_nationkey AS s_nationkey,
         s.c_acctbal AS s_acctbal, s.c_mktsegment AS s_mktsegment
    FROM customer t FULL OUTER JOIN src s ON t.c_custkey = s.c_custkey
),
closed AS (
  SELECT t_key AS c_custkey, t_name AS c_name, t_nationkey AS c_nationkey,
         t_acctbal AS c_acctbal, t_mktsegment AS c_mktsegment,
         TIMESTAMP '2024-01-01 00:00:00' AS valid_from, TIMESTAMP '2024-06-01 00:00:00' AS valid_to,
         FALSE AS is_current
    FROM j
   WHERE t_key IS NOT NULL AND s_key IS NOT NULL
     AND (t_acctbal IS DISTINCT FROM s_acctbal
          OR t_name IS DISTINCT FROM s_name
          OR t_nationkey IS DISTINCT FROM s_nationkey
          OR t_mktsegment IS DISTINCT FROM s_mktsegment)
),
current AS (
  SELECT coalesce(s_key, t_key) AS c_custkey,
         CASE WHEN s_key IS NULL THEN t_name ELSE s_name END AS c_name,
         CASE WHEN s_key IS NULL THEN t_nationkey ELSE s_nationkey END AS c_nationkey,
         CASE WHEN s_key IS NULL THEN t_acctbal ELSE s_acctbal END AS c_acctbal,
         CASE WHEN s_key IS NULL THEN t_mktsegment ELSE s_mktsegment END AS c_mktsegment,
         CASE WHEN s_key IS NOT NULL
                   AND (t_key IS NULL
                        OR t_acctbal IS DISTINCT FROM s_acctbal
                        OR t_name IS DISTINCT FROM s_name
                        OR t_nationkey IS DISTINCT FROM s_nationkey
                        OR t_mktsegment IS DISTINCT FROM s_mktsegment)
              THEN TIMESTAMP '2024-06-01 00:00:00' ELSE TIMESTAMP '2024-01-01 00:00:00' END AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to,
         TRUE AS is_current
    FROM j
)
SELECT * FROM closed UNION ALL SELECT * FROM current
""",
    description="SCD type-2 history merge: changed keys close the old version "
    "(valid_to = load date) and append a new current one; new keys insert; "
    "unmatched targets stay open — one full-outer join, both output branches "
    "projected from the same joined frame (one shuffle pair + map-side union)",
)
def merge_scd2(spark, sf_dir):
    from sparkmerge.merge import scd2_merge

    c = load(spark, sf_dir, "customer")
    base, loadd = F.lit("2024-01-01").cast("timestamp"), F.lit("2024-06-01").cast("timestamp")

    target = c.select(
        "*",
        base.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    changed_src = c.filter(F.col("c_custkey") % 7 == 3).withColumn(
        "c_acctbal", F.col("c_acctbal") + 10.0
    )
    new_src = c.filter(F.col("c_custkey") % 13 == 0).withColumn(
        "c_custkey", F.col("c_custkey") + 1000000
    )
    return scd2_merge(
        target, changed_src.unionByName(new_src), "c_custkey", load_ts=loadd
    )


# --- merge_scd2_multibatch: sequential SCD2 loads building 3-deep history ---

_SCD2_COLS = "c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment"
_SCD2_DIFF = """(t.c_acctbal IS DISTINCT FROM s.c_acctbal
       OR t.c_name IS DISTINCT FROM s.c_name
       OR t.c_nationkey IS DISTINCT FROM s.c_nationkey
       OR t.c_mktsegment IS DISTINCT FROM s.c_mktsegment)"""


def _scd2_apply_sql(h: str, s: str, ts: str) -> str:
    """One DuckDB SCD2 application step: history ``h`` + extract ``s`` →
    new history (mirror of sparkmerge.merge.scd2_merge)."""
    return f"""
  SELECT {_SCD2_COLS}, valid_from, valid_to, is_current FROM {h} WHERE NOT is_current
  UNION ALL
  SELECT t.c_custkey, t.c_name, t.c_nationkey, t.c_acctbal, t.c_mktsegment,
         t.valid_from, TIMESTAMP '{ts}', FALSE
    FROM (SELECT * FROM {h} WHERE is_current) t JOIN {s} s ON t.c_custkey = s.c_custkey
   WHERE {_SCD2_DIFF}
  UNION ALL
  SELECT coalesce(s.c_custkey, t.c_custkey),
         CASE WHEN s.c_custkey IS NULL THEN t.c_name ELSE s.c_name END,
         CASE WHEN s.c_custkey IS NULL THEN t.c_nationkey ELSE s.c_nationkey END,
         CASE WHEN s.c_custkey IS NULL THEN t.c_acctbal ELSE s.c_acctbal END,
         CASE WHEN s.c_custkey IS NULL THEN t.c_mktsegment ELSE s.c_mktsegment END,
         CASE WHEN s.c_custkey IS NOT NULL AND (t.c_custkey IS NULL OR {_SCD2_DIFF})
              THEN TIMESTAMP '{ts}' ELSE t.valid_from END,
         CAST(NULL AS TIMESTAMP), TRUE
    FROM (SELECT * FROM {h} WHERE is_current) t
         FULL OUTER JOIN {s} s ON t.c_custkey = s.c_custkey
"""


@register(
    "merge_scd2_multibatch",
    oracle=f"""
WITH h0 AS (
  SELECT {_SCD2_COLS}, TIMESTAMP '2024-01-01 00:00:00' AS valid_from,
         CAST(NULL AS TIMESTAMP) AS valid_to, TRUE AS is_current
    FROM customer
),
s1 AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 10.0 AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 7 = 3
),
h1 AS ({_scd2_apply_sql('h0', 's1', '2024-02-01 00:00:00')}),
s2 AS (
  SELECT c_custkey, c_name, c_nationkey, c_acctbal + 20.0 AS c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 14 = 3
  UNION ALL
  SELECT c_custkey + 1000000, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer WHERE c_custkey % 13 = 0
)
{_scd2_apply_sql('h1', 's2', '2024-03-01 00:00:00')}
""",
    description="SCD2 under sequential loads (the foreachBatch shape): load 1 "
    "changes keys %7=3, load 2 re-changes the %14=3 subset and inserts new "
    "keys — re-changed keys must carry a 3-deep version chain with contiguous "
    "validity; each application is the same one-join scd2_merge dataflow, so "
    "N batches = N shuffle pairs, independent of history depth",
)
def merge_scd2_multibatch(spark, sf_dir):
    from sparkmerge.merge import scd2_merge

    c = load(spark, sf_dir, "customer")
    t0 = F.lit("2024-01-01").cast("timestamp")
    h0 = c.select(
        "*",
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    s1 = c.filter(F.col("c_custkey") % 7 == 3).withColumn(
        "c_acctbal", F.col("c_acctbal") + 10.0
    )
    h1 = scd2_merge(h0, s1, "c_custkey", load_ts=F.lit("2024-02-01").cast("timestamp"))
    s2 = (
        c.filter(F.col("c_custkey") % 14 == 3)
        .withColumn("c_acctbal", F.col("c_acctbal") + 20.0)
        .unionByName(
            c.filter(F.col("c_custkey") % 13 == 0).withColumn(
                "c_custkey", F.col("c_custkey") + 1000000
            )
        )
    )
    return scd2_merge(h1, s2, "c_custkey", load_ts=F.lit("2024-03-01").cast("timestamp"))


# --- merge_multi_source: priority-resolved multi-source upsert ---
# (the reference merges ONE source table per call; real warehouse loads land
# several feeds at once, so the winner per key must be resolved before the
# classification join — highest priority wins, dataflow-only, no table writes)


@register(
    "merge_multi_source",
    oracle="""
WITH tgt AS (
  SELECT c_custkey, c_acctbal FROM customer WHERE c_custkey % 3 <> 0),
src_a AS (
  SELECT c_custkey, c_acctbal + 10.0 AS c_acctbal, 1 AS priority
    FROM customer WHERE c_custkey % 2 = 0),
src_b AS (
  SELECT c_custkey, c_acctbal + 20.0 AS c_acctbal, 2 AS priority
    FROM customer WHERE c_custkey % 5 = 0),
unioned AS (SELECT * FROM src_a UNION ALL SELECT * FROM src_b),
winner AS (
  SELECT c_custkey, c_acctbal FROM (
    SELECT *, row_number() OVER (PARTITION BY c_custkey
                                 ORDER BY priority DESC) AS rk
      FROM unioned) u WHERE rk = 1)
SELECT coalesce(t.c_custkey, w.c_custkey) AS c_custkey,
       coalesce(w.c_acctbal, t.c_acctbal) AS c_acctbal,
       CASE WHEN t.c_custkey IS NULL THEN 'INSERT'
            WHEN w.c_custkey IS NULL THEN 'KEEP'
            ELSE 'UPDATE' END AS action
  FROM tgt t FULL OUTER JOIN winner w ON t.c_custkey = w.c_custkey
""",
    description="multi-source merge: two overlapping feeds with priorities "
    "are unioned, the winner per key resolved with ONE window (priority "
    "desc — deterministic because priorities are distinct per key set), and "
    "only then classified against the target, so the merge itself stays a "
    "single full-outer join; the union adds no shuffle beyond the window's "
    "key partitioning, which the join then reuses",
)
def merge_multi_source(spark, sf_dir):
    cust = load(spark, sf_dir, "customer")
    tgt = cust.filter(F.col("c_custkey") % 3 != 0).select("c_custkey", "c_acctbal")
    src_a = (
        cust.filter(F.col("c_custkey") % 2 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 10.0).alias("c_acctbal"),
                F.lit(1).alias("priority"))
    )
    src_b = (
        cust.filter(F.col("c_custkey") % 5 == 0)
        .select("c_custkey", (F.col("c_acctbal") + 20.0).alias("c_acctbal"),
                F.lit(2).alias("priority"))
    )
    w = Window.partitionBy("c_custkey").orderBy(F.desc("priority"))
    winner = (
        src_a.unionByName(src_b)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("c_custkey", "c_acctbal")
    )
    t = tgt.alias("t")
    s = winner.alias("w")
    joined = t.join(s, F.col("t.c_custkey") == F.col("w.c_custkey"), "full_outer")
    return joined.select(
        F.coalesce(F.col("t.c_custkey"), F.col("w.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("w.c_acctbal"), F.col("t.c_acctbal")).alias("c_acctbal"),
        F.when(F.col("t.c_custkey").isNull(), "INSERT")
        .when(F.col("w.c_custkey").isNull(), "KEEP")
        .otherwise("UPDATE")
        .alias("action"),
    )


# --- merge_broadcast_delta: the small-source broadcast strategy ---
# (a ~1.8 % delta merged into orders; at 100 TB the target MUST NOT shuffle —
# changeset.py decomposes the full outer into target ⟕ broadcast(delta) plus
# delta ▷ broadcast(matched keys); content identical to strategy='shuffle',
# proven op-for-op by tests/test_golden_merge.py::TestBroadcastStrategy)


@register(
    "merge_broadcast_delta",
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
    description="small-source broadcast merge: a ~1.8% delta upserts into the "
    "full table without shuffling it (left-outer broadcast probe plus a "
    "key-pruned semi scan feeding the INSERT anti join); unchanged delta "
    "rows are KEEP-suppressed by the same null-safe change detection as "
    "merge_full",
)
def merge_broadcast_delta(spark, sf_dir):
    cs = build_changeset(
        load(spark, sf_dir, "orders"),
        orders_delta(spark, sf_dir),
        "o_orderkey",
        delete="NO",  # a delta covers only changed keys — unmatched rows stay
        strategy="broadcast",
    )
    return cs.df.filter(F.col("_action") != "KEEP").select(
        "o_orderkey",
        F.col("_action").alias("action"),
        F.col("_new.o_orderstatus").alias("new_status"),
        F.col("_new.o_totalprice").alias("new_totalprice"),
    )


# --- merge_sparse_patch (r6): column-level sparse patch merge -------------


@register(
    "merge_sparse_patch",
    oracle=f"""
WITH src AS ({ORDERS_PATCH_SQL})
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN t.o_orderkey IS NULL THEN 'INSERT'
            WHEN (s.o_custkey IS NOT NULL AND s.o_custkey IS DISTINCT FROM t.o_custkey)
              OR (s.o_orderstatus IS NOT NULL AND s.o_orderstatus IS DISTINCT FROM t.o_orderstatus)
              OR (s.o_totalprice IS NOT NULL AND s.o_totalprice IS DISTINCT FROM t.o_totalprice)
              OR (s.o_orderdate IS NOT NULL AND s.o_orderdate IS DISTINCT FROM t.o_orderdate)
              OR (s.o_orderpriority IS NOT NULL AND s.o_orderpriority IS DISTINCT FROM t.o_orderpriority)
            THEN 'UPDATE' ELSE 'KEEP' END AS action,
       coalesce(s.o_orderstatus, t.o_orderstatus) AS new_status,
       coalesce(s.o_totalprice, t.o_totalprice) AS new_totalprice,
       coalesce(s.o_orderdate, t.o_orderdate) AS new_orderdate
  FROM orders t
  FULL OUTER JOIN src s ON t.o_orderkey = s.o_orderkey
""",
    description="column-level sparse patch merge (update_mode='patch'): a "
    "NULL source column is a hole, not a value — the UPDATE image is "
    "per-column COALESCE(source, target), change detection counts only "
    "NON-NULL source columns, and an all-null or value-equal patch row "
    "stays KEEP (no rewrite).  Extends the reference's always-overwrite "
    "UPDATE (sp_SimpleMerge.sql:298-308) with the sparse-update warehouse "
    "shape real feeds carry (only the columns that moved); same single "
    "full-outer changeset plan — the mode only changes column expressions, "
    "so every strategy/delete-mode lever composes unchanged",
)
def merge_sparse_patch(spark, sf_dir):
    cs = build_changeset(
        load(spark, sf_dir, "orders"),
        orders_patch(spark, sf_dir),
        "o_orderkey",
        delete="NO",  # patch feeds never delete — absent keys stay
        update_mode="patch",
    )
    return cs.df.select(
        "o_orderkey",
        F.col("_action").alias("action"),
        F.col("_new.o_orderstatus").alias("new_status"),
        F.col("_new.o_totalprice").alias("new_totalprice"),
        F.col("_new.o_orderdate").alias("new_orderdate"),
    )


# --- merge_column_change_profile (r6) ---------------------------------------


@register(
    "merge_column_change_profile",
    oracle=f"""
WITH src AS ({ORDERS_DELTA_SQL}),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n_matched,
         CAST(sum(CASE WHEN s.o_custkey IS DISTINCT FROM t.o_custkey
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_custkey,
         CAST(sum(CASE WHEN s.o_orderstatus IS DISTINCT FROM t.o_orderstatus
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_status,
         CAST(sum(CASE WHEN s.o_totalprice IS DISTINCT FROM t.o_totalprice
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_price,
         CAST(sum(CASE WHEN s.o_orderdate IS DISTINCT FROM t.o_orderdate
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_date,
         CAST(sum(CASE WHEN s.o_orderpriority IS DISTINCT FROM t.o_orderpriority
                       THEN 1 ELSE 0 END) AS BIGINT) AS c_priority
    FROM src s JOIN orders t ON t.o_orderkey = s.o_orderkey
)
SELECT col, n_changed, n_matched,
       CAST(n_changed AS DOUBLE) / CAST(n_matched AS DOUBLE) AS change_frac
  FROM (
    SELECT 'o_custkey' AS col, c_custkey AS n_changed, n_matched FROM m
    UNION ALL SELECT 'o_orderstatus', c_status, n_matched FROM m
    UNION ALL SELECT 'o_totalprice', c_price, n_matched FROM m
    UNION ALL SELECT 'o_orderdate', c_date, n_matched FROM m
    UNION ALL SELECT 'o_orderpriority', c_priority, n_matched FROM m
  )
""",
    description="per-column change profile of a merge feed (the changeset "
    "introspection a warehouse team reads before enabling a feed: WHICH "
    "columns actually drive updates, and at what rate): matched source/"
    "target rows compared column-by-column with null-safe inequality "
    "(eqNullSafe negation = IS DISTINCT FROM — the same comparator "
    "update_changed uses, sp_SimpleMerge.sql:275-309's INTERSECT "
    "semantics), ONE key-join shuffle + one global agg, unpivoted to a "
    "row per column via stack(); exact counts, one division per fraction",
)
def merge_column_change_profile(spark, sf_dir):
    from sparkmerge.queries.fixtures import orders_delta

    src = orders_delta(spark, sf_dir)
    tgt = load(spark, sf_dir, "orders")
    j = src.alias("s").join(
        tgt.alias("t"), F.col("s.o_orderkey") == F.col("t.o_orderkey")
    )
    cols = [
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    aggs = [F.count(F.lit(1)).alias("n_matched")] + [
        F.sum(
            F.when(~F.col(f"s.{c}").eqNullSafe(F.col(f"t.{c}")), 1).otherwise(0)
        ).alias(f"c_{i}")
        for i, c in enumerate(cols)
    ]
    m = j.agg(*aggs)
    stack_args = ", ".join(f"'{c}', c_{i}" for i, c in enumerate(cols))
    return m.selectExpr(
        f"stack({len(cols)}, {stack_args}) AS (col, n_changed)", "n_matched"
    ).select(
        "col",
        "n_changed",
        "n_matched",
        (F.col("n_changed").cast("double") / F.col("n_matched").cast("double")).alias(
            "change_frac"
        ),
    )


# --- merge_upsert_latest (r7): recency-dedup-then-merge ---------------------


@register(
    "merge_upsert_latest",
    oracle=f"""
WITH feed AS ({ORDERS_UPSERT_FEED_SQL}),
latest AS (
  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         o_orderdate, o_orderpriority
    FROM (
      SELECT *, row_number() OVER (
               PARTITION BY o_orderkey
               ORDER BY src_seq DESC, o_custkey, o_orderstatus,
                        o_totalprice, o_orderdate, o_orderpriority) AS rn
        FROM feed) WHERE rn = 1
)
SELECT coalesce(t.o_orderkey, s.o_orderkey) AS o_orderkey,
       CASE WHEN s.o_orderkey IS NULL THEN t.o_custkey ELSE s.o_custkey END AS o_custkey,
       CASE WHEN s.o_orderkey IS NULL THEN t.o_orderstatus ELSE s.o_orderstatus END AS o_orderstatus,
       CASE WHEN s.o_orderkey IS NULL THEN t.o_totalprice ELSE s.o_totalprice END AS o_totalprice,
       CASE WHEN s.o_orderkey IS NULL THEN t.o_orderdate ELSE s.o_orderdate END AS o_orderdate,
       CASE WHEN s.o_orderkey IS NULL THEN t.o_orderpriority ELSE s.o_orderpriority END AS o_orderpriority
  FROM orders t FULL OUTER JOIN latest s ON t.o_orderkey = s.o_orderkey
""",
    description="recency-dedup-then-merge (latest_per_key): a multi-"
    "version CDC/upsert feed — several rows per key carrying a source "
    "sequence/timestamp — reduces to latest-per-key by ONE rank window "
    "BEFORE the changeset join, then merges with delete='NO' (upsert "
    "feeds never delete); the feed shape the reference hard-rejects via "
    "its duplicate-key @badKey error (sp_SimpleMerge.sql:63).  The rank "
    "window shuffles the raw feed on the key; the REDUCED latest-per-key "
    "rows then re-shuffle into the null-safe join (Catalyst's "
    "coalesce/isnull join-key rewrite is not satisfied by the window's "
    "raw-key partitioning — measured r12, BASELINE.md: the extra exchange "
    "moves delta-sized rows and is below noise at sf10; plan shape pinned "
    "at 3 exchanges by test).  The ranking column is feed metadata and is "
    "dropped before the schema-checked join.  Output is the upserted end "
    "state (apply_changes); sf10 profile 6.2-6.8 s warm ≈ 1.0-1.1× DuckDB",
)
def merge_upsert_latest(spark, sf_dir):
    latest = latest_per_key(orders_upsert_feed(spark, sf_dir), "o_orderkey", "src_seq")
    cs = build_changeset(load(spark, sf_dir, "orders"), latest, "o_orderkey", delete="NO")
    return cs.apply_changes()
