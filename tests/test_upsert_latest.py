"""source_latest_by golden tests (r7 verdict ask #1, merge_upsert_latest):
recency-dedup a multi-version feed to latest-per-key BEFORE the changeset
join, then merge.  The golden equivalence: one upsert-latest merge of the
whole feed ≡ replaying the feed's versions sequentially in ascending
sequence order (each version a plain merge with delete='NO')."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sparkmerge.changeset import build_changeset, latest_per_key
from sparkmerge.errors import MergeValidationError
from sparkmerge.merge import simple_merge
from sparkmerge.queries.fixtures import orders_upsert_feed
from sparkmerge.table import SnapshotTable

SF_DIR = "/root/testdata/sf0.001"


def same_rows(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_latest_per_key_picks_highest_seq_and_drops_column(spark):
    schema = "k int, v string, seq int"
    s = spark.createDataFrame(
        [(1, "old", 1), (1, "new", 2), (2, "only", 5)], schema
    )
    got = latest_per_key(s, "k", "seq")
    assert got.columns == ["k", "v"]
    assert {(r["k"], r["v"]) for r in got.collect()} == {(1, "new"), (2, "only")}


def test_latest_per_key_deterministic_tiebreak(spark):
    # equal seq: remaining columns ascending break the tie — 'a' < 'b'
    s = spark.createDataFrame([(1, "b", 1), (1, "a", 1)], "k int, v string, seq int")
    got = latest_per_key(s, "k", "seq").collect()
    assert [(r["k"], r["v"]) for r in got] == [(1, "a")]


def test_latest_per_key_validates(spark):
    s = spark.createDataFrame([(1, "x", 1)], "k int, v string, seq int")
    with pytest.raises(MergeValidationError, match="missing"):
        latest_per_key(s, "k", "nope")
    with pytest.raises(MergeValidationError, match="overlap"):
        latest_per_key(s, "k", "k")


def test_upsert_latest_equals_sequential_replay(spark, tmp_path):
    """One merge with source_latest_by ≡ replaying versions in seq order."""
    feed = orders_upsert_feed(spark, SF_DIR)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")

    t_once = SnapshotTable.create(spark, str(tmp_path / "once"), orders)
    simple_merge(
        spark, t_once, feed, "o_orderkey", delete="NO", source_latest_by="src_seq"
    )

    t_replay = SnapshotTable.create(spark, str(tmp_path / "replay"), orders)
    seqs = sorted(
        r["src_seq"] for r in feed.select("src_seq").distinct().collect()
    )
    for s in seqs:
        batch = feed.filter(F.col("src_seq") == s).drop("src_seq")
        simple_merge(spark, t_replay, batch, "o_orderkey", delete="NO")

    assert same_rows(t_once.read(spark), t_replay.read(spark))


def test_upsert_latest_value_equal_winner_is_keep(spark):
    """A later version that equals the target byte-for-byte must classify
    KEEP (recency pick happens BEFORE change detection)."""
    t = spark.createDataFrame([(1, "v")], "k int, v string")
    s = spark.createDataFrame(
        [(1, "changed", 1), (1, "v", 2)], "k int, v string, seq int"
    )
    cs = build_changeset(t, latest_per_key(s, "k", "seq"), "k", delete="NO")
    assert [r["_action"] for r in cs.df.collect()] == ["KEEP"]


def test_upsert_latest_composes_with_broadcast_strategy(spark):
    """The reduced feed is duplicate-free, so every changeset strategy
    composes; broadcast must yield the identical changeset."""
    feed = orders_upsert_feed(spark, SF_DIR)
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    latest = latest_per_key(feed, "o_orderkey", "src_seq")
    a = build_changeset(orders, latest, "o_orderkey", delete="NO")
    b = build_changeset(orders, latest, "o_orderkey", delete="NO", strategy="broadcast")
    fa = a.df.select("o_orderkey", "_action", "_new.o_orderstatus", "_new.o_totalprice")
    fb = b.df.select("o_orderkey", "_action", "_new.o_orderstatus", "_new.o_totalprice")
    assert same_rows(fa, fb)
