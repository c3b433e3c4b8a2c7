"""Merges into a partitioned SnapshotTable (SURVEY.md §7.2 100 TB design).

``merge_partitioned`` is a second name for ``simple_merge``; the table's
record picks the write.  The load-bearing claims under test:
1. write pruning is invisible: the merge ≡ ``merge_preview`` on the same
   inputs (row-for-row);
2. untouched partitions are carried forward BY REFERENCE (same manifest
   paths, files physically untouched), not rewritten;
3. an idempotent merge is a metadata-only commit (zero data retained);
4. scan pruning with the partition column in the key ≡ partition-scoped
   merge semantics;
5. threshold abort never publishes the staged version.
"""

import os

import pytest
from pyspark.errors import SparkRuntimeException
from pyspark.sql import functions as F

from sparkmerge.errors import MergeError, MergeThresholdExceeded, MergeValidationError
from sparkmerge.merge import merge_partitioned, merge_preview, simple_merge
from sparkmerge.ptable import PartitionedSnapshotTable
from sparkmerge.table import HIVE_NULL, SnapshotTable

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders(spark):
    return spark.read.parquet(f"{SF}/orders.parquet")


def mutated(orders):
    """Deterministic source: updates (%3), deletes (%10), inserts (%50)."""
    upd = F.col("o_orderkey") % 3 == 0
    base = orders.where(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey", "o_custkey", "o_orderstatus",
        F.when(upd, F.col("o_orderkey").cast("double")).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
        "o_orderdate", "o_orderpriority",
    )
    ins = orders.where(F.col("o_orderkey") % 50 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey", "o_orderstatus",
        F.col("o_orderkey").cast("double").alias("o_totalprice"),
        "o_orderdate", "o_orderpriority",
    )
    return base.unionAll(ins)


def same_rows(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def data_dirs(t):
    """The writer directories under ``files/``, whatever their names."""
    return set(os.listdir(os.path.join(t.path, "files")))


def named_dirs(t):
    """The writer directories some retained manifest names."""
    return {d.split(os.sep)[1] for v in t.versions() for d in t.partitions(v).values()}


def test_create_read_roundtrip(spark, orders, tmp_path):
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    assert same_rows(t.read(spark), orders)
    assert sorted(t.partitions()) == ["F", "O", "P"]
    # pruned read only lists the requested partition's directory
    o_only = t.read_partitions(spark, ["O"])
    assert o_only.count() == orders.filter("o_orderstatus = 'O'").count()


def test_partitioned_merge_matches_full_merge(spark, orders, tmp_path):
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    src = mutated(orders)
    res = merge_partitioned(spark, t, src, "o_orderkey")
    expected = merge_preview(orders, src, "o_orderkey")
    assert same_rows(t.read(spark), expected)
    assert res.committed and res.version == 2
    assert res.changed_rows == res.audit_rows or res.audit_rows is None


def test_untouched_partitions_carried_by_reference(spark, orders, tmp_path):
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    v1_parts = t.partitions()
    # source touches ONLY the 'O' partition (status is in the key → prunable)
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    merge_partitioned(spark, t, src, ["o_orderkey", "o_orderstatus"], prune_scan=True)
    v2_parts = t.partitions()
    assert v2_parts["F"] == v1_parts["F"] and v2_parts["P"] == v1_parts["P"]
    assert v2_parts["O"] != v1_parts["O"]
    assert os.path.dirname(v2_parts["O"]) != os.path.dirname(v1_parts["F"])  # a new writer dir
    # scan-pruned semantics: 'F'/'P' rows byte-identical, 'O' converged to src
    final = t.read(spark)
    assert same_rows(final.filter("o_orderstatus <> 'O'"),
                     orders.filter("o_orderstatus <> 'O'"))
    assert same_rows(final.filter("o_orderstatus = 'O'"), src)


def test_idempotent_merge_is_metadata_only(spark, orders, tmp_path):
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    dirs = data_dirs(t)
    res = merge_partitioned(spark, t, orders, "o_orderkey")
    assert res.changed_rows == 0 and res.committed and t.current_version() == 2
    # nothing rewritten: every manifest entry still points at v1 data
    assert t.partitions() == t.partitions(version=1)
    assert data_dirs(t) == dirs


def test_emptied_partition_dropped_from_manifest(spark, orders, tmp_path):
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    src = orders.filter("o_orderstatus <> 'P'")  # delete every 'P' row
    merge_partitioned(spark, t, src, "o_orderkey")
    assert sorted(t.partitions()) == ["F", "O"]
    assert t.read(spark).filter("o_orderstatus = 'P'").count() == 0
    # the one rewritten partition came back empty: no writer dir was kept
    assert data_dirs(t) == named_dirs(t)


def test_null_partition_values(spark, orders, tmp_path):
    with_null = orders.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 4 == 0, None).otherwise(F.col("o_orderstatus")),
    )
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), with_null, "o_orderstatus")
    assert HIVE_NULL in t.partitions()
    assert same_rows(t.read(spark), with_null)
    src = mutated(with_null)
    merge_partitioned(spark, t, src, "o_orderkey")
    assert same_rows(t.read(spark), merge_preview(with_null, src, "o_orderkey"))


def test_threshold_abort_leaves_table_untouched(spark, orders, tmp_path, monkeypatch):
    """A threshold trip stages nothing: the lake merge knows its counts
    before it writes, so ``stage_merge`` never runs and no writer
    directory appears under ``files/``."""
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    files = tmp_path / "t" / "files"
    dirs_before = sorted(os.listdir(files))
    stage_calls = []
    stage_merge = PartitionedSnapshotTable.stage_merge

    def counting_stage_merge(self, *args, **kwargs):
        stage_calls.append(args)
        return stage_merge(self, *args, **kwargs)

    monkeypatch.setattr(PartitionedSnapshotTable, "stage_merge", counting_stage_merge)
    with pytest.raises(MergeThresholdExceeded):
        merge_partitioned(spark, t, orders.limit(3), "o_orderkey", threshold="1%")
    assert stage_calls == []
    assert sorted(os.listdir(files)) == dirs_before
    assert t.current_version() == 1
    assert not os.path.exists(str(tmp_path / "t" / "v=2.json"))
    assert same_rows(t.read(spark), orders)
    assert "lastUpdate" not in t.properties()


def test_prune_scan_threshold_trip_leaves_table_unchanged(spark, orders, tmp_path):
    """A scan-pruned merge writes its candidate partitions before it knows
    its counts; a threshold trip then discards that write: no new version
    record, the same writer directories, no lastUpdate."""
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    dirs, v1 = data_dirs(t), t.partitions()
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    with pytest.raises(MergeThresholdExceeded):
        merge_partitioned(spark, t, src, ["o_orderkey", "o_orderstatus"],
                          prune_scan=True, threshold="1%")
    assert t.versions() == [1]
    assert sorted(os.listdir(tmp_path / "t")) == ["files", "v=1.json"]
    assert data_dirs(t) == dirs and t.partitions() == v1
    assert "lastUpdate" not in t.properties()
    assert same_rows(t.read(spark), orders)


def test_prune_scan_carries_unchanged_candidate_forward(spark, orders, tmp_path):
    """A source that covers 'O' and 'F' but changes only 'O' rewrites 'O';
    'F' keeps its parent's manifest entry, and its staged copy is gone."""
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    v1 = t.partitions()
    bump = F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice") + 1.0)
    src = orders.filter("o_orderstatus IN ('O', 'F')").withColumn(
        "o_totalprice", bump.otherwise(F.col("o_totalprice")))
    res = merge_partitioned(spark, t, src, ["o_orderkey", "o_orderstatus"], prune_scan=True)
    assert res.changed_rows == orders.filter("o_orderstatus = 'O'").count()
    v2 = t.partitions()
    assert v2["F"] == v1["F"] and v2["P"] == v1["P"] and v2["O"] != v1["O"]
    written = os.listdir(tmp_path / "t" / os.path.dirname(v2["O"]))
    assert [e for e in written if e.startswith("__part=")] == ["__part=O"]
    assert data_dirs(t) == named_dirs(t)
    assert same_rows(t.read(spark), merge_preview(orders, src, "o_orderkey", delete="NO"))


def test_prune_scan_into_new_partitions(spark, tmp_path):
    """A source whose partitions are all new to the table scans nothing:
    every row is an INSERT, counted by the write's observation (Catalyst
    keeps it over the empty scanned scope)."""
    t, df = _ints_table(spark, str(tmp_path / "t"))
    v1 = t.partitions()
    src = spark.createDataFrame([(5, "D", 50), (6, "E", 60), (7, "E", 70)], "k int, p string, v int")
    res = merge_partitioned(spark, t, src, ["k", "p"], prune_scan=True)
    assert (res.changed_rows, res.target_rows_before) == (3, 0)
    src2 = spark.createDataFrame([(8, "F", 80), (9, "G", 90)], "k int, p string, v int")
    res = merge_partitioned(spark, t, src2, ["k", "p"], prune_scan=True)
    assert (res.changed_rows, res.target_rows_before) == (2, 0)
    parts = t.partitions()
    assert sorted(parts) == ["A", "B", "C", "D", "E", "F", "G"]
    assert all(parts[p] == v1[p] for p in v1)
    assert same_rows(t.read(spark), df.unionByName(src).unionByName(src2))


def test_prune_scan_soft_delete_into_unscanned_partition_fails(spark, tmp_path):
    """A soft-delete SET that moves a scanned row into a partition the merge
    did not scan would replace that partition with the moved rows alone; the
    merge raises and commits nothing instead."""
    t, df = _ints_table(spark, str(tmp_path / "t"))
    dirs = data_dirs(t)
    src = spark.createDataFrame([(1, "A", 11)], "k int, p string, v int")
    with pytest.raises(MergeError, match="'C'"):
        merge_partitioned(spark, t, src, ["k", "p"], prune_scan=True, delete="set p = 'C'")
    assert t.versions() == [1] and data_dirs(t) == dirs
    assert same_rows(t.read(spark), df)


def test_prune_scan_requires_partition_col_in_key(spark, orders, tmp_path):
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    with pytest.raises(MergeValidationError):
        merge_partitioned(spark, t, orders, "o_orderkey", prune_scan=True)


def test_vacuum_keeps_referenced_dirs(spark, orders, tmp_path):
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    merge_partitioned(spark, t, src, ["o_orderkey", "o_orderstatus"], prune_scan=True)
    merge_partitioned(spark, t, src, ["o_orderkey", "o_orderstatus"], prune_scan=True)
    removed = t.vacuum(keep=1)
    assert removed  # old manifests dropped
    # v1 dirs still referenced by the current manifest must survive
    assert same_rows(t.read(spark).filter("o_orderstatus <> 'O'"),
                     orders.filter("o_orderstatus <> 'O'"))


def test_commit_conflict_detected(spark, orders, tmp_path):
    """A handle staged on a version that is no longer current is refused,
    on both table kinds, even after later commits moved past it."""
    from sparkmerge.errors import MergeConflictError
    from sparkmerge.table import SnapshotTable

    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    # writer A stages against v1...
    staged_a = t.stage_merge(orders.filter("o_orderstatus = 'O'"), {"O"})
    # ...but writer B commits v2 and then v3 first
    t.compact(spark)
    t.compact(spark)
    with pytest.raises(MergeConflictError):
        # A's staged version now trails the current one — publishing must refuse
        t.commit(staged_a)
    assert t.versions() == [1, 2, 3]

    # plain SnapshotTable: same contract
    s = SnapshotTable.create(spark, str(tmp_path / "s"), orders.limit(10))
    stale = s.stage(orders.limit(5))
    s.add_columns(spark, {"x": "int"})  # a concurrent writer took v2
    assert s.commit(s.stage(orders.limit(3))) == 3  # staged on v2: no conflict
    with pytest.raises(MergeConflictError):
        s.commit(stale)  # stale staged version must refuse
    assert s.versions() == [1, 2, 3] and s.read(spark).count() == 3


def test_compact_merges_small_files(spark, orders, tmp_path):
    t = PartitionedSnapshotTable.create(
        spark, str(tmp_path / "t"), orders.repartition(6), "o_orderstatus"
    )
    before = t.read(spark)

    def files_of(val):
        d = os.path.join(str(tmp_path / "t"), t.partitions()[val])
        return [f for f in os.listdir(d) if f.endswith(".parquet")]

    assert len(files_of("O")) > 1  # fragmented by the 6-way repartition
    v = t.compact(spark)
    assert v == t.current_version() == 2
    assert len(files_of("O")) == 1
    assert same_rows(t.read(spark), before)  # data identical
    # partial compaction: only chosen partitions rewritten
    t2_parts_before = t.partitions()
    t.compact(spark, values=["F"])
    assert t.partitions()["O"] == t2_parts_before["O"]  # untouched by reference


def test_schema_evolution_widen_then_merge(spark, orders, tmp_path):
    from sparkmerge.merge import simple_merge
    from sparkmerge.table import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), orders.limit(100))
    src_wide = orders.limit(100).withColumn("o_score", F.lit(1.5))
    # source grew a column the target lacks → reference rule rejects it
    with pytest.raises(MergeValidationError):
        simple_merge(spark, t, src_wide, "o_orderkey")
    # explicit widening step, then the same merge succeeds
    t.add_columns(spark, {"o_score": "double"})
    assert t.read(spark).filter(F.col("o_score").isNull()).count() == 100
    res = simple_merge(spark, t, src_wide, "o_orderkey")
    assert res.committed
    assert t.read(spark).filter(F.col("o_score") == 1.5).count() == 100


def test_streaming_foreachbatch_into_partitioned_table(spark, orders, tmp_path):
    """The full 100 TB pattern end-to-end: a stream of micro-batch upserts
    applied with merge_partitioned — only the partitions each batch touches
    are rewritten."""
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    multi = str(tmp_path / "src_batches")
    src.repartitionByRange(3, "o_orderkey").write.parquet(multi)
    v1_parts = t.partitions()

    schema = spark.read.parquet(multi).schema

    def sink(batch_df, batch_id):
        merge_partitioned(
            spark, t, batch_df, ["o_orderkey", "o_orderstatus"],
            prune_scan=True, delete="NO",
        )

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.awaitTermination(180)

    # untouched partitions: still the v1 directories, byte-identical
    assert t.partitions()["F"] == v1_parts["F"]
    assert t.partitions()["P"] == v1_parts["P"]
    # upserts applied (delete='NO': unmatched target rows remain)
    final = t.read(spark)
    expected = merge_preview(orders, src, "o_orderkey", delete="NO")
    assert same_rows(final, expected)


def test_full_stage_rewrites_every_partition(spark, orders, tmp_path):
    """``stage`` on a partitioned table writes the whole next version: every
    partition it holds comes from the one new writer directory, and a
    partition it lacks is gone."""
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    v1 = t.partitions()
    rest = orders.filter("o_orderstatus <> 'P'")
    staged = t.stage(rest)
    assert t.commit(staged) == 2
    v2 = t.partitions()
    assert sorted(v2) == ["F", "O"]
    assert {os.path.dirname(d) for d in v2.values()} == {staged.data_dir}
    assert not set(v2.values()) & set(v1.values())
    assert same_rows(t.read(spark), rest)


def test_add_columns_on_partitioned_table(spark, tmp_path):
    """Widening a partitioned table commits a NULL-filled version that keeps
    its partitions; the previous version keeps the old schema."""
    t, df = _ints_table(spark, str(tmp_path / "t"))
    assert t.add_columns(spark, {"score": "double"}) == 2
    got = t.read(spark)
    assert got.columns == ["k", "p", "v", "score"]
    assert same_rows(got, df.withColumn("score", F.lit(None).cast("double")))
    assert sorted(t.partitions()) == ["A", "B", "C"]
    assert t.read(spark, version=1).columns == ["k", "p", "v"]
    res = merge_partitioned(spark, t, got.filter("p = 'A'").withColumn("score", F.lit(1.5)),
                            ["k", "p"], prune_scan=True)
    assert res.changed_rows == 2
    assert sorted(r["score"] for r in t.read(spark).filter("p = 'A'").collect()) == [1.5, 1.5]


@pytest.mark.parametrize("partition_by", [None, "p"])
def test_one_record_shape_and_layout(spark, tmp_path, partition_by):
    """Both kinds keep every version in one record shape, properties
    included; after create, merge, threshold trip, set_property, compact and
    vacuum the table directory holds only ``files/`` and the records.  A
    merge stamps ``lastUpdate`` into its own version only."""
    assert PartitionedSnapshotTable is SnapshotTable
    path = str(tmp_path / "t")
    rows = [(k, p, k * 10) for k, p in [(1, "A"), (2, "A"), (3, "B"), (4, "C")]]
    df = spark.createDataFrame(rows, "k int, p string, v int")
    t = SnapshotTable.create(spark, path, df, partition_by)
    src = df.withColumn("v", F.col("v") + 1)
    assert simple_merge(spark, t, src, ["k", "p"]).version == 2
    assert "lastUpdate" in t.properties() and "lastUpdate" not in t.properties(version=1)
    stamp = t.properties()["lastUpdate"]
    with pytest.raises(MergeThresholdExceeded):
        simple_merge(spark, t, src.withColumn("v", F.col("v") + 1), ["k", "p"], threshold="1%")
    assert t.versions() == [1, 2] and t.properties()["lastUpdate"] == stamp
    assert t.set_property("owner", "etl") == 3
    assert t.properties() == {"lastUpdate": stamp, "owner": "etl"}
    assert t.partitions() == t.partitions(version=2)
    assert t.compact(spark) == 4 and t.properties()["owner"] == "etl"
    records = [t.manifest(v) for v in t.versions()]
    assert {frozenset(r) for r in records} == {
        frozenset({"version", "schema", "partition_by", "partitions", "properties"})}
    assert {r["partition_by"] for r in records} == {partition_by}
    assert t.vacuum(keep=1) == [1, 2, 3]
    assert sorted(os.listdir(path)) == ["files", "v=4.json"]
    assert same_rows(t.read(spark), src)


def test_merge_partitioned_needs_a_partitioned_table(spark, tmp_path):
    """Scan pruning needs the partition column in the key; an unpartitioned
    table has none, so ``prune_scan`` raises there and stages nothing."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), spark.range(3).toDF("k"))
    dirs = data_dirs(t)
    assert merge_partitioned is simple_merge
    with pytest.raises(MergeValidationError, match="partition_by=None"):
        merge_partitioned(spark, t, spark.range(2).toDF("k"), "k", prune_scan=True)
    assert t.versions() == [1] and data_dirs(t) == dirs


@pytest.mark.parametrize("prune_scan", [False, True])
def test_target_filter_on_partitioned_table(spark, orders, tmp_path, prune_scan):
    """``target_filter`` on a partitioned table: the committed version equals
    ``merge_preview`` of the scanned rows, plus any unscanned partition as it
    was.  Out-of-scope rows survive inside a rewritten partition, and a
    partition the merge does not change keeps its v1 directory."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    v1 = t.partitions()
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    keys, flt = ["o_orderkey", "o_orderstatus"], "o_custkey % 2 = 0 AND o_orderstatus <> 'P'"
    simple_merge(spark, t, src, keys, target_filter=flt, prune_scan=prune_scan)
    scanned = orders.filter("o_orderstatus = 'O'") if prune_scan else orders
    expected = merge_preview(scanned, src, keys, target_filter=flt)
    if prune_scan:
        expected = expected.unionByName(orders.filter("o_orderstatus <> 'O'"))
    assert same_rows(t.read(spark), expected)
    # a full scan deletes F's in-scope rows; every 'P' row is out of scope
    v2 = t.partitions()
    assert {p for p in v2 if v2[p] != v1[p]} == ({"O"} if prune_scan else {"O", "F"})
    assert data_dirs(t) == named_dirs(t)


@pytest.mark.parametrize("prune_scan", [False, True])
def test_schema_evolution_on_partitioned_table(spark, tmp_path, prune_scan):
    """A merge that widens a partitioned table commits the whole widened
    version: every row reads back, the old ones with NULL in the new column,
    and the previous version keeps the old schema."""
    t, df = _ints_table(spark, str(tmp_path / "t"))
    src = spark.createDataFrame([(1, "A", 11, 1.5), (5, "D", 50, 2.5)],
                                "k int, p string, v int, score double")
    res = simple_merge(spark, t, src, ["k", "p"], delete="NO", schema_evolution=True,
                       prune_scan=prune_scan)
    assert (res.version, res.changed_rows) == (2, 2)
    got = t.read(spark)
    assert got.columns == ["k", "p", "v", "score"]
    nulls = df.filter("k <> 1").withColumn("score", F.lit(None).cast("double"))
    assert same_rows(got, nulls.unionByName(src))
    assert sorted(t.partitions()) == ["A", "B", "C", "D"]
    assert t.read(spark, version=1).columns == ["k", "p", "v"]


def test_composite_partition_via_derived_column(spark, orders, tmp_path):
    """The documented multi-column partitioning pattern (table.py module
    docstring): partition by a derived composite column, include it in the
    join key, and scan/write pruning both apply per composite value."""
    base = orders.withColumn(
        "part_key",
        F.concat_ws("|", F.col("o_orderstatus"), (F.col("o_custkey") % 2).cast("string")),
    )
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), base, "part_key")
    assert len(t.partitions()) == 6  # 3 statuses x 2 buckets
    v1 = t.partitions()

    src = mutated(base.filter("part_key = 'O|0'")).withColumn(
        "part_key",
        F.concat_ws("|", F.col("o_orderstatus"), (F.col("o_custkey") % 2).cast("string")),
    )
    merge_partitioned(spark, t, src, ["o_orderkey", "part_key"], prune_scan=True)
    after = t.partitions()
    untouched = [k for k in after if k != "O|0"]
    assert all(after[k] == v1[k] for k in untouched)
    assert after["O|0"] != v1["O|0"]
    assert same_rows(t.read(spark).filter("part_key = 'O|0'"), src)


def test_partitioned_merge_audit_and_threshold(spark, orders, tmp_path):
    """merge_partitioned matrix: audit sink receives the changeset, and the
    threshold guard aborts without publishing OR stamping."""
    import pytest as _pytest

    from sparkmerge.errors import MergeThresholdExceeded as _Thresh

    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    audit = str(tmp_path / "audit")
    res = merge_partitioned(
        spark, t, src, ["o_orderkey", "o_orderstatus"],
        prune_scan=True, audit_path=audit, threshold="99%",
    )
    a = spark.read.parquet(audit)
    assert a.count() == res.changed_rows == res.audit_rows
    assert set(r.action for r in a.select("action").distinct().collect()) <= {
        "INSERT", "UPDATE", "DELETE"
    }
    # threshold abort on a second, tiny-source merge
    v = t.current_version()
    with _pytest.raises(_Thresh):
        merge_partitioned(
            spark, t, src.limit(1), ["o_orderkey", "o_orderstatus"],
            prune_scan=True, threshold="0.0001%",
        )
    assert t.current_version() == v


def test_many_changed_partitions_semi_join_path(spark, orders, tmp_path):
    """80 changed partitions, one of whose values needs SQL quoting, filter
    through one IN-list: the merge runs 7 Spark jobs and commits the
    source's rows."""
    bucket = (F.col("o_custkey") % 80).cast("string")
    base = orders.withColumn("bucket", F.when(bucket == "0", "it's \\0").otherwise(bucket))
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), base, "bucket")
    assert len(t.partitions()) == 80
    assert "it's \\0" in t.partitions()
    src = base.withColumn(
        "o_totalprice", F.col("o_totalprice") + 1.0  # touch every partition
    )
    res = []
    assert _jobs(spark, "ptable-80", lambda: res.append(
        merge_partitioned(spark, t, src, "o_orderkey"))) == 7
    assert res[0].committed
    assert same_rows(t.read(spark), src)


def test_time_travel_reads(spark, orders, tmp_path):
    """MVCC time travel: every retained version stays readable by number on
    both table types; vacuumed versions raise/vanish."""
    from sparkmerge.table import SnapshotTable

    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    merge_partitioned(spark, t, src, ["o_orderkey", "o_orderstatus"], prune_scan=True)
    assert t.versions() == [1, 2]
    assert same_rows(t.read(spark, version=1), orders)   # pre-merge state
    assert same_rows(t.read(spark), t.read(spark, version=2))

    s = SnapshotTable.create(spark, str(tmp_path / "s"), orders.limit(100))
    from sparkmerge.merge import simple_merge
    simple_merge(spark, s, orders.limit(50), "o_orderkey")
    assert s.versions() == [1, 2]
    assert s.read(spark, version=1).count() == 100
    assert s.read(spark).count() == 50
    s.vacuum(keep=1)
    with pytest.raises(MergeError):
        s.read(spark, version=1)


def test_diff_versions_reconstructs_cdc(spark, orders, tmp_path):
    """diff_versions over the MVCC history matches the merge's own counts —
    after-the-fact CDC without an audit sink."""
    from sparkmerge.merge import diff_versions, simple_merge
    from sparkmerge.table import SnapshotTable

    t = SnapshotTable.create(spark, str(tmp_path / "t"), orders)
    src = mutated(orders)
    res = simple_merge(spark, t, src, "o_orderkey")
    diff = diff_versions(spark, t, "o_orderkey", from_version=1, to_version=2)
    n_changed = diff.filter(F.col("_action") != "KEEP").count()
    assert n_changed == res.changed_rows
    by_action = {r["_action"]: r["n"] for r in
                 diff.groupBy("_action").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert by_action.get("INSERT", 0) > 0 and by_action.get("DELETE", 0) > 0


def test_partitioned_debug_dry_run(spark, orders, tmp_path):
    from sparkmerge.merge import MergeReport

    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    rep = merge_partitioned(
        spark, t, src, ["o_orderkey", "o_orderstatus"], prune_scan=True, debug=True
    )
    assert isinstance(rep, MergeReport)
    assert "scan-pruned" in rep.merge_sql and "MERGE INTO" in rep.merge_sql
    assert rep.target_rows == orders.filter("o_orderstatus = 'O'").count()
    assert t.current_version() == 1 and t.properties() == {}  # zero side effects


def test_prune_scan_with_broadcast_strategy(spark, orders, tmp_path):
    """The full 100 TB combination: partition-pruned target scan + the
    broadcast changeset (no target-row shuffle).  Must match the shuffle
    strategy's end state exactly, and untouched partitions must still be
    carried forward by reference."""
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")
    v1_parts = t.partitions()
    src = mutated(orders.filter("o_orderstatus = 'O'"))
    merge_partitioned(spark, t, src, ["o_orderkey", "o_orderstatus"],
                      prune_scan=True, strategy="broadcast")
    t2 = PartitionedSnapshotTable.create(spark, str(tmp_path / "t2"), orders, "o_orderstatus")
    merge_partitioned(spark, t2, src, ["o_orderkey", "o_orderstatus"],
                      prune_scan=True, strategy="shuffle")
    assert same_rows(t.read(spark), t2.read(spark))
    parts = t.partitions()
    assert parts["F"] == v1_parts["F"] and parts["P"] == v1_parts["P"]
    assert parts["O"] != v1_parts["O"]


def test_incremental_ingest_loop(spark, tmp_path):
    """Condensed tools/soak_incremental.py: three ingest days through a
    month-partitioned table (pruned scan + auto strategy), asserting
    copy-forward, pruned rewrites, metadata-only idempotent commits, and
    convergence to the pure-dataflow replay."""
    from sparkmerge.merge import merge_preview

    orders = spark.read.parquet(f"{SF}/orders.parquet").withColumn(
        "ds", F.date_format("o_orderdate", "yyyy-MM")
    )
    months = sorted(r["ds"] for r in orders.select("ds").distinct().collect())
    keys = ["o_orderkey", "ds"]

    def day_delta(i):
        m = orders.filter(F.col("ds") == months[i])
        mut = F.col("o_orderkey") % 2 == 0
        return m.filter(F.col("o_orderkey") % 3 == 0).select(
            "o_orderkey", "o_custkey",
            F.when(mut, F.lit("X")).otherwise(F.col("o_orderstatus")).alias("o_orderstatus"),
            F.when(mut, F.col("o_totalprice") + 1.0).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderdate", "o_orderpriority", "ds",
        )

    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "ds")
    expected = orders
    for i in range(3):
        before = t.partitions()
        delta = day_delta(i)
        merge_partitioned(spark, t, delta, keys, delete="NO",
                          prune_scan=True, strategy="auto")
        after = t.partitions()
        assert all(after[m] == before[m] for m in before if m != months[i])
        assert {m for m in after if after[m] != before.get(m)} <= {months[i]}
        expected = merge_preview(expected, delta, keys, delete="NO")
        v, dirs = t.current_version(), data_dirs(t)
        merge_partitioned(spark, t, delta, keys, delete="NO",
                          prune_scan=True, strategy="auto")
        assert t.current_version() == v + 1  # committed...
        assert data_dirs(t) == dirs  # ...metadata-only
    assert same_rows(t.read(spark), expected)
    assert same_rows(t.read(spark, version=1), orders)


def _ints_table(spark, path):
    """Three partitions A/B/C of ``k int, p string, v int``."""
    rows = [(k, p, k * 10) for k, p in [(1, "A"), (2, "A"), (3, "B"), (4, "C")]]
    df = spark.createDataFrame(rows, "k int, p string, v int")
    return PartitionedSnapshotTable.create(spark, path, df, "p"), df


def test_staged_files_match_manifest_schema(spark, tmp_path):
    """A source wider than the table (``v bigint`` into ``v int``) is cast
    to the manifest's types before staging, so the committed version stays
    readable; a value that does not fit fails the merge before commit, with
    ANSI mode on or off (a lenient cast would commit a wrapped integer), and
    the failed staging write leaves no directory behind."""
    t, df = _ints_table(spark, str(tmp_path / "t"))
    wide = df.withColumn("v", F.col("v").cast("bigint") + 1)
    merge_partitioned(spark, t, wide.filter("p = 'A'"), ["k", "p"], prune_scan=True)
    got = t.read(spark)
    assert dict(got.dtypes)["v"] == "int"
    assert sorted(r["v"] for r in got.collect()) == [11, 21, 30, 40]

    huge = wide.filter("k = 3").withColumn("v", F.lit(2**40))
    ansi = spark.conf.get("spark.sql.ansi.enabled")
    try:
        for mode in ("true", "false"):
            spark.conf.set("spark.sql.ansi.enabled", mode)
            with pytest.raises(SparkRuntimeException, match="'v': a value does not fit"):
                merge_partitioned(spark, t, huge, ["k", "p"], prune_scan=True)
            assert t.current_version() == 2
            assert not os.path.exists(str(tmp_path / "t" / "v=3.json"))
            assert data_dirs(t) == named_dirs(t)
    finally:
        spark.conf.set("spark.sql.ansi.enabled", ansi)
    assert sorted(r["v"] for r in t.read(spark).collect()) == [11, 21, 30, 40]


def _jobs(spark, tag, fn):
    """Number of Spark jobs ``fn()`` runs (counted by job group)."""
    sc = spark.sparkContext
    sc.setJobGroup(tag, tag)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(tag))


def test_job_counts_per_call(spark, orders, tmp_path):
    """A read opens with the version record's schema (no footer-inference
    job), a pruned merge finds its changed partitions on its write, and the
    one merge runs as many jobs as the table kind's write needs."""
    from sparkmerge.table import SnapshotTable

    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), orders, "o_orderstatus")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    assert _jobs(spark, "ptable-read", lambda: noop(t.read(spark))) == 1
    # a plain snapshot reads with its record's schema too (2 jobs when the
    # schema came from the parquet footers)
    s = SnapshotTable.create(spark, str(tmp_path / "s"), orders)
    assert _jobs(spark, "table-read", lambda: noop(s.read(spark))) == 1
    assert _jobs(spark, "ptable-read-parts", lambda: noop(t.read_partitions(spark, ["O"]))) == 1

    keys = ["o_orderkey", "o_orderstatus"]
    src = orders.filter("o_orderstatus = 'O'").filter(F.col("o_orderkey") % 3 == 0)

    def merge(bump):
        delta = src.withColumn("o_totalprice", F.col("o_totalprice") + bump)
        merge_partitioned(spark, t, delta, keys, prune_scan=True, strategy="auto")

    merge(1.0)  # warm-up
    # the source probe, then the changeset's one pass: the write of the
    # source's partitions, which observes the counts and the changed
    # partitions (10 jobs while a separate aggregation found them first)
    assert _jobs(spark, "ptable-merge", lambda: merge(2.0)) == 7

    def bumped(bump):
        return orders.withColumn("o_totalprice", F.when(
            F.col("o_orderkey") % 3 == 0, F.col("o_totalprice") + bump
        ).otherwise(F.col("o_totalprice")))

    # unpartitioned: the whole write, which observes the counts
    assert _jobs(spark, "table-merge", lambda: simple_merge(spark, s, bumped(1.0), keys)) == 3
    # partitioned, full scan: the changed-partition aggregation, then the
    # write of only those partitions; under either name
    for bump, fn in [(3.0, merge_partitioned), (4.0, simple_merge)]:
        assert _jobs(spark, f"ptable-full-{bump}", lambda: fn(spark, t, bumped(bump), keys)) == 6


def test_changed_partition_discovery(spark, tmp_path, monkeypatch):
    """An update that moves a row from A to B rewrites both partitions and
    carries C forward; a changed set above the ceiling stages nothing."""
    import sparkmerge.merge as merge_mod

    t, df = _ints_table(spark, str(tmp_path / "t"))
    moved = df.withColumn("p", F.when(F.col("k") == 1, "B").otherwise(F.col("p")))
    v1 = t.partitions()

    # A and B change; then A, B and C, more groups than the limit keeps
    touch_all = moved.withColumn("v", F.when(F.col("k") == 4, 41).otherwise(F.col("v")))
    monkeypatch.setattr(merge_mod, "MAX_PARTITION_VALUES", 1)
    dirs = data_dirs(t)
    for src in (moved, touch_all):
        with pytest.raises(MergeValidationError, match="touches >1 distinct partitions"):
            merge_partitioned(spark, t, src, "k")
        assert t.current_version() == 1
        assert not os.path.exists(str(tmp_path / "t" / "v=2.json"))
        assert data_dirs(t) == dirs

    monkeypatch.undo()
    res = merge_partitioned(spark, t, moved, "k")
    assert res.changed_rows == 1
    v2 = t.partitions()
    assert v2["C"] == v1["C"]
    assert v2["A"] != v1["A"] and v2["B"] != v1["B"]
    assert same_rows(t.read(spark), moved)
