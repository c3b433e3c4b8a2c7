"""Regression tests for the round-1 ADVICE findings.

Each test pins one reported defect:
1. prune_scan partition-value canonicalization must match Spark's
   cast-to-string (boolean 'true', not Python 'True') — the mismatch
   silently pruned every real partition and re-inserted matched rows.
2. merge_partitioned fails fast above MAX_PARTITION_VALUES distinct
   partition values instead of collecting an unbounded driver-side set.
3. Soft-delete SET splitting must not split on commas inside single-quoted
   string literals.
4. versions()/read()/vacuum() must never expose or touch staged but
   uncommitted (crash-orphan) data.
5. Streaming helpers raise when awaitTermination times out instead of
   returning a partially-populated sink.
"""

import os
import shutil

import pytest
from pyspark.sql import functions as F

import sparkmerge.merge as merge_mod
from sparkmerge.changeset import DeleteMode
from sparkmerge.errors import MergeError, MergeValidationError
from sparkmerge.ext.streaming import _await_or_raise
from sparkmerge.merge import merge_partitioned, merge_preview
from sparkmerge.ptable import PartitionedSnapshotTable
from sparkmerge.table import SnapshotTable

SF = "/root/testdata/sf0.001"


def same_rows(a, b):
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def test_prune_scan_boolean_partition_column(spark, tmp_path):
    """Boolean partition values render 'true'/'false' in Spark but
    'True'/'False' via Python str(); prune_scan must use Spark's form or it
    prunes everything and duplicates matched rows."""
    orders = spark.read.parquet(f"{SF}/orders.parquet").limit(200)
    flagged = orders.withColumn("is_open", F.col("o_orderstatus") == "O")
    t = PartitionedSnapshotTable.create(spark, str(tmp_path / "t"), flagged, "is_open")
    # source: same keys, bumped price — every row should UPDATE, none insert
    src = flagged.withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    before = t.read(spark).count()
    merge_partitioned(
        spark, t, src, ["o_orderkey", "is_open"], prune_scan=True, delete="NO"
    )
    after = t.read(spark)
    assert after.count() == before  # no phantom re-inserts
    expected = merge_preview(flagged, src, ["o_orderkey", "is_open"], delete="NO")
    assert same_rows(after, expected)


def test_partition_value_ceiling(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(merge_mod, "MAX_PARTITION_VALUES", 2)
    orders = spark.read.parquet(f"{SF}/orders.parquet").limit(50)
    t = PartitionedSnapshotTable.create(
        spark, str(tmp_path / "t"), orders, "o_orderstatus"
    )
    # >2 distinct partition values in the source → fail fast, nothing staged
    src = orders.withColumn("o_totalprice", F.col("o_totalprice") + 1.0)
    with pytest.raises(MergeValidationError, match="distinct"):
        merge_partitioned(
            spark, t, src, ["o_orderkey", "o_orderstatus"], prune_scan=True
        )
    assert t.current_version() == 1


def test_soft_delete_set_comma_in_literal():
    mode = DeleteMode.parse("set note = 'a,b', status = concat('x', ',', 'y')")
    assert mode.action == "SOFT_DELETE"
    assert mode.assignments == [
        ("note", "'a,b'"),
        ("status", "concat('x', ',', 'y')"),
    ]
    # doubled-quote escape stays one assignment
    mode2 = DeleteMode.parse("set note = 'it''s a,b'")
    assert mode2.assignments == [("note", "'it''s a,b'")]
    with pytest.raises(MergeValidationError, match="unterminated"):
        DeleteMode.parse("set note = 'oops")


def test_orphan_staged_version_invisible(spark, tmp_path):
    orders = spark.read.parquet(f"{SF}/orders.parquet").limit(100)
    t = SnapshotTable.create(spark, str(tmp_path / "t"), orders)
    staged = t.stage(orders.withColumn("o_totalprice", F.lit(0.0)))
    # crash between stage() and commit(): version 1 is still current
    assert t.versions() == [1] and t.current_version() == 1
    with pytest.raises(MergeError, match="not committed"):
        t.read(spark, version=staged.version)
    assert t.read(spark).filter(F.col("o_totalprice") == 0.0).count() == 0
    # vacuum must not count or touch the orphan
    assert t.vacuum(keep=1) == []
    assert os.path.isdir(os.path.join(t.path, staged.data_dir))
    t.commit(staged)
    assert t.versions() == [1, 2]

    p = PartitionedSnapshotTable.create(
        spark, str(tmp_path / "p"), orders, "o_orderstatus"
    )
    pv = p.stage_merge(orders.filter("o_orderstatus = 'O'").withColumn(
        "o_totalprice", F.lit(0.0)), {"O"})
    assert p.versions() == [1]
    with pytest.raises(MergeError, match="not committed"):
        p.read(spark, version=pv.version)
    assert p.read(spark).filter(F.col("o_totalprice") == 0.0).count() == 0
    assert p.vacuum(keep=1) == []
    assert os.path.isdir(os.path.join(p.path, pv.data_dir))


def test_await_or_raise_times_out():
    class FakeQuery:
        name, id = "q", "qid"
        stopped = False

        def awaitTermination(self, timeout):
            return False

        def stop(self):
            self.stopped = True

    q = FakeQuery()
    with pytest.raises(MergeError, match="did not finish"):
        _await_or_raise(q, 1)
    assert q.stopped


# --- r5 ADVICE fixes (resolved r6) ----------------------------------------


def test_interval_seconds_parses_and_rejects():
    from sparkmerge.ext.streaming import _interval_seconds

    assert _interval_seconds("1 hour") == 3600
    assert _interval_seconds("90 seconds") == 90
    assert _interval_seconds("2 Hours") == 7200
    assert _interval_seconds("3 minutes") == 180
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _interval_seconds("1 fortnight")


def test_connected_components_raises_on_nonconvergence(spark):
    """A 30-node path graph has min-label eccentricity 29 — max_iters=3 must
    raise, not return wrong labels (ADVICE r5)."""
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], "a_id int, b_id int"
    )
    from sparkmerge.ext.dedup import connected_components

    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, max_iters=3)
    # and with enough rounds the same graph converges to one component
    labels = connected_components(pairs, max_iters=40)
    assert {r["component"] for r in labels.collect()} == {0}


def test_abtest_arm_is_not_user_parity(spark):
    """The high-bit split must disagree with plain user_id % 2 for some ids
    (the low-bit form was algebraically exactly parity — ADVICE r5)."""
    from pyspark.sql import functions as F

    ids = spark.range(1, 1000).select(F.col("id").alias("user_id"))
    arm = (
        F.when((F.col("user_id") * 2654435761) % 4294967296 >= 2147483648, 1)
        .otherwise(0)
    )
    rows = ids.select("user_id", arm.alias("arm")).collect()
    disagree = sum(1 for r in rows if r["arm"] != r["user_id"] % 2)
    # a real mix disagrees with parity on roughly half the ids
    assert 300 < disagree < 700


def test_fingerprint_tracks_content_changes(tmp_path):
    from sparkmerge.queries import fingerprint

    f = tmp_path / "t.parquet"
    f.write_bytes(b"aaaa")
    k1 = fingerprint(str(f))
    f.write_bytes(b"bbbbbb")  # size change
    k2 = fingerprint(str(f))
    assert k1 != k2
    import os

    os.utime(f, (1, 1))  # mtime change, same size
    k3 = fingerprint(str(f))
    assert k3 != k2
    # directory form fingerprints the *.parquet set
    k_dir = fingerprint(str(tmp_path))
    (tmp_path / "u.parquet").write_bytes(b"x")
    assert fingerprint(str(tmp_path)) != k_dir


# --- round-6 ADVICE regressions ---------------------------------------------


def test_mix_key_prereduction_is_identity_below_prime(spark):
    """The capped-edge rank key pre-reduces ids modulo 2^31-1 before the
    Knuth multiply (ADVICE r6: the raw product overflows int64 for ids over
    ~3.4e9 — silent wrap in non-ANSI Spark, error in DuckDB).  For every id
    below the prime the reduction is the identity, so the rank order — and
    every committed graph-oracle hash — is unchanged."""
    from sparkmerge.queries.ext_graph import _MIX_PRIME, _mix_key

    ids = spark.range(1, 100000, 997).select(F.col("id").alias("user_id"))
    old = (F.col("user_id") * 2654435761) % 4294967296
    rows = ids.select(
        _mix_key(F.col("user_id")).alias("new"), old.alias("old")
    ).collect()
    assert all(r["new"] == r["old"] for r in rows)
    # and the pre-reduced product is int64-safe for ANY int64 id
    assert (_MIX_PRIME - 1) * 2654435761 < 2**63
    huge = spark.createDataFrame(
        [(2**62 + 12345,), (2**63 - 1,)], "user_id long"
    )
    vals = [r[0] for r in huge.select(_mix_key(F.col("user_id"))).collect()]
    assert all(0 <= v < 4294967296 for v in vals)


def test_connected_components_accepts_exact_convergence(spark):
    """A 3-node path converges in exactly 2 label-changing rounds; the old
    check needed a THIRD confirming round inside the budget and raised
    spuriously at max_iters=2 even though the labels were final (ADVICE
    r6).  The confirm-on-exhaustion round must accept it."""
    from sparkmerge.ext.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3)], "a_id int, b_id int")
    labels = connected_components(pairs, max_iters=2)
    got = {r["node"]: r["component"] for r in labels.collect()}
    assert got == {1: 1, 2: 1, 3: 1}
    # genuinely insufficient budgets still raise
    long_path = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "a_id int, b_id int"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(long_path, max_iters=1)


def _age_out(path):
    """Backdate a dir's atime/mtime past the prune grace window."""
    import os
    import time

    from sparkmerge.queries import _PRUNE_GRACE_S

    old = time.time() - _PRUNE_GRACE_S - 60
    os.utime(path, (old, old))


def test_prune_stale_siblings(tmp_path):
    """A new content generation of the same source path prunes superseded
    cache dirs (same path-hash, different content-hash) and leaves other
    sources untouched (ADVICE r6: unbounded /tmp growth)."""
    from sparkmerge.queries import fingerprint, prune_stale_siblings

    src = tmp_path / "t.parquet"
    src.write_bytes(b"gen1")
    k1 = fingerprint(str(src))
    src.write_bytes(b"gen2-longer")
    k2 = fingerprint(str(src))
    assert k1 != k2 and k1.split("-")[0] == k2.split("-")[0]

    base = tmp_path / "cache"
    (base / k1).mkdir(parents=True)
    _age_out(base / k1)
    other = "ffffffffffff-000000000000"
    (base / other).mkdir()
    _age_out(base / other)
    (base / k2).mkdir()
    prune_stale_siblings(str(base), k2)
    assert not (base / k1).exists()
    assert (base / k2).exists()
    assert (base / other).exists()


def test_prune_age_gate_keeps_recent_dirs(tmp_path):
    """A superseded generation touched within the grace window survives the
    prune: a concurrently running older session may still be scanning it,
    and deleting parquet under an active scan crashes that session rather
    than serving stale data (ADVICE r7)."""
    from sparkmerge.queries import prune_stale_siblings

    base = tmp_path / "cache"
    stale_recent = "aaaaaaaaaaaa-111111111111"
    live = "aaaaaaaaaaaa-222222222222"
    (base / stale_recent).mkdir(parents=True)
    (base / live).mkdir()
    prune_stale_siblings(str(base), live)
    assert (base / stale_recent).exists()  # recent → kept
    _age_out(base / stale_recent)
    prune_stale_siblings(str(base), live)
    assert not (base / stale_recent).exists()  # aged out → pruned


def test_prune_sweeps_legacy_dashless_dirs(tmp_path):
    """Pre-r6 cache dirs used a single 12-hex key with no dash; the
    prefix glob '{prefix}-*' never matches them, so the r6 growth fix left
    them orphaned forever (ADVICE r7).  The prune now sweeps aged-out
    legacy names, and ONLY plausible legacy names (12-hex, dash-less)."""
    from sparkmerge.queries import prune_stale_siblings

    base = tmp_path / "cache"
    legacy = "0123456789ab"
    unrelated = "not-a-cache-dir-name"
    (base / legacy).mkdir(parents=True)
    (base / unrelated).mkdir()
    _age_out(base / legacy)
    _age_out(base / unrelated)
    prune_stale_siblings(str(base), "bbbbbbbbbbbb-333333333333")
    assert not (base / legacy).exists()
    # a dash-bearing name of non-legacy shape is out of scope
    assert (base / unrelated).exists()
