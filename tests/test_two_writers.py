"""Two writers on one table, for both table kinds.

Each writer stages into its own directory and commits by linking the
version record ``v=<base+1>.json`` into place, which fails if the name
exists.  So when both writers stage on the same version, exactly one
commit wins and its rows read back; the other gets ``MergeConflictError``
and leaves no staged directory behind; every retained version stays
readable.  The writers interleave through the staging calls, through two
merges in threads ordered stage A → stage B → commit A → commit B, and
through two threads that meet at a barrier after staging.  A property
change is a commit too, so it races a merge the same way.
"""

import os
import sys
import threading
from urllib.parse import urlparse

import pytest
from pyspark.sql import functions as F

from sparkmerge.errors import MergeConflictError
from sparkmerge.merge import simple_merge
from sparkmerge.table import SnapshotTable

ROWS = [(1, "A", 10), (2, "A", 20), (3, "B", 30), (4, "C", 40)]
SCHEMA = "k int, p string, v int"
KEYS = ["k", "p"]  # one merge call for both kinds; a partitioned table rewrites only 'A'


@pytest.fixture()
def base(spark):
    return spark.createDataFrame(ROWS, SCHEMA)


def bumped(df, by):
    """Writer's source: every 'A' row gets ``v + by``."""
    return df.withColumn("v", F.when(F.col("p") == "A", F.col("v") + by).otherwise(F.col("v")))


def rows(df):
    return sorted(tuple(r) for r in df.collect())


def create(spark, kind, path, df):
    return SnapshotTable.create(spark, path, df, "p" if kind == "partitioned" else None)


def assert_intact(spark, table, expected):
    """Every retained version reads back as ``expected[v]``, and ``files/``
    holds only the writer directories those versions read."""
    named = set()
    for v in table.versions():
        snap = table.read(spark, version=v)
        assert rows(snap) == rows(expected[v]), f"version {v}"
        files = os.path.join(table.path, "files")
        named |= {os.path.relpath(urlparse(f).path, files).split(os.sep)[0]
                  for f in snap.inputFiles()}
    assert set(os.listdir(os.path.join(table.path, "files"))) == named


@pytest.mark.parametrize("kind", ["snapshot", "partitioned"])
def test_interleaved_stage_commit(spark, base, tmp_path, kind):
    t = create(spark, kind, str(tmp_path / "t"), base)
    a_src, b_src = bumped(base, 100), bumped(base, 200)
    if kind == "partitioned":
        a = t.stage_merge(a_src.filter("p = 'A'"), {"A"})
        b = t.stage_merge(b_src.filter("p = 'A'"), {"A"})
    else:
        a, b = t.stage(a_src), t.stage(b_src)
    assert t.commit(a) == 2
    with pytest.raises(MergeConflictError):
        t.commit(b)
    t.abort(b)  # the loser's abort must not touch the winner's data
    assert t.versions() == [1, 2]
    assert_intact(spark, t, {1: base, 2: a_src})


def run_merges(spark, kind, path, srcs, before_stage, after_stage, done):
    """One merge per source, each in its own thread with its own table
    handle; ``before_stage(name)``/``after_stage(name)`` run around its
    stage call, and ``done[name]`` is set when its merge returns.  Returns
    name → MergeResult or the exception raised."""
    method = "stage_merge" if kind == "partitioned" else "stage"
    outcome = {}

    def writer(name):
        table = SnapshotTable(path)
        stage = getattr(table, method)

        def hooked(*args):
            before_stage(name)
            staged = stage(*args)
            after_stage(name)
            return staged

        setattr(table, method, hooked)
        try:
            outcome[name] = simple_merge(spark, table, srcs[name], KEYS)
        except Exception as e:  # noqa: BLE001 — the caller inspects it
            outcome[name] = e
        finally:
            done[name].set()

    threads = [threading.Thread(target=writer, args=(n,)) for n in srcs]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
        assert not th.is_alive()
    return outcome


@pytest.mark.parametrize("kind", ["snapshot", "partitioned"])
def test_interleaved_merges(spark, base, tmp_path, kind):
    """Merge A stages, then merge B stages, then A commits: A wins with its
    own rows, B's merge raises and removes its staged files."""
    path = str(tmp_path / "t")
    create(spark, kind, path, base)
    srcs = {"a": bumped(base, 100), "b": bumped(base, 200)}
    a_staged, done = threading.Event(), {n: threading.Event() for n in srcs}

    def before_stage(name):
        if name == "b":
            assert a_staged.wait(120)

    def after_stage(name):
        if name == "a":
            a_staged.set()
        else:
            assert done["a"].wait(120)

    outcome = run_merges(spark, kind, path, srcs, before_stage, after_stage, done)
    assert isinstance(outcome["b"], MergeConflictError), outcome
    assert outcome["a"].version == 2
    t = SnapshotTable(path)
    assert t.versions() == [1, 2] and "lastUpdate" in t.properties()
    assert_intact(spark, t, {1: base, 2: srcs["a"]})


@pytest.mark.parametrize("kind", ["snapshot", "partitioned"])
def test_threaded_merges(spark, base, tmp_path, kind):
    """Two threads merge into one path; both stage on version 1 before
    either commits (a barrier holds each after staging)."""
    path = str(tmp_path / "t")
    create(spark, kind, path, base)
    srcs = {"a": bumped(base, 100), "b": bumped(base, 200)}
    barrier = threading.Barrier(2, timeout=120)
    done = {n: threading.Event() for n in srcs}
    outcome = run_merges(spark, kind, path, srcs, lambda name: None,
                         lambda name: barrier.wait(), done)
    winners = [n for n, r in outcome.items() if not isinstance(r, Exception)]
    losers = [n for n, r in outcome.items() if isinstance(r, MergeConflictError)]
    assert len(winners) == 1 and len(losers) == 1, outcome
    assert outcome[winners[0]].version == 2
    t = SnapshotTable(path)
    assert t.versions() == [1, 2]
    assert_intact(spark, t, {1: base, 2: srcs[winners[0]]})


def test_many_committers_one_winner(spark, base, tmp_path):
    """Eight handles staged on version 1 commit at once from eight threads
    (more than the cores, with a short switch interval): exactly one
    commit lands, the other seven raise and leave no staged directory."""
    t = SnapshotTable.create(spark, str(tmp_path / "t"), base)
    srcs = [bumped(base, 100 * i) for i in range(1, 9)]
    handles = [t.stage(src) for src in srcs]
    barrier = threading.Barrier(len(handles), timeout=60)
    outcome = [None] * len(handles)

    def committer(i):
        barrier.wait()
        try:
            outcome[i] = t.commit(handles[i])
        except MergeConflictError as e:
            outcome[i] = e

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=committer, args=(i,)) for i in range(len(handles))]
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
            assert not th.is_alive()
    finally:
        sys.setswitchinterval(interval)
    winners = [i for i, r in enumerate(outcome) if r == 2]
    assert len(winners) == 1, outcome
    assert sum(isinstance(r, MergeConflictError) for r in outcome) == len(handles) - 1
    assert t.versions() == [1, 2]
    assert_intact(spark, t, {1: base, 2: srcs[winners[0]]})


@pytest.mark.parametrize("first", ["set_property", "merge"])
@pytest.mark.parametrize("kind", ["snapshot", "partitioned"])
def test_set_property_races_a_merge(spark, base, tmp_path, kind, first):
    """A property change and a merge both based on version 1: the one that
    commits first wins, the other raises ``MergeConflictError``, and the
    winner's properties are the table's."""
    path = str(tmp_path / "t")
    t = create(spark, kind, path, base)
    other = SnapshotTable(path)  # the second writer's handle
    src = bumped(base, 100)
    if first == "set_property":
        method = "stage_merge" if kind == "partitioned" else "stage"
        stage = getattr(t, method)

        def stage_then_set(*args):
            staged = stage(*args)
            assert other.set_property("owner", "ops") == 2
            return staged

        setattr(t, method, stage_then_set)
        with pytest.raises(MergeConflictError):
            simple_merge(spark, t, src, KEYS)
        assert t.properties() == {"owner": "ops"}
        expected = {1: base, 2: base}
    else:
        commit = other.commit

        def merge_then_commit(staged):
            assert simple_merge(spark, t, src, KEYS).version == 2
            return commit(staged)

        other.commit = merge_then_commit
        with pytest.raises(MergeConflictError):
            other.set_property("owner", "ops")
        assert set(t.properties()) == {"lastUpdate"}
        expected = {1: base, 2: src}
    assert t.versions() == [1, 2] and t.properties(version=1) == {}
    assert_intact(spark, t, expected)
