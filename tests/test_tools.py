"""Tests for the sf-scale corpus generator (tools/gen_scale.py) and for the
benchmark's tracer hooks (perfbench/tracing.py)."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def scaled_dir(tmp_path_factory):
    dst = str(tmp_path_factory.mktemp("scale") / "sf2x")
    subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "gen_scale.py"),
         "/root/testdata/sf0.001", dst, "2"],
        check=True,
        capture_output=True,
    )
    return dst


def test_gen_scale_preserves_rowcount_and_key_uniqueness(scaled_dir):
    con = duckdb.connect()
    for table, key in [
        ("customer", "c_custkey"), ("orders", "o_orderkey"),
        ("part", "p_partkey"), ("supplier", "s_suppkey"),
        ("documents", "doc_id"), ("embeddings", "vec_id"),
        ("events", "event_id"),
    ]:
        src_n = con.sql(
            f"SELECT count(*) FROM read_parquet('/root/testdata/sf0.001/{table}.parquet')"
        ).fetchone()[0]
        n, nk = con.sql(
            f"SELECT count(*), count(DISTINCT {key}) FROM read_parquet('{scaled_dir}/{table}.parquet')"
        ).fetchone()
        assert n == 2 * src_n, table
        assert nk == n, f"{table}.{key} not unique after scaling"
    # dimensions stay fixed
    for table in ("region", "nation"):
        src_n = con.sql(
            f"SELECT count(*) FROM read_parquet('/root/testdata/sf0.001/{table}.parquet')"
        ).fetchone()[0]
        n = con.sql(
            f"SELECT count(*) FROM read_parquet('{scaled_dir}/{table}.parquet')"
        ).fetchone()[0]
        assert n == src_n, table


def test_gen_scale_foreign_keys_hold(scaled_dir):
    con = duckdb.connect()
    for fact, fk, dim, pk in [
        ("lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
        ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
    ]:
        orphans = con.sql(
            f"""SELECT count(*) FROM read_parquet('{scaled_dir}/{fact}.parquet') f
                ANTI JOIN read_parquet('{scaled_dir}/{dim}.parquet') d
                ON f.{fk} = d.{pk}"""
        ).fetchone()[0]
        assert orphans == 0, f"{fact}.{fk} -> {dim}.{pk}"


def test_gen_scale_text_bijection_preserves_similarity_structure(scaled_dir):
    """The alphabet rotation must keep lengths and n_chars exact, keep
    within-replica duplicate structure (docs equal before scaling are equal
    within each replica), and produce non-identical text across replicas."""
    con = duckdb.connect()
    bad_len = con.sql(
        f"SELECT count(*) FROM read_parquet('{scaled_dir}/documents.parquet') "
        f"WHERE n_chars <> length(text)"
    ).fetchone()[0]
    assert bad_len == 0
    src_dups, rep_dups = con.sql(
        f"""WITH src AS (
              SELECT count(*) - count(DISTINCT text) AS d
                FROM read_parquet('/root/testdata/sf0.001/documents.parquet')
            ), rep AS (
              SELECT count(*) - count(DISTINCT text) AS d
                FROM read_parquet('{scaled_dir}/documents.parquet') doc
               WHERE doc_id >= (SELECT max(doc_id) + 1
                                  FROM read_parquet('/root/testdata/sf0.001/documents.parquet'))
            )
            SELECT src.d, rep.d FROM src, rep"""
    ).fetchone()
    assert rep_dups == src_dups, "replica duplicate-cluster structure changed"
    first = con.sql(
        f"""SELECT count(DISTINCT text) FROM read_parquet('{scaled_dir}/documents.parquet')
             WHERE doc_id % (SELECT max(doc_id) + 1
                               FROM read_parquet('/root/testdata/sf0.001/documents.parquet'))
                   = (SELECT min(doc_id)
                        FROM read_parquet('/root/testdata/sf0.001/documents.parquet'))"""
    ).fetchone()[0]
    assert first == 2, "replicas should differ from the original text"


def test_gen_scale_embedding_rotation_preserves_norms(scaled_dir):
    con = duckdb.connect()
    bad = con.sql(
        f"""WITH norms AS (
              SELECT vec_id,
                     list_sum(list_transform(embedding,
                              x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS n2
                FROM read_parquet('{scaled_dir}/embeddings.parquet')
            ), stride AS (
              SELECT max(vec_id) + 1 AS s
                FROM read_parquet('/root/testdata/sf0.001/embeddings.parquet')
            )
            SELECT count(*) FROM norms a JOIN norms b
              ON b.vec_id = a.vec_id + (SELECT s FROM stride)
           WHERE abs(a.n2 - b.n2) > 1e-6"""
    ).fetchone()[0]
    assert bad == 0, "cyclic shift must preserve vector norms exactly"


def test_perfbench_tracer_wraps_engine_names(monkeypatch):
    """perfbench's traced mode wraps engine functions by name from outside
    (``tracing.install``, which reads each from its class or module body);
    a renamed or inherited-only name breaks every traced benchmark run.
    ``unwrap`` must then restore the engine exactly."""
    import sparkmerge.merge as merge
    from sparkmerge.table import SnapshotTable

    spec = importlib.util.spec_from_file_location(
        "perfbench_tracing", os.path.join(REPO, "perfbench", "tracing.py"))
    tracing = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, tracing)  # its dataclasses look it up
    spec.loader.exec_module(tracing)
    before = dict(vars(SnapshotTable)), merge.simple_merge, merge.build_changeset
    tracer = tracing.Tracer()
    try:
        tracing.install(tracer)
        assert SnapshotTable.commit is not before[0]["commit"]
    finally:
        tracer.unwrap()
    assert (dict(vars(SnapshotTable)), merge.simple_merge, merge.build_changeset) == before
