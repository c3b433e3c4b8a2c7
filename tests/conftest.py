from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from sparkmerge.session import get_spark

    s = get_spark("sparkmerge-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path / "table")


def changeset_flat(df):
    """Order-insensitive canonical form of a changeset frame (struct columns
    included) for strategy-equivalence assertions — single definition shared
    by the golden and hypothesis suites."""
    from pyspark.sql import functions as F

    return sorted(map(repr, df.select(F.to_json(F.struct(*df.columns))).collect()))


def assert_oracle_match(spark, op, sf_dir=SF_DIR):
    """Registry op ``op`` over ``sf_dir`` equals its DuckDB oracle over the
    same parquet files, by the oracle harness's comparator (row count, column
    names, scalar cells, exact ints and strings, bit-exact doubles); returns
    the op's output."""
    from sparkmerge.queries import registry
    from tools.check_oracle import connect, mismatches

    spec = registry()[op]
    got = spec.fn(spark, sf_dir).toPandas()
    with connect(sf_dir) as con:
        want = con.sql(spec.oracle).df()
    problems = mismatches(got, want)
    assert not problems, f"{op}: " + "; ".join(problems)
    return got
