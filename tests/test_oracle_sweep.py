"""The oracle claim, proven in-suite: every registry op hash-matches its
DuckDB oracle at sf0.001.

One param per op id, run through the driver adapters (``queries()`` and
``oracle_sql()`` of ``__spark_entry__``) and compared by the oracle
harness's comparator, so a failure names its op and ``-k <op_id>`` reruns
it alone.  ``tools/check_oracle.py`` makes the same comparison at larger
scales.
"""

import pytest

from __spark_entry__ import oracle_sql, queries
from tests.conftest import SF_DIR
from tools.check_oracle import connect, mismatches

ORACLES = oracle_sql()

# ops whose sf0.001 output must also be non-empty: an empty result would
# match an equally empty oracle and prove nothing about these shapes
NON_EMPTY = {
    "dedup_cross_source_matrix",
    "events_type_cooccurrence_daily",
    "events_type_lift_matrix",
    "orders_basket_lift",
    "orders_brand_audience_jaccard",
    "text_source_vocab_overlap",
}


@pytest.fixture(scope="module")
def duck():
    with connect(SF_DIR) as con:
        yield con


def test_every_op_has_an_oracle():
    assert sorted(ORACLES) == sorted(queries())


@pytest.mark.parametrize("op", list(ORACLES))
def test_op_matches_oracle(spark, duck, op):
    got = queries()[op](spark, SF_DIR).toPandas()
    want = duck.sql(ORACLES[op]).df()
    problems = mismatches(got, want)
    assert not problems, "; ".join(problems)
    assert op not in NON_EMPTY or len(got) > 0, f"{op}: empty output"
