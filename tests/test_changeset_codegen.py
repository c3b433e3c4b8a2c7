"""Codegen budget of the changeset's join stage.

Whole-stage codegen fuses the changeset's join, classification and image
projection into one generated method.  HotSpot never JIT-compiles a method
over 8,000 bytes of bytecode, so a stage over that size runs interpreted
(the lineitem-shape merge's write stage took ~1.1 s instead of ~0.6 s on
4 cores).  Every case below must stay under the limit, for the changeset
frame and for ``apply_changes()``.

Largest method (bytes, ``cs.df`` / ``apply_changes()``) when every image
field repeated the whole action CASE:

    lineitem YES 9819/10172, NO 3757/3757, soft 3757/3757,
    patch 12231/12584, broadcast 9416/10068, bad_key 11159/10172;
    wide16 YES 26422/27587, NO 2277/3404, soft 2492/3632,
    patch 34975/36145.
"""

from __future__ import annotations

import pytest

from sparkmerge import build_changeset
from sparkmerge.codegen import HUGE_METHOD_LIMIT, max_method_sizes

LINEITEM = [
    ("l_orderkey", "bigint"),
    ("l_partkey", "bigint"),
    ("l_suppkey", "bigint"),
    ("l_linenumber", "int"),
    ("l_quantity", "double"),
    ("l_extendedprice", "double"),
    ("l_discount", "double"),
    ("l_tax", "double"),
    ("l_returnflag", "string"),
    ("l_linestatus", "string"),
    ("l_shipdate", "date"),
]
LINEITEM_KEY = "l_orderkey, l_linenumber, l_partkey, l_suppkey, l_shipdate"
_TYPES = ["int", "bigint", "double", "string", "date", "timestamp", "decimal(12,2)", "boolean"]
WIDE = [("k1", "int"), ("k2", "string")] + [(f"c{i}", _TYPES[i % 8]) for i in range(16)]

CASES = {
    "lineitem-yes": ("lineitem", LINEITEM_KEY, {}),
    "lineitem-no": ("lineitem", LINEITEM_KEY, {"delete": "NO"}),
    "lineitem-soft": ("lineitem", LINEITEM_KEY, {"delete": "set l_linestatus = 'D', l_tax = 0.0"}),
    "lineitem-patch": ("lineitem", LINEITEM_KEY, {"update_mode": "patch"}),
    "lineitem-broadcast": ("lineitem", LINEITEM_KEY, {"strategy": "broadcast"}),
    "lineitem-badkey": ("lineitem", LINEITEM_KEY, {"bad_key": True}),
    "wide16-yes": ("wide", "k1, k2", {}),
    "wide16-no": ("wide", "k1, k2", {"delete": "NO"}),
    "wide16-soft": ("wide", "k1, k2", {"delete": "set c3 = 'gone', c0 = -1"}),
    "wide16-patch": ("wide", "k1, k2", {"update_mode": "patch"}),
}


def _value(name: str, dtype: str) -> str:
    if dtype == "date":
        return f"date_add(DATE'2020-01-01', CAST(id AS INT)) AS {name}"
    if dtype == "timestamp":
        return f"timestamp_seconds(id * 3600) AS {name}"
    if dtype == "boolean":
        return f"id % 2 = 0 AS {name}"
    return f"CAST(id AS {dtype}) AS {name}"


@pytest.fixture(scope="module")
def tables(spark, tmp_path_factory):
    """Parquet-backed target and source per shape (an in-memory relation
    would let the optimizer fold the projections away), read with AQE off so
    the unexecuted plan lists its codegen subtrees."""
    root = tmp_path_factory.mktemp("codegen")
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out = {}
    for shape, cols in (("lineitem", LINEITEM), ("wide", WIDE)):
        frames = []
        for side, offset in (("t", 0), ("s", 2)):
            path = str(root / f"{shape}_{side}")
            spark.range(offset, offset + 6).selectExpr(*[_value(n, t) for n, t in cols]).write.parquet(path)
            frames.append(spark.read.parquet(path))
        out[shape] = frames
    yield out
    spark.conf.set("spark.sql.adaptive.enabled", saved)


@pytest.mark.parametrize("case", list(CASES))
def test_changeset_stage_fits_jit_limit(tables, case):
    shape, key, kwargs = CASES[case]
    target, source = tables[shape]
    cs = build_changeset(target, source, key, **kwargs)
    for label, df in (("cs.df", cs.df), ("apply_changes()", cs.apply_changes())):
        sizes = max_method_sizes(df)
        assert sizes, f"{label}: no codegen subtrees listed"
        assert max(sizes) < HUGE_METHOD_LIMIT, f"{case} {label}: {sizes}"
