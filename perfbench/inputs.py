"""Seeded input generators.

Every table is a pure function of ``(seed, size)``: the same seed gives the
same rows, and a different seed changes the values but never the row
counts, so run-to-run timing differences come from the system rather than
from the input size.  The program under test only ever receives the
DataFrames Spark reads back from the parquet files written here.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LINEITEM_KEY = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey", "l_shipdate"]
ORDERS_KEY = ["o_orderkey", "ds"]

_DAY0 = np.datetime64("1992-01-01", "D")


def write(table: pa.Table, path: str) -> int:
    """Write ``table`` as parquet with ~32 row groups (so Spark splits the
    scan across tasks) and return the file size in bytes."""
    pq.write_table(table, path, row_group_size=max(1024, table.num_rows // 32))
    return os.path.getsize(path)


# ---- lineitem (snapshot_merge target, orders_basket_lift input) ----


def lineitem(rng: np.random.Generator, rows: int, first_orderkey: int = 0) -> pa.Table:
    """TPC-H-shaped line items whose 5-column key is unique.

    Line numbers are drawn with replacement inside an order, so the 2-column
    ``(l_orderkey, l_linenumber)`` key repeats (about a fifth of the rows),
    as in the TPC-H-ish test corpus; the merge key therefore adds part,
    supplier and ship date.  Rows that would repeat the 5-column key are
    redrawn until every key is distinct."""
    orderkey = first_orderkey + rng.integers(0, max(1, rows // 4), rows)
    out = _lineitem_cols(rng, orderkey)
    while True:
        keys = np.rec.fromarrays([out[k] for k in LINEITEM_KEY])
        _, first = np.unique(keys, return_index=True)
        if len(first) == rows:
            break
        dup = np.setdiff1d(np.arange(rows), first)
        fresh = _lineitem_cols(rng, out["l_orderkey"][dup])
        for k, v in fresh.items():
            out[k][dup] = v
    return pa.table(out)


def _lineitem_cols(rng: np.random.Generator, orderkey: np.ndarray) -> dict:
    n = len(orderkey)
    return {
        "l_orderkey": orderkey.astype(np.int64),
        "l_partkey": rng.integers(0, 2000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 100, n).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": np.round(rng.random(n) * 1e5, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n),
        "l_shipdate": (_DAY0 + rng.integers(0, 2500, n).astype("timedelta64[D]")).astype(
            "datetime64[us]"
        ),
    }


def mutate_lineitem(
    rng: np.random.Generator, cur: pa.Table, next_orderkey: int
) -> tuple[pa.Table, int, int]:
    """One full-extract source for the next merge: ~2.5% of rows updated,
    ~0.5% deleted and as many new rows inserted (fresh order keys), so the
    table keeps its size.  Returns (source, changed rows, next order key)."""
    n = cur.num_rows
    n_upd, n_del = n * 25 // 1000, n * 5 // 1000
    pick = rng.permutation(n)
    upd, dele = pick[:n_upd], pick[n_upd : n_upd + n_del]
    price = cur["l_extendedprice"].to_numpy().copy()
    price[upd] += np.round(1.0 + rng.random(n_upd) * 100.0, 2)
    kept = np.ones(n, bool)
    kept[dele] = False
    src = cur.set_column(cur.schema.get_field_index("l_extendedprice"), "l_extendedprice", pa.array(price))
    src = src.filter(pa.array(kept))
    new = lineitem(rng, n_del, first_orderkey=next_orderkey).cast(cur.schema)
    return pa.concat_tables([src, new]), n_upd + 2 * n_del, next_orderkey + n_del


# ---- orders by month (incremental_lake target) ----


def months(count: int) -> np.ndarray:
    return np.array([f"{1992 + m // 12}-{m % 12 + 1:02d}" for m in range(count)])


def orders(rng: np.random.Generator, rows: int, n_months: int, first_key: int = 0) -> pa.Table:
    ds = months(n_months)[rng.integers(0, n_months, rows)]
    return _orders(rng, np.arange(first_key, first_key + rows), ds)


def _orders(rng: np.random.Generator, keys: np.ndarray, ds: np.ndarray) -> pa.Table:
    n = len(keys)
    day = np.array([np.datetime64(f"{d}-01") for d in ds], dtype="datetime64[D]")
    return pa.table(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": rng.integers(0, 15000, n).astype(np.int64),
            "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n),
            "o_totalprice": np.round(rng.random(n) * 5e5, 2),
            "o_orderdate": (day + rng.integers(0, 28, n).astype("timedelta64[D]")).astype(
                "datetime64[us]"
            ),
            "o_orderpriority": rng.choice(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-LOW"]), n),
            "ds": ds,
        }
    )


def orders_delta(
    rng: np.random.Generator, cur: pa.Table, month: str, inserts: int, first_key: int
) -> pa.Table:
    """A daily delta for one month: ~30% of the month's rows with a new
    status and price (some unchanged by chance of the draw), plus
    ``inserts`` brand-new orders in the same month."""
    in_month = np.nonzero(cur["ds"].to_numpy(zero_copy_only=False) == month)[0]
    pick = in_month[rng.random(len(in_month)) < 0.3]
    upd = cur.take(pa.array(pick))
    upd = upd.set_column(
        upd.schema.get_field_index("o_totalprice"),
        "o_totalprice",
        pa.array(np.round(upd["o_totalprice"].to_numpy() + 1.0 + rng.random(len(pick)), 2)),
    ).set_column(
        upd.schema.get_field_index("o_orderstatus"),
        "o_orderstatus",
        pa.array(rng.choice(np.array(["O", "F", "P"]), len(pick))),
    )
    new = _orders(rng, np.arange(first_key, first_key + inserts), np.full(inserts, month))
    return pa.concat_tables([upd, new.cast(cur.schema)])


def apply_upsert(cur: pa.Table, delta: pa.Table, key: str) -> pa.Table:
    """The expected table after ``delete='NO'`` merges ``delta`` into
    ``cur`` on the unique column ``key``: delta rows replace same-key rows,
    new keys are appended.  An oracle independent of Spark."""
    gone = np.isin(cur[key].to_numpy(), delta[key].to_numpy())
    return pa.concat_tables([cur.filter(pa.array(~gone)), delta])
