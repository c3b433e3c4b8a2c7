"""Local differential harness — runs every registry op's Spark query AND its
DuckDB oracle at a given sf dir and compares row count, column names, and an
order-insensitive value comparison (exact for ints/strings/bools/timestamps,
bit-exact for doubles — matching the driver's value-hash gate).

Tier-1 makes this comparison for every op at sf0.001
(``tests/test_oracle_sweep.py``, through :func:`mismatches`); this tool runs
it at the larger scales (sf0.01, sf0.1) or on a chosen subset of ops.

Usage: python tools/check_oracle.py [sf_dir] [op_id ...]
       python tools/check_oracle.py --json LOCAL_ORACLE.json [sf_dir] [op_id ...]

``--json PATH`` additionally writes a machine-readable artifact
(op → pass/fail/rows-only + row count + seconds, plus sf dir and a
UTC timestamp), the per-scale record behind ``LOCAL_ORACLE*.json``.
"""

from __future__ import annotations

import datetime
import json
import os
import sys
import time
import traceback

import duckdb
import numpy as np
import pandas as pd

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def canon(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or v is pd.NaT or (isinstance(v, float) and np.isnan(v)):
            return "∅"
        if isinstance(v, (np.floating, float)):
            return repr(float(v))
        if isinstance(v, (np.integer, int)):
            return str(int(v))
        if isinstance(v, (pd.Timestamp,)):
            return v.isoformat()
        if isinstance(v, (list, np.ndarray)):
            return "[" + ",".join(cell(x) for x in v) + "]"
        return str(v)

    out = df.map(cell)
    return out.sort_values(by=list(out.columns), kind="mergesort").reset_index(drop=True)


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per corpus table present in
    ``sf_dir`` — the names the oracle SQL reads."""
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def mismatches(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    """Every way the Spark output ``got`` differs from the oracle output
    ``want``: row count, column names, non-scalar cells, then canonical
    values.  Empty when they match."""
    problems = []
    # Driver-comparator safety: the driver canonicalizes via pandas
    # sort_values over all columns, which raises on unhashable cells
    # (list/dict/np.ndarray).  Registry outputs must therefore be
    # scalar-only; flag any offender even when our own cell-wise canon
    # would cope with it.
    for col in got.columns:
        nonnull = got[col].dropna()
        if not len(nonnull):
            continue
        cell = nonnull.iloc[0]
        if isinstance(cell, (list, dict)) or getattr(cell, "ndim", 0) > 0:
            problems.append(
                f"non-scalar output column {col!r} "
                f"({type(cell).__name__}) would crash the driver's "
                "canonicalizer — serialize it (array_join etc.)"
            )
    if len(got) != len(want):
        problems.append(f"row count: spark={len(got)} duckdb={len(want)}")
    g_cols, w_cols = sorted(got.columns), sorted(want.columns)
    if g_cols != w_cols:
        problems.append(f"columns: spark={g_cols} duckdb={w_cols}")
    if not problems:
        cg, cw = canon(got), canon(want)
        if not cg.equals(cw):
            neq = (cg != cw).any(axis=1)
            problems.append(
                f"values differ in {int(neq.sum())}/{len(cg)} rows\n"
                f"  spark:  {cg[neq].head(3).to_dict('records')}\n"
                f"  duckdb: {cw[neq].head(3).to_dict('records')}"
            )
    return problems


def main() -> int:
    argv = sys.argv[1:]
    json_path = None
    if argv and argv[0] == "--json":
        json_path = argv[1]
        argv = argv[2:]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from sparkmerge.queries import registry
    from sparkmerge.session import get_spark

    spark = get_spark("check_oracle")
    spark.sparkContext.setLogLevel("ERROR")
    con = connect(sf_dir)

    reg = registry()
    failures, passed, rows_only = [], 0, 0
    record: dict[str, dict] = {}
    # Per-op provenance stamp (ADVICE r6): merged partial runs re-stamp the
    # artifact-level generated_utc, so each ROW carries the timestamp of the
    # run that actually produced it — carried-over rows keep their own.
    run_utc = datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds")
    for op_id, spec in sorted(reg.items()):
        if only and op_id not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir).toPandas()
        except Exception:
            failures.append((op_id, "SPARK ERROR:\n" + traceback.format_exc(limit=8)))
            record[op_id] = {"status": "spark_error", "checked_utc": run_utc, "rows": None, "secs": round(time.time() - t0, 2)}
            continue
        if spec.oracle is None:
            rows_only += 1
            print(f"  ~ {op_id:28s} rows-only ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            record[op_id] = {"status": "rows_only", "checked_utc": run_utc, "rows": len(sdf), "secs": round(time.time() - t0, 2)}
            continue
        try:
            odf = con.sql(spec.oracle).df()
        except Exception:
            failures.append((op_id, "ORACLE ERROR:\n" + traceback.format_exc(limit=4)))
            record[op_id] = {"status": "oracle_error", "checked_utc": run_utc, "rows": len(sdf), "secs": round(time.time() - t0, 2)}
            continue
        problems = mismatches(sdf, odf)
        if problems:
            failures.append((op_id, "; ".join(problems)))
            print(f"  ✗ {op_id:28s} MISMATCH ({time.time()-t0:.1f}s)")
            record[op_id] = {"status": "mismatch", "checked_utc": run_utc, "rows": len(sdf), "secs": round(time.time() - t0, 2)}
        else:
            passed += 1
            print(f"  ✓ {op_id:28s} ok ({len(sdf)} rows, {time.time()-t0:.1f}s)")
            record[op_id] = {"status": "pass", "checked_utc": run_utc, "rows": len(sdf), "secs": round(time.time() - t0, 2)}

    if json_path:
        # Incremental (`op_id ...`-restricted) runs MERGE into an existing
        # artifact at the same sf_dir and RECOUNT the summary over the
        # merged ops dict — a partial run must never publish partial
        # counters as if they were the sweep total (r5 verdict ask #4:
        # LOCAL_ORACLE*.json shipped pass=234 next to a 238-entry ops dict).
        merged = dict(record)
        if only and os.path.exists(json_path):
            try:
                with open(json_path, encoding="utf-8") as f:
                    prev = json.load(f)
                if prev.get("sf_dir") == sf_dir and isinstance(prev.get("ops"), dict):
                    carried = {
                        op: (
                            r
                            if "checked_utc" in r
                            # pre-r7 rows have no per-op stamp: inherit the
                            # artifact stamp they were generated under
                            else {**r, "checked_utc": prev.get("generated_utc")}
                        )
                        for op, r in prev["ops"].items()
                    }
                    merged = {**carried, **record}
            except (OSError, ValueError):
                pass
        merged = {op: r for op, r in merged.items() if op in reg}
        artifact = {
            "sf_dir": sf_dir,
            "generated_utc": datetime.datetime.now(datetime.timezone.utc).isoformat(timespec="seconds"),
            "pass": sum(1 for r in merged.values() if r["status"] == "pass"),
            "rows_only": sum(1 for r in merged.values() if r["status"] == "rows_only"),
            "failures": sum(
                1 for r in merged.values() if r["status"] not in ("pass", "rows_only")
            ),
            "total_registry": len(reg),
            "ops": merged,
        }
        with open(json_path, "w", encoding="utf-8") as f:
            json.dump(artifact, f, indent=1, sort_keys=True)
        print(f"wrote {json_path}")

    print(f"\n{passed} hash-match, {rows_only} rows-only, {len(failures)} failures / {len(reg)} ops")
    for op_id, msg in failures:
        print(f"\n--- {op_id} ---\n{msg[:2000]}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
