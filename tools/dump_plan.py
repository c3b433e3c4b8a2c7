"""Dump `.explain("formatted")` for named ops to plans/<tag>/<op>_<suffix>.txt.

The optimization-round evidence contract: every touched query commits its
before/after formatted plan so plan claims can be checked without running
Spark.  Each dump ends with the largest generated method of every
whole-stage-codegen subtree; a subtree at or over HotSpot's 8,000-byte
limit is flagged, because the JIT never compiles it.

Usage: python tools/dump_plan.py <tag> <suffix> [sf_dir] op [op ...]
   e.g. python tools/dump_plan.py r12 before /root/testdata/sf0.1 tpch_q5
"""

from __future__ import annotations

import os
import sys


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    rest = sys.argv[3:]
    sf_dir = rest[0] if rest and os.path.isdir(rest[0]) else "/root/testdata/sf0.1"
    ops = [a for a in rest if not os.path.isdir(a)]
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    from sparkmerge.codegen import HUGE_METHOD_LIMIT, max_method_sizes
    from sparkmerge.queries import registry
    from sparkmerge.session import get_spark

    input_bytes = sum(
        os.path.getsize(os.path.join(sf_dir, f))
        for f in os.listdir(sf_dir)
        if f.endswith(".parquet")
    )
    spark = get_spark("dump-plan", input_bytes=input_bytes)
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    out_dir = os.path.join(root, "plans", tag)
    os.makedirs(out_dir, exist_ok=True)
    for op in ops:
        df = reg[op].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        sizes = max_method_sizes(df)
        path = os.path.join(out_dir, f"{op}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(f"# {op} @ {sf_dir} ({suffix})\n\n")
            fh.write(plan)
            fh.write("\n== maxMethodCodeSize per codegen subtree ==\n")
            if not sizes:
                fh.write("(none listed: an adaptive plan shows them only once run)\n")
            for i, n in enumerate(sizes, 1):
                flag = f"  >= {HUGE_METHOD_LIMIT}: never JIT-compiled" if n >= HUGE_METHOD_LIMIT else ""
                fh.write(f"subtree {i}: {n}{flag}\n")
        top = max(sizes, default=0)
        print(f"wrote {path}  maxMethodCodeSize {top}" + ("  NOT JIT-COMPILED" if top >= HUGE_METHOD_LIMIT else ""))


if __name__ == "__main__":
    main()
