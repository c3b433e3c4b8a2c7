"""Generated-code size of a plan's whole-stage-codegen subtrees.

Whole-stage codegen fuses a stage's operators into one Java method per
subtree.  HotSpot never JIT-compiles a method of more than 8,000 bytes of
bytecode (``-XX:HugeMethodLimit``; ``DontCompileHugeMethods`` is on by
default), so a subtree over that size runs in the bytecode interpreter for
the life of the JVM.  A wide projection fused into a join is the usual way
to get there (the merge changeset's image projection measured 10 KB before
it was rewritten to stay linear in table width).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

HUGE_METHOD_LIMIT = 8000


def max_method_sizes(df: DataFrame) -> list[int]:
    """``maxMethodCodeSize`` (bytes) of each whole-stage-codegen subtree of
    ``df``'s physical plan, in subtree order.  Compiles the plan without
    running it.  An adaptive (AQE) plan lists its subtrees only after it has
    executed, so read an unexecuted plan with
    ``spark.sql.adaptive.enabled=false``."""
    text = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "codegen")
    return [int(n) for n in re.findall(r"maxMethodCodeSize:(\d+)", text)]
