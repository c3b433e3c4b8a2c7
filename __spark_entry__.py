"""Driver contract (PySpark target): ``entry``, ``queries`` and ``oracle_sql``.

A verifier runs ``entry(spark)`` as a smoke check, runs each
``queries()[name]`` and compares it against the matching
``oracle_sql()[name]`` via DuckDB (row count + schema + order-insensitive
value hash).  Tier-1 makes the same comparison for every op at sf0.001
(``tests/test_oracle_sweep.py``); ``tools/check_oracle.py`` runs it at any
other scale.

All operators live in ``sparkmerge.queries`` (one module per SURVEY.md §2
section); this file only adapts the registry to the driver's interface.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the engine's single-pass
    full-outer merge classification (SURVEY.md §2.A merge_full) over the
    canonical mutated-orders fixture."""
    from sparkmerge.queries import registry

    return registry()["merge_full"].fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in registration
    order."""
    from sparkmerge.queries import registry

    return {op_id: spec.fn for op_id, spec in registry().items()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every hash-checkable op; rows-only ops
    (genuinely non-SQL-expressible: streaming, Spark-hash-based LSH) are
    omitted per the driver contract."""
    from sparkmerge.queries import registry

    return {
        op_id: spec.oracle for op_id, spec in registry().items() if spec.oracle is not None
    }
