"""sparkmerge — a PySpark-native re-expression of SQLFox/SimpleMerge.

The reference (``/root/reference/sp_SimpleMerge.sql``) is a metadata-driven
T-SQL MERGE generator: it introspects two table schemas, generates one MERGE
statement (null-safe composite key join, INTERSECT change detection,
insert/update/delete actions, scope filter, dedup-ranking, CDC audit output,
variance-threshold commit guard) and executes it in a transaction.

This package re-expresses that as idiomatic Spark dataflow:

- ``plan.MergePlan``       — schema introspection + validation
  (replaces the ``#columnList`` catalog IR, sp_SimpleMerge.sql:151-201)
- ``changeset``            — ONE full-outer join producing a typed changeset
  (replaces the generated MERGE text, sp_SimpleMerge.sql:202-412)
- ``table.SnapshotTable``  — versioned parquet tables, whole or partitioned:
  each version is one put-if-absent record (``v=N.json``) naming its data
  directories and carrying the table properties (replaces begin/commit/
  rollback and the lastUpdate extended property, sp_SimpleMerge.sql:
  470-491); merges into a partitioned table rewrite only touched
  partitions, the rest carry forward by reference (the 100 TB layout,
  SURVEY.md §7.2).  ``PartitionedSnapshotTable`` is an alias of it
- ``merge.simple_merge``   — orchestration: threshold guard, audit append,
  debug dry-run, lastUpdate property (sp_SimpleMerge.sql:57-67 surface)
- ``merge.merge_partitioned`` — the same orchestration over a partitioned
  table, with write pruning and optional key-sound scan pruning
- ``ext/``                 — LLM-data-pipeline operators (dedup, similarity
  search, text analysis, multimodal columns, streaming) mandated by the
  build contract; designed for 100 TB scale.
"""

from sparkmerge.errors import (
    MergeConflictError,
    MergeError,
    MergeThresholdExceeded,
    MergeValidationError,
)
from sparkmerge.plan import MergePlan
from sparkmerge.changeset import Changeset, build_changeset
from sparkmerge.table import SnapshotTable
from sparkmerge.ptable import PartitionedSnapshotTable
from sparkmerge.merge import (
    MergeReport,
    MergeResult,
    diff_versions,
    merge_partitioned,
    scd2_merge,
    simple_merge,
)

__all__ = [
    "Changeset",
    "MergeConflictError",
    "MergeError",
    "MergePlan",
    "MergeReport",
    "MergeResult",
    "MergeThresholdExceeded",
    "MergeValidationError",
    "PartitionedSnapshotTable",
    "SnapshotTable",
    "build_changeset",
    "diff_versions",
    "merge_partitioned",
    "scd2_merge",
    "simple_merge",
]

__version__ = "0.1.0"
