"""``PartitionedSnapshotTable`` — the name partitioned tables had while they
were a class of their own.  There is one table class now (table.py): a
table is partitioned when it is created with ``partition_by``, so
``PartitionedSnapshotTable.create(spark, path, df, "ds")`` is
``SnapshotTable.create(spark, path, df, "ds")``."""

from sparkmerge.table import SnapshotTable

PartitionedSnapshotTable = SnapshotTable

__all__ = ["PartitionedSnapshotTable"]
