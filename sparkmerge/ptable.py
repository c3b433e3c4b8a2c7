"""PartitionedSnapshotTable — manifest-based versioned parquet with
changed-partition-only rewrite.

This is the 100 TB storage design SURVEY.md §7.2 specifies on top of the
plain ``SnapshotTable`` (table.py): the reference's transaction
(sp_SimpleMerge.sql:470-479) rewrites the whole target in place, and
``SnapshotTable`` likewise rewrites the full snapshot per version — correct
at any scale, but a 100 TB target whose daily changeset touches 1% of
partitions should rewrite 1% of the data, not 100%.

Layout::

    table_dir/
      files/<token>/__part=<val>/part-*.parquet   immutable partition data,
                                                  written by one writer
      v=<N>.json                                  version record = manifest
      _props.json                                 table properties

A version manifest maps each partition value to the directory holding its
data — which may live under ANY earlier writer's ``files/<token>/`` dir::

    {"version": 3, "partition_by": "o_orderstatus", "schema": {...},
     "partitions": {"O": "files/9c1e.../__part=O",   <- rewritten by v3
                    "F": "files/41d7.../__part=F",   <- carried forward from v1
                    "P": "files/41d7.../__part=P"}}

The commit protocol is ``SnapshotTable``'s (table.py), with the manifest as
the version record: stage writes the changed partitions into the writer's
own ``files/<token>/`` (invisible: no manifest names it), commit links the
manifest to ``v=<base+1>.json`` if no writer did first, abort removes the
token directory.  Carried-forward partitions are referenced, never copied:
an idempotent merge (empty changeset) commits a new version as one manifest
file and retains zero data.  A scan-pruned merge writes every partition its
source covers, then carries the unchanged ones forward and removes their
staged copies (``carry_forward``), so it retains zero data too.

Physical encoding: changed partitions are written in ONE Spark job via
``partitionBy`` on a duplicated string column ``__part`` (so the real
partition column survives inside the data files with its original type, and
a manifest read needs no partition-value reconstruction).  Partition values
are canonicalized to strings (NULL → Hive's ``__HIVE_DEFAULT_PARTITION__``);
directory names are whatever Spark's path-escaping produced, decoded back
with ``urllib.parse.unquote`` when the manifest is built from the staged
listing — the manifest never *predicts* an escape.

On an object store the record link becomes a conditional PUT (``If-None-Match``)
— the manifest design itself is the same one Iceberg/Delta use for this.

Multi-column partitioning: partition by a single DERIVED column, e.g.
``df.withColumn("part_key", F.concat_ws("|", "ds", "lang"))`` — the derived
column is a normal data column (it survives in the files), composes with
``prune_scan`` by including it in the join key, and keeps the manifest a
flat value → directory map.  This is deliberately simpler than nested
partition specs and loses nothing at the manifest level.
"""

from __future__ import annotations

import os
import shutil
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from sparkmerge.changeset import _qi, _qs
from sparkmerge.errors import MergeError
from sparkmerge.table import SnapshotTable, Staged

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_PART = "__part"

# Distinct-partition ceiling for driver-side value sets (merge_partitioned
# collects partition VALUES, never rows).  100k string values is a few MB of
# driver memory; a table with more distinct partitions than this is
# mis-partitioned and every metadata operation on it would crawl — fail fast.
MAX_PARTITION_VALUES = 100_000


def canon_value(v) -> str:
    """Canonical string form of a partition value (manifest key)."""
    return HIVE_NULL if v is None else str(v)


def canon_sql(name: str) -> str:
    """The same canonicalization as Spark SQL text over column ``name``
    (dots name nested fields, as in ``F.col``)."""
    ident = ".".join(_qi(part) for part in name.split("."))
    return f"coalesce(CAST({ident} AS STRING), {_qs(HIVE_NULL)})"


def canon_col(name: str) -> Column:
    """The same canonicalization as a Spark column expression."""
    return F.expr(canon_sql(name))


def _cast_strict(name: str, have: str | None, to: DataType) -> str:
    """SQL text: column ``name`` (of type ``have``) cast to ``to``; a non-NULL
    value the cast makes NULL (overflow, bad string) raises whatever the ANSI
    mode.  A column already of type ``to`` passes through: the guard would
    not fold.  Text, so a whole row of casts is one ``selectExpr``."""
    c, t = _qi(name), to.simpleString()
    if have == t:
        return c
    msg = _qs(f"column {name!r}: a value does not fit the table's type {t}")
    return (f"CASE WHEN ({c} IS NOT NULL AND try_cast({c} AS {t}) IS NULL)"
            f" THEN raise_error({msg}) ELSE CAST({c} AS {t}) END AS {c}")


class PartitionedSnapshotTable(SnapshotTable):
    """A ``SnapshotTable`` whose version records are partition manifests.

    Shares the commit protocol (put-if-absent records, per-writer staging
    directories, abort, vacuum) and the properties machinery; replaces the
    data layout with per-partition directories.
    """

    # the shared protocol, bound in this class body too so that per-class
    # wrappers (tracing, profiling) see it under this class
    commit = SnapshotTable.commit
    vacuum = SnapshotTable.vacuum

    # ---- manifest bookkeeping ----

    def manifest(self, version: int | None = None) -> dict:
        """The manifest (version record) of a retained ``version``, default
        the current one."""
        return self._record(version)

    def _data_dirs(self, record: dict) -> list[str]:
        return list(record["partitions"].values())

    def schema(self) -> StructType:
        return StructType.fromJson(self.manifest()["schema"])

    def partitions(self, version: int | None = None) -> dict[str, str]:
        """Committed partition map: canonical value → relative data dir."""
        return dict(self.manifest(version)["partitions"])

    # ---- create / read ----

    @staticmethod
    def create(
        spark: SparkSession, path: str, df: DataFrame, partition_by: str
    ) -> "PartitionedSnapshotTable":
        if partition_by not in df.columns:
            raise MergeError(f"Partition column {partition_by!r} not in {df.columns!r}")
        table = PartitionedSnapshotTable(path)
        if table.exists():
            raise MergeError(f"Table already exists at {path!r}")
        os.makedirs(path, exist_ok=True)
        data, parts = table._write_partitions(df, partition_by)
        schema = StructType([f for f in df.schema.fields if f.name != _PART])
        table.commit(Staged(0, data, {"partition_by": partition_by,
                                      "schema": schema.jsonValue(), "partitions": parts}))
        return table

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the committed snapshot, or a specific retained ``version``
        (time travel: old manifests stay readable until vacuumed)."""
        return self.read_partitions(spark, None, version=version)

    def read_partitions(
        self,
        spark: SparkSession,
        values: list[str] | None,
        *,
        version: int | None = None,
    ) -> DataFrame:
        """Read the committed snapshot, pruned to the given canonical
        partition values (None → all).  Each manifest entry is a leaf
        directory, so the scan's file listing IS the pruning — partitions
        outside ``values`` are never even enumerated.  The manifest's schema
        is the read schema, so the scan infers nothing: a read is ONE job."""
        m = self.manifest(version)
        schema, parts = StructType.fromJson(m["schema"]), m["partitions"]
        if values is not None:
            parts = {k: d for k, d in parts.items() if k in set(values)}
        if not parts:
            return spark.createDataFrame([], schema)
        paths = (os.path.join(self.path, d) for d in parts.values())
        return spark.read.schema(schema).parquet(*paths)

    # ---- stage ----

    def stage(self, df: DataFrame) -> Staged:
        """Full-snapshot staging is the plain-table protocol; a partitioned
        table stages through :meth:`stage_merge` so untouched partitions are
        carried forward instead of rewritten."""
        raise MergeError("PartitionedSnapshotTable stages via stage_merge()")

    def stage_merge(self, changed_df: DataFrame, changed_values: set[str]) -> Staged:
        """Stage a version on the current one: write ONLY the given
        partitions' new data (one ``partitionBy`` job into this writer's own
        directory), carry every other partition forward by reference.  A
        given partition that comes back empty (all rows deleted) is dropped
        from the manifest.  Invisible until commit.  The frame is cast by
        name to the manifest's schema (the read schema), so a wider source
        type cannot make the committed version unreadable."""
        m = self.manifest()
        pcol, schema = m["partition_by"], StructType.fromJson(m["schema"])
        data, written = None, {}
        if changed_values:
            have = dict(changed_df.dtypes)
            changed_df = changed_df.selectExpr(
                *(_cast_strict(f.name, have.get(f.name), f.dataType) for f in schema))
            data, written = self._write_partitions(changed_df, pcol)
            unexpected = set(written) - set(changed_values)
            if unexpected:
                shutil.rmtree(os.path.join(self.path, data))
                raise MergeError(
                    f"Staged data contains partitions not marked changed: {sorted(unexpected)!r}"
                )
        parts = dict(m["partitions"])
        for val in changed_values:
            if val in written:
                parts[val] = written[val]
            else:
                parts.pop(val, None)  # partition emptied by the merge
        return Staged(m["version"], data, {"partition_by": pcol, "schema": m["schema"],
                                           "partitions": parts})

    def carry_forward(self, staged: Staged, values: set[str]) -> Staged:
        """``staged`` (a :meth:`stage_merge` result) with the partitions
        ``values``, which it staged, carried forward from its base instead:
        their base manifest entries restored (or left out, if the base had
        none) and their staged directories removed.  When no staged
        partition remains, the writer's token directory goes too, so the
        version writes no data."""
        if not values:
            return staged
        base = self.manifest(staged.base)["partitions"]
        parts = dict(staged.record["partitions"])
        for val in values:
            written = parts.pop(val, None)  # None: the staged partition came back empty
            if written is not None:
                shutil.rmtree(os.path.join(self.path, written))
            if val in base:
                parts[val] = base[val]
        data = staged.data_dir
        if data is not None and all(os.path.dirname(d) != data for d in parts.values()):
            shutil.rmtree(os.path.join(self.path, data))
            data = None
        return Staged(staged.base, data, {**staged.record, "partitions": parts})

    def _write_partitions(self, df: DataFrame, pcol: str) -> tuple[str, dict[str, str]]:
        """One job: write ``df`` under ``files/<token>/__part=<val>/``,
        returning the token directory and {canonical value: relative dir}
        from the actual listing."""
        data = self._write(df.withColumn(_PART, canon_col(pcol)).write.partitionBy(_PART).parquet)
        out = os.path.join(self.path, data)
        found: dict[str, str] = {}
        prefix = f"{_PART}="
        for entry in os.listdir(out):
            if entry.startswith(prefix) and os.path.isdir(os.path.join(out, entry)):
                found[unquote(entry[len(prefix):])] = os.path.join(data, entry)
        return data, found

    # ---- maintenance ----

    def compact(self, spark: SparkSession, *, values: list[str] | None = None) -> int:
        """Rewrite the selected partitions' data into ONE file each and
        commit the result as a new version (untouched partitions carry
        forward by reference, as in a merge).

        This is the small-file compaction every incrementally-merged 100 TB
        table eventually needs: frequent small merges each write small files
        into their touched partitions; readers then pay per-file open cost.
        ``repartition(n, partition_col)`` hashes every value's rows into one
        task, so each partition directory receives exactly one file.
        Compaction is a data-identical merge commit — MVCC readers of older
        versions are unaffected, and it commits only on the version it read,
        so a concurrent merge makes it fail, never lose that merge."""
        m = self.manifest()
        parts, base = m["partitions"], m["version"]
        chosen = set(parts) if values is None else {v for v in values if v in parts}
        if not chosen:
            return base
        data = self.read_partitions(spark, sorted(chosen), version=base).repartition(
            len(chosen), F.col(m["partition_by"])
        )
        return self._commit_on(base, self.stage_merge(data, chosen))
