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
      files/v<N>/__part=<val>/part-*.parquet   immutable partition data,
                                               written once by version N
      v=<N>.json                               version manifest
      _CURRENT                                 committed version pointer
      _props.json                              table properties

A version manifest maps each partition value to the directory holding its
data — which may live under ANY earlier version's ``files/v<M>/`` dir::

    {"version": 3, "partition_by": "o_orderstatus", "schema": {...},
     "partitions": {"O": "files/v3/__part=O",      <- rewritten by v3
                    "F": "files/v1/__part=F",      <- carried forward from v1
                    "P": "files/v1/__part=P"}}

Commit protocol is unchanged from ``SnapshotTable``: stage (write changed
partitions + manifest, invisible to readers), then atomically swap
``_CURRENT``.  Abort deletes the staged files and manifest; the pointer —
and therefore every reader — never observes aborted data.  Carried-forward
partitions are referenced, never copied: an idempotent merge (empty
changeset) commits a new version by writing one manifest file and zero data.

Physical encoding: changed partitions are written in ONE Spark job via
``partitionBy`` on a duplicated string column ``__part`` (so the real
partition column survives inside the data files with its original type, and
a manifest read needs no partition-value reconstruction).  Partition values
are canonicalized to strings (NULL → Hive's ``__HIVE_DEFAULT_PARTITION__``);
directory names are whatever Spark's path-escaping produced, decoded back
with ``urllib.parse.unquote`` when the manifest is built from the staged
listing — the manifest never *predicts* an escape.

On an object store the directory moves disappear (paths are just keys), and
the ``_CURRENT`` swap becomes a conditional PUT or a metastore update —
the manifest design itself is the same one Iceberg/Delta use for this.

Multi-column partitioning: partition by a single DERIVED column, e.g.
``df.withColumn("part_key", F.concat_ws("|", "ds", "lang"))`` — the derived
column is a normal data column (it survives in the files), composes with
``prune_scan`` by including it in the join key, and keeps the manifest a
flat value → directory map.  This is deliberately simpler than nested
partition specs and loses nothing at the manifest level.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from sparkmerge.errors import MergeConflictError, MergeError
from sparkmerge.table import SnapshotTable

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


def canon_col(name: str) -> Column:
    """The same canonicalization as a Spark column expression."""
    return F.coalesce(F.col(name).cast("string"), F.lit(HIVE_NULL))


def _cast_strict(name: str, have: str | None, to: DataType) -> Column:
    """Column ``name`` (of type ``have``) cast to ``to``; a non-NULL value the
    cast makes NULL (overflow, bad string) raises whatever the ANSI mode.
    A column already of type ``to`` passes through: the guard would not fold."""
    c = F.col(name)
    if have == to.simpleString():
        return c
    msg = F.lit(f"column {name!r}: a value does not fit the table's type {to.simpleString()}")
    return F.when(c.isNotNull() & c.try_cast(to).isNull(), F.raise_error(msg)).otherwise(
        c.cast(to)).alias(name)


class PartitionedSnapshotTable(SnapshotTable):
    """A ``SnapshotTable`` whose versions are partition manifests.

    Inherits the pointer (`_CURRENT`) and properties machinery; replaces the
    data layout with per-partition directories + per-version manifests.
    """

    # ---- manifest bookkeeping ----

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}.json")

    def manifest(self, version: int | None = None) -> dict:
        v = self.current_version() if version is None else version
        if v == 0:
            raise MergeError(f"No committed snapshot at {self.path!r}")
        if version is not None and version > self.current_version():
            # A staged-but-uncommitted manifest (e.g. an orphan from a crash
            # between stage and commit) must never be readable: time-travel
            # readers would observe data that was never committed.
            raise MergeError(
                f"Version {version} at {self.path!r} is staged but not committed"
            )
        with open(self._manifest_path(v), encoding="utf-8") as f:
            return json.load(f)

    @property
    def partition_by(self) -> str:
        return self.manifest()["partition_by"]

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
        parts = table._write_partitions(df, 1, partition_by)
        table._write_manifest(1, partition_by, df.schema, parts)
        table._swap_pointer(1)
        return table

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the committed snapshot, or a specific retained ``version``
        (time travel: old manifests stay readable until vacuumed)."""
        return self.read_partitions(spark, None, version=version)

    def versions(self) -> list[int]:
        """Retained COMMITTED version numbers, ascending.  Staged-but-
        uncommitted manifests (crash orphans) are excluded — they were never
        visible to any reader."""
        cur = self.current_version()
        return sorted(
            v
            for f in os.listdir(self.path)
            if f.startswith("v=") and f.endswith(".json")
            for v in (int(f[2:-5]),)
            if v <= cur
        )

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

    # ---- stage / commit / abort ----

    def stage(self, df: DataFrame) -> int:
        """Full-snapshot staging is the plain-table protocol; a partitioned
        table stages through :meth:`stage_merge` so untouched partitions are
        carried forward instead of rewritten."""
        raise MergeError("PartitionedSnapshotTable stages via stage_merge()")

    def stage_merge(self, changed_df: DataFrame, changed_values: set[str]) -> int:
        """Stage version N+1: write ONLY the changed partitions' new data
        (one ``partitionBy`` job), carry every other partition forward by
        reference.  A changed partition that comes back empty (all rows
        deleted) is dropped from the manifest.  Invisible until commit.  The
        frame is cast by name to the manifest's schema (the read schema), so
        a wider source type cannot make the committed version unreadable."""
        m = self.manifest()
        pcol, schema = m["partition_by"], StructType.fromJson(m["schema"])
        v = self.current_version() + 1
        written: dict[str, str] = {}
        if changed_values:
            have = dict(changed_df.dtypes)
            changed_df = changed_df.select(
                *(_cast_strict(f.name, have.get(f.name), f.dataType) for f in schema))
            written = self._write_partitions(changed_df, v, pcol)
            unexpected = set(written) - set(changed_values)
            if unexpected:
                raise MergeError(
                    f"Staged data contains partitions not marked changed: {sorted(unexpected)!r}"
                )
        parts = dict(m["partitions"])
        for val in changed_values:
            if val in written:
                parts[val] = written[val]
            else:
                parts.pop(val, None)  # partition emptied by the merge
        self._write_manifest(v, pcol, schema, parts)
        return v

    def commit(self, version: int) -> None:
        """Publish a staged manifest; same optimistic-concurrency contract as
        :meth:`SnapshotTable.commit` (conflict ⇒ MergeConflictError)."""
        if not os.path.exists(self._manifest_path(version)):
            raise MergeError(f"Version {version} was never staged at {self.path!r}")
        current = self.current_version()
        if current != version - 1:
            raise MergeConflictError(expected=version - 1, found=current)
        self._swap_pointer(version)

    def abort(self, version: int) -> None:
        staged = os.path.join(self.path, "files", f"v{version}")
        if os.path.isdir(staged):
            shutil.rmtree(staged)
        manifest = self._manifest_path(version)
        if os.path.exists(manifest):
            os.remove(manifest)

    # ---- internals ----

    def _write_partitions(self, df: DataFrame, version: int, pcol: str) -> dict[str, str]:
        """One job: write ``df`` under ``files/v<version>/__part=<val>/``,
        returning {canonical value: relative dir} from the actual listing."""
        rel = os.path.join("files", f"v{version}")
        out = os.path.join(self.path, rel)
        df.withColumn(_PART, canon_col(pcol)).write.mode("overwrite").partitionBy(
            _PART
        ).parquet(out)
        found: dict[str, str] = {}
        prefix = f"{_PART}="
        for entry in os.listdir(out):
            if entry.startswith(prefix) and os.path.isdir(os.path.join(out, entry)):
                found[unquote(entry[len(prefix):])] = os.path.join(rel, entry)
        return found

    def _write_manifest(
        self, version: int, pcol: str, schema: StructType, parts: dict[str, str]
    ) -> None:
        clean = StructType([f for f in schema.fields if f.name != _PART])
        doc = {
            "version": version,
            "partition_by": pcol,
            "schema": clean.jsonValue(),
            "partitions": parts,
        }
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix="._manifest.")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(doc, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path(version))

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
        versions are unaffected, and the commit conflict check serializes it
        against concurrent merges."""
        parts = self.partitions()
        chosen = set(parts) if values is None else {v for v in values if v in parts}
        if not chosen:
            return self.current_version()
        pcol = self.partition_by
        data = self.read_partitions(spark, sorted(chosen)).repartition(
            len(chosen), F.col(pcol)
        )
        staged = self.stage_merge(data, chosen)
        self.commit(staged)
        return staged

    def vacuum(self, keep: int = 2) -> list[int]:
        """Drop manifests (and any data dirs no surviving manifest
        references) for all but the newest ``keep`` committed versions."""
        cur = self.current_version()
        # committed versions only: a staged orphan must neither count toward
        # `keep` nor be touched (it may belong to an in-flight committer)
        versions = self.versions()
        removable = [v for v in versions if v != cur][: max(0, len(versions) - keep)]
        kept = [v for v in versions if v not in removable]
        live_dirs = {d for v in kept for d in self.manifest(v)["partitions"].values()}
        for v in removable:
            os.remove(self._manifest_path(v))
            vdir_rel = os.path.join("files", f"v{v}")
            vdir = os.path.join(self.path, vdir_rel)
            if os.path.isdir(vdir):
                for entry in os.listdir(vdir):
                    if os.path.join(vdir_rel, entry) not in live_dirs:
                        shutil.rmtree(os.path.join(vdir, entry), ignore_errors=True)
                if not any(e.startswith(_PART) for e in os.listdir(vdir)):
                    shutil.rmtree(vdir, ignore_errors=True)
        return removable
