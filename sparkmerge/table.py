"""SnapshotTable — versioned parquet snapshots committed by put-if-absent
version records.

Replaces the reference's ``begin transaction / commit / rollback``
(sp_SimpleMerge.sql:470-479) and the ``lastUpdate`` extended property
(:129-140, :485-491) without Delta/Iceberg (neither is installed —
SURVEY.md §7.0):

    table_dir/
      files/<token>/part-*.parquet   one writer's data, immutable once written
      v=1.json                       version records: data directory + schema
      v=2.json
      _props.json                    table properties (lastUpdate, ...)

Commit protocol, shared with ``PartitionedSnapshotTable`` (ptable.py):

- **stage**: each writer writes into its own ``files/<token>/``.  No record
  names it, so no reader can see it, and staging reserves no version number:
  the handle keeps the base version (current at staging) and the directory.
- **commit**: check that the base is still current, write the complete
  record to a temp file and ``os.link`` it to ``v=<base+1>.json``.  The link
  fails if that name exists — a put-if-absent — so of two writers on one
  base exactly one wins; the other gets ``MergeConflictError`` and its
  staged files are removed.
- The committed version is the largest ``N`` among the ``v=N.json`` records;
  readers resolve it at open, so every read is an MVCC snapshot read.
- **abort** (the ROLLBACK at :478-479) removes only the writer's own
  ``files/<token>``.  **vacuum** drops old records, then the data
  directories no kept record names; it never touches a staging directory no
  record names, since one may belong to a writer that is still running.

This is Delta Lake's log protocol (Armbrust et al., VLDB 2020).  On an object
store the link becomes a conditional PUT (S3 ``If-None-Match: *``, GCS
``ifGenerationMatch=0``); the data-writing side is unchanged.  Each version
here is a full snapshot; ``PartitionedSnapshotTable`` rewrites only the
partitions a merge touches and carries the rest forward by reference.
"""

from __future__ import annotations

import json
import os
import re
import secrets
import shutil
import tempfile
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from sparkmerge.errors import MergeConflictError, MergeError

_PROPS = "_props.json"
_RECORD = re.compile(r"v=(\d+)\.json")


def _token_dir(rel: str) -> str:
    """``files/<token>`` of a data directory named relative to the table."""
    return os.sep.join(rel.split(os.sep)[:2])


@dataclass(frozen=True)
class Staged:
    """A staged, uncommitted version: the committed version it was staged on,
    its private data directory (relative to the table; None when it wrote no
    data), and the record :meth:`SnapshotTable.commit` publishes."""

    base: int
    data_dir: str | None
    record: dict

    @property
    def version(self) -> int:
        """The version this handle commits as."""
        return self.base + 1


@dataclass
class SnapshotTable:
    """A versioned parquet table rooted at ``path`` (local/posix paths; see
    module docstring for the object-store adaptation)."""

    path: str

    # ---- version records ----

    def _record_path(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}.json")

    def versions(self) -> list[int]:
        """Retained committed version numbers, ascending: one per record."""
        if not os.path.isdir(self.path):
            return []
        return sorted(int(m[1]) for m in map(_RECORD.fullmatch, os.listdir(self.path)) if m)

    def current_version(self) -> int:
        """0 = table exists but has no committed snapshot yet."""
        return max(self.versions(), default=0)

    def exists(self) -> bool:
        return self.current_version() > 0

    def _record(self, version: int | None = None) -> dict:
        """The record of a retained ``version`` (default: the current one)."""
        v = self.current_version() if version is None else version
        if v == 0:
            raise MergeError(f"No committed snapshot at {self.path!r}")
        try:
            with open(self._record_path(v), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            raise MergeError(f"Version {v} not committed or vacuumed at {self.path!r}") from None

    def _data_dirs(self, record: dict) -> list[str]:
        """The data directories (relative to the table) a record names."""
        return [record["data"]]

    # ---- read / write ----

    @staticmethod
    def create(spark: SparkSession, path: str, df: DataFrame) -> "SnapshotTable":
        """Materialize ``df`` as version 1 of a new table."""
        table = SnapshotTable(path)
        if table.exists():
            raise MergeError(f"Table already exists at {path!r}")
        os.makedirs(path, exist_ok=True)
        table.commit(table.stage(df))
        return table

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the committed snapshot (resolved at call time), or a specific
        retained ``version`` — time travel over the MVCC history (any version
        not yet vacuumed stays readable).  The record's schema is the read
        schema, so the scan infers nothing: a read is ONE job."""
        rec = self._record(version)
        path = os.path.join(self.path, rec["data"])
        return spark.read.schema(StructType.fromJson(rec["schema"])).parquet(path)

    def _write(self, write: Callable[[str], None]) -> str:
        """Run ``write(out)`` into a new private directory ``files/<token>``
        and return it relative to the table.  A write that fails leaves
        nothing behind."""
        rel = os.path.join("files", secrets.token_hex(8))
        out = os.path.join(self.path, rel)
        try:
            write(out)
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise
        return rel

    def stage(self, df: DataFrame) -> Staged:
        """Write a new snapshot WITHOUT committing it — 'run the merge inside
        the transaction'.  No record names the data, so no reader sees it."""
        base = self.current_version()
        data = self._write(df.write.parquet)
        return Staged(base, data, {"data": data, "schema": df.schema.jsonValue()})

    def commit(self, staged: Staged) -> int:
        """Publish ``staged`` as version ``base + 1`` (the COMMIT at
        sp_SimpleMerge.sql:477); returns that version.

        Optimistic concurrency: if another writer committed after ``base``,
        publishing would silently drop its changes.  The record is linked
        into place only if no record of that version exists, so exactly one
        writer per base wins; the loser gets :class:`MergeConflictError` and
        its staged files are removed (a stale handle can never commit)."""
        current = self.current_version()
        if current == staged.base:
            fd, tmp = tempfile.mkstemp(dir=self.path, prefix="._v.")
            with os.fdopen(fd, "w", encoding="utf-8") as f:
                json.dump({**staged.record, "version": staged.version}, f,
                          sort_keys=True, separators=(",", ":"))
            try:
                os.link(tmp, self._record_path(staged.version))  # put-if-absent
                return staged.version
            except FileExistsError:  # another writer linked this version first
                current = self.current_version()
            finally:
                os.unlink(tmp)
        self.abort(staged)
        raise MergeConflictError(expected=staged.base, found=current)

    def _commit_on(self, base: int, staged: Staged) -> int:
        """Commit ``staged`` if it was staged on ``base``, the version its data
        was read at; on any other base it would drop the commits since."""
        if staged.base != base:
            self.abort(staged)
            raise MergeConflictError(expected=base, found=staged.base)
        return self.commit(staged)

    def abort(self, staged: Staged) -> None:
        """Discard a staged version (the ROLLBACK at sp_SimpleMerge.sql:478-479):
        remove this writer's own data directory, which no reader ever saw."""
        if staged.data_dir is not None:
            shutil.rmtree(os.path.join(self.path, staged.data_dir), ignore_errors=True)

    # ---- table properties (extended-property analog) ----

    def properties(self) -> dict[str, str]:
        p = os.path.join(self.path, _PROPS)
        if not os.path.exists(p):
            return {}
        with open(p, encoding="utf-8") as f:
            return json.load(f)

    def set_property(self, key: str, value: str) -> None:
        """Upsert one table property (``sp_addextendedproperty`` /
        ``sp_updateextendedproperty``, sp_SimpleMerge.sql:132-140,:485-491).
        Unlike the reference — which stamps lastUpdate even after a threshold
        rollback because raiserror severity 16 does not abort the batch
        (SURVEY.md §7.4) — callers here only stamp after a successful commit."""
        props = self.properties()
        props[key] = value
        fd, tmp = tempfile.mkstemp(dir=self.path, prefix="._props.")
        with os.fdopen(fd, "w", encoding="utf-8") as f:
            json.dump(props, f, indent=2, sort_keys=True)
        os.replace(tmp, os.path.join(self.path, _PROPS))

    # ---- schema evolution ----

    def add_columns(self, spark: SparkSession, columns: dict[str, str]) -> int:
        """Widen the table: commit a new version with NULL-filled columns of
        the given Spark DDL types (e.g. ``{"score": "double"}``).

        The reference's schema rule is source ⊆ target (sp_SimpleMerge.sql:
        200-201) — a source that grows a column fails validation until the
        target is widened; this is the explicit widening step.  Existing
        versions are untouched (MVCC), so readers pinned to an old version
        still see the old schema."""
        from pyspark.sql import functions as F

        base = self.current_version()
        df = self.read(spark, version=base)
        clash = set(df.columns).intersection(columns)
        if clash:
            raise MergeError(f"Columns already exist: {sorted(clash)!r}")
        for name, ddl in columns.items():
            df = df.withColumn(name, F.lit(None).cast(ddl))
        return self._commit_on(base, self.stage(df))

    # ---- maintenance ----

    def vacuum(self, keep: int = 2) -> list[int]:
        """Drop the records of all but the newest ``keep`` versions (never
        the current one), then every data directory no kept record names.
        Returns the removed version numbers.  A staging directory no record
        names is never touched: it may belong to a writer still running."""
        versions = self.versions()
        removable = versions[:-1][: max(0, len(versions) - keep)]
        named = {v: self._data_dirs(self._record(v)) for v in versions}
        live = {d for v in versions[len(removable):] for d in named[v]}
        dead = {d for v in removable for d in named[v]} - live
        for v in removable:
            os.remove(self._record_path(v))
        # a partitioned writer's token directory goes once none of it lives
        dead |= {_token_dir(d) for d in dead} - {_token_dir(d) for d in live}
        for d in dead:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        return removable
