"""SnapshotTable — versioned parquet tables, whole or partitioned, committed
by put-if-absent version records.

Replaces the reference's ``begin transaction / commit / rollback``
(sp_SimpleMerge.sql:470-479) and the ``lastUpdate`` extended property
(:129-140, :485-491) without Delta/Iceberg (neither is installed —
SURVEY.md §7.0):

    table_dir/
      files/<token>/part-*.parquet               one writer's data, immutable
      files/<token>/__part=<val>/part-*.parquet  (partitioned: per partition)
      v=1.json                                   version records
      v=2.json

A version record is the manifest of its version.  It maps each partition
value to the directory holding its data — which may live under ANY earlier
writer's ``files/<token>/`` — and carries the table properties, so a
property lands with the version that set it::

    {"version": 3, "partition_by": "o_orderstatus", "schema": {...},
     "partitions": {"O": "files/9c1e.../__part=O",   <- rewritten by v3
                    "F": "files/41d7.../__part=F"},  <- carried forward from v1
     "properties": {"lastUpdate": "2026-01-01 00:00:00.000"}}

An unpartitioned table is the one-partition case: ``partition_by`` is null
and its one entry (key ``""``) is a writer's whole ``files/<token>/``,
written by a plain parquet write, so a snapshot sits in one directory.

Commit protocol (Delta Lake's log protocol, Armbrust et al., VLDB 2020):

- **stage**: each writer writes into its own ``files/<token>/``.  No record
  names it, so no reader can see it, and staging reserves no version number:
  the handle keeps the base version (current at staging) and the record.
- **commit**: check that the base is still current, write the complete
  record to a temp file and ``os.link`` it to ``v=<base+1>.json``.  The link
  fails if that name exists — a put-if-absent — so of two writers on one
  base exactly one wins; the other gets ``MergeConflictError`` and its
  staged files are removed.  A property change is such a commit too, one
  that names the same data.
- The committed version is the largest ``N`` among the ``v=N.json`` records;
  readers resolve it at open, so every read is an MVCC snapshot read.
- **abort** (the ROLLBACK at :478-479) removes only the writer's own
  ``files/<token>``.  **vacuum** drops old records, then the data
  directories no kept record names; it never touches a staging directory no
  record names, since one may belong to a writer that is still running.

On an object store the link becomes a conditional PUT (S3
``If-None-Match: *``, GCS ``ifGenerationMatch=0``); the data-writing side is
unchanged.  A merge rewrites only the partitions it touches
(:meth:`SnapshotTable.stage_merge`) and carries the rest forward by
reference: an idempotent merge commits one record file and retains zero data.

Physical encoding of a partitioned write: ONE Spark job via ``partitionBy``
on a duplicated string column ``__part`` (so the real partition column
survives inside the data files with its original type).  Partition values
are canonicalized to strings (NULL → Hive's ``__HIVE_DEFAULT_PARTITION__``);
directory names are whatever Spark's path-escaping produced, decoded back
with ``urllib.parse.unquote`` from the staged listing — the manifest never
*predicts* an escape.

Multi-column partitioning: partition by a single DERIVED column, e.g.
``df.withColumn("part_key", F.concat_ws("|", "ds", "lang"))`` — it is a
normal data column, composes with ``prune_scan`` by including it in the join
key, and keeps the manifest a flat value → directory map.
"""

from __future__ import annotations

import json
import os
import re
import secrets
import shutil
import tempfile
from dataclasses import dataclass
from urllib.parse import unquote

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StructType

from sparkmerge.changeset import _qi, _qs
from sparkmerge.errors import MergeConflictError, MergeError

HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"
_PART = "__part"
_WHOLE = ""  # the one manifest key of an unpartitioned table
_RECORD = re.compile(r"v=(\d+)\.json")


def _token_dir(rel: str) -> str:
    """``files/<token>`` of a data directory named relative to the table."""
    return os.sep.join(rel.split(os.sep)[:2])


def canon_sql(name: str) -> str:
    """Canonical string form of a partition value (its manifest key) as
    Spark SQL text over column ``name`` (dots name nested fields, as in
    ``F.col``): cast to string, NULL → ``HIVE_NULL``."""
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

    def stamped(self, key: str, value: str) -> "Staged":
        """This handle with table property ``key`` set to ``value``."""
        props = {**self.record["properties"], key: value}
        return Staged(self.base, self.data_dir, {**self.record, "properties": props})


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

    def manifest(self, version: int | None = None) -> dict:
        """The record of a retained ``version`` (default: the current one)."""
        v = self.current_version() if version is None else version
        if v == 0:
            raise MergeError(f"No committed snapshot at {self.path!r}")
        try:
            with open(self._record_path(v), encoding="utf-8") as f:
                return json.load(f)
        except FileNotFoundError:
            raise MergeError(f"Version {v} not committed or vacuumed at {self.path!r}") from None

    def schema(self) -> StructType:
        return StructType.fromJson(self.manifest()["schema"])

    def partitions(self, version: int | None = None) -> dict[str, str]:
        """Committed partition map: canonical value → relative data dir."""
        return dict(self.manifest(version)["partitions"])

    def properties(self, version: int | None = None) -> dict[str, str]:
        """The table properties as of ``version`` (default: the current one)."""
        return dict(self.manifest(version)["properties"])

    # ---- create / read ----

    @staticmethod
    def create(
        spark: SparkSession, path: str, df: DataFrame, partition_by: str | None = None
    ) -> "SnapshotTable":
        """Materialize ``df`` as version 1 of a new table, partitioned by the
        column ``partition_by`` if given."""
        if partition_by is not None and partition_by not in df.columns:
            raise MergeError(f"Partition column {partition_by!r} not in {df.columns!r}")
        table = SnapshotTable(path)
        if table.exists():
            raise MergeError(f"Table already exists at {path!r}")
        os.makedirs(path, exist_ok=True)
        table.commit(table._stage_full({"version": 0, "partition_by": partition_by,
                                        "properties": {}}, df))
        return table

    def read(self, spark: SparkSession, version: int | None = None) -> DataFrame:
        """Read the committed snapshot (resolved at call time), or a specific
        retained ``version`` — time travel over the MVCC history (any version
        not yet vacuumed stays readable)."""
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
        outside ``values`` are never even enumerated.  The record's schema
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

    def _write_partitions(self, df: DataFrame, pcol: str | None) -> tuple[str, dict[str, str]]:
        """One job: write ``df`` into a new private directory
        ``files/<token>`` (under ``__part=<val>/`` when ``pcol`` partitions
        it) and return that directory and {canonical value: directory},
        relative to the table, from the actual listing.  A write that fails
        leaves nothing behind."""
        data = os.path.join("files", secrets.token_hex(8))
        out = os.path.join(self.path, data)
        try:
            if pcol is None:
                df.write.parquet(out)
            else:
                df.withColumn(_PART, canon_col(pcol)).write.partitionBy(_PART).parquet(out)
        except BaseException:
            shutil.rmtree(out, ignore_errors=True)
            raise
        if pcol is None:
            return data, {_WHOLE: data}
        prefix = f"{_PART}="
        return data, {unquote(e[len(prefix):]): os.path.join(data, e) for e in os.listdir(out)
                      if e.startswith(prefix) and os.path.isdir(os.path.join(out, e))}

    def _stage_full(self, base: dict, df: DataFrame) -> Staged:
        data, parts = self._write_partitions(df, base["partition_by"])
        return Staged(base["version"], data, {
            "partition_by": base["partition_by"], "schema": df.schema.jsonValue(),
            "partitions": parts, "properties": base["properties"]})

    def stage(self, df: DataFrame) -> Staged:
        """Write ``df`` as the whole next version WITHOUT committing it —
        'run the merge inside the transaction'.  No record names the data, so
        no reader sees it.  ``df``'s schema becomes the table's."""
        return self._stage_full(self.manifest(), df)

    def stage_merge(self, changed_df: DataFrame, changed_values: set[str]) -> Staged:
        """Stage a version on the current one: write ONLY the given
        partitions' new data (one job into this writer's own directory),
        carry every other partition forward by reference.  A given partition
        that comes back empty (all rows deleted) is dropped from the
        manifest; when all do, the writer's directory goes too and the
        version writes no data.  Invisible until commit.  The frame is cast
        by name to the record's schema (the read schema), so a wider source
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
            if not written:  # every partition came back empty: no data to name
                shutil.rmtree(os.path.join(self.path, data))
                data = None
        parts = dict(m["partitions"])
        for val in changed_values:
            if val in written:
                parts[val] = written[val]
            else:
                parts.pop(val, None)  # partition emptied by the merge
        return Staged(m["version"], data, {**m, "partitions": parts})

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
        if data is not None and all(_token_dir(d) != data for d in parts.values()):
            shutil.rmtree(os.path.join(self.path, data), ignore_errors=True)
            data = None
        return Staged(staged.base, data, {**staged.record, "partitions": parts})

    # ---- commit ----

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

    def set_property(self, key: str, value: str) -> int:
        """Upsert one table property (``sp_addextendedproperty`` /
        ``sp_updateextendedproperty``, sp_SimpleMerge.sql:132-140,:485-491)
        as a commit of the current version's data under new properties;
        returns the new version.  A commit landing first makes it raise
        :class:`MergeConflictError`, so neither change is lost.  Merges put
        ``lastUpdate`` into their own record instead — unlike the reference,
        which stamps even after a threshold rollback because raiserror
        severity 16 does not abort the batch (SURVEY.md §7.4)."""
        m = self.manifest()
        return self.commit(Staged(m["version"], None, m).stamped(key, value))

    # ---- schema evolution ----

    def add_columns(self, spark: SparkSession, columns: dict[str, str]) -> int:
        """Widen the table: commit a new version with NULL-filled columns of
        the given Spark DDL types (e.g. ``{"score": "double"}``).

        The reference's schema rule is source ⊆ target (sp_SimpleMerge.sql:
        200-201) — a source that grows a column fails validation until the
        target is widened; this is the explicit widening step.  Existing
        versions are untouched (MVCC), so readers pinned to an old version
        still see the old schema."""
        base = self.current_version()
        df = self.read(spark, version=base)
        clash = set(df.columns).intersection(columns)
        if clash:
            raise MergeError(f"Columns already exist: {sorted(clash)!r}")
        for name, ddl in columns.items():
            df = df.withColumn(name, F.lit(None).cast(ddl))
        return self._commit_on(base, self.stage(df))

    # ---- maintenance ----

    def compact(self, spark: SparkSession, *, values: list[str] | None = None) -> int:
        """Rewrite the selected partitions' data into ONE file each and
        commit the result as a new version (untouched partitions carry
        forward by reference, as in a merge).

        Frequent small merges each write small files into their touched
        partitions; readers then pay per-file open cost.  ``repartition(n,
        partition_col)`` hashes every value's rows into one task, so each
        partition directory receives exactly one file.  Compaction is a
        data-identical merge commit — MVCC readers of older versions are
        unaffected, and it commits only on the version it read, so a
        concurrent merge makes it fail, never lose that merge."""
        m = self.manifest()
        parts, base, pcol = m["partitions"], m["version"], m["partition_by"]
        chosen = set(parts) if values is None else {v for v in values if v in parts}
        if not chosen:
            return base
        data = self.read_partitions(spark, sorted(chosen), version=base).repartition(
            len(chosen), *([F.col(pcol)] if pcol else []))
        return self._commit_on(base, self.stage_merge(data, chosen))

    def vacuum(self, keep: int = 2) -> list[int]:
        """Drop the records of all but the newest ``keep`` versions (never
        the current one), then every data directory no kept record names.
        Returns the removed version numbers.  A staging directory no record
        names is never touched: it may belong to a writer still running."""
        versions = self.versions()
        removable = versions[:-1][: max(0, len(versions) - keep)]
        named = {v: self.manifest(v)["partitions"].values() for v in versions}
        live = {d for v in versions[len(removable):] for d in named[v]}
        dead = {d for v in removable for d in named[v]} - live
        for v in removable:
            os.remove(self._record_path(v))
        # a writer's token directory goes once none of its partitions lives
        dead |= {_token_dir(d) for d in dead} - {_token_dir(d) for d in live}
        for d in dead:
            shutil.rmtree(os.path.join(self.path, d), ignore_errors=True)
        return removable
