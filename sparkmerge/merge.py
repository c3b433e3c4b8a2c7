"""simple_merge — the orchestrated merge (the reference's entry point).

Parameter surface mirrors ``sp_SimpleMerge`` (sp_SimpleMerge.sql:57-67):

    @target       → target: SnapshotTable
    @source       → source_df: DataFrame (any Spark-readable relation)
    @joinColumns  → join_columns (CSV string or list, :60)
    @delete       → delete ('YES' | 'set <expr>' | other, :61)
    @targetFilter → target_filter (SQL predicate string, :62)
    @badKey       → bad_key (+ bad_key_order, deterministic variant, :63)
    @output       → audit_path (CDC append sink, :64)
    @threshold    → threshold ('15%' or float, :65)
    @debug        → debug (dry-run report, :66)

Lifecycle (SURVEY.md §3.1): validate → plan → changeset (lazy) → [debug
report | stage snapshot → threshold guard → commit with lastUpdate in the
version record, or abort → audit append].  ``simple_merge`` and
``merge_partitioned`` share the bracketed tail (``_commit``).

Efficiency: the threshold guard needs (a) the pre-merge in-scope target count
(:141-150) and (b) the number of changed rows (:472-473).  In both merges
they ride as ``Observation`` metrics on the SAME job that writes the staged
version (``_observe``) — zero extra passes over the data — and the guard runs
after that write, before the commit, in the reference's order (:470-479): a
trip discards the write.  A scan-pruned partitioned merge observes its
changed partitions on that job too: it writes the source's partitions and
then carries the unchanged ones forward, so an idempotent merge or a
threshold trip retains zero data.  A full-scan partitioned merge has no such
bound, so it learns its changed partitions and counts from one aggregation
and checks the guard before it writes.  Only a second pass over the
changeset (that aggregation, an audit) persists it (``_pinned``), so
badKey's arbitrary pairing stays consistent between the outputs.
"""

from __future__ import annotations

import contextlib
import functools
import io
import re
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from sparkmerge.changeset import (
    ACTION_KEEP,
    Changeset,
    DeleteMode,
    _qs,
    build_changeset,
    latest_per_key,
)
from sparkmerge.errors import MergeThresholdExceeded, MergeValidationError
from sparkmerge.plan import MergePlan, split_csv
from sparkmerge.table import SnapshotTable, Staged, canon_col, canon_sql

# Distinct-partition ceiling for driver-side value sets (merge_partitioned
# collects partition VALUES, never rows).  100k string values is a few MB of
# driver memory; a table with more distinct partitions than this is
# mis-partitioned and every metadata operation on it would crawl — fail fast.
MAX_PARTITION_VALUES = 100_000


@dataclass(frozen=True)
class MergeResult:
    committed: bool
    version: int
    changed_rows: int
    target_rows_before: int
    variance_pct: float | None
    audit_rows: int | None


@dataclass(frozen=True)
class MergeReport:
    """Debug dry-run output (sp_SimpleMerge.sql:422-465): the equivalent SQL,
    the threshold, the pre-merge target rowcount, and the audit table DDL.
    Unlike the reference — whose debug mode still creates the lastUpdate
    extended property (:129-140 runs before the debug branch) — this report
    has zero side effects (SURVEY.md §3.2)."""

    merge_sql: str
    physical_plan: str
    threshold: float | None
    target_rows: int
    audit_ddl: str


def _parse_threshold(threshold: str | float | None) -> float | None:
    """'15%' → 15.0 with the reference's isnumeric guard (sp_SimpleMerge.sql:92-95)."""
    if threshold is None:
        return None
    if isinstance(threshold, (int, float)):
        return float(threshold)
    cleaned = threshold.replace("%", "").strip()
    try:
        return float(cleaned)
    except ValueError:
        raise MergeValidationError(
            f"Threshold: {threshold!r} is not numeric (after removing %)."
        ) from None


def _audit_schema_ddl(plan: MergePlan) -> str:
    """DDL for the audit table (generated CREATE TABLE, sp_SimpleMerge.sql:432-462):
    actionTime, action, key columns, then d_*/i_* over non-key target columns."""
    by_name = {c.name: c for c in plan.columns}
    parts = ["actionTime TIMESTAMP", "action STRING"]
    parts += [f"{k} {by_name[k].data_type.simpleString().upper()}" for k in plan.key_columns]
    parts += [f"d_{c} {by_name[c].data_type.simpleString().upper()}" for c in plan.non_key_target_columns]
    parts += [f"i_{c} {by_name[c].data_type.simpleString().upper()}" for c in plan.non_key_target_columns]
    return ", ".join(parts)


def render_merge_sql(
    plan: MergePlan,
    *,
    delete: str = "YES",
    target_filter: str | None = None,
    target_name: str = "target",
    source_name: str = "source",
) -> str:
    """Render the equivalent MERGE statement as text — the debug-mode parity
    artifact (the reference's whole output IS this string, sp_SimpleMerge.sql:
    313-346).  Rendered in Spark-SQL dialect (what you would run on a
    Delta/Iceberg catalog; not executable on plain parquet — SURVEY.md §7.4)."""
    mode = DeleteMode.parse(delete)
    by_name = {c.name: c for c in plan.columns}
    on = " AND ".join(
        f"t.`{k}` <=> s.`{k}`" if by_name[k].nullable else f"t.`{k}` = s.`{k}`"
        for k in plan.key_columns
    )
    tgt = f"(SELECT * FROM {target_name} WHERE {target_filter}) t" if target_filter else f"{target_name} t"
    lines = [f"MERGE INTO {tgt}", f"USING {source_name} s", f"ON {on}"]
    non_key = plan.non_key_source_columns
    if non_key:  # update branch suppressed when all columns are in the key (:275-276)
        diff = " OR ".join(f"NOT (t.`{c}` <=> s.`{c}`)" for c in non_key)
        sets = ", ".join(f"t.`{c}` = s.`{c}`" for c in non_key)
        lines.append(f"WHEN MATCHED AND ({diff}) THEN UPDATE SET {sets}")
    ins_cols = ", ".join(f"`{c}`" for c in plan.source_columns)
    ins_vals = ", ".join(f"s.`{c}`" for c in plan.source_columns)
    lines.append(f"WHEN NOT MATCHED THEN INSERT ({ins_cols}) VALUES ({ins_vals})")
    if mode.action == "DELETE":
        lines.append("WHEN NOT MATCHED BY SOURCE THEN DELETE")
    elif mode.action == "SOFT_DELETE":
        sets = ", ".join(f"t.`{c}` = {e}" for c, e in mode.assignments)
        lines.append(f"WHEN NOT MATCHED BY SOURCE THEN UPDATE SET {sets}")
    return "\n".join(lines)


def _captured_explain(df: DataFrame) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _scope_split(target_df: DataFrame, target_filter: str | None) -> tuple[DataFrame, DataFrame | None]:
    """@targetFilter scoping (sp_SimpleMerge.sql:205-226, README.md:37-39).

    Rows failing the filter are INVISIBLE to the merge — never updated,
    never deleted.  SQL WHERE semantics: a NULL predicate excludes the row,
    so the out-of-scope complement is ``NOT coalesce(pred, false)`` —
    predicate-NULL rows are out of scope and therefore immune
    (SURVEY.md §7.4 'NULL semantics are the crux')."""
    if target_filter is None:
        return target_df, None
    pred = F.expr(target_filter)
    in_scope = target_df.filter(pred)
    out_scope = target_df.filter(~F.coalesce(pred, F.lit(False)))
    return in_scope, out_scope


def evolve_target_schema(target_df: DataFrame, source_schema) -> DataFrame:
    """Schema evolution: append source-only columns to the target as typed
    NULLs, so the reference's source ⊆ target rule (sp_SimpleMerge.sql:200-201)
    passes and pre-existing target rows read back NULL for the new columns —
    the Delta-Lake ``mergeSchema`` behavior, behind an explicit opt-in.
    Column additions only; a source column whose name exists in the target
    keeps the target's type (normal cast rules apply downstream)."""
    existing = set(target_df.columns)
    for f in source_schema.fields:
        if f.name not in existing:
            target_df = target_df.withColumn(f.name, F.lit(None).cast(f.dataType))
    return target_df


def merge_preview(
    target_df: DataFrame,
    source_df: DataFrame,
    join_columns: str | list[str],
    *,
    delete: str = "YES",
    target_filter: str | None = None,
    bad_key: bool = False,
    bad_key_order: list[str] | None = None,
    schema_evolution: bool = False,
    strategy: str = "shuffle",
    update_mode: str = "overwrite",
) -> DataFrame:
    """Pure-DataFrame merge: the final target state as a lazy plan, no
    storage involved.  This is the engine's composable form — usable on any
    two relations (and inside ``foreachBatch`` for streaming upserts); the
    SnapshotTable path in ``simple_merge`` adds transactionality on top.

    ``strategy='broadcast'`` (or ``'auto'``) selects the small-source fast
    path: no shuffle carries target rows (see changeset.py) — the right plan
    when a delta batch merges into a table orders of magnitude larger."""
    if schema_evolution:
        target_df = evolve_target_schema(target_df, source_df.schema)
    in_scope, out_scope = _scope_split(target_df, target_filter)
    cs = build_changeset(in_scope, source_df, join_columns, delete=delete,
                         bad_key=bad_key, bad_key_order=bad_key_order,
                         strategy=strategy, update_mode=update_mode)
    new_state = cs.apply_changes()
    if out_scope is not None:
        new_state = new_state.unionByName(out_scope)
    return new_state


def diff_versions(
    spark: SparkSession,
    table: SnapshotTable,
    join_columns: str | list[str],
    *,
    from_version: int,
    to_version: int | None = None,
    bad_key: bool = False,
    bad_key_order: list[str] | None = None,
) -> DataFrame:
    """CDC between two retained versions: classify every row of
    ``read(from_version) ⟗ read(to_version)`` as INSERT/UPDATE/DELETE/KEEP —
    the audit record reconstructed after the fact from the MVCC history
    (useful when the merge ran without an ``audit_path``).  Returns the
    changeset frame (key columns, ``_action``, ``_old``/``_new`` images)."""
    old = table.read(spark, version=from_version)
    new = table.read(spark, version=to_version)
    return build_changeset(
        old, new, join_columns, bad_key=bad_key, bad_key_order=bad_key_order
    ).df


def _report(cs: Changeset, merge_sql: str, thr: float | None, in_scope: DataFrame) -> MergeReport:
    """The debug dry run of either merge: zero side effects."""
    return MergeReport(
        merge_sql=merge_sql,
        physical_plan=_captured_explain(cs.df),
        threshold=thr,
        target_rows=in_scope.count(),
        audit_ddl=_audit_schema_ddl(cs.plan),
    )


def _check_threshold(changed: int, before: int, thr: float | None) -> float | None:
    """The threshold guard: the changed share of the in-scope rows, in
    percent; raises ``MergeThresholdExceeded`` past ``thr``."""
    if thr is None:
        return None
    variance = (changed / before * 100.0) if before > 0 else 0.0
    # empty-target bypass: proceed when the target had no rows (:476)
    if before > 0 and variance > thr:
        raise MergeThresholdExceeded(variance, thr, changed, before)
    return variance


def _observe(cs: Changeset, pcol: str | None = None) -> tuple[Changeset, Callable[[], dict]]:
    """Observe a merge's counts on the changeset: they materialize during
    the first job that reads it, which is the write of the staged version
    (or the full-scan partitioned merge's aggregation), at zero extra passes.

    Returns the observed changeset (the one to read) and a function to call
    once that job ran.  It returns ``changed`` (non-KEEP rows) and
    ``before``.  Every in-scope target row appears exactly once in the
    changeset, with a non-null ``_old`` image (also under badKey), so
    ``count(_old)`` IS the reference's pre-merge count (sp_SimpleMerge.sql:
    141-150).  With a partition column ``pcol`` it also returns ``parts``,
    the canonical values of the partitions a non-KEEP row has under its old
    or its new image.  Catalyst keeps the observation on relations it can
    prove empty, so it always arrives once that job ran."""
    non_keep = F.col("_action") != ACTION_KEEP
    stats = [F.count(F.when(non_keep, 1)).alias("changed"), F.count(F.col("_old")).alias("before")]
    if pcol is not None:
        stats += [F.collect_set(F.when(non_keep & F.col(side).isNotNull(),
                                       canon_col(f"{side}.{pcol}"))).alias(side)
                  for side in ("_old", "_new")]
    obs = Observation("sparkmerge_changeset")
    observed = Changeset(df=cs.df.observe(obs, *stats), plan=cs.plan, delete_mode=cs.delete_mode)

    @functools.cache
    def metrics() -> dict:
        m = obs.get
        out = {"changed": int(m["changed"]), "before": int(m["before"])}
        if pcol is not None:
            out["parts"] = set(m["_old"]) | set(m["_new"])
        return out

    return observed, metrics


@contextlib.contextmanager
def _pinned(cs: Changeset, audit_path: str | None, *, reread: bool = False):
    """Persist the changeset for the merge's duration when a second pass
    reads it: an audit (``audit_path``) or another pass the caller runs
    (``reread``).  Both then see the staged rows, also under unordered badKey
    (monotonically_increasing_id is only stable within a materialization, so
    a re-executed pass could see a different pairing).  Otherwise the write
    is its only reader."""
    pin = reread or audit_path is not None
    if pin:
        cs.df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        yield
    finally:
        if pin:
            cs.df.unpersist()


def _commit(
    target: SnapshotTable,
    base: int,
    cs: Changeset,
    stage: Callable[[], Staged],
    counts: Callable[[], tuple[int, int]],
    thr: float | None,
    audit_path: str | None,
) -> MergeResult:
    """The tail both merges share: stage → threshold guard → commit with
    lastUpdate → audit append (sp_SimpleMerge.sql:470-491).

    ``stage()`` writes the new version; ``counts()`` then returns (changed
    rows, pre-merge in-scope rows).  It commits only on ``base``, the version
    the merge read.  ``lastUpdate`` is a property in the committed record, so
    it lands with the version or not at all: a threshold trip, a conflict or
    a debug run stamps nothing (SURVEY.md §7.4 quirk fix).  Any failure
    before the commit lands removes the writer's staged files."""
    staged = stage()
    try:
        changed, before = counts()
        variance = _check_threshold(changed, before, thr)
        # ODBC-canonical style timestamp, like convert(varchar, sysdatetime(), 121) (:488)
        now = datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%M:%S.%f")[:-3]
        version = target._commit_on(base, staged.stamped("lastUpdate", now))
    except BaseException:
        target.abort(staged)
        raise
    audit_rows = None
    if audit_path is not None:
        cs.audit().write.mode("append").parquet(audit_path)
        audit_rows = changed
    return MergeResult(
        committed=True,
        version=version,
        changed_rows=changed,
        target_rows_before=before,
        variance_pct=variance,
        audit_rows=audit_rows,
    )


def merge_partitioned(
    spark: SparkSession,
    target: SnapshotTable,
    source_df: DataFrame,
    join_columns: str | list[str],
    *,
    delete: str = "YES",
    prune_scan: bool = False,
    bad_key: bool = False,
    bad_key_order: list[str] | None = None,
    audit: bool = False,
    audit_path: str | None = None,
    threshold: str | float | None = None,
    debug: bool = False,
    strategy: str = "shuffle",
    update_mode: str = "overwrite",
) -> MergeResult | MergeReport:
    """Merge into a partitioned :class:`~sparkmerge.table.SnapshotTable`,
    rewriting ONLY the partitions the changeset touches (SURVEY.md §7.2's
    100 TB design; the plain ``simple_merge`` rewrites the full snapshot,
    like the reference's in-place MERGE at sp_SimpleMerge.sql:471).

    Two independent prunings:

    - **Write pruning** (always on, always semantics-preserving): only
      partitions containing a non-KEEP row — under their old OR new
      partition value — get new data in the committed version; every other
      partition is carried forward by manifest reference, zero bytes
      retained.  A full-scan merge finds those partitions first and writes
      only them; a scan-pruned one writes the source's partitions and
      discards the unchanged ones after the write.
    - **Scan pruning** (``prune_scan=True``): the target scan itself is
      pruned to the partitions present in the source.  Sound only when the
      partition column is part of the join key (then a source row can never
      match a target row in another partition); rows in unscanned partitions
      are implicitly out of scope — the partition-level analog of
      ``@targetFilter`` (sp_SimpleMerge.sql:205-226), and the standard
      incremental-merge contract on partitioned lakehouse tables.  With
      ``delete='YES'`` this means unmatched rows are deleted only *within
      scanned partitions* — exactly the behavior you want when a daily
      source covers a date partition of a 100 TB table.

    The threshold variance (sp_SimpleMerge.sql:473-477) is computed over the
    scanned scope, mirroring how ``@targetFilter`` scopes the reference's
    pre-count (:141-150).  A full-scan merge checks it before it writes; a
    scan-pruned one after its write and before the commit, as the reference
    does (:470-479), discarding the write on a trip.
    """
    if audit and audit_path is None:
        audit_path = default_audit_path(target)
    thr = _parse_threshold(threshold)
    m = target.manifest()
    pcol, base = m["partition_by"], m["version"]
    if pcol is None:
        raise MergeValidationError(
            f"merge_partitioned needs a partitioned table; {target.path!r} is "
            "unpartitioned (use simple_merge).")
    keys = split_csv(join_columns) if isinstance(join_columns, str) else list(join_columns)

    if prune_scan:
        if pcol not in keys:
            raise MergeValidationError(
                f"prune_scan requires the partition column {pcol!r} in the join "
                f"key {keys!r} — otherwise a source row could match a target row "
                "in an unscanned partition."
            )
        # Canonicalize through Spark itself (canon_col = cast-to-string +
        # NULL sentinel) so the collected values use the SAME cast semantics
        # that produced the manifest keys — Python str() disagrees with
        # Spark's rendering for booleans ('True' vs 'true') and some
        # float/double values, which would silently prune every real
        # partition.  The limit bounds memory: partition VALUES (not rows)
        # cross the driver, and a table with >MAX_PARTITION_VALUES distinct
        # partitions is mis-partitioned — fail fast.  Under the aggregate it
        # is one job (a root limit would run Spark's executeTake cascade);
        # coalesce(1) merges the distinct in the task that applies the limit,
        # so it costs no extra stage.
        src_vals = (
            source_df.select(canon_col(pcol).alias("p"))
            .distinct()
            .coalesce(1)
            .limit(MAX_PARTITION_VALUES + 1)
            .agg(F.collect_list("p"))
            .first()[0]
        )
        if len(src_vals) > MAX_PARTITION_VALUES:
            raise MergeValidationError(
                f"prune_scan: source has >{MAX_PARTITION_VALUES} distinct "
                f"{pcol!r} values; partition by a coarser key."
            )
        in_scope = target.read_partitions(spark, src_vals, version=base)
    else:
        in_scope = target.read(spark, version=base)

    cs = build_changeset(in_scope, source_df, join_columns, delete=delete,
                         bad_key=bad_key, bad_key_order=bad_key_order,
                         strategy=strategy, update_mode=update_mode)

    if debug:
        # like simple_merge(debug=True), plus the scan-pruning detail in the
        # SQL comment header
        scope_note = (
            f"-- scan-pruned to source partitions of `{pcol}`"
            if prune_scan
            else f"-- full scan; write-pruned by `{pcol}`"
        )
        return _report(cs, scope_note + "\n" + render_merge_sql(cs.plan, delete=delete),
                       thr, in_scope)

    # The candidate partitions the write covers: scan-pruned, the source's
    # (the partition column is in the key, so no changed partition lies
    # outside them); full scan, the changed ones, found by one aggregation
    # before the write (a second pass, hence the pin).  After the write, a
    # candidate its observation did not see change is carried forward.
    cs, metrics = _observe(cs, pcol)
    with _pinned(cs, audit_path, reread=not prune_scan):
        new_state = cs.apply_changes()
        if prune_scan:
            candidates = set(src_vals)
        else:
            candidates = _changed_partitions(cs, pcol)
            _check_threshold(metrics()["changed"], metrics()["before"], thr)
            if candidates:
                # one SQL-text IN-list, which the optimizer turns into a
                # hash-set lookup (InSet) at any partition count
                in_list = ", ".join(map(_qs, sorted(candidates)))
                new_state = new_state.filter(f"{canon_sql(pcol)} IN ({in_list})")

        def stage() -> Staged:
            staged = target.stage_merge(new_state, candidates)
            if not candidates:  # nothing written, nothing to carry
                return staged
            try:
                return target.carry_forward(staged, candidates - metrics()["parts"])
            except BaseException:
                target.abort(staged)
                raise

        def counts() -> tuple[int, int]:
            if prune_scan and not candidates:
                return 0, 0  # an empty source scans no partition
            return metrics()["changed"], metrics()["before"]

        return _commit(target, base, cs, stage, counts, thr, audit_path)


def _changed_partitions(cs: Changeset, pcol: str) -> set[str]:
    """The partitions the changeset changes, under their OLD value (updates
    and deletes in place) or their NEW value (inserts, or updates that move
    a row across partitions), in ONE job, whose pass also fills the
    changeset's observation.  `_old`/`_new` struct nullity distinguishes "no
    row on that side" from "partition value is NULL".  Each row adds one
    value per side (NULL: unchanged), so the groups are the changed
    partitions plus NULL; the limit bounds driver memory and drops a group
    only past the ceiling."""
    non_keep = F.col("_action") != ACTION_KEEP
    vals = (
        cs.df.select(F.explode(F.array(*(
            F.when(non_keep & F.col(side).isNotNull(), canon_col(f"{side}.{pcol}"))
            for side in ("_old", "_new")))).alias("p"))
        .distinct()
        .coalesce(1)
        .limit(MAX_PARTITION_VALUES + 2)
        .agg(F.collect_list("p"))
        .first()[0]
    )
    if len(vals) > MAX_PARTITION_VALUES:
        raise MergeValidationError(
            f"Changeset touches >{MAX_PARTITION_VALUES} distinct partitions "
            f"of {pcol!r}; partition by a coarser key."
        )
    return set(vals)


def default_audit_path(target: SnapshotTable) -> str:
    """The reference's default audit-table name when ``@output`` is omitted:
    ``isnull(@output, @target + '_SimpleMergeOutput')``
    (sp_SimpleMerge.sql:432) — here a sibling directory of the target."""
    return target.path.rstrip("/") + "_SimpleMergeOutput"


def simple_merge(
    spark: SparkSession,
    target: SnapshotTable,
    source_df: DataFrame,
    join_columns: str | list[str],
    *,
    delete: str = "YES",
    target_filter: str | None = None,
    bad_key: bool = False,
    bad_key_order: list[str] | None = None,
    audit: bool = False,
    audit_path: str | None = None,
    threshold: str | float | None = None,
    debug: bool = False,
    schema_evolution: bool = False,
    strategy: str = "shuffle",
    update_mode: str = "overwrite",
    source_latest_by: str | list[str] | None = None,
) -> MergeResult | MergeReport:
    """Merge ``source_df`` into ``target`` — see module docstring.

    ``audit_path`` mirrors ``@output``; ``audit=True`` with no explicit path
    uses the reference's default name (``<target>_SimpleMergeOutput``).
    ``schema_evolution=True`` relaxes the source ⊆ target schema rule by
    widening the target with typed-NULL columns first (the committed
    snapshot carries the evolved schema).  ``strategy='broadcast'``/
    ``'auto'`` selects the broadcast small-source path (no target-row shuffle)
    (changeset.py); the merge result is identical under every strategy.
    ``source_latest_by`` recency-dedups a multi-version feed to latest-per-
    key by those source columns before the merge (changeset.latest_per_key)."""
    if audit and audit_path is None:
        audit_path = default_audit_path(target)
    thr = _parse_threshold(threshold)
    if source_latest_by:
        # reduce the multi-version feed to latest-per-key BEFORE the plan is
        # built (the ranking columns are dropped from the reduced source)
        source_df = latest_per_key(source_df, join_columns, source_latest_by)
    base = target.current_version()
    target_df = target.read(spark, version=base)
    if schema_evolution:
        target_df = evolve_target_schema(target_df, source_df.schema)
    in_scope, out_scope = _scope_split(target_df, target_filter)
    cs = build_changeset(in_scope, source_df, join_columns, delete=delete,
                         bad_key=bad_key, bad_key_order=bad_key_order,
                         strategy=strategy, update_mode=update_mode)
    if debug:
        sql = render_merge_sql(cs.plan, delete=delete, target_filter=target_filter)
        return _report(cs, sql, thr, in_scope)

    cs, metrics = _observe(cs)
    with _pinned(cs, audit_path):
        new_state = cs.apply_changes()
        if out_scope is not None:
            new_state = new_state.unionByName(out_scope)
        return _commit(target, base, cs, lambda: target.stage(new_state),
                       lambda: (metrics()["changed"], metrics()["before"]), thr, audit_path)


def scd2_merge(
    target_df: DataFrame,
    source_df: DataFrame,
    join_columns: str | list[str],
    *,
    load_ts: Column,
    compare_cols: list[str] | None = None,
    valid_from_col: str = "valid_from",
    valid_to_col: str = "valid_to",
    current_col: str = "is_current",
) -> DataFrame:
    """Type-2 slowly-changing-dimension merge: return the new full history.

    ``target_df`` is a history table carrying ``valid_from/valid_to/
    is_current``; ``source_df`` is a plain extract (no history columns).
    Closed historical rows pass through untouched; only current rows
    participate in matching.  A matched-and-changed key closes its current
    row (``valid_to = load_ts``) and appends a fresh current one; an
    unmatched source key inserts; an unmatched current target row stays
    open.  The reference's matched-branch (sp_SimpleMerge.sql:272-309)
    overwrites in place — this is the history-preserving variant of the
    same single full-outer-join dataflow: both output branches project from
    ONE joined frame, so the op is one shuffle pair plus a map-side union
    regardless of history depth.
    """
    keys = [join_columns] if isinstance(join_columns, str) else list(join_columns)
    hist_cols = [valid_from_col, valid_to_col, current_col]
    data = [c for c in source_df.columns if c not in keys]
    cmp_cols = compare_cols if compare_cols is not None else data
    out_cols = [*keys, *data, *hist_cols]

    closed_hist = target_df.filter(~F.col(current_col)).select(*out_cols)
    cur = target_df.filter(F.col(current_col))

    t = cur.select(
        *[F.col(k).alias(f"_t_{k}") for k in keys],
        *[F.col(c).alias(f"_t_{c}") for c in data],
        F.col(valid_from_col).alias("_t_from"),
    )
    s = source_df.select(
        *[F.col(k).alias(f"_s_{k}") for k in keys],
        *[F.col(c).alias(f"_s_{c}") for c in data],
    )
    cond = None
    for k in keys:
        eq = F.col(f"_t_{k}").eqNullSafe(F.col(f"_s_{k}"))
        cond = eq if cond is None else (cond & eq)
    j = t.join(s, cond, "full_outer")

    t_present = F.col(f"_t_{keys[0]}").isNotNull()
    s_present = F.col(f"_s_{keys[0]}").isNotNull()
    differs = None
    for c in cmp_cols:
        d = ~F.col(f"_t_{c}").eqNullSafe(F.col(f"_s_{c}"))
        differs = d if differs is None else (differs | d)
    changed = t_present & s_present & differs

    closed_now = j.filter(changed).select(
        *[F.col(f"_t_{k}").alias(k) for k in keys],
        *[F.col(f"_t_{c}").alias(c) for c in data],
        F.col("_t_from").alias(valid_from_col),
        load_ts.alias(valid_to_col),
        F.lit(False).alias(current_col),
    )
    takes_source = s_present & (~t_present | differs)
    current_out = j.select(
        *[F.coalesce(F.col(f"_s_{k}"), F.col(f"_t_{k}")).alias(k) for k in keys],
        *[
            F.when(s_present, F.col(f"_s_{c}")).otherwise(F.col(f"_t_{c}")).alias(c)
            for c in data
        ],
        F.when(takes_source, load_ts).otherwise(F.col("_t_from")).alias(valid_from_col),
        F.lit(None).cast("timestamp").alias(valid_to_col),
        F.lit(True).alias(current_col),
    )
    return closed_hist.unionByName(closed_now).unionByName(current_out)
