"""Changeset — ONE full-outer join that classifies every row.

This re-expresses the generated MERGE (sp_SimpleMerge.sql:243-346) as a single
Spark dataflow.  The reference's MERGE is full-outer-join semantics: one
statement/one scan classifies every (target ∪ source) row as
matched / not-matched-by-target / not-matched-by-source and applies
update/insert/delete (SURVEY.md §4 'single-pass MERGE').  Here the same single
pass produces a *changeset* DataFrame:

    _action: INSERT | UPDATE | DELETE | SOFT_DELETE | KEEP
    <key columns, flat>         (coalesce(target.k, source.k) — :356)
    _old: struct<target row>    (null for INSERT)
    _new: struct<new row state> (null for DELETE)

from which the new snapshot (``apply_changes``) and the CDC audit record
(``audit``) derive; merge.py takes the threshold guard's counts from the
same frame (an ``Observation`` or one aggregation).

Scale notes (100 TB posture):
- Default strategy: the join shuffles both sides by the key once; everything
  downstream reuses that partitioning.  A full-outer join cannot be broadcast
  in Spark, so this is a sort-merge/shuffled-hash join by design; AQE
  skew-join splitting handles hot keys.
- ``strategy='broadcast'`` is the small-source fast path: a daily delta
  merged into a 100 TB table must NOT shuffle the table.  The full outer is
  decomposed into target ⟕ broadcast(source) (classifies UPDATE / KEEP /
  DELETE / SOFT_DELETE) plus source ▷ broadcast(matched target keys)
  (the INSERTs) — identical changeset, and no Exchange ever carries target
  rows: the only shuffle moves the distinct matched-key set (delta-sized).
  The price is a second, key-column-pruned scan of the target for the semi
  join.  Requires a deterministic source (it is evaluated more than once —
  the same contract Spark task retries already impose).
  ``strategy='auto'`` picks broadcast when Catalyst's size estimate of the
  source is under ``spark.sql.autoBroadcastJoinThreshold``.
- Nothing here collects to the driver; action counts ride on an
  ``Observation`` in merge.py where possible.
- Change detection and null-safe key equality are plain codegen'd column
  expressions (whole-stage codegen, no UDFs).
"""

from __future__ import annotations

import functools
import operator
import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sparkmerge.errors import MergeValidationError
from sparkmerge.plan import MergePlan

ACTION_INSERT = "INSERT"
ACTION_UPDATE = "UPDATE"
ACTION_DELETE = "DELETE"
ACTION_SOFT_DELETE = "SOFT_DELETE"
ACTION_KEEP = "KEEP"

_ACTION = "_action"
_OLD = "_old"
_NEW = "_new"
_RESERVED = {_ACTION, _OLD, _NEW, "__t_present", "__s_present", "__t_rn", "__s_rn"}

_SRC = "__s_"  # prefix applied to source columns before the join so that
#                bare identifiers (e.g. in a soft-delete SET expression)
#                resolve unambiguously to the TARGET side.


def _qi(name: str) -> str:
    """Backtick-quote an identifier for Spark SQL text (embedded backticks
    double, per the SQL ref) — the classification expressions below are
    assembled as SQL strings so one ``selectExpr`` crosses py4j instead of
    hundreds of per-node Column calls (guide §1/§7.3: driver-side
    construction was ~half of every merge-family rep at sf0.1)."""
    return "`" + name.replace("`", "``") + "`"


def _qs(text: str) -> str:
    """Single-quoted SQL string literal (backslash-escaped, the default
    parser mode — ``spark.sql.parser.escapedStringLiterals`` off)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


@dataclass(frozen=True)
class DeleteMode:
    """Parsed ``@delete`` parameter (sp_SimpleMerge.sql:339-346, README.md:32-36).

    - 'YES' (default, :61)      → hard delete unmatched target rows
    - 'set <assignments>'       → soft delete: UPDATE unmatched rows
    - anything else             → keep unmatched rows untouched
    """

    raw: str
    action: str  # ACTION_DELETE | ACTION_SOFT_DELETE | ACTION_KEEP
    assignments: list[tuple[str, str]]  # (column, sql_expr) for SOFT_DELETE

    @staticmethod
    def parse(delete: str) -> "DeleteMode":
        raw = delete.strip()
        if raw.upper() == "YES":
            return DeleteMode(raw, ACTION_DELETE, [])
        if re.match(r"(?i)^set\s", raw):
            body = raw[3:].strip()
            assignments: list[tuple[str, str]] = []
            # top-level comma split: commas inside parentheses AND inside
            # single-quoted string literals are not separators (a doubled ''
            # escape toggles the quote state twice — net no-op, correct).
            depth, start, parts, in_str = 0, 0, [], False
            for i, ch in enumerate(body):
                if ch == "'":
                    in_str = not in_str
                elif in_str:
                    continue
                elif ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                elif ch == "," and depth == 0:
                    parts.append(body[start:i])
                    start = i + 1
            parts.append(body[start:])
            if in_str:
                raise MergeValidationError(
                    f"Soft-delete SET has an unterminated string literal: {body!r}"
                )
            for part in parts:
                if "=" not in part:
                    raise MergeValidationError(f"Bad soft-delete assignment: {part!r}")
                col, expr = part.split("=", 1)
                assignments.append((col.strip().strip("`[]"), expr.strip()))
            return DeleteMode(raw, ACTION_SOFT_DELETE, assignments)
        return DeleteMode(raw, ACTION_KEEP, [])


def _key_condition(plan: MergePlan, left: str, right_prefix: str) -> Column:
    """AND-chain of per-column key equality (sp_SimpleMerge.sql:254-268).

    Null-safe ``<=>`` is emitted only for nullable key columns, plain ``=``
    otherwise — mirroring the reference's conditional codegen (:258-263).
    Both forms are valid equi-join keys in Spark (hash/sort-merge, never
    nested-loop), so this is a predicate-cost nicety, not a plan change.
    """
    conds = []
    by_name = {c.name: c for c in plan.columns}
    for k in plan.key_columns:
        lcol = F.col(f"{left}.{k}") if left else F.col(k)
        rcol = F.col(f"{right_prefix}{k}")
        conds.append(lcol.eqNullSafe(rcol) if by_name[k].nullable else lcol == rcol)
    return functools.reduce(operator.and_, conds)


def _rank_duplicates(df: DataFrame, keys: list[str], order_cols: list[str] | None, rn_name: str) -> DataFrame:
    """badKey ranking: make duplicate keys pairwise-mergeable by numbering
    equal-key rows (sp_SimpleMerge.sql:209-241, README.md:22-23,40-41).

    The reference tie-breaks on ``%%physloc%%`` (physical location — arbitrary
    but stable within the statement).  Spark's analog of 'arbitrary but
    run-consistent' is ``monotonically_increasing_id()``.  Callers that need
    *deterministic* output (the DuckDB oracle) pass ``order_cols`` instead
    (SURVEY.md §7.4).
    """
    order = [F.col(c) for c in order_cols] if order_cols else [F.monotonically_increasing_id()]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return df.withColumn(rn_name, F.row_number().over(w))


def latest_per_key(
    source_df: DataFrame,
    join_columns: str | list[str],
    latest_by: str | list[str],
) -> DataFrame:
    """Recency-reduce a multi-version feed to its latest row per key.

    The reference hard-rejects duplicate-key sources unless ``@badKey``
    (sp_SimpleMerge.sql:63); real CDC/upsert feeds instead carry several
    versions per key and want latest-wins BEFORE the changeset join.  Rank
    within each key by the ``latest_by`` columns DESCENDING (a source
    timestamp / sequence number), deterministically tie-broken by every
    remaining column ascending, keep the winner, and DROP the ranking
    columns — they are feed metadata (like a CDC ``seq``), not data columns,
    so the reduced source satisfies the normal source ⊆ target schema rule.

    One rank window = one shuffle on the RAW key.  Note (r12 plan audit,
    BASELINE.md round-12): the changeset join is null-safe, which Catalyst
    rewrites to join keys ``(coalesce(k, default), isnull(k))`` — the
    window's ``hashpartitioning(k)`` does NOT satisfy that distribution,
    so the REDUCED feed (latest rows only, not raw versions) re-shuffles
    into the join.  Partitioning the window by the null-safe expressions
    was measured and does not help (Spark extracts window partition
    expressions into projected ``_w0/_w1`` columns, so the match still
    fails); the cost is one exchange of latest-per-key rows — delta-sized,
    below measurement noise at sf10 — and removing it would require the
    core join to switch to materialized pair columns across every merge
    op.  The 3-exchange shape is pinned by a plan test.
    """
    from sparkmerge.plan import normalize_ident, split_csv

    keys = (
        split_csv(join_columns)
        if isinstance(join_columns, str)
        else [normalize_ident(k) for k in join_columns]
    )
    by = (
        split_csv(latest_by)
        if isinstance(latest_by, str)
        else [normalize_ident(c) for c in latest_by]
    )
    missing = [c for c in keys + by if c not in source_df.columns]
    if missing:
        raise MergeValidationError(
            f"latest_per_key: columns missing from source: {missing!r}."
        )
    overlap = set(keys) & set(by)
    if overlap:
        raise MergeValidationError(
            f"latest_per_key: latest_by overlaps the key: {sorted(overlap)!r}."
        )
    tiebreak = [c for c in source_df.columns if c not in keys and c not in by]
    order = [F.desc(c) for c in by] + [F.asc(c) for c in tiebreak]
    w = Window.partitionBy(*[F.col(k) for k in keys]).orderBy(*order)
    return (
        source_df.withColumn("__lpk_rn", F.row_number().over(w))
        .filter(F.col("__lpk_rn") == 1)
        .drop("__lpk_rn", *by)
    )


@dataclass(frozen=True)
class Changeset:
    """The classified merge result; one row per (target ∪ source) row."""

    df: DataFrame
    plan: MergePlan
    delete_mode: DeleteMode

    def apply_changes(self) -> DataFrame:
        """The new (in-scope) target state: drop DELETEs, take `_new` images.

        Replaces executing the MERGE (sp_SimpleMerge.sql:471); the snapshot
        commit in table.py provides the transaction (:470-479).
        """
        return self.df.filter(F.col(_ACTION) != ACTION_DELETE).select(F.col(f"{_NEW}.*"))

    def audit(self, *, action_time: Column | None = None) -> DataFrame:
        """CDC audit record (OUTPUT clause, sp_SimpleMerge.sql:350-410).

        Columns: actionTime, action, key columns (coalesced, :356), then
        d_*/i_* before/after images over all non-key TARGET columns —
        including target-only columns, the reference's documented asymmetry
        (:367-368 vs :304-305; SURVEY.md §7.4).  d_*/i_* are omitted when all
        columns are in the key (:362,:392).  SOFT_DELETE surfaces as UPDATE
        because the generated clause is ``THEN UPDATE`` → ``$action`` reports
        'UPDATE' (:343-345).
        """
        ts = action_time if action_time is not None else F.current_timestamp()
        action_out = (
            F.when(F.col(_ACTION) == ACTION_SOFT_DELETE, F.lit(ACTION_UPDATE))
            .otherwise(F.col(_ACTION))
            .alias("action")
        )
        cols: list[Column] = [ts.alias("actionTime"), action_out]
        cols += [F.col(k) for k in self.plan.key_columns]
        for c in self.plan.non_key_target_columns:
            cols.append(F.col(f"{_OLD}.{c}").alias(f"d_{c}"))
        for c in self.plan.non_key_target_columns:
            cols.append(F.col(f"{_NEW}.{c}").alias(f"i_{c}"))
        return self.df.filter(F.col(_ACTION) != ACTION_KEEP).select(*cols)

    def action_counts(self) -> dict[str, int]:
        """Count rows per action (driver-side; small, one extra job).  Used
        by tests; the merges count on the jobs they already run."""
        rows = self.df.groupBy(_ACTION).count().collect()
        return {r[_ACTION]: r["count"] for r in rows}


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate (parquet footer stats with
    filter/project selectivity applied).  Used only by ``strategy='auto'``;
    any failure → a conservative huge value (falls back to shuffle)."""
    try:
        return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return 1 << 62


def _broadcast_threshold(df: DataFrame) -> int:
    raw = df.sparkSession.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    raw = raw.lower().rstrip("b")
    mult = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}.get(raw[-1:], 1)
    digits = raw.rstrip("kmgt")
    try:
        return int(digits) * mult
    except ValueError:
        return 10 * 1024**2


def build_changeset(
    target_df: DataFrame,
    source_df: DataFrame,
    join_columns: str | list[str],
    *,
    delete: str = "YES",
    bad_key: bool = False,
    bad_key_order: list[str] | None = None,
    plan: MergePlan | None = None,
    strategy: str = "shuffle",
    update_mode: str = "overwrite",
    source_latest_by: str | list[str] | None = None,
) -> Changeset:
    """Classify every row of ``target_df ⟗ source_df`` into a merge action.

    Parameters mirror sp_SimpleMerge (@joinColumns :60, @delete :61,
    @badKey :63).  ``bad_key_order`` is the deterministic-tiebreak variant of
    the reference's %%physloc%% ordering (see ``_rank_duplicates``).

    ``strategy``: ``'shuffle'`` (default — one full-outer sort-merge join),
    ``'broadcast'`` (small-source fast path, zero target shuffles — see
    module docstring), or ``'auto'`` (broadcast iff the source's Catalyst
    size estimate fits ``spark.sql.autoBroadcastJoinThreshold``).  The
    changeset CONTENT is identical under every strategy; only the physical
    plan differs.  ``bad_key`` forces the shuffle strategy: duplicate-key
    ranking is a window over the key partitioning, so the key shuffle exists
    anyway and the broadcast decomposition would pay it twice.

    ``update_mode``: ``'overwrite'`` (default — the reference's UPDATE
    always overwrites every non-key source column, sp_SimpleMerge.sql:
    298-308) or ``'patch'`` — a NULL source column means KEEP the target
    value (column-level sparse patch: changed iff any NON-NULL source
    column differs null-safely; the UPDATE image is per-column
    COALESCE(source, target)).  The sparse-update warehouse shape: feeds
    that carry only the columns that moved never clobber the rest, and a
    patch row whose non-null columns all match stays a KEEP (no rewrite).
    INSERT rows take the source image as-is (NULLs stay NULL — there is no
    target value to keep).  Under 'patch' a NULL is a hole, not a value, so
    "set this column to NULL" is not expressible — that feed shape needs
    'overwrite'.

    ``source_latest_by``: recency-dedup a multi-version feed to latest-per-
    key by these source columns (descending, deterministic tiebreak) BEFORE
    the join, dropping them afterwards — see :func:`latest_per_key`.  The
    real-CDC upsert shape the reference's duplicate-key error rejects.
    """
    if source_latest_by:
        # recency-dedup the feed BEFORE plan construction: the ranking
        # columns are dropped, so the plan never sees them (``plan`` callers
        # must pass a plan built against the REDUCED source schema)
        latest_cols = (
            [source_latest_by]
            if isinstance(source_latest_by, str)
            else list(source_latest_by)
        )
        if plan is not None:
            # enforce the reduced-schema contract instead of trusting the
            # comment (ADVICE r7): a plan built against the UNREDUCED feed
            # still carries the ranking columns and would reference columns
            # that the reduction drops below.
            stale = sorted(set(latest_cols) & set(plan.source_columns))
            if stale:
                raise MergeValidationError(
                    "plan was built against the unreduced source schema: "
                    f"source_latest_by columns {stale!r} appear in "
                    "plan.source_columns — rebuild the plan from the "
                    "latest_per_key-reduced source"
                )
        source_df = latest_per_key(source_df, join_columns, source_latest_by)
    if plan is None:
        plan = MergePlan.build(target_df.schema, source_df.schema, join_columns)
    if update_mode not in ("overwrite", "patch"):
        raise MergeValidationError(f"Unknown update_mode: {update_mode!r}")
    clash = _RESERVED.intersection(plan.target_columns)
    if clash:
        raise MergeValidationError(f"Target columns collide with reserved names: {sorted(clash)!r}")
    mode = DeleteMode.parse(delete)

    if strategy not in ("shuffle", "broadcast", "auto"):
        raise MergeValidationError(f"Unknown changeset strategy: {strategy!r}")
    if strategy == "auto":
        strategy = (
            "broadcast"
            if not bad_key
            and _estimated_bytes(source_df) <= _broadcast_threshold(source_df)
            else "shuffle"
        )
    if strategy == "broadcast" and bad_key:
        raise MergeValidationError(
            "strategy='broadcast' is incompatible with bad_key=True — the "
            "duplicate-rank window shuffles by the key anyway; use 'shuffle' "
            "or 'auto'."
        )

    t_df = target_df.withColumn("__t_present", F.lit(True))
    # Rename source columns so bare identifiers resolve to the target side.
    # One selectExpr call — the aliases parse JVM-side instead of paying a
    # py4j round-trip per column (the same expressions as the old
    # per-column F.col(c).alias(...) form).
    s_df = source_df.selectExpr(
        *[f"{_qi(c)} AS {_qi(_SRC + c)}" for c in source_df.columns],
        "true AS `__s_present`",
    )

    join_cond = _key_condition(plan, "", _SRC)
    if bad_key:
        t_df = _rank_duplicates(t_df, plan.key_columns, bad_key_order, "__t_rn")
        s_keys = [f"{_SRC}{k}" for k in plan.key_columns]
        s_order = [f"{_SRC}{c}" for c in bad_key_order] if bad_key_order else None
        s_df = _rank_duplicates(s_df, s_keys, s_order, "__s_rn")
        join_cond = join_cond & (F.col("__t_rn") == F.col("__s_rn"))

    if strategy == "broadcast":
        # Small-source decomposition — no shuffle touches the target:
        #   (1) target ⟕ broadcast(source): every target row classified
        #       (matched → UPDATE/KEEP, unmatched → delete-mode action);
        #   (2) source ▷ broadcast(matched target keys): the INSERT rows.
        #       The matched-key set comes from a key-column-pruned semi scan
        #       of the target; distinct() bounds it by the number of DISTINCT
        #       matched keys (≤ source keys) — without it a duplicate-key
        #       target could broadcast one row per matched target row and
        #       OOM the driver.  The distinct's Exchange moves only that
        #       key set (map-side partial agg first), i.e. delta-sized bytes,
        #       never the table.
        # The source subtree is evaluated once into the broadcast exchange
        # (reused by joins 1 and the semi) and once more as the anti-join
        # probe — like Spark's own task-retry semantics, this requires a
        # deterministic source; a rand()/limit-without-order source is
        # outside the merge contract under EVERY strategy.
        # unionByName aligns (1)'s join layout with (2)'s typed-NULL target
        # side; the classification expressions below then apply unchanged.
        matched_keys = (
            t_df.select(*plan.key_columns)
            .join(F.broadcast(s_df), join_cond, "left_semi")
            .distinct()
        )
        inserts = s_df.join(F.broadcast(matched_keys), join_cond, "left_anti")
        # one selectExpr, like the source rename above
        insert_rows = inserts.selectExpr(
            *[f"CAST(NULL AS {f.dataType.simpleString()}) AS {_qi(f.name)}"
              for f in target_df.schema.fields],
            "CAST(NULL AS BOOLEAN) AS `__t_present`",
            *map(_qi, s_df.columns),
        )
        joined = t_df.join(F.broadcast(s_df), join_cond, "left_outer").unionByName(
            insert_rows
        )
    else:
        joined = t_df.join(s_df, join_cond, "full_outer")

    # The classification expressions below are assembled as SQL TEXT and
    # handed to ONE selectExpr call: each string parses JVM-side, so the
    # whole classification costs a handful of py4j round-trips instead of
    # one per expression node (measured r12, guide §1/§7.3: ~1,700
    # round-trips ≈ 0.35 s of the ~0.52 s merge_full rep at sf0.1 were
    # driver-side construction; the expressions themselves are UNCHANGED —
    # same Catalyst trees, same results, plan shape pinned by tests).

    # Change detection: null-safe row-wise comparison of all non-key source
    # columns — INTERSECT semantics (sp_SimpleMerge.sql:275-297).  An OR-chain
    # of per-column NOT(<=>) is exactly `NOT EXISTS (... INTERSECT ...)`.
    if plan.update_suppressed:
        changed_sql = "false"  # no WHEN MATCHED branch at all (:275-276)
    elif update_mode == "patch":
        # sparse patch: a NULL source column is a hole (keep target), so it
        # can never constitute a change — changed iff any NON-NULL source
        # column differs null-safely from the target
        changed_sql = " OR ".join(
            f"({_qi(_SRC + c)} IS NOT NULL AND (NOT ({_qi(c)} <=> {_qi(_SRC + c)})))"
            for c in plan.non_key_source_columns
        )
    else:
        changed_sql = " OR ".join(
            f"(NOT ({_qi(c)} <=> {_qi(_SRC + c)}))"
            for c in plan.non_key_source_columns
        )

    # Classify ONCE, in its own projection; the images read `_action`.
    # Rule: every generated method of the fused join stage must stay under
    # HotSpot's 8,000-byte HugeMethodLimit, or the JIT never compiles it.
    # With this CASE pasted into every image field, subexpression
    # elimination notwithstanding, the method grew quadratically with
    # width: 10,182 bytes at the lineitem shape, and a write stage of 1.1 s
    # instead of 0.6 s on 4 cores.  CollapseProject keeps the projections
    # apart: the CASE is not cheap and is referenced more than once.
    action_sql = (
        "CASE"
        f" WHEN `__t_present` IS NULL THEN {_qs(ACTION_INSERT)}"
        f" WHEN `__s_present` IS NULL THEN {_qs(mode.action)}"
        f" WHEN {changed_sql} THEN {_qs(ACTION_UPDATE)}"
        f" ELSE {_qs(ACTION_KEEP)} END"
    )

    soft_assign = dict(mode.assignments)
    unknown = set(soft_assign) - set(plan.target_columns)
    if unknown:
        raise MergeValidationError(f"Soft-delete SET references unknown columns: {sorted(unknown)!r}")

    source_set = set(plan.source_columns)

    def source_value(c: str) -> str:
        # target-only columns pass through / NULL-fill on insert (:323);
        # patch mode's UPDATE image is COALESCE(source, target), which on
        # INSERT (all-NULL target side) is the source image as-is
        if c not in source_set:
            return _qi(c)
        if update_mode == "patch":
            return f"coalesce({_qi(_SRC + c)}, {_qi(c)})"
        return _qi(_SRC + c)

    def image(value) -> str:
        return "named_struct(" + ", ".join(
            f"{_qs(c)}, {value(c)}" for c in plan.target_columns
        ) + ")"

    # One whole-row image per action (linear in width); soft-delete SET
    # expressions evaluate over the (unambiguous) target row.
    soft_branch = (
        f" WHEN `_action` = {_qs(ACTION_SOFT_DELETE)} THEN "
        + image(lambda c: f"({soft_assign[c]})" if c in soft_assign else _qi(c))
        if mode.action == ACTION_SOFT_DELETE
        else ""
    )
    new_struct = (
        f"CASE WHEN `_action` = {_qs(ACTION_DELETE)} THEN NULL"
        f" WHEN `_action` IN ({_qs(ACTION_INSERT)}, {_qs(ACTION_UPDATE)}) THEN "
        + image(source_value)
        + soft_branch
        + f" ELSE {image(_qi)} END AS {_qi(_NEW)}"
    )
    old_struct = f"CASE WHEN `__t_present` IS NOT NULL THEN {image(_qi)} END AS {_qi(_OLD)}"
    key_cols = [
        f"coalesce({_qi(k)}, {_qi(_SRC + k)}) AS {_qi(k)}" for k in plan.key_columns
    ]

    cs_df = joined.selectExpr("*", f"{action_sql} AS {_qi(_ACTION)}").selectExpr(
        *key_cols, _qi(_ACTION), old_struct, new_struct
    )
    return Changeset(df=cs_df, plan=plan, delete_mode=mode)
