"""Streaming operators (Structured Streaming) + their batch equivalents.

The reference is batch-only (SURVEY.md §2.C), but incremental upsert is the
canonical streaming-sink pattern, so the engine ships:

- windowed aggregations (tumbling / sliding / session) — with batch-SQL
  formulations used by both the oracle checks and the streaming path;
- watermark-based late-data dropping;
- ``foreachBatch`` merge sink: replay a stream of upserts into a
  SnapshotTable via simple_merge (stream-batch equivalence is a pytest
  property, SURVEY.md §5.5).

Aggregates avoid order-dependent double sums (count/min/max only) so the
oracle hashes match bit-for-bit.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType
from pyspark.sql.window import Window

from sparkmerge.errors import MergeError
from sparkmerge.merge import simple_merge
from sparkmerge.table import SnapshotTable


def _await_or_raise(q, timeout_s: int) -> None:
    """awaitTermination(timeout) returns False when the timeout lapses with
    the query still running — silently returning would hand back a
    partially-populated sink.  Stop the query and raise instead."""
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise MergeError(
            f"Streaming query {q.name or q.id} did not finish within {timeout_s}s"
        )


def tumbling_counts(events: DataFrame, *, width: str = "1 hour") -> DataFrame:
    """Tumbling-window per-event-type stats; works identically on a batch or
    streaming DataFrame (F.window is supported in both)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.min("value").alias("min_value"), F.max("value").alias("max_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "min_value", "max_value")
    )


def sliding_counts(events: DataFrame, *, width: str = "2 hours", slide: str = "1 hour") -> DataFrame:
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "n")
    )


def session_windows(events: DataFrame, *, gap_minutes: int = 30) -> DataFrame:
    """Batch sessionization: a new session starts when the gap to the
    previous event (per user) exceeds ``gap_minutes``.  Formulated with
    lag + cumulative sum so the DuckDB oracle can express it identically;
    the streaming path would use F.session_window instead."""
    w_user = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # interval arithmetic works for both TIMESTAMP and TIMESTAMP_NTZ columns
    gap_flag = (
        F.when(
            F.col("ts") - F.lag(F.col("ts")).over(w_user) > F.expr(f"INTERVAL {gap_minutes * 60} SECONDS"),
            1,
        )
        .otherwise(0)
    )
    with_session = events.withColumn(
        "session_id",
        F.sum(gap_flag).over(
            Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return with_session.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )


def watermark_tumbling_stream(
    spark: SparkSession, events_path: str, *, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Run a real Structured Streaming job (availableNow trigger) over the
    events parquet with a watermark, returning the completed aggregation.
    Demonstrates readStream → withWatermark → window agg → memory sink."""
    schema = spark.read.parquet(events_path).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        # watermarks require TIMESTAMP (with local tz); the corpus stores NTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").cast("timestamp_ntz").alias("window_start"), "event_type", "n")
    )
    name = "sparkmerge_wm_agg"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sm_ckpt_"))
        .start()
    )
    _await_or_raise(q, 120)
    return spark.table(name)


def streaming_dedup(
    spark: SparkSession, source_dir: str, *, watermark: str = "1 hour", timeout_s: int = 120
) -> DataFrame:
    """Streaming exact dedup: ``readStream`` → ``withWatermark`` →
    ``dropDuplicatesWithinWatermark(key)`` → memory sink.  Each key is
    emitted on first sight; re-deliveries within the watermark horizon are
    suppressed by keyed state, and state is evicted once the watermark
    passes (bounded memory at 100 TB/day — plain ``dropDuplicates`` on a
    stream retains every key forever).  ``maxFilesPerTrigger=1`` forces one
    micro-batch per input file so re-deliveries genuinely cross batch
    boundaries."""
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_dir)
        # watermarks require TIMESTAMP (with local tz); the corpus stores NTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id", "user_id", "event_type", "value",
            F.col("ts").cast("timestamp_ntz").alias("ts"),
        )
    )
    name = "sparkmerge_stream_dedup"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sm_dedup_ckpt_"))
        .start()
    )
    _await_or_raise(q, timeout_s)
    return spark.table(name)


def streaming_session_windows(
    spark: SparkSession,
    source_dir: str,
    *,
    gap_minutes: int = 30,
    watermark: str = "2 hours",
    timeout_s: int = 120,
) -> DataFrame:
    """Native streaming sessionization: ``F.session_window`` merges per-user
    session state across micro-batches (dynamic-gap windows close when the
    watermark passes ``gap_minutes`` beyond the last event).  availableNow
    drains the source, so the final sink equals the batch gap-sessionization
    (``session_windows`` above) minus the session-id numbering — the
    equivalence the oracle checks."""
    schema = spark.read.parquet(source_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        .groupBy(
            F.session_window("ts", f"{gap_minutes} minutes").alias("w"), "user_id"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
        )
        .select(
            "user_id",
            F.col("first_ts").cast("timestamp_ntz").alias("session_start"),
            F.col("last_ts").cast("timestamp_ntz").alias("session_end"),
            "n_events",
        )
    )
    name = "sparkmerge_session_stream"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sm_sess_ckpt_"))
        .start()
    )
    _await_or_raise(q, timeout_s)
    return spark.table(name)


def stream_stream_join(
    spark: SparkSession,
    source_dir: str,
    *,
    window_minutes: int = 30,
    watermark: str = "1 hour",
    timeout_s: int = 120,
) -> DataFrame:
    """Watermarked stream-stream inner join: clicks joined to the purchases
    that follow them within ``window_minutes`` — the online attribution shape.
    Both sides carry watermarks and the join condition carries an explicit
    event-time bound, so Spark can size the join state and evict expired rows
    (unbounded state otherwise — the thing that kills a 100 TB/day stream).
    Inner join + append mode emits exactly the batch join's pair set."""
    schema = spark.read.parquet(source_dir).schema
    base = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_minutes * 60} SECONDS")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
    )
    name = "sparkmerge_ss_join"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sm_ssj_ckpt_"))
        .start()
    )
    _await_or_raise(q, timeout_s)
    return spark.table(name)


def incremental_rollup(
    spark: SparkSession,
    events_path: str,
    table_path: str,
    *,
    width: str = "1 hour",
    num_batches: int = 4,
) -> SnapshotTable:
    """Continuous aggregate (hypertable-rollup pattern): an hourly
    per-event-type rollup table maintained INCREMENTALLY — each micro-batch
    aggregates only its own events, combines those partial aggregates with
    the current rollup rows (count adds, min/max fold), and upserts via the
    merge engine.  After replaying every batch the table equals the full
    batch aggregation — the materialized-view-maintenance guarantee, tested
    and oracle-checked.

    At scale the combine full-outer join touches only groups present in the
    delta (the rollup side could additionally be partition-pruned by window
    range on a PartitionedSnapshotTable)."""
    events = spark.read.parquet(events_path)
    keys = ["window_start", "event_type"]

    def agg(df: DataFrame) -> DataFrame:
        return (
            df.groupBy(F.window("ts", width).alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("value").alias("min_value"),
                F.max("value").alias("max_value"),
            )
            .select(F.col("w.start").alias("window_start"), "event_type",
                    "n", "min_value", "max_value")
        )

    table = SnapshotTable.create(spark, table_path, agg(events).limit(0))
    bounds = events.select(F.min("ts").alias("lo"), F.max("ts").alias("hi")).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / num_batches
    for i in range(num_batches):
        start = lo + span * i
        end = hi if i == num_batches - 1 else lo + span * (i + 1)
        upper = events.ts <= end if i == num_batches - 1 else events.ts < end
        delta = agg(events.filter((events.ts >= start) & upper))
        cur = table.read(spark)
        c, d = cur.alias("c"), delta.alias("d")
        cond = (F.col("c.window_start").eqNullSafe(F.col("d.window_start"))) & (
            F.col("c.event_type").eqNullSafe(F.col("d.event_type"))
        )
        combined = c.join(d, cond, "full_outer").select(
            F.coalesce(F.col("d.window_start"), F.col("c.window_start")).alias("window_start"),
            F.coalesce(F.col("d.event_type"), F.col("c.event_type")).alias("event_type"),
            (F.coalesce(F.col("c.n"), F.lit(0)) + F.coalesce(F.col("d.n"), F.lit(0))).alias("n"),
            F.least(F.col("c.min_value"), F.col("d.min_value")).alias("min_value"),
            F.greatest(F.col("c.max_value"), F.col("d.max_value")).alias("max_value"),
        )
        simple_merge(spark, table, combined, keys, delete="NO", strategy="auto")
    return table


def stateful_user_counts(
    spark: SparkSession, events_path: str, *, timeout_s: int = 120
) -> DataFrame:
    """Custom stateful streaming operator via ``applyInPandasWithState``:
    per-user running (event count, value sum, last event ts) maintained as
    explicit GroupState across micro-batches — the shape any bespoke
    stateful aggregation (session carts, rate limiters, dedup-by-key caches)
    plugs into.  State lives in the state store keyed by user_id (one shuffle
    to co-locate each key's events); executors stream Arrow batches, nothing
    reaches the driver.  Runs the stream to completion (availableNow) and
    returns the final per-user rows from the memory sink."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = StructType(
        [
            StructField("user_id", LongType()),
            StructField("n_events", LongType()),
            StructField("value_cents", LongType()),
            StructField("last_ts", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("n", LongType()),
            StructField("vcents", LongType()),
            StructField("last", LongType()),
        ]
    )

    def update(key, pdfs, state: GroupState):
        n, vcents, last = state.get if state.exists else (0, 0, 0)
        for pdf in pdfs:
            n += len(pdf)
            vcents += int(pdf["value_cents"].sum())
            last = max(last, int(pdf["ts_s"].max()))
        state.update((n, vcents, last))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_cents": [vcents], "last_ts": [last]}
        )

    schema = spark.read.parquet(events_path).schema
    stream = (
        spark.readStream.schema(schema)
        .parquet(events_path)
        .select(
            "user_id",
            # integer-cents accumulation is order-independent (unlike a double
            # sum, whose result depends on batch boundaries), so the final
            # state is exactly reproducible by any engine — the DuckDB oracle
            # mirrors floor(value*100 + 0.5) term-for-term
            F.floor(F.col("value").cast("double") * 100.0 + 0.5)
            .cast("long")
            .alias("value_cents"),
            # NTZ → epoch seconds needs the two-step cast (NTZ has no direct
            # numeric cast)
            F.col("ts").cast("timestamp").cast("long").alias("ts_s"),
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )
    name = "sparkmerge_stateful_counts"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sm_state_ckpt_"))
        .start()
    )
    _await_or_raise(q, timeout_s)
    # update mode may emit a row per key per batch; the LAST row per key is
    # the final state
    latest = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        spark.table(name)
        .withColumn("_rn", F.row_number().over(latest))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def foreachbatch_merge_stream(
    spark: SparkSession,
    events_path: str,
    table_path: str,
    *,
    key: str = "user_id",
    timeout_s: int = 180,
) -> SnapshotTable:
    """The REAL Structured Streaming upsert sink: ``readStream`` over the
    events files → ``writeStream.foreachBatch(merge)`` — each micro-batch is
    deduped to its latest row per key and merged into the SnapshotTable with
    ``delete='NO'``.  ``maxFilesPerTrigger=1`` makes every input file its own
    micro-batch, so multi-batch state evolution is exercised for real.
    (``foreachbatch_merge_replay`` below is the deterministic ts-ordered
    batch-replay twin used by the oracle check — same merge per batch,
    driver-controlled batch boundaries.)"""
    schema = spark.read.parquet(events_path).schema
    state_cols = ["user_id", "event_id", "ts", "event_type", "value"]
    table = SnapshotTable.create(
        spark, table_path, spark.read.parquet(events_path).select(state_cols).limit(0)
    )

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(key).orderBy(F.desc("ts"), F.desc("event_id"))
        latest = (
            batch_df.select(state_cols)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        # a micro-batch is delta-sized by construction → 'auto' picks the
        # broadcast changeset (no target-row shuffle) whenever Catalyst can
        # bound the batch size, and falls back to the shuffle join when it
        # can't (e.g. a backfill batch too big to broadcast)
        simple_merge(spark, table, latest, key, delete="NO", strategy="auto")

    q = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(events_path)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sm_feb_ckpt_"))
        .start()
    )
    _await_or_raise(q, timeout_s)
    return table


def foreachbatch_merge_replay(
    spark: SparkSession,
    events_path: str,
    table_path: str,
    *,
    key: str = "user_id",
    num_batches: int = 4,
) -> SnapshotTable:
    """Replay events in ts-order micro-batches as upserts into a
    SnapshotTable — the foreachBatch(merge) sink pattern.  Each batch keeps
    the latest event per key (dedup within batch), then merges with
    delete='NO' (streams never delete)."""
    events = spark.read.parquet(events_path)
    state_cols = ["user_id", "event_id", "ts", "event_type", "value"]
    # bootstrap an empty table with the right schema
    empty = events.select(state_cols).limit(0)
    table = SnapshotTable.create(spark, table_path, empty)

    bounds = events.select(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).first()
    lo, hi = bounds["lo"], bounds["hi"]
    span = (hi - lo) / num_batches
    for i in range(num_batches):
        start = lo + span * i
        end = hi if i == num_batches - 1 else lo + span * (i + 1)
        upper = events.ts <= end if i == num_batches - 1 else events.ts < end
        batch = events.filter((events.ts >= start) & upper).select(state_cols)
        w = Window.partitionBy(key).orderBy(F.desc("ts"), F.desc("event_id"))
        latest = batch.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn")
        simple_merge(spark, table, latest, key, delete="NO", strategy="auto")
    return table


def scd2_foreachbatch_stream(
    spark: SparkSession,
    src_dir: str,
    table_path: str,
    *,
    key: str,
    batch_load_ts: list[str],
    timeout_s: int = 180,
) -> SnapshotTable:
    """Streaming SCD2 sink: ``readStream`` over extract files →
    ``writeStream.foreachBatch`` applying :func:`sparkmerge.merge.scd2_merge`
    into a versioned SnapshotTable.  Each micro-batch (one file, ordered by
    pinned mtime) is one dimension load stamped with ``batch_load_ts[i]`` —
    re-changed keys accumulate version chains exactly as sequential batch
    loads would (`merge_scd2_multibatch` is the oracle-checked replay twin).
    History grows by at most |batch| closed rows per load; state lives in the
    table, not in stream memory, so the sink is bounded at any corpus size."""
    from sparkmerge.merge import scd2_merge

    src_schema = spark.read.parquet(src_dir).schema
    empty_hist = (
        spark.read.parquet(src_dir)
        .limit(0)
        .select(
            "*",
            F.lit(None).cast("timestamp").alias("valid_from"),
            F.lit(None).cast("timestamp").alias("valid_to"),
            F.lit(True).alias("is_current"),
        )
    )
    table = SnapshotTable.create(spark, table_path, empty_hist)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        hist = table.read(spark)
        load_ts = F.lit(batch_load_ts[int(batch_id)]).cast("timestamp")
        new_hist = scd2_merge(hist, batch_df, key, load_ts=load_ts)
        table.commit(table.stage(new_hist))

    q = (
        spark.readStream.schema(src_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
        .writeStream.foreachBatch(sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sm_scd2_ckpt_"))
        .start()
    )
    _await_or_raise(q, timeout_s)
    return table


def stream_stream_outer_join(
    spark: SparkSession,
    source_dir: str,
    *,
    window_minutes: int = 30,
    watermark: str = "1 hour",
    timeout_s: int = 120,
) -> DataFrame:
    """Watermarked LEFT-OUTER stream-stream join: every click emits — paired
    if a purchase followed within ``window_minutes``, NULL-padded otherwise.

    The outer semantics are what makes this harder than the inner join: a
    null row may only materialize once the watermark PROVES no match can
    still arrive, so clicks near the stream's tail stay pending in state
    when the stream ends.  To keep the emitted set deterministic (and batch-
    comparable), the result is restricted to the decided region — clicks
    old enough that their join window + the WATERMARK DELAY closed strictly
    before the stream's max event time, with an extra hour of slack so no
    row sits on the eviction boundary.  The margin is derived from the
    ``watermark`` argument (ADVICE r5: a fixed 2 h margin silently broke the
    guarantee for any caller passing a delay over 2 h).  The batch oracle
    applies the same cutoff to a plain left join."""
    schema = spark.read.parquet(source_dir).schema
    base = (
        spark.readStream.schema(schema)
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        base.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {window_minutes * 60} SECONDS")
        ),
        "left_outer",
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
    )
    name = "sparkmerge_ss_outer_join"
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", tempfile.mkdtemp(prefix="sm_ssoj_ckpt_"))
        .start()
    )
    _await_or_raise(q, timeout_s)
    # the global watermark is the MIN over both sides of (max event time
    # seen - delay): the side whose events end earliest gates the flush, so
    # the decided region keys off least(max click ts, max purchase ts)
    src = spark.read.parquet(source_dir)
    side_max = (
        src.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(F.max("ts").alias("m"))
        .agg(F.min("m"))
        .first()[0]
    )
    # decided-region margin = watermark delay + 1 h slack, DERIVED from the
    # watermark argument: rows are flushed from state only once the global
    # watermark (side_max - delay) passes their join window, so a fixed
    # margin smaller than the delay would include clicks whose NULL-padded
    # rows were never emitted (ADVICE r5).
    wm_secs = _interval_seconds(watermark)
    cutoff = (
        F.lit(side_max)
        - F.expr(f"INTERVAL {window_minutes * 60} SECONDS")
        - F.expr(f"INTERVAL {wm_secs + 3600} SECONDS")
    )
    return spark.table(name).filter(F.col("click_ts") < cutoff)


def _interval_seconds(interval: str) -> int:
    """Seconds in a simple ``'<n> <unit>'`` watermark delay string (the
    subset Structured Streaming accepts for withWatermark in this repo)."""
    import re

    m = re.fullmatch(
        r"\s*(\d+)\s*(second|minute|hour|day)s?\s*", interval, re.IGNORECASE
    )
    if not m:
        raise ValueError(f"unsupported watermark interval: {interval!r}")
    n = int(m.group(1))
    return n * {"second": 1, "minute": 60, "hour": 3600, "day": 86400}[
        m.group(2).lower()
    ]
