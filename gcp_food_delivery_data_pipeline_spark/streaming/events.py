"""Event-time streaming operators: watermarked windowed aggregation and
a custom stateful per-key operator.

The reference has no event-time code (SURVEY.md §2.6) — its whole
incremental surface is file-arrival micro-batching (stream.py). This
module supplies the streaming operators a user of the events table
needs at scale:

* ``run_events_hourly_stream`` — tumbling-window count/sum with a
  watermark: late rows inside the watermark are merged into their
  window; state for windows older than the watermark is dropped, which
  is what bounds memory on an unbounded stream.
* ``run_user_totals_stream`` — ``applyInPandasWithState``: explicit
  per-key state (running per-user event/value totals), the extension
  point for operators Spark's built-in aggregations can't express.
  It is the module's one stateful per-key operator: Spark 4's
  ``transformWithStateInPandas`` talks to its state server over
  protobuf, which pyspark does not install.

Both mirror their batch twins (plans/analytics.py:q_events_hourly /
q_distinct_users) so tests can assert stream == batch on a replayed
directory of parquet files.
"""

from __future__ import annotations

import os
from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

USER_TOTALS_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("sum_value", DoubleType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("s", DoubleType())]
)


def read_events_stream(
    spark: SparkSession, input_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """Streaming scan of events-shaped parquet files in a directory.

    The schema comes from the files themselves at declaration time
    (streams need explicit schemas; nanos-as-long normalization matches
    sources/readers.py:load_table).
    """
    # NTZ inference must be off BEFORE the schema probe: a TIMESTAMP_NTZ
    # ts column cannot carry a watermark (EVENT_TIME_IS_NOT_ON_TIMESTAMP
    # _TYPE). Runtime-settable, mirrors sources/readers.py:load_table.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    static = spark.read.parquet(input_dir)
    df = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    from pyspark.sql.types import LongType as _Long

    if isinstance(df.schema["ts"].dataType, _Long):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    from gcp_food_delivery_data_pipeline_spark.sources.readers import (
        normalize_timestamps,
    )

    return normalize_timestamps(df)


def hourly_rollup(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour rollup per event type.

    Late rows within ``watermark`` still merge into their hour; older
    state is evicted. In append mode a window emits once finalized —
    the exactly-once-per-window contract downstream sinks want.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def run_events_hourly_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str = "events_hourly",
    watermark: str = "2 hours",
    output_mode: str = "complete",
    output_path: str | None = None,
) -> StreamingQuery:
    """Drain-and-stop windowed aggregation into an in-memory sink
    (tests / smoke); production swaps the sink for parquet/Kafka.

    ``output_mode="complete"`` re-emits the full rollup per batch (easy
    to read back); ``"append"`` emits each window exactly once when the
    watermark passes its end, and rows arriving behind the watermark
    are DROPPED (visible as numRowsDroppedByWatermark in progress).

    ``output_path`` switches the sink to parquet (append-mode only) —
    required when the query must RESUME from its checkpoint: the memory
    sink does not support checkpoint recovery.
    """
    rollup = hourly_rollup(read_events_stream(spark, input_dir), watermark)
    if output_path is not None:
        writer = (
            rollup.writeStream.format("parquet")
            .option("path", output_path)
            .outputMode("append")
        )
    else:
        writer = (
            rollup.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
        )
    return (
        writer.option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def session_rollup(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str | None = None,
) -> DataFrame:
    """Per-user session aggregation via native ``session_window`` —
    the streaming twin of plans/analytics.py:q_session_window (it IS
    that expression, applied to a watermarked source, so tests can
    assert stream == batch on a replayed directory).

    On a stream the watermark is what FINALIZES a session: a session
    closes (and, in append mode, emits exactly once) when the
    watermark passes ``last_ts + gap``, and its merge state is
    dropped — bounded memory on an unbounded stream. Without the
    watermark a streaming session can never be declared over.
    """
    from gcp_food_delivery_data_pipeline_spark.plans.analytics import (
        q_session_window,
    )

    src = (
        events.withWatermark("ts", watermark)
        if watermark is not None
        else events
    )
    return q_session_window(src, gap=gap)


def append_watermark_flush(
    spark: SparkSession,
    input_dir: str,
    flush_interval: str = "48 HOURS",
    sentinel_user: int = -1,
    event_types: tuple = ("flush",),
) -> None:
    """Append a far-future sentinel event to a replay directory so an
    append-mode availableNow drain FINALIZES every real window/session:
    append output only emits state once the watermark passes its close,
    and a bounded replay's watermark stops short of its own tail.

    The sentinel lands ``flush_interval`` past the directory's max ts
    and gets a strictly later file mtime (FileStreamSource processes
    oldest-first), so the flush arrives in the LAST micro-batch; its
    own still-open session never emits. Consumers filter out
    ``sentinel_user`` rows.

    ``event_types``: a watermark only advances from rows that REACH
    its ``withWatermark`` node — a query that filters on event_type
    BEFORE watermarking (e.g. the stream-stream joins' click/purchase
    split) never sees a ``'flush'``-typed row, and its watermark
    stays put. Pass the types that query keeps (one sentinel row per
    type, all at the same far-future ts, all under ``sentinel_user``).
    """
    import time

    ev = spark.read.parquet(input_dir)
    max_ts = ev.agg(F.max("ts")).collect()[0][0]
    sentinel = (
        spark.createDataFrame([(t,) for t in event_types], ["et"])
        .select(
            F.lit(-999).cast("long").alias("event_id"),
            (F.lit(max_ts) + F.expr(f"INTERVAL {flush_interval}")).alias(
                "ts"
            ),
            F.lit(sentinel_user).cast("long").alias("user_id"),
            F.col("et").alias("event_type"),
            F.lit(0.0).cast("double").alias("value"),
            F.lit("{}").alias("props"),
        )
    )
    existing = set(os.listdir(input_dir))
    sentinel.coalesce(1).write.mode("append").parquet(input_dir)
    now = time.time()
    for f in os.listdir(input_dir):
        is_new_part = (
            f not in existing
            and f.startswith("part-")
            and f.endswith(".parquet")
        )
        mt = now + 60 if is_new_part else now
        os.utime(os.path.join(input_dir, f), (mt, mt))


def run_sessionize_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_path: str,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Streaming sessionization into a parquet sink (append mode):
    each finalized session emits exactly once when the watermark
    passes its close; the checkpoint makes file re-delivery
    idempotent. availableNow drains the backlog and stops — the
    test/replay harness shape; production drops the trigger.
    """
    sessions = session_rollup(
        read_events_stream(spark, input_dir), gap=gap, watermark=watermark
    )
    return (
        sessions.writeStream.format("parquet")
        .option("path", output_path)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_dedup(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_path: str,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Cross-batch streaming dedup: each key survives to the sink at
    most once, no matter how many micro-batches (or replays of the same
    file) re-deliver it — the at-least-once-source → exactly-once-sink
    bridge an ingest pipeline needs.

    ``dropDuplicatesWithinWatermark`` keeps one state entry per key and
    EXPIRES entries once the event-time watermark passes them, so state
    is bounded by the key arrival rate × watermark horizon rather than
    growing forever (plain ``dropDuplicates`` on a stream never evicts
    — unusable on an unbounded corpus). State is hash-partitioned by
    key across executors; the checkpoint persists it across restarts,
    which is what makes re-delivered files idempotent.
    """
    events = read_events_stream(spark, input_dir).withWatermark(
        "ts", watermark
    )
    deduped = events.dropDuplicatesWithinWatermark(list(key_cols))
    return (
        deduped.writeStream.format("parquet")
        .option("path", output_path)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _user_totals_fn(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    """Running per-user totals with explicit state (Arrow-batched)."""
    n, s = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        s += float(pdf["value"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "sum_value": [round(s, 2)]}
    )


def run_user_totals_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    query_name: str = "user_totals",
) -> StreamingQuery:
    """Custom stateful operator: per-user running totals via
    ``applyInPandasWithState`` — the pattern for stateful logic beyond
    built-in aggregations (sessionizers, CDC mergers, counters whose
    state must survive across micro-batches)."""
    events = read_events_stream(spark, input_dir)
    totals = events.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        totals.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_click_attribution_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_path: str,
    horizon_seconds: int = 3600,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Stream-stream self-join: attribute each purchase to the same
    user's clicks within the preceding ``horizon_seconds``.

    Both sides carry a watermark and the join predicate bounds
    click-time relative to purchase-time, so Spark can EVICT buffered
    click state once the watermark passes the horizon — the pair of
    constraints that makes an unbounded stream-stream join run in
    bounded memory (drop either and state grows forever). Semantics
    match the batch ``range_join_within`` twin restricted to
    click<=purchase, which is what the equality test asserts.
    """
    ev = read_events_stream(spark, input_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"c_user = p_user AND click_ts <= purchase_ts "
            f"AND click_ts >= purchase_ts - INTERVAL {horizon_seconds} SECONDS"
        ),
    ).select("purchase_id", "click_id", "p_user", "purchase_value")
    return (
        joined.writeStream.format("parquet")
        .option("path", output_path)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_upsert(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    target_path: str,
    key_cols: tuple[str, ...] = ("event_id",),
    order_col: str = "ts",
) -> StreamingQuery:
    """Streaming CDC sink: MERGE each micro-batch into a parquet table
    by key (``foreachBatch`` + ``sources.writers.merge_upsert``).

    foreachBatch delivers at-least-once — the exact failure mode an
    upsert absorbs: a replayed batch re-merges the same keys to the
    same values, so the sink is effectively exactly-once BY KEY without
    a transactional format. Within a batch the latest row per key wins
    (``order_col`` descending, deterministic), since a micro-batch can
    carry several updates to one key.
    """
    import glob
    import os

    from pyspark.sql import Window

    from gcp_food_delivery_data_pipeline_spark.sources.writers import (
        merge_upsert,
    )

    ev = read_events_stream(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        w = Window.partitionBy(*key_cols).orderBy(F.col(order_col).desc())
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        if glob.glob(os.path.join(target_path, "*.parquet")) or glob.glob(
            os.path.join(target_path, "**", "*.parquet")
        ):
            merge_upsert(spark, target_path, latest, list(key_cols))
        else:
            latest.write.mode("overwrite").parquet(target_path)

    return (
        ev.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_quality(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_path: str,
    rules=None,
) -> StreamingQuery:
    """Streaming data-quality monitor: evaluate the declarative
    constraint set (operators/quality.py) on EVERY micro-batch and
    append one result row per (batch, rule) to a parquet audit table —
    the reference's logged counts (C1-C3) grown into per-batch
    constraint telemetry you can alert on.

    ``foreachBatch`` is at-least-once; the audit append is keyed by
    ``batch_id``, so a replayed batch overwrites nothing and dedup at
    read time is ``dropDuplicates(["batch_id", "rule"])`` (results are
    deterministic per batch, so replays write identical rows).
    """
    from gcp_food_delivery_data_pipeline_spark.operators.quality import (
        check_constraints,
        in_range,
        not_null,
        unique,
    )

    if rules is None:
        rules = [
            not_null("event_id"),
            unique("event_id"),
            in_range("value", 0.0, 1e6),
        ]
    ev = read_events_stream(spark, input_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        res = check_constraints(batch_df, rules).withColumn(
            "batch_id", F.lit(batch_id)
        )
        res.write.mode("append").parquet(out_path)

    return (
        ev.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_stream_enrich(
    spark: SparkSession,
    input_dir: str,
    dim: DataFrame,
    checkpoint_dir: str,
    query_name: str = "stream_enrich",
    key_col: str = "user_id",
    dim_key: str = "c_custkey",
    dim_attr: str = "c_mktsegment",
) -> StreamingQuery:
    """Stream-static enrichment join — the dimension-lookup shape of
    production streaming: each micro-batch of events left-joins a
    STATIC dimension frame (broadcast: the dim ships to executors
    once per batch and no stream-side shuffle or state is needed —
    stream-static joins are stateless by construction, unlike
    stream-stream joins which buffer both sides under watermarks).
    Unmatched keys keep the row with an ``unknown`` attribute; append
    mode emits each enriched event exactly once.

    At 100 TB-of-stream scale the static side refreshes by restarting
    the query (or `foreachBatch` re-reading a versioned snapshot —
    sources/versioned.py pairs with this); dims too big to broadcast
    fall back to a shuffled join per micro-batch, same code path.
    """
    ev = read_events_stream(spark, input_dir)
    enriched = ev.join(
        F.broadcast(dim), ev[key_col] == dim[dim_key], "left"
    ).select(
        ev["event_id"],
        ev[key_col],
        F.coalesce(dim[dim_attr], F.lit("unknown")).alias("segment"),
        ev["value"],
    )
    return (
        enriched.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_click_attribution_left_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_path: str,
    horizon_seconds: int = 3600,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """LEFT OUTER stream-stream join: every purchase emits, attributed
    to same-user clicks within the preceding ``horizon_seconds`` —
    or with a NULL click when none arrives. The outer semantics are
    the part plain inner join can't express: an unmatched purchase's
    null row may only be emitted once the watermark proves no
    matching click can still arrive (click state for that interval is
    evicted), so null emission IS the state-expiry machinery made
    visible. A bounded replay must advance the watermark past its own
    tail for those rows to flush — the harness appends a far-future
    flush sentinel (``append_watermark_flush``); production streams
    just keep receiving data.

    Same bounded-memory design as the inner twin
    (``run_click_attribution_stream``): watermarks on BOTH sides plus
    the time-bound predicate let Spark evict buffered state.
    """
    ev = read_events_stream(spark, input_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    joined = purchases.join(
        clicks,
        F.expr(
            f"c_user = p_user AND click_ts <= purchase_ts "
            f"AND click_ts >= purchase_ts - INTERVAL {horizon_seconds} SECONDS"
        ),
        "leftOuter",
    ).select("purchase_id", "click_id", "p_user", "purchase_value")
    return (
        joined.writeStream.format("parquet")
        .option("path", output_path)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_window_topk_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    output_path: str,
    watermark: str = "2 hours",
) -> StreamingQuery:
    """Streaming heavy-hitter state: per-(hour window, user) event
    counts in APPEND mode — each (window, user) cell emits exactly
    once when the watermark passes the window close, so the parquet
    sink accumulates only FINALIZED cells and file re-delivery is
    checkpoint-idempotent. Ranking the top-k inside the stream would
    need a window function over a streaming aggregate (unsupported,
    and semantically premature: a window's top-k isn't knowable until
    the window finalizes); the correct production shape is exactly
    this split — stream finalizes cells, a trivial batch pass ranks
    finalized windows (see ``window_topk``).

    State is bounded by (active windows x users seen within the
    watermark horizon), hash-partitioned across executors.
    """
    counts = (
        read_events_stream(spark, input_dir)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("window.start").alias("hour"),
            "user_id",
            "n_events",
        )
    )
    return (
        counts.writeStream.format("parquet")
        .option("path", output_path)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def window_topk(df: DataFrame, k: int = 3) -> DataFrame:
    """Rank finalized (hour, user) count cells to the per-hour top-k
    with a deterministic (count DESC, user ASC) tie-break — the batch
    post-pass over ``run_window_topk_stream``'s sink. Keyed window
    (partitioned by hour): parallel per-key sorts, and Spark plans
    the rank-<=-k filter as WindowGroupLimit, so only per-partition
    top-k rows cross the shuffle."""
    from pyspark.sql import Window as W

    rn = F.row_number().over(
        W.partitionBy("hour").orderBy(
            F.col("n_events").desc(), F.col("user_id")
        )
    )
    return (
        df.withColumn("rn", rn)
        .filter(F.col("rn") <= k)
        .select(
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "user_id",
            "n_events",
            "rn",
        )
    )
