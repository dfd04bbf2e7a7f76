"""Structured Streaming twins of the batch event-time operators.

The reference is daily batch with no streaming at all (SURVEY.md §2.9);
this is the Spark-native extension: readStream → watermark → windowed agg
→ sink. Locally a parquet directory drives the stream to completion
synchronously (processAllAvailable); in production the source would be
Kafka/files and the sink a Delta/parquet table with checkpointing.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table, normalize_event_ts


def hourly_event_stream(spark: SparkSession, sf_dir: str, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1-hour windowed aggregate as a streaming query, run to
    completion on the static events parquet and returned as a static
    DataFrame (memory sink, complete mode so all windows emit).

    Semantically identical to the batch events_hourly query — the oracle
    is the same SQL. The watermark bounds state at scale; with complete
    mode on a finite source it does not drop output."""
    stream = events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    name = f"hourly_events_{uuid.uuid4().hex[:8]}"
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return (
        spark.table(name)
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet with ``ts`` normalized to
    TimestampType. The file source needs a directory + declared schema:
    stream the sf dir with a glob filter pinned to the one file, and take
    the schema from the batch reader (``load_table``: one footer job the
    first time, none after) so the stream tracks whatever physical ts
    type the testdata carries (see readers.normalize_event_ts)."""
    path = f"{sf_dir}/events.parquet"
    schema = load_table(spark, sf_dir, "events").schema
    # the file source accepts a DIRECTORY (the normal parquet layout) but
    # not a bare file ("basePath must be a directory"); the driver's
    # testdata is a single file, so pick per layout: stream the directory
    # directly, or glob-pin the one file inside its parent
    import os

    if os.path.isdir(path):
        stream = spark.readStream.schema(schema).parquet(path)
    else:
        stream = (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(sf_dir)
        )
    return normalize_event_ts(stream)


# internal alias kept for existing call sites
_events_stream = events_stream


def _run_to_completion(spark: SparkSession, agg: DataFrame, prefix: str) -> DataFrame:
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def sliding_event_stream(spark: SparkSession, sf_dir: str, watermark: str = "2 hours") -> DataFrame:
    """Sliding 2-hour windows every 1 hour: each event lands in exactly two
    overlapping windows. Spark expands the window set at plan time (no
    data duplication before the aggregate's map-side partial)."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "2 hours", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    out = _run_to_completion(spark, agg, "sliding_events")
    return out.select(
        F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value"
    )


def session_window_stream(
    spark: SparkSession, sf_dir: str, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """Native session windows (dynamic gap-merged state) in Structured
    Streaming: a session closes when no event arrives for ``gap``. The
    batch twin is the lag/cumsum sessionize operator; the oracle encodes
    the same >=gap boundary rule, so all three agree."""
    stream = _events_stream(spark, sf_dir)
    agg = (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), F.col("user_id"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    out = _run_to_completion(spark, agg, "session_events")
    return out.select(
        "user_id", F.col("sw.start").alias("session_start"), "n_events", "total_value"
    )


def stream_stream_click_purchase(
    spark: SparkSession, sf_dir: str, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join: each click joins the purchases of the
    same user within the next ``horizon``. Both sides carry watermarks so
    Spark can bound the join state (clicks older than the horizon beyond
    the watermark are evicted — unbounded input, bounded memory). Run to
    completion on the static events parquet; the oracle is the identical
    time-bounded batch join."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    joined = clicks.join(
        purchases,
        (clicks["user_id"] == purchases["user_id"])
        & (purchases["purchase_ts"] >= clicks["click_ts"])
        & (purchases["purchase_ts"] <= clicks["click_ts"] + F.expr(f"INTERVAL {horizon}")),
        "inner",
    ).select(clicks["user_id"], "click_id", "purchase_id")
    name = f"ss_join_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def stream_stream_left_outer(
    spark: SparkSession, sf_dir: str, horizon: str = "1 hour", delay: str = "2 hours"
) -> DataFrame:
    """Stream-stream LEFT OUTER join: every click emits, matched or not —
    the unmatched ones only AFTER the watermark passes their join window
    (the state-timeout semantics that make outer stream joins hard). On a
    finite source the watermark freezes at max(ts) - delay, so clicks
    near the stream's end never reach their emit point; callers cut both
    the stream result and any batch comparison at the same horizon+delay
    cutoff to compare apples to apples (see the registry query)."""
    clicks = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", delay)
    )
    purchases = (
        _events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", delay)
    )
    joined = clicks.join(
        purchases,
        (clicks["user_id"] == purchases["p_user_id"])
        & (purchases["purchase_ts"] >= clicks["click_ts"])
        & (purchases["purchase_ts"] <= clicks["click_ts"] + F.expr(f"INTERVAL {horizon}")),
        "left_outer",
    ).select("user_id", "click_id", "click_ts", "purchase_id")
    name = f"ss_louter_{uuid.uuid4().hex[:8]}"
    q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name)


def deduped_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once event processing: the same source consumed twice and
    unioned (simulating at-least-once duplicate delivery), then
    dropDuplicates on the event key before aggregation — counts equal the
    batch COUNT(*) despite every event arriving twice. In production the
    dedup state is bounded with dropDuplicatesWithinWatermark; on this
    finite source plain dropDuplicates shows the same semantics."""
    s1 = _events_stream(spark, sf_dir)
    s2 = _events_stream(spark, sf_dir)
    doubled = s1.unionByName(s2)
    deduped = doubled.dropDuplicates(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count("*").alias("n_events"))
    out = _run_to_completion(spark, agg, "dedup_events")
    return out


def stateful_running_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState: a
    per-event_type running event count held in explicit GroupState. This
    is the extension point for operators Spark's built-in windows can't
    express (per-key ML state, CEP, custom eviction). Counts are
    cumulative across micro-batches; the final per-key row equals the
    batch COUNT(*) — which is the oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_counts(key, pdf_iter, state: GroupState):
        n = sum(len(pdf) for pdf in pdf_iter)
        total = (state.get[0] if state.exists else 0) + n
        state.update((total,))
        yield pd.DataFrame({"event_type": [key[0]], "n_events": [total]})

    stream = _events_stream(spark, sf_dir)
    counted = stream.groupBy("event_type").applyInPandasWithState(
        update_counts,
        outputStructType="event_type string, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    name = f"stateful_counts_{uuid.uuid4().hex[:8]}"
    q = counted.writeStream.outputMode("update").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # update mode emits one row per key per micro-batch; counts are
    # monotone so the final value per key is the max
    return (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.max("n_events").alias("n_events"))
    )


def stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the events stream enriched against a static
    dimension (event_type → funnel stage), then aggregated per stage.
    The static side is broadcast into every micro-batch — no state, no
    watermark needed for a static inner join, and at scale the dimension
    is re-read per batch only if its source changes (here it is a literal
    frame). This is THE standard enrichment shape for click streams
    against slowly-refreshed dimension snapshots."""
    ev = _events_stream(spark, sf_dir)
    dim = spark.createDataFrame(
        [
            ("view", "awareness"),
            ("click", "engagement"),
            ("signup", "conversion"),
            ("purchase", "conversion"),
            ("error", "ops"),
        ],
        "event_type string, stage string",
    )
    joined = ev.join(F.broadcast(dim), "event_type")
    # per-row cents BEFORE the sum: integer accumulation is order-free,
    # a raw double sum is not (float-parity doctrine, NOTES.md)
    agg = joined.groupBy("stage").agg(
        F.count("*").alias("n_events"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias("value_cents"),
    )
    return _run_to_completion(spark, agg, "stream_static")
