"""Streaming jobs (SURVEY §2b streaming P rows).

Each job mirrors a batch-equivalent query so tests can assert equality:
- stream_tumbling_counts  <-> queries q61 (tumbling window agg)
- stream_dedup            <-> dropDuplicates on event_id (re-sent once)
- stream_static_join_counts <-> batch events x customer join
- stream_running_counts   <-> batch per-user counts (update-mode state)

All sinks are memory tables (synchronous, deterministic via
processAllAvailable) except the foreachBatch/exactly-once path which is
exercised directly in tests with a checkpointed parquet sink.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .replay import EVENTS_SCHEMA


def _read_stream(spark: SparkSession, src_dir: str, max_files: int | None = 1) -> DataFrame:
    r = spark.readStream.schema(EVENTS_SCHEMA)
    if max_files:
        # reference R7 parity: bounded ingest per micro-batch
        r = r.option("maxFilesPerTrigger", str(max_files))
    return r.option("recursiveFileLookup", "true").parquet(src_dir)


def stream_tumbling_counts(
    spark: SparkSession,
    src_dir: str,
    queryName: str,
    available_now: bool = False,
):
    """Tumbling 10-min window count + exact-cents sum per event_type
    (complete mode -> memory sink); final table must equal batch q61,
    which emits BIGINT cents (integer-units rule).

    ``available_now=True`` runs with Trigger.AvailableNow (VERDICT r16
    #3): the query consumes everything present at start — still one
    micro-batch per file under maxFilesPerTrigger — then STOPS, so a
    bench can awaitTermination() and measure pure work with no
    processAllAvailable poll/idle tax. Default stays the continuous
    trigger the equivalence tests drive with processAllAvailable."""
    events = _read_stream(spark, src_dir)
    agg = (
        events.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("bigint")
            ).alias("sum_val_cents"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("w_start_sec"),
            "event_type",
            "n",
            "sum_val_cents",
        )
    )
    w = agg.writeStream.outputMode("complete").format("memory").queryName(queryName)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()


def stream_dedup(spark: SparkSession, src_dir: str, queryName: str):
    """Stateful streaming dedup on event_id within a 1-hour watermark:
    re-sent events appear exactly once downstream."""
    events = _read_stream(spark, src_dir)
    deduped = events.withWatermark("ts", "1 hour").dropDuplicates(["event_id"])
    return (
        deduped.select("event_id", "user_id", "event_type")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
    )


def stream_static_join_counts(spark: SparkSession, src_dir: str, customer: DataFrame, queryName: str):
    """Stream-static join: events stream joined to the static customer dim
    (broadcast — never shuffles the stream side), counting per mktsegment."""
    events = _read_stream(spark, src_dir)
    joined = events.join(
        F.broadcast(customer), events.user_id == customer.c_custkey, "inner"
    )
    agg = joined.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    return (
        agg.writeStream.outputMode("complete").format("memory").queryName(queryName).start()
    )


def stream_dedup_within_watermark(spark: SparkSession, src_dir: str, queryName: str):
    """dropDuplicatesWithinWatermark: like stream_dedup but state for an id
    expires once the watermark passes its event time — the production form
    for unbounded streams, where plain dropDuplicates' state would grow
    with every distinct id ever seen. Duplicates are only suppressed while
    their first occurrence is within the watermark delay, which is exactly
    the dedup contract ingest pipelines want (late replays beyond the
    window are a reprocessing concern, not a state concern)."""
    events = _read_stream(spark, src_dir)
    deduped = events.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])
    return (
        deduped.select("event_id", "user_id", "event_type")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(queryName)
        .start()
    )


def stream_stream_join(spark: SparkSession, src_dir: str, queryName: str):
    """Stream-stream inner join with event-time range condition: each click
    joined to same-user purchases within [click_ts, click_ts + 30 min].

    Both sides carry a 1-hour watermark, and the join has a time-range
    constraint, so the state store holds only ~watermark+range worth of
    rows per side — bounded state at any scale (unbounded-state stream
    joins are rejected by Spark's UnsupportedOperationChecker). Inner join
    emits eagerly as matches arrive, so after processAllAvailable the memory
    sink equals the batch self-join. At 100 TB both sides shuffle once on
    user_id; skewed hot users are bounded by the time-range predicate."""
    events = _read_stream(spark, src_dir)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
        "inner",
    ).select("click_id", "purchase_id", F.col("c_user").alias("user_id"))
    return (
        joined.writeStream.outputMode("append").format("memory").queryName(queryName).start()
    )


def stream_interval_join(
    spark: SparkSession,
    left_dir: str,
    right_dir: str,
    queryName: str,
    watermark: str = "1 hour",
):
    """Stream-stream interval join over TWO independent sources — the q21
    batch shape as a streaming job (VERDICT r17 #2): left events joined to
    same-user right events with r_ts BETWEEN l_ts AND l_ts + 5 minutes.

    Both sides carry an event-time watermark, and the join condition bounds
    r_ts to [l_ts, l_ts + 5 min], so Spark's state store retains only
    watermark + range worth of rows per side: left rows older than
    (watermark - 5 min) and right rows older than the watermark are evicted,
    and INPUT rows below the watermark are dropped (the late-row contract
    tests/test_streaming.py pins). Inner join emits eagerly as matches
    arrive, so at end-of-replay the memory sink equals the batch interval
    join exactly. At 100 TB each side shuffles once on user_id; per-user
    state is bounded by the 5-minute range, not by history."""
    left = (
        _read_stream(spark, left_dir)
        .select(
            F.col("event_id").alias("l_id"),
            F.col("user_id").alias("l_user"),
            F.col("ts").alias("l_ts"),
        )
        .withWatermark("l_ts", watermark)
    )
    right = (
        _read_stream(spark, right_dir)
        .select(
            F.col("event_id").alias("r_id"),
            F.col("user_id").alias("r_user"),
            F.col("ts").alias("r_ts"),
        )
        .withWatermark("r_ts", watermark)
    )
    joined = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    ).select("l_id", "r_id", F.col("l_user").alias("user_id"), "l_ts", "r_ts")
    return (
        joined.writeStream.outputMode("append").format("memory").queryName(queryName).start()
    )


def stream_running_counts(spark: SparkSession, src_dir: str, queryName: str):
    """Stateful per-key aggregation (update mode): running event count per
    user; at end-of-stream the latest value per user equals the batch count."""
    events = _read_stream(spark, src_dir)
    agg = events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    return (
        agg.writeStream.outputMode("complete").format("memory").queryName(queryName).start()
    )
