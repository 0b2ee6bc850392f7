"""Deterministic event replay: split the events table into K time-ordered
parquet chunk files so a file-source stream consumes them as micro-batches
(maxFilesPerTrigger=1 — the engine's analog of the reference's bandwidth
throttle R7, capping ingest per trigger;
/root/reference/src/main/java/com/github/nlayna/hadoopcopier/service/ThrottledInputStream.java:47-67).

Never wall-clock driven (SURVEY §7.3): tests call processAllAvailable()
between appends, so micro-batch boundaries are exact.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..tables import load_table

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _write_row_chunks(df, out_dir: str, n_chunks: int) -> list[str]:
    """Write ``df`` (ts-ordered) as ``n_chunks`` single-file parquet
    directories ``out_dir/chunk_000`` ...; returns them in replay order.
    Chunking is by row_number ranges over one unpartitioned window, so the
    split is exact and deterministic (test scale)."""
    from pyspark.sql import Window as W

    n = df.count()
    per = (n + n_chunks - 1) // n_chunks
    ranked = df.withColumn("__rn", F.row_number().over(W.orderBy("ts", "event_id")))
    paths = []
    for i in range(n_chunks):
        path = os.path.join(out_dir, f"chunk_{i:03d}")
        (
            ranked.filter((F.col("__rn") > i * per) & (F.col("__rn") <= (i + 1) * per))
            .drop("__rn")
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(path)
        )
        paths.append(path)
    return paths


def _with_time_bucket(spark: SparkSession, sf_dir: str, n_chunks: int):
    """The events table plus an int ``chunk`` column: its bucket among
    ``n_chunks`` approximately-equal time ranges, cut at approxQuantile
    points of the event second (one bounded stats job, no sort)."""
    e = load_table(spark, sf_dir, "events").withColumn(
        "__sec", F.unix_timestamp("ts")
    )
    cuts = e.stat.approxQuantile(
        "__sec", [i / n_chunks for i in range(1, n_chunks)], 0.001
    )
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + (F.col("__sec") > F.lit(c)).cast("int")
    return e.withColumn("chunk", bucket).drop("__sec")


def _stamp_chunk_mtimes(base_dir: str, n_chunks: int, t0: float) -> None:
    """Set every file under ``base_dir/chunk=i`` to mtime ``t0 + i``: the
    file source orders new files by modification time, so this makes the
    replay order the chunk order. An empty time bucket writes no
    directory and is skipped."""
    for i in range(n_chunks):
        chunk_dir = os.path.join(base_dir, f"chunk={i}")
        if not os.path.isdir(chunk_dir):
            continue
        for name in os.listdir(chunk_dir):
            os.utime(os.path.join(chunk_dir, name), (t0 + i, t0 + i))


def replay_events_chunks(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 5
) -> list[str]:
    """Write events (ts-ordered) as n_chunks parquet directories; returns
    the chunk paths in replay order. Chunking is by row_number ranges, so
    the split is deterministic."""
    return _write_row_chunks(load_table(spark, sf_dir, "events"), out_dir, n_chunks)


def replay_events_split(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 3
) -> tuple[str, str]:
    """Two time-ordered replays of the SAME events table split by event_id
    parity — the two independent sources a stream-stream join consumes
    (VERDICT r17 #2). Returns (left_dir, right_dir): left = even event_id,
    right = odd. Each side is chunked exactly like replay_events_chunks
    (row_number ranges over its own rows), so both sides advance through
    event time together and the join's watermark state stays bounded while
    replaying. Test-scale writer (single-partition row_number window);
    the 100 TB replay path is replay_events_time_buckets."""
    e = load_table(spark, sf_dir, "events")
    even = F.col("event_id") % 2 == 0
    left, right = os.path.join(out_dir, "left"), os.path.join(out_dir, "right")
    _write_row_chunks(e.filter(even), left, n_chunks)
    _write_row_chunks(e.filter(~even), right, n_chunks)
    return left, right


def replay_events_split_buckets(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 2
) -> tuple[str, str]:
    """Scale-path twin of replay_events_split: both sides (even/odd
    event_id) written in ONE shuffle job, chunked by approxQuantile time
    cuts instead of an exact single-partition row_number — the writer you
    would run at 100 TB (the replay_events_time_buckets design, applied
    to a two-source split). Chunk boundaries are approximate, which is
    fine for the stream-stream join consumer: equivalence needs
    time-ordered arrival (mtime-stamped below, like
    replay_events_time_buckets), not exact chunk sizes. Returns
    (left_dir, right_dir)."""
    (
        _with_time_bucket(spark, sf_dir, n_chunks)
        .withColumn(
            "side",
            F.when(F.col("event_id") % 2 == 0, F.lit("left")).otherwise(F.lit("right")),
        )
        .repartition("side", "chunk")
        .write.mode("overwrite")
        .partitionBy("side", "chunk")
        .parquet(out_dir)
    )
    t0 = time.time()
    left, right = os.path.join(out_dir, "side=left"), os.path.join(out_dir, "side=right")
    for side_dir in (left, right):
        # a side with zero rows (e.g. an empty events table) writes no
        # partition directory at all; the streaming reader supplies the
        # schema explicitly, so an EXISTING empty dir is a valid empty
        # source while a missing path is an analysis error
        os.makedirs(side_dir, exist_ok=True)
        _stamp_chunk_mtimes(side_dir, n_chunks, t0)
    return left, right


def replay_events_time_buckets(
    spark: SparkSession, sf_dir: str, out_dir: str, n_chunks: int = 20
) -> str:
    """One-pass replay writer (BENCH-6): bucket events into ``n_chunks``
    approximately-equal TIME ranges via approxQuantile cut points and
    write every bucket in a single partitionBy job — no global sort and
    no single-partition window, so this is the replay writer you would
    actually run at 100 TB (replay_events_chunks's exact row_number
    split is for tests that need exact micro-batch boundaries). Returns
    ``out_dir``; chunk files land under chunk=i subdirectories, which the
    file source consumes one per trigger under maxFilesPerTrigger=1
    (recursiveFileLookup ignores the partition column, so the streamed
    schema stays EVENTS_SCHEMA).

    Micro-batch ORDER: FileStreamSource orders new files by modification
    time, and a single partitionBy job finishes its chunk files in
    arbitrary order — so the mtimes are re-stamped below, strictly
    increasing with chunk index. Without that, replay order is
    nondeterministic: harmless for order-insensitive consumers (BENCH-6's
    tumbling agg), but a violation of the per-user in-order arrival
    contract that stateful consumers (subseq_match_stateful) enforce."""
    (
        _with_time_bucket(spark, sf_dir, n_chunks)
        .repartition("chunk")
        .write.mode("overwrite")
        .partitionBy("chunk")
        .parquet(out_dir)
    )
    _stamp_chunk_mtimes(out_dir, n_chunks, time.time())
    return out_dir
