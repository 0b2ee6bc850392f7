"""Streaming P checks (SURVEY §2b): file-replay equivalence to batch,
watermark late-data drop, streaming dedup, stream-static join, stateful
aggregation, foreachBatch exactly-once sink with checkpoint restart.

All micro-batch boundaries are explicit (append files + processAllAvailable)
— never wall-clock (SURVEY §7.3).
"""

import datetime as dt
import os
import shutil

import pytest

from pyspark.sql import functions as F

from hadoop_copier_spark.queries import REGISTRY
from hadoop_copier_spark.streaming import (
    EVENTS_SCHEMA,
    replay_events_chunks,
    stream_dedup,
    stream_dedup_within_watermark,
    stream_running_counts,
    stream_static_join_counts,
    stream_stream_join,
    stream_tumbling_counts,
)
from hadoop_copier_spark.tables import load_table

SF = "/root/testdata/sf0.001"  # streaming checks use the small fixture


@pytest.fixture(scope="module")
def replay_dir(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("events_replay"))
    replay_events_chunks(spark, SF, out, n_chunks=5)
    return out


def _rows(spark, name):
    return spark.sql(f"SELECT * FROM {name}").collect()


def test_stream_tumbling_equals_batch(spark, replay_dir):
    q = stream_tumbling_counts(spark, replay_dir, "t_tumb")
    try:
        q.processAllAvailable()
        got = {(r["w_start_sec"], r["event_type"]): (r["n"], r["sum_val_cents"]) for r in _rows(spark, "t_tumb")}
    finally:
        q.stop()
    batch = {
        (r["w_start_sec"], r["event_type"]): (r["n"], r["sum_val_cents"])
        for r in REGISTRY["q61"].fn(spark, SF).collect()
    }
    assert got == batch


def test_stream_tumbling_available_now_equals_batch(spark, replay_dir):
    """The bench's AvailableNow trigger path (VERDICT r16 #3): same
    per-file micro-batching, terminates when present data is consumed,
    result identical to the continuous-trigger run and to batch q61."""
    q = stream_tumbling_counts(spark, replay_dir, "t_tumb_an", available_now=True)
    try:
        assert q.awaitTermination(120), "AvailableNow query did not terminate"
        got = {
            (r["w_start_sec"], r["event_type"]): (r["n"], r["sum_val_cents"])
            for r in _rows(spark, "t_tumb_an")
        }
        assert len(q.recentProgress) >= 2  # still micro-batched per file
    finally:
        q.stop()
    batch = {
        (r["w_start_sec"], r["event_type"]): (r["n"], r["sum_val_cents"])
        for r in REGISTRY["q61"].fn(spark, SF).collect()
    }
    assert got == batch


def test_stream_dedup_resent_events_once(spark, tmp_path):
    src = str(tmp_path / "dedup_src")
    e = load_table(spark, SF, "events").limit(100)
    e.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    q = stream_dedup(spark, src, "t_dedup")
    try:
        q.processAllAvailable()
        # re-send the same 100 events as a new file batch
        e.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))
        q.processAllAvailable()
        rows = _rows(spark, "t_dedup")
    finally:
        q.stop()
    ids = [r["event_id"] for r in rows]
    assert len(ids) == len(set(ids)) == 100


def test_stream_dedup_within_watermark_resent_once(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates re-sent while still inside
    the watermark delay are suppressed; state expires with the watermark
    instead of growing forever (the unbounded-stream dedup contract)."""
    src = str(tmp_path / "dedup_wm_src")
    e = load_table(spark, SF, "events").limit(100)
    e.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    q = stream_dedup_within_watermark(spark, src, "t_dedup_wm")
    try:
        q.processAllAvailable()
        e.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))
        q.processAllAvailable()
        rows = _rows(spark, "t_dedup_wm")
    finally:
        q.stop()
    ids = [r["event_id"] for r in rows]
    assert len(ids) == len(set(ids)) == 100


def test_stream_static_join_equals_batch(spark, replay_dir):
    customer = load_table(spark, SF, "customer")
    q = stream_static_join_counts(spark, replay_dir, customer, "t_ssj")
    try:
        q.processAllAvailable()
        got = {r["c_mktsegment"]: r["n"] for r in _rows(spark, "t_ssj")}
    finally:
        q.stop()
    events = load_table(spark, SF, "events")
    batch = {
        r["c_mktsegment"]: r["n"]
        for r in events.join(customer, events.user_id == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == batch


def test_stream_stateful_running_counts_equal_batch(spark, replay_dir):
    q = stream_running_counts(spark, replay_dir, "t_run")
    try:
        q.processAllAvailable()
        got = {r["user_id"]: r["n"] for r in _rows(spark, "t_run")}
    finally:
        q.stop()
    batch = {
        r["user_id"]: r["n"]
        for r in load_table(spark, SF, "events").groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert got == batch


def test_stream_stream_join_equals_batch(spark, replay_dir):
    """Stream-stream inner join (watermarked both sides, time-range
    condition) over the replayed chunks equals the batch self-join."""
    q = stream_stream_join(spark, replay_dir, "t_ssj")
    try:
        q.processAllAvailable()
        got = {(r["click_id"], r["purchase_id"]) for r in _rows(spark, "t_ssj")}
    finally:
        q.stop()
    e = load_table(spark, SF, "events")
    c = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("click_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    batch = {
        (r["click_id"], r["purchase_id"])
        for r in c.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("purchase_ts") >= F.col("click_ts"))
            & (F.col("purchase_ts") <= F.col("click_ts") + F.expr("INTERVAL 30 MINUTES")),
            "inner",
        ).collect()
    }
    assert got == batch
    assert batch, "fixture produced no click->purchase pairs; test is vacuous"


def test_stream_interval_join_equals_batch(spark, tmp_path):
    """Two independent watermarked streams (events split even/odd by
    event_id, each a time-ordered replay) interval-joined on (user_id,
    r_ts BETWEEN l_ts AND l_ts + 5 min) — the q21 batch shape as a
    stream-stream join (VERDICT r17 #2) — equals the batch join."""
    from hadoop_copier_spark.streaming import replay_events_split, stream_interval_join

    left_dir, right_dir = replay_events_split(
        spark, SF, str(tmp_path / "ssj_split"), n_chunks=3
    )
    q = stream_interval_join(spark, left_dir, right_dir, "t_ssj2")
    try:
        q.processAllAvailable()
        got = {(r["l_id"], r["r_id"]) for r in _rows(spark, "t_ssj2")}
    finally:
        q.stop()
    e = load_table(spark, SF, "events")
    left = e.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("l_id"),
        F.col("user_id").alias("l_user"),
        F.col("ts").alias("l_ts"),
    )
    right = e.filter(F.col("event_id") % 2 != 0).select(
        F.col("event_id").alias("r_id"),
        F.col("user_id").alias("r_user"),
        F.col("ts").alias("r_ts"),
    )
    batch = {
        (r["l_id"], r["r_id"])
        for r in left.join(
            right,
            (F.col("l_user") == F.col("r_user"))
            & (F.col("r_ts") >= F.col("l_ts"))
            & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 MINUTES")),
            "inner",
        ).collect()
    }
    assert got == batch
    assert batch, "fixture produced no even/odd interval pairs; test is vacuous"


def test_stream_interval_join_drops_late_row(spark, tmp_path):
    """A matching pair delivered below the watermark is dropped: batch 1
    emits the on-time pair and advances both sides to T0+3h (watermark
    T0+2h); batch 2's pair at T0+10min never appears."""
    from hadoop_copier_spark.streaming import stream_interval_join

    late_l = str(tmp_path / "ssj_late_l")
    late_r = str(tmp_path / "ssj_late_r")
    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)

    def mk(rows, d, sub):
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), schema=EVENTS_SCHEMA
        ).coalesce(1).write.mode("overwrite").parquet(os.path.join(d, sub))

    mk([(2, t0, 5, "click", 1.0, "{}"),
        (4, t0 + dt.timedelta(hours=3), 99, "click", 1.0, "{}")], late_l, "b1")
    mk([(3, t0 + dt.timedelta(minutes=2), 5, "click", 1.0, "{}"),
        (5, t0 + dt.timedelta(hours=3), 98, "click", 1.0, "{}")], late_r, "b1")
    q = stream_interval_join(spark, late_l, late_r, "t_ssj2_late")
    try:
        q.processAllAvailable()
        mk([(6, t0 + dt.timedelta(minutes=10), 7, "click", 1.0, "{}")], late_l, "b2")
        mk([(7, t0 + dt.timedelta(minutes=12), 7, "click", 1.0, "{}")], late_r, "b2")
        q.processAllAvailable()
        got = {(r["l_id"], r["r_id"]) for r in _rows(spark, "t_ssj2_late")}
    finally:
        q.stop()
    assert (2, 3) in got, "on-time pair must be emitted"
    assert (6, 7) not in got, "below-watermark pair must be dropped"


def test_xp_stream_stream_join_reports_equivalence(spark):
    """The P registry entry's summary row must assert equals_batch=True
    (the driver's rows-only check surfaces this frame)."""
    row = REGISTRY["xp_stream_stream_join"].fn(spark, SF).collect()[0]
    assert row["equals_batch"] is True
    assert row["n_pairs"] > 0
    assert row["n_micro_batches"] >= 2


def test_xp_stream_stream_join_keeps_caller_shuffle_partitions(spark, monkeypatch):
    """xp_stream_stream_join plans its stream with 4 shuffle (state)
    partitions in a session of its own: the caller's
    spark.sql.shuffle.partitions reads the same before, while and after
    the stream is started and planned, and the pair set still equals the
    batch join."""
    import hadoop_copier_spark.streaming as streaming

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    real = streaming.stream_interval_join
    seen = {}

    def spy(session, *args, **kwargs):
        q = real(session, *args, **kwargs)
        q.processAllAvailable()  # the first batch is planned by now
        seen["caller"] = spark.conf.get(key)
        seen["stream"] = session.conf.get(key)
        seen["state"] = {
            op["numShufflePartitions"] for op in q.lastProgress["stateOperators"]
        }
        return q

    monkeypatch.setattr(streaming, "stream_interval_join", spy)
    row = REGISTRY["xp_stream_stream_join"].fn(spark, SF).collect()[0]
    assert seen == {"caller": before, "stream": "4", "state": {4}}
    assert spark.conf.get(key) == before
    assert row["equals_batch"] is True


def test_watermark_drops_late_event(spark, tmp_path):
    """Append-mode windowed agg with a 10-min watermark: an event arriving
    far below the watermark is dropped from state-finalized windows."""
    src = str(tmp_path / "late_src")
    base = dt.datetime(2024, 6, 1, 10, 0, 0)

    def mk(rows, sub):
        df = spark.createDataFrame(rows, schema=EVENTS_SCHEMA)
        df.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, sub))

    # batch 1: two events 10:00-10:05 (window 10:00) + one 11:00 (advances
    # the watermark to 10:50 on processing)
    mk(
        [
            (1, base, 7, "click", 1.0, "{}"),
            (2, base + dt.timedelta(minutes=5), 7, "click", 1.0, "{}"),
            (3, base + dt.timedelta(hours=1), 7, "click", 1.0, "{}"),
        ],
        "b1",
    )
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("w_start"), "n")
    )
    q = agg.writeStream.outputMode("append").format("memory").queryName("t_late").start()
    try:
        q.processAllAvailable()
        # batch 2: a LATE event for the already-finalized 10:00 window
        mk([(4, base + dt.timedelta(minutes=1), 7, "click", 1.0, "{}")], "b2")
        q.processAllAvailable()
        # batch 3: advance watermark further so remaining windows finalize
        mk([(5, base + dt.timedelta(hours=3), 7, "click", 1.0, "{}")], "b3")
        q.processAllAvailable()
        rows = {r["w_start"]: r["n"] for r in _rows(spark, "t_late")}
    finally:
        q.stop()
    w0 = int(base.replace(tzinfo=dt.timezone.utc).timestamp())
    # the 10:00 window was finalized with 2 events; the late event (id 4)
    # must NOT be counted
    assert rows[w0] == 2


def test_foreachbatch_exactly_once_with_checkpoint_restart(spark, tmp_path):
    """foreachBatch parquet sink + checkpoint: restarting the query over the
    same source does not duplicate rows (exactly-once file sink)."""
    src = str(tmp_path / "eos_src")
    out = str(tmp_path / "eos_out")
    chk = str(tmp_path / "eos_chk")
    e = load_table(spark, SF, "events").limit(50)
    e.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))

    def writer(df, batch_id):
        # idempotent per-batch write: partition dir keyed by batch_id
        df.write.mode("overwrite").parquet(os.path.join(out, f"batch={batch_id}"))

    def run():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        q = (
            stream.select("event_id", "user_id")
            .writeStream.foreachBatch(writer)
            .option("checkpointLocation", chk)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    run()
    run()  # restart over same checkpoint: no reprocessing, no dup batch dirs
    got = spark.read.option("recursiveFileLookup", "true").parquet(out).collect()
    assert len(got) == 50
    assert len({r["event_id"] for r in got}) == 50


def test_file_sink_exactly_once_across_midstream_restart(spark, tmp_path):
    """VERDICT r5 #8: exactly-once FILE-SINK output across a forced query
    stop/restart MID-REPLAY. The first query run sees only part of the
    input, is stopped, and a fresh query restarts from the same checkpoint
    over the grown source; the native parquet sink's commit log must yield
    every input row exactly once, hash-matching the batch read."""
    src = str(tmp_path / "mid_src")
    out = str(tmp_path / "mid_out")
    chk = str(tmp_path / "mid_chk")
    e = load_table(spark, SF, "events").select("event_id", "user_id", "value").limit(90)
    parts = [e.filter(F.col("event_id") % 3 == i) for i in range(3)]
    parts[0].coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    parts[1].coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))

    def start():
        stream = (
            spark.readStream.schema("event_id long, user_id long, value double")
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .outputMode("append")
            .start()
        )

    q = start()
    try:
        q.processAllAvailable()  # mid-replay: only b1+b2 exist yet
    finally:
        q.stop()  # forced stop before the full dataset arrived

    parts[2].coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b3"))
    q = start()  # restart from the same checkpoint over the grown source
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = sorted(
        (r["event_id"], r["user_id"], r["value"])
        for r in spark.read.parquet(out).collect()
    )
    want = sorted((r["event_id"], r["user_id"], r["value"]) for r in e.collect())
    assert got == want  # no loss, no duplicates, values intact


def test_failed_batch_midwrite_restart_exactly_once(spark, tmp_path):
    """VERDICT r16 #8 — failure injection: a foreachBatch micro-batch
    CRASHES MID-WRITE (data files materialized, no manifest commit —
    the reference's PARTIALLY_FAILED state, CopyTaskService.java:108-127,
    applied to the streaming sink), the query dies, and a restart from
    the same checkpoint must yield exactly-once committed output whose
    tumbling aggregate equals batch q61. The orphaned partial write must
    stay invisible to snapshot readers (manifest-commit atomicity)."""
    from hadoop_copier_spark.operators.snapshots import (
        list_versions,
        read_snapshot,
    )
    from hadoop_copier_spark.streaming import replay_events_chunks
    from hadoop_copier_spark.streaming.snapshot_sink import (
        committed_batch_ids,
        snapshot_batch_writer,
    )

    src = str(tmp_path / "fi_src")
    table = str(tmp_path / "fi_table")
    chk = str(tmp_path / "fi_chk")
    replay_events_chunks(spark, SF, src, n_chunks=8)
    inner = snapshot_batch_writer(table)
    orphan = os.path.join(table, "data", "inflight-crashed")
    state = {"planted": False}

    def writer(df, batch_id):
        if batch_id == 3 and not state["planted"]:
            state["planted"] = True
            # mid-write crash: rows hit the table's data dir, but the
            # manifest rename (the commit point) never happens
            df.write.mode("overwrite").parquet(orphan)
            raise RuntimeError("planted mid-write failure (batch 3)")
        inner(df, batch_id)

    def start():
        stream = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", "1")
            .option("recursiveFileLookup", "true")
            .parquet(src)
        )
        return (
            stream.writeStream.foreachBatch(writer)
            .option("checkpointLocation", chk)
            .start()
        )

    q = start()
    died = False
    try:
        q.processAllAvailable()
    except Exception:
        died = True
    finally:
        try:
            q.stop()
        except Exception:
            pass
    assert state["planted"] and died, "planted failure must kill the query"
    committed_before = committed_batch_ids(table)
    assert 3 not in committed_before  # failed batch never half-committed

    q = start()  # restart: batch 3 redelivered from the WAL, then drains
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    ids = committed_batch_ids(table)
    assert ids == set(range(max(ids) + 1))  # contiguous, no gap, no dup
    assert len(list_versions(table)) == len(ids)  # one version per batch
    got = {
        (r["w_start_sec"], r["event_type"]): (r["n"], r["sum_val_cents"])
        for r in (
            read_snapshot(spark, table)
            .groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast(
                        "bigint"
                    )
                ).alias("sum_val_cents"),
            )
            .select(
                F.unix_timestamp(F.col("w.start")).alias("w_start_sec"),
                "event_type",
                "n",
                "sum_val_cents",
            )
            .collect()
        )
    }
    batch = {
        (r["w_start_sec"], r["event_type"]): (r["n"], r["sum_val_cents"])
        for r in REGISTRY["q61"].fn(spark, SF).collect()
    }
    assert got == batch  # exactly-once: no loss, no duplicated batch
    # the orphaned partial write exists on disk but no manifest points
    # at it — snapshot readers never see PARTIALLY_FAILED work
    assert os.path.isdir(orphan)
    manifest_files = set()
    for v in list_versions(table):
        manifest_files.update(
            read_snapshot(spark, table, v).inputFiles()
        )
    assert not any("inflight-crashed" in f for f in manifest_files)


def test_stream_sliding_window_equals_batch(spark, replay_dir):
    """Q62 streaming form: sliding window counts over the replayed files
    equal the batch result."""
    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "2")
        .option("recursiveFileLookup", "true")
        .parquet(replay_dir)
    )
    agg = (
        stream.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.unix_timestamp("w.start").alias("w_start_sec"), "n")
    )
    q = agg.writeStream.outputMode("complete").format("memory").queryName("t_slide").start()
    try:
        q.processAllAvailable()
        got = {r["w_start_sec"]: r["n"] for r in _rows(spark, "t_slide")}
    finally:
        q.stop()
    batch = {
        r["w_start_sec"]: r["n"] for r in REGISTRY["q62"].fn(spark, SF).collect()
    }
    assert got == batch


def test_stream_session_window_equals_batch(spark, tmp_path):
    """Q63 streaming form (append mode + watermark): sessions finalized by
    a far-future sentinel event match the batch session_window result."""
    src = str(tmp_path / "sess_src")
    e = load_table(spark, SF, "events").withColumn(
        "ts", F.date_trunc("second", F.col("ts"))
    )
    e.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
    q = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("recursiveFileLookup", "true")
        .parquet(src)
        .withWatermark("ts", "1 minute")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp("w.start").alias("session_start_sec"),
            "n_events",
        )
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sess")
        .start()
    )
    try:
        q.processAllAvailable()
        # sentinel far in the future pushes the watermark so every real
        # session finalizes and is emitted in append mode
        import datetime as dt

        sentinel = spark.createDataFrame(
            [(999999, dt.datetime(2030, 1, 1), 999999, "x", 0.0, "{}")],
            schema=EVENTS_SCHEMA,
        )
        sentinel.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b2"))
        q.processAllAvailable()
        got = {
            (r["user_id"], r["session_start_sec"]): r["n_events"]
            for r in _rows(spark, "t_sess")
            if r["user_id"] != 999999
        }
    finally:
        q.stop()
    batch = {
        (r["user_id"], r["session_start_sec"]): r["n_events"]
        for r in REGISTRY["q63"].fn(spark, SF).collect()
    }
    assert got == batch


def test_max_bytes_per_trigger_bounds_batch_ingest(spark, tmp_path):
    """Rate control, bytes form (reference R7 parity alongside
    maxFilesPerTrigger): capping bytes per micro-batch splits a 4-file
    backlog into multiple batches; an uncapped reader drains it in one."""
    base = str(tmp_path / "mbt_src")
    e = load_table(spark, SF, "events").limit(200)
    sizes = []
    for i in range(4):
        p = os.path.join(base, f"b{i}")
        e.coalesce(1).write.mode("overwrite").parquet(p)
        sizes += [
            os.path.getsize(os.path.join(p, n))
            for n in os.listdir(p)
            if n.endswith(".parquet")
        ]

    def run(opts, name):
        r = spark.readStream.schema(EVENTS_SCHEMA)
        for k, v in opts.items():
            r = r.option(k, v)
        stream = r.option("recursiveFileLookup", "true").parquet(base)
        q = (
            stream.groupBy()
            .count()
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .start()
        )
        try:
            q.processAllAvailable()
            n_batches = len(q.recentProgress)
            total = spark.sql(f"SELECT * FROM {name}").collect()[0]["count"]
        finally:
            q.stop()
        return n_batches, total

    capped_batches, capped_total = run({"maxBytesPerTrigger": str(max(sizes) + 10)}, "t_mbt")
    uncapped_batches, uncapped_total = run({}, "t_mbt_un")
    assert capped_total == uncapped_total == 800
    assert uncapped_batches == 1
    assert capped_batches >= 3, capped_batches


def test_streaming_ingest_then_compaction_pipeline(spark, tmp_path):
    """The real small-files lifecycle end-to-end: per-micro-batch
    foreachBatch appends land one file per batch (the fragmentation
    streaming ingest actually produces); offline compaction then rewrites
    the sink to ~target-size files with identical content."""
    import glob

    from hadoop_copier_spark.operators.layout import compact_parquet
    from hadoop_copier_spark.streaming import replay_events_chunks

    src = str(tmp_path / "ingest_src")
    sink = str(tmp_path / "ingest_sink")
    compacted = str(tmp_path / "ingest_compacted")
    replay_events_chunks(spark, SF, src, n_chunks=8)

    def append_batch(df, batch_id):
        df.coalesce(1).write.mode("append").parquet(sink)

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(append_batch).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    frag_files = glob.glob(os.path.join(sink, "part-*"))
    assert len(frag_files) == 8  # one per micro-batch: the problem
    total = sum(os.path.getsize(p) for p in frag_files)
    m = compact_parquet(spark, sink, compacted, target_file_bytes=max(1, total // 2))
    assert m["files_after"] < len(frag_files)
    batch_rows = load_table(spark, SF, "events").count()
    assert m["rows"] == batch_rows
    a = spark.read.parquet(sink).orderBy("event_id").collect()
    b = spark.read.parquet(compacted).orderBy("event_id").collect()
    assert a == b


def test_streaming_cdc_upsert_foreachbatch(spark, tmp_path):
    """CDC-apply loop: each micro-batch reduces to latest-row-per-user and
    is merge_upsert'ed into a copy-on-write parquet table (new generation
    per batch — never read-and-overwrite the same path in one job). Final
    table must equal the batch-wide latest-per-user; with Delta/Iceberg on
    the classpath the same call site becomes MERGE INTO."""
    from hadoop_copier_spark.operators.merge import merge_upsert
    from hadoop_copier_spark.streaming import replay_events_chunks

    src = str(tmp_path / "cdc_src")
    replay_events_chunks(spark, SF, src, n_chunks=6)

    def latest_per_user(df):
        s = F.max_by(
            F.struct("ts", "event_id", "value"), F.struct("ts", "event_id")
        ).alias("s")
        return (
            df.groupBy("user_id")
            .agg(s)
            .select(
                "user_id",
                F.col("s.ts").alias("ts"),
                F.col("s.event_id").alias("event_id"),
                F.col("s.value").alias("value"),
            )
        )

    state = {"dir": None}

    def apply_cdc(df, batch_id):
        upd = latest_per_user(df)
        new_dir = str(tmp_path / f"cdc_gen_{batch_id}")
        if state["dir"] is None:
            upd.write.mode("overwrite").parquet(new_dir)
        else:
            base = spark.read.parquet(state["dir"])
            merge_upsert(base, upd, "user_id").write.mode("overwrite").parquet(new_dir)
        state["dir"] = new_dir

    stream = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .parquet(src)
    )
    q = stream.writeStream.foreachBatch(apply_cdc).option(
        "checkpointLocation", str(tmp_path / "cdc_ckpt")
    ).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in spark.read.parquet(state["dir"]).collect()
    }
    expected = {
        r["user_id"]: (r["ts"], r["event_id"], r["value"])
        for r in latest_per_user(load_table(spark, SF, "events")).collect()
    }
    assert got == expected


def test_time_bucket_replay_streams_to_same_result_as_batch(spark, tmp_path):
    """BENCH-6 path: the one-pass time-bucket replay writer (no global
    sort) feeds the tumbling-window stream to the exact batch-q61 table,
    with one micro-batch per chunk file under maxFilesPerTrigger=1."""
    from hadoop_copier_spark.queries import REGISTRY
    from hadoop_copier_spark.streaming import replay_events_time_buckets

    src = replay_events_time_buckets(spark, SF, str(tmp_path / "tb"), n_chunks=5)
    q = stream_tumbling_counts(spark, src, "t_tb_tumb")
    try:
        q.processAllAvailable()
        n_batches = int((q.lastProgress or {}).get("batchId", -2)) + 1
        got = sorted(
            (r["w_start_sec"], r["event_type"], r["n"], r["sum_val_cents"])
            for r in _rows(spark, "t_tb_tumb")
        )
    finally:
        q.stop()
    want = sorted(tuple(r) for r in REGISTRY["q61"].fn(spark, SF).collect())
    assert got == want
    assert n_batches >= 5  # one micro-batch per chunk file (+ possible empty tail)


def test_stream_subseq_matcher_equals_batch_operator(spark, replay_dir):
    """The streaming subsequence matcher (O(m) tail state per user,
    applyInPandasWithState) must be BIT-identical to the batch operator:
    its full emitted window set, reduced by the registered query's
    ordering, equals xh_subseq_search's top-20 exactly — same anchors,
    same quantized distances — and no window is emitted twice."""
    from hadoop_copier_spark.streaming import subseq_match_stateful
    from hadoop_copier_spark.streaming.jobs import _read_stream

    out = subseq_match_stateful(_read_stream(spark, replay_dir))
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_subseq")
        .start()
    )
    try:
        q.processAllAvailable()
        got = [
            (r.user_id, r.anchor_event_id, r.dist_u6)
            for r in _rows(spark, "t_subseq")
        ]
    finally:
        q.stop()
    assert len(set(got)) == len(got), "a window was emitted more than once"
    got_top = sorted(got, key=lambda t: (t[2], t[0], t[1]))[:20]
    batch = [
        (r.user_id, r.event_id, r.dist_u6)
        for r in REGISTRY["xh_subseq_search"].fn(spark, SF).collect()
    ]
    assert got_top == batch


def test_streaming_hll_merge_equals_batch(spark, tmp_path):
    """Incremental HLL maintenance: per-micro-batch shard registers
    max-merged in foreachBatch must reproduce the batch sketch
    bit-for-bit — the stream side of xh_hll_merge's union algebra."""
    from hadoop_copier_spark.queries.quality_checks import hll_bucket_rho

    src = str(tmp_path / "hll_src")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for i in range(5):
        (
            docs.where(F.col("doc_id") % 5 == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    state = {}

    def merge(bdf, bid):
        for r in (
            hll_bucket_rho(bdf)
            .groupBy("bucket")
            .agg(F.max("rho").alias("reg"))
            .collect()
        ):
            b = int(r["bucket"])
            state[b] = max(state.get(b, 0), int(r["reg"]))

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "hll_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    merged = ",".join(str(state.get(b, 0)) for b in range(256))
    batch = REGISTRY["xh_hll_registers"].fn(spark, SF).collect()[0]["registers"]
    assert merged == batch


def test_streaming_cms_merge_equals_batch(spark, tmp_path):
    """Incremental Count-Min maintenance (VERDICT r13 #7): per-micro-
    batch shard counters SUM-merged in foreachBatch must reproduce the
    batch sketch bit-for-bit — the stream side of the pointwise-ADD
    union algebra xh_cms_registers property-tests."""
    from hadoop_copier_spark.queries.quality_checks import cms_counts

    src = str(tmp_path / "cms_src")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for i in range(5):
        (
            docs.where(F.col("doc_id") % 5 == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    state = {}

    def merge(bdf, bid):
        for r in cms_counts(bdf).collect():  # <=256 sparse counter rows
            k = (int(r["row_id"]), int(r["bucket"]))
            state[k] = state.get(k, 0) + int(r["cnt"])

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "cms_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    batch = REGISTRY["xh_cms_registers"].fn(spark, SF).collect()
    assert len(batch) == 256  # dense 4x64 grid
    assert all(
        state.get((int(r["row_id"]), int(r["bucket"])), 0) == int(r["cnt"])
        for r in batch
    )


def test_streaming_misra_gries_recount_equals_batch(spark, tmp_path):
    """Incremental heavy-hitters (round 14, the sketch trio's third
    member beside HLL max-merge and CMS sum-merge): a driver-side
    weighted Misra-Gries state (K+1 = 50 counters) ingests each
    micro-batch's (token, cnt) partial-agg rows with the classic
    decrement step; the final key set is a SUPERSET of every token with
    total count > N/(K+1) (the MG guarantee survives merging), so the
    exact recount restricted to it, thresholded, must equal the batch
    xh_heavy_hitters output EXACTLY."""
    from hadoop_copier_spark.queries.text_index import _MG_COUNTERS, _tokens_col

    src = str(tmp_path / "mg_src")
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for i in range(5):
        (
            docs.where(F.col("doc_id") % 5 == i)
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    state: dict[str, int] = {}

    def merge(bdf, bid):
        rows = (
            bdf.select(F.explode(_tokens_col()).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()  # batch-vocab partial-agg rows; state stays K+1
        )
        for r in rows:
            state[r["token"]] = state.get(r["token"], 0) + int(r["cnt"])
            if len(state) > _MG_COUNTERS:
                m = min(state.values())
                for t in list(state):
                    state[t] -= m
                    if state[t] <= 0:
                        del state[t]

    q = (
        spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(merge)
        .option("checkpointLocation", str(tmp_path / "mg_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert 0 < len(state) <= _MG_COUNTERS

    # exact recount over the full corpus, restricted to the MG survivors
    toks = docs.select(F.explode(_tokens_col()).alias("token"))
    cand = spark.createDataFrame(
        spark.sparkContext.parallelize([(t,) for t in state], 1), "token string"
    )
    total = toks.count()
    got = {
        (r["token"], r["cnt"])
        for r in toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * (_MG_COUNTERS + 1) > total)
        .collect()
    }
    batch = {
        (r["token"], r["cnt"])
        for r in REGISTRY["xh_heavy_hitters"].fn(spark, SF).collect()
    }
    assert got == batch
