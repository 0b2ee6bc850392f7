"""Reference-parity and multimodal P-class queries (SURVEY §2b scans table
P rows): the copy job, the binaryFile source, and multimodal round-trip —
registered so the driver inventory exercises them end-to-end."""

from __future__ import annotations

import hashlib
import os

from .base import F, scratch_dir, tbl
from .registry import register


def _mk_tree(base: str) -> dict:
    """Deterministic small file tree (content derived from the path)."""
    rels = ["a.bin", "b.txt", "sub/c.bin", "sub/deep/d.bin"]
    out = {}
    for rel in rels:
        p = os.path.join(base, rel)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        data = hashlib.sha256(rel.encode()).digest() * (len(rel) * 7)
        with open(p, "wb") as f:
            f.write(data)
        out[rel] = data
    return out


@register("xp_copyjob", oracle=None, tags=("parity", "copy"))
def p_copyjob(spark, sf_dir):
    """P-class: the reference-parity copy job (R1-R22) end-to-end — copies
    a generated tree plus one missing path, returns the per-item status
    rows (PARTIALLY_FAILED rollup, MD5 verified, deterministic columns)."""
    from ..copyjob import CopyItem, CopyJobEngine, CopyRequest

    base = scratch_dir("copyjob")
    src = os.path.join(base, "src")
    _mk_tree(src)
    eng = CopyJobEngine(spark, parallelism=4)
    rid = eng.submit(
        CopyRequest(
            "local",
            [
                CopyItem(src, os.path.join(base, "dst")),
                CopyItem(os.path.join(base, "missing"), os.path.join(base, "dst2")),
            ],
        )
    )
    st = eng.status(rid)
    rows = [
        (
            st["status"],
            i["hdfsPath"].split("/")[-1],
            i["status"],
            i["bytesCopied"],
            i["checksumVerified"],
            i["errorMessage"] is not None,
        )
        for i in st["items"]
    ]
    # single-slice local DF: createDataFrame(list) would slice these few
    # rows across defaultParallelism (32) Python tasks — pure worker-pool
    # startup cost on a cold session (the r3 xp_copyjob bench regression)
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        schema="task_status string, item string, item_status string, "
        "bytes long, checksum_ok boolean, has_error boolean",
    ).orderBy("item")


@register("xp_binary_source", oracle=None, tags=("parity", "binary"))
def p_binary_source(spark, sf_dir):
    """P-class: binaryFile scan of a generated tree — (name, length,
    md5(content)) rows; recursive lookup covers the reference's DFS
    enumeration (R4). Verified against hashlib in tests."""
    from ..sources.binary import read_binary_dir

    base = scratch_dir("binsrc")
    _mk_tree(base)
    df = read_binary_dir(spark, base)
    return df.select(
        F.element_at(F.split("path", "/"), -1).alias("name"),
        F.col("length"),
        F.md5("content").alias("content_md5"),
    ).orderBy("name")


@register("xp_multimodal_roundtrip", oracle=None, tags=("parity", "multimodal"))
def p_multimodal_roundtrip(spark, sf_dir):
    """P-class: multimodal rows (binary + typed metadata struct) written to
    parquet and read back — BinaryType and nested struct survive the round
    trip byte-for-byte (asserted in tests)."""
    from ..sources.multimodal import make_multimodal_rows

    base = scratch_dir("mm_roundtrip")
    df = make_multimodal_rows(spark, sf_dir, n=64)
    df.write.mode("overwrite").parquet(os.path.join(base, "mm"))
    back = spark.read.parquet(os.path.join(base, "mm"))
    return back.select(
        "sample_id",
        "modality",
        F.md5("content").alias("content_md5"),
        F.col("meta.mime").alias("mime"),
        F.col("meta.width").alias("width"),
        F.col("meta.caption").alias("caption"),
    ).orderBy("sample_id")


@register("xp_multimodal_features", oracle=None, tags=("parity", "multimodal"))
def p_multimodal_features(spark, sf_dir):
    """P-class: mapInPandas decode/feature-extract over multimodal rows
    (Arrow batches; deterministic stub decoder — see sources/multimodal)."""
    from ..sources.multimodal import decode_and_featurize, make_multimodal_rows

    df = make_multimodal_rows(spark, sf_dir, n=64)
    return (
        decode_and_featurize(df)
        .select("sample_id", "modality", "n_bytes", "sha1")
        .orderBy("sample_id")
    )


@register("xp_video_frame_sample", oracle=None, tags=("parity", "multimodal"))
def p_video_frame_sample(spark, sf_dir):
    """P-class: video frame sampling — multi-frame binary payloads fan
    out 1-to-many inside a single Arrow-batched mapInPandas (every 4th
    4 KiB frame becomes a row with offset, digest, stub feature). The
    codec is stubbed; the batch shape, schema, and partitioning are the
    production plumbing (sources/multimodal.sample_frames). Rows-only
    driver check; exactness (frame counts, offsets, reassembly) is
    pinned in tests/test_sources.py."""
    from ..sources.multimodal import make_video_rows, sample_frames

    df = make_video_rows(spark, sf_dir, n=32)
    return (
        sample_frames(df, frame_bytes=4096, every_n=4)
        .select("sample_id", "frame_idx", "frame_offset", "n_frames", "frame_sha1")
        .orderBy("sample_id", "frame_idx")
    )


@register("xp_image_resize", oracle=None, tags=("parity", "multimodal"))
def p_image_resize(spark, sf_dir):
    """P-class: binary->binary image resize via mapInPandas — Pillow
    re-encode when available, deterministic evenly-spaced byte resample
    otherwise; output payload is exactly width*height bytes either way
    (sources/multimodal.resize_images). Map-only: a thumbnail stage at
    100 TB is a pure scan->transform->write pass."""
    from ..sources.multimodal import make_multimodal_rows, resize_images

    df = make_multimodal_rows(spark, sf_dir, n=64).filter(
        F.col("modality") == "image"
    )
    return (
        resize_images(df, width=8, height=8)
        .select("sample_id", F.md5("content").alias("content_md5"), "n_bytes")
        .orderBy("sample_id")
    )


@register("xp_time_travel", oracle=None, tags=("parity", "snapshots"))
def p_time_travel(spark, sf_dir):
    """P-class: versioned-snapshot lifecycle (operators/snapshots.py) —
    write v1, append v2, overwrite v3, rollback to v1 as v4, then
    time-travel-read EVERY version and emit one row per version with its
    exact row count and key checksum. Reproducible-corpus reads are the
    point: v1 and the rollback v4 must agree byte-for-byte even though
    an overwrite happened in between (asserted here via matching
    checksums; full semantics pinned in tests/test_snapshots.py)."""
    from ..operators.snapshots import read_snapshot, rollback, write_snapshot

    base = scratch_dir("time_travel")
    t = os.path.join(base, "tbl")
    c = tbl(spark, sf_dir, "customer")
    write_snapshot(c.filter(F.col("c_custkey") % 3 == 0), t)
    write_snapshot(c.filter(F.col("c_custkey") % 3 == 1), t, mode="append")
    write_snapshot(c.filter(F.col("c_custkey") % 3 == 2), t, mode="overwrite")
    v4 = rollback(t, to_version=1)
    rows = []
    for v in range(1, v4 + 1):
        snap = read_snapshot(spark, t, v).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("c_custkey").alias("key_sum"),
        ).collect()[0]
        rows.append((v, snap.n, snap.key_sum))
    assert rows[0][1:] == rows[3][1:], "rollback must reproduce v1 exactly"
    return (
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            "version int, n_rows long, key_sum long",
        ).orderBy("version")
    )


@register("xp_layout_maintenance", oracle=None, tags=("parity", "layout"))
def p_layout_maintenance(spark, sf_dir):
    """P-class: layout maintenance end-to-end — fragment the events table
    into 24 small files, then (a) compact to ~4 target-sized files and
    (b) Z-order rewrite on (user_id, value). Returns one metrics row per
    op; row counts must survive both rewrites (operators/layout.py; no SQL
    oracle — file-layout side effects aren't expressible in DuckDB, so the
    driver records the rows-only check)."""
    import glob

    from ..operators.layout import compact_parquet, zorder_rewrite

    e = tbl(spark, sf_dir, "events")
    base = scratch_dir("layout")
    frag = os.path.join(base, "frag")
    e.repartition(24).write.mode("overwrite").parquet(frag)
    total = sum(
        os.path.getsize(p) for p in glob.glob(os.path.join(frag, "part-*"))
    )
    target = max(1, total // 4)
    c = compact_parquet(spark, frag, os.path.join(base, "compact"), target_file_bytes=target)
    z = zorder_rewrite(
        spark, frag, os.path.join(base, "zorder"), cols=("user_id", "value"),
        target_file_bytes=target,
    )
    n = e.count()
    rows = [
        ("compact", c["files_before"], c["files_after"], c["rows"], c["rows"] == n),
        ("zorder", 24, z["files_after"], z["rows"], z["rows"] == n),
    ]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "op string, files_before int, files_after int, rows long, rows_preserved boolean",
    ).orderBy("op")


@register("xp_audio_features", oracle=None, tags=("parity", "multimodal"))
def p_audio_features(spark, sf_dir):
    """P-class: per-frame audio features over int16 PCM payloads (round
    12 — completes the image/audio/video modality triad). Unlike the
    image/video paths, NOTHING here is stubbed: raw PCM needs no codec,
    so the decode is one np.frombuffer and the RMS-style energy +
    zero-crossing reductions are vectorized integer math — the signals a
    speech-curation pass gates on (silence trimming, noise heuristics).
    1-to-many mapInPandas, bytes never leave their executor; typed
    metadata (mime, sample_rate, n_samples) rides a struct column.
    Rows-only driver check; the planted silence/tone contrast and exact
    energies are pinned in tests/test_sources.py."""
    from ..sources.multimodal import audio_frame_features, make_audio_rows

    df = make_audio_rows(spark, sf_dir, n=32)
    return (
        audio_frame_features(df, frame=128)
        .orderBy("sample_id", "frame_idx")
    )


@register("xp_image_phash", oracle=None, tags=("parity", "multimodal", "dedup"))
def p_image_phash(spark, sf_dir):
    """P-class: perceptual-hash near-duplicate detection over binary
    image payloads (round 12) — the image-side analog of MinHash-LSH
    text dedup: aHash per payload via mapInPandas (locality-preserving
    stubbed decode, sources/multimodal.image_phash), then candidate
    pairs from a banded equi-join on 16-bit hash bands and JVM
    bit_count(xor) verification — never all-pairs. The corpus is the
    64 image rows plus planted lightly-perturbed copies (one byte
    overwritten IN PLACE, fresh ids) which MUST land hamming-close to
    their sources — the same-length requirement mirrors the real
    decoder's domain, where a local edit to a same-dimension image
    moves only the thumbnail cells it touches (a length change is a
    re-crop, not a near-dup); the guarantee plus determinism is pinned
    in tests/test_sources.py.
    Rows-only by design: the stub decoder's byte resample is an
    implementation detail a SQL engine has no business mirroring.
    Scale: map-only hashing; ONE uniform band-key exchange proposes
    candidates; verification touches in-bucket pairs only."""
    from ..sources.multimodal import (
        image_phash,
        make_multimodal_rows,
        phash_neardup_pairs,
    )

    base = make_multimodal_rows(spark, sf_dir, n=64).filter(
        F.col("modality") == "image"
    )
    planted = base.filter(F.col("sample_id") < 8).select(
        (F.col("sample_id") + 1000).alias("sample_id"),
        F.col("modality"),
        F.overlay(
            F.col("content"), F.encode(F.lit("X"), "utf-8"), F.lit(1)
        ).alias("content"),
        F.col("meta"),
    )
    ph = image_phash(base.unionByName(planted))
    return phash_neardup_pairs(ph, max_hamming=6).orderBy("id_a", "id_b")


@register("xp_right_to_erasure", oracle=None, tags=("parity", "snapshots", "privacy"))
def p_right_to_erasure(spark, sf_dir):
    """P-class: GDPR/CCPA right-to-erasure over the versioned snapshot
    layer (round 12) — the deletion workflow a user-keyed lakehouse
    table must support: given erasure requests for a set of user_ids,
    rewrite the current snapshot WITHOUT their rows (one LEFT ANTI join
    against the broadcast request list — a full-scan rewrite, the
    honest cost of physical erasure on immutable storage) and commit it
    as a new version. Emits one verification row per version: total
    rows, rows belonging to the erased users (must hit 0 in the new
    version), and an order-free checksum of every OTHER user's rows
    (must be IDENTICAL across versions — erasure may not disturb
    surviving data). The audit trail is the point of doing this through
    snapshots: the pre-erasure version remains readable until `vacuum`
    ages it out, which is the retention/erasure trade regulators
    actually negotiate (then `vacuum(keep_last=1)` makes the purge
    physical — exercised in tests/test_snapshots semantics).

    Scale: the rewrite is scan -> broadcast ANTI join -> write (no
    shuffle of the fact table); the per-version audit aggregates are
    one pass each."""
    from ..operators.snapshots import read_snapshot, write_snapshot

    base = scratch_dir("erasure")
    t = os.path.join(base, "tbl")
    ev = tbl(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value"
    )
    write_snapshot(ev, t)
    erase = ev.select("user_id").distinct().orderBy("user_id").limit(3)
    erased_ids = [r["user_id"] for r in erase.collect()]
    v2_df = read_snapshot(spark, t, 1).join(
        F.broadcast(erase), "user_id", "left_anti"
    )
    write_snapshot(v2_df, t, mode="overwrite")
    rows = []
    for v in (1, 2):
        snap = read_snapshot(spark, t, v).withColumns(
            {
                "__keep": ~F.col("user_id").isin(erased_ids),
                "__rh": F.xxhash64("event_id", "user_id", "event_type"),
            }
        )
        agg = snap.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("user_id").isin(erased_ids), 1).otherwise(0)
            ).alias("n_erased_users_rows"),
            # XOR fold: order-free like a sum but can't overflow ANSI
            # BIGINT arithmetic; erased rows contribute the identity 0
            F.expr(
                "bit_xor(CASE WHEN __keep THEN __rh ELSE 0L END)"
            ).alias("others_checksum"),
        ).collect()[0]
        rows.append(
            (v, agg["n"], int(agg["n_erased_users_rows"] or 0),
             int(agg["others_checksum"] or 0))
        )
    assert rows[1][2] == 0, "erased users must have zero rows in v2"
    assert rows[0][3] == rows[1][3], "other users' rows must be untouched"
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "version int, n_rows long, n_erased_users_rows long, others_checksum long",
    ).orderBy("version")


@register("xp_snapshot_diff", oracle=None, tags=("parity", "snapshots"))
def p_snapshot_diff(spark, sf_dir):
    """P-class: version-to-version table diff over the snapshot layer
    (round 13) — the audit primitive behind "what changed between
    yesterday's corpus and today's": for each adjacent version pair,
    the exact counts of ADDED, REMOVED and CHANGED rows plus an
    order-free content checksum delta, computed without materializing
    either version anywhere new. v1 is a customer slice, v2 appends a
    disjoint slice (pure adds), v3 overwrites with one row's balance
    restated and one customer dropped (a change + a remove) — so every
    diff class is planted and the emitted numbers are fully
    deterministic; tests assert them exactly.

    Scale: each diff is ONE custkey-partitioned FULL OUTER join of two
    snapshot reads (manifest-planned scans — no directory listing),
    comparing a single xxhash64 row digest; counts aggregate
    partial->final, rows never reach the driver. At 100 TB this is the
    cheap spelling of CDC-between-versions: the join carries (key,
    digest) pairs only after column pruning."""
    from ..operators.snapshots import read_snapshot, write_snapshot

    base = scratch_dir("snapdiff")
    t = os.path.join(base, "tbl")
    c = tbl(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_acctbal"
    )
    v1 = c.filter(F.col("c_custkey") % 3 == 0)
    write_snapshot(v1, t)
    write_snapshot(c.filter(F.col("c_custkey") % 3 == 1), t, mode="append")
    # 1-row metadata probe; empty input (the empty-table sweep) plants
    # nothing and the restatement predicate below is never true
    fr = v1.orderBy("c_custkey").limit(1).select("c_custkey").collect()
    restate_key = fr[0]["c_custkey"] if fr else None
    drop_key = (
        read_snapshot(spark, t, 2)
        .orderBy(F.col("c_custkey").desc())
        .limit(1)
        .select("c_custkey")
    )
    v3 = (
        read_snapshot(spark, t, 2)
        .withColumn(
            "c_acctbal",
            F.when(
                F.col("c_custkey") == F.lit(restate_key).cast("long"),
                F.col("c_acctbal") + 1.0,
            ).otherwise(F.col("c_acctbal")),
        )
        .join(
            F.broadcast(drop_key),  # provably 1-row build side
            "c_custkey",
            "left_anti",  # drop the highest-key customer
        )
    )
    write_snapshot(v3, t, mode="overwrite")

    def digest():
        return F.xxhash64("c_name", F.col("c_acctbal").cast("string"))

    rows = []
    for va, vb in ((1, 2), (2, 3)):
        a = read_snapshot(spark, t, va).select(
            "c_custkey", digest().alias("__ha")
        )
        b = read_snapshot(spark, t, vb).select(
            "c_custkey", digest().alias("__hb")
        )
        d = a.join(b, "c_custkey", "full_outer")
        agg = d.agg(
            F.sum(
                F.when(F.col("__ha").isNull() & F.col("__hb").isNotNull(), 1).otherwise(0)
            ).alias("added"),
            F.sum(
                F.when(F.col("__hb").isNull() & F.col("__ha").isNotNull(), 1).otherwise(0)
            ).alias("removed"),
            F.sum(
                F.when(
                    F.col("__ha").isNotNull()
                    & F.col("__hb").isNotNull()
                    & (F.col("__ha") != F.col("__hb")),
                    1,
                ).otherwise(0)
            ).alias("changed"),
            F.sum(
                F.when(
                    F.col("__ha").isNotNull()
                    & F.col("__hb").isNotNull()
                    & (F.col("__ha") == F.col("__hb")),
                    1,
                ).otherwise(0)
            ).alias("unchanged"),
        ).collect()[0]
        rows.append(
            (
                va,
                vb,
                int(agg["added"] or 0),
                int(agg["removed"] or 0),
                int(agg["changed"] or 0),
                int(agg["unchanged"] or 0),
            )
        )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "v_from int, v_to int, added long, removed long, changed long, "
        "unchanged long",
    ).orderBy("v_from")


@register("xp_csv_malformed", oracle=None, tags=("source", "robustness"))
def xp_csv_malformed(spark, sf_dir):
    """P-class: malformed-CSV ingestion matrix — the robustness contract
    a 100 TB crawl ingest needs spelled as one frame. A CSV with planted
    corruption (wrong arity, unparseable int, embedded quote garbage) is
    read under Spark's three parser modes and the op emits, per mode,
    the surviving row count and (for PERMISSIVE) the count captured in
    the columnNameOfCorruptRecord side channel — so an ingest job can
    assert its malformed-rate budget instead of crashing (FAILFAST's
    raise is asserted in tests/test_sources.py, not here: this frame is
    the *survivable* matrix). Deterministic: the planted file is fixed.

    PINNED PITFALL (the reason this op exists): an uncached
    ``count()`` over a CSV scan takes the no-parse fast path — it
    counts RAW LINES, so DROPMALFORMED "drops" nothing and a malformed-
    rate assert silently passes (measured here: 23 vs the true 20; even
    a column-referencing filter folds away). Both mode counts therefore
    go through cache()+count, which materializes parsed rows — the only
    spelling whose number matches what downstream operators will see.

    Scale shape: the parse matrix is schema-projected scans of the same
    file set — parsing is map-only; each count is one partial->final
    agg; nothing shuffles data rows."""
    import os

    from .base import scratch_dir

    out = scratch_dir("xp_csv_malformed")
    path = os.path.join(out, "rows.csv")
    with open(path, "w") as f:
        f.write("id,qty,name\n")
        for i in range(20):
            f.write(f"{i},{i * 10},item{i}\n")
        f.write("20,not_an_int,bad_qty\n")       # unparseable int
        f.write("21,210\n")                      # wrong arity (short)
        f.write("22,220,extra,field,overflow\n")  # wrong arity (long)
    schema = "id INT, qty INT, name STRING, _corrupt STRING"
    base = (
        spark.read.option("header", "true")
        .option("columnNameOfCorruptRecord", "_corrupt")
    )
    permissive = base.option("mode", "PERMISSIVE").schema(schema).csv(out)
    # one materialized pass: corrupt-row accounting must read the corrupt
    # column in the SAME scan that counts (Spark requires referencing the
    # corrupt column explicitly; counting a cached frame is the documented
    # idiom)
    perm = permissive.cache()
    n_perm = perm.count()
    n_corrupt = perm.where(F.col("_corrupt").isNotNull()).count()
    dropped = (
        base.option("mode", "DROPMALFORMED")
        .schema("id INT, qty INT, name STRING")
        .csv(out)
        .cache()  # force full parsing: uncached count() = raw-line count
    )
    n_dropped = dropped.count()
    perm.unpersist()
    dropped.unpersist()
    rows = [
        ("permissive_rows", n_perm),
        ("permissive_corrupt_rows", n_corrupt),
        ("dropmalformed_rows", n_dropped),
        ("clean_rows", 20),
    ]
    return (
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1), "check string, n long"
        ).orderBy("check")
    )


@register("xp_stream_stream_join", oracle=None, tags=("streaming", "join"))
def xp_stream_stream_join(spark, sf_dir):
    """P-class: stream-stream watermarked interval join end-to-end
    (VERDICT r17 #2) — the events table split by even/odd event_id into
    two time-ordered file replays, consumed as two independent
    watermarked streams and interval-joined on (user_id, r_ts BETWEEN
    l_ts AND l_ts + 5 min): the q21 batch shape as Structured Streaming.
    Returns one summary row: emitted pair count, micro-batch count, and
    whether the pair set equals the batch interval join of the two
    halves (the equivalence bit the driver's rows-only check surfaces;
    tests/test_streaming.py asserts it directly, plus the late-row drop
    case).

    Scale shape: both sides carry a 1 h event-time watermark and the
    join bounds r_ts to a 5-minute range, so the state store holds only
    watermark+range worth of rows per side — bounded state regardless of
    stream length. Each side shuffles once on user_id; late input below
    the watermark is dropped at the source, never joined."""
    from ..streaming import replay_events_split_buckets, stream_interval_join
    from ..tables import load_table

    out = scratch_dir("xp_stream_stream_join")
    # one-shuffle-job split writer (the 100 TB replay shape); 4 state
    # partitions: at test scale 32 state stores per side per micro-batch
    # is pure task overhead (r18 measured 14 -> 7.5 s at sf0.1 for 8;
    # the r19 quiet-host alternating sweep measured stream-phase walls
    # 8: 3.0-3.2 s / 4: 2.7-2.9 s / 2: 2.9 s, so 4 — per-user join state
    # is watermark+range bounded, never partition-count bound)
    left_dir, right_dir = replay_events_split_buckets(spark, sf_dir, out, n_chunks=2)
    e = load_table(spark, sf_dir, "events")
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
    batch = left.join(
        right,
        (F.col("l_user") == F.col("r_user"))
        & (F.col("r_ts") >= F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 5 MINUTES")),
        "inner",
    ).select("l_id", "r_id")
    # ADVICE r18 (low): distinct both sides before the equivalence
    # aggregate so it keeps the old Python-set SEMANTICS — a replayed/
    # duplicated sink pair must neither inflate n_pairs nor escape the
    # mismatch counters. The distinct's exchange is keyed exactly like
    # the join, so it reuses the same partitioning.
    bdist = batch.select("l_id", "r_id").distinct().withColumn("__b", F.lit(1))
    q = stream_interval_join(
        spark, left_dir, right_dir, "xp_ssj_sink", shuffle_partitions=4
    )
    try:
        # r19 (guide §2.6): the batch side of the equivalence check is a
        # pure function of the events table, independent of the stream —
        # materialize it from a second driver thread WHILE the
        # micro-batches run (its tasks back-fill the executor between
        # batch jobs), so the final aggregate pays only the tiny
        # pair-set join. Identical rows: the checkpoint is the same
        # distinct frame the aggregate consumed before.
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(lambda: bdist.localCheckpoint(eager=True))
            q.processAllAvailable()
            n_batches = int((q.lastProgress or {}).get("batchId", -2)) + 1
            # r18 (guide §5): the pair sets stay DISTRIBUTED — the old
            # spelling collected both the sink and the batch join to
            # driver Python sets, which is exactly the driver-
            # materialization shape a 100 TB pair set forbids. ONE
            # full-outer join + aggregate yields pair count and both
            # mismatch directions in a single job.
            got = spark.sql("SELECT l_id, r_id FROM xp_ssj_sink")
            bmat = fut.result()
    finally:
        q.stop()
    stats = (
        got.select("l_id", "r_id").distinct().withColumn("__g", F.lit(1))
        .join(bmat, ["l_id", "r_id"], "full_outer")
        .agg(
            F.coalesce(F.sum("__g"), F.lit(0)).alias("n_pairs"),
            F.coalesce(
                F.sum(F.when(F.col("__g").isNull(), 1)), F.lit(0)
            ).alias("missing"),
            F.coalesce(
                F.sum(F.when(F.col("__b").isNull(), 1)), F.lit(0)
            ).alias("extra"),
        )
        .collect()[0]
    )
    # free the equivalence intermediate's blocks now, not at GC time
    from ..operators.components import release_local_checkpoint

    release_local_checkpoint(bmat)
    rows = [
        (
            int(stats["n_pairs"]),
            n_batches,
            int(stats["missing"]) == 0 and int(stats["extra"]) == 0,
        )
    ]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1),
        "n_pairs long, n_micro_batches long, equals_batch boolean",
    )
