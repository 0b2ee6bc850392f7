"""Window functions (SURVEY §2b Q34-Q40).

Scale notes: every window here partitions by a key (customer/user) — one
hash shuffle, then per-partition sort; no global sort. Frames are explicit
everywhere a default would be ambiguous (last_value's default frame ends at
CURRENT ROW — a classic wrong-answer trap).
"""

from __future__ import annotations

from pyspark.sql import Window as W

from .base import F, cents, dec, ocents, odec, tbl
from .registry import register


@register(
    "q34",
    oracle="""SELECT o_custkey, o_orderkey, o_totalprice,
                     row_number() OVER w AS rn,
                     rank()       OVER w AS rk,
                     dense_rank() OVER w AS drk
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
              ORDER BY o_custkey, rn""",
    tags=("window",),
)
def q34(spark, sf_dir):
    """row_number / rank / dense_rank over (customer, price desc)."""
    o = tbl(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rk"),
            F.dense_rank().over(w).alias("drk"),
        )
        .orderBy("o_custkey", "rn")
    )


_NTILE_ORACLE = """SELECT o_orderkey,
                     ntile(10)      OVER w AS tile,
                     percent_rank() OVER w AS prk,
                     cume_dist()    OVER w AS cd
              FROM orders
              WINDOW w AS (ORDER BY o_totalprice, o_orderkey)
              ORDER BY o_orderkey"""


@register("q35", oracle=_NTILE_ORACLE, tags=("window",))
def q35(spark, sf_dir):
    """ntile / percent_rank / cume_dist with a unique tiebreak — served by
    the SCALABLE plan (VERDICT r5 #2): the naive empty-PARTITION BY window
    form put the whole table in one sorted partition, the one genuine
    scale-killer shape in the suite. The sort key (o_totalprice, o_orderkey)
    is unique, so the range-partitioned rank fix-up below produces values
    identical to the window functions; the oracle is unchanged. The ratio
    functions are single IEEE divisions of exact integers -> bit-identical
    doubles in both engines, emitted raw (no decimal cast, see base.py)."""
    return _ntile_scalable(spark, sf_dir)


@register(
    "xh_ntile_scalable",
    oracle=_NTILE_ORACLE,
    tags=("window", "scale-variant"),
)
def xh_ntile_scalable(spark, sf_dir):
    """q35's semantics WITHOUT the single-partition window (same
    implementation since round 6 — q35 itself now ships this plan; the twin
    is retained so the scale-variant keeps its own driver/bench row).

    Scale plan (SCALE.md 'global rank fix-up'):
    1. range-repartition on the (unique) sort key + in-partition sort;
    2. stamp (partition_id, local_index) ENTIRELY JVM-side via
       monotonically_increasing_id() — its documented layout is partition
       id in the upper bits, a consecutive per-partition counter in the
       lower 33, which is exactly (pid, lidx) for free (the r1-r4 form
       paid a whole-table Arrow mapInPandas round-trip for the same two
       columns — ~2x the query's wall at sf0.1). localCheckpoint pins the
       sampled, RDD-id-seeded range boundaries so both downstream jobs
       see the SAME partitioning;
    3. per-partition counts (<= P rows, driver metadata) -> cumulative
       offsets -> global rank = offset[pid] + local_index + 1;
    4. ntile/percent_rank/cume_dist become pure expressions of (rank, n) —
       identical values to the window functions because the sort key is
       unique (no ties anywhere).
    Every step is a parallel exchange or a metadata aggregate; nothing ever
    sorts in a single partition, and nothing leaves the JVM."""
    return _ntile_scalable(spark, sf_dir)


def _ntile_scalable(spark, sf_dir):
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    parted = o.repartitionByRange(n_parts, "o_totalprice", "o_orderkey").sortWithinPartitions(
        "o_totalprice", "o_orderkey"
    )

    idx = (
        parted.withColumn("mid", F.monotonically_increasing_id())
        .select(
            "o_orderkey",
            "o_totalprice",
            F.shiftright(F.col("mid"), 33).cast("int").alias("pid"),
            (F.col("mid") % F.lit(1 << 33)).alias("lidx"),
        )
        .localCheckpoint()  # pin the sampled range boundaries across jobs
    )

    counts = sorted(
        (r["pid"], r["n"]) for r in idx.groupBy("pid").agg(F.count(F.lit(1)).alias("n")).collect()
    )  # <= n_parts rows: metadata, not data
    n = sum(c for _, c in counts)
    offsets, acc = {}, 0
    for pid, c in counts:
        offsets[pid] = acc
        acc += c
    off_expr = F.element_at(
        F.create_map(*[F.lit(x) for pc in offsets.items() for x in pc]), F.col("pid")
    )
    rank = (off_expr + F.col("lidx") + 1).alias("rank")

    # Spark/DuckDB ntile bucket layout: first n%k buckets get ceil(n/k) rows
    k = 10
    q, m = divmod(n, k)
    r = F.col("rank")
    if q == 0:
        tile = r.cast("int")
    else:
        big = m * (q + 1)
        tile = (
            F.when(r <= big, (r + q) / (q + 1))
            .otherwise(m + (r - big + q - 1) / q)
            .cast("int")
        )
    prk = ((r - 1).cast("double") / F.lit(float(n - 1))).alias("prk") if n > 1 else F.lit(0.0).alias("prk")
    cd = (r.cast("double") / F.lit(float(n))).alias("cd")
    return (
        idx.select("o_orderkey", rank)
        .select("o_orderkey", tile.alias("tile"), prk, cd)
        .orderBy("o_orderkey")
    )


@register(
    "q36",
    oracle="""SELECT event_id, user_id, value,
                     lag(value)  OVER w AS prev_value,
                     lead(value) OVER w AS next_value,
                     lag(value, 2, -1.0) OVER w AS prev2_value
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              ORDER BY event_id""",
    tags=("window",),
)
def q36(spark, sf_dir):
    """lag / lead (with offset + default) per user ordered by event time."""
    e = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "event_id",
            "user_id",
            "value",
            F.lag("value").over(w).alias("prev_value"),
            F.lead("value").over(w).alias("next_value"),
            F.lag("value", 2, -1.0).over(w).alias("prev2_value"),
        )
        .orderBy("event_id")
    )


@register(
    "q37",
    oracle=f"""SELECT event_id, user_id,
                     CAST(SUM({ocents('value')}) OVER (
                        PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running_sum_cents
              FROM events ORDER BY event_id""",
    tags=("window", "frame"),
)
def q37(spark, sf_dir):
    """Running sum (ROWS UNBOUNDED PRECEDING frame) in exact BIGINT cents —
    integer-units rule: DECIMAL output hash-mismatches under the driver's
    pandas serializer (r1/r3 reds)."""
    e = tbl(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents("value")).over(w).alias("running_sum_cents"),
    ).orderBy("event_id")


@register(
    "q38",
    oracle=f"""SELECT event_id, user_id,
                     CAST(SUM({odec('value', 12, 2)}) OVER w AS DOUBLE)
                          / COUNT(value) OVER w AS mavg3
              FROM events
              WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
              ORDER BY event_id""",
    tags=("window", "frame"),
)
def q38(spark, sf_dir):
    """Sliding 3-row moving average: exact decimal window sum -> double ->
    one IEEE division, emitted as raw DOUBLE (bit-stable both engines)."""
    e = tbl(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, W.currentRow)
    return e.select(
        "event_id",
        "user_id",
        (F.sum(dec("value", 12, 2)).over(w).cast("double") / F.count("value").over(w))
        .alias("mavg3"),
    ).orderBy("event_id")


@register(
    "q39",
    oracle=f"""SELECT event_id, user_id,
                     CAST(SUM({ocents('value')}) OVER (
                        PARTITION BY user_id ORDER BY CAST(epoch(date_trunc('second', ts)) AS BIGINT)
                        RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS BIGINT) AS sum_10min_cents
              FROM events ORDER BY event_id""",
    tags=("window", "frame", "range"),
)
def q39(spark, sf_dir):
    """RANGE frame over event-time: per-user sum of the trailing 10 minutes
    in exact BIGINT cents (integer-units rule). Ordered by epoch seconds
    (second-truncated, rule 3) so the numeric RANGE bound means the same
    thing in both engines."""
    e = tbl(spark, sf_dir, "events").withColumn(
        "ts_sec", F.unix_timestamp(F.date_trunc("second", F.col("ts")))
    )
    w = W.partitionBy("user_id").orderBy("ts_sec").rangeBetween(-600, W.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.sum(cents("value")).over(w).alias("sum_10min_cents"),
    ).orderBy("event_id")


@register(
    "q40",
    oracle="""SELECT o_custkey, o_orderkey,
                     first_value(o_orderkey) OVER w AS first_ok,
                     last_value(o_orderkey)  OVER w AS last_ok,
                     nth_value(o_orderkey, 2) OVER w AS second_ok
              FROM orders
              WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
              ORDER BY o_custkey, o_orderkey""",
    tags=("window",),
)
def q40(spark, sf_dir):
    """first/last/nth value with an explicit full-partition frame (the
    default frame would silently make last_value = current row)."""
    o = tbl(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.first("o_orderkey").over(w).alias("first_ok"),
            F.last("o_orderkey").over(w).alias("last_ok"),
            F.nth_value("o_orderkey", 2).over(w).alias("second_ok"),
        )
        .orderBy("o_custkey", "o_orderkey")
    )


@register(
    "xh_scd2_intervals",
    oracle="""WITH r AS (
  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey)
       - ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderstatus
                            ORDER BY o_orderdate, o_orderkey) AS grp
  FROM orders)
SELECT o_custkey, o_orderstatus,
       MIN(o_orderdate) AS valid_from,
       MAX(o_orderdate) AS valid_to,
       COUNT(*) AS n_orders,
       MIN(o_orderkey) AS first_orderkey
FROM r GROUP BY o_custkey, o_orderstatus, grp
ORDER BY o_custkey, valid_from, first_orderkey""",
    tags=("window", "temporal", "scd2"),
)
def xh_scd2_intervals(spark, sf_dir):
    """Slowly-changing-dimension (type 2) interval build via the classic
    gaps-and-islands subtraction: per customer, consecutive orders sharing
    a status collapse into one [valid_from, valid_to] run — the change
    history a dimension table keeps when an attribute flips back and
    forth. Both row_numbers share the o_custkey partition prefix, so
    Spark plans ONE hash exchange on o_custkey with two in-partition
    sorts, then a partial-agg rollup on (custkey, status, grp); no global
    sort until the final output ORDER BY. (first_orderkey is globally
    unique, making the output order total.)"""
    o = tbl(spark, sf_dir, "orders")
    w_all = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    w_st = W.partitionBy("o_custkey", "o_orderstatus").orderBy(
        "o_orderdate", "o_orderkey"
    )
    r = o.select(
        "o_custkey",
        "o_orderstatus",
        "o_orderdate",
        "o_orderkey",
        (F.row_number().over(w_all) - F.row_number().over(w_st)).alias("grp"),
    )
    return (
        r.groupBy("o_custkey", "o_orderstatus", "grp")
        .agg(
            F.min("o_orderdate").alias("valid_from"),
            F.max("o_orderdate").alias("valid_to"),
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_orderkey").alias("first_orderkey"),
        )
        .select(
            "o_custkey", "o_orderstatus", "valid_from", "valid_to",
            "n_orders", "first_orderkey",
        )
        .orderBy("o_custkey", "valid_from", "first_orderkey")
    )
