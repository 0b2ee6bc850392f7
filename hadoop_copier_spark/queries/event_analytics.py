"""Product/time-series analytics over the event and order streams
(round 7, part 3): sequential funnels, cohort retention, OHLC bars,
transition matrices, and RFM segmentation.

The reference's status rollup (m/service/CopyTaskService.java:108-127) is
the only "analytics" it performs; a real analytics engine is expected to
answer the classic event-stream questions too. These five are the
canonical shapes — each one a pattern that composes differently from
anything already in the registry:

* ``xh_event_funnel`` — STRICTLY-ORDERED multi-stage conversion
  (signup, then a click after it, then a purchase after that), reported
  per signup day. Sequential dependence (stage N+1's filter needs stage
  N's timestamp) is expressed as a cascade of per-user min-aggregates
  and re-joins — all keyed on user_id, so every exchange in the chain
  reuses one partitioning.
* ``xh_cohort_retention`` — users bucketed by first-seen ISO week, then
  (cohort, week-offset) activity counts: the retention triangle.
* ``xh_ohlc_bars`` — 15-minute open/high/low/close/volume bars per
  event type: first/last-in-bucket via two row_number windows that share
  ONE (bar, type) exchange with the final aggregate.
* ``xh_event_transitions`` — the Markov from->to event matrix with
  exact-ppm row shares (journey / next-step analysis).
* ``xh_rfm_segments`` — per-market-segment Recency/Frequency/Monetary
  quintile grid over the order history, exact integer rank cuts.

Determinism: timestamps reduce to epoch seconds (BIGINT) after
date_trunc('second') — the q61/q63 idiom — money to integer cents, and
ratios to exact ppm via integer floor division, so every output cell is
serializer-proof and the DuckDB mirrors hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Window as W

from .base import F, cents, tbl
from .registry import register

# Shared second-granularity epoch spelling (q63 precedent): ns-parquet
# timestamps truncate identically in both engines at second granularity.
_SEC_SQL = "CAST(epoch(date_trunc('second', ts)) AS BIGINT)"


def _sec():
    return F.unix_timestamp(F.date_trunc("second", F.col("ts"))).cast("bigint")


@register(
    "xh_event_funnel",
    oracle=f"""WITH e AS (
  SELECT user_id, event_type, {_SEC_SQL} AS sec FROM events
),
ta AS (SELECT user_id, MIN(sec) AS t_a FROM e
       WHERE event_type = 'signup' GROUP BY 1),
tb AS (SELECT e.user_id, MIN(sec) AS t_b FROM e JOIN ta USING (user_id)
       WHERE event_type = 'click' AND sec > t_a GROUP BY 1),
tc AS (SELECT e.user_id, MIN(sec) AS t_c FROM e JOIN tb USING (user_id)
       WHERE event_type = 'purchase' AND sec > t_b GROUP BY 1)
SELECT (t_a // 86400) * 86400 AS signup_day,
       COUNT(*) AS n_signup,
       COUNT(t_b) AS n_click_after,
       COUNT(t_c) AS n_purchase_after,
       (COUNT(t_c) * 1000000) // COUNT(*) AS purchase_ppm
FROM ta LEFT JOIN tb USING (user_id) LEFT JOIN tc USING (user_id)
GROUP BY 1 ORDER BY 1""",
    tags=("events", "funnel", "analytics"),
)
def xh_event_funnel(spark, sf_dir):
    """Strict-sequence conversion funnel: per user, the first signup,
    the first click STRICTLY AFTER it, and the first purchase strictly
    after that — then daily conversion counts plus an exact-ppm
    purchase rate (integer floor division, never a float ratio).
    Order sensitivity is what distinguishes a funnel from three filters:
    a click before the signup does not count.

    Plan (verified by explain): each stage's event_type equality is
    PUSHED TO THE PARQUET SCAN (every branch reads only its own event
    type — at 100 TB with type-partitioned storage that is partition
    pruning), each per-user min is a partial->final aggregate, and the
    stage frames (one row per converting user — dimension-sized, never
    event-sized) attach via BroadcastHashJoin, demoting to a shuffled
    join automatically if the user dimension outgrows the threshold.
    The final rollup stays day-grouped (never a single global row,
    which would plan the forbidden single-partition exchange); daily
    resolution is also what a funnel dashboard actually plots."""
    e = tbl(spark, sf_dir, "events").select(
        "user_id", "event_type", _sec().alias("sec")
    )
    ta = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_a"))
    )
    tb = (
        e.filter(F.col("event_type") == "click")
        .join(ta, "user_id")
        .filter(F.col("sec") > F.col("t_a"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_b"))
    )
    tc = (
        e.filter(F.col("event_type") == "purchase")
        .join(tb, "user_id")
        .filter(F.col("sec") > F.col("t_b"))
        .groupBy("user_id")
        .agg(F.min("sec").alias("t_c"))
    )
    return (
        ta.join(tb, "user_id", "left")
        .join(tc, "user_id", "left")
        .groupBy(
            F.expr("(t_a div 86400) * 86400").alias("signup_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_signup"),
            F.count("t_b").alias("n_click_after"),
            F.count("t_c").alias("n_purchase_after"),
        )
        .withColumn(
            "purchase_ppm",
            F.expr("(n_purchase_after * 1000000) div n_signup"),
        )
        .orderBy("signup_day")
    )


_WEEK_SQL = "CAST(epoch(date_trunc('week', ts)) AS BIGINT)"


def _week():
    return F.unix_timestamp(F.date_trunc("week", F.col("ts"))).cast("bigint")


@register(
    "xh_cohort_retention",
    oracle=f"""WITH e AS (
  SELECT user_id, {_WEEK_SQL} AS wk FROM events
),
first AS (SELECT user_id, MIN(wk) AS cohort_wk FROM e GROUP BY 1),
act AS (SELECT DISTINCT user_id, wk FROM e)
SELECT cohort_wk, (wk - cohort_wk) // 604800 AS week_offset,
       COUNT(*) AS n_users
FROM act JOIN first USING (user_id)
GROUP BY 1, 2 ORDER BY 1, 2""",
    tags=("events", "cohort", "analytics"),
)
def xh_cohort_retention(spark, sf_dir):
    """Cohort retention triangle: users are assigned to the ISO week
    (Monday-truncated in both engines) of their first event; each later
    active week increments that cohort's count at the corresponding
    integer week offset. The week offset is an exact BIGINT subtraction
    and floor division of epoch seconds — both weeks are week-truncated,
    so the division is always exact.

    Plan (pinned in tests/test_plans.py): NO join at all — one user_id
    exchange computes first-seen week AND the distinct active-week set
    (collect_set: a user's distinct weeks are bounded by the corpus's
    week count, so the per-row state is calendar-sized metadata, never
    event-sized) in the same aggregate; exploding that set and
    re-aggregating moves only (users x active-weeks) rows into the
    second, final exchange of (cohorts x offsets) groups. This is the
    weekly-retention dashboard query every growth team runs — and the
    same gaps-and-islands family as xh_scd2_intervals, expressed with
    aggregation instead of windows."""
    e = tbl(spark, sf_dir, "events").select("user_id", _week().alias("wk"))
    per = e.groupBy("user_id").agg(
        F.min("wk").alias("cohort_wk"), F.collect_set("wk").alias("wks")
    )
    return (
        per.select("cohort_wk", F.explode("wks").alias("wk"))
        .groupBy(
            "cohort_wk",
            F.expr("(wk - cohort_wk) div 604800").alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy("cohort_wk", "week_offset")
    )


_BAR_SEC = 900  # 15-minute bars


@register(
    "xh_ohlc_bars",
    oracle=f"""WITH e AS (
  SELECT event_type, event_id, {_SEC_SQL} AS sec,
         CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
b AS (SELECT *, (sec // {_BAR_SEC}) * {_BAR_SEC} AS bar_start FROM e),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY bar_start, event_type
                            ORDER BY sec, event_id) AS ra,
         row_number() OVER (PARTITION BY bar_start, event_type
                            ORDER BY sec DESC, event_id DESC) AS rd
  FROM b
)
SELECT bar_start, event_type,
       MAX(CASE WHEN ra = 1 THEN cents END) AS open_cents,
       MAX(cents) AS high_cents,
       MIN(cents) AS low_cents,
       MAX(CASE WHEN rd = 1 THEN cents END) AS close_cents,
       COUNT(*) AS n_events,
       CAST(SUM(cents) AS BIGINT) AS vol_cents
FROM r GROUP BY 1, 2 ORDER BY 1, 2""",
    tags=("events", "timeseries", "analytics"),
)
def xh_ohlc_bars(spark, sf_dir):
    """OHLC/volume bars: per 15-minute bucket and event type, the
    opening value (earliest by (sec, event_id) — event_id breaks
    same-second ties deterministically), high, low, closing value,
    event count and total — the downsampling shape behind every
    financial/telemetry chart. Values are exact integer cents.

    Plan: the ascending and descending rank windows AND the final
    aggregate all partition on (bar_start, event_type) — one hash
    exchange feeds all three (the xh_outlier_trim shared-exchange
    pattern), each bar sorts only its own bucket's rows, and only
    per-bar rows leave the shuffle. At 100 TB the bar count grows with
    time x types, not with event volume."""
    e = tbl(spark, sf_dir, "events").select(
        "event_type",
        "event_id",
        _sec().alias("sec"),
        cents("value").alias("cents"),
    )
    b = e.withColumn(
        "bar_start", F.expr(f"(sec div {_BAR_SEC}) * {_BAR_SEC}")
    )
    wa = W.partitionBy("bar_start", "event_type").orderBy("sec", "event_id")
    wd = W.partitionBy("bar_start", "event_type").orderBy(
        F.col("sec").desc(), F.col("event_id").desc()
    )
    r = b.withColumn("ra", F.row_number().over(wa)).withColumn(
        "rd", F.row_number().over(wd)
    )
    return (
        r.groupBy("bar_start", "event_type")
        .agg(
            F.max(F.when(F.col("ra") == 1, F.col("cents"))).alias("open_cents"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.max(F.when(F.col("rd") == 1, F.col("cents"))).alias("close_cents"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").cast("bigint").alias("vol_cents"),
        )
        .orderBy("bar_start", "event_type")
    )


@register(
    "xh_event_transitions",
    oracle=f"""WITH e AS (
  SELECT user_id, event_id, event_type, {_SEC_SQL} AS sec FROM events
),
nx AS (
  SELECT event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY sec, event_id) AS to_type
  FROM e
),
c AS (
  SELECT from_type, to_type, COUNT(*) AS n FROM nx
  WHERE to_type IS NOT NULL GROUP BY 1, 2
)
SELECT from_type, to_type, n,
       CAST((n * 1000000) // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
         AS share_ppm
FROM c ORDER BY from_type, to_type""",
    tags=("events", "markov", "analytics"),
)
def xh_event_transitions(spark, sf_dir):
    """Event-transition (Markov) matrix: for every user journey, each
    consecutive (event, next event) pair ordered by (sec, event_id),
    rolled up to from->to counts plus an exact-ppm row share — the
    "where do users go next?" matrix behind journey analysis and
    next-step prediction features.

    Plan: one lead() window partitioned per user (each partition sorts
    only that user's events), a partial->final aggregate down to at most
    |types|^2 rows, and the ppm share computed by a window over THAT
    bounded matrix — the corpus is never touched again. Output size is
    event-vocabulary-squared, independent of event volume."""
    e = tbl(spark, sf_dir, "events").select(
        "user_id", "event_id", "event_type", _sec().alias("sec")
    )
    wu = W.partitionBy("user_id").orderBy("sec", "event_id")
    nx = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(wu).alias("to_type"),
    )
    c = (
        nx.filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wf = W.partitionBy("from_type")
    return (
        c.withColumn("tot", F.sum("n").over(wf))
        .withColumn("share_ppm", F.expr("(n * 1000000) div tot"))
        .select("from_type", "to_type", "n", "share_ppm")
        .orderBy("from_type", "to_type")
    )


@register(
    "xh_rfm_segments",
    oracle="""WITH per AS (
  SELECT o_custkey AS custkey,
         MAX(CAST(epoch(o_orderdate) AS BIGINT)) AS last_sec,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY 1
),
j AS (
  SELECT per.*, c.c_mktsegment AS segment
  FROM per JOIN customer c ON per.custkey = c.c_custkey
),
r AS (
  SELECT *,
         row_number() OVER (PARTITION BY segment
                            ORDER BY last_sec DESC, custkey) AS rr,
         row_number() OVER (PARTITION BY segment
                            ORDER BY n_orders DESC, custkey) AS rf,
         row_number() OVER (PARTITION BY segment
                            ORDER BY monetary_cents DESC, custkey) AS rm,
         COUNT(*) OVER (PARTITION BY segment) AS seg_n
  FROM j
)
SELECT segment,
       ((rr - 1) * 5) // seg_n + 1 AS r_score,
       ((rf - 1) * 5) // seg_n + 1 AS f_score,
       ((rm - 1) * 5) // seg_n + 1 AS m_score,
       COUNT(*) AS n_customers,
       CAST(SUM(monetary_cents) AS BIGINT) AS sum_monetary_cents
FROM r GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""",
    tags=("orders", "rfm", "analytics"),
)
def xh_rfm_segments(spark, sf_dir):
    """RFM customer segmentation: per market segment, every customer is
    scored 1 (best quintile) to 5 on Recency (last order date),
    Frequency (order count) and Monetary (lifetime cents), and the
    625-cell-max (segment, R, F, M) grid reports customer counts and
    value — the marketing-segmentation workhorse. Quintiles are EXACT
    integer rank cuts (((rank-1)*5) div n + 1) with custkey tiebreaks,
    never float percentiles — the xh_outlier_trim discipline, so the
    grid is engine- and rerun-stable.

    Plan: the per-customer profile is one partial->final aggregate over
    orders; the three rank windows and the segment count all share ONE
    segment hash exchange (ranking sorts the CUSTOMER DIMENSION within
    each segment, never the orders fact), and the final grid aggregate
    keys on a superset of the segment key so it reuses that exchange
    too. Only the bounded grid leaves the executors."""
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    per = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max(F.unix_timestamp("o_orderdate").cast("bigint")).alias("last_sec"),
        F.count(F.lit(1)).alias("n_orders"),
        # DECIMAL(38,0) internal accumulation (the q24/ADVICE r5 rule):
        # a plain long sum would silently wrap past 2^63; DuckDB's side
        # is already exact HUGEINT.
        F.sum(cents("o_totalprice").cast("decimal(38,0)"))
        .cast("bigint")
        .alias("monetary_cents"),
    )
    j = per.join(
        c.select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_mktsegment").alias("segment"),
        ),
        "custkey",
    )
    rr = W.partitionBy("segment").orderBy(F.col("last_sec").desc(), "custkey")
    rf = W.partitionBy("segment").orderBy(F.col("n_orders").desc(), "custkey")
    rm = W.partitionBy("segment").orderBy(
        F.col("monetary_cents").desc(), "custkey"
    )
    r = (
        j.withColumn("rr", F.row_number().over(rr))
        .withColumn("rf", F.row_number().over(rf))
        .withColumn("rm", F.row_number().over(rm))
        .withColumn("seg_n", F.count(F.lit(1)).over(W.partitionBy("segment")))
    )
    return (
        r.groupBy(
            "segment",
            F.expr("((rr - 1) * 5) div seg_n + 1").alias("r_score"),
            F.expr("((rf - 1) * 5) div seg_n + 1").alias("f_score"),
            F.expr("((rm - 1) * 5) div seg_n + 1").alias("m_score"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("monetary_cents").cast("decimal(38,0)"))
            .cast("bigint")
            .alias("sum_monetary_cents"),
        )
        .orderBy("segment", "r_score", "f_score", "m_score")
    )


# ---------------------------------------------------------------------------
# Time-series subsequence similarity search (z-normalized, distributed)
# ---------------------------------------------------------------------------

_SSQ_M = 8  # subsequence length (power of two => /8.0 is IEEE-exact)
_SSQ_Q = (0, 0, 100, 400, 400, 100, 0, 0)  # query shape: a value spike, cents
_SSQ_TOP = 20

# z-normalized query embedded as repr() literals: Python's float repr
# round-trips, and decimal literal parsing is correctly rounded in both
# engines, so the constants are bit-identical everywhere. sqrt is IEEE
# correctly-rounded, so computing them here (not in-engine) changes
# nothing.
import math as _math

_ssq_mu = sum(_SSQ_Q) / 8.0
_ssq_sd = _math.sqrt(sum((x - _ssq_mu) ** 2 for x in _SSQ_Q) / 8.0)
_SSQ_QZ = tuple((x - _ssq_mu) / _ssq_sd for x in _SSQ_Q)

_ssq_vs = [f"v{i}" for i in range(_SSQ_M)]
_SSQ_SUM = " + ".join(_ssq_vs)
_SSQ_VAR = " + ".join(f"({v} - mu) * ({v} - mu)" for v in _ssq_vs)
_SSQ_DIST = " + ".join(
    f"(({v} - mu) / sd - ({_SSQ_QZ[i]!r})) * (({v} - mu) / sd - ({_SSQ_QZ[i]!r}))"
    for i, v in enumerate(_ssq_vs)
)
_SSQ_LEADS = ",\n         ".join(
    ["v AS v0"]
    + [f"lead(v, {i}) OVER win AS v{i}" for i in range(1, _SSQ_M)]
)


# Shared by xh_subseq_search and its round-18 skew-bounded twin
# xh_subseq_blocked: both compute the SAME top-20, so both hash-check
# against this one brute-per-user-window oracle.
_SSQ_ORACLE = f"""WITH e AS (
  SELECT user_id, event_id, ts, CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS v
  FROM events WHERE value IS NOT NULL
),
w AS (
  SELECT user_id, event_id,
         {_SSQ_LEADS}
  FROM e WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
),
m AS (
  SELECT *, CAST({_SSQ_SUM} AS DOUBLE) / 8.0 AS mu
  FROM w WHERE v{_SSQ_M - 1} IS NOT NULL
),
s AS (SELECT *, sqrt(({_SSQ_VAR}) / 8.0) AS sd FROM m),
d AS (
  SELECT user_id, event_id, {_SSQ_DIST} AS dist
  FROM s WHERE sd > 0.0
)
SELECT user_id, event_id,
       CAST(FLOOR(dist * 1000000.0 + 0.5) AS BIGINT) AS dist_u6
FROM d ORDER BY dist_u6, user_id, event_id LIMIT {_SSQ_TOP}"""


@register(
    "xh_subseq_search",
    oracle=_SSQ_ORACLE,
    tags=("events", "timeseries", "similarity"),
)
def xh_subseq_search(spark, sf_dir):
    """Distributed time-series subsequence similarity search (the
    REPOSE/Odyssey problem family, reduced to its scalable core): find
    the top-20 length-8 windows of any user's value series
    closest to a query shape under z-NORMALIZED Euclidean distance — the
    standard measure (UCR suite) because it matches shape irrespective
    of each window's own level and amplitude.

    Determinism: every operation in the distance is deterministic IEEE
    arithmetic — integer cents (exact), sums of 8 small ints (exact),
    /8.0 (exact: power-of-two divisor), subtract/multiply (correctly
    rounded, fixed left-assoc order mirrored in the oracle), sqrt
    (correctly rounded per IEEE-754) — NO libm transcendental anywhere,
    so the distance is BIT-identical across engines and the quantized
    BIGINT output cannot straddle a boundary. Constant windows (sd = 0,
    z-norm undefined) are excluded on both sides.

    Scale shape: the 8 lead() columns share ONE per-user window
    spec — a single hash exchange on user_id, each user's series sorted
    independently (never a global sort); the distance is pure map-side
    Column arithmetic and the result is a TakeOrdered top-20 (both
    constants pinned next to _SSQ_M/_SSQ_TOP above).
    A longer query or a dictionary of queries changes the projection
    width, not the plan shape."""
    e = tbl(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    win = W.partitionBy("user_id").orderBy("ts", "event_id")
    v = cents("value")
    cols = [v.alias("v0")] + [
        F.lead(v, i).over(win).alias(f"v{i}") for i in range(1, _SSQ_M)
    ]
    w = e.select("user_id", "event_id", *cols).filter(
        F.col(f"v{_SSQ_M - 1}").isNotNull()
    )
    return _ssq_distance_topk(w)


def _ssq_distance_topk(w):
    """The z-normalized distance + global top-k tail shared by
    xh_subseq_search and xh_subseq_blocked: input is any frame with
    (user_id, event_id, v0..v{m-1}) — one row per candidate window —
    and every arithmetic op is the deterministic IEEE sequence the
    docstring pins (mirrored in _SSQ_ORACLE)."""
    total = F.col("v0")
    for i in range(1, _SSQ_M):
        total = total + F.col(f"v{i}")
    m = w.withColumn("mu", total.cast("double") / F.lit(8.0))
    var = None
    for i in range(_SSQ_M):
        t = (F.col(f"v{i}") - F.col("mu")) * (F.col(f"v{i}") - F.col("mu"))
        var = t if var is None else var + t
    s = m.withColumn("sd", F.sqrt(var / F.lit(8.0))).filter(F.col("sd") > 0.0)
    dist = None
    for i in range(_SSQ_M):
        z = (F.col(f"v{i}") - F.col("mu")) / F.col("sd") - F.lit(_SSQ_QZ[i])
        t = z * z
        dist = t if dist is None else dist + t
    return (
        s.select(
            "user_id",
            "event_id",
            F.floor(dist * F.lit(1000000.0) + F.lit(0.5))
            .cast("bigint")
            .alias("dist_u6"),
        )
        .orderBy("dist_u6", "user_id", "event_id")
        .limit(_SSQ_TOP)
    )


def _ssq_blocked_windows(e, block_span_sec: int, block_rows: int):
    """Candidate length-m windows via OVERLAPPED ROW-BLOCKING — the
    skew mitigation xh_subseq_search's docstring promised at extreme
    single-user scale (round 18; SCALE.md's former documented-not-
    implemented item). No task ever sorts one user's whole series:

    1. time-block: tb = epoch_sec div block_span_sec. Per-(user, tb)
       row counts are one bounded aggregate; a per-user running sum
       over tb (a window over BLOCK COUNTS, ~series_span/span rows per
       user, never over events) yields each block's global offset.
    2. exact global sequence index: grn = offset + row_number within
       (user, tb) — the per-partition sort is bounded by the max event
       count in one (user, time-block), i.e. peak rate x span: the
       physical-sort knob.
    3. re-block by ROW: rb = (grn-1) div block_rows, and the first m-1
       rows of each row-block are DUPLICATED into the previous block
       (flagged). Every m-row consecutive run starts in some block and
       extends at most m-1 rows past its end, so it lies entirely in
       that block's augmented set — requires block_rows >= m-1
       (asserted). Blocks are exactly block_rows + m-1 rows: the
       window-compute knob, independent of time distribution.
    4. lead() within (user, rb) ordered by grn; windows STARTING on a
       duplicated overlap row are dropped (their originals start the
       same window in the next block) — each window emitted exactly
       once.

    Output rows are identical to the plain per-user window path; only
    the physical partitioning differs."""
    assert block_rows >= _SSQ_M - 1, "overlap cannot span >1 block"
    v = cents("value")
    base = e.select(
        "user_id",
        "event_id",
        "ts",
        F.col("ts").cast("long").alias("es"),
        v.alias("v"),
    ).withColumn("tb", (F.col("es") / F.lit(block_span_sec)).cast("long"))
    cnt = base.groupBy("user_id", "tb").agg(F.count(F.lit(1)).alias("c"))
    off_w = (
        W.partitionBy("user_id")
        .orderBy("tb")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offs = cnt.select(
        "user_id", "tb", F.coalesce(F.sum("c").over(off_w), F.lit(0)).alias("off")
    )
    # join + row_number share the (user_id, tb) hash exchange
    ranked = (
        base.join(offs, ["user_id", "tb"])
        .withColumn(
            "grn",
            F.col("off")
            + F.row_number().over(
                W.partitionBy("user_id", "tb").orderBy("ts", "event_id")
            ),
        )
        .select("user_id", "event_id", "v", "grn")
    )
    # one-pass block assignment via explode (a union of two filtered
    # selects would re-execute the whole ranking pipeline per branch):
    # every row owns its block; the first m-1 rows of each block are
    # ALSO emitted into the previous block with own=false
    rb = ((F.col("grn") - 1) / F.lit(block_rows)).cast("long")
    own_entry = F.struct(rb.alias("rb"), F.lit(True).alias("own"))
    head_entry = F.struct((rb - 1).alias("rb"), F.lit(False).alias("own"))
    is_head = ((F.col("grn") - 1) % F.lit(block_rows) < _SSQ_M - 1) & (rb > 0)
    aug = ranked.select(
        "user_id",
        "event_id",
        "v",
        "grn",
        F.explode(
            F.when(is_head, F.array(own_entry, head_entry)).otherwise(
                F.array(own_entry)
            )
        ).alias("__a"),
    ).select(
        "user_id", "event_id", "v", "grn",
        F.col("__a.rb").alias("rb"), F.col("__a.own").alias("own"),
    )
    bwin = W.partitionBy("user_id", "rb").orderBy("grn")
    cols = [F.col("v").alias("v0")] + [
        F.lead("v", i).over(bwin).alias(f"v{i}") for i in range(1, _SSQ_M)
    ]
    return (
        aug.select("user_id", "event_id", "own", *cols)
        .filter(F.col("own") & F.col(f"v{_SSQ_M - 1}").isNotNull())
        .drop("own")
    )


@register(
    "xh_subseq_blocked",
    oracle=_SSQ_ORACLE,
    tags=("events", "timeseries", "similarity", "skew"),
)
def xh_subseq_blocked(spark, sf_dir):
    """Skew-bounded twin of xh_subseq_search (round 18): the SAME
    top-20 z-normalized subsequence matches — same oracle, hash-checked
    — computed with overlapped row-blocking (_ssq_blocked_windows)
    instead of one window partition per user, so NO task ever holds a
    whole user's series. xh_subseq_search's per-user window puts each
    series in one task (windows are not AQE-splittable): fine when
    users are uniform, a straggler when one user owns millions of
    events. Here the largest partition is bounded by
    min(peak-rate x block_span_sec, block_rows + m-1) regardless of
    how big any single series grows — measured on a planted hot-user
    corpus (the per-user-window plan's straggler task vs this plan's
    bounded tasks). The cost of the bound: one extra bounded aggregate + a
    (m-1)/block_rows row duplication (~0.01% at the default 65,536).

    Exactness argument: global per-user sequence indexes are
    reconstructed from per-block offsets (distributed two-phase
    ranking), every m-row run lies fully inside one augmented block
    (the m-1 overlap), and duplicate window starts are dropped by the
    ownership flag — so the candidate window SET, and therefore the
    IEEE distance arithmetic and the top-20, is row-identical to the
    plain path (pinned exact-equality in tests/test_event_analytics.py
    down to block_rows=8 boundary crossings)."""
    e = tbl(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return _ssq_distance_topk(
        _ssq_blocked_windows(e, block_span_sec=86400, block_rows=65536)
    )


# ---------------------------------------------------------------------------
# Exponential time-decay aggregates (round 12)
# ---------------------------------------------------------------------------

_DECAY_MAX_AGE = 30  # days; weight = 2^-(age) halving daily, floor at 2^-30


@register(
    "xh_decayed_counts",
    oracle=f"""WITH e AS MATERIALIZED (
  SELECT event_type,
         LEAST(date_diff('day', CAST(ts AS DATE),
                         (SELECT MAX(CAST(ts AS DATE)) FROM events)),
               {_DECAY_MAX_AGE}) AS age
  FROM events)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(1::BIGINT << ({_DECAY_MAX_AGE} - age)) AS BIGINT)
         AS decayed_units,
       CAST(SUM(1::BIGINT << ({_DECAY_MAX_AGE} - age))
            // (1::BIGINT << {_DECAY_MAX_AGE}) AS BIGINT) AS effective_n
FROM e GROUP BY event_type ORDER BY event_type""",
    tags=("events", "decay", "oracle-twin"),
)
def xh_decayed_counts(spark, sf_dir):
    """Exponentially time-decayed event counts (round 12) — the
    freshness-weighted popularity signal (one-day half-life): each event
    contributes 2^-age_days, so yesterday's event counts half of
    today's. The decay weight is an EXACT binary fraction held in BIGINT
    units of 2^-30 (a bit shift, not pow()), so the sum is order-free
    and hash-checks — the float spelling exp(-age*ln2) would be libm-
    divergent AND accumulation-order-dependent. Ages cap at 30 days
    (the unit floor: older events still count one unit, which keeps the
    weight total exact rather than silently dropping the tail);
    ``effective_n`` is the decayed total expressed in whole fresh-event
    equivalents (truncating shift — both engines' integer division
    truncates toward zero on these non-negative values).

    Scale shape: the reference day is an O(1) driver scalar (one MAX);
    weights are bit shifts inside whole-stage codegen; the only exchange
    is ONE uniform event_type partial agg — partial sums combine
    map-side, so the exchange carries event-type cardinality, not event
    rows. BIGINT headroom: 2^30 units x up to ~2^33 rows per type; at
    larger per-type row counts lower the unit scale (documented knob)."""
    ev = tbl(spark, sf_dir, "events")
    ref_day = ev.agg(F.max(F.to_date("ts")).alias("d")).collect()[0]["d"]
    e = ev.select(
        "event_type",
        F.least(
            F.datediff(F.lit(ref_day), F.to_date("ts")),
            F.lit(_DECAY_MAX_AGE),
        ).alias("age"),
    )
    return (
        e.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.expr(
                f"CAST(SUM(shiftleft(1L, {_DECAY_MAX_AGE} - age)) AS BIGINT)"
            ).alias("decayed_units"),
            F.expr(
                f"CAST(SUM(shiftleft(1L, {_DECAY_MAX_AGE} - age))"
                f"     div shiftleft(1L, {_DECAY_MAX_AGE}) AS BIGINT)"
            ).alias("effective_n"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# k-anonymity audit (round 12)
# ---------------------------------------------------------------------------

_KANON_K = 5  # each quasi-identifier class must cover >= k distinct users


@register(
    "xh_k_anonymity",
    oracle=f"""WITH cls AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COUNT(*) AS n_rows,
         COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY event_type, CAST(ts AS DATE))
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN n_users < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating,
       CAST(SUM(CASE WHEN n_users < {_KANON_K} THEN n_users ELSE 0 END)
            AS BIGINT) AS users_at_risk,
       CAST(SUM(CASE WHEN n_users < {_KANON_K} THEN n_rows ELSE 0 END)
            AS BIGINT) AS rows_at_risk,
       CAST(MIN(n_users) AS BIGINT) AS min_class_users
FROM cls GROUP BY event_type ORDER BY event_type""",
    tags=("events", "privacy", "oracle-twin"),
)
def xh_k_anonymity(spark, sf_dir):
    """k-anonymity audit (round 12) — the release-gate privacy check a
    pipeline runs before an event log (or any user-keyed slice of a
    training corpus) leaves the curated zone: group the stream by its
    quasi-identifier combination (event_type, day) and flag every
    equivalence class observed for FEWER than k=5 distinct users — rows
    in such a class re-identify their users by the QI alone (Sweeney's
    k-anonymity model). Emits the per-event-type audit summary: class
    count, violating-class count, distinct users and raw rows at risk,
    and the worst (minimum) class width. All exact integers.

    Scale shape: the exact distinct-user count per class is one
    two-phase exchange on ((event_type, day), user_id) — Spark's
    partial-distinct expansion combines map-side, so the exchange
    carries near-class-cardinality, not event rows; the per-type rollup
    then reduces class-cardinality rows. Nothing is corpus-quadratic
    and nothing collects."""
    cls = (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("user_id").alias("n_users"),
        )
    )
    k = F.lit(_KANON_K)
    return (
        cls.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(F.col("n_users") < k, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.sum(F.when(F.col("n_users") < k, F.col("n_users")).otherwise(0))
            .cast("long")
            .alias("users_at_risk"),
            F.sum(F.when(F.col("n_users") < k, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
            F.min("n_users").cast("long").alias("min_class_users"),
        )
        .orderBy("event_type")
    )


_LDIV_L = 3  # each QI class needs >= l distinct sensitive values


@register(
    "xh_l_diversity",
    oracle=f"""WITH cls AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COUNT(*) AS n_rows,
         COUNT(DISTINCT json_extract_string(props, '$.k')) AS n_sensitive
  FROM events GROUP BY event_type, CAST(ts AS DATE))
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN n_sensitive < {_LDIV_L} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violating,
       CAST(SUM(CASE WHEN n_sensitive < {_LDIV_L} THEN n_rows ELSE 0 END)
            AS BIGINT) AS rows_at_risk,
       CAST(MIN(n_sensitive) AS BIGINT) AS min_diversity
FROM cls GROUP BY event_type ORDER BY event_type""",
    tags=("events", "privacy", "oracle-twin"),
)
def xh_l_diversity(spark, sf_dir):
    """l-diversity audit (round 13) — k-anonymity's necessary
    complement (Machanavajjhala et al.): a class can cover k distinct
    users yet still leak if they all share one SENSITIVE value
    (homogeneity attack). Groups events by the same quasi-identifier
    (event_type, day) and flags classes whose sensitive attribute
    (props.k, parsed identically by both engines' JSON extractors)
    shows fewer than l=3 distinct values; per-type summary mirrors
    xh_k_anonymity's audit columns so the two gates read side-by-side.

    Scale shape: identical to xh_k_anonymity — ONE two-phase
    ((event_type, day), sensitive) distinct exchange carrying
    near-class-cardinality rows, then a class-cardinality rollup;
    the JSON parse is whole-stage-codegen, no UDF."""
    cls = (
        tbl(spark, sf_dir, "events")
        .groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(
                F.get_json_object("props", "$.k")
            ).alias("n_sensitive"),
        )
    )
    lthr = F.lit(_LDIV_L)
    return (
        cls.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(F.col("n_sensitive") < lthr, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.sum(
                F.when(F.col("n_sensitive") < lthr, F.col("n_rows")).otherwise(0)
            )
            .cast("long")
            .alias("rows_at_risk"),
            F.min("n_sensitive").cast("long").alias("min_diversity"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# t-closeness: the third leg of the privacy-release triad (round 13)
# ---------------------------------------------------------------------------

_TCLOSE_T_PPM = 300_000  # flag classes whose sensitive-value TVD > 0.30


@register(
    "xh_t_closeness",
    oracle=f"""WITH cell AS MATERIALIZED (
  SELECT event_type, CAST(ts AS DATE) AS day,
         COALESCE(json_extract_string(props, '$.k'), '__missing__') AS sv,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2, 3),
cls AS MATERIALIZED (
  SELECT event_type, day, CAST(SUM(c) AS BIGINT) AS n_cls
  FROM cell GROUP BY event_type, day),
gl AS MATERIALIZED (
  SELECT sv, CAST(SUM(c) AS BIGINT) AS g FROM cell GROUP BY sv),
tot AS (SELECT CAST(SUM(g) AS BIGINT) AS n_tot FROM gl),
gp AS MATERIALIZED (
  SELECT sv, CAST((g * 1000000) // n_tot AS BIGINT) AS g_ppm
  FROM gl, tot),
gs AS (SELECT CAST(SUM(g_ppm) AS BIGINT) AS g_total_ppm FROM gp),
tv AS (
  SELECT cell.event_type, cell.day, MAX(cls.n_cls) AS n_cls,
         CAST((SUM(ABS((cell.c * 1000000) // cls.n_cls - gp.g_ppm)
                   - gp.g_ppm)
               + MAX(gs.g_total_ppm)) // 2 AS BIGINT) AS tvd_ppm
  FROM cell
  JOIN cls ON cls.event_type = cell.event_type AND cls.day = cell.day
  JOIN gp ON gp.sv = cell.sv, gs
  GROUP BY cell.event_type, cell.day)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_classes,
       CAST(SUM(CASE WHEN tvd_ppm > {_TCLOSE_T_PPM} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_violating,
       CAST(SUM(CASE WHEN tvd_ppm > {_TCLOSE_T_PPM} THEN n_cls ELSE 0 END)
            AS BIGINT) AS rows_at_risk,
       CAST(MAX(tvd_ppm) AS BIGINT) AS max_tvd_ppm
FROM tv GROUP BY event_type ORDER BY event_type""",
    tags=("events", "privacy", "oracle-twin"),
)
def xh_t_closeness(spark, sf_dir):
    """t-closeness audit (round 13) — completes the privacy-release
    triad (Li/Li/Venkatasubramanian): a class can be k-anonymous AND
    l-diverse yet still leak when its sensitive-value DISTRIBUTION
    diverges from the table's (skewness attack: 2 distinct values at a
    99/1 split passes l=2 but reveals the majority value with near
    certainty). Per quasi-identifier class (event_type, day), the
    total-variation distance between the class's sensitive distribution
    (props.k, both engines' JSON extractors) and the global one, in
    truncating ppm; classes past t = 0.30 are flagged. Per-type audit
    summary mirrors xh_k_anonymity / xh_l_diversity so the three gates
    read side-by-side.

    Zero cells are ALGEBRAIC (the xh_token_burstiness discipline): a
    sensitive value absent from a class contributes its global share
    g_ppm to the TVD, and
    sum_all(g_ppm) - sum_in_class(g_ppm) + sum_in_class|c_ppm - g_ppm|
    = 2*TVD needs only the class's OWN cells — no dense
    (class x sensitive-domain) grid ever exists on either engine.

    Scale shape: ONE ((event_type, day), sv) uniform partial agg builds
    the cell frame (checkpointed once, read three times); the class and
    global rollups reduce it; the probe joins are class-keyed and
    sv-keyed onto domain-bounded frames; the two global scalars attach
    as provably-1-row broadcasts (the heavy_hitters shape). All
    arithmetic is exact BIGINT ppm."""
    ev = tbl(spark, sf_dir, "events").select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.coalesce(
            F.get_json_object("props", "$.k"), F.lit("__missing__")
        ).alias("sv"),
    )
    cell = (
        ev.groupBy("event_type", "day", "sv")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    cls = cell.groupBy("event_type", "day").agg(
        F.sum("c").cast("long").alias("n_cls")
    )
    gl = cell.groupBy("sv").agg(F.sum("c").cast("long").alias("g"))
    ntot = gl.agg(F.sum("g").cast("long").alias("n_tot"))
    gp = gl.crossJoin(F.broadcast(ntot)).select(
        "sv", F.expr("CAST((g * 1000000) div n_tot AS BIGINT)").alias("g_ppm")
    )
    gtot = gp.agg(F.sum("g_ppm").cast("long").alias("g_total_ppm"))
    tv = (
        cell.join(cls, ["event_type", "day"])
        .join(gp, "sv")
        .crossJoin(F.broadcast(gtot))
        .groupBy("event_type", "day")
        .agg(
            F.max("n_cls").alias("n_cls"),
            F.expr(
                "CAST((SUM(ABS((c * 1000000) div n_cls - g_ppm) - g_ppm)"
                " + MAX(g_total_ppm)) div 2 AS BIGINT)"
            ).alias("tvd_ppm"),
        )
    )
    t = F.lit(_TCLOSE_T_PPM)
    return (
        tv.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(F.when(F.col("tvd_ppm") > t, 1).otherwise(0))
            .cast("long")
            .alias("n_violating"),
            F.sum(F.when(F.col("tvd_ppm") > t, F.col("n_cls")).otherwise(0))
            .cast("long")
            .alias("rows_at_risk"),
            F.max("tvd_ppm").cast("long").alias("max_tvd_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Daily-count autocorrelation: the seasonality read (round 13)
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 7  # one week of calendar lags


@register(
    "xh_autocorr_daily",
    oracle=f"""WITH daily AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
pairs AS (
  SELECT CAST(l.lag AS BIGINT) AS lag, a.c AS x, b.c AS y
  FROM daily a
  CROSS JOIN generate_series(1, {_ACF_MAX_LAG}) l(lag)
  JOIN daily b ON b.day = a.day + CAST(l.lag AS INTEGER)),
m AS (
  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM pairs GROUP BY lag),
d AS (
  SELECT lag, n_pairs, sx, sy, sxy, sxx, syy,
         CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS num,
         (CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) AS den
  FROM m)
SELECT lag, n_pairs, sx, sy, sxy, sxx, syy,
       CASE WHEN den > 0 THEN num / SQRT(den) ELSE NULL END AS acf
FROM d ORDER BY lag""",
    tags=("events", "stats", "oracle-twin"),
)
def xh_autocorr_daily(spark, sf_dir):
    """Daily-count autocorrelation at calendar lags 1..7 (round 13) —
    the seasonality read an ingest pipeline runs before trusting any
    per-day drift alarm (xh_kl_source_drift, xh_embed_centroid_drift):
    a strong lag-7 peak says weekly cycle, so day-over-day comparisons
    must be same-weekday; a high lag-1 says momentum, so spike alarms
    need detrending. Pairs are matched by CALENDAR day (day + lag
    exists), not series index, so date gaps drop pairs instead of
    silently splicing non-adjacent days. Emits the exact BIGINT moment
    sums plus Pearson r per lag.

    Determinism: the moments are exact integers; r is a mirrored IEEE
    tree over them (cast-to-double, multiply, subtract, sqrt, divide —
    every step correctly rounded per IEEE-754 in both engines, the
    queries/base.py ratio discipline), so the doubles hash identically.
    Integer headroom: the BIGINT moment sums are exact up to ~3e9
    events/day (sxx <= days * c^2 <= 9.2e18); past that the op needs
    the probe-gated DECIMAL promotion (the xh_market_basket knob).

    Scale shape: the daily frame is date-cardinality (domain-bounded —
    ~36.5k rows per century at ANY corpus size); the lag fan-out is a
    row-local explode(sequence(1,7)); the pair match is one day-keyed
    equi join of two date-cardinality frames; moments fold
    partial->final in one uniform agg. Nothing is corpus-sized past
    the first partial count."""
    daily = (
        tbl(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=False)
    )
    a = (
        daily.select(F.col("day"), F.col("c").alias("x"))
        .withColumn(
            "lag", F.explode(F.sequence(F.lit(1), F.lit(_ACF_MAX_LAG)))
        )
        .withColumn("lag", F.col("lag").cast("long"))
        .withColumn("tday", F.expr("date_add(day, CAST(lag AS INT))"))
    )
    b = daily.select(F.col("day").alias("tday"), F.col("c").alias("y"))
    m = (
        a.join(b, "tday")
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("x").cast("long").alias("sx"),
            F.sum("y").cast("long").alias("sy"),
            F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
            F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
            F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        )
    )
    d = m.select(
        "lag", "n_pairs", "sx", "sy", "sxy", "sxx", "syy",
        F.expr(
            "CAST(n_pairs AS DOUBLE) * CAST(sxy AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
        ).alias("num"),
        F.expr(
            "(CAST(n_pairs AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " * (CAST(n_pairs AS DOUBLE) * CAST(syy AS DOUBLE)"
            " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))"
        ).alias("den"),
    )
    return d.select(
        "lag", "n_pairs", "sx", "sy", "sxy", "sxx", "syy",
        F.expr(
            "CASE WHEN den > 0 THEN num / SQRT(den) ELSE NULL END"
        ).alias("acf"),
    ).orderBy("lag")


# ---------------------------------------------------------------------------
# CUSUM changepoint scan over the daily series (round 13, late)
# ---------------------------------------------------------------------------

_CUSUM_TOPK = 5


@register(
    "xh_cusum_changepoint",
    oracle=f"""WITH daily AS MATERIALIZED (
  SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
               CAST(SUM(c) AS BIGINT) AS t FROM daily),
dev AS (SELECT day, c,
               (SELECT n_days FROM tot) * c - (SELECT t FROM tot) AS d
        FROM daily),
s AS (SELECT day, c,
             CAST(SUM(d) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS cusum_scaled
      FROM dev)
SELECT day, c, cusum_scaled,
       (SELECT n_days FROM tot) AS n_days,
       (SELECT t FROM tot) AS total_events
FROM s ORDER BY ABS(cusum_scaled) DESC, day LIMIT {_CUSUM_TOPK}""",
    tags=("events", "stats", "oracle-twin"),
)
def xh_cusum_changepoint(spark, sf_dir):
    """CUSUM changepoint scan (round 13) — the level-shift detector
    that complements xh_autocorr_daily's seasonality read: the running
    sum of per-day deviations from the global mean peaks (in absolute
    value) exactly where the series' level changes (Page's cumulative
    sum statistic), so the top-|CUSUM| days are the split candidates an
    ingest pipeline investigates before trusting a before/after drift
    comparison. To stay hash-exact the statistic is SCALED BY N: with
    S_t = sum_{{i<=t}} (N*c_i - T) the peak location is identical to the
    float CUSUM's (N*x is a positive affine map) and every cell is an
    exact BIGINT. Emits the top-5 days by |S| with the day's count and
    the (n_days, total) scalars that de-scale it.

    Determinism: |S| ties break on day; the (N*c - T) deviations sum
    exactly, so the prefix is order-free given the total day order.
    Integer headroom: N*c is exact to ~2.5e14 events/day per century
    of days.

    Scale shape: the daily frame is date-cardinality (domain-bounded
    at ANY corpus — 36.5k rows/century); (N, T) is a bounded 1-row
    driver collect (the vocab_growth class); the prefix runs through
    operators/prefix.global_prefix_sum — range-partition on day,
    pid-local window + O(P) driver offsets — NEVER a single-partition
    global window; top-5 is TakeOrderedAndProject."""
    from ..operators.prefix import global_prefix_sum

    daily = (
        tbl(spark, sf_dir, "events")
        .groupBy(F.to_date("ts").alias("day"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    row = daily.agg(
        F.count(F.lit(1)).alias("n"), F.sum("c").alias("t")
    ).collect()[0]
    if not row["n"]:  # no events: schema-stable empty frame
        return daily.select(
            F.col("day"),
            F.lit(0).cast("bigint").alias("c"),
            F.lit(0).cast("bigint").alias("cusum_scaled"),
            F.lit(0).cast("bigint").alias("n_days"),
            F.lit(0).cast("bigint").alias("total_events"),
        ).limit(0)
    n, t = int(row["n"]), int(row["t"])
    dev = daily.withColumn(
        "d", (F.lit(n) * F.col("c") - F.lit(t)).cast("long")
    )
    cum = global_prefix_sum(dev, "d", ["day"], "cusum_scaled")
    return (
        cum.select(
            "day",
            "c",
            "cusum_scaled",
            F.lit(n).cast("bigint").alias("n_days"),
            F.lit(t).cast("bigint").alias("total_events"),
        )
        .orderBy(F.abs(F.col("cusum_scaled")).desc(), "day")
        .limit(_CUSUM_TOPK)
    )
