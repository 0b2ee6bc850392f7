"""TPC-H-shaped multi-way join workloads (round 7, part 6): Q3, Q5 and
Q10 analogs over the driver fixtures.

q24 already covers TPC-H Q1 (the aggregation spine); these add the
benchmark's canonical JOIN compositions — the shapes a cost-based
planner, broadcast selection and partial aggregation have to get right
together on a 100 TB star schema:

* Q3  (shipping priority): segment-filtered customer ⋈ orders ⋈
  lineitem, revenue per open order, global top-10.
* Q5  (local supplier volume): the 6-way chain region ⋈ nation ⋈
  supplier ⋈ lineitem ⋈ orders ⋈ customer with the extra
  same-nation (customer = supplier) equi-constraint.
* Q10 (returned items): per-customer lost revenue over returned
  lineitems, global top-20.

Revenue follows q24's exact-integer discipline: `disc_price_e4 =
cents(extprice) x (100 - cents(discount))`, accumulated in
DECIMAL(38,0) (silent-wrap-proof past 2^63 — the ADVICE r5 overflow
rule) and emitted as BIGINT; DuckDB's BIGINT sums are exact HUGEINT
and cast back losslessly. Dates compare as TIMESTAMP literals on both
sides; orderings end in unique keys.
"""

from __future__ import annotations

from .base import F, cents, ocents, tbl
from .registry import register

_REV_SQL = f"SUM({ocents('l_extendedprice')} * (100 - {ocents('l_discount')}))"


def _rev_e4():
    return (
        F.sum(
            (
                cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
            ).cast("decimal(38,0)")
        )
        .cast("bigint")
        .alias("revenue_e4")
    )


@register(
    "xh_tpch_q3",
    oracle=f"""SELECT l.l_orderkey,
       CAST({_REV_SQL} AS BIGINT) AS revenue_e4,
       CAST(epoch(o.o_orderdate) AS BIGINT) AS orderdate_sec,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
  AND l.l_shipdate > TIMESTAMP '1997-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue_e4 DESC, l_orderkey LIMIT 10""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q3(spark, sf_dir):
    """TPC-H Q3 analog (shipping priority): which open BUILDING-segment
    orders carry the most pending revenue. Plan: the segment filter
    prunes customer BEFORE its join (filters push to every scan), the
    customer keys broadcast into orders, the orders⋈lineitem join is the
    only fact-fact hash join, revenue partial-aggregates per orderkey,
    and the global top-10 is TakeOrderedAndProject — k rows per
    partition to the driver, never a full sort."""
    c = tbl(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_rev_e4())
        .select(
            "l_orderkey",
            "revenue_e4",
            F.unix_timestamp("o_orderdate").cast("bigint").alias("orderdate_sec"),
            "o_orderpriority",
        )
        .orderBy(F.col("revenue_e4").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "xh_tpch_q5",
    oracle=f"""SELECT n.n_name,
       CAST({_REV_SQL} AS BIGINT) AS revenue_e4
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n.n_name ORDER BY revenue_e4 DESC, n_name""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q5(spark, sf_dir):
    """TPC-H Q5 analog (local supplier volume): revenue where customer
    and supplier share a nation, rolled up per nation — the 6-way join
    chain with a cross-table equi-constraint (c_nationkey = s_nationkey)
    that join REORDERING has to keep cheap. supplier/nation/region are
    true dimensions and broadcast; orders⋈lineitem is the one shuffled
    fact join; the nation rollup is a bounded partial->final aggregate."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(_rev_e4())
        .orderBy(F.col("revenue_e4").desc(), "n_name")
    )


@register(
    "xh_tpch_q10",
    oracle=f"""SELECT c.c_custkey, c.c_name, n.n_name,
       CAST({_REV_SQL} AS BIGINT) AS revenue_e4,
       COUNT(*) AS n_items
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue_e4 DESC, c_custkey LIMIT 20""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q10(spark, sf_dir):
    """TPC-H Q10 analog (returned items): customers who returned the
    most revenue — the churn-investigation query. The returnflag filter
    pushes into the lineitem scan (at 100 TB with returnflag-partitioned
    or row-group-sorted layout that is real pruning), nation broadcasts,
    and the per-customer rollup ends in a top-20 TakeOrdered."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = tbl(spark, sf_dir, "nation")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(_rev_e4(), F.count(F.lit(1)).alias("n_items"))
        .orderBy(F.col("revenue_e4").desc(), "c_custkey")
        .limit(20)
    )


@register(
    "xh_tpch_q18",
    oracle=f"""WITH big AS (
  SELECT l_orderkey
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey,
       CAST(epoch(o.o_orderdate) AS BIGINT) AS orderdate_sec,
       {ocents('o.o_totalprice')} AS totalprice_cents,
       CAST(SUM(CAST(FLOOR(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sum_qty
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN big ON o.o_orderkey = big.l_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY totalprice_cents DESC, o_orderkey LIMIT 100""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q18(spark, sf_dir):
    """TPC-H Q18 analog (large-volume customers): orders whose total
    quantity exceeds 300, with their customers and exact quantity sums.
    The benchmark's canonical AGGREGATE-SEMI-JOIN shape: the qualifying
    set comes from a pre-aggregation of the fact table (GROUP BY +
    HAVING), then joins BACK into the 3-way star — the pattern that
    rewards partial aggregation twice (once to find the keys, once for
    the final sums) and a broadcast of the tiny qualifying-key set.

    Plan at 100 TB: the `big` key set is HAVING-filtered aggregate
    output — orders-of-magnitude smaller than lineitem — and joins as a
    broadcast (AQE promotes it from the runtime size); the final
    aggregate groups rows already co-partitioned by the o_orderkey join.
    Quantities are exact integers (FLOOR(q+0.5), fixture-integral),
    money is integer cents, and the top-100 is TakeOrderedAndProject
    with a unique-key tiebreak."""
    li = tbl(spark, sf_dir, "lineitem")
    qty = F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint")
    # alias the aggregated key: `big` shares lineage with `li`, and a
    # bare l_orderkey would be an ambiguous self-join reference
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty).alias("qsum"))
        .filter(F.col("qsum") > 300)
        .select(F.col("l_orderkey").alias("big_orderkey"))
    )
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(F.broadcast(big), o.o_orderkey == F.col("big_orderkey"))
        .groupBy("c_name", "c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum(qty).cast("bigint").alias("sum_qty"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.unix_timestamp("o_orderdate").cast("bigint").alias("orderdate_sec"),
            cents("o_totalprice").alias("totalprice_cents"),
            "sum_qty",
        )
        .orderBy(F.col("totalprice_cents").desc(), "o_orderkey")
        .limit(100)
    )


@register(
    "xh_tpch_q14",
    oracle=f"""SELECT CAST(epoch(date_trunc('month', l.l_shipdate)) AS BIGINT)
         AS ship_month_sec,
       CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN {ocents('l.l_extendedprice')}
                          * (100 - {ocents('l.l_discount')})
                     ELSE 0 END) AS BIGINT) AS promo_rev_e4,
       CAST({_REV_SQL} AS BIGINT) AS total_rev_e4,
       CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                     THEN {ocents('l.l_extendedprice')}
                          * (100 - {ocents('l.l_discount')})
                     ELSE 0 END) * 1000000
            // SUM({ocents('l.l_extendedprice')}
                   * (100 - {ocents('l.l_discount')})) AS BIGINT)
         AS promo_ppm
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
GROUP BY date_trunc('month', l.l_shipdate)
ORDER BY ship_month_sec""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q14(spark, sf_dir):
    """TPC-H Q14 analog (promotion effect): the share of each ship
    month's discounted revenue that came from PROMO-type parts — the
    classic fact ⋈ dimension ratio report. The fixture's p_type domain
    is flat ('PROMO', not 'PROMO BURNISHED...'), so the predicate is
    equality rather than a prefix match; revenue follows the q24
    exact-integer discipline (cents x (100 - discount-cents) summed in
    DECIMAL(38,0)) and the ratio is integer ppm via truncating division
    on the exact sums — no floats anywhere, unlike the spec's 100.00*.

    Plan at 100 TB: part is SF-PROPORTIONAL, so the join is unhinted:
    Spark broadcasts the 2-column (p_partkey, p_type) projection while
    its estimated size is under the broadcast threshold, and past it AQE
    picks the strategy from the measured size; lineitem's only exchange
    is the bounded month rollup (partial->final on
    ~date-range/30 groups); the scan reads exactly the five columns the
    query needs (column pruning pins ReadSchema)."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part")
    disc = (
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    ).cast("decimal(38,0)")
    promo = F.when(F.col("p_type") == "PROMO", disc).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    return (
        li.join(p.select("p_partkey", "p_type"), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.date_trunc("month", "l_shipdate").alias("__m"))
        .agg(
            F.sum(promo).cast("bigint").alias("promo_rev_e4"),
            F.sum(disc).cast("bigint").alias("total_rev_e4"),
        )
        .select(
            F.unix_timestamp("__m").cast("bigint").alias("ship_month_sec"),
            "promo_rev_e4",
            "total_rev_e4",
            F.expr(
                "CAST((CAST(promo_rev_e4 AS DECIMAL(38,0)) * 1000000)"
                "     div total_rev_e4 AS BIGINT)"
            ).alias("promo_ppm"),
        )
        .orderBy("ship_month_sec")
    )


@register(
    "xh_tpch_q4",
    oracle="""SELECT o.o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-07-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND date_diff('day', CAST(o.o_orderdate AS DATE),
                    CAST(l.l_shipdate AS DATE)) > 60)
GROUP BY o.o_orderpriority ORDER BY o.o_orderpriority""",
    tags=("tpch", "join", "agg", "subquery"),
)
def xh_tpch_q4(spark, sf_dir):
    """TPC-H Q4 analog (order priority checking): orders in a quarter
    window that had at least one LATE line item, counted per priority
    class. The fixture has no commit/receipt dates, so 'late' is the
    declared adaptation ship > order date + 60 days — the shape under
    test is identical: a correlated EXISTS whose correct plan is a LEFT
    SEMI join (each order counts ONCE no matter how many late items).

    Plan at 100 TB: the quarter filter pushes into the orders scan
    BEFORE the semi join (PushedFilters), the semi join shuffles both
    sides once on orderkey with the compound lateness predicate
    evaluated join-side, and the priority rollup is a 5-group
    partial->final aggregate."""
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = tbl(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey)
        & (
            F.datediff(F.to_date(li.l_shipdate), F.to_date(o.o_orderdate))
            > 60
        ),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


_Q19_ARMS = (
    ("Brand#12", 1, 15, 20),
    ("Brand#23", 1, 25, 35),
    ("Brand#3", 1, 40, 50),
)

_Q19_ARMS_SQL = " OR ".join(
    f"(p.p_brand = '{b}' AND p.p_size BETWEEN {lo} AND {hi}"
    f" AND l.l_quantity <= {q})"
    for b, lo, hi, q in _Q19_ARMS
)
_Q19_PART_SQL = " OR ".join(
    f"(p.p_brand = '{b}' AND p.p_size BETWEEN {lo} AND {hi})"
    for b, lo, hi, _ in _Q19_ARMS
)


@register(
    "xh_tpch_q19",
    oracle=f"""SELECT CAST({_REV_SQL} AS BIGINT) AS revenue_e4,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE ({_Q19_ARMS_SQL}) AND ({_Q19_PART_SQL})""",
    tags=("tpch", "join", "filter"),
)
def xh_tpch_q19(spark, sf_dir):
    """TPC-H Q19 analog (discounted revenue, disjunctive predicates):
    revenue over three OR-ed (brand, size-range, quantity-cap) arms —
    the benchmark's planner stress test for DISJUNCTIONS THAT SPAN THE
    JOIN. A naive plan joins all of lineitem to all of part and filters
    after; the right plan derives the part-only implication of the OR
    (brand/size union) and pushes it into the dimension scan before the
    join. That implied predicate is spelled EXPLICITLY here (and in the
    oracle, where it is a no-op on the result) — the engine-convention
    way to guarantee the pushdown a 100 TB run needs rather than hoping
    a future optimizer infers it. The fixture keeps the spec's brand/
    size/quantity axes (no container column; shipmode is absent), and
    money follows the exact-integer revenue discipline.

    Plan: part pre-filters to the brand/size union (6 % of the fixture's
    part rows) and the join is unhinted, so Spark broadcasts that slice
    while it is small and AQE decides from its measured size past that,
    as for every part join in this module. Scale trade: at sf100 (20M
    part rows) this slice (~1.2M rows of 6 columns) is past a 64 MiB
    broadcast budget anyway, but the filtered key slices of q8, q9, q17
    and q20 (0.8M-3.3M rows, 6-53 MB) are under it: a hint would keep
    lineitem unshuffled there, while AQE broadcasts a slice only under
    its 10 MB threshold, so at that scale those four shuffle lineitem
    instead (SCALE.md). lineitem's quantity caps evaluate post-join
    (they reference both sides through the OR); output is a single
    partial->final global aggregate row."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part")
    part_union = None
    full = None
    for b, lo, hi, q in _Q19_ARMS:
        pu = (
            (F.col("p_brand") == b)
            & F.col("p_size").between(lo, hi)
        )
        arm = pu & (F.col("l_quantity") <= q)
        part_union = pu if part_union is None else (part_union | pu)
        full = arm if full is None else (full | arm)
    return (
        li.join(p.filter(part_union), li.l_partkey == p.p_partkey)
        .filter(full)
        .agg(
            _rev_e4(),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


_BASKET_TOP = 50


@register(
    "xh_market_basket",
    oracle=f"""WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS MATERIALIZED (
  SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
pc AS MATERIALIZED (
  SELECT l_partkey, COUNT(*) AS n_part FROM items GROUP BY l_partkey),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         COUNT(*) AS n_both
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY a.l_partkey, b.l_partkey)
SELECT p.part_a, p.part_b,
       CAST(p.n_both AS BIGINT) AS n_both,
       CAST(ca.n_part AS BIGINT) AS n_a,
       CAST(cb.n_part AS BIGINT) AS n_b,
       CAST(p.n_both * 1000000 // n.n_orders AS BIGINT) AS support_ppm,
       CAST(p.n_both * n.n_orders * 1000000 // (ca.n_part * cb.n_part)
            AS BIGINT) AS lift_ppm
FROM pairs p
JOIN pc ca ON ca.l_partkey = p.part_a
JOIN pc cb ON cb.l_partkey = p.part_b
CROSS JOIN n
ORDER BY n_both DESC, part_a, part_b
LIMIT {_BASKET_TOP}""",
    tags=("tpch", "basket", "join", "oracle-twin"),
)
def xh_market_basket(spark, sf_dir):
    """Pairwise market-basket mining (round 12) — the association-rule
    support/lift table over the order star (the A-priori k=2 pass, the
    workhorse of co-purchase analytics): for the top co-occurring part
    pairs, exact order counts, integer-ppm support (share of all
    orders containing both) and integer-ppm lift (observed co-rate
    over the independence expectation n_a*n_b/N^2 — cross-multiplied,
    no floats, truncating division in both engines). Output bounded to
    the top-50 pairs by co-count with a (part_a, part_b) tiebreak.

    Scale shape: baskets collapse to DISTINCT (order, part) first (one
    uniform exchange); the pair generation is a within-order self-join
    whose fan-out is C(items-per-order, 2) — bounded by basket size,
    never corpus-quadratic; the pair aggregate is one uniform
    (part_a, part_b) exchange; the marginal joins are part-keyed and
    UNHINTED — part cardinality grows with the catalog, so the build
    side is not broadcast-bounded; AQE picks broadcast when the actual
    size is small (r12 verdict item). Top-50 is TakeOrderedAndProject.
    BIGINT headroom for lift's cross product: n_both*N*1e6 <= N^2*1e6
    caps around N = 3e6 orders — the already-collected order count
    probes this bound and promotes the cross product to DECIMAL(38,0)
    past it (the xh_pca_power discipline; same values, asserted at the
    boundary in tests/test_tpch_analogs.py)."""
    return _market_basket_frame(spark, sf_dir)


# promote lift's BIGINT cross product to DECIMAL(38,0) at this order
# count: n_both * N * 1e6 <= N^2 * 1e6 stays under 2^63 only while
# N < sqrt(2^63 / 1e6) ~= 3.036e6.
_BASKET_DECIMAL_AT = 3_000_000

# A-priori step-1 prune (VERDICT r14 #5) engages past this order count.
# Below it the pair expansion is already cheap and the prune's extra
# verification job costs more than it saves; above it the C(basket,2)
# expansion is the suite's worst x16 scaler (8.0x wall, measured by the
# x16 TPC-H scaling probe) and pruning the item stream to the
# frequent parts cuts the pair exchange before it grows.
_BASKET_PRUNE_MIN_ORDERS = 500_000


def _pair_counts(frame):
    """Within-order pair expansion over a (l_orderkey, l_partkey) frame:
    fan-out bounded by C(basket, 2), one uniform (part_a, part_b)
    exchange out."""
    a = frame.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_a")
    )
    b = frame.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("part_b")
    )
    return (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )


def _top_pairs(items, pc, n_orders, top):
    """The complete (part_a, part_b, n_both) co-count frame restricted —
    EXACTLY, never approximately — to a superset of the global top-``top``
    pairs by (n_both DESC, part_a, part_b).

    A-priori guarantee: a pair with co-count >= t needs BOTH parts in
    >= t orders, so the pair expansion over parts with n_part >= t
    contains EVERY pair with n_both >= t. The prune therefore picks a
    support floor t, expands only the frequent-part item stream, keeps
    the pairs with n_both >= t (a complete set), and ACCEPTS iff at
    least ``top`` pairs survive — then no excluded pair (all with
    n_both < t) can displace any kept one and the global top-``top`` is
    provably inside the kept set. Otherwise t descends and the t < 2
    fallback is the exact unpruned expansion, so the result is
    bit-identical to the naive plan at every scale (the oracle SQL stays
    the full expansion). t itself only steers PERFORMANCE: it starts at
    the independence estimate p12^2/(4N) (p12 = 12th-highest part
    frequency; ~66 candidate pairs among 12 parts covers top-50), whose
    misestimate costs one extra cheap round, never a wrong answer."""
    heads = [
        r.n_part
        for r in pc.orderBy(F.col("n_part").desc(), "l_partkey")
        .limit(12)
        .collect()
    ]
    p12 = heads[-1] if len(heads) == 12 else 0
    t = max(2, (p12 * p12) // max(4 * n_orders, 1))
    while t >= 2:
        hot = pc.filter(F.col("n_part") >= t).select("l_partkey")
        cand = (
            _pair_counts(items.join(hot, "l_partkey"))  # unhinted: AQE
            .filter(F.col("n_both") >= t)
            .localCheckpoint(eager=True)
        )
        if cand.count() >= top:
            return cand
        t = t // 8 if t >= 16 else 1  # descend fast; t < 2 -> exact full
    return _pair_counts(items)


def _market_basket_frame(spark, sf_dir, promote_at=_BASKET_DECIMAL_AT):
    """xh_market_basket body with an injectable promotion threshold so
    tests can force the DECIMAL(38,0) lift path on small data and assert
    it row-identical to the BIGINT path."""
    li = tbl(spark, sf_dir, "lineitem")
    # one distinct exchange, materialized once: FOUR consumers (both pair
    # sides, the marginals, the order count) read the basket-item frame
    # from executor storage instead of re-running scan+distinct each.
    # r18: lazy checkpoint — the n_orders probe right below materializes
    # it in the SAME job (was: eager-checkpoint job + count job).
    items = (
        li.select("l_orderkey", "l_partkey")
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_orders = items.select("l_orderkey").distinct().count()
    pc = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("n_part"))
    if n_orders >= _BASKET_PRUNE_MIN_ORDERS:
        # marginals get THREE consumers on the prune path (head probe,
        # hot filter, lift joins): pin them once
        pc = pc.localCheckpoint(eager=True)
        pairs = _top_pairs(items, pc, n_orders, _BASKET_TOP)
    else:
        pairs = _pair_counts(items)
    ca = pc.select(F.col("l_partkey").alias("part_a"), F.col("n_part").alias("n_a"))
    cb = pc.select(F.col("l_partkey").alias("part_b"), F.col("n_part").alias("n_b"))
    if n_orders < promote_at:  # BIGINT cross product provably fits
        lift = F.expr(
            f"CAST(n_both * {n_orders}L * 1000000L div (n_a * n_b) AS BIGINT)"
        )
    else:  # exact DECIMAL(38,0) arithmetic past the BIGINT bound
        lift = F.expr(
            f"CAST((CAST(n_both AS DECIMAL(38,0)) * {n_orders}"
            " * 1000000) div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)"
        )
    return (
        pairs.join(ca, "part_a")  # part-keyed, unhinted: AQE decides
        .join(cb, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("n_both").cast("long").alias("n_both"),
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr(f"CAST(n_both * 1000000L div {n_orders}L AS BIGINT)").alias(
                "support_ppm"
            ),
            lift.alias("lift_ppm"),
        )
        .orderBy(F.col("n_both").desc(), "part_a", "part_b")
        .limit(_BASKET_TOP)
    )


@register(
    "xh_tpch_q22",
    oracle=f"""WITH pos AS MATERIALIZED (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM({ocents('c_acctbal')}) AS BIGINT) AS s
  FROM customer WHERE c_acctbal > 0),
rich AS MATERIALIZED (
  SELECT c.c_custkey, c.c_nationkey, {ocents('c.c_acctbal')} AS bal_cents
  FROM customer c, pos
  WHERE c.c_acctbal > 0 AND {ocents('c.c_acctbal')} * pos.n > pos.s),
inactive AS (
  SELECT r.* FROM rich r ANTI JOIN orders o ON r.c_custkey = o.o_custkey)
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_custs,
       CAST(SUM(i.bal_cents) AS BIGINT) AS total_acctbal_cents
FROM inactive i JOIN nation n ON i.c_nationkey = n.n_nationkey
GROUP BY n.n_name ORDER BY n.n_name""",
    tags=("tpch", "subquery", "anti-join", "oracle-twin"),
)
def xh_tpch_q22(spark, sf_dir):
    """TPC-H Q22 analog (global sales opportunity): customers with an
    ABOVE-AVERAGE positive account balance who have placed NO orders,
    rolled up per nation (the fixture's country axis — it has no phone
    country codes). The benchmark's scalar-subquery + ANTI-join
    composition. The above-average test is CROSS-MULTIPLIED into exact
    integers — bal_cents * N > SUM(cents) — so the float average never
    exists and the boundary customer classifies identically in both
    engines (the xh_embed_centroid_drift discipline).

    Plan at 100 TB: the (N, SUM) pair is one partial->final global agg
    collapsed to an O(1) driver scalar; the rich-customer filter is a
    scan-side predicate using those two literals; the no-orders test is
    a LEFT ANTI join on custkey (one exchange each side — at scale the
    orders side prunes to the distinct-custkey aggregate first if AQE
    sizes say so); nation broadcasts; the rollup is nation-bounded."""
    c = tbl(spark, sf_dir, "customer")
    pos = c.filter(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(cents("c_acctbal")).cast("long").alias("s"),
    ).collect()[0]
    n_pos, s_pos = int(pos["n"] or 0), int(pos["s"] or 0)
    rich = c.filter(
        (F.col("c_acctbal") > 0)
        & (cents("c_acctbal") * F.lit(n_pos) > F.lit(s_pos))
    ).select("c_custkey", "c_nationkey", cents("c_acctbal").alias("bal_cents"))
    o = tbl(spark, sf_dir, "orders")
    inactive = rich.join(o, rich.c_custkey == o.o_custkey, "left_anti")
    n = tbl(spark, sf_dir, "nation")
    return (
        inactive.join(F.broadcast(n), inactive.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_custs"),
            F.sum("bal_cents").cast("long").alias("total_acctbal_cents"),
        )
        .orderBy("n_name")
    )


@register(
    "xh_tpch_q6",
    oracle=f"""SELECT CAST(SUM({ocents('l_discount')}
                * {ocents('l_extendedprice')}) AS BIGINT) AS revenue_e4,
       CAST(COUNT(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND {ocents('l_discount')} BETWEEN 5 AND 7
  AND {ocents('l_quantity')} < 2400""",
    tags=("tpch", "scan", "agg"),
)
def xh_tpch_q6(spark, sf_dir):
    """TPC-H Q6 analog (forecasting revenue change, round 13): the
    would-be revenue gained by eliminating small discounts on
    small-quantity 1997 shipments — sum of extendedprice x discount
    over a pure predicate slice, no joins at all. Every predicate is
    evaluated on exact integer units (cents), so the float columns
    never reach a comparison: discount BETWEEN 5 AND 7 cents, quantity
    < 2400 centi-units — mirrored literally in the oracle.

    Plan at 100 TB: the canonical scan-dominated query — all three
    predicates push into the parquet scan (PushedFilters covers the
    shipdate range; the cents-quantized predicates evaluate in
    whole-stage codegen right above it), the aggregate is one
    partial->final global pair, and the exchange carries ONE row of
    aggregate state per partition. Any engine that shuffles data for
    this query is wrong."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & cents("l_discount").between(5, 7)
            & (cents("l_quantity") < 2400)
        )
        .agg(
            F.sum(cents("l_discount") * cents("l_extendedprice"))
            .cast("long")
            .alias("revenue_e4"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
    )


@register(
    "xh_tpch_q7",
    oracle=f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
       CAST({_REV_SQL} AS BIGINT) AS revenue_e4
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n1.n_name, n2.n_name, year(l.l_shipdate)
ORDER BY supp_nation, cust_nation, l_year""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q7(spark, sf_dir):
    """TPC-H Q7 analog (volume shipping, round 13): bilateral trade
    revenue between two nations by ship year — the 6-way star chain
    supplier ⋈ lineitem ⋈ orders ⋈ customer with nation decoded on
    BOTH ends and the either-direction pair predicate. Revenue follows
    the q24 exact-integer discipline.

    Plan at 100 TB: the nation-pair filters apply to the TINY dimension
    sides first (the 25-row nation frame broadcasts into supplier and
    customer, shrinking both to two nations' worth of keys BEFORE any
    fact-table join). The filtered supplier/customer joins are key-
    partitioned and UNHINTED — both tables grow with the corpus (TPC-H
    scales supplier and customer with SF), so forcing them into executor
    memory is the exact mistake the round-13 broadcast audit exists to
    block; AQE broadcasts when the two-nation slice is actually small.
    lineitem and orders shuffle at most once each; the rollup is
    (2 pair-directions x years)-bounded."""
    n = tbl(spark, sf_dir, "nation")
    n1 = n.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.filter(F.col("n_name").isin("NATION_1", "NATION_2")).select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    s = tbl(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key")
    )
    c = tbl(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key")
    )
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    o = tbl(spark, sf_dir, "orders")
    return (
        li.join(s, li.l_suppkey == s.s_suppkey)  # unhinted: AQE decides
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # unhinted: AQE decides
        .filter(
            (
                (F.col("supp_nation") == "NATION_1")
                & (F.col("cust_nation") == "NATION_2")
            )
            | (
                (F.col("supp_nation") == "NATION_2")
                & (F.col("cust_nation") == "NATION_1")
            )
        )
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(_rev_e4())
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@register(
    "xh_tpch_q12",
    oracle="""SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l.l_linestatus ORDER BY l.l_linestatus""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q12(spark, sf_dir):
    """TPC-H Q12 analog (shipping modes / order priority, round 13):
    per line status, how many 1997-shipped line items belonged to
    urgent-or-high orders vs everything else — the conditional-count
    fact ⋈ fact join Q12 exercises. The fixture has no l_shipmode or
    commit/receipt dates, so the declared adaptation groups by
    l_linestatus and windows on l_shipdate; the shape under test is
    identical (date-sliced join + CASE-bucketed counts over a
    low-cardinality group).

    Plan at 100 TB: the date slice pushes into the lineitem scan before
    its one orderkey exchange; orders shuffles once on the same key (no
    broadcast hint — orders grows with the corpus, AQE decides); the
    CASE counts combine map-side into a 2-group rollup."""
    o = tbl(spark, sf_dir, "orders")
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    is_high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(is_high, 1).otherwise(0))
            .cast("long")
            .alias("high_line_count"),
            F.sum(F.when(is_high, 0).otherwise(1))
            .cast("long")
            .alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@register(
    "xh_tpch_q16",
    oracle="""SELECT p.p_brand, p.p_type, p.p_size,
       CAST(COUNT(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM part p
JOIN lineitem l ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#12' AND p.p_type <> 'PROMO'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
  AND l.l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
LIMIT 40""",
    tags=("tpch", "join", "agg", "subquery"),
)
def xh_tpch_q16(spark, sf_dir):
    """TPC-H Q16 analog (parts/supplier relationship, round 13): how
    many distinct suppliers can furnish each surviving (brand, type,
    size) combination, excluding one brand, one type, and suppliers on
    a denylist. The fixture has no partsupp table or supplier comments,
    so the declared adaptations are: lineitem stands in as the
    part-supplier relation (a supplier "can furnish" a part it has
    shipped) and the complaint denylist becomes s_acctbal < 0 — the
    shape under test (dimension exclusions + NOT IN subquery + COUNT
    DISTINCT over a grouped join) is identical.

    Plan at 100 TB: brand/type/size exclusions push into the part scan;
    the denylist is a LEFT ANTI against a filtered supplier frame
    (supplier is catalog-sized — unhinted, AQE decides); the distinct
    count is the two-phase distinct expansion on (group, suppkey); the
    top-40 is TakeOrderedAndProject, never a global sort."""
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#12")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 14, 19, 23, 36, 45)
    )
    bad = tbl(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    li = (
        tbl(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .join(bad, F.col("l_suppkey") == bad.s_suppkey, "left_anti")
    )
    return (
        p.join(li, p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size"
        )
        .limit(40)
    )


@register(
    "xh_tpch_q17",
    oracle=f"""WITH pq AS (
  SELECT l.l_partkey,
         SUM({ocents('l.l_quantity')}) AS sum_qc,
         COUNT(*) AS cnt
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_brand = 'Brand#23'
  GROUP BY l.l_partkey)
SELECT CAST(SUM({ocents('l.l_extendedprice')}) AS BIGINT) AS total_price_e2,
       CAST(COUNT(*) AS BIGINT) AS n_small_orders
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pq ON pq.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND {ocents('l.l_quantity')} * 5 * pq.cnt < pq.sum_qc""",
    tags=("tpch", "join", "agg", "subquery"),
)
def xh_tpch_q17(spark, sf_dir):
    """TPC-H Q17 analog (small-quantity-order revenue, round 13): total
    revenue lost to line items ordering less than 20% of a part's
    average quantity, over one brand — the correlated per-group average
    Q17 exercises. The 0.2 x AVG comparison is cross-multiplied into
    exact integers (5 x quantity-cents x count < quantity-cents sum),
    so no division or float average exists on either engine; the
    fixture has no p_container, so the brand filter alone slices the
    catalog (declared adaptation).

    Plan at 100 TB: the brand filter pushes into the part scan and the
    unhinted join broadcasts that slice into lineitem while its measured
    size allows (AQE decides); the per-part (sum, count)
    frame is ONE partial agg over the already-brand-sliced rows joined
    back part-keyed (never a correlated rescan per row, which is how
    the spec's subquery dies at scale); the final sum is a global
    partial->final pair."""
    p = tbl(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    li = tbl(spark, sf_dir, "lineitem").join(
        p.select("p_partkey"),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    pq = li.groupBy("l_partkey").agg(
        F.sum(cents("l_quantity")).alias("sum_qc"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(pq, "l_partkey")
        .filter(cents("l_quantity") * F.lit(5) * F.col("cnt") < F.col("sum_qc"))
        .agg(
            F.sum(cents("l_extendedprice")).cast("long").alias("total_price_e2"),
            F.count(F.lit(1)).cast("long").alias("n_small_orders"),
        )
    )


@register(
    "xh_tpch_q8",
    oracle=f"""WITH base AS (
  SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
         {ocents('l.l_extendedprice')} * (100 - {ocents('l.l_discount')})
           AS vol_e4,
         ns.n_name AS supp_nation
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation nc ON nc.n_nationkey = c.c_nationkey
  JOIN region r ON r.r_regionkey = nc.n_regionkey
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation ns ON ns.n_nationkey = s.s_nationkey
  WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY')
SELECT o_year,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN vol_e4 ELSE 0 END)
            AS BIGINT) AS nation_vol_e4,
       CAST(SUM(vol_e4) AS BIGINT) AS total_vol_e4,
       CAST(SUM(CASE WHEN supp_nation = 'NATION_2' THEN vol_e4 ELSE 0 END)
              * 1000000 // SUM(vol_e4) AS BIGINT) AS share_ppm
FROM base GROUP BY o_year ORDER BY o_year""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q8(spark, sf_dir):
    """TPC-H Q8 analog (national market share, round 13): NATION_2's
    share of ECONOMY-part revenue sold to ASIA-region customers, per
    order year — the 8-way snowflake join (nation decoded TWICE, once
    for the customer's region membership, once for the supplier's
    nationality) whose share ratio is the conditional-sum-over-sum Q8
    exercises. Exact integers: volumes follow the q24 cents discipline,
    the share is integer ppm via truncating division on exact sums.

    Plan at 100 TB: region/nation filters collapse the customer
    dimension snowflake BEFORE the fact joins; part's type filter
    pushes into its scan and its join is unhinted (AQE broadcasts the
    slice while it is small); supplier and customer joins are
    key-partitioned and unhinted (both grow with SF); lineitem ⋈
    orders is the one fact-fact shuffle; the rollup is years-bounded."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nc = n.join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    ).select(F.col("n_nationkey").alias("cn_key"))
    ns = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    vol = (
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
    ).cast("decimal(38,0)")
    nation_vol = F.when(F.col("supp_nation") == "NATION_2", vol).otherwise(
        F.lit(0).cast("decimal(38,0)")
    )
    return (
        li.join(p.select("p_partkey"), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)  # unhinted: AQE decides
        .join(F.broadcast(nc), c.c_nationkey == F.col("cn_key"))
        .join(s, li.l_suppkey == s.s_suppkey)  # unhinted: AQE decides
        .join(F.broadcast(ns), s.s_nationkey == F.col("sn_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(nation_vol).cast("bigint").alias("nation_vol_e4"),
            F.sum(vol).cast("bigint").alias("total_vol_e4"),
        )
        .select(
            "o_year",
            "nation_vol_e4",
            "total_vol_e4",
            F.expr(
                "CAST((CAST(nation_vol_e4 AS DECIMAL(38,0)) * 1000000)"
                " div total_vol_e4 AS BIGINT)"
            ).alias("share_ppm"),
        )
        .orderBy("o_year")
    )


@register(
    "xh_tpch_q9",
    oracle=f"""SELECT n.n_name, CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
       CAST(SUM({ocents('l.l_extendedprice')}
                  * (100 - {ocents('l.l_discount')})
                - {ocents('p.p_retailprice')} * {ocents('l.l_quantity')})
            AS BIGINT) AS profit_e4
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN orders o ON o.o_orderkey = l.l_orderkey
WHERE p.p_type = 'STANDARD'
GROUP BY n.n_name, year(o.o_orderdate)
ORDER BY n_name, o_year""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q9(spark, sf_dir):
    """TPC-H Q9 analog (product-type profit, round 13): per supplier
    nation and order year, discounted revenue minus acquisition cost
    over one part type. The fixture has no partsupp.ps_supplycost, so
    the declared adaptation costs each unit at p_retailprice — the
    arithmetic shape (revenue term minus cost x quantity, summed per
    nation-year, negatives possible) is Q9's. Both terms land in the
    same 1e-4-dollar integer unit: cents(extprice) x (100 -
    cents(discount)) and cents(retailprice) x centi-quantity —
    accumulated in DECIMAL(38,0), emitted BIGINT.

    Plan at 100 TB: the type filter pushes into the part scan and the
    surviving keys+prices join unhinted (AQE broadcasts them while they
    are small); supplier is key-partitioned unhinted; nation
    broadcasts; lineitem ⋈ orders is the one fact-fact shuffle; the
    rollup is (nations x years)-bounded."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "STANDARD")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    o = tbl(spark, sf_dir, "orders")
    amount = (
        cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
        - cents("p_retailprice") * cents("l_quantity")
    ).cast("decimal(38,0)")
    return (
        li.join(p.select("p_partkey", "p_retailprice"), li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)  # unhinted: AQE decides
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(F.sum(amount).cast("bigint").alias("profit_e4"))
        .orderBy("n_name", "o_year")
    )


@register(
    "xh_tpch_q13",
    oracle="""SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c.c_custkey, CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey)
GROUP BY c_count ORDER BY custdist DESC, c_count DESC""",
    tags=("tpch", "join", "agg"),
)
def xh_tpch_q13(spark, sf_dir):
    """TPC-H Q13 analog (customer order-count distribution, round 13):
    how many customers placed 0, 1, 2, ... non-urgent orders — the
    histogram-of-a-groupBy whose LEFT join is load-bearing (customers
    with NO qualifying orders must appear in the 0 bucket, which an
    inner join silently drops). The spec's o_comment NOT LIKE filter is
    adapted to excluding '1-URGENT' orders (no comment column) — the
    join-side-predicate placement is identical: the filter applies to
    the ORDERS side of the join condition, never to the joined result
    (where it would turn the outer join back into an inner one).

    Plan at 100 TB: one custkey exchange each side for the outer join
    (customer and orders both corpus-scale — no hints), a custkey
    partial->final count, then the distribution rollup collapses to
    order-count cardinality (~tens of groups)."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy(c.c_custkey)
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


@register(
    "xh_tpch_q15",
    oracle=f"""WITH rev AS (
  SELECT l_suppkey, CAST({_REV_SQL} AS BIGINT) AS total_rev_e4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, r.total_rev_e4
FROM supplier s JOIN rev r ON s.s_suppkey = r.l_suppkey
WHERE r.total_rev_e4 = (SELECT MAX(total_rev_e4) FROM rev)
ORDER BY s_suppkey""",
    tags=("tpch", "join", "agg", "subquery"),
)
def xh_tpch_q15(spark, sf_dir):
    """TPC-H Q15 analog (top supplier, round 13): the supplier(s) whose
    quarter revenue equals the global maximum — the view-plus-scalar-max
    composition (all ties emitted, which is why the spec uses = MAX
    instead of LIMIT 1). Revenue is the exact-integer q24 discipline,
    so the equality probe is a BIGINT comparison — no float-equality
    trap on either engine.

    Plan at 100 TB: the quarter filter pushes into the lineitem scan;
    per-supplier revenue is ONE uniform partial agg; the max collapses
    that frame to an O(1) driver scalar (the xh_tpch_q22 pattern)
    feeding a scan-side equality filter; supplier attaches key-
    partitioned unhinted."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(_rev_e4()).withColumnRenamed(
        "revenue_e4", "total_rev_e4"
    )
    rev = rev.localCheckpoint(eager=True)  # one scan feeds max + probe
    mx = rev.agg(F.max("total_rev_e4").alias("m")).collect()[0]["m"]
    if mx is None:  # empty quarter: no top supplier (degrade, never fail)
        top = rev.filter(F.lit(False))
    else:
        top = rev.filter(F.col("total_rev_e4") == F.lit(int(mx)))
    s = tbl(spark, sf_dir, "supplier")
    return (
        s.join(top, s.s_suppkey == top.l_suppkey)
        .select("s_suppkey", "s_name", "total_rev_e4")
        .orderBy("s_suppkey")
    )


@register(
    "xh_tpch_q11",
    oracle=f"""WITH v AS (
  SELECT l.l_partkey,
         CAST(SUM({ocents('p.p_retailprice')} * {ocents('l.l_quantity')})
              AS BIGINT) AS value_e4
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE n.n_name = 'NATION_5'
  GROUP BY l.l_partkey),
t AS (SELECT CAST(SUM(value_e4) AS BIGINT) AS total_e4 FROM v)
SELECT v.l_partkey AS p_partkey, v.value_e4
FROM v, t
WHERE v.value_e4 * 1000 > t.total_e4
ORDER BY value_e4 DESC, p_partkey""",
    tags=("tpch", "join", "agg", "subquery"),
)
def xh_tpch_q11(spark, sf_dir):
    """TPC-H Q11 analog (important stock, round 13): parts representing
    a significant share (> 0.1%) of one nation's shipped value — the
    HAVING-against-a-global-scalar shape. partsupp is absent, so the
    declared adaptation values a part at retailprice x shipped quantity
    over the nation's lineitems; the share test is cross-multiplied
    (value * 1000 > total) so no fraction exists on either engine.

    Plan at 100 TB: the nation filter collapses supplier via a
    broadcast nation slice before the fact join (supplier itself
    unhinted); per-part value is ONE uniform partial agg; the total is
    a 1-row broadcast probe onto that same frame (never a rescan)."""
    li = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    p = tbl(spark, sf_dir, "part")
    v = (
        li.join(s, li.l_suppkey == s.s_suppkey)  # unhinted: AQE decides
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(p.select("p_partkey", "p_retailprice"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_partkey")
        .agg(
            F.sum(
                (cents("p_retailprice") * cents("l_quantity")).cast(
                    "decimal(38,0)"
                )
            )
            .cast("bigint")
            .alias("value_e4")
        )
    )
    v = v.localCheckpoint(eager=True)  # one pass feeds total + probe
    t = v.agg(F.sum("value_e4").cast("long").alias("total_e4"))
    return (
        v.join(F.broadcast(t))  # 1-row build side
        .filter(F.col("value_e4") * 1000 > F.col("total_e4"))
        .select(F.col("l_partkey").alias("p_partkey"), "value_e4")
        .orderBy(F.col("value_e4").desc(), "p_partkey")
    )


@register(
    "xh_tpch_q20",
    oracle=f"""WITH sp AS (
  SELECT l.l_suppkey, l.l_partkey,
         CAST(SUM({ocents('l.l_quantity')}) AS BIGINT) AS qty_c
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_type = 'PROMO'
  GROUP BY l.l_suppkey, l.l_partkey),
tot AS (
  SELECT l_partkey, CAST(SUM(qty_c) AS BIGINT) AS tot_c
  FROM sp GROUP BY l_partkey),
dom AS (
  SELECT DISTINCT sp.l_suppkey
  FROM sp JOIN tot ON sp.l_partkey = tot.l_partkey
  WHERE sp.qty_c * 2 > tot.tot_c)
SELECT s.s_suppkey, s.s_name, n.n_name
FROM supplier s
JOIN nation n ON n.n_nationkey = s.s_nationkey
WHERE s.s_suppkey IN (SELECT l_suppkey FROM dom)
ORDER BY s_suppkey""",
    tags=("tpch", "join", "agg", "subquery"),
)
def xh_tpch_q20(spark, sf_dir):
    """TPC-H Q20 analog (excess-stock suppliers, round 13): suppliers
    who DOMINATE at least one PROMO part — shipping more than half of
    that part's corpus-wide quantity. partsupp.availqty is absent, so
    the spec's 'availqty > 0.5 x shipped' becomes 'own shipped > 0.5 x
    total shipped' (declared adaptation); the structural shape is
    identical: a nested per-(supplier, part) aggregate compared against
    a per-part aggregate, collapsed to a DISTINCT supplier set that
    SEMI-joins into the supplier dimension. The half test is
    cross-multiplied (qty x 2 > total) on exact centi-quantities.

    Plan at 100 TB: the type filter prunes part and that key set joins
    unhinted (AQE broadcasts it while it is small); the (supplier,
    part) and per-part aggregates are two uniform partial aggs over the
    SAME filtered frame (checkpointed once); the dominance probe is a
    part-keyed equi join of two aggregate frames (never a rescan); the
    final membership test is a LEFT SEMI into supplier."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    sp = (
        li.join(p.select("p_partkey"), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(cents("l_quantity")).cast("long").alias("qty_c"))
        .localCheckpoint(eager=True)  # feeds the per-part total AND the probe
    )
    tot = sp.groupBy("l_partkey").agg(
        F.sum("qty_c").cast("long").alias("tot_c")
    )
    dom = (
        sp.join(tot, "l_partkey")
        .filter(F.col("qty_c") * 2 > F.col("tot_c"))
        .select("l_suppkey")
        .distinct()
    )
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    return (
        s.join(dom, s.s_suppkey == dom.l_suppkey, "left_semi")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )


@register(
    "xh_tpch_q21",
    oracle="""WITH lo AS (
  SELECT l.l_orderkey, l.l_suppkey,
         CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE),
                             CAST(l.l_shipdate AS DATE)) > 60
              THEN 1 ELSE 0 END AS late
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE o.o_orderstatus = 'F'),
g AS (
  SELECT l_orderkey,
         COUNT(DISTINCT l_suppkey) AS n_supp,
         COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late,
         MAX(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
  FROM lo GROUP BY l_orderkey)
SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM g JOIN supplier s ON s.s_suppkey = g.late_supp
WHERE g.n_supp > 1 AND g.n_late = 1
GROUP BY s.s_name
ORDER BY numwait DESC, s_name LIMIT 20""",
    tags=("tpch", "join", "agg", "subquery"),
)
def xh_tpch_q21(spark, sf_dir):
    """TPC-H Q21 analog (suppliers who kept orders waiting, round 13):
    per supplier, finalized multi-supplier orders where THEY were the
    only late shipper — the spec's EXISTS(other supplier) AND NOT
    EXISTS(other LATE supplier) pair, re-expressed as one grouped
    aggregate per order (distinct suppliers, distinct late suppliers,
    and the unique late supplier surfaced via MAX-over-CASE, well-
    defined exactly when n_late = 1). Lateness is the q4 adaptation
    (ship > order date + 60 days; no commit/receipt columns). The
    rewrite is the scalable spelling of the double correlated
    subquery: each EXISTS would rescan lineitem per row at 100 TB,
    while this form pays ONE orderkey exchange.

    Plan at 100 TB: the status filter pushes into orders before the
    one fact-fact orderkey join; the per-order profile is a single
    two-phase distinct aggregate; supplier attaches to the (late_supp)
    frame key-partitioned; top-20 is TakeOrderedAndProject."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    late = F.when(
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate")) > 60,
        F.col("l_suppkey"),
    )
    g = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct(late).alias("n_late"),
            F.max(late).alias("late_supp"),
        )
        .filter((F.col("n_supp") > 1) & (F.col("n_late") == 1))
    )
    s = tbl(spark, sf_dir, "supplier")
    return (
        g.join(s, g.late_supp == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@register(
    "xh_tpch_q2",
    oracle=f"""WITH ps AS (
  SELECT DISTINCT l.l_partkey, l.l_suppkey
  FROM lineitem l),
cand AS (
  SELECT p.p_partkey, p.p_type, p.p_size, s.s_suppkey, s.s_name, n.n_name,
         {ocents('s.s_acctbal')} AS acctbal_cents
  FROM part p
  JOIN ps ON ps.l_partkey = p.p_partkey
  JOIN supplier s ON s.s_suppkey = ps.l_suppkey
  JOIN nation n ON n.n_nationkey = s.s_nationkey
  JOIN region r ON r.r_regionkey = n.n_regionkey
  WHERE p.p_size = 15 AND p.p_type = 'LARGE' AND r.r_name = 'EUROPE'),
best AS (
  SELECT p_partkey AS best_pk,
         MIN(acctbal_cents * 10000000 + s_suppkey) AS bk
  FROM cand GROUP BY p_partkey)
SELECT c.p_partkey, c.p_type, c.p_size, c.s_suppkey, c.s_name, c.n_name,
       c.acctbal_cents
FROM cand c JOIN best b
  ON c.p_partkey = b.best_pk
 AND c.acctbal_cents * 10000000 + c.s_suppkey = b.bk
ORDER BY acctbal_cents DESC, n_name, s_name, c.p_partkey LIMIT 100""",
    tags=("tpch", "join", "agg", "subquery"),
)
def xh_tpch_q2(spark, sf_dir):
    """TPC-H Q2 analog (minimum-cost supplier, round 13 — completes the
    22/22 analog sweep): for each qualifying part (size 15, LARGE),
    the cheapest EUROPE supplier that has actually shipped it, with
    full supplier/nation decode — the correlated per-part MIN +
    join-back shape. Adaptations (no partsupp): the part-supplier
    relation is DISTINCT lineitem pairs, and 'cost' is the supplier's
    account balance in exact cents. The per-part argmin is made
    deterministic AND hash-checkable by packing (acctbal_cents,
    suppkey) into one BIGINT (cents bounded well under the 1e7 radix'
    headroom: |bal| <= ~1e6 cents in TPC-H, suppkey < 1e7 by fixture
    construction) — the same composite-min trick both engines compute
    identically; ties on balance resolve to the lowest suppkey.

    Plan at 100 TB: size/type filters prune part to a slice that joins
    unhinted (AQE broadcasts it while it is small); region/nation
    collapse the supplier snowflake; the (part, supplier) relation is
    one DISTINCT exchange; the per-part
    MIN is a uniform partial agg joined back part-keyed (never a
    correlated rescan); top-100 is TakeOrderedAndProject."""
    li = tbl(spark, sf_dir, "lineitem")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "LARGE")
    )
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    nr = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "n_nationkey", "n_name"
    )
    cand = (
        ps.join(p.select("p_partkey", "p_type", "p_size"), ps.l_partkey == F.col("p_partkey"))
        .join(s, ps.l_suppkey == s.s_suppkey)  # unhinted: AQE decides
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            "p_partkey",
            "p_type",
            "p_size",
            "s_suppkey",
            "s_name",
            "n_name",
            cents("s_acctbal").alias("acctbal_cents"),
        )
    )
    cand = cand.localCheckpoint(eager=True)  # feeds the argmin AND the probe
    bk = (F.col("acctbal_cents") * F.lit(10_000_000) + F.col("s_suppkey")).alias(
        "__bk"
    )
    best = (
        cand.select("p_partkey", bk)
        .groupBy("p_partkey")
        .agg(F.min("__bk").alias("bk"))
        .withColumnRenamed("p_partkey", "__best_pk")
    )
    return (
        cand.withColumn("__bk", F.col("acctbal_cents") * 10_000_000 + F.col("s_suppkey"))
        .join(best, (F.col("p_partkey") == F.col("__best_pk")) & (F.col("__bk") == F.col("bk")))
        .select(
            "p_partkey", "p_type", "p_size", "s_suppkey", "s_name", "n_name",
            "acctbal_cents",
        )
        .orderBy(F.col("acctbal_cents").desc(), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion across two part rankings (round 13, late)
# ---------------------------------------------------------------------------

_RRF_K = 60            # the standard Cormack/Clarke/Buettcher damping
_RRF_SCALE = 10 ** 9   # 1/(k + r) quantized as FLOOR(1e9 / (k + r))
_RRF_TOPK = 25


@register(
    "xh_rrf_fusion",
    oracle=f"""WITH per_part AS MATERIALIZED (
  SELECT l_partkey AS part,
         CAST(SUM({ocents('l_quantity')}) AS BIGINT) AS qty_c,
         {_REV_SQL.replace('SUM(', 'CAST(SUM(') + ' AS BIGINT)'} AS rev_u
  FROM lineitem GROUP BY l_partkey),
rk AS (
  SELECT part, qty_c, rev_u,
         CAST(ROW_NUMBER() OVER (ORDER BY qty_c DESC, part) AS BIGINT)
           AS r_qty,
         CAST(ROW_NUMBER() OVER (ORDER BY rev_u DESC, part) AS BIGINT)
           AS r_rev
  FROM per_part)
SELECT part, r_qty, r_rev,
       CAST({_RRF_SCALE} // ({_RRF_K} + r_qty)
            + {_RRF_SCALE} // ({_RRF_K} + r_rev) AS BIGINT) AS rrf_q
FROM rk
ORDER BY rrf_q DESC, part LIMIT {_RRF_TOPK}""",
    tags=("tpch", "ranking", "oracle-twin"),
)
def xh_rrf_fusion(spark, sf_dir):
    """Reciprocal-rank fusion of two part rankings (round 13) — the
    standard rank aggregation (Cormack/Clarke/Buettcher, k=60) a
    retrieval or curation stack uses to combine incomparable signals
    without score normalization: here units-sold rank and revenue rank
    fuse into one top-{_RRF_TOPK}, rewarding parts strong on BOTH lists
    over one-list champions. The 1/(k+r) weight is quantized as the
    exact integer FLOOR(1e9/(k+r)) on both engines (the
    xh_resource_allocation discipline) — no float scores anywhere, so
    the fused ranking hash-checks bit-for-bit; rank ties break on part
    key, fusion ties on (score, part).

    Scale shape: the per-part signal frame is ONE uniform partial agg
    (catalog-cardinality output); each GLOBAL rank runs through
    operators/prefix.grouped_rank under a constant group — range-
    partition on the sort key + pid-local windows + O(P) driver offset
    rows, the q35 fix-up — NEVER a single-partition window over the
    catalog; the two rank frames re-join part-keyed; top-K is
    TakeOrderedAndProject."""
    from ..operators.prefix import grouped_rank

    li = tbl(spark, sf_dir, "lineitem")
    per = (
        li.groupBy(F.col("l_partkey").alias("part"))
        .agg(
            F.sum(cents("l_quantity")).cast("long").alias("qty_c"),
            F.sum(
                cents("l_extendedprice") * (F.lit(100) - cents("l_discount"))
            )
            .cast("long")
            .alias("rev_u"),
        )
        .withColumn("__one", F.lit(1))
        .localCheckpoint(eager=False)
    )
    rq = grouped_rank(
        per.withColumn("nq", -F.col("qty_c")),
        ["__one"],
        ["nq", "part"],
        out_col="r_qty",
    ).select("part", "r_qty")
    rr = grouped_rank(
        per.withColumn("nr", -F.col("rev_u")),
        ["__one"],
        ["nr", "part"],
        out_col="r_rev",
    ).select("part", "r_rev")
    return (
        per.select("part")
        .join(rq, "part")
        .join(rr, "part")
        .select(
            "part",
            "r_qty",
            "r_rev",
            F.expr(
                f"CAST({_RRF_SCALE} div ({_RRF_K} + r_qty)"
                f" + {_RRF_SCALE} div ({_RRF_K} + r_rev) AS BIGINT)"
            ).alias("rrf_q"),
        )
        .orderBy(F.col("rrf_q").desc(), "part")
        .limit(_RRF_TOPK)
    )
