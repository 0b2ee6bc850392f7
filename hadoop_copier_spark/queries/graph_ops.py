"""Graph analytics over the co-purchase graph (round 13, late).

The TPC-H-ish tables induce a natural product graph: two parts are
adjacent when some order contains both (the market-basket edge set,
queries/tpch_analogs.py). This module adds the two classic structural
reads a graph-shaped corpus gets before linking/clustering decisions —
exact triangle participation (community density; the building block of
clustering-coefficient audits on near-dup graphs like
xh_multi_signal_dedup's edge set) and the degree distribution (the
skew read that decides salting and the LSH band budget).

Triangle counting is implemented the scale-correct way: edges are
ORIENTED from the lower-(degree, id) endpoint to the higher one, so
every wedge enumeration fans out from the endpoint with the SMALLER
out-degree — the classic compact-forward bound of O(m^1.5) wedges
total regardless of hub skew. An unoriented wedge join explodes
quadratically on the hottest hub (a 10^6-degree hub = 10^12 wedges);
the oriented form caps out-degree at O(sqrt(m)). Both the Spark plan
and the DuckDB oracle use the identical orientation so the result
hash-checks row-for-row.

Reference parity: the reference (a byte-copy service) has no graph
surface; these extend the LLM-pipeline family (SURVEY §2b) beside
xp_pagerank / xh_dedup_clusters, which already walk this shape
iteratively.
"""

from __future__ import annotations

import itertools

from .base import F, tbl
from .registry import register

# Co-purchase edges only count when the pair recurs: a one-off basket
# coincidence is noise at any scale, and the threshold is what keeps the
# closure join's build side sparse (measured: 2.3k/3.4k/3.6k edges at
# sf0.001/0.01/0.1 vs 8.9k/116k/1.2M unthresholded).
_MIN_COPURCHASE = 2

# MATERIALIZED is load-bearing: DuckDB re-evaluates non-materialized
# CTEs per reference, and the graph oracles fan out multiplicatively
# (triangle's nodes->tri->oe chain re-ran this self-join ~27x at sf1,
# spilling >80 GB of temp — the round-15 sf1 sweep finding).
_EDGES_SQL = """li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING COUNT(*) >= {thr})"""


# Session-scoped staging cache: TEN registry operators probe the same
# materialized co-purchase graph, so the build runs once per (session,
# sf_dir) and every later op reads the checkpointed result — the "stage
# the dimension once, probe it many times" pattern a production graph
# pipeline uses (the xp_training_pipeline snapshot amortization;
# measured ~2.3 s/op saved at sf0.1). Since round 14 (VERDICT r13 #5)
# the cache holds ONE WEIGHTED (u, v, w) frame per (session, sf_dir) —
# both consumer thresholds (thr=2 for the nine thresholded ops, thr=1
# for xh_degree_distribution) derive from it by a row-local filter, so
# the basket-expansion pipeline and its order-keyed exchange run once,
# not once per threshold. The frame is a lazily localCheckpoint'ed
# DOMAIN-BOUNDED frame (1.2M unthresholded edges at sf0.1, growing with
# the part catalog and basket width, not the corpus); the key includes
# applicationId so a restarted session never references another JVM's
# checkpoint blocks.
_EDGE_CACHE: dict = {}


def _weighted_edges(spark, sf_dir):
    """Co-purchase multiplicity frame (u < v, both BIGINT, w = number of
    orders containing the pair), localCheckpoint'ed and cached per
    (session, sf_dir). Every graph operator's edge set is a filter of
    this ONE frame.

    ONE (orderkey) exchange builds sorted distinct baskets; the C(n,2)
    pair expansion is ROW-LOCAL (nested transform over the sorted
    array, so u < v by construction) — measured 2.5x faster at sf0.1
    than the distinct + per-order self-join spelling, which shuffles
    the (order, part) rows three times where this shuffles them once.
    Fan-out stays basket-bounded either way; the (u, v) rollup is the
    one corpus-scale exchange."""
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _EDGE_CACHE.get(key)
    if hit is not None:
        return hit
    # ADVICE r15: evict entries from dead sessions on insert (their
    # checkpoint blocks are gone with the old JVM context anyway) so a
    # long-lived process that restarts Spark doesn't accumulate them.
    for stale in [k for k in _EDGE_CACHE if k[0] != key[0]]:
        del _EDGE_CACHE[stale]
    li = tbl(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    )
    baskets = li.groupBy("o").agg(F.array_sort(F.collect_set("p")).alias("arr"))
    pairs = baskets.select(
        F.explode(
            F.expr(
                "flatten(transform(arr, (x, i) ->"
                " transform(slice(arr, i + 2, size(arr)),"
                " y -> struct(x AS u, y AS v))))"
            )
        ).alias("e")
    ).select("e.u", "e.v")
    out = (
        pairs.groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .localCheckpoint(eager=False)
    )
    _EDGE_CACHE[key] = out
    return out


def _edges(spark, sf_dir, thr=_MIN_COPURCHASE):
    """Thresholded co-purchase edge set (u < v), derived from the ONE
    shared weighted build (VERDICT r13 #5 — the basket-expansion
    pipeline never runs twice). Two-level staging, both measured at
    sf0.1: thr=1 is a no-op filter and reads the weighted checkpoint
    directly (one consumer); thr>=2 additionally checkpoints its ~3.6k
    surviving rows, because the NINE thresholded consumers reference
    their edge frame 3-5x per query each — re-filtering the 1.2M-row
    weighted frame per reference cost ~1 s/op (measured 1.7 s vs 0.96 s
    for triangle_count), while the derived checkpoint restores r13
    consumer walls AND keeps the single shared build."""
    w = _weighted_edges(spark, sf_dir)
    mkey = (spark.sparkContext.applicationId, sf_dir, "materialized")
    if thr <= 1:
        # ADVICE r14: a thr<=1 consumer (xh_degree_distribution) can
        # reference the frame twice (unionAll of the u/v selects); if it
        # is the FIRST graph op in the session the lazy checkpoint would
        # let both branches recompute the post-shuffle build tail. Force
        # the checkpoint with one cheap action before handing it out —
        # the same one-pass rationale as the eager derived frame below.
        if not _EDGE_CACHE.get(mkey):
            w.count()
            _EDGE_CACHE[mkey] = True
        return w.select("u", "v")
    key = (spark.sparkContext.applicationId, sf_dir, thr)
    hit = _EDGE_CACHE.get(key)
    if hit is not None:
        return hit
    # EAGER: materializing the derived frame in its own job also
    # materializes the weighted checkpoint exactly once as a side
    # effect. Left lazy, the first consumer's 3-5 parallel references
    # each recompute the post-shuffle tail of the build before the
    # cache fills (measured 10.6 s vs 4.5 s for the first graph op at
    # sf0.1); eager pins the build at one pass.
    out = (
        w.where(F.col("w") >= thr)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    _EDGE_CACHE[key] = out
    _EDGE_CACHE[mkey] = True  # the eager job materialized the build too
    return out


@register(
    "xh_triangle_count",
    oracle=f"""WITH {_EDGES_SQL.format(thr=_MIN_COPURCHASE)},
dg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) t
       GROUP BY node),
oe AS MATERIALIZED (SELECT CASE WHEN du.deg < dv.deg
                     OR (du.deg = dv.deg AND e.u < e.v) THEN e.u ELSE e.v
              END AS s,
              CASE WHEN du.deg < dv.deg
                     OR (du.deg = dv.deg AND e.u < e.v) THEN e.v ELSE e.u
              END AS t
       FROM e JOIN dg du ON du.node = e.u JOIN dg dv ON dv.node = e.v),
tri AS MATERIALIZED (SELECT w1.s AS a, w1.t AS b, w2.t AS c
        FROM oe w1
        JOIN oe w2 ON w2.s = w1.s AND w2.t <> w1.t
        JOIN oe w3 ON w3.s = w1.t AND w3.t = w2.t),
nodes AS (SELECT a AS part FROM tri UNION ALL
          SELECT b FROM tri UNION ALL SELECT c FROM tri)
SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY part ORDER BY part""",
    tags=("graph", "llm", "stats"),
)
def xh_triangle_count(spark, sf_dir):
    """Exact per-node triangle participation in the thresholded
    co-purchase graph (round 13): for every part in a triangle of
    mutually co-purchased parts, how many triangles it closes — the
    local-density signal behind clustering-coefficient audits (on a
    near-dup edge set, triangle-rich neighborhoods are the clusters
    worth verifying; on a product graph, they are bundles).

    Scale shape: the edge list builds from sorted distinct baskets with
    ROW-LOCAL C(items,2) pair expansion (one order-keyed exchange — see
    _edges) into ONE uniform (u,v) partial agg; HAVING w >= 2 keeps it
    sparse. Triangles use compact-forward orientation: each edge
    points from its lower-(degree, id) endpoint, wedges enumerate from
    out-neighbor lists whose length is capped at O(sqrt(m)), and the
    closure is ONE (b,c)-keyed equi join back onto the oriented edges
    — never an unoriented wedge explosion, never a cartesian. Degree
    frame is edge-derived (2 rows per edge), domain-bounded; all joins
    node-keyed and unhinted (parts grow with the catalog — the
    broadcast-audit rule)."""
    e = _edges(spark, sf_dir)
    dg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = dg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = dg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    w1 = oe.select(F.col("s").alias("a"), F.col("t").alias("b"))
    w2 = oe.select(F.col("s").alias("a"), F.col("t").alias("c"))
    w3 = oe.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = (
        w1.join(w2, "a")
        .where(F.col("b") != F.col("c"))  # ordered wedge (b,c)
        .join(w3, ["b", "c"])  # closure: exactly one orientation matches
        .select("a", "b", "c")
    )
    nodes = (
        tri.select(F.col("a").alias("part"))
        .unionAll(tri.select(F.col("b").alias("part")))
        .unionAll(tri.select(F.col("c").alias("part")))
    )
    return (
        nodes.groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
        .orderBy("part")
    )


@register(
    "xh_degree_distribution",
    oracle="""WITH li AS (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS (
  SELECT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p),
dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) t
       GROUP BY node)
SELECT deg AS degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
FROM dg GROUP BY deg ORDER BY deg""",
    tags=("graph", "stats"),
)
def xh_degree_distribution(spark, sf_dir):
    """Degree distribution of the FULL (unthresholded) co-purchase
    graph (round 13): how many parts have each co-purchase degree —
    the skew read taken before any graph-shaped job (a heavy-tail head
    here is the hub that explodes an unoriented wedge join, the key a
    salted repartition targets, and the node PageRank's partial-agg
    exchange concentrates on). Companion to xh_triangle_count (which
    consumes the thresholded edge set) and xh_heavy_hitters (value
    skew).

    Scale shape: distinct (order, part) -> per-order bounded self-join
    -> ONE uniform (u,v) partial agg = the edge list; degrees are 2
    edge-derived rows per edge through a second uniform agg; the
    histogram collapses node-cardinality rows to degree-cardinality
    rows in a third. No window, no driver loop, output is
    histogram-sized at any corpus."""
    e = _edges(spark, sf_dir, thr=1)
    dg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    return (
        dg.groupBy(F.col("deg").alias("degree"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
        .orderBy("degree")
    )


# Fixed peel budget (the pagerank/pca fixed-round discipline): both
# engines run EXACTLY this many peel rounds, so the output is defined —
# and hash-checkable — whether or not the peel has converged. k=2 with 4
# rounds shows real dynamics on every fixture (sf0.1 thresholded graph:
# 1067 -> 138 -> 22 -> 7 surviving nodes).
_KCORE_K = 2
_KCORE_ROUNDS = 4


def _kcore_oracle() -> str:
    """Unrolled chained-CTE mirror of the Spark peel loop: one
    (d{i}, n{i}, e{i}) triple per round — no recursive CTE needed, the
    round budget is a shared constant."""
    parts = [
        "WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem)",
        "e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v"
        " FROM li a JOIN li b ON a.o = b.o AND a.p < b.p"
        f" GROUP BY a.p, b.p HAVING COUNT(*) >= {_MIN_COPURCHASE})",
    ]
    for i in range(1, _KCORE_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT node, COUNT(*) AS deg FROM ("
            f"SELECT u AS node FROM e{p} UNION ALL SELECT v FROM e{p}) t"
            " GROUP BY node)"
        )
        parts.append(
            f"n{i} AS MATERIALIZED (SELECT node FROM d{i} WHERE deg >= {_KCORE_K})"
        )
        parts.append(
            f"e{i} AS MATERIALIZED (SELECT u, v FROM e{p}"
            f" WHERE u IN (SELECT node FROM n{i})"
            f" AND v IN (SELECT node FROM n{i}))"
        )
    last = _KCORE_ROUNDS
    return (
        ",\n".join(parts)
        + f"""
SELECT node AS part, CAST(COUNT(*) AS BIGINT) AS deg FROM (
  SELECT u AS node FROM e{last} UNION ALL SELECT v FROM e{last}) t
GROUP BY node ORDER BY node"""
    )


@register(
    "xh_kcore_peel",
    oracle=_kcore_oracle(),
    tags=("graph", "iterative", "stats"),
)
def xh_kcore_peel(spark, sf_dir):
    """Fixed-budget k-core peeling (round 13): {rounds} rounds of
    "drop nodes with degree < {k}" over the thresholded co-purchase
    graph, emitting the surviving subgraph's degree table — the classic
    community-density filter (the k-core is where cohesive structure
    lives; on a near-dup edge set it is the dense cluster worth a
    verify pass, and the peel ORDER is the coreness signal). Joins the
    iterative family (PageRank, PCA power, CC pointer-jumping) with the
    same determinism contract: a FIXED round budget both engines run,
    so the result is defined and hash-exact even mid-convergence.

    Scale shape: the edge set builds once (basket-bounded expansion +
    ONE uniform (u,v) agg, shared via _weighted_edges); each peel round
    is ONE degree partial agg (2 edge-derived rows per edge) + two
    node-keyed SEMI joins. The rounds run through
    operators.components.iterate as one lazy checkpoint chain that a
    single eager checkpoint materializes, so each round reads the last
    one's checkpoint, never its lineage; the chain's own frames are
    freed after that, and the shared _EDGE_CACHE frame — six other
    operators read it — is the loop's input, which iterate never
    releases (VERDICT r13 #4). Rounds are a constant, not
    data-dependent, so the job count is bounded at any corpus size."""
    from ..operators.components import iterate

    def peel(e):
        dg = (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = dg.where(F.col("deg") >= _KCORE_K).select("node")
        return (
            e.join(keep.withColumnRenamed("node", "u"), "u", "semi")
            .join(keep.withColumnRenamed("node", "v"), "v", "semi")
            .select("u", "v")
        )

    e = iterate(_edges(spark, sf_dir), peel, _KCORE_ROUNDS)
    return (
        e.select(F.col("u").alias("part"))
        .unionAll(e.select(F.col("v").alias("part")))
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
        .orderBy("part")
    )


xh_kcore_peel.__doc__ = xh_kcore_peel.__doc__.format(
    rounds=_KCORE_ROUNDS, k=_KCORE_K
)


# Common-neighbor counting enumerates wedges from each CENTER, and a
# center contributes deg^2 wedges — the one graph shape orientation
# cannot fix (the wedge count IS the answer). The hub cap is therefore
# the honest scale bound: centers above it are excluded ON BOTH ENGINES
# (hash still matches) and at 100 TB the cap is the knob that keeps the
# wedge volume linear-ish (the LSH-band discipline: bound the bucket,
# log what was dropped). Fixture graphs max out at degree 51, so the
# cap excludes nothing here — it exists for the 1e6-degree hub.
_CN_HUB_CAP = 64
_CN_TOPK = 25


@register(
    "xh_common_neighbors",
    oracle=f"""WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING COUNT(*) >= {_MIN_COPURCHASE}),
adj AS (SELECT u AS ctr, v AS nbr FROM e
        UNION ALL SELECT v AS ctr, u AS nbr FROM e),
dg AS (SELECT ctr, COUNT(*) AS deg FROM adj GROUP BY ctr),
sm AS (SELECT adj.ctr, adj.nbr FROM adj JOIN dg USING (ctr)
       WHERE dg.deg <= {_CN_HUB_CAP}),
wedge AS (SELECT a.nbr AS x, b.nbr AS y
          FROM sm a JOIN sm b ON a.ctr = b.ctr AND a.nbr < b.nbr),
cnt AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n_common
        FROM wedge GROUP BY x, y),
new_pairs AS (
  SELECT c.x, c.y, c.n_common FROM cnt c
  LEFT JOIN e ON e.u = c.x AND e.v = c.y
  WHERE e.u IS NULL)
SELECT x AS part_a, y AS part_b, n_common
FROM new_pairs ORDER BY n_common DESC, x, y LIMIT {_CN_TOPK}""",
    tags=("graph", "llm", "link-prediction"),
)
def xh_common_neighbors(spark, sf_dir):
    """Common-neighbors link prediction (round 13): the top NON-adjacent
    part pairs ranked by shared co-purchase neighbors — the classic
    candidate generator (Liben-Nowell/Kleinberg) behind "customers who
    bought these also bought" and, on a near-dup graph, the transitive-
    closure candidates a verify pass should test next. Exact counts,
    deterministic (count desc, pair) order, hash-checked.

    Scale shape: wedge volume from a center is deg^2 — the one graph
    fan-out orientation cannot reduce, because the pair counts ARE the
    output; the HUB CAP (degree <= 64, applied identically in both
    engines) is the declared bound that keeps it linear at 100 TB (the
    LSH-bucket discipline: bound the bucket, document the drop). The
    wedge join is ONE center-keyed equi self-join of the capped
    adjacency; the pair rollup is one uniform agg; existing edges leave
    via a pair-keyed LEFT ANTI; top-K is TakeOrderedAndProject."""
    e = _edges(spark, sf_dir)
    adj = (
        e.select(F.col("u").alias("ctr"), F.col("v").alias("nbr"))
        .unionAll(e.select(F.col("v").alias("ctr"), F.col("u").alias("nbr")))
    )
    dg = adj.groupBy("ctr").agg(F.count(F.lit(1)).alias("deg"))
    sm = adj.join(dg.where(F.col("deg") <= _CN_HUB_CAP), "ctr").select(
        "ctr", "nbr"
    )
    a = sm.select("ctr", F.col("nbr").alias("x"))
    b = sm.select("ctr", F.col("nbr").alias("y"))
    cnt = (
        a.join(b, "ctr")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    new_pairs = cnt.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    return (
        new_pairs.select(
            F.col("x").alias("part_a"), F.col("y").alias("part_b"), "n_common"
        )
        .orderBy(F.col("n_common").desc(), "part_a", "part_b")
        .limit(_CN_TOPK)
    )


@register(
    "xh_degree_assortativity",
    oracle=f"""WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING COUNT(*) >= {_MIN_COPURCHASE}),
dg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) t
       GROUP BY node),
stubs AS (SELECT du.deg AS x, dv.deg AS y
          FROM e JOIN dg du ON du.node = e.u JOIN dg dv ON dv.node = e.v
          UNION ALL
          SELECT dv.deg AS x, du.deg AS y
          FROM e JOIN dg du ON du.node = e.u JOIN dg dv ON dv.node = e.v),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx
      FROM stubs)
SELECT n AS n_stubs,
       CAST(sx * 1000000 // n AS BIGINT) AS mean_stub_deg_ppm,
       CAST((n*sxy - sx*sx) * 1000000 // (n*n) AS BIGINT) AS deg_cov_ppm,
       CAST(CASE WHEN n*sxx - sx*sx = 0 THEN 0
                 ELSE (n*sxy - sx*sx) * 1000000 // (n*sxx - sx*sx)
            END AS BIGINT) AS assortativity_ppm
FROM s""",
    tags=("graph", "stats"),
)
def xh_degree_assortativity(spark, sf_dir):
    """Degree assortativity (round 13): Newman's r over the co-purchase
    graph — do hubs link to hubs (r > 0, social-network shape) or to
    leaves (r < 0, hub-and-spoke)? The sign decides which end of a
    graph job skews first. Computed over ordered edge stubs (each edge
    contributes both orientations, so the x and y marginals coincide
    and Pearson's r needs no square root: r = cov/var with a SHARED
    variance — exactly the case integer ppm division can express).
    Hash-exact: degree sums stay BIGINT; cov, var and r emit in
    truncating ppm.

    Scale shape: degrees derive from the edge list (2 rows/edge, one
    uniform agg); the stub frame is two node-keyed probe joins of that
    domain-bounded degree table back onto edges; the 4 moment sums fold
    partial->final. No window, no driver loop, O(1) output."""
    e = _edges(spark, sf_dir)
    dg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = dg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = dg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    both = e.join(du, "u").join(dv, "v")
    stubs = both.select(
        F.col("du").alias("x"), F.col("dv").alias("y")
    ).unionAll(both.select(F.col("dv").alias("x"), F.col("du").alias("y")))
    s = stubs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return s.select(
        F.col("n").alias("n_stubs"),
        F.expr("CAST(sx * 1000000 div n AS BIGINT)").alias(
            "mean_stub_deg_ppm"
        ),
        F.expr(
            "CAST((n*sxy - sx*sx) * 1000000 div (n*n) AS BIGINT)"
        ).alias("deg_cov_ppm"),
        F.expr(
            "CAST(CASE WHEN n*sxx - sx*sx = 0 THEN 0"
            " ELSE (n*sxy - sx*sx) * 1000000 div (n*sxx - sx*sx)"
            " END AS BIGINT)"
        ).alias("assortativity_ppm"),
    )


@register(
    "xh_clustering_coefficient",
    oracle=f"""WITH {_EDGES_SQL.format(thr=_MIN_COPURCHASE)},
dg AS MATERIALIZED (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
         SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e) t
       GROUP BY node),
oe AS MATERIALIZED (SELECT CASE WHEN du.deg < dv.deg
                     OR (du.deg = dv.deg AND e.u < e.v) THEN e.u ELSE e.v
              END AS s,
              CASE WHEN du.deg < dv.deg
                     OR (du.deg = dv.deg AND e.u < e.v) THEN e.v ELSE e.u
              END AS t
       FROM e JOIN dg du ON du.node = e.u JOIN dg dv ON dv.node = e.v),
tri AS MATERIALIZED (SELECT w1.s AS a, w1.t AS b, w2.t AS c
        FROM oe w1
        JOIN oe w2 ON w2.s = w1.s AND w2.t <> w1.t
        JOIN oe w3 ON w3.s = w1.t AND w3.t = w2.t),
tcnt AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
           SELECT a AS node FROM tri UNION ALL
           SELECT b FROM tri UNION ALL SELECT c FROM tri) x
         GROUP BY node)
SELECT dg.node AS part, dg.deg,
       CAST(COALESCE(tcnt.n_tri, 0) AS BIGINT) AS n_triangles,
       CAST(COALESCE(tcnt.n_tri, 0) * 2 * 1000000
            // (dg.deg * (dg.deg - 1)) AS BIGINT) AS cc_ppm
FROM dg LEFT JOIN tcnt ON tcnt.node = dg.node
WHERE dg.deg >= 2
ORDER BY dg.node""",
    tags=("graph", "stats"),
)
def xh_clustering_coefficient(spark, sf_dir):
    """Local clustering coefficient (round 13): per node, the fraction
    of its neighbor pairs that are themselves connected — 2T(v) /
    (deg(v)(deg(v)-1)) in exact ppm. Completes the structural triad
    (degree = volume, triangles = closed wedges, this = the ratio):
    on a near-dup edge set a HIGH coefficient neighborhood is a
    coherent duplicate cluster while a low one around a high-degree
    node is the chaining artifact xh_multi_signal_dedup's CC would
    over-merge — the diagnostic read before trusting transitive
    closure. Nodes of degree < 2 (coefficient undefined) are excluded
    on both engines.

    Scale shape: reuses the compact-forward oriented triangle plan
    verbatim (O(m^1.5) wedges regardless of hub skew) plus the
    edge-derived degree frame; the final LEFT probe is node-keyed onto
    the domain-bounded degree table; the ppm division is exact BIGINT.
    No new exchange class over xh_triangle_count."""
    e = _edges(spark, sf_dir)
    dg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = dg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = dg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("s"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("t"),
        )
    )
    w1 = oe.select(F.col("s").alias("a"), F.col("t").alias("b"))
    w2 = oe.select(F.col("s").alias("a"), F.col("t").alias("c"))
    w3 = oe.select(F.col("s").alias("b"), F.col("t").alias("c"))
    tri = (
        w1.join(w2, "a")
        .where(F.col("b") != F.col("c"))
        .join(w3, ["b", "c"])
        .select("a", "b", "c")
    )
    tcnt = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return (
        dg.where(F.col("deg") >= 2)
        .join(tcnt, "node", "left")
        .select(
            F.col("node").alias("part"),
            "deg",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias(
                "n_triangles"
            ),
            F.expr(
                "CAST(COALESCE(n_tri, 0) * 2 * 1000000"
                " div (deg * (deg - 1)) AS BIGINT)"
            ).alias("cc_ppm"),
        )
        .orderBy("part")
    )


_RA_SCALE = 1_000_000_000  # 1/deg quantized as FLOOR(1e9 / deg)


@register(
    "xh_resource_allocation",
    oracle=f"""WITH li AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
e AS MATERIALIZED (
  SELECT a.p AS u, b.p AS v
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
  GROUP BY a.p, b.p HAVING COUNT(*) >= {_MIN_COPURCHASE}),
adj AS (SELECT u AS ctr, v AS nbr FROM e
        UNION ALL SELECT v AS ctr, u AS nbr FROM e),
dg AS (SELECT ctr, CAST(COUNT(*) AS BIGINT) AS deg FROM adj GROUP BY ctr),
sm AS (SELECT adj.ctr, adj.nbr,
              CAST({_RA_SCALE} // dg.deg AS BIGINT) AS w
       FROM adj JOIN dg USING (ctr)
       WHERE dg.deg <= {_CN_HUB_CAP}),
wedge AS (SELECT a.nbr AS x, b.nbr AS y, a.w
          FROM sm a JOIN sm b ON a.ctr = b.ctr AND a.nbr < b.nbr),
cnt AS (SELECT x, y, CAST(SUM(w) AS BIGINT) AS ra_score_q,
               CAST(COUNT(*) AS BIGINT) AS n_common
        FROM wedge GROUP BY x, y),
new_pairs AS (
  SELECT c.x, c.y, c.ra_score_q, c.n_common FROM cnt c
  LEFT JOIN e ON e.u = c.x AND e.v = c.y
  WHERE e.u IS NULL)
SELECT x AS part_a, y AS part_b, ra_score_q, n_common
FROM new_pairs ORDER BY ra_score_q DESC, x, y LIMIT {_CN_TOPK}""",
    tags=("graph", "llm", "link-prediction"),
)
def xh_resource_allocation(spark, sf_dir):
    """Resource-allocation link prediction (round 13) — the hub-aware
    refinement of xh_common_neighbors (Zhou/Lu/Zhang): each shared
    neighbor contributes 1/deg(center) instead of 1, so a pair whose
    only witnesses are promiscuous hubs (the chaining artifacts a
    transitive dedup closure over-merges) ranks far below a pair
    sharing selective neighbors. The 1/deg weight is quantized as the
    exact integer FLOOR(1e9 / deg) on BOTH engines — no floating
    reciprocal, hash-exact (the integer-unit quantization discipline);
    side-by-side with raw n_common the two rankings isolate exactly
    the hub-witness effect.

    Scale shape: identical exchanges to xh_common_neighbors — the
    center fan-out is deg^2 and the counts ARE the output, so the
    DECLARED hub cap (deg <= 64, identical both engines) is the bound;
    the weight attaches during the cap's own degree join (no new
    exchange); ONE center-keyed self-join, one uniform (x, y) rollup,
    pair-keyed LEFT ANTI vs existing edges, TakeOrderedAndProject."""
    e = _edges(spark, sf_dir)
    adj = (
        e.select(F.col("u").alias("ctr"), F.col("v").alias("nbr"))
        .unionAll(e.select(F.col("v").alias("ctr"), F.col("u").alias("nbr")))
    )
    dg = adj.groupBy("ctr").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    sm = (
        adj.join(dg.where(F.col("deg") <= _CN_HUB_CAP), "ctr")
        .select(
            "ctr",
            "nbr",
            F.expr(f"CAST({_RA_SCALE} div deg AS BIGINT)").alias("w"),
        )
    )
    a = sm.select("ctr", F.col("nbr").alias("x"), "w")
    b = sm.select("ctr", F.col("nbr").alias("y"))
    cnt = (
        a.join(b, "ctr")
        .where(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(
            F.sum("w").cast("long").alias("ra_score_q"),
            F.count(F.lit(1)).cast("long").alias("n_common"),
        )
    )
    new_pairs = cnt.join(
        e.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"],
        "left_anti",
    )
    return (
        new_pairs.select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "ra_score_q",
            "n_common",
        )
        .orderBy(F.col("ra_score_q").desc(), "part_a", "part_b")
        .limit(_CN_TOPK)
    )


# Fixed BFS budget (the kcore/pagerank fixed-round discipline): both
# engines expand EXACTLY this many hops from the seed, so the frontier
# table is defined — and hash-checkable — whether or not the component
# is exhausted. 4 hops covers the fixture graphs' small diameters while
# still leaving unreached nodes at sf0.001 (mid-traversal state is the
# case worth pinning).
_BFS_ROUNDS = 4


def _bfs_oracle() -> str:
    """Unrolled chained-CTE mirror of the Spark hop loop: one (f{i},
    h{i}) pair per hop — no recursive CTE, the hop budget is a shared
    constant (the _kcore_oracle construction)."""
    parts = [
        "WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem)",
        "e AS MATERIALIZED (SELECT a.p AS u, b.p AS v"
        " FROM li a JOIN li b ON a.o = b.o AND a.p < b.p"
        f" GROUP BY a.p, b.p HAVING COUNT(*) >= {_MIN_COPURCHASE})",
        "adj AS (SELECT u AS ctr, v AS nbr FROM e"
        " UNION ALL SELECT v AS ctr, u AS nbr FROM e)",
        "h0 AS (SELECT MIN(u) AS node, CAST(0 AS BIGINT) AS hop FROM e"
        " HAVING MIN(u) IS NOT NULL)",
    ]
    for i in range(1, _BFS_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"f{i} AS MATERIALIZED (SELECT DISTINCT adj.nbr AS node FROM adj"
            f" JOIN h{p} ON adj.ctr = h{p}.node AND h{p}.hop = {p}"
            f" WHERE adj.nbr NOT IN (SELECT node FROM h{p}))"
        )
        parts.append(
            f"h{i} AS MATERIALIZED (SELECT node, hop FROM h{p}"
            f" UNION ALL SELECT node, CAST({i} AS BIGINT) FROM f{i})"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node AS part, hop FROM h{_BFS_ROUNDS} ORDER BY part"
    )


@register(
    "xh_bfs_hops",
    oracle=_bfs_oracle(),
    tags=("graph", "iterative", "stats"),
)
def xh_bfs_hops(spark, sf_dir):
    """Fixed-budget BFS levels (round 14): the minimal-hop distance of
    every part reachable within {rounds} hops of the DETERMINISTIC seed
    (the minimum node id in the thresholded co-purchase graph) — the
    neighborhood-expansion read behind "related products within k
    clicks" and, on a near-dup graph, the blast-radius probe around a
    flagged document before trusting a transitive merge. Completes the
    iterative-traversal family (PageRank = weighted stationary, CC =
    global closure, k-core = density peel, this = distance): same
    determinism contract, a FIXED hop budget both engines run, so the
    result is defined and hash-exact even mid-traversal.

    Scale shape: the edge set is the shared checkpointed frame
    (_weighted_edges — a filter, no rebuild); each hop is ONE node-keyed
    equi join of the domain-bounded adjacency against the current
    frontier + one ANTI join against the labeled set. Hops run through
    operators.components.iterate (the k-core loop): a lazy checkpoint
    chain one eager checkpoint materializes, so hop i+1 reads hop i's
    checkpoint, never its lineage; the shared edge cache is never a
    cleanup target. Labeled-set size is bounded by the reached
    component, hops are a constant, and the seed is a 1-row aggregate,
    never a collect."""
    from ..operators.components import iterate

    e = _edges(spark, sf_dir)
    adj = (
        e.select(F.col("u").alias("ctr"), F.col("v").alias("nbr"))
        .unionAll(e.select(F.col("v").alias("ctr"), F.col("u").alias("nbr")))
    )
    seed = (
        e.agg(F.min("u").alias("node"))
        .where(F.col("node").isNotNull())
        .select("node", F.lit(0).cast("long").alias("hop"))
    )

    hops = itertools.count(1)  # iterate calls expand once per hop, in order

    def expand(labeled):
        i = next(hops)
        frontier = labeled.where(F.col("hop") == i - 1).select(
            F.col("node").alias("ctr")
        )
        new = (
            adj.join(frontier, "ctr")
            .select(F.col("nbr").alias("node"))
            .distinct()
            .join(labeled.select("node"), "node", "anti")
            .select("node", F.lit(i).cast("long").alias("hop"))
        )
        return labeled.unionByName(new)

    labeled = iterate(seed, expand, _BFS_ROUNDS)
    return labeled.select(F.col("node").alias("part"), "hop").orderBy("part")


xh_bfs_hops.__doc__ = xh_bfs_hops.__doc__.format(rounds=_BFS_ROUNDS)


# Fixed LPA budget (the kcore/BFS discipline): both engines run EXACTLY
# this many label-update rounds with the deterministic (count DESC,
# label ASC) tie-break, so the communities are defined — and
# hash-checkable — whether or not propagation has converged.
_LPA_ROUNDS = 3


def _lpa_oracle() -> str:
    """Unrolled chained-CTE mirror of the Spark label loop (the
    _kcore_oracle construction): per round, every node adopts the most
    frequent label among its neighbors, ties to the smallest label."""
    parts = [
        "WITH li AS MATERIALIZED (SELECT DISTINCT l_orderkey AS o,"
        " l_partkey AS p FROM lineitem)",
        "e AS MATERIALIZED (SELECT a.p AS u, b.p AS v"
        " FROM li a JOIN li b ON a.o = b.o AND a.p < b.p"
        f" GROUP BY a.p, b.p HAVING COUNT(*) >= {_MIN_COPURCHASE})",
        "adj AS (SELECT u AS ctr, v AS nbr FROM e"
        " UNION ALL SELECT v AS ctr, u AS nbr FROM e)",
        "l0 AS (SELECT DISTINCT ctr AS node, ctr AS lbl FROM adj)",
    ]
    for i in range(1, _LPA_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"l{i} AS MATERIALIZED (SELECT node, lbl FROM ("
            f" SELECT a.nbr AS node, l.lbl, COUNT(*) AS cnt,"
            f" ROW_NUMBER() OVER (PARTITION BY a.nbr"
            f"   ORDER BY COUNT(*) DESC, l.lbl) AS rn"
            f" FROM adj a JOIN l{p} l ON l.node = a.ctr"
            f" GROUP BY a.nbr, l.lbl) WHERE rn = 1)"
        )
    return (
        ",\n".join(parts)
        + f"""
SELECT node AS part, CAST(lbl AS BIGINT) AS community
FROM l{_LPA_ROUNDS} ORDER BY part"""
    )


@register(
    "xh_label_propagation",
    oracle=_lpa_oracle(),
    tags=("graph", "iterative", "llm"),
)
def xh_label_propagation(spark, sf_dir):
    """Fixed-budget label propagation communities (round 14): {rounds}
    synchronous LPA rounds over the thresholded co-purchase graph —
    every node adopts the most frequent label among its NEIGHBORS, ties
    broken to the SMALLEST label (Raghavan et al.'s LPA made
    deterministic: the random tie-break that makes textbook LPA
    non-reproducible is replaced by a total order both engines share).
    Communities are the cheap first cut before modularity-grade
    clustering — on a near-dup graph they approximate the duplicate
    clusters CC finds, but respect LOCAL majority (a thin bridge
    between two dense groups does not merge them in {rounds} rounds,
    exactly the chaining artifact transitive closure over-merges).
    Completes the iterative quartet's community member (PageRank /
    CC / k-core / BFS / this) under the same fixed-budget hash-exact
    contract.

    Scale shape: the edge set is the shared checkpointed frame; each
    round is ONE node-keyed equi join (labels onto the domain-bounded
    adjacency), ONE uniform (node, label) partial agg, and a min_by
    struct argmax folded INSIDE the same agg's final step (never a
    per-node sort; candidate labels per node are degree-bounded); the
    rounds run through operators.components.iterate (the k-core loop:
    one lazy checkpoint chain, one eager checkpoint, the shared cache is
    never a cleanup target). Round count is a constant."""
    from ..operators.components import iterate

    e = _edges(spark, sf_dir)
    adj = (
        e.select(F.col("u").alias("ctr"), F.col("v").alias("nbr"))
        .unionAll(e.select(F.col("v").alias("ctr"), F.col("u").alias("nbr")))
    )

    def relabel(labels):
        cnt = (
            adj.join(
                labels.select(F.col("node").alias("ctr"), "lbl"), "ctr"
            )
            .groupBy(F.col("nbr").alias("node"), "lbl")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return (
            cnt.groupBy("node")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("a"), F.col("lbl").alias("l")))
                .alias("m")
            )
            .select("node", F.col("m.l").alias("lbl"))
        )

    labels = iterate(
        adj.select(F.col("ctr").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lbl")),
        relabel,
        _LPA_ROUNDS,
    )
    return (
        labels.select(F.col("node").alias("part"), F.col("lbl").cast("long").alias("community"))
        .orderBy("part")
    )


xh_label_propagation.__doc__ = xh_label_propagation.__doc__.format(
    rounds=_LPA_ROUNDS
)
