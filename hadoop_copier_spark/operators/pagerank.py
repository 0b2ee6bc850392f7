"""PageRank by distributed power iteration — the crawl-graph centrality
signal web-corpus curation uses as a document-quality prior (Common
Crawl's crawl-frontier ranking family: a page/domain linked from many
well-linked pages is likelier to be worth training on than an orphan).

Expressed as DataFrame joins, the same iterative design language as
operators/components.py (Hash-Min CC):

* edges are normalized ONCE into (src, dst, inv_deg = 1/outdeg(src)) —
  out-degree via a window over the (real ∪ self)-edge union partitioned
  by src, so the build is ONE exchange whose output is already
  hash-partitioned on src (r18) — and localCheckpoint'ed: every round
  joins against this frozen frame, so the (possibly expensive) upstream
  edge derivation never re-executes;
* each round is contrib = ranks x edges (equi join on src, shuffles on
  the join key) -> groupBy(dst).sum (one exchange, map-side partial);
  the dangling mass — rank parked on nodes with no out-edges — is a
  filter+aggregate over the rank state (each self-edge row carries its
  vertex's has-out flag through the groupBy, r18) attached via a 1-ROW
  broadcast (the xh_heavy_hitters global-total shape: the nested-loop
  join's build side is provably a single row, so it is the optimal
  plan, and the round stays fully lazy until its single
  convergence-probe action);
* rank state is one (node, rank) table per round, run through
  components.iterate: with ``tol > 0`` the L1-delta convergence probe is
  the round's one action and superseded rounds are freed as the next
  one materializes; with ``tol <= 0`` the rounds chain lazily and one
  eager checkpoint at the end materializes them.

The driver only ever sees the per-round 1-row delta probe (none at all
with ``tol <= 0``) — never data.
At 100 TB edge count dominates; both per-round shuffles are on uniform
join keys, and rounds are O(1/log(1/damping) * log(1/tol)) regardless of
graph size.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .components import iterate, release_local_checkpoint

__all__ = ["pagerank", "pagerank_quantized"]


def _link_frame(
    edges: DataFrame, src: str, dst: str, nodes: Optional[DataFrame], *cols
) -> tuple[DataFrame, int, bool]:
    """(links, n, has_dangling) for both PageRanks. ``links`` holds
    (src, dst, dst_has_out) plus ``cols``, which may read ``is_edge``
    (1 on a real edge, 0 on a self-edge row) and ``outdeg`` (src's real
    out-degree); it is materialized, and the caller releases it. ``n``
    counts vertices and ``has_dangling`` says whether one has no real
    out-edge."""
    # materialize the (possibly expensive) edge derivation ONCE: vert and
    # links both re-read it; released once links is materialized
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint()
    )
    vert = e.select(F.col("src").alias("node")).union(
        e.select(F.col("dst").alias("node"))
    )
    if nodes is not None:
        vert = vert.union(nodes.select(F.col(nodes.columns[0]).alias("node")))
    vert = vert.distinct().localCheckpoint(eager=False)

    # Zero-weight SELF-edges seed every vertex into the contribution
    # aggregate, so new ranks come straight off groupBy(dst) — no
    # per-round "left join the vertex set back in" (one whole join stage
    # per round removed). r18 (guide §2.3/§2.4): the link frame builds
    # with ONE exchange — out-degree comes from a window over the
    # (real ∪ self)-edge union partitioned by src, whose output is
    # ALREADY hash-partitioned on src, replacing the old
    # groupBy(deg) exchange + join + explicit repartition("src") (3
    # exchanges -> 1); each round's join then reuses the checkpointed
    # partitioning instead of re-exchanging the edge set per iteration.
    # The self-edge row (exactly one per vertex) additionally carries
    # dst_has_out = whether its vertex has any real out-edge, so the
    # dangling FLAG rides the per-round groupBy into the new rank state
    # and the per-round dangling mass is a filter+aggregate on ranks —
    # the old per-round ranks⋈dangling join stage is gone.
    from pyspark.sql.window import Window

    links = (
        e.select("src", "dst", F.lit(1).alias("is_edge"))
        .union(
            vert.select(
                F.col("node").alias("src"),
                F.col("node").alias("dst"),
                F.lit(0).alias("is_edge"),
            )
        )
        .withColumn("outdeg", F.sum("is_edge").over(Window.partitionBy("src")))
        .select(
            "src",
            "dst",
            *cols,
            F.when(F.col("is_edge") == 0, F.col("outdeg") > 0).alias("dst_has_out"),
        )
        .localCheckpoint(eager=False)
    )

    # r19 (guide §1.2): ONE setup job replaces three — the global
    # aggregate below materializes the lazy links checkpoint (and vert
    # en route; a global agg touches every partition, so the pinning
    # argument of the lazy-checkpoint discipline holds), and its two
    # counters ARE the old separate probes: n = self-edge rows (exactly
    # one per vertex — the old vert.count()), n_dangling = self-edge
    # rows whose vertex has no real out-edge (the old limit-probe,
    # which could not ride a lazy checkpoint anyway: a limit scan may
    # leave partitions unmaterialized).
    stats = links.agg(
        F.count(F.when(F.col("dst_has_out").isNotNull(), 1)).alias("n"),
        F.count(F.when(~F.col("dst_has_out"), 1)).alias("n_dangling"),
    ).collect()[0]
    for frame in (e, vert):  # links is self-contained now
        release_local_checkpoint(frame)
    return links, int(stats["n"]), int(stats["n_dangling"]) > 0


def _power_iteration(
    links: DataFrame,
    rank: str,
    init: Column,
    contrib: Column,
    share: Optional[Column],
    update: Column,
    rounds: int,
    probe=None,
) -> DataFrame:
    """(node, ``rank``) after ``rounds`` power-iteration rounds over
    ``links`` (see components.iterate for ``probe``), releasing
    ``links``. Every vertex starts at ``init``; per round a link
    carries ``contrib`` (over the joined rank row) to its dst, ``share``
    is each vertex's part of the dangling mass ``dmass`` (None: no
    dangling vertex), and ``update`` is the new rank over ``t``, the
    vertex's contribution total plus its share."""

    def step(ranks: DataFrame) -> DataFrame:
        sums = (
            links.join(ranks, links.src == ranks.node)
            .select("dst", contrib.alias("c"), "dst_has_out")
            .groupBy("dst")
            .agg(
                F.sum("c").alias("contrib"),
                F.max("dst_has_out").alias("has_out"),  # self-edge row only
            )
        )
        t = F.col("contrib")
        if share is not None:
            dang = ranks.where(~F.col("has_out")).agg(
                F.coalesce(F.sum(rank), F.lit(0)).alias("dmass")
            )
            sums = sums.join(F.broadcast(dang))  # 1-row build side
            t = t + share
        return sums.select(
            F.col("dst").alias("node"), t.alias("t"), "has_out"
        ).select("node", update.alias(rank), "has_out")

    # the initial rank state is a NARROW filter+project of the
    # checkpointed links (the self-edge rows — exactly one per vertex):
    # no checkpoint of its own, no setup job (r18); round-1 consumers
    # re-derive it from the checkpoint blocks at projection cost
    ranks = links.where(F.col("dst_has_out").isNotNull()).select(
        F.col("dst").alias("node"),
        init.alias(rank),
        F.col("dst_has_out").alias("has_out"),
    )
    ranks = iterate(ranks, step, rounds, probe)
    release_local_checkpoint(links)
    return ranks.select("node", rank)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-8,
    nodes: Optional[DataFrame] = None,
) -> DataFrame:
    """(node, rank) over the DISTINCT directed edge set; ranks sum to 1
    (dangling mass is redistributed uniformly, the standard stochastic
    completion). ``nodes`` (optional single-column frame) adds isolated
    vertices, which receive the teleport + dangling share. Stops when the
    L1 delta between rounds drops below ``tol`` or after ``max_iter``;
    ``tol <= 0`` runs exactly ``max_iter`` rounds with no per-round
    action (fixed-budget mode). Rounds are not free even then: under AQE
    each round's lazy checkpoint runs its shuffle stages as jobs when it
    is built. Measured warm on 4 cores: 4 Spark jobs a round in
    fixed-budget mode, 9 with the L1 probe (a 255-edge chain), and 43
    jobs per warm call of xp_pagerank (8 rounds, sf0.001)."""
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    links, n, has_dangling = _link_frame(
        edges,
        src,
        dst,
        nodes,
        F.when(F.col("is_edge") == 1, F.lit(1.0) / F.col("outdeg"))
        .otherwise(F.lit(0.0))
        .alias("inv_deg"),
    )

    def l1_converged(new: DataFrame, old: DataFrame) -> bool:
        delta = (
            new.alias("a")
            .join(old.alias("b"), "node")
            .agg(F.sum(F.abs(F.col("a.rank") - F.col("b.rank"))).alias("d"))
            .collect()[0]["d"]
        )
        return delta is not None and delta < tol

    n1 = max(n, 1)  # n == 0 runs no round: the empty state is the result
    return _power_iteration(
        links,
        "rank",
        init=F.lit(1.0 / n1),
        contrib=F.col("rank") * F.col("inv_deg"),
        share=F.col("dmass") / n if has_dangling else None,
        update=F.lit((1.0 - damping) / n1) + F.lit(damping) * F.col("t"),
        rounds=max_iter if n else 0,
        probe=l1_converged if tol > 0.0 else None,
    )


def pagerank_quantized(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    rounds: int = 8,
    total_units: int = 10**12,
    nodes: Optional[DataFrame] = None,
) -> DataFrame:
    """Integer-unit PageRank (round 12, VERDICT r11 #5): the float power
    iteration's cross-engine problem is that per-destination contribution
    SUMS are order-dependent in IEEE arithmetic, so two engines summing
    in different partition orders can differ in the last ulp. This
    variant defines the recurrence ENTIRELY over BIGINT micro-units —
    integer sums are associative-commutative EXACTLY, so any engine that
    mirrors the op tree reproduces every bit:

        base          = total_units div n
        contrib(v)    = sum over u->v of (rank(u) div outdeg(u))
        dmass         = sum of rank over out-degree-0 nodes
        rank'(v)      = (3*base + 17*(contrib(v) + dmass div n)) div 20

    i.e. damping 17/20 = 0.85 as an exact rational; every op is BIGINT
    add/multiply/floor-div on non-negatives. Ranks approximate the float
    iteration to ~rounds/total_units relative error while being
    hash-checkable against a SQL oracle (xh_pagerank_quantized unrolls
    the same ``rounds`` stages as chained CTEs).

    Fixed-budget only (the ``tol <= 0`` mode of :func:`pagerank`, on the
    same link frame and round loop): per round ONE equi join on the
    checkpointed link frame + one partial-agg exchange, dangling mass via
    a 1-row broadcast; the rounds chain lazily and a single eager
    checkpoint materializes them (xh_pagerank_quantized, 8 rounds, runs
    61 Spark jobs per warm call at sf0.001 under AQE). Returns (node,
    rank_units BIGINT); units sum to <= total_units (the floor-division
    remainders are deliberately dropped, identically in both engines)."""
    if rounds < 0:
        raise ValueError("rounds must be non-negative")
    links, n, has_dangling = _link_frame(
        edges, src, dst, nodes, "is_edge", "outdeg"
    )
    base = total_units // max(n, 1)  # n == 0 runs no round
    return _power_iteration(
        links,
        "rank_units",
        init=F.lit(base).cast("long"),
        contrib=F.when(F.col("is_edge") == 1, F.expr("rank_units div outdeg"))
        .otherwise(F.lit(0))
        .cast("long"),
        share=F.expr(f"dmass div {n}") if has_dangling else None,
        update=F.expr(f"CAST(({3 * base} + 17 * t) div 20 AS BIGINT)"),
        rounds=rounds if n else 0,
    )
