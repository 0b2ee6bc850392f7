"""Connected components over a pair/edge DataFrame — the clustering step a
near-dup pipeline needs after LSH verification: candidate pairs form a
graph; each connected component is one duplicate cluster, and the minimum
doc id in the component is the canonical representative.

Algorithm: Hash-Min label propagation with pointer jumping (path
compression). Each round does
  (1) neighbor step   comp[u] <- min over N(u) ∪ {u} of comp[.]
                      (a self-edge per vertex folds the node's own label
                      into the min, so this is ONE join + aggregate)
  (2) jumping step    comp[u] <- min(comp[u], comp[comp[u]])
Pointer jumping shrinks label-chain depth ~3x per round (one neighbor
hop + one compression), so convergence is O(log diameter) rounds instead
of O(diameter) for plain propagation — the difference between ~40 and
~2^40 for a pathological chain. This is the MapReduce-CC family of
Kiveris et al., "Connected Components in MapReduce and Beyond"
(SoCC'14), expressed as DataFrame joins.

At 100 TB: labels and edges are both shuffled on their join keys each
round; edge count, not node count, dominates. State per round is one
(node, comp) table — localCheckpoint truncates the growing lineage so the
plan stays flat (without it, round k replays rounds 1..k-1). The driver
only ever sees a 1-row convergence probe per round, never data.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor-storage blocks behind a localCheckpoint'ed
    DataFrame. Without this, every iterative round (or repeated operator
    invocation in one session) accumulates superseded checkpoint blocks
    until the RDDs happen to be GC'd (ADVICE round 1). The analyzed plan of
    a checkpointed frame is a LogicalRDD whose backing RDD holds the
    blocks; unpersist is best-effort (blocking=False)."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:  # pragma: no cover - plan shape changed / already freed
        pass


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: Optional[DataFrame] = None,
    max_iter: int = 50,
    stats: Optional[dict] = None,
) -> DataFrame:
    """Return (node, component) where component = MIN node id reachable
    from `node` over the undirected edge set. `nodes` (optional, single
    column named like `src`) adds isolated vertices, which label
    themselves.

    ``stats`` (optional out-param, round 18 — an instrumentation hook):
    filled with {"rounds": int,
    "changed_per_round": [int, ...], "n_edges_sym": int, "n_nodes": int}
    so a probe can RECORD the O(log diameter) convergence claim and the
    per-round exchange volumes instead of asserting them in prose. The
    two extra count() jobs run only when stats is requested; the
    production path (stats=None) is unchanged."""
    sym = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    # materialize once, EAGERLY: everything below (vertex frame, self-edge
    # union, initial labels) derives from sym, and the upstream edge
    # derivation (e.g. tokenize + Jaccard verify, or a whole minhash
    # pipeline) must execute exactly once — lazy spellings here were
    # measured re-running it per derived frame (r19).
    sym = (
        sym.union(sym.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint()
    )
    lab = sym.select("u")
    if nodes is not None:
        lab = lab.union(nodes.select(F.col(nodes.columns[0]).alias("u")))
    # one distinct vertex frame (over the CHECKPOINTED edges — cheap)
    # feeds both the self-edge rows and the initial label state; lazy,
    # materialized by the first job that reads the labels below
    verts = lab.distinct().localCheckpoint(eager=False)
    # r19 (guide §2.4): fold the per-round left-join fixup into the edge
    # set — a (u, u) self-edge per vertex makes the neighbor min INCLUDE
    # the node's own label, so each round's neighbor step is one join +
    # one aggregate instead of join + aggregate + left-join-with-
    # coalesce. Rows added: one per vertex, dwarfed by the edge set.
    # Every round joins against sym_all, so it is checkpointed; lazy —
    # round 1 materializes it from the two cached inputs.
    sym_all = sym.unionByName(
        verts.select("u", F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    labels = verts.select(F.col("u").alias("node"), F.col("u").alias("comp"))
    # ADVICE r18 (medium): the SUM(comp) convergence probe is only exact
    # for integral ids — casting a string doc id to decimal yields NULL,
    # every round's sum is NULL, and None == None would end the loop
    # after round 1 with unconverged labels. This generic operator
    # accepts any orderable id type, so non-integral ids take the
    # type-agnostic join-based changed-count probe instead (the pre-r18
    # spelling; one extra join per round, correctness first).
    from pyspark.sql import types as T

    _sum_probe = isinstance(
        labels.schema["comp"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    )
    # with no rounds, no later job may materialize labels before `sym` is released
    labels = labels.localCheckpoint(eager=max_iter <= 0)
    prev_sum = (
        labels.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]
        if _sum_probe
        else None
    )
    if stats is not None:
        # n_edges_sym keeps its pre-r19 meaning: REAL symmetric edges,
        # excluding the self-edge rows the fold added
        stats["n_edges_sym"] = sym.count()
        stats["n_nodes"] = labels.count()
        stats["rounds"] = 0
        stats["changed_per_round"] = []

    for _ in range(max_iter):
        # (1) neighbor step: pull the min label across incoming edges —
        # the self-edge rows make the min include the node's own label,
        # so this one join + aggregate IS the full update (the pre-r19
        # spelling needed a second left join to fix up nodes whose
        # neighborhood had no smaller label).
        stepped = (
            sym_all.join(labels, sym_all.v == labels.node)
            .groupBy("u")
            .agg(F.min("comp").alias("comp"))
            .select(F.col("u").alias("node"), "comp")
        )
        # (2) pointer jumping: follow the label chain (comp <- comp[comp])
        # once per round — label-chain depth shrinks ~3x per round (one
        # neighbor hop + one compression). r19 measured the 2-jump
        # spelling against this one on the dedup pair set: 1 jump runs
        # one MORE round (5 vs 4) but two FEWER corpus-scale joins per
        # round, 2.1-2.7 s -> 1.6-1.7 s warm at sf0.1; per depth-halving
        # it is also the cheaper shape at 100 TB (2 joins per ~3x
        # reduction vs 3 joins per ~5x).
        hop = stepped.select(F.col("node").alias("cnode"), F.col("comp").alias("ccomp"))
        jumped = stepped.join(hop, stepped.comp == hop.cnode, "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("ccomp"), F.col("comp"))).alias("comp"),
        )
        # Lazy checkpoint: the convergence probe below is the round's ONE
        # Spark job — it fully materializes the checkpoint as a side effect
        # (a global aggregate touches every partition; an incremental
        # limit scan could persist only some partitions and leave the
        # lineage live). Eager checkpoint + separate probe was 2
        # jobs/round; per-round job count is what dominates wall time on
        # small graphs.
        #
        # r18 (guide §2.4): convergence is read off SUM(comp) instead of
        # joining the new labels back onto the old ones. Hash-Min labels
        # are monotone non-increasing per node (every update is
        # least(comp, ...)), so the label SUM strictly decreases exactly
        # when any label changed — equal sums <=> fixpoint. That drops a
        # whole (node)-keyed join of two full label sets from every
        # round. DECIMAL(38,0) keeps the sum exact at any scale (SUM of
        # 2^63-bounded ids over arbitrarily many rows cannot wrap).
        jumped = jumped.localCheckpoint(eager=False)
        if _sum_probe:
            changed = None
            cur_sum = jumped.agg(
                F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
            ).collect()[0]["s"]
        else:
            # type-agnostic fallback: count changed labels directly (this
            # one join-job both materializes the checkpoint and decides
            # convergence — same job count as the sum probe)
            changed = (
                jumped.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
            cur_sum = None
        if stats is not None:
            # instrumentation-only extra job: the recorded per-round
            # changed counts keep their meaning for the scaling probes
            stats["rounds"] += 1
            stats["changed_per_round"].append(
                changed
                if changed is not None
                else jumped.alias("n")
                .join(labels.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .count()
            )
        superseded = labels
        labels = jumped
        release_local_checkpoint(superseded)  # free last round's blocks now
        # round 1 materialized sym_all, so the raw-edge checkpoint it was
        # built from is no longer referenced — free it before later rounds
        release_local_checkpoint(sym)
        if (cur_sum == prev_sum) if _sum_probe else (changed == 0):
            break
        prev_sum = cur_sum
    release_local_checkpoint(sym)  # no-op when round 1 already freed it
    release_local_checkpoint(sym_all)  # returned labels no longer need edges
    release_local_checkpoint(verts)
    return labels


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   nodes: Optional[DataFrame] = None,
                   stats: Optional[dict] = None) -> DataFrame:
    """Cluster near-dup pairs: (doc_id, cluster_id) with cluster_id the
    minimum doc id of the duplicate cluster (the canonical doc to keep).
    Feed it the output of near_dup_pairs(); singleton docs (no pair) keep
    themselves when `nodes` supplies the full id set. ``stats`` passes
    through to connected_components (probe instrumentation)."""
    cc = connected_components(pairs, src=id_a, dst=id_b, nodes=nodes, stats=stats)
    return cc.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
