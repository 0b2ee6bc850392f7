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
(node, comp) table — :func:`iterate` checkpoints it so the plan stays flat
(without it, round k replays rounds 1..k-1). The driver only ever sees a
1-row convergence probe per round, never data.

:func:`iterate` is also the round loop of PageRank (operators/pagerank.py)
and of the fixed-budget graph queries (queries/graph_ops.py).
"""

from __future__ import annotations

from typing import Callable, Optional

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


def iterate(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    max_rounds: int,
    probe: Optional[Callable[[DataFrame, DataFrame], bool]] = None,
) -> DataFrame:
    """Run up to ``max_rounds`` rounds of ``state = step(state)`` with the
    lineage cut every round, and return the last state, materialized. The
    one place the engine's iterative operators checkpoint round frames and
    free them.

    Each round's frame is a lazy localCheckpoint of ``step(state)``: it
    truncates the logical plan (a state read twice per round would
    otherwise double the plan every round) without a job of its own.

    * With ``probe``, ``probe(new, old)`` is the round's one action and
      its True ends the loop early. It must touch every partition of
      ``new`` (a global aggregate or a full join does; a limit scan does
      not), so that it materializes the whole checkpoint. The previous
      round's frame is released once ``new`` is materialized.
    * Without ``probe``, the rounds form a lazy chain and ONE eager
      checkpoint at the end materializes it; only then is the chain
      released (freeing a still-lazy link is the
      CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND race).

    Under AQE, building a lazy checkpoint already runs the shuffle stages
    below it, so a round still costs a few Spark jobs even without a
    probe. The ``state`` passed in is never released: it may be a frame
    other operators share. A zero-round call returns an eager checkpoint
    of ``state``, so the result outlives the caller releasing whatever
    ``state`` was built from."""
    rounds = []  # this loop's own round frames, never the caller's state
    for _ in range(max_rounds):
        new = step(state).localCheckpoint(eager=False)
        done = probe is not None and probe(new, state)
        if probe is not None:
            for old in rounds:  # new is materialized: the old round may go
                release_local_checkpoint(old)
            rounds = []
        rounds.append(new)
        state = new
        if done:
            break
    if probe is not None and rounds:
        return state  # the last probe materialized it
    out = state.localCheckpoint()
    for old in rounds:
        release_local_checkpoint(old)
    return out


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    nodes: Optional[DataFrame] = None,
    max_iter: int = 50,
) -> DataFrame:
    """Return (node, component) where component = MIN node id reachable
    from `node` over the undirected edge set. `nodes` (optional, single
    column named like `src`) adds isolated vertices, which label
    themselves."""
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

    def step(labels: DataFrame) -> DataFrame:
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
        return stepped.join(hop, stepped.comp == hop.cnode, "left").select(
            "node",
            F.least(F.col("comp"), F.coalesce(F.col("ccomp"), F.col("comp"))).alias("comp"),
        )

    # The convergence probe is each round's ONE action, and it
    # materializes the round's checkpoint en route (both spellings below
    # touch every partition). r18 (guide §2.4): convergence is read off
    # SUM(comp) instead of joining the new labels back onto the old ones.
    # Hash-Min labels are monotone non-increasing per node (every update
    # is least(comp, ...)), so the label SUM strictly decreases exactly
    # when any label changed — equal sums <=> fixpoint. That drops a
    # whole (node)-keyed join of two full label sets from every round.
    # DECIMAL(38,0) keeps the sum exact at any scale (SUM of 2^63-bounded
    # ids over arbitrarily many rows cannot wrap).
    #
    # ADVICE r18 (medium): the sum is only exact for integral ids —
    # casting a string doc id to decimal yields NULL, every round's sum
    # is NULL, and None == None would end the loop after round 1 with
    # unconverged labels. This generic operator accepts any orderable id
    # type, so non-integral ids take the type-agnostic changed-count
    # probe instead (one join per round, correctness first).
    from pyspark.sql import types as T

    def label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("comp").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    if isinstance(
        labels.schema["comp"].dataType,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType),
    ):
        last = [label_sum(labels)]

        def converged(new: DataFrame, old: DataFrame) -> bool:
            s = label_sum(new)
            done, last[0] = s == last[0], s
            return done
    else:

        def converged(new: DataFrame, old: DataFrame) -> bool:
            return (
                new.alias("n")
                .join(old.alias("o"), "node")
                .filter(F.col("n.comp") != F.col("o.comp"))
                .count()
                == 0
            )

    labels = iterate(labels, step, max_iter, converged)
    for frame in (sym, sym_all, verts):  # the labels no longer read them
        release_local_checkpoint(frame)
    return labels


def dedup_clusters(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                   nodes: Optional[DataFrame] = None) -> DataFrame:
    """Cluster near-dup pairs: (doc_id, cluster_id) with cluster_id the
    minimum doc id of the duplicate cluster (the canonical doc to keep).
    Feed it the output of near_dup_pairs(); singleton docs (no pair) keep
    themselves when `nodes` supplies the full id set."""
    cc = connected_components(pairs, src=id_a, dst=id_b, nodes=nodes)
    return cc.select(F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id"))
