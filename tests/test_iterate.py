"""operators.components.iterate, the round loop of every iterative operator
(CC, both PageRanks, k-core, BFS, label propagation): its result outlives
the release of the frames it was built from, it never releases the frame
it was given, and a probe ends it early."""

import pytest
from pyspark.sql import functions as F

from hadoop_copier_spark.operators.components import iterate, release_local_checkpoint
from hadoop_copier_spark.queries import REGISTRY


def _shift(df):
    """One round: every key moves to (k + 1) % 3 and equal keys merge."""
    return df.select(((F.col("k") + 1) % 3).alias("k"), "v").groupBy("k").agg(
        F.sum("v").alias("v")
    )


@pytest.mark.parametrize("rounds", [0, 3])
def test_no_probe_chain_outlives_release_of_its_inputs(spark, rounds):
    """A no-probe chain of 0 and of 3 rounds over a state derived from a
    set-up checkpoint: after the caller releases that checkpoint and
    unrelated jobs run, the result still answers. AQE is off in this
    session only: with it on, building a lazy checkpoint already runs its
    shuffle stages, which hides a missing block."""
    spark = spark.newSession()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    base = spark.createDataFrame(
        [(i, i % 3, 1) for i in range(12)], "id long, k long, v long"
    ).localCheckpoint()
    state = base.select("k", "v")  # reads base's blocks
    out = iterate(state, _shift, rounds)
    release_local_checkpoint(base)
    for _ in range(3):
        spark.range(2000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    got = sorted(tuple(r) for r in out.collect())
    if rounds == 0:
        assert got == sorted((i % 3, 1) for i in range(12))
    else:
        assert got == [(0, 4), (1, 4), (2, 4)]


def test_input_frame_still_reads_after_the_loop(spark):
    """The caller's frame is never released, with or without a probe."""
    state = spark.createDataFrame(
        [(i, 1) for i in range(6)], "k long, v long"
    ).localCheckpoint()
    expect = sorted(tuple(r) for r in state.collect())
    iterate(state, _shift, 2).collect()
    iterate(state, _shift, 2, probe=lambda new, old: new.count() < 0).collect()
    assert sorted(tuple(r) for r in state.collect()) == expect


def test_shared_edge_cache_reads_after_kcore_then_bfs(spark, sf_smoke):
    """xh_kcore_peel and xh_bfs_hops start their loops from the shared
    _EDGE_CACHE frames; both frames must still read afterwards."""
    from hadoop_copier_spark.queries import graph_ops

    REGISTRY["xh_kcore_peel"].fn(spark, sf_smoke).collect()
    REGISTRY["xh_bfs_hops"].fn(spark, sf_smoke).collect()
    app = spark.sparkContext.applicationId
    weighted = graph_ops._EDGE_CACHE[(app, sf_smoke)]
    thresholded = graph_ops._EDGE_CACHE[(app, sf_smoke, graph_ops._MIN_COPURCHASE)]
    assert weighted.count() > 0
    assert len(thresholded.collect()) == weighted.where(
        F.col("w") >= graph_ops._MIN_COPURCHASE
    ).count()


def test_probe_true_stops_the_loop(spark):
    """The probe sees each round's new and old frames; its first True is
    the last round."""
    state = spark.createDataFrame([(0, 1)], "k long, v long")
    seen = []

    def probe(new, old):
        seen.append((new.collect()[0]["k"], old.collect()[0]["k"]))
        return len(seen) == 2

    out = iterate(state, _shift, 10, probe)
    assert seen == [(1, 0), (2, 1)]
    assert [tuple(r) for r in out.collect()] == [(2, 1)]
