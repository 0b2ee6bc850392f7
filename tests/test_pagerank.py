"""PageRank (operators/pagerank.py): golden comparison against a naive
numpy power iteration (same damping, same uniform dangling
redistribution), stochastic-vector invariants, and shape checks."""

from collections import defaultdict

import numpy as np
import pytest
from pyspark.sql import functions as F

from hadoop_copier_spark.operators.pagerank import pagerank
from hadoop_copier_spark.queries import REGISTRY


def _ref(edge_list, damping=0.85, iters=60, extra_nodes=()):
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list} | set(extra_nodes))
    idx = {v: i for i, v in enumerate(nodes)}
    n = len(nodes)
    out = defaultdict(set)
    for u, v in edge_list:
        out[u].add(v)
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        new = np.full(n, (1.0 - damping) / n)
        dang = sum(r[idx[u]] for u in nodes if not out.get(u))
        new += damping * dang / n
        for u, vs in out.items():
            share = damping * r[idx[u]] / len(vs)
            for v in vs:
                new[idx[v]] += share
        r = new
    return {v: r[idx[v]] for v in nodes}


def _edges_df(spark, edge_list):
    return spark.createDataFrame(
        spark.sparkContext.parallelize(edge_list, 2), "src long, dst long"
    )


def test_golden_small_graph_lockstep(spark):
    """FIXED iteration count on both sides (tol=0 disables early stop):
    the Spark rounds and the numpy power iteration apply the identical
    linear operator, so after k rounds the vectors agree to FP noise —
    a sharper check than comparing two differently-converged runs."""
    edge_list = [(1, 2), (1, 3), (2, 3), (3, 1), (4, 3), (5, 4), (5, 1), (6, 5)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges_df(spark, edge_list), max_iter=15, tol=0.0).collect()
    }
    ref = _ref(edge_list, iters=15)
    assert set(got) == set(ref)
    for v in ref:
        assert got[v] == pytest.approx(ref[v], abs=1e-12)


def test_ranks_sum_to_one_with_dangling(spark):
    # node 4 is a pure sink (dangling): mass must not leak
    edge_list = [(1, 2), (2, 3), (3, 4), (1, 4)]
    got = pagerank(_edges_df(spark, edge_list)).agg(F.sum("rank")).collect()[0][0]
    assert got == pytest.approx(1.0, abs=1e-9)


def test_ring_is_uniform(spark):
    edge_list = [(i, (i + 1) % 7) for i in range(7)]
    got = [r["rank"] for r in pagerank(_edges_df(spark, edge_list)).collect()]
    assert all(x == pytest.approx(1.0 / 7, abs=1e-9) for x in got)


def test_isolated_node_via_nodes_param(spark):
    edge_list = [(1, 2), (2, 1)]
    nodes = spark.createDataFrame(
        spark.sparkContext.parallelize([(9,)], 1), "node long"
    )
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges_df(spark, edge_list), nodes=nodes).collect()
    }
    ref = _ref(edge_list, extra_nodes=[9])
    assert set(got) == {1, 2, 9}
    for v in ref:
        assert got[v] == pytest.approx(ref[v], abs=1e-7)
    assert got[9] < got[1]


def test_hub_outranks_spokes(spark):
    edge_list = [(s, 0) for s in range(1, 9)] + [(0, 1)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges_df(spark, edge_list), max_iter=12, tol=0.0).collect()
    }
    # the hub (0) collects all spoke mass; node 1, the hub's ONLY
    # out-link, collects the hub's — both dwarf every spoke
    spokes = max(got[s] for s in range(2, 9))
    assert got[0] > 10 * spokes and got[1] > 10 * spokes
    ref = _ref(edge_list, iters=12)
    for v in ref:
        assert got[v] == pytest.approx(ref[v], abs=1e-12)


def test_empty_edges(spark):
    empty = _edges_df(spark, []).filter("src is not null")
    assert pagerank(empty).count() == 0


def test_registry_entry_topk(spark, sf_smoke):
    out = REGISTRY["xp_pagerank"].fn(spark, sf_smoke).toPandas()
    assert len(out) == 50
    assert (out["rank"] > 0).all()
    # ranks emitted in descending order; suppliers (many inbound customer
    # edges) dominate the head of the bipartite graph's ranking
    assert list(out["rank"]) == sorted(out["rank"], reverse=True)
    assert (out["node"].head(10) < 1_000_000_000).all()


# --- pagerank_quantized (round 12): exact integer lockstep -------------


def _ref_quantized(edge_list, rounds=8, total=10**12, extra_nodes=()):
    """Pure-Python replay of the BIGINT recurrence — EXACT equality
    expected (integer sums are order-free)."""
    nodes = sorted(
        {u for u, _ in edge_list} | {v for _, v in edge_list} | set(extra_nodes)
    )
    n = len(nodes)
    out = {}
    for u, v in set(edge_list):
        out.setdefault(u, set()).add(v)
    base = total // n
    r = {v: base for v in nodes}
    for _ in range(rounds):
        contrib = {v: 0 for v in nodes}
        for u, vs in out.items():
            share = r[u] // len(vs)
            for v in vs:
                contrib[v] += share
        dmass = sum(r[u] for u in nodes if not out.get(u))
        r = {v: (3 * base + 17 * (contrib[v] + dmass // n)) // 20 for v in nodes}
    return r


@pytest.mark.parametrize(
    "edge_list,extra",
    [
        ([(1, 2), (2, 3), (3, 1)], ()),                      # ring, no dangling
        ([(1, 2), (1, 3), (2, 3)], ()),                      # 3 is dangling
        ([(s, 0) for s in range(1, 9)] + [(0, 1)], ()),      # hub
        ([(1, 2)], (9,)),                                    # isolated node
        ([(1, 2), (1, 2), (2, 1), (3, 4)], ()),              # dup edges
    ],
)
def test_quantized_exact_integer_lockstep(spark, edge_list, extra):
    from hadoop_copier_spark.operators.pagerank import pagerank_quantized

    nodes = None
    if extra:
        nodes = spark.createDataFrame([(v,) for v in extra], "node long")
    got = {
        r["node"]: r["rank_units"]
        for r in pagerank_quantized(_edges_df(spark, edge_list), nodes=nodes).collect()
    }
    ref = _ref_quantized(edge_list, extra_nodes=extra)
    assert got == ref  # EXACT — no tolerance


def test_quantized_tracks_float_pagerank(spark):
    """Quantization error is bounded: units/total within ~1e-6 of the
    float iteration at the same fixed budget."""
    from hadoop_copier_spark.operators.pagerank import pagerank_quantized

    edge_list = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 1)]
    got = {
        r["node"]: r["rank_units"] / 1e12
        for r in pagerank_quantized(_edges_df(spark, edge_list)).collect()
    }
    ref = _ref(edge_list, iters=8)
    for v, x in ref.items():
        assert got[v] == pytest.approx(x, abs=1e-6)


def test_quantized_registry_is_ordered_and_conservative(spark, sf_smoke):
    out = REGISTRY["xh_pagerank_quantized"].fn(spark, sf_smoke).toPandas()
    assert len(out) > 0
    assert list(out["node"]) == sorted(out["node"])
    # floor divisions only ever DROP mass: units sum in (0.9, 1.0] * total
    s = int(out["rank_units"].sum())
    assert 0 < s <= 10**12
