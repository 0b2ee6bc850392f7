"""Pins for hadoop_copier_spark.memo — the memoized-cache registry that
perfbench's ``memo.keys_built`` and ``memo.hits`` counters read: a
benchmark must be able to tell which caches a query fills, or a
measurement silently includes or skips memoized work."""

from hadoop_copier_spark.memo import clear_memoized_caches, consumed_caches
from hadoop_copier_spark.operators import similarity
from hadoop_copier_spark.queries import REGISTRY, graph_ops


def test_registry_names_every_known_cache():
    counts = clear_memoized_caches()
    assert set(counts) == {"graph_edges", "hardneg_probe", "table_schemas"}


def test_clear_only_touches_named_cache():
    graph_ops._EDGE_CACHE["k"] = "v"
    similarity._HARDNEG_SHAPE_CACHE["k"] = (1, 1)
    try:
        out = clear_memoized_caches(only=("graph_edges",))
        assert out == {"graph_edges": 1}
        assert not graph_ops._EDGE_CACHE
        assert similarity._HARDNEG_SHAPE_CACHE
    finally:
        clear_memoized_caches()


def test_consumed_caches_covers_every_cache_using_query():
    """Every registry query whose module owns a cache must be mapped to
    it, and the sole hardneg consumer must resolve by name — if a new
    cache-consuming family appears without a consumed_caches rule,
    perfbench's ``memo.hits`` counter would not see it."""
    by_cache = {}
    for name, q in REGISTRY.items():
        for c in consumed_caches(q.fn):
            by_cache.setdefault(c, []).append(name)
    assert "xh_bfs_hops" in by_cache["graph_edges"]
    assert "xh_hard_negatives" in by_cache["hardneg_probe"]
    assert len(by_cache["hardneg_probe"]) == 1
    # the tpch analogs memoize nothing: their part joins are unhinted
    assert not any(n.startswith("xh_tpch_") for ns in by_cache.values() for n in ns)
    # module-rule sanity: nothing outside the owning modules claims a cache
    for name in by_cache["graph_edges"]:
        assert REGISTRY[name].fn.__module__.endswith("queries.graph_ops")


def test_every_module_level_cache_is_registered():
    """Staleness guard: any module-level ``*_CACHE`` dict added anywhere
    in the package MUST be wired into memo._caches(), or perfbench's
    ``memo.keys_built`` silently misses whatever new family memoizes
    state (the ADVICE r16 hole, kept closed structurally)."""
    import importlib
    import pkgutil

    import hadoop_copier_spark as pkg
    from hadoop_copier_spark.memo import _caches

    registered = {id(c) for c in _caches().values()}
    unregistered = []
    for m in pkgutil.walk_packages(pkg.__path__, pkg.__name__ + "."):
        mod = importlib.import_module(m.name)
        for attr in dir(mod):
            if attr.endswith("_CACHE") and isinstance(getattr(mod, attr), dict):
                if id(getattr(mod, attr)) not in registered:
                    unregistered.append(f"{m.name}.{attr}")
    assert not unregistered, (
        f"module-level caches missing from memo._caches(): {unregistered}"
    )


def test_clear_then_rebuild_is_lazy(spark, sf_smoke):
    """Clearing the edge cache mid-session must be safe: next consumer
    rebuilds lazily and returns the same rows."""
    before = graph_ops._weighted_edges(spark, sf_smoke).count()
    cleared = clear_memoized_caches(only=("graph_edges",))
    assert cleared["graph_edges"] >= 1
    after = graph_ops._weighted_edges(spark, sf_smoke).count()
    assert before == after


def test_snapshot_diff_attributes_each_key_to_its_query():
    """hardneg_probe holds one entry per probed query set, each built by
    the FIRST query that probes it. Diffing snapshots taken around each
    query attributes every key to the query that built it, and keys
    other caches gain in between land under their own cache name."""
    from hadoop_copier_spark.memo import snapshot_cache_keys

    clear_memoized_caches()
    try:
        pre = snapshot_cache_keys()
        similarity._HARDNEG_SHAPE_CACHE[("app", "sf", "site_a")] = 1
        similarity._HARDNEG_SHAPE_CACHE[("app", "sf", "site_b")] = 2
        mid = snapshot_cache_keys()
        built_q1 = {c: mid[c] - pre[c] for c in mid if mid[c] - pre[c]}
        assert built_q1 == {
            "hardneg_probe": {("app", "sf", "site_a"), ("app", "sf", "site_b")}
        }
        # a second query builds a third site + an unrelated cache entry
        similarity._HARDNEG_SHAPE_CACHE[("app", "sf", "site_c")] = 3
        graph_ops._EDGE_CACHE[("app", "sf")] = "edges"
        post = snapshot_cache_keys()
        built_q2 = {c: post[c] - mid[c] for c in post if post[c] - mid[c]}
        assert built_q2 == {
            "hardneg_probe": {("app", "sf", "site_c")},
            "graph_edges": {("app", "sf")},
        }
    finally:
        clear_memoized_caches()
