"""Registry of the package's cross-invocation memoized caches.

Three modules memoize state so repeated invocations skip redundant jobs;
two of them per session, keyed by applicationId:

* ``queries.graph_ops._EDGE_CACHE`` — the shared localCheckpoint'ed
  co-purchase edge frame every graph operator filters (one basket
  pipeline per (session, sf_dir); ~2.6 s at sf0.1, fronted by the
  first graph-family query to run).
* ``operators.similarity._HARDNEG_SHAPE_CACHE`` — the hard-negatives
  query-side (n, dim) probe per (session, query-plan semanticHash,
  input-files fingerprint). This cache's hit selects the PATH
  (broadcast vs IVF), so since round 18 (VERDICT r17 #4) its key
  carries the sorted leaf input-file list as a data-version signal: a
  same-path rewrite produces new part-file names, the key changes, and
  the probe re-fires — no immutability assumption left.

and one per process, shared by every session:

* ``tables._SCHEMA_CACHE`` — the inferred schema of each parquet file
  ``tables.read_parquet`` opened, per (path, footer digest, inference
  confs); a hit opens the table with no schema-inference job. No query
  family consumes it alone, so ``consumed_caches`` names none for it.

Why a registry: a benchmark must know whether a measurement includes
this memoized work. perfbench's ``memo.keys_built`` counter diffs
snapshot_cache_keys() around each query to count the keys that query
inserted, and its ``memo.hits`` counter uses consumed_caches() to count
the cache-consuming queries that inserted none.
"""

from __future__ import annotations

from typing import Callable


def _caches() -> dict[str, dict]:
    from . import tables
    from .operators import similarity
    from .queries import graph_ops

    return {
        "graph_edges": graph_ops._EDGE_CACHE,
        "hardneg_probe": similarity._HARDNEG_SHAPE_CACHE,
        "table_schemas": tables._SCHEMA_CACHE,
    }


def clear_memoized_caches(only: tuple[str, ...] | None = None) -> dict[str, int]:
    """Clear the registered memoized caches (all, or just ``only``).

    Returns {cache_name: evicted_entry_count} for the artifact trail.
    Safe to call with live sessions: every cache is re-populated lazily
    on next use (the edge cache's superseded localCheckpoint blocks are
    reclaimed by the context's cleaner once unreferenced).
    """
    out: dict[str, int] = {}
    for name, cache in _caches().items():
        if only is not None and name not in only:
            continue
        out[name] = len(cache)
        cache.clear()
    return out


def snapshot_cache_keys() -> dict[str, set]:
    """Current key sets of every registered cache (cheap driver-side
    copies). perfbench diffs snapshots taken around a query's run to
    learn exactly which keys THAT run inserted."""
    return {name: set(cache) for name, cache in _caches().items()}


def consumed_caches(fn: Callable) -> tuple[str, ...]:
    """Which registered caches a registry query's ``fn`` populates.

    Resolution is by module: every ``queries.graph_ops`` query filters
    the shared edge frame; ``xh_hard_negatives`` (queries.llm_ops) is
    the sole hardneg-probe consumer. Used by perfbench's ``memo.hits``
    counter to tell cache-consuming queries from the rest.
    """
    mod = getattr(fn, "__module__", "") or ""
    if mod.endswith("queries.graph_ops"):
        return ("graph_edges",)
    if getattr(fn, "__name__", "") == "xh_hard_negatives":
        return ("hardneg_probe",)
    return ()
