"""Differential oracle tests: every H-class declared query must match DuckDB
exactly at sf0.01 (mirrors the driver's t2 gate)."""

import pytest

from hadoop_copier_spark.queries import REGISTRY
from hadoop_copier_spark.testing import compare

H_QUERIES = sorted(name for name, q in REGISTRY.items() if q.oracle)
P_QUERIES = sorted(name for name, q in REGISTRY.items() if not q.oracle)


@pytest.mark.parametrize("name", H_QUERIES)
def test_hash_matches_oracle(name, spark, sf_oracle, duck):
    q = REGISTRY[name]
    problems = compare(q.fn, q.oracle, spark, sf_oracle, con=duck)
    assert not problems, f"{name}: " + "\n".join(problems)


@pytest.mark.parametrize("name", P_QUERIES)
def test_p_query_runs(name, spark, sf_oracle):
    q = REGISTRY[name]
    df = q.fn(spark, sf_oracle)
    assert df.count() >= 0


def test_spark_entry_exposes_each_query_once():
    """``__spark_entry__`` exposes each registry entry once, under its own
    name: one distinct function per name, and oracle SQL for exactly the
    H-class names."""
    import __spark_entry__

    fns = __spark_entry__.queries()
    assert list(fns) == sorted(REGISTRY)
    assert len({id(fn) for fn in fns.values()}) == len(fns)
    for name, q in REGISTRY.items():
        assert q.name == name
    assert set(__spark_entry__.oracle_sql()) == set(H_QUERIES)
