"""Tests of the benchmark's own harness; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import os

import pandas as pd
import pytest

from harness import (
    Span,
    Tracer,
    cpu_steal_ticks,
    highest_supported_percentile,
    median,
    percentile,
    result_line,
    samples_beyond,
    self_time,
)
from workloads import _plan_nodes, copy_problem, oracle_problem, recorded_problem


# -- percentiles and the sample-count rule ---------------------------------


def test_nearest_rank_percentile():
    vals = list(range(1, 11))  # 1..10
    assert percentile(vals, 50) == 5
    assert percentile(vals, 90) == 9
    assert percentile(vals, 100) == 10
    assert percentile(vals, 0) == 1
    assert percentile([7.5], 90) == 7.5
    assert percentile([3, 1, 2], 50) == 2  # order of input does not matter


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1, 2], 101)


def test_samples_beyond_and_supported_percentile():
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(10, 90) == 1
    # p90 needs >= 100 samples for 10 of them to lie beyond it
    assert highest_supported_percentile(100) == 90.0
    assert highest_supported_percentile(99) < 90.0
    assert highest_supported_percentile(1000) == 99.0
    assert highest_supported_percentile(20) == 50.0
    assert highest_supported_percentile(19) is None


def test_percentile_is_the_same_over_any_number_of_whole_passes():
    # a timed window holds whole passes, one or more depending on the
    # machine's speed; a nearest-rank percentile picks the same op of the
    # mix whatever the number of passes
    one_pass = [0.9, 0.4, 1.3, 0.7, 0.5, 1.1, 0.6]
    for q in (50, 90):
        for passes in (2, 3, 4):
            assert percentile(one_pass * passes, q) == percentile(one_pass, q)


def test_cpu_steal_ticks():
    steal0, total0 = cpu_steal_ticks()
    steal1, total1 = cpu_steal_ticks()
    assert 0 <= steal0 <= total0
    assert steal1 >= steal0 and total1 >= total0


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5


def test_result_line_requires_an_attempt():
    line = result_line(True, 3, 0, {"x": {"value": 1.0, "unit": "s"}})
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    with pytest.raises(ValueError):
        result_line(True, 0, 0, {})


# -- span self time ----------------------------------------------------------


def _span(i, start, end, parent=None):
    return Span(f"s{i}", start, end, i, parent, None)


def test_self_time_subtracts_children():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 3.0, 0), _span(2, 5.0, 6.0, 0)]
    assert self_time(parent, kids) == pytest.approx(7.0)


def test_self_time_counts_overlapping_children_once():
    parent = _span(0, 0.0, 10.0)
    kids = [_span(1, 1.0, 4.0, 0), _span(2, 3.0, 6.0, 0), _span(3, 8.0, 12.0, 0)]
    # covered: [1,6] and [8,10] (clipped to the parent) = 7
    assert self_time(parent, kids) == pytest.approx(3.0)


def test_self_time_of_a_leaf_is_its_duration():
    assert self_time(_span(0, 2.0, 2.5), []) == pytest.approx(0.5)


def test_tracer_nests_spans_and_computes_self_times():
    tr = Tracer()
    with tr.span("outer", op_id=1):
        with tr.span("inner", op_id=1):
            pass
    outer, inner = tr.by_name("outer")[0], tr.by_name("inner")[0]
    assert inner.parent == outer.span_id and outer.parent is None
    selfs = tr.self_times()
    assert selfs[outer.span_id] == pytest.approx(outer.duration - inner.duration)
    assert selfs[inner.span_id] == pytest.approx(inner.duration)


# -- correctness comparators -------------------------------------------------


def _canon(pdf):
    from hadoop_copier_spark.testing import canon_pdf

    return canon_pdf(pdf)


def test_oracle_problem_accepts_equal_rows_in_any_order():
    ref = _canon(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}))
    assert oracle_problem(pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]}), ref) is None


def test_oracle_problem_reports_each_kind_of_difference():
    ref = _canon(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]}))
    assert "columns" in oracle_problem(pd.DataFrame({"k": [1, 2]}), ref)
    assert "rows" in oracle_problem(pd.DataFrame({"k": [1], "v": [0.5]}), ref)
    assert oracle_problem(pd.DataFrame({"k": [1, 2], "v": [0.5, 1.25]}), ref) == "rows differ from the reference"


def test_recorded_problem_by_hash_and_by_row_count():
    from hadoop_copier_spark.testing import result_hash

    cols, rows = ["a"], [(1,), (2,)]
    assert recorded_problem(cols, rows, {"hash": result_hash(cols, rows)}) is None
    assert "hash" in recorded_problem(cols, [(1,), (3,)], {"hash": result_hash(cols, rows)})
    assert recorded_problem(cols, rows, {"rows": 2}) is None
    assert "rows" in recorded_problem(cols, rows, {"rows": 3})
    assert recorded_problem(cols, rows, None) == "no recorded expectation"


def _status(state="COMPLETED", verified=(True,)):
    return {"status": state, "items": [{"checksumVerified": v} for v in verified]}


def test_copy_problem(tmp_path):
    dst = tmp_path / "dst"
    (dst / "d0").mkdir(parents=True)
    (dst / "d0" / "a.bin").write_bytes(b"x" * 10)
    (dst / "b.bin").write_bytes(b"y" * 3)
    listing = {os.path.join("d0", "a.bin"): 10, "b.bin": 3}
    assert copy_problem(_status(), str(dst), listing) is None
    assert "PARTIALLY_FAILED" in copy_problem(_status("PARTIALLY_FAILED"), str(dst), listing)
    assert "checksum" in copy_problem(_status(verified=(True, False)), str(dst), listing)
    assert "sizes" in copy_problem(_status(), str(dst), {**listing, "b.bin": 4})
    assert "sizes" in copy_problem(_status(), str(dst), {"b.bin": 3})


def test_plan_node_count():
    plan = "\n".join(
        [
            "== Physical Plan ==",
            "* HashAggregate (5)",
            "+- Exchange (4)",
            "(1) Scan parquet",
            "(4) Exchange",
            "(6) BroadcastExchange",
            "(7) BroadcastHashJoin [codegen id : 2]",
            "(9) Exchange",
        ]
    )
    assert _plan_nodes(plan, "Exchange") == 2
    assert _plan_nodes(plan, "BroadcastHashJoin") == 1
