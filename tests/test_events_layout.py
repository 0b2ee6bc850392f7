"""Regression: tables._load_events must read BOTH events.ts layouts the
driver's fixtures have shipped.

Rounds 1-3 generated events.parquet with ts as parquet TIMESTAMP(NANOS)
(surfacing as int64 epoch-nanos under ``nanosAsLong``); round 4 switched
to plain ``timestamp[us]`` (TIMESTAMP_NTZ under Spark). The round-4 loader
assumed the nanos layout unconditionally and AnalysisException'd every
events query against the new fixtures (8 driver rows lost). The loader now
branches on the footer schema; this pins both paths to identical values.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from hadoop_copier_spark.tables import load_table

_TS_US = [1_704_067_200_000_000, 1_704_067_207_179_575, 1_704_070_800_500_000]


def _write_fixture(base: str, ts_array: pa.Array) -> str:
    os.makedirs(base, exist_ok=True)
    t = pa.table(
        {
            "event_id": pa.array([0, 1, 2], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7, 8, 9], pa.int64()),
            "event_type": pa.array(["view", "click", "error"]),
            "value": pa.array([1.5, 2.25, 3.0], pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(t, os.path.join(base, "events.parquet"))
    return base


@pytest.fixture(scope="module")
def dual_layout_dirs(tmp_path_factory):
    us_dir = _write_fixture(
        str(tmp_path_factory.mktemp("events_us")),
        pa.array(_TS_US, pa.timestamp("us")),
    )
    ns_dir = _write_fixture(
        str(tmp_path_factory.mktemp("events_ns")),
        pa.array([v * 1000 for v in _TS_US], pa.timestamp("ns")),
    )
    return us_dir, ns_dir


def test_both_layouts_load_as_timestamp(spark, dual_layout_dirs):
    for d in dual_layout_dirs:
        df = load_table(spark, d, "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp", d


def test_nanos_layout_loads_in_foreign_session(spark, dual_layout_dirs):
    """The driver runs queries in its OWN session, without the factory's
    ``nanosAsLong`` default. The loader must then recover from the
    PARQUET_TYPE_ILLEGAL read by setting the flag on demand — and must NOT
    touch session state on the common timestamp[us] path (VERDICT r5 #4)."""
    us_dir, ns_dir = dual_layout_dirs
    key = "spark.sql.legacy.parquet.nanosAsLong"
    try:
        spark.conf.unset(key)  # simulate a session the engine didn't build
        # us layout: loads fine and leaves the conf untouched
        df = load_table(spark, us_dir, "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        assert spark.conf.get(key, None) in (None, "false")
        # ns layout: first read fails internally, loader sets the flag once
        df = load_table(spark, ns_dir, "events")
        assert df.schema["ts"].dataType.simpleString() == "timestamp"
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, "true")  # restore the factory default


def test_both_layouts_agree_on_values(spark, dual_layout_dirs):
    us_dir, ns_dir = dual_layout_dirs
    us_rows = [tuple(r) for r in load_table(spark, us_dir, "events").orderBy("event_id").collect()]
    ns_rows = [tuple(r) for r in load_table(spark, ns_dir, "events").orderBy("event_id").collect()]
    assert us_rows == ns_rows
    # and the values are the expected microsecond instants (UTC session)
    ts = [r[1] for r in us_rows]
    assert ts[0].isoformat() == "2024-01-01T00:00:00"
    assert ts[1].isoformat() == "2024-01-01T00:00:07.179575"


def test_rewrite_keeping_mtime_is_not_served_stale_schema(spark, tmp_path):
    """A rewrite that keeps the old mtime (as a same-tick rewrite does)
    still opens with the new file's schema and values: the key is the
    footer, not the file's timestamp."""
    base = str(tmp_path)
    _write_fixture(base, pa.array(_TS_US, pa.timestamp("us")))
    path = os.path.join(base, "events.parquet")
    before = load_table(spark, base, "events").orderBy("event_id").collect()
    st = os.stat(path)
    shifted = [v + 1_000_000 for v in _TS_US]  # one second later
    _write_fixture(base, pa.array([v * 1000 for v in shifted], pa.timestamp("ns")))
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns))
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    after = load_table(spark, base, "events").orderBy("event_id").collect()
    expected = [v // 1_000_000 for v in shifted]
    assert [int(r["ts"].timestamp()) for r in after] == expected
    assert [int(r["ts"].timestamp()) for r in before] == [v // 1_000_000 for v in _TS_US]
