"""Differential-oracle harness (SURVEY §5.2 item 2) — DRIVER-FAITHFUL.

Round-3 post-mortem (VERDICT r3 "What's wrong" #1/#3): the driver
canonicalizes BOTH result sets through **pandas** — the Spark side via
``DataFrame.toPandas()`` and the DuckDB side via ``con.execute(sql).df()``
— before sorting/serializing/hashing. That conversion is NOT symmetric:

=====================  ==========================  =========================
value                  Spark ``toPandas()``        DuckDB ``.df()``
=====================  ==========================  =========================
DECIMAL(p,s)           ``Decimal('1.20')`` object  ``float64`` ``1.2``
DATE                   ``datetime.date`` object    midnight ``Timestamp``
ARRAY / LIST           ndarray / list object       ndarray object
BIGINT (no nulls)      int64                       int64 (HUGEINT→float64!)
DOUBLE                 float64                     float64
=====================  ==========================  =========================

So a decimal cell WITH trailing zeros serializes ``"1.20"`` on the Spark
side and ``"1.2"`` on the oracle side — every r1/r3 driver hash failure,
exactly.  The round-3 harness kept ``Decimal`` on both sides (DuckDB
``fetchall()`` returns ``Decimal``) and therefore could not reproduce any
driver red.  This harness routes both sides through the SAME pandas
conversions the driver uses, so:

* a query emitting DECIMAL with any trailing-zero cell FAILS locally
  (regression-pinned in tests/test_determinism.py);
* a query emitting list/array/map/struct cells raises ``UnsortableResult``
  — modeling the driver's ``TypeError: unhashable type: 'list'`` crash
  while pandas-sorting (r3 q32);
* date-vs-midnight-timestamp pairs still MATCH (driver-green q41/q50
  stay locally green): both normalize to ``YYYY-MM-DD 00:00:00``.

The value-level helpers (``_norm_value``/``normalize``/``result_hash``)
hash Spark-side rows only; perfbench's recorded P-class hashes
(``perfbench/expected.json``) come from ``result_hash``.
"""

from __future__ import annotations

import datetime as _dt
import hashlib
import math
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from .tables import TABLES

DUCKDB_VERSION = duckdb.__version__


class UnsortableResult(TypeError):
    """A result cell is a list/array/map — the driver's pandas
    canonicalization (``sort_values`` → ``Categorical``) crashes on these
    (r3 q32: ``TypeError: unhashable type: 'list'``). H queries must
    serialize collections to scalars (SURVEY §2b rule 4)."""


def duck_connect(sf_dir: str) -> "duckdb.DuckDBPyConnection":
    import os

    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(path):  # Spark directory-style output
            path = f"{path}/*.parquet"
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


# ---------------------------------------------------------------------------
# Driver-faithful pandas path
# ---------------------------------------------------------------------------

def run_spark_pd(query_fn, spark, sf_dir) -> pd.DataFrame:
    """The driver's Spark side: execute and convert via ``toPandas()``."""
    return query_fn(spark, sf_dir).toPandas()


def run_oracle_pd(sql: str, sf_dir: str, con=None) -> pd.DataFrame:
    """The driver's oracle side: DuckDB → pandas via ``.df()`` (DECIMAL
    becomes float64 here — the divergence channel this harness exists to
    reproduce)."""
    own = con is None
    con = con or duck_connect(sf_dir)
    try:
        return con.execute(sql).df()
    finally:
        if own:
            con.close()


def _is_null(v) -> bool:
    if v is None:
        return True
    if isinstance(v, float) and math.isnan(v):
        return True
    if isinstance(v, np.floating) and np.isnan(v):
        return True
    if v is pd.NaT:
        return True
    return False


def _serialize_cell(v, col: str) -> str:
    """Serialize one pandas cell the way the driver's str-path does.

    Key fidelity points:
    * ``Decimal`` keeps scale (``'1.20'``) while floats print shortest-repr
      (``'1.2'``) — the decimal/float red channel is PRESERVED;
    * dates and midnight timestamps both print ``YYYY-MM-DD 00:00:00``
      (driver-green date queries stay green);
    * list/array/dict cells raise ``UnsortableResult`` (driver crash).
    """
    if _is_null(v):
        return "\\N"
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        raise UnsortableResult(
            f"column '{col}' holds non-scalar cells ({type(v).__name__}); "
            "the driver's pandas sort crashes on these — serialize to a scalar "
            "(e.g. concat_ws over sort_array)"
        )
    if isinstance(v, (bool, np.bool_)):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        return str(v)  # scale-preserving: Decimal('1.20') -> '1.20'
    if isinstance(v, (float, np.floating)):
        return repr(float(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat(sep=" ")
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        # Spark DATE -> datetime.date, DuckDB DATE -> midnight Timestamp;
        # the driver serializes them identically, so normalize to midnight.
        return f"{v.isoformat()} 00:00:00"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def canon_pdf(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    """Driver canonicalization: lowercase + name-sort columns, serialize
    every cell, sort rows by the serialized tuple. Raises
    ``UnsortableResult`` on collection cells."""
    cols = sorted(pdf.columns, key=lambda c: c.lower())
    out_cols = [c.lower() for c in cols]
    rows = [
        tuple(_serialize_cell(rec[c], c) for c in cols)
        for rec in pdf.to_dict("records")
    ]
    rows.sort()
    return out_cols, rows


def compare(query_fn, oracle: str, spark, sf_dir: str, con=None) -> list[str]:
    """Driver-faithful compare: both sides through pandas, then the
    serialized-row diff. Returns a list of mismatch descriptions
    (empty == pass). ``UnsortableResult`` propagates — it is a FAILURE
    of the query contract, not of the harness."""
    s_pdf = run_spark_pd(query_fn, spark, sf_dir)
    o_pdf = run_oracle_pd(oracle, sf_dir, con=con)
    ns_cols, ns_rows = canon_pdf(s_pdf)
    no_cols, no_rows = canon_pdf(o_pdf)
    problems = []
    if ns_cols != no_cols:
        problems.append(f"columns differ: spark={ns_cols} oracle={no_cols}")
        return problems
    if len(ns_rows) != len(no_rows):
        problems.append(f"row count differs: spark={len(ns_rows)} oracle={len(no_rows)}")
    for i, (a, b) in enumerate(zip(ns_rows, no_rows)):
        if a != b:
            diff_cols = [c for c, x, y in zip(ns_cols, a, b) if x != y]
            problems.append(
                f"first differing row #{i} (differing cols {diff_cols}):\n"
                f"  spark : {a}\n  oracle: {b}"
            )
            break
    return problems


# ---------------------------------------------------------------------------
# Legacy value-level serializer (Spark-side-only hashing in tests)
# ---------------------------------------------------------------------------

def _norm_value(v):
    """Value-level serialization of one cell (legacy; NOT driver-faithful
    for DuckDB decimals — use the pandas path above for oracle compares).

    NaN divergence note (ADVICE r4): this legacy path serializes a float
    NaN as ``'NaN'`` while the driver-faithful ``_serialize_cell`` treats
    it as NULL (``'\\N'``) — the faithful behavior, since pandas float64
    columns collapse SQL NULL and NaN into the same ``nan`` and the
    driver cannot tell them apart. Oracle-compared queries must use the
    pandas path; this serializer is only for Spark-side-only snapshot
    hashes where NaN-vs-NULL fidelity is a feature."""
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, Decimal):
        return str(v)  # scale-preserving: Decimal('1.20') -> '1.20'
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm_value(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_norm_value(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return str(v)


def normalize(columns: list[str], rows) -> tuple[list[str], list[tuple]]:
    """Sort columns by name, serialize values, sort rows — order-insensitive."""
    cols_lower = [c.lower() for c in columns]
    order = sorted(range(len(columns)), key=lambda i: cols_lower[i])
    out = [tuple(_norm_value(row[i]) for i in order) for row in rows]
    out.sort()
    return [cols_lower[i] for i in order], out


def result_hash(columns: list[str], rows) -> str:
    """SHA-256 over the normalized row set (legacy Spark-side hashing)."""
    _, nrows = normalize(columns, rows)
    h = hashlib.sha256()
    for row in nrows:
        h.update("|".join(row).encode("utf-8"))
        h.update(b"\n")
    return h.hexdigest()
