"""Shared helpers for declared queries.

DETERMINISM DISCIPLINE (round 2 — replaces the round-1 double->decimal rule)
===========================================================================

Round 1 showed that ``CAST(double AS DECIMAL(p,s))`` is ENGINE-VERSION
DEPENDENT: Spark rounds the shortest decimal string HALF_UP, DuckDB rounds
(or in some versions truncates) the binary value — so even an "exact" 2-dp
money double (whose binary form is 1234.559999…) can cast to 1234.55 on one
engine and 1234.56 on the other. Every driver-checked H query that cast a
double to decimal hash-failed in round 1; every one that didn't, passed.

The replacement rules, used by every H query:

1. **Never emit a decimal produced by casting a double.** Exact-scale money
   doubles are converted via ``FLOOR(x*10^s + 0.5)`` -> integer -> decimal:
   multiply/add/floor are single IEEE-754 ops (bit-identical in any engine)
   and int->decimal / decimal->decimal-widening casts are exact everywhere.
2. **Computed ratios/averages are emitted as raw DOUBLE** from op trees
   mirrored token-for-token in the oracle SQL. The driver serializes the
   Python float from both engines, so identical bits <=> identical hash,
   independent of engine formatting or version.
3. Decimal arithmetic (sums, products of rule-1 decimals) stays exact and
   order-independent; widen with a final cast for a stable schema but never
   reduce scale after aggregation.

Fixture money columns are verified exact at 2 dp (tests/test_determinism.py),
so the FLOOR reconstruction is lossless.
"""

from __future__ import annotations

from decimal import Decimal as _Dec

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table, register_views

__all__ = [
    "tbl", "views", "cents", "dec", "det_avg", "F",
    "ocents", "odec", "odet_avg",
    "cents_sum", "ocents_sum", "scratch_dir",
]

_SCRATCH_CLEANED: set = set()


def scratch_dir(name: str) -> str:
    """Per-process scratch dir for round-trip queries, WIPED CLEAN on every
    call. The bench loop and the plan sweep invoke every registry fn many
    times per process; a bare ``mkdtemp`` per invocation leaks a directory
    each time, while naive reuse breaks append-semantics ops (a second
    append would accumulate files). Wiping gives fresh-directory semantics
    with exactly one on-disk location per (process, name); one atexit hook
    per name removes it at interpreter exit."""
    import atexit
    import os
    import shutil
    import tempfile

    root = os.path.join(
        tempfile.gettempdir(), f"hcs_scratch_{os.getpid()}", name
    )
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root, exist_ok=True)
    if name not in _SCRATCH_CLEANED:
        _SCRATCH_CLEANED.add(name)
        atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def _pin_session(spark: SparkSession) -> None:
    """Defensive: declared queries may run in the driver's own session —
    pin the settings the oracle contract depends on (UTC timestamps) and
    the nanos-parquet shim. Idempotent, runtime-settable confs only."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    _pin_session(spark)
    return load_table(spark, sf_dir, name)


def views(spark: SparkSession, sf_dir: str) -> None:
    _pin_session(spark)
    register_views(spark, sf_dir)


def cents(c: Column | str, scale: int = 2) -> Column:
    """Exact integer units (cents for scale 2) from an exact-scale double.

    ``FLOOR(x*10^s + 0.5)`` — multiply, add, floor are each a single
    correctly-rounded IEEE op, so the result is bit-identical across engines
    and versions; for x an exact s-dp value the recovered integer is exact.
    """
    c = F.col(c) if isinstance(c, str) else c
    return F.floor(c * F.lit(float(10 ** scale)) + F.lit(0.5)).cast("bigint")


def dec(c: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Version-proof DECIMAL(p,s) from an exact-s-dp double: integer
    reconstruction (see `cents`) times an exact decimal unit — no
    double->decimal cast anywhere in the tree."""
    unit = (
        F.lit(_Dec(1).scaleb(-scale)).cast(f"decimal({scale + 1},{scale})")
        if scale > 0
        else F.lit(_Dec(1)).cast("decimal(1,0)")
    )
    i = cents(c, scale).cast(f"decimal({max(precision - scale, 1)},0)")
    return (i * unit).cast(f"decimal({precision},{scale})")


def cents_sum(c: Column | str, alias: str, scale: int = 2) -> Column:
    """SUM of exact integer units emitted as BIGINT — the round-4 output
    discipline for every driver-hashed money aggregate.

    Round 3 proved (VERDICT r3 #1) that DECIMAL must never reach the
    driver: its pandas harness serializes DuckDB decimals as float64 but
    Spark decimals as ``Decimal``, so trailing-zero cells can never
    hash-match. BIGINT survives any serializer bit-identically. Valid to
    |sum| < 2^63 (~9.2e18 units — far above bench scales; at larger scale
    keep the internal sum in DECIMAL(38,0) and emit DOUBLE instead)."""
    return F.sum(cents(c, scale)).alias(alias)


def ocents_sum(x: str, scale: int = 2) -> str:
    """DuckDB spelling of `cents_sum`. The outer BIGINT cast matters:
    DuckDB's SUM(BIGINT) returns HUGEINT, which pandas converts to
    float64 — reintroducing the serializer divergence the integer-units
    rule exists to kill."""
    return f"CAST(SUM({ocents(x, scale)}) AS BIGINT)"


def det_avg(c: Column | str, alias: str, scale: int = 2) -> Column:
    """Deterministic average emitted as DOUBLE: exact integer-cents sum ->
    double (exact conversion below 2^53) -> two IEEE divisions in a fixed
    order, mirrored exactly by `odet_avg`. Replaces round-1 ``dec_avg``
    whose final double->decimal cast was engine-version dependent."""
    col = F.col(c) if isinstance(c, str) else c
    return (
        (F.sum(cents(col, scale)).cast("double") / F.lit(float(10 ** scale)) / F.count(col))
        .alias(alias)
    )


# ---------------------------------------------------------------------------
# DuckDB-side spellings of the same idioms (kept next to the Spark forms so
# every query cites one definition of "deterministic money").
# ---------------------------------------------------------------------------

def ocents(x: str, scale: int = 2) -> str:
    return f"CAST(FLOOR(({x}) * {10 ** scale} + 0.5) AS BIGINT)"


def odec(x: str, precision: int = 18, scale: int = 2) -> str:
    unit = f"CAST({_Dec(1).scaleb(-scale)} AS DECIMAL({scale + 1},{scale}))" if scale > 0 else "CAST(1 AS DECIMAL(1,0))"
    pi = max(precision - scale, 1)
    return (
        f"CAST(CAST(FLOOR(({x}) * {10 ** scale} + 0.5) AS DECIMAL({pi},0))"
        f" * {unit} AS DECIMAL({precision},{scale}))"
    )


def odet_avg(x: str, scale: int = 2) -> str:
    return (
        f"CAST(SUM({ocents(x, scale)}) AS DOUBLE) / {float(10 ** scale)} / COUNT({x})"
    )
