"""Scalable global running (prefix) sum over a total order.

A naive ``SUM(v) OVER (ORDER BY ...)`` plans an empty-PARTITION-BY window:
every row funnels into ONE sorted partition — the same scale-killer shape
q35's ntile had before round 5 (see queries/windows.py). This operator
produces the identical running sum with no single-partition anything,
using the range-partitioned fix-up pattern:

1. range-repartition on the total order + in-partition sort — each of the
   P partitions owns a contiguous key range;
2. stamp (partition_id, local_index) JVM-side via
   ``monotonically_increasing_id`` (documented layout: partition id in the
   upper bits, a consecutive counter in the lower 33). localCheckpoint
   pins the sampled range boundaries so both downstream jobs see the SAME
   partitioning;
3. per-partition value sums (<= P rows — driver metadata, not data) ->
   cumulative offsets per partition;
4. running sum = offset[pid] + in-partition prefix sum, where the prefix
   sum is a window PARTITIONED BY pid — P bounded groups, each sorted
   locally, never a global funnel.

At 100 TB this is two parallel exchanges plus an O(P) driver aggregate;
the equivalent single-partition window is one machine sorting the world.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["global_prefix_sum", "grouped_rank"]


def _range_stamp(df: DataFrame, order_cols: list) -> DataFrame:
    """Steps 1-2 of the module plan: ``df`` range-repartitioned on
    ``order_cols`` into ``spark.sql.shuffle.partitions`` partitions, sorted
    within each, plus an int ``__pid`` and a long ``__lidx`` (the row's
    0-based index inside its partition).

    The checkpoint is lazy (r18): the caller's first job over the result
    must be its per-partition aggregate collect, which materializes the
    checkpoint and so pins the sampled range boundaries for every later
    job exactly as an eager checkpoint would, one job cheaper."""
    n_parts = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    return (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .withColumn("__mid", F.monotonically_increasing_id())
        .withColumn("__pid", F.shiftright(F.col("__mid"), 33).cast("int"))
        .withColumn("__lidx", F.col("__mid") % F.lit(1 << 33))
        .drop("__mid")
        .localCheckpoint(eager=False)
    )


def global_prefix_sum(
    df: DataFrame,
    value_col: str | Column,
    order_cols: list,
    out_col: str = "cum",
    totals: dict | None = None,
) -> DataFrame:
    """``df`` + a BIGINT ``out_col`` = running sum of ``value_col`` in the
    total order given by ``order_cols`` (must be a TOTAL order — include a
    unique tiebreak column, or ties make the result partition-dependent).
    Row order of the output is unspecified (sort downstream as needed).

    ``totals`` (optional out-param, r18): filled with {"total": <grand
    sum as an exact Python int>} — the per-partition sums this operator
    already collects add up to the corpus total, so a caller that needs
    it (budget thresholds, ppm denominators) reads it here for FREE
    instead of running its own full-scan aggregate job."""
    v = F.col(value_col) if isinstance(value_col, str) else value_col
    idx = _range_stamp(df.withColumn("__psv", v.cast("long")), order_cols)
    psums = sorted(
        (r["__pid"], r["s"] or 0)
        for r in idx.groupBy("__pid").agg(F.sum("__psv").alias("s")).collect()
    )  # <= n_parts rows: metadata, not data
    offsets, acc = {}, 0
    for pid, s in psums:
        offsets[pid] = acc
        acc += s
    if totals is not None:
        totals["total"] = acc
    if offsets:
        off = F.element_at(
            F.create_map(*[F.lit(x) for po in offsets.items() for x in po]),
            F.col("__pid"),
        )
    else:  # empty input: no partitions ever materialized
        off = F.lit(0)
    w = (
        Window.partitionBy("__pid")
        .orderBy("__lidx")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (F.sum("__psv").over(w) + off).cast("long").alias(out_col)
    return idx.select(*df.columns, cum)


def grouped_rank(
    df: DataFrame,
    group_cols: list,
    order_cols: list,
    out_col: str = "rk",
) -> DataFrame:
    """``df`` + a 1-based BIGINT ``out_col`` = rank within each group in
    the total order given by ``order_cols`` (must be total WITHIN a group
    — include a unique tiebreak). The keyed generalization of
    ``global_prefix_sum``: a naive ``ROW_NUMBER() OVER (PARTITION BY
    group ORDER BY ...)`` sorts each group in ONE task, so a skewed group
    (one source holding half a 100 TB corpus) becomes a single-machine
    sort. Here rows range-partition on (group, order) — a big group
    SPANS partitions — and ranks are fixed up from per-(partition, group)
    counts: O(P x G) driver metadata rows, valid when the group count G
    is domain-bounded (sources, languages), which is the only regime
    where per-group EXACT ranks make sense anyway. Output row order is
    unspecified."""
    spark = df.sparkSession
    idx = _range_stamp(df, [*group_cols, *order_cols])
    counts = sorted(
        (
            (tuple(r[g] for g in group_cols), r["__pid"], r["n"])
            for r in idx.groupBy("__pid", *group_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        ),
        # NULL is a valid window partition (ROW_NUMBER() OVER (PARTITION
        # BY g) ranks the NULL group like any other); Python can't order
        # None against non-None, so sort None-first per column. Only
        # CONTIGUITY of equal group keys matters for the offset scan, not
        # which group comes first.
        key=lambda t: (tuple((v is not None, v) for v in t[0]), t[1]),
    )  # <= P x G rows: metadata, not data
    rows, acc, cur = [], 0, object()
    for gkey, pid, n in counts:
        if gkey != cur:
            cur, acc = gkey, 0
        rows.append((*gkey, pid, acc))
        acc += n
    schema_cols = [df.schema[g] for g in group_cols]
    if rows:
        # Offset columns get fresh names + a null-SAFE equi join: a plain
        # `join(on=[group_cols...])` uses NULL-rejecting equality and
        # would silently drop every NULL-group row from the output.
        off_df = spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 1),
            schema=(
                ", ".join(
                    f"__g{i} {f.dataType.simpleString()}"
                    for i, f in enumerate(schema_cols)
                )
                + ", __opid int, __off long"
            ),
        )
        cond = F.col("__pid") == F.col("__opid")
        for i, g in enumerate(group_cols):
            cond = cond & F.col(g).eqNullSafe(F.col(f"__g{i}"))
        joined = idx.join(F.broadcast(off_df), cond)
    else:  # empty input
        joined = idx.withColumn("__off", F.lit(0).cast("long"))
    w = Window.partitionBy("__pid", *group_cols).orderBy("__lidx")
    rk = (F.col("__off") + F.row_number().over(w)).cast("long").alias(out_col)
    return joined.select(*df.columns, rk)
