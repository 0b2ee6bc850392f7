"""Data-quality validation operators (round 7, part 5): declarative
constraint profiling and schema-evolution plumbing.

Production pipelines gate every ingest on a constraint profile (the
Deequ/Great-Expectations pattern): primary-key uniqueness, referential
integrity, domain membership, derived-column consistency, null budgets.
``xh_dq_profile`` runs that whole battery as ONE query returning a
(check, n_violations) table — violations are counted, never exploded,
so the output is constraint-count-sized at any corpus size.

``xp_schema_evolution`` pins the other ingest-time invariant: a table
whose files were written under different schema versions (a column
added mid-stream) must read back as one coherent frame with NULLs for
the pre-evolution rows (parquet mergeSchema).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from .base import F, tbl
from .registry import register


def _partial_sum(col: str):
    """Per-partition partial sums of ``col`` (one BIGINT row each),
    foldable to a global total via coalesce(1) + sum without ever
    planning an `Exchange SinglePartition` (the text_index.py
    heavy-hitter pattern; the suite-wide invariant in test_plans.py
    forbids the single-partition shape even over aggregate state)."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        s = 0
        for pdf in it:
            s += int(pdf[col].sum())
        yield pd.DataFrame({"n": [s]})

    return fn


@register(
    "xh_dq_profile",
    oracle="""SELECT * FROM (
  SELECT 'customer_null_acctbal' AS chk,
         CAST(COUNT(*) FILTER (WHERE c_acctbal IS NULL) AS BIGINT) AS n_violations
  FROM customer
  UNION ALL
  SELECT 'documents_nchars_mismatch',
         CAST(COUNT(*) FILTER (WHERE n_chars <> length(text)) AS BIGINT)
  FROM documents
  UNION ALL
  SELECT 'lineitem_nonpositive_qty',
         CAST(COUNT(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_null_orderkey',
         CAST(COUNT(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
  FROM lineitem
  UNION ALL
  SELECT 'lineitem_orphan_orderkey',
         CAST(COUNT(*) AS BIGINT)
  FROM lineitem WHERE l_orderkey IS NOT NULL
    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders
                           WHERE o_orderkey IS NOT NULL)
  UNION ALL
  SELECT 'orders_bad_status_domain',
         CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('F','O','P')) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'orders_dup_pk_rows',
         CAST(COALESCE(SUM(cnt - 1), 0) AS BIGINT)
  FROM (SELECT COUNT(*) AS cnt FROM orders GROUP BY o_orderkey)
  WHERE cnt > 1
) ORDER BY chk""",
    tags=("quality", "constraints", "dq"),
)
def xh_dq_profile(spark, sf_dir):
    """Constraint battery over the star schema, one row per check:

    - PK uniqueness (orders): per-key counts, keep only violating keys
      (a violation-sized frame), fold their excess row counts through
      per-partition partial sums + coalesce(1) — no self-join and no
      single-partition data funnel. The oracle mirrors the SAME
      group-based SUM(cnt-1) (both engines group NULL keys together;
      the COUNT(*) - COUNT(DISTINCT) spelling would ignore NULLs and
      diverge on dirty keys);
    - referential integrity (lineitem -> orders): orphan fact rows via a
      LEFT ANTI join (the FK side builds a hash table of keys only).
      NULL keys are counted by their OWN check and excluded here on both
      sides — Spark's anti join keeps NULL-key probes while SQL NOT IN
      drops them, so mixing the two semantics in one count would make
      the engines disagree exactly when the data is dirty;
    - domain membership (o_orderstatus in {F,O,P});
    - derived-column consistency (documents.n_chars == length(text) —
      catches a corrupted ingest transform);
    - null budget (customer.c_acctbal) and value sanity
      (lineitem.l_quantity > 0).

    Every check COUNTS violations inside a partial->final aggregate —
    violating rows themselves never cross the wire, so the profile costs
    one scan per table plus constraint-count output rows. The fixtures
    are clean by construction, so all counts are zero — asserted
    non-vacuously in tests/test_quality_checks.py by corrupting a copy
    and watching each check fire."""
    c = tbl(spark, sf_dir, "customer")
    d = tbl(spark, sf_dir, "documents")
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")

    def chk(name, df_agg):
        return df_agg.select(
            F.lit(name).alias("chk"), F.col("n").cast("bigint").alias("n_violations")
        )

    rows = [
        chk(
            "customer_null_acctbal",
            c.agg(F.count(F.when(F.col("c_acctbal").isNull(), 1)).alias("n")),
        ),
        chk(
            "documents_nchars_mismatch",
            d.agg(
                F.count(
                    F.when(F.col("n_chars") != F.length("text"), 1)
                ).alias("n")
            ),
        ),
        chk(
            "lineitem_nonpositive_qty",
            li.agg(F.count(F.when(F.col("l_quantity") <= 0, 1)).alias("n")),
        ),
        chk(
            "lineitem_null_orderkey",
            li.agg(F.count(F.when(F.col("l_orderkey").isNull(), 1)).alias("n")),
        ),
        chk(
            "lineitem_orphan_orderkey",
            li.select("l_orderkey")
            .filter(F.col("l_orderkey").isNotNull())
            .join(
                o.select(F.col("o_orderkey").alias("l_orderkey")).filter(
                    F.col("l_orderkey").isNotNull()
                ),
                "l_orderkey",
                "left_anti",
            )
            .agg(F.count(F.lit(1)).alias("n")),
        ),
        chk(
            "orders_bad_status_domain",
            o.agg(
                F.count(
                    F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
                ).alias("n")
            ),
        ),
        chk(
            "orders_dup_pk_rows",
            # per-key counts -> only VIOLATING keys survive the filter
            # (a violation-sized frame) -> their excess row counts fold
            # through partial sums + coalesce(1); COUNT(DISTINCT) would
            # plan the forbidden single-partition exchange instead.
            o.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .filter(F.col("cnt") > 1)
            .select((F.col("cnt") - 1).alias("extra"))
            .mapInPandas(_partial_sum("extra"), schema="n bigint")
            .coalesce(1)
            .agg(F.sum("n").alias("n")),
        ),
    ]
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("chk")


def _work_dir(name: str) -> str:
    """Process-stable scratch dir for the round-trip P ops — now the
    shared wiping helper (base.scratch_dir), one location per
    (process, name), atexit-cleaned."""
    from .base import scratch_dir

    return scratch_dir(name)


@register("xp_schema_evolution", oracle=None, tags=("quality", "schema"))
def xp_schema_evolution(spark, sf_dir):
    """P-class: schema-evolution round-trip. Writes nation under schema
    v1 (two columns), appends files under schema v2 (an extra
    ingest_batch column), and reads the directory back with
    ``mergeSchema`` — the union schema, with NULLs backfilled for
    pre-evolution rows. This is the parquet-level behavior every
    long-lived 100 TB table depends on when columns are added
    mid-corpus; tests/test_quality_checks.py asserts the merged schema,
    the null backfill, and row conservation."""
    import os

    n = tbl(spark, sf_dir, "nation")
    # _work_dir wipes per call, so the append below starts clean
    path = os.path.join(_work_dir("schema_evo"), "nation_evolving")
    n.select("n_nationkey", "n_name").write.mode("overwrite").parquet(path)
    n.select(
        "n_nationkey", "n_name", F.lit(2).alias("ingest_batch")
    ).write.mode("append").parquet(path)
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .orderBy("n_nationkey", "ingest_batch")
    )


@register(
    "xp_dynamic_partition_overwrite", oracle=None, tags=("quality", "layout")
)
def xp_dynamic_partition_overwrite(spark, sf_dir):
    """P-class: dynamic partition overwrite — the vanilla-Spark idiom for
    restating ONE partition of a 100 TB partitioned table without
    rewriting (or deleting) the others. With
    ``partitionOverwriteMode=dynamic``, an overwrite write touches only
    the partitions present in the incoming frame; static mode (the
    default) would truncate the whole table first. Returns the table
    after restating the 'F' partition; tests assert the other status
    partitions survive byte-identically and only 'F' changed. The
    versioned-snapshot layer (operators/snapshots.py) supersedes this
    with time travel; this pins the engine-native behavior a plain
    parquet table relies on.

    The restated frame derives from the ORIGINAL source, never from
    reading the path being overwritten — read-then-overwrite-same-path
    is explicitly undefined in Spark (a mid-job FileIndex re-resolution
    after the commit deletes files under the reader)."""
    import os

    o = tbl(spark, sf_dir, "orders")
    # _work_dir wipes per call — the write below starts clean
    out = os.path.join(_work_dir("dpo"), "orders_by_status")
    o.write.partitionBy("o_orderstatus").parquet(out)

    restated = (
        o.filter(F.col("o_orderstatus") == "F")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
    )
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        restated.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # explicit schema: a partitioned write of an EMPTY frame emits no data
    # files and schema inference on the bare directory fails (the q05
    # rule) — the read-back contract must not depend on non-empty input
    return spark.read.schema(o.schema).parquet(out).orderBy("o_orderkey")


@register("xp_observed_metrics", oracle=None, tags=("quality", "observe"))
def xp_observed_metrics(spark, sf_dir):
    """P-class: `df.observe()` job-piggybacked metrics — ingest
    accounting (rows, exact sums, null budget) evaluated INSIDE the
    transform's own job via a CollectMetrics node: no second scan, no
    extra exchange. The returned frame is the normal query result;
    tests/test_quality_checks.py runs the action through
    operators/observe.py and asserts the observed metrics equal
    independently-computed aggregates."""
    from ..operators.observe import observed_enriched_lineitem

    df, _obs = observed_enriched_lineitem(spark, sf_dir)
    return df


@register("xp_ingest_provenance", oracle=None, tags=("quality", "ingest"))
def xp_ingest_provenance(spark, sf_dir):
    """P-class: per-source-file ingest provenance via
    ``F.input_file_name()`` — the lineage primitive behind "which shard
    did this row come from" accounting (bad-shard quarantine, re-ingest
    of one file, blame for a corrupt row) at 100 TB. Writes orders as a
    status-partitioned multi-file table, reads it back and aggregates
    rows per (partition, file). File basenames are write-run UUIDs, so
    the emitted frame reduces to deterministic facts: per-partition file
    counts and row totals, which tests assert conserve the source
    exactly (tests/test_quality_checks.py)."""
    import os

    o = tbl(spark, sf_dir, "orders")
    out = os.path.join(_work_dir("provenance"), "orders_by_status")
    o.write.partitionBy("o_orderstatus").parquet(out)
    back = spark.read.schema(o.schema).parquet(out)
    per_file = back.select(
        "o_orderstatus", F.input_file_name().alias("src_file")
    ).groupBy("o_orderstatus", "src_file").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    return (
        per_file.groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_rows").cast("bigint").alias("n_rows"),
        )
        .orderBy("o_orderstatus")
    )


@register("xp_corrupt_record_isolation", oracle=None, tags=("quality", "ingest"))
def xp_corrupt_record_isolation(spark, sf_dir):
    """P-class: corrupt-row isolation on JSON ingest — PERMISSIVE mode
    with ``columnNameOfCorruptRecord`` routes unparseable lines into a
    quarantine column instead of failing the 100 TB job (FAILFAST) or
    silently dropping them (DROPMALFORMED). Two corrupt lines are
    planted among the valid ones; output is per-status row accounting
    with every input line accounted for — tests assert good + corrupt ==
    written (tests/test_quality_checks.py)."""
    import os

    n = tbl(spark, sf_dir, "nation")
    base = _work_dir("corrupt_ingest")
    path = os.path.join(base, "lines")
    good = n.select(F.to_json(F.struct("n_nationkey", "n_name")).alias("value"))
    planted = good.unionByName(
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [("{broken json",), ('{"n_nationkey": "NaN"',)], 1
            ),
            "value string",
        )
    )
    planted.write.mode("overwrite").text(path)
    schema = "n_nationkey bigint, n_name string, _corrupt string"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    # materialize the parse before deriving from the corrupt column:
    # Spark disallows any plan whose pruned scan references ONLY the
    # internal corrupt record (UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_
    # RECORD_COLUMN — a downstream count() prunes every data column and
    # trips it), and its documented remedy is exactly this
    # cache/checkpoint of the parsed result. At 100 TB this step IS the
    # quarantine write the pipeline does anyway.
    back = back.localCheckpoint(eager=True)
    return (
        back.select(
            "n_nationkey",
            F.when(F.col("_corrupt").isNotNull(), "corrupt")
            .otherwise("good")
            .alias("status"),
        )
        .groupBy("status")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("n_nationkey").alias("n_parsed_keys"),
        )
        .orderBy("status")
    )


# --- Bloom-filter scan pruning (round 12; finishes VERDICT r11 #2) -----
_BLOOM_M = 4096  # bits — sized so the sf0.01 fixture yields real false
_BLOOM_K = 3     # positives (~(1-e^{-kn/m})^k ≈ 0.8% per probe)
_BLOOM_WORDS = _BLOOM_M // 32


def _bloom_oracle() -> str:
    """DuckDB rebuild of the IDENTICAL bitmap: bloom_position_sql is the
    one position generator feeding both engines, so even the false
    positives reproduce bit-for-bit."""
    from ..operators.bloom import bloom_position_sql

    build_pos = ", ".join(
        bloom_position_sql("key", i, _BLOOM_M) for i in range(_BLOOM_K)
    )
    probe = " AND ".join(
        f"(bm[CAST({bloom_position_sql('o_custkey', i, _BLOOM_M)} // 32 AS INT) + 1]"
        f" & (1::BIGINT << CAST({bloom_position_sql('o_custkey', i, _BLOOM_M)} % 32 AS INT))) <> 0"
        for i in range(_BLOOM_K)
    )
    return f"""WITH dim AS (
  SELECT DISTINCT c_custkey AS key FROM customer WHERE c_mktsegment = 'BUILDING'),
pos AS (SELECT unnest([{build_pos}]) AS p FROM dim),
words AS (SELECT p // 32 AS w,
                 bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
          FROM pos GROUP BY 1),
bloom AS (SELECT list(COALESCE(words.bits, 0::BIGINT) ORDER BY r.w) AS bm
          FROM range({_BLOOM_WORDS}) r(w) LEFT JOIN words ON words.w = r.w),
flags AS (SELECT ({probe}) AS pass,
                 o_custkey IN (SELECT key FROM dim) AS member
          FROM orders, bloom)
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(*) FILTER (WHERE pass) AS BIGINT) AS n_pass,
       CAST(count(*) FILTER (WHERE pass AND member) AS BIGINT) AS n_true,
       CAST(count(*) FILTER (WHERE pass AND NOT member) AS BIGINT) AS n_fp,
       CAST(count(*) FILTER (WHERE member AND NOT pass) AS BIGINT) AS n_fn
FROM flags"""


@register(
    "xh_bloom_prune",
    oracle=_bloom_oracle(),
    tags=("quality", "bloom", "prune"),
)
def xh_bloom_prune(spark, sf_dir):
    """Broadcast Bloom-filter scan pruning (operators/bloom.py): build an
    m-bit bitmap over the BUILDING-segment customer keys (one bounded
    aggregate — m/32 BIGINT words regardless of key count), attach the
    single bitmap row to the orders fact via a 1-ROW broadcast, and probe
    each fact key with k pure-JVM bit tests. Emits the prune quality
    profile: total rows, bloom passes, true positives, false positives,
    and false negatives — the last hash-checked to ZERO on both engines,
    the filter's defining guarantee. Positions come from the portable
    60-bit md5 hash, so DuckDB rebuilds the identical bitmap and even the
    false-positive count matches bit-for-bit.

    Scale shape: the fact side NEVER shuffles on its key — bitmap attach
    is a provably-1-row nested-loop broadcast (the heavy-hitters
    global-scalar shape), membership is a broadcast hash join against the
    dim, and the counts ride one partial->final global aggregate. At
    100 TB this is the cheapest possible pre-join prune: the bitmap costs
    m/32 longs on the wire per executor versus a full key-set hash
    relation for a semi-join, and false positives are removed by the real
    join later."""
    from ..operators.bloom import bloom_build, bloom_probe

    dim = (
        tbl(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select(F.col("c_custkey").alias("key"))
        .distinct()
    )
    bloom = bloom_build(spark, dim, "key", m_bits=_BLOOM_M, k=_BLOOM_K)
    fact = tbl(spark, sf_dir, "orders").select("o_custkey")
    probed = fact.join(F.broadcast(bloom)).withColumn(
        "pass", bloom_probe(F.col("bloom"), F.col("o_custkey"), _BLOOM_M, _BLOOM_K)
    )
    flags = probed.join(
        F.broadcast(dim.withColumn("__m", F.lit(1))),
        probed.o_custkey == F.col("key"),
        "left",
    ).select("pass", F.col("__m").isNotNull().alias("member"))
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count(F.when(F.col("pass"), 1)).cast("long").alias("n_pass"),
        F.count(F.when(F.col("pass") & F.col("member"), 1)).cast("long").alias("n_true"),
        F.count(F.when(F.col("pass") & ~F.col("member"), 1)).cast("long").alias("n_fp"),
        F.count(F.when(F.col("member") & ~F.col("pass"), 1)).cast("long").alias("n_fn"),
    )


@register(
    "xh_robust_stats",
    oracle="""WITH d AS MATERIALIZED (
  SELECT lang, n_chars FROM documents WHERE n_chars IS NOT NULL),
med AS MATERIALIZED (
  SELECT lang, CAST(quantile_cont(2 * n_chars, 0.5) AS BIGINT) AS med2
  FROM d GROUP BY lang),
dev AS MATERIALIZED (
  SELECT d.lang, abs(2 * d.n_chars - m.med2) AS dev2
  FROM d JOIN med m USING (lang)),
mad AS (
  SELECT lang, CAST(quantile_cont(2 * dev2, 0.5) AS BIGINT) AS mad4
  FROM dev GROUP BY lang)
SELECT v.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MAX(m.med2) AS med_x2, MAX(a.mad4) AS mad_x4,
       CAST(COUNT(*) FILTER (WHERE 20000 * v.dev2 > 44478 * a.mad4) AS BIGINT)
         AS n_outliers
FROM dev v JOIN med m USING (lang) JOIN mad a USING (lang)
GROUP BY v.lang ORDER BY v.lang""",
    tags=("quality", "robust", "outlier"),
)
def xh_robust_stats(spark, sf_dir):
    """Robust per-language length statistics (round 12) — median/MAD
    outlier scoring, the heavy-tail-immune form of z-score filtering
    (one pathological 10 MB document shifts a mean filter's cutoff; it
    moves the median not at all). The integer trick makes it
    hash-checkable with NO float quantiles: interpolated medians of
    2x-scaled integers are exactly integral (lo + (hi-lo)*0.5 over even
    integers), so med and MAD are exact BIGINTs in 2x/4x units, and the
    classic |x - med| > 3 * 1.4826 * MAD robust-z cut becomes the exact
    integer comparison 20000*dev2 > 44478*mad4. Spark percentile and
    DuckDB quantile_cont interpolate identically over the same integers
    (the q33 discipline).

    Scale shape: inherently two-pass (MAD needs the median first) — two
    lang-keyed partial-agg exchanges plus a final rollup, with the tiny
    per-language med/MAD frames BROADCAST back onto the corpus each
    pass; the documents never shuffle."""
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select("lang", "n_chars")
    )
    med = d.groupBy("lang").agg(
        F.expr("CAST(percentile(2 * n_chars, 0.5) AS BIGINT)").alias("med2")
    )
    dev = d.join(F.broadcast(med), "lang").select(
        "lang", F.abs(2 * F.col("n_chars") - F.col("med2")).alias("dev2")
    )
    mad = dev.groupBy("lang").agg(
        F.expr("CAST(percentile(2 * dev2, 0.5) AS BIGINT)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(med), "lang")
        .join(F.broadcast(mad), "lang")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("med2").alias("med_x2"),
            F.max("mad4").alias("mad_x4"),
            F.count(
                F.when(20000 * F.col("dev2") > 44478 * F.col("mad4"), 1)
            ).alias("n_outliers"),
        )
        .orderBy("lang")
    )


@register(
    "xh_ks_drift",
    oracle="""WITH d AS MATERIALIZED (
  SELECT doc_id % 2 AS grp, n_chars FROM documents WHERE n_chars IS NOT NULL),
c AS (SELECT n_chars AS v,
             COUNT(*) FILTER (WHERE grp = 0) AS ca,
             COUNT(*) FILTER (WHERE grp = 1) AS cb
      FROM d GROUP BY n_chars),
r AS (SELECT v,
             SUM(ca) OVER (ORDER BY v) AS cum_a,
             SUM(cb) OVER (ORDER BY v) AS cum_b
      FROM c),
t AS (SELECT CAST(COUNT(*) FILTER (WHERE grp = 0) AS BIGINT) AS n_a,
             CAST(COUNT(*) FILTER (WHERE grp = 1) AS BIGINT) AS n_b
      FROM d)
SELECT CAST(1000000 * MAX(abs(cum_a * t.n_b - cum_b * t.n_a))
            // greatest(t.n_a * t.n_b, 1) AS BIGINT) AS ks_ppm,
       CAST(MAX(abs(cum_a * t.n_b - cum_b * t.n_a)) AS BIGINT) AS d_scaled,
       t.n_a, t.n_b
FROM r, t GROUP BY t.n_a, t.n_b""",
    tags=("quality", "drift", "distribution"),
)
def xh_ks_drift(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift statistic (round 12) — the
    distribution-shift monitor a pipeline runs between two corpus slices
    (old crawl vs new crawl, train vs eval) before trusting a threshold
    tuned on one of them. The slices here are the deterministic even/odd
    doc_id halves over the length distribution; D = max_x |F_a(x) -
    F_b(x)| is computed ENTIRELY in integers: the ECDF difference at each
    distinct value is |cumA * n_b - cumB * n_a| (exact BIGINT), the
    statistic is its max, emitted with an exact integer-division ppm —
    hash-checkable, no floats anywhere.

    Scale shape: the corpus collapses to one value-cardinality counts
    frame (ONE uniform partial agg on the value); the two running ECDFs
    ride a single `global_prefix_sum` pass when safe (the two counts
    packed into one long, decomposed after — one range exchange instead
    of two, and never the single-partition SUM() OVER (ORDER BY) the
    naive spelling plans). The packing is GUARDED, not assumed: cum =
    cumA * 2^31 + cumB is exact only while every cumulative count stays
    below 2^31 (~2.1 B rows per half); a 1-row probe of the half totals
    picks the packed pass when safe and falls back to two prefix passes
    past the bound — same values, one extra exchange, never a silent
    overflow (r12 ADVICE item). Totals attach via a provably-1-row
    broadcast (the heavy-hitters global-scalar shape) and the max is a
    partial->final global agg."""
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("n_chars").isNotNull())
        .select((F.col("doc_id") % 2).alias("grp"), "n_chars")
    )
    return _ks_two_sample(spark, d, "n_chars")


def _ks_two_sample(spark, d, value_col, pack_k=1 << 31):
    """Exact integer two-sample KS over ``d(grp in {0,1}, value_col)``.

    ``pack_k`` is the ECDF packing radix: both cumulative counts ride one
    long as cumA * pack_k + cumB, which is exact only while every
    cumulative count < pack_k AND the packed value fits a signed 64-bit
    long (cumA * pack_k + cumB < 2^63, guaranteed for the default radix
    when cumA < 2^31). The half totals are the maxima of their cumulative
    series, so a 1-row probe of (n_a, n_b) decides up front: packed
    single prefix pass when max(n_a, n_b) < pack_k, else two unpacked
    prefix passes (identical values, one extra range exchange). Tests
    drive ``pack_k`` down to force the fallback on small data and assert
    both paths hash-identical (tests/test_quality_checks.py)."""
    from ..operators.prefix import global_prefix_sum

    c = d.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.when(F.col("grp") == 0, 1)).alias("ca"),
        F.count(F.when(F.col("grp") == 1, 1)).alias("cb"),
    )
    tot = d.agg(
        F.count(F.when(F.col("grp") == 0, 1)).cast("long").alias("n_a"),
        F.count(F.when(F.col("grp") == 1, 1)).cast("long").alias("n_b"),
    ).collect()[0]  # 1-row scalar probe: picks the ECDF plan shape
    n_a, n_b = int(tot["n_a"] or 0), int(tot["n_b"] or 0)
    if max(n_a, n_b) < pack_k:
        packed = c.select("v", (F.col("ca") * pack_k + F.col("cb")).alias("pk"))
        r = global_prefix_sum(packed, "pk", ["v"], out_col="cum").select(
            "v",
            F.expr(f"cum div {pack_k}").alias("cum_a"),
            (F.col("cum") % pack_k).alias("cum_b"),
        )
    else:  # past the packing bound: two exact prefix passes, no radix
        r = global_prefix_sum(
            global_prefix_sum(c, "ca", ["v"], out_col="cum_a"),
            "cb",
            ["v"],
            out_col="cum_b",
        ).select("v", "cum_a", "cum_b")
    t = spark.createDataFrame([(n_a, n_b)], "n_a long, n_b long")
    diff = F.abs(F.col("cum_a") * F.col("n_b") - F.col("cum_b") * F.col("n_a"))
    return (
        r.join(F.broadcast(t))  # 1-row build side
        .groupBy("n_a", "n_b")
        .agg(
            F.expr(
                "CAST(1000000 * max(abs(cum_a * n_b - cum_b * n_a))"
                " div greatest(n_a * n_b, 1) AS BIGINT)"
            ).alias("ks_ppm"),
            F.max(diff).cast("long").alias("d_scaled"),
        )
        .select("ks_ppm", "d_scaled", "n_a", "n_b")
    )


# ---------------------------------------------------------------------------
# Distributed HyperLogLog with EXACT cross-engine verification (round 12).

_HLL_M = 256  # buckets: top 8 bits of the 60-bit hash
# 2^52 — remaining 52 bits carry rho. The bucket MUST be derived with exact
# integer division (`h div 2^52`), never floor(h / 2^52): the long->double
# conversion loses up to 7 low bits of a 60-bit h, so a hash within that
# error of a bucket boundary would land in the wrong register and break the
# bit-for-bit contract with the DuckDB oracle's exact `//` (ADVICE r13).
_HLL_REM = 4503599627370496
_HLL_H60_SQL = "('0x' || substr(md5(text), 1, 15))::BIGINT"
# alpha_256 * m^2, computed ONCE in Python and embedded as a repr'd
# double literal: a `0.7213 / ...` spelled inline parses as DECIMAL in
# both engines with engine-specific scale rules (probed: estimates
# diverged at 4e-9 relative), while the shortest-round-trip repr parses
# to the identical double everywhere.
_HLL_ALPHA_M2 = repr(0.7213 / (1.0 + 1.079 / _HLL_M) * _HLL_M * _HLL_M)


def _hll_oracle() -> str:
    return f"""WITH h AS MATERIALIZED (
  SELECT ({_HLL_H60_SQL}) AS h FROM documents),
b AS (SELECT h // {_HLL_REM} AS bucket, h % {_HLL_REM} AS rem FROM h),
r AS (SELECT bucket,
             MAX(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END) AS reg,
             CAST(COUNT(DISTINCT rem) AS BIGINT) AS nd,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM b GROUP BY bucket),
g AS (SELECT gs.bucket, COALESCE(r.reg, 0) AS reg,
             COALESCE(r.nd, 0) AS nd, COALESCE(r.n, 0) AS n
      FROM generate_series(0, {_HLL_M - 1}) gs(bucket)
      LEFT JOIN r ON r.bucket = gs.bucket),
s AS (SELECT CAST(SUM(1::BIGINT << CAST(53 - reg AS INT)) AS BIGINT) AS sum_units,
             CAST(COUNT(*) FILTER (WHERE reg = 0) AS BIGINT) AS v_zero_registers,
             CAST(SUM(nd) AS BIGINT) AS n_distinct_exact,
             CAST(SUM(n) AS BIGINT) AS n_docs,
             string_agg(reg::VARCHAR, ',' ORDER BY bucket) AS registers
      FROM g),
e AS (SELECT *,
             CAST({_HLL_ALPHA_M2} AS DOUBLE)
               / (CAST(sum_units AS DOUBLE) / 9007199254740992.0) AS hll_raw_estimate
      FROM s)
SELECT CAST({_HLL_M} AS BIGINT) AS m, n_docs, n_distinct_exact, v_zero_registers,
       sum_units, registers, hll_raw_estimate,
       CASE WHEN n_distinct_exact = 0 THEN CAST(0 AS BIGINT)
            ELSE CAST(FLOOR(1e6
                   * abs(hll_raw_estimate - CAST(n_distinct_exact AS DOUBLE))
                   / CAST(n_distinct_exact AS DOUBLE) + 0.5) AS BIGINT)
       END AS err_ppm
FROM e"""


@register(
    "xh_hll_registers",
    oracle=_hll_oracle(),
    tags=("quality", "sketch", "cardinality"),
)
def xh_hll_registers(spark, sf_dir):
    """Distributed HyperLogLog cardinality sketch with EXACT cross-engine
    verification — unlike ``approx_count_distinct`` (whose internal
    sketch is engine-specific and unverifiable), this builds the HLL
    registers from the portable 60-bit md5 hash so DuckDB reconstructs
    the identical 256-register state bit-for-bit: bucket = top 8 bits,
    rho = leading zeros of the remaining 52 bits + 1 (bit length via the
    base-2 string, exact on integers in both engines). The harmonic-mean
    denominator is summed in exact BIGINT units of 2^-53 (each term
    2^(53-reg) is an exact shift, so the sum is order-free), and the one
    double division + alpha*m^2 multiply that follow are correctly
    rounded IEEE ops over a mirrored tree — even the float estimate
    hash-matches. Emits registers (serialized), sum-units, zero-register
    count, the raw estimate, and its ppm error vs the exact distinct
    count (computed in the same pass: buckets partition the hash space,
    so per-bucket distinct counts sum to the global one). The standard
    small-range linear-counting correction (m*ln(m/V)) is deliberately
    NOT emitted — ln is libm, not correctly rounded, the one op class
    the verify discipline keeps out of emitted values.

    Scale shape: ONE partial-agg exchange of at most 256*(partitions)
    tiny rows — the corpus never shuffles; register fill + rollup run on
    a 256-row frame. At 100 TB an HLL union across sources/shards is
    this same max-merge, which is why registers (not estimates) are the
    emitted state."""
    h = tbl(spark, sf_dir, "documents").select(
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("h")
    )
    b = h.select(
        F.expr(f"h div {_HLL_REM}").alias("bucket"),
        (F.col("h") % _HLL_REM).alias("rem"),
    )
    r = b.groupBy("bucket").agg(
        F.max(
            F.when(F.col("rem") == 0, F.lit(53)).otherwise(
                53 - F.length(F.conv(F.col("rem").cast("string"), 10, 2))
            )
        ).alias("reg"),
        F.count_distinct("rem").alias("nd"),
        F.count(F.lit(1)).alias("n"),
    )
    g = (
        spark.range(_HLL_M)
        .select(F.col("id").alias("bucket"))
        .join(F.broadcast(r), "bucket", "left")
        .select(
            "bucket",
            F.coalesce(F.col("reg"), F.lit(0)).alias("reg"),
            F.coalesce(F.col("nd"), F.lit(0)).alias("nd"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    s = g.agg(
        F.sum(F.expr("shiftleft(1L, CAST(53 - reg AS INT))")).alias("sum_units"),
        F.count(F.when(F.col("reg") == 0, 1)).alias("v_zero_registers"),
        F.sum("nd").cast("long").alias("n_distinct_exact"),
        F.sum("n").cast("long").alias("n_docs"),
        F.expr(
            "concat_ws(',', transform(array_sort(collect_list(struct(bucket, reg))),"
            " x -> CAST(x.reg AS STRING)))"
        ).alias("registers"),
    )
    e = s.withColumn(
        "hll_raw_estimate",
        F.expr(
            f"CAST({_HLL_ALPHA_M2} AS DOUBLE)"
            " / (CAST(sum_units AS DOUBLE) / 9007199254740992.0)"
        ),
    )
    return e.select(
        F.lit(_HLL_M).cast("long").alias("m"),
        "n_docs",
        "n_distinct_exact",
        "v_zero_registers",
        "sum_units",
        "registers",
        "hll_raw_estimate",
        F.when(F.col("n_distinct_exact") == 0, F.lit(0).cast("long"))
        .otherwise(
            F.expr(
                "CAST(FLOOR(1e6"
                " * abs(hll_raw_estimate - CAST(n_distinct_exact AS DOUBLE))"
                " / CAST(n_distinct_exact AS DOUBLE) + 0.5) AS BIGINT)"
            )
        )
        .alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# Distributed Count-Min Sketch with EXACT cross-engine verification (r13).

_CMS_D = 4   # independent hash rows
_CMS_W = 64  # buckets per row
# portable 60-bit hash of "row:token" (the repo's md5 idiom), mod W
_CMS_H_SQL = "(('0x' || substr(md5({j} || ':' || token), 1, 15))::BIGINT) % " + str(
    _CMS_W
)


def cms_counts(df, text_col: str = "text"):
    """Sparse Count-Min counters (row_id, bucket, cnt) for ONE document
    frame — the per-shard state the sketch exists for: shard sketches
    union by pointwise ADDITION, so a streaming foreachBatch SUM-merges
    these <=256 rows per micro-batch into running registers that equal
    the batch sketch exactly (mirrors hll_bucket_rho's role for the HLL
    family; used by xh_cms_registers and tests/test_streaming.py's
    incremental-CMS check)."""
    toks = df.select(
        F.explode(
            F.filter(F.split(F.lower(text_col), r"\s+"), lambda t: t != "")
        ).alias("token")
    )
    rb = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).cast("long").alias("row_id"),
                        (
                            F.conv(
                                F.substring(
                                    F.md5(
                                        F.concat_ws(
                                            ":", F.lit(str(j)), F.col("token")
                                        )
                                    ),
                                    1,
                                    15,
                                ),
                                16,
                                10,
                            ).cast("long")
                            % _CMS_W
                        ).alias("bucket"),
                    )
                    for j in range(_CMS_D)
                ]
            )
        ).alias("rb")
    ).select("rb.row_id", "rb.bucket")
    return rb.groupBy("row_id", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


@register(
    "xh_cms_registers",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            x -> x <> '')) AS token
  FROM documents),
e AS (SELECT j.j AS row_id,
             {_CMS_H_SQL.format(j="j.j::VARCHAR")} AS bucket
      FROM t CROSS JOIN generate_series(0, {_CMS_D - 1}) j(j)),
c AS (SELECT row_id, bucket, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM e GROUP BY row_id, bucket),
g AS (SELECT r.j AS row_id, b.b AS bucket
      FROM generate_series(0, {_CMS_D - 1}) r(j)
      CROSS JOIN generate_series(0, {_CMS_W - 1}) b(b))
SELECT CAST(g.row_id AS BIGINT) AS row_id,
       CAST(g.bucket AS BIGINT) AS bucket,
       COALESCE(c.cnt, 0) AS cnt
FROM g LEFT JOIN c ON c.row_id = g.row_id AND c.bucket = g.bucket
ORDER BY row_id, bucket""",
    tags=("quality", "sketch", "llm", "oracle-twin"),
)
def xh_cms_registers(spark, sf_dir):
    """Count-Min Sketch registers over the corpus token stream (round
    13) — the frequency-estimation companion to xh_hll_registers'
    cardinality sketch: 4 hash rows x 64 buckets of exact
    BIGINT counters, each counter the number of token occurrences
    hashing into it. The register frame IS the mergeable state the
    sketch exists for at 100 TB: per-shard sketches union by pointwise
    ADDITION (tested in tests/test_quality_checks.py along with the
    point-query guarantee est = min_j reg[j][h_j(tok)] >= exact count
    for EVERY token). Hashes are the repo's portable 60-bit md5 idiom
    over "row:token", so both engines compute bit-identical registers
    and the driver hash-checks the full 256-counter state.

    Scale shape: tokens explode once and fan out x4 into (row,
    bucket) keys inside the same projection; the ONE exchange is the
    uniform (row, bucket) partial agg whose aggregate state is at most
    4x64 counters per partition — the corpus never
    shuffles, exactly the property that lets a 1000-executor job emit a
    256-long frame per shard and merge on the driver. The zero-filled
    grid attaches via a 256-row driver range, cost-free."""
    counts = cms_counts(tbl(spark, sf_dir, "documents"))
    grid = spark.range(_CMS_D * _CMS_W).select(
        F.expr(f"id div {_CMS_W}").cast("long").alias("row_id"),
        (F.col("id") % _CMS_W).cast("long").alias("bucket"),
    )
    return (
        grid.join(counts, ["row_id", "bucket"], "left")
        .select(
            "row_id", "bucket", F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt")
        )
        .orderBy("row_id", "bucket")
    )


# ---------------------------------------------------------------------------
# Round 13 (late): distribution-diagnostics family — per-source token
# entropy, KL drift vs the corpus, chi-squared token selection, and a
# jackknife stability estimate. All hash-exact: logs are integer
# bit-lengths (the surprisal idiom from queries/text_index.py), ratios
# are emitted in truncating-integer ppm, and wide intermediates are
# probe-guarded (the xh_pca_power discipline).
# ---------------------------------------------------------------------------

from .text_index import _TOKENS_SQL, _tokens_col  # noqa: E402  (one tokenizer)


@register(
    "xh_entropy_by_source",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT source, unnest({_TOKENS_SQL}) AS token FROM documents),
c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t GROUP BY source, token),
s AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS vocab FROM c GROUP BY source)
SELECT c.source,
       s.total AS n_tokens, s.vocab,
       CAST(SUM(c.cnt * CAST(length(bin(s.total // c.cnt)) AS BIGINT))
            * 1000000 // s.total AS BIGINT) AS entropy_ppm_bits
FROM c JOIN s USING (source)
GROUP BY c.source, s.total, s.vocab
ORDER BY c.source""",
    tags=("llm", "quality", "stats"),
)
def xh_entropy_by_source(spark, sf_dir):
    """Per-source token entropy (round 13): mean surprisal
    sum(c/T * log2(T/c)) of each source's own unigram distribution, in
    exact ppm bits — the diversity gauge a mixture designer reads next
    to xh_source_gini (volume concentration) and xh_domain_mix (target
    weights): a source whose entropy collapses is template spam no
    volume cap will fix. log2 is the integer bit-length idiom, so both
    engines agree bit-for-bit.

    Scale shape: ONE uniform (source, token) partial agg (Heaps-law
    rows out, corpus rows in, map-side combined); per-source totals are
    a second domain-bounded agg on that output; the probe join is
    source-keyed and unhinted; final frame is one row per source."""
    d = tbl(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(_tokens_col()).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    s = c.groupBy("source").agg(
        F.sum("cnt").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
    )
    bits = F.length(
        F.conv(F.expr("total div cnt").cast("string"), 10, 2)
    ).cast("long")
    return (
        c.join(s, "source")
        .select("source", "total", "vocab", (F.col("cnt") * bits).alias("cb"))
        .groupBy("source", "total", "vocab")
        .agg(
            F.expr("CAST(SUM(cb) * 1000000 div total AS BIGINT)").alias(
                "entropy_ppm_bits"
            )
        )
        .select(
            "source",
            F.col("total").alias("n_tokens"),
            "vocab",
            "entropy_ppm_bits",
        )
        .orderBy("source")
    )


@register(
    "xh_kl_source_drift",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT source, unnest({_TOKENS_SQL}) AS token FROM documents),
c AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t GROUP BY source, token),
g AS (SELECT token, CAST(SUM(cnt) AS BIGINT) AS gcnt FROM c GROUP BY token),
n AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS gtotal FROM g),
s AS (SELECT source, CAST(SUM(cnt) AS BIGINT) AS total FROM c GROUP BY source),
term AS (
  SELECT c.source, s.total,
         c.cnt * (CAST(length(bin(n.gtotal // g.gcnt)) AS BIGINT)
                  - CAST(length(bin(s.total // c.cnt)) AS BIGINT)) AS kterm
  FROM c JOIN g USING (token) JOIN s USING (source) CROSS JOIN n),
agg AS (SELECT source, total, CAST(SUM(kterm) AS BIGINT) AS ksum
        FROM term GROUP BY source, total)
SELECT source, total AS n_tokens,
       CAST(CASE WHEN ksum >= 0 THEN (ksum * 1000000) // total
                 ELSE -((-ksum * 1000000) // total) END AS BIGINT)
         AS kl_ppm_bits
FROM agg ORDER BY source""",
    tags=("llm", "quality", "drift", "stats"),
)
def xh_kl_source_drift(spark, sf_dir):
    """Per-source KL divergence to the corpus unigram distribution
    (round 13), in exact ppm bits: sum_t p_s(t) * (log2(1/q(t)) -
    log2(1/p_s(t))) with both logs as integer bit-lengths — the
    distribution-shift monitor for TOKEN drift, completing the drift
    family (xh_ks_drift = numeric columns, xh_embed_centroid_drift =
    embedding space, this = vocabulary). A source whose token mix
    diverges from the corpus (new jargon, language creep, extractor
    breakage) scores high; the integer-bits approximation can dip
    slightly negative for near-identical distributions, so the final
    ppm division is SIGN-SPLIT — both engines truncate toward zero
    identically (verified: Spark `div` and DuckDB `//` both truncate).

    Scale shape: ONE (source, token) partial agg; the corpus table
    derives from IT (domain-bounded rows), never a second corpus scan;
    corpus total is a 1-row broadcast; probe joins token-keyed and
    source-keyed, unhinted (Heaps-law build sides — the broadcast-audit
    rule); output one row per source."""
    d = tbl(spark, sf_dir, "documents")
    c = (
        d.select("source", F.explode(_tokens_col()).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    g = c.groupBy("token").agg(F.sum("cnt").cast("long").alias("gcnt"))
    n = g.agg(F.sum("gcnt").cast("long").alias("gtotal"))
    s = c.groupBy("source").agg(F.sum("cnt").cast("long").alias("total"))
    gbits = F.length(
        F.conv(F.expr("gtotal div gcnt").cast("string"), 10, 2)
    ).cast("long")
    sbits = F.length(
        F.conv(F.expr("total div cnt").cast("string"), 10, 2)
    ).cast("long")
    term = (
        c.join(g, "token")
        .join(s, "source")
        .join(F.broadcast(n))  # 1-row corpus total
        .select("source", "total", (F.col("cnt") * (gbits - sbits)).alias("kterm"))
    )
    return (
        term.groupBy("source", "total")
        .agg(F.sum("kterm").cast("long").alias("ksum"))
        .select(
            "source",
            F.col("total").alias("n_tokens"),
            F.expr(
                "CAST(CASE WHEN ksum >= 0 THEN (ksum * 1000000) div total"
                " ELSE -((-ksum * 1000000) div total) END AS BIGINT)"
            ).alias("kl_ppm_bits"),
        )
        .orderBy("source")
    )


# Exact chi-squared in integer ppm needs N*(ad-bc)^2*1e6 <= 1e38
# (DECIMAL(38,0) on the Spark side, HUGEINT on the DuckDB side): valid to
# N <= ~3e6 documents. Past that the op raises with this knob named —
# the sanctioned fallback at corpus scale is sampling the contingency
# frame down (chi2 is scale-invariant in expectation), not silent
# wraparound (the xh_ks_drift packing rule, ADVICE r12).
_CHI2_MAX_DOCS = 3_000_000


@register(
    "xh_chi2_tokens",
    oracle=f"""WITH dt AS MATERIALIZED (
  SELECT DISTINCT doc_id, source, unnest({_TOKENS_SQL}) AS token
  FROM documents),
st AS (SELECT source, token, CAST(COUNT(*) AS BIGINT) AS a
       FROM dt GROUP BY source, token),
tt AS (SELECT token, CAST(SUM(a) AS BIGINT) AS dft FROM st GROUP BY token),
ss AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ns
       FROM dt GROUP BY source),
nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
cells AS (
  SELECT st.source, st.token, st.a,
         tt.dft - st.a AS b, ss.ns - st.a AS c,
         nn.n - ss.ns - (tt.dft - st.a) AS d, nn.n AS n
  FROM st JOIN tt USING (token) JOIN ss USING (source) CROSS JOIN nn)
SELECT source, token, a AS df_in_source,
       CAST(CASE
         WHEN (a+b)*(c+d) = 0 OR (a+c)*(b+d) = 0 THEN 0
         ELSE CAST(n AS HUGEINT) * CAST(a*d - b*c AS HUGEINT)
              * CAST(a*d - b*c AS HUGEINT) * 1000000
              // (CAST((a+b)*(c+d) AS HUGEINT) * CAST((a+c)*(b+d) AS HUGEINT))
       END AS BIGINT) AS chi2_ppm
FROM cells ORDER BY source, token""",
    tags=("llm", "quality", "stats", "feature-selection"),
)
def xh_chi2_tokens(spark, sf_dir):
    """Chi-squared token-vs-source association (round 13): the classic
    feature-selection / leakage probe — for every observed (source,
    token) pair, the chi^2 statistic of the 2x2 document-frequency
    contingency (docs in source containing token vs the three
    complements), in exact ppm. High scores mark tokens that identify a
    source (template boilerplate, watermarks, site chrome) — exactly
    what a curation pass strips before training, and what
    xh_split_leakage should NOT find crossing a split. Hash-exact:
    the full statistic stays in 128-bit integers (HUGEINT / Spark
    DECIMAL(38,0)) with truncating ppm division; degenerate margins
    emit 0 by definition on both engines.

    Scale shape: distinct (doc, source, token) is ONE uniform partial
    agg (dedup inside a doc is map-side); marginals derive from that
    output (domain-bounded frames), never a second corpus scan; N is a
    1-row broadcast; probes are token-/source-keyed and unhinted.
    Width is probe-guarded: raises past _CHI2_MAX_DOCS rather than
    silently wrapping (the ks_drift packing rule)."""
    d = tbl(spark, sf_dir, "documents")
    n_docs = d.count()  # O(1) driver scalar (metadata-count probe)
    if n_docs > _CHI2_MAX_DOCS:
        raise ValueError(
            f"xh_chi2_tokens: {n_docs} docs exceeds the exact-ppm width "
            f"bound _CHI2_MAX_DOCS={_CHI2_MAX_DOCS}; sample the corpus "
            "down or raise the bound with wider arithmetic"
        )
    dt = d.select(
        "doc_id", "source", F.explode_outer(_tokens_col()).alias("token")
    ).dropDuplicates(["doc_id", "source", "token"]).where(F.col("token").isNotNull())
    st = dt.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    tt = st.groupBy("token").agg(F.sum("a").cast("long").alias("dft"))
    ss = dt.groupBy("source").agg(
        F.countDistinct("doc_id").cast("long").alias("ns")
    )
    nn = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    cells = (
        st.join(tt, "token")
        .join(ss, "source")
        .join(F.broadcast(nn))  # 1-row corpus count
        .select(
            "source",
            "token",
            "a",
            (F.col("dft") - F.col("a")).alias("b"),
            (F.col("ns") - F.col("a")).alias("c"),
            (F.col("n") - F.col("ns") - (F.col("dft") - F.col("a"))).alias("d"),
            "n",
        )
    )
    chi2 = F.expr(
        "CAST(CASE"
        " WHEN (a+b)*(c+d) = 0 OR (a+c)*(b+d) = 0 THEN 0"
        " ELSE (CAST(n AS DECIMAL(38,0)) * CAST(a*d - b*c AS DECIMAL(38,0))"
        "       * CAST(a*d - b*c AS DECIMAL(38,0)) * 1000000)"
        "      div (CAST((a+b)*(c+d) AS DECIMAL(38,0))"
        "           * CAST((a+c)*(b+d) AS DECIMAL(38,0)))"
        " END AS BIGINT)"
    )
    return cells.select(
        "source", "token", F.col("a").alias("df_in_source"), chi2.alias("chi2_ppm")
    ).orderBy("source", "token")


@register(
    "xh_jackknife_ci",
    oracle="""WITH s AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS sum_chars
  FROM documents GROUP BY source),
g AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(n_docs) AS BIGINT) AS n_all,
             CAST(SUM(sum_chars) AS BIGINT) AS t_all FROM s)
SELECT s.source, s.n_docs,
       CAST((g.t_all - s.sum_chars) * 1000000
            // (g.n_all - s.n_docs) AS BIGINT) AS loo_mean_chars_ppm,
       CAST(g.n_groups * (g.t_all * 1000000 // g.n_all)
            - (g.n_groups - 1) * ((g.t_all - s.sum_chars) * 1000000
                                  // (g.n_all - s.n_docs))
            AS BIGINT) AS pseudovalue_ppm
FROM s CROSS JOIN g ORDER BY s.source""",
    tags=("quality", "stats"),
)
def xh_jackknife_ci(spark, sf_dir):
    """Leave-one-source-out jackknife over mean document length (round
    13): for each source, the corpus mean n_chars EXCLUDING that source
    (exact ppm) plus its jackknife pseudovalue g*mean_all -
    (g-1)*mean_loo — the resampling-free stability estimate a curation
    team reads before trusting a corpus-level statistic: a source whose
    pseudovalue sits far from the others single-handedly drags the
    mean (the influence diagnostic; variance of pseudovalues / g is the
    jackknife CI half-width^2). Deterministic by construction — no RNG,
    no resampling — so it hash-checks exactly; BIGINT is exact to
    ~9e18 char-ppm units (≈9e12 total chars), documented headroom.

    Scale shape: ONE domain-bounded partial agg (per-source count/sum);
    the global row derives from it (G rows in, 1 out) and broadcasts
    back — the corpus is scanned once, pseudovalues are O(G) arithmetic
    on metadata-sized frames."""
    d = tbl(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )
    g = s.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum("n_docs").cast("long").alias("n_all"),
        F.sum("sum_chars").cast("long").alias("t_all"),
    )
    return (
        s.join(F.broadcast(g))  # 1-row global frame
        .select(
            "source",
            "n_docs",
            F.expr(
                "CAST((t_all - sum_chars) * 1000000 div (n_all - n_docs)"
                " AS BIGINT)"
            ).alias("loo_mean_chars_ppm"),
            F.expr(
                "CAST(n_groups * ((t_all * 1000000) div n_all)"
                " - (n_groups - 1) * (((t_all - sum_chars) * 1000000)"
                "                     div (n_all - n_docs)) AS BIGINT)"
            ).alias("pseudovalue_ppm"),
        )
        .orderBy("source")
    )


@register(
    "xh_hll_merge",
    oracle=f"""WITH h AS MATERIALIZED (
  SELECT source, ({_HLL_H60_SQL}) AS h FROM documents),
b AS (SELECT source, h // {_HLL_REM} AS bucket, h % {_HLL_REM} AS rem FROM h),
r AS (SELECT source, bucket,
             MAX(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END)
               AS reg
      FROM b GROUP BY source, bucket),
u AS (SELECT source, bucket, reg FROM r
      UNION ALL
      SELECT '__all__' AS source, bucket, MAX(reg) AS reg
      FROM r GROUP BY bucket),
srcs AS (SELECT DISTINCT source FROM u),
grid AS (SELECT s.source, gs.bucket
         FROM srcs s CROSS JOIN generate_series(0, {_HLL_M - 1}) gs(bucket)),
g AS (SELECT grid.source, grid.bucket, COALESCE(u.reg, 0) AS reg
      FROM grid LEFT JOIN u
        ON u.source = grid.source AND u.bucket = grid.bucket)
SELECT source,
       CAST(COUNT(*) FILTER (WHERE reg = 0) AS BIGINT) AS v_zero_registers,
       CAST(SUM(1::BIGINT << CAST(53 - reg AS INT)) AS BIGINT) AS sum_units,
       string_agg(reg::VARCHAR, ',' ORDER BY bucket) AS registers
FROM g GROUP BY source ORDER BY source""",
    tags=("quality", "sketch", "cardinality"),
)
def xh_hll_merge(spark, sf_dir):
    """HLL shard-union (round 13): per-SOURCE HyperLogLog register
    vectors plus the '__all__' row obtained by MERGING them (per-bucket
    max over the per-source states) — the algebra that makes sketches
    work at 100 TB: every shard/source/day sketches independently, and
    any rollup is a 256-slot max-merge of the states, never a re-scan.
    xh_hll_registers pins one sketch's internals; this op pins the
    UNION operator itself. Same portable construction (60-bit md5,
    bucket = top 8 bits, rho = 53 - bitlen(rem)), so DuckDB rebuilds
    every register and the merge bit-for-bit.

    Scale shape: ONE (source, bucket) partial agg — at most 256 rows
    per source survive the map side; the merged row is a second agg
    OVER THE REGISTER STATE (sources x 256 rows), provably never the
    corpus. Register serialization is row-local: map_from_entries +
    transform(sequence(0,255)) densifies each source's registers inside
    its own row — no dense-grid join, no per-source window. try_element_at
    (not element_at) keeps the lookup NULL-safe under ANSI mode."""
    d = tbl(spark, sf_dir, "documents")
    h = d.select(
        "source",
        F.conv(F.substring(F.md5("text"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    b = h.select(
        "source",
        F.expr(f"h div {_HLL_REM}").alias("bucket"),
        (F.col("h") % _HLL_REM).alias("rem"),
    )
    rho = F.when(F.col("rem") == 0, F.lit(53)).otherwise(
        53 - F.length(F.conv(F.col("rem").cast("string"), 10, 2))
    )
    r = b.groupBy("source", "bucket").agg(F.max(rho).alias("reg"))
    merged = (
        r.groupBy("bucket")
        .agg(F.max("reg").alias("reg"))
        .select(F.lit("__all__").alias("source"), "bucket", "reg")
    )
    u = r.select("source", "bucket", "reg").unionAll(merged)
    dense = (
        u.groupBy("source")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "reg"))
            ).alias("m")
        )
        .select(
            "source",
            F.expr(
                f"transform(sequence(0, {_HLL_M - 1}),"
                " b -> coalesce(try_element_at(m, CAST(b AS BIGINT)), 0))"
            ).alias("regs"),
        )
    )
    return dense.select(
        "source",
        F.expr("CAST(size(filter(regs, x -> x = 0)) AS BIGINT)").alias(
            "v_zero_registers"
        ),
        F.expr(
            "aggregate(regs, 0L, (acc, x) ->"
            " acc + shiftleft(1L, CAST(53 - x AS INT)))"
        ).alias("sum_units"),
        F.expr(
            "concat_ws(',', transform(regs, x -> CAST(x AS STRING)))"
        ).alias("registers"),
    ).orderBy("source")


def hll_bucket_rho(df, text_col: str = "text"):
    """(bucket, rho) frame for one shard of the portable HLL sketch —
    the same 60-bit-md5 construction xh_hll_registers / xh_hll_merge
    hash-check, exposed for incremental consumers (the streaming
    foreachBatch merge check): max-aggregate rho per bucket, then
    max-merge register states across shards/batches."""
    h = df.select(
        F.conv(F.substring(F.md5(text_col), 1, 15), 16, 10)
        .cast("long")
        .alias("h")
    )
    return h.select(
        F.expr(f"h div {_HLL_REM}").alias("bucket"),
        F.when((F.col("h") % _HLL_REM) == 0, F.lit(53))
        .otherwise(
            53
            - F.length(
                F.conv((F.col("h") % _HLL_REM).cast("string"), 10, 2)
            )
        )
        .cast("long")
        .alias("rho"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit (round 13)
# ---------------------------------------------------------------------------

# floor(log10(1 + 1/d) * 1e6) for d = 1..9 — SHARED LITERALS in both
# engines' query text, so no runtime log10 (whose final-ulp rounding is
# libm-version dependent) ever executes on either side.
_BENFORD_PPM = {
    1: 301029, 2: 176091, 3: 124938, 4: 96910, 5: 79181,
    6: 66946, 7: 57991, 8: 51152, 9: 45757,
}
_BENFORD_CASE = (
    "CASE digit "
    + " ".join(f"WHEN {d} THEN {p}" for d, p in _BENFORD_PPM.items())
    + " END"
)


@register(
    "xh_benford",
    oracle=f"""WITH obs AS MATERIALIZED (
  SELECT CAST(SUBSTRING(CAST(CAST(FLOOR(CAST(l_extendedprice AS DOUBLE)
                                         * 100 + 0.5) AS BIGINT)
                             AS VARCHAR), 1, 1) AS BIGINT) AS digit,
         CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lineitem GROUP BY 1),
tot AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS n_tot FROM obs),
grid AS (SELECT CAST(gs AS BIGINT) AS digit FROM generate_series(1, 9) t(gs))
SELECT grid.digit,
       CAST(COALESCE(obs.n_rows, 0) AS BIGINT) AS n_rows,
       CAST((COALESCE(obs.n_rows, 0) * 1000000) // tot.n_tot AS BIGINT)
         AS obs_ppm,
       CAST({_BENFORD_CASE.replace('digit', 'grid.digit')} AS BIGINT)
         AS exp_ppm,
       CAST(ABS((COALESCE(obs.n_rows, 0) * 1000000) // tot.n_tot
                - {_BENFORD_CASE.replace('digit', 'grid.digit')})
            AS BIGINT) AS dev_ppm
FROM grid LEFT JOIN obs ON obs.digit = grid.digit, tot
ORDER BY grid.digit""",
    tags=("quality", "stats", "oracle-twin"),
)
def xh_benford(spark, sf_dir):
    """Benford first-digit audit (round 13) — the classic synthetic-data
    / corruption smell test: first significant digits of organically
    grown monetary amounts follow log10(1 + 1/d), while fabricated,
    truncated, or unit-mangled columns flatten or spike the histogram.
    Run over l_extendedprice (via its exact integer-cents form, the
    queries/base.py money discipline); emits per-digit observed count,
    observed ppm, the Benford expectation, and the absolute deviation.
    TPC-H prices are uniform-ish draws, NOT Benford-distributed — the
    op's value is the deviation profile itself (flat-vs-log shape), and
    the planted test pins a constructed corpus on both ends.

    Determinism: the Benford constants are SHARED LITERALS baked into
    both engines' query text (floor(log10(1+1/d)*1e6) precomputed in
    Python) — no runtime transcendental, whose last-ulp rounding is
    libm-dependent, ever runs in either engine; everything else is
    exact BIGINT ppm.

    Scale shape: ONE digit-keyed uniform partial agg (9 groups,
    map-side combined — the exchange carries 9 rows per task); the
    1-row total attaches as a provably-single-row broadcast; the 9-row
    digit grid densifies absent digits driver-side (degrade-never-fail
    on a filtered slice where a digit vanishes). Output is 9 rows at
    any corpus size."""
    obs = (
        tbl(spark, sf_dir, "lineitem")
        .select(
            F.expr(
                "CAST(SUBSTRING(CAST(CAST(FLOOR(CAST(l_extendedprice"
                " AS DOUBLE) * 100 + 0.5) AS BIGINT)"
                " AS STRING), 1, 1) AS BIGINT)"
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    )
    ntot = obs.agg(F.sum("n_rows").cast("long").alias("n_tot"))
    grid = spark.range(1, 10).select(F.col("id").cast("long").alias("digit"))
    return (
        grid.join(obs, "digit", "left")
        .crossJoin(F.broadcast(ntot))
        .select(
            "digit",
            F.coalesce(F.col("n_rows"), F.lit(0))
            .cast("long")
            .alias("n_rows"),
            F.expr(
                "CAST((COALESCE(n_rows, 0) * 1000000) div n_tot AS BIGINT)"
            ).alias("obs_ppm"),
            F.expr(f"CAST({_BENFORD_CASE} AS BIGINT)").alias("exp_ppm"),
            F.expr(
                f"CAST(ABS((COALESCE(n_rows, 0) * 1000000) div n_tot"
                f" - {_BENFORD_CASE}) AS BIGINT)"
            ).alias("dev_ppm"),
        )
        .orderBy("digit")
    )
