"""Training-data pipeline operators, part 2 (hash-checked): PII scrubbing,
benchmark-contamination detection, token-budget sequence packing,
time-series gap fill, numeric profiling, deterministic splitting and
shuffling.

These extend the LLM-pipeline surface (SURVEY "beyond the reference"
mandate) with the ops every large-scale pretraining pipeline runs:

* redact personally-identifying strings before training (xh_pii_scrub);
* detect evaluation-benchmark contamination via exact n-gram overlap
  between the corpus and a held-out set (xh_contamination);
* pack variable-length documents into fixed token-budget training
  sequences (xh_pack_sequences);
* per-user dense-grid gap fill with LOCF (xh_gap_fill) and fixed-width
  histogram profiling (xh_histogram);
* content-keyed deterministic train/val/test splitting (xh_hash_split,
  round 6) and a sharded deterministic corpus shuffle (xh_det_shuffle,
  round 6).

All three are pure DataFrame/Column plans (no Python in the hot path),
mirrored token-for-token by DuckDB oracles, and emit only serializer-proof
types (BIGINT / DOUBLE / strings — integer-units rule, registry.py).
"""

from __future__ import annotations

from .base import F, tbl
from .registry import register

# Regex patterns chosen to behave identically under Java regex (Spark) and
# RE2 (DuckDB): character classes, bounded repetition, no backreferences,
# no lookaround. Written once, used verbatim on both sides.
_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_IPV4 = r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}"
_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"

# The fixture corpus contains no organic PII, so both sides append the same
# deterministic synthetic PII to every 7th doc before scanning — this
# exercises extraction/redaction on real matches instead of vacuous zeros.
_AUG_SQL = (
    "text || CASE WHEN doc_id % 7 = 0 THEN "
    "' contact user' || doc_id || '@example.com or 10.0.' || (doc_id % 256) "
    "|| '.1 tel 555-867-5309' ELSE '' END"
)


@register(
    "xh_pii_scrub",
    oracle=f"""WITH aug AS (SELECT doc_id, {_AUG_SQL} AS t FROM documents)
              SELECT doc_id,
                     len(regexp_extract_all(t, '{_EMAIL}')) AS n_email,
                     len(regexp_extract_all(t, '{_IPV4}')) AS n_ip,
                     len(regexp_extract_all(t, '{_PHONE}')) AS n_phone,
                     length(regexp_replace(regexp_replace(regexp_replace(t,
                         '{_EMAIL}', '<EMAIL>', 'g'),
                         '{_IPV4}', '<IP>', 'g'),
                         '{_PHONE}', '<PHONE>', 'g')) AS scrubbed_len
              FROM aug ORDER BY doc_id""",
    tags=("llm", "pii", "scrub"),
)
def h_pii_scrub(spark, sf_dir):
    """PII detection + redaction as pure Column expressions: count emails /
    IPv4s / phone numbers and measure the text length after replacing each
    class with a placeholder. Embarrassingly parallel (per-row regex inside
    whole-stage codegen, no shuffle before the final sort) — the 100 TB
    form is the same plan minus the ORDER BY. Spark replaces all matches
    by default; DuckDB needs the 'g' flag — same replacement order on both
    sides since redaction order affects overlapping matches."""
    d = tbl(spark, sf_dir, "documents")
    aug = F.concat(
        F.col("text"),
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com or 10.0."),
                (F.col("doc_id") % 256).cast("string"),
                F.lit(".1 tel 555-867-5309"),
            ),
        ).otherwise(F.lit("")),
    )
    t = d.select("doc_id", aug.alias("t"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("t"), F.lit(_EMAIL), F.lit("<EMAIL>")),
            F.lit(_IPV4),
            F.lit("<IP>"),
        ),
        F.lit(_PHONE),
        F.lit("<PHONE>"),
    )
    return t.select(
        "doc_id",
        F.size(F.regexp_extract_all("t", F.lit(_EMAIL), F.lit(0))).cast("bigint").alias("n_email"),
        F.size(F.regexp_extract_all("t", F.lit(_IPV4), F.lit(0))).cast("bigint").alias("n_ip"),
        F.size(F.regexp_extract_all("t", F.lit(_PHONE), F.lit(0))).cast("bigint").alias("n_phone"),
        F.length(scrubbed).cast("bigint").alias("scrubbed_len"),
    ).orderBy("doc_id")


@register(
    "xh_contamination",
    oracle="""WITH tok AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                          FROM documents),
              sh AS (SELECT doc_id,
                            unnest(list_distinct(list_transform(
                                generate_series(1, greatest(len(toks) - 2, 0)),
                                i -> array_to_string(toks[i:i+2], ' ')))) AS shingle
                     FROM tok),
              bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 97 = 0),
              corpus AS (SELECT * FROM sh WHERE doc_id % 97 <> 0)
              SELECT c.doc_id, COUNT(*) AS n_contaminated
              FROM corpus c JOIN bench b USING (shingle)
              GROUP BY c.doc_id ORDER BY c.doc_id""",
    tags=("llm", "contamination", "ngram"),
)
def h_contamination(spark, sf_dir):
    """Benchmark-contamination detection: exact 3-gram overlap between the
    training corpus and a held-out evaluation set (modeled as every 97th
    doc). Each doc's distinct shingles join against the distinct benchmark
    shingle set; the per-doc hit count is the contamination score used to
    drop or flag documents before training.

    Scale shape: shingling is per-row (explode after array_distinct keeps
    one row per distinct shingle per doc); the benchmark side is tiny by
    construction — broadcast it so the corpus never shuffles; one partial
    aggregate on doc_id. Documents repartition ahead of the shingle stage
    (SCALE.md principle 7b — a one-file fixture scan would otherwise run
    it on one core). At 100 TB swap the raw-shingle join key for
    xxhash64(shingle) to shrink exchange width (same plan otherwise)."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = tbl(spark, sf_dir, "documents").repartition(n, "doc_id")
    toks = F.split(F.lower("text"), " ")
    n_sh = F.greatest(F.size(toks) - 2, F.lit(0))
    shingles = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.array_join(F.slice(toks, i, 3), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("shingle")
    )
    bench = sh.filter(F.col("doc_id") % 97 == 0).select("shingle").distinct()
    corpus = sh.filter(F.col("doc_id") % 97 != 0)
    return (
        corpus.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
        .orderBy("doc_id")
    )


@register(
    "xh_pack_sequences",
    oracle="""WITH t AS (SELECT doc_id, lang, source,
                                len(string_split(text, ' ')) AS n_tok
                         FROM documents),
              c AS (SELECT *,
                           CAST(SUM(n_tok) OVER (
                               PARTITION BY lang, source ORDER BY doc_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                           ) AS BIGINT) - n_tok AS cum_before
                    FROM t)
              SELECT doc_id, lang, source, CAST(n_tok AS BIGINT) AS n_tok,
                     CAST(FLOOR(cum_before / 2048) AS BIGINT) AS bin_id,
                     CAST(cum_before % 2048 AS BIGINT) AS bin_offset
              FROM c ORDER BY lang, source, doc_id""",
    tags=("llm", "packing"),
)
def h_pack_sequences(spark, sf_dir):
    """Token-budget sequence packing: assign each document a (bin_id,
    bin_offset) inside 2048-token training sequences via a running token
    count per (lang, source) stream — the cumulative-sum form of greedy
    packing (documents may straddle a boundary; trainers split at
    bin_offset). One window per (lang, source) partition: the partition
    key has enough cardinality to parallelize, and at 100 TB a skewed
    stream falls back to the xh_ntile_scalable offset fix-up pattern
    (range-partition + per-partition cumsum + driver offsets) rather than
    one giant window partition."""
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "lang",
        "source",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        W.partitionBy("lang", "source")
        .orderBy("doc_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    c = t.withColumn("cum_before", F.sum("n_tok").over(w) - F.col("n_tok"))
    return c.select(
        "doc_id",
        "lang",
        "source",
        "n_tok",
        F.floor(F.col("cum_before") / 2048).cast("bigint").alias("bin_id"),
        (F.col("cum_before") % 2048).cast("bigint").alias("bin_offset"),
    ).orderBy("lang", "source", "doc_id")


# Composite ordering key for "latest observation in bucket": epoch micros
# then event_id, zero-padded so both engines' arg_max agree on ties.
_OBS_KEY_SPARK = (
    "format_string('%020d', unix_micros(ts)) || format_string('%015d', event_id)"
)
_OBS_KEY_DUCK = (
    "printf('%020d', epoch_us(ts)) || printf('%015d', event_id)"
)


@register(
    "xh_gap_fill",
    oracle=f"""WITH obs AS (
                 SELECT user_id,
                        CAST(floor(epoch(ts) / 600) AS BIGINT) * 600 AS bucket_sec,
                        arg_max(CAST(FLOOR(value * 100 + 0.5) AS BIGINT),
                                {_OBS_KEY_DUCK}) AS v_cents
                 FROM events WHERE user_id % 20 = 0 GROUP BY 1, 2),
               grid AS (
                 SELECT user_id,
                        unnest(generate_series(MIN(bucket_sec), MAX(bucket_sec), 600)) AS bucket_sec
                 FROM obs GROUP BY user_id)
               SELECT g.user_id, g.bucket_sec,
                      last_value(o.v_cents IGNORE NULLS) OVER (
                          PARTITION BY g.user_id ORDER BY g.bucket_sec
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf_cents,
                      CAST(o.v_cents IS NOT NULL AS BOOLEAN) AS observed
               FROM grid g LEFT JOIN obs o
                 ON o.user_id = g.user_id AND o.bucket_sec = g.bucket_sec
               ORDER BY g.user_id, g.bucket_sec""",
    tags=("timeseries", "gapfill", "locf"),
)
def h_gap_fill(spark, sf_dir):
    """Time-series gap filling: resample each user's events onto a dense
    10-minute grid and carry the last observation forward (LOCF) across
    empty buckets — the downsample-then-fill primitive behind dashboards
    and feature stores. Latest-in-bucket is arg-max on a padded
    (epoch_micros, event_id) key so ties resolve identically in both
    engines; values in BIGINT cents (integer-units rule).

    Scale shape: one partial aggregate to per-(user, bucket) observations,
    per-user grids generated with sequence()/explode (never a driver-side
    calendar), one equi join, one per-user window — every step partitions
    on user_id, so a 100 TB event stream fans out across the cluster with
    a single logical shuffle key. Dense-grid row explosion is bounded by
    (span / step) per user, a planning-time choice."""
    # deterministic user subset (user_id % 20): the dense grid multiplies
    # rows by span/step per user, and the hash gate serializes the full
    # result — bound the declared check; the operator itself is the same
    # plan at any user count
    e = tbl(spark, sf_dir, "events").filter(F.col("user_id") % 20 == 0)
    obs = (
        e.withColumn(
            "bucket_sec",
            (F.floor(F.unix_timestamp("ts") / 600) * 600).cast("bigint"),
        )
        .groupBy("user_id", "bucket_sec")
        .agg(
            F.expr(
                f"max_by(CAST(FLOOR(value * 100 + 0.5) AS BIGINT), {_OBS_KEY_SPARK})"
            ).alias("v_cents")
        )
    )
    grid = (
        obs.groupBy("user_id")
        .agg(F.min("bucket_sec").alias("lo"), F.max("bucket_sec").alias("hi"))
        .select(
            "user_id",
            F.explode(F.sequence("lo", "hi", F.lit(600))).alias("bucket_sec"),
        )
    )
    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("bucket_sec")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    joined = grid.join(obs, ["user_id", "bucket_sec"], "left")
    return joined.select(
        "user_id",
        "bucket_sec",
        F.last("v_cents", ignorenulls=True).over(w).alias("locf_cents"),
        F.col("v_cents").isNotNull().alias("observed"),
    ).orderBy("user_id", "bucket_sec")


@register(
    "xh_histogram",
    oracle="""SELECT CAST(CASE WHEN b < 0 THEN 0 WHEN b > 19 THEN 19 ELSE b END AS BIGINT) AS bin_id,
                     COUNT(*) AS n,
                     CAST(SUM(cents) AS BIGINT) AS sum_cents
              FROM (SELECT CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) AS b,
                           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
                    FROM orders)
              GROUP BY 1 ORDER BY 1""",
    tags=("agg", "histogram", "profile"),
)
def h_histogram(spark, sf_dir):
    """Fixed-width histogram of order totals (20 bins of 25k, clamped tail
    bins) — the numeric-profiling primitive behind data-quality dashboards.
    Bin id is one floor-divide (identical IEEE op both engines), per-bin
    count + exact cents sum. One partial aggregate: only 20 bin rows cross
    the shuffle regardless of input size."""
    o = tbl(spark, sf_dir, "orders")
    b = F.floor(F.col("o_totalprice") / F.lit(25000.0)).cast("bigint")
    bin_id = F.when(b < 0, F.lit(0)).when(b > 19, F.lit(19)).otherwise(b).cast("bigint")
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    return (
        o.select(bin_id.alias("bin_id"), cents.alias("cents"))
        .groupBy("bin_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("sum_cents"))
        .orderBy("bin_id")
    )


_H60_SQL = "('0x' || substr(md5({s}), 1, 15))::BIGINT"


def _h60(col):
    """Portable 60-bit hash (int(md5[0:15],16)) — exact in both engines;
    same construction as queries/dedup_oracle.py:_h60."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


@register(
    "xh_hash_split",
    oracle=f"""WITH b AS (
  SELECT lang, n_chars, ({_H60_SQL.format(s='text')}) % 1000 AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < 980 THEN 'train'
            WHEN bucket < 990 THEN 'val' ELSE 'test' END AS split,
       lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM b GROUP BY 1, 2 ORDER BY split, lang""",
    tags=("llm", "split", "pipeline"),
)
def h_hash_split(spark, sf_dir):
    """Deterministic train/val/test split (98/1/1) keyed on the CONTENT
    hash, not the doc id: exact duplicates always land in the same split,
    so a train/eval leak cannot enter through re-crawled copies — the
    standard guard in pretraining-data pipelines. One partial aggregate;
    only (3 splits x langs) rows cross the shuffle at any corpus size.
    Portable 60-bit md5 hash (dedup_oracle.py discipline) so the oracle is
    bit-exact."""
    d = tbl(spark, sf_dir, "documents")
    bucket = _h60(F.col("text")) % 1000
    split = (
        F.when(bucket < 980, "train").when(bucket < 990, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("split", "lang")
    )


# One shared shard-count knob for the deterministic corpus shuffle
# (VERDICT r6 #2). Both the Spark plan and the DuckDB oracle string read
# THIS constant, so they can never disagree; it is resolved once at import
# from SPARK_GRAFT_SHUF_SHARDS (cluster runs size it to ~2-3x total
# cores / desired output files), defaulting to 64 for the local fixtures.
# det_shuffle_frame() below takes the count as an argument, so the
# (shard, pos) bijection is testable at any shard count independent of
# the registered query (tests/test_pipeline_ops.py).
import os as _os

_SHUF_SHARDS = int(_os.environ.get("SPARK_GRAFT_SHUF_SHARDS", "64"))
assert _SHUF_SHARDS > 0, "SPARK_GRAFT_SHUF_SHARDS must be a positive integer"


def det_shuffle_frame(d, n_shards: int):
    """(shard, pos) coordinates for a deterministic corpus shuffle of
    ``d`` (a documents frame) across ``n_shards`` hash shards. Rank is
    assigned inside each shard via a PARTITIONED window — one shuffle on
    the shard key, per-shard sort, never a global single-partition window
    (the q35 lesson, SCALE.md 'Windows')."""
    from pyspark.sql import Window as W

    key = _h60(F.concat(F.lit("shuf:"), F.col("doc_id").cast("string")))
    shard = (key % n_shards).cast("bigint")
    k = d.select("doc_id", key.alias("key"), shard.alias("shard"))
    w = W.partitionBy("shard").orderBy("key", "doc_id")
    return k.select(
        "doc_id",
        "shard",
        F.row_number().over(w).cast("bigint").alias("pos"),
    )


def det_shuffle_oracle(n_shards: int) -> str:
    """The DuckDB mirror of ``det_shuffle_frame`` at the SAME shard
    count — one generator feeds both the registered oracle (at
    ``_SHUF_SHARDS``) and the lockstep test at a non-default count
    (VERDICT r8 #5: tests/test_pipeline_ops.py compares fn(7) against
    THIS string at 7, so the expr and the SQL cannot drift apart in a
    way only the default shard count hides)."""
    return f"""WITH k AS (
  SELECT doc_id,
         ({_H60_SQL.format(s="'shuf:' || CAST(doc_id AS VARCHAR)")}) AS key
  FROM documents
)
SELECT doc_id,
       CAST(key % {n_shards} AS BIGINT) AS shard,
       CAST(row_number() OVER (PARTITION BY key % {n_shards}
                               ORDER BY key, doc_id) AS BIGINT) AS pos
FROM k ORDER BY doc_id"""


@register(
    "xh_det_shuffle",
    oracle=det_shuffle_oracle(_SHUF_SHARDS),
    tags=("llm", "shuffle", "pipeline"),
)
def h_det_shuffle(spark, sf_dir):
    """Deterministic global corpus shuffle for training order: every doc
    gets a (shard, pos) coordinate from a salted portable hash; consuming
    shard-major yields a reproducible pseudo-random permutation of the
    corpus. Sharding IS the scale design: rank is assigned inside
    {_SHUF_SHARDS} hash shards (SPARK_GRAFT_SHUF_SHARDS — one shared
    constant feeds both this plan and the oracle SQL above) via a
    PARTITIONED window (one shuffle on the shard key, per-shard sort) —
    never a global single-partition window (the q35 lesson, SCALE.md
    'Windows'); at 100 TB the shard count scales with the cluster and
    each shard sorts independently."""
    d = tbl(spark, sf_dir, "documents")
    return det_shuffle_frame(d, _SHUF_SHARDS).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis-Spirakis, deterministic)
# ---------------------------------------------------------------------------

_WS_K = 100  # sample size
_P60 = "1152921504606846976.0"  # 2^60 as an exact double literal


@register(
    "xh_weighted_sample",
    oracle=f"""WITH k AS (
  SELECT doc_id, lang, n_chars,
         ln(CAST(({_H60_SQL.format(s="'ws:' || CAST(doc_id AS VARCHAR)")}) + 1
                 AS DOUBLE) / {_P60}) / n_chars AS es
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, lang, n_chars
FROM (SELECT * FROM k ORDER BY es DESC, doc_id LIMIT {_WS_K})
ORDER BY doc_id""",
    tags=("llm", "sample", "pipeline"),
)
def h_weighted_sample(spark, sf_dir):
    """Weighted sampling WITHOUT replacement (Efraimidis-Spirakis A-ES):
    each doc gets priority u^(1/w) for a deterministic uniform u and
    weight w = n_chars; the k largest priorities ARE a weighted sample
    without replacement. Ranking by ln(u)/w is the monotone-equivalent
    spelling (u in (0,1], w > 0), avoiding pow() underflow for large w.

    Determinism discipline: u = (h60('ws:'||doc_id)+1) / 2^60 — the salted
    portable hash, +1 so u > 0, divided by an exact power of two — so both
    engines compute bit-identical u. ln() is the one transcendental; a
    last-ulp divergence could only flip an ordering between two priorities
    within 1 ulp of each other (md5-derived keys make that vanishingly
    rare), and the double never reaches the output — only (doc_id, lang,
    n_chars) are emitted, re-ordered by doc_id.

    Scale shape: this is the one-pass distributed weighted sampler — a
    pure map to compute priorities, then orderBy(es).limit(k), which
    Spark plans as TakeOrderedAndProject: each partition keeps its local
    top-k and the driver merges O(k x partitions) rows. No shuffle of the
    corpus, no single-partition sort, works identically at 100 TB
    (the reservoir variant of A-ES with the same keys would give the
    same answer; top-k IS the batch form)."""
    d = tbl(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    key = _h60(F.concat(F.lit("ws:"), F.col("doc_id").cast("string")))
    u = (key + F.lit(1)).cast("double") / F.lit(1152921504606846976.0)
    es = F.log(u) / F.col("n_chars")
    return (
        d.select("doc_id", "lang", "n_chars", es.alias("es"))
        .orderBy(F.col("es").desc(), "doc_id")
        .limit(_WS_K)
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register(
    "xh_quantile_norm",
    oracle="""WITH r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (PARTITION BY lang
                            ORDER BY n_chars, doc_id) AS rr,
         COUNT(*) OVER (PARTITION BY lang) AS nl
  FROM documents
)
SELECT doc_id, lang, n_chars,
       CAST((CAST(rr - 1 AS BIGINT) * 1000000)
            // (CASE WHEN nl > 1 THEN nl - 1 ELSE 1 END) AS BIGINT)
         AS pct_ppm
FROM r ORDER BY doc_id""",
    tags=("llm", "quality", "quantile"),
)
def h_quantile_norm(spark, sf_dir):
    """Per-language quantile normalization (the CCNet-style language-fair
    thresholding pattern): each document's score — n_chars as the fixture
    proxy for a quality score — maps to its exact within-language
    percentile in ppm, so a single global cutoff ("keep the top 60%")
    removes the same FRACTION of every language regardless of how their
    raw score distributions differ. An absolute threshold would gut
    low-resource languages whose score distributions sit lower; the
    per-language rank map is the standard fix.

    Exact integer discipline: pct_ppm = (rank-1)*1e6 div (n_lang-1) with
    a deterministic (score, doc_id) tiebreak — integer floor division,
    no float quantiles (the xh_outlier_trim rule), so the map
    hash-checks and is rerun-stable. The rank is widened to BIGINT
    BEFORE the *1e6 (row_number is 32-bit; under ANSI mode any language
    with >2148 documents would otherwise raise ARITHMETIC_OVERFLOW —
    the DuckDB oracle promotes implicitly, so both engines compute the
    identical 64-bit product).

    Scale: the rank window and the per-language count window share ONE
    lang hash exchange; each language sorts independently (partition
    count grows with languages, the xh_langid_ngram property), and the
    output is a pure map of the corpus — no driver state."""
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    wc = W.partitionBy("lang")
    return (
        d.select(
            "doc_id",
            "lang",
            "n_chars",
            F.row_number().over(w).alias("rr"),
            F.count(F.lit(1)).over(wc).alias("nl"),
        )
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr(
                "CAST((CAST(rr - 1 AS BIGINT) * 1000000) div "
                "(CASE WHEN nl > 1 THEN nl - 1 ELSE 1 END) AS BIGINT)"
            ).alias("pct_ppm"),
        )
        .orderBy("doc_id")
    )


_SOURCE_CAP_K = 10


@register(
    "xh_source_cap",
    oracle=f"""WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents)
SELECT doc_id, source, CAST(rn AS BIGINT) AS src_rank
FROM r WHERE rn <= {_SOURCE_CAP_K}
ORDER BY doc_id""",
    tags=("llm", "curation", "quota"),
)
def xh_source_cap(spark, sf_dir):
    """Per-source quota cap (round 11): keep at most K documents per
    source (lowest doc_id first) — the domain-cap step web-corpus
    pipelines run so no single crawl domain dominates the training mix.

    NOT a per-source window: at 100 TB one domain can hold billions of
    rows, and ROW_NUMBER() OVER (PARTITION BY source) sorts each
    source's entire history in one reducer. Instead,
    operators/topk.grouped_topk — bounded two-level top-K (the
    freqItems/treeAggregate design language): each input partition
    locally keeps its K smallest doc_ids per source, the per-source
    merge combines <= K ids per (source, input-partition), so
    accumulator state is always O(K) and the only exchanges carry
    O(sources x partitions x K) id rows, never documents. The rank
    equals the window's row_number because doc_id is unique
    (equivalence property-tested in tests/test_properties.py)."""
    from ..operators.topk import grouped_topk

    d = tbl(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        grouped_topk(d, "source", "doc_id", _SOURCE_CAP_K)
        .select("doc_id", "source", F.col("rank").alias("src_rank"))
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Temperature-scaled domain mixing (alpha = 0.5 apportionment)
# ---------------------------------------------------------------------------

_MIX_BUDGET = 137  # deliberately not a multiple of the source count: the
# largest-remainder +1 branch (and its name tie-break) executes at every SF.


def mix_quotas(counts: dict, budget: int) -> dict:
    """Largest-remainder apportionment of ``budget`` selection slots over
    domains, with alpha=0.5 temperature scaling: weight_i =
    floor(sqrt(count_i)) — the multilingual-sampling smoothing (XLM-R /
    mBERT style, p_i ~ c_i^alpha) that keeps head domains from swamping
    the mix while still favoring them over tail domains.

    Integer-exact by construction (the registry's determinism rule): the
    ONLY float op is sqrt (correctly-rounded IEEE, bit-identical across
    engines), immediately floored to BIGINT; base = (budget*w) div total,
    and the leftover slots go +1 each to the largest remainders, ties by
    domain name ascending (None last, mirroring DuckDB NULLS LAST).
    Weights of 0 (empty domains can't occur; count >= 1 => w >= 1) need
    no special case. A domain's quota may exceed its own count — the
    single-pass apportionment does not water-fill; callers selecting
    min(quota, count) under-fill the budget by exactly the shortfall."""
    import math

    if not counts:
        return {}
    w = {s: int(math.floor(math.sqrt(float(c)))) for s, c in counts.items()}
    tot = sum(w.values())
    base = {s: (budget * v) // tot for s, v in w.items()}
    rem = {s: (budget * v) % tot for s, v in w.items()}
    leftover = budget - sum(base.values())
    order = sorted(w, key=lambda s: (-rem[s], s is None, s or ""))
    return {
        s: base[s] + (1 if i < leftover else 0) for i, s in enumerate(order)
    }


@register(
    "xh_domain_mix",
    oracle=f"""WITH c AS (SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source),
s AS (SELECT source,
             CAST(floor(sqrt(CAST(cnt AS DOUBLE))) AS BIGINT) AS sw
      FROM c),
t AS (SELECT CAST(SUM(sw) AS BIGINT) AS tot FROM s),
b AS (SELECT source, ({_MIX_BUDGET} * sw) // tot AS base,
             ({_MIX_BUDGET} * sw) % tot AS rem
      FROM s, t),
l AS (SELECT CAST({_MIX_BUDGET} - SUM(base) AS BIGINT) AS leftover FROM b),
q AS (SELECT source,
             base + CASE WHEN row_number()
                              OVER (ORDER BY rem DESC, source ASC) <= leftover
                         THEN 1 ELSE 0 END AS quota
      FROM b, l),
r AS (SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents)
SELECT r.doc_id, r.source, CAST(q.quota AS BIGINT) AS quota,
       CAST(r.rn AS BIGINT) AS mix_rank
FROM r JOIN q ON r.source = q.source
WHERE r.rn <= q.quota
ORDER BY r.doc_id""",
    tags=("llm", "curation", "quota", "mix"),
)
def xh_domain_mix(spark, sf_dir):
    """Temperature-scaled training-mix rebalance: apportion a global
    budget of {budget} selection slots across sources with alpha=0.5
    weights (w = floor(sqrt(count)) — the multilingual-sampling
    smoothing), largest-remainder integer apportionment, then keep each
    source's quota lowest-doc_id documents. Upgrades xh_source_cap's
    fixed per-source K to a corpus-aware target mix: head domains get
    more slots than tail domains, but sub-linearly, so the mix flattens
    toward uniform without gutting the head.

    Scale design: the per-source counts are ONE map-side-combined
    aggregate whose result is domain-cardinality-sized — driver
    metadata, same bounded-collect class as the IVF centroids
    (similarity.py) — and the apportionment itself is O(domains log
    domains) integer arithmetic on the driver, mirrored exactly by the
    oracle's SQL (same floor(sqrt(double)) spelling, same rem DESC /
    source ASC tie-break). Selection reuses operators/topk.grouped_topk
    at K = max quota — bounded two-level top-K, no per-source window
    sort of a domain's full history — and the quota table joins back as
    a broadcast. One count exchange + the two bounded topk exchanges;
    documents themselves shuffle zero times.
    """
    from ..operators.topk import grouped_topk

    d = tbl(spark, sf_dir, "documents").select("doc_id", "source")
    counts = {
        r["source"]: r["cnt"]
        for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    quota = mix_quotas(counts, _MIX_BUDGET)
    quota_rows = [(s, int(q)) for s, q in quota.items() if s is not None]
    # parallelize(rows, 1): a 20-row local frame must not fan out into 32
    # Python tasks (the r3 xp_copyjob cold-pool regression, SKILL.md).
    quota_df = spark.createDataFrame(
        spark.sparkContext.parallelize(quota_rows, 1) if quota_rows else [],
        "source string, quota long",
    )
    k_max = max((q for _, q in quota_rows), default=1)
    return (
        grouped_topk(d, "source", "doc_id", max(k_max, 1))
        .join(F.broadcast(quota_df), "source")
        .filter(F.col("rank") <= F.col("quota"))
        .select(
            "doc_id",
            "source",
            F.col("quota").cast("long").alias("quota"),
            F.col("rank").cast("long").alias("mix_rank"),
        )
        .orderBy("doc_id")
    )


xh_domain_mix.__doc__ = xh_domain_mix.__doc__.replace("{budget}", str(_MIX_BUDGET))


@register(
    "xh_source_gini",
    oracle="""WITH c AS (SELECT source, COUNT(*) AS x FROM documents GROUP BY source),
r AS (SELECT x, ROW_NUMBER() OVER (ORDER BY x, source) AS i FROM c)
SELECT CAST((1000000 * (2 * SUM(i * x) - (COUNT(*) + 1) * SUM(x)))
            // (COUNT(*) * SUM(x)) AS BIGINT) AS gini_ppm,
       CAST(COUNT(*) AS BIGINT) AS n_sources,
       CAST(SUM(x) AS BIGINT) AS n_docs
FROM r""",
    tags=("llm", "mix", "diversity"),
)
def xh_source_gini(spark, sf_dir):
    """Source-concentration Gini coefficient (round 12) — the corpus-mix
    dashboard number: 0 = documents spread evenly across sources, ->1 =
    one domain dominates (the signal that triggers per-source capping,
    xh_source_cap). Exact integers end-to-end: with per-source counts
    x_i sorted ascending and ranked i = 1..n, Gini = sum((2i - n - 1) *
    x_i) / (n * sum(x)) — every term is a BIGINT product, emitted as an
    exact integer-division ppm, so it hash-checks.

    Scale shape: the corpus collapses to one domain-cardinality counts
    frame (ONE uniform source-keyed partial agg); the ascending rank
    over that frame goes through operators/prefix.global_prefix_sum
    (range-repartition + pid-keyed prefix windows + O(P) driver offsets
    — NEVER the single-partition ROW_NUMBER window the naive spelling
    plans, q35's scale fix); the Gini reduction is one partial->final
    global aggregate."""
    from ..operators.prefix import global_prefix_sum

    c = (
        tbl(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    ranked = global_prefix_sum(c, F.lit(1), ["x", "source"], out_col="i")
    return ranked.agg(
        F.expr(
            "CAST((1000000 * (2 * sum(i * x) - (count(1) + 1) * sum(x)))"
            " div (count(1) * sum(x)) AS BIGINT)"
        ).alias("gini_ppm"),
        F.count(F.lit(1)).alias("n_sources"),
        F.sum("x").cast("long").alias("n_docs"),
    )


_SPLIT_TRAIN_PCT, _SPLIT_VAL_PCT = 80, 10


@register(
    "xh_stratified_split",
    oracle=f"""WITH d AS MATERIALIZED (
  SELECT doc_id, source,
         ({_H60_SQL.format(s="'split:' || CAST(doc_id AS VARCHAR)")}) AS h
  FROM documents),
r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d)
SELECT doc_id, source, CAST(rk AS BIGINT) AS rk,
       CASE WHEN rk <= (n * {_SPLIT_TRAIN_PCT}) // 100 THEN 'train'
            WHEN rk <= (n * {_SPLIT_TRAIN_PCT}) // 100
                      + (n * {_SPLIT_VAL_PCT}) // 100 THEN 'val'
            ELSE 'test' END AS split
FROM r ORDER BY doc_id""",
    tags=("llm", "curation", "split", "oracle-twin"),
)
def xh_stratified_split(spark, sf_dir):
    """Stratified train/val/test assignment with EXACT per-source
    proportions (round 12): within every source, docs order by a
    deterministic portable hash (doc_id tiebreak — a total order) and
    the first floor(80%) ranks go to train, the next floor(10%) to val,
    the rest to test. The hash ordering makes the split pseudorandom but
    reproducible; exact stratification is what a simple hash-range split
    (xh_hash_split) cannot give — there a 10-doc source may land 0 val
    docs, here every source's proportions are exact to floor rounding.

    Scale shape: per-source ranks come from operators/prefix.grouped_rank
    — rows range-partition on (source, hash, doc_id) so a skewed source
    SPANS partitions, and ranks are fixed up from O(P x sources) driver
    metadata rows + pid-local windows; NEVER the naive one-task-per-
    source ROW_NUMBER sort. Per-source totals attach via a broadcast of
    the domain-cardinality counts frame."""
    from ..operators.prefix import grouped_rank

    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        _h60(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))).alias("h"),
    )
    ranked = grouped_rank(d, ["source"], ["h", "doc_id"], out_col="rk")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    n_train = (F.col("n") * _SPLIT_TRAIN_PCT).cast("long") / 100
    n_val = (F.col("n") * _SPLIT_VAL_PCT).cast("long") / 100
    return (
        ranked.join(F.broadcast(counts), "source")
        .select(
            "doc_id",
            "source",
            "rk",
            F.when(
                F.col("rk") <= F.floor(n_train), F.lit("train")
            )
            .when(
                F.col("rk") <= F.floor(n_train) + F.floor(n_val), F.lit("val")
            )
            .otherwise(F.lit("test"))
            .alias("split"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance weights (round 12)
# ---------------------------------------------------------------------------

_DSIR_B = 8192  # hashed feature buckets
_DSIR_TARGET = ("src0", "src1", "src2", "src3")  # the "curated" slice
_DSIR_TARGET_SQL = ", ".join(f"'{s}'" for s in _DSIR_TARGET)
_DSIR_TOKENS_SQL = (
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
)


@register(
    "xh_dsir_weights",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT doc_id, source,
         source IN ({_DSIR_TARGET_SQL}) AS is_t,
         {_DSIR_TOKENS_SQL} AS tk
  FROM documents),
feat AS MATERIALIZED (
  SELECT doc_id, is_t,
         ({_H60_SQL.format(s="tk[i] || ' ' || tk[i+1]")}) % {_DSIR_B} AS b
  FROM (SELECT doc_id, is_t, tk, unnest(generate_series(1, len(tk) - 1)) AS i
        FROM t WHERE len(tk) >= 2)),
cnt AS MATERIALIZED (
  SELECT b,
         SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS c_t,
         SUM(CASE WHEN is_t THEN 0 ELSE 1 END) AS c_r
  FROM feat GROUP BY b),
tot AS MATERIALIZED (
  SELECT SUM(c_t) AS tot_t, SUM(c_r) AS tot_r FROM cnt),
w AS MATERIALIZED (
  SELECT b,
         ((c_t + 1) * 1000000) // (tot.tot_t + {_DSIR_B})
           - ((c_r + 1) * 1000000) // (tot.tot_r + {_DSIR_B}) AS wgt
  FROM cnt, tot),
ds AS (
  SELECT f.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_features,
         CAST(SUM(w.wgt) AS BIGINT) AS weight
  FROM feat f JOIN w USING (b) GROUP BY f.doc_id)
SELECT t.doc_id, t.source,
       CAST(CASE WHEN t.is_t THEN 1 ELSE 0 END AS BIGINT) AS is_target,
       COALESCE(d.n_features, 0) AS n_features,
       COALESCE(d.weight, 0) AS weight,
       CASE WHEN COALESCE(d.n_features, 0) = 0 THEN 0
            ELSE d.weight // d.n_features END AS avg_w_ppm
FROM t LEFT JOIN ds d USING (doc_id)
ORDER BY doc_id""",
    tags=("llm", "curation", "selection", "oracle-twin"),
)
def xh_dsir_weights(spark, sf_dir):
    """DSIR-style importance weights (round 12) — Data Selection via
    Importance Resampling (Xie et al., NeurIPS 2023): score every raw
    document by how much its hashed n-gram feature distribution looks
    like a curated target slice versus the rest of the corpus. Features
    are word bigrams hashed into 8192 buckets; the per-bucket
    weight is the add-one-smoothed probability DIFFERENCE in exact
    integer ppm, (c_t+1)*1e6 div (tot_t+B) - (c_r+1)*1e6 div (tot_r+B)
    — a declared linear variant of the paper's log-likelihood ratio
    (log is libm and engine-divergent, so it stays out of hash-checked
    values; the ppm difference preserves the sign and the
    high-target-mass ordering that selection consumes). A document's
    weight is the sum over its feature OCCURRENCES; docs with fewer
    than two tokens carry zero features and weight 0. The integer
    divisions truncate toward zero identically in both engines
    (probed: Spark `div` / DuckDB `//`).

    Scale shape: bigram features explode once; the per-bucket counts
    collapse via ONE uniform bucket-keyed partial agg to <= B rows
    (bounded metadata, not data); the two corpus totals are an O(1)
    driver scalar off that frame; the per-bucket weight table
    BROADCASTS back onto the exploded features, so the corpus shuffles
    exactly once more (the per-doc rollup on doc_id)."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    t = (
        tbl(spark, sf_dir, "documents")
        .repartition(n_parts, "doc_id")
        .select(
            "doc_id",
            "source",
            F.col("source").isin(*_DSIR_TARGET).alias("is_t"),
            F.filter(F.split(F.lower("text"), r"\s+"), lambda x: x != "").alias(
                "tk"
            ),
        )
        .localCheckpoint(eager=True)
    )
    feat = (
        t.filter(F.size("tk") >= 2)
        .select(
            "doc_id",
            "is_t",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("tk") - 1),
                    lambda i: F.concat_ws(
                        " ",
                        F.element_at(F.col("tk"), i),
                        F.element_at(F.col("tk"), i + F.lit(1)),
                    ),
                )
            ).alias("g"),
        )
        .select("doc_id", "is_t", (_h60(F.col("g")) % _DSIR_B).alias("b"))
    )
    cnt = feat.groupBy("b").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).alias("c_t"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).alias("c_r"),
    )
    cnt = cnt.localCheckpoint(eager=True)  # <= B rows; reused twice
    tot = cnt.agg(F.sum("c_t").alias("tt"), F.sum("c_r").alias("tr")).collect()[0]
    tot_t, tot_r = int(tot["tt"] or 0), int(tot["tr"] or 0)
    w = cnt.select(
        "b",
        (
            F.expr(f"((c_t + 1) * 1000000L) div {tot_t + _DSIR_B}L")
            - F.expr(f"((c_r + 1) * 1000000L) div {tot_r + _DSIR_B}L")
        ).alias("wgt"),
    )
    ds = (
        feat.join(F.broadcast(w), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_features"),
            F.sum("wgt").alias("weight"),
        )
    )
    return (
        t.select("doc_id", "source", "is_t")
        .join(ds, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.when(F.col("is_t"), 1).otherwise(0).cast("long").alias("is_target"),
            F.coalesce(F.col("n_features"), F.lit(0))
            .cast("long")
            .alias("n_features"),
            F.coalesce(F.col("weight"), F.lit(0)).cast("long").alias("weight"),
            F.expr(
                "CASE WHEN COALESCE(n_features, 0L) = 0 THEN 0L"
                "     ELSE weight div n_features END"
            ).alias("avg_w_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "xh_split_leakage",
    oracle=f"""WITH d AS MATERIALIZED (
  SELECT doc_id, source, md5(text) AS ch,
         ({_H60_SQL.format(s="'split:' || CAST(doc_id AS VARCHAR)")}) AS h
  FROM documents),
r AS MATERIALIZED (
  SELECT doc_id, source, ch,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM d),
s AS MATERIALIZED (
  SELECT doc_id, source, ch,
         CASE WHEN rk <= (n * {_SPLIT_TRAIN_PCT}) // 100 THEN 'train'
              WHEN rk <= (n * {_SPLIT_TRAIN_PCT}) // 100
                        + (n * {_SPLIT_VAL_PCT}) // 100 THEN 'val'
              ELSE 'test' END AS split
  FROM r),
th AS MATERIALIZED (SELECT DISTINCT ch FROM s WHERE split = 'train'),
f AS (
  SELECT s.source, s.split, (t.ch IS NOT NULL) AS leaked
  FROM s LEFT JOIN th t USING (ch))
SELECT source,
       CAST(SUM(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_train,
       CAST(SUM(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_val,
       CAST(SUM(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT)
         AS n_test,
       CAST(SUM(CASE WHEN split = 'val' AND leaked THEN 1 ELSE 0 END)
            AS BIGINT) AS leaked_val,
       CAST(SUM(CASE WHEN split = 'test' AND leaked THEN 1 ELSE 0 END)
            AS BIGINT) AS leaked_test
FROM f GROUP BY source ORDER BY source""",
    tags=("llm", "curation", "split", "eval", "oracle-twin"),
)
def xh_split_leakage(spark, sf_dir):
    """Train/eval leakage audit over the stratified split (round 12) —
    the check every pretraining setup runs before trusting its held-out
    loss: a val/test document whose EXACT content (md5) also appears in
    the train partition is leaked — the model will have memorized it,
    and the eval number is fiction. Composes two r12 operators: the
    assignment IS xh_stratified_split's (same hash order, same floor
    arithmetic — one source of truth, the function itself), and the
    identity key is the exact-dedup content hash. Leakage is GLOBAL by
    design: a test doc matching a train doc from another source still
    leaks. Emits the per-source split sizes and leaked-doc counts.

    Scale shape: the split reuses grouped_rank's skew-safe range
    machinery; the audit adds ONE distinct on train content hashes and
    one hash-keyed LEFT probe to flag val/test docs (exact-dedup cost),
    then a domain-bounded source rollup."""
    assign = xh_stratified_split(spark, sf_dir).select(
        "doc_id", "source", "split"
    )
    ch = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("ch")
    )
    s = assign.join(ch, "doc_id")
    th = (
        s.filter(F.col("split") == "train")
        .select("ch")
        .distinct()
        .withColumn("leaked", F.lit(True))
    )
    f = s.join(th, "ch", "left").select(
        "source", "split", F.coalesce(F.col("leaked"), F.lit(False)).alias("leaked")
    )
    return (
        f.groupBy("source")
        .agg(
            F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
            .cast("long")
            .alias("n_train"),
            F.sum(F.when(F.col("split") == "val", 1).otherwise(0))
            .cast("long")
            .alias("n_val"),
            F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
            .cast("long")
            .alias("n_test"),
            F.sum(F.when((F.col("split") == "val") & F.col("leaked"), 1).otherwise(0))
            .cast("long")
            .alias("leaked_val"),
            F.sum(
                F.when((F.col("split") == "test") & F.col("leaked"), 1).otherwise(0)
            )
            .cast("long")
            .alias("leaked_test"),
        )
        .orderBy("source")
    )


_N_SHARDS = 8


@register(
    "xh_balanced_shards",
    oracle=f"""WITH r AS (
  SELECT n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents)
SELECT CAST((rn - 1) % {_N_SHARDS} AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
       CAST(MIN(n_chars) AS BIGINT) AS min_chars,
       CAST(MAX(n_chars) AS BIGINT) AS max_chars
FROM r GROUP BY (rn - 1) % {_N_SHARDS}
ORDER BY shard""",
    tags=("llm", "sharding", "pipeline"),
)
def xh_balanced_shards(spark, sf_dir):
    """Size-balanced shard assignment (round 13): documents dealt
    round-robin in descending size order across 8 output shards — the
    classic LPT-style balancing a training job wants when writing
    tokenized shards (hash split balances COUNTS; this balances BYTES,
    so no shard becomes the stragglers' shard). Emits per-shard doc
    count, byte sum and size range; the per-shard sums land within one
    max-document of each other by construction — a pytest pins that
    bound non-vacuously on a planted skewed corpus.

    Scale shape: the global size rank is the operators/prefix
    range-partitioned fix-up (repartitionByRange on (size desc, id) +
    per-partition offsets), NEVER the single-partition ROW_NUMBER()
    OVER (ORDER BY ...) the oracle spells — the suite-wide plan
    invariant forbids that funnel; the shard rollup is an 8-group
    partial->final agg."""
    from ..operators.prefix import global_prefix_sum

    d = tbl(spark, sf_dir, "documents").select("doc_id", "n_chars")
    ranked = global_prefix_sum(
        d,
        F.lit(1),
        [F.col("n_chars").desc(), F.col("doc_id")],
        out_col="rn",
    )
    return (
        ranked.select(
            ((F.col("rn") - 1) % _N_SHARDS).cast("long").alias("shard"),
            "n_chars",
        )
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.max("n_chars").cast("long").alias("max_chars"),
        )
        .orderBy("shard")
    )
