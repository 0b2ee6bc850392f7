"""Text-indexing / language-analysis operators (round 7, part 2): n-gram
language identification, inverted-index build, and sketch-based heavy
hitters.

These close out the text-analysis surface the north star mandates
("language-ID (n-gram heuristic), quality scoring, token counting,
document fingerprinting"): quality/tokens/fingerprints landed in rounds
4-5 (queries/dedup_oracle.py); this module adds the language-ID
classifier plus the two index structures a contamination-search /
corpus-analytics stack needs:

* ``xh_langid_ngram`` — Cavnar-Trenkle-style profile classifier: learn a
  top-k token profile per language from the corpus itself, classify every
  document by profile overlap, emit the confusion matrix vs the labeled
  ``lang`` column. Exact integer scoring end-to-end, hash-checked.
* ``xh_inverted_index`` — capped posting lists for the highest-DF tokens
  (the lookup structure behind "which documents contain this benchmark
  n-gram?" at interactive latency).
* ``xh_heavy_hitters`` — two-pass Misra-Gries frequent-items: a bounded
  JVM ``freqItems`` sketch (K+1 counters per partition, treeAggregate of
  the maps — NO shuffle of the token long tail) proposes a candidate
  superset; a second exact pass over candidates only recovers the true
  >N/(K+1) set. The output is the exact deterministic heavy-hitter set,
  so it hash-checks against a plain-aggregation oracle even though the
  intermediate sketch is partitioning-dependent.

All outputs follow the registry determinism rules (full ordering, BIGINT
counts, canonicalized lists serialized to strings).
"""

from __future__ import annotations

from pyspark.sql import Window as W

from .base import F, tbl
from .registry import register

# One tokenizer, spelled identically on both sides (same construction as
# queries/dedup_oracle.py): lowercase, split on whitespace, drop empties.
_TOKENS_SQL = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"


def _tokens_col():
    return F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")


# ---------------------------------------------------------------------------
# Language identification (n-gram / token-profile heuristic)
# ---------------------------------------------------------------------------

_PROFILE_K = 20  # tokens per language profile


# Shared confusion-matrix CTE chain: xh_langid_ngram emits it directly,
# xh_kappa_langid aggregates it one step further — ONE definition so the
# two oracles can never drift.
_LANGID_CM_SQL = f"""tk AS (
  SELECT doc_id, lang, unnest({_TOKENS_SQL}) AS token FROM documents
),
prof AS (
  SELECT lang AS plang, token FROM (
    SELECT lang, token,
           row_number() OVER (PARTITION BY lang
                              ORDER BY COUNT(*) DESC, token) AS rn
    FROM tk GROUP BY lang, token)
  WHERE rn <= {_PROFILE_K}
),
dt AS (SELECT DISTINCT doc_id, token FROM tk),
ov AS (
  SELECT dt.doc_id, prof.plang, COUNT(*) AS overlap
  FROM dt JOIN prof USING (token) GROUP BY 1, 2
),
best AS (
  SELECT doc_id, plang FROM (
    SELECT doc_id, plang,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY overlap DESC, plang) AS rn
    FROM ov)
  WHERE rn = 1
),
cm AS (
  SELECT d.lang, COALESCE(best.plang, 'und') AS predicted,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents d LEFT JOIN best ON d.doc_id = best.doc_id
  GROUP BY 1, 2
)"""


@register(
    "xh_langid_ngram",
    oracle=f"""WITH {_LANGID_CM_SQL}
SELECT lang, predicted, n_docs FROM cm ORDER BY lang, predicted""",
    tags=("llm", "text", "langid"),
)
def xh_langid_ngram(spark, sf_dir):
    """Language identification by corpus-derived token profiles
    (Cavnar-Trenkle n-gram profiling, n=1 over whitespace tokens — the
    classic langid heuristic the north star names). Two phases, both
    exact-integer so the confusion matrix hash-checks:

    TRAIN: count tokens per (lang, token) — a partial-agg shuffle whose
    row count is bounded by per-language vocabulary, NOT corpus size —
    then keep each language's top-{_PROFILE_K} by a window partitioned on
    ``lang`` (the window sorts vocabularies, never the corpus; with more
    languages the partition count grows with them).

    CLASSIFY: the profile is O(langs x k) rows — broadcast it, join each
    document's DISTINCT tokens (array_distinct map-side collapse, the
    xh_doc_freq discipline), count overlap per (doc, candidate lang),
    argmax with a deterministic (overlap DESC, lang) tiebreak in a
    doc_id-partitioned window (<= n_langs rows per partition key). Docs
    matching no profile token predict 'und'. Output: confusion matrix vs
    the labeled ``lang`` column — the drift dashboard a curation pipeline
    watches.

    At 100 TB nothing here holds more than (vocab | langs x k) rows in
    any single sort or broadcast; the corpus itself is touched by two
    map-side scans and one bounded aggregate each."""
    d = tbl(spark, sf_dir, "documents")
    t = d.select("lang", F.explode(_tokens_col()).alias("token"))
    wl = W.partitionBy("lang").orderBy(F.col("cnt").desc(), "token")
    prof = (
        t.groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(wl))
        .filter(F.col("rn") <= _PROFILE_K)
        .select(F.col("lang").alias("plang"), "token")
    )
    dt = d.select(
        "doc_id", F.explode(F.array_distinct(_tokens_col())).alias("token")
    )
    ov = (
        dt.join(F.broadcast(prof), "token")
        .groupBy("doc_id", "plang")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    wd = W.partitionBy("doc_id").orderBy(F.col("overlap").desc(), "plang")
    best = (
        ov.withColumn("rn", F.row_number().over(wd))
        .filter(F.col("rn") == 1)
        .select("doc_id", "plang")
    )
    return (
        d.select("doc_id", "lang")
        .join(best, "doc_id", "left")
        .select("lang", F.coalesce("plang", F.lit("und")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "predicted")
    )


# ---------------------------------------------------------------------------
# Inverted index (capped posting lists)
# ---------------------------------------------------------------------------

_POSTING_CAP = 20  # doc ids materialized per token
_INDEX_TOP = 50  # tokens emitted


@register(
    "xh_inverted_index",
    oracle=f"""WITH dt AS (
  SELECT doc_id, unnest(list_distinct({_TOKENS_SQL})) AS token FROM documents
),
r AS (
  SELECT token, doc_id,
         row_number() OVER (PARTITION BY token ORDER BY doc_id) AS rn
  FROM dt WHERE token <> ''
)
SELECT token, COUNT(*) AS df,
       string_agg(CASE WHEN rn <= {_POSTING_CAP}
                       THEN CAST(doc_id AS VARCHAR) END,
                  ',' ORDER BY doc_id) AS postings
FROM r GROUP BY token
ORDER BY df DESC, token LIMIT {_INDEX_TOP}""",
    tags=("llm", "text", "index"),
)
def xh_inverted_index(spark, sf_dir):
    """Inverted-index build: per token, document frequency plus a capped,
    sorted posting list (first {_POSTING_CAP} doc ids) — the structure
    behind interactive "which documents contain X?" lookups (benchmark-
    contamination triage, targeted takedown) without rescanning the
    corpus. Tokens are DISTINCT-ed per document map-side
    (array_distinct before the explode, the xh_doc_freq discipline), so
    the shuffle carries one row per (doc, distinct token). The rank
    window and the aggregate both hash-partition on ``token`` — one
    exchange feeds both (the xh_outlier_trim shared-exchange pattern) —
    and only the capped lists plus a top-{_INDEX_TOP} TakeOrdered leave
    the executors. Posting ids are sorted NUMERICALLY before string
    serialization on both sides (sort_array on BIGINT <-> ORDER BY
    doc_id) — lexicographic agg order would diverge at doc_id 10."""
    d = tbl(spark, sf_dir, "documents")
    dt = (
        d.select(
            "doc_id",
            F.explode(F.array_distinct(_tokens_col())).alias("token"),
        )
        .filter(F.col("token") != "")
    )
    w = W.partitionBy("token").orderBy("doc_id")
    r = dt.withColumn("rn", F.row_number().over(w))
    postings = F.concat_ws(
        ",",
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.when(F.col("rn") <= _POSTING_CAP, F.col("doc_id"))
                )
            ),
            lambda x: x.cast("string"),
        ),
    )
    return (
        r.groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"), postings.alias("postings"))
        .orderBy(F.col("df").desc(), "token")
        .limit(_INDEX_TOP)
    )


# ---------------------------------------------------------------------------
# Heavy hitters (Misra-Gries sketch + exact second pass)
# ---------------------------------------------------------------------------

_MG_COUNTERS = 49  # sketch keeps K+1 counters => superset of count > N/(K+1)


def freq_token_candidates(toks, support: float):
    """Stage-1 proposal: Misra-Gries/Karp frequent-items over a ``token``
    column, ENTIRELY JVM-side (VERDICT r8 #4: the previous mapInPandas
    sketch paid the Arrow/Python tax twice over every token and lost to
    the exact aggregate at every measured vocabulary).

    ``DataFrame.freqItems`` is Spark's built-in implementation of the
    same decrement-all algorithm this operator used to hand-roll: each
    partition keeps a bounded map of floor(1/support) counters, maps
    merge pairwise with the classic subtract-the-overflow step, and only
    the O(1/support)-entry maps ever leave the executors (treeAggregate —
    the token long tail never shuffles AT ALL, not even one row per
    partition). Merged MG sketches keep the additive error bound, so the
    union map is a SUPERSET of every token with true count >
    N * support, for ANY partitioning and merge order
    (tests/test_curation_props.py pins this at 1/3/16 partitions).

    Returns a tiny (<= 1/support rows) candidate DataFrame; runs the
    sketch job eagerly, like any stats helper."""
    freq = toks.freqItems(["token"], support)
    return freq.select(F.explode("token_freqItems").alias("token"))


@register(
    "xh_heavy_hitters",
    oracle=f"""WITH tk AS (
  SELECT unnest({_TOKENS_SQL}) AS token FROM documents
),
c AS (SELECT token, COUNT(*) AS cnt FROM tk GROUP BY token),
n AS (SELECT COUNT(*) AS total FROM tk)
SELECT token, cnt FROM c, n WHERE cnt * {_MG_COUNTERS + 1} > total
ORDER BY cnt DESC, token""",
    tags=("llm", "text", "sketch"),
)
def xh_heavy_hitters(spark, sf_dir):
    """Frequent tokens above a 1/(K+1) = 1/50 frequency threshold via
    the two-pass Misra-Gries pattern — the scale path for "what dominates
    my corpus?" when the exact token aggregate (q57) would shuffle a
    100 TB long tail:

    PASS 1 (sketch): ``freqItems`` (JVM treeAggregate of bounded
    K+1-counter maps — see ``freq_token_candidates``) proposes a
    candidate SUPERSET of every token with count > N/(K+1); the long
    tail never leaves its partition, not even as per-partition candidate
    rows (property-pinned in tests/test_curation_props.py).

    PASS 2 (exact): candidates broadcast back over the token stream; only
    candidate tokens are aggregated, and the N/(K+1) filter (computed via
    a 1-row broadcast total, never a collect) trims sketch-dependent
    extras. The emitted set is therefore EXACTLY the true heavy hitters —
    deterministic regardless of partitioning — which is what lets a
    sketch-based plan hash-check against the plain-aggregation oracle.

    Plan shape (pinned by the suite-wide invariants): the global total is
    sum(size(tokens)) over DOCUMENT rows — a partial->final global
    aggregate (the one allowlisted single-partition-exchange shape: only
    one 8-byte partial per partition crosses), equal to the exploded
    token count because explode of an empty/null array emits no rows and
    size() of one contributes 0/NULL. The 1-row total attaches via a
    broadcast nested-loop join whose build side is PROVABLY one row
    (allowlisted with the other bounded-side joins in
    tests/test_plans.py: a 1-row broadcast is the optimal physical plan
    for attaching a global scalar)."""
    d = tbl(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens_col()).alias("token"))
    cand = freq_token_candidates(toks, 1.0 / (_MG_COUNTERS + 1))
    exact = (
        toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # greatest(size, 0) makes the total config-proof (ADVICE r10): under
    # legacy sizeOfNull=true semantics size(NULL) is -1, which would
    # undercount N and loosen the >N/(K+1) threshold vs the exploded
    # token count; Spark 4 ANSI returns NULL, which sum already skips.
    total = d.agg(
        F.sum(F.greatest(F.size(_tokens_col()), F.lit(0)))
        .cast("bigint")
        .alias("total")
    )
    return (
        exact.join(F.broadcast(total))
        .filter(F.col("cnt") * (_MG_COUNTERS + 1) > F.col("total"))
        .select("token", "cnt")
        .orderBy(F.col("cnt").desc(), "token")
    )


# ---------------------------------------------------------------------------
# BM25 relevance scoring (corpus-statistics ranked retrieval)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("scan", "merge", "dup")  # fixed query; df spread high->rare
_BM25_TOP = 20
_BM25_TERMS_SQL = ", ".join(f"'{t}'" for t in _BM25_TERMS)


@register(
    "xh_bm25",
    oracle=f"""WITH tk AS (
  SELECT doc_id, len({_TOKENS_SQL}) AS dl, unnest({_TOKENS_SQL}) AS token
  FROM documents
),
tf AS (
  SELECT doc_id, dl, token, COUNT(*) AS tf FROM tk
  WHERE token IN ({_BM25_TERMS_SQL}) GROUP BY 1, 2, 3
),
dfq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
st AS (SELECT CAST(SUM(dl) AS BIGINT) AS sum_dl, COUNT(*) AS n
       FROM (SELECT len({_TOKENS_SQL}) AS dl FROM documents)),
idfq AS (
  SELECT token,
         CAST(FLOOR(ln((n - df + 0.5) / (df + 0.5) + 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS idf_u6
  FROM dfq CROSS JOIN st
),
per AS (
  SELECT tf.doc_id,
         CAST(FLOOR(
           (idf_u6 / 1000000.0)
           * (tf * 2.2)
           / (tf + 1.2 * (0.25 + 0.75 * dl / (CAST(sum_dl AS DOUBLE) / n)))
           * 1000000.0 + 0.5) AS BIGINT) AS part_u6
  FROM tf JOIN idfq USING (token) CROSS JOIN st
)
SELECT doc_id, CAST(SUM(part_u6) AS BIGINT) AS score_u6, COUNT(*) AS n_terms
FROM per GROUP BY doc_id
ORDER BY score_u6 DESC, doc_id LIMIT {_BM25_TOP}""",
    tags=("llm", "text", "search"),
)
def xh_bm25(spark, sf_dir):
    """BM25 ranked retrieval (Robertson-Sparck Jones, k1=1.2 b=0.75) for a
    fixed query over the corpus — the relevance scorer that sits on top of
    the inverted index (xh_inverted_index) in a contamination-triage /
    corpus-search stack. Per (doc, term):

        idf(t)      = ln((N - df + 0.5)/(df + 0.5) + 1)
        part(t, d)  = idf * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    Determinism discipline: every double subexpression is mirrored
    token-for-token in the oracle (base.py rule 2), and each per-term part
    is quantized to integer micro-units (FLOOR(x*1e6 + 0.5) -> BIGINT)
    BEFORE the per-document sum — summing raw doubles would be exposed to
    FP addition order, which neither engine guarantees; BIGINT addition is
    associative, so the score hash-checks regardless of partitioning.
    ln() is the one libm call (unavoidable in BM25's idf) and libm is not
    correctly rounded, so the idf is quantized to BIGINT micro-units ONCE
    per TERM — the only cross-engine ulp exposure is |Q| values per
    corpus at that quantization boundary (vanishingly unlikely to
    straddle), and every arithmetic step after `idf_u6 / 1e6` is a
    correctly-rounded IEEE op, deterministic in both engines.

    Scale shape: dl rides the explode from ONE scan (no doc-level
    self-join); the term filter collapses the token stream to |Q| terms'
    postings BEFORE the (doc, term) partial aggregate; df (|Q| rows) and
    the global (sum_dl, N) scalar (a partial->final agg, 1 row) attach by
    broadcast — the 1-row nested-loop join is the allowlisted
    global-scalar shape (tests/test_plans.py) — and the ranked result is
    a TakeOrdered top-20 (_BM25_TOP above). Nothing corpus-sized is shuffled except
    the matched-postings aggregate."""
    d = tbl(spark, sf_dir, "documents")
    t = d.select("doc_id", _tokens_col().alias("tk"))
    toks = t.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("dl"),
        F.explode("tk").alias("token"),
    ).filter(F.col("token").isin(*_BM25_TERMS))
    tf = toks.groupBy("doc_id", "dl", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    stats = (
        t.select(F.size("tk").cast("bigint").alias("dl"))
        .agg(F.sum("dl").alias("sum_dl"), F.count(F.lit(1)).alias("n"))
    )
    idf = F.log(
        (F.col("n") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    idfq = dfreq.join(F.broadcast(stats)).select(
        "token",
        F.floor(idf * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("idf_u6"),
    )
    scored = tf.join(F.broadcast(idfq), "token").join(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n")
    part = (
        (F.col("idf_u6") / F.lit(1000000.0))
        * (F.col("tf") * F.lit(2.2))
        / (
            F.col("tf")
            + F.lit(1.2) * (F.lit(0.25) + F.lit(0.75) * F.col("dl") / avgdl)
        )
    )
    per = scored.select(
        "doc_id",
        F.floor(part * F.lit(1000000.0) + F.lit(0.5))
        .cast("bigint")
        .alias("part_u6"),
    )
    return (
        per.groupBy("doc_id")
        .agg(
            F.sum("part_u6").cast("bigint").alias("score_u6"),
            F.count(F.lit(1)).alias("n_terms"),
        )
        .orderBy(F.col("score_u6").desc(), "doc_id")
        .limit(_BM25_TOP)
    )


@register(
    "xh_vocab_growth",
    oracle=r"""WITH t AS (
  SELECT doc_id, unnest(string_split_regex(lower(text), '\s+')) AS token
  FROM documents),
f AS (SELECT token, MIN(doc_id) AS first_doc
      FROM t WHERE token <> '' GROUP BY token),
m AS (SELECT MAX(doc_id) + 1 AS n FROM documents)
SELECT CAST((first_doc * 10) // n AS BIGINT) AS decile,
       CAST(COUNT(*) AS BIGINT) AS new_tokens
FROM f, m
GROUP BY decile
ORDER BY decile""",
    tags=("llm", "text", "profile"),
)
def xh_vocab_growth(spark, sf_dir):
    """Vocabulary-growth curve (round 11): distinct NEW tokens first
    appearing in each doc_id decile of the corpus — the Heaps-law
    profile corpus curation watches to judge diversity (a healthy
    growing corpus keeps minting vocabulary sub-linearly; a curve that
    flatlines early signals heavy duplication, one that stays linear
    signals noise/OCR garbage). Exact integers end-to-end, hash-checked.

    Scale shape: tokenize+explode runs map-side on the repartitioned
    corpus (the q57 SCALE.md 7b rule), then ONE uniform token-hash
    shuffle carries (token, min-doc_id) partials — min() collapses
    map-side, so each mapper emits each distinct token once; the decile
    rollup is a second 10-row aggregate. The corpus max id is a 1-row
    driver scalar (bounded-collect class), mirrored by the oracle's
    1-row scalar subquery — no BNLJ in the Spark plan."""
    n_shuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = tbl(spark, sf_dir, "documents")
    row = d.agg(F.max("doc_id").alias("m")).collect()[0]
    if row["m"] is None:  # empty corpus: schema-stable empty result
        return d.select(
            F.lit(0).cast("bigint").alias("decile"),
            F.lit(0).cast("bigint").alias("new_tokens"),
        ).limit(0)
    n = int(row["m"]) + 1
    first = (
        d.repartition(n_shuf, "doc_id")
        .select("doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    return (
        first.groupBy(
            F.expr(f"CAST((first_doc * 10) div {n} AS BIGINT)").alias("decile")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("new_tokens"))
        .orderBy("decile")
    )


@register(
    "xh_pmi_counts",
    oracle="""WITH toks AS MATERIALIZED (
  SELECT string_split(lower(text), ' ') AS parts
  FROM documents WHERE text IS NOT NULL),
uni AS MATERIALIZED (
  SELECT t AS token, COUNT(*) AS n
  FROM (SELECT unnest(parts) AS t FROM toks)
  WHERE t <> '' GROUP BY t),
bi AS (
  SELECT bigram, w1, w2, COUNT(*) AS n_xy
  FROM (SELECT parts[i] AS w1, parts[i+1] AS w2,
               parts[i] || ' ' || parts[i+1] AS bigram
        FROM (SELECT parts, unnest(generate_series(1, len(parts)-1)) AS i
              FROM toks WHERE len(parts) >= 2)
        WHERE parts[i] <> '' AND parts[i+1] <> '')
  GROUP BY bigram, w1, w2
  ORDER BY n_xy DESC, bigram LIMIT 50)
SELECT b.bigram, CAST(b.n_xy AS BIGINT) AS n_xy,
       CAST(u1.n AS BIGINT) AS n_x, CAST(u2.n AS BIGINT) AS n_y
FROM bi b JOIN uni u1 ON u1.token = b.w1 JOIN uni u2 ON u2.token = b.w2
ORDER BY n_xy DESC, bigram""",
    tags=("llm", "text", "ngram", "cooccurrence"),
)
def xh_pmi_counts(spark, sf_dir):
    """Collocation / PMI component counts (round 12) — the co-occurrence
    statistics phrase mining and tokenizer-vocabulary induction run over
    a corpus: for the top-50 bigrams, the exact integers PMI is computed
    from — pair count n_xy and the two unigram counts n_x, n_y (the log
    itself is monotone and applied downstream; keeping the output integer
    keeps it hash-checkable per the FP discipline: ln stays out of
    emitted values).

    Scale shape: bigram and unigram counts are each ONE uniform
    token-keyed partial-agg exchange (map-side collapse first); the
    top-50 bigram set rides TakeOrderedAndProject (never a global sort)
    and then BROADCASTS into the two unigram lookups — the big unigram
    frame never re-shuffles for the join."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .repartition(n_parts, "doc_id")
        .withColumn("__toks", F.split(F.lower("text"), " "))
    )
    uni = (
        d.select(F.explode("__toks").alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    toks = F.col("__toks")
    pairs = F.when(F.size(toks) < 2, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.struct(
                F.element_at(toks, i).alias("w1"),
                F.element_at(toks, i + 1).alias("w2"),
            ),
        )
    )
    bi = (
        d.select(F.explode(pairs).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .filter((F.col("w1") != "") & (F.col("w2") != ""))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_xy"))
        .withColumn("bigram", F.concat_ws(" ", "w1", "w2"))
        .orderBy(F.col("n_xy").desc(), "bigram")
        .limit(50)
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("n").alias("n_x"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("n").alias("n_y"))
    return (
        u1.join(F.broadcast(bi), "w1")
        .join(u2, "w2")
        .select("bigram", "n_xy", "n_x", "n_y")
        .orderBy(F.col("n_xy").desc(), "bigram")
    )


@register(
    "xh_source_overlap",
    oracle="""WITH st AS MATERIALIZED (
  SELECT DISTINCT source, tok FROM (
    SELECT source, unnest(string_split_regex(lower(text), '\\s+')) AS tok
    FROM documents WHERE text IS NOT NULL)
  WHERE tok <> ''),
sizes AS MATERIALIZED (SELECT source, COUNT(*) AS sz FROM st GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_common
  FROM st a JOIN st b ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2)
SELECT i.src_a, i.src_b, CAST(i.n_common AS BIGINT) AS n_common,
       CAST(sa.sz AS BIGINT) AS n_a, CAST(sb.sz AS BIGINT) AS n_b,
       CAST(1000000 * i.n_common // (sa.sz + sb.sz - i.n_common) AS BIGINT)
         AS jaccard_ppm
FROM inter i
JOIN sizes sa ON sa.source = i.src_a
JOIN sizes sb ON sb.source = i.src_b
ORDER BY src_a, src_b""",
    tags=("llm", "text", "mix", "similarity"),
)
def xh_source_overlap(spark, sf_dir):
    """Pairwise source vocabulary-overlap matrix (round 12) — the
    corpus-mix design signal: two sources with near-identical vocabulary
    are redundant in a mixture, highly disjoint ones add diversity
    (the same question SlimPajama-style mix tuning asks of its domains).
    Emits exact |A∩B| / |A| / |B| and the integer-ppm Jaccard for every
    source pair that shares at least one token.

    Scale shape: the corpus collapses to the DISTINCT (source, token)
    set first — array_distinct inside each document, then one uniform
    token-keyed distinct exchange — so the self-join joins vocabulary
    rows, not occurrences; per-token pair fan-out is bounded by
    sources^2 (domain cardinality, not corpus size); the pair aggregate
    is sources^2-row-bounded and the size lookups broadcast."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("text").isNotNull())
        .repartition(n_parts, "doc_id")
    )
    st = (
        d.select(
            "source",
            F.explode(F.array_distinct(F.split(F.lower("text"), r"\s+"))).alias("tok"),
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    sizes = st.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a = st.select(F.col("source").alias("src_a"), "tok")
    b = st.select(F.col("source").alias("src_b"), "tok")
    inter = (
        a.join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a",
            "src_b",
            "n_common",
            "n_a",
            "n_b",
            F.expr(
                "CAST(1000000 * n_common div (n_a + n_b - n_common) AS BIGINT)"
            ).alias("jaccard_ppm"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Out-of-vocabulary rate (round 12)
# ---------------------------------------------------------------------------

_OOV_VOCAB_K = 64  # corpus-derived vocabulary size (count desc, token asc)


@register(
    "xh_oov_rate",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT doc_id, tk, len(tk) AS n
  FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)
  WHERE len(tk) > 0),
tok AS MATERIALIZED (
  SELECT doc_id, unnest(tk) AS tok FROM t),
vocab AS MATERIALIZED (
  SELECT tok FROM (
    SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
    ORDER BY c DESC, tok LIMIT {_OOV_VOCAB_K})),
oov AS (
  SELECT doc_id, COUNT(*) AS n_oov
  FROM tok ANTI JOIN vocab USING (tok) GROUP BY doc_id)
SELECT t.doc_id,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(COALESCE(o.n_oov, 0) AS BIGINT) AS n_oov,
       (COALESCE(o.n_oov, 0) * 1000000) // t.n AS oov_ppm
FROM t LEFT JOIN oov o USING (doc_id)
ORDER BY doc_id""",
    tags=("llm", "text", "quality", "oracle-twin"),
)
def xh_oov_rate(spark, sf_dir):
    """Per-document out-of-vocabulary rate (round 12) — the classic
    lexicon quality filter (CCNet-family): derive the corpus's own
    top-K vocabulary (count desc, token asc — a total order, so the K
    boundary is deterministic under count ties) and emit, per document,
    the exact count and integer-ppm fraction of token OCCURRENCES that
    fall outside it. High OOV flags gibberish / boilerplate / wrong-
    language docs; near-zero OOV flags templated text. Zero-token docs
    are excluded (their rate is undefined). Exact integers end-to-end.

    Scale shape: the token arrays materialize ONCE behind a
    localCheckpoint and both consumers explode from that barrier; the
    vocabulary is one uniform token-keyed partial agg collapsed to K
    rows (vocabulary cardinality, not corpus size) and the membership
    probe is a broadcast LEFT ANTI join — the corpus's exploded tokens
    never shuffle for the probe; the per-doc rollup is one doc_id
    exchange."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    t = (
        tbl(spark, sf_dir, "documents")
        .repartition(n_parts, "doc_id")
        .select("doc_id", _tokens_col().alias("tk"))
        .withColumn("n", F.size("tk"))
        .filter(F.col("n") > 0)
        .localCheckpoint(eager=True)
    )
    tok = t.select("doc_id", F.explode("tk").alias("tok"))
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_OOV_VOCAB_K)
        .select("tok")
    )
    oov = (
        tok.join(F.broadcast(vocab), "tok", "left_anti")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_oov"))
    )
    return (
        t.select("doc_id", "n")
        .join(oov, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_oov"), F.lit(0)).cast("long").alias("n_oov"),
            F.expr("(COALESCE(n_oov, 0L) * 1000000L) div n").alias("oov_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "xh_bpe_merge_step",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
p AS (
  SELECT unnest(list_transform(range(1, length(token)),
                               i -> substr(token, i, 2))) AS pair
  FROM t WHERE length(token) >= 2)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY pair
ORDER BY n DESC, pair LIMIT 20""",
    tags=("llm", "text", "tokenizer"),
)
def xh_bpe_merge_step(spark, sf_dir):
    """One BPE training merge step (round 13): the most frequent
    adjacent character pairs inside word tokens — the inner loop a
    byte-pair-encoding tokenizer runs repeatedly (merge the top pair,
    recount, repeat). Each step is exactly this query, so its scale
    shape decides whether training a tokenizer on the corpus is
    feasible at all. Top-20 pairs with exact counts, deterministic
    (count desc, pair asc) order, hash-checked — the Spark and DuckDB
    spellings both reduce to substr(token, i, 2) over an exploded
    position range.

    Scale shape: tokens explode once; pairs are generated in-projection
    (sequence + substring — whole-stage codegen, no UDF); the ONE
    exchange is the uniform pair partial agg whose state is
    alphabet^2-bounded (a few hundred groups for natural text —
    byte-level BPE caps it at 65k); top-20 is TakeOrderedAndProject."""
    d = tbl(spark, sf_dir, "documents")
    toks = d.select(F.explode(_tokens_col()).alias("token")).filter(
        F.length("token") >= 2
    )
    pairs = toks.select(
        F.explode(F.sequence(F.lit(1), F.length("token") - 1)).alias("i"),
        F.col("token"),
    ).select(F.col("token").substr(F.col("i"), F.lit(2)).alias("pair"))
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(20)
    )


@register(
    "xh_cooccurrence_window",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT doc_id, generate_subscripts(tk, 1) AS i, unnest(tk) AS w
  FROM (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents)),
p AS (
  SELECT a.w AS w1, b.w AS w2
  FROM t a JOIN t b
    ON a.doc_id = b.doc_id AND (b.i = a.i + 1 OR b.i = a.i + 2))
SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n
FROM p GROUP BY w1, w2
ORDER BY n DESC, w1, w2 LIMIT 30""",
    tags=("llm", "text", "embedding-prep"),
)
def xh_cooccurrence_window(spark, sf_dir):
    """Skip-gram co-occurrence counts (round 13): (center, context)
    pair frequencies within a forward window of 2 — the preprocessing
    pass word2vec/GloVe-style embedding training runs over the whole
    corpus (PMI, q58's adjacent bigrams and this op form the
    collocation family; this one is the windowed generalization). Top
    30 pairs with exact counts, deterministic order, hash-checked.

    Scale shape: the OR-of-offsets window is expressed as explode(1, 2)
    + ONE (doc_id, position) EQUI join — the window_jaccard_pairs rule:
    writing `b.i = a.i + 1 OR b.i = a.i + 2` directly degrades to a
    nested-loop scan at any scale, while the exploded equi form is a
    plain hash join whose fan-out is exactly window_size x tokens. The
    pair rollup is one uniform partial agg; top-30 is
    TakeOrderedAndProject."""
    d = tbl(spark, sf_dir, "documents")
    t = d.select("doc_id", F.posexplode(_tokens_col()).alias("i", "w"))
    a = t.select(
        "doc_id",
        F.col("w").alias("w1"),
        F.explode(F.array(F.lit(1), F.lit(2))).alias("off"),
        (F.col("i")).alias("ia"),
    ).select(
        "doc_id", "w1", (F.col("ia") + F.col("off")).alias("ib")
    )
    b = t.select("doc_id", F.col("i").alias("ib"), F.col("w").alias("w2"))
    return (
        a.join(b, ["doc_id", "ib"])
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "w1", "w2")
        .limit(30)
    )


@register(
    "xh_unigram_surprisal",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents),
c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY token),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c),
s AS (SELECT t.doc_id,
             CAST(length(bin(n.total // c.cnt)) AS BIGINT) AS bits
      FROM t JOIN c USING (token) CROSS JOIN n)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(SUM(bits) AS BIGINT) AS sum_bits,
       CAST(SUM(bits) * 1000000 // COUNT(*) AS BIGINT) AS mean_bits_ppm
FROM s GROUP BY doc_id ORDER BY doc_id""",
    tags=("llm", "text", "quality", "lm"),
)
def xh_unigram_surprisal(spark, sf_dir):
    """Integer unigram-LM surprisal per document (round 13) — the
    perplexity-proxy quality signal a curation pass gates on (gibberish
    and boilerplate sit at the distribution's tails), made hash-exact:
    instead of float -log p (libm ln is banned from emitted values by
    the cross-engine FP rule), each token scores floor(log2(N/count))+1
    bits computed as length(bin(N div count)) — pure integer arithmetic
    both engines evaluate identically (the HLL rho idiom). Per doc:
    token count, total bits, mean bits in exact ppm. Rare tokens cost
    more bits; a doc of corpus-frequent tokens scores near 1 bit/token.

    Scale shape: ONE uniform token partial agg builds the unigram
    table; the corpus total is a provably-1-row broadcast onto it; the
    count table joins back onto the exploded tokens TOKEN-KEYED AND
    UNHINTED (the vocabulary grows Heaps-law with the corpus — the
    r13 broadcast-audit rule); the per-doc rollup is one doc_id
    exchange."""
    d = tbl(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(_tokens_col()).alias("token"))
    c = t.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = c.agg(F.sum("cnt").cast("long").alias("total"))
    bits = F.length(
        F.conv(F.expr("total div cnt").cast("string"), 10, 2)
    ).cast("long")
    return (
        t.join(c, "token")  # token-keyed, unhinted: AQE decides
        .join(F.broadcast(tot))  # 1-row build side
        .select("doc_id", bits.alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("bits").cast("long").alias("sum_bits"),
            F.expr("CAST(SUM(bits) * 1000000 div COUNT(*) AS BIGINT)").alias(
                "mean_bits_ppm"
            ),
        )
        .orderBy("doc_id")
    )


@register(
    "xh_zipf_fit",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY token),
r AS (SELECT token, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT) AS rk
      FROM c),
xy AS (SELECT CAST(length(bin(rk)) AS BIGINT) AS x,
              CAST(length(bin(cnt)) AS BIGINT) AS y
       FROM r),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x*y) AS BIGINT) AS sxy,
             CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(y*y) AS BIGINT) AS syy
      FROM xy)
SELECT n AS n_types,
       CAST(CAST(n*sxy - sx*sy AS HUGEINT) * 1000000
            // CAST(n*sxx - sx*sx AS HUGEINT) AS BIGINT) AS slope_ppm,
       CAST(CAST(n*sxy - sx*sy AS HUGEINT) * CAST(n*sxy - sx*sy AS HUGEINT)
            * 1000000
            // (CAST(n*sxx - sx*sx AS HUGEINT)
                * CAST(n*syy - sy*sy AS HUGEINT)) AS BIGINT) AS r2_ppm
FROM s""",
    tags=("llm", "text", "stats"),
)
def xh_zipf_fit(spark, sf_dir):
    """Zipf's-law fit over the corpus unigram distribution (round 13):
    OLS slope + r^2 of log2(frequency) against log2(rank), the standard
    sanity probe on a crawl corpus (natural text fits slope ~ -1; a
    slope collapse flags boilerplate/template flooding, machine-
    generated spam, or a broken extractor). Hash-exact across engines:
    both logs are integer bit-lengths (length(bin(v)) — the surprisal
    idiom); the 5 OLS normal-equation SUMS stay in BIGINT (each term is
    <= 4096*n_types), but the slope/r^2 ppm expressions are widened to
    exact 128-bit integers (Spark DECIMAL(38,0) div / DuckDB HUGEINT
    //, the xh_chi2_tokens pattern — ADVICE r13): the r^2 numerator is
    a SQUARED covariance times 1e6, ~1.7e13*n_types^4, which silently
    wraps BIGINT past ~1,500 vocabulary types. Exact headroom after
    widening: slope to ~1e14 types; r^2 to ~4.9e6 types (1.7e13*n^4 <=
    1e38) — past that, sample the vocab frame down rather than widen
    further (the chi2 sampling rule; real crawl vocabs at 100 TB are
    pre-capped by the tokenizer long before this bound).

    Scale shape: ONE uniform token partial agg builds the vocab frame
    (Heaps-law rows, never corpus rows); the global frequency rank uses
    operators/prefix.grouped_rank under a constant group — range-
    partitioned rank fix-up, NOT a single-partition ROW_NUMBER window
    (the plan invariant test_plans forbids that shape); the 5 OLS sums
    fold per-partition then coalesce (no SinglePartition exchange); the
    final row is O(1). Rank ties broken by token for cross-engine
    determinism. Cite: reference has no stats surface; this extends the
    quality family (SURVEY §2b)."""
    from ..operators.prefix import grouped_rank

    d = tbl(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(_tokens_col()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("__grp", F.lit(0))
        .withColumn("neg_cnt", -F.col("cnt"))
    )
    ranked = grouped_rank(c, ["__grp"], ["neg_cnt", "token"], out_col="rk")
    xy = ranked.select(
        F.length(F.conv(F.col("rk").cast("string"), 10, 2)).cast("long").alias("x"),
        F.length(F.conv(F.col("cnt").cast("string"), 10, 2)).cast("long").alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    return s.select(
        F.col("n").alias("n_types"),
        F.expr(
            "CAST(CAST(n*sxy - sx*sy AS DECIMAL(38,0)) * 1000000"
            " div CAST(n*sxx - sx*sx AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("slope_ppm"),
        F.expr(
            "CAST(CAST(n*sxy - sx*sy AS DECIMAL(38,0))"
            " * CAST(n*sxy - sx*sy AS DECIMAL(38,0)) * 1000000"
            " div (CAST(n*sxx - sx*sx AS DECIMAL(38,0))"
            "      * CAST(n*syy - sy*sy AS DECIMAL(38,0))) AS BIGINT)"
        ).alias("r2_ppm"),
    )


@register(
    "xh_bigram_surprisal",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS w,
         generate_subscripts({_TOKENS_SQL}, 1) AS i
  FROM documents),
bg AS (SELECT a.doc_id, a.w AS w1, b.w AS w2
       FROM t a JOIN t b ON a.doc_id = b.doc_id AND b.i = a.i + 1),
u AS (SELECT w AS w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM t GROUP BY w),
bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2
       FROM bg GROUP BY w1, w2),
s AS (SELECT bg.doc_id,
             CAST(length(bin(u.c1 // bc.c2)) AS BIGINT) AS bits
      FROM bg JOIN bc USING (w1, w2) JOIN u USING (w1))
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(SUM(bits) AS BIGINT) AS sum_bits,
       CAST(SUM(bits) * 1000000 // COUNT(*) AS BIGINT) AS mean_bits_ppm
FROM s GROUP BY doc_id ORDER BY doc_id""",
    tags=("llm", "text", "quality", "lm"),
)
def xh_bigram_surprisal(spark, sf_dir):
    """Bigram-conditional LM surprisal per document (round 13) — the
    second-order twin of xh_unigram_surprisal and the closest
    hash-exact analog of the CCNet perplexity quality filter: each
    bigram (w1,w2) costs floor(log2(c(w1)/c(w1,w2)))+1 bits, i.e. the
    conditional surprisal -log2 P(w2|w1) under the corpus MLE bigram
    model, computed as an integer bit-length both engines evaluate
    identically. Repetitive/templated docs score near 1 bit/bigram;
    token-salad scores high. Per doc: bigram count, total bits, mean
    bits in exact ppm.

    Scale shape: bigrams come from posexplode + ONE (doc_id, position)
    equi self-join (the cooccurrence rule — never a positional OR
    predicate); bigram and unigram count tables are each ONE uniform
    partial agg; both probe joins are token-keyed AND UNHINTED (bigram
    types grow faster than Heaps — the broadcast-audit rule); the
    per-doc rollup is one doc_id exchange."""
    d = tbl(spark, sf_dir, "documents")
    t = d.select("doc_id", F.posexplode(_tokens_col()).alias("i", "w"))
    a = t.select("doc_id", F.col("w").alias("w1"), (F.col("i") + 1).alias("ib"))
    b = t.select("doc_id", F.col("i").alias("ib"), F.col("w").alias("w2"))
    bg = a.join(b, ["doc_id", "ib"]).select("doc_id", "w1", "w2")
    u = t.groupBy(F.col("w").alias("w1")).agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    )
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("c2"))
    bits = F.length(
        F.conv(F.expr("c1 div c2").cast("string"), 10, 2)
    ).cast("long")
    return (
        bg.join(bc, ["w1", "w2"])  # bigram-keyed, unhinted
        .join(u, "w1")  # token-keyed, unhinted
        .select("doc_id", bits.alias("bits"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("bits").cast("long").alias("sum_bits"),
            F.expr(
                "CAST(SUM(bits) * 1000000 div COUNT(*) AS BIGINT)"
            ).alias("mean_bits_ppm"),
        )
        .orderBy("doc_id")
    )


@register(
    "xh_token_burstiness",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT doc_id, unnest({_TOKENS_SQL}) AS token FROM documents),
c AS (SELECT token, doc_id, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM t GROUP BY token, doc_id),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
s AS (SELECT token,
             CAST(COUNT(*) AS BIGINT) AS df,
             CAST(SUM(cnt) AS BIGINT) AS sc,
             CAST(SUM(cnt*cnt) AS BIGINT) AS scc
      FROM c GROUP BY token)
SELECT token, df, sc AS total_occurrences,
       CAST((CAST(n.n_docs AS HUGEINT) * s.scc
             - CAST(s.sc AS HUGEINT) * s.sc) * 1000000
            // (CAST(n.n_docs AS HUGEINT) * s.sc) AS BIGINT) AS vmr_ppm
FROM s CROSS JOIN n ORDER BY token""",
    tags=("llm", "text", "stats", "quality"),
)
def xh_token_burstiness(spark, sf_dir):
    """Token burstiness (round 13): the variance-to-mean ratio of each
    token's per-document count over the WHOLE corpus (zeros included
    via the n_docs cross term — no dense zero rows are ever
    materialized) — the corpus-linguistics dispersion measure that
    separates bursty content words (vmr >> 1e6: when a doc mentions
    them, it mentions them a lot) from evenly-spread function words
    (vmr ~ 1e6, the Poisson line) and from template boilerplate (high
    df AND high vmr = paste-repeated). Exact ppm: VMR = (N*sum(c^2) -
    (sum c)^2) / (N*sum c), widened to exact 128-bit integers (Spark
    DECIMAL(38,0) div / DuckDB HUGEINT //, the xh_chi2_tokens pattern —
    ADVICE r13): for a common token N*scc alone passes ~1e13 at ~1e6
    docs, so the *1e6 ppm scaling silently wraps BIGINT. Headroom after
    widening: N*scc*1e6 <= 1e38 holds to ~1e9 docs x ~1e5-token docs
    (N*scc <= N^2 * maxlen^2 only for the degenerate one-token corpus;
    realistically scc <= N*maxlen^2 ~ 1e19, x1e6 = 1e34).

    Scale shape: ONE uniform (token, doc) partial agg, then a token
    agg collapsing to Heaps-law rows; the corpus doc count is a
    provably-1-row broadcast; output is vocabulary-sized, fully
    ordered. Including the zero cells costs NOTHING — the algebra
    folds them into the N term."""
    d = tbl(spark, sf_dir, "documents")
    c = (
        d.select("doc_id", F.explode(_tokens_col()).alias("token"))
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    s = c.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("df"),
        F.sum("cnt").cast("long").alias("sc"),
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("scc"),
    )
    return (
        s.join(F.broadcast(n))  # 1-row corpus count
        .select(
            "token",
            "df",
            F.col("sc").alias("total_occurrences"),
            F.expr(
                "CAST((CAST(n_docs AS DECIMAL(38,0)) * scc"
                "      - CAST(sc AS DECIMAL(38,0)) * sc) * 1000000"
                " div (CAST(n_docs AS DECIMAL(38,0)) * sc) AS BIGINT)"
            ).alias("vmr_ppm"),
        )
        .orderBy("token")
    )


# ---------------------------------------------------------------------------
# Cohen's kappa over the langid confusion matrix (round 13, late)
# ---------------------------------------------------------------------------


@register(
    "xh_kappa_langid",
    oracle=f"""WITH {_LANGID_CM_SQL},
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n,
               CAST(SUM(CASE WHEN lang = predicted THEN n_docs ELSE 0 END)
                    AS BIGINT) AS tr
        FROM cm),
r AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS rt FROM cm GROUP BY lang),
c AS (SELECT predicted, CAST(SUM(n_docs) AS BIGINT) AS ct
      FROM cm GROUP BY predicted),
s AS (SELECT CAST(COALESCE(SUM(r.rt * c.ct), 0) AS BIGINT) AS s
      FROM r JOIN c ON c.predicted = r.lang)
SELECT tot.n AS n_docs, tot.tr AS n_correct,
       CAST((tot.tr * 1000000) // tot.n AS BIGINT) AS accuracy_ppm,
       CAST((CAST(s.s AS HUGEINT) * 1000000)
            // (CAST(tot.n AS HUGEINT) * tot.n) AS BIGINT) AS expected_ppm,
       CASE WHEN CAST(tot.n AS HUGEINT) * tot.n - s.s = 0 THEN NULL
            ELSE CAST(((CAST(tot.n AS HUGEINT) * tot.tr - s.s) * 1000000)
                      // (CAST(tot.n AS HUGEINT) * tot.n - s.s) AS BIGINT)
       END AS kappa_ppm
FROM tot, s""",
    tags=("llm", "text", "eval", "oracle-twin"),
)
def xh_kappa_langid(spark, sf_dir):
    """Cohen's kappa for the langid classifier (round 13) — the
    evaluation step a curation pipeline runs on its own heuristics:
    raw accuracy over-credits a classifier on a skewed label mix (on a
    90%-one-language corpus, 'always predict the majority' scores 0.9),
    so kappa subtracts the agreement expected from the marginals alone:
    kappa = (po - pe) / (1 - pe), emitted as exact truncating ppm over
    the BIGINT confusion counts. Composes xh_langid_ngram's OWN
    confusion matrix (one shared CTE chain / DataFrame, so the two can
    never drift) — the same compose-the-production-operator discipline
    as xh_split_leakage. Negative kappa (worse than chance) divides
    trunc-toward-zero identically in both engines (the probed
    `div` == `//` contract).

    Integer headroom (corrected per ADVICE r13): s = sum(rt*ct) can
    reach n^2, so the ppm expressions s*1e6 and (n*tr - s)*1e6 are the
    binding terms, NOT the bare rt*ct cross product — they wrap BIGINT
    at n ~ 3e6 docs. All three n^2-order ppm expressions are therefore
    widened to exact 128-bit integers (Spark DECIMAL(38,0) div / DuckDB
    HUGEINT //, the xh_chi2_tokens pattern): n^2*1e6 <= 1e38 now holds
    to ~3e15 docs.

    Scale shape: everything downstream of the (already scale-audited)
    confusion matrix is label-cardinality metadata — two rollups of a
    langs^2-row frame, one label-keyed equi join, and the final global
    folds are partial->final aggregates; the two 1-row frames combine
    via a provably-single-row broadcast (the heavy_hitters shape)."""
    cm = xh_langid_ngram(spark, sf_dir)
    tot = cm.agg(
        F.sum("n_docs").cast("long").alias("n"),
        F.sum(
            F.when(F.col("lang") == F.col("predicted"), F.col("n_docs"))
            .otherwise(0)
        )
        .cast("long")
        .alias("tr"),
    )
    r = cm.groupBy("lang").agg(F.sum("n_docs").cast("long").alias("rt"))
    c = cm.groupBy("predicted").agg(
        F.sum("n_docs").cast("long").alias("ct")
    )
    s = (
        r.join(c, r["lang"] == c["predicted"])
        .agg(
            F.coalesce(F.sum(F.col("rt") * F.col("ct")), F.lit(0))
            .cast("long")
            .alias("s")
        )
    )
    return tot.crossJoin(F.broadcast(s)).select(
        F.col("n").alias("n_docs"),
        F.col("tr").alias("n_correct"),
        F.expr("CAST((tr * 1000000) div n AS BIGINT)").alias("accuracy_ppm"),
        F.expr(
            "CAST((CAST(s AS DECIMAL(38,0)) * 1000000)"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("expected_ppm"),
        F.expr(
            "CASE WHEN CAST(n AS DECIMAL(38,0)) * n - s = 0 THEN NULL"
            " ELSE CAST(((CAST(n AS DECIMAL(38,0)) * tr - s) * 1000000)"
            "      div (CAST(n AS DECIMAL(38,0)) * n - s) AS BIGINT)"
            " END"
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# Good-Turing frequency-of-frequencies (round 14)
# ---------------------------------------------------------------------------


@register(
    "xh_good_turing",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY token),
cc AS (SELECT cnt AS c, CAST(COUNT(*) AS BIGINT) AS n_types
       FROM c GROUP BY cnt)
SELECT a.c, a.n_types,
       CAST(COALESCE(b.n_types, 0) AS BIGINT) AS n_types_next,
       CAST((a.c + 1) * CAST(COALESCE(b.n_types, 0) AS HUGEINT) * 1000000
            // a.n_types AS BIGINT) AS c_star_ppm
FROM cc a LEFT JOIN cc b ON b.c = a.c + 1
ORDER BY a.c""",
    tags=("llm", "text", "stats", "lm"),
)
def xh_good_turing(spark, sf_dir):
    """Good-Turing frequency-of-frequencies table (round 14): for every
    observed token count c, how many vocabulary types occur exactly c
    times (N_c), and the Good-Turing re-estimated count c* =
    (c+1) * N_{c+1} / N_c in exact ppm — the smoothing statistic under
    Katz back-off and the unseen-mass estimate (row c=1: N_1 carries
    the probability mass GT assigns to UNSEEN types, the signal a
    curation pipeline reads as "how open is this vocabulary still").
    A count level whose N_{c+1} is empty re-estimates to 0 on both
    engines (the raw-GT convention; smoothed variants interpolate,
    which is a float fit and stays out of the hash contract).

    Hash-exact: counts and count-of-counts are BIGINT; the c* numerator
    (c+1)*N_{c+1}*1e6 is widened to exact 128-bit integers up front
    (Spark DECIMAL(38,0) div / DuckDB HUGEINT //, the ADVICE r13
    discipline — c*N_types*1e6 <= T*V*1e6 ~ 1e27 at a 1e12-token /
    1e9-type corpus, comfortably inside 1e38).

    Scale shape: ONE uniform token partial agg builds the vocab frame
    (Heaps-law rows); the count-of-counts agg collapses it to at most
    O(sqrt(T)) distinct count levels (sum over levels of c*N_c = T
    bounds the level count); the c+1 self-join runs on that tiny frame,
    level-keyed and unhinted; output is level-cardinality, fully
    ordered. Nothing corpus-sized survives the first exchange."""
    d = tbl(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(_tokens_col()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    cc = c.groupBy(F.col("cnt").alias("c")).agg(
        F.count(F.lit(1)).cast("long").alias("n_types")
    )
    nxt = cc.select(
        (F.col("c") - 1).alias("c"), F.col("n_types").alias("n_types_next")
    )
    return (
        cc.join(nxt, "c", "left")
        .select(
            "c",
            "n_types",
            F.coalesce("n_types_next", F.lit(0)).cast("long").alias(
                "n_types_next"
            ),
            F.expr(
                "CAST((c + 1) * CAST(COALESCE(n_types_next, 0)"
                " AS DECIMAL(38,0)) * 1000000 div n_types AS BIGINT)"
            ).alias("c_star_ppm"),
        )
        .orderBy("c")
    )


# ---------------------------------------------------------------------------
# Vocabulary coverage curve (round 14)
# ---------------------------------------------------------------------------

# fixed probe ranks: coverage at top-2^i types. A tokenizer-budget read is
# only meaningful at pre-declared ranks (the fixed-round discipline); ranks
# past the actual vocabulary simply emit no row on either engine.
_COVERAGE_KS = (1, 2, 4, 8, 16, 32, 64, 128, 256, 512, 1024)
_COVERAGE_KS_SQL = ", ".join(str(k) for k in _COVERAGE_KS)


@register(
    "xh_coverage_curve",
    oracle=f"""WITH t AS MATERIALIZED (
  SELECT unnest({_TOKENS_SQL}) AS token FROM documents),
c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt FROM t GROUP BY token),
r AS (SELECT token, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, token) AS BIGINT)
               AS rk,
             CAST(SUM(cnt) OVER (ORDER BY cnt DESC, token
                                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
      FROM c),
n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM c)
SELECT r.rk AS top_k, r.cum AS tokens_covered,
       CAST(CAST(r.cum AS HUGEINT) * 1000000 // n.total AS BIGINT)
         AS coverage_ppm
FROM r CROSS JOIN n
WHERE r.rk IN ({_COVERAGE_KS_SQL})
ORDER BY top_k""",
    tags=("llm", "text", "stats", "tokenizer"),
)
def xh_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve (round 14): what fraction of all corpus
    token OCCURRENCES the top-2^i types cover, at the fixed probe ranks
    1,2,4,...,1024 — the read that sizes a tokenizer vocab budget (the
    knee of this curve is where adding types stops paying) and flags
    template flooding (coverage ~1e6 at tiny k = a boilerplate corpus).
    Exact ppm via truncating division, widened to 128-bit integers up
    front (cum*1e6 wraps BIGINT past ~9e12 tokens — a 100 TB corpus is
    ~2e13; the ADVICE r13 width discipline). Probe ranks past the
    actual vocabulary emit no row on either engine (fixed-rank
    discipline, deterministic at every SF).

    Scale shape: ONE uniform token partial agg builds the vocab frame
    (Heaps-law rows); the global frequency rank AND the running
    coverage both come from operators/prefix (range-partitioned rank
    fix-up + pid-local prefix sums with O(P) driver offsets — never a
    single-partition ROW_NUMBER/SUM window over the vocabulary); the
    corpus total is a provably-1-row broadcast; output is <= 11 rows at
    any corpus."""
    from ..operators.prefix import global_prefix_sum, grouped_rank

    d = tbl(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(_tokens_col()).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .withColumn("__grp", F.lit(0))
        .withColumn("neg_cnt", -F.col("cnt"))
    )
    ranked = grouped_rank(c, ["__grp"], ["neg_cnt", "token"], out_col="rk")
    # r18: the corpus token total is the grand sum global_prefix_sum
    # already collects (exact Python-int sum of the same longs) — the
    # old separate c.agg(SUM(cnt)) re-ran the tokenize+groupBy subtree
    # for one scalar, plus a 1-row broadcast join to attach it
    totals: dict = {}
    cum = global_prefix_sum(ranked, "cnt", ["rk"], out_col="cum", totals=totals)
    total = totals["total"]
    return (
        cum.where(F.col("rk").isin(*_COVERAGE_KS))
        .select(
            F.col("rk").alias("top_k"),
            F.col("cum").alias("tokens_covered"),
            F.expr(
                "CAST(CAST(cum AS DECIMAL(38,0)) * 1000000"
                f" div CAST({total} AS BIGINT) AS BIGINT)"
            ).alias("coverage_ppm"),
        )
        .orderBy("top_k")
    )
