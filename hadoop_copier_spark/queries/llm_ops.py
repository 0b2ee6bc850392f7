"""LLM-data-pipeline operators (SURVEY §2b Q56-Q60 + P-class extensions).

These are the north-star additions: deduplication, text analysis, and
similarity search over the documents/embeddings tables — the operations a
large-scale training-data pipeline runs at 100 TB.
"""

from __future__ import annotations

from .base import F, dec, tbl
from .registry import register
from ..operators.similarity import cosine_topk, lsh_ann_topk


@register(
    "q56",
    oracle="""SELECT md5(text) AS text_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
              FROM documents GROUP BY 1 ORDER BY 1""",
    tags=("llm", "dedup"),
)
def q56(spark, sf_dir):
    """Exact dedup: hash-groupBy on md5(text), keep the lowest doc_id.
    One shuffle on the 128-bit hash — uniform by construction, no skew;
    this is the canonical 100 TB exact-dedup plan."""
    d = tbl(spark, sf_dir, "documents")
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("text_hash")
    )


@register(
    "q57",
    oracle="""SELECT token, COUNT(*) AS n
              FROM (SELECT unnest(string_split_regex(lower(text), '\\s+')) AS token FROM documents)
              WHERE token <> ''
              GROUP BY token
              ORDER BY n DESC, token
              LIMIT 200""",
    tags=("llm", "text"),
)
def q57(spark, sf_dir):
    """Word count: tokenize (lower, split on whitespace) -> explode ->
    count -> top-200. Partial aggregation collapses each partition to its
    distinct tokens before the shuffle. Documents repartition first: the
    tokenize+explode+partial-agg stage otherwise runs on however many
    partitions the scan produced — one, for a small fixture file (SCALE.md
    principle 7b)."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = tbl(spark, sf_dir, "documents").repartition(n, "doc_id")
    return (
        d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("token"))
        .limit(200)
    )


@register(
    "q58",
    oracle="""SELECT bigram, COUNT(*) AS n FROM (
                SELECT unnest(CASE WHEN len(parts) < 2 THEN []
                              ELSE list_transform(generate_series(1, len(parts)-1),
                                                  i -> parts[i] || ' ' || parts[i+1]) END) AS bigram
                FROM (SELECT string_split(lower(text), ' ') AS parts FROM documents))
              GROUP BY bigram
              ORDER BY n DESC, bigram
              LIMIT 100""",
    tags=("llm", "text", "ngram"),
)
def q58(spark, sf_dir):
    """Word-bigram counts via higher-order functions (no Python in the
    loop): transform over token indices -> explode -> count -> top-100.
    Repartitioned ahead of the shingle stage (SCALE.md principle 7b)."""
    # materialize tokens as a column: an inline split() referenced inside
    # the lambda is re-evaluated per element_at (measured 10x slowdown)
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = (
        tbl(spark, sf_dir, "documents")
        .repartition(n, "doc_id")
        .withColumn("__toks", F.split(F.lower("text"), " "))
    )
    toks = F.col("__toks")
    bigrams = F.when(F.size(toks) < 2, F.array()).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat_ws(" ", F.element_at(toks, i), F.element_at(toks, i + 1)),
        )
    )
    return (
        d.select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("bigram"))
        .limit(100)
    )


# mirror of operators/similarity.py UNIT quantization: exact 1e-6 integer
# units per element, exact BIGINT dot sums, then one IEEE op sequence.
_OU = "CAST(FLOOR(CAST({x} AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
_Q59_ORACLE = f"""
WITH e AS (
  SELECT vec_id, embedding,
         (SELECT CAST(SUM({_OU.format(x='t.x')} * {_OU.format(x='t.x')}) AS BIGINT)
          FROM unnest(embedding) AS t(x)) AS norm2
  FROM embeddings
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         CAST((SELECT CAST(SUM({_OU.format(x='p.l1')} * {_OU.format(x='p.l2')}) AS BIGINT)
               FROM (SELECT unnest(list_zip(q.embedding, c.embedding), recursive := true)) AS p(l1, l2))
              AS DOUBLE)
         / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE)) AS cos
  FROM e q JOIN e c ON c.vec_id <> q.vec_id
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         cos AS score
  FROM pairs
)
SELECT query_id, neighbor_id, rank, score FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
"""


@register("q59", oracle=_Q59_ORACLE, tags=("llm", "similarity"))
def q59(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors (vec_id < 10) over all
    embeddings, via the engine's cosine_topk operator: exact integer-unit
    dot products (order-independent) + IEEE cosine, queries broadcast, one
    window for top-k. The LSH variant (p_ann_lsh) is the scale path."""
    e = tbl(spark, sf_dir, "embeddings")
    return (
        cosine_topk(e, e.filter(F.col("vec_id") < 10), k=5)
        .orderBy("query_id", "rank")
    )


@register(
    "q60",
    oracle=f"""SELECT lang, source,
                     COUNT(*) AS n_docs,
                     CAST(SUM(n_chars) AS BIGINT) AS total_chars,
                     CAST(SUM(n_chars) AS DOUBLE) / COUNT(n_chars) AS avg_chars,
                     COUNT(DISTINCT doc_id) AS nd_docs
              FROM documents GROUP BY lang, source
              ORDER BY lang, source""",
    tags=("llm", "profile"),
)
def q60(spark, sf_dir):
    """Language/source corpus profile (multi-dim text stats). avg is an
    exact integer sum -> one IEEE division, emitted as DOUBLE. The bare
    integer sum carries an explicit BIGINT cast on the oracle side:
    DuckDB SUM(BIGINT) returns HUGEINT, which pandas converts to float64
    ('148' vs '148.0' serializer mismatch)."""
    d = tbl(spark, sf_dir, "documents")
    return (
        d.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            (F.sum("n_chars").cast("double") / F.count("n_chars")).alias("avg_chars"),
            F.countDistinct("doc_id").alias("nd_docs"),
        )
        .orderBy("lang", "source")
    )


@register("xp_ann_lsh", oracle=None, tags=("llm", "similarity", "approx"))
def p_ann_lsh(spark, sf_dir):
    """P-class: sign-LSH approximate nearest neighbors (the 100 TB
    similarity path — same-bucket pairs only). Property-checked against
    brute force recall in tests/test_llm_ops.py."""
    e = tbl(spark, sf_dir, "embeddings")
    return (
        lsh_ann_topk(e, e.filter(F.col("vec_id") < 10), k=5)
        .orderBy("query_id", "rank")
    )


@register("xp_ann_pq", oracle=None, tags=("llm", "similarity", "approx"))
def p_ann_pq(spark, sf_dir):
    """P-class: product-quantization approximate nearest neighbors
    (round 13) — the compression scale path for similarity search: each
    candidate collapses to 8 one-byte codes (32x memory cut on 64-dim
    float32) and queries score via m-lookup asymmetric distance instead
    of a dim-wide scan. Completes the ANN triad (brute q59 baseline,
    LSH bucket pruning, IVF cluster pruning; at 100 TB IVF-PQ composes
    the last two). Planted-duplicate rank-1 recall, code-range/
    determinism and brute-force recall are property-checked in
    tests/test_llm_ops.py."""
    from ..operators.similarity import pq_ann_topk

    e = tbl(spark, sf_dir, "embeddings")
    return pq_ann_topk(e, e.filter(F.col("vec_id") < 10), k=5).orderBy(
        "query_id", "rank"
    )


@register("xp_ann_ivfpq", oracle=None, tags=("llm", "similarity", "approx"))
def p_ann_ivfpq(spark, sf_dir):
    """P-class: IVF-PQ approximate nearest neighbors (round 13) — the
    production composition of the pruning and compression scale levers:
    probe the n_probe nearest coarse clusters, ADC-score only their
    members from 8-byte PQ codes. The layout a 100 TB vector corpus
    ships (cluster = partition key, codes = row payload). Planted-dup
    rank-1 recall, determinism and brute-force recall property-checked
    in tests/test_llm_ops.py."""
    from ..operators.similarity import ivfpq_ann_topk

    e = tbl(spark, sf_dir, "embeddings")
    return ivfpq_ann_topk(e, e.filter(F.col("vec_id") < 10), k=5).orderBy(
        "query_id", "rank"
    )


@register(
    "xh_token_stats",
    oracle="""SELECT doc_id,
                     len(string_split_regex(lower(text), '\\s+')) AS ws_tokens,
                     length(text) AS chars,
                     length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS punct_chars
              FROM documents ORDER BY doc_id""",
    tags=("llm", "text"),
)
def h_token_stats(spark, sf_dir):
    """Token/char/punctuation counting (text-analysis primitives with an
    exact SQL oracle)."""
    from ..functions.text import whitespace_token_count

    d = tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        whitespace_token_count(F.col("text")).alias("ws_tokens"),
        F.length("text").alias("chars"),
        F.length(F.regexp_replace("text", "[a-zA-Z0-9 ]", "")).alias("punct_chars"),
    ).orderBy("doc_id")


@register("xp_minhash_neardup", oracle=None, tags=("llm", "dedup", "minhash"))
def p_minhash_neardup(spark, sf_dir):
    """P-class: MinHash+LSH near-duplicate pairs (Jaccard >= 0.7 verified
    exactly on shingle sets). Property test: recall ⊇ planted exact dups."""
    from ..operators.dedup import near_dup_pairs

    d = tbl(spark, sf_dir, "documents")
    return near_dup_pairs(d, "doc_id", "text", threshold=0.7).orderBy("id_a", "id_b")


@register("xp_simhash", oracle=None, tags=("llm", "dedup", "simhash"))
def p_simhash(spark, sf_dir):
    """P-class: 64-bit SimHash per document — JVM xxhash64 token hashes
    (seed 42, cross-run/cross-version stable since round 11; the round-10
    pandas-hash implementation and earlier FNV-1a one produced different
    values), vectorized majority bit vote. Exact duplicates share a
    hash; golden values pinned in tests/test_llm_ops.py."""
    from ..operators.dedup import simhash64

    d = tbl(spark, sf_dir, "documents")
    return simhash64(d, "doc_id", "text").orderBy("doc_id")


@register("xp_text_analysis", oracle=None, tags=("llm", "text"))
def p_text_analysis(spark, sf_dir):
    """P-class: language-ID guess, quality score, BPE-ish token count and
    rolling fingerprint — all pure Column expressions (JVM-side)."""
    from ..functions.text import (
        bpe_ish_token_count,
        doc_fingerprint,
        lang_id_guess,
        quality_score,
    )

    d = tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        "lang",
        lang_id_guess(F.col("text")).alias("lang_guess"),
        quality_score(F.col("text")).alias("quality"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
        doc_fingerprint(F.col("text")).alias("fingerprint"),
    ).orderBy("doc_id")


@register("xp_tfidf", oracle=None, tags=("llm", "text", "tfidf"))
def p_tfidf(spark, sf_dir):
    """P-class: SQL-built TF-IDF, top-3 terms per document (sampled docs).
    tf = in-doc count, idf = ln((N+1)/(df+1)) + 1; one shuffle for the
    (doc,token) counts, token df joined back. The idf join is token-keyed
    and UNHINTED: the vocabulary grows Heaps-law with the corpus (the
    repo's own xh_vocab_growth measures it), so a forced broadcast of the
    full-vocab frame cannot survive 100 TB — AQE picks broadcast when the
    actual size is small (r12 verdict item)."""
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    n_docs = d.count()  # scalar metadata, not a data-path collect
    tokens = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    tf = tokens.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tokens.groupBy("token").agg(F.countDistinct("doc_id").alias("df"))
    idf = df_.withColumn(
        "idf", F.log((F.lit(float(n_docs + 1))) / (F.col("df") + 1)) + 1.0
    )
    scored = (
        tf.join(idf, "token")  # token-keyed, unhinted: AQE decides
        .withColumn("tfidf", F.col("tf") * F.col("idf"))
        .filter(F.col("doc_id") % 20 == 0)
    )
    w = W.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("token"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", "token", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


PLANT_OFFSET = 1_000_000  # planted near-dup ids = original vec_id + offset
N_PLANTED = 8


def _with_planted_neardups(e):
    """Append deterministic near-duplicate copies of the first N_PLANTED
    embeddings (each element scaled by 1.001 — cosine-invariant up to float
    rounding, so every planted pair scores ~1.0). Random embeddings in
    64-dim are near-orthogonal, so without planting a cos>=0.9 check finds
    nothing and a broken operator is indistinguishable from a working one
    (round-1 driver run returned 0 rows); the planted pairs make the check
    self-validating — tests assert every planted pair is recovered."""
    planted = e.filter(F.col("vec_id") < N_PLANTED).select(
        (F.col("vec_id") + F.lit(PLANT_OFFSET)).alias("vec_id"),
        F.transform("embedding", lambda x: (x.cast("double") * F.lit(1.001)).cast("float"))
        .alias("embedding"),
    )
    return e.select("vec_id", "embedding").unionByName(planted)


@register("xp_embedding_neardup", oracle=None, tags=("llm", "similarity", "dedup"))
def p_embedding_neardup(spark, sf_dir):
    """P-class: embedding-cosine near-duplicate pairs (cos >= 0.9) over a
    bounded sample with planted near-dups (self-validating: result always
    contains the N_PLANTED planted pairs, asserted in tests/test_llm_ops.py)
    — brute force; the LSH-bucketed variant (p_ann_lsh) is the 100 TB
    path."""
    from ..operators.similarity import int_dot, int_norm2

    e = _with_planted_neardups(
        tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    )
    a = e.select(F.col("vec_id").alias("id_a"), F.col("embedding").alias("va"),
                 int_norm2(F.col("embedding")).alias("na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("embedding").alias("vb"),
                 int_norm2(F.col("embedding")).alias("nb"))
    cos = int_dot(F.col("va"), F.col("vb")).cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb").cast("double")
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cos"))
        .filter(F.col("cos") >= 0.9)
        .orderBy("id_a", "id_b")
    )


@register(
    "xh_ngram_jaccard",
    oracle="""WITH t AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
                        FROM documents),
              p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.toks AS ta, b.toks AS tb
                    FROM t a JOIN t b ON b.doc_id = a.doc_id + 1 AND a.doc_id % 2 = 0)
              SELECT id_a, id_b,
                     CAST(len(list_intersect(ta, tb)) AS DOUBLE)
                          / (len(ta) + len(tb) - len(list_intersect(ta, tb))) AS jaccard
              FROM p ORDER BY id_a""",
    tags=("llm", "dedup", "jaccard"),
)
def h_ngram_jaccard(spark, sf_dir):
    """Exact token-set Jaccard similarity for consecutive doc pairs (the
    verification primitive under MinHash; |A∩B| / |A∪B| as one division of
    exact ints — one IEEE division, bit-stable, emitted as raw DOUBLE).
    Spark array_intersect <-> DuckDB list_intersect."""
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("toks")
    )
    a = d.alias("a")
    b = d.alias("b")
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    return (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id") + 1) & (F.col("a.doc_id") % 2 == 0),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            (inter.cast("double") / union).alias("jaccard"),
        )
        .orderBy("id_a")
    )


@register(
    "xh_dedup_clusters",
    oracle="""WITH RECURSIVE
              t AS MATERIALIZED (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
                    FROM documents),
              p AS MATERIALIZED (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                    FROM t a JOIN t b ON b.doc_id IN (a.doc_id + 1, a.doc_id + 2)
                    WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                          / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)))
                          >= 0.7),
              edges AS MATERIALIZED (SELECT id_a AS u, id_b AS v FROM p
                        UNION SELECT id_b, id_a FROM p),
              reach(u, v) AS (
                SELECT doc_id, doc_id FROM t
                UNION
                SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
              )
              SELECT u AS doc_id, MIN(v) AS cluster_id
              FROM reach GROUP BY u ORDER BY doc_id""",
    tags=("llm", "dedup", "components"),
)
def h_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: pairs (token-Jaccard >= 0.7 over a deterministic
    +-1/+-2 doc-id candidate window) form a graph; every doc gets the MIN
    doc_id of its connected component as cluster_id — the canonical-doc
    assignment step that follows LSH verification in a dedup pipeline.

    Spark side: distributed Hash-Min + pointer-jumping label propagation
    (operators/components.py, O(log diameter) rounds). Oracle: DuckDB
    recursive CTE computing min-reachable over the same edge set. The
    candidate window is expressed as an explode(offsets) equi-join so the
    pair scan stays a hash join (no BNLJ from an OR-of-equalities)."""
    from ..operators.components import dedup_clusters
    from ..operators.dedup import window_jaccard_pairs

    d = tbl(spark, sf_dir, "documents")
    pairs = window_jaccard_pairs(d, "doc_id", "text", offsets=(1, 2), threshold=0.7)
    return dedup_clusters(pairs, nodes=d.select("doc_id")).orderBy("doc_id")


@register("xp_semdedup", oracle=None, tags=("llm", "similarity", "dedup"))
def p_semdedup(spark, sf_dir):
    """P-class: SemDeDup-style semantic deduplication (round 11) —
    coarse k-means over the embeddings, drop vectors with a lower-id
    in-cluster neighbor at cosine >= 0.95. Run with planted near-dups so
    the check is self-validating (tests assert every planted copy is
    dropped, every original kept, and the kept set has no in-cluster
    pair above the threshold). The in-cluster equi self-join is the
    SemDeDup scale shape: quadratic only within a cluster, never across
    (operators/similarity.py:semantic_dedup)."""
    from ..operators.similarity import semantic_dedup

    e = _with_planted_neardups(
        tbl(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    )
    return semantic_dedup(e, "vec_id", "embedding", threshold=0.95).orderBy(
        "vec_id"
    )


@register("xp_ann_ivf", oracle=None, tags=("llm", "similarity", "approx"))
def p_ann_ivf(spark, sf_dir):
    """P-class: IVF approximate nearest neighbors — the second scale path
    for similarity search (coarse k-means quantizer + probed clusters).
    Property-checked against brute force in tests/test_llm_ops.py."""
    from ..operators.similarity import ivf_ann_topk

    e = tbl(spark, sf_dir, "embeddings")
    return ivf_ann_topk(e, e.filter(F.col("vec_id") < 10), k=5).orderBy("query_id", "rank")


_STAGE_NAME = "training_pipeline_stage"


def curation_stage_table(wipe: bool = False) -> str:
    """Table dir where xp_training_pipeline stages its exact-dedup
    barrier as a snapshot version — the SINGLE source of that path
    (ADVICE r11: the pipeline used to rebuild it and assert agreement).
    ``wipe=True`` routes through base.scratch_dir, clearing the parent so
    every pipeline run commits a fresh v1; the default resolves the same
    location read-only so tests and restart tooling can read_snapshot the
    intermediate corpus AFTER the run without destroying it."""
    import os
    import tempfile

    if wipe:
        from .base import scratch_dir

        return os.path.join(scratch_dir(_STAGE_NAME), "exact_dedup")
    return os.path.join(
        tempfile.gettempdir(), f"hcs_scratch_{os.getpid()}",
        _STAGE_NAME, "exact_dedup",
    )


@register("xp_training_pipeline", oracle=None, tags=("llm", "pipeline"))
def xp_training_pipeline(spark, sf_dir):
    """P-class: the full training-data curation pipeline, composed from the
    engine's own operators in the order a 100 TB corpus run executes them:

      1. language filter     (lang-ID heuristic, JVM expressions)
      2. quality threshold   (length/punct/stopword composite score)
      3. exact dedup         (md5 hash-groupBy, keep lowest doc_id)
      4. near-dup removal    (Jaccard pairs -> connected components ->
                              keep each cluster's minimum-id representative)
      5. stratified sample   (seeded per-language rates)
      6. corpus stats        (docs/tokens per language, deterministic)

    Every stage is one of the registered primitives (q56, xp_minhash /
    window-Jaccard, xh_dedup_clusters, xp_stratified_sample, q60), so the
    shuffle budget is the sum of theirs: md5 groupBy (uniform), pair join
    (equi, exploded offsets), O(log d) CC rounds, one final agg. The
    driver check is rows-only; tests assert determinism and that each
    stage only ever removes rows."""
    from ..functions.text import lang_id_guess, quality_score, whitespace_token_count
    from ..operators.components import dedup_clusters
    from ..operators.dedup import window_jaccard_pairs
    from ..operators.snapshots import read_snapshot, write_snapshot

    d = tbl(spark, sf_dir, "documents").select("doc_id", "lang", "text")

    # 1-2: language + quality gates (pure Column exprs, pushdown-friendly)
    gated = d.filter(
        lang_id_guess(F.col("text")).isin("en", "de", "es", "fr")
        & (quality_score(F.col("text")) >= 0.35)
    )

    # 3: exact dedup — keep the lowest doc_id per md5(text)
    keep_exact = gated.groupBy(F.md5("text").alias("__h")).agg(
        F.min("doc_id").alias("doc_id")
    )
    # The deduped corpus feeds four consumers (both sides of the candidate
    # join, the CC node set, and the final representative join), and the CC
    # loop underneath is iterative — without a materialization barrier the
    # gate+dedup subtree re-executes per consumer. VERDICT r10 #3: stage
    # it through the snapshot layer (a versioned table, not a
    # localCheckpoint) — same barrier, but the intermediate corpus is now
    # restartable and time-travelable mid-pipeline: a failed downstream
    # stage resumes by read_snapshot of the committed version instead of
    # re-running gate+dedup, exactly how a 100 TB run stages it.
    # wipe=True clears the table on each invocation (fresh v1 every run,
    # no version accumulation across repeated runs)
    stage = curation_stage_table(wipe=True)
    write_snapshot(
        gated.join(keep_exact.select("doc_id"), "doc_id"),
        stage,
        meta={"stage": "exact_dedup", "sf_dir": sf_dir},
    )
    exact = read_snapshot(spark, stage)

    # 4: near-dup removal — deterministic candidate window, Jaccard >= 0.7,
    # connected components, keep each cluster's min-id representative
    pairs = window_jaccard_pairs(exact, "doc_id", "text", offsets=(1, 2), threshold=0.7)
    clusters = dedup_clusters(pairs, nodes=exact.select("doc_id"))
    reps = clusters.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    curated = exact.join(reps, "doc_id")

    # 5: stratified sample keyed on each row's own doc_id hash, so the kept
    # rows never depend on partition layout (sampleBy's per-partition RNG
    # does); languages without a fraction are dropped, as in sampleBy
    fractions = {"en": 0.8, "de": 0.8, "es": 0.5, "fr": 0.5}
    rate = F.coalesce(
        *[F.when(F.col("lang") == k, F.lit(v)) for k, v in fractions.items()], F.lit(0.0)
    )
    bucket = F.pmod(F.xxhash64("doc_id", F.lit(7)), F.lit(1 << 20))
    sampled = curated.filter(bucket < rate * (1 << 20))

    # 6: per-language corpus stats
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(whitespace_token_count(F.col("text"))).alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
        )
        .orderBy("lang")
    )


@register(
    "xh_embed_quantize",
    oracle="""WITH m AS (
  SELECT vec_id, embedding,
         list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS maxabs
  FROM embeddings),
q AS (
  SELECT vec_id, maxabs,
         list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS BIGINT)) AS qv
  FROM m WHERE maxabs > 0)
SELECT vec_id, len(qv) AS n_dims,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
       maxabs / 127.0 AS scale
FROM q ORDER BY vec_id""",
    tags=("llm", "embedding", "quantize"),
)
def xh_embed_quantize(spark, sf_dir):
    """Symmetric int8 embedding quantization — the memory-compression
    step a vector store applies before ANN serving (4x smaller than
    float32, dot products in integer SIMD). Per vector: scale =
    max|x|/127, q_i = round(x_i/scale) — every op is a mirrored IEEE
    tree (float->double casts are exact, one multiply/divide/floor per
    element), so the quantized integers hash-match DuckDB exactly, and
    the emitted per-vector profile (range, sum, L1 mass, scale) is what
    a quantization-quality monitor tracks. Map-only over the embeddings
    scan (the array is materialized before its lambda consumers — the
    CSE pitfall in SCALE.md); only the output sort shuffles."""
    e = tbl(spark, sf_dir, "embeddings")
    m = e.withColumn(
        "maxabs",
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
    ).filter(F.col("maxabs") > 0)
    q = m.withColumn(
        "qv",
        F.transform(
            "embedding",
            lambda x: F.floor(
                x.cast("double") * F.lit(127.0) / F.col("maxabs") + F.lit(0.5)
            ).cast("long"),
        ),
    )
    zero = F.lit(0).cast("long")
    return (
        q.select(
            "vec_id",
            F.size("qv").alias("n_dims"),
            F.array_min("qv").cast("long").alias("q_min"),
            F.array_max("qv").cast("long").alias("q_max"),
            F.aggregate("qv", zero, lambda a, v: a + v).alias("q_sum"),
            F.aggregate("qv", zero, lambda a, v: a + F.abs(v)).alias("q_l1"),
            (F.col("maxabs") / F.lit(127.0)).alias("scale"),
        )
        .orderBy("vec_id")
    )


@register("xp_cdc_chunking", oracle=None, tags=("llm", "dedup", "chunking"))
def p_cdc_chunking(spark, sf_dir):
    """P-class: content-defined chunking (round 11) — rolling-hash chunk
    boundaries (LBFS/rsync family) + cross-document duplicated-chunk
    report. Fixed-stride chunk dedup (xh_chunk_dedup) misses duplicates
    that are shifted by an insertion; CDC boundaries depend only on
    local content, so shifted copies re-synchronize after O(1) chunks
    (tests/test_chunking.py pins CDC overlap >= 0.9 after a prefix
    insertion where stride overlap is ~0).

    Emits (chunk_hash, chunk_len, occ, n_docs) for every chunk appearing
    in >= 2 distinct documents — the shared-substring dup report.

    Scale shape: chunking is a pure map (mapInPandas, vectorized rolling
    hash over each Arrow batch's concatenated bytes; bytes never leave
    their executor, zero shuffle); the report is ONE groupBy on the
    chunk hash — md5 keys, uniform by construction; the final global
    order is driver-bound only by the duplicated subset."""
    from ..operators.chunking import cdc_chunks

    d = tbl(spark, sf_dir, "documents")
    ch = cdc_chunks(d, "text", "doc_id")
    return (
        ch.groupBy("chunk_hash")
        .agg(
            F.max("chunk_len").cast("long").alias("chunk_len"),
            F.count(F.lit(1)).cast("long").alias("occ"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy(F.col("n_docs").desc(), F.col("occ").desc(), "chunk_hash")
    )


@register("xp_pagerank", oracle=None, tags=("graph", "quality", "iterative"))
def p_pagerank(spark, sf_dir):
    """P-class: PageRank centrality (round 11) — the crawl-graph quality
    prior (Common Crawl-style: rank domains/pages by link centrality,
    filter the corpus by it). The fixture stand-in graph is the
    customer<->supplier bipartite graph implied by orders x lineitem
    (both directions, distinct edges; customers offset to their own id
    space), damping 0.85. Emits the top-50 nodes by rank — global top-k
    plans as TakeOrderedAndProject, never a global sort.

    Iterative scale shape (operators/pagerank.py): edges normalized to
    (src, dst, 1/outdeg) ONCE and localCheckpoint'ed; each round is one
    equi join + one map-side-partial sum exchange; dangling mass rides a
    1-row broadcast (the heavy-hitters global-scalar shape, allowlisted
    in tests/test_plans.py); the driver sees only the per-round L1
    convergence probe. Golden-checked against a numpy power iteration in
    tests/test_pagerank.py."""
    from ..operators.pagerank import pagerank

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    pairs = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") + F.lit(1_000_000_000)).alias("cust_node"),
        F.col("l_suppkey").alias("supp_node"),
    )
    edges = pairs.select(
        F.col("cust_node").alias("src"), F.col("supp_node").alias("dst")
    ).union(
        pairs.select(F.col("supp_node").alias("src"), F.col("cust_node").alias("dst"))
    )
    # fixed 8-round compute budget, tol=0 => no per-round probe: all
    # rounds fuse lazily into this query's single action (the top of the
    # ranking settles in the first few rounds); a production quality-prior
    # run would set tol > 0 and iterate to convergence
    # (~log(tol)/log(damping) rounds, graph-size-free)
    return (
        pagerank(edges, damping=0.85, max_iter=8, tol=0.0)
        .orderBy(F.col("rank").desc(), "node")
        .limit(50)
    )


# --- quantized PageRank (round 12; VERDICT r11 #5) ---------------------
_PRQ_ROUNDS = 8
_PRQ_TOTAL = 10**12


def _pagerank_quantized_oracle() -> str:
    """Unrolled chained-CTE mirror of operators/pagerank.pagerank_quantized:
    one (r{i}, d{i}) CTE pair per round, every op BIGINT add / multiply /
    floor-div on non-negatives, so the sums are order-free and the ranks
    hash-match bit-for-bit (no recursive CTE needed — the round budget is
    a fixed constant shared by both spellings)."""
    edges = (
        "SELECT DISTINCT o_custkey + 1000000000 AS src, l_suppkey AS dst "
        "FROM orders JOIN lineitem ON o_orderkey = l_orderkey"
    )
    parts = [
        f"WITH edges AS MATERIALIZED ({edges})",
        "vert AS MATERIALIZED (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "meta AS MATERIALIZED (SELECT count(*) AS n FROM vert)",
        "deg AS MATERIALIZED (SELECT src, count(*) AS outdeg FROM edges GROUP BY src)",
        f"r0 AS MATERIALIZED (SELECT node, (SELECT {_PRQ_TOTAL} // n FROM meta) AS units FROM vert)",
    ]
    for i in range(1, _PRQ_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"d{i} AS MATERIALIZED (SELECT CAST(COALESCE(SUM(r.units), 0) AS BIGINT) AS dmass "
            f"FROM r{p} r LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL)"
        )
        parts.append(
            f"r{i} AS MATERIALIZED (SELECT v.node, CAST(("
            f"3 * (SELECT {_PRQ_TOTAL} // n FROM meta) "
            f"+ 17 * (COALESCE(c.contrib, 0) + (SELECT dmass FROM d{i}) // (SELECT n FROM meta))"
            f") // 20 AS BIGINT) AS units "
            f"FROM vert v LEFT JOIN ("
            f"SELECT e.dst AS node, CAST(SUM(r.units // d.outdeg) AS BIGINT) AS contrib "
            f"FROM edges e JOIN deg d ON e.src = d.src JOIN r{p} r ON r.node = e.src "
            f"GROUP BY e.dst) c ON c.node = v.node)"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT node, CAST(units AS BIGINT) AS rank_units FROM r{_PRQ_ROUNDS} ORDER BY node"
    )


@register(
    "xh_pagerank_quantized",
    oracle=_pagerank_quantized_oracle(),
    tags=("graph", "quality", "iterative"),
)
def xh_pagerank_quantized(spark, sf_dir):
    """Hash-checked twin of xp_pagerank (VERDICT r11 #5: the float
    variant is rows-only because IEEE contribution sums are
    order-dependent). The recurrence is quantized to BIGINT micro-units
    BEFORE iteration — damping as the exact rational 17/20, per-edge
    contributions floor-divided, dangling mass floor-shared — so every
    per-destination sum is an exact integer in any summation order and
    the 8-round fixed-budget ranks match DuckDB's unrolled-CTE replay
    bit-for-bit (operators/pagerank.pagerank_quantized).

    The stand-in crawl graph is DIRECTED customer->supplier (orders x
    lineitem; customers offset into their own id space), which makes
    every supplier a dangling node — the dangling-mass path is exercised
    on every round, not just on edge cases.

    Iterative scale shape (same as xp_pagerank): links normalized once
    and localCheckpoint'ed, per round ONE equi join + one
    partial-agg exchange, dangling mass via a 1-row broadcast; rounds
    fuse lazily and ONE eager checkpoint materializes the chain."""
    from ..operators.pagerank import pagerank_quantized

    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = o.join(li, o.o_orderkey == li.l_orderkey).select(
        (F.col("o_custkey") + F.lit(1_000_000_000)).alias("src"),
        F.col("l_suppkey").alias("dst"),
    )
    return (
        pagerank_quantized(edges, rounds=_PRQ_ROUNDS, total_units=_PRQ_TOTAL)
        .orderBy("node")
    )


@register("xp_compression_ratio", oracle=None, tags=("llm", "quality", "text"))
def p_compression_ratio(spark, sf_dir):
    """P-class: deflate compression ratio per document (round 12) — the
    Gopher/MassiveText-family repetitiveness signal: boilerplate and
    looped text compress far better than natural prose, so a LOW ratio
    flags low-quality documents. Emits (doc_id, raw_len, comp_len,
    ratio_ppm = comp*1e6 div raw) for every non-empty document.

    Rows-only by design: the byte-exact deflate stream is a zlib
    implementation detail, not SQL-expressible — determinism within one
    environment is pinned in tests (two runs identical; repetitive text
    scores far below prose), the cross-engine hash is not claimed.

    Scale shape: a PURE MAP — ``mapInPandas`` with the compressor inside
    the executor (bytes never move), level fixed so the signal is stable;
    only the output ORDER BY shuffles."""
    import zlib

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids, texts = pdf["doc_id"].values, pdf["text"].values
            out = {"doc_id": [], "raw_len": [], "comp_len": [], "ratio_ppm": []}
            for did, t in zip(ids, texts):
                if not isinstance(t, str) or not t:
                    continue  # degrade, never fail (null-injection rule)
                raw = t.encode("utf-8")
                comp = zlib.compress(raw, 6)
                out["doc_id"].append(did)
                out["raw_len"].append(len(raw))
                out["comp_len"].append(len(comp))
                out["ratio_ppm"].append(len(comp) * 1_000_000 // len(raw))
            yield pd.DataFrame(
                {k: pd.Series(v, dtype="object") for k, v in out.items()}
            )

    d = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(
        gen, "doc_id long, raw_len long, comp_len long, ratio_ppm long"
    ).orderBy("doc_id")


# --- quantized PCA power iteration (round 12) --------------------------
_PCA_ROUNDS = 3
_PCA_UNIT = 1_000_000


def _pca_power_oracle() -> str:
    """Unrolled chained-CTE mirror of xh_pca_power: per round one
    doc-space matvec (exact integer sum), a div-rescale, one dim-space
    matvec in HUGEINT, and a max-|w| renormalization. Integer division is
    TRUNC-toward-zero in BOTH engines (probed: -7//2 == -7 div 2 == -3),
    so the signed rescales mirror with no CASE gymnastics."""
    parts = [
        f"""WITH eu AS MATERIALIZED (
  SELECT vec_id, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {_PCA_UNIT} + 0.5) AS BIGINT) AS eu
  FROM (SELECT vec_id, embedding, unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings WHERE embedding IS NOT NULL))""",
        f"v0 AS MATERIALIZED (SELECT DISTINCT dim, {_PCA_UNIT}::BIGINT AS vu FROM eu)",
    ]
    for i in range(1, _PCA_ROUNDS + 1):
        p = i - 1
        parts.append(
            f"s{i} AS MATERIALIZED (SELECT e.vec_id, SUM(e.eu * v.vu) // {_PCA_UNIT} AS s "
            f"FROM eu e JOIN v{p} v USING (dim) GROUP BY e.vec_id)"
        )
        parts.append(
            f"w{i} AS MATERIALIZED (SELECT e.dim, SUM(e.eu::HUGEINT * s.s::HUGEINT) AS w "
            f"FROM eu e JOIN s{i} s USING (vec_id) GROUP BY e.dim)"
        )
        parts.append(
            f"m{i} AS MATERIALIZED (SELECT greatest(max(abs(w)), 1) AS m FROM w{i})"
        )
        parts.append(
            f"v{i} AS MATERIALIZED (SELECT dim, CAST((w * {_PCA_UNIT}) // (SELECT m FROM m{i}) AS BIGINT) AS vu "
            f"FROM w{i})"
        )
    return (
        ",\n".join(parts)
        + f"\nSELECT dim, vu AS v_units FROM v{_PCA_ROUNDS} ORDER BY dim"
    )


@register(
    "xh_pca_power",
    oracle=_pca_power_oracle(),
    tags=("llm", "embedding", "spectral", "iterative"),
)
def xh_pca_power(spark, sf_dir):
    """Top principal direction of the embedding Gram matrix by QUANTIZED
    power iteration — the spectral signal embedding analytics pipelines
    use for whitening, anisotropy diagnosis, and dominant-topic removal.
    Like xh_pagerank_quantized, the float recurrence is re-defined over
    exact integers so the per-dimension sums are order-free and the
    result hash-matches a DuckDB unrolled-CTE replay bit-for-bit:

        eu[i,j]  = floor(x_ij * 1e6 + 0.5)            (exact quantize)
        s[i]     = (sum_j eu[i,j] * v[j]) div 1e6     (doc-space matvec)
        w[j]     = sum_i eu[i,j] * s[i]               (dim-space matvec)
        v'[j]    = (w[j] * 1e6) div max(|w|, 1)       (renormalize)

    started from all-ones, 3 rounds. Integer division truncates toward
    zero IDENTICALLY in Spark (`div`) and DuckDB (`//`) — probed, so the
    signed rescales mirror exactly. The second matvec runs in
    DECIMAL(38,0)/HUGEINT: |w| <= N * 1e6 * 64e6 overflows BIGINT near
    N~10^5 docs, and 128-bit headroom carries it to corpus scale.

    Scale shape: the embedding matrix explodes ONCE to (vec_id, dim,
    unit) and is localCheckpoint'ed (reused 2x per round — NOT released
    here: the returned frame is lazy and still reads those blocks; the
    executor storage is freed with the session, the
    CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND race pagerank.py documents); per
    round one broadcast join on the 64-row v (doc-space matvec = one
    uniform vec_id partial agg) + one equi join on vec_id (dim-space
    matvec = one 64-row partial agg) + a 1-row max broadcast. Nothing
    vocabulary- or corpus-sized ever reaches the driver."""
    e = tbl(spark, sf_dir, "embeddings").filter(F.col("embedding").isNotNull())
    eu = (
        e.select("vec_id", F.posexplode("embedding").alias("dim", "x"))
        .select(
            "vec_id",
            "dim",
            F.floor(F.col("x").cast("double") * F.lit(float(_PCA_UNIT)) + F.lit(0.5))
            .cast("long")
            .alias("eu"),
        )
        .localCheckpoint()
    )
    v = eu.select("dim").distinct().select(
        "dim", F.lit(_PCA_UNIT).cast("long").alias("vu")
    )
    for _ in range(_PCA_ROUNDS):
        s = (
            eu.join(F.broadcast(v), "dim")
            .groupBy("vec_id")
            .agg(F.expr(f"sum(eu * vu) div {_PCA_UNIT}").alias("s"))
        )
        w = (
            eu.join(s, "vec_id")
            .groupBy("dim")
            .agg(
                F.sum(
                    F.col("eu").cast("decimal(38,0)") * F.col("s").cast("decimal(38,0)")
                ).alias("w")
            )
        )
        m = w.agg(
            F.greatest(F.max(F.abs(F.col("w"))), F.lit(1).cast("decimal(38,0)")).alias("m")
        )
        v = w.join(F.broadcast(m)).select(  # 1-row build side
            "dim",
            F.expr(f"CAST((w * {_PCA_UNIT}) div m AS BIGINT)").alias("vu"),
        )
    return v.select("dim", F.col("vu").alias("v_units")).orderBy("dim")


@register(
    "xh_embed_centroid_drift",
    oracle="""WITH u AS MATERIALIZED (
  SELECT label, vec_id % 2 AS half, t.i AS dim,
         CAST(FLOOR(CAST(t.x AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS uq
  FROM embeddings,
       LATERAL (SELECT unnest(embedding) AS x,
                       generate_subscripts(embedding, 1) AS i) AS t),
d AS (
  SELECT label, dim,
         SUM(CASE WHEN half = 0 THEN uq ELSE 0 END) AS s_even,
         SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_even,
         SUM(CASE WHEN half = 1 THEN uq ELSE 0 END) AS s_odd,
         SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_odd
  FROM u GROUP BY label, dim)
SELECT label,
       CAST(MAX(n_even) AS BIGINT) AS n_even,
       CAST(MAX(n_odd) AS BIGINT) AS n_odd,
       CAST(SUM(ABS(s_even * n_odd - s_odd * n_even)) AS BIGINT)
         AS l1_cross_units
FROM d GROUP BY label ORDER BY label""",
    tags=("llm", "embeddings", "drift", "oracle-twin"),
)
def xh_embed_centroid_drift(spark, sf_dir):
    """Per-label embedding-centroid drift between corpus halves
    (round 12) — the ML-ops monitor that catches a feature-pipeline or
    encoder change: if the even-vec_id half and the odd half of a label
    were drawn from the same distribution, their centroids agree; a
    large per-label L1 gap flags drift (the embedding-space analog of
    xh_ks_drift on lengths). Exact integers throughout: components
    quantize to 1e-6 units via the established FLOOR(x*1e6+0.5) rule
    (FLOAT->DOUBLE is exact, so both engines floor the same double),
    and the halves compare CROSS-MULTIPLIED — |s_even*n_odd -
    s_odd*n_even| — so no division ever happens and the per-dim terms
    sum order-free. n_even/n_odd are constant across dims of a label
    (MAX is just the hash-stable way to surface them).

    Scale shape: the vectors explode to (label, dim, half, unit) rows
    once and collapse via ONE uniform (label, dim)-keyed partial agg —
    exchange rows are labels x dims (domain-bounded), not corpus rows;
    the label rollup is a second domain-bounded agg. BIGINT headroom is
    PROBED, not assumed (r12 verdict item): a one-pass domain-bounded
    probe of per-(label, half) counts and the max |component| bounds the
    cross product max_unit * n^2; past ~2^62 the cross-multiply and its
    sum promote to DECIMAL(38,0) (the xh_pca_power discipline) — exact
    where BIGINT would wrap, same values where both fit, asserted at the
    boundary in tests/test_curation_props.py."""
    e = tbl(spark, sf_dir, "embeddings")
    return _centroid_drift_frame(spark, e)


def _centroid_drift_frame(spark, e, force_decimal=None):
    """xh_embed_centroid_drift body with an injectable arithmetic mode so
    tests can force the DECIMAL(38,0) path on small data (identical rows
    to the BIGINT path) and feed it adversarial magnitudes that would
    overflow BIGINT. ``force_decimal=None`` probes the bound from data."""
    if force_decimal is None:
        probe = (
            e.select(
                "label",
                (F.col("vec_id") % 2).alias("half"),
                F.array_max(
                    F.transform("embedding", lambda x: F.abs(x.cast("double")))
                ).alias("mx"),
            )
            .groupBy("label", "half")
            .agg(F.count(F.lit(1)).alias("n"), F.max("mx").alias("mx"))
            .collect()
        )  # <= labels x 2 rows: domain-bounded metadata, not data
        n_max = max((r["n"] for r in probe), default=0)
        mx = max((r["mx"] for r in probe if r["mx"] is not None), default=0.0)
        max_unit = int(mx * 1_000_000 + 0.5) + 1
        # conservative intermediate bound: |s_half| <= n * max_unit, so
        # each cross product <= max_unit * n^2; promote within 2x of 2^63
        force_decimal = max_unit * n_max * n_max >= (1 << 62)
    u = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim", "x"),
    ).select(
        "label",
        "half",
        "dim",
        F.expr(
            "CAST(FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"
        ).alias("uq"),
    )
    d = u.groupBy("label", "dim").agg(
        F.sum(F.when(F.col("half") == 0, F.col("uq")).otherwise(0)).alias("s_even"),
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0)).alias("n_even"),
        F.sum(F.when(F.col("half") == 1, F.col("uq")).otherwise(0)).alias("s_odd"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("n_odd"),
    )
    if force_decimal:
        # exact decimal cross products: the DIFFERENCE of two huge,
        # nearly-cancelling products fits BIGINT long after each product
        # alone would wrap a 64-bit intermediate
        dec = "decimal(38,0)"
        cross = F.abs(
            F.col("s_even").cast(dec) * F.col("n_odd").cast(dec)
            - F.col("s_odd").cast(dec) * F.col("n_even").cast(dec)
        )
    else:
        cross = F.abs(
            F.col("s_even") * F.col("n_odd") - F.col("s_odd") * F.col("n_even")
        )
    return (
        d.groupBy("label")
        .agg(
            F.max("n_even").cast("long").alias("n_even"),
            F.max("n_odd").cast("long").alias("n_odd"),
            F.sum(cross).cast("long").alias("l1_cross_units"),
        )
        .orderBy("label")
    )


@register(
    "xh_tfidf_topk",
    oracle="""WITH t AS MATERIALIZED (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '')) AS token
  FROM documents),
tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       FROM t GROUP BY doc_id, token),
df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
sc AS (SELECT tf.doc_id, tf.token,
              tf.tf * CAST(length(bin(n.n_docs // df.df)) AS BIGINT) AS score
       FROM tf JOIN df USING (token) CROSS JOIN n),
rk AS (SELECT doc_id, token, score,
              CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, token) AS BIGINT)
                AS rank
       FROM sc)
SELECT doc_id, token, score, rank FROM rk
WHERE rank <= 3 ORDER BY doc_id, rank""",
    tags=("llm", "text", "tfidf"),
)
def xh_tfidf_topk(spark, sf_dir):
    """Hash-checked TF-IDF keyword extraction (round 13): top-3 tokens
    per document by tf * floor(log2(N/df))+1 — the integer-bits idf
    (xp_tfidf's float-idf twin, made driver-hashable by the surprisal
    idiom: both engines compute the identical BIGINT score). The
    per-doc keyword list is what a curation UI shows and what keyword-
    based topic filters consume.

    Scale shape: (doc, token) tf is ONE uniform partial agg; df derives
    from the tf frame (Heaps-law rows), never a second corpus scan; the
    idf probe join is token-keyed and UNHINTED (the r12 broadcast-audit
    rule — vocabulary grows with the corpus); N is a 1-row broadcast.
    The per-doc top-3 is operators/topk.grouped_topk — two-level
    bounded O(K) aggregation state per doc, no per-doc sort of the full
    posting list, tie-safe via the (neg score, token) composite."""
    from ..operators.topk import grouped_topk

    d = tbl(spark, sf_dir, "documents")
    t = d.select(
        "doc_id", F.explode(F.split(F.lower("text"), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    tf = t.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).cast("long").alias("tf")
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    idf_bits = F.length(
        F.conv(F.expr("n_docs div df").cast("string"), 10, 2)
    ).cast("long")
    scored = (
        tf.join(df_, "token")  # token-keyed, unhinted: AQE decides
        .join(F.broadcast(n))  # 1-row corpus count
        .select(
            "doc_id",
            "token",
            (F.col("tf") * idf_bits).alias("score"),
            (-(F.col("tf") * idf_bits)).alias("neg_score"),
        )
    )
    top = grouped_topk(scored, "doc_id", "neg_score", 3, tiebreak_col="token")
    return (
        top.select(
            "doc_id",
            "token",
            (-F.col("neg_score")).cast("long").alias("score"),
            F.col("rank").cast("long").alias("rank"),
        )
        .orderBy("doc_id", "rank")
    )


# --- exact-integer Lloyd round (round 13, late) -------------------------
_KM_K = 8
_KM_UNIT = 1_000_000


def _kmeans_round_oracle() -> str:
    """Mirror of xh_kmeans_round: quantize, seed from the K smallest
    vec_ids, assign by exact integer squared distance with (d2, cluster)
    tie-break, recompute centroids with trunc-toward-zero division."""
    return f"""WITH eu AS MATERIALIZED (
  SELECT vec_id, i - 1 AS dim,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * {_KM_UNIT} + 0.5)
              AS BIGINT) AS u
  FROM (SELECT vec_id, embedding,
               unnest(generate_series(1, len(embedding))) AS i
        FROM embeddings WHERE embedding IS NOT NULL)),
seeds AS (
  SELECT vec_id, CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS BIGINT)
           AS cluster
  FROM (SELECT DISTINCT vec_id FROM eu ORDER BY vec_id LIMIT {_KM_K})),
cent AS MATERIALIZED (
  SELECT s.cluster, e.dim, e.u AS cu FROM eu e JOIN seeds s USING (vec_id)),
dist AS (
  SELECT e.vec_id, c.cluster, SUM((e.u - c.cu) * (e.u - c.cu)) AS d2
  FROM eu e JOIN cent c USING (dim) GROUP BY e.vec_id, c.cluster),
assign AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cluster) AS rn
    FROM dist) t WHERE rn = 1)
SELECT a.cluster, e.dim,
       CAST(SUM(e.u) // COUNT(*) AS BIGINT) AS new_cu,
       CAST(COUNT(*) AS BIGINT) AS n_assigned
FROM eu e JOIN assign a USING (vec_id)
GROUP BY a.cluster, e.dim
ORDER BY a.cluster, e.dim"""


@register(
    "xh_kmeans_round",
    oracle=_kmeans_round_oracle(),
    tags=("llm", "embedding", "iterative"),
)
def xh_kmeans_round(spark, sf_dir):
    """One EXACT-INTEGER Lloyd k-means round over the embedding corpus
    (round 13) — the hash-checked H twin of the float coarse k-means
    inside xp_semdedup / xp_ann_ivf (operators/similarity.py), joining
    the quantized-twin family (xh_pagerank_quantized, xh_pca_power):
    the float recurrence is re-defined over floor(x*1e6+0.5) integer
    units so assignment and centroid update are order-free and DuckDB
    replays them bit-for-bit. Seeds are the K=8 smallest vec_ids;
    assignment minimizes exact BIGINT squared distance with a
    deterministic (d2, cluster) tie-break; the new centroid divides
    trunc-toward-zero identically in both engines (the probed
    `div` == `//` contract). Emits the full (cluster, dim) centroid
    table with cluster sizes — 512 rows at any corpus size.

    Scale shape: the K x dims seed matrix is DRIVER METADATA (bounded
    collect of 8 rows, the vocab_growth class), baked into the plan as
    array literals — so the distance scan + argmin run ROW-LOCAL in
    whole-stage codegen (zip_with/aggregate over the quantized array
    against 8 constant arrays, array_min over (d2, cluster) structs):
    NO per-vector shuffle, no candidate fan-out. The ONLY corpus-scale
    exchange is the centroid update: posexplode to (cluster, dim, u)
    partials that map-side-combine into <= K*dims = 512 groups. At
    1000 executors the exchange carries 512 rows per task, nothing
    else moves. Integer headroom: SUM(u) per (cluster, dim) is exact
    to ~9e12 member vectors per cluster.

    Reference parity: none (byte-copy service, m/service/
    CopyTaskService.java); extends SURVEY §2b's LLM-pipeline family."""
    emb = tbl(spark, sf_dir, "embeddings").filter(
        F.col("embedding").isNotNull()
    )
    q = emb.select(
        "vec_id",
        F.expr(
            f"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)"
            f" * {_KM_UNIT} + 0.5) AS BIGINT))"
        ).alias("ue"),
    )
    seed_rows = q.orderBy("vec_id").limit(_KM_K).collect()  # K rows: metadata
    if not seed_rows:  # empty corpus: schema-stable empty frame
        return q.select(
            F.lit(0).cast("bigint").alias("cluster"),
            F.lit(0).cast("bigint").alias("dim"),
            F.lit(0).cast("bigint").alias("new_cu"),
            F.lit(0).cast("bigint").alias("n_assigned"),
        ).limit(0)
    dists = [
        F.expr(
            "aggregate(zip_with(ue, array({vals}), (a, b) -> (a - b) * (a - b)),"
            " 0L, (acc, x) -> acc + x)".format(
                vals=", ".join(f"{int(v)}L" for v in r["ue"])
            )
        ).alias(f"d{k}")
        for k, r in enumerate(seed_rows)
    ]
    am = F.array_min(
        F.array(
            *[
                F.struct(
                    F.col(f"d{k}").alias("d2"),
                    F.lit(k).cast("long").alias("cluster"),
                )
                for k in range(len(seed_rows))
            ]
        )
    )
    assigned = (
        q.select("vec_id", "ue", *dists)
        .select("ue", am["cluster"].alias("cluster"))
    )
    return (
        assigned.select(
            "cluster", F.posexplode("ue").alias("dim", "u")
        )
        .groupBy("cluster", F.col("dim").cast("long").alias("dim"))
        .agg(
            F.expr("CAST(SUM(u) div COUNT(*) AS BIGINT)").alias("new_cu"),
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
        )
        .orderBy("cluster", "dim")
    )


# Hard-negative mining (round 15): the contrastive-training data op —
# oracle mirrors _Q59_ORACLE's integer-unit quantization with the
# label-mismatch constraint in the pair join.
_HARDNEG_ORACLE = f"""
WITH e AS (
  SELECT vec_id, CAST(label AS BIGINT) AS label, embedding,
         (SELECT CAST(SUM({_OU.format(x='t.x')} * {_OU.format(x='t.x')}) AS BIGINT)
          FROM unnest(embedding) AS t(x)) AS norm2
  FROM embeddings WHERE embedding IS NOT NULL
),
pairs AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         q.label AS q_label, c.label AS n_label,
         CAST((SELECT CAST(SUM({_OU.format(x='p.l1')} * {_OU.format(x='p.l2')}) AS BIGINT)
               FROM (SELECT unnest(list_zip(q.embedding, c.embedding), recursive := true)) AS p(l1, l2))
              AS DOUBLE)
         / sqrt(CAST(q.norm2 AS DOUBLE) * CAST(c.norm2 AS DOUBLE)) AS cos
  FROM e q JOIN e c ON c.vec_id <> q.vec_id AND c.label <> q.label
  WHERE q.vec_id < 10
),
ranked AS (
  SELECT query_id, neighbor_id, q_label, n_label,
         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank,
         cos AS score
  FROM pairs
)
SELECT query_id, neighbor_id, rank, score, q_label, n_label FROM ranked
WHERE rank <= 5 ORDER BY query_id, rank
"""


@register(
    "xh_hard_negatives",
    oracle=_HARDNEG_ORACLE,
    tags=("llm", "similarity", "training-data", "oracle-twin"),
)
def xh_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training (round 15): for
    each query embedding (vec_id < 10), the 5 most cosine-similar
    candidates carrying a DIFFERENT label — the "looks similar, isn't"
    pairs an embedding/contrastive trainer wants as negatives (the
    in-batch-negatives upgrade every retrieval recipe ships). Same
    exact-integer-unit cosine discipline as q59 (1e-6 quantized dots in
    BIGINT, one mirrored IEEE op sequence), so scores are bit-identical
    to the DuckDB oracle; the label-mismatch test rides the pair join.

    Plan at 100 TB: queries (a fixed tiny set) BROADCAST with their
    norms; candidates stream map-side through the broadcast join —
    never shuffled — and the label filter is join-time (prunes before
    scoring); per-query top-5 is one window over k-bounded rows. The
    broadcast is PROBE-BOUNDED, not assumed (VERDICT r15 #6): the
    operator core (operators/similarity.hard_negatives_topk) byte-sizes
    the query side against _HARDNEG_BROADCAST_MAX_BYTES and falls back
    to a shuffled IVF cluster-equi-join when a caller's query set is too
    large to ship — this contract query's 10 queries always take the
    exact broadcast path (hashes unchanged); the fallback is forced-path
    tested in tests/test_llm_ops.py."""
    from ..operators.similarity import hard_negatives_topk

    e = tbl(spark, sf_dir, "embeddings")
    return hard_negatives_topk(
        e, e.filter(F.col("vec_id") < 10), k=5
    ).orderBy("query_id", "rank")
