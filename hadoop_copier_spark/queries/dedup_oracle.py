"""Fully-oracled dedup + text-analysis variants (H-class).

The production dedup operators (operators/dedup.py) hash with xxhash64 —
fast, JVM-native, but DuckDB cannot reproduce it, so their registry
entries are rows-only P checks. These variants re-express the SAME
algorithms over a portable 60-bit hash both engines compute identically:

    h60(s) = first 15 hex digits of md5(s), read as an integer

(md5 is bit-identical everywhere; 15 hex digits = 60 bits fits BIGINT).
All downstream arithmetic is exact integers — affine permutations mod a
Mersenne prime in DECIMAL(38,0)/HUGEINT, bit tests, polynomial rolling
hashes — so the DuckDB oracle matches hash-for-hash, no float anywhere
except the quality score (mirrored op tree per queries/base.py rule 2).

Scale: identical plan shapes to the xxhash64 production twins (uniform
band-key shuffles, arrays materialized before lambda consumers per the
CSE pitfall in SCALE.md); md5 costs more CPU per token than xxhash64,
which is why the production path keeps xxhash64 and only these
verification twins pay the portability tax.

Unicode boundary (probed, pinned in tests/test_unicode_oracle.py): the
twins hash lowercased token bytes, so they are cross-engine exact
wherever JVM and utf8proc case folding agree — verified for Greek
(incl. final sigma), Cyrillic, CJK, emoji, ligatures, and non-ASCII
whitespace. Known divergence: Turkish dotted capital İ (U+0130), which
the two engines lowercase differently. The fixture corpus is ASCII, so
the driver gate is unaffected. DECLARED-CORRECT PATH for non-ASCII
corpora (round 11, VERDICT r10 #6): normalize the corpus with
``nfkc_casefold`` (NFKC + Unicode casefold; also available as
``_with_tokens(.., normalize=True)``) before hashing — casefolded text
has no case left for the engines to fold differently, so the byte-level
twins are cross-engine exact on it, İ included (pinned in
tests/test_unicode_oracle.py).
"""

from __future__ import annotations

from functools import reduce as _reduce

from .base import F, tbl
from .registry import register
from ..operators.dedup import _minhash_params

_P = (1 << 61) - 1
_K = 8          # signature width
_BANDS = 4      # 4 bands x r=2: catches Jaccard >= ~0.7 with high recall
_A, _B = _minhash_params(_K)  # same fixed RandomState(42) params as prod


def _h60(col):
    """Portable 60-bit hash: int(md5(s)[0:15], 16) — exact in both engines."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


_H60_SQL = "('0x' || substr(md5({s}), 1, 15))::BIGINT"


def nfkc_casefold(col):
    """Unicode NFKC normalization + full casefold, vectorized (pandas
    string ops over Arrow batches). The declared-correct preprocessing
    for running the byte-level twins on non-ASCII corpora (VERDICT r10
    #6): casefolded text contains no upper/title case, so neither
    engine's ``lower()`` has anything left to disagree on (the Turkish
    İ divergence disappears), and NFKC collapses compatibility forms
    (ligatures, fullwidth digits) that would otherwise hash as distinct
    tokens. Python-side by necessity — neither Spark SQL nor DuckDB
    exposes NFKC+casefold as a built-in — so it is an opt-in switch, not
    the default hot path. Caveat: scripts whose casefold target is
    uppercase (Cherokee) remain outside the declared domain."""
    import pandas as pd  # noqa: F401 — pandas_udf resolves the series type
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _norm(s):
        return s.str.normalize("NFKC").str.casefold()

    return _norm(col)


def _with_tokens(d, repartition=True, normalize=False):
    """doc_id, tk (lowercased whitespace tokens, empties dropped) — the
    token array is a real column so lambda consumers don't re-split.
    ``normalize=True`` routes the text through ``nfkc_casefold`` first —
    the declared-correct switch for non-ASCII corpora (see module
    docstring); the registered twins keep the default (False) so their
    plans stay pure-JVM on the ASCII fixtures.

    By default the input is repartitioned on doc_id first: the shingle/md5
    work downstream of the MULTI-STAGE twins (LSH band join, verify join,
    everything after a localCheckpoint) is the CPU-heavy part, and a small
    fixture file arrives as ONE scan partition — without the exchange that
    whole pipeline runs on a single core (measured 2x the full query wall
    at sf0.1). At real scale the scan is already many partitions and the
    one shuffle of raw docs is noise next to the per-shingle hashing.

    SINGLE-PASS consumers (scan -> project -> sort, nothing reused) pass
    ``repartition=False``: there the exchange ships the full text column
    for one map stage and buys back less than it costs (xh_simhash
    0.91 s r4 -> 1.26 s r5 driver bench was exactly this — VERDICT r5 #6),
    and it breaks the scan-only plan shape the plan tests pin.
    """
    if repartition:
        n = int(d.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
        d = d.repartition(n, "doc_id")
    text = nfkc_casefold(F.col("text")) if normalize else F.col("text")
    return d.select(
        "doc_id",
        "text",
        F.filter(F.split(F.lower(text), r"\s+"), lambda t: t != "").alias("tk"),
    )


_TOKENS_SQL = (
    "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
)


def _shingle_hashes(d):
    """doc_id, hs: distinct h60 of word 3-grams (whole doc when < 3 toks)."""
    t = _with_tokens(d)
    grams = F.when(
        F.size("tk") < 3, F.array(F.concat_ws(" ", F.col("tk")))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("tk"), i),
                F.element_at(F.col("tk"), i + F.lit(1)),
                F.element_at(F.col("tk"), i + F.lit(2)),
            ),
        )
    )
    g = t.withColumn("__g", grams)  # materialize before the hash lambda (CSE)
    hs = F.array_distinct(F.transform(F.col("__g"), lambda s: _h60(s)))
    return g.select("doc_id", hs.alias("hs"))


_SHINGLES_SQL = f"""
toks AS MATERIALIZED (
  SELECT doc_id, text, {_TOKENS_SQL} AS tk FROM documents
),
sh AS MATERIALIZED (
  SELECT doc_id,
         list_distinct(list_transform(
           CASE WHEN len(tk) < 3 THEN [array_to_string(tk, ' ')]
                ELSE [tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                      for i in generate_series(1, len(tk) - 2)]
           END,
           g -> {_H60_SQL.format(s='g')})) AS hs
  FROM toks
)"""


def _sig_col(i: int):
    a, b = int(_A[i]), int(_B[i])
    return F.array_min(
        F.transform(
            F.col("hs"),
            lambda h: (
                (F.lit(a).cast("decimal(38,0)") * h + F.lit(b)) % F.lit(_P)
            ).cast("long"),
        )
    ).alias(f"s{i}")


_SIG_COLS_SQL = ",\n         ".join(
    f"CAST(list_min(list_transform(hs, h -> "
    f"({int(_A[i])}::HUGEINT * h + {int(_B[i])}) % {_P})) AS BIGINT) AS s{i}"
    for i in range(_K)
)

_BANDS_SQL = "\n  UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, s{2 * b} AS h1, s{2 * b + 1} AS h2 FROM sig"
    for b in range(_BANDS)
)


@register(
    "xh_minhash_lsh_pairs",
    oracle=f"""WITH {_SHINGLES_SQL},
sig AS MATERIALIZED (
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM sh
),
bands AS (
  {_BANDS_SQL}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
   AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       len(list_intersect(x.hs, y.hs)) AS inter_n,
       len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS union_n
FROM cand c
JOIN sh x ON c.id_a = x.doc_id
JOIN sh y ON c.id_b = y.doc_id
WHERE 10 * len(list_intersect(x.hs, y.hs))
      >= 7 * (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))
ORDER BY id_a, id_b""",
    tags=("llm", "dedup", "minhash", "oracle-twin"),
)
def xh_minhash_lsh_pairs(spark, sf_dir):
    """MinHash+LSH near-dup with a full DuckDB oracle: 3-gram shingles ->
    8-wide MinHash (affine perms mod 2^61-1, exact decimal arithmetic) ->
    4 bands x r=2 -> bucket self-join -> exact shingle-set Jaccard >= 0.7
    verified with the integer test 10*inter >= 7*union (no floats).

    Same plan as operators/dedup.py:106 (near_dup_pairs): one uniform
    shuffle on the band key, verify join co-partitioned on doc_id. The
    shingle frame feeds signature + both verify sides, so it is
    checkpointed once (lineage cut, blocks freed with this frame's RDD).
    """
    d = tbl(spark, sf_dir, "documents")
    sh = _shingle_hashes(d).localCheckpoint(eager=True)
    sig = sh.select("doc_id", *[_sig_col(i) for i in range(_K)])
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"s{2 * b}").alias("h1"),
                F.col(f"s{2 * b + 1}").alias("h2"),
            )
            for b in range(_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bd")).select(
        "doc_id", "bd.band", "bd.h1", "bd.h2"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("id_a"), F.col("hs").alias("__ha"))
    y = sh.select(F.col("doc_id").alias("id_b"), F.col("hs").alias("__hb"))
    inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    union_ = F.size("__ha") + F.size("__hb") - inter
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .filter(F.lit(10) * inter >= F.lit(7) * union_)
        .select("id_a", "id_b", inter.alias("inter_n"), union_.alias("union_n"))
        .orderBy("id_a", "id_b")
    )


_SIMHASH_BITS = 32

_SIMHASH_TERMS_SQL = "\n       + ".join(
    f"(CASE WHEN 2 * len(list_filter(hh, h -> ((h >> {s}) & 1) = 1)) >= n "
    f"AND n > 0 THEN {1 << s} ELSE 0 END)"
    for s in range(_SIMHASH_BITS)
)


@register(
    "xh_simhash",
    oracle=f"""WITH hh AS MATERIALIZED (
  SELECT doc_id,
         list_transform({_TOKENS_SQL}, t -> {_H60_SQL.format(s='t')}) AS hh,
         len({_TOKENS_SQL}) AS n
  FROM documents
)
SELECT doc_id,
       CAST({_SIMHASH_TERMS_SQL} AS BIGINT) AS simhash,
       n AS n_tokens
FROM hh
ORDER BY doc_id""",
    tags=("llm", "dedup", "simhash", "oracle-twin"),
)
def xh_simhash(spark, sf_dir):
    """SimHash with a full DuckDB oracle: 32-bit majority-vote signature
    over h60 token hashes (with multiplicity, the classic tf-weighted
    form). Bit s is set when >= half the tokens have bit s set; empty docs
    hash to 0. Pure integer bit tests — exact in both engines.

    Same shape as operators/dedup.py:173 (simhash64): embarrassingly
    parallel scan, no shuffle; here the bit counts are JVM Column
    expressions instead of a pandas UDF (32 array passes per row — the
    portable-hash twin trades per-row CPU for zero Python).
    """
    d = tbl(spark, sf_dir, "documents")
    t = _with_tokens(d, repartition=False)  # single-pass: scan-only plan
    hh = t.select(
        "doc_id",
        F.transform(F.col("tk"), lambda tok: _h60(tok)).alias("hh"),
        F.size("tk").alias("n"),
    )
    n = F.col("n")
    terms = [
        F.when(
            (
                F.lit(2)
                * F.size(
                    F.filter(
                        F.col("hh"),
                        lambda h: F.shiftright(h, s).bitwiseAND(F.lit(1)) == 1,
                    )
                )
                >= n
            )
            & (n > 0),
            F.lit(1 << s),
        ).otherwise(F.lit(0))
        for s in range(_SIMHASH_BITS)
    ]
    simhash = _reduce(lambda x, y: x + y, terms).cast("long")
    return hh.select(
        "doc_id", simhash.alias("simhash"), n.alias("n_tokens")
    ).orderBy("doc_id")


_FP_TOK_MOD = 1 << 40
_FP_MOD = 1 << 50


@register(
    "xh_doc_fingerprint",
    oracle=f"""WITH t AS (
  SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents
)
SELECT doc_id,
       CAST(list_reduce(
         list_prepend(0::HUGEINT,
           list_transform(tk, tok -> ({_H60_SQL.format(s='tok')}) % {_FP_TOK_MOD})),
         (acc, h) -> (acc * 31 + h) % {_FP_MOD}) AS BIGINT) AS fingerprint,
       len(tk) AS n_tokens
FROM t
ORDER BY doc_id""",
    tags=("llm", "text", "fingerprint", "oracle-twin"),
)
def xh_doc_fingerprint(spark, sf_dir):
    """Order-sensitive rolling document fingerprint with a full DuckDB
    oracle: left fold of acc*31 + h60(token) mod 2^50 (token hashes first
    reduced mod 2^40 so every intermediate fits a BIGINT — max acc*31 +
    h < 2^55). Detects reordered-content docs that set-based shingling
    cannot. Same fold as functions/text.py:77 (doc_fingerprint) with the
    portable hash; scan-only, no shuffle."""
    d = tbl(spark, sf_dir, "documents")
    t = _with_tokens(d)
    hashed = F.transform(F.col("tk"), lambda tok: _h60(tok) % F.lit(_FP_TOK_MOD))
    fp = F.aggregate(
        hashed,
        F.lit(0).cast("long"),
        lambda acc, h: (acc * 31 + h) % F.lit(_FP_MOD),
    )
    return t.select(
        "doc_id", fp.alias("fingerprint"), F.size("tk").alias("n_tokens")
    ).orderBy("doc_id")


def _sql_wordlist(words) -> str:
    return "[" + ", ".join("'" + w + "'" for w in words) + "]"


# the composite-quality IEEE op tree, spelled over the `m` CTE's columns —
# shared verbatim by xh_text_quality and xh_token_budget_select so both
# oracles mirror functions/text.py:quality_score token-for-token
_QUALITY_EXPR_SQL = """0.4::DOUBLE * least(n_chars::DOUBLE / 500.0::DOUBLE, 1.0::DOUBLE)
       + 0.2::DOUBLE * (1.0::DOUBLE - punct::DOUBLE / greatest(n_chars, 1)::DOUBLE)
       + 0.2::DOUBLE * (stop_hits::DOUBLE / greatest(n_toks, 1)::DOUBLE)
       + 0.2::DOUBLE * (CASE WHEN n_chars::DOUBLE / greatest(n_toks, 1)::DOUBLE >= 3
                             AND n_chars::DOUBLE / greatest(n_toks, 1)::DOUBLE <= 10
                        THEN 1.0::DOUBLE ELSE 0.5::DOUBLE END)"""


def _quality_ctes() -> str:
    """The `t, m` WITH-fragment computing per-doc text stats (tokens,
    char/punct/stopword counts, lang votes) — the shared front half of
    every quality-based oracle."""
    from ..functions.text import _STOPWORDS

    all_stop = _sql_wordlist(w for ws in _STOPWORDS.values() for w in ws)
    lang_structs = ", ".join(
        "{'hits': len(list_intersect(list_distinct(tk), "
        + _sql_wordlist(words)
        + ")), 'code': '"
        + code
        + "'}"
        for code, words in sorted(_STOPWORDS.items())
    )
    return f"""t AS MATERIALIZED (
  SELECT doc_id, text, {_TOKENS_SQL} AS tk FROM documents
),
m AS (
  SELECT doc_id, tk,
         struct_extract(list_max([{lang_structs}]), 'hits') AS best_hits,
         struct_extract(list_max([{lang_structs}]), 'code') AS best_code,
         length(text) AS n_chars,
         len(tk) AS n_toks,
         length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) AS punct,
         len(list_filter(tk, tok -> list_contains({all_stop}, tok))) AS stop_hits,
         len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]', 0)) AS n_bpe
  FROM t
)"""


def _text_quality_oracle() -> str:
    return f"""WITH {_quality_ctes()}
SELECT doc_id,
       CASE WHEN best_hits > 0 THEN best_code ELSE 'und' END AS lang,
       n_toks AS n_ws_tokens,
       n_bpe AS n_bpe_tokens,
       {_QUALITY_EXPR_SQL} AS quality
FROM m
ORDER BY doc_id"""


@register(
    "xh_text_quality",
    oracle=_text_quality_oracle(),
    tags=("llm", "text", "quality", "oracle-twin"),
)
def xh_text_quality(spark, sf_dir):
    """Hash-checked twin of the text-analysis surface: calls the ACTUAL
    engine functions (functions/text.py lang_id_guess, quality_score,
    token counters) and mirrors each op tree token-for-token in DuckDB —
    the composite quality double is emitted raw (base.py rule 2: same IEEE
    op sequence => identical bits), every count is an exact integer, and
    the lang argmax is a struct max with identical (hits, code) tiebreak
    in both engines. Upgrades xp_text_analysis from rows-only to a hard
    value-hash correctness signal. Scan-only: no shuffle, no Python."""
    from ..functions.text import (
        bpe_ish_token_count,
        lang_id_guess,
        quality_score,
        whitespace_token_count,
    )

    d = tbl(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        lang_id_guess(F.col("text")).alias("lang"),
        whitespace_token_count(F.col("text")).alias("n_ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("n_bpe_tokens"),
        quality_score(F.col("text")).alias("quality"),
    ).orderBy("doc_id")


def _embedding_neardup_oracle() -> str:
    from .llm_ops import _OU, N_PLANTED, PLANT_OFFSET

    return f"""WITH base AS (
  SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300
),
planted AS (
  SELECT vec_id + {PLANT_OFFSET} AS vec_id,
         list_transform(embedding,
                        x -> CAST(CAST(x AS DOUBLE) * CAST(1.001 AS DOUBLE) AS FLOAT)) AS embedding
  FROM base WHERE vec_id < {N_PLANTED}
),
e AS (
  SELECT * FROM base UNION ALL SELECT * FROM planted
),
n AS MATERIALIZED (
  SELECT vec_id, embedding,
         (SELECT CAST(SUM({_OU.format(x='t.x')} * {_OU.format(x='t.x')}) AS BIGINT)
          FROM unnest(embedding) AS t(x)) AS norm2
  FROM e
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         CAST((SELECT CAST(SUM({_OU.format(x='p.l1')} * {_OU.format(x='p.l2')}) AS BIGINT)
               FROM (SELECT unnest(list_zip(a.embedding, b.embedding), recursive := true)) AS p(l1, l2))
              AS DOUBLE)
         / sqrt(CAST(a.norm2 AS DOUBLE) * CAST(b.norm2 AS DOUBLE)) AS cos
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos FROM pairs
WHERE cos >= 0.9
ORDER BY id_a, id_b"""


@register(
    "xh_embedding_neardup",
    oracle=_embedding_neardup_oracle(),
    tags=("llm", "similarity", "dedup", "oracle-twin"),
)
def xh_embedding_neardup(spark, sf_dir):
    """Hash-checked twin of xp_embedding_neardup: embedding-cosine near-dup
    pairs (cos >= 0.9) over the same bounded sample WITH the same planted
    near-dups — the planting arithmetic (double-multiply by 1.001, cast to
    float) and the integer-unit cosine are single IEEE op sequences DuckDB
    mirrors bit-for-bit, so the threshold filter agrees exactly. With this
    every dedup flavor the engine ships (exact q56, MinHash+LSH, SimHash,
    n-gram Jaccard, embedding-cosine) carries a hard value-hash oracle."""
    from .llm_ops import _with_planted_neardups
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
    "xh_repetition",
    oracle="""WITH t AS (
  SELECT doc_id, """ + _TOKENS_SQL + """ AS tk FROM documents
),
m AS (
  SELECT doc_id, tk,
         [tk[i] || ' ' || tk[i+1] for i in generate_series(1, len(tk) - 1)] AS bg
  FROM t
)
SELECT doc_id,
       len(tk) AS n_tokens,
       len(list_distinct(tk)) AS n_distinct_tokens,
       (len(tk) - len(list_distinct(tk)))::DOUBLE
         / greatest(len(tk), 1)::DOUBLE AS dup_token_frac,
       len(bg) AS n_bigrams,
       len(list_distinct(bg)) AS n_distinct_bigrams,
       (len(bg) - len(list_distinct(bg)))::DOUBLE
         / greatest(len(bg), 1)::DOUBLE AS dup_bigram_frac
FROM m
ORDER BY doc_id""",
    tags=("llm", "text", "quality", "oracle-twin"),
)
def xh_repetition(spark, sf_dir):
    """Repetition quality signals (the Gopher-rule family a curation
    pipeline thresholds on): per-document duplicate-token and
    duplicate-bigram fractions. Counts are exact integers; the two
    fractions are single mirrored IEEE divisions, so the DuckDB oracle
    hash-matches exactly. Scan-only — no shuffle, no Python; at 100 TB
    this is a map-side column pass like the other text signals."""
    t = _with_tokens(tbl(spark, sf_dir, "documents"))
    n = F.size("tk")
    bigrams = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(F.col("tk"), i),
                F.lit(" "),
                F.element_at(F.col("tk"), i + F.lit(1)),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    m = t.withColumn("bg", bigrams)
    nb = F.size("bg")
    nd = F.size(F.array_distinct("tk"))
    ndb = F.size(F.array_distinct("bg"))
    return m.select(
        "doc_id",
        n.alias("n_tokens"),
        nd.alias("n_distinct_tokens"),
        ((n - nd).cast("double") / F.greatest(n, F.lit(1)).cast("double")).alias(
            "dup_token_frac"
        ),
        nb.alias("n_bigrams"),
        ndb.alias("n_distinct_bigrams"),
        ((nb - ndb).cast("double") / F.greatest(nb, F.lit(1)).cast("double")).alias(
            "dup_bigram_frac"
        ),
    ).orderBy("doc_id")


@register(
    "xh_dup_rate_by_source",
    oracle="""SELECT source,
       COUNT(*) AS n_docs,
       COUNT(DISTINCT md5(text)) AS n_unique,
       CAST(FLOOR((1000000 * (COUNT(*) - COUNT(DISTINCT md5(text)))) / COUNT(*) + 0.5) AS BIGINT) AS dup_ppm
FROM documents GROUP BY source ORDER BY source""",
    tags=("llm", "dedup", "profile"),
)
def xh_dup_rate_by_source(spark, sf_dir):
    """Per-source duplication profile — the curation dashboard number that
    decides which crawl sources get re-fetched vs dropped: doc count,
    distinct-content count, and duplication rate in exact ppm (BIGINT;
    the 1e6-scaled numerator is exact integer arithmetic, the single
    division is a mirrored IEEE op). Spark plans COUNT(DISTINCT) as the
    two-phase expand aggregate keyed on (source, hash) — uniformly
    distributed however few sources there are, so a 100 TB corpus with
    five sources still shuffles evenly."""
    d = tbl(spark, sf_dir, "documents")
    n = F.count(F.lit(1))
    u = F.count_distinct(F.md5("text"))
    return (
        d.groupBy("source")
        .agg(
            n.alias("n_docs"),
            u.alias("n_unique"),
            F.floor((F.lit(1000000) * (n - u)) / n + F.lit(0.5))
            .cast("bigint")
            .alias("dup_ppm"),
        )
        .orderBy("source")
    )


@register(
    "xh_keep_best",
    oracle="""WITH r AS (
  SELECT doc_id, source, md5(text) AS text_hash,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY source, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY md5(text)) AS n_copies
  FROM documents)
SELECT text_hash, doc_id AS keep_id, source AS keep_source, n_copies
FROM r WHERE rn = 1 ORDER BY text_hash""",
    tags=("llm", "dedup", "canonical"),
)
def xh_keep_best(spark, sf_dir):
    """Canonical-document selection: exact-duplicate groups keep ONE
    representative chosen by source priority then doc_id — q56 keeps the
    lowest id, this keeps the best-provenance copy, which is what a real
    curation pipeline does when the same page arrives from multiple
    crawls. One shuffle on the 128-bit content hash (uniform by
    construction); both window functions share the partition key so the
    rank and the group size ride the same exchange."""
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents").withColumn("text_hash", F.md5("text"))
    w = W.partitionBy("text_hash").orderBy("source", "doc_id")
    wall = W.partitionBy("text_hash")
    return (
        d.select(
            "text_hash",
            "doc_id",
            "source",
            F.row_number().over(w).alias("rn"),
            F.count(F.lit(1)).over(wall).alias("n_copies"),
        )
        .filter(F.col("rn") == 1)
        .select(
            "text_hash",
            F.col("doc_id").alias("keep_id"),
            F.col("source").alias("keep_source"),
            "n_copies",
        )
        .orderBy("text_hash")
    )


_MIX_CASE_SQL = """CASE lang WHEN 'en' THEN 1000000 WHEN 'de' THEN 500000
            WHEN 'es' THEN 500000 WHEN 'fr' THEN 250000
            WHEN 'zh' THEN 250000 ELSE 100000 END"""


@register(
    "xh_weighted_mix",
    oracle=f"""SELECT doc_id, lang, source, bucket FROM (
  SELECT doc_id, lang, source,
         {_H60_SQL.format(s="doc_id::VARCHAR || ':' || text")} % 1000000 AS bucket,
         {_MIX_CASE_SQL} AS rate
  FROM documents)
WHERE bucket < rate ORDER BY doc_id""",
    tags=("llm", "sampling", "mix"),
)
def xh_weighted_mix(spark, sf_dir):
    """Deterministic corpus mixing: each language gets a target sampling
    rate in ppm (en kept whole, de/es at 1/2, fr/zh at 1/4, everything
    else at 1/10 — the up/down-weighting step that turns raw crawl
    proportions into a training mixture) and a document survives iff its
    60-bit content hash lands below the rate. Hash-gated sampling, not
    rand(): the SAME documents are selected on every run, on any cluster
    layout, and re-running over an appended corpus never flips earlier
    decisions. Pure scan -> project -> filter, no shuffle except the
    output sort; at 100 TB this is a map-only pass whose selectivity is
    exactly the configured mixture."""
    bucket = (
        _h60(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("text")))
        % F.lit(1000000)
    ).alias("bucket")
    rate = (
        F.when(F.col("lang") == "en", 1000000)
        .when(F.col("lang") == "de", 500000)
        .when(F.col("lang") == "es", 500000)
        .when(F.col("lang") == "fr", 250000)
        .when(F.col("lang") == "zh", 250000)
        .otherwise(100000)
    )
    d = tbl(spark, sf_dir, "documents")
    return (
        d.select("doc_id", "lang", "source", bucket, rate.alias("rate"))
        .filter(F.col("bucket") < F.col("rate"))
        .select("doc_id", "lang", "source", "bucket")
        .orderBy("doc_id")
    )


_CHUNK = 16  # tokens per dedup chunk (exact-substring dedup granularity)


@register(
    "xh_chunk_dedup",
    oracle=f"""WITH t AS (SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents),
nz AS (SELECT doc_id, tk FROM t WHERE len(tk) > 0),
c AS (SELECT doc_id,
             unnest(range(CAST(ceil(len(tk) / {_CHUNK}.0) AS BIGINT))) AS chunk_idx,
             tk
      FROM nz),
h AS (SELECT doc_id, chunk_idx,
             {_H60_SQL.format(s=f"array_to_string(tk[chunk_idx*{_CHUNK}+1 : chunk_idx*{_CHUNK}+{_CHUNK}], ' ')")} AS h
      FROM c),
r AS (SELECT doc_id, chunk_idx,
             ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
      FROM h)
SELECT doc_id, COUNT(*) AS n_chunks, COUNT(*) FILTER (WHERE rn = 1) AS n_kept
FROM r GROUP BY doc_id ORDER BY doc_id""",
    tags=("llm", "dedup", "substring"),
)
def xh_chunk_dedup(spark, sf_dir):
    """Exact substring dedup at chunk granularity (the scalable cousin of
    suffix-array dedup used on crawl corpora): each document is cut into
    consecutive 16-token chunks, every chunk is hashed, and across the
    WHOLE corpus only the first occurrence of each distinct chunk — by
    (doc_id, chunk_idx) — is kept. Output is the per-document survival
    profile (total vs kept chunks), i.e. how much of each document is
    boilerplate already seen elsewhere. One shuffle keyed on the 60-bit
    chunk hash (uniform by construction; duplicate groups are tiny, so
    the per-hash row_number window never skews), then a partial-agg
    rollup back to doc_id."""
    from pyspark.sql import Window as W

    t = _with_tokens(tbl(spark, sf_dir, "documents")).filter(F.size("tk") > 0)
    chunks = F.transform(
        F.sequence(
            F.lit(0).cast("long"),
            F.ceil(F.size("tk") / F.lit(float(_CHUNK))) - 1,
        ),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("tk"), i.cast("int") * _CHUNK + 1, _CHUNK)
        ),
    )
    c = t.select("doc_id", F.posexplode(chunks).alias("chunk_idx", "chunk"))
    w = W.partitionBy("h").orderBy("doc_id", "chunk_idx")
    r = c.select(
        "doc_id", "chunk_idx", _h60(F.col("chunk")).alias("h")
    ).withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        )
        .orderBy("doc_id")
    )


@register(
    "xh_doc_freq",
    oracle="""SELECT token, COUNT(*) AS df
FROM (SELECT doc_id,
             unnest(list_distinct(string_split_regex(lower(text), '\\s+'))) AS token
      FROM documents)
WHERE token <> ''
GROUP BY token ORDER BY df DESC, token LIMIT 100""",
    tags=("llm", "text", "idf"),
)
def xh_doc_freq(spark, sf_dir):
    """Document frequency (the exact-integer core of IDF, hash-checkable
    unlike xp_tfidf's ln()): tokens are DISTINCT-ed inside each document
    with array_distinct BEFORE the explode — a map-side collapse that cuts
    the shuffled row count to one row per (doc, distinct token) — then a
    partial-agg count and a top-100 TakeOrdered. Same repartition-first
    rationale as q57 (SCALE.md principle 7b)."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    d = tbl(spark, sf_dir, "documents").repartition(n, "doc_id")
    return (
        d.select(
            F.explode(
                F.array_distinct(F.split(F.lower("text"), r"\s+"))
            ).alias("token")
        )
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.col("df").desc(), "token")
        .limit(100)
    )


_FUNNEL_STAGE_SQL = f"""CASE
      WHEN n_chars < 80 THEN '1_too_short'
      WHEN len(tk) < 20 THEN '2_few_tokens'
      WHEN len(list_distinct(tk)) * 10 < len(tk) * 3 THEN '3_repetitive'
      WHEN lang NOT IN ('en','de','es','fr','zh') THEN '4_bad_lang'
      ELSE '5_pass' END"""


@register(
    "xh_filter_funnel",
    oracle=f"""WITH t AS (SELECT doc_id, lang, n_chars, {_TOKENS_SQL} AS tk
           FROM documents)
SELECT stage, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM (SELECT n_chars, {_FUNNEL_STAGE_SQL} AS stage FROM t)
GROUP BY stage ORDER BY stage""",
    tags=("llm", "quality", "funnel"),
)
def xh_filter_funnel(spark, sf_dir):
    """Quality-filter cascade with funnel attribution: every document is
    counted under the FIRST rule it fails (too short -> too few tokens ->
    repetitive -> language not allowed -> pass) — the per-stage rejection
    report a curation pipeline emits so rule changes can be attributed to
    corpus loss. All predicates are exact integer arithmetic (the
    repetition ratio is the cross-multiplied distinct-token test, no
    float division). Scan -> project -> 5-group partial agg: only five
    rows cross the shuffle at any corpus size."""
    j = tbl(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "").alias(
            "tk"
        ),
    )
    stage = (
        F.when(F.col("n_chars") < 80, "1_too_short")
        .when(F.size("tk") < 20, "2_few_tokens")
        .when(
            F.size(F.array_distinct("tk")) * 10 < F.size("tk") * 3,
            "3_repetitive",
        )
        .when(~F.col("lang").isin("en", "de", "es", "fr", "zh"), "4_bad_lang")
        .otherwise("5_pass")
    )
    return (
        j.select(stage.alias("stage"), "n_chars")
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("stage")
    )


@register(
    "xh_outlier_trim",
    oracle="""WITH r AS (
  SELECT lang, n_chars,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n_chars, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY lang) AS cnt
  FROM documents)
SELECT lang, COUNT(*) AS n_kept,
       MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars,
       CAST(SUM(n_chars) AS BIGINT) AS sum_chars
FROM r
WHERE rn > cnt * 2 // 100 AND rn <= cnt - cnt * 2 // 100
GROUP BY lang ORDER BY lang""",
    tags=("llm", "quality", "trim"),
)
def xh_outlier_trim(spark, sf_dir):
    """Per-language outlier trim: drop the shortest and longest 2% of
    documents per language by RANK, not by a float quantile — the
    rank-based cut is exact integer arithmetic, so both engines (and
    every re-run) cut at identical rows, where percentile interpolation
    would be float-tie-fragile. Both windows share the lang partition
    key: one hash exchange carries the row_number, the group count, AND
    the final per-lang aggregate."""
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy("n_chars", "doc_id")
    wall = W.partitionBy("lang")
    k = (F.col("cnt") * 2 - (F.col("cnt") * 2) % 100) / 100  # cnt*2 // 100
    r = d.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("cnt"),
    )
    return (
        r.filter((F.col("rn") > k) & (F.col("rn") <= F.col("cnt") - k))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.min("n_chars").alias("min_chars"),
            F.max("n_chars").alias("max_chars"),
            F.sum("n_chars").cast("bigint").alias("sum_chars"),
        )
        .orderBy("lang")
    )


@register(
    "xh_incremental_dedup",
    oracle=f"""WITH hist AS (
  SELECT DISTINCT md5(text) AS th FROM documents WHERE doc_id % 10 < 8),
newb AS (
  SELECT doc_id, source, md5(text) AS th,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents WHERE doc_id % 10 >= 8),
j AS (SELECT n.source, n.rn, (h.th IS NOT NULL) AS in_hist
      FROM newb n LEFT JOIN hist h ON n.th = h.th)
SELECT source,
       COUNT(*) AS n_new,
       COUNT(*) FILTER (WHERE in_hist) AS n_dup_hist,
       COUNT(*) FILTER (WHERE NOT in_hist AND rn > 1) AS n_dup_batch,
       COUNT(*) FILTER (WHERE NOT in_hist AND rn = 1) AS n_kept
FROM j GROUP BY source ORDER BY source""",
    tags=("llm", "dedup", "incremental"),
)
def xh_incremental_dedup(spark, sf_dir):
    """Incremental (crawl-refresh) dedup: a new batch (doc_id % 10 >= 8
    — the fixture's stand-in for 'this week's crawl') is deduped against
    the historical corpus AND within itself, attributing every new
    document to exactly one of {kept, dup-of-history, dup-within-batch}.
    This is the steady-state shape of corpus maintenance: history is
    never rescanned per document — its distinct content hashes are
    aggregated once, and because the batch-side window and the
    history join both key on the SAME uniform content hash, the join
    rides the window's existing partitioning (no extra exchange between
    them)."""
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    hist = (
        d.filter(F.col("doc_id") % 10 < 8)
        .select(F.md5("text").alias("th"))
        .distinct()
        .withColumn("in_hist", F.lit(True))
    )
    w = W.partitionBy("th").orderBy("doc_id")
    newb = (
        d.filter(F.col("doc_id") % 10 >= 8)
        .select("doc_id", "source", F.md5("text").alias("th"))
        .withColumn("rn", F.row_number().over(w))
    )
    j = newb.join(hist, "th", "left").select(
        "source", "rn", F.coalesce("in_hist", F.lit(False)).alias("in_hist")
    )
    return (
        j.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_new"),
            F.count(F.when(F.col("in_hist"), 1)).alias("n_dup_hist"),
            F.count(F.when(~F.col("in_hist") & (F.col("rn") > 1), 1)).alias(
                "n_dup_batch"
            ),
            F.count(F.when(~F.col("in_hist") & (F.col("rn") == 1), 1)).alias(
                "n_kept"
            ),
        )
        .orderBy("source")
    )


_SAMPLE_K = 10


@register(
    "xh_consistent_sample",
    oracle=f"""WITH r AS (
  SELECT lang, doc_id,
         ROW_NUMBER() OVER (
           PARTITION BY lang
           ORDER BY {_H60_SQL.format(s="doc_id::VARCHAR || ':' || text")}, doc_id
         ) AS rn
  FROM documents)
SELECT lang, doc_id FROM r WHERE rn <= {_SAMPLE_K} ORDER BY lang, doc_id""",
    tags=("llm", "sampling", "stratified"),
)
def xh_consistent_sample(spark, sf_dir):
    """Exact k-per-stratum consistent sample: within each language the
    documents are ranked by a 60-bit content hash and the lowest k win —
    the distributed form of 'bottom-k by hash' reservoir sampling.
    Unlike rand()-based sampling the selection is a pure function of the
    data, so eval sets drawn this way are reproducible across reruns and
    cluster layouts, and mostly stable under corpus growth (a new doc
    displaces at most one of the k). One lang-keyed exchange; the filter
    discards everything beyond k inside each partition before the output
    sort."""
    from pyspark.sql import Window as W

    d = tbl(spark, sf_dir, "documents")
    h = _h60(F.concat_ws(":", F.col("doc_id").cast("string"), F.col("text")))
    w = W.partitionBy("lang").orderBy(h.alias("h"), F.col("doc_id"))
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= _SAMPLE_K)
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")
    )


@register(
    "xh_ngram_novelty",
    oracle=f"""WITH {_SHINGLES_SQL},
ex AS MATERIALIZED (
  SELECT doc_id, unnest(hs) AS h FROM sh
),
firsts AS MATERIALIZED (
  SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h
)
SELECT e.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
       CAST((SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END) * 1000000)
            // COUNT(*) AS BIGINT) AS novelty_ppm
FROM ex e JOIN firsts f USING (h)
GROUP BY e.doc_id
ORDER BY e.doc_id""",
    tags=("llm", "dedup", "novelty", "oracle-twin"),
)
def xh_ngram_novelty(spark, sf_dir):
    """Per-document n-gram novelty vs the earlier corpus (round 11) — the
    MassiveText/RefinedWeb-style overlap filter: a document's shingle is
    NOVEL iff no lower-doc_id document contains it, and docs whose
    novelty ratio is low are near-copies or heavy quoters even when no
    single pair crosses a Jaccard threshold. Emits exact counts plus an
    integer-division ppm ratio (no float anywhere, hash-exact in both
    engines).

    Scale shape: reuses the 3-gram h60 shingle machinery
    (_shingle_hashes); explode -> ONE uniform shingle-hash exchange for
    the min-doc_id aggregate; the membership join keys on the same hash
    (Catalyst reuses the aggregate's partitioning on that side, only the
    exploded probe re-shuffles); the per-doc rollup is one doc_id
    exchange. 'First occurrence wins' makes the score append-stable:
    growing the corpus never changes an EARLIER doc's novelty (property
    shared with xh_weighted_mix / xh_consistent_sample; asserted in
    tests/test_curation_props.py)."""
    d = tbl(spark, sf_dir, "documents")
    # eager localCheckpoint before the explode, same as xh_minhash_lsh_pairs:
    # the generator otherwise collapses with the shingle projection and
    # re-evaluates the md5 transform per consumer (measured 9 s vs 0.4 s for
    # the explode alone at sf0.1) — and ex feeds BOTH the min-agg and the
    # membership probe, so the barrier also stops a second full recompute
    sh = _shingle_hashes(d).localCheckpoint(eager=True)
    ex = sh.select("doc_id", F.explode("hs").alias("h"))
    firsts = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    return (
        ex.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
        .withColumn(
            "novelty_ppm", F.expr("(n_novel * 1000000L) div n_shingles")
        )
        .orderBy("doc_id")
    )


_BUDGET_DENOM = 2  # keep the best-quality half of the corpus tokens


@register(
    "xh_token_budget_select",
    oracle=f"""WITH {_quality_ctes()},
scored AS MATERIALIZED (
  SELECT doc_id, n_toks, {_QUALITY_EXPR_SQL} AS quality FROM m
),
c AS (
  SELECT doc_id, n_toks,
         CAST(SUM(n_toks) OVER (ORDER BY quality DESC, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
  FROM scored
),
b AS (SELECT CAST(SUM(n_toks) // {_BUDGET_DENOM} AS BIGINT) AS budget FROM scored)
SELECT doc_id,
       CAST(n_toks AS BIGINT) AS n_tokens,
       cum_tokens,
       CAST(CASE WHEN cum_tokens <= budget THEN 1 ELSE 0 END AS INT) AS kept
FROM c, b
ORDER BY doc_id""",
    tags=("llm", "curation", "budget", "oracle-twin"),
)
def xh_token_budget_select(spark, sf_dir):
    """Greedy data selection under a token budget (round 11): order the
    corpus by quality (best first, doc_id tiebreak — a TOTAL order) and
    keep documents while the running token total fits the budget (half
    the corpus tokens here) — the standard 'spend the compute budget on
    the best data' curation step.

    The running total is NOT a global single-partition window: it runs
    through operators/prefix.global_prefix_sum — range-repartition on
    (quality DESC, doc_id), per-partition prefix sums via a pid-keyed
    window, O(P)-row driver offsets — the same fix-up family as q35's
    scalable ntile. Cross-engine exactness: the quality double is the
    mirrored IEEE op tree of xh_text_quality (bit-identical in DuckDB,
    so the ORDER is identical), and everything emitted is exact BIGINT /
    INT (the float itself never leaves the plan)."""
    from ..functions.text import quality_score, whitespace_token_count
    from ..operators.prefix import global_prefix_sum

    d = tbl(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        whitespace_token_count(F.col("text")).cast("long").alias("n_tokens"),
        quality_score(F.col("text")).alias("__q"),
    )
    # r18: the corpus token total is the grand sum global_prefix_sum
    # already collects (same longs, exact Python-int sum) — the old
    # separate agg re-ran the full tokenize+quality scan for one scalar
    totals: dict = {}
    cum = global_prefix_sum(
        scored,
        "n_tokens",
        [F.col("__q").desc(), F.col("doc_id")],
        out_col="cum_tokens",
        totals=totals,
    )
    budget = int(totals["total"]) // _BUDGET_DENOM
    return (
        cum.select(
            "doc_id",
            "n_tokens",
            "cum_tokens",
            F.when(F.col("cum_tokens") <= F.lit(budget), 1)
            .otherwise(0)
            .cast("int")
            .alias("kept"),
        )
        .orderBy("doc_id")
    )


# --- CDC chunk-level dedup (round 12; VERDICT r11 #4) ------------------
def _cdc_oracle() -> str:
    """DuckDB mirror of operators/chunking.py, generated from the SAME
    constants so the two spellings cannot drift. Three tricks make it
    pure SQL:

    * the boundary predicate only depends on the rolling hash mod
      CDC_MEAN, and CDC_MEAN divides 2^64, so (poly mod 2^64) mod MEAN ==
      poly mod MEAN — the oracle reduces the 64-bit polynomial weights
      mod MEAN and never needs wraparound arithmetic (the weights become
      small integers, A^j mod 64);
    * the greedy min/max cut walk is a recursive CTE whose state CARRIES
      each document's candidate list as a LIST column — the obvious
      correlated min-subquery against a candidates CTE silently
      decorrelates to NULL inside a recursive term on DuckDB 1.0, while
      list_filter/list_min over carried state is exact (probed, r12);
    * byte positions equal character positions because the fixture corpus
      is ASCII (the module-docstring boundary above; chunk hashes are md5
      over the same bytes both engines see).
    """
    from ..operators.chunking import CDC_MAX, CDC_MEAN, CDC_MIN, CDC_WINDOW, _A

    p_mod = [pow(_A, CDC_WINDOW - 1 - j, CDC_MEAN) for j in range(CDC_WINDOW)]
    hash_terms = " + ".join(
        f"ord(text[s0+{j + 1}]) * {p_mod[j]}" for j in range(CDC_WINDOW)
    )
    return f"""WITH RECURSIVE docs AS MATERIALIZED (
  SELECT doc_id, text, CAST(len(text) AS BIGINT) AS n
  FROM documents WHERE text IS NOT NULL AND len(text) > 0),
cand AS MATERIALIZED (
  SELECT doc_id, list(cut ORDER BY cut) AS cands
  FROM (SELECT doc_id, s0 + {CDC_WINDOW} AS cut
        FROM (SELECT doc_id, text, unnest(range(0, n - {CDC_WINDOW - 1})) AS s0
              FROM docs WHERE n >= {CDC_WINDOW})
        WHERE ({hash_terms}) % {CDC_MEAN} = 0)
  GROUP BY doc_id),
state AS MATERIALIZED (
  SELECT d.doc_id, d.n, COALESCE(c.cands, []) AS cands
  FROM docs d LEFT JOIN cand c USING (doc_id)),
s(doc_id, n, cands, cut) AS (
  SELECT doc_id, n, cands, 0::BIGINT FROM state
  UNION ALL
  SELECT doc_id, n, cands,
         CASE WHEN tgt - cut > {CDC_MAX} THEN cut + {CDC_MAX} ELSE tgt END
  FROM (SELECT doc_id, n, cands, cut,
               COALESCE(list_min(list_filter(cands, c -> c >= cut + {CDC_MIN})), n) AS tgt
        FROM s WHERE cut < n)),
bounds AS (
  SELECT doc_id, cut AS e,
         lag(cut) OVER (PARTITION BY doc_id ORDER BY cut) AS st
  FROM s),
chunks AS (
  SELECT b.doc_id,
         ROW_NUMBER() OVER (PARTITION BY b.doc_id ORDER BY b.e) - 1 AS chunk_idx,
         md5(substr(d.text, CAST(b.st AS BIGINT) + 1, CAST(b.e - b.st AS BIGINT))) AS h
  FROM bounds b JOIN docs d USING (doc_id)
  WHERE b.st IS NOT NULL),
r AS (
  SELECT doc_id, chunk_idx,
         ROW_NUMBER() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) AS rn
  FROM chunks)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(COUNT(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept
FROM r GROUP BY doc_id ORDER BY doc_id"""


@register(
    "xh_cdc_dedup",
    oracle=_cdc_oracle(),
    tags=("llm", "dedup", "chunking", "substring"),
)
def xh_cdc_dedup(spark, sf_dir):
    """Content-defined chunk dedup — the shift-robust successor to
    xh_chunk_dedup's fixed-stride word windows (the exact weakness
    operators/chunking.py was built to fix: a one-byte prefix insertion
    shifts every stride boundary but perturbs only O(1) CDC boundaries).
    Every document is cut at rolling-hash boundaries (LBFS/rsync family,
    min/max enforced), every chunk md5-hashed, and corpus-wide only the
    first occurrence of each distinct chunk — by (doc_id, chunk_idx) —
    is kept. Output is the per-document survival profile (total vs kept
    chunks): how much of each document is byte-content already seen
    elsewhere, robust to insertions.

    Scale shape: chunking is a PURE MAP (mapInPandas, vectorized rolling
    hash over each Arrow batch's concatenated bytes — bytes never leave
    their executor, zero shuffle); dedup is ONE exchange keyed on the md5
    chunk hash (uniform by construction, duplicate groups tiny so the
    per-hash row_number never skews), then a partial-agg rollup back to
    doc_id. The DuckDB oracle replays the IDENTICAL greedy boundary walk
    (see _cdc_oracle) so the profile hash-matches bit-for-bit."""
    from pyspark.sql import Window as W

    from ..operators.chunking import cdc_chunks

    ch = cdc_chunks(tbl(spark, sf_dir, "documents"), "text", "doc_id")
    w = W.partitionBy("chunk_hash").orderBy("doc_id", "chunk_idx")
    r = ch.withColumn("rn", F.row_number().over(w))
    return (
        r.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.count(F.when(F.col("rn") == 1, 1)).alias("n_kept"),
        )
        .orderBy("doc_id")
    )


@register(
    "xh_quality_topk",
    oracle=f"""WITH {_quality_ctes()},
q AS (
  SELECT m.doc_id, d.lang,
         CAST(floor(({_QUALITY_EXPR_SQL}) * 1000000.0::DOUBLE + 0.5::DOUBLE) AS BIGINT) AS q_units
  FROM m JOIN (SELECT doc_id, lang, text FROM documents) d USING (doc_id)
  WHERE d.text IS NOT NULL),
r AS (
  SELECT lang, doc_id, q_units,
         ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q_units DESC, doc_id) AS rank
  FROM q)
SELECT lang, doc_id, q_units, rank FROM r WHERE rank <= 15 ORDER BY lang, rank""",
    tags=("llm", "quality", "topk"),
)
def xh_quality_topk(spark, sf_dir):
    """Per-language quality top-K (round 12) — the curation step that
    keeps each language's K best documents by quality score: the
    composite-key consumer of operators/topk.grouped_topk (VERDICT r11
    #6). Quality scores TIE (the CASE branches of the composite score are
    discrete), so the bare-value form is ineligible; the tie-safe form
    orders by struct(-q_units, doc_id) — exactly
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY q_units DESC, doc_id).
    The quality double is xh_text_quality's mirrored IEEE tree quantized
    to integer micro-units (floor(q*1e6+0.5) — exact ops), so the ranks
    hash-match DuckDB.

    Scale shape: bounded two-level top-K — O(K) accumulator state per
    (language, partition), O(langs x partitions x K) exchange rows, never
    a per-language global sort (the window form sorts a language's ENTIRE
    corpus in one reducer)."""
    from ..functions.text import quality_score
    from ..operators.topk import grouped_topk

    d = tbl(spark, sf_dir, "documents").filter(F.col("text").isNotNull())
    q = d.select(
        "lang",
        "doc_id",
        F.floor(quality_score(F.col("text")) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("q_units"),
    ).withColumn("negq", -F.col("q_units"))
    top = grouped_topk(q.select("lang", "negq", "doc_id"), "lang", "negq", 15,
                       tiebreak_col="doc_id")
    return top.select(
        "lang",
        "doc_id",
        (-F.col("negq")).alias("q_units"),
        "rank",
    ).orderBy("lang", "rank")


# ---------------------------------------------------------------------------
# Cross-document duplicated-span coverage (round 12).

_SPAN_K = 3  # word k-gram width; spans under k tokens use the whole doc


def _span_dedup_oracle() -> str:
    return f"""WITH toks AS MATERIALIZED (
  SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents
),
t AS MATERIALIZED (
  SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0
),
grams AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN n < {_SPAN_K} THEN CAST(n AS BIGINT)
              ELSE {_SPAN_K} END AS span,
         u.pos AS pos,
         ({_H60_SQL.format(s='u.g')}) AS h
  FROM (
    SELECT doc_id, n, unnest(
      CASE WHEN n < {_SPAN_K}
           THEN [struct_pack(pos := 1, g := array_to_string(tk, ' '))]
           ELSE [struct_pack(pos := i,
                             g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 for i in generate_series(1, n - {_SPAN_K} + 1)]
      END) AS u
    FROM t)
),
nd AS (
  SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
),
dup AS (
  SELECT g.doc_id, g.pos, g.span,
         LAG(g.pos) OVER (PARTITION BY g.doc_id ORDER BY g.pos) AS prev
  FROM grams g SEMI JOIN nd USING (h)
),
agg AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_dup_grams,
         CAST(SUM(CASE WHEN prev IS NULL THEN span
                       ELSE LEAST(span, pos - prev) END) AS BIGINT)
           AS covered_tokens
  FROM dup GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(t.n AS BIGINT) AS n_tokens,
       CAST(CASE WHEN t.n < {_SPAN_K} THEN 1
                 ELSE t.n - {_SPAN_K} + 1 END AS BIGINT) AS n_grams,
       COALESCE(a.n_dup_grams, 0) AS n_dup_grams,
       COALESCE(a.covered_tokens, 0) AS covered_tokens,
       (COALESCE(a.covered_tokens, 0) * 1000000) // t.n AS dup_ppm
FROM t LEFT JOIN agg a USING (doc_id)
ORDER BY doc_id"""


@register(
    "xh_span_dedup",
    oracle=_span_dedup_oracle(),
    tags=("llm", "dedup", "span", "oracle-twin"),
)
def xh_span_dedup(spark, sf_dir):
    """Cross-document duplicated-SPAN coverage (round 12) — the
    distributed approximation of suffix-array substring dedup (the
    'train-set memorization' filter): a token position is duplicated if
    it lies inside any word 3-gram that occurs in >= 2 DISTINCT
    documents, and the per-doc duplicated fraction is the EXACT length
    of the union of those overlapping 3-token intervals — computed with
    the sorted-gap identity |union| = sum(min(span, pos - prev_pos))
    (first interval contributes its full span), so no interval is
    double-counted. Differs from xh_ngram_novelty on both axes: it
    measures positional COVERAGE (how much of the text is duplicated,
    not how many distinct shingles are novel) and only cross-doc
    repetition counts (within-doc repeats are xh_repetition's signal).
    Docs shorter than the gram width contribute one whole-doc gram whose
    span is their full length; zero-token docs are excluded (their
    ppm is undefined). Exact integers end-to-end; ppm by truncating
    integer division.

    Scale shape: grams explode ONCE from a localCheckpoint barrier (the
    _shingle_hashes CSE discipline); duplicated grams are ONE uniform
    gram-hash partial agg (HAVING >= 2 distinct docs) and the probe is a
    SEMI join on that same hash; the interval union is a per-doc window
    over dup positions only (bounded by doc length, never corpus-wide);
    the rollup is one doc_id exchange."""
    d = _with_tokens(tbl(spark, sf_dir, "documents"))
    t = d.select("doc_id", "tk", F.size("tk").alias("n")).filter(F.col("n") > 0)
    garr = F.when(
        F.col("n") < _SPAN_K, F.array(F.concat_ws(" ", F.col("tk")))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - _SPAN_K + 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("tk"), i),
                F.element_at(F.col("tk"), i + F.lit(1)),
                F.element_at(F.col("tk"), i + F.lit(2)),
            ),
        )
    )
    g = (
        t.withColumn("__g", garr)  # materialize before the hash lambda (CSE)
        .select(
            "doc_id",
            "n",
            F.when(F.col("n") < _SPAN_K, F.col("n").cast("long"))
            .otherwise(F.lit(_SPAN_K).cast("long"))
            .alias("span"),
            F.transform(F.col("__g"), lambda s: _h60(s)).alias("hs"),
        )
        .localCheckpoint(eager=True)
    )
    grams = g.select(
        "doc_id", "span", F.posexplode("hs").alias("p0", "h")
    ).select("doc_id", "span", (F.col("p0") + 1).alias("pos"), "h")
    nd = grams.groupBy("h").agg(
        F.count_distinct("doc_id").alias("ndocs")
    ).filter(F.col("ndocs") >= 2).select("h")
    from pyspark.sql import Window as _W

    dup = grams.join(nd, "h", "left_semi").withColumn(
        "prev", F.lag("pos").over(_W.partitionBy("doc_id").orderBy("pos"))
    )
    agg = dup.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_grams"),
        F.sum(
            F.when(F.col("prev").isNull(), F.col("span")).otherwise(
                F.least(F.col("span"), F.col("pos") - F.col("prev"))
            )
        ).alias("covered_tokens"),
    )
    return (
        t.select("doc_id", "n")
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n").cast("long").alias("n_tokens"),
            F.when(F.col("n") < _SPAN_K, F.lit(1).cast("long"))
            .otherwise((F.col("n") - _SPAN_K + 1).cast("long"))
            .alias("n_grams"),
            F.coalesce(F.col("n_dup_grams"), F.lit(0)).cast("long").alias("n_dup_grams"),
            F.coalesce(F.col("covered_tokens"), F.lit(0))
            .cast("long")
            .alias("covered_tokens"),
            F.expr(
                "(COALESCE(covered_tokens, 0L) * 1000000L) div n"
            ).alias("dup_ppm"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Normalization-collapsed exact dedup (round 12).

_NORM_SQL = "trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))"


@register(
    "xh_norm_dedup",
    oracle=f"""WITH d AS MATERIALIZED (
  SELECT doc_id, md5(text) AS raw_h,
         ({_H60_SQL.format(s=_NORM_SQL)}) AS norm_h
  FROM documents)
SELECT norm_h,
       CAST(MIN(doc_id) AS BIGINT) AS keep_id,
       CAST(COUNT(*) AS BIGINT) AS n_copies,
       CAST(COUNT(DISTINCT raw_h) AS BIGINT) AS n_raw_variants
FROM d GROUP BY norm_h ORDER BY norm_h""",
    tags=("llm", "dedup", "normalize", "oracle-twin"),
)
def xh_norm_dedup(spark, sf_dir):
    """Normalization-collapsed exact dedup (round 12) — the CCNet /
    RefinedWeb 'fuzzy-exact' pass: canonicalize text (lowercase,
    non-alphanumeric runs to one space, trim) BEFORE hashing, so
    reformatted copies — case changes, punctuation variants, whitespace
    reflow — land in one group that byte-exact dedup (q56) treats as
    distinct documents. Emits every group with its keeper (lowest
    doc_id), copy count, and the count of RAW byte-level variants inside
    the group — n_raw_variants > 1 is precisely the dedup yield that
    normalization buys. The canonicalizer is deliberately ASCII-safe
    JVM/SQL ([^a-z0-9]+ means the same under Java regex and RE2) so both
    engines hash identical canonical strings; full-Unicode NFKC+casefold
    exists as the opt-in ``nfkc_casefold`` path (its pandas UDF has no
    DuckDB mirror, so it stays out of the hash-checked twin).

    Scale shape: one projection (regex + md5, whole-stage codegen) and
    ONE uniform content-hash partial-agg exchange — identical cost to
    exact dedup at any corpus size."""
    d = tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("raw_h"),
        _h60(
            F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
        ).alias("norm_h"),
    )
    return (
        d.groupBy("norm_h")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.count_distinct("raw_h").alias("n_raw_variants"),
        )
        .orderBy("norm_h")
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (round 12).

_WINNOW_K = 3  # word k-gram width (shares the corpus shingle convention)
_WINNOW_W = 4  # winnowing window: one fingerprint per w consecutive grams


def _winnow_oracle() -> str:
    return f"""WITH toks AS MATERIALIZED (
  SELECT doc_id, {_TOKENS_SQL} AS tk FROM documents
),
t AS MATERIALIZED (
  SELECT doc_id, tk, len(tk) AS n FROM toks WHERE len(tk) > 0
),
grams AS MATERIALIZED (
  SELECT doc_id,
         CASE WHEN n < {_WINNOW_K} THEN CAST(1 AS BIGINT)
              ELSE CAST(n - {_WINNOW_K} + 1 AS BIGINT) END AS n_grams,
         u.pos AS pos,
         ({_H60_SQL.format(s='u.g')}) AS h
  FROM (
    SELECT doc_id, n, unnest(
      CASE WHEN n < {_WINNOW_K}
           THEN [struct_pack(pos := 1, g := array_to_string(tk, ' '))]
           ELSE [struct_pack(pos := i,
                             g := tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])
                 for i in generate_series(1, n - {_WINNOW_K} + 1)]
      END) AS u
    FROM t)
),
wmins AS (
  SELECT doc_id, n_grams, pos,
         MIN(h) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW)
           AS fp
  FROM grams
),
fps AS MATERIALIZED (
  SELECT DISTINCT doc_id, n_grams, fp
  FROM wmins WHERE pos >= LEAST({_WINNOW_W}, n_grams)
),
shared AS (
  SELECT fp FROM fps GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2
),
agg AS (
  SELECT f.doc_id,
         ANY_VALUE(f.n_grams) AS n_grams,
         CAST(COUNT(*) AS BIGINT) AS n_fps,
         CAST(SUM(CASE WHEN s.fp IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_fps
  FROM fps f LEFT JOIN shared s USING (fp)
  GROUP BY f.doc_id
)
SELECT doc_id, n_grams, n_fps, n_shared_fps,
       (n_shared_fps * 1000000) // n_fps AS shared_ppm
FROM agg ORDER BY doc_id"""


@register(
    "xh_winnow_fingerprint",
    oracle=_winnow_oracle(),
    tags=("llm", "dedup", "fingerprint", "oracle-twin"),
)
def xh_winnow_fingerprint(spark, sf_dir):
    """Winnowing document fingerprints (round 12) — the MOSS local
    fingerprinting algorithm (Schleimer, Wilkerson, Aiken, SIGMOD '03):
    hash every word 3-gram, slide a window of w=4 consecutive gram
    hashes over each document, and select the minimum hash of every
    window; the distinct selected hashes are the document's fingerprint
    set. Winnowing's guarantee — any shared run of w+k-1 tokens between
    two documents yields at least one shared fingerprint — makes the
    per-doc shared-fingerprint fraction a plagiarism/overlap detector at
    a ~1/w density of the full shingle set (the storage knob full-shingle
    methods like xh_span_dedup lack). Documents shorter than one gram
    contribute their whole text as one gram; with fewer grams than the
    window, the single full-prefix window applies (pos >= least(w,
    n_grams) keeps exactly the valid window ends — window frames clip
    identically in both engines). Sharing is cross-document (>= 2
    DISTINCT docs). Exact integers end-to-end; ppm by truncating
    division.

    Scale shape: grams explode ONCE from a localCheckpoint barrier; the
    window min is per-doc, bounded by doc length, never corpus-wide; the
    fingerprint set then carries ~1/w of the gram volume into ONE uniform
    fp-hash partial agg (HAVING >= 2 distinct docs) whose probe is a
    broadcast-or-shuffle equi join on the same hash; the rollup is one
    doc_id exchange."""
    d = _with_tokens(tbl(spark, sf_dir, "documents"))
    t = d.select("doc_id", "tk", F.size("tk").alias("n")).filter(F.col("n") > 0)
    garr = F.when(
        F.col("n") < _WINNOW_K, F.array(F.concat_ws(" ", F.col("tk")))
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.col("n") - _WINNOW_K + 1),
            lambda i: F.concat_ws(
                " ",
                F.element_at(F.col("tk"), i),
                F.element_at(F.col("tk"), i + F.lit(1)),
                F.element_at(F.col("tk"), i + F.lit(2)),
            ),
        )
    )
    g = (
        t.withColumn("__g", garr)  # materialize before the hash lambda (CSE)
        .select(
            "doc_id",
            F.when(F.col("n") < _WINNOW_K, F.lit(1).cast("long"))
            .otherwise((F.col("n") - _WINNOW_K + 1).cast("long"))
            .alias("n_grams"),
            F.transform(F.col("__g"), lambda s: _h60(s)).alias("hs"),
        )
        .localCheckpoint(eager=True)
    )
    grams = g.select(
        "doc_id", "n_grams", F.posexplode("hs").alias("p0", "h")
    ).select("doc_id", "n_grams", (F.col("p0") + 1).alias("pos"), "h")
    from pyspark.sql import Window as _W

    win = (
        _W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(-(_WINNOW_W - 1), 0)
    )
    fps = (
        grams.withColumn("fp", F.min("h").over(win))
        .filter(F.col("pos") >= F.least(F.lit(_WINNOW_W), F.col("n_grams")))
        .select("doc_id", "n_grams", "fp")
        .distinct()
    )
    shared = (
        fps.groupBy("fp")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("fp", F.lit(1).alias("is_shared"))
    )
    agg = (
        fps.join(shared, "fp", "left")
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.count(F.lit(1)).alias("n_fps"),
            F.sum(F.coalesce(F.col("is_shared"), F.lit(0)))
            .cast("long")
            .alias("n_shared_fps"),
        )
    )
    return agg.select(
        "doc_id",
        "n_grams",
        F.col("n_fps").cast("long").alias("n_fps"),
        "n_shared_fps",
        F.expr("(n_shared_fps * 1000000L) div n_fps").alias("shared_ppm"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# LSH candidate-stage recall/precision audit (round 12).

_EVAL_MAX_ID = 200  # bounded audit subset (sampled in a real corpus)


def _lsh_recall_oracle() -> str:
    shingles_subset = _SHINGLES_SQL.replace(
        "FROM documents", f"FROM documents WHERE doc_id < {_EVAL_MAX_ID}"
    )
    return f"""WITH {shingles_subset},
sig AS MATERIALIZED (
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM sh
),
bands AS (
  {_BANDS_SQL}
),
cand AS MATERIALIZED (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
   AND a.doc_id < b.doc_id
),
inv AS MATERIALIZED (
  SELECT doc_id, unnest(hs) AS h FROM sh
),
touch AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
),
exact AS MATERIALIZED (
  SELECT t.id_a, t.id_b
  FROM touch t
  JOIN sh x ON t.id_a = x.doc_id
  JOIN sh y ON t.id_b = y.doc_id
  WHERE 10 * len(list_intersect(x.hs, y.hs))
        >= 7 * (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))
),
u AS (
  SELECT COALESCE(e.id_a, c.id_a) AS id_a,
         (e.id_a IS NOT NULL) AS is_exact,
         (c.id_a IS NOT NULL) AS is_cand
  FROM exact e FULL JOIN cand c ON e.id_a = c.id_a AND e.id_b = c.id_b
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sh) AS n_docs,
       CAST(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT) AS n_cand,
       CAST(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END) AS BIGINT)
         AS tp,
       CAST(SUM(CASE WHEN is_cand AND NOT is_exact THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(SUM(CASE WHEN is_exact AND NOT is_cand THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(CASE WHEN SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) = 0
                 THEN 1000000
                 ELSE SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END)
                      * 1000000
                      // SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) END
            AS BIGINT) AS precision_ppm,
       CAST(CASE WHEN SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) = 0
                 THEN 1000000
                 ELSE SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END)
                      * 1000000
                      // SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) END
            AS BIGINT) AS recall_ppm
FROM u"""


@register(
    "xh_lsh_recall_eval",
    oracle=_lsh_recall_oracle(),
    tags=("llm", "dedup", "eval", "oracle-twin"),
)
def xh_lsh_recall_eval(spark, sf_dir):
    """LSH candidate-stage quality audit (round 12) — the harness that
    answers "are 4 bands x r=2 enough?" with MEASUREMENT instead of the
    S-curve rule of thumb: on a bounded audit subset (doc_id < 200;
    a uniform sample in a real corpus) compute the EXACT Jaccard >= 0.7
    pair set and the banded candidate pair set with the production
    MinHash parameters (same RandomState(42) permutations as
    operators/dedup.py), then emit one summary row of tp/fp/fn and
    integer-ppm precision/recall. Recall < 1e6 here means the band
    configuration is missing true near-dups AT ANY SCALE (the
    signature math is scale-free), which is exactly when to add bands
    or widen rows — the documented tuning loop for the 100 TB dedup
    pass. Empty-set conventions: precision/recall define to 1e6 when
    their denominator is empty (vacuously perfect), mirrored in both
    engines.

    Scale shape: everything is subset-bounded by construction; the
    exact side joins docs through an inverted shingle index (pairs
    sharing >= 1 shingle — a J >= 0.7 pair always shares one), never a
    cross join; the candidate side is the production band-key equi
    join; the shingle frame checkpoints once and feeds signatures,
    the inverted index, and both verify sides."""
    d = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < _EVAL_MAX_ID)
    sh = _shingle_hashes(d).localCheckpoint(eager=True)
    sig = sh.select("doc_id", *[_sig_col(i) for i in range(_K)])
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.col(f"s{2 * b}").alias("h1"),
                F.col(f"s{2 * b + 1}").alias("h2"),
            )
            for b in range(_BANDS)
        ]
    )
    bands = sig.select("doc_id", F.explode(band_structs).alias("bd")).select(
        "doc_id", "bd.band", "bd.h1", "bd.h2"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.h1") == F.col("b.h1"))
            & (F.col("a.h2") == F.col("b.h2"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .withColumn("is_cand", F.lit(True))
    )
    inv = sh.select("doc_id", F.explode("hs").alias("h"))
    ia, ib = inv.alias("ia"), inv.alias("ib")
    touch = (
        ia.join(
            ib,
            (F.col("ia.h") == F.col("ib.h"))
            & (F.col("ia.doc_id") < F.col("ib.doc_id")),
        )
        .select(
            F.col("ia.doc_id").alias("id_a"), F.col("ib.doc_id").alias("id_b")
        )
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("id_a"), F.col("hs").alias("__ha"))
    y = sh.select(F.col("doc_id").alias("id_b"), F.col("hs").alias("__hb"))
    inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    union_ = F.size("__ha") + F.size("__hb") - inter
    exact = (
        touch.join(x, "id_a")
        .join(y, "id_b")
        .filter(F.lit(10) * inter >= F.lit(7) * union_)
        .select("id_a", "id_b")
        .withColumn("is_exact", F.lit(True))
    )
    u = exact.join(cand, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("is_exact"), F.lit(False)).alias("is_exact"),
        F.coalesce(F.col("is_cand"), F.lit(False)).alias("is_cand"),
    )
    n_docs = sh.count()
    return u.agg(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.sum(F.when(F.col("is_exact"), 1).otherwise(0))
        .cast("long")
        .alias("n_exact"),
        F.sum(F.when(F.col("is_cand"), 1).otherwise(0))
        .cast("long")
        .alias("n_cand"),
        F.sum(F.when(F.col("is_exact") & F.col("is_cand"), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when(F.col("is_cand") & ~F.col("is_exact"), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when(F.col("is_exact") & ~F.col("is_cand"), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.expr(
            "CASE WHEN SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) = 0"
            "     THEN 1000000L"
            "     ELSE SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END)"
            "          * 1000000L"
            "          div SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) END"
        ).alias("precision_ppm"),
        F.expr(
            "CASE WHEN SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) = 0"
            "     THEN 1000000L"
            "     ELSE SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END)"
            "          * 1000000L"
            "          div SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) END"
        ).alias("recall_ppm"),
    )


@register(
    "xh_source_dup_matrix",
    oracle="""WITH cs AS MATERIALIZED (
  SELECT md5(text) AS ch, source, MIN(doc_id) AS first_id
  FROM documents GROUP BY md5(text), source)
SELECT a.source AS src_a, b.source AS src_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared,
       CAST(SUM(CASE WHEN a.first_id < b.first_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_a_first,
       CAST(SUM(CASE WHEN b.first_id < a.first_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_b_first
FROM cs a JOIN cs b ON a.ch = b.ch AND a.source < b.source
GROUP BY a.source, b.source
ORDER BY src_a, src_b""",
    tags=("llm", "dedup", "provenance", "oracle-twin"),
)
def xh_source_dup_matrix(spark, sf_dir):
    """Cross-source exact-duplicate matrix with first-seen attribution
    (round 12) — the 'who copies whom' dashboard behind crawl-source
    triage: for every source pair, how many distinct CONTENTS appear in
    both, and which source saw each shared content first (minimum
    doc_id — ingestion order in the fixture convention). A pair where
    n_a_first dominates says b is largely re-serving a's content —
    drop-or-deprioritize evidence the scalar dup-rate
    (xh_dup_rate_by_source) can't give, and the content-identity
    complement of xh_source_overlap's vocabulary view.

    Scale shape: the corpus collapses to one row per DISTINCT
    (content-hash, source) with its min doc_id — ONE uniform exchange;
    the self-join joins those collapsed rows on the hash, so per-hash
    fan-out is bounded by sources^2 (domain cardinality, never corpus
    size); the pair rollup is sources^2-bounded."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    cs = (
        tbl(spark, sf_dir, "documents")
        .repartition(n_parts, "doc_id")
        .groupBy(F.md5("text").alias("ch"), F.col("source"))
        .agg(F.min("doc_id").alias("first_id"))
    )
    a = cs.select(
        "ch", F.col("source").alias("src_a"), F.col("first_id").alias("fa")
    )
    b = cs.select(
        "ch", F.col("source").alias("src_b"), F.col("first_id").alias("fb")
    )
    return (
        a.join(b, "ch")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_shared"),
            F.sum(F.when(F.col("fa") < F.col("fb"), 1).otherwise(0))
            .cast("long")
            .alias("n_a_first"),
            F.sum(F.when(F.col("fb") < F.col("fa"), 1).otherwise(0))
            .cast("long")
            .alias("n_b_first"),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# Multi-signal dedup consolidation (round 12).


def _multi_signal_oracle() -> str:
    return f"""WITH RECURSIVE {_SHINGLES_SQL},
sig AS MATERIALIZED (
  SELECT doc_id,
         {_SIG_COLS_SQL}
  FROM sh
),
bands AS (
  {_BANDS_SQL}
),
near AS MATERIALIZED (
  SELECT c.id_a, c.id_b
  FROM (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.h1 = b.h1 AND a.h2 = b.h2
         AND a.doc_id < b.doc_id) c
  JOIN sh x ON c.id_a = x.doc_id
  JOIN sh y ON c.id_b = y.doc_id
  WHERE 10 * len(list_intersect(x.hs, y.hs))
        >= 7 * (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)))
),
ch AS MATERIALIZED (
  SELECT doc_id, md5(text) AS ch FROM documents),
grp AS MATERIALIZED (
  SELECT ch, MIN(doc_id) AS keep, COUNT(*) AS n FROM ch GROUP BY ch),
exact AS MATERIALIZED (
  SELECT g.keep AS id_a, c.doc_id AS id_b
  FROM ch c JOIN grp g USING (ch) WHERE c.doc_id <> g.keep),
all_edges AS MATERIALIZED (
  SELECT id_a, id_b FROM near UNION SELECT id_a, id_b FROM exact),
edges AS MATERIALIZED (
  SELECT id_a AS u, id_b AS v FROM all_edges
  UNION SELECT id_b, id_a FROM all_edges),
reach(u, v) AS (
  SELECT doc_id, doc_id FROM ch
  UNION
  SELECT r.u, e.v FROM reach r JOIN edges e ON e.u = r.v
)
SELECT r.u AS doc_id,
       CAST(MIN(r.v) AS BIGINT) AS cluster_id,
       CAST(MAX(CASE WHEN g.n > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS is_exact_dup,
       CAST(MAX(CASE WHEN nn.doc_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS is_near_dup
FROM reach r
JOIN ch c ON c.doc_id = r.u
JOIN grp g USING (ch)
LEFT JOIN (SELECT id_a AS doc_id FROM near
           UNION SELECT id_b FROM near) nn ON nn.doc_id = r.u
GROUP BY r.u ORDER BY doc_id"""


def _multi_signal_edges(spark, sf_dir):
    """The multi-signal dedup edge set, factored out (round 18) so a
    probe can reach the SAME edges the production query consolidates. Returns (chg, near, pairs): the checkpointed
    content-hash frame (doc_id, ch, keep, n — reused by the provenance
    flags), the checkpointed verified LSH near-dup pairs, and the
    exact-star ∪ near edge union the CC runs on."""
    d = tbl(spark, sf_dir, "documents")
    ch = d.select("doc_id", F.md5("text").alias("ch"))
    grp = ch.groupBy("ch").agg(
        F.min("doc_id").alias("keep"), F.count(F.lit(1)).alias("n")
    )
    chg = ch.join(grp, "ch").localCheckpoint(eager=True)  # reused 3x
    exact = chg.filter(F.col("doc_id") != F.col("keep")).select(
        F.col("keep").alias("id_a"), F.col("doc_id").alias("id_b")
    )
    near = (
        xh_minhash_lsh_pairs(spark, sf_dir)
        .select("id_a", "id_b")
        .localCheckpoint(eager=True)  # feeds the union AND the flag probe
    )
    return chg, near, exact.unionByName(near).distinct()


@register(
    "xh_multi_signal_dedup",
    oracle=_multi_signal_oracle(),
    tags=("llm", "dedup", "components", "oracle-twin"),
)
def xh_multi_signal_dedup(spark, sf_dir):
    """Multi-signal dedup consolidation (round 12) — the step that turns
    the separate dedup detectors into ONE keep/drop decision: exact-dup
    edges (content md5, star-shaped group-min->member) UNION the
    verified MinHash+LSH near-dup pairs (the production 4-band
    signatures + exact Jaccard >= 0.7 check, composed from
    xh_minhash_lsh_pairs' own function) form a single graph; every doc
    gets the MIN doc_id of its connected component as cluster_id — the
    canonical representative a writer keeps — plus per-doc provenance
    flags saying WHICH signal implicated it (is_exact_dup /
    is_near_dup), the triage columns a curation dashboard needs when
    the two detectors disagree. A reformatted near-copy chains to its
    source's exact-dup group through the union, which neither signal
    alone clusters — the reason this op exists.

    Scale shape: every component is the already-audited scale plan —
    exact edges are one content-hash exchange emitting star edges
    (never within-group quadratic), near edges are the band-bucket
    join, and the consolidation is O(log diameter) pointer-jumping CC
    (operators/components.py) over edge counts linear in dup volume;
    the provenance flags are two hash-keyed probes. Oracle: DuckDB
    recursive min-reachability over the identical edge set."""
    from ..operators.components import dedup_clusters

    d = tbl(spark, sf_dir, "documents")
    chg, near, pairs = _multi_signal_edges(spark, sf_dir)
    clusters = dedup_clusters(pairs, nodes=d.select("doc_id"))
    near_docs = (
        near.select(F.col("id_a").alias("doc_id"))
        .unionByName(near.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("__near", F.lit(1))
    )
    return (
        clusters.join(
            chg.select("doc_id", (F.col("n") > 1).cast("int").alias("__ex")),
            "doc_id",
        )
        .join(near_docs, "doc_id", "left")
        .select(
            "doc_id",
            F.col("cluster_id").cast("long").alias("cluster_id"),
            F.col("__ex").cast("long").alias("is_exact_dup"),
            F.coalesce(F.col("__near"), F.lit(0))
            .cast("long")
            .alias("is_near_dup"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Directional containment audit (round 13).

_CONT_MAX_ID = 300  # bounded audit subset (sampled in a real corpus)


def _containment_oracle() -> str:
    shingles_subset = _SHINGLES_SQL.replace(
        "FROM documents", f"FROM documents WHERE doc_id < {_CONT_MAX_ID}"
    )
    return f"""WITH {shingles_subset},
inv AS (SELECT doc_id, unnest(hs) AS h FROM sh),
touch AS (
  SELECT DISTINCT ia.doc_id AS id_a, ib.doc_id AS id_b
  FROM inv ia JOIN inv ib ON ia.h = ib.h AND ia.doc_id <> ib.doc_id),
x AS (
  SELECT t.id_a, t.id_b,
         len(list_intersect(a.hs, b.hs)) AS inter,
         len(a.hs) AS size_a, len(b.hs) AS size_b
  FROM touch t
  JOIN sh a ON a.doc_id = t.id_a
  JOIN sh b ON b.doc_id = t.id_b)
SELECT id_a, id_b,
       CAST(size_a AS BIGINT) AS size_a,
       CAST(size_b AS BIGINT) AS size_b,
       CAST(inter AS BIGINT) AS n_shared,
       CAST(inter * 1000000 // size_a AS BIGINT) AS containment_ppm
FROM x WHERE inter * 10 >= size_a * 7
ORDER BY containment_ppm DESC, id_a, id_b LIMIT 50"""


@register(
    "xh_containment_pairs",
    oracle=_containment_oracle(),
    tags=("llm", "dedup", "containment", "oracle-twin"),
)
def xh_containment_pairs(spark, sf_dir):
    """Directional shingle containment audit (round 13) — Broder's
    OTHER resemblance measure: containment(A in B) = |A ∩ B| / |A|,
    which catches the asymmetric duplication Jaccard underreports (a
    short doc quoted whole inside a long one scores near-zero Jaccard
    but containment 1.0 — quote extraction, boilerplate wrappers,
    aggregation pages). Emits directed pairs at containment >= 0.7
    (integer cross-multiplied threshold, exact ppm), top-50. A planted
    verbatim-substring pair is pinned at 1e6 ppm in
    tests/test_curation_props.py.

    Scale shape: subset-bounded audit by construction (doc_id < 300
    stands in for a uniform sample — the xh_lsh_recall_eval
    discipline); candidates come through the inverted shingle-index
    equi join (a >= 0.7-contained doc always shares a shingle), never a
    cross join. The audit's production counterpart for containment-
    class dups at full corpus scale is chunk-level CDC dedup
    (xh_cdc_dedup) + duplicated-span coverage (xh_span_dedup), whose
    chunk hashes catch contained spans without pairwise set math; this
    op is the measurement loop that tells you how much directional
    duplication those passes should be finding."""
    d = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < _CONT_MAX_ID)
    sh = _shingle_hashes(d).localCheckpoint(eager=True)
    inv = sh.select("doc_id", F.explode("hs").alias("h"))
    ia, ib = inv.alias("ia"), inv.alias("ib")
    touch = (
        ia.join(
            ib,
            (F.col("ia.h") == F.col("ib.h"))
            & (F.col("ia.doc_id") != F.col("ib.doc_id")),
        )
        .select(
            F.col("ia.doc_id").alias("id_a"), F.col("ib.doc_id").alias("id_b")
        )
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("id_a"), F.col("hs").alias("__ha"))
    y = sh.select(F.col("doc_id").alias("id_b"), F.col("hs").alias("__hb"))
    inter = F.size(F.array_intersect(F.col("__ha"), F.col("__hb")))
    return (
        touch.join(x, "id_a")
        .join(y, "id_b")
        .select(
            "id_a",
            "id_b",
            F.size("__ha").cast("long").alias("size_a"),
            F.size("__hb").cast("long").alias("size_b"),
            inter.cast("long").alias("n_shared"),
        )
        .filter(F.col("n_shared") * 10 >= F.col("size_a") * 7)
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            "n_shared",
            F.expr("CAST(n_shared * 1000000 div size_a AS BIGINT)").alias(
                "containment_ppm"
            ),
        )
        .orderBy(F.col("containment_ppm").desc(), "id_a", "id_b")
        .limit(50)
    )


# The production edit-block knobs — the values the round-17 edit-block
# sweep's recorded decision rule chose (recall floor 0.99, then min candidate
# volume): 16-char end keys + width-8 length bands measure planted
# recall 0.990 at 779 candidates on the sweep corpus, vs 0.54/668 for
# the r16 home-band 12-char-prefix block and 0.996/2782 for the
# max-recall corner.
_EDIT_KEY_LEN = 16
_EDIT_BAND_W = 8


def _edit_block_frames(spark, sf_dir, max_id=None):
    """(probe, home) frames for the production edit-neardup block
    (round 17 — config CHOSEN FROM MEASUREMENT, VERDICT r16 #4): the
    probe side explodes each doc
    to its <= 2 possible partner length bands (l div W and
    (l+3) div W — a dist<=3 partner's length is in [l, l+3], so the
    SHORTER side's probes cover the partner's home band BY
    CONSTRUCTION, eliminating the band-boundary miss class the r16
    home-band block declared), and both sides carry K-char PREFIX and
    SUFFIX keys (candidates = prefix-pass UNION suffix-pass; an edit
    rarely touches both ends). K/W above, from the sweep's recorded
    decision rule."""
    d = tbl(spark, sf_dir, "documents")
    if max_id is not None:
        d = d.filter(F.col("doc_id") < max_id)
    d = d.select("doc_id", F.lower("text").alias("t")).withColumn(
        "l", F.length("t").cast("long")
    )
    keys = [
        F.substring("t", 1, _EDIT_KEY_LEN).alias("pb"),
        F.substring(F.reverse(F.col("t")), 1, _EDIT_KEY_LEN).alias("sb"),
    ]
    home = d.select(
        F.col("doc_id").alias("id_r"),
        F.col("t").alias("t_r"),
        F.col("l").alias("l_r"),
        F.substring("t", 1, _EDIT_KEY_LEN).alias("pb_r"),
        F.substring(F.reverse(F.col("t")), 1, _EDIT_KEY_LEN).alias("sb_r"),
        F.expr(f"CAST(l div {_EDIT_BAND_W} AS BIGINT)").alias("bk"),
    )
    probe = d.select(
        "doc_id",
        "t",
        "l",
        *keys,
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"CAST(l div {_EDIT_BAND_W} AS BIGINT)"),
                    F.expr(f"CAST((l + 3) div {_EDIT_BAND_W} AS BIGINT)"),
                )
            )
        ).alias("bk"),
    )
    return probe, home


def _edit_block_pairs(probe, home, verify_dist=None):
    """Blocked candidate pairs (id_a < id_b) from the two key passes;
    with ``verify_dist`` set, the banded levenshtein verify runs
    MAP-SIDE on each pass's join output BEFORE the cross-pass distinct
    (the xh_fuzzy_match discipline: the dedup exchange carries only
    integer rows for pairs that already passed, never the texts)."""
    shorter_first = (F.col("l") < F.col("l_r")) | (
        (F.col("l") == F.col("l_r")) & (F.col("doc_id") < F.col("id_r"))
    )

    # exact-duplicate fast path: replicated/boilerplate corpora make
    # EQUAL texts the dominant blocked pair class (the sf1 fixtures are
    # the extreme: 10-way verbatim payload replication), and an O(len)
    # equality check beats the O(threshold*len) banded DP there —
    # measured 37.5 -> ~17 s warm at sf1 for identical output (lev of
    # equal strings is 0 by definition; the oracle keeps plain
    # levenshtein and hash-matches).
    dist_col = F.when(F.col("t") == F.col("t_r"), F.lit(0).cast("int")).otherwise(
        F.levenshtein("t", "t_r", verify_dist if verify_dist is not None else 0)
    )

    def one_pass(key, key_r):
        j = probe.join(
            home,
            (probe["bk"] == home["bk"])
            & (F.col(key) == F.col(key_r))
            & shorter_first,
        )
        out = j.select(
            F.least("doc_id", "id_r").alias("id_a"),
            F.greatest("doc_id", "id_r").alias("id_b"),
            *(
                [dist_col.cast("long").alias("dist")]
                if verify_dist is not None
                else []
            ),
        )
        if verify_dist is not None:
            out = out.filter(F.col("dist") >= 0)  # banded kernel: -1 past bound
        return out

    return one_pass("pb", "pb_r").unionByName(one_pass("sb", "sb_r")).distinct()


@register(
    "xh_edit_neardup",
    oracle=f"""WITH d AS MATERIALIZED (
  SELECT doc_id, lower(text) AS t,
         CAST(length(lower(text)) AS BIGINT) AS l,
         substr(lower(text), 1, {_EDIT_KEY_LEN}) AS pb,
         substr(reverse(lower(text)), 1, {_EDIT_KEY_LEN}) AS sb
  FROM documents),
cand AS (
  SELECT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b,
         a.t AS t_a, b.t AS t_b
  FROM d a JOIN d b
    ON b.l // {_EDIT_BAND_W} IN (a.l // {_EDIT_BAND_W}, (a.l + 3) // {_EDIT_BAND_W})
   AND a.pb = b.pb
   AND (a.l < b.l OR (a.l = b.l AND a.doc_id < b.doc_id))
  UNION
  SELECT least(a.doc_id, b.doc_id), greatest(a.doc_id, b.doc_id),
         a.t, b.t
  FROM d a JOIN d b
    ON b.l // {_EDIT_BAND_W} IN (a.l // {_EDIT_BAND_W}, (a.l + 3) // {_EDIT_BAND_W})
   AND a.sb = b.sb
   AND (a.l < b.l OR (a.l = b.l AND a.doc_id < b.doc_id)))
SELECT id_a, id_b, CAST(levenshtein(t_a, t_b) AS BIGINT) AS dist
FROM cand WHERE levenshtein(t_a, t_b) <= 3
ORDER BY id_a, id_b""",
    tags=("llm", "dedup", "edit-distance", "oracle-twin"),
)
def xh_edit_neardup(spark, sf_dir):
    """Edit-distance near-duplicate audit (round 15; blocking upgraded
    round 17 FROM MEASUREMENT): document pairs within Levenshtein
    distance 3 — the typo/OCR/whitespace-mutation duplicate class that
    token-level MinHash under-scores (one character edit barely moves a
    shingle set's Jaccard, but a curation pass wants these pairs
    surfaced as near-verbatim copies). Both engines compute the classic
    unit-cost Levenshtein (Spark `levenshtein`, DuckDB `levenshtein`),
    so distances are exact integers — hash-identical.

    Scale shape: never all-pairs — TWO banded equi-join passes
    (_edit_block_frames/_edit_block_pairs): the shorter side probes its
    <= 2 possible partner length bands (covers any dist<=3 partner's
    band by construction — no boundary miss class), keyed by the
    16-char (_EDIT_KEY_LEN) PREFIX in one pass and the 16-char SUFFIX
    in the other (an
    edit rarely touches both ends; the 2-band LSH analog). The round-17
    sweep chose it (VERDICT r16 #4, rule: recall floor 0.99 then min
    candidate volume): this block
    measures planted-recall 0.990 at 779 candidates vs 0.54 at 668 for
    the r16 single-pass home-band prefix block (max-recall corner:
    0.996 at 2782 — 3.6x the candidates for +0.006 recall); the
    REMAINING declared miss class — edits touching both the first and
    last _EDIT_KEY_LEN=16 chars — is pinned as counted-fn by the planted tests and
    measured on the production corpus by xh_edit_recall_eval. The
    banded O(3*len) verify runs map-side on each pass's join output, so
    the cross-pass distinct exchange carries only (id_a, id_b, dist)
    integer rows; block joins are plain equi joins (uniform exchanges);
    the within-block quadratic is class-bounded, linear in the corpus
    (C(10,2) per class on the 10-way sf1 replication)."""
    probe, home = _edit_block_frames(spark, sf_dir)
    return _edit_block_pairs(probe, home, verify_dist=3).orderBy("id_a", "id_b")


_EDIT_EVAL_MAX_ID = 300  # bounded audit subset (sampled in a real corpus)

_EDIT_RECALL_ORACLE = """WITH d AS MATERIALIZED (
  SELECT doc_id, lower(text) AS t,
         CAST(length(lower(text)) AS BIGINT) AS l
  FROM documents WHERE doc_id < 300),
ex AS MATERIALIZED (
  SELECT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b
  FROM d a JOIN d b
    ON b.l BETWEEN a.l AND a.l + 3
   AND (a.l < b.l OR (a.l = b.l AND a.doc_id < b.doc_id))
  WHERE levenshtein(a.t, b.t) <= 3),
cd AS MATERIALIZED (
  SELECT least(a.doc_id, b.doc_id) AS id_a,
         greatest(a.doc_id, b.doc_id) AS id_b
  FROM d a JOIN d b
    ON b.l // {W} IN (a.l // {W}, (a.l + 3) // {W})
   AND (substr(a.t, 1, {K}) = substr(b.t, 1, {K})
        OR substr(reverse(a.t), 1, {K}) = substr(reverse(b.t), 1, {K}))
   AND (a.l < b.l OR (a.l = b.l AND a.doc_id < b.doc_id))),
u AS (
  SELECT COALESCE(e.is_e, FALSE) AS is_exact,
         COALESCE(c.is_c, FALSE) AS is_cand
  FROM (SELECT id_a, id_b, TRUE AS is_e FROM ex) e
  FULL OUTER JOIN (SELECT id_a, id_b, TRUE AS is_c FROM cd) c
  USING (id_a, id_b))
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM d) AS n_docs,
       CAST(COALESCE(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_exact,
       CAST(COALESCE(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_cand,
       CAST(COALESCE(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END), 0) AS BIGINT) AS tp,
       CAST(COALESCE(SUM(CASE WHEN is_cand AND NOT is_exact THEN 1 ELSE 0 END), 0) AS BIGINT) AS fp,
       CAST(COALESCE(SUM(CASE WHEN is_exact AND NOT is_cand THEN 1 ELSE 0 END), 0) AS BIGINT) AS fn,
       CAST(CASE WHEN COALESCE(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END), 0) = 0
                 THEN 1000000
                 ELSE COALESCE(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END), 0)
                      * 1000000
                      // SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) END AS BIGINT)
           AS precision_ppm,
       CAST(CASE WHEN COALESCE(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END), 0) = 0
                 THEN 1000000
                 ELSE COALESCE(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END), 0)
                      * 1000000
                      // SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) END AS BIGINT)
           AS recall_ppm
FROM u""".format(W=_EDIT_BAND_W, K=_EDIT_KEY_LEN)


@register(
    "xh_edit_recall_eval",
    oracle=_EDIT_RECALL_ORACLE,
    tags=("llm", "dedup", "eval", "edit-distance", "oracle-twin"),
)
def xh_edit_recall_eval(spark, sf_dir):
    """Blocking-recall audit for the edit-distance near-dup pass
    (round 16; VERDICT r15 #3 — the xh_lsh_recall_eval discipline
    applied to xh_edit_neardup): the production blocking DECLARES a
    recall trade, and this op turns the declaration into a NUMBER. On a
    bounded audit subset (doc_id < 300; a uniform sample in a real
    corpus) it computes the EXACT Levenshtein <= 3 pair set and the
    production blocked candidate pair set, then emits one summary row
    of tp/fp/fn and integer-ppm precision/recall. Since round 17 the
    candidate side is the MEASURED window-probe prefix-UNION-suffix
    block (VERDICT r16 #4 — this very audit's sweep chose it: planted recall 0.990 vs 0.54 for the r16
    home-band prefix block), whose one remaining declared miss class —
    an edit touching BOTH the first and last _EDIT_KEY_LEN=16 chars — is pinned as
    counted-fn by the planted tests in tests/test_curation_props.py,
    never silently dropped.

    Scale shape: subset-bounded by construction. The exact side never
    cross-joins: a dist <= 3 pair differs in length by <= 3, so
    candidates come from a LENGTH-WINDOW equi join (each doc explodes
    to 4 integer length keys l..l+3 and joins docs of exactly that
    length; orientation fixed shorter-first, ties by id, so each
    unordered pair matches exactly once) and the banded 3-arg
    levenshtein kernel verifies. The candidate side is the production
    block-key equi join. Empty-set conventions: precision/recall
    define to 1e6 on an empty denominator (vacuously perfect),
    mirrored in both engines."""
    return _edit_recall_frame(spark, sf_dir, max_id=_EDIT_EVAL_MAX_ID)


def _edit_recall_frame(spark, sf_dir, max_id=None):
    """xh_edit_recall_eval's body with a parametrizable audit bound
    (round 18, VERDICT r17 #5): max_id=None audits the FULL corpus, the
    block's ORGANIC miss rate next to the planted sweep number (organic
    recall 1.000000 at sf0.1 and sf1 in round 18). The registered query
    keeps the
    doc_id < 300 subset (its DuckDB oracle mirrors that bound)."""
    d = tbl(spark, sf_dir, "documents")
    if max_id is not None:
        d = d.filter(F.col("doc_id") < max_id)
    d = (
        d.select("doc_id", F.lower("text").alias("t"))
        .withColumn("l", F.length("t").cast("long"))
        .localCheckpoint(eager=True)
    )
    # exact side: length-window candidates, banded levenshtein verify
    probe = d.select(
        "doc_id", "t", "l",
        F.explode(
            F.array(*[F.col("l") + F.lit(i) for i in range(4)])
        ).alias("lk"),
    )
    right = d.select(
        F.col("doc_id").alias("id_r"),
        F.col("t").alias("t_r"),
        F.col("l").alias("l_r"),
    )
    dist = F.levenshtein(F.col("t"), F.col("t_r"), 3)
    exact = (
        probe.join(
            right,
            (F.col("lk") == F.col("l_r"))
            & (
                (F.col("l") < F.col("l_r"))
                | ((F.col("l") == F.col("l_r")) & (F.col("doc_id") < F.col("id_r")))
            ),
        )
        .filter(dist >= 0)  # banded kernel returns -1 past the bound
        .select(
            F.least("doc_id", "id_r").alias("id_a"),
            F.greatest("doc_id", "id_r").alias("id_b"),
        )
        .withColumn("is_exact", F.lit(True))
    )
    # candidate side: the PRODUCTION block (xh_edit_neardup — since
    # round 17 the measured window-probe prefix-UNION-suffix block),
    # unverified pairs
    bprobe, bhome = _edit_block_frames(spark, sf_dir, max_id=max_id)
    cand = _edit_block_pairs(bprobe, bhome).withColumn(
        "is_cand", F.lit(True)
    )
    u = exact.join(cand, ["id_a", "id_b"], "full_outer").select(
        F.coalesce(F.col("is_exact"), F.lit(False)).alias("is_exact"),
        F.coalesce(F.col("is_cand"), F.lit(False)).alias("is_cand"),
    )
    n_docs = d.count()
    return u.agg(
        F.lit(n_docs).cast("long").alias("n_docs"),
        F.coalesce(F.sum(F.when(F.col("is_exact"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_exact"),
        F.coalesce(F.sum(F.when(F.col("is_cand"), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_cand"),
        F.coalesce(
            F.sum(F.when(F.col("is_exact") & F.col("is_cand"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("is_cand") & ~F.col("is_exact"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("fp"),
        F.coalesce(
            F.sum(F.when(F.col("is_exact") & ~F.col("is_cand"), 1).otherwise(0)),
            F.lit(0),
        )
        .cast("long")
        .alias("fn"),
        F.expr(
            "CASE WHEN COALESCE(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END), 0) = 0"
            "     THEN 1000000L"
            "     ELSE COALESCE(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END), 0)"
            "          * 1000000L"
            "          div SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) END"
        ).alias("precision_ppm"),
        F.expr(
            "CASE WHEN COALESCE(SUM(CASE WHEN is_exact THEN 1 ELSE 0 END), 0) = 0"
            "     THEN 1000000L"
            "     ELSE COALESCE(SUM(CASE WHEN is_exact AND is_cand THEN 1 ELSE 0 END), 0)"
            "          * 1000000L"
            "          div SUM(CASE WHEN is_exact THEN 1 ELSE 0 END) END"
        ).alias("recall_ppm"),
    )
