"""Behavioral invariants of the round-7 curation operators — properties
the oracle hash check can't express because they compare runs across
DIFFERENT corpora:

- weighted mix: keep/drop decisions are append-stable (growing the corpus
  never flips an earlier decision),
- consistent sample: bottom-k-by-hash is subset-stable under growth
  (survivors of the grown corpus that existed before were all in the
  original sample),
- chunk dedup: a planted full copy of an existing document contributes
  ZERO kept chunks (every chunk already occurred at a lower doc_id).

These are exactly the guarantees a training pipeline relies on when the
corpus is re-curated after a new crawl lands.
"""

import shutil

import pytest
from pyspark.sql import functions as F

from hadoop_copier_spark.queries import REGISTRY
from hadoop_copier_spark.tables import load_table


@pytest.fixture(scope="module")
def grown_corpus(spark, sf_smoke, tmp_path_factory):
    """Two corpus dirs: A = sf0.001 documents as-is; B = A plus appended
    rows (fresh doc_ids: a full copy of an existing doc and two novel
    docs). Returns (dir_a, dir_b, copied_src_id, new_ids)."""
    base = load_table(spark, sf_smoke, "documents")
    root = tmp_path_factory.mktemp("grown")
    dir_a, dir_b = str(root / "a"), str(root / "b")
    base.write.parquet(f"{dir_a}/documents.parquet")

    max_id = base.agg(F.max("doc_id")).collect()[0][0]
    src = base.orderBy("doc_id").limit(1).collect()[0]
    extra = spark.createDataFrame(
        [
            (max_id + 1, src.text, src.lang, src.source, src.n_chars),
            (max_id + 2, "novel tokens appended row one", "en", "srcX", 29),
            (max_id + 3, "novel tokens appended row two", "fr", "srcX", 29),
        ],
        schema=base.schema,
    )
    base.unionByName(extra).write.parquet(f"{dir_b}/documents.parquet")
    yield dir_a, dir_b, src.doc_id, {max_id + 1, max_id + 2, max_id + 3}
    shutil.rmtree(str(root), ignore_errors=True)


def test_weighted_mix_append_stable(spark, grown_corpus):
    dir_a, dir_b, _, new_ids = grown_corpus
    fn = REGISTRY["xh_weighted_mix"].fn
    kept_a = {r.doc_id for r in fn(spark, dir_a).collect()}
    kept_b = {r.doc_id for r in fn(spark, dir_b).collect()}
    # every pre-existing decision unchanged; only new ids may differ
    assert kept_b - new_ids == kept_a


def test_consistent_sample_subset_stable(spark, grown_corpus):
    dir_a, dir_b, _, new_ids = grown_corpus
    fn = REGISTRY["xh_consistent_sample"].fn
    sample_a = {(r.lang, r.doc_id) for r in fn(spark, dir_a).collect()}
    sample_b = {(r.lang, r.doc_id) for r in fn(spark, dir_b).collect()}
    # bottom-k by hash: grown-corpus survivors that predate the growth
    # were necessarily already sampled (a new doc can only displace, never
    # promote), and each appended doc displaces at most one sample slot
    # in its own language
    old_survivors = {p for p in sample_b if p[1] not in new_ids}
    assert old_survivors <= sample_a
    assert len(sample_a - sample_b) <= len(new_ids)


def test_ngram_novelty_append_stable(spark, grown_corpus):
    """Round 11: a doc's novelty counts derive from min-doc_id-wins over
    shingle hashes, so APPENDING docs (always higher ids) can never
    change an earlier doc's n_novel/n_shingles — and the planted full
    copy must score zero novelty (every shingle first occurred at the
    copied source's lower id)."""
    dir_a, dir_b, copied_src, new_ids = grown_corpus
    fn = REGISTRY["xh_ngram_novelty"].fn
    a = {r.doc_id: (r.n_shingles, r.n_novel) for r in fn(spark, dir_a).collect()}
    b = {r.doc_id: (r.n_shingles, r.n_novel) for r in fn(spark, dir_b).collect()}
    for doc_id, counts in a.items():
        assert b[doc_id] == counts, doc_id
    copy_id = max(new_ids) - 2  # max_id + 1 row: the full copy
    assert b[copy_id][1] == 0, "full copy must have zero novel shingles"
    assert b[copy_id][0] == a[copied_src][0], "same shingle count as source"


def test_chunk_dedup_planted_copy_keeps_nothing(spark, grown_corpus):
    dir_a, dir_b, copied_src, new_ids = grown_corpus
    copy_id = max(new_ids) - 2  # max_id + 1 row: the full copy
    out = {r.doc_id: r for r in REGISTRY["xh_chunk_dedup"].fn(spark, dir_b).collect()}
    planted = out[copy_id]
    original = out[copied_src]
    assert planted.n_chunks == original.n_chunks
    assert planted.n_kept == 0  # every chunk already seen at a lower doc_id


def test_incremental_dedup_partition_is_exhaustive(spark, sf_smoke):
    """Every new-batch doc lands in exactly one bucket: kept + dup_hist +
    dup_batch == n_new, and totals reconcile with the raw batch split."""
    rows = REGISTRY["xh_incremental_dedup"].fn(spark, sf_smoke).collect()
    assert rows, "fixture has no doc_id % 10 >= 8 docs?"
    for r in rows:
        assert r.n_kept + r.n_dup_hist + r.n_dup_batch == r.n_new
    d = load_table(spark, sf_smoke, "documents")
    n_new_raw = d.filter(F.col("doc_id") % 10 >= 8).count()
    assert sum(r.n_new for r in rows) == n_new_raw


def test_freq_candidates_superset_and_bounded(spark, sf_smoke):
    """Misra-Gries stage-1 guarantee (queries/text_index.py, the JVM
    freqItems proposal): for ANY partitioning, the merged candidate map
    (a) contains every token with true count > N/(K+1), (b) stays within
    the sketch's floor(1/support) = K+1 counters — partition-count
    independent, because freqItems merges the per-partition maps down to
    one bounded map. Exercised at 1, 3 and 16 partitions so the
    guarantee is shown partitioning-independent, not an artifact of one
    layout."""
    from hadoop_copier_spark.queries.text_index import (
        _MG_COUNTERS,
        _tokens_col,
        freq_token_candidates,
    )

    d = load_table(spark, sf_smoke, "documents")
    toks = d.select(F.explode(_tokens_col()).alias("token"))
    exact = {r.token: r.cnt for r in toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    total = sum(exact.values())
    true_hh = {t for t, c in exact.items() if c * (_MG_COUNTERS + 1) > total}
    assert true_hh, "fixture corpus should have heavy hitters"
    support = 1.0 / (_MG_COUNTERS + 1)
    for parts in (1, 3, 16):
        cand = {
            r.token
            for r in freq_token_candidates(toks.repartition(parts), support).collect()
        }
        assert true_hh <= cand, f"parts={parts}: lost a true heavy hitter"
        assert len(cand) <= _MG_COUNTERS + 1


def test_freq_candidates_survive_eviction_storm(spark):
    """Adversarial stage-1 stress: the heavy token arrives FIRST, then a
    long tail of distinct singletons forces an eviction on almost every
    subsequent insert — the classic pattern where an incorrectly-merged
    or over-eager-evicting frequent-items sketch drops a true heavy
    hitter (false negative). A correct Misra-Gries bound guarantees
    survival: undercount < N/(K+1) = 100 < the heavy count 110. Run at
    1 and 8 partitions (the 8-way split also exercises map merges)."""
    from hadoop_copier_spark.queries.text_index import (
        _MG_COUNTERS,
        freq_token_candidates,
    )

    heavy = [("hh",)] * 110
    tail = [(f"t{i}",) for i in range(4990)]  # N = 5100, threshold N/51 = 100
    for parts in (1, 8):
        toks = spark.createDataFrame(
            spark.sparkContext.parallelize(heavy + tail, parts), "token string"
        )
        cand = {
            r.token
            for r in freq_token_candidates(
                toks, 1.0 / (_MG_COUNTERS + 1)
            ).collect()
        }
        assert "hh" in cand, f"parts={parts}: eviction storm lost the heavy hitter"


def test_heavy_hitters_exact_under_any_partitioning(spark, sf_smoke):
    """Stage-2 determinism: the registered query's OUTPUT is the exact
    true heavy-hitter set — identical rows under different shuffle
    partition settings even though the intermediate sketch differs."""
    q = REGISTRY["xh_heavy_hitters"]
    base = [tuple(r) for r in q.fn(spark, sf_smoke).collect()]
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = [tuple(r) for r in q.fn(spark, sf_smoke).collect()]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt and base


def test_weighted_sample_prefers_heavy_docs(spark, sf_smoke):
    """xh_weighted_sample: with w = n_chars, the A-ES sample's mean doc
    length must exceed the corpus mean — the defining property of
    weighted (vs uniform) sampling, which the oracle hash can't express
    (it only proves Spark == DuckDB, not that the weights bias the
    draw)."""
    from hadoop_copier_spark.queries.pipeline_ops import _WS_K

    sample = REGISTRY["xh_weighted_sample"].fn(spark, sf_smoke)
    corpus = load_table(spark, sf_smoke, "documents")
    n_corpus = corpus.count()
    got = sample.count()
    assert got == min(_WS_K, n_corpus)
    s_avg = sample.agg(F.avg("n_chars")).collect()[0][0]
    c_avg = corpus.agg(F.avg("n_chars")).collect()[0][0]
    assert s_avg > c_avg, (s_avg, c_avg)


def test_weighted_sample_is_exact_es_topk(spark, sf_smoke):
    """The emitted sample must be EXACTLY the k docs with the largest
    Efraimidis-Spirakis priorities, recomputed independently in Python
    (math.log on the same portable-hash u) — pins the sampler to the
    published algorithm rather than to its own SQL spelling."""
    import hashlib
    import math

    from hadoop_copier_spark.queries.pipeline_ops import _WS_K

    docs = load_table(spark, sf_smoke, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    pri = {}
    for r in docs:
        if r.n_chars <= 0:
            continue
        h = int(hashlib.md5(f"ws:{r.doc_id}".encode()).hexdigest()[:15], 16)
        pri[r.doc_id] = math.log((h + 1) / 2**60) / r.n_chars
    want = set(
        sorted(pri, key=lambda d: (-pri[d], d))[: _WS_K]
    )
    got = {
        r.doc_id
        for r in REGISTRY["xh_weighted_sample"].fn(spark, sf_smoke).collect()
    }
    assert got == want


def test_bm25_rare_term_outranks_common_only(spark, sf_smoke):
    """xh_bm25: the idf term must dominate — every top-5 document
    contains the RARE query term ('dup', df two orders below the common
    terms), because one rare-term hit carries more idf mass than any
    combination of near-ubiquitous terms. Also pins score positivity and
    the n_terms <= |Q| bound."""
    from hadoop_copier_spark.queries.text_index import _BM25_TERMS

    top = REGISTRY["xh_bm25"].fn(spark, sf_smoke).collect()
    assert top, "bm25 returned no rows on a corpus containing the terms"
    docs = {
        r.doc_id: r.text
        for r in load_table(spark, sf_smoke, "documents").collect()
    }
    rare = "dup"
    for r in top:
        assert r.score_u6 > 0
        assert 1 <= r.n_terms <= len(_BM25_TERMS)
    for r in top[:5]:
        toks = docs[r.doc_id].lower().split()
        assert rare in toks, (r.doc_id, toks[:20])


def test_vocab_growth_accounting_identity(spark, tmp_path):
    """On a synthetic corpus with KNOWN vocabulary growth: new_tokens per
    decile sums to the distinct vocabulary; a token repeated in a later
    decile counts only at its FIRST decile; healthy growth shows a
    nonzero tail (fresh vocab keeps minting) while a pure-duplication
    corpus flatlines after decile 0."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from hadoop_copier_spark.queries import REGISTRY

    # 100 docs, ids 0..99; doc i introduces token f"w{i}" and repeats w0
    docs = [{"doc_id": i, "text": f"w0 w{i} w{i}", "lang": "en",
             "source": "s", "n_chars": 10} for i in range(100)]
    d = str(tmp_path / "growth")
    os.makedirs(d)
    pq.write_table(pa.Table.from_pylist(docs), os.path.join(d, "documents.parquet"))
    out = {r["decile"]: r["new_tokens"]
           for r in REGISTRY["xh_vocab_growth"].fn(spark, d).collect()}
    # vocab = w0..w99 = 100 distinct; each decile mints exactly its 10
    # fresh wN (w0 belongs to decile 0 and never re-counts)
    assert sum(out.values()) == 100
    assert out == {k: 10 for k in range(10)}

    # duplication-only corpus: all docs identical -> everything mints at
    # decile 0 and the curve flatlines
    dup = [{"doc_id": i, "text": "a b c", "lang": "en", "source": "s",
            "n_chars": 5} for i in range(100)]
    d2 = str(tmp_path / "flat")
    os.makedirs(d2)
    pq.write_table(pa.Table.from_pylist(dup), os.path.join(d2, "documents.parquet"))
    out2 = {r["decile"]: r["new_tokens"]
            for r in REGISTRY["xh_vocab_growth"].fn(spark, d2).collect()}
    assert out2 == {0: 3}


def test_span_dedup_planted_coverage_exact(spark):
    """Hand-built corpus pins the interval-union semantics: a shared
    5-token span covers exactly 5 tokens (overlapping dup 3-grams are
    unioned, not summed), within-doc-only repetition is NOT flagged
    (cross-doc definition), short docs dedup on their whole-doc gram,
    and two disjoint dup regions in one doc sum their unions."""
    import shutil
    import tempfile

    docs = {
        1: "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10",   # fully unique
        2: "a b c d e x1 x2 x3",               # shares 'a b c d e'
        3: "y1 y2 a b c d e",                  # shares 'a b c d e'
        4: "r r r r r r",                      # within-doc repeats only
        5: "a b",                              # short, duplicated whole-doc
        6: "a b",
        7: "a b c q1 q2 q3 q4 c d e",          # two disjoint dup regions
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in docs.items()]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        got = {
            r["doc_id"]: (
                r["n_tokens"], r["n_grams"], r["n_dup_grams"],
                r["covered_tokens"], r["dup_ppm"],
            )
            for r in REGISTRY["xh_span_dedup"].fn(spark, tmp).collect()
        }
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    assert got == {
        1: (10, 8, 0, 0, 0),
        2: (8, 6, 3, 5, 625_000),
        3: (7, 5, 3, 5, 714_285),
        4: (6, 4, 0, 0, 0),
        5: (2, 1, 1, 2, 1_000_000),
        6: (2, 1, 1, 2, 1_000_000),
        7: (10, 8, 2, 6, 600_000),
    }


def test_norm_dedup_collapses_reformatted_copies(spark):
    """Reformatted copies (case, punctuation, whitespace reflow) land in
    one group with the lowest doc_id as keeper; n_raw_variants counts the
    byte-level variants that exact dedup would have kept separately; a
    genuinely different doc stays its own group."""
    import shutil
    import tempfile

    rows = [
        (1, "The quick brown fox, jumps!", "en", "s", 27),
        (2, "the  QUICK   brown fox jumps", "en", "s", 28),   # reflowed copy
        (3, "THE QUICK BROWN FOX JUMPS.", "en", "s", 26),     # case+punct copy
        (4, "the quick brown fox jumps", "en", "s", 25),      # already canonical
        (5, "a completely different document", "en", "s", 31),
        (6, "the quick brown fox, jumps!".replace("the", "The"), "en", "s", 27),
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        out = REGISTRY["xh_norm_dedup"].fn(spark, tmp).collect()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    groups = {r["keep_id"]: (r["n_copies"], r["n_raw_variants"]) for r in out}
    # docs 1,2,3,4,6 all canonicalize to 'the quick brown fox jumps';
    # doc 6 is byte-identical to doc 1, so raw variants = 4, copies = 5
    assert groups == {1: (5, 4), 5: (1, 1)}


def _write_docs(spark, rows, tmp, n_parts=3):
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_parts),
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")


def _winnow_reference(text, k=3, w=4):
    """Brute-force winnowing fingerprint set (Schleimer et al. fig. 5,
    min-only variant): h60 of word k-grams, distinct window minima."""
    import hashlib

    def h60(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    toks = [t for t in text.lower().split() if t]
    if not toks:
        return None
    if len(toks) < k:
        grams = [" ".join(toks)]
    else:
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [h60(g) for g in grams]
    eff_w = min(w, len(hs))
    return {min(hs[max(0, i - w + 1) : i + 1]) for i in range(eff_w - 1, len(hs))}


def test_winnow_fingerprint_matches_bruteforce(spark, tmp_path):
    """Registry output must equal the textbook per-doc winnowing set and
    the cross-doc sharing derived from it, on a corpus exercising every
    edge: long docs, doc shorter than the gram, doc with fewer grams
    than the window, exact copies, partial overlap, and a doc whose
    adjacent windows share one minimum (distinct-collapse)."""
    docs = {
        1: "a b c d e f g h i j k l",
        2: "z1 z2 a b c d e f z3 z4",      # shares a long run with doc 1
        3: "x y",                           # < k tokens: whole-doc gram
        4: "x y",                           # exact short copy
        5: "p q r s",                       # 2 grams < window of 4
        6: "only unique tokens here truly", # no sharing
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in docs.items()]
    tmp = str(tmp_path / "winnow")
    _write_docs(spark, rows, tmp)
    got = {
        r["doc_id"]: (r["n_fps"], r["n_shared_fps"])
        for r in REGISTRY["xh_winnow_fingerprint"].fn(spark, tmp).collect()
    }
    ref = {i: _winnow_reference(t) for i, t in docs.items()}
    from collections import Counter

    owners = Counter()
    for i, fps in ref.items():
        for fp in fps:
            owners[fp] += 1
    expect = {
        i: (len(fps), sum(1 for fp in fps if owners[fp] >= 2))
        for i, fps in ref.items()
    }
    assert got == expect
    # the guarantee that motivates winnowing: docs 1 and 2 share a run of
    # w + k - 1 = 6 tokens, so they MUST share at least one fingerprint
    assert ref[1] & ref[2]


def test_oov_rate_vocab_boundary(spark, tmp_path):
    """With the top-64 vocabulary larger than a tiny corpus's lexicon,
    every token is in-vocab (ppm 0); planting > 64 distinct singletons
    pushes exactly the count-tied, lexicographically-later tokens out,
    and the OOV counts follow the (count desc, token asc) boundary."""
    # corpus counts: 'common' x11, then w00/w62/w63/w79 x2 (doc 3 repeats
    # them), then 76 singletons. Vocab(64) = common + the four count-2
    # tokens + the 59 lexicographically-first singletons (w01..w59), so
    # doc 1's OOV set is exactly {w60, w61, w64..w78} (17 tokens) — the
    # boundary splits a count-tie by token order.
    rows = [(1, " ".join(f"w{i:02d}" for i in range(80)), "en", "s", 0),
            (2, "common " * 10, "en", "s", 0),
            (3, "common w00 w62 w63 w79", "en", "s", 0)]
    tmp = str(tmp_path / "oov")
    _write_docs(spark, rows, tmp)
    got = {
        r["doc_id"]: (r["n_tokens"], r["n_oov"], r["oov_ppm"])
        for r in REGISTRY["xh_oov_rate"].fn(spark, tmp).collect()
    }
    assert got == {
        1: (80, 17, 212_500),
        2: (10, 0, 0),
        3: (5, 0, 0),           # its repeats promoted themselves in-vocab
    }


def test_dsir_weights_separate_target_like_docs(spark, tmp_path):
    """Documents made of target-slice bigrams must score strictly above
    documents made of raw-only bigrams, and a doc with no bigrams gets
    weight 0 — the selection ordering DSIR consumes. Exact values are
    oracle-checked; this pins the semantics on a designed corpus."""
    target_text = "alpha beta gamma delta"
    raw_text = "omega psi chi phi"
    rows = (
        [(i, target_text, "en", "src0", 0) for i in range(1, 5)]
        + [(i, raw_text, "en", "src9", 0) for i in range(5, 9)]
        + [(9, target_text, "en", "src9", 0),   # raw doc that LOOKS curated
           (10, "solo", "en", "src9", 0)]       # < 2 tokens: no features
    )
    tmp = str(tmp_path / "dsir")
    _write_docs(spark, rows, tmp)
    out = {r["doc_id"]: r for r in
           REGISTRY["xh_dsir_weights"].fn(spark, tmp).collect()}
    assert out[10]["n_features"] == 0 and out[10]["weight"] == 0
    # the raw doc built from target bigrams outranks every raw-only doc
    assert out[9]["weight"] > out[5]["weight"]
    # and matches the target docs' weight exactly (same features)
    assert out[9]["weight"] == out[1]["weight"]
    assert all(out[i]["is_target"] == 1 for i in range(1, 5))
    assert all(out[i]["is_target"] == 0 for i in range(5, 11))


def test_lsh_recall_eval_accounting_and_planted_copy(spark, tmp_path):
    """tp/fp/fn must tile the two pair sets exactly, and a planted exact
    copy (Jaccard 1.0) is BOTH an exact pair and an LSH candidate — any
    band configuration catches identical signatures — so tp >= 1."""
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today", "en", "s", 0),
        (2, "the quick brown fox jumps over the lazy dog today", "en", "s", 0),
        (3, "entirely different text with no overlap at all here", "en", "s", 0),
        (4, "another unrelated document of fresh tokens only now", "en", "s", 0),
    ]
    tmp = str(tmp_path / "lsh_eval")
    _write_docs(spark, rows, tmp)
    r = REGISTRY["xh_lsh_recall_eval"].fn(spark, tmp).collect()[0]
    assert r["tp"] + r["fn"] == r["n_exact"]
    assert r["tp"] + r["fp"] == r["n_cand"]
    assert r["tp"] >= 1 and r["n_docs"] == 4
    assert r["recall_ppm"] == 1_000_000  # the only exact pair is the copy


def test_split_leakage_planted_duplicates(spark, tmp_path):
    """A 10-doc source of IDENTICAL content must leak its val and test
    docs (train holds the same text no matter how the hash orders the
    ids); a source of all-unique texts must leak nothing."""
    rows = [(i, "same text everywhere", "en", "dup_src", 0) for i in range(10)]
    rows += [(100 + i, f"unique text number {i}", "en", "uniq_src", 0)
             for i in range(10)]
    tmp = str(tmp_path / "leak")
    _write_docs(spark, rows, tmp)
    out = {r["source"]: r for r in
           REGISTRY["xh_split_leakage"].fn(spark, tmp).collect()}
    d, u = out["dup_src"], out["uniq_src"]
    assert (d["n_train"], d["n_val"], d["n_test"]) == (8, 1, 1)
    assert (d["leaked_val"], d["leaked_test"]) == (1, 1)
    assert (u["leaked_val"], u["leaked_test"]) == (0, 0)


def test_source_dup_matrix_first_seen_attribution(spark, tmp_path):
    """Shared contents attribute to the source with the lower min
    doc_id; unshared contents never create a pair row."""
    rows = [
        (1, "content X", "en", "srcA", 0),
        (2, "content Y", "en", "srcA", 0),
        (3, "content X", "en", "srcB", 0),
        (4, "content Z", "en", "srcB", 0),
        (5, "content X", "en", "srcC", 0),
        (6, "content X", "en", "srcC", 0),   # dup within C: still ONE content
    ]
    tmp = str(tmp_path / "dupmat")
    _write_docs(spark, rows, tmp)
    out = {(r["src_a"], r["src_b"]): (r["n_shared"], r["n_a_first"], r["n_b_first"])
           for r in REGISTRY["xh_source_dup_matrix"].fn(spark, tmp).collect()}
    assert out == {
        ("srcA", "srcB"): (1, 1, 0),
        ("srcA", "srcC"): (1, 1, 0),
        ("srcB", "srcC"): (1, 1, 0),
    }


def test_embed_centroid_drift_zero_iff_halves_agree(spark, tmp_path):
    """Identical even/odd halves drift exactly 0; a shifted odd half
    drifts positive — and the cross-multiplied statistic is unchanged
    by doubling both halves (scale-free in counts)."""
    import shutil

    def write(rows, name):
        d = str(tmp_path / name)
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows, 2),
            "vec_id long, embedding array<float>, label int",
        ).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
        return d

    base = [[0.5, -0.25, 1.0], [0.125, 0.75, -0.5]]
    same = [(2 * i + h, base[i], 7) for i in range(2) for h in (0, 1)]
    d1 = write(same, "same")
    out = REGISTRY["xh_embed_centroid_drift"].fn(spark, d1).collect()
    assert [(r["label"], r["l1_cross_units"]) for r in out] == [(7, 0)]
    shifted = [(2 * i + h, [x + (0.5 if h else 0.0) for x in base[i]], 7)
               for i in range(2) for h in (0, 1)]
    d2 = write(shifted, "shifted")
    r = REGISTRY["xh_embed_centroid_drift"].fn(spark, d2).collect()[0]
    # each of 3 dims drifts by 0.5 units/vector: |s_e*n_o - s_o*n_e| =
    # 2*2*500000 per dim, 3 dims => 6e6
    assert r["l1_cross_units"] == 6_000_000

    # DECIMAL(38,0) promotion (r12 verdict item), part 1: on in-bound
    # data the forced decimal path is row-identical to the BIGINT path.
    from hadoop_copier_spark.queries.llm_ops import _centroid_drift_frame

    e2 = spark.read.parquet(f"{d2}/embeddings.parquet")
    base_rows = sorted(
        map(tuple, _centroid_drift_frame(spark, e2, force_decimal=False).collect())
    )
    dec_rows = sorted(
        map(tuple, _centroid_drift_frame(spark, e2, force_decimal=True).collect())
    )
    assert dec_rows == base_rows and base_rows[0][0] == 7
    shutil.rmtree(str(tmp_path), ignore_errors=True)


def test_embed_centroid_drift_probe_promotes_past_bigint_bound(spark):
    """DECIMAL(38,0) promotion, part 2 (adversarial boundary): 6000
    vectors per half with |component| = 3e5 put each ECDF cross product
    at s*n ~= 1.08e19 > 2^63 — the regime where the BIGINT path wraps
    (or raises under ANSI). The data-driven probe must select the
    decimal path on its own and return the EXACT statistic: the odd half
    is the even half shifted +1.0 per component, so the two huge
    products nearly cancel to n_e*n_o*1e6 per dim x 2 dims."""
    from hadoop_copier_spark.queries.llm_ops import _centroid_drift_frame

    n = 6000
    base = [300_000.0, -300_000.0]
    e = spark.range(2 * n).select(
        F.col("id").alias("vec_id"),
        F.when(
            F.col("id") % 2 == 0,
            F.array(*[F.lit(x).cast("float") for x in base]),
        )
        .otherwise(F.array(*[F.lit(x + 1.0).cast("float") for x in base]))
        .alias("embedding"),
        F.lit(7).alias("label"),
    )
    r = _centroid_drift_frame(spark, e).collect()[0]  # probe decides
    assert (r["n_even"], r["n_odd"]) == (n, n)
    assert r["l1_cross_units"] == 2 * n * n * 1_000_000
    # and the exact same call with the probe overridden to BIGINT is the
    # one that cannot survive here: it must NOT silently return the
    # right answer (ANSI raises; legacy mode wraps) — guarding against
    # the test passing vacuously with in-bound magnitudes
    try:
        wrapped = _centroid_drift_frame(spark, e, force_decimal=False).collect()[0]
    except Exception:
        pass  # ANSI overflow error: the guard is doing real work
    else:
        assert wrapped["l1_cross_units"] != 2 * n * n * 1_000_000


def test_multi_signal_dedup_chains_near_copy_into_exact_group(spark, tmp_path):
    """The scenario the consolidation op exists for: docs 1 and 2 are
    byte-identical (exact signal), doc 3 is a one-token near-copy of 1
    (near signal ONLY — its md5 differs), doc 4 is unrelated. The union
    graph must place 1, 2 AND 3 in one cluster with canonical id 1,
    with provenance flags saying which detector implicated each doc."""
    base = " ".join(f"w{i}" for i in range(24))
    rows = [
        (1, base, "en", "s", 0),
        (2, base, "en", "s", 0),
        (3, base.replace("w10", "CHANGED"), "en", "s", 0),
        (4, "totally different text entirely here", "en", "s", 0),
    ]
    tmp = str(tmp_path / "multisig")
    _write_docs(spark, rows, tmp)
    got = {r["doc_id"]: (r["cluster_id"], r["is_exact_dup"], r["is_near_dup"])
           for r in REGISTRY["xh_multi_signal_dedup"].fn(spark, tmp).collect()}
    assert got == {
        1: (1, 1, 1),   # exact dup of 2, near dup of 3
        2: (1, 1, 1),
        3: (1, 0, 1),   # near-only: chained in through the union
        4: (4, 0, 0),
    }


def test_containment_catches_verbatim_substring_jaccard_misses(spark, tmp_path):
    """The asymmetry the op exists for: a short doc quoted whole inside
    a long one has containment(short in long) == 1.0 (1e6 ppm exactly)
    while its Jaccard is far below the 0.7 near-dup bar — so the
    symmetric ops would never pair them. The reverse direction
    (long in short) must NOT qualify."""
    quote = " ".join(f"q{i}" for i in range(12))
    filler = " ".join(f"f{i}" for i in range(60))
    rows = [
        (1, quote, "en", "s", len(quote)),                       # the short doc
        (2, filler + " " + quote, "en", "s", 1),                 # quotes it whole
        (3, " ".join(f"z{i}" for i in range(30)), "en", "s", 1), # unrelated
    ]
    tmp = str(tmp_path / "contain")
    _write_docs(spark, rows, tmp)
    out = {
        (r["id_a"], r["id_b"]): r
        for r in REGISTRY["xh_containment_pairs"].fn(spark, tmp).collect()
    }
    assert (1, 2) in out, out.keys()
    r = out[(1, 2)]
    assert r["containment_ppm"] == 1_000_000  # every shingle of 1 is in 2
    # Jaccard for the same pair is small: shared / union << 0.7
    assert r["n_shared"] * 10 < (r["size_a"] + r["size_b"] - r["n_shared"]) * 7
    assert (2, 1) not in out  # the long doc is NOT contained in the short
    assert all(a != 3 and b != 3 for a, b in out)


def test_containment_matches_bruteforce_shingle_sets(spark, tmp_path):
    """xh_containment_pairs vs a Python recount of 3-gram shingle-set
    containment on a mixed corpus (full copy, partial overlap, short
    docs below the shingle width): every emitted pair and every ppm
    value must equal the brute-force answer, and no qualifying pair may
    be missing (a >= 0.7-contained doc always shares a shingle, so the
    inverted-index candidates are provably exhaustive)."""
    docs = {
        1: "w0 w1 w2 w3 w4 w5 w6 w7",
        2: "pre w0 w1 w2 w3 w4 w5 w6 w7 post tail",   # contains 1's text
        3: "w0 w1 w2 other stuff here",                # partial overlap w/ 1
        4: "xx yy",                                    # sub-shingle-width doc
        5: "xx yy",                                    # identical short doc
    }
    rows = [(i, t, "en", "s", len(t)) for i, t in docs.items()]
    tmp = str(tmp_path / "contbf")
    _write_docs(spark, rows, tmp)

    def shingles(t):
        toks = t.lower().split()
        if len(toks) < 3:
            return {" ".join(toks)}
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}

    sh = {i: shingles(t) for i, t in docs.items()}
    expect = {}
    for a in docs:
        for b in docs:
            if a == b:
                continue
            inter = len(sh[a] & sh[b])
            if inter * 10 >= len(sh[a]) * 7:
                expect[(a, b)] = (
                    len(sh[a]), len(sh[b]), inter,
                    inter * 1_000_000 // len(sh[a]),
                )
    got = {
        (r["id_a"], r["id_b"]): (
            r["size_a"], r["size_b"], r["n_shared"], r["containment_ppm"]
        )
        for r in REGISTRY["xh_containment_pairs"].fn(spark, tmp).collect()
    }
    assert got == expect, (got, expect)
    assert (1, 2) in got and got[(1, 2)][3] == 1_000_000  # full containment
    assert (2, 1) not in got                              # not symmetric
    assert (4, 5) in got and (5, 4) in got                # identical shorts


@pytest.mark.parametrize("n_chunks", [1, 3, 16])
def test_mg_merge_recount_is_chunking_invariant(spark, sf_smoke, n_chunks):
    """The weighted Misra-Gries merge algebra behind the round-14
    streaming check, pinned as a pure property: ingesting the corpus's
    (token, cnt) partial aggregates in ANY chunking (1 / 3 / 16 chunks
    by doc_id) through the K+1-counter decrement state must leave a
    survivor set whose exact recount, thresholded at N/(K+1), equals
    the batch xh_heavy_hitters output EXACTLY — the guarantee that
    makes the sketch safe to maintain incrementally per shard or per
    micro-batch."""
    from hadoop_copier_spark.queries.text_index import _MG_COUNTERS, _tokens_col

    docs = load_table(spark, sf_smoke, "documents")
    state: dict[str, int] = {}
    for i in range(n_chunks):
        rows = (
            docs.where(F.col("doc_id") % n_chunks == i)
            .select(F.explode(_tokens_col()).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        )
        for r in rows:
            state[r["token"]] = state.get(r["token"], 0) + int(r["cnt"])
            if len(state) > _MG_COUNTERS:
                m = min(state.values())
                for t in list(state):
                    state[t] -= m
                    if state[t] <= 0:
                        del state[t]
    assert 0 < len(state) <= _MG_COUNTERS

    toks = docs.select(F.explode(_tokens_col()).alias("token"))
    cand = spark.createDataFrame(
        spark.sparkContext.parallelize([(t,) for t in state], 1), "token string"
    )
    total = toks.count()
    got = {
        (r["token"], r["cnt"])
        for r in toks.join(F.broadcast(cand), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") * (_MG_COUNTERS + 1) > total)
        .collect()
    }
    batch = {
        (r["token"], r["cnt"])
        for r in REGISTRY["xh_heavy_hitters"].fn(spark, sf_smoke).collect()
    }
    assert got == batch


def test_edit_neardup_planted_mutations(spark, tmp_path):
    """Round-15 planted case for xh_edit_neardup: a base doc, an exact
    copy, and one/three/four-char mutations all sharing the block key
    (same 16-char prefix, same length band) — every pair within dist 3
    must surface with its EXACT distance, the dist-4 pairs must be
    excluded, and a same-prefix doc in a different length band is never
    compared (the declared banding recall trade). Expected distances
    recomputed with a pure-Python Levenshtein."""
    base = "the common prefix " + "abcdefgh " * 6  # 72 chars, band 4
    rows = [
        (1, base),
        (2, base[:-1] + "x"),
        (3, base[:-3] + "xyz"),
        (4, base[:-4] + "wxyz"),
        (5, base),
        (6, base + "tail far beyond the band " * 3),  # band 9: blocked away
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, t, "en", "web", len(t)) for i, t in rows], 2
        ),
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    root = tmp_path / "editdup"
    df.write.parquet(f"{root}/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in REGISTRY["xh_edit_neardup"].fn(spark, str(root)).collect()
    }
    assert got == {
        (1, 2): 1, (1, 3): 3, (1, 5): 0,
        (2, 3): 3, (2, 5): 1,
        (3, 4): 1, (3, 5): 3,
    }, got
    assert not any(6 in p for p in got)  # banding never compares doc 6


def test_edit_recall_eval_counts_planted_miss_classes(spark, tmp_path):
    """Planted cases for xh_edit_recall_eval against the ROUND-17
    measured block (window-probe bands, prefix UNION suffix keys): the two r16 miss classes are now
    CAUGHT — a prefix edit via the suffix pass, a band-boundary length
    crossing via the shorter side's (l+3)-band probe — while the ONE
    remaining declared miss class, an edit touching BOTH the first and
    last 16 chars (_EDIT_KEY_LEN), must be COUNTED as fn, never
    silently dropped.
    Corpus: base (len 31, band 1), m1 = prefix edit (dist 1), m2 = +2
    tail chars crossing into band 2 (dist 2), m3 = tail edit in-band
    (dist 1). All six pairs are within dist 3 (recomputed by hand);
    the pairs among the mutants themselves — (m1,m2) and (m1,m3),
    which differ at BOTH ends — are the counted misses."""
    base = "abcdefghijklmnopqrstuvwxyz01234"  # 31 chars, band 1
    assert len(base) == 31
    rows = [
        (1, base),
        (2, "az" + base[2:]),       # prefix edit: caught by SUFFIX pass
        (3, base + "zz"),           # len 33, band 2: caught by band PROBE
        (4, base[:-1] + "z"),       # tail edit: caught by prefix pass
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, t, "en", "web", len(t)) for i, t in rows], 2
        ),
        schema="doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    root = tmp_path / "editrecall"
    df.write.parquet(f"{root}/documents.parquet")
    [r] = REGISTRY["xh_edit_recall_eval"].fn(spark, str(root)).collect()
    # tp: (1,2) suffix pass, (1,3) prefix pass + band probe, (1,4)
    # prefix pass, (3,4) prefix pass + band probe (dist 3).
    # fn: (2,3) and (2,4) — prefix AND suffix both edited between the
    # mutants: the remaining declared miss class, counted.
    assert (
        r["n_docs"], r["n_exact"], r["n_cand"],
        r["tp"], r["fp"], r["fn"],
    ) == (4, 6, 4, 4, 0, 2), r.asDict()
    assert r["precision_ppm"] == 1_000_000
    assert r["recall_ppm"] == 666_666  # 4e6 div 6: the remaining trade, measured


def test_passjoin_blocking_total_recall_adversarial(spark):
    """PassJoin segment blocking (round 18, VERDICT r17 #3) must block
    EVERY pair within levenshtein <= 2 — the theorem xh_fuzzy_match's
    brute-force oracle relies on. Adversarial planted set: 400 random
    strings (lengths 3-20) each paired with a 1-2-edit mutant where the
    edit ops/positions are random (subs/inserts/deletes anywhere,
    including both ends and length-changers — the classes that break
    token, prefix and exact-length keys). Asserts (a) every planted pair
    is blocked and (b) blocking ⊇ ALL brute-force lev<=2 pairs among the
    800 strings, not just the planted ones."""
    import random

    from hadoop_copier_spark.queries.entity_resolution import passjoin_candidates

    rng = random.Random(42)
    rows = []
    kid = 0
    for _ in range(400):
        n = rng.randint(3, 20)
        s = "".join(rng.choice("abcdefgh") for _ in range(n))
        t = s
        for _e in range(rng.randint(1, 2)):
            op = rng.choice(["sub", "ins", "del"])
            pos = rng.randint(0, max(len(t) - 1, 0))
            if op == "sub" and t:
                t = t[:pos] + rng.choice("xyz") + t[pos + 1 :]
            elif op == "ins":
                t = t[:pos] + rng.choice("xyz") + t[pos:]
            elif op == "del" and len(t) > 1:
                t = t[:pos] + t[pos + 1 :]
        rows.append((kid, s, "B"))
        rows.append((kid + 1, t, "B"))
        kid += 1000
    p = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 4), "k long, nm string, br string"
    )
    got = {(r["key_a"], r["key_b"]) for r in passjoin_candidates(p).collect()}

    missing_planted = [
        (a, a + 1) for a in range(0, 400_000, 1000) if (a, a + 1) not in got
    ]
    assert not missing_planted, f"planted pairs escaped blocking: {missing_planted[:5]}"

    data = {r[0]: r[1] for r in rows}

    def lev_le2(a: str, b: str) -> bool:
        if abs(len(a) - len(b)) > 2:
            return False
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i] + [0] * len(b)
            for j, cb in enumerate(b, 1):
                cur[j] = min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            if min(cur) > 2:
                return False
            prev = cur
        return prev[-1] <= 2

    keys = sorted(data)
    truth = {
        (keys[i], keys[j])
        for i in range(len(keys))
        for j in range(i + 1, len(keys))
        if lev_le2(data[keys[i]], data[keys[j]])
    }
    assert truth, "degenerate fixture: no true lev<=2 pairs"
    escaped = truth - got
    assert not escaped, f"true lev<=2 pairs escaped blocking: {sorted(escaped)[:5]}"


def test_fuzzy_match_collapse_weights_planted_groups(spark, tmp_path):
    """xh_fuzzy_match's exact-group collapse: planted duplicate groups and
    a 1-edit neighbor must produce exactly the arithmetic pair counts —
    lv=0 from sum C(g,2), lv=1 weighted g_a*g_b."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        # brand X: "alpha beam" x3 (lv0: C(3,2)=3), "alpha beaq" x2
        # (lv0: C(2,2)=1), cross pairs lv=1 weight 3*2=6
        (1, "alpha beam", "X"),
        (2, "alpha beam", "X"),
        (3, "alpha beam", "X"),
        (4, "alpha beaq", "X"),
        (5, "alpha beaq", "X"),
        # brand Y: singletons 2 edits apart -> lv=2 weight 1
        (6, "zulu crate", "Y"),
        (7, "zulu crabq", "Y"),
    ]
    t = pa.table(
        {
            "p_partkey": pa.array([r[0] for r in rows], pa.int64()),
            "p_name": pa.array([r[1] for r in rows]),
            "p_brand": pa.array([r[2] for r in rows]),
        }
    )
    pq.write_table(t, str(tmp_path / "part.parquet"))
    got = {
        (r["brand"], r["lv"]): r["n_pairs"]
        for r in REGISTRY["xh_fuzzy_match"].fn(spark, str(tmp_path)).collect()
    }
    assert got == {("X", 0): 4, ("X", 1): 6, ("Y", 2): 1}
