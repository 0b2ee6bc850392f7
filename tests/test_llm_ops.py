"""Property checks for the LLM-pipeline operators (SURVEY §5.2 item 4):
LSH recall superset of planted dups, simhash equality on exact dups,
ANN-vs-brute-force recall, TF-IDF sanity, embedding near-dup vs numpy."""

import itertools

import numpy as np
import pytest

from hadoop_copier_spark.queries import REGISTRY


# Planted exact duplicates only exist at sf0.1 (sf0.01 documents are all
# distinct), so the dup-recall properties run there.
SF_DUPS = "/root/testdata/sf0.1"


@pytest.fixture(scope="module")
def exact_dup_pairs(spark):
    """All (a,b) doc pairs with identical text, from the exact-dedup query."""
    from hadoop_copier_spark.queries.base import tbl
    from pyspark.sql import functions as F

    d = tbl(spark, SF_DUPS, "documents")
    groups = (
        d.groupBy(F.md5("text").alias("h"))
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .collect()
    )
    pairs = set()
    for row in groups:
        for a, b in itertools.combinations(row["ids"], 2):
            pairs.add((a, b))
    return pairs


def test_minhash_lsh_finds_all_exact_dups(spark, exact_dup_pairs):
    assert exact_dup_pairs, "fixture should contain planted exact duplicates"
    rows = REGISTRY["xp_minhash_neardup"].fn(spark, SF_DUPS).collect()
    found = {(r["id_a"], r["id_b"]) for r in rows}
    missing = exact_dup_pairs - found
    assert not missing, f"LSH missed {len(missing)} exact-dup pairs (of {len(exact_dup_pairs)})"
    # every exact dup must score Jaccard exactly 1.0
    scores = {(r["id_a"], r["id_b"]): float(r["jaccard"]) for r in rows}
    for p in exact_dup_pairs:
        assert scores[p] == 1.0


def test_simhash_equal_for_exact_dups(spark, exact_dup_pairs):
    sh = {r["doc_id"]: r["simhash"] for r in REGISTRY["xp_simhash"].fn(spark, SF_DUPS).collect()}
    for a, b in exact_dup_pairs:
        assert sh[a] == sh[b]


def test_simhash_golden_values_cross_run_stable(spark):
    """VERDICT r10 #4: the production SimHash is pinned to JVM xxhash64
    (seed 42) token hashes, so a given corpus fingerprints identically
    across runs, sessions, platforms, and pandas upgrades. These literals
    were computed once at round 11 and must NEVER change — a mismatch
    means the hash function drifted and persisted corpus diffs would
    silently break."""
    from hadoop_copier_spark.operators.dedup import simhash64

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "The QUICK  brown\tfox jumps over the lazy dog "),  # normalizes to doc 1
        (4, ""),
        (5, None),
        (6, "solo"),
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 2), "doc_id long, text string"
    )
    got = {r["doc_id"]: r["simhash"]
           for r in simhash64(df, "doc_id", "text").collect()}
    assert got == {
        1: -7573889167326994222,
        2: -7573326217371541038,
        3: -7573889167326994222,  # case/whitespace-normalized == doc 1
        4: 0,
        5: 0,
        6: -8998211557177089630,
    }
    # near-dup (one word changed): small but nonzero Hamming distance
    ham = bin((got[1] ^ got[2]) & (2**64 - 1)).count("1")
    assert 0 < ham <= 16, ham


def test_simhash_same_corpus_identical_in_separate_session(spark, sf_smoke):
    """The cross-run half of the VERDICT r10 #4 'Done' bar: hash the same
    corpus in THIS session and in a freshly-started subprocess session;
    every fingerprint must match bit-for-bit."""
    import json as _json
    import subprocess
    import sys

    here = {r["doc_id"]: r["simhash"]
            for r in REGISTRY["xp_simhash"].fn(spark, sf_smoke).collect()}
    script = (
        "import json\n"
        "from hadoop_copier_spark.session import get_spark\n"
        "from hadoop_copier_spark.queries import REGISTRY\n"
        f"rows = REGISTRY['xp_simhash'].fn(get_spark(), {sf_smoke!r}).collect()\n"
        "print(json.dumps({r['doc_id']: r['simhash'] for r in rows}))\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True,
        timeout=300, cwd="/root/repo",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    there = {int(k): v for k, v in _json.loads(out.stdout.strip().splitlines()[-1]).items()}
    assert here == there


def test_ann_lsh_recall_vs_brute_force(spark, sf_oracle):
    brute = REGISTRY["q59"].fn(spark, sf_oracle).collect()
    approx = REGISTRY["xp_ann_lsh"].fn(spark, sf_oracle).collect()
    top_b = {}
    for r in brute:
        top_b.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    top_a = {}
    for r in approx:
        top_a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    # sign-LSH with 8 planes: same-bucket neighbors only; expect meaningful
    # but not perfect recall of the true top-5
    recalls = [len(top_b[q] & top_a.get(q, set())) / len(top_b[q]) for q in top_b]
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_tfidf_sane(spark, sf_oracle):
    rows = REGISTRY["xp_tfidf"].fn(spark, sf_oracle).collect()
    assert rows
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for doc, rs in by_doc.items():
        rs = sorted(rs, key=lambda r: r["rk"])
        assert [r["rk"] for r in rs] == list(range(1, len(rs) + 1))
        # scores non-increasing with rank
        scores = [float(r["tfidf"]) for r in rs]
        assert scores == sorted(scores, reverse=True)
        assert all(s > 0 for s in scores)


def test_embedding_neardup_matches_numpy(spark, sf_oracle):
    """Non-planted pairs must match a numpy brute-force oracle; every
    planted near-dup pair must be recovered (the self-validation contract —
    the round-1 driver run returned 0 rows, indistinguishable from a broken
    operator)."""
    from hadoop_copier_spark.queries.base import tbl
    from hadoop_copier_spark.queries.llm_ops import N_PLANTED, PLANT_OFFSET

    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in tbl(spark, sf_oracle, "embeddings").filter("vec_id < 300").collect()
    }
    expected = set()
    ids = sorted(emb)
    mat = np.stack([emb[i] for i in ids])
    norms = np.linalg.norm(mat, axis=1)
    cos = (mat @ mat.T) / np.outer(norms, norms)
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if round(cos[i, j], 6) >= 0.9:
                expected.add((ids[i], ids[j]))
    rows = REGISTRY["xp_embedding_neardup"].fn(spark, sf_oracle).collect()
    assert rows, "near-dup check must never return an empty frame"
    got = {(r["id_a"], r["id_b"]) for r in rows}
    planted = {(i, i + PLANT_OFFSET) for i in range(N_PLANTED)}
    assert planted <= got, f"planted pairs missing: {sorted(planted - got)[:5]}"
    # non-planted portion matches numpy, modulo threshold-boundary ties
    got_real = {p for p in got if p[1] < PLANT_OFFSET and p[0] < PLANT_OFFSET}
    sym_diff = expected ^ got_real
    assert len(sym_diff) <= max(2, len(expected) // 50), (len(expected), len(got_real), list(sym_diff)[:5])


def test_text_analysis_outputs_valid(spark, sf_oracle):
    rows = REGISTRY["xp_text_analysis"].fn(spark, sf_oracle).collect()
    assert rows
    for r in rows[:200]:
        assert r["lang_guess"] in {"de", "en", "es", "fr", "zh", "und"}
        assert 0.0 <= float(r["quality"]) <= 1.0
        assert r["bpe_tokens"] >= 1
        assert isinstance(r["fingerprint"], int)
    # determinism: second run identical
    again = REGISTRY["xp_text_analysis"].fn(spark, sf_oracle).collect()
    assert rows == again


def test_semdedup_drops_planted_keeps_originals(spark, sf_oracle):
    """SemDeDup structural guarantees (round 11): every planted 1.001x
    copy (cosine ~1.0 with its source) must be DROPPED (keep=0 — its
    source has the lower id and lands in the same cluster), every
    original vector must be KEPT, and the kept set must contain no
    in-cluster pair at cosine >= threshold (greedy first-occurrence
    correctness, verified by brute force over the kept vectors)."""
    import numpy as np
    from pyspark.sql import functions as F

    from hadoop_copier_spark.queries.llm_ops import (
        N_PLANTED,
        PLANT_OFFSET,
        _with_planted_neardups,
    )
    from hadoop_copier_spark.tables import load_table

    rows = {r["vec_id"]: r for r in REGISTRY["xp_semdedup"].fn(spark, sf_oracle).collect()}
    planted_ids = {i + PLANT_OFFSET for i in range(N_PLANTED)}
    for pid in planted_ids:
        assert rows[pid]["keep"] == 0, f"planted copy {pid} not dropped"
        assert rows[pid]["cluster"] == rows[pid - PLANT_OFFSET]["cluster"], (
            "planted copy must cluster with its source"
        )
    # originals (including the planted copies' sources) are all kept:
    # the fixture's random 64-dim embeddings are near-orthogonal, so no
    # organic pair reaches cosine 0.95
    for vid, r in rows.items():
        if vid not in planted_ids:
            assert r["keep"] == 1, (vid, r)
    # kept set is in-cluster pair-free at the threshold (brute force)
    e = _with_planted_neardups(
        load_table(spark, sf_oracle, "embeddings").filter(F.col("vec_id") < 300)
    )
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
            for r in e.collect()}
    kept = [vid for vid, r in rows.items() if r["keep"] == 1]
    by_cluster = {}
    for vid in kept:
        by_cluster.setdefault(rows[vid]["cluster"], []).append(vid)
    for members in by_cluster.values():
        for i, x in enumerate(members):
            for y in members[i + 1:]:
                vx, vy = vecs[x], vecs[y]
                cos = float(vx @ vy / (np.linalg.norm(vx) * np.linalg.norm(vy)))
                assert cos < 0.95, (x, y, cos)


def test_semdedup_all_identical_vectors_bounded(spark):
    """Adversarial distribution (round 12, VERDICT r11 #7): 2000
    IDENTICAL vectors — the worst case for in-cluster quadratic search.
    The exact-duplicate pre-collapse must reduce the join to one
    representative per cluster, so the run passes even under a
    max_cluster_rows=4 guard (the raw cluster holds all 2000 rows; only
    the collapsed representative enters the join), keeps exactly the
    minimum id, and drops everything else."""
    from pyspark.sql import functions as F

    from hadoop_copier_spark.operators.similarity import semantic_dedup

    df = spark.range(2000).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(float(v)) for v in (1.0, 2.0, 3.0, 4.0)]).alias(
            "embedding"
        ),
    )
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            df, n_clusters=4, lloyd_iters=1, threshold=0.95, max_cluster_rows=4
        ).collect()
    }
    assert len(out) == 2000
    assert out[0] == 1 and all(out[v] == 0 for v in range(1, 2000))


def test_semdedup_max_cluster_rows_raises_on_near_identical(spark):
    """NEAR-identical (distinct) vectors cannot be collapsed; the opt-in
    guard must fail loudly with the offending size instead of silently
    running an all-pairs join."""
    import pytest
    from pyspark.sql import functions as F

    from hadoop_copier_spark.operators.similarity import semantic_dedup

    df = spark.range(64).select(
        F.col("id").alias("vec_id"),
        F.array(
            (F.lit(1.0) + F.col("id").cast("double") / 1e9),
            F.lit(2.0),
            F.lit(3.0),
            F.lit(4.0),
        ).alias("embedding"),
    )
    with pytest.raises(ValueError, match="max_cluster_rows"):
        semantic_dedup(
            df, n_clusters=2, lloyd_iters=1, threshold=0.95, max_cluster_rows=8
        )


def test_semdedup_zero_vectors_always_kept(spark):
    """Zero-norm vectors have NaN cosine with everything — they must
    never dedup (in either direction), matching the plain-path decision
    even though the exact-collapse path skips them."""
    from pyspark.sql import functions as F

    from hadoop_copier_spark.operators.similarity import semantic_dedup

    zeros = spark.range(10).select(
        F.col("id").alias("vec_id"),
        F.array(*[F.lit(0.0)] * 4).alias("embedding"),
    )
    out = {r["vec_id"]: r["keep"] for r in semantic_dedup(zeros).collect()}
    assert all(v == 1 for v in out.values()) and len(out) == 10


def test_ann_ivf_recall_vs_brute_force(spark, sf_oracle):
    brute = REGISTRY["q59"].fn(spark, sf_oracle).collect()
    approx = REGISTRY["xp_ann_ivf"].fn(spark, sf_oracle).collect()
    top_b, top_a = {}, {}
    for r in brute:
        top_b.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        top_a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(top_b[q] & top_a.get(q, set())) / len(top_b[q]) for q in top_b]
    # 4-probe of 16 clusters scans ~25% of vectors; near-neighbors
    # concentrate in probed clusters so recall should beat that baseline
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_connected_components_hand_graph(spark):
    """Chain (needs multi-hop propagation), separate triangle, isolated
    node: labels must be the exact component minima."""
    from hadoop_copier_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (5, 6),  # chain 1..6
         (10, 11), (11, 12), (10, 12)],           # triangle
        "src long, dst long",
    )
    nodes = spark.createDataFrame([(99,), (1,)], "id long").select("id")
    got = {
        r["node"]: r["comp"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
                   10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_string_ids(spark):
    """ADVICE r18 (medium): the SUM(comp) convergence probe is integral-
    only — string ids cast to decimal as NULL, which would break the loop
    after round 1 with unconverged labels. Non-integral ids must take the
    join-based changed-count probe and still converge to exact minima
    (the chain needs >1 round, so a silent round-1 exit is caught)."""
    from hadoop_copier_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("d3", "d4"), ("d4", "d5"),
         ("d5", "d6"), ("d6", "d7"), ("d7", "d8"), ("d8", "d9"),  # chain
         ("x1", "x2"), ("x2", "x3")],
        "src string, dst string",
    )
    nodes = spark.createDataFrame([("zzz",)], "id string").select("id")
    got = {
        r["node"]: r["comp"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert got == {f"d{i}": "d1" for i in range(1, 10)} | {
        "x1": "x1", "x2": "x1", "x3": "x1", "zzz": "zzz"
    }


def test_connected_components_zero_rounds_string_ids_outlive_release(spark):
    """String ids and max_iter=0 run no probe and no round, so
    no job reads the labels before the operator releases the edge
    checkpoint they derive from. The returned frame must still answer an
    action run after other jobs (each vertex labels itself). AQE is off
    in this session only: with it on, building the lazy checkpoint
    already runs its shuffle stages, which hides a missing block."""
    from hadoop_copier_spark.operators.components import connected_components

    spark = spark.newSession()
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    edges = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("e", "d")], "src string, dst string"
    )
    labels = connected_components(edges, max_iter=0)
    for _ in range(3):
        spark.range(2000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    got = {r["node"]: r["comp"] for r in labels.collect()}
    assert got == {v: v for v in "abcde"}


def test_dedup_clusters_match_union_find(spark, sf_oracle):
    """h_dedup_clusters vs a driver-side union-find over the same pair set
    (independent of both the Spark propagation and the SQL oracle)."""
    rows = REGISTRY["xh_dedup_clusters"].fn(spark, sf_oracle).collect()
    got = {r["doc_id"]: r["cluster_id"] for r in rows}

    # recompute the query's own pair set exactly (window +-1/+-2, j >= 0.7)
    import duckdb

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM read_parquet('{sf_oracle}/documents.parquet')"
    )
    pairs = con.execute(
        """WITH t AS (SELECT doc_id, list_distinct(string_split(lower(text), ' ')) AS toks
                      FROM documents)
           SELECT a.doc_id, b.doc_id FROM t a
           JOIN t b ON b.doc_id IN (a.doc_id + 1, a.doc_id + 2)
           WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
                 / (len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))) >= 0.7"""
    ).fetchall()
    parent = {d: d for d in got}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in pairs:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    expected = {d: find(d) for d in parent}
    assert got == expected


def test_connected_components_random_graphs_match_union_find(spark):
    """Seeded random graphs (self-loops, duplicate edges, singletons,
    multi-component) — distributed labels must equal union-find exactly."""
    import random

    from hadoop_copier_spark.operators.components import connected_components

    rng = random.Random(7)
    for trial in range(4):
        n = rng.randint(5, 40)
        m = rng.randint(1, 60)
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges += [(e, e) for e in (0, n - 1)]  # explicit self-loops
        edf = spark.createDataFrame(edges, "src long, dst long")
        ndf = spark.createDataFrame([(i,) for i in range(n)], "id long")
        got = {
            r["node"]: r["comp"]
            for r in connected_components(edf, nodes=ndf).collect()
        }
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for u, v in edges:
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[max(ru, rv)] = min(ru, rv)
        expected = {i: find(i) for i in range(n)}
        assert got == expected, f"trial {trial}"


def test_dedup_clusters_releases_checkpoint_storage(spark, sf_oracle):
    """ADVICE round 1: repeated invocations must not accumulate executor
    storage — superseded per-round label checkpoints and the shingle cache
    are released eagerly; only the returned frame's own checkpoint may
    remain until it is garbage collected."""
    jsc = spark.sparkContext._jsc.sc()

    def n_persistent():
        return jsc.getPersistentRDDs().size()

    base = n_persistent()
    REGISTRY["xh_dedup_clusters"].fn(spark, sf_oracle).collect()
    after_one = n_persistent()
    REGISTRY["xh_dedup_clusters"].fn(spark, sf_oracle).collect()
    after_two = n_persistent()
    # allowance: the returned labels checkpoint (+ the operator's own edge
    # materialization) from the most recent call may still be referenced,
    # but round-over-round growth (the round-1 leak: ~6 blocks/run) must not
    # compound across invocations.
    assert after_two - after_one <= 2, (base, after_one, after_two)
    assert after_one - base <= 3, (base, after_one, after_two)


def test_training_pipeline_deterministic_and_contracting(spark, sf_oracle):
    """The composed curation pipeline must be deterministic (seeded sample,
    deterministic dedup representatives) and each stage only removes rows:
    the sampled token total cannot exceed the raw corpus total."""
    from hadoop_copier_spark.queries.base import tbl
    from hadoop_copier_spark.functions.text import whitespace_token_count
    from pyspark.sql import functions as F

    run1 = [tuple(r) for r in REGISTRY["xp_training_pipeline"].fn(spark, sf_oracle).collect()]
    run2 = [tuple(r) for r in REGISTRY["xp_training_pipeline"].fn(spark, sf_oracle).collect()]
    assert run1 == run2
    assert run1, "pipeline must keep a non-empty curated corpus"
    d = tbl(spark, sf_oracle, "documents")
    total_docs = d.count()
    total_tokens = d.select(F.sum(whitespace_token_count(F.col("text"))).alias("t")).collect()[0]["t"]
    assert sum(r[1] for r in run1) <= total_docs
    assert sum(r[2] for r in run1) <= total_tokens
    assert {r[0] for r in run1} <= {"en", "de", "es", "fr"}


def test_training_pipeline_independent_of_partition_layout(spark, sf_oracle):
    """The stratified sample is a per-row hash test, so the pipeline's rows
    are identical whether its shuffles produce 1 partition or many. Each
    run gets its own session (isolated SQL conf, shared SparkContext)."""
    runs = []
    for n in ("1", "7"):
        s = spark.newSession()
        s.conf.set("spark.sql.shuffle.partitions", n)
        s.conf.set("spark.sql.adaptive.enabled", "false")
        runs.append([tuple(r) for r in REGISTRY["xp_training_pipeline"].fn(s, sf_oracle).collect()])
    assert runs[0] == runs[1]
    assert runs[0], "pipeline must keep a non-empty curated corpus"


def test_training_pipeline_stage_is_time_travelable(spark, sf_oracle):
    """VERDICT r10 #3: the pipeline's exact-dedup barrier is staged
    through the snapshot layer — after a run, the committed intermediate
    version must be readable via read_snapshot (restartability: a failed
    downstream stage resumes from the staged corpus, never re-running
    gate+dedup) and must carry the stage metadata."""
    from hadoop_copier_spark.operators.snapshots import (
        list_versions,
        read_snapshot,
        version_metas,
    )
    from hadoop_copier_spark.queries.llm_ops import curation_stage_table
    from pyspark.sql import functions as F

    final = REGISTRY["xp_training_pipeline"].fn(spark, sf_oracle).collect()
    t = curation_stage_table()
    assert list_versions(t) == [1], "fresh v1 per invocation"
    staged = read_snapshot(spark, t)
    assert set(staged.columns) == {"doc_id", "lang", "text"}
    n_staged = staged.count()
    assert n_staged > 0
    # the staged corpus is exact-deduped: md5(text) unique
    assert staged.select(F.md5("text")).distinct().count() == n_staged
    # downstream stages only remove rows: final doc total <= staged count
    assert sum(r["n_docs"] for r in final) <= n_staged
    assert version_metas(t)[1]["stage"] == "exact_dedup"


def test_compression_ratio_signal(spark, sf_oracle):
    """xp_compression_ratio: repetitive text compresses far better than
    prose (the signal's whole point), ratios are sane and deterministic."""
    out = REGISTRY["xp_compression_ratio"].fn(spark, sf_oracle).toPandas()
    assert len(out) > 0
    assert (out["comp_len"] > 0).all() and (out["raw_len"] > 0).all()
    assert (out["ratio_ppm"] == out["comp_len"] * 1_000_000 // out["raw_len"]).all()
    again = REGISTRY["xp_compression_ratio"].fn(spark, sf_oracle).toPandas()
    assert out.equals(again)

    # planted contrast: looped boilerplate vs varied text — run the
    # registered query against a scratch fixture dir
    import os
    import shutil
    import tempfile

    rows = [
        (1, "spam ham " * 200),
        (2, " ".join(f"w{i}x{i * 7 % 13}" for i in range(400))),
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), "doc_id long, text string"
    )
    tmp = tempfile.mkdtemp()
    try:
        df.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        planted = REGISTRY["xp_compression_ratio"].fn(spark, tmp).toPandas()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    ratios = dict(zip(planted["doc_id"], planted["ratio_ppm"]))
    assert ratios[1] < ratios[2] / 3, ratios  # boilerplate compresses >>3x better


def test_pca_power_integer_lockstep_and_direction(spark, sf_oracle):
    """xh_pca_power: exact Python-int replay of the quantized recurrence
    (order-free integer sums => EXACT equality), and the resulting
    direction aligns with a float power iteration at the same budget."""
    from hadoop_copier_spark.queries.base import tbl
    from hadoop_copier_spark.queries.llm_ops import _PCA_ROUNDS, _PCA_UNIT

    rows = tbl(spark, sf_oracle, "embeddings").filter(
        "embedding IS NOT NULL"
    ).collect()
    E = [[int(np.floor(float(x) * _PCA_UNIT + 0.5)) for x in r["embedding"]]
         for r in rows]
    dim = len(E[0])

    def trunc_div(a, b):  # both engines truncate toward zero
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q

    v = [_PCA_UNIT] * dim
    for _ in range(_PCA_ROUNDS):
        s = [trunc_div(sum(e[j] * v[j] for j in range(dim)), _PCA_UNIT) for e in E]
        w = [sum(E[i][j] * s[i] for i in range(len(E))) for j in range(dim)]
        m = max(max(abs(x) for x in w), 1)
        v = [trunc_div(x * _PCA_UNIT, m) for x in w]

    got = {r["dim"]: r["v_units"]
           for r in REGISTRY["xh_pca_power"].fn(spark, sf_oracle).collect()}
    assert got == {j: v[j] for j in range(dim)}  # EXACT

    # direction sanity: cosine vs the float recurrence at the same budget
    Ef = np.array([[float(x) for x in r["embedding"]] for r in rows])
    vf = np.ones(dim)
    for _ in range(_PCA_ROUNDS):
        vf = Ef.T @ (Ef @ vf)
        vf = vf / np.abs(vf).max()
    a = np.array([v[j] for j in range(dim)], dtype=np.float64)
    cos = float(a @ vf / (np.linalg.norm(a) * np.linalg.norm(vf)))
    assert cos > 0.999, cos


def test_ann_pq_planted_duplicates_rank_first(spark, sf_oracle):
    """PQ ADC scoring: an exact-code twin (the 1.001-scaled planted
    copy quantizes to the same 8 codes on random 64-dim data) must rank
    #1 for its query; codes are m-long, in [0, n_codes); repeated runs
    are bit-identical (deterministic seeds + stable argmin ties)."""
    from pyspark.sql import functions as F

    from hadoop_copier_spark.operators.similarity import pq_ann_topk

    e = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    planted = e.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(1.001)).cast("float")
        ).alias("embedding"),
        "label",
    )
    cand = e.unionByName(planted)
    q = e.filter(F.col("vec_id") < 4)
    rows = pq_ann_topk(cand, q, k=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    assert top1 == {i: i + 1000 for i in range(4)}, top1
    rows2 = pq_ann_topk(cand, q, k=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_ann_pq_recall_vs_brute_force(spark, sf_oracle):
    """PQ is lossy by design (8 subspaces x 16 codes), but on the
    fixture corpus its top-5 must overlap brute-force cosine top-5 well
    above chance (10 queries x ~600 candidates => chance overlap ~1%)."""
    brute = REGISTRY["q59"].fn(spark, sf_oracle).collect()
    approx = REGISTRY["xp_ann_pq"].fn(spark, sf_oracle).collect()
    top_b, top_a = {}, {}
    for r in brute:
        top_b.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        top_a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(top_b[q] & top_a.get(q, set())) / len(top_b[q]) for q in top_b]
    assert sum(recalls) / len(recalls) >= 0.2, recalls


def test_ann_ivfpq_planted_duplicates_and_recall(spark, sf_oracle):
    """IVF-PQ composition: the planted exact-code twin must survive BOTH
    stages (land in a probed cluster AND win the ADC ranking) and rank
    #1; repeated runs are bit-identical; random-tail recall vs brute
    force stays above the pure-PQ floor (pruning can only drop
    candidates the coarse quantizer scores far away)."""
    from pyspark.sql import functions as F

    from hadoop_copier_spark.operators.similarity import ivfpq_ann_topk

    e = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    planted = e.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 1000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: (x.cast("double") * F.lit(1.001)).cast("float")
        ).alias("embedding"),
        "label",
    )
    cand = e.unionByName(planted)
    q = e.filter(F.col("vec_id") < 4)
    rows = ivfpq_ann_topk(cand, q, k=3).collect()
    top1 = {r["query_id"]: r["neighbor_id"] for r in rows if r["rank"] == 1}
    assert top1 == {i: i + 1000 for i in range(4)}, top1
    rows2 = ivfpq_ann_topk(cand, q, k=3).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    brute = REGISTRY["q59"].fn(spark, sf_oracle).collect()
    approx = REGISTRY["xp_ann_ivfpq"].fn(spark, sf_oracle).collect()
    top_b, top_a = {}, {}
    for r in brute:
        top_b.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        top_a.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    recalls = [len(top_b[q] & top_a.get(q, set())) / len(top_b[q]) for q in top_b]
    # exact re-rank (VERDICT r14 #3) lifts the random-tail recall well
    # above the raw-ADC 0.1-0.4 floor even on the small sf0.01 corpus
    assert sum(recalls) / len(recalls) >= 0.5, recalls


def test_ann_ivfpq_rerank_scores_are_exact_cosines(spark, sf_oracle):
    """VERDICT r14 #3: with re-ranking on (the default), every emitted
    score must be the EXACT full-precision cosine of its pair — not the
    ADC approximation — and rerank_factor=0 must restore the raw ADC
    path (whose dot-product scores generally differ)."""
    import math

    from pyspark.sql import functions as F

    from hadoop_copier_spark.operators.similarity import ivfpq_ann_topk

    e = spark.read.parquet(f"{sf_oracle}/embeddings.parquet").filter(
        F.col("embedding").isNotNull()
    )
    q = e.filter(F.col("vec_id") < 3)
    rows = ivfpq_ann_topk(e, q, k=3).collect()
    assert rows
    vecs = {
        r["vec_id"]: [float(x) for x in r["embedding"]]
        for r in e.filter(F.col("vec_id") < 2000).collect()
    }
    for r in rows:
        a, b = vecs[r["query_id"]], vecs[r["neighbor_id"]]
        dot = sum(x * y for x, y in zip(a, b))
        cos = dot / math.sqrt(
            sum(x * x for x in a) * sum(y * y for y in b)
        )
        assert abs(r["score"] - cos) < 1e-9, (r, cos)
    raw = ivfpq_ann_topk(e, q, k=3, rerank_factor=0).collect()
    assert len(raw) == len(rows)  # same shape, ADC scores instead


def test_kmeans_round_matches_bruteforce(spark, tmp_path):
    """One Lloyd round on a 12-vector, 4-dim corpus with two planted
    blobs: a pure-Python recount of the identical integer recurrence
    (quantize, argmin with (d2, cluster) tie-break, trunc-toward-zero
    centroid division) must reproduce every (cluster, dim) cell, and
    the two blob members must land with their own seed groups."""
    vecs = {
        # blob A near (1, 0, 0, 0); vec_ids 0..7 become the seeds
        0: [1.0, 0.0, 0.0, 0.0],
        1: [0.9, 0.1, 0.0, 0.0],
        2: [1.1, -0.1, 0.0, 0.0],
        3: [0.0, 1.0, 0.0, 0.0],   # stray seed
        4: [0.0, 0.0, 1.0, 0.0],
        5: [0.0, 0.0, 0.0, 1.0],
        6: [-1.0, 0.0, 0.0, 0.0],
        7: [0.5, 0.5, 0.0, 0.0],
        # non-seed members: near blob A and near seed 4's axis
        8: [0.95, 0.05, 0.0, 0.0],
        9: [1.05, 0.0, 0.05, 0.0],
        10: [0.0, 0.05, 0.95, 0.0],
        11: [-0.02, 0.0, 1.02, 0.0],
    }
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, [float(x) for x in v], 0) for i, v in vecs.items()], 3
        ),
        "vec_id long, embedding array<float>, label int",
    )
    root = str(tmp_path / "km")
    df.write.parquet(f"{root}/embeddings.parquet")

    import math
    U = 1_000_000

    def q(x):
        # float32 storage round-trip first, then the engine quantize
        import struct
        x32 = struct.unpack("f", struct.pack("f", x))[0]
        return math.floor(x32 * U + 0.5)

    def tdiv(a, b):
        qd = abs(a) // abs(b)
        return qd if (a >= 0) == (b >= 0) else -qd

    eu = {i: [q(x) for x in v] for i, v in vecs.items()}
    seeds = {k: eu[k] for k in range(8)}
    assign = {}
    for i, u in eu.items():
        best = min(
            (sum((a - b) * (a - b) for a, b in zip(u, seeds[k])), k)
            for k in range(8)
        )
        assign[i] = best[1]
    expect = {}
    for k in range(8):
        members = [eu[i] for i, c in assign.items() if c == k]
        if not members:
            continue
        for d in range(4):
            s = sum(m[d] for m in members)
            expect[(k, d)] = (tdiv(s, len(members)), len(members))

    got = {
        (r["cluster"], r["dim"]): (r["new_cu"], r["n_assigned"])
        for r in REGISTRY["xh_kmeans_round"].fn(spark, root).collect()
    }
    assert got == expect
    # the blob members joined seed 0's cluster, the axis pair seed 4's
    assert assign[8] == assign[9] == 0 and assign[10] == assign[11] == 4


def test_hard_negatives_exclude_same_label_and_rank_exactly(spark, sf_oracle, tmp_path):
    """Round-15 planted case: 1 query (label 0) + 3 same-label decoys
    (near-identical vectors, must be EXCLUDED) + 3 different-label
    candidates at known cosines (must rank in exact similarity order
    with exact-integer-unit scores)."""
    import math

    from pyspark.sql import functions as F

    rows = [
        # (vec_id, embedding, label)
        (0, [1.0, 0.0, 0.0, 0.0], 0),      # the query
        (100, [1.0, 0.001, 0.0, 0.0], 0),  # same label: excluded however close
        (101, [0.999, 0.0, 0.0, 0.0], 0),
        (102, [1.0, 0.0, 0.001, 0.0], 0),
        (200, [1.0, 0.1, 0.0, 0.0], 1),    # cos ~0.995  -> rank 1
        (201, [1.0, 0.5, 0.0, 0.0], 2),    # cos ~0.894  -> rank 2
        (202, [0.0, 1.0, 0.0, 0.0], 1),    # cos 0       -> rank 3
    ]
    df = spark.createDataFrame(
        spark.sparkContext.parallelize(
            [(i, [float(x) for x in v], lb) for i, v, lb in rows], 2
        ),
        schema="vec_id bigint, embedding array<float>, label int",
    )
    root = tmp_path / "hardneg"
    df.write.parquet(f"{root}/embeddings.parquet")
    out = REGISTRY["xh_hard_negatives"].fn(spark, str(root)).collect()
    got = [(r["rank"], r["neighbor_id"], r["n_label"]) for r in out]
    assert got == [(1, 200, 1), (2, 201, 2), (3, 202, 1)], got
    assert all(r["q_label"] == 0 for r in out)
    # scores are the exact integer-unit cosine of the mirrored op tree
    for r in out:
        v = dict((i, v) for i, v, _ in rows)[r["neighbor_id"]]
        q = [1.0, 0.0, 0.0, 0.0]
        iu = lambda x: math.floor(x * 1_000_000 + 0.5)
        dot = sum(iu(a) * iu(b) for a, b in zip(q, v))
        n2q = sum(iu(a) * iu(a) for a in q)
        n2v = sum(iu(a) * iu(a) for a in v)
        assert r["score"] == dot / math.sqrt(n2q * n2v), r


def test_hard_negatives_forced_ivf_path(spark, sf_oracle):
    """VERDICT r15 #6: hard_negatives_topk's query-side broadcast is a
    byte-aware probe, not an assumption. Forcing the fallback with
    max_broadcast_bytes=1 must run the shuffled IVF cluster-join path;
    with n_probe == n_clusters (probe everything) that path is
    EXHAUSTIVE — every candidate lives in exactly one cluster and every
    query probes all of them, so a pair matches exactly once — and the
    output must be bit-identical to the exact broadcast path."""
    from pyspark.sql import functions as F

    from hadoop_copier_spark.operators.similarity import hard_negatives_topk

    e = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = sorted(map(tuple, hard_negatives_topk(e, q, k=5).collect()))
    forced = sorted(
        map(
            tuple,
            hard_negatives_topk(
                e, q, k=5, max_broadcast_bytes=1,
                n_clusters=8, n_probe=8,
            ).collect(),
        )
    )
    assert forced == exact
    # default pruning (n_probe < n_clusters) still returns the contract
    # shape with exact-cosine scores on whatever candidates survive
    pruned = hard_negatives_topk(
        e, q, k=5, max_broadcast_bytes=1, n_clusters=8, n_probe=2
    )
    assert pruned.columns == [
        "query_id", "neighbor_id", "rank", "score", "q_label", "n_label"
    ]
    rows = pruned.collect()
    assert rows and all(r["q_label"] != r["n_label"] for r in rows)


def test_hardneg_probe_refires_on_input_rewrite(spark, tmp_path):
    """VERDICT r17 #4: _HARDNEG_SHAPE_CACHE keys on an input-files
    fingerprint beyond (app, semanticHash, vec_col), so a mid-session
    rewrite of the SAME path — which produces an IDENTICAL plan hash but
    new part-file names — re-fires the probe instead of returning the
    stale (n, dim) that steered path selection. The old documented
    immutability caveat is gone; this pins its replacement."""
    from hadoop_copier_spark.operators.similarity import (
        _HARDNEG_SHAPE_CACHE,
        hard_negatives_topk,
    )

    def mk(n):
        return spark.createDataFrame(
            spark.sparkContext.parallelize(
                [(i, [float(i % 7), 1.0], i % 2) for i in range(n)], 1
            ),
            "vec_id bigint, embedding array<float>, label int",
        )

    path = str(tmp_path / "q.parquet")
    mk(3).write.mode("overwrite").parquet(path)
    cands = mk(8)
    _HARDNEG_SHAPE_CACHE.clear()

    q1 = spark.read.parquet(path)
    hard_negatives_topk(cands, q1, k=2).collect()
    keys1 = set(_HARDNEG_SHAPE_CACHE)
    assert len(keys1) == 1
    assert _HARDNEG_SHAPE_CACHE[next(iter(keys1))][0] == 3

    # same plan, same files: HIT — no new key
    hard_negatives_topk(cands, spark.read.parquet(path), k=2).collect()
    assert set(_HARDNEG_SHAPE_CACHE) == keys1

    # rewrite the same path with a different row count: the plan (and
    # its semanticHash) is indistinguishable, only the files changed
    mk(5).write.mode("overwrite").parquet(path)
    q2 = spark.read.parquet(path)
    assert q2.semanticHash() == q1.semanticHash()
    hard_negatives_topk(cands, q2, k=2).collect()
    new = set(_HARDNEG_SHAPE_CACHE) - keys1
    assert len(new) == 1, "probe did not re-fire on same-path rewrite"
    assert _HARDNEG_SHAPE_CACHE[new.pop()][0] == 5


def test_connected_components_closes_255_chain_in_12_rounds(spark):
    """On the docstring's pathological chain the pointer-jumping CC
    converges in O(log d) rounds: a 255-edge path must be fully labeled
    within 12 rounds, far fewer than the 255 plain Hash-Min propagation
    needs (each round shrinks label-chain depth ~3x)."""
    from pyspark.sql import functions as F

    from hadoop_copier_spark.operators.components import connected_components

    d = 255
    edges = spark.range(d).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    labels = connected_components(edges, max_iter=12).collect()
    assert len(labels) == d + 1
    assert all(r["comp"] == 0 for r in labels), (
        "O(log d) regression: a 255-edge chain is not closed after 12 rounds"
    )
