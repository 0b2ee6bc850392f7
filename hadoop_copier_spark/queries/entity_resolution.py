"""Entity-resolution / record-linkage operators (round 7, part 4).

The missing classic alongside dedup: finding records that refer to the
same real-world entity WITHOUT an exact key — the customer-address /
product-catalog matching problem. The scalable shape is always the
same: cheap BLOCKING passes propose candidate pairs as equi-joins
(never an all-pairs comparison), then an exact similarity verify runs
only inside blocks. MinHash-LSH (operators/dedup.py) is this pattern
for set similarity; this module adds the edit-distance flavor used for
short strings (names, titles, SKUs).
"""

from __future__ import annotations

from .base import F, tbl
from .registry import register

_MAX_LV = 2  # verify threshold: edit distance <= 2


@register(
    "xh_fuzzy_match",
    oracle=f"""WITH g AS (
  SELECT p_name AS nm, p_brand AS br, COUNT(*) AS g
  FROM part GROUP BY 1, 2
),
lv0 AS (
  SELECT br AS brand, CAST(0 AS BIGINT) AS lv,
         CAST(SUM(g * (g - 1) / 2) AS BIGINT) AS n_pairs
  FROM g GROUP BY 1 HAVING SUM(g * (g - 1) / 2) > 0
),
pairs AS (
  SELECT a.br AS brand, CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS lv,
         a.g * b.g AS w
  FROM g a JOIN g b
    ON a.br = b.br AND a.nm < b.nm
   AND abs(length(a.nm) - length(b.nm)) <= {_MAX_LV}
   AND levenshtein(a.nm, b.nm) <= {_MAX_LV}
)
SELECT brand, lv, CAST(SUM(w) AS BIGINT) AS n_pairs
FROM pairs GROUP BY 1, 2
UNION ALL SELECT * FROM lv0
ORDER BY brand, lv""",
    tags=("er", "fuzzy", "dedup"),
)
def xh_fuzzy_match(spark, sf_dir):
    """Fuzzy entity matching over product names, round-18 blocking chosen
    by the RECORDED decision rule of a 7-strategy blocking sweep (VERDICT
    r17 #3): PassJoin segment signatures — the only
    swept strategy with planted recall 1.0 at the lowest x4-replication
    candidate volume (93.2M vs lenwin4's 182.7M; the r17-era first∪last
    token key scored 0.667, missing every both-token edit class). Blocking
    recall is TOTAL for levenshtein <= {_MAX_LV} BY CONSTRUCTION
    (passjoin_candidates below), so the output is blocking-independent:
    ALL same-brand pairs within distance {_MAX_LV}, as a (brand, lv,
    n_pairs) profile.

    Composed with exact-group COLLAPSE (the standard ER preprocessing this
    totality unlocks): rows are first grouped by identical (name, brand) —
    lv=0 pair counts fall out arithmetically as sum C(g,2), and the fuzzy
    join runs over DISTINCT names only with pair weights g_a * g_b. On
    duplicate-heavy corpora this removes the whole verbatim-replication
    quadratic term: the sf1 x10 fixture fuzzy-joins the same ~3.7k
    distinct names as sf0.1 instead of 206k rows (r17's equality fast
    path became unnecessary — no equal pair ever reaches the verify).

    Scale shape: one exact groupBy(name, brand) exchange; PassJoin is one
    equi join of two map-side projections (3 index rows, <= 75 probe rows
    per DISTINCT name — broadcast delta dimension, no UDF); the banded
    O(tau*len) levenshtein verify runs map-side on segment hits; the
    distinct shuffles only integer/code rows. The oracle is a DIFFERENT
    algorithm — brute-force distinct-name pairs with a |len| prefilter —
    so the hash match cross-checks the PassJoin recall theorem end-to-end
    (plus the adversarial property test in tests/test_curation_props.py).
    """
    p = tbl(spark, sf_dir, "part").select(
        F.col("p_name").alias("nm"), F.col("p_brand").alias("br")
    )
    groups = p.groupBy("nm", "br").agg(F.count(F.lit(1)).alias("g"))

    lv0 = (
        groups.groupBy(F.col("br").alias("brand"))
        .agg(
            F.sum(F.col("g") * (F.col("g") - 1) / 2).cast("bigint").alias("n_pairs")
        )
        .filter(F.col("n_pairs") > 0)
        .select("brand", F.lit(0).cast("bigint").alias("lv"), "n_pairs")
    )

    # distinct-name reps keyed by a dense per-(nm,br) id for pair ordering
    reps = groups.select(
        F.xxhash64("nm", "br").alias("k"), "nm", "br", "g"
    )
    cand = passjoin_candidates(reps.select("k", "nm", "br"), raw=True)
    verified = (
        cand.withColumn(
            "lv", F.levenshtein("nm_a", "nm_b", _MAX_LV).cast("bigint")
        )
        .filter(F.col("lv") >= 1)  # distinct names: lv 0 impossible
        .select("key_a", "key_b", "nm_a", "nm_b", "br", "lv")
        .distinct()
    )
    ga = groups.select(
        F.col("nm").alias("gnm_a"), F.col("br").alias("gbr_a"), F.col("g").alias("g_a")
    )
    gb = groups.select(
        F.col("nm").alias("gnm_b"), F.col("br").alias("gbr_b"), F.col("g").alias("g_b")
    )
    weighted = (
        verified.join(
            ga, (F.col("nm_a") == F.col("gnm_a")) & (F.col("br") == F.col("gbr_a"))
        )
        .join(gb, (F.col("nm_b") == F.col("gnm_b")) & (F.col("br") == F.col("gbr_b")))
        .select("br", "lv", (F.col("g_a") * F.col("g_b")).alias("w"))
    )
    fuzzy = (
        weighted.groupBy(F.col("br").alias("brand"), "lv")
        .agg(F.sum("w").cast("bigint").alias("n_pairs"))
    )
    return fuzzy.unionByName(lv0).orderBy("brand", "lv")


# ---------------------------------------------------------------------------
# PassJoin segment blocking (round 18, VERDICT r17 #3)
# ---------------------------------------------------------------------------
#
# Total-recall candidate generation for levenshtein <= tau, after the
# partition-based signature scheme of Li/Deng/Feng's Pass-Join (ICDE 2011,
# public literature): split every INDEXED string into tau+1 segments; by
# pigeonhole an optimal alignment of any pair within distance tau leaves at
# least one segment with ZERO edits, so that segment appears VERBATIM in
# the partner at a start position shifted by at most tau (the edits before
# it). Candidates are therefore an EQUI join: index keys
# (brand, j, segment, len) vs probe keys (brand, j, substring, partner_len)
# where the probe enumerates, per partner length l in [len-tau, len+tau],
# the substrings at the segment's expected position +- tau. Probe fan-out
# is a BROADCAST cross with a (2*tau+1) * (tau+1) * (2*tau+1)-row delta
# dimension (75 rows at tau=2) — bounded, JVM-side, no UDF.

_PJ_TAU = _MAX_LV          # segments sized for the verify threshold
_PJ_NSEG = _PJ_TAU + 1     # tau+1 segments => >= 1 survives any tau edits


def _seg_len(l, j):
    """Length of 1-based segment j of a string of length l (last `l % n`
    segments are one char longer; any fixed convention works as long as
    index and probe share it)."""
    base = F.floor(l / _PJ_NSEG).cast("int")
    rem = (l % _PJ_NSEG).cast("int")
    return base + F.when(j > _PJ_NSEG - rem, F.lit(1)).otherwise(F.lit(0))


def _seg_pos(l, j):
    """1-based start of segment j of a string of length l."""
    base = F.floor(l / _PJ_NSEG).cast("int")
    rem = (l % _PJ_NSEG).cast("int")
    return (
        F.lit(1)
        + (j - F.lit(1)) * base
        + F.greatest(F.lit(0), (j - F.lit(1)) - (F.lit(_PJ_NSEG) - rem))
    )


def passjoin_candidates(p, raw: bool = False):
    """Candidate pairs for levenshtein <= _PJ_TAU over ``p`` (columns
    k, nm, br) with TOTAL RECALL by construction (the PassJoin theorem
    above; property-tested in tests/test_curation_props.py against
    adversarial planted edits, including both-end and length-changing
    ones). Returns distinct (key_a, key_b, nm_a, nm_b, br), key_a < key_b.

    Scale shape: one equi join of two map-side projections — the index
    side emits tau+1 = 3 rows per record, the probe side at most 75
    (bounded broadcast cross with the delta dimension, most clamped away
    by position validity). Block keys carry segment CONTENT + exact
    partner length, so selectivity comes from the data's character
    distribution, not from a hoped-for token structure: the blocking
    that survives both the 2-token fixture names here and dbgen's
    5-color names. Strings shorter than tau+1 chars get zero-length
    segments on some j; those keys are suppressed and such strings
    instead pair within a per-brand `tiny` block (bounded: only strings
    under 3 chars), keeping the recall guarantee total."""
    spark = p.sparkSession
    ln = F.length("nm")
    jdim = F.broadcast(
        spark.createDataFrame(
            spark.sparkContext.parallelize([(j,) for j in range(1, _PJ_NSEG + 1)], 1),
            "j int",
        )
    )
    deltas = F.broadcast(
        spark.createDataFrame(
            spark.sparkContext.parallelize(
                [
                    (dl, j, sh)
                    for dl in range(-_PJ_TAU, _PJ_TAU + 1)
                    for j in range(1, _PJ_NSEG + 1)
                    for sh in range(-_PJ_TAU, _PJ_TAU + 1)
                ],
                1,
            ),
            "dl int, j int, sh int",
        )
    )
    base = p.select("k", "nm", "br", ln.alias("l_own"))

    idx = (
        base.filter(F.col("l_own") >= _PJ_NSEG)
        .crossJoin(jdim)
        .select(
            F.col("k").alias("ik"),
            F.col("nm").alias("nm_i"),
            "br",
            "j",
            F.col("l_own").alias("l"),
            F.col("nm").substr(
                _seg_pos(F.col("l_own"), F.col("j")),
                _seg_len(F.col("l_own"), F.col("j")),
            ).alias("seg"),
        )
    )

    prb = (
        base.crossJoin(deltas)
        .withColumn("l", F.col("l_own") + F.col("dl"))
        .filter(F.col("l") >= _PJ_NSEG)
        .withColumn("seg_l", _seg_len(F.col("l"), F.col("j")))
        .withColumn("q", _seg_pos(F.col("l"), F.col("j")) + F.col("sh"))
        .filter(
            (F.col("q") >= 1) & (F.col("q") + F.col("seg_l") - 1 <= F.col("l_own"))
        )
        .select(
            F.col("k").alias("pk"),
            F.col("nm").alias("nm_p"),
            F.col("br").alias("br_p"),
            F.col("j").alias("p_j"),
            F.col("l").alias("p_l"),
            F.col("nm").substr(F.col("q"), F.col("seg_l")).alias("p_seg"),
        )
    )

    joined = idx.join(
        prb,
        (F.col("br") == F.col("br_p"))
        & (F.col("j") == F.col("p_j"))
        & (F.col("l") == F.col("p_l"))
        & (F.col("seg") == F.col("p_seg"))
        & (F.col("ik") != F.col("pk")),
    )
    pairs = joined.select(
        F.least("ik", "pk").alias("key_a"),
        F.greatest("ik", "pk").alias("key_b"),
        F.when(F.col("ik") < F.col("pk"), F.col("nm_i")).otherwise(F.col("nm_p")).alias("nm_a"),
        F.when(F.col("ik") < F.col("pk"), F.col("nm_p")).otherwise(F.col("nm_i")).alias("nm_b"),
        F.col("br"),
    )

    # tiny-string fallback: strings under tau+1 chars have zero-length
    # segments; block them per brand (bounded — sub-3-char names only)
    tiny = base.filter(F.col("l_own") < _PJ_NSEG)
    t_a = tiny.select(
        F.col("k").alias("key_a"), F.col("nm").alias("nm_a"), "br"
    )
    t_b = tiny.select(
        F.col("k").alias("key_b"),
        F.col("nm").alias("nm_b"),
        F.col("br").alias("br_b"),
    )
    tiny_pairs = t_a.join(
        t_b, (F.col("br") == F.col("br_b")) & (F.col("key_a") < F.col("key_b"))
    ).select("key_a", "key_b", "nm_a", "nm_b", "br")

    all_pairs = pairs.unionByName(tiny_pairs)
    # raw=True: the pre-distinct join output (one row per segment hit) —
    # what each candidate actually costs at the verify, the blocking
    # sweep's volume measure; production verifies
    # MAP-SIDE on this frame and distincts the verified integer rows
    return all_pairs if raw else all_pairs.distinct()
