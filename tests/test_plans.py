"""Physical-plan assertions (SURVEY §4.2): the scale discipline is graded
on what Catalyst plans, so pin it. Each test reads the explain output of a
declared query and asserts the plan feature that makes it survive 100x
data, not just pass at sf0.01."""

from pyspark.sql import functions as F

from hadoop_copier_spark.plans import explain_str
from hadoop_copier_spark.queries import REGISTRY


def _explain(spark, sf_oracle, name):
    return explain_str(REGISTRY[name].fn(spark, sf_oracle))


def test_q07_filter_pushed_to_parquet_scan(spark, sf_oracle):
    text = _explain(spark, sf_oracle, "q07")
    assert "PushedFilters:" in text
    # range predicate on l_shipdate and comparisons reach the scan
    assert "l_shipdate" in text.split("PushedFilters:")[1].split("\n")[0]


def test_q06_column_pruning(spark, sf_oracle):
    text = _explain(spark, sf_oracle, "q06")
    # only the 4 needed columns are read, not all 11
    read_schema = text.split("ReadSchema:")[1].split("\n")[0]
    assert "l_extendedprice" in read_schema and "l_discount" in read_schema
    assert "l_returnflag" not in read_schema and "l_shipdate" not in read_schema


def test_q13_broadcast_hash_join(spark, sf_oracle):
    text = _explain(spark, sf_oracle, "q13")
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text  # fact side must not shuffle


def test_q12_dims_broadcast_no_fact_shuffle_join(spark, sf_oracle):
    text = _explain(spark, sf_oracle, "q12")
    assert text.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in text


def test_q42_take_ordered_not_global_sort(spark, sf_oracle):
    text = _explain(spark, sf_oracle, "q42")
    assert "TakeOrderedAndProject" in text


def test_q24_partial_aggregation(spark, sf_oracle):
    text = _explain(spark, sf_oracle, "q24")
    # partial (map-side) + final HashAggregate pair: only aggregate state
    # crosses the shuffle
    assert "partial_" in text or text.count("HashAggregate") >= 2


def test_q21_range_join_keeps_equi_component(spark, sf_oracle):
    text = _explain(spark, sf_oracle, "q21")
    # must plan as an equi join (hash or SMJ) with residual range condition,
    # never a cartesian/BNLJ over events x events
    assert "CartesianProduct" not in text
    assert "BroadcastNestedLoopJoin" not in text


def test_q59_queries_broadcast(spark, sf_oracle):
    text = _explain(spark, sf_oracle, "q59")
    assert "BroadcastNestedLoopJoin" in text or "BroadcastHashJoin" in text


def test_whole_stage_codegen_on_hot_path(spark, sf_oracle):
    # AQE hides codegen markers until the plan is final: execute, then
    # inspect the executed plan.
    df = REGISTRY["q24"].fn(spark, sf_oracle)
    df.collect()
    text = df._jdf.queryExecution().executedPlan().toString()
    # '*(N)' prefixes mark operators fused into WholeStageCodegen stages
    assert "*(1)" in text and "*(2)" in text, text[:500]


def test_scan_count_star_reads_no_data_columns(spark, sf_oracle):
    from hadoop_copier_spark.tables import load_table

    df = load_table(spark, sf_oracle, "lineitem").agg(F.count(F.lit(1)))
    text = explain_str(df)
    read_schema = text.split("ReadSchema:")[1].split("\n")[0]
    assert read_schema.strip().rstrip(">") in ("struct<", "struct"), read_schema


def test_window_jaccard_pairs_hash_join_not_bnlj(spark, sf_oracle):
    """The +-k candidate window must plan as explode + equi hash join; an
    OR-of-equalities spelling degrades to BroadcastNestedLoopJoin (all
    pairs compared) which does not survive scale."""
    from hadoop_copier_spark.operators.dedup import window_jaccard_pairs
    from hadoop_copier_spark.tables import load_table

    d = load_table(spark, sf_oracle, "documents")
    text = explain_str(window_jaccard_pairs(d, "doc_id", "text"))
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text


def test_partition_pruning_on_partitioned_layout(spark, sf_oracle, tmp_path):
    """q05's partitioned layout must actually prune: a filter on the
    partition column appears under PartitionFilters in the scan (directory
    skip), not as a data filter over all files."""
    from hadoop_copier_spark.tables import load_table

    out = str(tmp_path / "orders_by_status")
    load_table(spark, sf_oracle, "orders").write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(out)
    df = (
        spark.read.parquet(out)
        .filter(F.col("o_orderstatus") == "F")
        .select("o_orderkey")
    )
    text = explain_str(df)
    assert "PartitionFilters" in text
    after = text.split("PartitionFilters", 1)[1][:250]
    assert "o_orderstatus" in after, after


def test_ntile_no_single_partition_exchange(spark, sf_oracle):
    """q35 AND its scale twin must never funnel the table into one ordered
    partition (VERDICT r5 #2: q35 formerly planned an empty-PARTITION BY
    window — whole table in a single sorted partition). Both now ship the
    range-partitioned global-rank plan: no single-partition exchange, and
    no Window operator at all (rank comes from per-partition offsets)."""
    for name in ("q35", "xh_ntile_scalable"):
        text = _explain(spark, sf_oracle, name)
        assert "Window" not in text, name  # rank from offsets, not a window
        simple = _explain_simple(spark, sf_oracle, name)
        assert not _single_partition_funnels(simple), (name, simple[:800])


def test_ntile_warm_build_runs_four_jobs(spark, sf_smoke):
    """A warm q35 build runs the range stamp's sampling and shuffle jobs
    and then the per-partition count collect (a shuffle job and a result
    job). The stamp's lazy checkpoint is materialized by that collect; the
    eager checkpoint it replaced ran a fifth job of its own."""
    sc = spark.sparkContext
    REGISTRY["q35"].fn(spark, sf_smoke)  # cold: table open and codegen
    group = "warm-q35-build"
    sc.setJobGroup(group, group)
    try:
        REGISTRY["q35"].fn(spark, sf_smoke)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 4


def test_correlated_scalar_subquery_decorrelated(spark, sf_oracle):
    """Catalyst must rewrite the correlated scalar subquery into an
    aggregate + join (one pass), never a per-row ScalarSubquery."""
    text = _explain(spark, sf_oracle, "xh_correlated_scalar_subquery")
    assert "Join" in text
    assert "ScalarSubquery" not in text, text[:800]


def test_q22_asof_no_window_sort(spark, sf_oracle):
    """The as-of join resolves latest-at-or-before via max_by aggregation,
    not a row_number window (which would add a per-key sort of every
    candidate row at 100 TB)."""
    text = _explain(spark, sf_oracle, "q22")
    assert "Window" not in text, text[:800]


def test_q22_asof_bucketed_same_oracle_hash_and_bucket_in_join_keys(
    spark, sf_oracle, duck
):
    """VERDICT r8 #6: the bucketed as-of form (lookback + bucket_width)
    must (a) hash-check against the SAME q22 oracle — with a lookback
    covering the fixture's full history span the bucketing is a pure
    plan transformation — and (b) put the time bucket in the JOIN KEYS,
    not the residual: that is the property that kills the unbounded
    per-key fan-out at 100x history depth (a hot user's history spreads
    over (user, bucket) reducers instead of one)."""
    from hadoop_copier_spark.operators.asof import asof_join
    from hadoop_copier_spark.tables import load_table
    from hadoop_copier_spark.testing import compare

    def q22_bucketed(sp, sf_dir):
        e = (
            load_table(sp, sf_dir, "events")
            .withColumn("ts_ms", F.date_trunc("millisecond", F.col("ts")))
            .select("event_id", "user_id", "ts_ms")
        )
        o = (
            load_table(sp, sf_dir, "orders")
            .withColumnRenamed("o_custkey", "user_id")
            .select("user_id", "o_orderkey", "o_orderdate")
        )
        return (
            asof_join(
                e, o, on="user_id", left_time="ts_ms", right_time="o_orderdate",
                tiebreak="o_orderkey",
                lookback=F.expr("INTERVAL '40' YEAR"),  # covers full fixture span
                bucket_width=40 * 365.25 * 86400.0,
                lookback_seconds=40 * 365.25 * 86400.0,
            )
            .select("event_id", "user_id", "ts_ms", "o_orderkey", "o_orderdate")
            .orderBy("event_id")
        )

    probs = compare(q22_bucketed, REGISTRY["q22"].oracle, spark, sf_oracle, con=duck)
    assert not probs, probs

    text = explain_str(q22_bucketed(spark, sf_oracle), "simple")
    join_lines = [
        ln for ln in text.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines, text[:800]
    # equi key lists come before the join type/condition tail; the bucket
    # must appear there on both sides, i.e. as a join KEY
    keys_part = join_lines[0].split("Inner")[0]
    assert "__asof_bucket_l" in keys_part and "__asof_bucket_r" in keys_part, (
        join_lines[0][:300]
    )


def test_asof_bucketed_left_variant_bucket_in_join_keys_no_bnlj(spark, sf_oracle):
    """VERDICT r10 #5: the how='left' bucketed as-of must plan exactly
    like the inner form — the time bucket rides the JOIN KEYS of an
    outer equi join (so a hot key's history still spreads over (key,
    bucket) reducers) and nothing degrades to a nested-loop/cartesian
    join. Result parity for the left variant incl. unmatched keys is
    property-tested in tests/test_properties.py; this pins the plan."""
    from hadoop_copier_spark.operators.asof import asof_join
    from hadoop_copier_spark.tables import load_table

    e = (
        load_table(spark, sf_oracle, "events")
        .withColumn("ts_ms", F.date_trunc("millisecond", F.col("ts")))
        .select("event_id", "user_id", "ts_ms")
    )
    o = (
        load_table(spark, sf_oracle, "orders")
        .withColumnRenamed("o_custkey", "user_id")
        .select("user_id", "o_orderkey", "o_orderdate")
    )
    df = asof_join(
        e, o, on="user_id", left_time="ts_ms", right_time="o_orderdate",
        tiebreak="o_orderkey", how="left",
        lookback=F.expr("INTERVAL '40' YEAR"),
        bucket_width=40 * 365.25 * 86400.0,
        lookback_seconds=40 * 365.25 * 86400.0,
    )
    text = explain_str(df, "simple")
    assert "BroadcastNestedLoopJoin" not in text, text[:800]
    assert "CartesianProduct" not in text, text[:800]
    join_lines = [
        ln for ln in text.splitlines()
        if "HashJoin" in ln or "SortMergeJoin" in ln
    ]
    assert join_lines, text[:800]
    # the outer join's equi-key list (before the "LeftOuter" tail) must
    # carry the bucket on both sides
    keys_part = join_lines[0].split("LeftOuter")[0]
    assert "__asof_bucket_l" in keys_part and "__asof_bucket_r" in keys_part, (
        join_lines[0][:300]
    )


def test_q59_candidates_never_shuffle(spark, sf_oracle):
    """Brute-force cosine: queries broadcast; the candidate scan must
    stream (no SortMergeJoin / hash exchange of the candidate side before
    the join)."""
    text = _explain(spark, sf_oracle, "q59")
    assert "SortMergeJoin" not in text
    pre_join = text.split("Join", 1)[0]
    assert "Exchange hashpartitioning" not in pre_join, pre_join[-500:]


def test_oracle_twin_dedup_plans_stay_equi_join(spark, sf_oracle):
    """The portable-hash dedup twins must keep the production plan shapes:
    the LSH band bucket self-join and the Jaccard verify joins are equi
    joins (hash-joinable), never nested-loop/cartesian, and the cosine
    near-dup twin's only cartesian is the declared bounded cross join."""
    text = _explain(spark, sf_oracle, "xh_minhash_lsh_pairs")
    assert "BroadcastNestedLoopJoin" not in text
    assert "CartesianProduct" not in text
    # simhash/fingerprint/quality are scan-only: no exchange at all before
    # the final global sort
    for name in ("xh_simhash", "xh_doc_fingerprint", "xh_text_quality",
                 "xh_repetition"):
        t = _explain(spark, sf_oracle, name)
        body = t.split("Sort")[0]
        assert "Exchange hashpartitioning" not in body, name


def test_contamination_benchmark_side_broadcast(spark, sf_oracle):
    """xh_contamination: the held-out benchmark shingle set is tiny by
    construction and must broadcast — the corpus side never shuffles for
    the join (one partial agg on doc_id afterwards is the only exchange
    of corpus-sized data)."""
    text = _explain(spark, sf_oracle, "xh_contamination")
    assert "BroadcastHashJoin" in text
    assert "SortMergeJoin" not in text


def test_pii_scrub_is_scan_plus_project_only(spark, sf_oracle):
    """xh_pii_scrub: regex counting/redaction is per-row Column work — the
    plan must be scan -> project (+ final sort), with no join and no
    aggregate anywhere."""
    text = _explain(spark, sf_oracle, "xh_pii_scrub")
    assert "Join" not in text
    assert "HashAggregate" not in text


def test_pack_sequences_single_partitioned_window(spark, sf_oracle):
    """xh_pack_sequences: one window over (lang, source) — exactly one
    hash exchange on the partition key, and never a single-partition
    funnel."""
    text = _explain(spark, sf_oracle, "xh_pack_sequences")
    assert text.count("Window") >= 1
    assert not _single_partition_funnels(
        _explain_simple(spark, sf_oracle, "xh_pack_sequences")
    )


def test_gap_fill_partitions_on_user(spark, sf_oracle):
    """xh_gap_fill: grid generation, join, and LOCF window all key on
    user_id — no single-partition exchange anywhere, and the fill is a
    Window (not a self-join)."""
    text = _explain(spark, sf_oracle, "xh_gap_fill")
    assert "Window" in text
    assert not _single_partition_funnels(
        _explain_simple(spark, sf_oracle, "xh_gap_fill")
    )


def _single_partition_funnels(text: str):
    """Offending single-partition exchanges in SIMPLE-mode explain text:
    every `Exchange SinglePartition` whose direct child is NOT a partial
    aggregate. The partial->final global aggregate is the one legitimate
    single-partition shape — only O(partitions) rows of aggregate state
    cross it; anything else (a global sort, a global window, raw data)
    funnels the dataset into one task and dies at scale."""
    bad, lines = [], text.splitlines()
    for i, ln in enumerate(lines):
        if "Exchange SinglePartition" in ln:
            child = lines[i + 1] if i + 1 < len(lines) else ""
            if "partial_" not in child:
                bad.append((ln.strip()[:70], child.strip()[:70]))
    return bad


def test_no_query_plans_a_single_partition_exchange(spark, sf_smoke):
    """Suite-wide scale invariant (round 6, STRENGTHENED round 7): no
    registered query may funnel DATA into a single partition. Round 6
    asserted the literal string `Exchange SinglePartition` over
    FORMATTED explain output — where the argument renders on its own
    `Arguments: SinglePartition` line, so the check could never fire.
    Now inspected for real in simple mode, with exactly one allowed
    shape: the partial->final global aggregate (child of the exchange is
    a partial HashAggregate — only aggregate state crosses, the
    canonical scale-correct plan, e.g. q25/q02). Global top-k is still
    TakeOrderedAndProject, global rank the range-partitioned fix-up
    (q35), global order a range exchange — a single-partition exchange
    above a sort/window/scan is flagged."""
    offenders = []
    for name, q in sorted(REGISTRY.items()):
        try:
            text = explain_str(q.fn(spark, sf_smoke), "simple")
        except Exception as e:  # plan must at least build
            offenders.append((name, f"explain failed: {e}"))
            continue
        bad = _single_partition_funnels(text)
        if bad:
            offenders.append((name, bad))
    assert not offenders, offenders


def test_no_unplanned_nested_loop_or_cartesian_joins(spark, sf_smoke):
    """Suite-wide join-shape invariant (round 6): nested-loop/cartesian
    plans are allowed ONLY where the operator's semantics demand one over
    a provably bounded side — the declared cross join (q19: region x
    nation, both tiny dims), the contract theta join (q20: supplier self
    join, dim-sized), brute-force cosine with the query side broadcast
    (q59), the embedding near-dup twins' declared bounded cross join, and
    xh_heavy_hitters' and xh_bm25's 1-ROW global-total broadcast
    (attaching a global scalar — the build side is provably a
    single row, so the nested loop is the optimal physical plan).
    Any other query acquiring a BNLJ/CartesianProduct is a planning
    regression that dies at scale."""
    allowed = {
        "q19", "q20", "q59", "xh_embedding_neardup", "xp_embedding_neardup",
        "xh_heavy_hitters", "xh_bm25",
        # ADC scoring against the BROADCAST query side (bounded by the
        # ask, the q59/cosine_topk discipline) — candidates never shuffle
        "xp_ann_pq",
        # 1-row dangling-mass broadcast per power-iteration round — the
        # same provably-single-row global-scalar attach as heavy_hitters
        "xp_pagerank",
        "xh_pagerank_quantized",
        # 1-row max-|w| renormalization broadcast per power-iteration
        # round (operators docstring: the same global-scalar attach)
        "xh_pca_power",
        # 1-row (n_a, n_b) totals broadcast onto the ECDF frame
        "xh_ks_drift",
        # 1-row nation-total scalar broadcast onto the per-part value
        # frame (the same global-scalar attach as heavy_hitters)
        "xh_tpch_q11",
        # 1-row corpus-token-total broadcast onto the per-token frame
        "xh_unigram_surprisal",
        # 1-row bloom-bitmap broadcast onto the fact side — the filter's
        # whole point is that the fact never shuffles; the build side is
        # provably a single row (operators/bloom.py)
        "xh_bloom_prune",
        # PassJoin segment enumeration (round 18): two declared bounded
        # broadcast crosses — the 3-row segment-index dim and the 75-row
        # (delta-len, j, shift) dim — expand each DISTINCT name into its
        # probe keys; both build sides are compile-time constants
        # (entity_resolution.passjoin_candidates)
        "xh_fuzzy_match",
        # 1-row corpus-token-total broadcast onto the per-(source, token)
        # frame (the unigram_surprisal shape)
        "xh_kl_source_drift",
        # 1-row corpus-document-count broadcast onto the contingency cells
        "xh_chi2_tokens",
        # 1-row (n_groups, n_all, t_all) global frame broadcast onto the
        # G-row per-source frame — pseudovalues are O(G) metadata math
        "xh_jackknife_ci",
        # 1-row corpus-document-count broadcast onto the tf frame (the
        # idf probe itself stays token-keyed and unhinted)
        "xh_tfidf_topk",
        # 1-row corpus-document-count broadcast onto the per-token
        # moment frame (the zero-inclusive VMR cross term)
        "xh_token_burstiness",
        # two 1-row global scalars (sensitive-value total, global-share
        # ppm total) onto domain-bounded frames (the burstiness shape)
        "xh_t_closeness",
        # 1-row lineitem-total broadcast onto the 9-row digit grid
        "xh_benford",
        # 1-row marginal-product scalar broadcast onto the 1-row totals
        # frame (kappa's pe term — the heavy_hitters shape)
        "xh_kappa_langid",
        # 1-row corpus-token-total broadcast onto the <=11-row coverage
        # frame (the burstiness/unigram_surprisal global-scalar shape)
        "xh_coverage_curve",
        # brute-force cosine with the query side broadcast (the q59
        # discipline) plus the label-mismatch pair filter
        "xh_hard_negatives",
    }
    offenders = []
    for name, q in sorted(REGISTRY.items()):
        if name in allowed:
            continue
        try:
            text = explain_str(q.fn(spark, sf_smoke))
        except Exception as e:
            offenders.append((name, f"explain failed: {e}"))
            continue
        marks = [
            m for m in ("BroadcastNestedLoopJoin", "CartesianProduct") if m in text
        ]
        if marks:
            offenders.append((name, marks))
    assert not offenders, offenders


def _explain_simple(spark, sf_oracle, name):
    # simple mode inlines exchange arguments ("Exchange hashpartitioning(
    # o_custkey ...)"), which the counting assertions below need; formatted
    # mode moves them to the detail section.
    return explain_str(REGISTRY[name].fn(spark, sf_oracle), "simple")


def test_scd2_single_custkey_exchange(spark, sf_oracle):
    """xh_scd2_intervals: both gaps-and-islands row_numbers share the
    o_custkey partition prefix, so the whole query must ride ONE hash
    exchange (custkey) — the (custkey, status) window and the
    (custkey, status, grp) aggregate reuse it — plus only the final
    ORDER BY range exchange."""
    text = _explain_simple(spark, sf_oracle, "xh_scd2_intervals")
    assert text.count("Exchange hashpartitioning") == 1, text[:1200]
    assert text.count("Exchange rangepartitioning") == 1, text[:1200]


def test_weighted_mix_is_map_only(spark, sf_oracle):
    """xh_weighted_mix: the mixture gate is scan -> project -> filter; at
    100 TB it must stay a map-only pass — no hash exchange anywhere, only
    the output ORDER BY's range exchange."""
    text = _explain_simple(spark, sf_oracle, "xh_weighted_mix")
    assert "Exchange hashpartitioning" not in text, text[:1200]


def test_chunk_dedup_window_partitions_on_hash(spark, sf_oracle):
    """xh_chunk_dedup: the first-occurrence window partitions on the
    chunk hash (uniform tiny groups), never on a low-cardinality key or
    the whole table."""
    text = _explain_simple(spark, sf_oracle, "xh_chunk_dedup")
    assert "Exchange SinglePartition" not in text
    wins = [l for l in text.splitlines() if "Window [" in l]
    assert wins and all("windowspecdefinition(h#" in w for w in wins), wins


def test_filter_funnel_no_join_five_row_shuffle(spark, sf_oracle):
    """xh_filter_funnel: stage attribution is computed inline on the scan
    (no self-join back to documents) and only the 5-group partial agg
    shuffles."""
    text = _explain_simple(spark, sf_oracle, "xh_filter_funnel")
    assert "Join" not in text, text[:1200]
    assert text.count("Exchange hashpartitioning") == 1, text[:1200]


def test_outlier_trim_single_lang_exchange(spark, sf_oracle):
    """xh_outlier_trim: rank, group count, and the final per-lang
    aggregate all share the lang partition key — one hash exchange."""
    text = _explain_simple(spark, sf_oracle, "xh_outlier_trim")
    assert text.count("Exchange hashpartitioning") == 1, text[:1200]


def test_incremental_dedup_join_rides_window_partitioning(spark, sf_oracle):
    """xh_incremental_dedup: history-distinct, batch window, and final
    source agg each shuffle once on their key — but the history LEFT
    JOIN itself must reuse the window's content-hash partitioning (no
    fourth exchange)."""
    text = _explain_simple(spark, sf_oracle, "xh_incremental_dedup")
    assert text.count("Exchange hashpartitioning") == 3, text[:1500]
    assert "Exchange SinglePartition" not in text


def test_ohlc_bars_single_shared_exchange(spark, sf_oracle):
    """xh_ohlc_bars: both rank windows and the bar aggregate partition on
    (bar_start, event_type) — exactly one hash exchange plus the output
    sort's range exchange."""
    text = _explain_simple(spark, sf_oracle, "xh_ohlc_bars")
    assert text.count("Exchange hashpartitioning") == 1
    assert "Exchange SinglePartition" not in text


def test_rfm_two_exchanges_no_more(spark, sf_oracle):
    """xh_rfm_segments: the per-customer order profile costs one custkey
    exchange; the three quintile-rank windows, the segment count window
    and the grid aggregate all share ONE segment exchange — exactly two
    hash exchanges total."""
    text = _explain_simple(spark, sf_oracle, "xh_rfm_segments")
    assert text.count("Exchange hashpartitioning") == 2
    assert "Exchange SinglePartition" not in text


def test_inverted_index_single_token_exchange(spark, sf_oracle):
    """xh_inverted_index: the posting-rank window and the df aggregate
    share one token exchange; tokens are distinct-ed map-side before the
    explode, so nothing else shuffles."""
    text = _explain_simple(spark, sf_oracle, "xh_inverted_index")
    assert text.count("Exchange hashpartitioning") == 1


def test_cohort_retention_join_free_two_exchanges(spark, sf_oracle):
    """xh_cohort_retention: the first-seen week and the distinct-week
    set come out of ONE user_id aggregate (collect_set) — no join
    anywhere, exactly two hash exchanges."""
    text = _explain_simple(spark, sf_oracle, "xh_cohort_retention")
    assert "Join" not in text
    assert text.count("Exchange hashpartitioning") == 2


def test_tpch_analogs_top_k_and_no_cartesian(spark, sf_oracle):
    """The TPC-H join analogs: global top-k compiles to
    TakeOrderedAndProject (k rows per partition cross to the driver,
    never a full sort), and the multi-way chains stay equi-join only."""
    for name in ("xh_tpch_q3", "xh_tpch_q10"):
        text = _explain(spark, sf_oracle, name)
        assert "TakeOrderedAndProject" in text, name
    for name in ("xh_tpch_q3", "xh_tpch_q5", "xh_tpch_q10"):
        text = _explain(spark, sf_oracle, name)
        assert "CartesianProduct" not in text, name
        assert "BroadcastNestedLoopJoin" not in text, name


def test_runtime_bloom_filter_injects_on_selective_fact_join(spark, sf_oracle):
    """100 TB knob pin: when a fact-fact join's build side is selective
    and broadcast is off (the shape where a 100 TB probe side pays a full
    shuffle for rows a filter on the other side will discard), Spark's
    runtime bloom-filter injection must fire — the optimized plan grows a
    bloom_filter aggregate on the creation side and a might_contain
    probe-side filter, so the big side prunes BEFORE its exchange. The
    thresholds are runtime confs (creation-side size cap + probe-side
    scan floor), saved/restored here; session defaults leave the feature
    on with stock thresholds."""
    from hadoop_copier_spark.tables import load_table

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        )
    }
    try:
        assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        li = load_table(spark, sf_oracle, "lineitem")
        o = load_table(spark, sf_oracle, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        text = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in text or "might_contain" in text, text[:800]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_fires(spark, sf_oracle, tmp_path):
    """Dynamic partition pruning (round 7): on a status-partitioned fact
    table joined to a filtered dim on the PARTITION column, Catalyst must
    inject a `dynamicpruning` subquery on the fact scan — at 100 TB this
    is the difference between scanning one partition and scanning the
    table when the pruning value is only known at run time (the classic
    star-schema shape; complements the pinned runtime bloom filter, which
    covers non-partition keys). Result equivalence vs a static filter is
    asserted alongside the plan feature."""
    from hadoop_copier_spark.tables import load_table

    fact_dir = str(tmp_path / "orders_by_status")
    o = load_table(spark, sf_oracle, "orders")
    o.write.partitionBy("o_orderstatus").parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    dim = spark.createDataFrame(
        [("F", "final"), ("O", "open"), ("P", "pending")], "st string, label string"
    )
    j = fact.join(
        dim.filter(F.col("label") == "final"), fact.o_orderstatus == dim.st
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:1500]
    got = j.count()
    want = o.filter(F.col("o_orderstatus") == "F").count()
    assert got == want and got > 0


# Every forced-broadcast site in the package, adjudicated BOUNDED (r12
# verdict item: "no registry query force-broadcasts a corpus-growing
# frame — tokens, parts-marginals, docs"). A broadcast HINT pins the
# build side into executor memory regardless of actual size, so every
# site must have a build side bounded by something other than corpus
# size: a 1-row global scalar, a top-K / quota frame, a fixed bucket
# count, a TPC-H dimension table, or the operator's own query side.
# Adding a new F.broadcast() call fails this test until the site is
# adjudicated here; growth-prone frames must join UNHINTED (AQE
# broadcasts when the runtime size is genuinely small) — the rule that
# de-hinted xp_tfidf's full-vocab idf and xh_market_basket's per-part
# marginals in round 13.
_ADJUDICATED_BROADCASTS = {
    # 1-row global scalars (provably single row)
    ("operators/pagerank.py", "dang"),          # dangling mass per round
    ("queries/llm_ops.py", "m"),                # PCA renormalization scalar
    ("queries/llm_ops.py", "n"),                # 1-row corpus doc count (tfidf_topk)
    ("queries/quality_checks.py", "t"),         # KS half totals
    ("queries/quality_checks.py", "n"),         # 1-row corpus token total (KL drift)
    ("queries/quality_checks.py", "nn"),        # 1-row corpus doc count (chi2)
    ("queries/quality_checks.py", "g"),         # 1-row global frame (jackknife)
    ("queries/text_index.py", "total"),         # global doc count
    ("queries/text_index.py", "n"),             # 1-row doc count (burstiness)
    ("queries/event_analytics.py", "ntot"),     # 1-row sensitive total (t-closeness)
    ("queries/event_analytics.py", "gtot"),     # 1-row global-ppm total (t-closeness)
    ("queries/quality_checks.py", "ntot"),      # 1-row lineitem total (benford)
    ("queries/text_index.py", "s"),             # 1-row pe cross-term (kappa)
    ("queries/text_index.py", "tot"),           # 1-row corpus token total
    ("queries/text_index.py", "stats"),         # BM25 N / avgdl scalars
    # driver-built metadata frames (<= P x G rows / fixed bucket counts)
    ("operators/prefix.py", "off_df"),          # per-partition offsets
    ("operators/bloom.py", "word_bits"),        # fixed m-bit filter words
    ("queries/quality_checks.py", "bloom"),     # same filter, probe side
    ("queries/pipeline_ops.py", "w"),           # <= 8192 hash buckets
    ("queries/quality_checks.py", "r"),         # 256 HLL registers
    # query / benchmark / quota sides (bounded by the ASK, not the corpus)
    ("operators/similarity.py", "q"),           # ANN query vectors
    ("operators/similarity.py", "q0"),
    ("operators/similarity.py", "qkeys"),
    ("operators/similarity.py", "qv"),          # rerank query vectors
    ("queries/pipeline_ops.py", "bench"),       # contamination benchmark
    ("queries/pipeline_ops.py", "quota_df"),    # per-source quotas
    ("queries/parity.py", "erase"),             # GDPR erasure id list
    ("queries/parity.py", "drop_key"),          # 1-row limit frame (diff)
    # domain-bounded aggregates (per-language / per-source / top-K frames)
    ("queries/quality_checks.py", "med"),       # per-lang medians
    ("queries/quality_checks.py", "mad"),       # per-lang MADs
    ("queries/pipeline_ops.py", "counts"),      # per-source counts
    ("queries/text_index.py", "prof"),          # per-lang token profile
    ("queries/text_index.py", "cand"),          # top-K candidate tokens
    ("queries/text_index.py", "idfq"),          # top-K idf slice
    ("queries/text_index.py", "bi"),            # top-K bigrams
    ("queries/text_index.py", "sa"),            # per-source totals
    ("queries/text_index.py", "sb"),
    ("queries/text_index.py", "vocab"),         # capped reference vocab
    ("queries/tpch_analogs.py", "big"),         # HAVING-filtered top orders
    # TPC-H dimension tables (region/nation/supplier/customer-slice/part:
    # catalog-sized, not corpus-sized; the contract's broadcast-join ops)
    ("queries/aggregates.py", "n"),
    ("queries/aggregates.py", "r"),
    ("queries/joins.py", "n"),
    ("queries/joins.py", "p"),
    ("queries/joins.py", "r"),
    ("queries/joins.py", "s2"),
    # (r16: the hard-negative query-side broadcast moved into
    # operators/similarity.hard_negatives_topk's probe-bounded "q" site,
    # already adjudicated above as the ANN query-vector broadcast)
    ("queries/llm_ops.py", "v"),                # 64-row eigenvector frame
    ("queries/quality_checks.py", "dim.withColumn('__m', F.lit(1))"),
    ("queries/tpch_analogs.py", "n"),
    ("queries/tpch_analogs.py", "n1"),      # 2-of-25-nation slice (q7)
    ("queries/tpch_analogs.py", "n2"),
    ("queries/tpch_analogs.py", "nc"),      # region-sliced nation keys (q8)
    ("queries/tpch_analogs.py", "ns"),      # 25-row nation decode (q8)
    ("queries/tpch_analogs.py", "nr"),      # region-sliced nation decode (q2)
    ("queries/tpch_analogs.py", "r"),
    ("queries/tpch_analogs.py", "s"),
    ("queries/tpch_analogs.py", "t"),       # 1-row nation-total scalar (q11)
    ("streaming/jobs.py", "customer"),          # stream-static dim join
    # PassJoin enumeration dims (round 18): compile-time-constant frames —
    # 3 rows (segment index) and 75 rows (delta-len x segment x shift);
    # the forced broadcast is the point, they expand names map-side
    (
        "queries/entity_resolution.py",
        "spark.createDataFrame(spark.sparkContext.parallelize("
        "[(j,) for j in range(1, _PJ_NSEG + 1)], 1), 'j int')",
    ),
    (
        "queries/entity_resolution.py",
        "spark.createDataFrame(spark.sparkContext.parallelize("
        "[(dl, j, sh) for dl in range(-_PJ_TAU, _PJ_TAU + 1) "
        "for j in range(1, _PJ_NSEG + 1) "
        "for sh in range(-_PJ_TAU, _PJ_TAU + 1)], 1), 'dl int, j int, sh int')",
    ),
}


def test_forced_broadcast_sites_are_adjudicated_bounded():
    """Source-level audit: the package's F.broadcast() call sites must
    equal the adjudicated-bounded set above — no new forced broadcast
    lands without a boundedness rationale, and the two r12-flagged
    corpus-growing hints (full-vocab idf, per-part basket marginals)
    must stay gone."""
    import ast
    import pathlib

    import hadoop_copier_spark

    pkg = pathlib.Path(hadoop_copier_spark.__file__).parent
    sites = set()
    for p in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(p.read_text())):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
                and node.args
            ):
                sites.add((str(p.relative_to(pkg)), ast.unparse(node.args[0])))
    assert ("queries/llm_ops.py", "idf") not in sites       # Heaps-law vocab
    assert ("queries/tpch_analogs.py", "ca") not in sites   # part marginals
    assert ("queries/tpch_analogs.py", "cb") not in sites
    unadjudicated = sites - _ADJUDICATED_BROADCASTS
    stale = _ADJUDICATED_BROADCASTS - sites
    assert not unadjudicated, f"new forced broadcast needs adjudication: {sorted(unadjudicated)}"
    assert not stale, f"remove stale whitelist entries: {sorted(stale)}"


def test_part_join_is_unhinted_and_still_broadcast(spark, sf_oracle):
    """part is SF-proportional (200k rows x SF), so no part join carries a
    broadcast hint: Spark's size-based planner and AQE pick the strategy
    from the slice's size, as for every other unhinted join. At the
    fixture scale that still plans q14's 2-column part slice as a
    BroadcastHashJoin."""
    df = REGISTRY["xh_tpch_q14"].fn(spark, sf_oracle)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert "UnresolvedHint" not in analyzed and "ResolvedHint" not in analyzed
    assert "BroadcastHashJoin" in explain_str(df)


def test_probe_caches_evict_dead_sessions(spark, sf_oracle):
    """ADVICE r15: entries keyed by dead applicationIds must evict on
    insert (a long-lived process that restarts Spark sessions must not
    accumulate stale probe counts / checkpoint handles). Planted fake
    dead-app keys must be gone after the next cache-miss insert in
    each of the two per-session memoized caches."""
    from hadoop_copier_spark.operators import similarity as sim
    from hadoop_copier_spark.queries import graph_ops as go

    app = spark.sparkContext.applicationId
    go._EDGE_CACHE[("dead-app-2", "x")] = "stale-frame"
    for k in [k for k in go._EDGE_CACHE if k[0] == app and k[1] == sf_oracle]:
        del go._EDGE_CACHE[k]
    go._weighted_edges(spark, sf_oracle)
    assert ("dead-app-2", "x") not in go._EDGE_CACHE

    sim._HARDNEG_SHAPE_CACHE[("dead-app-3", 0, "embedding")] = (1, 1)
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_oracle}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 3)
    for k in [k for k in sim._HARDNEG_SHAPE_CACHE if k[0] == app]:
        del sim._HARDNEG_SHAPE_CACHE[k]
    sim.hard_negatives_topk(e, q, k=2).count()
    assert ("dead-app-3", 0, "embedding") not in sim._HARDNEG_SHAPE_CACHE
    # and the live probe memoized: a second build adds no new key
    n_keys = len(sim._HARDNEG_SHAPE_CACHE)
    sim.hard_negatives_topk(e, q, k=2).count()
    assert len(sim._HARDNEG_SHAPE_CACHE) == n_keys
