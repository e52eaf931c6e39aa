"""Physical-plan regression tests — the 100 TB posture, asserted.

Correctness says the result is right; these say the *plan* is the one
that survives a 1000-executor scale-up: filters pushed to the scan,
columns pruned, dims broadcast, top-k folded, bucketed joins
exchange-free on the join key.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from morphl_model_publishers_churning_users_spark.registry import get_queries

_Q = get_queries()


def _plan(spark, sf_dir, key: str) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        _Q[key](spark, sf_dir).explain("formatted")
    return buf.getvalue()


def test_projection_pruned_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "scan_projected")
    read = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read and "l_extendedprice" in read
    assert "l_discount" not in read  # unreferenced column not decoded


def test_filters_pushed_to_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_pred")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThanOrEqual(l_quantity,10" in pushed
    assert "In(l_returnflag" in pushed


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_star")
    assert plan.count("BroadcastHashJoin") >= 3
    # the aggregate is partial+final: exactly one exchange for the groupBy
    assert "HashAggregate" in plan


def test_topk_folds_to_take_ordered(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk")
    assert "TakeOrderedAndProject" in plan


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """At test scale AQE rightly picks broadcast; force the at-scale
    condition (sides too big to broadcast) and assert the bucket-aligned
    SMJ runs with zero exchanges — join AND the same-key aggregate."""
    _Q["join_bucketed"](spark, sf_dir).count()  # build bucketed tables
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "join_bucketed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan
    assert "Bucketed: true" in plan
    assert "Exchange" not in plan, plan[:2000]


def test_range_join_broadcasts_band_table(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_range")
    assert "BroadcastNestedLoopJoin" in plan


def test_asof_join_single_user_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_asof")
    # union + window: shuffles bounded (no range-join cartesian)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_cosine_dedup_blocks_not_cartesian(spark, sf_dir):
    """Near-dup pair generation must come from the sign-bucket equi-join,
    never an all-pairs product — the difference between O(Σ|b|²) and O(n²)."""
    plan = _plan(spark, sf_dir, "llm_dedup_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_simsearch_broadcasts_query_side(spark, sf_dir):
    """Exact top-k cosine: the bounded query set is broadcast so the
    corpus side never shuffles for the pairing."""
    plan = _plan(spark, sf_dir, "llm_simsearch")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_multimodal_ops_are_narrow(spark, sf_dir):
    """Decode/feature-extract/resize/frame-sample are per-partition Arrow
    transforms — zero exchanges, so they scale linearly with executors."""
    for key in ("mm_features", "mm_resize", "mm_framesample"):
        plan = _plan(spark, sf_dir, key)
        assert "Exchange" not in plan, key


def test_partition_pruning_hits_directories(spark, sf_dir):
    """The day filter must prune at the directory level — the scan's
    partition filters carry the bounds, so out-of-range days are never
    listed, let alone read."""
    _Q["scan_partition_pruned"](spark, sf_dir).count()  # stage partitioned copy
    plan = _plan(spark, sf_dir, "scan_partition_pruned")
    assert "PartitionFilters" in plan
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l][0]
    assert "day" in pf and "2024-01-08" in pf


def test_contamination_joins_on_shingles(spark, sf_dir):
    """Contamination check must pair via the shingle equi-join, never an
    all-pairs product over documents."""
    plan = _plan(spark, sf_dir, "llm_contamination")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ohlc_and_minmax_by_avoid_window_sort(spark, sf_dir):
    """Argmax-style ops must plan as hash aggregates (one shuffle,
    map-side partials) — not a per-key window sort."""
    for key in ("ts_resample_ohlc", "agg_minmax_by", "agg_mode", "agg_trend"):
        plan = _plan(spark, sf_dir, key)
        assert "Window" not in plan, key
        # struct-buffered min_by/max_by fall back to SortAggregate —
        # still partial+final around one exchange, just sort- instead of
        # hash-based; anything aggregate-shaped (and window-free) passes.
        assert "Aggregate" in plan, key


def test_chunking_is_narrow(spark, sf_dir):
    """Context-window chunking fans out executor-side with no shuffle."""
    plan = _plan(spark, sf_dir, "llm_chunk")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the sequence/explode fan-out


def test_ga_ingest_has_no_python_boundary(spark, sf_dir):
    """GA JSON parse must stay JVM-side: no Python UDF eval nodes."""
    _plan_text = _plan(spark, sf_dir, "source_ga_json")
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in _plan_text


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """EqualNullSafe must plan as a hash join (null hashes to a normal
    bucket) — a nested-loop fallback would be quadratic at scale."""
    plan = _plan(spark, sf_dir, "join_null_safe")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_exact_broadcasts_vocab_side(spark, sf_dir):
    """The idf (vocabulary-sized) join side and the scalar doc count must
    broadcast — only the (doc, word) tf agg shuffles data-sized rows."""
    plan = _plan(spark, sf_dir, "llm_tfidf_exact")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_rank_pct_single_window_node(spark, sf_dir):
    """All four ranking functions share one Window node / one sort."""
    plan = _plan(spark, sf_dir, "win_rank_pct")
    assert plan.count("+- Window") == 1  # tree section: one node


def test_percentile_multi_single_aggregate(spark, sf_dir):
    """Five quantiles in one ObjectHashAggregate pass (array of
    probabilities), not five separate aggregates."""
    plan = _plan(spark, sf_dir, "agg_percentile_multi")
    assert plan.count("+- ObjectHashAggregate") == 2  # tree: partial + final


def test_regr_family_single_aggregate(spark, sf_dir):
    """All six regr_* moments accumulate in ONE two-phase hash aggregate
    (partial + final around a single exchange), not six passes."""
    plan = _plan(spark, sf_dir, "agg_regr")
    assert plan.count("+- HashAggregate") == 2
    assert plan.count("+- Exchange") == 1


def test_fn_try_is_narrow_jvm(spark, sf_dir):
    """try_* family stays a whole-stage-codegen projection on the scan:
    no shuffle, no Python boundary."""
    plan = _plan(spark, sf_dir, "fn_try")
    assert "Exchange" not in plan
    assert "EvalPython" not in plan
    assert "* Project" in plan  # formatted explain marks codegen nodes with *


def test_recursive_spine_broadcasts_aggregate_not_fact(spark, sf_dir):
    """The month spine joins the POST-aggregate per-month rows (≤ one row
    per month at any scale) — broadcasting raw orders would pin the fact
    table in memory. UnionLoop is the Spark 4 recursive-CTE node."""
    plan = _plan(spark, sf_dir, "cte_recursive")
    assert "UnionLoop" in plan
    bcast = plan.split("BroadcastExchange", 1)[1]
    assert "HashAggregate" in bcast.split("Scan parquet")[0]  # agg below the broadcast


def test_cogroup_one_exchange_per_side(spark, sf_dir):
    """Cogrouped applyInPandas: each side shuffles exactly once on the
    key, then pairs stream through Arrow — no extra sort-merge pass."""
    plan = _plan(spark, sf_dir, "udf_cogrouped_map")
    assert "FlatMapCoGroupsInPandas" in plan
    assert plan.count("+- Exchange") == 2


def test_dedup_cluster_no_pairwise_edges(spark, sf_dir):
    """Component labels propagate doc→key→doc: the plan joins on doc_id
    and blocking key only — never a key-bucket self-join that would
    materialize O(bucket²) pairwise edges."""
    plan = _plan(spark, sf_dir, "llm_dedup_cluster")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_source_range_is_parallel_generator(spark, sf_dir):
    """spark.range synthesizes on executors — a Range leaf, no scan, no
    exchange before the projection."""
    plan = _plan(spark, sf_dir, "source_range")
    assert "Range" in plan
    assert "Scan parquet" not in plan
    assert "Exchange" not in plan


def test_ewma_segmented_fold_bounds_state(spark, sf_dir):
    """The EWMA fold is SEGMENTED: the collect_list aggregate groups by
    (user, day) — bounded chunk state — and only day-summary structs
    reach the per-user aggregate. A whole-series collect_list keyed by
    user alone (the unbounded-state formulation) must not appear, and
    the two-level shape costs no window sort."""
    plan = _plan(spark, sf_dir, "ts_ewma")
    assert "Window" not in plan
    # Four ObjectHashAggregate nodes = two two-phase (partial+final)
    # object aggregates — the day-chunk level and the user level.
    assert plan.count("+- ObjectHashAggregate") == 4
    # The aggregates buffering RAW event structs (collect_list over
    # struct(ts, ...)) must key on TWO columns — user and day — never on
    # user alone; only day-summary structs (struct(day, ...)) may flow
    # into the single-key per-user aggregate.
    for block in plan.split("\n("):
        if "ObjectHashAggregate" in block and "collect_list(struct(ts," in block:
            assert "Keys [2]" in block, f"raw-value collect keyed too coarsely:\n{block}"


def test_unigram_lm_broadcasts_vocab(spark, sf_dir):
    """Token→frequency lookup must be a broadcast hash join (vocab-sized
    build side); corpus-sized rows must never sort-merge."""
    plan = _plan(spark, sf_dir, "llm_unigram_lm")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_exists_in_rewrite_to_joins(spark, sf_dir):
    """EXISTS / IN / NOT EXISTS must all rewrite to keyed join operators
    — three probes total, never a per-row subquery re-execution."""
    plan = _plan(spark, sf_dir, "subquery_exists_in")
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan


def test_retention_cohorts_two_exchanges_no_join(spark, sf_dir):
    """Cohort matrix: collect_set agg + final rollup = exactly two
    exchanges; no first-touch self-join (user-count-sized build side)."""
    plan = _plan(spark, sf_dir, "ts_retention_cohorts")
    assert plan.count("+- Exchange") == 2
    assert "Join" not in plan


def test_multi_distinct_uses_expand(spark, sf_dir):
    """Two COUNT(DISTINCT) on different keys must plan as ONE Expand +
    aggregate tree — a single scan, never two separate jobs."""
    plan = _plan(spark, sf_dir, "agg_multi_distinct")
    assert "Expand" in plan


def test_ratio_to_report_no_sort(spark, sf_dir):
    """Unordered partition window: one exchange on user_id, and the
    whole-partition frame must not add an ordering sort requirement
    beyond the partitioning."""
    plan = _plan(spark, sf_dir, "win_ratio_to_report")
    assert plan.count("+- Exchange") == 1
    assert "Window" in plan


def test_dpp_injects_runtime_partition_filter(spark, sf_dir):
    """The partitioned fact scan must carry a dynamicpruning expression
    (runtime subquery from the filtered dim), so only matching day
    directories are read — 4 of them, not the whole table."""
    _Q["join_dpp"](spark, sf_dir).count()  # stage partitioned copy
    plan = _plan(spark, sf_dir, "join_dpp")
    assert "dynamicpruning" in plan


def test_broadcast_hint_overrides_disabled_auto(spark, sf_dir):
    """The BROADCAST hint must force a broadcast hash join even when
    auto-broadcast is off — the explicit plan-pinning knob."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "join_hint_broadcast")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_range_join_is_equi(spark, sf_dir):
    """The bucket-decomposed range join must plan as a HASH equi-join on
    the bucket key — never the nested-loop the naive BETWEEN requires."""
    plan = _plan(spark, sf_dir, "join_range_bucketed")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_shuffle_hash_hint_plans_shj(spark, sf_dir):
    """SHUFFLE_HASH hint must produce a ShuffledHashJoin — hash-probe
    without sorting either side (the large×large middle strategy)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "join_hint_shuffle_hash")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "ShuffledHashJoin" in plan


def test_fuzzy_dedup_join_reads_materialized_signatures(spark, sf_dir):
    """The MinHash self-join must probe the CHECKPOINTED signature rows,
    not recompute the shingle→hash→minhash lineage per join side:
    Catalyst pushes approxSimilarityJoin's internal validation filter
    below the exchange with the whole chain inlined otherwise (the
    round-3 single-task straggler). Materialized inputs show up as
    ExistingRDD scans, and no shingle lambda survives anywhere in the
    join plan."""
    import io
    from contextlib import redirect_stdout

    from morphl_model_publishers_churning_users_spark.operators.llm import (
        raw_dedup_fuzzy,
    )

    buf = io.StringIO()
    with redirect_stdout(buf):
        raw_dedup_fuzzy(spark, sf_dir).explain()
    plan = buf.getvalue()
    assert "ExistingRDD" in plan
    assert "concat_ws" not in plan  # shingle lambda fully precomputed
    assert "Scan parquet" not in plan  # no side re-derives from the source


def test_skew_salted_join_spreads_hot_key(spark, sf_dir):
    """The salted join must actually shuffle on (key, salt) — BOTH keys
    in the join condition — with the dim side exploded across all salt
    values. Forced to the shuffle path: the hot-key scenario this op
    exists for is exactly when the dim is too big to broadcast."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(spark, sf_dir, "join_skew_salted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    left_keys = [l for l in plan.splitlines() if l.startswith("Left keys")][0]
    assert "Left keys [2]" in left_keys and "salt" in left_keys
    gen = [l for l in plan.splitlines() if "explode" in l]
    assert gen and "[0,1,2,3,4,5,6,7]" in gen[0]  # dim × all 8 salts


def test_winnow_and_quantize_are_narrow(spark, sf_dir):
    """Winnowing fingerprints and int8 quantization are pure per-row
    array math — zero exchanges, linear scale-out."""
    for key in ("llm_winnow_fingerprint", "llm_embed_quantize"):
        plan = _plan(spark, sf_dir, key)
        assert "Exchange" not in plan, key
        assert "BatchEvalPython" not in plan, key  # stays in codegen


def test_mixture_balance_broadcasts_totals(spark, sf_dir):
    """The corpus-total scalar must broadcast onto the vocabulary-sized
    group table — corpus rows shuffle once (the groupBy), never for the
    share computation."""
    plan = _plan(spark, sf_dir, "llm_mixture_balance")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_sql_blocks_on_band_hash(spark, sf_dir):
    """The pure-SQL MinHash path must stay entirely in codegen (no
    MLlib/Python boundary) and must generate candidates through the
    band-hash equi-join — any cartesian/NLJ in the plan means the
    blocking collapsed and the op would be O(n²) at scale."""
    plan = _plan(spark, sf_dir, "llm_dedup_minhash_sql")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semdedup_joins_only_on_bucket(spark, sf_dir):
    """SemDeDup's pair generation must be the bucket equi-join — the
    |b|² bound depends on it."""
    plan = _plan(spark, sf_dir, "llm_semdedup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_perplexity_broadcasts_vocab_and_scalar(spark, sf_dir):
    """Scoring joins the corpus against the vocab LM and the 1-row
    corpus total — both must broadcast; a sort-merge join here would
    shuffle the exploded word stream a second time."""
    plan = _plan(spark, sf_dir, "llm_perplexity_filter")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_cc_pipeline_pushes_gate_to_scan(spark, sf_dir):
    """The quality/language gate must reach the parquet scan as pushed
    filters (lang + n_chars are plain columns), so at 100 TB the
    pipeline decodes only candidate row groups."""
    plan = _plan(spark, sf_dir, "llm_cc_pipeline")
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "n_chars" in pushed[0] and "lang" in pushed[0]


def test_sample_weighted_is_narrow_after_weight_broadcast(spark, sf_dir):
    """Membership must be a per-row expression: the only join is the
    broadcast of the per-source weight table — corpus rows never
    shuffle for the sampling decision."""
    plan = _plan(spark, sf_dir, "llm_sample_weighted")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_incremental_dedup_probes_index_with_hash_join(spark, sf_dir):
    """The index probe must stay an equi-join on the content hash (the
    bucket-able key) — no nested-loop fallback."""
    plan = _plan(spark, sf_dir, "llm_dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_rank_fusion_single_shuffle_after_broadcast(spark, sf_dir):
    """Both metric rankings and the fusion ranking partition by
    query_id — Catalyst must reuse one exchange for all three windows
    after the broadcast candidate join."""
    plan = _plan(spark, sf_dir, "llm_rank_fusion")
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning(query_id") <= 1


def test_scd2_windows_share_user_partitioning(spark, sf_dir):
    """The daily-dedup, change-flag and interval windows all partition
    by user_id (the first also by day, a finer key that the coarser
    windows still require re-shuffling for is acceptable only once)."""
    plan = _plan(spark, sf_dir, "ts_scd2_history")
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(user_id") <= 2


def test_bm25_no_corpus_explode(spark, sf_dir):
    """tf comes from array_filter per (doc, query-term) — the only
    explode is the 4-element query-term array (fan-out 4), never the
    word stream; df/avgdl must broadcast onto the scoring pass."""
    plan = _plan(spark, sf_dir, "llm_bm25")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dq_expectations_single_scan(spark, sf_dir):
    """All six rules evaluate as conditional aggregates over ONE scan of
    events — rule count must not multiply scans."""
    plan = _plan(spark, sf_dir, "dq_expectations")
    # formatted explain prints every node twice (tree + detail header);
    # count only the numbered detail headers.
    import re

    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1, plan


def test_interval_overlap_is_user_keyed_hash_join(spark, sf_dir):
    """The overlap predicate must ride a user_id equi-join (hash join +
    post-filter), never degrade to a nested-loop over time."""
    plan = _plan(spark, sf_dir, "join_interval_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_caption_align_sparse_dot_no_dense_vector(spark, sf_dir):
    """The alignment numerator joins per-bucket counts straight onto the
    embedding array — no cartesian, no Python boundary."""
    plan = _plan(spark, sf_dir, "mm_caption_align")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_daily_analytics_window_over_aggregate_not_events(spark, sf_dir):
    """The anomaly/forecast/decomposition family must run its windows
    and fits over the tiny day-by-type aggregate — the raw event table
    appears once, as the input to a hash aggregate, never under a
    Window or sort of its own."""
    import re

    for key in (
        "ts_anomaly_robust",
        "ts_forecast_linear",
        "ts_holt_forecast",
        "ts_seasonal_decompose",
    ):
        plan = _plan(spark, sf_dir, key)
        scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
        # == 1 for straight-line plans; 0 when the day×type aggregate is
        # materialized via eager checkpoint (the one scan ran inside it)
        assert len(scans) <= 1, key
        assert "CartesianProduct" not in plan, key


def test_cube_plans_expand_single_exchange(spark, sf_dir):
    """CUBE = one Expand fan-out + one shuffle, not 2^k unioned scans."""
    import re

    plan = _plan(spark, sf_dir, "agg_cube")
    assert "Expand" in plan
    scans = re.findall(r"^\(\d+\) Scan parquet", plan, flags=re.M)
    assert len(scans) == 1


def test_snapshot_diff_single_full_outer_hash_join(spark, sf_dir):
    """The version diff is ONE key-equi full-outer join — hash/SMJ,
    never a nested loop."""
    plan = _plan(spark, sf_dir, "scan_snapshot_diff")
    assert "FullOuter" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_countmin_single_fact_pass(spark, sf_dir):
    """The CMS sketch must be derived from the bounded per-key exact
    table, not by re-scanning events per sketch consumer — exactly one
    events scan in the plan (the checkpointed exact table hides the
    rest)."""
    plan = _plan(spark, sf_dir, "agg_countmin")
    assert plan.count("events.parquet") <= 1


def test_bloom_broadcasts_filter(spark, sf_dir):
    """The bloom bit set is ≤1024 rows regardless of member count — the
    probe join must broadcast it, never shuffle the probe side by
    position."""
    plan = _plan(spark, sf_dir, "agg_bloom")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_triangles_join_is_brand_blocked(spark, sf_dir):
    """Every triangle join leg must carry the brand blocking key — an
    unblocked two-hop join over the full graph is the quadratic plan
    this operator exists to avoid."""
    plan = _plan(spark, sf_dir, "graph_triangles")
    keyed = [
        l
        for l in plan.splitlines()
        if ("Left keys" in l or "Right keys" in l) and "brand" in l
    ]
    # two triangle join legs × two sides, each carrying brand
    assert len(keyed) >= 4, plan[:2000]


def test_knn_graph_no_cartesian(spark, sf_dir):
    """Candidate generation must ride the sign-bucket equi-join — a
    cartesian/nested-loop product over embeddings is the all-pairs
    plan the bucketing exists to avoid."""
    plan = _plan(spark, sf_dir, "llm_knn_graph")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dedup_substring_no_cartesian(spark, sf_dir):
    """Pair generation joins on the window string (with the frequency
    gate applied first) — never a doc×doc product."""
    plan = _plan(spark, sf_dir, "llm_dedup_substring")
    assert "CartesianProduct" not in plan


def test_bloom_filter_injected(spark, sf_dir):
    """join_bloom_pruned's reason to exist: under the demo confs the
    optimizer must inject a bloom-filter membership probe
    (might_contain) into the fact-side scan condition, and restore the
    session confs afterwards."""
    from morphl_model_publishers_churning_users_spark.operators.joins import (
        bloom_plan_probe,
    )

    before = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    plan = bloom_plan_probe(spark, sf_dir)
    assert "might_contain" in plan, plan[:2000]
    assert "bloom_filter_agg" in plan, plan[:2000]
    assert spark.conf.get("spark.sql.autoBroadcastJoinThreshold") == before


def test_jaccard_linkpred_brand_blocked(spark, sf_dir):
    """Candidate generation must ride the brand-blocked two-hop join —
    brand appears in the join keys, and no cartesian product exists."""
    plan = _plan(spark, sf_dir, "graph_jaccard_linkpred")
    assert "CartesianProduct" not in plan
    keyed = [
        l
        for l in plan.splitlines()
        if ("Left keys" in l or "Right keys" in l) and "brand" in l
    ]
    assert len(keyed) >= 4, plan[:2000]


def test_bfs_no_cartesian(spark, sf_dir):
    plan = _plan(spark, sf_dir, "graph_bfs_distance")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_mark_join_distinct_before_join(spark, sf_dir):
    """join_mark_exists must shrink the probe side to DISTINCT keys
    BEFORE the join (aggregate-below-join) — joining the raw lineitem
    and deduping after would fan out fact-scale rows."""
    plan = _plan(spark, sf_dir, "join_mark_exists")
    assert "CartesianProduct" not in plan
    # the distinct aggregate must appear under the join, and the
    # returnflag predicate must reach the lineitem scan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("EqualTo(l_returnflag,R)" in l for l in pushed)


def test_tile_grid_no_shuffle(spark, sf_dir):
    """mm_tile_grid is a narrow decode+explode — any Exchange in the
    plan means the fan-out stopped pipelining inside the scan stage."""
    plan = _plan(spark, sf_dir, "mm_tile_grid")
    assert "Exchange" not in plan
    assert "Generate" in plan  # the posexplode survives


def test_xml_roundtrip_single_scan_no_shuffle_before_agg(spark, sf_dir):
    """fn_xml parses in codegen: exactly one orders scan and only the
    final aggregate's exchange."""
    import re

    plan = _plan(spark, sf_dir, "fn_xml")
    assert len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M)) == 1
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1  # agg only


def test_propensity_match_no_cartesian(spark, sf_dir):
    """The caliper match must run as a bucket equi-join (explode ±2 →
    join on the score key), never a cartesian/BNLJ over treated ×
    control."""
    plan = _plan(spark, sf_dir, "ml_propensity_match")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_spatial_grid_join_is_blocked(spark, sf_dir):
    """The distance join must run as the 9-probe cell equi-join —
    never a cartesian/BNLJ over all point pairs."""
    plan = _plan(spark, sf_dir, "join_spatial_grid")
    assert "CartesianProduct" not in plan
    # the only BNLJ allowed is the broadcast of the 3-row delta tables
    import re

    joins = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(joins) <= 2  # dx × dy broadcasts only


def test_cdc_apply_single_key_shuffle(spark, sf_dir):
    """The changelog collapse is union → ONE key-partitioned window —
    no join anywhere (a join-based merge would pay key shuffles per
    operation class)."""
    plan = _plan(spark, sf_dir, "scan_cdc_apply")
    assert "Join" not in plan
    import re

    assert len(re.findall(r"Arguments: hashpartitioning\(k#", plan)) == 1


def test_bitemporal_broadcasts_limits(spark, sf_dir):
    """The two-axis cut points are a 1-row broadcast onto the version
    stream; the only data-sized shuffle is the max-txn-per-key window."""
    plan = _plan(spark, sf_dir, "ts_bitemporal_asof")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_heavy_hitters_rescore_is_broadcast(spark, sf_dir):
    """The exact rescore joins the corpus against the O(k·partitions)
    candidate set via BROADCAST — a shuffled join here would re-pay
    the full-vocabulary shuffle the sketch exists to avoid."""
    plan = _plan(spark, sf_dir, "agg_heavy_hitters")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_asof_forward_single_user_shuffle(spark, sf_dir):
    """Forward as-of = union + one user-keyed sort window, mirroring
    join_asof's plan contract — no range join, no per-key fan-out."""
    plan = _plan(spark, sf_dir, "join_asof_forward")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" not in plan  # no join at all — union + window
    import re

    # click-dedup agg + carry window: both user-keyed, nothing else
    assert len(re.findall(r"Arguments: hashpartitioning\(user_id#", plan)) <= 2


def test_retrieval_eval_query_side_broadcast(spark, sf_dir):
    """Both the exact scan and the bucket join carry the bounded query
    set as a broadcast; the corpus side is never shuffled for the
    join."""
    plan = _plan(spark, sf_dir, "llm_retrieval_eval")
    assert plan.count("BroadcastExchange") >= 2
    assert "CartesianProduct" not in plan


def test_split_leakage_single_union_pass(spark, sf_dir):
    """Both dup classes ride ONE unioned corpus pass into the group —
    no self-join between the classes."""
    plan = _plan(spark, sf_dir, "llm_split_leakage")
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    import re

    assert len(re.findall(r"\(\d+\) Union", plan)) == 1


def test_bass_grid_is_broadcast_and_single_fact_pass(spark, sf_dir):
    """The 400-point (p,q) grid joins the adoption curve via broadcast
    (never a shuffled cross product), and the orders scan is hidden
    behind the first-order checkpoint (exactly one fact pass at ckpt
    time, zero in the final plan)."""
    plan = _plan(spark, sf_dir, "ts_bass_diffusion")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_permutation_test_aggregate_is_partial(spark, sf_dir):
    """The 128x explode must combine map-side: a partial_ HashAggregate
    below the exchange keeps the shuffle at O(perms x sides) rows."""
    plan = _plan(spark, sf_dir, "ml_permutation_test")
    assert "partial_" in plan  # map-side combine present
    assert "CartesianProduct" not in plan


def test_greedy_coverage_rounds_are_keyed_joins(spark, sf_dir):
    """No cartesian anywhere in the 10-round greedy plan — every round
    is a keyed (bigram/doc) join against the checkpointed token table."""
    plan = _plan(spark, sf_dir, "llm_greedy_coverage")
    assert "CartesianProduct" not in plan


def test_cox_score_is_window_not_join(spark, sf_dir):
    """The at-risk moments come from ONE window over the tenure grain —
    no time-grid x risk-set join (the naive O(T x N) shape)."""
    plan = _plan(spark, sf_dir, "ml_cox_score")
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("SortMergeJoin") == 0


def test_fuzzy_recall_anchor_is_cluster_side():
    """r6 verdict item 3: the MinHash recall anchor must compute recall
    via join+count (cluster-side), never by collecting pair sets to the
    driver — near-dup pair lists grow with the corpus, so a driver-side
    set intersection is a 100 TB memory cliff."""
    import inspect

    from morphl_model_publishers_churning_users_spark.operators.llm import llm_dedup_fuzzy

    src = inspect.getsource(llm_dedup_fuzzy)
    assert ".collect()" not in src
    assert '"left")' in src and ".agg(" in src  # the join+count recall pattern


def test_fuzzy_recall_anchor_is_one_lazy_plan(spark, sf_dir):
    """llm_dedup_fuzzy shingles the corpus once, into the checkpointed
    signed corpus, and returns its recall anchor as one lazy plan over
    the stored shingle sets: building the op runs only the checkpoint's
    jobs (no ground-truth checkpoint, no driver counts), and no shingle
    lambda is left in the plan it returns."""
    sc = spark.sparkContext
    group = "test_fuzzy_recall_anchor_is_one_lazy_plan"
    sc.setJobGroup(group, group)
    try:
        df = _Q["llm_dedup_fuzzy"](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    build_jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    assert len(build_jobs) <= 3, build_jobs
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    assert "concat_ws" not in buf.getvalue()


def test_no_count_based_broadcast_guards():
    """r6 verdict item 5: no registered query may run a count() job just
    to decide a broadcast hint — AQE's runtime shuffle stats pick the
    join strategy from measured sizes, for free."""
    import inspect

    from morphl_model_publishers_churning_users_spark.operators.llm import (
        llm_keyword_extract,
        llm_perplexity_filter,
    )

    for fn in (llm_perplexity_filter, llm_keyword_extract):
        src = inspect.getsource(fn)
        assert "F.broadcast" not in src.replace("crossJoin(F.broadcast", ""), fn.__name__
        assert ".count() <=" not in src, fn.__name__


def test_scd2_asof_is_windowed_not_cartesian(spark, sf_dir):
    """Validity-interval ASOF rides user-keyed windows — never an
    interval cross product."""
    plan = _plan(spark, sf_dir, "join_scd2_asof")
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_temporal_knn_broadcasts_bounded_side(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_temporal_knn")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_snowflake_dim_chain_broadcasts(spark, sf_dir):
    """Every dim hop in the snowflake chain is a broadcast — the fact
    table shuffles at most once."""
    plan = _plan(spark, sf_dir, "join_snowflake")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastExchange") >= 4


def test_full_outer_join_is_sort_merge(spark, sf_dir):
    """FULL OUTER cannot broadcast either side — the plan must be the
    shuffled sort-merge shape, not a nested loop."""
    plan = _plan(spark, sf_dir, "join_full_outer")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_hits_totals_are_broadcast_scalars(spark, sf_dir):
    """The L1-normalization totals join back as broadcast 1-row frames
    (BNLJ over a broadcast scalar is the intended cheap shape); the
    edge joins themselves never degenerate to a cartesian."""
    plan = _plan(spark, sf_dir, "graph_hits")
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_closeness_and_skyline_no_cartesian(spark, sf_dir):
    for key in ("graph_closeness", "agg_skyline_2d"):
        plan = _plan(spark, sf_dir, key)
        assert "CartesianProduct" not in plan, key


# The declared Python-eval surface (scripts/python_eval_audit.py, r7
# baseline): the udf_*/udtf_* contract rows, the mm_* Arrow decode
# path, the pyarrow footer reader, and the one justified zlib filter.
# Everything else in the registry must stay 100% JVM expressions.
_DECLARED_PYTHON_KEYS = {
    "llm_compression_filter",
    "mm_activity_segments", "mm_features", "mm_framesample",
    "mm_header_parse", "mm_modality_balance", "mm_phash_dedup",
    "mm_resize", "mm_shot_boundaries", "mm_tile_grid",
    "scan_rowgroup_stats",
    "udf_arrow", "udf_cogrouped_map", "udf_grouped_map", "udf_pandas",
    "udf_pandas_iter", "udf_pandas_struct", "udf_python",
    "udf_python_arrow", "udtf_arrow", "udtf_python",
    # r13: the wire-codec DECODE side moved from Catalyst expression
    # ladders to one mapInArrow batch pass per op (guide §4.2; see
    # functions/avro_arrow.py) — a deliberate Python-boundary use, not
    # a leak: the encode stays JVM and only the needed columns cross.
    "fn_protobuf_wire", "fn_avro_wire", "fn_avro_schema_evolution",
    "fn_avro_union_nullable", "fn_avro_container",
    "fn_avro_array_blocks", "fn_avro_map_blocks",
}

_PYTHON_EVAL_NODES = (
    "BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
    "MapInPandas", "FlatMapCoGroupsInPandas", "WindowInPandas",
    "AggregateInPandas", "PythonUDTF", "MapInArrow",
)


def _plan_audit(spark, sf_dir, keys):
    cartesian, python_leaks = [], []
    for key in keys:
        plan = _plan(spark, sf_dir, key)
        if "CartesianProduct" in plan:
            cartesian.append(key)
        if any(n in plan for n in _PYTHON_EVAL_NODES) and key not in _DECLARED_PYTHON_KEYS:
            python_leaks.append(key)
    assert cartesian == []
    assert python_leaks == []


@pytest.mark.slow
def test_full_registry_plan_audit_cartesian_and_python_surface(spark, sf_dir):
    """Umbrella guard over the ENTIRE registry in one plan walk
    (upgraded round 7 from the first-50 window after a clean 556-plan
    audit). Two laws per key: (1) no CartesianProduct — every
    crossJoin in the package broadcasts a scalar/bounded side, which
    plans as BroadcastNestedLoopJoin; a cartesian means a join lost
    its equi-condition or broadcast, the O(n^2) cliff at 100 TB.
    (2) Python-eval nodes appear ONLY in the declared 21-key surface —
    a new key showing up means row-at-a-time Python leaked into a hot
    path. (Keys whose construction eagerly checkpoints run their plans
    here too — the cost is bounded by the sf0.001 fixture. slow: ~3 min
    for 568 plans; the default gate keeps the 1-in-6 sample below plus
    the declared Python surface, whose leak law is the likeliest to
    regress.)"""
    from morphl_model_publishers_churning_users_spark.registry import get_queries

    _plan_audit(spark, sf_dir, list(get_queries()))


def test_sampled_plan_audit_cartesian_and_python_surface(spark, sf_dir):
    from morphl_model_publishers_churning_users_spark.registry import get_queries

    keys = sorted(get_queries())
    sample = set(keys[::6]) | (_DECLARED_PYTHON_KEYS & set(keys))
    _plan_audit(spark, sf_dir, sorted(sample))


def test_aqe_sizes_vocab_joins_at_runtime(spark, sf_dir):
    """r6 verdict item 5 closure: with the count()-guard gone, AQE's
    runtime shuffle stats must still pick broadcast-hash for the
    vocabulary-sized join sides (checked on the EXECUTED adaptive plan,
    not the static one)."""
    from morphl_model_publishers_churning_users_spark.registry import get_queries

    Q = get_queries()
    for key in ("llm_perplexity_filter", "llm_keyword_extract"):
        df = Q[key](spark, sf_dir)
        df.count()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan, key
        assert "SortMergeJoin" not in plan, key


def test_jdf_pinned_to_one_site():
    """The package's private-API surface is EXACTLY one `_jdf` access:
    dq_observe_metrics' observed-metrics readout (rowops.py), kept only
    because classic PySpark 4.1 has no public readout for string-named
    observed metrics (Observation pollutes the shared session — later
    MLlib jobs die with Task-not-serializable, re-reproduced r9 — and
    df.executionInfo is Connect-only). Any NEW `obj._jdf` access in the
    package fails here: use the public API or justify a pin update."""
    import pathlib
    import re

    pkg = pathlib.Path(__file__).resolve().parents[1] / (
        "morphl_model_publishers_churning_users_spark"
    )
    sites = []
    for py in sorted(pkg.rglob("*.py")):
        for i, line in enumerate(py.read_text().splitlines(), 1):
            if re.search(r"\w\._jdf\b", line):
                sites.append(f"{py.name}:{i}")
    names = [s.split(":")[0] for s in sites]
    assert names == ["rowops.py"], sites


# --- r14: iterative graph family must never broadcast the edge table ----
#
# VERDICT r13 item 3: the family's healthy join strategy rests on the
# edge build's inherited sizeInBytes estimate staying "accidentally
# huge" — a Spark-version change in stats propagation through
# localCheckpoint could silently flip every per-round join into
# broadcast-the-edge-table (measured failure mode in the r13 basket
# experiment: graph_pagerank 13.6 s → 44.3 s). These tests pin the
# invariant on the static final-round plan of each iterative op.

_EDGE_RDD_RE = None  # compiled lazily so the module import stays light


def _edge_broadcast_found(plan: str) -> bool:
    """True iff any BroadcastExchange subtree in `plan` (simple-mode
    treeString, indentation = tree depth) contains a checkpointed edge
    scan (ExistingRDD whose output is [brand,]src,dst)."""
    import re

    global _EDGE_RDD_RE
    if _EDGE_RDD_RE is None:
        _EDGE_RDD_RE = re.compile(
            r"Scan ExistingRDD\[(?:brand#\d+,\s*)?src#\d+L?,\s*dst#\d+L?\]"
        )
    lines = plan.splitlines()

    def depth(ln: str) -> int:
        m = re.search(r"[A-Za-z]", ln)
        return m.start() if m else -1

    for i, ln in enumerate(lines):
        if "BroadcastExchange" not in ln:
            continue
        d = depth(ln)
        for sub in lines[i + 1 :]:
            sd = depth(sub)
            if sd <= d:
                break
            if _EDGE_RDD_RE.search(sub):
                return True
    return False


def test_edge_broadcast_detector_has_teeth(spark, sf_dir):
    """The detector must flag a plan that DOES broadcast the edge table
    — otherwise the invariant test below could be green by parsing
    accident. A forced-broadcast one-round repro stands in for the
    deflated-estimate mechanism (which Spark exposes no API to force
    directly; the r13 experiment produced it via a basket-aggregate
    source plan)."""
    import pyspark.sql.functions as F

    from morphl_model_publishers_churning_users_spark.operators.graph import (
        _copurchase_edges,
        _sym,
    )

    sym = _sym(_copurchase_edges(spark, sf_dir))
    ranks = (
        sym.select(F.col("src").alias("node")).distinct().withColumn("r", F.lit(1.0))
    )
    bad = ranks.join(F.broadcast(sym), ranks["node"] == sym["src"])
    plan = bad._jdf.queryExecution().executedPlan().toString()
    assert _edge_broadcast_found(plan), plan[:3000]
    # and the healthy form of the same join must NOT trip it
    good = ranks.join(sym, ranks["node"] == sym["src"])
    gplan = good._jdf.queryExecution().executedPlan().toString()
    if "BroadcastExchange" in gplan and _edge_broadcast_found(gplan):
        raise AssertionError("healthy join statically broadcasts edges:\n" + gplan[:3000])


def test_iterative_graph_rounds_never_broadcast_edges(spark, sf_dir):
    """Final-round static plans of the iterative graph ops (one per
    edge-build flavor: copurchase edges, brand edges) must not place the
    checkpointed edge scan under a BroadcastExchange. AQE may still
    runtime-broadcast the genuinely small rank/score side — that is the
    healthy direction and does not match the edge-scan signature."""
    for key in ("graph_pagerank", "graph_bfs_distance", "graph_label_propagation"):
        df = _Q[key](spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert not _edge_broadcast_found(plan), f"{key} broadcasts edges:\n{plan[:3000]}"
