"""Invariant tests for the round-5 operator families — properties the
oracle-parity check can't express (parity proves Spark ≡ DuckDB; these
prove both engines compute the RIGHT thing)."""

from __future__ import annotations

import pyspark.sql.functions as F

from morphl_model_publishers_churning_users_spark.registry import get_queries

_Q = get_queries()


def test_pagerank_is_a_distribution(spark, sf_dir):
    """Ranks are positive and the FULL vector sums to ~1 (the per-round
    1e-9 quantization drifts the total by at most iters·nodes·5e-10)."""
    rows = _Q["graph_pagerank"](spark, sf_dir).collect()
    assert all(r["pr_rank"] > 0 for r in rows)
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    # top-20 only is returned; recompute the full vector via the module fn
    from morphl_model_publishers_churning_users_spark.operators.graph import (
        _pagerank_full,
    )

    full = _pagerank_full(spark, sf_dir).agg(
        F.sum("r").alias("total"), F.count(F.lit(1)).alias("n")
    ).collect()[0]
    n, iters = full["n"], 10
    assert abs(full["total"] - 1.0) < iters * n * 5e-10
    # ranks ≥ 0.15/n each; the visible top-20 must dominate 20·(1/n)·0.15
    assert all(r["pr_rank"] >= 0.15 / n - 1e-9 for r in rows)


def test_bloom_has_no_false_negatives(spark, sf_dir):
    """A bloom filter's one-sided guarantee: every true member probes
    positive. All event user_ids are customer keys (zero orphans), so
    n_positive ≥ the true-member count."""
    row = _Q["agg_bloom"](spark, sf_dir).collect()[0]
    assert row["n_positive"] >= row["n_members"]
    assert row["n_false_positive"] == row["n_positive"] - row["n_members"]


def test_countmin_error_is_one_sided(spark, sf_dir):
    """CMS estimates never undercount."""
    bad = _Q["agg_countmin"](spark, sf_dir).filter(F.col("overcount") < 0).count()
    assert bad == 0


def test_kcore_converges_on_fixture(spark, sf_dir):
    """8 peel rounds reach the fixpoint on every brand subgraph (the
    contract exposes `converged` exactly so this is checkable)."""
    rows = _Q["graph_kcore"](spark, sf_dir).collect()
    assert all(r["converged"] for r in rows)
    assert all(r["n_nodes"] == 0 or r["n_edges"] >= (3 * r["n_nodes"]) // 2 for r in rows)


def test_auc_is_perfect_by_construction(spark, sf_dir):
    """The churn label IS a threshold on the recency score, so the
    ranking must separate classes perfectly — AUC exactly 1. (The value
    is trivial; the rank arithmetic producing it is what's tested.)"""
    row = _Q["ml_auc_exact"](spark, sf_dir).collect()[0]
    assert row["auc"] == 1.0
    assert row["n_pos"] > 0 and row["n_neg"] > 0


def test_lift_gains_monotone(spark, sf_dir):
    rows = sorted(_Q["ml_lift_gains"](spark, sf_dir).collect(), key=lambda r: r["decile"])
    gains = [r["cum_gain"] for r in rows]
    assert gains == sorted(gains)
    assert abs(gains[-1] - 1.0) < 1e-9
    assert sum(r["n_churned"] for r in rows) > 0


def test_importance_resample_prefers_target_domain(spark, sf_dir):
    """DSIR point: English docs (the target slice) must score higher on
    average than non-English docs."""
    df = _Q["llm_importance_resample"](spark, sf_dir)
    means = {
        r["is_en"]: r["m"]
        for r in df.groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("importance").alias("m"))
        .collect()
    }
    assert means[True] > means[False]


def test_reservoir_is_deterministic_and_bounded(spark, sf_dir):
    a = {(r["event_type"], r["event_id"]) for r in _Q["sample_reservoir"](spark, sf_dir).collect()}
    b = {(r["event_type"], r["event_id"]) for r in _Q["sample_reservoir"](spark, sf_dir).collect()}
    assert a == b
    per_type = {}
    for et, _ in a:
        per_type[et] = per_type.get(et, 0) + 1
    assert all(v <= 5 for v in per_type.values())


def test_token_budget_respected(spark, sf_dir):
    kept = _Q["llm_token_budget_trim"](spark, sf_dir).filter("is_kept")
    over = kept.groupBy("source").agg(F.max("cum_tok").alias("m")).filter("m > 3000")
    assert over.count() == 0


def test_holt_winters_state_is_finite(spark, sf_dir):
    rows = _Q["ts_holt_winters"](spark, sf_dir).collect()
    assert rows, "every fixture event type has ≥8 active days"
    for r in rows:
        assert r["n_days"] >= 8
        for c in ("level", "trend", "seasonal_sum", "forecast_next"):
            assert r[c] is not None and abs(r[c]) < 1e9


def test_periodogram_power_consistent(spark, sf_dir):
    rows = _Q["ts_periodogram"](spark, sf_dir).collect()
    assert len(rows) == 13  # periods 2..14
    for r in rows:
        recon = r["cos_sum"] ** 2 + r["sin_sum"] ** 2
        assert abs(recon - r["power"]) <= 0.5 + 1e-6


def test_reliable_checkpoint_knob(spark, sf_dir, tmp_path, monkeypatch):
    """With SPARK_GRAFT_CHECKPOINT_DIR set, every materialization switches
    from localCheckpoint to reliable checkpoint() and the ops still return
    the same rows (executor-local blocks die with their
    executor at cluster scale, so the strategy must be switchable).
    graph_cc is an iterative loop; ml_logreg_gd materializes its
    recency spine and feature table, both routed through `ckpt`.

    Each op gets its own directory, and its files must land there: the
    setting is read at every checkpoint, so a directory changed within
    one session takes effect, even though the SparkContext already has
    one. The result DataFrame stays referenced while its files are
    inspected, as the session deletes a checkpoint's files once its
    DataFrame is garbage-collected."""
    import os

    def files_under(root):
        return {
            os.path.join(dirpath, f)
            for dirpath, _dirs, files in os.walk(root)
            for f in files
        }

    for key in ("graph_cc", "ml_logreg_gd"):
        monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
        baseline = {tuple(r) for r in _Q[key](spark, sf_dir).collect()}
        root = tmp_path / "ckpt" / key
        monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", str(root))
        df = _Q[key](spark, sf_dir)
        assert {tuple(r) for r in df.collect()} == baseline, key
        assert files_under(root), f"{key}: no reliable checkpoint under {root}"
        assert spark.sparkContext.getCheckpointDir().startswith(f"file:{root}/"), key
        del df


def test_session_cleans_reliable_checkpoints(spark):
    """The built session deletes reliable checkpoint files with their
    DataFrame; the conf is static, so it must be set at launch."""
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


# --- round-6 additions -----------------------------------------------------


def test_bfs_reaches_everything_within_bound(spark, sf_dir):
    """Dist-0 is exactly one source per brand, and hop histograms never
    have gaps (a node at distance d implies a node at d-1)."""
    rows = _Q["graph_bfs_distance"](spark, sf_dir).collect()
    by_brand = {}
    for r in rows:
        by_brand.setdefault(r["brand"], {})[r["dist"]] = r["n_nodes"]
    for brand, hist in by_brand.items():
        assert hist.get(0) == 1, (brand, hist)
        dists = sorted(hist)
        assert dists == list(range(len(dists))), (brand, hist)


def test_modularity_bounds(spark, sf_dir):
    """Per-community contributions are ≤ m_bb/m ≤ 1 and the degree mass
    across brands accounts for every edge endpoint twice."""
    rows = _Q["graph_modularity"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert -1.0 <= r["q_contrib"] <= 1.0
    from morphl_model_publishers_churning_users_spark.operators.graph import (
        _copurchase_edges,
    )

    n_edges = _copurchase_edges(spark, sf_dir).count()
    assert sum(r["deg_sum"] for r in rows) == 2 * n_edges


def test_jaccard_linkpred_is_bounded_and_nonadjacent(spark, sf_dir):
    rows = _Q["graph_jaccard_linkpred"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0.0 < r["jaccard"] <= 1.0
        assert r["a"] < r["b"]


def test_cusum_changepoint_attains_max(spark, sf_dir):
    rows = _Q["ts_cusum"](spark, sf_dir).collect()
    assert {r["event_type"] for r in rows} >= {"click", "view"}
    for r in rows:
        assert r["cusum_max"] >= 0
        assert r["changepoint_day"] is not None


def test_theta_forecast_between_legs_when_flat(spark, sf_dir):
    """The theta combination is the mean of its two legs, so it lies
    between the SES level and the trend extrapolation."""
    for r in _Q["ts_theta_forecast"](spark, sf_dir).collect():
        trend_leg = 2 * r["forecast_next"] - r["ses_level"]
        lo, hi = sorted((r["ses_level"], trend_leg))
        assert lo - 1e-6 <= r["forecast_next"] <= hi + 1e-6


def test_sax_words_cover_alphabet(spark, sf_dir):
    rows = _Q["ts_sax"](spark, sf_dir).collect()
    for r in rows:
        assert len(r["sax_word"]) == (r["n_days"] + 4) // 5
        assert set(r["sax_word"]) <= set("abcd")


def test_uniqueness_audit_detects_seeded_dups(spark, sf_dir):
    """The five true primary keys are unique; lineitem's compound key is
    deliberately dirty in the fixture (dedup-op fodder) and the audit
    must CATCH that, not assume it away."""
    rows = {r["entity"]: r for r in _Q["dq_uniqueness"](spark, sf_dir).collect()}
    assert len(rows) == 6
    for entity, r in rows.items():
        if entity.startswith("lineitem"):
            assert not r["is_unique"] and r["n_dup_rows"] > 0, entity
        else:
            assert r["is_unique"] and r["n_dup_rows"] == 0, entity


def test_freshness_has_one_fresh_stream(spark, sf_dir):
    rows = _Q["dq_freshness"](spark, sf_dir).collect()
    assert min(r["minutes_behind"] for r in rows) == 0
    assert all(r["minutes_behind"] >= 0 for r in rows)


def test_mutual_info_total_nonnegative(spark, sf_dir):
    """MI is ≥ 0 even though individual cell contributions can dip
    negative."""
    rows = _Q["ml_mutual_info"](spark, sf_dir).collect()
    assert sum(r["mi_contrib"] for r in rows) >= -1e-6
    assert len(rows) >= 5


def test_chi2_cells_match_marginal_identity(spark, sf_dir):
    """Σ expected = Σ observed (the contingency identity)."""
    rows = _Q["ml_chi2"](spark, sf_dir).collect()
    assert abs(sum(r["expected"] for r in rows) - sum(r["n_obs"] for r in rows)) < 1e-3
    assert all(r["chi2_cell"] >= 0 for r in rows)


def test_brier_beats_nothing_but_is_proper(spark, sf_dir):
    """0 ≤ Brier ≤ 1, and for a non-degenerate label it is strictly
    better than the worst constant predictor."""
    r = _Q["ml_brier_score"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["brier"] <= 1.0
    assert 0.0 < r["base_rate"] < 1.0


def test_ngram_novelty_first_doc_is_fully_novel(spark, sf_dir):
    rows = _Q["llm_ngram_novelty"](spark, sf_dir).collect()
    first = min(rows, key=lambda r: r["doc_id"])
    assert first["novelty"] == 1.0
    assert all(0.0 <= r["novelty"] <= 1.0 for r in rows)


def test_ecdf_monotone_in_probe(spark, sf_dir):
    rows = _Q["agg_ecdf"](spark, sf_dir).collect()
    by_seg = {}
    for r in rows:
        by_seg.setdefault(r["segment"], []).append((r["probe"], r["ecdf"]))
    for seg, pts in by_seg.items():
        vals = [v for _, v in sorted(pts)]
        assert vals == sorted(vals), (seg, pts)


def test_roc_points_monotone_ending_at_one(spark, sf_dir):
    rows = sorted(_Q["ml_roc_points"](spark, sf_dir).collect(), key=lambda r: r["decile"])
    tprs = [r["tpr"] for r in rows]
    fprs = [r["fpr"] for r in rows]
    assert tprs == sorted(tprs) and fprs == sorted(fprs)
    assert abs(tprs[-1] - 1.0) < 1e-9 and abs(fprs[-1] - 1.0) < 1e-9
    # perfect-ranking fixture: TPR saturates before FPR rises much
    assert tprs[0] > fprs[0]


def test_assortativity_is_a_correlation(spark, sf_dir):
    r = _Q["graph_assortativity"](spark, sf_dir).collect()[0]
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_directed_edges"] > 0 and r["n_directed_edges"] % 2 == 0


def test_odds_ratio_top_terms_lean_english(spark, sf_dir):
    rows = _Q["llm_odds_ratio_terms"](spark, sf_dir).collect()
    assert len(rows) == 15
    for r in rows:
        assert r["log_odds"] > 0        # top of the en-vs-de ranking
        assert r["n_en"] >= r["n_de"]   # en-distinctive terms dominate en


def test_observe_metrics_one_exact_row(spark, sf_dir):
    """The observed metrics must equal a direct recomputation — same
    pass, zero drift."""
    r = _Q["dq_observe_metrics"](spark, sf_dir).collect()[0]
    ev = __import__(
        "morphl_model_publishers_churning_users_spark.catalog", fromlist=["table"]
    ).table(spark, sf_dir, "events")
    direct = ev.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("p"),
    ).collect()[0]
    assert r["n_rows"] == direct["n"]
    assert r["n_purchases"] == direct["p"]
    assert r["min_ts"] <= r["max_ts"]
    assert r["n_days"] >= 1


def test_fairness_gaps_sum_to_zero_weighted(spark, sf_dir):
    """Σ n_s·parity_gap ≈ 0 (gaps are deviations from the pooled rate)."""
    rows = _Q["ml_fairness_metrics"](spark, sf_dir).collect()
    # sf0.001 has active users in only 4 of the 5 segments
    assert 3 <= len(rows) <= 5
    weighted = sum(r["n"] * r["parity_gap"] for r in rows)
    assert abs(weighted) <= sum(r["n"] for r in rows) * 1e-6
    for r in rows:
        assert 0.0 <= r["flag_rate"] <= 1.0 and 0.0 <= r["tpr"] <= 1.0


def test_winsorized_mean_between_cuts(spark, sf_dir):
    for r in _Q["agg_winsorized_stats"](spark, sf_dir).collect():
        assert r["lo"] <= r["winsorized_mean"] <= r["hi"]
        assert 0 < r["n_clipped"] < r["n"]  # 10% tail mass exists


def test_rolling_corr_bounded(spark, sf_dir):
    rows = _Q["win_rolling_corr"](spark, sf_dir).collect()
    assert len(rows) == 30
    for r in rows:
        if r["rolling_corr"] is not None:
            assert -1.0 - 1e-9 <= r["rolling_corr"] <= 1.0 + 1e-9


def test_kn_lm_scores_are_log_probs(spark, sf_dir):
    """Every mean log2 P is negative (P < 1) and finite; docs with more
    bigrams than words are impossible."""
    rows = _Q["llm_kn_bigram_lm"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["mean_log2p"] < 0
        assert r["n_bigrams"] >= 1


def test_collation_merges_case_variants(spark, sf_dir):
    rows = _Q["fn_collation"](spark, sf_dir).collect()
    assert {r["event_type_ci"] for r in rows} == {"click", "view", "purchase", "error", "signup"}
    assert all(r["n_case_variants"] == 2 for r in rows)  # upper + lower both present


def test_schema_contract_green_on_fixture(spark, sf_dir):
    rows = _Q["dq_schema_contract"](spark, sf_dir).collect()
    assert len(rows) == 14
    assert all(r["type_ok"] and r["position_ok"] for r in rows)


def test_header_parse_all_valid(spark, sf_dir):
    rows = _Q["mm_header_parse"](spark, sf_dir).collect()
    assert all(r["header_ok"] for r in rows)
    mods = {r["modality"] for r in rows}
    assert mods == {"image", "audio", "video"}
    for r in rows:
        if r["modality"] == "audio":
            assert r["dim2"] is None and 32 <= r["dim1"] < 64


def test_pr_auc_beats_random_baseline(spark, sf_dir):
    """A random ranker's AP equals the base rate; the perfect recency
    ranking must beat it by a wide margin. (At decile resolution the
    perfect-ranking AP is capped at ~npos/(n/10) when churners fill
    less than one decile, so asserting ≈1 would be wrong.)"""
    r = _Q["ml_pr_auc_decile"](spark, sf_dir).collect()[0]
    base = _Q["ml_brier_score"](spark, sf_dir).collect()[0]["base_rate"]
    assert r["n_pos"] > 0
    assert base < 0.5
    assert base * 2 <= r["pr_auc"] <= 1.0


def test_bitwise_or_at_least_and(spark, sf_dir):
    for r in _Q["agg_bitwise"](spark, sf_dir).collect():
        assert 0 <= r["flags_or"] <= 255
        assert 256 <= r["flags_and"] <= 511
        assert 0 <= r["flags_xor"] <= 255


def test_vocab_coverage_bounded(spark, sf_dir):
    rows = _Q["llm_vocab_coverage"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_in_vocab"] <= r["n_tokens"]
        assert 0.0 <= r["oov_rate"] <= 1.0
    # the fixture vocabulary is tiny (< 1k distinct words) → total coverage
    assert all(r["oov_rate"] == 0.0 for r in rows)


def test_bipartite_projection_support(spark, sf_dir):
    r = _Q["graph_bipartite_projection"](spark, sf_dir).collect()[0]
    assert r["n_edges"] > 0
    assert r["max_support"] >= 2
    assert r["total_support"] >= 2 * r["n_edges"]


def test_checksum_moves_on_mutation(spark, sf_dir):
    """The reconciliation property: recomputing the checksum over a
    mutated copy (one price bumped) must change the sum."""
    rows = {r["tbl"]: r for r in _Q["dq_row_checksum"](spark, sf_dir).collect()}
    assert set(rows) == {"orders", "customer"}
    from morphl_model_publishers_churning_users_spark.catalog import table

    o = table(spark, sf_dir, "orders")
    canon = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100 + 0.5 + (F.col("o_orderkey") == 1).cast("int"))
        .cast("bigint")
        .cast("string"),
    )
    mutated = o.agg(
        F.sum(
            F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("decimal(38,0)")
        ).cast("double").alias("cs")
    ).collect()[0]["cs"]
    assert mutated != rows["orders"]["content_checksum"]


def test_csv_quoted_roundtrip_lossless(spark, sf_dir):
    r = _Q["sink_csv_quoted"](spark, sf_dir).collect()[0]
    assert r["n_rows"] == r["n_comma"] == r["n_quote"]  # every row carries both
    assert r["n_sources"] == 20


def test_lang_confusion_diagonal_dominates(spark, sf_dir):
    """The trigram classifier is trained on the same corpus, so the
    diagonal must carry most mass per language."""
    rows = _Q["llm_lang_confusion"](spark, sf_dir).collect()
    diag = {r["true_lang"]: r["recall_share"] for r in rows if r["true_lang"] == r["pred_lang"]}
    assert diag and all(v >= 0.5 for v in diag.values())


def test_gap_stats_ordering(spark, sf_dir):
    for r in _Q["ts_gap_stats"](spark, sf_dir).collect():
        assert 0 <= r["p50_us"] <= r["p90_us"] <= r["max_us"]
        assert r["n_gaps"] >= 1


def test_corrupt_file_actually_staged(spark, sf_dir):
    """The resilience op must be tested against a REAL hazard: after a
    run, the scratch dir contains the corrupt object and the counts
    still match the source."""
    import os

    rows = {r["c_mktsegment"]: r["n_rows"] for r in
            _Q["scan_ignore_corrupt_files"](spark, sf_dir).collect()}
    from morphl_model_publishers_churning_users_spark.operators._shared import scratch_dir
    from morphl_model_publishers_churning_users_spark.catalog import table

    assert os.path.exists(os.path.join(scratch_dir("scan_ignore_corrupt"), "part-corrupt.parquet"))
    direct = {r["c_mktsegment"]: r["n"] for r in
              table(spark, sf_dir, "customer").groupBy("c_mktsegment")
              .agg(F.count(F.lit(1)).alias("n")).collect()}
    assert rows == direct


def test_wilson_interval_contains_rate(spark, sf_dir):
    for r in _Q["agg_rate_ci_wilson"](spark, sf_dir).collect():
        assert 0.0 <= r["ci_lo"] <= r["rate"] <= r["ci_hi"] <= 1.0
        assert r["n_converted"] <= r["n_users"]


def test_drawdown_invariants(spark, sf_dir):
    rows = sorted(_Q["ts_max_drawdown"](spark, sf_dir).collect(), key=lambda r: r["day"])
    mdd = 0.0
    for r in rows:
        assert r["equity"] <= r["peak"] + 1e-9
        assert abs(r["drawdown"] - (r["peak"] - r["equity"])) < 2e-6
        mdd = max(mdd, r["drawdown"])
        assert abs(r["max_drawdown"] - mdd) < 2e-6


def test_burstiness_function_words_low(spark, sf_dir):
    """'a'/'the'-style filler appears everywhere (low VMR) while topical
    tokens concentrate; every VMR is ≥ 0 and the rank is contiguous."""
    rows = sorted(_Q["llm_burstiness"](spark, sf_dir).collect(), key=lambda r: r["rnk"])
    assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["burstiness"] >= 0 for r in rows)


def test_fk_chain_is_closed_on_fixture(spark, sf_dir):
    rows = {r["hop"]: r["n_rows"] for r in _Q["dq_fk_chain"](spark, sf_dir).collect()}
    assert len(rows) == 5
    assert len(set(rows.values())) == 1, rows  # every hop preserves all rows
