"""Property tests for rows-only ML ops (SURVEY.md §5.3)."""

from __future__ import annotations

import pyspark.sql.functions as F

from morphl_model_publishers_churning_users_spark.plans import churn
from morphl_model_publishers_churning_users_spark.registry import get_queries

_Q = get_queries()


def test_split_disjoint_and_complete(spark, sf_dir):
    labeled = churn.label_churn(churn.user_features(spark, sf_dir))
    train, test = churn.split_train_test(labeled)
    n_users = labeled.count()
    assert train.count() + test.count() == n_users
    assert train.select("user_id").intersect(test.select("user_id")).count() == 0
    # Deterministic: same split twice.
    t2, _ = churn.split_train_test(labeled)
    assert train.select("user_id").exceptAll(t2.select("user_id")).count() == 0
    # Registered anchor rows agree.
    rows = {r["split"]: r for r in _Q["ml_split"](spark, sf_dir).collect()}
    assert rows["train"]["total_users"] == n_users
    assert rows["train"]["split_ok"] and rows["test"]["split_ok"]


def test_features_standardized(spark, sf_dir):
    from morphl_model_publishers_churning_users_spark.operators.ml import raw_features

    feats = raw_features(spark, sf_dir)
    row = feats.agg(
        F.round(F.avg("f_n_events"), 2).alias("mu"),
        F.round(F.stddev_samp("f_n_events"), 1).alias("sd"),
    ).collect()[0]
    assert abs(row.mu) < 0.05  # withMean=True → centered
    assert abs(row.sd - 1.0) < 0.2  # unit variance
    # Registered anchor rows assert the same invariant per feature.
    assert all(r["scaled_ok"] for r in _Q["ml_features"](spark, sf_dir).collect())


def test_train_produces_nonzero_model(spark, sf_dir):
    from morphl_model_publishers_churning_users_spark.operators.ml import raw_train

    coefs = raw_train(spark, sf_dir)
    nonzero = coefs.filter(F.abs(F.col("coefficient")) > 1e-9).count()
    assert nonzero > 0
    assert all(r["coef_ok"] for r in _Q["ml_train"](spark, sf_dir).collect())


def test_eval_auc_beats_chance(spark, sf_dir):
    from morphl_model_publishers_churning_users_spark.operators.ml import raw_eval

    # recency_days is in the features and defines the label → must separate.
    assert raw_eval(spark, sf_dir) > 0.5
    assert _Q["ml_eval"](spark, sf_dir).collect()[0]["auc_ok"]


def test_infer_probabilities_valid(spark, sf_dir):
    scored = churn.run(spark, sf_dir)
    bad = scored.filter((F.col("churn_prob") < 0) | (F.col("churn_prob") > 1)).count()
    assert bad == 0
    assert scored.count() == churn.user_features(spark, sf_dir).count()
    row = _Q["ml_infer"](spark, sf_dir).collect()[0]
    assert row["prob_ok"] and row["n_users"] == scored.count()


def test_scoring_reads_the_materialized_user_table(spark, sf_dir):
    """The scored DataFrame is planned over the checkpointed per-user
    table: its executed plan scans no events file, so scoring does not
    re-run the events aggregate."""
    scored = churn.run(spark, sf_dir)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert not [ln for ln in scans if "events" in ln], plan


def _hand_labeled(spark, train_churned, test_churned):
    """Tiny labeled table: one user per label in `train_churned` from the
    train bucket and one per label in `test_churned` from the test bucket."""
    ids = spark.range(1, 400).withColumnRenamed("id", "user_id")
    train_ids, test_ids = (
        [r.user_id for r in side.orderBy("user_id").collect()]
        for side in churn.split_train_test(ids)
    )
    rows = []
    for pool, labels in ((train_ids, train_churned), (test_ids, test_churned)):
        for uid, label in zip(pool, labels):
            feats = [float((uid * (k + 3)) % 17 + label * 5) for k in range(len(churn.FEATURE_COLS))]
            rows.append((uid, label, *feats))
    return spark.createDataFrame(rows, ["user_id", "churned", *churn.FEATURE_COLS])


def test_fit_fallback_branches(spark):
    """Single-class train bucket: fit on the whole table. Single-class
    test bucket: evaluate on the whole table. Two classes on both
    sides: keep the split."""
    two = [0, 1, 0, 1, 0, 1]
    one = [0, 0, 0, 0]

    labeled = _hand_labeled(spark, one, two)
    _, train, eval_set = churn.fit_with_fallback(labeled)
    assert train is labeled
    assert eval_set is not labeled and eval_set.count() == len(two)

    labeled = _hand_labeled(spark, two, one)
    _, train, eval_set = churn.fit_with_fallback(labeled)
    assert train is not labeled and train.count() == len(two)
    assert eval_set is labeled

    labeled = _hand_labeled(spark, two, two)
    _, train, eval_set = churn.fit_with_fallback(labeled)
    assert train is not labeled and train.count() == len(two)
    assert eval_set is not labeled and eval_set.count() == len(two)


def test_approx_distinct_within_tolerance(spark, sf_dir):
    rows = _Q["agg_approx_distinct"](spark, sf_dir).collect()
    for r in rows:
        assert r.approx_ok, (r.l_returnflag, r.exact_orders)


def test_sample_fraction_tolerance(spark, sf_dir):
    from morphl_model_publishers_churning_users_spark.catalog import table
    from morphl_model_publishers_churning_users_spark.operators.rowops import (
        draw_sample_rows,
    )

    total = table(spark, sf_dir, "lineitem").count()
    n = draw_sample_rows(spark, sf_dir).count()
    assert 0.1 * total <= n <= 0.3 * total
    assert all(r["sample_ok"] for r in _Q["sample_rows"](spark, sf_dir).collect())


def test_dedup_idempotent(spark, sf_dir):
    once = _Q["dedup_exact"](spark, sf_dir)
    assert once.count() == once.dropDuplicates().count()


def test_fuzzy_dedup_and_ann_run_symmetrically(spark, sf_dir):
    from morphl_model_publishers_churning_users_spark.operators.llm import (
        raw_dedup_fuzzy,
        raw_simsearch_ann,
    )

    pairs = raw_dedup_fuzzy(spark, sf_dir)
    # pairs are strictly ordered (a < b): no self-pairs, no mirrored dups
    assert pairs.filter(F.col("doc_a") >= F.col("doc_b")).count() == 0
    ann = raw_simsearch_ann(spark, sf_dir)
    assert ann.filter(F.col("rank") > 10).count() == 0
    # anchor rows: LSH recall vs exact pairs must clear the floors
    assert _Q["llm_dedup_fuzzy"](spark, sf_dir).collect()[0]["recall_ok"]
    assert _Q["llm_simsearch_ann"](spark, sf_dir).collect()[0]["recall_ok"]


def test_ivf_recall_vs_exact(spark, sf_dir):
    """IVF probes 2/16 cells yet must still recover a meaningful share of
    the exact top-10 — the quality bar for the approximate scale path."""
    from morphl_model_publishers_churning_users_spark.operators.llm import (
        raw_simsearch_ivf,
    )

    exact = {
        (r.query_id, r.neighbor_id)
        for r in _Q["llm_simsearch"](spark, sf_dir).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in raw_simsearch_ivf(spark, sf_dir).collect()
    }
    recall = len(exact & ivf) / len(exact)
    assert recall >= 0.2, f"IVF recall@10 too low: {recall:.2f}"
    assert _Q["llm_simsearch_ivf"](spark, sf_dir).collect()[0]["recall_ok"]


def test_kmeans_segments_partition_users(spark, sf_dir):
    """Segments must partition the user base: sizes sum to the user
    count and at least 2 non-empty clusters emerge at k=4."""
    from morphl_model_publishers_churning_users_spark.operators.ml import (
        raw_kmeans_segment,
    )

    rows = raw_kmeans_segment(spark, sf_dir).collect()
    n_users = churn.user_features(spark, sf_dir).count()
    assert sum(r["n_users"] for r in rows) == n_users
    assert 2 <= len(rows) <= 4
    anchor = _Q["ml_kmeans_segment"](spark, sf_dir).collect()[0]
    assert anchor["segments_ok"] and anchor["total_users"] == n_users
