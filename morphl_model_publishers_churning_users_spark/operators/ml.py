"""§2.I — ML pipeline operators (the reference's reason to exist).

Each op exposes one stage of plans/churn.py through the driver contract.
ml_label is directly SQL-expressible. Every other stage uses the ANCHOR
pattern (the same trick as the sketch aggregates): the registered query
emits exact, oracle-recomputable columns (user counts, feature names,
grid values) hash-matched against DuckDB, plus ok-flags computed
Spark-side over the model output (scaling moments, AUC bounds,
probability ranges, importance simplex) while the oracle emits literal
TRUE — so a broken stage flips the hash and the driver catches it, even
though model internals are not SQL-expressible. The RAW model outputs
(coefficients, probabilities, segment profiles) stay available via the
``raw_*`` helpers and are property-tested in tests/test_ml.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..plans import churn
from ..registry import register
from ._shared import by_day, ckpt, day_of, dsum, qdec, qround, qsum, revenue, t, with_stats

# Exact anchor shared by most ML oracles: the feature matrix has one row
# per user with ≥1 event, so COUNT(DISTINCT user_id) over events is the
# oracle-recomputable population.
_N_USERS_SQL = "(SELECT COUNT(DISTINCT user_id) FROM events)"


def _features_values_sql(extra: str = "") -> str:
    rows = ", ".join(f"('{c}')" for c in churn.FEATURE_COLS)
    return f"(VALUES {rows}{extra})"


@register(
    "ml_label",
    oracle="""
SELECT user_id, MAX(ts) AS last_ts,
       CASE WHEN MAX(ts) < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS churned
FROM events GROUP BY user_id
""",
)
def ml_label(spark, sf_dir):
    """Churn labeling — recency threshold over last activity, the
    reference's target definition."""
    labeled = churn.label_churn(churn.user_features(spark, sf_dir))
    return labeled.select("user_id", "last_ts", "churned")


def raw_features(spark, sf_dir):
    """The scaled per-user feature matrix (VectorAssembler +
    StandardScaler, fitted distributed — the reference scaled on a
    single node)."""
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml.functions import vector_to_array

    feats = churn.user_features(spark, sf_dir)
    assembled = VectorAssembler(
        inputCols=churn.FEATURE_COLS, outputCol="features_raw"
    ).transform(feats)
    model = StandardScaler(
        inputCol="features_raw", outputCol="features", withMean=True
    ).fit(assembled)
    out = model.transform(assembled)
    arr = vector_to_array("features")
    return out.select(
        "user_id",
        *[F.round(arr.getItem(i), 6).alias(f"f_{name}") for i, name in enumerate(churn.FEATURE_COLS)],
    )


@register(
    "ml_features",
    oracle=f"""
SELECT f.feature, {_N_USERS_SQL} AS n_users, TRUE AS scaled_ok
FROM {_features_values_sql()} f(feature)
""",
)
def ml_features(spark, sf_dir):
    """Feature assembly + standardization. Anchor contract: one row per
    feature name (exact), the user count (exact), and `scaled_ok` — the
    standardization moments actually holding (|mean| < 0.01, |sd−1| <
    0.2 sampled-vs-population slack) computed from the scaled matrix."""
    scaled = raw_features(spark, sf_dir)
    aggs = []
    for name in churn.FEATURE_COLS:
        col = f"f_{name}"
        aggs.append(
            F.struct(
                F.lit(name).alias("feature"),
                F.avg(col).alias("mu"),
                F.stddev_samp(col).alias("sd"),
            ).alias(name)
        )
    one = scaled.agg(F.count(F.lit(1)).alias("n_users"), *aggs)
    long = one.select(
        "n_users", F.explode(F.array(*[F.col(n) for n in churn.FEATURE_COLS])).alias("s")
    )
    ok = (F.abs(F.col("s.mu")) < 0.01) & (F.abs(F.col("s.sd") - 1.0) < 0.2)
    return long.select(
        F.col("s.feature").alias("feature"),
        F.col("n_users").cast("bigint").alias("n_users"),
        ok.alias("scaled_ok"),
    )


@register(
    "ml_split",
    oracle=f"""
SELECT s.split, {_N_USERS_SQL} AS total_users, TRUE AS split_ok
FROM (VALUES ('train'), ('test')) s(split)
""",
)
def ml_split(spark, sf_dir):
    """Deterministic hash-bucket train/test split (cluster-stable, unlike
    randomSplit which depends on partition layout). Anchor contract: the
    two split names (exact), the total population (exact), and
    `split_ok` — the buckets partitioning the population (sizes sum to
    the total; train fraction inside 0.8 ± 0.1)."""
    labeled = churn.label_churn(churn.user_features(spark, sf_dir))
    train, test = churn.split_train_test(labeled)
    n_train, n_test = train.count(), test.count()
    total = n_train + n_test
    frac_ok = total > 0 and abs(n_train / total - 0.8) <= 0.1
    complete = total == labeled.count()
    return spark.createDataFrame(
        [
            ("train", total, bool(frac_ok and complete)),
            ("test", total, bool(frac_ok and complete)),
        ],
        "split string, total_users bigint, split_ok boolean",
    )


def raw_train(spark, sf_dir):
    """Fitted LogisticRegression coefficients (one row per feature +
    intercept) — the distributed replacement for the reference's
    single-node Keras fit."""
    model, _, _ = churn.fit_with_fallback(churn.labeled_users(spark, sf_dir))
    lr = model.stages[-1]
    coefs = [(name, float(c)) for name, c in zip(churn.FEATURE_COLS, lr.coefficients)]
    coefs.append(("__intercept__", float(lr.intercept)))
    return spark.createDataFrame(coefs, "feature string, coefficient double")


@register(
    "ml_train",
    oracle=f"""
SELECT f.feature, TRUE AS coef_ok
FROM {_features_values_sql(", ('__intercept__')")} f(feature)
""",
)
def ml_train(spark, sf_dir):
    """Distributed LogisticRegression fit. Anchor contract: the exact
    coefficient-row names (features + intercept) and `coef_ok` — every
    fitted coefficient finite and of sane magnitude (|c| < 1e3 on
    standardized features). Raw coefficients via raw_train()."""
    coefs = raw_train(spark, sf_dir)
    ok = (~F.isnan("coefficient")) & (F.abs("coefficient") < 1e3)
    return coefs.select("feature", ok.alias("coef_ok"))


@register(
    "ml_eval",
    oracle="SELECT 'areaUnderROC' AS metric, TRUE AS auc_ok",
)
def ml_eval(spark, sf_dir):
    """AUC on the held-out hash-bucket split. Anchor contract: the
    metric name (exact) and `auc_ok` — the model genuinely separating
    the classes (0.5 < AUC ≤ 1.0; recency is in the features and defines
    the label, so a working pipeline clears this easily). Raw value via
    raw_eval()."""
    auc = raw_eval(spark, sf_dir)
    return spark.createDataFrame(
        [("areaUnderROC", bool(0.5 < auc <= 1.0))], "metric string, auc_ok boolean"
    )


def raw_eval(spark, sf_dir) -> float:
    from pyspark.ml.evaluation import BinaryClassificationEvaluator

    model, _, eval_set = churn.fit_with_fallback(churn.labeled_users(spark, sf_dir))
    scored = model.transform(eval_set)
    return float(
        BinaryClassificationEvaluator(
            labelCol="churned", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
        ).evaluate(scored)
    )


@register(
    "ml_infer",
    oracle=f"SELECT {_N_USERS_SQL} AS n_users, TRUE AS prob_ok",
)
def ml_infer(spark, sf_dir):
    """Batch inference: churn probability for every user (the table the
    reference served from Cassandra via its REST API). Anchor contract:
    every user scored exactly once (count hash-matched) and `prob_ok` —
    all probabilities inside [0, 1]. Raw scores via plans.churn.run()."""
    scored = churn.run(spark, sf_dir)
    row = scored.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("churn_prob").alias("pmin"),
        F.max("churn_prob").alias("pmax"),
    ).collect()[0]
    ok = (
        row["n_rows"] == row["n_users"]
        and row["pmin"] is not None
        and 0.0 <= row["pmin"]
        and row["pmax"] <= 1.0
    )
    return spark.createDataFrame(
        [(int(row["n_users"]), bool(ok))], "n_users bigint, prob_ok boolean"
    )


@register(
    "ml_crossval",
    oracle="""
SELECT CAST(g.reg_param AS DOUBLE) AS reg_param, TRUE AS auc_ok,
       CAST(1 AS BIGINT) AS n_best
FROM (VALUES (0.01), (0.5)) g(reg_param)
""",
)
def ml_crossval(spark, sf_dir):
    """Hyperparameter tuning: 3-fold CrossValidator over a regParam
    grid, stratified fold assignment, distributed fits. Anchor contract:
    the exact grid values, `auc_ok` per grid point (mean AUC a valid
    probability), and `n_best` — exactly one winner chosen. Fold
    metrics themselves are model-dependent and stay property-tested."""
    rows = raw_crossval(spark, sf_dir)
    n_best = sum(1 for r in rows if r[2])
    return spark.createDataFrame(
        [(rp, bool(0.0 <= auc <= 1.0), n_best) for rp, auc, _ in rows],
        "reg_param double, auc_ok boolean, n_best bigint",
    )


def raw_crossval(spark, sf_dir) -> list[tuple[float, float, bool]]:
    """(reg_param, mean_auc, is_best) per grid point."""
    from pyspark.ml.evaluation import BinaryClassificationEvaluator
    from pyspark.ml.tuning import CrossValidator, ParamGridBuilder

    class MetadataSafeAUC(BinaryClassificationEvaluator):
        """The JVM evaluator validates the rawPrediction column's
        ML-attribute *metadata*, not the vectors: a fold whose training
        data is single-class stamps numClasses=1 metadata even though
        binomial LR still emits length-2 vectors. Stripping the stale
        metadata lets evaluation proceed on the actual vectors."""

        def _evaluate(self, dataset):
            col = self.getRawPredictionCol()
            clean = dataset.withColumn(col, F.col(col).alias(col, metadata={}))
            return super()._evaluate(clean)

    # The materialized per-user table: the CrossValidator's 6 fold fits,
    # 6 validation transforms and final refit all read it instead of
    # re-running the two-shuffle events aggregate. Stratified fold
    # assignment on top: hash within each class so every fold sees the
    # minority class whenever it has >= numFolds members (the fixture's
    # positive rate is ~7%; random folds can go single-class).
    labeled = churn.labeled_users(spark, sf_dir).withColumn(
        "fold",
        F.pmod(F.xxhash64(F.col("user_id"), F.col("churned"), F.lit(7)), F.lit(3)).cast("int"),
    )
    pipeline = churn.build_ml_pipeline()
    lr = pipeline.getStages()[-1]
    grid = ParamGridBuilder().addGrid(lr.regParam, [0.01, 0.5]).build()
    evaluator = MetadataSafeAUC(
        labelCol="churned", rawPredictionCol="rawPrediction", metricName="areaUnderROC"
    )
    cv = CrossValidator(
        estimator=pipeline,
        estimatorParamMaps=grid,
        evaluator=evaluator,
        numFolds=3,
        foldCol="fold",
        parallelism=2,
        seed=42,
    )
    fitted = cv.fit(labeled)
    best_reg = fitted.bestModel.stages[-1].getRegParam()
    return [
        (float(pm[lr.regParam]), float(m), float(pm[lr.regParam]) == float(best_reg))
        for pm, m in zip(grid, fitted.avgMetrics)
    ]


def raw_kmeans_segment(spark, sf_dir):
    """Per-segment profile (size + mean activity) from the distributed
    KMeans user segmentation."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.feature import StandardScaler, VectorAssembler
    from pyspark.ml import Pipeline

    feats = churn.user_features(spark, sf_dir)
    cols = [c for c in feats.columns if c not in ("user_id", "last_ts")]
    pipe = Pipeline(
        stages=[
            VectorAssembler(inputCols=cols, outputCol="raw"),
            StandardScaler(inputCol="raw", outputCol="features", withMean=True),
            KMeans(k=4, seed=42, featuresCol="features", predictionCol="segment"),
        ]
    )
    segmented = pipe.fit(feats).transform(feats)
    return (
        segmented.groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("n_events"), 6).alias("avg_events"),
        )
        .orderBy("segment")
    )


@register(
    "ml_kmeans_segment",
    oracle=f"SELECT {_N_USERS_SQL} AS total_users, TRUE AS segments_ok",
)
def ml_kmeans_segment(spark, sf_dir):
    """User segmentation (the audience-bucketing companion to churn
    scoring): features → standardized vector → distributed KMeans (k=4,
    fixed seed) → per-segment profiles. Anchor contract: segment sizes
    summing to the exact user count (hash-matched) and `segments_ok` —
    2..4 non-empty clusters (seeded init on real behavioral spread must
    not collapse to one). Raw profiles via raw_kmeans_segment()."""
    rows = raw_kmeans_segment(spark, sf_dir).collect()
    total = sum(r["n_users"] for r in rows)
    ok = 2 <= len(rows) <= 4 and all(r["n_users"] > 0 for r in rows)
    return spark.createDataFrame(
        [(int(total), bool(ok))], "total_users bigint, segments_ok boolean"
    )


def raw_rf_importances(spark, sf_dir):
    """RandomForest Gini importances per churn feature."""
    from pyspark.ml.classification import RandomForestClassifier
    from pyspark.ml.feature import VectorAssembler

    labeled = churn.label_churn(churn.user_features(spark, sf_dir))
    assembled = VectorAssembler(
        inputCols=churn.FEATURE_COLS, outputCol="features", handleInvalid="keep"
    ).transform(labeled)
    rf = RandomForestClassifier(
        featuresCol="features", labelCol="churned", numTrees=20, maxDepth=5, seed=42
    )
    model = rf.fit(assembled)
    rows = [
        (name, round(float(imp), 6))
        for name, imp in zip(churn.FEATURE_COLS, model.featureImportances.toArray())
    ]
    return spark.createDataFrame(rows, "feature string, importance double")


@register(
    "ml_rf",
    oracle=f"""
SELECT f.feature, TRUE AS imp_ok, TRUE AS simplex_ok
FROM {_features_values_sql()} f(feature)
""",
)
def ml_rf(spark, sf_dir):
    """Tree-ensemble alternative to the linear model: RandomForest on
    the same churn features (distributed bin-aggregate split search,
    seeded). Anchor contract: the exact feature-row names, `imp_ok`
    (each Gini importance in [0, 1]) and `simplex_ok` (importances sum
    to ~1, or all-zero on a degenerate single-class fit). Raw
    importances via raw_rf_importances()."""
    rows = raw_rf_importances(spark, sf_dir).collect()
    total = sum(r["importance"] for r in rows)
    simplex = total == 0 or abs(total - 1.0) < 0.01
    return spark.createDataFrame(
        [
            (r["feature"], bool(0.0 <= r["importance"] <= 1.0), bool(simplex))
            for r in rows
        ],
        "feature string, imp_ok boolean, simplex_ok boolean",
    )


def raw_pca_spectrum(spark, sf_dir):
    """Explained-variance ratios of the embedding space (k=8)."""
    from pyspark.ml.feature import PCA
    from pyspark.ml.functions import array_to_vector

    e = t(spark, sf_dir, "embeddings").select(
        array_to_vector(F.col("embedding").cast("array<double>")).alias("features")
    )
    model = PCA(k=8, inputCol="features", outputCol="pca").fit(e)
    return [
        (i, round(float(v), 6)) for i, v in enumerate(model.explainedVariance.toArray())
    ]


@register(
    "ml_pca_embed",
    oracle="""
SELECT CAST(r.range AS INT) AS component, TRUE AS var_ok, TRUE AS spectrum_ok
FROM range(0, 8) r
""",
)
def ml_pca_embed(spark, sf_dir):
    """PCA variance spectrum of the embedding space — the
    dimensionality-reduction readout that sizes IVF cells and compressed
    indexes. Distributed Gramian accumulation, driver eigensolve;
    component SIGNS are eigensolver-arbitrary so only sign-free ratios
    are exposed. Anchor contract: the exact component ids, `var_ok`
    (each ratio in [0, 1]) and `spectrum_ok` (non-increasing, summing
    to ≤ 1 — the invariants of any correct eigensolve). Raw spectrum
    via raw_pca_spectrum()."""
    vals = raw_pca_spectrum(spark, sf_dir)
    ratios = [v for _, v in vals]
    spectrum = (
        all(ratios[i] >= ratios[i + 1] - 1e-9 for i in range(len(ratios) - 1))
        and sum(ratios) <= 1.0 + 1e-6
    )
    return spark.createDataFrame(
        [(i, bool(0.0 <= v <= 1.0), bool(spectrum)) for i, v in vals],
        "component int, var_ok boolean, spectrum_ok boolean",
    )


@register(
    "ml_calibration_bins",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (
    SELECT MAX(last_ts) AS cmax FROM u
), s AS (
    SELECT user_id, last_ts, epoch_us(m.cmax) - epoch_us(last_ts) AS rec
    FROM u, m
), mx AS (
    SELECT GREATEST(MAX(rec), 1) AS maxrec FROM s
), scored AS (
    SELECT CAST(rec AS DOUBLE) / maxrec AS score,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS churned
    FROM s, mx
)
SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       FLOOR(AVG(score) * 1000000 + 0.5) / 1000000 AS mean_score,
       FLOOR(AVG(churned) * 1000000 + 0.5) / 1000000 AS churn_rate
FROM scored GROUP BY 1
""",
)
def ml_calibration_bins(spark, sf_dir):
    """Model-calibration readout (reliability diagram bins): bucket a
    deterministic churn-risk score — recency scaled to [0, 1] by the
    corpus-max recency — into deciles and report the observed churn
    rate per bin, the curve an ml_eval step plots to check that
    predicted probabilities mean what they say. Fully oracle-twinned
    (unlike the fitted-model stages) because the score is exact integer
    arithmetic: microsecond recencies divided as int64 ratios, so both
    engines bin identically. Two aggregations and one broadcast
    statistics row — no per-model state, scales as a pure groupBy."""
    scored = _rec_scored(spark, sf_dir).select(
        (F.col("rec").cast("double") / F.col("maxrec")).alias("score"), "churned"
    )
    return scored.groupBy(
        F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n_users"),
        qround(F.avg("score")).alias("mean_score"),
        qround(F.avg("churned")).alias("churn_rate"),
    )


@register(
    "ml_woe_iv",
    oracle="""
WITH u AS (
    SELECT user_id, COUNT(*) AS n_events,
           CASE WHEN MAX(ts) < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS churned
    FROM events GROUP BY user_id
), binned AS (
    SELECT user_id, churned,
           NTILE(5) OVER (ORDER BY n_events, user_id) AS bucket
    FROM u
), per AS (
    SELECT bucket,
           COUNT(*) AS n_users,
           SUM(churned) AS n_bad,
           COUNT(*) - SUM(churned) AS n_good
    FROM binned GROUP BY bucket
), tot AS (
    SELECT CAST(SUM(n_bad) AS DOUBLE) AS bad_t, CAST(SUM(n_good) AS DOUBLE) AS good_t
    FROM per
), scored AS (
    SELECT p.bucket, p.n_users, p.n_bad, p.n_good,
           (p.n_bad + 0.5) / (t.bad_t + 2.5) AS bs,
           (p.n_good + 0.5) / (t.good_t + 2.5) AS gs
    FROM per p, tot t
)
SELECT bucket, CAST(n_users AS BIGINT) AS n_users, CAST(n_bad AS BIGINT) AS n_bad,
       CAST(n_good AS BIGINT) AS n_good,
       FLOOR((FLOOR(ln(bs) * 1000000000 + 0.5) / 1000000000
              - FLOOR(ln(gs) * 1000000000 + 0.5) / 1000000000) * 1000000 + 0.5)
           / 1000000 AS woe,
       FLOOR((bs - gs) * (FLOOR(ln(bs) * 1000000000 + 0.5) / 1000000000
                          - FLOOR(ln(gs) * 1000000000 + 0.5) / 1000000000)
             * 1000000 + 0.5) / 1000000 AS iv_term
FROM scored
""",
)
def ml_woe_iv(spark, sf_dir):
    """Weight-of-evidence / information-value screen — the credit-
    scoring-style univariate feature ranking a churn team runs before
    model fitting: bucket the activity feature into quintiles, compare
    each bucket's churner share against its survivor share in log-odds
    space. WOE_b = ln(bad_b/bad_t) − ln(good_b/good_t) with 0.5
    Laplace smoothing (empty cells stay finite); IV_b = (bad% − good%)
    · WOE_b. One user-keyed aggregate (the only event-scale pass), a
    5-row bucket table, and quantized-ln arithmetic for cross-engine
    bit-stability. NTILE ties break on user_id so bucketing is
    deterministic on both engines."""
    ev = t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        churn.churned(F.max("ts")).alias("churned"),
    )
    w = Window.orderBy("n_events", "user_id")
    binned = u.select("churned", F.ntile(5).over(w).alias("bucket"))
    # The 5-row bucket table feeds both the totals and the output row
    # set — materialize it so the event-scale user aggregate runs once.
    per = ckpt(binned.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("churned").alias("n_bad"),
        (F.count(F.lit(1)) - F.sum("churned")).alias("n_good"),
    ))
    bs = (F.col("n_bad") + 0.5) / (F.col("bad_t") + 2.5)
    gs = (F.col("n_good") + 0.5) / (F.col("good_t") + 2.5)
    woe = qround(F.log(bs), 9) - qround(F.log(gs), 9)
    return with_stats(
        per,
        F.sum("n_bad").cast("double").alias("bad_t"),
        F.sum("n_good").cast("double").alias("good_t"),
    ).select(
        "bucket",
        F.col("n_users").cast("bigint").alias("n_users"),
        F.col("n_bad").cast("bigint").alias("n_bad"),
        F.col("n_good").cast("bigint").alias("n_good"),
        qround(woe).alias("woe"),
        qround((bs - gs) * woe).alias("iv_term"),
    )


@register(
    "ml_psi",
    oracle="""
WITH w1 AS (
    SELECT event_type, COUNT(*) AS c FROM events
    WHERE ts < TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1
), w2 AS (
    SELECT event_type, COUNT(*) AS c FROM events
    WHERE ts >= TIMESTAMP '2024-01-16 00:00:00' GROUP BY 1
), types AS (
    SELECT event_type FROM w1 UNION SELECT event_type FROM w2
), tot AS (
    SELECT (SELECT CAST(SUM(c) AS DOUBLE) FROM w1) AS t1,
           (SELECT CAST(SUM(c) AS DOUBLE) FROM w2) AS t2,
           (SELECT CAST(COUNT(*) AS DOUBLE) FROM types) AS k
), shares AS (
    SELECT ty.event_type,
           (COALESCE(w1.c, 0) + 0.5) / (t.t1 + 0.5 * t.k) AS p1,
           (COALESCE(w2.c, 0) + 0.5) / (t.t2 + 0.5 * t.k) AS p2
    FROM types ty
    LEFT JOIN w1 ON w1.event_type = ty.event_type
    LEFT JOIN w2 ON w2.event_type = ty.event_type
    CROSS JOIN tot t
)
SELECT event_type,
       FLOOR(p1 * 1000000 + 0.5) / 1000000 AS p1,
       FLOOR(p2 * 1000000 + 0.5) / 1000000 AS p2,
       FLOOR((p2 - p1) * (FLOOR(ln(p2 / p1) * 1000000000 + 0.5) / 1000000000)
             * 1000000 + 0.5) / 1000000 AS psi_term
FROM shares
""",
)
def ml_psi(spark, sf_dir):
    """Population stability index — the model-monitoring drift metric:
    compare the event-type mix of the first half of the window against
    the second; PSI_k = (p2 − p1)·ln(p2/p1) per class, Σ > 0.2 means
    the scoring population has shifted and the model needs review.
    Two filtered aggregates (one scan each side — the time predicate
    pushes to the parquet scan), a class-cardinality share table, 0.5
    Laplace smoothing so absent classes stay finite, quantized ln for
    parity. At 100 TB the two window aggregates are the only
    event-scale work and partition pruning serves them from disjoint
    date partitions."""
    ev = t(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    w1 = ev.filter(F.col("ts") < cut).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c1")
    )
    w2 = ev.filter(F.col("ts") >= cut).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("c2")
    )
    types = (
        w1.select("event_type").unionByName(w2.select("event_type")).distinct()
    )
    joined = ckpt(
        types.join(w1, "event_type", "left")
        .join(w2, "event_type", "left")
    )
    p1 = (F.coalesce("c1", F.lit(0)) + 0.5) / (F.col("t1") + 0.5 * F.col("k"))
    p2 = (F.coalesce("c2", F.lit(0)) + 0.5) / (F.col("t2") + 0.5 * F.col("k"))
    return with_stats(
        joined,
        F.sum(F.coalesce("c1", F.lit(0))).cast("double").alias("t1"),
        F.sum(F.coalesce("c2", F.lit(0))).cast("double").alias("t2"),
        F.count(F.lit(1)).cast("double").alias("k"),
    ).select(
        "event_type",
        qround(p1).alias("p1"),
        qround(p2).alias("p2"),
        qround((p2 - p1) * qround(F.log(p2 / p1), 9)).alias("psi_term"),
    )


@register(
    "ml_target_encode",
    oracle="""
WITH lab AS (
    SELECT user_id,
           CASE WHEN MAX(ts) < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS churned
    FROM events GROUP BY user_id
), joined AS (
    SELECT l.user_id, c.c_mktsegment AS segment, l.churned
    FROM lab l JOIN customer c ON c.c_custkey = l.user_id
), seg AS (
    SELECT segment, CAST(SUM(churned) AS DOUBLE) AS seg_sum,
           CAST(COUNT(*) AS DOUBLE) AS seg_n
    FROM joined GROUP BY segment
), prior AS (
    SELECT CAST(SUM(churned) AS DOUBLE) / COUNT(*) AS prior FROM joined
)
SELECT j.user_id, j.segment, CAST(j.churned AS BIGINT) AS churned,
       FLOOR((s.seg_sum - j.churned + p.prior * 10.0)
             / (s.seg_n - 1.0 + 10.0) * 1000000 + 0.5) / 1000000 AS segment_enc
FROM joined j JOIN seg s ON s.segment = j.segment CROSS JOIN prior p
""",
)
def ml_target_encode(spark, sf_dir):
    """Leave-one-out target encoding with additive smoothing (m = 10
    pseudo-observations of the global churn rate) — the high-
    cardinality categorical encoder that replaces one-hot at scale.
    LOO excludes each row's own label from its group mean so the
    encoding doesn't leak the target (the classic CV-safe form). One
    user-keyed label aggregate, a segment-cardinality stats table
    broadcast back onto the rows, arithmetic on identical IEEE
    operands both engines. At 100 TB the segment table is tiny however
    many users there are — the encode is a broadcast join plus a
    per-row expression."""
    ev = t(spark, sf_dir, "events")
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    lab = ev.groupBy("user_id").agg(churn.churned(F.max("ts")).alias("churned"))
    joined = ckpt(lab.join(F.broadcast(cust), "user_id"))
    seg = joined.groupBy("segment").agg(
        F.sum("churned").cast("double").alias("seg_sum"),
        F.count(F.lit(1)).cast("double").alias("seg_n"),
    )
    prior = joined.agg(
        (F.sum("churned").cast("double") / F.count(F.lit(1))).alias("prior")
    )
    enc = (F.col("seg_sum") - F.col("churned") + F.col("prior") * 10.0) / (
        F.col("seg_n") - 1.0 + 10.0
    )
    return (
        joined.join(F.broadcast(seg), "segment")
        .crossJoin(F.broadcast(prior))
        .select(
            "user_id",
            "segment",
            F.col("churned").cast("bigint").alias("churned"),
            qround(enc).alias("segment_enc"),
        )
    )


@register(
    "ml_feature_hashing",
    oracle="""
WITH counts AS (
    SELECT user_id, event_type, COUNT(*) AS c FROM events GROUP BY 1, 2
)
SELECT user_id,
       CAST(CAST(('0x' || substr(md5('fh:' || event_type), 1, 8)) AS BIGINT) % 16
            AS BIGINT) AS bucket,
       CAST(SUM(c) AS BIGINT) AS v
FROM counts GROUP BY 1, 2
""",
)
def ml_feature_hashing(spark, sf_dir):
    """Hashing-trick feature projection — categorical features mapped
    into a fixed 16-bucket space via md5, collisions summed: the
    unbounded-vocabulary encoder (new categories need no refit, no
    vocabulary table, no shuffle to build a dictionary). Output is the
    sparse long format (user, bucket, value) a training pipeline feeds
    to assemblers; md5 bucketing makes the projection — including its
    collisions — bit-identical to the oracle. One (user, type) hash
    aggregate then a re-key: both map-combinable."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    bucket = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("fh:"), F.col("event_type"))), 1, 8),
            16,
            10,
        ).cast("bigint")
        % 16
    )
    return (
        counts.select("user_id", bucket.alias("bucket"), "c")
        .groupBy("user_id", "bucket")
        .agg(F.sum("c").cast("bigint").alias("v"))
    )


# Shared DuckDB CTE for the deterministic churn-risk ranking key: the
# per-user recency in microseconds (int64-exact; the score used by
# ml_calibration_bins is rec/maxrec, which is MONOTONE in rec — so
# ranking by rec avoids float ranks entirely).
_REC_SQL = """
u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (
    SELECT MAX(last_ts) AS cmax FROM u
), s AS (
    SELECT user_id,
           epoch_us(m.cmax) - epoch_us(last_ts) AS rec,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS churned
    FROM u, m
)"""


def _recency(spark, sf_dir, *aggs, stats=()):
    """The churn recency spine: per-user ``last_ts`` (plus ``aggs``)
    with one row of corpus statistics: the max ``cmax`` of ``last_ts``,
    the score's max ``maxrec`` (plus ``stats``). ``maxrec`` is max(rec)
    over users, floored at 1: rec is integer microseconds and falls as
    ``last_ts`` rises, so its max is the span from the earliest
    ``last_ts`` to ``cmax``. The per-user aggregate is materialized
    once: it feeds the statistics AND the recency projection, and
    without the checkpoint Catalyst re-derives the full event scan +
    user aggregate once per consumer."""
    e = t(spark, sf_dir, "events")
    u = ckpt(e.groupBy("user_id").agg(F.max("ts").alias("last_ts"), *aggs))
    return with_stats(
        u,
        F.max("last_ts").alias("cmax"),
        F.greatest(
            F.expr("timestampdiff(MICROSECOND, min(last_ts), max(last_ts))"), F.lit(1)
        ).alias("maxrec"),
        *stats,
    )


def _rec():
    """int64 microseconds from ``last_ts`` to ``cmax``. timestampdiff, not
    unix_micros: events.ts is TIMESTAMP_NTZ (catalog nanos conversion) and
    the diff must be timezone-free so it matches DuckDB's naive epoch_us
    subtraction even across DST boundaries."""
    return F.expr("timestampdiff(MICROSECOND, last_ts, cmax)")


def _rec_scored(spark, sf_dir):
    """(user_id, rec, churned, maxrec) — int64 recency, label and the
    score's max, one event pass."""
    return _recency(spark, sf_dir).select(
        "user_id",
        _rec().alias("rec"),
        churn.churned(F.col("last_ts")).alias("churned"),
        "maxrec",
    )


_REC2_SQL = """
u2 AS (
    SELECT user_id, MAX(ts) AS last_ts, COUNT(*) AS ne FROM events GROUP BY user_id
), m2 AS (
    SELECT MAX(last_ts) AS cmax FROM u2
), s2 AS (
    SELECT user_id,
           epoch_us(m2.cmax) - epoch_us(last_ts) AS rec,
           ne,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS churned
    FROM u2, m2
)"""


def _rec_scored2(spark, sf_dir):
    """(user_id, rec, ne, churned) — recency + activity + label."""
    return _recency(spark, sf_dir, F.count(F.lit(1)).alias("ne")).select(
        "user_id",
        _rec().alias("rec"),
        "ne",
        churn.churned(F.col("last_ts")).alias("churned"),
    )


@register(
    "ml_auc_exact",
    oracle=f"""
WITH {_REC_SQL},
per_score AS (
    SELECT rec, COUNT(*) AS n, SUM(churned) AS pos FROM s GROUP BY rec
), ranked AS (
    SELECT rec, n, pos,
           COALESCE(SUM(n) OVER (ORDER BY rec ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING), 0) AS cum_before
    FROM per_score
), sums AS (
    SELECT CAST(SUM(pos) AS DOUBLE) AS n_pos,
           CAST(SUM(n - pos) AS DOUBLE) AS n_neg,
           SUM(pos * (cum_before + (n + 1.0) / 2.0)) AS rank_sum
    FROM ranked
)
SELECT CAST(n_pos AS BIGINT) AS n_pos, CAST(n_neg AS BIGINT) AS n_neg,
       FLOOR((rank_sum - n_pos * (n_pos + 1.0) / 2.0) / (n_pos * n_neg)
             * 1000000 + 0.5) / 1000000 AS auc
FROM sums
""",
)
def ml_auc_exact(spark, sf_dir):
    """Exact ROC-AUC of the recency churn score via the Mann-Whitney U
    rank statistic with tie-averaged ranks — the evaluation number the
    fitted-model stages (ml_eval) can only anchor-check, computed
    exactly: AUC = (Σ ranks of positives − n⁺(n⁺+1)/2) / (n⁺ n⁻).
    Ranking happens on the int64 recency (the calibration score is
    monotone in it), ranks come from a score-level aggregate + one
    cumulative window over DISTINCT scores — never a per-row global
    sort — so the rank pass is O(distinct scores) after one user-keyed
    aggregate. Tie averages are exact .5 rationals; both engines
    compute identical doubles."""
    s = _rec_scored(spark, sf_dir)
    per = s.groupBy("rec").agg(
        F.count(F.lit(1)).alias("n"), F.sum("churned").alias("pos")
    )
    w = Window.orderBy("rec").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per.select(
        "n",
        "pos",
        F.coalesce(F.sum("n").over(w), F.lit(0)).alias("cum_before"),
    )
    sums = ranked.agg(
        F.sum("pos").cast("double").alias("n_pos"),
        F.sum(F.col("n") - F.col("pos")).cast("double").alias("n_neg"),
        F.sum(F.col("pos") * (F.col("cum_before") + (F.col("n") + 1.0) / 2.0)).alias(
            "rank_sum"
        ),
    )
    return sums.select(
        F.col("n_pos").cast("bigint").alias("n_pos"),
        F.col("n_neg").cast("bigint").alias("n_neg"),
        qround(
            (F.col("rank_sum") - F.col("n_pos") * (F.col("n_pos") + 1.0) / 2.0)
            / (F.col("n_pos") * F.col("n_neg"))
        ).alias("auc"),
    )


@register(
    "ml_confusion_matrix",
    oracle=f"""
WITH {_REC_SQL},
mx AS (SELECT GREATEST(MAX(rec), 1) AS maxrec FROM s),
pred AS (
    SELECT churned, CASE WHEN 2 * rec >= mx.maxrec THEN 1 ELSE 0 END AS predicted
    FROM s, mx
), cm AS (
    SELECT CAST(COUNT(*) FILTER (WHERE predicted = 1 AND churned = 1) AS DOUBLE) AS tp,
           CAST(COUNT(*) FILTER (WHERE predicted = 1 AND churned = 0) AS DOUBLE) AS fp,
           CAST(COUNT(*) FILTER (WHERE predicted = 0 AND churned = 1) AS DOUBLE) AS fn,
           CAST(COUNT(*) FILTER (WHERE predicted = 0 AND churned = 0) AS DOUBLE) AS tn
    FROM pred
)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       FLOOR(tp / (tp + fp) * 1000000 + 0.5) / 1000000 AS precision,
       FLOOR(tp / (tp + fn) * 1000000 + 0.5) / 1000000 AS recall,
       FLOOR(2.0 * tp / (2.0 * tp + fp + fn) * 1000000 + 0.5) / 1000000 AS f1
FROM cm
""",
)
def ml_confusion_matrix(spark, sf_dir):
    """Confusion matrix + precision/recall/F1 at the midpoint decision
    threshold — predicted churn iff score ≥ 0.5, evaluated as the
    INTEGER comparison 2·rec ≥ max(rec) so the decision boundary is
    bit-exact on both engines (a float threshold can flip boundary
    users). One conditional aggregate over the user table; the F1 uses
    the 2TP/(2TP+FP+FN) form, which is total-order-safe."""
    pred = _rec_scored(spark, sf_dir).select(
        "churned",
        F.when(2 * F.col("rec") >= F.col("maxrec"), 1).otherwise(0).alias("predicted"),
    )
    cnt = lambda p, c: F.count(
        F.when((F.col("predicted") == p) & (F.col("churned") == c), 1)
    ).cast("double")
    cm = pred.agg(
        cnt(1, 1).alias("tp"), cnt(1, 0).alias("fp"),
        cnt(0, 1).alias("fn"), cnt(0, 0).alias("tn"),
    )
    return cm.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        qround(F.col("tp") / (F.col("tp") + F.col("fp"))).alias("precision"),
        qround(F.col("tp") / (F.col("tp") + F.col("fn"))).alias("recall"),
        qround(2.0 * F.col("tp") / (2.0 * F.col("tp") + F.col("fp") + F.col("fn"))).alias(
            "f1"
        ),
    )


@register(
    "ml_ks_stat",
    oracle=f"""
WITH {_REC_SQL},
per_score AS (
    SELECT rec, CAST(SUM(churned) AS DOUBLE) AS pos,
           CAST(COUNT(*) - SUM(churned) AS DOUBLE) AS neg
    FROM s GROUP BY rec
), tot AS (
    SELECT SUM(pos) AS np, SUM(neg) AS nn FROM per_score
), cdf AS (
    SELECT rec,
           SUM(pos) OVER (ORDER BY rec ROWS UNBOUNDED PRECEDING) / t.np AS cp,
           SUM(neg) OVER (ORDER BY rec ROWS UNBOUNDED PRECEDING) / t.nn AS cn
    FROM per_score, tot t
), scored AS (
    SELECT rec, FLOOR(ABS(cp - cn) * 1000000 + 0.5) / 1000000 AS d FROM cdf
), mx AS (SELECT MAX(d) AS ks FROM scored)
SELECT MIN(s.rec) AS ks_rec, MAX(s.d) AS ks
FROM scored s, mx WHERE s.d = mx.ks
""",
)
def ml_ks_stat(spark, sf_dir):
    """Kolmogorov-Smirnov separation of the churn score — the credit-
    risk twin of AUC: the maximum gap between the churner and survivor
    score CDFs, plus the recency cut where it occurs (that cut is the
    natural campaign threshold). CDFs accumulate per DISTINCT score
    (one window over the score-level aggregate), the gap quantizes at
    1e-6 BEFORE the argmax so both engines agree on ties, and the
    argmax is max-then-filter with a MIN(rec) tiebreak — the quantized
    gap makes the equality filter exact on both engines."""
    s = _rec_scored(spark, sf_dir)
    per = ckpt(s.groupBy("rec").agg(
        F.sum("churned").cast("double").alias("pos"),
        (F.count(F.lit(1)) - F.sum("churned")).cast("double").alias("neg"),
    ))
    w = Window.orderBy("rec").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cdf = with_stats(per, F.sum("pos").alias("np"), F.sum("neg").alias("nn")).select(
        "rec",
        (F.sum("pos").over(w) / F.col("np")).alias("cp"),
        (F.sum("neg").over(w) / F.col("nn")).alias("cn"),
    )
    scored = cdf.select("rec", qround(F.abs(F.col("cp") - F.col("cn"))).alias("d"))
    return (
        with_stats(scored, F.max("d").alias("mxks"))
        .filter(F.col("d") == F.col("mxks"))
        .agg(F.min("rec").alias("ks_rec"), F.max("d").alias("ks"))
    )


@register(
    "ml_lift_gains",
    oracle=f"""
WITH {_REC_SQL},
deciled AS (
    SELECT churned, NTILE(10) OVER (ORDER BY rec DESC, user_id) AS decile FROM s
), per AS (
    SELECT decile, CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(churned) AS DOUBLE) AS pos
    FROM deciled GROUP BY decile
), tot AS (
    SELECT SUM(n) AS nt, SUM(pos) AS post FROM per
)
SELECT CAST(decile AS BIGINT) AS decile, CAST(n AS BIGINT) AS n_users,
       CAST(pos AS BIGINT) AS n_churned,
       FLOOR(pos / n * 1000000 + 0.5) / 1000000 AS churn_rate,
       FLOOR((pos / n) / (t.post / t.nt) * 1000000 + 0.5) / 1000000 AS lift,
       FLOOR(SUM(pos) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) / t.post
             * 1000000 + 0.5) / 1000000 AS cum_gain
FROM per, tot t
""",
)
def ml_lift_gains(spark, sf_dir):
    """Decile lift and cumulative-gains table — the campaign-targeting
    readout: sort users by churn risk (int64 recency, user_id
    tiebreak), split into deciles, report each decile's churn rate,
    lift over the base rate, and the cumulative share of all churners
    captured. The NTILE runs over the user table (one sort bounded by
    users, not events) and the report is 10 rows at any scale."""
    s = _rec_scored(spark, sf_dir)
    w = Window.orderBy(F.desc("rec"), F.asc("user_id"))
    deciled = s.select("churned", F.ntile(10).over(w).alias("decile"))
    per = ckpt(deciled.groupBy("decile").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("churned").cast("double").alias("pos"),
    ))
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return with_stats(per, F.sum("n").alias("nt"), F.sum("pos").alias("post")).select(
        F.col("decile").cast("bigint").alias("decile"),
        F.col("n").cast("bigint").alias("n_users"),
        F.col("pos").cast("bigint").alias("n_churned"),
        qround(F.col("pos") / F.col("n")).alias("churn_rate"),
        qround((F.col("pos") / F.col("n")) / (F.col("post") / F.col("nt"))).alias("lift"),
        qround(F.sum("pos").over(wc) / F.col("post")).alias("cum_gain"),
    )


_SEG_LABEL_SQL = f"""
WITH {_REC_SQL},
lab AS (
    SELECT c.c_mktsegment AS segment, s.churned
    FROM s JOIN customer c ON c.c_custkey = s.user_id
)"""


@register(
    "ml_mutual_info",
    oracle=f"""{_SEG_LABEL_SQL},
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lab),
cells AS (
    SELECT segment, churned, CAST(COUNT(*) AS BIGINT) AS n_cell FROM lab GROUP BY 1, 2
),
seg AS (SELECT segment, CAST(SUM(n_cell) AS DOUBLE) AS n_seg FROM cells GROUP BY 1),
cls AS (SELECT churned, CAST(SUM(n_cell) AS DOUBLE) AS n_cls FROM cells GROUP BY 1)
SELECT c.segment, c.churned, c.n_cell,
       FLOOR(c.n_cell / n.n
             * (FLOOR(ln(c.n_cell * n.n / (s.n_seg * l.n_cls))
                      * 1000000000 + 0.5) / 1000000000)
             * 1000000 + 0.5) / 1000000 AS mi_contrib
FROM cells c
JOIN seg s ON s.segment = c.segment
JOIN cls l ON l.churned = c.churned, n
""",
)
def ml_mutual_info(spark, sf_dir):
    """Mutual information between market segment and the churn label —
    the model-independent feature-relevance screen: per contingency
    cell, p(s,l)·ln(p(s,l)/(p(s)p(l))). One label join (customer dim
    broadcast), one cell aggregate; the marginals are re-aggregates of
    the bounded cell table, never second passes over the facts. The ln
    argument is a ratio of exact integer products, the log is quantized
    at 1e-9 and each contribution at 1e-6 — cross-engine bit-stable.
    Output: one row per (segment, label) cell; Σ mi_contrib is the MI."""
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    lab = _rec_scored(spark, sf_dir).join(F.broadcast(cust), "user_id")
    cells = ckpt(
        lab.groupBy("segment", "churned")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_cell"))
    )
    n = cells.agg(F.sum("n_cell").cast("double").alias("n"))
    seg = cells.groupBy("segment").agg(F.sum("n_cell").cast("double").alias("n_seg"))
    cls = cells.groupBy("churned").agg(F.sum("n_cell").cast("double").alias("n_cls"))
    return (
        cells.join(seg, "segment")
        .join(F.broadcast(cls), "churned")
        .crossJoin(F.broadcast(n))
        .select(
            "segment",
            "churned",
            "n_cell",
            qround(
                F.col("n_cell")
                / F.col("n")
                * qround(
                    F.log(
                        F.col("n_cell") * F.col("n") / (F.col("n_seg") * F.col("n_cls"))
                    ),
                    9,
                )
            ).alias("mi_contrib"),
        )
    )


@register(
    "ml_chi2",
    oracle=f"""{_SEG_LABEL_SQL},
n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM lab),
cells AS (
    SELECT segment, churned, CAST(COUNT(*) AS BIGINT) AS n_obs FROM lab GROUP BY 1, 2
),
seg AS (SELECT segment, CAST(SUM(n_obs) AS DOUBLE) AS n_seg FROM cells GROUP BY 1),
cls AS (SELECT churned, CAST(SUM(n_obs) AS DOUBLE) AS n_cls FROM cells GROUP BY 1),
full_cells AS (
    SELECT s.segment, l.churned, s.n_seg, l.n_cls,
           COALESCE(c.n_obs, 0) AS n_obs
    FROM seg s CROSS JOIN cls l
    LEFT JOIN cells c ON c.segment = s.segment AND c.churned = l.churned
)
SELECT segment, churned, CAST(n_obs AS BIGINT) AS n_obs,
       FLOOR(n_seg * n_cls / n.n * 1000000 + 0.5) / 1000000 AS expected,
       FLOOR((n_obs - n_seg * n_cls / n.n)
             * (n_obs - n_seg * n_cls / n.n)
             / (n_seg * n_cls / n.n) * 1000000 + 0.5) / 1000000 AS chi2_cell
FROM full_cells, n
""",
)
def ml_chi2(spark, sf_dir):
    """Chi-square independence cells for segment × churn — the classic
    categorical feature-selection statistic, computed exactly from the
    same bounded contingency table as ml_mutual_info (expected counts
    are products of integer marginals over n; (O−E)²/E per cell,
    quantized at 1e-6). The cell table is the FULL S×L cross product of
    the marginals — a zero-observation cell still contributes its
    expected mass to the statistic, so Σ expected = n holds exactly.
    Σ chi2_cell against a χ²((S−1)(L−1)) table is the screening
    decision; emitting cells keeps the oracle exact and lets the caller
    pick the correction."""
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    lab = _rec_scored(spark, sf_dir).join(F.broadcast(cust), "user_id")
    cells = ckpt(
        lab.groupBy("segment", "churned")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_obs"))
    )
    n = cells.agg(F.sum("n_obs").cast("double").alias("n"))
    seg = cells.groupBy("segment").agg(F.sum("n_obs").cast("double").alias("n_seg"))
    cls = cells.groupBy("churned").agg(F.sum("n_obs").cast("double").alias("n_cls"))
    full = (
        seg.crossJoin(F.broadcast(cls))
        .join(cells, ["segment", "churned"], "left")
        .select(
            "segment",
            "churned",
            "n_seg",
            "n_cls",
            F.coalesce("n_obs", F.lit(0)).cast("bigint").alias("n_obs"),
        )
    )
    expected = F.col("n_seg") * F.col("n_cls") / F.col("n")
    return full.crossJoin(F.broadcast(n)).select(
        "segment",
        "churned",
        "n_obs",
        qround(expected).alias("expected"),
        qround((F.col("n_obs") - expected) * (F.col("n_obs") - expected) / expected).alias(
            "chi2_cell"
        ),
    )


@register(
    "ml_brier_score",
    oracle=f"""
WITH {_REC_SQL},
mx AS (SELECT CAST(GREATEST(MAX(rec), 1) AS DOUBLE) AS maxrec FROM s),
p AS (
    SELECT churned,
           FLOOR(rec / mx.maxrec * 1000000000 + 0.5) / 1000000000 AS phat
    FROM s, mx
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       FLOOR(CAST(SUM(CAST(FLOOR((phat - churned) * (phat - churned)
                                 * 1000000000 + 0.5) / 1000000000
                      AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)
             * 1000000 + 0.5) / 1000000 AS brier,
       FLOOR(CAST(SUM(CAST(churned AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
             * 1000000 + 0.5) / 1000000 AS base_rate
FROM p
""",
)
def ml_brier_score(spark, sf_dir):
    """Brier score of the normalized-recency churn probability — the
    proper scoring rule complement to ml_auc_exact (AUC ranks, Brier
    calibrates). p̂ = rec/max(rec) is quantized at 1e-9, each squared
    error at 1e-9, and the mean runs through DECIMAL(38,12) so the
    sum is order-independent; the reported score and base rate are
    1e-6-rounded. One event pass (shared _rec_scored aggregate), one
    1-row max broadcast, one global aggregate."""
    p = _rec_scored(spark, sf_dir).select(
        "churned", qround(F.col("rec") / F.col("maxrec").cast("double"), 9).alias("phat")
    )
    sqerr = qround((F.col("phat") - F.col("churned")) * (F.col("phat") - F.col("churned")), 9)
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        qround(
            dsum(sqerr, 12) / F.count(F.lit(1))
        ).alias("brier"),
        qround(
            dsum(F.col("churned"))
            / F.count(F.lit(1))
        ).alias("base_rate"),
    )


@register(
    "ml_roc_points",
    oracle=f"""
WITH {_REC_SQL},
deciles AS (
    SELECT churned, NTILE(10) OVER (ORDER BY rec DESC, user_id) AS decile
    FROM s
), tot AS (
    SELECT CAST(SUM(churned) AS DOUBLE) AS n_pos,
           CAST(COUNT(*) - SUM(churned) AS DOUBLE) AS n_neg
    FROM deciles
), per AS (
    SELECT decile, CAST(SUM(churned) AS BIGINT) AS pos,
           CAST(COUNT(*) - SUM(churned) AS BIGINT) AS neg
    FROM deciles GROUP BY decile
)
SELECT decile,
       FLOOR(SUM(pos) OVER (ORDER BY decile) / tot.n_pos * 1000000 + 0.5)
           / 1000000 AS tpr,
       FLOOR(SUM(neg) OVER (ORDER BY decile) / tot.n_neg * 1000000 + 0.5)
           / 1000000 AS fpr
FROM per, tot
""",
)
def ml_roc_points(spark, sf_dir):
    """ROC curve points at risk-decile thresholds — the operating-point
    readout between ml_auc_exact (one number) and ml_confusion_matrix
    (one threshold): cumulative TPR/FPR as the cut sweeps down the
    ranked deciles. The decile assignment is the same int64 ordering
    ml_lift_gains uses (user_id tiebreak makes NTILE deterministic);
    counts stay integers until the two final quantized divisions. 10
    rows out at any scale."""
    s = _rec_scored(spark, sf_dir)
    wd = Window.orderBy(F.desc("rec"), F.asc("user_id"))
    deciles = s.select("churned", F.ntile(10).over(wd).alias("decile"))
    per = ckpt(
        deciles.groupBy("decile")
        .agg(
            F.sum("churned").cast("bigint").alias("pos"),
            (F.count(F.lit(1)) - F.sum("churned")).cast("bigint").alias("neg"),
        )
    )
    wc = Window.orderBy("decile")
    return (
        with_stats(
            per,
            F.sum("pos").cast("double").alias("n_pos"),
            F.sum("neg").cast("double").alias("n_neg"),
        )
        .select(
            "decile",
            qround(F.sum("pos").over(wc) / F.col("n_pos")).alias("tpr"),
            qround(F.sum("neg").over(wc) / F.col("n_neg")).alias("fpr"),
        )
    )


@register(
    "ml_fairness_metrics",
    oracle=f"""
WITH {_REC_SQL},
mx AS (SELECT GREATEST(MAX(rec), 1) AS maxrec FROM s),
pred AS (
    SELECT c.c_mktsegment AS segment, s.churned,
           CASE WHEN 2 * s.rec >= mx.maxrec THEN 1 ELSE 0 END AS predicted
    FROM s JOIN customer c ON c.c_custkey = s.user_id, mx
),
seg AS (
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(predicted) AS BIGINT) AS n_flagged,
           CAST(SUM(CASE WHEN predicted = 1 AND churned = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(churned) AS BIGINT) AS pos
    FROM pred GROUP BY 1
),
g AS (
    SELECT CAST(SUM(n_flagged) AS DOUBLE) / SUM(n) AS g_rate FROM seg
)
SELECT segment, n, n_flagged,
       FLOOR(CAST(n_flagged AS DOUBLE) / n * 1000000 + 0.5) / 1000000 AS flag_rate,
       FLOOR((CAST(n_flagged AS DOUBLE) / n - g.g_rate) * 1000000 + 0.5) / 1000000 AS parity_gap,
       FLOOR(CASE WHEN pos > 0 THEN CAST(tp AS DOUBLE) / pos ELSE 0 END
             * 1000000 + 0.5) / 1000000 AS tpr
FROM seg, g
""",
)
def ml_fairness_metrics(spark, sf_dir):
    """Group fairness readout for the churn classifier — per-segment
    flag rate, demographic-parity gap vs the global rate, and
    equal-opportunity TPR, the audit every production scorer ships
    next to its accuracy numbers. Reuses ml_confusion_matrix's exact
    integer decision boundary (2·rec ≥ max rec); one label join
    (customer dim broadcast) + one bounded per-segment aggregate; all
    rates are integer ratios quantized half-up at 1e-6. O(segments)
    rows at any scale."""
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    pred = (
        _rec_scored(spark, sf_dir)
        .join(F.broadcast(cust), "user_id")
        .select(
            "segment",
            "churned",
            F.when(2 * F.col("rec") >= F.col("maxrec"), 1).otherwise(0).alias("predicted"),
        )
    )
    seg = ckpt(
        pred.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("predicted").cast("bigint").alias("n_flagged"),
            F.sum(((F.col("predicted") == 1) & (F.col("churned") == 1)).cast("long"))
            .cast("bigint")
            .alias("tp"),
            F.sum("churned").cast("bigint").alias("pos"),
        )
    )
    g_rate = (F.sum("n_flagged").cast("double") / F.sum("n")).alias("g_rate")
    return with_stats(seg, g_rate).select(
        "segment",
        "n",
        "n_flagged",
        qround(F.col("n_flagged").cast("double") / F.col("n")).alias("flag_rate"),
        qround(F.col("n_flagged").cast("double") / F.col("n") - F.col("g_rate")).alias(
            "parity_gap"
        ),
        qround(
            F.when(F.col("pos") > 0, F.col("tp").cast("double") / F.col("pos")).otherwise(
                0.0
            )
        ).alias("tpr"),
    )


@register(
    "ml_pr_auc_decile",
    oracle=f"""
WITH {_REC_SQL},
deciles AS (
    SELECT churned, NTILE(10) OVER (ORDER BY rec DESC, user_id) AS decile
    FROM s
), per AS (
    SELECT decile, CAST(SUM(churned) AS BIGINT) AS pos, CAST(COUNT(*) AS BIGINT) AS n
    FROM deciles GROUP BY decile
), cum AS (
    SELECT decile,
           CAST(SUM(pos) OVER (ORDER BY decile) AS DOUBLE) AS cpos,
           CAST(SUM(n) OVER (ORDER BY decile) AS DOUBLE) AS cn,
           CAST(SUM(pos) OVER () AS DOUBLE) AS npos
    FROM per
), steps AS (
    SELECT FLOOR((cpos - COALESCE(LAG(cpos) OVER (ORDER BY decile), 0)) / npos
                 * (cpos / cn) * 1000000000 + 0.5) / 1000000000 AS term
    FROM cum
)
SELECT CAST((SELECT SUM(churned) FROM s) AS BIGINT) AS n_pos,
       FLOOR(CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS pr_auc
FROM steps
""",
)
def ml_pr_auc_decile(spark, sf_dir):
    """Precision-recall AUC at decile resolution — the right headline
    metric under class imbalance, where ROC-AUC flatters: step-wise
    AP = Σ ΔRecall_k · Precision_k over the ranked risk deciles (same
    deterministic NTILE as ml_lift_gains/ml_roc_points). Integer
    cumulative counts, per-step terms quantized at 1e-9 and DECIMAL-
    summed, result at 1e-6. O(1) output at any scale."""
    s = _rec_scored(spark, sf_dir)
    wd = Window.orderBy(F.desc("rec"), F.asc("user_id"))
    per = (
        s.select("churned", F.ntile(10).over(wd).alias("decile"))
        .groupBy("decile")
        .agg(
            F.sum("churned").cast("bigint").alias("pos"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    wc = Window.orderBy("decile")
    wall = Window.partitionBy()
    cum = per.select(
        "decile",
        F.sum("pos").over(wc).cast("double").alias("cpos"),
        F.sum("n").over(wc).cast("double").alias("cn"),
        F.sum("pos").over(wall).cast("double").alias("npos"),
    )
    term = qround(
        (F.col("cpos") - F.coalesce(F.lag("cpos").over(wc), F.lit(0.0)))
        / F.col("npos")
        * (F.col("cpos") / F.col("cn")),
        9,
    )
    return cum.select(term.alias("term"), "npos").agg(
        F.max("npos").cast("bigint").alias("n_pos"),
        qround(dsum(F.col("term"), 12)).alias("pr_auc"),
    )


@register(
    "ml_ece",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (SELECT MAX(last_ts) AS cmax FROM u),
s AS (
    SELECT user_id, last_ts, epoch_us(m.cmax) - epoch_us(last_ts) AS rec FROM u, m
), mx AS (SELECT GREATEST(MAX(rec), 1) AS maxrec FROM s),
scored AS (
    SELECT CAST(rec AS DOUBLE) / maxrec AS score,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS churned
    FROM s, mx
), bins AS (
    SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           FLOOR(AVG(score) * 1000000 + 0.5) / 1000000 AS mean_score,
           FLOOR(AVG(churned) * 1000000 + 0.5) / 1000000 AS churn_rate
    FROM scored GROUP BY 1
)
SELECT CAST(SUM(n_users) AS BIGINT) AS n_total,
       CAST(COUNT(*) AS BIGINT) AS n_bins,
       FLOOR(CAST(SUM(CAST(n_users * ABS(churn_rate - mean_score)
                           AS DECIMAL(38,12))) AS DOUBLE)
             / SUM(n_users) * 1000000 + 0.5) / 1000000 AS ece
FROM bins
""",
)
def ml_ece(spark, sf_dir):
    """Expected calibration error — the scalar summary of
    ml_calibration_bins' reliability diagram: Σ (n_b/N)·|observed −
    predicted| over the score deciles. Computed from the SAME
    1e-6-quantized bin means as the bins op (so the two readouts can
    never disagree), weighted in DECIMAL for order-independence. One
    number at any scale; the threshold a serving gate alarms on."""
    bins = ml_calibration_bins(spark, sf_dir)
    return bins.agg(
        F.sum("n_users").cast("bigint").alias("n_total"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        qround(
            dsum(
                F.col("n_users") * F.abs(F.col("churn_rate") - F.col("mean_score")), 12
            )
            / F.sum("n_users")
        ).alias("ece"),
    )


@register(
    "ml_isotonic_pav",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (
    SELECT MAX(last_ts) AS cmax FROM u
), s AS (
    SELECT user_id, last_ts, epoch_us(m.cmax) - epoch_us(last_ts) AS rec
    FROM u, m
), mx AS (
    SELECT GREATEST(MAX(rec), 1) AS maxrec FROM s
), scored AS (
    SELECT CAST(rec AS DOUBLE) / maxrec AS score,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS churned
    FROM s, mx
), bins AS (
    SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(churned) AS BIGINT) AS c
    FROM scored GROUP BY 1
), cum AS (
    SELECT bin, n, c,
           SUM(n) OVER (ORDER BY bin) AS w_cum,
           SUM(c) OVER (ORDER BY bin) AS s_cum
    FROM bins
), segs AS (
    SELECT j.bin AS jbin, k.bin AS kbin,
           CAST(k.s_cum - (j.s_cum - j.c) AS DOUBLE)
               / CAST(k.w_cum - (j.w_cum - j.n) AS DOUBLE) AS seg_mean
    FROM cum j JOIN cum k ON j.bin <= k.bin
), lower_env AS (
    SELECT b.bin, g.jbin, MIN(g.seg_mean) AS mn
    FROM cum b JOIN segs g ON g.jbin <= b.bin AND g.kbin >= b.bin
    GROUP BY 1, 2
)
SELECT le.bin, cu.n AS n_users,
       ROUND(CAST(cu.c AS DOUBLE) / cu.n, 6) AS raw_rate,
       ROUND(MAX(le.mn), 6) AS iso_rate
FROM lower_env le JOIN cum cu ON cu.bin = le.bin
GROUP BY le.bin, cu.n, cu.c
""",
)
def ml_isotonic_pav(spark, sf_dir):
    """Isotonic (PAV) calibration of the churn-risk reliability curve.
    Platt/raw decile rates can be non-monotone out of a reliability
    diagram; production calibration fits the isotonic regression
    iso(i) = max_{j<=i} min_{k>=i} wmean(rate, j..k) — the pooled-
    adjacent-violators solution expressed in its closed minimax form,
    which is pure relational algebra over the BINNED summary: with B
    bins there are B(B+1)/2 segments, so the fit costs O(B^2) rows on
    a ~10-row table regardless of corpus size. That is the 100 TB
    shape: the only full-data pass is the decile binning (one shuffle,
    map-side combined); the sequential-looking PAV sweep never touches
    row-level data. Numeric parity is exact — segment means are
    int64/int64 divisions and min/max over them, identical in both
    engines. The score is the same deterministic recency score as
    ml_calibration_bins (integer microsecond arithmetic)."""
    scored = _rec_scored(spark, sf_dir).select(
        (F.col("rec").cast("double") / F.col("maxrec")).alias("score"), "churned"
    )
    bins = ckpt(
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("bigint").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("churned").cast("bigint").alias("c"),
        )
    )
    # Global-order window over the bounded bin summary: <= 10 rows, so the
    # single-partition sort is a non-issue (never applied to row-level data).
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = bins.select(
        "bin", "n", "c",
        F.sum("n").over(wcum).alias("w_cum"),
        F.sum("c").over(wcum).alias("s_cum"),
    )
    j = cum.select(
        F.col("bin").alias("jbin"),
        (F.col("s_cum") - F.col("c")).alias("s_lo"),
        (F.col("w_cum") - F.col("n")).alias("w_lo"),
    )
    k = cum.select(
        F.col("bin").alias("kbin"),
        F.col("s_cum").alias("s_hi"),
        F.col("w_cum").alias("w_hi"),
    )
    segs = (
        j.join(k, F.col("jbin") <= F.col("kbin"))
        .select(
            "jbin",
            "kbin",
            (
                (F.col("s_hi") - F.col("s_lo")).cast("double")
                / (F.col("w_hi") - F.col("w_lo")).cast("double")
            ).alias("seg_mean"),
        )
    )
    lower_env = (
        cum.select("bin", "n", "c")
        .join(
            segs,
            (F.col("jbin") <= F.col("bin")) & (F.col("kbin") >= F.col("bin")),
        )
        .groupBy("bin", "n", "c", "jbin")
        .agg(F.min("seg_mean").alias("mn"))
    )
    return (
        lower_env.groupBy("bin", "n", "c")
        .agg(F.round(F.max("mn"), 6).alias("iso_rate"))
        .select(
            "bin",
            F.col("n").alias("n_users"),
            F.round(F.col("c").cast("double") / F.col("n"), 6).alias("raw_rate"),
            "iso_rate",
        )
    )


@register(
    "ml_bootstrap_metric_ci",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), lab AS (
    SELECT user_id,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END
               AS churned
    FROM u
), reps AS (SELECT unnest(range(0, 16)) AS b),
w AS (
    SELECT l.user_id, l.churned, l.b,
           CASE
             WHEN uv < 0.367879441 THEN 0
             WHEN uv < 0.735758882 THEN 1
             WHEN uv < 0.919698603 THEN 2
             WHEN uv < 0.981011843 THEN 3
             WHEN uv < 0.996340153 THEN 4
             ELSE 5
           END AS wt
    FROM (
        SELECT user_id, churned, b,
               CAST(('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':' ||
                                           CAST(b AS VARCHAR)), 1, 6))::BIGINT
                    % 1000000 AS DOUBLE) / 1000000 AS uv
        FROM lab, reps
    ) l
), rates AS (
    SELECT b,
           CAST(SUM(wt * churned) AS DOUBLE) / SUM(wt) AS rate
    FROM w GROUP BY b
), rq AS (
    SELECT b, CAST(FLOOR(rate * 1e12 + 0.5) AS DECIMAL(38,12)) / 1e12 AS r FROM rates
), mstats AS (
    SELECT CAST(SUM(CAST(r AS DECIMAL(38,12))) AS DOUBLE) / 16 AS m FROM rq
), sstats AS (
    SELECT CAST(SUM(CAST(FLOOR((CAST(r AS DOUBLE) - m) * (CAST(r AS DOUBLE) - m) * 1e12 + 0.5)
                         AS DECIMAL(38,12))) AS DOUBLE) / 1e12 / 15 AS var
    FROM rq, mstats
), point AS (
    SELECT CAST(SUM(churned) AS DOUBLE) / COUNT(*) AS p FROM lab
)
SELECT ROUND(p, 6) AS point_rate,
       ROUND(m, 6) AS boot_mean,
       ROUND(m - 1.96 * sqrt(var), 6) AS ci_lo,
       ROUND(m + 1.96 * sqrt(var), 6) AS ci_hi
FROM point, mstats, sstats
""",
)
def ml_bootstrap_metric_ci(spark, sf_dir):
    """Bootstrap confidence interval for the churn-rate metric — the
    error bar every model-eval readout should carry. The classical
    resample-with-replacement is reframed for a distributed engine as
    the POISSON BOOTSTRAP (Chamandy et al.'s production formulation):
    each of 16 replicas assigns every user a deterministic
    Poisson(1)-distributed weight from an inverse-CDF lookup on a
    per-(user, replica) md5 hash, so the 'resampling' is a narrow
    16-way fan-out (no shuffle of the fact table, no actual sampling
    pass per replica) aggregated in ONE keyed groupBy. Every quantity
    is exact: integer weight sums, one double division per replica,
    replica rates quantized to 1e-12 and decimal-summed for the
    mean/variance — both engines walk bit-identical numbers into the
    final ±1.96·sd interval. At 100 TB the per-user label table is the
    only state and replica count scales the fan-out linearly."""
    e = t(spark, sf_dir, "events")
    lab = ckpt(  # feeds the point estimate AND 16 replicas
        e.groupBy("user_id").agg(churn.churned(F.max("ts")).alias("churned"))
    )
    reps = spark.range(0, 16).select(F.col("id").cast("bigint").alias("b"))
    uv = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("user_id").cast("string"),
                        F.lit(":"),
                        F.col("b").cast("string"),
                    )
                ),
                1,
                6,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    ).cast("double") / 1000000
    wt = (
        F.when(F.col("uv") < 0.367879441, 0)
        .when(F.col("uv") < 0.735758882, 1)
        .when(F.col("uv") < 0.919698603, 2)
        .when(F.col("uv") < 0.981011843, 3)
        .when(F.col("uv") < 0.996340153, 4)
        .otherwise(5)
    )
    w = lab.crossJoin(F.broadcast(reps)).withColumn("uv", uv).withColumn("wt", wt)
    rates = w.groupBy("b").agg(
        (
            F.sum(F.col("wt") * F.col("churned")).cast("double") / F.sum("wt")
        ).alias("rate")
    )
    rq = ckpt(rates.select(
        "b",
        (
            qdec(F.col("rate"), 12)
            / F.lit(1e12)
        ).alias("r"),
    ))  # feeds mean AND variance passes
    dev = with_stats(rq, (dsum(F.col("r"), 12) / F.lit(16)).alias("m")).select(
        "m",
        qdec(
            (F.col("r").cast("double") - F.col("m"))
            * (F.col("r").cast("double") - F.col("m")),
            12,
        ).alias("sq"),
    )
    var = dev.groupBy("m").agg(
        (F.sum("sq").cast("double") / F.lit(1e12) / F.lit(15)).alias("var")
    )
    point = lab.agg(
        (F.sum("churned").cast("double") / F.count(F.lit(1))).alias("p")
    )
    return (
        point.crossJoin(F.broadcast(var))
        .select(
            F.round("p", 6).alias("point_rate"),
            F.round("m", 6).alias("boot_mean"),
            F.round(F.col("m") - 1.96 * F.sqrt("var"), 6).alias("ci_lo"),
            F.round(F.col("m") + 1.96 * F.sqrt("var"), 6).alias("ci_hi"),
        )
    )


@register(
    "ml_drift_jsd",
    oracle="""
WITH halves AS (
    SELECT event_type,
           CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 0 ELSE 1 END AS half
    FROM events
), counts AS (
    SELECT event_type,
           SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS n_p,
           SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS n_q
    FROM halves GROUP BY event_type
), tot AS (
    SELECT SUM(n_p) AS tp, SUM(n_q) AS tq FROM counts
), probs AS (
    SELECT event_type,
           CAST(n_p AS DOUBLE) / tp AS p,
           CAST(n_q AS DOUBLE) / tq AS q
    FROM counts, tot
), terms AS (
    SELECT event_type,
           CAST(FLOOR((CASE WHEN p > 0 THEN 0.5 * p * log2(p / ((p + q) / 2)) ELSE 0 END
                     + CASE WHEN q > 0 THEN 0.5 * q * log2(q / ((p + q) / 2)) ELSE 0 END)
                      * 1e9 + 0.5) AS DECIMAL(38,9)) / 1e9 AS term
    FROM probs
)
SELECT ROUND(CAST(SUM(CAST(term AS DECIMAL(38,9))) AS DOUBLE), 6) AS jsd,
       CAST(COUNT(*) AS BIGINT) AS n_categories
FROM terms
""",
)
def ml_drift_jsd(spark, sf_dir):
    """Jensen-Shannon divergence between the first and second half of
    the window's event-type mix — the bounded, symmetric drift metric
    (0 = identical mixes, 1 bit = disjoint) monitoring pipelines pair
    with PSI (ml_psi): JSD stays finite when a category vanishes,
    exactly where PSI's log-ratio blows up. Probabilities are exact
    int/int ratios, each category's term is quantized to 1e-9 and
    decimal-summed, so both engines add identical quantities — the
    only float op is log2 on bit-identical doubles. One groupBy on the
    fact table + a broadcast 2-scalar total; category cardinality
    bounds everything downstream."""
    e = t(spark, sf_dir, "events")
    counts = ckpt(e.groupBy("event_type").agg(
        F.sum(
            (F.col("ts") < F.to_timestamp(F.lit("2024-01-16 00:00:00"))).cast("long")
        ).alias("n_p"),
        F.sum(
            (F.col("ts") >= F.to_timestamp(F.lit("2024-01-16 00:00:00"))).cast("long")
        ).alias("n_q"),
    ))  # feeds the totals scalar AND the terms
    probs = with_stats(
        counts,
        F.sum("n_p").alias("tp"),
        F.sum("n_q").alias("tq"),
    ).select(
        (F.col("n_p").cast("double") / F.col("tp")).alias("p"),
        (F.col("n_q").cast("double") / F.col("tq")).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    term_raw = (
        F.when(F.col("p") > 0, 0.5 * F.col("p") * F.log2(F.col("p") / m)).otherwise(0.0)
        + F.when(F.col("q") > 0, 0.5 * F.col("q") * F.log2(F.col("q") / m)).otherwise(0.0)
    )
    terms = probs.select(
        (
            qdec(term_raw, 9) / F.lit(1e9)
        ).alias("term")
    )
    return terms.agg(
        F.round(dsum(F.col("term"), 9), 6).alias("jsd"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
    )


@register(
    "ml_pinball_loss",
    oracle="""
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM events GROUP BY 1, 2
), paired AS (
    SELECT event_type, d, y,
           LAG(y, 7) OVER (PARTITION BY event_type ORDER BY d) AS yhat
    FROM daily
), taus AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS tau),
losses AS (
    SELECT p.event_type, t.tau,
           CASE WHEN p.y >= p.yhat THEN t.tau * (p.y - p.yhat)
                ELSE (t.tau - 1) * (p.y - p.yhat) END AS l
    FROM paired p, taus t WHERE p.yhat IS NOT NULL
)
SELECT event_type, tau,
       ROUND(CAST(SUM(CAST(FLOOR(l * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 / COUNT(*), 6) AS pinball,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM losses GROUP BY 1, 2
""",
)
def ml_pinball_loss(spark, sf_dir):
    """Pinball (quantile) loss of the seasonal-naive baseline — the
    metric that makes quantile forecasts comparable: τ-weighted
    asymmetric error, here at τ = 0.5 / 0.9 for a lag-7 forecast of
    per-type daily totals. This is the yardstick ts_holt_forecast /
    ts_theta_forecast improvements must beat, and seasonal-naive is
    the canonical no-skill reference. Exact parity: daily totals ride
    DECIMAL sums, forecast = a 7-lag window (no arithmetic at all),
    each loss term is one branch + multiply on identical doubles,
    quantized 1e-6 into the decimal mean. One day-grain shuffle, one
    per-type window, a 2-way τ fan-out on the tiny summary."""
    e = t(spark, sf_dir, "events")
    daily = by_day(e, "event_type").agg(dsum(F.col("value")).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    paired = daily.withColumn("yhat", F.lag("y", 7).over(w)).filter(
        F.col("yhat").isNotNull()
    )
    taus = spark.range(0, 2).select(
        F.when(F.col("id") == 0, F.lit(0.5)).otherwise(F.lit(0.9)).alias("tau")
    )
    losses = paired.crossJoin(F.broadcast(taus)).select(
        "event_type",
        "tau",
        F.when(
            F.col("y") >= F.col("yhat"), F.col("tau") * (F.col("y") - F.col("yhat"))
        )
        .otherwise((F.col("tau") - 1) * (F.col("y") - F.col("yhat")))
        .alias("l"),
    )
    return losses.groupBy("event_type", "tau").agg(
        F.round(
            qsum(F.col("l"))
            / F.count(F.lit(1)),
            6,
        ).alias("pinball"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )


@register(
    "ml_auc_delong_se",
    oracle=f"""
WITH {_REC_SQL},
per_score AS (
    SELECT rec, COUNT(*) AS n, SUM(churned) AS pos, COUNT(*) - SUM(churned) AS neg
    FROM s GROUP BY rec
), ranked AS (
    SELECT rec, n, pos, neg,
           COALESCE(SUM(neg) OVER (ORDER BY rec ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING), 0) AS cumneg_before,
           COALESCE(SUM(pos) OVER (ORDER BY rec ROWS BETWEEN 1 FOLLOWING
                                   AND UNBOUNDED FOLLOWING), 0) AS cumpos_after
    FROM per_score
), tot AS (
    SELECT CAST(SUM(pos) AS DOUBLE) AS m, CAST(SUM(neg) AS DOUBLE) AS nn
    FROM per_score
), placed AS (
    SELECT r.pos, r.neg,
           (r.cumneg_before + 0.5 * r.neg) / t.nn AS v10,
           (r.cumpos_after + 0.5 * r.pos) / t.m AS v01
    FROM ranked r, tot t
), auc AS (
    SELECT CAST(SUM(CAST(FLOOR(pos * v10 * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 / t2.m AS a,
           t2.m AS m, t2.nn AS nn
    FROM placed, tot t2 GROUP BY t2.m, t2.nn
), vars AS (
    SELECT a, m, nn,
           CAST(SUM(CAST(FLOOR(pos * (v10 - a) * (v10 - a) * 1e12 + 0.5)
                         AS DECIMAL(38,12))) AS DOUBLE) / 1e12 / NULLIF(m - 1, 0) AS s10,
           CAST(SUM(CAST(FLOOR(neg * (v01 - a) * (v01 - a) * 1e12 + 0.5)
                         AS DECIMAL(38,12))) AS DOUBLE) / 1e12 / NULLIF(nn - 1, 0) AS s01
    FROM placed, auc GROUP BY a, m, nn
)
SELECT CAST(m AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
       ROUND(a, 6) AS auc,
       ROUND(sqrt(s10 / m + s01 / nn), 6) AS se_delong
FROM vars
""",
)
def ml_auc_delong_se(spark, sf_dir):
    """DeLong standard error for the exact AUC — the number that turns
    'AUC went from 0.71 to 0.72' into a decision: Var(AUC) = S₁₀/m +
    S₀₁/n from the placement values (V₁₀ per positive = fraction of
    negatives it outranks, tie-halved; V₀₁ symmetric). The group-by-
    score trick makes DeLong O(distinct scores) instead of the naive
    O(mn): every observation at one score shares one placement value,
    so two cumulative windows over the score-level table (negatives
    before, positives after) produce every placement, and the
    variances are weighted moments of that table. Placement ratios are
    int/int doubles; every weighted term is 1e-12-quantized into
    DECIMAL accumulation — bit-identical across engines. The same
    shape streams: the score histogram is the only state."""
    s = _rec_scored(spark, sf_dir)
    per = s.groupBy("rec").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("churned").alias("pos"),
        (F.count(F.lit(1)) - F.sum("churned")).alias("neg"),
    )
    wb = Window.orderBy("rec").rowsBetween(Window.unboundedPreceding, -1)
    wa = Window.orderBy("rec").rowsBetween(1, Window.unboundedFollowing)
    ranked = ckpt(per.select(
        "pos",
        "neg",
        F.coalesce(F.sum("neg").over(wb), F.lit(0)).alias("cumneg_before"),
        F.coalesce(F.sum("pos").over(wa), F.lit(0)).alias("cumpos_after"),
    ))  # feeds totals, AUC, and both variance passes
    placed = ckpt(with_stats(
        ranked,
        F.sum("pos").cast("double").alias("m"),
        F.sum("neg").cast("double").alias("nn"),
    ).select(
        "pos",
        "neg",
        ((F.col("cumneg_before") + 0.5 * F.col("neg")) / F.col("nn")).alias("v10"),
        ((F.col("cumpos_after") + 0.5 * F.col("pos")) / F.col("m")).alias("v01"),
        "m",
        "nn",
    ))
    auc = placed.agg(
        (
            qsum(F.col("pos") * F.col("v10"), 12)
            / F.max("m")
        ).alias("a"),
        F.max("m").alias("m"),
        F.max("nn").alias("nn"),
    )
    vars_ = (
        placed.crossJoin(F.broadcast(auc.select("a")))
        .agg(
            F.first(F.col("a")).alias("a"),
            F.max("m").alias("m"),
            F.max("nn").alias("nn"),
            (
                qsum(
                    F.col("pos") * (F.col("v10") - F.col("a")) * (F.col("v10") - F.col("a")),
                    12,
                )
                / F.nullif((F.max("m") - 1).cast("double"), F.lit(0.0))
            ).alias("s10"),
            (
                qsum(
                    F.col("neg") * (F.col("v01") - F.col("a")) * (F.col("v01") - F.col("a")),
                    12,
                )
                / F.nullif((F.max("nn") - 1).cast("double"), F.lit(0.0))
            ).alias("s01"),
        )
    )
    return vars_.select(
        F.col("m").cast("bigint").alias("n_pos"),
        F.col("nn").cast("bigint").alias("n_neg"),
        F.round("a", 6).alias("auc"),
        F.round(F.sqrt(F.col("s10") / F.col("m") + F.col("s01") / F.col("nn")), 6).alias(
            "se_delong"
        ),
    )


@register(
    "ml_propensity_match",
    oracle="""
WITH u AS (
    SELECT user_id, COUNT(*) AS n_events, MAX(ts) AS last_ts,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS outcome
    FROM events GROUP BY user_id
), lab AS (
    SELECT user_id, n_events, outcome,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END
               AS treated
    FROM u
), pairs AS (
    SELECT t.user_id AS treated_id, c.user_id AS control_id,
           ABS(t.n_events - c.n_events) AS dist,
           t.outcome AS y_t, c.outcome AS y_c,
           ROW_NUMBER() OVER (PARTITION BY t.user_id
                              ORDER BY ABS(t.n_events - c.n_events), c.user_id) AS rn
    FROM lab t JOIN lab c
      ON c.treated = 0 AND ABS(t.n_events - c.n_events) <= 2
    WHERE t.treated = 1
), matched AS (
    SELECT * FROM pairs WHERE rn = 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_matched,
       ROUND(CAST(SUM(CAST(FLOOR((y_t - y_c) * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 / COUNT(*), 6) AS att,
       CAST(SUM(dist) AS BIGINT) AS total_dist
FROM matched
""",
)
def ml_propensity_match(spark, sf_dir):
    """Caliper matching + ATT — the causal-inference primitive behind
    'did churners differ in spend, holding activity constant': every
    treated (churned) user is matched to its nearest control by
    activity level (|Δ n_events| ≤ 2 caliper, deterministic ties on
    user id), and the average treated-minus-control outcome gap is the
    ATT estimate. The scalable form is a BAND JOIN on the integer
    score (the caliper bounds fan-in to ±2 score buckets — at 100 TB
    you'd pre-bucket by score and join bucket-to-adjacent-buckets,
    identical semantics) followed by a per-treated rank. Matching
    WITH replacement (standard for ATT) keeps it embarrassingly
    parallel — no sequential greedy pass. Integer distances, decimal-
    quantized outcome gaps: exact twin."""
    e = t(spark, sf_dir, "events")
    u = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max("ts").alias("last_ts"),
        dsum(F.col("value")).alias("outcome"),
    )
    lab = ckpt(u.select(
        "user_id",
        "n_events",
        "outcome",
        churn.churned(F.col("last_ts")).alias("treated"),
    ))  # feeds both sides of the match join
    tr = lab.filter(F.col("treated") == 1).select(
        F.col("user_id").alias("treated_id"),
        F.col("n_events").alias("ne_t"),
        F.col("outcome").alias("y_t"),
    )
    ct = lab.filter(F.col("treated") == 0).select(
        F.col("user_id").alias("control_id"),
        F.col("n_events").alias("ne_c"),
        F.col("outcome").alias("y_c"),
    )
    # Caliper as an EQUI-join: each treated row probes the 5 integer
    # score buckets |Δ| ≤ 2 via a bounded explode — never a cartesian
    # (plan-asserted in tests/test_plans.py). This is the pre-bucketed
    # form the docstring's 100 TB note describes, implemented, not
    # promised.
    probes = tr.select(
        "treated_id",
        "ne_t",
        "y_t",
        F.explode(F.expr("sequence(ne_t - 2, ne_t + 2)")).alias("ne_c"),
    )
    pairs = probes.join(ct, "ne_c").withColumn(
        "dist", F.abs(F.col("ne_t") - F.col("ne_c"))
    )
    w = Window.partitionBy("treated_id").orderBy("dist", "control_id")
    matched = pairs.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return matched.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_matched"),
        F.round(
            qsum(F.col("y_t") - F.col("y_c"))
            / F.count(F.lit(1)),
            6,
        ).alias("att"),
        F.sum("dist").cast("bigint").alias("total_dist"),
    )


@register(
    "ml_diff_in_diff",
    oracle="""
WITH firsts AS (
    SELECT user_id,
           CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                THEN 1 ELSE 0 END AS treated
    FROM events GROUP BY user_id
), cells AS (
    SELECT f.treated,
           CASE WHEN e.ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS post,
           CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS total,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events e JOIN firsts f ON e.user_id = f.user_id
    GROUP BY 1, 2
), means AS (
    SELECT treated, post, total / n AS m FROM cells
)
SELECT ROUND(t1.m - t0.m - (c1.m - c0.m), 6) AS did_estimate,
       ROUND(t1.m - t0.m, 6) AS treated_delta,
       ROUND(c1.m - c0.m, 6) AS control_delta
FROM (SELECT m FROM means WHERE treated = 1 AND post = 1) t1,
     (SELECT m FROM means WHERE treated = 1 AND post = 0) t0,
     (SELECT m FROM means WHERE treated = 0 AND post = 1) c1,
     (SELECT m FROM means WHERE treated = 0 AND post = 0) c0
""",
)
def ml_diff_in_diff(spark, sf_dir):
    """Difference-in-differences — the workhorse quasi-experimental
    estimate when treatment wasn't randomized: heavy purchasers (≥14
    purchase events — a loyalty-program stand-in that splits the
    fixture population at every scale; the original ever-signed-up
    flag was degenerate, every user has a signup, so the control cells
    were empty and the op returned zero rows) vs the rest, mean event
    value before vs after the window midpoint; DiD = Δtreated −
    Δcontrol nets out both the group baseline and the common time
    trend. The whole estimator is
    FOUR cell means: one user-grain pass for treatment flags (joined
    back on the user key), one 2×2 aggregate — decimal-exact totals,
    int counts, three subtractions. The parallel-trends caveat is the
    analyst's, not the engine's; the engine's job is cells that are
    exactly right at any scale, which two keyed aggregates deliver."""
    e = t(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 14
        ).cast("int").alias("treated")
    )
    cells = ckpt(  # feeds all four cell lookups
        e.join(firsts, "user_id")
        .groupBy(
            "treated",
            (F.col("ts") >= F.to_timestamp(F.lit("2024-01-16 00:00:00")))
            .cast("int")
            .alias("post"),
        )
        .agg(
            (
                dsum(F.col("value"))
                / F.count(F.lit(1))
            ).alias("m")
        )
    )
    pick = lambda tr, po: cells.filter(
        (F.col("treated") == tr) & (F.col("post") == po)
    ).select(F.col("m").alias(f"m{tr}{po}"))
    j = (
        pick(1, 1)
        .crossJoin(F.broadcast(pick(1, 0)))
        .crossJoin(F.broadcast(pick(0, 1)))
        .crossJoin(F.broadcast(pick(0, 0)))
    )
    return j.select(
        F.round(
            (F.col("m11") - F.col("m10")) - (F.col("m01") - F.col("m00")), 6
        ).alias("did_estimate"),
        F.round(F.col("m11") - F.col("m10"), 6).alias("treated_delta"),
        F.round(F.col("m01") - F.col("m00"), 6).alias("control_delta"),
    )


def _tenure(spark, sf_dir, *aggs, hours=True):
    """The survival frame: per user, ``user_id``, the ``tenure`` from
    first to last event, the censor flag ``churned`` and the per-user
    ``aggs``. By default tenure is in whole hours and a user churned
    when their last event is more than 12 h before the horizon (the
    fixture users are active to within ~2 days of the horizon, so
    day-grain censoring would leave ZERO churn events at sf0.01); with
    ``hours=False`` it is in whole calendar days with a 3-day cut. The
    horizon is the max of the per-user maxima, NOT a second scan of the
    fact table, and the per-user table is materialized once because it
    feeds both the horizon and the tenure rows."""
    e = t(spark, sf_dir, "events")
    per_user = ckpt(e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"), F.max("ts").alias("last_ts"), *aggs
    ))
    if hours:
        tenure = F.floor(
            F.expr("timestampdiff(MICROSECOND, first_ts, last_ts)") / F.lit(3600000000)
        )
        cut = F.expr("INTERVAL 12 HOUR")
    else:
        tenure = F.datediff(day_of("last_ts"), day_of("first_ts"))
        cut = F.expr("INTERVAL 3 DAY")
    return with_stats(per_user, F.max("last_ts").alias("hz")).select(
        "user_id",
        tenure.alias("tenure"),
        F.when(F.col("last_ts") < F.col("hz") - cut, 1).otherwise(0).alias("churned"),
        *per_user.columns[3:],
    )


def _km_risk(users):
    """(day_n, d, n_risk): the Kaplan-Meier risk table of a tenure frame
    from :func:`_tenure` — the churns ``d`` at each tenure ``day_n`` and
    the users still at risk there (all users minus those whose tenure
    ended earlier). The tenure histogram is materialized once: it feeds
    the total AND the risk window."""
    daily = ckpt(users.groupBy(F.col("tenure").alias("day_n")).agg(
        F.sum("churned").alias("d"),
        (F.count(F.lit(1)) - F.sum("churned")).alias("c"),
    ))
    wb = Window.orderBy("day_n").rowsBetween(Window.unboundedPreceding, -1)
    gone = F.coalesce(F.sum(F.col("d") + F.col("c")).over(wb), F.lit(0))
    return with_stats(daily, F.sum(F.col("d") + F.col("c")).alias("n0")).select(
        "day_n", "d", (F.col("n0") - gone).alias("n_risk")
    )


@register(
    "ml_km_greenwood",
    oracle="""
WITH horizon AS (SELECT MAX(ts) AS h FROM events),
users AS (
    SELECT e.user_id,
           date_diff('day', CAST(MIN(e.ts) AS DATE), CAST(MAX(e.ts) AS DATE)) AS t_days,
           CASE WHEN MAX(e.ts) < MAX(horizon.h) - INTERVAL 3 DAY THEN 1 ELSE 0 END
               AS churned
    FROM events e, horizon GROUP BY e.user_id
), daily AS (
    SELECT t_days AS day_n,
           SUM(churned) AS d,
           COUNT(*) - SUM(churned) AS c
    FROM users GROUP BY t_days
), tot AS (SELECT COUNT(*) AS n0 FROM users),
risk AS (
    SELECT day_n, d, c,
           n0 - COALESCE(SUM(d + c) OVER (ORDER BY day_n ROWS BETWEEN UNBOUNDED
                         PRECEDING AND 1 PRECEDING), 0) AS n_risk
    FROM daily, tot
), steps AS (
    SELECT day_n, d, n_risk,
           CAST(FLOOR(ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e12 + 0.5)
                AS DECIMAL(38,12)) / 1e12 AS lterm,
           CAST(FLOOR(CAST(d AS DOUBLE) / (n_risk * (n_risk - d)) * 1e12 + 0.5)
                AS DECIMAL(38,12)) / 1e12 AS gterm
    FROM risk WHERE d < n_risk
), cum AS (
    SELECT day_n, d, n_risk,
           CAST(SUM(CAST(lterm AS DECIMAL(38,12))) OVER (ORDER BY day_n
                ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS lsum,
           CAST(SUM(CAST(gterm AS DECIMAL(38,12))) OVER (ORDER BY day_n
                ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS gsum
    FROM steps
)
SELECT day_n, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS n_churn,
       ROUND(exp(lsum), 6) AS s_km,
       ROUND(exp(lsum) * sqrt(gsum), 6) AS se_greenwood
FROM cum
""",
)
def ml_km_greenwood(spark, sf_dir):
    """Kaplan-Meier WITH censoring + Greenwood error bars — the
    difference between ts_survival_curve (empirical fraction, no
    censoring) and what an actuary would sign: users still active near
    the horizon are CENSORED at their observed tenure, not counted as
    deaths, and each KM step ships its Greenwood SE, Var(S) = S²·Σ
    d/(n(n−d)). The sequential product Π(1−d/n) is relationalized as
    exp of a cumulative sum of logs — each log/Greenwood term is
    1e-12-quantized into a DECIMAL running sum over the ≤30-row daily
    table, so both engines exponentiate bit-identical accumulations.
    One user-grain aggregate is the only fact-scale pass; the whole
    estimator runs on the tenure histogram."""
    risk = _km_risk(_tenure(spark, sf_dir, hours=False))
    q12 = lambda c: (
        qdec(c, 12) / F.lit(1e12)
    )
    steps = risk.filter(F.col("d") < F.col("n_risk")).select(
        "day_n",
        "d",
        "n_risk",
        q12(F.log(1.0 - F.col("d").cast("double") / F.col("n_risk"))).alias("lterm"),
        q12(
            F.col("d").cast("double") / (F.col("n_risk") * (F.col("n_risk") - F.col("d")))
        ).alias("gterm"),
    )
    wc = Window.orderBy("day_n").rowsBetween(Window.unboundedPreceding, 0)
    cum = steps.select(
        "day_n",
        "d",
        "n_risk",
        F.sum(F.col("lterm").cast("decimal(38,12)")).over(wc).cast("double").alias("lsum"),
        F.sum(F.col("gterm").cast("decimal(38,12)")).over(wc).cast("double").alias("gsum"),
    )
    return cum.select(
        "day_n",
        F.col("n_risk").cast("bigint").alias("n_risk"),
        F.col("d").cast("bigint").alias("n_churn"),
        F.round(F.exp("lsum"), 6).alias("s_km"),
        F.round(F.exp("lsum") * F.sqrt("gsum"), 6).alias("se_greenwood"),
    )


@register(
    "ml_cuped",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00'
                         THEN 1 ELSE 0 END) AS DOUBLE) AS x,
           CAST(SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS y
    FROM events GROUP BY user_id
), mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS syy,
           CAST(SUM(CAST(FLOOR(x * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sxy
    FROM per_user
), stats AS (
    SELECT n,
           (sxx - sx * sx / n) / (n - 1) AS var_x,
           (syy - sy * sy / n) / (n - 1) AS var_y,
           (sxy - sx * sy / n) / (n - 1) AS cov_xy
    FROM mom
)
SELECT CAST(n AS BIGINT) AS n_users,
       ROUND(cov_xy / var_x, 6) AS theta,
       ROUND(var_y, 6) AS var_y,
       ROUND(var_y - cov_xy * cov_xy / var_x, 6) AS var_adjusted,
       ROUND(cov_xy * cov_xy / (var_x * var_y), 6) AS var_reduction
FROM stats
""",
)
def ml_cuped(spark, sf_dir):
    """CUPED variance reduction — the pre-experiment covariate trick
    that makes A/B tests read out days earlier: adjust the outcome by
    θ·(x − x̄) where x is the user's PRE-period activity and θ =
    Cov(x,y)/Var(x); the adjusted metric's variance drops by exactly
    ρ² (reported as var_reduction — on behavioral data typically
    30-60%, compounding with agg_ratio_delta_method's SE). The whole
    estimator is five decimal-exact moments over one user-grain
    aggregate (pre-count, post-value per user in a single pass over
    the fact table — no second scan for the pre-period). At 100 TB
    this is one shuffle and five numbers."""
    e = t(spark, sf_dir, "events")
    cut = F.to_timestamp(F.lit("2024-01-16 00:00:00"))
    per_user = e.groupBy("user_id").agg(
        F.sum((F.col("ts") < cut).cast("long")).cast("double").alias("x"),
        F.sum(
            F.when(F.col("ts") >= cut, F.col("value").cast("decimal(38,6)")).otherwise(
                F.lit(0).cast("decimal(38,6)")
            )
        )
        .cast("double")
        .alias("y"),
    )
    mom = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        qsum(F.col("x") * F.col("x")).alias("sxx"),
        qsum(F.col("y") * F.col("y")).alias("syy"),
        qsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    var_x = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    var_y = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    cov = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    return mom.select(
        F.col("n").alias("n_users"),
        F.round(cov / var_x, 6).alias("theta"),
        F.round(var_y, 6).alias("var_y"),
        F.round(var_y - cov * cov / var_x, 6).alias("var_adjusted"),
        F.round(cov * cov / (var_x * var_y), 6).alias("var_reduction"),
    )


@register(
    "ml_cost_threshold",
    oracle=f"""
WITH {_REC_SQL},
per_score AS (
    SELECT rec, COUNT(*) AS n, SUM(churned) AS pos, COUNT(*) - SUM(churned) AS neg
    FROM s GROUP BY rec
), cums AS (
    SELECT rec,
           SUM(pos) OVER (ORDER BY rec DESC ROWS UNBOUNDED PRECEDING) AS tp,
           SUM(neg) OVER (ORDER BY rec DESC ROWS UNBOUNDED PRECEDING) AS fp
    FROM per_score
), tot AS (
    SELECT SUM(pos) AS m, SUM(neg) AS nn FROM per_score
), costs AS (
    SELECT rec AS threshold, tp, fp,
           t.m - tp AS fn,
           1 * fp + 5 * (t.m - tp) AS cost
    FROM cums, tot t
), best AS (
    SELECT * FROM costs
    ORDER BY cost ASC, threshold ASC LIMIT 1
)
SELECT CAST(threshold AS BIGINT) AS threshold,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(cost AS BIGINT) AS cost
FROM best
""",
)
def ml_cost_threshold(spark, sf_dir):
    """Cost-optimal decision threshold — deployment's actual question:
    not 'what's the AUC' but 'where do I cut'. With asymmetric error
    costs (a missed churner = 5, a false retention offer = 1 — the
    usual retention economics), sweep EVERY candidate threshold in one
    pass: a descending cumulative window over the score histogram
    yields TP/FP at every distinct score simultaneously (the same
    O(distinct scores) trick as ml_auc_exact/ml_auc_delong_se), cost
    is a projection, argmin is a top-1. No per-threshold rescans —
    the naive loop is O(thresholds × data), this is one window over
    the histogram. Integer-exact end to end; deterministic ties
    (lowest threshold)."""
    s = _rec_scored(spark, sf_dir)
    per = ckpt(s.groupBy("rec").agg(
        F.sum("churned").alias("pos"),
        (F.count(F.lit(1)) - F.sum("churned")).alias("neg"),
    ))  # feeds the cumulative window AND the total
    wd = Window.orderBy(F.desc("rec")).rowsBetween(Window.unboundedPreceding, 0)
    cums = per.select(
        F.col("rec").alias("threshold"),
        F.sum("pos").over(wd).alias("tp"),
        F.sum("neg").over(wd).alias("fp"),
    )
    tot = per.agg(F.sum("pos").alias("m"))
    costs = cums.crossJoin(F.broadcast(tot)).select(
        "threshold",
        "tp",
        "fp",
        (F.col("m") - F.col("tp")).alias("fn"),
        (1 * F.col("fp") + 5 * (F.col("m") - F.col("tp"))).alias("cost"),
    )
    return (
        costs.orderBy(F.asc("cost"), F.asc("threshold"))
        .limit(1)
        .select(
            F.col("threshold").cast("bigint").alias("threshold"),
            F.col("tp").cast("bigint").alias("tp"),
            F.col("fp").cast("bigint").alias("fp"),
            F.col("fn").cast("bigint").alias("fn"),
            F.col("cost").cast("bigint").alias("cost"),
        )
    )


def _logreg_ctes(iters: int = 10) -> tuple[str, str]:
    """Reusable unrolled GD-logistic-regression CTE chain (see
    _logreg_oracle). Returns (joined_ctes, final_weight_cte_name) so
    downstream oracles (ml_shap_linear) can share the identical
    training trajectory."""
    ctes = [
        f"""{_REC2_SQL},
feats AS MATERIALIZED (
    SELECT CAST(rec AS DOUBLE) / mx.maxrec AS x1,
           CAST(ne AS DOUBLE) / mx.maxne AS x2,
           CAST(churned AS DOUBLE) AS y
    FROM (SELECT rec, churned, ne FROM s2) f,
         (SELECT GREATEST(MAX(rec), 1) AS maxrec, GREATEST(MAX(ne), 1) AS maxne
          FROM s2) mx
), n_ex AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM feats),
w0 AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)""",
    ]
    prev = "w0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""g{i} AS MATERIALIZED (
    SELECT
      CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y)
                          * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS g0,
      CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1
                          * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS g1,
      CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2
                          * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS g2
    FROM feats, {prev} w
), w{i} AS MATERIALIZED (
    SELECT w.w0 - 0.5 * g.g0 / n.n AS w0,
           w.w1 - 0.5 * g.g1 / n.n AS w1,
           w.w2 - 0.5 * g.g2 / n.n AS w2
    FROM {prev} w, g{i} g, n_ex n
)"""
        )
        prev = f"w{i}"
    return ",\n".join(ctes), prev


def _logreg_oracle(iters: int = 10) -> str:
    """Unrolled gradient-descent logistic regression oracle. Features
    are exact int64 ratios; every per-example gradient contribution is
    1e-12-quantized into DECIMAL sums; weights update with identical
    IEEE arithmetic on both engines."""
    joined, prev = _logreg_ctes(iters)
    return f"""
WITH {joined}
SELECT ROUND(w0, 6) AS w_bias, ROUND(w1, 6) AS w_recency, ROUND(w2, 6) AS w_events
FROM {prev}
"""


@register("ml_logreg_gd", oracle=_logreg_oracle())
def ml_logreg_gd(spark, sf_dir):
    """Logistic regression trained BY THE ENGINE — 10 full-batch
    gradient-descent steps in pure DataFrame algebra, no MLlib: each
    step is ONE map-side-combinable aggregate over the feature table
    (the per-example gradient) plus a 1-row broadcast weight update —
    exactly how distributed full-batch GD runs at 100 TB (the famous
    'ML on MapReduce' statistical-query form). Features are the churn
    score pair (scaled recency, scaled activity); every gradient
    contribution is 1e-12-quantized into DECIMAL sums and the update
    arithmetic is identical IEEE on both engines, so the WEIGHTS
    match bit-for-bit after 10 rounds — an oracle-verified training
    loop, which the MLlib stages (ml_train) can only anchor-check.
    (10 steps from zero init is early training — the bias still
    dominates on an imbalanced label; the op's contract is the exact
    optimization trajectory, not a converged fit.)"""
    w, _ = _gd_fit(_gd_features(spark, sf_dir), ("x1", "x2"), 10)
    return spark.createDataFrame(
        [(float(w[0]), float(w[1]), float(w[2]))], "w_bias double, w_recency double, w_events double"
    ).select(
        F.round("w_bias", 6).alias("w_bias"),
        F.round("w_recency", 6).alias("w_recency"),
        F.round("w_events", 6).alias("w_events"),
    )


def _gd_features(spark, sf_dir):
    """(x1, x2, y): scaled recency, scaled activity and the churn label,
    materialized once because the table feeds every GD step."""
    s = _recency(
        spark,
        sf_dir,
        F.count(F.lit(1)).alias("ne"),
        stats=(F.greatest(F.max("ne"), F.lit(1)).alias("maxne"),),
    )
    return ckpt(s.select(
        (_rec().cast("double") / F.col("maxrec")).alias("x1"),
        (F.col("ne").cast("double") / F.col("maxne")).alias("x2"),
        churn.churned(F.col("last_ts")).cast("double").alias("y"),
    ))


def _gd_fit(feats, cols, iters):
    """Full-batch logistic-regression GD on ``feats`` (label ``y``) from
    zero weights: ``iters`` steps of w -= 0.5·g/n, each gradient ONE
    aggregate of 1e-12-quantized DECIMAL sums, so every step's weights
    are bit-identical to the oracle's unrolled CTEs. Returns (weights —
    bias first, then one per column of ``cols`` — and n, the example
    count: a bounded driver scalar, the 1/n in the update)."""
    n = feats.count()
    w = (0.0,) * (len(cols) + 1)
    for _ in range(iters):
        z = F.lit(w[0])
        for wi, c in zip(w[1:], cols):
            z = z + F.lit(wi) * F.col(c)
        resid = 1.0 / (1.0 + F.exp(-z)) - F.col("y")
        g = feats.agg(
            qsum(resid, 12).alias("g0"),
            *[qsum(resid * F.col(c), 12).alias(f"g{i}") for i, c in enumerate(cols, 1)],
        ).collect()[0]
        w = tuple(wi - 0.5 * gi / n for wi, gi in zip(w, g))
    return w, n


@register(
    "ml_power_mde",
    oracle="""
WITH per_user AS (
    SELECT event_type, user_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM events GROUP BY 1, 2
), mom AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(FLOOR(y * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS syy
    FROM per_user GROUP BY event_type
), stats AS (
    SELECT event_type, n, sy / n AS m,
           (syy - sy * sy / n) / (n - 1) AS var
    FROM mom
)
SELECT event_type, n AS n_users,
       ROUND(m, 6) AS mean_y,
       ROUND((1.959964 + 0.841621) * sqrt(2 * var / (n / 2)), 6) AS mde_abs,
       ROUND((1.959964 + 0.841621) * sqrt(2 * var / (n / 2)) / m, 6) AS mde_rel
FROM stats
""",
)
def ml_power_mde(spark, sf_dir):
    """Power analysis from MEASURED variance — the pre-experiment
    question 'what effect could we even detect': minimum detectable
    effect at α=0.05 (two-sided), power=0.8, for a 50/50 split of the
    current population, MDE = (z_{α/2}+z_β)·√(2σ²/(n/2)) with the
    per-user outcome variance measured from the data (the number CUPED
    then shrinks — this op quantifies by how much an experiment
    shortens). z-constants are shared literals, variance comes from
    the same decimal-exact moment pass as ml_cuped/
    agg_ratio_delta_method. One user-grain aggregate per segment; the
    analysis is arithmetic on 3 numbers per group."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        dsum(F.col("value")).alias("y")
    )
    mom = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("y")).alias("sy"),
        qsum(F.col("y") * F.col("y")).alias("syy"),
    )
    m = F.col("sy") / F.col("n")
    var = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    mde = F.lit(1.959964 + 0.841621) * F.sqrt(2 * var / (F.col("n") / 2))
    return mom.select(
        "event_type",
        F.col("n").alias("n_users"),
        F.round(m, 6).alias("mean_y"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / m, 6).alias("mde_rel"),
    )


@register(
    "ml_ips_offpolicy",
    oracle="""
WITH logs AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE)
               AS reward,
           COUNT(*) AS ne,
           CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':act'), 1, 6))
                     ::BIGINT % 100 < 30 THEN 1 ELSE 0 END AS logged_action
    FROM events GROUP BY user_id
), policy AS (
    SELECT user_id, reward, logged_action,
           CASE WHEN logged_action = 1 THEN 0.3 ELSE 0.7 END AS mu,
           CASE WHEN ne >= 10 THEN 1 ELSE 0 END AS pi_action
    FROM logs
), weighted AS (
    SELECT CASE WHEN pi_action = logged_action THEN 1.0 / mu ELSE 0.0 END AS w,
           reward
    FROM policy
), sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(w * reward * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS swr,
           CAST(SUM(CAST(FLOOR(w * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sw
    FROM weighted
)
SELECT n AS n_users,
       ROUND(swr / n, 6) AS ips_value,
       ROUND(swr / NULLIF(sw, 0), 6) AS snips_value,
       ROUND(sw / n, 6) AS mean_weight
FROM sums
""",
)
def ml_ips_offpolicy(spark, sf_dir):
    """Off-policy evaluation by inverse propensity scoring — 'what
    would the NEW targeting policy have earned on the logged traffic':
    the logging policy assigned an action with known propensity (a
    hash-seeded 30/70 randomization — deterministic, so the oracle
    reproduces it); the candidate policy is a deterministic rule
    (target heavy users, ne ≥ 10); IPS reweights logged rewards by
    π(a|x)/μ(a|x) and SNIPS divides by the realized weight mass (the
    variance-reduced estimator that survives weight skew). Both
    estimates are quantized-decimal weighted sums over ONE user-grain
    pass. This is the estimator every recommendation/retention team
    runs before an A/B slot frees up; mean_weight far from 1 is the
    standard support-mismatch alarm."""
    e = t(spark, sf_dir, "events")
    logs = e.groupBy("user_id").agg(
        revenue().alias("reward"),
        F.count(F.lit(1)).alias("ne"),
    )
    logged_action = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":act"))), 1, 6
            ),
            16,
            10,
        ).cast("bigint")
        % 100
        < 30
    ).cast("int")
    policy = logs.select(
        "reward",
        logged_action.alias("logged_action"),
        (F.col("ne") >= 10).cast("int").alias("pi_action"),
    ).withColumn(
        "mu", F.when(F.col("logged_action") == 1, 0.3).otherwise(0.7)
    )
    w = F.when(F.col("pi_action") == F.col("logged_action"), 1.0 / F.col("mu")).otherwise(
        0.0
    )
    weighted = policy.select(w.alias("w"), "reward")
    sums = weighted.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        qsum(F.col("w") * F.col("reward")).alias(
            "swr"
        ),
        qsum(F.col("w")).alias("sw"),
    )
    return sums.select(
        F.col("n").alias("n_users"),
        F.round(F.col("swr") / F.col("n"), 6).alias("ips_value"),
        F.round(F.col("swr") / F.nullif(F.col("sw"), F.lit(0.0)), 6).alias(
            "snips_value"
        ),
        F.round(F.col("sw") / F.col("n"), 6).alias("mean_weight"),
    )


@register(
    "ml_conformal_interval",
    oracle="""
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM events GROUP BY 1, 2
), paired AS (
    SELECT event_type, d, y,
           LAG(y, 7) OVER (PARTITION BY event_type ORDER BY d) AS yhat,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS rn
    FROM daily
), split AS (
    SELECT event_type, d, y, yhat,
           CASE WHEN rn <= 19 THEN 'cal' ELSE 'test' END AS part
    FROM paired WHERE yhat IS NOT NULL
), qhat AS (
    SELECT event_type, quantile_cont(ABS(y - yhat), 0.9) AS q
    FROM split WHERE part = 'cal' GROUP BY event_type
)
SELECT s.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       ROUND(q.q, 6) AS interval_halfwidth,
       CAST(SUM(CASE WHEN ABS(s.y - s.yhat) <= q.q THEN 1 ELSE 0 END) AS BIGINT)
           AS n_covered
FROM split s JOIN qhat q ON s.event_type = q.event_type
WHERE s.part = 'test'
GROUP BY s.event_type, q.q
""",
)
def ml_conformal_interval(spark, sf_dir):
    """Split-conformal prediction intervals — distribution-free error
    bars for ANY point forecaster, the guarantee-backed alternative to
    Gaussian ±2σ: on a calibration window, take the 0.9-quantile of
    absolute residuals of the lag-7 seasonal-naive forecast; on the
    held-out window, the interval ŷ ± q̂ covers ≥ ~90% of outcomes by
    construction (exchangeability) — and this op MEASURES the realized
    coverage (n_covered/n_test), which is the audit conformal papers
    say to run. Days 8–26 calibrate, the rest test (a time-ordered
    split — the honest variant for serial data). Exact interpolated
    quantile per series, decimal-exact daily totals, one day-grain
    shuffle + one type-keyed window; the calibration table is
    O(series × days)."""
    e = t(spark, sf_dir, "events")
    daily = by_day(e, "event_type").agg(dsum(F.col("value")).alias("y"))
    w = Window.partitionBy("event_type").orderBy("day")
    paired = ckpt(  # feeds the calibration quantile AND the test join
        daily.withColumn("yhat", F.lag("y", 7).over(w))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("yhat").isNotNull())
        .withColumn(
            "part", F.when(F.col("rn") <= 19, "cal").otherwise("test")
        )
    )
    qhat = (
        paired.filter(F.col("part") == "cal")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(abs(y - yhat), 0.9D)").alias("q")
        )
    )
    test = paired.filter(F.col("part") == "test")
    return (
        test.join(F.broadcast(qhat), "event_type")
        .groupBy("event_type", "q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(
                (F.abs(F.col("y") - F.col("yhat")) <= F.col("q")).cast("long")
            )
            .cast("bigint")
            .alias("n_covered"),
        )
        .select(
            "event_type",
            "n_test",
            F.round("q", 6).alias("interval_halfwidth"),
            "n_covered",
        )
    )


@register(
    "ml_qini_curve",
    oracle=f"""
WITH {_REC2_SQL},
assigned AS (
    SELECT user_id, rec, churned,
           CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':tr'), 1, 6))
                     ::BIGINT % 2 = 0 THEN 1 ELSE 0 END AS treated
    FROM s2
), deciled AS (
    SELECT treated, churned,
           NTILE(10) OVER (ORDER BY rec DESC, user_id ASC) AS decile
    FROM assigned
), per_dec AS (
    SELECT decile,
           SUM(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS nt,
           SUM(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS nc,
           SUM(CASE WHEN treated = 1 THEN churned ELSE 0 END) AS rt,
           SUM(CASE WHEN treated = 0 THEN churned ELSE 0 END) AS rc
    FROM deciled GROUP BY decile
), cums AS (
    SELECT decile,
           SUM(nt) OVER w AS cnt, SUM(nc) OVER w AS cnc,
           SUM(rt) OVER w AS crt, SUM(rc) OVER w AS crc
    FROM per_dec
    WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)
)
SELECT decile,
       CAST(cnt AS BIGINT) AS n_treated, CAST(cnc AS BIGINT) AS n_control,
       ROUND(crt - crc * CAST(cnt AS DOUBLE) / NULLIF(cnc, 0), 6) AS qini
FROM cums
""",
)
def ml_qini_curve(spark, sf_dir):
    """Qini curve — uplift targeting's yardstick: rank users by the
    model score, and at each decile plot incremental responses
    (treated responders minus control responders scaled to the treated
    count) — a model that targets PERSUADABLES climbs early; one that
    targets sure-things hugs the diagonal. Treatment is a hash-seeded
    50/50 assignment (deterministic — the oracle reproduces it), score
    is the recency churn score, response the churn label. One NTILE
    sort + one decile aggregate + one cumulative window; integer-exact
    except the one scaling division. This closes the causal-ML eval
    suite (DiD, IPS/SNIPS, CUPED, MDE, matching, conformal) with the
    uplift leg."""
    s = _rec_scored2(spark, sf_dir)
    treated = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":tr"))), 1, 6
            ),
            16,
            10,
        ).cast("bigint")
        % 2
        == 0
    ).cast("int")
    assigned = s.select("user_id", "rec", "churned", treated.alias("treated"))
    deciled = assigned.select(
        "treated",
        "churned",
        F.ntile(10)
        .over(Window.orderBy(F.desc("rec"), F.asc("user_id")))
        .alias("decile"),
    )
    per_dec = deciled.groupBy("decile").agg(
        F.sum((F.col("treated") == 1).cast("long")).alias("nt"),
        F.sum((F.col("treated") == 0).cast("long")).alias("nc"),
        F.sum(F.when(F.col("treated") == 1, F.col("churned")).otherwise(0)).alias("rt"),
        F.sum(F.when(F.col("treated") == 0, F.col("churned")).otherwise(0)).alias("rc"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cums = per_dec.select(
        "decile",
        F.sum("nt").over(w).alias("cnt"),
        F.sum("nc").over(w).alias("cnc"),
        F.sum("rt").over(w).alias("crt"),
        F.sum("rc").over(w).alias("crc"),
    )
    return cums.select(
        "decile",
        F.col("cnt").cast("bigint").alias("n_treated"),
        F.col("cnc").cast("bigint").alias("n_control"),
        F.round(
            F.col("crt")
            - F.col("crc") * F.col("cnt").cast("double") / F.nullif(
                F.col("cnc").cast("double"), F.lit(0.0)
            ),
            6,
        ).alias("qini"),
    )


@register(
    "ml_hosmer_lemeshow",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (
    SELECT MAX(last_ts) AS cmax FROM u
), s AS (
    SELECT user_id, last_ts, epoch_us(m.cmax) - epoch_us(last_ts) AS rec
    FROM u, m
), mx AS (
    SELECT GREATEST(MAX(rec), 1) AS maxrec FROM s
), scored AS (
    SELECT CAST(rec AS DOUBLE) / maxrec AS p,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END AS y
    FROM s, mx
), binned AS (
    SELECT CAST(LEAST(FLOOR(p * 10), 9) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS obs,
           CAST(SUM(CAST(FLOOR(p * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS exp_sum
    FROM scored GROUP BY 1
), terms AS (
    SELECT bin, n, obs, exp_sum,
           CAST(FLOOR((obs - exp_sum) * (obs - exp_sum)
                      / NULLIF(exp_sum * (1 - exp_sum / n), 0) * 1e9 + 0.5)
                AS DECIMAL(38,9)) / 1e9 AS hl_term
    FROM binned
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_bins,
       ROUND(CAST(SUM(CAST(hl_term AS DECIMAL(38,9))) AS DOUBLE), 6) AS hl_stat,
       CAST(COUNT(*) - 2 AS BIGINT) AS df
FROM terms
""",
)
def ml_hosmer_lemeshow(spark, sf_dir):
    """Hosmer-Lemeshow goodness-of-calibration statistic — the χ²-
    distributed number behind the reliability diagram
    (ml_calibration_bins plots it; this TESTS it): per score decile,
    (observed − expected)² / (E·(1 − p̄)), summed; compare to
    χ²(bins−2) and a large value says the probabilities don't mean
    what they claim even if AUC looks fine — the failure mode
    ml_isotonic_pav then repairs. Expected counts are 1e-6-quantized
    decimal sums of the scores; each bin's term is 1e-9-quantized into
    the decimal total. One user aggregate + one decile aggregate —
    the same two-pass spine as the calibration family."""
    scored = _rec_scored(spark, sf_dir).select(
        (F.col("rec").cast("double") / F.col("maxrec")).alias("p"),
        F.col("churned").alias("y"),
    )
    binned = scored.groupBy(
        F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("bigint").alias("bin")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("obs"),
        qsum(F.col("p")).alias("exp_sum"),
    )
    hl_term = (
        qdec(
            (F.col("obs") - F.col("exp_sum"))
            * (F.col("obs") - F.col("exp_sum"))
            / F.nullif(
                F.col("exp_sum") * (1 - F.col("exp_sum") / F.col("n")), F.lit(0.0)
            ),
            9,
        )
        / F.lit(1e9)
    )
    terms = binned.select(hl_term.alias("hl_term"))
    return terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
        F.round(dsum(F.col("hl_term"), 9), 6).alias("hl_stat"),
        (F.count(F.lit(1)) - 2).cast("bigint").alias("df"),
    )


@register(
    "ml_km_rmst",
    oracle="""
WITH horizon AS (SELECT MAX(ts) AS h FROM events),
users AS (
    SELECT e.user_id,
           date_diff('day', CAST(MIN(e.ts) AS DATE), CAST(MAX(e.ts) AS DATE)) AS t_days,
           CASE WHEN MAX(e.ts) < MAX(horizon.h) - INTERVAL 3 DAY THEN 1 ELSE 0 END
               AS churned
    FROM events e, horizon GROUP BY e.user_id
), daily AS (
    SELECT t_days AS day_n, SUM(churned) AS d, COUNT(*) - SUM(churned) AS c
    FROM users GROUP BY t_days
), tot AS (SELECT SUM(d + c) AS n0 FROM daily),
risk AS (
    SELECT day_n, d,
           n0 - COALESCE(SUM(d + c) OVER (ORDER BY day_n ROWS BETWEEN UNBOUNDED
                         PRECEDING AND 1 PRECEDING), 0) AS n_risk
    FROM daily, tot
), steps AS (
    SELECT day_n,
           CAST(FLOOR(ln(1.0 - CAST(d AS DOUBLE) / n_risk) * 1e12 + 0.5)
                AS DECIMAL(38,12)) / 1e12 AS lterm
    FROM risk WHERE d < n_risk
), surv AS (
    SELECT day_n,
           exp(CAST(SUM(CAST(lterm AS DECIMAL(38,12))) OVER (ORDER BY day_n
               ROWS UNBOUNDED PRECEDING) AS DOUBLE)) AS s,
           COALESCE(LEAD(day_n) OVER (ORDER BY day_n), 30) AS next_day
    FROM steps
), segs AS (
    SELECT CAST(FLOOR(s * LEAST(next_day, 30) * 1e9 + 0.5) AS DECIMAL(38,9)) / 1e9
               - CAST(FLOOR(s * LEAST(day_n, 30) * 1e9 + 0.5) AS DECIMAL(38,9)) / 1e9
               AS area
    FROM surv WHERE day_n < 30
), first_seg AS (
    SELECT CAST(MIN(day_n) AS DOUBLE) AS t0 FROM steps
)
SELECT ROUND(f.t0 + CAST(SUM(CAST(area AS DECIMAL(38,9))) AS DOUBLE), 6)
           AS rmst_30d
FROM segs, first_seg f GROUP BY f.t0
""",
)
def ml_km_rmst(spark, sf_dir):
    """Restricted mean survival time — the INTEGRAL of the KM curve to
    τ = 30 days: expected active days within the first month, the
    churn-economics number (multiply by daily ARPU = expected revenue
    per signup) that a median survival time can't give when the curve
    never crosses 0.5. Computed as the exact step-function area:
    before the first death S = 1 (contributes t₀), then each KM step
    contributes S(t)·(min(next,τ) − min(t,τ)), every product
    1e-9-quantized into decimal accumulation on both engines. Same
    single fact-scale pass as ml_km_greenwood; the integral runs on
    the ≤30-row step table."""
    risk = _km_risk(_tenure(spark, sf_dir, hours=False))
    steps = risk.filter(F.col("d") < F.col("n_risk")).select(
        "day_n",
        qdec(F.log(1.0 - F.col("d").cast("double") / F.col("n_risk")), 12).alias(
            "lt_q"
        ),
    ).select("day_n", (F.col("lt_q") / F.lit(1e12)).alias("lterm"))
    wc = Window.orderBy("day_n").rowsBetween(Window.unboundedPreceding, 0)
    surv = ckpt(steps.select(
        "day_n",
        F.exp(
            F.sum(F.col("lterm").cast("decimal(38,12)")).over(wc).cast("double")
        ).alias("s"),
        F.coalesce(F.lead("day_n").over(Window.orderBy("day_n")), F.lit(30)).alias(
            "next_day"
        ),
    ))  # feeds the area sum AND the t0 scalar
    q9d = lambda c: qdec(c, 9) / F.lit(1e9)
    segs = surv.filter(F.col("day_n") < 30).select(
        (
            q9d(F.col("s") * F.least(F.col("next_day"), F.lit(30)))
            - q9d(F.col("s") * F.least(F.col("day_n"), F.lit(30)))
        ).alias("area")
    )
    t0 = surv.agg(F.min("day_n").cast("double").alias("t0"))
    return (
        segs.crossJoin(F.broadcast(t0))
        .groupBy("t0")
        .agg(
            F.round(
                F.col("t0")
                + dsum(F.col("area"), 9),
                6,
            ).alias("rmst_30d")
        )
        .select("rmst_30d")
    )


def _gbm_oracle(rounds: int = 4) -> str:
    """Unrolled depth-1 gradient-boosting oracle: each round scores 9
    decile-threshold candidates on BOTH features, picks the best by
    (quantized SSE, feature, threshold), and adds lr × stump to the
    prediction. Every mean and SSE rides quantize-into-decimal; the
    argmin tie-break is total, so both engines grow identical
    ensembles."""
    head = f"""{_REC2_SQL},
feats AS MATERIALIZED (
    SELECT CAST(rec AS DOUBLE) / mx.maxrec AS x1,
           CAST(ne AS DOUBLE) / mx.maxne AS x2,
           CAST(churned AS DOUBLE) AS y
    FROM s2, (SELECT GREATEST(MAX(rec), 1) AS maxrec, GREATEST(MAX(ne), 1) AS maxne
              FROM s2) mx
), cand AS MATERIALIZED (
    SELECT f.f AS feat, CAST(t.t AS DOUBLE) / 10 AS thr
    FROM (SELECT unnest([1, 2]) AS f) f, (SELECT unnest(range(1, 10)) AS t) t
),
p0 AS MATERIALIZED (SELECT x1, x2, y, 0.5 AS pred FROM feats)"""
    ctes = [head]
    prev = "p0"
    for i in range(1, rounds + 1):
        ctes.append(
            f"""sse{i} AS MATERIALIZED (
    SELECT c.feat, c.thr,
           CAST(SUM(CASE WHEN (CASE WHEN c.feat = 1 THEN p.x1 ELSE p.x2 END) < c.thr
                         THEN CAST(FLOOR((p.y - p.pred) * 1e12 + 0.5) AS DECIMAL(38,12))
                         ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) / 1e12 AS sl,
           SUM(CASE WHEN (CASE WHEN c.feat = 1 THEN p.x1 ELSE p.x2 END) < c.thr
                    THEN 1 ELSE 0 END) AS nl,
           CAST(SUM(CASE WHEN (CASE WHEN c.feat = 1 THEN p.x1 ELSE p.x2 END) >= c.thr
                         THEN CAST(FLOOR((p.y - p.pred) * 1e12 + 0.5) AS DECIMAL(38,12))
                         ELSE CAST(0 AS DECIMAL(38,12)) END) AS DOUBLE) / 1e12 AS sr,
           SUM(CASE WHEN (CASE WHEN c.feat = 1 THEN p.x1 ELSE p.x2 END) >= c.thr
                    THEN 1 ELSE 0 END) AS nr
    FROM {prev} p, cand c GROUP BY c.feat, c.thr
), best{i} AS MATERIALIZED (
    SELECT feat, thr,
           sl / NULLIF(nl, 0) AS vl, sr / NULLIF(nr, 0) AS vr
    FROM sse{i}
    ORDER BY FLOOR((-(sl * sl / NULLIF(nl, 0)) - (sr * sr / NULLIF(nr, 0))) * 1e9 + 0.5),
             feat, thr
    LIMIT 1
), p{i} AS MATERIALIZED (
    SELECT p.x1, p.x2, p.y,
           FLOOR((p.pred + 0.5 * COALESCE(
               CASE WHEN (CASE WHEN b.feat = 1 THEN p.x1 ELSE p.x2 END) < b.thr
                    THEN b.vl ELSE b.vr END, 0.0)) * 1e9 + 0.5) / 1e9 AS pred
    FROM {prev} p, best{i} b
)"""
        )
        prev = f"p{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT CAST(COUNT(*) AS BIGINT) AS n_examples,
       ROUND(CAST(SUM(CAST(FLOOR((y - pred) * (y - pred) * 1e9 + 0.5)
                           AS DECIMAL(38,9))) AS DOUBLE) / 1e9 / COUNT(*), 6)
           AS mse,
       ROUND(CAST(SUM(CAST(FLOOR(pred * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
             / 1e9 / COUNT(*), 6) AS mean_pred
FROM {prev}
"""


@register("ml_gbm_stumps", oracle=_gbm_oracle())
def ml_gbm_stumps(spark, sf_dir):
    """Gradient boosting, trained BY THE ENGINE and oracle-exact — 4
    rounds of depth-1 regression stumps (lr = 0.5) on the churn
    feature pair: each round scores 18 candidate splits (9 decile
    thresholds × 2 features) with ONE aggregate over the example
    table (the split search is a groupBy, not a loop over data),
    picks the variance-gain argmin under a TOTAL order (quantized
    SSE, feature, threshold), and updates predictions with the leaf
    means. This is the statistical-query formulation of boosting —
    XGBoost's exact-greedy mode is this same per-candidate aggregate
    with more candidates — and like ml_logreg_gd the ENSEMBLE is
    bit-identical cross-engine: residual sums 1e-12-quantized, leaf
    means exact ratios, predictions re-quantized 1e-9 per round.
    Output: train MSE + mean prediction after 4 rounds."""
    p = _gd_features(spark, sf_dir).withColumn("pred", F.lit(0.5))
    cand = [(f, t / 10.0) for f in (1, 2) for t in range(1, 10)]
    for _ in range(4):
        xcol = lambda f: F.col("x1") if f == 1 else F.col("x2")
        aggs = []
        for f, thr in cand:
            left = xcol(f) < thr
            aggs += [
                (F.sum(F.when(left, qdec(F.col("y") - F.col("pred"), 12)).otherwise(
                    F.lit(0).cast("decimal(38,12)"))).cast("double") / F.lit(1e12)
                 ).alias(f"sl_{f}_{int(thr*10)}"),
                F.sum(left.cast("long")).alias(f"nl_{f}_{int(thr*10)}"),
                (F.sum(F.when(~left, qdec(F.col("y") - F.col("pred"), 12)).otherwise(
                    F.lit(0).cast("decimal(38,12)"))).cast("double") / F.lit(1e12)
                 ).alias(f"sr_{f}_{int(thr*10)}"),
                F.sum((~left).cast("long")).alias(f"nr_{f}_{int(thr*10)}"),
            ]
        row = p.agg(*aggs).collect()[0]
        # argmin over 18 candidates — identical quantized score + total
        # tie-break as the oracle's ORDER BY
        import math

        best = None
        for f, thr in cand:
            k = f"{f}_{int(thr*10)}"
            sl, nl, sr, nr = row[f"sl_{k}"], row[f"nl_{k}"], row[f"sr_{k}"], row[f"nr_{k}"]
            score = math.floor(
                (-(sl * sl / nl if nl else 0.0) - (sr * sr / nr if nr else 0.0)) * 1e9
                + 0.5
            )
            key = (score, f, thr)
            if best is None or key < best[0]:
                vl = sl / nl if nl else None
                vr = sr / nr if nr else None
                best = (key, f, thr, vl, vr)
        _, f, thr, vl, vr = best
        stump = F.when(
            xcol(f) < thr, F.lit(vl if vl is not None else 0.0)
        ).otherwise(F.lit(vr if vr is not None else 0.0))
        # r13: dropping this per-round checkpoint was TRIED and
        # REJECTED — re-deriving the stump-projection chain lazily
        # makes each round's 72-column split-search aggregate plan one
        # projection deeper, and the extra per-round codegen outweighs
        # the four example-scale materializations saved (isolated noop
        # min-of-3 at sf0.1: 4.48 s shipped vs 5.08 s without the
        # checkpoints; oracle green both ways).
        p = ckpt(p.select(
            "x1",
            "x2",
            "y",
            qround(F.col("pred") + 0.5 * stump, 9).alias("pred"),
        ))
    return p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_examples"),
        F.round(
            qsum((F.col("y") - F.col("pred")) * (F.col("y") - F.col("pred")), 9)
            / F.count(F.lit(1)),
            6,
        ).alias("mse"),
        F.round(
            qsum(F.col("pred"), 9) / F.count(F.lit(1)),
            6,
        ).alias("mean_pred"),
    )


def _shap_linear_oracle() -> str:
    joined, prev = _logreg_ctes(10)
    return f"""
WITH {joined},
centers AS (
    SELECT CAST(SUM(CAST(FLOOR(x1 * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 / COUNT(*) AS mx1,
           CAST(SUM(CAST(FLOOR(x2 * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 / COUNT(*) AS mx2
    FROM feats
), phis AS (
    SELECT w.w1 * (f.x1 - c.mx1) AS phi1,
           w.w2 * (f.x2 - c.mx2) AS phi2
    FROM feats f, {prev} w, centers c
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_examples,
       ROUND(CAST(SUM(CAST(FLOOR(ABS(phi1) * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
             / 1e9 / COUNT(*), 6) AS mean_abs_shap_recency,
       ROUND(CAST(SUM(CAST(FLOOR(ABS(phi2) * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
             / 1e9 / COUNT(*), 6) AS mean_abs_shap_events,
       ROUND(CAST(SUM(CAST(FLOOR((phi1 + phi2) * 1e9 + 0.5) AS DECIMAL(38,9)))
                  AS DOUBLE) / 1e9 / COUNT(*), 6) AS mean_total_attribution
FROM phis
"""


@register("ml_shap_linear", oracle=_shap_linear_oracle())
def ml_shap_linear(spark, sf_dir):
    """Exact Shapley attributions for the engine-trained model — for a
    linear score the Shapley value has the closed form φᵢ = wᵢ·(xᵢ −
    x̄ᵢ) (no sampling, no surrogate: the interventional SHAP linear
    case), so explainability here is EXACT and oracle-verified: the
    model is the same 10-round GD trajectory as ml_logreg_gd (weights
    bit-identical cross-engine), and the global importance readout is
    mean |φ| per feature plus the mean total attribution (which must
    be ~0 by the efficiency axiom — the oracle hash checks it). One
    extra pass over the feature table after training: attribution at
    100 TB costs one aggregate, not a SHAP-sampler fleet."""
    feats = _gd_features(spark, sf_dir)
    w, _ = _gd_fit(feats, ("x1", "x2"), 10)
    phis = with_stats(
        feats,
        (qsum(F.col("x1"), 12) / F.count(F.lit(1))).alias("mx1"),
        (qsum(F.col("x2"), 12) / F.count(F.lit(1))).alias("mx2"),
    ).select(
        (F.lit(w[1]) * (F.col("x1") - F.col("mx1"))).alias("phi1"),
        (F.lit(w[2]) * (F.col("x2") - F.col("mx2"))).alias("phi2"),
    )
    return phis.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_examples"),
        F.round(
            qsum(F.abs(F.col("phi1")), 9) / F.count(F.lit(1)),
            6,
        ).alias("mean_abs_shap_recency"),
        F.round(
            qsum(F.abs(F.col("phi2")), 9) / F.count(F.lit(1)),
            6,
        ).alias("mean_abs_shap_events"),
        F.round(
            qsum(F.col("phi1") + F.col("phi2"), 9)
            / F.count(F.lit(1)),
            6,
        ).alias("mean_total_attribution"),
    )


def _curve_oracle(iters: int = 5) -> str:
    """Unrolled learning-curve oracle: four nested train fractions
    (user_id%10 buckets <2/<4/<6/<8), each trained `iters` GD steps
    from zero with the SAME full-pool feature scaling, then holdout
    (buckets 8-9) logloss. Same 1e-12 DECIMAL quantization discipline
    as _logreg_ctes so the whole trajectory is bit-identical."""
    ctes = [
        f"""{_REC2_SQL},
cfeat AS MATERIALIZED (
    SELECT user_id % 10 AS b,
           CAST(rec AS DOUBLE) / mx.maxrec AS x1,
           CAST(ne AS DOUBLE) / mx.maxne AS x2,
           CAST(churned AS DOUBLE) AS y
    FROM s2,
         (SELECT GREATEST(MAX(rec), 1) AS maxrec, GREATEST(MAX(ne), 1) AS maxne
          FROM s2 WHERE user_id % 10 < 8) mx
)"""
    ]
    selects = []
    for nb in (2, 4, 6, 8):
        ctes.append(
            f"n{nb} AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM cfeat WHERE b < {nb})"
        )
        prev = f"cw{nb}_0"
        ctes.append(f"{prev} AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)")
        for i in range(1, iters + 1):
            ctes.append(
                f"""cg{nb}_{i} AS MATERIALIZED (
    SELECT
      CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y)
                          * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS g0,
      CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x1
                          * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS g1,
      CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))) - y) * x2
                          * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS g2
    FROM cfeat, {prev} w WHERE b < {nb}
), cw{nb}_{i} AS MATERIALIZED (
    SELECT w.w0 - 0.5 * g.g0 / n.n AS w0,
           w.w1 - 0.5 * g.g1 / n.n AS w1,
           w.w2 - 0.5 * g.g2 / n.n AS w2
    FROM {prev} w, cg{nb}_{i} g, n{nb} n
)"""
            )
            prev = f"cw{nb}_{i}"
        ctes.append(
            f"""ce{nb} AS (
    SELECT CAST({nb} AS BIGINT) AS train_buckets,
           CAST((SELECT n FROM n{nb}) AS BIGINT) AS n_train,
           ROUND(CAST(SUM(CAST(FLOOR(
               -(y * ln(1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2))))
                 + (1.0 - y) * ln(1.0 - 1.0 / (1.0 + exp(-(w.w0 + w.w1 * x1 + w.w2 * x2)))))
               * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 / COUNT(*), 6)
           AS holdout_logloss
    FROM cfeat, {prev} w WHERE b >= 8
)"""
        )
        selects.append(f"SELECT * FROM ce{nb}")
    joined = ",\n".join(ctes)
    union = "\nUNION ALL\n".join(selects)
    return f"WITH {joined}\n{union}"


@register("ml_learning_curve", oracle=_curve_oracle())
def ml_learning_curve(spark, sf_dir, iters: int = 5):
    """Learning curve — 'what does more data BUY?': the same
    engine-trained logistic regression (ml_logreg_gd's oracle-exact GD
    chain) fit on nested 25/50/75/100% slices of the train pool
    (user_id%10 buckets — cluster-stable, cross-engine exact) and
    scored by holdout logloss on the untouched 20%. THE readout
    behind every 100 TB data-acquisition decision: if the curve is
    flat between 75% and 100%, the next 25 TB of events buys nothing
    and the budget belongs in features instead. Feature scaling comes
    from the FULL pool so the four fits differ only in data volume;
    every slice trains with the identical quantized-gradient
    discipline, so all four trajectories and the final losses are
    bit-identical cross-engine — a VERIFIED data-scaling experiment,
    not a sampled estimate. Cost shape: per step one map-side-
    combinable aggregate over the slice; nested slices mean the 4
    fits cost ~2.5 full-pool passes total per step."""
    s = _rec_scored2(spark, sf_dir).withColumn("b", F.col("user_id") % 10)
    mx = s.filter(F.col("b") < 8).agg(
        F.greatest(F.max("rec"), F.lit(1)).alias("maxrec"),
        F.greatest(F.max("ne"), F.lit(1)).alias("maxne"),
    )
    feats = ckpt(  # feeds every GD step of every slice
        s.crossJoin(F.broadcast(mx))
        .select(
            "b",
            (F.col("rec").cast("double") / F.col("maxrec")).alias("x1"),
            (F.col("ne").cast("double") / F.col("maxne")).alias("x2"),
            F.col("churned").cast("double").alias("y"),
        )
    )
    out = []
    for nb in (2, 4, 6, 8):
        w, n_tr = _gd_fit(feats.filter(F.col("b") < nb), ("x1", "x2"), iters)
        zh = F.lit(w[0]) + F.lit(w[1]) * F.col("x1") + F.lit(w[2]) * F.col("x2")
        p = 1.0 / (1.0 + F.exp(-zh))
        ll = feats.filter(F.col("b") >= 8).agg(
            F.round(
                qsum(-(F.col("y") * F.log(p) + (1.0 - F.col("y")) * F.log(1.0 - p)), 12)
                / F.count(F.lit(1)),
                6,
            ).alias("holdout_logloss")
        ).collect()[0]
        out.append((nb, n_tr, float(ll["holdout_logloss"])))
    return spark.createDataFrame(
        out, "train_buckets bigint, n_train bigint, holdout_logloss double"
    )


def _platt_oracle(iters: int = 5) -> str:
    """Unrolled Platt-scaling oracle: sigmoid(w0 + w1·s) fit by GD on
    the scaled-recency score, identical quantization discipline to
    _logreg_ctes, plus clipped-raw vs calibrated holdout-free logloss."""
    ctes = [
        f"""{_REC2_SQL},
pfeat AS MATERIALIZED (
    SELECT CAST(rec AS DOUBLE) / mx.maxrec AS s, CAST(churned AS DOUBLE) AS y
    FROM s2, (SELECT GREATEST(MAX(rec), 1) AS maxrec FROM s2) mx
), pn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM pfeat),
pw0 AS (SELECT 0.0 AS w0, 0.0 AS w1)"""
    ]
    prev = "pw0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""pg{i} AS MATERIALIZED (
    SELECT
      CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(w.w0 + w.w1 * s))) - y)
                          * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS g0,
      CAST(SUM(CAST(FLOOR((1.0 / (1.0 + exp(-(w.w0 + w.w1 * s))) - y) * s
                          * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS g1
    FROM pfeat, {prev} w
), pw{i} AS MATERIALIZED (
    SELECT w.w0 - 0.5 * g.g0 / n.n AS w0, w.w1 - 0.5 * g.g1 / n.n AS w1
    FROM {prev} w, pg{i} g, pn n
)"""
        )
        prev = f"pw{i}"
    return f"""
WITH {",".join(ctes)}
SELECT ROUND(w.w0, 6) AS w0, ROUND(w.w1, 6) AS w1,
       ROUND(CAST(SUM(CAST(FLOOR(
           -(y * ln(GREATEST(LEAST(s, 0.999999), 0.000001))
             + (1.0 - y) * ln(1.0 - GREATEST(LEAST(s, 0.999999), 0.000001)))
           * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12
           / (SELECT n FROM pn), 6) AS logloss_raw,
       ROUND(CAST(SUM(CAST(FLOOR(
           -(y * ln(1.0 / (1.0 + exp(-(w.w0 + w.w1 * s))))
             + (1.0 - y) * ln(1.0 - 1.0 / (1.0 + exp(-(w.w0 + w.w1 * s)))))
           * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12
           / (SELECT n FROM pn), 6) AS logloss_platt
FROM pfeat, {prev} w
GROUP BY w.w0, w.w1
"""


@register("ml_platt_scaling", oracle=_platt_oracle())
def ml_platt_scaling(spark, sf_dir, iters: int = 5):
    """Platt scaling — the PARAMETRIC calibrator completing the triad
    with ml_calibration_bins (diagnosis) and ml_isotonic_pav
    (non-parametric): a raw ranking score (scaled recency — monotone
    in churn but NOT a probability) is mapped through sigmoid(w0 +
    w1·s) fit by the same oracle-exact GD discipline as
    ml_logreg_gd. Reported next to the weights: mean logloss of the
    clipped RAW score used as a probability vs the Platt-calibrated
    one — the number that decides whether to ship the calibrator.
    On THIS fixture the measured verdict is 'don't': scaled recency
    is already near-calibrated (low scores, 8% base rate — raw
    logloss 0.19) and the 5-step fit reads 0.43, still descending
    (probed: 0.20 at 200 steps) — which is exactly the honest
    decision readout the op exists to produce; the contract, as with
    ml_logreg_gd, is the bit-exact optimization trajectory, not a
    converged win. Same 100 TB shape as every GD op here: per step
    one combinable aggregate + a 2-double broadcast."""
    feats = ckpt(
        _rec_scored(spark, sf_dir).select(
            (F.col("rec").cast("double") / F.col("maxrec")).alias("s"),
            F.col("churned").cast("double").alias("y"),
        )
    )
    w, n = _gd_fit(feats, ("s",), iters)
    clip = F.greatest(F.least(F.col("s"), F.lit(0.999999)), F.lit(0.000001))
    p = 1.0 / (1.0 + F.exp(-(F.lit(w[0]) + F.lit(w[1]) * F.col("s"))))
    ll = lambda prob: qsum(
        -(F.col("y") * F.log(prob) + (1.0 - F.col("y")) * F.log(1.0 - prob)),
        12,
    ) / F.lit(float(n))
    out = feats.agg(
        F.round(ll(clip), 6).alias("logloss_raw"),
        F.round(ll(p), 6).alias("logloss_platt"),
    ).collect()[0]
    return spark.createDataFrame(
        [(round(w[0], 6), round(w[1], 6), out["logloss_raw"], out["logloss_platt"])],
        "w0 double, w1 double, logloss_raw double, logloss_platt double",
    )


@register(
    "ml_logrank_test",
    oracle="""
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY user_id
), h AS (SELECT MAX(last_ts) AS hz FROM per_user),
users AS (
    SELECT user_id % 2 AS g,
           (epoch_us(last_ts) - epoch_us(first_ts)) // 3600000000 AS t_days,
           CASE WHEN last_ts < h.hz - INTERVAL 12 HOUR THEN 1 ELSE 0 END AS churned
    FROM per_user, h
), hist AS (
    SELECT g, t_days, CAST(COUNT(*) AS BIGINT) AS c,
           CAST(SUM(churned) AS BIGINT) AS d
    FROM users GROUP BY 1, 2
), etimes AS (
    SELECT t_days AS t FROM hist GROUP BY 1 HAVING SUM(d) > 0
), at_risk AS (
    SELECT e.t,
           CAST(SUM(CASE WHEN hist.g = 1 THEN hist.c ELSE 0 END) AS DOUBLE) AS n1,
           CAST(SUM(hist.c) AS DOUBLE) AS n,
           CAST(SUM(CASE WHEN hist.g = 1 AND hist.t_days = e.t THEN hist.d
                         ELSE 0 END) AS DOUBLE) AS d1,
           CAST(SUM(CASE WHEN hist.t_days = e.t THEN hist.d ELSE 0 END) AS DOUBLE) AS d
    FROM etimes e JOIN hist ON hist.t_days >= e.t
    GROUP BY 1
), sums AS (
    SELECT CAST(SUM(CAST(d1 AS BIGINT)) AS BIGINT) AS o1,
           CAST(SUM(CAST(FLOOR(d * n1 / n * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS e1,
           CAST(SUM(CAST(FLOOR(CASE WHEN n > 1 THEN
                    d * (n1 / n) * (1.0 - n1 / n) * (n - d) / (n - 1.0)
                    ELSE 0 END * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS v
    FROM at_risk
)
SELECT o1, ROUND(e1, 6) AS e1, ROUND(v, 6) AS var_logrank,
       ROUND((o1 - e1) * (o1 - e1) / v, 6) AS chi2,
       ROUND((o1 - e1) / sqrt(v), 6) AS z_stat
FROM sums
""",
)
def ml_logrank_test(spark, sf_dir):
    """Log-rank test — 'do the two cohorts CHURN at different rates?',
    answered the survival way: at every pooled churn time, compare
    group 1's observed churns against its expectation under the null
    (share of the at-risk set), with the hypergeometric variance —
    the only correct comparison when users are CENSORED at the
    horizon (a naive churn-rate t-test counts still-active users as
    survivors forever). Completes the survival family:
    ts_survival_curve (empirical), ml_km_greenwood (estimate + SE),
    ml_km_rmst (effect size), and now the TEST. Groups = user_id
    parity (the cluster-stable split idiom); at-risk sets come from
    one tenure histogram joined against the ≤30-row pooled event-time
    grid — all integer until the E/V terms, which ride q12 DECIMAL
    sums. The fact-scale cost is exactly one user-grain aggregate."""
    users = _tenure(spark, sf_dir).select(
        (F.col("user_id") % 2).alias("g"), F.col("tenure").alias("t_days"), "churned"
    )
    hist = ckpt(
        users.groupBy("g", "t_days").agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("churned").cast("bigint").alias("d"),
        )
    )
    etimes = (
        hist.groupBy("t_days").agg(F.sum("d").alias("dt")).filter(F.col("dt") > 0)
        .select(F.col("t_days").alias("t"))
    )
    ar = (
        etimes.join(hist, hist["t_days"] >= etimes["t"])
        .groupBy("t")
        .agg(
            F.sum(F.when(F.col("g") == 1, F.col("c")).otherwise(0))
            .cast("double")
            .alias("n1"),
            F.sum("c").cast("double").alias("n"),
            F.sum(
                F.when((F.col("g") == 1) & (F.col("t_days") == F.col("t")), F.col("d"))
                .otherwise(0)
            )
            .cast("double")
            .alias("d1"),
            F.sum(F.when(F.col("t_days") == F.col("t"), F.col("d")).otherwise(0))
            .cast("double")
            .alias("d"),
        )
    )
    vterm = F.when(
        F.col("n") > 1,
        F.col("d")
        * (F.col("n1") / F.col("n"))
        * (1.0 - F.col("n1") / F.col("n"))
        * (F.col("n") - F.col("d"))
        / (F.col("n") - 1.0),
    ).otherwise(0.0)
    sums = ar.agg(
        F.sum(F.col("d1").cast("bigint")).cast("bigint").alias("o1"),
        qsum(F.col("d") * F.col("n1") / F.col("n"), 12).alias("e1"),
        qsum(vterm, 12).alias("v"),
    )
    diff = F.col("o1") - F.col("e1")
    return sums.select(
        "o1",
        F.round("e1", 6).alias("e1"),
        F.round("v", 6).alias("var_logrank"),
        F.round(diff * diff / F.col("v"), 6).alias("chi2"),
        F.round(diff / F.sqrt("v"), 6).alias("z_stat"),
    )


_ERFC_AS = (
    "(CASE WHEN {x} >= 0 THEN 1.0 ELSE -1.0 END) * (1.0 - "
    "(0.254829592 * (1.0 / (1.0 + 0.3275911 * abs({x})))"
    " - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * abs({x})), 2.0)"
    " + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * abs({x})), 3.0)"
    " - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * abs({x})), 4.0)"
    " + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * abs({x})), 5.0))"
    " * exp(-({x}) * ({x})))"
)


@register(
    "ml_bh_fdr",
    oracle=f"""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS y
  FROM events GROUP BY 1, 2
), lims AS (
  SELECT event_type, MIN(day) AS dmin,
         CAST(FLOOR(datediff('day', MIN(day), MAX(day)) / 2.0) AS BIGINT) AS t0,
         CAST(datediff('day', MIN(day), MAX(day)) AS BIGINT) AS t_max
  FROM daily GROUP BY 1
), halves AS (
  SELECT d.event_type, MAX(l.t0) AS t0, MAX(l.t_max) AS t_max,
         SUM(CASE WHEN datediff('day', l.dmin, d.day) <= l.t0 THEN d.y ELSE 0 END)
             AS c_pre,
         SUM(CASE WHEN datediff('day', l.dmin, d.day) > l.t0 THEN d.y ELSE 0 END)
             AS c_post
  FROM daily d JOIN lims l ON l.event_type = d.event_type GROUP BY 1
), zs AS (
  SELECT event_type,
         ln((CAST(c_post AS DOUBLE) / (t_max - t0)) / (CAST(c_pre AS DOUBLE) / (t0 + 1)))
           / sqrt(1.0 / c_pre + 1.0 / c_post) AS z
  FROM halves
), ps AS (
  SELECT event_type, z,
         FLOOR(LEAST(1.0, 1.0 - {_ERFC_AS.format(x="abs(z) / sqrt(2.0)")})
               * 1e9 + 0.5) / 1e9 AS p
  FROM zs
), ranked AS (
  SELECT event_type, z, p,
         ROW_NUMBER() OVER (ORDER BY p, event_type) AS rk,
         COUNT(*) OVER () AS m
  FROM ps
), adj AS (
  SELECT event_type, z, p,
         LEAST(1.0, MIN(p * m / rk) OVER (ORDER BY rk ROWS BETWEEN CURRENT ROW
                                          AND UNBOUNDED FOLLOWING)) AS p_bh
  FROM ranked
)
SELECT event_type, ROUND(z, 6) AS z_stat, ROUND(p, 6) AS p_raw,
       ROUND(p_bh, 6) AS p_bh,
       (p_bh <= 0.10) AS reject_fdr10
FROM adj ORDER BY event_type
""",
)
def ml_bh_fdr(spark, sf_dir):
    """Benjamini–Hochberg FDR across a test FAMILY — the correction
    every metrics platform needs the day it runs one test per metric:
    5 per-event-type two-period Poisson rate tests (the
    ts_poisson_rate_ratio statistic, per type) become 5 p-values, and
    BH's step-up adjustment (reversed running min of p·m/rank) caps
    the EXPECTED false-discovery rate at 10% where per-test α=0.05
    would alarm ~daily at dashboard scale. Neither engine ships
    erf(), so the normal CDF runs through the Abramowitz–Stegun
    7.1.26 polynomial SPELLED IDENTICALLY on both sides (max abs
    error 1.5e-7, then p quantized at 1e-9 before ranking so
    cross-engine rank ties are impossible). The family here is 5
    rows; at 10k metrics the same plan holds — the day-grain
    collapse is the only data-sized pass, and the BH window runs on
    one row per metric."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "events"), "event_type")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    lims = daily.groupBy("event_type").agg(
        F.min("day").alias("dmin"),
        F.floor(F.datediff(F.max("day"), F.min("day")) / 2.0)
        .cast("bigint")
        .alias("t0"),
        F.datediff(F.max("day"), F.min("day")).cast("bigint").alias("t_max"),
    )
    halves = (
        daily.join(lims, "event_type")
        .groupBy("event_type")
        .agg(
            F.max("t0").alias("t0"),
            F.max("t_max").alias("t_max"),
            F.sum(
                F.when(F.datediff("day", "dmin") <= F.col("t0"), F.col("y")).otherwise(0)
            ).alias("c_pre"),
            F.sum(
                F.when(F.datediff("day", "dmin") > F.col("t0"), F.col("y")).otherwise(0)
            ).alias("c_post"),
        )
    )
    rr = (F.col("c_post").cast("double") / (F.col("t_max") - F.col("t0"))) / (
        F.col("c_pre").cast("double") / (F.col("t0") + 1)
    )
    zs = halves.select(
        "event_type",
        (F.log(rr) / F.sqrt(1.0 / F.col("c_pre") + 1.0 / F.col("c_post"))).alias("z"),
    )
    erf = F.expr(_ERFC_AS.format(x="abs(z) / sqrt(2.0)"))
    ps = zs.select(
        "event_type",
        "z",
        qround(F.least(F.lit(1.0), 1.0 - erf), 9).alias(
            "p"
        ),
    )
    wr = Window.orderBy("p", "event_type")
    ranked = ps.select(
        "event_type",
        "z",
        "p",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("m"),
    )
    wmin = Window.orderBy("rk").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    adj = ranked.select(
        "event_type",
        "z",
        "p",
        F.least(
            F.lit(1.0), F.min(F.col("p") * F.col("m") / F.col("rk")).over(wmin)
        ).alias("p_bh"),
    )
    return adj.select(
        "event_type",
        F.round("z", 6).alias("z_stat"),
        F.round("p", 6).alias("p_raw"),
        F.round("p_bh", 6).alias("p_bh"),
        (F.col("p_bh") <= 0.10).alias("reject_fdr10"),
    ).orderBy("event_type")


@register(
    "ml_ab_srm_check",
    oracle=f"""
WITH assign AS (
    SELECT user_id % 2 AS arm, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n
    FROM events GROUP BY 1
), w AS (
    SELECT SUM(CASE WHEN arm = 0 THEN n END) AS na,
           SUM(CASE WHEN arm = 1 THEN n END) AS nb,
           CAST(SUM(n) AS DOUBLE) AS tot
    FROM assign
), stat AS (
    SELECT na, nb,
           (na - tot / 2.0) * (na - tot / 2.0) / (tot / 2.0)
           + (nb - tot / 2.0) * (nb - tot / 2.0) / (tot / 2.0) AS chi2
    FROM w
)
SELECT CAST(na AS BIGINT) AS n_arm_a, CAST(nb AS BIGINT) AS n_arm_b,
       ROUND(chi2, 6) AS chi2,
       ROUND(1.0 - {_ERFC_AS.format(x="sqrt(chi2 / 2.0)")}, 6) AS p_value,
       (1.0 - {_ERFC_AS.format(x="sqrt(chi2 / 2.0)")}) < 0.001 AS srm_detected
FROM stat
""",
)
def ml_ab_srm_check(spark, sf_dir):
    """Sample-ratio-mismatch guard — the A/B platform's gatekeeper
    that must pass BEFORE ml_cuped/ml_diff_in_diff/ml_power_mde are
    allowed to speak: if the 50/50 assignment didn't land 50/50, the
    randomization is broken (bucketing bug, bot filter applied to one
    arm, redirect loss) and every downstream effect estimate is
    garbage. One-df chi-square on distinct-user arm counts, p-value
    via the chi-square(1) identity p = erfc(√(χ²/2)) through the
    shared portable A&S erf polynomial, flagged at the industry-
    standard p<0.001 (looser thresholds fire on every healthy
    experiment at dashboard scale). One distinct-count aggregate —
    the cheapest test in the suite guarding the most expensive
    mistake."""
    assign = (
        t(spark, sf_dir, "events")
        .select((F.col("user_id") % 2).alias("arm"), "user_id")
        .distinct()
        .groupBy("arm")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = assign.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.sum("n").cast("double").alias("tot"),
    )
    half = F.col("tot") / 2.0
    chi2 = (F.col("na") - half) * (F.col("na") - half) / half + (
        F.col("nb") - half
    ) * (F.col("nb") - half) / half
    stat = w.select(
        F.col("na").cast("bigint").alias("n_arm_a"),
        F.col("nb").cast("bigint").alias("n_arm_b"),
        chi2.alias("chi2"),
    )
    erfv = F.expr(_ERFC_AS.format(x="sqrt(chi2 / 2.0)"))
    return stat.select(
        "n_arm_a",
        "n_arm_b",
        F.round("chi2", 6).alias("chi2"),
        F.round(1.0 - erfv, 6).alias("p_value"),
        ((1.0 - erfv) < 0.001).alias("srm_detected"),
    )


@register(
    "ml_price_elasticity",
    oracle="""
WITH obs AS (
  SELECT p.p_brand AS brand,
         ln(CAST(l_quantity AS DOUBLE)) AS lq,
         ln(CAST(l_extendedprice AS DOUBLE) / CAST(l_quantity AS DOUBLE))
             AS lp
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l_quantity > 0 AND l_extendedprice > 0
), s AS (
  SELECT brand, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(FLOOR(lp * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 AS sx,
         CAST(SUM(CAST(FLOOR(lq * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 AS sy,
         CAST(SUM(CAST(FLOOR(lp * lp * 1e6 + 0.5) AS DECIMAL(38,12)))
              AS DOUBLE) / 1e6 AS sxx,
         CAST(SUM(CAST(FLOOR(lp * lq * 1e6 + 0.5) AS DECIMAL(38,12)))
              AS DOUBLE) / 1e6 AS sxy
  FROM obs GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n_obs,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS elasticity,
       ((n * sxy - sx * sy) / (n * sxx - sx * sx)) < -1.0 AS is_elastic
FROM s
""",
)
def ml_price_elasticity(spark, sf_dir):
    """Own-price elasticity of demand per brand — the log-log OLS slope
    d ln(quantity) / d ln(unit price), the pricing team's first
    regression: slope < −1 means revenue RISES when price falls
    (elastic), −1 < slope < 0 means raise prices. One lineitem→part
    join (broadcast on the projected 2-column partkey→brand side — at
    100 TB `part` is the dim of the star and this is the same broadcast
    discipline join_star asserts), then the slope comes from the five
    classic sufficient statistics (n, Σx, Σy, Σx², Σxy) in ONE
    map-side-combinable hash aggregate — no per-group iteration, no
    MLlib, no second pass; the closed form (nΣxy − ΣxΣy)/(nΣx² − (Σx)²)
    runs on the 25-row brand table. At 100 TB the single shuffle on
    brand is the whole cost. ln() terms quantize at 1e-6 into DECIMAL
    before summation (qdec discipline, DECIMAL(38,12) for the
    products) so both engines see identical sums."""
    li = t(spark, sf_dir, "lineitem").filter(
        (F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)
    )
    brand = F.broadcast(
        t(spark, sf_dir, "part").select("p_partkey", F.col("p_brand").alias("brand"))
    )
    lp = F.log(
        F.col("l_extendedprice").cast("double") / F.col("l_quantity").cast("double")
    )
    lq = F.log(F.col("l_quantity").cast("double"))

    def qsum_at(c, scale):
        return F.sum(
            F.floor(c * F.lit(1e6) + F.lit(0.5)).cast(f"decimal(38,{scale})")
        ).cast("double") / F.lit(1e6)

    s = (
        li.join(brand, F.col("l_partkey") == F.col("p_partkey"))
        .select("brand", lp.alias("lp"), lq.alias("lq"))
        .groupBy("brand")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            qsum_at(F.col("lp"), 6).alias("sx"),
            qsum_at(F.col("lq"), 6).alias("sy"),
            qsum_at(F.col("lp") * F.col("lp"), 12).alias("sxx"),
            qsum_at(F.col("lp") * F.col("lq"), 12).alias("sxy"),
        )
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        "brand",
        F.col("n").cast("bigint").alias("n_obs"),
        F.round(slope, 6).alias("elasticity"),
        (slope < -1.0).alias("is_elastic"),
    )


@register(
    "ml_cramers_v",
    oracle="""
WITH cells AS (
  SELECT o_orderpriority AS pr, o_orderstatus AS st,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2
), prs AS (SELECT DISTINCT o_orderpriority AS pr FROM orders),
sts AS (SELECT DISTINCT o_orderstatus AS st FROM orders),
grid AS (
  SELECT p.pr, s.st, COALESCE(c.c, 0) AS c
  FROM prs p CROSS JOIN sts s
  LEFT JOIN cells c ON c.pr = p.pr AND c.st = s.st
), tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n,
         CAST(COUNT(DISTINCT pr) AS DOUBLE) AS r,
         CAST(COUNT(DISTINCT st) AS DOUBLE) AS k
  FROM grid
), rowt AS (SELECT pr, CAST(SUM(c) AS DOUBLE) AS rt FROM grid GROUP BY pr),
colt AS (SELECT st, CAST(SUM(c) AS DOUBLE) AS ct FROM grid GROUP BY st),
terms AS (
  SELECT g.c, rowt.rt * colt.ct / tot.n AS e, tot.n, tot.r, tot.k
  FROM grid g JOIN rowt ON g.pr = rowt.pr JOIN colt ON g.st = colt.st, tot
), chi AS (
  SELECT MAX(n) AS n, MAX(r) AS r, MAX(k) AS k,
         CAST(SUM(CAST(FLOOR((c - e) * (c - e) / e * 1e6 + 0.5)
                       AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS chi2
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_orders,
       CAST((r - 1) * (k - 1) AS BIGINT) AS df,
       ROUND(chi2, 6) AS chi2,
       ROUND(sqrt(chi2 / (n * least(r - 1, k - 1))), 6) AS cramers_v,
       ROUND(sqrt(
         GREATEST(0.0, chi2 / n - (r - 1) * (k - 1) / (n - 1))
         / least(r - (r - 1) * (r - 1) / (n - 1) - 1,
                 k - (k - 1) * (k - 1) / (n - 1) - 1)), 6)
           AS cramers_v_corrected
FROM chi
""",
)
def ml_cramers_v(spark, sf_dir):
    """Cramér's V effect size for a categorical×categorical pair
    (order priority × order status) — ml_chi2 answers 'is there ANY
    association?'; V answers 'how MUCH?' on the comparable [0,1]
    scale, and at 100 TB that distinction is everything: with n in
    the billions, χ² rejects independence for microscopically small
    effects, so the p-value is useless and the EFFECT SIZE is the
    decision variable. Includes the Bergsma bias-corrected variant
    (φ² shrunk by its independence-expectation (r−1)(k−1)/(n−1),
    dimensions shrunk likewise) — plain V is biased upward on finite
    samples. The r×k grid is a generated spine (empty cells still
    pay their expected-count penalty); everything after the one
    groupBy is arithmetic on a ≤15-row broadcast frame."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pr"), F.col("o_orderstatus").alias("st")
    )
    cells = o.groupBy("pr", "st").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    prs = o.select("pr").distinct()
    sts = o.select("st").distinct()
    grid = ckpt(
        prs.crossJoin(F.broadcast(sts))
        .join(cells, ["pr", "st"], "left")
        .select("pr", "st", F.coalesce("c", F.lit(0)).alias("c"))
    )
    tot = grid.agg(
        F.sum("c").cast("double").alias("n"),
        F.countDistinct("pr").cast("double").alias("r"),
        F.countDistinct("st").cast("double").alias("k"),
    )
    rowt = grid.groupBy("pr").agg(F.sum("c").cast("double").alias("rt"))
    colt = grid.groupBy("st").agg(F.sum("c").cast("double").alias("ct"))
    e = F.col("rt") * F.col("ct") / F.col("n")
    terms = (
        grid.join(F.broadcast(rowt), "pr")
        .join(F.broadcast(colt), "st")
        .crossJoin(F.broadcast(tot))
        .select("c", e.alias("e"), "n", "r", "k")
    )
    chi = terms.agg(
        F.max("n").alias("n"),
        F.max("r").alias("r"),
        F.max("k").alias("k"),
        qsum(
            (F.col("c") - F.col("e")) * (F.col("c") - F.col("e")) / F.col("e")
        ).alias("chi2"),
    )
    n, r, k = F.col("n"), F.col("r"), F.col("k")
    phi2 = F.col("chi2") / n
    phi2c = F.greatest(F.lit(0.0), phi2 - (r - 1) * (k - 1) / (n - 1))
    rc = r - (r - 1) * (r - 1) / (n - 1)
    kc = k - (k - 1) * (k - 1) / (n - 1)
    return chi.select(
        n.cast("bigint").alias("n_orders"),
        ((r - 1) * (k - 1)).cast("bigint").alias("df"),
        F.round("chi2", 6).alias("chi2"),
        F.round(F.sqrt(F.col("chi2") / (n * F.least(r - 1, k - 1))), 6).alias(
            "cramers_v"
        ),
        F.round(F.sqrt(phi2c / F.least(rc - 1, kc - 1)), 6).alias(
            "cramers_v_corrected"
        ),
    )


@register(
    "ml_evalue_sequential",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, user_id % 2 AS arm,
         COUNT(*) AS n,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS k
  FROM events GROUP BY 1, 2
), wide AS (
  SELECT day,
         CAST(SUM(CASE WHEN arm = 0 THEN n END) AS DOUBLE) AS na,
         CAST(SUM(CASE WHEN arm = 0 THEN k END) AS DOUBLE) AS ka,
         CAST(SUM(CASE WHEN arm = 1 THEN n END) AS DOUBLE) AS nb,
         CAST(SUM(CASE WHEN arm = 1 THEN k END) AS DOUBLE) AS kb
  FROM daily GROUP BY day
), z AS (
  SELECT day,
         CASE WHEN na > 0 AND nb > 0
                   AND (ka + kb) > 0 AND (ka + kb) < (na + nb)
              THEN (ka / na - kb / nb)
                   / sqrt((ka + kb) / (na + nb)
                          * (1.0 - (ka + kb) / (na + nb))
                          * (1.0 / na + 1.0 / nb))
              ELSE 0.0 END AS zd
  FROM wide
), e AS (
  SELECT day, zd,
         SUM(CAST(FLOOR((0.25 * zd - 0.03125) * 1e6 + 0.5) AS DECIMAL(38,6)))
             OVER (ORDER BY day) AS cm
  FROM z
)
SELECT day, ROUND(zd, 6) AS z_stat,
       ROUND(CAST(cm AS DOUBLE) / 1e6, 6) AS log_e_cum,
       ROUND(exp(CAST(cm AS DOUBLE) / 1e6), 6) AS e_value,
       (MAX(CAST(cm AS DOUBLE) / 1e6) OVER (ORDER BY day)) >= ln(20.0)
           AS rejected_by_now
FROM e
""",
)
def ml_evalue_sequential(spark, sf_dir):
    """Anytime-valid sequential A/B test via an e-process — the modern
    answer to the peeking problem: classical p-values are only valid
    at ONE pre-registered look, but a dashboard is looked at daily,
    and peeking inflates false positives severalfold. An e-process
    E_t = Π exp(λ·z_d − λ²/2) (λ = 0.25) is a nonnegative
    supermartingale under H₀ (no arm difference), so by Ville's
    inequality P(sup E_t ≥ 1/α) ≤ α — reject whenever E_t ≥ 20 for
    α = 0.05, AT ANY TIME, no look budget, no alpha spending
    schedule. The per-day z is the standard pooled two-proportion
    score over the user-parity arms (same arm convention as
    ml_ab_srm_check); the running product is a cumulative SUM of
    1e-6-quantized log-terms in DECIMAL (exact, so both engines walk
    the identical trajectory), and `rejected_by_now` is the running
    max crossing ln 20 — once rejected, stays rejected, exactly the
    anytime-valid semantics. One day×arm aggregate + two ordered
    windows over the day table; at 100 TB the day table is tiny and
    the single events shuffle dominates."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, (F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("k"),
    )
    wide = daily.groupBy("day").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).cast("double").alias("na"),
        F.sum(F.when(F.col("arm") == 0, F.col("k"))).cast("double").alias("ka"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).cast("double").alias("nb"),
        F.sum(F.when(F.col("arm") == 1, F.col("k"))).cast("double").alias("kb"),
    )
    na, ka, nb, kb = (F.col(c) for c in ("na", "ka", "nb", "kb"))
    pp = (ka + kb) / (na + nb)
    zd = F.when(
        (na > 0) & (nb > 0) & ((ka + kb) > 0) & ((ka + kb) < (na + nb)),
        (ka / na - kb / nb)
        / F.sqrt(pp * (1.0 - pp) * (1.0 / na + 1.0 / nb)),
    ).otherwise(0.0)
    z = wide.select("day", zd.alias("zd"))
    wday = Window.orderBy("day")
    cm = (
        F.sum(
            qdec(F.lit(0.25) * F.col("zd") - F.lit(0.03125))
        ).over(wday)
    )
    e = z.select("day", "zd", (cm.cast("double") / F.lit(1e6)).alias("lec"))
    import math

    return e.select(
        "day",
        F.round("zd", 6).alias("z_stat"),
        F.round("lec", 6).alias("log_e_cum"),
        F.round(F.exp("lec"), 6).alias("e_value"),
        (F.max("lec").over(wday) >= F.lit(math.log(20.0))).alias("rejected_by_now"),
    )


# Shared NB scoring CTEs (through `scored`): one source of truth for
# ml_naive_bayes and the selection ops composing its per-class scores.
_NB_SCORED_SQL = """
WITH docs AS (
  SELECT doc_id, lang, string_split_regex(trim(text), '\\s+') AS words
  FROM documents WHERE length(trim(text)) > 0
), tok AS (
  SELECT doc_id, lang, unnest(words) AS word FROM docs
), counts AS (
  SELECT doc_id, lang, word, CAST(COUNT(*) AS BIGINT) AS n_dw
  FROM tok GROUP BY 1, 2, 3
), train AS (SELECT * FROM counts WHERE doc_id % 2 = 0),
test AS (SELECT * FROM counts WHERE doc_id % 2 = 1),
classes AS (
  SELECT lang AS c, CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n_docs,
         CAST(SUM(n_dw) AS DOUBLE) AS tot_c
  FROM train GROUP BY lang
), n_train AS (
  SELECT CAST(COUNT(DISTINCT doc_id) AS DOUBLE) AS n FROM train
), vocab AS (SELECT DISTINCT word FROM train),
v_size AS (SELECT CAST(COUNT(*) AS DOUBLE) AS v FROM vocab),
cw AS (
  SELECT c.c, v.word,
         CAST(FLOOR(ln((COALESCE(t.n_wc, 0) + 1.0) / (c.tot_c + vs.v))
                    * 1e6 + 0.5) AS DECIMAL(38,6)) AS ll_q
  FROM classes c CROSS JOIN vocab v CROSS JOIN v_size vs
  LEFT JOIN (
    SELECT lang AS c, word, CAST(SUM(n_dw) AS DOUBLE) AS n_wc
    FROM train GROUP BY 1, 2
  ) t ON t.c = c.c AND t.word = v.word
), priors AS (
  SELECT c.c,
         CAST(FLOOR(ln(c.n_docs / nt.n) * 1e6 + 0.5) AS DECIMAL(38,6)) AS pr_q
  FROM classes c, n_train nt
), scored AS (
  SELECT te.doc_id, te.lang AS actual, cw.c,
         MAX(pr.pr_q) + SUM(te.n_dw * cw.ll_q) AS score_q
  FROM test te
  JOIN cw ON cw.word = te.word
  JOIN priors pr ON pr.c = cw.c
  GROUP BY 1, 2, 3
)
"""


@register(
    "ml_naive_bayes",
    oracle=_NB_SCORED_SQL
    + """, ranked AS (
  SELECT doc_id, actual, c AS predicted, score_q,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_q DESC, c ASC) AS rn
  FROM scored
)
SELECT doc_id, predicted, actual, predicted = actual AS correct,
       ROUND(CAST(score_q AS DOUBLE) / 1e6, 6) AS log_score
FROM ranked WHERE rn = 1
""",
)
def ml_naive_bayes(spark, sf_dir):
    """Multinomial Naive Bayes language classifier — trained on even
    doc_ids, scored on odd (the repo's deterministic split
    convention), Laplace α = 1. The distinctive thing versus the
    MLlib stages (ml_train/ml_rf): NB's entire fit IS relational
    algebra — priors and smoothed word likelihoods are two GROUP BYs,
    scoring is one join + one sum, argmax is one window — so this is
    a FULL value twin (DuckDB re-derives the identical model), not an
    anchor contract. Every log-probability is 1e-6-quantized into
    DECIMAL before the per-document sum (n_dw × quantized-ll is exact
    integer math), making the argmax comparison exact in both engines
    (ties break by class name). Scale shape: the likelihood table is
    vocab×classes (bounded, broadcastable); test tokens shuffle ONCE
    on word for the scoring join, then once on (doc, class) — the
    classic distributed-NB plan. Words unseen in training score the
    smoothed 1/(tot_c+V) floor via the LEFT-join COALESCE; test-only
    words outside the train vocab drop out of the inner scoring join
    in both engines identically."""
    scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.col("score_q").desc(), F.col("c").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("c").alias("predicted"),
            "actual",
            (F.col("c") == F.col("actual")).alias("correct"),
            F.round(F.col("score_q").cast("double") / F.lit(1e6), 6).alias(
                "log_score"
            ),
        )
    )


def _nb_scored(spark, sf_dir):
    """Per-(doc, class) quantized NB log-scores — the model surface
    shared by ml_naive_bayes (argmax) and llm_uncertainty_sample
    (margin). Twin of the _NB_SCORED_SQL CTE prefix."""
    d = t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    tok = d.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim("text"), r"\s+")).alias("word"),
    )
    counts = ckpt(
        tok.groupBy("doc_id", "lang", "word").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dw")
        )
    )
    train = counts.filter(F.col("doc_id") % 2 == 0)
    test = counts.filter(F.col("doc_id") % 2 == 1)
    classes = train.groupBy(F.col("lang").alias("c")).agg(
        F.countDistinct("doc_id").cast("double").alias("n_docs"),
        F.sum("n_dw").cast("double").alias("tot_c"),
    )
    n_train = train.agg(F.countDistinct("doc_id").cast("double").alias("n"))
    vocab = train.select("word").distinct()
    v_size = vocab.agg(F.count(F.lit(1)).cast("double").alias("v"))
    n_wc = train.groupBy(F.col("lang").alias("c"), "word").agg(
        F.sum("n_dw").cast("double").alias("n_wc")
    )
    cw = (
        classes.crossJoin(vocab)
        .crossJoin(F.broadcast(v_size))
        .join(n_wc, ["c", "word"], "left")
        .select(
            "c",
            "word",
            qdec(
                F.log(
                    (F.coalesce(F.col("n_wc"), F.lit(0.0)) + 1.0)
                    / (F.col("tot_c") + F.col("v"))
                )
            ).alias("ll_q"),
        )
    )
    priors = classes.crossJoin(F.broadcast(n_train)).select(
        "c", qdec(F.log(F.col("n_docs") / F.col("n"))).alias("pr_q")
    )
    return (
        test.join(cw, "word")
        .join(F.broadcast(priors), "c")
        .groupBy("doc_id", F.col("lang").alias("actual"), "c")
        .agg(
            (F.max("pr_q") + F.sum(F.col("n_dw") * F.col("ll_q"))).alias("score_q")
        )
    )


_TOST_PHI = "(0.5 * (1.0 + {erf}))"


@register(
    "ml_tost_equivalence",
    oracle=f"""
WITH arms AS (
  SELECT user_id % 2 AS arm, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DOUBLE) AS k
  FROM events GROUP BY 1
), wide AS (
  SELECT MAX(CASE WHEN arm = 0 THEN n END) AS na,
         MAX(CASE WHEN arm = 0 THEN k END) AS ka,
         MAX(CASE WHEN arm = 1 THEN n END) AS nb,
         MAX(CASE WHEN arm = 1 THEN k END) AS kb
  FROM arms
), stat AS (
  SELECT na, nb, ka / na - kb / nb AS diff,
         sqrt(ka / na * (1.0 - ka / na) / na
              + kb / nb * (1.0 - kb / nb) / nb) AS se
  FROM wide
), zz AS (
  SELECT na, nb, diff, se,
         (diff + 0.02) / se AS z1, (diff - 0.02) / se AS z2
  FROM stat
), pp AS (
  SELECT na, nb, diff, se,
         1.0 - {_TOST_PHI.format(erf=_ERFC_AS.format(x="(z1) / sqrt(2.0)"))}
             AS p_lower,
         {_TOST_PHI.format(erf=_ERFC_AS.format(x="(z2) / sqrt(2.0)"))}
             AS p_upper
  FROM zz
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(diff, 6) AS rate_diff, ROUND(se, 6) AS se,
       ROUND(p_lower, 6) AS p_lower, ROUND(p_upper, 6) AS p_upper,
       ROUND(GREATEST(p_lower, p_upper), 6) AS p_tost,
       GREATEST(p_lower, p_upper) < 0.05 AS equivalent
FROM pp
""",
)
def ml_tost_equivalence(spark, sf_dir):
    """TOST equivalence test — the question classical A/B testing
    CANNOT answer: 'is the new variant AS GOOD AS control?' A
    non-significant difference test is NOT evidence of equivalence
    (absence of evidence ≠ evidence of absence); TOST inverts the
    burden: two one-sided z-tests against a ±2pp margin, and only if
    BOTH rejections land (p_tost = max of the two one-sided p's
    < α) is the conversion-rate difference provably inside the
    margin. This is the FDA-bioequivalence machinery applied to the
    do-no-harm launch gate. Arms are the user-parity convention of
    ml_ab_srm_check; Φ is spelled through the SAME A&S erf
    polynomial as ml_bh_fdr in both engines (identical special
    function or none). One events aggregate; everything after is
    1-row arithmetic."""
    ev = t(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("double")
        .alias("k"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.max(F.when(F.col("arm") == 0, F.col("k"))).alias("ka"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
        F.max(F.when(F.col("arm") == 1, F.col("k"))).alias("kb"),
    )
    stat = wide.select(
        "na",
        "nb",
        (F.col("ka") / F.col("na") - F.col("kb") / F.col("nb")).alias("diff"),
        F.sqrt(
            F.col("ka") / F.col("na") * (1.0 - F.col("ka") / F.col("na")) / F.col("na")
            + F.col("kb") / F.col("nb") * (1.0 - F.col("kb") / F.col("nb")) / F.col("nb")
        ).alias("se"),
    )
    zz = stat.select(
        "na",
        "nb",
        "diff",
        "se",
        ((F.col("diff") + 0.02) / F.col("se")).alias("z1"),
        ((F.col("diff") - 0.02) / F.col("se")).alias("z2"),
    )
    phi1 = F.expr(_TOST_PHI.format(erf=_ERFC_AS.format(x="(z1) / sqrt(2.0)")))
    phi2 = F.expr(_TOST_PHI.format(erf=_ERFC_AS.format(x="(z2) / sqrt(2.0)")))
    pp = zz.select(
        "na",
        "nb",
        "diff",
        "se",
        (F.lit(1.0) - phi1).alias("p_lower"),
        phi2.alias("p_upper"),
    )
    return pp.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round("diff", 6).alias("rate_diff"),
        F.round("se", 6).alias("se"),
        F.round("p_lower", 6).alias("p_lower"),
        F.round("p_upper", 6).alias("p_upper"),
        F.round(F.greatest("p_lower", "p_upper"), 6).alias("p_tost"),
        (F.greatest("p_lower", "p_upper") < 0.05).alias("equivalent"),
    )


def _mcnemar_oracle() -> str:
    # Compose the two classifiers' REGISTERED oracle texts verbatim —
    # single source of truth, so a fix to either classifier's twin
    # propagates here instead of silently diverging.
    from . import llm  # noqa: F401  (guarantee llm_langid is registered)
    from ..registry import ORACLES

    return f"""
WITH nb AS ({ORACLES["ml_naive_bayes"]}),
li AS ({ORACLES["llm_langid"]}),
paired AS (
  SELECT nb.correct AS nb_ok, li.pred_lang = li.true_lang AS li_ok
  FROM nb JOIN li ON nb.doc_id = li.doc_id
), counts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN nb_ok THEN 1 ELSE 0 END) AS BIGINT) AS nb_correct,
         CAST(SUM(CASE WHEN li_ok THEN 1 ELSE 0 END) AS BIGINT) AS li_correct,
         CAST(SUM(CASE WHEN nb_ok AND NOT li_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS b_disc,
         CAST(SUM(CASE WHEN NOT nb_ok AND li_ok THEN 1 ELSE 0 END) AS BIGINT)
             AS c_disc
  FROM paired
), stat AS (
  SELECT n_pairs, nb_correct, li_correct, b_disc, c_disc,
         CASE WHEN b_disc + c_disc > 0 THEN
           (abs(CAST(b_disc AS DOUBLE) - c_disc) - 1.0)
           * (abs(CAST(b_disc AS DOUBLE) - c_disc) - 1.0)
           / (b_disc + c_disc)
         ELSE 0.0 END AS chi2
  FROM counts
)
SELECT n_pairs, nb_correct, li_correct, b_disc, c_disc,
       ROUND(chi2, 6) AS chi2,
       ROUND(CASE WHEN b_disc + c_disc > 0
             THEN 1.0 - {_ERFC_AS.format(x="sqrt(chi2 / 2.0)")}
             ELSE 1.0 END, 6) AS p_value,
       (CASE WHEN b_disc + c_disc > 0
             THEN 1.0 - {_ERFC_AS.format(x="sqrt(chi2 / 2.0)")}
             ELSE 1.0 END) < 0.05 AS classifiers_differ
FROM stat
"""


@register("ml_mcnemar_paired", oracle=_mcnemar_oracle())
def ml_mcnemar_paired(spark, sf_dir):
    """McNemar's paired test over the engine's own two language
    classifiers — the CORRECT way to compare models scored on the
    SAME test documents (two independent-proportion z-tests are wrong
    there: the per-document pairing is the information). Composition
    is the point: the Spark side literally calls ml_naive_bayes() and
    llm_langid() and joins their outputs (operators as reusable
    building blocks), and the DuckDB twin splices both classifiers'
    REGISTERED oracle texts as CTEs, so neither side re-implements
    anything. Only the discordant pairs carry signal: χ² =
    (|b−c|−1)²/(b+c) with continuity correction, p via the shared
    A&S erf polynomial (same spelling as ml_ab_srm_check), p = 1 when
    the classifiers never disagree. One broadcast-sized join over
    per-doc predictions."""
    from .llm import llm_langid

    nb = ml_naive_bayes(spark, sf_dir).select("doc_id", "correct")
    li = llm_langid(spark, sf_dir).select("doc_id", "pred_lang", "true_lang")
    paired = nb.join(li, "doc_id").select(
        F.col("correct").alias("nb_ok"),
        (F.col("pred_lang") == F.col("true_lang")).alias("li_ok"),
    )
    counts = paired.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("nb_ok"), 1).otherwise(0)).cast("bigint").alias("nb_correct"),
        F.sum(F.when(F.col("li_ok"), 1).otherwise(0)).cast("bigint").alias("li_correct"),
        F.sum(F.when(F.col("nb_ok") & ~F.col("li_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("b_disc"),
        F.sum(F.when(~F.col("nb_ok") & F.col("li_ok"), 1).otherwise(0))
        .cast("bigint")
        .alias("c_disc"),
    )
    bc = F.col("b_disc") + F.col("c_disc")
    ad = F.abs(F.col("b_disc").cast("double") - F.col("c_disc"))
    stat = counts.select(
        "n_pairs",
        "nb_correct",
        "li_correct",
        "b_disc",
        "c_disc",
        F.when(bc > 0, (ad - 1.0) * (ad - 1.0) / bc).otherwise(0.0).alias("chi2"),
    )
    p = F.when(
        F.col("b_disc") + F.col("c_disc") > 0,
        1.0 - F.expr(_ERFC_AS.format(x="sqrt(chi2 / 2.0)")),
    ).otherwise(1.0)
    return stat.select(
        "n_pairs",
        "nb_correct",
        "li_correct",
        "b_disc",
        "c_disc",
        F.round("chi2", 6).alias("chi2"),
        F.round(p, 6).alias("p_value"),
        (p < 0.05).alias("classifiers_differ"),
    )


@register(
    "ml_cox_score",
    oracle=f"""
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           CAST(COUNT(*) AS BIGINT) AS xn
    FROM events GROUP BY user_id
), h AS (SELECT MAX(last_ts) AS hz FROM per_user),
users AS (
    SELECT (epoch_us(last_ts) - epoch_us(first_ts)) // 3600000000 AS t_hours,
           CASE WHEN last_ts < h.hz - INTERVAL 12 HOUR THEN 1 ELSE 0 END AS churned,
           xn
    FROM per_user, h
), grp AS (
    SELECT t_hours, CAST(COUNT(*) AS BIGINT) AS c,
           CAST(SUM(churned) AS BIGINT) AS d,
           CAST(SUM(xn) AS BIGINT) AS sx,
           CAST(SUM(xn * xn) AS BIGINT) AS sx2,
           CAST(SUM(CASE WHEN churned = 1 THEN xn ELSE 0 END) AS BIGINT) AS sdx
    FROM users GROUP BY 1
), risk AS (
    SELECT t_hours, d, sdx,
           SUM(c)   OVER (ORDER BY t_hours DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_r,
           SUM(sx)  OVER (ORDER BY t_hours DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rsx,
           SUM(sx2) OVER (ORDER BY t_hours DESC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rsx2
    FROM grp
), terms AS (
    SELECT CAST(sdx AS DOUBLE)
               - d * (CAST(rsx AS DOUBLE) / CAST(n_r AS DOUBLE)) AS u_j,
           d * (CAST(rsx2 AS DOUBLE) / CAST(n_r AS DOUBLE)
                - (CAST(rsx AS DOUBLE) / CAST(n_r AS DOUBLE))
                  * (CAST(rsx AS DOUBLE) / CAST(n_r AS DOUBLE))) AS v_j
    FROM risk WHERE d > 0
), sums AS (
    SELECT CAST(SUM(CAST(FLOOR(u_j * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 AS u,
           CAST(SUM(CAST(FLOOR(v_j * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 AS v,
           CAST(COUNT(*) AS BIGINT) AS n_event_times
    FROM terms
)
SELECT n_event_times,
       FLOOR(u * 1000000 + 0.5) / 1000000 AS u,
       FLOOR(v * 1000000 + 0.5) / 1000000 AS v,
       FLOOR(u * u / v * 1000000 + 0.5) / 1000000 AS chi2,
       FLOOR(u / sqrt(v) * 1000000 + 0.5) / 1000000 AS z_stat,
       FLOOR((1.0 - {_ERFC_AS.format(x="sqrt(u * u / v / 2.0)")})
             * 1000000 + 0.5) / 1000000 AS p_value
FROM sums
""",
)
def ml_cox_score(spark, sf_dir):
    """Cox proportional-hazards SCORE test (beta=0) for a CONTINUOUS
    covariate — 'does activity volume shift the churn hazard?' — the
    generalization the log-rank test (its binary-group special case)
    can't ask. At each churn time: U_j = (sum of x over churners) -
    d_j * mean(x | at risk), V_j = d_j * Var(x | at risk), Breslow
    handling for ties; chi2 = U^2/V on 1 df. The scalable shape is the
    point: at-risk moments are SUFFIX SUMS over the tenure-grain
    aggregate — one window ordered by tenure DESC replaces the
    time-grid x risk-set join the naive formulation needs (O(T x N)
    -> O(T log T) after the single user-grain fact aggregate). The
    covariate is the integer per-user event count, so every risk-set
    moment is an EXACT BIGINT until the per-time mean/variance — float
    enters only at O(event-times) scalar divisions, then q12-DECIMAL
    summed. Same tenure/censoring frame as ml_logrank_test; p via the
    shared A&S erf polynomial."""
    users = _tenure(spark, sf_dir, F.count(F.lit(1)).cast("bigint").alias("xn")).select(
        F.col("tenure").alias("t_hours"), "churned", "xn"
    )
    grp = users.groupBy("t_hours").agg(
        F.count(F.lit(1)).cast("bigint").alias("c"),
        F.sum("churned").cast("bigint").alias("d"),
        F.sum("xn").cast("bigint").alias("sx"),
        F.sum(F.col("xn") * F.col("xn")).cast("bigint").alias("sx2"),
        F.sum(F.when(F.col("churned") == 1, F.col("xn")).otherwise(0))
        .cast("bigint")
        .alias("sdx"),
    )
    w = Window.orderBy(F.desc("t_hours")).rowsBetween(Window.unboundedPreceding, 0)
    risk = grp.select(
        "d",
        "sdx",
        F.sum("c").over(w).alias("n_r"),
        F.sum("sx").over(w).alias("rsx"),
        F.sum("sx2").over(w).alias("rsx2"),
    )
    xbar = F.col("rsx").cast("double") / F.col("n_r").cast("double")
    terms = risk.filter(F.col("d") > 0).select(
        (F.col("sdx").cast("double") - F.col("d") * xbar).alias("u_j"),
        (
            F.col("d")
            * (F.col("rsx2").cast("double") / F.col("n_r").cast("double") - xbar * xbar)
        ).alias("v_j"),
    )
    sums = terms.agg(
        qsum(F.col("u_j"), 12).alias("u"),
        qsum(F.col("v_j"), 12).alias("v"),
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
    )
    chi2 = F.col("u") * F.col("u") / F.col("v")
    return sums.select(
        "n_event_times",
        qround(F.col("u")).alias("u"),
        qround(F.col("v")).alias("v"),
        qround(chi2).alias("chi2"),
        qround(F.col("u") / F.sqrt("v")).alias("z_stat"),
        qround(
            F.lit(1.0) - F.expr(_ERFC_AS.format(x="sqrt(u * u / v / 2.0)"))
        ).alias("p_value"),
    )


def _poisson_glm_oracle(iters: int = 4) -> str:
    """Chained-CTE Newton-Raphson twin: it{i} updates (b0, b1) from the
    five q12-DECIMAL moment sums of iteration i-1 — textually identical
    update arithmetic to the Spark loop."""
    ctes = [
        """data AS MATERIALIZED (
    SELECT CAST(COALESCE(o.cnt, 0) AS DOUBLE) AS y,
           CAST(c_acctbal AS DOUBLE) / 1000.0 AS z
    FROM customer c
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS cnt FROM orders GROUP BY 1) o
        ON o.o_custkey = c.c_custkey
)""",
        # Newton from (0, 0) oscillates when exp() overshoots on the
        # balance tail; the standard GLM start b0 = ln(mean y) lands in
        # the quadratic-convergence basin (measured: |grad|/n < 1e-3
        # after 4 steps, vs ~4e2 from the origin).
        """it0 AS (
    SELECT FLOOR(ln(CAST(SUM(CAST(y AS BIGINT)) AS DOUBLE) / COUNT(*))
                 * 1e9 + 0.5) / 1e9 AS b0,
           0.0 AS b1
    FROM data
)""",
    ]
    q12sum = (
        "CAST(SUM(CAST(FLOOR(({expr}) * 1e12 + 0.5) AS DECIMAL(38,12)))"
        " AS DOUBLE) / 1e12"
    )
    mu = "(FLOOR(exp(b0 + b1 * z) * 1e12 + 0.5) / 1e12)"
    for i in range(1, iters + 1):
        ctes.append(
            f"""s{i} AS (
    SELECT b0, b1,
           {q12sum.format(expr=f'y - {mu}')} AS g0,
           {q12sum.format(expr=f'z * (y - {mu})')} AS g1,
           {q12sum.format(expr=mu)} AS h00,
           {q12sum.format(expr=f'z * {mu}')} AS h01,
           {q12sum.format(expr=f'z * z * {mu}')} AS h11
    FROM data, it{i - 1} GROUP BY 1, 2
)""",
        )
        ctes.append(
            f"""it{i} AS (
    SELECT b0 + (h11 * g0 - h01 * g1) / (h00 * h11 - h01 * h01) AS b0,
           b1 + (h00 * g1 - h01 * g0) / (h00 * h11 - h01 * h01) AS b1
    FROM s{i}
)""",
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       FLOOR(ANY_VALUE(b0) * 1000000 + 0.5) / 1000000 AS b0,
       FLOOR(ANY_VALUE(b1) * 1000000 + 0.5) / 1000000 AS b1,
       FLOOR({q12sum.format(expr=f'2.0 * ((CASE WHEN y > 0 THEN y * (FLOOR(ln(y / {mu}) * 1e9 + 0.5) / 1e9) ELSE 0.0 END) - (y - {mu}))')}
             * 1000000 + 0.5) / 1000000 AS deviance,
       CAST({iters} AS BIGINT) AS iterations
FROM data, it{iters}
"""
    )


@register("ml_poisson_glm", oracle=_poisson_glm_oracle())
def ml_poisson_glm(spark, sf_dir):
    """Poisson GLM (log link) of per-customer order COUNTS on account
    balance — the correct regression family for count responses, where
    OLS (ml_price_elasticity's family) gets both the variance and the
    support wrong. Four statically-unrolled Newton-Raphson steps from
    beta = 0; each step is ONE aggregate over the per-customer frame
    computing the five moment sums (gradient + Hessian of the Poisson
    log-likelihood), with the 1-row parameter state BROADCAST back in —
    no collect, no Python loop state beyond plan construction, so the
    whole fit is 5 scans of a table that is already one fact-aggregate
    smaller than orders (ckpt'd once for its 5 consumers). Cross-engine
    discipline: exp/ln quantized (1e-12 / 1e-9) before entering sums,
    every sum rides q12 DECIMAL, and the 2x2 Cramer solve is spelled
    identically on both sides, so the parameter trajectory is
    bit-stable. Reports the deviance 2*sum(y ln(y/mu) - (y - mu)) as
    the fit statistic."""
    o = t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    data = ckpt(
        c.join(o, c["c_custkey"] == o["o_custkey"], "left").select(
            F.coalesce("cnt", F.lit(0)).cast("double").alias("y"),
            (F.col("c_acctbal").cast("double") / F.lit(1000.0)).alias("z"),
        )
    )
    params = data.agg(
        qround(
            F.log(F.sum(F.col("y").cast("bigint")).cast("double") / F.count(F.lit(1))),
            9,
        ).alias("b0"),
        F.lit(0.0).alias("b1"),
    )
    for _ in range(4):
        mu = qround(F.exp(F.col("b0") + F.col("b1") * F.col("z")), 12)
        s = (
            data.crossJoin(F.broadcast(params))
            .groupBy("b0", "b1")
            .agg(
                qsum(F.col("y") - mu, 12).alias("g0"),
                qsum(F.col("z") * (F.col("y") - mu), 12).alias("g1"),
                qsum(mu, 12).alias("h00"),
                qsum(F.col("z") * mu, 12).alias("h01"),
                qsum(F.col("z") * F.col("z") * mu, 12).alias("h11"),
            )
        )
        det = F.col("h00") * F.col("h11") - F.col("h01") * F.col("h01")
        params = s.select(
            (F.col("b0") + (F.col("h11") * F.col("g0") - F.col("h01") * F.col("g1")) / det).alias("b0"),
            (F.col("b1") + (F.col("h00") * F.col("g1") - F.col("h01") * F.col("g0")) / det).alias("b1"),
        )
    mu = qround(F.exp(F.col("b0") + F.col("b1") * F.col("z")), 12)
    dev_term = F.lit(2.0) * (
        F.when(
            F.col("y") > 0,
            F.col("y")
            * qround(F.log(F.col("y") / mu), 9),
        ).otherwise(F.lit(0.0))
        - (F.col("y") - mu)
    )
    return (
        data.crossJoin(F.broadcast(params))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.any_value("b0").alias("_b0"),
            F.any_value("b1").alias("_b1"),
            qsum(dev_term, 12).alias("_dev"),
        )
        .select(
            "n_customers",
            qround(F.col("_b0")).alias("b0"),
            qround(F.col("_b1")).alias("b1"),
            qround(F.col("_dev")).alias("deviance"),
            F.lit(4).cast("bigint").alias("iterations"),
        )
    )


@register(
    "ml_doubly_robust",
    oracle="""
WITH logs AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE)
               AS reward,
           COUNT(*) AS ne,
           CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':act'), 1, 6))
                     ::BIGINT % 100 < 30 THEN 1 ELSE 0 END AS logged_action
    FROM events GROUP BY user_id
), policy AS (
    SELECT user_id, reward, logged_action,
           CASE WHEN logged_action = 1 THEN 0.3 ELSE 0.7 END AS mu,
           CASE WHEN ne >= 10 THEN 1 ELSE 0 END AS bucket,
           CASE WHEN ne >= 10 THEN 1 ELSE 0 END AS pi_action
    FROM logs
), cells AS (
    SELECT logged_action AS action, bucket,
           CAST(SUM(CAST(reward AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS qhat
    FROM policy GROUP BY 1, 2
), terms AS (
    SELECT p.reward,
           qp.qhat AS q_pi,
           qa.qhat AS q_a,
           CASE WHEN p.pi_action = p.logged_action THEN 1.0 / p.mu ELSE 0.0 END AS w
    FROM policy p
    JOIN cells qp ON qp.action = p.pi_action AND qp.bucket = p.bucket
    JOIN cells qa ON qa.action = p.logged_action AND qa.bucket = p.bucket
), sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(q_pi * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS sdm,
           CAST(SUM(CAST(FLOOR(w * reward * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS sips,
           CAST(SUM(CAST(FLOOR((q_pi + w * (reward - q_a)) * 1e6 + 0.5)
                         AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sdr
    FROM terms
)
SELECT n AS n_users,
       ROUND(sdm / n, 6) AS dm_value,
       ROUND(sips / n, 6) AS ips_value,
       ROUND(sdr / n, 6) AS dr_value,
       ROUND(sdr / n - sdm / n, 6) AS ips_correction
FROM sums
""",
)
def ml_doubly_robust(spark, sf_dir):
    """Doubly-robust off-policy value estimate (Dudik, Langford & Li
    2011) — completes the counterfactual-evaluation family:
    ml_ips_offpolicy is unbiased but high-variance, the direct method
    is low-variance but biased when the outcome model is wrong; DR =
    q(x, pi(x)) + w * (r - q(x, a)) is unbiased if EITHER leg is
    right. Same logged bandit frame as the IPS op (seeded md5 action,
    known mu, deterministic target policy) so the two estimators are
    directly comparable; the outcome model q is the honest relational
    one — per-(action, engagement-bucket) mean reward, i.e. one
    4-cell aggregate JOINed back twice (broadcast — the model table is
    O(cells) at any scale). All three estimators ride one q6-DECIMAL
    sum pass; reports DM, IPS, DR and the DR-DM correction so the
    variance/bias trade is visible in the output."""
    e = t(spark, sf_dir, "events")
    logs = e.groupBy("user_id").agg(
        revenue().alias("reward"),
        F.count(F.lit(1)).alias("ne"),
    )
    policy = ckpt(
        logs.select(
            "reward",
            (
                F.conv(
                    F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":act"))), 1, 6),
                    16,
                    10,
                ).cast("bigint")
                % 100
                < 30
            )
            .cast("int")
            .alias("logged_action"),
            (F.col("ne") >= 10).cast("int").alias("bucket"),
            (F.col("ne") >= 10).cast("int").alias("pi_action"),
        ).withColumn(
            "mu", F.when(F.col("logged_action") == 1, F.lit(0.3)).otherwise(F.lit(0.7))
        )
    )
    cells = policy.groupBy(
        F.col("logged_action").alias("action"), F.col("bucket").alias("cbucket")
    ).agg(
        (dsum(F.col("reward")) / F.count(F.lit(1))).alias("qhat")
    )
    qp = cells.select(
        F.col("action").alias("pi_action"),
        F.col("cbucket").alias("bucket"),
        F.col("qhat").alias("q_pi"),
    )
    qa = cells.select(
        F.col("action").alias("logged_action"),
        F.col("cbucket").alias("bucket"),
        F.col("qhat").alias("q_a"),
    )
    terms = (
        policy.join(F.broadcast(qp), ["pi_action", "bucket"])
        .join(F.broadcast(qa), ["logged_action", "bucket"])
        .select(
            "reward",
            "q_pi",
            "q_a",
            F.when(F.col("pi_action") == F.col("logged_action"), F.lit(1.0) / F.col("mu"))
            .otherwise(F.lit(0.0))
            .alias("w"),
        )
    )
    sums = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        qsum(F.col("q_pi")).alias("sdm"),
        qsum(F.col("w") * F.col("reward")).alias("sips"),
        qsum(F.col("q_pi") + F.col("w") * (F.col("reward") - F.col("q_a"))).alias("sdr"),
    )
    return sums.select(
        F.col("n").alias("n_users"),
        F.round(F.col("sdm") / F.col("n"), 6).alias("dm_value"),
        F.round(F.col("sips") / F.col("n"), 6).alias("ips_value"),
        F.round(F.col("sdr") / F.col("n"), 6).alias("dr_value"),
        F.round(F.col("sdr") / F.col("n") - F.col("sdm") / F.col("n"), 6).alias(
            "ips_correction"
        ),
    )


def _bradley_terry_oracle(iters: int = 4) -> str:
    """Unrolled MM-iteration CTEs (Hunter 2004), textually mirroring the
    Spark driver loop: r{i} from the q12-quantized pair terms of
    r{i-1}, sum-normalized each round."""
    ctes = [
        """bq AS MATERIALIZED (
    SELECT l_orderkey AS ok, p_brand AS brand, CAST(SUM(l_quantity) AS BIGINT) AS q
    FROM lineitem JOIN part ON p_partkey = l_partkey
    GROUP BY 1, 2
)""",
        """pw AS MATERIALIZED (
    SELECT a.brand AS ba, b.brand AS bb,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN a.q > b.q THEN 1 ELSE 0 END) AS BIGINT) AS wa
    FROM bq a JOIN bq b ON a.ok = b.ok AND a.brand < b.brand
    WHERE a.q <> b.q
    GROUP BY 1, 2
)""",
        """wtot AS MATERIALIZED (
    SELECT brand, SUM(w_s) AS w_s, CAST(SUM(nn) AS BIGINT) AS games,
           CAST(SUM(wraw) AS BIGINT) AS wins
    FROM (
        SELECT ba AS brand, wa + 0.5 AS w_s, n AS nn, wa AS wraw FROM pw
        UNION ALL
        SELECT bb, (n - wa) + 0.5, n, n - wa FROM pw
    ) GROUP BY 1
)""",
        "r0 AS MATERIALIZED (SELECT brand, 1.0 AS r FROM wtot)",
    ]
    for i in range(1, iters + 1):
        ctes.append(
            f"""t{i} AS MATERIALIZED (
    SELECT ba, bb, FLOOR((n + 1.0) / (ra.r + rb.r) * 1e12 + 0.5) AS tq
    FROM pw
    JOIN r{i - 1} ra ON ra.brand = ba
    JOIN r{i - 1} rb ON rb.brand = bb
)""",
        )
        ctes.append(
            f"""raw{i} AS MATERIALIZED (
    SELECT d.brand, w.w_s / d.denom AS raw
    FROM (
        SELECT brand, CAST(SUM(CAST(tq AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS denom
        FROM (
            SELECT ba AS brand, tq FROM t{i}
            UNION ALL
            SELECT bb, tq FROM t{i}
        ) GROUP BY 1
    ) d JOIN wtot w ON w.brand = d.brand
)""",
        )
        ctes.append(
            f"""r{i} AS MATERIALIZED (
    SELECT brand,
           FLOOR(raw / (SELECT CAST(SUM(CAST(FLOOR(raw * 1e12 + 0.5)
                                             AS DECIMAL(38,12))) AS DOUBLE) / 1e12
                        FROM raw{i}) * 1e12 + 0.5) / 1e12 AS r
    FROM raw{i}
)""",
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT w.brand, w.games, w.wins,
       FLOOR(r.r * 1000000 + 0.5) / 1000000 AS rating,
       CAST(ROW_NUMBER() OVER (ORDER BY r.r DESC, w.brand) AS BIGINT) AS rank
FROM wtot w JOIN r{iters} r ON r.brand = w.brand
"""
    )


@register("ml_bradley_terry", oracle=_bradley_terry_oracle())
def ml_bradley_terry(spark, sf_dir):
    """Bradley-Terry strength ratings from pairwise outcomes — THE model
    behind preference learning (RLHF reward models, chess Elo's
    cousin, ranker evaluation). Comparisons are mined relationally:
    within each order, brand A 'beats' brand B when its basket
    quantity is strictly larger (one bounded self-join per order — the
    same ~6-pairs-per-order fan-out as the co-purchase graph), then
    Hunter's 2004 MM algorithm runs 4 unrolled rounds: r_i <-
    W_i / sum_j n_ij/(r_i + r_j), sum-normalized each round. Each
    round is ONE broadcast join of the O(brands^2) pair table against
    the O(brands) rating vector plus one keyed aggregate — never
    touching the fact table again. Laplace smoothing (+0.5 win each
    side, +1 game) keeps every rating strictly positive so the MM
    update is well-defined on any comparison graph. Pair terms are
    q12-quantized into DECIMAL sums and the normalizer is exact, so
    the 4-round trajectory is bit-stable cross-engine."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bq = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(F.col("l_orderkey").alias("ok"), F.col("p_brand").alias("brand"))
        .agg(F.sum("l_quantity").cast("bigint").alias("q"))
    )
    a = bq.select(F.col("ok"), F.col("brand").alias("ba"), F.col("q").alias("qa"))
    b = bq.select(F.col("ok"), F.col("brand").alias("bb"), F.col("q").alias("qb"))
    pw = ckpt(
        a.join(b, "ok")
        .filter((F.col("ba") < F.col("bb")) & (F.col("qa") != F.col("qb")))
        .groupBy("ba", "bb")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("qa") > F.col("qb"), 1).otherwise(0))
            .cast("bigint")
            .alias("wa"),
        )
    )
    wtot = ckpt(
        pw.select(
            F.col("ba").alias("brand"),
            (F.col("wa") + F.lit(0.5)).alias("w_s"),
            F.col("n").alias("nn"),
            F.col("wa").alias("wraw"),
        )
        .unionByName(
            pw.select(
                F.col("bb").alias("brand"),
                ((F.col("n") - F.col("wa")) + F.lit(0.5)).alias("w_s"),
                F.col("n").alias("nn"),
                (F.col("n") - F.col("wa")).alias("wraw"),
            )
        )
        .groupBy("brand")
        .agg(
            F.sum("w_s").alias("w_s"),
            F.sum("nn").cast("bigint").alias("games"),
            F.sum("wraw").cast("bigint").alias("wins"),
        )
    )
    ratings = wtot.select("brand", F.lit(1.0).alias("r"))
    q12sum = lambda c: dsum(c, 12) / F.lit(1e12)
    for _ in range(4):
        ra = ratings.select(F.col("brand").alias("ba"), F.col("r").alias("r_a"))
        rb = ratings.select(F.col("brand").alias("bb"), F.col("r").alias("r_b"))
        terms = (
            pw.join(F.broadcast(ra), "ba")
            .join(F.broadcast(rb), "bb")
            .select(
                "ba",
                "bb",
                F.floor(
                    (F.col("n") + F.lit(1.0)) / (F.col("r_a") + F.col("r_b")) * F.lit(1e12)
                    + F.lit(0.5)
                ).alias("tq"),
            )
        )
        denom = (
            terms.select(F.col("ba").alias("brand"), "tq")
            .unionByName(terms.select(F.col("bb").alias("brand"), "tq"))
            .groupBy("brand")
            .agg(q12sum(F.col("tq")).alias("denom"))
        )
        raw = denom.join(F.broadcast(wtot.select("brand", "w_s")), "brand").select(
            "brand", (F.col("w_s") / F.col("denom")).alias("raw")
        )
        ratings = ckpt(
            with_stats(raw, qsum(F.col("raw"), 12).alias("s")).select(
                "brand",
                qround(F.col("raw") / F.col("s"), 12).alias("r"),
            )
        )
    w = Window.orderBy(F.desc("r"), F.asc("brand"))
    return (
        wtot.select("brand", "games", "wins")
        .join(ratings, "brand")
        .select(
            "brand",
            "games",
            "wins",
            qround(F.col("r")).alias("rating"),
            F.row_number().over(w).cast("bigint").alias("rank"),
        )
    )


@register(
    "ml_permutation_test",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE)
               AS y,
           user_id % 2 AS g
    FROM events GROUP BY user_id
), obs AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN g = 1
                         THEN CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))
                         ELSE 0 END) AS DOUBLE) / 1e6
               / SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END)
           - CAST(SUM(CASE WHEN g = 0
                           THEN CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))
                           ELSE 0 END) AS DOUBLE) / 1e6
               / SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS d_obs
    FROM per_user
), perms AS (
    SELECT p.i AS p,
           CASE WHEN ('0x' || substring(md5(CAST(u.user_id AS VARCHAR) || ':perm:'
                                            || CAST(p.i AS VARCHAR)), 1, 6))
                     ::BIGINT % 2 = 1 THEN 1 ELSE 0 END AS side,
           u.y
    FROM per_user u, generate_series(0, 127) p(i)
), per_perm AS (
    SELECT p,
           CAST(SUM(CASE WHEN side = 1
                         THEN CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))
                         ELSE 0 END) AS DOUBLE) / 1e6
               / NULLIF(SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END), 0)
           - CAST(SUM(CASE WHEN side = 0
                           THEN CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))
                           ELSE 0 END) AS DOUBLE) / 1e6
               / NULLIF(SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END), 0) AS d_p
    FROM perms GROUP BY 1
), tally AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_perms,
           CAST(SUM(CASE WHEN abs(FLOOR(d_p * 1000000 + 0.5) / 1000000)
                              >= abs(FLOOR((SELECT d_obs FROM obs) * 1000000 + 0.5)
                                     / 1000000)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
    FROM per_perm
)
SELECT o.n_users,
       FLOOR(o.d_obs * 1000000 + 0.5) / 1000000 AS obs_diff,
       t.n_perms, t.n_extreme,
       FLOOR((t.n_extreme + 1.0) / (t.n_perms + 1.0) * 1000000 + 0.5) / 1000000
           AS p_value
FROM obs o, tally t
""",
)
def ml_permutation_test(spark, sf_dir):
    """Permutation test for the A/B difference in per-user purchase
    value — the EXACT-null alternative to the t-test (agg_welch_ttest)
    that needs no normality, no equal-variance story, no n large
    enough for CLT: under H0 the labels are exchangeable, so the null
    distribution IS the relabeled statistic. 128 SEEDED permutations
    (md5(user:perm) -> side), p = (1 + #{|d_p| >= |d_obs|}) / (1 +
    P) — the add-one estimator that keeps p valid (Phipson & Smyth
    2010). Scale shape: the fact table collapses to the per-user frame
    first; the perm explode is a 128x map-side blowup of THAT frame
    whose aggregate is map-side combinable down to 256 partial rows —
    constant shuffle no matter how many users — and the seeded draws
    make the whole test replayable (same audit story as
    dq_dp_count_release). Diffs are q6-quantized before the >=
    comparison so the tally is cross-engine exact."""
    e = t(spark, sf_dir, "events")
    per_user = ckpt(
        e.groupBy("user_id")
        .agg(revenue().alias("y"))
        .select("user_id", "y", (F.col("user_id") % 2).alias("g"))
    )
    yq = qdec(F.col("y"))
    zero = F.lit(0).cast("decimal(38,6)")
    mean_side = lambda cond: (
        F.sum(F.when(cond, yq).otherwise(zero)).cast("double")
        / F.lit(1e6)
        / F.sum(F.when(cond, 1).otherwise(0))
    )
    obs = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        (mean_side(F.col("g") == 1) - mean_side(F.col("g") == 0)).alias("d_obs"),
    )
    perms = per_user.select(
        "y",
        F.explode(F.sequence(F.lit(0), F.lit(127))).alias("p"),
        "user_id",
    ).select(
        "p",
        "y",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(":perm:"),
                            F.col("p").cast("string"),
                        )
                    ),
                    1,
                    6,
                ),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("side"),
    )
    mean_p = lambda s: (
        F.sum(F.when(F.col("side") == s, yq).otherwise(zero)).cast("double")
        / F.lit(1e6)
        / F.nullif(F.sum(F.when(F.col("side") == s, 1).otherwise(0)), F.lit(0))
    )
    per_perm = perms.groupBy("p").agg((mean_p(1) - mean_p(0)).alias("d_p"))
    tally = per_perm.crossJoin(F.broadcast(obs)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_perms"),
        F.sum(
            F.when(F.abs(qround(F.col("d_p"))) >= F.abs(qround(F.col("d_obs"))), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_extreme"),
    )
    return obs.crossJoin(F.broadcast(tally)).select(
        "n_users",
        qround(F.col("d_obs")).alias("obs_diff"),
        "n_perms",
        "n_extreme",
        qround(
            (F.col("n_extreme") + F.lit(1.0)) / (F.col("n_perms") + F.lit(1.0))
        ).alias("p_value"),
    )


def _arms(df, key, cols, arms=((1, "1"), (0, "0"))):
    """One row holding each arm's ``cols`` side by side. ``df`` has one
    row per value of ``key``; for every ``(value, suffix)`` of ``arms``
    the row where ``key == value`` gives each ``name: column`` of
    ``cols`` as ``name + suffix``. Both sides are single rows, so the
    join is a broadcast cross join."""
    sides = [
        F.broadcast(
            df.filter(F.col(key) == v).select(
                *[c.alias(name + sfx) for name, c in cols.items()]
            )
        )
        for v, sfx in arms
    ]
    return sides[0].crossJoin(sides[1])


@register(
    "ml_iv_wald",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS y,
           CAST(COUNT(*) AS BIGINT) AS x,
           CASE WHEN ('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':enc'), 1, 6))
                     ::BIGINT % 2 = 1 THEN 1 ELSE 0 END AS z
    FROM events GROUP BY user_id
), g AS (
    SELECT z, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sy,
           CAST(SUM(x) AS BIGINT) AS sx,
           CAST(SUM(x * x) AS BIGINT) AS sxx
    FROM per_user GROUP BY 1
), w AS (
    SELECT
        (SELECT n FROM g WHERE z = 1) AS n1, (SELECT n FROM g WHERE z = 0) AS n0,
        (SELECT sy / n FROM g WHERE z = 1) - (SELECT sy / n FROM g WHERE z = 0) AS itt_y,
        (SELECT CAST(sx AS DOUBLE) / n FROM g WHERE z = 1)
        - (SELECT CAST(sx AS DOUBLE) / n FROM g WHERE z = 0) AS itt_x,
        (SELECT (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1.0) / n
         FROM g WHERE z = 1)
        + (SELECT (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1.0) / n
           FROM g WHERE z = 0) AS var_itt_x
)
SELECT CAST(n1 + n0 AS BIGINT) AS n_users,
       FLOOR(itt_y * 1000000 + 0.5) / 1000000 AS itt_y,
       FLOOR(itt_x * 1000000 + 0.5) / 1000000 AS itt_x,
       FLOOR(itt_x * itt_x / var_itt_x * 1000000 + 0.5) / 1000000 AS first_stage_f,
       FLOOR(itt_y / itt_x * 1000000 + 0.5) / 1000000 AS beta_iv,
       itt_x * itt_x / var_itt_x < 10.0 AS weak_instrument
FROM w
""",
)
def ml_iv_wald(spark, sf_dir):
    """Instrumental-variable (Wald) estimate of the causal effect of
    activity on spend — the estimator for when the regressor is
    ENDOGENOUS (engaged users differ in unobserved ways, so
    ml_price_elasticity-style OLS is confounded): with a seeded binary
    encouragement z (md5 draw — the replayable stand-in for a real
    randomized nudge), beta_IV = ITT_y / ITT_x, the ratio of the two
    intention-to-treat contrasts (Angrist-Imbens-Rubin). Ships with
    the diagnostic that decides whether to BELIEVE it: the first-stage
    F (Wald chi2 of z on x) against the Staiger-Stock rule of thumb
    F >= 10 — with a random z and no true encouragement the op
    correctly self-reports weak_instrument = true. One user-grain
    aggregate, one 2-row group-by; y sums ride q6 DECIMAL, x moments
    are exact bigints."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        revenue().alias("y"),
        F.count(F.lit(1)).cast("bigint").alias("x"),
    ).select(
        "y",
        "x",
        (
            F.conv(
                F.substring(F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":enc"))), 1, 6),
                16,
                10,
            ).cast("bigint")
            % 2
        ).alias("z"),
    )
    # ckpt: the 2-row group frame feeds both z-side branches — without
    # it the fact-scale user aggregate re-runs per side (dup-scan sweep)
    g = ckpt(
        per_user.groupBy("z").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            qsum(F.col("y")).alias("sy"),
            F.sum("x").cast("bigint").alias("sx"),
            F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        )
    )
    var_term = (
        (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n"))
        / (F.col("n") - F.lit(1.0))
        / F.col("n")
    )
    arms = _arms(g, "z", {
        "n": F.col("n"),
        "my": F.col("sy") / F.col("n"),
        "mx": F.col("sx").cast("double") / F.col("n"),
        "v": var_term,
    })
    w = arms.select(
        (F.col("n1") + F.col("n0")).cast("bigint").alias("n_users"),
        (F.col("my1") - F.col("my0")).alias("itt_y"),
        (F.col("mx1") - F.col("mx0")).alias("itt_x"),
        (F.col("v1") + F.col("v0")).alias("var_itt_x"),
    )
    fstat = F.col("itt_x") * F.col("itt_x") / F.col("var_itt_x")
    return w.select(
        "n_users",
        qround(F.col("itt_y")).alias("itt_y"),
        qround(F.col("itt_x")).alias("itt_x"),
        qround(fstat).alias("first_stage_f"),
        qround(F.col("itt_y") / F.col("itt_x")).alias("beta_iv"),
        (fstat < F.lit(10.0)).alias("weak_instrument"),
    )


def _raking_oracle(iters: int = 4) -> str:
    """Unrolled IPF CTEs: w{i}r row-scales to the segment targets,
    w{i} column-scales to the region targets — the q12-quantized twin
    of the Spark loop."""
    ctes = [
        """cells AS MATERIALIZED (
    SELECT c.c_mktsegment AS seg, r.r_name AS region,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer c
    JOIN nation na ON na.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = na.n_regionkey
    GROUP BY 1, 2
)""",
        "tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM cells)",
        """tseg AS MATERIALIZED (
    SELECT c.c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS k
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
)""",
        """treg AS MATERIALIZED (
    SELECT r.r_name AS region, CAST(COUNT(*) AS BIGINT) AS k
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation na ON na.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = na.n_regionkey
    GROUP BY 1
)""",
        """mseg AS (
    SELECT seg, k * (SELECT t FROM tot) / (SELECT CAST(SUM(k) AS DOUBLE) FROM tseg)
               AS target
    FROM tseg
)""",
        """mreg AS (
    SELECT region, k * (SELECT t FROM tot) / (SELECT CAST(SUM(k) AS DOUBLE) FROM treg)
               AS target
    FROM treg
)""",
        "w0 AS MATERIALIZED (SELECT seg, region, n, CAST(n AS DOUBLE) AS w FROM cells)",
    ]
    q12 = "FLOOR({x} * 1e12 + 0.5) / 1e12"
    for i in range(1, iters + 1):
        ctes.append(
            f"""w{i}r AS MATERIALIZED (
    SELECT w.seg, w.region, w.n,
           {q12.format(x=f"w.w * m.target / rs.s")} AS w
    FROM w{i - 1} w
    JOIN (SELECT seg, CAST(SUM(CAST(FLOOR(w * 1e9 + 0.5) AS DECIMAL(38,9)))
                          AS DOUBLE) / 1e9 AS s
          FROM w{i - 1} GROUP BY 1) rs ON rs.seg = w.seg
    JOIN mseg m ON m.seg = w.seg
)""",
        )
        ctes.append(
            f"""w{i} AS MATERIALIZED (
    SELECT w.seg, w.region, w.n,
           {q12.format(x=f"w.w * m.target / cs.s")} AS w
    FROM w{i}r w
    JOIN (SELECT region, CAST(SUM(CAST(FLOOR(w * 1e9 + 0.5) AS DECIMAL(38,9)))
                             AS DOUBLE) / 1e9 AS s
          FROM w{i}r GROUP BY 1) cs ON cs.region = w.region
    JOIN mreg m ON m.region = w.region
)""",
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT seg, region, n,
       FLOOR(w * 1000000 + 0.5) / 1000000 AS weight,
       FLOOR(w / n * 1000000 + 0.5) / 1000000 AS raking_factor
FROM w{iters}
"""
    )


@register("ml_raking_ipf", oracle=_raking_oracle())
def ml_raking_ipf(spark, sf_dir):
    """Survey raking (iterative proportional fitting / Deming-Stephan)
    — reweight the customer (segment x region) table so both margins
    match an order-volume target population: THE standard correction
    when your sample (who exists) must speak for a population (who
    buys), used by every polling house and increasingly for debiasing
    eval panels. 4 unrolled IPF rounds, each = one margin aggregate +
    one broadcast join per axis over the O(segments x regions) cell
    table — after the two fact-scale margin aggregates, iteration cost
    is independent of data size. Margin sums ride 1e-9 DECIMAL and
    each scaling is q12-quantized, so the weight trajectory is
    bit-stable; IPF's defining invariant (column margins exact after a
    column step, row margins near-exact at convergence) is asserted in
    tests. Reports per-cell weight and raking factor w/n."""
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_nationkey")
    nat = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    reg = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    geo = (
        cust.join(F.broadcast(nat), cust["c_nationkey"] == nat["n_nationkey"])
        .join(F.broadcast(reg), nat["n_regionkey"] == reg["r_regionkey"])
        .select(F.col("c_custkey"), F.col("c_mktsegment").alias("seg"), F.col("r_name").alias("region"))
    )
    cells = ckpt(
        geo.groupBy("seg", "region").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = cells.agg(F.sum("n").cast("double").alias("t"))
    o = t(spark, sf_dir, "orders").select("o_custkey")
    ordgeo = ckpt(
        o.join(geo, o["o_custkey"] == geo["c_custkey"]).select("seg", "region")
    )
    tseg = ordgeo.groupBy("seg").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    treg = ordgeo.groupBy("region").agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    mseg = (
        tseg.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tseg.agg(F.sum("k").cast("double").alias("sk"))))
        .select("seg", (F.col("k") * F.col("t") / F.col("sk")).alias("target"))
    )
    mreg = (
        treg.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(treg.agg(F.sum("k").cast("double").alias("sk"))))
        .select("region", (F.col("k") * F.col("t") / F.col("sk")).alias("target"))
    )
    w = cells.select("seg", "region", "n", F.col("n").cast("double").alias("w"))
    for _ in range(4):
        rs = w.groupBy("seg").agg(qsum(F.col("w"), 9).alias("s"))
        w = (
            w.join(F.broadcast(rs), "seg")
            .join(F.broadcast(mseg), "seg")
            .select(
                "seg", "region", "n",
                qround(F.col("w") * F.col("target") / F.col("s"), 12).alias("w"),
            )
        )
        cs = w.groupBy("region").agg(qsum(F.col("w"), 9).alias("s"))
        w = ckpt(
            w.join(F.broadcast(cs), "region")
            .join(F.broadcast(mreg), "region")
            .select(
                "seg", "region", "n",
                qround(F.col("w") * F.col("target") / F.col("s"), 12).alias("w"),
            )
        )
    return w.select(
        "seg",
        "region",
        "n",
        qround(F.col("w")).alias("weight"),
        qround(F.col("w") / F.col("n")).alias("raking_factor"),
    )


@register(
    "ml_oaxaca_blinder",
    oracle="""
WITH spend AS (
    SELECT o_custkey, SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6))) AS sq
    FROM orders GROUP BY 1
), frame AS (
    SELECT c.c_mktsegment AS seg,
           CAST(COALESCE(s.sq, 0) AS DOUBLE) / 1e6 AS y,
           CAST(c.c_acctbal AS DOUBLE) / 1000.0 AS x
    FROM customer c LEFT JOIN spend s ON s.o_custkey = c.c_custkey
    WHERE c.c_mktsegment IN ('AUTOMOBILE', 'FURNITURE')
), m AS (
    SELECT seg, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE) / 1e9 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE) / 1e9
               AS sxx,
           CAST(SUM(CAST(FLOOR(x * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sxy
    FROM frame GROUP BY 1
), fits AS (
    SELECT seg, n, sx / n AS mx, sy / n AS my,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b
    FROM m
), ab AS (
    SELECT
        (SELECT mx FROM fits WHERE seg = 'AUTOMOBILE') AS mxa,
        (SELECT my FROM fits WHERE seg = 'AUTOMOBILE') AS mya,
        (SELECT b  FROM fits WHERE seg = 'AUTOMOBILE') AS ba,
        (SELECT my - b * mx FROM fits WHERE seg = 'AUTOMOBILE') AS aa,
        (SELECT mx FROM fits WHERE seg = 'FURNITURE') AS mxb,
        (SELECT my FROM fits WHERE seg = 'FURNITURE') AS myb,
        (SELECT b  FROM fits WHERE seg = 'FURNITURE') AS bb,
        (SELECT my - b * mx FROM fits WHERE seg = 'FURNITURE') AS abb,
        (SELECT CAST(n AS BIGINT) FROM fits WHERE seg = 'AUTOMOBILE')
            + (SELECT CAST(n AS BIGINT) FROM fits WHERE seg = 'FURNITURE') AS n_total
)
SELECT n_total AS n_customers,
       FLOOR((mya - myb) * 1000000 + 0.5) / 1000000 AS gap,
       FLOOR(bb * (mxa - mxb) * 1000000 + 0.5) / 1000000 AS endowments,
       FLOOR((mxa * (ba - bb) + (aa - abb)) * 1000000 + 0.5) / 1000000
           AS coefficients,
       FLOOR((bb * (mxa - mxb) + mxa * (ba - bb) + (aa - abb)) * 1000000 + 0.5)
           / 1000000 AS decomposition_total
FROM ab
""",
)
def ml_oaxaca_blinder(spark, sf_dir):
    """Oaxaca-Blinder decomposition of the AUTOMOBILE-vs-FURNITURE
    spend gap — the labor-economics workhorse repurposed for product
    analytics: how much of the between-group difference is EXPLAINED
    by composition (different balance levels x the reference slope:
    'endowments') versus different RETURNS to the same balance
    (slopes/intercepts: 'coefficients', the residual-discrimination
    term)? The identity gap = b_B(x_A - x_B) + [x_A(b_A - b_B) +
    (a_A - a_B)] is exact by construction (asserted in tests), so the
    op is one per-group moment aggregate + scalar algebra — both OLS
    fits come from the same five quantized-DECIMAL sums per segment,
    no second pass, no iteration. 100 TB shape: one star-free
    left-join + one 2-group aggregate."""
    spend = t(spark, sf_dir, "orders").groupBy("o_custkey").agg(
        F.sum(qdec(F.col("o_totalprice"))).alias("sq")
    )
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    frame = (
        cust.filter(F.col("c_mktsegment").isin("AUTOMOBILE", "FURNITURE"))
        .join(spend, cust["c_custkey"] == spend["o_custkey"], "left")
        .select(
            F.col("c_mktsegment").alias("seg"),
            (F.coalesce(F.col("sq"), F.lit(0).cast("decimal(38,6)")).cast("double") / F.lit(1e6)).alias("y"),
            (F.col("c_acctbal").cast("double") / F.lit(1000.0)).alias("x"),
        )
    )
    m = ckpt(
        frame.groupBy("seg").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            qsum(F.col("x"), 9).alias("sx"),
            qsum(F.col("y")).alias("sy"),
            qsum(F.col("x") * F.col("x"), 9).alias("sxx"),
            qsum(F.col("x") * F.col("y")).alias("sxy"),
        )
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    fits = m.select(
        "seg",
        "n",
        (F.col("sx") / F.col("n")).alias("mx"),
        (F.col("sy") / F.col("n")).alias("my"),
        b.alias("b"),
    ).withColumn("a", F.col("my") - F.col("b") * F.col("mx"))
    fa = F.broadcast(
        fits.filter(F.col("seg") == "AUTOMOBILE").select(
            F.col("n").alias("na"), F.col("mx").alias("mxa"), F.col("my").alias("mya"),
            F.col("b").alias("ba"), F.col("a").alias("aa"),
        )
    )
    fb = F.broadcast(
        fits.filter(F.col("seg") == "FURNITURE").select(
            F.col("n").alias("nb"), F.col("mx").alias("mxb"), F.col("my").alias("myb"),
            F.col("b").alias("bb"), F.col("a").alias("abb"),
        )
    )
    endow = F.col("bb") * (F.col("mxa") - F.col("mxb"))
    coeff = F.col("mxa") * (F.col("ba") - F.col("bb")) + (F.col("aa") - F.col("abb"))
    return fa.crossJoin(fb).select(
        (F.col("na") + F.col("nb")).cast("bigint").alias("n_customers"),
        qround(F.col("mya") - F.col("myb")).alias("gap"),
        qround(endow).alias("endowments"),
        qround(coeff).alias("coefficients"),
        qround(endow + coeff).alias("decomposition_total"),
    )


@register(
    "ml_knn_classify",
    oracle="""
WITH q AS (
    SELECT vec_id, embedding, label FROM embeddings WHERE vec_id % 20 = 0
), pairs AS (
    SELECT q.vec_id AS query_id, q.label AS true_label,
           c.vec_id AS neighbor_id, c.label AS n_label,
           ROUND(
               SUM(CAST(q.embedding[g.i] AS DOUBLE) * CAST(c.embedding[g.i] AS DOUBLE))
               / (SQRT(SUM(CAST(q.embedding[g.i] AS DOUBLE)
                           * CAST(q.embedding[g.i] AS DOUBLE)))
                  * SQRT(SUM(CAST(c.embedding[g.i] AS DOUBLE)
                             * CAST(c.embedding[g.i] AS DOUBLE)))),
               6) AS cos_sim
    FROM q, embeddings c, generate_series(1, 64) g(i)
    WHERE c.vec_id <> q.vec_id
    GROUP BY 1, 2, 3, 4
), nn AS (
    SELECT query_id, true_label, n_label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY cos_sim DESC, neighbor_id) AS rk
    FROM pairs
), votes AS (
    SELECT query_id, true_label, n_label, CAST(COUNT(*) AS BIGINT) AS v
    FROM nn WHERE rk <= 5 GROUP BY 1, 2, 3
), pred AS (
    SELECT query_id, true_label, n_label AS pred_label,
           ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY v DESC, n_label) AS pr
    FROM votes
)
SELECT true_label AS label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) AS BIGINT)
           AS n_correct,
       FLOOR(CAST(SUM(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)
                  AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000 AS accuracy
FROM pred WHERE pr = 1
GROUP BY 1
""",
)
def ml_knn_classify(spark, sf_dir):
    """Exact 5-NN cosine classifier, evaluated leave-one-out on a
    deterministic 5% query sample of the embedding table — the
    zero-training baseline every embedding space must beat before
    anything fancier ships, and simultaneously a LABEL-QUALITY probe
    (low kNN accuracy = labels inconsistent with geometry, the
    Northcutt-style noise signal). Same scale shape as llm_simsearch:
    the bounded query side is BROADCAST against the corpus, dot
    products ride the codegen zip_with fold, per-query top-5 via
    window rank on the 6-dp-rounded similarity (id tiebreak), then
    majority vote resolved by one more deterministic window (votes
    DESC, label ASC — no argmax ambiguity). Reports per-label accuracy
    so class-conditional quality is visible, not averaged away."""
    from .llm import _emb_norm

    e = t(spark, sf_dir, "embeddings")
    withnorm = e.select("vec_id", "embedding", "label", _emb_norm().alias("norm"))
    q = withnorm.filter(F.col("vec_id") % 20 == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("qe"),
        F.col("norm").alias("qnorm"),
    )
    c = withnorm.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("ce"),
        F.col("norm").alias("cnorm"),
    )
    dot = "aggregate(zip_with(qe, ce, (x, y) -> cast(x as double) * cast(y as double)), 0D, (a, x) -> a + x)"
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "true_label",
            "neighbor_id",
            "n_label",
            F.round(F.expr(dot) / (F.col("qnorm") * F.col("cnorm")), 6).alias("cos_sim"),
        )
    )
    wn = Window.partitionBy("query_id").orderBy(F.desc("cos_sim"), F.asc("neighbor_id"))
    votes = (
        pairs.withColumn("rk", F.row_number().over(wn))
        .filter(F.col("rk") <= 5)
        .groupBy("query_id", "true_label", "n_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    wp = Window.partitionBy("query_id").orderBy(F.desc("v"), F.asc("n_label"))
    pred = (
        votes.withColumn("pr", F.row_number().over(wp))
        .filter(F.col("pr") == 1)
        .select("query_id", "true_label", F.col("n_label").alias("pred_label"))
    )
    return pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_queries"),
        F.sum(F.when(F.col("pred_label") == F.col("true_label"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_correct"),
    ).select(
        "label",
        "n_queries",
        "n_correct",
        qround(F.col("n_correct").cast("double") / F.col("n_queries")).alias("accuracy"),
    )


def _ipw_weighted_frame(spark, sf_dir):
    """Shared stabilized-IPW user frame (treatment = click volume,
    saturated activity-strata propensity): (treated, y, w) plus the
    non-treatment covariates (ne, n_view, n_error) so the balance
    audit (ml_covariate_balance) weights the SAME frame the ATE uses."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        revenue().alias("y"),
        F.count(F.lit(1)).alias("ne"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("n_view"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("n_error"),
        (
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)) >= 14
        ).cast("int").alias("treated"),
    )
    strata = ckpt(
        per_user.withColumn(
            "s",
            F.when(F.col("ne") >= 72, 2).when(F.col("ne") >= 62, 1).otherwise(0),
        )
    )
    prop = strata.groupBy("s").agg(
        (F.sum("treated").cast("double") / F.count(F.lit(1))).alias("e")
    )
    pbar = strata.agg(
        (F.sum("treated").cast("double") / F.count(F.lit(1))).alias("pt")
    )
    return (
        strata.join(F.broadcast(prop), "s")
        .crossJoin(F.broadcast(pbar))
        .select(
            "treated",
            "y",
            "ne",
            "n_view",
            "n_error",
            F.when(F.col("treated") == 1, qround(F.col("pt") / F.col("e"), 9))
            .otherwise(qround((F.lit(1.0) - F.col("pt")) / (F.lit(1.0) - F.col("e")), 9))
            .alias("w"),
        )
    )


@register(
    "ml_ipw_ate",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS y,
           CAST(COUNT(*) AS BIGINT) AS ne,
           CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14
                THEN 1 ELSE 0 END AS treated
    FROM events GROUP BY user_id
), strata AS (
    SELECT *, CASE WHEN ne >= 72 THEN 2 WHEN ne >= 62 THEN 1 ELSE 0 END AS s
    FROM per_user
), prop AS (
    SELECT s, CAST(SUM(treated) AS DOUBLE) / COUNT(*) AS e,
           CAST(COUNT(*) AS BIGINT) AS n_s
    FROM strata GROUP BY 1
), pbar AS (
    SELECT CAST(SUM(treated) AS DOUBLE) / COUNT(*) AS pt FROM strata
), wtd AS (
    SELECT u.treated, u.y,
           CASE WHEN u.treated = 1
                THEN FLOOR(p.pt / e.e * 1e9 + 0.5) / 1e9
                ELSE FLOOR((1.0 - p.pt) / (1.0 - e.e) * 1e9 + 0.5) / 1e9
           END AS w
    FROM strata u JOIN prop e ON e.s = u.s, pbar p
), sums AS (
    SELECT treated,
           CAST(SUM(CAST(FLOOR(w * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS sw,
           CAST(SUM(CAST(FLOOR(w * w * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS sww,
           CAST(SUM(CAST(FLOOR(w * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS swy,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM wtd GROUP BY 1
)
SELECT
    CAST((SELECT SUM(n) FROM sums) AS BIGINT) AS n_users,
    FLOOR((SELECT swy / sw FROM sums WHERE treated = 1) * 1000000 + 0.5) / 1000000
        AS mu_treated,
    FLOOR((SELECT swy / sw FROM sums WHERE treated = 0) * 1000000 + 0.5) / 1000000
        AS mu_control,
    FLOOR(((SELECT swy / sw FROM sums WHERE treated = 1)
           - (SELECT swy / sw FROM sums WHERE treated = 0))
          * 1000000 + 0.5) / 1000000 AS ate_ipw,
    FLOOR((SELECT sw * sw / sww FROM sums WHERE treated = 1) * 1000000 + 0.5)
        / 1000000 AS ess_treated,
    FLOOR((SELECT sw * sw / sww FROM sums WHERE treated = 0) * 1000000 + 0.5)
        / 1000000 AS ess_control
""",
)
def ml_ipw_ate(spark, sf_dir):
    """Inverse-propensity-weighted ATE with STABILIZED weights — the
    estimator between ml_propensity_match (discards unmatched units)
    and ml_doubly_robust (needs an outcome model): reweight everyone by
    P(T)/e(x) or (1-P(T))/(1-e(x)), where the propensity e(x) is the
    honest stratified one (treated share within activity strata — a
    saturated model, so no functional-form risk), and report the KISH
    EFFECTIVE SAMPLE SIZE (sum w)^2 / sum w^2 per arm — the diagnostic
    that tells you how much data the weighting really left you (an ESS
    collapse is how practitioners detect positivity violations BEFORE
    believing the point estimate). Hajek (weight-normalized) means,
    weights q9-quantized at the division and every weighted sum in q6
    DECIMAL. One user aggregate + one 3-row propensity join."""
    wtd = _ipw_weighted_frame(spark, sf_dir).select("treated", "y", "w")
    sums = ckpt(
        wtd.groupBy("treated").agg(
            qsum(F.col("w")).alias("sw"),
            qsum(F.col("w") * F.col("w")).alias("sww"),
            qsum(F.col("w") * F.col("y")).alias("swy"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    arms = _arms(sums, "treated", {
        "mu_": F.col("swy") / F.col("sw"),
        "ess_": F.col("sw") * F.col("sw") / F.col("sww"),
        "n_": F.col("n"),
    }, arms=((1, "treated"), (0, "control")))
    return arms.select(
        (F.col("n_treated") + F.col("n_control")).cast("bigint").alias("n_users"),
        qround(F.col("mu_treated")).alias("mu_treated"),
        qround(F.col("mu_control")).alias("mu_control"),
        qround(F.col("mu_treated") - F.col("mu_control")).alias("ate_ipw"),
        qround(F.col("ess_treated")).alias("ess_treated"),
        qround(F.col("ess_control")).alias("ess_control"),
    )


@register(
    "llm_uncertainty_sample",
    oracle=_NB_SCORED_SQL
    + """, ranked AS (
  SELECT doc_id, actual, c, score_q,
         ROW_NUMBER() OVER (PARTITION BY doc_id
                            ORDER BY score_q DESC, c ASC) AS rn
  FROM scored
), margins AS (
  SELECT doc_id, ANY_VALUE(actual) AS actual,
         MAX(CASE WHEN rn = 1 THEN c END) AS predicted,
         MAX(CASE WHEN rn = 1 THEN score_q END)
             - MAX(CASE WHEN rn = 2 THEN score_q END) AS margin_q
  FROM ranked WHERE rn <= 2 GROUP BY doc_id
)
SELECT doc_id, predicted, actual,
       ROUND(CAST(margin_q AS DOUBLE) / 1e6, 6) AS margin,
       CAST(ROW_NUMBER() OVER (ORDER BY margin_q, doc_id) AS BIGINT) AS rank
FROM margins
ORDER BY rank LIMIT 20
""",
)
def llm_uncertainty_sample(spark, sf_dir):
    """Margin-based uncertainty sampling — the active-learning
    selector: send the 20 documents where the engine's OWN classifier
    (ml_naive_bayes, composed via the shared _nb_scored surface) is
    least sure — smallest top-1 minus top-2 log-score margin — to
    human labeling, because labels there move the decision boundary
    most (Lewis & Gale 1994; margin variant). Composition is the
    point: the Spark side reuses the exact per-class scored table the
    classifier ranks, and the oracle splices the SAME _NB_SCORED_SQL
    CTE prefix, so model and selector can never drift apart. Margins
    are differences of already-quantized DECIMAL scores — exact, no
    further rounding hazard; ties break on doc_id. One extra window +
    one 2-row-per-doc pivot beyond the classifier's own plan."""
    scored = _nb_scored(spark, sf_dir)
    w = Window.partitionBy("doc_id").orderBy(F.col("score_q").desc(), F.col("c").asc())
    top2 = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 2)
    margins = top2.groupBy("doc_id").agg(
        F.any_value("actual").alias("actual"),
        F.max(F.when(F.col("rn") == 1, F.col("c"))).alias("predicted"),
        (
            F.max(F.when(F.col("rn") == 1, F.col("score_q")))
            - F.max(F.when(F.col("rn") == 2, F.col("score_q")))
        ).alias("margin_q"),
    )
    wr = Window.orderBy(F.asc("margin_q"), F.asc("doc_id"))
    return (
        margins.withColumn("rank", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .select(
            "doc_id",
            "predicted",
            "actual",
            F.round(F.col("margin_q").cast("double") / F.lit(1e6), 6).alias("margin"),
            "rank",
        )
        .orderBy("rank")
    )


@register(
    "ml_quantile_treatment_effect",
    oracle="""
WITH per_user AS (
    SELECT user_id, user_id % 2 AS arm,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(FLOOR(value * 1e6 + 0.5) AS DECIMAL(38,6))
                         ELSE 0 END) AS BIGINT) AS yq
    FROM events GROUP BY user_id
), ranked AS (
    SELECT arm, yq,
           CAST(ROW_NUMBER() OVER (PARTITION BY arm ORDER BY yq, user_id)
                AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY arm) AS BIGINT) AS n
    FROM per_user
), picks AS (
    SELECT d.d AS decile, r.arm, r.yq
    FROM generate_series(1, 9) d(d)
    JOIN ranked r ON r.rn = (d.d * r.n + 9) // 10
)
SELECT decile,
       FLOOR(MAX(CASE WHEN arm = 1 THEN yq END) / 1e6 * 1000000 + 0.5) / 1000000
           AS q_treated,
       FLOOR(MAX(CASE WHEN arm = 0 THEN yq END) / 1e6 * 1000000 + 0.5) / 1000000
           AS q_control,
       FLOOR((MAX(CASE WHEN arm = 1 THEN yq END)
              - MAX(CASE WHEN arm = 0 THEN yq END)) / 1e6 * 1000000 + 0.5) / 1000000
           AS qte
FROM picks GROUP BY 1
""",
)
def ml_quantile_treatment_effect(spark, sf_dir):
    """Quantile treatment effects at the nine deciles — the
    distributional view an average treatment effect hides: a feature
    that lifts the median while gutting the tail shows a positive ATE
    and a negative QTE_9, and which one matters is a product decision
    (Koenker's quantile-regression question answered with EXACT order
    statistics, not an approximate-percentile sketch). Per arm, the
    d-th decile is the ceil(d*n/10)-th order statistic — pure integer
    rank arithmetic with the user_id tiebreak, values in micro-unit
    BIGINT end to end, so both engines pick the IDENTICAL row; QTE is
    a difference of exact picks. One user-grain aggregate + one
    per-arm ordered window; the decile spine join is 9 rows."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                qdec(F.col("value")),
            ).otherwise(F.lit(0).cast("decimal(38,6)"))
        )
        .cast("bigint")
        .alias("yq"),
        F.first(F.col("user_id") % 2).alias("arm"),
    ).select("user_id", "arm", "yq")
    wr = Window.partitionBy("arm").orderBy("yq", "user_id")
    ranked = per_user.select(
        "arm",
        "yq",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("arm")).cast("bigint").alias("n"),
    )
    deciles = spark.range(1, 10).select(F.col("id").cast("bigint").alias("decile"))
    picks = ranked.join(
        F.broadcast(deciles),
        F.col("rn") == ((F.col("decile") * F.col("n") + 9) / 10).cast("bigint"),
    )
    q6 = lambda c: qround(c / F.lit(1e6))
    return picks.groupBy("decile").agg(
        q6(F.max(F.when(F.col("arm") == 1, F.col("yq")))).alias("q_treated"),
        q6(F.max(F.when(F.col("arm") == 0, F.col("yq")))).alias("q_control"),
        q6(
            F.max(F.when(F.col("arm") == 1, F.col("yq")))
            - F.max(F.when(F.col("arm") == 0, F.col("yq")))
        ).alias("qte"),
    )


@register(
    "ml_meta_analysis_dl",
    oracle="""
WITH frame AS (
    SELECT r.r_name AS region, c.c_custkey % 2 AS arm,
           CAST(o.o_totalprice AS DOUBLE) AS y
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
), m AS (
    SELECT region, arm, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sy,
           CAST(SUM(CAST(FLOOR(y * y * 1e2 + 0.5) AS DECIMAL(38,2))) AS DOUBLE) / 1e2
               AS syy
    FROM frame GROUP BY 1, 2
), strata AS (
    SELECT region,
           MAX(CASE WHEN arm = 1 THEN sy / n END)
               - MAX(CASE WHEN arm = 0 THEN sy / n END) AS e,
           MAX(CASE WHEN arm = 1 THEN (syy - sy * sy / n) / (n - 1.0) / n END)
               + MAX(CASE WHEN arm = 0 THEN (syy - sy * sy / n) / (n - 1.0) / n END)
               AS v
    FROM m GROUP BY 1
), fixed AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CAST(FLOOR(1.0 / v * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
               / 1e9 AS sw,
           CAST(SUM(CAST(FLOOR(e / v * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
               / 1e9 AS swe,
           CAST(SUM(CAST(FLOOR(1.0 / (v * v) * 1e9 + 0.5) AS DECIMAL(38,9)))
                AS DOUBLE) / 1e9 AS sww
    FROM strata
), qstat AS (
    SELECT f.k, f.sw, f.swe, f.sww, f.swe / f.sw AS ef,
           CAST(SUM(CAST(FLOOR((s.e - f.swe / f.sw) * (s.e - f.swe / f.sw) / s.v
                               * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE) / 1e9 AS q
    FROM strata s, fixed f
    GROUP BY 1, 2, 3, 4, 5
), tau AS (
    SELECT k, ef, q,
           GREATEST(0.0, (q - (k - 1.0)) / (sw - sww / sw)) AS tau2
    FROM qstat
), rand AS (
    SELECT t.k, t.ef, t.q, t.tau2,
           CAST(SUM(CAST(FLOOR(s.e / (s.v + t.tau2) * 1e9 + 0.5)
                         AS DECIMAL(38,9))) AS DOUBLE) / 1e9
           / (CAST(SUM(CAST(FLOOR(1.0 / (s.v + t.tau2) * 1e9 + 0.5)
                            AS DECIMAL(38,9))) AS DOUBLE) / 1e9) AS er
    FROM strata s, tau t
    GROUP BY 1, 2, 3, 4
)
SELECT k AS k_strata,
       FLOOR(ef * 1000000 + 0.5) / 1000000 AS effect_fixed,
       FLOOR(er * 1000000 + 0.5) / 1000000 AS effect_random,
       FLOOR(q * 1000000 + 0.5) / 1000000 AS q_stat,
       FLOOR(tau2 * 1000000 + 0.5) / 1000000 AS tau2,
       FLOOR(GREATEST(0.0, (q - (k - 1.0)) / NULLIF(q, 0.0)) * 1000000 + 0.5)
           / 1000000 AS i2
FROM rand
""",
)
def ml_meta_analysis_dl(spark, sf_dir):
    """DerSimonian-Laird meta-analysis of the per-region A/B effect —
    the honest way to pool an experiment that ran across heterogeneous
    strata: fixed-effect pooling answers 'what if every region shares
    one true effect', the Q statistic and I^2 measure whether that
    premise holds, tau^2 quantifies the between-region variance, and
    the random-effects estimate reweights by 1/(v_s + tau^2) so no
    mega-region dominates when regions genuinely differ. Per-stratum
    effects/variances come from one 10-cell moment aggregate (Welch
    arms); every cross-strata sum is quantized into DECIMAL first
    (5-term double sums would otherwise be partition-order-dependent).
    The whole analysis after the star join is O(regions) scalar
    algebra."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    frame = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select(
            F.col("r_name").alias("region"),
            (F.col("c_custkey") % 2).alias("arm"),
            F.col("o_totalprice").cast("double").alias("y"),
        )
    )
    m = frame.groupBy("region", "arm").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        qsum(F.col("y")).alias("sy"),
        (
            F.sum(
                F.floor(F.col("y") * F.col("y") * F.lit(1e2) + F.lit(0.5)).cast(
                    "decimal(38,2)"
                )
            ).cast("double")
            / F.lit(1e2)
        ).alias("syy"),
    )
    var_term = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (
        F.col("n") - F.lit(1.0)
    ) / F.col("n")
    strata = ckpt(
        m.groupBy("region").agg(
            (
                F.max(F.when(F.col("arm") == 1, F.col("sy") / F.col("n")))
                - F.max(F.when(F.col("arm") == 0, F.col("sy") / F.col("n")))
            ).alias("e"),
            (
                F.max(F.when(F.col("arm") == 1, var_term))
                + F.max(F.when(F.col("arm") == 0, var_term))
            ).alias("v"),
        )
    )
    qstat = (
        with_stats(
            strata,
            F.count(F.lit(1)).cast("bigint").alias("k"),
            qsum(F.lit(1.0) / F.col("v"), 9).alias("sw"),
            qsum(F.col("e") / F.col("v"), 9).alias("swe"),
            qsum(F.lit(1.0) / (F.col("v") * F.col("v")), 9).alias("sww"),
        )
        .groupBy("k", "sw", "swe", "sww")
        .agg(
            qsum(
                (F.col("e") - F.col("swe") / F.col("sw"))
                * (F.col("e") - F.col("swe") / F.col("sw"))
                / F.col("v"),
                9,
            ).alias("q")
        )
        .select(
            "k",
            "sw",
            "sww",
            (F.col("swe") / F.col("sw")).alias("ef"),
            "q",
        )
    )
    tau = qstat.select(
        "k",
        "ef",
        "q",
        F.greatest(
            F.lit(0.0),
            (F.col("q") - (F.col("k") - F.lit(1.0)))
            / (F.col("sw") - F.col("sww") / F.col("sw")),
        ).alias("tau2"),
    )
    rand = (
        strata.crossJoin(F.broadcast(tau))
        .groupBy("k", "ef", "q", "tau2")
        .agg(
            (
                qsum(F.col("e") / (F.col("v") + F.col("tau2")), 9)
                / qsum(F.lit(1.0) / (F.col("v") + F.col("tau2")), 9)
            ).alias("er")
        )
    )
    return rand.select(
        F.col("k").alias("k_strata"),
        qround(F.col("ef")).alias("effect_fixed"),
        qround(F.col("er")).alias("effect_random"),
        qround(F.col("q")).alias("q_stat"),
        qround(F.col("tau2")).alias("tau2"),
        qround(
            F.greatest(
                F.lit(0.0),
                (F.col("q") - (F.col("k") - F.lit(1.0)))
                / F.nullif(F.col("q"), F.lit(0.0)),
            )
        ).alias("i2"),
    )


@register(
    "ml_weibull_survival_grid",
    oracle="""
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts
    FROM events GROUP BY user_id
), h AS (SELECT MAX(last_ts) AS hz FROM per_user),
users AS (
    SELECT ((epoch_us(last_ts) - epoch_us(first_ts)) // 3600000000 + 1.0) AS th,
           CASE WHEN last_ts < h.hz - INTERVAL 12 HOUR THEN 1 ELSE 0 END AS churned
    FROM per_user, h
), grid AS (
    SELECT 0.5 + 0.125 * g.i AS k FROM generate_series(0, 20) g(i)
), moments AS (
    SELECT g.k,
           CAST(SUM(CAST(FLOOR(
               (FLOOR(exp(g.k * (FLOOR(ln(u.th) * 1e9 + 0.5) / 1e9)) * 1e6 + 0.5)
                / 1e6) * 1e2 + 0.5) AS DECIMAL(38,2))) AS DOUBLE) / 1e2 AS sk,
           CAST(SUM(CASE WHEN u.churned = 1
                         THEN CAST(FLOOR((FLOOR(ln(u.th) * 1e9 + 0.5) / 1e9)
                                         * 1e9 + 0.5) AS DECIMAL(38,9))
                         ELSE 0 END) AS DOUBLE) / 1e9 AS sl,
           CAST(SUM(u.churned) AS BIGINT) AS n_c,
           CAST(COUNT(*) AS BIGINT) AS n_u
    FROM grid g, users u
    GROUP BY 1
), ll AS (
    SELECT k, n_u, n_c, sk, sl,
           FLOOR((n_c * (FLOOR(ln(k) * 1e9 + 0.5) / 1e9)
                  - n_c * (FLOOR(ln(sk / n_c) * 1e9 + 0.5) / 1e9)
                  + (k - 1.0) * sl - n_c) * 1e6 + 0.5) / 1e6 AS loglik
    FROM moments
), best AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY loglik DESC, k) AS rk FROM ll
)
SELECT FLOOR(k * 1000000 + 0.5) / 1000000 AS k_shape,
       FLOOR((FLOOR(exp((FLOOR(ln(sk / n_c) * 1e9 + 0.5) / 1e9) / k) * 1e6 + 0.5)
              / 1e6) * 1000000 + 0.5) / 1000000 AS lambda_hours,
       FLOOR(loglik * 1000000 + 0.5) / 1000000 AS loglik,
       n_u AS n_users, n_c AS n_churned
FROM best WHERE rk = 1
""",
)
def ml_weibull_survival_grid(spark, sf_dir):
    """Parametric Weibull survival fit of churn tenure with right
    censoring, by profile-likelihood grid over the shape k — the
    PARAMETRIC completion of the survival family (KM estimates,
    Greenwood bands, RMST, log-rank/Cox tests are all nonparametric;
    capacity planning wants the two-parameter closed form and the
    k<1 / k>1 'infant mortality vs wear-out' verdict). The trick that
    keeps it one pass per candidate: for fixed k the scale MLE is
    closed form, lambda^k = sum(t^k)/n_events, so the profile
    log-likelihood needs only S_k = sum t^k (censored rows included)
    and sum ln t over events — the 21-point k-grid rides ONE exploded
    aggregate with map-side combine. Float discipline: ln/exp are
    quantized at each boundary (t^k computed as exp(k ln t) with q9
    ln and q6 exp) and the sums ride DECIMAL; tenure is shifted +1 h
    so zero-tenure users are well-defined (documented). Same
    tenure/censor frame as ml_logrank_test/ml_cox_score."""
    users = _tenure(spark, sf_dir).select(
        (F.col("tenure") + F.lit(1.0)).alias("th"), "churned"
    )
    grid = spark.range(0, 21).select((F.lit(0.5) + F.lit(0.125) * F.col("id")).alias("k"))
    lnt = qround(F.log(F.col("th")), 9)
    tk = qround(F.exp(F.col("k") * lnt))
    moments = (
        users.crossJoin(F.broadcast(grid))
        .groupBy("k")
        .agg(
            (
                F.sum(F.floor(tk * F.lit(1e2) + F.lit(0.5)).cast("decimal(38,2)"))
                .cast("double")
                / F.lit(1e2)
            ).alias("sk"),
            (
                F.sum(
                    F.when(
                        F.col("churned") == 1,
                        qdec(lnt, 9),
                    ).otherwise(F.lit(0).cast("decimal(38,9)"))
                ).cast("double")
                / F.lit(1e9)
            ).alias("sl"),
            F.sum("churned").cast("bigint").alias("n_c"),
            F.count(F.lit(1)).cast("bigint").alias("n_u"),
        )
    )
    loglik = qround(
        F.col("n_c") * qround(F.log(F.col("k")), 9)
        - F.col("n_c") * qround(F.log(F.col("sk") / F.col("n_c")), 9)
        + (F.col("k") - F.lit(1.0)) * F.col("sl")
        - F.col("n_c")
    )
    ll = moments.withColumn("loglik", loglik)
    w = Window.orderBy(F.desc("loglik"), F.asc("k"))
    lam = qround(F.exp(qround(F.log(F.col("sk") / F.col("n_c")), 9) / F.col("k")))
    return (
        ll.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            qround(F.col("k")).alias("k_shape"),
            qround(lam).alias("lambda_hours"),
            qround(F.col("loglik")).alias("loglik"),
            F.col("n_u").alias("n_users"),
            F.col("n_c").alias("n_churned"),
        )
    )


def _silhouette_oracle() -> str:
    # Compose ts_rfm_segment's REGISTERED oracle verbatim (single source
    # of truth — same splice discipline as ml_mcnemar_paired).
    from . import analytics  # noqa: F401  (guarantee ts_rfm_segment is registered)
    from ..registry import ORACLES

    return f"""
WITH rfm AS ({ORACLES["ts_rfm_segment"]}),
feats AS (
    SELECT user_id,
           CAST(r_q AS VARCHAR) || '-' || CAST(f_q AS VARCHAR) || '-'
               || CAST(m_q AS VARCHAR) AS seg,
           CAST(recency_days AS DOUBLE) AS v1,
           CAST(frequency AS DOUBLE) AS v2,
           CAST(monetary AS DOUBLE) AS v3
    FROM rfm
), mom AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           AVG(v1) AS m1, AVG(v2) AS m2, AVG(v3) AS m3,
           STDDEV_POP(v1) AS s1, STDDEV_POP(v2) AS s2, STDDEV_POP(v3) AS s3
    FROM feats
), z AS (
    SELECT user_id, seg,
           FLOOR((v1 - m.m1) / m.s1 * 1e9 + 0.5) / 1e9 AS z1,
           FLOOR((v2 - m.m2) / m.s2 * 1e9 + 0.5) / 1e9 AS z2,
           FLOOR((v3 - m.m3) / m.s3 * 1e9 + 0.5) / 1e9 AS z3
    FROM feats, mom m
), cent AS (
    SELECT seg,
           CAST(SUM(CAST(FLOOR(z1 * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
               / 1e9 / COUNT(*) AS c1,
           CAST(SUM(CAST(FLOOR(z2 * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
               / 1e9 / COUNT(*) AS c2,
           CAST(SUM(CAST(FLOOR(z3 * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
               / 1e9 / COUNT(*) AS c3
    FROM z GROUP BY 1
), dists AS (
    SELECT z.user_id, z.seg, c.seg AS cseg,
           FLOOR(sqrt((z.z1 - c.c1) * (z.z1 - c.c1)
                      + (z.z2 - c.c2) * (z.z2 - c.c2)
                      + (z.z3 - c.c3) * (z.z3 - c.c3)) * 1e9 + 0.5) / 1e9 AS d
    FROM z, cent c
), ab AS (
    SELECT user_id, seg,
           MAX(CASE WHEN cseg = seg THEN d END) AS a,
           MIN(CASE WHEN cseg <> seg THEN d END) AS b
    FROM dists GROUP BY 1, 2
), sil AS (
    SELECT seg,
           CASE WHEN GREATEST(a, b) > 0
                THEN FLOOR((b - a) / GREATEST(a, b) * 1e9 + 0.5) / 1e9
                ELSE 0.0 END AS s
    FROM ab
)
SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_users,
       FLOOR(CAST(SUM(CAST(FLOOR(s * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
             / 1e9 / COUNT(*) * 1000000 + 0.5) / 1000000 AS mean_silhouette
FROM sil GROUP BY 1
"""


@register("ml_silhouette_rfm", oracle=_silhouette_oracle())
def ml_silhouette_rfm(spark, sf_dir):
    """Simplified silhouette score (Kaufman's centroid variant) of the
    RFM segmentation — the cluster-quality grade for the engine's own
    segments: per user, a = distance to the OWN segment centroid, b =
    distance to the nearest OTHER centroid, s = (b-a)/max(a,b); a
    segment whose mean s hugs 0 is a label without geometry. The
    composition is the point (same discipline as ml_mcnemar_paired):
    the Spark side calls ts_rfm_segment() and the oracle splices its
    registered text, so segmentation and audit can never drift. The
    z-scoring, every centroid, and every distance are q9-quantized at
    the float boundaries with DECIMAL sums between, and the centroid
    table (<= 27 rows) is BROADCAST against the user frame — simplified
    silhouette is exactly the variant that scales (full silhouette's
    all-pairs distances don't)."""
    from .analytics import ts_rfm_segment

    rfm = ts_rfm_segment(spark, sf_dir)
    feats = ckpt(
        rfm.select(
            "user_id",
            F.concat_ws("-", "r_q", "f_q", "m_q").alias("seg"),
            F.col("recency_days").cast("double").alias("v1"),
            F.col("frequency").cast("double").alias("v2"),
            F.col("monetary").cast("double").alias("v3"),
        )
    )
    z = ckpt(
        with_stats(
            feats,
            F.avg("v1").alias("m1"),
            F.avg("v2").alias("m2"),
            F.avg("v3").alias("m3"),
            F.stddev_pop("v1").alias("s1"),
            F.stddev_pop("v2").alias("s2"),
            F.stddev_pop("v3").alias("s3"),
        ).select(
            "user_id",
            "seg",
            qround((F.col("v1") - F.col("m1")) / F.col("s1"), 9).alias("z1"),
            qround((F.col("v2") - F.col("m2")) / F.col("s2"), 9).alias("z2"),
            qround((F.col("v3") - F.col("m3")) / F.col("s3"), 9).alias("z3"),
        )
    )
    cent = z.groupBy(F.col("seg").alias("cseg")).agg(
        (qsum(F.col("z1"), 9) / F.count(F.lit(1))).alias("c1"),
        (qsum(F.col("z2"), 9) / F.count(F.lit(1))).alias("c2"),
        (qsum(F.col("z3"), 9) / F.count(F.lit(1))).alias("c3"),
    )
    d = qround(
        F.sqrt(
            (F.col("z1") - F.col("c1")) * (F.col("z1") - F.col("c1"))
            + (F.col("z2") - F.col("c2")) * (F.col("z2") - F.col("c2"))
            + (F.col("z3") - F.col("c3")) * (F.col("z3") - F.col("c3"))
        ),
        9,
    )
    dists = z.crossJoin(F.broadcast(cent)).select("user_id", "seg", "cseg", d.alias("d"))
    ab = dists.groupBy("user_id", "seg").agg(
        F.max(F.when(F.col("cseg") == F.col("seg"), F.col("d"))).alias("a"),
        F.min(F.when(F.col("cseg") != F.col("seg"), F.col("d"))).alias("b"),
    )
    s = F.when(
        F.greatest("a", "b") > 0,
        qround((F.col("b") - F.col("a")) / F.greatest("a", "b"), 9),
    ).otherwise(F.lit(0.0))
    return (
        ab.select("seg", s.alias("s"))
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            qround(qsum(F.col("s"), 9) / F.count(F.lit(1))).alias("mean_silhouette"),
        )
    )


@register(
    "ml_covariate_balance",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS ne,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_view,
           CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_error,
           CASE WHEN SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) >= 14
                THEN 1 ELSE 0 END AS treated
    FROM events GROUP BY user_id
), strata AS (
    SELECT *, CASE WHEN ne >= 72 THEN 2 WHEN ne >= 62 THEN 1 ELSE 0 END AS s
    FROM per_user
), prop AS (
    SELECT s, CAST(SUM(treated) AS DOUBLE) / COUNT(*) AS e FROM strata GROUP BY 1
), pbar AS (
    SELECT CAST(SUM(treated) AS DOUBLE) / COUNT(*) AS pt FROM strata
), wtd AS (
    SELECT u.treated, u.ne, u.n_view, u.n_error,
           CASE WHEN u.treated = 1
                THEN FLOOR(p.pt / e.e * 1e9 + 0.5) / 1e9
                ELSE FLOOR((1.0 - p.pt) / (1.0 - e.e) * 1e9 + 0.5) / 1e9
           END AS w
    FROM strata u JOIN prop e ON e.s = u.s, pbar p
), long AS (
    SELECT treated, w, 'ne' AS covariate, CAST(ne AS DOUBLE) AS x FROM wtd
    UNION ALL
    SELECT treated, w, 'n_view', CAST(n_view AS DOUBLE) FROM wtd
    UNION ALL
    SELECT treated, w, 'n_error', CAST(n_error AS DOUBLE) FROM wtd
), m AS (
    SELECT covariate, treated,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(x AS BIGINT)) AS BIGINT) AS sx,
           CAST(SUM(CAST(x * x AS BIGINT)) AS BIGINT) AS sxx,
           CAST(SUM(CAST(FLOOR(w * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sw,
           CAST(SUM(CAST(FLOOR(w * x * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS swx
    FROM long GROUP BY 1, 2
), sides AS (
    SELECT covariate,
           MAX(CASE WHEN treated = 1 THEN CAST(sx AS DOUBLE) / n END) AS mt,
           MAX(CASE WHEN treated = 0 THEN CAST(sx AS DOUBLE) / n END) AS mc,
           MAX(CASE WHEN treated = 1
                    THEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1.0)
               END) AS vt,
           MAX(CASE WHEN treated = 0
                    THEN (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) / (n - 1.0)
               END) AS vc,
           MAX(CASE WHEN treated = 1 THEN swx / sw END) AS mwt,
           MAX(CASE WHEN treated = 0 THEN swx / sw END) AS mwc
    FROM m GROUP BY 1
)
SELECT covariate,
       FLOOR((mt - mc) / sqrt((vt + vc) / 2.0) * 1000000 + 0.5) / 1000000
           AS smd_raw,
       FLOOR((mwt - mwc) / sqrt((vt + vc) / 2.0) * 1000000 + 0.5) / 1000000
           AS smd_weighted,
       abs((mwt - mwc) / sqrt((vt + vc) / 2.0)) < 0.1 AS balanced
FROM sides
""",
)
def ml_covariate_balance(spark, sf_dir):
    """Covariate balance audit for the IPW analysis — the standardized
    mean difference (SMD) of every NON-treatment covariate, raw vs
    IPW-weighted, against Austin's |SMD| < 0.1 rule: the table every
    serious propensity paper prints BEFORE its effect estimate,
    because weights that don't balance the observables haven't earned
    a causal reading. Shares the exact weighted frame with ml_ipw_ate
    (one helper, _ipw_weighted_frame — the audit weights the SAME rows
    the estimator uses, by construction). Raw moments are exact
    integer sums; weighted means ride q6 DECIMAL; the denominator is
    the standard unweighted pooled SD so raw and weighted SMDs are
    comparable on one scale."""
    wtd = ckpt(_ipw_weighted_frame(spark, sf_dir))
    long = None
    for cov in ("ne", "n_view", "n_error"):
        part = wtd.select(
            "treated",
            "w",
            F.lit(cov).alias("covariate"),
            F.col(cov).cast("double").alias("x"),
        )
        long = part if long is None else long.unionByName(part)
    m = long.groupBy("covariate", "treated").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x").cast("bigint")).cast("bigint").alias("sx"),
        F.sum((F.col("x") * F.col("x")).cast("bigint")).cast("bigint").alias("sxx"),
        qsum(F.col("w")).alias("sw"),
        qsum(F.col("w") * F.col("x")).alias("swx"),
    )
    var_term = (
        F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    ) / (F.col("n") - F.lit(1.0))
    sides = m.groupBy("covariate").agg(
        F.max(F.when(F.col("treated") == 1, F.col("sx").cast("double") / F.col("n"))).alias("mt"),
        F.max(F.when(F.col("treated") == 0, F.col("sx").cast("double") / F.col("n"))).alias("mc"),
        F.max(F.when(F.col("treated") == 1, var_term)).alias("vt"),
        F.max(F.when(F.col("treated") == 0, var_term)).alias("vc"),
        F.max(F.when(F.col("treated") == 1, F.col("swx") / F.col("sw"))).alias("mwt"),
        F.max(F.when(F.col("treated") == 0, F.col("swx") / F.col("sw"))).alias("mwc"),
    )
    pooled = F.sqrt((F.col("vt") + F.col("vc")) / F.lit(2.0))
    return sides.select(
        "covariate",
        qround((F.col("mt") - F.col("mc")) / pooled).alias("smd_raw"),
        qround((F.col("mwt") - F.col("mwc")) / pooled).alias("smd_weighted"),
        (F.abs((F.col("mwt") - F.col("mwc")) / pooled) < 0.1).alias("balanced"),
    )


@register(
    "ml_yuen_trimmed_t",
    oracle=f"""
WITH per_user AS (
    SELECT user_id, user_id % 2 AS arm,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(FLOOR(value * 1e6 + 0.5) AS DECIMAL(38,6))
                         ELSE 0 END) AS BIGINT) AS yq
    FROM events GROUP BY user_id
), ranked AS (
    SELECT arm, yq,
           CAST(ROW_NUMBER() OVER (PARTITION BY arm ORDER BY yq, user_id)
                AS BIGINT) AS rn,
           CAST(COUNT(*) OVER (PARTITION BY arm) AS BIGINT) AS n
    FROM per_user
), gs AS (
    SELECT arm, yq, rn, n, CAST(n // 10 AS BIGINT) AS g FROM ranked
), wins AS (
    SELECT arm, n, g,
           CASE WHEN rn <= g THEN lo WHEN rn > n - g THEN hi ELSE yq END AS wq,
           CASE WHEN rn > g AND rn <= n - g THEN yq END AS tq
    FROM (
        SELECT *,
               MAX(CASE WHEN rn = g + 1 THEN yq END) OVER (PARTITION BY arm) AS lo,
               MAX(CASE WHEN rn = n - g THEN yq END) OVER (PARTITION BY arm) AS hi
        FROM gs
    )
), m AS (
    SELECT arm, ANY_VALUE(n) AS n, ANY_VALUE(g) AS g,
           CAST(ANY_VALUE(n) - 2 * ANY_VALUE(g) AS DOUBLE) AS h,
           CAST(SUM(tq) AS DOUBLE) / 1e6 / (ANY_VALUE(n) - 2 * ANY_VALUE(g))
               AS mt,
           (CAST(SUM(CAST(wq AS HUGEINT) * wq) AS DOUBLE) / 1e12
            - (CAST(SUM(wq) AS DOUBLE) / 1e6) * (CAST(SUM(wq) AS DOUBLE) / 1e6)
              / ANY_VALUE(n))
           / (ANY_VALUE(n) - 1.0) AS sw2
    FROM wins GROUP BY arm
), stat AS (
    SELECT
        (SELECT mt FROM m WHERE arm = 1) - (SELECT mt FROM m WHERE arm = 0) AS diff,
        (SELECT (n - 1.0) * sw2 / (h * (h - 1.0)) FROM m WHERE arm = 1)
        + (SELECT (n - 1.0) * sw2 / (h * (h - 1.0)) FROM m WHERE arm = 0) AS d,
        (SELECT CAST(n AS BIGINT) FROM m WHERE arm = 1)
        + (SELECT CAST(n AS BIGINT) FROM m WHERE arm = 0) AS n_users,
        (SELECT CAST(g AS BIGINT) FROM m WHERE arm = 1) AS g1
)
SELECT n_users, g1 AS trimmed_per_side,
       FLOOR(diff * 1000000 + 0.5) / 1000000 AS trimmed_diff,
       FLOOR(diff / sqrt(d) * 1000000 + 0.5) / 1000000 AS t_stat,
       FLOOR((1.0 - {_ERFC_AS.format(x="abs(diff / sqrt(d)) / sqrt(2.0)")})
             * 1000000 + 0.5) / 1000000 AS p_value
FROM stat
""",
)
def ml_yuen_trimmed_t(spark, sf_dir):
    """Yuen's trimmed-means t-test (10% per side) for the A/B spend
    difference — the ROBUST middle ground the family was missing:
    agg_welch_ttest is wrecked by heavy tails, agg_mann_whitney
    changes the null to stochastic dominance; Yuen keeps 'difference
    of (trimmed) means' semantics with outlier resistance. Trimmed
    means over EXACT order statistics (micro-BIGINT, user_id
    tiebreak), winsorized variances from integer-exact sums (HUGEINT
    squares on the DuckDB side, decimal-free since winsorized values
    are bounded), standard error (n-1)s_w^2/(h(h-1)) per Yuen 1974,
    p by normal approximation through the shared erf polynomial
    (documented — exact small-sample Yuen needs the t table). One
    user aggregate + one per-arm ordered window."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                qdec(F.col("value")),
            ).otherwise(F.lit(0).cast("decimal(38,6)"))
        )
        .cast("bigint")
        .alias("yq"),
        F.first(F.col("user_id") % 2).alias("arm"),
    ).select("user_id", "arm", "yq")
    wr = Window.partitionBy("arm").orderBy("yq", "user_id")
    wa = Window.partitionBy("arm")
    ranked = per_user.select(
        "arm",
        "yq",
        F.row_number().over(wr).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(wa).cast("bigint").alias("n"),
    ).withColumn("g", (F.col("n") / 10).cast("bigint"))
    bounds = ranked.select(
        "*",
        F.max(F.when(F.col("rn") == F.col("g") + 1, F.col("yq"))).over(wa).alias("lo"),
        F.max(F.when(F.col("rn") == F.col("n") - F.col("g"), F.col("yq"))).over(wa).alias("hi"),
    )
    wins = bounds.select(
        "arm",
        "n",
        "g",
        F.when(F.col("rn") <= F.col("g"), F.col("lo"))
        .when(F.col("rn") > F.col("n") - F.col("g"), F.col("hi"))
        .otherwise(F.col("yq"))
        .alias("wq"),
        F.when(
            (F.col("rn") > F.col("g")) & (F.col("rn") <= F.col("n") - F.col("g")),
            F.col("yq"),
        ).alias("tq"),
    )
    m = ckpt(
        wins.groupBy("arm").agg(
            F.any_value("n").alias("n"),
            F.any_value("g").alias("g"),
            (F.any_value("n") - 2 * F.any_value("g")).cast("double").alias("h"),
            (
                F.sum("tq").cast("double")
                / F.lit(1e6)
                / (F.any_value("n") - 2 * F.any_value("g"))
            ).alias("mt"),
            (
                (
                    F.sum(F.col("wq").cast("decimal(38,0)") * F.col("wq")).cast("double")
                    / F.lit(1e12)
                    - (F.sum("wq").cast("double") / F.lit(1e6))
                    * (F.sum("wq").cast("double") / F.lit(1e6))
                    / F.any_value("n")
                )
                / (F.any_value("n") - F.lit(1.0))
            ).alias("sw2"),
        )
    )
    dvar = (F.col("n") - F.lit(1.0)) * F.col("sw2") / (F.col("h") * (F.col("h") - F.lit(1.0)))
    arms = _arms(m, "arm", {"mt": F.col("mt"), "d": dvar, "n": F.col("n"), "g": F.col("g")})
    stat = arms.select(
        (F.col("mt1") - F.col("mt0")).alias("diff"),
        (F.col("d1") + F.col("d0")).alias("d"),
        (F.col("n1") + F.col("n0")).cast("bigint").alias("n_users"),
        F.col("g1").cast("bigint").alias("trimmed_per_side"),
    )
    tstat = F.col("diff") / F.sqrt("d")
    return stat.select(
        "n_users",
        "trimmed_per_side",
        qround(F.col("diff")).alias("trimmed_diff"),
        qround(tstat).alias("t_stat"),
        qround(
            F.lit(1.0)
            - F.expr(_ERFC_AS.format(x="abs(diff / sqrt(d)) / sqrt(2.0)"))
        ).alias("p_value"),
    )


@register(
    "ml_harrell_c",
    oracle="""
WITH per_user AS (
    SELECT user_id, MIN(ts) AS first_ts, MAX(ts) AS last_ts,
           CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY user_id
), h AS (SELECT MAX(last_ts) AS hz FROM per_user),
users AS (
    SELECT (epoch_us(last_ts) - epoch_us(first_ts)) // 3600000000 AS th,
           CASE WHEN last_ts < h.hz - INTERVAL 12 HOUR THEN 1 ELSE 0 END AS churned,
           x
    FROM per_user, h
), cells AS (
    SELECT th, x, CAST(COUNT(*) AS BIGINT) AS c,
           CAST(SUM(churned) AS BIGINT) AS ce
    FROM users GROUP BY 1, 2
), pairs AS (
    SELECT CAST(SUM(a.ce * b.c) AS BIGINT) AS comparable,
           CAST(SUM(CASE WHEN a.x > b.x THEN a.ce * b.c ELSE 0 END) AS BIGINT)
               AS concordant,
           CAST(SUM(CASE WHEN a.x = b.x THEN a.ce * b.c ELSE 0 END) AS BIGINT)
               AS tied
    FROM cells a JOIN cells b ON a.th < b.th
)
SELECT comparable, concordant, tied,
       FLOOR(CAST(2 * concordant + tied AS DOUBLE) / (2 * comparable)
             * 1000000 + 0.5) / 1000000 AS c_index
FROM pairs
""",
)
def ml_harrell_c(spark, sf_dir):
    """Harrell's concordance index for the churn-survival setting —
    THE discrimination metric for time-to-event models (AUC's
    censoring-aware generalization): over comparable pairs (i churned
    at t_i, j still at risk past t_i), how often does the risk score
    (activity volume) rank them correctly? Ties in risk score 0.5.
    The scalable shape: users collapse to (tenure, score) CELLS with
    churn counts, and the pair count becomes a weighted CELL x CELL
    join on tenure order — pairs of a bounded post-aggregate frame,
    never user x user. Everything stays integer (2*conc + ties over
    2*comparable defers the half-credit to one exact division). Same
    tenure/censor frame as the rest of the survival family."""
    users = _tenure(spark, sf_dir, F.count(F.lit(1)).cast("bigint").alias("x")).select(
        F.col("tenure").alias("th"), "churned", "x"
    )
    cells = ckpt(
        users.groupBy("th", "x").agg(
            F.count(F.lit(1)).cast("bigint").alias("c"),
            F.sum("churned").cast("bigint").alias("ce"),
        )
    )
    a = cells.select(F.col("th").alias("ta"), F.col("x").alias("xa"), F.col("ce").alias("cea"))
    b = cells.select(F.col("th").alias("tb"), F.col("x").alias("xb"), F.col("c").alias("cb"))
    pairs = a.join(b, F.col("ta") < F.col("tb")).agg(
        F.sum(F.col("cea") * F.col("cb")).cast("bigint").alias("comparable"),
        F.sum(F.when(F.col("xa") > F.col("xb"), F.col("cea") * F.col("cb")).otherwise(0))
        .cast("bigint")
        .alias("concordant"),
        F.sum(F.when(F.col("xa") == F.col("xb"), F.col("cea") * F.col("cb")).otherwise(0))
        .cast("bigint")
        .alias("tied"),
    )
    return pairs.select(
        "comparable",
        "concordant",
        "tied",
        qround(
            (F.lit(2) * F.col("concordant") + F.col("tied")).cast("double")
            / (F.lit(2) * F.col("comparable"))
        ).alias("c_index"),
    )


@register(
    "ml_brier_decomposition",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (
    SELECT MAX(last_ts) AS cmax FROM u
), s AS (
    SELECT user_id,
           epoch_us(m.cmax) - epoch_us(last_ts) AS rec,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END
               AS churned
    FROM u, m
), mx AS (SELECT CAST(GREATEST(MAX(rec), 1) AS DOUBLE) AS maxrec FROM s),
p AS (
    SELECT churned,
           FLOOR(rec / mx.maxrec * 1000000000 + 0.5) / 1000000000 AS phat
    FROM s, mx
), binned AS (
    SELECT LEAST(CAST(FLOOR(phat * 10) AS BIGINT), 9) AS b, phat, churned FROM p
), per_bin AS (
    SELECT b, CAST(COUNT(*) AS BIGINT) AS nb,
           CAST(SUM(CAST(FLOOR(phat * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE) / 1e9
               AS sp,
           CAST(SUM(CAST(FLOOR(phat * phat * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS spp,
           CAST(SUM(churned) AS BIGINT) AS so
    FROM binned GROUP BY 1
), tot AS (
    SELECT CAST(SUM(nb) AS BIGINT) AS n,
           CAST(SUM(so) AS DOUBLE) / SUM(nb) AS obar
    FROM per_bin
), parts AS (
    SELECT
        CAST(SUM(CAST(FLOOR(nb * (sp / nb - CAST(so AS DOUBLE) / nb)
                            * (sp / nb - CAST(so AS DOUBLE) / nb) * 1e9 + 0.5)
                      AS DECIMAL(38,9))) AS DOUBLE) / 1e9 / t.n AS rel,
        CAST(SUM(CAST(FLOOR(nb * (CAST(so AS DOUBLE) / nb - t.obar)
                            * (CAST(so AS DOUBLE) / nb - t.obar) * 1e9 + 0.5)
                      AS DECIMAL(38,9))) AS DOUBLE) / 1e9 / t.n AS res,
        CAST(SUM(CAST(FLOOR((spp - sp * sp / nb) * 1e9 + 0.5)
                      AS DECIMAL(38,9))) AS DOUBLE) / 1e9 / t.n AS wbv,
        t.obar * (1.0 - t.obar) AS unc,
        t.n
    FROM per_bin, tot t
    GROUP BY t.obar, t.n
)
SELECT n AS n_users,
       FLOOR(rel * 1000000 + 0.5) / 1000000 AS reliability,
       FLOOR(res * 1000000 + 0.5) / 1000000 AS resolution,
       FLOOR(unc * 1000000 + 0.5) / 1000000 AS uncertainty,
       FLOOR(wbv * 1000000 + 0.5) / 1000000 AS within_bin_var,
       FLOOR((rel - res + unc + wbv) * 1000000 + 0.5) / 1000000
           AS brier_reconstructed
FROM parts
""",
)
def ml_brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score — reliability (how far
    binned forecasts sit from observed rates: LOWER is better-
    calibrated), resolution (how much the bins separate outcomes:
    HIGHER is more informative), uncertainty (the base-rate floor no
    forecaster can beat), plus the within-bin forecast variance term
    that makes the identity EXACT for binned continuous forecasts:
    Brier = REL - RES + UNC + WBV (asserted against ml_brier_score in
    tests). Same (phat, churned) frame as ml_brier_score (shared
    _rec_scored helper / textually-mirrored CTEs); 10 fixed bins; all
    bin moments in DECIMAL, bin terms quantized before the cross-bin
    sum. Turns the single Brier number into the WHY — calibration
    problem vs discrimination problem — for the cost of one extra
    10-row aggregate."""
    p = _rec_scored(spark, sf_dir).select(
        "churned", qround(F.col("rec") / F.col("maxrec").cast("double"), 9).alias("phat")
    )
    binned = p.select(
        F.least(F.floor(F.col("phat") * 10).cast("bigint"), F.lit(9).cast("bigint")).alias("b"),
        "phat",
        "churned",
    )
    per_bin = ckpt(
        binned.groupBy("b").agg(
            F.count(F.lit(1)).cast("bigint").alias("nb"),
            qsum(F.col("phat"), 9).alias("sp"),
            qsum(F.col("phat") * F.col("phat"), 12).alias("spp"),
            F.sum("churned").cast("bigint").alias("so"),
        )
    )
    pbar = F.col("sp") / F.col("nb")
    obin = F.col("so").cast("double") / F.col("nb")
    parts = (
        with_stats(
            per_bin,
            F.sum("nb").cast("bigint").alias("n"),
            (F.sum("so").cast("double") / F.sum("nb")).alias("obar"),
        )
        .groupBy("obar", "n")
        .agg(
            (qsum(F.col("nb") * (pbar - obin) * (pbar - obin), 9) / F.first("n")).alias("rel"),
            (
                qsum(F.col("nb") * (obin - F.col("obar")) * (obin - F.col("obar")), 9)
                / F.first("n")
            ).alias("res"),
            (
                qsum(F.col("spp") - F.col("sp") * F.col("sp") / F.col("nb"), 9)
                / F.first("n")
            ).alias("wbv"),
        )
        .select(
            "n",
            "rel",
            "res",
            "wbv",
            (F.col("obar") * (F.lit(1.0) - F.col("obar"))).alias("unc"),
        )
    )
    return parts.select(
        F.col("n").alias("n_users"),
        qround(F.col("rel")).alias("reliability"),
        qround(F.col("res")).alias("resolution"),
        qround(F.col("unc")).alias("uncertainty"),
        qround(F.col("wbv")).alias("within_bin_var"),
        qround(F.col("rel") - F.col("res") + F.col("unc") + F.col("wbv")).alias(
            "brier_reconstructed"
        ),
    )


@register(
    "ml_kruskal_wallis",
    oracle=f"""
WITH frame AS (
    SELECT c.c_mktsegment AS g,
           CAST(FLOOR(o.o_totalprice * 1e6 + 0.5) AS BIGINT) AS yq
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
), ranked AS (
    SELECT g, yq,
           AVG(CAST(rn AS DOUBLE)) OVER (PARTITION BY yq) AS mid_rank
    FROM (SELECT g, yq, ROW_NUMBER() OVER (ORDER BY yq) AS rn FROM frame)
), stats AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(mid_rank * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 AS sr
    FROM ranked GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(COUNT(*) AS BIGINT) AS k
           FROM stats),
ties AS (
    SELECT CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS tsum
    FROM (SELECT COUNT(*) AS cnt FROM frame GROUP BY yq HAVING COUNT(*) > 1)
), h AS (
    SELECT t.nt, t.k,
           -- integer-grain quantization: sr^2/n reaches ~1e15 at 10x
           -- scale, so a 1e6 micro-floor would overflow Spark's LONG
           12.0 / (t.nt * (t.nt + 1.0))
           * CAST(SUM(CAST(FLOOR(s.sr * s.sr / s.n + 0.5)
                           AS DECIMAL(38,0))) AS DOUBLE)
           - 3.0 * (t.nt + 1.0) AS h_raw,
           COALESCE((SELECT tsum FROM ties), 0) AS tsum
    FROM stats s, tot t
    GROUP BY t.nt, t.k
)
SELECT CAST(nt AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS k_groups,
       FLOOR(h_raw * 1000000 + 0.5) / 1000000 AS h_raw,
       FLOOR(h_raw / (1.0 - CAST(tsum AS DOUBLE) / (CAST(nt AS DOUBLE) * nt * nt - nt))
             * 1000000 + 0.5) / 1000000 AS h_stat,
       h_raw / (1.0 - CAST(tsum AS DOUBLE) / (CAST(nt AS DOUBLE) * nt * nt - nt))
           > 9.487729 AS reject_equal_medians
FROM h
""",
)
def ml_kruskal_wallis(spark, sf_dir):
    """Kruskal-Wallis H test — the k-sample rank test the family was
    missing (agg_mann_whitney covers two samples; agg_weekday_anova
    assumes normal errors): do the five market segments draw order
    values from the same distribution? Mid-ranks handle ties exactly
    (cents-quantized BIGINT values, global row_number then per-value
    rank average — deterministic in both engines), the tie-correction
    divisor 1 - sum(t^3 - t)/(n^3 - n) is computed from exact integer
    tie-group counts, and the decision compares against the chi2(4)
    5% point (9.4877). Scale shape: one global value sort (the same
    cost as any exact-rank op), then O(groups) algebra; rank sums ride
    q6 DECIMAL."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    frame = ckpt(
        o.join(c, o["o_custkey"] == c["c_custkey"]).select(
            F.col("c_mktsegment").alias("g"),
            F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("yq"),
        )
    )
    ranked = frame.select(
        "g", "yq", F.row_number().over(Window.orderBy("yq")).alias("rn")
    ).select(
        "g",
        "yq",
        F.avg(F.col("rn").cast("double")).over(Window.partitionBy("yq")).alias("mid_rank"),
    )
    stats = ranked.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        qsum(F.col("mid_rank")).alias("sr"),
    )
    ties = (
        frame.groupBy("yq")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt")),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tsum")
        )
    )
    h = (
        with_stats(
            stats,
            F.sum("n").cast("bigint").alias("nt"),
            F.count(F.lit(1)).cast("bigint").alias("k"),
        )
        .groupBy("nt", "k")
        .agg(
            (
                F.sum(
                    F.floor(
                        F.col("sr") * F.col("sr") / F.col("n") + F.lit(0.5)
                    ).cast("decimal(38,0)")
                ).cast("double")
            ).alias("srr")
        )
        .select(
            "nt",
            "k",
            (
                F.lit(12.0) / (F.col("nt") * (F.col("nt") + F.lit(1.0))) * F.col("srr")
                - F.lit(3.0) * (F.col("nt") + F.lit(1.0))
            ).alias("h_raw"),
        )
        .crossJoin(F.broadcast(ties))
    )
    corr = F.lit(1.0) - F.col("tsum").cast("double") / (
        F.col("nt").cast("double") * F.col("nt") * F.col("nt") - F.col("nt")
    )
    return h.select(
        F.col("nt").cast("bigint").alias("n_rows"),
        F.col("k").cast("bigint").alias("k_groups"),
        qround(F.col("h_raw")).alias("h_raw"),
        qround(F.col("h_raw") / corr).alias("h_stat"),
        (F.col("h_raw") / corr > F.lit(9.487729)).alias("reject_equal_medians"),
    )


@register(
    "ml_icc_anova",
    oracle="""
WITH frame AS (
    -- y in KILO-dollars: keeps every moment far from the double-
    -- cancellation band (raw dollars put SS terms at ~3e17, where the
    -- q6 rounding of their ~2e10 difference is below one ulp)
    SELECT n.n_name AS g, CAST(o.o_totalprice AS DOUBLE) / 1000.0 AS y
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
), m AS (
    SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sy,
           CAST(SUM(CAST(FLOOR(y * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS syy
    FROM frame GROUP BY 1
), tot AS (
    SELECT CAST(SUM(n) AS DOUBLE) AS nt, CAST(COUNT(*) AS DOUBLE) AS k,
           CAST(SUM(CAST(FLOOR(sy * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS gs,
           CAST(SUM(CAST(FLOOR(n * n * 1 + 0.5) AS DECIMAL(38,0))) AS DOUBLE) AS snn
    FROM m
), ss AS (
    SELECT t.nt, t.k,
           CAST(SUM(CAST(FLOOR(m.sy * m.sy / m.n * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 - t.gs * t.gs / t.nt AS ssb,
           CAST(SUM(CAST(FLOOR(m.syy * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
           - CAST(SUM(CAST(FLOOR(m.sy * m.sy / m.n * 1e6 + 0.5) AS DECIMAL(38,6)))
                  AS DOUBLE) / 1e6 AS ssw,
           (t.nt - t.snn / t.nt) / (t.k - 1.0) AS k0
    FROM m, tot t
    GROUP BY t.nt, t.k, t.gs, t.snn
), msq AS (
    SELECT nt, k, k0,
           ssb / (k - 1.0) AS msb,
           ssw / (nt - k) AS msw
    FROM ss
)
SELECT CAST(nt AS BIGINT) AS n_rows, CAST(k AS BIGINT) AS k_groups,
       FLOOR(msb * 1000000 + 0.5) / 1000000 AS ms_between,
       FLOOR(msw * 1000000 + 0.5) / 1000000 AS ms_within,
       FLOOR((msb - msw) / (msb + (k0 - 1.0) * msw) * 1000000 + 0.5) / 1000000
           AS icc1,
       (msb - msw) / (msb + (k0 - 1.0) * msw) > 0.05 AS clustering_matters
FROM msq
""",
)
def ml_icc_anova(spark, sf_dir):
    """Intraclass correlation ICC(1) of order values within customer
    nations — the clustered-data diagnostic that decides whether naive
    i.i.d. standard errors are a lie: even a small ICC inflates the
    variance of a nation-clustered estimate by the design effect
    1 + (m-1)·ICC, so every geo-randomized experiment owes this number
    before quoting a p-value. One-way random-effects ANOVA with
    unbalanced-group correction (k0 = (N - sum n_j^2/N)/(k-1), the
    standard ANOVA estimator): between/within mean squares from one
    per-group moment aggregate, values rescaled to KILO-dollars so the
    sum-of-squares terms stay far from the double-cancellation band
    (raw dollars put them at ~3e17, where rounding the ~2e10 difference
    at 1e-6 is below one ulp — measured, not theoretical). MS units are
    k$^2. Reports MSB/MSW/ICC and the
    0.05 rule-of-thumb flag."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    frame = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            F.col("n_name").alias("g"),
            (F.col("o_totalprice").cast("double") / F.lit(1000.0)).alias("y"),
        )
    )
    m = ckpt(
        frame.groupBy("g").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            qsum(F.col("y")).alias("sy"),
            qsum(F.col("y") * F.col("y")).alias("syy"),
        )
    )
    ss = (
        with_stats(
            m,
            F.sum("n").cast("double").alias("nt"),
            F.count(F.lit(1)).cast("double").alias("k"),
            qsum(F.col("sy")).alias("gs"),
            F.sum(
                F.floor(F.col("n") * F.col("n") * F.lit(1) + F.lit(0.5)).cast("decimal(38,0)")
            )
            .cast("double")
            .alias("snn"),
        )
        .groupBy("nt", "k", "gs", "snn")
        .agg(
            qsum(F.col("sy") * F.col("sy") / F.col("n")).alias("sqq"),
            qsum(F.col("syy")).alias("syys"),
        )
        .select(
            "nt",
            "k",
            (F.col("sqq") - F.col("gs") * F.col("gs") / F.col("nt")).alias("ssb"),
            (F.col("syys") - F.col("sqq")).alias("ssw"),
            ((F.col("nt") - F.col("snn") / F.col("nt")) / (F.col("k") - F.lit(1.0))).alias("k0"),
        )
    )
    msq = ss.select(
        "nt",
        "k",
        "k0",
        (F.col("ssb") / (F.col("k") - F.lit(1.0))).alias("msb"),
        (F.col("ssw") / (F.col("nt") - F.col("k"))).alias("msw"),
    )
    icc = (F.col("msb") - F.col("msw")) / (
        F.col("msb") + (F.col("k0") - F.lit(1.0)) * F.col("msw")
    )
    return msq.select(
        F.col("nt").cast("bigint").alias("n_rows"),
        F.col("k").cast("bigint").alias("k_groups"),
        qround(F.col("msb")).alias("ms_between"),
        qround(F.col("msw")).alias("ms_within"),
        qround(icc).alias("icc1"),
        (icc > F.lit(0.05)).alias("clustering_matters"),
    )


@register(
    "ml_friedman_test",
    oracle="""
WITH cells AS (
    SELECT o.o_orderpriority AS blk, c.c_mktsegment AS trt,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 / COUNT(*) AS m
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1, 2
), q AS (
    SELECT blk, trt, FLOOR(m * 1e6 + 0.5) / 1e6 AS mq FROM cells
), ranked AS (
    SELECT blk, trt,
           AVG(CAST(rn AS DOUBLE)) OVER (PARTITION BY blk, mq) AS r
    FROM (SELECT blk, trt, mq,
                 ROW_NUMBER() OVER (PARTITION BY blk ORDER BY mq, trt) AS rn
          FROM q)
), sums AS (
    SELECT trt, CAST(SUM(CAST(FLOOR(r * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
                    / 1e6 AS rj,
           CAST(COUNT(*) AS BIGINT) AS n_blocks
    FROM ranked GROUP BY 1
), stat AS (
    SELECT ANY_VALUE(n_blocks) AS n, CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CAST(FLOOR(rj * rj * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS srr
    FROM sums
)
SELECT CAST(n AS BIGINT) AS n_blocks, CAST(k AS BIGINT) AS k_treatments,
       FLOOR((12.0 / (n * k * (k + 1.0)) * srr - 3.0 * n * (k + 1.0))
             * 1000000 + 0.5) / 1000000 AS friedman_q,
       12.0 / (n * k * (k + 1.0)) * srr - 3.0 * n * (k + 1.0) > 9.487729
           AS reject_equal_treatments
FROM stat
""",
)
def ml_friedman_test(spark, sf_dir):
    """Friedman test — the BLOCKED k-sample rank test completing the
    nonparametric family (ml_kruskal_wallis is the unblocked one):
    does mean order value differ across the five market segments once
    each order-priority block only contributes its WITHIN-BLOCK
    ranking? Blocking removes the priority main effect exactly the way
    a paired t removes subject effects — the right design when blocks
    differ wildly in level. Cell means from one decimal-moment
    aggregate, q6-quantized BEFORE ranking (so cross-engine ties are
    impossible except at exact equality, where the mid-rank average
    applies identically), Q = 12/(nk(k+1)) sum R_j^2 - 3n(k+1) vs
    chi2(4)'s 9.4877. Everything after the fact pass is a 25-cell
    frame."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderpriority")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cells = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy(F.col("o_orderpriority").alias("blk"), F.col("c_mktsegment").alias("trt"))
        .agg(
            (
                qsum(F.col("o_totalprice"))
                / F.count(F.lit(1))
            ).alias("m")
        )
        .select("blk", "trt", qround(F.col("m")).alias("mq"))
    )
    ranked = cells.select(
        "blk",
        "trt",
        "mq",
        F.row_number().over(Window.partitionBy("blk").orderBy("mq", "trt")).alias("rn"),
    ).select(
        "blk",
        "trt",
        F.avg(F.col("rn").cast("double"))
        .over(Window.partitionBy("blk", "mq"))
        .alias("r"),
    )
    sums = ranked.groupBy("trt").agg(
        qsum(F.col("r")).alias("rj"),
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
    )
    stat = sums.agg(
        F.any_value("n_blocks").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
        qsum(F.col("rj") * F.col("rj")).alias("srr"),
    )
    qq = (
        F.lit(12.0) / (F.col("n") * F.col("k") * (F.col("k") + F.lit(1.0))) * F.col("srr")
        - F.lit(3.0) * F.col("n") * (F.col("k") + F.lit(1.0))
    )
    return stat.select(
        F.col("n").cast("bigint").alias("n_blocks"),
        F.col("k").cast("bigint").alias("k_treatments"),
        qround(qq).alias("friedman_q"),
        (qq > F.lit(9.487729)).alias("reject_equal_treatments"),
    )


@register(
    "ml_brown_forsythe",
    oracle="""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(isodow(CAST(o_orderdate AS DATE)) AS BIGINT) AS dow,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 / 1000.0 AS rev
    FROM orders GROUP BY 1, 2
), med AS (
    SELECT dow, rev,
           CAST(ROW_NUMBER() OVER (PARTITION BY dow ORDER BY rev, day) AS BIGINT)
               AS rn,
           CAST(COUNT(*) OVER (PARTITION BY dow) AS BIGINT) AS n,
           day
    FROM daily
), gmed AS (
    SELECT dow, rev AS m FROM med WHERE rn = (n + 1) // 2
), z AS (
    SELECT d.dow, abs(d.rev - g.m) AS z
    FROM daily d JOIN gmed g ON g.dow = d.dow
), gm AS (
    SELECT dow, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(z * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sz,
           CAST(SUM(CAST(FLOOR(z * z * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS szz
    FROM z GROUP BY 1
), tot AS (
    SELECT CAST(SUM(n) AS DOUBLE) AS nt, CAST(COUNT(*) AS DOUBLE) AS k,
           CAST(SUM(CAST(FLOOR(sz * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS gs
    FROM gm
), ss AS (
    SELECT t.nt, t.k,
           CAST(SUM(CAST(FLOOR(g.sz * g.sz / g.n * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 - t.gs * t.gs / t.nt AS ssb,
           CAST(SUM(CAST(FLOOR(g.szz * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
           - CAST(SUM(CAST(FLOOR(g.sz * g.sz / g.n * 1e6 + 0.5) AS DECIMAL(38,6)))
                  AS DOUBLE) / 1e6 AS ssw
    FROM gm g, tot t GROUP BY t.nt, t.k, t.gs
)
SELECT CAST(nt AS BIGINT) AS n_days, CAST(k AS BIGINT) AS k_groups,
       FLOOR((ssb / (k - 1.0)) / (ssw / (nt - k)) * 1000000 + 0.5) / 1000000
           AS bf_stat,
       (ssb / (k - 1.0)) / (ssw / (nt - k)) > 2.1 AS reject_equal_variances
FROM ss
""",
)
def ml_brown_forsythe(spark, sf_dir):
    """Brown-Forsythe test for VARIANCE equality across weekdays — the
    robust Levene variant (deviations from the group MEDIAN, not mean)
    that answers the question agg_weekday_anova's mean test does not:
    even with equal average revenue, a weekday whose revenue VARIANCE
    is double needs different safety stock and staffing buffers, and
    classical Bartlett's test is wrecked by non-normality exactly
    where variance questions arise. One-way ANOVA F on |x - median_g|
    with exact order-statistic medians (day tiebreak), all moments in
    DECIMAL at kilo-dollar scale (the ICC cancellation lesson),
    decision vs the F(6, inf) 5% point ~2.1. One day aggregate + one
    per-group window + O(weekdays) algebra."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(
            (
                qsum(F.col("o_totalprice"))
                / F.lit(1000.0)
            ).alias("rev")
        )
        .select(
            "day",
            "rev",
            (((F.dayofweek("day") + 5) % 7) + 1).cast("bigint").alias("dow"),
        )
    )
    med = daily.select(
        "dow",
        "rev",
        F.row_number()
        .over(Window.partitionBy("dow").orderBy("rev", "day"))
        .cast("bigint")
        .alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("dow")).cast("bigint").alias("n"),
    )
    gmed = med.filter(F.col("rn") == ((F.col("n") + 1) / 2).cast("bigint")).select(
        "dow", F.col("rev").alias("m")
    )
    z = daily.join(F.broadcast(gmed), "dow").select(
        "dow", F.abs(F.col("rev") - F.col("m")).alias("z")
    )
    gm = ckpt(
        z.groupBy("dow").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            qsum(F.col("z")).alias("sz"),
            qsum(F.col("z") * F.col("z")).alias("szz"),
        )
    )
    ss = (
        with_stats(
            gm,
            F.sum("n").cast("double").alias("nt"),
            F.count(F.lit(1)).cast("double").alias("k"),
            qsum(F.col("sz")).alias("gs"),
        )
        .groupBy("nt", "k", "gs")
        .agg(
            qsum(F.col("sz") * F.col("sz") / F.col("n")).alias("sqq"),
            qsum(F.col("szz")).alias("szzs"),
        )
        .select(
            "nt",
            "k",
            (F.col("sqq") - F.col("gs") * F.col("gs") / F.col("nt")).alias("ssb"),
            (F.col("szzs") - F.col("sqq")).alias("ssw"),
        )
    )
    fstat = (F.col("ssb") / (F.col("k") - F.lit(1.0))) / (
        F.col("ssw") / (F.col("nt") - F.col("k"))
    )
    return ss.select(
        F.col("nt").cast("bigint").alias("n_days"),
        F.col("k").cast("bigint").alias("k_groups"),
        qround(fstat).alias("bf_stat"),
        (fstat > F.lit(2.1)).alias("reject_equal_variances"),
    )


@register(
    "ml_tjur_r2",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (
    SELECT MAX(last_ts) AS cmax FROM u
), s AS (
    SELECT epoch_us(m.cmax) - epoch_us(last_ts) AS rec,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END
               AS churned
    FROM u, m
), mx AS (SELECT CAST(GREATEST(MAX(rec), 1) AS DOUBLE) AS maxrec FROM s),
p AS (
    SELECT churned,
           FLOOR(rec / mx.maxrec * 1000000000 + 0.5) / 1000000000 AS phat
    FROM s, mx
), sides AS (
    SELECT churned, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(phat * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE) / 1e9
               AS sp
    FROM p GROUP BY 1
)
SELECT CAST((SELECT SUM(n) FROM sides) AS BIGINT) AS n_users,
       FLOOR((SELECT sp / n FROM sides WHERE churned = 1) * 1000000 + 0.5)
           / 1000000 AS mean_p_churned,
       FLOOR((SELECT sp / n FROM sides WHERE churned = 0) * 1000000 + 0.5)
           / 1000000 AS mean_p_retained,
       FLOOR(((SELECT sp / n FROM sides WHERE churned = 1)
              - (SELECT sp / n FROM sides WHERE churned = 0))
             * 1000000 + 0.5) / 1000000 AS tjur_r2
FROM sides LIMIT 1
""",
)
def ml_tjur_r2(spark, sf_dir):
    """Tjur's R^2 (the coefficient of discrimination) for the churn
    probability score — the ONE pseudo-R^2 with a plain-language
    reading: the gap between the average predicted probability among
    actual churners and among the retained (Tjur 2009). It rounds out
    the score-eval family on a different axis than ml_auc_exact
    (ranking) and ml_brier_score (calibrated error): a model can have
    great AUC and terrible Tjur R^2 when its probabilities barely
    separate in LEVEL. Same (phat, churned) frame as the Brier pair
    (shared _rec_scored helper / mirrored CTEs); the whole statistic
    is one 2-group DECIMAL mean."""
    p = _rec_scored(spark, sf_dir).select(
        "churned", qround(F.col("rec") / F.col("maxrec").cast("double"), 9).alias("phat")
    )
    sides = ckpt(
        p.groupBy("churned").agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            qsum(F.col("phat"), 9).alias("sp"),
        )
    )
    arms = _arms(sides, "churned", {"m": F.col("sp") / F.col("n"), "n": F.col("n")})
    return arms.select(
        (F.col("n1") + F.col("n0")).cast("bigint").alias("n_users"),
        qround(F.col("m1")).alias("mean_p_churned"),
        qround(F.col("m0")).alias("mean_p_retained"),
        qround(F.col("m1") - F.col("m0")).alias("tjur_r2"),
    )


@register(
    "ml_mcc",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (SELECT MAX(last_ts) AS cmax FROM u),
s AS (
    SELECT epoch_us(m.cmax) - epoch_us(last_ts) AS rec,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END
               AS churned
    FROM u, m
), mx AS (SELECT CAST(GREATEST(MAX(rec), 1) AS DOUBLE) AS maxrec FROM s),
pred AS (
    SELECT churned,
           CASE WHEN FLOOR(rec / mx.maxrec * 1000000000 + 0.5) / 1000000000 >= 0.5
                THEN 1 ELSE 0 END AS yhat
    FROM s, mx
), cm AS (
    SELECT CAST(SUM(CASE WHEN churned = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN churned = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           CAST(SUM(CASE WHEN churned = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
           CAST(SUM(CASE WHEN churned = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
    FROM pred
)
SELECT tp, fp, fn, tn,
       FLOOR((CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)
             / sqrt(CAST(tp + fp AS DOUBLE) * (tp + fn) * (tn + fp) * (tn + fn))
             * 1000000 + 0.5) / 1000000 AS mcc
FROM cm
""",
)
def ml_mcc(spark, sf_dir):
    """Matthews correlation coefficient of the thresholded churn score
    — the single binary-classification number that survives class
    imbalance (accuracy, F1 and even balanced accuracy can all look
    fine while one confusion cell is empty; MCC is the full phi
    correlation of the 2x2 table and only rewards getting ALL FOUR
    cells right — Chicco & Jurman's recommendation as the default
    report). Threshold 0.5 on the shared recency score
    (_rec_scored-mirrored frame), exact integer confusion counts, one
    float expression at the end. Completes the eval family's scalar
    tier: AUC (ranking), Brier (calibration), Tjur (separation),
    MCC (thresholded decision quality)."""
    pred = _rec_scored(spark, sf_dir).select(
        "churned",
        (qround(F.col("rec") / F.col("maxrec").cast("double"), 9) >= 0.5)
        .cast("int")
        .alias("yhat"),
    )
    cm = pred.agg(
        F.sum(F.when((F.col("churned") == 1) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.when((F.col("churned") == 0) & (F.col("yhat") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.when((F.col("churned") == 1) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.when((F.col("churned") == 0) & (F.col("yhat") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("tn"),
    )
    mcc = (
        F.col("tp").cast("double") * F.col("tn")
        - F.col("fp").cast("double") * F.col("fn")
    ) / F.sqrt(
        (F.col("tp") + F.col("fp")).cast("double")
        * (F.col("tp") + F.col("fn"))
        * (F.col("tn") + F.col("fp"))
        * (F.col("tn") + F.col("fn"))
    )
    return cm.select("tp", "fp", "fn", "tn", qround(mcc).alias("mcc"))


@register(
    "ml_cohen_d",
    oracle="""
WITH per_user AS (
    SELECT user_id % 2 AS arm,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE)
               AS y
    FROM events GROUP BY user_id
), m AS (
    SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sy,
           CAST(SUM(CAST(FLOOR(y * y * 1e2 + 0.5) AS DECIMAL(38,2))) AS DOUBLE) / 1e2
               AS syy
    FROM per_user GROUP BY 1
), w AS (
    SELECT
        (SELECT n FROM m WHERE arm = 1) AS n1, (SELECT n FROM m WHERE arm = 0) AS n0,
        (SELECT sy / n FROM m WHERE arm = 1) - (SELECT sy / n FROM m WHERE arm = 0)
            AS diff,
        (SELECT syy - sy * sy / n FROM m WHERE arm = 1)
        + (SELECT syy - sy * sy / n FROM m WHERE arm = 0) AS ss
), d AS (
    SELECT n1, n0, diff,
           diff / sqrt(ss / (n1 + n0 - 2.0)) AS cohen_d
    FROM w
)
SELECT CAST(n1 + n0 AS BIGINT) AS n_users,
       FLOOR(diff * 1000000 + 0.5) / 1000000 AS mean_diff,
       FLOOR(cohen_d * 1000000 + 0.5) / 1000000 AS cohen_d,
       FLOOR(cohen_d * (1.0 - 3.0 / (4.0 * (n1 + n0) - 9.0)) * 1000000 + 0.5)
           / 1000000 AS hedges_g,
       FLOOR(sqrt((n1 + n0) / (n1 * n0) + cohen_d * cohen_d / (2.0 * (n1 + n0)))
             * 1000000 + 0.5) / 1000000 AS se_d
FROM d
""",
)
def ml_cohen_d(spark, sf_dir):
    """Cohen's d and Hedges' g for the A/B spend difference — the
    STANDARDIZED effect sizes every experiment result should report
    next to its p-value (a significant 0.02-sigma effect is a
    triviality detector, not a product win; d is what meta-analyses
    like ml_meta_analysis_dl pool). Pooled-SD standardization from
    exact DECIMAL moments, Hedges' small-sample correction
    1 - 3/(4N - 9), and the standard error sqrt(N/(n1 n0) +
    d^2/(2N)) for CI construction downstream. Completes the
    effect-size family: ml_cramers_v (categorical), ml_shap_linear
    (per-feature), this (two-group continuous). One user aggregate +
    2-row algebra."""
    e = t(spark, sf_dir, "events")
    per_user = (
        e.groupBy("user_id")
        .agg(revenue().alias("y"))
        .select((F.col("user_id") % 2).alias("arm"), "y")
    )
    m = ckpt(
        per_user.groupBy("arm").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            qsum(F.col("y")).alias("sy"),
            (
                F.sum(
                    F.floor(F.col("y") * F.col("y") * F.lit(1e2) + F.lit(0.5)).cast(
                        "decimal(38,2)"
                    )
                ).cast("double")
                / F.lit(1e2)
            ).alias("syy"),
        )
    )
    w = _arms(m, "arm", {
        "n": F.col("n"),
        "mean": F.col("sy") / F.col("n"),
        "ss": F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"),
    }).select(
        "n1",
        "n0",
        (F.col("mean1") - F.col("mean0")).alias("diff"),
        (F.col("ss1") + F.col("ss0")).alias("ss"),
    )
    d = w.select(
        "n1",
        "n0",
        "diff",
        (F.col("diff") / F.sqrt(F.col("ss") / (F.col("n1") + F.col("n0") - F.lit(2.0)))).alias("cohen_d"),
    )
    nn = F.col("n1") + F.col("n0")
    return d.select(
        nn.cast("bigint").alias("n_users"),
        qround(F.col("diff")).alias("mean_diff"),
        qround(F.col("cohen_d")).alias("cohen_d"),
        qround(
            F.col("cohen_d") * (F.lit(1.0) - F.lit(3.0) / (F.lit(4.0) * nn - F.lit(9.0)))
        ).alias("hedges_g"),
        qround(
            F.sqrt(
                nn / (F.col("n1") * F.col("n0"))
                + F.col("cohen_d") * F.col("cohen_d") / (F.lit(2.0) * nn)
            )
        ).alias("se_d"),
    )


@register(
    "ml_risk_reduction",
    oracle="""
WITH arms AS (
    SELECT user_id % 2 AS arm,
           CASE WHEN SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) >= 15
                THEN 1 ELSE 0 END AS bad
    FROM events GROUP BY user_id
), m AS (
    SELECT arm, CAST(COUNT(*) AS DOUBLE) AS n, CAST(SUM(bad) AS DOUBLE) AS k
    FROM arms GROUP BY 1
), w AS (
    SELECT (SELECT k / n FROM m WHERE arm = 0) AS p0,
           (SELECT k / n FROM m WHERE arm = 1) AS p1,
           (SELECT CAST(n AS BIGINT) FROM m WHERE arm = 0)
           + (SELECT CAST(n AS BIGINT) FROM m WHERE arm = 1) AS nt
)
SELECT nt AS n_users,
       FLOOR(p0 * 1000000 + 0.5) / 1000000 AS risk_control,
       FLOOR(p1 * 1000000 + 0.5) / 1000000 AS risk_treated,
       FLOOR((p0 - p1) * 1000000 + 0.5) / 1000000 AS arr,
       FLOOR((p0 - p1) / p0 * 1000000 + 0.5) / 1000000 AS rrr,
       FLOOR(1.0 / abs(p0 - p1) * 1000000 + 0.5) / 1000000 AS nnt,
       FLOOR((p1 / (1.0 - p1)) / (p0 / (1.0 - p0)) * 1000000 + 0.5) / 1000000
           AS odds_ratio
FROM w
""",
)
def ml_risk_reduction(spark, sf_dir):
    """Absolute/relative risk reduction, NNT and odds ratio — the
    clinical-reporting quartet applied to a product 'adverse event'
    (heavy error exposure): relative risk reduction headlines well
    ('40% fewer!') while the ABSOLUTE reduction and its reciprocal,
    the number-needed-to-treat, say what it costs to prevent ONE bad
    outcome — the difference between a press release and a decision.
    The odds ratio rides along because it is what logistic models and
    case-control designs estimate, and confusing OR with RR is the
    classic epidemiology blunder (they diverge exactly when the
    outcome is common). One user aggregate, a 2-row pivot, exact
    counts until four final divisions."""
    e = t(spark, sf_dir, "events")
    arms = e.groupBy("user_id").agg(
        (
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0)) >= 15
        ).cast("int").alias("bad")
    ).select((F.col("user_id") % 2).alias("arm"), "bad")
    m = ckpt(
        arms.groupBy("arm").agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum("bad").cast("double").alias("k"),
        )
    )
    w = _arms(m, "arm", {"p": F.col("k") / F.col("n"), "n": F.col("n")})
    arr = F.col("p0") - F.col("p1")
    return w.select(
        (F.col("n0") + F.col("n1")).cast("bigint").alias("n_users"),
        qround(F.col("p0")).alias("risk_control"),
        qround(F.col("p1")).alias("risk_treated"),
        qround(arr).alias("arr"),
        qround(arr / F.col("p0")).alias("rrr"),
        qround(F.lit(1.0) / F.abs(arr)).alias("nnt"),
        qround(
            (F.col("p1") / (F.lit(1.0) - F.col("p1")))
            / (F.col("p0") / (F.lit(1.0) - F.col("p0")))
        ).alias("odds_ratio"),
    )


@register(
    "ml_youden_j",
    oracle="""
WITH u AS (
    SELECT user_id, MAX(ts) AS last_ts FROM events GROUP BY user_id
), m AS (SELECT MAX(last_ts) AS cmax FROM u),
s AS (
    SELECT epoch_us(m.cmax) - epoch_us(last_ts) AS rec,
           CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1 ELSE 0 END
               AS churned
    FROM u, m
), mx AS (SELECT CAST(GREATEST(MAX(rec), 1) AS DOUBLE) AS maxrec FROM s),
p AS (
    SELECT churned,
           FLOOR(rec / mx.maxrec * 1000000000 + 0.5) / 1000000000 AS phat
    FROM s, mx
), tot AS (
    SELECT CAST(SUM(churned) AS BIGINT) AS np,
           CAST(SUM(1 - churned) AS BIGINT) AS nn
    FROM p
), cand AS (
    SELECT p1.phat AS thr,
           CAST(SUM(CASE WHEN p2.churned = 1 AND p2.phat >= p1.phat
                         THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           CAST(SUM(CASE WHEN p2.churned = 0 AND p2.phat >= p1.phat
                         THEN 1 ELSE 0 END) AS BIGINT) AS fp
    FROM (SELECT DISTINCT phat FROM p) p1, p p2
    GROUP BY p1.phat
), scored AS (
    SELECT thr,
           FLOOR((CAST(tp AS DOUBLE) / t.np - CAST(fp AS DOUBLE) / t.nn)
                 * 1e9 + 0.5) / 1e9 AS j,
           CAST(tp AS DOUBLE) / t.np AS sens,
           1.0 - CAST(fp AS DOUBLE) / t.nn AS spec
    FROM cand, tot t
)
SELECT FLOOR(thr * 1000000 + 0.5) / 1000000 AS best_threshold,
       FLOOR(j * 1000000 + 0.5) / 1000000 AS youden_j,
       FLOOR(sens * 1000000 + 0.5) / 1000000 AS sensitivity,
       FLOOR(spec * 1000000 + 0.5) / 1000000 AS specificity
FROM scored
ORDER BY j DESC, thr LIMIT 1
""",
)
def ml_youden_j(spark, sf_dir):
    """Youden's J optimal cutpoint — the cost-free answer to 'where do
    I threshold this score?': maximize sensitivity + specificity - 1
    over EVERY observed score value (ml_cost_threshold needs a cost
    matrix; Youden is what you use when costs are unknown, and J at
    the optimum equals the maximum vertical gap to the ROC diagonal).
    Candidate thresholds = the distinct scores themselves (no grid
    coarseness), TP/FP per candidate via the distinct-threshold x
    user-score join — O(distinct scores x users) of the bounded user
    frame, exact integer cells, J q9-quantized before the
    deterministic argmax (thr tiebreak). Same churn-score frame as
    the rest of the eval family."""
    p = ckpt(
        _rec_scored(spark, sf_dir).select(
            "churned", qround(F.col("rec") / F.col("maxrec").cast("double"), 9).alias("phat")
        )
    )
    tot = p.agg(
        F.sum("churned").cast("bigint").alias("np"),
        F.sum(1 - F.col("churned")).cast("bigint").alias("nn"),
    )
    thrs = p.select(F.col("phat").alias("thr")).distinct()
    cand = (
        thrs.join(
            p.select(F.col("phat").alias("score"), "churned"),
            F.col("score") >= F.col("thr"),
        )
        .groupBy("thr")
        .agg(
            F.sum(F.when(F.col("churned") == 1, 1).otherwise(0)).cast("bigint").alias("tp"),
            F.sum(F.when(F.col("churned") == 0, 1).otherwise(0)).cast("bigint").alias("fp"),
        )
    )
    scored = cand.crossJoin(F.broadcast(tot)).select(
        "thr",
        qround(
            F.col("tp").cast("double") / F.col("np")
            - F.col("fp").cast("double") / F.col("nn"),
            9,
        ).alias("j"),
        (F.col("tp").cast("double") / F.col("np")).alias("sens"),
        (F.lit(1.0) - F.col("fp").cast("double") / F.col("nn")).alias("spec"),
    )
    w = Window.orderBy(F.desc("j"), F.asc("thr"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            qround(F.col("thr")).alias("best_threshold"),
            qround(F.col("j")).alias("youden_j"),
            qround(F.col("sens")).alias("sensitivity"),
            qround(F.col("spec")).alias("specificity"),
        )
    )
