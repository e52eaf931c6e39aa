"""The packaged churn pipeline — reference parity, distributed.

Reference flow [SURVEY.md §3.1, unverified]: GA JSON → Cassandra →
PySpark per-user features → collect to ONE node → Keras/sklearn fit →
predictions → Cassandra. The single-node collect was its scalability
cliff.

This version keeps every stage distributed: events (parquet) →
sessionization (native session_window) → per-user feature rollup (one
hash aggregate) → recency label → MLlib LogisticRegression (distributed
LBFGS) → scored users. No driver-side data movement anywhere.

One materialization point: :func:`labeled_users` checkpoints the
labeled per-user table once, and the class probe, StandardScaler fit,
every LBFGS pass and the scoring transform all read it. Without it each
of those consumers re-runs the two-shuffle ``events`` aggregate (about
48 jobs per fit at sf 0.01). The per-user table is far smaller than
``events`` (one row per user), so holding it costs little, and ``ckpt``
honours ``SPARK_GRAFT_CHECKPOINT_DIR`` for a fault-tolerant copy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from ..catalog import table
from ..operators._shared import ckpt, dsum

# Fixture event horizon (FIXTURES.md: ts ∈ [2024-01-01, 2024-01-30]).
# The fixture compresses activity into one month, so the recency
# threshold is hour-scale: churned = silent for the final ~28h
# (1/15, 12/150, 106/1500 positives at sf 0.001/0.01/0.1).
HORIZON = "2024-01-30"
CHURN_CUTOFF = "2024-01-29 20:00:00"

# Hash buckets 0..TRAIN_BUCKETS-1 of 10 form the train side of the split.
TRAIN_BUCKETS = 8

FEATURE_COLS = [
    "n_events",
    "n_sessions",
    "n_purchases",
    "sum_value",
    "avg_value",
    "active_days",
    "recency_days",
]


def user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature matrix: one session_window aggregate + one
    per-user rollup — two shuffles total on user_id."""
    ev = table(spark, sf_dir, "events")
    sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("s_events"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
    )
    horizon = F.lit(HORIZON).cast("timestamp_ntz")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.round(dsum(F.col("value")), 6).alias("sum_value"),
        F.round(F.avg("value"), 6).alias("avg_value"),
        F.countDistinct(F.to_date("ts")).alias("active_days"),
        F.max("ts").alias("last_ts"),
    )
    feats = per_user.join(sessions, "user_id", "left").select(
        "user_id",
        "n_events",
        F.coalesce("n_sessions", F.lit(0)).alias("n_sessions"),
        "n_purchases",
        "sum_value",
        "avg_value",
        "active_days",
        F.round(
            (F.unix_micros(horizon.cast("timestamp")) - F.unix_micros(F.col("last_ts").cast("timestamp")))
            / 86_400_000_000.0,
            6,
        ).alias("recency_days"),
        "last_ts",
    )
    return feats


def churned(last_ts: Column) -> Column:
    """The churn label: 1 when a user's last event falls before the
    cutoff, else 0. ``last_ts`` is TIMESTAMP_NTZ and so is the cutoff,
    so the comparison is wall-clock under any session timezone. DuckDB
    twin: ``CASE WHEN last_ts < TIMESTAMP '2024-01-29 20:00:00' THEN 1
    ELSE 0 END``."""
    return F.when(last_ts < F.lit(CHURN_CUTOFF).cast("timestamp_ntz"), 1).otherwise(0)


def label_churn(features: DataFrame) -> DataFrame:
    """Reference churn definition: recency threshold on last activity."""
    return features.withColumn("churned", churned(F.col("last_ts")))


def labeled_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The labeled per-user table, materialized once for every consumer."""
    return ckpt(label_churn(user_features(spark, sf_dir)))


def _in_train(train_buckets: int = TRAIN_BUCKETS) -> Column:
    """Train side of the split: hash bucket 0-9 of the user key below
    `train_buckets`. Shared by the split and the class probe."""
    return F.pmod(F.xxhash64(F.col("user_id"), F.lit(42)), F.lit(10)) < train_buckets


def split_train_test(
    labeled: DataFrame, train_buckets: int = TRAIN_BUCKETS
) -> tuple[DataFrame, DataFrame]:
    """Deterministic, cluster-stable split: hash-bucket on the key.

    randomSplit depends on partition layout; hashing the key gives the
    same split on any cluster size — the scale-correct seeded split.
    """
    in_train = _in_train(train_buckets)
    return labeled.filter(in_train), labeled.filter(~in_train)


def build_ml_pipeline():
    from pyspark.ml import Pipeline
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StandardScaler, VectorAssembler

    assembler = VectorAssembler(inputCols=FEATURE_COLS, outputCol="features_raw")
    scaler = StandardScaler(inputCol="features_raw", outputCol="features", withMean=True)
    lr = LogisticRegression(
        featuresCol="features",
        labelCol="churned",
        maxIter=50,
        regParam=0.01,
        family="binomial",  # keep 2-class rawPrediction even if a CV fold is single-class
    )
    return Pipeline(stages=[assembler, scaler, lr])


def fit_with_fallback(labeled: DataFrame):
    """Fit on the train bucket; if hashing isolated one class (tiny sf),
    fall back to the full labeled set so the fit is non-degenerate.

    One grouped probe counts the classes on both sides of the split."""
    train, test = split_train_test(labeled)
    pairs = labeled.select(_in_train().alias("is_train"), "churned").distinct().collect()
    train_classes = sum(1 for r in pairs if r["is_train"])
    if train_classes < 2:
        train = labeled
    model = build_ml_pipeline().fit(train)
    eval_set = test if len(pairs) - train_classes == 2 else labeled
    return model, train, eval_set


def run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end: returns (user_id, churned, churn_prob) for all users."""
    from pyspark.ml.functions import vector_to_array

    labeled = labeled_users(spark, sf_dir)
    model, _, _ = fit_with_fallback(labeled)
    scored = model.transform(labeled)
    return scored.select(
        "user_id",
        "churned",
        F.round(vector_to_array("probability").getItem(1), 6).alias("churn_prob"),
    )
