"""The benchmark's workloads: which ops one pass runs, and why.

An op is a registry key, a raw production path bench.py also times, or a
packaged pipeline. Its layer is the module its key function comes from.
"""

from __future__ import annotations

PKG = "morphl_model_publishers_churning_users_spark"

# bench.py's HEADLINE, key for key, so its ops line up with BENCH_r*.
HEADLINE = [
    "join_star",
    "join_inner_hash",
    "join_asof",
    "agg_group",
    "agg_pivot",
    "win_rownum",
    "ts_session",
    "dedup_exact",
    "llm_dedup_exact",
    "llm_simsearch",
    "raw_dedup_fuzzy",
    "llm_dedup_minhash_sql",
    "llm_cc_pipeline",
    "raw_simsearch_ann",
    "topk",
    "agg_stats",
    "ts_ewma",
]

# The corpus-curation and dedup-audit flow (eager builder work, exact
# Jaccard truth joins) and the ETL edges (ingest, Arrow/pandas UDFs in
# Python workers, writes).
CORPUS_ETL = [
    "pipe_llm_corpus",
    "llm_dedup_fuzzy",
    "llm_lsh_tuning_curve",
    "source_ga_json",
    "fn_avro_container",
    "mm_features",
    "mm_resize",
    "udf_pandas",
    "sink_parquet_part",
    "sink_orc",
    "sink_upsert",
]

WORKLOADS = {
    "churn": ["pipe_churn"],
    "engine_mix": HEADLINE + CORPUS_ETL,
}

# Ops that are not registry keys: bench.py's raw near-dup/ANN production
# paths and the two packaged pipelines.
RAW_OPS = {"raw_dedup_fuzzy", "raw_simsearch_ann"}
PIPELINES = {"pipe_churn": "churn", "pipe_llm_corpus": "llm_corpus"}

# Op layers, named by module under the package (fn.__module__).
OP_LAYERS = [
    "operators.joins",
    "operators.aggregates",
    "operators.windows",
    "operators.timeseries",
    "operators.rowops",
    "operators.setops",
    "operators.llm",
    "operators.multimodal",
    "operators.udfs",
    "operators.scans",
    "functions.scalar",
    "sources.ga_source",
    "sources.orc_source",
    "plans.llm_corpus",
]
OP_QUANTITIES = ["build_s", "build_jobs", "plan_s", "action_s", "action_jobs", "tasks"]
# Setup metric -> the public call whose self time it reports.
SETUP_SPANS = {
    "session.build_s": "session.build_session",
    "registry.get_queries_s": "registry.get_queries",
    "catalog.ensure_confs_s": "catalog.ensure_confs",
    "catalog.load_all_s": "catalog.load_all",
}
CHURN_METRICS = [
    "plans.churn.user_features_s",
    "plans.churn.fit_s",
    "plans.churn.fit_jobs",
    "plans.churn.fit_stages_per_job",
    "plans.churn.score_s",
    "plans.churn.score_jobs",
]
SPARK_METRICS = [
    "spark.shuffle_write_bytes",
    "spark.shuffle_read_bytes",
    "spark.spill_bytes",
    "spark.executor_run_s",
    "spark.jvm_gc_s",
    "spark.stages",
    "spark.tasks",
]


def per_layer_names() -> list[str]:
    """Every per-layer metric, in the order BENCHMARK.json lists them."""
    ops = [f"{layer}.{q}" for layer in OP_LAYERS for q in OP_QUANTITIES]
    trace = ["trace.cold_pass_s", "trace.pass_s"]
    return list(SETUP_SPANS) + ops + CHURN_METRICS + SPARK_METRICS + trace


def unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith("_per_job"):
        return "stages/job"
    return "count"
