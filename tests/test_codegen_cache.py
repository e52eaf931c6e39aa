"""The compiled-class cache holds a repeated workload's working set.

Every action generates Java source for its plan and compiles it with
Janino unless the JVM-wide codegen cache already holds an identical
class. The cache is an LRU of ``spark.sql.codegen.cache.maxEntries``
classes; a workload whose pass generates more classes than that evicts
each class before its next use and recompiles all of them every pass.
``session.build_session`` sizes the cache for the engine's working set.
"""

from __future__ import annotations

from morphl_model_publishers_churning_users_spark.registry import get_queries

# bench.py's headline keys, with the registered wrappers of its two raw
# production paths (llm_dedup_fuzzy, llm_simsearch_ann): one pass
# generates well over Spark's default of 100 classes.
KEYS = [
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
    "llm_dedup_fuzzy",
    "llm_dedup_minhash_sql",
    "llm_cc_pipeline",
    "llm_simsearch_ann",
    "topk",
    "agg_stats",
    "ts_ewma",
]


def _compiles(spark) -> int:
    """Janino compilations so far in this JVM."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _pass(spark, sf_dir) -> int:
    queries = get_queries()
    before = _compiles(spark)
    for key in KEYS:
        queries[key](spark, sf_dir).collect()
    return _compiles(spark) - before


def test_warm_pass_reuses_compiled_classes(spark, sf_dir):
    first = _pass(spark, sf_dir)
    second = _pass(spark, sf_dir)
    assert first > 150, f"the key list no longer outgrows the default cache: {first}"
    assert second <= 0.1 * first, f"warm pass recompiled {second} of {first} classes"
