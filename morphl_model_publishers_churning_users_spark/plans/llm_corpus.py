"""Packaged LLM-corpus curation pipeline.

The standard large-corpus pass, each stage a §2.J operator, composed as
one lazy plan (Catalyst fuses the filters into the scan):

  quality gate → language filter → exact dedup (survivor join) →
  token accounting → deterministic mixture sampling

Near-dup stages (MinHash/SimHash) are deliberately separate passes in
production — they shuffle on different keys — and are exposed as their
own operators (llm_dedup_fuzzy / llm_dedup_simhash /
llm_dedup_minhash_sql).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..catalog import table
from ..operators._shared import content_hash, with_stats, words


def run(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returns the curated corpus: one row per surviving document with
    quality/token metadata."""
    d = table(spark, sf_dir, "documents")

    n_words = F.size(words()).cast("bigint")
    scored = d.select(
        "doc_id",
        "text",
        "lang",
        "source",
        "n_chars",
        n_words.alias("n_words"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("n_est_tokens"),
        content_hash().alias("content_hash"),
    )

    gated = scored.filter((F.col("n_words") >= 10) & (F.col("n_chars") >= 50))

    # Exact dedup, deterministic survivor: smallest doc_id per hash.
    survivors = gated.groupBy("content_hash").agg(F.min("doc_id").alias("doc_id"))
    deduped = gated.join(survivors, ["content_hash", "doc_id"], "inner")

    curated = deduped.select(
        "doc_id", "lang", "source", "n_chars", "n_words", "n_est_tokens", "content_hash"
    )

    # Mixture sampling (the llm_sample_weighted stage): per-source keep
    # probability = capped uniform-target / actual token share; each doc
    # draws its uniform from md5(doc_id) — reproducible run-over-run,
    # membership is a narrow per-row expression after one broadcast.
    src = curated.groupBy("source").agg(F.sum("n_words").alias("src_tokens"))
    weights = with_stats(
        src,
        F.sum("src_tokens").cast("double").alias("all_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    ).select(
        "source",
        F.least(
            (F.lit(1.0) / F.col("n_sources"))
            / (F.col("src_tokens") / F.col("all_tokens")),
            F.lit(1.0),
        ).alias("keep_w"),
    )
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("bigint")
        / F.lit(4503599627370496.0)  # 2^52
    )
    return curated.join(F.broadcast(weights), "source").select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        "n_words",
        "n_est_tokens",
        "content_hash",
        F.round("keep_w", 6).alias("keep_w"),
        (u < F.col("keep_w")).alias("is_sampled"),
    )
