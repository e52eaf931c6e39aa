"""Edge-document regression tests (ADVICE r3).

The sf fixtures contain only ASCII docs with >2 words, which masked three
latent divergences under Spark 4's default ANSI mode:
  * llm_repetition: out-of-bounds element_at threw on <3-word docs;
  * llm_dedup_fuzzy's shingling (its recall anchor): same class;
  * llm_entropy_filter: DuckDB strlen (bytes) vs Spark length (chars)
    diverged on non-ASCII docs, and empty text emitted phantom rows
    (Spark sequence(1,0) == [1,0]).

This suite rebuilds a fixture dir whose documents table adds empty,
1-word, 2-word, and non-ASCII docs, then runs the exact driver-style
oracle compare on the affected keys.
"""

from __future__ import annotations

import os
import shutil

import pytest

from morphl_model_publishers_churning_users_spark.catalog import TABLES
from morphl_model_publishers_churning_users_spark.registry import get_oracles, get_queries

from .oracle_utils import compare

_EDGE_DOCS = [
    (900001, "", "en", "edge", 0),
    (900002, "solo", "en", "edge", 4),
    (900003, "two words", "en", "edge", 9),
    (900004, "exactly three words", "en", "edge", 19),
    (900005, "café naïve résumé über straße tokyo 東京 data", "de", "edge", 40),
    (900006, "aaaa aaaa aaaa aaaa aaaa aaaa", "en", "edge", 29),
]

_KEYS = [
    "llm_repetition",
    "llm_entropy_filter",
    "llm_dedup_fuzzy",
    "llm_textstats",
    "llm_tokens",
    # every other op whose Spark side indexes into word arrays
    "llm_dedup_ngram",
    "llm_fingerprint",
    "llm_contamination",
    "llm_ngram_freq",
    "llm_winnow_fingerprint",
    # round-4 additions over the word stream
    "llm_dedup_minhash_sql",
    "llm_perplexity_filter",
    "llm_cc_pipeline",
    "llm_sample_weighted",
    "llm_bm25",
    "llm_dedup_incremental",
    "mm_caption_align",
]


@pytest.fixture(scope="module")
def edge_sf_dir(tmp_path_factory, sf_dir):
    """sf0.001 with edge docs appended to the documents table."""
    import duckdb

    d = str(tmp_path_factory.mktemp("edge_sf"))
    for tbl in TABLES:
        if tbl != "documents":
            shutil.copy(os.path.join(sf_dir, f"{tbl}.parquet"), d)
    con = duckdb.connect()
    con.execute(
        f"""
        COPY (
          SELECT * FROM read_parquet('{sf_dir}/documents.parquet')
          UNION ALL
          SELECT * FROM (VALUES {", ".join(str(r) for r in _EDGE_DOCS)})
            v(doc_id, text, lang, source, n_chars)
        ) TO '{d}/documents.parquet' (FORMAT PARQUET)
        """
    )
    con.close()
    return d


@pytest.mark.parametrize("key", _KEYS)
def test_edge_doc_parity(spark, edge_sf_dir, key):
    queries, oracles = get_queries(), get_oracles()
    compare(queries[key](spark, edge_sf_dir), oracles[key], edge_sf_dir)
