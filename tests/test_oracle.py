"""Differential oracle tests — every registered operator with an oracle
twin is checked Spark-vs-DuckDB exactly the way the driver does."""

from __future__ import annotations

import pytest

from morphl_model_publishers_churning_users_spark import registry
from morphl_model_publishers_churning_users_spark.registry import get_oracles, get_queries

from .oracle_utils import compare

_QUERIES = get_queries()
_ORACLES = get_oracles()


# r14 test-gate split (VERDICT r13 item 1): the full 568-key parity
# sweep is the single biggest block of the suite (~6 min of ~25) and
# duplicates the driver's own rotating correctness window, so it moved
# to the `slow` set (per-round deep check: `-m slow`, and the
# SPARK_GRAFT_TEST_SF_DIR=sf0.1 sweep the verify skill prescribes). The
# default gate keeps a deterministic 1-in-8 sample (same 71 keys every
# run — reproducible failures) so oracle parity still smoke-checks on
# every fast run. Every pending reverify key with an oracle joins the
# sample: a key whose code changed after its last driver green is
# parity-checked on every fast run until the driver re-greens it
# (rows-only keys already run in test_rows_only_runs).
_PARITY_KEYS = sorted(_ORACLES)
_PENDING = set(registry.pending_reverify(registry.verified_rounds()))
_SAMPLED_KEYS = sorted(set(_PARITY_KEYS[::8]) | (_PENDING & set(_ORACLES)))


@pytest.mark.slow
@pytest.mark.parametrize("key", _PARITY_KEYS)
def test_oracle_parity(spark, sf_dir, key):
    compare(_QUERIES[key](spark, sf_dir), _ORACLES[key], sf_dir)


@pytest.mark.parametrize("key", _SAMPLED_KEYS)
def test_oracle_parity_sampled(spark, sf_dir, key):
    compare(_QUERIES[key](spark, sf_dir), _ORACLES[key], sf_dir)


@pytest.mark.parametrize("key", sorted(set(_QUERIES) - set(_ORACLES)))
def test_rows_only_runs(spark, sf_dir, key):
    """Rows-only ops must at least run and produce a stable schema."""
    df = _QUERIES[key](spark, sf_dir)
    rows = df.collect()
    assert df.columns, key
    assert rows is not None


def _dup_column_sweep(spark, sf_dir, keys):
    bad = {}
    for key in keys:
        cols = _QUERIES[key](spark, sf_dir).columns
        if len(cols) != len(set(cols)):
            bad[key] = cols
    assert not bad, bad


@pytest.mark.slow
def test_no_duplicate_output_columns(spark, sf_dir):
    """The driver canonicalizer sorts result columns BY NAME before
    hashing — duplicate names would silently mis-pair values. Sweep
    every registered query's analyzed schema. (slow: construction runs
    the eager-checkpoint keys' jobs — ~3 min; the default gate keeps a
    1-in-6 sample below.)"""
    _dup_column_sweep(spark, sf_dir, list(_QUERIES))


def test_no_duplicate_output_columns_sampled(spark, sf_dir):
    _dup_column_sweep(spark, sf_dir, sorted(_QUERIES)[::6])


# NOTE: no table-name lint for the oracle SQL — test_oracle_parity
# executes every twin against the driver's exact DuckDB view set, which
# proves table resolution far more reliably than a regex could.
