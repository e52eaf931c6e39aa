"""Operator registry — the driver-contract surface.

Every SURVEY.md §2 operator registers:
  * a query callable ``(spark, sf_dir) -> DataFrame`` (exposed through
    ``__spark_entry__.queries()``), and
  * optionally a DuckDB oracle SQL twin (``__spark_entry__.oracle_sql()``).

Oracle discipline (SURVEY.md §5.1):
  * alias every computed column identically in Spark and SQL — the driver
    sorts columns BY NAME before hashing;
  * round floating outputs to 6 decimals on both sides;
  * money-style SUMs go through DECIMAL(38,6) so the result is exact and
    partition-order-independent (double summation order differs between
    engines and can flip the 6th decimal on ~1e9-magnitude totals).

Driver-window order. The driver hash-checks only a bounded prefix of
``queries()`` (about 50 keys per round), so iteration order decides which
operators it verifies. ``get_queries()``/``get_oracles()`` yield:
  1. pending ``_REVERIFY`` keys, in declared order — their code changed
     after their last driver green;
  2. keys never green in any driver artifact, and keys whose newest red
     row is newer than their latest green one (red after green), in
     registration order;
  3. verified keys, oldest latest-green round first (ties in registration
     order), so spare window slots re-touch the keys that have gone
     longest without a driver check.
Each key's latest green and red rounds are derived from the committed
``CORRECTNESS_r{N}.json`` artifacts at the repository root, so a new
artifact needs no registry edit. The derivation runs on the first
``get_queries()``/``get_oracles()`` call, never at import: executor
workers import this module from the shipped package zip, which holds no
artifacts. Without artifacts, keys keep registration order behind any
``_REVERIFY`` keys.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections.abc import Callable, Iterable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_ARTIFACT = re.compile(r"CORRECTNESS_r(\d+)\.json")

# {key: R}: the key's operator code changed after its driver green, when
# round R was the newest artifact. Each key leads the window until an
# artifact newer than R shows it green again, then expires by itself. Add
# an entry when a driver-green key's code changes; a key the driver turned
# red needs none, as it already sorts with the never-green keys. The ML
# keys share the churn plan's per-user table, which is now materialized
# once (plans/churn.labeled_users); llm_dedup_fuzzy builds its recall
# anchor as one lazy plan over one shingled corpus. The llm_* keys after
# it build their shingle sets, exact Jaccard truth and MinHash
# signatures through the shared helpers in operators/llm.py. The
# scan_delta_* keys write, read and fold their commit logs through the
# shared Delta helpers in operators/scans.py (one action schema, one fold).
# scan_csv_malformed checkpoints its parsed rows before the corrupt-record
# filter. The keys after it build their daily series through the
# time-series spine (_shared.by_day, timeseries._lag_sums/_day_index/
# _day_grid), which moved their plans but not their rows. The ml_* keys
# after dq_observe_metrics take the score's max from the recency spine's
# statistics row (ml._recency), their survival frame from ml._tenure or
# their arm row from ml._arms: new plans, the same rows. The last three
# take their bigrams from llm._bigrams (concat_ws, where they spelled
# concat) or write and read their snapshot slices through the shared
# scans._write_slice and schema'd reads: new checkpointed or collected
# frames, the same rows.
_REVERIFY: dict[str, int] = {
    "ml_split": 14,
    "ml_train": 14,
    "ml_eval": 14,
    "ml_infer": 14,
    "ml_crossval": 14,
    "llm_dedup_fuzzy": 14,
    "llm_dedup_ngram": 14,
    "llm_fingerprint": 14,
    "llm_contamination": 14,
    "llm_ngram_novelty": 14,
    "llm_boilerplate_ngrams": 14,
    "llm_dedup_containment": 14,
    "llm_lsh_tuning_curve": 14,
    "llm_lsh_bucket_skew": 14,
    "llm_dedup_minhash_sql": 14,
    "llm_preference_pairs": 14,
    "llm_dedup_transitivity_audit": 14,
    "scan_delta_log": 14,
    "scan_delta_checkpoint": 14,
    "scan_delta_time_travel_ts": 14,
    "scan_delta_partition_values": 14,
    "scan_delta_deletion_vectors": 14,
    "scan_csv_malformed": 14,
    "ts_active_users": 14,
    "agg_qq_normal": 14,
    "ml_pinball_loss": 14,
    "ml_conformal_interval": 14,
    "ml_bh_fdr": 14,
    "ml_evalue_sequential": 14,
    "ts_cusum": 14,
    "ts_theta_forecast": 14,
    "ts_sax": 14,
    "ts_max_drawdown": 14,
    "ts_hurst_rs": 14,
    "ts_haar_energy": 14,
    "ts_weekday_anova": 14,
    "ts_intervention_its": 14,
    "ts_poisson_rate_ratio": 14,
    "ts_runs_test": 14,
    "ts_seasonality_strength": 14,
    "ts_croston_forecast": 14,
    "ts_lag_correlation": 14,
    "ts_dtw_distance": 14,
    "ts_retention_curve_fit": 14,
    "ts_mann_kendall": 14,
    "ts_theil_sen": 14,
    "ts_ljung_box": 14,
    "ts_spc_control_chart": 14,
    "ts_var_cvar": 14,
    "ts_pot_gpd_tail": 14,
    "ts_cointegration_eg": 14,
    "ts_matrix_profile": 14,
    "ts_decompose_whiteness": 14,
    "ts_seasonal_indices": 14,
    "win_rolling_corr": 14,
    "win_expanding_slope": 14,
    "agg_reaggregate": 14,
    "dq_observe_metrics": 14,
    "ml_calibration_bins": 14,
    "ml_confusion_matrix": 14,
    "ml_brier_score": 14,
    "ml_fairness_metrics": 14,
    "ml_ece": 14,
    "ml_isotonic_pav": 14,
    "ml_km_greenwood": 14,
    "ml_logreg_gd": 14,
    "ml_hosmer_lemeshow": 14,
    "ml_km_rmst": 14,
    "ml_gbm_stumps": 14,
    "ml_shap_linear": 14,
    "ml_platt_scaling": 14,
    "ml_logrank_test": 14,
    "ml_cox_score": 14,
    "ml_weibull_survival_grid": 14,
    "ml_harrell_c": 14,
    "ml_brier_decomposition": 14,
    "ml_tjur_r2": 14,
    "ml_mcc": 14,
    "ml_risk_reduction": 14,
    "ml_youden_j": 14,
    "llm_greedy_coverage": 14,
    "llm_self_similarity": 14,
    "scan_iceberg_snapshot": 14,
}


def register(key: str, oracle: Optional[str] = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator registering a §2 operator query (and its oracle twin)."""

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate operator key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle
        return fn

    return deco


def _is_green(row: dict) -> bool:
    """A driver row is green on a hash match, or for a rows-only contract
    (no hash taken) on a row-count match."""
    if row.get("hash_match") is True:
        return True
    return row.get("hash_match") is None and row.get("rows_match") is True


def _is_red(row: dict) -> bool:
    """A driver row is red when its hash or its row count mismatched."""
    return row.get("hash_match") is False or row.get("rows_match") is False


def _latest_rounds(root: str) -> tuple[dict[str, int], dict[str, int]]:
    """Each key's latest green and latest red round across ``root``'s
    artifacts. Rows that are neither (no oracle, errors) count for neither."""
    green: dict[str, int] = {}
    red: dict[str, int] = {}
    for path in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        m = _ARTIFACT.fullmatch(os.path.basename(path))
        if m is None:
            continue
        rnd = int(m.group(1))
        with open(path) as f:
            rows = json.load(f)
        for key, row in rows.items():
            latest = green if _is_green(row) else red if _is_red(row) else None
            if latest is not None and rnd > latest.get(key, 0):
                latest[key] = rnd
    return green, red


def verified_rounds(root: str = _ROOT) -> dict[str, int]:
    """Each key's latest driver-green round across ``root``'s artifacts."""
    return _latest_rounds(root)[0]


def trusted_rounds(root: str = _ROOT) -> dict[str, int]:
    """``verified_rounds`` without the keys red after their latest green:
    the rounds the driver window ranks by."""
    green, red = _latest_rounds(root)
    return {k: r for k, r in green.items() if red.get(k, 0) < r}


def pending_reverify(rounds: dict[str, int], reverify: dict[str, int] = _REVERIFY) -> list[str]:
    """``reverify`` keys not yet green in an artifact newer than their round."""
    return [k for k, r in reverify.items() if rounds.get(k, 0) <= r]


def driver_order(
    keys: Iterable[str], rounds: dict[str, int], reverify: dict[str, int] = _REVERIFY
) -> list[str]:
    """Order registration-ordered ``keys`` for the driver window (module doc)."""
    keys = list(keys)
    first = [k for k in pending_reverify(rounds, reverify) if k in keys]
    rest = [k for k in keys if k not in first]
    # Stable sort: never-green keys (round 0) lead in registration order,
    # then verified keys oldest round first, ties in registration order.
    return first + sorted(rest, key=lambda k: rounds.get(k, 0))


_order: list[str] = []


def _ordered_keys() -> list[str]:
    global _order
    from . import load_all_operators

    load_all_operators()
    # Registration only ever adds keys, so a length change means stale.
    if len(_order) != len(QUERIES):
        _order = driver_order(QUERIES, trusted_rounds())
    return _order


def get_queries() -> dict[str, QueryFn]:
    return {k: QUERIES[k] for k in _ordered_keys()}


def get_oracles() -> dict[str, str]:
    return {k: ORACLES[k] for k in _ordered_keys() if k in ORACLES}
