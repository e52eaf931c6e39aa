"""`catalog.ensure_confs` failure policy: a conf that changes results
raises when it cannot be set; a performance conf stays best-effort."""

from __future__ import annotations

from types import SimpleNamespace

import pytest

from morphl_model_publishers_churning_users_spark import catalog


class _Conf:
    def __init__(self, refuse: str):
        self.refuse = refuse
        self.values: dict[str, str] = {"spark.sql.shuffle.partitions": "8"}

    def set(self, key: str, value: str) -> None:
        if key == self.refuse:
            raise RuntimeError(f"cannot set {key}")
        self.values[key] = value

    def get(self, key: str) -> str:
        return self.values[key]


def _session(refuse: str):
    return SimpleNamespace(
        conf=_Conf(refuse),
        sparkContext=SimpleNamespace(applicationId="fake", defaultParallelism=8),
    )


@pytest.mark.parametrize(
    "key", ["spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"]
)
def test_semantic_conf_failure_raises(monkeypatch, key):
    monkeypatch.setattr(catalog, "_ship_package", lambda spark: None)
    with pytest.raises(RuntimeError, match=key):
        catalog.ensure_confs(_session(refuse=key))


def test_performance_conf_failure_is_best_effort(monkeypatch):
    monkeypatch.setattr(catalog, "_ship_package", lambda spark: None)
    spark = _session(refuse="spark.sql.adaptive.enabled")
    catalog.ensure_confs(spark)
    assert "spark.sql.adaptive.enabled" not in spark.conf.values
    assert spark.conf.values["spark.sql.session.timeZone"] == "UTC"
    assert spark.conf.values["spark.sql.legacy.parquet.nanosAsLong"] == "true"
