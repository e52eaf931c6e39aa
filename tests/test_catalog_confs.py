"""`catalog.ensure_confs` failure policy: a conf that changes results
raises when it cannot be set; a performance conf stays best-effort. A
performance conf the launcher set survives ``build_session`` and every
table load; a result-changing one is always forced."""

from __future__ import annotations

import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

from morphl_model_publishers_churning_users_spark import catalog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


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
        sparkContext=SimpleNamespace(
            applicationId="fake",
            defaultParallelism=8,
            getConf=lambda: SimpleNamespace(contains=lambda key: False),
        ),
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


_PROBE = """
import sys
from morphl_model_publishers_churning_users_spark.catalog import table
from morphl_model_publishers_churning_users_spark.session import build_session
spark = build_session("extra-confs", cpus=1)
table(spark, sys.argv[1], "region")
for key in sys.argv[2:]:
    print(key, spark.conf.get(key))
"""


def _probe(sf_dir, extra, *keys):
    env = dict(os.environ, SPARK_GRAFT_EXTRA_CONFS=extra, SPARK_GRAFT_DRIVER_MEM="1g")
    return subprocess.run(
        [sys.executable, "-c", _PROBE, sf_dir, *keys],
        cwd=ROOT,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_extra_confs_survive_build_session_and_table_loads(sf_dir):
    keys = ("spark.sql.codegen.hugeMethodLimit", "spark.sql.adaptive.enabled")
    run = _probe(sf_dir, f"{keys[0]}=65535;{keys[1]}=false", *keys)
    assert run.returncode == 0, run.stderr[-2000:]
    got = dict(line.split() for line in run.stdout.splitlines() if line.startswith("spark."))
    assert got == {keys[0]: "65535", keys[1]: "false"}


def test_extra_conf_for_a_forced_semantic_conf_raises(sf_dir):
    run = _probe(sf_dir, "spark.sql.session.timeZone=Asia/Kolkata")
    assert run.returncode != 0
    assert "SPARK_GRAFT_EXTRA_CONFS: spark.sql.session.timeZone" in run.stderr
