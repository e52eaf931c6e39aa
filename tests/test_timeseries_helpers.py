"""The time-series spine, built once.

The day key is ``_shared.day_of`` and the daily series is
``_shared.by_day``; ``operators/timeseries.py`` spells the lag-sum
self-join (``_lag_sums``), the day index (``_day_index``) and the dense
day grid (``_day_grid``) in one function each. These tests keep it that
way:

  * ``_lag_sums`` returns exactly the quantized brute-force lag sums,
    with and without a group key, at 6 and 12 digits;
  * the day key is the wall-clock calendar day of an NTZ timestamp at
    both ends of the day, under any session timezone;
  * no other operator function re-spells a day-grain ``groupBy``, the
    day key, the day index, the lag self-join or the dense grid.
"""

from __future__ import annotations

import ast
import datetime as dt
import math
import os
import random

import pyspark.sql.functions as F

import morphl_model_publishers_churning_users_spark.operators as ops
from morphl_model_publishers_churning_users_spark.operators._shared import by_day, day_of
from morphl_model_publishers_churning_users_spark.operators.timeseries import (
    _day_grid,
    _lag_sums,
)

OPS_DIR = os.path.dirname(ops.__file__)


def _series():
    """{group: [xc_1, ..., xc_n]}: centred doubles of mixed sign and
    magnitude, two groups of different lengths."""
    rng = random.Random(11)
    return {
        g: [rng.uniform(-50.0, 50.0) * rng.choice((1.0, 1e-3)) for _ in range(n)]
        for g, n in (("a", 23), ("b", 9))
    }


def _brute(xs, lags, k):
    """sum of xc_i * xc_(i-lag), each product half-up quantized to 1e-k,
    summed as integers, then divided back, exactly as ``qsum``."""
    g = 10.0**k
    out = {}
    for lag in lags:
        units = sum(math.floor(xs[i] * xs[i - lag] * g + 0.5) for i in range(lag, len(xs)))
        out[lag] = float(units) / g
    return out


def test_lag_sums_match_brute_force(spark):
    series = _series()
    rows = [(grp, i + 1, x) for grp, xs in series.items() for i, x in enumerate(xs)]
    cent = spark.createDataFrame(rows, "event_type string, i bigint, xc double")
    lags = range(0, 6)
    for k in (6, 12):
        got = {(r["event_type"], r["k"]): r["s"] for r in _lag_sums(
            cent, lags, by=("event_type",), k=k
        ).collect()}
        want = {(grp, lag): s for grp, xs in series.items()
                for lag, s in _brute(xs, lags, k).items()}
        assert got == want, k
        one = cent.filter(F.col("event_type") == "a").drop("event_type")
        got = {r["k"]: r["s"] for r in _lag_sums(one, range(1, 9), k=k).collect()}
        assert got == _brute(series["a"], range(1, 9), k), k


def test_day_grid_is_dense_per_group(spark):
    daily = spark.createDataFrame(
        [(1, dt.date(2020, 1, 30), 1.0), (1, dt.date(2020, 2, 2), 2.0), (2, dt.date(2021, 3, 1), 3.0)],
        "user_id int, day date, v double",
    )
    got = sorted(tuple(r) for r in _day_grid(daily, "user_id").collect())
    assert got == [
        (1, dt.date(2020, 1, 30), 1.0),
        (1, dt.date(2020, 1, 31), None),
        (1, dt.date(2020, 2, 1), None),
        (1, dt.date(2020, 2, 2), 2.0),
        (2, dt.date(2021, 3, 1), 3.0),
    ]


def test_day_key_is_the_wall_clock_day(spark):
    stamps = [
        dt.datetime(2020, 3, 8, 0, 0, 0),
        dt.datetime(2020, 3, 8, 23, 59, 59, 999999),
        dt.datetime(2020, 12, 31, 23, 59, 59, 999999),
        dt.datetime(2021, 1, 1, 0, 0, 0),
    ]
    df = spark.createDataFrame([(s,) for s in stamps], "ts timestamp_ntz")
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("UTC", "America/New_York", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            assert [r[0] for r in df.select(day_of()).collect()] == [s.date() for s in stamps]
            got = {r["day"]: r["n"] for r in by_day(df).agg(F.count(F.lit(1)).alias("n")).collect()}
            assert got == {dt.date(2020, 3, 8): 2, dt.date(2020, 12, 31): 1, dt.date(2021, 1, 1): 1}
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def _owners(tree):
    """{id(node): enclosing top-level function name} over function BODIES
    only, so an oracle SQL string in a decorator is not attributed."""
    owner = {}

    def walk(node, fn):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.FunctionDef):
                for sub in child.body:
                    owner[id(sub)] = fn or child.name
                    walk(sub, fn or child.name)
                continue
            owner[id(child)] = fn
            walk(child, fn)

    walk(tree, None)
    return owner


def _spelled_in(match):
    """Names of the operator functions holding a node for which ``match`` holds."""
    names = set()
    for name in sorted(os.listdir(OPS_DIR)):
        if not name.endswith(".py"):
            continue
        with open(os.path.join(OPS_DIR, name)) as f:
            tree = ast.parse(f.read())
        owner = _owners(tree)
        for node in ast.walk(tree):
            if match(node) and owner.get(id(node)):
                names.add(owner[id(node)])
    return names


def _calls(node, *names):
    return isinstance(node, ast.Call) and (
        getattr(node.func, "attr", None) in names or getattr(node.func, "id", None) in names
    )


def _day_key(node):
    """A day key spelled by hand: ``to_date(...)``, ``date_trunc("day", ...)``
    or ``.cast("date")``, or the ``day_of`` helper itself. The date of a
    coarser truncation (a week key) is not a day key."""
    if _calls(node, "to_date", "day_of"):
        arg = node.args[0] if node.args else None
        return not (_calls(arg, "date_trunc") and ast.unparse(arg.args[0]) != "'day'")
    if _calls(node, "date_trunc", "cast") and node.args:
        unit = node.args[0]
        return isinstance(unit, ast.Constant) and unit.value in ("day", "date")
    return False


def test_each_time_series_primitive_has_one_spelling():
    to_date = _spelled_in(lambda n: _calls(n, "to_date"))
    trunc_day = _spelled_in(
        lambda n: _calls(n, "date_trunc")
        and isinstance(n.args[0], ast.Constant)
        and n.args[0].value == "day"
    )
    day_group = _spelled_in(
        lambda n: _calls(n, "groupBy")
        and any(_day_key(s) for a in n.args for s in ast.walk(a))
    )
    day_index = _spelled_in(
        lambda n: _calls(n, "over")
        and _calls(n.func.value, "row_number")
        and ast.unparse(n.args[0]) == "Window.orderBy('day')"
    )
    lag_join = _spelled_in(
        lambda n: isinstance(n, ast.Compare)
        and isinstance(n.comparators[0], ast.BinOp)
        and ast.unparse(n.comparators[0].right) == "F.col('k')"
    )
    grid = _spelled_in(
        lambda n: (_calls(n, "sequence") and all(isinstance(a, ast.Constant) for a in n.args))
        or (
            isinstance(n, ast.Constant)
            and isinstance(n.value, str)
            and "interval 1 day)" in n.value
            and n.value.startswith("sequence(")
        )
    )
    assert to_date == {"day_of"}, to_date
    assert trunc_day == set(), trunc_day
    assert day_group == {"by_day"}, day_group
    assert day_index == {"_day_index"}, day_index
    assert lag_join == {"_lag_sums"}, lag_join
    assert grid == {"_day_grid"}, grid
