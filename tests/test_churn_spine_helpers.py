"""The churn-analytics primitives, spelled once.

``plans/churn.churned`` is the churn label, ``operators/_shared`` holds
the one-row statistics join (``with_stats``) and the exact purchase
revenue (``revenue``), and ``operators/ml.py`` builds the recency
spine with the score's max (``_recency``'s ``maxrec``), the survival
frame (``_tenure``), the Kaplan-Meier risk table (``_km_risk``) and
the side-by-side arm row (``_arms``) in one function each. These tests
keep it that way:

  * ``maxrec`` equals a brute-force max of the per-user recency;
  * ``_tenure`` matches a Python replay of tenure and censoring on a
    hand-built event table, at both grains;
  * the label is 0 at exactly the cutoff and 1 a microsecond before it,
    under non-UTC session timezones;
  * ``with_stats`` plans exactly as the hand-spelled broadcast join;
  * no package function re-spells one of the primitives.
"""

from __future__ import annotations

import ast
import datetime as dt
import os
import re

import pyspark.sql.functions as F

import morphl_model_publishers_churning_users_spark as pkg
import morphl_model_publishers_churning_users_spark.operators.ml as ml
from morphl_model_publishers_churning_users_spark.operators._shared import with_stats
from morphl_model_publishers_churning_users_spark.plans.churn import churned

PKG_DIR = os.path.dirname(pkg.__file__)
US = dt.timedelta(microseconds=1)


def test_maxrec_is_the_max_recency(spark, sf_dir):
    u = ml._recency(spark, sf_dir)
    rows = u.select("last_ts", "cmax", "maxrec").collect()
    want = max(max((r["cmax"] - r["last_ts"]) // US for r in rows), 1)
    assert {r["maxrec"] for r in rows} == {want}
    assert {r["maxrec"] for r in ml._rec_scored(spark, sf_dir).collect()} == {want}


def _events():
    """(user_id, ts) rows around both censor cuts and both tenure grains;
    the horizon is user 1's last event."""
    h = dt.datetime(2024, 1, 30, 6, 0, 0)
    return h, [
        (1, dt.datetime(2024, 1, 2, 9, 0, 0)),
        (1, h),
        (2, dt.datetime(2024, 1, 28, 23, 59, 59)),  # one event: tenure 0
        (3, dt.datetime(2024, 1, 29, 17, 0, 0)),
        (3, h - dt.timedelta(hours=12)),  # exactly 12 h before: not churned
        (4, dt.datetime(2024, 1, 20, 7, 30, 0)),
        (4, h - dt.timedelta(hours=12) - US),  # a microsecond earlier: churned
        (5, dt.datetime(2024, 1, 26, 23, 59, 59, 999999)),
        (5, h - dt.timedelta(days=3)),  # exactly 3 days before
        (6, dt.datetime(2024, 1, 10, 0, 0, 0)),
        (6, h - dt.timedelta(days=3) - US),
    ]


def _replay(hz, events, hours):
    users = {}
    for uid, ts in events:
        lo, hi, n = users.get(uid, (ts, ts, 0))
        users[uid] = (min(lo, ts), max(hi, ts), n + 1)
    out = {}
    for uid, (first, last, n) in users.items():
        if hours:
            tenure = (last - first) // dt.timedelta(hours=1)
            cut = hz - dt.timedelta(hours=12)
        else:
            tenure = (last.date() - first.date()).days
            cut = hz - dt.timedelta(days=3)
        out[uid] = (tenure, int(last < cut), n)
    return out


def test_tenure_matches_a_python_replay(spark, monkeypatch):
    hz, events = _events()
    frame = spark.createDataFrame(events, "user_id int, ts timestamp_ntz")
    monkeypatch.setattr(ml, "t", lambda _spark, _sf_dir, _name: frame)
    for hours in (True, False):
        got = {
            r["user_id"]: (r["tenure"], r["churned"], r["n"])
            for r in ml._tenure(
                spark, None, F.count(F.lit(1)).alias("n"), hours=hours
            ).collect()
        }
        want = _replay(hz, events, hours)
        assert got == want, hours
        assert {v[1] for v in want.values()} == {0, 1}, hours


def test_km_risk_counts_the_users_still_at_risk(spark):
    users = spark.createDataFrame(
        [(1, 0, 1), (2, 0, 0), (3, 2, 1), (4, 2, 1), (5, 5, 0)],
        "user_id int, tenure int, churned int",
    )
    got = sorted(tuple(r) for r in ml._km_risk(users).collect())
    assert got == [(0, 1, 5), (2, 2, 3), (5, 0, 1)]


def test_churn_label_is_wall_clock_under_any_session_timezone(spark):
    stamps = [dt.datetime(2024, 1, 29, 20, 0, 0), dt.datetime(2024, 1, 29, 20, 0, 0) - US]
    df = spark.createDataFrame([(s,) for s in stamps], "last_ts timestamp_ntz")
    tz = spark.conf.get("spark.sql.session.timeZone")
    try:
        for zone in ("America/New_York", "Asia/Kolkata"):
            spark.conf.set("spark.sql.session.timeZone", zone)
            assert [r[0] for r in df.select(churned(F.col("last_ts"))).collect()] == [0, 1]
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def _plan(df):
    return re.sub(r"#\d+L?", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_with_stats_plans_as_the_hand_spelled_join(spark):
    df = spark.range(50).select((F.col("id") % 7).alias("x"), F.col("id").alias("y"))
    aggs = (F.sum("x").alias("sx"), F.max("y").alias("my"))
    hand = df.crossJoin(F.broadcast(df.agg(*aggs)))
    assert _plan(with_stats(df, *aggs)) == _plan(hand)
    assert "rightHint=(strategy=broadcast)" in _plan(with_stats(df, *aggs))


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


def _trees():
    for root, _dirs, files in os.walk(PKG_DIR):
        for name in sorted(files):
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield os.path.relpath(path, PKG_DIR), ast.parse(f.read())


def _spelled_in(match):
    """``module:function`` names holding a node for which ``match(node,
    function_node)`` holds; module-level nodes count as ``module:``."""
    names = set()
    for rel, tree in _trees():
        owner = _owners(tree)
        fns = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
        for node in ast.walk(tree):
            fn = owner.get(id(node))
            if match(node, fns.get(fn)):
                names.add(f"{rel}:{fn or ''}")
    return names


def _calls(node, *names):
    return isinstance(node, ast.Call) and (
        getattr(node.func, "attr", None) in names or getattr(node.func, "id", None) in names
    )


def _agg_of(node, base):
    """True when ``node`` is ``<base>.agg(...)``."""
    return _calls(node, "agg") and ast.unparse(node.func.value) == base


def _self_stats_join(node, fn):
    """``X.crossJoin(F.broadcast(Y))`` where ``Y`` is ``X.agg(...)``, inline
    or through a name bound once and read only there."""
    if not (_calls(node, "crossJoin") and node.args and _calls(node.args[0], "broadcast")):
        return False
    x = ast.unparse(node.func.value)
    y = node.args[0].args[0]
    if _agg_of(y, x):
        return True
    if not (isinstance(y, ast.Name) and fn is not None):
        return False
    binds = [
        n.value
        for n in ast.walk(fn)
        if isinstance(n, ast.Assign) and [ast.unparse(t) for t in n.targets] == [y.id]
    ]
    reads = sum(
        isinstance(n, ast.Name) and n.id == y.id and isinstance(n.ctx, ast.Load)
        for n in ast.walk(fn)
    )
    return len(binds) == 1 and _agg_of(binds[0], x) and reads == 1


def _max_rec(node, _fn):
    return (
        _calls(node, "greatest")
        and _calls(node.args[0], "max")
        and ast.unparse(node.args[0].args[0]) == "'rec'"
    )


def _cutoff(node, _fn):
    return (isinstance(node, ast.Name) and node.id == "CHURN_CUTOFF") or (
        isinstance(node, ast.Attribute) and node.attr == "CHURN_CUTOFF"
    )


def _tenure_frame(node, _fn):
    if not (_calls(node, "expr") and node.args and isinstance(node.args[0], ast.Constant)):
        return False
    sql = str(node.args[0].value)
    return "first_ts" in sql or sql in ("INTERVAL 12 HOUR", "INTERVAL 3 DAY")


def _risk_table(node, _fn):
    return _calls(node, "groupBy") and any("alias('day_n')" in ast.unparse(a) for a in node.args)


def _revenue(node, _fn):
    return (
        _calls(node, "when")
        and len(node.args) == 2
        and ast.unparse(node.args[0]) == "F.col('event_type') == 'purchase'"
        and ast.unparse(node.args[1]) == "F.col('value').cast('decimal(38,6)')"
    )


def _arm_side(node, _fn):
    return isinstance(node, ast.Lambda) and _calls(node.body, "broadcast")


def test_each_churn_primitive_has_one_spelling():
    # A one-row table read a second time elsewhere keeps its name.
    assert _spelled_in(_self_stats_join) == {"operators/_shared.py:with_stats"}
    assert _spelled_in(_max_rec) == {"operators/ml.py:ml_learning_curve"}
    assert {s.split(":")[0] for s in _spelled_in(_cutoff)} == {"plans/churn.py"}
    assert _spelled_in(_tenure_frame) == {"operators/ml.py:_tenure"}
    assert _spelled_in(_risk_table) == {"operators/ml.py:_km_risk"}
    assert _spelled_in(_revenue) == {"operators/_shared.py:revenue"}
    assert _spelled_in(_arm_side) == set()
