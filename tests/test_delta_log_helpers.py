"""The Delta transaction log, spelled once.

`operators/scans.py` writes and reads the commit log of its five
scan_delta_* ops through one set of helpers: `_commit` (the writer),
`_actions` (the reader), `_fold` (last-action-wins), `_write_checkpoint` /
`_state_at` (the checkpoint and the checkpoint-plus-tail read) and
`_write_slice` (the data files). These tests keep it that way:

  * `_fold` agrees with a pure-Python replay of a hand-written log,
    including an add and a remove of one path in one commit (the add
    wins, whatever the line order), a re-add after a remove, a path only
    ever removed, and carried fields taken from the winning add;
  * `_state_at` opens 0, 1 and m+1 commits on its three branches, and
    no file it does not count;
  * `_write_slice` raises when a slice cannot fill its file count;
  * the format's spellings appear once in `scans.py`.
"""

from __future__ import annotations

import ast
import os
import re

import pyspark.sql.functions as F

import morphl_model_publishers_churning_users_spark.operators.scans as scans
from morphl_model_publishers_churning_users_spark.operators.scans import (
    _actions,
    _commit,
    _fold,
    _remove,
    _state_at,
    _write_checkpoint,
    _write_slice,
)


def _add(path, size, year=None, card=None):
    """A hand-written add action (no data file behind it)."""
    add = {"path": path, "size": size, "dataChange": True}
    if year is not None:
        add["partitionValues"] = {"y": str(year)}
    if card is not None:
        add["deletionVector"] = {"storageType": "u", "pathOrInlineDv": "dv", "cardinality": card}
    return {"add": add}


# commit v -> actions. a: removed at v1, re-added at v2 with a new size;
# b: remove + add in ONE commit (a deletion-vector update), both line
# orders; c: untouched; d: removed for good; e: only ever removed.
LOG = [
    [_add("a", 1, 2001), _add("b", 2, 2002), _add("c", 3, 2003), _add("d", 4, 2004)],
    [_remove("a"), _remove("b"), _add("b", 20, 2002, card=5), _remove("e")],
    [_add("a", 10, 2001), _add("c", 30, 2003, card=1), _remove("c"), _remove("d")],
    [_add("f", 6, 2006)],
]


def _replay(n):
    """{path: add} live at version n: per commit, removes then adds."""
    live = {}
    for actions in LOG[: n + 1]:
        for a in actions:
            if "remove" in a:
                live.pop(a["remove"]["path"], None)
        for a in actions:
            if "add" in a:
                live[a["add"]["path"]] = a["add"]
    return live


def _carried(add):
    dv = add.get("deletionVector") or {}
    return add["size"], int(add["partitionValues"]["y"]), dv.get("cardinality")


def _write_log(log_dir):
    os.makedirs(log_dir)
    for v, actions in enumerate(LOG):
        _commit(log_dir, v, "WRITE", actions)


def test_fold_matches_python_replay(spark, tmp_path):
    log_dir = str(tmp_path / "_delta_log")
    _write_log(log_dir)
    spine = spark.createDataFrame([(v,) for v in range(len(LOG))], "as_of bigint")
    live = _fold(
        _actions(spark, log_dir).join(F.broadcast(spine), F.col("version") <= F.col("as_of")),
        by=["as_of"],
        size="add.size",
        y=F.col("add.partitionValues")["y"].cast("int"),
        card="add.deletionVector.cardinality",
    )
    got = {}
    for r in live.collect():
        got.setdefault(r["as_of"], {})[r["path"]] = (r["size"], r["y"], r["card"])
    for n in range(len(LOG)):
        want = {p: _carried(a) for p, a in _replay(n).items()}
        assert got.get(n, {}) == want, n
    # the cases the log was written for
    assert got[1]["b"] == (20, 2002, 5) and "a" not in got[1]
    assert got[2]["a"] == (10, 2001, None) and got[2]["c"] == (30, 2003, 1)
    assert all("e" not in g for g in got.values()) and "d" not in got[3]


def test_state_at_opens_only_what_it_counts(spark, tmp_path):
    log_dir = str(tmp_path / "_delta_log")
    _write_log(log_dir)
    _write_checkpoint(spark, log_dir, 2, len(_replay(2)))
    for m, opened in ((0, 1), (1, 2), (2, 0), (3, 1)):
        state, n_opened = _state_at(spark, log_dir, m)
        assert n_opened == opened, m
        commits = {
            int(re.search(r"(\d+)\.json$", f).group(1))
            for f in state.inputFiles()
            if f.endswith(".json")
        }
        assert commits == (set(range(m + 1)) if m < 2 else set(range(3, m + 1))), m
        assert any(".checkpoint.parquet" in f for f in state.inputFiles()) == (m >= 2), m
        assert {r["path"] for r in _fold(state).collect()} == set(_replay(m)), m
    # the checkpoint carries each live file's size from its winning add
    ckpt = os.path.join(log_dir, f"{2:020d}.checkpoint.parquet")
    assert {(r["path"], r["size"]) for r in spark.read.parquet(ckpt).collect()} == {
        (p, a["size"]) for p, a in _replay(2).items()
    }


def test_write_slice_fails_loudly_on_a_short_slice(spark, tmp_path):
    tbl = str(tmp_path)
    assert len(_write_slice(tbl, spark.range(8), "full", 4)) == 4
    try:
        _write_slice(tbl, spark.range(1), "short", 4)
    except AssertionError as e:
        assert "expected 4 parquet files" in str(e)
    else:
        raise AssertionError("a 1-row slice written as 4 files did not raise")


def _code_lines(path):
    """The module's source minus docstrings and comment-only lines."""
    with open(path) as f:
        src = f.read()
    docs = set()
    for node in ast.walk(ast.parse(src)):
        body = getattr(node, "body", None)
        if isinstance(body, list) and body and isinstance(body[0], ast.Expr):
            if isinstance(body[0].value, ast.Constant) and isinstance(body[0].value.value, str):
                docs.update(range(body[0].lineno, body[0].end_lineno + 1))
    return "\n".join(
        line
        for i, line in enumerate(src.splitlines(), 1)
        if i not in docs and not line.lstrip().startswith("#")
    )


def test_format_is_spelled_once():
    src = _code_lines(scans.__file__)
    for spelling in (
        r"\d{20}",
        ":020d}",
        '"_delta_log"',
        "remove struct<path:string,dataChange:boolean>",
        "commitInfo struct<",
    ):
        assert src.count(spelling) == 1, spelling
    assert re.findall(r"^(DELTA_\w+) =", src, re.M) == ["DELTA_ACTION_SCHEMA"]


def test_overlap_writes_carry_the_callers_job_group(spark):
    """Fixture writes run on pool threads; each must see the caller's
    job group, so its jobs count toward the caller's span."""
    sc = spark.sparkContext
    sc.setJobGroup("overlap-probe", "overlap writes inherit the job group")
    try:
        got = scans._overlap_writes(
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
            lambda: sc.getLocalProperty("spark.jobGroup.id"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert got == ["overlap-probe", "overlap-probe"]


def test_partition_values_plan_is_the_same_every_build(spark, sf_dir):
    """scan_delta_partition_values lists its live files in path order, so
    two builds give one normalized optimized plan (the file names differ
    only by their write UUIDs)."""
    from morphl_model_publishers_churning_users_spark.registry import get_queries

    def plan(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        s = re.sub(r"#\d+L?", "#", s)
        return re.sub(r"[0-9a-f]{8}(-[0-9a-f]{4}){3}-[0-9a-f]{12}", "UUID", s)

    q = get_queries()["scan_delta_partition_values"]
    first, second = plan(q(spark, sf_dir)), plan(q(spark, sf_dir))
    assert "UUID" in first
    assert first == second
