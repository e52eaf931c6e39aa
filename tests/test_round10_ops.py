"""Round-10 stretch operators: scan_delta_checkpoint (checkpointed
commit-log reads) and fn_avro_schema_evolution (Avro reader/writer
schema resolution) — semantic invariants beyond oracle parity, checked
against the ON-DISK artifacts / a pure-Python spec-level reference,
not the operators' own aggregates."""

from __future__ import annotations

import io
import json
import os
import re
from contextlib import redirect_stdout

import pyspark.sql.functions as F

from morphl_model_publishers_churning_users_spark.registry import get_queries

_Q = get_queries()


def test_delta_checkpoint_state_matches_python_replay(spark, sf_dir):
    """The checkpoint parquet at N=2 must hold EXACTLY the live-file
    set a pure-Python replay of commits 0..2 derives (path-for-path,
    with sizes matching the on-disk files), and `_last_checkpoint`
    must name it — the two artifacts a real Delta client trusts."""
    from morphl_model_publishers_churning_users_spark.operators._shared import (
        scratch_dir,
    )

    _Q["scan_delta_checkpoint"](spark, sf_dir).count()  # materialize
    tbl = scratch_dir("delta_checkpoint_table")
    log_dir = os.path.join(tbl, "_delta_log")

    with open(os.path.join(log_dir, "_last_checkpoint")) as f:
        ptr = json.loads(f.read())
    assert ptr["version"] == 2

    commits = {}
    for fname in sorted(os.listdir(log_dir)):
        if not fname.endswith(".json"):
            continue
        v = int(fname.split(".")[0])
        with open(os.path.join(log_dir, fname)) as f:
            commits[v] = [json.loads(l) for l in f if l.strip()]
    assert sorted(commits) == [0, 1, 2, 3]

    def replay(n):  # independent Python fold: last action per path wins
        live = set()
        for v in range(n + 1):
            for a in commits[v]:
                if "add" in a:
                    live.add(a["add"]["path"])
                elif "remove" in a:
                    live.discard(a["remove"]["path"])
        return live

    ckpt_path = os.path.join(log_dir, f"{ptr['version']:020d}.checkpoint.parquet")
    ckpt_rows = {
        r["path"]: r["size"] for r in spark.read.parquet(ckpt_path).collect()
    }
    assert set(ckpt_rows) == replay(2)
    assert len(ckpt_rows) == 3
    for p, size in ckpt_rows.items():
        assert os.path.getsize(os.path.join(tbl, p)) == size

    # v3 = checkpoint state + exactly one replayed commit
    assert replay(3) == replay(2) | {
        a["add"]["path"] for a in commits[3] if "add" in a
    }


def test_delta_checkpoint_read_never_opens_pre_checkpoint_log(spark, sf_dir):
    """The O(commits-since-checkpoint) property, proven by deletion:
    after the checkpoint is written, the pre-checkpoint JSON commits
    0..2 can be REMOVED (Delta's log truncation) and version reads at
    2 and 3 still produce identical results — nothing in the read path
    touches them."""
    from morphl_model_publishers_churning_users_spark.operators._shared import (
        scratch_dir,
    )
    from morphl_model_publishers_churning_users_spark.operators.scans import (
        _fold,
        _state_at,
    )

    before = {
        (r["version"], r["n_commits_replayed"], r["n_files"], r["n_rows"])
        for r in _Q["scan_delta_checkpoint"](spark, sf_dir).collect()
    }
    assert {v for v, *_ in before} == {2, 3}
    tbl = scratch_dir("delta_checkpoint_table")
    log_dir = os.path.join(tbl, "_delta_log")
    for v in range(3):  # truncate the pre-checkpoint log
        os.remove(os.path.join(log_dir, f"{v:020d}.json"))

    # Rebuild ONLY the read half against the truncated log: the
    # operator rewrites the table on each call, so re-running it would
    # restore the files; instead call its reader and fold directly.
    state, _ = _state_at(spark, log_dir, 3)
    live3 = _fold(state)
    paths = [os.path.join(tbl, r["path"]) for r in live3.collect()]
    got = spark.read.parquet(*paths).count()
    want = next(n_rows for v, c, f_, n_rows in before if v == 3)
    assert got == want
    assert len(paths) == 5


def test_delta_checkpoint_replay_counts_and_fold_plan(spark, sf_dir):
    """Version 2 must be served from the checkpoint ALONE
    (n_commits_replayed=0) and version 3 must replay exactly one
    commit; the fold stays a single hash aggregate (no join/window/
    cartesian) — the O(log tail) plan a 100 TB client needs."""
    df = _Q["scan_delta_checkpoint"](spark, sf_dir)
    # capture the plan BEFORE the collect: once AQE finalizes, explain
    # prints final + initial trees and every operator numbers twice
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    rows = {r["version"]: r for r in df.collect()}
    assert rows[2]["n_commits_replayed"] == 0
    assert rows[3]["n_commits_replayed"] == 1
    assert rows[2]["n_files"] == 3 and rows[3]["n_files"] == 5
    assert rows[3]["n_rows"] > rows[2]["n_rows"]
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    # Since r13 the read scans the distinct live files once and
    # attributes rows to versions via a broadcast metadata join — the
    # only joins allowed are broadcast ones.
    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 1, plan


def _py_avro_resolve(blob: bytes):
    """Pure-Python Avro resolution of writer record
    {key: long, priority: string, delta: long} under reader record
    {priority: string, delta: long, source_id: long = 42} — the
    spec-level reference the operator is graded against: skip `key`
    by length, bind priority/delta by name, default source_id."""
    pos = 0

    def varint():
        nonlocal pos
        shift, acc = 0, 0
        while True:
            b = blob[pos]
            pos += 1
            acc |= (b & 0x7F) << shift
            if not b & 0x80:
                break
            shift += 7
        return acc

    def unzigzag(z):
        return (z >> 1) ^ -(z & 1)

    start = pos
    unzigzag(varint())  # key: skipped (reader drops it)
    skipped_len = pos - start
    slen = unzigzag(varint())
    priority = blob[pos : pos + slen].decode()
    pos += slen
    delta = unzigzag(varint())
    assert pos == len(blob)  # fields tile the record exactly
    return priority, delta, 42, skipped_len


def test_avro_schema_evolution_matches_python_reference(spark, sf_dir):
    """Re-encode a sample of orders with the writer schema in Python,
    resolve with the pure-Python reader above, and require the
    operator's resolved columns to agree row-for-row — including the
    skip distance and the defaulted field."""
    out = {
        r["o_orderkey"]: r
        for r in _Q["fn_avro_schema_evolution"](spark, sf_dir).limit(200).collect()
    }
    assert out and all(r["resolve_ok"] for r in out.values())

    from morphl_model_publishers_churning_users_spark.operators._shared import t

    sample = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").isin(*list(out)[:50]))
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint") - 200000).alias("delta"),
        )
        .collect()
    )
    assert sample

    def zz_varint(n):
        z = ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)
        b = bytearray()
        while True:
            lo = z & 0x7F
            z >>= 7
            b.append(lo | 0x80 if z else lo)
            if not z:
                return bytes(b)

    for r in sample:
        wire = (
            zz_varint(r["o_orderkey"])
            + zz_varint(len(r["o_orderpriority"]))
            + r["o_orderpriority"].encode()
            + zz_varint(r["delta"])
        )
        pri, delta, source_id, skipped = _py_avro_resolve(wire)
        got = out[r["o_orderkey"]]
        assert got["priority"] == pri == r["o_orderpriority"]
        assert got["cents_delta"] == delta == r["delta"]
        assert got["source_id"] == source_id == 42
        assert got["skipped_len"] == skipped


def test_avro_schema_evolution_skip_is_length_only(spark, sf_dir):
    """The dropped writer field must be skipped via length arithmetic,
    never decoded: skipped_len equals the zigzag-varint byte length of
    the key and the plan stays join-free zero-shuffle codegen."""
    df = _Q["fn_avro_schema_evolution"](spark, sf_dir)
    bad = df.filter(
        F.col("skipped_len")
        != F.when(F.col("o_orderkey") * 2 < 128, 1)
        .when(F.col("o_orderkey") * 2 < 16384, 2)
        .when(F.col("o_orderkey") * 2 < 2097152, 3)
        .when(F.col("o_orderkey") * 2 < 268435456, 4)
        .otherwise(5)  # chain assumes fixture keys < 2^34 (ADVICE r10)
    ).count()
    assert bad == 0

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan  # zero-shuffle: scan -> project
    assert "Join" not in plan and "CartesianProduct" not in plan
