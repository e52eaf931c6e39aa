#!/usr/bin/env python3
"""Digest of every key's plans and Spark jobs, for refactors that must not
move a plan.

    python scripts/plan_digest.py OUT.json --sf-dir DIR [--rows] [KEY ...]
    python scripts/plan_digest.py --diff A.json B.json

The first form builds each key (every registry key by default, plus the
packaged pipelines ``pipe_churn`` and ``pipe_llm_corpus`` and the raw
production paths ``raw_dedup_fuzzy`` and ``raw_simsearch_ann``) in one
session and records, per key:

* ``plan``: the normalized optimized plan of the returned frame;
* ``frames``: the normalized optimized plan of every frame the builder
  checkpoints, collects or counts (a checkpointed input shows in the
  returned plan only as ``LogicalRDD``, so its own plan is kept here);
* ``build_jobs`` / ``count_jobs``: the Spark jobs of the build and of a
  ``.count()`` on the returned frame, counted per job group;
* ``rows``: that count; with ``--rows`` also ``rows_hash``, an
  order-insensitive hash of the collected rows.

Normalization removes what differs between two runs of the same code:
expression ids, the repository path, per-process scratch dirs, UUIDs, ML
transformer uids, ``plan_id=N``, ``QueryStage N``, codegen ids ``*(N)``,
and the process-wide counters in ``_common_expr_N`` and in the names of
Python lambdas' variables (``lambda x_N``). Run it once at each side
of a change (one process per side) and compare with ``--diff``, which
prints each key whose plans, job counts, row count or row hash differ.
A few keys differ between two runs of the same code (the Expand order of
multi-distinct aggregates, streaming sources' recorded frames), so
re-digest the parent before blaming a change.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import threading

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PIPELINES = {"pipe_churn": "churn", "pipe_llm_corpus": "llm_corpus"}
RAW_OPS = ("raw_dedup_fuzzy", "raw_simsearch_ann")
RECORDED = ("localCheckpoint", "checkpoint", "collect", "count", "first", "take")

_NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(re.escape(ROOT)), "<repo>"),
    (re.compile(r"pid\d+"), "pid<N>"),
    (re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}"), "<uuid>"),
    (re.compile(r"([A-Za-z]+)_[0-9a-f]{12}\b"), r"\1_<uid>"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"QueryStage \d+"), "QueryStage N"),
    (re.compile(r"\*\(\d+\)"), "*(N)"),
    (re.compile(r"_common_expr_\d+"), "_common_expr_N"),
    (re.compile(r"lambda (\w+?)_\d+#"), r"lambda \1_N#"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


def plan_of(df) -> str:
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


class Recorder:
    """Wraps the classic DataFrame's materializing calls and records the
    plan of each outermost call made while ``frames`` is a list."""

    def __init__(self):
        from pyspark.sql.classic.dataframe import DataFrame

        self.frames: list[str] | None = None
        self._local = threading.local()
        for name in RECORDED:
            setattr(DataFrame, name, self._wrap(getattr(DataFrame, name)))

    def _wrap(self, method):
        recorder = self

        def wrapped(df, *args, **kwargs):
            if recorder.frames is None or getattr(recorder._local, "busy", False):
                return method(df, *args, **kwargs)
            recorder._local.busy = True
            try:
                recorder.frames.append(plan_of(df))
                return method(df, *args, **kwargs)
            finally:
                recorder._local.busy = False

        return wrapped


def rows_hash(df) -> str:
    lines = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def builders(spark, sf_dir: str, keys: list[str]) -> dict:
    from morphl_model_publishers_churning_users_spark.engine import Engine
    from morphl_model_publishers_churning_users_spark.operators import llm
    from morphl_model_publishers_churning_users_spark.registry import get_queries

    queries = get_queries()
    engine = Engine(spark, sf_dir)
    keys = keys or [*queries, *PIPELINES, *RAW_OPS]
    out = {}
    for key in keys:
        if key in PIPELINES:
            out[key] = lambda p=PIPELINES[key]: engine.run_pipeline(p)
        elif key in RAW_OPS:
            out[key] = lambda fn=getattr(llm, key): fn(spark, sf_dir)
        else:
            out[key] = lambda fn=queries[key]: fn(spark, sf_dir)
    return out


def jobs(sc, group: str) -> int:
    return len(sc.statusTracker().getJobIdsForGroup(group))


def digest(out_path: str, sf_dir: str, keys: list[str], with_rows: bool) -> None:
    from morphl_model_publishers_churning_users_spark.session import build_session

    spark = build_session("plan-digest")
    sc = spark.sparkContext
    recorder = Recorder()
    result = {}
    for key, build in builders(spark, sf_dir, keys).items():
        entry: dict = {}
        try:
            recorder.frames = []
            sc.setJobGroup(f"{key}:build", key)
            df = build()
            entry["frames"] = recorder.frames
            recorder.frames = None
            entry["plan"] = plan_of(df)
            entry["build_jobs"] = jobs(sc, f"{key}:build")
            sc.setJobGroup(f"{key}:count", key)
            entry["rows"] = df.count()
            entry["count_jobs"] = jobs(sc, f"{key}:count")
            if with_rows:
                sc.setJobGroup(f"{key}:rows", key)
                entry["rows_hash"] = rows_hash(df)
        except Exception as e:  # noqa: BLE001 - one key's failure is recorded
            first = (str(e).splitlines() or [""])[0]
            entry["error"] = f"{type(e).__name__}: {first[:300]}"
        finally:
            recorder.frames = None
            sc.setLocalProperty("spark.jobGroup.id", None)
        result[key] = entry
        print(key, entry.get("error", entry.get("rows")), flush=True)
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1, sort_keys=True)
    spark.stop()


FIELDS = ("error", "plan", "frames", "build_jobs", "count_jobs", "rows", "rows_hash")


def diff(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    for entry in (*a.values(), *b.values()):  # digests from older normalizations
        if "plan" in entry:
            entry["plan"] = normalize(entry["plan"])
            entry["frames"] = [normalize(f) for f in entry["frames"]]
    differ = 0
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            print(f"{key}: only in {a_path if key in a else b_path}")
            differ += 1
            continue
        fields = [fld for fld in FIELDS if a[key].get(fld) != b[key].get(fld)]
        if fields:
            detail = ", ".join(
                f"{fld} {a[key].get(fld)}->{b[key].get(fld)}"
                if fld in ("build_jobs", "count_jobs", "rows")
                else fld
                for fld in fields
            )
            print(f"{key}: {detail}")
            differ += 1
    print(f"{differ} of {len(set(a) | set(b))} keys differ")
    return 1 if differ else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--diff", nargs=2, metavar=("A", "B"))
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_TEST_SF_DIR"),
        help="fixture tables (default: $SPARK_GRAFT_TEST_SF_DIR)",
    )
    ap.add_argument("--rows", action="store_true", help="also hash the collected rows")
    ap.add_argument("out", nargs="?")
    ap.add_argument("keys", nargs="*")
    args = ap.parse_intermixed_args()
    if args.diff:
        return diff(*args.diff)
    if not args.out or not args.sf_dir:
        ap.error("OUT.json and --sf-dir (or $SPARK_GRAFT_TEST_SF_DIR) are required")
    digest(args.out, args.sf_dir, args.keys, args.rows)
    return 0


if __name__ == "__main__":
    sys.exit(main())
