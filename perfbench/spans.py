"""Spans around calls into the engine's layers, for the traced run.

A span records name, layer, pass, parent, start and end. While a span is
open it owns a Spark job group, so the jobs, stages and tasks it caused
are read from ``statusTracker`` when it closes. Spans stay in memory; the
caller writes them out once, at the end.

The event-log summary (``spark_metrics``) parses the JSON event log that
the traced run turns on, and attributes stages to passes through the job
group recorded in each job's properties.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import statistics
import time
from collections import defaultdict

from workloads import OP_LAYERS, SETUP_SPANS, SPARK_METRICS, per_layer_names


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self.sc = None  # set once the SparkContext exists
        self.pass_idx = "setup"
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, layer: str = "", kind: str = ""):
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "layer": layer or (parent["layer"] if parent else ""),
            "kind": kind,
            "workload": self.workload,
            "pass": self.pass_idx,
            "parent": parent["id"] if parent else None,
            "group": f"pb-{len(self.spans)}",
        }
        self.spans.append(s)
        self._stack.append(s)
        sc = self.sc
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", s["group"])
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                self._count_jobs(s)
                sc.setLocalProperty("spark.jobGroup.id", parent["group"] if parent else None)

    def _count_jobs(self, s: dict) -> None:
        st = self.sc.statusTracker()
        jobs = list(st.getJobIdsForGroup(s["group"]))
        stages = [sid for j in jobs if (info := st.getJobInfo(j)) for sid in info.stageIds]
        s["jobs"], s["stages"] = len(jobs), len(stages)
        s["tasks"] = sum(
            info.numCompletedTasks for sid in stages if (info := st.getStageInfo(sid))
        )

    def wrap(self, module, attr: str, name: str, layer: str) -> None:
        """Replace ``module.attr`` by a version that runs inside a span."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer, kind="call"):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    # -- summaries ----------------------------------------------------------
    def self_time(self, s: dict) -> float:
        children = [c for c in self.spans if c["parent"] == s["id"]]
        return (s["end"] - s["start"]) - sum(c["end"] - c["start"] for c in children)

    def layer_metrics(self, warm: list[int]) -> dict[str, float]:
        """Per-layer metrics: setup spans as measured, op spans as the
        median over warm passes per op, summed over the ops of a layer."""
        m = {name: 0.0 for name in per_layer_names()}
        setup = [s for s in self.spans if s["pass"] == "setup"]
        for metric, span_name in SETUP_SPANS.items():
            m[metric] = sum(self.self_time(s) for s in setup if s["name"] == span_name)

        per_op: dict[tuple, list[float]] = defaultdict(list)
        for s in self.spans:
            if s["pass"] in warm and s["kind"] == "op":
                q = self._op_quantities(s)
                for k, v in q.items():
                    per_op[(s["layer"], s["name"], k)].append(v)
        for (layer, _, q), vals in per_op.items():
            if layer in OP_LAYERS:
                m[f"{layer}.{q}"] += statistics.median(vals)
            elif layer == "plans.churn":
                key = {"action_s": "score_s", "action_jobs": "score_jobs"}.get(q)
                if key:
                    m[f"plans.churn.{key}"] += statistics.median(vals)

        stages = defaultdict(list)
        for s in self.spans:
            if s["pass"] in warm and s["layer"] == "plans.churn" and s["kind"] == "call":
                stages[s["name"]].append(s)
        if stages:
            uf, fit = stages["user_features"], stages["fit_with_fallback"]
            m["plans.churn.user_features_s"] = statistics.median(self.self_time(s) for s in uf)
            m["plans.churn.fit_s"] = statistics.median(s["end"] - s["start"] for s in fit)
            m["plans.churn.fit_jobs"] = statistics.median(s["jobs"] for s in fit)
            m["plans.churn.fit_stages_per_job"] = statistics.median(
                s["stages"] / max(s["jobs"], 1) for s in fit
            )
        return m

    def _op_quantities(self, op: dict) -> dict[str, float]:
        kids = {c["name"]: c for c in self.spans if c["parent"] == op["id"]}
        build, plan, action = kids["build"], kids["plan"], kids["action"]
        return {
            "build_s": self.self_time(build),
            "build_jobs": self._subtree(build, "jobs"),
            "plan_s": plan["end"] - plan["start"],
            "action_s": action["end"] - action["start"],
            "action_jobs": action["jobs"],
            "tasks": sum(self._subtree(c, "tasks") for c in (build, plan, action)),
        }

    def _subtree(self, s: dict, count: str) -> int:
        """A span's count plus those of the spans nested in it."""
        return s.get(count, 0) + sum(
            self._subtree(c, count) for c in self.spans if c["parent"] == s["id"]
        )

    def spark_metrics(self, event_log: str, warm: list[int]) -> dict[str, float]:
        """Engine totals per warm pass, from the Spark event log."""
        group_pass = {s["group"]: s["pass"] for s in self.spans}
        stage_pass: dict[int, object] = {}
        totals = defaultdict(float)
        stages_done = set()
        with open(event_log) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    p = group_pass.get((ev.get("Properties") or {}).get("spark.jobGroup.id"))
                    for sid in ev["Stage IDs"]:
                        stage_pass[sid] = p
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if stage_pass.get(sid) in warm:
                        stages_done.add(sid)
                elif kind == "SparkListenerTaskEnd" and stage_pass.get(ev["Stage ID"]) in warm:
                    tm = ev.get("Task Metrics") or {}
                    rd = tm.get("Shuffle Read Metrics", {})
                    totals["spark.shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    totals["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    totals["spark.spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
                    totals["spark.executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    totals["spark.jvm_gc_s"] += tm.get("JVM GC Time", 0) / 1000.0
                    totals["spark.tasks"] += 1
        totals["spark.stages"] = len(stages_done)
        n = max(len(warm), 1)
        return {k: totals[k] / n for k in SPARK_METRICS}


def event_log_file(log_dir: str) -> str:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]

