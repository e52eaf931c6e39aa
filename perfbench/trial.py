"""The measured process: one fresh Python + JVM that sets the engine up,
runs one cold pass and then warm passes for the run's measuring time.

Started by run.py as ``python3 perfbench/trial.py CONFIG.json``; it writes
its findings to the JSON file the config names. Timed regions hold only
calls into the engine; GC fences and output checks sit between them.
"""

from __future__ import annotations

import contextlib
import gc
import json
import os
import pickle
import random
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


class Op:
    def __init__(self, name: str, layer: str, build):
        self.name, self.layer, self.build = name, layer, build


def resolve_ops(names: list[str], spark, data_dir: str, queries: dict) -> list[Op]:
    from morphl_model_publishers_churning_users_spark.engine import Engine
    from morphl_model_publishers_churning_users_spark.operators import llm

    from workloads import PIPELINES, PKG, RAW_OPS

    engine = Engine(spark, data_dir)
    ops = []
    for name in names:
        if name in PIPELINES:
            pipeline = PIPELINES[name]
            build = lambda p=pipeline: engine.run_pipeline(p)  # noqa: E731
            layer = f"plans.{pipeline}"
        else:
            fn = getattr(llm, name) if name in RAW_OPS else queries[name]
            build = lambda fn=fn: fn(spark, data_dir)  # noqa: E731
            layer = fn.__module__.removeprefix(PKG + ".")
        ops.append(Op(name, layer, build))
    return ops


def instrument(tracer, modules) -> None:
    """Put spans around the public calls of the layers the runs cross."""
    catalog, registry, session, churn = modules
    tracer.wrap(session, "build_session", "session.build_session", "session")
    tracer.wrap(registry, "get_queries", "registry.get_queries", "registry")
    tracer.wrap(catalog, "load_all", "catalog.load_all", "catalog")
    # build_session calls ensure_confs through its own module's name.
    for mod in (catalog, session):
        tracer.wrap(mod, "ensure_confs", "catalog.ensure_confs", "catalog")
    for stage in ("user_features", "label_churn", "fit_with_fallback"):
        tracer.wrap(churn, stage, stage, "plans.churn")


class Runner:
    def __init__(self, spark, ops, expected, tracer):
        self.spark, self.ops, self.expected, self.tracer = spark, ops, expected, tracer
        self.attempted = 0
        self.errors: list[str] = []
        self.row_counts: dict[str, int] = {}
        self.op_times: dict[str, list[float]] = {op.name: [] for op in ops}

    def _fence(self) -> None:
        # Drop the previous op's Python handles, then let the JVM collect
        # them, so its checkpoint blocks do not squeeze the next op.
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def _span(self, name, **kw):
        return self.tracer.span(name, **kw) if self.tracer else contextlib.nullcontext()

    def run_op(self, op: Op, check: bool) -> float | None:
        self._fence()
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            with self._span(op.name, layer=op.layer, kind="op"):
                with self._span("build"):
                    df = op.build()
                if self.tracer:
                    with self._span("plan"):
                        df._jdf.queryExecution().executedPlan()
                # The action hands the whole result to the client, as a
                # user of the engine consumes it.
                with self._span("action"):
                    result = df.toPandas()
            elapsed = time.perf_counter() - t0
            error = self._check(op, result, check)
        except Exception as e:  # an op that raises counts as failed
            error = f"{type(e).__name__}: {e}"
        if error:
            self.errors.append(f"{op.name}: {error[:500]}")
            return None
        return elapsed

    def _check(self, op: Op, pdf, full: bool) -> str | None:
        """Row count on every pass; the full comparison when ``full``."""
        from checks import check

        nrows = self.expected[op.name][1]
        want = nrows if nrows is not None else self.row_counts.setdefault(op.name, len(pdf))
        if len(pdf) != want:
            return f"{len(pdf)} rows, expected {want}"
        return check(pdf, self.expected[op.name]) if full else None

    def run_pass(self, idx, order: list[Op], check: bool) -> float:
        if self.tracer:
            self.tracer.pass_idx = idx
        total = 0.0
        for op in order:
            t = self.run_op(op, check)
            if t is not None:
                total += t
                if idx:
                    self.op_times[op.name].append(t)
        return total


def main(cfg_path: str) -> None:
    with open(cfg_path) as f:
        cfg = json.load(f)
    sys.path[:0] = [ROOT, HERE]
    from morphl_model_publishers_churning_users_spark import catalog, registry, session
    from morphl_model_publishers_churning_users_spark.plans import churn

    from spans import Tracer, event_log_file
    from workloads import WORKLOADS

    tracer = Tracer(cfg["workload"]) if cfg["trace"] else None
    if tracer:
        instrument(tracer, (catalog, registry, session, churn))

    spark = session.build_session("perfbench", cpus=cfg["cpus"])
    if tracer:
        tracer.sc = spark.sparkContext
    queries = registry.get_queries()
    catalog.ensure_confs(spark)
    catalog.load_all(spark, cfg["data_dir"])
    ready_wall = time.time()

    with open(cfg["expected"], "rb") as f:
        expected = pickle.load(f)
    # Keep the long-lived objects out of the GC fence's full collections.
    gc.freeze()
    ops = resolve_ops(WORKLOADS[cfg["workload"]], spark, cfg["data_dir"], queries)
    runner = Runner(spark, ops, expected, tracer)
    rng = random.Random(cfg["seed"])

    def order() -> list[Op]:
        return rng.sample(ops, len(ops))

    cold = runner.run_pass(0, order(), check=False)
    # Warm passes until the measuring time is used up; the first one also
    # checks every op's full output, outside its timed regions.
    warm: list[float] = []
    t0 = time.perf_counter()
    while not warm or time.perf_counter() - t0 < cfg["seconds"]:
        warm.append(runner.run_pass(len(warm) + 1, order(), check=not warm))

    out = {
        "ready_wall": ready_wall,
        "cold_pass_s": cold,
        "warm_passes": warm,
        "attempted": runner.attempted,
        "errors": runner.errors,
        "op_s": {k: statistics.median(v) for k, v in runner.op_times.items() if v},
        "spark_version": spark.version,
        "java_version": spark.sparkContext._jvm.System.getProperty("java.version"),
    }
    warm_idx = list(range(1, len(warm) + 1))
    if tracer:
        out["layers"] = tracer.layer_metrics(warm_idx)
        out["layers"]["trace.pass_s"] = statistics.median(warm)
        out["layers"]["trace.cold_pass_s"] = cold
    spark.stop()
    if tracer:
        out["layers"].update(tracer.spark_metrics(event_log_file(cfg["event_log_dir"]), warm_idx))
        out["spans"] = tracer.spans
    with open(cfg["out"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(sys.argv[1])
