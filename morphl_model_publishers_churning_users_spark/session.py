"""SparkSession factory with scale-oriented defaults.

Used by our own tests/bench. The driver creates its own session and calls
``queries()`` callables with it; anything the engine *requires* must
therefore also be applied as a runtime conf in ``catalog.ensure_confs``
(which every query path calls). Builder-time configs here are only the
ones that cannot be set at runtime. None is needed for correct results;
one matters for speed: ``spark.sql.codegen.cache.maxEntries``, the size
of the JVM-wide cache of compiled generated classes. It is static, so a
driver-owned session keeps Spark's default of 100 unless the driver sets
it at launch; ``ensure_confs`` cannot apply it. The same holds for
``spark.cleaner.referenceTracking.cleanCheckpoints``: without it the
reliable checkpoints that ``SPARK_GRAFT_CHECKPOINT_DIR`` turns on are
never deleted, one directory per materialization for the life of the
checkpoint directory. ``build_session`` sets it; a driver-owned session
must set it at launch.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .catalog import ensure_confs


def build_session(app_name: str = "mpcu-spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        # One shuffle partition per core in local mode; AQE coalesces further.
        # On a real cluster this would be ~2-3x total cores (set per deploy).
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Compiled-class cache (LRU), sized to the engine's repeated working
        # set. A pass of perfbench's engine_mix (bench.py's 17 headline keys
        # plus the LLM-corpus and ETL ops; sf 0.01, local[3] on a 4-core
        # host) needs 390-480 generated classes. That cycle is longer than
        # the default 100 entries, so each class was evicted before its
        # reuse and a warm pass recompiled 417-447 of them (~8 ms each in
        # Janino); at 1000 a warm pass compiles 0-4.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # Delete a reliable checkpoint's files once its DataFrame is
        # garbage-collected (operators/_shared.ckpt under
        # SPARK_GRAFT_CHECKPOINT_DIR); static, so it is set here.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    # Optional config-axis overrides for test/diagnostic sessions (r12):
    # SPARK_GRAFT_EXTRA_CONFS="k1=v1;k2=v2" lets the engine-conf'd
    # pytest suite run under any robustness axis (state-store provider,
    # serializer, codegen mode, ...) without editing this factory.
    extra = os.environ.get("SPARK_GRAFT_EXTRA_CONFS", "")
    requested: dict[str, str] = {}
    for pair in filter(None, (p.strip() for p in extra.split(";"))):
        k, sep, v = pair.partition("=")
        if not sep or not k.strip():  # malformed pair: fail loudly, a
            # silently-unapplied axis would record a green sweep for a
            # configuration that never engaged (r12 review)
            raise ValueError(f"SPARK_GRAFT_EXTRA_CONFS: malformed pair {pair!r}")
        requested[k.strip()] = v.strip()
        builder = builder.config(k.strip(), v.strip())
    spark = builder.getOrCreate()
    # getOrCreate silently ignores builder confs when it returns a
    # pre-existing session (and static/core confs can never be applied
    # post-launch) — the OTHER way an axis can record a green sweep
    # without ever engaging (r12 advice). Read every requested conf
    # back and fail loudly on a mismatch.
    for k, v in requested.items():
        applied = spark.conf.get(k, None)
        if applied != v:
            raise RuntimeError(
                f"SPARK_GRAFT_EXTRA_CONFS: {k}={v!r} was not applied "
                f"(session reports {applied!r}) — getOrCreate likely "
                f"returned a pre-existing session; stop it first or set "
                f"the conf at runtime"
            )
    ensure_confs(spark)
    return spark
