"""Fixture-table catalog: parquet → DataFrame with canonical types.

All ten fixture tables (FIXTURES.md) load through here so that every
operator sees the same canonical schema regardless of which SparkSession
(ours or the driver's) is in play.

The one physical quirk: ``events.ts`` is parquet TIMESTAMP(NANOS), which
Spark 4 refuses to read natively. We flip the runtime conf
``spark.sql.legacy.parquet.nanosAsLong`` (nanos arrive as LongType) and
rebuild a ``timestamp_ntz`` column by integer-dividing to microseconds —
identical truncation to what DuckDB's nanos→µs read does, so oracle
comparisons line up exactly. ``o_orderdate``/``l_shipdate`` are already
µs TIMESTAMP_NTZ and load natively.

Loading moves no table data through the driver: a conf set, one
``spark.read.parquet`` per table and column casts. It is not free, though:
each ``spark.read.parquet`` runs one small Spark job that infers the
schema from the file footers, so ``load_all`` runs ten jobs (2.9 s of
``catalog.load_all_s`` in the perfbench churn trace, part of it the JVM
warm-up of a fresh session's first jobs). The cost grows with the number
of files, not of rows.
"""

from __future__ import annotations

import hashlib
import io
import os
import zipfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Tables small enough to broadcast in any realistic deployment (dim tables).
BROADCAST_TABLES = {"region", "nation"}

_RUNTIME_CONFS = {
    # events.ts is TIMESTAMP(NANOS); read as long + convert (see module doc).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Oracle (DuckDB) treats naive timestamps as-is; pin UTC so
    # ntz<->ltz conversions and epoch math are tz-independent.
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime partition coalescing + skew-join splitting — the
    # mechanism that keeps these plans healthy at 100 TB.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for any pandas-UDF path and fast toPandas.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Fall back from whole-stage codegen when the compiled method exceeds
    # HotSpot's JIT ceiling (-XX:DontCompileHugeMethods refuses methods
    # over 8000 bytecode bytes on every stock JVM): between 8000 and
    # Spark's 65535 default the generated method RUNS but only in the
    # bytecode interpreter, which measured 3x SLOWER than Catalyst's
    # interpreted expression path on the wire-codec encode projections
    # (r13, OPTIMIZATION_r13.md: fn_avro_wire encode 1.16 s codegen'd vs
    # 0.40 s fallback at sf0.1 single-task). Scale-independent: the JIT
    # ceiling is a JVM property, not a cluster-size tunable.
    "spark.sql.codegen.hugeMethodLimit": "8000",
}

# Confs that change query results (a missed timeZone shifts every
# timestamp): failing to set one raises. The rest only tune performance
# and stay best-effort.
_SEMANTIC_CONFS = frozenset(
    {"spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone"}
)


# App ids that already had the package shipped to their Python workers.
_pyfiles_shipped: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Module-level functions handed to mapInPandas/applyInPandas are
    cloudpickled BY REFERENCE (module + qualname), so the worker must be
    able to import us. Our own sessions inherit the repo cwd, but a
    driver-owned session may run from anywhere — so we ship the package
    the standard way: zip it and addPyFile (the py-files deploy path; on
    a real cluster this is exactly how the code reaches 1000 executors).
    Content-hashed filename so re-adding after an edit never collides
    with a previously registered file.
    """
    sc = spark.sparkContext
    if sc.applicationId in _pyfiles_shipped:
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
        for dirpath, dirnames, files in os.walk(pkg_dir):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for fn in sorted(files):
                if fn.endswith(".py"):
                    full = os.path.join(dirpath, fn)
                    info = zipfile.ZipInfo(os.path.relpath(full, root))
                    with open(full, "rb") as f:
                        zf.writestr(info, f.read())
    data = buf.getvalue()
    digest = hashlib.sha256(data).hexdigest()[:12]
    out_dir = os.path.join(root, ".scratch", "pyfiles")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"mpcu_pkg_{digest}.zip")
    if not os.path.exists(out):
        # Atomic publish: a concurrent process (two engine sessions on
        # one checkout) must never addPyFile a half-written zip. The
        # name is content-addressed, so whoever wins the rename wrote
        # identical bytes.
        tmp = f"{out}.{os.getpid()}.tmp"
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, out)
    try:
        sc.addPyFile(out)
    except Exception:
        pass  # best effort — nested-function UDFs still work without it
    _pyfiles_shipped.add(sc.applicationId)


def ensure_confs(spark: SparkSession) -> None:
    """Apply runtime-settable confs the engine depends on.

    Safe to call repeatedly; called by every table load so driver-owned
    sessions get the right behavior too. Raises if a result-changing conf
    (``_SEMANTIC_CONFS``) cannot be set.
    """
    _ship_package(spark)
    for k, v in _RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            if k in _SEMANTIC_CONFS:
                raise
            # Performance conf not settable in this build: run without it.
    try:
        # Streaming state stores and non-AQE paths take their task count
        # straight from shuffle.partitions (AQE never coalesces them). A
        # driver-owned session arrives at Spark's default 200 — size it to
        # the actual parallelism instead. Only the untouched default is
        # overridden, so explicit settings (tests, tuning) are preserved.
        if spark.conf.get("spark.sql.shuffle.partitions") == "200":
            spark.conf.set(
                "spark.sql.shuffle.partitions",
                str(spark.sparkContext.defaultParallelism),
            )
    except Exception:
        pass


# (session-id, sf_dir, name) → DataFrame. Reusing the DataFrame reuses its
# resolved FileIndex, so repeated queries skip re-listing files and
# re-reading parquet footers (a per-query fixed cost that matters when the
# driver runs dozens of operators back-to-back).
_df_cache: dict[tuple[str, str, str], DataFrame] = {}


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table with canonical column types."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    cached = _df_cache.get(key)
    if cached is not None:
        return cached
    ensure_confs(spark)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # nanos-as-long → µs-truncated TIMESTAMP_NTZ (matches DuckDB's read).
        df = df.withColumn(
            "ts", F.expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)")
        )
    _df_cache[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, suffix: str = "") -> None:
    """Register all fixture tables as temp views (for spark.sql entry point)."""
    for t in TABLES:
        table(spark, sf_dir, t).createOrReplaceTempView(t + suffix)
