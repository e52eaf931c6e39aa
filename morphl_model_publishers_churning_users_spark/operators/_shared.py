"""Helpers shared by operator modules: oracle-parity numeric discipline.

Why DECIMAL sums: double summation is order-dependent; Spark's partition
order differs from DuckDB's, and on ~1e9-magnitude totals the drift can
exceed the 1e-6 rounding grain the driver hashes at. Summing through
DECIMAL(38,6) is exact and order-independent, then one cast back to
DOUBLE yields bit-identical values on both engines.

The parity rule is "half-up quantize to 1e-k, and sum exactly through
DECIMAL", and :func:`qround`, :func:`qdec`, :func:`qsum` and :func:`dsum`
are its one spelling; operators call them instead of re-deriving the
arithmetic. ``k`` is the number of decimal digits kept (3, 6, 9 or 12);
6 is the driver's hash grain. Each helper builds exactly the Catalyst
expression its docstring shows, with ``10.0 ** k`` as the literal (the
same double as ``1e6``), so the plans match the DuckDB twins term for
term.
"""

from __future__ import annotations

import glob
import os
import posixpath
import shutil
import time

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, GroupedData, SparkSession

from ..catalog import table


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return table(spark, sf_dir, name)


def qround(col: Column, k: int = 6) -> Column:
    """Half-up-quantize a double to 1e-k, as a double:
    ``floor(col * 1e{k} + 0.5) / 1e{k}``. DuckDB twin:
    ``FLOOR(x * 1e{k} + 0.5) / 1e{k}``."""
    g = F.lit(10.0**k)
    return F.floor(col * g + F.lit(0.5)) / g


def qdec(col: Column, k: int = 6) -> Column:
    """Half-up-quantize a double to 1e-k INTO decimal(38,k): the count of
    1e-k units, which accumulates in DECIMAL exactly and in any order,
    dodging both engines' float re-association. DuckDB twin:
    ``CAST(FLOOR(x * 1e{k} + 0.5) AS DECIMAL(38,{k}))`` (then /1e{k} at the
    consumer)."""
    return F.floor(col * F.lit(10.0**k) + F.lit(0.5)).cast(f"decimal(38,{k})")


def qsum(col: Column, k: int = 6) -> Column:
    """Exact sum of the 1e-k-quantized terms of a double column (→ double):
    ``CAST(SUM(qdec(col, k)) AS DOUBLE) / 1e{k}``."""
    return F.sum(qdec(col, k)).cast("double") / F.lit(10.0**k)


def dsum(col: Column, k: int = 6) -> Column:
    """Exact, order-independent sum of a double column through
    decimal(38,k) (→ double)."""
    return F.sum(col.cast(f"decimal(38,{k})")).cast("double")


def day_of(col: str | Column = "ts") -> Column:
    """The calendar day of a TIMESTAMP_NTZ (or DATE) column: the one
    spelling of the day key. An NTZ timestamp's day is its wall-clock
    date under any session timezone. DuckDB twin: ``CAST(ts AS DATE)``."""
    return F.to_date(col)


def by_day(df: DataFrame, *by: str | Column, col: str | Column = "ts") -> GroupedData:
    """``df`` grouped by ``*by`` plus ``day_of(col)`` as ``day``: the
    daily series every day-grain operator aggregates. Callers add their
    own ``.agg``."""
    return df.groupBy(*by, day_of(col).alias("day"))


def revenue() -> Column:
    """Exact purchase revenue of a group of events (an aggregate): the
    sum of ``value`` over purchase events through decimal(38,6), other
    events adding 0, as a double. DuckDB twin: ``CAST(SUM(CASE WHEN
    event_type = 'purchase' THEN CAST(value AS DECIMAL(38,6)) ELSE 0
    END) AS DOUBLE)``."""
    return F.sum(
        F.when(
            F.col("event_type") == "purchase", F.col("value").cast("decimal(38,6)")
        ).otherwise(F.lit(0).cast("decimal(38,6)"))
    ).cast("double")


def norm_text() -> Column:
    """The normalized text of a document, the one text policy every
    dedup, similarity and text-analysis operator starts from:
    ``lower(trim(text))``. DuckDB twin: ``lower(trim(text))``."""
    return F.lower(F.trim("text"))


def words(text: Column | None = None) -> Column:
    """The whitespace tokens of ``text`` (default ``trim(text)``):
    ``split(text, '\\s+')``; ``words(norm_text())`` is the lowercase
    token array. DuckDB twin: ``string_split_regex(text, '\\s+')``. The
    default is built per call, as a classic Column needs an active
    SparkContext."""
    return F.split(F.trim("text") if text is None else text, r"\s+")


def content_hash() -> Column:
    """The exact-dedup key of a document: ``md5(lower(trim(text)))``.
    DuckDB twin: ``md5(lower(trim(text)))``."""
    return F.md5(norm_text())


def docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The non-empty corpus: ``documents`` rows whose trimmed text is not
    empty. DuckDB twin: ``FROM documents WHERE length(trim(text)) > 0``."""
    return t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)


def with_stats(df: DataFrame, *aggs: Column) -> DataFrame:
    """``df`` with the one-row table ``df.agg(*aggs)`` appended to every
    row: the one spelling of a whole-table statistic joined back. The
    table is broadcast, so the join never shuffles a cartesian
    product."""
    return df.crossJoin(F.broadcast(df.agg(*aggs)))


def DSUM(expr: str) -> str:
    """DuckDB twin of :func:`dsum`."""
    return f"CAST(SUM(CAST({expr} AS DECIMAL(38,6))) AS DOUBLE)"


def r6(col: Column) -> Column:
    return F.round(col, 6)


def _proc_start_time(pid: int) -> float | None:
    """Epoch seconds *pid* started, via /proc (Linux); None elsewhere.

    Field 22 of ``/proc/<pid>/stat`` is starttime in clock ticks since
    boot; the boot epoch is the ``btime`` line of ``/proc/stat``. The
    comm field (2) may itself contain spaces or parens, so fields are
    split after the LAST ``)``.
    """
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read().decode("ascii", "replace")
        ticks = int(stat[stat.rindex(")") + 2 :].split()[19])
        with open("/proc/stat") as f:
            btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
        return btime + ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, StopIteration, IndexError):
        return None


def scratch_dir(name: str) -> str:
    """Writable scratch area for sinks/checkpoints (gitignored).

    Keyed by PID: two engine PROCESSES running the same operator on one
    checkout must not share fixture paths — round 9 caught two
    concurrent full-registry sweeps racing on
    `.scratch/dyn_part_overwrite` (one process read files the other was
    overwriting: FAILED_READ_FILE mid-scan). Within one process the op
    sequence is serial, so per-PID is exactly the isolation needed —
    the same reasoning a real deployment applies by giving every Spark
    APPLICATION its own staging root. Dead siblings' dirs are pruned
    best-effort so repeated sessions do not accumulate disk.
    """
    root = os.path.join(
        os.path.dirname(os.path.dirname(os.path.dirname(__file__))), ".scratch"
    )
    mine = os.path.join(root, f"pid{os.getpid()}")
    if not os.path.isdir(mine):  # first touch this process: prune the dead
        for entry in glob.glob(os.path.join(root, "pid*")):
            try:
                pid = int(os.path.basename(entry).removeprefix("pid"))
                os.kill(pid, 0)  # raises if no such process
                # PID-reuse detection (ADVICE r9+r10): os.kill(pid, 0)
                # succeeds on a RECYCLED pid forever. A real owner made
                # its dir AFTER it started (dir mtime >= owner start); a
                # recycled pid started AFTER the dead sibling's last dir
                # touch. So prune only when the live process provably
                # started after the dir's last touch (+60 s clock
                # slack) — never a legitimately long-lived owner, whose
                # start precedes its dir. Non-Linux (no /proc): fall
                # back to the 7-day-mtime rule, kept fresh by the
                # os.utime below.
                started = _proc_start_time(pid)
                mtime = os.path.getmtime(entry)
                if started is not None:
                    if started > mtime + 60:
                        shutil.rmtree(entry, ignore_errors=True)
                elif time.time() - mtime > 7 * 86400:
                    shutil.rmtree(entry, ignore_errors=True)
            except ValueError:
                continue
            except ProcessLookupError:
                shutil.rmtree(entry, ignore_errors=True)
            except (PermissionError, OSError):
                pass  # live process owned elsewhere / stat race — leave it
    d = os.path.join(mine, name)
    os.makedirs(d, exist_ok=True)
    try:  # keep the live owner's root fresh for the non-/proc fallback
        os.utime(mine)
    except OSError:
        pass
    return d


def scan_is_underparallel(df: DataFrame, par: int) -> bool:
    """True when `df`'s leaf scan provably arrives in fewer splits than
    `par` — the gate for the conditional widen-the-probe repartitions
    (join_fuzzy_blocked, llm_langid).

    r14 (VERDICT r13 item 5): the old probe was `df.rdd.getNumPartitions()`,
    which forces a full plan→RDD conversion (analyzer + physical planning)
    on the driver per call. This helper instead lower-bounds the scan's
    split count from the input files alone: Spark's file packing cuts a
    file into pieces of at most `spark.sql.files.maxPartitionBytes`, so

        splits >= ceil(total_bytes / maxPartitionBytes)

    and when that bound already reaches `par` the repartition is skipped
    without ever planning the query. The bound is driver-side metadata
    only (the file list is already materialized by the DataFrame's file
    index). For local files it is always the byte bound, never the file
    count: Spark packs small files together (each costs
    `openCostInBytes`), so par + 1 tiny files can arrive as 2 splits.
    Where file sizes are unreadable (non-local URIs), the file count
    stands in — at warehouse scale the file count alone exceeds any core
    count, which is the only fact the callers need. The gate is purely a
    performance decision: a false True costs one narrow exchange, never
    a result change. So is an unparseable `maxPartitionBytes` (a
    fractional size, garbage): it widens.
    """
    files = df.inputFiles()
    if not all(uri.startswith("file:") for uri in files):
        return len(files) < par
    raw = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "128m")
    s = raw.strip().lower().removesuffix("b")
    units = {"k": 1024, "m": 1024**2, "g": 1024**3, "t": 1024**4}
    mult = units.get(s[-1:], 1)
    try:
        max_pb = int(s[:-1] if s[-1:] in units else s) * mult
    except ValueError:
        return True
    if max_pb <= 0:
        return True
    total = 0
    for uri in files:
        path = uri[len("file:"):]
        while path.startswith("//"):
            path = path[1:]
        try:
            total += os.stat(path).st_size
        except OSError:
            return True
    return -(-total // max_pb) < par


def ckpt(df: DataFrame) -> DataFrame:
    """Eager, lineage-cutting materialization: the one checkpoint every
    operator uses, for iterative loops (pagerank, k-core, connected
    components, label propagation) and for tables that feed several
    consumers alike.

    Default is ``localCheckpoint(eager=True)``: executor-local block
    storage, no DFS round-trip — the fast path, and correct on a healthy
    cluster. But localCheckpoint blocks die with their executor, and on a
    1000-executor 100 TB run an executor loss mid-iteration would fail
    the whole job because the truncated lineage cannot be recomputed.
    Set ``SPARK_GRAFT_CHECKPOINT_DIR`` to a fault-tolerant path
    (HDFS/S3/NFS) to switch every materialization to reliable
    ``checkpoint()`` — slower per round, survivable at scale. The
    setting is read on every call, so a changed directory takes effect
    at the next checkpoint. Reliable checkpoint files are deleted once
    their DataFrame is garbage-collected only when the session was
    launched with ``spark.cleaner.referenceTracking.cleanCheckpoints``
    (``build_session`` sets it; a driver-owned session must set it at
    launch, as the conf is static).
    """
    d = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
    if d:
        sc = df.sparkSession.sparkContext
        cur = sc.getCheckpointDir()
        # Spark checkpoints into a fresh UUID subdirectory of the dir it
        # was given, fully qualified.
        if cur is None or posixpath.dirname(cur.rstrip("/")) != _qualified(sc, d):
            sc.setCheckpointDir(d)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)


def _qualified(sc, path: str) -> str:
    """``path`` as Hadoop qualifies it (scheme, authority, absolute)."""
    p = sc._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(sc._jsc.hadoopConfiguration()).makeQualified(p).toString()
