"""§2.A — scans and sinks.

The reference's ingest scanned Cassandra via the spark-cassandra-connector
and wrote features back per day [SURVEY.md §2.A, unverified]; here the
storage layer is columnar parquet, where Catalyst gives predicate pushdown
and column pruning for free. At 100 TB these tables would be
date-partitioned and the sink below shows the partitioned-write shape
(partition column → directory → partition pruning on re-read).
"""

from __future__ import annotations

import json
import os
import re
import shutil
from concurrent.futures import ThreadPoolExecutor
from functools import reduce

import pyspark.sql.functions as F
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession, Window

from ..registry import register
from ._shared import ckpt, day_of, dsum, qround, qsum, scratch_dir, t, with_stats


def _overlap_writes(*thunks):
    """Run INDEPENDENT fixture-slice write jobs concurrently and return
    their results in argument order (r14, guide §2.6 — overlap
    independent jobs). Each Delta-fixture slice write is underparallel
    on its own (2–4 write tasks after the repartition, on a session
    with 32 cores), and the driver previously serialized 2–4 of them
    per op. Safety: the slices land in DISTINCT subdirectories, the
    commit-log content depends only on the resulting file listings +
    sizes, and commit timestamps are deterministic constants (never
    wall clock) — so the on-disk fixture is byte-equivalent regardless
    of completion order, and the ops' outputs are unchanged (oracle
    re-verified). Spark's scheduler runs concurrent actions FIFO,
    which is exactly the back-fill behaviour the guide describes; 2–3
    jobs in flight is the sweet spot and the pool never exceeds the
    thunk count. Each thunk runs through ``inheritable_thread_target``,
    so its jobs carry the caller's job group, description, pool and tags."""
    inherit = inheritable_thread_target(SparkSession.active())
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(inherit(th)) for th in thunks]
        return [f.result() for f in futures]


@register("scan_parquet", oracle="SELECT * FROM lineitem")
def scan_parquet(spark, sf_dir):
    """Full table scan. Vectorized parquet reader; no shuffle."""
    return t(spark, sf_dir, "lineitem")


@register(
    "scan_projected",
    oracle="SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate FROM lineitem",
)
def scan_projected(spark, sf_dir):
    """Pruned scan — Catalyst pushes the projection into the parquet
    ReadSchema so only 4 of 11 columns are decoded."""
    return t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate"
    )


@register(
    "sink_parquet_part",
    oracle="SELECT l_returnflag, COUNT(*) AS n_rows FROM lineitem GROUP BY l_returnflag",
)
def sink_parquet_part(spark, sf_dir):
    """Partitioned parquet write + re-read.

    Writes lineitem partitioned by l_returnflag (at 100 TB: by ship date),
    re-reads and counts per partition — verifying round-trip fidelity and
    demonstrating the layout partition pruning needs.
    """
    out = scratch_dir("sink_parquet_part")
    t(spark, sf_dir, "lineitem").write.mode("overwrite").partitionBy("l_returnflag").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy(F.col("l_returnflag").cast("string").alias("l_returnflag"))
        .agg(F.count("*").alias("n_rows"))
    )


@register(
    "sink_upsert",
    oracle="""
WITH updates AS (
    SELECT o_orderkey, 'UPDATED' AS o_orderstatus, ROUND(o_totalprice * 1.1, 6) AS o_totalprice
    FROM orders WHERE o_orderkey % 10 = 0
), merged AS (
    SELECT o_orderkey, o_orderstatus, o_totalprice FROM updates
    UNION ALL
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 6) AS o_totalprice
    FROM orders
    WHERE o_orderkey NOT IN (SELECT o_orderkey FROM updates)
)
SELECT o_orderstatus, COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM merged GROUP BY o_orderstatus
""",
)
def sink_upsert(spark, sf_dir):
    """Key-upsert sink (MERGE semantics — the reference's Cassandra writes
    are primary-key upserts [SURVEY.md §1.1, unverified]). Updates take
    precedence via union + per-key latest-wins (argmax on version), then
    the merged table lands as parquet and is re-read. One shuffle on the
    merge key; at 100 TB the same plan runs per partition-overwrite so
    only touched partitions rewrite."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round("o_totalprice", 6).alias("o_totalprice"),
        F.lit(0).alias("version"),
    )
    updates = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("UPDATED").alias("o_orderstatus"),
            F.round(F.col("o_totalprice") * 1.1, 6).alias("o_totalprice"),
            F.lit(1).alias("version"),
        )
    )
    merged = (
        o.unionByName(updates)
        .groupBy("o_orderkey")
        .agg(F.max(F.struct("version", "o_orderstatus", "o_totalprice")).alias("m"))
        .select(
            "o_orderkey",
            F.col("m.o_orderstatus").alias("o_orderstatus"),
            F.col("m.o_totalprice").alias("o_totalprice"),
        )
    )
    out = scratch_dir("sink_upsert")
    merged.write.mode("overwrite").parquet(out)
    return (
        spark.read.parquet(out)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_rows"),
            dsum(F.col("o_totalprice")).alias("sum_total"),
        )
    )


@register(
    "scan_partition_pruned",
    oracle="""
SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
GROUP BY 1
""",
)
def scan_partition_pruned(spark, sf_dir):
    """Static partition pruning: land events partitioned by day (the
    100 TB layout — one directory per day), then read back with a day
    filter. The filter hits the partition COLUMN, so Spark prunes whole
    directories at planning time — the scan never opens files outside
    the week, which is the difference between reading 7 days and 10
    years at scale. (tests assert the pruned plan shape.)"""
    import os

    out = scratch_dir(f"events_by_day_{os.path.basename(os.path.abspath(sf_dir))}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        (
            t(spark, sf_dir, "events")
            .withColumn("day", day_of())
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(out)
        )
    df = spark.read.parquet(out).filter(
        F.col("day").between(F.lit("2024-01-08").cast("date"), F.lit("2024-01-14").cast("date"))
    )
    return df.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
    )


@register(
    "scan_schema_evolution",
    oracle="""
WITH unioned AS (
  SELECT o_orderkey, ROUND(o_totalprice, 6) AS o_totalprice,
         CAST(NULL AS VARCHAR) AS o_orderpriority
  FROM orders WHERE o_orderstatus = 'F'
  UNION ALL
  SELECT o_orderkey, ROUND(o_totalprice, 6), o_orderpriority
  FROM orders WHERE o_orderstatus = 'O'
)
SELECT COALESCE(o_orderpriority, 'MISSING') AS priority,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM unioned GROUP BY 1
""",
)
def scan_schema_evolution(spark, sf_dir):
    """Schema evolution across parquet batches: an older batch lacks a
    column a newer batch added; ``mergeSchema=true`` unions the schemas
    at read time (missing columns surface as NULL). At 100 TB prefer a
    table-format catalog schema over per-read footer merging — this op
    verifies the read semantics the engine guarantees either way."""
    out = scratch_dir(f"schema_evo_{os.path.basename(os.path.abspath(sf_dir))}")
    o = t(spark, sf_dir, "orders")
    old = o.filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey", F.round("o_totalprice", 6).alias("o_totalprice")
    )
    new = o.filter(F.col("o_orderstatus") == "O").select(
        "o_orderkey", F.round("o_totalprice", 6).alias("o_totalprice"), "o_orderpriority"
    )
    old.write.mode("overwrite").parquet(os.path.join(out, "batch=1"))
    new.write.mode("overwrite").parquet(os.path.join(out, "batch=2"))
    merged = spark.read.option("mergeSchema", "true").option("recursiveFileLookup", "true").parquet(out)
    return merged.groupBy(
        F.coalesce("o_orderpriority", F.lit("MISSING")).alias("priority")
    ).agg(
        F.count("*").alias("n_rows"),
        dsum(F.col("o_totalprice")).alias("sum_total"),
    )


@register("scan_csv_malformed", oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation")
def scan_csv_malformed(spark, sf_dir):
    """Resilient CSV ingest: PERMISSIVE mode routes malformed lines
    (wrong arity / unparseable types — injected every 10th row here)
    into a corrupt-record column instead of failing the scan; the query
    then keeps clean rows only. At 100 TB some dirty line always exists,
    so fail-the-stage is not an option and silently-drop loses audit —
    the corrupt column gives per-row lineage. Oracle: the clean nation
    table (exactly what must survive). The parsed rows are materialized
    before the ``_corrupt`` filter: a query that reads only the corrupt
    column (``.count()``'s pruned scan) is refused by Spark."""
    out = scratch_dir("csv_malformed")
    path = os.path.join(out, "nation_dirty.csv")
    rows = (
        t(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()  # 25-row dim: driver-side fixture staging only
    )
    with open(path, "w") as f:
        f.write("n_nationkey,n_name,n_regionkey\n")
        for i, r in enumerate(rows):
            f.write(f"{r.n_nationkey},{r.n_name},{r.n_regionkey}\n")
            if i % 10 == 0:
                f.write(f"not_an_int,BROKEN{i}\n")
    df = ckpt(
        spark.read.schema(
            "n_nationkey bigint, n_name string, n_regionkey bigint, _corrupt string"
        )
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(path)
    )
    return df.filter(F.col("_corrupt").isNull()).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


@register(
    "scan_binary_files",
    oracle="""
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes, sha256(text) AS content_sha
FROM documents ORDER BY doc_id LIMIT 8
""",
)
def scan_binary_files(spark, sf_dir):
    """Opaque-binary ingest — the multimodal on-ramp: spark.read.format
    ('binaryFile') lists a directory tree on the driver but reads file
    CONTENT on executors (one task per file, pathGlobFilter pruning the
    listing), which is how image/audio corpora enter the engine before
    the mm_* decode/feature ops take over. Integrity is the oracle:
    sha-256 of each ingested blob must equal the hash DuckDB computes
    from the source rows the fixtures were staged from."""
    out = scratch_dir(f"binfiles_{os.path.basename(os.path.abspath(sf_dir))}")
    docs = (
        t(spark, sf_dir, "documents")
        .orderBy("doc_id")
        .limit(8)
        .select("doc_id", "text")
        .collect()  # 8-row fixture staging only
    )
    for r in docs:
        with open(os.path.join(out, f"doc_{r.doc_id:09d}.bin"), "wb") as f:
            f.write(r.text.encode("utf-8"))
    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "doc_*.bin")
        .load(out)
    )
    return df.select(
        F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin", 1).cast("bigint").alias("doc_id"),
        F.col("length").alias("n_bytes"),
        F.sha2(F.col("content"), 256).alias("content_sha"),
    )


@register(
    "scan_recursive_glob",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def scan_recursive_glob(spark, sf_dir):
    """Nested-layout ingest: recursiveFileLookup walks arbitrary
    directory depth (vendor drops, date trees that aren't hive-style
    key=value) without partition discovery. The listing is
    driver-parallelized but each file still reads executor-side. Staged
    here as two nested batches whose union must equal the source table."""
    base = scratch_dir(f"nested_{os.path.basename(os.path.abspath(sf_dir))}")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name", "n_regionkey")
    n.filter(F.col("n_nationkey") % 2 == 0).write.mode("overwrite").parquet(
        os.path.join(base, "2024", "batch_a")
    )
    n.filter(F.col("n_nationkey") % 2 == 1).write.mode("overwrite").parquet(
        os.path.join(base, "2024", "batch_b")
    )
    return (
        spark.read.option("recursiveFileLookup", "true")
        .schema("n_nationkey bigint, n_name string, n_regionkey bigint")
        .parquet(base)
    )


@register(
    "join_dpp",
    oracle="""
WITH dim AS (
  SELECT CAST(DATE '2024-01-01' + INTERVAL (3 * i) DAY AS DATE) AS report_day
  FROM (SELECT unnest(range(0, 8)) AS i)
  WHERE i % 2 = 0
)
SELECT d.report_day, COUNT(*) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM events e JOIN dim d ON CAST(e.ts AS DATE) = d.report_day
GROUP BY d.report_day
""",
)
def join_dpp(spark, sf_dir):
    """DYNAMIC partition pruning — the static-pruning sibling for when
    the day list isn't a literal: the fact side is day-partitioned, the
    dim side (a generated reporting-day spine) is only known at runtime,
    and Spark injects the dim's broadcast result as a partition filter
    into the fact scan (dynamicpruning#… in the plan) — so the fact
    table still reads 4 directories, not all of them, exactly as if the
    days had been hard-coded. THE mechanism that makes star-join ×
    date-partitioned-fact viable at 100 TB."""
    out = scratch_dir(f"events_by_day_{os.path.basename(os.path.abspath(sf_dir))}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        (
            t(spark, sf_dir, "events")
            .withColumn("day", day_of())
            .write.mode("overwrite")
            .partitionBy("day")
            .parquet(out)
        )
    fact = spark.read.parquet(out)
    # The dim-side FILTER is what arms DPP (Spark requires a selective
    # predicate on the build side before it injects the runtime prune).
    dim = (
        spark.range(0, 8)
        .filter(F.col("id") % 2 == 0)
        .select(
            F.date_add(F.lit("2024-01-01").cast("date"), (F.col("id") * 3).cast("int")).alias(
                "report_day"
            )
        )
    )
    return (
        fact.join(F.broadcast(dim), fact["day"] == dim["report_day"])
        .groupBy("report_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("sum_value"),
        )
    )


@register(
    "scan_file_provenance",
    oracle="SELECT CAST(4 AS BIGINT) AS n_files, COUNT(*) AS n_rows FROM events",
)
def scan_file_provenance(spark, sf_dir):
    """File-provenance via the hidden _metadata column — per-row lineage
    back to the physical file (the audit primitive for bad-batch
    quarantine: find the FILE, not just the row). Events staged as a
    4-way hash-repartitioned write; grouping the hidden
    _metadata.file_path must then see exactly 4 distinct files covering
    every row — if the metadata column were broken or rows lost lineage,
    the distinct-file count or row total would drift from the oracle's
    expectation. File NAMES are write-nondeterministic, so the contract
    is counts, not paths."""
    out = scratch_dir(f"prov_{os.path.basename(os.path.abspath(sf_dir))}")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        (
            t(spark, sf_dir, "events")
            .repartition(4, "user_id")
            .write.mode("overwrite")
            .parquet(out)
        )
    df = spark.read.parquet(out).select(F.col("_metadata.file_path").alias("fp"))
    return df.agg(
        F.countDistinct("fp").cast("bigint").alias("n_files"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "scan_snapshot_diff",
    oracle="""
WITH old AS (
    SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders WHERE o_orderkey % 10 != 0
), new AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 7 = 0 THEN ROUND(o_totalprice * 1.1, 2)
                ELSE o_totalprice END AS o_totalprice,
           o_orderstatus
    FROM orders WHERE o_orderkey % 10 != 1
)
SELECT CASE WHEN o.o_orderkey IS NULL THEN 'added'
            WHEN n.o_orderkey IS NULL THEN 'removed'
            WHEN o.o_totalprice != n.o_totalprice
                 OR o.o_orderstatus != n.o_orderstatus THEN 'changed'
            ELSE 'unchanged' END AS change_kind,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
GROUP BY 1
""",
)
def scan_snapshot_diff(spark, sf_dir):
    """Snapshot diff — the lakehouse audit between two versions of a
    table (deterministic stand-ins: version A drops keys ≡0 mod 10,
    version B drops ≡1 and reprices ≡0 mod 7): classify every key as
    added / removed / changed / unchanged with ONE full-outer hash join
    on the primary key and a count rollup. At 100 TB both snapshots
    are bucketed by the key, so the diff is a co-partitioned join with
    no shuffle of either snapshot — the shape behind CDC backfills,
    reconciliation gates, and incremental-publish manifests."""
    od = t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice", "o_orderstatus")
    old = od.filter(F.col("o_orderkey") % 10 != 0)
    new = od.filter(F.col("o_orderkey") % 10 != 1).select(
        "o_orderkey",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
        "o_orderstatus",
    )
    o = old.alias("o")
    n = new.alias("n")
    kind = (
        F.when(F.col("o.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(
            (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
            | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        o.join(n, F.col("o.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
        .groupBy(kind.alias("change_kind"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
    )


@register(
    "scan_metadata_cols",
    oracle="""
SELECT CAST(l_returnflag AS VARCHAR) AS l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(1 AS BIGINT) AS n_files,
       TRUE AS rowidx_ok,
       TRUE AS size_ok
FROM lineitem GROUP BY l_returnflag
""",
)
def scan_metadata_cols(spark, sf_dir):
    """The `_metadata` hidden-column surface — file path, size, and
    row_index exposed by the parquet reader, the hooks a 100 TB pipeline
    uses for per-file lineage, quarantine, and incremental reprocessing
    without a separate manifest. Stage: lineitem repartitioned BY the
    partition key before a partitionBy write, so each flag lands in
    exactly one task → exactly one file (deterministic n_files = 1).
    Read back with _metadata and verify per partition: row counts (exact
    vs oracle), file count (exact), row_index forming a dense 0..n-1
    range per file, and a positive on-disk size — the latter two as
    Spark-side ok-flags vs literal TRUE (file bytes aren't
    SQL-recomputable)."""
    out = scratch_dir("scan_metadata_cols")
    (
        t(spark, sf_dir, "lineitem")
        .repartition("l_returnflag")
        .write.mode("overwrite")
        .partitionBy("l_returnflag")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.file_size").alias("fs"),
        F.col("_metadata.row_index").alias("ri"),
    )
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.countDistinct("fp").cast("bigint").alias("n_files"),
        (
            (F.min("ri") == 0)
            & (F.max("ri") == F.count(F.lit(1)) - 1)
            & (F.countDistinct("ri") == F.count(F.lit(1)))
        ).alias("rowidx_ok"),
        (F.min("fs") > 0).alias("size_ok"),
    )


@register(
    "scan_ignore_corrupt_files",
    oracle="""
SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM customer GROUP BY 1
""",
)
def scan_ignore_corrupt_files(spark, sf_dir):
    """Corrupt-object tolerance — at 100 TB some object in the lake IS
    truncated or botched mid-upload, and a full-job abort on one bad
    file is not an option. Stage: the customer table written as parquet
    plus one deliberately corrupt file (parquet magic, garbage body)
    dropped into the same directory; read back with
    `spark.sql.files.ignoreCorruptFiles=true` (set per-read via the
    DataFrameReader option, not session-wide) and verify the good rows
    all survive. The oracle recomputes the expected per-segment counts
    from the source — a reader that silently dropped VALID rows along
    with the corrupt file would flip the hash."""
    out = scratch_dir("scan_ignore_corrupt")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cust.write.mode("overwrite").parquet(out)
    import os

    with open(os.path.join(out, "part-corrupt.parquet"), "wb") as fh:
        fh.write(b"PAR1" + b"\x00garbage-not-a-footer" * 8)
    back = (
        spark.read.option("ignoreCorruptFiles", "true").parquet(out)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )


@register(
    "scan_path_glob_filter",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM orders GROUP BY 1
""",
)
def scan_path_glob_filter(spark, sf_dir):
    """pathGlobFilter selectivity — a landing directory always collects
    junk (_SUCCESS markers, .tmp uploads, sidecar manifests); the glob
    filter makes the reader IGNORE everything but the data pattern
    without a pre-listing job. Stage: orders as parquet plus three junk
    files; read back with pathGlobFilter='*.parquet' and the priority
    profile must hash-match the clean source — junk leaking into the
    scan or data files skipped both flip it."""
    import os

    out = scratch_dir("scan_path_glob")
    t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority").write.mode(
        "overwrite"
    ).parquet(out)
    for junk in ("_STARTED.manifest", "upload.tmp", "notes.txt"):
        with open(os.path.join(out, junk), "w") as fh:
            fh.write("not data\n")
    back = spark.read.option("pathGlobFilter", "*.parquet").parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )


@register(
    "sink_compact_small_files",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum,
       TRUE AS compacted
FROM orders GROUP BY 1
""",
)
def sink_compact_small_files(spark, sf_dir):
    """Small-file compaction — the lake-maintenance job every 100 TB
    table needs on a schedule: streaming/incremental writers leave
    thousands of KB-sized files, and scan cost at scale is dominated
    by file-open overhead until someone rewrites them. Stage: orders
    deliberately fragmented (repartition(64) on write), then compacted
    with a repartition(4) rewrite to a second location. The CONTENT
    contract is oracle-matched (per-priority counts + key sums survive
    the rewrite bit-exactly); the `compacted` flag asserts Spark-side
    that the rewrite actually reduced the file count ≥ 8× — a rewrite
    that silently kept the fragmentation (or dropped rows) flips the
    hash either way. In production the same two-liner runs per
    partition with a manifest swap; repartition-by-size is the knob."""
    import glob
    import os

    frag = scratch_dir("compact_frag")
    comp = scratch_dir("compact_out")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    spark.read.parquet(frag).repartition(4).write.mode("overwrite").parquet(comp)
    n_frag = len(glob.glob(os.path.join(frag, "part-*.parquet")))
    n_comp = len(glob.glob(os.path.join(comp, "part-*.parquet")))
    back = spark.read.parquet(comp)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("o_custkey").cast("bigint").alias("cust_sum"),
        F.lit(n_frag >= 8 * n_comp).alias("compacted"),
    )


@register(
    "sink_dynamic_partition_overwrite",
    oracle="""
WITH days AS (
    SELECT CAST(ts AS DATE) AS day, user_id, value FROM events
), expected AS (
    SELECT day, user_id, value * 2 AS value FROM days WHERE day <= DATE '2024-01-10'
    UNION ALL
    SELECT day, user_id, value FROM days WHERE day > DATE '2024-01-10'
)
SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(FLOOR(value * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6, 6) AS sum_value
FROM expected GROUP BY day
""",
)
def sink_dynamic_partition_overwrite(spark, sf_dir):
    """Dynamic partition overwrite — THE incremental-load write mode: a
    daily restatement job must replace ONLY the partitions it touches
    and leave every other day's files alone (static overwrite mode
    would wipe the whole table — the classic production incident).
    Stage: events written partitioned by day; then a restatement of
    days ≤ Jan 10 (values doubled) written with
    partitionOverwriteMode=dynamic; read back. The oracle computes the
    spliced expectation — doubled early days + untouched late days —
    so BOTH failure modes flip the hash: wiping untouched partitions
    (missing rows) or appending instead of replacing (doubled rows).
    The mode is set per-write via the session conf the writer reads;
    at 100 TB this is the idempotent backfill primitive."""
    out = scratch_dir("dyn_part_overwrite")
    e = t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id", "value"
    )
    e.write.mode("overwrite").partitionBy("day").parquet(out)
    restate = e.filter(F.col("day") <= F.lit("2024-01-10").cast("date")).select(
        "day", "user_id", (F.col("value") * 2).alias("value")
    )
    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        restate.write.mode("overwrite").partitionBy("day").parquet(out)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    back = spark.read.parquet(out)
    return back.groupBy("day").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.round(
            qsum(F.col("value")),
            6,
        ).alias("sum_value"),
    )


@register(
    "scan_orphan_files",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS orphans_found
FROM orders GROUP BY 1
""",
)
def scan_orphan_files(spark, sf_dir):
    """Orphan-file vacuum audit — the third leg of the lake-maintenance
    triad (with sink_compact_small_files and
    sink_dynamic_partition_overwrite): failed/zombie writers leave
    data files no manifest references, silently billing storage and —
    worse — re-appearing if someone lists the directory instead of the
    manifest. Stage: orders written to a directory, a MANIFEST of the
    legitimate files captured via the binaryFile metadata source, then
    two orphans dropped in; the audit anti-joins the directory listing
    against the manifest (two metadata-only scans — no data bytes
    read) and the `orphans_found` flag asserts exactly the staged
    orphans surface. The CONTENT contract proves the manifest-filtered
    read returns precisely the legitimate rows — orphans leaking into
    the scan flip the per-priority counts."""
    import os

    out = scratch_dir("orphan_audit")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    o.write.mode("overwrite").parquet(out)
    manifest = {
        r.path
        for r in spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(out)
        .select("path")
        .collect()
    }
    for junk in ("part-zombie-1.parquet", "part-zombie-2.parquet"):
        with open(os.path.join(out, junk), "wb") as fh:
            fh.write(b"PAR1\x00not-a-real-footer")
    listing = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .load(out)
        .select("path")
    )
    orphans = [r.path for r in listing.collect() if r.path not in manifest]
    legit = spark.read.parquet(*sorted(manifest))
    return legit.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(
            len(orphans) == 2 and all("zombie" in p for p in orphans)
        ).alias("orphans_found"),
    )


@register(
    "sink_compression_codecs",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS zstd_beats_uncompressed,
       TRUE AS snappy_beats_uncompressed,
       TRUE AS roundtrip_ok
FROM orders GROUP BY 1
""",
)
def sink_compression_codecs(spark, sf_dir):
    """Compression-codec bake-off — the storage decision every lake
    makes once and bills for forever: the same orders slice written
    as zstd, snappy, and uncompressed parquet, with the MEASURED byte
    totals driving the flags (both codecs must beat uncompressed —
    a codec path that silently falls back to plain flips the hash)
    and the zstd read-back driving the content contract (per-priority
    counts hash-match the source, so the round trip is lossless).
    At 100 TB the same probe on a representative partition is how the
    zstd-level/snappy tradeoff should be decided — measured on YOUR
    data, not a blog post's."""
    import glob
    import os

    sizes = {}
    outs = {}
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    for codec in ("zstd", "snappy", "uncompressed"):
        out = scratch_dir(f"codec_{codec}")
        o.write.mode("overwrite").option("compression", codec).parquet(out)
        sizes[codec] = sum(
            os.path.getsize(p) for p in glob.glob(os.path.join(out, "part-*.parquet"))
        )
        outs[codec] = out
    back = spark.read.parquet(outs["zstd"])
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(sizes["zstd"] < sizes["uncompressed"]).alias("zstd_beats_uncompressed"),
        F.lit(sizes["snappy"] < sizes["uncompressed"]).alias(
            "snappy_beats_uncompressed"
        ),
        F.lit(True).alias("roundtrip_ok"),
    )


@register(
    "scan_rowgroup_stats",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS total_rows,
       MIN(o_orderkey) AS min_orderkey,
       MAX(o_orderkey) AS max_orderkey,
       TRUE AS footers_only
FROM orders
""",
)
def scan_rowgroup_stats(spark, sf_dir):
    """Parquet footer audit — row-group statistics read WITHOUT touching
    data pages: file paths are distributed as rows and each executor
    opens only the footer via pyarrow (metadata-only I/O, a few KB per
    file regardless of file size). The footer-claimed totals (sum of
    row-group num_rows, min/max of the o_orderkey column-chunk stats)
    must equal what a full scan computes — THE invariant zone-map
    pruning depends on, because a wrong footer silently drops rows
    from every min/max-pruned query. At 100 TB this is the layout
    health check you run after every compaction: thousands of footers
    in parallel, zero data pages read. (On a DFS the executor open()
    goes through fsspec/hadoop instead of the local path — same plan.)"""
    import glob as _glob

    import pandas as pd

    path = os.path.join(sf_dir, "orders.parquet")
    files = sorted(_glob.glob(os.path.join(path, "*.parquet"))) if os.path.isdir(path) else [path]
    paths_df = spark.createDataFrame([(p,) for p in files], "path string").repartition(
        max(1, len(files))
    )

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["o_orderkey"]
                for rg in range(md.num_row_groups):
                    col = md.row_group(rg).column(idx)
                    st = col.statistics
                    out.append((p, rg, md.row_group(rg).num_rows, st.min, st.max))
            yield pd.DataFrame(out, columns=["path", "rg", "n_rows", "k_min", "k_max"])

    rgs = paths_df.mapInPandas(
        read_footers, "path string, rg int, n_rows long, k_min long, k_max long"
    )
    return rgs.agg(
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.min("k_min").alias("min_orderkey"),
        F.max("k_max").alias("max_orderkey"),
        F.lit(True).alias("footers_only"),
    )


@register(
    "sink_clustered_write",
    oracle="""
SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS ranges_disjoint
FROM lineitem GROUP BY l_returnflag
""",
)
def sink_clustered_write(spark, sf_dir):
    """Clustered (sort-ordered) write — the layout that makes zone maps
    WORK: lineitem range-partitioned then sorted by l_shipdate within
    each output file, so every file owns a disjoint shipdate range and
    any date-predicate scan can skip whole files/row groups off the
    footer alone. The per-file min/max shipdates are read back
    footer-only (pyarrow, no data pages) and checked pairwise
    disjoint — if the ranges overlap the clustering silently degraded
    and pruning stops paying. Content contract: per-returnflag counts
    of the read-back must hash-match the source. At 100 TB this
    repartitionByRange+sortWithinPartitions pass is the standard
    compaction job; the disjointness audit is how you PROVE the
    layout held (writer-side range partitioning guarantees it by
    construction — sampled split points are total-order cuts)."""
    out = scratch_dir(f"clustered_{os.path.basename(os.path.abspath(sf_dir))}")
    li = t(spark, sf_dir, "lineitem").select("l_returnflag", "l_shipdate")
    (
        li.repartitionByRange(4, "l_shipdate")
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite")
        .parquet(out)
    )
    import glob as _glob

    ranges = []
    for p in sorted(_glob.glob(os.path.join(out, "part-*.parquet"))):
        import pyarrow.parquet as pq

        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}["l_shipdate"]
        stats = [md.row_group(rg).column(idx).statistics for rg in range(md.num_row_groups)]
        if stats:
            ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    ranges.sort()
    disjoint = all(ranges[i][1] <= ranges[i + 1][0] for i in range(len(ranges) - 1))
    back = spark.read.parquet(out)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(bool(disjoint and len(ranges) >= 2)).alias("ranges_disjoint"),
    )


@register(
    "sink_bloom_filter_parquet",
    oracle="""
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       TRUE AS bloom_adds_bytes, TRUE AS roundtrip_ok
FROM orders GROUP BY 1
""",
)
def sink_bloom_filter_parquet(spark, sf_dir):
    """Parquet bloom-filter write — the third layout lever after
    clustering (sink_clustered_write) and codecs
    (sink_compression_codecs): zone maps prune RANGES, but a bloom
    filter prunes point lookups on high-cardinality columns where
    min/max spans everything (user ids, order keys) — the row group
    is skipped when the filter says 'definitely not here'. Written
    with parquet.bloom.filter.enabled and a sized expected NDV
    (undersized NDV saturates the filter to all-yes and silently
    stops pruning). This parquet-mr build ignores the per-column
    `enabled#col` syntax (probed: zero size delta), so the GLOBAL
    switch is used on a projection holding only the probe columns —
    which is also the scale-correct scoping, since bloom bytes are
    paid per enabled column. The MEASURED contract: the bloom-enabled file
    must be LARGER than the identical plain write (this pyarrow build
    exposes no footer bloom offsets, so the size delta is the
    honest observable — a codec path that silently drops the filter
    flips the flag), and the read-back per-priority counts must
    hash-match the source. At 100 TB this is written once per
    compaction and saves a row-group read on every point probe."""
    import glob as _glob

    o = t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    sizes = {}
    for variant, opts in (
        ("plain", {}),
        (
            "bloom",
            {
                "parquet.bloom.filter.enabled": "true",
                "parquet.bloom.filter.expected.ndv": "100000",
            },
        ),
    ):
        out = scratch_dir(f"bloom_{variant}_{os.path.basename(os.path.abspath(sf_dir))}")
        w = o.write.mode("overwrite")
        for k, v in opts.items():
            w = w.option(k, v)
        w.parquet(out)
        sizes[variant] = sum(
            os.path.getsize(p) for p in _glob.glob(os.path.join(out, "part-*.parquet"))
        )
        if variant == "bloom":
            back = spark.read.parquet(out)
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.lit(sizes["bloom"] > sizes["plain"]).alias("bloom_adds_bytes"),
        F.lit(True).alias("roundtrip_ok"),
    )


@register(
    "scan_cdc_apply",
    oracle="""
WITH log AS (
    SELECT o_orderkey AS k, 1 AS seq, 'I' AS op, o_totalprice AS price FROM orders
    UNION ALL
    SELECT o_orderkey, 2, 'U', o_totalprice + 100.0 FROM orders WHERE o_orderkey % 7 = 0
    UNION ALL
    SELECT o_orderkey, 3, 'D', NULL FROM orders WHERE o_orderkey % 11 = 0
), last AS (
    SELECT k, seq, op, price,
           ROW_NUMBER() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
    FROM log
)
SELECT k AS o_orderkey, ROUND(price, 6) AS final_price, CAST(seq AS BIGINT) AS last_seq
FROM last WHERE rn = 1 AND op <> 'D'
""",
)
def scan_cdc_apply(spark, sf_dir):
    """CDC changelog application — the ingest half of every lakehouse
    mirror: a sequenced insert/update/delete stream (here derived
    deterministically from orders: full insert load, a price
    correction for keys ≡0 mod 7, a deletion for keys ≡0 mod 11 —
    the scan_snapshot_diff stand-in convention) collapsed to the
    final table state by LAST-WINS PER KEY in sequence order, with
    tombstones dropped. This is sink_upsert's MERGE generalized to a
    multi-operation ordered log — exactly what a Debezium/binlog feed
    replays. Plan shape: one union (no join — the log is one stream),
    one key-partitioned window to pick max-seq, one filter; at 100 TB
    the window shuffle is the only data-sized cost, and in production
    the same pass lands on a key-bucketed table so the next increment
    co-partitions. Out-of-order capture is the failure mode this op's
    explicit seq column guards against — replaying on arrival order
    instead silently resurrects deleted keys."""
    o = t(spark, sf_dir, "orders")
    log = (
        o.select(
            F.col("o_orderkey").alias("k"),
            F.lit(1).alias("seq"),
            F.lit("I").alias("op"),
            F.col("o_totalprice").alias("price"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 7 == 0).select(
                F.col("o_orderkey").alias("k"),
                F.lit(2).alias("seq"),
                F.lit("U").alias("op"),
                (F.col("o_totalprice") + 100.0).alias("price"),
            )
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 11 == 0).select(
                F.col("o_orderkey").alias("k"),
                F.lit(3).alias("seq"),
                F.lit("D").alias("op"),
                F.lit(None).cast("double").alias("price"),
            )
        )
    )
    w = Window.partitionBy("k").orderBy(F.desc("seq"))
    return (
        log.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            F.col("k").alias("o_orderkey"),
            F.round("price", 6).alias("final_price"),
            F.col("seq").cast("bigint").alias("last_seq"),
        )
    )


@register(
    "sink_zorder_write",
    oracle="""
WITH base AS (
  SELECT o_custkey AS ck, epoch_us(o_orderdate) // 86400000000 AS dy
  FROM orders
), mm AS (
  SELECT MIN(ck) AS minc, MAX(ck) AS maxc, MIN(dy) AS mind, MAX(dy) AS maxd
  FROM base
), coded AS (
  SELECT ck, dy,
         ((ck - mm.minc) * 16) // (mm.maxc - mm.minc + 1) AS bc,
         ((dy - mm.mind) * 16) // (mm.maxd - mm.mind + 1) AS bd,
         mm.minc, mm.maxc, mm.mind, mm.maxd
  FROM base, mm
), quads AS (
  SELECT CAST(2 * (bd // 8) + (bc // 8) AS INT) AS quad,
         ck, dy, minc, maxc, mind, maxd
  FROM coded
)
SELECT quad, CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(MAX(ck) - MIN(ck) AS DOUBLE)
             / (MAX(maxc) - MAX(minc)), 6) AS ck_span_frac,
       ROUND(CAST(MAX(dy) - MIN(dy) AS DOUBLE)
             / (MAX(maxd) - MAX(mind)), 6) AS day_span_frac,
       (CAST(MAX(ck) - MIN(ck) AS DOUBLE) / (MAX(maxc) - MAX(minc)) <= 0.55
        AND CAST(MAX(dy) - MIN(dy) AS DOUBLE) / (MAX(maxd) - MAX(mind)) <= 0.55)
           AS zorder_bounded
FROM quads GROUP BY quad
""",
)
def sink_zorder_write(spark, sf_dir):
    """Z-order (Morton-curve) clustered write — the MULTI-dimensional
    layout lever: sink_clustered_write's 1-D sort makes zone maps
    perfect on ONE column and useless on every other, while
    interleaving the bits of (custkey-bucket, order-day-bucket) gives
    every file a bounded min/max span on BOTH dimensions (~half the
    global range per 4-way split instead of all of it) — so point and
    range predicates on EITHER column skip files off the footer. This
    is the Delta/Iceberg OPTIMIZE ZORDER technique expressed in plain
    Spark: 16×16 range buckets → 8-bit Morton code via pure bit
    arithmetic in codegen → partitionBy on the code's top-2-bit
    quadrant + sortWithinPartitions(morton). The audit is honest: the
    per-quadrant min/max/count come back from the written parquet
    FOOTERS (pyarrow, no data pages), and — because bucketing is
    exact integer arithmetic — the DuckDB twin recomputes the
    identical quadrant assignment from raw data, so this is a FULL
    value twin, not an ok-flag anchor. At 100 TB this is the standard
    compaction job shape: one repartition by quadrant, file-local
    sort, bounded driver-side footer sweep."""
    import glob as _glob

    import pyarrow.parquet as pq

    o = t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("ck"),
        F.floor(
            F.expr(
                "timestampdiff(MICROSECOND, timestamp_ntz '1970-01-01', o_orderdate)"
            )
            / F.lit(86400000000)
        ).alias("dy"),
    )
    # Integer `div` (not float `/`+floor): bit-identical to DuckDB's `//`
    # at any magnitude — float division can flip a bucket at an exact
    # boundary once keys outgrow the 2^53 exact-double range.
    coded = with_stats(
        o,
        F.min("ck").alias("minc"),
        F.max("ck").alias("maxc"),
        F.min("dy").alias("mind"),
        F.max("dy").alias("maxd"),
    ).select(
        "ck",
        "dy",
        F.expr("CAST((ck - minc) * 16 div (maxc - minc + 1) AS INT)").alias("bc"),
        F.expr("CAST((dy - mind) * 16 div (maxd - mind + 1) AS INT)").alias("bd"),
    )
    spread = (
        "((({b} & 1)) | (({b} & 2) << 1) | (({b} & 4) << 2) | (({b} & 8) << 3))"
    )
    morton = F.expr(
        f"{spread.format(b='bc')} | ({spread.format(b='bd')} << 1)"
    ).cast("int")
    out = scratch_dir(f"zorder_{os.path.basename(os.path.abspath(sf_dir))}")
    (
        coded.select("ck", "dy", morton.alias("morton"))
        .withColumn("quad", F.shiftright("morton", 6).cast("int"))
        .repartition("quad")
        .sortWithinPartitions("morton")
        .write.mode("overwrite")
        .partitionBy("quad")
        .parquet(out)
    )
    stats = []
    for p in sorted(_glob.glob(os.path.join(out, "quad=*", "part-*.parquet"))):
        quad = int(p.split("quad=")[1].split(os.sep)[0])
        md = pq.ParquetFile(p).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            cs, ds = g.column(idx["ck"]).statistics, g.column(idx["dy"]).statistics
            stats.append((quad, g.num_rows, cs.min, cs.max, ds.min, ds.max))
    per_quad = {}
    for quad, n, cmin, cmax, dmin, dmax in stats:
        q = per_quad.setdefault(quad, [0, cmin, cmax, dmin, dmax])
        q[0] += n
        q[1], q[2] = min(q[1], cmin), max(q[2], cmax)
        q[3], q[4] = min(q[3], dmin), max(q[4], dmax)
    gminc = min(q[1] for q in per_quad.values())
    gmaxc = max(q[2] for q in per_quad.values())
    gmind = min(q[3] for q in per_quad.values())
    gmaxd = max(q[4] for q in per_quad.values())
    rows = [
        (quad, q[0], q[1], q[2], q[3], q[4])
        for quad, q in sorted(per_quad.items())
    ]
    audit = spark.createDataFrame(
        rows, "quad int, n_rows long, qminc long, qmaxc long, qmind long, qmaxd long"
    )
    ckf = (F.col("qmaxc") - F.col("qminc")).cast("double") / F.lit(gmaxc - gminc)
    dyf = (F.col("qmaxd") - F.col("qmind")).cast("double") / F.lit(gmaxd - gmind)
    return audit.select(
        "quad",
        F.col("n_rows").cast("bigint").alias("n_rows"),
        F.round(ckf, 6).alias("ck_span_frac"),
        F.round(dyf, 6).alias("day_span_frac"),
        ((ckf <= 0.55) & (dyf <= 0.55)).alias("zorder_bounded"),
    )


@register(
    "scan_partition_skew_audit",
    oracle="""
WITH parts AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM events GROUP BY 1
), stats AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_parts,
           CAST(SUM(n_rows) AS BIGINT) AS total_rows,
           CAST(MAX(n_rows) AS BIGINT) AS max_rows,
           CAST(MIN(n_rows) AS BIGINT) AS min_rows
    FROM parts
), gini AS (
    SELECT CAST(SUM(CAST((2 * rn - s.n_parts - 1) AS BIGINT) * n_rows) AS DOUBLE)
               / (s.n_parts * CAST(s.total_rows AS DOUBLE)) AS g
    FROM (SELECT n_rows, ROW_NUMBER() OVER (ORDER BY n_rows, event_type) AS rn
          FROM parts) r, stats s
    GROUP BY s.n_parts, s.total_rows
)
SELECT s.n_parts, s.total_rows,
       FLOOR(CAST(s.max_rows AS DOUBLE) / (CAST(s.total_rows AS DOUBLE) / s.n_parts)
             * 1000000 + 0.5) / 1000000 AS max_over_avg,
       FLOOR(CAST(s.max_rows AS DOUBLE) / s.min_rows * 1000000 + 0.5) / 1000000
           AS max_over_min,
       FLOOR(g.g * 1000000 + 0.5) / 1000000 AS gini_rows,
       TRUE AS one_file_per_partition
FROM stats s, gini g
""",
)
def scan_partition_skew_audit(spark, sf_dir):
    """Partition-layout skew audit — write events partitioned by
    event_type, then measure how unevenly the partitions landed:
    max/avg and max/min row ratios plus the Gini coefficient of
    partition sizes. This is the STORAGE-side health check every
    partitioned lake table needs (a skewed partition key turns one
    task into the straggler that dominates each downstream scan;
    at 100 TB a 10x hot partition IS the job's wall-clock). The audit
    reads ONLY the round-tripped layout: per-partition row counts come
    from the written files, the file-per-partition invariant from
    _metadata.file_path (the writer coalesces to one task so the file
    count is deterministic in-test; a production writer shards hot
    partitions instead — exactly what the ratios here would tell you
    to do). Gini via the exact integer rank identity sum((2i-n-1)x_i)
    / (n*total) — no floats until the final divisions."""
    from ._shared import scratch_dir

    out = scratch_dir("scan_partition_skew")
    ev = t(spark, sf_dir, "events").select("event_id", "event_type")
    ev.coalesce(1).write.mode("overwrite").partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).select(
        "event_type", F.col("_metadata.file_path").alias("fp")
    )
    parts = ckpt(
        back.groupBy("event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct("fp").cast("bigint").alias("n_files"),
        )
    )
    stats = parts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
        F.min("n_rows").cast("bigint").alias("min_rows"),
        F.max("n_files").cast("bigint").alias("max_files"),
    )
    ranked = parts.select(
        "n_rows",
        F.row_number().over(Window.orderBy(F.asc("n_rows"), F.asc("event_type"))).alias("rn"),
    )
    gini = (
        ranked.crossJoin(F.broadcast(stats.select("n_parts", "total_rows")))
        .agg(
            (
                F.sum((2 * F.col("rn") - F.col("n_parts") - 1).cast("bigint") * F.col("n_rows"))
                .cast("double")
                / F.first(F.col("n_parts") * F.col("total_rows").cast("double"))
            ).alias("g")
        )
    )
    return stats.crossJoin(F.broadcast(gini)).select(
        "n_parts",
        "total_rows",
        qround(
            F.col("max_rows").cast("double")
            / (F.col("total_rows").cast("double") / F.col("n_parts"))
        ).alias("max_over_avg"),
        qround(F.col("max_rows").cast("double") / F.col("min_rows")).alias("max_over_min"),
        qround(F.col("g")).alias("gini_rows"),
        (F.col("max_files") == 1).alias("one_file_per_partition"),
    )


def _cow_merge(spark, tbl, src_upd, src_del, src_ins):
    """The COW MERGE kernel over a ym-partitioned parquet dir at ``tbl``:
    touched-partition discovery → pruned rewrite → dynamic overwrite →
    stale-partition cleanup. Returns (re-read table, touched months).
    Factored out of ``sink_merge_into`` so the zero-survivor partition
    edge (untriggerable at fixture scale) is unit-testable directly."""
    stored = spark.read.parquet(tbl)
    # Touched-partition discovery: months holding a matched key, plus
    # months receiving inserts. The source key set is CDC-batch-sized
    # (bounded), so it broadcasts; the target side is a column-pruned
    # scan of (o_orderkey, ym) only.
    src_keys = src_upd.select("o_orderkey").unionByName(src_del.select("o_orderkey"))
    touched = ckpt(  # bounded (months); read twice below
        stored.join(F.broadcast(src_keys), "o_orderkey", "left_semi")
        .select("ym")
        .unionByName(src_ins.select("ym"))
        .distinct()
    )
    # COW rewrite of ONLY the touched months: update via left join,
    # delete via anti join, insert via union — one keyed pass over the
    # touched slice, never the full table.
    rewrite = (
        stored.join(F.broadcast(touched), "ym", "left_semi")
        .join(F.broadcast(src_del), "o_orderkey", "left_anti")
        .join(F.broadcast(src_upd), "o_orderkey", "left")
        .select("o_orderkey", "ym", F.coalesce("new_price", "price").alias("price"))
        .unionByName(src_ins)
    )
    # Dynamic overwrite only replaces partitions the rewrite WRITES: a
    # touched month whose every row was deleted produces zero output
    # rows, its directory is never overwritten, and the pre-merge files
    # would survive — resurrecting deleted rows (ADVICE r7). A real
    # MERGE handles this in the manifest swap (the new snapshot simply
    # stops listing those files); the parquet-dir equivalent is to drop
    # the stale partition dirs. The surviving-month set MUST be computed
    # BEFORE the overwrite (its lineage reads the pre-merge files) and
    # is one extra column-pruned pass over the touched slice — bounded
    # by CDC-batch scale, not table scale; the collects are O(months).
    surviving = {r["ym"] for r in rewrite.select("ym").distinct().collect()}
    emptied = [r["ym"] for r in touched.collect() if r["ym"] not in surviving]

    # The cleanup path is built from DATA-derived partition values, so
    # validate the YYYY-MM shape before it ever reaches the filesystem
    # (a hostile ym like '../x' must fail the merge, not escape the
    # table dir), and fail LOUDLY on a cleanup error — ignore_errors
    # would leave silently resurrected rows (ADVICE r8). A crash
    # between the overwrite commit and this cleanup still leaves the
    # emptied dirs behind (the no-manifest COW emulation's inherent
    # non-atomicity — a real table format drops them in the snapshot
    # swap); the validation + raise make that window detectable.
    bad = [ym for ym in emptied if not re.fullmatch(r"\d{4}-\d{2}", str(ym))]
    if bad:
        raise ValueError(f"refusing COW cleanup of non-YYYY-MM partitions: {bad}")

    old_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        rewrite.write.mode("overwrite").partitionBy("ym").parquet(tbl)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old_mode)
    for ym in emptied:
        path = os.path.join(tbl, f"ym={ym}")
        if os.path.isdir(path):  # absent = already dropped by the writer
            shutil.rmtree(path)  # raises on partial cleanup — never silent

    return spark.read.parquet(tbl), touched




@register(
    "sink_merge_into",
    oracle="""
WITH target AS (
    SELECT o_orderkey, strftime(o_orderdate, '%Y-%m') AS ym,
           ROUND(o_totalprice, 6) AS price
    FROM orders
), src_upd AS (
    SELECT o_orderkey, ROUND(o_totalprice * 1.1, 6) AS price
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-06-01' AND o_orderkey % 7 = 0
), src_del AS (
    SELECT o_orderkey FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-06-01' AND o_orderkey % 13 = 0
), src_ins AS (
    SELECT o_orderkey * 10 + 3 AS o_orderkey,
           strftime(o_orderdate, '%Y-%m') AS ym,
           ROUND(o_totalprice, 6) AS price
    FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01'
), touched AS (
    SELECT DISTINCT ym FROM target
    WHERE o_orderkey IN (SELECT o_orderkey FROM src_upd
                         UNION SELECT o_orderkey FROM src_del)
    UNION SELECT DISTINCT ym FROM src_ins
), merged AS (
    SELECT t.o_orderkey, t.ym,
           COALESCE(u.price, t.price) AS price
    FROM target t LEFT JOIN src_upd u USING (o_orderkey)
    WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM src_del)
    UNION ALL
    SELECT o_orderkey, ym, price FROM src_ins
)
SELECT m.ym, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_total,
       m.ym IN (SELECT ym FROM touched) AS was_rewritten
FROM merged m GROUP BY m.ym
""",
)
def sink_merge_into(spark, sf_dir):
    """Delta-shape ``MERGE INTO`` emulation over plain parquet — the
    copy-on-write MERGE a lakehouse runs for every CDC batch:
    WHEN MATCHED AND del → DELETE, WHEN MATCHED → UPDATE,
    WHEN NOT MATCHED → INSERT, rewriting ONLY the partitions the
    source touches (here: month partitions; the source is a
    late-1999+ key subset, so early months' files must survive
    untouched — static overwrite or a full-table rewrite flips the
    hash by losing or duplicating them).

    The plan is the production COW shape end-to-end: (1) target
    written month-partitioned; (2) touched months discovered via a
    key semi-join (the file-pruning step a real MERGE does with
    min/max stats — one broadcast of the bounded source key set);
    (3) only those months re-derived — target rows LEFT JOIN updates,
    anti-filtered on deletes, unioned with inserts — and written with
    partitionOverwriteMode=dynamic; (4) the table re-read and
    aggregated. At 100 TB step 2 is what keeps MERGE affordable: the
    rewrite cost scales with touched data, not table size. Delete
    beats update on key collision (%7 ∩ %13), matching MERGE clause
    order. The transactional manifest/snapshot layer itself is
    modeled separately by ``scan_iceberg_snapshot`` (manifest-as-
    parquet time travel); the data movement here is exactly what
    Delta's COW writer executes."""
    cutoff = F.lit("1999-06-01").cast("timestamp_ntz")
    o = t(spark, sf_dir, "orders")
    target = o.select(
        "o_orderkey",
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.round("o_totalprice", 6).alias("price"),
    )
    tbl = scratch_dir("merge_into_target")
    target.write.mode("overwrite").partitionBy("ym").parquet(tbl)

    src_upd = o.filter((F.col("o_orderdate") >= cutoff) & (F.col("o_orderkey") % 7 == 0)).select(
        "o_orderkey", F.round(F.col("o_totalprice") * 1.1, 6).alias("new_price")
    )
    src_del = o.filter((F.col("o_orderdate") >= cutoff) & (F.col("o_orderkey") % 13 == 0)).select(
        "o_orderkey"
    )
    src_ins = o.filter(F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp_ntz")).select(
        (F.col("o_orderkey") * 10 + 3).alias("o_orderkey"),
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.round("o_totalprice", 6).alias("price"),
    )

    back, touched = _cow_merge(spark, tbl, src_upd, src_del, src_ins)
    return (
        back.groupBy(F.col("ym").cast("string").alias("ym"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("price")).alias("sum_total"),
        )
        .join(F.broadcast(touched.withColumn("was_rewritten", F.lit(True))), "ym", "left")
        .select(
            "ym",
            "n_rows",
            "sum_total",
            F.coalesce("was_rewritten", F.lit(False)).alias("was_rewritten"),
        )
    )


@register(
    "scan_iceberg_snapshot",
    oracle="""
WITH base AS (
    SELECT o_orderkey, ROUND(o_totalprice, 6) AS price FROM orders
    WHERE o_orderdate < TIMESTAMP '2000-01-01'
), appended AS (
    SELECT o_orderkey, ROUND(o_totalprice, 6) AS price FROM orders
    WHERE o_orderdate >= TIMESTAMP '2000-01-01'
), v2 AS (
    SELECT * FROM base UNION ALL SELECT * FROM appended
)
SELECT 1 AS snapshot, CAST(4 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM base
UNION ALL
SELECT 2, CAST(6 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE)
FROM v2
UNION ALL
SELECT 3, CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE)
FROM v2
""",
)
def scan_iceberg_snapshot(spark, sf_dir):
    """Iceberg-style snapshot isolation emulated with manifests AS
    parquet — the table-format layer sink_merge_into's docstring
    declares out of scope, rebuilt from first principles on plain
    files (r7 verdict item 8): a snapshot IS its manifest (the list of
    data-file paths), not a directory listing. Three snapshots share
    one data tree:

        v1  base writer: 4 data files (orders before 2000)
        v2  APPEND: v1's manifest + 2 new files (orders 2000+) — the
            base files are never rewritten
        v3  COMPACTION: v1's 4 files rewritten as 1 + v2's appends —
            same table CONTENT as v2 through different files, the
            metadata-only swap that makes Iceberg compaction safe
            under concurrent readers

    Each manifest is itself a parquet of file paths (what Iceberg
    stores as avro manifests + manifest lists); "time travel" to
    snapshot s = read exactly the paths in manifest s. The reader
    proves isolation by counting DISTINCT _metadata.file_path inside
    the snapshot read: v1 must see 4 files — never the appended or
    compacted ones sharing the tree — and v3 sees 3 while
    hash-matching v2's rows exactly. At 100 TB the mechanics are
    identical: the manifest collect is O(files) (here: bounded
    driver-side path list; a real catalog hands the list to the scan
    planner), and readers never list directories, which is what makes
    snapshot reads O(manifest) instead of O(objects-in-bucket)."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round("o_totalprice", 6).alias("price"),
        F.col("o_orderdate"),
    )
    cutoff = F.lit("2000-01-01").cast("timestamp_ntz")
    tbl = scratch_dir("iceberg_snapshot")
    rows = "o_orderkey bigint, price double"

    def write(df, sub, n):
        """The URIs of ``df`` written as exactly ``n`` files."""
        return [_uri(tbl, p) for p in _write_slice(tbl, df.select("o_orderkey", "price"), sub, n)]

    def manifest(snap, uris):
        """Commit snapshot ``snap``'s manifest and read it back, as a
        reader resolves a snapshot: from its manifest, never a listing."""
        mpath = os.path.join(tbl, "manifests", f"v{snap}")
        spark.createDataFrame([(u,) for u in uris], "path string").write.mode(
            "overwrite"
        ).parquet(mpath)
        return [r["path"] for r in spark.read.schema("path string").parquet(mpath).collect()]

    b1 = write(o.filter(F.col("o_orderdate") < cutoff), "b1", 4)
    b2 = write(o.filter(F.col("o_orderdate") >= cutoff), "b2", 2)
    v1 = manifest(1, b1)
    # Compaction rewrites v1's content from v1's own manifest paths —
    # not from the filter predicate — exactly as a table service would.
    c1 = write(spark.read.schema(rows).parquet(*v1), "c1", 1)
    snapshots = {1: v1, 2: manifest(2, v1 + b2), 3: manifest(3, c1 + b2)}
    out = None
    for snap, paths in snapshots.items():
        agg = spark.read.schema(rows).parquet(*paths).agg(
            F.count_distinct(F.col("_metadata.file_path")).cast("bigint").alias("n_files"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("price")).alias("sum_total"),
        ).select(F.lit(snap).alias("snapshot"), "n_files", "n_rows", "sum_total")
        out = agg if out is None else out.unionByName(agg)
    return out


# ---------------------------------------------------------------------------
# The Delta transaction log, emulated on plain files for the five
# scan_delta_* ops (https://github.com/delta-io/delta/blob/master/PROTOCOL.md).
# A table dir holds parquet data files plus `_delta_log/`, whose commit v is
# the line-delimited JSON file `{v:020d}.json` of commitInfo + add/remove
# actions with paths RELATIVE to the table dir. The helpers below are the
# only spelling of that format: one writer, one reader, one fold.

# Every action field any op writes; a field an op never writes reads as
# null. A re-`add` may carry a deletionVector descriptor (storageType 'u' =
# path-referenced sidecar; cardinality = tombstones in THIS file).
DELTA_ACTION_SCHEMA = (
    "add struct<path:string,partitionValues:map<string,string>,size:bigint,"
    "dataChange:boolean,deletionVector:struct<storageType:string,"
    "pathOrInlineDv:string,cardinality:bigint>>, "
    "remove struct<path:string,dataChange:boolean>, "
    "commitInfo struct<operation:string,timestamp:bigint>"
)

# Commit times are deterministic, never wall clock: t_v = 2020-01-01T00:00Z
# + v days, in epoch ms (Delta's commitInfo.timestamp unit). Pure integers,
# so timestamp AS-OF resolution is session-timezone-independent.
_T0_MS, _DAY_MS = 1577836800000, 86400000


def _delta_table(name):
    """A fresh, empty table `scratch_dir(name)`; returns (tbl, log_dir)."""
    tbl = scratch_dir(name)
    log_dir = os.path.join(tbl, "_delta_log")
    shutil.rmtree(tbl, ignore_errors=True)
    os.makedirs(log_dir)
    return tbl, log_dir


def _log_file(log_dir, v, ext=".json"):
    """Commit v's file (or, with ext, its checkpoint): the path is
    constructed from the version number, never found by listing."""
    return os.path.join(log_dir, f"{v:020d}{ext}")


def _uri(tbl, rel):
    """A table-relative path as the `_metadata.file_path` a scan reports."""
    return "file:" + os.path.join(tbl, rel)


def _part_files(tbl, sub):
    """Table-relative paths of the parquet part files under data/<sub>,
    partition dirs included, listed on the driver: O(files) metadata the
    local fs already has, where a Spark read-back of the files just
    written was a whole extra scan job per slice (r13)."""
    return sorted(
        os.path.relpath(os.path.join(d, f), tbl)
        for d, _, names in os.walk(os.path.join(tbl, "data", sub))
        for f in names
        if f.startswith("part-") and f.endswith(".parquet")
    )


def _write_slice(tbl, df, sub, n):
    """Write `df` as exactly `n` parquet files under data/<sub> and return
    their table-relative paths. repartition(n) promises at most n
    non-empty files, not n, and the ops' oracles hard-code file counts: a
    slice too small or skewed to fill n files fails here, loudly, instead
    of flipping an oracle hash with no local diagnostic (ADVICE r10)."""
    df.repartition(n).write.mode("overwrite").parquet(os.path.join(tbl, "data", sub))
    files = _part_files(tbl, sub)
    if len(files) != n:
        raise AssertionError(
            f"fixture slice {sub}: expected {n} parquet files, got "
            f"{len(files)} — fixture too small/skewed for the hard-coded "
            f"file-count oracle"
        )
    return files


def _add(tbl, rel, data_change=True, **fields):
    """An add action; the size is read driver-side (O(files), the local-fs
    stand-in for what the writer's task commit reports). `fields`:
    partitionValues, deletionVector."""
    size = os.path.getsize(os.path.join(tbl, rel))
    return {"add": {"path": rel, "size": size, "dataChange": data_change, **fields}}


def _remove(rel, data_change=True):
    return {"remove": {"path": rel, "dataChange": data_change}}


def _commit(log_dir, v, op, actions):
    """Write commit v: its commitInfo, then `actions`."""
    info = {"commitInfo": {"operation": op, "timestamp": _T0_MS + v * _DAY_MS}}
    with open(_log_file(log_dir, v), "w") as f:
        f.write("".join(json.dumps(a) + "\n" for a in [info, *actions]))


def _actions(spark, paths):
    """One schema'd read of commit files (a log dir or a list of commit
    paths), O(actions): per action row the commit version parsed from
    its file name, the `path` it adds or removes (null on the commitInfo
    row), `is_add`, and the raw `add` and `commitInfo` structs."""
    return (
        spark.read.schema(DELTA_ACTION_SCHEMA)
        .json(paths)
        .select(
            F.regexp_extract("_metadata.file_path", r"(\d{20})\.json$", 1)
            .cast("bigint")
            .alias("version"),
            F.coalesce("add.path", "remove.path").alias("path"),
            F.col("add.path").isNotNull().alias("is_add"),
            "add",
            "commitInfo",
        )
    )


def _fold(actions, by=(), **carry):
    """The last-action-wins fold: per (*by, path) the action with the
    greatest (version, is_add) decides, and the path is live iff that is
    an add, so within one commit an add beats a remove of the same path
    (a deletion-vector update). Each `carry` column is taken from the
    winning add. Returns (*by, path, *carry) of the live paths.

    (version, is_add) is ordered as ONE bigint, 2·version + is_add: a
    primitive key keeps this a single hash aggregate over O(actions) rows
    (a struct key plans as a sort aggregate)."""
    key = F.col("version") * 2 + F.col("is_add").cast("bigint")
    return (
        actions.filter(F.col("path").isNotNull())
        .groupBy(*by, "path")
        .agg(
            F.max(key).alias("last"),
            *[F.max_by(c, key).alias(name) for name, c in carry.items()],
        )
        .filter(F.col("last") % 2 == 1)
        .select(*by, "path", *carry)
    )


def _write_checkpoint(spark, log_dir, n, size):
    """Fold commits 0..n once and persist the live (path, size) state as
    the checkpoint parquet at n, named by the `_last_checkpoint` pointer
    (`size` = its action count) — Delta's exact on-disk shape, and the
    only read of the pre-checkpoint log."""
    commits = [_log_file(log_dir, v) for v in range(n + 1)]
    live = _fold(_actions(spark, commits), size="add.size")
    live.write.mode("overwrite").parquet(_log_file(log_dir, n, ".checkpoint.parquet"))
    with open(os.path.join(log_dir, "_last_checkpoint"), "w") as f:
        f.write(json.dumps({"version": n, "size": size}))


def _state_at(spark, log_dir, m):
    """(state, n_opened): the (version, path, is_add) rows whose fold is
    version m, and the number of JSON commits read for them. After an
    O(1) pointer read, a version m >= the checkpoint's N is its adds
    (O(live files at N), entering as version N) plus commits N+1..m, so
    the read is O(m - N) however long the log before N. The checkpoint
    folds state AT N and cannot serve an earlier version: m < N replays
    commits 0..m."""
    with open(os.path.join(log_dir, "_last_checkpoint")) as f:
        n = json.loads(f.read())["version"]
    tail = [_log_file(log_dir, v) for v in range(n + 1 if m >= n else 0, m + 1)]
    parts = []
    if m >= n:
        # Schema'd: an inferred parquet schema costs a job per read.
        ckpt_adds = spark.read.schema("path string, size bigint").parquet(
            _log_file(log_dir, n, ".checkpoint.parquet")
        )
        parts.append(
            ckpt_adds.select(
                F.lit(n).cast("bigint").alias("version"), "path", F.lit(True).alias("is_add")
            )
        )
    if tail:
        parts.append(_actions(spark, tail).select("version", "path", "is_add"))
    return reduce(DataFrame.unionByName, parts), len(tail)


def _totals_by(spark, tbl, live, label):
    """n_files / n_rows / sum_total of the rows live at each `label` of a
    fold `live` (label, path). The (label, path) pairs are collected,
    O(labels x live files) — what a Delta client materializes for its
    scan planner. Each distinct live file is then scanned ONCE and its
    rows attributed to every label it is live at through a broadcast
    (file uri -> label) join (r13: a union of per-label aggregates
    re-read the shared files, the dominant cost at 100 TB). Readers never
    list data directories: a version read stays O(log)."""
    pairs = live.select(label, "path").collect()
    files = spark.createDataFrame(
        [(_uri(tbl, r["path"]), r[label]) for r in pairs], ["fp", label]
    )
    scan = spark.read.parquet(
        *sorted({os.path.join(tbl, r["path"]) for r in pairs})
    ).select("price", F.col("_metadata.file_path").alias("fp"))
    return (
        scan.join(F.broadcast(files), "fp")
        .groupBy(label)
        .agg(
            F.count_distinct("fp").cast("bigint").alias("n_files"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            dsum(F.col("price")).alias("sum_total"),
        )
    )


def _date_slice(spark, sf_dir, tbl, sub, n, lo=None, hi=None):
    """A thunk writing (o_orderkey, price) of the orders with
    lo <= o_orderdate < hi as n files."""
    d = F.col("o_orderdate")
    cond = F.lit(True)
    if lo:
        cond &= d >= F.lit(lo).cast("timestamp_ntz")
    if hi:
        cond &= d < F.lit(hi).cast("timestamp_ntz")
    df = t(spark, sf_dir, "orders").filter(cond).select(
        "o_orderkey", F.round("o_totalprice", 6).alias("price")
    )
    return lambda: _write_slice(tbl, df, sub, n)


def _compaction_log(spark, tbl, log_dir, base, appended):
    """Commits v0 WRITE `base` (4 files), v1 APPEND `appended`, and v2
    OPTIMIZE: remove x4 (the base files) + add x1, their rewrite
    (dataChange=false) — the same CONTENT as v1 through different files,
    the metadata-only swap. The rewrite reads v0's content from the log's
    live-file list (not from the slice predicate), as a real OPTIMIZE
    would. Returns the compacted file list."""
    compacted = _write_slice(
        tbl, spark.read.parquet(*[os.path.join(tbl, p) for p in base]), "c1", 1
    )
    _commit(log_dir, 0, "WRITE", [_add(tbl, p) for p in base])
    _commit(log_dir, 1, "APPEND", [_add(tbl, p) for p in appended])
    _commit(
        log_dir,
        2,
        "OPTIMIZE",
        [_remove(p, False) for p in base] + [_add(tbl, p, False) for p in compacted],
    )
    return compacted


def _four_commit_table(spark, sf_dir, name):
    """The table scan_delta_checkpoint and scan_delta_time_travel_ts read:

        v0  WRITE: add x4 (orders before 2000)
        v1  APPEND: add x2 (2000 <= orders < 2001)
        v2  OPTIMIZE: remove v0's 4 files + add x1 compacted
            (dataChange=false) -> live = 3 files
        --- checkpoint parquet at N=2 ---
        v3  APPEND: add x2 (orders >= 2001) -> live = 5 files

    Returns (tbl, log_dir)."""
    tbl, log_dir = _delta_table(name)
    # b1/b2/b3 are independent slices — written concurrently (r14, guide
    # §2.6; see _overlap_writes). c1 reads b1's files: it follows.
    base, appended, late = _overlap_writes(
        _date_slice(spark, sf_dir, tbl, "b1", 4, hi="2000-01-01"),
        _date_slice(spark, sf_dir, tbl, "b2", 2, lo="2000-01-01", hi="2001-01-01"),
        _date_slice(spark, sf_dir, tbl, "b3", 2, lo="2001-01-01"),
    )
    compacted = _compaction_log(spark, tbl, log_dir, base, appended)
    _commit(log_dir, 3, "APPEND", [_add(tbl, p) for p in late])
    _write_checkpoint(spark, log_dir, 2, len(appended) + len(compacted))
    return tbl, log_dir


@register(
    "scan_delta_log",
    oracle="""
WITH o AS (
    SELECT o_orderkey, ROUND(o_totalprice, 6) AS price, o_orderdate
    FROM orders
), base AS (
    SELECT * FROM o WHERE o_orderdate < TIMESTAMP '2000-01-01'
), v1 AS (
    SELECT * FROM o
)
SELECT CAST(0 AS BIGINT) AS version, CAST(4 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM base
UNION ALL
SELECT 1, CAST(6 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE)
FROM v1
UNION ALL
SELECT 2, CAST(3 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE)
FROM v1
""",
)
def scan_delta_log(spark, sf_dir):
    """Delta-style commit-log replay emulated on plain files — the
    COMMIT-LOG complement to scan_iceberg_snapshot's manifest model
    (r8 staged stretch): where Iceberg pins a snapshot to a manifest
    LIST, Delta derives it by FOLDING a `_delta_log/` of JSON commits
    (add/remove actions) in version order. Three commits share one
    data tree:

        v0  initial write: add x4 (orders before 2000)
        v1  APPEND: add x2 (orders 2000+) — base files untouched
        v2  OPTIMIZE/compaction: remove x4 (the base files) + add x1
            (their rewrite, dataChange=false) — same CONTENT as v1
            through different files, the metadata-only swap

    Each commit is a real line-delimited JSON file named
    `{version:020d}.json` holding commitInfo + add/remove actions with
    RELATIVE paths, exactly Delta's on-disk shape. Reading version N =
    `spark.read.json` over the log (schema'd, O(commits)), version
    parsed from `_metadata.file_path`, then the LAST-ACTION-WINS fold:
    per path, the latest action over commits 0..N decides — a path is
    live iff it is an add. All three version cutoffs fold in ONE hash
    aggregate over O(total actions) rows (broadcast version spine,
    group by (as_of, path) — r13: was one fold+collect per version);
    the pair collect is O(versions x live files), same bound as a real
    Delta client materializing the file list for the scan planner
    (checkpoints parquet + log truncation keep that bound at 100 TB —
    see scan_delta_checkpoint; the jar's protocol checks are out of
    scope). Readers never list data directories: version reads stay
    O(log), not O(objects-in-bucket), and each live data file is
    scanned ONCE and attributed to its versions via a broadcast
    (file -> version) join (r13: was a union of per-version aggs
    re-reading shared files). The emulation proves isolation the same
    way the iceberg op does — DISTINCT _metadata.file_path within each
    version's attributed rows must match the fold's file count
    (4 / 6 / 3) while v2 hash-matches v1's content exactly."""
    tbl, log_dir = _delta_table("delta_log_table")
    # b1/b2 are independent slices — written concurrently (r14, guide
    # §2.6; see _overlap_writes). c1 reads b1's files, so it follows.
    base, appended = _overlap_writes(
        _date_slice(spark, sf_dir, tbl, "b1", 4, hi="2000-01-01"),
        _date_slice(spark, sf_dir, tbl, "b2", 2, lo="2000-01-01"),
    )
    _compaction_log(spark, tbl, log_dir, base, appended)
    # All three AS-OF cutoffs fold in ONE job: the action rows range-join
    # a broadcast 3-row version spine (version <= as_of) and the fold
    # groups by (as_of, path).
    spine = spark.createDataFrame([(v,) for v in range(3)], "as_of bigint")
    live = _fold(
        _actions(spark, log_dir).join(
            F.broadcast(spine), F.col("version") <= F.col("as_of")
        ),
        by=["as_of"],
    )
    return _totals_by(spark, tbl, live.withColumnRenamed("as_of", "version"), "version")


@register(
    "scan_delta_checkpoint",
    oracle="""
WITH o AS (
    SELECT o_orderkey, ROUND(o_totalprice, 6) AS price, o_orderdate
    FROM orders
), v2 AS (
    SELECT * FROM o WHERE o_orderdate < TIMESTAMP '2001-01-01'
), v3 AS (
    SELECT * FROM o
)
SELECT CAST(2 AS BIGINT) AS version, CAST(0 AS BIGINT) AS n_commits_replayed,
       CAST(3 AS BIGINT) AS n_files, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM v2
UNION ALL
SELECT 3, CAST(1 AS BIGINT), CAST(5 AS BIGINT), CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE)
FROM v3
""",
)
def scan_delta_checkpoint(spark, sf_dir):
    """Delta checkpoint compaction over scan_delta_log's commit-log
    model (r9 staged stretch) — the property that keeps log replay
    O(commits since checkpoint) instead of O(table lifetime). The r9
    commit-count scale study already measured the win empirically
    (flat 0.46 s reads at 1024 commits with a checkpoint vs 0.64 s
    full replay); this op implements the mechanism:

        v0  initial write: add x4 (orders before 2000)
        v1  APPEND: add x2 (2000 <= orders < 2001)
        v2  OPTIMIZE: remove v0's 4 files + add x1 compacted
            (dataChange=false) -> live = 3 files
        --- checkpoint parquet written at v2: the FOLDED live-file
            state of commits 0..2 (3 add rows), named by a
            `_last_checkpoint` JSON pointer, Delta's exact on-disk
            shape ---
        v3  APPEND: add x2 (orders >= 2001) -> live = 5 files

    A read at version M > N(=2) starts from the checkpoint rows (one
    parquet scan, O(live files at N)) and replays ONLY the JSON
    commits N+1..M — their paths are constructed from the version
    numbers (`{v:020d}.json`), never by listing the log directory, so
    the read is O(M-N) no matter how many commits precede the
    checkpoint. The fold is the same last-action-wins hash aggregate
    as scan_delta_log with the checkpoint rows entering as
    version=N adds. The emulation proves both halves: version 2 is
    served from the checkpoint ALONE (n_commits_replayed=0 — the log
    JSON for 0..2 is never opened), and version 3 replays exactly one
    commit. Both versions fold in one labeled aggregate and each live
    data file is scanned once, attributed to its versions via a
    broadcast (file -> version) join (r13 — see scan_delta_log);
    DISTINCT _metadata.file_path within each version's attributed rows
    must match the fold's live count (3 / 5) while the content
    hash-matches the oracle's date-slice recomputation. At 100 TB the
    checkpoint parquet is additionally the scan planner's stats
    source; here it carries (path, size) like the real format."""
    tbl, log_dir = _four_commit_table(spark, sf_dir, "delta_checkpoint_table")
    # Both version reads fold in ONE job (r13, guide §2.4/§5): each
    # read's state is labeled with its as-of version and unioned, and
    # the fold groups by (as_of, path).
    states, replayed = [], {}
    for m in (2, 3):
        state, replayed[m] = _state_at(spark, log_dir, m)
        states.append(state.withColumn("as_of", F.lit(m).cast("bigint")))
    live = _fold(reduce(DataFrame.unionByName, states), by=["as_of"])
    n_replayed = F.create_map(*[F.lit(x) for kv in replayed.items() for x in kv])
    return _totals_by(
        spark, tbl, live.withColumnRenamed("as_of", "version"), "version"
    ).select(
        "version",
        n_replayed[F.col("version")].cast("bigint").alias("n_commits_replayed"),
        "n_files",
        "n_rows",
        "sum_total",
    )


@register(
    "scan_delta_time_travel_ts",
    oracle="""
WITH o AS (
    SELECT o_orderkey, ROUND(o_totalprice, 6) AS price, o_orderdate
    FROM orders
), v0 AS (
    SELECT * FROM o WHERE o_orderdate < TIMESTAMP '2000-01-01'
), v2 AS (
    SELECT * FROM o WHERE o_orderdate < TIMESTAMP '2001-01-01'
), v3 AS (
    SELECT * FROM o
)
SELECT 'mid_v0' AS probe, CAST(0 AS BIGINT) AS version,
       CAST(1 AS BIGINT) AS n_commits_replayed,
       CAST(4 AS BIGINT) AS n_files, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
FROM v0
UNION ALL
SELECT 'at_v2', CAST(2 AS BIGINT), CAST(0 AS BIGINT), CAST(3 AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE)
FROM v2
UNION ALL
SELECT 'after_v3', CAST(3 AS BIGINT), CAST(1 AS BIGINT), CAST(5 AS BIGINT),
       CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE)
FROM v3
""",
)
def scan_delta_time_travel_ts(spark, sf_dir):
    """Timestamp AS-OF time travel over the Delta commit-log model
    (r10 staged stretch) — the query surface a user actually touches:
    ``SELECT ... TIMESTAMP AS OF ts`` resolves to the GREATEST version
    whose commit timestamp <= ts, then reads that version through the
    scan_delta_checkpoint path. Same 4-commit fixture as
    scan_delta_checkpoint (v0 write x4 / v1 append x2 / v2 optimize ->
    3 live / v3 append -> 5 live, checkpoint parquet at N=2), each
    commit's `commitInfo` carrying the epoch-ms `timestamp` field —
    Delta's on-disk shape for commit times (t_v = 2020-01-01 + v days).
    Three probes bracket the history:

        mid_v0    t0 + 12h  -> v0 (before the first append)
        at_v2     exactly t2 -> v2 (boundary: `<=` keeps the commit)
        after_v3  t3 + 1h   -> v3 (after the last commit)

    Contract notes (r11 ADVICE): a probe BEFORE commit 0 fails loudly
    (asserted below) rather than silently vanishing from the inner
    join; the after-latest probe resolving to the latest version
    models the in-commit-timestamp / canReturnLastCommit variant —
    DEFAULT Delta instead raises a temporally-unstable-input error
    for timestamps past the last commit and resolves by commit-file
    modification time rather than commitInfo.timestamp.

    Resolution is one pass over the O(commits) commitInfo rows: a
    3-row probe spine range-joined (ts <= probe) + max(version) per
    probe — at 100 TB the log is thousands of rows, never the data.
    The read then branches like a real client: m >= N serves from the
    checkpoint + O(m-N) constructed JSON tail paths
    (n_commits_replayed counts them); m < N predates the checkpoint,
    so the reader replays commits 0..m (m+1 replayed) — the checkpoint
    cannot serve an EARLIER version since it folds state at N. All
    three probes fold in one labeled aggregate and each live data file
    is scanned once, attributed to its probes via a broadcast
    (file -> probe) join (r13 — see scan_delta_log). File counts are
    asserted from DISTINCT _metadata.file_path within each probe's
    attributed rows; content hash-matches the oracle's date-slice
    recomputation."""
    tbl, log_dir = _four_commit_table(spark, sf_dir, "delta_tt_table")

    # --- TIMESTAMP -> VERSION resolution: probes as a broadcast 3-row
    # spine, greatest version with commit ts <= probe. `<=` is Delta's
    # AS-OF-timestamp contract: a probe landing exactly on a commit
    # time reads THAT commit.
    commit_rows = (
        _actions(spark, log_dir)
        .filter(F.col("commitInfo").isNotNull())
        .select("version", F.col("commitInfo.timestamp").alias("commit_ts"))
    )
    probe_rows = [
        ("mid_v0", _T0_MS + _DAY_MS // 2),
        ("at_v2", _T0_MS + 2 * _DAY_MS),
        ("after_v3", _T0_MS + 3 * _DAY_MS + 3600000),
    ]
    probes = spark.createDataFrame(probe_rows, "probe string, probe_ts bigint")
    resolved = (
        commit_rows.join(
            F.broadcast(probes), F.col("commit_ts") <= F.col("probe_ts")
        )
        .groupBy("probe")
        .agg(F.max("version").alias("version"))
        .collect()  # O(probes): 3 rows, the version map the reads need
    )
    # The inner join drops any probe earlier than commit 0 — that would
    # silently shrink the output, so fail loudly instead (r11 ADVICE).
    # A probe AFTER the latest commit resolves to the latest version;
    # that models Delta's in-commit-timestamp / canReturnLastCommit
    # variant — default Delta raises a temporally-unstable-input error
    # there and resolves by commit-FILE modification time unless
    # in-commit timestamps are enabled.
    if len(resolved) != len(probe_rows):  # driver-side list: no extra job
        missing = {p for p, _ in probe_rows} - {r["probe"] for r in resolved}
        raise ValueError(
            f"time-travel probes before the first commit: {sorted(missing)}"
        )

    # All three probe reads fold in ONE job (r13, guide §2.4/§5): each
    # probe's state is labeled with its probe name and unioned, and the
    # fold groups by (probe, path). at_v2 is served from the checkpoint
    # alone, after_v3 replays exactly commit 3, mid_v0 replays commits
    # 0..0.
    states = []
    meta = {}  # probe -> (version, n_commits_replayed)
    for r in sorted(resolved, key=lambda x: x["version"]):
        state, n_opened = _state_at(spark, log_dir, r["version"])
        meta[r["probe"]] = (r["version"], n_opened)
        states.append(state.withColumn("probe", F.lit(r["probe"])))
    live = _fold(reduce(DataFrame.unionByName, states), by=["probe"])

    # Per-probe constants (version, n_commits_replayed) attach from a
    # broadcast 3-row spine.
    consts = spark.createDataFrame(
        [(p, v, c) for p, (v, c) in meta.items()],
        "probe string, version bigint, n_commits_replayed bigint",
    )
    return (
        _totals_by(spark, tbl, live, "probe")
        .join(F.broadcast(consts), "probe")
        .select(
            "probe", "version", "n_commits_replayed", "n_files", "n_rows", "sum_total"
        )
    )


@register(
    "scan_delta_partition_values",
    oracle="""
WITH o AS (
    SELECT o_orderkey, ROUND(o_totalprice, 6) AS price,
           CAST(year(o_orderdate) AS INT) AS y
    FROM orders
), sel AS (
    SELECT * FROM o
    WHERE y = 1997 OR (y = 1998 AND o_orderkey % 2 = 1)
)
SELECT y AS o_year,
       CAST(1 AS BIGINT) AS n_files,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_total,
       CAST(7 AS BIGINT) AS n_live_total,
       CAST(2 AS BIGINT) AS n_files_pruned,
       TRUE AS pruned_ok
FROM sel
GROUP BY y
""",
)
def scan_delta_partition_values(spark, sf_dir):
    """Partition pruning THROUGH the Delta commit-log fold (r11 staged
    stretch) — the mechanism that lets a 100 TB date-partitioned Delta
    table answer a one-day query with an O(log) plan: every `add`
    action carries a ``partitionValues`` string map (Delta's on-disk
    shape), so a reader with a partition predicate selects files from
    the FOLDED LOG STATE — pure metadata, O(live files) — and never
    opens a single out-of-range data file.

    Fixture: orders partitioned by o_year = year(o_orderdate)
    (1995..2001, 7 partitions), written with ``partitionBy`` so the
    data files OMIT the partition column exactly like Delta (the
    reader must reconstruct it from partitionValues). Three commits
    exercise fold x pruning together:

        v0  WRITE: one file per year, but 1998 holds only EVEN
            o_orderkey (7 adds, each with partitionValues {o_year: y})
        v1  APPEND: the 1998 ODD-key file (1 add -> 1998 has 2 files)
        v2  DELETE: remove of v0's 1998 even-key file -> live is back
            to 7 files and 1998's content is the odd keys only

    The read then prunes ``o_year BETWEEN 1997 AND 1998`` from the
    fold: 2 files out of 7 live. The partition column is reconstructed
    by joining each scanned row's ``_metadata.file_path`` to the
    pruned (path -> o_year) map — a broadcast of O(pruned files) rows,
    exactly how Delta injects partition columns at scan time.
    ``pruned_ok`` asserts, row-for-row in the result: every scanned
    file is in the pruned map (no unmapped file), NO scanned file is
    one of the 5 out-of-range live files (the staged design's DISTINCT
    _metadata.file_path claim), the pruned set is exactly 2 files, and
    the pre-pruning live fold saw exactly 7. Content (per-year counts
    + DECIMAL(38,6) sums) hash-matches the oracle's recomputation with
    the same predicate INCLUDING the v2 delete's key%2 slice — a fold
    error, a pruning leak, or a wrong partition map flips the hash."""
    o = t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round("o_totalprice", 6).alias("price"),
        F.year("o_orderdate").cast("int").alias("o_year"),
    )
    tbl, log_dir = _delta_table("delta_partition_values_table")

    def write_partitioned(df, sub):
        """partitionBy write (data files OMIT o_year, like Delta);
        returns {year: relative_path} — one file per year by
        construction (repartition by the partition key first)."""
        df.repartition("o_year").write.mode("overwrite").partitionBy(
            "o_year"
        ).parquet(os.path.join(tbl, "data", sub))
        out = {}
        for rel in _part_files(tbl, sub):
            year = int(re.search(r"o_year=(\d+)", rel).group(1))
            if year in out:
                raise AssertionError(
                    f"scan_delta_partition_values fixture: partition "
                    f"o_year={year} in {sub} produced more than one file"
                )
            out[year] = rel
        return out

    # v0/v1 are independent slices — concurrent (r14, guide §2.6).
    v0_files, v1_files = _overlap_writes(
        lambda: write_partitioned(
            o.filter((F.col("o_year") != 1998) | (F.col("o_orderkey") % 2 == 0)),
            "v0",
        ),
        lambda: write_partitioned(
            o.filter((F.col("o_year") == 1998) & (F.col("o_orderkey") % 2 == 1)),
            "v1",
        ),
    )
    if sorted(v0_files) != list(range(1995, 2002)) or sorted(v1_files) != [1998]:
        raise AssertionError(
            f"scan_delta_partition_values fixture: expected years 1995..2001 "
            f"in v0 and only 1998 in v1, got {sorted(v0_files)} / "
            f"{sorted(v1_files)} — fixture data drifted from the hardcoded "
            f"partition oracle"
        )

    def add(rel, year):
        return _add(tbl, rel, partitionValues={"o_year": str(year)})

    _commit(log_dir, 0, "WRITE", [add(rel, y) for y, rel in sorted(v0_files.items())])
    _commit(log_dir, 1, "APPEND", [add(v1_files[1998], 1998)])
    _commit(log_dir, 2, "DELETE", [_remove(v0_files[1998])])

    # --- fold the log ONCE, carrying the partitionValues map: O(actions)
    # metadata, zero data-file reads. Sorted by path, so the pruned read
    # and its IN (...) check list the files in the same order every run.
    live_rows = sorted(
        _fold(
            _actions(spark, log_dir),
            o_year=F.col("add.partitionValues")["o_year"].cast("int"),
        ).collect(),  # O(live files): 7
        key=lambda r: r["path"],
    )
    pruned = [r for r in live_rows if 1997 <= r["o_year"] <= 1998]
    out_of_range = [r for r in live_rows if not 1997 <= r["o_year"] <= 1998]
    n_live_total, n_pruned = len(live_rows), len(pruned)

    # --- the pruned read: ONLY the in-range files are opened. Partition
    # column reconstructed via a broadcast (file uri -> o_year) map.
    pruned_map = spark.createDataFrame(
        [(_uri(tbl, r["path"]), r["o_year"]) for r in pruned], "fp string, o_year int"
    )
    out_uris = [_uri(tbl, r["path"]) for r in out_of_range]
    pruned_scan = spark.read.parquet(
        *[os.path.join(tbl, r["path"]) for r in pruned]
    ).select(
        "o_orderkey",
        "price",
        F.col("_metadata.file_path").alias("fp"),
    )
    # "Every scanned file resolves through the pruned map" must be
    # asserted BEFORE the groupBy — a post-group null-o_year sum is
    # vacuous because unmapped rows land in their own NULL group where
    # the flag is never evaluated (r12 advice). The distinct-fp set is
    # O(pruned files) and catches the one real failure mode: a
    # _metadata.file_path formatting drift vs the constructed uris.
    scanned_fps = {
        r["fp"] for r in pruned_scan.select("fp").distinct().collect()
    }  # O(pruned files): 2
    map_covers_scan = scanned_fps == {_uri(tbl, r["path"]) for r in pruned}
    scanned = pruned_scan.join(F.broadcast(pruned_map), "fp", "left")
    return scanned.groupBy("o_year").agg(
        F.count_distinct("fp").cast("bigint").alias("n_files"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("price")).alias("sum_total"),
        F.lit(n_live_total).cast("bigint").alias("n_live_total"),
        F.lit(n_pruned).cast("bigint").alias("n_files_pruned"),
        (
            # every scanned file resolved through the pruned map
            # (driver-side set equality, computed pre-groupBy) ...
            F.lit(map_covers_scan)
            # ... and NONE of them is an out-of-range live file
            & (F.max(F.col("fp").isin(out_uris).cast("int")) == 0)
            & F.lit(n_pruned == 2)
            & F.lit(n_live_total == 7)
        ).alias("pruned_ok"),
    )


@register(
    "scan_delta_deletion_vectors",
    oracle="""
WITH li AS (
    SELECT l_orderkey, l_returnflag,
           ROUND(l_extendedprice, 6) AS price
    FROM lineitem
), dead AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS c FROM li WHERE l_orderkey % 997 = 0
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
       CAST(8 AS BIGINT) AS n_live_files,
       (SELECT c FROM dead) AS dv_cardinality,
       TRUE AS dv_ok
FROM li
WHERE l_orderkey % 997 <> 0
GROUP BY l_returnflag
""",
)
def scan_delta_deletion_vectors(spark, sf_dir):
    """Deletion-vector read path through the Delta commit-log fold (r12
    staged stretch) — the modern MERGE/DELETE fast path: deleting 0.1%
    of a 100 TB table writes a tiny O(deleted) sidecar of
    (file, row_index) tombstones referenced from re-``add``ed actions,
    instead of rewriting every touched parquet file; the reader drops
    dead rows with a LEFT ANTI join of ``_metadata.row_index`` against
    the BROADCAST sidecar — zero shuffle of the data side.

    Fixture (the skeleton of the r12 deletion-vector prototype study,
    SURVEY.md):

        v0  WRITE: lineitem as 8 data files (8 adds)
        v1  DELETE: rows with l_orderkey % 997 == 0 (~0.1%) die; the
            sidecar parquet holds their (file_path, row_index) pairs
            and every touched file is RE-ADDED (dataChange=false)
            carrying a deletionVector descriptor with its per-file
            cardinality — untouched files keep their v0 add.

    The read folds the log once (last-add-wins per path, O(actions)
    metadata), keeps each live file's DV descriptor, reads the live
    files WITH ``_metadata`` columns, and anti-joins the broadcast
    sidecar restricted to descriptor-carrying files (a file re-added
    WITHOUT a DV must keep all its rows even if stale tombstones
    exist). The r12 prototype proved the three load-bearing facts at
    sf0.01 AND sf0.1: (file_path, row_index) is STABLE across
    independent scans with different projections (0/600k mismatches —
    what makes cross-scan tombstones land on the right rows), the read
    is EXACT vs a direct ``filter(NOT pred)`` under decimal checksums,
    and the byte asymmetry is real (KiB sidecar vs MiB rewrite, read
    overhead fixed-cost not per-row: 2.74s -> 2.19s at 10x data).

    ``dv_ok`` is non-vacuous (r12 advice discipline): driver-side it
    asserts descriptor-cardinality total == sidecar row count
    (O(deleted) count job), 8 live files in the fold, and every
    descriptor names the sidecar; row-side the per-group sum of
    surviving dead-key rows is checked in EVERY returnflag group (a
    leaked tombstone row lands in a real group, not a NULL group).
    The oracle recomputes counts, DECIMAL(38,6) sums, and the dead-row
    cardinality from the same predicate, so a fold error, a dropped
    tombstone, or a DV applied to the wrong file flips the hash."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_returnflag",
        F.round("l_extendedprice", 6).alias("price"),
    )
    tbl, log_dir = _delta_table("delta_deletion_vectors_table")

    # ---- v0 WRITE: 8 data files + their add actions -----------------
    files0 = _write_slice(tbl, li, "v0", 8)
    _commit(log_dir, 0, "WRITE", [_add(tbl, rel) for rel in files0])

    # ---- v1 DELETE: write the DV sidecar + re-add touched files -----
    dv_dir = os.path.join(tbl, "dv")
    dead = (
        spark.read.parquet(os.path.join(tbl, "data", "v0"))
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("ri"),
            "l_orderkey",
        )
        .filter(F.col("l_orderkey") % 997 == 0)
        .select("fp", "ri")
    )
    dead.coalesce(1).write.mode("overwrite").parquet(dv_dir)
    sidecar = spark.read.parquet(dv_dir)
    per_file = {
        r["fp"]: r["n"]
        for r in sidecar.groupBy("fp").agg(F.count("*").alias("n")).collect()
    }  # O(touched files) driver rows: <= 8
    _commit(
        log_dir,
        1,
        "DELETE",
        [  # re-add same bytes, now carrying a DV
            _add(
                tbl,
                rel,
                False,
                deletionVector={
                    "storageType": "u",
                    "pathOrInlineDv": "dv",
                    "cardinality": per_file[_uri(tbl, rel)],
                },
            )
            for rel in files0
            if _uri(tbl, rel) in per_file
        ],
    )

    # ---- fold the log ONCE: last-add-wins carrying the DV -----------
    live = _fold(
        _actions(spark, log_dir),
        dv_path="add.deletionVector.pathOrInlineDv",
        dv_card="add.deletionVector.cardinality",
    ).collect()  # O(live files): 8 — a real Delta client does driver-side log replay
    dv_files = [r for r in live if r["dv_card"] is not None]
    card_total = sum(r["dv_card"] for r in dv_files)
    sidecar_rows = sidecar.count()  # O(deleted) sidecar count job
    dv_ok_meta = (
        len(live) == 8
        and card_total == sidecar_rows
        and len(dv_files) == len(per_file)
        and all(r["dv_path"] == "dv" for r in dv_files)
    )

    # ---- the DV read: broadcast anti-join restricted to DV'd files --
    dv_uris = [_uri(tbl, r["path"]) for r in dv_files]
    tombstones = F.broadcast(sidecar.filter(F.col("fp").isin(dv_uris)))
    surviving = (
        spark.read.parquet(*[os.path.join(tbl, r["path"]) for r in live])
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("ri"),
            "l_orderkey",
            "l_returnflag",
            "price",
        )
        .join(tombstones, ["fp", "ri"], "left_anti")
    )
    return surviving.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("price")).alias("sum_price"),
        F.lit(len(live)).cast("bigint").alias("n_live_files"),
        F.lit(card_total).cast("bigint").alias("dv_cardinality"),
        (
            F.lit(dv_ok_meta)
            # no tombstoned key survives — evaluated inside EVERY real
            # returnflag group (leaked rows cannot hide in a NULL group)
            & (
                F.sum(F.when(F.col("l_orderkey") % 997 == 0, 1).otherwise(0))
                == 0
            )
        ).alias("dv_ok"),
    )
