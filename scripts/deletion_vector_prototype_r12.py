"""Round-12 de-risk prototype for the STAGED round-13 stretch design
`scan_delta_deletion_vectors` (since built, in operators/scans.py).

The design's claim: a DELETE of 0.1% of a 100 TB Delta table should
write a tiny deletion-vector (DV) sidecar — a set of (file, row_index)
tombstones referenced from re-`add`ed actions — instead of rewriting
every touched parquet file; the reader then drops dead rows with a
LEFT ANTI join of `_metadata.row_index` against the broadcast DV.
Before building the operator, this prototype validates the three
load-bearing assumptions on THIS engine's stack (PySpark 4.1.2,
vectorized parquet reader):

  1. `_metadata.row_index` is STABLE: the (file_path, row_index) ->
     row mapping is identical across independent scans with different
     projections (the DV is computed in one scan and applied in
     another — if indices shifted, deletes would land on wrong rows).
  2. The DV read path is EXACT: fold the commit log (last-add-wins,
     v1 re-adds carry a deletionVector descriptor), read live files,
     anti-join the broadcast sidecar -> count AND value checksums
     match a direct `filter(NOT pred)` of the source, row for row.
  3. The COST ASYMMETRY is real: DV-write cost (one metadata-ish scan
     + O(deleted) sidecar) vs the full rewrite of every touched file
     (what a DV-less DELETE must do), plus the read-path overhead the
     anti-join adds over a plain scan.

Run on an idle guest:

    python scripts/deletion_vector_prototype_r12.py [sf_dir]

Record results in SURVEY §6 (round-12 log).
"""

import io
import json
import os
import shutil
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F
from pyspark.sql import SparkSession

from morphl_model_publishers_churning_users_spark import catalog
from morphl_model_publishers_churning_users_spark.operators._shared import (
    scratch_dir,
    t,
)

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"

spark = (
    SparkSession.builder.master("local[8]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.showConsoleProgress", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
catalog.ensure_confs(spark)

# add.deletionVector mirrors Delta's descriptor shape (storageType 'u'
# = relative-path sidecar in Delta; we store the sidecar path directly).
DV_ACTION_SCHEMA = (
    "add struct<path:string,size:bigint,dataChange:boolean,"
    "deletionVector:struct<storageType:string,pathOrInlineDv:string,"
    "cardinality:bigint>>, "
    "remove struct<path:string,dataChange:boolean>, "
    "commitInfo struct<operation:string>"
)

DEAD_MOD = 997  # l_orderkey % 997 == 0 -> ~0.1% of rows die


def main():
    tbl = scratch_dir("dv_prototype")
    log_dir = os.path.join(tbl, "_delta_log")
    shutil.rmtree(tbl, ignore_errors=True)
    os.makedirs(log_dir)

    # price as DECIMAL so the parity checksum is exact under ANY
    # aggregation order (a double sum's last digits depend on partition
    # order — the engine's oracle checksums use the same discipline).
    li = t(spark, SF, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )

    # ---- v0 WRITE: 8 data files + their add actions -------------------
    data0 = os.path.join(tbl, "data", "v0")
    li.repartition(8).write.mode("overwrite").parquet(data0)
    files0 = sorted(
        os.path.join("data", "v0", f)
        for f in os.listdir(data0)
        if f.endswith(".parquet")
    )
    actions0 = [{"commitInfo": {"operation": "WRITE"}}] + [
        {
            "add": {
                "path": rel,
                "size": os.path.getsize(os.path.join(tbl, rel)),
                "dataChange": True,
            }
        }
        for rel in files0
    ]
    with open(os.path.join(log_dir, f"{0:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions0) + "\n")

    dead_pred = F.col("l_orderkey") % DEAD_MOD == 0

    # ---- assumption 1: row_index stability across scans ---------------
    # Scan A (wide projection) and scan B (narrow, different column set
    # and filter pushed) must agree on (file, row_index) -> key.
    scan_a = spark.read.parquet(data0).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
        "l_orderkey",
        "l_linenumber",
        "price",
    )
    scan_b = spark.read.parquet(data0).select(
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
        F.col("l_orderkey").alias("k2"),
        F.col("l_linenumber").alias("n2"),
    )
    mismatch = (
        scan_a.join(scan_b, ["fp", "ri"], "full_outer")
        .where(
            F.col("l_orderkey").isNull()
            | F.col("k2").isNull()
            | (F.col("l_orderkey") != F.col("k2"))
            | (F.col("l_linenumber") != F.col("n2"))
        )
        .count()
    )
    assert mismatch == 0, f"row_index UNSTABLE across scans: {mismatch} rows"
    print(f"[1] row_index stable across independent scans: 0/{scan_a.count()} mismatches")

    # ---- v1 DELETE via deletion vector (timed) ------------------------
    t0 = time.perf_counter()
    dv_dir = os.path.join(tbl, "dv")
    dead = scan_a.where(dead_pred).select("fp", "ri")
    dead.coalesce(1).write.mode("overwrite").parquet(dv_dir)
    dv_rows = spark.read.parquet(dv_dir)
    per_file = {
        r["fp"]: r["n"]
        for r in dv_rows.groupBy("fp").agg(F.count("*").alias("n")).collect()
    }  # O(files) driver rows: 8
    n_dead = sum(per_file.values())
    actions1 = [{"commitInfo": {"operation": "DELETE"}}]
    for rel in files0:
        abs_fp = "file:" + os.path.join(tbl, rel)
        if abs_fp in per_file:  # re-add same path, now carrying a DV
            actions1.append(
                {
                    "add": {
                        "path": rel,
                        "size": os.path.getsize(os.path.join(tbl, rel)),
                        "dataChange": False,
                        "deletionVector": {
                            "storageType": "u",
                            "pathOrInlineDv": "dv",
                            "cardinality": per_file[abs_fp],
                        },
                    }
                }
            )
    with open(os.path.join(log_dir, f"{1:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions1) + "\n")
    dv_write_s = time.perf_counter() - t0
    dv_bytes = sum(
        os.path.getsize(os.path.join(dv_dir, f)) for f in os.listdir(dv_dir)
    )

    # ---- the DV-less alternative: full rewrite of touched files -------
    t0 = time.perf_counter()
    rewrite_dir = os.path.join(tbl, "data", "v1_rewrite")
    touched = [fp for fp in per_file]  # every file holds dead rows here
    (
        spark.read.parquet(*[p.removeprefix("file:") for p in touched])
        .where(~dead_pred)
        .repartition(len(touched))
        .write.mode("overwrite")
        .parquet(rewrite_dir)
    )
    rewrite_s = time.perf_counter() - t0
    rewrite_bytes = sum(
        os.path.getsize(os.path.join(rewrite_dir, f))
        for f in os.listdir(rewrite_dir)
        if f.endswith(".parquet")
    )

    # ---- assumption 2: exact DV read path (timed) ---------------------
    t0 = time.perf_counter()
    live = (
        spark.read.schema(DV_ACTION_SCHEMA)
        .json(log_dir)
        .select(
            F.regexp_extract(F.col("_metadata.file_path"), r"(\d{20})\.json$", 1)
            .cast("long")
            .alias("version"),
            "add",
            "remove",
        )
        .where(F.col("add").isNotNull() | F.col("remove").isNotNull())
        .groupBy(F.coalesce("add.path", "remove.path").alias("path"))
        .agg(
            F.max_by(
                F.struct(
                    F.col("add").isNotNull().alias("is_add"),
                    F.col("add.deletionVector.cardinality").alias("dv_card"),
                ),
                F.struct("version", F.col("add").isNotNull().alias("is_add")),
            ).alias("last")
        )
        .where(F.col("last.is_add"))
        .select("path", "last.dv_card")
        .collect()
    )  # O(live files): 8
    assert len(live) == 8, f"fold produced {len(live)} live files, want 8"
    assert all(r["dv_card"] is not None for r in live), "v1 re-adds lost their DV"
    live_paths = [os.path.join(tbl, r["path"]) for r in live]
    dv_bc = F.broadcast(spark.read.parquet(dv_dir))
    dv_filtered = (
        spark.read.parquet(*live_paths)
        .select(
            F.col("_metadata.file_path").alias("fp"),
            F.col("_metadata.row_index").alias("ri"),
            "l_orderkey",
            "price",
        )
        .join(dv_bc, ["fp", "ri"], "left_anti")
    )
    # The 100 TB posture: the tombstone filter must be a broadcast
    # left-anti hash join — zero shuffle of the data side. A plan that
    # falls back to a sort-merge anti join would shuffle the whole
    # table to drop 0.1% of it.
    buf = io.StringIO()
    with redirect_stdout(buf):
        dv_filtered.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, (
        "DV filter did not plan as a broadcast left-anti hash join:\n" + plan
    )
    assert "SortMergeJoin" not in plan and "Exchange hashpartitioning" not in plan.split(
        "BroadcastHashJoin"
    )[0], "data side of the DV filter is being shuffled:\n" + plan
    read = (
        dv_filtered
        .agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").alias("ksum"),
            F.sum("price").alias("psum"),
        )
        .collect()[0]
    )
    dv_read_s = time.perf_counter() - t0
    want = (
        li.where(~dead_pred)
        .agg(
            F.count("*").alias("n"),
            F.sum("l_orderkey").alias("ksum"),
            F.sum("price").alias("psum"),
        )
        .collect()[0]
    )
    assert (read["n"], read["ksum"], read["psum"]) == (
        want["n"],
        want["ksum"],
        want["psum"],
    ), f"DV read drifted from direct filter: {read} vs {want}"
    print(
        f"[2] DV read path EXACT: {read['n']} rows, key/price checksums match "
        f"direct filter ({n_dead} rows tombstoned)"
    )

    # plain-scan bar for the read-overhead comparison
    t0 = time.perf_counter()
    spark.read.parquet(*live_paths).agg(
        F.count("*"), F.sum("l_orderkey"), F.round(F.sum("price"), 4)
    ).collect()
    plain_read_s = time.perf_counter() - t0

    print(
        f"[3] cost asymmetry at {SF}: DV write {dv_write_s:.3f}s / "
        f"{dv_bytes / 1024:.1f} KiB sidecar  VS  full rewrite "
        f"{rewrite_s:.3f}s / {rewrite_bytes / 1048576:.1f} MiB; "
        f"read w/ DV {dv_read_s:.3f}s vs plain {plain_read_s:.3f}s"
    )


if __name__ == "__main__":
    main()
