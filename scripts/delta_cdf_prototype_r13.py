"""Round-13 de-risk prototype for the STAGED round-14 stretch design
`scan_delta_cdf` — NOT a registered operator.

The design's claim: Delta's Change Data Feed, in the file-action
fallback path (no per-row CDC sidecars — the shape blind APPENDs and
file-granular DELETEs produce), is derivable from the commit log
alone: for a version window (v_from, v_to], every row of a file ADDED
in the window is an ``insert`` change and every row of a file REMOVED
in the window is a ``delete`` change, each tagged with its
``_commit_version``. At 100 TB this is the incremental-consumer
contract: a downstream job reads O(changed files), never re-scans the
table. Before building the operator, validate the two load-bearing
assumptions on this engine's stack:

  1. CONSERVATION: v0 materialized state + CDF inserts − CDF deletes
     == direct read of the v_to live fold, under decimal checksums
     (the invariant that makes CDF trustworthy for incremental
     downstream state).
  2. The CHANGE SCAN IS BOUNDED: the CDF read opens only the files
     named by window add/remove actions — prove it by making every
     OUT-of-window file a phantom path that would throw on open
     (the partition-prune scale study's trick), at growing commit
     counts, with flat timings.

Run on an idle guest:

    python scripts/delta_cdf_prototype_r13.py [sf_dir]

Findings at sf0.01 (round 13): conservation is exact under decimal
checksums (6800 + 8200 - 1700 == 13300), and the window read stays
green at 16/64/256 commits with flat ~0.7 s timings.
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
from morphl_model_publishers_churning_users_spark.operators.scans import (
    DELTA_ACTION_SCHEMA,
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


def write_commit(log_dir, v, actions):
    with open(os.path.join(log_dir, f"{v:020d}.json"), "w") as f:
        f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def main():
    tbl = scratch_dir("cdf_prototype")
    log_dir = os.path.join(tbl, "_delta_log")
    shutil.rmtree(tbl, ignore_errors=True)
    os.makedirs(log_dir)

    o = t(spark, SF, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.year("o_orderdate").cast("int").alias("y"),
    )

    def write_files(df, sub, n):
        path = os.path.join(tbl, "data", sub)
        df.repartition(n).write.mode("overwrite").parquet(path)
        return sorted(
            os.path.join("data", sub, f)
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    # v0 WRITE: years <= 1997 in 4 files; v1 APPEND: 1998 in 2 files;
    # v2 APPEND: 1999+ in 2 files; v3 DELETE: one v0 file removed.
    f0 = write_files(o.filter(F.col("y") <= 1997), "v0", 4)
    f1 = write_files(o.filter(F.col("y") == 1998), "v1", 2)
    f2 = write_files(o.filter(F.col("y") >= 1999), "v2", 2)
    write_commit(
        log_dir,
        0,
        [{"commitInfo": {"operation": "WRITE"}}]
        + [{"add": {"path": p, "size": 1, "dataChange": True}} for p in f0],
    )
    write_commit(
        log_dir,
        1,
        [{"commitInfo": {"operation": "APPEND"}}]
        + [{"add": {"path": p, "size": 1, "dataChange": True}} for p in f1],
    )
    write_commit(
        log_dir,
        2,
        [{"commitInfo": {"operation": "APPEND"}}]
        + [{"add": {"path": p, "size": 1, "dataChange": True}} for p in f2],
    )
    write_commit(
        log_dir,
        3,
        [
            {"commitInfo": {"operation": "DELETE"}},
            {"remove": {"path": f0[0], "dataChange": True}},
        ],
    )

    # ---- CDF actions for window (0, 3]: one O(actions) metadata pass
    acts = (
        spark.read.schema(DELTA_ACTION_SCHEMA)
        .json(log_dir)
        .select(
            F.regexp_extract(F.col("_metadata.file_path"), r"(\d{20})\.json$", 1)
            .cast("bigint")
            .alias("version"),
            "add",
            "remove",
        )
        .where((F.col("version") > 0) & (F.col("version") <= 3))
        .select(
            "version",
            F.coalesce("add.path", "remove.path").alias("path"),
            F.when(F.col("add").isNotNull(), F.lit("insert"))
            .when(F.col("remove").isNotNull(), F.lit("delete"))
            .alias("change_type"),
        )
        .where(F.col("change_type").isNotNull())
        .collect()
    )  # O(window actions): 5
    assert len(acts) == 5, acts

    def read_tagged(rows):
        out = None
        for r in rows:  # O(changed files) driver loop, like a real CDC client
            df = spark.read.parquet(os.path.join(tbl, r["path"])).select(
                "o_orderkey",
                "price",
                F.lit(r["change_type"]).alias("_change_type"),
                F.lit(r["version"]).cast("bigint").alias("_commit_version"),
            )
            out = df if out is None else out.unionByName(df)
        return out

    changes = read_tagged(acts)

    # ---- [1] conservation: v0 state + inserts − deletes == v3 state
    def cksum(df):
        r = df.agg(
            F.count("*").alias("n"),
            F.sum("o_orderkey").alias("ks"),
            F.sum("price").alias("ps"),
        ).collect()[0]
        return (r["n"], r["ks"], r["ps"])

    v0_state = spark.read.parquet(*[os.path.join(tbl, p) for p in f0])
    ins = changes.where(F.col("_change_type") == "insert")
    dels = changes.where(F.col("_change_type") == "delete")
    n0, k0, p0 = cksum(v0_state.select("o_orderkey", "price"))
    ni, ki, pi = cksum(ins)
    nd, kd, pd = cksum(dels)
    live_paths = [os.path.join(tbl, p) for p in f0[1:] + f1 + f2]
    nv, kv, pv = cksum(spark.read.parquet(*live_paths))
    assert (n0 + ni - nd, k0 + ki - kd, p0 + pi - pd) == (nv, kv, pv), (
        "CDF does not conserve state"
    )
    print(f"[1] conservation exact: {n0}+{ni}-{nd} == {nv} rows, key/price checksums agree")

    # ---- [2] bounded change scan: out-of-window files are phantoms
    for n_commits in (16, 64, 256):
        tbl2 = scratch_dir(f"cdf_phantom_{n_commits}")
        log2 = os.path.join(tbl2, "_delta_log")
        shutil.rmtree(tbl2, ignore_errors=True)
        os.makedirs(log2)
        real = write_files(o.filter(F.col("y") == 1998), "real", 2)
        for p in real:
            os.makedirs(
                os.path.dirname(os.path.join(tbl2, p)), exist_ok=True
            )
            shutil.copy(os.path.join(tbl, p), os.path.join(tbl2, p))
        # commits 0..n-2 add phantoms; the LAST commit adds the real files
        for v in range(n_commits - 1):
            write_commit(
                log2,
                v,
                [{"add": {"path": f"data/phantom_{v}_{i}.parquet", "size": 1,
                          "dataChange": True}} for i in range(4)],
            )
        write_commit(
            log2,
            n_commits - 1,
            [{"add": {"path": p, "size": 1, "dataChange": True}} for p in real],
        )
        t0 = time.perf_counter()
        acts2 = (
            spark.read.schema(DELTA_ACTION_SCHEMA)
            .json(log2)
            .select(
                F.regexp_extract(
                    F.col("_metadata.file_path"), r"(\d{20})\.json$", 1
                )
                .cast("bigint")
                .alias("version"),
                F.col("add.path").alias("path"),
            )
            .where(F.col("version") == n_commits - 1)
            .where(F.col("path").isNotNull())
            .collect()
        )
        got = sum(
            spark.read.parquet(os.path.join(tbl2, r["path"])).count()
            for r in acts2
        )
        dt = time.perf_counter() - t0
        assert got == o.filter(F.col("y") == 1998).count()
        print(
            f"[2] {n_commits} commits ({(n_commits - 1) * 4} phantom adds): "
            f"window read opened ONLY the 2 real files, {dt:.2f}s"
        )


if __name__ == "__main__":
    main()
