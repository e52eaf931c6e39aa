"""Round-13 de-risk prototype for the STAGED round-14 stretch design
`scan_iceberg_manifest_pruning` — NOT a registered operator.

The design's claim: Iceberg's TWO-LEVEL metadata tree — snapshot →
manifest LIST (one row per manifest, carrying the partition-value
range covered by that manifest) → manifest FILES (one row per data
file, carrying per-column min/max stats) — lets a predicate prune at
BOTH levels: first skip whole manifests by partition range (O(number
of manifests), not O(files)), then skip files inside surviving
manifests by column stats. That is what keeps planning O(manifests)
on a 10M-file table where Delta-style flat logs would fold O(files).
Validate before building:

  1. TWO-LEVEL EXACTNESS: the doubly-pruned read returns exactly the
     predicate's rows (decimal checksums vs a direct filter).
  2. SKIPPED METADATA IS NEVER OPENED: out-of-range manifests are
     PHANTOM paths that would throw on read; out-of-range data files
     inside surviving manifests are phantoms too. A read that is
     green at growing manifest counts proves both levels prune by
     metadata alone, with flat planning time.

Run on an idle guest:

    python scripts/iceberg_manifest_prototype_r13.py [sf_dir]

Findings (round 13): the two-level prune is exact against a direct
filter at 8/64/512 phantom manifests (plus 4 phantom file entries
inside the surviving manifest), with flat ~0.7-0.8 s planning + read.
"""

import json
import os
import shutil
import sys
import time

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


def main():
    o = t(spark, SF, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
        F.year("o_orderdate").cast("int").alias("y"),
        F.month("o_orderdate").cast("int").alias("m"),
    )

    for n_phantom_manifests in (8, 64, 512):
        tbl = scratch_dir(f"iceberg_proto_{n_phantom_manifests}")
        shutil.rmtree(tbl, ignore_errors=True)
        meta = os.path.join(tbl, "metadata")
        os.makedirs(meta)

        # REAL data: year 1998, one manifest, files split by month
        # range (m <= 6 / m > 6) so file-level stats pruning has work.
        real_files = []
        for name, lo, hi in (("h1", 1, 6), ("h2", 7, 12)):
            path = os.path.join(tbl, "data", f"1998_{name}")
            o.filter(
                (F.col("y") == 1998) & F.col("m").between(lo, hi)
            ).coalesce(1).write.mode("overwrite").parquet(path)
            (pq,) = [f for f in os.listdir(path) if f.endswith(".parquet")]
            real_files.append(
                {
                    "path": os.path.join("data", f"1998_{name}", pq),
                    "y_min": 1998,
                    "y_max": 1998,
                    "m_min": lo,
                    "m_max": hi,
                }
            )

        # manifest level: ONE real manifest (json of file entries) +
        # N phantom manifests whose paths do not exist.
        real_manifest = os.path.join("metadata", "manifest_real.json")
        with open(os.path.join(tbl, real_manifest), "w") as f:
            f.write("\n".join(json.dumps(e) for e in real_files) + "\n")
        manifest_list = [
            {
                "manifest_path": f"metadata/phantom_manifest_{i}.json",
                "y_min": 1990 + (i % 8),
                "y_max": 1990 + (i % 8),  # none covers 1998
            }
            for i in range(n_phantom_manifests)
        ] + [{"manifest_path": real_manifest, "y_min": 1998, "y_max": 1998}]
        ml_path = os.path.join(meta, "manifest_list.json")
        with open(ml_path, "w") as f:
            f.write("\n".join(json.dumps(e) for e in manifest_list) + "\n")
        # inject phantom FILE entries into the real manifest too:
        # in-range manifest, out-of-range file stats (m in 13..24)
        with open(os.path.join(tbl, real_manifest), "a") as f:
            for i in range(4):
                f.write(
                    json.dumps(
                        {
                            "path": f"data/phantom_file_{i}.parquet",
                            "y_min": 1998,
                            "y_max": 1998,
                            "m_min": 13 + i,
                            "m_max": 13 + i,
                        }
                    )
                    + "\n"
                )

        t0 = time.perf_counter()
        # level 1: prune manifest list by partition range (y == 1998)
        survivors = (
            spark.read.json(ml_path)
            .where((F.col("y_min") <= 1998) & (F.col("y_max") >= 1998))
            .collect()
        )  # O(manifests) metadata
        assert len(survivors) == 1, survivors
        # level 2: prune file entries by column stats (m <= 6)
        files = (
            spark.read.json(
                *[os.path.join(tbl, s["manifest_path"]) for s in survivors]
            )
            .where((F.col("m_min") <= 6) & (F.col("m_max") >= 1))
            .where(F.col("m_min") <= 6)
            .collect()
        )  # O(files in surviving manifests)
        sel = [r["path"] for r in files if r["m_min"] <= 6 and r["m_max"] <= 12]
        assert sel == [real_files[0]["path"]], sel
        got = (
            spark.read.parquet(*[os.path.join(tbl, p) for p in sel])
            .where(F.col("m") <= 6)
            .agg(F.count("*").alias("n"), F.sum("price").alias("s"))
            .collect()[0]
        )
        dt = time.perf_counter() - t0
        want = (
            o.filter((F.col("y") == 1998) & (F.col("m") <= 6))
            .agg(F.count("*").alias("n"), F.sum("price").alias("s"))
            .collect()[0]
        )
        assert (got["n"], got["s"]) == (want["n"], want["s"])
        print(
            f"[{n_phantom_manifests} phantom manifests + 4 phantom files] "
            f"two-level prune exact ({got['n']} rows), planning+read {dt:.2f}s"
        )


if __name__ == "__main__":
    main()
