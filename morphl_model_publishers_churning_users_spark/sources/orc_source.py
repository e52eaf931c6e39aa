"""§2.A extension — ORC sink + read-back (second columnar format).

A 100 TB landing zone is not always parquet; ORC is the other mainstream
columnar format Spark reads/writes natively (vectorized reader, pushdown,
same DataSource V2 machinery). The op proves full-fidelity round-trip —
including TIMESTAMP_NTZ — by re-aggregating the ORC copy and matching the
oracle computed on the parquet original.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from ..operators._shared import dsum, scratch_dir, t
from ..registry import register


@register(
    "sink_orc",
    oracle="""
SELECT event_type, COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events GROUP BY 1
""",
)
def sink_orc(spark, sf_dir):
    """ORC sink round-trip: write the projection as ORC and read it back — the columnar alternative output format."""
    out = scratch_dir(f"sink_orc_{os.path.basename(os.path.abspath(sf_dir))}")
    t(spark, sf_dir, "events").write.mode("overwrite").orc(out)
    back = spark.read.schema(
        "event_id bigint, ts timestamp_ntz, user_id bigint, "
        "event_type string, value double, props string"
    ).orc(out)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum(F.col("value")).alias("sum_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )
