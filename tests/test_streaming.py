"""Streaming property tests: batch-equivalence is covered by the oracle
suite; here we assert the *incremental* behavior — a second AvailableNow
run against the same checkpoint processes only newly-arrived files."""

from __future__ import annotations

import shutil
import time
import uuid

import pyspark.sql.functions as F
import pytest
from pyspark.errors import StreamingQueryException

from morphl_model_publishers_churning_users_spark.catalog import table
from morphl_model_publishers_churning_users_spark.operators._shared import scratch_dir
from morphl_model_publishers_churning_users_spark.sources.python_ds import _drain


def _run_counts(spark, src, ckpt, name):
    schema = spark.read.parquet(src).schema
    sdf = spark.readStream.schema(schema).format("parquet").load(src)
    agg = sdf.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {r.event_type: r.n for r in spark.table(name).collect()}


def test_incremental_second_batch(spark, sf_dir):
    run_id = uuid.uuid4().hex[:8]
    src = scratch_dir(f"incr_src_{run_id}")
    ckpt = scratch_dir(f"incr_ckpt_{run_id}")
    ev = table(spark, sf_dir, "events")
    first = ev.filter(F.col("event_type") != "error")
    second = ev.filter(F.col("event_type") == "error")

    first.write.mode("overwrite").parquet(src)
    counts1 = _run_counts(spark, src, ckpt, f"incr_a_{run_id}")
    assert "error" not in counts1
    assert counts1 == {r.event_type: r.n for r in first.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}

    # New partition lands; same checkpoint → only the new files are read,
    # and the complete-mode aggregate now includes both.
    second.write.mode("append").parquet(src)
    counts2 = _run_counts(spark, src, ckpt, f"incr_b_{run_id}")
    expected = {r.event_type: r.n for r in ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts2 == expected

    shutil.rmtree(src, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


def test_entry_smoke(spark):
    import __spark_entry__ as E

    df = E.entry(spark)
    assert df.count() > 0


def test_stream_state_partition_cap_preserves_results_and_restores_conf(spark, sf_dir):
    """The r11 state-parallelism policy: a session arriving with an
    extreme batch-tuned spark.sql.shuffle.partitions must not leak it
    into streaming state partitioning (measured at 2001: a
    stream-stream join's 4 state stores/partition trip a provider
    tracking race and the memory sink's task-result envelope exceeds
    maxResultSize). The capped run must produce IDENTICAL results to
    the default-conf run, and the batch setting must be restored after
    the bounded stream ends."""
    from morphl_model_publishers_churning_users_spark.registry import get_queries

    q = get_queries()["ts_watermark"]  # stateful windowed aggregate
    conf_key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf_key)
    base = sorted(map(tuple, q(spark, sf_dir).collect()))
    try:
        spark.conf.set(conf_key, "3000")
        capped = sorted(map(tuple, q(spark, sf_dir).collect()))
        assert spark.conf.get(conf_key) == "3000"  # batch conf restored
    finally:
        spark.conf.set(conf_key, prev)
    assert capped == base


def test_dedup_state_survives_restart(spark, sf_dir):
    """Exactly-once ACROSS RESTART: an event processed in run 1 and
    re-delivered in run 2 (the replayed-upstream case) must still be
    deduplicated, which requires the dropDuplicates key state to be
    RESTORED from the checkpoint — not just the file-source progress.
    Run 1 processes slice A; run 2 sees a full re-delivery of A plus a
    new slice B against the same checkpoint; the final count must be
    |A|+|B|, not 2|A|+|B|."""
    import uuid as _uuid

    run_id = _uuid.uuid4().hex[:8]
    src = scratch_dir(f"dedup_restart_src_{run_id}")
    ckpt = scratch_dir(f"dedup_restart_ckpt_{run_id}")
    ev = table(spark, sf_dir, "events").select("event_id", "event_type")
    a = ev.filter(F.col("event_type") != "error")
    b = ev.filter(F.col("event_type") == "error")
    n_a, n_b = a.count(), b.count()
    assert n_a > 0 and n_b > 0

    def run(name):
        schema = spark.read.parquet(src).schema
        sdf = spark.readStream.schema(schema).format("parquet").load(src)
        agg = sdf.dropDuplicates(["event_id"]).groupBy().agg(
            F.count(F.lit(1)).alias("n")
        )
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.table(name).collect()[0]["n"]

    try:
        a.write.mode("overwrite").parquet(src)
        assert run(f"dedup_r1_{run_id}") == n_a

        # restart: the upstream re-delivers ALL of A (new files, same
        # event_ids) plus the genuinely-new B
        a.write.mode("append").parquet(src)
        b.write.mode("append").parquet(src)
        assert run(f"dedup_r2_{run_id}") == n_a + n_b  # NOT 2*n_a + n_b
    finally:
        shutil.rmtree(src, ignore_errors=True)
        shutil.rmtree(ckpt, ignore_errors=True)


def test_dead_stream_raises_before_the_deadline(spark):
    """A stream that dies mid-run is an error, not a short table: the
    drain loop raises the query's exception long before its deadline,
    and leaves no query running."""
    dying = spark.readStream.format("rate").load().select(F.raise_error(F.lit("boom")))
    t0 = time.time()
    with pytest.raises(StreamingQueryException, match="boom"):
        _drain(spark, dying, expected=100)
    assert time.time() - t0 < 45
    assert not [q for q in spark.streams.active if q.name.startswith("pyds_stream_")]
