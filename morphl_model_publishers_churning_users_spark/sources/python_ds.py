"""Custom source via the Python DataSource API (Spark 4).

The escape hatch when data lives behind an API/format Spark has no
connector for: the reader declares its own PARTITIONS, each read on an
executor (Arrow-batched back to the JVM) — so a hand-written connector
still scales out instead of funneling through the driver. The generator
here is deterministic arithmetic so a DuckDB ``range()`` twin can verify
the whole path (registration → partition planning → distributed read).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from ..operators._shared import t  # noqa: F401  (package import parity)
from ..registry import register

_N_PARTS = 8
_ROWS_PER_PART = 2500


class _Span(InputPartition):
    def __init__(self, index: int):
        self.index = index


class _SyntheticReader(DataSourceReader):
    def partitions(self):
        return [_Span(i) for i in range(_N_PARTS)]

    def read(self, partition):
        lo = partition.index * _ROWS_PER_PART
        for i in range(lo, lo + _ROWS_PER_PART):
            yield (i, partition.index, (i * 7 % 100) / 10.0)


class SyntheticEventsSource(DataSource):
    """`synthetic_events` format: 20k deterministic (id, part, val) rows."""

    @classmethod
    def name(cls):
        return "synthetic_events"

    def schema(self):
        return "id BIGINT, part INT, val DOUBLE"

    def reader(self, schema):
        return _SyntheticReader()


@register(
    "source_python_ds",
    oracle=f"""
SELECT range AS id,
       CAST(range // {_ROWS_PER_PART} AS INT) AS part,
       CAST(range * 7 % 100 AS DOUBLE) / 10.0 AS val
FROM range(0, {_N_PARTS * _ROWS_PER_PART})
""",
)
def source_python_ds(spark, sf_dir):
    """Register + read the custom Python data source. Each of the 8
    declared partitions is one executor task (check: df.rdd has 8
    partitions, no driver-side materialization); identical integer
    arithmetic on both engines makes the val doubles bit-equal."""
    from ..catalog import ensure_confs

    ensure_confs(spark)  # ships the package zip so executors can unpickle
    spark.dataSource.register(SyntheticEventsSource)
    return spark.read.format("synthetic_events").load()


_STREAM_BATCHES = 4


class _SyntheticStreamReader(SimpleDataSourceStreamReader):
    """Offset = next batch index; content is pure arithmetic, so replays
    (readBetweenOffsets — the exactly-once recovery path) regenerate
    byte-identical rows."""

    def initialOffset(self):
        return {"i": 0}

    def read(self, start):
        i = start["i"]
        if i >= _STREAM_BATCHES:
            return iter([]), {"i": i}
        lo = i * _ROWS_PER_PART
        rows = [(j, i, (j * 7 % 100) / 10.0) for j in range(lo, lo + _ROWS_PER_PART)]
        return iter(rows), {"i": i + 1}

    def readBetweenOffsets(self, start, end):
        out = []
        for b in range(start["i"], end["i"]):
            lo = b * _ROWS_PER_PART
            out.extend((j, b, (j * 7 % 100) / 10.0) for j in range(lo, lo + _ROWS_PER_PART))
        return iter(out)


class SyntheticStreamSource(DataSource):
    """`synthetic_stream` format: the same rows as `synthetic_events`,
    delivered as 4 replayable micro-batches."""

    @classmethod
    def name(cls):
        return "synthetic_stream"

    def schema(self):
        return "id BIGINT, part INT, val DOUBLE"

    def simpleStreamReader(self, schema):
        return _SyntheticStreamReader()


@register(
    "source_python_ds_stream",
    oracle=f"""
SELECT range AS id,
       CAST(range // {_ROWS_PER_PART} AS INT) AS part,
       CAST(range * 7 % 100 AS DOUBLE) / 10.0 AS val
FROM range(0, {_STREAM_BATCHES * _ROWS_PER_PART})
""",
)
def source_python_ds_stream(spark, sf_dir):
    """STREAMING custom connector (Spark 4 SimpleDataSourceStreamReader):
    offsets are checkpointed JSON, readBetweenOffsets replays committed
    ranges after failure — the exactly-once contract a hand-written
    connector must honor. The bounded driver poll below exists only to
    drain the 4 synthetic batches for oracle comparison (AvailableNow
    snapshots just the first offset of a simple reader, so a short
    processing-time trigger + stop is the bounded-run idiom)."""
    from ..catalog import ensure_confs

    ensure_confs(spark)
    spark.dataSource.register(SyntheticStreamSource)
    stream = spark.readStream.format("synthetic_stream").load()
    return _drain(spark, stream, _STREAM_BATCHES * _ROWS_PER_PART)


def _drain(spark, stream, expected):
    """Run the streaming DataFrame ``stream`` into a memory sink until
    the sink holds ``expected`` rows, stop it, and return the sink table.
    Raises the query's own exception when it dies, and ``TimeoutError``
    when 120 s pass first: a short table is never returned as if it
    were complete."""
    import time
    import uuid

    from ..operators._shared import scratch_dir

    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", scratch_dir(f"ckpt_{name}"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    try:
        while (n := spark.table(name).count()) < expected:
            if q.exception() is not None or not q.isActive:
                # Read the exception again: a query sets it before it stops.
                raise q.exception() or RuntimeError(
                    f"stream {name} stopped with {n} of {expected} rows"
                )
            if time.time() >= deadline:
                raise TimeoutError(f"stream {name} held {n} of {expected} rows after 120 s")
            time.sleep(0.3)
    finally:
        q.stop()
    return spark.table(name)
