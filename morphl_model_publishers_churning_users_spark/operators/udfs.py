"""§2.K — the UDF/UDAF/UDTF surface.

The reference's preprocessing ran row-at-a-time Python over Py4J — its
classic perf sink [SURVEY.md §3.1, unverified]. The ladder here, fastest
first: built-in expressions (everything else in this engine) → Arrow
pandas UDFs (udf_pandas / udf_grouped_*, ~10-100× the row-at-a-time
path) → scalar Python UDF (udf_python, kept as the explicit slow-path
demonstration) → Python UDTF (one-to-many).

Every UDF here has a pure-SQL twin as its oracle, which is exactly the
point: the UDF surface must agree with the declarative surface.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType

from ..registry import register
from ._shared import qround, t


@register(
    "udf_python",
    oracle="SELECT doc_id, lower(lang || ':' || source) AS tag FROM documents",
)
def udf_python(spark, sf_dir):
    """Row-at-a-time Python UDF — the deliberate slow-path baseline
    (each row crosses the JVM↔Python boundary individually)."""

    @F.udf(returnType=StringType())
    def normalize_tag(lang: str, source: str) -> str:
        return f"{lang}:{source}".lower()

    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", normalize_tag("lang", "source").alias("tag"))


@register(
    "udf_pandas",
    oracle="SELECT event_id, ROUND(LN(1 + value), 6) AS log1p_value FROM events",
)
def udf_pandas(spark, sf_dir):
    """Vectorized scalar UDF: whole Arrow batches as pandas Series —
    the correct shape when Python is unavoidable."""

    @pandas_udf(DoubleType())
    def log1p(v: pd.Series) -> pd.Series:
        import numpy as np

        return np.log1p(v).round(6)

    ev = t(spark, sf_dir, "events")
    return ev.select("event_id", log1p("value").alias("log1p_value"))


@register(
    "udf_grouped_map",
    oracle="""
WITH stats AS (
    SELECT event_id, user_id, value,
           AVG(value) OVER (PARTITION BY user_id) AS mu,
           STDDEV_SAMP(value) OVER (PARTITION BY user_id) AS sd
    FROM events
)
SELECT event_id, user_id,
       CASE WHEN sd IS NULL OR sd = 0 THEN NULL
            ELSE ROUND((value - mu) / sd, 6) END AS z_value
FROM stats
""",
)
def udf_grouped_map(spark, sf_dir):
    """Grouped-map (applyInPandas): per-user z-score over the whole
    group — the SNIPPETS.md [1] pattern, one shuffle on the grouping
    key.

    r13b (guide §4.2 + §2.6): grouping straight on user_id meant one
    Python call (and one Arrow batch) per user — ~1.5k tiny frames —
    and AQE then coalesced the ~2.4 MB shuffle to a SINGLE partition,
    so every call ran serially in one task (bytes-based coalescing
    cannot see Python compute cost). The group key is now a
    deterministic hash BUCKET of user_id (output-independent: z-scores
    only ever read the user's own rows, recomputed per user inside the
    bucket frame by the same pandas calls on the same sub-frames), and
    an explicit repartition — REPARTITION_BY_NUM, which AQE does not
    coalesce — keeps the Python stage as wide as the session. Isolated
    noop min-of-3 at sf0.1: 3.08 s → 0.68 s; variant A/B 3.77 s plain
    vs 0.72 s bucketed+repartitioned, output sets identical."""

    def zscore(pdf: pd.DataFrame) -> pd.DataFrame:
        sd = pdf["value"].std(ddof=1)  # matches STDDEV_SAMP
        mu = pdf["value"].mean()
        if pd.isna(sd) or sd == 0:
            z = pd.Series([None] * len(pdf), dtype="float64")
        else:
            z = ((pdf["value"] - mu) / sd).round(6)
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "user_id": pdf["user_id"], "z_value": z}
        )

    def zscore_bucket(pdf: pd.DataFrame) -> pd.DataFrame:
        return pdf.groupby("user_id", group_keys=False)[
            ["event_id", "user_id", "value"]
        ].apply(zscore)

    ev = t(spark, sf_dir, "events").select("event_id", "user_id", "value")
    par = spark.sparkContext.defaultParallelism
    n_buckets = max(64, 8 * par)
    return (
        ev.withColumn("_b", F.pmod(F.xxhash64("user_id"), F.lit(n_buckets)))
        .repartition(par, "_b")
        .groupBy("_b")
        .applyInPandas(
            lambda pdf: zscore_bucket(pdf),
            schema="event_id bigint, user_id bigint, z_value double",
        )
    )


@register(
    "udf_grouped_agg",
    oracle="""
SELECT event_type,
       ROUND(SUM(value * CAST(props->>'$.k' AS INTEGER)) / SUM(CAST(props->>'$.k' AS INTEGER)), 6)
           AS weighted_mean
FROM events GROUP BY event_type
""",
)
def udf_grouped_agg(spark, sf_dir):
    """Pandas UDAF: k-weighted mean of value per event type (custom
    aggregate the built-ins don't offer as one function)."""

    @pandas_udf(DoubleType())
    def wmean(v: pd.Series, w: pd.Series) -> float:
        return round(float((v * w).sum() / w.sum()), 6)

    ev = t(spark, sf_dir, "events").withColumn(
        "k", F.get_json_object("props", "$.k").cast("int")
    )
    return ev.groupBy("event_type").agg(wmean("value", "k").alias("weighted_mean"))


@register(
    "udtf_python",
    oracle="""
SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS word
FROM documents WHERE doc_id < 100
""",
)
def udtf_python(spark, sf_dir):
    """Python UDTF (Spark 4): one row in, many rows out — the typed
    table-function version of explode for custom logic."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string")
    class SplitWords:
        def eval(self, doc_id: int, text: str):
            for word in text.strip().split():
                yield (word,)

    spark.udtf.register("split_words", SplitWords)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).createOrReplaceTempView(
        "_udtf_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, s.word FROM _udtf_docs d, LATERAL split_words(d.doc_id, d.text) s"
    )


@register(
    "udf_arrow",
    oracle="SELECT event_id, ROUND(value * 2 + 1, 6) AS boosted FROM events",
)
def udf_arrow(spark, sf_dir):
    """Arrow-native batch UDF (mapInArrow): the zero-copy tier below
    pandas UDFs — RecordBatches flow straight from the JVM into pyarrow
    compute kernels with no pandas materialization, the right surface
    when the Python side is itself columnar (Arrow-based feature libs,
    model tokenizers). Arithmetic happens in the kernel; the 6-decimal
    rounding stays Spark-side so both engines round identical doubles."""
    import pyarrow as pa

    ev = t(spark, sf_dir, "events").select("event_id", "value")

    def boost(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for b in batches:
            yield pa.RecordBatch.from_arrays(
                [b.column("event_id"), pc.add(pc.multiply(b.column("value"), 2.0), 1.0)],
                ["event_id", "boosted"],
            )

    out = ev.mapInArrow(boost, schema="event_id bigint, boosted double")
    return out.select("event_id", F.round("boosted", 6).alias("boosted"))


@register(
    "udf_cogrouped_map",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment,
       COUNT(o.o_orderkey) AS n_orders,
       ROUND(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_spend
FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY c.c_custkey, c.c_mktsegment
""",
)
def udf_cogrouped_map(spark, sf_dir):
    """Cogrouped-map (cogroup + applyInPandas): both sides shuffle once
    on the key, then each (customer-group, orders-group) pair lands in a
    single Arrow batch for arbitrary Python merge logic — the escape
    hatch when a keyed merge can't be said as a join. Here the merge IS
    expressible (LEFT JOIN + GROUP BY is the oracle), which is the point:
    the custom-path result must agree with the declarative one. Keyless
    customers get n_orders=0 / NULL spend, matching LEFT JOIN."""

    # r13 optimization (guide §4.2 — hand whole batches to vectorized
    # code, don't loop per key): cogrouping directly on c_custkey called
    # the Python merge ONCE PER CUSTOMER — ~15k calls at sf0.1, each
    # paying its own Arrow batch pair + three pandas-frame
    # constructions, 28.1 s isolated (noop min-of-2) for a job whose
    # data fits in one batch. The cogroup key is now a deterministic
    # HASH BUCKET of the customer key (results are independent of the
    # bucketing — every customer still meets exactly its own orders via
    # the in-batch vectorized merge), so each Python call receives a
    # real batch and the per-customer work runs through pandas
    # merge/groupby. Bucket count scales with the session's parallelism
    # (floor 64) — output identical for ANY bucket count, so the
    # driver's lower-core bench run stays comparable. Per-customer sum
    # order changes (pandas groupby Cython sum vs per-group numpy
    # pairwise sum) — within the op's existing cross-engine tolerance:
    # the 6-decimal round already absorbs DuckDB's own summation order,
    # and the batch row order feeding the old sum was itself
    # shuffle-nondeterministic. Oracle hash verified unchanged at
    # sf0.001/0.01/0.1. The cogrouped-map contract surface is
    # unchanged: cogroup + applyInPandas, one exchange per side
    # (plan-pinned in tests/test_plans.py).

    def merge(cust: pd.DataFrame, orders: pd.DataFrame) -> pd.DataFrame:
        if cust.empty:
            return pd.DataFrame(
                columns=["c_custkey", "c_mktsegment", "n_orders", "total_spend"]
            )
        agg = orders.groupby("o_custkey")["o_totalprice"].agg(["count", "sum"])
        out = cust[["c_custkey", "c_mktsegment"]].merge(
            agg, left_on="c_custkey", right_index=True, how="left"
        )
        n = out["count"].fillna(0).astype("int64")
        total = pd.Series(
            [
                round(float(s), 6) if k > 0 else None
                for s, k in zip(out["sum"], n)
            ],
            dtype="object",
            index=out.index,
        )
        return pd.DataFrame(
            {
                "c_custkey": out["c_custkey"],
                "c_mktsegment": out["c_mktsegment"],
                "n_orders": n,
                "total_spend": total,
            }
        )

    nb = max(64, spark.sparkContext.defaultParallelism * 8)
    c = t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.pmod(F.xxhash64("c_custkey"), F.lit(nb)).alias("b"),
    )
    o = t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_totalprice",
        F.pmod(F.xxhash64("o_custkey"), F.lit(nb)).alias("b"),
    )
    return (
        c.groupBy("b")
        .cogroup(o.groupBy("b"))
        .applyInPandas(
            merge,
            schema="c_custkey bigint, c_mktsegment string, n_orders bigint, total_spend double",
        )
    )


@register(
    "udf_python_arrow",
    oracle="""
SELECT doc_id,
       lower(lang) || '/' || CAST(n_chars AS VARCHAR) AS tag,
       n_chars * 2 AS doubled
FROM documents
""",
)
def udf_python_arrow(spark, sf_dir):
    """Arrow-OPTIMIZED scalar Python UDF (Spark 4 useArrow=True): same
    row-at-a-time author experience as udf_python, but batches cross
    the JVM↔Python boundary as Arrow instead of pickled rows — the
    drop-in ~2-5× serialization win when a UDF can't be vectorized as a
    pandas_udf. Same SQL twin discipline: must agree with the
    declarative form."""

    @F.udf(returnType=StringType(), useArrow=True)
    def tag(lang: str, n_chars: int) -> str:
        return f"{lang.lower()}/{n_chars}"

    @F.udf(returnType="bigint", useArrow=True)
    def doubled(n_chars: int) -> int:
        return n_chars * 2

    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", tag("lang", "n_chars").alias("tag"), doubled("n_chars").alias("doubled"))


@register(
    "udf_pandas_iter",
    oracle="""
SELECT event_id, ROUND(LN(1 + value), 6) AS log1p_value,
       ROUND(value * value, 6) AS value_sq
FROM events
""",
)
def udf_pandas_iter(spark, sf_dir):
    """Iterator-form pandas UDF (Iterator[Series] -> Iterator[Series])
    — the shape for UDFs with EXPENSIVE one-time setup (model load,
    dictionary mmap): the generator body runs once per PARTITION, the
    loop once per Arrow batch, so setup cost amortizes over the whole
    partition instead of repeating per batch. Functionally identical
    to the plain pandas_udf (same oracle arithmetic) — the contract
    under test is the iterator lifecycle."""
    from typing import Iterator

    @pandas_udf(DoubleType())
    def log1p_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        import numpy as np

        setup_const = 1.0  # stand-in for per-partition model load
        for v in batches:
            yield np.log1p(v * setup_const).round(6)

    @pandas_udf(DoubleType())
    def square_iter(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for v in batches:
            yield (v * v).round(6)

    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        log1p_iter("value").alias("log1p_value"),
        square_iter("value").alias("value_sq"),
    )


@register(
    "udf_pandas_struct",
    oracle="""
SELECT doc_id,
       CAST(length(trim(text)) AS BIGINT) AS n_chars,
       CAST(length(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_words,
       FLOOR(CAST(length(trim(text)) AS DOUBLE)
             / length(string_split_regex(trim(text), '\\s+'))
             * 1000000 + 0.5) / 1000000 AS chars_per_word
FROM documents WHERE length(trim(text)) > 0
""",
)
def udf_pandas_struct(spark, sf_dir):
    """Struct-RETURNING vectorized pandas UDF — one Arrow round trip
    producing several derived fields at once (the shape a feature
    extractor wants: compute shared intermediates once, emit a struct,
    explode to columns). Completes the §2.K signature matrix: scalar,
    iterator, grouped map/agg, cogrouped, UDTF, arrow — and now
    struct-valued scalar."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("n_chars bigint, n_words bigint, chars_per_word double")
    def textshape(s: pd.Series) -> pd.DataFrame:
        trimmed = s.str.strip()
        n_chars = trimmed.str.len().astype("int64")
        n_words = trimmed.str.split(r"\s+").str.len().astype("int64")
        cpw = ((n_chars / n_words) * 1e6 + 0.5).apply(int) / 1e6
        return pd.DataFrame(
            {"n_chars": n_chars, "n_words": n_words, "chars_per_word": cpw}
        )

    d = t(spark, sf_dir, "documents").filter(F.length(F.trim("text")) > 0)
    return d.select("doc_id", textshape("text").alias("s")).select(
        "doc_id", "s.n_chars", "s.n_words", "s.chars_per_word"
    )


@register(
    "udf_window_pandas",
    oracle="""
SELECT event_id, user_id,
       FLOOR(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             * 1000000 + 0.5) / 1000000 AS roll_avg
FROM events WHERE user_id < 50
""",
)
def udf_window_pandas(spark, sf_dir):
    """Pandas UDAF applied OVER A WINDOW — the last §2.K signature:
    the same GROUPED_AGG Arrow kernel that powers udf_grouped_agg,
    but evaluated per bounded window frame (3-row trailing mean per
    user). Spark ships each frame's slice to the UDAF as a pandas
    Series — custom rolling statistics (trimmed means, weighted
    quantiles) that no built-in window function expresses, still
    Arrow-batched and partition-parallel, never a driver loop. The
    frame must be BOUNDED (rows between) — unbounded pandas window
    UDAFs fall back to a per-row full-partition slice and die at
    scale; that trap is the reason this operator exists as the
    documented exemplar. Quantized at 1e-6 via floor(x*1e6+0.5) on
    both engines (double-vs-DECIMAL AVG rounding differs at the 6th
    decimal on banker's-rounding boundaries)."""
    from pyspark.sql import Window

    @pandas_udf("double")
    def roll_mean(v: pd.Series) -> float:
        return float(v.mean())

    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-2, Window.currentRow)
    )
    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    raw = roll_mean(F.col("value")).over(w)
    return e.select(
        "event_id",
        "user_id",
        qround(raw).alias("roll_avg"),
    )


@register(
    "udtf_arrow",
    oracle="""
SELECT doc_id,
       unnest(string_split_regex(trim(text), '\\s+')) AS word,
       CAST(length(unnest(string_split_regex(trim(text), '\\s+'))) AS BIGINT) AS wlen
FROM documents WHERE doc_id < 100
""",
)
def udtf_arrow(spark, sf_dir):
    """Arrow-optimized Python UDTF (Spark 4's useArrow=True) — the
    one-to-many surface at the Arrow transfer tier: eval() yields per
    input row but rows batch through Arrow instead of pickle, which
    is the difference between a UDTF that keeps up with a 100 TB
    explode and one that serializes row-at-a-time (the same ladder
    udf_python → udf_pandas documents for scalars, completed here for
    table functions). Emits (word, wlen) so the output is genuinely
    multi-column — the UDTF contract explode+split alone can't give
    without a second pass."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word: string, wlen: bigint", useArrow=True)
    class SplitWordsArrow:
        def eval(self, text: str):
            for word in text.strip().split():
                yield word, len(word)

    spark.udtf.register("split_words_arrow", SplitWordsArrow)
    t(spark, sf_dir, "documents").filter(F.col("doc_id") < 100).createOrReplaceTempView(
        "_udtf_arrow_docs"
    )
    return spark.sql(
        "SELECT d.doc_id, s.word, s.wlen FROM _udtf_arrow_docs d,"
        " LATERAL split_words_arrow(d.text) s"
    )
