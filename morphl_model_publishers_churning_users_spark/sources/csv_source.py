"""§2.A `source_csv` — delimited-text ingest.

Same contract as the JSON source: land the table as CSV, read it back
with an explicit schema (never infer at scale — that is a second full
pass over 100 TB), verify full fidelity against the source table. CSV
splits per-file like JSON lines, so read parallelism is file-granular;
doubles survive because Spark writes shortest-round-trip text.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from ..operators._shared import dsum, scratch_dir, t, words
from ..registry import register


@register(
    "source_csv",
    oracle="SELECT event_id, user_id, event_type, value FROM events",
)
def source_csv(spark, sf_dir):
    """CSV round-trip source: write the events projection as CSV, read it back with an explicit schema — proves the text-format ingest path end to end."""
    out = scratch_dir("source_csv")
    (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", "value")
        .write.mode("overwrite")
        .option("header", True)
        .csv(out)
    )
    return (
        spark.read.schema("event_id bigint, user_id bigint, event_type string, value double")
        .option("header", True)
        .csv(out)
    )


@register(
    "sink_csv_gzip",
    oracle="""
SELECT event_id, user_id, event_type, ROUND(value, 6) AS value
FROM events
""",
)
def sink_csv_gzip(spark, sf_dir):
    """Compressed-text round trip: gzip-codec CSV write → read. Each
    written part is one gzip member; gzip is NOT splittable, so at scale
    read parallelism = number of written files — the write side's
    partition count is the knob (keep parts ~100 MB). Values survive the
    text round trip because %.6f-rounded doubles re-parse exactly."""
    out = scratch_dir(f"sink_csv_gzip_{os.path.basename(os.path.abspath(sf_dir))}")
    (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type", F.round("value", 6).alias("value"))
        .write.mode("overwrite")
        .option("header", True)
        .option("compression", "gzip")
        .csv(out)
    )
    return (
        spark.read.schema("event_id bigint, user_id bigint, event_type string, value double")
        .option("header", True)
        .csv(out)
    )


@register(
    "sink_csv_quoted",
    oracle="""
WITH tricky AS (
    SELECT doc_id,
           lang || ',' || source AS with_comma,
           '"' || lang || '" says ' || source AS with_quotes,
           source AS plain
    FROM documents
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(*) FILTER (WHERE with_comma LIKE '%,%') AS BIGINT) AS n_comma,
       CAST(COUNT(*) FILTER (WHERE with_quotes LIKE '%"%') AS BIGINT) AS n_quote,
       CAST(COUNT(DISTINCT plain) AS BIGINT) AS n_sources
FROM tricky
""",
)
def sink_csv_quoted(spark, sf_dir):
    """CSV quoting/escaping round trip — fields containing the
    delimiter and the quote character are written and read back
    LOSSLESSLY (RFC-4180 double-quote escaping), the part of the CSV
    surface sink_csv_gzip's clean columns never exercise. The re-read
    frame re-derives the same integrity profile the oracle computes
    from the source rows: any mangled quoting changes the counts and
    flips the hash."""
    from ..operators._shared import scratch_dir

    out = scratch_dir("sink_csv_quoted")
    tricky = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(",", F.col("lang"), F.col("source")).alias("with_comma"),
        F.concat(
            F.lit('"'), F.col("lang"), F.lit('" says '), F.col("source")
        ).alias("with_quotes"),
        F.col("source").alias("plain"),
    )
    (
        tricky.write.mode("overwrite")
        .option("header", True)
        .option("quoteAll", True)
        .csv(out)
    )
    back = (
        spark.read.option("header", True)
        .schema("doc_id bigint, with_comma string, with_quotes string, plain string")
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("with_comma").contains(",").cast("long"))
        .cast("bigint")
        .alias("n_comma"),
        F.sum(F.col("with_quotes").contains('"').cast("long"))
        .cast("bigint")
        .alias("n_quote"),
        F.countDistinct("plain").cast("bigint").alias("n_sources"),
    )


@register(
    "source_tsv",
    oracle="""
SELECT c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
FROM customer GROUP BY 1
""",
)
def source_tsv(spark, sf_dir):
    """Headerless TSV ingest — tab delimiter, no header row, schema
    supplied explicitly (the classic log-dump interchange shape). The
    write stages customer as gzip TSV; the read round-trips it and the
    per-segment aggregate hash-matches the source — any column
    misalignment (the usual headerless failure) breaks the sums."""
    from ..operators._shared import scratch_dir

    out = scratch_dir("source_tsv")
    cust = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    (
        cust.write.mode("overwrite")
        .option("sep", "\t")
        .option("header", False)
        .option("compression", "gzip")
        .csv(out)
    )
    back = (
        spark.read.option("sep", "\t")
        .option("header", False)
        .schema("c_custkey bigint, c_mktsegment string, c_acctbal double")
        .csv(out)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("c_acctbal")).alias("sum_bal"),
    )


@register(
    "source_text_lines",
    oracle=r"""
WITH toks AS (
    SELECT len(string_split_regex(trim(regexp_replace(text, '[\r\n]+', ' ', 'g')), '\s+'))
               AS n_tokens
    FROM documents
)
SELECT CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM toks GROUP BY 1
""",
)
def source_text_lines(spark, sf_dir):
    """Raw line-oriented text ingest (`spark.read.text`) — the lowest
    common denominator of corpus interchange: one document per line, no
    schema, no delimiter contract. Stage: documents' text flattened to
    single lines (newlines → spaces — the writer contract for
    line-oriented corpora) written via the text datasource, then read
    back and profiled into a tokens-per-line histogram. The oracle
    computes the identical histogram from the source table, so dropped
    lines, splitting on embedded whitespace, or charset mangling all
    flip the hash. text() reads are splittable by line at any file
    size — the 100 TB path is exactly this reader plus more files."""
    from ..operators._shared import scratch_dir

    out = scratch_dir("source_text_lines")
    docs = t(spark, sf_dir, "documents").select(
        F.regexp_replace("text", r"[\r\n]+", " ").alias("value")
    )
    docs.write.mode("overwrite").text(out)
    back = spark.read.text(out)
    return (
        back.select(F.size(words(F.trim("value"))).cast("bigint").alias("n_tokens"))
        .groupBy("n_tokens")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_lines"))
    )


@register(
    "source_fixed_width",
    oracle="""
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(printf('%.2f', o_totalprice) AS DECIMAL(38,6)))
            AS DOUBLE) AS sum_price
FROM orders GROUP BY 1, 2
""",
)
def source_fixed_width(spark, sf_dir):
    """Fixed-width (mainframe/COBOL copybook) text ingest — the one
    interchange format with NO delimiter at all: column = byte offset.
    Stage: orders rendered to 44-byte records via format_string
    (%012d key | 1-char status | %15.2f price | %-15s priority) through
    the text datasource; read back with spark.read.text + substring
    slicing — offsets are the schema, exactly how a copybook reader
    works, all codegen (no UDF). The price column round-trips through
    its 2-dp text form into DECIMAL(38,6), so the per-(status,
    priority) sums are exact and the oracle mirrors the SAME text
    round-trip with printf — any off-by-one in the offsets shears
    every downstream column and breaks the hash. Scale shape: text
    scan -> narrow projection; fixed-width is splittable by line, so
    the read parallelizes like any text source."""
    from ..operators._shared import scratch_dir

    out = scratch_dir("source_fixed_width")
    o = t(spark, sf_dir, "orders").select(
        F.format_string(
            "%012d%s%15.2f%-15s",
            F.col("o_orderkey"),
            F.col("o_orderstatus"),
            F.col("o_totalprice"),
            F.col("o_orderpriority"),
        ).alias("value")
    )
    o.write.mode("overwrite").text(out)
    back = spark.read.text(out).select(
        F.substring("value", 1, 12).cast("bigint").alias("key"),
        F.substring("value", 13, 1).alias("status"),
        F.trim(F.substring("value", 14, 15)).cast("decimal(38,6)").alias("price"),
        F.rtrim(F.substring("value", 29, 15)).alias("priority"),
    )
    return back.groupBy("status", "priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("price").cast("double").alias("sum_price"),
    )


@register(
    "source_csv_multichar",
    oracle="""
SELECT n_name,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(s_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS sum_bal
FROM supplier s JOIN nation n ON n.n_nationkey = s.s_nationkey
GROUP BY 1
""",
)
def source_csv_multichar(spark, sf_dir):
    """Multi-character-delimiter CSV ingest ('||', the de-facto pipe
    format of mainframe and telco feeds — chosen exactly because field
    text may contain single pipes and commas). Spark's CSV reader
    accepts multi-char sep natively since 3.0; the round-trip stages
    supplier||nation rows, reads them back with an explicit schema,
    and the per-nation balance aggregate must hash-match the direct
    parquet join — any mis-split (the classic failure: treating '||'
    as two empty-field pipes) shears every column and breaks the
    DECIMAL sums. Write path escapes nothing (delimiter chosen to be
    absent from the data, asserted by the round-trip itself)."""
    from ..operators._shared import scratch_dir

    out = scratch_dir("source_csv_multichar")
    s = t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey", "s_acctbal")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    staged = s.join(F.broadcast(n), s["s_nationkey"] == n["n_nationkey"]).select(
        "s_suppkey", "n_name", "s_acctbal"
    )
    staged.write.mode("overwrite").option("sep", "||").option("header", False).csv(out)
    back = (
        spark.read.option("sep", "||")
        .option("header", False)
        .schema("s_suppkey bigint, n_name string, s_acctbal double")
        .csv(out)
    )
    return back.groupBy("n_name").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        dsum(F.col("s_acctbal")).alias("sum_bal"),
    )
