"""§2.G — scalar function surface.

The reference's ingest was string cleanup + JSON parsing of GA payloads
[SURVEY.md §2.G, unverified]. Everything here is a built-in Column
expression — JVM-side, inside whole-stage codegen, no Python boundary —
so these run at scan speed at any scale.

Dialect traps handled for oracle parity:
  * DuckDB regexp_replace is first-match unless the 'g' flag is given
    (Spark always replaces all);
  * DuckDB dayofweek is 0=Sunday, Spark is 1=Sunday (+1 in the oracle);
  * Spark floor/ceil return BIGINT, DuckDB DOUBLE (cast in the oracle);
  * DuckDB len(list) is BIGINT, Spark size() is INT (cast Spark side).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..operators._shared import qdec, qround, t, with_stats
from ..registry import register


@register(
    "fn_string",
    oracle="""
SELECT doc_id,
       lower(substr(text, 1, 20)) AS head_lower,
       upper(lang) AS lang_up,
       length(trim(text)) AS len_trim,
       lang || ':' || source AS tag,
       regexp_extract(text, '([a-z]+)', 1) AS first_word,
       regexp_replace(substr(text, 1, 40), '[aeiou]', '_', 'g') AS devoweled,
       (text LIKE '%the%') AS has_the,
       split_part(text, ' ', 1) AS token1
FROM documents
""",
)
def fn_string(spark, sf_dir):
    """String function surface — casing, trim, substring, concat, padding, regexp extract/replace — evaluated as one codegen projection."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lower(F.substring("text", 1, 20)).alias("head_lower"),
        F.upper("lang").alias("lang_up"),
        F.length(F.trim("text")).cast("bigint").alias("len_trim"),
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("tag"),
        F.regexp_extract("text", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace(F.substring("text", 1, 40), "[aeiou]", "_").alias("devoweled"),
        F.col("text").like("%the%").alias("has_the"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("token1"),
    )


@register(
    "fn_date",
    oracle="""
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
       CAST(o_orderdate AS DATE) AS od,
       year(o_orderdate) AS yr,
       month(o_orderdate) AS mo,
       dayofweek(CAST(o_orderdate AS DATE)) + 1 AS dow,
       CAST(o_orderdate AS DATE) + 30 AS due_date,
       date_diff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS days_to_y2k
FROM orders
""",
)
def fn_date(spark, sf_dir):
    """Date/time function surface — truncation, extraction, arithmetic, formatting over the event timestamps, all timezone-free on both engines."""
    o = t(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.trunc("o_orderdate", "month").alias("month_start"),
        od.alias("od"),
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.month("o_orderdate").cast("bigint").alias("mo"),
        F.dayofweek("o_orderdate").cast("bigint").alias("dow"),
        F.date_add(od, 30).alias("due_date"),
        F.datediff(F.lit("2000-01-01").cast("date"), od).cast("bigint").alias("days_to_y2k"),
    )


@register(
    "fn_math",
    oracle="""
SELECT p_partkey,
       ROUND(p_retailprice, 1) AS price_r1,
       ABS(p_size - 25) AS size_dev,
       CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
       CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
       ROUND(LN(p_retailprice), 6) AS price_ln,
       ROUND(SQRT(CAST(p_size AS DOUBLE)), 6) AS size_sqrt,
       ROUND(POWER(CAST(p_size AS DOUBLE), 2), 6) AS size_sq,
       CAST(SIGN(p_size - 25) AS BIGINT) AS size_sign,
       CAST(p_size // 10 AS BIGINT) AS size_div10,
       p_size % 7 AS size_mod7
FROM part
""",
)
def fn_math(spark, sf_dir):
    """Math function surface — rounding families, abs/sign, exp/log, power, modulo — with the cross-engine rounding discipline applied to every double output."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_r1"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.ceil("p_retailprice").cast("bigint").alias("price_ceil"),
        F.floor("p_retailprice").cast("bigint").alias("price_floor"),
        F.round(F.log("p_retailprice"), 6).alias("price_ln"),
        F.round(F.sqrt(F.col("p_size").cast("double")), 6).alias("size_sqrt"),
        F.round(F.pow(F.col("p_size").cast("double"), 2), 6).alias("size_sq"),
        F.signum(F.col("p_size") - 25).cast("bigint").alias("size_sign"),
        F.expr("p_size div 10").cast("bigint").alias("size_div10"),
        (F.col("p_size") % 7).alias("size_mod7"),
    )


@register(
    "fn_json",
    oracle="""
SELECT event_id,
       CAST(props->>'$.k' AS INTEGER) AS k_typed,
       props->>'$.k' AS k_str,
       props->>'$.missing' AS missing_val
FROM events
""",
)
def fn_json(spark, sf_dir):
    """JSON extraction — the reference's ingest core (GA batchGet payloads
    arrive as JSON strings). Typed via from_json, stringly via
    get_json_object; both JVM-side."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.from_json("props", "k INT").getField("k").alias("k_typed"),
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
    )


@register(
    "fn_array",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS BIGINT) AS dim,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
       ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 6) AS sum_all,
       ROUND(list_sum(list_transform(embedding[1:8], x -> CAST(x AS DOUBLE))), 6) AS sum_head,
       CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       ROUND(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), 6) AS sq_norm
FROM embeddings
""",
)
def fn_array(spark, sf_dir):
    """Array functions + higher-order lambdas over the embedding column.
    All evaluated inside codegen — the 100 TB-safe way to do vector math
    (no UDF, no Arrow hop)."""
    e = t(spark, sf_dir, "embeddings")
    dbl = "x -> cast(x as double)"
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_elem"),
        F.round(F.expr(f"aggregate(transform(embedding, {dbl}), 0D, (a, x) -> a + x)"), 6).alias("sum_all"),
        F.round(
            F.expr(f"aggregate(transform(slice(embedding, 1, 8), {dbl}), 0D, (a, x) -> a + x)"), 6
        ).alias("sum_head"),
        F.size(F.expr("filter(embedding, x -> x > 0)")).cast("bigint").alias("n_pos"),
        F.round(
            F.expr("aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), 0D, (a, x) -> a + x)"),
            6,
        ).alias("sq_norm"),
    )


@register(
    "fn_map",
    oracle="""
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
       2 AS n_keys,
       'click,view' AS keys_sorted
FROM events GROUP BY user_id
""",
)
def fn_map(spark, sf_dir):
    """Map construction + key/value access. The oracle computes the same
    scalars directly (DuckDB's MAP accessor semantics differ by version),
    so this validates Spark's map surface produces the expected values."""
    counts = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.when(F.col("event_type") == "click", 1)).alias("c_n"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("v_n"),
        )
    )
    m = F.create_map(F.lit("click"), F.col("c_n"), F.lit("view"), F.col("v_n"))
    return counts.select(
        "user_id",
        F.element_at(m, "click").alias("click_n"),
        F.element_at(m, "view").alias("view_n"),
        F.size(m).cast("int").alias("n_keys"),
        F.array_join(F.array_sort(F.map_keys(m)), ",").alias("keys_sorted"),
    )


@register(
    "fn_hash",
    oracle="""
SELECT doc_id, md5(text) AS h_md5, sha256(text) AS h_sha256 FROM documents
""",
)
def fn_hash(spark, sf_dir):
    """Content hashes — the dedup keys. xxhash64 (Spark-side salt/bucket
    hash, no DuckDB twin) is exercised in the dedup/fingerprint ops."""
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", F.md5("text").alias("h_md5"), F.sha2(F.col("text"), 256).alias("h_sha256"))


@register(
    "fn_struct",
    oracle="""
WITH ranked AS (
    SELECT user_id, ts, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_type DESC) AS rn
    FROM events
)
SELECT user_id, event_type AS last_type, ts AS last_ts
FROM ranked WHERE rn = 1
""",
)
def fn_struct(spark, sf_dir):
    """Struct construction + field access, via the argmax-by-struct idiom:
    max(struct(ts, event_type)) compares lexicographically, so one hash
    aggregate replaces a window sort — the cheap 'latest row per key' at
    scale. The oracle is the equivalent window formulation."""
    ev = t(spark, sf_dir, "events")
    m = F.max(F.struct(F.col("ts"), F.col("event_type"))).alias("m")
    return (
        ev.groupBy("user_id")
        .agg(m)
        .select(
            "user_id",
            F.col("m.event_type").alias("last_type"),
            F.col("m.ts").alias("last_ts"),
        )
    )


@register(
    "fn_url",
    oracle="""
WITH u AS (
    SELECT c_custkey,
           'https://' || regexp_replace(lower(c_name), '[^a-z0-9]', '', 'g')
           || '.example.com/u/' || CAST(c_custkey AS VARCHAR)
           || '?seg=' || lower(c_mktsegment)
           || '&ref=email&n=' || CAST(c_nationkey AS VARCHAR) AS url
    FROM customer
)
SELECT c_custkey, url,
       regexp_extract(url, 'https://([^/]+)', 1) AS host,
       regexp_extract(url, 'https://[^/]+(/[^?]*)', 1) AS path,
       regexp_extract(url, '[?&]seg=([^&]*)', 1) AS seg,
       regexp_extract(url, '[?&]n=([^&]*)', 1) AS n_param
FROM u
""",
)
def fn_url(spark, sf_dir):
    """URL build + parse (the GA-referrer cleanup shape): parse_url is
    the Spark built-in (Java URI semantics, codegen); DuckDB has no
    parse_url, so the oracle twin extracts the same parts with regexes —
    both sides construct identical URLs from customer attributes first."""
    c = t(spark, sf_dir, "customer")
    url = F.concat(
        F.lit("https://"),
        F.regexp_replace(F.lower("c_name"), "[^a-z0-9]", ""),
        F.lit(".example.com/u/"),
        F.col("c_custkey").cast("string"),
        F.lit("?seg="),
        F.lower("c_mktsegment"),
        F.lit("&ref=email&n="),
        F.col("c_nationkey").cast("string"),
    )
    u = c.select("c_custkey", url.alias("url"))
    return u.select(
        "c_custkey",
        "url",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("seg")).alias("seg"),
        F.parse_url("url", F.lit("QUERY"), F.lit("n")).alias("n_param"),
    )


@register(
    "fn_variant",
    oracle="""
SELECT event_id,
       CAST(json_extract(props, '$.k') AS INTEGER) AS k,
       CAST(CAST(json_extract(props, '$.k') AS INTEGER) % 10 AS INTEGER) AS k_bucket
FROM events
""",
)
def fn_variant(spark, sf_dir):
    """Semi-structured VARIANT path (Spark 4): parse_json once into the
    binary variant encoding, then typed variant_get extraction — unlike
    repeated get_json_object calls, the JSON parses ONCE per row no
    matter how many fields are pulled, which is the 100 TB answer for
    wide semi-structured payloads. Oracle twin uses DuckDB json_extract."""
    ev = t(spark, sf_dir, "events")
    v = F.parse_json("props")
    k = F.variant_get(v, "$.k", "int")
    return ev.select(
        "event_id", k.alias("k"), (k % 10).cast("int").alias("k_bucket")
    )


@register(
    "fn_bitwise",
    oracle="""
SELECT o_orderkey,
       o_orderkey & 255 AS band,
       o_orderkey | 4096 AS bor,
       xor(o_orderkey, 255) AS bxor,
       o_orderkey << 2 AS shl,
       o_orderkey >> 3 AS shr,
       bit_count(o_orderkey) AS popcnt
FROM orders
""",
)
def fn_bitwise(spark, sf_dir):
    """Bitwise expression surface — and/or/xor, shifts, popcount — the
    building blocks of hash partitioners, bloom probes, and bitmap
    feature flags. Pure codegen projection, no shuffle."""
    o = t(spark, sf_dir, "orders")
    k = F.col("o_orderkey")
    return o.select(
        "o_orderkey",
        k.bitwiseAND(F.lit(255)).alias("band"),
        k.bitwiseOR(F.lit(4096)).alias("bor"),
        k.bitwiseXOR(F.lit(255)).alias("bxor"),
        F.expr("o_orderkey << 2").alias("shl"),
        F.expr("o_orderkey >> 3").alias("shr"),
        F.bit_count(k).cast("bigint").alias("popcnt"),
    )


@register(
    "fn_string_distance",
    oracle="""
SELECT p_partkey,
       CAST(levenshtein(left(p_name, 10), left(p_type, 10)) AS BIGINT) AS name_type_dist,
       reverse(p_brand) AS brand_rev,
       translate(p_brand, '#', '-') AS brand_clean,
       left(p_name, 5) AS name_head,
       right(p_type, 4) AS type_tail
FROM part
""",
)
def fn_string_distance(spark, sf_dir):
    """Edit-distance + string-surgery surface — the record-linkage
    primitives (levenshtein for fuzzy key match, translate/reverse/
    left/right for key normalization). Inputs are length-capped before
    levenshtein: the DP is O(len²) per row, so uncapped long strings —
    not row count — would be the 100 TB cost driver. All JVM codegen."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.levenshtein(F.expr("left(p_name, 10)"), F.expr("left(p_type, 10)"))
        .cast("bigint")
        .alias("name_type_dist"),
        F.reverse("p_brand").alias("brand_rev"),
        F.translate("p_brand", "#", "-").alias("brand_clean"),
        F.expr("left(p_name, 5)").alias("name_head"),
        F.expr("right(p_type, 4)").alias("type_tail"),
    )


@register(
    "fn_mask",
    oracle="""
SELECT p_partkey,
       regexp_replace(regexp_replace(regexp_replace(p_name,
           '[A-Z]', 'X', 'g'), '[a-z]', 'x', 'g'), '[0-9]', 'n', 'g') AS name_masked,
       regexp_replace(p_brand, '[0-9]', '#', 'g') AS brand_digits_masked
FROM part
""",
)
def fn_mask(spark, sf_dir):
    """Data masking (Spark 4 mask()): category-preserving redaction —
    upper→X, lower→x, digit→n, punctuation kept — so masked exports
    keep their FORMAT (length, token shape) for downstream validation
    while dropping content; per-category NULL keeps a class unmasked
    (digits-only variant). Complements llm_pii_scrub's pattern-based
    scrubbing. Oracle spells the same classes as regexp chains."""
    p = t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr("mask(p_name)").alias("name_masked"),
        F.expr("mask(p_brand, NULL, NULL, '#', NULL)").alias("brand_digits_masked"),
    )


@register(
    "fn_array_setops",
    oracle="""
WITH halves AS (
  SELECT user_id,
         coalesce(list_sort(list_distinct(list(event_type) FILTER (WHERE day(ts) <= 15))), []) AS a,
         coalesce(list_sort(list_distinct(list(event_type) FILTER (WHERE day(ts) > 15))), []) AS b
  FROM events GROUP BY user_id
)
SELECT user_id,
       coalesce(array_to_string(list_sort(list_filter(a, x -> list_contains(b, x))), ','), '') AS both_periods,
       coalesce(array_to_string(list_sort(list_filter(a, x -> NOT list_contains(b, x))), ','), '') AS only_first,
       coalesce(array_to_string(list_sort(list_distinct(a || b)), ','), '') AS all_types
FROM halves
""",
)
def fn_array_setops(spark, sf_dir):
    """Array set algebra on real per-user data — event-type vocabulary
    drift between month halves (retained / dropped / total behaviors).
    intersect/except/union evaluate in codegen on the collected sets;
    results are sorted+deduped on BOTH engines so the set semantics
    (not element order) are what's compared. The per-user arrays are
    bounded by the type vocabulary, so state is O(cardinality).
    Outputs are serialized with array_join (the agg_collect pattern,
    operators/aggregates.py) — the driver canonicalizer cannot sort raw
    array cells (r3 FAIL: unhashable ndarray in pandas sort_values)."""
    ev = t(spark, sf_dir, "events")
    first_half = F.when(F.dayofmonth("ts") <= 15, F.col("event_type"))
    second_half = F.when(F.dayofmonth("ts") > 15, F.col("event_type"))
    halves = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_set(first_half)).alias("a"),
        F.sort_array(F.collect_set(second_half)).alias("b"),
    )
    return halves.select(
        "user_id",
        F.array_join(F.sort_array(F.array_intersect("a", "b")), ",").alias("both_periods"),
        F.array_join(F.sort_array(F.array_except("a", "b")), ",").alias("only_first"),
        F.array_join(
            F.sort_array(F.array_distinct(F.array_union("a", "b"))), ","
        ).alias("all_types"),
    )


@register(
    "fn_regex",
    oracle=r"""
SELECT doc_id,
       array_to_string(regexp_extract_all(substr(text, 1, 60), '[a-z]{4,}'), ',') AS long_words,
       CAST(length(regexp_extract_all(text, 'the')) AS BIGINT) AS n_the,
       regexp_matches(text, '^[a-z]') AS starts_lower,
       regexp_extract(text, '([a-z]+) ([a-z]+)', 2) AS second_word,
       regexp_replace(substr(text, 1, 30), '\s+', '_', 'g') AS snake_head
FROM documents
""",
)
def fn_regex(spark, sf_dir):
    """Regex function surface beyond fn_string's basics — extract_all
    (serialized through array_join per the driver-hash discipline),
    match counting via the extract_all length (both engines count
    non-overlapping matches identically), anchored rlike, group
    selection, and whitespace collapsing — one codegen projection, no
    Python boundary."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.array_join(
            F.regexp_extract_all(F.substring("text", 1, 60), F.lit("[a-z]{4,}"), F.lit(0)),
            ",",
        ).alias("long_words"),
        F.size(F.regexp_extract_all("text", F.lit("the"), F.lit(0)))
        .cast("bigint")
        .alias("n_the"),
        F.col("text").rlike("^[a-z]").alias("starts_lower"),
        F.regexp_extract("text", "([a-z]+) ([a-z]+)", 2).alias("second_word"),
        F.regexp_replace(F.substring("text", 1, 30), r"\s+", "_").alias("snake_head"),
    )


@register(
    "fn_interval",
    oracle="""
SELECT o_orderkey,
       CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3mo,
       CAST(o_orderdate - INTERVAL '45' DAY AS DATE) AS minus_45d,
       CAST(o_orderdate + INTERVAL 2 HOUR + INTERVAL 30 MINUTE AS TIMESTAMP) AS plus_150min,
       date_diff('month', CAST(o_orderdate AS DATE), DATE '2000-06-15') AS months_to_ref,
       last_day(CAST(o_orderdate AS DATE)) AS month_end,
       CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start
FROM orders
""",
)
def fn_interval(spark, sf_dir):
    """Interval arithmetic surface — calendar-aware month adds (clamped
    at month ends exactly like ANSI INTERVAL), day and sub-day offsets,
    month distances, month boundaries — the date math a retention /
    billing pipeline leans on. All codegen expressions over the NTZ
    order dates; DuckDB's date_diff('month') counts month-boundary
    crossings, which is Spark's months_between floor for these
    midnight-aligned dates."""
    o = t(spark, sf_dir, "orders")
    od = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        F.add_months(od, 3).alias("plus_3mo"),
        F.date_sub(od, 45).alias("minus_45d"),
        (F.col("o_orderdate") + F.expr("INTERVAL 150 MINUTES")).alias("plus_150min"),
        (
            (F.year(F.lit("2000-06-15").cast("date")) * 12 + F.month(F.lit("2000-06-15").cast("date")))
            - (F.year(od) * 12 + F.month(od))
        ).cast("bigint").alias("months_to_ref"),
        F.last_day(od).alias("month_end"),
        F.trunc(od, "quarter").alias("quarter_start"),
    )


@register(
    "fn_collation",
    oracle="""
WITH mixed AS (
    SELECT event_id,
           CASE WHEN event_id % 2 = 0 THEN upper(event_type) ELSE event_type END AS et_mixed
    FROM events
)
SELECT lower(et_mixed) AS event_type_ci,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COUNT(DISTINCT et_mixed) AS BIGINT) AS n_case_variants
FROM mixed GROUP BY 1
""",
)
def fn_collation(spark, sf_dir):
    """Collation-aware grouping (Spark 4 collations): a deliberately
    case-mixed event-type column grouped under UTF8_LCASE via
    `F.collate`, so 'CLICK' and 'click' land in one group without a
    lower() rewrite — the engine-level collation surface an i18n
    pipeline uses for locale-correct joins/groups. The emitted key is
    normalized with lower() (the collated group's representative is
    first-encountered, engine-specific); the case-variant count proves
    the group genuinely merged distinct binary strings. Oracle: the
    lower() rewrite, which UTF8_LCASE semantics must match exactly for
    ASCII data."""
    mixed = t(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("event_id") % 2 == 0, F.upper("event_type"))
        .otherwise(F.col("event_type"))
        .alias("et_mixed"),
    )
    return (
        mixed.groupBy(F.collate(F.col("et_mixed"), "UTF8_LCASE").alias("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct(F.collate(F.col("et_mixed"), "UTF8_BINARY"))
            .cast("bigint")
            .alias("n_case_variants"),
        )
        .select(
            F.lower(F.col("k").cast("string")).alias("event_type_ci"),
            "n",
            "n_case_variants",
        )
    )


@register(
    "fn_string_extra",
    oracle="""
SELECT doc_id,
       upper(substr(lang, 1, 1)) || lower(substr(lang, 2)) AS lang_title,
       translate(lang, 'aeiou', '_____') AS lang_devowel,
       repeat(source, 2) AS source_twice,
       reverse(lang) AS lang_rev,
       lpad(lang, 6, '.') AS lang_lpad,
       rpad(source, 8, '*') AS source_rpad,
       left(text, 12) AS head12,
       right(source, 2) AS src_tail2
FROM documents
""",
)
def fn_string_extra(spark, sf_dir):
    """Second string-surface sweep — titlecasing (initcap twin spelled
    out for the oracle since DuckDB lacks initcap), translate maps,
    repeat/reverse, fixed-width padding, and left/right slicing — all
    one codegen projection like fn_string."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.initcap("lang").alias("lang_title"),
        F.translate("lang", "aeiou", "_____").alias("lang_devowel"),
        F.repeat("source", 2).alias("source_twice"),
        F.reverse("lang").alias("lang_rev"),
        F.lpad("lang", 6, ".").alias("lang_lpad"),
        F.rpad("source", 8, "*").alias("source_rpad"),
        F.substring("text", 1, 12).alias("head12"),
        F.substring(F.col("source"), -2, 2).alias("src_tail2"),
    )


@register(
    "fn_trig",
    oracle="""
SELECT p_partkey,
       FLOOR(sin(p_size * 0.1) * 1000000000 + 0.5) / 1000000000 AS sin_v,
       FLOOR(cos(p_size * 0.1) * 1000000000 + 0.5) / 1000000000 AS cos_v,
       FLOOR(atan2(CAST(p_size AS DOUBLE), 10.0) * 1000000000 + 0.5) / 1000000000 AS at2,
       FLOOR(degrees(atan2(CAST(p_size AS DOUBLE), 10.0)) * 1000000 + 0.5) / 1000000 AS at2_deg,
       FLOOR(exp(-p_size * 0.05) * 1000000000 + 0.5) / 1000000000 AS decay
FROM part
""",
)
def fn_trig(spark, sf_dir):
    """Trigonometric / transcendental surface — sin/cos/atan2/degrees/
    exp over integer-derived arguments, quantized half-up at 1e-9
    (libm ulp differences are not contractual across engines — the same
    discipline ts_periodogram established). One codegen projection."""
    p = t(spark, sf_dir, "part")
    at2 = F.atan2(F.col("p_size").cast("double"), F.lit(10.0))
    return p.select(
        "p_partkey",
        qround(F.sin(F.col("p_size") * 0.1), 9).alias("sin_v"),
        qround(F.cos(F.col("p_size") * 0.1), 9).alias("cos_v"),
        qround(at2, 9).alias("at2"),
        qround(F.degrees(at2)).alias("at2_deg"),
        qround(F.exp(F.col("p_size") * -0.05), 9).alias("decay"),
    )


@register(
    "fn_surrogate_key",
    oracle="""
SELECT o_orderkey,
       substr(md5('orders|' || CAST(o_orderkey AS VARCHAR) || '|'
                  || CAST(o_custkey AS VARCHAR)), 1, 8) || '-'
       || substr(md5('orders|' || CAST(o_orderkey AS VARCHAR) || '|'
                     || CAST(o_custkey AS VARCHAR)), 9, 4) || '-'
       || substr(md5('orders|' || CAST(o_orderkey AS VARCHAR) || '|'
                     || CAST(o_custkey AS VARCHAR)), 13, 4) || '-'
       || substr(md5('orders|' || CAST(o_orderkey AS VARCHAR) || '|'
                     || CAST(o_custkey AS VARCHAR)), 17, 4) || '-'
       || substr(md5('orders|' || CAST(o_orderkey AS VARCHAR) || '|'
                     || CAST(o_custkey AS VARCHAR)), 21, 12) AS sk_uuid,
       CAST(CAST('0x' || substr(md5('orders|' || CAST(o_orderkey AS VARCHAR) || '|'
                  || CAST(o_custkey AS VARCHAR)), 1, 15) AS BIGINT) AS BIGINT) AS sk_int
FROM orders
""",
)
def fn_surrogate_key(spark, sf_dir):
    """Deterministic surrogate-key minting — the warehouse-integration
    primitive: a namespaced md5 over the natural key, formatted both as
    a UUID-shaped string and as a 60-bit BIGINT (15 hex chars — always
    inside int64). Unlike monotonically_increasing_id or uuid(), the
    same row mints the same key on every engine, every run, every
    partitioning — which is what makes incremental merges and
    cross-system joins reproducible. Pure codegen expressions."""
    o = t(spark, sf_dir, "orders")
    h = F.md5(
        F.concat_ws(
            "|", F.lit("orders"), F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
        )
    )
    uuid = F.concat_ws(
        "-",
        F.substring(h, 1, 8),
        F.substring(h, 9, 4),
        F.substring(h, 13, 4),
        F.substring(h, 17, 4),
        F.substring(h, 21, 12),
    )
    return o.select(
        "o_orderkey",
        uuid.alias("sk_uuid"),
        F.conv(F.substring(h, 1, 15), 16, 10).cast("bigint").alias("sk_int"),
    )


@register(
    "fn_xml",
    oracle="""
SELECT o_orderpriority AS prio, o_orderstatus AS status,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(o_custkey) AS BIGINT) AS cust_sum
FROM orders GROUP BY 1, 2
""",
)
def fn_xml(spark, sf_dir):
    """XML round trip (Spark 4 `from_xml`) — plenty of enterprise feeds
    still land as XML (sitemaps, RSS/Atom, SOAP exports), and the
    engine must parse them JVM-side, not in Python. An order-shaped XML
    document is built per row (attributes + nested elements), parsed
    back with `from_xml` under an explicit struct schema (attribute
    fields use the default `_` prefix), and the parsed fields are
    aggregated. The oracle computes the same profile from the raw
    columns — any parse loss, attribute/element confusion, or type
    coercion error flips the hash. Only integer/string fields go
    through the XML (double formatting is engine-specific). from_xml is
    a codegen-stage expression: at 100 TB this parses at scan speed
    with no extra shuffle beyond the final aggregate."""
    o = t(spark, sf_dir, "orders")
    xml = F.concat(
        F.lit('<order id="'),
        F.col("o_orderkey").cast("string"),
        F.lit('" status="'),
        F.col("o_orderstatus"),
        F.lit('"><prio>'),
        F.col("o_orderpriority"),
        F.lit("</prio><cust>"),
        F.col("o_custkey").cast("string"),
        F.lit("</cust></order>"),
    )
    parsed = o.select(
        F.from_xml(
            xml,
            "STRUCT<_id: BIGINT, _status: STRING, prio: STRING, cust: BIGINT>",
        ).alias("x")
    )
    return parsed.groupBy(
        F.col("x.prio").alias("prio"), F.col("x._status").alias("status")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x.cust").cast("bigint").alias("cust_sum"),
    )


@register(
    "fn_ipv4_subnet",
    oracle="""
WITH ips AS (
    SELECT user_id,
           ('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 4294967296 AS ip32
    FROM (SELECT DISTINCT user_id FROM events)
), parts AS (
    SELECT user_id, ip32,
           ip32 // 16777216 AS o1,
           ip32 // 65536 AS subnet16
    FROM ips
)
SELECT CAST(o1 AS BIGINT) AS octet1,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(DISTINCT subnet16) AS BIGINT) AS n_subnet16,
       CAST(MIN(ip32) AS BIGINT) AS min_ip32
FROM parts GROUP BY 1
""",
)
def fn_ipv4_subnet(spark, sf_dir):
    """IPv4 subnet arithmetic — crawl politeness, abuse detection, and
    geo rollups all bucket clients by prefix (/8, /16) rather than
    exact address. The fixture has no IP column, so a deterministic
    32-bit address is derived per user from md5 (the same synthesis
    both engines reproduce); the OPERATOR is the prefix math itself:
    integer right-shifts via floor-division (never cast-of-divide —
    the truncate-vs-round-half-even seam), /8 and /16 extraction, and
    the per-prefix rollup. Pure codegen integer arithmetic, one
    aggregate, 256-row output regardless of scale."""
    e = t(spark, sf_dir, "events").select("user_id").distinct()
    ip32 = (
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint")
        % F.lit(4294967296)
    )
    parts = e.select(
        ip32.alias("ip32"),
        F.floor(ip32 / 16777216).alias("o1"),
        F.floor(ip32 / 65536).alias("subnet16"),
    )
    return parts.groupBy(F.col("o1").cast("bigint").alias("octet1")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.countDistinct("subnet16").cast("bigint").alias("n_subnet16"),
        F.min("ip32").cast("bigint").alias("min_ip32"),
    )


@register(
    "fn_binary",
    oracle="""
SELECT doc_id,
       base64(CAST(substring(text, 1, 12) AS BLOB)) AS b64,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       hex(CAST(substring(text, 1, 4) AS BLOB)) AS hex4
FROM documents
""",
)
def fn_binary(spark, sf_dir):
    """Binary-column function surface — base64 (the blob-in-JSON
    interchange every API feed uses), byte length (≠ char length under
    multi-byte text — the capacity-planning number), and hex dumps
    (fingerprint debugging). All codegen expressions over the cast
    text payload; the oracle round-trips the same bytes through
    DuckDB's blob functions, so any padding, alphabet, or
    truncation-at-multibyte divergence flips the hash."""
    d = t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.base64(F.substring("text", 1, 12).cast("binary")).alias("b64"),
        F.octet_length("text").cast("bigint").alias("n_bytes"),
        F.upper(F.hex(F.substring("text", 1, 4).cast("binary"))).alias("hex4"),
    )


@register(
    "fn_geohash_interleave",
    oracle="""
WITH pts AS (
    SELECT user_id,
           ('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':lat'), 1, 8))::BIGINT
               % 32768 AS latq,
           ('0x' || substring(md5(CAST(user_id AS VARCHAR) || ':lon'), 1, 8))::BIGINT
               % 32768 AS lonq
    FROM (SELECT DISTINCT user_id FROM events)
), morton AS (
    SELECT user_id, latq, lonq,
           list_aggregate(list_transform(range(0, 15),
               i -> (((latq >> i) & 1) << (2 * i + 1)) | (((lonq >> i) & 1) << (2 * i))),
               'sum') AS z
    FROM pts
)
SELECT CAST(z // 16777216 AS BIGINT) AS cell8,
       CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(MIN(z) AS BIGINT) AS min_z,
       CAST(MAX(z) AS BIGINT) AS max_z
FROM morton GROUP BY 1 ORDER BY n_points DESC, cell8 ASC LIMIT 25
""",
)
def fn_geohash_interleave(spark, sf_dir):
    """Geohash-style Morton (Z-order) encoding — the spatial bucketing
    primitive: quantize lat/lon to 15-bit grids, bit-interleave into a
    30-bit Z-code, and roll up by code prefix — prefix-truncation IS
    zoom-out, which is why geohash prefixes work as join/partition
    keys at any scale (and why Z-order is also the multi-column data-
    clustering trick lakehouses use). Coordinates are synthesized
    deterministically per user (no geo column in the fixture); the
    OPERATOR is the interleave itself — pure shift/mask integer
    algebra via a transform-sum over bit positions, identical in both
    engines. Top-25 8-bit-prefix cells by population."""
    e = t(spark, sf_dir, "events").select("user_id").distinct()
    h = lambda salt: (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("user_id").cast("string"), F.lit(salt))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 32768
    )
    pts = e.select("user_id", h(":lat").alias("latq"), h(":lon").alias("lonq"))
    morton = pts.select(
        F.expr(
            "aggregate(transform(sequence(0, 14), "
            "i -> shiftleft(shiftright(latq, i) & 1, 2 * i + 1) "
            "   | shiftleft(shiftright(lonq, i) & 1, 2 * i)), 0L, (a, x) -> a + x)"
        ).alias("z")
    )
    return (
        morton.groupBy(F.floor(F.col("z") / 16777216).alias("cell8"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.min("z").cast("bigint").alias("min_z"),
            F.max("z").cast("bigint").alias("max_z"),
        )
        .orderBy(F.desc("n_points"), F.asc("cell8"))
        .limit(25)
    )


@register(
    "fn_luhn_check",
    oracle="""
WITH nums AS (
    SELECT o_orderkey,
           lpad(CAST(o_orderkey % 1000000000 AS VARCHAR), 9, '0')
               || lpad(CAST(o_custkey % 100000 AS VARCHAR), 5, '0') AS pan14
    FROM orders
), digits AS (
    SELECT o_orderkey, pan14,
           list_aggregate(list_transform(range(1, 15), i ->
               CASE WHEN (14 - i) % 2 = 1
                    THEN CASE WHEN CAST(pan14[i] AS INTEGER) * 2 > 9
                              THEN CAST(pan14[i] AS INTEGER) * 2 - 9
                              ELSE CAST(pan14[i] AS INTEGER) * 2 END
                    ELSE CAST(pan14[i] AS INTEGER) END), 'sum') AS luhn_sum
    FROM nums
)
SELECT CAST(CAST(luhn_sum AS BIGINT) % 10 AS BIGINT) AS check_class,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(o_orderkey) AS BIGINT) AS min_key
FROM digits GROUP BY 1
""",
)
def fn_luhn_check(spark, sf_dir):
    """Luhn checksum (mod-10) — the card/IMEI/account-number validity
    gate a DQ layer runs on identifier columns: double every second
    digit from the right, subtract 9 above 9, sum mod 10. Synthesized
    14-digit PANs from order/customer keys (no real PAN column — the
    OPERATOR is the digit algebra); both engines walk the identical
    transform-sum over digit positions in codegen. Output profiles the
    checksum classes (class 0 = 'valid'); a shifted digit, doubled
    wrong parity, or truncation all move rows between classes and flip
    the hash."""
    o = t(spark, sf_dir, "orders")
    pan = F.concat(
        F.lpad((F.col("o_orderkey") % 1000000000).cast("string"), 9, "0"),
        F.lpad((F.col("o_custkey") % 100000).cast("string"), 5, "0"),
    )
    nums = o.select("o_orderkey", pan.alias("pan14"))
    luhn = F.expr(
        "aggregate(transform(sequence(1, 14), i -> "
        "CASE WHEN (14 - i) % 2 = 1 "
        "THEN CASE WHEN cast(substring(pan14, i, 1) as int) * 2 > 9 "
        "     THEN cast(substring(pan14, i, 1) as int) * 2 - 9 "
        "     ELSE cast(substring(pan14, i, 1) as int) * 2 END "
        "ELSE cast(substring(pan14, i, 1) as int) END), 0, (a, x) -> a + x)"
    )
    return (
        nums.select("o_orderkey", luhn.alias("luhn_sum"))
        .groupBy((F.col("luhn_sum") % 10).cast("bigint").alias("check_class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("o_orderkey").cast("bigint").alias("min_key"),
        )
    )


@register(
    "fn_hash_collision_audit",
    oracle="""
WITH keys AS (
    SELECT DISTINCT md5(CAST(o_orderkey AS VARCHAR) || ':' ||
                        CAST(o_custkey AS VARCHAR)) AS h
    FROM orders
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(COUNT(*) - COUNT(DISTINCT substring(h, 1, 4)) AS BIGINT) AS coll_4hex,
       CAST(COUNT(*) - COUNT(DISTINCT substring(h, 1, 6)) AS BIGINT) AS coll_6hex,
       CAST(COUNT(*) - COUNT(DISTINCT substring(h, 1, 8)) AS BIGINT) AS coll_8hex,
       CAST(COUNT(*) - COUNT(DISTINCT substring(h, 1, 12)) AS BIGINT) AS coll_12hex
FROM keys
""",
)
def fn_hash_collision_audit(spark, sf_dir):
    """Hash-prefix collision audit — the birthday bound, measured on
    YOUR keys: every truncated-hash scheme in this engine (surrogate
    keys, shard ids, band keys, bucket salts) implicitly picks a
    prefix width, and this op reports actual collisions at 4/6/8/12
    hex chars (16/24/32/48 bits) so the width is chosen from data, not
    folklore — at n keys expect ≈ n²/2^(bits+1) collisions, and the
    audit flips the hash if an engine's md5/truncation disagrees.
    One distinct + one multi-distinct aggregate; at 100 TB run it on
    the key sample the sizing decision actually concerns."""
    o = t(spark, sf_dir, "orders")
    keys = o.select(
        F.md5(
            F.concat(
                F.col("o_orderkey").cast("string"),
                F.lit(":"),
                F.col("o_custkey").cast("string"),
            )
        ).alias("h")
    ).distinct()
    c = F.count(F.lit(1))
    return keys.agg(
        c.cast("bigint").alias("n_keys"),
        (c - F.countDistinct(F.substring("h", 1, 4))).cast("bigint").alias("coll_4hex"),
        (c - F.countDistinct(F.substring("h", 1, 6))).cast("bigint").alias("coll_6hex"),
        (c - F.countDistinct(F.substring("h", 1, 8))).cast("bigint").alias("coll_8hex"),
        (c - F.countDistinct(F.substring("h", 1, 12))).cast("bigint").alias("coll_12hex"),
    )


@register(
    "fn_uuidv7_roundtrip",
    oracle="""
WITH built AS (
    SELECT event_id,
           epoch_ms(ts) AS ts_ms,
           lpad(hex(epoch_ms(ts)), 12, '0') AS time_hex,
           substring(md5(CAST(event_id AS VARCHAR)), 1, 12) AS rand_hex
    FROM events
), uuids AS (
    SELECT event_id, ts_ms,
           lower(substring(time_hex, 1, 8) || '-' || substring(time_hex, 9, 4)
                 || '-7' || substring(rand_hex, 1, 3)
                 || '-8' || substring(rand_hex, 4, 3)
                 || '-' || substring(rand_hex, 7, 6) || '000000') AS u7
    FROM built
), parsed AS (
    SELECT event_id, ts_ms, u7,
           ('0x' || substring(u7, 1, 8) || substring(u7, 10, 4))::BIGINT AS parsed_ms
    FROM uuids
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_ids,
       CAST(SUM(CASE WHEN parsed_ms = ts_ms THEN 1 ELSE 0 END) AS BIGINT)
           AS n_roundtrip_ok,
       CAST(COUNT(DISTINCT u7) AS BIGINT) AS n_distinct,
       CAST(MIN(parsed_ms) AS BIGINT) AS min_ms,
       CAST(MAX(parsed_ms) AS BIGINT) AS max_ms
FROM parsed
""",
)
def fn_uuidv7_roundtrip(spark, sf_dir):
    """UUIDv7 build + timestamp forensics — the sortable-ID scheme
    replacing v4 in event systems (time-prefixed: index-local inserts,
    range-prunable scans): assemble spec-shaped v7 strings (48-bit
    ms timestamp, version/variant nibbles, hash-derived randomness)
    from event time, then PARSE THE TIMESTAMP BACK out of the string
    — the debugging move every on-call engineer does with a v7 id —
    and verify the round trip is lossless for every row, plus
    uniqueness of the built ids. Pure codegen string/hex algebra; the
    oracle builds and parses identically, so nibble-placement or
    endianness drift flips the hash."""
    e = t(spark, sf_dir, "events")
    ts_ms = F.expr("unix_micros(cast(ts as timestamp)) div 1000")
    built = e.select(
        "event_id",
        ts_ms.alias("ts_ms"),
        F.lpad(F.hex(ts_ms), 12, "0").alias("time_hex"),
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 12).alias("rand_hex"),
    )
    u7 = F.lower(
        F.concat(
            F.substring("time_hex", 1, 8),
            F.lit("-"),
            F.substring("time_hex", 9, 4),
            F.lit("-7"),
            F.substring("rand_hex", 1, 3),
            F.lit("-8"),
            F.substring("rand_hex", 4, 3),
            F.lit("-"),
            F.substring("rand_hex", 7, 6),
            F.lit("000000"),
        )
    )
    uuids = built.select("event_id", "ts_ms", u7.alias("u7"))
    parsed_ms = F.conv(
        F.concat(F.substring("u7", 1, 8), F.substring("u7", 10, 4)), 16, 10
    ).cast("bigint")
    parsed = uuids.withColumn("parsed_ms", parsed_ms)
    return parsed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ids"),
        F.sum((F.col("parsed_ms") == F.col("ts_ms")).cast("long"))
        .cast("bigint")
        .alias("n_roundtrip_ok"),
        F.countDistinct("u7").cast("bigint").alias("n_distinct"),
        F.min("parsed_ms").cast("bigint").alias("min_ms"),
        F.max("parsed_ms").cast("bigint").alias("max_ms"),
    )


@register(
    "fn_penny_allocation",
    oracle="""
WITH li AS (
    SELECT l_orderkey, l_linenumber,
           CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS ep_cents
    FROM lineitem WHERE l_orderkey % 50 = 0
), o AS (
    SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_cents
    FROM orders WHERE o_orderkey % 50 = 0
), sums AS (
    SELECT l_orderkey, SUM(ep_cents) AS p FROM li GROUP BY 1
), based AS (
    SELECT li.l_orderkey, li.l_linenumber,
           CAST((o.total_cents * li.ep_cents) // s.p AS BIGINT) AS base_cents,
           (o.total_cents * li.ep_cents) % s.p AS rem,
           o.total_cents
    FROM li JOIN sums s ON s.l_orderkey = li.l_orderkey
            JOIN o ON o.o_orderkey = li.l_orderkey
), ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY l_orderkey
                              ORDER BY rem DESC, l_linenumber) AS rk,
           total_cents - SUM(base_cents) OVER (PARTITION BY l_orderkey) AS leftover
    FROM based
)
SELECT l_orderkey, l_linenumber,
       CAST(base_cents + CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
           AS alloc_cents
FROM ranked
""",
)
def fn_penny_allocation(spark, sf_dir):
    """Largest-remainder penny allocation — the money-splitting
    primitive every billing/revenue-recognition pipeline needs:
    distribute an order's total cents across its line items
    proportionally to price, in WHOLE cents, with the per-order sum
    conserved EXACTLY (floating allocation then rounding leaks
    pennies; auditors notice). All arithmetic is BIGINT: integer
    floor-division gives each line its base share, the division
    REMAINDERS rank who gets the leftover cents (largest remainder
    first, line number tiebreak) — deterministic, exact, and
    cross-engine bit-identical because no double ever appears after
    the initial cent quantization. Plan shape: one order-keyed join +
    one order-partitioned window — co-partitioned end to end on the
    order key; at 100 TB this is the same single shuffle the
    lineitem-to-order rollup already pays. (The mod-50 key filter is
    the fixture's output bound, not a semantic.)"""
    li = (
        t(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") % 50 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("ep_cents"),
        )
    )
    o = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 50 == 0)
        .select(
            F.col("o_orderkey").alias("l_orderkey"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("total_cents"),
        )
    )
    sums = li.groupBy("l_orderkey").agg(F.sum("ep_cents").alias("p"))
    based = (
        li.join(sums, "l_orderkey")
        .join(o, "l_orderkey")
        .select(
            "l_orderkey",
            "l_linenumber",
            F.expr("(total_cents * ep_cents) DIV p").alias("base_cents"),
            F.expr("(total_cents * ep_cents) % p").alias("rem"),
            "total_cents",
        )
    )
    wo = Window.partitionBy("l_orderkey")
    ranked = based.select(
        "l_orderkey",
        "l_linenumber",
        "base_cents",
        F.row_number()
        .over(wo.orderBy(F.desc("rem"), F.asc("l_linenumber")))
        .alias("rk"),
        (F.col("total_cents") - F.sum("base_cents").over(wo)).alias("leftover"),
    )
    return ranked.select(
        "l_orderkey",
        "l_linenumber",
        (
            F.col("base_cents")
            + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0)
        ).alias("alloc_cents"),
    )


@register(
    "fn_haversine",
    oracle="""
WITH geo AS (
    SELECT n_name,
           (CAST(('0x' || substr(md5('lat:' || n_name), 1, 6)) AS BIGINT) % 18000)
               / 100.0 - 90.0 AS lat,
           (CAST(('0x' || substr(md5('lon:' || n_name), 1, 6)) AS BIGINT) % 36000)
               / 100.0 - 180.0 AS lon
    FROM nation
), pairs AS (
    SELECT a.n_name AS na, b.n_name AS nb,
           a.lat * 0.017453292519943295 AS p1,
           b.lat * 0.017453292519943295 AS p2,
           (b.lat - a.lat) * 0.017453292519943295 AS dphi,
           (b.lon - a.lon) * 0.017453292519943295 AS dlam
    FROM geo a JOIN geo b ON a.n_name < b.n_name
), hav AS (
    SELECT na, nb,
           (FLOOR(sin(dphi / 2.0) * 1e12 + 0.5) / 1e12)
               * (FLOOR(sin(dphi / 2.0) * 1e12 + 0.5) / 1e12)
           + (FLOOR(cos(p1) * 1e12 + 0.5) / 1e12)
               * (FLOOR(cos(p2) * 1e12 + 0.5) / 1e12)
               * (FLOOR(sin(dlam / 2.0) * 1e12 + 0.5) / 1e12)
               * (FLOOR(sin(dlam / 2.0) * 1e12 + 0.5) / 1e12) AS a
    FROM pairs
), dist AS (
    SELECT na, nb,
           12742.0 * (FLOOR(asin(sqrt(LEAST(a, 1.0))) * 1e12 + 0.5) / 1e12) AS d_km
    FROM hav
)
SELECT na, nb, FLOOR(d_km * 1000000 + 0.5) / 1000000 AS d_km,
       CAST(ROW_NUMBER() OVER (ORDER BY d_km, na, nb) AS BIGINT) AS rank
FROM dist ORDER BY rank LIMIT 20
""",
)
def fn_haversine(spark, sf_dir):
    """Great-circle (haversine) distance over deterministic per-nation
    coordinates — the geo-distance primitive behind store-coverage,
    shipping-zone, and geo-dedup queries, expressed entirely in
    codegen trig (no UDF, no geo library): d = 2R asin(sqrt(sin^2
    (dphi/2) + cos(p1) cos(p2) sin^2(dlam/2))). Coordinates are
    md5-derived (replayable fixture geography, same seeding idiom as
    the DP/permutation ops). Cross-engine float discipline for
    TRANSCENDENTALS: sin/cos/asin are the only libm-dependent calls,
    so each one's output is q12-quantized BEFORE it enters arithmetic
    — the same boundary-hardening as exp/ln elsewhere; sqrt is IEEE
    correctly-rounded and needs none. The all-pairs join is over the
    25-row nation dim (broadcast); output is the 20 nearest pairs,
    rank-deterministic."""
    h = lambda salt: (
        F.conv(F.substring(F.md5(F.concat(F.lit(salt), F.col("n_name"))), 1, 6), 16, 10)
        .cast("bigint")
    )
    geo = t(spark, sf_dir, "nation").select(
        "n_name",
        ((h("lat:") % 18000) / F.lit(100.0) - F.lit(90.0)).alias("lat"),
        ((h("lon:") % 36000) / F.lit(100.0) - F.lit(180.0)).alias("lon"),
    )
    rad = F.lit(0.017453292519943295)
    a = geo.select(F.col("n_name").alias("na"), F.col("lat").alias("la"), F.col("lon").alias("lo_a"))
    b = geo.select(F.col("n_name").alias("nb"), F.col("lat").alias("lb"), F.col("lon").alias("lo_b"))
    pairs = a.join(F.broadcast(b), F.col("na") < F.col("nb")).select(
        "na",
        "nb",
        (F.col("la") * rad).alias("p1"),
        (F.col("lb") * rad).alias("p2"),
        ((F.col("lb") - F.col("la")) * rad).alias("dphi"),
        ((F.col("lo_b") - F.col("lo_a")) * rad).alias("dlam"),
    )
    sp = qround(F.sin(F.col("dphi") / F.lit(2.0)), 12)
    sl = qround(F.sin(F.col("dlam") / F.lit(2.0)), 12)
    av = sp * sp + qround(F.cos(F.col("p1")), 12) * qround(F.cos(F.col("p2")), 12) * sl * sl
    dist = pairs.select(
        "na",
        "nb",
        (F.lit(12742.0) * qround(F.asin(F.sqrt(F.least(av, F.lit(1.0)))), 12)).alias("d_km"),
    )
    w = Window.orderBy(F.asc("d_km"), F.asc("na"), F.asc("nb"))
    return (
        dist.select("na", "nb", qround(F.col("d_km")).alias("d_km"))
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )


@register(
    "fn_fiscal_445",
    oracle="""
WITH anchor AS (
    SELECT MIN(CAST(o_orderdate AS DATE))
           - CAST((isodow(MIN(CAST(o_orderdate AS DATE))) - 1) AS INTEGER) AS a
    FROM orders
), mapped AS (
    SELECT datediff('day', an.a, CAST(o.o_orderdate AS DATE)) // 7 AS wk,
           CAST(FLOOR(o.o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6)) AS pq
    FROM orders o, anchor an
), fiscal AS (
    SELECT CAST(wk // 52 AS BIGINT) AS fy,
           CAST((wk % 52) // 13 + 1 AS BIGINT) AS fq,
           CAST((wk % 52) // 13 * 3
                + CASE WHEN (wk % 52) % 13 < 4 THEN 1
                       WHEN (wk % 52) % 13 < 8 THEN 2 ELSE 3 END AS BIGINT)
               AS period,
           wk % 52 AS wiy, pq
    FROM mapped
)
SELECT fy, fq, period,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT wiy) AS BIGINT) AS n_weeks,
       CAST(SUM(pq) AS DOUBLE) / 1e6 AS revenue
FROM fiscal GROUP BY 1, 2, 3
""",
)
def fn_fiscal_445(spark, sf_dir):
    """4-4-5 fiscal calendar mapping — the retail-standard reporting
    calendar (every period contains whole weeks, so weekday mix is
    comparable period over period, which Gregorian months break).
    Contract, stated exactly: the anchor is the Monday on or before
    the earliest order date; weeks index from it; fiscal years are
    52-week blocks; each 13-week quarter splits 4-4-5 into periods.
    Everything is integer date arithmetic (datediff // 7 and modular
    splits — both engines agree exactly, no timezone surface since
    these are DATEs), revenue rides micro-unit DECIMAL. Per-period
    n_weeks is published so the 4/4/5 shape itself is hash-asserted,
    not just claimed. One scan + one bounded aggregate; the anchor is
    a broadcast scalar."""
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("d"), "o_totalprice"
    )
    anchor = F.expr("date_sub(min(d), (dayofweek(min(d)) + 5) % 7)").alias("a")
    mapped = with_stats(o, anchor).select(
        F.floor(F.datediff("d", "a") / 7).cast("bigint").alias("wk"),
        qdec(F.col("o_totalprice"))
        .alias("pq"),
    )
    wiy = F.col("wk") % 52
    wiq = wiy % 13
    fiscal = mapped.select(
        F.floor(F.col("wk") / 52).cast("bigint").alias("fy"),
        (F.floor(wiy / 13) + 1).cast("bigint").alias("fq"),
        (
            F.floor(wiy / 13) * 3
            + F.when(wiq < 4, 1).when(wiq < 8, 2).otherwise(3)
        )
        .cast("bigint")
        .alias("period"),
        wiy.alias("wiy"),
        "pq",
    )
    return fiscal.groupBy("fy", "fq", "period").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.countDistinct("wiy").cast("bigint").alias("n_weeks"),
        (F.sum("pq").cast("double") / F.lit(1e6)).alias("revenue"),
    )


@register(
    "fn_business_days",
    oracle="""
WITH span AS (
    SELECT l_orderkey, MIN(l_shipdate) AS d1, MAX(l_shipdate) AS d2
    FROM lineitem GROUP BY 1
), lagd AS (
    SELECT o.o_orderpriority AS priority,
           (5 * (datediff('day', DATE '1970-01-05', s.d2) // 7)
            + LEAST(datediff('day', DATE '1970-01-05', s.d2) % 7, 5))
           - (5 * (datediff('day', DATE '1970-01-05', s.d1) // 7)
              + LEAST(datediff('day', DATE '1970-01-05', s.d1) % 7, 5))
               AS bd
    FROM orders o JOIN span s ON s.l_orderkey = o.o_orderkey
)
SELECT priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(MIN(bd) AS BIGINT) AS min_bd,
       CAST(MAX(bd) AS BIGINT) AS max_bd,
       FLOOR(CAST(SUM(bd) AS DOUBLE) / COUNT(*) * 1000000 + 0.5) / 1000000
           AS avg_bd,
       FLOOR(CAST(SUM(CASE WHEN bd <= 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             * 1000000 + 0.5) / 1000000 AS within_5bd
FROM lagd GROUP BY 1
""",
)
def fn_business_days(spark, sf_dir):
    """Business-day (NETWORKDAYS-style) lag from order to ship, per
    priority class — the SLA arithmetic ops teams actually contract on
    (calendar-day lags overstate weekend-spanning shipments by up to
    2/7). Measured span: each order's FIRST to LAST line shipment —
    ordered by construction (the fixture does not constrain shipdate
    against orderdate, so the order->ship pair would be signed).
    The kernel is the closed-form weekday counter W(d) =
    5*(n//7) + min(n%7, 5) with n = days since a fixed Monday anchor
    (1970-01-05): bd(a, b) = W(b) - W(a) counts weekdays in [a, b) —
    pure INTEGER arithmetic, no per-day explosion, no calendar table,
    no day-of-week builtin (whose Sunday=1 vs Monday=1 conventions
    differ across engines — the anchor sidesteps the whole class).
    One fact join + one bounded aggregate; reports the within-5-
    business-days SLA share alongside min/max/mean."""
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    span = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.min(F.col("l_shipdate").cast("date")).alias("d1"),
            F.max(F.col("l_shipdate").cast("date")).alias("d2"),
        )
    )
    anchor = F.lit("1970-01-05").cast("date")
    W = lambda d: 5 * F.floor(F.datediff(d, anchor) / 7) + F.least(
        F.datediff(d, anchor) % 7, F.lit(5)
    )
    lagd = o.join(span, o["o_orderkey"] == span["l_orderkey"]).select(
        F.col("o_orderpriority").alias("priority"),
        (W(F.col("d2")) - W(F.col("d1"))).cast("bigint").alias("bd"),
    )
    return lagd.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
        F.min("bd").cast("bigint").alias("min_bd"),
        F.max("bd").cast("bigint").alias("max_bd"),
        qround(F.sum("bd").cast("double") / F.count(F.lit(1))).alias("avg_bd"),
        qround(
            F.sum(F.when(F.col("bd") <= 5, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1))
        ).alias("within_5bd"),
    )


def _pb_byte(v):
    """One wire byte from a value GUARANTEED < 256 (limbs are masked to
    7 bits + continuation; tags/lengths are single-byte by contract) —
    the lpad(2) can therefore never truncate."""
    return F.unhex(F.lpad(F.hex(v.cast("bigint")), 2, "0"))


def _pb_varint(v):
    """proto3 base-128 varint encode over the full non-negative bigint
    domain: limb i is ``shiftright(v, 7*i) & 127`` (+128 continuation
    on all but the last), limb count from an exact integer CASE ladder
    (v < 2^7 … 2^56, else 9 limbs — v < 2^63 always). All branches are
    integer codegen expressions; no doubles, no log(), no truncation.
    Negative input (not a proto3 unsigned domain) yields NULL."""
    limb = lambda i, cont: _pb_byte(
        F.shiftright(v.cast("bigint"), 7 * i).bitwiseAND(F.lit(127)) + F.lit(128 if cont else 0)
    )

    def limbs(n):
        return F.concat(*[limb(i, i < n - 1) for i in range(n)])

    c = F.when(v < 0, F.lit(None).cast("binary")).when(v < 1 << 7, limbs(1))
    for n in range(2, 9):
        c = c.when(v < F.lit(1 << (7 * n)), limbs(n))
    return c.otherwise(limbs(9))


def _pb_u8(p):
    """Read one unsigned byte of ``payload`` at 1-based position p."""
    return F.conv(F.hex(F.substring(F.col("payload"), p, F.lit(1))), 16, 10).cast("bigint")


def _pb_vval(p):
    """Decode the varint starting at payload position p (1–9 limbs):
    value = Σ (limb_i − continuation) · 128^i; 128^8 = 2^56 stays
    exactly inside bigint."""
    bs = [_pb_u8(p + i) for i in range(9)]

    def val(n):
        e = None
        for i in range(n):
            term = (bs[i] - F.lit(128 if i < n - 1 else 0)) * F.lit(128**i)
            e = term if e is None else e + term
        return e

    c = F.when(bs[0] < 128, val(1))
    for n in range(2, 9):
        c = c.when(bs[n - 1] < 128, val(n))
    return c.otherwise(val(9))


def _pb_vlen(p):
    """Byte length of the varint starting at payload position p."""
    bs = [_pb_u8(p + i) for i in range(8)]
    c = F.when(bs[0] < 128, F.lit(1))
    for n in range(2, 9):
        c = c.when(bs[n - 1] < 128, F.lit(n))
    return c.otherwise(F.lit(9))


@register(
    "fn_protobuf_wire",
    oracle="""
WITH msg AS (
    SELECT o_orderkey,
           o_orderpriority,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
    FROM orders
), vlen AS (
    SELECT o_orderkey, o_orderpriority, cents,
           CASE WHEN o_orderkey < 128 THEN 1
                WHEN o_orderkey < 16384 THEN 2
                WHEN o_orderkey < 2097152 THEN 3
                WHEN o_orderkey < 268435456 THEN 4
                WHEN o_orderkey < 34359738368 THEN 5
                WHEN o_orderkey < 4398046511104 THEN 6
                WHEN o_orderkey < 562949953421312 THEN 7
                WHEN o_orderkey < 72057594037927936 THEN 8 ELSE 9 END AS lk,
           CASE WHEN cents < 128 THEN 1
                WHEN cents < 16384 THEN 2
                WHEN cents < 2097152 THEN 3
                WHEN cents < 268435456 THEN 4
                WHEN cents < 34359738368 THEN 5
                WHEN cents < 4398046511104 THEN 6
                WHEN cents < 562949953421312 THEN 7
                WHEN cents < 72057594037927936 THEN 8 ELSE 9 END AS lc
    FROM msg
)
SELECT o_orderkey, o_orderpriority AS priority, cents AS total_cents,
       CAST(1 + lk + 2 + STRLEN(o_orderpriority) + 1 + lc AS BIGINT) AS msg_len,
       TRUE AS roundtrip_ok
FROM vlen
""",
)
def fn_protobuf_wire(spark, sf_dir):
    """Protobuf wire-format encode + decode entirely in codegen — the
    ``to_protobuf``/``from_protobuf`` surface without the connector jar
    (absent in this container — probed alongside google.protobuf,
    streaming/ops.py note). Each order becomes a real proto3 message
    on the standard wire encoding:

        field 1 (tag 0x08, varint)            o_orderkey
        field 2 (tag 0x12, length-delimited)  o_orderpriority
        field 3 (tag 0x18, varint)            total price in cents

    Encode: base-128 varints built byte-by-byte from arithmetic
    (``% 128``/``div 128`` + continuation bit) and assembled with
    concat(unhex(...)); strings ride as raw UTF-8 behind a 1-byte
    length (priorities are short; a full impl chains the same varint).
    Decode is ONE Arrow-batch pass
    (functions/avro_arrow.decode_protobuf_wire, guide §4.2) — the r13
    rewrite shared with the fn_avro_* siblings: the r7-r12 expression
    decoder walked the tag/varint structure positionally through ~200
    CASE-ladder byte reads and needed the encoded frame eagerly
    localCheckpointed purely for planner health (a live payload alias
    inlined the full encode expression into every byte read — a
    multi-million-node tree that OOMed ConstantFolding); the per-batch
    Python walk replaces ladders and checkpoint in one narrow pass
    (before/after in OPTIMIZATION_r13.md). The ENCODE stays a JVM
    whole-stage-codegen expression, so encoder and decoder remain
    independent implementations. ``roundtrip_ok``
    asserts decoded == original for every field Spark-side; the oracle
    recomputes the fields and the wire length arithmetically, so a
    mis-encoded continuation bit flips both the flag and the length.
    Varints cover the FULL non-negative bigint domain (1–9 limbs; the
    r7 advice closed the old 4-limb/2^28 ceiling, where lpad(hex())
    silently truncated an oversized limb). Negative values — absent
    from proto3 unsigned field domains like keys/cents/lengths —
    encode as NULL payload, flipping roundtrip_ok rather than
    corrupting bytes silently."""
    enc = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key_in"),
        F.col("o_orderpriority").alias("pri_in"),
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint").alias("cents_in"),
    )
    # SQL-text encode (one expr() parse; see _vu64_hex_sql) — bytes
    # identical to the _pb_varint ladder it replaces, including the
    # NULL-payload contract for negative inputs.
    wire = enc.select(
        "key_in",
        "pri_in",
        "cents_in",
        F.expr(
            "concat(X'08', " + _v9n_sql("key_in") + ", X'12', "
            "unhex(lpad(hex(octet_length(pri_in)), 2, '0')), "  # 1-byte len
            "cast(pri_in as binary), X'18', " + _v9n_sql("cents_in") + ")"
        ).alias("payload"),
    )
    from .avro_arrow import PROTOBUF_OUT_DDL
    from .avro_np import decode_protobuf_wire

    return wire.mapInArrow(decode_protobuf_wire, PROTOBUF_OUT_DDL)


def _avro_zigzag(n):
    """Avro/proto zigzag map: non-negative evens for n >= 0, odds for
    n < 0, via the standard bit form ``(n<<1) ^ (n>>63)``. Bit ops are
    deliberate: they wrap instead of tripping ANSI-mode
    ARITHMETIC_OVERFLOW, so the FULL int64 domain encodes — for
    |n| >= 2^62 the zigzag result's uint64 bit pattern lands in a
    negative signed bigint, which _pb_varint_u64 emits as the spec's
    10-limb varint (r8 ADVICE fix: previously those values NULLed).
    The DuckDB twin uses the arithmetic CASE form instead — DuckDB
    refuses to left-shift negatives — which is identical on the
    fixture's small values."""
    n = n.cast("bigint")
    return F.shiftleft(n, 1).bitwiseXOR(F.shiftright(n, 63))


def _pb_varint_u64(v):
    """Base-128 varint encode of a bigint whose 64-BIT PATTERN is the
    value (uint64-in-signed-carrier, the type zigzag produces for
    |n| >= 2^62): non-negative carriers take _pb_varint's 1..9-limb
    ladder; a negative carrier (bit 63 set) is exactly the spec's
    10-limb form — limbs 0..8 via shiftrightunsigned (logical, so the
    sign bit does not smear) + continuation, limb 9 = bit 63 = 1."""
    v = v.cast("bigint")
    limb10 = [
        _pb_byte(
            F.shiftrightunsigned(v, 7 * i).bitwiseAND(F.lit(127)) + F.lit(128)
        )
        for i in range(9)
    ] + [_pb_byte(F.shiftrightunsigned(v, 63))]
    return F.when(v < 0, F.concat(*limb10)).otherwise(_pb_varint(v))


def _avro_unzigzag(z):
    """Inverse zigzag over the full uint64-in-signed-carrier domain via
    the canonical branch-free form ``(z >>> 1) ^ -(z & 1)`` — the
    logical shift keeps bit 63 data (carrier may be negative), and the
    XOR with 0/-1 restores the sign. z = -1 (uint64 2^64-1) maps to
    -2^63; z = 2^63-1 maps to -2^62 — exact at every edge."""
    z = z.cast("bigint")
    return F.shiftrightunsigned(z, 1).bitwiseXOR(-z.bitwiseAND(F.lit(1)))


def _pb_vval10(p):
    """Decode the varint starting at payload position p, 1–10 limbs
    (the full uint64 wire domain; _pb_vval stops at 9). For the
    10-limb branch the low 63 bits accumulate as Σ (limb_i − 128)·2^7i
    (every limb 0..8 carries a continuation bit there, max 2^63−1) and
    limb 9 contributes bit 63 as a two's-complement wrap: + (−2^63),
    landing the uint64 pattern in the signed carrier exactly."""
    bs = [_pb_u8(p + i) for i in range(10)]

    def val(n):
        e = None
        for i in range(n):
            term = (bs[i] - F.lit(128 if i < n - 1 else 0)) * F.lit(128**i)
            e = term if e is None else e + term
        return e

    low63 = None
    for i in range(9):
        term = (bs[i] - F.lit(128)) * F.lit(128**i)
        low63 = term if low63 is None else low63 + term
    val10 = low63 + F.lit(-(1 << 63))

    c = F.when(bs[0] < 128, val(1))
    for n in range(2, 10):
        c = c.when(bs[n - 1] < 128, val(n))
    return c.otherwise(val10)


def _pb_vlen10(p):
    """Byte length of the varint starting at payload position p
    (1–10 limbs; _pb_vlen's 9-limb cap misreads a 10-limb wire)."""
    bs = [_pb_u8(p + i) for i in range(9)]
    c = F.when(bs[0] < 128, F.lit(1))
    for n in range(2, 10):
        c = c.when(bs[n - 1] < 128, F.lit(n))
    return c.otherwise(F.lit(10))


# --------------------------------------------------- SQL-text varint encoders
#
# r13 optimization (guide §1 phase profile, OPTIMIZATION_r13.md): the
# Column-ladder encoders above are kept as the reference implementation
# (boundary tests pin them), but building them dominated the codec ops'
# DataFrame CONSTRUCTION time — each _pb_varint_u64 call issues ~400
# py4j round-trips (limbs duplicated across the 10 CASE-ladder
# branches), ~2.4-4.1 s per op before a single job ran. The encoders
# below emit the SAME bytes from ONE expr() parse: per-BYTE
# construction — limb i is present iff the unsigned remainder at shift
# 7i is non-zero (limb 0 always), continuation bit set iff limb i+1 is
# present — instead of a limb-count ladder, so the JVM tree is ~4x
# smaller too. Bit-identical on the full 64-bit domain including the
# 10-limb negative-carrier forms (tests/test_round13_sql_encoders.py
# pins SQL vs ladder at every limb/sign boundary). Still pure JVM
# codegen: the encode/decode independence argument is unchanged.


def _vu64_hex_sql(e: str) -> str:
    """Hex-string base-128 varint encode of bigint SQL expression `e`
    whose 64-BIT PATTERN is the value (uint64-in-signed-carrier, what
    zigzag produces for |n| >= 2^62) — the expr()-text twin of
    _pb_varint_u64, one lpad(hex(...)) pair per present limb,
    shiftrightunsigned throughout so the sign bit never smears.

    r14 NEGATIVE RESULT (VERDICT r13 item 8, tried and reverted): a
    domain-narrowed form — `if(shiftrightunsigned(e, 35) = 0,
    <5-limb ladder>, <10-limb ladder>)`, bit-identical by construction
    and boundary-test green — measured a WASH to slightly NEGATIVE at
    sf0.1 (interleaved min-of-3 noop per op, one session: family total
    6.44 s → 6.66 s, 0.97x; fn_avro_map_blocks 0.80x). The If gate
    re-references the carrier expression in the guard plus both
    branches, and the extra codegen outweighs the 5 skipped limbs —
    the full ladder's per-limb presence test was already cheap. Keep
    the single 10-limb form."""
    parts = []
    for i in range(10):
        u = f"shiftrightunsigned({e}, {7 * i})" if i else f"({e})"
        if i < 9:
            nxt = f"shiftrightunsigned({e}, {7 * (i + 1)})"
            b = f"lpad(hex(({u} & 127) + if({nxt} != 0, 128, 0)), 2, '0')"
        else:
            b = f"lpad(hex({u}), 2, '0')"  # limb 9 = bit 63, no continuation
        parts.append(b if i == 0 else f"if({u} != 0, {b}, '')")
    return "concat(" + ", ".join(parts) + ")"


def _vu64_sql(e: str) -> str:
    """Binary varint encode of carrier expression `e` (see
    _vu64_hex_sql); one unhex over the concatenated hex limbs."""
    return f"unhex({_vu64_hex_sql(e)})"


def _v9n_sql(e: str) -> str:
    """proto3 varint of non-negative `e`; negative input (outside the
    proto3 unsigned domain) yields NULL — _pb_varint's contract."""
    return f"if(({e}) < 0, cast(null as binary), {_vu64_sql(e)})"


def _zz_sql(e: str) -> str:
    """Avro/proto zigzag of `e` as SQL text — _avro_zigzag's bit form
    ``(n<<1) ^ (n>>63)`` (wraps instead of ANSI-overflowing, so the
    full int64 domain encodes)."""
    c = f"cast({e} as bigint)"
    return f"(shiftleft({c}, 1) ^ shiftright({c}, 63))"


def _vzz_sql(e: str) -> str:
    """zigzag + varint in one SQL text: the Avro item/field encoder."""
    return _vu64_sql(_zz_sql(e))


@register(
    "fn_avro_wire",
    oracle="""
WITH msg AS (
    SELECT o_orderkey,
           o_orderpriority,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 200000 AS delta
    FROM orders
), zz AS (
    SELECT o_orderkey, o_orderpriority, delta,
           o_orderkey * 2 AS zk,
           CASE WHEN delta >= 0 THEN delta * 2 ELSE delta * -2 - 1 END AS zd
    FROM msg
), vlen AS (
    SELECT o_orderkey, o_orderpriority, delta,
           CASE WHEN zk < 128 THEN 1
                WHEN zk < 16384 THEN 2
                WHEN zk < 2097152 THEN 3
                WHEN zk < 268435456 THEN 4
                WHEN zk < 34359738368 THEN 5
                WHEN zk < 4398046511104 THEN 6
                WHEN zk < 562949953421312 THEN 7
                WHEN zk < 72057594037927936 THEN 8 ELSE 9 END AS lk,
           CASE WHEN zd < 128 THEN 1
                WHEN zd < 16384 THEN 2
                WHEN zd < 2097152 THEN 3
                WHEN zd < 268435456 THEN 4
                WHEN zd < 34359738368 THEN 5
                WHEN zd < 4398046511104 THEN 6
                WHEN zd < 562949953421312 THEN 7
                WHEN zd < 72057594037927936 THEN 8 ELSE 9 END AS ld
    FROM zz
)
SELECT o_orderkey, o_orderpriority AS priority, delta AS cents_delta,
       CAST(lk + 1 + STRLEN(o_orderpriority) + ld AS BIGINT) AS msg_len,
       TRUE AS roundtrip_ok
FROM vlen
""",
)
def fn_avro_wire(spark, sf_dir):
    """Avro binary record encode + decode entirely in codegen — the
    ``to_avro``/``from_avro`` surface without the spark-avro jar
    (probed absent in this container, like the protobuf connector —
    this op + fn_protobuf_wire close the interchange corner from the
    r7 verdict). Each order becomes a real Avro record on the standard
    binary encoding for schema
    ``record{key: long, priority: string, delta: long}``:

        key       zigzag base-128 varint (no field tags in Avro —
                  fields concatenate in schema order)
        priority  byte length as a zigzag varint, then raw UTF-8
        delta     zigzag varint; delta = price-in-cents - 200000 is
                  NEGATIVE for most orders, exercising the zigzag
                  half that proto3's unsigned fields never touch

    Encode reuses the proto varint core on the zigzagged value via
    _pb_varint_u64 — the wire layers compose — as JVM integer/binary
    expressions covering the FULL int64 domain including the 10-limb
    varints for |n| >= 2^62 (r8 ADVICE fix; the DuckDB twin uses the
    equivalent arithmetic CASE form since DuckDB cannot left-shift
    negatives). Decode is ONE Arrow-batch pass
    (functions/avro_arrow.decode_wire, guide §4.2): the r1-r12
    expression decoder needed a ~100-node CASE ladder per varint read
    plus TWO eager localCheckpoints purely for planner health (lazy
    position aliases re-substituted a ~5k-node tree into each of the
    final varint's 81 byte reads), costing two full materialization
    jobs and a 16 KB formatted plan; the Arrow decode replaces all of
    it with an exact-integer Python walk per batch — no checkpoints,
    no giant tree, same zero-shuffle narrow shape (r13 A/B at sf0.1,
    noop sink, min-of-3: 5.07 s -> see OPTIMIZATION_r13.md). Keeping
    the ENCODE in JVM expressions is deliberate: encoder and decoder
    remain independent implementations, so ``roundtrip_ok`` (decoded
    == original for all three fields) still cross-checks two codecs,
    and the oracle recomputes the fields and wire length from the
    same zigzag + limb-count arithmetic — a mis-encoded continuation
    or sign flips both."""
    from .avro_arrow import WIRE_OUT_DDL
    from .avro_np import decode_wire

    enc = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key_in"),
        F.col("o_orderpriority").alias("pri_in"),
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint") - 200000).alias(
            "delta_in"
        ),
    )
    wire = enc.select(
        "key_in",
        "pri_in",
        "delta_in",
        # SQL-text encode (one expr() parse; see _vu64_hex_sql) — bytes
        # identical to the ladder form. Length is octet_length per the
        # Avro spec (bytes, not chars).
        F.expr(
            "concat(" + _vzz_sql("key_in") + ", "
            + _vzz_sql("octet_length(pri_in)") + ", "
            "cast(pri_in as binary), " + _vzz_sql("delta_in") + ")"
        ).alias("payload"),
    )
    return wire.mapInArrow(decode_wire, WIRE_OUT_DDL)


# ---------------------------------------------------------------- Avro OCF

_OCF_MAGIC = b"Obj\x01"
_OCF_SCHEMA = (
    '{"type":"record","name":"order","fields":['
    '{"name":"key","type":"long"},'
    '{"name":"priority","type":"string"},'
    '{"name":"delta","type":"long"}]}'
)


def _py_zz_varint(n: int) -> bytes:
    """Driver-side zigzag varint for the CONSTANT header bytes only
    (Catalyst would constant-fold the same expressions; per-row fields
    are encoded JVM-side by _pb_varint_u64/_avro_zigzag)."""
    z = ((n << 1) ^ (n >> 63)) & ((1 << 64) - 1)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ocf_meta_bytes() -> bytes:
    """The container's metadata map on the spec encoding: entry count
    as a zigzag varint, (key, value) strings each length-prefixed, a
    zero terminator. Constant for a fixed schema + null codec."""
    ent = b""
    for k, v in (("avro.codec", "null"), ("avro.schema", _OCF_SCHEMA)):
        kb, vb = k.encode(), v.encode()
        ent += _py_zz_varint(len(kb)) + kb + _py_zz_varint(len(vb)) + vb
    return _py_zz_varint(2) + ent + b"\x00"


_OCF_META = _ocf_meta_bytes()
_OCF_HEADER_LEN = len(_OCF_MAGIC) + len(_OCF_META) + 16  # + sync marker
_OCF_SYNC_POS = len(_OCF_MAGIC) + len(_OCF_META) + 1  # 1-based substring
_OCF_BLOCK_POS = _OCF_SYNC_POS + 16


def _avro_container_frames(spark, sf_dir):
    """One complete Avro Object Container File per order month:
    header (magic + metadata map + sync) and ONE sync-delimited data
    block holding the month's records on fn_avro_wire's record codec,
    key-sorted for determinism. Returns (ym, n_in, first_key_in,
    first_pri_in, first_delta_in, file) with `file` the container
    bytes. Per-month record batches are bounded (a month of orders),
    so the collect_list + HOF fold stays executor-local; a production
    writer emits one container PER TASK with many blocks — the framing
    below is identical per block, the grouping key is the only
    difference. The built frame is checkpointed by CALLERS before any
    positional decode (fn_protobuf_wire lesson)."""
    msg = t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("ym"),
        F.col("o_orderkey").alias("key"),
        F.col("o_orderpriority").alias("pri"),
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint") - 200000).alias(
            "delta"
        ),
    )
    # SQL-text record encode (one expr() parse; see _vu64_hex_sql) —
    # bytes identical to the ladder form it replaces.
    rec = msg.select(
        "ym",
        "key",
        "pri",
        "delta",
        F.expr(
            "concat(" + _vzz_sql("key") + ", " + _vzz_sql("octet_length(pri)")
            + ", cast(pri as binary), " + _vzz_sql("delta") + ")"
        ).alias("rec"),
    )
    per = rec.groupBy("ym").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_in"),
        F.min("key").alias("first_key_in"),
        F.min_by("pri", "key").alias("first_pri_in"),
        F.min_by("delta", "key").alias("first_delta_in"),
        F.array_sort(F.collect_list(F.struct("key", "rec"))).alias("arr"),
    )
    # Block assembly is hex -> array_join -> unhex rather than an
    # F.aggregate concat fold: the fold copies the accumulated prefix on
    # every step (O(block²) bytes — fine at ~2k records/month here, a
    # real cost at production block sizes), while array_join grows ONE
    # buffer (O(block), at the price of a transient 2x hex expansion).
    # Bit-identical output, measured round 9: warm 2.77 s vs 2.91 s and
    # first-touch 3.15 s vs 8.89 s at sf0.1 (the giant fold lambda also
    # compiles 3x slower).
    # array_join SKIPS null elements, so a null rec would silently
    # truncate the block (ADVICE r9). All recs are non-null today (every
    # codec input column is non-null), but guard the invariant: a null
    # rec nulls the whole block — visible corruption, never silent.
    records = F.when(
        F.forall("arr", lambda x: x["rec"].isNotNull()),
        F.unhex(F.array_join(F.transform("arr", lambda x: F.hex(x["rec"])), "")),
    )
    sync = F.unhex(F.md5("ym"))  # deterministic 16-byte marker per file
    per = per.withColumn("records", records).withColumn("sync", sync)
    file = F.concat(
        F.lit(_OCF_MAGIC + _OCF_META),
        F.col("sync"),
        F.expr(_vzz_sql("n_in")),
        F.expr(_vzz_sql("length(records)")),
        F.col("records"),
        F.col("sync"),
    )
    return per.select(
        "ym", "n_in", "first_key_in", "first_pri_in", "first_delta_in",
        file.alias("file"),
    )


def _ocf_vlen_sql(expr: str) -> str:
    """DuckDB varint byte-length ladder over a non-negative zigzag
    value (same shape as fn_avro_wire's oracle)."""
    return (
        f"CASE WHEN {expr} < 128 THEN 1 WHEN {expr} < 16384 THEN 2 "
        f"WHEN {expr} < 2097152 THEN 3 WHEN {expr} < 268435456 THEN 4 "
        f"WHEN {expr} < 34359738368 THEN 5 WHEN {expr} < 4398046511104 THEN 6 "
        f"WHEN {expr} < 562949953421312 THEN 7 "
        f"WHEN {expr} < 72057594037927936 THEN 8 ELSE 9 END"
    )


@register(
    "fn_avro_container",
    oracle=f"""
WITH msg AS (
    SELECT strftime(o_orderdate, '%Y-%m') AS ym, o_orderkey,
           o_orderpriority,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 200000 AS delta
    FROM orders
), zz AS (
    SELECT ym, o_orderkey,
           o_orderkey * 2 AS zk,
           STRLEN(o_orderpriority) AS plen,
           CASE WHEN delta >= 0 THEN delta * 2 ELSE delta * -2 - 1 END AS zd
    FROM msg
), rec AS (
    SELECT ym, o_orderkey,
           {_ocf_vlen_sql('zk')} + 1 + plen + {_ocf_vlen_sql('zd')} AS rlen
    FROM zz
), blk AS (
    SELECT ym, CAST(COUNT(*) AS BIGINT) AS n_records,
           MIN(o_orderkey) AS first_key,
           SUM(rlen) AS rsize
    FROM rec GROUP BY ym
)
SELECT ym, n_records, first_key,
       CAST({_OCF_HEADER_LEN}
            + {_ocf_vlen_sql('n_records * 2')}
            + {_ocf_vlen_sql('rsize * 2')}
            + rsize + 16 AS BIGINT) AS file_len,
       TRUE AS magic_ok, TRUE AS meta_ok, TRUE AS sync_ok,
       TRUE AS framing_ok, TRUE AS first_record_ok
FROM blk
""",
)
def fn_avro_container(spark, sf_dir):
    """Avro Object Container File framing over fn_avro_wire's record
    codec — the container half of the interchange story (r8 staged
    stretch; the spark-avro jar is absent in this container, so the
    OCF spec is rebuilt from first principles: magic `Obj\\x01`,
    metadata map carrying the record schema JSON + null codec, a
    16-byte sync marker, then sync-delimited blocks of
    count/size-prefixed records). One container per order month, the
    month's records key-sorted in ONE block.

    Encode: constant header bytes as a literal (what constant folding
    would produce), per-row record fields JVM-side via
    _pb_varint_u64/_avro_zigzag, the month fold as ONE hash aggregate
    (collect_list bounded by month size; a production writer emits one
    container per task, same framing per block). Decode is ONE
    Arrow-batch pass (functions/avro_arrow.make_decode_container,
    guide §4.2): the r9-r12 expression decoder walked the header +
    count -> size -> first-record chain through FOUR eager
    localCheckpoints staged purely for planner health — four full
    materialization jobs — which the per-batch Python walk replaces
    outright (r13 A/B at sf0.1, noop sink, min-of-3: 6.97 s -> see
    OPTIMIZATION_r13.md; the 17 KB formatted plan collapses to the
    agg + one MapInArrow). The JVM encode / Python decode split keeps
    the two directions independent implementations. The emitted
    columns are the DECODED values (count, first record's key), so
    the oracle's recomputation from the raw table cross-checks the
    whole encode+frame+decode path; file_len is recomputed by the
    oracle from the spec's varint length arithmetic. The ok-flags
    (magic, metadata map, sync discipline, block framing,
    first-record roundtrip) are independently backed by a pure-Python
    spec-level OCF reader parsing every emitted file end-to-end
    (tests/test_round9_ops.py::test_avro_container_parses_with_reference_ocf_reader)."""
    from .avro_arrow import CONTAINER_OUT_DDL
    from .avro_np import make_decode_container

    frames = _avro_container_frames(spark, sf_dir).withColumnRenamed(
        "file", "payload"
    )
    return frames.mapInArrow(
        make_decode_container(
            _OCF_MAGIC, _OCF_META, _OCF_BLOCK_POS - 1, _OCF_SYNC_POS - 1
        ),
        CONTAINER_OUT_DDL,
    )


@register(
    "fn_avro_schema_evolution",
    oracle="""
WITH msg AS (
    SELECT o_orderkey,
           o_orderpriority,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 200000 AS delta
    FROM orders
), zz AS (
    SELECT *, o_orderkey * 2 AS zk FROM msg
)
SELECT o_orderkey,
       o_orderpriority AS priority,
       delta AS cents_delta,
       CAST(42 AS BIGINT) AS source_id,
       -- ladder assumes o_orderkey < 2^34 so zk = 2*key stays in the
       -- 1..9-limb range without signed overflow (ADVICE r10)
       CAST(CASE WHEN zk < 128 THEN 1 WHEN zk < 16384 THEN 2
                 WHEN zk < 2097152 THEN 3 WHEN zk < 268435456 THEN 4
                 WHEN zk < 34359738368 THEN 5 WHEN zk < 4398046511104 THEN 6
                 WHEN zk < 562949953421312 THEN 7
                 WHEN zk < 72057594037927936 THEN 8 ELSE 9 END AS BIGINT)
           AS skipped_len,
       TRUE AS resolve_ok
FROM zz
""",
)
def fn_avro_schema_evolution(spark, sf_dir):
    """Avro reader/writer schema RESOLUTION over fn_avro_wire's record
    encoding (r9 staged stretch) — the half of the interchange story
    the encode/decode pair doesn't cover: bytes written under one
    schema read under an EVOLVED one, per the Avro spec's resolution
    rules (fields matched by NAME, never position).

        writer  record{key: long, priority: string, delta: long}
        reader  record{priority: string, delta: long,
                       source_id: long = 42}

    Three rules exercised at once:
      * dropped field — `key` exists only in the writer, so the reader
        SKIPS it via its length arithmetic (_pb_vlen10 at position 1),
        never decoding the value; `skipped_len` exposes the skip
        distance and the oracle recomputes it from the zigzag limb
        ladder, so a wrong skip shifts every later field and flips the
        hash;
      * added field with default — `source_id` exists only in the
        reader, so every row takes the schema default 42 (a literal
        column: Catalyst constant-folds it, zero per-row cost);
      * name matching across a position shift — `priority`/`delta`
        are reader fields 0/1 but writer fields 1/2; resolution walks
        the WRITER order (that's what's on the wire) and lands each
        byte range on the reader field with the same name.

    The resolution walk runs as ONE Arrow-batch pass
    (functions/avro_arrow.decode_schema_evolution, guide §4.2) —
    same r13 rationale as fn_avro_wire: the expression walk needed
    two planner-health localCheckpoints (two full materialization
    jobs) and a 17 KB formatted plan, all replaced by a per-batch
    Python walk with exact integer arithmetic while the ENCODE stays
    a JVM expression, keeping writer and reader independent
    implementations. `resolve_ok` asserts the resolved fields equal
    the writer's originals row-by-row plus that skip + string frame +
    delta varint tile the payload exactly."""
    from .avro_arrow import EVOLUTION_OUT_DDL
    from .avro_np import decode_schema_evolution

    enc = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key_in"),
        F.col("o_orderpriority").alias("pri_in"),
        (F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint") - 200000).alias(
            "delta_in"
        ),
    )
    wire = enc.select(
        "key_in",
        "pri_in",
        "delta_in",
        # SQL-text encode (one expr() parse; see _vu64_hex_sql) — bytes
        # identical to the ladder form. Length is octet_length per the
        # Avro spec (bytes, not chars).
        F.expr(
            "concat(" + _vzz_sql("key_in") + ", "
            + _vzz_sql("octet_length(pri_in)") + ", "
            "cast(pri_in as binary), " + _vzz_sql("delta_in") + ")"
        ).alias("payload"),
    )
    # Resolution walk in WRITER order: skip `key` (reader drops it),
    # then bind priority/delta by name; source_id takes the default.
    return wire.mapInArrow(decode_schema_evolution, EVOLUTION_OUT_DDL)


@register(
    "fn_avro_union_nullable",
    oracle=f"""
WITH msg AS (
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 3 = 0 THEN NULL
                ELSE o_orderpriority END AS pri,
           CASE WHEN o_orderkey % 5 = 0 THEN NULL
                ELSE CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 200000
                END AS delta
    FROM orders
), zz AS (
    SELECT o_orderkey, pri, delta,
           o_orderkey * 2 AS zk,
           CASE WHEN delta IS NULL THEN NULL
                WHEN delta >= 0 THEN delta * 2 ELSE delta * -2 - 1 END AS zd,
           CASE WHEN pri IS NULL THEN NULL
                ELSE STRLEN(pri) * 2 END AS zs  -- byte length per Avro spec
    FROM msg
)
SELECT o_orderkey, pri AS priority, delta AS cents_delta,
       CAST({_ocf_vlen_sql('zk')}
            + 1 + CASE WHEN zs IS NULL THEN 0
                       ELSE {_ocf_vlen_sql('zs')} + STRLEN(pri) END
            + 1 + CASE WHEN zd IS NULL THEN 0
                       ELSE {_ocf_vlen_sql('zd')} END
            AS BIGINT) AS msg_len,
       TRUE AS union_ok
FROM zz
""",
)
def fn_avro_union_nullable(spark, sf_dir):
    """Avro nullable-union codec over fn_avro_wire's record encoding
    (r10 staged stretch) — ``["null", T]``, the single most common
    real-world Avro field shape and the last missing piece of the
    interchange story. Spec: a union value is the zigzag-varint BRANCH
    INDEX followed by the encoding of that branch; the ``null`` type
    encodes as ZERO bytes, so a null field costs exactly one 0x00 byte
    and a present field costs 0x02 (zigzag(1)) + the plain encoding.
    Schema here:

        record{{key: long,
                priority: ["null", string],   null when key % 3 == 0
                delta:    ["null", long]}}    null when key % 5 == 0

    delta = price-in-cents - 200000 keeps the negative-zigzag coverage
    of fn_avro_wire. Encode composes the existing varint core
    (_pb_varint_u64/_avro_zigzag) with a 1-byte branch marker — exact,
    not a shortcut: a 2-branch union's index is 0 or 1, whose zigzags
    (0, 2) are single-limb varints by construction. Decode is ONE
    Arrow-batch pass (functions/avro_arrow.decode_union_nullable,
    guide §4.2): the branch byte at each union start gates a
    length-framed string read / varint read, the null branch advances
    the cursor by exactly 1 — the r10-r12 expression decoder needed
    the branch-conditional position tree staged through a
    planner-health localCheckpoint and was the second-slowest codec op
    (the branch gating doubled every downstream position CASE); the
    per-batch Python walk replaces checkpoint and tree (r13 A/B at
    sf0.1, noop sink, min-of-3: 7.00 s -> see OPTIMIZATION_r13.md)
    while the ENCODE stays a JVM expression — writer and reader remain
    independent implementations. ``union_ok`` asserts null-safe decode
    == original for all three fields AND that the conditional frames
    tile the payload exactly; the oracle recomputes the nulls, values,
    and wire length from the same zigzag + limb-ladder arithmetic, so
    a branch byte, skipped frame, or sign error flips both."""
    from .avro_arrow import UNION_OUT_DDL
    from .avro_np import decode_union_nullable

    enc = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("key_in"),
        F.when(F.col("o_orderkey") % 3 == 0, F.lit(None)).otherwise(
            F.col("o_orderpriority")
        ).alias("pri_in"),
        F.when(F.col("o_orderkey") % 5 == 0, F.lit(None).cast("bigint")).otherwise(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
            - 200000
        ).alias("delta_in"),
    )
    # SQL-text encode (one expr() parse; see _vu64_hex_sql) — branch
    # markers X'00' (zigzag(0), null: zero value bytes) / X'02'
    # (zigzag(1)); string length is the BYTE length (octet_length) per
    # the Avro spec (r11 ADVICE; ASCII fixture can't tell). Bytes
    # identical to the ladder form.
    wire = enc.select(
        "key_in",
        "pri_in",
        "delta_in",
        F.expr(
            "concat(" + _vzz_sql("key_in") + ", "
            "if(pri_in is null, X'00', concat(X'02', "
            + _vzz_sql("octet_length(pri_in)") + ", cast(pri_in as binary))), "
            "if(delta_in is null, X'00', concat(X'02', "
            + _vzz_sql("delta_in") + ")))"
        ).alias("payload"),
    )
    return wire.mapInArrow(decode_union_nullable, UNION_OUT_DDL)


@register(
    "fn_avro_array_blocks",
    oracle=f"""
WITH li AS (
    SELECT CAST(l_orderkey AS BIGINT) AS okey,
           CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) - 5000000 AS val,
           ROW_NUMBER() OVER (
               PARTITION BY l_orderkey ORDER BY l_linenumber, val
           ) AS rn
    FROM lineitem
), z AS (
    SELECT okey, rn, val,
           CASE WHEN val >= 0 THEN val * 2 ELSE val * -2 - 1 END AS zv
    FROM li
), per AS (
    SELECT okey,
           COUNT(*) AS n,
           CAST(SUM(val) AS BIGINT) AS sum_vals,
           CAST(SUM(CASE WHEN rn <= 2
                         THEN {_ocf_vlen_sql('zv')} ELSE 0 END) AS BIGINT)
               AS b1len,
           CAST(SUM(CASE WHEN rn > 2
                         THEN {_ocf_vlen_sql('zv')} ELSE 0 END) AS BIGINT)
               AS b2len
    FROM z GROUP BY okey
), fr AS (
    SELECT okey, n, sum_vals, b1len, b2len,
           okey * 2 AS zk,
           LEAST(n, 2) * 2 AS zc1,
           (n - 2) * 2 - 1 AS zneg,
           b2len * 2 AS zbs
    FROM per
)
SELECT okey AS o_orderkey,
       CAST(n AS BIGINT) AS n_items,
       sum_vals,
       CAST(CASE WHEN n > 2 THEN 2 ELSE 1 END AS BIGINT) AS n_blocks,
       CASE WHEN n > 2 THEN b2len ELSE NULL END AS block2_size,
       CAST({_ocf_vlen_sql('zk')} + {_ocf_vlen_sql('zc1')} + b1len
            + CASE WHEN n > 2
                   THEN {_ocf_vlen_sql('zneg')} + {_ocf_vlen_sql('zbs')} + b2len
                   ELSE 0 END
            + 1 AS BIGINT) AS wire_len,
       TRUE AS blocks_ok
FROM fr
""",
)
def fn_avro_array_blocks(spark, sf_dir):
    """Avro composite BLOCK encoding for arrays (r11 staged stretch) —
    the remaining composite-type piece of the codec story. Spec: an
    array is a SERIES of blocks; each block is a zigzag-varint item
    COUNT followed by that many item encodings, and a zero count
    terminates the array. A NEGATIVE count is the fast-skip form: its
    absolute value is the item count and it is followed immediately by
    a zigzag-varint byte SIZE of the block, letting a reader skip the
    whole block without decoding any item — the property that makes
    huge Avro arrays scannable.

    Schema: ``record{{key: long, vals: array<long>}}`` with vals =
    per-order lineitem price deltas (cents - 5,000,000 — multi-limb
    varints of both signs), ordered by (l_linenumber, val) — the
    fixture's l_linenumber is NOT unique per order, so the oracle's
    ROW_NUMBER and the engine's array_sort agree on the same total
    order (equal (linenumber, val) pairs are interchangeable for every
    output). Encode emits BOTH wire forms deliberately: block 1
    carries the first min(n, 2) items with a POSITIVE count; the
    remaining n-2 items (UNBOUNDED — no per-order line cap is assumed)
    form block 2 in the NEGATIVE-count size-prefixed form; then the
    0x00 terminator.

    Decode is ONE Arrow-batch pass
    (functions/avro_arrow.decode_array_blocks, guide §4.2) walking
    the wire positionally with exact integer arithmetic — block-1
    item walk, negative-count header, size prefix, block-2 walk,
    terminator. The r11-r12 expression decoder ran the item walks as
    higher-order-function FOLDS (``F.aggregate(sequence(1, count),
    (cursor, sum), step)``) to stay under janino's 64 KB method limit,
    plus a planner-health encode checkpoint; its formatted plan was
    100 KB and the r12 scale study showed the op fixed-overhead-bound
    (16x data = +18% wall). The per-batch Python walk replaces folds
    and checkpoint in one narrow pass and handles ANY block length —
    the same shape that survives 100 TB arrays (r13 A/B at sf0.1,
    noop sink, min-of-3: 11.76 s -> see OPTIMIZATION_r13.md). The
    ENCODE stays a JVM expression, so encoder and decoder remain
    independent implementations cross-checked by ``blocks_ok``.
    ORACLE DOMAIN BOUND (r12 advice): the oracle's per-item varint
    lengths come from ``_ocf_vlen_sql``, a 9-limb ladder — exact for
    |zigzag| < 2**63, i.e. |val| < 2**62. Fixture vals are cents
    deltas (|val| ~ 6e6, limbs 1-4), far inside the bound; the 10-limb
    domain (|val| >= 2**62) is exercised by the ENGINE-side
    adversarial decode tests, not this oracle. A fixture rescale past
    2**62 must upgrade the oracle ladder first.

    The block arithmetic is proven three ways: (1) the FAST-SKIP jump
    — cursor-after-size + block2_size must land exactly on the
    terminator byte, i.e. the size prefix alone skips the block; (2)
    the ITEM WALK — folding block 2's items one varint at a time must
    consume exactly block2_size bytes (the two paths agree); (3)
    TILING — the terminator must be the last payload byte. The oracle
    recomputes counts, sums, per-item varint lengths (byte lengths,
    octet-exact), and total wire length from the same zigzag +
    limb-ladder arithmetic, so a count sign, size prefix, or
    terminator error flips the hash."""
    from .avro_arrow import ARRAY_BLOCKS_OUT_DDL
    from .avro_np import decode_array_blocks

    items = (
        t(spark, sf_dir, "lineitem")
        .select(
            F.col("l_orderkey").cast("bigint").alias("key_in"),
            "l_linenumber",
            (
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("bigint")
                - 5000000
            ).alias("val"),
        )
        .groupBy("key_in")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("l_linenumber", "val"))),
                lambda s: s["val"],
            ).alias("items")
        )
    )
    # SQL-text encode (one expr() parse per column; see _vu64_hex_sql)
    # — item folds and framing emit bytes identical to the ladder form.
    cat_items = lambda arr_sql: F.expr(
        f"aggregate({arr_sql}, X'', (acc, x) -> concat(acc, {_vzz_sql('x')}))"
    )
    staged = items.select(
        "key_in",
        "items",
        F.size("items").cast("bigint").alias("n_in"),
        F.least(F.size("items"), F.lit(2)).cast("bigint").alias("c1_in"),
        cat_items("slice(items, 1, 2)").alias("b1_bytes"),
        cat_items("slice(items, 3, greatest(size(items) - 2, 0))").alias(
            "b2_bytes"
        ),
    )
    wire = staged.select(
        "key_in",
        "items",
        "n_in",
        F.expr(
            "concat(" + _vzz_sql("key_in") + ", " + _vzz_sql("c1_in") + ", "
            "b1_bytes, "
            "if(n_in > 2, concat("
            # negative count = -(items in block 2)
            + _vzz_sql("-(n_in - c1_in)") + ", "
            # size prefix: BYTE length of the block's items
            + _vzz_sql("octet_length(b2_bytes)") + ", "
            "b2_bytes), X''), "
            "X'00')"  # zero-count terminator block
        ).alias("payload"),
    )
    return wire.mapInArrow(decode_array_blocks, ARRAY_BLOCKS_OUT_DDL)


@register(
    "fn_avro_map_blocks",
    oracle=f"""
WITH o AS (
    SELECT CAST(o_custkey AS BIGINT) AS okey,
           o_orderpriority AS k,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) - 15000000 AS v
    FROM orders
), e AS (
    SELECT okey, k, CAST(SUM(v) AS BIGINT) AS v
    FROM o GROUP BY okey, k
), r AS (
    SELECT okey, k, v,
           ROW_NUMBER() OVER (PARTITION BY okey ORDER BY k) AS rn,
           STRLEN(k) AS klen,
           STRLEN(k) * 2 AS zkl,
           CASE WHEN v >= 0 THEN v * 2 ELSE v * -2 - 1 END AS zv
    FROM e
), ent AS (
    SELECT okey, rn, klen, v,
           {_ocf_vlen_sql('zkl')} + klen + {_ocf_vlen_sql('zv')} AS elen
    FROM r
), per AS (
    SELECT okey,
           COUNT(*) AS n,
           CAST(SUM(klen) AS BIGINT) AS key_bytes,
           CAST(SUM(v) AS BIGINT) AS sum_vals,
           CAST(SUM(CASE WHEN rn <= 2 THEN elen ELSE 0 END) AS BIGINT) AS b1len,
           CAST(SUM(CASE WHEN rn > 2 THEN elen ELSE 0 END) AS BIGINT) AS b2len
    FROM ent GROUP BY okey
), fr AS (
    SELECT okey, n, key_bytes, sum_vals, b1len, b2len,
           okey * 2 AS zk,
           LEAST(n, 2) * 2 AS zc1,
           (n - 2) * 2 - 1 AS zneg,
           b2len * 2 AS zbs
    FROM per
)
SELECT okey AS o_custkey,
       CAST(n AS BIGINT) AS n_entries,
       key_bytes,
       sum_vals,
       CAST(CASE WHEN n > 2 THEN 2 ELSE 1 END AS BIGINT) AS n_blocks,
       CASE WHEN n > 2 THEN b2len ELSE NULL END AS block2_size,
       CAST({_ocf_vlen_sql('zk')} + {_ocf_vlen_sql('zc1')} + b1len
            + CASE WHEN n > 2
                   THEN {_ocf_vlen_sql('zneg')} + {_ocf_vlen_sql('zbs')} + b2len
                   ELSE 0 END
            + 1 AS BIGINT) AS wire_len,
       TRUE AS map_ok
FROM fr
""",
)
def fn_avro_map_blocks(spark, sf_dir):
    """Avro composite BLOCK encoding for maps (r12 staged stretch) —
    the ``map<string,long>`` sibling of ``fn_avro_array_blocks``,
    completing the Avro composite story. Spec: a map is a series of
    blocks exactly like an array — zigzag-varint entry COUNT (negative
    = fast-skip form, followed by the block's byte SIZE), zero count
    terminates — but each entry is a KEY-VALUE pair: a length-prefixed
    UTF-8 key (zigzag varint byte length + raw bytes) then the value's
    zigzag varint.

    Schema ``record{{key: long, attrs: map<string,long>}}`` with attrs
    = per-customer (o_orderpriority -> cents-delta sum over their
    orders): 1..5 entries per map, key byte lengths genuinely variable
    (5 "5-LOW" .. 15 "4-NOT SPECIFIED"), so the decode's cursor
    advance is DATA-DEPENDENT — the one mechanic the array fold does
    not have. Entries are sorted by key (unique per customer after the
    pre-aggregation) so the engine's array_sort and the oracle's
    ROW_NUMBER agree on the same total order. Both wire forms are
    emitted deliberately: block 1 = first min(n, 2) entries with a
    POSITIVE count, the remaining n-2 entries form block 2 in the
    NEGATIVE-count size-prefixed form, then 0x00.

    Decode is ONE Arrow-batch pass
    (functions/avro_arrow.decode_map_blocks, guide §4.2): a key step
    reads zigzag(klen) and jumps klen raw bytes — the data-dependent
    advance — and a value step decodes the value varint, in plain
    Python integer arithmetic per batch. The r12-r13 expression
    decoder ran this as parity-split HOF half-step folds specifically
    to dodge an analyzer blowup (scripts/map_blocks_fold_prototype_r12.py
    measured the naive nested form at 84-101 s/run) and still carried
    a 166 KB formatted plan + the encode checkpoint; the Arrow walk
    removes the whole hazard class along with the checkpoint (r13 A/B
    at sf0.1, noop sink, min-of-3: 12.34 s -> see
    OPTIMIZATION_r13.md). The variable advance was proven exact on
    500 variable-key wires (zero desyncs, byte-for-byte agreement
    with an independent pure-Python spec decoder) by the r12
    prototype, and the ENCODE stays a JVM expression — encoder and
    decoder remain independent implementations cross-checked by
    ``map_ok``.

    Proven the same three ways as the array op: fast-skip jump lands
    exactly on the terminator, the entry-by-entry walk of block 2
    consumes exactly block2_size bytes, and the terminator tiles the
    payload. ORACLE DOMAIN BOUND (r12 advice): per-entry varint
    lengths use the 9-limb ``_ocf_vlen_sql`` ladder — exact for
    |val| < 2**62; fixture values are cents deltas (limbs 1-4) and
    key-length zigzags (1 limb), far inside the bound. A fixture
    rescale past 2**62 must upgrade the oracle ladder first."""
    from .avro_arrow import MAP_BLOCKS_OUT_DDL
    from .avro_np import decode_map_blocks

    entries = (
        t(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").cast("bigint").alias("key_in"),
            F.col("o_orderpriority").alias("k"),
            (
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
                - 15000000
            ).alias("v"),
        )
        .groupBy("key_in", "k")
        .agg(F.sum("v").cast("bigint").alias("v"))
        .groupBy("key_in")
        .agg(F.sort_array(F.collect_list(F.struct("k", "v"))).alias("es"))
    )
    # SQL-text encode (one expr() parse per column; see _vu64_hex_sql)
    # — entry folds (length-prefixed key + value varint) and framing
    # emit bytes identical to the ladder form.
    enc_entry_sql = (
        f"concat({_vzz_sql('octet_length(e.k)')}, encode(e.k, 'UTF-8'), "
        f"{_vzz_sql('e.v')})"
    )
    cat_entries = lambda arr_sql: F.expr(
        f"aggregate({arr_sql}, X'', (acc, e) -> concat(acc, {enc_entry_sql}))"
    )
    staged = entries.select(
        "key_in",
        F.size("es").cast("bigint").alias("n_in"),
        F.aggregate(
            "es", F.lit(0).cast("bigint"), lambda a, e: a + F.octet_length(e["k"])
        ).alias("kb_in"),
        F.aggregate("es", F.lit(0).cast("bigint"), lambda a, e: a + e["v"]).alias(
            "vs_in"
        ),
        F.least(F.size("es"), F.lit(2)).cast("bigint").alias("c1_in"),
        cat_entries("slice(es, 1, 2)").alias("b1_bytes"),
        cat_entries("slice(es, 3, greatest(size(es) - 2, 0))").alias("b2_bytes"),
    )
    wire = staged.select(
        "key_in",
        "n_in",
        "kb_in",
        "vs_in",
        F.expr(
            "concat(" + _vzz_sql("key_in") + ", " + _vzz_sql("c1_in") + ", "
            "b1_bytes, "
            "if(n_in > 2, concat("
            # negative count = -(entries in block 2)
            + _vzz_sql("-(n_in - c1_in)") + ", "
            # size prefix: BYTE length of the block's entries
            + _vzz_sql("octet_length(b2_bytes)") + ", "
            "b2_bytes), X''), "
            "X'00')"  # zero-count terminator block
        ).alias("payload"),
    )
    return wire.mapInArrow(decode_map_blocks, MAP_BLOCKS_OUT_DDL)
