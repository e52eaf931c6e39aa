"""§2.B — projection / filter / row-level ops.

The reference's preprocessing cast GA string metrics to numerics, derived
columns, and deduped re-fetched rows [SURVEY.md §2.B, unverified]. All of
these stay inside whole-stage codegen (no Python boundary), so they run at
scan speed and scale linearly with partitions.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..registry import register
from ._shared import by_day, ckpt, day_of, dsum, qround, qsum, t, with_stats


@register(
    "project_derive",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice * (1 - l_discount), 6) AS net_price,
       ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax), 6) AS gross_price
FROM lineitem
""",
)
def project_derive(spark, sf_dir):
    """Projection with derived columns — arithmetic, string and conditional expressions computed inside one whole-stage-codegen pass over the scan."""
    li = t(spark, sf_dir, "lineitem")
    net = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(net, 6).alias("net_price"),
        F.round(net * (1 + F.col("l_tax")), 6).alias("gross_price"),
    )


@register(
    "filter_pred",
    oracle="""
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20
  AND l_returnflag IN ('A', 'R')
  AND l_shipdate >= TIMESTAMP '1998-01-01'
  AND l_linestatus LIKE 'F%'
  AND l_discount IS NOT NULL
""",
)
def filter_pred(spark, sf_dir):
    """Conjunctive range/IN/LIKE/NULL predicates — all pushed to the
    parquet scan (visible as PushedFilters in explain)."""
    li = t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity").between(10, 20))
        .filter(F.col("l_returnflag").isin("A", "R"))
        .filter(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp_ntz"))
        .filter(F.col("l_linestatus").like("F%"))
        .filter(F.col("l_discount").isNotNull())
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    )


@register(
    "cast_types",
    oracle="""
SELECT event_id,
       CAST(user_id AS DOUBLE) AS uid_double,
       CAST(user_id AS VARCHAR) AS uid_str,
       CAST(strftime(ts, '%Y-%m-%d') AS DATE) AS ts_day,
       CAST(FLOOR(value) AS BIGINT) AS value_floor
FROM events
""",
)
def cast_types(spark, sf_dir):
    """Type casts (the reference's GA metrics arrived as strings and were
    cast before aggregation). FLOOR-then-cast is used instead of a bare
    double→int cast because Spark truncates while ANSI engines round."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("user_id").cast("double").alias("uid_double"),
        F.col("user_id").cast("string").alias("uid_str"),
        day_of(F.date_format("ts", "yyyy-MM-dd")).alias("ts_day"),
        F.floor("value").cast("bigint").alias("value_floor"),
    )


@register(
    "cond_expr",
    oracle="""
SELECT event_id, user_id,
       CASE WHEN value > 75 THEN 'high' WHEN value > 40 THEN 'mid' ELSE 'low' END AS value_band,
       CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_purchase
FROM events
""",
)
def cond_expr(spark, sf_dir):
    """Conditional expressions — the churn-label shape (when/otherwise)."""
    ev = t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        F.when(F.col("value") > 75, "high")
        .when(F.col("value") > 40, "mid")
        .otherwise("low")
        .alias("value_band"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("is_purchase"),
    )


@register(
    "null_handling",
    oracle="""
SELECT event_id,
       COALESCE(NULLIF(event_type, 'error'), 'unknown') AS et_clean,
       COALESCE(CASE WHEN value > 90 THEN NULL ELSE ROUND(value, 6) END, -1.0) AS value_capped,
       (CASE WHEN value > 90 THEN NULL ELSE value END IS NULL) AS was_nulled,
       (CASE WHEN value > 90 THEN NULL ELSE value END IS NOT DISTINCT FROM value) AS null_safe_eq
FROM events
""",
)
def null_handling(spark, sf_dir):
    """NULL semantics: nullif/coalesce/is-null and null-safe equality
    (Spark's <=> is ANSI IS NOT DISTINCT FROM)."""
    ev = t(spark, sf_dir, "events")
    nulled = F.when(F.col("value") > 90, None).otherwise(F.col("value"))
    return ev.select(
        "event_id",
        F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("unknown")).alias("et_clean"),
        F.coalesce(F.when(F.col("value") > 90, None).otherwise(F.round("value", 6)), F.lit(-1.0)).alias(
            "value_capped"
        ),
        nulled.isNull().alias("was_nulled"),
        nulled.eqNullSafe(F.col("value")).alias("null_safe_eq"),
    )


@register("dedup_exact", oracle="SELECT DISTINCT user_id, event_type FROM events")
def dedup_exact(spark, sf_dir):
    """Exact dedup on a projected key set — one hash shuffle on the key;
    at 100 TB the map-side partial aggregate collapses duplicates before
    the exchange."""
    return t(spark, sf_dir, "events").select("user_id", "event_type").dropDuplicates()


def draw_sample_rows(spark, sf_dir):
    """The raw seeded Bernoulli sample (used by sample_rows' anchor
    check and by the fraction property test)."""
    return (
        t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag")
        .sample(fraction=0.2, seed=42)
    )


STRATIFIED_FRACTIONS = {
    "click": 0.5, "view": 0.1, "purchase": 1.0, "error": 1.0, "signup": 1.0
}


def draw_stratified(spark, sf_dir):
    """The raw per-stratum sample (used by sample_stratified's anchor
    check and by the proportion property test)."""
    return (
        t(spark, sf_dir, "events")
        .select("event_id", "user_id", "event_type")
        .sampleBy("event_type", STRATIFIED_FRACTIONS, seed=7)
    )


@register(
    "sample_rows",
    oracle="""
SELECT l_returnflag, COUNT(*) AS pop_n, TRUE AS sample_ok
FROM lineitem GROUP BY l_returnflag
""",
)
def sample_rows(spark, sf_dir):
    """Seeded Bernoulli sample (train/test-split shape). No shuffle —
    sampling happens inside the scan stage. The sample membership is
    engine-specific, so the driver-checkable contract is the anchor
    pattern (same trick as the sketch aggregates): exact per-class
    population counts hash-matched against DuckDB, plus `sample_ok` —
    the realized sample size landing within a 5σ binomial band around
    fraction·pop, computed Spark-side while the oracle emits literal
    TRUE. A broken sampler (wrong fraction, double-sampling, seed
    drift) flips the hash; the raw sampled rows stay covered by the
    fraction property test in tests/test_engine.py."""
    samp_n = (
        draw_sample_rows(spark, sf_dir)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("samp_n"))
    )
    pop = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("pop_n"))
    )
    sd = F.sqrt(F.col("pop_n") * 0.2 * 0.8)
    ok = F.abs(F.coalesce(F.col("samp_n"), F.lit(0)) - 0.2 * F.col("pop_n")) <= 5 * sd + 5
    return (
        pop.join(samp_n, "l_returnflag", "left")
        .select("l_returnflag", "pop_n", ok.alias("sample_ok"))
    )


_SCALAR_SUBQ_SQL = """
SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 6) AS totalprice
FROM orders
WHERE o_totalprice >
      (SELECT 1.8 * CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
       FROM orders)
"""
# 1.8x, not 2x: at 2x the sf0.01/sf0.1 fixtures matched ZERO orders, so
# the driver's value-hash was comparing empty frames — a contract with
# no signal (r7 zero-row audit). 1.8x selects ~10% of orders at every
# fixture scale; the SQL string is shared by the Spark path and the
# oracle, so the two sides cannot diverge on the threshold.


@register("subquery_scalar", oracle=_SCALAR_SUBQ_SQL)
def subquery_scalar(spark, sf_dir):
    """Uncorrelated scalar subquery (orders above 2× the global average)
    through the real SQL path: Catalyst plans the inner aggregate once and
    broadcasts the scalar — one extra stage, no per-row recompute. The
    threshold goes through DECIMAL(38,6) so both engines agree exactly at
    the comparison boundary."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SCALAR_SUBQ_SQL)


_CORR_SUBQ_SQL = """
SELECT l_orderkey, l_linenumber, l_partkey, ROUND(l_extendedprice, 6) AS price
FROM lineitem l
WHERE l_extendedprice >
      (SELECT 1.5 * CAST(SUM(CAST(l2.l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*)
       FROM lineitem l2
       WHERE l2.l_partkey = l.l_partkey)
"""


@register("subquery_correlated", oracle=_CORR_SUBQ_SQL)
def subquery_correlated(spark, sf_dir):
    """Correlated scalar subquery (lineitems priced 1.5× above their
    part's average). Catalyst decorrelates this into a per-part aggregate
    + equi-join on l_partkey — the shape that scales (one shuffle on the
    correlation key), never a per-row re-execution."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_CORR_SUBQ_SQL)


_LATERAL_SQL = """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c, LATERAL (
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_custkey = c.c_custkey
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
) o
"""


@register("subquery_lateral", oracle=_LATERAL_SQL)
def subquery_lateral(spark, sf_dir):
    """Lateral (correlated table) subquery — top-2 orders per customer.
    Catalyst decorrelates the per-row ORDER BY/LIMIT into a single
    WindowGroupLimit (partial top-k before the shuffle, final after), so
    the 'run a query per customer' semantics execute as ONE ranked pass
    over orders — the only shape that survives 10^9 customers. Same SQL
    text runs on DuckDB as the oracle."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)


@register(
    "fn_try",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice / NULLIF(l_quantity - 25.0, 0.0), 6) AS price_per_extra,
       TRY_CAST(CAST(l_linenumber AS VARCHAR) ||
                CASE WHEN l_returnflag = 'R' THEN 'x' ELSE '' END AS INTEGER) AS parsed_line,
       TRY_CAST(2147483640 + CAST(l_linenumber AS BIGINT) * 2 AS INTEGER) AS near_overflow
FROM lineitem
""",
)
def fn_try(spark, sf_dir):
    """ANSI-safe try_* family: under Spark 4's default ANSI mode a bad
    cast / div-by-zero / int overflow FAILS the job, so at 100 TB (where
    some dirty row always exists) try_divide / try_cast / try_add are the
    only way to keep a full-scan pipeline alive — errors degrade to NULL
    per-row instead of killing the stage. Oracle spells the same
    semantics via NULLIF and TRY_CAST."""
    # r13 optimization (guide §1.2 step 2 — per-task work): try_* NULL
    # degradation is EXCEPTION-BASED inside Spark — every failing row
    # constructs a SparkArithmeticException / NumberFormatException
    # through the error-class formatter. With ~40% of rows overflowing
    # the int add and ~25% failing the cast, the exception path was
    # the whole op: isolated noop A/B at sf0.1 put try_add alone at
    # 6.2 s and the string try_cast at 2.8 s (op total 10.4 s) vs 0.3 s
    # each with the failure classes pre-routed to NULL. The guards
    # below are VALUE-EQUIVALENT for every possible input, not just
    # this data: (1) a NULLIF'd divisor makes try_divide return NULL
    # via null propagation instead of catching DIVIDE_BY_ZERO; (2) a
    # digits-only fast path casts exception-free, a trailing-'x' match
    # (which can never cast) returns NULL directly, and anything else
    # still goes through try_cast untouched; (3) the add runs in
    # bigint (cannot overflow here) with an explicit int-range check
    # before the downcast — out-of-range becomes NULL without a throw,
    # exactly try_add's result. try_* stays the safety net for inputs
    # outside the guarded classes — which is the honest 100 TB lesson:
    # when a failure class is COMMON, route it with cheap predicates
    # and keep try_* for the unknown dirt. Oracle hash unchanged at
    # sf0.001/0.01/0.1.
    li = t(spark, sf_dir, "lineitem")
    parsed_src = (
        "concat(CAST(l_linenumber AS STRING),"
        " CASE WHEN l_returnflag = 'R' THEN 'x' ELSE '' END)"
    )
    sum64 = "2147483640L + cast(l_linenumber as bigint) * 2"
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.expr("try_divide(l_extendedprice, nullif(l_quantity - 25.0, 0d))"), 6
        ).alias("price_per_extra"),
        F.expr(
            f"CASE WHEN {parsed_src} RLIKE '^[0-9]{{1,9}}$'"
            f" THEN try_cast({parsed_src} AS INT)"
            f" WHEN {parsed_src} RLIKE '^[0-9]+x$' THEN CAST(NULL AS INT)"
            f" ELSE try_cast({parsed_src} AS INT) END"
        ).alias("parsed_line"),
        F.expr(
            f"CASE WHEN {sum64} BETWEEN -2147483648L AND 2147483647L"
            f" THEN try_cast({sum64} AS INT) ELSE CAST(NULL AS INT) END"
        ).alias("near_overflow"),
    )


_RECURSIVE_SQL = """
WITH RECURSIVE bounds AS (
  SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS lo,
         CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS hi
  FROM orders
), months(m, hi) AS (
  SELECT lo, hi FROM bounds
  UNION ALL
  SELECT CAST(m + INTERVAL 1 MONTH AS DATE), hi FROM months WHERE m < hi
), per_month AS (
  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
         COUNT(*) AS cnt,
         ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_price
  FROM orders GROUP BY 1
)
SELECT months.m AS month_start,
       COALESCE(p.cnt, 0) AS n_orders,
       p.sum_price AS sum_price
FROM months LEFT JOIN per_month p ON p.m = months.m
"""


@register("cte_recursive", oracle=_RECURSIVE_SQL)
def cte_recursive(spark, sf_dir):
    """Recursive CTE (Spark 4 UnionLoop): a data-anchored dense month
    spine — anchor row from MIN/MAX(o_orderdate), one recursion step per
    month — left-joined to per-month order aggregates so empty months
    surface as zero-count rows. Aggregate-BEFORE-join is the load-bearing
    choice: joining the spine to raw orders would force Spark to
    broadcast the fact table (LeftOuter can only build right), while the
    post-aggregate side is ≤ one row per month at any fact-table scale.
    The recursion itself is driver-cheap. Identical SQL is the DuckDB
    oracle."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


@register(
    "fn_format",
    oracle="""
SELECT l_orderkey, l_linenumber,
       printf('%08d-%02d', l_orderkey, l_linenumber) AS line_key,
       printf('%.2f', l_extendedprice) AS price_str,
       lpad(l_returnflag, 3, '.') AS flag_padded,
       repeat(l_linestatus, 2) AS status2
FROM lineitem
""",
)
def fn_format(spark, sf_dir):
    """C-style string formatting — stable surrogate-key minting and
    fixed-width export formatting. Spark format_string and DuckDB printf
    share printf semantics (same IEEE double → same '%.2f' text), so the
    twin is exact. Pure codegen projection: no shuffle, no Python."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.format_string("%08d-%02d", "l_orderkey", "l_linenumber").alias("line_key"),
        F.format_string("%.2f", "l_extendedprice").alias("price_str"),
        F.lpad("l_returnflag", 3, ".").alias("flag_padded"),
        F.repeat("l_linestatus", 2).alias("status2"),
    )


@register(
    "source_range",
    oracle="""
SELECT range AS id, range * range AS sq,
       CAST(range % 7 AS BIGINT) AS bucket
FROM range(0, 100000, 3)
""",
)
def source_range(spark, sf_dir):
    """Generator source — spark.range produces the sequence directly on
    executors (numPartitions splits of the [start,end) interval, zero
    I/O), the standard way to synthesize spine/probe tables at any
    scale without a driver-side collect. DuckDB twin: the range() table
    function."""
    return spark.range(0, 100000, 3, numPartitions=8).select(
        F.col("id"),
        (F.col("id") * F.col("id")).alias("sq"),
        (F.col("id") % 7).alias("bucket"),
    )


@register(
    "sample_stratified",
    oracle="""
SELECT event_type, COUNT(*) AS pop_n, TRUE AS sample_ok
FROM events GROUP BY event_type
""",
)
def sample_stratified(spark, sf_dir):
    """Stratified (per-class) sampling — sampleBy keeps rare classes
    whole while downsampling dominant ones, the standard class-rebalance
    step before training. Per-stratum Bernoulli inside the scan stage:
    no shuffle, seed-deterministic. Driver contract = the anchor
    pattern: exact per-stratum population counts hash-matched, plus
    `sample_ok` — fraction-1.0 strata must be kept WHOLE (exact
    equality, the rare-class guarantee) and downsampled strata must
    land in a 5σ binomial band; the oracle emits literal TRUE, so any
    sampler defect flips the hash. Realized proportions stay covered by
    tests/test_engine.py."""
    samp_n = (
        draw_stratified(spark, sf_dir)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("samp_n"))
    )
    pop = (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("pop_n"))
    )
    frac = F.element_at(
        F.create_map(*[F.lit(x) for kv in STRATIFIED_FRACTIONS.items() for x in kv]),
        F.col("event_type"),
    )
    got = F.coalesce(F.col("samp_n"), F.lit(0))
    sd = F.sqrt(F.col("pop_n") * frac * (1 - frac))
    ok = F.when(frac == 1.0, got == F.col("pop_n")).otherwise(
        F.abs(got - frac * F.col("pop_n")) <= 5 * sd + 5
    )
    return (
        pop.join(samp_n, "event_type", "left")
        .select("event_type", "pop_n", ok.alias("sample_ok"))
    )


_EXISTS_IN_SQL = """
SELECT c_custkey, c_mktsegment
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
  AND c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1)
  AND NOT EXISTS (SELECT 1 FROM orders o2
                  WHERE o2.o_custkey = c.c_custkey AND o2.o_totalprice < 10000)
"""


@register("subquery_exists_in", oracle=_EXISTS_IN_SQL)
def subquery_exists_in(spark, sf_dir):
    """Existential subquery surface — EXISTS / IN / NOT EXISTS in one
    predicate. Catalyst rewrites all three into join operators (semi,
    semi, anti) on the correlation keys, so 'run a probe per row'
    semantics cost three keyed joins total; the IN list (one region's
    nations) broadcasts. Identical SQL is the DuckDB oracle."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_EXISTS_IN_SQL)


@register(
    "fn_greatest_least",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(greatest(l_extendedprice * (1 - l_discount),
                      l_extendedprice * (1 + l_tax) * 0.5,
                      l_quantity * 1000.0), 6) AS best_case,
       ROUND(least(l_extendedprice, l_quantity * 2000.0), 6) AS capped,
       greatest(l_quantity, 10.0) AS qty_floor10
FROM lineitem
""",
)
def fn_greatest_least(spark, sf_dir):
    """Row-wise extrema across EXPRESSIONS (greatest/least) — the
    clamp/floor/cap primitives for derived pricing columns; unlike
    MIN/MAX these compare within the row, need no aggregation, and stay
    in whole-stage codegen at scan speed."""
    li = t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            F.greatest(
                F.col("l_extendedprice") * (1 - F.col("l_discount")),
                F.col("l_extendedprice") * (1 + F.col("l_tax")) * 0.5,
                F.col("l_quantity") * 1000.0,
            ),
            6,
        ).alias("best_case"),
        F.round(F.least(F.col("l_extendedprice"), F.col("l_quantity") * 2000.0), 6).alias(
            "capped"
        ),
        F.greatest(F.col("l_quantity"), F.lit(10.0)).alias("qty_floor10"),
    )


@register(
    "dq_orphan_audit",
    oracle="""
SELECT 'orders_without_customer' AS check_name,
       CAST(COUNT(*) AS BIGINT) AS n_orphans
FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
UNION ALL
SELECT 'lineitems_without_order',
       CAST(COUNT(*) AS BIGINT)
FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
UNION ALL
SELECT 'events_without_customer',
       CAST(COUNT(*) AS BIGINT)
FROM events e WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id)
""",
)
def dq_orphan_audit(spark, sf_dir):
    """Referential-integrity audit — orphan counts across the three FK
    edges in one result (the check every warehouse load runs before
    publishing). Each check is an ANTI join on its key: one shuffle per
    edge, counts only — no orphan rows materialize. Zero rows orphaned
    is the expected steady state; the operator's value is that a bad
    load makes these counts nonzero loudly."""
    c = t(spark, sf_dir, "customer").select("c_custkey")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    ev = t(spark, sf_dir, "events")

    def check(name, df, keys, dim, dimkey):
        orphans = df.join(dim, df[keys] == dim[dimkey], "left_anti")
        return orphans.agg(
            F.lit(name).alias("check_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_orphans"),
        )

    return (
        check("orders_without_customer", o, "o_custkey", c, "c_custkey")
        .unionByName(
            check("lineitems_without_order", li, "l_orderkey", o.select("o_orderkey"), "o_orderkey")
        )
        .unionByName(check("events_without_customer", ev, "user_id", c, "c_custkey"))
    )


@register(
    "dq_profile",
    oracle="""
SELECT 'event_type' AS column_name,
       CAST(COUNT(*) - COUNT(event_type) AS BIGINT) AS n_nulls,
       CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct,
       MIN(CAST(event_type AS VARCHAR)) AS min_str,
       MAX(CAST(event_type AS VARCHAR)) AS max_str
FROM events
UNION ALL
SELECT 'user_id', CAST(COUNT(*) - COUNT(user_id) AS BIGINT),
       CAST(COUNT(DISTINCT user_id) AS BIGINT),
       MIN(CAST(user_id AS VARCHAR)), MAX(CAST(user_id AS VARCHAR))
FROM events
UNION ALL
SELECT 'value', CAST(COUNT(*) - COUNT(value) AS BIGINT),
       CAST(COUNT(DISTINCT value) AS BIGINT),
       MIN(CAST(ROUND(value, 6) AS VARCHAR)), MAX(CAST(ROUND(value, 6) AS VARCHAR))
FROM events
""",
)
def dq_profile(spark, sf_dir):
    """Column profiler — null count, distinct cardinality, and
    stringified min/max per column, the landing-zone health report that
    catches schema drift (distinct explosion), broken extractors (null
    spikes), and unit changes (range shifts). One aggregate per column
    over the same cached scan; the string casts make one result schema
    fit every column type. String-form min/max compares identically on
    both engines for these value domains."""
    ev = t(spark, sf_dir, "events")

    def prof(col, expr_str):
        return ev.agg(
            F.lit(col).alias("column_name"),
            (F.count(F.lit(1)) - F.count(col)).cast("bigint").alias("n_nulls"),
            F.countDistinct(col).cast("bigint").alias("n_distinct"),
            F.min(expr_str).cast("string").alias("min_str"),
            F.max(expr_str).cast("string").alias("max_str"),
        )

    return (
        prof("event_type", F.col("event_type").cast("string"))
        .unionByName(prof("user_id", F.col("user_id").cast("string")))
        .unionByName(prof("value", F.round("value", 6).cast("string")))
    )


@register(
    "dq_expectations",
    oracle="""
WITH agg AS (
    SELECT
        CAST(COUNT(*) FILTER (WHERE event_id IS NULL) AS BIGINT) AS null_event_id,
        CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS dup_event_id,
        CAST(COUNT(*) FILTER (WHERE value < 0) AS BIGINT) AS negative_value,
        CAST(COUNT(*) FILTER (WHERE event_type NOT IN
             ('click', 'error', 'purchase', 'signup', 'view')) AS BIGINT) AS unknown_event_type,
        CAST(COUNT(*) FILTER (WHERE json_extract(props, '$.k') IS NULL) AS BIGINT) AS invalid_props,
        CAST(COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-01'
             OR ts >= TIMESTAMP '2025-01-01') AS BIGINT) AS ts_out_of_range
    FROM events
)
SELECT r.rule, r.n_violations, r.n_violations = 0 AS passed
FROM agg, LATERAL (VALUES
    ('null_event_id', null_event_id),
    ('dup_event_id', dup_event_id),
    ('negative_value', negative_value),
    ('unknown_event_type', unknown_event_type),
    ('invalid_props', invalid_props),
    ('ts_out_of_range', ts_out_of_range)) r(rule, n_violations)
""",
)
def dq_expectations(spark, sf_dir):
    """Declarative expectations suite (the Great-Expectations/dbt-test
    shape): six rules — non-null key, key uniqueness, value range,
    enum domain, JSON validity, timestamp freshness window — evaluated
    in ONE pass over the table as conditional aggregates, then unpivoted
    to a rule/violations/passed report. One scan + one (distinct-aware)
    aggregate regardless of rule count; adding a rule is one more
    conditional counter, never another scan. The load gate a 100 TB
    ingest runs before publishing a partition."""
    ev = t(spark, sf_dir, "events")
    known = ("click", "error", "purchase", "signup", "view")
    agg = ev.agg(
        F.count(F.when(F.col("event_id").isNull(), 1)).alias("null_event_id"),
        (F.count("*") - F.countDistinct("event_id")).alias("dup_event_id"),
        F.count(F.when(F.col("value") < 0, 1)).alias("negative_value"),
        F.count(F.when(~F.col("event_type").isin(*known), 1)).alias("unknown_event_type"),
        F.count(
            F.when(F.get_json_object("props", "$.k").isNull(), 1)
        ).alias("invalid_props"),
        F.count(
            F.when(
                (F.col("ts") < F.to_timestamp(F.lit("2024-01-01")))
                | (F.col("ts") >= F.to_timestamp(F.lit("2025-01-01"))),
                1,
            )
        ).alias("ts_out_of_range"),
    )
    rules = [
        "null_event_id",
        "dup_event_id",
        "negative_value",
        "unknown_event_type",
        "invalid_props",
        "ts_out_of_range",
    ]
    stack_expr = "stack({}, {}) as (rule, n_violations)".format(
        len(rules), ", ".join(f"'{r}', {r}" for r in rules)
    )
    return agg.select(F.expr(stack_expr)).select(
        "rule", "n_violations", (F.col("n_violations") == 0).alias("passed")
    )


@register(
    "dq_k_anonymity",
    oracle="""
WITH cells AS (
    SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS group_size
    FROM documents GROUP BY 1, 2
)
SELECT lang, source, group_size,
       group_size < 5 AS below_k
FROM cells
""",
)
def dq_k_anonymity(spark, sf_dir):
    """k-anonymity audit over the quasi-identifier tuple (lang, source):
    every equivalence class's size, flagged when below k = 5 — the
    privacy gate a training-data release runs so no published sample is
    re-identifiable by its quasi-identifiers alone. One hash aggregate
    on the quasi-identifier key; at 100 TB the flagged cells (not the
    rows) are the output, so the report stays tiny regardless of corpus
    size. Suppression/generalization of the flagged cells composes
    downstream as a broadcast anti-join on this table."""
    d = t(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("group_size")
    ).select(
        "lang",
        "source",
        "group_size",
        (F.col("group_size") < 5).alias("below_k"),
    )


@register(
    "dq_l_diversity",
    oracle="""
SELECT c.c_nationkey, c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_distinct,
       COUNT(DISTINCT o.o_orderpriority) < 3 AS at_risk
FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
GROUP BY 1, 2
""",
)
def dq_l_diversity(spark, sf_dir):
    """l-diversity audit — the companion check to dq_k_anonymity: a
    quasi-identifier group can be large (k-anonymous) yet still leak if
    every row in it shares one sensitive value. Groups by the
    (nation, market-segment) quasi-identifier and counts DISTINCT
    order priorities (the stand-in sensitive attribute); groups with
    l < 3 are flagged. One join (customer dimension broadcastable at
    any scale) + one distinct-count aggregate — the same shape as the
    k-anonymity pass, so both audits can share a shuffle in a combined
    privacy sweep."""
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.countDistinct("o_orderpriority").cast("bigint").alias("l_distinct"),
            (F.countDistinct("o_orderpriority") < 3).alias("at_risk"),
        )
    )


@register(
    "sample_reservoir",
    oracle="""
SELECT event_id, event_type, rank FROM (
    SELECT event_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY event_type
                              ORDER BY md5('rs:' || event_id), event_id) AS rank
    FROM events
) WHERE rank <= 5
""",
)
def sample_reservoir(spark, sf_dir):
    """Deterministic per-group reservoir sample (k = 5 per event type)
    — the reproducible uniform without-replacement draw: rank rows by
    md5 of their key and keep the k smallest per group. Because the
    hash is a pure function of the row key, the sample is identical
    across engines, runs, and partitionings — the property that makes
    it auditable (a true reservoir's result depends on arrival order).
    The window top-k reduces to a per-partition partial top-k before
    the shuffle (WindowGroupLimit), so state is O(k) per group, not a
    per-group sort of the whole fact table."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.md5(F.concat(F.lit("rs:"), F.col("event_id"))), F.col("event_id")
    )
    return (
        ev.select("event_id", "event_type")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
    )


@register(
    "dq_fk_cardinality",
    oracle="""
WITH edges AS (
    SELECT 'orders->customer' AS fk_edge, o_custkey AS parent FROM orders
    UNION ALL
    SELECT 'lineitem->orders', l_orderkey FROM lineitem
    UNION ALL
    SELECT 'lineitem->part', l_partkey FROM lineitem
), per_parent AS (
    SELECT fk_edge, parent, COUNT(*) AS n_children FROM edges GROUP BY 1, 2
)
SELECT fk_edge,
       CAST(COUNT(*) AS BIGINT) AS n_parents,
       CAST(SUM(n_children) AS BIGINT) AS n_children,
       CAST(MIN(n_children) AS BIGINT) AS min_fanout,
       CAST(MAX(n_children) AS BIGINT) AS max_fanout,
       FLOOR(CAST(SUM(n_children) AS DOUBLE) / COUNT(*) * 1000000 + 0.5)
           / 1000000 AS avg_fanout
FROM per_parent GROUP BY fk_edge
""",
)
def dq_fk_cardinality(spark, sf_dir):
    """FK fan-out profile — the cardinality complement to
    dq_orphan_audit's integrity check: per relationship edge, how many
    children does each parent actually have (min/max/avg)? A max_fanout
    spike is the skew early-warning for every join that shuffles on
    that key (the number the salting decision reads), and an avg drift
    across loads signals upstream duplication. One union of projected
    FK columns + two hash aggregates; output is one row per edge at
    any scale."""
    o = t(spark, sf_dir, "orders").select(
        F.lit("orders->customer").alias("fk_edge"), F.col("o_custkey").alias("parent")
    )
    l1 = t(spark, sf_dir, "lineitem").select(
        F.lit("lineitem->orders").alias("fk_edge"), F.col("l_orderkey").alias("parent")
    )
    l2 = t(spark, sf_dir, "lineitem").select(
        F.lit("lineitem->part").alias("fk_edge"), F.col("l_partkey").alias("parent")
    )
    per = (
        o.unionByName(l1)
        .unionByName(l2)
        .groupBy("fk_edge", "parent")
        .agg(F.count(F.lit(1)).alias("n_children"))
    )
    return per.groupBy("fk_edge").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parents"),
        F.sum("n_children").cast("bigint").alias("n_children"),
        F.min("n_children").cast("bigint").alias("min_fanout"),
        F.max("n_children").cast("bigint").alias("max_fanout"),
        qround(F.sum("n_children").cast("double") / F.count(F.lit(1))).alias("avg_fanout"),
    )


@register(
    "dq_uniqueness",
    oracle="""
SELECT 'orders.o_orderkey' AS entity, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
       CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_dup_rows,
       COUNT(*) = COUNT(DISTINCT o_orderkey) AS is_unique
FROM orders
UNION ALL
SELECT 'customer.c_custkey', COUNT(*), COUNT(DISTINCT c_custkey),
       COUNT(*) - COUNT(DISTINCT c_custkey),
       COUNT(*) = COUNT(DISTINCT c_custkey)
FROM customer
UNION ALL
SELECT 'part.p_partkey', COUNT(*), COUNT(DISTINCT p_partkey),
       COUNT(*) - COUNT(DISTINCT p_partkey),
       COUNT(*) = COUNT(DISTINCT p_partkey)
FROM part
UNION ALL
SELECT 'events.event_id', COUNT(*), COUNT(DISTINCT event_id),
       COUNT(*) - COUNT(DISTINCT event_id),
       COUNT(*) = COUNT(DISTINCT event_id)
FROM events
UNION ALL
SELECT 'documents.doc_id', COUNT(*), COUNT(DISTINCT doc_id),
       COUNT(*) - COUNT(DISTINCT doc_id),
       COUNT(*) = COUNT(DISTINCT doc_id)
FROM documents
UNION ALL
SELECT 'lineitem.(l_orderkey,l_linenumber)', COUNT(*),
       COUNT(DISTINCT l_orderkey * 100 + l_linenumber),
       COUNT(*) - COUNT(DISTINCT l_orderkey * 100 + l_linenumber),
       COUNT(*) = COUNT(DISTINCT l_orderkey * 100 + l_linenumber)
FROM lineitem
""",
)
def dq_uniqueness(spark, sf_dir):
    """Primary-key uniqueness audit across the warehouse — the first
    contract every ingest asserts. Each entity is one projected scan +
    one count/count-distinct aggregate (column pruning pushes the single
    key column into the parquet reader), unioned into an O(entities)
    report. The lineitem compound key is checked via an injective fold
    (orderkey·100 + linenumber, linenumber < 100 by construction) so the
    distinct runs on one shuffle key, not a struct."""

    def audit(name, df, key_col):
        return df.agg(
            F.lit(name).alias("entity"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(key_col).cast("bigint").alias("n_distinct"),
            (F.count(F.lit(1)) - F.countDistinct(key_col))
            .cast("bigint")
            .alias("n_dup_rows"),
            (F.count(F.lit(1)) == F.countDistinct(key_col)).alias("is_unique"),
        )

    parts = [
        audit("orders.o_orderkey", t(spark, sf_dir, "orders").select("o_orderkey"), F.col("o_orderkey")),
        audit("customer.c_custkey", t(spark, sf_dir, "customer").select("c_custkey"), F.col("c_custkey")),
        audit("part.p_partkey", t(spark, sf_dir, "part").select("p_partkey"), F.col("p_partkey")),
        audit("events.event_id", t(spark, sf_dir, "events").select("event_id"), F.col("event_id")),
        audit("documents.doc_id", t(spark, sf_dir, "documents").select("doc_id"), F.col("doc_id")),
        audit(
            "lineitem.(l_orderkey,l_linenumber)",
            t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber"),
            F.col("l_orderkey") * 100 + F.col("l_linenumber"),
        ),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


@register(
    "dq_freshness",
    oracle="""
WITH per_type AS (
    SELECT event_type, MAX(ts) AS last_ts, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY 1
), g AS (SELECT MAX(last_ts) AS gmax FROM per_type)
SELECT p.event_type, p.last_ts, p.n_events,
       CAST(epoch_us(g.gmax) - epoch_us(p.last_ts) AS BIGINT) // 60000000 AS minutes_behind,
       (epoch_us(g.gmax) - epoch_us(p.last_ts)) > 86400000000 AS is_stale
FROM per_type p, g
""",
)
def dq_freshness(spark, sf_dir):
    """Per-stream freshness audit — how far each event type lags the
    most recent data anywhere. One per-type aggregate, one 1-row global
    max broadcast back; the lag is computed in integer microseconds
    (floor-divided to minutes) so there is no float boundary. At scale
    this reads only the (event_type, ts) columns and never shuffles the
    fact table twice. is_stale flags streams more than 24 h behind."""
    # One event pass: the per-type table feeds both the global max and
    # the final projection (duplicate-scan sweep discipline).
    per = ckpt(
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
        )
    )
    lag_us = F.expr("timestampdiff(MICROSECOND, last_ts, gmax)")
    return with_stats(per, F.max("last_ts").alias("gmax")).select(
        "event_type",
        "last_ts",
        "n_events",
        F.floor(lag_us / F.lit(60000000)).cast("bigint").alias("minutes_behind"),
        (lag_us > F.lit(86400000000)).alias("is_stale"),
    )


@register(
    "dq_observe_metrics",
    oracle="""
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value,
       MIN(ts) AS min_ts,
       MAX(ts) AS max_ts,
       CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS n_purchases,
       CAST((SELECT COUNT(DISTINCT CAST(date_trunc('day', ts) AS DATE))
             FROM events) AS BIGINT) AS n_days
FROM events
""",
)
def dq_observe_metrics(spark, sf_dir):
    """Pipeline-run metrics via observed metrics — the zero-cost DQ
    pattern at 100 TB: `df.observe("name", ...)` rides accumulator
    metrics on the SAME pass that executes the pipeline, so row counts,
    value totals, and freshness bounds cost no extra scan (contrast
    dq_profile, which is its own job). Here the observed scan feeds the
    daily rollup; one collect executes the pass and the metric row
    (exact DECIMAL sum, integer counts, NTZ bounds serialized as
    strings across py4j) hash-matches the oracle's recomputation.

    Deliberately the STRING-NAMED observe + queryExecution
    .observedMetrics readout, NOT the `Observation` helper object: in
    this Spark build a completed Observation leaves the session's
    ObservationManager reachable from later RDD closures, and any
    subsequent MLlib evaluate in the same session dies with "Task not
    serializable: ObservationManager". Re-reproduced on pyspark 4.1.2
    (round 9): the failure persists after `del obs` + Python gc + JVM
    System.gc() + a 3 s listener-drain sleep, so it cannot be scoped
    away — in the driver's single shared session it would kill every
    later ml_* key. The other public candidate, `df.executionInfo`
    (4.0+), raises CLASSIC_OPERATION_NOT_SUPPORTED_ON_DF on classic
    sessions (Connect-only). The `_jdf.queryExecution()
    .observedMetrics()` readout below is therefore the ONLY working
    readout for string-named observed metrics on classic PySpark 4.1;
    it is the package's single private-API site, pinned to exactly one
    occurrence by tests/test_plans.py::test_jdf_pinned_to_one_site."""
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    ev = t(spark, sf_dir, "events").observe(
        "dq_metrics",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sum_value"),
        F.date_format(F.min("ts"), fmt).alias("min_ts"),
        F.date_format(F.max("ts"), fmt).alias("max_ts"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias("n_purchases"),
    )
    daily = by_day(ev).agg(F.count(F.lit(1)).alias("n"))
    n_days = len(daily.collect())  # executes THIS QueryExecution
    om = daily._jdf.queryExecution().observedMetrics()
    it = om.iterator()
    row = None
    while it.hasNext():
        kv = it.next()
        if kv._1() == "dq_metrics":
            row = kv._2()
    assert row is not None, "observed metrics missing from the executed plan"
    out = spark.createDataFrame(
        [
            (
                row.get(0),
                float(round(row.get(1), 6)),
                row.get(2),
                row.get(3),
                row.get(4),
                n_days,
            )
        ],
        "n_rows bigint, sum_value double, min_ts string, "
        "max_ts string, n_purchases bigint, n_days bigint",
    )
    return out.select(
        "n_rows",
        "sum_value",
        F.to_timestamp_ntz("min_ts", F.lit(fmt)).alias("min_ts"),
        F.to_timestamp_ntz("max_ts", F.lit(fmt)).alias("max_ts"),
        "n_purchases",
        "n_days",
    )


_SCHEMA_CONTRACT = {
    "events": [
        ("event_id", "bigint"),
        ("ts", "timestamp_ntz"),
        ("user_id", "bigint"),
        ("event_type", "string"),
        ("value", "double"),
        ("props", "string"),
    ],
    "documents": [
        ("doc_id", "bigint"),
        ("text", "string"),
        ("lang", "string"),
        ("source", "string"),
        ("n_chars", "bigint"),
    ],
    "embeddings": [
        ("vec_id", "bigint"),
        ("embedding", "array<float>"),
        ("label", "int"),
    ],
}


def _schema_contract_oracle() -> str:
    rows = []
    for tbl, cols in _SCHEMA_CONTRACT.items():
        for pos, (name, typ) in enumerate(cols):
            rows.append(f"('{tbl}', '{name}', '{typ}', {pos}, TRUE, TRUE)")
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(rows)
        + ") t(tbl, col_name, expected_type, position, type_ok, position_ok)"
    )


@register("dq_schema_contract", oracle=_schema_contract_oracle())
def dq_schema_contract(spark, sf_dir):
    """Schema-contract enforcement — the ingest gate that fails fast on
    producer drift BEFORE a wrong-typed column poisons downstream
    state. The declared contract (name, Spark simpleString type,
    ordinal) is checked against the live analyzed schema of each
    ingest-side table; type_ok/position_ok are computed Spark-side
    while the oracle emits the contract with literal TRUE — any drift
    flips the hash. Pure metadata: no data is scanned at any scale."""
    rows = []
    for tbl, cols in _SCHEMA_CONTRACT.items():
        actual = t(spark, sf_dir, tbl).schema
        actual_types = {f.name: f.dataType.simpleString() for f in actual.fields}
        actual_pos = {f.name: i for i, f in enumerate(actual.fields)}
        for pos, (name, typ) in enumerate(cols):
            rows.append(
                (
                    tbl,
                    name,
                    typ,
                    pos,
                    actual_types.get(name) == typ,
                    actual_pos.get(name) == pos,
                )
            )
    return spark.createDataFrame(
        rows,
        "tbl string, col_name string, expected_type string, position int, "
        "type_ok boolean, position_ok boolean",
    )


@register(
    "dq_row_checksum",
    oracle="""
SELECT 'orders' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(CAST('0x' || substr(md5(
           CAST(o_orderkey AS VARCHAR) || '|' || o_orderstatus || '|' ||
           CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)
       ), 1, 8) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE) AS content_checksum
FROM orders
UNION ALL
SELECT 'customer', COUNT(*),
       CAST(SUM(CAST(CAST('0x' || substr(md5(
           CAST(c_custkey AS VARCHAR) || '|' || c_mktsegment || '|' ||
           CAST(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR)
       ), 1, 8) AS BIGINT) AS DECIMAL(38,0))) AS DOUBLE)
FROM customer
""",
)
def dq_row_checksum(spark, sf_dir):
    """Order-insensitive content checksum — the cross-system
    reconciliation primitive: per table, Σ of a 32-bit slice of each
    row's md5 over a canonical field serialization. Any row added,
    dropped, or mutated moves the sum; the sum is partition-order
    independent (addition commutes), so two systems compare ONE number
    per table instead of shipping rows. md5 is bit-identical across
    engines (unlike engine-native hash()); money fields are serialized
    as half-up integer cents (explicit FLOOR(x·100+0.5) — a bare
    double→int cast truncates on Spark and rounds on DuckDB) so float
    formatting can't diverge. One scan + one
    map-side-combinable aggregate per table."""

    def checksum(df, name, canon):
        h = F.conv(F.substring(F.md5(canon), 1, 8), 16, 10).cast("decimal(38,0)")
        return df.agg(
            F.lit(name).alias("tbl"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(h).cast("double").alias("content_checksum"),
        )

    o = t(spark, sf_dir, "orders")
    c = t(spark, sf_dir, "customer")
    canon_o = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_orderstatus"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").cast("string"),
    )
    canon_c = F.concat_ws(
        "|",
        F.col("c_custkey").cast("string"),
        F.col("c_mktsegment"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").cast("string"),
    )
    return checksum(o, "orders", canon_o).unionByName(
        checksum(c, "customer", canon_c)
    )


@register(
    "dq_fk_chain",
    oracle="""
SELECT 'lineitem' AS hop, CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
UNION ALL
SELECT 'lineitem->orders', COUNT(*)
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
UNION ALL
SELECT 'lineitem->orders->customer', COUNT(*)
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
UNION ALL
SELECT 'lineitem->orders->customer->nation', COUNT(*)
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
UNION ALL
SELECT 'lineitem->orders->customer->nation->region', COUNT(*)
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
""",
)
def dq_fk_chain(spark, sf_dir):
    """Referential-chain survival audit — row counts after each hop of
    the full FK chain (lineitem→orders→customer→nation→region). Equal
    counts at every hop prove the whole chain is closed; a drop
    pinpoints exactly WHICH edge leaks (the multi-hop complement to
    dq_orphan_audit's single edges). The dims broadcast, so the audit
    is one fact scan plus pipelined broadcast joins — no extra
    shuffles; each hop is a separately pruned re-scan, cheaper at scale
    than materializing intermediate joins."""
    li = t(spark, sf_dir, "lineitem").select("l_orderkey")
    o = t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_regionkey")
    r = t(spark, sf_dir, "region").select("r_regionkey")
    hops = [
        ("lineitem", li),
        ("lineitem->orders", li.join(o, li["l_orderkey"] == o["o_orderkey"])),
    ]
    j2 = hops[1][1].join(c, F.col("o_custkey") == c["c_custkey"])
    hops.append(("lineitem->orders->customer", j2))
    j3 = j2.join(F.broadcast(n), F.col("c_nationkey") == n["n_nationkey"])
    hops.append(("lineitem->orders->customer->nation", j3))
    j4 = j3.join(F.broadcast(r), F.col("n_regionkey") == r["r_regionkey"])
    hops.append(("lineitem->orders->customer->nation->region", j4))
    out = None
    for name, df in hops:
        row = df.agg(
            F.lit(name).alias("hop"), F.count(F.lit(1)).cast("bigint").alias("n_rows")
        )
        out = row if out is None else out.unionByName(row)
    return out


@register(
    "dq_outlier_iqr",
    oracle="""
WITH q AS (
    SELECT event_type,
           quantile_cont(value, 0.25) AS q1,
           quantile_cont(value, 0.75) AS q3
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(SUM(CASE WHEN e.value < q.q1 - 1.5 * (q.q3 - q.q1)
                       OR e.value > q.q3 + 1.5 * (q.q3 - q.q1)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       ROUND(q.q1 - 1.5 * (q.q3 - q.q1), 6) AS lo_fence,
       ROUND(q.q3 + 1.5 * (q.q3 - q.q1), 6) AS hi_fence
FROM events e JOIN q ON e.event_type = q.event_type
GROUP BY e.event_type, q.q1, q.q3
""",
)
def dq_outlier_iqr(spark, sf_dir):
    """Tukey-fence outlier audit per segment — the standard numeric DQ
    gate before a value column feeds training: exact quartiles per
    event type, 1.5×IQR fences, and the count of rows outside them.
    Two passes by necessity (the fence is a function of the full
    distribution): one sort-based quantile aggregate producing a
    SEGMENT-COUNT-sized table, broadcast back onto the fact scan for
    the outlier count — no second shuffle of the fact table. Both
    engines interpolate quantiles linearly and the fence arithmetic is
    identical IEEE math, so the twin is exact. At 100 TB the exact
    quantile swaps for percentile_approx and the mechanics hold."""
    ev = t(spark, sf_dir, "events")
    q = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.25D)").alias("q1"),
        F.expr("percentile(value, 0.75D)").alias("q3"),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    return (
        ev.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "q1", "q3")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(((F.col("value") < lo) | (F.col("value") > hi)).cast("long"))
            .cast("bigint")
            .alias("n_outliers"),
        )
        .select(
            "event_type",
            "n",
            "n_outliers",
            F.round(lo, 6).alias("lo_fence"),
            F.round(hi, 6).alias("hi_fence"),
        )
    )


@register(
    "dq_drift_ks",
    oracle="""
WITH tagged AS (
    SELECT value AS v,
           CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS is_a
    FROM events WHERE event_type = 'view'
), per_v AS (
    SELECT v, SUM(is_a) AS na, SUM(1 - is_a) AS nb FROM tagged GROUP BY v
), tot AS (
    SELECT CAST(SUM(na) AS DOUBLE) AS ta, CAST(SUM(nb) AS DOUBLE) AS tb FROM per_v
), cums AS (
    SELECT v,
           SUM(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS ca,
           SUM(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cb
    FROM per_v
)
SELECT ROUND(MAX(ABS(CAST(ca AS DOUBLE) / t.ta - CAST(cb AS DOUBLE) / t.tb)), 6)
           AS ks_stat,
       CAST(MAX(t.ta) AS BIGINT) AS n_first_half,
       CAST(MAX(t.tb) AS BIGINT) AS n_second_half
FROM cums, tot t
""",
)
def dq_drift_ks(spark, sf_dir):
    """Two-sample Kolmogorov-Smirnov drift gate — the distribution-
    level alarm for a numeric column between two periods (first vs
    second half of the window, 'view' values): KS = max |ECDF₁ −
    ECDF₂|, the supremum over the POOLED distinct values, which one
    value-level aggregate + one cumulative window computes exactly —
    O(distinct values) after the combinable count pass, the same
    histogram trick as the AUC/threshold family. ECDFs are int/int
    ratios: exact. Pairs with ml_psi (binned, parametric-ish) and
    ml_drift_jsd (categorical) as the continuous nonparametric leg of
    the drift suite."""
    e = t(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    tagged = e.select(
        F.col("value").alias("v"),
        (F.col("ts") < F.to_timestamp(F.lit("2024-01-16 00:00:00")))
        .cast("long")
        .alias("is_a"),
    )
    per_v = ckpt(tagged.groupBy("v").agg(
        F.sum("is_a").alias("na"), F.sum(1 - F.col("is_a")).alias("nb")
    ))  # feeds the totals AND the ECDF window
    tot = per_v.agg(
        F.sum("na").cast("double").alias("ta"), F.sum("nb").cast("double").alias("tb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    cums = per_v.select(
        F.sum("na").over(w).alias("ca"), F.sum("nb").over(w).alias("cb")
    )
    return cums.crossJoin(F.broadcast(tot)).agg(
        F.round(
            F.max(
                F.abs(
                    F.col("ca").cast("double") / F.col("ta")
                    - F.col("cb").cast("double") / F.col("tb")
                )
            ),
            6,
        ).alias("ks_stat"),
        F.max("ta").cast("bigint").alias("n_first_half"),
        F.max("tb").cast("bigint").alias("n_second_half"),
    )


@register(
    "dq_hll_error_audit",
    oracle="""
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS rsd05_ok, TRUE AS rsd02_ok, TRUE AS rsd01_ok
FROM events
""",
)
def dq_hll_error_audit(spark, sf_dir):
    """Sketch-accuracy audit, measured not assumed — before replacing
    exact COUNT(DISTINCT) with HLL at 100 TB, run both on a slice and
    CHECK the estimate lands inside its advertised bound: Spark's
    approx_count_distinct at rsd 5%/2%/1% against the exact count,
    each flagged ok iff |est − exact| ≤ 4·rsd·exact (4σ — HLL's rsd
    is one standard deviation, so 4σ makes the flag deterministic-in-
    practice while still catching a broken sketch). The exact count is
    the oracle-matched column (DuckDB's own HLL differs by design —
    the ESTIMATES are Spark-side flags against literal TRUE, the
    anchor-contract pattern). One pass computes all four aggregates."""
    e = t(spark, sf_dir, "events")
    exact = F.countDistinct("user_id")
    flag = lambda rsd: (
        F.abs(F.approx_count_distinct("user_id", rsd) - exact)
        <= 4 * rsd * exact
    )
    return e.agg(
        exact.cast("bigint").alias("exact_users"),
        flag(0.05).alias("rsd05_ok"),
        flag(0.02).alias("rsd02_ok"),
        flag(0.01).alias("rsd01_ok"),
    )


@register(
    "dq_sequence_gaps",
    oracle="""
WITH present AS (
    SELECT DISTINCT o_orderkey AS k FROM orders WHERE o_orderkey % 7 <> 3
), islands AS (
    SELECT k, k - ROW_NUMBER() OVER (ORDER BY k) AS grp FROM present
), spans AS (
    SELECT MIN(k) AS island_start, MAX(k) AS island_end FROM islands GROUP BY grp
), gaps AS (
    SELECT island_end + 1 AS gap_start,
           LEAD(island_start) OVER (ORDER BY island_start) - 1 AS gap_end
    FROM spans
)
SELECT gap_start, gap_end, gap_end - gap_start + 1 AS n_missing
FROM gaps WHERE gap_end IS NOT NULL
""",
)
def dq_sequence_gaps(spark, sf_dir):
    """Sequence-gap audit (gaps-and-islands) — the completeness check
    for any surrogate-key or offset column that is SUPPOSED to be
    contiguous (Kafka offsets, invoice numbers, CDC sequence ids):
    report every missing run as [gap_start, gap_end, n_missing]. The
    fixture keys are contiguous by construction, so keys ≡3 (mod 7)
    are dropped as the deterministic stand-in for lost records (the
    scan_snapshot_diff convention). The classic trick does it in ONE
    sort: k − row_number() is constant within each contiguous island,
    so islands fall out of a groupBy and gaps from one LEAD over the
    island spans — O(islands) rows after the first aggregate. At
    100 TB the only data-sized cost is the distinct + range-sorted
    window on a BIGINT — a single range-partitioned shuffle; there is
    no self-join (the naive k+1 NOT EXISTS formulation, which would
    be a second full shuffle and is why this op exists)."""
    present = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 7 != 3)
        .select(F.col("o_orderkey").alias("k"))
        .distinct()
    )
    wk = Window.orderBy("k")
    islands = present.select("k", (F.col("k") - F.row_number().over(wk)).alias("grp"))
    spans = islands.groupBy("grp").agg(
        F.min("k").alias("island_start"), F.max("k").alias("island_end")
    )
    ws = Window.orderBy("island_start")
    gaps = spans.select(
        (F.col("island_end") + 1).alias("gap_start"),
        (F.lead("island_start").over(ws) - 1).alias("gap_end"),
    )
    return gaps.filter(F.col("gap_end").isNotNull()).select(
        "gap_start", "gap_end", (F.col("gap_end") - F.col("gap_start") + 1).alias("n_missing")
    )


@register(
    "dq_quantile_sketch_audit",
    oracle="""
WITH exact AS (
    SELECT quantile_cont(value, 0.50) AS p50,
           quantile_cont(value, 0.95) AS p95,
           quantile_cont(value, 0.99) AS p99,
           MIN(value) AS lo, MAX(value) AS hi
    FROM events
)
SELECT CAST(acc.a AS BIGINT) AS accuracy,
       ROUND(p50, 6) AS exact_p50, ROUND(p95, 6) AS exact_p95,
       ROUND(p99, 6) AS exact_p99,
       TRUE AS p50_within_rank_bound, TRUE AS p95_within_rank_bound,
       TRUE AS p99_within_rank_bound
FROM exact, (VALUES (100), (1000), (10000)) acc(a)
ORDER BY accuracy
""",
)
def dq_quantile_sketch_audit(spark, sf_dir):
    """Quantile-sketch accuracy audit — the dq_hll_error_audit pattern
    applied to approx_percentile: at 100 TB exact quantiles need a
    full sort, so everything runs on the Greenwald-Khanna sketch, and
    this op MEASURES what each accuracy setting actually buys instead
    of trusting the 1/accuracy rank-error formula. For accuracies
    100/1000/10000 each sketch p50/p95/p99 answer (a REAL data
    sample — GK never interpolates) is rank-checked: the sample's
    rank range [count(<v), count(≤v)] must intersect [(q−ε)n,
    (q+ε)n] with ε = 1/accuracy — the sketch's actual guarantee
    (value distance means nothing for skewed distributions; rank
    distance is the contract, which is also why comparing against
    interpolated exact quantile VALUES would false-alarm). Exact
    quantiles ride one sort-free quantile_cont per engine at audit
    scale; the flags are computed Spark-side from the measured sketch
    outputs, the oracle pins the exact quantiles and the flags'
    truth. A false flag is an engine-regression alarm, not noise —
    the bound is mathematical."""
    e = t(spark, sf_dir, "events").select("value")
    base = e.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.expr("percentile(value, array(0.5D, 0.95D, 0.99D))").alias("ex"),
    ).collect()[0]
    n, ex = base["n"], base["ex"]
    rows = []
    for acc in (100, 1000, 10000):
        eps = 1.0 / acc
        sk = e.agg(
            F.expr(
                f"approx_percentile(value, array(0.5D, 0.95D, 0.99D), {acc})"
            ).alias("sk")
        ).collect()[0]["sk"]
        # the GK contract is on RANKS: the returned sample's rank range
        # [count(<v), count(<=v)] must intersect [(q-eps)n, (q+eps)n]
        # (+1 rank slack for the ceil/floor boundary)
        rk = e.agg(
            *[
                f
                for i, v in enumerate(sk)
                for f in (
                    F.sum((F.col("value") < v).cast("long")).alias(f"lt{i}"),
                    F.sum((F.col("value") <= v).cast("long")).alias(f"le{i}"),
                )
            ]
        ).collect()[0]
        flags = []
        for i, q in enumerate((0.5, 0.95, 0.99)):
            lo, hi = (q - eps) * n - 1, (q + eps) * n + 1
            flags.append(bool(rk[f"lt{i}"] <= hi and rk[f"le{i}"] >= lo))
        rows.append(
            (
                acc,
                round(ex[0], 6),
                round(ex[1], 6),
                round(ex[2], 6),
                flags[0],
                flags[1],
                flags[2],
            )
        )
    return spark.createDataFrame(
        rows,
        "accuracy bigint, exact_p50 double, exact_p95 double, exact_p99 double,"
        " p50_within_rank_bound boolean, p95_within_rank_bound boolean,"
        " p99_within_rank_bound boolean",
    )


@register(
    "dq_rounding_contract_audit",
    oracle="""
WITH probes(pid, x) AS (VALUES
    (1, 0.0000005), (2, 1.0000005), (3, 2.0000005), (4, -0.0000005),
    (5, 1.0000015), (6, 0.1234565), (7, 2.6749995), (8, -1.0000015),
    (9, 123456.7890115), (10, 0.9999995)
)
SELECT pid, CAST(x AS DOUBLE) AS x,
       FLOOR(CAST(x AS DOUBLE) * 1000000 + 0.5) / 1000000 AS q6,
       FLOOR(CAST(x AS DOUBLE) * 1e12 + 0.5) / 1e12 AS q12,
       FLOOR(-CAST(x AS DOUBLE) * 1000000 + 0.5) / 1000000 AS q6_neg
FROM probes ORDER BY pid
""",
)
def dq_rounding_contract_audit(spark, sf_dir):
    """Numeric-contract certification — the hash-exactness this whole
    engine's oracle discipline rests on, itself put under the hash:
    every cross-engine output in this repo quantizes through
    floor(x·10^k + 0.5) (round-half-up toward +inf, identical IEEE
    ops on both engines) precisely because bare ROUND() is NOT
    portable — Spark's round is HALF_UP on the decimal repr, DuckDB's
    is half-even on doubles, and they split at .5 boundaries (the
    invariant test pins one such split). This op drives the contract
    through hand-picked adversarial literals: exact .5 ties at the
    6th/12th decimal, negatives (where floor-based rounding goes
    toward +inf, NOT away from zero — documented, certified), a
    large-magnitude value, and near-tie epsilons. A future engine
    version that changes any of these bit patterns fails the driver
    hash loudly instead of silently drifting every 6th decimal in
    the suite. Constants-only by design: the contract must hold
    independent of data."""
    rows = [
        (1, 0.0000005), (2, 1.0000005), (3, 2.0000005), (4, -0.0000005),
        (5, 1.0000015), (6, 0.1234565), (7, 2.6749995), (8, -1.0000015),
        (9, 123456.7890115), (10, 0.9999995),
    ]
    df = spark.createDataFrame(rows, "pid int, x double")
    q = lambda c, k: F.floor(c * F.lit(float(10**k)) + F.lit(0.5)) / F.lit(float(10**k))
    return df.select(
        "pid",
        "x",
        q(F.col("x"), 6).alias("q6"),
        q(F.col("x"), 12).alias("q12"),
        q(-F.col("x"), 6).alias("q6_neg"),
    ).orderBy("pid")


@register(
    "dq_reconciliation",
    oracle="""
WITH li AS (
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)
                         AS DECIMAL(38,6))) AS DOUBLE) AS li_total
    FROM lineitem GROUP BY 1
), recon AS (
    SELECT o.o_orderkey, o.o_totalprice, li.li_total,
           COALESCE(ABS(o.o_totalprice - li.li_total), o.o_totalprice) AS adiff,
           ABS(o.o_totalprice - li.li_total)
               / GREATEST(ABS(o.o_totalprice), 0.01) AS rdiff
    FROM orders o LEFT JOIN li ON li.l_orderkey = o.o_orderkey
)
SELECT CASE WHEN li_total IS NULL THEN 'no_detail'
            WHEN rdiff <= 0.0001 THEN 'match'
            WHEN rdiff <= 0.01 THEN 'minor_mismatch'
            ELSE 'major_mismatch' END AS recon_class,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(MAX(adiff), 6) AS max_abs_diff,
       ROUND(CAST(SUM(CAST(adiff AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_abs_diff
FROM recon GROUP BY 1 ORDER BY 1
""",
)
def dq_reconciliation(spark, sf_dir):
    """Cross-table financial reconciliation — the month-end close
    check: does every order header total equal its line detail rolled
    up through the business rule (extended price net of discount,
    grossed for tax)? Differences are CLASSIFIED (exact-match /
    ≤1 bp minor / major / NO-DETAIL headers, the worst break) rather
    than boolean-failed, because a recon
    report's job is to size the break, not just detect it — max and
    summed absolute breaks per class are what the controller reads.
    On this synthetic fixture the totals were NOT generated from the
    lineitems, so the report correctly lands everything in
    major_mismatch — the op measures, it does not assume. One
    order-keyed rollup + one co-partitioned join; DECIMAL sums keep
    the break totals exact. At 100 TB this is the same single shuffle
    as any order-grain rollup, and the class counts make the daily
    recon dashboard one GROUP BY away."""
    li = (
        t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            dsum(
                F.col("l_extendedprice") * (1.0 - F.col("l_discount")) * (1.0 + F.col("l_tax"))
            ).alias("li_total")
        )
    )
    o = t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    recon = o.join(li, "l_orderkey", "left").select(
        "li_total",
        F.coalesce(
            F.abs(F.col("o_totalprice") - F.col("li_total")), F.col("o_totalprice")
        ).alias("adiff"),
        (
            F.abs(F.col("o_totalprice") - F.col("li_total"))
            / F.greatest(F.abs(F.col("o_totalprice")), F.lit(0.01))
        ).alias("rdiff"),
    )
    cls = (
        F.when(F.col("li_total").isNull(), "no_detail")
        .when(F.col("rdiff") <= 0.0001, "match")
        .when(F.col("rdiff") <= 0.01, "minor_mismatch")
        .otherwise("major_mismatch")
    )
    return (
        recon.groupBy(cls.alias("recon_class"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.max("adiff"), 6).alias("max_abs_diff"),
            F.round(
                dsum(F.col("adiff")), 6
            ).alias("total_abs_diff"),
        )
        .orderBy("recon_class")
    )


@register(
    "dq_duplicate_payments",
    oracle="""
WITH pay AS (
    SELECT event_id, user_id, ts, value,
           epoch_us(ts) // 3600000000 AS hr
    FROM events WHERE event_type = 'purchase' AND value > 0
), cand AS (
    SELECT a.event_id AS id_a, b.event_id AS id_b, a.user_id,
           ROUND(ABS(a.value - b.value) / GREATEST(a.value, b.value), 6)
               AS amt_rel_diff,
           (epoch_us(b.ts) - epoch_us(a.ts)) // 60000000 AS minutes_apart
    FROM pay a JOIN pay b
      ON a.user_id = b.user_id
     AND b.hr BETWEEN a.hr AND a.hr + 1
     AND a.event_id < b.event_id
    WHERE ABS(a.value - b.value) / GREATEST(a.value, b.value) <= 0.01
      AND epoch_us(b.ts) - epoch_us(a.ts) BETWEEN 0 AND 3600000000
)
SELECT id_a, id_b, user_id, amt_rel_diff, CAST(minutes_apart AS BIGINT)
           AS minutes_apart
FROM cand
""",
)
def dq_duplicate_payments(spark, sf_dir):
    """Duplicate-payment detector — the accounts-payable audit
    classic: two purchases by the same user, within 1% of the same
    amount, within an hour of each other, are flagged as probable
    double-charges (retry storms, double-clicks, reposted invoices).
    The join is BLOCKED twice — by user AND by hour bucket (each
    event joins only its own and the next hour's bucket) — so the
    pair space is O(events per user-hour)², never a per-user
    cartesian over months of history: the same bucketing discipline
    as llm_dedup_cosine, applied to a money audit. At 100 TB the
    user+hour key is the shuffle, and the hour window rides the same
    partition. Pair ordering by event_id halves and dedupes the
    candidates; exact-µs arithmetic keeps the minutes-apart column
    engine-identical."""
    pay = (
        t(spark, sf_dir, "events")
        .filter((F.col("event_type") == "purchase") & (F.col("value") > 0))
        .select(
            "event_id",
            "user_id",
            "ts",
            "value",
            F.floor(
                F.expr("timestampdiff(MICROSECOND, timestamp_ntz '1970-01-01', ts)")
                / F.lit(3600000000)
            ).alias("hr"),
        )
    )
    a = pay.select(
        F.col("event_id").alias("id_a"),
        "user_id",
        F.col("ts").alias("ts_a"),
        F.col("value").alias("v_a"),
        F.col("hr").alias("hr_a"),
    )
    b = pay.select(
        F.col("event_id").alias("id_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
        F.col("value").alias("v_b"),
        F.col("hr").alias("hr_b"),
    )
    us = F.expr("timestampdiff(MICROSECOND, ts_a, ts_b)")
    rel = F.abs(F.col("v_a") - F.col("v_b")) / F.greatest("v_a", "v_b")
    return (
        a.join(
            b,
            (F.col("user_id") == F.col("user_b"))
            & F.col("hr_b").between(F.col("hr_a"), F.col("hr_a") + 1)
            & (F.col("id_a") < F.col("id_b")),
        )
        .filter((rel <= 0.01) & us.between(0, 3600000000))
        .select(
            "id_a",
            "id_b",
            "user_id",
            F.round(rel, 6).alias("amt_rel_diff"),
            F.floor(us / F.lit(60000000)).cast("bigint").alias("minutes_apart"),
        )
    )


@register(
    "dq_key_discovery",
    oracle="""
WITH u AS (
  SELECT 'events' AS tbl, 'event_id' AS candidate,
         CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct
  FROM events
  UNION ALL
  SELECT 'events', 'user_id', COUNT(*), COUNT(DISTINCT user_id) FROM events
  UNION ALL
  SELECT 'orders', 'o_orderkey', COUNT(*), COUNT(DISTINCT o_orderkey)
  FROM orders
  UNION ALL
  SELECT 'orders', 'o_custkey', COUNT(*), COUNT(DISTINCT o_custkey) FROM orders
  UNION ALL
  SELECT 'lineitem', 'l_orderkey+l_linenumber', COUNT(*),
         COUNT(DISTINCT (l_orderkey, l_linenumber))
  FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'l_orderkey', COUNT(*), COUNT(DISTINCT l_orderkey)
  FROM lineitem
  UNION ALL
  SELECT 'documents', 'doc_id', COUNT(*), COUNT(DISTINCT doc_id) FROM documents
)
SELECT tbl, candidate, n_rows, n_distinct,
       CAST(n_rows - n_distinct AS BIGINT) AS dup_rows,
       n_rows = n_distinct AS is_key,
       ROUND(CAST(n_distinct AS DOUBLE) / n_rows, 6) AS uniqueness
FROM u
""",
)
def dq_key_discovery(spark, sf_dir):
    """Primary-key discovery audit — profile a candidate-key list
    (single columns and the one composite the schema implies) for
    exact uniqueness, the screening every ingestion of an undocumented
    source runs before it dares an upsert or a join: picking a
    non-key join column silently fans out downstream aggregates
    (dup_rows tells you by HOW MUCH). Each candidate costs one
    COUNT DISTINCT aggregate pushed to a projected scan of ONLY the
    candidate columns — at 100 TB the per-candidate cost is a
    column-pruned pass with a map-side partial (each candidate is its
    own pruned scan; the union deliberately does NOT merge them —
    merging would widen every pass to the union of candidate columns).
    A true key
    reports is_key; near-keys report their uniqueness ratio so the
    0.999-unique 'almost keys' (the classic trap) are visible."""
    ev = t(spark, sf_dir, "events")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    d = t(spark, sf_dir, "documents")

    def prof(df, tbl, cand, *cols):
        return df.agg(
            F.lit(tbl).alias("tbl"),
            F.lit(cand).alias("candidate"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.countDistinct(*cols).cast("bigint").alias("n_distinct"),
        ).select("tbl", "candidate", "n_rows", "n_distinct")

    u = (
        prof(ev, "events", "event_id", "event_id")
        .unionAll(prof(ev, "events", "user_id", "user_id"))
        .unionAll(prof(o, "orders", "o_orderkey", "o_orderkey"))
        .unionAll(prof(o, "orders", "o_custkey", "o_custkey"))
        .unionAll(
            prof(
                li,
                "lineitem",
                "l_orderkey+l_linenumber",
                "l_orderkey",
                "l_linenumber",
            )
        )
        .unionAll(prof(li, "lineitem", "l_orderkey", "l_orderkey"))
        .unionAll(prof(d, "documents", "doc_id", "doc_id"))
    )
    return u.select(
        "tbl",
        "candidate",
        "n_rows",
        "n_distinct",
        (F.col("n_rows") - F.col("n_distinct")).cast("bigint").alias("dup_rows"),
        (F.col("n_rows") == F.col("n_distinct")).alias("is_key"),
        F.round(F.col("n_distinct").cast("double") / F.col("n_rows"), 6).alias(
            "uniqueness"
        ),
    )


@register(
    "dq_dp_count_release",
    oracle="""
WITH per_nation AS (
    SELECT n.n_name AS nation, CAST(COUNT(*) AS BIGINT) AS true_n
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    GROUP BY 1
), noised AS (
    SELECT nation, true_n,
           CAST(('0x' || substr(md5('dp:' || nation), 1, 13)) AS BIGINT)
               / 4503599627370496.0 - 0.5 AS v
    FROM per_nation
), lap AS (
    SELECT nation, true_n,
           -(CASE WHEN v < 0 THEN -1.0 ELSE 1.0 END)
               * (FLOOR(ln(1.0 - 2.0 * abs(v)) * 1000000000 + 0.5)
                  / 1000000000) AS noise
    FROM noised
)
SELECT nation, true_n,
       1.0 AS epsilon,
       FLOOR(noise * 1000000 + 0.5) / 1000000 AS noise,
       GREATEST(CAST(0 AS BIGINT),
                CAST(FLOOR(true_n + noise + 0.5) AS BIGINT)) AS released
FROM lap
""",
)
def dq_dp_count_release(spark, sf_dir):
    """Differentially-private count release (Laplace mechanism, eps=1,
    sensitivity 1) over per-nation order counts — the privacy layer a
    shared analytics surface puts between raw behavioral counts and
    external consumers. The noise draw is DERIVED, not sampled: md5 of
    the release key -> 52-bit uniform u in [0,1) -> inverse-CDF Laplace
    -(1/eps)*sign(u-.5)*ln(1-2|u-.5|) — a seeded mechanism (same shape
    as RAPPOR-style deterministic reporting), which is what makes the
    op testable cross-engine AND what a real release pipeline wants
    anyway (replayable audits; fresh releases rotate the key salt, they
    don't re-randomize per read). The ln() output is the one
    library-dependent float op, so it is quantized at 1e-9 before any
    arithmetic (house discipline, cf. llm_keyword_extract's idf). Plan
    shape: one star join + one 25-group aggregate; the mechanism itself
    is O(groups) scalar math. true_n is disclosed for the correctness
    gate only — a production release would project it away."""
    o = t(spark, sf_dir, "orders").select("o_custkey")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    per_nation = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_n"))
    )
    v = (
        F.conv(F.substring(F.md5(F.concat(F.lit("dp:"), F.col("nation"))), 1, 13), 16, 10)
        .cast("bigint")
        / F.lit(4503599627370496.0)
        - F.lit(0.5)
    )
    noise = -F.when(v < 0, F.lit(-1.0)).otherwise(F.lit(1.0)) * qround(
        F.log(F.lit(1.0) - F.lit(2.0) * F.abs(v)),
        9,
    )
    return per_nation.select(
        "nation",
        "true_n",
        F.lit(1.0).alias("epsilon"),
        qround(noise).alias("noise"),
        F.greatest(
            F.lit(0).cast("bigint"),
            F.floor(F.col("true_n") + noise + F.lit(0.5)).cast("bigint"),
        ).alias("released"),
    )


@register(
    "dq_arithmetic_contract",
    oracle="""
WITH checked AS (
    SELECT l_returnflag,
           CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * 1e6 + 0.5) AS BIGINT)
               AS disc_q,
           CAST(FLOOR(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax) * 1e6 + 0.5)
                AS BIGINT) AS charge_q,
           l_discount BETWEEN 0.0 AND 0.1 AS disc_in_range,
           l_tax BETWEEN 0.0 AND 0.08 AS tax_in_range,
           l_extendedprice > 0 AS price_positive
    FROM lineitem
)
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN disc_in_range THEN 0 ELSE 1 END) AS BIGINT)
           AS n_disc_violations,
       CAST(SUM(CASE WHEN tax_in_range THEN 0 ELSE 1 END) AS BIGINT)
           AS n_tax_violations,
       CAST(SUM(CASE WHEN price_positive THEN 0 ELSE 1 END) AS BIGINT)
           AS n_price_violations,
       CAST(SUM(disc_q) AS BIGINT) AS sum_discounted_q,
       CAST(SUM(charge_q) AS BIGINT) AS sum_charge_q
FROM checked GROUP BY 1
""",
)
def dq_arithmetic_contract(spark, sf_dir):
    """Derived-column arithmetic contract audit over lineitem — the
    check every billing pipeline owes its ledger: domain bounds on the
    rate columns (discount in [0, 0.10], tax in [0, 0.08], price > 0)
    plus the exact per-group totals of the two DERIVED money columns
    (discounted = price*(1-disc), charge = discounted*(1+tax)) that
    any downstream revenue query will recompute — publishing both
    micro-unit totals here makes later reconciliation (cf.
    dq_reconciliation) a constant-time diff instead of a re-scan. Each
    derived term is half-up micro-quantized BEFORE the sum (the
    rounding contract money must obey, same grain as qdec), so the
    totals are exact BIGINTs. One scan, one map-side-combinable
    aggregate, O(flags) output."""
    li = t(spark, sf_dir, "lineitem")
    disc_q = F.floor(
        F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    charge_q = F.floor(
        F.col("l_extendedprice")
        * (F.lit(1.0) - F.col("l_discount"))
        * (F.lit(1.0) + F.col("l_tax"))
        * F.lit(1e6)
        + F.lit(0.5)
    ).cast("bigint")
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.when(F.col("l_discount").between(0.0, 0.1), 0).otherwise(1)
        ).cast("bigint").alias("n_disc_violations"),
        F.sum(
            F.when(F.col("l_tax").between(0.0, 0.08), 0).otherwise(1)
        ).cast("bigint").alias("n_tax_violations"),
        F.sum(F.when(F.col("l_extendedprice") > 0, 0).otherwise(1))
        .cast("bigint")
        .alias("n_price_violations"),
        F.sum(disc_q).cast("bigint").alias("sum_discounted_q"),
        F.sum(charge_q).cast("bigint").alias("sum_charge_q"),
    )


@register(
    "dq_fd_discovery",
    oracle="""
WITH cands AS (
    SELECT 'nation' AS tbl, 'n_nationkey->n_regionkey' AS fd,
           CAST(n_nationkey AS VARCHAR) AS a, CAST(n_regionkey AS VARCHAR) AS b
    FROM nation
    UNION ALL
    SELECT 'customer', 'c_nationkey->c_mktsegment',
           CAST(c_nationkey AS VARCHAR), c_mktsegment FROM customer
    UNION ALL
    SELECT 'orders', 'o_custkey->o_orderpriority',
           CAST(o_custkey AS VARCHAR), o_orderpriority FROM orders
    UNION ALL
    SELECT 'orders', 'o_orderstatus->o_orderpriority',
           o_orderstatus, o_orderpriority FROM orders
    UNION ALL
    SELECT 'lineitem', 'l_returnflag->l_linestatus',
           l_returnflag, l_linestatus FROM lineitem
    UNION ALL
    SELECT 'lineitem', 'l_orderkey->l_returnflag',
           CAST(l_orderkey AS VARCHAR), l_returnflag FROM lineitem
), ab AS (
    SELECT tbl, fd, a, b, CAST(COUNT(*) AS BIGINT) AS n FROM cands
    GROUP BY 1, 2, 3, 4
), per_a AS (
    SELECT tbl, fd, a, CAST(SUM(n) AS BIGINT) AS rows_a,
           CAST(MAX(n) AS BIGINT) AS best, CAST(COUNT(*) AS BIGINT) AS n_b
    FROM ab GROUP BY 1, 2, 3
)
SELECT tbl, fd,
       CAST(SUM(rows_a) AS BIGINT) AS n_rows,
       CAST(COUNT(*) AS BIGINT) AS n_determinants,
       CAST(SUM(CASE WHEN n_b > 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS violating_determinants,
       CAST(SUM(rows_a - best) AS BIGINT) AS g3_rows_to_remove,
       SUM(CASE WHEN n_b > 1 THEN 1 ELSE 0 END) = 0 AS holds
FROM per_a GROUP BY 1, 2
""",
)
def dq_fd_discovery(spark, sf_dir):
    """Functional-dependency discovery audit — profile a candidate list
    of A->B dependencies for whether they HOLD, and when they don't,
    by HOW MUCH: the g3 measure (minimum rows to delete so the FD
    holds = n_rows - sum over determinants of the majority-B count) is
    the standard FD-approximation metric (Kivinen-Mannila), and it's
    what separates 'schema fact worth enforcing as a constraint'
    (n_nationkey->n_regionkey, g3 = 0) from 'spurious correlation'
    (o_custkey->o_orderpriority). Completes dq_key_discovery (keys =
    FDs with A the whole row's identity). Each candidate costs one
    (A, B) count aggregate + one per-A majority reduction — both
    map-side combinable, all integers; candidates union into one plan.
    At 100 TB each candidate is a two-column pruned pass."""
    def cand(df, tbl, fd, a, b):
        return df.select(
            F.lit(tbl).alias("tbl"),
            F.lit(fd).alias("fd"),
            F.col(a).cast("string").alias("a"),
            F.col(b).cast("string").alias("b"),
        )

    n = t(spark, sf_dir, "nation")
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    li = t(spark, sf_dir, "lineitem")
    cands = (
        cand(n, "nation", "n_nationkey->n_regionkey", "n_nationkey", "n_regionkey")
        .unionByName(cand(c, "customer", "c_nationkey->c_mktsegment", "c_nationkey", "c_mktsegment"))
        .unionByName(cand(o, "orders", "o_custkey->o_orderpriority", "o_custkey", "o_orderpriority"))
        .unionByName(cand(o, "orders", "o_orderstatus->o_orderpriority", "o_orderstatus", "o_orderpriority"))
        .unionByName(cand(li, "lineitem", "l_returnflag->l_linestatus", "l_returnflag", "l_linestatus"))
        .unionByName(cand(li, "lineitem", "l_orderkey->l_returnflag", "l_orderkey", "l_returnflag"))
    )
    ab = cands.groupBy("tbl", "fd", "a", "b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    per_a = ab.groupBy("tbl", "fd", "a").agg(
        F.sum("n").cast("bigint").alias("rows_a"),
        F.max("n").cast("bigint").alias("best"),
        F.count(F.lit(1)).cast("bigint").alias("n_b"),
    )
    return per_a.groupBy("tbl", "fd").agg(
        F.sum("rows_a").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("n_determinants"),
        F.sum(F.when(F.col("n_b") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("violating_determinants"),
        F.sum(F.col("rows_a") - F.col("best")).cast("bigint").alias("g3_rows_to_remove"),
        (F.sum(F.when(F.col("n_b") > 1, 1).otherwise(0)) == 0).alias("holds"),
    )


@register(
    "dq_terminal_digit",
    oracle="""
WITH digits AS (
    SELECT CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) % 10 AS BIGINT)
               AS d
    FROM orders
), counts AS (
    SELECT g.d, CAST(COUNT(digits.d) AS BIGINT) AS n
    FROM generate_series(0, 9) g(d)
    LEFT JOIN digits ON digits.d = g.d
    GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM counts)
SELECT c.d AS digit, c.n,
       FLOOR(CAST(c.n AS DOUBLE) / tot.t * 1000000 + 0.5) / 1000000 AS share,
       FLOOR((CAST(c.n AS DOUBLE) - tot.t / 10.0) * (c.n - tot.t / 10.0)
             / (tot.t / 10.0) * 1000000 + 0.5) / 1000000 AS chi2_term
FROM counts c, tot
""",
)
def dq_terminal_digit(spark, sf_dir):
    """Terminal-digit analysis of order totals — the forensic-
    accounting complement to agg_benford: FIRST digits obey Benford on
    natural data, but LAST (cents) digits should be near-UNIFORM;
    humans inventing numbers avoid 0s and repeat favorites, and
    price-point policies (.99) leave spikes — either way the per-digit
    chi-square terms localize exactly WHICH digit misbehaves (Nigrini's
    digit-preference test). The digit is exact integer arithmetic off
    the half-up cents quantization (never float modulo), the 10-row
    spine makes absent digits pay their expected count, and the whole
    audit is one map-side-combinable aggregate."""
    digits = (
        t(spark, sf_dir, "orders")
        .select(
            (
                F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5)).cast("bigint")
                % 10
            ).alias("d")
        )
    )
    spine = spark.range(0, 10).select(F.col("id").cast("bigint").alias("d"))
    counts = ckpt(
        spine.join(digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n")), "d", "left")
        .select("d", F.coalesce("n", F.lit(0)).cast("bigint").alias("n"))
    )
    exp = F.col("t") / F.lit(10.0)
    return with_stats(counts, F.sum("n").cast("bigint").alias("t")).select(
        F.col("d").alias("digit"),
        "n",
        qround(F.col("n").cast("double") / F.col("t")).alias("share"),
        qround((F.col("n").cast("double") - exp) * (F.col("n") - exp) / exp).alias(
            "chi2_term"
        ),
    )


@register(
    "subquery_quantified",
    oracle="""
WITH seg_avg AS (
    SELECT c.c_mktsegment,
           CAST(SUM(CAST(FLOOR(o.o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 / COUNT(*) AS avg_price
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    GROUP BY 1
)
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_totalprice > ALL (SELECT avg_price FROM seg_avg)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_above_all,
       CAST(SUM(CASE WHEN o_totalprice < ANY (SELECT avg_price FROM seg_avg)
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_below_any
FROM orders GROUP BY 1
""",
)
def subquery_quantified(spark, sf_dir):
    """Quantified subquery comparisons (> ALL / < ANY) — the SQL-92
    surface Spark SQL does NOT parse, re-expressed through the
    standard scalar rewrite the engine's translation layer owes its
    users: x > ALL(S) == x > max(S), x < ANY(S) == x < min(S)
    (empty-S and NULL caveats documented — S here is a 5-row
    aggregate, never empty, never NULL). The DuckDB twin runs the
    LITERAL quantified form, so the rewrite's equivalence is
    hash-proven, not claimed. Segment averages ride the usual DECIMAL
    discipline; the two thresholds broadcast as a 1-row frame; one
    fact pass."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderpriority")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg_avg = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .groupBy("c_mktsegment")
        .agg(
            (
                qsum(F.col("o_totalprice"))
                / F.count(F.lit(1))
            ).alias("avg_price")
        )
    )
    # x > ALL(S) == x > max(S); x < ANY(S) ("less than at least one
    # element") == x < max(S). S is a 5-row aggregate: never empty/NULL.
    bounds = seg_avg.agg(
        F.max("avg_price").alias("all_bound"),
        F.max("avg_price").alias("any_hi"),
    )
    return (
        o.crossJoin(F.broadcast(bounds))
        .groupBy(F.col("o_orderpriority").alias("priority"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("o_totalprice") > F.col("all_bound"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_above_all"),
            F.sum(F.when(F.col("o_totalprice") < F.col("any_hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_below_any"),
        )
    )


@register(
    "dq_benford_mad",
    oracle="""
WITH digits AS (
    SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
                            AS VARCHAR), 1, 1) AS BIGINT) AS d
    FROM orders WHERE o_totalprice > 0
), counts AS (
    SELECT g.d, CAST(COUNT(digits.d) AS BIGINT) AS n
    FROM generate_series(1, 9) g(d)
    LEFT JOIN digits ON digits.d = g.d
    GROUP BY 1
), tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS t FROM counts),
devs AS (
    SELECT c.d,
           abs(c.n / tot.t
               - (FLOOR((ln(CAST(c.d + 1 AS DOUBLE)) - ln(CAST(c.d AS DOUBLE)))
                        / ln(10.0) * 1e9 + 0.5) / 1e9)) AS dev
    FROM counts c, tot
)
SELECT CAST((SELECT t FROM tot) AS BIGINT) AS n_values,
       FLOOR(CAST(SUM(CAST(FLOOR(dev * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
             / 1e9 / 9.0 * 1000000 + 0.5) / 1000000 AS mad,
       CASE
         WHEN CAST(SUM(CAST(FLOOR(dev * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
              / 1e9 / 9.0 < 0.006 THEN 'close'
         WHEN CAST(SUM(CAST(FLOOR(dev * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
              / 1e9 / 9.0 < 0.012 THEN 'acceptable'
         WHEN CAST(SUM(CAST(FLOOR(dev * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
              / 1e9 / 9.0 < 0.015 THEN 'marginal'
         ELSE 'nonconforming'
       END AS conformity
FROM devs
""",
)
def dq_benford_mad(spark, sf_dir):
    """Benford conformity by Nigrini's MAD — the practitioner's fix for
    the chi-square trap agg_benford_chisq walks into at scale: with
    millions of rows, chi2 rejects EVERY real dataset (power goes to 1
    against microscopic deviations), so forensic accounting grades the
    MEAN ABSOLUTE DEVIATION of first-digit proportions against fixed
    bands instead (close < 0.006, acceptable < 0.012, marginal <
    0.015, else nonconforming) — a sample-size-free effect-size
    criterion. First digits from exact integer cents (string head of
    the BIGINT — no float log10 digit extraction), expected Benford
    masses via q9 logs, deviations q9-DECIMAL-summed. One
    map-combinable aggregate, O(1) output."""
    digits = (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.substring(
                F.floor(F.col("o_totalprice") * F.lit(100) + F.lit(0.5))
                .cast("bigint")
                .cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("d")
        )
    )
    spine = spark.range(1, 10).select(F.col("id").cast("bigint").alias("d"))
    counts = ckpt(
        spine.join(
            digits.groupBy("d").agg(F.count(F.lit(1)).cast("bigint").alias("n")),
            "d",
            "left",
        ).select("d", F.coalesce("n", F.lit(0)).cast("bigint").alias("n"))
    )
    expected = qround(
        (F.log((F.col("d") + 1).cast("double")) - F.log(F.col("d").cast("double")))
        / F.log(F.lit(10.0)),
        9,
    )
    devs = with_stats(counts, F.sum("n").cast("double").alias("t")).select(
        "t", F.abs(F.col("n") / F.col("t") - expected).alias("dev")
    )
    mad = (
        qsum(F.col("dev"), 9)
        / F.lit(9.0)
    )
    return devs.agg(
        F.first("t").cast("bigint").alias("n_values"),
        qround(mad).alias("mad"),
        F.when(mad < 0.006, "close")
        .when(mad < 0.012, "acceptable")
        .when(mad < 0.015, "marginal")
        .otherwise("nonconforming")
        .alias("conformity"),
    )
