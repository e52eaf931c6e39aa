"""§2.D — aggregation surface.

Per-client_id feature rollups were the reference's core operation
[SURVEY.md §2.D, unverified]. Spark's hash aggregate is two-phase
(map-side partial + final after one shuffle on the grouping key), which is
exactly the 100 TB-safe shape; AQE coalesces the post-shuffle partitions.
Money-style sums go through DECIMAL(38,6) for order-independent equality
with the oracle (see operators/_shared.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..registry import register
from ._shared import DSUM, by_day, ckpt, day_of, docs, dsum, norm_text, qdec, qround, qsum, t, words

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "agg_group",
    oracle=f"""
SELECT user_id, event_type, COUNT(*) AS n_events,
       ROUND({DSUM("value")}, 6) AS sum_value,
       ROUND({DSUM("value")} / COUNT(value), 6) AS avg_value,
       MIN(ts) AS first_ts, MAX(ts) AS last_ts
FROM events GROUP BY user_id, event_type
""",
)
def agg_group(spark, sf_dir):
    """Per-(user, event-type) rollup — counts, DECIMAL-exact sums/averages, first/last timestamps; the canonical one-shuffle hash aggregate with map-side partials."""
    ev = t(spark, sf_dir, "events")
    sum_dec = dsum(F.col("value"))
    return ev.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_events"),
        F.round(sum_dec, 6).alias("sum_value"),
        F.round(sum_dec / F.count("value"), 6).alias("avg_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@register(
    "agg_global",
    oracle=f"""
SELECT COUNT(*) AS n_rows,
       COUNT(DISTINCT l_orderkey) AS n_orders,
       ROUND({DSUM("l_quantity")}, 6) AS sum_qty,
       ROUND(MIN(l_extendedprice), 6) AS min_price,
       ROUND(MAX(l_extendedprice), 6) AS max_price
FROM lineitem
""",
)
def agg_global(spark, sf_dir):
    """Whole-table aggregate (no grouping keys) — counts, distinct orders, DECIMAL-exact totals and extrema in a single partial+final pass with a 1-row result."""
    li = t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.round(dsum(F.col("l_quantity")), 6).alias("sum_qty"),
        F.round(F.min("l_extendedprice"), 6).alias("min_price"),
        F.round(F.max("l_extendedprice"), 6).alias("max_price"),
    )


@register(
    "agg_distinct",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
)
def agg_distinct(spark, sf_dir):
    """Distinct aggregate — Spark expands to a two-level aggregate
    (distinct keys first, then count), both phases partial-aggregated."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n_users"), F.count("*").alias("n_events"))
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS approx_ok
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_approx_distinct(spark, sf_dir):
    """HLL++ approximate distinct — the 100 TB cardinality answer: fixed
    sketch memory instead of a distinct shuffle of every key. The HLL
    estimate itself is engine-specific, so the driver-checkable anchor
    is exact_orders (hash-matched vs DuckDB) plus approx_ok — the
    accuracy invariant computed Spark-side; the oracle emits literal
    TRUE, so an estimate drifting past tolerance flips the hash and the
    driver catches it. The bound is relative 5% with an absolute slack
    of max(1, 0.05*exact) (≈3σ headroom at rsd=0.02 — a legitimate HLL
    estimate must not convert into a hard hash mismatch), and the
    denominator is guarded so an empty group cannot NULL the flag."""
    # r13b (guide §2.3 — shuffle fewer bytes): mixing countDistinct
    # with the HLL aggregate makes Catalyst's distinct rewrite plan the
    # HLL partial PER (flag, orderkey) GROUP — a 410-word sketch buffer
    # for every one of ~110k distinct orders crossing the first
    # exchange (plan: partial_approx_count_distinct keyed by both
    # columns, Results [412]; measured: approx alone 0.82 s, exact
    # alone 0.66 s, combined 3.21 s at sf0.1). An HLL estimate is a
    # deterministic function of the DISTINCT value set, so running both
    # aggregates over the pre-deduplicated (flag, orderkey) pairs is
    # bit-identical for the estimate AND the exact count, one scan, and
    # the first exchange carries just the two key columns: 3.21 s →
    # 1.04 s. Map-side partial dedup keeps that exchange bounded at
    # 100 TB; only 4 sketches (one per flag group) ever materialize.
    agged = (
        t(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_orderkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_orderkey", rsd=0.02).alias("approx_orders"),
            F.count(F.lit(1)).alias("exact_orders"),
        )
    )
    slack = F.greatest(F.lit(1.0), 0.05 * F.col("exact_orders"))
    err = F.abs(F.col("approx_orders") - F.col("exact_orders"))
    ok = F.coalesce(err <= slack, F.lit(False))
    return agged.select("l_returnflag", "exact_orders", ok.alias("approx_ok"))


@register(
    "agg_pivot",
    oracle=f"""
SELECT user_id,
       COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click_n,
       COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error_n,
       COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase_n,
       COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup_n,
       COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view_n,
       ROUND(COALESCE({DSUM("CASE WHEN event_type = 'purchase' THEN value END")}, 0), 6) AS purchase_value
FROM events GROUP BY user_id
""",
)
def agg_pivot(spark, sf_dir):
    """Pivot with an explicit value list (deterministic columns; an
    unlisted pivot would need an extra distinct pass over 100 TB)."""
    ev = t(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.coalesce(dsum(F.col("value")), F.lit(0.0)), 6).alias("v"))
    )
    cols = [F.col("user_id")]
    cols += [F.coalesce(F.col(f"{et}_n"), F.lit(0)).alias(f"{et}_n") for et in EVENT_TYPES]
    cols += [F.coalesce(F.col("purchase_v"), F.lit(0.0)).alias("purchase_value")]
    return pivoted.select(*cols)


@register(
    "agg_rollup",
    oracle="""
SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
       GROUPING(r.r_name, n.n_name) AS gid
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY ROLLUP(r.r_name, n.n_name)
""",
)
def agg_rollup(spark, sf_dir):
    """Hierarchical subtotals region→nation→grand-total with the
    GROUPING bitmask distinguishing subtotal levels."""
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    return joined.rollup("r_name", "n_name").agg(
        F.count("*").alias("n_customers"),
        (F.grouping("r_name") * 2 + F.grouping("n_name")).cast("bigint").alias("gid"),
    )


@register(
    "agg_having",
    oracle="""
SELECT o_custkey, COUNT(*) AS n_orders
FROM orders GROUP BY o_custkey HAVING COUNT(*) >= 5
""",
)
def agg_having(spark, sf_dir):
    """Post-aggregation filtering (HAVING): per-customer order totals kept only above a spend floor — the predicate runs on the aggregate output, after the shuffle."""
    return (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("n_orders"))
        .filter(F.col("n_orders") >= 5)
    )


@register(
    "agg_collect",
    oracle="""
SELECT user_id,
       array_to_string(list(event_type ORDER BY event_type), ',') AS event_types,
       COUNT(*) AS n_types
FROM (SELECT DISTINCT user_id, event_type FROM events)
GROUP BY user_id
""",
)
def agg_collect(spark, sf_dir):
    """Array aggregation; sorted + joined to a string so the comparison is
    deterministic (collect order is partition-dependent by design)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.array_join(F.array_sort(F.collect_set("event_type")), ",").alias("event_types"),
            F.size(F.collect_set("event_type")).cast("bigint").alias("n_types"),
        )
    )


@register(
    "agg_stats",
    oracle="""
SELECT event_type,
       ROUND(STDDEV_SAMP(value), 6) AS sd_value,
       ROUND(VAR_SAMP(value), 6) AS var_value,
       ROUND(COVAR_SAMP(value, CAST(user_id AS DOUBLE)), 6) AS covar_vu,
       ROUND(CORR(value, CAST(user_id AS DOUBLE)), 6) AS corr_vu,
       ROUND(MEDIAN(value), 6) AS median_value
FROM events GROUP BY event_type
""",
)
def agg_stats(spark, sf_dir):
    """Statistical aggregates. median uses Spark's *exact* interpolated
    percentile (matches DuckDB MEDIAN); percentile_approx is exercised in
    agg_approx_distinct-style rows-only ops where sketches can't match."""
    ev = t(spark, sf_dir, "events")
    uid = F.col("user_id").cast("double")
    return ev.groupBy("event_type").agg(
        F.round(F.stddev_samp("value"), 6).alias("sd_value"),
        F.round(F.var_samp("value"), 6).alias("var_value"),
        F.round(F.covar_samp(F.col("value"), uid), 6).alias("covar_vu"),
        F.round(F.corr(F.col("value"), uid), 6).alias("corr_vu"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("median_value"),
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT r.r_name, n.n_name, COUNT(*) AS n_customers,
       GROUPING(r.r_name, n.n_name) AS gid
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY GROUPING SETS ((r.r_name, n.n_name), (r.r_name), ())
""",
)
def agg_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (the general form rollup/cube sugar over):
    per-(region, nation), per-region, and grand total in one pass —
    Spark expands the sets map-side, so it stays a single exchange."""
    c = t(spark, sf_dir, "customer")
    n = F.broadcast(t(spark, sf_dir, "nation"))
    r = F.broadcast(t(spark, sf_dir, "region"))
    joined = c.join(n, c.c_nationkey == n.n_nationkey).join(r, n.n_regionkey == r.r_regionkey)
    return joined.groupingSets(
        [["r_name", "n_name"], ["r_name"], []], "r_name", "n_name"
    ).agg(
        F.count("*").alias("n_customers"),
        (F.grouping("r_name") * 2 + F.grouping("n_name")).cast("bigint").alias("gid"),
    )


@register(
    "agg_unpivot",
    oracle="""
SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, ROUND(l_quantity, 6) AS val FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_extendedprice', ROUND(l_extendedprice, 6) FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'l_discount', ROUND(l_discount, 6) FROM lineitem
""",
)
def agg_unpivot(spark, sf_dir):
    """Unpivot/melt (pivot's inverse): wide measure columns → long
    (key, metric, value) rows. Narrow generate — each input row expands
    in place, no shuffle; the ANSI twin is the UNION ALL expansion."""
    li = t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_quantity", 6).alias("l_quantity"),
        F.round("l_extendedprice", 6).alias("l_extendedprice"),
        F.round("l_discount", 6).alias("l_discount"),
    )
    return li.unpivot(
        ids=["l_orderkey", "l_linenumber"],
        values=["l_quantity", "l_extendedprice", "l_discount"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@register(
    "agg_minmax_by",
    oracle="""
WITH ranked AS (
    SELECT event_type, event_id, value,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value DESC, event_id DESC) AS rmax,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC) AS rmin
    FROM events
)
SELECT event_type,
       MAX(CASE WHEN rmax = 1 THEN event_id END) AS top_event_id,
       ROUND(MAX(CASE WHEN rmax = 1 THEN value END), 6) AS top_value,
       MAX(CASE WHEN rmin = 1 THEN event_id END) AS bottom_event_id,
       ROUND(MAX(CASE WHEN rmin = 1 THEN value END), 6) AS bottom_value
FROM ranked GROUP BY event_type
""",
)
def agg_minmax_by(spark, sf_dir):
    """Argmax/argmin aggregate (max_by/min_by): the row-attribute at the
    extreme of another column, in ONE hash aggregate — no window sort, no
    self-join. Tiebreak is made deterministic by ordering on a
    (value, event_id) struct; DuckDB 1.0 arg_max has no composite-key
    form, so the oracle is the row_number twin."""
    ev = t(spark, sf_dir, "events")
    ord_key = F.struct(F.col("value"), F.col("event_id"))
    return ev.groupBy("event_type").agg(
        F.max_by("event_id", ord_key).alias("top_event_id"),
        F.round(F.max("value"), 6).alias("top_value"),
        F.min_by("event_id", ord_key).alias("bottom_event_id"),
        F.round(F.min("value"), 6).alias("bottom_value"),
    )


@register(
    "agg_mode",
    oracle="""
WITH counts AS (
    SELECT user_id, event_type, COUNT(*) AS n FROM events GROUP BY 1, 2
), ranked AS (
    SELECT user_id, event_type, n,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY n DESC, event_type DESC) AS r
    FROM counts
)
SELECT user_id, event_type AS mode_type, n AS mode_n FROM ranked WHERE r = 1
""",
)
def agg_mode(spark, sf_dir):
    """Deterministic mode (most frequent event_type per user). Built-in
    F.mode breaks ties arbitrarily — useless against an oracle — so this
    is the two-phase form: count per (user, type), then max_by on a
    (count, type) struct. Two hash aggregates, both partial-aggregated;
    no window, so no per-user sort at scale."""
    ev = t(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    return counts.groupBy("user_id").agg(
        F.max_by("event_type", F.struct(F.col("n"), F.col("event_type"))).alias("mode_type"),
        F.max("n").alias("mode_n"),
    )


@register(
    "agg_sketch_hll",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS approx_ok
FROM events GROUP BY event_type
""",
)
def agg_sketch_hll(spark, sf_dir):
    """Two-level HLL sketch rollup — the 100 TB cardinality pattern:
    build per-(event_type, day) DataSketches HLL sketches, then MERGE
    the partials per event_type (hll_union_agg) and estimate. Sketches
    are tiny fixed-size state, so the daily partials can be persisted
    and re-merged incrementally without rescanning history. Driver
    anchor: exact_users hash-matched vs DuckDB + the ±5% accuracy
    invariant as approx_ok (oracle emits literal TRUE); the same bound
    is property-tested in tests/test_engine.py."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.hll_sketch_agg("user_id").alias("sketch"))
    merged = daily.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("approx_users")
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
    return merged.join(exact, "event_type").select(
        "event_type", "exact_users", (err <= 0.05).alias("approx_ok")
    )


@register(
    "agg_count_if",
    oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
       COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
       CAST(BOOL_OR(event_type = 'error') AS INTEGER) AS had_error,
       CAST(BOOL_AND(value >= 0) AS INTEGER) AS all_nonneg
FROM events GROUP BY 1
""",
)
def agg_count_if(spark, sf_dir):
    """Conditional/boolean aggregates — count_if + any/every — the
    one-pass alternative to N filtered subqueries: every conditional
    rides the same hash aggregate (partial+final), so feature screens
    like 'users who ever errored' cost one shuffle total."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        F.bool_or(F.col("event_type") == "error").cast("int").alias("had_error"),
        F.bool_and(F.col("value") >= 0).cast("int").alias("all_nonneg"),
    )


@register(
    "agg_trend",
    oracle="""
WITH base AS (
    SELECT user_id,
           CAST(epoch_us(ts) // 86400000000 - 19723 AS DOUBLE) AS x,
           value AS y
    FROM events
), sums AS (
    SELECT user_id, COUNT(*) AS n,
           CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x AS DECIMAL(18,6)) * CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x AS DECIMAL(18,6)) * CAST(x AS DECIMAL(18,6))) AS DOUBLE) AS sxx
    FROM base GROUP BY 1
)
SELECT user_id, n,
       ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0)) * sx) / n, 6) AS intercept
FROM sums
""",
)
def agg_trend(spark, sf_dir):
    """Per-user activity-trend feature: least-squares slope/intercept of
    value over time (the engagement-is-declining signal the churn model
    feeds on). Closed-form from four sufficient statistics in ONE hash
    aggregate — built-in regr_slope would sum doubles in partition order
    and drift vs the oracle, so the moments go through DECIMAL(38,6)
    (exact, order-independent) and the final arithmetic is identical
    double math on both engines."""
    ev = t(spark, sf_dir, "events")
    # x = days since 2024-01-01 (epoch day 19723): keeps the decimal
    # moment products inside int64 on the oracle side and makes the
    # intercept "expected value at corpus start".
    x = (
        (F.unix_micros(F.col("ts").cast("timestamp")) / F.lit(86400000000)).cast("long")
        - F.lit(19723)
    ).cast("double")
    base = ev.select("user_id", x.alias("x"), F.col("value").alias("y"))
    # DECIMAL(18,6): the 38-precision product would overflow and each
    # engine reduces scale differently; an (18,6)x(18,6) product is an
    # exact DECIMAL(37,12) on both.
    xd = F.col("x").cast("decimal(18,6)")
    yd = F.col("y").cast("decimal(18,6)")
    sums = base.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    denom = F.nullif(n * sxx - sx * sx, F.lit(0.0))
    slope = (n * sxy - sx * sy) / denom
    return sums.select(
        "user_id",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 6).alias("intercept"),
    )


@register(
    "agg_histogram",
    oracle="""
SELECT event_type, CAST(FLOOR(value / 50) AS BIGINT) AS bucket, COUNT(*) AS n
FROM events GROUP BY 1, 2
""",
)
def agg_histogram(spark, sf_dir):
    """Fixed-width histogram per event_type — bucketing is a pure
    projection (floor division), so the whole histogram is one hash
    aggregate; no sorting, no percentile state."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        "event_type", F.floor(F.col("value") / 50).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("n"))


@register(
    "agg_percentile_multi",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.25), 6) AS p25,
       ROUND(quantile_cont(value, 0.50), 6) AS p50,
       ROUND(quantile_cont(value, 0.75), 6) AS p75,
       ROUND(quantile_cont(value, 0.90), 6) AS p90,
       ROUND(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
""",
)
def agg_percentile_multi(spark, sf_dir):
    """Exact multi-quantile profile per event type. One ``percentile``
    call with an array of probabilities computes all five cut points in
    a single sort-based aggregate buffer (one shuffle, one pass) instead
    of five separate aggs; both engines use linear interpolation, so the
    twin is exact. At 100 TB swap in percentile_approx(t-digest) — the
    exact form is the correctness anchor."""
    ev = t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25D, 0.5D, 0.75D, 0.9D, 0.99D))")
    agged = ev.groupBy("event_type").agg(pct.alias("pcts"))
    return agged.select(
        "event_type",
        *[
            F.round(F.col("pcts")[i], 6).alias(name)
            for i, name in enumerate(["p25", "p50", "p75", "p90", "p99"])
        ],
    )


@register(
    "agg_weighted",
    oracle="""
SELECT l_returnflag,
       ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6)) * CAST(l_quantity AS DECIMAL(8,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 6) AS wavg_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
FROM lineitem GROUP BY l_returnflag
""",
)
def agg_weighted(spark, sf_dir):
    """Quantity-weighted average price per return flag — the
    sum(w*x)/sum(w) decomposition keeps it a single map-side-combinable
    hash aggregate (no window, no second pass). Sums accumulate in exact
    DECIMAL (order-independent); the division happens in double on both
    engines so decimal-division scale rules never diverge."""
    li = t(spark, sf_dir, "lineitem")
    wsum = F.sum(
        F.col("l_extendedprice").cast("decimal(19,6)") * F.col("l_quantity").cast("decimal(8,6)")
    ).cast("double")
    qty = dsum(F.col("l_quantity"))
    return li.groupBy("l_returnflag").agg(
        F.round(wsum / qty, 6).alias("wavg_price"),
        qty.alias("total_qty"),
    )


@register(
    "agg_regr",
    oracle="""
SELECT event_type,
       ROUND(regr_slope(value, CAST(hour(ts) AS DOUBLE)), 6) AS slope,
       ROUND(regr_intercept(value, CAST(hour(ts) AS DOUBLE)), 6) AS intercept,
       ROUND(regr_r2(value, CAST(hour(ts) AS DOUBLE)), 6) AS r2,
       ROUND(regr_avgx(value, CAST(hour(ts) AS DOUBLE)), 6) AS avgx,
       ROUND(regr_avgy(value, CAST(hour(ts) AS DOUBLE)), 6) AS avgy,
       regr_count(value, CAST(hour(ts) AS DOUBLE)) AS n
FROM events GROUP BY event_type
""",
)
def agg_regr(spark, sf_dir):
    """Linear-regression aggregates (SQL:2003 regr_* family): per
    event-type OLS of value on hour-of-day. All six moments accumulate in
    one two-phase hash aggregate (map-side partial merge of the
    count/sum/sumsq/cross-product tuple), so the full regression costs
    exactly one shuffle of 6 doubles per group — the same shape at 100 TB.
    Small-magnitude x/y keep double drift far below the 1e-6 grain."""
    ev = t(spark, sf_dir, "events")
    x = "CAST(hour(ts) AS DOUBLE)"
    return ev.groupBy("event_type").agg(
        F.round(F.expr(f"regr_slope(value, {x})"), 6).alias("slope"),
        F.round(F.expr(f"regr_intercept(value, {x})"), 6).alias("intercept"),
        F.round(F.expr(f"regr_r2(value, {x})"), 6).alias("r2"),
        F.round(F.expr(f"regr_avgx(value, {x})"), 6).alias("avgx"),
        F.round(F.expr(f"regr_avgy(value, {x})"), 6).alias("avgy"),
        F.expr(f"regr_count(value, {x})").alias("n"),
    )


@register(
    "agg_listagg",
    oracle="""
SELECT r.r_name,
       string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations,
       COUNT(*) AS n_nations
FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def agg_listagg(spark, sf_dir):
    """Ordered string aggregation — Spark 4 listagg ... WITHIN GROUP
    (DuckDB twin: string_agg with ORDER BY). The explicit within-group
    order makes the concatenation deterministic across partition orders,
    which is what makes it oracle-comparable at all. Only safe at scale
    on bounded-cardinality groups (here: nations per region)."""
    n = t(spark, sf_dir, "nation")
    r = F.broadcast(t(spark, sf_dir, "region"))
    return (
        n.join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.expr("listagg(n_name, ',') WITHIN GROUP (ORDER BY n_name)").alias("nations"),
            F.count("*").alias("n_nations"),
        )
    )


@register(
    "agg_entropy",
    oracle="""
SELECT user_id, ROUND(entropy(event_type), 6) AS type_entropy,
       COUNT(*) AS n_events
FROM events GROUP BY user_id
""",
)
def agg_entropy(spark, sf_dir):
    """Shannon entropy (bits) of each user's event-type mix — a
    behavioral-diversity feature. DuckDB has entropy() built in; Spark
    doesn't, so the engine derives it from the algebraic identity
    H = log2(N) - Σ c·log2(c) / N over per-(user,type) counts: two
    chained hash aggregates on the SAME leading key, so the second
    group-by reuses the first shuffle's partitioning (no extra
    exchange)."""
    ev = t(spark, sf_dir, "events")
    cnts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    c = F.col("c").cast("double")
    return cnts.groupBy("user_id").agg(
        F.round(
            F.log2(F.sum("c")) - F.sum(c * F.log2(c)) / F.sum("c"), 6
        ).alias("type_entropy"),
        F.sum("c").alias("n_events"),
    )


@register(
    "agg_hll_union",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_partials,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS approx_ok
FROM events GROUP BY event_type
""",
)
def agg_hll_union(spark, sf_dir):
    """Re-aggregatable distinct counting — the property that makes
    sketches work at 100 TB: build per-(event_type, day) HLL partials
    ONCE, then roll them up to per-type distinct users with
    hll_union_agg, never touching raw rows again. The same partials
    could roll up per-day, per-week, per-anything — one scan, many
    cubes. Driver anchor: n_partials + exact_users hash-matched vs
    DuckDB, the ±5% union-estimate invariant as approx_ok (oracle emits
    literal TRUE)."""
    ev = t(spark, sf_dir, "events")
    partials = by_day(ev, "event_type").agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    rolled = partials.groupBy("event_type").agg(
        F.expr("CAST(hll_sketch_estimate(hll_union_agg(sk)) AS BIGINT)").alias("approx_users"),
        F.count(F.lit(1)).alias("n_partials"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    err = F.abs(F.col("approx_users") - F.col("exact_users")) / F.col("exact_users")
    return rolled.join(exact, "event_type").select(
        "event_type", "n_partials", "exact_users", (err <= 0.05).alias("approx_ok")
    )


@register(
    "agg_percentile_approx",
    oracle="""
SELECT event_type,
       ROUND(quantile_cont(value, 0.50), 6) AS p50_exact,
       ROUND(quantile_cont(value, 0.90), 6) AS p90_exact,
       TRUE AS approx_ok
FROM events GROUP BY event_type
""",
)
def agg_percentile_approx(spark, sf_dir):
    """Approximate quantiles — the scale path the exact
    agg_percentile_multi anchors: percentile_approx's mergeable digest
    needs one pass + bounded memory regardless of group size (exact
    percentile buffers the whole group). Driver anchor: exact p50/p90
    hash-matched vs DuckDB quantile_cont + a relative-error invariant
    on the digest estimates as approx_ok (oracle emits literal TRUE)."""
    ev = t(spark, sf_dir, "events")
    approx = F.expr("percentile_approx(value, array(0.5D, 0.9D), 10000)")
    exact = F.expr("percentile(value, array(0.5D, 0.9D))")
    agged = ev.groupBy("event_type").agg(approx.alias("a"), exact.alias("e"))
    rel = lambda i: F.abs(F.col("a")[i] - F.col("e")[i]) / (F.abs(F.col("e")[i]) + F.lit(1e-9))
    return agged.select(
        "event_type",
        F.round(F.col("e")[0], 6).alias("p50_exact"),
        F.round(F.col("e")[1], 6).alias("p90_exact"),
        ((rel(0) <= 0.05) & (rel(1) <= 0.05)).alias("approx_ok"),
    )


@register(
    "agg_product",
    oracle="""
SELECT l_orderkey,
       ROUND(CAST(product(1 + l_discount) AS DOUBLE), 6) AS compounded,
       COUNT(*) AS n_lines
FROM lineitem GROUP BY l_orderkey
""",
)
def agg_product(spark, sf_dir):
    """Multiplicative aggregate (compounding) — DuckDB has product();
    Spark derives it as exp(Σ ln x), which is also the form that stays a
    plain two-phase hash aggregate (a native running product would
    under/overflow long series; the log-domain sum cannot). Factors here
    are 1+discount ∈ [1, 1.1], so the exp/ln round trip sits ~1e-15
    relative — far inside the 1e-6 rounding grain."""
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.round(F.exp(F.sum(F.log(1 + F.col("l_discount")))), 6).alias("compounded"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "agg_corr_matrix",
    oracle="""
SELECT ROUND(corr(value, CAST(hour(ts) AS DOUBLE)), 6) AS corr_v_h,
       ROUND(corr(value, CAST(user_id AS DOUBLE)), 6) AS corr_v_u,
       ROUND(corr(CAST(hour(ts) AS DOUBLE), CAST(user_id AS DOUBLE)), 6) AS corr_h_u,
       COUNT(*) AS n
FROM events
""",
)
def agg_corr_matrix(spark, sf_dir):
    """Pairwise correlation matrix in ONE pass — all three Pearson
    moments ride the same two-phase aggregate (each corr keeps its own
    (n, Σx, Σy, Σxy, Σx², Σy²) tuple, merged map-side), so feature
    screening costs one scan + one scalar-sized exchange no matter how
    many pairs. The feature-selection step before the churn model."""
    ev = t(spark, sf_dir, "events")
    h = F.expr("CAST(hour(ts) AS DOUBLE)")
    u = F.col("user_id").cast("double")
    return ev.agg(
        F.round(F.corr(F.col("value"), h), 6).alias("corr_v_h"),
        F.round(F.corr(F.col("value"), u), 6).alias("corr_v_u"),
        F.round(F.corr(h, u), 6).alias("corr_h_u"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_multi_distinct",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS n_users,
       COUNT(DISTINCT CAST(ts AS DATE)) AS n_days,
       COUNT(*) AS n_events
FROM events GROUP BY event_type
""",
)
def agg_multi_distinct(spark, sf_dir):
    """Multiple COUNT(DISTINCT) on DIFFERENT keys in one query — Spark
    plans this with an Expand (each row replicated once per distinct
    clause, tagged, then one aggregate tree), so two distincts cost one
    scan + one shuffle of the expanded rows instead of two separate
    jobs. The exact form anchors agg_hll_union's sketch path."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct(day_of()).alias("n_days"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "agg_reaggregate",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
         COUNT(*) AS n, SUM(CAST(value AS DECIMAL(38,6))) AS sv
  FROM events GROUP BY 1, 2
)
SELECT CAST(date_trunc('week', day) AS DATE) AS week, event_type,
       CAST(SUM(n) AS BIGINT) AS n_events,
       ROUND(CAST(SUM(sv) AS DOUBLE), 6) AS sum_value,
       CAST(COUNT(*) AS BIGINT) AS n_days
FROM daily GROUP BY 1, 2
""",
)
def agg_reaggregate(spark, sf_dir):
    """Two-level rollup — the materialized-view pattern: dailies are
    computed ONCE (count + decimal sum are re-aggregatable partials),
    weeklies re-aggregate the dailies, never the raw events. This is
    how a 100 TB warehouse serves week/month/quarter from a day-grain
    table at day-count cost; the composability requirement (SUM of
    SUMs = SUM, SUM of COUNTs = COUNT) is exactly what makes avg/
    median NON-reaggregatable and why the partial columns store sums
    and counts separately. The weekly agg reuses the daily shuffle's
    (day, type) partitioning — AQE plans the second stage exchange-free
    when the grouping is a superset-prefix."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("sv"),
    )
    return daily.groupBy(
        day_of(F.date_trunc("week", "day")).alias("week"), "event_type"
    ).agg(
        F.sum("n").cast("bigint").alias("n_events"),
        F.round(F.sum("sv").cast("double"), 6).alias("sum_value"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )


@register(
    "agg_topn_array",
    oracle="""
SELECT event_type,
       array_to_string(
           (list(CAST(ROUND(value, 6) AS DECIMAL(18,6))
                 ORDER BY ROUND(value, 6) DESC))[1:3], ',') AS top3_values,
       COUNT(*) AS n
FROM events GROUP BY event_type
""",
)
def agg_topn_array(spark, sf_dir):
    """Top-N values per group as a joined leaderboard string. collect→
    sort→slice stays one object aggregate; ordering by the ROUNDED value
    on both engines makes tie order irrelevant (equal elements are
    indistinguishable after rounding). The joined DECIMAL(18,6) string
    (identical fixed-point rendering in Spark and DuckDB) keeps the
    output hashable for the driver's pandas canonicalization — a raw
    array column breaks pandas.sort_values. At very large groups swap
    collect_list for an incremental bounded-heap pattern — the slice
    keeps only 3 but the buffer holds the group."""
    ev = t(spark, sf_dir, "events")
    top3 = F.slice(
        F.sort_array(F.collect_list(F.round("value", 6).cast("decimal(18,6)")), asc=False),
        1,
        3,
    )
    return ev.groupBy("event_type").agg(
        F.array_join(F.transform(top3, lambda x: x.cast("string")), ",").alias(
            "top3_values"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_weighted_median",
    oracle="""
WITH cum AS (
  SELECT l_returnflag,
         ROUND(l_extendedprice, 6) AS x,
         SUM(CAST(l_quantity AS DECIMAL(38,6)))
             OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice, l_orderkey, l_linenumber
                   ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(CAST(l_quantity AS DECIMAL(38,6)))
             OVER (PARTITION BY l_returnflag) AS tw
  FROM lineitem
)
SELECT l_returnflag, MIN(x) AS weighted_median
FROM cum WHERE cw * 2 >= tw
GROUP BY l_returnflag
""",
)
def agg_weighted_median(spark, sf_dir):
    """Quantity-weighted median price — the order statistic plain
    median() can't express. One ordered window builds the cumulative
    weight; the first row where 2·cum ≥ total is the answer. Every
    comparison happens in EXACT decimal (cumulative double sums near
    the half-total boundary could flip WHICH row crosses — a material
    error, not a rounding one), with (orderkey, linenumber) breaking
    price ties identically on both engines."""
    li = t(spark, sf_dir, "lineitem")
    w = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = F.col("l_quantity").cast("decimal(38,6)")
    cum = li.select(
        "l_returnflag",
        F.round("l_extendedprice", 6).alias("x"),
        F.sum(wt).over(w).alias("cw"),
        F.sum(wt).over(Window.partitionBy("l_returnflag")).alias("tw"),
    )
    return (
        cum.filter(F.col("cw") * 2 >= F.col("tw"))
        .groupBy("l_returnflag")
        .agg(F.min("x").alias("weighted_median"))
    )


@register(
    "agg_gini",
    oracle="""
WITH ranked AS (
  SELECT c_mktsegment,
         CAST(ROUND(c_acctbal, 6) AS DECIMAL(19,6)) AS x,
         row_number() OVER (PARTITION BY c_mktsegment
                            ORDER BY c_acctbal, c_custkey) AS rn
  FROM customer WHERE c_acctbal > 0
)
SELECT c_mktsegment,
       ROUND(2.0 * CAST(SUM(x * rn) AS DOUBLE)
             / (COUNT(*) * CAST(SUM(x) AS DOUBLE))
             - (COUNT(*) + 1.0) / COUNT(*), 6) AS gini,
       CAST(COUNT(*) AS BIGINT) AS n
FROM ranked GROUP BY c_mktsegment
""",
)
def agg_gini(spark, sf_dir):
    """Gini coefficient of balance concentration per segment — the
    whale-dominance metric (revenue concentration drives churn-impact
    weighting). Sorted-rank formulation G = 2·Σ(rank·x)/(n·Σx) −
    (n+1)/n: one ranking window + one aggregate. The rank·value
    cross-products accumulate in exact DECIMAL (rank reaches n, so
    double dot-products drift past the 1e-6 grain); ties rank
    deterministically by custkey on both engines."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    ranked = c.select(
        "c_mktsegment",
        F.round("c_acctbal", 6).cast("decimal(19,6)").alias("x"),
        F.row_number().over(w).alias("rn"),
    )
    n = F.count(F.lit(1))
    return ranked.groupBy("c_mktsegment").agg(
        F.round(
            2.0 * F.sum(F.col("x") * F.col("rn")).cast("double")
            / (n * F.sum("x").cast("double"))
            - (n + 1.0) / n,
            6,
        ).alias("gini"),
        n.cast("bigint").alias("n"),
    )


@register(
    "agg_hhi",
    oracle="""
SELECT c_mktsegment,
       ROUND(SUM(c_acctbal * c_acctbal) / (SUM(c_acctbal) * SUM(c_acctbal)), 6) AS hhi,
       CAST(COUNT(*) AS BIGINT) AS n
FROM customer WHERE c_acctbal > 0
GROUP BY c_mktsegment
""",
)
def agg_hhi(spark, sf_dir):
    """Herfindahl–Hirschman concentration index — Σshare² collapses
    algebraically to Σx²/(Σx)², so unlike Gini it needs NO ranking
    window: one two-phase hash aggregate, fully map-side combinable.
    The cheap first-pass concentration screen (1/n = perfectly even,
    1 = single whale); agg_gini is the order-sensitive refinement.
    HHI ≤ 1 with ~1e-13 relative double drift — far inside the grain."""
    c = t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 0)
    x = F.col("c_acctbal")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.sum(x * x) / (F.sum(x) * F.sum(x)), 6).alias("hhi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )


@register(
    "agg_mad",
    oracle="""
WITH med AS (
  SELECT event_type, median(value) AS m FROM events GROUP BY event_type
)
SELECT e.event_type,
       ROUND(median(abs(e.value - med.m)), 6) AS mad,
       ROUND(any_value(med.m), 6) AS med_value
FROM events e JOIN med ON med.event_type = e.event_type
GROUP BY e.event_type
""",
)
def agg_mad(spark, sf_dir):
    """Median absolute deviation — the robust spread measure stddev
    can't give (one corrupt sensor value moves σ, not MAD). Inherently
    two passes (deviations need the median first); the per-group median
    table is group-cardinality-sized so it broadcasts, and each pass is
    one exact-percentile aggregate. Both engines interpolate the median
    identically (verified by agg_stats)."""
    ev = t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.expr("percentile(value, 0.5D)").alias("m"))
    return (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(abs(value - m), 0.5D)"), 6).alias("mad"),
            F.round(F.first("m"), 6).alias("med_value"),
        )
    )


@register(
    "agg_cooccurrence",
    oracle="""
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(COUNT(*) AS BIGINT) AS n_users_both
FROM ut a JOIN ut b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
""",
)
def agg_cooccurrence(spark, sf_dir):
    """Behavior co-occurrence matrix — users doing BOTH A and B, for
    every type pair (market-basket / feature-correlation input). The
    self-join runs on the DISTINCT (user, type) rows — ≤5 rows per user
    regardless of event volume, so pair fan-out is bounded by type
    cardinality², not data size; a<b keeps each unordered pair once.
    Output is ≤ C(5,2)=10 rows at any scale."""
    ev = t(spark, sf_dir, "events")
    ut = ev.select("user_id", "event_type").distinct()
    a = ut.alias("a")
    b = ut.alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"), F.col("b.event_type").alias("type_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users_both"))
    )


@register(
    "agg_benford",
    oracle="""
SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice)))) AS INT)
           AS first_digit,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 6) AS frac
FROM orders WHERE o_totalprice > 0
GROUP BY 1
""",
)
def agg_benford(spark, sf_dir):
    """Benford first-digit distribution of order totals — the classic
    synthetic-data / fraud screen (organic amounts lean on digit 1 at
    ~30%; fabricated ones flatten). Digit extraction is pure codegen
    arithmetic; the share denominator is an empty-frame window over the
    NINE-row aggregate, so the whole test costs one scan + one 9-row
    pass."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    counts = o.groupBy(digit.alias("first_digit")).agg(F.count(F.lit(1)).alias("nc"))
    wall = Window.partitionBy()
    return counts.select(
        "first_digit",
        F.col("nc").cast("bigint").alias("n"),
        F.round(F.col("nc") * 1.0 / F.sum("nc").over(wall), 6).alias("frac"),
    )


@register(
    "agg_pareto_share",
    oracle="""
WITH spend AS (
  SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS s
  FROM orders GROUP BY o_custkey
), ranked AS (
  SELECT s,
         percent_rank() OVER (ORDER BY s DESC, o_custkey) AS pr,
         SUM(s) OVER () AS total
  FROM spend
)
SELECT CAST(cutoff AS DOUBLE) AS cutoff,
       ROUND(CAST(SUM(CASE WHEN pr <= cutoff THEN s ELSE 0 END) AS DOUBLE)
             / CAST(any_value(total) AS DOUBLE), 6) AS value_share
FROM ranked CROSS JOIN (VALUES (0.01), (0.05), (0.10), (0.20)) c(cutoff)
GROUP BY cutoff
""",
)
def agg_pareto_share(spark, sf_dir):
    """Pareto concentration — what share of total value the top 1/5/10/
    20% of customers carry (the 80/20 readout that decides whether churn
    prevention targets whales or the long tail). Customer spend ranks
    once (percent_rank with a custkey tiebreak so equal spends rank
    deterministically); the four cutoffs fan out 4× over the
    customer-count-sized table, sums stay exact DECIMAL until the final
    share division."""
    o = t(spark, sf_dir, "orders")
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(38,6)")).alias("s")
    )
    wr = Window.orderBy(F.desc("s"), F.asc("o_custkey"))
    ranked = spend.select(
        "s",
        F.percent_rank().over(wr).alias("pr"),
        F.sum("s").over(Window.partitionBy()).alias("total"),
    )
    cutoffs = spark.createDataFrame([(0.01,), (0.05,), (0.10,), (0.20,)], ["cutoff"])
    share = F.sum(F.when(F.col("pr") <= F.col("cutoff"), F.col("s")).otherwise(F.lit(0))).cast(
        "double"
    ) / F.first("total").cast("double")
    return (
        ranked.crossJoin(F.broadcast(cutoffs))
        .groupBy("cutoff")
        .agg(F.round(share, 6).alias("value_share"))
    )


@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       GROUPING(l_returnflag, l_linestatus) AS gid
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus)
""",
)
def agg_cube(spark, sf_dir):
    """Full CUBE over (returnflag, linestatus) — all 2^k grouping
    combinations in ONE Expand-based pass over the fact (each input row
    fans out to 4 grouping tuples map-side, then one hash shuffle), not
    k separate scans unioned. The GROUPING bitmask disambiguates real
    NULL keys from subtotal rows; quantities sum through DECIMAL(38,6)
    so subtotal/total rows agree exactly across engines regardless of
    partition order."""
    li = t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").cast("bigint").alias("n_items"),
        dsum(F.col("l_quantity")).cast("double").alias("sum_qty"),
        (F.grouping("l_returnflag") * 2 + F.grouping("l_linestatus"))
        .cast("bigint")
        .alias("gid"),
    )


@register(
    "agg_countmin",
    oracle="""
WITH keyed AS (
    SELECT CAST(props->>'$.k' AS INTEGER) AS k FROM events
), hashed AS (
    SELECT k, r.i AS row_i,
           CAST(('0x' || substr(md5('cms' || r.i || ':' || k), 1, 8)) AS BIGINT) % 64 AS bucket
    FROM keyed, (SELECT unnest(range(0, 4)) AS i) r
), counters AS (
    SELECT row_i, bucket, COUNT(*) AS c FROM hashed GROUP BY 1, 2
), probes AS (
    SELECT DISTINCT k, row_i, bucket FROM hashed
), est AS (
    SELECT p.k, MIN(c.c) AS cms_n
    FROM probes p JOIN counters c ON c.row_i = p.row_i AND c.bucket = p.bucket
    GROUP BY p.k
), exact AS (
    SELECT k, COUNT(*) AS exact_n FROM keyed GROUP BY k
)
SELECT e.k, CAST(e.exact_n AS BIGINT) AS exact_n, CAST(est.cms_n AS BIGINT) AS cms_n,
       CAST(est.cms_n - e.exact_n AS BIGINT) AS overcount
FROM exact e JOIN est ON est.k = e.k
""",
)
def agg_countmin(spark, sf_dir):
    """Count-min sketch (d = 4 rows × w = 64 buckets) over the event
    payload key — the mergeable heavy-hitter counter a streaming
    pipeline keeps when exact per-key counts don't fit. The sketch is
    BUILT distributively (each row of the sketch is a 64-bucket hash
    aggregate — one shuffle whose output is 4×64 rows regardless of
    input size, and partial aggregation does the heavy lifting
    map-side) and PROBED relationally (min over the d counters per
    key). Hashes are md5-derived on both engines, so the sketch —
    including its collision overcounts — is bit-identical to the
    oracle: the output exposes exact_n vs cms_n and the CMS ≥ exact
    one-sided error is directly visible. At 100 TB only the 256-row
    counter table ever leaves the executors."""
    ev = t(spark, sf_dir, "events").select(
        F.get_json_object("props", "$.k").cast("int").alias("k")
    )
    # ONE event-scale pass: the per-key exact counts. The sketch rows are
    # then derived from this key-cardinality table (counter(b) = Σ
    # exact_n over keys hashing to b — identical arithmetic, but the
    # fact table is never re-scanned for counters or probes). The exact
    # table is the checkpointed artifact, bounded by key cardinality.
    exact = ckpt(
        ev.groupBy("k")
        .agg(F.count(F.lit(1)).alias("exact_n"))
    )
    rows = F.explode(F.sequence(F.lit(0), F.lit(3))).alias("row_i")
    hashed = exact.select("k", "exact_n", rows).select(
        "k",
        "exact_n",
        "row_i",
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cms"), F.col("row_i"), F.lit(":"), F.col("k"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 64
        ).alias("bucket"),
    )
    counters = hashed.groupBy("row_i", "bucket").agg(F.sum("exact_n").alias("c"))
    est = (
        hashed.select("k", "row_i", "bucket")
        .join(F.broadcast(counters), ["row_i", "bucket"])
        .groupBy("k")
        .agg(F.min("c").alias("cms_n"))
    )
    return exact.join(est, "k").select(
        "k",
        F.col("exact_n").cast("bigint").alias("exact_n"),
        F.col("cms_n").cast("bigint").alias("cms_n"),
        (F.col("cms_n") - F.col("exact_n")).cast("bigint").alias("overcount"),
    )


@register(
    "agg_bloom",
    oracle="""
WITH members AS (
    SELECT DISTINCT user_id FROM events
), member_bits AS (
    SELECT DISTINCT
           CAST(('0x' || substr(md5('bloom' || j.j || ':' || user_id), 1, 8)) AS BIGINT)
               % 1024 AS pos
    FROM members, (SELECT unnest(range(0, 3)) AS j) j
), probe_pos AS (
    SELECT c.c_custkey, j.j,
           CAST(('0x' || substr(md5('bloom' || j.j || ':' || c.c_custkey), 1, 8)) AS BIGINT)
               % 1024 AS pos
    FROM customer c, (SELECT unnest(range(0, 3)) AS j) j
), verdicts AS (
    SELECT p.c_custkey,
           (COUNT(*) FILTER (WHERE b.pos IS NOT NULL) = 3) AS bloom_positive
    FROM probe_pos p LEFT JOIN member_bits b ON b.pos = p.pos
    GROUP BY 1
)
SELECT CAST((SELECT COUNT(*) FROM members) AS BIGINT) AS n_members,
       CAST(COUNT(*) AS BIGINT) AS n_probed,
       CAST(COUNT(*) FILTER (WHERE v.bloom_positive) AS BIGINT) AS n_positive,
       CAST(COUNT(*) FILTER (WHERE v.bloom_positive AND m.user_id IS NULL) AS BIGINT)
           AS n_false_positive
FROM verdicts v LEFT JOIN members m ON m.user_id = v.c_custkey
""",
)
def agg_bloom(spark, sf_dir):
    """Bloom-filter membership (m = 1024 bits, k = 3 hashes): build the
    filter over the ACTIVE user set from events, probe every customer,
    and report the measured false-positive count — the semi-join
    pre-filter a 100 TB pipeline ships to the fact scan instead of the
    full key set. Relational formulation: the filter is the distinct
    set of set bit positions (≤ 1024 rows — broadcastable no matter how
    many members), a probe is positive iff all 3 of its positions are
    present. md5-derived positions make filter and false positives
    bit-identical across engines, so the oracle checks the sketch
    itself, not just its intent."""
    # The member set feeds three branches (bit positions, cardinality,
    # membership flags) — materialize the one event-scale distinct once.
    members = ckpt(
        t(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
    )
    js = F.explode(F.sequence(F.lit(0), F.lit(2))).alias("j")
    pos = lambda key: (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("bloom"), F.col("j"), F.lit(":"), key)), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 1024
    )
    member_bits = (
        members.select("user_id", js)
        .select(pos(F.col("user_id")).alias("pos"))
        .distinct()
    )
    probe = (
        t(spark, sf_dir, "customer")
        .select("c_custkey", js)
        .select("c_custkey", pos(F.col("c_custkey")).alias("pos"))
    )
    verdicts = (
        probe.join(F.broadcast(member_bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("c_custkey")
        .agg((F.count("hit") == 3).alias("bloom_positive"))
    )
    n_members = members.agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
    mem_flag = members.withColumn("is_member", F.lit(1))
    return (
        verdicts.join(
            F.broadcast(mem_flag),
            verdicts["c_custkey"] == mem_flag["user_id"],
            "left",
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probed"),
            F.count(F.when(F.col("bloom_positive"), 1)).cast("bigint").alias("n_positive"),
            F.count(
                F.when(F.col("bloom_positive") & F.col("is_member").isNull(), 1)
            )
            .cast("bigint")
            .alias("n_false_positive"),
        )
        .crossJoin(F.broadcast(n_members))
        .select("n_members", "n_probed", "n_positive", "n_false_positive")
    )


@register(
    "agg_skew_kurtosis",
    oracle="""
WITH m AS (
    SELECT event_type,
           CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
           CAST(SUM(CAST(FLOOR(value * value * 1000 + 0.5) / 1000
                         AS DECIMAL(38,6))) AS DOUBLE) AS s2,
           CAST(SUM(CAST(FLOOR(value * value * value / 1000 + 0.5) * 1000
                         AS DECIMAL(38,6))) AS DOUBLE) AS s3,
           CAST(SUM(CAST(FLOOR(value * value * value * value / 1000000 + 0.5)
                         * 1000000 AS DECIMAL(38,6))) AS DOUBLE) AS s4
    FROM events GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_events,
       FLOOR((s2 / n - (s1 / n) * (s1 / n)) * 1000000 + 0.5) / 1000000 AS variance_pop,
       FLOOR((s3 / n - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / POW(GREATEST(s2 / n - (s1 / n) * (s1 / n), 1e-12), 1.5)
             * 1000000 + 0.5) / 1000000 AS skewness_pop,
       FLOOR(((s4 / n - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
              / POW(GREATEST(s2 / n - (s1 / n) * (s1 / n), 1e-12), 2) - 3.0)
             * 1000000 + 0.5) / 1000000 AS kurtosis_excess
FROM m
""",
)
def agg_skew_kurtosis(spark, sf_dir):
    """Higher-moment distribution shape per event type — population
    skewness and excess kurtosis from raw power sums (the heavy-tail /
    asymmetry screen run before choosing robust vs classical
    statistics downstream). Built from explicit moment sums rather
    than the engines' skewness()/kurtosis() builtins, whose
    sample-vs-population conventions differ between engines; the four
    power sums ride ONE map-combinable hash aggregate. Quantization
    grain per power is chosen so every quantized term is exactly
    representable: v² at 1e-3, v³ at 1e+3, v⁴ at 1e+6 (value ≤ ~1e3,
    so v⁴ ≤ 1e12 — grains keep products inside 2^53), then DECIMAL
    sums and identical double algebra."""
    ev = t(spark, sf_dir, "events")
    v = F.col("value")
    q = lambda c, g: F.floor(c * F.lit(g) + F.lit(0.5)) / F.lit(g)
    m = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        dsum(v).alias("s1"),
        dsum(q(v * v, 1e3)).alias("s2"),
        dsum(q(v * v * v, 1e-3)).alias("s3"),
        dsum(q(v * v * v * v, 1e-6)).alias("s4"),
    )
    mean = F.col("s1") / F.col("n")
    m2 = F.col("s2") / F.col("n") - mean * mean
    m3 = F.col("s3") / F.col("n") - 3 * mean * (F.col("s2") / F.col("n")) + 2 * mean * mean * mean
    m4 = (
        F.col("s4") / F.col("n")
        - 4 * mean * (F.col("s3") / F.col("n"))
        + 6 * mean * mean * (F.col("s2") / F.col("n"))
        - 3 * mean * mean * mean * mean
    )
    var_safe = F.greatest(m2, F.lit(1e-12))
    return m.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_events"),
        qround(m2).alias("variance_pop"),
        qround(m3 / F.pow(var_safe, 1.5)).alias("skewness_pop"),
        qround(m4 / F.pow(var_safe, 2.0) - 3.0).alias("kurtosis_excess"),
    )


@register(
    "agg_ecdf",
    oracle="""
WITH probes AS (SELECT unnest([0.0, 2500.0, 5000.0, 7500.0]) AS probe),
tot AS (
    SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY 1
),
le AS (
    SELECT c.c_mktsegment AS segment, p.probe,
           CAST(COUNT(*) FILTER (WHERE c.c_acctbal <= p.probe) AS BIGINT) AS n_le
    FROM customer c CROSS JOIN probes p
    GROUP BY 1, 2
)
SELECT le.segment, le.probe, le.n_le, tot.n,
       FLOOR(CAST(le.n_le AS DOUBLE) / tot.n * 1000000 + 0.5) / 1000000 AS ecdf
FROM le JOIN tot ON tot.segment = le.segment
""",
)
def agg_ecdf(spark, sf_dir):
    """Empirical CDF of account balance per segment at fixed probe
    points — the distribution fingerprint dashboards poll. The probe
    list is a 4-row broadcast crossed into ONE aggregate pass (each
    customer row contributes a ≤-flag per probe — map-side combine
    keeps the shuffle at segments × probes rows); the total rides the
    same cell table, so the fact scans once. The CDF value is a ratio
    of integers quantized half-up at 1e-6. At 100 TB the output stays
    O(segments × probes) regardless of row count."""
    spark_probes = spark.createDataFrame(
        [(0.0,), (2500.0,), (5000.0,), (7500.0,)], "probe double"
    )
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"), "c_acctbal"
    )
    cells = (
        cust.crossJoin(F.broadcast(spark_probes))
        .groupBy("segment", "probe")
        .agg(
            F.sum((F.col("c_acctbal") <= F.col("probe")).cast("long"))
            .cast("bigint")
            .alias("n_le"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    return cells.select(
        "segment",
        "probe",
        "n_le",
        "n",
        qround(F.col("n_le").cast("double") / F.col("n")).alias("ecdf"),
    )


@register(
    "agg_winsorized_stats",
    oracle="""
WITH cuts AS (
    SELECT c_mktsegment AS segment,
           FLOOR(quantile_cont(c_acctbal, 0.05) * 1000000 + 0.5) / 1000000 AS lo,
           FLOOR(quantile_cont(c_acctbal, 0.95) * 1000000 + 0.5) / 1000000 AS hi,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM customer GROUP BY 1
)
SELECT c.segment, c.n, c.lo, c.hi,
       CAST(COUNT(*) FILTER (WHERE cu.c_acctbal < c.lo OR cu.c_acctbal > c.hi) AS BIGINT)
           AS n_clipped,
       FLOOR(CAST(SUM(CAST(GREATEST(c.lo, LEAST(c.hi, cu.c_acctbal)) AS DECIMAL(38,6)))
                  AS DOUBLE) / c.n * 1000000 + 0.5) / 1000000 AS winsorized_mean
FROM customer cu JOIN cuts c ON c.segment = cu.c_mktsegment
GROUP BY 1, 2, 3, 4
""",
)
def agg_winsorized_stats(spark, sf_dir):
    """Winsorized statistics — the outlier-robust mean a feature
    pipeline prefers over raw averages: exact interpolated p05/p95
    cutpoints per segment (Spark `percentile` ≡ DuckDB `quantile_cont`,
    both (n−1)·p interpolation, quantized at 1e-6 before use), values
    clipped into [lo, hi], and the clipped mean in DECIMAL(38,6). Two
    passes — one percentile aggregate (bounded output), one clip+mean
    with the cut table broadcast back — which is the scalable shape:
    exact percentiles at 100 TB are a known sort-based cost paid on the
    FIRST aggregate only; swap in approx_percentile for one-pass."""
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_mktsegment").alias("segment"), "c_acctbal"
    )
    cuts = cust.groupBy("segment").agg(
        qround(F.expr("percentile(c_acctbal, 0.05)")).alias("lo"),
        qround(F.expr("percentile(c_acctbal, 0.95)")).alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    clipped = F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("c_acctbal")))
    return (
        cust.join(F.broadcast(cuts), "segment")
        .groupBy("segment", "n", "lo", "hi")
        .agg(
            F.sum(
                ((F.col("c_acctbal") < F.col("lo")) | (F.col("c_acctbal") > F.col("hi"))).cast(
                    "long"
                )
            )
            .cast("bigint")
            .alias("n_clipped"),
            qround(
                dsum(clipped) / F.col("n")
            ).alias("winsorized_mean"),
        )
    )


@register(
    "agg_bitwise",
    oracle="""
SELECT event_type,
       CAST(bit_or(user_id % 256) AS BIGINT) AS flags_or,
       CAST(bit_and(user_id % 256 + 256) AS BIGINT) AS flags_and,
       CAST(bit_xor(user_id % 256) AS BIGINT) AS flags_xor
FROM events GROUP BY event_type
""",
)
def agg_bitwise(spark, sf_dir):
    """Bitwise aggregate functions (bit_or / bit_and / bit_xor) — the
    flag-set union/intersection/parity fold used for permission masks
    and feature-bit rollups. Fully map-side combinable (each is
    associative + commutative), so the shuffle carries one long per
    group regardless of input size. The AND leg offsets into 256..511
    so the result is a non-trivial mask (raw user ids share no common
    low bits)."""
    ev = t(spark, sf_dir, "events")
    m = F.col("user_id") % 256
    return ev.groupBy("event_type").agg(
        F.bit_or(m).cast("bigint").alias("flags_or"),
        F.bit_and(m + 256).cast("bigint").alias("flags_and"),
        F.bit_xor(m).cast("bigint").alias("flags_xor"),
    )


@register(
    "agg_rate_ci_wilson",
    oracle="""
WITH seg AS (
    SELECT c.c_mktsegment AS segment,
           CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT CASE WHEN e.event_type = 'purchase'
                                    THEN e.user_id END) AS BIGINT) AS n_converted
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY 1
)
SELECT segment, n_users, n_converted,
       FLOOR(CAST(n_converted AS DOUBLE) / n_users * 1000000 + 0.5) / 1000000 AS rate,
       FLOOR(((CAST(n_converted AS DOUBLE) / n_users + 1.9208 / n_users)
              / (1 + 3.8416 / n_users)
              - 1.96 * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                            * (1 - CAST(n_converted AS DOUBLE) / n_users) / n_users
                            + 0.9604 / (n_users * n_users))
                / (1 + 3.8416 / n_users)) * 1000000 + 0.5) / 1000000 AS ci_lo,
       FLOOR(((CAST(n_converted AS DOUBLE) / n_users + 1.9208 / n_users)
              / (1 + 3.8416 / n_users)
              + 1.96 * sqrt((CAST(n_converted AS DOUBLE) / n_users)
                            * (1 - CAST(n_converted AS DOUBLE) / n_users) / n_users
                            + 0.9604 / (n_users * n_users))
                / (1 + 3.8416 / n_users)) * 1000000 + 0.5) / 1000000 AS ci_hi
FROM seg
""",
)
def agg_rate_ci_wilson(spark, sf_dir):
    """Conversion rate with a Wilson 95% interval per segment — the
    score-interval that stays honest at small n and extreme rates where
    the normal approximation lies (the dashboard-stat discipline).
    Closed form over integer user counts: center (p̂ + z²/2n)/(1+z²/n),
    half-width z·√(p̂(1−p̂)/n + z²/4n²)/(1+z²/n) with z = 1.96 spelled
    as exact decimal constants (1.9208 = z²/2, 3.8416 = z², 0.9604 =
    z²/4) so both engines evaluate identical expression trees; IEEE
    sqrt is exact; bounds quantized half-up at 1e-6. One distinct-user
    aggregate per segment — O(segments) out."""
    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment")
    )
    seg = (
        t(spark, sf_dir, "events")
        .join(F.broadcast(cust), "user_id")
        .groupBy("segment")
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.countDistinct(
                F.when(F.col("event_type") == "purchase", F.col("user_id"))
            )
            .cast("bigint")
            .alias("n_converted"),
        )
    )
    p = F.col("n_converted").cast("double") / F.col("n_users")
    n = F.col("n_users")
    center = (p + 1.9208 / n) / (1 + 3.8416 / n)
    half = (
        F.lit(1.96)
        * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
        / (1 + 3.8416 / n)
    )
    return seg.select(
        "segment",
        "n_users",
        "n_converted",
        qround(p).alias("rate"),
        qround(center - half).alias("ci_lo"),
        qround(center + half).alias("ci_hi"),
    )


@register(
    "agg_log2_histogram",
    oracle="""
WITH gaps AS (
    SELECT event_type,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS gap_us
    FROM events
)
SELECT event_type,
       CAST(LENGTH(bin(gap_us)) - 1 AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n,
       CAST(MIN(gap_us) AS BIGINT) AS lo,
       CAST(MAX(gap_us) AS BIGINT) AS hi
FROM gaps WHERE gap_us IS NOT NULL AND gap_us > 0
GROUP BY 1, 2
""",
)
def agg_log2_histogram(spark, sf_dir):
    """HdrHistogram-style log2-bucketed latency profile of inter-event
    gaps — the shape every latency/recency readout uses in production,
    because linear buckets (agg_histogram) waste resolution across the
    6-decade microsecond-to-day range. The bucket index is computed as
    BINARY DIGIT COUNT (length(bin(x)) − 1), not floor(log2(x)):
    bit-exact integer arithmetic in both engines, immune to the
    last-ulp libm divergence that floor-of-log suffers at power-of-two
    boundaries. One user-keyed window for the gaps (the sessionize
    shuffle), one map-side-combinable aggregate; cardinality is
    O(types × 64 buckets) regardless of corpus size."""
    e = t(spark, sf_dir, "events")
    gaps = e.select(
        "event_type",
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) over "
            "(partition by user_id order by ts, event_id), ts)"
        ).alias("gap_us"),
    )
    return (
        gaps.filter(F.col("gap_us").isNotNull() & (F.col("gap_us") > 0))
        .groupBy(
            "event_type",
            (F.length(F.bin("gap_us")) - 1).cast("bigint").alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.min("gap_us").cast("bigint").alias("lo"),
            F.max("gap_us").cast("bigint").alias("hi"),
        )
    )


@register(
    "agg_ratio_delta_method",
    oracle="""
WITH per_user AS (
    SELECT event_type, user_id,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS x,
           CAST(COUNT(*) AS DOUBLE) AS y
    FROM events GROUP BY 1, 2
), moments AS (
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,6))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sxx,
           CAST(SUM(CAST(FLOOR(y * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS syy,
           CAST(SUM(CAST(FLOOR(x * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sxy
    FROM per_user GROUP BY event_type
)
SELECT event_type, n,
       ROUND(sx / sy, 6) AS ratio,
       ROUND(sqrt(GREATEST(
           (sxx - sx * sx / n) / (n - 1) / (sy / n * (sy / n)) / n
         + (sx / sy) * (sx / sy) * ((syy - sy * sy / n) / (n - 1)) / (sy / n * (sy / n)) / n
         - 2 * (sx / sy) * ((sxy - sx * sy / n) / (n - 1)) / (sy / n * (sy / n)) / n,
           0)), 6) AS se_delta
FROM moments
""",
)
def agg_ratio_delta_method(spark, sf_dir):
    """Delta-method standard error for a RATIO metric (value per event,
    computed as Σx/Σy over per-user totals) — the estimator every A/B
    platform ships, because user-level ratios are correlated within
    user and the naive row-level SE is wrong. Var(X̄/Ȳ) ≈ (Var X +
    R²·Var Y − 2R·Cov(X,Y)) / (n·Ȳ²) from five decimal-exact
    per-group moments (Σx, Σy, Σx², Σy², Σxy — squares/products
    1e-6-quantized into DECIMAL accumulation). Two keyed aggregates
    (user grain, then group grain), both map-side combinable; the
    moments are O(groups) state. Both engines assemble the SE from
    bit-identical parts."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("event_type", "user_id").agg(
        dsum(F.col("value")).alias("x"),
        F.count(F.lit(1)).cast("double").alias("y"),
    )
    m = per_user.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("x")).alias("sx"),
        dsum(F.col("y")).alias("sy"),
        qsum(F.col("x") * F.col("x")).alias("sxx"),
        qsum(F.col("y") * F.col("y")).alias("syy"),
        qsum(F.col("x") * F.col("y")).alias("sxy"),
    )
    R = F.col("sx") / F.col("sy")
    ybar2 = (F.col("sy") / F.col("n")) * (F.col("sy") / F.col("n"))
    vx = (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")) / (F.col("n") - 1)
    vy = (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    cxy = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / (F.col("n") - 1)
    var = F.greatest(
        vx / ybar2 / F.col("n")
        + R * R * vy / ybar2 / F.col("n")
        - 2 * R * cxy / ybar2 / F.col("n"),
        F.lit(0.0),
    )
    return m.select(
        "event_type",
        "n",
        F.round(R, 6).alias("ratio"),
        F.round(F.sqrt(var), 6).alias("se_delta"),
    )


# Acklam's central-region inverse-normal-CDF rational approximation —
# identical literal constants on both engines, so the result is a
# deterministic function of identical doubles. Valid for p in
# (0.02425, 0.97575), which covers the decile probes used below.
def _probit_expr(p: str) -> str:
    a = ["-3.969683028665376e+01", "2.209460984245205e+02", "-2.759285104469687e+02",
         "1.383577518672690e+02", "-3.066479806614716e+01", "2.506628277459239e+00"]
    b = ["-5.447609879822406e+01", "1.615858368580409e+02", "-1.556989798598866e+02",
         "6.680131188771972e+01", "-1.328068155288572e+01"]
    q = f"({p} - 0.5)"
    r = f"({q} * {q})"
    num = a[0]
    for c in a[1:]:
        num = f"({num} * {r} + {c})"
    den = b[0]
    for c in b[1:]:
        den = f"({den} * {r} + {c})"
    den = f"({den} * {r} + 1.0)"
    return f"({num} * {q} / {den})"


@register(
    "agg_qq_normal",
    oracle=f"""
WITH daily AS (
    SELECT date_trunc('day', ts) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
    FROM events GROUP BY 1
), mom AS (
    SELECT CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(v * v * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS svv
    FROM daily
), sd AS (
    SELECT mu, n, sqrt((svv - mu * mu * n) / (n - 1)) AS sigma FROM mom
), obs AS (
    SELECT CAST(i AS DOUBLE) / 10 AS p,
           qs[i] AS q_obs
    FROM (SELECT quantile_cont(v, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS qs
          FROM daily),
         (SELECT unnest(range(1, 10)) AS i) s
)
SELECT o.p,
       ROUND({_probit_expr('o.p')}, 6) AS z_theory,
       ROUND((o.q_obs - s.mu) / s.sigma, 6) AS z_observed
FROM obs o, sd s
""",
)
def agg_qq_normal(spark, sf_dir):
    """Normal QQ probe — the distributional diagnostic behind 'can I
    use z-scores / control limits on this metric': standardized
    observed deciles of daily volume against theoretical normal
    quantiles. The inverse normal CDF has no SQL builtin in either
    engine, so both evaluate THE SAME Acklam rational approximation
    (literal-identical constants, central region — exactly the decile
    range) — a deterministic function of identical doubles, no libm
    seam. Observed deciles are exact interpolated quantiles; mean/sd
    come from decimal-exact moments. One day-grain shuffle; the probe
    algebra runs on a 9-row table. Points on the line ⇒ normal;
    curvature ⇒ heavy tails ⇒ prefer the robust ops
    (ts_anomaly_robust, agg_mad)."""
    e = t(spark, sf_dir, "events")
    daily = ckpt(by_day(e).agg(
        dsum(F.col("value")).alias("v")
    ))  # feeds moments AND every quantile probe
    mom = daily.agg(
        (dsum(F.col("v")) / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
        qsum(F.col("v") * F.col("v")).alias("svv"),
    )
    sd = mom.select(
        "mu",
        "n",
        F.sqrt(
            (F.col("svv") - F.col("mu") * F.col("mu") * F.col("n")) / (F.col("n") - 1)
        ).alias("sigma"),
    )
    pcts = daily.agg(
        F.expr(
            "percentile(v, array(0.1D, 0.2D, 0.3D, 0.4D, 0.5D, 0.6D, 0.7D, 0.8D, 0.9D))"
        ).alias("qs")
    )
    obs = pcts.select(F.posexplode("qs").alias("i", "q_obs")).select(
        ((F.col("i") + 1).cast("double") / 10).alias("p"), "q_obs"
    )
    return obs.crossJoin(F.broadcast(sd)).select(
        "p",
        F.round(F.expr(_probit_expr("p")), 6).alias("z_theory"),
        F.round((F.col("q_obs") - F.col("mu")) / F.col("sigma"), 6).alias("z_observed"),
    )


@register(
    "agg_bitmap_sets",
    oracle="""
WITH tagged AS (
    SELECT user_id // 63 AS bucket, CAST(user_id % 63 AS INTEGER) AS bit,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS buyer,
           MAX(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS erred
    FROM events GROUP BY 1, 2
), maps AS (
    SELECT bucket,
           bit_or(CASE WHEN buyer = 1 THEN 1::BIGINT << bit ELSE 0 END) AS bm_buy,
           bit_or(CASE WHEN erred = 1 THEN 1::BIGINT << bit ELSE 0 END) AS bm_err
    FROM tagged GROUP BY bucket
)
SELECT CAST(SUM(bit_count(bm_buy)) AS BIGINT) AS n_buyers,
       CAST(SUM(bit_count(bm_err)) AS BIGINT) AS n_erred,
       CAST(SUM(bit_count(bm_buy & bm_err)) AS BIGINT) AS n_both,
       CAST(SUM(bit_count(bm_buy | bm_err)) AS BIGINT) AS n_either,
       CAST(COUNT(*) AS BIGINT) AS n_buckets
FROM maps
""",
)
def agg_bitmap_sets(spark, sf_dir):
    """Bitmap-index set algebra — the warehouse trick behind fast
    audience intersection: user sets packed 63-to-a-BIGINT (bucket =
    id div 63, bit = id mod 63 — 63, not 64: bit 63 is the sign bit
    and DuckDB's signed shift traps on it), segment membership as bit_or'd masks,
    then AND/OR + popcount answer 'buyers ∩ errored' WITHOUT a
    distinct-join — at 100 TB the bitmap table is ~63× smaller than the
    id list and the intersection is a per-bucket integer op (this is
    roaring-bitmap's dense case, relationalized). Exact integers end
    to end; the oracle builds identical masks with DuckDB's bit ops.
    Two keyed aggregates (user grain → bucket grain), then O(buckets)
    algebra."""
    e = t(spark, sf_dir, "events")
    tagged = e.groupBy(
        F.floor(F.col("user_id") / 63).alias("bucket"),
        (F.col("user_id") % 63).cast("int").alias("bit"),
    ).agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias("buyer"),
        F.max((F.col("event_type") == "error").cast("int")).alias("erred"),
    )
    mask = F.expr("shiftleft(1L, bit)")
    maps = tagged.groupBy("bucket").agg(
        F.bit_or(F.when(F.col("buyer") == 1, mask).otherwise(0)).alias("bm_buy"),
        F.bit_or(F.when(F.col("erred") == 1, mask).otherwise(0)).alias("bm_err"),
    )
    return maps.agg(
        F.sum(F.bit_count("bm_buy")).cast("bigint").alias("n_buyers"),
        F.sum(F.bit_count("bm_err")).cast("bigint").alias("n_erred"),
        F.sum(F.bit_count(F.col("bm_buy").bitwiseAND(F.col("bm_err"))))
        .cast("bigint")
        .alias("n_both"),
        F.sum(F.bit_count(F.col("bm_buy").bitwiseOR(F.col("bm_err"))))
        .cast("bigint")
        .alias("n_either"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
    )


@register(
    "agg_welch_ttest",
    oracle="""
WITH grp AS (
    SELECT CASE WHEN event_type = 'purchase' THEN 'a' ELSE 'b' END AS g,
           value AS v
    FROM events WHERE event_type IN ('purchase', 'click')
), mom AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS sv,
           CAST(SUM(CAST(FLOOR(v * v * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS svv
    FROM grp GROUP BY g
), stats AS (
    SELECT g, n, sv / n AS m, (svv - sv * sv / n) / (n - 1) AS var FROM mom
), pair AS (
    SELECT a.n AS na, a.m AS ma, a.var AS va,
           b.n AS nb, b.m AS mb, b.var AS vb
    FROM (SELECT * FROM stats WHERE g = 'a') a,
         (SELECT * FROM stats WHERE g = 'b') b
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       ROUND(ma - mb, 6) AS mean_diff,
       ROUND((ma - mb) / sqrt(va / na + vb / nb), 6) AS t_stat,
       ROUND((va / na + vb / nb) * (va / na + vb / nb)
             / (va / na * (va / na) / (na - 1) + vb / nb * (vb / nb) / (nb - 1)), 6)
           AS df_welch
FROM pair
""",
)
def agg_welch_ttest(spark, sf_dir):
    """Welch's two-sample t-test (purchase vs click values) — the
    unequal-variance comparison that should be the DEFAULT two-group
    test (Student's equal-variance assumption rarely survives real
    data): t from decimal-exact group moments, degrees of freedom by
    Welch–Satterthwaite. Each group's mean/variance comes from one
    map-side-combinable aggregate over the pushed-down two-type scan;
    the test itself is arithmetic on 6 numbers. Identical operation
    order both engines ⇒ exact twin."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    grp = e.select(
        F.when(F.col("event_type") == "purchase", "a").otherwise("b").alias("g"),
        F.col("value").alias("v"),
    )
    mom = grp.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("v")).alias("sv"),
        qsum(F.col("v") * F.col("v")).alias("svv"),
    )
    stats = mom.select(
        "g",
        "n",
        (F.col("sv") / F.col("n")).alias("m"),
        ((F.col("svv") - F.col("sv") * F.col("sv") / F.col("n")) / (F.col("n") - 1)).alias(
            "var"
        ),
    )
    a = stats.filter(F.col("g") == "a").select(
        F.col("n").alias("na"), F.col("m").alias("ma"), F.col("var").alias("va")
    )
    b = stats.filter(F.col("g") == "b").select(
        F.col("n").alias("nb"), F.col("m").alias("mb"), F.col("var").alias("vb")
    )
    p = a.crossJoin(F.broadcast(b))
    sea = F.col("va") / F.col("na")
    seb = F.col("vb") / F.col("nb")
    return p.select(
        F.col("na").cast("bigint").alias("n_a"),
        F.col("nb").cast("bigint").alias("n_b"),
        F.round(F.col("ma") - F.col("mb"), 6).alias("mean_diff"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(sea + seb), 6).alias("t_stat"),
        F.round(
            (sea + seb) * (sea + seb)
            / (sea * sea / (F.col("na") - 1) + seb * seb / (F.col("nb") - 1)),
            6,
        ).alias("df_welch"),
    )


@register(
    "agg_lorenz_points",
    oracle="""
WITH per_user AS (
    SELECT user_id, CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
    FROM events GROUP BY user_id
), ranked AS (
    SELECT v, NTILE(10) OVER (ORDER BY v ASC, user_id ASC) AS decile
    FROM per_user
), per_dec AS (
    SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(FLOOR(v * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS s
    FROM ranked GROUP BY decile
), tot AS (
    SELECT CAST(SUM(CAST(n AS DECIMAL(38,6))) AS DOUBLE) AS nt,
           CAST(SUM(CAST(FLOOR(s * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS st
    FROM per_dec
), cum AS (
    SELECT decile, n, s,
           SUM(CAST(FLOOR(s * 1e6 + 0.5) AS DECIMAL(38,6))) OVER
               (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cs_q,
           SUM(n) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING) AS cn
    FROM per_dec
)
SELECT decile,
       ROUND(CAST(cn AS DOUBLE) / t.nt, 6) AS pop_share,
       ROUND(CAST(cs_q AS DOUBLE) / 1e6 / t.st, 6) AS value_share
FROM cum, tot t
""",
)
def agg_lorenz_points(spark, sf_dir):
    """Lorenz curve points — the full concentration curve behind the
    Gini scalar (agg_gini): cumulative value share vs cumulative
    population share at each decile, the readout that says WHERE the
    concentration lives ('top decile = 40% of revenue'), which one
    number can't. Users are decile-bucketed by NTILE over exact
    per-user totals (deterministic ties on user id), decile sums are
    1e-6-quantized into DECIMAL window cumulatives, and both shares
    are ratios of those exact accumulations. One user-grain shuffle +
    one global NTILE sort (range-partitioned at scale — the same
    unavoidable order as llm_curriculum_order); the curve itself is
    10 rows."""
    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        dsum(F.col("value")).alias("v")
    )
    ranked = per_user.select(
        "v",
        F.ntile(10).over(Window.orderBy(F.asc("v"), F.asc("user_id"))).alias("decile"),
    )
    per_dec = ckpt(ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        qsum(F.col("v")).alias("s"),
    ))  # feeds totals AND the cumulative window
    tot = per_dec.agg(
        dsum(F.col("n")).alias("nt"),
        qsum(F.col("s")).alias("st"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per_dec.select(
        "decile",
        F.sum(qdec(F.col("s"))).over(w).alias("cs_q"),
        F.sum("n").over(w).alias("cn"),
    )
    return cum.crossJoin(F.broadcast(tot)).select(
        "decile",
        F.round(F.col("cn").cast("double") / F.col("nt"), 6).alias("pop_share"),
        F.round(F.col("cs_q").cast("double") / F.lit(1e6) / F.col("st"), 6).alias(
            "value_share"
        ),
    )


@register(
    "agg_theil_decomposition",
    oracle="""
WITH per_user AS (
    SELECT user_id,
           MIN(event_type) AS seg,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
    FROM events GROUP BY user_id HAVING SUM(CAST(value AS DECIMAL(38,6))) > 0
), tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS vt
    FROM per_user
), within_terms AS (
    SELECT CAST(FLOOR(v / t.vt * ln(v / (t.vt / t.n)) * 1e12 + 0.5)
                AS DECIMAL(38,12)) / 1e12 AS term
    FROM per_user, tot t
), total_theil AS (
    SELECT CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS theil_total
    FROM within_terms
), seg_mom AS (
    SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_g,
           CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) AS v_g
    FROM per_user GROUP BY seg
), between_terms AS (
    SELECT CAST(FLOOR(v_g / t.vt * ln((v_g / s.n_g) / (t.vt / t.n)) * 1e12 + 0.5)
                AS DECIMAL(38,12)) / 1e12 AS term
    FROM seg_mom s, tot t
), between_theil AS (
    SELECT CAST(SUM(CAST(term AS DECIMAL(38,12))) AS DOUBLE) AS theil_between
    FROM between_terms
)
SELECT ROUND(theil_total, 6) AS theil_total,
       ROUND(theil_between, 6) AS theil_between,
       ROUND(theil_total - theil_between, 6) AS theil_within,
       ROUND(theil_between / theil_total, 6) AS between_share
FROM total_theil, between_theil
""",
)
def agg_theil_decomposition(spark, sf_dir):
    """Theil-T inequality with between/within decomposition — the
    property Gini famously LACKS: T = Σ(vᵢ/V)·ln(vᵢ/μ) splits exactly
    into a between-segment term plus a within-segment remainder, so
    'how much of spend inequality is explained by the user's dominant
    event type' is one subtraction (between_share). Segments here are
    each user's alphabetically-first event type (deterministic). Every
    share is an exact ratio of decimal sums, every ln-term is
    1e-12-quantized into decimal accumulation — both engines add
    identical quantities. Two keyed aggregates + two O(segments)
    reductions; zero-value users excluded (ln(0) undefined on any
    engine)."""
    e = t(spark, sf_dir, "events")
    per_user = ckpt(e.groupBy("user_id").agg(
        F.min("event_type").alias("seg"),
        dsum(F.col("value")).alias("v"),
    ).filter(F.col("v") > 0))  # feeds totals + both term passes
    tot = per_user.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        dsum(F.col("v")).alias("vt"),
    )
    q12f = lambda c: qdec(c, 12) / F.lit(1e12)
    within = per_user.crossJoin(F.broadcast(tot)).select(
        q12f(
            F.col("v") / F.col("vt") * F.log(F.col("v") / (F.col("vt") / F.col("n")))
        ).alias("term")
    )
    theil_total = within.agg(dsum(F.col("term"), 12).alias("theil_total"))
    seg_mom = per_user.groupBy("seg").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        dsum(F.col("v")).alias("v_g"),
    )
    between = seg_mom.crossJoin(F.broadcast(tot)).select(
        q12f(
            F.col("v_g")
            / F.col("vt")
            * F.log((F.col("v_g") / F.col("n_g")) / (F.col("vt") / F.col("n")))
        ).alias("term")
    )
    theil_between = between.agg(dsum(F.col("term"), 12).alias("theil_between"))
    return (
        theil_total.crossJoin(F.broadcast(theil_between))
        .select(
            F.round("theil_total", 6).alias("theil_total"),
            F.round("theil_between", 6).alias("theil_between"),
            F.round(F.col("theil_total") - F.col("theil_between"), 6).alias(
                "theil_within"
            ),
            F.round(F.col("theil_between") / F.col("theil_total"), 6).alias(
                "between_share"
            ),
        )
    )


@register(
    "agg_skyline_2d",
    oracle="""
WITH pts AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS activity,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS spend
    FROM events GROUP BY user_id
), ranked AS (
    SELECT user_id, activity, spend,
           MAX(spend) OVER (ORDER BY activity DESC, spend DESC, user_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS best_spend_at_higher_activity
    FROM pts
)
SELECT user_id, activity, ROUND(spend, 6) AS spend
FROM ranked
WHERE best_spend_at_higher_activity IS NULL
   OR spend > best_spend_at_higher_activity
""",
)
def agg_skyline_2d(spark, sf_dir):
    """Skyline (Pareto-frontier) operator — the classic 'best hotels'
    query relational engines famously lack: users not DOMINATED on
    (activity, spend), i.e. no other user is ≥ on both and > on one —
    the efficient frontier segmentation/pricing looks at. The textbook
    algorithm is a quadratic dominance anti-join; the scalable form
    used here is the SORT-FILTER sweep: order by activity descending
    and keep a point iff its spend beats the running max of everything
    more active — one window over the user summary, O(n log n), and
    the window's running max is exactly the dominance test for 2-D.
    (Ties on activity resolved by user id in the sweep order, so a
    same-activity-lower-spend point is correctly dominated.) At 100 TB
    the user summary is the only data-sized object; the sweep is the
    same range-sort NTILE already pays."""
    e = t(spark, sf_dir, "events")
    pts = e.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("activity"),
        dsum(F.col("value")).alias("spend"),
    )
    w = Window.orderBy(
        F.desc("activity"), F.desc("spend"), F.asc("user_id")
    ).rowsBetween(Window.unboundedPreceding, -1)
    ranked = pts.withColumn("best", F.max("spend").over(w))
    return (
        ranked.filter(F.col("best").isNull() | (F.col("spend") > F.col("best")))
        .select("user_id", "activity", F.round("spend", 6).alias("spend"))
    )


@register(
    "agg_mann_whitney",
    oracle="""
WITH grp AS (
    SELECT value AS v,
           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
    FROM events WHERE event_type IN ('purchase', 'click')
), per_v AS (
    SELECT v, SUM(is_a) AS na, SUM(1 - is_a) AS nb FROM grp GROUP BY v
), ranked AS (
    SELECT v, na, nb,
           COALESCE(SUM(na + nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING), 0) AS cum_before
    FROM per_v
), sums AS (
    SELECT CAST(SUM(na) AS DOUBLE) AS m, CAST(SUM(nb) AS DOUBLE) AS n,
           SUM(na * (cum_before + (na + nb + 1.0) / 2.0)) AS rank_sum_a
    FROM ranked
)
SELECT CAST(m AS BIGINT) AS n_a, CAST(n AS BIGINT) AS n_b,
       ROUND(rank_sum_a - m * (m + 1.0) / 2.0, 6) AS u_stat,
       ROUND((rank_sum_a - m * (m + 1.0) / 2.0 - m * n / 2.0)
             / sqrt(m * n * (m + n + 1.0) / 12.0), 6) AS z_approx
FROM sums
""",
)
def agg_mann_whitney(spark, sf_dir):
    """Mann-Whitney U — the nonparametric sibling of agg_welch_ttest
    for the same purchase-vs-click comparison: rank-based, so heavy
    tails and outliers (exactly what event values have) can't distort
    it the way they inflate a t-test's variance. Tie-averaged ranks
    come from ONE cumulative window over the value histogram (the
    O(distinct values) trick shared with ml_auc_exact — U and AUC are
    the same statistic in different clothes: AUC = U/mn). The normal
    z-approximation ships alongside (tie-correction omitted; with
    continuous-ish values it is negligible and its absence is
    documented rather than silently pretended). Exact .5-rational
    rank arithmetic both engines."""
    e = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    grp = e.select(
        F.col("value").alias("v"),
        (F.col("event_type") == "purchase").cast("long").alias("is_a"),
    )
    per_v = grp.groupBy("v").agg(
        F.sum("is_a").alias("na"), F.sum(1 - F.col("is_a")).alias("nb")
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    ranked = per_v.select(
        "na",
        "nb",
        F.coalesce(F.sum(F.col("na") + F.col("nb")).over(w), F.lit(0)).alias(
            "cum_before"
        ),
    )
    sums = ranked.agg(
        F.sum("na").cast("double").alias("m"),
        F.sum("nb").cast("double").alias("n"),
        F.sum(
            F.col("na") * (F.col("cum_before") + (F.col("na") + F.col("nb") + 1.0) / 2.0)
        ).alias("rank_sum_a"),
    )
    u = F.col("rank_sum_a") - F.col("m") * (F.col("m") + 1.0) / 2.0
    return sums.select(
        F.col("m").cast("bigint").alias("n_a"),
        F.col("n").cast("bigint").alias("n_b"),
        F.round(u, 6).alias("u_stat"),
        F.round(
            (u - F.col("m") * F.col("n") / 2.0)
            / F.sqrt(F.col("m") * F.col("n") * (F.col("m") + F.col("n") + 1.0) / 12.0),
            6,
        ).alias("z_approx"),
    )


@register(
    "agg_heavy_hitters",
    oracle="""
WITH tok AS (
    SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS term
    FROM documents WHERE length(trim(text)) > 0
), tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM tok)
SELECT term, CAST(COUNT(*) AS BIGINT) AS freq,
       ROUND(COUNT(*) / MAX(tot.n), 6) AS share
FROM tok, tot
GROUP BY term HAVING COUNT(*) > (SELECT n FROM tot) / 50.0
""",
)
def agg_heavy_hitters(spark, sf_dir, k: int = 50):
    """Misra–Gries heavy hitters — every token with frequency > n/k
    (k=50 ⇒ >2% of the corpus), found in ONE pass + one bounded
    rescore instead of a full-vocabulary groupBy. Stage 1 runs the
    k-counter Misra–Gries summary per partition inside mapInPandas
    (O(k) memory per task regardless of vocabulary size); the union
    of per-partition candidate sets is a GUARANTEED superset of the
    global heavy hitters — if Σf_i > Σn_i/k then f_p > n_p/k in at
    least one partition (pigeonhole), and local MG surfaces every
    such item. Stage 2 rescores ONLY the candidates exactly (a
    broadcast semi-join, ≤ k·partitions keys) and applies the global
    n/k cut, so the output is EXACT — the sketch bounds the search,
    never the answer. At 100 TB this replaces a trillion-key token
    groupBy with an O(k)-state scan + a few-hundred-key rescore; the
    same two-phase shape is how every production top-k sketch
    (SpaceSaving/CMS+heap) deploys on Spark."""
    import pandas as pd

    corpus = docs(spark, sf_dir).select(words(norm_text()).alias("w"))
    toks = corpus.select(F.explode("w").alias("term"))

    def mg_partition(batches):
        counters: dict[str, int] = {}
        n_part = 0
        for pdf in batches:
            n_part += len(pdf)
            for term, cnt in pdf["term"].value_counts().items():
                if term in counters:
                    counters[term] += int(cnt)
                elif len(counters) < k:
                    counters[term] = int(cnt)
                else:
                    # decrement-all by the smallest surviving counter —
                    # batch form of the one-at-a-time MG decrement
                    dec = min(min(counters.values()), int(cnt))
                    counters = {
                        t_: c - dec for t_, c in counters.items() if c - dec > 0
                    }
                    if int(cnt) - dec > 0:
                        counters[term] = int(cnt) - dec
        # sentinel row carries the partition's token count — the global
        # total rides the sketch pass instead of a third corpus scan
        yield pd.DataFrame(
            {"term": list(counters.keys()) + [None], "n_part": [0] * len(counters) + [n_part]}
        )

    # the sketch output is ≤ (k+1)·partitions rows and feeds two
    # consumers — pin it so the corpus-wide MG pass runs exactly once
    sketch = ckpt(toks.mapInPandas(mg_partition, "term string, n_part long"))
    candidates = sketch.filter(F.col("term").isNotNull()).select("term").distinct()
    tot = sketch.agg(F.sum("n_part").cast("double").alias("n"))
    exact = (
        toks.join(F.broadcast(candidates), "term")
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("freq") > F.col("n") / k)
        .select("term", "freq", F.round(F.col("freq") / F.col("n"), 6).alias("share"))
    )


@register(
    "agg_beta_binomial_shrinkage",
    oracle="""
WITH per_user AS (
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS k
    FROM events GROUP BY user_id
), rates AS (
    SELECT user_id, n, k, CAST(k AS DOUBLE) / n AS p FROM per_user
), mom AS (
    SELECT CAST(SUM(CAST(FLOOR(p * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 / COUNT(*) AS m,
           CAST(SUM(CAST(FLOOR(p * p * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 / COUNT(*) AS m2,
           CAST(COUNT(*) AS DOUBLE) AS nu
    FROM rates WHERE n >= 5
), prior AS (
    SELECT m, (m2 - m * m) * nu / (nu - 1.0) AS v,
           m * (m * (1.0 - m) / ((m2 - m * m) * nu / (nu - 1.0)) - 1.0) AS alpha,
           (1.0 - m) * (m * (1.0 - m) / ((m2 - m * m) * nu / (nu - 1.0)) - 1.0) AS beta
    FROM mom
)
SELECT r.user_id, r.n, r.k,
       ROUND(r.p, 6) AS raw_rate,
       ROUND((r.k + p.alpha) / (r.n + p.alpha + p.beta), 6) AS shrunk_rate
FROM rates r, prior p
""",
)
def agg_beta_binomial_shrinkage(spark, sf_dir):
    """Empirical-Bayes beta-binomial shrinkage — the fix for every
    'top converters' leaderboard dominated by 1-for-1 users: each
    user's purchase rate is pulled toward the population prior
    Beta(α, β) fit by method-of-moments on the stable users (n ≥ 5),
    posterior rate = (k+α)/(n+α+β). Low-n users shrink hard toward
    the prior mean, high-n users keep their data — exactly the
    regularization ml_target_encode applies to categorical encoding,
    here surfaced as the ranking statistic itself. One per-user
    aggregate, a 1-row broadcast prior, one narrow projection — the
    prior's moment sums ride the q12 DECIMAL discipline so α and β
    are bit-identical cross-engine. At 100 TB the per-user aggregate
    is the only data-sized pass; Bessel-corrected sample variance
    (the n/(n−1) factor) keeps the prior honest on small stable
    populations."""
    per_user = t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long"))
        .cast("bigint")
        .alias("k"),
    )
    rates = ckpt(
        per_user.select(
            "user_id", "n", "k", (F.col("k").cast("double") / F.col("n")).alias("p")
        )
    )
    mom = rates.filter(F.col("n") >= 5).agg(
        (qsum(F.col("p"), 12) / F.count(F.lit(1))).alias("m"),
        (qsum(F.col("p") * F.col("p"), 12) / F.count(F.lit(1))).alias("m2"),
        F.count(F.lit(1)).cast("double").alias("nu"),
    )
    v = (F.col("m2") - F.col("m") * F.col("m")) * F.col("nu") / (F.col("nu") - 1.0)
    scale = F.col("m") * (1.0 - F.col("m")) / v - 1.0
    prior = mom.select(
        (F.col("m") * scale).alias("alpha"),
        ((1.0 - F.col("m")) * scale).alias("beta"),
    )
    return rates.crossJoin(F.broadcast(prior)).select(
        "user_id",
        "n",
        "k",
        F.round("p", 6).alias("raw_rate"),
        F.round(
            (F.col("k") + F.col("alpha")) / (F.col("n") + F.col("alpha") + F.col("beta")),
            6,
        ).alias("shrunk_rate"),
    )


@register(
    "agg_benford_chisq",
    oracle="""
WITH obs AS (
  SELECT CAST(floor(o_totalprice / pow(10, floor(log10(o_totalprice))))
              AS INT) AS d,
         COUNT(*) AS c
  FROM orders WHERE o_totalprice > 0 GROUP BY 1
), full_d AS (
  SELECT CAST(g.d AS INT) AS d, COALESCE(obs.c, 0) AS c
  FROM generate_series(1, 9) g(d) LEFT JOIN obs ON obs.d = g.d
), tot AS (
  SELECT CAST(SUM(c) AS DOUBLE) AS n FROM full_d
), terms AS (
  SELECT CAST(c AS DOUBLE) AS o,
         tot.n * log10(1.0 + 1.0 / d) AS e, tot.n AS n
  FROM full_d, tot
), chi AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST(FLOOR((o - e) * (o - e) / e * 1e6 + 0.5)
                       AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS chi2
  FROM terms
)
SELECT CAST(n AS BIGINT) AS n_orders,
       ROUND(chi2, 6) AS chi2,
       ROUND(exp(-chi2 / 2.0) * (1.0 + chi2 / 2.0
             + (chi2 / 2.0) * (chi2 / 2.0) / 2.0
             + (chi2 / 2.0) * (chi2 / 2.0) * (chi2 / 2.0) / 6.0), 6)
           AS p_value,
       (exp(-chi2 / 2.0) * (1.0 + chi2 / 2.0
        + (chi2 / 2.0) * (chi2 / 2.0) / 2.0
        + (chi2 / 2.0) * (chi2 / 2.0) * (chi2 / 2.0) / 6.0)) >= 0.05
           AS benford_consistent
FROM chi
""",
)
def agg_benford_chisq(spark, sf_dir):
    """Benford goodness-of-fit TEST — agg_benford shows the first-digit
    histogram; this turns it into a decision: Pearson χ² of the nine
    observed digit counts against the Benford expectation
    n·log10(1+1/d), df = 8. df is EVEN, so the χ² survival function has
    the exact closed form e^{−x/2}·Σ_{j<4}(x/2)^j/j! — the same
    portable-special-function trick as ts_ljung_box (spell it
    identically in both engines or don't use it). The digit spine is a
    generated 9-row frame LEFT-joined to the observed counts so a digit
    with ZERO observations still contributes its full (0−e)²/e penalty
    — dropping absent digits is the classic implementation bug that
    understates the statistic. Cost: one scan + one 9-row aggregate;
    the 9 χ² terms quantize at 1e-6 into DECIMAL before the sum."""
    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    digit = F.floor(
        F.col("o_totalprice") / F.pow(F.lit(10.0), F.floor(F.log10("o_totalprice")))
    ).cast("int")
    counts = o.groupBy(digit.alias("d")).agg(F.count(F.lit(1)).alias("c"))
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("d"))
    full_d = (
        digits.join(counts, "d", "left")
        .select("d", F.coalesce("c", F.lit(0)).alias("c"))
    )
    wall = Window.partitionBy()
    terms = full_d.select(
        F.col("c").cast("double").alias("o"),
        (
            F.sum("c").over(wall).cast("double")
            * F.log10(F.lit(1.0) + F.lit(1.0) / F.col("d"))
        ).alias("e"),
        F.sum("c").over(wall).cast("double").alias("n"),
    )
    chi = terms.agg(
        F.max("n").alias("n"),
        qsum(
            (F.col("o") - F.col("e")) * (F.col("o") - F.col("e")) / F.col("e")
        ).alias("chi2"),
    )
    h = F.col("chi2") / 2.0
    sf_ = F.exp(-h) * (1.0 + h + h * h / 2.0 + h * h * h / 6.0)
    return chi.select(
        F.col("n").cast("bigint").alias("n_orders"),
        F.round("chi2", 6).alias("chi2"),
        F.round(sf_, 6).alias("p_value"),
        (sf_ >= 0.05).alias("benford_consistent"),
    )


@register(
    "agg_spearman",
    oracle="""
WITH per_user AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
         SUM(CAST(FLOOR(COALESCE(value, 0) * 1e6 + 0.5) AS DECIMAL(38,6)))
             AS y
  FROM events GROUP BY user_id
), ranked AS (
  SELECT
    2 * rank() OVER (ORDER BY x) + COUNT(*) OVER (PARTITION BY x) - 1 AS rx,
    2 * rank() OVER (ORDER BY y) + COUNT(*) OVER (PARTITION BY y) - 1 AS ry
  FROM per_user
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(rx AS DECIMAL(19,0))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(ry AS DECIMAL(19,0))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(rx AS DECIMAL(19,0)) * CAST(rx AS DECIMAL(19,0)))
              AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ry AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0)))
              AS DOUBLE) AS syy,
         CAST(SUM(CAST(rx AS DECIMAL(19,0)) * CAST(ry AS DECIMAL(19,0)))
              AS DOUBLE) AS sxy
  FROM ranked
)
SELECT CAST(n AS BIGINT) AS n_users,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
           AS spearman_rho,
       ((n * sxy - sx * sy)
        / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))) > 0
           AS positive_assoc
FROM s
""",
)
def agg_spearman(spark, sf_dir):
    """Spearman rank correlation between per-user activity (event
    count) and per-user monetary value (Σ value) — the robust,
    outlier-immune complement to agg_corr_matrix's Pearson: whales
    can't drag it, only ORDER matters. The exactness trick: with
    average ranks for ties, 2·rank is always an INTEGER
    (2·min_rank + tie_count − 1), and Pearson is scale-invariant, so
    the whole computation runs on exact integer doubled-ranks summed
    in DECIMAL — zero float quantization anywhere until the single
    final closed-form division. Per-user value sums ride the qdec
    micro-unit DECIMAL path (COALESCE 0 so engine NULL-ordering
    divergence can't bite). At 100 TB the two global rank windows are
    range-partitioned sorts over the USER table (events already
    collapsed one shuffle earlier); the moments aggregate is
    map-side combinable."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("x"),
        F.sum(qdec(F.coalesce(F.col("value"), F.lit(0.0)))).alias("y"),
    )

    def dbl_rank(c):
        return (
            F.lit(2) * F.rank().over(Window.orderBy(c))
            + F.count(F.lit(1)).over(Window.partitionBy(c))
            - F.lit(1)
        )

    ranked = per_user.select(
        dbl_rank("x").cast("decimal(19,0)").alias("rx"),
        dbl_rank("y").cast("decimal(19,0)").alias("ry"),
    )
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").cast("double").alias("sx"),
        F.sum("ry").cast("double").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).cast("double").alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).cast("double").alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).cast("double").alias("sxy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_users"),
        F.round(rho, 6).alias("spearman_rho"),
        (rho > 0).alias("positive_assoc"),
    )


@register(
    "agg_robust_shape",
    oracle="""
WITH vals AS (
    SELECT CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS BIGINT) AS yq FROM orders
), ranked AS (
    SELECT yq, CAST(ROW_NUMBER() OVER (ORDER BY yq) AS BIGINT) AS rn,
           CAST(COUNT(*) OVER () AS BIGINT) AS n
    FROM vals
), oct AS (
    SELECT d.i,
           MAX(CASE WHEN r.rn = (d.i * r.n + 7) // 8 THEN r.yq END) AS q
    FROM generate_series(1, 7) d(i)
    JOIN ranked r ON r.rn = (d.i * r.n + 7) // 8
    GROUP BY 1
), w AS (
    SELECT MAX(CASE WHEN i = 1 THEN q END) AS e1,
           MAX(CASE WHEN i = 2 THEN q END) AS q1,
           MAX(CASE WHEN i = 3 THEN q END) AS e3,
           MAX(CASE WHEN i = 4 THEN q END) AS med,
           MAX(CASE WHEN i = 5 THEN q END) AS e5,
           MAX(CASE WHEN i = 6 THEN q END) AS q3,
           MAX(CASE WHEN i = 7 THEN q END) AS e7
    FROM oct
)
SELECT FLOOR(med / 1e6 * 1000000 + 0.5) / 1000000 AS median,
       FLOOR((q3 - q1) / 1e6 * 1000000 + 0.5) / 1000000 AS iqr,
       FLOOR(CAST(q3 + q1 - 2 * med AS DOUBLE) / (q3 - q1) * 1000000 + 0.5)
           / 1000000 AS bowley_skew,
       FLOOR(CAST((e3 - e1) + (e7 - e5) AS DOUBLE) / (q3 - q1) * 1000000 + 0.5)
           / 1000000 AS moors_kurtosis
FROM w
""",
)
def agg_robust_shape(spark, sf_dir):
    """Quantile-based distribution shape — Bowley skewness
    (Q3 + Q1 - 2·median)/IQR and Moors kurtosis ((E3-E1)+(E7-E5))/IQR
    from the exact OCTILES: the robust counterparts to
    agg_skew_kurtosis's moment statistics, which a single fat-fingered
    order can drag arbitrarily (3rd/4th moments have unbounded
    influence; quantiles have bounded influence by construction —
    report BOTH and a big gap is itself the outlier alarm). All seven
    octiles are exact ceil(i·n/8) order statistics on micro-unit
    BIGINTs; the two shape ratios are the only float ops. One value
    sort, O(1) output."""
    vals = (
        t(spark, sf_dir, "orders")
        .select(
            F.floor(F.col("o_totalprice") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("yq")
        )
    )
    ranked = vals.select(
        "yq",
        F.row_number().over(Window.orderBy("yq")).cast("bigint").alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("bigint").alias("n"),
    )
    spine = spark.range(1, 8).select(F.col("id").cast("bigint").alias("i"))
    oct_ = ranked.join(
        F.broadcast(spine),
        F.col("rn") == ((F.col("i") * F.col("n") + 7) / 8).cast("bigint"),
    ).groupBy().pivot("i", list(range(1, 8))).agg(F.first("yq"))
    w = oct_.select(
        F.col("1").alias("e1"),
        F.col("2").alias("q1"),
        F.col("3").alias("e3"),
        F.col("4").alias("med"),
        F.col("5").alias("e5"),
        F.col("6").alias("q3"),
        F.col("7").alias("e7"),
    )
    return w.select(
        qround(F.col("med") / F.lit(1e6)).alias("median"),
        qround((F.col("q3") - F.col("q1")) / F.lit(1e6)).alias("iqr"),
        qround(
            (F.col("q3") + F.col("q1") - 2 * F.col("med")).cast("double")
            / (F.col("q3") - F.col("q1"))
        ).alias("bowley_skew"),
        qround(
            ((F.col("e3") - F.col("e1")) + (F.col("e7") - F.col("e5"))).cast("double")
            / (F.col("q3") - F.col("q1"))
        ).alias("moors_kurtosis"),
    )
