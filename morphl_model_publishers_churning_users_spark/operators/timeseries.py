"""§2.H (batch half) — time-series windows & sessionization.

The reference ran a daily batch and reconstructed GA session features
[SURVEY.md §2.H, unverified]. Spark-native forms:
  * tumbling/sliding → F.window (epoch-aligned, one hash aggregate);
  * sessionization → F.session_window: native gap-merge state, works in
    batch and streaming with the same line of code. The oracle twin is
    the classic gaps-and-islands SQL (lag → gap flag → running sum).

All gap math is in microseconds (both engines store µs — no truncation
ambiguity at session boundaries).

Streaming variants (watermark, stateful, incremental) live in
streaming/ops.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..registry import register
from ._shared import DSUM, by_day, ckpt, day_of, dsum, qdec, qround, qsum, revenue, t, with_stats


def _day_index():
    """Each row's 1-based position in day order, as bigint: the integer
    time axis of a daily series. DuckDB twin:
    ``CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT)``."""
    return F.row_number().over(Window.orderBy("day")).cast("bigint")


def _day_grid(daily, *by):
    """``daily`` left-joined onto the dense day grid of each ``*by``
    group's first-to-last-day span: every calendar day appears, and a day
    without a row in ``daily`` carries nulls. ``sequence``/``explode``
    generate the grid executor-side, sized by each group's own span."""
    span = daily.groupBy(*by).agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    grid = span.select(*by, F.explode(F.sequence("d0", "d1")).alias("day"))
    return grid.join(daily, [*by, "day"], "left")


def _lag_sums(cent, lags, by=(), k=12):
    """``(*by, k, s)``: for each lag ``k`` in ``lags`` (a ``range``), the
    sum ``s`` of ``xc_i * xc_(i-k)`` over the index pairs of ``cent``
    (columns ``*by, i, xc``) within each ``*by`` group, summed exactly by
    ``qsum(..., k)``. The lags are a broadcast range, so the self-join is
    bounded by ``len(lags)`` times the series length."""
    ks = cent.sparkSession.range(lags.start, lags.stop).select(
        F.col("id").cast("bigint").alias("k")
    )
    a = cent.select(*by, F.col("i").alias("ia"), F.col("xc").alias("xa"))
    b = cent.select(
        *[F.col(c).alias(f"{c}_b") for c in by], F.col("i").alias("ib"), F.col("xc").alias("xb")
    )
    on = F.col("ib") == F.col("ia") - F.col("k")
    for c in by:
        on = (F.col(f"{c}_b") == F.col(c)) & on
    return (
        a.crossJoin(F.broadcast(ks))
        .join(b, on)
        .groupBy(*by, "k")
        .agg(qsum(F.col("xa") * F.col("xb"), k).alias("s"))
    )


@register(
    "ts_tumbling",
    oracle=f"""
SELECT CAST(date_trunc('day', ts) AS DATE) AS day_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND({DSUM("value")}, 6) AS sum_value
FROM events
GROUP BY 1, 2
""",
)
def ts_tumbling(spark, sf_dir):
    """Daily tumbling windows (the reference's batch cadence, as an
    operator). F.window is epoch-aligned so day buckets equal date_trunc."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(dsum(F.col("value")), 6).alias("sum_value"))
        .select(
            F.col("w.start").cast("date").alias("day_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "ts_sliding",
    oracle="""
SELECT make_timestamp(((epoch_us(ts) // 1000000 // 900) * 900 - k.i * 900) * 1000000) AS win_start,
       COUNT(*) AS n_events
FROM events CROSS JOIN (VALUES (0), (1), (2), (3)) k(i)
GROUP BY 1
""",
)
def ts_sliding(spark, sf_dir):
    """1-hour windows sliding every 15 min — each event lands in exactly
    4 windows. The oracle reproduces Spark's epoch-aligned window-start
    arithmetic with an explicit 4-way offset expansion."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("w.start").alias("win_start"), "n_events")
    )


@register(
    "ts_session",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
), flagged AS (
    SELECT user_id, ts,
           CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
    FROM ordered
), sessions AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS last_ts, COUNT(*) AS n_events
FROM sessions GROUP BY user_id, session_id
""",
)
def ts_session(spark, sf_dir):
    """30-min-gap sessionization (reconstructs GA sessions). Native
    session_window: gap-merge happens inside the aggregate — one shuffle
    on user_id, no self-join. Spark closes a session at last_ts + gap
    exclusive, i.e. a new session starts when the gap is >= 30 min —
    mirrored exactly by the oracle's lag/cumsum twin."""
    ev = t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.min("ts").alias("session_start"), F.max("ts").alias("last_ts"), F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "session_start", "last_ts", "n_events")
    )


@register(
    "ts_gap_fill",
    oracle=f"""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           ROUND({DSUM("value")}, 6) AS day_value
    FROM events GROUP BY 1, 2
), spans AS (
    SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), cal AS (
    SELECT user_id,
           CAST(unnest(range(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP) + INTERVAL 1 DAY, INTERVAL 1 DAY)) AS DATE) AS day
    FROM spans
), joined AS (
    SELECT c.user_id, c.day, d.day_value FROM cal c
    LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
)
SELECT user_id, day,
       CAST(CASE WHEN day_value IS NULL THEN 1 ELSE 0 END AS INTEGER) AS is_gap,
       last_value(day_value IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS filled_value
FROM joined
""",
)
def ts_gap_fill(spark, sf_dir):
    """Calendar gap-fill + forward-fill: resample each user's daily
    revenue onto a dense day grid (sequence/explode — generated
    executor-side, never through the driver) and carry the last observed
    value across gaps with last(ignorenulls) over an ordered window.
    Per-user spans keep the generated grid proportional to each user's
    own active range, so a 100 TB corpus with short-lived users never
    materializes a global calendar cross join."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "user_id").agg(F.round(dsum(F.col("value")), 6).alias("day_value"))
    w = Window.partitionBy("user_id").orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        _day_grid(daily, "user_id")
        .select(
            "user_id",
            "day",
            F.when(F.col("day_value").isNull(), 1).otherwise(0).cast("int").alias("is_gap"),
            F.last("day_value", ignorenulls=True).over(w).alias("filled_value"),
        )
    )


@register(
    "ts_resample_ohlc",
    oracle="""
WITH ranked AS (
    SELECT user_id, CAST(ts AS DATE) AS day, value,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts ASC, event_id ASC) AS rf,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rl
    FROM events
)
SELECT user_id, day,
       ROUND(MAX(CASE WHEN rf = 1 THEN value END), 6) AS open,
       ROUND(MAX(value), 6) AS high,
       ROUND(MIN(value), 6) AS low,
       ROUND(MAX(CASE WHEN rl = 1 THEN value END), 6) AS close,
       COUNT(*) AS n_ticks
FROM ranked GROUP BY 1, 2
""",
)
def ts_resample_ohlc(spark, sf_dir):
    """OHLC downsampling (tick stream → daily bars): open/close are
    min_by/max_by on a (ts, event_id) struct — ONE hash aggregate, no
    window sort, which at 100 TB means one shuffle on (user, day) with
    map-side partials instead of a full per-key ordering. Oracle is the
    row_number twin (DuckDB arg_min/arg_max lack composite tiebreaks)."""
    ev = t(spark, sf_dir, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return by_day(ev, "user_id").agg(
        F.round(F.min_by("value", ord_key), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max_by("value", ord_key), 6).alias("close"),
        F.count(F.lit(1)).alias("n_ticks"),
    )


@register(
    "ts_ewma",
    oracle="""
WITH day_chunks AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           COUNT(*) AS n,
           list_reduce(list_prepend(0.0, list(CAST(value AS DOUBLE) ORDER BY ts, event_id)),
                       (acc, x) -> 0.5 * acc + 0.5 * x) AS b_lin,
           list_reduce(list(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                       (acc, x) -> 0.5 * acc + 0.5 * x) AS f_fresh
    FROM events GROUP BY user_id, CAST(ts AS DATE)
), day_structs AS (
    SELECT user_id,
           list(struct_pack(day := day, n := n, b_lin := b_lin, y := f_fresh)
                ORDER BY day) AS days,
           CAST(SUM(n) AS BIGINT) AS n_events
    FROM day_chunks GROUP BY user_id
)
SELECT user_id,
       ROUND(CAST(list_reduce(days,
               (acc, x) -> struct_pack(day := x.day, n := x.n, b_lin := x.b_lin,
                                       y := pow(0.5, x.n) * acc.y + x.b_lin)
             ).y AS DOUBLE), 6) AS ewma,
       n_events
FROM day_structs
""",
)
def ts_ewma(spark, sf_dir):
    """Exponentially-weighted moving average (α=0.5) of each user's value
    series — the classic smoothing feature with an inherently ORDERED,
    RECURSIVE definition. Computed as a SEGMENTED scan so per-aggregate
    state stays bounded at 100 TB (a hot user's whole series never sits
    in one collect_list buffer — the round-1/2 formulation's weakness):

      stage 1 — groupBy (user, day): fold the day's values in event
        order into (n, B, F): B = fold seeded with 0.0 (the chunk's
        linear response), F = fold seeded with the first value (the
        chunk's fresh-start result). State per aggregate = one day of
        one user.
      stage 2 — groupBy user: fold the per-day summaries in day order:
        y := F_first_day, then y := 0.5^n_d · y + B_d per later day —
        the EWMA recurrence is linear (y' = A·y + B), so chunks compose
        exactly. State per aggregate = O(active days), not O(events).

    Both engines execute the identical two-level fold over identical
    orderings (ties broken by event_id) with identical double
    arithmetic → bit-identical results, no UDF anywhere. The naive
    closed form Σ x_i·α^(n-i) stays deliberately avoided: α^(-i)
    overflows for long series, while 0.5^n underflowing to 0 here is
    benign (the old contribution has genuinely vanished)."""
    ev = t(spark, sf_dir, "events")
    vals_sorted = (
        "transform(sort_array(collect_list(struct(ts, event_id, value))),"
        " s -> CAST(s.value AS DOUBLE))"
    )
    b_lin = f"aggregate({vals_sorted}, 0.0D, (acc, x) -> 0.5D * acc + 0.5D * x)"
    f_fresh = (
        f"aggregate({vals_sorted}, CAST(NULL AS DOUBLE),"
        " (acc, x) -> CASE WHEN acc IS NULL THEN x ELSE 0.5D * acc + 0.5D * x END)"
    )
    day_chunks = by_day(ev, "user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(b_lin).alias("b_lin"),
        F.expr(f_fresh).alias("y"),  # seed: fresh-start result carried in y
    )
    # element_at (1-BASED), not days[1]: Spark SQL's [] operator is
    # 0-based, so days[1] silently seeded with the SECOND day's fresh
    # value (and indexes out of bounds under ANSI for single-day
    # users). Numerically masked on the fixtures — the wrong seed's
    # contribution decays by 0.5^(later events) ≤ 6e-14 — but wrong.
    compose = (
        "aggregate("
        " slice(days, 2, greatest(size(days) - 1, 0)),"
        " element_at(days, 1).y,"
        " (acc, x) -> pow(0.5D, CAST(x.n AS DOUBLE)) * acc + x.b_lin)"
    )
    return (
        day_chunks.groupBy("user_id")
        .agg(
            F.expr("sort_array(collect_list(struct(day, n, b_lin, y)))").alias("days"),
            F.sum("n").cast("long").alias("n_events"),
        )
        .select(
            "user_id",
            F.round(F.expr(compose), 6).alias("ewma"),
            "n_events",
        )
    )


@register(
    "ts_funnel",
    oracle="""
WITH seq AS (
  SELECT user_id, ts, event_type,
         last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click_ts
  FROM events
)
SELECT user_id,
       COUNT(CASE WHEN event_type = 'purchase'
                   AND prev_click_ts >= ts - INTERVAL 1 HOUR THEN 1 END) AS n_conversions,
       MIN(CASE WHEN event_type = 'purchase'
                 AND prev_click_ts >= ts - INTERVAL 1 HOUR THEN ts END) AS first_conversion_ts
FROM seq GROUP BY user_id
""",
)
def ts_funnel(spark, sf_dir):
    """Funnel / conversion detection (MATCH_RECOGNIZE-lite): a purchase
    converts if ANY click preceded it within 1 hour. The carried
    last-click timestamp (last IGNORE NULLS over a frame ending at
    1 PRECEDING — strictly-before semantics) turns the sequential
    pattern into one window pass + one aggregate: single shuffle on
    user_id, linear state, any event depth. The same shape extends to
    k-step funnels by carrying one column per stage."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    seq = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.last(
            F.when(F.col("event_type") == "click", F.col("ts")), ignorenulls=True
        ).over(w).alias("prev_click_ts"),
    )
    converted = (F.col("event_type") == "purchase") & (
        F.col("prev_click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    )
    return seq.groupBy("user_id").agg(
        F.count(F.when(converted, 1)).alias("n_conversions"),
        F.min(F.when(converted, F.col("ts"))).alias("first_conversion_ts"),
    )


@register(
    "ts_retention_cohorts",
    oracle="""
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk FROM events
)
SELECT f.cohort_week,
       CAST(date_diff('day', f.cohort_week, a.wk) // 7 AS BIGINT) AS week_n,
       COUNT(*) AS n_active
FROM firsts f JOIN activity a ON a.user_id = f.user_id
GROUP BY 1, 2
""",
)
def ts_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix — users bucketed by first-active week ×
    weeks-since-cohort, the canonical churn-analytics readout (reference
    modeled exactly this churn signal). TWO exchanges total: one
    collect_set per user (map-side partial dedup of weeks — per-user
    state bounded by the calendar, not the event count), then the
    cohort×offset rollup; cohort week is array_min of the set, so there
    is no first-touch join (user-count-sized, unbroadcastable at scale)
    and no window sort. Output collapses to ~weeks² rows regardless of
    user count. Monday-start week truncation verified identical on both
    engines; /7 is exact (week-aligned)."""
    ev = t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.collect_set(day_of(F.date_trunc("week", "ts"))).alias("wks")
    )
    exploded = per_user.select(
        F.array_min("wks").alias("cohort_week"), F.explode("wks").alias("wk")
    )
    return exploded.groupBy(
        "cohort_week",
        F.floor(F.datediff("wk", "cohort_week") / 7).cast("bigint").alias("week_n"),
    ).agg(F.count(F.lit(1)).alias("n_active"))


_DOD_SQL = """
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS sum_value
  FROM events GROUP BY 1
)
SELECT day, n, sum_value,
       n - lag(n) OVER (ORDER BY day) AS n_delta,
       ROUND(CAST(n AS DOUBLE) / lag(n) OVER (ORDER BY day) - 1, 6) AS n_pct_change
FROM daily
"""


@register("ts_day_over_day", oracle=_DOD_SQL)
def ts_day_over_day(spark, sf_dir):
    """Day-over-day deltas — the reporting staple. The single-partition
    global window (ORDER BY day, no PARTITION BY) is applied AFTER the
    daily aggregate, so it sorts ~calendar-days rows, not events: the
    only safe place for an unpartitioned window at 100 TB is on top of
    an already-collapsed series. Identical SQL is the oracle."""
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(_DOD_SQL)


@register(
    "ts_session_attrs",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS gap_us
    FROM events
), flagged AS (
    SELECT *, CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
    FROM ordered
), sessions AS (
    SELECT *, SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                     ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY user_id, session_id
                                 ORDER BY ts, event_id) AS rf,
              row_number() OVER (PARTITION BY user_id, session_id
                                 ORDER BY ts DESC, event_id DESC) AS rl
    FROM sessions
)
SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events,
       MAX(CASE WHEN rf = 1 THEN event_type END) AS entry_type,
       MAX(CASE WHEN rl = 1 THEN event_type END) AS exit_type
FROM ranked GROUP BY user_id, session_id
""",
)
def ts_session_attrs(spark, sf_dir):
    """Sessions WITH entry/exit attributes — the GA landing-page /
    exit-page readout the reference's publisher-churn features came
    from. min_by/max_by on a (ts, event_id) struct ride INSIDE the same
    session_window aggregate, so first/last-in-session costs zero extra
    passes over ts_session's single user_id shuffle. Oracle: the
    gaps-and-islands twin plus first/last row_number flags."""
    ev = t(spark, sf_dir, "events")
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(
            F.min("ts").alias("session_start"),
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("event_type", ord_key).alias("entry_type"),
            F.max_by("event_type", ord_key).alias("exit_type"),
        )
        .select("user_id", "session_start", "n_events", "entry_type", "exit_type")
    )


@register(
    "ts_attribution_first_touch",
    oracle="""
WITH purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
), touches AS (
  SELECT p.user_id, p.purchase_id, p.p_ts, c.click_id, c.c_ts
  FROM purchases p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 7 DAY
)
SELECT user_id, purchase_id, p_ts AS purchase_ts,
       MIN(c_ts) AS first_touch_ts,
       CAST(COUNT(*) AS BIGINT) AS n_touchpoints
FROM touches GROUP BY user_id, purchase_id, p_ts
""",
)
def ts_attribution_first_touch(spark, sf_dir):
    """First-touch attribution — credit each purchase to the EARLIEST
    click in a 7-day lookback (the complement of join_asof's
    last-touch), plus the multi-touch count. The user-keyed equi-join
    bounds pair fan-out to each user's own events (never a global range
    join); the band filter + min/count collapse in one aggregate.
    Purchases with no touch in window drop out (inner semantics) —
    exactly the attribution denominator."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    touches = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    )
    return touches.groupBy("user_id", "purchase_id", "p_ts").agg(
        F.min("c_ts").alias("first_touch_ts"),
        F.count(F.lit(1)).cast("bigint").alias("n_touchpoints"),
    ).select(
        "user_id", "purchase_id", F.col("p_ts").alias("purchase_ts"),
        "first_touch_ts", "n_touchpoints",
    )


@register(
    "ts_active_users",
    oracle="""
WITH acts AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day FROM events
), days AS (
  SELECT DISTINCT day FROM acts
)
SELECT d.day,
       CAST(COUNT(DISTINCT CASE WHEN a.day = d.day THEN a.user_id END) AS BIGINT) AS dau,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS wau
FROM days d JOIN acts a ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
GROUP BY d.day
""",
)
def ts_active_users(spark, sf_dir):
    """DAU / trailing-7-day WAU — THE engagement readout, and the metric
    that can NOT reaggregate from daily counts (distinct doesn't
    compose; see agg_hll_union for the sketch answer). Exact form:
    distinct (user, day) activity × a broadcast day spine banded to the
    trailing week, one countDistinct per day. Activity rows fan out ≤7×
    — bounded by the window, not the data. At larger windows, swap the
    band join for HLL partial union."""
    ev = t(spark, sf_dir, "events")
    acts = ev.select("user_id", day_of().alias("day")).distinct()
    days = acts.select("day").distinct()
    banded = acts.withColumnRenamed("day", "act_day").join(
        F.broadcast(days),
        (F.col("act_day") <= F.col("day"))
        & (F.col("act_day") >= F.col("day") - F.expr("INTERVAL 6 DAY")),
    )
    return banded.groupBy("day").agg(
        F.countDistinct(
            F.when(F.col("act_day") == F.col("day"), F.col("user_id"))
        ).cast("bigint").alias("dau"),
        F.countDistinct("user_id").cast("bigint").alias("wau"),
    )


@register(
    "ts_traffic_profile",
    oracle="""
SELECT CAST(dayofweek(ts) + 1 AS INT) AS dow,
       CAST(hour(ts) AS INT) AS hod,
       COUNT(*) AS n_events,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM events GROUP BY 1, 2
""",
)
def ts_traffic_profile(spark, sf_dir):
    """Hour-of-day × day-of-week traffic heatmap — the seasonality
    profile capacity planning and anomaly baselines read from. Output is
    ≤168 cells at ANY input scale; one hash aggregate with map-side
    partials plus the distinct expansion. Weekday numbering aligned
    explicitly: DuckDB counts Sunday=0, Spark Sunday=1 — an off-by-one
    that silently rotates the heatmap if unhandled."""
    ev = t(spark, sf_dir, "events")
    return ev.groupBy(
        F.dayofweek("ts").cast("int").alias("dow"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )


@register(
    "ts_user_ltv",
    oracle="""
SELECT user_id,
       MIN(ts) AS first_seen, MAX(ts) AS last_seen,
       CAST(date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS BIGINT)
           AS tenure_days,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_value,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
             / (1 + date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE))), 6)
           AS value_per_day
FROM events GROUP BY user_id
""",
)
def ts_user_ltv(spark, sf_dir):
    """Per-user lifetime value: tenure span, exact total value, and
    value-per-active-day (the churn-cost input). Everything rides ONE
    two-phase hash aggregate — min/max/decimal-sum all map-side
    combinable; the derived ratios are post-aggregate projections, so
    the whole feature block costs a single shuffle on user_id."""
    ev = t(spark, sf_dir, "events")
    total = dsum(F.col("value"))
    tenure = F.datediff(day_of(F.max("ts")), day_of(F.min("ts"))).cast("bigint")
    return ev.groupBy("user_id").agg(
        F.min("ts").alias("first_seen"),
        F.max("ts").alias("last_seen"),
        tenure.alias("tenure_days"),
        F.round(total, 6).alias("total_value"),
        F.round(total / (1 + tenure), 6).alias("value_per_day"),
    )


@register(
    "ts_peak_concurrency",
    oracle="""
WITH iv AS (
  SELECT user_id, CAST(ts AS DATE) AS day, MIN(ts) AS s, MAX(ts) AS e
  FROM events GROUP BY 1, 2
), pts AS (
  SELECT day, s AS t, 1 AS delta FROM iv
  UNION ALL
  SELECT day, e, -1 FROM iv
), swept AS (
  SELECT day,
         SUM(delta) OVER (PARTITION BY day ORDER BY t, delta DESC
                          ROWS UNBOUNDED PRECEDING) AS conc
  FROM pts
)
SELECT day, CAST(MAX(conc) AS BIGINT) AS peak_concurrent_users
FROM swept GROUP BY day
""",
)
def ts_peak_concurrency(spark, sf_dir):
    """Peak concurrent users per day — the capacity-planning number,
    via the classic +1/−1 endpoint sweep over each user's daily active
    span. Ends sort AFTER starts at equal timestamps (delta DESC), so
    touching intervals count as overlapping (end-inclusive). The sweep
    window partitions BY DAY — spans never cross the day boundary by
    construction, so there is no global single-partition sort and the
    sweep scales with days × users/day. Equal-timestamp +1s permute the
    running value but never its daily MAX. The per-user interval table
    feeds BOTH legs of the endpoint union, so it is materialized once
    (localCheckpoint) instead of letting Catalyst inline the event scan
    + aggregate into each leg."""
    ev = t(spark, sf_dir, "events")
    iv = ckpt(by_day(ev, "user_id").agg(F.min("ts").alias("s"), F.max("ts").alias("e")))
    pts = iv.select("day", F.col("s").alias("t"), F.lit(1).alias("delta")).unionByName(
        iv.select("day", F.col("e").alias("t"), F.lit(-1).alias("delta"))
    )
    w = (
        Window.partitionBy("day")
        .orderBy(F.asc("t"), F.desc("delta"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        pts.select("day", F.sum("delta").over(w).alias("conc"))
        .groupBy("day")
        .agg(F.max("conc").cast("bigint").alias("peak_concurrent_users"))
    )


@register(
    "ts_interpolate_linear",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE), 6) AS v
  FROM events GROUP BY 1, 2
), spans AS (
  SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
), cal AS (
  SELECT user_id,
         CAST(unnest(range(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP) + INTERVAL 1 DAY,
                           INTERVAL 1 DAY)) AS DATE) AS day
  FROM spans
), g AS (
  SELECT c.user_id, c.day, d.v FROM cal c
  LEFT JOIN daily d ON d.user_id = c.user_id AND d.day = c.day
), f AS (
  SELECT user_id, day, v,
         last_value(v IGNORE NULLS) OVER wback AS pv,
         last_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wback AS pd,
         first_value(v IGNORE NULLS) OVER wfwd AS nv,
         first_value(CASE WHEN v IS NOT NULL THEN day END IGNORE NULLS) OVER wfwd AS nd
  FROM g
  WINDOW wback AS (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING),
         wfwd AS (PARTITION BY user_id ORDER BY day
                  ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
)
SELECT user_id, day,
       ROUND(CASE WHEN v IS NOT NULL THEN v
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * date_diff('day', pd, day)
                            / date_diff('day', pd, nd) END, 6) AS v_interp,
       CAST(v IS NULL AS INTEGER) AS was_gap
FROM f
""",
)
def ts_interpolate_linear(spark, sf_dir):
    """Linear interpolation over the dense day grid — the UPSAMPLING
    complement to ts_gap_fill's forward-fill (ffill biases gaps toward
    the past; interpolation splits the difference, the right default
    for continuous-valued series). One backward and one forward IGNORE
    NULLS window carry the bracketing (value, day) pairs; the lerp is a
    pure projection. Both windows share the per-user sort, so cost is
    one shuffle + one sort, same as ffill. Identical double operands →
    identical rounding on both engines. The daily aggregate feeds both
    the span derivation and the grid join, so it is materialized once
    (localCheckpoint) instead of re-deriving the event scan + aggregate
    per consumer."""
    ev = t(spark, sf_dir, "events")
    daily = ckpt(by_day(ev, "user_id").agg(F.round(dsum(F.col("value")), 6).alias("v")))
    g = _day_grid(daily, "user_id")
    wb = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wf = Window.partitionBy("user_id").orderBy("day").rowsBetween(
        1, Window.unboundedFollowing
    )
    v = F.col("v")
    obs_day = F.when(v.isNotNull(), F.col("day"))
    pv = F.last(v, ignorenulls=True).over(wb)
    pd_ = F.last(obs_day, ignorenulls=True).over(wb)
    nv = F.first(v, ignorenulls=True).over(wf)
    nd = F.first(obs_day, ignorenulls=True).over(wf)
    frac = F.datediff(F.col("day"), pd_) / F.datediff(nd, pd_)
    interp = (
        F.when(v.isNotNull(), v).when(nv.isNull(), pv).otherwise(pv + (nv - pv) * frac)
    )
    return g.select(
        "user_id",
        "day",
        F.round(interp, 6).alias("v_interp"),
        v.isNull().cast("int").alias("was_gap"),
    )


@register(
    "ts_cohort_value_curve",
    oracle="""
WITH acts AS (
  SELECT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk,
         SUM(CAST(value AS DECIMAL(38,6))) AS wv
  FROM events GROUP BY 1, 2
), tagged AS (
  SELECT user_id, wk, wv,
         MIN(wk) OVER (PARTITION BY user_id) AS cohort_week
  FROM acts
), cells AS (
  SELECT cohort_week,
         CAST(date_diff('day', cohort_week, wk) // 7 AS BIGINT) AS week_n,
         SUM(wv) AS cell_value
  FROM tagged GROUP BY 1, 2
)
SELECT cohort_week, week_n,
       ROUND(CAST(SUM(cell_value) OVER (PARTITION BY cohort_week ORDER BY week_n
                                        ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6)
           AS cum_value
FROM cells
""",
)
def ts_cohort_value_curve(spark, sf_dir):
    """Cohort LTV curves — cumulative value by (cohort week ×
    weeks-since), the payback-period readout that prices acquisition.
    Decimal partials aggregate per (user, week), the cohort tag is a
    window MIN, cells collapse to ~weeks², and ONLY then does the
    cumulative window run — over the tiny cell table, exact decimal all
    the way to the final cast. Heavy data is touched exactly once."""
    ev = t(spark, sf_dir, "events")
    acts = ev.groupBy(
        "user_id", day_of(F.date_trunc("week", "ts")).alias("wk")
    ).agg(F.sum(F.col("value").cast("decimal(38,6)")).alias("wv"))
    tagged = acts.withColumn(
        "cohort_week", F.min("wk").over(Window.partitionBy("user_id"))
    )
    cells = tagged.groupBy(
        "cohort_week",
        F.floor(F.datediff("wk", "cohort_week") / 7).cast("bigint").alias("week_n"),
    ).agg(F.sum("wv").alias("cell_value"))
    wcum = (
        Window.partitionBy("cohort_week")
        .orderBy("week_n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return cells.select(
        "cohort_week",
        "week_n",
        F.round(F.sum("cell_value").over(wcum).cast("double"), 6).alias("cum_value"),
    )


@register(
    "ts_conversion_latency",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN ts END) AS first_signup,
         MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS first_purchase
  FROM events GROUP BY user_id
), lat AS (
  SELECT user_id,
         epoch_us(first_purchase) - epoch_us(first_signup) AS lat_us
  FROM firsts
  WHERE first_signup IS NOT NULL AND first_purchase >= first_signup
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(median(CAST(lat_us AS DOUBLE)) / 3600e6, 6) AS median_hours,
       ROUND(MIN(CAST(lat_us AS DOUBLE)) / 3600e6, 6) AS min_hours,
       ROUND(MAX(CAST(lat_us AS DOUBLE)) / 3600e6, 6) AS max_hours
FROM lat
""",
)
def ts_conversion_latency(spark, sf_dir):
    """Signup→first-purchase latency distribution — the activation
    metric. Conditional MINs extract both firsts in ONE per-user
    aggregate (no self-join of filtered streams); the latency summary
    is a second, scalar-sized pass. Microsecond epoch arithmetic keeps
    both engines in exact integers until the final hour conversion."""
    ev = t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    lat = firsts.filter(
        F.col("first_signup").isNotNull()
        & (F.col("first_purchase") >= F.col("first_signup"))
    ).select(
        F.expr("timestampdiff(MICROSECOND, first_signup, first_purchase)").alias("lat_us")
    )
    h = F.col("lat_us").cast("double") / F.lit(3600e6)
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.expr("percentile(CAST(lat_us AS DOUBLE), 0.5D)") / 3600e6, 6).alias(
            "median_hours"
        ),
        F.round(F.min(h), 6).alias("min_hours"),
        F.round(F.max(h), 6).alias("max_hours"),
    )


@register(
    "ts_survival_curve",
    oracle="""
WITH tenure AS (
  SELECT user_id,
         date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS t_days
  FROM events GROUP BY user_id
), spine AS (
  SELECT unnest(range(0, 30)) AS day_n
)
SELECT s.day_n,
       CAST(COUNT(CASE WHEN t.t_days >= s.day_n THEN 1 END) AS BIGINT) AS n_surviving,
       ROUND(COUNT(CASE WHEN t.t_days >= s.day_n THEN 1 END) * 1.0 / COUNT(*), 6)
           AS survival_frac
FROM spine s CROSS JOIN tenure t
GROUP BY s.day_n
""",
)
def ts_survival_curve(spark, sf_dir):
    """Survival curve — fraction of users still active ≥ N days after
    first touch, the churn function itself (its complement is the churn
    CDF the reference's model predicts a point on). The 30-row spine
    broadcasts against per-user tenures, so the 'curve' costs one
    user-keyed aggregate plus a 30× bounded fan-out — at 100 TB the
    tenure table is the only data-sized object and it's touched once."""
    ev = t(spark, sf_dir, "events")
    tenure = ev.groupBy("user_id").agg(
        F.datediff(day_of(F.max("ts")), day_of(F.min("ts"))).alias("t_days")
    )
    spine = spark.range(0, 30).select(F.col("id").cast("bigint").alias("day_n"))
    surviving = F.count(F.when(F.col("t_days") >= F.col("day_n"), 1))
    return (
        tenure.crossJoin(F.broadcast(spine))
        .groupBy("day_n")
        .agg(
            surviving.cast("bigint").alias("n_surviving"),
            F.round(surviving * 1.0 / F.count(F.lit(1)), 6).alias("survival_frac"),
        )
    )


@register(
    "ts_anomaly_robust",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
), roll AS (
    SELECT event_type, day, n,
           quantile_cont(CAST(n AS DOUBLE), 0.5) OVER w AS med,
           quantile_cont(CAST(n AS DOUBLE), 0.25) OVER w AS p25,
           quantile_cont(CAST(n AS DOUBLE), 0.75) OVER w AS p75
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, n,
       FLOOR(med * 1000000 + 0.5) / 1000000 AS med7,
       FLOOR((p75 - p25) * 1000000 + 0.5) / 1000000 AS iqr7,
       FLOOR((n - med) / GREATEST(p75 - p25, 1.0) * 1000000 + 0.5) / 1000000 AS robust_z,
       ABS((n - med) / GREATEST(p75 - p25, 1.0)) > 2.0 AS is_anomaly
FROM roll
""",
)
def ts_anomaly_robust(spark, sf_dir):
    """Robust traffic-anomaly detection: per-event-type daily counts
    scored against a trailing-7-day rolling median and IQR —
    robust_z = (n − med) / max(IQR, 1), flagged at |z| > 2. Median/IQR
    instead of mean/stddev so a single spike day can't mask itself by
    inflating its own baseline (the win_moving_zscore failure mode).
    One coarse aggregation (days × types rows — tiny regardless of
    corpus size) plus framed exact percentiles over that small table:
    the expensive part of the op scales with the raw event scan, the
    window state with distinct days only. Both engines interpolate
    framed quantiles linearly, so the doubles agree bit-for-bit before
    the shared floor-rounding."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    nd = F.col("n").cast("double")
    med = F.percentile(nd, F.lit(0.5)).over(w)
    p25 = F.percentile(nd, F.lit(0.25)).over(w)
    p75 = F.percentile(nd, F.lit(0.75)).over(w)
    rz = (nd - med) / F.greatest(p75 - p25, F.lit(1.0))
    return daily.select(
        "event_type",
        "day",
        "n",
        qround(med).alias("med7"),
        qround(p75 - p25).alias("iqr7"),
        qround(rz).alias("robust_z"),
        (F.abs(rz) > 2.0).alias("is_anomaly"),
    )


@register(
    "ts_scd2_history",
    oracle="""
WITH daily AS (
    SELECT user_id, day, status FROM (
        SELECT user_id, CAST(ts AS DATE) AS day, event_type AS status,
               ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events) WHERE rn = 1
), flagged AS (
    SELECT user_id, day, status,
           CASE WHEN LAG(status) OVER (PARTITION BY user_id ORDER BY day)
                     IS DISTINCT FROM status THEN 1 ELSE 0 END AS chg
    FROM daily
), grp AS (
    SELECT user_id, day, status,
           SUM(chg) OVER (PARTITION BY user_id ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS g
    FROM flagged
), iv AS (
    SELECT user_id, status, g, MIN(day) AS valid_from
    FROM grp GROUP BY 1, 2, 3
)
SELECT user_id, status, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) AS valid_to,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from) IS NULL AS is_current
FROM iv
""",
)
def ts_scd2_history(spark, sf_dir):
    """Type-2 slowly-changing-dimension history built from the event
    stream: each user's status (last event_type of the day) becomes
    validity intervals [valid_from, valid_to) with consecutive
    identical statuses collapsed (gaps-and-islands: change flag →
    running-sum group id), open-ended current row flagged. This is the
    dimension-table MERGE a warehouse runs on every load, expressed as
    three window passes that ALL partition by user_id — one shuffle,
    then narrow. At 100 TB: state per user is its distinct status runs,
    and the output appends to a user_id-bucketed dimension so the next
    incremental load joins co-partitioned."""
    ev = t(spark, sf_dir, "events")
    w_day = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    daily = (
        ev.select(
            "user_id",
            day_of().alias("day"),
            F.col("event_type").alias("status"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w_day))
        .filter(F.col("rn") == 1)
        .select("user_id", "day", "status")
    )
    w_u = Window.partitionBy("user_id").orderBy("day")
    flagged = daily.withColumn(
        "chg",
        F.when(
            ~F.lag("status").over(w_u).eqNullSafe(F.col("status")), 1
        ).otherwise(0),
    )
    grp = flagged.withColumn(
        "g", F.sum("chg").over(w_u.rowsBetween(Window.unboundedPreceding, 0))
    )
    iv = grp.groupBy("user_id", "status", "g").agg(F.min("day").alias("valid_from"))
    w_iv = Window.partitionBy("user_id").orderBy("valid_from")
    return iv.select(
        "user_id",
        "status",
        "valid_from",
        F.lead("valid_from").over(w_iv).alias("valid_to"),
        F.lead("valid_from").over(w_iv).isNull().alias("is_current"),
    )


@register(
    "ts_forecast_linear",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
    FROM events GROUP BY 1, 2
), idx AS (
    SELECT event_type, day, n,
           CAST(day - MIN(day) OVER (PARTITION BY event_type) AS BIGINT) AS x
    FROM daily
), fit AS (
    SELECT event_type,
           regr_slope(n, x) AS slope,
           regr_intercept(n, x) AS icept,
           MAX(x) AS x_max
    FROM idx GROUP BY event_type
)
SELECT f.event_type,
       CAST(f.x_max + h.h AS BIGINT) AS x,
       FLOOR((f.icept + f.slope * (f.x_max + h.h)) * 1000000 + 0.5) / 1000000 AS forecast_n
FROM fit f, (SELECT unnest(range(1, 8)) AS h) h
""",
)
def ts_forecast_linear(spark, sf_dir):
    """7-day-ahead traffic forecast per event type: OLS trend over the
    daily-count series (regr_slope/intercept — one distributed moment
    aggregation, the same five sums agg_regr accumulates) extrapolated
    over a 7-row horizon spine. The fit never materializes the series
    beyond its per-type daily aggregate, and the horizon fan-out is a
    7-element broadcast — forecasting cost is O(types), independent of
    event volume. Day index x is an exact integer (date difference), so
    both engines fit on identical (x, n) pairs and the floor-rounded
    projections hash-match."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "n",
        F.datediff("day", F.min("day").over(w)).cast("bigint").alias("x"),
    )
    fit = idx.groupBy("event_type").agg(
        F.regr_slope("n", F.col("x").cast("double")).alias("slope"),
        F.regr_intercept("n", F.col("x").cast("double")).alias("icept"),
        F.max("x").alias("x_max"),
    )
    horizon = F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h")
    return (
        fit.select("event_type", "slope", "icept", "x_max", horizon)
        .select(
            "event_type",
            (F.col("x_max") + F.col("h")).cast("bigint").alias("x"),
            qround(F.col("icept") + F.col("slope") * (F.col("x_max") + F.col("h"))).alias(
                "forecast_n"
            ),
        )
    )


@register(
    "ts_holt_forecast",
    # Recursive-CTE twin, NOT list_reduce: DuckDB 1.0.0's list_reduce
    # mis-evaluates a lambda whose accumulator struct has TWO evolving
    # fields (repro: 3-element fold gives b=0.31125 where composing the
    # same fold as two calls gives the correct 0.3075; ts_ewma's
    # single-evolving-field state is unaffected). The recursion uses
    # only scalar double arithmetic, which both engines agree on.
    oracle="""
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
    FROM events GROUP BY 1, 2
), ranked AS (
    SELECT event_type, n,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
    FROM daily
), cnt AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM ranked GROUP BY 1
), st AS (
    SELECT event_type, i, n AS l, CAST(0.0 AS DOUBLE) AS b
    FROM ranked WHERE i = 1
    UNION ALL
    SELECT st.event_type, r.i,
           0.5 * r.n + 0.5 * (st.l + st.b) AS l,
           0.3 * (0.5 * r.n + 0.5 * (st.l + st.b) - st.l) + 0.7 * st.b AS b
    FROM st JOIN ranked r ON r.event_type = st.event_type AND r.i = st.i + 1
)
SELECT s.event_type, c.n_days,
       FLOOR(s.l * 1000000 + 0.5) / 1000000 AS level,
       FLOOR(s.b * 1000000 + 0.5) / 1000000 AS trend,
       FLOOR((s.l + 7 * s.b) * 1000000 + 0.5) / 1000000 AS forecast_7d
FROM st s JOIN cnt c ON s.event_type = c.event_type AND s.i = c.n_days
""",
)
def ts_holt_forecast(spark, sf_dir):
    """Holt double-exponential smoothing (α=0.5, β=0.3) over each
    event type's daily-count series — the adaptive level+trend
    forecast that reacts to regime changes the global OLS fit
    (ts_forecast_linear) averages away. The recurrence is inherently
    ordered, so it runs as a fold over the per-type day array (state =
    one (level, trend) struct; array length = active days, never raw
    events — the same bounded-state discipline as ts_ewma). Both
    engines execute the identical fold in identical day order with
    identical double arithmetic: Spark's aggregate() seeds from the
    first day-struct and folds the rest, mirroring DuckDB's
    list_reduce semantics exactly."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.count(F.lit(1)).cast("double").alias("n"))
    # elements carry (n, l, b) so the FIRST element doubles as the fold
    # seed (l = first n, b = 0) — list_reduce-compatible on both sides.
    days_expr = (
        "transform(sort_array(collect_list(struct(day, n))),"
        " s -> named_struct('n', s.n, 'l', s.n, 'b', 0.0D))"
    )
    fold = (
        # element_at is 1-based like DuckDB's days[1]; Spark's [] is NOT
        "aggregate(slice(days, 2, greatest(size(days) - 1, 0)), element_at(days, 1),"
        " (acc, x) -> named_struct("
        "   'n', x.n,"
        "   'l', 0.5D * x.n + 0.5D * (acc.l + acc.b),"
        "   'b', 0.3D * (0.5D * x.n + 0.5D * (acc.l + acc.b) - acc.l)"
        "        + 0.7D * acc.b))"
    )
    return (
        daily.groupBy("event_type")
        .agg(F.expr(days_expr).alias("days"))
        .select(
            "event_type",
            F.size("days").cast("bigint").alias("n_days"),
            F.expr(fold).alias("st"),
        )
        .select(
            "event_type",
            "n_days",
            qround(F.col("st.l")).alias("level"),
            qround(F.col("st.b")).alias("trend"),
            qround(F.col("st.l") + 7 * F.col("st.b")).alias("forecast_7d"),
        )
    )


@register(
    "ts_seasonal_decompose",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
    FROM events GROUP BY 1, 2
), trended AS (
    SELECT event_type, day, n,
           AVG(n) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
           CAST(datediff('day', DATE '1970-01-05', day) % 7 AS BIGINT) AS dow
    FROM daily
), seasonal AS (
    SELECT event_type, dow,
           AVG(n - trend) AS s
    FROM trended GROUP BY 1, 2
)
SELECT t.event_type, t.day, t.n,
       FLOOR(t.trend * 1000000 + 0.5) / 1000000 AS trend,
       FLOOR(s.s * 1000000 + 0.5) / 1000000 AS seasonal,
       FLOOR((t.n - t.trend - s.s) * 1000000 + 0.5) / 1000000 AS residual
FROM trended t JOIN seasonal s ON t.event_type = s.event_type AND t.dow = s.dow
""",
)
def ts_seasonal_decompose(spark, sf_dir):
    """Classical additive decomposition of each event type's daily
    series: trend = 7-day centered moving average, weekly seasonal =
    mean detrended value per day-of-week, residual = the rest — the
    decomposition ts_anomaly_robust's flags get read against. Day-of-
    week is computed arithmetically (days since a known Monday, mod 7)
    because engine dayofweek() conventions differ (Spark 1=Sunday,
    DuckDB 0=Sunday). Cost: one coarse aggregation over the raw
    events, then windows/joins over the tiny day×type table — the
    decomposition itself is O(days·types) regardless of event volume."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.count(F.lit(1)).cast("double").alias("n"))
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    # Materialize the trended day×type table (tiny) — it feeds both the
    # seasonal aggregate and the final join, and without this Catalyst
    # re-derives the raw-event scan + aggregate once per consumer: the
    # expensive part of the op would run TWICE at 100 TB (caught by the
    # single-scan plan test).
    trended = ckpt(daily.select(
        "event_type",
        "day",
        "n",
        F.avg("n").over(w7).alias("trend"),
        (F.datediff("day", F.lit("1970-01-05").cast("date")) % 7)
        .cast("bigint")
        .alias("dow"),
    ))
    seasonal = trended.groupBy("event_type", "dow").agg(
        F.avg(F.col("n") - F.col("trend")).alias("s")
    )
    return trended.join(F.broadcast(seasonal), ["event_type", "dow"]).select(
        "event_type",
        "day",
        "n",
        qround(F.col("trend")).alias("trend"),
        qround(F.col("s")).alias("seasonal"),
        qround(F.col("n") - F.col("trend") - F.col("s")).alias("residual"),
    )


@register(
    "ts_autocorr",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS r
    FROM events GROUP BY 1
), mu AS (
    SELECT CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu,
           CAST(SUM(CAST(FLOOR((r - (SELECT CAST(SUM(CAST(r2.r AS DECIMAL(38,6))) AS DOUBLE)
                                      / COUNT(*) FROM daily r2))
                               * (r - (SELECT CAST(SUM(CAST(r3.r AS DECIMAL(38,6))) AS DOUBLE)
                                       / COUNT(*) FROM daily r3)) * 1000 + 0.5) / 1000
                          AS DECIMAL(38,6))) AS DOUBLE) AS den
    FROM daily
), lags AS (SELECT unnest(range(1, 8)) AS lag_k),
pairs AS (
    SELECT l.lag_k,
           FLOOR((a.r - m.mu) * (b.r - m.mu) * 1000 + 0.5) / 1000 AS p
    FROM daily a
    JOIN lags l ON TRUE
    JOIN daily b ON b.day = a.day + CAST(l.lag_k AS INTEGER)
    CROSS JOIN mu m
)
SELECT p.lag_k,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       FLOOR(CAST(SUM(CAST(p.p AS DECIMAL(38,6))) AS DOUBLE) / MAX(m.den)
             * 1000000 + 0.5) / 1000000 AS acf
FROM pairs p CROSS JOIN mu m
GROUP BY p.lag_k
""",
)
def ts_autocorr(spark, sf_dir):
    """Autocorrelation function of the daily revenue series (lags 1-7)
    — the seasonality probe that decides a forecast model's period (a
    weekly cycle shows as an ACF spike at lag 7). Standard ACF: one
    global mean, deviation products summed per lag over the aligned
    day pairs, normalized by the all-days squared-deviation sum. The
    daily rollup is the only event-scale pass; everything after runs
    on the ~30-row day table joined against a 7-row lag spine. Cross-
    engine exactness: daily sums and moment sums go through DECIMAL,
    deviation products are half-up-quantized at 1e-3 (their magnitude
    approaches the 2^53 double-integer ceiling at 1e-6 grain — grain
    chosen so quantized products stay exactly representable), and the
    final ratio quantizes at 1e-6."""
    ev = t(spark, sf_dir, "events")
    daily = ckpt(by_day(ev).agg(dsum(F.col("value")).alias("r")))
    dev = with_stats(daily, (dsum(F.col("r")) / F.count(F.lit(1))).alias("mu")).select(
        "day", "r", (F.col("r") - F.col("mu")).alias("dev")
    )
    den = dev.agg(dsum(qround(F.col("dev") * F.col("dev"), 3)).alias("den"))
    lags = spark.range(1, 8).select(F.col("id").cast("int").alias("lag_k"))
    a = dev.select("day", F.col("dev").alias("dev_a"))
    b = dev.select(F.col("day").alias("day_b"), F.col("dev").alias("dev_b"))
    pairs = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.expr("day_b = date_add(day, lag_k)"))
        .select("lag_k", qround(F.col("dev_a") * F.col("dev_b"), 3).alias("p"))
    )
    return (
        pairs.groupBy("lag_k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            dsum(F.col("p")).alias("num"),
        )
        .crossJoin(F.broadcast(den))
        .select("lag_k", "n_pairs", qround(F.col("num") / F.col("den")).alias("acf"))
    )


@register(
    "ts_changepoint",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS r
    FROM events GROUP BY 1
), mu AS (
    SELECT CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu FROM daily
), cs AS (
    SELECT day, r,
           CAST(SUM(CAST(FLOOR((r - m.mu) * 1000000 + 0.5) / 1000000 AS DECIMAL(38,6)))
                OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS cusum
    FROM daily, mu m
), mx AS (SELECT MAX(ABS(cusum)) AS peak FROM cs)
SELECT day, FLOOR(cusum * 1000000 + 0.5) / 1000000 AS cusum,
       ABS(cusum) = mx.peak AS is_changepoint
FROM cs, mx
""",
)
def ts_changepoint(spark, sf_dir):
    """CUSUM change-point detection over daily revenue — the classic
    mean-shift locator (the running sum of deviations from the global
    mean peaks exactly where the level changes). Day-level rollup is
    the only event-scale pass; the cumulative sum runs in
    DECIMAL(38,6) over 6-decimal-quantized deviations, so the running
    values — and therefore the argmax day — are bit-identical across
    engines (a float cusum could flip the argmax between two near-tied
    peaks). Flags every day whose |cusum| equals the maximum."""
    ev = t(spark, sf_dir, "events")
    daily = ckpt(by_day(ev).agg(dsum(F.col("value")).alias("r")))
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cs = (
        with_stats(daily, (dsum(F.col("r")) / F.count(F.lit(1))).alias("mu"))
        .select(
            "day",
            F.sum(qround(F.col("r") - F.col("mu")).cast("decimal(38,6)"))
            .over(w)
            .cast("double")
            .alias("cusum"),
        )
    )
    return with_stats(cs, F.max(F.abs("cusum")).alias("peak")).select(
        "day",
        qround(F.col("cusum")).alias("cusum"),
        (F.abs("cusum") == F.col("peak")).alias("is_changepoint"),
    )


@register(
    "ts_holt_winters",
    # Recursive-CTE twin with the 7 seasonals as explicit scalar columns
    # (the list_reduce struct-accumulator bug rules out a list fold on
    # the DuckDB side — see ts_holt_forecast). Scalar double arithmetic
    # only, identical on both engines.
    oracle="""
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
    FROM events GROUP BY 1, 2
), ranked AS (
    SELECT event_type, x,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
    FROM daily
), cnt AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM ranked
    GROUP BY 1 HAVING COUNT(*) >= 8
), seed AS (
    SELECT r.event_type, 7 AS i,
           m.m7 AS l, CAST(0.0 AS DOUBLE) AS b,
           MAX(CASE WHEN r.i = 1 THEN r.x END) - m.m7 AS s1,
           MAX(CASE WHEN r.i = 2 THEN r.x END) - m.m7 AS s2,
           MAX(CASE WHEN r.i = 3 THEN r.x END) - m.m7 AS s3,
           MAX(CASE WHEN r.i = 4 THEN r.x END) - m.m7 AS s4,
           MAX(CASE WHEN r.i = 5 THEN r.x END) - m.m7 AS s5,
           MAX(CASE WHEN r.i = 6 THEN r.x END) - m.m7 AS s6,
           MAX(CASE WHEN r.i = 7 THEN r.x END) - m.m7 AS s7
    FROM ranked r
    JOIN (
        -- explicit left-to-right sum: SUM() aggregation order is
        -- engine-arbitrary and the Spark fold adds days 1..7 in order
        SELECT event_type,
               (MAX(CASE WHEN i = 1 THEN x END) + MAX(CASE WHEN i = 2 THEN x END)
                + MAX(CASE WHEN i = 3 THEN x END) + MAX(CASE WHEN i = 4 THEN x END)
                + MAX(CASE WHEN i = 5 THEN x END) + MAX(CASE WHEN i = 6 THEN x END)
                + MAX(CASE WHEN i = 7 THEN x END)) / 7.0 AS m7
        FROM ranked WHERE i <= 7 GROUP BY 1
    ) m
      ON m.event_type = r.event_type
    JOIN cnt c ON c.event_type = r.event_type
    WHERE r.i <= 7
    GROUP BY r.event_type, m.m7
), st AS (
    SELECT event_type, i, l, b, s1, s2, s3, s4, s5, s6, s7 FROM seed
    UNION ALL
    SELECT st.event_type, r.i,
           0.3 * (r.x - CASE (r.i - 1) % 7 WHEN 0 THEN st.s1 WHEN 1 THEN st.s2
                        WHEN 2 THEN st.s3 WHEN 3 THEN st.s4 WHEN 4 THEN st.s5
                        WHEN 5 THEN st.s6 ELSE st.s7 END)
               + 0.7 * (st.l + st.b) AS l,
           0.1 * (0.3 * (r.x - CASE (r.i - 1) % 7 WHEN 0 THEN st.s1 WHEN 1 THEN st.s2
                               WHEN 2 THEN st.s3 WHEN 3 THEN st.s4 WHEN 4 THEN st.s5
                               WHEN 5 THEN st.s6 ELSE st.s7 END)
                  + 0.7 * (st.l + st.b) - st.l)
               + 0.9 * st.b AS b,
           CASE WHEN (r.i - 1) % 7 = 0 THEN
               0.2 * (r.x - (0.3 * (r.x - st.s1) + 0.7 * (st.l + st.b))) + 0.8 * st.s1
               ELSE st.s1 END AS s1,
           CASE WHEN (r.i - 1) % 7 = 1 THEN
               0.2 * (r.x - (0.3 * (r.x - st.s2) + 0.7 * (st.l + st.b))) + 0.8 * st.s2
               ELSE st.s2 END AS s2,
           CASE WHEN (r.i - 1) % 7 = 2 THEN
               0.2 * (r.x - (0.3 * (r.x - st.s3) + 0.7 * (st.l + st.b))) + 0.8 * st.s3
               ELSE st.s3 END AS s3,
           CASE WHEN (r.i - 1) % 7 = 3 THEN
               0.2 * (r.x - (0.3 * (r.x - st.s4) + 0.7 * (st.l + st.b))) + 0.8 * st.s4
               ELSE st.s4 END AS s4,
           CASE WHEN (r.i - 1) % 7 = 4 THEN
               0.2 * (r.x - (0.3 * (r.x - st.s5) + 0.7 * (st.l + st.b))) + 0.8 * st.s5
               ELSE st.s5 END AS s5,
           CASE WHEN (r.i - 1) % 7 = 5 THEN
               0.2 * (r.x - (0.3 * (r.x - st.s6) + 0.7 * (st.l + st.b))) + 0.8 * st.s6
               ELSE st.s6 END AS s6,
           CASE WHEN (r.i - 1) % 7 = 6 THEN
               0.2 * (r.x - (0.3 * (r.x - st.s7) + 0.7 * (st.l + st.b))) + 0.8 * st.s7
               ELSE st.s7 END AS s7
    FROM st JOIN ranked r ON r.event_type = st.event_type AND r.i = st.i + 1
)
SELECT s.event_type, c.n_days,
       FLOOR(s.l * 1000000 + 0.5) / 1000000 AS level,
       FLOOR(s.b * 1000000 + 0.5) / 1000000 AS trend,
       FLOOR((s.s1 + s.s2 + s.s3 + s.s4 + s.s5 + s.s6 + s.s7) * 1000000 + 0.5)
           / 1000000 AS seasonal_sum,
       FLOOR((s.l + s.b + CASE s.i % 7 WHEN 0 THEN s.s1 WHEN 1 THEN s.s2
                          WHEN 2 THEN s.s3 WHEN 3 THEN s.s4 WHEN 4 THEN s.s5
                          WHEN 5 THEN s.s6 ELSE s.s7 END) * 1000000 + 0.5)
           / 1000000 AS forecast_next
FROM st s JOIN cnt c ON s.event_type = c.event_type AND s.i = c.n_days
""",
)
def ts_holt_winters(spark, sf_dir):
    """Holt-Winters triple-exponential smoothing (additive, weekly
    period; α=0.3, β=0.1, γ=0.2) over each event type's daily-count
    series — the seasonal forecast ts_holt_forecast can't make: level,
    trend AND a 7-slot seasonal profile evolve together. Seeds from the
    first week (level = week-1 mean, seasonals = deviations from it),
    then folds the remaining days; the Spark fold carries the seasonals
    as SEVEN scalar struct fields updated via CASE — mirroring the
    recursive-CTE twin expression for expression, because cross-engine
    bit-equality of an ordered recurrence demands identical scalar
    arithmetic, not just identical math. State per series is one
    11-field struct; the fold input is the bounded per-type day array
    (ts_ewma's discipline), so event volume never inflates it. Types
    with under 8 days are excluded (no seasonal cycle to fit)."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.count(F.lit(1)).cast("double").alias("x"))
    arr = "sort_array(collect_list(struct(day, x)))"
    # Seed from days 1..7; fold days 8..n. All element_at calls 1-based.
    seed = (
        "named_struct("
        " 'i', 7L,"
        " 'l', (element_at(xs, 1) + element_at(xs, 2) + element_at(xs, 3)"
        "      + element_at(xs, 4) + element_at(xs, 5) + element_at(xs, 6)"
        "      + element_at(xs, 7)) / 7.0D,"
        " 'b', 0.0D,"
        " 's1', element_at(xs, 1) - m7, 's2', element_at(xs, 2) - m7,"
        " 's3', element_at(xs, 3) - m7, 's4', element_at(xs, 4) - m7,"
        " 's5', element_at(xs, 5) - m7, 's6', element_at(xs, 6) - m7,"
        " 's7', element_at(xs, 7) - m7)"
    )
    sold = (
        "(CASE pmod(acc.i, 7) WHEN 0 THEN acc.s1 WHEN 1 THEN acc.s2"
        " WHEN 2 THEN acc.s3 WHEN 3 THEN acc.s4 WHEN 4 THEN acc.s5"
        " WHEN 5 THEN acc.s6 ELSE acc.s7 END)"
    )
    lnew = f"(0.3D * (xv - {sold}) + 0.7D * (acc.l + acc.b))"
    supd = lambda j, k: (
        f"CASE WHEN pmod(acc.i, 7) = {k} THEN"
        f" 0.2D * (xv - (0.3D * (xv - acc.s{j}) + 0.7D * (acc.l + acc.b)))"
        f" + 0.8D * acc.s{j} ELSE acc.s{j} END"
    )
    fold = (
        "aggregate(slice(xs, 8, greatest(size(xs) - 7, 0)), "
        + seed.replace("'i', 7L,", "'i', 7L,")
        + ", (acc, xv) -> named_struct("
        " 'i', acc.i + 1L,"
        f" 'l', {lnew},"
        f" 'b', 0.1D * ({lnew} - acc.l) + 0.9D * acc.b,"
        f" 's1', {supd(1, 0)}, 's2', {supd(2, 1)}, 's3', {supd(3, 2)},"
        f" 's4', {supd(4, 3)}, 's5', {supd(5, 4)}, 's6', {supd(6, 5)},"
        f" 's7', {supd(7, 6)}))"
    )
    snext = (
        "(CASE pmod(st.i, 7) WHEN 0 THEN st.s1 WHEN 1 THEN st.s2"
        " WHEN 2 THEN st.s3 WHEN 3 THEN st.s4 WHEN 4 THEN st.s5"
        " WHEN 5 THEN st.s6 ELSE st.s7 END)"
    )
    base = (
        daily.groupBy("event_type")
        .agg(F.expr(f"transform({arr}, s -> s.x)").alias("xs"))
        .filter(F.size("xs") >= 8)
        .withColumn(
            "m7",
            F.expr(
                "(element_at(xs, 1) + element_at(xs, 2) + element_at(xs, 3)"
                " + element_at(xs, 4) + element_at(xs, 5) + element_at(xs, 6)"
                " + element_at(xs, 7)) / 7.0D"
            ),
        )
        .withColumn("st", F.expr(fold))
    )
    return base.select(
        "event_type",
        F.size("xs").cast("bigint").alias("n_days"),
        qround(F.col("st.l")).alias("level"),
        qround(F.col("st.b")).alias("trend"),
        qround(
            F.col("st.s1") + F.col("st.s2") + F.col("st.s3") + F.col("st.s4")
            + F.col("st.s5") + F.col("st.s6") + F.col("st.s7")
        ).alias("seasonal_sum"),
        qround(F.col("st.l") + F.col("st.b") + F.expr(snext)).alias("forecast_next"),
    )


@register(
    "ts_periodogram",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS r
    FROM events GROUP BY 1
), mu AS (
    SELECT CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu FROM daily
), idx AS (
    SELECT ROW_NUMBER() OVER (ORDER BY day) AS d,
           FLOOR((r - m.mu) * 1000000 + 0.5) / 1000000 AS rd
    FROM daily, mu m
), periods AS (SELECT unnest(range(2, 15)) AS period),
terms AS (
    SELECT p.period,
           FLOOR(rd * (FLOOR(cos(2.0 * 3.141592653589793
                                 * CAST((i.d - 1) % p.period AS DOUBLE) / p.period)
                             * 1000000000 + 0.5) / 1000000000)
                 * 1000000000 + 0.5) / 1000000000 AS ct,
           FLOOR(rd * (FLOOR(sin(2.0 * 3.141592653589793
                                 * CAST((i.d - 1) % p.period AS DOUBLE) / p.period)
                             * 1000000000 + 0.5) / 1000000000)
                 * 1000000000 + 0.5) / 1000000000 AS st
    FROM idx i CROSS JOIN periods p
), sums AS (
    SELECT period,
           FLOOR(CAST(SUM(CAST(ct AS DECIMAL(38,12))) AS DOUBLE) * 1000 + 0.5) / 1000 AS c3,
           FLOOR(CAST(SUM(CAST(st AS DECIMAL(38,12))) AS DOUBLE) * 1000 + 0.5) / 1000 AS s3
    FROM terms GROUP BY period
)
SELECT CAST(period AS BIGINT) AS period, c3 AS cos_sum, s3 AS sin_sum,
       CAST(FLOOR(c3 * c3 + s3 * s3 + 0.5) AS BIGINT) AS power
FROM sums
""",
)
def ts_periodogram(spark, sf_dir):
    """Discrete periodogram of the daily revenue series at candidate
    periods 2-14 days — the spectral seasonality probe (a weekly cycle
    shows as a power spike at period 7; ts_autocorr sees the same
    signal in correlation space). For each period p, project the
    mean-centered series onto cos/sin of phase 2π·(d−1 mod p)/p and
    report the squared magnitude. One event-scale rollup; the
    projection is days × 13 periods — a few hundred rows at any scale.
    Cross-engine discipline: trig outputs quantize at 1e-9 (libm's
    last ulp is not contractual across engines), products again at
    1e-9, sums run in DECIMAL(38,12), and the final power is an exact
    integer floor of products of identical doubles."""
    ev = t(spark, sf_dir, "events")
    daily = ckpt(by_day(ev).agg(dsum(F.col("value")).alias("r")))
    w = Window.orderBy("day")
    idx = with_stats(daily, (dsum(F.col("r")) / F.count(F.lit(1))).alias("mu")).select(
        F.row_number().over(w).alias("d"), qround(F.col("r") - F.col("mu")).alias("rd")
    )
    periods = spark.range(2, 15).select(F.col("id").cast("int").alias("period"))
    phase = (
        F.lit(2.0)
        * F.lit(3.141592653589793)
        * ((F.col("d") - 1) % F.col("period")).cast("double")
        / F.col("period")
    )
    terms = idx.crossJoin(F.broadcast(periods)).select(
        "period",
        qround(F.col("rd") * qround(F.cos(phase), 9), 9).alias("ct"),
        qround(F.col("rd") * qround(F.sin(phase), 9), 9).alias("st"),
    )
    sums = terms.groupBy("period").agg(
        qround(dsum(F.col("ct"), 12), 3).alias("c3"), qround(dsum(F.col("st"), 12), 3).alias("s3")
    )
    return sums.select(
        F.col("period").cast("bigint").alias("period"),
        F.col("c3").alias("cos_sum"),
        F.col("s3").alias("sin_sum"),
        F.floor(F.col("c3") * F.col("c3") + F.col("s3") * F.col("s3") + 0.5)
        .cast("bigint")
        .alias("power"),
    )


@register(
    "ts_backtest_metrics",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS x
    FROM events GROUP BY 1, 2
), lagged AS (
    SELECT event_type, x,
           LAG(x, 1) OVER (PARTITION BY event_type ORDER BY day) AS naive1,
           LAG(x, 7) OVER (PARTITION BY event_type ORDER BY day) AS snaive7
    FROM daily
), scored AS (
    SELECT event_type, x, naive1, snaive7 FROM lagged WHERE snaive7 IS NOT NULL
)
SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
       FLOOR(CAST(SUM(CAST(ABS(x - naive1) AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS wape_naive1,
       FLOOR(CAST(SUM(CAST(ABS(x - snaive7) AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(x AS DECIMAL(38,6))) AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS wape_snaive7,
       FLOOR(CAST(SUM(CAST(FLOOR(ABS(x - snaive7) / (ABS(x) + ABS(snaive7))
                                 * 2000000000 + 0.5) / 1000000000
                           AS DECIMAL(38,12))) AS DOUBLE)
             / COUNT(*) * 1000000 + 0.5) / 1000000 AS smape_snaive7
FROM scored GROUP BY event_type
""",
)
def ts_backtest_metrics(spark, sf_dir):
    """Forecast backtest — WAPE of the naive-1 and seasonal-naive-7
    baselines plus sMAPE of the seasonal-naive, per event type: the
    scoreboard every forecast in the family (linear, Holt,
    Holt-Winters) must beat before deployment, and the baseline-
    relative form MASE-style comparisons build on. Counts are exact
    doubles, absolute errors sum through DECIMAL (WAPE is a ratio of
    exact sums — no per-row division), and the per-row sMAPE terms
    quantize at 1e-9 before their DECIMAL mean. One event-scale
    rollup; the lag windows run over the bounded day×type table."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.count(F.lit(1)).cast("double").alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "x",
        F.lag("x", 1).over(w).alias("naive1"),
        F.lag("x", 7).over(w).alias("snaive7"),
    ).filter(F.col("snaive7").isNotNull())
    smape_term = (
        F.floor(
            F.abs(F.col("x") - F.col("snaive7"))
            / (F.abs("x") + F.abs("snaive7"))
            * F.lit(2e9)
            + F.lit(0.5)
        )
        / F.lit(1e9)
    )
    return lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        qround(dsum(F.abs(F.col("x") - F.col("naive1"))) / dsum(F.col("x"))).alias(
            "wape_naive1"
        ),
        qround(dsum(F.abs(F.col("x") - F.col("snaive7"))) / dsum(F.col("x"))).alias(
            "wape_snaive7"
        ),
        qround(dsum(smape_term, 12) / F.count(F.lit(1))).alias("smape_snaive7"),
    )


@register(
    "ts_lag_features",
    oracle="""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS r
    FROM events GROUP BY 1, 2
)
SELECT user_id, day, FLOOR(r * 1000000 + 0.5) / 1000000 AS r,
       FLOOR(COALESCE(LAG(r, 1) OVER w, 0.0) * 1000000 + 0.5) / 1000000 AS lag_1,
       FLOOR(COALESCE(LAG(r, 7) OVER w, 0.0) * 1000000 + 0.5) / 1000000 AS lag_7,
       FLOOR(CAST(SUM(CAST(r AS DECIMAL(38,6)))
                  OVER (PARTITION BY user_id ORDER BY day
                        ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER (PARTITION BY user_id ORDER BY day
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             * 1000000 + 0.5) / 1000000 AS mean_7
FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)
""",
)
def ts_lag_features(spark, sf_dir):
    """Lag-feature engineering — the bread-and-butter supervised-ML
    prep over a daily series: per user, yesterday's value (lag-1), the
    same weekday last week (lag-7), and the trailing-7-row mean, all
    from ONE window pass sharing one user-keyed sort (lags and the
    framed mean ride the same Window spec). Missing history coalesces
    to 0.0 — the "no activity" semantics a churn feature wants, and it
    keeps the row count equal to the day table (no warm-up trimming).
    Trailing mean numerators sum through DECIMAL; everything else is
    exact reindexing."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "user_id").agg(dsum(F.col("value")).alias("r"))
    w = Window.partitionBy("user_id").orderBy("day")
    wf = w.rowsBetween(-6, Window.currentRow)
    return daily.select(
        "user_id",
        "day",
        qround(F.col("r")).alias("r"),
        qround(F.coalesce(F.lag("r", 1).over(w), F.lit(0.0))).alias("lag_1"),
        qround(F.coalesce(F.lag("r", 7).over(w), F.lit(0.0))).alias("lag_7"),
        qround(
            F.sum(F.col("r").cast("decimal(38,6)")).over(wf).cast("double")
            / F.count(F.lit(1)).over(wf)
        ).alias("mean_7"),
    )


@register(
    "ts_cusum",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
), stats AS (
    SELECT event_type,
           FLOOR(CAST(SUM(n) AS DOUBLE) / COUNT(*) * 1000000000 + 0.5)
               / 1000000000 AS mu,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily GROUP BY 1
), cum AS (
    SELECT d.event_type, d.day, s.n_days,
           FLOOR((SUM(d.n) OVER (PARTITION BY d.event_type ORDER BY d.day)
                  - ROW_NUMBER() OVER (PARTITION BY d.event_type ORDER BY d.day) * s.mu)
                 * 1000000 + 0.5) / 1000000 AS s_t
    FROM daily d JOIN stats s USING (event_type)
)
SELECT event_type, n_days,
       MAX(ABS(s_t)) AS cusum_max,
       MIN(day) FILTER (WHERE ABS(s_t) = mx) AS changepoint_day
FROM (SELECT *, MAX(ABS(s_t)) OVER (PARTITION BY event_type) AS mx FROM cum)
GROUP BY 1, 2
""",
)
def ts_cusum(spark, sf_dir):
    """CUSUM mean-shift detection on per-type daily volumes — the
    monitoring primitive for "did this event stream change level":
    S_t = Σ_{j≤t}(x_j − μ) peaks at the most likely changepoint. The
    cumulative ride is prefix_sum(x) − t·μ over INTEGER daily counts
    (one aggregate + one per-type window over ~days rows), with μ
    quantized once at 1e-9 and each S_t at 1e-6 so the argmax is
    cross-engine stable; ties break to the earliest day. O(types)
    output regardless of event volume."""
    # The daily rollup (the only event-scale pass) feeds both the μ
    # aggregate and the cumulative window — materialize it once
    # (duplicate-scan sweep discipline; it is bounded at types×days).
    daily = ckpt(
        by_day(t(spark, sf_dir, "events"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = daily.groupBy("event_type").agg(
        qround(F.sum("n").cast("double") / F.count(F.lit(1)), 9).alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    wc = Window.partitionBy("event_type").orderBy("day")
    cum = (
        daily.join(stats, "event_type")
        .select(
            "event_type",
            "day",
            "n_days",
            qround(
                F.sum("n").over(wc) - F.row_number().over(wc) * F.col("mu")
            ).alias("s_t"),
        )
    )
    wm = Window.partitionBy("event_type")
    flagged = cum.withColumn("mx", F.max(F.abs("s_t")).over(wm))
    return flagged.groupBy("event_type", "n_days").agg(
        F.max(F.abs("s_t")).alias("cusum_max"),
        F.min(F.when(F.abs("s_t") == F.col("mx"), F.col("day"))).alias(
            "changepoint_day"
        ),
    )


@register(
    "ts_theta_forecast",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
), idx AS (
    SELECT event_type, n,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS tix,
           COUNT(*) OVER (PARTITION BY event_type) AS tn
    FROM daily
), ses AS (
    SELECT event_type, tn,
           SUM(CASE WHEN tix = 1 THEN power(0.5, tn - 1) * n
                    ELSE 0.5 * power(0.5, tn - tix) * n END) AS level,
           CAST(SUM(tix) AS DOUBLE) AS st, CAST(SUM(n) AS DOUBLE) AS sx,
           CAST(SUM(tix * n) AS DOUBLE) AS stx,
           CAST(SUM(tix * tix) AS DOUBLE) AS stt
    FROM idx GROUP BY 1, 2
), fit AS (
    SELECT event_type, CAST(tn AS BIGINT) AS n_days, level,
           FLOOR((tn * stx - st * sx) / (tn * stt - st * st)
                 * 1000000000 + 0.5) / 1000000000 AS slope,
           st, sx, tn
    FROM ses
)
SELECT event_type, n_days,
       FLOOR(level * 1000000 + 0.5) / 1000000 AS ses_level,
       slope AS trend_slope,
       FLOOR((0.5 * level
              + 0.5 * ((sx - slope * st) / tn + slope * (tn + 1)))
             * 1000000 + 0.5) / 1000000 AS forecast_next
FROM fit
""",
)
def ts_theta_forecast(spark, sf_dir):
    """Theta-method one-step forecast of per-type daily volume — the
    M3-winning combination of an SES level and a linear trend, averaged.
    The SES recursion is CLOSED-FORM here: with α = ½, s_T = Σ α(1−α)^{T−j}x_j
    (+ the x_1 boundary term) and every power of ½ is an exact dyadic
    double, so a single weighted window-free aggregate replaces the
    iteration — both engines sum identical binary rationals, no
    quantization needed until output. The trend leg is OLS-on-index from
    integer power sums (slope quantized 1e-9). One daily aggregate + one
    per-type aggregate: O(types) rows out."""
    daily = (
        by_day(t(spark, sf_dir, "events"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    wp = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "n",
        F.row_number().over(wt).alias("tix"),
        F.count(F.lit(1)).over(wp).alias("tn"),
    )
    ses_term = F.when(
        F.col("tix") == 1, F.pow(F.lit(0.5), F.col("tn") - 1) * F.col("n")
    ).otherwise(F.lit(0.5) * F.pow(F.lit(0.5), F.col("tn") - F.col("tix")) * F.col("n"))
    agg = idx.groupBy("event_type", "tn").agg(
        F.sum(ses_term).alias("level"),
        F.sum("tix").cast("double").alias("st"),
        F.sum("n").cast("double").alias("sx"),
        F.sum(F.col("tix") * F.col("n")).cast("double").alias("stx"),
        F.sum(F.col("tix") * F.col("tix")).cast("double").alias("stt"),
    )
    slope = qround(
        (F.col("tn") * F.col("stx") - F.col("st") * F.col("sx"))
        / (F.col("tn") * F.col("stt") - F.col("st") * F.col("st")),
        9,
    )
    fit = agg.select(
        "event_type",
        F.col("tn").cast("bigint").alias("n_days"),
        "level",
        slope.alias("trend_slope"),
        "st",
        "sx",
        "tn",
    )
    intercept = (F.col("sx") - F.col("trend_slope") * F.col("st")) / F.col("tn")
    return fit.select(
        "event_type",
        "n_days",
        qround(F.col("level")).alias("ses_level"),
        "trend_slope",
        qround(
            F.lit(0.5) * F.col("level")
            + F.lit(0.5) * (intercept + F.col("trend_slope") * (F.col("tn") + 1))
        ).alias("forecast_next"),
    )


@register(
    "ts_sax",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
), idx AS (
    SELECT event_type, n,
           (ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) - 1) // 5 AS seg
    FROM daily
), stats AS (
    SELECT event_type,
           FLOOR(CAST(SUM(n) AS DOUBLE) / COUNT(*) * 1000000000 + 0.5)
               / 1000000000 AS mu,
           FLOOR(sqrt(FLOOR((CAST(SUM(n * n) AS DOUBLE) / COUNT(*)
                  - (CAST(SUM(n) AS DOUBLE) / COUNT(*))
                    * (CAST(SUM(n) AS DOUBLE) / COUNT(*)))
                 * 1000000000 + 0.5) / 1000000000)
               * 1000000000 + 0.5) / 1000000000 AS sigma,
           CAST(COUNT(*) AS BIGINT) AS n_days
    FROM daily GROUP BY 1
), paa AS (
    SELECT i.event_type, i.seg, s.n_days,
           FLOOR((CAST(SUM(i.n) AS DOUBLE) / COUNT(*) - s.mu) / s.sigma
                 * 1000000 + 0.5) / 1000000 AS z
    FROM idx i JOIN stats s USING (event_type)
    GROUP BY 1, 2, 3, s.mu, s.sigma
), sym AS (
    SELECT event_type, seg, n_days,
           CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b'
                WHEN z < 0.6745 THEN 'c' ELSE 'd' END AS letter
    FROM paa
)
SELECT event_type, n_days, string_agg(letter, '' ORDER BY seg) AS sax_word
FROM sym GROUP BY 1, 2
""",
)
def ts_sax(spark, sf_dir):
    """SAX symbolization of per-type daily volume — z-normalize, piecewise
    aggregate into 5-day segments, map segment means to a 4-letter
    alphabet at the N(0,1) quartile breakpoints (±0.6745, 0). The
    standard motif/novelty alphabet for time-series mining, produced
    with two bounded aggregates and one per-type string fold — no
    per-event work after the daily rollup. Cross-engine: μ and σ are
    quantized at 1e-9 (IEEE sqrt is correctly rounded, so identical on
    both engines), each PAA z at 1e-6, and the letter comparison uses
    half-open intervals so a boundary value maps identically."""
    # Materialized once: the daily rollup feeds both the μ/σ aggregate
    # and the PAA branch (duplicate-scan sweep discipline).
    daily = ckpt(
        by_day(t(spark, sf_dir, "events"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    wt = Window.partitionBy("event_type").orderBy("day")
    idx = daily.select(
        "event_type",
        "n",
        # floor-div on both sides: DuckDB CAST(double AS BIGINT) rounds
        # half-even while Spark's cast truncates, so a plain /5-then-cast
        # shifts every segment boundary differently per engine.
        F.floor((F.row_number().over(wt) - 1) / 5).cast("bigint").alias("seg"),
    )
    mu = qround(F.sum("n").cast("double") / F.count(F.lit(1)), 9)
    var = qround(
        F.sum(F.col("n") * F.col("n")).cast("double") / F.count(F.lit(1))
        - (F.sum("n").cast("double") / F.count(F.lit(1)))
        * (F.sum("n").cast("double") / F.count(F.lit(1))),
        9,
    )
    stats = daily.groupBy("event_type").agg(
        mu.alias("mu"),
        qround(F.sqrt(var), 9).alias("sigma"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    paa = (
        idx.join(stats, "event_type")
        .groupBy("event_type", "seg", "n_days", "mu", "sigma")
        .agg(
            qround(
                (F.sum("n").cast("double") / F.count(F.lit(1)) - F.first("mu"))
                / F.first("sigma")
            ).alias("z")
        )
    )
    letter = (
        F.when(F.col("z") < -0.6745, "a")
        .when(F.col("z") < 0, "b")
        .when(F.col("z") < 0.6745, "c")
        .otherwise("d")
    )
    return (
        paa.select("event_type", "seg", "n_days", letter.alias("letter"))
        .groupBy("event_type", "n_days")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg", "letter"))),
                    lambda s: s["letter"],
                ),
                "",
            ).alias("sax_word")
        )
    )


@register(
    "ts_gap_stats",
    oracle="""
WITH gaps AS (
    SELECT event_type,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY event_type
                                                  ORDER BY ts, event_id) AS gap_us
    FROM events
)
SELECT event_type,
       CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
       CAST(FLOOR(quantile_cont(gap_us, 0.5)) AS BIGINT) AS p50_us,
       CAST(FLOOR(quantile_cont(gap_us, 0.9)) AS BIGINT) AS p90_us,
       CAST(MAX(gap_us) AS BIGINT) AS max_us
FROM gaps GROUP BY 1
""",
)
def ts_gap_stats(spark, sf_dir):
    """Inter-arrival-time profile per stream — the p50/p90/max gap
    distribution that calibrates session timeouts, watermark delays,
    and staleness alerts (dq_freshness's thresholds come from exactly
    this table). Gaps are INTEGER microseconds from one lag window
    (ts + event_id tiebreak, the sessionization ordering), percentiles
    are exact interpolated values floored to whole µs — identical on
    both engines because the inputs are integers. O(types) out."""
    ev = t(spark, sf_dir, "events")
    gaps = ev.select("event_type", "ts", "event_id").withColumn(
        "gap_us",
        F.expr(
            "timestampdiff(MICROSECOND, "
            "lag(ts) over (partition by event_type order by ts, event_id), ts)"
        ),
    )
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").cast("bigint").alias("n_gaps"),
        F.floor(F.expr("percentile(gap_us, 0.5)")).cast("bigint").alias("p50_us"),
        F.floor(F.expr("percentile(gap_us, 0.9)")).cast("bigint").alias("p90_us"),
        F.max("gap_us").cast("bigint").alias("max_us"),
    )


@register(
    "ts_max_drawdown",
    oracle="""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS rev
    FROM events WHERE event_type = 'purchase' GROUP BY 1
), eq AS (
    SELECT day, SUM(rev) OVER (ORDER BY day) AS equity FROM daily
), cum AS (
    SELECT day, equity, MAX(equity) OVER (ORDER BY day) AS peak FROM eq
)
SELECT day,
       ROUND(CAST(equity AS DOUBLE), 6) AS equity,
       ROUND(CAST(peak AS DOUBLE), 6) AS peak,
       ROUND(CAST(peak - equity AS DOUBLE), 6) AS drawdown,
       ROUND(CAST(MAX(peak - equity) OVER (ORDER BY day) AS DOUBLE), 6) AS max_drawdown
FROM cum
""",
)
def ts_max_drawdown(spark, sf_dir):
    """Running peak-to-trough drawdown of cumulative purchase revenue —
    the risk-curve readout (largest dip below the best day so far).
    Every sum runs in DECIMAL(38,6), so the cumulative equity, the
    running peak, the per-day drawdown, and the running max drawdown
    are EXACT on both engines (no quantization games needed — one
    round to 6dp only at the output boundary). Three stacked windows
    over the ~days table, all sharing one sort; the event-scale work is
    a single filtered daily rollup."""
    daily = (
        by_day(t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase"))
        .agg(F.sum(F.col("value").cast("decimal(38,6)")).alias("rev"))
    )
    w = Window.orderBy("day")
    cum = daily.select(
        "day",
        F.sum("rev").over(w).alias("equity"),
    ).withColumn("peak", F.max("equity").over(w))
    return cum.select(
        "day",
        F.round(F.col("equity").cast("double"), 6).alias("equity"),
        F.round(F.col("peak").cast("double"), 6).alias("peak"),
        F.round((F.col("peak") - F.col("equity")).cast("double"), 6).alias("drawdown"),
        F.round(
            F.max(F.col("peak") - F.col("equity")).over(w).cast("double"), 6
        ).alias("max_drawdown"),
    )


@register(
    "ts_sessions_per_user",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS gap_us
    FROM events
), flagged AS (
    SELECT user_id,
           CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
    FROM ordered
), per_user AS (
    SELECT user_id, CAST(SUM(new_session) AS BIGINT) AS n_sessions FROM flagged GROUP BY 1
)
SELECT n_sessions, CAST(COUNT(*) AS BIGINT) AS n_users
FROM per_user GROUP BY 1
""",
)
def ts_sessions_per_user(spark, sf_dir):
    """Sessions-per-user distribution — the engagement-depth histogram
    (how many 30-minute sessions does a user run up). Same
    gaps-and-islands session start flags as ts_session (one user-keyed
    window), then two bounded aggregates; output is O(max sessions)
    rows at any scale. The left tail of this histogram IS the churn
    population the reference modeled."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) over (partition by user_id order by ts, event_id), ts)"
    )
    flagged = ev.select(
        "user_id",
        F.when(gap.isNull() | (gap >= 1800000000), 1).otherwise(0).alias("new_session"),
    )
    per_user = flagged.groupBy("user_id").agg(
        F.sum("new_session").cast("bigint").alias("n_sessions")
    )
    return per_user.groupBy("n_sessions").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


@register(
    "ts_days_to_return",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                                  ORDER BY ts, event_id) AS gap_us
    FROM events
), rebounds AS (
    SELECT CAST(gap_us // 86400000000 AS BIGINT) AS days_gap
    FROM ordered
    WHERE gap_us >= 1800000000
)
SELECT days_gap, CAST(COUNT(*) AS BIGINT) AS n_returns
FROM rebounds GROUP BY 1
""",
)
def ts_days_to_return(spark, sf_dir):
    """Days-to-return histogram — the inter-SESSION gap distribution
    (every gap that started a new 30-minute session, floored to whole
    days). The curve a retention team reads to set win-back timing and
    the churn-label cutoff itself (the reference's threshold is a point
    on this curve). Integer µs gaps from one user-keyed window, floor-
    divided to days — exact on both engines; O(max days) rows out."""
    ev = t(spark, sf_dir, "events")
    gap = F.expr(
        "timestampdiff(MICROSECOND, lag(ts) over (partition by user_id order by ts, event_id), ts)"
    )
    gaps = ev.select(gap.alias("gap_us")).filter(F.col("gap_us") >= 1800000000)
    return (
        gaps.select(F.floor(F.col("gap_us") / F.lit(86400000000)).cast("bigint").alias("days_gap"))
        .groupBy("days_gap")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_returns"))
    )


@register(
    "ts_attribution_linear",
    oracle="""
WITH purchases AS (
  SELECT user_id, event_id AS purchase_id, ts AS p_ts
  FROM events WHERE event_type = 'purchase'
), clicks AS (
  SELECT user_id, event_id AS click_id, ts AS c_ts
  FROM events WHERE event_type = 'click'
), touches AS (
  SELECT p.purchase_id, c.click_id
  FROM purchases p JOIN clicks c
    ON c.user_id = p.user_id
   AND c.c_ts <= p.p_ts AND c.c_ts >= p.p_ts - INTERVAL 7 DAY
), sized AS (
  SELECT purchase_id, click_id,
         COUNT(*) OVER (PARTITION BY purchase_id) AS n_touch
  FROM touches
)
SELECT click_id,
       CAST(COUNT(*) AS BIGINT) AS n_conversions,
       FLOOR(CAST(SUM(CAST(FLOOR(1000000000.0 / n_touch + 0.5) / 1000000000
                           AS DECIMAL(38,12))) AS DOUBLE) * 1000000 + 0.5)
           / 1000000 AS credit
FROM sized GROUP BY click_id
""",
)
def ts_attribution_linear(spark, sf_dir):
    """Linear multi-touch attribution — each purchase's credit split
    equally (1/n) across every click in its 7-day lookback; output is
    per-CLICK earned credit, the marketing ROI table first/last-touch
    models systematically distort. Same user-keyed band join as
    first-touch, one per-purchase window for n, per-touch shares
    quantized at 1e-9 and DECIMAL-summed per click (order-independent),
    credit at 1e-6."""
    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), F.col("ts").alias("p_ts")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("c_ts"),
    )
    touches = purchases.join(
        clicks,
        (F.col("c_user") == F.col("user_id"))
        & (F.col("c_ts") <= F.col("p_ts"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 7 DAY")),
    ).select("purchase_id", "click_id")
    wp = Window.partitionBy("purchase_id")
    sized = touches.withColumn("n_touch", F.count(F.lit(1)).over(wp))
    return (
        sized.select("click_id", qround(F.lit(1.0) / F.col("n_touch"), 9).alias("share"))
        .groupBy("click_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
            qround(dsum(F.col("share"), 12)).alias(
                "credit"
            ),
        )
    )


@register(
    "ts_rank_mobility",
    oracle="""
WITH halves AS (
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE ts < TIMESTAMP '2024-01-16 00:00:00') AS BIGINT) AS n1,
           CAST(COUNT(*) FILTER (WHERE ts >= TIMESTAMP '2024-01-16 00:00:00') AS BIGINT) AS n2
    FROM events GROUP BY 1
), ranked AS (
    SELECT user_id,
           NTILE(5) OVER (ORDER BY n1 DESC, user_id) AS q1,
           NTILE(5) OVER (ORDER BY n2 DESC, user_id) AS q2
    FROM halves
)
SELECT q1, q2, CAST(COUNT(*) AS BIGINT) AS n_users,
       FLOOR(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY q1) * 1000000 + 0.5)
           / 1000000 AS row_share
FROM ranked GROUP BY 1, 2
""",
)
def ts_rank_mobility(spark, sf_dir):
    """Engagement-rank mobility matrix — users bucketed into activity
    quintiles in each half of the window, crossed into a transition
    matrix (how sticky is heavy usage?). The diagonal is retention of
    rank; mass below it is decay — the segment-level churn signal
    BEFORE anyone fully lapses. Deterministic NTILE (count-desc,
    user_id tiebreak) on both engines; one user aggregate + two
    windows over the user table + one bounded cell aggregate."""
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp_ntz")
    halves = (
        t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum((F.col("ts") < cut).cast("long")).cast("bigint").alias("n1"),
            F.sum((F.col("ts") >= cut).cast("long")).cast("bigint").alias("n2"),
        )
    )
    w1 = Window.orderBy(F.desc("n1"), F.asc("user_id"))
    w2 = Window.orderBy(F.desc("n2"), F.asc("user_id"))
    ranked = halves.select(
        F.ntile(5).over(w1).alias("q1"), F.ntile(5).over(w2).alias("q2")
    )
    cells = ranked.groupBy("q1", "q2").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    wr = Window.partitionBy("q1")
    return cells.select(
        "q1", "q2", "n_users",
        qround(F.col("n_users") / F.sum("n_users").over(wr)).alias("row_share"),
    )


@register(
    "ts_hurst_rs",
    oracle="""
WITH daily AS (
    SELECT date_trunc('day', ts) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
    FROM events GROUP BY 1
), series AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY d) - 1 AS rn FROM daily
), sizes AS (SELECT unnest([4, 8, 16]) AS n),
chunks AS (
    SELECT s.n, rn // s.n AS chunk, rn, v FROM series, sizes s
), full_chunks AS (
    SELECT n, chunk FROM chunks GROUP BY n, chunk HAVING COUNT(*) = n
), dev AS (
    SELECT c.n, c.chunk, c.rn,
           CAST(FLOOR((c.v - m.mean_v) * 1000000 + 0.5) AS DECIMAL(38,6)) / 1000000
               AS dq
    FROM chunks c
    JOIN full_chunks f ON c.n = f.n AND c.chunk = f.chunk
    JOIN (
        SELECT n, chunk,
               CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / n AS mean_v
        FROM chunks GROUP BY n, chunk
    ) m ON c.n = m.n AND c.chunk = m.chunk
), cum AS (
    SELECT n, chunk,
           SUM(dq) OVER (PARTITION BY n, chunk ORDER BY rn
                         ROWS UNBOUNDED PRECEDING) AS cd
    FROM dev
), rng AS (
    SELECT n, chunk, CAST(MAX(cd) - MIN(cd) AS DOUBLE) AS r
    FROM cum GROUP BY n, chunk
), avg_r AS (
    SELECT n, CAST(SUM(CAST(r AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS ar
    FROM rng GROUP BY n
), pts AS (
    SELECT n, ar, log2(CAST(n AS DOUBLE)) AS x, log2(ar) AS y FROM avg_r
), ctr AS (
    SELECT CAST(SUM(CAST(FLOOR(x * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 / COUNT(*) AS ax,
           CAST(SUM(CAST(FLOOR(y * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 / COUNT(*) AS ay
    FROM pts
), fit AS (
    SELECT CAST(SUM(CAST(FLOOR((x - ax) * (y - ay) * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE)
           / CAST(SUM(CAST(FLOOR((x - ax) * (x - ax) * 1e12 + 0.5) AS DECIMAL(38,12)))
                  AS DOUBLE) AS slope
    FROM pts, ctr
)
SELECT n, ROUND(ar, 6) AS avg_range, ROUND(slope, 6) AS hurst
FROM pts, fit
""",
)
def ts_hurst_rs(spark, sf_dir):
    """Hurst exponent by rescaled-range (R-statistic) analysis — the
    classic long-range-dependence probe for traffic series: chunk the
    daily-total series at sizes 4/8/16, take the range of cumulative
    mean-deviations per chunk, and regress log2(avg range) on
    log2(chunk size); slope ≈ H (H > 0.5 = persistent load, the thing
    capacity planning needs to know). Cross-engine float discipline is
    the PageRank recipe: deviations half-up-quantized to 1e-6 into
    DECIMAL, the running sum done IN decimal (exact — DuckDB's
    segment-tree window re-association can't bite), ranges and their
    averages re-summed through decimal; the final log/least-squares
    slope is a deterministic function of bit-identical inputs. Scale
    shape: one day-grain shuffle over the fact table, then everything
    runs on the tiny daily summary — chunking is a projection, the
    window partitions by (n, chunk)."""
    e = t(spark, sf_dir, "events")
    daily = by_day(e).agg(dsum(F.col("value")).alias("v"))
    series = daily.select("v", (_day_index() - 1).alias("rn"))
    sizes = spark.range(0, 3).select(
        F.expr("shiftleft(4, cast(id as int))").cast("bigint").alias("n")
    )
    chunks = series.crossJoin(F.broadcast(sizes)).select(
        "n", F.floor(F.col("rn") / F.col("n")).alias("chunk"), "rn", "v"
    )
    # The chunk table feeds full-chunk filtering, per-chunk means, and the
    # deviation join — one eager materialization of the (tiny) summary.
    chunks = ckpt(chunks)
    full = chunks.groupBy("n", "chunk").agg(F.count(F.lit(1)).alias("cnt")).filter(
        F.col("cnt") == F.col("n")
    ).select("n", "chunk")
    means = chunks.groupBy("n", "chunk").agg(
        (dsum(F.col("v")) / F.first("n")).alias("mean_v")
    )
    dev = (
        chunks.join(full, ["n", "chunk"])
        .join(means, ["n", "chunk"])
        .select(
            "n",
            "chunk",
            "rn",
            (
                F.floor((F.col("v") - F.col("mean_v")) * 1000000 + F.lit(0.5)).cast(
                    "decimal(38,6)"
                )
                / 1000000
            ).alias("dq"),
        )
    )
    wcum = Window.partitionBy("n", "chunk").orderBy("rn").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = dev.select("n", "chunk", F.sum("dq").over(wcum).alias("cd"))
    rng = cum.groupBy("n", "chunk").agg(
        (F.max("cd") - F.min("cd")).cast("double").alias("r")
    )
    avg_r = rng.groupBy("n").agg((dsum(F.col("r")) / F.count(F.lit(1))).alias("ar"))
    pts = ckpt(avg_r.select(
        "n", "ar", F.log2(F.col("n").cast("double")).alias("x"), F.log2("ar").alias("y")
    ))
    # Quantize-into-decimal for the centering means AND the slope sums —
    # a raw double SUM over the pts rows is engine-order-dependent
    # (review catch: the only place this op skipped the discipline).
    fit = (
        with_stats(
            pts,
            (qsum(F.col("x"), 12) / F.count(F.lit(1))).alias("ax"),
            (qsum(F.col("y"), 12) / F.count(F.lit(1))).alias("ay"),
        )
        .agg(
            (
                F.sum(qdec((F.col("x") - F.col("ax")) * (F.col("y") - F.col("ay")), 12))
                .cast("double")
                / F.sum(qdec((F.col("x") - F.col("ax")) * (F.col("x") - F.col("ax")), 12))
                .cast("double")
            ).alias("slope")
        )
    )
    return pts.crossJoin(F.broadcast(fit)).select(
        "n",
        F.round("ar", 6).alias("avg_range"),
        F.round("slope", 6).alias("hurst"),
    )


@register(
    "ts_cadence_break",
    oracle="""
WITH gaps AS (
    SELECT user_id,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS gap_us,
           ts, event_id
    FROM events
), stats AS (
    SELECT user_id,
           quantile_cont(gap_us, 0.5) AS med_gap,
           COUNT(gap_us) AS n_gaps,
           MAX(ts) AS last_ts
    FROM gaps GROUP BY user_id
), horizon AS (SELECT MAX(last_ts) AS h FROM stats)
SELECT s.user_id,
       CAST(s.n_gaps AS BIGINT) AS n_gaps,
       CAST(s.med_gap AS DOUBLE) AS med_gap_us,
       CAST(epoch_us(horizon.h) - epoch_us(s.last_ts) AS BIGINT) AS silence_us,
       (epoch_us(horizon.h) - epoch_us(s.last_ts)) > 3 * s.med_gap AS cadence_broken
FROM stats s, horizon
WHERE s.n_gaps >= 3
""",
)
def ts_cadence_break(spark, sf_dir):
    """Cadence-break churn signal — the behavioral definition of 'gone':
    not a fixed inactivity window but EACH USER'S OWN rhythm. Per user,
    the median inter-event gap (exact quantile over their gaps) is the
    personal cadence; a current silence (corpus horizon minus last
    event) longer than 3x that cadence flags the user as broken — the
    heavy-weekly user and the once-a-month user get correct, different
    thresholds. One user-keyed window pass for the gaps, one groupBy
    for the per-user stats, one broadcast horizon scalar; all integer
    microsecond arithmetic except the exact-median interpolation, which
    both engines compute identically. Low-signal users (< 3 gaps) are
    excluded — their median is noise. The per-user state is a handful
    of scalars: at 100 TB this is the sessionize-shaped shuffle every
    churn pipeline already pays."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = e.select(
        "user_id",
        "ts",
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) over "
            "(partition by user_id order by ts, event_id), ts)"
        ).alias("gap_us"),
    )
    stats = ckpt(gaps.groupBy("user_id").agg(
        F.expr("percentile(gap_us, 0.5D)").alias("med_gap"),
        F.count("gap_us").alias("n_gaps"),
        F.max("ts").alias("last_ts"),
    ))  # feeds the horizon scalar AND the readout
    # Corpus horizon = max over the per-user maxima — an aggregate of the
    # (small) stats table, NOT a second scan of the fact table
    # (duplicate-scan sweep, late round 6).
    horizon = stats.agg(F.max("last_ts").alias("h"))
    silence = F.expr("timestampdiff(MICROSECOND, last_ts, h)")
    return (
        stats.filter(F.col("n_gaps") >= 3)
        .crossJoin(F.broadcast(horizon))
        .select(
            "user_id",
            F.col("n_gaps").cast("bigint").alias("n_gaps"),
            F.col("med_gap").cast("double").alias("med_gap_us"),
            silence.cast("bigint").alias("silence_us"),
            (silence > 3 * F.col("med_gap")).alias("cadence_broken"),
        )
    )


@register(
    "ts_haar_energy",
    oracle="""
WITH daily AS (
    SELECT date_trunc('day', ts) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
    FROM events GROUP BY 1
), series AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY d) - 1 AS rn FROM daily
    QUALIFY rn < 24
), l1 AS (
    SELECT rn // 2 AS rn,
           (MAX(CASE WHEN rn % 2 = 0 THEN v END) + MAX(CASE WHEN rn % 2 = 1 THEN v END)) / 2 AS a,
           (MAX(CASE WHEN rn % 2 = 0 THEN v END) - MAX(CASE WHEN rn % 2 = 1 THEN v END)) / 2 AS dd
    FROM series GROUP BY 1 HAVING COUNT(*) = 2
), l2 AS (
    SELECT rn // 2 AS rn,
           (MAX(CASE WHEN rn % 2 = 0 THEN a END) + MAX(CASE WHEN rn % 2 = 1 THEN a END)) / 2 AS a,
           (MAX(CASE WHEN rn % 2 = 0 THEN a END) - MAX(CASE WHEN rn % 2 = 1 THEN a END)) / 2 AS dd
    FROM l1 GROUP BY 1 HAVING COUNT(*) = 2
), l3 AS (
    SELECT rn // 2 AS rn,
           (MAX(CASE WHEN rn % 2 = 0 THEN a END) + MAX(CASE WHEN rn % 2 = 1 THEN a END)) / 2 AS a,
           (MAX(CASE WHEN rn % 2 = 0 THEN a END) - MAX(CASE WHEN rn % 2 = 1 THEN a END)) / 2 AS dd
    FROM l2 GROUP BY 1 HAVING COUNT(*) = 2
), en AS (
    SELECT 1 AS level, CAST(SUM(CAST(FLOOR(dd * dd * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS energy,
           CAST(COUNT(*) AS BIGINT) AS n_coeffs FROM l1
    UNION ALL
    SELECT 2, CAST(SUM(CAST(FLOOR(dd * dd * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6, CAST(COUNT(*) AS BIGINT) FROM l2
    UNION ALL
    SELECT 3, CAST(SUM(CAST(FLOOR(dd * dd * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6, CAST(COUNT(*) AS BIGINT) FROM l3
)
SELECT level, ROUND(energy, 6) AS energy, n_coeffs FROM en
""",
)
def ts_haar_energy(spark, sf_dir):
    """Haar wavelet energy decomposition of the daily-traffic series —
    the multi-resolution cousin of ts_periodogram: detail energy at
    2/4/8-day scales localizes WHEN variance lives (burst vs weekly
    rhythm vs regime drift), the feature set short-horizon anomaly
    models train on. The transform is 3 unrolled average/difference
    levels over the first 24 days (truncated to the dyadic window),
    each level one pair-keyed aggregate on an already-tiny summary.
    Exactness by construction: daily totals are DECIMAL sums, every
    Haar step is add/subtract + divide-by-two (exact in binary
    floating point — no rounding anywhere in the cascade), and only
    the final squared-coefficient energies are quantized into decimal
    accumulation. One fact-table shuffle; the cascade is free."""
    e = t(spark, sf_dir, "events")
    daily = by_day(e).agg(dsum(F.col("value")).alias("v"))
    series = ckpt(
        daily.select("v", (_day_index() - 1).alias("rn"))
        .filter(F.col("rn") < 24)
    )

    def level(df, col):
        pair = df.groupBy(F.floor(F.col("rn") / 2).alias("rn")).agg(
            F.max(F.when(F.col("rn") % 2 == 0, F.col(col))).alias("x0"),
            F.max(F.when(F.col("rn") % 2 == 1, F.col(col))).alias("x1"),
            F.count(F.lit(1)).alias("cnt"),
        ).filter(F.col("cnt") == 2)
        return ckpt(pair.select(
            "rn",
            ((F.col("x0") + F.col("x1")) / 2).alias("a"),
            ((F.col("x0") - F.col("x1")) / 2).alias("dd"),
        ))

    l1 = level(series, "v")
    l2 = level(l1, "a")
    l3 = level(l2, "a")
    q6sq = lambda c: qdec(c * c)

    def energy(df, lvl):
        return df.agg(
            F.lit(lvl).cast("int").alias("level"),
            (F.sum(q6sq(F.col("dd"))).cast("double") / F.lit(1e6)).alias("energy"),
            F.count(F.lit(1)).cast("bigint").alias("n_coeffs"),
        )

    out = energy(l1, 1).unionByName(energy(l2, 2)).unionByName(energy(l3, 3))
    return out.select("level", F.round("energy", 6).alias("energy"), "n_coeffs")


@register(
    "ts_weekday_anova",
    oracle="""
WITH daily AS (
    SELECT date_trunc('day', ts) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
    FROM events GROUP BY 1
), tagged AS (
    SELECT dayofweek(d) + 1 AS wd, v FROM daily
), grand AS (
    SELECT CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS gm,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM tagged
), grp AS (
    SELECT wd, CAST(SUM(CAST(v AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS m,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM tagged GROUP BY wd
), ssb AS (
    SELECT CAST(SUM(CAST(FLOOR(cnt * (m - gm) * (m - gm) * 1e6 + 0.5)
                         AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS v,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM grp, grand
), ssw AS (
    SELECT CAST(SUM(CAST(FLOOR((t.v - g.m) * (t.v - g.m) * 1e6 + 0.5)
                         AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS v
    FROM tagged t JOIN grp g ON t.wd = g.wd
)
SELECT ROUND((ssb.v / (ssb.k - 1)) / (ssw.v / (grand.n - ssb.k)), 6) AS f_stat,
       CAST(ssb.k - 1 AS BIGINT) AS df_between,
       CAST(grand.n - ssb.k AS BIGINT) AS df_within,
       ROUND(ssb.v / (ssb.v + ssw.v), 6) AS eta_sq
FROM ssb, ssw, grand
""",
)
def ts_weekday_anova(spark, sf_dir):
    """One-way ANOVA for day-of-week effect on daily traffic — the
    statistical yes/no behind every 'is there weekly seasonality'
    judgment call: F = between-weekday variance over within-weekday
    variance, plus η² effect size. Feeds directly into whether
    ts_seasonal_decompose's period-7 model is justified. Numeric
    discipline: daily totals and all group means ride DECIMAL sums
    (means are decimal/int divisions), each squared deviation is
    half-up-quantized to 1e-6 before its decimal accumulation — both
    engines assemble F from bit-identical parts. Weekday numbering is
    the documented dialect seam (DuckDB 0=Sunday vs Spark 1=Sunday).
    One day-grain shuffle; the test itself runs on ≤ 7 group rows."""
    e = t(spark, sf_dir, "events")
    daily = by_day(e).agg(dsum(F.col("value")).alias("v"))
    # feeds grand mean, group means, AND the within-group join
    tagged = ckpt(daily.select(F.dayofweek("day").alias("wd"), "v"))
    grand = tagged.agg(
        (dsum(F.col("v")) / F.count(F.lit(1))).alias("gm"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    grp = ckpt(tagged.groupBy("wd").agg(
        (dsum(F.col("v")) / F.count(F.lit(1))).alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
    ))  # feeds SSB and the SSW join
    ssb = grp.crossJoin(F.broadcast(grand)).agg(
        qsum(F.col("cnt") * (F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))).alias("ssb_v"),
        F.count(F.lit(1)).cast("bigint").alias("k"),
    )
    ssw = (
        tagged.join(grp.select("wd", "m"), "wd")
        .agg(
            qsum((F.col("v") - F.col("m")) * (F.col("v") - F.col("m"))).alias("ssw_v")
        )
    )
    return (
        ssb.crossJoin(F.broadcast(ssw))
        .crossJoin(F.broadcast(grand))
        .select(
            F.round(
                (F.col("ssb_v") / (F.col("k") - 1))
                / (F.col("ssw_v") / (F.col("n") - F.col("k"))),
                6,
            ).alias("f_stat"),
            (F.col("k") - 1).cast("bigint").alias("df_between"),
            (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
            F.round(F.col("ssb_v") / (F.col("ssb_v") + F.col("ssw_v")), 6).alias(
                "eta_sq"
            ),
        )
    )


@register(
    "ts_out_of_order_audit",
    oracle="""
WITH seq AS (
    SELECT user_id, event_id, ts,
           epoch_us(ts)
             + (CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 6)) AS BIGINT)
                % 900) * 1000000 AS arrival_us
    FROM events
), arr AS (
    SELECT user_id, event_id, ts,
           MAX(ts) OVER (PARTITION BY user_id ORDER BY arrival_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS high_water
    FROM seq
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE WHEN ts < high_water THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       CAST(MAX(CASE WHEN ts < high_water
                     THEN epoch_us(high_water) - epoch_us(ts) ELSE 0 END) AS BIGINT)
           AS max_lateness_us
FROM arr GROUP BY user_id
HAVING SUM(CASE WHEN ts < high_water THEN 1 ELSE 0 END) > 0
""",
)
def ts_out_of_order_audit(spark, sf_dir):
    """Out-of-order arrival audit — the measurement that CALIBRATES a
    streaming watermark instead of guessing it: count events whose
    timestamp regresses below the
    user's running high-water mark and the worst observed lateness.
    ts_watermark's 10-minute delay is a config; this op is where that
    number should come from (p100 lateness per user, rolled up).

    The arrival sequence is event time + a deterministic per-event
    collector delay (md5(event_id) % 900 seconds — the network/retry
    jitter a real ingest edge adds): the fixture's event_id order is
    PERFECTLY time-sorted, so auditing it directly returned an empty
    frame at every scale and the lateness math was never exercised
    (r7 zero-row audit). The hash-seeded delay reproduces identically
    on both engines and at every re-run — the same discipline as
    graph_hash_walks' seeded randomness. One
    user-keyed ordered window (running MAX with a 1-row-lagged frame —
    the high-water excludes the current row), one aggregate; integer
    microsecond arithmetic, exact twin. Only users with late data
    surface — at 100 TB the output is the skew report, not the
    corpus."""
    e = t(spark, sf_dir, "events")
    delay_s = (
        F.conv(F.substring(F.md5(F.col("event_id").cast("string")), 1, 6), 16, 10)
        .cast("bigint")
        % 900
    )
    seq = e.select(
        "user_id",
        "event_id",
        "ts",
        (F.unix_micros(F.col("ts").cast("timestamp")) + delay_s * F.lit(1000000)).alias(
            "arrival_us"
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = seq.select(
        "user_id",
        "ts",
        F.max("ts").over(w).alias("high_water"),
    )
    late = F.col("ts") < F.col("high_water")
    return (
        arr.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum(late.cast("long")).cast("bigint").alias("n_late"),
            F.max(
                F.when(
                    late, F.expr("timestampdiff(MICROSECOND, ts, high_water)")
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("max_lateness_us"),
        )
        .filter(F.col("n_late") > 0)
    )


@register(
    "ts_session_adaptive",
    oracle="""
WITH gaps AS (
    SELECT user_id, ts, event_id,
           epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id))
               AS gap_us
    FROM events
), winstats AS (
    SELECT user_id, ts, event_id, gap_us,
           quantile_cont(gap_us, 0.5) OVER (PARTITION BY user_id) AS med_gap,
           COUNT(gap_us) OVER (PARTITION BY user_id) AS n_gaps
    FROM gaps
), cut AS (
    SELECT user_id, ts, event_id,
           CASE WHEN gap_us IS NULL THEN 1
                WHEN gap_us > 3 * med_gap THEN 1 ELSE 0 END AS new_sess
    FROM winstats WHERE n_gaps >= 3
), sess AS (
    SELECT user_id,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS session_id
    FROM cut
), per_sess AS (
    SELECT user_id, session_id, COUNT(*) AS n_events
    FROM sess GROUP BY 1, 2
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(MAX(n_events) AS BIGINT) AS max_session_events,
       CAST(SUM(n_events) AS BIGINT) AS n_events
FROM per_sess GROUP BY user_id
""",
)
def ts_session_adaptive(spark, sf_dir):
    """Adaptive sessionization — the fixed 30-minute gap (ts_session)
    mislabels both the rapid-fire user (one real visit split into
    many) and the slow reader (many visits merged into one). Here the
    session boundary is PERSONAL: a gap > 3× the user's own median
    inter-event gap starts a new session (same cadence statistic as
    ts_cadence_break, now driving segmentation instead of a flag).
    Three passes, ALL partitioned by user_id — gap window, the
    median/count as ANALYTIC windows over the same partitioning (no
    groupBy-and-join-back, which would re-derive the fact-scale gap
    pass), boundary-flag running sum — so the whole operator rides ONE
    user-keyed shuffle and ONE scan. Integer
    microsecond arithmetic + exact median interpolation: exact twin.
    Users with < 3 gaps are excluded (their median is noise)."""
    e = t(spark, sf_dir, "events")
    gaps = e.select(
        "user_id",
        "ts",
        "event_id",
        F.expr(
            "timestampdiff(MICROSECOND, lag(ts) over "
            "(partition by user_id order by ts, event_id), ts)"
        ).alias("gap_us"),
    )
    # Per-user median/count as ANALYTIC windows over the SAME user
    # partitioning as the gap window — one scan, one shuffle, no
    # re-derivation of the gap table and no join (duplicate-scan sweep,
    # late round 6: the groupBy+join form re-ran the fact-scale window
    # pass twice).
    w_part = Window.partitionBy("user_id")
    winstats = gaps.select(
        "user_id",
        "ts",
        "event_id",
        "gap_us",
        F.expr(
            "percentile(gap_us, 0.5D) over (partition by user_id)"
        ).alias("med_gap"),
        F.count("gap_us").over(w_part).alias("n_gaps"),
    )
    cut = winstats.filter(F.col("n_gaps") >= 3).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("gap_us").isNull(), 1)
        .when(F.col("gap_us") > 3 * F.col("med_gap"), 1)
        .otherwise(0)
        .alias("new_sess"),
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    sess = cut.select("user_id", F.sum("new_sess").over(w).alias("session_id"))
    per_sess = sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    return per_sess.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.max("n_events").cast("bigint").alias("max_session_events"),
        F.sum("n_events").cast("bigint").alias("n_events"),
    )


@register(
    "ts_top_paths",
    oracle="""
WITH marks AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id))
                    > 1800000000 OR LAG(ts) OVER
                    (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_sess
    FROM events
), sess AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
    FROM marks
), stepped AS (
    SELECT user_id, sid, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, sid ORDER BY ts, event_id) AS step
    FROM sess
), paths AS (
    SELECT user_id, sid,
           string_agg(event_type, '>' ORDER BY step) AS path
    FROM stepped WHERE step <= 3 GROUP BY user_id, sid
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_sessions
FROM paths GROUP BY path
ORDER BY n_sessions DESC, path ASC LIMIT 15
""",
)
def ts_top_paths(spark, sf_dir):
    """Top session-opening paths — the 'how do visits actually start'
    product-analytics readout (the first 3 steps decide bounce vs
    engage): 30-minute sessionization, each session's ordered first-3
    event types joined into a path string, global top-15 by frequency.
    The ORDERED string_agg is the cross-engine seam this op pins down:
    Spark's collect_list is non-deterministic under shuffle, so the
    path is built from an array_agg over a step-ranked struct sorted
    INSIDE the group (deterministic), matching DuckDB's
    string_agg(... ORDER BY). Sessionize + rank + path-build all ride
    one user-keyed shuffle; the path table collapses to O(distinct
    paths) before the top-k."""
    e = t(spark, sf_dir, "events")
    w_u = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marks = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w_u).isNull()
            | (
                F.expr(
                    "timestampdiff(MICROSECOND, lag(ts) over "
                    "(partition by user_id order by ts, event_id), ts)"
                )
                > 1800000000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_sess"),
    )
    sess = marks.withColumn(
        "sid", F.sum("new_sess").over(w_u.rowsBetween(Window.unboundedPreceding, 0))
    )
    w_s = Window.partitionBy("user_id", "sid").orderBy("ts", "event_id")
    stepped = sess.withColumn("step", F.row_number().over(w_s)).filter(
        F.col("step") <= 3
    )
    paths = (
        stepped.groupBy("user_id", "sid")
        .agg(
            F.array_join(
                F.expr("transform(array_sort(collect_list(struct(step, event_type))), x -> x.event_type)"),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_sessions"))
        .orderBy(F.desc("n_sessions"), F.asc("path"))
        .limit(15)
    )


@register(
    "ts_stickiness",
    oracle="""
WITH user_days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), spine AS (
    SELECT DISTINCT day FROM user_days
), wau_c AS (
    SELECT s.day, ud.user_id
    FROM user_days ud JOIN spine s
      ON s.day >= ud.day AND s.day <= ud.day + INTERVAL 6 DAY
    GROUP BY 1, 2
), mau_c AS (
    SELECT s.day, ud.user_id
    FROM user_days ud JOIN spine s
      ON s.day >= ud.day AND s.day <= ud.day + INTERVAL 29 DAY
    GROUP BY 1, 2
), dau AS (
    SELECT day, COUNT(*) AS dau FROM user_days GROUP BY day
), wau AS (
    SELECT day, COUNT(*) AS wau FROM wau_c GROUP BY day
), mau AS (
    SELECT day, COUNT(*) AS mau FROM mau_c GROUP BY day
)
SELECT d.day, CAST(d.dau AS BIGINT) AS dau, CAST(w.wau AS BIGINT) AS wau,
       CAST(m.mau AS BIGINT) AS mau,
       ROUND(CAST(d.dau AS DOUBLE) / m.mau, 6) AS stickiness
FROM dau d JOIN wau w ON d.day = w.day JOIN mau m ON d.day = m.day
""",
)
def ts_stickiness(spark, sf_dir):
    """DAU/WAU/MAU + stickiness (DAU/MAU) — the engagement dashboard's
    north-star row, and a distinct-count-over-sliding-window problem
    that naive SQL gets quadratically wrong. The scalable form: dedup
    to user-days ONCE, then each user-day CONTRIBUTES to the 7 (WAU) /
    30 (MAU) window-end days it falls in — a bounded explode-style
    interval join followed by a distinct count per day. Fan-out is
    exactly 7×/30× the user-day table (linear), never |days| ×
    |users|; the same shape runs incrementally by only emitting
    contributions for open windows. Pure integers + one exact
    division."""
    e = t(spark, sf_dir, "events")
    # feeds DAU, the spine, and both window contributions
    user_days = ckpt(e.select("user_id", day_of().alias("day")).distinct())
    spine = user_days.select("day").distinct()
    dau = user_days.groupBy("day").agg(F.count(F.lit(1)).alias("dau"))

    def windowed(n_days, name):
        contrib = user_days.select(
            "user_id",
            F.explode(
                F.expr(f"sequence(day, date_add(day, {n_days - 1}), interval 1 day)")
            ).alias("day"),
        ).distinct()
        # Only days that exist in the corpus spine count (the oracle's
        # join against spine) — trailing synthetic days are dropped.
        return (
            contrib.join(spine, "day")
            .groupBy("day")
            .agg(F.count(F.lit(1)).alias(name))
        )

    wau = windowed(7, "wau")
    mau = windowed(30, "mau")
    return (
        dau.join(wau, "day")
        .join(mau, "day")
        .select(
            "day",
            F.col("dau").cast("bigint").alias("dau"),
            F.col("wau").cast("bigint").alias("wau"),
            F.col("mau").cast("bigint").alias("mau"),
            F.round(F.col("dau").cast("double") / F.col("mau"), 6).alias("stickiness"),
        )
    )


@register(
    "ts_growth_accounting",
    oracle="""
WITH user_weeks AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
), firsts AS (
    SELECT user_id, MIN(wk) AS first_wk FROM user_weeks GROUP BY user_id
), tagged AS (
    SELECT uw.user_id, uw.wk, f.first_wk,
           EXISTS (SELECT 1 FROM user_weeks p
                   WHERE p.user_id = uw.user_id
                     AND p.wk = uw.wk - INTERVAL 7 DAY) AS active_prev
    FROM user_weeks uw JOIN firsts f ON uw.user_id = f.user_id
), staged AS (
    SELECT wk,
           CASE WHEN wk = first_wk THEN 'new'
                WHEN active_prev THEN 'retained'
                ELSE 'resurrected' END AS stage
    FROM tagged
)
SELECT wk, stage, CAST(COUNT(*) AS BIGINT) AS n_users
FROM staged GROUP BY wk, stage
""",
)
def ts_growth_accounting(spark, sf_dir):
    """Growth accounting — the weekly active-user ledger every growth
    team audits: each active user-week is exactly one of NEW (first
    week ever), RETAINED (also active the previous week), or
    RESURRECTED (returning after a gap). The churn complement
    (active last week, absent this week) is this table's row-to-row
    difference, so MAU arithmetic reconciles exactly. One dedup to
    user-weeks, first-week via the same user-keyed aggregate, and
    previous-week membership as a LAG comparison over the user's
    ordered weeks (the EXISTS self-probe relationalized as a window —
    no second shuffle). Pure integer/date logic — exact twin."""
    e = t(spark, sf_dir, "events")
    uw = ckpt(e.select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    ).distinct())
    w = Window.partitionBy("user_id").orderBy("wk")
    tagged = uw.select(
        "user_id",
        "wk",
        F.min("wk").over(Window.partitionBy("user_id")).alias("first_wk"),
        F.lag("wk").over(w).alias("prev_wk"),
    )
    stage = (
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(
            F.col("prev_wk") == F.col("wk") - F.expr("INTERVAL 7 DAY"), "retained"
        )
        .otherwise("resurrected")
    )
    return tagged.select("wk", stage.alias("stage")).groupBy("wk", "stage").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


def _markov_stationary_oracle(iters: int = 20) -> str:
    """Unrolled power iteration to the stationary distribution of the
    event-type transition chain — PageRank's decimal discipline on a
    5-state matrix (quantize 1e-12, DECIMAL sums, renormalize)."""
    ctes = [
        """trans AS MATERIALIZED (
    SELECT prev, event_type AS nxt, COUNT(*) AS n
    FROM (SELECT event_type,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events)
    WHERE prev IS NOT NULL GROUP BY 1, 2
), rowsum AS (
    SELECT prev, SUM(n) AS tot FROM trans GROUP BY prev
), p AS MATERIALIZED (
    SELECT t.prev, t.nxt, CAST(t.n AS DOUBLE) / r.tot AS pr
    FROM trans t JOIN rowsum r ON t.prev = r.prev
), states AS (SELECT DISTINCT prev AS s FROM trans),
n_states AS (SELECT COUNT(*) AS k FROM states),
v0 AS (SELECT s, 1.0 / k AS v FROM states, n_states)""",
    ]
    prev = "v0"
    for i in range(1, iters + 1):
        ctes.append(
            f"""r{i} AS MATERIALIZED (
    SELECT p.nxt AS s,
           CAST(SUM(CAST(FLOOR(v.v * p.pr * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
               / 1e12 AS raw
    FROM {prev} v JOIN p ON p.prev = v.s GROUP BY p.nxt
), v{i} AS MATERIALIZED (
    SELECT s, raw / t AS v FROM r{i},
         (SELECT CAST(SUM(CAST(FLOOR(raw * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
              / 1e12 AS t FROM r{i}) n
)"""
        )
        prev = f"v{i}"
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT s AS state, ROUND(v, 6) AS stationary_prob
FROM {prev}
"""


@register("ts_markov_stationary", oracle=_markov_stationary_oracle())
def ts_markov_stationary(spark, sf_dir):
    """Stationary distribution of the behavior chain — where
    ts_markov_transitions' one-step matrix settles if users keep
    behaving: the long-run share of each event type, i.e. the
    equilibrium engagement mix (a rising 'error' stationary mass is an
    incident before the dashboards say so). Power iteration (20
    rounds) over the 5-state transition matrix with the PageRank
    decimal discipline — per-term 1e-12 quantization, DECIMAL sums,
    L1 renormalization per round — so both engines walk bit-identical
    vectors. The ONLY fact-scale work is the transition count (one
    user-keyed window + one aggregate); the iteration itself runs on a
    k×k table, k = event types. Fixed rounds, zero driver scalars."""
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ckpt(  # the k×k matrix feeds rowsum AND p
        e.select("event_type", F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", F.col("event_type").alias("nxt"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    rowsum = trans.groupBy("prev").agg(F.sum("n").alias("tot"))
    p = trans.join(rowsum, "prev").select(
        "prev", "nxt", (F.col("n").cast("double") / F.col("tot")).alias("pr")
    )
    # r13 optimization (guide §1.2 step 1 — fix the distributed
    # algorithm): the 20 rounds used to run as a driver loop of
    # join + aggregate + broadcast + localCheckpoint over a ≤5-row
    # vector — 20 two-exchange Spark jobs plus 20 materializations of
    # sub-kilobyte data, pure scheduling overhead at ANY scale (the
    # k×k matrix is schema-bounded: it never grows with the fact
    # table). The whole recursion now runs as ONE in-JVM higher-order
    # fold over the densified matrix in a single projection: per term
    # floor(v_i·P_ij·1e12+0.5) summed as exact BIGINTs (bit-identical
    # to the former DECIMAL(38,12) sums — both are exact integer
    # arithmetic far below 2^53, cast to the same double), L1
    # renormalized per round. The former join semantics are mirrored
    # EXACTLY by an `alive` mask: a state leaves the vector the round
    # it stops receiving transitions from live states (the old r-join
    # produced no row for it), contributes nothing afterwards, and is
    # absent from the output. Measured at sf0.1 (isolated noop
    # min-of-3): 4.06 s → see OPTIMIZATION_r13.md; the former
    # states.count() driver action is gone too (k = size(states)
    # in-expression). Oracle hash unchanged at sf0.001/0.01/0.1.
    mat = p.agg(F.expr("sort_array(collect_list(struct(prev, nxt, pr)))").alias("m"))
    dense = mat.select(
        "m",
        F.expr("array_sort(array_distinct(transform(m, x -> x.prev)))").alias("states"),
    ).select(
        "states",
        F.expr(
            "transform(states, ps -> transform(states, ns -> "
            # get(): NULL (not ANSI INVALID_ARRAY_INDEX) on a missing
            # (prev,nxt) pair — the fixture's chains happen to be dense,
            # but a sparse matrix must densify to 0, not throw (pinned
            # by test_markov_fold_alive_mask_mirrors_join_dropout).
            "coalesce(get(filter(m, x -> x.prev = ps AND x.nxt = ns), 0).pr, 0d)))"
        ).alias("P"),
    )
    # Per-round recursion, mirroring the former join/agg round:
    #   raw_j    = double(Σ_i alive_i ∧ P_ij≠0 → floor(v_i·P_ij·1e12+.5)) / 1e12
    #   alive'_j = ∃i alive_i ∧ P_ij≠0        (the old r-join row-existence)
    #   t        = double(Σ_j alive'_j → floor(raw_j·1e12+.5)) / 1e12
    #   v'_j     = alive'_j ? raw_j / t : 0
    raw = (
        "transform(sequence(0, size(states)-1), j -> "
        "cast(aggregate(sequence(0, size(states)-1), 0L, (s2, i) -> "
        "s2 + IF(a.alive[i] AND P[i][j] != 0d, "
        "cast(floor(a.v[i] * P[i][j] * 1e12 + 0.5d) as bigint), 0L)) as double) / 1e12)"
    )
    alive2 = (
        "transform(sequence(0, size(states)-1), j -> "
        "exists(sequence(0, size(states)-1), i -> a.alive[i] AND P[i][j] != 0d))"
    )
    tot = (
        f"cast(aggregate(sequence(0, size(states)-1), 0L, (s3, j) -> "
        f"s3 + IF(({alive2})[j], cast(floor(({raw})[j] * 1e12 + 0.5d) as bigint), 0L)) "
        f"as double) / 1e12"
    )
    step = (
        f"named_struct("
        f"'v', transform(sequence(0, size(states)-1), j -> "
        f"IF(({alive2})[j], ({raw})[j] / ({tot}), 0d)), "
        f"'alive', {alive2})"
    )
    fold = (
        f"aggregate(sequence(1, 20), "
        f"named_struct("
        f"'v', transform(states, s -> 1.0d / cast(size(states) as double)), "
        f"'alive', transform(states, s -> true)), "
        f"(a, r) -> {step})"
    )
    # Eager checkpoint of the ONE-row fold result before the explode
    # tail: without it CollapseProject substitutes the (large) fold
    # expression into every struct-field extraction downstream of the
    # explode and the optimizer churns ~7 s of driver time per action
    # on the multiplied tree (measured: optimized plan 3.6 KB → 67.5 KB,
    # action 0.3 s → 7.0 s on a literal matrix). One row, one cheap job.
    fin = ckpt(dense.select("states", F.expr(fold).alias("fin")))
    return (
        fin.select(
            F.expr(
                "filter(arrays_zip(states, fin.v, fin.alive), z -> z.alive)"
            ).alias("zs")
        )
        .select(F.explode("zs").alias("z"))
        .select(
            F.col("z.states").alias("state"),
            F.round(F.col("z.v"), 6).alias("stationary_prob"),
        )
    )


@register(
    "ts_gap_burstiness",
    oracle="""
WITH gaps AS (
    SELECT user_id,
           CAST(epoch_us(ts) - epoch_us(LAG(ts) OVER (PARTITION BY user_id
                ORDER BY ts, event_id)) AS DOUBLE) AS g
    FROM events
), mom AS (
    SELECT user_id, CAST(COUNT(g) AS BIGINT) AS n,
           CAST(SUM(CAST(g AS DECIMAL(38,6))) AS DOUBLE) AS sg,
           CAST(SUM(CAST(FLOOR(g / 1e6 * g / 1e6 * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 AS sgg
    FROM gaps WHERE g IS NOT NULL GROUP BY user_id HAVING COUNT(g) >= 5
), stats AS (
    SELECT user_id, n, sg / n AS mu,
           sqrt(GREATEST((sgg - (sg / 1e6) * (sg / 1e6) / n) / n, 0)) * 1e6 AS sigma
    FROM mom
)
SELECT user_id, n AS n_gaps,
       ROUND((sigma - mu) / (sigma + mu), 6) AS burstiness
FROM stats
""",
)
def ts_gap_burstiness(spark, sf_dir):
    """Goh–Barabási burstiness of each user's inter-event gaps —
    B = (σ−μ)/(σ+μ) ∈ (−1, 1): B → −1 is metronome-regular (bot
    signature), B ≈ 0 Poisson-random, B → +1 bursty human sessions.
    The single number that separates scripted traffic from organic at
    a glance, per user, from one window pass + one moment aggregate
    (population σ via decimal-exact Σg and quantized Σg² — gaps are
    rescaled to seconds inside the square so the 1e-6 quantization
    grain is meaningful against µs² magnitudes). Users with < 5 gaps
    excluded (moments are noise). Same-key shuffles only."""
    e = t(spark, sf_dir, "events")
    gaps = e.select(
        "user_id",
        F.expr(
            "cast(timestampdiff(MICROSECOND, lag(ts) over "
            "(partition by user_id order by ts, event_id), ts) as double)"
        ).alias("g"),
    ).filter(F.col("g").isNotNull())
    mom = gaps.groupBy("user_id").agg(
        F.count("g").cast("bigint").alias("n"),
        dsum(F.col("g")).alias("sg"),
        qsum((F.col("g") / 1e6) * (F.col("g") / 1e6)).alias("sgg"),
    ).filter(F.col("n") >= 5)
    mu = F.col("sg") / F.col("n")
    sigma = (
        F.sqrt(
            F.greatest(
                (F.col("sgg") - (F.col("sg") / 1e6) * (F.col("sg") / 1e6) / F.col("n"))
                / F.col("n"),
                F.lit(0.0),
            )
        )
        * 1e6
    )
    return mom.select(
        "user_id",
        F.col("n").alias("n_gaps"),
        F.round((sigma - mu) / (sigma + mu), 6).alias("burstiness"),
    )


@register(
    "ts_lateness_quantiles",
    oracle="""
WITH arr AS (
    SELECT ts,
           MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS high_water
    FROM events
), late AS (
    SELECT epoch_us(high_water) - epoch_us(ts) AS lateness_us
    FROM arr WHERE ts < high_water
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_late,
       CAST(quantile_cont(lateness_us, 0.5) AS DOUBLE) AS p50_us,
       CAST(quantile_cont(lateness_us, 0.95) AS DOUBLE) AS p95_us,
       CAST(quantile_cont(lateness_us, 0.99) AS DOUBLE) AS p99_us,
       CAST(MAX(lateness_us) AS BIGINT) AS max_us
FROM late
""",
)
def ts_lateness_quantiles(spark, sf_dir):
    """Watermark policy, derived from data — the corpus-wide lateness
    DISTRIBUTION (p50/p95/p99/max of how far events arrive behind
    their user's high-water mark) that turns ts_out_of_order_audit's
    per-user report into the one number a `withWatermark` call needs:
    set the delay at p99 and you quantify exactly what fraction of
    late data the streaming aggregate will drop; set it at max and
    state grows by the measured tail. Exact interpolated quantiles
    over the late subset; one user-keyed ordered window (arrival order
    = event_id) + one global quantile aggregate."""
    e = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = e.select("ts", F.max("ts").over(w).alias("high_water"))
    late = arr.filter(F.col("ts") < F.col("high_water")).select(
        F.expr("timestampdiff(MICROSECOND, ts, high_water)").alias("lateness_us")
    )
    pct = F.expr("percentile(lateness_us, array(0.5D, 0.95D, 0.99D))")
    return late.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_late"),
        pct.alias("pcts"),
        F.max("lateness_us").cast("bigint").alias("max_us"),
    ).select(
        "n_late",
        F.col("pcts")[0].cast("double").alias("p50_us"),
        F.col("pcts")[1].cast("double").alias("p95_us"),
        F.col("pcts")[2].cast("double").alias("p99_us"),
        "max_us",
    )


@register(
    "ts_event_study",
    oracle="""
WITH anchors AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS a_day
    FROM events WHERE event_type = 'signup' GROUP BY user_id
), daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS v
    FROM events GROUP BY 1, 2
), aligned AS (
    SELECT d.user_id, date_diff('day', a.a_day, d.day) AS rel_day, d.v
    FROM daily d JOIN anchors a ON d.user_id = a.user_id
    WHERE date_diff('day', a.a_day, d.day) BETWEEN -7 AND 7
)
SELECT CAST(rel_day AS BIGINT) AS rel_day,
       CAST(COUNT(*) AS BIGINT) AS n_user_days,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(FLOOR(v * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 / COUNT(*), 6) AS mean_value
FROM aligned GROUP BY rel_day
""",
)
def ts_event_study(spark, sf_dir):
    """Event study — align every user's series to their OWN treatment
    date (first signup) and average outcomes by relative day, the
    econometric plot that shows pre-trends and the post-event jump in
    one picture (and the visual pre-check ml_diff_in_diff's
    parallel-trends assumption needs). Calendar time washes out
    staggered adoption; relative time is the only honest x-axis. One
    anchor aggregate broadcast-joined onto the user-day table (same
    user key — one shuffle), a ±7-day window filter bounding the
    output to 15 rows of decimal-exact means."""
    e = t(spark, sf_dir, "events")
    anchors = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day_of()).alias("a_day"))
    )
    daily = by_day(e, "user_id").agg(dsum(F.col("value")).alias("v"))
    aligned = (
        daily.join(anchors, "user_id")
        .select(
            "user_id",
            F.datediff("day", "a_day").alias("rel_day"),
            "v",
        )
        .filter(F.col("rel_day").between(-7, 7))
    )
    return aligned.groupBy(F.col("rel_day").cast("bigint").alias("rel_day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_user_days"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
        F.round(
            qsum(F.col("v")) / F.count(F.lit(1)), 6
        ).alias("mean_value"),
    )


@register(
    "ts_slo_burn_rate",
    oracle="""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS h,
           COUNT(*) AS n,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS errs
    FROM events GROUP BY 1
), windows AS (
    SELECT h, n, errs,
           SUM(n) OVER (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS n6,
           SUM(errs) OVER (ORDER BY h ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS e6
    FROM hourly
), rates AS (
    SELECT h,
           CAST(errs AS DOUBLE) / n / 0.05 AS burn_1h,
           CAST(e6 AS DOUBLE) / n6 / 0.05 AS burn_6h
    FROM windows
)
SELECT h, ROUND(burn_1h, 6) AS burn_1h, ROUND(burn_6h, 6) AS burn_6h,
       burn_1h > 2.0 AND burn_6h > 1.0 AS page
FROM rates
""",
)
def ts_slo_burn_rate(spark, sf_dir):
    """SLO error-budget burn rate with multi-window alerting — the
    Google-SRE-workbook alert that replaced naive threshold paging:
    burn = error_rate / budget (here a 5% error budget), and a page
    fires only when BOTH the fast window (1 h, burn > 2 — it's
    happening now) and the slow window (6 h, burn > 1 — it's
    sustained) agree, killing the flappy-alert failure mode. One
    hour-grain aggregate + one 6-row sliding frame; rates are exact
    int/int ratios so the alert decisions hash identically across
    engines. At 100 TB this runs as the streaming twin of
    ts_stream_sliding with the same frame arithmetic."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "error").cast("long")).alias("errs"),
    )
    w6 = Window.orderBy("h").rowsBetween(-5, 0)
    windows = hourly.select(
        "h",
        "n",
        "errs",
        F.sum("n").over(w6).alias("n6"),
        F.sum("errs").over(w6).alias("e6"),
    )
    burn1 = F.col("errs").cast("double") / F.col("n") / 0.05
    burn6 = F.col("e6").cast("double") / F.col("n6") / 0.05
    return windows.select(
        "h",
        F.round(burn1, 6).alias("burn_1h"),
        F.round(burn6, 6).alias("burn_6h"),
        ((burn1 > 2.0) & (burn6 > 1.0)).alias("page"),
    )


@register(
    "ts_demand_classification",
    oracle="""
WITH daily AS (
    SELECT user_id, CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                         THEN CAST(value AS DECIMAL(38,6)) ELSE 0 END) AS DOUBLE) AS dem
    FROM events GROUP BY 1, 2
), nonzero AS (
    SELECT user_id, day, dem,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS rn
    FROM daily WHERE dem > 0
), intervals AS (
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_demands,
           CAST(date_diff('day', MIN(day), MAX(day)) AS DOUBLE)
               / NULLIF(COUNT(*) - 1, 0) AS adi,
           CAST(SUM(CAST(dem AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS mu,
           CAST(SUM(CAST(FLOOR(dem * dem * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 / COUNT(*) AS m2
    FROM nonzero GROUP BY user_id HAVING COUNT(*) >= 4
), classified AS (
    SELECT user_id, n_demands, adi,
           (m2 - mu * mu) / (mu * mu) AS cv2
    FROM intervals
)
SELECT CASE WHEN adi < 1.32 AND cv2 < 0.49 THEN 'smooth'
            WHEN adi >= 1.32 AND cv2 < 0.49 THEN 'intermittent'
            WHEN adi < 1.32 AND cv2 >= 0.49 THEN 'erratic'
            ELSE 'lumpy' END AS demand_class,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       ROUND(CAST(SUM(CAST(FLOOR(adi * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 / COUNT(*), 6) AS mean_adi
FROM classified GROUP BY 1
""",
)
def ts_demand_classification(spark, sf_dir):
    """Syntetos-Boylan demand classification — the forecasting-method
    ROUTER: per purchaser, average inter-demand interval (ADI) and
    squared coefficient of variation of demand sizes (CV²) place the
    series in the smooth / intermittent / erratic / lumpy quadrant
    (cuts 1.32 / 0.49 from the SB paper), which dictates Croston vs
    SES vs the robust ops — ts_holt_forecast on a lumpy series is a
    category error this table prevents. Moments ride the quantized-
    decimal discipline; ADI is exact date arithmetic over the span.
    Purchasers with < 4 demand days excluded (the taxonomy is
    meaningless there). One user-day aggregate + one user rollup."""
    e = t(spark, sf_dir, "events")
    daily = by_day(e, "user_id").agg(revenue().alias("dem"))
    nz = daily.filter(F.col("dem") > 0)
    intervals = nz.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_demands"),
        (
            F.datediff(F.max("day"), F.min("day")).cast("double")
            / F.nullif((F.count(F.lit(1)) - 1).cast("double"), F.lit(0.0))
        ).alias("adi"),
        (dsum(F.col("dem")) / F.count(F.lit(1))).alias("mu"),
        (
            qsum(F.col("dem") * F.col("dem"))
            / F.count(F.lit(1))
        ).alias("m2"),
    ).filter(F.col("n_demands") >= 4)
    cv2 = (F.col("m2") - F.col("mu") * F.col("mu")) / (F.col("mu") * F.col("mu"))
    classified = intervals.select(
        "adi",
        cv2.alias("cv2"),
    )
    demand_class = (
        F.when((F.col("adi") < 1.32) & (F.col("cv2") < 0.49), "smooth")
        .when((F.col("adi") >= 1.32) & (F.col("cv2") < 0.49), "intermittent")
        .when((F.col("adi") < 1.32) & (F.col("cv2") >= 0.49), "erratic")
        .otherwise("lumpy")
    )
    return classified.groupBy(demand_class.alias("demand_class")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.round(
            qsum(F.col("adi")) / F.count(F.lit(1)),
            6,
        ).alias("mean_adi"),
    )


@register(
    "ts_extreme_value_gumbel",
    oracle="""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS h, COUNT(*) AS n
    FROM events GROUP BY 1
), daily_max AS (
    SELECT CAST(h AS DATE) AS day, CAST(MAX(n) AS DOUBLE) AS mx
    FROM hourly GROUP BY 1
), mom AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           CAST(SUM(CAST(mx AS DECIMAL(38,6))) AS DOUBLE) AS sm,
           CAST(SUM(CAST(FLOOR(mx * mx * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS smm
    FROM daily_max
), fit AS (
    SELECT k, sm / k AS mean_mx,
           sqrt((smm - sm * sm / k) / (k - 1)) AS sd_mx
    FROM mom
), params AS (
    SELECT k, mean_mx, sd_mx,
           sd_mx * 0.7796968012336092 AS beta,
           mean_mx - sd_mx * 0.7796968012336092 * 0.5772156649015329 AS mu
    FROM fit
)
SELECT CAST(k AS BIGINT) AS n_days,
       ROUND(mu, 6) AS gumbel_mu,
       ROUND(beta, 6) AS gumbel_beta,
       ROUND(mu - beta * ln(-ln(0.99)), 6) AS p99_daily_max,
       ROUND(mu - beta * ln(-ln(0.999)), 6) AS p999_daily_max
FROM params
""",
)
def ts_extreme_value_gumbel(spark, sf_dir):
    """Extreme-value (Gumbel) fit of daily peak load — capacity
    planning's actual question is never the mean, it's 'what peak
    should we provision for': block maxima (the busiest hour of each
    day) follow a Gumbel distribution by the Fisher-Tippett theorem,
    and the method-of-moments fit (β = σ√6/π, μ = m − γβ with the
    Euler-Mascheroni constant as a shared literal) yields return
    levels — the 1-in-100-day and 1-in-1000-day peaks — from 30
    observations, EXTRAPOLATING beyond the observed maximum, which no
    empirical quantile can do. Decimal-exact moments; the fit and
    return-level algebra is identical literal arithmetic on both
    engines. Two keyed aggregates; the fit runs on one row."""
    e = t(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    daily_max = by_day(hourly, col="h").agg(F.max("n").cast("double").alias("mx"))
    mom = daily_max.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        dsum(F.col("mx")).alias("sm"),
        qsum(F.col("mx") * F.col("mx")).alias(
            "smm"
        ),
    )
    mean_mx = F.col("sm") / F.col("k")
    sd_mx = F.sqrt((F.col("smm") - F.col("sm") * F.col("sm") / F.col("k")) / (F.col("k") - 1))
    fit = mom.select("k", mean_mx.alias("mean_mx"), sd_mx.alias("sd_mx"))
    beta = F.col("sd_mx") * F.lit(0.7796968012336092)
    mu = F.col("mean_mx") - F.col("sd_mx") * F.lit(0.7796968012336092) * F.lit(
        0.5772156649015329
    )
    params = fit.select("k", mu.alias("mu"), beta.alias("beta"))
    rl = lambda p: F.col("mu") - F.col("beta") * F.log(-F.log(F.lit(p)))
    return params.select(
        F.col("k").alias("n_days"),
        F.round("mu", 6).alias("gumbel_mu"),
        F.round("beta", 6).alias("gumbel_beta"),
        F.round(rl(0.99), 6).alias("p99_daily_max"),
        F.round(rl(0.999), 6).alias("p999_daily_max"),
    )


@register(
    "ts_intervention_its",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS y
  FROM events GROUP BY 1
), idx AS (
  SELECT CAST(datediff('day', MIN(day) OVER (), day) AS DOUBLE) AS tt,
         CAST(y AS DOUBLE) AS y,
         CAST(FLOOR(datediff('day', MIN(day) OVER (), MAX(day) OVER ()) / 2.0)
              AS DOUBLE) AS t0
  FROM daily
), fits AS (
  SELECT MAX(t0) AS t0,
         SUM(CASE WHEN tt <= t0 THEN 1 ELSE 0 END) AS n0,
         SUM(CASE WHEN tt <= t0 THEN tt ELSE 0 END) AS sx0,
         SUM(CASE WHEN tt <= t0 THEN y ELSE 0 END) AS sy0,
         SUM(CASE WHEN tt <= t0 THEN tt * tt ELSE 0 END) AS sxx0,
         SUM(CASE WHEN tt <= t0 THEN tt * y ELSE 0 END) AS sxy0,
         SUM(CASE WHEN tt > t0 THEN 1 ELSE 0 END) AS n1,
         SUM(CASE WHEN tt > t0 THEN tt ELSE 0 END) AS sx1,
         SUM(CASE WHEN tt > t0 THEN y ELSE 0 END) AS sy1,
         SUM(CASE WHEN tt > t0 THEN tt * tt ELSE 0 END) AS sxx1,
         SUM(CASE WHEN tt > t0 THEN tt * y ELSE 0 END) AS sxy1
  FROM idx
), ab AS (
  SELECT t0,
         (n0 * sxy0 - sx0 * sy0) / (n0 * sxx0 - sx0 * sx0) AS b0,
         (sy0 - (n0 * sxy0 - sx0 * sy0) / (n0 * sxx0 - sx0 * sx0) * sx0) / n0 AS a0,
         (n1 * sxy1 - sx1 * sy1) / (n1 * sxx1 - sx1 * sx1) AS b1,
         (sy1 - (n1 * sxy1 - sx1 * sy1) / (n1 * sxx1 - sx1 * sx1) * sx1) / n1 AS a1
  FROM fits
)
SELECT ROUND(b0, 6) AS pre_slope, ROUND(a0, 6) AS pre_intercept,
       ROUND(b1, 6) AS post_slope, ROUND(a1, 6) AS post_intercept,
       ROUND((a1 + b1 * (t0 + 1)) - (a0 + b0 * (t0 + 1)), 6) AS level_change,
       ROUND(b1 - b0, 6) AS slope_change
FROM ab
""",
)
def ts_intervention_its(spark, sf_dir):
    """Interrupted time-series (segmented regression) — the quasi-
    experimental readout for a cutover nobody A/B-tested (pricing
    change, migration, incident): daily volume fit by separate OLS
    lines before and after the intervention point (here the window
    midpoint), reporting the LEVEL jump at the boundary and the SLOPE
    break — the two coefficients an ITS analysis publishes. Distinct
    from ts_event_study (many small aligned windows) and
    ml_diff_in_diff (needs a control group): ITS is the single-series,
    single-cut design. Shape at scale: one day-grain aggregate
    collapses the stream, the global min/max ride a 1-row broadcast,
    and BOTH segment fits come out of a single conditional-sum
    aggregate — no per-segment shuffle, no window over raw events.
    The regression sums are exact-integer until the final divisions,
    so both engines agree bit-for-bit before the 1e-6 round."""
    # day-grain collapse feeds BOTH the limits agg and the indexed join —
    # pin it so the events scan+shuffle runs once (duplicate-scan sweep
    # discipline; the series is ~calendar-days rows)
    daily = ckpt(
        by_day(t(spark, sf_dir, "events"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    idx = with_stats(
        daily,
        F.min("day").alias("d_min"),
        F.floor(F.datediff(F.max("day"), F.min("day")) / 2.0)
        .cast("double")
        .alias("t0"),
    ).select(
        F.datediff("day", "d_min").cast("double").alias("tt"), "y", "t0"
    )
    pre = F.col("tt") <= F.col("t0")
    z = F.lit(0.0)
    fits = idx.agg(
        F.max("t0").alias("t0"),
        F.sum(F.when(pre, 1.0).otherwise(z)).alias("n0"),
        F.sum(F.when(pre, F.col("tt")).otherwise(z)).alias("sx0"),
        F.sum(F.when(pre, F.col("y")).otherwise(z)).alias("sy0"),
        F.sum(F.when(pre, F.col("tt") * F.col("tt")).otherwise(z)).alias("sxx0"),
        F.sum(F.when(pre, F.col("tt") * F.col("y")).otherwise(z)).alias("sxy0"),
        F.sum(F.when(~pre, 1.0).otherwise(z)).alias("n1"),
        F.sum(F.when(~pre, F.col("tt")).otherwise(z)).alias("sx1"),
        F.sum(F.when(~pre, F.col("y")).otherwise(z)).alias("sy1"),
        F.sum(F.when(~pre, F.col("tt") * F.col("tt")).otherwise(z)).alias("sxx1"),
        F.sum(F.when(~pre, F.col("tt") * F.col("y")).otherwise(z)).alias("sxy1"),
    )
    b0 = (F.col("n0") * F.col("sxy0") - F.col("sx0") * F.col("sy0")) / (
        F.col("n0") * F.col("sxx0") - F.col("sx0") * F.col("sx0")
    )
    a0 = (F.col("sy0") - b0 * F.col("sx0")) / F.col("n0")
    b1 = (F.col("n1") * F.col("sxy1") - F.col("sx1") * F.col("sy1")) / (
        F.col("n1") * F.col("sxx1") - F.col("sx1") * F.col("sx1")
    )
    a1 = (F.col("sy1") - b1 * F.col("sx1")) / F.col("n1")
    tb = F.col("t0") + 1
    return fits.select(
        F.round(b0, 6).alias("pre_slope"),
        F.round(a0, 6).alias("pre_intercept"),
        F.round(b1, 6).alias("post_slope"),
        F.round(a1, 6).alias("post_intercept"),
        F.round((a1 + b1 * tb) - (a0 + b0 * tb), 6).alias("level_change"),
        F.round(b1 - b0, 6).alias("slope_change"),
    )


@register(
    "ts_poisson_rate_ratio",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), idx AS (
  SELECT CAST(datediff('day', MIN(day) OVER (), day) AS BIGINT) AS dd, y,
         CAST(FLOOR(datediff('day', MIN(day) OVER (), MAX(day) OVER ()) / 2.0)
              AS BIGINT) AS t0,
         CAST(datediff('day', MIN(day) OVER (), MAX(day) OVER ()) AS BIGINT) AS t_max
  FROM daily
), halves AS (
  SELECT MAX(t0) AS t0, MAX(t_max) AS t_max,
         CAST(SUM(CASE WHEN dd <= t0 THEN y ELSE 0 END) AS BIGINT) AS c_pre,
         CAST(SUM(CASE WHEN dd > t0 THEN y ELSE 0 END) AS BIGINT) AS c_post
  FROM idx
)
SELECT c_pre AS events_pre, c_post AS events_post,
       t0 + 1 AS days_pre, t_max - t0 AS days_post,
       ROUND((CAST(c_post AS DOUBLE) / (t_max - t0))
             / (CAST(c_pre AS DOUBLE) / (t0 + 1)), 6) AS rate_ratio,
       ROUND(ln((CAST(c_post AS DOUBLE) / (t_max - t0))
                / (CAST(c_pre AS DOUBLE) / (t0 + 1)))
             / sqrt(1.0 / c_pre + 1.0 / c_post), 6) AS z_stat
FROM halves
""",
)
def ts_poisson_rate_ratio(spark, sf_dir):
    """Two-period Poisson rate-ratio test — 'did the purchase rate
    actually change between the first and second half of the window?'
    Counts are Poisson-ish, so the test lives on the LOG rate ratio
    with variance 1/c1 + 1/c2 (the delta method on the log of a
    Poisson mean) — the standard epidemiology/SRE incidence
    comparison, and the right tool where agg_welch_ttest (means of
    values) misstates the variance of pure counts. Exposure is
    CALENDAR days (t0+1 vs t_max−t0), not observed-activity days, so
    silent zero-volume days correctly lower the rate instead of
    vanishing. One filtered day-grain aggregate, a 1-row broadcast of
    the window limits, then constant-size arithmetic; ln/sqrt run on
    exact-integer-derived rationals and are 1e-6-rounded on both
    engines."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    idx = with_stats(
        daily,
        F.min("day").alias("d_min"),
        F.floor(F.datediff(F.max("day"), F.min("day")) / 2.0)
        .cast("bigint")
        .alias("t0"),
        F.datediff(F.max("day"), F.min("day")).cast("bigint").alias("t_max"),
    ).select(
        F.datediff("day", "d_min").cast("bigint").alias("dd"), "y", "t0", "t_max"
    )
    halves = idx.agg(
        F.max("t0").alias("t0"),
        F.max("t_max").alias("t_max"),
        F.sum(F.when(F.col("dd") <= F.col("t0"), F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("c_pre"),
        F.sum(F.when(F.col("dd") > F.col("t0"), F.col("y")).otherwise(0))
        .cast("bigint")
        .alias("c_post"),
    )
    d_pre = (F.col("t0") + 1).cast("double")
    d_post = (F.col("t_max") - F.col("t0")).cast("double")
    rr = (F.col("c_post") / d_post) / (F.col("c_pre") / d_pre)
    return halves.select(
        F.col("c_pre").alias("events_pre"),
        F.col("c_post").alias("events_post"),
        (F.col("t0") + 1).alias("days_pre"),
        (F.col("t_max") - F.col("t0")).alias("days_post"),
        F.round(rr, 6).alias("rate_ratio"),
        F.round(
            F.log(rr) / F.sqrt(1.0 / F.col("c_pre") + 1.0 / F.col("c_post")), 6
        ).alias("z_stat"),
    )


@register(
    "ts_runs_test",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS y
  FROM events GROUP BY 1
), diffs AS (
  SELECT day, y - LAG(y) OVER (ORDER BY day) AS d FROM daily
), signs AS (
  SELECT day, CASE WHEN d > 0 THEN 1 ELSE -1 END AS s
  FROM diffs WHERE d IS NOT NULL AND d <> 0
), flips AS (
  SELECT s, CASE WHEN LAG(s) OVER (ORDER BY day) IS NULL
                   OR LAG(s) OVER (ORDER BY day) <> s THEN 1 ELSE 0 END AS new_run
  FROM signs
), agg AS (
  SELECT CAST(SUM(new_run) AS BIGINT) AS runs,
         CAST(SUM(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS DOUBLE) AS n1,
         CAST(SUM(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS DOUBLE) AS n2
  FROM flips
)
SELECT runs, CAST(n1 AS BIGINT) AS n_up, CAST(n2 AS BIGINT) AS n_down,
       ROUND(2.0 * n1 * n2 / (n1 + n2) + 1.0, 6) AS expected_runs,
       ROUND((runs - (2.0 * n1 * n2 / (n1 + n2) + 1.0))
             / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
                    / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))), 6) AS z_stat
FROM agg
""",
)
def ts_runs_test(spark, sf_dir):
    """Wald–Wolfowitz runs test on daily volume direction — 'is the
    series actually random, or does it trend/oscillate?': up/down
    moves should alternate like coin flips; too FEW runs means
    momentum (trending), too MANY means mean-reversion
    (oscillation). The complement of ts_autocorr's magnitude view —
    runs only sees SIGNS, so a single outlier day can't move it. Zero
    deltas are excluded (the standard treatment). Everything heavy
    collapses at the day grain first; the runs count is one lag
    window over the ~calendar-days sign sequence, then the classical
    E[R]/Var[R] normal approximation in exact-integer arithmetic
    until the final divisions."""
    daily = (
        by_day(t(spark, sf_dir, "events"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    wd = Window.orderBy("day")
    signs = (
        daily.select("day", (F.col("y") - F.lag("y").over(wd)).alias("d"))
        .filter(F.col("d").isNotNull() & (F.col("d") != 0))
        .select("day", F.when(F.col("d") > 0, 1).otherwise(-1).alias("s"))
    )
    flips = signs.select(
        "s",
        F.when(
            F.lag("s").over(wd).isNull() | (F.lag("s").over(wd) != F.col("s")), 1
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = flips.agg(
        F.sum("new_run").cast("bigint").alias("runs"),
        F.sum((F.col("s") == 1).cast("int")).cast("double").alias("n1"),
        F.sum((F.col("s") == -1).cast("int")).cast("double").alias("n2"),
    )
    n1, n2, runs = F.col("n1"), F.col("n2"), F.col("runs")
    er = 2.0 * n1 * n2 / (n1 + n2) + 1.0
    vr = (
        2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1.0))
    )
    return agg.select(
        runs,
        n1.cast("bigint").alias("n_up"),
        n2.cast("bigint").alias("n_down"),
        F.round(er, 6).alias("expected_runs"),
        F.round((runs - er) / F.sqrt(vr), 6).alias("z_stat"),
    )


@register(
    "ts_seasonality_strength",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
), trended AS (
  SELECT event_type, day, n,
         AVG(n) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS trend,
         COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS wcnt
  FROM daily
), interior AS (
  SELECT event_type, day,
         datediff('day', DATE '2024-01-01', day) % 7 AS dow,
         n, FLOOR(trend * 1000000 + 0.5) / 1000000 AS trend
  FROM trended WHERE wcnt = 7
), seasoned AS (
  SELECT i.*,
         FLOOR(AVG(n - trend) OVER (PARTITION BY event_type, dow)
               * 1000000 + 0.5) / 1000000 AS seasonal
  FROM interior i
), comps AS (
  SELECT event_type,
         FLOOR((n - trend - seasonal) * 1000000 + 0.5) / 1000000 AS resid,
         FLOOR((n - trend) * 1000000 + 0.5) / 1000000 AS detr,
         FLOOR((n - seasonal) * 1000000 + 0.5) / 1000000 AS deseas
  FROM seasoned
), sums AS (
  SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS m,
         CAST(SUM(CAST(resid AS DECIMAL(38,6))) AS DOUBLE) AS sr,
         CAST(SUM(CAST(resid AS DECIMAL(18,6)) * CAST(resid AS DECIMAL(18,6)))
              AS DOUBLE) AS srr,
         CAST(SUM(CAST(detr AS DECIMAL(38,6))) AS DOUBLE) AS sd,
         CAST(SUM(CAST(detr AS DECIMAL(18,6)) * CAST(detr AS DECIMAL(18,6)))
              AS DOUBLE) AS sdd,
         CAST(SUM(CAST(deseas AS DECIMAL(38,6))) AS DOUBLE) AS ss,
         CAST(SUM(CAST(deseas AS DECIMAL(38,12)) * CAST(deseas AS DECIMAL(38,12)))
              AS DOUBLE) AS sss
  FROM comps GROUP BY 1
)
SELECT event_type,
       ROUND(GREATEST(0.0, 1.0 - ((srr - sr * sr / m) / m)
                                 / ((sdd - sd * sd / m) / m)), 6) AS f_seasonal,
       ROUND(GREATEST(0.0, 1.0 - ((srr - sr * sr / m) / m)
                                 / ((sss - ss * ss / m) / m)), 6) AS f_trend
FROM sums ORDER BY event_type
""",
)
def ts_seasonality_strength(spark, sf_dir):
    """Seasonality/trend STRENGTH scores (the STL-feature pair used for
    forecast-model routing, e.g. in M4-style feature pipelines):
    F_seasonal = 1 − Var(residual)/Var(detrended) and F_trend = 1 −
    Var(residual)/Var(deseasonalized), each clipped at 0 — scalars in
    [0,1] that say WHETHER ts_seasonal_decompose's components carry
    signal, which is what an automated pipeline branches on
    (ts_demand_classification's router is the consumer shape). Same
    classical decomposition (7-day centered MA trend on interior days,
    day-of-week seasonal means via arithmetic dow — engine dayofweek()
    conventions differ), then population variances over the tiny
    day×type table through DECIMAL sums so partition order can't flip
    the 6th decimal. Components are 1e-6-quantized BEFORE the variance
    so both engines square identical grid values."""
    daily = (
        by_day(t(spark, sf_dir, "events"), "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    w7 = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    # pin the trended table: it feeds the seasonal window AND the
    # component projection (single-scan discipline)
    interior = ckpt(
        daily.select(
            "event_type",
            "day",
            F.datediff("day", F.lit("2024-01-01").cast("date")).alias("dd"),
            "n",
            qround(F.avg("n").over(w7)).alias("trend"),
            F.count(F.lit(1)).over(w7).alias("wcnt"),
        ).filter(F.col("wcnt") == 7)
    )
    # arithmetic dow: days since a known Monday, mod 7 (pmod — DuckDB's
    # % on non-negative dd is equivalent)
    wdow = Window.partitionBy("event_type", F.pmod("dd", F.lit(7)))
    seasoned = interior.select(
        "event_type",
        "n",
        "trend",
        qround(F.avg(F.col("n") - F.col("trend")).over(wdow)).alias("seasonal"),
    )
    comps = seasoned.select(
        "event_type",
        qround(F.col("n") - F.col("trend") - F.col("seasonal")).alias("resid"),
        qround(F.col("n") - F.col("trend")).alias("detr"),
        qround(F.col("n") - F.col("seasonal")).alias("deseas"),
    )
    d6 = lambda c: dsum(F.col(c))
    # decimal(18,6)^2 -> (37,12): exact and within precision 38 on BOTH
    # engines (a (38,12) square would force Spark's silent scale truncation)
    d12 = lambda c: F.sum(
        F.col(c).cast("decimal(18,6)") * F.col(c).cast("decimal(18,6)")
    ).cast("double")
    sums = comps.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        d6("resid").alias("sr"),
        d12("resid").alias("srr"),
        d6("detr").alias("sd"),
        d12("detr").alias("sdd"),
        d6("deseas").alias("ss"),
        d12("deseas").alias("sss"),
    )
    var = lambda sx, sxx: (F.col(sxx) - F.col(sx) * F.col(sx) / F.col("m")) / F.col("m")
    return sums.select(
        "event_type",
        F.round(
            F.greatest(F.lit(0.0), 1.0 - var("sr", "srr") / var("sd", "sdd")), 6
        ).alias("f_seasonal"),
        F.round(
            F.greatest(F.lit(0.0), 1.0 - var("sr", "srr") / var("ss", "sss")), 6
        ).alias("f_trend"),
    ).orderBy("event_type")


@register(
    "ts_bitemporal_asof",
    oracle="""
WITH versions AS (
    -- load version: known at the order date, valid from the order date
    SELECT o_orderkey AS k, o_orderpriority AS pri,
           CAST(o_orderdate AS DATE) AS valid_from,
           CAST(o_orderdate AS DATE) AS txn_time,
           o_totalprice AS price
    FROM orders
    UNION ALL
    -- correction version: same validity, RECORDED 10 days later
    SELECT o_orderkey, o_orderpriority, CAST(o_orderdate AS DATE),
           CAST(o_orderdate AS DATE) + 10, ROUND(o_totalprice * 1.1, 6)
    FROM orders WHERE o_orderkey % 5 = 0
), lims AS (
    SELECT MIN(valid_from) + CAST(FLOOR(datediff('day', MIN(valid_from),
                                                 MAX(valid_from)) / 2.0) AS INTEGER)
               AS v_cut,
           MIN(valid_from) + CAST(FLOOR(datediff('day', MIN(valid_from),
                                                 MAX(valid_from)) / 2.0) AS INTEGER) + 5
               AS t_cut
    FROM versions
), known AS (
    SELECT v.k, v.pri, v.price, v.valid_from, v.txn_time,
           ROW_NUMBER() OVER (PARTITION BY v.k ORDER BY v.txn_time DESC) AS rn
    FROM versions v, lims
    WHERE v.valid_from <= lims.v_cut AND v.txn_time <= lims.t_cut
)
SELECT pri AS o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN txn_time > valid_from THEN 1 ELSE 0 END)
            AS BIGINT) AS n_corrected_versions,
       ROUND(CAST(SUM(CAST(price AS DECIMAL(38,6))) AS DOUBLE), 6) AS total_price
FROM known WHERE rn = 1 GROUP BY pri
""",
)
def ts_bitemporal_asof(spark, sf_dir):
    """Bitemporal as-of query — the audit-grade time travel
    ts_scd2_history (one time axis) cannot answer: 'what was the
    book of business FOR valid date V, AS KNOWN at transaction time
    T?' Two independent axes: VALID time (when the fact was true in
    the world) and TRANSACTION time (when the warehouse learned it).
    The fixture versions table carries a load version at the order
    date and a price correction RECORDED 10 days later (keys ≡0 mod
    5, the stand-in convention); the query pins V = the valid-time
    midpoint and T = V+5, so corrections recorded after T are
    correctly INVISIBLE even though they are 'true' — the difference
    between a regulatory restatement and silently rewriting history.
    Mechanics: filter both axes, then max-txn-per-key window — one
    key shuffle over the version table, the exact plan a bitemporal
    dimension sustains at 100 TB when bucketed by key. The count of
    visible correction versions (txn_time > V) rides along to prove
    the T axis actually cut something."""
    o = t(spark, sf_dir, "orders")
    load = o.select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.col("o_orderdate").cast("date").alias("txn_time"),
        F.col("o_totalprice").alias("price"),
    )
    corr = o.filter(F.col("o_orderkey") % 5 == 0).select(
        F.col("o_orderkey").alias("k"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_orderdate").cast("date").alias("valid_from"),
        F.date_add(F.col("o_orderdate").cast("date"), 10).alias("txn_time"),
        F.round(F.col("o_totalprice") * 1.1, 6).alias("price"),
    )
    versions = load.unionByName(corr)
    lims = versions.agg(
        F.date_add(
            F.min("valid_from"),
            F.floor(F.datediff(F.max("valid_from"), F.min("valid_from")) / 2.0).cast(
                "int"
            ),
        ).alias("v_cut")
    ).select("v_cut", F.date_add("v_cut", 5).alias("t_cut"))
    known = (
        versions.crossJoin(F.broadcast(lims))
        .filter(
            (F.col("valid_from") <= F.col("v_cut"))
            & (F.col("txn_time") <= F.col("t_cut"))
        )
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("k").orderBy(F.desc("txn_time"))),
        )
        .filter(F.col("rn") == 1)
    )
    return known.groupBy(F.col("pri").alias("o_orderpriority")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum((F.col("txn_time") > F.col("valid_from")).cast("long"))
        .cast("bigint")
        .alias("n_corrected_versions"),
        F.round(
            dsum(F.col("price")), 6
        ).alias("total_price"),
    )


@register(
    "ts_croston_forecast",
    # Recursive-CTE twin (NOT list_reduce: the accumulator has TWO
    # evolving fields — the exact DuckDB 1.0.0 lambda bug documented on
    # ts_holt_forecast).
    oracle="""
WITH RECURSIVE demand AS (
    SELECT l_partkey AS part, CAST(date_trunc('day', l_shipdate) AS DATE) AS day,
           CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS q
    FROM lineitem WHERE l_partkey < 20 GROUP BY 1, 2
), seq AS (
    SELECT part, q,
           CAST(COALESCE(datediff('day', LAG(day) OVER (PARTITION BY part ORDER BY day),
                                  day), 0) AS DOUBLE) AS gap,
           ROW_NUMBER() OVER (PARTITION BY part ORDER BY day) AS i
    FROM demand
), cnt AS (
    SELECT part, CAST(COUNT(*) AS BIGINT) AS n_demands FROM seq GROUP BY 1
    HAVING COUNT(*) >= 3
), st AS (
    SELECT s.part, s.i, s.q AS z, CAST(0.0 AS DOUBLE) AS p
    FROM seq s JOIN cnt c ON c.part = s.part WHERE s.i = 1
    UNION ALL
    SELECT st.part, s.i,
           0.3 * s.q + 0.7 * st.z AS z,
           CASE WHEN s.i = 2 THEN s.gap ELSE 0.3 * s.gap + 0.7 * st.p END AS p
    FROM st JOIN seq s ON s.part = st.part AND s.i = st.i + 1
)
SELECT s.part, c.n_demands,
       FLOOR(s.z * 1000000 + 0.5) / 1000000 AS size_level,
       FLOOR(s.p * 1000000 + 0.5) / 1000000 AS interval_level,
       FLOOR(s.z / s.p * 1000000 + 0.5) / 1000000 AS croston_rate
FROM st s JOIN cnt c ON s.part = c.part AND s.i = c.n_demands
ORDER BY s.part
""",
)
def ts_croston_forecast(spark, sf_dir):
    """Croston's method — THE intermittent-demand forecaster
    (ts_demand_classification routes 'intermittent/lumpy' series
    here; Holt/theta assume a dense series and collapse on zeros):
    separate exponential smoothings of the nonzero demand SIZES (z)
    and the inter-demand INTERVALS (p), forecast rate = z/p per
    period. α=0.3 on both; p seeds from the first observed gap
    (i=2), z from the first demand — the documented Syntetos-Boylan
    initialization. The recurrence is ordered, so it folds over each
    part's demand array (state = one (z,p) struct; array length =
    DEMAND days only — the whole point of Croston is that zero days
    never enter the state). Parts with <3 demands are routed out
    (no meaningful interval estimate). Both engines execute the
    identical fold in identical day order with identical double
    arithmetic: Spark's aggregate() vs the unrolled recursive CTE."""
    dem = (
        by_day(
            t(spark, sf_dir, "lineitem").filter(F.col("l_partkey") < 20),
            F.col("l_partkey").alias("part"),
            col="l_shipdate",
        )
        .agg(dsum(F.col("l_quantity")).alias("q"))
    )
    wp = Window.partitionBy("part").orderBy("day")
    seq = dem.select(
        "part",
        "day",
        "q",
        F.coalesce(F.datediff("day", F.lag("day").over(wp)), F.lit(0))
        .cast("double")
        .alias("gap"),
        F.row_number().over(wp).alias("i"),
    )
    arrs = (
        seq.groupBy("part")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_demands"),
            F.expr(
                "sort_array(collect_list(struct(i, q, gap)))"
            ).alias("ds"),
        )
        .filter(F.col("n_demands") >= 3)
    )
    fold = (
        "aggregate(slice(ds, 2, greatest(size(ds) - 1, 0)),"
        " named_struct('i', 1, 'z', element_at(ds, 1).q, 'p', 0.0D),"
        " (acc, x) -> named_struct("
        "   'i', x.i,"
        "   'z', 0.3D * x.q + 0.7D * acc.z,"
        "   'p', CASE WHEN x.i = 2 THEN x.gap ELSE 0.3D * x.gap + 0.7D * acc.p END))"
    )
    st = arrs.select("part", "n_demands", F.expr(fold).alias("st"))
    return st.select(
        "part",
        "n_demands",
        qround(F.col("st.z")).alias("size_level"),
        qround(F.col("st.p")).alias("interval_level"),
        qround(F.col("st.z") / F.col("st.p")).alias("croston_rate"),
    ).orderBy("part")


@register(
    "ts_lag_correlation",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
), pairs AS (
  SELECT g.lag, c.n AS x, p.n AS y
  FROM generate_series(-7, 7) g(lag)
  JOIN daily c ON c.event_type = 'click'
  JOIN daily p ON p.event_type = 'purchase'
   AND p.day = c.day + CAST(g.lag AS INTEGER)
), sums AS (
  SELECT lag, CAST(COUNT(*) AS DOUBLE) AS m,
         SUM(x) AS sx, SUM(y) AS sy, SUM(x * x) AS sxx,
         SUM(y * y) AS syy, SUM(x * y) AS sxy
  FROM pairs GROUP BY 1 HAVING COUNT(*) >= 8
)
SELECT CAST(lag AS BIGINT) AS lag_days, CAST(m AS BIGINT) AS n_overlap,
       ROUND((m * sxy - sx * sy)
             / sqrt((m * sxx - sx * sx) * (m * syy - sy * sy)), 6) AS xcorr
FROM sums ORDER BY lag_days
""",
)
def ts_lag_correlation(spark, sf_dir):
    """Lagged cross-correlation scan — 'do clicks LEAD purchases, and
    by how many days?': Pearson correlation between the click series
    and the purchase series shifted by every lag in ±7 days; the
    argmax lag is the lead-lag relationship marketing-mix and
    capacity models consume (the closed-form alignment answer where
    DTW would give an unconstrained warp). All integer-exact sums
    until the final divisions (the agg_mann_whitney discipline), so
    ties and signs are bit-stable cross-engine. Cost shape: the day
    grain collapses first; the 15-lag scan is a broadcast
    generate_series joined against the TINY day table — at 100 TB
    the lag scan costs nothing because it never sees raw events;
    lags with <8 overlapping days are dropped (no meaningful
    correlation)."""
    daily = ckpt(
        by_day(
            t(spark, sf_dir, "events").filter(F.col("event_type").isin("click", "purchase")),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    lags = spark.range(-7, 8).select(F.col("id").cast("int").alias("lag"))
    c = daily.filter(F.col("event_type") == "click").select(
        F.col("day").alias("cday"), F.col("n").alias("x")
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("pday"), F.col("n").alias("y")
    )
    pairs = (
        c.crossJoin(F.broadcast(lags))
        .join(p, F.expr("pday = date_add(cday, lag)"))
        .select("lag", "x", "y")
    )
    sums = (
        pairs.groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("double").alias("m"),
            F.sum("x").alias("sx"),
            F.sum("y").alias("sy"),
            F.sum(F.col("x") * F.col("x")).alias("sxx"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum(F.col("x") * F.col("y")).alias("sxy"),
        )
        .filter(F.col("m") >= 8)
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("m") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return sums.select(
        F.col("lag").cast("bigint").alias("lag_days"),
        F.col("m").cast("bigint").alias("n_overlap"),
        F.round(num / den, 6).alias("xcorr"),
    ).orderBy("lag_days")


@register(
    "ts_dtw_distance",
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM events GROUP BY 1, 2
), series AS (
  SELECT event_type,
         list_transform(list_sort(list(struct_pack(day := day, n := n))), s -> s.n) AS v,
         CAST(COUNT(*) AS BIGINT) AS len
  FROM daily GROUP BY 1
), pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         a.len AS n_a, b.len AS n_b,
         list_reduce(
             list_prepend(list_prepend(0.0, list_transform(b.v, y -> 1e18)),
                          list_transform(a.v, x -> [x])),
             (prev, xa) -> list_reduce(
                 list_prepend([1e18], list_transform(b.v, y -> [y])),
                 (acc, xb) -> list_append(acc,
                     abs(xa[1] - xb[1]) + least(prev[len(acc) + 1],
                                                prev[len(acc)],
                                                acc[len(acc)]))
             )
         ) AS final_row
  FROM series a JOIN series b ON a.event_type < b.event_type
)
SELECT type_a, type_b, n_a, n_b,
       FLOOR(final_row[CAST(n_b + 1 AS INTEGER)] * 1000000 + 0.5) / 1000000
           AS dtw_l1,
       FLOOR(final_row[CAST(n_b + 1 AS INTEGER)] / (n_a + n_b)
             * 1000000 + 0.5) / 1000000 AS dtw_per_step
FROM pairs ORDER BY type_a, type_b
""",
)
def ts_dtw_distance(spark, sf_dir):
    """Dynamic time warping distance between every pair of event-type
    daily series — the alignment-free similarity ts_lag_correlation's
    rigid shifts can't give (a campaign that stretches one series
    locally still matches under warping; any fixed lag misses it).
    The full O(n·m) DP runs as a NESTED codegen fold — outer
    aggregate over series a carries the previous DP row, the inner
    fold builds the next row left-to-right (the new[j-1] dependency
    that no window function can vectorize) — zero UDFs, zero driver
    loops. DuckDB 1.0's list_reduce has no initial-accumulator arg,
    so both sides seed by PREPENDING the init row to a list-of-lists
    (type-uniform, and the first reduce step consumes it); both
    engines then execute the identical fold in identical order with
    identical double arithmetic, making an O(n²) dynamic program
    hash-exact cross-engine. Scale: state per pair is ONE DP row (m
    doubles), series are day-grain (bounded), and the pair table
    partitions freely — 10k store-pairs at 100 TB is 10k independent
    folds, not a shuffle."""
    daily = (
        by_day(t(spark, sf_dir, "events"), "event_type")
        .agg(F.count(F.lit(1)).cast("double").alias("n"))
    )
    series = ckpt(
        daily.groupBy("event_type").agg(
            F.expr(
                "transform(sort_array(collect_list(struct(day, n))), s -> s.n)"
            ).alias("v"),
            F.count(F.lit(1)).cast("bigint").alias("len"),
        )
    )
    a = series.select(
        F.col("event_type").alias("type_a"), F.col("v").alias("va"), F.col("len").alias("n_a")
    )
    b = series.select(
        F.col("event_type").alias("type_b"), F.col("v").alias("vb"), F.col("len").alias("n_b")
    )
    dp = """
aggregate(va,
  concat(array(0.0D), transform(vb, y -> 1e18D)),
  (prev, av) -> aggregate(vb, array(1e18D),
     (acc, bv) -> concat(acc, array(abs(av - bv) +
        least(element_at(prev, size(acc) + 1),
              element_at(prev, size(acc)),
              element_at(acc, size(acc)))))))
"""
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b")).select(
        "type_a", "type_b", "n_a", "n_b", F.expr(dp).alias("final_row")
    )
    dtw = F.element_at("final_row", (F.col("n_b") + 1).cast("int"))
    return pairs.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        qround(dtw).alias("dtw_l1"),
        qround(dtw / (F.col("n_a") + F.col("n_b"))).alias("dtw_per_step"),
    ).orderBy("type_a", "type_b")


@register(
    "ts_milestone_snapshot",
    oracle="""
WITH m AS (
    SELECT user_id,
           MIN(ts) FILTER (WHERE event_type = 'view') AS t_view,
           MIN(ts) FILTER (WHERE event_type = 'click') AS t_click,
           MIN(ts) FILTER (WHERE event_type = 'purchase') AS t_purchase
    FROM events GROUP BY user_id
)
SELECT user_id, t_view, t_click, t_purchase,
       (t_view IS NOT NULL AND t_click IS NOT NULL AND t_purchase IS NOT NULL
        AND t_view <= t_click AND t_click <= t_purchase) AS funnel_in_order,
       FLOOR((epoch_us(t_click) - epoch_us(t_view)) / 3600e6 * 1000000 + 0.5)
           / 1000000 AS hours_view_to_click,
       FLOOR((epoch_us(t_purchase) - epoch_us(t_click)) / 3600e6 * 1000000 + 0.5)
           / 1000000 AS hours_click_to_purchase
FROM m
""",
)
def ts_milestone_snapshot(spark, sf_dir):
    """Accumulating-snapshot fact — the Kimball pattern for lifecycle
    processes (order fulfilment, onboarding, claims): ONE ROW PER
    ENTITY whose milestone-timestamp columns fill in as the process
    advances, plus the inter-milestone durations BI slices on. Where
    ts_funnel counts stage populations and ts_conversion_latency
    distributes one latency, the snapshot is the TABLE both read
    from — and the update pattern at 100 TB is a per-key MERGE
    (sink_upsert) of min-timestamps, which is why every milestone
    here is a MIN: idempotent under replay, associative under
    partial loads. One conditional aggregate over the stream (no
    joins between milestones — they ride the same groupBy);
    durations stay NULL until both ends exist; the in-order flag
    audits funnel assumption violations (a purchase logged before
    any view) instead of silently dropping them."""
    e = t(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    hrs = lambda a, b: qround(
        F.expr(f"timestampdiff(MICROSECOND, {a}, {b})").cast("double") / F.lit(3600e6)
    )
    in_order = (
        F.col("t_view").isNotNull()
        & F.col("t_click").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_view") <= F.col("t_click"))
        & (F.col("t_click") <= F.col("t_purchase"))
    )
    return m.select(
        "user_id",
        "t_view",
        "t_click",
        "t_purchase",
        in_order.alias("funnel_in_order"),
        hrs("t_view", "t_click").alias("hours_view_to_click"),
        hrs("t_click", "t_purchase").alias("hours_click_to_purchase"),
    )


@register(
    "ts_retention_curve_fit",
    oracle="""
WITH first_day AS (
    SELECT user_id, MIN(CAST(date_trunc('day', ts) AS DATE)) AS d0
    FROM events GROUP BY user_id
), activity AS (
    SELECT DISTINCT e.user_id,
           datediff('day', f.d0, CAST(date_trunc('day', e.ts) AS DATE)) AS age
    FROM events e JOIN first_day f ON f.user_id = e.user_id
), cohort AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n0 FROM first_day),
curve AS (
    SELECT age, COUNT(*) / cohort.n0 AS r
    FROM activity, cohort
    WHERE age BETWEEN 1 AND 14 GROUP BY age, cohort.n0
), logs AS (
    SELECT ln(CAST(age AS DOUBLE)) AS lx, ln(r) AS ly FROM curve
), fit AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS m, SUM(lx) AS sx, SUM(ly) AS sy,
           SUM(lx * lx) AS sxx, SUM(lx * ly) AS sxy
    FROM logs
)
SELECT ROUND((m * sxy - sx * sy) / (m * sxx - sx * sx), 6) AS power_b,
       ROUND(exp((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m), 6)
           AS power_a,
       ROUND(exp((sy - (m * sxy - sx * sy) / (m * sxx - sx * sx) * sx) / m)
             * pow(30.0, (m * sxy - sx * sy) / (m * sxx - sx * sx)), 6)
           AS projected_day30
FROM fit
""",
)
def ts_retention_curve_fit(spark, sf_dir):
    """Power-law retention fit — the two numbers a growth team keeps
    from the whole retention matrix (ts_retention_cohorts): fit
    r(t) = a·t^b on days 1–14 by log-log OLS and PROJECT day-30
    retention before day 30 exists. The power-law (not exponential)
    is the standard product-retention shape — flattening decay, a
    long-lived core — and b is the comparable health metric across
    products. Day-grain collapse first (distinct user-day ages), one
    tiny log-log regression; at 100 TB the cohort join is user-keyed
    and everything after the curve CTE is constant-size. ln/exp/pow
    run on identically-derived doubles on both engines and the three
    outputs are 1e-6-rounded."""
    e = t(spark, sf_dir, "events")
    fd = ckpt(e.groupBy("user_id").agg(F.min(day_of()).alias("d0")))
    activity = (
        e.select("user_id", day_of().alias("day"))
        .join(fd, "user_id")
        .select("user_id", F.datediff("day", "d0").alias("age"))
        .distinct()
    )
    cohort = fd.agg(F.count(F.lit(1)).cast("double").alias("n0"))
    curve = (
        activity.filter(F.col("age").between(1, 14))
        .groupBy("age")
        .agg(F.count(F.lit(1)).alias("k"))
        .crossJoin(F.broadcast(cohort))
        .select(
            F.log(F.col("age").cast("double")).alias("lx"),
            F.log(F.col("k") / F.col("n0")).alias("ly"),
        )
    )
    fit = curve.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("lx").alias("sx"),
        F.sum("ly").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).alias("sxy"),
    )
    b = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    a = F.exp((F.col("sy") - b * F.col("sx")) / F.col("m"))
    return fit.select(
        F.round(b, 6).alias("power_b"),
        F.round(a, 6).alias("power_a"),
        F.round(a * F.pow(F.lit(30.0), b), 6).alias("projected_day30"),
    )


@register(
    "ts_mann_kendall",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
), prs AS (
  SELECT CASE WHEN b.y > a.y THEN 1 WHEN b.y < a.y THEN -1 ELSE 0 END AS sgn
  FROM daily a JOIN daily b ON b.day > a.day
), s AS (
  SELECT CAST(SUM(sgn) AS DOUBLE) AS s_stat,
         (SELECT CAST(COUNT(*) AS DOUBLE) FROM daily) AS n
  FROM prs
), ties AS (
  SELECT COALESCE(SUM(tn * (tn - 1.0) * (2.0 * tn + 5.0)), 0) AS tie_term
  FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS tn FROM daily GROUP BY y
        HAVING COUNT(*) > 1)
)
SELECT CAST(s_stat AS BIGINT) AS s_stat, CAST(n AS BIGINT) AS n_days,
       ROUND((n * (n - 1.0) * (2.0 * n + 5.0) - tie_term) / 18.0, 6) AS var_s,
       ROUND((s_stat - CASE WHEN s_stat > 0 THEN 1.0
                            WHEN s_stat < 0 THEN -1.0 ELSE 0.0 END)
             / sqrt((n * (n - 1.0) * (2.0 * n + 5.0) - tie_term) / 18.0), 6)
           AS z_stat
FROM s, ties
""",
)
def ts_mann_kendall(spark, sf_dir):
    """Mann–Kendall trend test — the nonparametric 'is there a
    monotone trend?' answer that pairs with ts_runs_test (randomness)
    and ts_theil_sen (how steep): S = Σ sign(y_j − y_i) over all
    ordered day pairs, full tie-corrected variance, the standard
    continuity-corrected z. Rank-based, so one outlier day cannot
    manufacture a trend the way it can drag ts_forecast_linear's OLS
    slope. The pair join is O(days²) ON THE COLLAPSED DAY TABLE —
    ~400 comparisons for a month — after the one data-sized
    aggregate; never on raw events. Integer-exact S and tie terms,
    1e-6-rounded z."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "events"))
        .agg(F.count(F.lit(1)).alias("y"))
    )
    a = daily.select(F.col("day").alias("da"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("y").alias("yb"))
    s = (
        a.join(b, F.col("db") > F.col("da"))
        .select(
            F.when(F.col("yb") > F.col("ya"), 1)
            .when(F.col("yb") < F.col("ya"), -1)
            .otherwise(0)
            .alias("sgn")
        )
        .agg(F.sum("sgn").cast("double").alias("s_stat"))
    )
    nrow = daily.agg(F.count(F.lit(1)).cast("double").alias("n"))
    ties = (
        daily.groupBy("y")
        .agg(F.count(F.lit(1)).cast("double").alias("tn"))
        .filter(F.col("tn") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("tn") * (F.col("tn") - 1.0) * (2.0 * F.col("tn") + 5.0)),
                F.lit(0.0),
            ).alias("tie_term")
        )
    )
    j = s.crossJoin(F.broadcast(nrow)).crossJoin(F.broadcast(ties))
    var_s = (
        F.col("n") * (F.col("n") - 1.0) * (2.0 * F.col("n") + 5.0) - F.col("tie_term")
    ) / 18.0
    cc = (
        F.when(F.col("s_stat") > 0, 1.0)
        .when(F.col("s_stat") < 0, -1.0)
        .otherwise(0.0)
    )
    return j.select(
        F.col("s_stat").cast("bigint").alias("s_stat"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(var_s, 6).alias("var_s"),
        F.round((F.col("s_stat") - cc) / F.sqrt(var_s), 6).alias("z_stat"),
    )


@register(
    "ts_theil_sen",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
), d0 AS (SELECT MIN(day) AS dmin FROM daily),
idx AS (
  SELECT CAST(datediff('day', d0.dmin, day) AS DOUBLE) AS tt, y FROM daily, d0
), slopes AS (
  SELECT (b.y - a.y) / (b.tt - a.tt) AS sl
  FROM idx a JOIN idx b ON b.tt > a.tt
), med AS (
  SELECT quantile_cont(sl, 0.5) AS slope,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM slopes
)
SELECT ROUND(slope, 6) AS ts_slope, n_pairs,
       ROUND((SELECT quantile_cont(y - med.slope * tt, 0.5) FROM idx), 6)
           AS ts_intercept
FROM med
""",
)
def ts_theil_sen(spark, sf_dir):
    """Theil–Sen slope — the robust trend ESTIMATOR that pairs with
    ts_mann_kendall's detection: the median of all pairwise
    day-to-day slopes (breakdown point 29% — a week of corrupted
    telemetry cannot move it, where the OLS slope in
    ts_forecast_linear follows any outlier), intercept = median of
    the slope-adjusted residuals (the standard Conover form). Same
    scale shape as Mann–Kendall: the O(days²) pair join runs on the
    collapsed day table (~400 slopes), never raw events; the exact
    median interpolates identically on both engines (percentile ≡
    quantile_cont on doubles)."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "events"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    idx = ckpt(
        with_stats(daily, F.min("day").alias("dmin")).select(
            F.datediff("day", "dmin").cast("double").alias("tt"), "y"
        )
    )
    a = idx.select(F.col("tt").alias("ta"), F.col("y").alias("ya"))
    b = idx.select(F.col("tt").alias("tb"), F.col("y").alias("yb"))
    med = (
        a.join(b, F.col("tb") > F.col("ta"))
        .select(((F.col("yb") - F.col("ya")) / (F.col("tb") - F.col("ta"))).alias("sl"))
        .agg(
            F.expr("percentile(sl, 0.5D)").alias("slope"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        )
    )
    icept = (
        idx.crossJoin(F.broadcast(med.select("slope")))
        .agg(
            F.expr("percentile(y - slope * tt, 0.5D)").alias("ic")
        )
    )
    return med.crossJoin(F.broadcast(icept)).select(
        F.round("slope", 6).alias("ts_slope"),
        "n_pairs",
        F.round("ic", 6).alias("ts_intercept"),
    )


@register(
    "ts_ljung_box",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 / COUNT(*) AS mu,
         CAST(COUNT(*) AS DOUBLE) AS n
  FROM daily
), dev AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, y - m.mu AS d, m.n AS n
  FROM daily, m
), denom AS (
  SELECT CAST(SUM(CAST(FLOOR(d * d * 1e6 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
             / 1e6 AS c0, MAX(n) AS n
  FROM dev
), rhos AS (
  SELECT g.k,
         CAST(SUM(CAST(FLOOR(a.d * b.d * 1e6 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
             / 1e6 / MAX(denom.c0) AS rho,
         MAX(denom.n) AS n
  FROM generate_series(1, 8) g(k)
  JOIN dev a ON TRUE
  JOIN dev b ON b.i = a.i + g.k, denom
  GROUP BY g.k
), q AS (
  SELECT MAX(n) AS n,
         CAST(SUM(CAST(FLOOR(rho * rho / (n - k) * 1e12 + 0.5)
                       AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS s
  FROM rhos
), stat AS (
  SELECT n * (n + 2.0) * s AS q_stat, n FROM q
)
SELECT ROUND(q_stat, 6) AS q_stat, CAST(n AS BIGINT) AS n_days,
       ROUND(exp(-q_stat / 2.0) * (1.0 + q_stat / 2.0
             + (q_stat / 2.0) * (q_stat / 2.0) / 2.0
             + (q_stat / 2.0) * (q_stat / 2.0) * (q_stat / 2.0) / 6.0), 6)
           AS p_value,
       (exp(-q_stat / 2.0) * (1.0 + q_stat / 2.0
        + (q_stat / 2.0) * (q_stat / 2.0) / 2.0
        + (q_stat / 2.0) * (q_stat / 2.0) * (q_stat / 2.0) / 6.0)) < 0.05
           AS reject_whiteness
FROM stat
""",
)
def ts_ljung_box(spark, sf_dir):
    """Ljung–Box whiteness test — 'is there ANY autocorrelation left?'
    in one number: Q = n(n+2)·Σ ρ_k²/(n−k) over lags 1–8, the
    standard residual-diagnostics gate after every forecast fit
    (ts_holt_forecast/ts_theta_forecast residuals should PASS it;
    the raw daily series here fails it if weekly structure exists).
    Complements ts_autocorr (per-lag magnitudes) with the aggregate
    TEST. Lags run to 8 so the χ² has EVEN df and its survival
    function has the exact closed form e^{−x/2}·Σ_{j<4}(x/2)^j/j! —
    fully portable, no incomplete gamma needed (the same trick as
    ml_bh_fdr's erf polynomial: spell the special function
    identically or don't use it). Deviations and lag products ride
    1e-6 quantized DECIMAL sums; the lag joins run on the ≤31-row
    deviation table."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "events"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    dev = ckpt(
        with_stats(
            daily,
            (qsum(F.col("y")) / F.count(F.lit(1))).alias("mu"),
            F.count(F.lit(1)).cast("double").alias("n"),
        ).select(
            _day_index().alias("i"), (F.col("y") - F.col("mu")).alias("xc"), "n"
        )
    )
    denom = dev.agg(qsum(F.col("xc") * F.col("xc")).alias("c0"), F.max("n").alias("n"))
    rhos = (
        _lag_sums(dev, range(1, 9), k=6)
        .crossJoin(F.broadcast(denom))
        .select("k", (F.col("s") / F.col("c0")).alias("rho"), "n")
    )
    s = rhos.agg(
        qsum(F.col("rho") * F.col("rho") / (F.col("n") - F.col("k")), 12).alias("s"),
        F.max("n").alias("n"),
    )
    qstat = F.col("n") * (F.col("n") + 2.0) * F.col("s")
    stat = s.select(qstat.alias("q_stat"), "n")
    h = F.col("q_stat") / 2.0
    sf_ = F.exp(-h) * (1.0 + h + h * h / 2.0 + h * h * h / 6.0)
    return stat.select(
        F.round("q_stat", 6).alias("q_stat"),
        F.col("n").cast("bigint").alias("n_days"),
        F.round(sf_, 6).alias("p_value"),
        (sf_ < 0.05).alias("reject_whiteness"),
    )


@register(
    "ts_spc_control_chart",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS y
  FROM events GROUP BY 1
), mr AS (
  SELECT day, y, ABS(y - LAG(y) OVER (ORDER BY day)) AS moving_range
  FROM daily
), lims AS (
  SELECT CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 / COUNT(*) AS xbar,
         CAST(SUM(CAST(FLOOR(COALESCE(moving_range, 0) * 1e6 + 0.5)
                       AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 / (COUNT(*) - 1) AS mrbar
  FROM mr
), flagged AS (
  SELECT m.day, m.y,
         l.xbar, l.xbar + 2.66 * l.mrbar AS ucl, l.xbar - 2.66 * l.mrbar AS lcl,
         CASE WHEN m.y > l.xbar + 2.66 * l.mrbar
                OR m.y < l.xbar - 2.66 * l.mrbar THEN 1 ELSE 0 END AS rule1,
         CASE WHEN SUM(CASE WHEN m.y > l.xbar THEN 1 ELSE -1 END)
                   OVER (ORDER BY m.day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
                   IN (8, -8)
              AND ROW_NUMBER() OVER (ORDER BY m.day) >= 8
              THEN 1 ELSE 0 END AS rule4
  FROM mr m, lims l
)
SELECT day, ROUND(y, 6) AS y, ROUND(xbar, 6) AS center,
       ROUND(ucl, 6) AS ucl, ROUND(lcl, 6) AS lcl,
       CAST(rule1 AS BOOLEAN) AS beyond_3sigma,
       CAST(rule4 AS BOOLEAN) AS run_of_8_one_side
FROM flagged ORDER BY day
""",
)
def ts_spc_control_chart(spark, sf_dir):
    """Shewhart individuals control chart — the SPC view of daily
    volume that ops teams run instead of ad-hoc thresholds: center
    line x̄, control limits x̄ ± 2.66·MR̄ (the moving-range estimate of
    σ — robust to the trend-inflation that a plain stddev suffers on
    autocorrelated series), plus two Western Electric rules flagged
    per point — beyond-3σ (rule 1) and eight-in-a-row on one side of
    center (rule 4, the drift detector that fires long before a 3σ
    spike). Distinct from ts_cusum (cumulative drift statistic) and
    ts_anomaly_robust (MAD outliers): SPC is the CHART contract —
    limits AND rule flags per point, ready for the dashboard. Day
    collapse, one lag window, 1-row broadcast limits, one running
    window for the rule-4 sign count; DECIMAL means keep the limits
    bit-identical."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "events"))
        .agg(F.count(F.lit(1)).cast("double").alias("y"))
    )
    wd = Window.orderBy("day")
    mr = ckpt(
        daily.select(
            "day", "y", F.abs(F.col("y") - F.lag("y").over(wd)).alias("moving_range")
        )
    )
    f = with_stats(
        mr,
        (qsum(F.col("y")) / F.count(F.lit(1))).alias("xbar"),
        (
            qsum(F.coalesce("moving_range", F.lit(0.0)))
            / (F.count(F.lit(1)) - 1)
        ).alias("mrbar"),
    )
    ucl = F.col("xbar") + 2.66 * F.col("mrbar")
    lcl = F.col("xbar") - 2.66 * F.col("mrbar")
    w8 = Window.orderBy("day").rowsBetween(-7, Window.currentRow)
    sign_sum = F.sum(
        F.when(F.col("y") > F.col("xbar"), 1).otherwise(-1)
    ).over(w8)
    return f.select(
        "day",
        F.round("y", 6).alias("y"),
        F.round("xbar", 6).alias("center"),
        F.round(ucl, 6).alias("ucl"),
        F.round(lcl, 6).alias("lcl"),
        ((F.col("y") > ucl) | (F.col("y") < lcl)).alias("beyond_3sigma"),
        (
            sign_sum.isin(8, -8) & (_day_index() >= 8)
        ).alias("run_of_8_one_side"),
    ).orderBy("day")


@register(
    "ts_safety_stock",
    oracle="""
WITH bw AS (
  SELECT p.p_brand AS brand, date_trunc('week', l.l_shipdate) AS wk,
         SUM(CAST(FLOOR(l.l_quantity * 1e6 + 0.5) AS DECIMAL(38,6))) AS qm
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  GROUP BY 1, 2
), wks AS (
  SELECT DISTINCT date_trunc('week', l_shipdate) AS wk FROM lineitem
), brands AS (
  SELECT DISTINCT p_brand AS brand FROM part
), spine AS (
  SELECT b.brand,
         CAST(COALESCE(bw.qm, 0) AS DOUBLE) / 1e6 AS x
  FROM brands b CROSS JOIN wks w
  LEFT JOIN bw ON bw.brand = b.brand AND bw.wk = w.wk
), s AS (
  SELECT brand, CAST(COUNT(*) AS DOUBLE) AS n,
         CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 AS sx,
         CAST(SUM(CAST(FLOOR(x * x * 1e6 + 0.5) AS DECIMAL(38,12))) AS DOUBLE)
             / 1e6 AS sxx
  FROM spine GROUP BY brand
)
SELECT brand, CAST(n AS BIGINT) AS n_weeks,
       ROUND(sx / n, 6) AS mean_weekly,
       ROUND(sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6) AS sd_weekly,
       ROUND(1.645 * sqrt(2.0)
             * sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6)
           AS safety_stock,
       ROUND(2.0 * sx / n + 1.645 * sqrt(2.0)
             * sqrt((n * sxx - sx * sx) / (n * (n - 1.0))), 6)
           AS reorder_point
FROM s
""",
)
def ts_safety_stock(spark, sf_dir):
    """Safety stock + reorder point per brand — the inventory-planning
    formula every supply chain runs: with weekly demand mean μ and
    sample std σ, lead time L = 2 weeks and a 95% service level
    (z = 1.645), safety = z·σ·√L and reorder point = μ·L + safety.
    The subtle correctness point is the WEEK SPINE: a brand that sold
    nothing in week 17 has demand ZERO that week, not a missing row —
    skipping silent weeks understates σ and strands the service level
    below target, so the brand×week frame is built by crossing the
    25-row brand dim with the observed global week spine and
    LEFT-joining demand (both sides of the cross are tiny and
    broadcast; the only data-sized work is the one brand×week hash
    aggregate). Demand stays in exact micro-unit DECIMAL until one
    identical-in-both-engines cast to double; moments ride the qdec
    path. SURVEY §2.M inventory-ops family."""
    li = t(spark, sf_dir, "lineitem")
    brand_dim = F.broadcast(
        t(spark, sf_dir, "part").select("p_partkey", F.col("p_brand").alias("brand"))
    )
    bw = (
        li.join(brand_dim, F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("brand", F.date_trunc("week", "l_shipdate").alias("wk"))
        .agg(F.sum(qdec(F.col("l_quantity"))).alias("qm"))
    )
    wks = li.select(F.date_trunc("week", "l_shipdate").alias("wk")).distinct()
    brands = (
        t(spark, sf_dir, "part").select(F.col("p_brand").alias("brand")).distinct()
    )
    spine = (
        brands.crossJoin(F.broadcast(wks))
        .join(bw, ["brand", "wk"], "left")
        .select(
            "brand",
            (F.coalesce(F.col("qm"), F.lit(0)).cast("double") / F.lit(1e6)).alias("x"),
        )
    )

    def qsum_at(c, scale):
        return F.sum(
            F.floor(c * F.lit(1e6) + F.lit(0.5)).cast(f"decimal(38,{scale})")
        ).cast("double") / F.lit(1e6)

    s = spine.groupBy("brand").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        qsum_at(F.col("x"), 6).alias("sx"),
        qsum_at(F.col("x") * F.col("x"), 12).alias("sxx"),
    )
    sd = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        / (F.col("n") * (F.col("n") - 1.0))
    )
    safety = F.lit(1.645) * F.sqrt(F.lit(2.0)) * sd
    return s.select(
        "brand",
        F.col("n").cast("bigint").alias("n_weeks"),
        F.round(F.col("sx") / F.col("n"), 6).alias("mean_weekly"),
        F.round(sd, 6).alias("sd_weekly"),
        F.round(safety, 6).alias("safety_stock"),
        F.round(F.lit(2.0) * F.col("sx") / F.col("n") + safety, 6).alias(
            "reorder_point"
        ),
    )


@register(
    "ts_var_cvar",
    oracle="""
WITH daily AS (
  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
         SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6))) AS revq
  FROM orders GROUP BY 1
), nn AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, (COUNT(*) + 19) // 20 AS k FROM daily
), ranked AS (
  SELECT revq, ROW_NUMBER() OVER (ORDER BY revq ASC, day ASC) AS rn, nn.n, nn.k
  FROM daily, nn
)
SELECT MAX(n) AS n_days, CAST(MAX(k) AS BIGINT) AS k_tail_days,
       ROUND(CAST(MAX(CASE WHEN rn = k THEN revq END) AS DOUBLE) / 1e6, 6)
           AS var_5pct,
       ROUND(CAST(SUM(CASE WHEN rn <= k THEN revq END) AS DOUBLE)
             / 1e6 / MAX(k), 6) AS cvar_5pct,
       (CAST(SUM(CASE WHEN rn <= k THEN revq END) AS DOUBLE) / MAX(k)
        <= CAST(MAX(CASE WHEN rn = k THEN revq END) AS DOUBLE))
           AS cvar_below_var
FROM ranked
""",
)
def ts_var_cvar(spark, sf_dir):
    """Value-at-Risk and Conditional VaR (expected shortfall) of daily
    revenue — the finance-desk tail pair applied to the business'
    north-star series: VaR₅% answers 'how bad is a 1-in-20 day?',
    CVaR answers the harder 'and WHEN it's that bad, how bad on
    average?' (CVaR is the coherent one — it subadditivises across
    desks, which is why Basel moved to expected shortfall). Both are
    EXACT order statistics, not interpolated percentiles: k =
    ⌈0.05·n⌉ via pure integer arithmetic, VaR = the k-th smallest
    revenue day (day-key tiebreak → rank-deterministic in both
    engines), CVaR = the exact DECIMAL mean of ranks 1..k. Daily
    revenue never leaves micro-unit DECIMAL until the final rounded
    division, so the two engines agree bit-for-bit. One day
    aggregate + one ordered window over the tiny day table."""
    daily = (
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(F.sum(qdec(F.col("o_totalprice"))).alias("revq"))
    )
    ranked = with_stats(
        daily,
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("(count(1) + 19) div 20").cast("bigint").alias("k"),
    ).select(
        "revq",
        F.row_number()
        .over(Window.orderBy(F.col("revq").asc(), F.col("day").asc()))
        .alias("rn"),
        "n",
        "k",
    )
    var_q = F.max(F.when(F.col("rn") == F.col("k"), F.col("revq")))
    tail_q = F.sum(F.when(F.col("rn") <= F.col("k"), F.col("revq")))
    return ranked.agg(
        F.max("n").alias("n_days"),
        F.max("k").cast("bigint").alias("k_tail_days"),
        F.round(var_q.cast("double") / F.lit(1e6), 6).alias("var_5pct"),
        F.round(tail_q.cast("double") / F.lit(1e6) / F.max("k"), 6).alias(
            "cvar_5pct"
        ),
        (
            tail_q.cast("double") / F.max("k") <= var_q.cast("double")
        ).alias("cvar_below_var"),
    )


@register(
    "ts_kalman_level",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS DOUBLE) AS n
    FROM events GROUP BY 1, 2
), seq AS (
    SELECT event_type, day, n,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS rn
    FROM daily
), kal AS (
    SELECT event_type, rn, day, n,
           0.0 + ((1000000.0 + 25.0) / ((1000000.0 + 25.0) + 100.0))
               * (n - 0.0) AS x,
           (1.0 - ((1000000.0 + 25.0) / ((1000000.0 + 25.0) + 100.0)))
               * (1000000.0 + 25.0) AS p
    FROM seq WHERE rn = 1
    UNION ALL
    SELECT s.event_type, s.rn, s.day, s.n,
           k.x + ((k.p + 25.0) / ((k.p + 25.0) + 100.0)) * (s.n - k.x),
           (1.0 - ((k.p + 25.0) / ((k.p + 25.0) + 100.0))) * (k.p + 25.0)
    FROM kal k JOIN seq s ON s.event_type = k.event_type AND s.rn = k.rn + 1
)
SELECT event_type, day, CAST(n AS BIGINT) AS n_obs,
       FLOOR(x * 1000000 + 0.5) / 1000000 AS level
FROM kal
""",
)
def ts_kalman_level(spark, sf_dir):
    """Local-level Kalman filter (random-walk-plus-noise state space,
    Q=25, R=100, diffuse init x0=0, P0=1e6) over each event type's daily
    count series — the optimal online smoother when the level itself
    drifts: the gain K = P/(P+R) ADAPTS per step (starts ~1 under the
    diffuse prior, converges to the steady-state Riccati gain), unlike
    the fixed-alpha EWMA (ts_ewma) it generalizes. The recurrence is
    inherently sequential, so it runs as an array fold AFTER the daily
    aggregate — at 100 TB the groupBy reduces the fact table to
    O(types x days) rows in one shuffle and the fold touches only those
    bounded per-type arrays, JVM-side (no Python). Emitting the FULL
    filtered trajectory (not just the final state) makes every one of
    the per-step double ops hash-checked; both engines execute the
    identical op sequence (Spark aggregate() fold == DuckDB's recursive
    CTE step), so the trajectories are bit-identical before the 1e-6
    quantization. Cited shape: Durbin & Koopman sec 2.2; Spark-side fold
    idiom shared with ts_holt_forecast."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.count(F.lit(1)).cast("double").alias("n"))
    arr = "sort_array(collect_list(struct(day, n)))"
    # Fold over the day-ordered array: acc = (x, p, lv[]); the gain
    # expression is inlined (lambda bindings aren't available) — every
    # repetition folds to the same IEEE value, mirroring the oracle text.
    fold = (
        "aggregate({arr}, "
        "named_struct('x', 0.0D, 'p', 1000000.0D, "
        "             'lv', cast(array() as array<double>)), "
        "(acc, s) -> named_struct("
        "  'x', acc.x + ((acc.p + 25.0D) / ((acc.p + 25.0D) + 100.0D)) * (s.n - acc.x),"
        "  'p', (1.0D - ((acc.p + 25.0D) / ((acc.p + 25.0D) + 100.0D))) * (acc.p + 25.0D),"
        "  'lv', array_append(acc.lv, "
        "        acc.x + ((acc.p + 25.0D) / ((acc.p + 25.0D) + 100.0D)) * (s.n - acc.x))))"
    ).format(arr=arr)
    folded = daily.groupBy("event_type").agg(
        F.expr(arr).alias("days"), F.expr(fold).alias("st")
    )
    zipped = folded.select(
        "event_type",
        F.explode(F.arrays_zip(F.col("days"), F.col("st.lv").alias("lv"))).alias("z"),
    )
    return zipped.select(
        "event_type",
        F.col("z.days.day").alias("day"),
        F.col("z.days.n").cast("bigint").alias("n_obs"),
        qround(F.col("z.lv")).alias("level"),
    )


@register(
    "ts_bass_diffusion",
    oracle="""
WITH first_order AS (
    SELECT o_custkey, MIN(o_orderdate) AS d0 FROM orders GROUP BY 1
), span AS (
    SELECT MIN(d0) AS lo, CAST(COUNT(*) AS DOUBLE) AS total FROM first_order
), curve AS (
    SELECT datediff('day', s.lo, f.d0) / 30.0 AS tm,
           CAST(COUNT(*) AS BIGINT) AS adopters, ANY_VALUE(s.total) AS total
    FROM first_order f, span s
    GROUP BY 1
), cum AS (
    SELECT tm,
           CAST(SUM(adopters) OVER (ORDER BY tm) AS DOUBLE)
               / ANY_VALUE(total) OVER () AS f_obs
    FROM curve
), grid AS (
    SELECT gp.i * 0.0025 AS p, gq.j * 0.025 AS q
    FROM generate_series(1, 20) gp(i), generate_series(1, 20) gq(j)
), scored AS (
    SELECT g.p, g.q,
           CAST(SUM(CAST(FLOOR(
               ((c.f_obs - (1.0 - e.e) / (1.0 + (g.q / g.p) * e.e))
                * (c.f_obs - (1.0 - e.e) / (1.0 + (g.q / g.p) * e.e)))
               * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS sse,
           CAST(COUNT(*) AS BIGINT) AS n_points
    FROM grid g
    JOIN cum c ON TRUE
    JOIN LATERAL (SELECT FLOOR(exp(-(g.p + g.q) * c.tm) * 1e12 + 0.5) / 1e12 AS e) e
        ON TRUE
    GROUP BY 1, 2
), best AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY sse, p, q) AS rk FROM scored
)
SELECT p, q, FLOOR(sse * 1000000 + 0.5) / 1000000 AS sse, n_points,
       CAST((SELECT total FROM span) AS BIGINT) AS total_adopters,
       FLOOR(ln(q / p) / (p + q) * 1000000 + 0.5) / 1000000 AS peak_t_months
FROM best WHERE rk = 1
""",
)
def ts_bass_diffusion(spark, sf_dir):
    """Bass diffusion model fit (p = innovation, q = imitation) over the
    customer first-purchase adoption curve — the canonical
    marketing-science growth model, fitted by an exhaustive 20x20 grid
    search against the CLOSED-FORM cumulative-adoption curve
    F(t) = (1 - e^{-(p+q)t}) / (1 + (q/p) e^{-(p+q)t}) (Bass 1969), so
    there is no per-candidate recursion. The scale shape is the point:
    the fact table collapses to one first-order-per-customer aggregate,
    then to an O(months) adoption curve; the 400-point grid is a
    BROADCAST cross join against that bounded curve, and each (p,q)'s
    SSE is one map-side partial sum — the entire fit costs ~400 x
    months tiny rows no matter how many orders exist. Cross-engine
    float discipline: exp() (the only libm op) is quantized at 1e-12
    before entering the closed form, residual squares accumulate in
    DECIMAL(38,12), argmin ties break on (sse, p, q). Output: the
    fitted (p, q), its SSE, and the implied adoption-peak time
    ln(q/p)/(p+q)."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    # ckpt: the first-order aggregate (the only fact-scale pass) feeds
    # three consumers (span, curve, total_adopters) — without it the
    # orders scan re-runs per branch (duplicate-scan sweep).
    first = ckpt(o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("d0")))
    span = first.agg(
        F.min("d0").alias("lo"), F.count(F.lit(1)).cast("double").alias("total")
    )
    curve = (
        first.crossJoin(F.broadcast(span))
        .groupBy((F.datediff("d0", "lo") / F.lit(30.0)).alias("tm"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("adopters"),
            F.any_value("total").alias("total"),
        )
    )
    wcum = Window.orderBy("tm").rowsBetween(Window.unboundedPreceding, 0)
    cum = curve.select(
        "tm", (F.sum("adopters").over(wcum).cast("double") / F.col("total")).alias("f_obs")
    )
    grid = (
        spark.range(1, 21)
        .select((F.col("id") * F.lit(0.0025)).alias("p"))
        .crossJoin(spark.range(1, 21).select((F.col("id") * F.lit(0.025)).alias("q")))
    )
    e = qround(F.exp(-(F.col("p") + F.col("q")) * F.col("tm")), 12)
    f_model = (F.lit(1.0) - e) / (F.lit(1.0) + (F.col("q") / F.col("p")) * e)
    resid = F.col("f_obs") - f_model
    scored = (
        cum.crossJoin(F.broadcast(grid))
        .groupBy("p", "q")
        .agg(
            qsum(resid * resid, 12).alias("sse"),
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
        )
    )
    w = Window.orderBy(F.asc("sse"), F.asc("p"), F.asc("q"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .crossJoin(F.broadcast(span.select(F.col("total").cast("bigint").alias("total_adopters"))))
        .select(
            "p",
            "q",
            qround(F.col("sse")).alias("sse"),
            "n_points",
            "total_adopters",
            qround(F.log(F.col("q") / F.col("p")) / (F.col("p") + F.col("q"))).alias(
                "peak_t_months"
            ),
        )
    )


@register(
    "ts_granger_causality",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                AS BIGINT) AS y,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM events GROUP BY 1
), lagged AS (
    SELECT y,
           LAG(y) OVER (ORDER BY day) AS y1,
           LAG(x) OVER (ORDER BY day) AS x1
    FROM daily
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(y1) AS DOUBLE) AS sy1, CAST(SUM(x1) AS DOUBLE) AS sx1,
           CAST(SUM(y) AS DOUBLE) AS sy,
           CAST(SUM(y1 * y1) AS DOUBLE) AS sy1y1,
           CAST(SUM(x1 * x1) AS DOUBLE) AS sx1x1,
           CAST(SUM(y1 * x1) AS DOUBLE) AS sy1x1,
           CAST(SUM(y1 * y) AS DOUBLE) AS sy1y,
           CAST(SUM(x1 * y) AS DOUBLE) AS sx1y,
           CAST(SUM(y * y) AS DOUBLE) AS syy
    FROM lagged WHERE y1 IS NOT NULL
), r AS (
    SELECT *,
           (n * sy1y - sy1 * sy) / (n * sy1y1 - sy1 * sy1) AS br
    FROM m
), rs AS (
    SELECT *, (sy - br * sy1) / n AS ar FROM r
), d AS (
    SELECT *,
           n * (sy1y1 * sx1x1 - sy1x1 * sy1x1)
           - sy1 * (sy1 * sx1x1 - sy1x1 * sx1)
           + sx1 * (sy1 * sy1x1 - sy1y1 * sx1) AS det
    FROM rs
), b AS (
    SELECT *,
           (sy * (sy1y1 * sx1x1 - sy1x1 * sy1x1)
            - sy1 * (sy1y * sx1x1 - sy1x1 * sx1y)
            + sx1 * (sy1y * sy1x1 - sy1y1 * sx1y)) / det AS b0,
           (n * (sy1y * sx1x1 - sy1x1 * sx1y)
            - sy * (sy1 * sx1x1 - sy1x1 * sx1)
            + sx1 * (sy1 * sx1y - sy1y * sx1)) / det AS b1,
           (n * (sy1y1 * sx1y - sy1y * sy1x1)
            - sy1 * (sy1 * sx1y - sy1y * sx1)
            + sy * (sy1 * sy1x1 - sy1y1 * sx1)) / det AS b2
    FROM d
), s AS (
    SELECT n, b1, b2,
           syy - ar * sy - br * sy1y AS sse_r,
           syy - b0 * sy - b1 * sy1y - b2 * sx1y AS sse_u
    FROM b
)
SELECT CAST(n AS BIGINT) AS n_obs,
       FLOOR(b1 * 1000000 + 0.5) / 1000000 AS b_lag_y,
       FLOOR(b2 * 1000000 + 0.5) / 1000000 AS b_lag_x,
       FLOOR(sse_r * 1000000 + 0.5) / 1000000 AS sse_r,
       FLOOR(sse_u * 1000000 + 0.5) / 1000000 AS sse_u,
       FLOOR((sse_r - sse_u) / (sse_u / (n - 3.0)) * 1000000 + 0.5) / 1000000
           AS f_stat,
       (sse_r - sse_u) / (sse_u / (n - 3.0)) >
           3.841458820694124 * (1.0 + 20.0 / (n - 3.0)) AS granger_causes
FROM s
""",
)
def ts_granger_causality(spark, sf_dir):
    """Granger causality, lag-1: does yesterday's VIEW volume predict
    today's PURCHASE volume beyond what yesterday's purchases already
    predict? F-test of the restricted AR(1) against the unrestricted
    model with the exogenous lag — the standard lead-indicator test a
    growth team runs before trusting a 'views drive purchases'
    narrative. Fully closed form: both OLS fits come from the ten
    integer moment sums of the lagged daily frame (counts, so every
    moment is an EXACT bigint before one cast), the 3x3 normal
    equations solve by explicit Cramer determinants, and both SSEs use
    the algebraic identity syy - b'X'y — no residual pass, no
    iteration. 100 TB shape: one fact aggregate to O(days) rows, one
    ordered window for the lags, one 1-row moment aggregate. The
    decision threshold is the exact chi2(1) 5% point with a
    finite-sample widening factor (1 + 20/(n-3)) standing in for the
    F(1, n-3) critical value — conservative for small n, exact as
    n grows; the F statistic itself is reported for any exact
    downstream lookup."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("bigint")
        .alias("x"),
    )
    w = Window.orderBy("day")
    lagged = daily.select(
        "y", F.lag("y").over(w).alias("y1"), F.lag("x").over(w).alias("x1")
    ).filter(F.col("y1").isNotNull())
    m = lagged.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("y1").cast("double").alias("sy1"),
        F.sum("x1").cast("double").alias("sx1"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("y1") * F.col("y1")).cast("double").alias("sy1y1"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("sx1x1"),
        F.sum(F.col("y1") * F.col("x1")).cast("double").alias("sy1x1"),
        F.sum(F.col("y1") * F.col("y")).cast("double").alias("sy1y"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("sx1y"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
    )
    r = m.withColumn(
        "br",
        (F.col("n") * F.col("sy1y") - F.col("sy1") * F.col("sy"))
        / (F.col("n") * F.col("sy1y1") - F.col("sy1") * F.col("sy1")),
    )
    rs = r.withColumn("ar", (F.col("sy") - F.col("br") * F.col("sy1")) / F.col("n"))
    d = rs.withColumn(
        "det",
        F.col("n") * (F.col("sy1y1") * F.col("sx1x1") - F.col("sy1x1") * F.col("sy1x1"))
        - F.col("sy1") * (F.col("sy1") * F.col("sx1x1") - F.col("sy1x1") * F.col("sx1"))
        + F.col("sx1") * (F.col("sy1") * F.col("sy1x1") - F.col("sy1y1") * F.col("sx1")),
    )
    b = d.select(
        "*",
        (
            (
                F.col("sy") * (F.col("sy1y1") * F.col("sx1x1") - F.col("sy1x1") * F.col("sy1x1"))
                - F.col("sy1") * (F.col("sy1y") * F.col("sx1x1") - F.col("sy1x1") * F.col("sx1y"))
                + F.col("sx1") * (F.col("sy1y") * F.col("sy1x1") - F.col("sy1y1") * F.col("sx1y"))
            )
            / F.col("det")
        ).alias("b0"),
        (
            (
                F.col("n") * (F.col("sy1y") * F.col("sx1x1") - F.col("sy1x1") * F.col("sx1y"))
                - F.col("sy") * (F.col("sy1") * F.col("sx1x1") - F.col("sy1x1") * F.col("sx1"))
                + F.col("sx1") * (F.col("sy1") * F.col("sx1y") - F.col("sy1y") * F.col("sx1"))
            )
            / F.col("det")
        ).alias("b1"),
        (
            (
                F.col("n") * (F.col("sy1y1") * F.col("sx1y") - F.col("sy1y") * F.col("sy1x1"))
                - F.col("sy1") * (F.col("sy1") * F.col("sx1y") - F.col("sy1y") * F.col("sx1"))
                + F.col("sy") * (F.col("sy1") * F.col("sy1x1") - F.col("sy1y1") * F.col("sx1"))
            )
            / F.col("det")
        ).alias("b2"),
    )
    s = b.select(
        "n",
        "b1",
        "b2",
        (F.col("syy") - F.col("ar") * F.col("sy") - F.col("br") * F.col("sy1y")).alias("sse_r"),
        (
            F.col("syy")
            - F.col("b0") * F.col("sy")
            - F.col("b1") * F.col("sy1y")
            - F.col("b2") * F.col("sx1y")
        ).alias("sse_u"),
    )
    fstat = (F.col("sse_r") - F.col("sse_u")) / (F.col("sse_u") / (F.col("n") - F.lit(3.0)))
    return s.select(
        F.col("n").cast("bigint").alias("n_obs"),
        qround(F.col("b1")).alias("b_lag_y"),
        qround(F.col("b2")).alias("b_lag_x"),
        qround(F.col("sse_r")).alias("sse_r"),
        qround(F.col("sse_u")).alias("sse_u"),
        qround(fstat).alias("f_stat"),
        (
            fstat
            > F.lit(3.841458820694124) * (F.lit(1.0) + F.lit(20.0) / (F.col("n") - F.lit(3.0)))
        ).alias("granger_causes"),
    )


@register(
    "ts_pot_gpd_tail",
    oracle="""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6))) AS revq
    FROM orders GROUP BY 1
), nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST((9 * COUNT(*) + 9) // 10 AS BIGINT) AS k
    FROM daily
), ranked AS (
    SELECT revq, n, k,
           ROW_NUMBER() OVER (ORDER BY revq ASC, day ASC) AS rn
    FROM daily, nn
), thr AS (
    SELECT revq AS u, n, k FROM ranked WHERE rn = k
), exc AS (
    SELECT r.revq - t.u AS e, t.u, t.n,
           ROW_NUMBER() OVER (ORDER BY r.revq - t.u ASC, r.rn ASC) AS ern
    FROM ranked r, thr t WHERE r.revq > t.u
), pwm AS (
    SELECT ANY_VALUE(u) AS u, ANY_VALUE(n) AS n,
           CAST(COUNT(*) AS BIGINT) AS ne,
           SUM(e) AS se,
           SUM(ern * e) AS sie
    FROM exc
), par AS (
    -- a1 = E[X(1-F)] needs DECREASING weights (ne-i); via the identity
    -- sum((ne-i) e) = ne*sum(e) - sum(i*e) it stays one DECIMAL pass
    SELECT n, ne, CAST(u AS DOUBLE) / 1e6 AS u_d,
           (CAST(se AS DOUBLE) / 1e6) / ne AS b0,
           (CAST(ne * se - sie AS DOUBLE) / 1e6) / (ne * (ne - 1.0)) AS b1
    FROM pwm
), gpd AS (
    SELECT n, ne, u_d, b0, b1,
           2.0 - b0 / (b0 - 2.0 * b1) AS xi,
           (2.0 * b0 * b1) / (b0 - 2.0 * b1) AS sigma,
           CAST(ne AS DOUBLE) / n AS zeta
    FROM par
)
SELECT n AS n_days, ne AS n_exceed,
       FLOOR(u_d * 1000000 + 0.5) / 1000000 AS threshold,
       FLOOR(xi * 1000000 + 0.5) / 1000000 AS xi,
       FLOOR(sigma * 1000000 + 0.5) / 1000000 AS sigma,
       FLOOR((u_d + (sigma / xi)
              * ((FLOOR(pow(100.0 * zeta, xi) * 1e9 + 0.5) / 1e9) - 1.0))
             * 1000000 + 0.5) / 1000000 AS return_level_100d
FROM gpd
""",
)
def ts_pot_gpd_tail(spark, sf_dir):
    """Peaks-over-threshold tail model: fit a Generalized Pareto to
    daily-revenue exceedances above the exact 90th-percentile day via
    probability-weighted moments (Hosking & Wallis 1987 — closed form,
    no likelihood iteration), then invert to the 100-day return level.
    Complements ts_extreme_value_gumbel (block maxima): POT uses every
    exceedance, not one max per block, so it is the estimator of choice
    when tails are the question (capacity planning, reinsurance,
    SLO-burn sizing). Numeric discipline end to end: revenue stays in
    micro-unit DECIMAL, the threshold is an exact order statistic
    (rank-deterministic day tiebreak), and the two PWM moments are
    integer-weighted DECIMAL sums — the ONLY nondeterministic-float
    ops are the final scalar divisions and one pow(), which is
    q9-quantized before use. 100 TB shape: one fact aggregate to
    O(days), two ordered windows over that bounded frame, 1-row
    output."""
    # ckpt x2: the day aggregate (the only fact-scale pass) feeds the
    # count and the ranking; the ranked frame feeds the threshold row
    # AND the exceedance join (duplicate-scan sweep: orders was being
    # re-scanned 4x without these).
    daily = ckpt(
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(F.sum(qdec(F.col("o_totalprice"))).alias("revq"))
    )
    ranked = with_stats(
        daily,
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("(9 * count(1) + 9) div 10").cast("bigint").alias("k"),
    ).select(
        "revq",
        "n",
        "k",
        F.row_number().over(Window.orderBy(F.asc("revq"), F.asc("day"))).alias("rn"),
    )
    ranked = ckpt(ranked)
    thr = ranked.filter(F.col("rn") == F.col("k")).select(
        F.col("revq").alias("u"), "n", "k"
    )
    exc = (
        ranked.join(F.broadcast(thr.select("u", F.col("n").alias("n2"))), how="cross")
        .filter(F.col("revq") > F.col("u"))
        .select(
            (F.col("revq") - F.col("u")).alias("e"),
            "u",
            F.col("n2").alias("n"),
            "rn",
        )
        .select(
            "e",
            "u",
            "n",
            F.row_number().over(Window.orderBy(F.asc("e"), F.asc("rn"))).alias("ern"),
        )
    )
    pwm = exc.agg(
        F.any_value("u").alias("u"),
        F.any_value("n").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("ne"),
        F.sum("e").alias("se"),
        F.sum(F.col("ern") * F.col("e")).alias("sie"),
    )
    # a1 = E[X(1-F)] needs DECREASING weights (ne-i); via the identity
    # sum((ne-i) e) = ne*sum(e) - sum(i*e) it stays one DECIMAL pass
    par = pwm.select(
        "n",
        "ne",
        (F.col("u").cast("double") / F.lit(1e6)).alias("u_d"),
        ((F.col("se").cast("double") / F.lit(1e6)) / F.col("ne")).alias("b0"),
        (
            ((F.col("ne") * F.col("se") - F.col("sie")).cast("double") / F.lit(1e6))
            / (F.col("ne") * (F.col("ne") - F.lit(1.0)))
        ).alias("b1"),
    )
    denom = F.col("b0") - F.lit(2.0) * F.col("b1")
    gpd = par.select(
        "n",
        "ne",
        "u_d",
        (F.lit(2.0) - F.col("b0") / denom).alias("xi"),
        ((F.lit(2.0) * F.col("b0") * F.col("b1")) / denom).alias("sigma"),
        (F.col("ne").cast("double") / F.col("n")).alias("zeta"),
    )
    rl = F.col("u_d") + (F.col("sigma") / F.col("xi")) * (
        qround(F.pow(F.lit(100.0) * F.col("zeta"), F.col("xi")), 9) - F.lit(1.0)
    )
    return gpd.select(
        F.col("n").alias("n_days"),
        F.col("ne").alias("n_exceed"),
        qround(F.col("u_d")).alias("threshold"),
        qround(F.col("xi")).alias("xi"),
        qround(F.col("sigma")).alias("sigma"),
        qround(rl).alias("return_level_100d"),
    )


@register(
    "ts_kendall_tau",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day,
           CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x,
           CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS y
    FROM events GROUP BY 1
), pairs AS (
    SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END AS conc,
           CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END AS disc,
           CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx,
           CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty
    FROM daily a JOIN daily b ON a.day < b.day
), s AS (
    SELECT CAST((SELECT COUNT(*) FROM daily) AS BIGINT) AS n,
           CAST(SUM(conc) AS BIGINT) AS c,
           CAST(SUM(disc) AS BIGINT) AS d,
           CAST(SUM(tx) AS BIGINT) AS n1,
           CAST(SUM(ty) AS BIGINT) AS n2,
           CAST(COUNT(*) AS BIGINT) AS n0
    FROM pairs
)
SELECT n AS n_days, c AS concordant, d AS discordant,
       n1 AS tied_x_pairs, n2 AS tied_y_pairs,
       FLOOR(CAST(c - d AS DOUBLE)
             / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS tau_b,
       FLOOR(3.0 * (c - d)
             / sqrt(CAST(n AS DOUBLE) * (n - 1.0) * (2.0 * n + 5.0) / 2.0)
             * 1000000 + 0.5) / 1000000 AS z_stat
FROM s
""",
)
def ts_kendall_tau(spark, sf_dir):
    """Kendall tau-b between daily view and purchase volume — the
    rank-concordance complement to agg_spearman: tau counts PAIRWISE
    order agreements, so it is the statistic of choice when the series
    are short, tie-heavy, or the question is literally 'how often do
    the two metrics move together?'. Exact, not sampled: the day-pair
    self-join is over the POST-AGGREGATE day table (O(days^2) pairs of
    a bounded frame — at 100 TB the fact scan is still one pass and
    the pair join stays tiny), concordant/discordant/tie counts are
    pure integers, and tau-b's tie correction divides exact bigints
    with one final sqrt. The normal z uses the standard
    no-ties-variance approximation 3(C-D)/sqrt(n(n-1)(2n+5)/2),
    reported alongside the exact counts."""
    ev = t(spark, sf_dir, "events")
    daily = ckpt(
        by_day(ev).agg(
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("bigint")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("bigint")
            .alias("y"),
        )
    )
    a = daily.select(F.col("day").alias("da"), F.col("x").alias("xa"), F.col("y").alias("ya"))
    b = daily.select(F.col("day").alias("db"), F.col("x").alias("xb"), F.col("y").alias("yb"))
    prod = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    pairs = a.join(b, F.col("da") < F.col("db")).select(
        F.when(prod > 0, 1).otherwise(0).alias("conc"),
        F.when(prod < 0, 1).otherwise(0).alias("disc"),
        F.when(F.col("xa") == F.col("xb"), 1).otherwise(0).alias("tx"),
        F.when(F.col("ya") == F.col("yb"), 1).otherwise(0).alias("ty"),
    )
    nn = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    s = pairs.agg(
        F.sum("conc").cast("bigint").alias("c"),
        F.sum("disc").cast("bigint").alias("d"),
        F.sum("tx").cast("bigint").alias("n1"),
        F.sum("ty").cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n0"),
    ).crossJoin(F.broadcast(nn))
    cd = F.col("c") - F.col("d")
    return s.select(
        F.col("n").alias("n_days"),
        F.col("c").alias("concordant"),
        F.col("d").alias("discordant"),
        F.col("n1").alias("tied_x_pairs"),
        F.col("n2").alias("tied_y_pairs"),
        qround(
            cd.cast("double")
            / F.sqrt(
                (F.col("n0") - F.col("n1")).cast("double")
                * (F.col("n0") - F.col("n2")).cast("double")
            )
        ).alias("tau_b"),
        qround(
            F.lit(3.0)
            * cd
            / F.sqrt(
                F.col("n").cast("double")
                * (F.col("n") - F.lit(1.0))
                * (F.lit(2.0) * F.col("n") + F.lit(5.0))
                / F.lit(2.0)
            )
        ).alias("z_stat"),
    )


@register(
    "ts_cointegration_eg",
    oracle="""
WITH seg AS (
    SELECT CAST(o.o_orderdate AS DATE) AS day, c.c_mktsegment AS seg,
           SUM(CAST(FLOOR(o.o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6))) AS revq
    FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    GROUP BY 1, 2
), spine AS (
    SELECT day,
           SUM(CASE WHEN seg = 'BUILDING' THEN revq ELSE CAST(0 AS DECIMAL(38,6)) END)
               AS bx,
           SUM(CASE WHEN seg = 'MACHINERY' THEN revq ELSE CAST(0 AS DECIMAL(38,6)) END)
               AS by
    FROM seg GROUP BY 1
), cum AS (
    -- levels in BILLIONS: the q12 moment terms below must stay under
    -- Spark floor()'s LONG range (x*x*1e12 overflowed it at sf0.1
    -- in million units — caught by the 10x driver-scale sweep)
    SELECT day,
           CAST(SUM(bx) OVER (ORDER BY day) AS DOUBLE) / 1e15 AS x,
           CAST(SUM(by) OVER (ORDER BY day) AS DOUBLE) / 1e15 AS y
    FROM spine
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS sxx,
           CAST(SUM(CAST(FLOOR(x * y * 1e12 + 0.5) AS DECIMAL(38,12))) AS DOUBLE) / 1e12 AS sxy
    FROM cum
), ols AS (
    SELECT n, (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
           (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n AS alpha
    FROM m
), resid AS (
    SELECT day, y - alpha - beta * x AS e FROM cum, ols
), lagged AS (
    SELECT e, LAG(e) OVER (ORDER BY day) AS e1 FROM resid
), adf AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS m,
           CAST(SUM(CAST(FLOOR(e1 * (e - e1) * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS sed,
           CAST(SUM(CAST(FLOOR(e1 * e1 * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS see,
           CAST(SUM(CAST(FLOOR((e - e1) * (e - e1) * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS sdd
    FROM lagged WHERE e1 IS NOT NULL
), stat AS (
    SELECT m, sed / see AS rho,
           (sdd - (sed / see) * sed) / (m - 1.0) AS s2, see
    FROM adf
)
SELECT CAST(m + 1.0 AS BIGINT) AS n_days,
       FLOOR((SELECT beta FROM ols) * 1000000 + 0.5) / 1000000 AS beta,
       FLOOR((SELECT alpha FROM ols) * 1000000 + 0.5) / 1000000 AS alpha,
       FLOOR(rho * 1000000 + 0.5) / 1000000 AS rho,
       FLOOR(rho / sqrt(s2 / see) * 1000000 + 0.5) / 1000000 AS adf_t,
       rho / sqrt(s2 / see) < -3.34 AS cointegrated
FROM stat
""",
)
def ts_cointegration_eg(spark, sf_dir):
    """Engle-Granger two-step cointegration test between two segments'
    CUMULATIVE revenue paths — 'do these books share a common
    stochastic trend?', the question behind pairs trading, hedged
    budgeting, and any long-run-equilibrium claim (two I(1) series can
    correlate at 0.99 and still drift apart forever — cointegration is
    the honest test). Step 1: OLS of level y on level x from exact
    moment sums. Step 2: no-constant Dickey-Fuller on the residuals
    (rho = sum(e1*de)/sum(e1^2), t = rho/se(rho)) against the
    Engle-Granger 5% critical value -3.34 (2 variables, n>100;
    MacKinnon 1991). Everything is windows + aggregates over the
    O(days) frame: revenue accumulates in micro-unit DECIMAL, levels
    rescale to millions so every q12-DECIMAL moment stays in range,
    the residual pass is one broadcast of the 1-row coefficients.
    Complements ts_granger_causality (short-run lead/lag) with the
    long-run equilibrium view."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    seg = by_day(
        o.join(c, o["o_custkey"] == c["c_custkey"]).filter(
            F.col("c_mktsegment").isin("BUILDING", "MACHINERY")
        ),
        F.col("c_mktsegment").alias("seg"),
        col="o_orderdate",
    ).agg(F.sum(qdec(F.col("o_totalprice"))).alias("revq"))
    zero = F.lit(0).cast("decimal(38,6)")
    spine = seg.groupBy("day").agg(
        F.sum(F.when(F.col("seg") == "BUILDING", F.col("revq")).otherwise(zero)).alias("bx"),
        F.sum(F.when(F.col("seg") == "MACHINERY", F.col("revq")).otherwise(zero)).alias("by"),
    )
    wc = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    # levels in BILLIONS — keeps x*x*1e12 under Spark floor()'s LONG
    # range (overflowed at sf0.1 in million units; 10x-sweep catch)
    cum = ckpt(
        spine.select(
            "day",
            (F.sum("bx").over(wc).cast("double") / F.lit(1e15)).alias("x"),
            (F.sum("by").over(wc).cast("double") / F.lit(1e15)).alias("y"),
        )
    )
    m = cum.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        qsum(F.col("x"), 12).alias("sx"),
        qsum(F.col("y"), 12).alias("sy"),
        qsum(F.col("x") * F.col("x"), 12).alias("sxx"),
        qsum(F.col("x") * F.col("y"), 12).alias("sxy"),
    )
    beta = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ols = m.select(
        "n",
        beta.alias("beta"),
        ((F.col("sy") - beta * F.col("sx")) / F.col("n")).alias("alpha"),
    )
    resid = cum.crossJoin(F.broadcast(ols)).select(
        "day", (F.col("y") - F.col("alpha") - F.col("beta") * F.col("x")).alias("e")
    )
    lagged = resid.select(
        "e", F.lag("e").over(Window.orderBy("day")).alias("e1")
    ).filter(F.col("e1").isNotNull())
    adf = lagged.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        qsum(F.col("e1") * (F.col("e") - F.col("e1")), 12).alias("sed"),
        qsum(F.col("e1") * F.col("e1"), 12).alias("see"),
        qsum((F.col("e") - F.col("e1")) * (F.col("e") - F.col("e1")), 12).alias("sdd"),
    )
    rho = F.col("sed") / F.col("see")
    stat = adf.select(
        "m",
        rho.alias("rho"),
        ((F.col("sdd") - rho * F.col("sed")) / (F.col("m") - F.lit(1.0))).alias("s2"),
        "see",
    )
    tstat = F.col("rho") / F.sqrt(F.col("s2") / F.col("see"))
    return (
        stat.crossJoin(F.broadcast(ols.select("beta", "alpha")))
        .select(
            (F.col("m") + F.lit(1.0)).cast("bigint").alias("n_days"),
            qround(F.col("beta")).alias("beta"),
            qround(F.col("alpha")).alias("alpha"),
            qround(F.col("rho")).alias("rho"),
            qround(tstat).alias("adf_t"),
            (tstat < F.lit(-3.34)).alias("cointegrated"),
        )
    )


@register(
    "ts_matrix_profile",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT ROW_NUMBER() OVER (ORDER BY day) AS i, x FROM daily
), l AS (
    SELECT list(x ORDER BY i) AS xs, CAST(COUNT(*) AS BIGINT) AS n FROM series
), win AS (
    SELECT CAST(sr.i AS BIGINT) AS i, l.xs[sr.i:sr.i + 6] AS w,
           list_sum(l.xs[sr.i:sr.i + 6]) AS s,
           list_sum(list_transform(l.xs[sr.i:sr.i + 6], v -> v * v)) AS q
    FROM series sr, l WHERE sr.i <= l.n - 6
), feas AS (
    SELECT i, w, s, q FROM win WHERE 7 * q - s * s > 0
), pairs AS (
    SELECT a.i AS ia, b.i AS ib,
           list_sum(list_transform(range(1, 8), k -> a.w[k] * b.w[k])) AS dot,
           a.s AS sa, a.q AS qa, b.s AS sb, b.q AS qb
    FROM feas a JOIN feas b ON abs(a.i - b.i) >= 7
), dists AS (
    SELECT ia, ib,
           FLOOR(sqrt(GREATEST(2.0 * 7.0 * (1.0 -
               (7.0 * dot - CAST(sa AS DOUBLE) * sb)
               / sqrt(CAST(7 * qa - sa * sa AS DOUBLE)
                      * CAST(7 * qb - sb * sb AS DOUBLE))), 0.0))
               * 1e9 + 0.5) / 1e9 AS d
    FROM pairs
), nn AS (
    SELECT ia, ib, d,
           ROW_NUMBER() OVER (PARTITION BY ia ORDER BY d, ib) AS rk
    FROM dists
)
SELECT ia AS idx, ib AS nn_idx,
       FLOOR(d * 1000000 + 0.5) / 1000000 AS nn_dist,
       CAST(ROW_NUMBER() OVER (ORDER BY d, ia) AS BIGINT) AS motif_rank
FROM nn WHERE rk = 1
""",
)
def ts_matrix_profile(spark, sf_dir):
    """Matrix profile (exact, window m=7) of the daily event-count
    series — for every week-shaped subsequence, the z-normalized
    distance to its nearest non-overlapping neighbor (Yeh et al. 2016):
    the lowest pair IS the top motif, the highest values are discords
    (anomalous weeks), all in one artifact. The integer-count series
    makes every moment EXACT: per-window sum/sumsq are bigints from
    one sliding frame, each pair's dot product is an integer fold, and
    the z-normalized distance d = sqrt(2m(1 - (m*dot - SaSb)/
    sqrt((m*Qa - Sa^2)(m*Qb - Sb^2)))) touches floats only in the
    final correctly-rounded IEEE ops — no quantization until the 1e-9
    ranking grain. Constant-variance windows are excluded (z-norm is
    undefined), the |i-j| >= m exclusion zone kills trivial matches.
    Scale: the fact table collapses to O(days); the pair join is
    O(windows^2) of that bounded frame — the classic post-aggregate
    all-pairs that stays tiny at any fact scale."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    series = daily.select(_day_index().alias("i"), "x")
    wf = Window.orderBy("i").rowsBetween(0, 6)
    win = ckpt(
        series.select(
            "i",
            F.collect_list("x").over(wf).alias("w"),
            F.sum("x").over(wf).alias("s"),
            F.sum(F.col("x") * F.col("x")).over(wf).alias("q"),
        )
        .filter(F.size("w") == 7)
        .filter(F.lit(7) * F.col("q") - F.col("s") * F.col("s") > 0)
    )
    a = win.select(F.col("i").alias("ia"), F.col("w").alias("wa"),
                   F.col("s").alias("sa"), F.col("q").alias("qa"))
    b = win.select(F.col("i").alias("ib"), F.col("w").alias("wb"),
                   F.col("s").alias("sb"), F.col("q").alias("qb"))
    pairs = a.join(b, F.abs(F.col("ia") - F.col("ib")) >= 7).select(
        "ia", "ib", "sa", "qa", "sb", "qb",
        F.expr(
            "aggregate(zip_with(wa, wb, (p, r) -> p * r), 0L, (acc, v) -> acc + v)"
        ).alias("dot"),
    )
    ncc = (F.lit(7.0) * F.col("dot") - F.col("sa").cast("double") * F.col("sb")) / F.sqrt(
        (F.lit(7) * F.col("qa") - F.col("sa") * F.col("sa")).cast("double")
        * (F.lit(7) * F.col("qb") - F.col("sb") * F.col("sb")).cast("double")
    )
    d9 = qround(F.sqrt(F.greatest(F.lit(2.0) * F.lit(7.0) * (F.lit(1.0) - ncc), F.lit(0.0))), 9)
    dists = pairs.select("ia", "ib", d9.alias("d"))
    wn = Window.partitionBy("ia").orderBy(F.asc("d"), F.asc("ib"))
    wm = Window.orderBy(F.asc("d"), F.asc("ia"))
    return (
        dists.withColumn("rk", F.row_number().over(wn))
        .filter(F.col("rk") == 1)
        .select(
            F.col("ia").cast("int").alias("idx"),
            F.col("ib").cast("int").alias("nn_idx"),
            qround(F.col("d")).alias("nn_dist"),
            F.row_number().over(wm).cast("bigint").alias("motif_rank"),
        )
    )


@register(
    "ts_littles_law_audit",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, event_id,
           epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
    FROM events
), flagged AS (
    SELECT user_id, ts,
           CASE WHEN gap_us IS NULL OR gap_us >= 1800000000 THEN 1 ELSE 0 END
               AS new_session
    FROM ordered
), numbered AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
), sessions AS (
    SELECT user_id, session_id,
           epoch_us(MIN(ts)) AS s_us, epoch_us(MAX(ts)) AS e_us
    FROM numbered GROUP BY 1, 2
), horizon AS (
    SELECT MIN(s_us) AS lo, MAX(e_us) AS hi,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(e_us - s_us) AS BIGINT) AS busy_us
    FROM sessions
), ticks AS (
    SELECT h.lo + 3600000000 * g.k AS tick_us
    FROM horizon h, generate_series(0, 2000) g(k)
    WHERE h.lo + 3600000000 * g.k <= h.hi
), sampled AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_ticks,
           CAST(SUM(c) AS BIGINT) AS covered
    FROM (
        SELECT t.tick_us,
               (SELECT COUNT(*) FROM sessions s
                WHERE s.s_us <= t.tick_us AND t.tick_us < s.e_us) AS c
        FROM ticks t
    )
)
SELECT h.n_sessions,
       FLOOR(CAST(h.n_sessions AS DOUBLE)
             / (CAST(h.hi - h.lo AS DOUBLE) / 3600000000.0)
             * 1000000 + 0.5) / 1000000 AS lambda_per_hr,
       FLOOR(CAST(h.busy_us AS DOUBLE) / h.n_sessions / 1000000.0
             * 1000000 + 0.5) / 1000000 AS w_mean_s,
       FLOOR(CAST(h.busy_us AS DOUBLE) / CAST(h.hi - h.lo AS DOUBLE)
             * 1000000 + 0.5) / 1000000 AS l_exact,
       s.n_ticks,
       FLOOR(CAST(s.covered AS DOUBLE) / s.n_ticks * 1000000 + 0.5) / 1000000
           AS l_sampled,
       FLOOR((CAST(s.covered AS DOUBLE) / s.n_ticks
              - CAST(h.busy_us AS DOUBLE) / CAST(h.hi - h.lo AS DOUBLE))
             * 1000000 + 0.5) / 1000000 AS sampling_bias
FROM horizon h, sampled s
""",
)
def ts_littles_law_audit(spark, sf_dir):
    """Little's law audit: L = lambda * W computed EXACTLY from the
    session intervals (L = total busy-time / horizon — the identity a
    correct sessionizer must satisfy) versus L as monitoring actually
    measures it — instantaneous concurrency SAMPLED at hourly ticks.
    The gap between the two is the real finding: tick sampling
    undercounts short sessions entirely (a session that starts and
    ends between ticks contributes W to the exact L but 0 to the
    sampled one), which is why dashboard 'avg concurrent users' and
    capacity math from arrival rates disagree. Same 30-min-gap
    sessionization as ts_session (shared definition, event_id
    tiebreak); everything is exact MICROSECOND integer arithmetic —
    horizon, busy time, tick membership — until the three final
    divisions. The tick probe is a bounded range join: O(ticks x
    avg-concurrency) rows, never ticks x sessions."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.expr("timestampdiff(MICROSECOND, lag(ts) over (partition by user_id order by ts, event_id), ts)")
    flagged = ev.select(
        "user_id",
        "ts",
        F.when(gap.isNull() | (gap >= 1800000000), 1).otherwise(0).alias("new_session"),
    )
    numbered = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .alias("session_id"),
    )
    # NTZ-safe epoch: diff against a fixed NTZ origin (unix_micros
    # rejects TIMESTAMP_NTZ; a cast would re-introduce the session TZ)
    us = F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', ts)")
    sessions = ckpt(
        numbered.select("user_id", "session_id", us.alias("us"))
        .groupBy("user_id", "session_id")
        .agg(F.min("us").alias("s_us"), F.max("us").alias("e_us"))
    )
    horizon = sessions.agg(
        F.min("s_us").alias("lo"),
        F.max("e_us").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.col("e_us") - F.col("s_us")).cast("bigint").alias("busy_us"),
    )
    ticks = (
        horizon.select("lo", "hi")
        .select(F.explode(F.sequence(F.lit(0), F.lit(2000))).alias("k"), "lo", "hi")
        .select((F.col("lo") + F.lit(3600000000) * F.col("k")).alias("tick_us"), "hi")
        .filter(F.col("tick_us") <= F.col("hi"))
        .select("tick_us")
    )
    covered = (
        ticks.join(
            sessions,
            (F.col("s_us") <= F.col("tick_us")) & (F.col("tick_us") < F.col("e_us")),
            "left",
        )
        .groupBy("tick_us")
        .agg(F.sum(F.when(F.col("s_us").isNotNull(), 1).otherwise(0)).alias("c"))
    )
    sampled = covered.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        F.sum("c").cast("bigint").alias("covered"),
    )
    span = (F.col("hi") - F.col("lo")).cast("double")
    l_exact = F.col("busy_us").cast("double") / span
    l_sampled = F.col("covered").cast("double") / F.col("n_ticks")
    return horizon.crossJoin(F.broadcast(sampled)).select(
        "n_sessions",
        qround(F.col("n_sessions").cast("double") / (span / F.lit(3600000000.0))).alias(
            "lambda_per_hr"
        ),
        qround(F.col("busy_us").cast("double") / F.col("n_sessions") / F.lit(1000000.0)).alias(
            "w_mean_s"
        ),
        qround(l_exact).alias("l_exact"),
        "n_ticks",
        qround(l_sampled).alias("l_sampled"),
        qround(l_sampled - l_exact).alias("sampling_bias"),
    )


@register(
    "ts_binseg_changepoints",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT day, x,
           CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i,
           CAST(SUM(x) OVER (ORDER BY day) AS BIGINT) AS p,
           CAST(SUM(x * x) OVER (ORDER BY day) AS BIGINT) AS q
    FROM daily
), nn AS (
    SELECT MAX(i) AS n, MAX(p) AS pn, MAX(q) AS qn FROM series
), g1 AS (
    SELECT s.i AS k, s.day,
           FLOOR((
             (CAST(nn.qn AS DOUBLE) - CAST(nn.pn AS DOUBLE) * nn.pn / nn.n)
             - (CAST(s.q AS DOUBLE) - CAST(s.p AS DOUBLE) * s.p / s.i)
             - (CAST(nn.qn - s.q AS DOUBLE)
                - CAST(nn.pn - s.p AS DOUBLE) * (nn.pn - s.p) / (nn.n - s.i))
           ) * 1e9 + 0.5) / 1e9 AS gain,
           CAST(s.p AS DOUBLE) / s.i AS mean_l,
           CAST(nn.pn - s.p AS DOUBLE) / (nn.n - s.i) AS mean_r
    FROM series s, nn WHERE s.i < nn.n
), cp1 AS (
    SELECT * FROM g1 ORDER BY gain DESC, k LIMIT 1
), sides AS (
    SELECT 'left' AS side, CAST(0 AS BIGINT) AS a_p, CAST(0 AS BIGINT) AS a_q,
           CAST(0 AS BIGINT) AS a_i, c.k AS b_i,
           (SELECT p FROM series WHERE i = c.k) AS b_p,
           (SELECT q FROM series WHERE i = c.k) AS b_q
    FROM cp1 c
    UNION ALL
    SELECT 'right', (SELECT p FROM series WHERE i = c.k),
           (SELECT q FROM series WHERE i = c.k), c.k, nn.n, nn.pn, nn.qn
    FROM cp1 c, nn
), g2 AS (
    SELECT d.side, s.i AS k, s.day,
           FLOOR((
             (CAST(d.b_q - d.a_q AS DOUBLE)
              - CAST(d.b_p - d.a_p AS DOUBLE) * (d.b_p - d.a_p) / (d.b_i - d.a_i))
             - (CAST(s.q - d.a_q AS DOUBLE)
                - CAST(s.p - d.a_p AS DOUBLE) * (s.p - d.a_p) / (s.i - d.a_i))
             - (CAST(d.b_q - s.q AS DOUBLE)
                - CAST(d.b_p - s.p AS DOUBLE) * (d.b_p - s.p) / (d.b_i - s.i))
           ) * 1e9 + 0.5) / 1e9 AS gain,
           CAST(s.p - d.a_p AS DOUBLE) / (s.i - d.a_i) AS mean_l,
           CAST(d.b_p - s.p AS DOUBLE) / (d.b_i - s.i) AS mean_r
    FROM sides d JOIN series s ON s.i > d.a_i AND s.i < d.b_i
), cp2 AS (
    SELECT side, k, day, gain, mean_l, mean_r,
           ROW_NUMBER() OVER (PARTITION BY side ORDER BY gain DESC, k) AS rk
    FROM g2
)
SELECT 1 AS level, 'mid' AS side, k, day,
       FLOOR(gain * 1000000 + 0.5) / 1000000 AS gain,
       FLOOR(mean_l * 1000000 + 0.5) / 1000000 AS mean_l,
       FLOOR(mean_r * 1000000 + 0.5) / 1000000 AS mean_r
FROM cp1
UNION ALL
SELECT 2, side, k, day,
       FLOOR(gain * 1000000 + 0.5) / 1000000,
       FLOOR(mean_l * 1000000 + 0.5) / 1000000,
       FLOOR(mean_r * 1000000 + 0.5) / 1000000
FROM cp2 WHERE rk = 1
""",
)
def ts_binseg_changepoints(spark, sf_dir):
    """Two-level binary segmentation (Scott-Knott style) of the daily
    event-count series — extends ts_changepoint's single split to the
    standard recursive scheme: find the SSE-optimal split, then the
    optimal split within each half (3 changepoints, 4 regimes). The
    whole search is PREFIX-SUM algebra on exact integers: for any
    segment, SSE = (Q_b - Q_a) - (P_b - P_a)^2 / len from the one
    cumulative pass, so evaluating every candidate split is a
    projection over the O(days) frame — no per-candidate scan, no
    iteration beyond the two unrolled levels. Gains are q9-quantized
    before the argmax (ties break on the earlier day) so split
    selection is cross-engine deterministic. 100 TB shape: one fact
    aggregate, one window, two bounded argmax reductions."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    wo = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    series = ckpt(
        daily.select(
            "day",
            "x",
            _day_index().alias("i"),
            F.sum("x").over(wo).cast("bigint").alias("p"),
            F.sum(F.col("x") * F.col("x")).over(wo).cast("bigint").alias("q"),
        )
    )
    nn = series.agg(
        F.max("i").alias("n"), F.max("p").alias("pn"), F.max("q").alias("qn")
    )

    def sse(qb, qa, pb, pa, ib, ia):
        ln = (ib - ia).cast("double")
        sp = (pb - pa).cast("double")
        return (qb - qa).cast("double") - sp * sp / ln

    g1 = (
        series.crossJoin(F.broadcast(nn))
        .filter(F.col("i") < F.col("n"))
        .select(
            F.col("i").alias("k"),
            "day",
            qround(
                sse(F.col("qn"), F.lit(0), F.col("pn"), F.lit(0), F.col("n"), F.lit(0))
                - sse(F.col("q"), F.lit(0), F.col("p"), F.lit(0), F.col("i"), F.lit(0))
                - sse(F.col("qn"), F.col("q"), F.col("pn"), F.col("p"), F.col("n"), F.col("i")),
                9,
            ).alias("gain"),
            (F.col("p").cast("double") / F.col("i")).alias("mean_l"),
            ((F.col("pn") - F.col("p")).cast("double") / (F.col("n") - F.col("i"))).alias("mean_r"),
        )
    )
    cp1 = ckpt(g1.orderBy(F.desc("gain"), F.asc("k")).limit(1))
    at_k = series.join(
        F.broadcast(cp1.select(F.col("k").alias("i"))), "i"
    ).select(F.col("i").alias("ki"), F.col("p").alias("kp"), F.col("q").alias("kq"))
    zero = F.lit(0).cast("bigint")
    sides = (
        at_k.select(
            F.lit("left").alias("side"),
            zero.alias("a_p"), zero.alias("a_q"), zero.alias("a_i"),
            F.col("ki").alias("b_i"), F.col("kp").alias("b_p"), F.col("kq").alias("b_q"),
        )
        .unionByName(
            at_k.crossJoin(F.broadcast(nn)).select(
                F.lit("right").alias("side"),
                F.col("kp").alias("a_p"), F.col("kq").alias("a_q"), F.col("ki").alias("a_i"),
                F.col("n").alias("b_i"), F.col("pn").alias("b_p"), F.col("qn").alias("b_q"),
            )
        )
    )
    g2 = (
        series.crossJoin(F.broadcast(sides))
        .filter((F.col("i") > F.col("a_i")) & (F.col("i") < F.col("b_i")))
        .select(
            "side",
            F.col("i").alias("k"),
            "day",
            qround(
                sse(F.col("b_q"), F.col("a_q"), F.col("b_p"), F.col("a_p"), F.col("b_i"), F.col("a_i"))
                - sse(F.col("q"), F.col("a_q"), F.col("p"), F.col("a_p"), F.col("i"), F.col("a_i"))
                - sse(F.col("b_q"), F.col("q"), F.col("b_p"), F.col("p"), F.col("b_i"), F.col("i")),
                9,
            ).alias("gain"),
            ((F.col("p") - F.col("a_p")).cast("double") / (F.col("i") - F.col("a_i"))).alias("mean_l"),
            ((F.col("b_p") - F.col("p")).cast("double") / (F.col("b_i") - F.col("i"))).alias("mean_r"),
        )
    )
    ws = Window.partitionBy("side").orderBy(F.desc("gain"), F.asc("k"))
    cp2 = g2.withColumn("rk", F.row_number().over(ws)).filter(F.col("rk") == 1)
    out1 = cp1.select(
        F.lit(1).alias("level"), F.lit("mid").alias("side"), "k", "day",
        qround(F.col("gain")).alias("gain"),
        qround(F.col("mean_l")).alias("mean_l"),
        qround(F.col("mean_r")).alias("mean_r"),
    )
    out2 = cp2.select(
        F.lit(2).alias("level"), "side", "k", "day",
        qround(F.col("gain")).alias("gain"),
        qround(F.col("mean_l")).alias("mean_l"),
        qround(F.col("mean_r")).alias("mean_r"),
    )
    return out1.unionByName(out2)


@register(
    "ts_synth_control_1nn",
    oracle="""
WITH sales AS (
    SELECT p.p_brand AS brand, date_trunc('week', l.l_shipdate) AS wk,
           SUM(CAST(FLOOR(l.l_extendedprice * 1e6 + 0.5) AS DECIMAL(38,6))) AS revq
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2
), spine AS (
    SELECT b.brand, w.wk, CAST(COALESCE(s.revq, 0) AS DOUBLE) / 1e6 AS rev
    FROM (SELECT DISTINCT brand FROM sales) b
    CROSS JOIN (SELECT DISTINCT wk FROM sales) w
    LEFT JOIN sales s ON s.brand = b.brand AND s.wk = w.wk
), split AS (
    SELECT wk AS cut FROM (
        SELECT wk, ROW_NUMBER() OVER (ORDER BY wk) AS rn, COUNT(*) OVER () AS n
        FROM (SELECT DISTINCT wk FROM sales)
    ) WHERE rn = (n + 1) // 2
), tre AS (
    SELECT wk, rev FROM spine WHERE brand = 'Brand#11'
), pre_pairs AS (
    SELECT d.brand, d.rev AS x, t.rev AS y
    FROM spine d JOIN tre t ON t.wk = d.wk, split
    WHERE d.brand <> 'Brand#11' AND d.wk < split.cut
), corr AS (
    SELECT brand,
           FLOOR((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y))
                 / sqrt((COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))
                        * (COUNT(*) * SUM(y * y) - SUM(y) * SUM(y)))
                 * 1e9 + 0.5) / 1e9 AS r
    FROM pre_pairs GROUP BY 1
), donor AS (
    SELECT brand, r FROM corr ORDER BY r DESC, brand LIMIT 1
), phases AS (
    SELECT CASE WHEN s.wk < split.cut THEN 'pre' ELSE 'post' END AS phase,
           AVG(CASE WHEN s.brand = 'Brand#11' THEN s.rev END) AS m_t,
           AVG(CASE WHEN s.brand = donor.brand THEN s.rev END) AS m_d
    FROM spine s, split, donor
    WHERE s.brand IN ('Brand#11', donor.brand)
    GROUP BY 1
)
SELECT donor.brand AS donor_brand,
       FLOOR(donor.r * 1000000 + 0.5) / 1000000 AS pre_corr,
       FLOOR((SELECT m_t - m_d FROM phases WHERE phase = 'pre')
             * 1000000 + 0.5) / 1000000 AS pre_gap,
       FLOOR((SELECT m_t - m_d FROM phases WHERE phase = 'post')
             * 1000000 + 0.5) / 1000000 AS post_gap,
       FLOOR(((SELECT m_t - m_d FROM phases WHERE phase = 'post')
              - (SELECT m_t - m_d FROM phases WHERE phase = 'pre'))
             * 1000000 + 0.5) / 1000000 AS effect
FROM donor
""",
)
def ts_synth_control_1nn(spark, sf_dir):
    """Synthetic-control-style effect estimate with a 1-NN donor — the
    Abadie idea at its simplest honest size: pick the control unit
    whose PRE-period weekly revenue co-moves most with the treated
    brand (max Pearson r over the zero-filled brand x week spine —
    silent weeks must count, or correlation is computed on a biased
    sample), then estimate the treatment-period effect as the
    difference-in-gaps. Beats ml_diff_in_diff's fixed control exactly
    when the parallel-trends assumption needs to be EARNED by donor
    selection rather than assumed. All moment sums are over the
    bounded spine (brands x weeks); correlation is q9-quantized before
    the deterministic argmax (tie -> brand name). One fact-scale
    aggregate; everything after is O(brands x weeks)."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate", "l_extendedprice")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    sales = ckpt(
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            F.col("p_brand").alias("brand"),
            F.date_trunc("week", "l_shipdate").alias("wk"),
        )
        .agg(F.sum(qdec(F.col("l_extendedprice"))).alias("revq"))
    )
    brands = sales.select("brand").distinct()
    weeks = sales.select("wk").distinct()
    spine = ckpt(
        brands.crossJoin(weeks)
        .join(sales, ["brand", "wk"], "left")
        .select(
            "brand",
            "wk",
            (
                F.coalesce(F.col("revq"), F.lit(0).cast("decimal(38,6)")).cast("double")
                / F.lit(1e6)
            ).alias("rev"),
        )
    )
    wr = Window.orderBy("wk")
    split = (
        weeks.select("wk", F.row_number().over(wr).alias("rn"))
        .crossJoin(F.broadcast(weeks.agg(F.count(F.lit(1)).alias("n"))))
        .filter(F.col("rn") == (F.col("n") + 1).cast("bigint") / 2)
        .select(F.col("wk").alias("cut"))
    )
    tre = spine.filter(F.col("brand") == "Brand#11").select(
        "wk", F.col("rev").alias("y")
    )
    pre_pairs = (
        spine.filter(F.col("brand") != "Brand#11")
        .join(tre, "wk")
        .crossJoin(F.broadcast(split))
        .filter(F.col("wk") < F.col("cut"))
        .select("brand", F.col("rev").alias("x"), "y")
    )
    corr = pre_pairs.groupBy("brand").agg(
        qround(
            (
                F.count(F.lit(1)) * F.sum(F.col("x") * F.col("y"))
                - F.sum("x") * F.sum("y")
            )
            / F.sqrt(
                (
                    F.count(F.lit(1)) * F.sum(F.col("x") * F.col("x"))
                    - F.sum("x") * F.sum("x")
                )
                * (
                    F.count(F.lit(1)) * F.sum(F.col("y") * F.col("y"))
                    - F.sum("y") * F.sum("y")
                )
            ),
            9,
        ).alias("r")
    )
    donor = ckpt(corr.orderBy(F.desc("r"), F.asc("brand")).limit(1))
    phases = (
        spine.crossJoin(F.broadcast(split))
        .crossJoin(F.broadcast(donor.select(F.col("brand").alias("dbrand"))))
        .filter((F.col("brand") == "Brand#11") | (F.col("brand") == F.col("dbrand")))
        .groupBy(
            F.when(F.col("wk") < F.col("cut"), "pre").otherwise("post").alias("phase")
        )
        .agg(
            F.avg(F.when(F.col("brand") == "Brand#11", F.col("rev"))).alias("m_t"),
            F.avg(F.when(F.col("brand") == F.col("dbrand"), F.col("rev"))).alias("m_d"),
        )
        .select("phase", (F.col("m_t") - F.col("m_d")).alias("gap"))
    )
    pre = phases.filter(F.col("phase") == "pre").select(F.col("gap").alias("pre_gap"))
    post = phases.filter(F.col("phase") == "post").select(F.col("gap").alias("post_gap"))
    return (
        donor.crossJoin(F.broadcast(pre))
        .crossJoin(F.broadcast(post))
        .select(
            F.col("brand").alias("donor_brand"),
            qround(F.col("r")).alias("pre_corr"),
            qround(F.col("pre_gap")).alias("pre_gap"),
            qround(F.col("post_gap")).alias("post_gap"),
            qround(F.col("post_gap") - F.col("pre_gap")).alias("effect"),
        )
    )


@register(
    "ts_peak_prominence",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
    FROM daily
), peaks AS (
    SELECT i, day, x FROM (
        SELECT i, day, x,
               LAG(x) OVER (ORDER BY i) AS xl, LEAD(x) OVER (ORDER BY i) AS xr
        FROM series
    ) WHERE xl IS NOT NULL AND xr IS NOT NULL AND x > xl AND x >= xr
), bounds AS (
    SELECT p.i, p.day, p.x,
           MAX(CASE WHEN s.i < p.i AND s.x > p.x THEN s.i END) AS l,
           MIN(CASE WHEN s.i > p.i AND s.x > p.x THEN s.i END) AS r
    FROM peaks p JOIN series s ON TRUE
    GROUP BY 1, 2, 3
), valleys AS (
    SELECT b.i, b.day, b.x,
           MIN(CASE WHEN s.i > COALESCE(b.l, 0) AND s.i < b.i THEN s.x END)
               AS v_left,
           MIN(CASE WHEN s.i > b.i AND s.i < COALESCE(b.r, 1099511627776) THEN s.x END)
               AS v_right
    FROM bounds b JOIN series s ON TRUE
    GROUP BY 1, 2, 3
)
SELECT day, x AS height,
       CAST(x - GREATEST(v_left, v_right) AS BIGINT) AS prominence,
       CAST(ROW_NUMBER() OVER (ORDER BY x - GREATEST(v_left, v_right) DESC, day)
            AS BIGINT) AS rank
FROM valleys
ORDER BY rank LIMIT 10
""",
)
def ts_peak_prominence(spark, sf_dir):
    """Topographic peak prominence on the daily event-count series —
    the signal-processing notion of 'how much does this spike stand
    OUT', immune to the absolute-threshold trap (a 500-count peak on a
    400-count plateau is less interesting than a 200-count peak out of
    a 50-count valley; scipy.signal.find_peaks(prominence=) is this
    exact contract). Per local max: nearest strictly-higher neighbor
    index on each side, the valley minimum on each enclosed flank,
    prominence = height - max(valleys); a side with no higher neighbor
    uses its full flank (documented edge convention, covering the
    global max). EVERYTHING is exact integer arithmetic — heights,
    valleys, prominences — so cross-engine parity needs zero
    quantization. Scale shape: fact table -> O(days) series, then the
    peak x series range join is over the bounded post-aggregate frame.
    Output: top-10 by (prominence, recency-stable day tiebreak)."""
    ev = t(spark, sf_dir, "events")
    series = ckpt(
        by_day(ev)
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("day", "x", _day_index().alias("i"))
    )
    wi = Window.orderBy("i")
    peaks = (
        series.select(
            "i", "day", "x",
            F.lag("x").over(wi).alias("xl"),
            F.lead("x").over(wi).alias("xr"),
        )
        .filter(
            F.col("xl").isNotNull()
            & F.col("xr").isNotNull()
            & (F.col("x") > F.col("xl"))
            & (F.col("x") >= F.col("xr"))
        )
        .select(F.col("i").alias("pi"), F.col("day").alias("pday"), F.col("x").alias("px"))
    )
    s = series.select(F.col("i").alias("si"), F.col("x").alias("sx"))
    bounds = (
        peaks.join(s, how="cross")
        .groupBy("pi", "pday", "px")
        .agg(
            F.max(F.when((F.col("si") < F.col("pi")) & (F.col("sx") > F.col("px")), F.col("si"))).alias("l"),
            F.min(F.when((F.col("si") > F.col("pi")) & (F.col("sx") > F.col("px")), F.col("si"))).alias("r"),
        )
    )
    valleys = (
        bounds.join(s, how="cross")
        .groupBy("pi", "pday", "px", "l", "r")
        .agg(
            F.min(
                F.when(
                    (F.col("si") > F.coalesce(F.col("l"), F.lit(0)))
                    & (F.col("si") < F.col("pi")),
                    F.col("sx"),
                )
            ).alias("v_left"),
            F.min(
                F.when(
                    (F.col("si") > F.col("pi"))
                    & (F.col("si") < F.coalesce(F.col("r"), F.lit(1099511627776))),
                    F.col("sx"),
                )
            ).alias("v_right"),
        )
    )
    prom = (F.col("px") - F.greatest(F.col("v_left"), F.col("v_right"))).cast("bigint")
    w = Window.orderBy(F.desc("prominence"), F.asc("day"))
    return (
        valleys.select(
            F.col("pday").alias("day"),
            F.col("px").alias("height"),
            prom.alias("prominence"),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 10)
        .orderBy("rank")
    )


def _haar_denoise_oracle() -> str:
    """Unrolled 5-level Haar analysis/synthesis CTEs over the first 32
    order days — textually mirrors the Spark loop: averages/differences
    down, keep the scaling coefficient plus the top-7 details, rebuild."""
    ctes = [
        """base AS MATERIALIZED (
    SELECT i, CAST(x AS DOUBLE) AS v, x, day FROM (
        SELECT CAST(o_orderdate AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x,
               CAST(ROW_NUMBER() OVER (ORDER BY CAST(o_orderdate AS DATE))
                    AS BIGINT) AS i
        FROM orders GROUP BY 1
    ) WHERE i <= 32
)""",
        "a0 AS (SELECT i, v FROM base)",
    ]
    for l in range(1, 6):
        ctes.append(
            f"""a{l} AS MATERIALIZED (
    SELECT o.i AS i, (o.v + e.v) / 2.0 AS v
    FROM (SELECT (i + 1) // 2 AS i, v FROM a{l - 1} WHERE i % 2 = 1) o
    JOIN (SELECT i // 2 AS i, v FROM a{l - 1} WHERE i % 2 = 0) e ON e.i = o.i
)"""
        )
        ctes.append(
            f"""d{l} AS MATERIALIZED (
    SELECT o.i AS i, (o.v - e.v) / 2.0 AS w
    FROM (SELECT (i + 1) // 2 AS i, v FROM a{l - 1} WHERE i % 2 = 1) o
    JOIN (SELECT i // 2 AS i, v FROM a{l - 1} WHERE i % 2 = 0) e ON e.i = o.i
)"""
        )
    det_union = " UNION ALL ".join(
        f"SELECT {l} AS lvl, i, w FROM d{l}" for l in range(1, 6)
    )
    ctes.append(
        f"""kept AS MATERIALIZED (
    SELECT lvl, i, w,
           ROW_NUMBER() OVER (ORDER BY abs(w) DESC, lvl, i) <= 7 AS keep
    FROM ({det_union})
)"""
    )
    ctes.append("b5 AS (SELECT i, v FROM a5)")
    for l in range(5, 0, -1):
        ctes.append(
            f"""b{l - 1} AS MATERIALIZED (
    SELECT 2 * b.i - 1 AS i,
           b.v + (CASE WHEN k.keep THEN k.w ELSE 0.0 END) AS v
    FROM b{l} b JOIN kept k ON k.lvl = {l} AND k.i = b.i
    UNION ALL
    SELECT 2 * b.i,
           b.v - (CASE WHEN k.keep THEN k.w ELSE 0.0 END)
    FROM b{l} b JOIN kept k ON k.lvl = {l} AND k.i = b.i
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + """
SELECT base.i, base.day, base.x,
       FLOOR(b0.v * 1000000 + 0.5) / 1000000 AS xhat,
       FLOOR((base.x - b0.v) * 1000000 + 0.5) / 1000000 AS err
FROM base JOIN b0 ON b0.i = base.i
"""
    )


@register("ts_haar_denoise", oracle=_haar_denoise_oracle())
def ts_haar_denoise(spark, sf_dir):
    """Haar wavelet denoising of the (first 32 days of the) daily order
    count series — keep the scaling coefficient plus the 7
    largest-magnitude detail coefficients (a 4x compression), rebuild,
    and emit the per-day reconstruction error: the classic
    sparse-in-wavelet-domain smoother that preserves EDGES (level
    shifts) where a moving average smears them, and the completing
    half of ts_haar_energy (which only scores band energies). The
    numeric story makes it hash-exact with ZERO quantization hazard:
    integer counts through averages/differences stay DYADIC rationals
    (exact in binary floating point), so analysis, top-7 selection
    (|w| desc with level/index tiebreak), and synthesis are
    bit-identical across engines by construction. Both sides unroll
    the same 5 analysis + 5 synthesis rounds over O(32)-row frames;
    the only fact-scale work is the day aggregate."""
    daily = (
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    base = ckpt(
        daily.select("day", "x", _day_index().alias("i")).filter(F.col("i") <= 32)
    )
    a = base.select("i", F.col("x").cast("double").alias("v"))
    details = {}
    for l in range(1, 6):
        o = a.filter(F.col("i") % 2 == 1).select(
            ((F.col("i") + 1) / 2).cast("bigint").alias("i"), F.col("v").alias("vo")
        )
        ev = a.filter(F.col("i") % 2 == 0).select(
            (F.col("i") / 2).cast("bigint").alias("i"), F.col("v").alias("ve")
        )
        j = o.join(ev, "i")
        a = ckpt(j.select("i", ((F.col("vo") + F.col("ve")) / 2).alias("v")))
        details[l] = j.select(
            F.lit(l).alias("lvl"), "i", ((F.col("vo") - F.col("ve")) / 2).alias("w")
        )
    det_union = details[1]
    for l in range(2, 6):
        det_union = det_union.unionByName(details[l])
    wk = Window.orderBy(F.abs(F.col("w")).desc(), F.asc("lvl"), F.asc("i"))
    kept = ckpt(
        det_union.withColumn("keep", F.row_number().over(wk) <= 7)
    )
    b = a  # a5: the scaling coefficient, always kept
    for l in range(5, 0, -1):
        kl = kept.filter(F.col("lvl") == l).select(
            "i", F.when(F.col("keep"), F.col("w")).otherwise(F.lit(0.0)).alias("w")
        )
        j = b.join(kl, "i")
        b = ckpt(
            j.select(
                (2 * F.col("i") - 1).alias("i"), (F.col("v") + F.col("w")).alias("v")
            ).unionByName(
                j.select((2 * F.col("i")).alias("i"), (F.col("v") - F.col("w")).alias("v"))
            )
        )
    return base.join(b.select("i", F.col("v").alias("xhat")), "i").select(
        "i",
        "day",
        "x",
        qround(F.col("xhat")).alias("xhat"),
        qround(F.col("x") - F.col("xhat")).alias("err"),
    )


def _pacf_chain_sql(kmax: int = 10) -> str:
    """Unrolled Durbin-Levinson CTE chain p1..p{kmax} over the 1-row
    ACF frame: every dot product is an EXPLICIT fixed-order sum (no
    list_sum — its fold order would be an engine detail), every
    division/update q12-quantized."""
    q12 = "FLOOR(({x}) * 1e12 + 0.5) / 1e12"
    ctes = [
        "p1 AS (SELECT r.*, " + q12.format(x="r1") + " AS a1, "
        + q12.format(x="r1") + " AS f1_1 FROM acf r)"
    ]
    for k in range(2, kmax + 1):
        num = " - ".join([f"r{k}"] + [f"f{k-1}_{j} * r{k - j}" for j in range(1, k)])
        den = " - ".join(["1.0"] + [f"f{k-1}_{j} * r{j}" for j in range(1, k)])
        a = q12.format(x=f"({num}) / ({den})")
        phis = ", ".join(
            q12.format(x=f"f{k-1}_{j} - ({a}) * f{k-1}_{k - j}") + f" AS f{k}_{j}"
            for j in range(1, k)
        )
        ctes.append(
            f"p{k} AS (SELECT p{k-1}.*, {a} AS a{k}, {phis}, {a} AS f{k}_{k} "
            f"FROM p{k-1})"
        )
    sel = " UNION ALL ".join(
        f"SELECT {k} AS lag, FLOOR(a{k} * 1000000 + 0.5) / 1000000 AS pacf, "
        f"FLOOR(r{k} * 1000000 + 0.5) / 1000000 AS acf FROM p{kmax}"
        for k in range(1, kmax + 1)
    )
    return ",\n".join(ctes) + f"\n{sel}"


@register(
    "ts_pacf_durbin",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, x FROM daily
), mu AS (
    SELECT FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*) * 1e9 + 0.5) / 1e9 AS m
    FROM series
), cent AS (
    SELECT i, x - mu.m AS xc FROM series, mu
), lagsum AS (
    SELECT k.k,
           CAST(SUM(CAST(FLOOR(a.xc * b.xc * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS s
    FROM generate_series(0, 10) k(k)
    JOIN cent a ON TRUE
    JOIN cent b ON b.i = a.i - k.k
    GROUP BY 1
), acf AS (
    SELECT
""" + ",\n".join(
        f"           FLOOR((SELECT s FROM lagsum WHERE k = {k})"
        f" / (SELECT s FROM lagsum WHERE k = 0) * 1e12 + 0.5) / 1e12 AS r{k}"
        for k in range(1, 11)
    ) + "\n), " + _pacf_chain_sql() + "\n",
)
def ts_pacf_durbin(spark, sf_dir):
    """Partial autocorrelation function (lags 1-10) of the daily event
    series via the Durbin-Levinson recursion — THE order-selection
    diagnostic for AR models (the PACF cuts off at the true AR order;
    the ACF alone can't distinguish AR(1) from AR(5)). The recursion
    phi_kk = (r_k - sum phi_{k-1,j} r_{k-j}) / (1 - sum phi_{k-1,j}
    r_j) is unrolled into 10 chained projections over a ONE-ROW frame,
    with every dot product written as an explicit fixed-order sum (a
    list-fold's association order is an engine internal — spelled-out
    sums are engine-proof) and every division/update q12-quantized.
    ACF inputs: centered products in q12 DECIMAL over the bounded
    lag-pair join, one fact aggregate upstream. Output: lag, PACF,
    ACF side by side."""
    ev = t(spark, sf_dir, "events")
    series = ckpt(
        by_day(ev)
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select(_day_index().alias("i"), "x")
    )
    mean = qround(F.sum("x").cast("double") / F.count(F.lit(1)), 9).alias("m")
    cent = with_stats(series, mean).select("i", (F.col("x") - F.col("m")).alias("xc"))
    lagsum = _lag_sums(cent, range(0, 11))
    s0 = lagsum.filter(F.col("k") == 0).select(F.col("s").alias("s0"))
    acf = (
        lagsum.filter(F.col("k") > 0)
        .crossJoin(F.broadcast(s0))
        .groupBy()
        .pivot("k", list(range(1, 11)))
        .agg(F.first(qround(F.col("s") / F.col("s0"), 12)))
    )
    acf = acf.select(*[F.col(str(k)).alias(f"r{k}") for k in range(1, 11)])
    # chained Durbin-Levinson: mirror _pacf_chain_sql exactly.
    # r13 optimization (guide §7.3 — driver-side single-threaded cost,
    # same fix as the codec-encode SQL-text rewrite): the recursion
    # used to be ~55 chained .withColumn calls, each one py4j
    # round-trip per Column operator plus a fresh analyzer pass over a
    # growing ~65-column frame — measured 3.8 s of scale-INDEPENDENT
    # driver construction vs 0.13 s of action at sf0.1 (py4j Column
    # composition alone 1.6 s, the 10-select union tail another
    # 0.5 s). The recursion is now composed as SQL TEXT in Python
    # (free) and parsed by ONE selectExpr per step; the a_k text is
    # inlined into the same-step f_k_j updates — identical arithmetic
    # on the same deterministic expression, bit-identical values. The
    # union tail is one explode over an inline struct array. Oracle
    # hash verified unchanged at sf0.001/0.01/0.1.
    q12t = lambda x: f"floor(({x}) * 1e12 + 0.5d) / 1e12"
    cur = acf.selectExpr(
        "*", f"{q12t('r1')} as a1", f"{q12t('r1')} as f1_1"
    )
    for k in range(2, 11):
        num = f"r{k}" + "".join(
            f" - f{k-1}_{j} * r{k - j}" for j in range(1, k)
        )
        den = "1.0d" + "".join(f" - f{k-1}_{j} * r{j}" for j in range(1, k))
        ak = q12t(f"({num}) / ({den})")
        news = [f"{ak} as a{k}"]
        for j in range(1, k):
            news.append(
                f"{q12t(f'f{k-1}_{j} - ({ak}) * f{k-1}_{k - j}')} as f{k}_{j}"
            )
        news.append(f"{ak} as f{k}_{k}")
        cur = cur.selectExpr("*", *news)
    cur = ckpt(cur)
    q6t = lambda x: f"floor({x} * 1e6 + 0.5d) / 1e6"
    structs = ", ".join(
        f"struct(cast({k} as bigint) as lag, {q6t(f'a{k}')} as pacf, "
        f"{q6t(f'r{k}')} as acf)"
        for k in range(1, 11)
    )
    return cur.selectExpr(f"explode(array({structs})) as z").select("z.*")


@register(
    "ts_ar2_yule_walker",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, x FROM daily
), mu AS (
    SELECT FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*) * 1e9 + 0.5) / 1e9 AS m,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM series
), cent AS (
    SELECT i, x - mu.m AS xc FROM series, mu
), lagsum AS (
    SELECT k.k,
           CAST(SUM(CAST(FLOOR(a.xc * b.xc * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS s
    FROM generate_series(0, 2) k(k)
    JOIN cent a ON TRUE
    JOIN cent b ON b.i = a.i - k.k
    GROUP BY 1
), acf AS (
    SELECT FLOOR((SELECT s FROM lagsum WHERE k = 1)
                 / (SELECT s FROM lagsum WHERE k = 0) * 1e12 + 0.5) / 1e12 AS r1,
           FLOOR((SELECT s FROM lagsum WHERE k = 2)
                 / (SELECT s FROM lagsum WHERE k = 0) * 1e12 + 0.5) / 1e12 AS r2,
           (SELECT s FROM lagsum WHERE k = 0) AS s0
), fit AS (
    SELECT r1, r2, s0,
           FLOOR(r1 * (1.0 - r2) / (1.0 - r1 * r1) * 1e12 + 0.5) / 1e12 AS phi1,
           FLOOR((r2 - r1 * r1) / (1.0 - r1 * r1) * 1e12 + 0.5) / 1e12 AS phi2
    FROM acf
), last2 AS (
    SELECT MAX(CASE WHEN rn = 1 THEN xc END) AS x_t,
           MAX(CASE WHEN rn = 2 THEN xc END) AS x_t1
    FROM (SELECT xc, ROW_NUMBER() OVER (ORDER BY i DESC) AS rn FROM cent)
    WHERE rn <= 2
)
SELECT FLOOR(f.phi1 * 1000000 + 0.5) / 1000000 AS phi1,
       FLOOR(f.phi2 * 1000000 + 0.5) / 1000000 AS phi2,
       FLOOR((1.0 - f.phi1 * f.r1 - f.phi2 * f.r2) * (f.s0 / mu.n)
             * 1000000 + 0.5) / 1000000 AS sigma2,
       FLOOR((mu.m + f.phi1 * l.x_t + f.phi2 * l.x_t1) * 1000000 + 0.5) / 1000000
           AS forecast_1d,
       FLOOR((mu.m + f.phi1 * (f.phi1 * l.x_t + f.phi2 * l.x_t1)
              + f.phi2 * l.x_t) * 1000000 + 0.5) / 1000000 AS forecast_2d,
       f.phi2 > -1.0 AND f.phi1 + f.phi2 < 1.0 AND f.phi2 - f.phi1 < 1.0
           AS stationary
FROM fit f, last2 l, mu
""",
)
def ts_ar2_yule_walker(spark, sf_dir):
    """AR(2) fit by Yule-Walker — the closed-form autoregression the
    PACF (ts_pacf_durbin) tells you to fit when it cuts off at lag 2:
    phi1 = r1(1-r2)/(1-r1^2), phi2 = (r2-r1^2)/(1-r1^2), innovation
    variance from the fitted ACF, 1- and 2-step forecasts by direct
    recursion from the last two (centered) observations, plus the
    stationarity-triangle check (phi2 in (-1,1), phi1+phi2 < 1,
    phi2-phi1 < 1) that tells you whether the fit is even a valid
    AR(2). Same q12-DECIMAL ACF machinery as the PACF op; the solve
    and forecasts are scalar algebra on a 1-row frame. One fact
    aggregate + a 3-lag bounded join."""
    ev = t(spark, sf_dir, "events")
    series = ckpt(
        by_day(ev)
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select(_day_index().alias("i"), "x")
    )
    mu = series.agg(
        qround(F.sum("x").cast("double") / F.count(F.lit(1)), 9).alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cent = ckpt(
        series.crossJoin(F.broadcast(mu)).select(
            "i", (F.col("x") - F.col("m")).alias("xc"), "m", "n"
        )
    )
    lagsum = _lag_sums(cent, range(0, 3))
    wide = (
        lagsum.groupBy()
        .pivot("k", [0, 1, 2])
        .agg(F.first("s"))
        .select(
            F.col("0").alias("s0"),
            qround(F.col("1") / F.col("0"), 12).alias("r1"),
            qround(F.col("2") / F.col("0"), 12).alias("r2"),
        )
    )
    fit = wide.select(
        "s0",
        "r1",
        "r2",
        qround(
            F.col("r1") * (F.lit(1.0) - F.col("r2")) / (F.lit(1.0) - F.col("r1") * F.col("r1")),
            12,
        ).alias("phi1"),
        qround(
            (F.col("r2") - F.col("r1") * F.col("r1")) / (F.lit(1.0) - F.col("r1") * F.col("r1")),
            12,
        ).alias("phi2"),
    )
    last2 = (
        cent.select("xc", F.row_number().over(Window.orderBy(F.desc("i"))).alias("rn"))
        .filter(F.col("rn") <= 2)
        .groupBy()
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("xc"))).alias("x_t"),
            F.max(F.when(F.col("rn") == 2, F.col("xc"))).alias("x_t1"),
        )
    )
    f1 = F.col("m") + F.col("phi1") * F.col("x_t") + F.col("phi2") * F.col("x_t1")
    f2 = F.col("m") + F.col("phi1") * (
        F.col("phi1") * F.col("x_t") + F.col("phi2") * F.col("x_t1")
    ) + F.col("phi2") * F.col("x_t")
    return (
        fit.crossJoin(F.broadcast(last2))
        .crossJoin(F.broadcast(mu))
        .select(
            qround(F.col("phi1")).alias("phi1"),
            qround(F.col("phi2")).alias("phi2"),
            qround(
                (
                    F.lit(1.0)
                    - F.col("phi1") * F.col("r1")
                    - F.col("phi2") * F.col("r2")
                )
                * (F.col("s0") / F.col("n"))
            ).alias("sigma2"),
            qround(f1).alias("forecast_1d"),
            qround(f2).alias("forecast_2d"),
            (
                (F.col("phi2") > -1.0)
                & (F.col("phi1") + F.col("phi2") < 1.0)
                & (F.col("phi2") - F.col("phi1") < 1.0)
            ).alias("stationary"),
        )
    )


def _ad_oracle() -> str:
    from .ml import _ERFC_AS  # shared A&S erf polynomial spelling

    phi_pos = f"(0.5 * (1.0 + {_ERFC_AS.format(x='(z) / sqrt(2.0)')}))"
    return f"""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 AS x
    FROM orders GROUP BY 1
), mom AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1e2 + 0.5) AS DECIMAL(38,2))) AS DOUBLE) / 1e2
               AS syy
    FROM daily
), std AS (
    SELECT n, sy / n AS m,
           sqrt((syy - sy * sy / n) / (n - 1.0)) AS s
    FROM mom
), zs AS (
    SELECT FLOOR((d.x - st.m) / st.s * 1e9 + 0.5) / 1e9 AS z,
           CAST(ROW_NUMBER() OVER (ORDER BY d.x, d.day) AS BIGINT) AS i,
           st.n
    FROM daily d, std st
), terms AS (
    SELECT n,
           (2.0 * i - 1.0)
               * (FLOOR(ln({phi_pos}) * 1e9 + 0.5) / 1e9)
           + (2.0 * (n - i) + 1.0)
               * (FLOOR(ln(1.0 - {phi_pos}) * 1e9 + 0.5) / 1e9) AS tt
    FROM zs
), a2 AS (
    SELECT ANY_VALUE(n) AS n,
           -ANY_VALUE(n)
           - CAST(SUM(CAST(FLOOR(tt * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
             / 1e6 / ANY_VALUE(n) AS a2
    FROM terms
)
SELECT CAST(n AS BIGINT) AS n_days,
       FLOOR(a2 * 1000000 + 0.5) / 1000000 AS a2,
       FLOOR(a2 * (1.0 + 0.75 / n + 2.25 / (n * n)) * 1000000 + 0.5) / 1000000
           AS a2_star,
       a2 * (1.0 + 0.75 / n + 2.25 / (n * n)) > 0.752 AS reject_normal
FROM a2
"""


@register("ts_anderson_darling", oracle=_ad_oracle())
def ts_anderson_darling(spark, sf_dir):
    """Anderson-Darling normality test on daily revenue — the GOF test
    that WEIGHTS THE TAILS (1/[F(1-F)]), which is exactly where
    'is revenue normal enough for z-based control charts?' gets
    decided; complements agg_qq_normal (visual) and dq_drift_ks
    (two-sample, tail-blind). A^2 = -n - (1/n) sum[(2i-1) ln Phi(z_i)
    + (2(n-i)+1) ln(1-Phi(z_i))] over the ascending order statistics —
    exact integer ranks (day tiebreak), Phi through the shared A&S erf
    polynomial, each ln q9-quantized, the weighted sum in q6 DECIMAL;
    the Stephens small-sample factor and the 0.752 5% critical value
    give the decision. One fact aggregate + one ordered window."""
    from .ml import _ERFC_AS

    # ckpt: the day aggregate (the only fact pass) feeds BOTH the
    # moment aggregate and the z-scoring branch (dup-scan sweep).
    daily = ckpt(
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(qsum(F.col("o_totalprice")).alias("x"))
    )
    mom = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        qsum(F.col("x")).alias("sy"),
        (
            F.sum(
                F.floor(F.col("x") * F.col("x") * F.lit(1e2) + F.lit(0.5)).cast(
                    "decimal(38,2)"
                )
            ).cast("double")
            / F.lit(1e2)
        ).alias("syy"),
    )
    std = mom.select(
        "n",
        (F.col("sy") / F.col("n")).alias("m"),
        F.sqrt(
            (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")) / (F.col("n") - F.lit(1.0))
        ).alias("s"),
    )
    zs = (
        daily.crossJoin(F.broadcast(std))
        .select(
            qround((F.col("x") - F.col("m")) / F.col("s"), 9).alias("z"),
            F.row_number().over(Window.orderBy(F.asc("x"), F.asc("day"))).cast("bigint").alias("i"),
            "n",
        )
    )
    phi = F.expr(
        "0.5 * (1.0 + " + _ERFC_AS.format(x="(z) / sqrt(2.0)") + ")"
    )
    tt = (F.lit(2.0) * F.col("i") - F.lit(1.0)) * qround(F.log(phi), 9) + (
        F.lit(2.0) * (F.col("n") - F.col("i")) + F.lit(1.0)
    ) * qround(F.log(F.lit(1.0) - phi), 9)
    a2df = zs.select("n", tt.alias("tt")).agg(
        F.any_value("n").alias("n"),
        (
            -F.any_value("n")
            - qsum(F.col("tt"))
            / F.any_value("n")
        ).alias("a2"),
    )
    star = F.col("a2") * (
        F.lit(1.0) + F.lit(0.75) / F.col("n") + F.lit(2.25) / (F.col("n") * F.col("n"))
    )
    return a2df.select(
        F.col("n").cast("bigint").alias("n_days"),
        qround(F.col("a2")).alias("a2"),
        qround(star).alias("a2_star"),
        (star > F.lit(0.752)).alias("reject_normal"),
    )


@register(
    "ts_chain_ladder",
    oracle="""
WITH fo AS (
    SELECT o_custkey,
           MIN(year(o_orderdate) * 12 + month(o_orderdate)) AS cm
    FROM orders GROUP BY 1
), dev AS (
    SELECT f.cm AS cohort,
           LEAST(year(o.o_orderdate) * 12 + month(o.o_orderdate) - f.cm, 6)
               AS age,
           SUM(CAST(FLOOR(o.o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6))) AS revq
    FROM orders o JOIN fo f ON f.o_custkey = o.o_custkey
    GROUP BY 1, 2
), cum AS (
    SELECT cohort, age,
           CAST(SUM(revq) OVER (PARTITION BY cohort ORDER BY age) AS DOUBLE) / 1e6
               AS c,
           MAX(age) OVER (PARTITION BY cohort) AS max_age
    FROM dev
), factors AS (
    SELECT a.age,
           FLOOR((CAST(SUM(CAST(FLOOR(b.c * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
                  / CAST(SUM(CAST(FLOOR(a.c * 1e6 + 0.5) AS DECIMAL(38,6)))
                         AS DOUBLE))
                 * 1e9 + 0.5) / 1e9 AS f
    FROM cum a
    JOIN cum b ON b.cohort = a.cohort AND b.age = a.age + 1
    GROUP BY 1
), tail AS (
    SELECT age,
           exp(FLOOR(SUM(FLOOR(ln(f) * 1e9 + 0.5) / 1e9)
                     OVER (ORDER BY age DESC) * 1e9 + 0.5) / 1e9) AS cum_f
    FROM factors
), latest AS (
    SELECT cohort, max_age, c AS latest_cum
    FROM cum WHERE age = max_age
)
SELECT l.cohort AS cohort_month, l.max_age AS latest_age,
       FLOOR(l.latest_cum * 1000000 + 0.5) / 1000000 AS latest_cum,
       FLOOR(l.latest_cum * COALESCE(t.cum_f, 1.0) * 1000000 + 0.5) / 1000000
           AS ultimate
FROM latest l LEFT JOIN tail t ON t.age = l.max_age
""",
)
def ts_chain_ladder(spark, sf_dir):
    """Chain-ladder development projection of cohort revenue — the
    actuarial reserving workhorse applied to the LTV question: build
    the cumulative (cohort-month x development-age) triangle from each
    customer's first-order month, estimate age-to-age factors f_a =
    sum C(.,a+1)/sum C(.,a) over the cohorts that have BOTH ages (the
    defining chain-ladder restriction — young cohorts must not bias
    the factor), and project every cohort's latest diagonal to
    ultimate via the product of remaining factors. Ages cap at 6 (the
    tail bucket absorbs the rest). Numeric discipline: revenue
    accumulates in micro-DECIMAL, factor numerators/denominators are
    DECIMAL-summed before ONE division (q9), and the factor product
    runs as exp(sum(q9 ln f)) with quantized boundaries — at most 6
    terms, fully deterministic. One fact aggregate + windows over the
    O(cohorts x 7) triangle."""
    o = t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate", "o_totalprice")
    mon = F.year("o_orderdate") * 12 + F.month("o_orderdate")
    fo = o.groupBy("o_custkey").agg(F.min(mon).alias("cm"))
    dev = (
        o.join(fo, "o_custkey")
        .groupBy(
            F.col("cm").alias("cohort"),
            F.least(mon - F.col("cm"), F.lit(6)).alias("age"),
        )
        .agg(F.sum(qdec(F.col("o_totalprice"))).alias("revq"))
    )
    wc = Window.partitionBy("cohort").orderBy("age")
    cum = ckpt(
        dev.select(
            "cohort",
            "age",
            (F.sum("revq").over(wc.rowsBetween(Window.unboundedPreceding, 0)).cast("double") / F.lit(1e6)).alias("c"),
            F.max("age").over(Window.partitionBy("cohort")).alias("max_age"),
        )
    )
    a = cum.select(F.col("cohort").alias("ca"), F.col("age").alias("age"), F.col("c").alias("cv_a"))
    b = cum.select(F.col("cohort").alias("cb"), (F.col("age") - 1).alias("age"), F.col("c").alias("cv_b"))
    factors = (
        a.join(b, (F.col("ca") == F.col("cb")) & (a["age"] == b["age"]))
        .groupBy(a["age"].alias("age"))
        .agg(
            qround(
                F.sum(qdec(F.col("cv_b"))).cast("double")
                / F.sum(qdec(F.col("cv_a"))).cast("double"),
                9,
            ).alias("f")
        )
    )
    wt = Window.orderBy(F.desc("age")).rowsBetween(Window.unboundedPreceding, 0)
    tail = factors.select(
        "age",
        F.exp(qround(F.sum(qround(F.log("f"), 9)).over(wt), 9)).alias("cum_f"),
    )
    latest = cum.filter(F.col("age") == F.col("max_age")).select(
        "cohort", "max_age", F.col("c").alias("latest_cum")
    )
    return (
        latest.join(F.broadcast(tail), latest["max_age"] == tail["age"], "left")
        .select(
            F.col("cohort").alias("cohort_month"),
            F.col("max_age").alias("latest_age"),
            qround(F.col("latest_cum")).alias("latest_cum"),
            qround(F.col("latest_cum") * F.coalesce(F.col("cum_f"), F.lit(1.0))).alias(
                "ultimate"
            ),
        )
    )


def _absorbing_oracle(steps: int = 8) -> str:
    """Unrolled value-iteration CTEs v1..v{steps} for the absorbing
    chain (purchase absorbing), mirroring the Spark loop."""
    ctes = [
        """seq AS MATERIALIZED (
    SELECT user_id, event_type AS s,
           LEAD(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS nxt
    FROM events
)""",
        """tm AS MATERIALIZED (
    SELECT s, nxt AS d, CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE nxt IS NOT NULL AND s <> 'purchase'
    GROUP BY 1, 2
)""",
        """tp AS MATERIALIZED (
    SELECT s, d,
           FLOOR(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY s) * 1e12 + 0.5) / 1e12 AS p
    FROM tm
)""",
        """states AS (SELECT DISTINCT s FROM tp)""",
        """v0 AS (SELECT s, 0.0 AS v FROM states)""",
    ]
    for k in range(1, steps + 1):
        ctes.append(
            f"""v{k} AS MATERIALIZED (
    SELECT t.s,
           FLOOR(SUM(t.p * (CASE WHEN t.d = 'purchase' THEN 1.0
                                 ELSE COALESCE(v.v, 0.0) END))
                 * 1e12 + 0.5) / 1e12 AS v
    FROM tp t LEFT JOIN v{k - 1} v ON v.s = t.d
    GROUP BY 1
)"""
        )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT s AS state,
       FLOOR(v * 1000000 + 0.5) / 1000000 AS p_absorb_8
FROM v{steps}
"""
    )


@register("ts_absorbing_markov", oracle=_absorbing_oracle())
def ts_absorbing_markov(spark, sf_dir):
    """Absorbing-Markov conversion probability — from each event state,
    the probability of reaching PURCHASE within 8 transitions under
    the empirical chain: the principled funnel metric that raw
    conversion rates (path-blind) and linear attribution (order-blind)
    both approximate. Value iteration v_{{k+1}}(s) = sum_t P(s->t)
    [t = purchase ? 1 : v_k(t)] with purchase absorbing, unrolled 8
    rounds — each round ONE join of the O(states^2) transition table
    (built once from the user-ordered event stream, the same shuffle
    ts_markov_transitions uses) against the O(states) value vector.
    Transition probs and every iterate are q12-quantized, so the
    trajectory is engine-exact; monotone convergence of the iterates
    is asserted in tests (v_k is nondecreasing in k for absorbing
    chains)."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("s"), F.lead("event_type").over(w).alias("d")
    ).filter(F.col("d").isNotNull() & (F.col("s") != "purchase"))
    tm = ckpt(seq.groupBy("s", "d").agg(F.count(F.lit(1)).cast("bigint").alias("n")))
    tp = ckpt(
        tm.select(
            "s",
            "d",
            qround(
                F.col("n").cast("double")
                / F.sum("n").over(Window.partitionBy("s")),
                12,
            ).alias("p"),
        )
    )
    # r13 optimization (guide §1.2 step 1, same rationale as
    # ts_markov_stationary): the 8 value-iteration rounds used to run
    # as a driver loop of join + aggregate + localCheckpoint over the
    # ≤5-row value vector — 8 Spark jobs of scheduling overhead on
    # schema-bounded data. The recursion now runs as ONE in-JVM
    # higher-order fold over the densified transition matrix. Round
    # semantics mirrored exactly: the vector's support is the distinct
    # source states of tp in BOTH forms (the old left join kept every
    # tp row each round), a missing value row reads as 0 (the old
    # coalesce), purchase reads as 1, and absent (s,d) pairs contribute
    # an exact +0.0 to the non-negative double sum (bit-neutral).
    # Summation order changes from join-row order to sorted-target
    # order — absorbed by the q12 quantization both engines already
    # rely on (the DuckDB oracle sums in its own order today); oracle
    # hash verified unchanged at sf0.001/0.01/0.1. Measured at sf0.1
    # (isolated noop min-of-3): 2.09 s → see OPTIMIZATION_r13.md.
    mat = tp.agg(F.expr("sort_array(collect_list(struct(s, d, p)))").alias("m"))
    dense = mat.select(
        "m",
        F.expr("array_sort(array_distinct(transform(m, x -> x.s)))").alias("S"),
        F.expr("array_sort(array_distinct(transform(m, x -> x.d)))").alias("D"),
    ).select(
        "S",
        "D",
        F.expr(
            "transform(S, ss -> transform(D, dd -> "
            # get(): NULL on a missing (s,d) pair, not an ANSI
            # INVALID_ARRAY_INDEX throw (same pin as the stationary op).
            "coalesce(get(filter(m, x -> x.s = ss AND x.d = dd), 0).p, 0d)))"
        ).alias("P"),
    )
    # v'_i = q12(Σ_j P[i][j] · (D[j]='purchase' ? 1 : v[D[j]] or 0))
    vstep = (
        "transform(sequence(0, size(S)-1), i -> "
        "floor(aggregate(sequence(0, size(D)-1), 0d, (s2, jd) -> "
        "s2 + P[i][jd] * IF(D[jd] = 'purchase', 1.0d, "
        "IF(array_position(S, D[jd]) > 0, "
        "a[cast(array_position(S, D[jd]) as int) - 1], 0d))) "
        "* 1e12 + 0.5d) / 1e12)"
    )
    fold = (
        f"aggregate(sequence(1, 8), transform(S, s -> 0d), (a, r) -> {vstep})"
    )
    fin = ckpt(dense.select("S", F.expr(fold).alias("v")))  # 1 row; truncates
    # the fold expression before the explode tail (CollapseProject would
    # otherwise substitute it into every downstream field extraction —
    # same hazard measured in ts_markov_stationary).
    return (
        fin.select(F.explode(F.expr("arrays_zip(S, v)")).alias("z"))
        .select(F.col("z.S").alias("state"), qround(F.col("z.v")).alias("p_absorb_8"))
    )


def _markov_entropy_oracle() -> str:
    # Compose ts_markov_stationary's REGISTERED oracle as the pi CTE
    # (splice discipline); re-derive the transition matrix with the
    # textually identical trans/probs spelling that op uses.
    from ..registry import ORACLES

    return f"""
WITH pi AS ({ORACLES["ts_markov_stationary"]}),
trans2 AS MATERIALIZED (
    SELECT prev, event_type AS nxt, COUNT(*) AS n
    FROM (SELECT event_type,
                 LAG(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
          FROM events)
    WHERE prev IS NOT NULL
    GROUP BY 1, 2
), probs AS (
    SELECT prev, nxt,
           FLOOR(CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY prev)
                 * 1e12 + 0.5) / 1e12 AS p
    FROM trans2
), terms AS (
    SELECT pi.stationary_prob
               * pr.p * (FLOOR(ln(pr.p) * 1e9 + 0.5) / 1e9) AS tt
    FROM probs pr JOIN pi ON pi.state = pr.prev
)
SELECT CAST((SELECT COUNT(*) FROM pi) AS BIGINT) AS n_states,
       FLOOR(-CAST(SUM(CAST(FLOOR(tt * 1e12 + 0.5) AS DECIMAL(38,12)))
                   AS DOUBLE) / 1e12 * 1000000 + 0.5) / 1000000
           AS entropy_rate_nats,
       FLOOR(exp(FLOOR(-CAST(SUM(CAST(FLOOR(tt * 1e12 + 0.5) AS DECIMAL(38,12)))
                             AS DOUBLE) / 1e12 * 1e9 + 0.5) / 1e9)
             * 1000000 + 0.5) / 1000000 AS perplexity
FROM terms
"""


@register("ts_markov_entropy_rate", oracle=_markov_entropy_oracle())
def ts_markov_entropy_rate(spark, sf_dir):
    """Entropy rate of the user-behavior Markov chain — H = -sum_s
    pi_s sum_t P(s->t) ln P(s->t), the single number that says how
    PREDICTABLE the next action is given the current one (its exp is
    the effective branching factor / perplexity — the same quantity
    language modeling optimizes, applied to the event stream; Song et
    al.'s mobility-predictability bound is this statistic). Composes
    the engine's own pieces: the stationary distribution comes from
    calling ts_markov_stationary() (oracle splices its registered
    text), the transition matrix re-derives with the identical
    spelling, and the product terms ride q9/q12 quantization into one
    DECIMAL sum. O(states^2) work after the one sequence shuffle."""
    from .timeseries import ts_markov_stationary  # self-module, explicit

    # ckpt: pi feeds both the n_states count and the terms join, and
    # since the r13 stationary rewrite the callee no longer checkpoints
    # its (bounded, k-row) result internally — without this the full
    # fact-scale stationary pipeline would evaluate twice.
    pi = ckpt(
        ts_markov_stationary(spark, sf_dir).select(
            F.col("state").alias("prev"), "stationary_prob"
        )
    )
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = ckpt(
        ev.select(F.col("event_type").alias("nxt"), F.lag("event_type").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull())
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    probs = trans.select(
        "prev",
        "nxt",
        qround(
            F.col("n").cast("double") / F.sum("n").over(Window.partitionBy("prev")), 12
        ).alias("p"),
    )
    terms = probs.join(F.broadcast(pi), "prev").select(
        (F.col("stationary_prob") * F.col("p") * qround(F.log("p"), 9)).alias("tt")
    )
    n_states = pi.count()  # bounded state-space scalar (same as graph loops)
    h = (
        -F.sum(qdec(F.col("tt"), 12))
        .cast("double")
        / F.lit(1e12)
    )
    return terms.agg(h.alias("h")).select(
        F.lit(n_states).cast("bigint").alias("n_states"),
        qround(F.col("h")).alias("entropy_rate_nats"),
        qround(F.exp(qround(F.col("h"), 9))).alias("perplexity"),
    )


def _spectral_entropy_oracle() -> str:
    # Compose ts_periodogram's REGISTERED oracle verbatim (splice
    # discipline — the spectrum and its entropy can never drift apart).
    from ..registry import ORACLES

    return f"""
WITH spec AS ({ORACLES["ts_periodogram"]}),
tot AS (
    SELECT CAST(SUM(CAST(power AS DECIMAL(38,6))) AS DOUBLE) AS tp,
           CAST(COUNT(*) AS BIGINT) AS np
    FROM spec
), ps AS (
    SELECT FLOOR(CAST(power AS DOUBLE) / tot.tp * 1e12 + 0.5) / 1e12 AS p,
           tot.np
    FROM spec, tot
), h AS (
    SELECT ANY_VALUE(np) AS np,
           -CAST(SUM(CASE WHEN p > 0
                          THEN CAST(FLOOR(p * (FLOOR(ln(p) * 1e9 + 0.5) / 1e9)
                                          * 1e12 + 0.5) AS DECIMAL(38,12))
                          ELSE 0 END) AS DOUBLE) / 1e12 AS hh
    FROM ps
)
SELECT np AS n_periods,
       FLOOR(hh * 1000000 + 0.5) / 1000000 AS spectral_entropy_nats,
       FLOOR(hh / (FLOOR(ln(CAST(np AS DOUBLE)) * 1e9 + 0.5) / 1e9)
             * 1000000 + 0.5) / 1000000 AS normalized_entropy
FROM h
"""


@register("ts_spectral_entropy", oracle=_spectral_entropy_oracle())
def ts_spectral_entropy(spark, sf_dir):
    """Spectral entropy of the daily-revenue periodogram — the
    FORECASTABILITY index (Goerg's ForeCA): a spectrum concentrated in
    few frequencies (low entropy) means strong periodic structure a
    seasonal model will exploit; a flat spectrum (entropy near 1 after
    ln(n) normalization) is white-noise-like and no seasonal model
    will help. Composes the engine's own ts_periodogram() (oracle
    splices its registered text), normalizes the power column into a
    distribution, and computes -sum p ln p with q9 logs and q12
    DECIMAL sums; zero-power bins contribute 0 by the usual limit
    convention. O(periods) work after the spectrum op's own plan."""
    from .timeseries import ts_periodogram  # self-module, explicit

    spec = ckpt(ts_periodogram(spark, sf_dir).select("power"))
    ps = with_stats(
        spec,
        dsum(F.col("power")).alias("tp"),
        F.count(F.lit(1)).cast("bigint").alias("np"),
    ).select(
        qround(F.col("power").cast("double") / F.col("tp"), 12).alias("p"), "np"
    )
    h = ps.agg(
        F.any_value("np").alias("np"),
        (
            -F.sum(
                F.when(
                    F.col("p") > 0,
                    qdec(F.col("p") * qround(F.log("p"), 9), 12),
                ).otherwise(F.lit(0).cast("decimal(38,12)"))
            ).cast("double")
            / F.lit(1e12)
        ).alias("hh"),
    )
    return h.select(
        F.col("np").alias("n_periods"),
        qround(F.col("hh")).alias("spectral_entropy_nats"),
        qround(F.col("hh") / qround(F.log(F.col("np").cast("double")), 9)).alias(
            "normalized_entropy"
        ),
    )


@register(
    "ts_extremal_index",
    oracle="""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6))) AS revq
    FROM orders GROUP BY 1
), nn AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST((9 * COUNT(*) + 9) // 10 AS BIGINT) AS k
    FROM daily
), ranked AS (
    SELECT day, revq, ROW_NUMBER() OVER (ORDER BY revq, day) AS rn, n, k
    FROM daily, nn
), thr AS (SELECT revq AS u FROM ranked WHERE rn = k),
exc AS (
    SELECT day, ROW_NUMBER() OVER (ORDER BY day) AS i
    FROM ranked, thr WHERE revq > thr.u
), gaps AS (
    SELECT day, i,
           datediff('day', LAG(day) OVER (ORDER BY i), day) AS gap
    FROM exc
), clusters AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_exceed,
           CAST(SUM(CASE WHEN gap IS NULL OR gap >= 3 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_clusters
    FROM gaps
)
SELECT n_exceed, n_clusters,
       FLOOR(CAST(n_clusters AS DOUBLE) / n_exceed * 1000000 + 0.5) / 1000000
           AS extremal_index,
       FLOOR(CAST(n_exceed AS DOUBLE) / n_clusters * 1000000 + 0.5) / 1000000
           AS mean_cluster_size
FROM clusters
""",
)
def ts_extremal_index(spark, sf_dir):
    """Extremal index by runs declustering — the missing piece between
    ts_pot_gpd_tail and honest tail risk: GPD return levels assume
    exceedances are INDEPENDENT, but extremes cluster (a hot streak is
    one event, not five), and theta = clusters/exceedances (runs
    method, gap >= 3 days) is exactly the correction factor —
    effective return period divides by theta, and 1/theta is the mean
    extreme-cluster size. Same exact-order-statistic P90 threshold as
    the GPD op (shared spelling), then one ordered window over the
    O(exceedances) frame for gaps — all integer until the two final
    divisions."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(F.sum(qdec(F.col("o_totalprice"))).alias("revq"))
    )
    ranked = with_stats(
        daily,
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr("(9 * count(1) + 9) div 10").cast("bigint").alias("k"),
    ).select(
        "day",
        "revq",
        F.row_number().over(Window.orderBy(F.asc("revq"), F.asc("day"))).alias("rn"),
        "k",
    )
    thr = ranked.filter(F.col("rn") == F.col("k")).select(F.col("revq").alias("u"))
    exc = (
        ranked.crossJoin(F.broadcast(thr))
        .filter(F.col("revq") > F.col("u"))
        .select("day")
    )
    gaps = exc.select(
        F.datediff(F.col("day"), F.lag("day").over(Window.orderBy("day"))).alias("gap")
    )
    clusters = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_exceed"),
        F.sum(F.when(F.col("gap").isNull() | (F.col("gap") >= 3), 1).otherwise(0))
        .cast("bigint")
        .alias("n_clusters"),
    )
    return clusters.select(
        "n_exceed",
        "n_clusters",
        qround(F.col("n_clusters").cast("double") / F.col("n_exceed")).alias("extremal_index"),
        qround(F.col("n_exceed").cast("double") / F.col("n_clusters")).alias(
            "mean_cluster_size"
        ),
    )


def _decompose_whiteness_oracle() -> str:
    # Compose ts_seasonal_decompose's REGISTERED oracle (splice
    # discipline): the remainder tested is exactly the remainder shipped.
    from ..registry import ORACLES

    return f"""
WITH dec AS ({ORACLES["ts_seasonal_decompose"]}),
res AS (
    SELECT event_type, residual AS x,
           CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
                AS BIGINT) AS i
    FROM dec WHERE residual IS NOT NULL
), mu AS (
    SELECT event_type,
           FLOOR(CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
                 / 1e6 / COUNT(*) * 1e9 + 0.5) / 1e9 AS m,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM res GROUP BY 1
), cent AS (
    SELECT r.event_type, r.i, r.x - mu.m AS xc, mu.n
    FROM res r JOIN mu ON mu.event_type = r.event_type
), lagsum AS (
    SELECT a.event_type, k.k, ANY_VALUE(a.n) AS n,
           CAST(SUM(CAST(FLOOR(a.xc * b.xc * 1e9 + 0.5) AS DECIMAL(38,9)))
                AS DOUBLE) / 1e9 AS s
    FROM generate_series(0, 5) k(k)
    JOIN cent a ON TRUE
    JOIN cent b ON b.event_type = a.event_type AND b.i = a.i - k.k
    GROUP BY 1, 2
), acf AS (
    SELECT l.event_type, l.k, l.n,
           FLOOR(l.s / s0.s * 1e12 + 0.5) / 1e12 AS r
    FROM lagsum l
    JOIN lagsum s0 ON s0.event_type = l.event_type AND s0.k = 0
    WHERE l.k > 0
), terms AS (
    SELECT event_type, n,
           CAST(FLOOR(r * r / (n - k) * 1e12 + 0.5) AS DECIMAL(38,12)) AS term
    FROM acf
), q AS (
    SELECT event_type, ANY_VALUE(n) AS n,
           CAST(SUM(term) AS DOUBLE) / 1e12 AS ssum
    FROM terms GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       FLOOR(n * (n + 2.0) * ssum * 1000000 + 0.5) / 1000000 AS q_stat,
       n * (n + 2.0) * ssum < 11.0705 AS remainder_is_white
FROM q
"""


@register("ts_decompose_whiteness", oracle=_decompose_whiteness_oracle())
def ts_decompose_whiteness(spark, sf_dir):
    """Residual-whiteness audit of the seasonal decomposition — the
    model-adequacy check the decomposition family was missing: if
    ts_seasonal_decompose really captured trend + weekday seasonality,
    its remainder must be white noise, so run Ljung-Box (lags 1-5) on
    the remainder PER SERIES and compare against the chi2(5) 5% point
    (11.0705). Composition is the contract: the Spark side calls
    ts_seasonal_decompose() and the oracle splices its registered
    text, so the remainder tested is exactly the remainder shipped —
    a structure change in the decomposition automatically re-tests
    here. ACF via the bounded lag-pair join with q-DECIMAL sums, the
    LB statistic from quantized terms. A failing series means 'there
    is structure left' — the actionable version of eyeballing the
    residual plot."""
    from .timeseries import ts_seasonal_decompose  # self-module, explicit

    res = ckpt(
        ts_seasonal_decompose(spark, sf_dir)
        .filter(F.col("residual").isNotNull())
        .select(
            "event_type",
            F.col("residual").alias("x"),
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("day"))
            .cast("bigint")
            .alias("i"),
        )
    )
    mu = res.groupBy("event_type").agg(
        qround(
            qsum(F.col("x"))
            / F.count(F.lit(1)),
            9,
        ).alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    cent = res.join(F.broadcast(mu), "event_type").select(
        "event_type", "i", (F.col("x") - F.col("m")).alias("xc")
    )
    lagsum = _lag_sums(cent, range(0, 6), by=("event_type",), k=9)
    s0 = lagsum.filter(F.col("k") == 0).join(F.broadcast(mu), "event_type").select(
        F.col("event_type").alias("et0"), F.col("s").alias("s0"), "n"
    )
    acf = (
        lagsum.filter(F.col("k") > 0)
        .join(F.broadcast(s0), F.col("et0") == F.col("event_type"))
        .select("event_type", "k", "n", qround(F.col("s") / F.col("s0"), 12).alias("r"))
    )
    terms = acf.select(
        "event_type",
        "n",
        qdec(F.col("r") * F.col("r") / (F.col("n") - F.col("k")), 12)
        .alias("term"),
    )
    q = terms.groupBy("event_type").agg(
        F.any_value("n").alias("n"),
        (F.sum("term").cast("double") / F.lit(1e12)).alias("ssum"),
    )
    lb = F.col("n") * (F.col("n") + F.lit(2.0)) * F.col("ssum")
    return q.select(
        "event_type",
        F.col("n").cast("bigint").alias("n_days"),
        qround(lb).alias("q_stat"),
        (lb < F.lit(11.0705)).alias("remainder_is_white"),
    )


@register(
    "ts_max_subarray",
    oracle="""
WITH RECURSIVE daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6))) AS revq
    FROM orders GROUP BY 1
), mu AS (
    SELECT CAST(SUM(revq) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS m FROM daily
), series AS (
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i, day,
           CAST(revq AS BIGINT) - mu.m AS d
    FROM daily, mu
), kad AS (
    SELECT i, day, d, d AS cur, d AS best, 1 AS cur_start,
           CAST(1 AS BIGINT) AS best_start, CAST(1 AS BIGINT) AS best_end
    FROM series WHERE i = 1
    UNION ALL
    SELECT s.i, s.day, s.d,
           CASE WHEN k.cur > 0 THEN k.cur + s.d ELSE s.d END,
           CASE WHEN (CASE WHEN k.cur > 0 THEN k.cur + s.d ELSE s.d END) > k.best
                THEN (CASE WHEN k.cur > 0 THEN k.cur + s.d ELSE s.d END)
                ELSE k.best END,
           CASE WHEN k.cur > 0 THEN k.cur_start ELSE s.i END,
           CASE WHEN (CASE WHEN k.cur > 0 THEN k.cur + s.d ELSE s.d END) > k.best
                THEN (CASE WHEN k.cur > 0 THEN k.cur_start ELSE s.i END)
                ELSE k.best_start END,
           CASE WHEN (CASE WHEN k.cur > 0 THEN k.cur + s.d ELSE s.d END) > k.best
                THEN s.i ELSE k.best_end END
    FROM kad k JOIN series s ON s.i = k.i + 1
), fin AS (
    SELECT * FROM kad ORDER BY i DESC LIMIT 1
)
SELECT (SELECT day FROM series WHERE i = fin.best_start) AS streak_start,
       (SELECT day FROM series WHERE i = fin.best_end) AS streak_end,
       CAST(fin.best_end - fin.best_start + 1 AS BIGINT) AS streak_days,
       FLOOR(CAST(fin.best AS DOUBLE) / 1e6 * 1000000 + 0.5) / 1000000
           AS excess_revenue
FROM fin
""",
)
def ts_max_subarray(spark, sf_dir):
    """Maximum-sum subarray (Kadane) over daily revenue EXCESS vs the
    period mean — 'which consecutive run of days beat trend by the
    most?', the hot-streak locator that complements ts_max_drawdown's
    worst-run view (drawdown is Kadane on the negated series; this op
    reports the boom with its exact endpoints). The recurrence is a
    fold: cur = max(cur, 0) + d with start-index tracking, run as a
    JVM array fold over the day-ordered integer deviations (micro-unit
    BIGINTs, integer mean — ZERO float anywhere until the final
    display division) while the oracle runs the identical recursion as
    a recursive CTE. One fact aggregate; the fold touches O(days)."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(F.sum(qdec(F.col("o_totalprice"))).cast("bigint").alias("revq"))
    )
    mean = (F.sum("revq").cast("bigint") / F.count(F.lit(1)).cast("bigint")).cast("bigint")
    series = with_stats(daily, mean.alias("m")).select(
        "day", (F.col("revq") - F.col("m")).alias("d")
    )
    arr = series.agg(
        F.expr("sort_array(collect_list(struct(day, d)))").alias("xs")
    )
    # Kadane fold: acc = (cur, best, cur_start, best_start, best_end, i)
    fold = (
        "aggregate(slice(xs, 2, size(xs) - 1), "
        "named_struct('cur', xs[0].d, 'best', xs[0].d, "
        " 'cs', 1L, 'bs', 1L, 'be', 1L, 'i', 1L), "
        "(a, s) -> named_struct("
        " 'cur', CASE WHEN a.cur > 0 THEN a.cur + s.d ELSE s.d END,"
        " 'best', CASE WHEN (CASE WHEN a.cur > 0 THEN a.cur + s.d ELSE s.d END) > a.best"
        "         THEN (CASE WHEN a.cur > 0 THEN a.cur + s.d ELSE s.d END) ELSE a.best END,"
        " 'cs', CASE WHEN a.cur > 0 THEN a.cs ELSE a.i + 1L END,"
        " 'bs', CASE WHEN (CASE WHEN a.cur > 0 THEN a.cur + s.d ELSE s.d END) > a.best"
        "       THEN (CASE WHEN a.cur > 0 THEN a.cs ELSE a.i + 1L END) ELSE a.bs END,"
        " 'be', CASE WHEN (CASE WHEN a.cur > 0 THEN a.cur + s.d ELSE s.d END) > a.best"
        "       THEN a.i + 1L ELSE a.be END,"
        " 'i', a.i + 1L))"
    )
    return arr.select(F.col("xs"), F.expr(fold).alias("st")).select(
        F.expr("element_at(xs, cast(st.bs as int)).day").alias("streak_start"),
        F.expr("element_at(xs, cast(st.be as int)).day").alias("streak_end"),
        (F.col("st.be") - F.col("st.bs") + 1).cast("bigint").alias("streak_days"),
        qround(F.col("st.best").cast("double") / F.lit(1e6)).alias("excess_revenue"),
    )


@register(
    "ts_ar_residual_outliers",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1
), series AS (
    SELECT day, x, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i FROM daily
), mu AS (
    SELECT FLOOR(CAST(SUM(x) AS DOUBLE) / COUNT(*) * 1e9 + 0.5) / 1e9 AS m
    FROM series
), cent AS (
    SELECT i, day, x, x - mu.m AS xc FROM series, mu
), lagsum AS (
    SELECT k.k,
           CAST(SUM(CAST(FLOOR(a.xc * b.xc * 1e12 + 0.5) AS DECIMAL(38,12)))
                AS DOUBLE) / 1e12 AS s
    FROM generate_series(0, 2) k(k)
    JOIN cent a ON TRUE
    JOIN cent b ON b.i = a.i - k.k
    GROUP BY 1
), fit AS (
    SELECT FLOOR((SELECT s FROM lagsum WHERE k = 1)
                 / (SELECT s FROM lagsum WHERE k = 0) * 1e12 + 0.5) / 1e12 AS r1,
           FLOOR((SELECT s FROM lagsum WHERE k = 2)
                 / (SELECT s FROM lagsum WHERE k = 0) * 1e12 + 0.5) / 1e12 AS r2
), phi AS (
    SELECT FLOOR(r1 * (1.0 - r2) / (1.0 - r1 * r1) * 1e12 + 0.5) / 1e12 AS p1,
           FLOOR((r2 - r1 * r1) / (1.0 - r1 * r1) * 1e12 + 0.5) / 1e12 AS p2
    FROM fit
), resid AS (
    SELECT c.i, c.day, c.x,
           FLOOR((c.xc - ph.p1 * l1.xc - ph.p2 * l2.xc) * 1e9 + 0.5) / 1e9 AS e
    FROM cent c
    JOIN cent l1 ON l1.i = c.i - 1
    JOIN cent l2 ON l2.i = c.i - 2
    CROSS JOIN phi ph
), sd AS (
    SELECT sqrt(CAST(SUM(CAST(FLOOR(e * e * 1e9 + 0.5) AS DECIMAL(38,9)))
                     AS DOUBLE) / 1e9 / (COUNT(*) - 1.0)) AS s,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM resid
)
SELECT day, x, residual, z_resid, is_outlier FROM (
    SELECT r.day, r.x,
           FLOOR(r.e * 1000000 + 0.5) / 1000000 AS residual,
           FLOOR(r.e / sd.s * 1000000 + 0.5) / 1000000 AS z_resid,
           abs(r.e) > 3.0 * sd.s AS is_outlier,
           ROW_NUMBER() OVER (ORDER BY abs(r.e) DESC, r.day) AS rnk
    FROM resid r, sd
) WHERE rnk <= 3
""",
)
def ts_ar_residual_outliers(spark, sf_dir):
    """Additive-outlier detection the Box-Jenkins way — fit the AR(2)
    (same Yule-Walker closed form as ts_ar2_yule_walker), then flag
    days whose ONE-STEP-AHEAD residual exceeds 3 residual-sigmas: this
    separates 'genuinely surprising given the recent past' from
    'merely far from the global mean' (a Monday after a big weekend is
    normal HERE even when win_moving_zscore would flag it — the AR
    structure explains it away). Residuals computed via two lag
    self-joins on the bounded day frame, q9-quantized; sigma from a
    DECIMAL sum of squares. Output: the flagged days with raw and
    standardized residuals (possibly empty — rows-only semantics would
    hide that, so the full row content is hashed)."""
    ev = t(spark, sf_dir, "events")
    series = ckpt(
        by_day(ev)
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .select("day", "x", _day_index().alias("i"))
    )
    mean = qround(F.sum("x").cast("double") / F.count(F.lit(1)), 9).alias("m")
    cent = ckpt(
        with_stats(series, mean).select("i", "day", "x", (F.col("x") - F.col("m")).alias("xc"))
    )
    lagsum = _lag_sums(cent, range(0, 3))
    fit = (
        lagsum.groupBy()
        .pivot("k", [0, 1, 2])
        .agg(F.first("s"))
        .select(
            qround(F.col("1") / F.col("0"), 12).alias("r1"),
            qround(F.col("2") / F.col("0"), 12).alias("r2"),
        )
    )
    phi = fit.select(
        qround(
            F.col("r1") * (F.lit(1.0) - F.col("r2")) / (F.lit(1.0) - F.col("r1") * F.col("r1")),
            12,
        ).alias("p1"),
        qround(
            (F.col("r2") - F.col("r1") * F.col("r1")) / (F.lit(1.0) - F.col("r1") * F.col("r1")),
            12,
        ).alias("p2"),
    )
    l1 = cent.select(F.col("i").alias("i1"), F.col("xc").alias("xc1"))
    l2 = cent.select(F.col("i").alias("i2"), F.col("xc").alias("xc2"))
    resid = ckpt(
        cent.join(l1, F.col("i1") == F.col("i") - 1)
        .join(l2, F.col("i2") == F.col("i") - 2)
        .crossJoin(F.broadcast(phi))
        .select(
            "day",
            "x",
            qround(
                F.col("xc") - F.col("p1") * F.col("xc1") - F.col("p2") * F.col("xc2"),
                9,
            ).alias("e"),
        )
    )
    # Top-3 most-surprising days ALWAYS surface, each flagged against
    # the 3-sigma gate: on the smooth synthetic fixture no day clears
    # 3 sigma at any scale, so the original flagged-only output was
    # permanently EMPTY — a hash contract that never exercised the AR
    # fit (r7 zero-row audit). The top-k-with-flag form hash-checks
    # the full Yule-Walker + residual math every round and still
    # answers the operator's question (which days, and are they true
    # additive outliers). |e| is q9-quantized, so the rank order is
    # engine-exact; ties break on day.
    wr = Window.orderBy(F.desc(F.abs(F.col("e"))), F.asc("day"))
    sd = F.sqrt(qsum(F.col("e") * F.col("e"), 9) / (F.count(F.lit(1)) - F.lit(1.0)))
    return (
        with_stats(resid, sd.alias("s"))
        .withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 3)
        .select(
            "day",
            "x",
            qround(F.col("e")).alias("residual"),
            qround(F.col("e") / F.col("s")).alias("z_resid"),
            (F.abs(F.col("e")) > F.lit(3.0) * F.col("s")).alias("is_outlier"),
        )
    )


@register(
    "ts_price_index_fisher",
    oracle="""
WITH span AS (
    SELECT MIN(l_shipdate) AS lo, MAX(l_shipdate) AS hi FROM lineitem
), tagged AS (
    SELECT p.p_brand AS brand,
           CASE WHEN datediff('day', s.lo, l.l_shipdate)
                     * 2 < datediff('day', s.lo, s.hi) THEN 0 ELSE 1 END AS period,
           CAST(FLOOR(l.l_extendedprice * 1e6 + 0.5) AS BIGINT) AS pq,
           CAST(l.l_quantity AS BIGINT) AS q
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey, span s
), pb AS (
    SELECT brand, period,
           FLOOR(CAST(SUM(pq) AS DOUBLE) / 1e6 / SUM(q) * 1e6 + 0.5) / 1e6
               AS unit_p,
           CAST(SUM(q) AS BIGINT) AS qty
    FROM tagged GROUP BY 1, 2
), wide AS (
    SELECT brand,
           MAX(CASE WHEN period = 0 THEN unit_p END) AS p0,
           MAX(CASE WHEN period = 1 THEN unit_p END) AS p1,
           MAX(CASE WHEN period = 0 THEN qty END) AS q0,
           MAX(CASE WHEN period = 1 THEN qty END) AS q1
    FROM pb GROUP BY 1
    HAVING COUNT(*) = 2
), sums AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_brands,
           -- integer-grain cross terms: dollar-price x quantity reaches
           -- ~1e12 at scale, so a 1e6 micro-floor would overflow LONG
           CAST(SUM(CAST(FLOOR(p1 * q0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
               AS s_p1q0,
           CAST(SUM(CAST(FLOOR(p0 * q0 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
               AS s_p0q0,
           CAST(SUM(CAST(FLOOR(p1 * q1 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
               AS s_p1q1,
           CAST(SUM(CAST(FLOOR(p0 * q1 + 0.5) AS DECIMAL(38,0))) AS DOUBLE)
               AS s_p0q1
    FROM wide
)
SELECT n_brands,
       FLOOR(s_p1q0 / s_p0q0 * 1000000 + 0.5) / 1000000 AS laspeyres,
       FLOOR(s_p1q1 / s_p0q1 * 1000000 + 0.5) / 1000000 AS paasche,
       FLOOR(sqrt((s_p1q0 / s_p0q0) * (s_p1q1 / s_p0q1)) * 1000000 + 0.5)
           / 1000000 AS fisher
FROM sums
""",
)
def ts_price_index_fisher(spark, sf_dir):
    """Laspeyres, Paasche and Fisher price indices between the first
    and second half of the shipping span — index-number theory's core
    triple: Laspeyres weights by OLD quantities (overstates inflation
    when buyers substitute away from price risers), Paasche by NEW
    (understates it), and Fisher's geometric mean is the
    superlative index national statistics agencies publish. Per-brand
    unit prices from exact micro/quantity BIGINT sums (q6-quantized at
    the one division), only brands trading in BOTH periods enter (the
    matched-basket rule), and each p x q cross term rides q6 DECIMAL.
    One fact pass + an O(brands) pivot; the Laspeyres <= Fisher <=
    Paasche ordering (or its reverse) is asserted in tests via the
    geometric-mean identity."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate", "l_extendedprice", "l_quantity")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    span = li.agg(F.min("l_shipdate").alias("lo"), F.max("l_shipdate").alias("hi"))
    tagged = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .crossJoin(F.broadcast(span))
        .select(
            F.col("p_brand").alias("brand"),
            F.when(
                F.datediff("l_shipdate", "lo") * 2 < F.datediff("hi", "lo"), 0
            )
            .otherwise(1)
            .alias("period"),
            F.floor(F.col("l_extendedprice") * F.lit(1e6) + F.lit(0.5))
            .cast("bigint")
            .alias("pq"),
            F.col("l_quantity").cast("bigint").alias("q"),
        )
    )
    pb = tagged.groupBy("brand", "period").agg(
        qround(F.sum("pq").cast("double") / F.lit(1e6) / F.sum("q")).alias("unit_p"),
        F.sum("q").cast("bigint").alias("qty"),
    )
    wide = (
        pb.groupBy("brand")
        .agg(
            F.max(F.when(F.col("period") == 0, F.col("unit_p"))).alias("p0"),
            F.max(F.when(F.col("period") == 1, F.col("unit_p"))).alias("p1"),
            F.max(F.when(F.col("period") == 0, F.col("qty"))).alias("q0"),
            F.max(F.when(F.col("period") == 1, F.col("qty"))).alias("q1"),
            F.count(F.lit(1)).alias("np"),
        )
        .filter(F.col("np") == 2)
    )
    q0sum = lambda c: (
        F.sum(F.floor(c + F.lit(0.5)).cast("decimal(38,0)")).cast("double")
    )
    sums = wide.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_brands"),
        q0sum(F.col("p1") * F.col("q0")).alias("s_p1q0"),
        q0sum(F.col("p0") * F.col("q0")).alias("s_p0q0"),
        q0sum(F.col("p1") * F.col("q1")).alias("s_p1q1"),
        q0sum(F.col("p0") * F.col("q1")).alias("s_p0q1"),
    )
    lasp = F.col("s_p1q0") / F.col("s_p0q0")
    paas = F.col("s_p1q1") / F.col("s_p0q1")
    return sums.select(
        "n_brands",
        qround(lasp).alias("laspeyres"),
        qround(paas).alias("paasche"),
        qround(F.sqrt(lasp * paas)).alias("fisher"),
    )


@register(
    "ts_revenue_beta",
    oracle="""
WITH bd AS (
    SELECT p.p_brand AS brand, CAST(l.l_shipdate AS DATE) AS day,
           CAST(SUM(CAST(FLOOR(l.l_extendedprice * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 / 1000.0 AS rev
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    GROUP BY 1, 2
), spine AS (
    -- zero-fill: covariance additivity (sum of betas = 1) only holds
    -- when every brand contributes EVERY day, silent days as zero
    SELECT br.brand, d.day, COALESCE(bd.rev, 0.0) AS rev
    FROM (SELECT DISTINCT brand FROM bd) br
    CROSS JOIN (SELECT DISTINCT day FROM bd) d
    LEFT JOIN bd ON bd.brand = br.brand AND bd.day = d.day
), td AS (
    SELECT day,
           FLOOR(CAST(SUM(CAST(FLOOR(rev * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
                 / 1e6 * 1e6 + 0.5) / 1e6 AS mkt
    FROM spine GROUP BY 1
), joined AS (
    SELECT b.brand, b.rev AS y, t.mkt AS x
    FROM spine b JOIN td t ON t.day = b.day
), m AS (
    SELECT brand, CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(CAST(FLOOR(x * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sx,
           CAST(SUM(CAST(FLOOR(y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sy,
           CAST(SUM(CAST(FLOOR(x * x * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sxx,
           CAST(SUM(CAST(FLOOR(x * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sxy,
           CAST(SUM(CAST(FLOOR(y * y * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS syy
    FROM joined GROUP BY 1
), fit AS (
    SELECT brand, n,
           (n * sxy - sx * sy) / (n * sxx - sx * sx) AS beta,
           (n * sxy - sx * sy) * (n * sxy - sx * sy)
               / ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
    FROM m
)
SELECT brand, CAST(n AS BIGINT) AS n_days,
       FLOOR(beta * 1000000 + 0.5) / 1000000 AS beta,
       FLOOR(r2 * 1000000 + 0.5) / 1000000 AS r2,
       CAST(ROW_NUMBER() OVER (ORDER BY beta DESC, brand) AS BIGINT) AS rank
FROM fit
""",
)
def ts_revenue_beta(spark, sf_dir):
    """Per-brand revenue BETA against the whole-catalog daily total —
    the portfolio-theory lens on a product catalog: beta > its revenue
    share means the brand AMPLIFIES market swings (its good days are
    everyone's good days — no diversification), beta near 0 means it
    hedges them; R^2 says how much of the brand's variance is
    systematic at all. The decomposition every demand-planning
    portfolio review wants next to raw volatility. One brand x day
    aggregate, the market series derived from it by one more
    day-group (no second fact pass), OLS from q6-DECIMAL moments at
    kilo-dollar scale (the cancellation-band discipline), deterministic
    beta ranking."""
    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_shipdate", "l_extendedprice")
    part = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bd = ckpt(
        by_day(
            li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]),
            F.col("p_brand").alias("brand"),
            col="l_shipdate",
        )
        .agg(
            (
                qsum(F.col("l_extendedprice"))
                / F.lit(1000.0)
            ).alias("rev")
        )
    )
    # zero-filled brand x day spine: beta additivity needs every brand
    # present every day (silent days count as zero revenue)
    spine = ckpt(
        bd.select("brand").distinct()
        .crossJoin(bd.select("day").distinct())
        .join(bd, ["brand", "day"], "left")
        .select("brand", "day", F.coalesce("rev", F.lit(0.0)).alias("rev"))
    )
    td = spine.groupBy("day").agg(qround(qsum(F.col("rev"))).alias("mkt"))
    joined = spine.join(td, "day").select(
        "brand", F.col("rev").alias("y"), F.col("mkt").alias("x")
    )
    m = joined.groupBy("brand").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        qsum(F.col("x")).alias("sx"),
        qsum(F.col("y")).alias("sy"),
        qsum(F.col("x") * F.col("x")).alias("sxx"),
        qsum(F.col("x") * F.col("y")).alias("sxy"),
        qsum(F.col("y") * F.col("y")).alias("syy"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    fit = m.select(
        "brand",
        "n",
        (cov / varx).alias("beta"),
        (cov * cov / (varx * vary)).alias("r2"),
    )
    w = Window.orderBy(F.desc("beta"), F.asc("brand"))
    return fit.select(
        "brand",
        F.col("n").cast("bigint").alias("n_days"),
        qround(F.col("beta")).alias("beta"),
        qround(F.col("r2")).alias("r2"),
        F.row_number().over(w).cast("bigint").alias("rank"),
    )


@register(
    "ts_durbin_watson",
    oracle="""
WITH daily AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 / 1000.0 AS rev
    FROM orders GROUP BY 1
), series AS (
    SELECT day, rev, CAST(ROW_NUMBER() OVER (ORDER BY day) AS BIGINT) AS i
    FROM daily
), m AS (
    SELECT CAST(COUNT(*) AS DOUBLE) AS n,
           CAST(SUM(i) AS DOUBLE) AS si,
           CAST(SUM(CAST(FLOOR(rev * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE) / 1e6
               AS sy,
           CAST(SUM(i * i) AS DOUBLE) AS sii,
           CAST(SUM(CAST(FLOOR(i * rev * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS siy
    FROM series
), fit AS (
    SELECT (n * siy - si * sy) / (n * sii - si * si) AS b,
           (sy - (n * siy - si * sy) / (n * sii - si * si) * si) / n AS a
    FROM m
), resid AS (
    SELECT s.i, FLOOR((s.rev - f.a - f.b * s.i) * 1e9 + 0.5) / 1e9 AS e
    FROM series s, fit f
), dw AS (
    SELECT
        CAST(SUM(CAST(FLOOR((r.e - l.e) * (r.e - l.e) * 1e6 + 0.5)
                      AS DECIMAL(38,6))) AS DOUBLE) / 1e6 AS sdiff
    FROM resid r JOIN resid l ON l.i = r.i - 1
), see AS (
    SELECT CAST(SUM(CAST(FLOOR(e * e * 1e6 + 0.5) AS DECIMAL(38,6))) AS DOUBLE)
               / 1e6 AS s2,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM resid
)
SELECT see.n AS n_days,
       FLOOR(dw.sdiff / see.s2 * 1000000 + 0.5) / 1000000 AS dw_stat,
       FLOOR((1.0 - dw.sdiff / see.s2 / 2.0) * 1000000 + 0.5) / 1000000
           AS rho_implied,
       dw.sdiff / see.s2 < 1.5 AS positive_autocorr
FROM dw, see
""",
)
def ts_durbin_watson(spark, sf_dir):
    """Durbin-Watson statistic on the residuals of the daily-revenue
    TREND regression — the classic 'are my regression errors serially
    correlated?' check that decides whether the trend fit's standard
    errors (ts_forecast_linear and every OLS in this repo) can be
    believed: DW ~ 2(1 - rho), so DW << 2 means positive
    autocorrelation and understated SEs (the practical rule DW < 1.5
    is flagged). OLS from exact index/DECIMAL moments, residuals
    q9-quantized through one broadcast of the 2-coefficient fit, the
    two quadratic sums in q6 DECIMAL over a self-lag join of the
    bounded day frame. Complements ts_ljung_box (which tests the raw
    series) by testing the MODEL'S residuals."""
    daily = ckpt(
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(
            (
                qsum(F.col("o_totalprice"))
                / F.lit(1000.0)
            ).alias("rev")
        )
    )
    series = ckpt(daily.select("day", "rev", _day_index().alias("i")))
    m = series.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("i").cast("double").alias("si"),
        qsum(F.col("rev")).alias("sy"),
        F.sum(F.col("i") * F.col("i")).cast("double").alias("sii"),
        qsum(F.col("i") * F.col("rev")).alias("siy"),
    )
    b = (F.col("n") * F.col("siy") - F.col("si") * F.col("sy")) / (
        F.col("n") * F.col("sii") - F.col("si") * F.col("si")
    )
    fit = m.select(b.alias("b"), ((F.col("sy") - b * F.col("si")) / F.col("n")).alias("a"))
    resid = ckpt(
        series.crossJoin(F.broadcast(fit)).select(
            "i", qround(F.col("rev") - F.col("a") - F.col("b") * F.col("i"), 9).alias("e")
        )
    )
    lagged = resid.select(F.col("i").alias("il"), F.col("e").alias("el"))
    sdiff = (
        resid.join(lagged, F.col("il") == F.col("i") - 1)
        .agg(qsum((F.col("e") - F.col("el")) * (F.col("e") - F.col("el"))).alias("sdiff"))
    )
    see = resid.agg(
        qsum(F.col("e") * F.col("e")).alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    dw = F.col("sdiff") / F.col("s2")
    return sdiff.crossJoin(F.broadcast(see)).select(
        F.col("n").alias("n_days"),
        qround(dw).alias("dw_stat"),
        qround(F.lit(1.0) - dw / F.lit(2.0)).alias("rho_implied"),
        (dw < F.lit(1.5)).alias("positive_autocorr"),
    )


@register(
    "ts_seasonal_indices",
    oracle="""
WITH rawday AS (
    SELECT CAST(o_orderdate AS DATE) AS day,
           CAST(SUM(CAST(FLOOR(o_totalprice * 1e6 + 0.5) AS DECIMAL(38,6)))
                AS DOUBLE) / 1e6 AS rev
    FROM orders GROUP BY 1
), spine AS (
    -- zero-fill: a day with no orders is a genuine zero-revenue day;
    -- without it sparse scales have NO complete weeks at all
    SELECT CAST(unnest(generate_series((SELECT MIN(day) FROM rawday),
                                       (SELECT MAX(day) FROM rawday),
                                       INTERVAL 1 DAY)) AS DATE) AS day
), daily AS (
    SELECT s.day, CAST(isodow(s.day) AS BIGINT) AS dow,
           COALESCE(r.rev, 0.0) AS rev
    FROM spine s LEFT JOIN rawday r ON r.day = s.day
), wk AS (
    SELECT datediff('day', DATE '1970-01-05', day) // 7 AS week, dow, rev,
           FLOOR(AVG(rev) OVER (PARTITION BY datediff('day', DATE '1970-01-05', day) // 7)
                 * 1e6 + 0.5) / 1e6 AS wavg,
           CAST(COUNT(*) OVER (PARTITION BY datediff('day', DATE '1970-01-05', day) // 7)
                AS BIGINT) AS ndays
    FROM daily
), ratios AS (
    -- all-zero weeks (wavg = 0) carry no seasonal information
    SELECT dow, FLOOR(rev / wavg * 1e9 + 0.5) / 1e9 AS ratio
    FROM wk WHERE ndays = 7 AND wavg > 0
), raw AS (
    SELECT dow, CAST(COUNT(*) AS BIGINT) AS n_weeks,
           CAST(SUM(CAST(FLOOR(ratio * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
               / 1e9 / COUNT(*) AS idx_raw
    FROM ratios GROUP BY 1
), norm AS (
    SELECT CAST(SUM(CAST(FLOOR(idx_raw * 1e9 + 0.5) AS DECIMAL(38,9))) AS DOUBLE)
               / 1e9 AS s
    FROM raw
)
SELECT r.dow, r.n_weeks,
       FLOOR(r.idx_raw * 7.0 / n.s * 1000000 + 0.5) / 1000000 AS seasonal_index
FROM raw r, norm n
""",
)
def ts_seasonal_indices(spark, sf_dir):
    """Classical multiplicative weekday indices (ratio-to-weekly-average
    method, normalized to sum to 7) — the planning artifact retail
    actually publishes: 'Friday runs at 1.18x an average day', used to
    deseasonalize targets and set staffing. Only COMPLETE weeks enter
    (a partial week biases its own average — the textbook pitfall,
    enforced with an exact 7-day count per ISO week), ratios
    q9-quantize the one division per day, per-dow means ride DECIMAL,
    and the final renormalization makes the indices sum to exactly 7
    by construction (asserted). Complements ts_seasonal_decompose
    (additive, trend-aware) with the multiplicative index table."""
    anchor = F.lit("1970-01-05").cast("date")
    raw = (
        by_day(t(spark, sf_dir, "orders"), col="o_orderdate")
        .agg(qsum(F.col("o_totalprice")).alias("rev"))
    )
    # zero-fill: a day with no orders is a genuine zero-revenue day;
    # without it sparse scales have NO complete weeks at all
    daily = ckpt(
        _day_grid(raw)
        .select(
            "day",
            F.coalesce("rev", F.lit(0.0)).alias("rev"),
            (((F.dayofweek("day") + 5) % 7) + 1).cast("bigint").alias("dow"),
            F.floor(F.datediff("day", anchor) / 7).cast("bigint").alias("week"),
        )
    )
    wk = daily.select(
        "dow",
        "rev",
        qround(F.avg("rev").over(Window.partitionBy("week"))).alias("wavg"),
        F.count(F.lit(1)).over(Window.partitionBy("week")).cast("bigint").alias("ndays"),
    )
    # all-zero weeks (wavg = 0) carry no seasonal information
    ratios = wk.filter((F.col("ndays") == 7) & (F.col("wavg") > 0)).select(
        "dow", qround(F.col("rev") / F.col("wavg"), 9).alias("ratio")
    )
    raw = ckpt(
        ratios.groupBy("dow").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_weeks"),
            (qsum(F.col("ratio"), 9) / F.count(F.lit(1))).alias("idx_raw"),
        )
    )
    return with_stats(raw, qsum(F.col("idx_raw"), 9).alias("s")).select(
        "dow",
        "n_weeks",
        qround(F.col("idx_raw") * F.lit(7.0) / F.col("s")).alias("seasonal_index"),
    )
