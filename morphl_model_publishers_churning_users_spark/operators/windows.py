"""§2.E — window functions.

The reference recomputed GA-style recency/session features per user
[SURVEY.md §2.E, unverified]; windows partitioned by user_id are the
Spark-native form. One shuffle on the partition key, sort within
partition, linear state — hot users are the skew risk at 100 TB and are
handled by AQE skew splitting (and, for the global-order ops ntile /
percent_rank, by the range-partitioned global sort Spark plans).

Determinism: every ORDER BY carries event_id as a tiebreaker so both
engines resolve equal timestamps identically. Epoch math is in
microseconds (unix_micros ↔ epoch_us) — both engines store µs, so there
is no truncation mismatch.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Window

from ..registry import register
from ._shared import by_day, day_of, dsum, qdec, qround, t

_US_7D = 7 * 86400 * 1_000_000


def _ev(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.withColumn("us", F.unix_micros(F.col("ts").cast("timestamp")))


@register(
    "win_rownum",
    oracle="""
SELECT user_id, event_id, ts, rn, rnk, drnk FROM (
    SELECT user_id, event_id, ts,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
           RANK() OVER (PARTITION BY user_id ORDER BY event_type) AS rnk,
           DENSE_RANK() OVER (PARTITION BY user_id ORDER BY event_type) AS drnk
    FROM events
) WHERE rn <= 3
""",
)
def win_rownum(spark, sf_dir):
    """Latest-3-events-per-user (the reference's 'latest session per user'
    shape) plus rank/dense_rank."""
    ev = t(spark, sf_dir, "events")
    w_latest = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    w_type = Window.partitionBy("user_id").orderBy("event_type")
    return (
        ev.select(
            "user_id", "event_id", "ts",
            F.row_number().over(w_latest).alias("rn"),
            F.rank().over(w_type).alias("rnk"),
            F.dense_rank().over(w_type).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@register(
    "win_lag",
    oracle="""
SELECT event_id, user_id,
       epoch_us(ts) - LAG(epoch_us(ts)) OVER w AS gap_us,
       LEAD(event_type) OVER w AS next_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def win_lag(spark, sf_dir):
    """Inter-event gap (re-derives GA daysSinceLastSession at µs grain)."""
    ev = _ev(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id", "user_id",
        (F.col("us") - F.lag("us").over(w)).alias("gap_us"),
        F.lead("event_type").over(w).alias("next_type"),
    )


@register(
    "win_frame_rows",
    oracle="""
SELECT event_id, user_id,
       ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS avg3
FROM events
""",
)
def win_frame_rows(spark, sf_dir):
    """ROWS-frame windowed aggregate: trailing-3-rows moving sum/avg per user in event order — the frame is positional, not value-based."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-2, 0)
    return ev.select("event_id", "user_id", F.round(F.avg("value").over(w), 6).alias("avg3"))


@register(
    "win_frame_range",
    oracle=f"""
SELECT o_custkey, o_orderkey,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
           PARTITION BY o_custkey ORDER BY epoch_us(o_orderdate)
           RANGE BETWEEN {_US_7D} PRECEDING AND CURRENT ROW) AS DOUBLE), 6) AS rev_7d
FROM orders
""",
)
def win_frame_range(spark, sf_dir):
    """7-day rolling revenue per customer — RANGE frame over epoch-µs."""
    o = t(spark, sf_dir, "orders").withColumn(
        "us", F.unix_micros(F.col("o_orderdate").cast("timestamp"))
    )
    w = Window.partitionBy("o_custkey").orderBy("us").rangeBetween(-_US_7D, 0)
    return o.select(
        "o_custkey", "o_orderkey",
        F.round(F.sum(F.col("o_totalprice").cast("decimal(38,6)")).over(w).cast("double"), 6).alias("rev_7d"),
    )


@register(
    "win_running",
    oracle="""
SELECT event_id, user_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS UNBOUNDED PRECEDING) AS DOUBLE), 6) AS cum_value
FROM events
""",
)
def win_running(spark, sf_dir):
    """Running (unbounded-preceding) totals and counts per user in event order — the cumulative scan every sessionized feature builds on."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double"), 6).alias("cum_value"),
    )


@register(
    "win_ntile",
    oracle="""
SELECT c_custkey,
       NTILE(10) OVER (ORDER BY c_acctbal DESC, c_custkey) AS decile,
       ROUND(PERCENT_RANK() OVER (ORDER BY c_acctbal), 6) AS pr,
       ROUND(CUME_DIST() OVER (ORDER BY c_acctbal), 6) AS cd
FROM customer
""",
)
def win_ntile(spark, sf_dir):
    """Score bucketing (the reference's churn-probability deciles).
    Global-order windows: Spark range-partitions the sort; at 100 TB this
    is the one window family that genuinely needs a global ordering."""
    c = t(spark, sf_dir, "customer")
    w_det = Window.orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    w_bal = Window.orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        F.ntile(10).over(w_det).alias("decile"),
        F.round(F.percent_rank().over(w_bal), 6).alias("pr"),
        F.round(F.cume_dist().over(w_bal), 6).alias("cd"),
    )


@register(
    "win_firstlast",
    oracle="""
SELECT DISTINCT user_id,
       FIRST_VALUE(event_type) OVER w AS first_touch,
       LAST_VALUE(event_type) OVER w AS last_touch
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_firstlast(spark, sf_dir):
    """First-touch / last-touch attribution per user."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_touch"),
        F.last("event_type").over(w).alias("last_touch"),
    ).distinct()


@register(
    "win_median",
    oracle="""
SELECT event_id, user_id,
       ROUND(median(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5,
       ROUND(median(value) OVER (PARTITION BY user_id), 6) AS med_user
FROM events
""",
)
def win_median(spark, sf_dir):
    """Rolling exact median (last-5-events) + per-user median. Exact
    percentile as a window aggregate — both engines interpolate the even
    case as the mean of the middle pair, so doubles match bit-for-bit
    after 6-decimal rounding. Spark 4 allows `percentile` (not `median`)
    over a framed window; partition-only medians are fine either way."""
    ev = t(spark, sf_dir, "events")
    w5 = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-4, 0)
    w_all = Window.partitionBy("user_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.percentile("value", F.lit(0.5)).over(w5), 6).alias("med5"),
        F.round(F.median("value").over(w_all), 6).alias("med_user"),
    )


@register(
    "win_streak",
    oracle="""
WITH days AS (
    SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
), grp AS (
    SELECT user_id, day,
           day - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS INTEGER) AS g
    FROM days
), streaks AS (
    SELECT user_id, g, COUNT(*) AS longest_streak, MIN(day) AS streak_start
    FROM grp GROUP BY 1, 2
), ranked AS (
    SELECT user_id, longest_streak, streak_start,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY longest_streak DESC, streak_start ASC) AS r
    FROM streaks
)
SELECT user_id, longest_streak, streak_start FROM ranked WHERE r = 1
""",
)
def win_streak(spark, sf_dir):
    """Longest consecutive-active-days streak per user (gaps-and-islands):
    day − row_number is constant within a run, so one window pass + one
    aggregate finds every streak — the engagement-streak feature the
    churn model wants, with no self-join and state linear in active days."""
    ev = t(spark, sf_dir, "events")
    days = ev.select("user_id", day_of().alias("day")).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn("g", F.date_sub("day", F.row_number().over(w)))
    streaks = grp.groupBy("user_id", "g").agg(
        F.count(F.lit(1)).alias("longest_streak"), F.min("day").alias("streak_start")
    )
    # max over (len, -start): ties on length resolve to the EARLIEST start,
    # mirroring the oracle's ORDER BY len DESC, start ASC.
    best = F.struct(
        F.col("longest_streak"),
        F.datediff(F.lit("9999-12-31").cast("date"), F.col("streak_start")),
    )
    return (
        streaks.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("longest_streak", "streak_start"), best
            ).alias("s")
        )
        .select("user_id", "s.longest_streak", "s.streak_start")
    )


@register(
    "win_rank_pct",
    oracle="""
SELECT c_custkey,
       c_nationkey,
       rank()         OVER w AS rnk,
       dense_rank()   OVER w AS drnk,
       FLOOR(percent_rank() OVER w * 1000000 + 0.5) / 1000000 AS prnk,
       FLOOR(cume_dist()    OVER w * 1000000 + 0.5) / 1000000 AS cdist
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal)
""",
)
def win_rank_pct(spark, sf_dir):
    """Relative-standing window functions — rank / dense_rank /
    percent_rank / cume_dist over account balance within nation. All four
    are tie-stable (equal keys get equal values), so the twin is exact
    without a tiebreak column; one sort per nation partition, shared by
    all four functions in a single Window node.

    Rounding is floor(x·1e6 + 0.5)/1e6 — pure IEEE double ops, bit-
    identical on both engines — instead of round(x, 6): these ratios hit
    EXACT decimal half-points (cume_dist = 41/640 = 0.0640625), where
    Spark's round() (shortest-decimal-string → BigDecimal HALF_UP) and
    DuckDB's ROUND (on the binary double) disagree by 1 ulp of the 6th
    decimal. Found by the sf0.1 parity sweep — sf0.01 partitions are
    powers of two, so every ratio there was exactly representable and
    the boundary never triggered."""
    c = t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        qround(F.percent_rank().over(w)).alias("prnk"),
        qround(F.cume_dist().over(w)).alias("cdist"),
    )


@register(
    "win_nth_ignore_nulls",
    oracle="""
SELECT DISTINCT user_id,
       nth_value(event_type, 2) OVER w AS second_type,
       last_value(CASE WHEN value <= 90 THEN round(value, 6) END IGNORE NULLS) OVER w
           AS last_small_value
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def win_nth_ignore_nulls(spark, sf_dir):
    """Positional window access with null skipping: the user's second
    event (nth_value) and their latest sub-threshold reading
    (last IGNORE NULLS — the forward-fill primitive). Full-frame over a
    deterministic (ts, event_id) order, collapsed to one row per user;
    same single partition sort as any other per-user window."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    small = F.when(F.col("value") <= 90, F.round("value", 6))
    return ev.select(
        "user_id",
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.last(small, ignorenulls=True).over(w).alias("last_small_value"),
    ).distinct()


@register(
    "win_distinct_running",
    oracle="""
WITH flagged AS (
  SELECT event_id, user_id, ts,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts, event_id) AS occ
  FROM events
)
SELECT event_id, user_id,
       CAST(SUM(CASE WHEN occ = 1 THEN 1 ELSE 0 END)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_distinct_types
FROM flagged
""",
)
def win_distinct_running(spark, sf_dir):
    """Running COUNT(DISTINCT) over a window — neither engine supports it
    natively, so each side uses a different decomposition and they must
    agree: Spark grows a collect_set per frame (bounded here by the 5
    event types, so state stays O(cardinality) not O(rows)); the oracle
    marks first occurrences with a per-(user,type) row_number and takes
    a cumulative sum. The first-occurrence form is also the 100 TB
    fallback when the distinct domain is unbounded."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).cast("bigint").alias("n_distinct_types"),
    )


@register(
    "win_ratio_to_report",
    oracle="""
SELECT event_id, user_id,
       ROUND(value / CAST(SUM(CAST(value AS DECIMAL(38,6)))
                          OVER (PARTITION BY user_id) AS DOUBLE), 6) AS share_of_user
FROM events
""",
)
def win_ratio_to_report(spark, sf_dir):
    """Ratio-to-report — each event's share of its user's total. An
    unordered partition window needs no sort at all (whole-partition
    frame → one pass attaching the group total to every row, cheaper
    than aggregate + self-join). The denominator accumulates in exact
    DECIMAL so both engines agree at the 6-decimal grain regardless of
    partition order."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    denom = F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double")
    return ev.select(
        "event_id",
        "user_id",
        F.round(F.col("value") / denom, 6).alias("share_of_user"),
    )


@register(
    "win_moving_zscore",
    oracle="""
SELECT user_id, ts, event_id,
       ROUND((value - avg(value) OVER w) / NULLIF(stddev_samp(value) OVER w, 0), 6)
           AS zscore,
       CAST(COUNT(*) OVER w AS BIGINT) AS n_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
)
def win_moving_zscore(spark, sf_dir):
    """Rolling z-score over the trailing 10 readings — the streaming-
    friendly anomaly detector (state = one bounded frame per key). Mean
    and stddev share ONE window frame/sort; single-row frames yield
    NULL stddev → NULL z on both engines, and NULLIF guards the
    zero-variance run. Same shape ports to the watermarked streaming
    path via a time-bounded frame."""
    ev = t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-9, Window.currentRow)
    )
    sd = F.stddev_samp("value").over(w)
    return ev.select(
        "user_id",
        "ts",
        "event_id",
        F.round((F.col("value") - F.avg("value").over(w)) / F.nullif(sd, F.lit(0.0)), 6).alias(
            "zscore"
        ),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_window"),
    )


@register(
    "win_frame_interval",
    oracle="""
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(38,6)))
            OVER (PARTITION BY user_id ORDER BY ts
                  RANGE BETWEEN INTERVAL 2 DAY PRECEDING AND CURRENT ROW)
            AS DOUBLE) AS roll_2d,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                           RANGE BETWEEN INTERVAL 2 DAY PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_2d
FROM events
""",
)
def win_frame_interval(spark, sf_dir):
    """Time-interval window frame — RANGE over a 2-day TIME bound
    rather than a row count or numeric offset (win_frame_rows /
    win_frame_range cover those): each event sees the sum and count of
    its user's activity in the trailing 48 hours, the "recent
    exposure" feature real-time scoring uses. Spark expresses the
    interval frame as rangeBetween on the microsecond offset from a
    fixed NTZ epoch (timestampdiff is timezone-free, so the frame
    boundary cannot shift under the driver's session timezone), which
    is semantically identical to DuckDB's INTERVAL frame at full
    microsecond precision — including the all-peers-at-equal-ts rule
    RANGE frames share. Sums in DECIMAL(38,6) as always."""
    ev = t(spark, sf_dir, "events")
    us = F.expr("timestampdiff(MICROSECOND, timestamp'2024-01-01 00:00:00', ts)")
    w = (
        Window.partitionBy("user_id")
        .orderBy(us.alias("us"))
        .rangeBetween(-2 * 86400 * 1000000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast("decimal(38,6)")).over(w).cast("double").alias("roll_2d"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_2d"),
    )


@register(
    "win_rolling_corr",
    oracle="""
WITH daily AS (
    SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS x,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS y
    FROM events GROUP BY 1
), win AS (
    SELECT day,
           CAST(COUNT(*) OVER w AS DOUBLE) AS n,
           CAST(SUM(x) OVER w AS DOUBLE) AS sx, CAST(SUM(y) OVER w AS DOUBLE) AS sy,
           CAST(SUM(x * y) OVER w AS DOUBLE) AS sxy,
           CAST(SUM(x * x) OVER w AS DOUBLE) AS sxx,
           CAST(SUM(y * y) OVER w AS DOUBLE) AS syy
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT day, CAST(n AS BIGINT) AS n_win,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
           FLOOR((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000
       END AS rolling_corr
FROM win
""",
)
def win_rolling_corr(spark, sf_dir):
    """Trailing 7-day correlation between click and purchase volume —
    the co-movement monitor for funnel health. The correlation is
    assembled from INTEGER window sums (all six moments exact over the
    7-row frame, one shared sort), so both engines divide identical
    doubles; IEEE sqrt is exact, the result quantizes at 1e-6, and
    zero-variance frames are NULL. The unpartitioned window runs on the
    already-collapsed day table — the only safe place for one (the
    ts_day_over_day discipline)."""
    daily = (
        by_day(t(spark, sf_dir, "events"))
        .agg(
            F.sum((F.col("event_type") == "click").cast("long")).alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("long")).alias("y"),
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    m = daily.select(
        "day",
        F.count(F.lit(1)).over(w).cast("double").alias("n"),
        F.sum("x").over(w).cast("double").alias("sx"),
        F.sum("y").over(w).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(w).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(w).cast("double").alias("syy"),
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(vx) * F.sqrt(vy)
    )
    return m.select(
        "day",
        F.col("n").cast("bigint").alias("n_win"),
        F.when((vx > 0) & (vy > 0), qround(corr)).alias("rolling_corr"),
    )


@register(
    "win_expanding_slope",
    oracle="""
WITH daily AS (
    SELECT event_type, date_trunc('day', ts) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM events GROUP BY 1, 2
), seq AS (
    SELECT event_type, d, y,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d) AS x
    FROM daily
), cums AS (
    SELECT event_type, d, x, y,
           SUM(x) OVER w AS sx,
           SUM(CAST(x AS BIGINT) * x) OVER w AS sxx,
           SUM(CAST(y AS DECIMAL(38,6))) OVER w AS sy,
           SUM(CAST(FLOOR(y * x * 1e6 + 0.5) AS DECIMAL(38,6))) OVER w AS sxy_q,
           COUNT(*) OVER w AS n
    FROM seq
    WINDOW w AS (PARTITION BY event_type ORDER BY d ROWS UNBOUNDED PRECEDING)
)
SELECT event_type, d,
       ROUND((CAST(sxy_q AS DOUBLE) / 1e6 - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
             / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n), 6) AS slope
FROM cums WHERE n >= 2
""",
)
def win_expanding_slope(spark, sf_dir):
    """Expanding-window regression slope — the live trend readout: for
    every day, the OLS slope of daily volume vs time over ALL history
    to date, per event type (agg_trend gives one number at the end;
    operations wants the trajectory of the trend). Closed-form from
    expanding sums: Σx, Σx², Σy, Σxy as window cumulatives — Σx/Σx²
    are pure integers, Σy and the 1e-6-quantized Σxy ride DECIMAL
    window sums (segment-tree re-association can't perturb decimal
    addition), so the slope at every row is a deterministic function
    of bit-identical parts. One day-grain shuffle + one type-keyed
    ordered window; no per-row re-fit, O(1) state per step — the form
    that runs incrementally at any scale."""
    e = t(spark, sf_dir, "events")
    daily = by_day(e, "event_type").agg(dsum(F.col("value")).alias("y"))
    w_ord = Window.partitionBy("event_type").orderBy("day")
    seq = daily.withColumn("x", F.row_number().over(w_ord))
    w = w_ord.rowsBetween(Window.unboundedPreceding, 0)
    cums = seq.select(
        "event_type",
        F.col("day").cast("timestamp").alias("d"),
        F.sum("x").over(w).alias("sx"),
        F.sum(F.col("x").cast("bigint") * F.col("x")).over(w).alias("sxx"),
        F.sum(F.col("y").cast("decimal(38,6)")).over(w).alias("sy"),
        F.sum(
            qdec(F.col("y") * F.col("x"))
        )
        .over(w)
        .alias("sxy_q"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    slope = (
        F.col("sxy_q").cast("double") / F.lit(1e6)
        - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
    ) / (
        F.col("sxx").cast("double")
        - F.col("sx").cast("double") * F.col("sx") / F.col("n")
    )
    return (
        cums.filter(F.col("n") >= 2)
        .select("event_type", "d", F.round(slope, 6).alias("slope"))
    )


@register(
    "win_event_pattern",
    oracle="""
WITH ordered AS (
    SELECT user_id, ts, event_id, event_type,
           LEAD(event_type) OVER w AS nxt_type,
           LEAD(event_id) OVER w AS nxt_id,
           LEAD(ts) OVER w AS nxt_ts,
           FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS rec_id,
           FIRST_VALUE(CASE WHEN event_type = 'purchase' THEN ts END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS rec_ts
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, event_id AS click_id, nxt_id AS error_id, rec_id AS recovery_id,
       -- elapsed FULL seconds via µs floor-div: engines disagree on
       -- datediff('second') boundary-crossing semantics
       (epoch_us(rec_ts) - epoch_us(nxt_ts)) // 1000000 AS gap_s
FROM ordered
WHERE event_type = 'click' AND nxt_type = 'error'
  AND rec_id IS NOT NULL
  AND (epoch_us(rec_ts) - epoch_us(nxt_ts)) // 1000000 <= 86400
""",
)
def win_event_pattern(spark, sf_dir):
    """Sequence-pattern detection (MATCH_RECOGNIZE-lite) — the 3-state
    pattern 'click immediately followed by error, then a purchase
    within 24 hours of the error' (error-interrupted conversion that
    RECOVERED — the funnel row ts_funnel's unordered containment
    can't see, because here adjacency and order are the semantics).
    Engines without MATCH_RECOGNIZE (Spark included) express linear
    patterns as window compositions: LEAD×2 pins the contiguous
    (click, error) bigram, a FOLLOWING-frame first_value(IGNORE
    NULLS) binds the next purchase — the same carry trick as
    join_asof_forward, inline. ONE user-keyed shuffle serves all
    three states; state per user is a cursor, not a buffer, so the
    plan is the streaming-safe NFA simulation shape. Tie order
    (ts, event_id) makes every binding deterministic."""
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(2, Window.unboundedFollowing)
    )
    is_p = F.when(F.col("event_type") == "purchase", F.col("event_id"))
    is_pts = F.when(F.col("event_type") == "purchase", F.col("ts"))
    o = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lead("event_type").over(w).alias("nxt_type"),
        F.lead("event_id").over(w).alias("nxt_id"),
        F.lead("ts").over(w).alias("nxt_ts"),
        F.first(is_p, ignorenulls=True).over(wf).alias("rec_id"),
        F.first(is_pts, ignorenulls=True).over(wf).alias("rec_ts"),
    )
    gap = F.floor(F.expr("timestampdiff(MICROSECOND, nxt_ts, rec_ts)") / F.lit(1000000))
    return o.filter(
        (F.col("event_type") == "click")
        & (F.col("nxt_type") == "error")
        & F.col("rec_id").isNotNull()
        & (gap <= 86400)
    ).select(
        "user_id",
        F.col("event_id").alias("click_id"),
        F.col("nxt_id").alias("error_id"),
        F.col("rec_id").alias("recovery_id"),
        gap.cast("bigint").alias("gap_s"),
    )


@register(
    "win_hampel_filter",
    oracle="""
WITH daily AS (
    SELECT event_type, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
), framed AS (
    SELECT event_type, day, x,
           list(x) OVER (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS w
    FROM daily
), scored AS (
    SELECT event_type, day, x,
           list_sort(w)[4] AS med7,
           list_sort(list_transform(w, v -> abs(v - list_sort(w)[4])))[4] AS mad7
    FROM framed WHERE len(w) = 7
)
SELECT event_type, day, x, med7, mad7,
       abs(x - med7) > 3 * mad7 AS is_outlier
FROM scored
""",
)
def win_hampel_filter(spark, sf_dir):
    """Hampel filter — the ROBUST outlier flag for time series: a point
    is anomalous when it sits more than 3 MADs from the centered
    7-day rolling MEDIAN. This is what win_moving_zscore should have
    been wherever outliers contaminate the very mean/std that score
    them (a single 10x spike inflates the rolling std enough to hide
    itself; the median/MAD pair has a 50% breakdown point). Everything
    is EXACT integer arithmetic on the collected 7-frame: median =
    sorted[4], MAD = median of |x_j - med| over the same frame — no
    quantization anywhere, and the mad7 = 0 edge (a constant window)
    flags any deviation, documented. One keyed window over the
    post-aggregate day table; full frames only."""
    ev = t(spark, sf_dir, "events")
    daily = by_day(ev, "event_type").agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    wf = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    framed = daily.select(
        "event_type", "day", "x", F.collect_list("x").over(wf).alias("w")
    ).filter(F.size("w") == 7)
    med = F.expr("sort_array(w)[3]")
    mad = F.expr(
        "sort_array(transform(w, v -> abs(v - sort_array(w)[3])))[3]"
    )
    return framed.select(
        "event_type",
        "day",
        "x",
        med.cast("bigint").alias("med7"),
        mad.cast("bigint").alias("mad7"),
        (F.abs(F.col("x") - med) > 3 * mad).alias("is_outlier"),
    )
