"""Time-series completions: gap filling and funnel analysis.

Two event-analytics staples beyond plain windowed aggs — both pure
relational compositions (SURVEY.md §2.9 family):

- q_gap_fill: dense hourly series per event type with zero-filled
  gaps — the "resample" primitive behind dashboards and hypertable
  rollups.  The hour spine is generated with F.sequence + explode
  (rows = hours × types, tiny relative to events) and the events agg
  is left-joined onto it; at 100 TB the spine stays negligible while
  the agg side is the usual two-phase hash agg.
- q_funnel: staged conversion (click → signup → purchase, each stage
  at-or-after the previous) per user, reduced to stage counts.  Three
  conditional aggs chained on user_id; all three shuffles share the
  same key so AQE/bucketing co-locates them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from processor_spark.caching import scoped_persist
from processor_spark.registry import register
from processor_spark.sources import load


@register(
    "q_gap_fill",
    sql="""
    WITH bounds AS (
      SELECT date_trunc('hour', min(ts)) AS lo, date_trunc('hour', max(ts)) AS hi
      FROM events
    ), hours AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket_start FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), actual AS (
      SELECT date_trunc('hour', ts) AS bucket_start, event_type,
             count(*) AS n, round(sum(value), 3) AS v
      FROM events GROUP BY 1, 2
    )
    SELECT h.bucket_start, t.event_type,
           coalesce(a.n, 0) AS n_events,
           coalesce(a.v, 0.0) AS total_value
    FROM hours h
    CROSS JOIN types t
    LEFT JOIN actual a
      ON a.bucket_start = h.bucket_start AND a.event_type = t.event_type
    """,
)
def q_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly series per event type; missing hours zero-filled."""
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("hour", F.min("ts")).alias("lo"),
        F.date_trunc("hour", F.max("ts")).alias("hi"),
    )
    hours = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("bucket_start")
    )
    types = e.select("event_type").distinct()
    actual = (
        e.groupBy(F.date_trunc("hour", "ts").alias("bucket_start"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 3).alias("v"))
    )
    spine = hours.crossJoin(F.broadcast(types))
    return (
        spine.join(actual, ["bucket_start", "event_type"], "left")
        .select(
            "bucket_start",
            "event_type",
            F.coalesce("n", F.lit(0)).alias("n_events"),
            F.coalesce("v", F.lit(0.0)).alias("total_value"),
        )
    )


@register(
    "q_funnel",
    sql="""
    WITH c AS (
      SELECT user_id, min(ts) AS t_click FROM events
      WHERE event_type = 'click' GROUP BY user_id
    ), s AS (
      SELECT e.user_id, min(e.ts) AS t_signup
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'signup' AND e.ts >= c.t_click
      GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t_purchase
      FROM events e JOIN s ON e.user_id = s.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= s.t_signup
      GROUP BY e.user_id
    )
    SELECT (SELECT count(*) FROM c) AS users_clicked,
           (SELECT count(*) FROM s) AS users_signed_up,
           (SELECT count(*) FROM p) AS users_purchased
    """,
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-stage funnel: users whose first click precedes a signup which
    precedes a purchase (each stage at-or-after the previous one)."""
    e = load(spark, sf_dir, "events")
    c = (
        e.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    s = (
        e.where(F.col("event_type") == "signup")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_signup"))
    )
    p = (
        e.where(F.col("event_type") == "purchase")
        .join(s, "user_id")
        .where(F.col("ts") >= F.col("t_signup"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    return (
        c.agg(F.count(F.lit(1)).alias("users_clicked"))
        .crossJoin(s.agg(F.count(F.lit(1)).alias("users_signed_up")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("users_purchased")))
    )


@register(
    "q_anomaly_zscore",
    sql="""
    SELECT event_id, event_type, round(value, 3) AS value, round(z, 4) AS z
    FROM (
      SELECT event_id, event_type, value,
             (value - avg(value) OVER (PARTITION BY event_type))
               / NULLIF(stddev(value) OVER (PARTITION BY event_type), 0) AS z
      FROM events
    )
    WHERE abs(z) > 3.0
    """,
)
def q_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score anomaly detection: events whose value is >3 sample
    standard deviations from their type's mean.  One unordered window
    per event_type (a single shuffle on the partition key; at scale the
    per-type stats could instead be a broadcast-back groupBy so the
    fact table is scanned once and never sorted)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type")
    z = (F.col("value") - F.avg("value").over(w)) / F.nullif(
        F.stddev("value").over(w), F.lit(0.0)
    )
    return (
        e.withColumn("z", z)
        .where(F.abs(F.col("z")) > 3.0)
        .select(
            "event_id",
            "event_type",
            F.round("value", 3).alias("value"),
            F.round("z", 4).alias("z"),
        )
    )


@register(
    "q_cohort_retention",
    sql="""
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week FROM events GROUP BY user_id
    )
    SELECT strftime(f.cohort_week, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', f.cohort_week, date_trunc('week', e.ts)) / 7 AS INTEGER) AS week_n,
           CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_users
    FROM events e JOIN firsts f USING (user_id)
    GROUP BY f.cohort_week, week_n
    """,
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-seen week, counted
    distinct in each subsequent week.  first-seen is a groupBy (not a
    window) so the fact scan shuffles once on user_id and the cohort
    map joins back by key; Monday week-truncation agrees across engines
    and the DATE is stringified (CLAUDE.md bridge)."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort_week"))
    return (
        e.join(firsts, "user_id")
        .withColumn(
            "week_n",
            (F.datediff(F.date_trunc("week", F.col("ts")), F.col("cohort_week")) / 7).cast("int"),
        )
        .groupBy(
            F.date_format("cohort_week", "yyyy-MM-dd").alias("cohort_week"), "week_n"
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "q_transition_matrix",
    sql="""
    SELECT event_type, next_type, CAST(count(*) AS BIGINT) AS n,
           round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY event_type), 4) AS p
    FROM (
      SELECT event_type,
             lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    )
    WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    """,
)
def q_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over each user's event
    sequence: P(next event type | current).  One shuffle on user_id for
    the lead window, then a tiny (types × types) agg; the row-normalize
    window runs on that tiny result, not the fact table."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        e.withColumn("next_type", F.lead("event_type").over(seq))
        .where(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    norm = Window.partitionBy("event_type")
    return counts.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(norm), 4).alias("p"),
    )


@register(
    "q_event_throttle",
    sql="""
    SELECT event_id, user_id, event_type, ts
    FROM (
      SELECT event_id, user_id, event_type, ts,
             lag(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS prev_ts
      FROM events
    )
    WHERE prev_ts IS NULL OR date_diff('second', prev_ts, ts) >= 300
    """,
)
def q_event_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Debounce/throttle: keep an event only if the previous event of
    the same (user, type) is at least 5 minutes older — the dedup
    variant real pipelines want when retries arrive with fresh ids
    (dropDuplicates can't catch them).  Single lag window per key;
    streaming twin is the same logic via applyInPandasWithState."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    prev = F.lag("ts").over(w)
    return (
        e.withColumn("prev_ts", prev)
        .where(
            F.col("prev_ts").isNull()
            | ((F.unix_micros("ts") - F.unix_micros("prev_ts")) >= 300 * 1_000_000)
        )
        .select("event_id", "user_id", "event_type", "ts")
    )


@register(
    "q_resample_ohlc",
    sql="""
    WITH b AS (
      SELECT CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT) AS bucket_epoch,
             event_type, value, ts, event_id,
             row_number() OVER (
               PARTITION BY CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT), event_type
               ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (
               PARTITION BY CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT), event_type
               ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT bucket_epoch, event_type,
           round(max(CASE WHEN rn_a = 1 THEN value END), 3) AS open,
           round(max(value), 3) AS high,
           round(min(value), 3) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 3) AS close,
           count(*) AS n_events,
           round(sum(value), 3) AS volume
    FROM b
    GROUP BY bucket_epoch, event_type
    """,
)
def q_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Downsample/resample to 6-hour OHLC bars per event type — the
    time-series "candlestick" primitive (open/high/low/close first-
    and-last semantics made deterministic with an (ts, event_id)
    tie-break on both engines).  One shuffle on (bucket, type): the
    two row_numbers share the partition key with the final agg, so
    Catalyst plans a single exchange followed by two in-partition
    sorts and a partial+final hash agg.  At 100 TB the bar count is
    bounded (buckets x types), so the output is dashboard-sized no
    matter the input."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    b = e.withColumn(
        "bucket_epoch",
        (F.floor(F.unix_timestamp("ts") / 21600) * 21600).cast("bigint"),
    )
    part = ["bucket_epoch", "event_type"]
    w_a = Window.partitionBy(*part).orderBy(F.asc("ts"), F.asc("event_id"))
    w_d = Window.partitionBy(*part).orderBy(F.desc("ts"), F.desc("event_id"))
    b = b.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    return b.groupBy(*part).agg(
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 3).alias("open"),
        F.round(F.max("value"), 3).alias("high"),
        F.round(F.min("value"), 3).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 3).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 3).alias("volume"),
    )


def _ewma_terms(alpha: float = 0.5, depth: int = 8) -> tuple[str, str]:
    """Identically-ordered numerator/denominator lag chains for both
    engines.  0.5**k is binary-exact, the hourly inputs are exact
    micro-units, and the term order is fixed by the generated text — so
    Spark and DuckDB run bit-identical float arithmetic."""
    num = " + ".join(
        f"coalesce({alpha**k!r} * lag(v, {k}) OVER w, 0.0)" for k in range(depth)
    )
    den = " + ".join(
        f"(CASE WHEN lag(v, {k}) OVER w IS NOT NULL THEN {alpha**k!r} ELSE 0.0 END)"
        for k in range(depth)
    )
    return num, den


_EWMA_NUM, _EWMA_DEN = _ewma_terms()


@register(
    "q_ewma",
    sql=f"""
    WITH hourly AS (
      SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS bucket_epoch,
             event_type,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents,
             count(*) AS n
      FROM events
      GROUP BY 1, 2
    ), avgd AS (
      SELECT bucket_epoch, event_type,
             CAST(floor(CAST(cents AS DOUBLE) * 100.0 / n + 0.5) AS BIGINT) AS hourly_avg_micro,
             CAST(CAST(floor(CAST(cents AS DOUBLE) * 100.0 / n + 0.5) AS BIGINT) AS DOUBLE)
               / 10000.0 AS v
      FROM hourly
    )
    SELECT bucket_epoch, event_type, hourly_avg_micro,
           CAST(floor(({_EWMA_NUM}) / ({_EWMA_DEN}) * 10000.0 + 0.5) AS BIGINT) AS ewma_micro
    FROM avgd
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_epoch)
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average (alpha=0.5, 8-term
    truncation) of the hourly mean value per event type — the
    smoothing primitive behind alerting baselines.  The recursive EWMA
    definition is unrolled into a fixed lag chain, so it stays a pure
    window expression (one shuffle on event_type, no UDF, no
    iteration); the truncation error is alpha**8 < 0.4 %.  Weights are
    renormalized over the lags that exist so the series is exact from
    the first bucket.

    Parity-by-construction (sf0.1 caught systematic round() flips):
    hourly means of 2-decimal values land EXACTLY on 4/6-dp rounding
    boundaries (rationals with denominator n·100), where Spark's
    BigDecimal HALF_UP and DuckDB's multiply+std::round disagree.  So
    no engine round() anywhere: values become exact integer cents
    (floor(x·100+0.5)), sums are exact 64-bit ints in any order, and
    every emitted float is an integer micro-unit via floor(x·1e4+0.5)
    — identical elementary IEEE ops on identical inputs on both
    engines, which cannot diverge."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    hourly = e.groupBy(
        (F.floor(F.unix_timestamp("ts") / 3600) * 3600)
        .cast("bigint")
        .alias("bucket_epoch"),
        "event_type",
    ).agg(F.sum(cents).cast("bigint").alias("cents"), F.count(F.lit(1)).alias("n"))
    micro = F.floor(F.col("cents").cast("double") * 100.0 / F.col("n") + 0.5).cast("bigint")
    avgd = hourly.select(
        "bucket_epoch",
        "event_type",
        micro.alias("hourly_avg_micro"),
        (micro.cast("double") / 10000.0).alias("v"),
    )
    w = Window.partitionBy("event_type").orderBy("bucket_epoch")
    num = sum(
        (F.coalesce(F.lit(0.5**k) * F.lag("v", k).over(w), F.lit(0.0)) for k in range(8)),
        start=F.lit(0.0),
    )
    den = sum(
        (
            F.when(F.lag("v", k).over(w).isNotNull(), F.lit(0.5**k)).otherwise(F.lit(0.0))
            for k in range(8)
        ),
        start=F.lit(0.0),
    )
    return avgd.select(
        "bucket_epoch",
        "event_type",
        "hourly_avg_micro",
        F.floor(num / den * 10000.0 + 0.5).cast("bigint").alias("ewma_micro"),
    )


@register(
    "q_rollup_hier",
    sql="""
    WITH hour AS (
      SELECT event_type,
             CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS bucket_epoch,
             CAST(floor(epoch(date_trunc('day',  ts))) AS BIGINT) AS day_epoch,
             CAST(floor(epoch(date_trunc('week', ts))) AS BIGINT) AS week_epoch,
             count(*) AS n_events, round(sum(value), 3) AS total_value
      FROM events GROUP BY 1, 2, 3, 4
    ), day AS (
      SELECT event_type, day_epoch AS bucket_epoch,
             min(week_epoch) AS week_epoch,
             CAST(sum(n_events) AS BIGINT) AS n_events,
             round(sum(total_value), 3) AS total_value
      FROM hour GROUP BY 1, 2
    ), week AS (
      SELECT event_type, week_epoch AS bucket_epoch,
             CAST(sum(n_events) AS BIGINT) AS n_events,
             round(sum(total_value), 3) AS total_value
      FROM day GROUP BY 1, 2
    )
    SELECT 'hour' AS granularity, event_type, bucket_epoch, n_events, total_value FROM hour
    UNION ALL
    SELECT 'day', event_type, bucket_epoch, n_events, total_value FROM day
    UNION ALL
    SELECT 'week', event_type, bucket_epoch, n_events, total_value FROM week
    """,
)
def q_rollup_hier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate hierarchy: hour buckets
    aggregated once from the raw events, then day re-aggregated from
    hour and week from day — the input is scanned ONCE regardless of
    how many granularities are served (the TimescaleDB/Druid rollup
    pattern).  hour/day are persisted because each feeds two branches
    of the union (CLAUDE.md shared-subplan rule); their size is
    bounded by buckets x types, so the cache is negligible at 100 TB
    while the raw scan is the whole cost."""
    e = load(spark, sf_dir, "events")

    def _epoch(level: str) -> F.Column:
        return F.unix_timestamp(F.date_trunc(level, "ts")).alias(f"{level}_epoch")

    hour = (
        e.groupBy(
            "event_type",
            F.unix_timestamp(F.date_trunc("hour", "ts")).alias("bucket_epoch"),
            _epoch("day"),
            _epoch("week"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 3).alias("total_value"))
        .transform(scoped_persist)
    )
    day = (
        hour.groupBy("event_type", F.col("day_epoch").alias("bucket_epoch"))
        .agg(
            F.min("week_epoch").alias("week_epoch"),
            F.sum("n_events").alias("n_events"),
            F.round(F.sum("total_value"), 3).alias("total_value"),
        )
        .transform(scoped_persist)
    )
    week = day.groupBy("event_type", F.col("week_epoch").alias("bucket_epoch")).agg(
        F.sum("n_events").alias("n_events"),
        F.round(F.sum("total_value"), 3).alias("total_value"),
    )
    cols = ["granularity", "event_type", "bucket_epoch", "n_events", "total_value"]
    out = (
        hour.withColumn("granularity", F.lit("hour")).select(*cols)
        .unionByName(day.withColumn("granularity", F.lit("day")).select(*cols))
        .unionByName(week.withColumn("granularity", F.lit("week")).select(*cols))
    )
    return out


@register(
    "q_cumulative_distinct",
    sql="""
    WITH first_seen AS (
      SELECT event_type, user_id,
             min(CAST(date_trunc('day', ts) AS DATE)) AS first_day
      FROM events GROUP BY 1, 2
    ), daily_new AS (
      SELECT event_type, first_day AS day, count(*) AS new_users
      FROM first_seen GROUP BY 1, 2
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(sum(new_users) OVER (PARTITION BY event_type ORDER BY day) AS BIGINT)
             AS cum_users
    FROM daily_new
    """,
)
def q_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per event type by day — the growth
    curve every analytics stack needs.  COUNT(DISTINCT) OVER a running
    frame is unsupported/expensive in both engines; the scale-safe
    rewrite is first-touch attribution: min(day) per (type, user)
    collapses the input to one row per user, daily new-user counts
    follow, and the cumulative sum is a window over ~30 rows per type.
    State never exceeds |users| — no per-day distinct recount."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    first_seen = e.groupBy("event_type", "user_id").agg(
        F.min(F.date_trunc("day", "ts").cast("date")).alias("first_day")
    )
    daily_new = first_seen.groupBy("event_type", F.col("first_day").alias("day")).agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    return daily_new.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@register(
    "q_growth_mom",
    sql="""
    WITH monthly AS (
      SELECT strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month,
             round(sum(o_totalprice), 2) AS revenue
      FROM orders GROUP BY 1
    )
    SELECT month, revenue,
           round(revenue - lag(revenue) OVER (ORDER BY month), 2) AS delta,
           round(100.0 * (revenue - lag(revenue) OVER (ORDER BY month))
                 / lag(revenue) OVER (ORDER BY month), 4) AS pct_change
    FROM monthly
    """,
)
def q_growth_mom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: monthly rollup then lag deltas
    and percent change — the canonical KPI trend query.  The lag
    window runs over ~80 monthly rows (post-agg), so the unpartitioned
    ordering is a non-issue at any input scale; revenue is rounded
    before the window so both engines difference identical doubles."""
    from pyspark.sql import Window

    o = load(spark, sf_dir, "orders")
    monthly = o.groupBy(
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("month")
    prev = F.lag("revenue").over(w)
    return monthly.select(
        "month",
        "revenue",
        F.round(F.col("revenue") - prev, 2).alias("delta"),
        F.round(100.0 * (F.col("revenue") - prev) / prev, 4).alias("pct_change"),
    )


@register(
    "q_gap_fill_locf",
    sql="""
    WITH bounds AS (
      SELECT date_trunc('day', min(ts)) AS lo, date_trunc('day', max(ts)) AS hi
      FROM events
    ), days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM bounds
    ), types AS (
      SELECT DISTINCT event_type FROM events
    ), actual AS (
      SELECT date_trunc('day', ts) AS day, event_type,
             round(avg(value), 3) AS v
      FROM events WHERE value > 90 GROUP BY 1, 2
    )
    SELECT day, event_type,
           last_value(v IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_ff
    FROM (
      SELECT d.day, t.event_type, a.v
      FROM days d CROSS JOIN types t
      LEFT JOIN actual a ON a.day = d.day AND a.event_type = t.event_type
    )
    """,
)
def q_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap fill with LOCF (last observation carried forward): a dense
    daily spine per event type where days with no qualifying reading
    repeat the previous day's value — the standard forward-fill
    resample for sensor/metric series (zero-fill sibling: q_gap_fill).

    The sparse "readings" series (daily avg of value>90) is left-joined
    onto the generated spine, then F.last(ignorenulls) over an
    unbounded-preceding frame carries values forward. Days before the
    first reading stay NULL by design. At 100 TB the spine is
    days×types (tiny); the carry is one window shuffle keyed by type —
    state per task is a single scalar, so frame evaluation is O(rows).
    """
    e = load(spark, sf_dir, "events")
    bounds = e.agg(
        F.date_trunc("day", F.min("ts")).alias("lo"),
        F.date_trunc("day", F.max("ts")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("day")
    )
    types = e.select("event_type").distinct()
    actual = (
        e.where(F.col("value") > 90)
        .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
        .agg(F.round(F.avg("value"), 3).alias("v"))
    )
    spine = days.crossJoin(types).join(actual, ["day", "event_type"], "left")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return spine.select(
        "day", "event_type", F.last("v", ignorenulls=True).over(w).alias("value_ff")
    )


@register(
    "q_attribution",
    sql="""
    WITH touches AS (
      SELECT user_id, ts AS touch_ts, event_id AS touch_id, event_type AS touch_type
      FROM events WHERE event_type IN ('click', 'view')
    ), purchases AS (
      SELECT user_id, ts AS p_ts, event_id AS p_id, value AS revenue
      FROM events WHERE event_type = 'purchase'
    ), candidates AS (
      SELECT p.p_id, p.revenue, t.touch_type,
             row_number() OVER (PARTITION BY p.p_id
                                ORDER BY t.touch_ts, t.touch_id) AS rn
      FROM purchases p
      JOIN touches t
        ON t.user_id = p.user_id
       AND t.touch_ts <= p.p_ts
       AND t.touch_ts >  p.p_ts - INTERVAL 7 DAY
    )
    SELECT touch_type,
           count(*) AS n_purchases,
           round(sum(revenue), 3) AS attributed_revenue
    FROM candidates WHERE rn = 1
    GROUP BY touch_type
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch marketing attribution: each purchase's revenue is
    credited to the EARLIEST click/view of the same user in the 7 days
    before the purchase; output is revenue per touch channel.

    Shape: an interval join (user equi-key + 7-day residual band, same
    posture as q_join_interval — never a nested loop) followed by a
    per-purchase row_number to pick the first touch, with (ts,
    event_id) as a total order. Candidate fan-out is bounded by
    touches-per-user-week, not by table sizes; at 100 TB both sides
    shuffle once on user_id and the rank window rides the same
    partitioning.
    """
    e = load(spark, sf_dir, "events")
    touches = e.where(F.col("event_type").isin("click", "view")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("touch_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
    )
    purchases = e.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("ts").alias("p_ts"),
        F.col("event_id").alias("p_id"),
        F.col("value").alias("revenue"),
    )
    cand = purchases.join(
        touches,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("touch_ts") <= F.col("p_ts"))
        & (F.col("touch_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("p_id").orderBy("touch_ts", "touch_id")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .groupBy("touch_type")
        .agg(
            F.count("*").alias("n_purchases"),
            F.round(F.sum("revenue"), 3).alias("attributed_revenue"),
        )
    )


@register(
    "q_rolling_median",
    sql="""
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket,
             round(sum(value), 3) AS hour_value
      FROM events
      GROUP BY 1, 2
    )
    SELECT event_type, bucket,
           round(median(hour_value) OVER (
             PARTITION BY event_type ORDER BY bucket
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS med7
    FROM hourly
    """,
)
def q_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-bucket exact median of hourly value per event type —
    the robust (outlier-immune) smoother a moving average is not.

    The frame holds ≤7 values, so the exact median is a per-frame sort
    of a constant-size buffer — unlike a global exact median this
    scales linearly.  Spark refuses aggregate `median` with a window
    frame (INVALID_WINDOW_SPEC_FOR_AGGREGATION_FUNC), so the frame is
    collected (collect_list over ROWS BETWEEN — allowed), sorted, and
    the middle taken explicitly, averaging the two middle values on
    even counts exactly as DuckDB's windowed median does.  The hourly
    pre-agg sum is rounded on BOTH sides so the median's input is
    bit-identical.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("bucket")
    ).agg(F.round(F.sum("value"), 3).alias("hour_value"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("hour_value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, ((n + 1) / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    return hourly.select(
        "event_type",
        "bucket",
        F.round((lo + hi) / 2.0, 4).alias("med7"),
    )


@register(
    "q_cross_correlation",
    sql="""
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS bucket,
             round(sum(CASE WHEN event_type = 'click'    THEN value ELSE 0 END), 3) AS clicks,
             round(sum(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END), 3) AS purchases
      FROM events
      GROUP BY 1
    ), lagged AS (
      SELECT bucket, clicks, purchases,
             lag(clicks, 1) OVER (ORDER BY bucket) AS clicks_prev
      FROM hourly
    )
    SELECT round(corr(purchases, clicks), 6)      AS corr_same_hour,
           round(corr(purchases, clicks_prev), 6) AS corr_lag1,
           count(*)                               AS n_hours
    FROM lagged
    """,
)
def q_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lagged cross-correlation between two event streams: does click
    value in hour t-1 predict purchase value in hour t?  The standard
    lead-indicator probe over resampled series.

    Pivot-style conditional sums build both hourly series in ONE pass
    over events (no self-join); the lag is a window over the tiny
    hourly table.  The global corr() is a single-row mergeable
    aggregate — exact at any scale.  Hourly sums are rounded on both
    sides before corr so its inputs are bit-identical.
    """
    e = load(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("bucket")).agg(
        F.round(F.sum(F.when(F.col("event_type") == "click", F.col("value")).otherwise(0.0)), 3).alias("clicks"),
        F.round(F.sum(F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)), 3).alias("purchases"),
    )
    w = Window.orderBy("bucket")
    lagged = hourly.select(
        "purchases", "clicks", F.lag("clicks", 1).over(w).alias("clicks_prev")
    )
    return lagged.agg(
        F.round(F.corr("purchases", "clicks"), 6).alias("corr_same_hour"),
        F.round(F.corr("purchases", "clicks_prev"), 6).alias("corr_lag1"),
        F.count(F.lit(1)).alias("n_hours"),
    )


@register(
    "q_sliding_distinct",
    sql="""
    WITH ud AS (
      SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
    ), contrib AS (
      SELECT DISTINCT day + CAST(u.i AS INTEGER) AS w_day, user_id
      FROM ud, unnest(range(0, 7)) AS u(i)
    ), days AS (
      SELECT DISTINCT CAST(ts AS DATE) AS w_day FROM events
    )
    SELECT strftime(c.w_day, '%Y-%m-%d') AS w_day,
           CAST(count(*) AS BIGINT) AS n_active_7d
    FROM contrib c JOIN days d USING (w_day)
    GROUP BY 1
    """,
)
def q_sliding_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window COUNT DISTINCT — trailing-7-day active users per
    day, the retention metric no SQL window function can express
    (COUNT(DISTINCT) OVER a frame is unsupported in both engines).
    The scalable rewrite: dedup to (day, user) once, EXPLODE each pair
    into the 7 window-end days it contributes to, dedup again, count.
    Every stage is a hash-aggregate with map-side partials — no window
    operator, no per-day self-join fan-out; the blow-up factor is the
    window length (constant), not the data.  Days outside the observed
    range are dropped by a semi-join against the (tiny, broadcast)
    distinct-days table, mirrored in the oracle."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select(F.to_date("ts").alias("day"), "user_id").distinct()
    contrib = (
        ud.select(
            F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("w_day"),
            "user_id",
        )
        .distinct()
    )
    days = ev.select(F.to_date("ts").alias("w_day")).distinct()
    return (
        contrib.join(F.broadcast(days), "w_day")
        .groupBy(F.date_format("w_day", "yyyy-MM-dd").alias("w_day"))
        .agg(F.count(F.lit(1)).alias("n_active_7d"))
    )


@register(
    "q_cusum_changepoint",
    sql="""
    WITH daily AS (
      SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_epoch,
             event_type,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS d_cents
      FROM events
      GROUP BY 1, 2
    ), cum AS (
      SELECT day_epoch, event_type,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_days,
             CAST(sum(d_cents) OVER (PARTITION BY event_type) AS BIGINT) AS tot,
             CAST(sum(d_cents) OVER (PARTITION BY event_type ORDER BY day_epoch
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS prefix,
             CAST(row_number() OVER (PARTITION BY event_type ORDER BY day_epoch)
                  AS BIGINT) AS k
      FROM daily
    ), scored AS (
      SELECT event_type, day_epoch, n_days,
             n_days * prefix - k * tot AS cusum_scaled,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(n_days * prefix - k * tot) DESC,
                                         day_epoch) AS rn
      FROM cum
    )
    SELECT event_type, day_epoch AS change_day_epoch, cusum_scaled, n_days
    FROM scored WHERE rn = 1
    """,
)
def q_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection per event-type series: the day
    where the cumulative deviation of daily revenue from the series
    mean peaks — the classic mean-shift detector (Page's CUSUM with
    the argmax read out, as in binary-segmentation's first split).
    The mean never materializes as a float: with S_k the prefix sum,
    T the total and n the day count, n·CUSUM_k = n·S_k − k·T, so the
    statistic is scaled by n and stays an exact 64-bit integer —
    argmax is invariant to the positive scaling, and parity is exact
    (no division anywhere; |cusum| ties broken by earliest day).

    Scale shape: the fact table collapses in ONE map-side-combinable
    daily agg; every window after that runs over the per-day table
    (~series·days rows — dim-sized), partitioned by series so the sort
    is local and parallel.  Integer headroom: n·S fits long until
    n_days·total_cents ~ 9e18 per series (≫ any daily series length).
    """
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    daily = e.groupBy(
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("bigint").alias("day_epoch"),
        "event_type",
    ).agg(F.sum(cents).cast("bigint").alias("d_cents"))
    wall = Window.partitionBy("event_type")
    word = wall.orderBy("day_epoch")
    wcum = word.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = daily.select(
        "day_epoch",
        "event_type",
        F.count(F.lit(1)).over(wall).alias("n_days"),
        F.sum("d_cents").over(wall).alias("tot"),
        F.sum("d_cents").over(wcum).alias("prefix"),
        F.row_number().over(word).cast("bigint").alias("k"),
    )
    cusum = (F.col("n_days") * F.col("prefix") - F.col("k") * F.col("tot")).alias(
        "cusum_scaled"
    )
    scored = cum.select("event_type", "day_epoch", "n_days", cusum)
    warg = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_scaled")).desc(), F.asc("day_epoch")
    )
    return (
        scored.withColumn("rn", F.row_number().over(warg))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day_epoch").alias("change_day_epoch"),
            "cusum_scaled",
            "n_days",
        )
    )


@register(
    "q_ab_test",
    sql="""
    WITH buckets AS (
      SELECT user_id % 2 AS bucket,
             count(*) AS n,
             CAST(count_if(event_type = 'purchase') AS BIGINT) AS conv
      FROM events GROUP BY bucket
    ), wide AS (
      SELECT
        max(CASE WHEN bucket = 0 THEN n END) AS n_a,
        max(CASE WHEN bucket = 1 THEN n END) AS n_b,
        max(CASE WHEN bucket = 0 THEN conv END) AS conv_a,
        max(CASE WHEN bucket = 1 THEN conv END) AS conv_b
      FROM buckets
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           conv_a, conv_b,
           CAST(floor(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS p_a_micro,
           CAST(floor(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) * 1000000 + 0.5)
                AS BIGINT) AS p_b_micro,
           CAST(floor(
             (CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
              - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
             / sqrt(CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE)
                    * (1.0 - CAST(conv_a + conv_b AS DOUBLE) / CAST(n_a + n_b AS DOUBLE))
                    * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE)))
             * 1000000 + 0.5) AS BIGINT) AS z_micro
    FROM wide
    """,
)
def q_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test — the experiment-analysis primitive: users
    hash-split into arms A/B (user_id parity stands in for the
    assignment hash), conversion = purchase events, pooled-variance z
    statistic.  Every input is an exact integer count, and the float
    tail (two divisions, one sqrt, one subtraction — all correctly-
    rounded IEEE ops on identical operands written in the identical
    tree shape) is snapped to integer micro-units, so the statistic
    replays bit-for-bit cross-engine with NO rounding hazard.

    Scale shape: one map-side-combinable conditional agg over the
    event stream (two groups), then a 2-row pivot — the z arithmetic
    runs on a single row.  At 100 TB nothing changes: the reduction
    is the whole job."""
    e = load(spark, sf_dir, "events")
    buckets = e.groupBy((F.col("user_id") % 2).alias("bucket")).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("event_type") == "purchase").alias("conv"),
    )
    wide = buckets.agg(
        F.max(F.when(F.col("bucket") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("bucket") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("bucket") == 0, F.col("conv"))).alias("conv_a"),
        F.max(F.when(F.col("bucket") == 1, F.col("conv"))).alias("conv_b"),
    )
    da = F.col("conv_a").cast("double") / F.col("n_a").cast("double")
    db = F.col("conv_b").cast("double") / F.col("n_b").cast("double")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    ).cast("double")
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (F.lit(1.0) / F.col("n_a").cast("double") + F.lit(1.0) / F.col("n_b").cast("double"))
    )
    return wide.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.floor(da * 1000000 + F.lit(0.5)).cast("long").alias("p_a_micro"),
        F.floor(db * 1000000 + F.lit(0.5)).cast("long").alias("p_b_micro"),
        F.floor((da - db) / se * 1000000 + F.lit(0.5)).cast("long").alias("z_micro"),
    )


def chi2_drift_contribs(counts: DataFrame, key: Column) -> DataFrame:
    """The exact integer χ² bridge of the drift keys (q_chi2_drift's
    docstring has the arithmetic) over ``counts``, one row per category
    with long a_cnt (baseline A) and b_cnt (period B).  The totals n_a,
    n_b are an unpartitioned window over those rows (Spark's "No
    Partition Defined for Window operation" warning is expected here).
    Divisions by zero are guarded: a_cnt = 0 → the -1 new-category
    sentinel; n_b = 0 (empty period B: every delta is 0) → the exact
    limit 0."""
    whole = Window.partitionBy()
    j = counts.select(
        "*",
        F.sum("a_cnt").over(whole).alias("n_a"),
        F.sum("b_cnt").over(whole).alias("n_b"),
    )
    delta = F.col("b_cnt") * F.col("n_a") - F.col("n_b") * F.col("a_cnt")
    dd = delta.cast("decimal(19,0)")
    num = (dd * dd).cast("double")
    den = (
        F.col("n_a").cast("decimal(19,0)")
        * F.col("n_b").cast("decimal(19,0)")
        * F.col("a_cnt").cast("decimal(19,0)")
    ).cast("double")
    return j.select(
        key,
        "a_cnt",
        "b_cnt",
        delta.alias("delta_scaled"),
        F.when(F.col("a_cnt") == 0, F.lit(-1))
        .when(F.col("n_b") == 0, F.lit(0))
        .otherwise(F.floor(num / den * 1000000 + F.lit(0.5)).cast("long"))
        .alias("contrib_micro"),
    )


@register(
    "q_chi2_drift",
    sql="""
    WITH split AS (
      SELECT event_type,
             CASE WHEN ts < TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END AS in_a
      FROM events
    ), per_type AS (
      SELECT event_type,
             CAST(sum(in_a) AS BIGINT) AS a_cnt,
             CAST(sum(1 - in_a) AS BIGINT) AS b_cnt
      FROM split GROUP BY event_type
    ), tot AS (
      SELECT CAST(sum(a_cnt) AS BIGINT) AS n_a, CAST(sum(b_cnt) AS BIGINT) AS n_b
      FROM per_type
    )
    SELECT p.event_type, p.a_cnt, p.b_cnt,
           p.b_cnt * t.n_a - t.n_b * p.a_cnt AS delta_scaled,
           CASE WHEN p.a_cnt = 0 THEN -1
                WHEN t.n_b = 0 THEN 0 ELSE CAST(floor(
             CAST(CAST(p.b_cnt * t.n_a - t.n_b * p.a_cnt AS HUGEINT)
                  * (p.b_cnt * t.n_a - t.n_b * p.a_cnt) AS DOUBLE)
             / CAST(CAST(t.n_a AS HUGEINT) * t.n_b * p.a_cnt AS DOUBLE)
             * 1000000 + 0.5) AS BIGINT) END AS contrib_micro
    FROM per_type p CROSS JOIN tot t
    """,
)
def q_chi2_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square distribution-drift test between two time periods —
    the monitoring primitive behind "did the event mix shift after the
    deploy?": expected counts for period B come from period A's
    proportions and each type reports its χ² contribution.  The
    rational expected value never materializes: (o−e)²/e is
    cross-multiplied to (o·n_a − n_b·a)² / (n_a·n_b·a) with the
    numerator squared in 128-bit, and each type's contribution is
    snapped to integer micro-units in its OWN row — no float ever
    sums ACROSS rows, so there is no order hazard anywhere (the total
    χ² is the exact integer sum of the per-type micros).  PSI-style
    drift scores need log — designed out by using the χ² statistic,
    which carries the same decision signal.

    Scale shape: one conditional map-side-combinable agg over the
    event stream; the period totals and the χ² arithmetic then run
    over one row per category (chi2_drift_contribs)."""
    e = load(spark, sf_dir, "events")
    split = e.select(
        "event_type",
        F.when(F.col("ts") < "2024-01-16", F.lit(1)).otherwise(F.lit(0)).alias("in_a"),
    )
    per_type = split.groupBy("event_type").agg(
        F.sum("in_a").cast("long").alias("a_cnt"),
        F.sum(1 - F.col("in_a")).cast("long").alias("b_cnt"),
    )
    return chi2_drift_contribs(per_type, F.col("event_type"))


@register(
    "q_gaps_islands",
    sql="""
    WITH days AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_num
      FROM events
    ), grp AS (
      SELECT user_id, day_num,
             day_num - row_number() OVER (PARTITION BY user_id ORDER BY day_num)
               AS island
      FROM days
    ), islands AS (
      SELECT user_id, island, count(*) AS streak_len
      FROM grp GROUP BY user_id, island
    )
    SELECT user_id,
           CAST(sum(streak_len) AS BIGINT) AS n_active_days,
           count(*) AS n_islands,
           CAST(max(streak_len) AS BIGINT) AS max_streak
    FROM islands GROUP BY user_id
    """,
)
def q_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's consecutive-day activity runs —
    the streak/retention primitive ("longest daily streak", "how many
    separate activity bursts").  The classic row_number-difference
    idiom: within a user, day_num − row_number() is CONSTANT exactly
    across a run of consecutive days, so consecutive runs fall out of
    one window + one agg with no self-join and no iteration.

    Scale shape: the event stream first collapses to distinct
    (user, day) — a map-side-combinable dedup agg that shrinks the
    window's input by the events-per-day factor; the window sorts
    per-user day lists (bounded by the calendar, not by event volume);
    the island aggs are tiny.  All integers, no tie hazard (day_num is
    unique per user after the dedup)."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.floor(F.unix_timestamp("ts") / 86400).cast("long").alias("day_num")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day_num")
    grp = days.withColumn("island", F.col("day_num") - F.row_number().over(w))
    islands = grp.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len")
    )
    return islands.groupBy("user_id").agg(
        F.sum("streak_len").alias("n_active_days"),
        F.count(F.lit(1)).alias("n_islands"),
        F.max("streak_len").alias("max_streak"),
    )


@register(
    "q_user_features",
    sql="""
    WITH base AS (
      SELECT user_id,
             count(*) AS n_events,
             CAST(count_if(event_type = 'purchase') AS BIGINT) AS n_purchases,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS total_cents,
             CAST(min(epoch_us(ts)) AS BIGINT) AS first_us,
             CAST(max(epoch_us(ts)) AS BIGINT) AS last_us,
             CAST(count(DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT))
                  AS BIGINT) AS active_days
      FROM events GROUP BY user_id
    )
    SELECT user_id, n_events, n_purchases, total_cents, active_days,
           last_us - first_us AS span_us,
           CASE WHEN n_events > 1
                THEN (last_us - first_us) // (n_events - 1) ELSE -1 END
             AS mean_gap_us
    FROM base
    """,
)
def q_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature engineering — the wide-table build feeding a
    churn/LTV model: event volume, purchase count, monetary total,
    active-day count, observation span, and mean inter-event gap.  The
    gap avoids materializing per-event deltas entirely: the mean of
    successive differences telescopes to (last − first)/(n−1), so one
    min/max pair replaces a lag() window over the whole stream —
    exact integer microseconds with the positive-integer-division
    bridge (-1 sentinel for single-event users).

    Scale shape: ONE map-side-combinable agg over the event stream
    (count-distinct of days is the only expansion, bounded by the
    calendar); no window, no join, no second pass."""
    e = load(spark, sf_dir, "events")
    base = e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")).alias(
            "total_cents"
        ),
        F.min(F.unix_micros("ts")).alias("first_us"),
        F.max(F.unix_micros("ts")).alias("last_us"),
        F.countDistinct(
            F.floor(F.unix_timestamp("ts") / 86400).cast("long")
        ).alias("active_days"),
    )
    return base.select(
        "user_id",
        "n_events",
        "n_purchases",
        "total_cents",
        "active_days",
        (F.col("last_us") - F.col("first_us")).alias("span_us"),
        F.when(
            F.col("n_events") > 1,
            F.expr("(last_us - first_us) div (n_events - 1)"),
        )
        .otherwise(F.lit(-1))
        .alias("mean_gap_us"),
    )


@register(
    "q_max_concurrency",
    sql="""
    WITH marks AS (
      SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, 1 AS delta FROM events
      UNION ALL
      SELECT CAST(floor(epoch(ts)) AS BIGINT) + 300 AS t, -1 AS delta FROM events
    ), swept AS (
      SELECT t, delta,
             CAST(floor(t / 86400) AS BIGINT) AS day_num,
             CAST(sum(delta) OVER (
               PARTITION BY CAST(floor(t / 86400) AS BIGINT)
               ORDER BY t, delta
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS concurrent
      FROM marks
    )
    SELECT day_num,
           CAST(max(concurrent) AS BIGINT) AS max_concurrent,
           CAST(count_if(delta = 1) AS BIGINT) AS n_sessions
    FROM swept GROUP BY day_num
    """,
)
def q_max_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency via the sweep line — "how many 5-minute
    activity sessions were simultaneously live?", the capacity-planning
    question no groupBy can answer: every session emits +1 at its
    start and −1 at its end, and the running sum of deltas in time
    order IS the live count; its max per day is the peak.  Ordering
    ties as (t, delta) puts the −1 before the +1 at the same second, so
    back-to-back sessions don't inflate the peak.  Day boundaries reset
    the sweep (sessions here are ≪ a day; a cross-boundary carry would
    add one broadcast of per-day closing counts — the same prefix
    pattern as q_global_shuffle's offsets).

    Scale shape: the mark stream is a 2× projection (no join); the
    sweep is a window PARTITIONED by day, so each day's sort is local
    and days parallelize — the global-sort trap this operator usually
    falls into is designed out.  Exact integers throughout."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    secs = F.floor(F.unix_timestamp("ts")).cast("long")
    starts = e.select(secs.alias("t"), F.lit(1).alias("delta"))
    ends = e.select((secs + 300).alias("t"), F.lit(-1).alias("delta"))
    marks = starts.unionAll(ends).withColumn(
        "day_num", F.floor(F.col("t") / 86400).cast("long")
    )
    w = (
        Window.partitionBy("day_num")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    swept = marks.withColumn("concurrent", F.sum("delta").over(w))
    return swept.groupBy("day_num").agg(
        F.max("concurrent").cast("long").alias("max_concurrent"),
        F.count_if(F.col("delta") == 1).alias("n_sessions"),
    )


@register(
    "q_null_imputation",
    sql="""
    WITH vals AS (
      SELECT event_id, event_type,
             CASE WHEN event_id % 11 = 0 THEN NULL
                  ELSE CAST(floor(value * 100.0 + 0.5) AS BIGINT) END AS cents
      FROM events
    ), ranked AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM vals WHERE cents IS NOT NULL
    ), med AS (
      SELECT event_type,
             min(CASE WHEN rn = CAST(ceil(0.50 * n) AS BIGINT) THEN cents END)
               AS median_cents
      FROM ranked GROUP BY event_type
    )
    SELECT v.event_type,
           count(*) AS n_rows,
           CAST(count_if(v.cents IS NULL) AS BIGINT) AS n_filled,
           m.median_cents,
           CAST(sum(COALESCE(v.cents, m.median_cents)) AS BIGINT)
             AS sum_cents_after
    FROM vals v JOIN med m USING (event_type)
    GROUP BY v.event_type, m.median_cents
    """,
)
def q_null_imputation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median imputation — the data-cleaning pass before a model sees
    the table: deterministically-planted missing values (every 11th
    event, the fixture convention) are filled with their group's
    DISCRETE median (the value AT position ceil(n/2), spelled out as a
    rank selection so no engine's percentile convention is involved,
    and a real data value — the statistically safe fill for skewed
    distributions where the mean chases outliers).  Exact integer
    cents end-to-end: the fill value, the fill count, and the post-fill
    checksum all hash-replay.

    Scale shape: one per-group sort window over the non-null subset
    for the median (rank-statistic cost, same as q_percentile_disc —
    sketch-swap at 100 TB), then the medians broadcast back for a
    map-side fill + one final agg."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    vals = e.select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 11 == 0, F.lit(None))
        .otherwise(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint"))
        .alias("cents"),
    )
    nn = vals.where(F.col("cents").isNotNull())
    w = Window.partitionBy("event_type").orderBy("cents", "event_id")
    wall = Window.partitionBy("event_type")
    ranked = nn.select(
        "event_type",
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    med = (
        ranked.where(F.col("rn") == F.ceil(0.50 * F.col("n")).cast("long"))
        .groupBy("event_type")
        .agg(F.min("cents").alias("median_cents"))
    )
    return (
        vals.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "median_cents")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_if(F.col("cents").isNull()).alias("n_filled"),
            F.sum(F.coalesce(F.col("cents"), F.col("median_cents"))).alias(
                "sum_cents_after"
            ),
        )
        .select(
            "event_type", "n_rows", "n_filled", "median_cents", "sum_cents_after"
        )
    )


@register(
    "q_twap",
    sql="""
    WITH pts AS (
      SELECT event_type,
             CAST(epoch_us(ts) AS BIGINT) AS t_us,
             event_id,
             CAST(floor(value * 100.0 + 0.5) AS BIGINT) AS cents
      FROM events
    ), seg AS (
      SELECT event_type, cents,
             lead(t_us, 1) OVER (PARTITION BY event_type
                                 ORDER BY t_us, event_id) - t_us AS dur_us
      FROM pts
    ), s AS (
      SELECT event_type,
             CAST(sum(CAST(cents AS HUGEINT) * dur_us) AS HUGEINT) AS wsum,
             CAST(sum(dur_us) AS BIGINT) AS total_us,
             count(*) AS n_segments
      FROM seg WHERE dur_us IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, CAST(n_segments AS BIGINT) AS n_segments, total_us,
           CAST(floor(CAST(wsum AS DOUBLE) / CAST(total_us AS DOUBLE) * 100.0 + 0.5)
                AS BIGINT) AS twap_tenthmilli
    FROM s
    """,
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average price — the financial/telemetry mean that
    q_ewma and plain averages both get wrong when readings are
    irregular: each reading is weighted by how long it REMAINED the
    current value (until the next reading), so a price that held for
    an hour counts 3600× one that held a second.  Durations are exact
    integer microseconds from a lead() window; the value·duration
    products sum in 128-bit (cents·µs overflows int64 within ~a day of
    data); one final division of identical exact integers yields
    tenth-milli-cent units.

    Scale shape: one shuffle on the series key, per-series local sort
    for lead(), then a map-side-combinable agg — identical cost
    envelope to q_window_lag.  The open last segment is excluded
    (no successor), matching the standard TWAP-to-now convention of
    pricing only closed intervals."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        F.unix_micros("ts").alias("t_us"),
        "event_id",
        F.floor(F.col("value") * 100.0 + 0.5).cast("bigint").alias("cents"),
    )
    w = Window.partitionBy("event_type").orderBy("t_us", "event_id")
    seg = pts.select(
        "event_type",
        "cents",
        (F.lead("t_us", 1).over(w) - F.col("t_us")).alias("dur_us"),
    ).where(F.col("dur_us").isNotNull())
    s = seg.groupBy("event_type").agg(
        F.sum(
            F.col("cents").cast("decimal(20,0)") * F.col("dur_us").cast("decimal(20,0)")
        ).alias("wsum"),
        F.sum("dur_us").alias("total_us"),
        F.count(F.lit(1)).alias("n_segments"),
    )
    return s.select(
        "event_type",
        "n_segments",
        "total_us",
        F.floor(
            F.col("wsum").cast("double") / F.col("total_us").cast("double") * 100.0
            + F.lit(0.5)
        )
        .cast("long")
        .alias("twap_tenthmilli"),
    )


@register(
    "q_lttb_downsample",
    sql="""
    WITH pts AS (
      SELECT event_type, event_id,
             epoch_us(ts) // 1000000 AS x,
             CAST(floor((value * CAST(1e4 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y
      FROM events
    ), b AS (
      SELECT event_type, event_id, x, y,
             (x // 21600) * 21600 AS bucket_epoch,
             lag(x)  OVER w AS xp, lag(y)  OVER w AS yp,
             lead(x) OVER w AS xn, lead(y) OVER w AS yn,
             count(*) OVER (PARTITION BY (x // 21600) * 21600, event_type) AS n_points
      FROM pts
      WINDOW w AS (PARTITION BY (x // 21600) * 21600, event_type
                   ORDER BY x, event_id)
    ), areas AS (
      SELECT event_type, bucket_epoch, event_id, x, y, n_points,
             COALESCE(abs((xp - xn) * (y - yp) - (xp - x) * (yn - yp)), 0) AS area2
      FROM b
    ), ranked AS (
      SELECT *,
             row_number() OVER (PARTITION BY bucket_epoch, event_type
                                ORDER BY area2 DESC, x, event_id) AS rn
      FROM areas
    )
    SELECT bucket_epoch, event_type,
           x AS sel_epoch, y AS value_e4,
           CAST(area2 AS BIGINT) AS area2,
           CAST(n_points AS BIGINT) AS n_points
    FROM ranked WHERE rn = 1
    ORDER BY bucket_epoch, event_type
    """,
)
def q_lttb_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-triangle downsampling (one-bucket variant): per 6-hour
    bucket and event type, keep the single point whose triangle with
    its in-bucket neighbors has the largest area — the visually
    -lossless decimation operator dashboards run before plotting
    (Steinarsson's LTTB, bucket-local LTOB form so the selection has
    no cross-bucket sequential dependency and stays one window pass).

    Exactness: x is exact epoch seconds (unix_micros div 1e6 on both
    engines), y is exact 1e-4 units, so the doubled triangle area is
    an INTEGER cross product — no floats anywhere; edge points (no
    in-bucket neighbor) take area 0 and the arg-max tie-breaks on
    (x, event_id).  Scale shape: lag/lead, the bucket count and the
    arg-max row_number all share the (bucket, type) partition key —
    ONE exchange, partition-local sorts, output bounded by buckets x
    types regardless of input size."""
    e = load(spark, sf_dir, "events")
    pts = e.select(
        "event_type",
        "event_id",
        F.expr("unix_micros(ts) div 1000000").alias("x"),
        F.floor((F.col("value") * F.lit(1e4)) + F.lit(0.5)).cast("long").alias("y"),
    ).withColumn("bucket_epoch", F.expr("(x div 21600) * 21600"))
    w = Window.partitionBy("bucket_epoch", "event_type").orderBy("x", "event_id")
    wb = Window.partitionBy("bucket_epoch", "event_type")
    b = pts.select(
        "event_type",
        "bucket_epoch",
        "event_id",
        "x",
        "y",
        F.lag("x").over(w).alias("xp"),
        F.lag("y").over(w).alias("yp"),
        F.lead("x").over(w).alias("xn"),
        F.lead("y").over(w).alias("yn"),
        F.count(F.lit(1)).over(wb).alias("n_points"),
    )
    areas = b.withColumn(
        "area2",
        F.coalesce(
            F.abs(
                (F.col("xp") - F.col("xn")) * (F.col("y") - F.col("yp"))
                - (F.col("xp") - F.col("x")) * (F.col("yn") - F.col("yp"))
            ),
            F.lit(0),
        ),
    )
    rw = Window.partitionBy("bucket_epoch", "event_type").orderBy(
        F.desc("area2"), F.asc("x"), F.asc("event_id")
    )
    return (
        areas.withColumn("rn", F.row_number().over(rw))
        .where(F.col("rn") == 1)
        .select(
            "bucket_epoch",
            "event_type",
            F.col("x").alias("sel_epoch"),
            F.col("y").alias("value_e4"),
            F.col("area2").cast("long").alias("area2"),
            F.col("n_points").cast("long").alias("n_points"),
        )
        .orderBy("bucket_epoch", "event_type")
    )


@register(
    "q_sax_symbolize",
    sql="""
    WITH paa AS (
      SELECT event_type,
             ((epoch_us(ts) // 1000000) // 21600) * 21600 AS bucket_epoch,
             count(*) AS n_pts,
             (sum(CAST(floor((value * CAST(1e4 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)) * 100)
               // count(*) AS m_e6
      FROM events
      GROUP BY event_type, ((epoch_us(ts) // 1000000) // 21600) * 21600
    ), ranked AS (
      SELECT event_type, bucket_epoch, n_pts, m_e6,
             row_number() OVER (PARTITION BY event_type ORDER BY m_e6, bucket_epoch) AS rn,
             count(*) OVER (PARTITION BY event_type) AS cnt
      FROM paa
    ), bps AS (
      SELECT event_type,
             max(CASE WHEN rn = (cnt + 3) // 4 THEN m_e6 END) AS b1,
             max(CASE WHEN rn = (cnt + 1) // 2 THEN m_e6 END) AS b2,
             max(CASE WHEN rn = (3 * cnt + 3) // 4 THEN m_e6 END) AS b3
      FROM ranked GROUP BY event_type
    ), sym AS (
      SELECT p.event_type, p.bucket_epoch, p.n_pts,
             CASE WHEN p.m_e6 <= b.b1 THEN 'a'
                  WHEN p.m_e6 <= b.b2 THEN 'b'
                  WHEN p.m_e6 <= b.b3 THEN 'c'
                  ELSE 'd' END AS s
      FROM paa p JOIN bps b USING (event_type)
    )
    SELECT event_type,
           (bucket_epoch // 86400) * 86400 AS day_epoch,
           string_agg(s, '' ORDER BY bucket_epoch) AS sax_word,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(sum(n_pts) AS BIGINT) AS n_points
    FROM sym
    GROUP BY event_type, (bucket_epoch // 86400) * 86400
    ORDER BY event_type, day_epoch
    """,
)
def q_sax_symbolize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolic series representation: 6-hour PAA means per event
    type, discretized into a 4-letter alphabet at the series' own
    quartile breakpoints, concatenated into one word per day — the
    index a motif/anomaly search runs over instead of raw points
    (Lin et al.'s SAX, with empirical-quantile breakpoints instead of
    the Gaussian table so the whole key stays integer-exact: PAA
    means are (S*100) div n in 1e-6 units, breakpoints are exact rank
    statistics via the ceil-div bridge, and the word is an ordered
    string agg).  Scale shape: one corpus agg to PAA cells (map-side
    combinable); everything after runs on the bounded cell table
    (days x types), including its windows."""
    e = load(spark, sf_dir, "events")
    y = F.floor((F.col("value") * F.lit(1e4)) + F.lit(0.5)).cast("long")
    paa = (
        e.select(
            "event_type",
            F.expr("((unix_micros(ts) div 1000000) div 21600) * 21600").alias(
                "bucket_epoch"
            ),
            y.alias("y"),
        )
        .groupBy("event_type", "bucket_epoch")
        .agg(
            F.count(F.lit(1)).alias("n_pts"),
            F.expr("(sum(y) * 100) div count(*)").alias("m_e6"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("m_e6", "bucket_epoch")
    wc = Window.partitionBy("event_type")
    ranked = paa.select(
        "event_type",
        "m_e6",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    bps = ranked.groupBy("event_type").agg(
        F.max(F.when(F.col("rn") == F.expr("(cnt + 3) div 4"), F.col("m_e6"))).alias("b1"),
        F.max(F.when(F.col("rn") == F.expr("(cnt + 1) div 2"), F.col("m_e6"))).alias("b2"),
        F.max(F.when(F.col("rn") == F.expr("(3 * cnt + 3) div 4"), F.col("m_e6"))).alias("b3"),
    )
    sym = paa.join(F.broadcast(bps), "event_type").select(
        "event_type",
        "bucket_epoch",
        "n_pts",
        F.when(F.col("m_e6") <= F.col("b1"), F.lit("a"))
        .when(F.col("m_e6") <= F.col("b2"), F.lit("b"))
        .when(F.col("m_e6") <= F.col("b3"), F.lit("c"))
        .otherwise(F.lit("d"))
        .alias("s"),
    )
    return (
        sym.groupBy(
            "event_type",
            F.expr("(bucket_epoch div 86400) * 86400").alias("day_epoch"),
        )
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("bucket_epoch", "s"))),
                    lambda st: st["s"],
                ),
                "",
            ).alias("sax_word"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.sum("n_pts").cast("long").alias("n_points"),
        )
        .orderBy("event_type", "day_epoch")
    )


def _detrended_devs(spark: SparkSession, sf_dir: str):
    """Shared detrended-deviation cells for the seasonal keys:
    (event_type, h_epoch, hod, dev25) where dev25 = 25*y - movsum over
    the centered 25-hour window (the /25 cleared before it exists —
    integer-exact), y = hourly sum of e4 micro-units, full windows
    only."""
    e = load(spark, sf_dir, "events")
    y = F.floor((F.col("value") * F.lit(1e4)) + F.lit(0.5)).cast("long")
    hourly = (
        e.select(
            "event_type",
            F.expr("((unix_micros(ts) div 1000000) div 3600) * 3600").alias("h_epoch"),
            y.alias("yv"),
        )
        .groupBy("event_type", "h_epoch")
        .agg(F.sum("yv").alias("y"), F.count(F.lit(1)).alias("n_pts"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("h_epoch")
        .rowsBetween(-12, 12)
    )
    trended = hourly.select(
        "event_type",
        "h_epoch",
        "y",
        F.sum("y").over(w).alias("movsum"),
        F.count(F.lit(1)).over(w).alias("movcnt"),
    )
    return trended.where(F.col("movcnt") == 25).select(
        "event_type",
        "h_epoch",
        F.expr("(h_epoch % 86400) div 3600").alias("hod"),
        (F.lit(25) * F.col("y") - F.col("movsum")).alias("dev25"),
    )


@register(
    "q_seasonal_decompose",
    sql="""
    WITH hourly AS (
      SELECT event_type,
             ((epoch_us(ts) // 1000000) // 3600) * 3600 AS h_epoch,
             sum(CAST(floor((value * CAST(1e4 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS y,
             count(*) AS n_pts
      FROM events
      GROUP BY event_type, ((epoch_us(ts) // 1000000) // 3600) * 3600
    ), trended AS (
      SELECT event_type, h_epoch, y,
             sum(y)    OVER w AS movsum,
             count(*)  OVER w AS movcnt
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h_epoch
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ), devs AS (
      SELECT event_type,
             (h_epoch % 86400) // 3600 AS hod,
             25 * y - movsum AS dev25
      FROM trended WHERE movcnt = 25
    )
    SELECT event_type, CAST(hod AS BIGINT) AS hod,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST((sum(dev25) * 10000) // (25 * count(*)) AS BIGINT) AS seasonal_e4
    FROM devs
    GROUP BY event_type, hod
    ORDER BY event_type, hod
    """,
)
def q_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition, hour-of-day component: hourly
    totals minus a centered 25-hour moving-average trend, averaged per
    hour slot — the seasonality profile capacity planning and anomaly
    baselines start from.  Integer-exact throughout: the detrended
    deviation is computed as 25*y - movsum (clearing the /25 before it
    exists — no rational arithmetic), only full 25-bucket windows
    qualify, and the final per-slot average is one integer division
    (the div bridge holds for negative numerators too: both engines
    truncate toward zero — verified -7 div 2 == -3).  Scale shape:
    one corpus agg to hourly cells; the moving window and the slot
    agg run on the bounded cell table (hours x types)."""
    devs = _detrended_devs(spark, sf_dir).drop("h_epoch")
    return (
        devs.groupBy("event_type", "hod")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            F.expr("CAST((sum(dev25) * 10000) div (25 * count(*)) AS BIGINT)").alias(
                "seasonal_e4"
            ),
        )
        .select(
            "event_type",
            F.col("hod").cast("long").alias("hod"),
            "n_buckets",
            "seasonal_e4",
        )
        .orderBy("event_type", "hod")
    )


_ACF_LAGS = 6  # hourly lags 1..6


@register(
    "q_acf",
    sql=f"""
    WITH hourly AS (
      SELECT event_type,
             ((epoch_us(ts) // 1000000) // 3600) * 3600 AS h_epoch,
             sum(CAST(floor((value * CAST(1e4 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS y
      FROM events
      GROUP BY event_type, ((epoch_us(ts) // 1000000) // 3600) * 3600
    ), stats AS (
      SELECT event_type, count(*) AS n, sum(y) AS s
      FROM hourly GROUP BY event_type
    ), centered AS (
      SELECT h.event_type, h.h_epoch,
             CAST(st.n AS HUGEINT) * h.y - CAST(st.s AS HUGEINT) AS d
      FROM hourly h JOIN stats st USING (event_type)
    ), lagged AS (
      SELECT event_type, h_epoch, d,
             {", ".join(f"lead(d, {k}) OVER (PARTITION BY event_type ORDER BY h_epoch) AS d{k}" for k in range(1, _ACF_LAGS + 1))}
      FROM centered
    ), den AS (
      SELECT event_type, sum(d * d) AS den FROM centered GROUP BY event_type
    ), nums AS (
      {" UNION ALL ".join(
          f"SELECT event_type, {k} AS lag, sum(d * d{k}) AS num, count(d{k}) AS n_pairs "
          f"FROM lagged WHERE d{k} IS NOT NULL GROUP BY event_type"
          for k in range(1, _ACF_LAGS + 1)
      )}
    )
    SELECT nums.event_type, CAST(nums.lag AS BIGINT) AS lag,
           CAST(nums.n_pairs AS BIGINT) AS n_pairs,
           CAST(floor(((CAST(nums.num AS DOUBLE) / CAST(den.den AS DOUBLE))
                       * CAST(1e6 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS acf_e6
    FROM nums JOIN den USING (event_type)
    ORDER BY event_type, lag
    """,
)
def q_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly series at lags 1..{_ACF_LAGS} per
    event type — the diagnostic that picks seasonality periods and
    AR orders.  Exactness: deviations are pre-scaled integers
    (n*y - S, clearing the mean's divisor — the q_seasonal trick),
    the lag products are widened to 128-bit (HUGEINT <-> decimal(38),
    the r4 bridge: products of n-scaled hourly sums overflow int64),
    and num/den meet in ONE double division whose operands are
    identical exact integers on both engines.  Scale shape: one
    corpus agg to hourly cells; lags come from {_ACF_LAGS} leads over
    the bounded cell table, so the window never sees raw data."""
    e = load(spark, sf_dir, "events")
    yexp = F.floor((F.col("value") * F.lit(1e4)) + F.lit(0.5)).cast("long")
    hourly = (
        e.select(
            "event_type",
            F.expr("((unix_micros(ts) div 1000000) div 3600) * 3600").alias("h_epoch"),
            yexp.alias("yv"),
        )
        .groupBy("event_type", "h_epoch")
        .agg(F.sum("yv").alias("y"))
    )
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("s")
    )
    dec = "decimal(38,0)"
    centered = hourly.join(F.broadcast(stats), "event_type").select(
        "event_type",
        "h_epoch",
        (
            F.col("n").cast(dec) * F.col("y").cast(dec) - F.col("s").cast(dec)
        ).alias("d"),
    )
    w = Window.partitionBy("event_type").orderBy("h_epoch")
    lagged = centered.select(
        "event_type",
        "d",
        *[F.lead("d", k).over(w).alias(f"d{k}") for k in range(1, _ACF_LAGS + 1)],
    )
    den = centered.groupBy("event_type").agg(
        F.sum(F.col("d") * F.col("d")).alias("den")
    )
    nums = None
    for k in range(1, _ACF_LAGS + 1):
        part = (
            lagged.where(F.col(f"d{k}").isNotNull())
            .groupBy("event_type")
            .agg(
                F.sum(F.col("d") * F.col(f"d{k}")).alias("num"),
                F.count(f"d{k}").alias("n_pairs"),
            )
            .select("event_type", F.lit(k).alias("lag"), "num", "n_pairs")
        )
        nums = part if nums is None else nums.unionByName(part)
    return (
        nums.join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            F.col("lag").cast("long").alias("lag"),
            F.col("n_pairs").cast("long").alias("n_pairs"),
            F.floor(
                (
                    (F.col("num").cast("double") / F.col("den").cast("double"))
                    * F.lit(1e6)
                )
                + F.lit(0.5)
            )
            .cast("long")
            .alias("acf_e6"),
        )
        .orderBy("event_type", "lag")
    )


# ------------------------------------------------------------ Holt forecast

# The Holt update with dyadic smoothing (alpha = beta = 1/2) written as
# one expression tree, expanded IDENTICALLY on both engines (l_new
# appears twice — recomputed, never factored, so the trees match):
#   l_t = y_t/2 + (l_{t-1} + b_{t-1})/2
#   b_t = (l_t - l_{t-1})/2 + b_{t-1}/2
_HOLT_STEP_SPARK = (
    "(acc, x) -> named_struct("
    "'y', x.y, "
    "'l', (x.y * 0.5D) + ((acc.l + acc.b) * 0.5D), "
    "'b', ((((x.y * 0.5D) + ((acc.l + acc.b) * 0.5D)) - acc.l) * 0.5D)"
    " + (acc.b * 0.5D))"
)
# DuckDB twin: a RECURSIVE CTE, not list_reduce — DuckDB 1.0's
# list_reduce with a STRUCT accumulator is buggy from the second
# iteration on (a field expression sees earlier fields of the SAME
# output struct already overwritten: acc.l inside the b expression
# resolved to the just-computed new l).  The recursion applies the
# byte-identical expression tree per step, so the doubles still match
# the Spark fold bit-for-bit.
@register(
    "q_holt_forecast",
    sql="""
    WITH RECURSIVE daily AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS day_epoch,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events
      GROUP BY 1, 2
    ), idx AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY day_epoch) AS i
      FROM daily
    ), rec AS (
      SELECT event_type, i, CAST(cents AS DOUBLE) AS l, CAST(0.0 AS DOUBLE) AS b
      FROM idx WHERE i = 1
      UNION ALL
      SELECT d.event_type, d.i,
             (CAST(d.cents AS DOUBLE) * CAST(0.5 AS DOUBLE))
               + ((r.l + r.b) * CAST(0.5 AS DOUBLE)) AS l,
             ((((CAST(d.cents AS DOUBLE) * CAST(0.5 AS DOUBLE))
                + ((r.l + r.b) * CAST(0.5 AS DOUBLE))) - r.l) * CAST(0.5 AS DOUBLE))
               + (r.b * CAST(0.5 AS DOUBLE)) AS b
      FROM rec r JOIN idx d ON d.event_type = r.event_type AND d.i = r.i + 1
    )
    SELECT event_type,
           CAST(i AS BIGINT) AS n_days,
           CAST(floor((l * CAST(100.0 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS level_e2,
           CAST(floor((b * CAST(100.0 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS trend_e2,
           CAST(floor(((l + (CAST(1 AS DOUBLE) * b)) * CAST(100.0 AS DOUBLE))
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS fcst1_e2,
           CAST(floor(((l + (CAST(7 AS DOUBLE) * b)) * CAST(100.0 AS DOUBLE))
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS fcst7_e2
    FROM rec
    QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY i DESC) = 1
    ORDER BY event_type
    """,
)
def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + trend) per event
    type over the daily revenue series, with 1-day and 7-day-ahead
    forecasts — the classic capacity-planning primitive.

    Exactness: smoothing constants are DYADIC (alpha = beta = 1/2), so
    every fold step is (* 0.5) and (+) — correctly-rounded IEEE ops
    that agree bit-for-bit when the expression trees match.  Daily
    inputs are exact integer cents (order-free int64 sums); both
    engines seed with the first element (l_1 = y_1, b_1 = 0, zero
    float ops) and apply the identical step tree — Spark as an
    aggregate(slice(s,2,..), element_at(s,1), step) array fold, DuckDB
    as a recursive CTE (its list_reduce mis-binds struct-accumulator
    fields; see the oracle comment).  Outputs are integerized via
    floor(x*100+0.5).

    Scale shape: one map-side-combinable hash agg reduces the corpus
    to (type x day) cells; the per-type fold runs over a days-sized
    array — at 100 TB the fold input is still only |types| x |days|.
    The sequential fold is inherent to the recurrence; its input is
    agg-sized, never data-sized."""
    e = load(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100.0 + 0.5).cast("bigint")
    daily = e.groupBy(
        "event_type",
        (F.floor(F.unix_timestamp("ts") / 86400) * 86400).cast("bigint").alias("day_epoch"),
    ).agg(F.sum(cents).cast("bigint").alias("cents"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.array_sort(
            F.collect_list(F.struct(F.col("day_epoch"), F.col("cents")))
        ).alias("sorted"),
    )
    st = series.select(
        "event_type",
        F.col("n_days").cast("long").alias("n_days"),
        F.expr(
            "aggregate("
            "  slice(transform(sorted, s -> named_struct("
            "          'y', CAST(s.cents AS DOUBLE),"
            "          'l', CAST(s.cents AS DOUBLE),"
            "          'b', 0.0D)), 2, size(sorted)),"
            "  element_at(transform(sorted, s -> named_struct("
            "          'y', CAST(s.cents AS DOUBLE),"
            "          'l', CAST(s.cents AS DOUBLE),"
            "          'b', 0.0D)), 1),"
            f"  {_HOLT_STEP_SPARK})"
        ).alias("st"),
    )
    return st.select(
        "event_type",
        "n_days",
        F.floor((F.col("st.l") * F.lit(100.0)) + F.lit(0.5)).cast("long").alias("level_e2"),
        F.floor((F.col("st.b") * F.lit(100.0)) + F.lit(0.5)).cast("long").alias("trend_e2"),
        F.floor(((F.col("st.l") + (F.lit(1.0) * F.col("st.b"))) * F.lit(100.0)) + F.lit(0.5))
        .cast("long")
        .alias("fcst1_e2"),
        F.floor(((F.col("st.l") + (F.lit(7.0) * F.col("st.b"))) * F.lit(100.0)) + F.lit(0.5))
        .cast("long")
        .alias("fcst7_e2"),
    ).orderBy("event_type")


# --------------------------------------------------------- seasonal anomaly

_ANOM_TOPK = 5  # anomalies reported per event type


def _seasonal_anomaly_sql() -> str:
    """Composes the registered q_seasonal_decompose oracle for the
    seasonal profile and re-derives the same detrended cells, then
    ranks buckets by the absolute deseasonalized residual — all in
    the shared integer units (dev25 x 1e4)."""
    from processor_spark import registry as _registry_mod

    seasonal = _registry_mod._REGISTRY["q_seasonal_decompose"].sql
    return f"""
    WITH hourly AS (
      SELECT event_type,
             ((epoch_us(ts) // 1000000) // 3600) * 3600 AS h_epoch,
             sum(CAST(floor((value * CAST(1e4 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS y,
             count(*) AS n_pts
      FROM events
      GROUP BY event_type, ((epoch_us(ts) // 1000000) // 3600) * 3600
    ), trended AS (
      SELECT event_type, h_epoch, y,
             sum(y)    OVER w AS movsum,
             count(*)  OVER w AS movcnt
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h_epoch
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ), devs AS (
      SELECT event_type, h_epoch,
             (h_epoch % 86400) // 3600 AS hod,
             25 * y - movsum AS dev25
      FROM trended WHERE movcnt = 25
    ), seasonal AS (
      SELECT event_type, hod, seasonal_e4 FROM ({seasonal}) sd
    ), resid AS (
      SELECT d.event_type, d.h_epoch,
             CAST(d.dev25 AS BIGINT) * 10000 - 25 * s.seasonal_e4 AS resid_q
      FROM devs d JOIN seasonal s
        ON s.event_type = d.event_type AND s.hod = d.hod
    )
    SELECT event_type, h_epoch, CAST(resid_q AS BIGINT) AS resid_q,
           CAST(rnk AS BIGINT) AS rnk
    FROM (
      SELECT event_type, h_epoch, resid_q,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY abs(resid_q) DESC, h_epoch) AS rnk
      FROM resid
    ) WHERE rnk <= {_ANOM_TOPK}
    ORDER BY event_type, rnk
    """


@register("q_seasonal_anomaly", sql=_seasonal_anomaly_sql())
def q_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly ranking: the top hourly buckets per
    event type by absolute DESEASONALIZED residual — the alerting
    query a capacity baseline feeds (a spike at 3am is an anomaly; the
    same level at the daily peak hour is not).

    Composes the registered seasonal profile (q_seasonal_decompose —
    builder reused Spark-side, SQL composed oracle-side) and compares
    each detrended cell against its hour-of-day component entirely in
    scaled integers: resid_q = dev25*1e4 - 25*seasonal_e4 (both terms
    exact int64; no float enters the ranking).

    Scale shape: the corpus reduces to hourly cells in one
    map-side-combinable agg; ranking windows run on the cell table;
    the seasonal profile is a 24 x |types| broadcast."""
    devs = _detrended_devs(spark, sf_dir)
    seasonal = q_seasonal_decompose(spark, sf_dir).select(
        "event_type", "hod", "seasonal_e4"
    )
    resid = devs.join(
        F.broadcast(seasonal), ["event_type", "hod"]
    ).select(
        "event_type",
        "h_epoch",
        (F.col("dev25") * F.lit(10000) - F.lit(25) * F.col("seasonal_e4")).alias(
            "resid_q"
        ),
    )
    w = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("resid_q")).desc(), F.col("h_epoch")
    )
    return (
        resid.select(
            "event_type",
            "h_epoch",
            F.col("resid_q").cast("long").alias("resid_q"),
            F.row_number().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= _ANOM_TOPK)
        .select("event_type", "h_epoch", "resid_q", F.col("rnk").cast("long").alias("rnk"))
        .orderBy("event_type", "rnk")
    )


# ------------------------------------------------------------ A/B power

# z-quantiles for alpha=0.05 (two-sided) and power=0.80, computed once
# offline and embedded as the SAME double literal in both engines (the
# finite-domain transcendental rule — q_benford's trick); delta = +1pp
_Z_SUM_SQ = (1.959963984540054 + 0.8416212335729143) ** 2  # (z_a + z_b)^2
_POWER_DELTA = 0.01


@register(
    "q_ab_power",
    sql=f"""
    WITH conv AS (
      SELECT event_type,
             count(*) AS n_events,
             sum(CASE WHEN value > 500.0 THEN 1 ELSE 0 END) AS n_hits
      FROM events GROUP BY event_type
    ), rates AS (
      SELECT event_type, n_events, n_hits,
             CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE) AS p
      FROM conv
    )
    SELECT event_type,
           CAST(n_events AS BIGINT) AS n_events,
           CAST(n_hits AS BIGINT) AS n_hits,
           CAST(floor((p * CAST(1e6 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS p_e6,
           CAST(floor(((CAST({_Z_SUM_SQ!r} AS DOUBLE)
                        * ((CAST(2.0 AS DOUBLE) * p) * (CAST(1.0 AS DOUBLE) - p)))
                       / CAST({_POWER_DELTA * _POWER_DELTA!r} AS DOUBLE))
                      + CAST(1.0 AS DOUBLE)) AS BIGINT) AS n_per_arm
    FROM rates
    ORDER BY event_type
    """,
)
def q_ab_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B-test power analysis: per event type, the baseline rate of
    the binary metric (value > 500) and the per-arm sample size needed
    to detect a +1pp lift at alpha=0.05 / power=0.80 — the question an
    experimentation platform answers before any test launches
    (q_ab_test evaluates after).

    n = (z_a + z_b)^2 * 2p(1-p) / delta^2, with the z-quantile sum
    computed ONCE offline and embedded as the identical double literal
    in both engines (DuckDB literals CAST to DOUBLE so its decimal
    parser never forks the float tree); the rate p comes from exact
    integer counts, so the one expression tree is IEEE-identical and
    the ceil integerizes exactly (floor(x)+1).

    Scale shape: one map-side-combinable agg; everything after runs on
    |event_type| rows."""
    e = load(spark, sf_dir, "events")
    conv = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("value") > 500.0, 1).otherwise(0)).alias("n_hits"),
    )
    p = F.col("n_hits").cast("double") / F.col("n_events").cast("double")
    return conv.select(
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.floor((p * F.lit(1e6)) + F.lit(0.5)).cast("long").alias("p_e6"),
        (
            F.floor(
                (F.lit(_Z_SUM_SQ) * ((F.lit(2.0) * p) * (F.lit(1.0) - p)))
                / F.lit(_POWER_DELTA * _POWER_DELTA)
            )
            + F.lit(1)
        )
        .cast("long")
        .alias("n_per_arm"),
    ).orderBy("event_type")


# ------------------------------------------------------- decayed scores

_DECAY_CAP = 30  # max decay exponent (weights 2^30 .. 2^0)


@register(
    "q_decay_popularity",
    sql=f"""
    WITH ref AS (
      SELECT CAST(floor(epoch(max(ts)) / 86400) AS BIGINT) AS ref_day FROM events
    ), weighted AS (
      SELECT event_type,
             CAST(1 AS BIGINT) << ({_DECAY_CAP} - least(
               (r.ref_day - CAST(floor(epoch(ts) / 86400) AS BIGINT)) // 7,
               {_DECAY_CAP})) AS w
      FROM events, ref r
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(w) AS BIGINT) AS decayed_score,
           CAST(row_number() OVER (ORDER BY sum(w) DESC, event_type) AS BIGINT) AS rnk
    FROM weighted
    GROUP BY event_type
    ORDER BY rnk
    """,
)
def q_decay_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recency-weighted popularity: per event type, a half-life-per-
    week exponentially decayed event count and the resulting rank —
    the freshness-aware trending score (a burst last week outranks a
    larger total from months ago).

    Exact by construction: ages quantize to whole weeks (integer
    division bridge), so every decay factor is a power of two and the
    score is an exact int64 sum of shifted ones — 2^(30 - min(age_w,
    30)) — no pow(), no float, full hash oracle.  The reference point
    is the corpus max timestamp (identical max on both engines).

    Scale shape: one 1-row broadcast (the reference day) + one
    map-side-combinable agg; ranking runs on |event_type| rows."""
    e = load(spark, sf_dir, "events")
    ref = e.agg(
        F.expr("CAST(floor(unix_micros(max(ts)) / 86400000000.0) AS BIGINT)").alias(
            "ref_day"
        )
    )
    weighted = e.crossJoin(F.broadcast(ref)).select(
        "event_type",
        F.expr(
            f"shiftleft(CAST(1 AS BIGINT), {_DECAY_CAP} - least("
            f"(ref_day - CAST(floor(unix_micros(ts) / 86400000000.0) AS BIGINT)) div 7,"
            f" {_DECAY_CAP}))"
        ).alias("w"),
    )
    agg = weighted.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("w").cast("long").alias("decayed_score"),
    )
    w = Window.orderBy(F.desc("decayed_score"), F.asc("event_type"))
    return agg.select(
        "event_type",
        "n_events",
        "decayed_score",
        F.row_number().over(w).cast("long").alias("rnk"),
    ).orderBy("rnk")


# ------------------------------------------------------- conversion CI

_WILSON_Z = 1.959963984540054  # 95% two-sided, embedded in both engines
_WILSON_Z2 = _WILSON_Z * _WILSON_Z


def _wilson_sql(which: str) -> str:
    """Wilson score bound (DuckDB spelling), `which` in {'-', '+'} —
    every literal CAST AS DOUBLE so DuckDB's decimal parser never
    forks the float tree (the q_benford rule)."""
    z2 = f"CAST({_WILSON_Z2!r} AS DOUBLE)"
    z = f"CAST({_WILSON_Z!r} AS DOUBLE)"
    return (
        f"((p + ({z2} / (CAST(2.0 AS DOUBLE) * n))) {which} ({z} * sqrt("
        f"((p * (CAST(1.0 AS DOUBLE) - p)) / n)"
        f" + ({z2} / ((CAST(4.0 AS DOUBLE) * n) * n)))))"
        f" / (CAST(1.0 AS DOUBLE) + ({z2} / n))"
    )


@register(
    "q_conversion_ci",
    sql=f"""
    WITH conv AS (
      SELECT event_type,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CASE WHEN value > 500.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
      FROM events GROUP BY event_type
    ), rates AS (
      SELECT event_type, n_events, n_hits,
             CAST(n_events AS DOUBLE) AS n,
             CAST(n_hits AS DOUBLE) / CAST(n_events AS DOUBLE) AS p
      FROM conv
    )
    SELECT event_type, n_events, n_hits,
           CAST(floor((p * CAST(1e6 AS DOUBLE)) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS p_e6,
           CAST(floor(({_wilson_sql('-')} * CAST(1e6 AS DOUBLE))
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lo_e6,
           CAST(floor(({_wilson_sql('+')} * CAST(1e6 AS DOUBLE))
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS hi_e6
    FROM rates
    ORDER BY event_type
    """,
)
def q_conversion_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% confidence interval for each event type's conversion
    rate (value > 500) — the interval an experimentation dashboard
    shows next to every rate (Wilson, not Wald: it behaves at small n
    and extreme p).

    Fully hash-oracled with a transcendental-free tree: Wilson needs
    only + - * / and sqrt — all correctly-rounded IEEE ops that agree
    bit-for-bit when the expression trees match — with the z-quantile
    embedded once as the identical double literal in both engines.

    Scale shape: one map-side-combinable agg; the interval math runs
    on |event_type| rows."""
    e = load(spark, sf_dir, "events")
    conv = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("value") > 500.0, 1).otherwise(0)).cast("long").alias("n_hits"),
    )
    n = F.col("n_events").cast("double")
    p = F.col("n_hits").cast("double") / n
    z, z2 = F.lit(_WILSON_Z), F.lit(_WILSON_Z2)
    centre = p + (z2 / (F.lit(2.0) * n))
    half = z * F.sqrt(((p * (F.lit(1.0) - p)) / n) + (z2 / ((F.lit(4.0) * n) * n)))
    denom = F.lit(1.0) + (z2 / n)
    return conv.select(
        "event_type",
        "n_events",
        "n_hits",
        F.floor((p * F.lit(1e6)) + F.lit(0.5)).cast("long").alias("p_e6"),
        F.floor((((centre - half) / denom) * F.lit(1e6)) + F.lit(0.5))
        .cast("long")
        .alias("lo_e6"),
        F.floor((((centre + half) / denom) * F.lit(1e6)) + F.lit(0.5))
        .cast("long")
        .alias("hi_e6"),
    ).orderBy("event_type")


# ------------------------------------------------------------ backlog


@register(
    "q_backlog_curve",
    sql="""
    WITH closes_per_order AS (
      SELECT l_orderkey, max(l_shipdate) AS close_day FROM lineitem GROUP BY 1
    ), deltas AS (
      SELECT CAST(o_orderdate AS VARCHAR) AS d, count(*) AS opened, 0 AS closed
      FROM orders GROUP BY o_orderdate
      UNION ALL
      SELECT CAST(close_day AS VARCHAR) AS d, 0 AS opened, count(*) AS closed
      FROM closes_per_order GROUP BY close_day
    ), daily AS (
      SELECT d, CAST(sum(opened) AS BIGINT) AS opened,
             CAST(sum(closed) AS BIGINT) AS closed
      FROM deltas GROUP BY d
    )
    SELECT d, opened, closed,
           CAST(sum(opened - closed) OVER (ORDER BY d
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS backlog
    FROM daily
    ORDER BY d
    """,
)
def q_backlog_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order backlog over time: an order opens at o_orderdate and
    closes when its LAST lineitem ships; the curve is the
    running net of daily opens minus closes — the interval-sweep
    pattern (+1/-1 events, one cumulative pass) that answers
    work-in-flight questions without ever joining intervals to a
    calendar spine.

    Dates stringify on both sides (the DATE render bridge).

    Scale shape: one per-order max agg + two daily count aggs (all
    map-side combinable); the cumulative window orders only the
    DAY-sized table."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderdate")
    closes = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("close_day"))
    opens_d = o.groupBy(F.col("o_orderdate").cast("string").alias("d")).agg(
        F.count(F.lit(1)).alias("opened")
    ).withColumn("closed", F.lit(0))
    closes_d = closes.groupBy(F.col("close_day").cast("string").alias("d")).agg(
        F.count(F.lit(1)).alias("closed")
    ).withColumn("opened", F.lit(0))
    daily = (
        opens_d.select("d", "opened", "closed")
        .unionByName(closes_d.select("d", "opened", "closed"))
        .groupBy("d")
        .agg(
            F.sum("opened").cast("long").alias("opened"),
            F.sum("closed").cast("long").alias("closed"),
        )
    )
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        "d",
        "opened",
        "closed",
        F.sum(F.col("opened") - F.col("closed")).over(w).cast("long").alias("backlog"),
    ).orderBy("d")


# ------------------------------------------------------------ price index


@register(
    "q_price_index",
    sql="""
    WITH monthly AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS month,
             CAST(sum(CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS rev_cents,
             CAST(sum(CAST(floor(l_quantity) AS BIGINT)) AS BIGINT) AS qty
      FROM lineitem GROUP BY 1
    ), base AS (
      SELECT rev_cents AS rev0, qty AS qty0 FROM monthly ORDER BY month LIMIT 1
    )
    SELECT m.month, m.rev_cents, m.qty,
           CAST(floor(CAST(CAST(m.rev_cents AS HUGEINT) * CAST(b.qty0 AS HUGEINT)
                           * 1000000 AS DOUBLE)
                      / CAST(CAST(m.qty AS HUGEINT) * CAST(b.rev0 AS HUGEINT) AS DOUBLE))
                AS BIGINT) AS index_e6
    FROM monthly m, base b
    ORDER BY m.month
    """,
)
def q_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Realized unit-price index by ship month, first month = 1.000000:
    index_m = (rev_m / qty_m) / (rev_0 / qty_0), computed as one exact
    128-bit cross-multiplication (Spark decimal chain <-> DuckDB
    HUGEINT — the r4 combine bridge) so the only float op is the final
    division of two exactly-rounded doubles.

    Scale shape: one map-side-combinable monthly agg; the base month
    is a 1-row broadcast."""
    li = load(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("month")
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100.0 + 0.5).cast("bigint"))
        .cast("long")
        .alias("rev_cents"),
        F.sum(F.floor(F.col("l_quantity")).cast("bigint")).cast("long").alias("qty"),
    )
    base = monthly.orderBy("month").limit(1).select(
        F.col("rev_cents").alias("rev0"), F.col("qty").alias("qty0")
    )
    num = (
        F.col("rev_cents").cast("decimal(16,0)")
        * F.col("qty0").cast("decimal(12,0)")
        * F.lit(1000000).cast("decimal(7,0)")
    )
    den = F.col("qty").cast("decimal(12,0)") * F.col("rev0").cast("decimal(16,0)")
    return (
        monthly.crossJoin(F.broadcast(base))
        .select(
            "month",
            "rev_cents",
            "qty",
            F.floor(num.cast("double") / den.cast("double")).cast("long").alias("index_e6"),
        )
        .orderBy("month")
    )


# ------------------------------------------------------------ DOW profile


@register(
    "q_dow_profile",
    sql="""
    WITH daily AS (
      SELECT event_type,
             dayofweek(CAST(ts AS DATE)) + 1 AS dow,
             count(*) AS n_events,
             CAST(sum(CAST(floor(value * 100.0 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT event_type, CAST(sum(n_events) AS BIGINT) AS n_total FROM daily GROUP BY 1
    )
    SELECT d.event_type, CAST(d.dow AS BIGINT) AS dow,
           CAST(d.n_events AS BIGINT) AS n_events, d.cents,
           CAST((d.n_events * 1000000) // t.n_total AS BIGINT) AS share_e6
    FROM daily d JOIN tot t ON t.event_type = d.event_type
    ORDER BY d.event_type, d.dow
    """,
)
def q_dow_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week activity profile per event type: event counts,
    exact cents, and each weekday's share of the type's volume — the
    weekly-rhythm companion to q_seasonal_decompose's hour-of-day
    component (staffing and anomaly baselines read both).

    Engine note: DuckDB's dayofweek is 0-based where Spark's is
    1-based — the documented +1 bridge lives in the oracle SQL, never
    in post-processing.

    Scale shape: one map-side-combinable agg to (type x 7) cells."""
    e = load(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.dayofweek(F.col("ts").cast("date")).alias("dow")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.floor(F.col("value") * 100.0 + 0.5).cast("bigint"))
        .cast("long")
        .alias("cents"),
    )
    tot = daily.groupBy("event_type").agg(F.sum("n_events").cast("long").alias("n_total"))
    return (
        daily.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("dow").cast("long").alias("dow"),
            F.col("n_events").cast("long").alias("n_events"),
            "cents",
            F.expr("CAST((n_events * 1000000) div n_total AS BIGINT)").alias("share_e6"),
        )
        .orderBy("event_type", "dow")
    )
