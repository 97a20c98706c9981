"""Time- and count-window operators: tumbling, sliding, session,
count-based batching.

Reference parity (SURVEY.md §2.3): streamz ``timed_window`` ->
tumbling; SDF rolling-over-time -> sliding; ``partition(n)`` ->
count batches; session windows are the Spark-native addition.

These are the BATCH forms (oracle-checkable); the same operators run
in true Structured Streaming mode in ``streaming/`` via bounded
replay of the events table with ``availableNow`` triggers.

Scale notes: window aggregation shuffles O(windows x keys), not
O(rows), thanks to partial aggregation; `window()`/`session_window()`
are built-in generators that never materialize per-event state on
the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamz_postgres_spark.catalog import load_table
from streamz_postgres_spark.functions.numeric import dsum, qround, sql_dsum, sql_qround
from streamz_postgres_spark.registry import register


@register(
    "q_tumbling",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY date_trunc('hour', ts), event_type
""",
    tags=("time",),
)
def q_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window (streamz ``timed_window`` parity)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_sliding",
    oracle=f"""
WITH b AS (
  SELECT time_bucket(INTERVAL '30 minutes', ts) AS bucket, value FROM events
), assigned AS (
  SELECT bucket AS window_start, value FROM b
  UNION ALL
  SELECT bucket - INTERVAL '30 minutes' AS window_start, value FROM b
)
SELECT window_start, COUNT(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM assigned
GROUP BY window_start
""",
    tags=("time",),
)
def q_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour length, 30-minute slide — each event
    lands in 2 windows. Oracle emulates the expansion with a dual
    time_bucket union (same 30-min epoch-aligned grid)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_session",
    oracle=f"""
WITH flagged AS (
  SELECT user_id, ts, value,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, value,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 30 MINUTE AS session_end,
       COUNT(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM numbered
GROUP BY user_id, session_id
""",
    tags=("time", "session"),
)
def q_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session window, 30-minute gap, per user — Spark's native
    ``session_window``. Oracle emulates with gaps-and-islands SQL.
    Boundary rule (hostile-sweep v6, probed on an exact-gap
    fixture): Spark MERGES windows that touch — an event exactly
    ``gap`` after the last one EXTENDS the session (same rule as
    Flink's merging session windows) — so a new session starts only
    when the gap is STRICTLY GREATER than the timeout; session_end =
    last event + gap, as Spark defines it."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "q_partition_batch",
    oracle=f"""
SELECT CAST(FLOOR(event_id / 100) AS BIGINT) AS batch_id,
       COUNT(*) AS n_events,
       MIN(event_id) AS first_event,
       MAX(event_id) AS last_event,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1
""",
    tags=("time", "batch"),
)
def q_partition_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-based batching (streamz ``partition(n)`` parity): group
    every 100 consecutive events. The monotonic event_id gives the
    position, so batching is a parallel groupBy — no global
    row_number needed (the 100 TB-safe formulation of positional
    batching over any source with a monotonic id, e.g. Kafka offsets
    or CDC LSNs)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.floor(F.col("event_id") / 100).cast("bigint").alias("batch_id")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("event_id").alias("first_event"),
            F.max("event_id").alias("last_event"),
            dsum("value").alias("sum_value"),
        )
    )


@register(
    "q_funnel",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
  SELECT user_id, ts, event_type,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_clicks,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_purchases,
       CAST(CASE WHEN MIN(CASE WHEN event_type = 'click' THEN ts END)
                      IS NOT NULL
                  AND MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                      > MIN(CASE WHEN event_type = 'click' THEN ts END)
                 THEN 1 ELSE 0 END AS INTEGER) AS converted
FROM numbered
GROUP BY user_id, session_id
""",
    tags=("time", "session", "funnel"),
)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionized conversion funnel: per (user, 30-min session), did
    a purchase follow a click? Sessionization is Spark's native
    session_window; the funnel itself is pure conditional
    aggregation inside the session group — one shuffle total, the
    composition shape every product-analytics pipeline runs (and a
    streamz user would hand-build with accumulate + timed state)."""
    e = load_table(spark, sf_dir, "events")
    click_ts = F.min(F.when(F.col("event_type") == "click", F.col("ts")))
    purchase_ts = F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "click", 1)
                .otherwise(0)
                .cast("long")
            ).alias(
                "n_clicks"
            ),
            F.sum(
                F.when(F.col("event_type") == "purchase", 1)
                .otherwise(0)
                .cast("long")
            ).alias(
                "n_purchases"
            ),
            F.coalesce(
                (click_ts.isNotNull() & (purchase_ts > click_ts)).cast("int"),
                F.lit(0),
            ).alias("converted"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_clicks",
            "n_purchases",
            "converted",
        )
    )


@register(
    "q_resample_locf",
    oracle="""
WITH u AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0
),
days AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                TIMESTAMP '2024-01-30',
                                INTERVAL 1 DAY)) AS day
),
closes AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         arg_max(value, event_id) AS close
  FROM events
  WHERE user_id % 10 = 0 AND event_type = 'purchase'
  GROUP BY 1, 2
),
grid AS (SELECT u.user_id, d.day FROM u CROSS JOIN days d)
SELECT g.user_id, strftime(g.day, '%Y-%m-%d') AS day,
       last_value(c.close IGNORE NULLS) OVER (
         PARTITION BY g.user_id ORDER BY g.day
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
FROM grid g LEFT JOIN closes c ON g.user_id = c.user_id AND g.day = c.day
""",
    tags=("time", "resample"),
)
def q_resample_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample to a regular daily grid with
    last-observation-carried-forward (the gap-fill every metrics /
    feature-engineering pipeline needs; streamz SDF users hand-roll
    this with accumulate). Daily close = the value of the day's
    highest event_id (unique, so the tiebreak is engine-independent).

    The grid is generated by exploding a literal date sequence onto
    each key — NO join builds it, so there is no cross product
    anywhere in the plan. Gap-fill is one running
    ``last(ignorenulls)`` window per key: a single hash shuffle on
    user_id, linear per-key state. At 100 TB × years of grid the
    same plan holds; only the sequence bounds (driver-side literals
    from a tiny min/max pre-query) change. Days leave as ISO strings
    (DateType is hasher-hostile, see oracle.hostile_output_types)."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 10 == 0)
    )
    day_seq = F.sequence(
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
        F.lit("2024-01-30 00:00:00").cast("timestamp_ntz"),
        F.expr("INTERVAL 1 DAY"),
    )
    grid = (
        e.select("user_id")
        .distinct()
        .withColumn("day", F.explode(day_seq))
    )
    closes = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.max_by("value", "event_id").alias("close"))
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(closes, ["user_id", "day"], "left")
        .withColumn("value_locf", F.last("close", ignorenulls=True).over(w))
        .select(
            "user_id",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "value_locf",
        )
    )


@register(
    "q_resample_interp",
    oracle="""
WITH u AS (
  SELECT DISTINCT user_id FROM events WHERE user_id % 10 = 0
),
days AS (
  SELECT unnest(generate_series(TIMESTAMP '2024-01-01',
                                TIMESTAMP '2024-01-30',
                                INTERVAL 1 DAY)) AS day
),
closes AS (
  SELECT user_id, date_trunc('day', ts) AS day,
         arg_max(value, event_id) AS close
  FROM events
  WHERE user_id % 10 = 0 AND event_type = 'purchase'
  GROUP BY 1, 2
),
grid AS (SELECT u.user_id, d.day FROM u CROSS JOIN days d),
j AS (
  SELECT g.user_id, g.day, c.close,
         CASE WHEN c.close IS NOT NULL THEN g.day END AS obs_day
  FROM grid g LEFT JOIN closes c ON g.user_id = c.user_id AND g.day = c.day
),
w AS (
  SELECT user_id, day, close,
         last_value(obs_day IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         last_value(close IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         first_value(obs_day IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd,
         first_value(close IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv
  FROM j
)
SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
       CASE WHEN close IS NOT NULL THEN close
            WHEN pd IS NOT NULL AND nd IS NOT NULL THEN
              pv + (nv - pv) * (CAST(date_diff('day', pd, day) AS DOUBLE)
                                / CAST(date_diff('day', pd, nd) AS DOUBLE))
            ELSE NULL END AS value_interp
FROM w
""",
    tags=("time", "resample"),
)
def q_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-grid resample with LINEAR INTERPOLATION between observed
    closes — the numeric gap-fill (sensor readings, prices) where
    LOCF's step function is wrong. Same no-join grid and single
    per-key shuffle as q_resample_locf, plus one mirrored
    forward-looking window (first-ignoreNulls) for the bracketing
    next observation; the lerp runs in pure double ops with the
    day-distance ratio computed identically in both engines, so even
    interpolated values hash-match. Leading/trailing gaps stay NULL
    (no extrapolation) — the honest default."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").filter(
        (F.col("user_id") % 10 == 0)
    )
    day_seq = F.sequence(
        F.lit("2024-01-01 00:00:00").cast("timestamp_ntz"),
        F.lit("2024-01-30 00:00:00").cast("timestamp_ntz"),
        F.expr("INTERVAL 1 DAY"),
    )
    grid = (
        e.select("user_id").distinct().withColumn("day", F.explode(day_seq))
    )
    closes = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.date_trunc("day", "ts").alias("day"))
        .agg(F.max_by("value", "event_id").alias("close"))
    )
    j = grid.join(closes, ["user_id", "day"], "left").withColumn(
        "obs_day", F.when(F.col("close").isNotNull(), F.col("day"))
    )
    back = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    pd_ = F.last("obs_day", ignorenulls=True).over(back)
    pv = F.last("close", ignorenulls=True).over(back)
    nd = F.first("obs_day", ignorenulls=True).over(fwd)
    nv = F.first("close", ignorenulls=True).over(fwd)
    lerp = pv + (nv - pv) * (
        F.datediff(F.col("day"), pd_).cast("double")
        / F.datediff(nd, pd_).cast("double")
    )
    interp = (
        F.when(F.col("close").isNotNull(), F.col("close"))
        .when(pd_.isNotNull() & nd.isNotNull(), lerp)
        .otherwise(F.lit(None).cast("double"))
    )
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        interp.alias("value_interp"),
    )


# -- cohort retention -------------------------------------------------------


@register(
    "q_cohort_retention",
    oracle="""
WITH wk AS (
  SELECT user_id,
         CAST(FLOOR(date_diff('day', DATE '2024-01-01',
                              CAST(ts AS DATE)) / 7.0) AS BIGINT) AS w
  FROM events
),
firsts AS (SELECT user_id, MIN(w) AS cw FROM wk GROUP BY user_id),
activity AS (
  SELECT DISTINCT wk.user_id, f.cw, wk.w - f.cw AS week_offset
  FROM wk JOIN firsts f ON wk.user_id = f.user_id
),
sizes AS (SELECT cw, COUNT(*) AS cohort_size FROM firsts GROUP BY cw)
SELECT CAST(DATE '2024-01-01' + CAST(a.cw * 7 AS INTEGER) AS TIMESTAMP)
         AS cohort_week,
       a.week_offset,
       CAST(COUNT(*) AS BIGINT) AS n_active,
       s.cohort_size
FROM activity a JOIN sizes s ON a.cw = s.cw
GROUP BY a.cw, a.week_offset, s.cohort_size
""",
    tags=("time", "agg"),
)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-seen
    week, counted as active per week offset — THE product-analytics
    rollup. Three aggs compose: first-touch per user (one shuffle on
    user_id), distinct (user, week) activity reusing that partition,
    cohort sizes broadcast back onto the matrix. Output is
    O(weeks²) cells regardless of corpus size; everything is counts
    on exact keys, so the matrix is engine- and partition-exact.
    Weeks are a tz-free index from the Monday epoch 2024-01-01
    (floor(days/7)) — NOT date_trunc('week'), which Spark evaluates
    through the session timezone and therefore shifts cohort
    boundaries for any non-UTC driver; caught by the
    Asia/Kathmandu parity probe."""
    e = load_table(spark, sf_dir, "events")
    monday_epoch = F.lit("2024-01-01").cast("date")
    w = (
        F.floor(F.datediff(F.to_date("ts"), monday_epoch) / 7)
        .cast("bigint")
        .alias("w")
    )
    wk = e.select("user_id", w)
    firsts = wk.groupBy("user_id").agg(F.min("w").alias("cw"))
    activity = (
        wk.join(firsts, "user_id")
        .select("user_id", "cw", (F.col("w") - F.col("cw")).alias("week_offset"))
        .distinct()
    )
    sizes = firsts.groupBy("cw").agg(F.count(F.lit(1)).alias("cohort_size"))
    cohort_week = F.date_add(
        monday_epoch, (F.col("cw") * 7).cast("int")
    ).cast("timestamp_ntz")
    return (
        activity.join(F.broadcast(sizes), "cw")
        .groupBy("cw", "week_offset", "cohort_size")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .select(
            cohort_week.alias("cohort_week"),
            "week_offset",
            "n_active",
            "cohort_size",
        )
    )


# -- calendar seasonality ---------------------------------------------------


@register(
    "q_seasonality",
    oracle=f"""
SELECT event_type,
       CAST(date_part('isodow', ts) AS BIGINT) AS dow,
       CAST(date_part('hour', ts) AS BIGINT) AS hod,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY event_type, dow, hod
""",
    tags=("time", "agg"),
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar seasonality matrix: activity by ISO weekday × hour
    of day per event type — the heatmap behind capacity planning and
    'is this drop just Sunday' triage. A single partial-aggregating
    shuffle with O(types × 168) output at any scale. Weekday parity
    needs care: Spark's dayofweek is Sunday=1 while DuckDB's isodow
    is Monday=1, so both sides compute ISO day-of-week explicitly
    (Spark: weekday()+1). All timestamp math is NTZ-safe."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "event_type",
            (F.weekday("ts") + 1).cast("bigint").alias("dow"),
            F.hour("ts").cast("bigint").alias("hod"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            dsum("value").alias("sum_value"),
        )
    )


# -- click -> purchase attribution lag --------------------------------------

_ATTR_EPOCH = "2024-01-01 00:00:00"
_ATTR_BUCKET_SEC = 600  # 10-minute lag buckets


@register(
    "q_click_attribution",
    oracle=f"""
WITH clicks AS (
  SELECT user_id, ts,
         date_diff('second', TIMESTAMP '{_ATTR_EPOCH}', ts) AS xc
  FROM (
    SELECT user_id, ts FROM events WHERE event_type = 'click'
  ) c GROUP BY user_id, ts,
             date_diff('second', TIMESTAMP '{_ATTR_EPOCH}', ts)
),
purch AS (
  SELECT event_id, user_id, ts,
         date_diff('second', TIMESTAMP '{_ATTR_EPOCH}', ts) AS xp
  FROM events WHERE event_type = 'purchase'
),
attributed AS (
  SELECT p.event_id, p.xp, c.xc
  FROM purch p
  ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
)
SELECT CAST(CASE WHEN xc IS NULL THEN -1
            ELSE (xp - xc) // {_ATTR_BUCKET_SEC} END AS BIGINT)
         AS lag_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_purchases
FROM attributed
GROUP BY 1
""",
    tags=("time", "asof", "analytics"),
)
def q_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution readout: every purchase is attributed
    to the user's most recent prior-or-equal click (the backward
    as-of join), and the conversion-lag distribution is reported in
    10-minute buckets (bucket -1 = organic, no prior click). Lag is
    computed as the difference of two aligned-epoch second offsets,
    NOT a direct timestamp diff — engines disagree on fractional
    boundary counting between arbitrary timestamps, but both floor
    identically from an aligned epoch (the q_trend_ols gotcha), so
    the bucket edges are engine-exact. One key shuffle for the as-of,
    one partial agg; at 100 TB this is the attribution job that runs
    next to every ads/metrics pipeline."""
    from streamz_postgres_spark.operators.joins import asof_join

    e = load_table(spark, sf_dir, "events")
    x = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_ATTR_EPOCH}', ts)"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select("user_id", "ts", x.alias("xc"))
        .distinct()
    )
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", x.alias("xp")
    )
    att = asof_join(
        purch,
        clicks,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        right_values=["xc"],
    )
    bucket = (
        F.when(F.col("xc").isNull(), F.lit(-1))
        .otherwise(
            F.expr(f"(xp - xc) div {_ATTR_BUCKET_SEC}")
        )
        .cast("bigint")
    )
    return att.select(bucket.alias("lag_bucket")).groupBy("lag_bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases")
    )


# -- per-window SLA percentiles ---------------------------------------------


@register(
    "q_sla_percentiles",
    oracle=f"""
SELECT date_trunc('hour', ts) AS window_start,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_qround('quantile_cont(value, 0.5)', 4)} AS p50,
       {sql_qround('quantile_cont(value, 0.95)', 4)} AS p95,
       {sql_qround('quantile_cont(value, 0.99)', 4)} AS p99,
       MAX(value) AS p100
FROM events
GROUP BY date_trunc('hour', ts)
""",
    tags=("time", "stats", "sla"),
)
def q_sla_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SLA dashboard query: p50/p95/p99/max of the value metric
    per hourly window — exact interpolated percentiles (qround(4)
    absorbs last-ulp interpolation differences, the q_percentile
    convention) over the time axis instead of a categorical key. One
    partial-agg shuffle of O(windows) groups; at 100 TB the exact
    percentile swaps for percentile_approx with the same plan."""
    from streamz_postgres_spark.functions.numeric import qround

    e = load_table(spark, sf_dir, "events")
    # one percentile buffer for all three ranks (r14, guide §2.3 —
    # the q_approx_quantile array fold; identical interpolated
    # doubles, one per-window value buffer instead of three)
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.percentile(
                "value",
                F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)),
            ).alias("_p"),
            F.max("value").alias("p100"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "n_events",
            qround(F.col("_p")[0], 4).alias("p50"),
            qround(F.col("_p")[1], 4).alias("p95"),
            qround(F.col("_p")[2], 4).alias("p99"),
            "p100",
        )
    )


# -- out-of-orderness (lateness) audit --------------------------------------


@register(
    "q_lateness_audit",
    oracle="""
WITH arr AS (
  SELECT user_id, ts,
         event_id + CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)
           || '#jitter'), 1, 15) AS BIGINT) % 7 AS arrival_seq
  FROM events
),
sec AS (
  SELECT user_id, arrival_seq,
         date_diff('second', TIMESTAMP '1990-01-01 00:00:00', ts) AS es
  FROM arr
),
w AS (
  SELECT MAX(es) OVER (PARTITION BY user_id ORDER BY arrival_seq, es
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) - es AS late_s
  FROM sec
)
SELECT CASE WHEN late_s = 0 THEN '0_in_order'
            WHEN late_s <= 60 THEN '1_under_1m'
            WHEN late_s <= 3600 THEN '2_under_1h'
            ELSE '3_over_1h' END AS lateness_bucket,
       COUNT(*) AS n_events,
       MAX(late_s) AS max_late_s
FROM w
GROUP BY lateness_bucket
ORDER BY lateness_bucket
""",
    tags=("timeseries", "agg", "streaming-design"),
)
def q_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-orderness audit: how late does each event arrive
    relative to the newest event time already seen for its key? The
    bucket histogram IS the watermark design input — the tail tells
    you what delay bound drops how much data.

    The fixture is perfectly ordered (event_id follows ts for every
    user — verified), so auditing raw arrival order would prove
    nothing; instead the replay applies a DETERMINISTIC jitter
    permutation (arrival_seq = event_id + salted-hash % 7, the same
    md5 both engines compute) that swaps nearby events exactly like
    bounded network jitter. In production arrival_seq is the real
    ingestion offset and this column disappears.

    The running max is a per-key ordered window (one user_id
    shuffle, linear state). Lateness is computed over ALIGNED EPOCH
    SECONDS (whole-second epoch preceding every row): raw
    sub-second interval diffs diverge across engines (Spark
    truncates the interval, DuckDB counts boundary crossings), but
    integer epoch seconds subtract identically. Constant-size final
    fold."""
    from pyspark.sql import Window

    from streamz_postgres_spark.functions.text_features import hash60

    e = load_table(spark, sf_dir, "events")
    jitter = hash60(
        F.concat(F.col("event_id").cast("string"), F.lit("#jitter"))
    ) % 7
    es = F.expr(
        "timestampdiff(SECOND, TIMESTAMP_NTZ '1990-01-01 00:00:00', ts)"
    )
    arr = e.select(
        "user_id",
        es.alias("es"),
        (F.col("event_id") + jitter).alias("arrival_seq"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("arrival_seq", "es")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bucket = (
        F.when(F.col("late_s") == 0, "0_in_order")
        .when(F.col("late_s") <= 60, "1_under_1m")
        .when(F.col("late_s") <= 3600, "2_under_1h")
        .otherwise("3_over_1h")
    )
    return (
        arr.withColumn("late_s", F.max("es").over(w) - F.col("es"))
        .groupBy(bucket.alias("lateness_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("late_s").alias("max_late_s"),
        )
        .orderBy("lateness_bucket")
    )


# -- session co-occurrence lift ---------------------------------------------


@register(
    "q_cooccurrence_lift",
    oracle="""
WITH flagged AS (
  -- sessionization requires an identity: a NULL user_id row can't
  -- belong to anyone's session, and the oracle's pair self-join
  -- would drop it while the set-based Spark form kept it
  -- (hostile-sweep v5 find)
  SELECT user_id, ts, event_type,
    CASE WHEN lag(ts) OVER w IS NULL
              OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
         THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE user_id IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, event_type,
    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM flagged
),
sess AS (
  SELECT DISTINCT user_id, session_id, event_type FROM numbered
),
totals AS (SELECT COUNT(DISTINCT (user_id, session_id)) AS n_sessions FROM sess),
singles AS (
  SELECT event_type, COUNT(*) AS n FROM sess GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, COUNT(*) AS n_both
  FROM sess a JOIN sess b
    ON a.user_id = b.user_id AND a.session_id = b.session_id
   AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT type_a, type_b, n_both,
       (CAST(n_both AS DOUBLE) * n_sessions)
         / (CAST(sa.n AS DOUBLE) * sb.n) AS lift
FROM pairs
JOIN singles sa ON sa.event_type = type_a
JOIN singles sb ON sb.event_type = type_b
CROSS JOIN totals
ORDER BY type_a, type_b
""",
    tags=("time", "session", "analytics"),
)
def q_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session co-occurrence lift (item-to-item affinity, the
    classic recommendation read-out): for each event-type pair, how
    much more often do they share a 30-minute session than
    independence predicts? lift = P(a,b) / (P(a)·P(b)) over
    sessions.

    The pair join is SESSION-BLOCKED: distinct (session, type) rows
    self-join on the session key, so candidates are bounded by
    (types-per-session)² — never a corpus-wide cross join; with a
    bounded type vocabulary the whole plan is two keyed shuffles and
    broadcast read-side joins. lift is a ratio of exact integers
    (one double multiply/divide chain, identical on both engines).
    The distinct (session, type) set is PERSISTED — it feeds four
    consumers (totals, both single sides, both pair sides), which
    would otherwise each re-expand the sessionization; lifecycle via
    the thread-scoped persist_scoped helper (this invocation's frame
    is released by the SAME thread's next invocation, never by a
    concurrent one — see streamz_postgres_spark.lifecycle)."""
    from streamz_postgres_spark.lifecycle import persist_scoped

    e = load_table(spark, sf_dir, "events")
    grouped = (
        # sessionization requires an identity (NULL user_id rows are
        # excluded on both sides — hostile-sweep v5 find; the NULL
        # "user" would also collide inside the concat_ws session id)
        e.filter(F.col("user_id").isNotNull())
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.collect_set("event_type").alias("types"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "types",
        )
        .withColumn(
            "sid",
            F.concat_ws(
                "/",
                F.col("user_id").cast("string"),
                F.col("session_start").cast("string"),
            ),
        )
    )
    persist_scoped("q_cooccurrence_lift", grouped)
    # the session UNIVERSE is counted BEFORE the type explode: a
    # session whose every event has a NULL type still exists (it
    # dilutes every P(a) identically in the oracle), but its empty
    # collect_set would vanish under explode (hostile-sweep v5 find)
    totals = grouped.agg(F.count(F.lit(1)).alias("n_sessions"))
    sess = grouped.select("sid", F.explode("types").alias("event_type"))
    singles = sess.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    a = sess.select(F.col("sid"), F.col("event_type").alias("type_a"))
    b = sess.select(F.col("sid").alias("sid_b"), F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, (a.sid == b.sid_b) & (F.col("type_a") < F.col("type_b")))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(F.col("event_type").alias("type_a"), F.col("n").alias("na"))
    sb = singles.select(F.col("event_type").alias("type_b"), F.col("n").alias("nb"))
    lift = (F.col("n_both").cast("double") * F.col("n_sessions")) / (
        F.col("na").cast("double") * F.col("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(totals))
        .select("type_a", "type_b", "n_both", lift.alias("lift"))
        .orderBy("type_a", "type_b")
    )


# -- half-life-decayed engagement score --------------------------------------

#: decay anchor — strictly after every fixture event; "now" for the
#: recency computation (a fixed literal, never wall-clock, so the
#: query is reproducible and the oracle can mirror it)
_DECAY_ANCHOR = "2024-06-01 00:00:00"
_DECAY_EPOCH = "1990-01-01 00:00:00"
#: ages at or past 62 half-lives decay below the 1e-6 accumulation
#: grid anyway; the clamp keeps the shift inside BIGINT
_DECAY_MAX_K = 62


@register(
    "q_decay_score",
    oracle=f"""
WITH aged AS (
  SELECT user_id, value,
         GREATEST(LEAST(date_diff('second', TIMESTAMP '{_DECAY_EPOCH}',
                         TIMESTAMP '{_DECAY_ANCHOR}')
               // 86400
               - date_diff('second', TIMESTAMP '{_DECAY_EPOCH}', ts)
               // 86400,
               {_DECAY_MAX_K}), 0) AS k
  FROM events
)
SELECT user_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum(f"value / CAST((CAST(1 AS BIGINT) << k) AS DOUBLE)")}
         AS decay_score
FROM aged
GROUP BY user_id
""",
    tags=("time", "agg", "analytics"),
)
def q_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Half-life-decayed engagement score (the recency-weighted
    'user activity' metric every ranking/retention system keeps):
    each event contributes value x 2^(-age_days), half-life one day
    against a FIXED anchor. The decay factor is a pure POWER OF TWO
    — the value is divided by a shifted integer, one exact IEEE
    scaling per row, never exp()/pow() (whose libm implementations
    differ across engines in the last bit) — and ages are integer
    day counts from aligned epoch seconds (the house sub-second-safe
    form), so a 1000-executor run and the single-threaded oracle
    produce bit-identical scores via the exact decimal accumulator.
    Map-side partial agg; shuffles O(users)."""
    es = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_DECAY_EPOCH}', ts)"
    )
    anchor_es = F.expr(
        f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_DECAY_EPOCH}', "
        f"TIMESTAMP_NTZ '{_DECAY_ANCHOR}')"
    )
    # clamp BOTH ways (round-6 advisor): k > 62 would shift past
    # BIGINT, and k < 0 (an event after the anchor, i.e. late/future
    # data) would hit Spark's masked shift count (k & 63) while
    # DuckDB's << does not mask — clamping to [0, 62] makes late data
    # degrade to undecayed weight identically on both engines.
    k = F.greatest(
        F.least(
            (anchor_es / 86400).cast("bigint") - (es / 86400).cast("bigint"),
            F.lit(_DECAY_MAX_K),
        ),
        F.lit(0),
    )
    e = load_table(spark, sf_dir, "events")
    decayed = F.col("value") / F.expr(
        "CAST(shiftleft(CAST(1 AS BIGINT), CAST(k AS INT)) AS DOUBLE)"
    )
    return (
        e.withColumn("k", k)
        .select("user_id", decayed.alias("dv"))
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("dv").alias("decay_score"),
        )
    )


@register(
    "q_sample_by_sql",
    oracle=f"""
SELECT date_trunc('hour', ts) AS sample_ts,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2
""",
    tags=("time", "sql"),
)
def q_sample_by_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAMPLE BY in SQL SYNTAX — the second sqlext grammar (after
    ASOF JOIN): the QuestDB time-bucket idiom ``... SAMPLE BY 1h``
    lowers onto an epoch-aligned bucket GROUP BY (integer
    epoch-second division — tz-free and equal to date_trunc for
    whole-unit widths), with the bucket surfaced as ``sample_ts``
    and bare-column projections joining the grouping key. Semantics
    are exactly q_tumbling's; the native-SQL oracle checks the
    lowering end-to-end."""
    import uuid as _uuid

    from streamz_postgres_spark import sqlext

    view = f"events_{_uuid.uuid4().hex[:8]}"
    load_table(spark, sf_dir, "events").createOrReplaceTempView(view)
    try:
        return sqlext.sql(
            spark,
            f"""SELECT event_type, count(*) AS n_events,
                CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5)
                     AS DECIMAL(38,0))) AS DOUBLE) / 1000000.0 AS sum_value
                FROM {view} SAMPLE BY 1h""",
        )
    finally:
        spark.catalog.dropTempView(view)


# -- time-weighted average (TWAP) ---------------------------------------------

_TW_EPOCH = "2024-01-01 00:00:00"  # whole-second epoch preceding all rows


@register(
    "q_twap",
    oracle=f"""
WITH seq AS (
  SELECT event_type, value,
         date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts) AS x,
         lead(date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts))
           OVER (PARTITION BY event_type
                 ORDER BY date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts),
                          event_id) AS nx
  FROM events
), durs AS (
  SELECT event_type, value, nx - x AS dur FROM seq WHERE nx IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       CAST(SUM(dur) AS BIGINT) AS total_dur,
       {sql_dsum('value * CAST(dur AS DOUBLE)')}
         / CAST(CAST(SUM(dur) AS BIGINT) AS DOUBLE) AS twap,
       {sql_dsum('value')} / COUNT(*) AS plain_avg
FROM durs
GROUP BY event_type
ORDER BY event_type
""",
    tags=("time", "window"),
)
def q_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (the kdb/QuestDB TWAP): each
    observation is weighted by how long it REMAINED CURRENT (seconds
    until the next observation of the same type; the last open-ended
    observation is excluded). The canonical irregular-time-series
    average — a plain AVG over-weights bursts, which is exactly the
    bias the plain_avg column exposes beside the TWAP.

    Determinism: timestamps become aligned epoch SECONDS first (the
    house rule — both engines truncate identically when the epoch
    precedes every row), durations are exact bigints, the weighted
    sum goes through the micro-unit dsum, and the read-out is one
    IEEE division by the exact total duration. One window shuffle on
    event_type (at scale: key by (instrument, day) so no partition
    holds a full history), then a map-side-combinable aggregate."""
    e = load_table(spark, sf_dir, "events")
    x = F.expr(f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_TW_EPOCH}', ts)")
    from pyspark.sql import Window as W

    w = W.partitionBy("event_type").orderBy("x", "event_id")
    seq = e.select(
        "event_type", "value", "event_id", x.alias("x")
    ).withColumn("nx", F.lead("x").over(w))
    durs = seq.filter(F.col("nx").isNotNull()).select(
        "event_type", "value", (F.col("nx") - F.col("x")).alias("dur")
    )
    return (
        durs.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.sum("dur").cast("bigint").alias("total_dur"),
            (
                dsum(F.col("value") * F.col("dur").cast("double"))
                / F.sum("dur").cast("bigint").cast("double")
            ).alias("twap"),
            (dsum("value") / F.count(F.lit(1))).alias("plain_avg"),
        )
        .orderBy("event_type")
    )


# -- OHLC bars ----------------------------------------------------------------

_OHLC_BUCKET_SEC = 3600


@register(
    "q_ohlc_bars",
    oracle=f"""
WITH pts AS (
  SELECT event_type, value, event_id,
         date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts)
           // {_OHLC_BUCKET_SEC} AS bar,
         row_number() OVER (
           PARTITION BY event_type,
             date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts)
               // {_OHLC_BUCKET_SEC}
           ORDER BY date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts),
                    event_id) AS rn_a,
         row_number() OVER (
           PARTITION BY event_type,
             date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts)
               // {_OHLC_BUCKET_SEC}
           ORDER BY date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts) DESC,
                    event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, CAST(bar AS BIGINT) AS bar,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
       MAX(value) AS high,
       MIN(value) AS low,
       MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
       {sql_dsum('value')} AS sum_value
FROM pts
GROUP BY event_type, bar
ORDER BY event_type, bar
""",
    tags=("time", "window"),
)
def q_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars per (type, hour): open/high/low/close +
    volume — the time-series presentation every market/metrics
    dashboard renders, and the classic first/last-in-window exercise.
    Open and close are rank-1 rows under a TOTAL order (epoch
    seconds, event_id tiebreak), never a bare first_value over ties.

    One window shuffle keyed by (event_type, bar) — the bar is IN
    the partition key, so no partition ever holds more than one
    bucket's rows regardless of history length (the q_pack_sequences
    shard lesson applied to time) — then the same keyed aggregate.
    All-integer bucketing on aligned epoch seconds; the only doubles
    are the raw values and the exact-decimal sum."""
    e = load_table(spark, sf_dir, "events")
    x = F.expr(f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_TW_EPOCH}', ts)")
    from pyspark.sql import Window as W

    pts = e.select(
        "event_type", "value", "event_id", x.alias("x")
    ).withColumn("bar", F.expr(f"x div {_OHLC_BUCKET_SEC}").cast("bigint"))
    wa = W.partitionBy("event_type", "bar").orderBy("x", "event_id")
    wd = W.partitionBy("event_type", "bar").orderBy(
        F.col("x").desc(), F.col("event_id").desc()
    )
    ranked = pts.select(
        "event_type",
        "bar",
        "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        ranked.groupBy("event_type", "bar")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_obs"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
            dsum("value").alias("sum_value"),
        )
        .orderBy("event_type", "bar")
    )


# -- seasonal-naive forecast backtest -----------------------------------------

_SNAIVE_PERIOD = 24  # seasonal lag in hour-bars (one day)


@register(
    "q_seasonal_naive_eval",
    oracle=f"""
WITH bars AS (
  SELECT event_type,
         date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts)
           // {_OHLC_BUCKET_SEC} AS bar,
         CAST(COUNT(*) AS BIGINT) AS n,
         {sql_dsum('value')} AS actual
  FROM events
  GROUP BY 1, 2
), paired AS (
  SELECT a.event_type, a.bar, a.actual, p.actual AS predicted
  FROM bars a
  JOIN bars p
    ON p.event_type = a.event_type
   AND p.bar = a.bar - {_SNAIVE_PERIOD}
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_bars,
       {sql_dsum('abs(actual - predicted)')} / COUNT(*) AS mae,
       {sql_dsum(
           '2.0 * abs(actual - predicted) / (abs(actual) + abs(predicted))'
       )} / COUNT(*) AS smape
FROM paired
GROUP BY event_type
ORDER BY event_type
""",
    tags=("time", "stats"),
)
def q_seasonal_naive_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each hour-bar's
    total by the SAME HOUR ONE DAY EARLIER and score per type with
    MAE and sMAPE — the baseline every real forecasting model must
    beat (M-competition practice), and the eval-harness shape (lag
    join -> error fold) any model backtest reuses with its own
    predictions column.

    Determinism: bar totals are exact-decimal sums -> identical
    doubles; |a-p| and the sMAPE ratio are the same IEEE tree on
    both engines; error means ride the micro-unit dsum with ONE
    division each. Scale: one keyed bar aggregate (map-side
    combinable), then a self equi-join on (type, bar - 24) — an
    O(bars) join, orders below the event count; zero bars are
    impossible by construction (a bar exists only with >= 1 event),
    so the sMAPE denominator never hits 0/0 on real totals."""
    e = load_table(spark, sf_dir, "events")
    x = F.expr(f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_TW_EPOCH}', ts)")
    bars = (
        e.select("event_type", "value", x.alias("x"))
        .withColumn("bar", F.expr(f"x div {_OHLC_BUCKET_SEC}").cast("bigint"))
        .groupBy("event_type", "bar")
        .agg(dsum("value").alias("actual"))
    )
    pred = bars.select(
        "event_type",
        (F.col("bar") + _SNAIVE_PERIOD).alias("bar"),
        F.col("actual").alias("predicted"),
    )
    paired = bars.join(pred, ["event_type", "bar"])
    err = F.abs(F.col("actual") - F.col("predicted"))
    smape_term = (
        F.lit(2.0)
        * err
        / (F.abs(F.col("actual")) + F.abs(F.col("predicted")))
    )
    return (
        paired.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bars"),
            (dsum(err) / F.count(F.lit(1))).alias("mae"),
            (dsum(smape_term) / F.count(F.lit(1))).alias("smape"),
        )
        .orderBy("event_type")
    )


# -- seasonal-residual anomaly detection --------------------------------------

_ANOM_K = 3.0  # MAD fence multiplier


@register(
    "q_anomaly_seasonal",
    oracle=f"""
WITH bars AS (
  SELECT event_type,
         date_diff('second', TIMESTAMP '{_TW_EPOCH}', ts)
           // {_OHLC_BUCKET_SEC} AS bar,
         {sql_dsum('value')} AS actual
  FROM events
  GROUP BY 1, 2
), paired AS (
  SELECT a.event_type, a.bar, a.actual, p.actual AS predicted,
         a.actual - p.actual AS r
  FROM bars a
  JOIN bars p
    ON p.event_type = a.event_type AND p.bar = a.bar - {_SNAIVE_PERIOD}
), med AS (
  SELECT event_type,
         {sql_qround('quantile_cont(r, 0.5)', 4)} AS med_r
  FROM paired GROUP BY event_type
), fence AS (
  SELECT paired.event_type,
         med.med_r,
         {sql_qround('quantile_cont(abs(r - med_r), 0.5)', 4)} AS mad
  FROM paired JOIN med USING (event_type)
  GROUP BY paired.event_type, med.med_r
)
SELECT p.event_type, CAST(p.bar AS BIGINT) AS bar, p.actual, p.predicted,
       p.r - f.med_r AS deviation
FROM paired p
JOIN fence f ON f.event_type = p.event_type
WHERE abs(p.r - f.med_r) > {_ANOM_K} * f.mad
ORDER BY p.event_type, bar
""",
    tags=("time", "stats"),
)
def q_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-residual anomaly detection — the composition the two
    pieces exist for: the seasonal-naive prediction (same hour, one
    day earlier — q_seasonal_naive_eval's baseline) turns the series
    into residuals, and a ROBUST median/MAD fence flags bars whose
    residual deviates more than 3 MADs — so a real traffic spike
    cannot drag the fence up and hide itself, which is exactly what
    a mean/stddev fence (q_anomaly_zscore's) does under heavy
    anomalies. The seasonal differencing also de-trends daily
    rhythm, so quiet-hour anomalies aren't drowned by peak-hour
    variance.

    Determinism: bar totals are exact-decimal sums; residuals are
    one IEEE subtraction of identical doubles; both medians go
    through the shared interpolated-percentile + qround(4) guard; the
    fence comparison then sees identical doubles. Scale: the bar
    aggregate is the only input-size stage; medians are per-type
    aggregates over O(bars) rows; fences broadcast back onto the
    residual table."""
    e = load_table(spark, sf_dir, "events")
    x = F.expr(f"timestampdiff(SECOND, TIMESTAMP_NTZ '{_TW_EPOCH}', ts)")
    bars = (
        e.select("event_type", "value", x.alias("x"))
        .withColumn("bar", F.expr(f"x div {_OHLC_BUCKET_SEC}").cast("bigint"))
        .groupBy("event_type", "bar")
        .agg(dsum("value").alias("actual"))
    )
    # r14 (guide §3.3 — truncate duplicated subtrees): `paired` below
    # feeds THREE consumers (median, MAD fence, final read-out), two
    # of them broadcast subtrees, and each evaluation re-ran the
    # events scan + exact-decimal bar aggregate twice (bars + its
    # shifted self-join side) — the before plan
    # (plans/r14/q_anomaly_seasonal_before.txt) scans events SIX
    # times. bars is O(types x bars) (hundreds of rows): one eager
    # localCheckpoint materializes the only input-sized stage once;
    # the residual joins all run over the tiny checkpointed blocks,
    # freed when the last reference drops and Spark's ContextCleaner
    # runs.
    from streamz_postgres_spark.lifecycle import track_scoped

    bars = bars.localCheckpoint(eager=True)
    track_scoped("q_anomaly_seasonal", bars)
    pred = bars.select(
        "event_type",
        (F.col("bar") + _SNAIVE_PERIOD).alias("bar"),
        F.col("actual").alias("predicted"),
    )
    paired = bars.join(pred, ["event_type", "bar"]).withColumn(
        "r", F.col("actual") - F.col("predicted")
    )
    med = paired.groupBy("event_type").agg(
        qround(F.percentile("r", F.lit(0.5)), 4).alias("med_r")
    )
    fence = (
        paired.join(F.broadcast(med), "event_type")
        .groupBy("event_type", "med_r")
        .agg(
            qround(
                F.percentile(F.abs(F.col("r") - F.col("med_r")), F.lit(0.5)),
                4,
            ).alias("mad")
        )
    )
    return (
        paired.join(F.broadcast(fence), "event_type")
        .filter(
            F.abs(F.col("r") - F.col("med_r")) > F.lit(_ANOM_K) * F.col("mad")
        )
        .select(
            "event_type",
            "bar",
            "actual",
            "predicted",
            (F.col("r") - F.col("med_r")).alias("deviation"),
        )
        .orderBy("event_type", "bar")
    )
