"""*[extension]* Time-series conditioning queries over ``events`` —
gap filling, last-observation-carried-forward interpolation, and
OHLC-style bar aggregation (SURVEY §2.12 additive scope).

These are the resample/align primitives a telemetry or market-data
pipeline runs before modeling: a dense calendar grid with explicit
zeros, forward-filled values across silent days, and per-bucket
open/high/low/close bars. All pure built-in expressions; the calendar
spine is derived from the data's own min/max (one 1-row aggregate that
broadcasts), so no query hard-codes dates.

Oracle-parity notes: day spines are built with sequence()/
generate_series() on both engines; doubles are rounded at the same
algebraic position on both sides; bar open/close use a zero-padded
``(epoch_us, event_id)`` string sort key because DuckDB's arg_min/max
take only scalar keys (lexicographic on the padded string == numeric
order on the pair, and event_id uniqueness makes it total).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..operators.silver import silver_events
from ..registry import register

# DEFAULT ROUTING (round 5): the DAILY queries below read the
# date-partitioned silver (operators/silver.silver_events) and group on
# its ``event_date`` partition column instead of computing to_date(ts)
# per row from the monolithic bronze. Semantics are identical
# (event_date IS to_date(ts), materialized at layout time); at 100 TB
# the partitioned layout is what makes per-day work schedulable
# (day-aligned splits, directory-level lifecycle) and the day key comes
# from directory metadata, not a per-row cast. The plan pin lives in
# tests/test_scale_ops.py::test_daily_queries_route_through_silver.

# Zero-padded "(epoch_us, event_id)" composite sort key, identical in
# both engines: 20 digits hold any positive epoch-µs, 12 digits any
# testdata event_id; '|' keeps the fields visually separable.
_BAR_KEY_SPARK = lambda: F.format_string(  # noqa: E731
    "%020d|%012d", F.unix_micros(F.col("ts")), F.col("event_id")
)
_BAR_KEY_SQL = "printf('%020d|%012d', epoch_us(ts), event_id)"


def _daily_grid(daily: DataFrame) -> DataFrame:
    """Dense (day x event_type) calendar grid spanning the data's own
    date range — derived from the already-aggregated DAILY table (day,
    event_type, ...), never from the fact directly. No cache pins the
    daily table, so Catalyst may plan the derived min/max and distinct
    as their own column-pruned fact scans below the aggregate. The
    grid is thousands of rows at any corpus scale, so it stays
    broadcast-side in every downstream join and the fact table never
    reshuffles for the spine."""
    bounds = daily.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("day")
    )
    types = daily.select("event_type").distinct()
    return spine.crossJoin(types)


@register(
    "gap_fill_daily_counts",
    oracle="""
    WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
               FROM events),
    spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
              FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    c AS (SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
                 SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0 AS sv
          FROM events GROUP BY day, event_type)
    SELECT s.day, t.event_type,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n_events,
           COALESCE(c.sv, 0.0) AS total_value
    FROM spine s CROSS JOIN types t
    LEFT JOIN c ON c.day = s.day AND c.event_type = t.event_type
    ORDER BY s.day, t.event_type
    """,
)
def gap_fill_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled daily activity: every (day, event_type) cell of the
    data's own calendar range, with explicit zeros where no events
    occurred — the dense-grid resample every downstream window/trend
    computation needs (a missing day must read as 0, not as absent).
    Daily totals are summed in fixed point (values are exactly
    1e-4-quantized here — see locf_daily_values), so the double
    emitted by sum/10000.0 is bit-identical in both engines with no
    ROUND needed.

    Scale shape: the fact table is touched exactly once, by the daily
    count aggregate (map-side combinable, one shuffle on the agg key);
    the spine x types grid is tiny and stays broadcast-side in the
    left join, so scaling the corpus 100x changes only the first
    aggregate's input."""
    ev = silver_events(spark, sf_dir)
    vi = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    c = (
        ev.select(F.col("event_date").alias("day"), "event_type", vi.alias("vi"))
        .groupBy("day", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("vi") / F.lit(10000.0)).alias("sv"),
        )
    )
    grid = _daily_grid(c)
    return (
        grid.join(c, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
            F.coalesce(F.col("sv"), F.lit(0.0)).alias("total_value"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "locf_daily_values",
    oracle="""
    WITH b AS (SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
               FROM events),
    spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
              FROM b),
    types AS (SELECT DISTINCT event_type FROM events),
    a AS (SELECT CAST(ts AS DATE) AS day, event_type,
                 ((SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) * 10)
                    // COUNT(*)) / 100000.0 AS av
          FROM events GROUP BY day, event_type)
    SELECT day, event_type,
           LAST_VALUE(av IGNORE NULLS) OVER (
             PARTITION BY event_type ORDER BY day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_avg
    FROM (SELECT s.day, t.event_type, a.av
          FROM spine s CROSS JOIN types t
          LEFT JOIN a ON a.day = s.day AND a.event_type = t.event_type)
    ORDER BY event_type, day
    """,
)
def locf_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward interpolation: the daily mean
    value per event_type on a dense calendar, with silent days filled
    by the most recent observed day's mean (days before the first
    observation stay NULL — LOCF never invents a past).

    The daily mean is computed in FIXED POINT: values are exactly
    1e-4-quantized in this corpus, so ``floor(v*10000 + 0.5)`` recovers
    the integer ten-thousandths exactly (the true product sits within
    ~5e-10 of an integer — nowhere near the .5 boundary), the per-cell
    sum is exact 64-bit arithmetic in ANY order, and one integer
    division floors the mean to 1e-5. That sidesteps the cross-engine
    trap where ROUND(avg_of_doubles, 4) straddles a half-boundary and
    Spark (HALF_UP on the decimal string) disagrees with DuckDB
    (scaled round on the raw double) by one final digit.

    Scale shape: fact touched once by the daily-avg aggregate; the
    LOCF window partitions by event_type over a days-long frame —
    thousands of rows per partition at any corpus size, so the window
    state is bounded by the calendar, not the data. (For a per-user
    LOCF at 100 TB the same plan applies with user_id in the partition
    key: state stays one row per partition via last(ignorenulls).)"""
    ev = silver_events(spark, sf_dir)
    vi = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    a = (
        ev.select(F.col("event_date").alias("day"), "event_type", vi.alias("vi"))
        .groupBy("day", "event_type")
        .agg(
            (
                F.expr("(sum(vi) * 10) div count(*)") / F.lit(100000.0)
            ).alias("av")
        )
    )
    grid = _daily_grid(a)
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        grid.join(a, ["day", "event_type"], "left")
        .select(
            "day",
            "event_type",
            F.last("av", ignorenulls=True).over(w).alias("filled_avg"),
        )
        .orderBy("event_type", "day")
    )


@register(
    "daily_ohlc_bars",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS day, event_type,
           arg_min(value, {_BAR_KEY_SQL}) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, {_BAR_KEY_SQL}) AS close,
           COUNT(*) AS n_events
    FROM events
    GROUP BY day, event_type
    ORDER BY day, event_type
    """,
)
def daily_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bar aggregation: per (day, event_type), the first (open)
    and last (close) event value in chronological order plus the max
    (high) / min (low) — the canonical downsample for numeric
    time-series. first/last are expressed as min_by/max_by over a
    total (ts, event_id) key, so the whole bar is ONE aggregate with
    map-side partial combine and a single shuffle on the bar key.
    (Spark plans SortAggregate here — min_by's struct buffer isn't
    hash-aggregable — but the sort is per-partition and the partial
    still combines before the exchange; the alternative
    row_number()-then-filter plan would shuffle EVERY row and sort
    every group, which is what this form avoids at 100 TB.)

    Values pass through untouched (no arithmetic), so no rounding is
    needed for cross-engine parity."""
    ev = silver_events(spark, sf_dir)
    key = _BAR_KEY_SPARK()
    return (
        ev.groupBy(F.col("event_date").alias("day"), "event_type")
        .agg(
            F.min_by("value", key).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", key).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("day", "event_type")
    )


@register(
    "trailing_hour_user_stats",
    oracle="""
    SELECT event_id,
           COUNT(*) OVER w AS trailing_n,
           SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) OVER w / 10000.0
             AS trailing_sum
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    ORDER BY event_id
    """,
)
def trailing_hour_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-INTERVAL window frame: for every event, the count and value
    total of the same user's events in the trailing hour — a RANGE
    frame over event-time microseconds, the frame type ROWS-based
    moving windows (moving_window_user_values) cannot express when
    events are irregularly spaced. One shuffle on user_id serves both
    aggregates; per-row state is the frame's sliding buffer, bounded by
    per-user event rate x 1 hour. Sums run in fixed point (values are
    1e-4-quantized) for bit-exact cross-engine parity."""
    ev = load_table(spark, sf_dir, "events")
    vi = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return (
        ev.select("event_id", "user_id", "ts", vi.alias("vi"))
        .select(
            "event_id",
            F.count(F.lit(1)).over(w).alias("trailing_n"),
            (F.sum("vi").over(w) / F.lit(10000.0)).alias("trailing_sum"),
        )
        .orderBy("event_id")
    )


@register(
    "anomaly_daily_counts",
    oracle="""
    WITH c AS (
      SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
      FROM events GROUP BY day, event_type
    ),
    b AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM c),
    spine AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
              FROM b),
    types AS (SELECT DISTINCT event_type FROM c),
    d AS (
      SELECT sp.day, t.event_type, CAST(COALESCE(c.n, 0) AS BIGINT) AS n
      FROM spine sp CROSS JOIN types t
      LEFT JOIN c ON c.day = sp.day AND c.event_type = t.event_type
    ),
    s AS (
      SELECT day, event_type, n,
             AVG(CAST(n AS DOUBLE)) OVER w AS mu,
             STDDEV_SAMP(CAST(n AS DOUBLE)) OVER w AS sd,
             COUNT(*) OVER w AS n_hist
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN 14 PRECEDING AND 1 PRECEDING)
    )
    SELECT day, event_type, n,
           CASE WHEN n_hist >= 7 AND sd > 0
                THEN ROUND((n - mu) / sd, 4) END AS zscore,
           COALESCE(n_hist >= 7 AND sd > 0
                    AND ABS((n - mu) / sd) > 3.0, FALSE) AS is_anomaly
    FROM s
    ORDER BY day, event_type
    """,
)
def anomaly_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection on the daily event series: a
    day is anomalous when its count deviates more than 3 sigma from the
    trailing 14 days' mean (current day EXCLUDED from its own baseline
    — a spike must not be allowed to normalize itself). Days with
    under 7 baseline days or zero variance emit NULL z (cold start is
    'unknown', not 'normal').

    The baseline runs over the DENSE calendar grid (zero-filled via
    _daily_grid, as gap_fill_daily_counts does), so the 14-row frame
    is truly the trailing 14 calendar days: absent days count as 0 in
    the mean, and a type going quiet registers as a low-side anomaly
    instead of silently stretching the frame across the gap.

    Scale shape: the fact table collapses to the daily grid in one
    map-side-combinable aggregate; the rolling stats run over that
    dimension-sized series (days x types rows), so the window state is
    calendar-bounded regardless of corpus size. Inputs to mu/sd are
    exact integer counts over an identical 14-row frame in both
    engines, so the rounded z-scores agree."""
    ev = silver_events(spark, sf_dir)
    c = ev.groupBy(
        F.col("event_date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    d = _daily_grid(c).join(c, ["day", "event_type"], "left").select(
        "day", "event_type", F.coalesce("n", F.lit(0)).alias("n")
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-14, -1)
    )
    s = d.select(
        "day",
        "event_type",
        "n",
        F.avg(F.col("n").cast("double")).over(w).alias("mu"),
        F.stddev_samp(F.col("n").cast("double")).over(w).alias("sd"),
        F.count(F.lit(1)).over(w).alias("n_hist"),
    )
    usable = (F.col("n_hist") >= 7) & (F.col("sd") > 0)
    z = (F.col("n") - F.col("mu")) / F.col("sd")
    return s.select(
        "day",
        "event_type",
        "n",
        F.when(usable, F.round(z, 4)).alias("zscore"),
        F.coalesce(usable & (F.abs(z) > 3.0), F.lit(False)).alias("is_anomaly"),
    ).orderBy("day", "event_type")


@register(
    "session_window_native",
    oracle="""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events,
           SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) / 10000.0
             AS total_value
    FROM sess
    GROUP BY user_id, sid
    ORDER BY user_id, session_start
    """,
)
def session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's NATIVE session_window operator, oracle-gated in batch:
    one aggregate call sessionizes (vs the lag→flag→running-sum→agg
    chain of sessionize_events — same family, different machinery; the
    native form is also what the streaming path uses, so gating it
    here pins the batch/stream semantics to one oracle).

    Boundary semantics the oracle mirrors exactly: windows are
    half-open [first_ts, last_ts + gap), so an event arriving at
    EXACTLY gap distance starts a NEW session (the islands SQL uses
    >= for the boundary, unlike the strictly-> of the 30-min
    `sessionize_events` query) and session_end is last_ts + gap, not
    last_ts. Value totals in fixed point as usual."""
    ev = load_table(spark, sf_dir, "events")
    vi = F.floor(F.col("value") * 10000 + F.lit(0.5)).cast("long")
    return (
        ev.select("user_id", "ts", vi.alias("vi"))
        .groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum("vi") / F.lit(10000.0)).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


@register(
    "drift_psi_value",
    oracle="""
    WITH m AS (
      SELECT (CAST(MIN(epoch_us(ts)) AS BIGINT)
              + CAST(MAX(epoch_us(ts)) AS BIGINT)) // 2 AS mid
      FROM events
    ),
    b AS (
      SELECT value,
             CASE WHEN epoch_us(ts) < (SELECT mid FROM m)
                  THEN 'ref' ELSE 'cur' END AS period,
             NTILE(10) OVER (ORDER BY value, event_id) AS bucket
      FROM events
    ),
    c AS (
      SELECT bucket,
             SUM(CASE WHEN period = 'ref' THEN 1 ELSE 0 END) AS n_ref,
             SUM(CASE WHEN period = 'cur' THEN 1 ELSE 0 END) AS n_cur
      FROM b GROUP BY bucket
    ),
    t AS (SELECT SUM(n_ref) AS tr, SUM(n_cur) AS tc FROM c)
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(n_ref AS BIGINT) AS n_ref,
           CAST(n_cur AS BIGINT) AS n_cur,
           ROUND((n_ref / t.tr - n_cur / t.tc)
                 * ln((n_ref / t.tr) / (n_cur / t.tc)), 4) AS psi_term
    FROM c CROSS JOIN t
    WHERE n_ref > 0 AND n_cur > 0
    ORDER BY bucket
    """,
)
def drift_psi_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per value decile: split the corpus at
    its time midpoint (integer epoch arithmetic — no float midpoint),
    bucket values into global equi-depth deciles, and compare each
    bucket's share between the reference (first half) and current
    (second half) periods — the standard drift monitor for a feature
    distribution (PSI > 0.25 on any bucket flags retraining). Buckets
    a period never reached are excluded (their PSI term is undefined;
    the bucket row's absence IS the signal).

    The decile ntile is a global window — dim-scale honest here; at
    100 TB the edges come from approx_percentile (sketch) and the
    bucket assignment becomes a scan-local range lookup, as with the
    equi-depth histogram. Counts are exact integers; the only float
    math is the final share ratio + ln, rounded at the output edge."""
    ev = load_table(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr(
            "(cast(min(unix_micros(ts)) as bigint)"
            " + cast(max(unix_micros(ts)) as bigint)) div 2"
        ).alias("mid")
    )
    b = ev.join(F.broadcast(mid)).select(
        "value",
        "event_id",
        F.when(F.unix_micros("ts") < F.col("mid"), "ref")
        .otherwise("cur")
        .alias("period"),
    )
    w = Window.orderBy("value", "event_id")
    c = (
        b.select("value", "period", F.ntile(10).over(w).alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.sum((F.col("period") == "ref").cast("long")).alias("n_ref"),
            F.sum((F.col("period") == "cur").cast("long")).alias("n_cur"),
        )
    )
    t = c.agg(
        F.sum("n_ref").alias("tr"), F.sum("n_cur").alias("tc")
    )
    p = F.col("n_ref") / F.col("tr")
    q = F.col("n_cur") / F.col("tc")
    return (
        c.join(F.broadcast(t))
        .filter((F.col("n_ref") > 0) & (F.col("n_cur") > 0))
        .select(
            F.col("bucket").cast("long").alias("bucket"),
            "n_ref",
            "n_cur",
            F.round((p - q) * F.log(p / q), 4).alias("psi_term"),
        )
        .orderBy("bucket")
    )
