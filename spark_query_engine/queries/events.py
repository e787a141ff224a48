"""Event-stream queries (batch semantics over the events table).

These are the batch twins of the Structured Streaming operators in
``spark_query_engine.streaming`` — identical window/sessionization
semantics, verified against the oracle here, re-used as streaming
transformations there (Spark's unified batch/stream model makes the
transformation code shared by construction).

``events.ts`` arrives via the nanos-aware loader (see queries.load);
oracles use the EVENTS_ORACLE µs-truncation rewrite.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from spark_query_engine.queries import EVENTS_ORACLE, load, query
from spark_query_engine.streaming.events import sliding_counts, tumbling_counts


@query(
    "events_tumbling_window",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT date_trunc('hour', ts) AS window_start,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM ev
        GROUP BY 1, 2
    """,
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation via the native F.window
    operator (epoch-aligned, same as date_trunc('hour')): the stream
    operator ``tumbling_counts`` on the batch table, where the
    optimizer drops its watermark."""
    return tumbling_counts(load(spark, sf_dir, "events"))


@query(
    "events_sliding_window",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        exp AS (
            SELECT e.*, ws.window_start
            FROM ev e, UNNEST([
                time_bucket(INTERVAL '30 minutes', e.ts),
                time_bucket(INTERVAL '30 minutes', e.ts) - INTERVAL '30 minutes'
            ]) AS ws(window_start)
        )
        SELECT window_start,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM exp
        GROUP BY 1
    """,
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 1-hour window, 30-minute slide (each event lands in 2
    windows). Native F.window(ts, '1 hour', '30 minutes'): the stream
    operator ``sliding_counts`` on the batch table."""
    return sliding_counts(load(spark, sf_dir, "events"))


@query(
    "events_sessionize",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        lagd AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS is_new_session
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts, value,
                   SUM(is_new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM lagd
        )
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               MIN(ts) AS session_start,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM sess
        GROUP BY user_id, session_id
    """,
)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity): lag → new-session
    flag → running sum as session id → per-session aggregate. One
    shuffle on user_id covers both windows and the final group-by.
    (Streaming twin: F.session_window with watermark — see
    spark_query_engine.streaming.)"""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    with_prev = ev.select(
        "user_id", "event_id", "ts", "value", F.lag("ts").over(w).alias("prev_ts")
    )
    flagged = with_prev.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        F.when(
            F.col("prev_ts").isNull()
            # µs-exact gap comparison, matching the oracle's interval compare
            | (F.expr("timestampdiff(MICROSECOND, prev_ts, ts)") > 1800 * 1_000_000),
            1,
        )
        .otherwise(0)
        .alias("is_new_session"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        "value",
        F.sum("is_new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )
    return sess.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "events_type_stats",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               ROUND(SUM(value), 2) AS total_value,
               ROUND(AVG(value), 4) AS avg_value,
               MIN(ts) AS first_ts,
               MAX(ts) AS last_ts
        FROM ev
        GROUP BY event_type
    """,
)
def events_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type profile over the stream table."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


@query(
    "events_funnel",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        v AS (SELECT user_id, MIN(ts) AS vts FROM ev
              WHERE event_type = 'view' GROUP BY user_id),
        c AS (SELECT e.user_id, MIN(e.ts) AS cts
              FROM ev e JOIN v ON e.user_id = v.user_id
              WHERE e.event_type = 'click' AND e.ts >= v.vts
              GROUP BY e.user_id),
        p AS (SELECT e.user_id, MIN(e.ts) AS pts
              FROM ev e JOIN c ON e.user_id = c.user_id
              WHERE e.event_type = 'purchase' AND e.ts >= c.cts
              GROUP BY e.user_id)
        SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
               (SELECT COUNT(*) FROM c) AS n_clicked_after_view,
               (SELECT COUNT(*) FROM p) AS n_purchased_after_click
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase: each stage
    keeps users whose stage event occurs at/after their previous
    stage's first event. Three shuffles on user_id (the natural
    partition key); each stage's relation shrinks, so the joins get
    cheaper down the funnel."""
    ev = load(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("vts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(F.col("ts") >= F.col("vts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("cts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") >= F.col("cts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("pts"))
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked_after_view")))
        .crossJoin(p.agg(F.count(F.lit(1)).alias("n_purchased_after_click")))
    )


@query(
    "events_rollup_granularity",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT CASE WHEN GROUPING(bucket_hour) = 0 THEN 'hour' ELSE 'day' END
                   AS granularity,
               COALESCE(bucket_hour, bucket_day) AS bucket,
               event_type,
               COUNT(*) AS n_events,
               ROUND(SUM(value), 2) AS total_value
        FROM (
            SELECT date_trunc('hour', ts) AS bucket_hour,
                   date_trunc('day', ts) AS bucket_day,
                   event_type, value
            FROM ev
        )
        GROUP BY GROUPING SETS ((bucket_hour, event_type),
                                (bucket_day, event_type))
    """,
)
def events_rollup_granularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate rollup: one pass over the
    raw events produces BOTH the hourly and the daily materialization
    via GROUPING SETS on two time buckets — instead of two scans (or
    rolling daily up from hourly with a second shuffle). The
    GROUPING() bit disambiguates which granularity a row belongs to.
    At 100 TB this is the maintenance query of a time-series rollup
    table: partial aggregation is per-granularity map-side, and the
    output is tiny (one row per bucket × type)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("hour", "ts").alias("bucket_hour"),
        F.date_trunc("day", "ts").alias("bucket_day"),
        "event_type",
        "value",
    )
    return (
        ev.groupingSets(
            [["bucket_hour", "event_type"], ["bucket_day", "event_type"]],
            "bucket_hour",
            "bucket_day",
            "event_type",
        )
        .agg(
            F.when(F.grouping("bucket_hour") == 0, F.lit("hour"))
            .otherwise(F.lit("day"))
            .alias("granularity"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            "granularity",
            F.coalesce("bucket_hour", "bucket_day").alias("bucket"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "events_gap_fill",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        agg AS (
            SELECT date_trunc('hour', ts) AS bucket, event_type,
                   ROUND(SUM(value), 2) AS bucket_value
            FROM ev GROUP BY 1, 2
        ),
        span AS (
            SELECT event_type, MIN(bucket) AS lo, MAX(bucket) AS hi
            FROM agg GROUP BY 1
        ),
        grid AS (
            SELECT event_type,
                   UNNEST(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
            FROM span
        ),
        filled AS (
            SELECT g.event_type, g.bucket, a.bucket_value
            FROM grid g LEFT JOIN agg a
              ON g.event_type = a.event_type AND g.bucket = a.bucket
        )
        SELECT event_type, bucket,
               bucket_value IS NOT NULL AS observed,
               LAST_VALUE(bucket_value IGNORE NULLS) OVER (
                   PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS value_filled
        FROM filled
    """,
)
def events_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap filling with last-observation-carried-forward
    (the hypertable ``time_bucket_gapfill`` + ``locf`` shape): hourly
    per-type averages, a dense hour grid generated per series from its
    own [min, max] span (``sequence`` + ``explode`` — no driver-side
    range loop), a left join to mark the gaps, and an
    ignore-nulls ``last()`` window to carry values forward.

    Scale: the grid is O(series x span/bucket) — independent of the
    raw event count, so the join's build side stays tiny while the
    fact side aggregates map-side first. The LOCF window partitions by
    series key; with realistic cardinality (users, devices) that is
    the parallelism axis, not a single global sort. The rounded
    per-bucket average is what the fill propagates, so the carried
    values are bit-identical cross-engine."""
    from spark_query_engine.operators.timeseries import gap_fill_locf

    ev = load(spark, sf_dir, "events")
    return gap_fill_locf(ev, "event_type", "ts", "value", bucket="1 hour")


@query(
    "events_downsample_ohlc",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        ranked AS (
            SELECT date_trunc('day', ts) AS bucket, event_type, value,
                   ROW_NUMBER() OVER (
                       PARTITION BY date_trunc('day', ts), event_type
                       ORDER BY ts, event_id) AS rn_a,
                   ROW_NUMBER() OVER (
                       PARTITION BY date_trunc('day', ts), event_type
                       ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM ev
        )
        SELECT bucket, event_type,
               MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
               COUNT(*) AS n_events
        FROM ranked
        GROUP BY 1, 2
    """,
)
def events_downsample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-aware downsampling (the candlestick / OHLC rollup a
    metrics store derives from raw points): per (day, type) the FIRST
    and LAST observed value — which plain aggregation cannot express —
    plus min/max and count. first/last are rank-1 picks from two
    row_number windows over the SAME partitioning, tie-broken on
    (ts, event_id) so the result is deterministic even with duplicate
    timestamps; both window passes and the final aggregation share one
    hash-partition of (bucket, type), so the whole query is a single
    shuffle. Every output value is a raw stored double (picked, never
    arithmetically combined), so no rounding is needed cross-engine."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").alias("bucket"),
        "event_type",
        "value",
        "ts",
        "event_id",
    )
    wp = W.partitionBy("bucket", "event_type")
    ranked = ev.select(
        "bucket",
        "event_type",
        "value",
        F.row_number().over(wp.orderBy("ts", "event_id")).alias("rn_a"),
        F.row_number()
        .over(wp.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn_d"),
    )
    return ranked.groupBy("bucket", "event_type").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
        F.max("value").alias("high"),
        F.min("value").alias("low"),
        F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        F.count(F.lit(1)).alias("n_events"),
    )


@query(
    "events_anomaly_zscore",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        hourly AS (
            SELECT event_type, date_trunc('hour', ts) AS bucket,
                   COUNT(*) AS n
            FROM ev GROUP BY 1, 2
        ),
        scored AS (
            SELECT event_type, bucket, n,
                   AVG(n) OVER (PARTITION BY event_type) AS mu,
                   stddev_pop(n) OVER (PARTITION BY event_type) AS sigma
            FROM hourly
        )
        SELECT event_type, bucket, n,
               ROUND((n - mu) / sigma, 4) AS zscore
        FROM scored
        WHERE sigma > 0 AND ABS(ROUND((n - mu) / sigma, 4)) >= 2.5
    """,
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection, the monitoring query over event
    streams: hourly counts per type, z-scored against that type's own
    mean/population-stddev, keeping |z| >= 2.5 outliers. The window
    statistics run over the AGGREGATED hourly relation (|types x
    hours| rows), so the expensive stage is the one map-side-combined
    count — the raw facts are never shuffled twice. Counts are
    integers, so mu/sigma are exact rational doubles and the 4dp
    z-score is engine-identical; at true scale the same shape keys by
    (entity, metric) and the per-key window parallelizes across the
    partition axis."""
    hourly = (
        load(spark, sf_dir, "events")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("event_type")
    scored = hourly.select(
        "event_type",
        "bucket",
        "n",
        F.avg("n").over(w).alias("mu"),
        F.stddev_pop("n").over(w).alias("sigma"),
    )
    z = F.round((F.col("n") - F.col("mu")) / F.col("sigma"), 4)
    return scored.where(
        (F.col("sigma") > 0) & (F.abs(z) >= 2.5)
    ).select("event_type", "bucket", "n", z.alias("zscore"))


@query(
    "events_cohort_retention",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        firstact AS (
            SELECT user_id, MIN(date_trunc('day', ts)) AS cohort
            FROM ev GROUP BY 1
        ),
        activity AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS d FROM ev
        ),
        cell AS (
            SELECT f.cohort,
                   CAST(date_diff('day', f.cohort, a.d) AS BIGINT)
                       AS day_offset,
                   COUNT(DISTINCT a.user_id) AS n_active
            FROM activity a JOIN firstact f USING (user_id)
            GROUP BY 1, 2
        ),
        base AS (
            SELECT cohort, n_active AS cohort_size
            FROM cell WHERE day_offset = 0
        )
        SELECT c.cohort, c.day_offset, c.n_active, b.cohort_size,
               ROUND(c.n_active * 1.0 / b.cohort_size, 6) AS retention
        FROM cell c JOIN base b ON b.cohort = c.cohort
    """,
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort-retention triangle: users grouped by first-activity
    day, each later active day binned by offset from that cohort —
    the (cohort, offset) matrix every growth dashboard draws
    (events_retention is its two-point D1/D7 summary). Two
    aggregations over the events scan (first-activity and distinct
    daily activity) meet in ONE equi-join on user_id; cells and
    cohort sizes are then |days x offsets| rows, so the ratio join is
    negligible. Long form (cohort, offset) rather than a pivoted
    triangle keeps the relation schema-stable as time grows — pivot
    at presentation, not storage. Integer counts make every retention
    ratio engine-exact."""
    ev = load(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).alias("cohort")
    )
    activity = ev.select(
        "user_id", F.date_trunc("day", "ts").alias("d")
    ).distinct()
    cell = (
        activity.join(first, "user_id")
        .groupBy(
            "cohort",
            F.datediff("d", "cohort").cast("long").alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    base = cell.where(F.col("day_offset") == 0).select(
        "cohort", F.col("n_active").alias("cohort_size")
    )
    return cell.join(base, "cohort").select(
        "cohort",
        "day_offset",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") * 1.0 / F.col("cohort_size"), 6).alias(
            "retention"
        ),
    )


@query(
    "events_time_weighted_avg",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        seq AS (
            SELECT event_type, date_trunc('day', ts) AS bucket, value,
                   CAST(date_diff('microsecond', ts,
                       LEAD(ts) OVER (
                           PARTITION BY event_type, date_trunc('day', ts)
                           ORDER BY ts, event_id)) AS BIGINT) AS dur_us
            FROM ev
        )
        SELECT event_type, bucket,
               COUNT(*) AS n_intervals,
               ROUND(SUM(value * dur_us) / SUM(dur_us), 4) AS twa
        FROM seq
        WHERE dur_us IS NOT NULL AND dur_us > 0
        GROUP BY 1, 2
    """,
)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME-weighted average over irregular samples — the hypertable
    ``time_weighted`` aggregate: each observation holds until the next
    one, so its weight is the µs until its successor (lead window,
    tie-broken on event_id), and the per-(type, day) average weights
    long-held values accordingly — a plain AVG over-counts bursts.
    Durations stay INTEGER microseconds (no /1e6 float step), so only
    the final weighted ratio needs the 4dp rounding tolerance. One
    window + one aggregation over the same (type, day) partitioning —
    a single shuffle; zero-length intervals (duplicate timestamps)
    carry no weight and drop from both sums identically."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy(
        "event_type", F.date_trunc("day", "ts")
    ).orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        F.date_trunc("day", "ts").alias("bucket"),
        "value",
        (
            F.unix_micros(F.lead("ts", 1).over(w).cast("timestamp"))
            - F.unix_micros(F.col("ts").cast("timestamp"))
        ).alias("dur_us"),
    )
    return (
        seq.where(F.col("dur_us").isNotNull() & (F.col("dur_us") > 0))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_intervals"),
            F.round(
                F.sum(F.col("value") * F.col("dur_us")) / F.sum("dur_us"), 4
            ).alias("twa"),
        )
    )


@query(
    "events_heartbeat_gaps",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        seq AS (
            SELECT event_type, ts,
                   LAG(ts) OVER (
                       PARTITION BY event_type
                       ORDER BY ts, event_id) AS prev_ts
            FROM ev
        )
        SELECT event_type,
               prev_ts AS gap_start, ts AS gap_end,
               CAST(date_diff('microsecond', prev_ts, ts) // 1000000
                    AS BIGINT) AS gap_seconds
        FROM seq
        WHERE prev_ts IS NOT NULL
          AND date_diff('microsecond', prev_ts, ts) // 1000000 >= 3600
    """,
)
def events_heartbeat_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence detection — the dead-man's-switch query of stream
    monitoring: per event type, every gap of >= 1 hour between
    consecutive events, with its endpoints and integer length
    (anomaly_zscore flags too-much volume; this flags too-little).
    One lag window per type ordered by (ts, event_id) — a single
    shuffle — and integer arithmetic end to end: both engines truncate
    the µs difference (DuckDB's date_diff('second') counts BOUNDARY
    crossings, which disagrees with truncated duration on sub-second
    fractions), so gap membership needs no float tolerance. At scale the same shape keys
    by (source, device): the window partitions by the monitored
    entity and the alert relation is tiny."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    sec = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    seq = ev.select(
        "event_type",
        "ts",
        F.lag("ts", 1).over(w).alias("prev_ts"),
    ).withColumn(
        "gap_seconds",
        ((sec("ts") - sec("prev_ts")) / F.lit(1_000_000)).cast("long"),
    )
    return seq.where(
        F.col("prev_ts").isNotNull() & (F.col("gap_seconds") >= 3600)
    ).select(
        "event_type",
        F.col("prev_ts").alias("gap_start"),
        F.col("ts").alias("gap_end"),
        "gap_seconds",
    )


@query(
    "events_markov_transitions",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        pairs AS (
            SELECT event_type AS from_type,
                   LEAD(event_type) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS to_type
            FROM ev
        ),
        cnt AS (
            SELECT from_type, to_type, COUNT(*) AS n_transitions
            FROM pairs WHERE to_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n_transitions,
               ROUND(n_transitions * 1.0 / SUM(n_transitions) OVER (
                   PARTITION BY from_type
               ), 6) AS p
        FROM cnt
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    streams — the session-model behind next-event prediction and
    anomalous-flow detection. LEAD over (user_id; ts, event_id)
    pairs each event with its successor; the (from, to) count then
    normalizes to a row-stochastic matrix.

    Scale: one shuffle on user_id for the LEAD (per-user state only),
    one map-side-combined count to |types|² rows, and the normalizing
    window runs over that tiny matrix relation — never over the
    events. The event_id tiebreak makes the successor deterministic
    under same-timestamp bursts on every engine."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = e.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).where(F.col("to_type").isNotNull())
    cnt = pairs.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    tot = W.partitionBy("from_type")
    return cnt.select(
        "from_type",
        "to_type",
        "n_transitions",
        F.round(
            F.col("n_transitions") / F.sum("n_transitions").over(tot), 6
        ).alias("p"),
    )


@query(
    "events_attribution_last_touch",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        tagged AS (
            SELECT event_id, user_id, event_type, ts, value,
                   MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_click_ts
            FROM ev
        )
        SELECT event_id AS purchase_id, user_id,
               ROUND(value, 2) AS purchase_value,
               CASE WHEN date_diff('microsecond', last_click_ts, ts)
                         <= 604800000000
                    THEN last_click_ts END AS attributed_click_ts,
               CASE WHEN date_diff('microsecond', last_click_ts, ts)
                         <= 604800000000
                    THEN date_diff('microsecond', last_click_ts, ts) END
                   AS lag_us
        FROM tagged WHERE event_type = 'purchase'
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: every purchase is credited
    to the user's most recent PRECEDING click within a 7-day lookback
    — the classic marketing-attribution join, expressed as a running
    MAX over a click-only CASE instead of a self-join (one shuffle on
    user_id, per-user state = one timestamp; a purchases×clicks
    range self-join would shuffle both relations and explode on
    heavy users). The frame excludes the current row so a same-
    timestamp click/purchase pair resolves by the deterministic
    event_id order. Lag is exact integer microseconds; purchases
    with no in-window click keep NULL attribution (they report as
    organic)."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    # unix_micros needs TIMESTAMP; the session is UTC-pinned, so the
    # NTZ→TZ cast is value-preserving and the difference is exact
    lag_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("last_click_ts").cast("timestamp")
    )
    in_window = lag_us <= 604800000000
    return (
        e.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.round("value", 2).alias("purchase_value"),
            F.when(in_window, F.col("last_click_ts")).alias(
                "attributed_click_ts"
            ),
            F.when(in_window, lag_us).alias("lag_us"),
        )
    )


@query(
    "events_user_features",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT user_id,
               COUNT(*) AS n_events,
               COUNT(DISTINCT event_type) AS n_types,
               MIN(ts) AS first_ts,
               MAX(ts) AS last_ts,
               date_diff('microsecond', MIN(ts), MAX(ts)) AS span_us,
               ROUND(SUM(value), 2) AS total_value,
               ROUND(SUM(CASE WHEN event_type = 'purchase'
                              THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
                   AS purchase_share
        FROM ev GROUP BY user_id
    """,
)
def events_user_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user feature-store build — the one-pass feature
    engineering scan behind churn/LTV models: activity counts, type
    diversity, recency bounds, exact integer-µs activity span, spend,
    and purchase propensity, all from ONE map-side-combined groupBy
    (COUNT DISTINCT adds the only expand). At 100 TB this is the
    nightly feature-refresh job; incremental maintenance composes
    with ``data_incremental_rollup``'s delta pattern for every
    feature here except n_types (distinct needs a per-user type set
    or an HLL sketch column — ``corpus_sketch_merge`` shape)."""
    e = load(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("event_type").alias("n_types"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        (F.max(us("ts")) - F.min(us("ts"))).alias("span_us"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("purchase_share"),
    )


@query(
    "events_ab_test_analysis",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        assigned AS (
            SELECT user_id,
                   CASE WHEN ('0x' || substr(md5(user_id::VARCHAR), 1, 8))
                             ::BIGINT % 2 = 0
                        THEN 'A' ELSE 'B' END AS arm,
                   MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       AS converted,
                   ROUND(SUM(CASE WHEN event_type = 'purchase'
                                  THEN value ELSE 0 END), 2) AS spend
            FROM ev GROUP BY user_id
        )
        SELECT arm,
               COUNT(*) AS n_users,
               CAST(SUM(converted) AS BIGINT) AS n_converted,
               ROUND(SUM(converted) * 1.0 / COUNT(*), 6) AS conversion,
               ROUND(SUM(spend), 2) AS total_spend
        FROM assigned GROUP BY arm
    """,
)
def events_ab_test_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment readout with DETERMINISTIC arm assignment — the
    md5 user-hash split every experimentation platform uses (stable
    across sessions, engines, and reruns; no assignment table to
    join). Per arm: exposed users, converters, conversion rate, and
    spend. Two map-side-combined aggregations (user rollup → arm
    rollup), both keyed on hash-uniform keys — no skew, no shuffle
    beyond the two groupBys, same plan at any scale. The z-statistic
    is left to the (driver-side) stats layer: it is a function of
    exactly these four numbers per arm, not of row-scale data."""
    e = load(spark, sf_dir, "events")
    arm = F.when(
        F.conv(
            F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 2
        == 0,
        "A",
    ).otherwise("B")
    assigned = e.groupBy("user_id").agg(
        F.first(arm).alias("arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
        F.round(
            F.sum(
                F.when(F.col("event_type") == "purchase", F.col("value"))
                .otherwise(0.0)
            ),
            2,
        ).alias("spend"),
    )
    return assigned.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_converted"),
        F.round(F.sum("converted") / F.count(F.lit(1)), 6).alias(
            "conversion"
        ),
        F.round(F.sum("spend"), 2).alias("total_spend"),
    )


@query(
    "events_rolling_wau",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        days AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS d, user_id
            FROM ev
        ),
        contrib AS (
            SELECT d + CAST(off AS INTEGER) AS day, user_id
            FROM days, UNNEST(range(0, 7)) AS t(off)
        ),
        dau AS (SELECT d AS day, COUNT(DISTINCT user_id) AS dau FROM days
                GROUP BY d)
        SELECT c.day, d.dau,
               COUNT(DISTINCT c.user_id) AS wau,
               ROUND(d.dau * 1.0 / COUNT(DISTINCT c.user_id), 6)
                   AS stickiness
        FROM contrib c JOIN dau d ON c.day = d.day
        GROUP BY c.day, d.dau
    """,
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users (WAU) + DAU/WAU stickiness per day
    — the growth dashboard's core metric. A DISTINCT over a RANGE
    window frame doesn't exist in any engine, so the standard
    distributed formulation applies: each (day, user) activity row
    CONTRIBUTES itself to the 7 trailing windows it belongs to (a
    bounded 7× fan-out of the already-deduplicated day-user relation,
    NOT of raw events), then one countDistinct per window day. Days
    with activity only in their trailing window (no same-day actives)
    are intentionally absent — the report is keyed on active days.

    Scale: raw events collapse to the (day, user) relation first
    (one distinct), the fan-out is a constant 7, and both distincts
    are hash-partitioned aggs. At 100 TB the day-user relation is
    what a sessionized activity table already materializes."""
    e = load(spark, sf_dir, "events")
    days = e.select(
        F.to_date(F.date_trunc("day", "ts")).alias("d"), "user_id"
    ).distinct()
    contrib = days.select(
        F.explode(
            F.sequence(F.lit(0), F.lit(6))
        ).alias("off"),
        "d",
        "user_id",
    ).select(F.date_add("d", F.col("off")).alias("day"), "user_id")
    dau = days.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").alias("dau")
    )
    return (
        contrib.join(dau, "day")
        .groupBy("day", "dau")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(
            "day",
            "dau",
            "wau",
            F.round(F.col("dau") / F.col("wau"), 6).alias("stickiness"),
        )
    )


@query(
    "events_path_topk",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        seq AS (
            SELECT user_id, event_type AS e1,
                   LEAD(event_type, 1) OVER w AS e2,
                   LEAD(event_type, 2) OVER w AS e3
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        paths AS (
            SELECT e1 || '>' || e2 || '>' || e3 AS path, COUNT(*) AS n
            FROM seq WHERE e3 IS NOT NULL
            GROUP BY 1
        )
        SELECT path, n, CAST(rn AS BIGINT) AS rank
        FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY n DESC, path) AS rn
              FROM paths)
        WHERE rn <= 5
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most common 3-step event paths — sequence mining for the
    'what do users actually do' readout behind funnel design. Two
    LEADs over one user-keyed sort (single Exchange) turn the stream
    into path triples; the path census is a map-side-combined count;
    the final top-5 is a TakeOrderedAndProject-sized selection over
    the |types|³ path relation (bounded by the type inventory cubed,
    never by events — the ROW_NUMBER runs on ≤125 rows)."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    ).where(F.col("e3").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).agg(F.count(F.lit(1)).alias("n"))
    wr = W.orderBy(F.col("n").desc(), "path")
    return (
        paths.withColumn("rank", F.row_number().over(wr))
        .where(F.col("rank") <= 5)
        .select("path", "n", F.col("rank").cast("bigint").alias("rank"))
    )


@query(
    "events_wow_change",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        m AS (
            SELECT event_type,
                   CAST(date_trunc('week', ts) AS DATE) AS week,
                   COUNT(*) AS n_events,
                   ROUND(SUM(value), 2) AS total_value
            FROM ev GROUP BY 1, 2
        )
        SELECT event_type, week, n_events, total_value,
               LAG(n_events) OVER w AS prev_n,
               ROUND((n_events - LAG(n_events) OVER w) * 1.0
                     / LAG(n_events) OVER w, 6) AS wow_change
        FROM m
        WINDOW w AS (PARTITION BY event_type ORDER BY week)
    """,
)
def events_wow_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week growth per event type — the BI staple: weekly
    rollup (map-side-combined), then LAG over the per-type weekly
    series. The window runs on the |types|×|weeks| aggregate (tiny,
    partitioned by type), never on events; the first week's change is
    NULL by definition. Both engines truncate weeks to ISO Monday.
    Exact-integer ratio, 6dp rounding."""
    e = load(spark, sf_dir, "events")
    m = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )
    w = W.partitionBy("event_type").orderBy("week")
    prev = F.lag("n_events").over(w)
    return m.select(
        "event_type",
        "week",
        "n_events",
        "total_value",
        prev.alias("prev_n"),
        F.round((F.col("n_events") - prev) / prev, 6).alias("wow_change"),
    )


@query(
    "events_hourly_seasonality",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        h AS (
            SELECT event_type, EXTRACT(hour FROM ts) AS hour,
                   COUNT(*) AS n
            FROM ev GROUP BY 1, 2
        ),
        tot AS (SELECT event_type, SUM(n) AS t, MAX(n) AS peak_n
                FROM h GROUP BY 1)
        SELECT h.event_type, CAST(h.hour AS INT) AS hour, h.n,
               ROUND(h.n * 1.0 / tot.t, 6) AS share,
               h.n = tot.peak_n AS is_peak
        FROM h JOIN tot USING (event_type)
    """,
)
def events_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality profile per event type — the diurnal
    fingerprint behind capacity planning, anomaly baselines (compare
    against the same hour, not the global mean), and bot detection
    (machine traffic is flat where human traffic breathes). One
    map-side-combined (type, hour) count — the profile relation is
    |types|×24 — with the per-type total and peak joined back. The
    peak flag marks every hour tying the max (deterministic without
    a tiebreak)."""
    e = load(spark, sf_dir, "events")
    h = e.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = h.groupBy("event_type").agg(
        F.sum("n").alias("t"), F.max("n").alias("peak_n")
    )
    return h.join(tot, "event_type").select(
        "event_type",
        "hour",
        "n",
        F.round(F.col("n") / F.col("t"), 6).alias("share"),
        (F.col("n") == F.col("peak_n")).alias("is_peak"),
    )


@query(
    "events_time_to_convert",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        tagged AS (
            SELECT event_id, event_type, ts,
                   MAX(CASE WHEN event_type = 'click' THEN ts END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS last_click_ts
            FROM ev
        ),
        lags AS (
            SELECT date_diff('microsecond', last_click_ts, ts) AS lag_us
            FROM tagged
            WHERE event_type = 'purchase'
              AND date_diff('microsecond', last_click_ts, ts)
                  <= 604800000000
        )
        SELECT COUNT(*) AS n_attributed,
               CAST(FLOOR(quantile_cont(lag_us, 0.5) + 0.5) AS BIGINT)
                   AS p50_us,
               CAST(FLOOR(quantile_cont(lag_us, 0.9) + 0.5) AS BIGINT)
                   AS p90_us,
               MAX(lag_us) AS max_us
        FROM lags
    """,
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution — the latency profile of the
    click→purchase funnel (how long the intent window really is,
    which decides the attribution lookback and remarketing timing).
    Reuses the last-touch running-MAX shape, then exact percentiles
    over the integer-µs lags; the interpolated quantile is pinned
    with floor-based half-up rounding to a whole microsecond so both
    engines agree regardless of interpolation ties. One user-keyed
    window plus one global aggregate over the (small) purchase-lag
    relation."""
    e = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    last_click = F.max(
        F.when(F.col("event_type") == "click", F.col("ts"))
    ).over(w)
    lag_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.col("last_click_ts").cast("timestamp")
    )
    lags = (
        e.withColumn("last_click_ts", last_click)
        .where(F.col("event_type") == "purchase")
        .select(lag_us.alias("lag_us"))
        .where(F.col("lag_us") <= 604800000000)
    )
    return lags.agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.floor(F.expr("percentile(lag_us, 0.5D)") + 0.5)
        .cast("bigint")
        .alias("p50_us"),
        F.floor(F.expr("percentile(lag_us, 0.9D)") + 0.5)
        .cast("bigint")
        .alias("p90_us"),
        F.max("lag_us").alias("max_us"),
    )


@query(
    "events_new_vs_returning",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        du AS (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day,
                   user_id
            FROM ev
        ),
        first_day AS (
            SELECT user_id, MIN(day) AS fd FROM du GROUP BY user_id
        )
        SELECT du.day,
               CAST(SUM(CASE WHEN du.day = f.fd THEN 1 ELSE 0 END)
                    AS BIGINT) AS new_users,
               CAST(SUM(CASE WHEN du.day > f.fd THEN 1 ELSE 0 END)
                    AS BIGINT) AS returning_users,
               ROUND(SUM(CASE WHEN du.day > f.fd THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS returning_share
        FROM du JOIN first_day f USING (user_id)
        GROUP BY du.day
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-vs-returning daily split — the growth dashboard's second
    staple next to WAU: each active (day, user) classifies against
    the user's first-ever active day. The first-day relation is one
    min-aggregate over the deduplicated day-user activity (the same
    compact relation rolling WAU consumes), joined back on the user
    key — no window over raw events, no per-day scans."""
    e = load(spark, sf_dir, "events")
    du = e.select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
    ).distinct()
    fd = du.groupBy("user_id").agg(F.min("day").alias("fd"))
    j = du.join(fd, "user_id")
    return j.groupBy("day").agg(
        F.sum(F.when(F.col("day") == F.col("fd"), 1).otherwise(0))
        .cast("bigint")
        .alias("new_users"),
        F.sum(F.when(F.col("day") > F.col("fd"), 1).otherwise(0))
        .cast("bigint")
        .alias("returning_users"),
        F.round(
            F.sum(F.when(F.col("day") > F.col("fd"), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("returning_share"),
    )


@query(
    "events_mix_drift",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        wt AS (
            SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                   event_type, COUNT(*) AS n
            FROM ev GROUP BY 1, 2
        ),
        tot AS (SELECT week, SUM(n) AS t FROM wt GROUP BY week),
        shares AS (
            SELECT wt.week, wt.event_type, wt.n * 1.0 / tot.t AS p
            FROM wt JOIN tot USING (week)
        ),
        lagged AS (
            SELECT week, event_type, p,
                   LAG(p) OVER (PARTITION BY event_type ORDER BY week)
                       AS prev_p
            FROM shares
        )
        SELECT week,
               ROUND(0.5 * SUM(ABS(p - prev_p)), 6) AS tv_distance,
               ROUND(0.5 * SUM(ABS(p - prev_p)), 6) > 0.05 AS drift_alert
        FROM lagged
        WHERE prev_p IS NOT NULL
        GROUP BY week
    """,
)
def events_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: the total-variation distance
    between consecutive weeks' event-type mixes — the input-drift
    alarm every production model and every ingest contract needs
    (TV > 0.05 here trips the alert). Shares divide exact counts, the
    LAG runs per type over the |types|×|weeks| relation, and the TV
    sum folds |types| terms per week — nothing is corpus-scaled
    after the first rollup. Swap event_type for any feature-bucket
    column and this is generic feature-drift monitoring."""
    e = load(spark, sf_dir, "events")
    wt = e.groupBy(
        F.to_date(F.date_trunc("week", "ts")).alias("week"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = wt.groupBy("week").agg(F.sum("n").alias("t"))
    shares = wt.join(tot, "week").select(
        "week", "event_type", (F.col("n") / F.col("t")).alias("p")
    )
    w = W.partitionBy("event_type").orderBy("week")
    lagged = shares.withColumn("prev_p", F.lag("p").over(w)).where(
        F.col("prev_p").isNotNull()
    )
    tv = F.round(0.5 * F.sum(F.abs(F.col("p") - F.col("prev_p"))), 6)
    return lagged.groupBy("week").agg(
        tv.alias("tv_distance"),
        (tv > 0.05).alias("drift_alert"),
    )


@query(
    "events_bounce_rate",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        lagd AS (
            SELECT user_id, event_id, ts,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w > INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS is_new_session
            FROM ev
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id, ts,
                   SUM(is_new_session) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS session_id
            FROM lagd
        ),
        per AS (
            SELECT user_id, session_id,
                   CAST(date_trunc('week', MIN(ts)) AS DATE) AS week,
                   COUNT(*) AS n_events
            FROM sess GROUP BY user_id, session_id
        )
        SELECT week,
               COUNT(*) AS n_sessions,
               CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_bounces,
               ROUND(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) * 1.0
                     / COUNT(*), 6) AS bounce_rate
        FROM per GROUP BY week
    """,
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly bounce rate — the share of sessions that end after ONE
    event, keyed to the week the session started. Reuses the
    oracle-verified lag→flag→cumsum sessionization (one user-keyed
    sort serves both windows), then two bounded rollups. The metric
    that, read against ``events_mix_drift`` and
    ``events_new_vs_returning``, separates acquisition problems from
    engagement problems."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "event_id",
        "ts",
        F.when(
            F.lag("ts").over(w).isNull()
            | (
                F.expr("timestampdiff(MICROSECOND, lag(ts) OVER "
                       "(PARTITION BY user_id ORDER BY ts, event_id), ts)")
                > 1800 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("is_new_session"),
    )
    sess = flagged.select(
        "user_id",
        "ts",
        F.sum("is_new_session")
        .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )
    per = sess.groupBy("user_id", "session_id").agg(
        F.to_date(F.date_trunc("week", F.min("ts"))).alias("week"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return per.groupBy("week").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        F.round(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("bounce_rate"),
    )


@query(
    "events_burstiness",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        gaps AS (
            SELECT user_id,
                   date_diff('microsecond',
                             LAG(ts) OVER (PARTITION BY user_id
                                           ORDER BY ts, event_id),
                             ts) // 1000000 AS gap_s
            FROM ev
        ),
        moments AS (
            SELECT user_id,
                   COUNT(gap_s) AS n_gaps,
                   SUM(gap_s) AS s1,
                   SUM(gap_s * gap_s) AS s2
            FROM gaps WHERE gap_s IS NOT NULL
            GROUP BY user_id
            HAVING COUNT(gap_s) >= 5
        )
        SELECT user_id, n_gaps,
               ROUND(s1 * 1.0 / n_gaps, 6) AS mean_gap_s,
               ROUND(sqrt(s2 * 1.0 / n_gaps
                          - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps)), 6)
                   AS sd_gap_s,
               ROUND((sqrt(s2 * 1.0 / n_gaps
                           - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps))
                      - s1 * 1.0 / n_gaps)
                     / (sqrt(s2 * 1.0 / n_gaps
                             - (s1 * 1.0 / n_gaps) * (s1 * 1.0 / n_gaps))
                        + s1 * 1.0 / n_gaps), 6) AS burstiness
        FROM moments
    """,
)
def events_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event burstiness per user — Goh & Barabási's B =
    (σ−μ)/(σ+μ) over inter-arrival gaps: B→−1 is metronomic
    (machine/bot traffic), B≈0 Poisson, B→+1 heavy-tailed human
    bursts. The behavioral-forensics complement to the flat-profile
    check in ``events_hourly_seasonality``.

    Float discipline — the interesting part: the built-in
    stddev over microsecond gaps diverges cross-engine (variance
    magnitudes near 1e18 have ~256-ulp spacing, so partial-sum order
    shifts the result by more than any rounding absorbs — observed
    directly before this formulation). Instead the gaps truncate to
    whole SECONDS (exact integer division) and σ derives EXPLICITLY
    from the exact integer moments Σg and Σg² — both engines compute
    sqrt(s2/n − (s1/n)²) over identical integers, so the only
    nondeterminism left is sqrt's final ulp under a 6dp round.
    Users under 5 gaps are excluded as unstable."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts").cast("timestamp")) - F.unix_micros(
        F.lag("ts").over(w).cast("timestamp")
    )
    # integer DIV, not float-divide-then-truncate: x/1e6 can land one
    # ulp below an exact integer quotient and truncate to n-1 where
    # the oracle's // gives n
    gaps = e.select(
        "user_id", gap_us.alias("gap_us")
    ).select(
        "user_id", F.expr("gap_us DIV 1000000").alias("gap_s")
    ).where(F.col("gap_s").isNotNull())
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            F.sum("gap_s").alias("s1"),
            F.sum(F.col("gap_s").cast("decimal(38,0)") * F.col("gap_s")).cast("bigint").alias("s2"),
        )
        .where(F.col("n_gaps") >= 5)
    )
    mean = F.col("s1") / F.col("n_gaps")
    sd = F.sqrt(F.col("s2") / F.col("n_gaps") - mean * mean)
    return m.select(
        "user_id",
        "n_gaps",
        F.round(mean, 6).alias("mean_gap_s"),
        F.round(sd, 6).alias("sd_gap_s"),
        F.round((sd - mean) / (sd + mean), 6).alias("burstiness"),
    )


@query(
    "events_seasonal_anomaly",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        cell AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   EXTRACT(hour FROM ts) AS hour,
                   COUNT(*) AS n
            FROM ev GROUP BY 1, 2, 3
        ),
        base AS (
            SELECT event_type, hour,
                   COUNT(*) AS n_days,
                   SUM(n) AS s1,
                   SUM(n * n) AS s2
            FROM cell GROUP BY event_type, hour
            HAVING COUNT(*) >= 5
        ),
        scored AS (
            SELECT c.event_type, c.day, CAST(c.hour AS INT) AS hour, c.n,
                   ROUND(b.s1 * 1.0 / b.n_days, 4) AS baseline,
                   ROUND((c.n - b.s1 * 1.0 / b.n_days)
                         / sqrt(b.s2 * 1.0 / b.n_days
                                - (b.s1 * 1.0 / b.n_days)
                                  * (b.s1 * 1.0 / b.n_days) + 1.0), 4)
                       AS z
            FROM cell c JOIN base b
              ON c.event_type = b.event_type AND c.hour = b.hour
        )
        SELECT event_type, day, hour, n, baseline, z
        FROM scored WHERE ABS(z) >= 2.0
    """,
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-ADJUSTED volume anomalies: each (type, day, hour)
    cell scores against the mean and spread of the SAME hour-of-day
    across all days — so the 9am spike that is normal for 9am stays
    quiet while a 3am surge of the same size alarms (the global
    z-score in ``events_anomaly_zscore`` cannot tell them apart).
    The +1 variance floor keeps perfectly-regular cells from
    dividing by zero and damps |z| on near-constant baselines.

    Moments are EXPLICIT integer sums (the ``events_burstiness``
    discipline — built-in stddev is summation-order-fragile), the
    baseline relation is |types|×24 rows, and scoring is one hash
    join back onto the day-grain cells; hours with under 5 observed
    days are excluded as unstable baselines."""
    e = load(spark, sf_dir, "events")
    cell = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.hour("ts").cast("int").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))
    base = (
        cell.groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.sum("n").alias("s1"),
            F.sum(F.col("n").cast("decimal(38,0)") * F.col("n")).cast("bigint").alias("s2"),
        )
        .where(F.col("n_days") >= 5)
    )
    mean = F.col("s1") / F.col("n_days")
    var = F.col("s2") / F.col("n_days") - mean * mean + 1.0
    scored = cell.join(base, ["event_type", "hour"]).select(
        "event_type",
        "day",
        "hour",
        "n",
        F.round(mean, 4).alias("baseline"),
        F.round((F.col("n") - mean) / F.sqrt(var), 4).alias("z"),
    )
    return scored.where(F.abs(F.col("z")) >= 2.0)


@query(
    "events_weekend_effect",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        tagged AS (
            SELECT event_type,
                   CAST(date_trunc('day', ts) AS DATE) AS day,
                   EXTRACT(isodow FROM ts) >= 6 AS is_weekend,
                   COUNT(*) AS n
            FROM ev GROUP BY 1, 2, 3
        ),
        rates AS (
            SELECT event_type, is_weekend,
                   SUM(n) AS total,
                   COUNT(DISTINCT day) AS n_days
            FROM tagged GROUP BY 1, 2
        )
        SELECT w.event_type,
               ROUND(w.total * 1.0 / w.n_days, 4) AS weekend_daily,
               ROUND(d.total * 1.0 / d.n_days, 4) AS weekday_daily,
               ROUND((w.total * 1.0 / w.n_days)
                     / (d.total * 1.0 / d.n_days), 6) AS weekend_ratio
        FROM rates w JOIN rates d
          ON w.event_type = d.event_type
         AND w.is_weekend AND NOT d.is_weekend
    """,
)
def events_weekend_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend effect per event type: average daily volume on ISO
    weekends over weekdays — the day-mix normalization (per-DAY
    rates, not raw totals: weekends have 2 days to the week's 5, so
    raw totals always 'prove' weekends are quiet). Ratios near 1 on
    machine-generated streams, pronounced on human ones — read with
    ``events_burstiness`` for traffic provenance. Exact integer
    counts and day tallies; one self-join on the 2×|types| rate
    relation."""
    e = load(spark, sf_dir, "events")
    tagged = e.groupBy(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        (F.dayofweek("ts").isin(1, 7)).alias("is_weekend"),
    ).agg(F.count(F.lit(1)).alias("n"))
    rates = tagged.groupBy("event_type", "is_weekend").agg(
        F.sum("n").alias("total"), F.countDistinct("day").alias("n_days")
    )
    wk = rates.where(F.col("is_weekend")).select(
        "event_type",
        (F.col("total") / F.col("n_days")).alias("wrate"),
    )
    wd = rates.where(~F.col("is_weekend")).select(
        F.col("event_type").alias("et2"),
        (F.col("total") / F.col("n_days")).alias("drate"),
    )
    return wk.join(wd, wk.event_type == wd.et2).select(
        "event_type",
        F.round("wrate", 4).alias("weekend_daily"),
        F.round("drate", 4).alias("weekday_daily"),
        F.round(F.col("wrate") / F.col("drate"), 6).alias("weekend_ratio"),
    )


@query(
    "events_type_affinity",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        ut AS (SELECT DISTINCT user_id, event_type FROM ev),
        n AS (SELECT COUNT(DISTINCT user_id) AS total FROM ev),
        per AS (SELECT event_type, COUNT(*) AS nu FROM ut GROUP BY 1),
        pair AS (
            SELECT a.event_type AS type_a, b.event_type AS type_b,
                   COUNT(*) AS n_both
            FROM ut a JOIN ut b
              ON a.user_id = b.user_id AND a.event_type < b.event_type
            GROUP BY 1, 2
        )
        SELECT p.type_a, p.type_b, p.n_both,
               ROUND(p.n_both * 1.0 * n.total / (pa.nu * pb.nu), 6)
                   AS lift
        FROM pair p
        JOIN per pa ON pa.event_type = p.type_a
        JOIN per pb ON pb.event_type = p.type_b
        CROSS JOIN n
    """,
)
def events_type_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-level behavior affinity: for every event-type pair, the
    lift between 'does A' and 'does B' across users — the audience-
    overlap matrix behind cross-sell targeting and feature bundling
    (the user-grain sibling of the within-basket
    ``basket_association_rules``). Lift >1 = co-occurring audiences,
    <1 = disjoint segments. The distinct (user, type) relation is
    the only shuffle; the pair self-join is keyed on user with at
    most |types| rows per user, and the lift math runs over the
    |types|² matrix with exact integer counts."""
    e = load(spark, sf_dir, "events")
    ut = e.select("user_id", "event_type").distinct().persist()
    n = ut.select("user_id").distinct().agg(
        F.count(F.lit(1)).alias("total")
    )
    per = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("nu"))
    a = ut.select("user_id", F.col("event_type").alias("type_a"))
    b = ut.select("user_id", F.col("event_type").alias("type_b"))
    pair = (
        a.join(b, "user_id")
        .where(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    pa = per.select(
        F.col("event_type").alias("type_a"), F.col("nu").alias("na")
    )
    pb = per.select(
        F.col("event_type").alias("type_b"), F.col("nu").alias("nb")
    )
    return (
        pair.join(pa, "type_a")
        .join(pb, "type_b")
        .crossJoin(F.broadcast(n))
        .select(
            "type_a",
            "type_b",
            "n_both",
            F.round(
                F.col("n_both") * F.col("total")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@query(
    "events_dwell_time",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        fw AS (
            SELECT event_type,
                   date_diff('microsecond', ts,
                             LEAD(ts) OVER (PARTITION BY user_id
                                            ORDER BY ts, event_id))
                       // 1000000 AS dwell_s
            FROM ev
        )
        SELECT event_type,
               COUNT(dwell_s) AS n_obs,
               CAST(SUM(dwell_s) AS BIGINT) AS total_dwell_s,
               ROUND(SUM(dwell_s) * 1.0 / COUNT(dwell_s), 4)
                   AS mean_dwell_s,
               CAST(FLOOR(quantile_cont(dwell_s, 0.5) + 0.5) AS BIGINT)
                   AS p50_dwell_s
        FROM fw WHERE dwell_s IS NOT NULL
        GROUP BY event_type
    """,
)
def events_dwell_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dwell time after each event type — the forward gap to the
    user's next action, the engagement-depth readout (long dwell
    after 'view' is reading; near-zero dwell after everything is a
    crawler). One user-keyed LEAD; gaps truncate to whole seconds by
    true integer DIV (the burstiness discipline); means divide exact
    sums and the median is floor-pinned."""
    e = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(
        F.lead("ts").over(w).cast("timestamp")
    ) - F.unix_micros(F.col("ts").cast("timestamp"))
    fw = e.select(
        "event_type", gap_us.alias("gap_us")
    ).select(
        "event_type", F.expr("gap_us DIV 1000000").alias("dwell_s")
    ).where(F.col("dwell_s").isNotNull())
    return fw.groupBy("event_type").agg(
        F.count("dwell_s").alias("n_obs"),
        F.sum("dwell_s").cast("bigint").alias("total_dwell_s"),
        F.round(F.sum("dwell_s") / F.count("dwell_s"), 4).alias(
            "mean_dwell_s"
        ),
        F.floor(F.expr("percentile(dwell_s, 0.5D)") + 0.5)
        .cast("bigint")
        .alias("p50_dwell_s"),
    )


@query(
    "data_sketch_time_rollup",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE})
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(DISTINCT CONCAT(CAST(date_trunc('hour', ts)
                        AS VARCHAR), ':', CAST(user_id AS VARCHAR)))
                    AS BIGINT) AS n_hour_slots,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_exact,
               TRUE AS within_5pct
        FROM ev GROUP BY 1
    """,
)
def data_sketch_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-hierarchy sketch rollup — the lakehouse pattern that makes
    daily/weekly distinct-user reporting O(partitions) instead of
    O(rows): build one HLL partial PER HOUR partition (as the
    ingest job would, persisted beside each partition's files), then
    answer the DAY-level distinct-user question by union-merging that
    day's 24 hour sketches — no rescan of the raw events. The audit
    joins the merged estimate against the exact per-day distinct
    count and asserts <5% error per day (``within_5pct`` is
    hash-verified — a merged-sketch drift turns the row red);
    ``n_hour_slots`` (distinct hour-user pairs, the sum of per-hour
    sketch cardinalities) shows the dedup work the merge does.

    Scale: partial sketches are per-partition aggregates with
    map-side combine (bytes per hour); the day merge touches
    24 sketches per day regardless of event volume — the same
    mergeability contract as ``corpus_sketch_merge``, here across the
    TIME hierarchy, which is how continuous aggregates stay
    incremental (hour partials also roll to week/month without ever
    re-reading events)."""
    ev = load(spark, sf_dir, "events").select(
        F.date_trunc("day", "ts").cast("date").alias("day"),
        F.date_trunc("hour", "ts").alias("hour"),
        "user_id",
    )
    # lgConfigK=16 as in corpus_sketch_merge: σ ≈ 0.41%, so the 5%
    # envelope is a ≥12σ bound instead of the default lgK=12's ~3σ
    # (the r11 sf1 sweep caught a 2.2σ draw on the corpus twin)
    partials = ev.groupBy("day", "hour").agg(
        F.hll_sketch_agg("user_id", 16).alias("sk"),
        F.countDistinct("user_id").alias("n_hour"),
    )
    day = partials.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.sum("n_hour").cast("bigint").alias("n_hour_slots"),
    )
    exact = ev.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_exact")
    )
    return day.join(exact, "day").select(
        "day",
        "n_hour_slots",
        "n_exact",
        (
            F.abs(F.col("est") - F.col("n_exact"))
            <= 0.05 * F.col("n_exact")
        ).alias("within_5pct"),
    )


@query(
    "events_attribution_multitouch",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        p AS (
            SELECT event_id AS purchase_id, user_id,
                   ts AS pts, value
            FROM ev WHERE event_type = 'purchase'
        ),
        c AS (
            SELECT event_id AS click_id, user_id, ts AS cts
            FROM ev WHERE event_type = 'click'
        ),
        j AS (
            SELECT p.purchase_id, p.user_id, p.value,
                   c.click_id, c.cts
            FROM p JOIN c ON c.user_id = p.user_id
            WHERE (c.cts < p.pts
                   OR (c.cts = p.pts AND c.click_id < p.purchase_id))
              AND date_diff('microsecond', c.cts, p.pts) <= 604800000000
        ),
        r AS (
            SELECT purchase_id, user_id, value, click_id,
                   ROW_NUMBER() OVER (
                       PARTITION BY purchase_id
                       ORDER BY cts, click_id
                   ) AS touch_rank,
                   COUNT(*) OVER (PARTITION BY purchase_id) AS n_touches
            FROM j
        )
        SELECT purchase_id, user_id, click_id,
               CAST(touch_rank AS BIGINT) AS touch_rank,
               CAST(n_touches AS BIGINT) AS n_touches,
               ROUND(CASE WHEN n_touches = 1 THEN CAST(1.0 AS DOUBLE)
                          WHEN n_touches = 2 THEN CAST(0.5 AS DOUBLE)
                          WHEN touch_rank = 1 THEN CAST(0.4 AS DOUBLE)
                          WHEN touch_rank = n_touches
                               THEN CAST(0.4 AS DOUBLE)
                          ELSE CAST(0.2 AS DOUBLE) / (n_touches - 2)
                          END * value, 6) AS credit
        FROM r
    """,
)
def events_attribution_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-SHAPED (position-based) multi-touch attribution — the
    fractional-credit counterpart of ``events_attribution_last_touch``:
    every click in the purchase's 7-day lookback earns a share of the
    purchase value — 40% to the first touch, 40% to the last, the
    middle 20% split evenly (degenerating to 100% / 50-50 for 1- and
    2-touch paths). Credit weights are exact rationals of the touch
    census, so both engines compute identical doubles before the one
    terminal ROUND.

    Shape: ONE user-keyed equi-join (purchases x clicks, the range
    predicate applied post-join) + one purchase-keyed window for
    (rank, count). The join's fan-out is bounded by the lookback
    window (clicks/user/7d), the same bound every production
    attribution job relies on; the strictly-before tie-break on
    (ts, event_id) keeps same-timestamp click/purchase pairs
    deterministic. At 100 TB both relations hash-partition on
    user_id, and the window shuffles once on purchase_id."""
    e = load(spark, sf_dir, "events")
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("pts"),
        "value",
    )
    c = e.where(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("cts"),
    )
    lag_us = F.unix_micros(F.col("pts").cast("timestamp")) - F.unix_micros(
        F.col("cts").cast("timestamp")
    )
    j = p.join(c, p.user_id == c.c_user_id).where(
        (
            (F.col("cts") < F.col("pts"))
            | (
                (F.col("cts") == F.col("pts"))
                & (F.col("click_id") < F.col("purchase_id"))
            )
        )
        & (lag_us <= 604800000000)
    )
    wr = W.partitionBy("purchase_id").orderBy("cts", "click_id")
    wc = W.partitionBy("purchase_id")
    r = j.select(
        "purchase_id",
        "user_id",
        "value",
        "click_id",
        F.row_number().over(wr).alias("touch_rank"),
        F.count(F.lit(1)).over(wc).alias("n_touches"),
    )
    weight = (
        F.when(F.col("n_touches") == 1, F.lit(1.0))
        .when(F.col("n_touches") == 2, F.lit(0.5))
        .when(F.col("touch_rank") == 1, F.lit(0.4))
        .when(F.col("touch_rank") == F.col("n_touches"), F.lit(0.4))
        .otherwise(F.lit(0.2) / (F.col("n_touches") - 2))
    )
    return r.select(
        "purchase_id",
        "user_id",
        "click_id",
        F.col("touch_rank").cast("bigint").alias("touch_rank"),
        F.col("n_touches").cast("bigint").alias("n_touches"),
        F.round(weight * F.col("value"), 6).alias("credit"),
    )


@query(
    "stats_winsorized_mean",
    oracle=f"""
        WITH ev AS ({EVENTS_ORACLE}),
        b AS (
            SELECT event_type,
                   FLOOR(quantile_cont(value, 0.05) * 1e6 + 0.5)
                       / 1e6 AS lo,
                   FLOOR(quantile_cont(value, 0.95) * 1e6 + 0.5)
                       / 1e6 AS hi
            FROM ev WHERE value IS NOT NULL
            GROUP BY 1
        ),
        w AS (
            SELECT e.event_type,
                   CASE WHEN e.value < b.lo THEN b.lo
                        WHEN e.value > b.hi THEN b.hi
                        ELSE e.value END AS wv,
                   CASE WHEN e.value < b.lo OR e.value > b.hi
                        THEN 1 ELSE 0 END AS clipped
            FROM ev e JOIN b USING (event_type)
            WHERE e.value IS NOT NULL
        )
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(clipped) AS BIGINT) AS n_clipped,
               ROUND(AVG(wv), 6) AS winsorized_mean,
               ROUND(MIN(wv), 6) AS floor_value,
               ROUND(MAX(wv), 6) AS cap_value
        FROM w
        GROUP BY event_type
    """,
)
def stats_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WINSORIZED mean per event type — the robust-aggregation answer
    to heavy-tailed metric columns (a handful of outliers dominating
    a plain AVG): clip every value into the [p5, p95] band computed
    from the data itself, then average. Reported beside the clip
    census (how many values hit the band) and the realized band — the
    robust-location triplet next to the median/MAD z-score
    (``events_anomaly_mad``) and Theil-Sen slope families.

    Shape: one exact-percentile aggregate per type (|types| x 2
    bounds — bounded model state, broadcast back), then one clipped
    scan + aggregate; at 100 TB swap ``percentile`` for the
    ``percentile_approx`` sketch and the plan is one pass. The mean
    is ROUNDed once at the end (aggregate-of-doubles tolerance, the
    repo's float discipline); the bounds are interpolated percentiles
    (Spark ``percentile`` ≡ DuckDB ``quantile_cont`` in exact
    arithmetic) pinned at 6dp floor-half-up on both engines — see the
    inline note for the 1-ulp interpolation-formula hazard the r11
    sf1 sweep caught."""
    ev = load(spark, sf_dir, "events").where(F.col("value").isNotNull())
    # The bounds are pinned at 6dp with floor-based half-up on BOTH
    # engines (the repo's per-row float idiom). Exact-arithmetic
    # percentile interpolation is engine-equal, but the FORMULA isn't:
    # Spark evaluates a + h·(b−a), DuckDB (1−h)·a + h·b — identical
    # reals, 1 ulp apart in doubles when a = b (a duplicated-value
    # mass at the percentile). The r11 sf1 sweep caught it: lo = 2.52
    # exactly (Spark) vs 2.52+1ulp (DuckDB), and 50 rows sitting
    # exactly at 2.52 flipped the strict `<` clip census while the
    # mean stayed equal (clipping a boundary-equal value is a no-op).
    # 2dp inputs make every interpolated bound a ≤4dp decimal, so the
    # 6dp floor sits ≥ 50 µunits from any half-case — deterministic
    # on both engines. 1e6 (not 1000000.0) because DuckDB parses a
    # decimal literal as DECIMAL and would carry the bound in
    # DECIMAL arithmetic (the float-literal gotcha); 1e6 is DOUBLE
    # on both engines.
    b = ev.groupBy("event_type").agg(
        F.expr(
            "floor(percentile(value, 0.05) * 1e6 + 0.5) / 1e6"
        ).alias("lo"),
        F.expr(
            "floor(percentile(value, 0.95) * 1e6 + 0.5) / 1e6"
        ).alias("hi"),
    )
    w = ev.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.when(F.col("value") < F.col("lo"), F.col("lo"))
        .when(F.col("value") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("value"))
        .alias("wv"),
        (
            (F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi"))
        )
        .cast("int")
        .alias("clipped"),
    )
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("clipped").cast("bigint").alias("n_clipped"),
        F.round(F.avg("wv"), 6).alias("winsorized_mean"),
        F.round(F.min("wv"), 6).alias("floor_value"),
        F.round(F.max("wv"), 6).alias("cap_value"),
    )
