"""Temporal join operators over ``events`` (north-star extension).

Spark has no native AS-OF join (DuckDB/Pandas/kdb do). The scalable
construction used here is the **union + running-last trick**: tag the
probe ("left") and reference ("right") streams, union them, and take a
per-key running ``last(right_payload, ignorenulls)`` over event time.
One shuffle (the window partition), no range-condition join — the
naive alternative (theta-join on ``b.ts <= a.ts`` + argmax) plans a
per-key cross product, which is quadratic in the hot keys and
unrunnable at 100 TB.

Ordering detail: rows sort by (ts, side) with the reference side
first, so a reference row at exactly the probe's timestamp IS matched
— the inclusive ``<=`` semantics of DuckDB's ``ASOF JOIN ... ON
b.ts <= a.ts``, which is also the oracle here.

The reference repo has no joins at all (single-input pipeline,
SURVEY.md §2.2) — this is extension surface with exact oracle parity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window as W

from mapreduce_wordcounter_spark.functions.portable import md5h, sql_md5h
from mapreduce_wordcounter_spark.registry import query
from mapreduce_wordcounter_spark.session import ensure_utc
from mapreduce_wordcounter_spark.tables import load_table

_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_DUCK_TS_FMT = "%Y-%m-%d %H:%M:%S.%f"


def _asof_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(click event, ts of the user's most recent purchase at-or-before
    it) — NULL when no prior purchase exists (left as-of)."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(1).alias("is_probe"),
        "event_id",
        F.lit(None).cast("timestamp").alias("ref_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(0).alias("is_probe"),
        F.lit(None).cast("long").alias("event_id"),
        F.col("ts").alias("ref_ts"),
    )
    # Reference rows sort before probe rows at equal ts → inclusive <=.
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "is_probe")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        clicks.unionByName(purchases)
        .withColumn("last_purchase_ts", F.last("ref_ts", ignorenulls=True).over(w))
        .filter(F.col("is_probe") == 1)
        .select("event_id", "user_id", "ts", "last_purchase_ts")
    )


@query(
    "join_asof_last_purchase",
    oracle=f"""
    SELECT a.event_id,
           a.user_id,
           strftime(a.ts, '{_DUCK_TS_FMT}') AS click_ts,
           strftime(b.ts, '{_DUCK_TS_FMT}') AS last_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND b.ts <= a.ts
    """,
)
def join_asof_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join: each click matched to the same user's most recent
    purchase at or before it. Oracle is DuckDB's native ASOF JOIN; the
    Spark plan is the union + running-last construction (module
    docstring) — semantically identical, shuffle-optimal."""
    out = _asof_click_purchase(spark, sf_dir)
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("click_ts"),
        F.date_format("last_purchase_ts", _TS_FMT).alias("last_purchase_ts"),
    )


@query(
    "join_asof_tolerance_1h",
    oracle=f"""
    SELECT a.event_id,
           a.user_id,
           strftime(a.ts, '{_DUCK_TS_FMT}') AS click_ts,
           CASE WHEN a.ts - b.ts <= INTERVAL '1 hour'
                THEN strftime(b.ts, '{_DUCK_TS_FMT}') END AS recent_purchase_ts
    FROM (SELECT * FROM events WHERE event_type = 'click') a
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') b
      ON a.user_id = b.user_id AND b.ts <= a.ts
    """,
)
def join_asof_tolerance_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join with tolerance (pandas merge_asof's ``tolerance=``):
    the match only counts if the purchase happened within the hour
    before the click — staleness masking as a post-projection, zero
    extra plan cost."""
    out = _asof_click_purchase(spark, sf_dir)
    within = F.col("last_purchase_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", _TS_FMT).alias("click_ts"),
        F.when(within, F.date_format("last_purchase_ts", _TS_FMT)).alias(
            "recent_purchase_ts"
        ),
    )


@query(
    "ev_resample_ffill",
    oracle="""
    WITH hourly AS (
        SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
               arg_max(value, epoch_us(ts)) AS v
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT user_id,
               time_bucket(INTERVAL '1 hour', MIN(ts)) AS h0,
               time_bucket(INTERVAL '1 hour', MAX(ts)) AS h1
        FROM events GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
        FROM bounds)
    SELECT g.user_id,
           strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           last_value(hv.v IGNORE NULLS)
               OVER (PARTITION BY g.user_id ORDER BY g.h) AS value_ffill
    FROM grid g
    LEFT JOIN hourly hv ON g.user_id = hv.user_id AND g.h = hv.h
    """,
)
def ev_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling: snap each user's events onto a dense
    hourly grid (their first hour → last hour) and forward-fill gaps
    with the most recent observed value — the gap-filling primitive
    under downsampling, feature snapshots, and point-in-time training
    frames.

    Scale posture: the grid materializes via sequence()+explode on the
    per-user bounds row — rows ∝ users x hours, generated distributed,
    never on the driver. Everything shuffles once on user_id (the agg,
    the join, and the ffill window all share it). The last-in-hour
    pick is max_by over unix_micros so ties are impossible at µs
    resolution (verified: no (user, ts) duplicates in the corpus); the
    ffill is last(ignorenulls) over the event-time order — the same
    running-last trick as the AS-OF join above."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.expr("max_by(value, unix_micros(ts))").alias("v"))
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(
            F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))
        ).alias("h"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        grid.join(hourly, ["user_id", "h"], "left")
        .select(
            "user_id",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            F.last("v", ignorenulls=True).over(w).alias("value_ffill"),
        )
    )


@query(
    "ev_interpolate_linear",
    oracle="""
    WITH hourly AS (
        SELECT user_id, time_bucket(INTERVAL '1 hour', ts) AS h,
               arg_max(value, epoch_us(ts)) AS v
        FROM events GROUP BY 1, 2),
    bounds AS (
        SELECT user_id,
               time_bucket(INTERVAL '1 hour', MIN(ts)) AS h0,
               time_bucket(INTERVAL '1 hour', MAX(ts)) AS h1
        FROM events GROUP BY 1),
    grid AS (
        SELECT user_id, unnest(generate_series(h0, h1, INTERVAL '1 hour')) AS h
        FROM bounds),
    joined AS (
        SELECT g.user_id, g.h, hv.v,
               last_value(hv.v IGNORE NULLS)
                   OVER (PARTITION BY g.user_id ORDER BY g.h) AS v_prev,
               last_value(CASE WHEN hv.v IS NOT NULL THEN g.h END IGNORE NULLS)
                   OVER (PARTITION BY g.user_id ORDER BY g.h) AS h_prev,
               first_value(hv.v IGNORE NULLS)
                   OVER (PARTITION BY g.user_id ORDER BY g.h
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v_next,
               first_value(CASE WHEN hv.v IS NOT NULL THEN g.h END IGNORE NULLS)
                   OVER (PARTITION BY g.user_id ORDER BY g.h
                         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS h_next
        FROM grid g
        LEFT JOIN hourly hv ON g.user_id = hv.user_id AND g.h = hv.h)
    SELECT user_id,
           strftime(h, '%Y-%m-%d %H:%M:%S') AS hour_ts,
           CAST(FLOOR((CASE WHEN h_next = h_prev THEN v_prev
                      ELSE v_prev + (v_next - v_prev)
                           * (CAST(epoch_us(h) - epoch_us(h_prev) AS DOUBLE)
                              / CAST(epoch_us(h_next) - epoch_us(h_prev) AS DOUBLE))
                 END) * 1000000.0 + 0.5) AS BIGINT) / 1000000.0 AS value_interp
    FROM joined
    """,
)
def ev_interpolate_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill by LINEAR interpolation on the same dense hourly grid as
    ev_resample_ffill: missing hours take the value lerped between the
    nearest observed hours on either side (exact at observed hours —
    h_prev = h_next there). The other standard resampling mode for
    time-series features; bounds are always observed, so prev/next
    exist everywhere on the grid.

    Same scale posture as the ffill twin: one shuffle on user_id shared
    by the agg, the join and BOTH direction windows (forward/backward
    scan over each user's grid, no extra exchange). The lerp is a pure
    per-row IEEE expression over integers and two observed doubles —
    identical in both engines; ROUND(6) guards the division's last ulp.
    """
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "user_id", F.date_trunc("hour", "ts").alias("h")
    ).agg(F.expr("max_by(value, unix_micros(ts))").alias("v"))
    bounds = e.groupBy("user_id").agg(
        F.date_trunc("hour", F.min("ts")).alias("h0"),
        F.date_trunc("hour", F.max("ts")).alias("h1"),
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("h"),
    )
    wback = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wfwd = (
        W.partitionBy("user_id")
        .orderBy("h")
        .rowsBetween(W.currentRow, W.unboundedFollowing)
    )
    j = grid.join(hourly, ["user_id", "h"], "left").select(
        "user_id",
        "h",
        F.last("v", ignorenulls=True).over(wback).alias("v_prev"),
        F.last(F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True)
        .over(wback)
        .alias("h_prev"),
        F.first("v", ignorenulls=True).over(wfwd).alias("v_next"),
        F.first(F.when(F.col("v").isNotNull(), F.col("h")), ignorenulls=True)
        .over(wfwd)
        .alias("h_next"),
    )
    frac = (
        (F.expr("unix_micros(h)") - F.expr("unix_micros(h_prev)")).cast("double")
        / (F.expr("unix_micros(h_next)") - F.expr("unix_micros(h_prev)")).cast(
            "double"
        )
    )
    interp = F.when(F.col("h_next") == F.col("h_prev"), F.col("v_prev")).otherwise(
        F.col("v_prev") + (F.col("v_next") - F.col("v_prev")) * frac
    )
    return j.select(
        "user_id",
        F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
        # floor-quantize instead of round(): the two engines disagree on
        # binary-exact .5 halfway cases (8/105k rows at sf0.01), while
        # floor(x*1e6 + 0.5) is IEEE-identical everywhere.
        (F.floor(interp * 1_000_000 + F.lit(0.5)).cast("long") / 1_000_000).alias(
            "value_interp"
        ),
    )


@query(
    "ev_ohlc_hourly",
    oracle="""
    SELECT user_id,
           strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_ts,
           arg_min(value, epoch_us(ts)) AS open,
           MAX(value) AS high,
           MIN(value) AS low,
           arg_max(value, epoch_us(ts)) AS close,
           COUNT(*) AS n_events
    FROM events
    GROUP BY 1, 2
    """,
)
def ev_ohlc_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling (the financial/telemetry candlestick
    aggregate): per user-hour, the first (open), max (high), min (low)
    and last (close) observed value. open/close are min_by/max_by over
    µs-exact event time — no window needed, so the whole bar is ONE
    map-side-combined aggregate per (user, hour); at 100 TB this is the
    canonical downsampling pass before dashboards/feature stores, and
    it shuffles only the 4-value bar per key. Raw values pass through
    untouched (no float arithmetic), so parity is exact without
    quantization. Event times are unique per user at µs resolution
    (corpus invariant pinned by the as-of joins), making min_by/max_by
    deterministic."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            "user_id", F.date_trunc("hour", "ts").alias("h")
        )
        .agg(
            F.expr("min_by(value, unix_micros(ts))").alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.expr("max_by(value, unix_micros(ts))").alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            "user_id",
            F.date_format("h", "yyyy-MM-dd HH:mm:ss").alias("hour_ts"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


@query(
    "ev_session_stats",
    # Composes the sessionization CTE (same construction as the
    # ev_session_windows oracle) into a session-size histogram.
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                         >= INTERVAL '10 minutes'
                         -- >= : Spark's session_window merges only strictly-inside-gap events,
                         --      so an exact-boundary event STARTS a new session in both engines
                    OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events),
    sess AS (
        SELECT user_id, ts,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM gaps),
    sizes AS (
        SELECT user_id, session_id, COUNT(*) AS n_events,
               CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) // 1000000
                   AS duration_s
        FROM sess GROUP BY user_id, session_id)
    SELECT n_events,
           COUNT(*) AS n_sessions,
           CAST(MIN(duration_s) AS BIGINT) AS min_duration_s,
           CAST(MAX(duration_s) AS BIGINT) AS max_duration_s
    FROM sizes
    GROUP BY n_events
    """,
)
def ev_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-size distribution: how many sessions have k events, with
    the duration range per size — the engagement histogram product
    analytics derives from sessionization. Built on Spark's native
    session_window (the oracle re-derives sessions with the lag/cumsum
    construction); the histogram is a second tiny aggregate over the
    session relation, so corpus-sized work is the one sessionization
    shuffle."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    sess = e.groupBy(
        "user_id", F.session_window("ts", "10 minutes").alias("w")
    ).agg(
        F.count("*").alias("n_events"),
        (
            (F.expr("unix_micros(max(ts))") - F.expr("unix_micros(min(ts))"))
            / F.lit(1_000_000)
        ).cast("long").alias("duration_s"),
    )
    return sess.groupBy("n_events").agg(
        F.count("*").alias("n_sessions"),
        F.min("duration_s").alias("min_duration_s"),
        F.max("duration_s").alias("max_duration_s"),
    )


# ---------------------------------------------------------------------------
# Slowly-changing dimension (type 2) and funnel analysis
# ---------------------------------------------------------------------------


@query(
    "ev_scd2_user_state",
    oracle=f"""
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    changes AS (
        SELECT user_id, event_type AS state, ts
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type),
    intervals AS (
        SELECT user_id, state, ts,
               LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts) AS next_ts
        FROM changes)
    SELECT user_id, state,
           strftime(ts, '{_DUCK_TS_FMT}') AS valid_from,
           strftime(next_ts, '{_DUCK_TS_FMT}') AS valid_to,
           (next_ts IS NULL) AS is_current
    FROM intervals
    """,
)
def ev_scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing dimension build: each user's event_type
    treated as a mutating state — consecutive-equal runs collapse to
    one row with [valid_from, valid_to) validity and an is_current
    flag on the open interval. The warehouse-standard history table,
    derived in two windows (LAG to find change points, LEAD to close
    intervals) over one shuffle on user_id; change rows are ≪ events,
    so the second window is nearly free. At 100 TB this is the
    "rebuild the dimension from the event log" batch shape; the
    foreachBatch upsert sink (stream_foreach_batch_upsert) is its
    incremental twin."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    w_ord = W.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        F.lag("event_type").over(w_ord).alias("prev_type"),
    )
    changes = ordered.filter(
        F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type"))
    ).select("user_id", F.col("event_type").alias("state"), "ts")
    w_iv = W.partitionBy("user_id").orderBy("ts")
    intervals = changes.withColumn("next_ts", F.lead("ts").over(w_iv))
    return intervals.select(
        "user_id",
        "state",
        F.date_format("ts", _TS_FMT).alias("valid_from"),
        F.date_format("next_ts", _TS_FMT).alias("valid_to"),
        F.col("next_ts").isNull().alias("is_current"),
    )


@query(
    "ev_funnel_conversion",
    oracle="""
    WITH v AS (SELECT user_id, MIN(ts) AS t1 FROM events
               WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN v ON e.user_id = v.user_id
          WHERE e.event_type = 'click' AND e.ts > v.t1
          GROUP BY e.user_id),
    p AS (SELECT e.user_id, MIN(e.ts) AS t3
          FROM events e JOIN c ON e.user_id = c.user_id
          WHERE e.event_type = 'purchase' AND e.ts > c.t2
          GROUP BY e.user_id)
    SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS users_total,
           (SELECT COUNT(*) FROM v) AS users_view,
           (SELECT COUNT(*) FROM c) AS users_click_after_view,
           (SELECT COUNT(*) FROM p) AS users_purchase_after_click,
           ROUND(CAST((SELECT COUNT(*) FROM c) AS DOUBLE)
                 / (SELECT COUNT(*) FROM v), 6) AS rate_view_to_click,
           ROUND(CAST((SELECT COUNT(*) FROM p) AS DOUBLE)
                 / (SELECT COUNT(*) FROM c), 6) AS rate_click_to_purchase
    """,
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase, strictly increasing
    timestamps): per-user first-view, first-click-after-view,
    first-purchase-after-click, rolled up to one conversion row. The
    product-analytics staple. Three user_id-keyed aggregates whose
    joins all reuse the same hash partitioning (AQE coalesces the
    exchanges); the final counts are scalar aggregates over
    user-cardinality relations. Rates divide two exact BIGINTs —
    engine-identical."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )
    totals = e.agg(F.count_distinct("user_id").alias("users_total"))
    nv = v.agg(F.count("*").alias("users_view"))
    nc = c.agg(F.count("*").alias("users_click_after_view"))
    np_ = p.agg(F.count("*").alias("users_purchase_after_click"))
    return (
        totals.join(F.broadcast(nv))
        .join(F.broadcast(nc))
        .join(F.broadcast(np_))
        .select(
            "users_total",
            "users_view",
            "users_click_after_view",
            "users_purchase_after_click",
            F.round(
                F.col("users_click_after_view").cast("double")
                / F.col("users_view"),
                6,
            ).alias("rate_view_to_click"),
            F.round(
                F.col("users_purchase_after_click").cast("double")
                / F.col("users_click_after_view"),
                6,
            ).alias("rate_click_to_purchase"),
        )
    )


@query(
    "ev_retention_cohorts",
    oracle="""
    WITH first_d AS (
        SELECT user_id, date_trunc('day', MIN(ts)) AS cohort_day
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT e.user_id, date_trunc('day', e.ts) AS active_day
        FROM events e)
    SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
           CAST(datediff('day', f.cohort_day, a.active_day)
                AS BIGINT) AS day_offset,
           COUNT(DISTINCT a.user_id) AS active_users
    FROM first_d f
    JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_day, datediff('day', f.cohort_day, a.active_day)
    """,
)
def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity day,
    counted as active at each day offset — the canonical product-
    analytics table (day grain because this corpus spans one month;
    the month-grain variant is the same query with 'month' truncation).
    Two user_id-keyed aggregates (first day, distinct active days)
    joined on user_id — the join reuses the aggregation partitioning —
    then a (cohort, offset) rollup whose output is days² rows.
    day_offset via calendar day diff, identical on both engines."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    first_d = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    activity = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("active_day")
    ).distinct()
    return (
        first_d.join(activity, "user_id")
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            F.datediff(F.col("active_day"), F.col("cohort_day"))
            .cast("long")
            .alias("day_offset"),
            "user_id",
        )
        .groupBy("cohort", "day_offset")
        .agg(F.count_distinct("user_id").alias("active_users"))
    )


@query(
    "ev_value_outliers",
    oracle="""
    WITH q AS (
        SELECT event_type, value,
               CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT) AS vq
        FROM events),
    st AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(vq) AS BIGINT) AS s,
               CAST(SUM(vq * vq) AS BIGINT) AS ss
        FROM q GROUP BY event_type)
    SELECT q.event_type, st.n,
           ROUND(CAST(st.s AS DOUBLE) / st.n / 1000.0, 6) AS mean_v,
           ROUND(sqrt(CAST(st.ss AS DOUBLE) / st.n
                      - (CAST(st.s AS DOUBLE) / st.n)
                        * (CAST(st.s AS DOUBLE) / st.n)) / 1000.0, 6)
               AS std_v,
           CAST(SUM(CASE WHEN abs((CAST(q.vq AS DOUBLE)
                                   - CAST(st.s AS DOUBLE) / st.n)
                             / sqrt(CAST(st.ss AS DOUBLE) / st.n
                                    - (CAST(st.s AS DOUBLE) / st.n)
                                      * (CAST(st.s AS DOUBLE) / st.n))) > 3.0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM q JOIN st ON q.event_type = st.event_type
    GROUP BY q.event_type, st.n, st.s, st.ss
    """,
)
def ev_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type z-score outlier count (|z| > 3) with mean/std —
    the monitoring staple. Moments come from exact milli-quantized
    integer sums (population variance via E[x²]−E[x]²); every
    subsequent double op (casts, divisions, sqrt) is correctly-rounded
    IEEE and written in the SAME order on both engines, so the z
    comparison never diverges. One stats aggregate broadcast back onto
    the stream (5 rows), one rollup."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    q = e.select(
        "event_type",
        F.floor(F.col("value") * 1000.0 + F.lit(0.5)).cast("long").alias("vq"),
    )
    st = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("vq").alias("s"),
        F.sum(F.col("vq") * F.col("vq")).alias("ss"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    var = F.col("ss").cast("double") / F.col("n") - mean * mean
    z = (F.col("vq").cast("double") - mean) / F.sqrt(var)
    return (
        q.join(F.broadcast(st), "event_type")
        .groupBy("event_type", "n", "s", "ss")
        .agg(
            F.sum(F.when(F.abs(z) > 3.0, 1).otherwise(0))
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            "n",
            F.round(mean / 1000.0, 6).alias("mean_v"),
            F.round(F.sqrt(var) / 1000.0, 6).alias("std_v"),
            "n_outliers",
        )
    )


@query(
    "ev_value_histogram",
    oracle="""
    WITH mm AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events),
    counts AS (
        SELECT LEAST(CAST(FLOOR((e.value - mm.lo)
                                / ((mm.hi - mm.lo) / 20.0)) AS BIGINT),
                     19) AS bin,
               COUNT(*) AS n
        FROM events e, mm
        GROUP BY 1),
    spine AS (
        SELECT CAST(unnest(generate_series(0, 19)) AS BIGINT) AS bin)
    SELECT s.bin,
           ROUND(mm.lo + s.bin * ((mm.hi - mm.lo) / 20.0), 6) AS bin_lo,
           CAST(COALESCE(c.n, 0) AS BIGINT) AS n
    FROM spine s
    CROSS JOIN mm
    LEFT JOIN counts c ON s.bin = c.bin
    """,
)
def ev_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram of events.value, EMPTY BINS
    INCLUDED (counts left-join a generated bin spine — a histogram
    that silently drops empty bins misreads as a different
    distribution). Bin edges come from the global MIN/MAX scalar
    (1-row broadcast, whitelisted bounded BNLJ); per-row assignment is
    pure IEEE arithmetic written identically on both engines (MIN/MAX
    are selected values, not accumulations, so no quantization is
    needed). The top edge folds into the last bin via LEAST(..., 19)."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    mm = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    width = (F.col("hi") - F.col("lo")) / 20.0
    bin_ = F.least(
        F.floor((F.col("value") - F.col("lo")) / width).cast("long"), F.lit(19)
    )
    counts = (
        e.join(F.broadcast(mm))
        .select(bin_.alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
    )
    spine = spark.range(20).select(F.col("id").alias("bin"))
    return (
        spine.join(F.broadcast(mm))
        .join(counts, "bin", "left")
        .select(
            "bin",
            F.round(F.col("lo") + F.col("bin") * width, 6).alias("bin_lo"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n"),
        )
    )


@query(
    "ev_type_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               LAG(event_type) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS prev_type
        FROM events),
    c AS (
        SELECT prev_type, event_type AS next_type,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM seq WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type)
    SELECT prev_type, next_type, n,
           ROUND(CAST(n AS DOUBLE)
                 / SUM(n) OVER (PARTITION BY prev_type), 6) AS p
    FROM c
    """,
)
def ev_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event
    sequence: for each (prev_type → next_type) pair, the observation
    count and the row-normalized transition probability — the sequence
    model behind session-replay anomaly detection and next-event
    prediction baselines. Ordering is (ts, event_id) so timestamp ties
    can't make the sequence engine-dependent; p is an exact int/int
    double division rounded once (both engines perform the identical
    IEEE ops on identical integers).

    Scale: one lag window shuffled on user_id (the natural stream
    partitioning — co-located with every other per-user pass), then a
    5×5-cardinality groupBy and a window over that tiny relation."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    seq = e.select(
        "event_type",
        F.lag("event_type")
        .over(W.partitionBy("user_id").orderBy("ts", "event_id"))
        .alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    c = (
        seq.groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )
    tot = W.partitionBy("prev_type")
    return c.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n").cast("double") / F.sum("n").over(tot), 6).alias("p"),
    )


@query(
    "ev_rolling_stats",
    oracle="""
    SELECT event_id, user_id,
           CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                    OVER w AS DOUBLE) / 1000000.0 AS roll_sum,
           MAX(value) OVER w AS roll_max,
           CAST(COUNT(*) OVER w AS BIGINT) AS roll_n
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
    """,
)
def ev_rolling_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling statistics over the last 5 events (rows-frame):
    sum, max, count — the feature-engineering window behind
    rate-limiting and anomaly features. The rolling SUM goes through
    the micro-quantized int64 path (functions/numeric.py): a raw
    double window-sum is accumulation-shape-dependent (DuckDB's
    segment tree vs Spark's running frame) and would diverge in the
    last ulp; the quantized sum is exact under any evaluation order.

    Scale: one window shuffle on user_id — the stream's natural key,
    co-located with every other per-user pass."""
    from pyspark.sql import Window as W

    from mapreduce_wordcounter_spark.functions.numeric import quantize

    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        (F.sum(quantize(F.col("value"))).over(w).cast("double") / 1_000_000)
        .alias("roll_sum"),
        F.max("value").over(w).alias("roll_max"),
        F.count("*").over(w).cast("long").alias("roll_n"),
    )


@query(
    "ev_anomaly_mad",
    oracle="""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events GROUP BY event_type),
    mad AS (
        SELECT e.event_type,
               quantile_cont(ABS(e.value - m.med), 0.5) AS mad
        FROM events e JOIN med m ON e.event_type = m.event_type
        GROUP BY e.event_type),
    -- Quantize value/median/MAD to int64 micro-units BEFORE the
    -- 3xMAD predicate and the ratio (the ev_rolling_zscore posture):
    -- quantile_cont vs Spark percentile() agree only to the last ulp
    -- of the interpolation, and an unquantized boundary comparison
    -- could flip a borderline row at some SF.
    q AS (
        SELECT e.event_id, e.event_type, e.value,
               CAST(floor(e.value * 1000000 + 0.5) AS BIGINT) AS vq,
               CAST(floor(m.med * 1000000 + 0.5) AS BIGINT) AS mq,
               CAST(floor(d.mad * 1000000 + 0.5) AS BIGINT) AS dq
        FROM events e
        JOIN med m ON e.event_type = m.event_type
        JOIN mad d ON e.event_type = d.event_type)
    SELECT event_id, event_type, value,
           ROUND(CAST(ABS(vq - mq) AS DOUBLE) / dq, 6) AS dev_ratio
    FROM q
    WHERE ABS(vq - mq) > 3 * dq
    """,
)
def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection: events whose value deviates from
    their type's MEDIAN by more than 3 median-absolute-deviations —
    the estimator that, unlike the z-score twin (ev_value_outliers),
    doesn't let the outliers inflate their own threshold. Both
    medians are exact interpolated percentiles (the agg_median
    pairing: quantile_cont ≡ Spark percentile); value, median and MAD
    are all quantized to int64 micro-units before the 3×MAD boundary
    predicate and the reported ratio (the ev_rolling_zscore posture),
    so a last-ulp interpolation difference between the engines can
    never flip a borderline row.

    Scale: two grouped exact percentiles over (type)-keyed aggregates
    with the 5-row results broadcast back — at 100 TB swap exact
    percentile for percentile_approx (t-digest) exactly as
    agg_p90_approx documents; the plan shape is unchanged."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    with_med = e.join(F.broadcast(med), "event_type")
    mad = (
        with_med.groupBy("event_type")
        .agg(F.expr("percentile(abs(value - med), 0.5)").alias("mad"))
    )

    def micro(c):
        return F.floor(c * 1_000_000 + F.lit(0.5)).cast("long")

    q = with_med.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        "value",
        micro(F.col("value")).alias("vq"),
        micro(F.col("med")).alias("mq"),
        micro(F.col("mad")).alias("dq"),
    )
    return q.filter(
        F.abs(F.col("vq") - F.col("mq")) > 3 * F.col("dq")
    ).select(
        "event_id",
        "event_type",
        "value",
        F.round(
            F.abs(F.col("vq") - F.col("mq")).cast("double") / F.col("dq"), 6
        ).alias("dev_ratio"),
    )


@query(
    "ev_top_paths",
    oracle="""
    WITH paths AS (
        SELECT user_id, date_trunc('hour', ts) AS h,
               string_agg(event_type, '>' ORDER BY ts, event_id) AS path
        FROM events GROUP BY user_id, date_trunc('hour', ts))
    SELECT path, CAST(COUNT(*) AS BIGINT) AS n_journeys
    FROM paths GROUP BY path
    ORDER BY n_journeys DESC, path
    LIMIT 20
    """,
)
def ev_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Journey mining: the 20 most common per-user-hour event-type
    paths ('click>click>purchase'), ordered by (ts, event_id) so the
    concatenation is deterministic — the sequence-pattern primitive
    behind funnel discovery (ev_funnel_conversion checks ONE known
    path; this surfaces the paths worth checking).

    Scale: one window shuffle on (user, hour) — the journey grain —
    with the path built by an ordered in-partition collect; group
    sizes are bounded by per-user-hour activity, so no collect grows
    with the corpus. Top-k is a TakeOrdered over the path-count
    aggregate."""
    from pyspark.sql import Window as W

    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id", "h")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    paths = (
        e.withColumn("h", F.date_trunc("hour", "ts"))
        .withColumn(
            "path", F.array_join(F.collect_list("event_type").over(w), ">")
        )
        .withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("user_id", "h").orderBy("ts", "event_id")
            ),
        )
        .filter(F.col("rn") == 1)
        .select("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count("*").alias("n_journeys"))
        .orderBy(F.desc("n_journeys"), F.asc("path"))
        .limit(20)
    )


@query(
    "ev_gap_stats",
    oracle="""
    WITH gaps AS (
        SELECT event_type,
               epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id)) AS gap_us
        FROM events)
    SELECT event_type,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           ROUND(quantile_cont(gap_us, 0.5) / 1000000.0, 6) AS p50_gap_s,
           ROUND(quantile_cont(gap_us, 0.9) / 1000000.0, 6) AS p90_gap_s,
           ROUND(CAST(MAX(gap_us) AS DOUBLE) / 1000000.0, 6) AS max_gap_s
    FROM gaps WHERE gap_us IS NOT NULL
    GROUP BY event_type
    """,
)
def ev_gap_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event gap distribution per (user, type) stream, rolled up
    by type: median/p90/max gap in seconds — the stream-health
    diagnostic that sizes session timeouts and watermark delays from
    DATA instead of folklore (a watermark below the p90 arrival gap
    drops real events; a session gap below the p50 shreds sessions).
    Gaps are computed in integer microseconds (lag of epoch_us), so
    the percentile inputs are exact integers on both engines.

    Scale: one lag window on the (user, type) stream key, then a
    |types|-cardinality exact percentile — at 100 TB swap for
    percentile_approx, plan unchanged (agg_p90_approx posture)."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        (
            F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w))
        ).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count("gap_us").alias("n_gaps"),
        F.round(F.expr("percentile(gap_us, 0.5)") / 1_000_000, 6).alias(
            "p50_gap_s"
        ),
        F.round(F.expr("percentile(gap_us, 0.9)") / 1_000_000, 6).alias(
            "p90_gap_s"
        ),
        F.round(F.max("gap_us").cast("double") / 1_000_000, 6).alias(
            "max_gap_s"
        ),
    )


@query(
    "ev_rolling_zscore",
    oracle="""
    WITH q AS (
        SELECT event_id, user_id,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v,
               CAST(FLOOR(value * value * 1000000.0 + 0.5) AS BIGINT) AS v2
        FROM events),
    w AS (
        SELECT event_id, user_id,
               CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT) AS v,
               SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT)) OVER win
                   AS s1,
               SUM(CAST(FLOOR(value * value * 1000000.0 + 0.5) AS BIGINT))
                   OVER win AS s2,
               COUNT(*) OVER win AS n
        FROM events
        WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 4 PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id,
           ROUND((CAST(v AS DOUBLE) / 1000000.0
                  - CAST(s1 AS DOUBLE) / 1000000.0 / n)
                 / sqrt(CAST(s2 AS DOUBLE) / 1000000.0 / n
                        - (CAST(s1 AS DOUBLE) / 1000000.0 / n)
                          * (CAST(s1 AS DOUBLE) / 1000000.0 / n)), 6)
               AS zscore
    FROM w
    WHERE n >= 2
      AND CAST(s2 AS DOUBLE) / 1000000.0 / n
          - (CAST(s1 AS DOUBLE) / 1000000.0 / n)
            * (CAST(s1 AS DOUBLE) / 1000000.0 / n) > 0
    """,
)
def ev_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score over the last 5 events per user — the online
    anomaly feature (is THIS value unusual for THIS user lately?).
    Rolling mean and variance come from micro-quantized Σx and Σx²
    int64 window sums (order-exact); the downstream mean/variance/
    sqrt arithmetic is identical correctly-rounded IEEE on both
    engines, so parity is exact. Degenerate windows (n<2 or zero
    variance) are excluded by the same integer-derived predicate on
    both sides.

    Scale: one window shuffle on user_id, two int64 running sums —
    the ev_rolling_stats plan with one more accumulator."""
    from pyspark.sql import Window as W

    from mapreduce_wordcounter_spark.functions.numeric import quantize

    e = load_table(spark, sf_dir, "events")
    win = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, W.currentRow)
    )
    v = quantize(F.col("value"))
    v2 = quantize(F.col("value") * F.col("value"))
    w = e.select(
        "event_id",
        "user_id",
        v.alias("v"),
        F.sum(v).over(win).alias("s1"),
        F.sum(v2).over(win).alias("s2"),
        F.count("*").over(win).alias("n"),
    )
    mean = F.col("s1").cast("double") / 1_000_000 / F.col("n")
    var = F.col("s2").cast("double") / 1_000_000 / F.col("n") - mean * mean
    return (
        w.filter((F.col("n") >= 2) & (var > 0))
        .select(
            "event_id",
            "user_id",
            F.round(
                (F.col("v").cast("double") / 1_000_000 - mean) / F.sqrt(var),
                6,
            ).alias("zscore"),
        )
    )


@query(
    "ev_first_touch",
    oracle="""
    WITH f AS (
        SELECT user_id,
               arg_min(event_type,
                       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') || '-'
                       || lpad(CAST(event_id AS VARCHAR), 12, '0'))
                   AS first_type
        FROM events GROUP BY user_id),
    conv AS (
        SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
    SELECT f.first_type,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                      AS DOUBLE) / COUNT(*), 6) AS conv_rate
    FROM f LEFT JOIN conv c ON f.user_id = c.user_id
    GROUP BY f.first_type
    """,
)
def ev_first_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each user's earliest event type
    ((ts, event_id)-deterministic argmin) crossed with whether they
    ever purchased — the marketing-analytics rollup that assigns
    conversions to acquisition channels.

    Scale: one min_by aggregate per user + a distinct-purchasers
    semi-relation joined at user grain — both user-cardinality; the
    event stream is read once each."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    # Composite chronological key as a lexicographic string: DuckDB's
    # arg_min has no struct-key overload, and zero-padded
    # "timestamp-event_id" sorts identically on both engines.
    f = e.groupBy("user_id").agg(
        F.expr(
            "min_by(event_type, concat(date_format(ts,"
            " 'yyyy-MM-dd HH:mm:ss.SSSSSS'), '-',"
            " lpad(cast(event_id as string), 12, '0')))"
        ).alias("first_type")
    )
    conv = (
        e.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1))
    )
    joined = f.join(conv, "user_id", "left")
    return joined.groupBy("first_type").agg(
        F.count("*").alias("n_users"),
        F.sum(F.coalesce(F.col("converted"), F.lit(0))).alias("n_converted"),
        F.round(
            F.sum(F.coalesce(F.col("converted"), F.lit(0))).cast("double")
            / F.count("*"),
            6,
        ).alias("conv_rate"),
    )


@query(
    "ev_seasonality_dow_hour",
    oracle="""
    WITH c AS (
        SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
               CAST(hour(ts) AS BIGINT) AS hr,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY dayofweek(ts), hour(ts)),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
    SELECT c.dow, c.hr, c.n,
           ROUND(CAST(c.n AS DOUBLE) / t.total, 6) AS share
    FROM c CROSS JOIN t
    """,
)
def ev_seasonality_dow_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Traffic seasonality grid: event share by (day-of-week, hour) —
    the load-shape fingerprint behind capacity planning and
    anomaly-baseline models. DuckDB's dayofweek is 0=Sunday while
    Spark's dayofweek is 1=Sunday, so Spark subtracts 1 to pin the
    same numbering.

    Scale: one map-combined calendar groupBy to a ≤168-row grid."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    c = e.groupBy(
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("hr"),
    ).agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    return c.join(F.broadcast(t)).select(
        "dow",
        "hr",
        "n",
        F.round(F.col("n").cast("double") / F.col("total"), 6).alias("share"),
    )


@query(
    "ev_autocorr_lag1",
    oracle="""
    WITH q AS (
        SELECT event_type,
               CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT) AS v,
               LAG(CAST(FLOOR(value * 1000.0 + 0.5) AS BIGINT)) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id) AS pv
        FROM events),
    s AS (
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS sx,
               CAST(SUM(pv) AS BIGINT) AS sy,
               CAST(SUM(v * pv) AS BIGINT) AS sxy,
               CAST(SUM(v * v) AS BIGINT) AS sxx,
               CAST(SUM(pv * pv) AS BIGINT) AS syy
        FROM q WHERE pv IS NOT NULL
        GROUP BY event_type)
    SELECT event_type, n,
           ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy
                           - CAST(sy AS DOUBLE) * sy)), 6) AS autocorr
    FROM s
    """,
)
def ev_autocorr_lag1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-1 autocorrelation of event values per type (within each
    user's stream): Pearson r of (vₜ, vₜ₋₁) — near zero for
    independent draws, high for sticky metrics; the one-number test of
    whether "previous value" belongs in a feature set. Values are
    milli-quantized to int64 BEFORE the moment sums (the metric is
    defined over quantized values), so every sum is exact and the
    closing formula is identical IEEE arithmetic — exact parity, no
    margin caveat (the degree-assortativity construction on a
    continuous column).

    Scale: one lag window on the (user, type) stream key, one
    map-combined moment aggregate per type."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
    w = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    q = e.select(
        "event_type", v.alias("v"), F.lag(v).over(w).alias("pv")
    ).filter(F.col("pv").isNotNull())
    s = q.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("v").alias("sx"),
        F.sum("pv").alias("sy"),
        F.sum(F.col("v") * F.col("pv")).alias("sxy"),
        F.sum(F.col("v") * F.col("v")).alias("sxx"),
        F.sum(F.col("pv") * F.col("pv")).alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(
        F.col("n").cast("double") * F.col("syy")
        - F.col("sy").cast("double") * F.col("sy")
    )
    return s.select("event_type", "n", F.round(num / den, 6).alias("autocorr"))


# Benford expected first-digit shares, log10(1 + 1/d), as LITERALS so
# neither engine evaluates a transcendental (9 published constants).
_BENFORD = {
    1: 0.301030, 2: 0.176091, 3: 0.124939, 4: 0.096910, 5: 0.079181,
    6: 0.066947, 7: 0.057992, 8: 0.051153, 9: 0.045757,
}


@query(
    "ev_benford_deviation",
    oracle=f"""
    WITH digits AS (
        SELECT CAST(substring(CAST(CAST(FLOOR(value) AS BIGINT) AS VARCHAR),
                              1, 1) AS BIGINT) AS d
        FROM events WHERE value >= 1),
    c AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS n FROM digits GROUP BY d),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c),
    exp AS (
        SELECT d, CAST(benford_share AS DOUBLE) AS benford_share
        FROM (VALUES {", ".join(f"({d}, {p})" for d, p in _BENFORD.items())})
            AS e(d, benford_share))
    SELECT e.d AS digit, COALESCE(c.n, 0) AS n,
           ROUND(CAST(COALESCE(c.n, 0) AS DOUBLE) / t.total, 6) AS share,
           e.benford_share,
           ROUND(ABS(CAST(COALESCE(c.n, 0) AS DOUBLE) / t.total
                     - e.benford_share), 6) AS abs_dev
    FROM exp e LEFT JOIN c ON e.d = c.d CROSS JOIN t
    """,
)
def ev_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of the value column: observed first-digit
    shares against the published log10(1+1/d) expectations (hardcoded
    9 constants — no engine evaluates a transcendental), with absolute
    deviations. Fabricated or unit-mixed numeric columns drift from
    Benford; the synthetic uniform-ish values here deviate strongly —
    which is itself the correct reading, and the machinery is what's
    verified.

    Scale: per-row digit projection + a 9-bucket groupBy; the
    expectation table is a 9-row literal."""
    e = load_table(spark, sf_dir, "events")
    digits = e.filter(F.col("value") >= 1).select(
        F.substring(
            F.floor(F.col("value")).cast("long").cast("string"), 1, 1
        )
        .cast("long")
        .alias("d")
    )
    c = digits.groupBy("d").agg(F.count("*").alias("n"))
    t = c.agg(F.sum("n").alias("total"))
    exp = spark.createDataFrame(
        [(d, p) for d, p in _BENFORD.items()], "d long, benford_share double"
    )
    share = F.coalesce(F.col("n"), F.lit(0)).cast("double") / F.col("total")
    return (
        exp.join(c, "d", "left")
        .join(F.broadcast(t))
        .select(
            F.col("d").alias("digit"),
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            F.round(share, 6).alias("share"),
            "benford_share",
            F.round(F.abs(share - F.col("benford_share")), 6).alias("abs_dev"),
        )
    )


# -- distributed bootstrap ---------------------------------------------------

_BOOT_R = 32  # bootstrap replicates
# Poisson(1) inverse-CDF thresholds on a uniform draw in [0, 1e6):
# cumulative probabilities x 1e6, capped at w = 5 (P(w > 5) < 0.06%).
_BOOT_CDF = (367879, 735759, 919699, 981012, 996340)


def _boot_w(h: str) -> str:
    """CASE mapping the uniform micro-draw ``h % 1000000`` of the
    portable hash ``h`` to a Poisson(1) weight (the branches compile in
    both Spark SQL and DuckDB)."""
    branches = " ".join(
        f"WHEN ({h} % 1000000) < {t} THEN {w}" for w, t in enumerate(_BOOT_CDF)
    )
    return f"CASE {branches} ELSE 5 END"


@query(
    "ev_bootstrap_ci_mean",
    oracle=f"""
    WITH rep AS (
        SELECT e.event_id,
               CAST(FLOOR(e.value * 1000000.0 + 0.5) AS BIGINT) AS vm,
               r
        FROM events e CROSS JOIN (
            SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r) rs),
    w AS (SELECT r, vm,
                 {_boot_w(sql_md5h("CAST(event_id AS VARCHAR) || ':' || CAST(r AS VARCHAR)"))}
                 AS w FROM rep),
    means AS (
        SELECT r,
               ROUND(CAST(SUM(w * vm) AS DOUBLE) / SUM(w) / 1000000.0, 6)
                   AS m
        FROM w GROUP BY r HAVING SUM(w) > 0),
    ranked AS (
        SELECT m, ROW_NUMBER() OVER (ORDER BY m, r) AS rn,
               COUNT(*) OVER () AS k
        FROM means),
    pt AS (
        SELECT ROUND(CAST(SUM(CAST(FLOOR(value * 1000000.0 + 0.5) AS BIGINT))
                          AS DOUBLE) / COUNT(*) / 1000000.0, 6) AS mean
        FROM events)
    SELECT CAST(k AS BIGINT) AS n_replicates, pt.mean,
           MIN(CASE WHEN rn = 2 THEN m END) AS ci_lo,
           MIN(CASE WHEN rn = k - 1 THEN m END) AS ci_hi
    FROM ranked CROSS JOIN pt
    GROUP BY k, pt.mean
    """,
)
def ev_bootstrap_ci_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Poisson bootstrap for the mean event value: each of
    {_BOOT_R} replicates reweights every row with an independent
    Poisson(1) draw (the resampling scheme that needs NO global row
    count or per-replicate shuffle — the standard bootstrap for
    map-reduce settings, cf. the bag-of-little-bootstraps line), the
    replicate means are ranked, and the interval is read from the 2nd
    smallest / 2nd largest of the 32 (a ~93.75% CI by order
    statistics; the convention is pinned, not hidden). DETERMINISTIC:
    the Poisson draw is an inverse-CDF lookup on the portable md5 hash
    of (event_id, replicate) — no RNG state, bit-identical on both
    engines — and every mean is an exact-int64 ratio, so even the CI
    bounds hash-match the oracle.

    Scale: the replicate fan-out is a constant ×{_BOOT_R} map-side
    explode (no join); one groupBy over (replicate) with map-side
    combine; the order statistics run over a {_BOOT_R}-row relation
    (bounded global window). At 100 TB this is the only way to put
    error bars on a corpus statistic without 32 full passes."""
    ensure_utc(spark)
    e = load_table(spark, sf_dir, "events")
    # The x32 replicate fan-out evaluates one md5 micro-draw per
    # (event, replicate) INSIDE the scan stage — spread the scan so
    # the hash work uses the whole cluster, not the file's split
    # count (3.6 s -> 0.85 s at sf0.1; no-op at scale, see
    # tables.spread_narrow_scan).
    from mapreduce_wordcounter_spark.tables import spread_narrow_scan

    rep = spread_narrow_scan(
        spark,
        e.select("event_id", "value"),
        sf_dir,
        "events",
        key="event_id",
        rows_per_task=2048,
    ).select(
        "event_id",
        F.floor(F.col("value") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("vm"),
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r"),
    ).withColumn(
        "w",
        F.expr(_boot_w(md5h("concat(cast(event_id as string), ':', cast(r as string))"))),
    )
    means = (
        rep.groupBy("r")
        .agg(F.sum(F.col("w") * F.col("vm")).alias("s"), F.sum("w").alias("n"))
        .filter(F.col("n") > 0)
        .select(
            "r",
            F.round(
                F.col("s").cast("double") / F.col("n") / 1_000_000.0, 6
            ).alias("m"),
        )
    )
    ranked = means.select(
        "m",
        F.row_number().over(W.orderBy("m", "r")).alias("rn"),
        F.count("*").over(W.partitionBy()).alias("k"),
    )
    pt = e.agg(
        F.round(
            F.sum(F.floor(F.col("value") * 1_000_000 + F.lit(0.5)).cast("long"))
            .cast("double")
            / F.count("*")
            / 1_000_000.0,
            6,
        ).alias("mean")
    )
    return (
        ranked.crossJoin(F.broadcast(pt))
        .groupBy(F.col("k").cast("bigint").alias("n_replicates"), "mean")
        .agg(
            F.min(F.when(F.col("rn") == 2, F.col("m"))).alias("ci_lo"),
            F.min(F.when(F.col("rn") == F.col("k") - 1, F.col("m"))).alias(
                "ci_hi"
            ),
        )
        .select("n_replicates", "mean", "ci_lo", "ci_hi")
    )
