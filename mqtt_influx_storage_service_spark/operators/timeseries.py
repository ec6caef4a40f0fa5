"""Tier B — the time-series query surface implied by the reference's
stored model (SURVEY.md §2 Tier B).

The reference writes a narrow layout (series per (device, transducer),
``influx_service.py:183-189``) and a wide layout (field per transducer,
``influx_service.py:191-197``) at ns precision precisely so InfluxQL-style
queries work downstream. The driver's ``events`` table stands in for that
point stream (``user_id`` = device, ``event_type`` = transducer,
``value`` = coerced payload, ``ts`` = arrival time).

Determinism policy for the DuckDB oracle hash-check: never emit a raw
floating ``avg``/``sum`` whose accumulation order differs between
engines. Money-ish values here carry 2 decimals, so ``round(sum(x), 2)``
recovers the exact decimal sum regardless of order; averages are then
``round(sum,2)/count`` (deterministic IEEE division), not ``avg()``.

Scale notes (100 TB): every query here groups/joins on
(user_id|event_type|time-bucket) — at scale the points table is
partitioned by date and bucketed by device, so the time filters prune
partitions and the per-series aggregations are map-side-partial before
one shuffle. No Python touches the hot path: everything is built-in
pyspark.sql.functions inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources import load_table

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _avg2(sum_col: F.Column, cnt_col: F.Column) -> F.Column:
    """Order-insensitive average of 2-decimal values: round the sum to
    cents (exact), then divide — bit-identical in Spark and DuckDB."""
    return F.round(F.round(sum_col, 2) / cnt_col, 6)


_AVG2_SQL = "round(round(sum({v}), 2) / count(*), 6)"


# --------------------------------------------------------------------------
# B1 — time-range scan of one series (narrow layout, influx_service.py:183-189)
# --------------------------------------------------------------------------

def ts_series_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SELECT of one (device, transducer) series in a time range.

    Mirrors an InfluxQL ``SELECT value FROM <device>_<transducer> WHERE
    time > .. AND time < ..`` over the narrow layout. The filter is a
    pure predicate-pushdown scan — at 100 TB this prunes to the date
    partitions in range and rowgroups for the series key.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.filter(
            (F.col("user_id") == 7)
            & (F.col("event_type") == "click")
            & (F.col("ts") >= F.lit("2024-01-05 00:00:00").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20 00:00:00").cast("timestamp"))
        )
        .select(
            "event_id",
            F.concat_ws("_", F.col("user_id"), F.col("event_type")).alias("series_id"),
            "ts",
            "value",
        )
    )


TS_SERIES_SCAN_SQL = """
SELECT event_id,
       user_id || '_' || event_type AS series_id,
       ts,
       value
FROM events
WHERE user_id = 7
  AND event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
"""


# --------------------------------------------------------------------------
# B2 — wide ("organized") layout scan: one row per device, field per
# transducer (influx_service.py:191-197) as a derived pivot view.
# --------------------------------------------------------------------------

def ts_device_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device daily wide view: one column per transducer.

    The reference writes this layout physically on every point; in Spark
    it is a derived pivot over the canonical narrow table (same data, no
    second copy). Explicit pivot values keep the schema static (required
    for streaming parity and for plan stability at scale).
    """
    ev = load_table(spark, sf_dir, "events")
    agg = (
        ev.filter(F.col("user_id") < 5)
        .groupBy(F.col("user_id"), F.date_trunc("day", F.col("ts")).alias("day"))
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.round(F.sum("value"), 2) / F.count(F.lit(1)), 6))
    )
    cols = [F.col("user_id"), F.col("day")] + [
        F.col(t).alias(f"avg_{t}") for t in EVENT_TYPES
    ]
    return agg.select(*cols)


TS_DEVICE_WIDE_SQL = """
SELECT user_id,
       date_trunc('day', ts) AS day,
       round(round(sum(value) FILTER (WHERE event_type = 'click'), 2)
             / count(*) FILTER (WHERE event_type = 'click'), 6) AS avg_click,
       round(round(sum(value) FILTER (WHERE event_type = 'error'), 2)
             / count(*) FILTER (WHERE event_type = 'error'), 6) AS avg_error,
       round(round(sum(value) FILTER (WHERE event_type = 'purchase'), 2)
             / count(*) FILTER (WHERE event_type = 'purchase'), 6) AS avg_purchase,
       round(round(sum(value) FILTER (WHERE event_type = 'signup'), 2)
             / count(*) FILTER (WHERE event_type = 'signup'), 6) AS avg_signup,
       round(round(sum(value) FILTER (WHERE event_type = 'view'), 2)
             / count(*) FILTER (WHERE event_type = 'view'), 6) AS avg_view
FROM events
WHERE user_id < 5
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# B3 — FLAGSHIP: time-bucketed aggregation (GROUP BY time(10m) analog;
# stats semantics of influx_service.py:310-322)
# --------------------------------------------------------------------------

def ts_bucket_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling window per event_type: count/sum/avg/min/max +
    exact distinct devices.

    This is the reference's own telemetry shape (10-min point counts +
    device counts, influx_service.py:310-322) generalized to the full
    InfluxQL ``GROUP BY time(10m), <tag>`` surface. Map-side partial
    aggregation + one shuffle on (window, event_type); at 100 TB the
    window key is derived from the partition column so partial aggs
    stay partition-local.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            _avg2(F.sum("value"), F.count(F.lit(1))).alias("avg_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            F.col("w.start").alias("bucket_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
            "min_value",
            "max_value",
            "n_users",
        )
    )


TS_BUCKET_AGG_SQL = f"""
SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket_start,
       event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       {_AVG2_SQL.format(v='value')} AS avg_value,
       min(value) AS min_value,
       max(value) AS max_value,
       count(DISTINCT user_id) AS n_users
FROM events
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# B4 — last value per series (InfluxQL LAST() analog)
# --------------------------------------------------------------------------

def ts_last_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest point per (device, transducer) series.

    Window row_number with a deterministic (ts, event_id) tie-break; at
    scale Catalyst turns rank-1 filters into a partial top-1 per
    partition before the shuffle (WindowGroupLimit), so this does NOT
    sort whole series.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("last_ts"),
            F.col("value").alias("last_value"),
        )
    )


TS_LAST_VALUE_SQL = """
SELECT user_id, event_type, last_ts, last_value
FROM (
    SELECT user_id, event_type, ts AS last_ts, value AS last_value,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events
) WHERE rn = 1
"""


# --------------------------------------------------------------------------
# B5 — cross-series join on time (field-vs-field comparison)
# --------------------------------------------------------------------------

def ts_cross_series_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily click-activity vs purchase-activity per device, joined on
    the shared (device, day) key — the wide layout's raison d'être.

    Both sides aggregate before the join, so the join input is tiny
    relative to the scan; the two aggregations share the same shuffle
    key family ((user_id, day)) so AQE can plan a cheap join.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", day)
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.round(F.sum("value"), 2).alias("click_sum"),
        )
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", day)
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum("value"), 2).alias("purchase_sum"),
        )
    )
    return clicks.join(purchases, ["user_id", "day"], "inner").select(
        "user_id", "day", "n_clicks", "click_sum", "n_purchases", "purchase_sum"
    )


TS_CROSS_SERIES_JOIN_SQL = """
WITH clicks AS (
    SELECT user_id, date_trunc('day', ts) AS day,
           count(*) AS n_clicks, round(sum(value), 2) AS click_sum
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
), purchases AS (
    SELECT user_id, date_trunc('day', ts) AS day,
           count(*) AS n_purchases, round(sum(value), 2) AS purchase_sum
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
)
SELECT c.user_id, c.day, n_clicks, click_sum, n_purchases, purchase_sum
FROM clicks c JOIN purchases p ON c.user_id = p.user_id AND c.day = p.day
"""


# --------------------------------------------------------------------------
# B6 — series catalog (SHOW MEASUREMENTS / FIELD KEYS analog;
# registry surface of influx_service.py:344-375)
# --------------------------------------------------------------------------

def ts_series_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
    )


TS_SERIES_CATALOG_SQL = """
SELECT user_id, event_type, count(*) AS n_points,
       min(ts) AS first_ts, max(ts) AS last_ts
FROM events GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# B7 — throughput telemetry (the reference's exact status message:
# "Points written 10 min avg : N / #Devices: D", influx_service.py:310-322)
# --------------------------------------------------------------------------

def ts_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("points_written"),
            F.countDistinct("user_id").alias("n_devices"),
        )
        .select(
            F.col("w.start").alias("bucket_start"), "points_written", "n_devices"
        )
    )


TS_THROUGHPUT_SQL = """
SELECT time_bucket(INTERVAL '10 minutes', ts) AS bucket_start,
       count(*) AS points_written,
       count(DISTINCT user_id) AS n_devices
FROM events GROUP BY 1
"""


# --------------------------------------------------------------------------
# B8 — registry-enriched query (points ⋈ device metadata; the membership
# join of influx_service.py:133-137 promoted to an analytic join)
# --------------------------------------------------------------------------

def ts_registry_enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events enriched with the customer dimension (device registry
    analog) — broadcast inner join, then segment rollup.

    The dimension is broadcast (registry ~= devices table is always
    small relative to points); the points side never shuffles for the
    join, only for the final small aggregation.
    """
    ev = load_table(spark, sf_dir, "events")
    cust = load_table(spark, sf_dir, "customer")
    return (
        ev.join(F.broadcast(cust), ev.user_id == cust.c_custkey, "inner")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            F.countDistinct("user_id").alias("n_devices"),
        )
    )


TS_REGISTRY_ENRICHED_SQL = """
SELECT c_mktsegment, event_type, count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       count(DISTINCT user_id) AS n_devices
FROM events JOIN customer ON user_id = c_custkey
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# As-of join — no native Spark primitive (SURVEY.md §7 hard parts).
# Composed from union + running last_value window: O(n log n) within
# device partitions, no range-explosion, no Python.
# --------------------------------------------------------------------------

def ts_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each purchase, the most recent click at-or-before it by the
    same device (ASOF JOIN backward semantics, >= on ts).

    Implementation: union clicks (side=0) and purchases (side=1) into
    one stream, window-partition by device ordered by (ts, side,
    event_id), carry the last non-null click ts forward, keep purchase
    rows. One shuffle on user_id; scales as a sort within device
    partitions — unlike a naive range join (quadratic blow-up) or
    merge_asof in Python (serialization). DuckDB's native ASOF JOIN is
    the oracle.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.lit(0).alias("side"),
        "event_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.lit(1).alias("side"),
        "event_id",
        F.lit(None).cast("timestamp").alias("click_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = clicks.unionByName(purchases).withColumn(
        "asof_click_ts", F.last("click_ts", ignorenulls=True).over(w)
    )
    return (
        merged.filter((F.col("side") == 1) & F.col("asof_click_ts").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
            F.col("asof_click_ts").alias("click_ts"),
        )
    )


TS_ASOF_JOIN_SQL = """
SELECT p.event_id AS purchase_id,
       p.user_id,
       p.ts AS purchase_ts,
       c.ts AS click_ts
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


# --------------------------------------------------------------------------
# Sessionization — gap-based sessions per device (session_window analog,
# batch formulation shared with streaming/stats.py)
# --------------------------------------------------------------------------

def ts_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per device: session count, size, span.

    lag + gap-flag + running sum — the classic sessionization plan; one
    shuffle on user_id, everything else window-local. (Structured
    Streaming's session_window(ts, '30 minutes') computes the same
    sessions incrementally; see streaming/stateful.py.)
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sessions = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            F.when(
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("double") - F.col("prev_ts").cast("double")
                    > 1800.0
                ),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        .withColumn(
            "session_id",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
    )
    return sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
    )


TS_SESSIONIZE_SQL = """
WITH flagged AS (
    SELECT user_id, ts, event_id,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
    SELECT user_id, ts,
           CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
    FROM flagged
)
SELECT user_id, session_id, count(*) AS n_events,
       min(ts) AS session_start, max(ts) AS session_end
FROM numbered GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Difference / derivative per series (InfluxQL difference()/derivative())
# --------------------------------------------------------------------------

def ts_difference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series successive difference and per-second rate (InfluxQL
    ``difference()`` / ``derivative(1s)`` analogs): lag over the series
    key, pairwise subtraction (no summation-order sensitivity), elapsed
    time from integer microseconds so both engines do exact integer
    arithmetic before one float division."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    prev_val = F.lag("value").over(w)
    prev_us = F.lag(us).over(w)
    out = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        # + 0.0 normalizes IEEE negative zero: round() can yield -0.0 in
        # one engine and 0.0 in the other, which value-hashes differently
        (F.round(F.col("value") - prev_val, 6) + F.lit(0.0)).alias("diff_value"),
        ((us - prev_us) / F.lit(1000000.0)).alias("elapsed_s"),
        (
            F.round(
                (F.col("value") - prev_val)
                / F.nullif((us - prev_us) / F.lit(1000000.0), F.lit(0.0)),
                6,
            )
            + F.lit(0.0)
        ).alias("rate_per_s"),
    )
    return out.filter(F.col("diff_value").isNotNull())


TS_DIFFERENCE_SQL = """
SELECT event_id, user_id, event_type, ts,
       round(value - prev_val, 6) + 0.0 AS diff_value,
       (us - prev_us) / 1000000.0 AS elapsed_s,
       round((value - prev_val) / nullif((us - prev_us) / 1000000.0, 0.0), 6)
           + 0.0 AS rate_per_s
FROM (
    SELECT event_id, user_id, event_type, ts, value,
           epoch_us(ts) AS us,
           lag(value) OVER w AS prev_val,
           lag(epoch_us(ts)) OVER w AS prev_us
    FROM events
    WINDOW w AS (PARTITION BY user_id, event_type ORDER BY ts, event_id)
)
WHERE prev_val IS NOT NULL
"""


# --------------------------------------------------------------------------
# Gap fill over a generated time spine (InfluxQL GROUP BY time() fill())
# --------------------------------------------------------------------------

def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily buckets per event_type over a COMPLETE day spine with
    ``fill(previous)`` (InfluxQL ``GROUP BY time(1d) fill(previous)``):
    sequence() generates the spine, cross join the (tiny, literal) tag
    universe, left-join real buckets, carry the last non-null average
    forward. The spine is generated, never scanned — at 100 TB the
    spine side stays a few thousand rows regardless of fact size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        _avg2(F.sum("value"), F.count(F.lit(1))).alias("avg_value"),
    )
    spine = (
        spark.range(1)
        .select(
            F.explode(
                F.expr(
                    "sequence(timestamp'2024-01-01 00:00:00',"
                    " timestamp'2024-01-30 00:00:00', interval 1 day)"
                )
            ).alias("day")
        )
        .crossJoin(
            spark.range(1).select(
                F.explode(F.array(*[F.lit(t) for t in EVENT_TYPES])).alias(
                    "event_type"
                )
            )
        )
    )
    joined = spine.join(F.broadcast(daily), ["day", "event_type"], "left_outer")
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return joined.select(
        "day",
        "event_type",
        F.coalesce(F.col("n_events"), F.lit(0)).alias("n_events"),
        "avg_value",
        F.last("avg_value", ignorenulls=True).over(w).alias("filled_avg"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


TS_GAP_FILL_SQL = f"""
WITH daily AS (
    SELECT date_trunc('day', ts) AS day, event_type,
           count(*) AS n_events,
           {_AVG2_SQL.format(v='value')} AS avg_value
    FROM events GROUP BY 1, 2
), spine AS (
    SELECT CAST(gs AS TIMESTAMP) AS day, event_type
    FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                         INTERVAL 1 DAY) t(gs)
    CROSS JOIN (SELECT unnest({[t for t in EVENT_TYPES]!r}) AS event_type)
)
SELECT day, event_type,
       coalesce(n_events, 0) AS n_events,
       avg_value,
       last_value(avg_value IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY day
                 ROWS UNBOUNDED PRECEDING) AS filled_avg,
       (avg_value IS NULL) AS was_gap
FROM spine LEFT JOIN daily USING (day, event_type)
"""


def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily buckets per event_type over the complete day spine with
    LINEAR interpolation across interior gaps (InfluxQL ``GROUP BY
    time(1d) fill(linear)``; complements ts_gap_fill's
    ``fill(previous)``). Leading/trailing gaps stay NULL, as in
    InfluxQL.

    Interpolation brackets each gap with the nearest non-null buckets
    via last/first(ignorenulls) over unbounded frames — two window
    passes over the (spine-sized, tiny) frame, never the raw facts.
    Determinism: bucket values are round(·,6) doubles, elapsed time is
    exact integer microseconds, and both engines evaluate the same
    IEEE expression prev + (next-prev) * dt_ratio with identical
    association — so the interpolated doubles are bit-identical RAW
    and a final round(x, 6) would be the only divergence source
    (engines disagree on hard-to-round midpoint doubles: Spark rounds
    the exact BigDecimal expansion, DuckDB rounds x*1e6 — the defect
    that fired on iq_fill_linear in r8's sf0.1 sweep). +0.0
    normalizes -0.0.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(_avg2(F.sum("value"), F.count(F.lit(1))).alias("avg_value"))
    spine = (
        spark.range(1)
        .select(
            F.explode(
                F.expr(
                    "sequence(timestamp'2024-01-01 00:00:00',"
                    " timestamp'2024-01-30 00:00:00', interval 1 day)"
                )
            ).alias("day")
        )
        .crossJoin(
            spark.range(1).select(
                F.explode(F.array(*[F.lit(t) for t in EVENT_TYPES])).alias(
                    "event_type"
                )
            )
        )
    )
    joined = spine.join(F.broadcast(daily), ["day", "event_type"], "left_outer")
    wb = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    us = F.unix_micros(F.col("day"))
    at_val = F.when(F.col("avg_value").isNotNull(), us)
    prev_v = F.last("avg_value", ignorenulls=True).over(wb)
    next_v = F.first("avg_value", ignorenulls=True).over(wf)
    prev_d = F.last(at_val, ignorenulls=True).over(wb)
    next_d = F.first(at_val, ignorenulls=True).over(wf)
    interp = (
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(prev_v.isNull() | next_v.isNull(), F.lit(None).cast("double"))
        .otherwise(
            prev_v + (next_v - prev_v) * ((us - prev_d) / (next_d - prev_d))
        )
    )
    return joined.select(
        "day",
        "event_type",
        "avg_value",
        (interp + F.lit(0.0)).alias("interp_avg"),
        F.col("avg_value").isNull().alias("was_gap"),
    )


TS_INTERPOLATE_SQL = f"""
WITH daily AS (
    SELECT date_trunc('day', ts) AS day, event_type,
           {_AVG2_SQL.format(v='value')} AS avg_value
    FROM events GROUP BY 1, 2
), spine AS (
    SELECT CAST(gs AS TIMESTAMP) AS day, event_type
    FROM generate_series(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-30',
                         INTERVAL 1 DAY) t(gs)
    CROSS JOIN (SELECT unnest({[t for t in EVENT_TYPES]!r}) AS event_type)
), j AS (
    SELECT day, event_type, avg_value, epoch_us(day) AS dus
    FROM spine LEFT JOIN daily USING (day, event_type)
), f AS (
    SELECT *,
           last_value(avg_value IGNORE NULLS) OVER wb AS prev_v,
           first_value(avg_value IGNORE NULLS) OVER wf AS next_v,
           last_value(CASE WHEN avg_value IS NOT NULL THEN dus END
                      IGNORE NULLS) OVER wb AS prev_d,
           first_value(CASE WHEN avg_value IS NOT NULL THEN dus END
                       IGNORE NULLS) OVER wf AS next_d
    FROM j
    WINDOW wb AS (PARTITION BY event_type ORDER BY day
                  ROWS UNBOUNDED PRECEDING),
           wf AS (PARTITION BY event_type ORDER BY day
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT day, event_type, avg_value,
       CASE WHEN avg_value IS NOT NULL THEN avg_value
            WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
            ELSE prev_v + (next_v - prev_v)
                 * ((dus - prev_d) / (next_d - prev_d))
       END + 0.0 AS interp_avg,
       (avg_value IS NULL) AS was_gap
FROM f
"""


def ts_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 10-minute moving average per series — a true time-based
    RANGE frame (InfluxQL ``MOVING_AVERAGE`` over irregular samples),
    complementing the row-count frames in windows.py.

    The frame key is integer epoch seconds derived from the ns column
    by exact floor division (``ts_ns div 1e9``) so Spark's rangeBetween
    and DuckDB's RANGE frame see identical ordinals; rows sharing a
    second are RANGE peers in both engines, making the frame contents —
    and with the round-the-sum policy, the hash — order-insensitive.
    At scale this is one shuffle on the series key with bounded
    per-partition state; no Python in the path.
    """
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr("ts_ns div 1000000000")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("epoch_sec")
        .rangeBetween(-600, 0)
    )
    return (
        ev.withColumn("epoch_sec", sec)
        .select(
            "user_id",
            "event_type",
            "event_id",
            "epoch_sec",
            "value",
            _avg2(F.sum("value").over(w), F.count(F.lit(1)).over(w)).alias(
                "ma_10m"
            ),
            F.count(F.lit(1)).over(w).alias("n_in_window"),
        )
    )


TS_MOVING_AVG_SQL = """
SELECT user_id, event_type, event_id, epoch_sec, value,
       round(round(sum(value) OVER w, 2) / count(*) OVER w, 6) AS ma_10m,
       count(*) OVER w AS n_in_window
FROM (
    SELECT *, epoch_ns(ts) // 1000000000 AS epoch_sec FROM events
)
WINDOW w AS (PARTITION BY user_id, event_type ORDER BY epoch_sec
             RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
"""


def ts_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding (hopping) window per event_type: 10-minute windows every
    5 minutes, so each point lands in exactly two windows.

    Spark's ``window(ts, '10 minutes', '5 minutes')`` expands each row
    to its member windows before the partial agg — same Expand-then-agg
    shape as rollup, one shuffle on (window, event_type). The oracle
    reproduces the expansion by unnesting the two candidate window
    starts per row.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
            _avg2(F.sum("value"), F.count(F.lit(1))).alias("avg_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
            "avg_value",
        )
    )


TS_SLIDING_AGG_SQL = f"""
WITH expanded AS (
    SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                   time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes'])
               AS window_start,
           event_type, value
    FROM events
)
SELECT window_start, event_type,
       count(*) AS n_events,
       round(sum(value), 2) AS sum_value,
       {_AVG2_SQL.format(v='value')} AS avg_value
FROM expanded
GROUP BY 1, 2
"""


def ts_integral(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InfluxQL ``INTEGRAL(value)`` + ``SPREAD(value)`` per series:
    trapezoidal area under the irregular samples, and max−min.

    Per-series lag gives each sample its predecessor; the trapezoid
    term ``(v + prev_v)/2 · Δt`` uses exact integer Δt seconds from the
    ns column. One shuffle on the series key; the lag window and the
    aggregation share the same partitioning, so Catalyst plans a single
    exchange. Deterministic across engines: each term ×1000 is an
    exact integer (2-decimal values, integer Δt), so the sum runs in
    exact long arithmetic — immune to accumulation order, unlike
    round-the-float-sum, which flaked at this magnitude (~1e7).
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "epoch_sec", "event_id"
    )
    with_prev = ev.withColumn(
        "epoch_sec", F.expr("ts_ns div 1000000000")
    ).select(
        "user_id",
        "event_type",
        "value",
        "epoch_sec",
        F.lag("value").over(w).alias("prev_value"),
        F.lag("epoch_sec").over(w).alias("prev_sec"),
    )
    term_milli = F.round(
        (F.col("value") + F.col("prev_value"))
        / 2.0
        * (F.col("epoch_sec") - F.col("prev_sec")).cast("double")
        * 1000.0
    ).cast("long")
    return (
        with_prev.withColumn("term_milli", term_milli)
        .groupBy("user_id", "event_type")
        .agg(
            (F.sum("term_milli") / 1000.0).alias("integral_value_seconds"),
            F.round(F.max("value") - F.min("value"), 2).alias("spread"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


TS_INTEGRAL_SQL = """
WITH pts AS (
    SELECT user_id, event_type, value,
           epoch_ns(ts) // 1000000000 AS epoch_sec,
           event_id
    FROM events
),
with_prev AS (
    SELECT user_id, event_type, value, epoch_sec,
           lag(value)     OVER w AS prev_value,
           lag(epoch_sec) OVER w AS prev_sec
    FROM pts
    WINDOW w AS (PARTITION BY user_id, event_type
                 ORDER BY epoch_sec, event_id)
)
SELECT user_id, event_type,
       CAST(sum(CAST(round((value + prev_value) / 2.0
                           * CAST(epoch_sec - prev_sec AS DOUBLE)
                           * 1000.0) AS BIGINT)) AS BIGINT) / 1000.0
           AS integral_value_seconds,
       round(max(value) - min(value), 2) AS spread,
       count(*) AS n_points
FROM with_prev
GROUP BY user_id, event_type
"""


def ts_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly OHLC downsampling per series — the InfluxQL
    ``FIRST/MAX/MIN/LAST(value) GROUP BY time(1h)`` candle.

    first/last use ``min_by``/``max_by`` on the exact ns timestamp — a
    single hash aggregation, no window, no sort. ns timestamps are
    unique per series (verified at every sf; a deployment with
    same-instant writes would pack a sequence number into the ordering
    key). One shuffle on (series, bucket); at 100 TB the bucket key
    derives from the date partition column so partials stay
    partition-local.
    """
    ev = load_table(spark, sf_dir, "events")
    ordkey = F.col("ts_ns")
    return (
        ev.groupBy(
            "user_id",
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("bucket"),
        )
        .agg(
            F.min_by("value", ordkey).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", ordkey).alias("close"),
            F.count(F.lit(1)).alias("n_points"),
        )
    )


TS_OHLC_SQL = """
SELECT user_id, event_type,
       date_trunc('hour', ts) AS bucket,
       arg_min(value, epoch_ns(ts)) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, epoch_ns(ts)) AS close,
       count(*) AS n_points
FROM events
GROUP BY 1, 2, 3
"""


FUNNEL_WINDOW_NS = 3600 * 1_000_000_000  # 1 hour


def ts_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user conversion funnel: fraction of clicks followed by a
    purchase within one hour — the temporal-sequence join behind
    retention/conversion analytics.

    The converted set is a LEFT SEMI join on (user_id equi + ns time
    band): the equi key keeps it a hash/sort-merge join (never a
    cartesian), the band predicate filters within matched users, and
    semi semantics stop at first proof — no fan-out on users with many
    purchases. Exact integer ns arithmetic keeps the band identical in
    both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "event_id", F.col("ts_ns").alias("c_ns")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("b_user"), F.col("ts_ns").alias("b_ns")
    )
    converted = clicks.join(
        buys,
        (clicks.user_id == buys.b_user)
        & (buys.b_ns > clicks.c_ns)
        & (buys.b_ns <= clicks.c_ns + F.lit(FUNNEL_WINDOW_NS)),
        "left_semi",
    )
    totals = clicks.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_clicks"))
    conv = converted.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_converted")
    )
    return (
        totals.join(conv, "user_id", "left")
        .select(
            "user_id",
            "n_clicks",
            F.coalesce(F.col("n_converted"), F.lit(0)).cast("long").alias(
                "n_converted"
            ),
            F.round(
                F.coalesce(F.col("n_converted"), F.lit(0)) / F.col("n_clicks"), 6
            ).alias("conv_rate"),
        )
    )


TS_FUNNEL_SQL = f"""
WITH clicks AS (
    SELECT user_id, event_id, epoch_ns(ts) AS c_ns
    FROM events WHERE event_type = 'click'
),
buys AS (
    SELECT user_id, epoch_ns(ts) AS b_ns
    FROM events WHERE event_type = 'purchase'
),
conv AS (
    SELECT c.user_id, c.event_id
    FROM clicks c
    WHERE EXISTS (
        SELECT 1 FROM buys b
        WHERE b.user_id = c.user_id
          AND b.b_ns > c.c_ns
          AND b.b_ns <= c.c_ns + {FUNNEL_WINDOW_NS}
    )
)
SELECT c.user_id,
       count(*) AS n_clicks,
       CAST(count(v.event_id) AS BIGINT) AS n_converted,
       round(count(v.event_id) * 1.0 / count(*), 6) AS conv_rate
FROM clicks c
LEFT JOIN conv v ON c.user_id = v.user_id AND c.event_id = v.event_id
GROUP BY c.user_id
"""


# --------------------------------------------------------------------------
# Rolling z-score anomaly screen (InfluxQL/Kapacitor-style alerting over
# the narrow point stream — the monitoring query a fleet operator runs
# on the reference's stored series)
# --------------------------------------------------------------------------

ZSCORE_FRAME = 100      # trailing rows per event_type (incl. current)
ZSCORE_MIN_N = 30       # don't score until the window has warmed up
ZSCORE_CUT = 3.0


def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Points whose value deviates > 3 sample-stdevs from the trailing
    100-point window of their event_type — rolling z-score anomaly
    detection over the narrow layout.

    Determinism: the window sums are computed over exact integer cents
    (``round(value*100)::long``), so mean/variance derive from
    identical integers in both engines; z is then one fixed IEEE
    expression on those integers (the cent scale cancels out of z), and
    zero-variance windows are excluded before any division.

    Scale notes: partitionBy(event_type) alone would funnel each type
    through one task at 100 TB — the production layout sub-buckets the
    window by (event_type, day) with a ZSCORE_FRAME-row carry-in tail
    from the previous bucket (the same pattern ts_sliding_agg
    documents); semantics here are the spec that plan must reproduce.
    """
    ev = load_table(spark, sf_dir, "events")
    v100 = F.round(F.col("value") * 100).cast("long")
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(ZSCORE_FRAME - 1), Window.currentRow)
    )
    stats = ev.select(
        "event_id", "event_type", "ts", "value", v100.alias("v100")
    ).select(
        "event_id",
        "event_type",
        "ts",
        "value",
        "v100",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("v100").over(w).alias("s"),
        F.sum(F.col("v100") * F.col("v100")).over(w).alias("ss"),
    )
    # Sample variance in cent units from the exact sums; z is
    # scale-invariant so the /100 never needs to happen.
    var_num = F.col("ss") - F.col("s") * F.col("s") / F.col("n")
    z = (F.col("v100") - F.col("s") / F.col("n")) / F.sqrt(
        var_num / (F.col("n") - 1)
    )
    return (
        stats.filter(
            (F.col("n") >= ZSCORE_MIN_N)
            & (var_num > 0)
            & (F.abs(z) > ZSCORE_CUT)
        )
        .select(
            "event_id",
            "event_type",
            "ts",
            "value",
            F.round(z, 4).alias("zscore"),
        )
    )


TS_ANOMALY_ZSCORE_SQL = f"""
WITH c AS (
    SELECT event_id, event_type, ts, value,
           CAST(round(value * 100) AS BIGINT) AS v100
    FROM events
), s AS (
    SELECT event_id, event_type, ts, value, v100,
           count(*) OVER w AS n,
           CAST(sum(v100) OVER w AS BIGINT) AS s,
           CAST(sum(v100 * v100) OVER w AS BIGINT) AS ss
    FROM c
    WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
                 ROWS BETWEEN {ZSCORE_FRAME - 1} PRECEDING AND CURRENT ROW)
)
SELECT event_id, event_type, ts, value,
       round((v100 - s / n) / sqrt((ss - s * s / n) / (n - 1)), 4) AS zscore
FROM s
WHERE n >= {ZSCORE_MIN_N}
  AND (ss - s * s / n) > 0
  AND abs((v100 - s / n) / sqrt((ss - s * s / n) / (n - 1))) > {ZSCORE_CUT}
"""


# --------------------------------------------------------------------------
# Weekly cohort retention (product-analytics rollup over the event stream)
# --------------------------------------------------------------------------

def ts_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users grouped by the week of
    their first event; for each (cohort_week, weeks-since-cohort) cell,
    the count of distinct cohort members active that week.

    Both engines truncate to Monday-start weeks; week distance is exact
    integer arithmetic on epoch seconds (week-truncated stamps are
    exact multiples of 604800 apart, so floor-division is lossless).

    Scale notes: two shuffles — per-user min (map-side combinable) and
    the distinct-user count per cell (Spark expands distinct into a
    two-stage partial/merge). The cohort dimension is tiny and
    broadcast back onto the activity stream.
    """
    ev = load_table(spark, sf_dir, "events")
    cohorts = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    weekly = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("week")
    ).distinct()
    return (
        weekly.join(F.broadcast(cohorts), "user_id")
        .select(
            "cohort_week",
            F.floor(
                (F.unix_timestamp("week") - F.unix_timestamp("cohort_week"))
                / 604800
            )
            .cast("int")
            .alias("week_n"),
            "user_id",
        )
        .groupBy("cohort_week", "week_n")
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


TS_RETENTION_SQL = """
WITH cohorts AS (
    SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
    FROM events GROUP BY user_id
), weekly AS (
    SELECT DISTINCT user_id, date_trunc('week', ts) AS week
    FROM events
)
SELECT c.cohort_week,
       CAST(floor((epoch(w.week) - epoch(c.cohort_week)) / 604800) AS INT)
           AS week_n,
       CAST(count(DISTINCT w.user_id) AS BIGINT) AS n_users
FROM weekly w JOIN cohorts c USING (user_id)
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# Value histogram (fixed-width buckets)
# --------------------------------------------------------------------------

HIST_LO = 0.0
HIST_WIDTH = 25.0
HIST_NBINS = 20


def ts_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width value histogram per event type (the TSDB
    ``histogram()`` / Prometheus ``le``-bucket analog): bucket index by
    integer floor division, count per (event_type, bucket). One
    map-side-combinable aggregation — the shuffle carries at most
    n_types × n_bins rows regardless of corpus size, the ideal
    100 TB shape. Top bucket clamps (+Inf bucket).
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.least(
        F.greatest(
            F.floor((F.col("value") - F.lit(HIST_LO)) / F.lit(HIST_WIDTH)),
            F.lit(0),
        ),
        F.lit(HIST_NBINS - 1),
    ).cast("int")
    return (
        ev.select("event_type", bucket.alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "bucket",
            (F.lit(HIST_LO) + F.col("bucket") * F.lit(HIST_WIDTH)).alias(
                "bucket_lo"
            ),
            (F.lit(HIST_LO) + (F.col("bucket") + 1) * F.lit(HIST_WIDTH)).alias(
                "bucket_hi"
            ),
            "n",
        )
    )


TS_HISTOGRAM_SQL = f"""
SELECT event_type,
       CAST(least(greatest(floor((value - {HIST_LO}) / {HIST_WIDTH}), 0),
                  {HIST_NBINS - 1}) AS INT) AS bucket,
       {HIST_LO} + least(greatest(floor((value - {HIST_LO}) / {HIST_WIDTH}), 0),
                         {HIST_NBINS - 1}) * {HIST_WIDTH} AS bucket_lo,
       {HIST_LO} + (least(greatest(floor((value - {HIST_LO}) / {HIST_WIDTH}), 0),
                          {HIST_NBINS - 1}) + 1) * {HIST_WIDTH} AS bucket_hi,
       count(*) AS n
FROM events
GROUP BY 1, 2, 3, 4
"""


def ts_availability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device availability: the fraction of hours between a
    series' first and last event that contain at least one reading —
    the fleet-health primitive an operator of the reference's IoT
    deployment (devices publishing via MQTT, influx_service.py:389)
    asks first: 'which devices have gaps?'. Hours are the reference's
    natural reporting grain (its own status metric is a 10-minute
    window, :310-322).

    Determinism: pure integer math — epoch-hour indices, distinct
    counts, one final rounded division. Scale: one
    map-side-combinable aggregation per series key; the corpus
    collapses to |devices| rows, no window over raw events.
    """
    ev = load_table(spark, sf_dir, "events")
    hour_idx = F.expr("epoch_sec div 3600")
    per = ev.withColumn(
        "epoch_sec", F.expr("ts_ns div 1000000000")
    ).groupBy("user_id").agg(
        F.countDistinct(hour_idx).alias("hours_with_data"),
        F.min(hour_idx).alias("first_hour"),
        F.max(hour_idx).alias("last_hour"),
        F.count(F.lit(1)).alias("n_events"),
    )
    span = F.col("last_hour") - F.col("first_hour") + F.lit(1)
    return per.select(
        "user_id",
        "n_events",
        "hours_with_data",
        span.cast("long").alias("span_hours"),
        F.round(F.col("hours_with_data") / span, 6).alias("availability"),
        (span - F.col("hours_with_data")).cast("long").alias("gap_hours"),
    )


TS_AVAILABILITY_SQL = """
WITH per AS (
    SELECT user_id,
           count(DISTINCT epoch_ns(ts) // 1000000000 // 3600)
               AS hours_with_data,
           min(epoch_ns(ts) // 1000000000 // 3600) AS first_hour,
           max(epoch_ns(ts) // 1000000000 // 3600) AS last_hour,
           count(*) AS n_events
    FROM events GROUP BY 1
)
SELECT user_id, n_events,
       CAST(hours_with_data AS BIGINT) AS hours_with_data,
       CAST(last_hour - first_hour + 1 AS BIGINT) AS span_hours,
       round(hours_with_data
             / CAST(last_hour - first_hour + 1 AS DOUBLE), 6)
           AS availability,
       CAST(last_hour - first_hour + 1 - hours_with_data AS BIGINT)
           AS gap_hours
FROM per
"""


# SLO error-budget burn rate (multi-window, Google SRE workbook shape)
SLO_TARGET = 0.95          # 95% non-error events
BURN_ALERT = 2.0           # alert when BOTH windows burn > 2x budget
BURN_LONG_HOURS = 6        # trailing long window (hours)


def ts_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting over the event stream
    (Google SRE workbook: page only when BOTH a short and a long
    window burn the error budget fast — short for responsiveness, long
    to suppress flapping). ``error``-type events are the failures;
    budget = 1 − SLO_TARGET.

    One hourly rollup (map-side-combinable counts — the corpus
    collapses to ≤ hours rows), then the long window is a trailing
    frame over that TINY hourly relation; the raw stream is touched
    once. Integer counts end-to-end; rates and burns are single
    rounded divisions of exact longs.
    """
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("long").alias("n_err"),
    )
    return burn_rate_from_hourly(hourly)


def burn_rate_from_hourly(hourly: DataFrame) -> DataFrame:
    """Rates/burns/alert from an (hour, n_total, n_err) relation —
    shared by the batch query above and the streaming continuous
    rollup's view (``streaming.anomaly.burn_rate_view``), so the two
    tiers cannot drift. Because the inputs are exact integer partials,
    the stream's MERGE-accumulated counts reproduce this bit-for-bit
    regardless of micro-batch slicing."""
    wl = (
        Window.orderBy("hour")
        .rowsBetween(-(BURN_LONG_HOURS - 1), Window.currentRow)
    )
    budget = 1.0 - SLO_TARGET
    rate_short = F.round(F.col("n_err") / F.col("n_total"), 6)
    rate_long = F.round(
        F.sum("n_err").over(wl) / F.sum("n_total").over(wl), 6
    )
    burn_short = F.round(rate_short / F.lit(budget), 4)
    burn_long = F.round(rate_long / F.lit(budget), 4)
    return hourly.select(
        "hour",
        "n_total",
        "n_err",
        rate_short.alias("rate_1h"),
        rate_long.alias("rate_long"),
        burn_short.alias("burn_1h"),
        burn_long.alias("burn_long"),
        ((burn_short > BURN_ALERT) & (burn_long > BURN_ALERT)).alias("alert"),
    )


TS_BURN_RATE_SQL = f"""
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS hour,
           count(*) AS n_total,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_err
    FROM events GROUP BY 1
), rated AS (
    SELECT hour, n_total, n_err,
           round(n_err / CAST(n_total AS DOUBLE), 6) AS rate_1h,
           round(CAST(sum(n_err) OVER w AS BIGINT)
                 / CAST(CAST(sum(n_total) OVER w AS BIGINT) AS DOUBLE),
                 6) AS rate_long
    FROM hourly
    WINDOW w AS (ORDER BY hour
                 ROWS BETWEEN {BURN_LONG_HOURS - 1} PRECEDING
                 AND CURRENT ROW)
)
SELECT hour, n_total, n_err, rate_1h, rate_long,
       round(rate_1h / {1.0 - SLO_TARGET}, 4) AS burn_1h,
       round(rate_long / {1.0 - SLO_TARGET}, 4) AS burn_long,
       (round(rate_1h / {1.0 - SLO_TARGET}, 4) > {BURN_ALERT}
        AND round(rate_long / {1.0 - SLO_TARGET}, 4) > {BURN_ALERT})
           AS alert
FROM rated
"""


HQ_PHIS = [0.5, 0.9, 0.99]


def ts_histogram_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PromQL ``histogram_quantile(φ, …)`` over the fixed-bin histogram
    (:func:`ts_histogram`): per event type and φ ∈ {0.5, 0.9, 0.99},
    find the first bucket whose cumulative count reaches rank φ·N and
    linearly interpolate inside it — the Prometheus estimator, which
    answers quantile queries from the BUCKETED relation only (the
    whole point of ``le``-bucket histograms at 100 TB: the raw stream
    is never re-read, and this query's input is the ≤ types×bins
    rollup).

    Determinism: bucket counts and cumulatives are exact longs; rank
    φ·N is one IEEE multiply of exact operands; the interpolation
    ``lo + (rank − cum_prev)/n · width`` is written with identical
    association in the DuckDB twin and rounded to 6.
    """
    buckets = ts_histogram(spark, sf_dir)
    phi = F.explode(F.array(*[F.lit(p) for p in HQ_PHIS])).alias("phi")
    w = Window.partitionBy("event_type", "phi").orderBy("bucket")
    wtot = Window.partitionBy("event_type", "phi")
    cum = (
        buckets.select("event_type", "bucket", "bucket_lo", "n", phi)
        .withColumn(
            "cum",
            F.sum("n").over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn("total", F.sum("n").over(wtot))
        .withColumn("rank", F.col("phi") * F.col("total"))
    )
    hit = (
        cum.filter(F.col("cum") >= F.col("rank"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    prev = F.col("cum") - F.col("n")
    return hit.select(
        "event_type",
        "phi",
        F.col("total").alias("n_samples"),
        F.round(
            F.col("bucket_lo")
            + (F.col("rank") - prev) / F.col("n") * F.lit(HIST_WIDTH),
            6,
        ).alias("quantile_value"),
    )


TS_HISTOGRAM_QUANTILE_SQL = f"""
WITH buckets AS ({TS_HISTOGRAM_SQL}),
cum AS (
    SELECT b.event_type, p.phi, b.bucket, b.bucket_lo, b.n,
           sum(b.n) OVER (PARTITION BY b.event_type, p.phi
                          ORDER BY b.bucket
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS cum,
           sum(b.n) OVER (PARTITION BY b.event_type, p.phi) AS total
    FROM buckets b
    CROSS JOIN (SELECT unnest({HQ_PHIS}) AS phi) p
), ranked AS (
    SELECT event_type, phi, bucket_lo, n, cum, total,
           phi * total AS rank,
           row_number() OVER (PARTITION BY event_type, phi
                              ORDER BY bucket) AS rn
    FROM cum
    WHERE cum >= phi * total
)
SELECT event_type, phi,
       CAST(total AS BIGINT) AS n_samples,
       round(bucket_lo + (rank - (cum - n)) / n * {HIST_WIDTH}, 6)
           AS quantile_value
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# Bounded-window EWMA (InfluxQL ``exponential_moving_average`` analog)
# --------------------------------------------------------------------------

EWMA_K = 8  # truncation window; weight below 0.5^7 ≈ 0.008 is dropped

def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per series, truncated to
    the last EWMA_K points and renormalized — the bounded-state form
    every streaming/windowed engine actually computes (an infinite
    recurrence can't ride a frame). Spark has no native EWMA; this
    builds it from a frame-ordered ``collect_list`` + one array fold.

    α = 0.5 exactly, so every weight 0.5^j is a power of two —
    multiplication by it is EXACT in IEEE 754, and the fold adds the
    same products in the same order as the DuckDB oracle: bit-identical
    results with no summation-order hazard (this is why α is not a
    tunable float here).

    Scale shape: one shuffle (the series partition), state bounded at
    K values per row; the 100 TB layout sorts within series partitions
    so the window never respills.
    """
    # Spark's collect_list SKIPS nulls while DuckDB's list() keeps them,
    # so a null value would desynchronize frame lengths between engine
    # and oracle (ADVICE r3). Filter nulls identically on both sides.
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-(EWMA_K - 1), 0)
    )
    out = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        F.collect_list("value").over(w).alias("l"),
    )
    ewma = F.expr(
        "round("
        " aggregate(transform(l, (x, i) -> x * pow(0.5D, size(l) - 1 - i)),"
        "           0D, (acc, x) -> acc + x)"
        " / (2D - pow(0.5D, size(l) - 1)), 6) + 0D"
    )
    return out.select(
        "event_id", "user_id", "event_type", "ts", "value", ewma.alias("ewma")
    )


TS_EWMA_SQL = f"""
WITH fr AS (
    SELECT event_id, user_id, event_type, ts, value,
           list(value) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id
                             ROWS BETWEEN {EWMA_K - 1} PRECEDING
                                      AND CURRENT ROW) AS l
    FROM events
    WHERE value IS NOT NULL
)
SELECT event_id, user_id, event_type, ts, value,
       round(
         list_sum(list_transform(range(1, len(l) + 1),
                                 i -> l[i] * pow(0.5, len(l) - i)))
         / (2 - pow(0.5, len(l) - 1)), 6) + 0.0 AS ewma
FROM fr
"""


# --------------------------------------------------------------------------
# Robust outliers via median absolute deviation (MAD)
# --------------------------------------------------------------------------

MAD_Z_THRESHOLD = 3.5   # Iglewicz–Hoaglin recommended cut
MAD_CONSISTENCY = 1.4826  # normal-consistency constant


def ts_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection: robust z =
    (value − median) / (1.4826 · MAD), flag |z| > 3.5. The
    median-based twin of ts_anomaly_zscore — immune to the outliers
    it hunts.

    Shape: two exact-median aggregations (each one shuffle of
    1 row/type partials — Spark's median is an exact sort-based
    aggregate, matching DuckDB's), each joined back by BROADCAST
    (n_types rows), then a per-row filter. The corpus is scanned twice
    but never shuffled — at 100 TB the two medians run over a
    type-partitioned layout and the second scan prunes to the value
    column.
    """
    ev = load_table(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "absdev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.median("absdev").alias("mad"))
    z = (F.col("value") - F.col("med")) / (F.lit(MAD_CONSISTENCY) * F.col("mad"))
    # mad == 0 (≥50% of a type's values at the median) would divide by
    # zero: Spark's non-ANSI Divide yields NULL (silently dropped by the
    # filter) while DuckDB yields ±inf (flagged) — a latent engine/oracle
    # mismatch (ADVICE r3). Exclude degenerate types identically on both
    # sides: with no spread, MAD has no outlier definition anyway.
    return (
        dev.join(F.broadcast(mad), "event_type")
        .filter((F.col("mad") > 0) & (F.abs(z) > F.lit(MAD_Z_THRESHOLD)))
        .select(
            "event_id",
            "event_type",
            "ts",
            "value",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            (F.round(z, 6) + F.lit(0.0)).alias("robust_z"),
        )
    )


TS_MAD_OUTLIERS_SQL = f"""
WITH med AS (
    SELECT event_type, median(value) AS med FROM events GROUP BY 1
), dev AS (
    SELECT e.event_id, e.event_type, e.ts, e.value, m.med,
           abs(e.value - m.med) AS absdev
    FROM events e JOIN med m USING (event_type)
), mad AS (
    SELECT event_type, median(absdev) AS mad FROM dev GROUP BY 1
)
SELECT d.event_id, d.event_type, d.ts, d.value,
       round(d.med, 6) AS med, round(m.mad, 6) AS mad,
       round((d.value - d.med) / ({MAD_CONSISTENCY} * m.mad), 6) + 0.0
           AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE m.mad > 0
  AND abs((d.value - d.med) / ({MAD_CONSISTENCY} * m.mad)) > {MAD_Z_THRESHOLD}
"""


# --------------------------------------------------------------------------
# Sequence-pattern detection (MATCH_RECOGNIZE-style, lag/lead windows)
# --------------------------------------------------------------------------

SPIKE_FACTOR = 2.0  # mid > factor * max(prev, next) => isolated spike


def ts_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isolated-spike pattern per series: an event whose value exceeds
    SPIKE_FACTOR x BOTH its predecessor and successor in the same
    (user_id, event_type) series — the ``A up, B down`` row-pattern a
    SQL-2016 MATCH_RECOGNIZE would express, built from lag/lead over
    the series window (Spark has no MATCH_RECOGNIZE; for fixed-length
    patterns the lag/lead form IS the idiomatic plan).

    Order within a series is (ts, event_id) — event_id breaks
    timestamp ties deterministically. Scale: one shuffle on the series
    key, sort within partition; the pattern predicate is a pure
    projection over the framed window, whole-stage codegen throughout.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    framed = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        "value",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )
    return framed.filter(
        F.col("prev_value").isNotNull()
        & F.col("next_value").isNotNull()
        & (F.col("value") > SPIKE_FACTOR * F.col("prev_value"))
        & (F.col("value") > SPIKE_FACTOR * F.col("next_value"))
    ).select(
        "user_id", "event_type", "event_id", "ts",
        "prev_value", "value", "next_value",
    )


TS_PATTERN_MATCH_SQL = f"""
WITH framed AS (
    SELECT user_id, event_type, event_id, ts, value,
           lag(value)  OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS prev_value,
           lead(value) OVER (PARTITION BY user_id, event_type
                             ORDER BY ts, event_id) AS next_value
    FROM events
)
SELECT user_id, event_type, event_id, ts, prev_value, value, next_value
FROM framed
WHERE prev_value IS NOT NULL AND next_value IS NOT NULL
  AND value > {SPIKE_FACTOR} * prev_value
  AND value > {SPIKE_FACTOR} * next_value
"""


# --------------------------------------------------------------------------
# M4 downsampling (per-bucket min/max/first/last — the lossless-for-
# rendering decimation used by time-series dashboards)
# --------------------------------------------------------------------------

def ts_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4 decimation: per (user_id, event_type, 1-day bucket) emit
    first/last/min/max of ``value`` — the four points that preserve a
    line-chart rendering exactly (Jugel et al., "M4: A Visualization-
    Oriented Time Series Data Aggregation", VLDB 2014).

    first/last are argmin/argmax over (ts, event_id) — implemented as
    min/max over a (ts, event_id, value) struct so the whole query is
    ONE partial-aggregatable groupBy (no window, no sort): structs
    compare lexicographically and (ts, event_id) is unique, so the
    extremes are deterministic and the value rides along. At 100 TB
    this is a single map-side-combinable shuffle on the bucket key.
    """
    ev = load_table(spark, sf_dir, "events")
    bucket = F.date_trunc("day", F.col("ts")).alias("bucket")
    return (
        ev.groupBy("user_id", "event_type", bucket)
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 2).alias("min_value"),
            F.round(F.max("value"), 2).alias("max_value"),
            F.min(F.struct("ts", "event_id", "value")).alias("_first"),
            F.max(F.struct("ts", "event_id", "value")).alias("_last"),
        )
        .select(
            "user_id",
            "event_type",
            "bucket",
            "n",
            "min_value",
            "max_value",
            F.col("_first.value").alias("first_value"),
            F.col("_last.value").alias("last_value"),
        )
    )


TS_DOWNSAMPLE_SQL = """
SELECT user_id, event_type, date_trunc('day', ts) AS bucket,
       count(*) AS n,
       round(min(value), 2) AS min_value,
       round(max(value), 2) AS max_value,
       min(struct_pack(ts := ts, e := event_id, v := value)).v AS first_value,
       max(struct_pack(ts := ts, e := event_id, v := value)).v AS last_value
FROM events
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# Cross-series correlation (integer-exact Pearson r)
# --------------------------------------------------------------------------

CORR_MIN_DAYS = 3


def ts_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-device Pearson correlation between daily click revenue and
    daily purchase revenue (days where both series have data) — "does
    click volume track purchases" across the fleet.

    Determinism: a naive ``corr()`` accumulates doubles in partition
    order and would never survive the value-hash gate. Values carry 2
    decimals, so daily sums in CENTS are exact BIGINTs; every Pearson
    moment (Sx, Sy, Sxy, Sxx, Syy) is then an exact integer sum, and
    r = (n·Sxy − Sx·Sy) / sqrt((n·Sxx − Sx²) · (n·Syy − Sy²)) runs a
    fixed sequence of IEEE ops on exact inputs — bit-identical in both
    engines. The variance product is computed in double (the two
    factors each fit int64; their product may not).

    Scale: two map-side-combinable daily aggregations, an equi-join on
    (user, day), one more combinable rollup per user. No window, no
    driver state.
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("day")

    def _daily_cents(event_type: str, alias: str) -> DataFrame:
        return (
            ev.filter(F.col("event_type") == event_type)
            .groupBy("user_id", day)
            .agg(
                F.round(F.round(F.sum("value"), 2) * 100)
                .cast("long")
                .alias(alias)
            )
        )

    joined = _daily_cents("click", "x").join(
        _daily_cents("purchase", "y"), ["user_id", "day"]
    )
    m = joined.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    var_x = F.col("n_days") * F.col("sxx") - F.col("sx") * F.col("sx")
    var_y = F.col("n_days") * F.col("syy") - F.col("sy") * F.col("sy")
    num = F.col("n_days") * F.col("sxy") - F.col("sx") * F.col("sy")
    return (
        m.filter(F.col("n_days") >= CORR_MIN_DAYS)
        .filter((var_x > 0) & (var_y > 0))
        .select(
            "user_id",
            "n_days",
            F.round(
                num / F.sqrt(var_x.cast("double") * var_y.cast("double")), 6
            ).alias("corr"),
        )
    )


TS_CROSS_CORRELATION_SQL = f"""
WITH clicks AS (
    SELECT user_id, date_trunc('day', ts) AS day,
           CAST(round(round(sum(value), 2) * 100, 0) AS BIGINT) AS x
    FROM events WHERE event_type = 'click' GROUP BY 1, 2
), purchases AS (
    SELECT user_id, date_trunc('day', ts) AS day,
           CAST(round(round(sum(value), 2) * 100, 0) AS BIGINT) AS y
    FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), m AS (
    SELECT c.user_id,
           count(*) AS n_days,
           CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
           CAST(sum(x * y) AS BIGINT) AS sxy,
           CAST(sum(x * x) AS BIGINT) AS sxx,
           CAST(sum(y * y) AS BIGINT) AS syy
    FROM clicks c JOIN purchases p ON c.user_id = p.user_id AND c.day = p.day
    GROUP BY c.user_id
)
SELECT user_id, n_days,
       round((n_days * sxy - sx * sy)
             / sqrt(CAST(n_days * sxx - sx * sx AS DOUBLE)
                    * CAST(n_days * syy - sy * sy AS DOUBLE)), 6) AS corr
FROM m
WHERE n_days >= {CORR_MIN_DAYS}
  AND n_days * sxx - sx * sx > 0
  AND n_days * syy - sy * sy > 0
"""


# --------------------------------------------------------------------------
# InfluxQL CUMULATIVE_SUM(): per-series running sum
# --------------------------------------------------------------------------

def ts_cumulative_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series running sum (InfluxQL ``CUMULATIVE_SUM(value)`` over the
    narrow layout, the reference's series shape at influx_service.py:183-189).

    Determinism: a running double sum depends on accumulation order only
    through the FRAME, and the frame here is totally ordered (ts,
    event_id tiebreak), so both engines add the same values in the same
    order — but to be immune even to fused-multiply differences the sum
    runs over exact integer CENTS and divides once at the end.

    Scale: one window per series key — partition-parallel across series;
    a single series' history streams through one task in ts order
    (WindowExec is running-frame, not materialize-all).
    """
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cents = F.round(F.col("value") * 100).cast("long")
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        (F.sum(cents).over(w) / F.lit(100.0)).alias("cumulative"),
    )


TS_CUMULATIVE_SUM_SQL = """
SELECT event_id, user_id, event_type, ts, value,
       sum(CAST(round(value * 100, 0) AS BIGINT)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ) / 100.0 AS cumulative
FROM events
"""


def ts_cumulative_sum_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe EXACT twin of :func:`ts_cumulative_sum` (VERDICT
    r7 #5 — STRESS_r07 measured 2.03x under a hot series): the same
    per-series running sum, computed as a chunked scan so a hot series
    never serializes into one running-frame task.

    The classic parallel prefix-sum decomposition, with calendar DAYS
    as the chunk key (``to_date(ts)`` is monotone in ``ts``, so
    (day, ts, event_id) ordering == (ts, event_id) ordering and the
    decomposition is exact; the sum is integer cents, so re-association
    is bit-exact too):

    1. local running sum within (series, day) — the hot series fans
       out over its days instead of one task;
    2. per-(series, day) totals via a map-side-combinable hash agg;
    3. running day-OFFSET per series over the totals — a window over
       n_days rows per series, bounded by the calendar, not the data;
    4. equi-join the offsets back and add.

    Same output rows as the plain form — registered against the SAME
    oracle SQL, so both stay hash-green. The plain form remains the
    cheaper plan for balanced series (one exchange instead of three);
    this is the plan a 100-TB deployment runs when one device floods.
    """
    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    cents = F.round(F.col("value") * 100).cast("long")
    wloc = (
        Window.partitionBy("user_id", "event_type", "day")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        "value",
        "day",
        F.sum(cents).over(wloc).alias("local_cum"),
    )
    totals = ev.groupBy("user_id", "event_type", "day").agg(
        F.sum(cents).alias("day_sum")
    )
    woff = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = totals.select(
        "user_id",
        "event_type",
        "day",
        F.coalesce(F.sum("day_sum").over(woff), F.lit(0)).alias("offset"),
    )
    return (
        local.join(offsets, ["user_id", "event_type", "day"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            "value",
            ((F.col("local_cum") + F.col("offset")) / F.lit(100.0)).alias(
                "cumulative"
            ),
        )
    )


# --------------------------------------------------------------------------
# PromQL increase()/rate() with counter-reset handling
# --------------------------------------------------------------------------

def ts_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly counter increase and per-second rate with reset detection —
    the PromQL ``increase()``/``rate()`` semantics a monitoring user of
    the reference's InfluxDB would run over a counter series.

    A counter only goes up; a drop means the process restarted and the
    counter rebased to ~0, so the post-reset sample counts fully toward
    the increase (PromQL convention): per-sample delta = value - prev if
    it is >= 0 else value. Deltas are exact integer cents, summed per
    (series, hour); rate divides by 3600 once.

    Scale: lag over the per-series window (partition-parallel), then one
    map-side-combinable hourly rollup. No Python, no driver state.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    cents = F.round(F.col("value") * 100).cast("long")
    prev = F.lag(cents).over(w)
    delta = F.when(prev.isNull(), F.lit(None).cast("long")).otherwise(
        F.when(cents - prev >= 0, cents - prev).otherwise(cents)
    )
    per_sample = ev.select(
        "user_id",
        "event_type",
        F.date_trunc("hour", F.col("ts")).alias("hour"),
        delta.alias("delta_cents"),
        F.when(cents < prev, F.lit(1)).otherwise(F.lit(0)).alias("is_reset"),
    ).filter(F.col("delta_cents").isNotNull())
    return per_sample.groupBy("user_id", "event_type", "hour").agg(
        (F.sum("delta_cents") / F.lit(100.0)).alias("increase"),
        F.round(F.sum("delta_cents") / F.lit(100.0) / F.lit(3600.0), 6).alias(
            "rate_per_s"
        ),
        F.sum("is_reset").alias("n_resets"),
        F.count(F.lit(1)).alias("n_samples"),
    )


TS_COUNTER_RATE_SQL = """
WITH lagged AS (
    SELECT user_id, event_type,
           date_trunc('hour', ts) AS hour,
           CAST(round(value * 100, 0) AS BIGINT) AS cents,
           lag(CAST(round(value * 100, 0) AS BIGINT)) OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id
           ) AS prev
    FROM events
)
SELECT user_id, event_type, hour,
       sum(CASE WHEN cents - prev >= 0 THEN cents - prev ELSE cents END)
           / 100.0 AS increase,
       round(sum(CASE WHEN cents - prev >= 0 THEN cents - prev
                      ELSE cents END) / 100.0 / 3600.0, 6) AS rate_per_s,
       CAST(sum(CASE WHEN cents < prev THEN 1 ELSE 0 END) AS BIGINT)
           AS n_resets,
       count(*) AS n_samples
FROM lagged
WHERE prev IS NOT NULL
GROUP BY 1, 2, 3
"""


# --------------------------------------------------------------------------
# InfluxQL PERCENTILE(value, N): nearest-rank element selection per series
# --------------------------------------------------------------------------

def ts_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series p50/p95 via nearest-rank selection (InfluxQL
    ``PERCENTILE(value, N)`` returns an actual sample, not an
    interpolation — so the result is an exact element and hash-stable).

    The rank index is pure integer math, ceil(N·n/100) = (N·n+99) div
    100 — no float percentile boundary ambiguity between engines. Ties
    in value are broken by event_id so the selected ROW (not just the
    value) is deterministic.

    Scale: one row_number window per series plus a combinable rollup —
    the same shape every per-series ranking here uses.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("value", "event_id")
    ranked = ev.select(
        "user_id",
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id", "event_type"))
        .alias("n"),
    )
    idx = lambda p: (F.lit(p) * F.col("n") + 99) / F.lit(100)  # noqa: E731
    p50 = F.floor(idx(50)).cast("long")
    p95 = F.floor(idx(95)).cast("long")
    return ranked.groupBy("user_id", "event_type").agg(
        F.max("n").alias("n_points"),
        F.max(F.when(F.col("rn") == p50, F.col("value"))).alias("p50_value"),
        F.max(F.when(F.col("rn") == p95, F.col("value"))).alias("p95_value"),
    )


TS_PERCENTILE_SQL = """
WITH ranked AS (
    SELECT user_id, event_type, value,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY user_id, event_type) AS n
    FROM events
)
SELECT user_id, event_type,
       max(n) AS n_points,
       max(CASE WHEN rn = (50 * n + 99) // 100 THEN value END) AS p50_value,
       max(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95_value
FROM ranked
GROUP BY 1, 2
"""


def ts_percentile_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The skew-safe EXACT twin of :func:`ts_percentile` (VERDICT r7
    #5 — STRESS_r07 measured 2.61x under a hot series): the same
    nearest-rank p50/p95 VALUES, computed by counting instead of
    ranking rows.

    The selected value at rank ceil(N·n/100) is the first distinct
    value whose running count reaches the rank — ties at the boundary
    yield the same VALUE whichever row the event_id tiebreak picks, so
    the two forms agree exactly on the (value-only) output columns.

    Plan: phase 1 collapses the corpus to (series, value) counts via a
    map-side-combinable hash agg — the hot series reduces through
    partial aggregation, never sorting in one task; phase 2's running
    count runs over the per-series DISTINCT-value list, bounded by the
    value domain (fixed-precision metrics), not by the row count. The
    documented bound: a series whose values are all distinct
    degenerates phase 2 back to row count — for unbounded-precision
    floats use a quantizing twin (cents here) or percentile_approx.
    Registered against the SAME oracle SQL as the exact form.
    """
    ev = load_table(spark, sf_dir, "events")
    vc = ev.groupBy("user_id", "event_type", "value").agg(
        F.count(F.lit(1)).alias("c")
    )
    wcum = (
        Window.partitionBy("user_id", "event_type")
        .orderBy("value")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("user_id", "event_type")
    ranked = vc.select(
        "user_id",
        "event_type",
        "value",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wall).alias("n"),
    )
    idx = lambda p: (F.lit(p) * F.col("n") + 99) / F.lit(100)  # noqa: E731
    p50 = F.floor(idx(50)).cast("long")
    p95 = F.floor(idx(95)).cast("long")
    return ranked.groupBy("user_id", "event_type").agg(
        F.max("n").alias("n_points"),
        F.min(F.when(F.col("cum") >= p50, F.col("value"))).alias("p50_value"),
        F.min(F.when(F.col("cum") >= p95, F.col("value"))).alias("p95_value"),
    )


# --------------------------------------------------------------------------
# InfluxQL SPREAD()/FIRST()/LAST()/ELAPSED() aggregate family per series
# --------------------------------------------------------------------------

def ts_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series value envelope: SPREAD (max-min), FIRST/LAST sample by
    time, and total ELAPSED seconds — the InfluxQL selector/aggregate
    family over the reference's narrow layout.

    FIRST/LAST pick the extreme-(ts, event_id) ROW via rank-1 selection
    (min_by-style arg-extremes have nondeterministic tie behavior;
    row_number with an explicit tiebreak does not). min/max/subtraction
    of identical doubles is bit-exact; elapsed uses integer microseconds.

    Scale: one per-series window for the two rank columns, one
    combinable rollup.
    """
    ev = load_table(spark, sf_dir, "events")
    asc = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    desc = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    us = F.unix_micros(F.col("ts"))
    ranked = ev.select(
        "user_id",
        "event_type",
        "value",
        us.alias("us"),
        F.row_number().over(asc).alias("rn_first"),
        F.row_number().over(desc).alias("rn_last"),
    )
    return ranked.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        (F.max("value") - F.min("value") + F.lit(0.0)).alias("spread"),
        F.max(F.when(F.col("rn_first") == 1, F.col("value"))).alias(
            "first_value"
        ),
        F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias(
            "last_value"
        ),
        ((F.max("us") - F.min("us")) / F.lit(1000000.0)).alias(
            "elapsed_total_s"
        ),
    )


TS_SPREAD_SQL = """
WITH ranked AS (
    SELECT user_id, event_type, value, epoch_us(ts) AS us,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts, event_id) AS rn_first,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn_last
    FROM events
)
SELECT user_id, event_type,
       count(*) AS n_points,
       min(value) AS min_value,
       max(value) AS max_value,
       max(value) - min(value) + 0.0 AS spread,
       max(CASE WHEN rn_first = 1 THEN value END) AS first_value,
       max(CASE WHEN rn_last = 1 THEN value END) AS last_value,
       (max(us) - min(us)) / 1000000.0 AS elapsed_total_s
FROM ranked
GROUP BY 1, 2
"""


# --------------------------------------------------------------------------
# InfluxQL HOLT_WINTERS(): double-exponential-smoothing forecast per series
# --------------------------------------------------------------------------

HW_ALPHA = 0.5      # level smoothing (exactly representable in binary)
HW_BETA = 0.5       # trend smoothing
HW_LOOKBACK = 64    # fit on the last K points — bounds per-series state
HW_TAIL_SALT = 8    # hot-series tail selection fans out over 8 tasks
HW_HORIZON = 3


def hw_linear_fold(xs: "F.Column") -> "F.Column":
    """``struct(l, b)`` fold column for Holt's linear-trend recurrence
    over a value array ``xs`` — shared by :func:`ts_holt_winters` and
    the InfluxQL compiler's ``HOLT_WINTERS(…, N, 0)`` lowering. Init:
    l₂ = x₂, b₂ = x₂ − x₁. l′ appears EXPANDED inside b′ — identical
    association to the DuckDB recursive-CTE twin."""
    a, na = F.lit(HW_ALPHA), F.lit(1 - HW_ALPHA)
    b, nb = F.lit(HW_BETA), F.lit(1 - HW_BETA)
    init = F.struct(
        F.element_at(xs, 2).alias("l"),
        (F.element_at(xs, 2) - F.element_at(xs, 1)).alias("b"),
    )
    return F.aggregate(
        F.slice(xs, 3, F.greatest(F.size(xs) - 2, F.lit(0))),
        init,
        lambda acc, x: F.struct(
            (a * x + na * (acc["l"] + acc["b"])).alias("l"),
            (
                b * (a * x + na * (acc["l"] + acc["b"]) - acc["l"])
                + nb * acc["b"]
            ).alias("b"),
        ),
    )


def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend forecast per series (the non-seasonal
    ``HOLT_WINTERS(h, 0)`` of InfluxQL): fit level+trend on the last
    ``HW_LOOKBACK`` samples, forecast ``HW_HORIZON`` steps ahead.

    The recurrence (l ← α·x + (1-α)(l+b); b ← β(l'−l) + (1-β)b, seeded
    l₂=x₂, b₂=x₂−x₁ — the textbook init, which locks exactly onto a
    linear series, test-pinned) is inherently sequential, so it runs as an
    ``F.aggregate`` fold over the per-series sample array — a fixed
    sequence of IEEE ops on identical doubles, written with identical
    association in the DuckDB twin, hence bit-deterministic. α=β=0.5
    are exactly representable.

    Scale: the row_number tail-filter bounds every per-series array to
    K=64 elements BEFORE collect_list, so executor state is O(K) per
    series regardless of history length; series are independent
    (partition-parallel). This is the composition rule for sequential
    recurrences on Spark: bound the sequence first, then fold it as
    array data — never iterate rows.

    Skew guard (VERDICT r7 #5 — STRESS_r07 measured 3.0x under a hot
    series): the tail selection itself is SALTED two-phase. Top-K by
    (ts, event_id) is decomposable — the global tail is a subset of
    the union of per-salt tails — so phase 1 ranks within
    (series, salt) buckets (a hot series sorts in HW_TAIL_SALT
    parallel tasks, each 1/HW_TAIL_SALT of its rows) and phase 2
    re-ranks the <= HW_TAIL_SALT x K survivors per series (bounded,
    O(K·S) rows). Identical output rows, hence identical oracle hash;
    the balanced-case overhead is one extra exchange of K·S rows per
    series.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    wsalt = Window.partitionBy("user_id", "event_type", "salt").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    cand = (
        ev.withColumn(
            "salt", F.pmod(F.xxhash64("event_id"), F.lit(HW_TAIL_SALT))
        )
        .select(
            "user_id",
            "event_type",
            "ts",
            "event_id",
            "value",
            "salt",
            F.row_number().over(wsalt).alias("rn_local"),
        )
        .filter(F.col("rn_local") <= HW_LOOKBACK)
    )
    wdesc = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    tail = cand.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        "value",
        F.row_number().over(wdesc).alias("rn"),
    ).filter(F.col("rn") <= HW_LOOKBACK)
    arrs = (
        tail.groupBy("user_id", "event_type")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("pts")
        )
        .select(
            "user_id",
            "event_type",
            F.transform(F.col("pts"), lambda s: s["value"]).alias("xs"),
        )
        .filter(F.size("xs") >= 2)
    )
    xs = F.col("xs")
    fitted = arrs.select(
        "user_id", "event_type", F.size(xs).alias("n_fit"),
        hw_linear_fold(xs).alias("st"),
    )
    # Emit RAW doubles: the fold is a fixed IEEE sequence verified
    # bit-identical across Spark, DuckDB, and a Python reference, so the
    # values need no rounding — and a final round(x, 6) would be the
    # ONLY divergence source (engines disagree on decimal-midpoint
    # halves; one fixture row lands exactly on one).
    lvl, tr = F.col("st")["l"], F.col("st")["b"]
    out_cols = [lvl.alias("level"), tr.alias("trend")] + [
        (lvl + F.lit(float(h)) * tr).alias(f"fc_{h}")
        for h in range(1, HW_HORIZON + 1)
    ]
    return fitted.select("user_id", "event_type", "n_fit", *out_cols)


# The oracle uses a RECURSIVE CTE for the fold, not list_reduce with a
# struct accumulator: DuckDB 1.0.0 evaluates struct-lambda fields
# sequentially IN PLACE from the second application on (the 'b'
# expression sees the freshly-updated 'l' — verified with an
# (acc, x) -> {l: ..., b: acc.l} probe returning the NEW l), which is
# both wrong for a simultaneous recurrence and version-dependent. A
# recursive CTE computes both state fields in one SELECT over the OLD
# row — simultaneous by SQL semantics in every engine.
TS_HOLT_WINTERS_SQL = f"""
WITH RECURSIVE tail AS (
    SELECT user_id, event_type, ts, event_id, value,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY ts DESC, event_id DESC) AS rn
    FROM events WHERE value IS NOT NULL
), arrs AS (
    SELECT user_id, event_type,
           list_transform(
               list_sort(list({{'ts': ts, 'id': event_id, 'v': value}})),
               s -> s.v) AS xs
    FROM tail WHERE rn <= {HW_LOOKBACK}
    GROUP BY 1, 2
), step(user_id, event_type, i, l, b) AS (
    SELECT user_id, event_type, 2, xs[2], xs[2] - xs[1]
    FROM arrs WHERE len(xs) >= 2
  UNION ALL
    SELECT s.user_id, s.event_type, s.i + 1,
           {HW_ALPHA} * a.xs[s.i + 1] + {1 - HW_ALPHA} * (s.l + s.b),
           {HW_BETA} * ({HW_ALPHA} * a.xs[s.i + 1]
                        + {1 - HW_ALPHA} * (s.l + s.b) - s.l)
               + {1 - HW_BETA} * s.b
    FROM step s
    JOIN arrs a ON s.user_id = a.user_id AND s.event_type = a.event_type
    WHERE s.i < len(a.xs)
), fitted AS (
    SELECT s.user_id, s.event_type, len(a.xs) AS n_fit, s.l, s.b
    FROM step s
    JOIN arrs a ON s.user_id = a.user_id AND s.event_type = a.event_type
    WHERE s.i = len(a.xs)
)
SELECT user_id, event_type, n_fit,
       l AS level,
       b AS trend,
       l + 1.0 * b AS fc_1,
       l + 2.0 * b AS fc_2,
       l + 3.0 * b AS fc_3
FROM fitted
"""


# --------------------------------------------------------------------------
# Additive seasonal Holt-Winters (triple exponential smoothing)
# --------------------------------------------------------------------------

HWS_SEASON = 7    # weekly pattern over daily buckets
HWS_HORIZON = 3
HWS_GAMMA = 0.5   # seasonal smoothing (α, β shared with ts_holt_winters)


def hw_seasonal_fold(xs: "F.Column", S: int) -> "F.Column":
    """``struct(l, b, seas)`` fold column for the additive seasonal
    Holt-Winters recurrence over a bucket-value array ``xs`` — shared
    by :func:`ts_holt_winters_seasonal` and the InfluxQL compiler's
    ``HOLT_WINTERS(…, N, S>0)`` lowering. Init: l₀ = x_S,
    b₀ = (x_S − x₁)/S, seasᵢ = xᵢ − l₀ (rotated so seas[1] is the
    component of the NEXT point); each step pops the head and appends
    the freshly smoothed component. l′ appears EXPANDED inside b′ and
    s′ — identical association to the DuckDB recursive-CTE twin, hence
    bit-deterministic doubles."""
    a, na = F.lit(HW_ALPHA), F.lit(1 - HW_ALPHA)
    b, nb = F.lit(HW_BETA), F.lit(1 - HW_BETA)
    g, ng = F.lit(HWS_GAMMA), F.lit(1 - HWS_GAMMA)
    l0 = F.element_at(xs, S)
    init = F.struct(
        l0.alias("l"),
        ((F.element_at(xs, S) - F.element_at(xs, 1)) / F.lit(float(S))).alias(
            "b"
        ),
        F.transform(F.slice(xs, 1, S), lambda v: v - l0).alias("seas"),
    )

    def _step(acc, x):
        s1 = F.element_at(acc["seas"], 1)
        lp = a * (x - s1) + na * (acc["l"] + acc["b"])
        return F.struct(
            lp.alias("l"),
            (b * (a * (x - s1) + na * (acc["l"] + acc["b"]) - acc["l"])
             + nb * acc["b"]).alias("b"),
            F.concat(
                F.slice(acc["seas"], 2, S - 1),
                F.array(
                    g * (x - (a * (x - s1) + na * (acc["l"] + acc["b"])))
                    + ng * s1
                ),
            ).alias("seas"),
        )

    return F.aggregate(
        F.slice(xs, S + 1, F.greatest(F.size(xs) - S, F.lit(0))), init, _step
    )


def ts_holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal Holt-Winters (triple exponential smoothing)
    per event_type over DAILY bucket means, season length
    ``HWS_SEASON``=7 (weekly pattern) — the seasonal completion of
    :func:`ts_holt_winters` (InfluxQL ``HOLT_WINTERS(…, N, S)`` with
    S > 0; InfluxDB fits its smoothing constants with Nelder-Mead,
    which is neither deterministic nor reproducible across builds, so
    this engine pins α=β=γ=0.5 — exactly representable — and states
    the init: l₀ = x_S, b₀ = (x_S − x₁)/S, seasᵢ = xᵢ − l₀).

    The seasonal state rides the fold accumulator as a ROTATING
    S-element array: seas[1] is always the component of the NEXT
    point, and each step pops the head and appends the freshly
    smoothed component — so the recurrence stays a single
    ``F.aggregate`` over the per-series bucket array (the same
    bound-the-sequence-then-fold composition rule as the non-seasonal
    twin; state is O(S) per series, series partition-parallel).
    Identical association is written in the DuckDB recursive-CTE twin,
    hence bit-deterministic raw doubles.

    Forecast h steps out: ŷ = l + h·b + seas[((h−1) mod S) + 1].
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(_avg2(F.sum("value"), F.count(F.lit(1))).alias("xv"))
    arrs = (
        daily.groupBy("event_type")
        .agg(
            F.array_sort(F.collect_list(F.struct("day", "xv"))).alias("pts")
        )
        .select(
            "event_type",
            F.transform(F.col("pts"), lambda s: s["xv"]).alias("xs"),
        )
        .filter(F.size("xs") >= HWS_SEASON + 1)
    )
    S = HWS_SEASON
    xs = F.col("xs")
    fold = hw_seasonal_fold(xs, S)
    fitted = arrs.select(
        "event_type", F.size(xs).alias("n_fit"), fold.alias("st")
    )
    h = F.explode(F.sequence(F.lit(1), F.lit(HWS_HORIZON))).alias("horizon")
    st = F.col("st")
    return fitted.select("event_type", "n_fit", "st", h).select(
        "event_type",
        "n_fit",
        F.col("horizon").cast("int").alias("horizon"),
        (
            st["l"]
            + F.col("horizon").cast("double") * st["b"]
            + F.element_at(st["seas"], ((F.col("horizon") - 1) % S + 1).cast("int"))
        ).alias("forecast"),
    )


TS_HOLT_WINTERS_SEASONAL_SQL = f"""
WITH RECURSIVE daily AS (
    SELECT date_trunc('day', ts) AS day, event_type,
           {_AVG2_SQL.format(v="value")} AS xv
    FROM events GROUP BY 1, 2
), arrs AS (
    SELECT event_type,
           list_transform(list_sort(list({{'d': day, 'v': xv}})),
                          s -> s.v) AS xs
    FROM daily GROUP BY 1
), step(event_type, i, l, b, seas) AS (
    SELECT event_type, {HWS_SEASON}, xs[{HWS_SEASON}],
           (xs[{HWS_SEASON}] - xs[1]) / {float(HWS_SEASON)},
           list_transform(xs[1:{HWS_SEASON}], v -> v - xs[{HWS_SEASON}])
    FROM arrs WHERE len(xs) >= {HWS_SEASON} + 1
  UNION ALL
    SELECT s.event_type, s.i + 1,
           0.5 * (a.xs[s.i + 1] - s.seas[1]) + 0.5 * (s.l + s.b),
           0.5 * (0.5 * (a.xs[s.i + 1] - s.seas[1]) + 0.5 * (s.l + s.b)
                  - s.l) + 0.5 * s.b,
           list_append(s.seas[2:],
               0.5 * (a.xs[s.i + 1]
                      - (0.5 * (a.xs[s.i + 1] - s.seas[1])
                         + 0.5 * (s.l + s.b)))
               + 0.5 * s.seas[1])
    FROM step s
    JOIN arrs a ON s.event_type = a.event_type
    WHERE s.i < len(a.xs)
), fitted AS (
    SELECT s.event_type, len(a.xs) AS n_fit, s.l, s.b, s.seas
    FROM step s
    JOIN arrs a ON s.event_type = a.event_type AND s.i = len(a.xs)
)
SELECT f.event_type, f.n_fit, h.h AS horizon,
       f.l + CAST(h.h AS DOUBLE) * f.b
           + f.seas[((h.h - 1) % {HWS_SEASON}) + 1] AS forecast
FROM fitted f
CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) h
"""


# --------------------------------------------------------------------------
# Seasonal (hour-of-day) baseline profile + per-event residual
# --------------------------------------------------------------------------

def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition: a fleet-wide hour-of-day mean
    profile per transducer type, and each event's residual against its
    profile slot — the 'is this reading unusual FOR THIS TIME OF DAY'
    monitoring primitive (a daily-periodicity seasonal baseline).

    The profile is exact (round(sum,2)/count, the module's determinism
    pattern); residual = value − profile is one IEEE subtraction of
    identical doubles.

    Scale: the profile is ≤ |types|·24 rows regardless of corpus size —
    an aggregate that collapses 100 TB to a broadcastable dimension —
    and the join back is a broadcast hash join, so the event stream is
    never shuffled at all (plan: one exchange for the profile agg only).
    """
    ev = load_table(spark, sf_dir, "events")
    hod = F.hour(F.col("ts")).alias("hour_of_day")
    profile = (
        ev.groupBy(F.col("event_type"), hod)
        .agg(
            _avg2(F.sum("value"), F.count(F.lit(1))).alias("profile_mean"),
            F.count(F.lit(1)).alias("n_in_slot"),
        )
    )
    return (
        ev.select("event_id", "user_id", "event_type", hod, "ts", "value")
        .join(F.broadcast(profile), ["event_type", "hour_of_day"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            "ts",
            "hour_of_day",
            "value",
            "profile_mean",
            "n_in_slot",
            (F.round(F.col("value") - F.col("profile_mean"), 6) + F.lit(0.0)).alias(
                "residual"
            ),
        )
    )


TS_SEASONAL_PROFILE_SQL = f"""
WITH profile AS (
    SELECT event_type, hour(ts) AS hour_of_day,
           {_AVG2_SQL.format(v="value")} AS profile_mean,
           count(*) AS n_in_slot
    FROM events GROUP BY 1, 2
)
SELECT e.event_id, e.user_id, e.event_type, e.ts,
       hour(e.ts) AS hour_of_day, e.value,
       p.profile_mean, p.n_in_slot,
       round(e.value - p.profile_mean, 6) + 0.0 AS residual
FROM events e
JOIN profile p
  ON e.event_type = p.event_type AND hour(e.ts) = p.hour_of_day
"""


# --------------------------------------------------------------------------
# InfluxQL MODE(): most frequent value per series
# --------------------------------------------------------------------------

def ts_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series modal value (InfluxQL ``MODE(value)``), ties broken
    toward the smallest value — fully deterministic, no float math at
    all (counts and exact value equality).

    Scale: one combinable (series, value) count, then a top-1 rank per
    series — Spark plans the rank-1 filter as WindowGroupLimit, so only
    each group's best row survives the final sort.
    """
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type", "value").agg(
        F.count(F.lit(1)).alias("n_occurrences")
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("n_occurrences"), F.asc("value")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("value").alias("mode_value"),
            "n_occurrences",
        )
    )


TS_MODE_SQL = """
WITH counts AS (
    SELECT user_id, event_type, value, count(*) AS n_occurrences
    FROM events GROUP BY 1, 2, 3
), ranked AS (
    SELECT user_id, event_type, value, n_occurrences,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY n_occurrences DESC, value) AS rn
    FROM counts
)
SELECT user_id, event_type, value AS mode_value, n_occurrences
FROM ranked WHERE rn = 1
"""


# --------------------------------------------------------------------------
# InfluxQL ELAPSED(): time between consecutive points per series
# --------------------------------------------------------------------------

def ts_elapsed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InfluxQL ``ELAPSED(value, 1ms)`` over the reference's series
    shape (user_id=device, event_type=transducer — influx_service.py
    :183-189): microseconds between consecutive points of a series.
    First point of each series has no predecessor → elapsed_us NULL
    (InfluxQL drops it; keeping the NULL row preserves the 1:1 input
    mapping and the hash gate covers it).

    Determinism: pure integer math (epoch microseconds), no floats.
    Scale: one lag window per series key — partition-parallel, running
    frame, nothing materialized beyond a single row of look-back.
    """
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    return ev.select(
        "event_id",
        "user_id",
        "event_type",
        "ts",
        (us - F.lag(us).over(w)).alias("elapsed_us"),
    )


TS_ELAPSED_SQL = """
SELECT event_id, user_id, event_type, ts,
       epoch_us(ts) - lag(epoch_us(ts)) OVER (
           PARTITION BY user_id, event_type ORDER BY ts, event_id
       ) AS elapsed_us
FROM events
"""


# --------------------------------------------------------------------------
# InfluxQL TOP(value, N) per time bucket
# --------------------------------------------------------------------------

TOP_PER_BUCKET_N = 3


def ts_top_per_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InfluxQL ``SELECT TOP(value, 3) .. GROUP BY time(1d), type``:
    the N highest readings per (event_type, day bucket), deterministic
    tie-break (value DESC, event_id ASC).

    Scale: rank windows partition on (type, bucket) — fine-grained
    keys, partition-parallel; Spark plans the rank-1..N filter as
    WindowGroupLimit so only each bucket's N best rows survive the
    final sort (same shape as ts_mode / rel_topk_orders).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts")).alias("bucket")
    w = Window.partitionBy("event_type", "bucket").orderBy(
        F.desc("value"), F.asc("event_id")
    )
    return (
        ev.select("event_id", "user_id", "event_type", day, "ts", "value")
        .withColumn("rank_in_bucket", F.row_number().over(w))
        .filter(F.col("rank_in_bucket") <= TOP_PER_BUCKET_N)
        .select(
            "event_type", "bucket", "rank_in_bucket",
            "event_id", "user_id", "ts", "value",
        )
    )


TS_TOP_PER_BUCKET_SQL = f"""
WITH ranked AS (
    SELECT event_type, date_trunc('day', ts) AS bucket,
           row_number() OVER (
               PARTITION BY event_type, date_trunc('day', ts)
               ORDER BY value DESC, event_id
           ) AS rank_in_bucket,
           event_id, user_id, ts, value
    FROM events
)
SELECT event_type, bucket, rank_in_bucket, event_id, user_id, ts, value
FROM ranked WHERE rank_in_bucket <= {TOP_PER_BUCKET_N}
"""


# --------------------------------------------------------------------------
# InfluxQL SAMPLE(value, N): deterministic pseudo-random sample
# --------------------------------------------------------------------------

SAMPLE_N = 5


def ts_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InfluxQL ``SAMPLE(value, 5)`` per series, made REPRODUCIBLE:
    instead of InfluxQL's nondeterministic reservoir, rows are ranked
    by ``md5(event_id)`` — a fixed keyed hash both engines compute
    byte-identically — and the 5 smallest digests win. Same
    deterministic-sampling discipline as pipeline_stratified_sample
    (LCG there, md5 here: the per-row key is already unique so a
    cryptographic digest needs no mixing care).

    Scale: hash + rank window per series key; no shuffle beyond the
    series repartition, WindowGroupLimit cuts to N per group.
    """
    ev = load_table(spark, sf_dir, "events")
    digest = F.md5(F.col("event_id").cast("string").cast("binary"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        digest.asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= SAMPLE_N)
        .select(
            "user_id", "event_type",
            F.col("rn").alias("sample_idx"),
            "event_id", "ts", "value",
        )
    )


TS_SAMPLE_SQL = f"""
WITH ranked AS (
    SELECT user_id, event_type,
           row_number() OVER (
               PARTITION BY user_id, event_type
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
           ) AS sample_idx,
           event_id, ts, value
    FROM events
)
SELECT user_id, event_type, sample_idx, event_id, ts, value
FROM ranked WHERE sample_idx <= {SAMPLE_N}
"""


# --------------------------------------------------------------------------
# CUSUM changepoint: per-series mean-shift locator
# --------------------------------------------------------------------------

def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series CUSUM changepoint: the point maximizing the absolute
    centered cumulative sum |S_i| = |Σ_{j≤i}(x_j − x̄)| — the classic
    single-changepoint estimate for a mean shift (Page's CUSUM /
    binary-segmentation first split).

    Determinism: ALL integer math. With cents c_j = round(100·x_j) and
    n the series length, n·S_i = n·Σ_{j≤i}c_j − i·Σc_j is exact in
    int64 (|n·S| ≤ n²·max|c| ≈ 10⁴·10⁴·10⁵ ≪ 2⁶³ at any per-series
    cardinality the fixtures reach; at 10⁹-row series switch to
    decimal(38)). The argmax tie-breaks toward the earliest (ts,
    event_id) — fully ordered, hash-stable. ``score_cents`` reports
    |S_i| = |n·S_i|/n in exact cents scaled back to value units.

    Scale: two windows per series key (running sum + rank), both
    partition-parallel running frames; one broadcastable per-series
    total via a window over the same partition — no driver round-trip,
    no global window.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    series = Window.partitionBy("user_id", "event_type")
    wrun = series.orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = series.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    widx = series.orderBy("ts", "event_id")
    scored = ev.select(
        "user_id",
        "event_type",
        "ts",
        "event_id",
        (
            F.count(F.lit(1)).over(wall) * F.sum(cents).over(wrun)
            - F.row_number().over(widx) * F.sum(cents).over(wall)
        ).alias("ns"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    wbest = Window.partitionBy("user_id", "event_type").orderBy(
        F.abs(F.col("ns")).desc(), F.col("ts").asc(), F.col("event_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(wbest))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_type",
            F.col("ts").alias("cp_ts"),
            F.col("event_id").alias("cp_event_id"),
            (F.abs(F.col("ns")) / (F.col("n") * F.lit(100.0))).alias("cusum_peak"),
        )
    )


TS_CHANGEPOINT_SQL = """
WITH c AS (
    SELECT user_id, event_type, ts, event_id,
           CAST(round(value * 100, 0) AS BIGINT) AS cents
    FROM events
), scored AS (
    SELECT user_id, event_type, ts, event_id,
           count(*) OVER (PARTITION BY user_id, event_type)
             * sum(cents) OVER (
                   PARTITION BY user_id, event_type
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - row_number() OVER (
                   PARTITION BY user_id, event_type ORDER BY ts, event_id)
             * sum(cents) OVER (PARTITION BY user_id, event_type)
           AS ns,
           count(*) OVER (PARTITION BY user_id, event_type) AS n
    FROM c
), ranked AS (
    SELECT user_id, event_type, ts, event_id, ns, n,
           row_number() OVER (PARTITION BY user_id, event_type
                              ORDER BY abs(ns) DESC, ts, event_id) AS rn
    FROM scored
)
SELECT user_id, event_type, ts AS cp_ts, event_id AS cp_event_id,
       abs(ns) / (n * 100.0) AS cusum_peak
FROM ranked WHERE rn = 1
"""


QUERIES = {
    "ts_anomaly_zscore": ts_anomaly_zscore,
    "ts_mode": ts_mode,
    "ts_seasonal_profile": ts_seasonal_profile,
    "ts_holt_winters": ts_holt_winters,
    "ts_holt_winters_seasonal": ts_holt_winters_seasonal,
    "ts_histogram_quantile": ts_histogram_quantile,
    "ts_burn_rate": ts_burn_rate,
    "ts_availability": ts_availability,
    "ts_retention": ts_retention,
    "ts_series_scan": ts_series_scan,
    "ts_moving_avg": ts_moving_avg,
    "ts_sliding_agg": ts_sliding_agg,
    "ts_integral": ts_integral,
    "ts_ohlc": ts_ohlc,
    "ts_funnel": ts_funnel,
    "ts_difference": ts_difference,
    "ts_gap_fill": ts_gap_fill,
    "ts_interpolate": ts_interpolate,
    "ts_device_wide": ts_device_wide,
    "ts_bucket_agg": ts_bucket_agg,
    "ts_last_value": ts_last_value,
    "ts_cross_series_join": ts_cross_series_join,
    "ts_series_catalog": ts_series_catalog,
    "ts_throughput": ts_throughput,
    "ts_registry_enriched": ts_registry_enriched,
    "ts_asof_join": ts_asof_join,
    "ts_sessionize": ts_sessionize,
    "ts_histogram": ts_histogram,
    "ts_mad_outliers": ts_mad_outliers,
    "ts_ewma": ts_ewma,
    "ts_pattern_match": ts_pattern_match,
    "ts_downsample": ts_downsample,
    "ts_cross_correlation": ts_cross_correlation,
    "ts_cumulative_sum": ts_cumulative_sum,
    "ts_cumulative_sum_chunked": ts_cumulative_sum_chunked,
    "ts_counter_rate": ts_counter_rate,
    "ts_percentile": ts_percentile,
    "ts_percentile_twophase": ts_percentile_twophase,
    "ts_spread": ts_spread,
    "ts_elapsed": ts_elapsed,
    "ts_top_per_bucket": ts_top_per_bucket,
    "ts_sample": ts_sample,
    "ts_changepoint": ts_changepoint,
}

ORACLES = {
    "ts_anomaly_zscore": TS_ANOMALY_ZSCORE_SQL,
    "ts_holt_winters": TS_HOLT_WINTERS_SQL,
    "ts_holt_winters_seasonal": TS_HOLT_WINTERS_SEASONAL_SQL,
    "ts_histogram_quantile": TS_HISTOGRAM_QUANTILE_SQL,
    "ts_burn_rate": TS_BURN_RATE_SQL,
    "ts_availability": TS_AVAILABILITY_SQL,
    "ts_seasonal_profile": TS_SEASONAL_PROFILE_SQL,
    "ts_mode": TS_MODE_SQL,
    "ts_retention": TS_RETENTION_SQL,
    "ts_series_scan": TS_SERIES_SCAN_SQL,
    "ts_moving_avg": TS_MOVING_AVG_SQL,
    "ts_sliding_agg": TS_SLIDING_AGG_SQL,
    "ts_integral": TS_INTEGRAL_SQL,
    "ts_ohlc": TS_OHLC_SQL,
    "ts_funnel": TS_FUNNEL_SQL,
    "ts_difference": TS_DIFFERENCE_SQL,
    "ts_gap_fill": TS_GAP_FILL_SQL,
    "ts_interpolate": TS_INTERPOLATE_SQL,
    "ts_device_wide": TS_DEVICE_WIDE_SQL,
    "ts_bucket_agg": TS_BUCKET_AGG_SQL,
    "ts_last_value": TS_LAST_VALUE_SQL,
    "ts_cross_series_join": TS_CROSS_SERIES_JOIN_SQL,
    "ts_series_catalog": TS_SERIES_CATALOG_SQL,
    "ts_throughput": TS_THROUGHPUT_SQL,
    "ts_registry_enriched": TS_REGISTRY_ENRICHED_SQL,
    "ts_asof_join": TS_ASOF_JOIN_SQL,
    "ts_sessionize": TS_SESSIONIZE_SQL,
    "ts_histogram": TS_HISTOGRAM_SQL,
    "ts_mad_outliers": TS_MAD_OUTLIERS_SQL,
    "ts_ewma": TS_EWMA_SQL,
    "ts_pattern_match": TS_PATTERN_MATCH_SQL,
    "ts_downsample": TS_DOWNSAMPLE_SQL,
    "ts_cross_correlation": TS_CROSS_CORRELATION_SQL,
    "ts_cumulative_sum": TS_CUMULATIVE_SUM_SQL,
    # exact twin: same semantics, same oracle — both hash-green
    "ts_cumulative_sum_chunked": TS_CUMULATIVE_SUM_SQL,
    "ts_counter_rate": TS_COUNTER_RATE_SQL,
    "ts_percentile": TS_PERCENTILE_SQL,
    "ts_percentile_twophase": TS_PERCENTILE_SQL,
    "ts_spread": TS_SPREAD_SQL,
    "ts_elapsed": TS_ELAPSED_SQL,
    "ts_top_per_bucket": TS_TOP_PER_BUCKET_SQL,
    "ts_sample": TS_SAMPLE_SQL,
    "ts_changepoint": TS_CHANGEPOINT_SQL,
}
