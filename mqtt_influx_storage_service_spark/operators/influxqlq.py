"""Registered InfluxQL queries — the compiler surface, oracle-checked.

Each entry hands a literal InfluxQL string (the language the
reference's InfluxDB users actually write; the points it reads back
are the ones ``influx_service.py:183-200`` writes) to
:func:`functions.influxql.influxql` and registers a hand-written
DuckDB twin of the *semantics* the compiler promises. The oracle is
NOT machine-generated from the same AST — it is an independent
statement of what each InfluxQL query means, so a compiler bug cannot
cancel out of both sides.

Determinism notes (repo-wide hash discipline, see
``operators/timeseries.py``): MEAN is round(round(sum,2)/count,6);
PERCENTILE/MEDIAN are nearest-rank element selection with the
``event_id`` tiebreak; FIRST/LAST are rank-1 row selection by
(time, event_id); SUM of the 2-decimal fixture field rounds to cents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from pyspark.sql import functions as F

from ..functions.influxql import EventsCatalog, MeasurementSchema, influxql
from ..sources import load_table


class LineitemCatalog:
    """A second measurement catalog — over the TPC-H ``lineitem``
    table — proving the compiler is schema-generic, not hardwired to
    the events fixture: two tags (returnflag, linestatus), two fields
    (quantity, extendedprice), time = l_shipdate, tiebreak =
    (l_orderkey, l_linenumber) folded into one synthetic key."""

    MEASUREMENTS = ["lineitem"]

    def __init__(self, sf_dir: str):
        self.sf_dir = sf_dir
        self.schema = MeasurementSchema(
            tags=["returnflag", "linestatus"],
            fields=["quantity", "extendedprice"],
            tiebreak="rowkey",
        )

    def measurement_names(self) -> list[str]:
        return list(self.MEASUREMENTS)

    def frame(self, spark: SparkSession) -> DataFrame:
        li = load_table(spark, self.sf_dir, "lineitem")
        return li.select(
            F.lit("lineitem").alias("measurement"),
            F.col("l_shipdate").cast("timestamp").alias("time"),
            F.col("l_returnflag").alias("returnflag"),
            F.col("l_linestatus").alias("linestatus"),
            F.col("l_quantity").alias("quantity"),
            F.col("l_extendedprice").alias("extendedprice"),
            (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("rowkey"),
        )


class NarrowSeriesCatalog(EventsCatalog):
    """The untagged narrow-layout binding of the same ``events``
    relation: NO queryable tags, but the relation carries the physical
    series identity (``user_id``, the stand-in for the reference's
    decomposed-topic series, influx_service.py:183-189) as
    ``MeasurementSchema.series_col``. Raw per-point transforms must
    still compute per series — this catalog proves the compiler
    partitions the raw WindowExec by the physical series column
    instead of sorting the whole measurement in one partition
    (VERDICT r5 #2)."""

    def __init__(self, sf_dir: str):
        super().__init__(sf_dir)
        self.schema = MeasurementSchema(
            tags=[],
            fields=["value"],
            tiebreak="event_id",
            series_col="user_id",
        )


_US_1D = 86_400_000_000
_US_1W = 7 * _US_1D

_BUCKET = "make_timestamp(epoch_us(ts) - epoch_us(ts) % {iv})"
_MEAN = "round(round(sum(value), 2) / count(value), 6)"


def _q(query: str, now: str | None = None, catalog_cls=None):
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        cat = catalog_cls(sf_dir) if catalog_cls else None
        return influxql(spark, sf_dir, query, catalog=cat, now=now)

    run.__doc__ = f"InfluxQL: {query}" + (f" [now={now}]" if now else "")
    return run


# -- 1. raw time-range scan (the InfluxQL form of ts_series_scan) ----------

IQ_RAW_SELECT = (
    "SELECT value FROM click "
    "WHERE time >= '2024-01-05 00:00:00' AND time < '2024-01-20 00:00:00' "
    "AND user_id = 7 ORDER BY time LIMIT 200"
)

IQ_RAW_SELECT_SQL = """
SELECT ts AS time, value
FROM events
WHERE event_type = 'click' AND user_id = 7
  AND ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
ORDER BY ts
LIMIT 200
"""


# -- 2. GROUP BY time(1d), tag with MEAN/COUNT -----------------------------

IQ_MEAN_BY_DAY = (
    "SELECT MEAN(value) AS mean_value, COUNT(value) AS n FROM view "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d), user_id fill(none)"
)

IQ_MEAN_BY_DAY_SQL = f"""
SELECT user_id,
       {_BUCKET.format(iv=_US_1D)} AS time,
       {_MEAN} AS mean_value,
       count(value) AS n
FROM events
WHERE event_type = 'view'
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-02-01 00:00:00'
GROUP BY 1, 2
"""


# -- 3. selector family per tag (FIRST/LAST/SPREAD, no time bucket) --------

IQ_SELECTORS = (
    "SELECT FIRST(value) AS first_value, LAST(value) AS last_value, "
    "SPREAD(value) AS spread_value, COUNT(value) AS n "
    "FROM purchase GROUP BY user_id"
)

IQ_SELECTORS_SQL = """
WITH ranked AS (
    SELECT user_id, value,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn_first,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts DESC, event_id DESC) AS rn_last
    FROM events
    WHERE event_type = 'purchase'
)
SELECT user_id,
       max(CASE WHEN rn_first = 1 THEN value END) AS first_value,
       max(CASE WHEN rn_last = 1 THEN value END) AS last_value,
       max(value) - min(value) + 0.0 AS spread_value,
       count(value) AS n
FROM ranked
GROUP BY 1
"""


# -- 4. nearest-rank PERCENTILE / MEDIAN per week --------------------------

IQ_PERCENTILE_WEEKLY = (
    "SELECT PERCENTILE(value, 95) AS p95_value, MEDIAN(value) AS med_value "
    "FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-03-01 00:00:00' "
    "GROUP BY time(1w)"
)

IQ_PERCENTILE_WEEKLY_SQL = f"""
WITH ranked AS (
    SELECT {_BUCKET.format(iv=_US_1W)} AS time,
           value,
           row_number() OVER (PARTITION BY epoch_us(ts) // {_US_1W}
                              ORDER BY value, event_id) AS rn,
           count(*) OVER (PARTITION BY epoch_us(ts) // {_US_1W}) AS n
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-03-01 00:00:00'
)
SELECT time,
       max(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS p95_value,
       max(CASE WHEN rn = (50 * n + 99) // 100 THEN value END) AS med_value
FROM ranked
GROUP BY 1
"""


# -- 5. fill(previous) over the generated daily spine ----------------------

IQ_FILL_PREVIOUS = (
    "SELECT MAX(value) AS max_value FROM signup "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-15 00:00:00' "
    "GROUP BY time(1d), user_id fill(previous)"
)

IQ_FILL_PREVIOUS_SQL = f"""
WITH agg AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1D)} AS time,
           max(value) AS max_value
    FROM events
    WHERE event_type = 'signup'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2
), spine AS (
    SELECT u.user_id, make_timestamp(g.us) AS time
    FROM (SELECT DISTINCT user_id FROM agg) u
    CROSS JOIN (
        SELECT unnest(generate_series(
            b.lo - b.lo % {_US_1D},
            (b.hi - 1) - (b.hi - 1) % {_US_1D},
            {_US_1D})) AS us
        FROM (SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:00') AS lo,
                     epoch_us(TIMESTAMP '2024-01-15 00:00:00') AS hi) b
    ) g
)
SELECT s.user_id, s.time,
       last_value(a.max_value IGNORE NULLS) OVER (
           PARTITION BY s.user_id ORDER BY s.time
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS max_value
FROM spine s
LEFT JOIN agg a ON a.user_id = s.user_id AND a.time = s.time
"""


# -- 6. bucket transforms: DERIVATIVE + MOVING_AVERAGE over MEAN -----------

IQ_DERIVATIVE_DAILY = (
    "SELECT DERIVATIVE(MEAN(value), 1h) AS deriv_per_h, "
    "MOVING_AVERAGE(MEAN(value), 3) AS ma3 FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_DERIVATIVE_DAILY_SQL = f"""
WITH agg AS (
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1
)
SELECT time,
       round((mv - lag(mv) OVER w)
             / ((epoch_us(time) - epoch_us(lag(time) OVER w))
                / 3600000000.0), 6) AS deriv_per_h,
       round(sum(mv) OVER (ORDER BY time
                           ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
             / count(mv) OVER (ORDER BY time
                               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
             6) AS ma3
FROM agg
WINDOW w AS (ORDER BY time)
"""


# -- 7. measurement regex → one pruned scan, measurement column ------------

IQ_REGEX_UNION = (
    "SELECT COUNT(value) AS n, SUM(value) AS sum_value FROM /^(click|view)$/ "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_REGEX_UNION_SQL = f"""
SELECT event_type AS measurement,
       {_BUCKET.format(iv=_US_1D)} AS time,
       count(value) AS n,
       round(sum(value), 2) AS sum_value
FROM events
WHERE event_type IN ('click', 'view')
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-02-01 00:00:00'
GROUP BY 1, 2
"""


# -- r5 coverage completions for parser features without oracle rows ------

# GROUP BY time(1d, 6h): offset-shifted buckets (InfluxQL's second
# time() argument — local-midnight alignment for non-UTC fleets)
IQ_BUCKET_OFFSET = (
    "SELECT MEAN(value) AS mean_value FROM view "
    "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-20 00:00:00' "
    "GROUP BY time(1d, 6h)"
)

_OFF_6H = 6 * 3_600_000_000

IQ_BUCKET_OFFSET_SQL = f"""
SELECT make_timestamp((epoch_us(ts) - {_OFF_6H})
       - (epoch_us(ts) - {_OFF_6H}) % {_US_1D} + {_OFF_6H}) AS time,
       {_MEAN} AS mean_value
FROM events
WHERE event_type = 'view'
  AND ts >= TIMESTAMP '2024-01-02 00:00:00'
  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
GROUP BY 1
"""


# arithmetic over aggregates (field expression tree with a Bin root)
IQ_AGG_ARITHMETIC = (
    "SELECT MAX(value) - MIN(value) AS swing, "
    "SUM(value) / COUNT(value) AS naive_mean "
    "FROM purchase "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY user_id"
)

IQ_AGG_ARITHMETIC_SQL = """
SELECT user_id,
       max(value) - min(value) AS swing,
       round(sum(value), 2) / count(value) AS naive_mean
FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-02-01 00:00:00'
GROUP BY 1
"""


# tag regex predicate (WHERE user_id =~ /…/ — rlike on the tag)
IQ_TAG_REGEX = (
    "SELECT COUNT(value) AS n, MEAN(value) AS mean_value FROM click "
    "WHERE user_id =~ /^1[0-9]$/ "
    "AND time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY user_id"
)

IQ_TAG_REGEX_SQL = f"""
SELECT user_id,
       count(value) AS n,
       {_MEAN} AS mean_value
FROM events
WHERE event_type = 'click'
  AND regexp_matches(CAST(user_id AS VARCHAR), '^1[0-9]$')
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-02-01 00:00:00'
GROUP BY 1
"""


# raw (non-bucketed) DERIVATIVE/DIFFERENCE: point-to-point per series
IQ_RAW_DERIVATIVE = (
    "SELECT DERIVATIVE(value, 1m) AS rate_per_min, "
    "DIFFERENCE(value) AS dv FROM signup "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-20 00:00:00'"
)

IQ_RAW_DERIVATIVE_SQL = """
WITH pts AS (
    SELECT user_id, ts, event_id, value, epoch_us(ts) AS us
    FROM events
    WHERE event_type = 'signup'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
), lagged AS (
    SELECT ts AS time,
           round((value - lag(value) OVER w)
                 / ((us - lag(us) OVER w) / 60000000.0), 6) AS rate_per_min,
           value - lag(value) OVER w AS dv
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT time, rate_per_min, dv
FROM lagged
WHERE rate_per_min IS NOT NULL OR dv IS NOT NULL
"""


# raw CUMULATIVE_SUM + MOVING_AVERAGE: running per-series forms
IQ_RAW_RUNNING = (
    "SELECT CUMULATIVE_SUM(value) AS cum, "
    "MOVING_AVERAGE(value, 5) AS ma5 FROM view "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-10 00:00:00'"
)

IQ_RAW_RUNNING_SQL = """
WITH pts AS (
    SELECT user_id, ts, event_id,
           CAST(round(value * 100) AS BIGINT) AS cents
    FROM events
    WHERE event_type = 'view'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-10 00:00:00'
)
SELECT ts AS time,
       CAST(sum(cents) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
           / 100.0 AS cum,
       round(CAST(sum(cents) OVER w5 AS BIGINT) / 100.0
             / count(cents) OVER w5, 6) AS ma5
FROM pts
WINDOW w5 AS (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
"""


# raw (no GROUP BY time) NON_NEGATIVE_ forms: per-series point-to-point
# lag transforms where a negative result becomes NULL; a row whose
# every transform column is NULL is dropped (the raw-path rule, so a
# point that only ever moved down disappears — matching InfluxQL's
# omission of negative results). Exercises influxql.py's raw_lag_funcs
# NON_NEGATIVE_ membership (ADVICE r5: the raw form was routed to
# _compile_raw but skipped by the loop and crashed in _scalar).
IQ_RAW_NONNEG = (
    "SELECT NON_NEGATIVE_DERIVATIVE(value, 1m) AS up_rate, "
    "NON_NEGATIVE_DIFFERENCE(value) AS up_dv FROM signup "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-20 00:00:00'"
)

IQ_RAW_NONNEG_SQL = """
WITH pts AS (
    SELECT user_id, ts, event_id, value, epoch_us(ts) AS us
    FROM events
    WHERE event_type = 'signup'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
), lagged AS (
    SELECT ts AS time,
           round((value - lag(value) OVER w)
                 / ((us - lag(us) OVER w) / 60000000.0), 6) AS deriv,
           value - lag(value) OVER w AS dv
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), nn AS (
    SELECT time,
           CASE WHEN deriv >= 0 THEN deriv END AS up_rate,
           CASE WHEN dv    >= 0 THEN dv    END AS up_dv
    FROM lagged
)
SELECT time, up_rate, up_dv
FROM nn
WHERE up_rate IS NOT NULL OR up_dv IS NOT NULL
"""


# raw DERIVATIVE over the UNTAGGED narrow layout: no queryable tags,
# per-series window partitioned by the physical series column
# (schema.series_col) — the output carries no series identity, but the
# lag runs per series, never across them (VERDICT r5 #2; plan-pinned in
# tests/test_influxql.py::test_untagged_raw_window_is_partitioned).
IQ_RAW_SERIES = (
    "SELECT DERIVATIVE(value, 1m) AS rate FROM signup "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-20 00:00:00'"
)

IQ_RAW_SERIES_SQL = """
WITH pts AS (
    SELECT user_id, ts, event_id, value, epoch_us(ts) AS us
    FROM events
    WHERE event_type = 'signup'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
), lagged AS (
    SELECT ts AS time,
           round((value - lag(value) OVER w)
                 / ((us - lag(us) OVER w) / 60000000.0), 6) AS rate
    FROM pts
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT time, rate FROM lagged WHERE rate IS NOT NULL
"""


# NON_NEGATIVE_DERIVATIVE over daily means + scalar math projection
IQ_NONNEG_DERIVATIVE = (
    "SELECT NON_NEGATIVE_DERIVATIVE(MEAN(value), 1h) AS up_rate FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_NONNEG_DERIVATIVE_SQL = f"""
WITH agg AS (
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1
), d AS (
    SELECT time,
           round((mv - lag(mv) OVER w)
                 / ((epoch_us(time) - epoch_us(lag(time) OVER w))
                    / 3600000000.0), 6) AS deriv
    FROM agg
    WINDOW w AS (ORDER BY time)
)
SELECT time, CASE WHEN deriv >= 0 THEN deriv END AS up_rate
FROM d
"""


IQ_SCALAR_MATH = (
    "SELECT SQRT(value) AS root, FLOOR(value) AS lo, CEIL(value) AS hi, "
    "ABS(value - 100) AS dist FROM purchase "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-08 00:00:00'"
)

IQ_SCALAR_MATH_SQL = """
SELECT ts AS time, sqrt(value) AS root,
       CAST(floor(value) AS DOUBLE) AS lo,
       CAST(ceil(value) AS DOUBLE) AS hi,
       abs(value - 100) AS dist
FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-01-08 00:00:00'
"""


# SLIMIT: first N series in tag order (series pagination)
IQ_SLIMIT = (
    "SELECT MEAN(value) AS mean_value FROM signup "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1w), user_id SLIMIT 5"
)

IQ_SLIMIT_SQL = f"""
WITH agg AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1W)} AS time,
           {_MEAN} AS mean_value
    FROM events
    WHERE event_type = 'signup'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1, 2
), series AS (
    SELECT user_id FROM (
        SELECT DISTINCT user_id FROM agg
    ) ORDER BY user_id LIMIT 5
)
SELECT a.user_id, a.time, a.mean_value
FROM agg a JOIN series s ON a.user_id = s.user_id
"""


# -- long tail (VERDICT r5 #7) ---------------------------------------------

# mixed selector + aggregate field list in one bucketed statement
IQ_SELECTOR_MIXED = (
    "SELECT MAX(value) AS mx, MEAN(value) AS mn, COUNT(value) AS n "
    "FROM purchase "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-15 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_SELECTOR_MIXED_SQL = f"""
SELECT {_BUCKET.format(iv=_US_1D)} AS time,
       max(value) AS mx,
       {_MEAN} AS mn,
       count(value) AS n
FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-01-15 00:00:00'
GROUP BY 1
"""


# selector + BARE fields: the selected POINT's row — its max value and
# the tag value AT that point, one per bucket (ties: earliest point,
# event_id tiebreak)
IQ_SELECTOR_BARE = (
    "SELECT MAX(value) AS mx, user_id FROM purchase "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-15 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_SELECTOR_BARE_SQL = f"""
WITH pts AS (
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           value, user_id, ts, event_id
    FROM events
    WHERE event_type = 'purchase'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
)
SELECT time, value AS mx, user_id
FROM (SELECT *, row_number() OVER (
          PARTITION BY time
          ORDER BY value DESC, ts, event_id) AS rn
      FROM pts)
WHERE rn = 1
"""


# fill() x SLIMIT in ONE statement: the zero-filled bucket spine is
# generated per series, THEN pagination keeps the first 3 series — the
# spine of a kept series survives intact
IQ_FILL_SLIMIT = (
    "SELECT MEAN(value) AS m FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-08 00:00:00' "
    "GROUP BY time(1d), user_id fill(0) SLIMIT 3"
)

IQ_FILL_SLIMIT_SQL = f"""
WITH agg AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS m
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-08 00:00:00'
    GROUP BY 1, 2
), series AS (
    SELECT user_id FROM (SELECT DISTINCT user_id FROM agg)
    ORDER BY user_id LIMIT 3
), spine AS (
    SELECT s.user_id, make_timestamp(t.b) AS time
    FROM series s
    CROSS JOIN (SELECT unnest(range(
        epoch_us(TIMESTAMP '2024-01-01 00:00:00'),
        epoch_us(TIMESTAMP '2024-01-08 00:00:00'),
        {_US_1D})) AS b) t
)
SELECT sp.user_id, sp.time, coalesce(a.m, 0.0) AS m
FROM spine sp
LEFT JOIN agg a ON a.user_id = sp.user_id AND a.time = sp.time
"""


# two-level transform-of-aggregate nesting: running total of daily
# means, then its day-over-day change (equals the mean on dense days —
# the nesting is the point, not the arithmetic)
IQ_TRANSFORM_NESTED = (
    "SELECT DIFFERENCE(CUMULATIVE_SUM(MEAN(value))) AS d FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-15 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_TRANSFORM_NESTED_SQL = f"""
WITH agg AS (
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1
), cum AS (
    SELECT time,
           round(sum(mv) OVER (ORDER BY time
                               ROWS UNBOUNDED PRECEDING), 6) AS cs
    FROM agg
)
SELECT time, cs - lag(cs) OVER (ORDER BY time) AS d
FROM cum
"""


# TZ clause: daily buckets aligned to America/New_York wall midnight.
# The oracle encodes the fixed EST offset (-05:00) — exact for this
# query's Jan 2024 range (no DST transition between 2023-11-05 and
# 2024-03-10); the ENGINE consults the IANA tzdb and the DST boundary
# behavior is pinned by tests/test_influxql.py::test_tz_dst_boundary.
IQ_TZ = (
    "SELECT MEAN(value) AS m FROM purchase "
    "WHERE time >= '2024-01-02 00:00:00' AND time < '2024-01-20 00:00:00' "
    "GROUP BY time(1d) TZ('America/New_York')"
)

_US_5H = 5 * 3_600_000_000

IQ_TZ_SQL = f"""
SELECT make_timestamp((epoch_us(ts) - {_US_5H})
                      - (epoch_us(ts) - {_US_5H}) % {_US_1D}
                      + {_US_5H}) AS time,
       {_MEAN} AS m
FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-02 00:00:00'
  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
GROUP BY 1
"""


# raw select organized per SERIES: GROUP BY <tag> with no aggregate
# projects the tag and paginates each series independently
IQ_RAW_GROUPED = (
    "SELECT value FROM error "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-10 00:00:00' "
    "GROUP BY user_id LIMIT 3"
)

IQ_RAW_GROUPED_SQL = """
WITH pts AS (
    SELECT ts AS time, user_id, value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts) AS rn
    FROM events
    WHERE event_type = 'error'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-10 00:00:00'
)
SELECT time, user_id, value FROM pts WHERE rn <= 3
"""


# DISTINCT(field): the distinct-values selector — one row per distinct
# field value per bucket (column named by the alias; InfluxDB default
# name is 'distinct'). One hash aggregation; map-side combine bounds
# the shuffle at |buckets|×|distinct values|.
IQ_DISTINCT = (
    "SELECT DISTINCT(value) AS dv FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-08 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_DISTINCT_SQL = f"""
SELECT DISTINCT {_BUCKET.format(iv=_US_1D)} AS time, value AS dv
FROM events
WHERE event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-01-08 00:00:00'
  AND value IS NOT NULL
"""


# SOFFSET: series pagination window — SLIMIT n SOFFSET m keeps series
# ranked m+1..m+n in tag order (the page AFTER iq_slimit's)
IQ_SOFFSET = (
    "SELECT MEAN(value) AS mean_value FROM signup "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1w), user_id SLIMIT 5 SOFFSET 5"
)

IQ_SOFFSET_SQL = f"""
WITH agg AS (
    SELECT user_id,
           {{bucket}} AS time,
           {_MEAN} AS mean_value
    FROM events
    WHERE event_type = 'signup'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1, 2
), series AS (
    SELECT user_id FROM (
        SELECT DISTINCT user_id FROM agg
    ) ORDER BY user_id LIMIT 5 OFFSET 5
)
SELECT a.user_id, a.time, a.mean_value
FROM agg a JOIN series s ON a.user_id = s.user_id
""".format(bucket=_BUCKET.format(iv=_US_1W))


# LIMIT in a tag-grouped statement paginates PER SERIES (InfluxQL's
# response shape: "GROUP BY * LIMIT 3" = 3 points per series) — the
# first 2 daily buckets of each user after skipping 1
IQ_LIMIT_PER_SERIES = (
    "SELECT MEAN(value) AS m FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-15 00:00:00' "
    "GROUP BY time(1d), user_id LIMIT 2 OFFSET 1"
)

IQ_LIMIT_PER_SERIES_SQL = f"""
WITH agg AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS m
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2
)
SELECT user_id, time, m
FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                   ORDER BY time) AS rn
      FROM agg)
WHERE rn > 1 AND rn <= 3
"""


# LIMIT + OFFSET: row pagination over the time-ordered raw result
IQ_LIMIT_OFFSET = (
    "SELECT value FROM purchase "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-20 00:00:00' "
    "AND user_id = 95 ORDER BY time LIMIT 10 OFFSET 5"
)

IQ_LIMIT_OFFSET_SQL = """
SELECT ts AS time, value
FROM events
WHERE event_type = 'purchase' AND user_id = 95
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
ORDER BY ts
LIMIT 10 OFFSET 5
"""


# -- 8. SHOW TAG VALUES (series catalog surface) ---------------------------

IQ_SHOW_TAG_VALUES = "SHOW TAG VALUES FROM click WITH KEY = user_id"

IQ_SHOW_TAG_VALUES_SQL = """
SELECT DISTINCT 'user_id' AS key, CAST(user_id AS VARCHAR) AS value
FROM events
WHERE event_type = 'click'
"""


# -- 9. subquery: weekly envelope over the daily per-user mean -------------

IQ_SUBQUERY_ROLLUP = (
    "SELECT MAX(mean_value) AS max_mean, MIN(mean_value) AS min_mean, "
    "COUNT(mean_value) AS n_cells FROM "
    "(SELECT MEAN(value) AS mean_value FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d), user_id) "
    "GROUP BY time(1w)"
)

IQ_SUBQUERY_ROLLUP_SQL = f"""
WITH inner_q AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mean_value
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1, 2
)
SELECT make_timestamp(epoch_us(time) - epoch_us(time) % {_US_1W}) AS time,
       max(mean_value) AS max_mean,
       min(mean_value) AS min_mean,
       count(mean_value) AS n_cells
FROM inner_q
GROUP BY 1
"""


# -- 9b. now()-relative range (the most common InfluxQL idiom) -------------
# now() is pinned to a fixed instant (the compiler's injectable clock),
# so the relative bound is deterministic and the oracle states the same
# resolved instant: now() - 2w = 2024-01-16 00:00:00.

IQ_NOW_RELATIVE = (
    "SELECT COUNT(value) AS n, MAX(value) AS max_value FROM error "
    "WHERE time >= now() - 2w AND time < now() "
    "GROUP BY time(1d), user_id"
)

IQ_NOW_RELATIVE_SQL = f"""
SELECT user_id,
       {_BUCKET.format(iv=_US_1D)} AS time,
       count(value) AS n,
       max(value) AS max_value
FROM events
WHERE event_type = 'error'
  AND ts >= TIMESTAMP '2024-01-16 00:00:00'
  AND ts <  TIMESTAMP '2024-01-30 00:00:00'
GROUP BY 1, 2
"""


# -- 9c. second catalog: multi-tag multi-field lineitem measurement --------

IQ_LINEITEM_PROFILE = (
    "SELECT SUM(quantity) AS sum_qty, MEAN(extendedprice) AS avg_price, "
    "COUNT(quantity) AS n FROM lineitem "
    "WHERE time >= '1996-01-01 00:00:00' AND time < '1998-01-01 00:00:00' "
    "GROUP BY time(12w), returnflag, linestatus"
)

_US_12W = 12 * _US_1W

IQ_LINEITEM_PROFILE_SQL = f"""
SELECT l_returnflag AS returnflag,
       l_linestatus AS linestatus,
       make_timestamp(epoch_us(CAST(l_shipdate AS TIMESTAMP))
           - epoch_us(CAST(l_shipdate AS TIMESTAMP)) % {_US_12W}) AS time,
       round(sum(l_quantity), 2) AS sum_qty,
       round(round(sum(l_extendedprice), 2) / count(l_extendedprice), 6)
           AS avg_price,
       count(l_quantity) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY 1, 2, 3
"""


# -- 9d. TOP selector: the N extreme POINTS per bucket ---------------------

IQ_TOP_POINTS = (
    "SELECT TOP(value, 3) AS top_value FROM view "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-29 00:00:00' "
    "GROUP BY time(1w), user_id"
)

IQ_TOP_POINTS_SQL = f"""
WITH b AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1W)} AS bucket,
           ts AS time, value, event_id
    FROM events
    WHERE event_type = 'view'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-29 00:00:00'
), r AS (
    SELECT user_id, bucket, time, value,
           row_number() OVER (PARTITION BY user_id, bucket
                              ORDER BY value DESC, time, event_id) AS rn
    FROM b
)
SELECT user_id, bucket, time, value AS top_value
FROM r WHERE rn <= 3
"""


# TOP(field, tag, N): the extreme value for each of N distinct tag
# values per bucket (InfluxDB's per-tag selector form)
IQ_TOP_TAGS = (
    "SELECT TOP(value, user_id, 3) AS top_value FROM view "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-29 00:00:00' "
    "GROUP BY time(1w)"
)

IQ_TOP_TAGS_SQL = f"""
WITH b AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1W)} AS bucket,
           ts AS time, value, event_id
    FROM events
    WHERE event_type = 'view'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-29 00:00:00'
), reps AS (
    SELECT bucket, time, user_id, value, event_id,
           row_number() OVER (PARTITION BY bucket, user_id
                              ORDER BY value DESC, time, event_id) AS rt
    FROM b
), ranked AS (
    SELECT bucket, time, user_id, value,
           row_number() OVER (PARTITION BY bucket
                              ORDER BY value DESC, time, event_id) AS rn
    FROM reps WHERE rt = 1
)
SELECT bucket, time, user_id, value AS top_value
FROM ranked WHERE rn <= 3
"""


# -- 10. SHOW SERIES (series-key catalog) ----------------------------------

# EXACT spelling: the oracle-hashable form. The plain spelling
# (``SHOW SERIES CARDINALITY``) is InfluxDB's ESTIMATE and lowers onto
# approx_count_distinct (HLL++) — tolerance-tested in
# tests/test_influxql.py, not oracle-hashed (sketch estimates differ
# across engines by design).
IQ_SERIES_CARDINALITY = "SHOW SERIES EXACT CARDINALITY"

IQ_SERIES_CARDINALITY_SQL = """
SELECT CAST(count(DISTINCT event_type || ',user_id='
            || CAST(user_id AS VARCHAR)) AS BIGINT) AS cardinality
FROM events
"""

# Per-measurement tag-value cardinality (InfluxDB's per-measurement
# result blocks): one hash-agg keyed by measurement.
IQ_TAG_VALUES_CARDINALITY = (
    "SHOW TAG VALUES EXACT CARDINALITY WITH KEY = user_id"
)

IQ_TAG_VALUES_CARDINALITY_SQL = """
SELECT event_type AS measurement,
       CAST(count(DISTINCT user_id) AS BIGINT) AS cardinality
FROM events
GROUP BY event_type
ORDER BY measurement
"""


IQ_SHOW_SERIES = "SHOW SERIES FROM purchase"

IQ_SHOW_SERIES_SQL = """
SELECT DISTINCT 'purchase,user_id=' || CAST(user_id AS VARCHAR) AS key
FROM events
WHERE event_type = 'purchase'
"""


# -- r5: the function-surface completions (VERDICT r4 "Next round" #3) -----
# fill(linear), INTEGRAL, ELAPSED, SAMPLE, HOLT_WINTERS — each existed
# as a standalone oracle-green ts_* operator; these entries exercise
# the same semantics THROUGH the parser/compiler.

# -- 14. fill(linear): interior gaps interpolated, edges stay NULL ---------

IQ_FILL_LINEAR = (
    "SELECT MEAN(value) AS mean_value FROM signup "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-15 00:00:00' "
    "GROUP BY time(1d), user_id fill(linear)"
)

IQ_FILL_LINEAR_SQL = f"""
WITH agg AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mean_value
    FROM events
    WHERE event_type = 'signup'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-15 00:00:00'
    GROUP BY 1, 2
), spine AS (
    SELECT u.user_id, make_timestamp(g.us) AS time
    FROM (SELECT DISTINCT user_id FROM agg) u
    CROSS JOIN (
        SELECT unnest(generate_series(
            b.lo - b.lo % {_US_1D},
            (b.hi - 1) - (b.hi - 1) % {_US_1D},
            {_US_1D})) AS us
        FROM (SELECT epoch_us(TIMESTAMP '2024-01-01 00:00:00') AS lo,
                     epoch_us(TIMESTAMP '2024-01-15 00:00:00') AS hi) b
    ) g
), joined AS (
    SELECT s.user_id, s.time, a.mean_value AS mv
    FROM spine s
    LEFT JOIN agg a ON a.user_id = s.user_id AND a.time = s.time
), br AS (
    SELECT user_id, time, mv,
           last_value(mv IGNORE NULLS) OVER wb AS prev_v,
           first_value(mv IGNORE NULLS) OVER wf AS next_v,
           last_value(CASE WHEN mv IS NOT NULL THEN epoch_us(time) END
                      IGNORE NULLS) OVER wb AS prev_t,
           first_value(CASE WHEN mv IS NOT NULL THEN epoch_us(time) END
                       IGNORE NULLS) OVER wf AS next_t
    FROM joined
    WINDOW wb AS (PARTITION BY user_id ORDER BY time
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wf AS (PARTITION BY user_id ORDER BY time
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, time,
       CASE WHEN mv IS NOT NULL THEN mv
            WHEN prev_v IS NULL OR next_v IS NULL THEN NULL
            ELSE prev_v + (next_v - prev_v)
                 * ((epoch_us(time) - prev_t)
                    / CAST(next_t - prev_t AS DOUBLE)) + 0.0
       END AS mean_value
FROM br
"""


# -- 15. INTEGRAL: trapezoidal area per series per bucket ------------------

IQ_INTEGRAL = (
    "SELECT INTEGRAL(value, 1s) AS area FROM purchase "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-29 00:00:00' "
    "GROUP BY time(7d), user_id"
)

IQ_INTEGRAL_SQL = f"""
WITH pts AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1W)} AS time,
           ts, event_id, value, epoch_us(ts) AS us
    FROM events
    WHERE event_type = 'purchase'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-29 00:00:00'
), with_prev AS (
    SELECT user_id, time, value, us,
           lag(value) OVER w AS prev_v,
           lag(us)    OVER w AS prev_us
    FROM pts
    WINDOW w AS (PARTITION BY user_id, time ORDER BY ts, event_id)
)
SELECT user_id, time,
       coalesce(
           CAST(sum(CAST(round((value + prev_v) / 2.0
                               * ((us - prev_us) / 1000000.0)
                               * 1000.0) AS BIGINT)) AS BIGINT) / 1000.0,
           0.0) AS area
FROM with_prev
GROUP BY 1, 2
"""


# -- 16. ELAPSED: integer gap between consecutive points of a series -------

IQ_ELAPSED = (
    "SELECT ELAPSED(value, 1ms) AS gap_ms FROM error "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-20 00:00:00'"
)

IQ_ELAPSED_SQL = """
WITH pts AS (
    SELECT user_id, ts, event_id
    FROM events
    WHERE event_type = 'error'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
), d AS (
    SELECT ts AS time,
           (epoch_us(ts) - lag(epoch_us(ts)) OVER (
                PARTITION BY user_id ORDER BY ts, event_id
           )) * 1000 AS ns
    FROM pts
)
SELECT time, CAST((ns - ns % 1000000) / 1000000 AS BIGINT) AS gap_ms
FROM d WHERE ns IS NOT NULL
"""


# -- 17. SAMPLE: reproducible N-per-bucket sample (md5-ranked) -------------

IQ_SAMPLE = (
    "SELECT SAMPLE(value, 2) FROM view "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-29 00:00:00' "
    "GROUP BY time(7d), user_id"
)

IQ_SAMPLE_SQL = f"""
WITH ranked AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1W)} AS bucket,
           ts AS time, value,
           row_number() OVER (
               PARTITION BY user_id, {_BUCKET.format(iv=_US_1W)}
               ORDER BY md5(CAST(event_id AS VARCHAR)), event_id
           ) AS rn
    FROM events
    WHERE event_type = 'view'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-29 00:00:00'
)
SELECT user_id, bucket, time, value AS sample
FROM ranked WHERE rn <= 2
"""


# -- 18. HOLT_WINTERS: Holt linear-trend forecast of the daily mean --------

IQ_HOLT_WINTERS = (
    "SELECT HOLT_WINTERS(MEAN(value), 3, 0) AS fc FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-20 00:00:00' "
    "GROUP BY time(1d), user_id"
)

# Recursive-CTE fold, NOT list_reduce (same DuckDB struct-lambda hazard
# documented at operators/timeseries.TS_HOLT_WINTERS_SQL); α=β=0.5.
IQ_HOLT_WINTERS_SQL = f"""
WITH RECURSIVE agg AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-20 00:00:00'
    GROUP BY 1, 2
), arrs AS (
    SELECT user_id,
           list_transform(list_sort(list({{'t': time, 'v': mv}})),
                          s -> s.v) AS xs,
           max(time) AS last_t
    FROM agg GROUP BY 1
), step(user_id, i, l, b) AS (
    SELECT user_id, 2, xs[2], xs[2] - xs[1]
    FROM arrs WHERE len(xs) >= 2
  UNION ALL
    SELECT s.user_id, s.i + 1,
           0.5 * a.xs[s.i + 1] + 0.5 * (s.l + s.b),
           0.5 * (0.5 * a.xs[s.i + 1] + 0.5 * (s.l + s.b) - s.l)
               + 0.5 * s.b
    FROM step s
    JOIN arrs a ON s.user_id = a.user_id
    WHERE s.i < len(a.xs)
), fitted AS (
    SELECT s.user_id, a.last_t, s.l, s.b
    FROM step s
    JOIN arrs a ON s.user_id = a.user_id AND s.i = len(a.xs)
)
SELECT f.user_id,
       make_timestamp(epoch_us(f.last_t) + h.h * {_US_1D}) AS time,
       f.l + CAST(h.h AS DOUBLE) * f.b AS fc
FROM fitted f
CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) h
"""


# -- 19. seasonal HOLT_WINTERS: additive triple smoothing, S=7 -------------

IQ_HOLT_WINTERS_SEASONAL = (
    "SELECT HOLT_WINTERS(MEAN(value), 3, 7) AS fc FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-29 00:00:00' "
    "GROUP BY time(1d)"
)

# Same recursive-CTE discipline as the non-seasonal twin; the seasonal
# state is a ROTATING 7-element list (pop head, append the freshly
# smoothed component) so each step is one SELECT over the OLD row.
IQ_HOLT_WINTERS_SEASONAL_SQL = f"""
WITH RECURSIVE agg AS (
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-01-29 00:00:00'
    GROUP BY 1
), arrs AS (
    SELECT 1 AS grp,
           list_transform(list_sort(list({{'t': time, 'v': mv}})),
                          s -> s.v) AS xs,
           max(time) AS last_t
    FROM agg
), step(grp, i, l, b, seas) AS (
    SELECT grp, 7, xs[7], (xs[7] - xs[1]) / 7.0,
           list_transform(xs[1:7], v -> v - xs[7])
    FROM arrs WHERE len(xs) >= 8
  UNION ALL
    SELECT s.grp, s.i + 1,
           0.5 * (a.xs[s.i + 1] - s.seas[1]) + 0.5 * (s.l + s.b),
           0.5 * (0.5 * (a.xs[s.i + 1] - s.seas[1]) + 0.5 * (s.l + s.b)
                  - s.l) + 0.5 * s.b,
           list_append(s.seas[2:],
               0.5 * (a.xs[s.i + 1]
                      - (0.5 * (a.xs[s.i + 1] - s.seas[1])
                         + 0.5 * (s.l + s.b)))
               + 0.5 * s.seas[1])
    FROM step s
    JOIN arrs a ON s.grp = a.grp
    WHERE s.i < len(a.xs)
), fitted AS (
    SELECT s.grp, a.last_t, s.l, s.b, s.seas
    FROM step s
    JOIN arrs a ON s.grp = a.grp AND s.i = len(a.xs)
)
SELECT make_timestamp(epoch_us(f.last_t) + h.h * {_US_1D}) AS time,
       f.l + CAST(h.h AS DOUBLE) * f.b
           + f.seas[((h.h - 1) % 7) + 1] AS fc
FROM fitted f
CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) h
"""


# -- 20. management surface (r7): retention DDL, DROP SERIES, SHOW regex --

# SHOW FROM accepts /regex/ like the SELECT path (aligning the series
# catalog surface with what dashboard tooling issues).
IQ_SHOW_TAG_VALUES_REGEX = (
    "SHOW TAG VALUES FROM /^(click|view)$/ WITH KEY = user_id"
)

IQ_SHOW_TAG_VALUES_REGEX_SQL = """
SELECT DISTINCT 'user_id' AS key, CAST(user_id AS VARCHAR) AS value
FROM events
WHERE event_type IN ('click', 'view')
"""

# SHOW TAG VALUES ... WHERE <time bounds> — the exact statement a
# dashboard template variable issues ("which hosts reported in the
# selected window"); the time bound pushes into the scan.
IQ_SHOW_TAG_VALUES_WHERE = (
    "SHOW TAG VALUES FROM click WITH KEY = user_id "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-03 00:00:00'"
)

IQ_SHOW_TAG_VALUES_WHERE_SQL = """
SELECT DISTINCT 'user_id' AS key, CAST(user_id AS VARCHAR) AS value
FROM events
WHERE event_type = 'click'
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-01-03 00:00:00'
"""

# CREATE/ALTER RETENTION POLICY → SHOW RETENTION POLICIES: the stored
# management model (databases → policies) InfluxDB 1.x tooling
# administers; the reference ensures its database + default policy
# exist at startup (influx_service.py:183-200). Deterministic literal
# relation — the oracle re-states InfluxDB's documented display rules
# (Go-duration format, derived shard-group durations, DEFAULT flip).
_IQ_RETENTION_DDL = [
    "CREATE DATABASE telemetry",
    "CREATE RETENTION POLICY short ON telemetry "
    "DURATION 36h REPLICATION 2",
    "CREATE RETENTION POLICY keep180 ON telemetry "
    "DURATION 4320h REPLICATION 1 SHARD DURATION 168h DEFAULT",
    "ALTER RETENTION POLICY short ON telemetry DURATION 48h",
]


def _iq_retention_policies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """InfluxQL management DDL batch ending in SHOW RETENTION POLICIES
    (autogen infinite default + created/altered policies; shard-group
    durations derive from InfluxDB's <2d→1h / ≤6mo→1d / else 7d
    rule)."""
    from ..functions.influxql import influxql_admin
    from ..retention import MetaStore

    meta = MetaStore()
    for ddl in _IQ_RETENTION_DDL:
        influxql_admin(spark, meta, ddl)
    return influxql_admin(spark, meta, "SHOW RETENTION POLICIES ON telemetry")


IQ_RETENTION_POLICIES_SQL = """
SELECT * FROM (VALUES
    ('autogen', '0s',        '168h0m0s', 1, false),
    ('keep180', '4320h0m0s', '168h0m0s', 1, true),
    ('short',   '48h0m0s',   '24h0m0s',  2, false)
) AS t(name, duration, shardGroupDuration, replicaN, "default")
"""


def _iq_drop_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP SERIES FROM click, error WHERE user_id = 7 — the QUERY-TIME
    complement: per-measurement count/sum of the points that survive
    the series removal (the storage mutation itself is one atomic
    SnapshotTable.delete, pinned in tests/test_influxql.py). The
    predicate is measurement IN (...) AND tag equality — pushed to the
    scan, no shuffle beyond the dimension-sized final aggregate."""
    from ..functions.influxql import (
        drop_series_condition,
        measurement_points,
        parse,
    )

    cat = EventsCatalog(sf_dir)
    stmt = parse("DROP SERIES FROM click, error WHERE user_id = 7")
    cond = drop_series_condition(stmt, cat)
    pts = measurement_points(spark, cat, cat.measurement_names())
    return (
        pts.filter(~cond)
        .groupBy("measurement")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("measurement")
    )


IQ_DROP_SERIES_SQL = """
SELECT event_type AS measurement,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
WHERE NOT (event_type IN ('click', 'error') AND user_id = 7)
GROUP BY event_type
ORDER BY event_type
"""


def _iq_retention_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Query-time retention expiry: points past the default policy's
    cutoff are invisible immediately (InfluxDB RP semantics), before
    any storage sweep runs. The filter is a literal ts bound →
    parquet rowgroup pushdown + date-partition pruning; zero cost at
    100 TB. Policy comes from the MetaStore the DDL built."""
    import datetime

    from ..functions.influxql import influxql_admin
    from ..retention import MetaStore, retention_filter

    meta = MetaStore()
    influxql_admin(spark, meta, "CREATE DATABASE telemetry")
    influxql_admin(
        spark,
        meta,
        "CREATE RETENTION POLICY keep10d ON telemetry "
        "DURATION 240h REPLICATION 1 DEFAULT",
    )
    pol = meta.default_policy("telemetry")
    ev = load_table(spark, sf_dir, "events")
    kept = retention_filter(
        ev, pol, datetime.datetime(2024, 1, 20), time_col="ts"
    )
    return (
        kept.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .orderBy("event_type")
    )


IQ_RETENTION_FILTER_SQL = """
SELECT event_type,
       count(*) AS n,
       round(sum(value), 2) AS sum_value
FROM events
WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
GROUP BY event_type
ORDER BY event_type
"""


# -- scalar math family: the rest of InfluxQL 1.x's math transforms ------
# (libm transcendentals; the hash discipline holds because outputs are
# pre-rounded to 4 decimals at moderate magnitude — an ulp is ~1e-13
# here, nowhere near the 0.5e-4 rounding boundary)

IQ_MATH = (
    "SELECT ROUND(LN(value), 4) AS lnv, ROUND(SIN(value), 4) AS sn, "
    "ROUND(POW(value, 2), 4) AS sq, ROUND(LOG(value, 10), 4) AS lg, "
    "ROUND(EXP(value / 200), 4) AS ex "
    "FROM purchase "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-08 00:00:00'"
)

IQ_MATH_SQL = """
SELECT ts AS time,
       round(ln(value), 4) AS lnv,
       round(sin(value), 4) AS sn,
       round(pow(value, 2), 4) AS sq,
       round(ln(value) / ln(10), 4) AS lg,
       round(exp(value / 200), 4) AS ex
FROM events
WHERE event_type = 'purchase'
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
  AND ts <  TIMESTAMP '2024-01-08 00:00:00'
"""


# -- technical-analysis transforms of aggregates --------------------------
# EMA with N=3: alpha = 0.5 exactly, so every weight is a power of two
# and the ordered fold is bit-identical across engines (the ts_ewma
# discipline). CMO/RSI/KER: exact-integer kernels over 1e6-scaled
# longs — integer sums, one double division, round 6.

IQ_EMA = (
    "SELECT EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 3) AS ema FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_EMA_SQL = f"""
WITH agg AS (
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1
), fr AS (
    SELECT time,
           list(mv) OVER (ORDER BY time
                          ROWS BETWEEN 63 PRECEDING
                                   AND CURRENT ROW) AS l
    FROM agg
)
SELECT time,
       round(
         list_sum(list_transform(range(1, len(l) + 1),
                                 i -> l[i] * pow(0.5, len(l) - i)))
         / ((1 - pow(0.5, len(l))) / 0.5), 6) + 0.0 AS ema
FROM fr
"""


_TA_CENTS = "CAST(round(mv * 1000000) AS BIGINT)"
_TA_DIFFS = "list_transform(range(2, len(l) + 1), i -> l[i] - l[i-1])"
_TA_UP = f"list_sum(list_transform({_TA_DIFFS}, x -> greatest(x, 0)))"
_TA_TOT = f"list_sum(list_transform({_TA_DIFFS}, x -> abs(x)))"


IQ_CMO = (
    "SELECT CHANDE_MOMENTUM_OSCILLATOR(MEAN(value), 5) AS cmo FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_CMO_SQL = f"""
WITH agg AS (
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1
), fr AS (
    SELECT time,
           list({_TA_CENTS}) OVER (ORDER BY time
                                   ROWS BETWEEN 5 PRECEDING
                                            AND CURRENT ROW) AS l
    FROM agg
)
SELECT time,
       CASE WHEN len(l) = 6 AND {_TA_TOT} > 0
            THEN round(100.0 * (2 * {_TA_UP} - {_TA_TOT}) / {_TA_TOT}, 6)
                 + 0.0
       END AS cmo
FROM fr
"""


# RSI per series tag — the window partitions by the tag, proving the
# TA frame is per-series, not global
IQ_RSI = (
    "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 6) AS rsi FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "AND user_id < 40 GROUP BY time(1d), user_id"
)

IQ_RSI_SQL = f"""
WITH agg AS (
    SELECT user_id,
           {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click' AND user_id < 40
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1, 2
), fr AS (
    SELECT user_id, time,
           list({_TA_CENTS}) OVER (PARTITION BY user_id ORDER BY time
                                   ROWS BETWEEN 6 PRECEDING
                                            AND CURRENT ROW) AS l
    FROM agg
)
SELECT user_id, time,
       CASE WHEN len(l) = 7 AND {_TA_TOT} > 0
            THEN round(100.0 * {_TA_UP} / {_TA_TOT}, 6) + 0.0
       END AS rsi
FROM fr
"""


IQ_KER = (
    "SELECT KAUFMANS_EFFICIENCY_RATIO(MEAN(value), 7) AS ker FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_KER_SQL = f"""
WITH agg AS (
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1
), fr AS (
    SELECT time,
           list({_TA_CENTS}) OVER (ORDER BY time
                                   ROWS BETWEEN 7 PRECEDING
                                            AND CURRENT ROW) AS l
    FROM agg
)
SELECT time,
       CASE WHEN len(l) = 8 AND {_TA_TOT} > 0
            THEN round(abs(l[len(l)] - l[1]) / (1.0 * {_TA_TOT}), 6) + 0.0
       END AS ker
FROM fr
"""


# DEMA / TRIX: EMA-kernel compositions (each stage pre-rounded to 6
# decimals, so the combining arithmetic is deterministic IEEE ops on
# identical doubles in both engines; alpha = 0.5 keeps the stage
# weights powers of two)


def _ema_stage_sql(src: str, col: str) -> str:
    """One truncated-renormalized EMA stage (alpha 0.5, K=64) as a
    DuckDB subquery over CTE ``src``, reading ``col``, emitting ``v``."""
    return f"""
    SELECT time,
           round(list_sum(list_transform(range(1, len(l) + 1),
                                         i -> l[i] * pow(0.5, len(l) - i)))
                 / ((1 - pow(0.5, len(l))) / 0.5), 6) + 0.0 AS v
    FROM (SELECT time,
                 list({col}) OVER (ORDER BY time
                                   ROWS BETWEEN 63 PRECEDING
                                            AND CURRENT ROW) AS l
          FROM {src})
    """


_TA_AGG_CTE = f"""
    SELECT {_BUCKET.format(iv=_US_1D)} AS time,
           {_MEAN} AS mv
    FROM events
    WHERE event_type = 'click'
      AND ts >= TIMESTAMP '2024-01-01 00:00:00'
      AND ts <  TIMESTAMP '2024-02-01 00:00:00'
    GROUP BY 1
"""


IQ_DEMA = (
    "SELECT DOUBLE_EXPONENTIAL_MOVING_AVERAGE(MEAN(value), 3) AS d "
    "FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_DEMA_SQL = f"""
WITH agg AS ({_TA_AGG_CTE}),
e1 AS ({_ema_stage_sql("agg", "mv")}),
e2 AS ({_ema_stage_sql("e1", "v")})
SELECT e1.time, round(2 * e1.v - e2.v, 6) + 0.0 AS d
FROM e1 JOIN e2 ON e1.time = e2.time
"""


IQ_TRIX = (
    "SELECT TRIPLE_EXPONENTIAL_DERIVATIVE(MEAN(value), 3) AS tx "
    "FROM click "
    "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-02-01 00:00:00' "
    "GROUP BY time(1d)"
)

IQ_TRIX_SQL = f"""
WITH agg AS ({_TA_AGG_CTE}),
e1 AS ({_ema_stage_sql("agg", "mv")}),
e2 AS ({_ema_stage_sql("e1", "v")}),
e3 AS ({_ema_stage_sql("e2", "v")})
SELECT time,
       round(100.0 * (v - lag(v) OVER (ORDER BY time))
             / lag(v) OVER (ORDER BY time), 6) + 0.0 AS tx
FROM e3
"""


# Grafana's measurement-variable query: regex WITH MEASUREMENT + a
# data-existence WHERE (engine lists measurements with >= 1 matching
# point; the oracle states the same thing as a distinct over the scan)
IQ_SHOW_MEASUREMENTS_WHERE = (
    "SHOW MEASUREMENTS WITH MEASUREMENT =~ /^(c|p|s)/ "
    "WHERE user_id < 5 AND time >= '2024-01-01 00:00:00'"
)

IQ_SHOW_MEASUREMENTS_WHERE_SQL = """
SELECT DISTINCT event_type AS name
FROM events
WHERE regexp_matches(event_type, '^(c|p|s)')
  AND user_id < 5
  AND ts >= TIMESTAMP '2024-01-01 00:00:00'
ORDER BY 1
"""


QUERIES = {
    "iq_holt_winters_seasonal": _q(IQ_HOLT_WINTERS_SEASONAL),
    "iq_fill_linear": _q(IQ_FILL_LINEAR),
    "iq_integral": _q(IQ_INTEGRAL),
    "iq_elapsed": _q(IQ_ELAPSED),
    "iq_sample": _q(IQ_SAMPLE),
    "iq_holt_winters": _q(IQ_HOLT_WINTERS),
    "iq_subquery_rollup": _q(IQ_SUBQUERY_ROLLUP),
    "iq_now_relative": _q(IQ_NOW_RELATIVE, now="2024-01-30 00:00:00"),
    "iq_lineitem_profile": _q(IQ_LINEITEM_PROFILE, catalog_cls=LineitemCatalog),
    "iq_top_points": _q(IQ_TOP_POINTS),
    "iq_show_series": _q(IQ_SHOW_SERIES),
    "iq_series_cardinality": _q(IQ_SERIES_CARDINALITY),
    "iq_tag_values_cardinality": _q(IQ_TAG_VALUES_CARDINALITY),
    "iq_bucket_offset": _q(IQ_BUCKET_OFFSET),
    "iq_agg_arithmetic": _q(IQ_AGG_ARITHMETIC),
    "iq_tag_regex": _q(IQ_TAG_REGEX),
    "iq_raw_derivative": _q(IQ_RAW_DERIVATIVE),
    "iq_raw_running": _q(IQ_RAW_RUNNING),
    "iq_raw_nonneg": _q(IQ_RAW_NONNEG),
    "iq_raw_series": _q(IQ_RAW_SERIES, catalog_cls=NarrowSeriesCatalog),
    "iq_selector_mixed": _q(IQ_SELECTOR_MIXED),
    "iq_selector_bare": _q(IQ_SELECTOR_BARE),
    "iq_fill_slimit": _q(IQ_FILL_SLIMIT),
    "iq_transform_nested": _q(IQ_TRANSFORM_NESTED),
    "iq_tz": _q(IQ_TZ),
    "iq_limit_per_series": _q(IQ_LIMIT_PER_SERIES),
    "iq_raw_grouped": _q(IQ_RAW_GROUPED),
    "iq_distinct": _q(IQ_DISTINCT),
    "iq_soffset": _q(IQ_SOFFSET),
    "iq_top_tags": _q(IQ_TOP_TAGS),
    "iq_nonneg_derivative": _q(IQ_NONNEG_DERIVATIVE),
    "iq_scalar_math": _q(IQ_SCALAR_MATH),
    "iq_slimit": _q(IQ_SLIMIT),
    "iq_limit_offset": _q(IQ_LIMIT_OFFSET),
    "iq_raw_select": _q(IQ_RAW_SELECT),
    "iq_mean_by_day": _q(IQ_MEAN_BY_DAY),
    "iq_selectors": _q(IQ_SELECTORS),
    "iq_percentile_weekly": _q(IQ_PERCENTILE_WEEKLY),
    "iq_fill_previous": _q(IQ_FILL_PREVIOUS),
    "iq_derivative_daily": _q(IQ_DERIVATIVE_DAILY),
    "iq_regex_union": _q(IQ_REGEX_UNION),
    "iq_show_tag_values": _q(IQ_SHOW_TAG_VALUES),
    "iq_show_tag_values_regex": _q(IQ_SHOW_TAG_VALUES_REGEX),
    "iq_show_tag_values_where": _q(IQ_SHOW_TAG_VALUES_WHERE),
    "iq_retention_policies": _iq_retention_policies,
    "iq_drop_series": _iq_drop_series,
    "iq_retention_filter": _iq_retention_filter,
    "iq_math": _q(IQ_MATH),
    "iq_ema": _q(IQ_EMA),
    "iq_cmo": _q(IQ_CMO),
    "iq_rsi": _q(IQ_RSI),
    "iq_ker": _q(IQ_KER),
    "iq_dema": _q(IQ_DEMA),
    "iq_trix": _q(IQ_TRIX),
    "iq_show_measurements_where": _q(IQ_SHOW_MEASUREMENTS_WHERE),
}

ORACLES = {
    "iq_holt_winters_seasonal": IQ_HOLT_WINTERS_SEASONAL_SQL,
    "iq_fill_linear": IQ_FILL_LINEAR_SQL,
    "iq_integral": IQ_INTEGRAL_SQL,
    "iq_elapsed": IQ_ELAPSED_SQL,
    "iq_sample": IQ_SAMPLE_SQL,
    "iq_holt_winters": IQ_HOLT_WINTERS_SQL,
    "iq_subquery_rollup": IQ_SUBQUERY_ROLLUP_SQL,
    "iq_now_relative": IQ_NOW_RELATIVE_SQL,
    "iq_lineitem_profile": IQ_LINEITEM_PROFILE_SQL,
    "iq_top_points": IQ_TOP_POINTS_SQL,
    "iq_show_series": IQ_SHOW_SERIES_SQL,
    "iq_series_cardinality": IQ_SERIES_CARDINALITY_SQL,
    "iq_tag_values_cardinality": IQ_TAG_VALUES_CARDINALITY_SQL,
    "iq_bucket_offset": IQ_BUCKET_OFFSET_SQL,
    "iq_agg_arithmetic": IQ_AGG_ARITHMETIC_SQL,
    "iq_tag_regex": IQ_TAG_REGEX_SQL,
    "iq_raw_derivative": IQ_RAW_DERIVATIVE_SQL,
    "iq_raw_running": IQ_RAW_RUNNING_SQL,
    "iq_raw_nonneg": IQ_RAW_NONNEG_SQL,
    "iq_raw_series": IQ_RAW_SERIES_SQL,
    "iq_selector_mixed": IQ_SELECTOR_MIXED_SQL,
    "iq_selector_bare": IQ_SELECTOR_BARE_SQL,
    "iq_fill_slimit": IQ_FILL_SLIMIT_SQL,
    "iq_transform_nested": IQ_TRANSFORM_NESTED_SQL,
    "iq_tz": IQ_TZ_SQL,
    "iq_limit_per_series": IQ_LIMIT_PER_SERIES_SQL,
    "iq_raw_grouped": IQ_RAW_GROUPED_SQL,
    "iq_distinct": IQ_DISTINCT_SQL,
    "iq_soffset": IQ_SOFFSET_SQL,
    "iq_top_tags": IQ_TOP_TAGS_SQL,
    "iq_nonneg_derivative": IQ_NONNEG_DERIVATIVE_SQL,
    "iq_scalar_math": IQ_SCALAR_MATH_SQL,
    "iq_slimit": IQ_SLIMIT_SQL,
    "iq_limit_offset": IQ_LIMIT_OFFSET_SQL,
    "iq_raw_select": IQ_RAW_SELECT_SQL,
    "iq_mean_by_day": IQ_MEAN_BY_DAY_SQL,
    "iq_selectors": IQ_SELECTORS_SQL,
    "iq_percentile_weekly": IQ_PERCENTILE_WEEKLY_SQL,
    "iq_fill_previous": IQ_FILL_PREVIOUS_SQL,
    "iq_derivative_daily": IQ_DERIVATIVE_DAILY_SQL,
    "iq_regex_union": IQ_REGEX_UNION_SQL,
    "iq_show_tag_values": IQ_SHOW_TAG_VALUES_SQL,
    "iq_show_tag_values_regex": IQ_SHOW_TAG_VALUES_REGEX_SQL,
    "iq_show_tag_values_where": IQ_SHOW_TAG_VALUES_WHERE_SQL,
    "iq_retention_policies": IQ_RETENTION_POLICIES_SQL,
    "iq_drop_series": IQ_DROP_SERIES_SQL,
    "iq_retention_filter": IQ_RETENTION_FILTER_SQL,
    "iq_math": IQ_MATH_SQL,
    "iq_ema": IQ_EMA_SQL,
    "iq_cmo": IQ_CMO_SQL,
    "iq_rsi": IQ_RSI_SQL,
    "iq_ker": IQ_KER_SQL,
    "iq_dema": IQ_DEMA_SQL,
    "iq_trix": IQ_TRIX_SQL,
    "iq_show_measurements_where": IQ_SHOW_MEASUREMENTS_WHERE_SQL,
}
