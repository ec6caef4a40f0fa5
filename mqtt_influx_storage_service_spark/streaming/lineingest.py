"""Streaming line-protocol ingest — the InfluxDB /write endpoint as a
Structured Streaming source.

The reference pushes points at InfluxDB over HTTP; the wire body is
line protocol. This path accepts that SAME wire format as a streamed
text feed (a directory of line files — the journal-relay pattern; on a
cluster the directory's role is played by the broker topic), parses
each line with the built-in (zero-Python) parser from
``functions/lineprotocol.py``, splits malformed lines to a quarantine
sink (A16, same contract as the topic-grammar split in ``ingest.py``),
and lands typed points in the date-partitioned parquet warehouse with
checkpointed exactly-once.

The whole per-record path is whole-stage codegen: regexp parse →
struct fields → typed casts. No UDF, no state — a narrow map over the
stream, so throughput scales with executor count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..functions.lineprotocol import field_as_double, parse_line_protocol
from .sink import start

__all__ = ["lines_to_points", "start_line_protocol_ingest"]


def lines_to_points(lines: DataFrame, field: str = "value") -> DataFrame:
    """line-protocol text column ``value`` (spark text source schema)
    → typed narrow points. Malformed lines surface with NULL
    measurement (callers filter them to quarantine); the tag map stays
    generic, with the fixture catalog's ``user_id`` promoted."""
    p = parse_line_protocol(F.col("value")).alias("p")
    parsed = lines.select(F.col("value").alias("raw_line"), p)
    return parsed.select(
        "raw_line",
        F.col("p.measurement").alias("measurement"),
        F.element_at("p.tags", "user_id").alias("user_id"),
        field_as_double(F.col("p.fields"), field).alias("value"),
        F.col("p.time_ns").alias("ts_ns"),
        # integer `div`, not float division: double rounding above 2^53
        # would break the ts == floor(ts_ns/1000) invariant load_table
        # documents for the events table
        F.timestamp_micros(F.expr("p.time_ns div 1000")).alias("ts"),
    )


def start_line_protocol_ingest(
    spark: SparkSession,
    source_dir: str,
    points_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> tuple[StreamingQuery, StreamingQuery]:
    """Tail ``source_dir`` for line-protocol text files; good points
    append to ``points_dir`` partitioned by ingest date, malformed
    lines to ``points_dir``'s quarantine sibling — one streaming query,
    exactly-once via the checkpoint + file-sink commit log."""
    stream = spark.readStream.text(source_dir)
    pts = lines_to_points(stream)
    good = (
        pts.filter(F.col("measurement").isNotNull() & F.col("ts").isNotNull())
        .drop("raw_line")
        .withColumn("ingest_date", F.to_date("ts"))
    )
    bad = pts.filter(
        F.col("measurement").isNull() | F.col("ts").isNull()
    ).select("raw_line")

    # one source, two sinks: union with a route tag would force a single
    # schema; two queries over the same file source each keep their own
    # checkpoint and commit log (standard quarantine-split shape)
    return (
        start(good, "lp_points", os.path.join(checkpoint_dir, "lp_points"),
              os.path.join(points_dir, "points"), available_now),
        start(bad, "lp_quarantine",
              os.path.join(checkpoint_dir, "lp_quarantine"),
              os.path.join(points_dir, "quarantine"), available_now),
    )
