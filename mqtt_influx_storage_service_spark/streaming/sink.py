"""One way to start a stream, and the three exactly-once sinks.

Every streaming query in this package starts through :func:`start`,
which owns the query name, the checkpoint location, the sink and the
trigger policy. After a crash between a micro-batch's sink write and
its checkpoint commit, the restarted query replays that batch
(Structured Streaming's epoch recovery), so end-to-end exactly-once
holds only for an idempotent sink. Each sink is one of three kinds:

- a path string: the parquet file sink. Its commit log
  (``<path>/_spark_metadata``) already records the replayed batch, so
  the sink skips it.
- :class:`Merge`: a :class:`..tableformat.SnapshotTable` MERGE. The
  table's manifest records applied batch ids, so a replayed ``merge``
  is a no-op.
- :class:`BatchDir`: each micro-batch overwrites its own
  ``<root>/batch_id=<id>`` directory (:func:`write_batch`), so a replay
  rewrites that directory instead of appending. Readers of the root see
  ``batch_id`` as a discovered partition.

A frame that carries ``ingest_date`` is written partitioned by it, so
time-range reads of the points lake prune partitions.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..tableformat import SnapshotTable

PARTITION = "ingest_date"

# the events stream (the fixture ``events`` table's columns); a reader
# that needs fewer selects them
EVENT_STREAM_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, value double"
)


class Merge(NamedTuple):
    """MERGE ``rows(batch)`` into ``table`` under the batch's id."""

    table: SnapshotTable
    rows: Callable[[DataFrame], DataFrame] = lambda batch: batch
    combine: Callable | None = None
    insert_only: bool = False


class BatchDir(NamedTuple):
    """Write ``rows(batch)`` to ``root/batch_id=<id>``."""

    root: str
    rows: Callable[[DataFrame], DataFrame]


def _partitioned(writer, frame: DataFrame):
    return writer.partitionBy(PARTITION) if PARTITION in frame.columns else writer


def write_batch(frame: DataFrame, root: str, batch_id: int) -> None:
    """The per-batch overwrite directory: the one writer of a
    ``foreachBatch`` frame to a directory."""
    _partitioned(frame.write.mode("overwrite"), frame).parquet(
        os.path.join(root, f"batch_id={batch_id}")
    )


def start(
    frame: DataFrame,
    name: str,
    checkpoint: str,
    sink: str | Merge | BatchDir,
    available_now: bool = True,
    every_ms: int | None = None,
) -> StreamingQuery:
    """Start ``frame`` as the query ``name`` (listed by SHOW QUERIES,
    stopped by KILL QUERY) with its checkpoint at ``checkpoint``.

    ``available_now`` processes everything present, then stops: the
    batch-replay mode of tests and backfills. Otherwise the query tails
    its source, one micro-batch every ``every_ms`` milliseconds when
    given (a CQ's RESAMPLE EVERY), else as soon as data arrives."""
    if isinstance(sink, Merge):
        writer = frame.writeStream.foreachBatch(
            lambda batch, batch_id: sink.table.merge(
                sink.rows(batch),
                batch_id=batch_id,
                combine=sink.combine,
                insert_only=sink.insert_only,
            )
        )
    elif isinstance(sink, BatchDir):
        writer = frame.writeStream.foreachBatch(
            lambda batch, batch_id: write_batch(
                sink.rows(batch), sink.root, batch_id
            )
        )
    else:
        writer = _partitioned(
            frame.writeStream.format("parquet").option("path", sink), frame
        )
    writer = writer.option("checkpointLocation", checkpoint).queryName(name)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif every_ms is not None:
        writer = writer.trigger(processingTime=f"{every_ms} milliseconds")
    return writer.start()


# --------------------------------------------------------------------------
# Continuous aggregates: exact partials MERGEd per micro-batch
# --------------------------------------------------------------------------

def additive_combine(
    key_cols: list[str], extremes: dict[str, Callable] | None = None
) -> Callable[[DataFrame, DataFrame], DataFrame]:
    """MERGE arithmetic for partial aggregates: same-key partials ADD
    (not replace) — re-aggregating the union of exact integer partials
    is associative, so any micro-batch slicing converges to the batch
    answer. ``extremes`` maps a running-extreme partial to its combine
    (``F.min`` / ``F.max``)."""
    extremes = extremes or {}

    def combine(current: DataFrame, batch: DataFrame) -> DataFrame:
        both = current.unionByName(batch)
        return both.groupBy(*key_cols).agg(*(
            extremes[c](c).alias(c) if c in extremes
            else F.sum(c).cast("long").alias(c)
            for c in both.columns if c not in key_cols
        ))

    return combine


def start_continuous_aggregate(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    key_cols: list[str],
    schema: str,
    partials: Callable[[DataFrame], DataFrame],
    name: str,
    checkpoint: str,
    available_now: bool = True,
    combine: Callable | None = None,
    every_ms: int | None = None,
) -> tuple[StreamingQuery, SnapshotTable]:
    """Maintain an aggregate of the events stream at ``source_dir``
    incrementally: each micro-batch's ``partials`` MERGE into the
    SnapshotTable at ``table_path`` with ``combine`` (default: every
    partial adds), batch-id idempotent. Reads hit the few-row snapshot,
    never the raw history."""
    table = SnapshotTable(spark, table_path, key_cols=key_cols, schema=schema)
    stream = spark.readStream.schema(EVENT_STREAM_SCHEMA).parquet(source_dir)
    sink = Merge(table, partials, combine or additive_combine(key_cols))
    return start(stream, name, checkpoint, sink, available_now, every_ms), table
