"""Streaming analytics over the point stream: rolling z-score alerts
(the incremental twin of ``operators.timeseries.ts_anomaly_zscore``)
and a continuous aggregate (incremental day-bucket rollup MERGEd into a
:class:`..tableformat.SnapshotTable`).

Reference parity: the reference's stats thread publishes a periodic
throughput counter (influx_service.py:305-327, operator A13/A14); these
operators are the two natural generalizations a fleet operator asks for
next — "alert me when a series misbehaves" and "keep the daily rollup
current without rescanning history". Both are expressed against
Structured Streaming primitives, not a bespoke scheduler thread.

Scale notes:

- The alert stream keys state by event_type and keeps ONLY the trailing
  ``ZSCORE_FRAME - 1`` integer-cent values per key in the state store
  (bounded state, horizontally partitioned by key). Batch math is
  vectorized numpy over the concatenated carry-in + batch values — one
  cumsum pass, no per-row Python.
- The rollup's foreachBatch MERGE touches only the (day, event_type)
  partial rows of the CURRENT batch plus the (tiny) dimension snapshot;
  the point history is never rescanned. Batch-id idempotence makes
  micro-batch replay converge (exactly-once) — the continuous-aggregate
  path of ``sink.start_continuous_aggregate``, shared with the burn-rate
  monitor and ``cq.start_continuous_query``.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..operators.timeseries import ZSCORE_CUT, ZSCORE_FRAME, ZSCORE_MIN_N
from ..tableformat import SnapshotTable
from .sink import EVENT_STREAM_SCHEMA, start, start_continuous_aggregate

ALERT_SCHEMA = (
    "event_type string, event_id long, ts timestamp, value double, zscore double"
)
_ANOM_STATE_SCHEMA = "tail array<long>"


def _half_up4(z: np.ndarray) -> np.ndarray:
    """Spark/DuckDB ``round(x, 4)`` is HALF_UP (away from zero);
    numpy's ``round`` is banker's — match the engines explicitly."""
    return np.sign(z) * np.floor(np.abs(z) * 1e4 + 0.5) / 1e4


def _update_anomaly(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Rolling z-score over the trailing ZSCORE_FRAME rows per
    event_type, carried across micro-batches via the state-store tail.
    Exactly reproduces the batch windowed formulation (same integer-cent
    sums, same IEEE expression) when events arrive in (ts, event_id)
    order — the agreement a test pins at fixture scale."""
    (event_type,) = key
    tail = list(state.get[0]) if state.exists else []
    frames: list[pd.DataFrame] = []
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        v100 = np.round(pdf["value"].to_numpy() * 100).astype(np.int64)
        prior = np.asarray(tail, dtype=np.int64)
        full = np.concatenate([prior, v100])
        c1 = np.concatenate([[0], np.cumsum(full)])
        c2 = np.concatenate([[0], np.cumsum(full * full)])
        idx = np.arange(len(prior), len(full))
        lo = np.maximum(idx - (ZSCORE_FRAME - 1), 0)
        n = (idx - lo + 1).astype(np.float64)
        s = (c1[idx + 1] - c1[lo]).astype(np.float64)
        ss = (c2[idx + 1] - c2[lo]).astype(np.float64)
        var_num = ss - s * s / n
        with np.errstate(divide="ignore", invalid="ignore"):
            z = (v100 - s / n) / np.sqrt(var_num / (n - 1))
        mask = (n >= ZSCORE_MIN_N) & (var_num > 0) & (np.abs(z) > ZSCORE_CUT)
        if mask.any():
            hit = pdf.iloc[np.flatnonzero(mask)]
            frames.append(
                pd.DataFrame(
                    {
                        "event_type": event_type,
                        "event_id": hit["event_id"].to_numpy(),
                        "ts": hit["ts"].to_numpy(),
                        "value": hit["value"].to_numpy(),
                        "zscore": _half_up4(z[mask]),
                    }
                )
            )
        tail = [int(v) for v in full[-(ZSCORE_FRAME - 1):]]
    state.update((tail,))
    if frames:
        yield from frames
    else:
        yield pd.DataFrame(
            {
                "event_type": pd.Series([], dtype="object"),
                "event_id": pd.Series([], dtype="int64"),
                "ts": pd.Series([], dtype="datetime64[ns]"),
                "value": pd.Series([], dtype="float64"),
                "zscore": pd.Series([], dtype="float64"),
            }
        )


def anomaly_alert_stream(events: DataFrame) -> DataFrame:
    """Streaming (or batch) frame of 3-sigma alerts; state bounded to
    ZSCORE_FRAME-1 longs per event_type."""
    keyed = events.select("event_type", "event_id", "ts", "value")
    return keyed.groupBy("event_type").applyInPandasWithState(
        _update_anomaly,
        outputStructType=ALERT_SCHEMA,
        stateStructType=_ANOM_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_anomaly_alerts(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Tail ``source_dir`` for event batches, append alerts to
    ``out_dir/anomaly_alerts``."""
    stream = spark.readStream.schema(EVENT_STREAM_SCHEMA).parquet(source_dir)
    return start(
        anomaly_alert_stream(stream),
        "anomaly_alerts",
        os.path.join(checkpoint_dir, "anomaly"),
        os.path.join(out_dir, "anomaly_alerts"),
        available_now,
    )


# --------------------------------------------------------------------------
# Streaming counter rate: per-series increase with reset handling
# (incremental twin of operators.timeseries.ts_counter_rate)
# --------------------------------------------------------------------------

RATE_SCHEMA = (
    "user_id long, event_type string, batch_increase double,"
    " total_increase double, n_resets long, n_samples long"
)
_RATE_STATE_SCHEMA = "last_cents long, total_cents long, n_resets long, n_samples long"


def _update_rate(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-series counter tracker: the last sample (integer cents)
    carries across micro-batches in the state store, so increases and
    reset detection are seamless across batch boundaries — the same
    PromQL convention as the batch twin (a drop rebases the counter; the
    post-reset sample counts fully). One vectorized numpy diff pass per
    batch; state is four longs per series regardless of history."""
    user_id, event_type = key
    last, total, resets, samples = (
        state.get if state.exists else (None, 0, 0, 0)
    )
    batch_cents = 0
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        pdf = pdf.sort_values(["ts", "event_id"])
        cents = np.round(pdf["value"].to_numpy() * 100).astype(np.int64)
        if last is None:
            seq = cents
        else:
            seq = np.concatenate([[last], cents])
        diff = np.diff(seq)
        inc = np.where(diff >= 0, diff, seq[1:])
        batch_cents += int(inc.sum())
        resets += int((diff < 0).sum())
        samples += len(inc)
        last = int(seq[-1])
    total += batch_cents
    state.update((last, total, resets, samples))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "event_type": [event_type],
            "batch_increase": [batch_cents / 100.0],
            "total_increase": [total / 100.0],
            "n_resets": [resets],
            "n_samples": [samples],
        }
    )


def counter_rate_stream(events: DataFrame) -> DataFrame:
    """Streaming (or batch) per-series counter increase: one output row
    per series per micro-batch with the batch and cumulative increase."""
    keyed = events.select("user_id", "event_type", "event_id", "ts", "value")
    return keyed.groupBy("user_id", "event_type").applyInPandasWithState(
        _update_rate,
        outputStructType=RATE_SCHEMA,
        stateStructType=_RATE_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def start_counter_rate(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Tail ``source_dir`` for event batches, append per-batch series
    increase snapshots to ``out_dir/counter_rate``."""
    stream = spark.readStream.schema(EVENT_STREAM_SCHEMA).parquet(source_dir)
    return start(
        counter_rate_stream(stream),
        "counter_rate",
        os.path.join(checkpoint_dir, "rate"),
        os.path.join(out_dir, "counter_rate"),
        available_now,
    )


# --------------------------------------------------------------------------
# Continuous aggregate: incremental (day, event_type) rollup
# --------------------------------------------------------------------------

ROLLUP_SCHEMA = "day timestamp, event_type string, n long, sum100 long"


def rollup_partials(batch: DataFrame) -> DataFrame:
    """Per-(day, event_type) exact partials of one micro-batch."""
    return batch.groupBy(
        F.date_trunc("day", F.col("ts")).alias("day"), "event_type"
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("sum100"),
    )


def rollup_view(table: SnapshotTable) -> DataFrame:
    """The user-facing continuous aggregate: avg from exact partials,
    same determinism pattern as the batch tier's _avg2 (integer-cent
    sum, then one IEEE division)."""
    t = table.read()
    return t.select(
        "day",
        "event_type",
        "n",
        F.round((F.col("sum100") / 100.0) / F.col("n"), 6).alias("avg_value"),
    )


def start_continuous_rollup(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the (day, event_type) rollup incrementally: each
    micro-batch MERGEs its partials into the SnapshotTable (additive
    combine, batch-id idempotent). The materialized continuous
    aggregate of a 100 TB point stream is these few rows — queries hit
    the snapshot, never the raw history."""
    q, _table = start_continuous_aggregate(
        spark, source_dir, table_path, ["day", "event_type"], ROLLUP_SCHEMA,
        rollup_partials, "continuous_rollup",
        os.path.join(checkpoint_dir, "rollup"), available_now,
    )
    return q


# --------------------------------------------------------------------------
# Continuous SLO burn-rate monitor (streaming twin of ts_burn_rate)
# --------------------------------------------------------------------------

BURN_SCHEMA = "hour timestamp, n_total long, n_err long"


def burn_partials(batch: DataFrame) -> DataFrame:
    """Per-hour exact (total, error) count partials of one micro-batch
    — additive, so any batch slicing MERGE-converges to the batch
    answer (same discipline as rollup_partials)."""
    return batch.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(
            F.when(F.col("event_type") == "error", 1).otherwise(0)
        ).cast("long").alias("n_err"),
    )


def burn_rate_view(table: SnapshotTable) -> DataFrame:
    """The user-facing monitor: rates/burns/alert computed by the SAME
    shared expression as the batch query
    (``operators.timeseries.burn_rate_from_hourly``), over the
    MERGE-accumulated exact integer partials — stream ≡ batch
    bit-for-bit under any micro-batch slicing (test-pinned)."""
    from ..operators.timeseries import burn_rate_from_hourly

    return burn_rate_from_hourly(table.read())


def start_burn_rate_monitor(
    spark: SparkSession,
    source_dir: str,
    table_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Maintain the hourly (n_total, n_err) partials incrementally:
    each micro-batch MERGEs additively into the SnapshotTable
    (batch-id idempotent). The burn-rate view over a 100 TB event
    history reads these ≤ hours rows, never the raw stream."""
    q, _table = start_continuous_aggregate(
        spark, source_dir, table_path, ["hour"], BURN_SCHEMA, burn_partials,
        "burn_rate_monitor", os.path.join(checkpoint_dir, "burn"),
        available_now,
    )
    return q
