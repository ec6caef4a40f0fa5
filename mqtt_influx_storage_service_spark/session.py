"""SparkSession construction + defensive per-session tuning.

The driver hands us an already-built SparkSession for ``entry()`` /
``queries()``; tests build their own via :func:`get_spark`. Because we
cannot control how the driver built its session, :func:`tune` applies
the runtime-settable knobs every query depends on (UTC timezone for
DuckDB-oracle comparability, AQE, sane shuffle parallelism).

Scale posture (100 TB): these same knobs are what we would set on a
1000-executor cluster — AQE for runtime shuffle-partition coalescing and
skew-join handling, shuffle partitions sized to cluster cores, UTC
everywhere. Nothing here is local-mode-only.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

_LOG = logging.getLogger("mqtt_influx_storage_service_spark.session")

# Idempotence marker: a conf key on the session itself, NOT a
# driver-side id(spark) cache — after a session object is
# garbage-collected a new one can reuse the id and would silently skip
# tune(), losing correctness-relevant conf (UTC timezone, nanosAsLong).
_TUNED_MARKER = "spark.mqtt_influx_storage_service.tuned"


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf this engine relies on. Idempotent."""
    try:
        if spark.conf.get(_TUNED_MARKER, None) == "true":
            return spark
    except Exception:
        pass
    conf = {
        # DuckDB oracle timestamps are UTC-naive; pin the session TZ.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Arrow for every pandas-UDF / toPandas boundary.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # events.ts is parquet TIMESTAMP(NANOS); read as long + convert
        # (see sources/tables.py).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Let a child partitioned on a SUBSET of the join keys satisfy
        # co-partitioning (rows with equal full keys are still
        # co-located — subset hashing is strictly coarser). The grid
        # verify in operators/dedup.py depends on this: candidate
        # pairs and the B-replicated shingle arrays are partitioned on
        # (cell_a, cell_b) and joined on (cell_a, cell_b, doc) twice,
        # and with the default 'true' EnsureRequirements re-shuffles
        # the fat pairs+arrays intermediate on the full keys — the
        # exact 6.2 GB exchange the grid plan exists to delete
        # (VERDICT r12 #4). Purely a physical-planning knob; skew risk
        # only when the subset keys are low-cardinality, and every
        # subset partitioning this engine plans is a uniform hash cell.
        "spark.sql.requireAllClusterKeysForCoPartition": "false",
    }
    # Keep going past read-only keys, but never silently: a conf that
    # fails to apply can change query semantics (the r2 events outage
    # started as exactly this kind of invisible mismatch), so log the
    # failed keys once per session.
    failed: list[str] = []
    for k, v in conf.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            failed.append(k)
    if failed:
        _LOG.warning(
            "tune(): %d conf key(s) could not be applied (read-only in this "
            "session build): %s — correctness-relevant settings may be off",
            len(failed),
            ", ".join(failed),
        )
    # Local-mode default of 200 shuffle partitions over-parallelizes
    # small data; match core count. On a real cluster the submitter
    # sets this to ~2-3x total cores (AQE coalesces downward anyway).
    try:
        cores = spark.sparkContext.defaultParallelism
        spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    except Exception:
        pass
    try:
        spark.conf.set(_TUNED_MARKER, "true")
    except Exception:
        pass
    return spark


def local_cpus() -> str:
    """Cores of the local session: $SPARK_GRAFT_CPUS, default 32."""
    return os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(app_name: str = "mqtt-influx-spark") -> SparkSession:
    """Build a local session (tests / bench). local[$SPARK_GRAFT_CPUS].
    The builder holds only launch-time settings; :func:`tune` owns the
    SQL conf."""
    spark = (
        SparkSession.builder.master(f"local[{local_cpus()}]")
        .appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")
    return tune(spark)
