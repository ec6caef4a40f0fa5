"""Parquet table loaders for the driver fixtures (TESTDATA.md).

All queries go through :func:`load_table` so scan behavior is uniform:
Catalyst pushes predicates & prunes columns into the parquet scan
(verify with ``plans.explain_checks``). At 100 TB the same call reads a
date/device-partitioned parquet/Delta layout — partition pruning comes
from the same declarative filters, no code change.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import tune

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Analyzed-base-frame cache (r14, guide §5 driver overhead): every
# `spark.read.parquet` call re-lists the path and re-reads the footer
# schema through ~80 ms of py4j/JVM round-trips, and the suite resolves
# the same ten static tables thousands of times (225 queries x reps x
# 1-4 tables ≈ tens of seconds of pure plan-construction wall). The
# RETURNED DataFrame is an immutable lazy plan — no data, no results —
# so constructing it once per (app, dir, table, rebalance, parallelism)
# is exactly the relation-resolution caching a production catalog does.
# Every execution still scans parquet; fixtures are static per driver
# contract (a regenerated sf_dir arrives under a new path or process).
_TABLE_CACHE: dict[tuple, DataFrame] = {}


def load_table(
    spark: SparkSession, sf_dir: str, name: str, rebalance: bool = False
) -> DataFrame:
    """Read one fixture table; applies session tuning on first touch.

    ``events`` exposes BOTH a µs ``ts`` (TimestampType) and a
    full-fidelity integer ``ts_ns`` (SURVEY.md §1.4 — the reference
    stores at ns precision, ``influx_service.py:200``,
    ``time_precision='n'``), regardless of how the fixture encodes the
    column. Parquet writers vary: TIMESTAMP(NANOS) arrives as long via
    ``spark.sql.legacy.parquet.nanosAsLong``; TIMESTAMP(MICROS) arrives
    as timestamp / timestamp_ntz. We branch on the actual read dtype so
    a fixture regeneration can't change query semantics: either way the
    session TZ is pinned UTC, so ts == floor(ts_ns / 1000) µs exactly,
    matching what DuckDB reads for the oracle.

    The one Spark job a query build may run: the FIRST touch of a table
    in a session runs ``spark.read.parquet``'s schema inference (one
    job reading a parquet footer). The frame is cached per
    (application, sf_dir, table), so every later build over the table
    runs none (pinned for the ``iq_*`` entries in tests).
    """
    tune(spark)
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    key = (
        spark.sparkContext.applicationId,
        sf_dir,
        name,
        rebalance,
        spark.sparkContext.defaultParallelism if rebalance else 0,
    )
    cached = _TABLE_CACHE.get(key)
    if cached is not None:
        return cached
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType.typeName()
        if ts_type in ("long", "bigint"):
            # ns-encoded fixture: keep the integer as ts_ns, derive µs ts.
            df = df.withColumnRenamed("ts", "ts_ns").withColumn(
                "ts", F.timestamp_micros(F.expr("ts_ns div 1000"))
            )
        elif ts_type in ("timestamp", "timestamp_ntz"):
            # µs-encoded fixture: normalize to TimestampType (UTC session),
            # derive integer ns for consumers that need exact arithmetic.
            df = df.withColumn("ts", F.col("ts").cast("timestamp")).withColumn(
                "ts_ns", F.unix_micros(F.col("ts")) * F.lit(1000).cast("long")
            )
        else:  # pragma: no cover - fail loudly on a third encoding
            raise TypeError(f"events.ts has unsupported dtype {ts_type!r}")
    if rebalance:
        # "Small input, expensive map" rebalance: a compact-on-disk table
        # yields few parquet splits, serializing any CPU-heavy projection
        # downstream (shingling, hashing, dot products). Spreading the
        # scan across cluster parallelism before that work is the same
        # move a 1000-executor job makes; cheap queries skip it so their
        # scans stay shuffle-free.
        #
        # SCALE-ADAPTIVE (r14, guide §2 "make partitioning scale-
        # adaptive"): the repartition only engages when the scan has
        # FEWER splits than the cluster's parallelism. At fixture scale
        # (one 9 MB file → 1 split) it spreads the expensive map; at
        # 100 TB the scan already fans out over thousands of
        # row-group splits and the round-robin would be a pure
        # whole-corpus shuffle — the §8 anti-pattern of moving payload
        # bytes to decide nothing. getNumPartitions is metadata-only
        # (file listing, no job), computed once per cached key.
        target = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < target:
            df = df.repartition(target)
    _TABLE_CACHE[key] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def table_row_count(sf_dir: str, name: str) -> int:
    """Exact row count from parquet FOOTER metadata — a driver-side
    file-metadata read, NOT a Spark job. Used where an operator needs
    corpus cardinality at plan-construction time (e.g. sizing a
    training-sample stride): ``df.count()`` there would launch a
    full-corpus job for every registered query, violating the engine's
    construction-is-lazy contract. On a lakehouse table the same number
    comes from table-format statistics; footers are the parquet-native
    equivalent.
    """
    import pathlib

    import pyarrow.parquet as pq

    p = pathlib.Path(sf_dir) / f"{name}.parquet"
    if p.is_file():
        return pq.read_metadata(p).num_rows
    # A missing table must raise, not return 0: rglob over a nonexistent
    # directory yields an empty iterator, and a silent 0 turns into e.g.
    # stride=1 → full-corpus KMeans training in sim_ann_ivf (ADVICE r3).
    if not p.is_dir():
        raise FileNotFoundError(f"no parquet table at {p}")
    files = list(p.rglob("*.parquet"))
    if not files:
        raise FileNotFoundError(f"parquet directory {p} contains no data files")
    return sum(pq.read_metadata(f).num_rows for f in files)


def table_column_max(sf_dir: str, name: str, column: str):
    """Max value of ``column`` from parquet row-group STATISTICS — like
    :func:`table_row_count`, a driver-side metadata read (no Spark job)
    for plan-construction-time sizing. On a lakehouse table the same
    number comes from table-format column stats. Raises ValueError when
    any row group lacks statistics for the column (caller falls back to
    a conservative bound)."""
    import pathlib

    import pyarrow.parquet as pq

    p = pathlib.Path(sf_dir) / f"{name}.parquet"
    files = [p] if p.is_file() else sorted(p.rglob("*.parquet"))
    if not files:
        raise FileNotFoundError(f"no parquet table at {p}")
    best = None
    for f in files:
        md = pq.read_metadata(f)
        idx = md.schema.names.index(column)
        for rg in range(md.num_row_groups):
            stats = md.row_group(rg).column(idx).statistics
            if stats is None or not stats.has_min_max:
                raise ValueError(f"{f}: no min/max statistics for {column}")
            best = stats.max if best is None else max(best, stats.max)
    return best
