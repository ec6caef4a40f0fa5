"""CONTINUOUS QUERY compile + stream≡batch equivalence.

The batch truth is the InfluxQL compiler (oracle-checked via the iq_*
registry rows), so stream == batch transitively proves the CQ rollup
against the DuckDB oracle too — the same proof chain the anomaly and
rollup streams use."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from mqtt_influx_storage_service_spark.functions.influxql import (
    InfluxQLError,
    influxql,
    parse_continuous_query,
)
from mqtt_influx_storage_service_spark.sources import load_table
from mqtt_influx_storage_service_spark.streaming.cq import (
    cq_combine,
    cq_partials,
    cq_view,
    compile_cq,
    start_continuous_query,
)
from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

SF = "/root/testdata/sf0.001"

CQ = (
    "CREATE CONTINUOUS QUERY daily_stats ON telemetry BEGIN "
    "SELECT MEAN(value) AS mean_value, COUNT(value) AS n, "
    "MIN(value) AS min_value, MAX(value) AS max_value, "
    "SUM(value) AS sum_value "
    "FROM click GROUP BY time(1d), user_id END"
)

INNER = (
    "SELECT MEAN(value) AS mean_value, COUNT(value) AS n, "
    "MIN(value) AS min_value, MAX(value) AS max_value, "
    "SUM(value) AS sum_value "
    "FROM click GROUP BY time(1d), user_id"
)


def _event_batches(spark, tmp_path, n_batches=3):
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    rows = ev.count()
    per = rows // n_batches + 1
    src = str(tmp_path / "src")
    for b in range(n_batches):
        (
            ranked.filter(
                (F.col("rn") > b * per) & (F.col("rn") <= (b + 1) * per)
            )
            .drop("rn")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )
    return src


def test_parse_and_compile():
    cq = parse_continuous_query(CQ)
    assert cq.name == "daily_stats" and cq.database == "telemetry"
    cc = compile_cq(CQ)
    assert cc.key_cols == ["user_id", "time"]
    assert [a.func for a in cc.aggs] == ["MEAN", "COUNT", "MIN", "MAX", "SUM"]


@pytest.mark.parametrize(
    "bad,msg",
    [
        (
            "CREATE CONTINUOUS QUERY x ON d BEGIN "
            "SELECT MEAN(value) FROM click GROUP BY user_id END",
            "GROUP BY time",
        ),
        (
            "CREATE CONTINUOUS QUERY x ON d BEGIN "
            "SELECT LAST(value) FROM click GROUP BY time(1d) END",
            "COUNT/SUM/MIN/MAX/MEAN",
        ),
        (
            "CREATE CONTINUOUS QUERY x ON d BEGIN "
            "SELECT MEAN(value) FROM click GROUP BY time(1d) fill(previous) END",
            "fill",
        ),
        (
            "CREATE CONTINUOUS QUERY x ON d BEGIN "
            "SELECT MEAN(value) FROM click GROUP BY time(1d) LIMIT 5 END",
            "LIMIT",
        ),
    ],
)
def test_compile_rejections(bad, msg):
    with pytest.raises(InfluxQLError, match=msg):
        compile_cq(bad)


def test_resample_parse_and_horizon(spark):
    """RESAMPLE EVERY <d> FOR <d>: EVERY/FOR parse onto the trigger /
    late-data-horizon seats; FOR drops points whose bucket ended more
    than FOR before the batch's newest event; FOR under one bucket is
    rejected (InfluxDB's constraint)."""
    cq = parse_continuous_query(
        "CREATE CONTINUOUS QUERY r ON d RESAMPLE EVERY 30m FOR 2d BEGIN "
        "SELECT COUNT(value) AS n FROM click GROUP BY time(1d) END"
    )
    assert cq.every_ns == 30 * 60 * 10**9
    assert cq.for_ns == 2 * 86400 * 10**9
    cc = compile_cq(
        "CREATE CONTINUOUS QUERY r ON d RESAMPLE FOR 1d BEGIN "
        "SELECT COUNT(value) AS n FROM click GROUP BY time(1d) END"
    )
    assert cc.for_us == 86400 * 10**6 and cc.every_us is None
    with pytest.raises(InfluxQLError, match="EVERY and/or FOR"):
        parse_continuous_query(
            "CREATE CONTINUOUS QUERY r ON d RESAMPLE BEGIN "
            "SELECT COUNT(value) FROM click GROUP BY time(1d) END"
        )
    with pytest.raises(InfluxQLError, match="at least one"):
        compile_cq(
            "CREATE CONTINUOUS QUERY r ON d RESAMPLE FOR 1h BEGIN "
            "SELECT COUNT(value) FROM click GROUP BY time(1d) END"
        )
    # horizon behavior: a batch holding one fresh and one 3-days-stale
    # point keeps only buckets within FOR=1d of the newest bucket
    batch = spark.createDataFrame(
        [
            (1, "2024-01-10 12:00:00", 7, "click", 1.0),
            (2, "2024-01-07 12:00:00", 7, "click", 1.0),
            (3, "2024-01-09 18:00:00", 7, "click", 1.0),
        ],
        "event_id long, ts string, user_id long, event_type string, "
        "value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    kept = {
        str(r["time"]) for r in cq_partials(cc, batch).collect()
    }
    assert kept == {"2024-01-10 00:00:00", "2024-01-09 00:00:00"}
    # without RESAMPLE the same batch keeps every bucket
    cc_all = compile_cq(
        "CREATE CONTINUOUS QUERY r ON d BEGIN "
        "SELECT COUNT(value) AS n FROM click GROUP BY time(1d) END"
    )
    assert cq_partials(cc_all, batch).count() == 3


@pytest.mark.parametrize(
    "inner",
    [
        INNER,
        # GROUP BY offset and TZ(): the rollup lands points in the same
        # buckets as the batch statement
        INNER.replace("time(1d)", "time(1d, 6h)"),
        INNER + " TZ('America/New_York')",
    ],
    ids=["plain", "offset", "tz"],
)
def test_stream_equals_batch(spark, tmp_path, inner):
    src = _event_batches(spark, tmp_path)
    cq = f"CREATE CONTINUOUS QUERY daily_stats ON telemetry BEGIN {inner} END"
    q, cc, table = start_continuous_query(
        spark, cq, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["time"]): (
            r["mean_value"], r["n"], r["min_value"], r["max_value"],
            r["sum_value"],
        )
        for r in cq_view(cc, table).collect()
    }
    want = {
        (r["user_id"], r["time"]): (
            r["mean_value"], r["n"], r["min_value"], r["max_value"],
            r["sum_value"],
        )
        for r in influxql(spark, SF, inner).collect()
    }
    assert got == want


def test_replay_is_idempotent(spark, tmp_path):
    """Re-merging an already-applied batch id must be a no-op — the
    exactly-once contract the checkpoint relies on after a restart."""
    cc = compile_cq(CQ)
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    from mqtt_influx_storage_service_spark.streaming.cq import cq_schema

    table = SnapshotTable(
        spark, str(tmp_path / "tbl"), key_cols=cc.key_cols, schema=cq_schema(cc)
    )
    p = cq_partials(cc, ev)
    assert table.merge(p, batch_id=0, combine=cq_combine(cc)) is True
    before = sorted(map(tuple, cq_view(cc, table).collect()))
    assert table.merge(p, batch_id=0, combine=cq_combine(cc)) is False
    after = sorted(map(tuple, cq_view(cc, table).collect()))
    assert before == after
    # applying the same rows under a NEW batch id doubles counts —
    # proving the combine really is additive (not replace)
    assert table.merge(p, batch_id=1, combine=cq_combine(cc)) is True
    doubled = {r["n"] for r in cq_view(cc, table).collect()} == {
        2 * r["n"] for r in influxql(spark, SF, INNER).collect()
    }
    assert doubled
