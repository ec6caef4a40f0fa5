"""Streaming anomaly alerts + continuous rollup: stream/batch
agreement and exactly-once MERGE semantics.

The batch truth is ``ts_anomaly_zscore`` (oracle-checked against
DuckDB), so stream == batch transitively proves the stream against the
oracle too.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

import mqtt_influx_storage_service_spark.streaming as st
from mqtt_influx_storage_service_spark.operators import all_queries
from mqtt_influx_storage_service_spark.sources import load_table
from mqtt_influx_storage_service_spark.streaming.anomaly import rollup_partials
from mqtt_influx_storage_service_spark.streaming.sink import additive_combine
from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

SF = "/root/testdata/sf0.001"


def _event_batches(spark, tmp_path, n_batches=3):
    """Replay the fixture events as n time-ordered parquet batches
    (arrival order == event-time order, the in-order case the rolling
    state semantics assume)."""
    ev = (
        load_table(spark, SF, "events")
        .select("event_id", "ts", "event_type", "value")
        .orderBy("ts", "event_id")
    )
    rows = ev.count()
    per = rows // n_batches + 1
    src = str(tmp_path / "src")
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
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


def test_anomaly_alert_stream_matches_batch(spark, tmp_path):
    src = _event_batches(spark, tmp_path)
    q = st.start_anomaly_alerts(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    got = {
        (r.event_id, r.zscore)
        for r in spark.read.parquet(
            str(tmp_path / "out" / "anomaly_alerts")
        ).collect()
    }
    want = {
        (r.event_id, r.zscore)
        for r in all_queries()["ts_anomaly_zscore"](spark, SF).collect()
    }
    assert got == want
    assert want, "fixture must contain at least one alert"


def test_continuous_rollup_converges_and_replays_idempotently(
    spark, tmp_path
):
    src = _event_batches(spark, tmp_path)
    table_path = str(tmp_path / "rollup")
    q = st.start_continuous_rollup(
        spark, src, table_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    table = SnapshotTable(
        spark, table_path, key_cols=["day", "event_type"],
        schema="day timestamp, event_type string, n long, sum100 long",
    )
    # 1. the incremental rollup equals the from-scratch batch rollup
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    want = {
        (str(r.day), r.event_type, r.n, r.sum100)
        for r in rollup_partials(ev).collect()
    }
    got = {
        (str(r.day), r.event_type, r.n, r.sum100)
        for r in table.read().collect()
    }
    assert got == want
    # 2. replaying an applied batch id is a no-op (exactly-once)
    some_batch = rollup_partials(ev.limit(50))
    applied = sorted(table.applied_batch_ids())
    assert applied, "stream must have applied at least one batch"
    assert table.merge(some_batch, batch_id=applied[0]) is False
    assert {
        (str(r.day), r.event_type, r.n, r.sum100)
        for r in table.read().collect()
    } == want
    # 3. the user-facing view derives avg from exact partials
    view = {
        (str(r.day), r.event_type): (r.n, r.avg_value)
        for r in st.rollup_view(table).collect()
    }
    for (day, et, n, sum100) in want:
        vn, avg = view[(day, et)]
        assert vn == n
        assert avg == round((sum100 / 100.0) / n, 6)


def test_additive_combine_is_slicing_invariant(spark):
    """Any micro-batch slicing of the stream MERGEs to the same table:
    fold partials in two different slicings and compare."""
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    a1 = rollup_partials(ev.filter(F.col("event_id") % 2 == 0))
    a2 = rollup_partials(ev.filter(F.col("event_id") % 2 == 1))
    b1 = rollup_partials(ev.filter(F.col("event_id") < 100))
    b2 = rollup_partials(ev.filter(F.col("event_id") >= 100))
    combine = additive_combine(["day", "event_type"])
    fold_a = combine(a1, a2)
    fold_b = combine(b1, b2)
    key = lambda r: (str(r.day), r.event_type, r.n, r.sum100)  # noqa: E731
    assert {key(r) for r in fold_a.collect()} == {
        key(r) for r in fold_b.collect()
    }


def test_counter_rate_stream_matches_batch(spark, tmp_path):
    """The stateful stream's cumulative per-series totals equal the
    batch ts_counter_rate (oracle-checked) rolled up per series —
    increases, resets, and sample counts all agree across micro-batch
    boundaries."""
    # stage WITH user_id (the rate stream keys by series, not just type)
    ev = (
        load_table(spark, SF, "events")
        .select("event_id", "ts", "user_id", "event_type", "value")
        .orderBy("ts", "event_id")
    )
    per = ev.count() // 3 + 1
    ranked = ev.withColumn(
        "rn", F.row_number().over(Window.orderBy("ts", "event_id"))
    )
    src = str(tmp_path / "src")
    for b in range(3):
        (
            ranked.filter((F.col("rn") > b * per) & (F.col("rn") <= (b + 1) * per))
            .drop("rn")
            .coalesce(1)
            .write.mode("append")
            .parquet(src)
        )

    q = st.start_counter_rate(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    out = spark.read.parquet(str(tmp_path / "out" / "counter_rate"))
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("n_samples")
    )
    final = (
        out.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .collect()
    )
    got = {
        (r.user_id, r.event_type): (r.total_increase, r.n_resets, r.n_samples)
        for r in final
    }

    batch = (
        all_queries()["ts_counter_rate"](spark, SF)
        .groupBy("user_id", "event_type")
        .agg(
            F.round(F.sum("increase"), 2).alias("total"),
            F.sum("n_resets").alias("resets"),
            F.sum("n_samples").alias("samples"),
        )
        .collect()
    )
    want = {
        (r.user_id, r.event_type): (r.total, r.resets, r.samples)
        for r in batch
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k][0] - want[k][0]) < 1e-6, k
        assert got[k][1:] == want[k][1:], k
    # per-batch increases sum to the cumulative total
    sums = (
        out.groupBy("user_id", "event_type")
        .agg(
            F.round(F.sum("batch_increase"), 2).alias("s"),
            F.round(F.max("total_increase"), 2).alias("t"),
        )
        .collect()
    )
    assert all(abs(r.s - r.t) < 1e-6 for r in sums)


def test_burn_rate_monitor_matches_batch_and_replays_idempotently(
    spark, tmp_path
):
    """Streaming twin of ts_burn_rate: the MERGE-accumulated hourly
    partials feed the SAME shared burn expression, so the monitor view
    equals the oracle-checked batch query bit-for-bit under any
    micro-batch slicing; replaying an applied batch id is a no-op."""
    from mqtt_influx_storage_service_spark.streaming.anomaly import (
        BURN_SCHEMA,
        burn_partials,
    )

    src = _event_batches(spark, tmp_path)
    table_path = str(tmp_path / "burn")
    q = st.start_burn_rate_monitor(
        spark, src, table_path, str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    table = SnapshotTable(
        spark, table_path, key_cols=["hour"], schema=BURN_SCHEMA
    )
    got = {
        (str(r.hour), r.n_total, r.n_err, r.rate_1h, r.rate_long,
         r.burn_1h, r.burn_long, r.alert)
        for r in st.burn_rate_view(table).collect()
    }
    want = {
        (str(r.hour), r.n_total, r.n_err, r.rate_1h, r.rate_long,
         r.burn_1h, r.burn_long, r.alert)
        for r in all_queries()["ts_burn_rate"](spark, SF).collect()
    }
    assert got == want and want
    # replaying an applied batch id leaves the monitor unchanged
    ev = load_table(spark, SF, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    applied = sorted(table.applied_batch_ids())
    assert applied
    assert table.merge(burn_partials(ev.limit(50)), batch_id=applied[0]) is False
    after = {
        (str(r.hour), r.n_total, r.n_err, r.rate_1h, r.rate_long,
         r.burn_1h, r.burn_long, r.alert)
        for r in st.burn_rate_view(table).collect()
    }
    assert after == want
