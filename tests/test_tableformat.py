"""SnapshotTable MERGE semantics + the A10/A11 streaming sinks.

Pins the reference behaviors the table format must reproduce:
exactly-once micro-batch application under replay (the checkpoint +
manifest handshake), last-writer-wins registry CDC
(influx_service.py:330-342), and first-writer-wins transducer
auto-create under concurrent duplicates (:215-274).
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

TS = dt.datetime(2024, 1, 1, 12, 0, 0)


def _ts(minutes: int) -> dt.datetime:
    return TS + dt.timedelta(minutes=minutes)


@pytest.fixture()
def registry(spark, tmp_path):
    return SnapshotTable(
        spark, str(tmp_path / "registry"), ["device_id"],
        schema="device_id string, registered_ts timestamp",
    )


def test_upsert_merge(spark, registry):
    registry.merge(spark.createDataFrame(
        [("a", _ts(0)), ("b", _ts(1))], registry.schema), batch_id=0)
    registry.merge(spark.createDataFrame(
        [("b", _ts(5)), ("c", _ts(6))], registry.schema), batch_id=1)
    rows = {r.device_id: r.registered_ts for r in registry.read().collect()}
    assert rows == {"a": _ts(0), "b": _ts(5), "c": _ts(6)}
    assert registry.version() == 2


def test_merge_replay_is_noop(spark, registry):
    batch = spark.createDataFrame([("a", _ts(0))], registry.schema)
    assert registry.merge(batch, batch_id=7) is True
    v = registry.version()
    # crash-replay: the streaming engine re-runs the last micro-batch
    assert registry.merge(batch, batch_id=7) is False
    assert registry.version() == v
    assert registry.read().count() == 1
    assert registry.applied_batch_ids() == {7}


def test_insert_only_keeps_first_writer(spark, tmp_path):
    t = SnapshotTable(
        spark, str(tmp_path / "pairs"), ["device_id", "transducer"],
        schema="device_id string, transducer string, created_ts timestamp",
    )
    t.merge(spark.createDataFrame([("d1", "temp", _ts(0))], t.schema),
            batch_id=0, insert_only=True)
    # later batch sees the same pair again with a LATER ts: must not clobber
    t.merge(spark.createDataFrame(
        [("d1", "temp", _ts(9)), ("d1", "hum", _ts(10))], t.schema),
        batch_id=1, insert_only=True)
    rows = {(r.device_id, r.transducer): r.created_ts for r in t.read().collect()}
    assert rows == {("d1", "temp"): _ts(0), ("d1", "hum"): _ts(10)}


def test_time_travel_reads_old_version(spark, registry):
    registry.merge(spark.createDataFrame([("a", _ts(0))], registry.schema),
                   batch_id=0)
    registry.merge(spark.createDataFrame([("a", _ts(9))], registry.schema),
                   batch_id=1)
    assert registry.read().collect()[0].registered_ts == _ts(9)
    assert registry.read(version=1).collect()[0].registered_ts == _ts(0)
    registry.vacuum(keep_last=1)
    with pytest.raises(FileNotFoundError):
        registry.read(version=1)


def test_compact_and_vacuum_preserve_rows(spark, registry, tmp_path):
    registry.merge(spark.createDataFrame(
        [(f"d{i}", _ts(i)) for i in range(20)], registry.schema), batch_id=0)
    before = sorted(r.device_id for r in registry.read().collect())
    registry.compact(target_files=1)
    assert sorted(r.device_id for r in registry.read().collect()) == before
    removed = registry.vacuum(keep_last=1)
    assert removed  # old snapshots actually deleted
    assert sorted(r.device_id for r in registry.read().collect()) == before


def _write_msgs(spark, path, rows):
    spark.createDataFrame(
        rows, "ts timestamp, topic string, payload string"
    ).coalesce(1).write.mode("append").parquet(path)


def test_registry_cdc_stream_merges_into_table(spark, tmp_path):
    from mqtt_influx_storage_service_spark.streaming import ingest as ing

    topic = "openchirp/service/x/thing/events"
    src = str(tmp_path / "src")
    _write_msgs(spark, src, [
        (_ts(0), topic, '{"action": "new", "thing": {"id": "d1"}}'),
        (_ts(1), topic, '{"action": "new", "thing": {"id": "d2"}}'),
        (_ts(2), topic, '{"action": "delete", "thing": {"id": "d1"}}'),
        (_ts(3), "openchirp/device/d9/TEMP", "4.2"),  # data msg: ignored here
    ])
    q = ing.start_registry_cdc(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    table = SnapshotTable(
        spark, str(tmp_path / "tbl"), ["device_id"],
        schema=ing.REGISTRY_SCHEMA)
    rows = {r.device_id: r.registered_ts for r in table.read().collect()}
    assert rows == {"d2": _ts(1)}  # d1 deleted last-writer-wins
    # restart on the same checkpoint: nothing new -> table untouched
    v = table.version()
    q2 = ing.start_registry_cdc(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    assert table.version() == v


def test_transducer_autocreate_exactly_once(spark, tmp_path):
    from mqtt_influx_storage_service_spark.streaming import ingest as ing

    src = str(tmp_path / "src")
    # one batch containing CONCURRENT duplicates of the same pair (the
    # reference's two-threads-race case) + a malformed topic
    _write_msgs(spark, src, [
        (_ts(5), "openchirp/device/d1/TEMP", "1.0"),
        (_ts(2), "openchirp/device/d1/Temp", "2.0"),   # same pair, earlier ts
        (_ts(3), "openchirp/device/d1/hum", "3.0"),
        (_ts(4), "openchirp/device/short", "oops"),    # malformed: no create
    ])
    q = ing.start_transducer_autocreate(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    table = SnapshotTable(
        spark, str(tmp_path / "tbl"), ["device_id", "transducer"],
        schema=ing.TRANSDUCER_SCHEMA)
    rows = {(r.device_id, r.transducer): (r.created_ts, r.created_by)
            for r in table.read().collect()}
    assert rows == {
        ("d1", "temp"): (_ts(2), ing.TRANSDUCER_CREATED_BY),
        ("d1", "hum"): (_ts(3), ing.TRANSDUCER_CREATED_BY),
    }
    # a later file re-references the pair: no second create, ts preserved
    _write_msgs(spark, src, [(_ts(30), "openchirp/device/d1/TEMP", "9.9")])
    q2 = ing.start_transducer_autocreate(
        spark, src, str(tmp_path / "tbl"), str(tmp_path / "ckpt"))
    q2.awaitTermination(120)
    rows2 = {(r.device_id, r.transducer): r.created_ts
             for r in table.read().collect()}
    assert rows2[("d1", "temp")] == _ts(2)
    assert len(rows2) == 2

