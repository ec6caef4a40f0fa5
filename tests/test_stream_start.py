"""Every streaming query starts through ``streaming.sink.start``: each
has a name, and each sink is one of three exactly-once kinds.

The crash tests inject a crash between a micro-batch's sink write and
its checkpoint commit by deleting the batch's commit file, then start
the query again. The restarted query replays that batch; the sink must
absorb the replay, so the output equals the first run's.
"""

from __future__ import annotations

import datetime as dt
import os

from mqtt_influx_storage_service_spark import cache
from mqtt_influx_storage_service_spark import streaming as st
from mqtt_influx_storage_service_spark.functions.influxql import (
    kill_query,
    show_queries,
)
from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

EVENTS = "openchirp/service/x/thing/events"


def _write_msgs(spark, path, rows):
    spark.createDataFrame(
        rows, "ts timestamp, topic string, payload string"
    ).coalesce(1).write.mode("append").parquet(path)


def _crash_before_commit(ckpt):
    """Delete batch 0's commit (and its checksum): the state a crash
    after the sink write and before the commit leaves behind."""
    commits = os.path.join(ckpt, "commits")
    os.remove(os.path.join(commits, "0"))
    if os.path.exists(os.path.join(commits, ".0.crc")):
        os.remove(os.path.join(commits, ".0.crc"))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_file_sink_absorbs_a_replayed_batch(spark, tmp_path):
    """The parquet file sink (points and dead letter): the sink's
    commit log already holds the replayed batch, so it is skipped."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    t0 = dt.datetime(2024, 1, 1)
    _write_msgs(spark, src, [
        *[(t0 + dt.timedelta(seconds=i), f"openchirp/device/d{i % 3}/temp",
           str(float(i))) for i in range(10)],
        (t0, "openchirp/device/short", "oops"),  # dead letter
    ])

    def run():
        st.start_ingest(spark, src, out, ckpt).awaitTermination(120)
        return [
            _rows(spark.read.parquet(os.path.join(out, sink)))
            for sink in ("points", "dead_letter")
        ]

    first = run()
    assert [len(r) for r in first] == [10, 1]
    for name in ("points", "dead_letter"):
        _crash_before_commit(os.path.join(ckpt, name))
    assert run() == first
    for name in ("points", "dead_letter"):  # the batch was replayed
        assert os.path.exists(os.path.join(ckpt, name, "commits", "0"))


def test_merge_sink_absorbs_a_replayed_batch(spark, tmp_path):
    """SnapshotTable MERGE (registry CDC): the table's manifest records
    the applied batch id, so the replayed merge is a no-op."""
    src, tbl, ckpt = (str(tmp_path / d) for d in ("src", "tbl", "ckpt"))
    t0 = dt.datetime(2024, 1, 1)
    _write_msgs(spark, src, [
        (t0, EVENTS, '{"action": "new", "thing": {"id": "d1"}}'),
        (t0 + dt.timedelta(seconds=1), EVENTS,
         '{"action": "new", "thing": {"id": "d2"}}'),
    ])
    table = SnapshotTable(spark, tbl, ["device_id"], schema=st.REGISTRY_SCHEMA)

    def run():
        st.start_registry_cdc(spark, src, tbl, ckpt).awaitTermination(120)
        return _rows(table.read()), table.version()

    first = run()
    assert len(first[0]) == 2
    _crash_before_commit(ckpt)
    assert run() == first
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))


def test_batch_dir_sink_absorbs_a_replayed_batch(spark, sf_dir, tmp_path):
    """The per-batch overwrite directory (DSIR screen): the replayed
    batch rewrites ``batch_id=0`` instead of appending its rows again."""
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))
    spark.createDataFrame(
        [(600001, "alpha beta gamma delta"), (600002, "epsilon zeta eta")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(src)

    def run():
        st.start_dsir_screen(spark, src, sf_dir, out, ckpt).awaitTermination(180)
        return _rows(spark.read.parquet(os.path.join(out, "dsir_scores")))

    first = run()
    assert len(first) == 2
    _crash_before_commit(os.path.join(ckpt, "dsir_screen"))
    assert run() == first
    assert os.path.exists(os.path.join(ckpt, "dsir_screen", "commits", "0"))
    cache.release(spark, "dsir")


def test_show_and_kill_name_the_ingest_and_stats_queries(spark, tmp_path):
    """SHOW QUERIES lists the points and stats queries by name, and
    KILL QUERY stops each by that name."""
    src = str(tmp_path / "src")
    _write_msgs(spark, src, [
        (dt.datetime(2024, 1, 1), "openchirp/device/d1/temp", "1.0"),
    ])
    out = str(tmp_path / "out")
    try:
        stats = st.start_stats(
            spark, src, out, str(tmp_path / "ckpt_stats"), available_now=False
        )
        points = st.start_ingest(
            spark, src, out, str(tmp_path / "ckpt"), available_now=False
        )
        names = {r.query for r in show_queries(spark).collect()}
        assert {"stats", "points", "dead_letter"} <= names
        for name, q in (("stats", stats), ("points", points)):
            kill_query(spark, name)
            assert not q.isActive
        names = {r.query for r in show_queries(spark).collect()}
        assert "stats" not in names and "points" not in names
    finally:
        st.stop_all(spark)
