"""Streaming-tier tests (SURVEY.md §5 plan item 3): run the Structured
Streaming ingest over a file-simulated MQTT feed and check it against
the identical batch transformation — one logical pipeline, two engines.
"""

from __future__ import annotations

import datetime as dt
import json

import pytest
from pyspark.sql import functions as F

from mqtt_influx_storage_service_spark import cache
from mqtt_influx_storage_service_spark import streaming as st


@pytest.fixture(scope="module")
def mqtt_source(spark, tmp_path_factory):
    """Three parquet 'micro-batch' files of synthetic MQTT messages,
    exercising the full coercion truth table + an events-topic message
    + an unregistered device."""
    src = tmp_path_factory.mktemp("mqtt_src")
    rows = []
    for i in range(300):
        payload = ["3.25", "7", "true", "False", "free text", "True"][i % 6]
        device = f"dev{i % 5}"
        rows.append(
            (f"2024-01-01 00:{i % 60:02d}:{i % 30:02d}",
             f"openchirp/device/{device}/Temp{i % 3}", payload)
        )
    # events-topic CDC messages
    cdc = [
        ("2024-01-01 00:10:00",
         "openchirp/service/x/thing/events",
         json.dumps({"action": "new", "thing": {"id": "dev9"}})),
        ("2024-01-01 00:20:00",
         "openchirp/service/x/thing/events",
         json.dumps({"action": "delete", "thing": {"id": "dev0"}})),
    ]
    all_rows = rows + cdc
    for b in range(3):
        chunk = all_rows[b::3]
        df = spark.createDataFrame(chunk, "ts string, topic string, payload string")
        df = df.select(F.col("ts").cast("timestamp"), "topic", "payload")
        df.coalesce(1).write.mode("overwrite").parquet(str(src / f"batch{b}"))
    # flatten: move part files up so the dir is a flat file stream
    flat = tmp_path_factory.mktemp("mqtt_flat")
    import shutil
    n = 0
    for b in range(3):
        for f in (src / f"batch{b}").glob("part-*.parquet"):
            shutil.copy(f, flat / f"{b}-{n}.parquet")
            n += 1
    return str(flat)


def _batch_msgs(spark, mqtt_source):
    return spark.read.schema(st.MQTT_SCHEMA).parquet(mqtt_source)


def test_ingest_stream_matches_batch(spark, mqtt_source, tmp_path):
    devices = spark.createDataFrame(
        [(f"dev{i}",) for i in range(4)], "device_id string"
    )  # dev4 is unregistered -> dropped by the semi-join
    q = st.start_ingest(
        spark,
        mqtt_source,
        str(tmp_path / "out"),
        str(tmp_path / "ckpt"),
        devices=devices,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "out" / "points"))

    batch = st.to_points(_batch_msgs(spark, mqtt_source), devices)
    expected = batch.filter(
        F.col("topic").isNotNull() if "topic" in batch.columns else F.lit(True)
    )
    cols = ["series_id", "ts", "value_type", "value_double", "value_bool", "value_str"]
    assert sorted(got.select(cols).collect()) == sorted(expected.select(cols).collect())
    assert got.count() == 240  # 300 msgs * 4/5 registered devices
    # no events-topic rows leaked into the point path
    assert got.filter(F.col("device_id") == "x").count() == 0
    # partition pruning layout
    assert "ingest_date" in got.columns


def test_coercion_truth_table_in_stream_output(spark, mqtt_source, tmp_path):
    q = st.start_ingest(
        spark, mqtt_source, str(tmp_path / "o2"), str(tmp_path / "c2")
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "o2" / "points"))
    types = {r["payload_type"]: r["n"] for r in
             got.groupBy(F.col("value_type").alias("payload_type"))
                .agg(F.count("*").alias("n")).collect()}
    # 300 msgs: payloads cycle float,int,true,False,text,True
    assert types == {"float": 100, "bool": 150, "string": 50}
    floats = got.filter(F.col("value_type") == "float")
    assert floats.filter(F.col("value_double").isNull()).count() == 0
    bools = got.filter(F.col("value_type") == "bool")
    assert bools.filter(F.col("value_bool").isNull()).count() == 0
    assert bools.filter(F.col("value_double").isNotNull()).count() == 0


def test_throughput_stats_stream(spark, mqtt_source, tmp_path):
    q = st.start_stats(
        spark, mqtt_source, str(tmp_path / "o3"), str(tmp_path / "c3")
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "o3" / "stats"))
    # batch equivalent over the same input
    expected = st.throughput_stats(_batch_msgs(spark, mqtt_source))
    # append-mode only emits FINALIZED windows; every emitted row must
    # match the batch computation exactly
    exp = {r["window_start"]: r for r in expected.collect()}
    for r in got.collect():
        assert r["points_written"] == exp[r["window_start"]]["points_written"]
        assert r["n_devices"] == exp[r["window_start"]]["n_devices"]
    # the status JSON rendering (A14)
    msg = st.stats_messages(expected).collect()
    assert all("Points written 10 min avg : " in r["status_json"] for r in msg)


def test_late_data_dropped_by_watermark(spark, tmp_path):
    """SURVEY §5 plan item 3 (late-data case the reference cannot even
    express): once the watermark has passed a window's end, a late
    arrival for that window must be silently dropped, and the window —
    never having had an on-time row — must never appear in the sink."""
    src = tmp_path / "late_src"
    src.mkdir()

    def drop(name, rows):
        df = spark.createDataFrame(rows, "ts string, topic string, payload string")
        df = df.select(F.col("ts").cast("timestamp"), "topic", "payload")
        df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        import shutil
        for i, f in enumerate((tmp_path / name).glob("part-*.parquet")):
            shutil.copy(f, src / f"{name}-{i}.parquet")

    # batch 1: on-time traffic 01:00-02:00 → watermark advances to 01:50
    drop("b1", [
        (f"2024-01-01 01:{m:02d}:00", "openchirp/device/d1/t", "1.0")
        for m in range(0, 60, 5)
    ])
    q = st.start_stats(spark, str(src), str(tmp_path / "o"), str(tmp_path / "c"))
    q.awaitTermination(120)

    # batch 2: one LATE row (00:05, window long finalized) + one
    # on-time row (02:30) that pushes the watermark past 02:00
    drop("b2", [
        ("2024-01-01 00:05:00", "openchirp/device/d1/t", "2.0"),
        ("2024-01-01 02:30:00", "openchirp/device/d1/t", "3.0"),
    ])
    q = st.start_stats(spark, str(src), str(tmp_path / "o"), str(tmp_path / "c"))
    q.awaitTermination(120)

    got = {
        str(r["window_start"]): r["points_written"]
        for r in spark.read.parquet(str(tmp_path / "o" / "stats")).collect()
    }
    # the late row's window never emits — the row was dropped
    assert not any(w.startswith("2024-01-01 00:0") for w in got), got
    # on-time windows from batch 1 did emit, with the late row NOT
    # retro-counted anywhere
    assert got.get("2024-01-01 01:00:00") == 2  # 01:00 + 01:05
    assert sum(got.values()) <= 12  # only the 12 on-time batch-1 rows


def test_registry_cdc_last_writer_wins(spark):
    registry = spark.createDataFrame(
        [("dev0", "2023-12-31 00:00:00"), ("dev1", "2023-12-31 00:00:00")],
        "device_id string, registered_ts string",
    ).withColumn("registered_ts", F.col("registered_ts").cast("timestamp"))
    batch = spark.createDataFrame(
        [
            ("2024-01-01 00:00:01", "delete", "dev0"),
            ("2024-01-01 00:00:02", "new", "dev0"),     # re-created after delete
            ("2024-01-01 00:00:03", "delete", "dev1"),  # gone
            ("2024-01-01 00:00:04", "new", "dev2"),     # brand new
            ("2024-01-01 00:00:05", "update", "dev2"),
        ],
        "ts string, action string, device_id string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = st.apply_cdc(registry, batch)
    state = {r["device_id"]: r["registered_ts"] for r in out.collect()}
    assert set(state) == {"dev0", "dev2"}
    assert state["dev0"].second == 2   # last write wins
    assert state["dev2"].second == 5


def test_parse_service_events(spark):
    msgs = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", "openchirp/service/x/thing/events",
             '{"action": "new", "thing": {"id": "d1"}}'),
            ("2024-01-01 00:00:01", "openchirp/service/x/thing/events",
             "not json"),
        ],
        "ts string, topic string, payload string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    out = st.parse_service_events(msgs).collect()
    assert len(out) == 1 and out[0]["action"] == "new" and out[0]["device_id"] == "d1"


def test_stateful_dedup_stream(spark, tmp_path):
    src = tmp_path / "dsrc"
    src.mkdir()
    rows = [("2024-01-01 00:00:00", "t/a", "x")] * 3 + [
        ("2024-01-01 00:00:01", "t/a", "y"),
        ("2024-01-01 00:00:02", "t/b", "x"),
    ]
    df = spark.createDataFrame(rows, "ts string, topic string, payload string")
    df.select(F.col("ts").cast("timestamp"), "topic", "payload").coalesce(
        1
    ).write.mode("overwrite").parquet(str(src / "stage"))
    import shutil
    for i, f in enumerate((src / "stage").glob("part-*.parquet")):
        shutil.copy(f, src / f"{i}.parquet")
    shutil.rmtree(src / "stage")

    stream = st.mqtt_file_stream(spark, str(src))
    deduped = st.dedup_messages(stream, "1 minute")
    q = (
        deduped.writeStream.format("parquet")
        .option("path", str(tmp_path / "dout"))
        .option("checkpointLocation", str(tmp_path / "dckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(str(tmp_path / "dout"))
    assert got.count() == 3  # (t/a,x), (t/a,y), (t/b,x)
    # batch fallback path agrees
    batch = st.dedup_messages(spark.read.schema(st.MQTT_SCHEMA).parquet(str(src)))
    assert batch.count() == 3


def test_wide_view_pivot(spark):
    pts = spark.createDataFrame(
        [
            ("d1", "2024-01-01 00:00:00", "temp", 1.5),
            ("d1", "2024-01-01 00:00:00", "hum", 40.0),
            ("d2", "2024-01-01 00:00:00", "temp", 2.5),
        ],
        "device_id string, ts string, transducer string, value_double double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    wide = st.wide_view(pts)
    rows = {r["device_id"]: r for r in wide.collect()}
    assert rows["d1"]["temp"] == 1.5 and rows["d1"]["hum"] == 40.0
    assert rows["d2"]["temp"] == 2.5 and rows["d2"]["hum"] is None
    # explicit fields skip the probe AND bound the schema: unknown
    # transducers fold away, absent ones yield all-null columns
    narrow = st.wide_view(pts, fields=["temp", "co2"])
    assert set(narrow.columns) == {"device_id", "ts", "temp", "co2"}
    got = {r["device_id"]: r for r in narrow.collect()}
    assert got["d1"]["temp"] == 1.5 and got["d1"]["co2"] is None


def test_wide_view_null_transducer_keeps_pivot_contract(spark):
    """r10 review finding: a short data topic parses to a NULL
    transducer (try_element_at), and an un-quarantined points frame
    can carry it into the probe — sorted() on a None/str mix throws.
    The dynamic pivot this probe replaced sorted nulls first and
    minted a 'null' column; the capped probe must keep that contract,
    not crash."""
    pts = spark.createDataFrame(
        [
            ("d1", "2024-01-01 00:00:00", "temp", 1.5),
            ("d1", "2024-01-01 00:00:00", None, 9.9),
            ("d2", "2024-01-01 00:00:00", "hum", 40.0),
        ],
        "device_id string, ts string, transducer string, value_double double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    wide = st.wide_view(pts)
    assert wide.columns == ["device_id", "ts", "null", "hum", "temp"]
    rows = {r["device_id"]: r for r in wide.collect()}
    assert rows["d1"]["null"] == 9.9 and rows["d1"]["temp"] == 1.5
    assert rows["d2"]["null"] is None and rows["d2"]["hum"] == 40.0


def test_wide_view_refuses_null_name_collision(spark):
    """ADVICE r10: the null-transducer contract (NULL pivots to a
    column named 'null') collides when a transducer is ALSO literally
    named 'null' — the pivot would mint two identical column names.
    wide_view must refuse with a pointer, mirroring the width-cap
    idiom, instead of producing an ambiguous schema."""
    import pytest

    pts = spark.createDataFrame(
        [
            ("d1", "2024-01-01 00:00:00", None, 9.9),
            ("d1", "2024-01-01 00:00:00", "null", 1.0),
            ("d2", "2024-01-01 00:00:00", "temp", 2.0),
        ],
        "device_id string, ts string, transducer string, value_double double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="literally named 'null'"):
        st.wide_view(pts)
    # ADVICE r11: Spark column resolution is case-insensitive by
    # default (spark.sql.caseSensitive=false), so 'NULL'/'Null'
    # transducers collide with the NULL-transducer's 'null' column
    # exactly the same way — the guard must case-fold.
    for cased in ("NULL", "Null"):
        pts_cased = spark.createDataFrame(
            [
                ("d1", "2024-01-01 00:00:00", None, 9.9),
                ("d1", "2024-01-01 00:00:00", cased, 1.0),
            ],
            "device_id string, ts string, transducer string, "
            "value_double double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        with pytest.raises(ValueError, match="literally named 'null'"):
            st.wide_view(pts_cased)
    # an explicit fields= list stays the caller's escape hatch
    out = st.wide_view(pts, fields=["null", "temp"])
    assert out.columns == ["device_id", "ts", "null", "temp"]
    rows = {r["device_id"]: r for r in out.collect()}
    assert rows["d1"]["null"] == 1.0 and rows["d2"]["temp"] == 2.0


def test_wide_view_refuses_unbounded_pivot(spark, monkeypatch):
    """VERDICT r9 #3: the dynamic pivot's distinct probe is CAPPED —
    above WIDE_VIEW_MAX_FIELDS wide_view must refuse with the catalog
    pointer (the _bounded_index idiom) instead of minting one driver
    column per transducer. Capped probe = limit(MAX+1), so the scan
    stops early rather than counting the universe."""
    import pytest

    monkeypatch.setattr(st.ingest, "WIDE_VIEW_MAX_FIELDS", 5)
    pts = spark.createDataFrame(
        [("d1", f"t{i}", float(i)) for i in range(10)],
        "device_id string, transducer string, value_double double",
    ).withColumn("ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
    with pytest.raises(ValueError, match="series catalog"):
        st.wide_view(pts)
    # explicit fields remain the sanctioned route at any cardinality
    assert st.wide_view(pts, fields=["t1", "t2"]).count() == 1


def test_split_malformed_quarantine(spark):
    msgs = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", "openchirp/device/d1/temp", "1"),
            ("2024-01-01 00:00:01", "openchirp/device/d1", "truncated"),
            ("2024-01-01 00:00:02", "openchirp/device/d1/temp/extra", "deep"),
            ("2024-01-01 00:00:03", "openchirp/device//temp", "no-device"),
            ("2024-01-01 00:00:04", "other/topic", "not-data"),
        ],
        "ts string, topic string, payload string",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    good, bad = st.split_malformed(msgs)
    assert [r["payload"] for r in good.collect()] == ["1"]
    assert sorted(r["payload"] for r in bad.collect()) == [
        "deep", "no-device", "truncated"
    ]
    # non-data topics belong to neither branch (they dispatch elsewhere)
    assert good.count() + bad.count() == 4


def test_ingest_routes_malformed_to_dead_letter(spark, tmp_path):
    """End-to-end A16: a short/malformed data topic must land in the
    dead-letter sink — not poison the micro-batch (the ANSI
    element_at poison-pill), not silently vanish, and never reach the
    points table."""
    rows = [
        ("2024-01-01 00:00:00", "openchirp/device/d1/Temp", "3.5"),
        ("2024-01-01 00:00:01", "openchirp/device/d1", "truncated"),
        ("2024-01-01 00:00:02", "openchirp/device//temp", "no-device"),
    ]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, "ts string, topic string, payload string")
        .select(F.col("ts").cast("timestamp"), "topic", "payload")
        .coalesce(1).write.parquet(src)
    )
    q = st.start_ingest(
        spark, src, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    points = spark.read.parquet(str(tmp_path / "out" / "points"))
    assert [r.series_id for r in points.collect()] == ["d1_temp"]
    dead = spark.read.parquet(str(tmp_path / "out" / "dead_letter"))
    assert sorted(r.payload for r in dead.collect()) == [
        "no-device", "truncated"
    ]


def test_compact_partition(spark, mqtt_source, tmp_path):
    q = st.start_ingest(
        spark, mqtt_source, str(tmp_path / "o9"), str(tmp_path / "c9")
    )
    q.awaitTermination(120)
    points_dir = str(tmp_path / "o9" / "points")
    warehouse = str(tmp_path / "o9" / "warehouse")
    got = spark.read.parquet(points_dir)
    date = got.select(F.min("ingest_date")).collect()[0][0].isoformat()
    before_rows = got.filter(F.col("ingest_date") == date).count()
    st.compact(spark, points_dir, date, warehouse, target_files=1)
    after = spark.read.parquet(f"{warehouse}/ingest_date={date}")
    after_files = list(
        (tmp_path / "o9" / "warehouse" / f"ingest_date={date}").glob("*.parquet")
    )
    assert after.count() == before_rows
    assert len(after_files) == 1  # compacted to a single data file
    # identical content, not just identical counts
    cols = ["series_id", "ts", "value_double"]
    assert sorted(after.select(cols).collect()) == sorted(
        got.filter(F.col("ingest_date") == date).select(cols).collect()
    )


def test_activation_stream_stream_join(spark, tmp_path):
    """Stream-STREAM interval join (A2 branches correlated): points a
    new device publishes within the horizon of its 'new' event match;
    later points and never-created devices don't. The same code path
    runs on batch inputs (EliminateEventTimeWatermark) and must agree
    with the streaming result."""
    rows = [
        # d1 created at 00:00 -> point at 00:05 matches, 00:20 too late
        ("2024-01-01 00:00:00", "openchirp/service/x/thing/events",
         json.dumps({"action": "new", "thing": {"id": "d1"}})),
        ("2024-01-01 00:05:00", "openchirp/device/d1/Temp", "1.5"),
        ("2024-01-01 00:20:00", "openchirp/device/d1/Temp", "2.5"),
        # d2 never created -> no match
        ("2024-01-01 00:06:00", "openchirp/device/d2/Temp", "3.5"),
        # watermark-advancing tail traffic
        ("2024-01-01 01:00:00", "openchirp/device/d9/Temp", "9.0"),
        ("2024-01-01 01:00:00", "openchirp/service/x/thing/events",
         json.dumps({"action": "new", "thing": {"id": "d8"}})),
    ]
    src = str(tmp_path / "src")
    (
        spark.createDataFrame(rows, "ts string, topic string, payload string")
        .select(F.col("ts").cast("timestamp"), "topic", "payload")
        .coalesce(1).write.parquet(src)
    )

    def joined(msgs):
        data, events = st.dispatch(msgs, "openchirp/service/x/thing/events")
        well, _ = st.split_malformed(data)
        return st.activation_points_join(
            st.to_points(well), st.parse_service_events(events)
        )

    out = joined(st.mqtt_file_stream(spark, src))
    q = (
        out.writeStream.format("memory").queryName("acts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    got = {(r.device_id, str(r.ts), r.latency_us)
           for r in spark.sql("SELECT * FROM acts").collect()}
    assert got == {("d1", "2024-01-01 00:05:00", 300_000_000)}

    batch = joined(spark.read.schema(st.MQTT_SCHEMA).parquet(src))
    assert {(r.device_id, str(r.ts), r.latency_us)
            for r in batch.collect()} == got


def test_near_dup_screen_stream_matches_batch(spark, tmp_path):
    """At-ingest near-dup gate: stream two micro-batches of documents
    against the sf0.001 corpus index — exact copies of corpus docs hit
    with jaccard 1.0, unrelated text doesn't, and the streamed hit log
    equals the batch screen of the same input."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        _doc_shingles,
        _minhash_banded,
        near_dup_screen,
    )
    from mqtt_influx_storage_service_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    corpus = load_table(spark, sf, "documents")
    copies = (
        corpus.orderBy("doc_id").limit(4)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    novel = spark.createDataFrame(
        [(200001, "zzq yyx wwv uuk ttj ssh rrg")], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    copies.coalesce(1).write.parquet(src)
    novel.coalesce(1).write.mode("append").parquet(src)

    q = st.start_near_dup_screen(
        spark, src, sf, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    hits = spark.read.parquet(str(tmp_path / "out" / "near_dup_hits"))
    got = {(r.new_doc_id, r.corpus_doc_id, r.jaccard) for r in hits.collect()}

    # every copied doc matches its source with jaccard 1.0
    expect_exact = {(d + 100000, d) for d in
                    [r.doc_id for r in corpus.orderBy("doc_id").limit(4).collect()]}
    assert expect_exact <= {(a, b) for a, b, _ in got}
    assert all(j == 1.0 for a, b, j in got if (a, b) in expect_exact)
    assert not any(a == 200001 for a, _, _ in got)

    batch_docs = spark.read.schema(st.screen.DOC_STREAM_SCHEMA).parquet(src)
    batch = near_dup_screen(
        batch_docs, _doc_shingles(spark, sf), _minhash_banded(spark, sf)
    )
    assert {(r.new_doc_id, r.corpus_doc_id, r.jaccard)
            for r in batch.collect()} == got
    cache.release(spark)


def test_substring_screen_stream_matches_batch(spark, tmp_path):
    """At-ingest EXACT-SPAN gate (VERDICT r6 #6): stream two
    micro-batches against the sf0.001 corpus window index — a doc
    embedding a verbatim ≥16-token corpus span hits with the right
    span offsets, novel text doesn't, and the streamed hit log equals
    the batch screen of the same input."""
    from mqtt_influx_storage_service_spark.operators.dedup import (
        SUBSTR_TOKENS,
        _corpus_window_index,
        _substring_kernel,
        substring_screen,
    )
    from mqtt_influx_storage_service_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    corpus = load_table(spark, sf, "documents")
    long_docs = [
        r
        for r in corpus.orderBy("doc_id").limit(50).collect()
        if len(r.text.split(" ")) >= SUBSTR_TOKENS + 8
    ][:2]
    assert len(long_docs) == 2
    # new doc = 5 novel tokens + a 20-token verbatim corpus span +
    # 5 novel tokens → expect exactly one maximal span at pos 6, len 20
    span = " ".join(long_docs[0].text.split(" ")[:20])
    embedded = "n1 n2 n3 n4 n5 " + span + " n6 n7 n8 n9 n10"
    batch1 = spark.createDataFrame(
        [(300001, embedded)], "doc_id long, text string"
    )
    batch2 = spark.createDataFrame(
        [
            (300002, long_docs[1].text),  # full verbatim copy
            (300003, " ".join(f"zq{i}" for i in range(40))),  # novel
        ],
        "doc_id long, text string",
    )
    src = str(tmp_path / "src")
    batch1.coalesce(1).write.parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    q = st.start_substring_screen(
        spark, src, sf, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    hits = spark.read.parquet(str(tmp_path / "out" / "substring_hits"))
    got = {(r.new_doc_id, r.span_start, r.span_len) for r in hits.collect()}

    n1 = len(long_docs[1].text.split(" "))
    assert (300001, 6, 20) in got
    assert (300002, 1, n1) in got
    assert not any(d == 300003 for d, _, _ in got)

    batch_docs = spark.read.schema(st.screen.DOC_STREAM_SCHEMA).parquet(src)
    batch = substring_screen(
        batch_docs, _corpus_window_index(spark, sf), _substring_kernel(sf)
    )
    assert {
        (r.new_doc_id, r.span_start, r.span_len) for r in batch.collect()
    } == got
    cache.release(spark)


def test_socket_source_drives_ingest(spark, tmp_path):
    """The Source seam is swappable (SURVEY.md §7, VERDICT r2 missing
    #2): drive the FULL ingest pipeline (dispatch → split_malformed →
    to_points → partitioned sink) from a live TCP socket instead of the
    file stream, and check the sink rows match the batch-tier
    transformation of the same messages."""
    import socket
    import threading
    import time as _time

    lines = [
        json.dumps(
            {
                "ts": f"2024-01-01 00:00:{i:02d}",
                "topic": f"openchirp/device/dev{i % 3}/Temp",
                "payload": str(1.5 + i),
            }
        )
        for i in range(20)
    ]
    # one malformed-topic message → dead letter, one events-topic → CDC branch
    lines.append(
        json.dumps(
            {
                "ts": "2024-01-01 00:01:00",
                "topic": "openchirp/device/short",
                "payload": "x",
            }
        )
    )
    lines.append(
        json.dumps(
            {
                "ts": "2024-01-01 00:01:01",
                "topic": "openchirp/service/x/thing/events",
                "payload": json.dumps({"action": "new", "thing": {"id": "d"}}),
            }
        )
    )

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(4)
    port = server.getsockname()[1]

    def _feed(conn):
        with conn:
            try:
                conn.sendall(("\n".join(lines) + "\n").encode())
                _time.sleep(15)  # keep open while micro-batches drain
            except OSError:
                pass

    def _serve():
        # EACH streaming query opens its own connection (points +
        # dead-letter here); serve the same feed to every one.
        while True:
            try:
                conn, _ = server.accept()
            except OSError:
                return
            threading.Thread(target=_feed, args=(conn,), daemon=True).start()

    t = threading.Thread(target=_serve, daemon=True)
    t.start()

    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src = st.mqtt_socket_stream(spark, "127.0.0.1", port)
    q = st.start_ingest(
        spark,
        source_dir="unused",
        out_dir=str(out),
        checkpoint_dir=str(ckpt),
        available_now=False,
        source=src,
    )
    try:
        deadline = _time.time() + 60
        points_dir = out / "points"
        while _time.time() < deadline:
            try:
                n = spark.read.parquet(str(points_dir)).count()
                if n >= 20:
                    break
            except Exception:
                pass
            _time.sleep(1)
    finally:
        st.stop_all(spark)
        server.close()

    got = spark.read.parquet(str(out / "points"))
    assert got.count() == 20  # malformed + events rows routed elsewhere
    batch = spark.createDataFrame(
        [(l,) for l in lines], "value string"
    ).select(
        F.from_json(
            F.col("value"), "ts timestamp, topic string, payload string"
        ).alias("j")
    ).select("j.ts", "j.topic", "j.payload")
    from mqtt_influx_storage_service_spark.streaming.ingest import (
        dispatch,
        split_malformed,
        to_points,
    )
    data, _ = dispatch(batch, "openchirp/service/x/thing/events")
    well, _ = split_malformed(data)
    expect = to_points(well)
    cols = ["series_id", "ts", "value_type", "value_double"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, expect.select(*cols).collect())
    )


def test_journal_relay_exactly_once_across_restart(spark, tmp_path):
    """The replayable live edge (VERDICT r3 missing #1): socket →
    JournalRelay → journal dir → file-source ingest. Three ingest runs
    share one checkpoint, simulating kill/restart: run 1 sees the first
    feed, run 2 (after more frames arrive) processes ONLY the new
    files, run 3 (no new data) is a no-op — exactly-once across
    restarts, no loss, no duplication, including a malformed frame
    that must be journaled (not dropped) yet stay out of the sink."""
    import socket
    import threading
    import time as _time

    feed1 = [
        json.dumps(
            {
                "ts": f"2024-02-01 00:00:{i:02d}",
                "topic": f"openchirp/device/dev{i % 3}/Temp",
                "payload": str(float(i)),
            }
        )
        for i in range(25)
    ]
    feed1.append("this is not json")  # journaled under MALFORMED_TOPIC
    feed2 = [
        json.dumps(
            {
                "ts": f"2024-02-01 00:01:{i:02d}",
                "topic": f"openchirp/device/dev{i % 3}/Temp",
                "payload": str(100.0 + i),
            }
        )
        for i in range(25)
    ]

    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    server.listen(1)
    port = server.getsockname()[1]
    conn_holder = {}

    def _accept():
        conn, _ = server.accept()
        conn_holder["conn"] = conn

    acceptor = threading.Thread(target=_accept, daemon=True)
    acceptor.start()

    journal = tmp_path / "journal"
    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    relay = st.JournalRelay(str(journal), "127.0.0.1", port, flush_secs=0.1)
    relay.start()
    acceptor.join(timeout=10)
    conn = conn_holder["conn"]

    def _await_journal(n_frames):
        deadline = _time.time() + 30
        while _time.time() < deadline:
            if relay.frames_journaled >= n_frames:
                return
            _time.sleep(0.1)
        raise AssertionError(
            f"journal stuck at {relay.frames_journaled} < {n_frames}"
        )

    def _run_ingest():
        q = st.start_ingest(
            spark, str(journal), str(out), str(ckpt), available_now=True
        )
        q.awaitTermination(120)

    try:
        conn.sendall(("\n".join(feed1) + "\n").encode())
        _await_journal(len(feed1))
        _run_ingest()
        pts = spark.read.parquet(str(out / "points"))
        assert pts.count() == 25

        conn.sendall(("\n".join(feed2) + "\n").encode())
        _await_journal(len(feed1) + len(feed2))
        _run_ingest()  # restart from the same checkpoint
        pts = spark.read.parquet(str(out / "points"))
        assert pts.count() == 50
        # no duplicates, nothing lost: every payload exactly once
        vals = sorted(
            r.value_double for r in pts.select("value_double").collect()
        )
        assert vals == sorted(
            [float(i) for i in range(25)] + [100.0 + i for i in range(25)]
        )

        _run_ingest()  # third restart, no new data: must be a no-op
        assert spark.read.parquet(str(out / "points")).count() == 50

        # the malformed frame is auditable in the journal, not the sink
        j = spark.read.parquet(str(journal))
        assert j.filter(F.col("topic") == st.MALFORMED_TOPIC).count() == 1
        assert j.count() == len(feed1) + len(feed2)
    finally:
        relay.stop()
        conn.close()
        server.close()
        st.stop_all(spark)


def test_enriched_ingest_sees_mid_stream_registry_update(spark, tmp_path):
    """A12 live enrichment (VERDICT r3 missing #2): the lookup hook is
    re-evaluated per micro-batch, so a registry change between two
    availableNow runs changes the enrichment of the LATER batch only —
    the per-event fetch semantics of influx_service.py:276-307, which
    the snapshot-join batch tier deliberately freezes. Also pins the
    idempotent batch=<id> overwrite layout: re-running with no new
    data adds no rows."""
    import time as _time

    from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

    registry = SnapshotTable(
        spark, str(tmp_path / "registry"), ["device_id"],
        schema="device_id string, owner string",
    )
    registry.merge(
        spark.createDataFrame([("dev1", "alice")], registry.schema),
        batch_id=0,
    )

    src = str(tmp_path / "src")

    def _feed(n0, n):
        spark.createDataFrame(
            [
                (
                    dt.datetime(2024, 3, 1, 0, 0, i),
                    "openchirp/device/dev1/Temp",
                    str(float(i)),
                )
                for i in range(n0, n0 + n)
            ],
            "ts timestamp, topic string, payload string",
        ).coalesce(1).write.mode("append").parquet(src)

    def _run():
        q = st.start_enriched_ingest(
            spark,
            src,
            str(tmp_path / "out"),
            str(tmp_path / "ckpt"),
            lookup=lambda s: registry.read(),
        )
        q.awaitTermination(120)

    _feed(0, 10)
    _run()
    root = str(tmp_path / "out" / "points_enriched")
    first = spark.read.parquet(root)
    assert first.count() == 10
    assert {r.owner for r in first.select("owner").collect()} == {"alice"}

    # mid-stream registry update: dev1 changes hands
    registry.merge(
        spark.createDataFrame([("dev1", "bob")], registry.schema),
        batch_id=1,
    )
    _feed(10, 10)
    _run()
    both = spark.read.parquet(root)
    assert both.count() == 20
    by_owner = {
        r.owner: r.n
        for r in both.groupBy("owner").agg(F.count("*").alias("n")).collect()
    }
    assert by_owner == {"alice": 10, "bob": 10}

    _run()  # replay with no new data: idempotent, no duplicate rows
    assert spark.read.parquet(root).count() == 20


# ---------------------------------------------------------------------------
# Journal chaos tests (VERDICT r4 "Next round" #8): the r4 kill/restart
# test covers clean restarts; these cover (a) a crash MID-WRITE — power
# cut between pq.write_table and the atomic os.replace, leaving a torn
# dot-prefixed temp file — and (b) QoS-1 duplicate delivery after an
# un-acked publish. Both must converge to the no-crash run's contents.
# ---------------------------------------------------------------------------

def _frames(n, base_min=0, tag="Temp"):
    return [
        (
            dt.datetime(2024, 2, 1, 0, base_min + i // 60, i % 60),
            f"openchirp/device/dev{i % 3}/{tag}",
            str(float(i)),
        )
        for i in range(n)
    ]


def test_journal_torn_tmp_file_is_invisible_and_recoverable(spark, tmp_path, monkeypatch):
    """Crash between write_table and os.replace: only the dot-prefixed
    temp exists. Spark's file listing ignores dot-prefixed names, so
    batch reads and the streaming ingest never see the torn bytes; a
    restarted relay re-publishes the frames under a fresh name and the
    sink converges byte-identical to the no-crash run."""
    journal = tmp_path / "journal"
    relay = st.JournalRelay(str(journal))
    a, b = _frames(20), _frames(20, base_min=10)
    relay._flush(a)

    # crash mid-flush: os.replace never happens for batch b
    real_replace = __import__("os").replace

    def _die(src, dst):
        raise OSError("simulated power cut before publish")

    monkeypatch.setattr("os.replace", _die)
    with pytest.raises(OSError):
        relay._flush(b)
    monkeypatch.setattr("os.replace", real_replace)
    # harden the scenario: the orphan temp is also TORN (half-written)
    torn = [p for p in journal.iterdir() if p.name.startswith(".")]
    assert len(torn) == 1
    torn[0].write_bytes(torn[0].read_bytes()[:100])

    # restarted relay re-delivers batch b under a fresh immutable name
    st.JournalRelay(str(journal))._flush(b)

    # the torn temp is invisible to both batch read and the ingest
    assert spark.read.parquet(str(journal)).count() == len(a) + len(b)
    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    q = st.start_ingest(spark, str(journal), str(out), str(ckpt),
                        available_now=True)
    q.awaitTermination(120)
    st.stop_all(spark)

    # baseline: the same frames journaled with no crash
    base_j = tmp_path / "base_journal"
    base_relay = st.JournalRelay(str(base_j))
    base_relay._flush(a)
    base_relay._flush(b)
    bq = st.start_ingest(spark, str(base_j), str(tmp_path / "base_out"),
                         str(tmp_path / "base_ckpt"), available_now=True)
    bq.awaitTermination(120)
    st.stop_all(spark)

    cols = ["ts", "device_id", "transducer", "value_double"]
    got = sorted(map(tuple, spark.read.parquet(str(out / "points")).select(*cols).collect()))
    want = sorted(map(tuple, spark.read.parquet(str(tmp_path / "base_out" / "points")).select(*cols).collect()))
    assert got == want and len(got) == len(a) + len(b)


def test_journal_duplicate_delivery_absorbed_by_stream_dedup(spark, tmp_path):
    """QoS-1 re-delivery: the bridge re-sends an un-acked batch, so the
    journal holds the SAME frames twice (at-least-once below the
    durability boundary — by design). dedup_messages on the source seam
    drops the exact (topic, payload) repeats within the watermark, so
    the sink converges to the single-delivery run."""
    journal = tmp_path / "journal"
    relay = st.JournalRelay(str(journal))
    a = _frames(30)
    relay._flush(a)
    relay._flush(a)  # duplicate delivery lands as a second journal file
    assert spark.read.parquet(str(journal)).count() == 2 * len(a)

    out, ckpt = tmp_path / "out", tmp_path / "ckpt"
    src = st.dedup_messages(st.mqtt_file_stream(spark, str(journal)))
    q = st.start_ingest(spark, str(journal), str(out), str(ckpt),
                        available_now=True, source=src)
    q.awaitTermination(120)
    st.stop_all(spark)

    pts = spark.read.parquet(str(out / "points"))
    assert pts.count() == len(a)
    vals = sorted(r.value_double for r in pts.select("value_double").collect())
    assert vals == sorted(float(i) for i in range(len(a)))


def test_bridge_line_contract(spark):
    """Pin the bridge-line seam contract shared by the socket source
    and any JSON-line transport (VERDICT r5 #5): JSON line → (ts,
    topic, payload); missing/unparseable ts falls back to the transport
    arrival timestamp; a line with no parseable topic is dropped. Pure
    column algebra, so the batch run here certifies the streaming
    behavior."""
    fallback = "2024-06-01 12:00:00"
    df = spark.createDataFrame(
        [
            (json.dumps({"ts": "2024-01-01 00:00:01",
                         "topic": "openchirp/device/d1/Temp",
                         "payload": "1.5"}),),
            (json.dumps({"topic": "openchirp/device/d2/Temp",
                         "payload": "2.5"}),),          # no ts → fallback
            ("this is not json",),                        # dropped
            (json.dumps({"ts": "2024-01-01 00:00:03",
                         "payload": "3.5"}),),           # no topic → dropped
        ],
        "value string",
    )
    out = sorted(
        st.bridge_lines_to_mqtt(
            df, F.lit(fallback).cast("timestamp")
        ).collect(),
        key=lambda r: r.topic,
    )
    assert [(r.topic, r.payload, str(r.ts)) for r in out] == [
        ("openchirp/device/d1/Temp", "1.5", "2024-01-01 00:00:01"),
        ("openchirp/device/d2/Temp", "2.5", fallback),
    ]


def test_bridge_source_conformance(spark, mqtt_source, tmp_path):
    """Transport conformance for the switchable seam: the SAME
    messages delivered (a) through the parquet file source and (b) as
    JSON bridge lines (the Kafka record value shape) through
    bridge_lines_to_mqtt land IDENTICAL rows in the checkpointed sink —
    the exactly-once e2e reused across transports."""
    msgs = _batch_msgs(spark, mqtt_source).collect()
    lines_dir = tmp_path / "lines"
    lines_dir.mkdir()
    with open(lines_dir / "a.jsonl", "w") as fh:
        for r in msgs:
            fh.write(json.dumps({
                "ts": r.ts.strftime("%Y-%m-%d %H:%M:%S"),
                "topic": r.topic,
                "payload": r.payload,
            }) + "\n")
    text = spark.readStream.format("text").load(str(lines_dir))
    bridged = st.bridge_lines_to_mqtt(
        text, F.lit("2099-01-01").cast("timestamp")
    )
    q = st.start_ingest(
        spark, str(lines_dir), str(tmp_path / "out_b"),
        str(tmp_path / "ckpt_b"), source=bridged,
    )
    q.awaitTermination(120)
    q2 = st.start_ingest(
        spark, mqtt_source, str(tmp_path / "out_f"), str(tmp_path / "ckpt_f")
    )
    q2.awaitTermination(120)
    cols = ["series_id", "ts", "value_type", "value_double",
            "value_bool", "value_str"]
    got_b = sorted(spark.read.parquet(
        str(tmp_path / "out_b" / "points")).select(cols).collect())
    got_f = sorted(spark.read.parquet(
        str(tmp_path / "out_f" / "points")).select(cols).collect())
    assert got_b == got_f and len(got_b) > 0


def test_make_source_dispatch(spark, tmp_path):
    """make_source: one switchable config for the two transports;
    every branch yields the seam relation or fails actionably."""
    from mqtt_influx_storage_service_spark.config import ServiceConfig

    d = tmp_path / "src"
    d.mkdir()
    cfg = ServiceConfig({"source_type": "file", "source_dir": str(d)})
    src = st.make_source(spark, cfg)
    assert src.isStreaming and [f.name for f in src.schema.fields] == [
        "ts", "topic", "payload"
    ]
    with pytest.raises(ValueError, match="source_dir"):
        st.make_source(spark, ServiceConfig({"source_type": "file"}))
    with pytest.raises(ValueError, match="unknown source_type"):
        st.make_source(spark, ServiceConfig({"source_type": "carrier-pigeon"}))


def test_dsir_screen_stream_equals_batch(spark, tmp_path):
    """At-ingest DSIR scoring ≡ the batch campaign: the streamed
    scores of two micro-batches equal dsir_score over the same docs
    read as one batch, bit-for-bit (shared bucket kernel + frozen
    model), and target-language corpus text outscores non-target
    corpus text. (A doc of NOVEL tokens is deliberately not the
    contrast: unseen buckets carry the positive smoothing ratio
    ln((N_raw+B)/(N_target+B)) — the known Laplace artifact — so the
    gate is meaningful on in-distribution text, and a production
    screen pairs it with the novelty/langid gates.)"""
    from mqtt_influx_storage_service_spark.operators.textops import (
        dsir_llr_model,
        dsir_score,
    )
    from mqtt_influx_storage_service_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    corpus = load_table(spark, sf, "documents")
    en_doc = corpus.filter(F.col("lang") == "en").orderBy("doc_id").first()
    batch1 = spark.createDataFrame(
        [(400001, en_doc.text)], "doc_id long, text string"
    )
    de_doc = corpus.filter(F.col("lang") == "de").orderBy("doc_id").first()
    batch2 = spark.createDataFrame(
        [(400002, de_doc.text)], "doc_id long, text string"
    )
    src = str(tmp_path / "src")
    batch1.coalesce(1).write.parquet(src)
    batch2.coalesce(1).write.mode("append").parquet(src)

    q = st.start_dsir_screen(
        spark, src, sf, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)
    streamed = spark.read.parquet(str(tmp_path / "out" / "dsir_scores"))
    got = {(r.doc_id, r.n_feats, r.logw) for r in streamed.collect()}

    batch_docs = spark.read.schema(st.screen.DOC_STREAM_SCHEMA).parquet(src)
    want = {
        (r.doc_id, r.n_feats, r.logw)
        for r in dsir_score(batch_docs, dsir_llr_model(spark, sf)).collect()
    }
    assert got == want and len(got) == 2
    scores = {d: w for d, _, w in got}
    assert scores[400001] > scores[400002]
    cache.release(spark, "dsir")


def test_dsir_screen_restart_is_exactly_once(spark, tmp_path):
    """Kill/restart chaos for the DSIR screen: after a second start on
    the same checkpoint, already-screened batches are not re-scored
    (no duplicate doc_ids in the score log), and the late batch is."""
    sf = "/root/testdata/sf0.001"
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(500001, "alpha beta gamma delta")], "doc_id long, text string"
    ).coalesce(1).write.parquet(src)

    q = st.start_dsir_screen(
        spark, src, sf, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    spark.createDataFrame(
        [(500002, "epsilon zeta eta theta")], "doc_id long, text string"
    ).coalesce(1).write.mode("append").parquet(src)
    q = st.start_dsir_screen(
        spark, src, sf, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    q.awaitTermination(180)

    rows = spark.read.parquet(str(tmp_path / "out" / "dsir_scores")).collect()
    ids = sorted(r.doc_id for r in rows)
    assert ids == [500001, 500002]  # each exactly once across restarts
    cache.release(spark, "dsir")


def test_wide_view_refuses_case_pair_collision(spark):
    """r12 review finding: two STRING transducers differing only in
    case ('Temp'/'temp') collide under Spark's default
    case-insensitive column resolution exactly like the NULL/'null'
    pair — the probe must refuse, not mint an AMBIGUOUS_REFERENCE
    schema. Conforming ingest never produces these (the topic parser
    lowercases, reference influx_service.py:139); this guards
    un-quarantined external frames."""
    import pytest

    pts = spark.createDataFrame(
        [
            ("d1", "2024-01-01 00:00:00", "Temp", 1.0),
            ("d1", "2024-01-01 00:00:00", "temp", 2.0),
            ("d2", "2024-01-01 00:00:00", "hum", 3.0),
        ],
        "device_id string, ts string, transducer string, value_double double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    with pytest.raises(ValueError, match="differing only in case"):
        st.wide_view(pts)


def test_wide_view_refuses_fixed_column_collision(spark):
    """ADVICE r12: a transducer whose lowercased name equals a fixed
    output column ('ts', 'device_id' — e.g. a 'TS' transducer from a
    non-conforming frame) pivots into a column that collides with the
    groupBy columns under case-insensitive resolution — the same
    AMBIGUOUS_REFERENCE class the case-pair guard closes. The probe
    must refuse with the fields= pointer."""
    import pytest

    for bad in ("TS", "ts", "Device_Id"):
        pts = spark.createDataFrame(
            [
                ("d1", "2024-01-01 00:00:00", bad, 1.0),
                ("d2", "2024-01-01 00:00:00", "hum", 3.0),
            ],
            "device_id string, ts string, transducer string,"
            " value_double double",
        ).withColumn("ts", F.col("ts").cast("timestamp"))
        with pytest.raises(ValueError, match="fixed"):
            st.wide_view(pts)
