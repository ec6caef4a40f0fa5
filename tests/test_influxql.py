"""Parser/compiler tests for functions/influxql.py — the surface the
oracle-backed iq_* registry entries don't reach (error paths, SHOW,
SLIMIT/OFFSET, numeric fill, plan shape)."""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from mqtt_influx_storage_service_spark.functions.influxql import (
    Bin,
    Call,
    Dur,
    InfluxQLError,
    Rgx,
    Select,
    Show,
    Str,
    influxql,
    parse,
)


# -- parser ----------------------------------------------------------------


def test_parse_full_select():
    st = parse(
        "SELECT MEAN(value) AS m, COUNT(value) FROM cpu, mem "
        "WHERE time >= '2024-01-01' AND host = 'a' "
        "GROUP BY time(10m), host fill(previous) "
        "ORDER BY time DESC LIMIT 5 OFFSET 2 SLIMIT 3"
    )
    assert isinstance(st, Select)
    assert [f.alias for f in st.fields] == ["m", None]
    assert [m.value for m in st.measurements] == ["cpu", "mem"]
    assert st.group_time_ns == 10 * 60 * 1_000_000_000
    assert st.group_tags == ["host"]
    assert st.fill == "previous"
    assert st.order_desc and st.limit == 5 and st.offset == 2 and st.slimit == 3


def test_parse_regex_measurement_and_predicate():
    st = parse("SELECT value FROM /^(cpu|mem)$/ WHERE host =~ /web\\d+/")
    assert isinstance(st.measurements[0], Rgx)
    assert st.measurements[0].pattern == "^(cpu|mem)$"
    assert isinstance(st.where, Bin) and st.where.op == "=~"
    assert st.where.right.pattern == "web\\d+"


def test_parse_durations_and_nested_calls():
    st = parse("SELECT DERIVATIVE(MEAN(value), 1h) FROM m GROUP BY time(1d)")
    call = st.fields[0].expr
    assert isinstance(call, Call) and call.func == "DERIVATIVE"
    assert isinstance(call.args[1], Dur)
    assert call.args[1].ns == 3_600 * 10**9
    assert st.group_time_ns == 86_400 * 10**9


def test_parse_show_variants():
    assert parse("SHOW MEASUREMENTS") == Show("measurements")
    assert parse("SHOW TAG KEYS") == Show("tag keys", None, None)
    assert parse("SHOW FIELD KEYS FROM cpu") == Show("field keys", None, [Str("cpu")])
    st = parse("SHOW TAG VALUES FROM cpu WITH KEY = host")
    assert st == Show("tag values", "host", [Str("cpu")])
    assert parse("SHOW DATABASES") == Show("databases")
    st = parse("SHOW RETENTION POLICIES ON db")
    assert st == Show("retention policies", on_database="db")
    st = parse("SHOW SERIES FROM /cpu.*/, mem")
    assert st.from_measurement[0].pattern == "cpu.*"
    assert st.from_measurement[1] == Str("mem")
    # the cardinality family: plain = HLL estimate, EXACT = exact
    assert parse("SHOW MEASUREMENT CARDINALITY") == Show(
        "measurement cardinality"
    )
    assert parse("SHOW SERIES EXACT CARDINALITY") == Show(
        "series cardinality", exact=True
    )
    assert parse("SHOW TAG KEY EXACT CARDINALITY FROM cpu") == Show(
        "tag key cardinality", None, [Str("cpu")], exact=True
    )
    st = parse("SHOW TAG VALUES EXACT CARDINALITY FROM cpu WITH KEY = host")
    assert st == Show("tag values cardinality", "host", [Str("cpu")], exact=True)
    assert parse("SHOW FIELD KEY CARDINALITY FROM cpu") == Show(
        "field key cardinality", None, [Str("cpu")]
    )


@pytest.mark.parametrize(
    "bad",
    [
        "SELECT",                                # no fields
        "SELECT value",                          # no FROM
        "SELECT value FROM m trailing",          # trailing input
        "SELECT value FROM m GROUP BY time(x)",  # bad duration
        "SELECT value FROM m GROUP BY time(1d) fill(bogus)",
        "SELECT value FROM m ORDER BY value",    # only time is orderable
        "SELECT value FROM m WHERE ^",           # junk char outside regex
        "SELECT value FROM /unterminated",
    ],
)
def test_parse_errors(bad):
    with pytest.raises(InfluxQLError):
        parse(bad)


# -- compile errors --------------------------------------------------------


def test_transform_requires_group_by_time(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="GROUP BY time"):
        influxql(spark, sf_dir, "SELECT DERIVATIVE(MEAN(value), 1h) FROM click")


def test_mixing_raw_and_agg_rejected(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="mix"):
        influxql(spark, sf_dir, "SELECT value, MEAN(value) FROM click")


def test_fill_requires_time_bounds(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="fill"):
        influxql(
            spark,
            sf_dir,
            "SELECT MEAN(value) FROM click GROUP BY time(1d) fill(previous)",
        )


def test_unknown_measurement_regex(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="no measurement"):
        influxql(spark, sf_dir, "SELECT value FROM /nope_.*/")


# -- compiled results ------------------------------------------------------


def test_raw_select_equals_dataframe_twin(spark, sf_dir):
    got = influxql(
        spark,
        sf_dir,
        "SELECT value * 2 AS v2 FROM click WHERE user_id = 3",
    )
    from mqtt_influx_storage_service_spark.sources import load_table

    want = (
        load_table(spark, sf_dir, "events")
        .filter((F.col("event_type") == "click") & (F.col("user_id") == 3))
        .select(F.col("ts").alias("time"), (F.col("value") * 2).alias("v2"))
    )
    assert got.columns == ["time", "v2"]
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_count_distinct(spark, sf_dir):
    got = influxql(
        spark, sf_dir, "SELECT COUNT(DISTINCT(user_id)) AS u FROM click"
    ).collect()
    from mqtt_influx_storage_service_spark.sources import load_table

    want = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .agg(F.countDistinct("user_id"))
        .collect()[0][0]
    )
    assert got[0]["u"] == want


def test_fill_number_and_spine_coverage(spark, sf_dir):
    out = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM signup "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-08 00:00:00' "
        "GROUP BY time(1d), user_id fill(0)",
    ).collect()
    by_user: dict = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r)
    # every observed series covers the full 7-day spine, gaps filled 0.0
    for rows in by_user.values():
        assert len(rows) == 7
    assert all(r["n"] is not None for r in out)


def test_slimit_and_offset(spark, sf_dir):
    full = influxql(
        spark, sf_dir, "SELECT COUNT(value) AS n FROM click GROUP BY user_id"
    ).collect()
    lim = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click GROUP BY user_id SLIMIT 3",
    ).collect()
    assert {r["user_id"] for r in lim} == set(
        sorted(r["user_id"] for r in full)[:3]
    )
    raw = influxql(
        spark,
        sf_dir,
        "SELECT value FROM click WHERE user_id = 3 ORDER BY time LIMIT 4 OFFSET 2",
    ).collect()
    base = influxql(
        spark,
        sf_dir,
        "SELECT value FROM click WHERE user_id = 3 ORDER BY time LIMIT 6",
    ).collect()
    assert [r["value"] for r in raw] == [r["value"] for r in base[2:]]


def test_soffset_pages_series(spark, sf_dir):
    full = influxql(
        spark, sf_dir, "SELECT COUNT(value) AS n FROM click GROUP BY user_id"
    ).collect()
    ordered = sorted(r["user_id"] for r in full)
    page2 = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click GROUP BY user_id SLIMIT 3 SOFFSET 3",
    ).collect()
    assert {r["user_id"] for r in page2} == set(ordered[3:6])
    # SOFFSET alone (no SLIMIT) drops the first n series, keeps the rest
    tail = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click GROUP BY user_id SOFFSET 2",
    ).collect()
    assert {r["user_id"] for r in tail} == set(ordered[2:])
    # past the end -> empty, not an error
    none = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click GROUP BY user_id "
        f"SOFFSET {len(ordered) + 5}",
    ).collect()
    assert none == []


def test_distinct_selector(spark, sf_dir):
    rows = influxql(
        spark,
        sf_dir,
        "SELECT DISTINCT(value) FROM click WHERE time < '2024-01-08'",
    ).collect()
    vals = [r["distinct"] for r in rows]
    assert len(vals) == len(set(vals)) > 0
    assert vals == sorted(vals)  # deterministic ascending emission
    base = influxql(
        spark, sf_dir, "SELECT value FROM click WHERE time < '2024-01-08'"
    ).collect()
    assert set(vals) == {r["value"] for r in base if r["value"] is not None}
    # bucketed: per-bucket distinct, bucket start as time
    b = influxql(
        spark,
        sf_dir,
        "SELECT DISTINCT(value) AS dv FROM click "
        "WHERE time < '2024-01-03' GROUP BY time(1d)",
    ).collect()
    per_bucket = {}
    for r in b:
        per_bucket.setdefault(r["time"], []).append(r["dv"])
    for t, vs in per_bucket.items():
        assert len(vs) == len(set(vs))
        assert t.hour == t.minute == t.second == 0


def test_top_bottom_per_tag(spark, sf_dir):
    """TOP(field, tag, N): each returned row is a DISTINCT tag's
    extreme point, and the N rows are the greatest per-tag extremes."""
    rows = influxql(
        spark,
        sf_dir,
        "SELECT TOP(value, user_id, 3) AS tv FROM click "
        "WHERE time < '2024-02-01'",
    ).collect()
    assert len(rows) == 3
    assert len({r["user_id"] for r in rows}) == 3  # one row per tag
    base = influxql(
        spark, sf_dir, "SELECT MAX(value) AS mx FROM click "
        "WHERE time < '2024-02-01' GROUP BY user_id"
    ).collect()
    per_tag_max = sorted((r["mx"] for r in base), reverse=True)
    assert sorted((r["tv"] for r in rows), reverse=True) == per_tag_max[:3]
    bot = influxql(
        spark,
        sf_dir,
        "SELECT BOTTOM(value, user_id, 2) AS bv FROM click "
        "WHERE time < '2024-02-01'",
    ).collect()
    per_tag_min = sorted(
        r["mn"]
        for r in influxql(
            spark, sf_dir, "SELECT MIN(value) AS mn FROM click "
            "WHERE time < '2024-02-01' GROUP BY user_id"
        ).collect()
    )
    assert sorted(r["bv"] for r in bot) == per_tag_min[:2]


def test_statement_batch(spark, sf_dir):
    from mqtt_influx_storage_service_spark.functions.influxql import (
        influxql_batch,
        parse_all,
    )

    dfs = influxql_batch(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click; SHOW MEASUREMENTS ;; "
        "SELECT MEAN(value) AS m FROM view GROUP BY user_id;",
    )
    assert len(dfs) == 3
    assert dfs[0].columns == ["n"] and dfs[0].count() == 1
    assert dfs[1].count() > 0
    assert set(dfs[2].columns) == {"user_id", "m"}
    # single-statement parse still rejects trailing statements
    with pytest.raises(InfluxQLError, match="trailing"):
        parse("SELECT value FROM click; SELECT value FROM view")
    assert parse_all(";;") == []
    with pytest.raises(InfluxQLError, match="DELETE/DROP"):
        influxql_batch(spark, sf_dir, "SELECT value FROM click; DROP MEASUREMENT click")
    # the single-statement entry point shares the batch's refusal
    for q in ["DROP MEASUREMENT click", "DELETE FROM click WHERE user_id = 7"]:
        with pytest.raises(InfluxQLError, match="DELETE/DROP"):
            influxql(spark, sf_dir, q)


def test_show_measurements_and_keys(spark, sf_dir):
    ms = influxql(spark, sf_dir, "SHOW MEASUREMENTS").collect()
    assert [r["name"] for r in ms] == ["click", "error", "purchase", "signup", "view"]
    tk = influxql(spark, sf_dir, "SHOW TAG KEYS").collect()
    assert [r["tagKey"] for r in tk] == ["user_id"]
    fk = influxql(spark, sf_dir, "SHOW FIELD KEYS").collect()
    assert [(r["fieldKey"], r["fieldType"]) for r in fk] == [("value", "float")]


def test_now_requires_injected_clock(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="now"):
        influxql(spark, sf_dir, "SELECT value FROM click WHERE time >= now() - 1d")


def test_now_relative_equals_absolute(spark, sf_dir):
    rel = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click WHERE time >= now() - 1w AND time < now()",
        now="2024-01-15 00:00:00",
    ).collect()[0]["n"]
    abs_ = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click "
        "WHERE time >= '2024-01-08 00:00:00' AND time < '2024-01-15 00:00:00'",
    ).collect()[0]["n"]
    assert rel == abs_ and rel > 0


def test_show_series_cardinality(spark, sf_dir):
    card = influxql(
        spark, sf_dir, "SHOW SERIES EXACT CARDINALITY"
    ).collect()[0]["cardinality"]
    series = influxql(spark, sf_dir, "SHOW SERIES").collect()
    assert card == len(series)
    assert all("," in r["key"] and "user_id=" in r["key"] for r in series)
    # plain CARDINALITY is InfluxDB's ESTIMATE — lowered onto HLL++
    # (approx_count_distinct, rsd 0.05): within tolerance of exact,
    # never oracle-hashed
    est = influxql(spark, sf_dir, "SHOW SERIES CARDINALITY").collect()[0][
        "cardinality"
    ]
    assert abs(est - card) <= max(2, 0.1 * card)


def test_show_cardinality_family(spark, sf_dir):
    """SHOW MEASUREMENT / TAG KEY / TAG VALUES / FIELD KEY [EXACT]
    CARDINALITY — the InfluxDB 1.x cardinality statements. EXACT forms
    equal brute-force distinct counts; per-measurement forms mirror
    InfluxDB's per-measurement result blocks."""
    names = [
        r["name"]
        for r in influxql(spark, sf_dir, "SHOW MEASUREMENTS").collect()
    ]
    mcard = influxql(
        spark, sf_dir, "SHOW MEASUREMENT EXACT CARDINALITY"
    ).collect()
    assert mcard[0]["cardinality"] == len(names)
    # WHERE switches to existence semantics (measurements with >= 1
    # matching point)
    mwhere = influxql(
        spark, sf_dir,
        "SHOW MEASUREMENT EXACT CARDINALITY WHERE user_id = 7",
    ).collect()[0]["cardinality"]
    assert 0 < mwhere <= len(names)
    tk = influxql(
        spark, sf_dir, "SHOW TAG KEY CARDINALITY"
    ).collect()
    keys = influxql(spark, sf_dir, "SHOW TAG KEYS").collect()
    assert sorted(r["measurement"] for r in tk) == sorted(names)
    assert all(r["cardinality"] == len(keys) for r in tk)
    tv = influxql(
        spark, sf_dir,
        "SHOW TAG VALUES EXACT CARDINALITY FROM click WITH KEY = user_id",
    ).collect()
    vals = influxql(
        spark, sf_dir, "SHOW TAG VALUES FROM click WITH KEY = user_id"
    ).collect()
    assert tv == [("click", len(vals))] or (
        tv[0]["measurement"] == "click"
        and tv[0]["cardinality"] == len(vals)
    )
    # estimate form within HLL tolerance of exact, per measurement
    tv_est = {
        r["measurement"]: r["cardinality"]
        for r in influxql(
            spark, sf_dir,
            "SHOW TAG VALUES CARDINALITY WITH KEY = user_id",
        ).collect()
    }
    tv_exact = {
        r["measurement"]: r["cardinality"]
        for r in influxql(
            spark, sf_dir,
            "SHOW TAG VALUES EXACT CARDINALITY WITH KEY = user_id",
        ).collect()
    }
    assert set(tv_est) == set(tv_exact)
    for m, exact in tv_exact.items():
        assert abs(tv_est[m] - exact) <= max(2, 0.1 * exact)
    fk = influxql(
        spark, sf_dir, "SHOW FIELD KEY CARDINALITY FROM click"
    ).collect()
    nfields = len(
        influxql(spark, sf_dir, "SHOW FIELD KEYS FROM click").collect()
    )
    assert fk == [("click", nfields)] or (
        fk[0]["measurement"] == "click" and fk[0]["cardinality"] == nfields
    )
    # EXACT without CARDINALITY is a parse error
    with pytest.raises(InfluxQLError, match="EXACT requires CARDINALITY"):
        parse("SHOW SERIES EXACT")
    with pytest.raises(InfluxQLError, match="EXACT requires CARDINALITY"):
        parse("SHOW TAG VALUES EXACT FROM cpu WITH KEY = host")


def test_subquery_raw_passthrough(spark, sf_dir):
    """Outer aggregate over a raw (non-aggregated) subquery."""
    got = influxql(
        spark,
        sf_dir,
        "SELECT SUM(v2) AS s FROM (SELECT value * 2 AS v2 FROM click)",
    ).collect()[0]["s"]
    from mqtt_influx_storage_service_spark.sources import load_table

    want = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .agg(F.round(F.sum(F.col("value") * 2), 2))
        .collect()[0][0]
    )
    assert got == want


def test_subquery_requires_single_source(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="only FROM source"):
        influxql(
            spark,
            sf_dir,
            "SELECT SUM(v) AS s FROM (SELECT value AS v FROM click), view",
        )


def test_select_into_materializes_and_upserts(spark, sf_dir, tmp_path):
    from mqtt_influx_storage_service_spark.functions.influxql import influxql_into

    q = (
        "SELECT MEAN(value) AS mv INTO daily_click FROM click "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-10 00:00:00' "
        "GROUP BY time(1d), user_id"
    )
    t = influxql_into(spark, sf_dir, q, str(tmp_path / "tbl"))
    first = {(r["user_id"], r["time"]): r["mv"] for r in t.read().collect()}
    assert len(first) > 0
    # overlapping re-run with a wider range: old keys REPLACED, new added
    q2 = q.replace("2024-01-10", "2024-01-15")
    t2 = influxql_into(spark, sf_dir, q2, str(tmp_path / "tbl"))
    second = {(r["user_id"], r["time"]): r["mv"] for r in t2.read().collect()}
    assert set(first) <= set(second) and len(second) > len(first)
    for k, v in first.items():
        assert second[k] == v  # same data, same buckets → same values


def test_select_into_requires_grouping(spark, sf_dir, tmp_path):
    from mqtt_influx_storage_service_spark.functions.influxql import influxql_into

    with pytest.raises(InfluxQLError, match="INTO"):
        influxql_into(
            spark, sf_dir, "SELECT value FROM click", str(tmp_path / "t2")
        )


def test_parser_total_on_arbitrary_input():
    """The parser is TOTAL over arbitrary strings: any input either
    parses or raises InfluxQLError — never an internal exception (an
    IndexError/AttributeError escaping the tokenizer would crash a
    query service on malformed user input)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=300, deadline=None)
    @given(st.text(max_size=120))
    def fuzz(s):
        try:
            parse(s)
        except InfluxQLError:
            pass

    fuzz()

    # structured fuzz: mutations of real queries (truncations, swaps)
    # — the second base walks the r7 TA/math/EXPLAIN surface
    bases = (
        "SELECT MEAN(value) AS m FROM cpu WHERE time >= now() - 1d "
        "AND host =~ /web.*/ GROUP BY time(10m), host fill(previous) "
        "ORDER BY time DESC LIMIT 5 OFFSET 2 SLIMIT 4 SOFFSET 1 "
        "TZ('America/New_York')",
        "EXPLAIN ANALYZE SELECT "
        "TRIPLE_EXPONENTIAL_DERIVATIVE(MEAN(value), 4) AS tx, "
        "CHANDE_MOMENTUM_OSCILLATOR(MEAN(value), 5), "
        "ROUND(LN(value), 4) + ATAN2(value, 2) - POW(value, LOG(value, 10)) "
        "FROM cpu GROUP BY time(1h), host",
        # the late-r7 surface: cardinality statements + SHOW WHERE
        "SHOW TAG VALUES EXACT CARDINALITY FROM /cpu.*/, mem "
        "WITH KEY = host WHERE region = 'us' AND time >= now() - 1d",
        # the late-r7 management grammar, as one ;-batch walked by parse()
        "SHOW SHARD GROUPS; DROP SHARD 42; DROP DATABASE d; "
        "KILL QUERY abc; DROP CONTINUOUS QUERY c ON d; "
        "SHOW CONTINUOUS QUERIES; SHOW QUERIES",
    )
    from mqtt_influx_storage_service_spark.functions.influxql import parse_all

    for base in bases:
        for i in range(len(base)):
            for frag in (base[:i], base[i:], base[:i] + "(" + base[i:]):
                for entry in (parse, parse_all):
                    try:
                        entry(frag)
                    except InfluxQLError:
                        pass

    # parse_continuous_query is its own total entrypoint — walk the
    # RESAMPLE grammar the same way
    from mqtt_influx_storage_service_spark.functions.influxql import (
        parse_continuous_query,
    )

    cq = (
        "CREATE CONTINUOUS QUERY r ON db RESAMPLE EVERY 30m FOR 2d "
        "BEGIN SELECT MEAN(value) FROM cpu GROUP BY time(1h), host END"
    )
    for i in range(len(cq)):
        for frag in (cq[:i], cq[i:], cq[:i] + "(" + cq[i:]):
            try:
                parse_continuous_query(frag)
            except InfluxQLError:
                pass


def test_duplicate_unaliased_fields_get_suffixes(spark, sf_dir):
    from mqtt_influx_storage_service_spark.operators.influxqlq import (
        LineitemCatalog,
    )

    df = influxql(
        spark,
        sf_dir,
        "SELECT MEAN(quantity), MEAN(extendedprice) FROM lineitem "
        "GROUP BY time(30d)",
        catalog=LineitemCatalog(sf_dir),
    )
    assert df.columns.count("mean") == 1 and "mean_1" in df.columns


def test_fill_ignores_or_branch_time_bounds(spark, sf_dir):
    """A time bound inside an OR branch must not become fill()'s
    spine: with no top-level AND bounds, fill() refuses instead of
    silently dropping buckets outside the OR branch's range."""
    with pytest.raises(InfluxQLError, match="fill"):
        influxql(
            spark,
            sf_dir,
            "SELECT COUNT(value) AS n FROM click "
            "WHERE (time >= '2024-01-01 00:00:00' AND time < '2024-01-02 00:00:00') "
            "OR user_id = 5 "
            "GROUP BY time(1d), user_id fill(0)",
        )


def test_delete_null_predicate_rows_kept(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL survive."""
    from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

    df = spark.createDataFrame(
        [(1, 5.0), (2, None), (3, 20.0)], "id long, v double"
    )
    t = SnapshotTable(spark, str(tmp_path / "t"), key_cols=["id"])
    t.overwrite(df)
    t.delete(F.col("v") < 10)
    assert sorted(r["id"] for r in t.read().collect()) == [2, 3]


def test_epoch_ns_time_bounds(spark, sf_dir):
    """Bare-integer and ns-suffixed epoch bounds agree with the string
    form, exactly (no float rounding above 2^53)."""
    base = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click WHERE time >= '2024-01-15 00:00:00'",
    ).collect()[0]["n"]
    ns = 1705276800000000000  # 2024-01-15T00:00:00Z in epoch ns
    for bound in (str(ns), f"{ns}ns"):
        got = influxql(
            spark,
            sf_dir,
            f"SELECT COUNT(value) AS n FROM click WHERE time >= {bound}",
        ).collect()[0]["n"]
        assert got == base


def test_group_by_time_offset(spark, sf_dir):
    """time(1d, 6h) shifts bucket boundaries to 06:00; every returned
    bucket timestamp lands on the shifted grid and totals are
    conserved."""
    plain = influxql(
        spark, sf_dir, "SELECT COUNT(value) AS n FROM click GROUP BY time(1d)"
    ).collect()
    shifted = influxql(
        spark,
        sf_dir,
        "SELECT COUNT(value) AS n FROM click GROUP BY time(1d, 6h)",
    ).collect()
    assert all(r["time"].hour == 6 for r in shifted)
    assert sum(r["n"] for r in shifted) == sum(r["n"] for r in plain)
    assert {r["time"] for r in shifted} != {r["time"] for r in plain}


def test_delete_and_drop_measurement(spark, sf_dir, tmp_path):
    from mqtt_influx_storage_service_spark.functions.influxql import (
        EventsCatalog,
        influxql_delete,
    )
    from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

    pts = EventsCatalog(sf_dir).frame(spark).filter(
        F.col("measurement").isin(["click", "view", "error"])
    )
    table = SnapshotTable(
        spark, str(tmp_path / "pts"), key_cols=["measurement", "event_id"]
    )
    table.overwrite(pts)
    n0 = table.read().count()

    influxql_delete(
        table,
        "DELETE FROM click WHERE time < now() - 20d",
        now="2024-01-30 00:00:00",
    )
    after = table.read()
    gone = after.filter(
        (F.col("measurement") == "click")
        & (F.col("time") < F.lit("2024-01-10 00:00:00").cast("timestamp"))
    ).count()
    assert gone == 0
    kept_click = after.filter(F.col("measurement") == "click").count()
    assert 0 < kept_click
    # non-click rows untouched
    assert after.filter(F.col("measurement") != "click").count() == pts.filter(
        F.col("measurement") != "click"
    ).count()

    influxql_delete(table, "DROP MEASUREMENT view")
    v = table.read()
    assert v.filter(F.col("measurement") == "view").count() == 0
    assert v.count() < n0
    # every version is still time-travelable
    assert table.read(version=1).count() == n0


def test_compiler_errors_cleanly_on_malformed_aggregates(spark, sf_dir):
    """Compile-path argument validation: wrong arities / argument
    kinds raise InfluxQLError, not IndexError/ValueError."""
    bad = [
        "SELECT PERCENTILE(value) FROM click GROUP BY time(1d)",
        "SELECT PERCENTILE(value, 'x') FROM click GROUP BY time(1d)",
        "SELECT MOVING_AVERAGE(MEAN(value)) FROM click GROUP BY time(1d)",
        "SELECT DERIVATIVE() FROM click GROUP BY time(1d)",
        "SELECT SUM() FROM click",
        "SELECT MEDIAN(1) FROM click",
        "SELECT MODE(value) FROM click GROUP BY time(1d)",
    ]
    for q in bad:
        with pytest.raises(InfluxQLError):
            influxql(spark, sf_dir, q)


def test_predicate_pushdown_reaches_scan(spark, sf_dir):
    """The compiled filter must reach the parquet scan: the whole point
    of emitting a declarative plan is that Catalyst pushes measurement
    + tag + time predicates into PushedFilters."""
    df = influxql(
        spark,
        sf_dir,
        "SELECT value FROM click WHERE user_id = 7 AND time >= '2024-01-05 00:00:00'",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "IsNotNull(event_type)" in plan or "EqualTo(event_type,click)" in plan
    # the compiler's FROM filter on the catalog's one relation reaches
    # the scan as a predicate on event_type, for a name and a /regex/
    from mqtt_influx_storage_service_spark import plans

    assert "EqualTo(event_type,click)" in plans.pushed_filters(df)
    df = influxql(spark, sf_dir, "SELECT MAX(value) AS m FROM /^(click|view)$/")
    assert "In(event_type, [click,view])" in plans.pushed_filters(df)


# -- r5 function-surface negative paths ------------------------------------

def test_holt_winters_rejects_bad_shapes(spark, sf_dir):
    base = ("FROM click WHERE time >= '2024-01-01 00:00:00' "
            "AND time < '2024-01-20 00:00:00' GROUP BY time(1d)")
    with pytest.raises(InfluxQLError, match="needs an aggregate"):
        influxql(spark, sf_dir, f"SELECT HOLT_WINTERS(MEAN(value), 3) {base}")
    with pytest.raises(InfluxQLError, match="wraps one aggregate"):
        influxql(spark, sf_dir, f"SELECT HOLT_WINTERS(value, 3, 0) {base}")
    with pytest.raises(InfluxQLError, match="GROUP BY time"):
        influxql(
            spark, sf_dir,
            "SELECT HOLT_WINTERS(MEAN(value), 3, 0) FROM click",
        )


def test_elapsed_rejects_non_field(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="ELAPSED expects a field"):
        influxql(spark, sf_dir, "SELECT ELAPSED(1, 1ms) FROM click")


def test_integral_rejects_non_field(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="INTEGRAL expects a field"):
        influxql(
            spark, sf_dir, "SELECT INTEGRAL(MEAN(value)) FROM click GROUP BY user_id"
        )


def test_fill_linear_requires_time_bounds(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="fill"):
        influxql(
            spark, sf_dir,
            "SELECT MEAN(value) FROM click GROUP BY time(1d) fill(linear)",
        )


def test_sample_requires_field_and_count(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="needs a field and an integer"):
        influxql(spark, sf_dir, "SELECT SAMPLE(value) FROM click")


def test_elapsed_drops_first_point_per_series(spark, sf_dir):
    """ELAPSED emits nothing for a series' first point (InfluxQL), so
    row count = points − series, and every gap is a non-negative
    integer."""
    out = influxql(
        spark, sf_dir,
        "SELECT ELAPSED(value, 1ms) AS gap FROM error "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-20 00:00:00'",
    ).collect()
    from mqtt_influx_storage_service_spark.sources import load_table
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").filter(
        (F.col("event_type") == "error")
        & (F.col("ts") >= "2024-01-01")
        & (F.col("ts") < "2024-01-20")
    )
    n_points = ev.count()
    n_series = ev.select("user_id").distinct().count()
    assert len(out) == n_points - n_series
    assert all(r.gap >= 0 for r in out)


class _TinyCatalog:
    """Hand-built one-measurement catalog for edge-shape pins: bucket A
    (00:00–01:00) holds a single point, bucket B (01:00–02:00) two, and
    a trapezoid spans the A/B boundary."""

    def __init__(self, rows):
        from mqtt_influx_storage_service_spark.functions.influxql import (
            MeasurementSchema,
        )

        self.rows = rows
        self.schema = MeasurementSchema(
            tags=["host"], fields=["value"], tiebreak="pid"
        )

    def measurement_names(self):
        return ["m"]

    def frame(self, spark):
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            self.rows, "time string, host string, value double, pid long"
        )
        return df.select(
            F.lit("m").alias("measurement"),
            F.col("time").cast("timestamp").alias("time"),
            "host",
            "value",
            "pid",
        )


def test_integral_single_point_bucket_is_zero(spark, sf_dir):
    """InfluxDB reports 0 (not NULL) for a group whose bucket holds one
    point — a lone point bounds zero area (ADVICE r5).  Pins the
    coalesce in the INTEGRAL aggregate."""
    cat = _TinyCatalog(
        [
            ("2024-01-01 00:30:00", "a", 10.0, 1),   # alone in bucket A
            ("2024-01-01 01:10:00", "a", 20.0, 2),   # bucket B ...
            ("2024-01-01 01:40:00", "a", 40.0, 3),
        ]
    )
    out = {
        r.time.strftime("%H:%M"): r.area
        for r in influxql(
            spark, sf_dir,
            "SELECT INTEGRAL(value, 1s) AS area FROM m "
            "WHERE time >= '2024-01-01 00:00:00' "
            "AND time < '2024-01-01 02:00:00' GROUP BY time(1h)",
            catalog=cat,
        ).collect()
    }
    assert out["00:00"] == 0.0
    # bucket B: trapezoid (20+40)/2 * 1800s = 54000; the segment
    # SPANNING the A/B boundary (10→20 over 00:30→01:10) is dropped —
    # a DOCUMENTED deviation from InfluxDB, which splits that area
    # across the adjacent buckets (intra-bucket-only choice,
    # functions/influxql.py INTEGRAL note).  InfluxDB would report
    # bucket B as 54000 + 15*600/... > 54000; we pin the intra-bucket
    # value so the deviation is explicit, not accidental.
    assert out["01:00"] == 54000.0


def test_raw_non_negative_forms(spark, sf_dir):
    """Raw (no GROUP BY time) NON_NEGATIVE_DERIVATIVE/DIFFERENCE: the
    negative step becomes NULL; a row where EVERY transform column is
    NULL is dropped (ADVICE r5 — the raw route previously crashed in
    _scalar)."""
    cat = _TinyCatalog(
        [
            ("2024-01-01 00:00:00", "a", 10.0, 1),
            ("2024-01-01 00:01:00", "a", 30.0, 2),   # +20 over 1m
            ("2024-01-01 00:02:00", "a", 5.0, 3),    # −25 → dropped
            ("2024-01-01 00:03:00", "a", 5.0, 4),    # flat: 0 kept
        ]
    )
    rows = influxql(
        spark, sf_dir,
        "SELECT NON_NEGATIVE_DERIVATIVE(value, 1m) AS up FROM m "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
        catalog=cat,
    ).orderBy("time").collect()
    assert [(r.time.strftime("%H:%M"), r.up) for r in rows] == [
        ("00:01", 20.0),
        ("00:03", 0.0),
    ]
    rows = influxql(
        spark, sf_dir,
        "SELECT NON_NEGATIVE_DIFFERENCE(value) AS up FROM m "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
        catalog=cat,
    ).orderBy("time").collect()
    assert [(r.time.strftime("%H:%M"), r.up) for r in rows] == [
        ("00:01", 20.0),
        ("00:03", 0.0),
    ]


def test_untagged_raw_window_is_partitioned(spark, sf_dir):
    """VERDICT r5 #2: with no queryable tags but a declared
    schema.series_col, the raw transform's physical WindowExec
    partitions by the series column — never a single global sort of the
    measurement."""
    from mqtt_influx_storage_service_spark.operators.influxqlq import (
        IQ_RAW_SERIES,
        NarrowSeriesCatalog,
    )

    df = influxql(
        spark, sf_dir, IQ_RAW_SERIES, catalog=NarrowSeriesCatalog(sf_dir)
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan
    # the window spec names the series column as its partition key
    assert "windowspecdefinition(user_id" in plan
    # and no output column leaks the hidden series identity
    assert df.columns == ["time", "rate"]


def test_untagged_raw_window_refuses_above_bound(spark, sf_dir, monkeypatch):
    """A raw transform over a relation with NO series identity compiles
    to one global window; above RAW_GLOBAL_WINDOW_MAX it is refused
    with an actionable message instead of melting an executor."""
    from mqtt_influx_storage_service_spark.functions import influxql as iqmod

    cat = _TinyCatalog(
        [
            ("2024-01-01 00:00:00", "a", 1.0, 1),
            ("2024-01-01 00:01:00", "a", 2.0, 2),
            ("2024-01-01 00:02:00", "b", 3.0, 3),
        ]
    )
    cat.schema.tags = []          # no tags, no series_col → global window
    q = (
        "SELECT DIFFERENCE(value) AS dv FROM m "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02'"
    )
    # under the bound: compiles and merges every point into one series
    rows = influxql(spark, sf_dir, q, catalog=cat).orderBy("time").collect()
    assert [r.dv for r in rows] == [1.0, 1.0]
    monkeypatch.setattr(iqmod, "RAW_GLOBAL_WINDOW_MAX", 2)
    with pytest.raises(InfluxQLError, match="untagged measurement"):
        influxql(spark, sf_dir, q, catalog=cat)


def test_tz_dst_boundary(spark, sf_dir):
    """TZ buckets follow the IANA wall clock across the spring-forward
    transition (America/New_York, 2024-03-10): daily buckets start at
    05:00 UTC under EST and 04:00 UTC under EDT."""
    cat = _TinyCatalog(
        [
            ("2024-03-09 12:00:00", "a", 1.0, 1),   # EST day
            ("2024-03-09 23:00:00", "a", 3.0, 2),
            ("2024-03-11 12:00:00", "a", 5.0, 3),   # EDT day
            ("2024-03-11 23:00:00", "a", 7.0, 4),
        ]
    )
    rows = influxql(
        spark, sf_dir,
        "SELECT MEAN(value) AS m FROM m "
        "WHERE time >= '2024-03-09' AND time < '2024-03-13' "
        "GROUP BY time(1d) TZ('America/New_York')",
        catalog=cat,
    ).orderBy("time").collect()
    assert [(str(r.time), r.m) for r in rows] == [
        ("2024-03-09 05:00:00", 2.0),   # midnight EST
        ("2024-03-11 04:00:00", 6.0),   # midnight EDT
    ]


_B1, _B2 = "2024-01-01 05:00:00", "2024-01-02 05:00:00"  # NY midnights
_ALL3 = [(_B1, 1.0), (_B1, 3.0), (_B2, 5.0)]


@pytest.mark.parametrize(
    "field, time_col, want",
    [
        ("MAX(value) AS v, host", "time", [(_B1, 3.0), (_B2, 5.0)]),
        ("TOP(value, 1) AS v", "bucket", [(_B1, 3.0), (_B2, 5.0)]),
        ("BOTTOM(value, host, 2) AS v", "bucket", _ALL3),
        ("SAMPLE(value, 2) AS v", "bucket", _ALL3),
        ("DISTINCT(value) AS v", "time", _ALL3),
        # local-day means 2.0, 5.0: l = 5, b = 3, one step ahead
        (
            "HOLT_WINTERS(MEAN(value), 1, 0) AS v", "time",
            [("2024-01-03 05:00:00", 8.0)],
        ),
    ],
    ids=["selector_bare", "top", "bottom_tags", "sample", "distinct",
         "holt_winters"],
)
def test_tz_buckets_every_shape(spark, sf_dir, field, time_col, want):
    """TZ() moves every GROUP BY time() shape onto the local-midnight
    buckets the aggregate path uses (test_tz_dst_boundary): 22:30 and
    03:00 UTC fall on the same New York day."""
    cat = _TinyCatalog(
        [
            ("2024-01-01 22:30:00", "a", 1.0, 1),
            ("2024-01-02 03:00:00", "b", 3.0, 2),
            ("2024-01-02 12:00:00", "a", 5.0, 3),
        ]
    )
    rows = influxql(
        spark, sf_dir,
        f"SELECT {field} FROM m "
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' "
        "GROUP BY time(1d) TZ('America/New_York')",
        catalog=cat,
    ).collect()
    assert sorted((str(r[time_col]), r.v) for r in rows) == want


def test_tz_requires_group_by_time(spark, sf_dir):
    with pytest.raises(InfluxQLError, match="TZ"):
        influxql(
            spark, sf_dir,
            "SELECT value FROM click WHERE time >= '2024-01-01' "
            "AND time < '2024-01-02' TZ('America/New_York')",
        )
    with pytest.raises(InfluxQLError, match="fill"):
        influxql(
            spark, sf_dir,
            "SELECT MEAN(value) FROM click WHERE time >= '2024-01-01' "
            "AND time < '2024-01-08' GROUP BY time(1d) fill(0) "
            "TZ('America/New_York')",
        )


def test_selector_bare_point_semantics(spark, sf_dir):
    """SELECT MAX(v), tag returns the selected POINT's row: its time,
    the max, and the tag at that point; ties resolve to the earliest
    point."""
    cat = _TinyCatalog(
        [
            ("2024-01-01 00:00:00", "a", 5.0, 1),
            ("2024-01-01 01:00:00", "b", 9.0, 2),   # the max point
            ("2024-01-01 02:00:00", "a", 9.0, 3),   # tie, later → loses
            ("2024-01-01 03:00:00", "b", 1.0, 4),
        ]
    )
    rows = influxql(
        spark, sf_dir,
        "SELECT MAX(value) AS mx, host FROM m "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
        catalog=cat,
    ).collect()
    assert [(str(r.time), r.mx, r.host) for r in rows] == [
        ("2024-01-01 01:00:00", 9.0, "b")
    ]
    # two selectors in one list is NOT this shape → still an error
    with pytest.raises(InfluxQLError, match="mix raw fields"):
        influxql(
            spark, sf_dir,
            "SELECT MAX(value), MIN(value), host FROM m "
            "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
            catalog=cat,
        ).collect()


def test_limit_per_series_when_grouped(spark, sf_dir):
    """InfluxQL semantics: in a tag-grouped statement LIMIT/OFFSET
    paginate each series independently (GROUP BY * LIMIT 3 = 3 points
    per series), while an ungrouped statement paginates globally."""
    rows = influxql(
        spark, sf_dir,
        "SELECT COUNT(value) AS n FROM click "
        "WHERE time >= '2024-01-01' AND time < '2024-01-15' "
        "GROUP BY time(1d), user_id LIMIT 2 OFFSET 1",
    ).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.time)
    assert len(per_user) > 1                      # not a global LIMIT 2
    assert all(len(ts) <= 2 for ts in per_user.values())
    full = influxql(
        spark, sf_dir,
        "SELECT COUNT(value) AS n FROM click "
        "WHERE time >= '2024-01-01' AND time < '2024-01-15' "
        "GROUP BY time(1d), user_id",
    ).collect()
    by_user = {}
    for r in full:
        by_user.setdefault(r.user_id, []).append(r.time)
    for uid, ts in per_user.items():
        assert ts == sorted(by_user[uid])[1:3]    # skip 1, take 2


def test_timeless_grouped_limit_is_global(spark, sf_dir):
    """ADVICE r6: a time-less grouped aggregate with LIMIT must compile
    (per-series LIMIT is a no-op at one row per series — the global
    limit applies); OFFSET alone still requires a time-ordered
    result."""
    rows = influxql(
        spark, sf_dir,
        "SELECT MEAN(value) AS m FROM click GROUP BY user_id LIMIT 2",
    ).collect()
    assert len(rows) == 2
    with pytest.raises(InfluxQLError, match="time-ordered"):
        influxql(
            spark, sf_dir,
            "SELECT MEAN(value) AS m FROM click "
            "GROUP BY user_id LIMIT 2 OFFSET 1",
        )


def test_raw_grouped_tag_also_projected(spark, sf_dir):
    """ADVICE r6: a raw select that explicitly projects the GROUP BY
    tag must not emit the column twice (per-series pagination would hit
    AMBIGUOUS_REFERENCE)."""
    df = influxql(
        spark, sf_dir,
        "SELECT value, user_id FROM click "
        "WHERE time >= '2024-01-01' AND time < '2024-01-15' "
        "GROUP BY user_id LIMIT 2",
    )
    assert df.columns.count("user_id") == 1
    rows = df.collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.time)
    assert len(per_user) > 1
    assert all(len(ts) <= 2 for ts in per_user.values())


def test_selector_bare_grouped_slimit(spark, sf_dir):
    """ADVICE r6: selector+bare with GROUP BY <tag> SLIMIT where the
    tag is NOT a bare field — the tag must ride along in the projection
    so series pagination can key on it."""
    cat = _TinyCatalog(
        [
            ("2024-01-01 00:00:00", "a", 5.0, 1),
            ("2024-01-01 01:00:00", "b", 9.0, 2),
            ("2024-01-01 02:00:00", "a", 7.0, 3),
            ("2024-01-01 03:00:00", "b", 1.0, 4),
        ]
    )
    df = influxql(
        spark, sf_dir,
        "SELECT MAX(value) AS mx, value FROM m "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02' "
        "GROUP BY host SLIMIT 1",
        catalog=cat,
    )
    assert "host" in df.columns
    rows = df.collect()
    assert {r.host for r in rows} == {"a"}      # first series in tag order
    assert [r.mx for r in rows] == [7.0]


def test_untagged_raw_probe_runs_once_per_statement(
    spark, sf_dir, monkeypatch
):
    """ADVICE r6: the RAW_GLOBAL_WINDOW_MAX probe is a compile-time
    Spark action — a statement with several untagged transforms must
    run it once, not once per field."""
    cat = _TinyCatalog(
        [
            ("2024-01-01 00:00:00", "a", 1.0, 1),
            ("2024-01-01 00:01:00", "a", 2.0, 2),
            ("2024-01-01 00:02:00", "b", 3.0, 3),
        ]
    )
    cat.schema.tags = []          # no tags, no series_col → global window
    # patch the CONCRETE class (Spark 4's classic DataFrame overrides
    # count; patching the pyspark.sql.DataFrame base is a no-op)
    cls = type(cat.frame(spark))
    calls = {"n": 0}
    orig = cls.count

    def counting(self):
        calls["n"] += 1
        return orig(self)

    monkeypatch.setattr(cls, "count", counting)
    influxql(
        spark, sf_dir,
        "SELECT DIFFERENCE(value) AS dv, CUMULATIVE_SUM(value) AS cs "
        "FROM m WHERE time >= '2024-01-01' AND time < '2024-01-02'",
        catalog=cat,
    )
    assert calls["n"] == 1


def test_drop_series_mutation_and_catalog(spark, sf_dir, tmp_path):
    """DROP SERIES removes every point of the matching series in one
    atomic snapshot version; the series disappears from SHOW SERIES
    (which derives from data). Time bounds are refused."""
    from mqtt_influx_storage_service_spark.functions.influxql import (
        EventsCatalog,
        influxql_drop_series,
    )
    from mqtt_influx_storage_service_spark.tableformat import SnapshotTable

    cat = EventsCatalog(sf_dir)
    pts = cat.frame(spark).filter(F.col("measurement").isin(["click", "view"]))
    table = SnapshotTable(
        spark, str(tmp_path / "pts"), key_cols=["measurement", "event_id"]
    )
    table.overwrite(pts)
    uid = pts.filter(F.col("measurement") == "click").select(
        "user_id"
    ).first()[0]
    n_series_pts = pts.filter(
        (F.col("measurement") == "click") & (F.col("user_id") == uid)
    ).count()
    assert n_series_pts > 0
    influxql_drop_series(
        table, f"DROP SERIES FROM click WHERE user_id = {uid}", catalog=cat
    )
    after = table.read()
    assert after.filter(
        (F.col("measurement") == "click") & (F.col("user_id") == uid)
    ).count() == 0
    # other series untouched; prior version time-travelable
    assert after.count() == pts.count() - n_series_pts
    assert table.read(version=1).count() == pts.count()
    with pytest.raises(InfluxQLError, match="time"):
        influxql_drop_series(
            table, "DROP SERIES FROM click WHERE time > '2024-01-01'",
            catalog=cat,
        )


def test_show_from_regex_and_multi(spark, sf_dir):
    """SHOW ... FROM accepts /regex/ and comma lists, aligned with the
    SELECT path (VERDICT r6 #8)."""
    rx = influxql(
        spark, sf_dir, "SHOW SERIES FROM /^(click|view)$/"
    ).collect()
    multi = influxql(spark, sf_dir, "SHOW SERIES FROM click, view").collect()
    assert [r.key for r in rx] == [r.key for r in multi]
    assert all(r.key.split(",")[0] in ("click", "view") for r in rx)
    card = influxql(
        spark, sf_dir, "SHOW SERIES EXACT CARDINALITY FROM /click|view/"
    ).collect()
    assert card[0].cardinality == len(rx)
    with pytest.raises(InfluxQLError, match="no measurement matched"):
        influxql(spark, sf_dir, "SHOW SERIES FROM /zzz/").collect()


def test_show_where_filters_series_and_tag_values(spark, sf_dir):
    """SHOW SERIES / TAG VALUES accept WHERE (tag predicates + time
    bounds) — the dashboard template-variable shape. A tag predicate
    narrows the series set; a time bound restricted to before the
    fixture epoch yields nothing."""
    allv = influxql(
        spark, sf_dir, "SHOW TAG VALUES FROM click WITH KEY = user_id"
    ).collect()
    one = influxql(
        spark, sf_dir,
        "SHOW SERIES FROM click WHERE user_id = 7",
    ).collect()
    assert [r.key for r in one] == ["click,user_id=7"]
    none = influxql(
        spark, sf_dir,
        "SHOW TAG VALUES FROM click WITH KEY = user_id "
        "WHERE time < '2000-01-01 00:00:00'",
    ).collect()
    assert none == [] and len(allv) > 0
    card = influxql(
        spark, sf_dir,
        "SHOW SERIES EXACT CARDINALITY FROM click WHERE user_id = 7",
    ).collect()
    assert card[0].cardinality == 1
    # now() works in SHOW WHERE when a clock is injected
    rel = influxql(
        spark, sf_dir,
        "SHOW TAG VALUES FROM click WITH KEY = user_id "
        "WHERE time >= now() - 2d",
        now="2024-01-03 00:00:00",
    ).collect()
    abs_ = influxql(
        spark, sf_dir,
        "SHOW TAG VALUES FROM click WITH KEY = user_id "
        "WHERE time >= '2024-01-01 00:00:00'",
    ).collect()
    assert rel == abs_


# -- technical-analysis transforms (EMA / CMO / RSI / KER) -----------------


def _ta_points(values):
    """One-host minute-spaced points for _TinyCatalog."""
    return [
        (f"2024-01-01 00:{i:02d}:00", "a", float(v), i + 1)
        for i, v in enumerate(values)
    ]


def test_ema_matches_pandas_adjust_general_n(spark, sf_dir):
    """Raw-path EMA with a non-power-of-two alpha (N=9 → α=0.2) equals
    pandas ewm(adjust=True) while the series is shorter than the
    EMA_TRUNC_K tail — the public semantics anchor for the
    truncated-renormalized form."""
    import pandas as pd

    vals = [3.0, 7.5, 1.25, 9.0, 4.0, 6.5, 2.0, 8.0, 5.5, 0.5]
    cat = _TinyCatalog(_ta_points(vals))
    rows = (
        influxql(
            spark, sf_dir,
            "SELECT EXPONENTIAL_MOVING_AVERAGE(value, 9) AS ema FROM m "
            "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
            catalog=cat,
        )
        .orderBy("time")
        .collect()
    )
    want = pd.Series(vals).ewm(alpha=0.2, adjust=True).mean()
    assert len(rows) == len(vals)
    for r, w in zip(rows, want):
        assert abs(r.ema - round(w, 6)) < 1e-6


def test_cmo_rsi_ker_tiny_reference(spark, sf_dir):
    """CMO/RSI/KER against hand arithmetic on a 5-point series, N=2:
    the windows hold the last 2 changes; warm-up rows are dropped in
    the raw path (InfluxDB's emit-after-warm-up)."""
    vals = [1.0, 2.0, 4.0, 3.0, 5.0]
    cat = _TinyCatalog(_ta_points(vals))

    def run(expr):
        return (
            influxql(
                spark, sf_dir,
                f"SELECT {expr} AS v FROM m "
                "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
                catalog=cat,
            )
            .orderBy("time")
            .collect()
        )

    # diffs: +1, +2, -1, +2
    cmo = [r.v for r in run("CHANDE_MOMENTUM_OSCILLATOR(value, 2)")]
    # windows: (+1,+2)→100·3/3=100; (+2,−1)→100·1/3; (−1,+2)→100·1/3
    assert cmo == [100.0, round(100.0 / 3, 6), round(100.0 / 3, 6)]
    rsi = [r.v for r in run("RELATIVE_STRENGTH_INDEX(value, 2)")]
    # 100·ΣU/Σ|Δ|: 3/3, 2/3, 2/3
    assert rsi == [100.0, round(200.0 / 3, 6), round(200.0 / 3, 6)]
    ker = [r.v for r in run("KAUFMANS_EFFICIENCY_RATIO(value, 2)")]
    # |net|/Σ|Δ|: |4−1|/3, |3−2|/3, |5−4|/3
    assert ker == [1.0, round(1.0 / 3, 6), round(1.0 / 3, 6)]


def test_ta_flat_window_emits_nothing_raw(spark, sf_dir):
    """A flat window has ΣU+ΣD = 0: the TA value is NULL and the raw
    path's all-null drop removes the point entirely."""
    cat = _TinyCatalog(_ta_points([5.0] * 6))
    rows = influxql(
        spark, sf_dir,
        "SELECT CHANDE_MOMENTUM_OSCILLATOR(value, 3) AS v FROM m "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
        catalog=cat,
    ).collect()
    assert rows == []


def test_ta_requires_integer_n(spark, sf_dir):
    for q in (
        "SELECT EXPONENTIAL_MOVING_AVERAGE(value) AS v FROM m",
        "SELECT RELATIVE_STRENGTH_INDEX(value, 0) AS v FROM m",
    ):
        with pytest.raises(InfluxQLError, match="N"):
            influxql(
                spark, sf_dir,
                q + " WHERE time >= '2024-01-01' AND time < '2024-01-02'",
                catalog=_TinyCatalog(_ta_points([1.0, 2.0])),
            )


def test_ta_over_aggregate_partitions_per_tag(spark, sf_dir):
    """Bucket-path TA partitions its frame by the GROUP BY tag: two
    hosts with opposite trends keep opposite RSI signs."""
    rows = [
        (f"2024-01-01 {h:02d}:00:00", host, float(v), h * 10 + i)
        for h in range(4)
        for i, (host, v) in enumerate(
            [("up", 10.0 + h), ("down", 10.0 - h)]
        )
    ]
    cat = _TinyCatalog(rows)
    out = influxql(
        spark, sf_dir,
        "SELECT RELATIVE_STRENGTH_INDEX(MEAN(value), 2) AS rsi FROM m "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02' "
        "GROUP BY time(1h), host",
        catalog=cat,
    ).collect()
    got = {(r.host, r.time.hour): r.rsi for r in out}
    # warm-up buckets (hours 0-1) are NULL; thereafter monotone up
    # series → RSI 100, monotone down → 0
    assert got[("up", 0)] is None and got[("down", 1)] is None
    assert got[("up", 2)] == 100.0 and got[("up", 3)] == 100.0
    assert got[("down", 2)] == 0.0 and got[("down", 3)] == 0.0


def test_scalar_math_family(spark, sf_dir):
    """The libm scalar family agrees with CPython's libm to well under
    the 6-decimal hash quantum on moderate magnitudes."""
    import math

    vals = [0.5, 1.0, 2.25, 10.0, 100.0]
    cat = _TinyCatalog(_ta_points(vals))
    rows = (
        influxql(
            spark, sf_dir,
            "SELECT LN(value) AS lnv, LOG2(value) AS l2, LOG10(value) AS l10, "
            "LOG(value, 3) AS l3, EXP(value / 100) AS ex, POW(value, 3) AS p3, "
            "SIN(value) AS sn, COS(value) AS cs, TAN(value) AS tn, "
            "ATAN(value) AS at, ATAN2(value, 2) AS at2 "
            "FROM m WHERE time >= '2024-01-01' AND time < '2024-01-02'",
            catalog=cat,
        )
        .orderBy("time")
        .collect()
    )
    for r, v in zip(rows, vals):
        assert abs(r.lnv - math.log(v)) < 1e-9
        assert abs(r.l2 - math.log2(v)) < 1e-9
        assert abs(r.l10 - math.log10(v)) < 1e-9
        assert abs(r.l3 - math.log(v, 3)) < 1e-9
        assert abs(r.ex - math.exp(v / 100)) < 1e-9
        assert abs(r.p3 - v**3) < 1e-6
        assert abs(r.sn - math.sin(v)) < 1e-9
        assert abs(r.cs - math.cos(v)) < 1e-9
        assert abs(r.tn - math.tan(v)) < 1e-6
        assert abs(r.at - math.atan(v)) < 1e-9
        assert abs(r.at2 - math.atan2(v, 2)) < 1e-9


def test_dema_tema_trix_compose_the_ema_kernel(spark, sf_dir):
    """DEMA/TEMA/TRIX are pinned to their defining identities over the
    engine's own EMA stages (each stage pre-rounded to 6 decimals):
    DEMA = 2·e1 − e2, TEMA = 3·e1 − 3·e2 + e3, TRIX = %Δ of e3."""
    vals = [3.0, 7.5, 1.25, 9.0, 4.0, 6.5, 2.0, 8.0]
    cat = _TinyCatalog(_ta_points(vals))
    rng = "WHERE time >= '2024-01-01' AND time < '2024-01-02'"

    def col(expr):
        return [
            r.v
            for r in influxql(
                spark, sf_dir, f"SELECT {expr} AS v FROM m {rng}", catalog=cat
            )
            .orderBy("time")
            .collect()
        ]

    import pandas as pd
    from decimal import ROUND_HALF_UP, Decimal

    def r6(xs):
        # Spark's round(): HALF_UP over the shortest decimal repr
        # (BigDecimal.valueOf) — NOT numpy/python banker's rounding
        return [
            float(
                Decimal(repr(float(x))).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )
            for x in xs
        ]

    # stage references from pandas ewm(adjust=True), each stage rounded
    # to 6 decimals before the next consumes it — the engine's contract
    e1 = r6(pd.Series(vals).ewm(alpha=0.4, adjust=True).mean())
    e2 = r6(pd.Series(e1).ewm(alpha=0.4, adjust=True).mean())
    e3 = r6(pd.Series(e2).ewm(alpha=0.4, adjust=True).mean())
    assert col("EXPONENTIAL_MOVING_AVERAGE(value, 4)") == e1
    dema = col("DOUBLE_EXPONENTIAL_MOVING_AVERAGE(value, 4)")
    tema = col("TRIPLE_EXPONENTIAL_MOVING_AVERAGE(value, 4)")
    trix = col("TRIPLE_EXPONENTIAL_DERIVATIVE(value, 4)")
    assert dema == r6([2 * a - b for a, b in zip(e1, e2)])
    assert tema == r6([3 * a - 3 * b + c for a, b, c in zip(e1, e2, e3)])
    # TRIX drops the warm-up point (lag NULL) in the raw path
    assert trix == r6([100.0 * (c - p) / p for p, c in zip(e3, e3[1:])])


def test_explain_returns_plan_rows(spark, sf_dir):
    """EXPLAIN returns the formatted lazy plan as rows; EXPLAIN
    ANALYZE executes once and returns the AQE final plan."""
    q = (
        "SELECT MEAN(value) AS m FROM click "
        "WHERE time >= '2024-01-01' AND time < '2024-01-08' "
        "GROUP BY time(1d)"
    )
    plan = influxql(spark, sf_dir, f"EXPLAIN {q}").collect()
    text = "\n".join(r.plan for r in plan)
    assert "Physical Plan" in text and "Scan" in text
    ana = influxql(spark, sf_dir, f"EXPLAIN ANALYZE {q}").collect()
    assert any("AdaptiveSparkPlan" in r.plan for r in ana)
    with pytest.raises(InfluxQLError, match="SELECT"):
        influxql(spark, sf_dir, "EXPLAIN SHOW MEASUREMENTS")


def test_explain_inside_statement_batch(spark, sf_dir):
    """EXPLAIN routes through the plan-to-rows lowering inside a
    ;-separated batch too (it previously would have hit the SELECT
    compiler and failed)."""
    from mqtt_influx_storage_service_spark.functions.influxql import (
        influxql_batch,
    )

    dfs = influxql_batch(
        spark, sf_dir,
        "SELECT COUNT(value) AS n FROM click "
        "WHERE time >= '2024-01-01' AND time < '2024-01-03'; "
        "EXPLAIN SELECT MEAN(value) AS m FROM click "
        "WHERE time >= '2024-01-01' AND time < '2024-01-03' "
        "GROUP BY time(1d)",
    )
    assert len(dfs) == 2
    assert dfs[0].collect()[0].n > 0
    assert any("Scan" in r.plan for r in dfs[1].collect())


def test_show_measurements_with_and_where(spark, sf_dir):
    """SHOW MEASUREMENTS takes WITH MEASUREMENT = / =~ and an
    existence WHERE; SHOW TAG KEYS takes WHERE (all-or-nothing on the
    uniform-schema catalog); both go empty, not error, on no match."""
    got = influxql(
        spark, sf_dir, "SHOW MEASUREMENTS WITH MEASUREMENT = purchase"
    ).collect()
    assert [r.name for r in got] == ["purchase"]
    assert (
        influxql(
            spark, sf_dir, "SHOW MEASUREMENTS WITH MEASUREMENT =~ /nope/"
        ).collect()
        == []
    )
    keys = influxql(
        spark, sf_dir, "SHOW TAG KEYS WHERE time >= '2024-01-01'"
    ).collect()
    assert [r.tagKey for r in keys] == ["user_id"]
    assert (
        influxql(
            spark, sf_dir, "SHOW TAG KEYS WHERE time >= '2030-01-01'"
        ).collect()
        == []
    )
    with pytest.raises(InfluxQLError, match="WITH MEASUREMENT"):
        parse("SHOW MEASUREMENTS WITH MEASUREMENT > 3")


def test_influxql_over_own_ingested_points(spark, tmp_path):
    """The reference loop closed: MQTT messages → the ingest
    transformation → the narrow points lake → InfluxQL queries over
    it via PointsCatalog. SHOW MEASUREMENTS lists the ingested
    series; a bucketed MEAN equals the direct DataFrame computation;
    a raw DERIVATIVE compiles against the series_col window (no
    global-window refusal)."""
    from mqtt_influx_storage_service_spark.functions.influxql import (
        PointsCatalog,
    )
    from mqtt_influx_storage_service_spark.streaming.ingest import to_points

    msgs = spark.createDataFrame(
        [
            (f"2024-01-01 00:{m:02d}:00",
             f"openchirp/device/dev{m % 2}/Temp",
             str(20.0 + m))
            for m in range(20)
        ]
        + [("2024-01-01 00:30:00", "openchirp/device/dev0/Note", "hello")],
        "ts string, topic string, payload string",
    ).select(F.col("ts").cast("timestamp"), "topic", "payload")
    pts = to_points(msgs)
    out = str(tmp_path / "points")
    pts.write.partitionBy("ingest_date").parquet(out)

    cat = PointsCatalog(spark, out)
    names = [
        r.name
        for r in influxql(spark, out, "SHOW MEASUREMENTS", catalog=cat).collect()
    ]
    assert names == ["dev0_note", "dev0_temp", "dev1_temp"]

    got = influxql(
        spark, out,
        "SELECT MEAN(value) AS m FROM dev0_temp "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-01 01:00:00' "
        "GROUP BY time(10m)",
        catalog=cat,
    ).collect()
    want = (
        pts.filter(F.col("series_id") == "dev0_temp")
        .groupBy(F.window("ts", "10 minutes").start.alias("time"))
        .agg(F.round(F.round(F.sum("value_double"), 2) / F.count("value_double"), 6).alias("m"))
        .collect()
    )
    assert sorted((r.time, r.m) for r in got) == sorted(
        (r.time, r.m) for r in want
    )

    # raw transform: the series_col partitions the window; the string
    # point (NULL value) contributes nothing
    dv = influxql(
        spark, out,
        "SELECT DERIVATIVE(value, 2m) AS rate FROM dev1_temp "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
        catalog=cat,
    ).collect()
    assert len(dv) == 9 and all(abs(r.rate - 2.0) < 1e-9 for r in dv)


def test_influxql_over_wide_layout(spark, tmp_path):
    """The reference's second ('organized') layout as an InfluxQL
    catalog: measurement = device, one field per transducer, derived
    by pivot over the SAME narrow lake. Cross-field selects and
    per-field aggregates work; SHOW FIELD KEYS lists transducers."""
    from mqtt_influx_storage_service_spark.functions.influxql import (
        WidePointsCatalog,
    )
    from mqtt_influx_storage_service_spark.streaming.ingest import to_points

    msgs = spark.createDataFrame(
        [
            (f"2024-01-01 00:{m:02d}:00", f"openchirp/device/d0/Temp",
             str(20.0 + m))
            for m in range(10)
        ]
        + [
            (f"2024-01-01 00:{m:02d}:00", f"openchirp/device/d0/Hum",
             str(50.0 + m))
            for m in range(10)
        ],
        "ts string, topic string, payload string",
    ).select(F.col("ts").cast("timestamp"), "topic", "payload")
    out = str(tmp_path / "points")
    to_points(msgs).write.partitionBy("ingest_date").parquet(out)

    cat = WidePointsCatalog(spark, out)
    keys = influxql(spark, out, "SHOW FIELD KEYS FROM d0", catalog=cat)
    assert [r.fieldKey for r in keys.collect()] == ["hum", "temp"]

    got = influxql(
        spark, out,
        "SELECT MEAN(temp) AS mt, MAX(hum) AS mh FROM d0 "
        "WHERE time >= '2024-01-01 00:00:00' AND time < '2024-01-01 01:00:00'",
        catalog=cat,
    ).collect()
    assert got[0].mt == 24.5 and got[0].mh == 59.0

    # raw cross-field select: both transducer columns on one row per ts
    rows = influxql(
        spark, out,
        "SELECT temp, hum FROM d0 WHERE time >= '2024-01-01' "
        "AND time < '2024-01-02' ORDER BY time LIMIT 3",
        catalog=cat,
    ).collect()
    assert [(r.temp, r.hum) for r in rows] == [
        (20.0, 50.0), (21.0, 51.0), (22.0, 52.0)
    ]


def test_catalog_constructor_series_cap(spark, tmp_path, monkeypatch):
    """VERDICT r7 'Next round' #3: the catalog constructors' driver-side
    measurement index is a BOUNDED probe (distinct().limit(MAX+1)), and
    above CATALOG_MAX_SERIES construction refuses with an actionable
    error instead of collecting millions of series — same idiom as
    RAW_GLOBAL_WINDOW_MAX. At exactly the cap it still constructs."""
    from mqtt_influx_storage_service_spark.functions import influxql as iqmod
    from mqtt_influx_storage_service_spark.streaming.ingest import to_points

    msgs = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", f"openchirp/device/dev{m}/Temp",
             str(20.0 + m))
            for m in range(4)
        ],
        "ts string, topic string, payload string",
    ).select(F.col("ts").cast("timestamp"), "topic", "payload")
    out = str(tmp_path / "points")
    to_points(msgs).write.partitionBy("ingest_date").parquet(out)

    # 4 distinct series: cap=3 refuses (narrow AND wide), cap=4 works
    monkeypatch.setattr(iqmod, "CATALOG_MAX_SERIES", 3)
    with pytest.raises(iqmod.InfluxQLError, match="CATALOG_MAX_SERIES"):
        iqmod.PointsCatalog(spark, out)
    with pytest.raises(iqmod.InfluxQLError, match="distinct devices"):
        iqmod.WidePointsCatalog(spark, out)

    monkeypatch.setattr(iqmod, "CATALOG_MAX_SERIES", 4)
    cat = iqmod.PointsCatalog(spark, out)
    assert cat.measurement_names() == [
        "dev0_temp", "dev1_temp", "dev2_temp", "dev3_temp"
    ]
    wcat = iqmod.WidePointsCatalog(spark, out)
    assert len(wcat.measurement_names()) == 4

    # the 100-TB path: a catalog-FED index skips the probe entirely,
    # so it constructs even below the cap that refused the scan —
    # and queries against it still compile and run
    monkeypatch.setattr(iqmod, "CATALOG_MAX_SERIES", 0)
    fed = iqmod.PointsCatalog(spark, out, names=["dev1_temp"])
    assert fed.measurement_names() == ["dev1_temp"]
    got = influxql(
        spark, out,
        "SELECT COUNT(value) AS n FROM dev1_temp "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
        catalog=fed,
    ).collect()
    assert got[0].n == 1
    wfed = iqmod.WidePointsCatalog(
        spark, out, devices=["dev0"], fields=["temp"]
    )
    assert wfed.measurement_names() == ["dev0"]


def _ingested_lake(spark, out, topics, minutes=range(5)):
    """Append one ``to_points`` batch to the lake at ``out``: a float
    reading per minute in ``minutes`` on every topic in ``topics``."""
    from mqtt_influx_storage_service_spark.streaming.ingest import to_points

    msgs = spark.createDataFrame(
        [
            (f"2024-01-01 00:{m:02d}:00", t, str(20.0 + m))
            for t in topics
            for m in minutes
        ],
        "ts string, topic string, payload string",
    ).select(F.col("ts").cast("timestamp"), "topic", "payload")
    to_points(msgs).write.mode("append").partitionBy("ingest_date").parquet(out)


def _build_without_jobs(spark, out, q, cat):
    """Build ``q`` over ``cat`` under a fresh job group, assert the
    build ran no Spark job, and return the rows it then collects."""
    sc = spark.sparkContext
    group = f"iq-build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, q)
    try:
        df = influxql(spark, out, q, catalog=cat)
        assert sc.statusTracker().getJobIdsForGroup(group) == [], q
        return df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_points_catalogs_build_statements_without_jobs(spark, tmp_path):
    """The points catalogs read the lake with the schema its writer
    declares, so building a statement runs no Spark job (no schema
    inference per statement) — for an aggregate, a raw transform and
    a /regex/ FROM, on both layouts. The FROM filter on the catalog's
    one relation reaches the parquet scan as a predicate on the
    layout's series column, through the narrow projection and through
    the wide pivot."""
    from mqtt_influx_storage_service_spark import plans
    from mqtt_influx_storage_service_spark.functions.influxql import (
        PointsCatalog,
        WidePointsCatalog,
    )

    out = str(tmp_path / "points")
    _ingested_lake(
        spark, out,
        [f"openchirp/device/d{d}/{t}" for d in range(2) for t in ("temp", "hum")],
    )
    window = "WHERE time >= '2024-01-01' AND time < '2024-01-02'"
    for cat, fld, m, rx, names in [
        (PointsCatalog(spark, out), "value", "d0_temp", "/^d._temp$/",
         "d0_temp,d1_temp"),
        (WidePointsCatalog(spark, out), "temp", "d0", "/^d/", "d0,d1"),
    ]:
        for q in [
            f"SELECT MEAN({fld}) AS m FROM {m} {window} GROUP BY time(1m)",
            f"SELECT DIFFERENCE({fld}) AS d FROM {m} {window}",
            f"SELECT MAX({fld}) AS m FROM {rx} {window}",
        ]:
            assert _build_without_jobs(spark, out, q, cat), q
        col = cat.schema.series_col
        for frm, pushed in [
            (m, f"EqualTo({col},{m})"), (rx, f"In({col}, [{names}])")
        ]:
            q = f"SELECT MAX({fld}) AS m FROM {frm} {window}"
            df = influxql(spark, out, q, catalog=cat)
            assert pushed in plans.pushed_filters(df), q


def test_iq_registry_builds_without_jobs(spark, sf_dir):
    """Building an ``iq_*`` registry entry runs no Spark job once
    ``load_table`` has touched its tables (that first touch is the one
    documented build job: schema inference of ``events`` and
    ``lineitem``)."""
    from mqtt_influx_storage_service_spark.operators import all_queries

    iq = {n: fn for n, fn in all_queries().items() if n.startswith("iq_")}
    assert iq
    for fn in iq.values():
        fn(spark, sf_dir)
    sc = spark.sparkContext
    busy = {}
    for name, fn in sorted(iq.items()):
        group = f"iq-build-{uuid.uuid4().hex}"
        sc.setJobGroup(group, name)
        try:
            fn(spark, sf_dir)
            jobs = sc.statusTracker().getJobIdsForGroup(group)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        if jobs:
            busy[name] = len(jobs)
    assert busy == {}


def test_points_catalog_sees_batches_landed_after_construction(spark, tmp_path):
    """The declared-schema read is not a snapshot: the lake is still
    listed per statement, so a micro-batch appended after the catalog
    was built is counted by the next statement, on both layouts, and
    building that statement still runs no job."""
    from mqtt_influx_storage_service_spark.functions.influxql import (
        PointsCatalog,
        WidePointsCatalog,
    )

    out = str(tmp_path / "points")
    _ingested_lake(spark, out, ["openchirp/device/d0/temp"])
    narrow = PointsCatalog(spark, out)
    wide = WidePointsCatalog(spark, out)
    window = "WHERE time >= '2024-01-01' AND time < '2024-01-02'"

    def counts():
        return tuple(
            _build_without_jobs(spark, out, q, cat)[0].n
            for q, cat in [
                (f"SELECT COUNT(value) AS n FROM d0_temp {window}", narrow),
                (f"SELECT COUNT(temp) AS n FROM d0 {window}", wide),
            ]
        )

    assert counts() == (5, 5)
    _ingested_lake(spark, out, ["openchirp/device/d0/temp"], range(5, 8))
    assert counts() == (8, 8)


def test_wide_catalog_refuses_transducer_colliding_with_ts(spark, tmp_path):
    """A device that publishes a 'TS' transducer lowercases to 'ts',
    which folds onto the wide layout's fixed 'ts' column. The wide
    catalog refuses at construction with wide_view's collision
    message (instead of failing every later statement with
    AMBIGUOUS_REFERENCE); the fields= override is the remedy."""
    from mqtt_influx_storage_service_spark.functions.influxql import (
        WidePointsCatalog,
    )

    out = str(tmp_path / "points")
    _ingested_lake(
        spark, out,
        ["openchirp/device/d0/temp", "openchirp/device/d0/hum",
         "openchirp/device/d1/TS"],
    )
    with pytest.raises(ValueError, match="collides with the wide layout's fixed 'ts'"):
        WidePointsCatalog(spark, out)
    cat = WidePointsCatalog(spark, out, fields=["hum", "temp"])
    got = influxql(
        spark, out,
        "SELECT MEAN(temp) AS m FROM d0 "
        "WHERE time >= '2024-01-01' AND time < '2024-01-02'",
        catalog=cat,
    ).collect()
    assert got[0].m == 22.0


def test_ta_kernels_match_python_reference_on_random_series(spark, sf_dir):
    """CMO/RSI/KER over three seeded pseudo-random 2-decimal series
    equal a direct pure-Python computation of the declared semantics
    (exact integer sums over the last-N changes) — the cross-check
    that the window fold, scaling, and warm-up gating are right, not
    just oracle-consistent."""
    import random

    for seed in (7, 41, 1337):
        rng = random.Random(seed)
        vals = [round(rng.uniform(1, 200), 2) for _ in range(40)]
        n = rng.choice([2, 3, 5, 8])
        cat = _TinyCatalog(_ta_points(vals))
        rngq = "WHERE time >= '2024-01-01' AND time < '2024-01-02'"

        def col(expr):
            return [
                r.v
                for r in influxql(
                    spark, sf_dir,
                    f"SELECT {expr} AS v FROM m {rngq}", catalog=cat,
                )
                .orderBy("time")
                .collect()
            ]

        cents = [round(v * 1_000_000) for v in vals]

        from decimal import ROUND_HALF_UP, Decimal

        def r6x(x):
            # Spark round(): HALF_UP over the shortest repr, not
            # python/banker's
            return float(
                Decimal(repr(float(x))).quantize(
                    Decimal("0.000001"), ROUND_HALF_UP
                )
            )

        def ref(kind):
            out = []
            for t in range(len(cents)):
                lo = max(0, t - n)
                win = cents[lo : t + 1]
                if len(win) != n + 1:
                    continue
                d = [b - a for a, b in zip(win, win[1:])]
                up = sum(x for x in d if x > 0)
                tot = sum(abs(x) for x in d)
                if tot == 0:
                    continue
                if kind == "cmo":
                    out.append(r6x(100.0 * (2 * up - tot) / tot) + 0.0)
                elif kind == "rsi":
                    out.append(r6x(100.0 * up / tot) + 0.0)
                else:
                    out.append(r6x(abs(win[-1] - win[0]) / (1.0 * tot)))
            return out

        assert col(f"CHANDE_MOMENTUM_OSCILLATOR(value, {n})") == ref("cmo")
        assert col(f"RELATIVE_STRENGTH_INDEX(value, {n})") == ref("rsi")
        assert col(f"KAUFMANS_EFFICIENCY_RATIO(value, {n})") == ref("ker")


def test_subquery_nests_two_levels(spark, sf_dir):
    """FROM (SELECT ... FROM (SELECT ...)) — the parser/compiler
    recursion handles depth-2 nesting: a raw projection feeding a
    bucketed aggregate feeding an outer selector, equal to the same
    pipeline composed by hand."""
    got = influxql(
        spark, sf_dir,
        "SELECT MAX(mv) AS mmv FROM (SELECT MEAN(v2) AS mv FROM "
        "(SELECT value * 2 AS v2 FROM click) GROUP BY time(1d))",
    ).collect()
    inner = influxql(
        spark, sf_dir,
        "SELECT MEAN(v2) AS mv FROM (SELECT value * 2 AS v2 FROM click) "
        "GROUP BY time(1d)",
    ).collect()
    assert len(got) == 1
    assert got[0]["mmv"] == max(r["mv"] for r in inner)
