"""The certification tool's chunked compare is itself load-bearing: it
is what lets pair-producing results certify at sf0.1 without a driver
collect (spark.driver.maxResultSize). Pin its invariants:

- row strings are built column-wise, NOT via CSV, so embedded newlines
  in document text cannot split one row into two;
- the multiset hash is chunk-boundary- and row-order-insensitive;
- a single changed value IS detected (the hash is not vacuously equal).
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import pandas as pd
import pytest

spec = importlib.util.spec_from_file_location(
    "check_oracles",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                 "tools", "check_oracles.py"))
check_oracles = importlib.util.module_from_spec(spec)
sys.modules["check_oracles"] = check_oracles
spec.loader.exec_module(check_oracles)

_chunk_hash_update = check_oracles._chunk_hash_update
_stream_multiset = check_oracles._stream_multiset
compare_chunked = check_oracles.compare_chunked


def _hash_of(df: pd.DataFrame) -> tuple[int, int]:
    acc = [0, 0]
    _chunk_hash_update(df, acc)
    return tuple(acc)


def test_multiset_hash_order_and_chunk_insensitive():
    df = pd.DataFrame({"a": [1, 2, 3, 4], "b": ["x", "y", "z", "w"]})
    whole = _hash_of(df)
    shuffled = _hash_of(df.iloc[[3, 1, 0, 2]])
    assert whole == shuffled
    acc = [0, 0]
    _chunk_hash_update(df.iloc[:2], acc)
    _chunk_hash_update(df.iloc[2:], acc)
    assert tuple(acc) == whole


def test_multiset_hash_detects_value_change():
    a = pd.DataFrame({"a": [1, 2], "v": [1.25, 2.5]})
    b = pd.DataFrame({"a": [1, 2], "v": [1.25, 2.5000021]})  # > 1e-6 drift
    assert _hash_of(a) != _hash_of(b)
    # and duplicates count: {x, x} != {x}
    assert _hash_of(pd.DataFrame({"a": [1, 1]})) != _hash_of(
        pd.DataFrame({"a": [1]}))


def test_newlines_in_text_do_not_split_rows():
    # two rows whose CSV serialization would collide if newlines split
    # lines: ("a\nb", "c") vs ("a", "b\nc")
    x = pd.DataFrame({"l": ["a\nb"], "r": ["c"]})
    y = pd.DataFrame({"l": ["a"], "r": ["b\nc"]})
    assert _hash_of(x) != _hash_of(y)
    assert _hash_of(x)[0] == 1  # one row stays one row


def test_compare_chunked_end_to_end(spark, tmp_path):
    sdf = spark.createDataFrame(
        [(i, float(i) / 3.0, f"line\nbreak{i}") for i in range(500)],
        "id long, val double, txt string",
    )
    con = duckdb.connect()
    ok = compare_chunked(
        "t", sdf,
        "SELECT range::BIGINT AS id, range/3.0 AS val, "
        "'line' || chr(10) || 'break' || range AS txt FROM range(500)",
        con)
    assert ok == []
    bad = compare_chunked(
        "t", sdf,
        "SELECT range::BIGINT AS id, range/3.0 + 0.001 AS val, "
        "'line' || chr(10) || 'break' || range AS txt FROM range(500)",
        con)
    assert bad and "hash" in bad[0]
    # the mismatch must carry the ADVICE-r9 diagnostics: which rows
    # differ (bounded EXCEPT ALL sample), not just 'hash mismatch'
    assert any("spark-only" in p for p in bad), bad
    assert any("oracle-only" in p for p in bad), bad


def test_compare_chunked_tolerance_diagnostic(spark):
    """A decimal-midpoint float pair that DETERMINISTICALLY trips the
    6dp multiset hash while agreeing under DuckDB's round(v, 6)
    (ADVICE r9: the old fixture only tripped 'on some platforms', so
    the assertion was vacuously skippable): 0.1234565 stores as
    0.12345649999..., so Python's %.6f formats it '0.123456', while
    0.12345650000001 formats '0.123457' — hash mismatch guaranteed —
    yet DuckDB round()s BOTH to 0.123457, so the EXCEPT ALL anti-joins
    at 6dp come back empty and the tool must say 'canonicalization
    brittleness', not leave a bare mismatch (the header's
    hash-brittleness-vs-wrong-values promise, for chunked mode)."""
    con = duckdb.connect()
    # a real table, not register(): compare_chunked reads through
    # cursors, which do not see replacement-scan registrations
    con.execute("CREATE TABLE probe AS SELECT 0.12345650000001::DOUBLE AS v")
    # precondition of the fixture, asserted rather than hoped (the
    # hash formats %.6f; the diagnostic rounds at 6dp):
    assert f"{0.1234565:.6f}" != f"{0.12345650000001:.6f}"
    assert (con.execute("SELECT round(0.1234565::DOUBLE, 6) = "
                        "round(0.12345650000001::DOUBLE, 6)").fetchone()[0])
    sdf = spark.createDataFrame([(0.1234565,)], "v double")
    out = compare_chunked("t", sdf, "SELECT v FROM probe", con)
    assert out, "the midpoint pair must trip the 6dp multiset hash"
    assert any("canonicalization" in p for p in out), out
