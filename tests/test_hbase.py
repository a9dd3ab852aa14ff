"""GetHBase / PutHBase analogs (sources/hbase.py): the boundary-
timestamp dedup state machine, JsonRowSerializer byte format, state
reset on table change, and PutHBaseJSON field handling."""

from __future__ import annotations

import struct

import pytest

from nifi_spark.ledger import KVState
from nifi_spark.sources.hbase import (GetHBaseSource, HBaseError,
                                      HBaseTable, put_hbase_cell,
                                      put_hbase_json,
                                      serialize_row_json)


def _src(tmp_path, **kw):
    return GetHBaseSource(str(tmp_path / "spool"),
                          KVState(str(tmp_path / "state")), **kw)


def test_json_row_serializer_exact_format():
    s = serialize_row_json("r1", [("f", "q0", "v0", 5),
                                  ("f", "q1", "v1", 6)])
    assert s == '{"row":"r1", "cells": {"f:q0":"v0", "f:q1":"v1"}}'


def test_first_scan_pulls_everything(tmp_path):
    t = HBaseTable("t1")
    for i in range(10):
        t.put(f"r{i:02d}", "f", "q", f"v{i}", 100 + i)
    src = _src(tmp_path)
    assert src.drain(t) == 10


def test_incremental_scan_skips_seen_boundary_rows(tmp_path):
    t = HBaseTable("t1")
    # three rows share the max timestamp 109
    for i in range(8):
        t.put(f"r{i}", "f", "q", f"v{i}", 100 + i)
    t.put("r8", "f", "q", "v8", 109)
    t.put("r9", "f", "q", "v9", 109)
    src = _src(tmp_path)
    assert src.drain(t) == 10
    # nothing new → rows at ts==109 are all seen → no output
    assert src.drain(t) == 0
    # a NEW row lands at the SAME boundary ts 109 → only it is pulled
    t.put("rA", "f", "q", "vA", 109)
    assert src.drain(t) == 1
    # and the merged matching-cells remember ALL of r8/r9/rA
    assert src.drain(t) == 0


def test_row_updated_at_boundary_is_repulled(tmp_path):
    t = HBaseTable("t1")
    t.put("r1", "f", "q", "old", 100)
    src = _src(tmp_path)
    assert src.drain(t) == 1
    # same ts, different value → cell not in seen set → pulled again
    t.put("r1", "f", "q", "new", 100)
    assert src.drain(t) == 1


def test_table_change_clears_state(tmp_path):
    t1 = HBaseTable("t1")
    t1.put("r1", "f", "q", "v", 100)
    src = _src(tmp_path)
    assert src.drain(t1) == 1
    t2 = HBaseTable("t2")
    t2.put("r1", "f", "q", "v", 50)   # OLDER ts than t1's watermark
    assert src.drain(t2) == 1          # state cleared → still pulled


def test_column_filter(tmp_path):
    t = HBaseTable("t1")
    t.put("r1", "f", "q0", "a", 100)
    t.put("r1", "g", "q1", "b", 100)
    t.put("r2", "g", "q1", "c", 101)
    src = _src(tmp_path, columns=["f"])
    assert src.drain(t) == 1           # only r1 has family f
    rows = list(t.scan(["g:q1"]))
    assert [rk for rk, _ in rows] == ["r1", "r2"]


def test_initial_time_range_current(tmp_path):
    t = HBaseTable("t1")
    t.put("r1", "f", "q", "old", 100)
    t.put("r2", "f", "q", "new", 500)
    src = _src(tmp_path, initial_time_range="Current Time")
    assert src.drain(t, now_ms=400) == 1   # only ts>=400


def test_failed_land_keeps_state_and_repulls(tmp_path, monkeypatch):
    """A drain whose landing fails must not advance the state: the next
    drain pulls the same rows again (at-least-once, never lost)."""
    t = HBaseTable("t1")
    for i in range(3):
        t.put(f"r{i}", "f", "q", f"v{i}", 100 + i)
    src = _src(tmp_path)
    assert src.drain(t) == 3
    t.put("r3", "f", "q", "v3", 200)
    state = src.state.get(src.key)

    def crash(*_a):
        raise OSError("disk gone")

    monkeypatch.setattr(src, "_land", crash)
    with pytest.raises(OSError):
        src.drain(t)
    assert src.state.get(src.key) == state
    monkeypatch.undo()
    assert src.drain(t) == 1
    assert src.drain(t) == 0


def test_read_back_spool(spark, tmp_path):
    t = HBaseTable("t1")
    for i in range(6):
        t.put(f"r{i}", "f", "q", f"v{i}", 100 + i)
    src = _src(tmp_path)
    src.drain(t)
    df = src.read(spark)
    assert df.count() == 6
    row = df.orderBy("event_seq").first()
    assert row["hbase_table"] == "t1"
    assert row["payload"] == '{"row":"r0", "cells": {"f:q":"v0"}}'


# --------------------------------------------------------- puts

def test_put_hbase_json_string_encoding():
    p = put_hbase_json('{"id":"r9","a":1,"b":true,"c":null,"d":"x"}',
                       table="t", column_family="f",
                       row_field_name="id")
    assert p["row"] == "r9"
    assert ("f", "a", "1") in p["columns"]
    assert ("f", "b", "true") in p["columns"]
    assert ("f", "d", "x") in p["columns"]
    # null skipped, row field not a column
    names = [q for _f, q, _v in p["columns"]]
    assert "c" not in names and "id" not in names


def test_put_hbase_json_bytes_encoding():
    p = put_hbase_json('{"n":7,"x":1.5,"ok":false}', table="t",
                       column_family="f", row_id="r1",
                       field_encoding="Bytes")
    vals = {q: v for _f, q, v in p["columns"]}
    assert vals["n"] == struct.pack(">q", 7)
    assert vals["x"] == struct.pack(">d", 1.5)
    assert vals["ok"] == b"\x00"


def test_put_hbase_json_complex_strategies():
    doc = '{"a":{"nested":1},"b":2}'
    assert put_hbase_json(doc, table="t", column_family="f",
                          row_id="r", complex_field_strategy="Fail") \
        is None
    p = put_hbase_json(doc, table="t", column_family="f", row_id="r",
                       complex_field_strategy="Ignore")
    assert [q for _f, q, _v in p["columns"]] == ["b"]
    p = put_hbase_json(doc, table="t", column_family="f", row_id="r",
                       complex_field_strategy="Text")
    assert ("f", "a", '{"nested":1}') in p["columns"]


def test_put_hbase_json_failures():
    assert put_hbase_json("not json", table="t", column_family="f",
                          row_id="r") is None
    assert put_hbase_json("[1,2]", table="t", column_family="f",
                          row_id="r") is None
    assert put_hbase_json('{"a":1}', table="t", column_family="f",
                          row_field_name="missing") is None
    with pytest.raises(HBaseError):
        put_hbase_json("{}", table="t", column_family="f")
    with pytest.raises(HBaseError):
        put_hbase_json("{}", table="t", column_family="f",
                       row_id="r", row_field_name="x")


def test_put_roundtrip_through_table_and_get(tmp_path):
    t = HBaseTable("t1")
    puts = [put_hbase_json(f'{{"id":"r{i}","v":"{i * i}"}}', table="t1",
                           column_family="f", row_field_name="id",
                           ts=100 + i) for i in range(5)]
    assert t.put_cells(puts) == 5
    t.put_cells([put_hbase_cell("blob", table="t1", row="r9",
                                column_family="f",
                                column_qualifier="raw", ts=200)])
    src = _src(tmp_path)
    assert src.drain(t) == 6
