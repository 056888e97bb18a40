"""Parquet timestamp-encoding robustness: the testdata generator has
shipped events.ts as TIMESTAMP(NANOS) in some rounds and TIMESTAMP(MICROS)
in others. The catalog must footer-sniff and expose the IDENTICAL table
(schema order, values, ts_ns twin) under either physical encoding — for
events and for any other table that grows a nanos column. Both encodings
go through one footer-driven read, so every other column maps the same
way in both."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, TimestampNTZType

from realtime_olap_spark.catalog import Catalog, _footer_schema, _read_schema

_ROWS = [
    (1, dt.datetime(2024, 1, 1, 0, 0, 7, 179575), 10, "click", 1.5, "{}"),
    (2, dt.datetime(2024, 3, 5, 12, 30, 0, 1), 11, "view", 2.0, "{}"),
    (3, dt.datetime(2025, 12, 31, 23, 59, 59, 999999), 12, "click", 0.25, "{}"),
]


def _write_events(tmpdir: str, unit: str) -> str:
    cols = list(zip(*_ROWS))
    table = pa.table({
        "event_id": pa.array(cols[0], pa.int64()),
        "ts": pa.array(cols[1], pa.timestamp(unit)),
        "user_id": pa.array(cols[2], pa.int64()),
        "event_type": pa.array(cols[3], pa.string()),
        "value": pa.array(cols[4], pa.float64()),
        "props": pa.array(cols[5], pa.string()),
    })
    pq.write_table(table, f"{tmpdir}/events.parquet")
    return tmpdir


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_events_identical_under_both_encodings(spark, tmp_path, unit):
    sf_dir = _write_events(str(tmp_path), unit)
    schema, ns_cols = _read_schema(_footer_schema(f"{sf_dir}/events.parquet"))
    assert ns_cols == (["ts"] if unit == "ns" else [])
    if unit == "ns":  # read as its physical INT64 epoch-nanos
        assert schema["ts"].dataType == LongType()
    ev = Catalog(spark, sf_dir).table("events")
    assert [f.name for f in ev.schema.fields] == [
        "event_id", "ts_ns", "user_id", "event_type", "value", "props", "ts"]
    rows = {r["event_id"]: r for r in ev.collect()}
    for eid, ts, uid, et, val, props in _ROWS:
        r = rows[eid]
        assert r["ts"] == ts, (unit, eid, r["ts"])
        epoch_us = int(ts.replace(tzinfo=dt.timezone.utc).timestamp()
                       * 1_000_000)
        # float seconds lose precision at 2025 scale — recompute exactly
        epoch_us = ((ts - dt.datetime(1970, 1, 1)) // dt.timedelta(
            microseconds=1))
        assert r["ts_ns"] == epoch_us * 1000, (unit, eid)
        assert (r["user_id"], r["event_type"], r["value"], r["props"]) == \
            (uid, et, val, props)


def test_generic_table_with_nanos_column(spark, tmp_path):
    """A non-events table growing a nanos column routes through the same
    forced-INT64 read: original name carries the µs timestamp, the _ns
    twin keeps the exact nanos."""
    table = pa.table({
        "o_orderkey": pa.array([7, 8], pa.int64()),
        "o_custkey": pa.array([1, 2], pa.int64()),
        "o_orderstatus": pa.array(["F", "O"], pa.string()),
        "o_orderpriority": pa.array(["1-URGENT", "2-HIGH"], pa.string()),
        "o_totalprice": pa.array([10.0, 20.0], pa.float64()),
        "o_orderdate": pa.array(
            [dt.datetime(2024, 6, 1), dt.datetime(2024, 6, 2)],
            pa.timestamp("ns")),
    })
    pq.write_table(table, f"{tmp_path}/orders.parquet")
    orders = Catalog(spark, str(tmp_path)).table("orders")
    assert "o_orderdate_ns" in orders.columns
    got = {r["o_orderkey"]: r for r in orders.collect()}
    assert got[7]["o_orderdate"] == dt.datetime(2024, 6, 1)
    assert got[7]["o_orderdate_ns"] == int(
        (dt.datetime(2024, 6, 1) - dt.datetime(1970, 1, 1))
        / dt.timedelta(microseconds=1)) * 1000


@pytest.mark.parametrize("unit", ["ns", "us"])
def test_micros_column_beside_nanos_column_is_ntz(spark, tmp_path, unit):
    """A tz-naive µs timestamp maps to ``timestamp_ntz`` — as Spark's own
    parquet inference reads it — whether or not the table also holds a
    nanos column."""
    days = [dt.datetime(2024, 6, 1), dt.datetime(2024, 6, 2, 3, 4, 5, 6)]
    table = pa.table({
        "o_orderkey": pa.array([7, 8], pa.int64()),
        "o_orderdate": pa.array(days, pa.timestamp(unit)),
        "o_shipdate": pa.array(days, pa.timestamp("us")),
    })
    pq.write_table(table, f"{tmp_path}/orders.parquet")
    orders = Catalog(spark, str(tmp_path)).table("orders")
    assert orders.schema["o_shipdate"].dataType == TimestampNTZType()
    assert ("o_orderdate_ns" in orders.columns) == (unit == "ns")
    got = {r["o_orderkey"]: r for r in orders.collect()}
    assert [got[7]["o_shipdate"], got[8]["o_shipdate"]] == days
    assert [got[7]["o_orderdate"], got[8]["o_orderdate"]] == days
