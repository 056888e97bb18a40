"""Shared fixtures: one SparkSession per test run, DuckDB oracle connection,
and the differential comparer that mirrors the driver's check
(row-count + schema-width + order-insensitive value compare)."""

from __future__ import annotations

import math
import os
import sys
import time
import uuid

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from realtime_olap_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_spark("realtime_olap_spark_tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return con

    return connect


def jobs_in_group(sc, group: str) -> int:
    """Jobs started under ``group`` so far. Job starts reach the status
    tracker through the asynchronous listener bus, in order: once a
    marker job run after them is visible, every earlier job is too."""
    marker = f"marker-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(marker, marker)
    sc.parallelize([0], 1).count()
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(marker):
        assert time.monotonic() < deadline, "marker job never reported"
        time.sleep(0.01)
    return len(st.getJobIdsForGroup(group))


def response_answer(resp: dict) -> dict:
    """A ``PQLEngine.execute`` response without its stats: the answer."""
    return {k: resp[k] for k in ("aggregationResults", "selectionResults")
            if k in resp}


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def rows_of_spark(df) -> list[tuple]:
    cols = sorted(df.columns)
    return sorted([tuple(_norm(r[c]) for c in cols) for r in df.collect()],
                  key=lambda t: tuple(str(x) for x in t))


def rows_of_duck(con, sql: str) -> list[tuple]:
    rel = con.sql(sql)
    cols = rel.columns
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    data = rel.fetchall()
    return sorted([tuple(_norm(row[i]) for i in order) for row in data],
                  key=lambda t: tuple(str(x) for x in t))


def assert_matches_oracle(spark_df, duck_con, oracle: str, name: str = "",
                          float_tol: float = 0.0):
    """Exact (or tol-bounded) differential compare, column-name-sorted and
    row-order-insensitive — strictly stronger than the driver's value-hash."""
    got = rows_of_spark(spark_df)
    want = rows_of_duck(duck_con, oracle)
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} != oracle {len(want)}")
    for i, (g, w) in enumerate(zip(got, want)):
        assert len(g) == len(w), f"{name} row {i}: width {len(g)} != {len(w)}"
        for j, (a, b) in enumerate(zip(g, w)):
            if isinstance(a, float) and isinstance(b, float) and float_tol:
                assert a == pytest.approx(b, abs=float_tol, rel=float_tol), (
                    f"{name} row {i} col {j}: {a!r} != {b!r}")
            else:
                assert a == b, f"{name} row {i} col {j}: {a!r} != {b!r}"
