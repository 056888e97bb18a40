"""Answer checks against DuckDB over the same generated parquet files."""

from __future__ import annotations

import math

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents"]


def connect(corpus_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{corpus_dir}/{t}.parquet/*.parquet')")
    return con


def _norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _canon(cols: list[str], rows) -> list[tuple]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm(r[i]) for i in order) for r in rows),
                  key=lambda t: tuple(map(str, t)))


def same_rows(got_cols, got_rows, want_cols, want_rows) -> bool:
    """Order-insensitive exact compare of two result sets, columns
    matched by name."""
    return (sorted(got_cols) == sorted(want_cols)
            and _canon(got_cols, got_rows) == _canon(want_cols, want_rows))


def _topn(rows: list[dict], fn: str, keys: list[str], n: int) -> list:
    """The engine's per-function group-by trim: value descending, then
    native-typed keys ascending with NULLs first."""
    rows = sorted(rows, key=lambda r: (
        -(r[fn] if r[fn] is not None else float("-inf")),
        tuple((r[k] is not None, r[k]) for k in keys)))
    return [([r[k] for k in keys], r[fn]) for r in rows[:n]]


def pql_response_matches(con, pql: str, sql: str, resp: dict) -> bool:
    """Whether a ``POST /query`` response carries the oracle's answer:
    selections row for row in order, scalar aggregations by function,
    group-bys as each function's trimmed top-n list."""
    from realtime_olap_spark.plans.pql import DEFAULT_TOP, parse_pql

    rel = con.sql(sql)
    cols = rel.columns
    rows = [dict(zip(cols, r)) for r in rel.fetchall()]
    if "selectionResults" in resp:
        sel = resp["selectionResults"]
        return (sel["columns"] == cols
                and [list(map(_norm, r)) for r in sel["results"]]
                == [[_norm(r[c]) for c in cols] for r in rows])
    aggs = resp["aggregationResults"]
    if not aggs or "groupByResult" not in aggs[0]:
        return (len(rows) == 1 and
                {a["function"]: _norm(a["value"]) for a in aggs}
                == {c: _norm(rows[0][c]) for c in cols})
    q = parse_pql(pql)
    n = q.top if q.top is not None else DEFAULT_TOP
    for a in aggs:
        keys = a["groupByColumns"]
        want = _topn(rows, a["function"], keys, n)
        got = [(g["group"], g["value"]) for g in a["groupByResult"]]
        if _norm(got) != _norm(want):
            return False
    return {a["function"] for a in aggs} == set(cols) - set(aggs[0][
        "groupByColumns"])
