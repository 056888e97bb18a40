"""Seeded input generation for the benchmark.

Everything a run reads is made here from the workload seed:

- ``base_tables``: a star schema with the columns, types and value domains
  of the engine's test corpus, at a scale factor (sf0.1: lineitem 600k
  rows, orders 150k, customer 15k, events 100k, ...);
- ``replicate``: a ×k corpus built from the base by key-offset
  replication — each copy shifts ``l_orderkey``/``o_orderkey``,
  ``o_custkey``/``c_custkey`` and ``event_id``/``user_id`` by one base
  key range and permutes its rows with a seeded permutation; the small
  tables are copied once;
- ``serve_mix``: the PQL/SQL pairs of the served mix, one per shape
  family of the package's query generator;
- ``ingest_rows``: the row pool the live-ingest generator writes from.

Each table is written as a directory of ``PARTS`` parquet files, one per
Spark core, which the catalog serves as-is (it restages only single-file
tables). A corpus is cached under the work directory per (seed, scale);
its build time is reported as ``setup.corpus_s``, outside ``setup_s``.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: table sizes at sf0.1 (other scale factors scale them linearly)
BASE_ROWS = {"customer": 15_000, "supplier": 1_000, "part": 20_000,
             "orders": 150_000, "lineitem": 600_000, "events": 100_000,
             "documents": 5_000}
N_USERS = 1_500
EVENT_TYPES = ["click", "view", "error", "signup", "purchase"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_ADJ = ["blue", "red", "green", "large", "small", "hot", "cold", "shiny",
         "dull", "old", "new", "bright", "dark"]
P_NOUN = ["anvil", "ring", "widget", "bolt", "gear"]
WORDS = ("a the data query scan filter sort hash key group agg join order "
         "value window vector batch row column table part stream spark fast "
         "slow small big merge line customer").split()
LANGS = ["en", "de", "fr", "es", "zh"]
# 1995-01-01 and 2024-01-01 as epoch microseconds
_US_1995 = 788_918_400_000_000
_US_2024 = 1_704_067_200_000_000
_DAY_US = 86_400_000_000

PARTS = 2  # part files per table: one per pinned Spark core

SHAPES = ("selection", "scalar_agg", "group_by", "events_agg",
          "time_bucket", "docs_agg")


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def base_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    """The scale-factor-``sf`` corpus for ``seed`` as Arrow tables."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, round(v * sf / 0.1)) for k, v in BASE_ROWS.items()}
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    nc = n["customer"]
    t["customer"] = pa.table({
        "c_custkey": np.arange(nc, dtype="int64"),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype("int32"),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})
    ns = n["supplier"]
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(ns, dtype="int64"),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype("int32"),
        "s_acctbal": _money(rng, -999.99, 9999.99, ns)})
    npt = n["part"]
    adj = np.array(P_ADJ)[rng.integers(0, len(P_ADJ), npt)]
    noun = np.array(P_NOUN)[rng.integers(0, len(P_NOUN), npt)]
    t["part"] = pa.table({
        "p_partkey": np.arange(npt, dtype="int64"),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array(np.char.add(
            "Brand#", rng.integers(1, 26, npt).astype(str))),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, npt)]),
        "p_size": rng.integers(1, 51, npt).astype("int32"),
        "p_retailprice": np.round(900 + (np.arange(npt) % 1000) / 10, 2)})
    no = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": np.arange(no, dtype="int64"),
        "o_custkey": rng.integers(0, nc, no).astype("int64"),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, no)]),
        "o_totalprice": _money(rng, 1000, 500000, no),
        "o_orderdate": _ts(_US_1995 + rng.integers(0, 2404, no) * _DAY_US),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, no)])})
    nl = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, no, nl).astype("int64"),
        "l_partkey": rng.integers(0, npt, nl).astype("int64"),
        "l_suppkey": rng.integers(0, ns, nl).astype("int64"),
        "l_linenumber": rng.integers(1, 8, nl).astype("int32"),
        "l_quantity": rng.integers(1, 51, nl).astype("float64"),
        "l_extendedprice": _money(rng, 900, 105000, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(_US_1995 + rng.integers(1, 2500, nl) * _DAY_US)})
    ne = n["events"]
    t["events"] = pa.table({
        "event_id": np.arange(ne, dtype="int64"),
        "ts": _ts(np.sort(_US_2024 + rng.integers(0, 30 * _DAY_US, ne))),
        "user_id": rng.integers(0, N_USERS, ne).astype("int64"),
        "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, ne)]),
        "value": np.round(rng.exponential(40.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    lens = rng.integers(5, 90, nd)
    words = np.array(WORDS)
    text = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    t["documents"] = pa.table({
        "doc_id": np.arange(nd, dtype="int64"),
        "text": text,
        "lang": pa.array(np.array(LANGS)[rng.integers(0, 5, nd)]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(s) for s in text], dtype="int64")})
    return t


#: per table, the key columns ``replicate`` shifts and the table whose
#: key range is the shift (``None``: the user-id range)
_OFFSETS = {
    "lineitem": [("l_orderkey", "orders")],
    "orders": [("o_orderkey", "orders"), ("o_custkey", "customer")],
    "customer": [("c_custkey", "customer")],
    "events": [("event_id", "events"), ("user_id", None)],
}


def replicate(base: dict[str, pa.Table], copies: int,
              seed: int) -> dict[str, pa.Table]:
    """The ×``copies`` corpus: key-offset copies of the fact and customer
    tables, each with its own seeded row permutation; small tables are
    carried over once."""
    if copies == 1:
        return base
    rng = np.random.default_rng([seed, copies])
    out = {}
    for name, tbl in base.items():
        if name not in _OFFSETS:
            out[name] = tbl
            continue
        parts = []
        for c in range(copies):
            part = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
            for col, rng_of in _OFFSETS[name]:
                span = base[rng_of].num_rows if rng_of else N_USERS
                shifted = part.column(col).to_numpy() + c * span
                part = part.set_column(part.schema.get_field_index(col), col,
                                       pa.array(shifted, pa.int64()))
            parts.append(part)
        out[name] = pa.concat_tables(parts)
    return out


def corpus(work: str, seed: int, sf: float,
           copies: int = 1) -> tuple[str, float]:
    """Directory of the ×``copies`` replica of the scale-factor-``sf``
    corpus for ``seed`` (built on first use, cached after) and the seconds
    its build took."""
    d = os.path.join(work, "corpus", f"seed{seed}_sf{sf}_x{copies}")
    done = os.path.join(d, "_DONE")
    if os.path.exists(done):
        with open(done) as f:
            return d, float(f.read())
    t0 = time.perf_counter()
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    tables = replicate(base_tables(seed, sf), copies, seed)
    for name, tbl in tables.items():
        out = os.path.join(d, f"{name}.parquet")
        os.makedirs(out)
        step = -(-tbl.num_rows // PARTS)
        for i in range(PARTS):
            pq.write_table(tbl.slice(i * step, step),
                           os.path.join(out, f"part-{i:05d}.parquet"))
    took = time.perf_counter() - t0
    with open(done, "w") as f:
        f.write(repr(took))
    return d, took


def serve_mix() -> list[tuple[str, str, str]]:
    """One (shape, pql, sql) triple for each of the query generator's six
    shape families, in ``SHAPES`` order: the first one its seed sequence
    yields from 0, so every run serves the same queries (a mix drawn per
    seed moved the latency geomean by the cost of the drawn queries, not
    of the engine)."""
    import random

    from realtime_olap_spark.suite import querygen

    picked: dict[str, tuple[str, str]] = {}
    g = 0
    while len(picked) < len(SHAPES):
        # querygen.generate(g) draws its shape first, from Random(g)
        picked.setdefault(random.Random(g).choice(list(SHAPES)),
                          querygen.generate(g))
        g += 1
    return [(s, *picked[s]) for s in SHAPES]


def ingest_rows(seed: int) -> pa.Table:
    """The events row pool the live-ingest generator draws file rows
    from (``event_id`` and ``ts`` are overwritten per file)."""
    rows = base_tables(seed, 0.01)["events"]
    perm = np.random.default_rng([seed, 7]).permutation(rows.num_rows)
    return rows.take(pa.array(perm))
