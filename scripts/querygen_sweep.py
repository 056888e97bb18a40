"""PQL querygen differential sweep — the offline soak harness for
`suite/querygen.generate` (CI runs 150 seeds; blocks of thousands run
here, tallied in COVERAGE.md). Each seed's generated PQL runs through
the full PQLEngine front end at sf0.001 and must match its DuckDB twin
exactly (strictly stronger than the driver's value-hash: exact values,
column-name-sorted, row-order-insensitive). A seed the segment records
answer (``PQLEngine.execute`` with no Spark job) must also get the Spark
path's response, stats aside; the summary line counts those seeds.

Usage: python scripts/querygen_sweep.py [n_seeds] [base_seed]
Defaults: 4000 seeds from base 0. Prints progress every 500 seeds and
one summary line; non-zero exit on any mismatch.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

from realtime_olap_spark.plans.pql import (PQLEngine,  # noqa: E402
                                           _metadata_response,
                                           _spark_response, parse_pql)
from realtime_olap_spark.suite.querygen import generate  # noqa: E402
from realtime_olap_spark.session import get_spark  # noqa: E402
from tests.conftest import (TABLES, response_answer,  # noqa: E402
                            rows_of_duck, rows_of_spark)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    from scripts._argv import parse_int_args
    n, base = parse_int_args(__doc__, [("n_seeds", 4000),
                                       ("base_seed", 0)])
    spark = get_spark("scale-soak")
    spark.sparkContext.setLogLevel("ERROR")
    engine = PQLEngine(spark, SF_DIR)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS "
                    f"SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    fails, answered, t0 = [], 0, time.time()
    for i in range(n):
        seed = base + i
        pql, sql = generate(seed)
        try:
            got = rows_of_spark(engine.dataframe(pql))
            want = rows_of_duck(con, sql)
            if got != want:
                fails.append((seed, pql, f"{len(got)} vs {len(want)} rows",
                              got[:2], want[:2]))
            q = parse_pql(pql)
            src = engine.catalog.table(q.table)
            meta = _metadata_response(q, src, time.perf_counter())
            if meta is not None:
                answered += 1
                full = _spark_response(q, src, time.perf_counter())
                if response_answer(meta) != response_answer(full):
                    fails.append((seed, pql, "metadata answer differs",
                                  response_answer(meta),
                                  response_answer(full)))
        except Exception as exc:  # noqa: BLE001 - sweep must tally, not die
            fails.append((seed, pql, repr(exc)))
        if (i + 1) % 500 == 0:
            print(f"  {i + 1}/{n} seeds, {len(fails)} fails, "
                  f"{time.time() - t0:.0f}s", flush=True)
        if len(fails) >= 5:
            break
    print(f"QUERYGEN SWEEP {'CLEAN' if not fails else 'FAILED'}: "
          f"{n} seeds from {base} in {time.time() - t0:.0f}s, "
          f"{answered} answered by the segment records")
    for f in fails:
        print("  ", f)
    spark.stop()
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
