"""Randomized differential testing: generated PQL vs DuckDB SQL
(BaseClusterIntegrationTestSet.java:227-242 testGeneratedQueries analog).
A seed the segment records answer must also get the Spark path's
``execute`` response, stats aside."""

from __future__ import annotations

import time

import pytest

from realtime_olap_spark.plans.pql import (PQLEngine, _metadata_response,
                                           _spark_response, parse_pql)
from realtime_olap_spark.suite.querygen import generate
from tests.conftest import SF_DIR, assert_matches_oracle, response_answer

SEEDS = list(range(150))


@pytest.mark.parametrize("seed", SEEDS)
def test_generated_query_matches_oracle(spark, duck, seed):
    pql, sql = generate(seed)
    eng = PQLEngine(spark, SF_DIR)
    df = eng.dataframe(pql)
    con = duck(SF_DIR)
    assert_matches_oracle(df, con, sql, name=f"seed {seed}: {pql}")
    q = parse_pql(pql)
    src = eng.catalog.table(q.table)
    meta = _metadata_response(q, src, time.perf_counter())
    if meta is not None:
        assert response_answer(meta) == response_answer(
            _spark_response(q, src, time.perf_counter())), pql
