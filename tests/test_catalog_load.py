"""Catalog table loads read the table's parquet footer and hand Spark an
explicit schema: the exposed schema equals what Spark's own inference
gives, and an unstaged load starts no Spark job (a bare
``spark.read.parquet`` runs schema-inference jobs on every new
SparkContext)."""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import TABLES, Catalog
from tests.conftest import SF_DIR, SF_DIR_ORACLE
from tests.conftest import jobs_in_group as _jobs_in_group

CORPORA = [SF_DIR, SF_DIR_ORACLE, "two_part"]


def _two_part_corpus(dst: str) -> str:
    """sf0.001 rewritten as a directory of two part files per table, the
    layout the benchmark corpora use (multi-file: never staged)."""
    for name in TABLES:
        tbl = pq.read_table(os.path.join(SF_DIR, f"{name}.parquet"))
        out = os.path.join(dst, f"{name}.parquet")
        os.makedirs(out)
        step = -(-tbl.num_rows // 2)
        for i in range(2):
            pq.write_table(tbl.slice(i * step, step),
                           os.path.join(out, f"part-{i:05d}.parquet"))
    return dst


def _inferred(spark, path: str, name: str):
    """The table as Spark's schema inference reads it, with the catalog's
    events normalization (µs encoding) applied on top."""
    df = spark.read.parquet(path)
    if name == "events":
        order = ["ts_ns" if n == "ts" else n for n in df.columns]
        df = (df.withColumn("ts", F.col("ts").cast("timestamp"))
                .withColumn("ts_ns", (F.unix_micros(F.col("ts"))
                                      * F.lit(1000)).cast("long"))
                .select(*order, "ts"))
    return df


@pytest.fixture(scope="module")
def two_part(tmp_path_factory):
    return _two_part_corpus(str(tmp_path_factory.mktemp("two_part")))


@pytest.mark.parametrize("corpus", CORPORA)
def test_table_schema_equals_inferred(spark, two_part, corpus):
    sf_dir = two_part if corpus == "two_part" else corpus
    cat = Catalog(spark, sf_dir)
    for name in TABLES:
        want = _inferred(spark, os.path.join(sf_dir, f"{name}.parquet"), name)
        assert cat.table(name).schema == want.schema, name


@pytest.mark.parametrize("odd", [
    pa.array([1, 2], pa.uint32()),        # no arrow -> Spark mapping
    pa.array([1, 2], pa.duration("us")),  # mapped, but Spark reads INT64
])
def test_unmappable_footer_keeps_inference(spark, tmp_path, odd):
    import datetime as dt

    path = f"{tmp_path}/orders.parquet"
    pq.write_table(pa.table({
        "o_orderkey": odd,
        "o_orderdate": pa.array([dt.datetime(2024, 6, 1)] * 2,
                                pa.timestamp("us")),
    }), path)
    orders = Catalog(spark, str(tmp_path)).table("orders")
    assert orders.schema == spark.read.parquet(path).schema
    assert sorted(r[0] for r in orders.collect()) == [1, 2]


@pytest.mark.parametrize("nested", [
    pa.array([[1, 2], [3]], pa.list_(pa.timestamp("ns"))),
    pa.array([{"a": 1}, {"a": 2}], pa.struct([("a", pa.timestamp("ns"))])),
])
def test_nested_nanos_timestamp_is_rejected_at_load(spark, tmp_path, nested):
    """Only top-level TIMESTAMP(NANOS) columns are re-derived; a nested
    one keeps Spark's inference, which rejects the table when it is
    loaded instead of at its first query."""
    import datetime as dt

    path = f"{tmp_path}/orders.parquet"
    pq.write_table(pa.table({
        "o_orderkey": pa.array([1, 2], pa.int64()),
        "o_orderdate": pa.array([dt.datetime(2024, 6, 1)] * 2,
                                pa.timestamp("us")),
        "o_nested": nested,
    }), path)
    with pytest.raises(Exception, match="PARQUET_TYPE_ILLEGAL"):
        Catalog(spark, str(tmp_path)).table("orders")


def test_unstaged_table_load_starts_no_job(spark, tmp_path):
    sc = spark.sparkContext
    cat = Catalog(spark, _two_part_corpus(str(tmp_path)))
    group = f"load-{uuid.uuid4().hex[:8]}"
    try:
        sc.setJobGroup(group, group)
        for name in TABLES:
            cat.table(name)
        assert _jobs_in_group(sc, group) == 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_staged_table_load_runs_only_the_staging_write(spark, tmp_path,
                                                       monkeypatch):
    """A single-file table is staged into session segments; the only jobs
    of its load are the staging write's — the staged directory is read
    back with the schema it was written with."""
    sc = spark.sparkContext
    assert sc.defaultParallelism > 1  # staging needs a multi-core session
    for name in ("orders", "events"):
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path)
    group = f"load-{uuid.uuid4().hex[:8]}"
    stage_group = f"stage-{uuid.uuid4().hex[:8]}"
    staged_path = Catalog._staged_path

    def staged_in_own_group(self, name, df):
        sc.setJobGroup(stage_group, stage_group)
        try:
            return staged_path(self, name, df)
        finally:
            sc.setJobGroup(group, group)

    monkeypatch.setattr(Catalog, "_staged_path", staged_in_own_group)
    cat = Catalog(spark, str(tmp_path))
    try:
        sc.setJobGroup(group, group)
        for name in ("orders", "events"):
            cat.table(name)
        assert _jobs_in_group(sc, group) == 0
        assert _jobs_in_group(sc, stage_group) > 0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_staging_clusters_only_on_columns_the_file_has(spark, tmp_path):
    """``orders`` declares ``o_orderdate`` as its time column; a file
    without it is staged on the columns it has and loads with its rows."""
    pq.write_table(pa.table({
        "o_orderkey": pa.array([3, 1, 2], pa.int64()),
        "o_totalprice": pa.array([1.5, 2.5, 3.5]),
    }), f"{tmp_path}/orders.parquet")
    cat = Catalog(spark, str(tmp_path))
    assert cat._should_stage(f"{tmp_path}/orders.parquet")
    orders = cat.table("orders")
    assert "rtolap_segments" in orders.inputFiles()[0]  # the staged copy
    assert sorted(r["o_orderkey"] for r in orders.collect()) == [1, 2, 3]
