"""Segment sink + virtual columns (SURVEY.md §2.1, §1.3).

Reference segment build (SegmentIndexCreationDriverImpl.java:75,
SegmentColumnarIndexCreator.java:71) produces per-column dictionary,
forward index (optionally sorted), inverted bitmap index, and bloom filter.
Spark-first equivalents, all write-time layout decisions:

- dictionary encoding: Parquet does per-column-chunk dictionaries natively;
- sorted forward index → ``sortWithinPartitions(sorted_column)`` so every
  row group carries tight min/max stats on that column — a predicate on it
  skips row groups exactly like the reference's sorted-index binary search
  (SortedInvertedIndexBasedFilterOperator.java:33);
- bitmap inverted index / bloom filter → Parquet column bloom filters
  (``parquet.bloom.filter.enabled#col``), used by the scan for point
  predicates (BloomFilterReader.java:33 analog);
- time-partitioned layout → ``partitionBy(bucket)`` for partition pruning,
  the SegmentPrunerService analog (§4.2).

At 100 TB: one segment ≈ one parquet file of a time partition;
``files_per_partition`` bounds file counts (small-file problem) while
keeping files ≤ a few hundred MB so a task's scan fits executor memory.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import TableConfig

_BUCKET_EXPR = {
    "DAYS": lambda c: F.date_format(c, "yyyy-MM-dd"),
    "HOURS": lambda c: F.date_format(c, "yyyy-MM-dd-HH"),
    "MILLISECONDS": lambda c: F.date_format(c, "yyyy-MM-dd"),
    "SECONDS": lambda c: F.date_format(c, "yyyy-MM-dd"),
}


@dataclass(frozen=True)
class SegmentWriter:
    """Writes a table's segments: time-partitioned, sorted-within-partition,
    bloom-filtered parquet."""

    config: TableConfig
    bloom_columns: tuple[str, ...] = ()
    files_per_partition: int = 1
    partition_column: str | None = None  # defaults to a bucket of the time col

    def write(self, df: DataFrame, path: str, mode: str = "overwrite") -> None:
        part_col = self.partition_column
        if part_col is None and self.config.time_column:
            t = self.config.time_column
            dtype = df.schema[t].dataType.simpleString()
            part_col = f"__{t}_bucket"
            bucket = (_BUCKET_EXPR.get(self.config.time_unit, _BUCKET_EXPR["DAYS"])
                      (F.col(t)) if dtype in ("timestamp", "date")
                      else F.col(t).cast("long"))
            df = df.withColumn(part_col, bucket)

        if part_col is not None:
            # co-locate each partition's rows into files_per_partition files
            df = df.repartition(self.files_per_partition, F.col(part_col))
        if self.config.sorted_column:
            df = df.sortWithinPartitions(self.config.sorted_column)

        writer = df.write.mode(mode)
        for col in self.bloom_columns:
            writer = (writer.option(f"parquet.bloom.filter.enabled#{col}", "true")
                            .option(f"parquet.bloom.filter.expected.ndv#{col}",
                                    "100000"))
        if part_col is not None:
            writer = writer.partitionBy(part_col)
        writer.parquet(path)


def write_bucketed(df: DataFrame, table: str, path: str,
                   bucket_cols: list[str], num_buckets: int,
                   sort_cols: list[str] | None = None,
                   mode: str = "overwrite") -> None:
    """Hash-bucketed segment layout for CO-LOCATED joins — the Spark twin
    of the reference's partition-aware segment assignment
    (SegmentPartitionConfig / partition-based segment pruning, §4.2): rows
    are hash-assigned to ``num_buckets`` files per the bucket columns AT
    WRITE TIME, so an equi-join (or aggregation) on those columns between
    two tables bucketed the same way runs WITHOUT ANY Exchange — the 100 TB
    fact⋈fact strategy where a runtime shuffle of either side would
    dominate the job (plan-asserted shuffle-free in
    ``tests/test_ingest.py``).

    Registers ``table`` in the session catalog (bucket metadata lives
    there; plain parquet paths can't carry it) with data at ``path``.
    """
    w = df.write.mode(mode).option("path", path) \
        .bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table)


def with_virtual_columns(df: DataFrame) -> DataFrame:
    """Reference virtual columns (§1.3): ``$docId`` (per-segment doc id),
    ``$segmentName``, ``$hostName``
    (core/segment/virtualcolumn/DocIdVirtualColumnProvider.java:40).

    Spark mapping: segment = input file, so $segmentName =
    ``input_file_name()``; $docId = ``monotonically_increasing_id()``
    (unique per row, ordered within a partition — a documented deviation:
    globally unique instead of restarting per segment); $hostName is the
    executor's task location, surfaced here as the Spark application id
    since rows are location-transparent in Spark."""
    return (df.withColumn("$docId", F.monotonically_increasing_id())
              .withColumn("$segmentName", F.input_file_name())
              .withColumn("$hostName", F.lit("spark")))
