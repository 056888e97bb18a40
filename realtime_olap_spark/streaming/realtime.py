"""Realtime (streaming) tables and hybrid stitching.

Reference model (SURVEY.md §1.1/§2.10):

- A REALTIME table consumes a stream per partition with offset management,
  building in-memory mutable segments that serve queries while consuming
  (core/realtime/impl/kafka/KafkaPartitionLevelConsumer.java:38,
  core/indexsegment/mutable/MutableSegmentImpl.java:61); segments are
  committed to immutable storage via a controller-coordinated protocol
  (LLRealtimeSegmentDataManager.java:82-127).
- Spark: Structured Streaming owns offsets + checkpoints (the LLC commit
  protocol, exactly-once into a file sink); the parquet files the sink
  commits are the immutable segments; the in-flight micro-batch is the
  consuming segment.
- Optional ``aggregateMetrics`` pre-rollup — sum metrics for identical
  dimension rows at ingest (MutableSegmentImpl.java:88) — is a streaming
  groupBy in update mode.
- A HYBRID table answers queries from OFFLINE ≤ time boundary and REALTIME >
  boundary so overlapping data is read exactly once
  (pinot-broker/.../BaseBrokerRequestHandler.java:376-420,
  docs/architecture.rst:63-76).

Tests drive this with a file source + ``availableNow`` trigger (synchronous
drain); production swaps in ``spark.readStream.format("kafka")`` with the
same downstream graph — the source is the only line that changes.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_olap_spark.catalog import parquet_relation
from realtime_olap_spark.operators.aggregation import DEC

_UNIT_MS = {"MILLISECONDS": 1, "SECONDS": 1000, "MINUTES": 60_000,
            "HOURS": 3_600_000, "DAYS": 86_400_000}


@dataclass
class RealtimeIngest:
    """A realtime table ingest job: stream source → (optional rollup) →
    exactly-once parquet segments.

    ``source`` is any streaming DataFrame (kafka, file, rate); checkpointing
    gives the reference's offset-management + segment-commit semantics for
    free (SegmentCompletionProtocol analog is the sink's commit log).
    """

    spark: SparkSession
    checkpoint_dir: str
    sink_dir: str

    def start_append(self, source: DataFrame, partition_by: tuple[str, ...] = ()):
        """Raw append ingest — every input row becomes a stored row
        (the reference's default, no aggregateMetrics)."""
        w = (source.writeStream.format("parquet")
             .option("checkpointLocation", self.checkpoint_dir)
             .option("path", self.sink_dir)
             .outputMode("append")
             .trigger(availableNow=True))
        if partition_by:
            w = w.partitionBy(*partition_by)
        return w.start()

    def start_rollup(self, source: DataFrame, dims: list[str],
                     metrics: list[str], partition_by: str | None = None):
        """aggregateMetrics ingest-rollup (MutableSegmentImpl.java:88): sum
        metrics for identical dimension rows.

        Scale + correctness design (vs a naive re-aggregate-the-world merge):

        - the sink is PARTITIONED by ``partition_by`` (default: first dim);
          each micro-batch reads back and rewrites ONLY the partitions its
          rows touch — O(batch), not O(total-state), per batch;
        - the merge is a mini transaction keyed by ``batch_id``: stage the
          merged partitions to a side directory, mark the stage complete,
          then swap each partition directory in with atomic renames and
          write a done marker. A replayed batch (crash between sink commit
          and checkpoint commit) either skips (done marker) or re-applies
          the SAME staged result (computed from the pre-batch state), so
          metrics are never double-counted — the Delta-style txn log in
          miniature, giving the reference's segment-commit exactly-once
          (SegmentCompletionProtocol analog);
        - only a genuinely missing sink counts as "first batch"; any other
          read failure (corrupt footer, transient IO) raises instead of
          silently discarding merged state.
        """
        dims = list(dims)
        part_col = partition_by or dims[0]

        def merge(batch: DataFrame, batch_id: int) -> None:
            self._rollup_merge(batch, batch_id, dims, metrics, part_col)

        return (source.writeStream
                .foreachBatch(merge)
                .option("checkpointLocation", self.checkpoint_dir)
                .trigger(availableNow=True)
                .start())

    def _rollup_merge(self, batch: DataFrame, batch_id: int, dims: list[str],
                      metrics: list[str], part_col: str) -> None:
        """One micro-batch's transactional partition-level merge (see
        start_rollup). Exposed for direct testing of replay semantics."""
        sink, spark = self.sink_dir, self.spark
        aggs = [F.sum(F.col(m).cast(DEC)).cast("double").alias(m) for m in metrics]
        txn = sink + ".txn"
        os.makedirs(txn, exist_ok=True)
        done = os.path.join(txn, f"batch-{batch_id}.done")
        staged_root = os.path.join(txn, f"batch-{batch_id}.staged")
        staged_ok = staged_root + ".complete"

        if os.path.exists(done):
            return  # replayed batch, already fully applied

        if not os.path.exists(staged_ok):
            # (Re)compute the stage from the CURRENT sink state — safe on
            # replay because no partition swap happens before staged_ok.
            shutil.rmtree(staged_root, ignore_errors=True)
            part = batch.groupBy(*dims).agg(*aggs)
            touched = [r[0] for r in part.select(part_col).distinct().collect()]
            if not touched:
                open(done, "w").close()
                return
            vals = [v for v in touched if v is not None]
            cond: Column = F.col(part_col).isin(vals)
            if len(vals) < len(touched):  # isin never matches NULL
                cond = cond | F.col(part_col).isNull()
            try:
                existing = spark.read.parquet(sink).where(cond)
                merged = existing.unionByName(part).groupBy(*dims).agg(*aggs)
            except AnalysisException as ex:
                if "PATH_NOT_FOUND" not in str(ex):
                    raise  # only a missing sink means "first batch"
                merged = part
            merged.write.mode("overwrite").partitionBy(part_col).parquet(staged_root)
            open(staged_ok, "w").close()

        # Apply: per-partition atomic renames. Re-entrant after a crash —
        # already-applied staged dirs are gone, the rest still swap in.
        os.makedirs(sink, exist_ok=True)
        # Sweep '._old-*' leftovers from a crash between the rename and its
        # rmtree: hidden from readers, but the replay path only removes the
        # dirs it swaps THIS run, so without the sweep they leak forever.
        for d in os.listdir(sink):
            if d.startswith("._old-"):
                shutil.rmtree(os.path.join(sink, d), ignore_errors=True)
        for d in os.listdir(staged_root):
            if not d.startswith(f"{part_col}="):
                continue
            src_dir = os.path.join(staged_root, d)
            dst_dir = os.path.join(sink, d)
            # hidden name ('.'-prefixed) so readers never see the old copy
            old = os.path.join(sink, f"._old-{batch_id}-{d}")
            if os.path.exists(dst_dir):
                os.rename(dst_dir, old)
            os.rename(src_dir, dst_dir)
            shutil.rmtree(old, ignore_errors=True)
        open(done, "w").close()
        shutil.rmtree(staged_root, ignore_errors=True)
        if os.path.exists(staged_ok):
            os.remove(staged_ok)


def kafka_source_options(bootstrap_servers: str, topic: str,
                         starting_offsets: str = "earliest",
                         max_offsets_per_trigger: int | None = None,
                         fail_on_data_loss: bool = True) -> dict[str, str]:
    """Options for ``spark.readStream.format("kafka")`` — the LLC consumer
    config surface (KafkaPartitionLevelConsumer.java:38 /
    LLRealtimeSegmentDataManager.java:81): per-partition consumption with
    offset management is what the Kafka source + checkpoint already do;
    ``maxOffsetsPerTrigger`` bounds a micro-batch like the reference's
    segment-size thresholds bound a consuming segment."""
    opts = {"kafka.bootstrap.servers": bootstrap_servers,
            "subscribe": topic,
            "startingOffsets": starting_offsets,
            "failOnDataLoss": str(fail_on_data_loss).lower()}
    if max_offsets_per_trigger is not None:
        opts["maxOffsetsPerTrigger"] = str(max_offsets_per_trigger)
    return opts


def read_kafka_stream(spark: SparkSession, bootstrap_servers: str,
                      topic: str, **kwargs) -> DataFrame:
    """The realtime source: ``readStream.format("kafka")`` with the LLC
    option surface; compose with ``decode_json_stream`` /
    ``decode_avro_stream`` and ``RealtimeIngest``. Needs the
    spark-sql-kafka package (absent in this sandbox) — gated with a clear
    error; every downstream stage is exercised by the file-source tests
    (the source is the only line that changes)."""
    try:
        return (spark.readStream.format("kafka")
                .options(**kafka_source_options(bootstrap_servers, topic,
                                                **kwargs))
                .load())
    except Exception as exc:
        raise NotImplementedError(
            "kafka source needs the org.apache.spark:spark-sql-kafka "
            "package on the classpath (spark.jars.packages); not bundled "
            "here") from exc


def decode_json_stream(source: DataFrame, schema: str,
                       value_col: str = "value") -> DataFrame:
    """Stream-decode seam — the KafkaJSONMessageDecoder analog
    (pinot-core/.../realtime/impl/kafka/KafkaJSONMessageDecoder.java:35).

    Kafka (and most message buses) deliver opaque key/value byte columns;
    this parses the value payload into typed columns with ``from_json`` so
    the downstream ingest graph (append / rollup) is source-agnostic:
    swapping the file/test source for
    ``spark.readStream.format("kafka")...`` is a one-line config change,
    not a code change (the decode and everything after it stay identical).

    ``schema`` is a DDL string (the reference's table schema →
    ``Schema.fromFile`` analog); malformed records yield NULL columns
    (PERMISSIVE), matching the decoder's skip-on-error behavior.
    """
    parsed = source.select(
        F.from_json(F.col(value_col).cast("string"), schema).alias("__rec"))
    return parsed.select("__rec.*")


def decode_avro_stream(source: DataFrame, avro_schema_json: str,
                       value_col: str = "value") -> DataFrame:
    """Avro stream-decode seam — the SimpleAvroMessageDecoder /
    KafkaAvroMessageDecoder analog (pinot-core/.../realtime/impl/kafka/
    KafkaAvroMessageDecoder.java:43): parse binary Avro value payloads into
    typed columns with ``from_avro``.

    Prefers the JVM ``from_avro`` (org.apache.spark:spark-avro package);
    when the jar is absent falls back to the pure-Python single-datum
    decoder in ``sources.avro_codec`` via ``mapInPandas`` (works on
    streaming DataFrames too — micro-batches decode Arrow-batched). The
    payload is a RAW Avro datum, no container framing — exactly the Kafka
    message-body shape the reference's decoder consumes.
    """
    try:
        from pyspark.sql.avro.functions import from_avro
        parsed = source.select(
            from_avro(F.col(value_col), avro_schema_json).alias("__rec"))
        return parsed.select("__rec.*")
    except Exception:  # jar absent → pure-Python decode path
        import pandas as pd

        from realtime_olap_spark.sources import avro_codec as A

        out_schema = A.avro_to_spark_schema(avro_schema_json)
        names = [f.name for f in out_schema.fields]

        def decode(batches):
            for pdf in batches:
                rows = [A.decode_datum(avro_schema_json, bytes(v))
                        for v in pdf[value_col]]
                yield pd.DataFrame(
                    {n: [r.get(n) for r in rows] for n in names},
                    columns=names)

        return source.select(value_col).mapInPandas(decode, schema=out_schema)


def realtime_segments_table(spark: SparkSession, name: str,
                            sink_dir: str,
                            schema: str | None = None) -> DataFrame:
    """Expose a realtime sink directory as the LIVE table ``name``: a
    session temp view over ``spark.read.parquet(sink_dir)``.

    Once the sink has committed a batch, Spark reads it through the
    sink's commit log (``_spark_metadata``, its MetadataLogFileIndex), so
    the view lists exactly the committed segments, never a file of an
    in-flight or failed batch. The listing is fixed when the view is
    made: :func:`refresh_segments` after each segment commit re-reads the
    sink — the broker's routing-table update on segment commit
    (BaseBrokerRequestHandler routing refresh). A second call re-points
    ``name`` at ``sink_dir``. ``schema`` (DDL string) is required while
    the sink may still be empty; a missing sink directory is created.
    ``name`` must be a plain identifier."""
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
        raise ValueError(f"invalid table name: {name!r}")
    path = spark._jvm.org.apache.hadoop.fs.Path(sink_dir)
    path.getFileSystem(spark._jsc.hadoopConfiguration()).mkdirs(path)
    reader = spark.read.schema(schema) if schema else spark.read
    reader.parquet(sink_dir).createOrReplaceTempView(name)
    return spark.table(name)


def refresh_segments(spark: SparkSession, name: str) -> None:
    """Make the segments committed since the live table ``name``
    (:func:`realtime_segments_table`) was last read visible to the next
    query: re-register the view from a fresh read of its sink, whose
    path and schema come from the view itself. The sink is re-read, not
    the view's file index refreshed: a view made before the sink's first
    commit lists the directory, and a refreshed listing would include
    uncommitted files."""
    view = spark.table(name)
    rel = parquet_relation(view)
    roots = rel.relation().location().rootPaths() if rel is not None else None
    if roots is None or roots.size() != 1:
        raise ValueError(f"{name!r} is not a live segments table")
    (spark.read.schema(view.schema).parquet(roots.head().toString())
     .createOrReplaceTempView(name))


def time_boundary(offline: DataFrame, time_col: str,
                  granularity: str = "DAYS"):
    """The hybrid time boundary: max offline time minus one granularity unit
    (BaseBrokerRequestHandler.java:376-420 — offline data at the boundary
    bucket may be incomplete, so the last unit is served by realtime)."""
    row = offline.agg(F.max(time_col).alias("mx")).collect()[0]
    mx = row["mx"]
    if mx is None:
        return None
    unit_ms = _UNIT_MS[granularity.upper()]
    if hasattr(mx, "timestamp"):  # timestamp column
        from datetime import timedelta
        return mx - timedelta(milliseconds=unit_ms)
    return mx - unit_ms  # numeric epoch column


def hybrid_table(offline: DataFrame, realtime: DataFrame, time_col: str,
                 boundary=None, granularity: str = "DAYS") -> DataFrame:
    """The hybrid view: offline rows at/below the boundary, realtime rows
    above it — a unionByName, never a join (SURVEY.md §2.3). Both sides keep
    their partition pruning: the time filter lands on each scan."""
    if boundary is None:
        boundary = time_boundary(offline, time_col, granularity)
    if boundary is None:
        return realtime
    cols = offline.columns
    return (offline.where(F.col(time_col) <= F.lit(boundary))
            .unionByName(realtime.where(F.col(time_col) > F.lit(boundary))
                         .select(*cols)))


def windowed_rollup(source: DataFrame, time_col: str, dims: list[str],
                    metrics: list[str], window_duration: str = "1 hour",
                    watermark_delay: str = "10 minutes") -> DataFrame:
    """Event-time tumbling-window rollup with a watermark — the late-data
    policy the reference lacks entirely (SURVEY.md §2.10: rows are appended
    as they arrive; 'window' queries are just time filters).

    Streaming semantics: state per (window, dims) is dropped once the
    watermark passes the window end, so rows later than ``watermark_delay``
    are discarded instead of growing state forever — the knob that keeps a
    100 TB/day stream's state bounded. Works identically on a batch
    DataFrame (no watermark applied) for differential testing.
    """
    out = source
    if source.isStreaming:
        out = out.withWatermark(time_col, watermark_delay)
    aggs = [F.sum(F.col(m).cast(DEC)).cast("double").alias(m) for m in metrics]
    return (out.groupBy(F.window(F.col(time_col), window_duration).alias("win"),
                        *dims)
            .agg(*aggs)
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"), *dims, *metrics))
