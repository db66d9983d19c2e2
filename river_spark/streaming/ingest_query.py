"""The reference ingester re-expressed as Structured Streaming queries.

Mapping (SURVEY.md §7 Phase 4, reference cpp/ingester/src/):
- per-stream ETL loop (ingester.cpp:213-422)  → ``readStream.format("river")
  → writeStream.format("parquet")``;
- resume-from-last-file (ingester.cpp:649-711) → the streaming checkpoint
  (strictly stronger: exactly-once via offset log + file-sink manifest);
- temp-file+rename commit (ingester.cpp:395-401) → file-sink commit
  protocol (_spark_metadata);
- 1 s driver cadence (ingester_main.cpp:96-99)  → processingTime trigger;
- row-group sizing (ingester_settings.h:20)     → maxRecordsPerFile;
- Parquet dictionary rule (ingest/parquet.py)   → per-column
  ``parquet.enable.dictionary#<column>`` settings when the query starts,
  decided from the stream's first samples;
- column pruning (A18)                          → ``select`` projection from
  the same settings object (Catalyst prunes the scan);
- retention (A16)                               → source ``commit()`` with
  retention=true (keyed off committed offsets, not wall clock);
- multi-stream orchestration (A12)              → one streaming query per
  matched stream; the Spark scheduler replaces the 4-thread pool.

At 100 TB the parquet sink partitions by ingest date under
``out/{stream}/date=.../`` and compaction is size-tiered — the
single-file ``data.parquet`` combine (A15) is a laptop-scale behavior we
reproduce only in the batch ingester.
"""

from __future__ import annotations

import contextlib
import os
import threading

import pyarrow as pa
from pyspark.sql import SparkSession

from river_spark.ingest.ingester import arrow_batch, arrow_schema, write_output_metadata
from river_spark.ingest.parquet import SAMPLE_ROWS, plain_columns
from river_spark.ingest.settings import IngesterSettings, StreamIngestionSettings
from river_spark.schema import StreamSchema
from river_spark.sources import register
from river_spark.transport.log import is_reserved_stream, locator_option, open_log_root
from river_spark.transport.reader import StreamReader


def ingest_stream_continuous(
    spark: SparkSession,
    log_root: str,
    stream: str,
    out_root: str,
    settings: StreamIngestionSettings | None = None,
    trigger: dict | None = None,
    partition_by_date: bool = False,
):
    """Start one streaming ingestion query for ``stream``; returns the
    StreamingQuery. ``log_root`` is a file root or ``redis://host:port`` —
    the latter is the reference's production deployment shape (ingester
    daemon draining a live Redis server to Parquet,
    cpp/ingester/src/ingester_main.cpp). Default trigger is availableNow
    (drain + stop), matching an ingester run to EOF; pass
    ``{"processingTime": "1 second"}`` for the daemon cadence."""
    register(spark)
    settings = settings or StreamIngestionSettings()
    log = open_log_root(log_root)
    meta = log.read_metadata(stream)
    if meta is None:
        raise ValueError(f"stream {stream!r} not found at {log_root}")
    schema = StreamSchema.from_json(meta["schema"])
    fields = settings.filter_fields(schema.field_names())
    cols = ["sample_index", "key", "timestamp_ms"] + fields

    kind, value = locator_option(log_root)
    df = (
        spark.readStream.format("river")
        .option(kind, value)
        .option("stream", stream)
        .option("maxSamplesPerTrigger", str(settings.samples_per_read * 1024))
        .option("retention", "true")
        .load()
        .select(*cols)
    )
    if partition_by_date:
        # 100 TB layout: out/{stream}/date=YYYY-MM-DD/... — date derived
        # from the sample key's ms prefix; enables partition pruning on
        # time-ranged reads and size-tiered per-day compaction.
        from pyspark.sql import functions as F

        df = df.withColumn("date", F.to_date(F.timestamp_millis(F.col("timestamp_ms"))))
    out_dir = os.path.join(out_root, stream)
    rows_per_file = max(settings.bytes_per_row_group // max(schema.sample_size(), 1), 1)
    writer = (
        df.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", os.path.join(out_dir, "_checkpoint"))
        .option("maxRecordsPerFile", str(rows_per_file))
        .outputMode("append")
    )
    if partition_by_date:
        writer = writer.partitionBy("date")
    trigger = trigger or {"availableNow": True}
    writer = writer.trigger(**trigger)
    with _parquet_dictionary_rule(spark, _stream_head(log, stream, schema, fields)):
        return writer.start()


def _stream_head(log, stream: str, schema: StreamSchema, fields: list[str]) -> pa.Table:
    """The first ``SAMPLE_ROWS`` samples of ``stream`` (fewer if fewer are
    there, none waited for) as the rows the ingester writes."""
    res = StreamReader(log).initialize(stream).read(SAMPLE_ROWS, timeout_ms=0)
    if res.count <= 0:
        return arrow_schema(schema, fields).empty_table()
    batch = arrow_batch(schema, res.samples, res.sizes, res.indices, res.key_runs, fields)
    return pa.Table.from_batches([batch])


# serializes _parquet_dictionary_rule's save, start and restore of the
# shared session's settings across threads
_SESSION_CONF_LOCK = threading.Lock()


@contextlib.contextmanager
def _parquet_dictionary_rule(spark: SparkSession, head: pa.Table):
    """Spark's Parquet writer under the dictionary rule of
    ``ingest/parquet.py``, decided from ``head``, the stream's first
    samples (the rest is not known when the query starts; a column whose
    values first repeat further on is written plain): a session setting
    ``parquet.enable.dictionary#<column>=false`` per column the rule
    excludes, for the block only. Spark copies session settings into the
    Hadoop configuration of a file sink when the sink is created, which for
    a streaming query is at ``start()``. The block holds a module lock, so
    queries started from several threads do not interleave their settings;
    a Parquet write the session runs on another thread during the block
    still sees them. Without them a task's writer holds a dictionary of
    every distinct value of such a column until the writer falls back to
    plain encoding: tens of MB of JVM heap per task, which outlive young
    collections and are promoted."""
    keys = [f"parquet.enable.dictionary#{name}" for name in sorted(plain_columns(head))]
    with _SESSION_CONF_LOCK:
        saved = {k: spark.conf.get(k, None) for k in keys}
        for k in keys:
            spark.conf.set(k, "false")
        try:
            yield
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


def ingest_streams(
    spark: SparkSession,
    log_root: str,
    out_root: str,
    settings: IngesterSettings | None = None,
    await_termination: bool = True,
):
    """A12 orchestration: regex-route every stream in the catalog to its
    settings and run one availableNow query per match. On termination each
    stream's ``metadata.json`` is emitted beside the data (A13 parity,
    cpp/ingester/src/ingester.cpp:766-793)."""
    settings = settings or IngesterSettings.catch_all()
    log = open_log_root(log_root)
    queries = {}
    for name in log.list_streams():
        if is_reserved_stream(name):
            continue  # never ingest an in-flight sink staging stream
        s = settings.settings_for(name)
        if s is None:
            continue
        queries[name] = ingest_stream_continuous(spark, log_root, name, out_root, s)
    if await_termination:
        for name, q in queries.items():
            q.awaitTermination()
            write_output_metadata(
                log, name, os.path.join(out_root, name), settings.settings_for(name)
            )
    return queries
