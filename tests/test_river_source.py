"""Spark DataSource tests: batch read, streaming read (availableNow),
streaming ingestion pipeline, batch write sink, retention on commit."""

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from river_spark.schema import FieldDefinition, FieldType, StreamSchema
from river_spark.sources import register
from river_spark.streaming import ingest_stream_continuous
from river_spark.transport import StreamLog, StreamWriter


@pytest.fixture
def store(tmp_path):
    return str(tmp_path / "store")


def _write_stream(store, name="s", n=500, batch_size=64, entries_per_segment=1 << 24, stop=True):
    log = StreamLog(store)
    schema = StreamSchema(
        [FieldDefinition("a", FieldType.INT64), FieldDefinition("b", FieldType.DOUBLE)]
    )
    w = StreamWriter(log, batch_size=batch_size, entries_per_segment=entries_per_segment)
    w.initialize(name, schema)
    arr = np.zeros(n, dtype=schema.dtype())
    arr["a"] = np.arange(n)
    arr["b"] = np.arange(n) * 0.25
    w.write(arr)
    if stop:
        w.stop()
    return log


def test_batch_read(spark, store):
    _write_stream(store, "bat", n=500)
    register(spark)
    df = (
        spark.read.format("river")
        .option("path", store)
        .option("stream", "bat")
        .load()
    )
    assert df.columns == ["sample_index", "key", "timestamp_ms", "a", "b"]
    assert df.count() == 500
    row = df.orderBy("sample_index").limit(1).collect()[0]
    assert row.sample_index == 0 and row.a == 0
    agg = df.agg(F.sum("a").alias("sa"), F.max("b").alias("mb")).collect()[0]
    assert agg.sa == 500 * 499 // 2
    assert agg.mb == 499 * 0.25
    # sample_index is dense 0..n-1
    assert df.select("sample_index").distinct().count() == 500


def test_batch_read_segmented(spark, store):
    _write_stream(store, "seg", n=300, batch_size=32, entries_per_segment=100)
    register(spark)
    df = spark.read.format("river").option("path", store).option("stream", "seg").load()
    assert df.count() == 300
    idx = [r.sample_index for r in df.select("sample_index").orderBy("sample_index").collect()]
    assert idx == list(range(300))


def test_streaming_read_available_now(spark, store, tmp_path):
    _write_stream(store, "st", n=400, batch_size=50)
    register(spark)
    out = str(tmp_path / "out_parquet")
    q = (
        spark.readStream.format("river")
        .option("path", store)
        .option("stream", "st")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    df = spark.read.parquet(out)
    assert df.count() == 400
    assert df.agg(F.min("sample_index"), F.max("sample_index")).collect()[0] == (0, 399)


def test_streaming_resume_from_checkpoint(spark, store, tmp_path):
    log = _write_stream(store, "res", n=200, batch_size=32, stop=False)
    register(spark)
    out = str(tmp_path / "o")
    ckpt = str(tmp_path / "c")

    def run():
        q = (
            spark.readStream.format("river")
            .option("path", store)
            .option("stream", "res")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 200
    # append more samples, rerun from the same checkpoint: no dupes, no gaps
    schema = StreamSchema(
        [FieldDefinition("a", FieldType.INT64), FieldDefinition("b", FieldType.DOUBLE)]
    )
    w = StreamWriter(log, batch_size=32)
    w.stream_name, w.schema, w.total_samples_written = "res", schema, 200
    arr = np.zeros(100, dtype=schema.dtype())
    arr["a"] = np.arange(200, 300)
    w.write(arr)
    run()
    df = spark.read.parquet(out)
    assert df.count() == 300
    assert df.select("sample_index").distinct().count() == 300


def test_streaming_ingest_pipeline(spark, store, tmp_path):
    """Phase 4: readStream(river) → parquet with pruning + system columns."""
    _write_stream(store, "pipe", n=250, batch_size=40)
    from river_spark.ingest.settings import StreamIngestionSettings

    q = ingest_stream_continuous(
        spark,
        store,
        "pipe",
        str(tmp_path / "ingested"),
        StreamIngestionSettings(columns_whitelist=["a"]),
    )
    q.awaitTermination(120)
    df = spark.read.parquet(str(tmp_path / "ingested" / "pipe"))
    assert sorted(df.columns) == ["a", "key", "sample_index", "timestamp_ms"]  # b pruned
    assert df.count() == 250


def test_retention_on_commit(spark, store, tmp_path):
    """Retention is delete-BEHIND: commit(N) fires as batch N+1 is planned,
    so trimming happens while the stream keeps flowing (A16 semantics)."""
    import time

    log = _write_stream(store, "ret", n=100, batch_size=25, entries_per_segment=100, stop=False)
    schema = StreamSchema(
        [FieldDefinition("a", FieldType.INT64), FieldDefinition("b", FieldType.DOUBLE)]
    )
    register(spark)
    q = (
        spark.readStream.format("river")
        .option("path", store)
        .option("stream", "ret")
        .option("retention", "true")
        .load()
        .writeStream.format("parquet")
        .option("path", str(tmp_path / "o"))
        .option("checkpointLocation", str(tmp_path / "c"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    # live producer keeps appending; consumed segments should vanish behind it
    w = StreamWriter(log, batch_size=25, entries_per_segment=100)
    w.stream_name, w.schema, w.total_samples_written = "ret", schema, 100
    deadline = time.monotonic() + 120
    written = 100
    while time.monotonic() < deadline:
        arr = np.zeros(50, dtype=schema.dtype())
        arr["a"] = np.arange(written, written + 50)
        w.write(arr)
        written += 50
        time.sleep(0.4)
        if 0 not in log.list_segments("ret"):
            break
    q.stop()
    segs = log.list_segments("ret")
    assert 0 not in segs, f"segment 0 never trimmed (segments: {segs})"
    assert log.read_metadata("ret")["first_segment"] > 0
    # everything that was committed made it to parquet, no dupes
    df = spark.read.parquet(str(tmp_path / "o"))
    assert df.select("sample_index").distinct().count() == df.count()


def test_batch_write_sink(spark, store):
    register(spark)
    df = spark.range(0, 1000).select(
        F.col("id").alias("a"), (F.col("id") * 0.5).alias("b")
    )
    df.repartition(4).write.format("river").option("path", store).option(
        "stream", "sunk"
    ).mode("append").save()
    back = spark.read.format("river").option("path", store).option("stream", "sunk").load()
    assert back.count() == 1000
    # contiguous index despite 4 writer partitions
    assert back.select("sample_index").distinct().count() == 1000
    assert back.agg(F.min("sample_index"), F.max("sample_index")).collect()[0] == (0, 999)
    assert back.agg(F.sum("a")).collect()[0][0] == 1000 * 999 // 2


def test_streaming_river_sink_roundtrip(spark, store, tmp_path):
    """river → river streaming copy; checkpoint rerun must not duplicate."""
    _write_stream(store, "src", n=600, batch_size=64)
    register(spark)

    def run():
        q = (
            spark.readStream.format("river")
            .option("path", store)
            .option("stream", "src")
            .load()
            .select("a", "b")
            .writeStream.format("river")
            .option("path", store)
            .option("stream", "copy")
            .option("checkpointLocation", str(tmp_path / "sink_ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    back = spark.read.format("river").option("path", store).option("stream", "copy").load()
    assert back.count() == 600
    assert back.select("sample_index").distinct().count() == 600
    assert back.agg(F.sum("a")).collect()[0][0] == 600 * 599 // 2
    # re-run from the same checkpoint: no new data, no duplicates
    run()
    assert spark.read.format("river").option("path", store).option("stream", "copy").load().count() == 600


def test_sink_abort_leaves_stream_unchanged(spark, store):
    """A failing write job must not corrupt the stream: staged files are
    aborted, nothing is appended."""
    _write_stream(store, "atomic", n=100)
    register(spark)
    from pyspark.sql import functions as F2

    @F2.udf("long")
    def boom(x):
        if x == 7:
            raise RuntimeError("injected failure")
        return x

    df = spark.range(0, 16, 1, 4).select(boom(F2.col("id")).alias("a"), (F2.col("id") * 1.0).alias("b"))
    with pytest.raises(Exception):
        df.write.format("river").option("path", store).option("stream", "atomic_new").mode("append").save()
    # stream never came into existence (no partial metadata/batches)
    log = StreamLog(store)
    assert "atomic_new" not in log.list_streams()
    leftovers = [d for d in os.listdir(store) if d.startswith("_staging_atomic_new")]
    staged_files = [f for d in leftovers for f in os.listdir(os.path.join(store, d))]
    assert staged_files == []  # abort cleaned staged payloads


def test_multi_stream_orchestration(spark, store, tmp_path):
    """A12: three streams ingested by one orchestration call, each with
    its own query + checkpoint + metadata.json."""
    import json

    from river_spark.streaming import ingest_streams

    for name in ("m_a", "m_b", "m_c"):
        _write_stream(store, name, n=120, batch_size=30)
    out = str(tmp_path / "multi_out")
    queries = ingest_streams(spark, store, out)
    assert set(queries) == {"m_a", "m_b", "m_c"}
    for name in queries:
        df = spark.read.parquet(os.path.join(out, name))
        assert df.count() == 120
        with open(os.path.join(out, name, "metadata.json")) as f:
            assert json.load(f)["stream_name"] == name

def test_batch_write_variable_width(spark, store):
    """Single binary column → VARIABLE_WIDTH_BYTES stream through the sink
    (sizes-array path of cpp/src/writer.h:138-156), read back losslessly."""
    register(spark)
    df = spark.range(0, 300).select(
        F.encode(F.concat(F.lit("doc-"), F.col("id").cast("string")), "utf-8").alias("payload")
    )
    df.repartition(3).write.format("river").option("path", store).option(
        "stream", "vw"
    ).mode("append").save()
    back = spark.read.format("river").option("path", store).option("stream", "vw").load()
    assert back.count() == 300
    assert back.select("sample_index").distinct().count() == 300
    vals = {bytes(r.payload).decode() for r in back.collect()}
    assert vals == {f"doc-{i}" for i in range(300)}


def test_sink_commit_is_rename_only(spark, store, monkeypatch):
    """The driver-side commit must not move data bytes: every staged chunk
    that fits its segment is promoted by os.replace (rename), never
    re-written through the transport writer."""
    from river_spark.sources import river_source as rs

    reads = []
    orig = rs.StreamLog.read_batch

    def spying_read_batch(self, path):
        reads.append(path)
        return orig(self, path)

    monkeypatch.setattr(rs.StreamLog, "read_batch", spying_read_batch)
    register(spark)
    df = spark.range(0, 5000).select(F.col("id").alias("a"), (F.col("id") * 2.0).alias("b"))
    df.repartition(4).write.format("river").option("path", store).option(
        "stream", "renamed"
    ).mode("append").save()
    # commit ran in this process (local mode): zero batch files were read back
    assert reads == []
    back = spark.read.format("river").option("path", store).option("stream", "renamed").load()
    assert back.count() == 5000
    assert back.agg(F.sum("a")).collect()[0][0] == 5000 * 4999 // 2


def _assert_split_stream(spark, log, locator, stream, n=450):
    """n samples at 100 per segment: segments 0..4, a tombstone ending
    every one but the last, and a dense sample_index."""
    segs = log.list_segments(stream)
    assert segs == [0, 1, 2, 3, 4]
    for seg in segs[:-1]:
        ctrl = log.read_control(stream, seg)
        assert ctrl is not None and ctrl.get("tombstone") == 1
        assert ctrl["sample_index"] == 100 * seg + 99
    assert log.read_control(stream, segs[-1]) is None
    reader = spark.read.format("river").option("stream", stream)
    for k, v in locator.items():
        reader = reader.option(k, v)
    back = reader.load()
    assert back.count() == n
    idx = sorted(r.sample_index for r in back.select("sample_index").collect())
    assert idx == list(range(n))
    return back


def test_sink_segment_boundary_split(spark, store):
    """A staged chunk that would span a segment boundary is split, with
    tombstone rollover, preserving dense sample_index — for a new stream,
    a compressed stream the sink appends to, and a variable-width
    stream."""
    register(spark)
    log = StreamLog(store)
    df = spark.range(0, 450).select(F.col("id").alias("a"), (F.col("id") * 1.0).alias("b"))
    (
        df.coalesce(1)
        .write.format("river")
        .option("path", store)
        .option("stream", "split")
        .option("batchSize", "64")
        .option("entriesPerSegment", "100")
        .mode("append")
        .save()
    )
    back = _assert_split_stream(spark, log, {"path": store}, "split")
    assert back.agg(F.sum("a")).collect()[0][0] == 450 * 449 // 2

    # compressed stream made by StreamWriter; the sink inherits its
    # geometry and compressor, and its single 450-row chunk spans five
    # segments
    from river_spark.transport.compression import CompressionMode, Compressor

    schema = StreamSchema(
        [FieldDefinition("a", FieldType.INT64), FieldDefinition("b", FieldType.DOUBLE)]
    )
    StreamWriter(
        log, entries_per_segment=100, compression=Compressor(CompressionMode.ZLIB_LOSSLESS)
    ).initialize("split_z", schema)
    df.coalesce(1).write.format("river").option("path", store).option(
        "stream", "split_z"
    ).mode("append").save()
    back = _assert_split_stream(spark, log, {"path": store}, "split_z")
    rows = back.orderBy("sample_index").collect()
    assert [r.a for r in rows] == list(range(450))
    assert [r.b for r in rows] == [float(i) for i in range(450)]

    vw = spark.range(0, 450).select(
        F.encode(F.concat(F.lit("doc-"), F.col("id").cast("string")), "utf-8").alias("payload")
    )
    (
        vw.coalesce(1)
        .write.format("river")
        .option("path", store)
        .option("stream", "split_vw")
        .option("batchSize", "64")
        .option("entriesPerSegment", "100")
        .mode("append")
        .save()
    )
    back = _assert_split_stream(spark, log, {"path": store}, "split_vw")
    rows = back.orderBy("sample_index").collect()
    assert [bytes(r.payload).decode() for r in rows] == [f"doc-{i}" for i in range(450)]


def test_streaming_restart_backlog_capped(spark, store, tmp_path):
    """After a restart with a large backlog, the first micro-batch must
    respect maxSamplesPerTrigger (cursor persisted via the consumer-group
    file, not instance state)."""
    log = _write_stream(store, "bk", n=100, batch_size=50, stop=False)
    register(spark)
    out = str(tmp_path / "o")
    ckpt = str(tmp_path / "c")

    def run():
        q = (
            spark.readStream.format("river")
            .option("path", store)
            .option("stream", "bk")
            .option("maxSamplesPerTrigger", "75")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    assert spark.read.parquet(out).count() == 100
    # the first (availableNow) run had no cursor, so it took the whole
    # 100-row backlog uncapped; only the restarted query is capped
    before = {os.path.basename(f) for f in spark.read.parquet(out).inputFiles()}
    # big backlog lands while the query is down
    schema = StreamSchema(
        [FieldDefinition("a", FieldType.INT64), FieldDefinition("b", FieldType.DOUBLE)]
    )
    w = StreamWriter(log, batch_size=100)
    w.stream_name, w.schema, w.total_samples_written = "bk", schema, 100
    arr = np.zeros(1000, dtype=schema.dtype())
    arr["a"] = np.arange(100, 1100)
    w.write(arr)
    # restart with a live trigger; drain the backlog in capped micro-batches
    import time

    q = (
        spark.readStream.format("river")
        .option("path", store)
        .option("stream", "bk")
        .option("maxSamplesPerTrigger", "75")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    deadline = time.monotonic() + 120
    while time.monotonic() < deadline:
        if spark.read.parquet(out).count() >= 1100:
            break
        time.sleep(0.5)
    progress = q.recentProgress
    q.stop()
    df = spark.read.parquet(out)
    assert df.count() == 1100
    assert df.select("sample_index").distinct().count() == 1100
    # every micro-batch of the restarted query stayed within the cap —
    # including the FIRST one, which sees the full 1000-row backlog
    assert progress and max(p["numInputRows"] for p in progress) <= 75
    from pyspark.sql import functions as F2

    per_file = df.groupBy(F2.input_file_name().alias("f")).count().collect()
    after = [r["count"] for r in per_file if os.path.basename(r["f"]) not in before]
    assert after and max(after) <= 75


def test_sink_duplicate_attempt_cannot_clobber_staged_chunk(spark, store, monkeypatch):
    """Two attempts of the same partition (speculation / zombie retry) must
    stage to disjoint paths: if they shared names, a straggler could
    overwrite the winning attempt's chunk between task success and
    driver-side promote. Simulates both attempts directly against the
    writer object, then commits only the winner's message."""
    import pyarrow as pa

    from river_spark.sources.river_source import RiverBatchWriter
    from pyspark.sql import types as T2

    schema = T2.StructType(
        [T2.StructField("a", T2.LongType()), T2.StructField("b", T2.DoubleType())]
    )
    w = RiverBatchWriter({"path": store, "stream": "attempts"}, schema)

    class FakeCtx:
        def __init__(self, attempt):
            self._attempt = attempt

        def partitionId(self):
            return 0

        def taskAttemptId(self):
            return self._attempt

    import pyspark

    def batches(vals):
        yield pa.record_batch(
            [pa.array(vals, type=pa.int64()), pa.array([v * 0.5 for v in vals])],
            names=["a", "b"],
        )

    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: FakeCtx(101)))
    winner = w.write(batches(list(range(100))))
    monkeypatch.setattr(pyspark.TaskContext, "get", staticmethod(lambda: FakeCtx(202)))
    zombie = w.write(batches([7] * 100))  # same partition, different data

    winner_paths = {p for p, _ in winner.chunks}
    zombie_paths = {p for p, _ in zombie.chunks}
    assert winner_paths and winner_paths.isdisjoint(zombie_paths)

    # the zombie wrote AFTER the winner finished; the winner's bytes survive
    w.commit([winner])
    back = spark.read.format("river").option("path", store).option("stream", "attempts").load()
    rows = back.count()
    assert rows == 100
    assert back.agg(F.sum("a")).collect()[0][0] == 100 * 99 // 2  # winner's data, not 700


def test_stream_reader_foreign_cursor_cannot_stall_window(store):
    """A consumer-group cursor committed by ANOTHER query can sit far
    behind this query's checkpointed start. The cap window must keep
    advancing across latestOffset calls (self-advancing base), so the
    foreign cursor skews at most the first few batch caps and can never
    pin the offset window behind the checkpoint forever."""
    import json

    from river_spark.sources.river_source import RiverStreamReader

    _write_stream(store, "fc", n=1000, batch_size=100)
    # foreign query committed index 100; OUR checkpoint (not visible to
    # the reader) would be at 900
    StreamLog(store).write_aux("cursor/fc/default", json.dumps({"index": 100}))
    r = RiverStreamReader({"path": store, "stream": "fc", "maxSamplesPerTrigger": "75"})
    ends = [r.latestOffset()["index"] for _ in range(20)]
    assert ends[0] == 175  # capped relative to the adopted cursor
    assert all(b > a for a, b in zip(ends, ends[1:]) if b < 1000)  # strictly advancing
    assert ends[-1] == 1000  # reaches the real frontier, no stall


def test_foreign_cursor_inverted_window_yields_empty_batch(store):
    """The crash variant of the foreign-cursor scenario: with a batch
    file SPANNING both offsets (big batch_size), a planned batch with
    hi < lo used to pass the overlap filter and slice the file with a
    negative window (np.full(hi - lo, ...) raises). partitions() must
    short-circuit to an empty batch instead."""
    import json

    from river_spark.sources.river_source import RiverStreamReader

    # one 10240-sample batch file spans every offset in play
    _write_stream(store, "fcspan", n=1000, batch_size=10240)
    StreamLog(store).write_aux("cursor/fcspan/default", json.dumps({"index": 100}))
    r = RiverStreamReader(
        {"path": store, "stream": "fcspan", "maxSamplesPerTrigger": "75"}
    )
    # Spark plans a batch from the checkpointed start (900) to an end
    # capped relative to the adopted foreign cursor (175): hi < lo
    parts = r.partitions({"index": 900}, {"index": 175})
    assert parts == [None]
    assert list(r.read(None)) == []
    # and the cap base self-advances: the inverted window cannot recur
    assert r.latestOffset()["index"] >= 900


def test_fixed_width_bytes_output_types(spark, store, tmp_path):
    """FIXED_WIDTH_BYTES keeps its width in the ingester's Parquet
    (fixed_size_binary[4]) and reads back as Spark's BinaryType from the
    DataSource, with the same bytes in both."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from river_spark.ingest.ingester import StreamIngester
    from river_spark.ingest.layout import data_files

    schema = StreamSchema(
        [
            FieldDefinition("tag", FieldType.FIXED_WIDTH_BYTES, size=4),
            FieldDefinition("v", FieldType.INT32),
        ]
    )
    tags = [b"t%03d" % i for i in range(40)]
    log = StreamLog(store)
    w = StreamWriter(log, batch_size=16).initialize("fwb", schema)
    arr = np.zeros(40, dtype=schema.dtype())
    arr["tag"] = tags
    arr["v"] = np.arange(40)
    w.write(arr)
    w.stop()

    register(spark)
    df = spark.read.format("river").option("path", store).option("stream", "fwb").load()
    assert df.schema["tag"].dataType == T.BinaryType()
    assert [bytes(r.tag) for r in df.orderBy("sample_index").collect()] == tags

    out = str(tmp_path / "out")
    ingester = StreamIngester(log, out)
    ingester.ingest()
    ingester.wait_all()
    table = pa.concat_tables(pq.read_table(f) for f in data_files(os.path.join(out, "fwb")))
    assert table.schema.field("tag").type == pa.binary(4)
    assert table.column("tag").to_pylist() == tags


# -- packing: batch-file slices into core-sized splits ---------------------------
def _wide_stream(store, name, n_files=33, per_file=64):
    """``n_files`` batch files of 4 KiB samples (an int64 ``a`` plus 4,088
    pad bytes), big enough for the split rule to cut files."""
    log = StreamLog(store)
    schema = StreamSchema(
        [
            FieldDefinition("a", FieldType.INT64),
            FieldDefinition("pad", FieldType.FIXED_WIDTH_BYTES, size=4088),
        ]
    )
    w = StreamWriter(log, batch_size=per_file).initialize(name, schema)
    arr = np.zeros(n_files * per_file, dtype=schema.dtype())
    arr["a"] = np.arange(len(arr))
    w.write(arr)
    w.stop()
    return log


@pytest.mark.parametrize("cores", [1, 2, 3, 8, None])
def test_stream_partitions_pack_contiguous_slices(store, monkeypatch, cores):
    """A mid-file [start, end) over 33 batch files (~8.6 MB) packs into
    at most ``cores`` partitions — or, where the stream passes cores² ×
    4 MiB (a 1-core planner), sqrt(total / 4 MiB) of them — whose slices
    cover every sample exactly once, in order, with the right lo/hi at
    both edges."""
    from river_spark.sources import river_source
    from river_spark.sources.river_source import RiverStreamReader

    if cores is not None:
        monkeypatch.setattr(river_source, "_planning_cores", lambda: cores)
    log = _wide_stream(store, "pk")
    batches = {b[4]: b for s in log.list_segments("pk") for b in log.list_batches("pk", s)}
    assert len(batches) == 33
    start, end = 10, 33 * 64 - 7
    r = RiverStreamReader({"path": store, "stream": "pk"})
    parts = r.partitions({"index": start}, {"index": end})
    spread = math.ceil(math.sqrt((end - start) * 4096 / (4 << 20)))
    assert 1 <= len(parts) <= max(river_source._planning_cores(), spread)

    slices = [s for p in parts for s in p.slices]
    assert all(p.slices for p in parts)
    nxt = start
    for path, bstart, ms, seq0, lo, hi in slices:
        assert (bstart, ms, seq0) == (batches[path][0], batches[path][2], batches[path][3])
        assert 0 <= lo < hi <= batches[path][1]
        assert bstart + lo == nxt  # contiguous, no sample twice
        nxt = bstart + hi
    assert nxt == end
    assert (slices[0][4], slices[-1][5]) == (10, 64 - 7)  # mid-file edges
    got = np.concatenate([b.column("a").to_numpy() for p in parts for b in r.read(p)])
    np.testing.assert_array_equal(got, np.arange(start, end))


class _SyntheticLog:
    """Just the listing ``_pack`` plans from: ``n`` batch files of
    ``per_file`` samples in one segment."""

    def __init__(self, n, per_file):
        self.batches = [(i * per_file, per_file, 1000 + i, 0, f"b{i}") for i in range(n)]

    def list_segments(self, stream):
        return [0]

    def list_batches(self, stream, seg):
        return self.batches


def test_pack_spreads_a_large_stream_beyond_the_planner_cores(monkeypatch):
    """The planner sees only its own cores, not the cluster's width, so a
    large stream on a small planner is not packed into one split per core:
    ~500 MB over 4 cores runs as at least sqrt(total / 4 MiB) splits (11),
    not 4 of 125 MB. A small stream still packs into one split per core,
    and at 100 TB a split is 128 MiB, as for a Parquet scan."""
    from river_spark.sources import river_source

    monkeypatch.setattr(river_source, "_planning_cores", lambda: 4)
    schema_json = StreamSchema([FieldDefinition("v", FieldType.DOUBLE)]).to_json()
    per_file = 1536
    n_files = 500_000_000 // (8 * per_file)  # ~500 MB of 8-byte samples
    log = _SyntheticLog(n_files, per_file)
    parts = river_source._pack(log, "s", 0, float("inf"), {"path": "x"}, schema_json, None)
    total = n_files * per_file * 8
    assert len(parts) >= math.sqrt(total / (4 << 20)) > 10
    covered = [s for p in parts for s in p.slices]
    assert sum(hi - lo for *_h, lo, hi in covered) == n_files * per_file

    small = _SyntheticLog(33, per_file)  # ~0.4 MB: one split under the 4 MiB floor
    assert len(river_source._pack(small, "s", 0, float("inf"), {}, schema_json, None)) == 1
    mid = 40_000_000  # the ingest benchmark's size: one split per core
    assert mid / river_source._split_bytes(mid, 4) == 4
    assert river_source._split_bytes(100e12, 4) == 128 << 20


def _reader_rows(store, name):
    """(sample_index, key, value bytes) rows straight from the transport."""
    from river_spark.transport import StreamReader

    res = StreamReader(StreamLog(store)).initialize(name).read(100_000, with_keys=True)
    if res.sizes is None:
        values = res.samples["v"].tolist()
    else:
        offs = np.concatenate([[0], np.cumsum(res.sizes)])
        values = [res.samples[offs[i] : offs[i + 1]].tobytes() for i in range(res.count)]
    return list(zip(res.indices.tolist(), res.keys, values))


@pytest.mark.parametrize("kind", ["zlib", "variable"])
def test_batch_read_packed_compressed_and_variable_width(spark, store, kind):
    """A packed batch read over a ZLIB stream and a VARIABLE_WIDTH_BYTES
    stream (33 batch files each) returns dense sample_index and the rows
    the transport reader returns."""
    from river_spark.transport.compression import CompressionMode, Compressor

    log = StreamLog(store)
    n = 33 * 30
    if kind == "zlib":
        schema = StreamSchema([FieldDefinition("v", FieldType.DOUBLE)])
        w = StreamWriter(log, batch_size=30, compression=Compressor(CompressionMode.ZLIB_LOSSLESS))
        w.initialize(kind, schema)
        arr = np.zeros(n, dtype=schema.dtype())
        arr["v"] = np.sin(np.arange(n))
        w.write(arr)
    else:
        schema = StreamSchema([FieldDefinition("v", FieldType.VARIABLE_WIDTH_BYTES, size=16)])
        w = StreamWriter(log, batch_size=30).initialize(kind, schema)
        payloads = [bytes([i % 256]) * (i % 17) for i in range(n)]
        flat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        w.write(flat, sizes=np.array([len(p) for p in payloads]))
    w.stop()
    register(spark)
    df = spark.read.format("river").option("path", store).option("stream", kind).load()
    rows = [(r.sample_index, r.key, bytes(r.v) if kind == "variable" else r.v) for r in df.collect()]
    rows.sort()
    assert [r[0] for r in rows] == list(range(n))
    assert rows == _reader_rows(store, kind)


def test_spark_ingester_parquet_dictionary_rule(spark, store, tmp_path):
    """The Spark ingester writes Parquet under the batch ingester's
    dictionary rule, decided from the stream's first samples: no
    dictionary on columns without a repeat (random floats,
    ``sample_index``, ``key``), one on repeating columns whatever their
    type (a constant float, a constant integer, ``timestamp_ms``), and no
    setting left behind in the session."""
    import glob

    import pyarrow.parquet as pq

    log = StreamLog(store)
    schema = StreamSchema(
        [
            FieldDefinition("a", FieldType.INT64),
            FieldDefinition("b", FieldType.DOUBLE),
            FieldDefinition("c", FieldType.DOUBLE),
        ]
    )
    arr = np.zeros(500, dtype=schema.dtype())
    arr["c"] = np.random.default_rng(5).standard_normal(500)
    w = StreamWriter(log).initialize("dr", schema)
    w.write(arr)
    w.stop()
    q = ingest_stream_continuous(spark, store, "dr", str(tmp_path / "o"))
    q.awaitTermination(120)
    for col in ("sample_index", "key", "timestamp_ms", "a", "b", "c"):
        assert spark.conf.get(f"parquet.enable.dictionary#{col}", None) is None
    files = glob.glob(str(tmp_path / "o" / "dr" / "*.parquet"))
    assert files
    for f in files:
        rg = pq.ParquetFile(f).metadata.row_group(0)
        cols = [rg.column(i) for i in range(rg.num_columns)]
        assert {c.path_in_schema: c.has_dictionary_page for c in cols} == {
            "sample_index": False,
            "key": False,
            "timestamp_ms": True,
            "a": True,
            "b": True,
            "c": False,
        }
