"""Regression tests for core-module review findings: sink replay scoping,
pruned variable-width ingest, reserved staging streams, append type
checks, shared-compressor isolation, and failure re-raising."""

import os

import numpy as np
import pytest

from river_spark.ingest import IngesterSettings, StreamIngester, StreamIngestionSettings
from river_spark.ingest.ingester import IngestResult, SingleStreamIngester
from river_spark.schema import FieldDefinition, FieldType, StreamSchema
from river_spark.transport import StreamLog, StreamWriter
from river_spark.transport.compression import CompressionMode, Compressor


def _vschema():
    return StreamSchema([FieldDefinition("payload", FieldType.VARIABLE_WIDTH_BYTES, size=16)])


def test_pruned_variable_width_ingest(tmp_path):
    """Blacklisting a stream's only (variable-width) field must ingest the
    system columns alone, not crash on an array/schema count mismatch."""
    import pyarrow.parquet as pq

    log = StreamLog(str(tmp_path / "store"))
    w = StreamWriter(log).initialize("v", _vschema())
    payloads = [b"abc", b"d", b"eeee"]
    w.write(
        np.frombuffer(b"".join(payloads), dtype=np.uint8),
        sizes=np.array([len(p) for p in payloads], dtype=np.int64),
    )
    w.stop()
    res = SingleStreamIngester(
        log,
        str(tmp_path / "out"),
        "v",
        StreamIngestionSettings(columns_blacklist=["payload"]),
    ).ingest()
    assert res is IngestResult.COMPLETED
    t = pq.read_table(str(tmp_path / "out" / "v" / "data.parquet"))
    assert t.column_names == ["sample_index", "key", "timestamp_ms"]
    assert t.num_rows == 3


def test_orchestrator_skips_reserved_staging_streams(tmp_path):
    """A catch-all ingester daemon must never touch in-flight Spark sink
    staging streams — finalizing one would delete the staged batch."""
    log = StreamLog(str(tmp_path / "store"))
    schema = StreamSchema([FieldDefinition("x", FieldType.DOUBLE)])
    for name in ("real", "_stg_real_ab12_99_a0", "_staging_real_cd34"):
        w = StreamWriter(log).initialize(name, schema)
        w.write(np.zeros(5, dtype=schema.dtype()))
        w.stop()
    ing = StreamIngester(log, str(tmp_path / "out"), IngesterSettings.catch_all())
    ing.ingest()
    ing.wait_all()
    assert ing.get_result("real") is IngestResult.COMPLETED
    assert ing.get_result("_stg_real_ab12_99_a0") is None
    assert sorted(os.listdir(tmp_path / "out")) == ["real"]
    # the staged streams are still intact on the log
    assert log.read_metadata("_stg_real_ab12_99_a0") is not None


def test_get_result_raises_on_every_call(tmp_path):
    """A stream whose ingest failed must raise from get_result every time,
    not return the bare exception object on the second call."""
    log = StreamLog(str(tmp_path / "store"))
    schema = StreamSchema([FieldDefinition("x", FieldType.DOUBLE)])
    w = StreamWriter(log).initialize("boom", schema)
    w.write(np.zeros(3, dtype=schema.dtype()))
    w.stop()
    # occupy the output file slot so ingest fails with FileExistsError
    out = tmp_path / "out" / "boom"
    out.mkdir(parents=True)
    with open(out / "data_0000000000.parquet", "wb") as f:
        f.write(b"garbage")  # unreadable parquet -> resume read raises
    ing = StreamIngester(log, str(tmp_path / "out"), IngesterSettings.catch_all())
    ing.ingest()
    with pytest.raises(Exception):
        ing.wait_all()
    with pytest.raises(Exception):
        ing.get_result("boom")
    with pytest.raises(Exception):  # and again: failures stay failures
        ing.get_result("boom")


def test_shared_compressor_not_mutated_across_streams(tmp_path):
    """initialize() must bind schema-derived params to a per-stream copy:
    a reused Compressor would otherwise record the FIRST stream's
    value_dtype/sample_size in the second stream's metadata."""
    import json

    comp = Compressor(CompressionMode.QUANT_LOSSY)
    s64 = StreamSchema([FieldDefinition("a", FieldType.DOUBLE)])
    s32 = StreamSchema([FieldDefinition("b", FieldType.FLOAT)])
    log1, log2 = StreamLog(str(tmp_path / "l1")), StreamLog(str(tmp_path / "l2"))
    StreamWriter(log1, compression=comp).initialize("a", s64)
    StreamWriter(log2, compression=comp).initialize("b", s32)
    assert comp.params == {}  # caller's object untouched
    p1 = json.loads(log1.read_metadata("a")["compression_params_json"])["params"]
    p2 = json.loads(log2.read_metadata("b")["compression_params_json"])["params"]
    assert p1["value_dtype"] == "<f8" and int(p1["sample_size"]) == 8
    assert p2["value_dtype"] == "<f4" and int(p2["sample_size"]) == 4


def test_append_type_mismatch_raises(spark, tmp_path):
    """Appending a DataFrame whose column types differ from the stream's
    schema must raise, not silently value-cast into the byte layout."""
    from river_spark.sources import register

    register(spark)
    store = str(tmp_path / "store")
    log = StreamLog(store)
    schema = StreamSchema([FieldDefinition("x", FieldType.INT32)])
    w = StreamWriter(log).initialize("typed", schema)
    arr = np.zeros(2, dtype=schema.dtype())
    w.write(arr)
    df = spark.createDataFrame([(3.7,), (1.5,)], "x double")
    with pytest.raises(Exception, match="schema mismatch"):
        (
            df.write.format("river")
            .option("path", store)
            .option("stream", "typed")
            .mode("append")
            .save()
        )


def test_sink_replay_registry_scoped_per_query(spark, tmp_path):
    """Two successive queries (fresh checkpoints) appending to one stream
    both start at batchId 0 — the second query's batches must append, not
    be dropped as 'replays' of the first query's batchIds."""
    from river_spark.sources import register

    register(spark)
    store = str(tmp_path / "store")
    log = StreamLog(store)
    schema = StreamSchema(
        [FieldDefinition("a", FieldType.INT64), FieldDefinition("b", FieldType.DOUBLE)]
    )
    for name, n in (("src_a", 100), ("src_b", 50)):
        w = StreamWriter(log).initialize(name, schema)
        arr = np.zeros(n, dtype=schema.dtype())
        arr["a"] = np.arange(n)
        arr["b"] = np.arange(n) * 0.5
        w.write(arr)
        w.stop()

    def copy(src, ckpt):
        q = (
            spark.readStream.format("river")
            .option("path", store)
            .option("stream", src)
            .load()
            .select("a", "b")
            .writeStream.format("river")
            .option("path", store)
            .option("stream", "scoped")
            .option("checkpointLocation", str(tmp_path / ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    copy("src_a", "ckpt_a")
    copy("src_b", "ckpt_b")  # batchIds restart at 0: must NOT be dropped
    back = (
        spark.read.format("river").option("path", store).option("stream", "scoped").load()
    )
    assert back.count() == 150
    assert back.select("sample_index").distinct().count() == 150


def test_sink_rejects_nulls_and_fixed_width_mismatch(spark, tmp_path):
    """NULL cells would round-trip through float64/NaN into garbage ints,
    and numpy void assignment silently pads/truncates fixed-width bytes —
    both must raise instead."""
    from river_spark.sources import register

    register(spark)
    store = str(tmp_path / "store")
    df_null = spark.createDataFrame([(1,), (None,)], "x long")
    with pytest.raises(Exception, match="NULL"):
        (
            df_null.write.format("river")
            .option("path", store)
            .option("stream", "nulls")
            .mode("append")
            .save()
        )
    log = StreamLog(store)
    fw = StreamSchema([FieldDefinition("b", FieldType.FIXED_WIDTH_BYTES, size=4)])
    StreamWriter(log).initialize("fw", fw).write(
        np.array([(b"abcd",)], dtype=fw.dtype())
    )
    df_bad = spark.createDataFrame([(b"toolong",)], "b binary")
    with pytest.raises(Exception, match="FIXED_WIDTH_BYTES"):
        (
            df_bad.write.format("river")
            .option("path", store)
            .option("stream", "fw")
            .mode("append")
            .save()
        )


def test_sink_append_respects_stream_segment_geometry(spark, tmp_path):
    """A stream created with a small entries_per_segment must keep that
    rollover period for sink appends — the default 2^24 would route new
    batches into already-tombstoned segments and break the chain."""
    from river_spark.sources import register
    from river_spark.transport import StreamReader

    register(spark)
    store = str(tmp_path / "store")
    log = StreamLog(store)
    schema = StreamSchema([FieldDefinition("x", FieldType.INT64)])
    w = StreamWriter(log, entries_per_segment=25).initialize("geo", schema)
    arr = np.zeros(60, dtype=schema.dtype())
    arr["x"] = np.arange(60)
    w.write(arr)  # 60 rows -> segments 0,1 full (tombstoned), 2 live
    df = spark.createDataFrame([(int(i),) for i in range(60, 90)], "x long")
    df.repartition(1).write.format("river").option("path", store).option(
        "stream", "geo"
    ).mode("append").save()
    # geometry honored: rollovers continued at 25
    assert log.list_segments("geo") == [0, 1, 2, 3]
    r = StreamReader(log).initialize("geo")
    res = r.read(1000, timeout_ms=100)
    assert res.count == 90
    np.testing.assert_array_equal(res.samples["x"], np.arange(90))
    np.testing.assert_array_equal(res.indices, np.arange(90))
    # explicit conflicting option is rejected outright
    with pytest.raises(Exception, match="geometry"):
        (
            df.write.format("river")
            .option("path", store)
            .option("stream", "geo")
            .option("entriesPerSegment", "1000")
            .mode("append")
            .save()
        )


def test_union_then_smj_executes(spark):
    """Spark 4.1 repro pinned: with spark.sql.unionOutputPartitioning on
    (the 4.1 default), a union of two hash-partitioned children reports
    a combined 2N-partition partitioning; a downstream sort-merge join
    consuming it zips 2N against N partitions and throws "Can't zip RDDs
    with unequal numbers of partitions". Broadcast joins hide it at
    laptop scale — SMJ is the 100 TB path — so the session factory
    disables the propagation; this test forces SMJ (auto-broadcast off)
    over exactly that shape and must execute."""
    from pyspark.sql import functions as F

    assert spark.conf.get("spark.sql.unionOutputPartitioning") == "false"
    keys = [
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.adaptive.autoBroadcastJoinThreshold",
    ]
    old = {}
    for k in keys:
        try:
            old[k] = spark.conf.get(k)
        except Exception:
            old[k] = None
        spark.conf.set(k, "-1")
    try:
        a = spark.range(0, 1000).groupBy((F.col("id") % 97).alias("k")).count()
        b = spark.range(500, 1500).groupBy((F.col("id") % 97).alias("k")).count()
        u = a.unionByName(b).groupBy("k").agg(F.sum("count").alias("n"))
        other = spark.range(0, 97).select(F.col("id").alias("k"), F.lit(1).alias("w"))
        got = u.join(other.groupBy("k").agg(F.sum("w").alias("w")), "k").collect()
        assert len(got) == 97
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
