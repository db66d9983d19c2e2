"""Redis-wire backend: byte-level wire-format parity with the reference's
fallback protocol (per-sample XADD val/i entries, {name}-metadata hash,
tombstone/next_stream_key + eof control entries — cpp/src/writer.cpp:
296-398, cpp/src/redis.cpp:63-165), foreign-stream interop (server-
assigned entry IDs), compressed batch framing, executor-side pickling,
and the full transport→ingest→parquet path on the redis backend."""

import json
import pickle

import numpy as np
import pytest

from river_spark.schema import FieldDefinition, FieldType, StreamSchema
from river_spark.transport import RedisBackend, StreamLog, StreamReader, StreamWriter
from river_spark.transport.resp import RespClient
from river_spark.testing import MiniRedisServer


from river_spark.testing import redis_server_binary as _redis_binary

# "real" only parametrizes in when a redis-server binary exists, so this
# container sees no extra skips while redis-equipped environments run the
# whole suite on both axes (mini_redis semantics drift would fail there).
_SERVER_PARAMS = ["mini"] + (["real"] if _redis_binary() else [])


@pytest.fixture(scope="module", params=_SERVER_PARAMS)
def server(request):
    if request.param == "real":
        from river_spark.testing import spawn_redis_server

        with spawn_redis_server() as addr:
            yield addr
        return
    with MiniRedisServer() as addr:
        yield addr


@pytest.fixture
def backend(server):
    host, port = server
    b = RedisBackend(host, port)
    b._conn().command("FLUSHALL")
    return b


def _schema():
    return StreamSchema(
        [FieldDefinition("a", FieldType.INT64), FieldDefinition("b", FieldType.DOUBLE)]
    )


def _write(log, name, n=10, stop=True, **writer_kw):
    schema = _schema()
    w = StreamWriter(log, **writer_kw).initialize(name, schema, user_metadata={"k": "v"})
    arr = np.zeros(n, dtype=schema.dtype())
    arr["a"] = np.arange(n)
    arr["b"] = np.arange(n) * 0.5
    w.write(arr)
    if stop:
        w.stop()
    return schema, arr


def test_wire_format_is_reference_fallback(server, backend):
    """On the wire, an uncompressed stream must look exactly like the
    reference's non-module writer: one XADD per sample with fields
    val=<raw sample bytes> / i=<global index> (writer.cpp:296-354), the
    {name}-metadata hash with first_stream_key/schema/initialized_at_us/
    user_metadata (writer.cpp:62-104), and a terminal eof/sample_index
    entry (writer.cpp:383-398)."""
    schema, arr = _write(StreamLog(backend=backend), "wire", n=5)
    raw = RespClient(*server)
    meta = raw.command("HGETALL", "wire-metadata")
    fields = {f.decode(): v for f, v in zip(meta[::2], meta[1::2])}
    assert fields["first_stream_key"] == b"wire-0"
    assert json.loads(fields["user_metadata"]) == {"k": "v"}
    assert int(fields["initialized_at_us"]) > 0
    StreamSchema.from_json(fields["schema"].decode())  # parseable schema JSON

    entries = raw.command("XRANGE", "wire-0", "-", "+")
    data_entries, eof_entries = [], []
    for entry_id, flat in entries:
        f = {k: v for k, v in zip(flat[::2], flat[1::2])}
        (eof_entries if b"eof" in f else data_entries).append((entry_id, f))
    assert len(data_entries) == 5
    for j, (entry_id, f) in enumerate(data_entries):
        assert int(f[b"i"]) == j
        assert f[b"val"] == arr[j : j + 1].tobytes()  # raw packed sample bytes
        ms, seq = entry_id.decode().split("-")
        assert int(ms) > 0 and int(seq) >= 0
    assert len(eof_entries) == 1
    assert int(eof_entries[0][1][b"sample_index"]) == 4


def test_foreign_reference_stream_is_readable(server, backend):
    """Interop in the other direction: a stream laid down exactly as the
    reference's fallback writer would (HSET metadata, per-sample XADD
    with SERVER-assigned '*' IDs, eof entry) must read back through
    StreamReader with correct samples, indices, and per-sample keys equal
    to the server-assigned entry IDs."""
    raw = RespClient(*server)
    schema = _schema()
    raw.command(
        "HSET", "foreign-metadata",
        "first_stream_key", "foreign-0",
        "schema", schema.to_json(),
        "initialized_at_us", "1723500000000000",
        "user_metadata", "{}",
    )
    arr = np.zeros(7, dtype=schema.dtype())
    arr["a"] = np.arange(7)
    arr["b"] = np.arange(7) * 1.5
    ids = []
    for j in range(7):
        ids.append(
            raw.command("XADD", "foreign-0", "*", "val", arr[j : j + 1].tobytes(), "i", str(j))
        )
    raw.command("XADD", "foreign-0", "*", "eof", "1", "sample_index", "6")

    r = StreamReader(StreamLog(backend=backend)).initialize("foreign", timeout_ms=1000)
    res = r.read(100, timeout_ms=100, with_keys=True)
    assert res.count == 7
    np.testing.assert_array_equal(res.samples["a"], arr["a"])
    np.testing.assert_array_equal(res.samples["b"], arr["b"])
    assert res.keys == [i.decode() for i in ids]
    assert r.read(1, timeout_ms=10).eof


def test_tombstone_wire_format_and_follow(server, backend):
    """Segment rollover must appear on the wire as the reference's
    tombstone entry (tombstone/next_stream_key/sample_index,
    writer.cpp:174-189) on the OLD stream key, and the reader must follow
    it across keys."""
    log = StreamLog(backend=backend)
    _schema_, arr = _write(log, "roll", n=10, entries_per_segment=4, batch_size=3)
    raw = RespClient(*server)
    entries = raw.command("XRANGE", "roll-0", "-", "+")
    last_id, flat = entries[-1]
    f = {k: v for k, v in zip(flat[::2], flat[1::2])}
    assert f[b"tombstone"] == b"1"
    assert f[b"next_stream_key"] == b"roll-1"
    # last sample of the OLD segment (reference: total_samples_written - 1)
    assert int(f[b"sample_index"]) == 3
    assert raw.command("XRANGE", "roll-2", "-", "+")  # 10 samples / 4 per seg -> 3 keys

    transitions = []
    r = StreamReader(log).initialize("roll")
    r.add_listener(lambda old, new: transitions.append((old, new)))
    res = r.read(100, timeout_ms=100)
    assert res.count == 10
    np.testing.assert_array_equal(res.samples["a"], arr["a"])
    assert transitions == [(0, 1), (1, 2)]


def test_compressed_batches_are_framed(server, backend):
    """Compression can't use per-sample entries (opaque batch payload;
    the reference requires its server module for this path) — compressed
    batches must land as single batch_val/i/n entries and round-trip
    bit-exactly through the reader's transparent decompression."""
    from river_spark.transport.compression import CompressionMode, Compressor

    log = StreamLog(backend=backend)
    schema = _schema()
    w = StreamWriter(log, compression=Compressor(CompressionMode.ZLIB_LOSSLESS))
    w.initialize("comp", schema)
    arr = np.zeros(100, dtype=schema.dtype())
    arr["a"] = np.arange(100)
    arr["b"] = np.sin(np.arange(100))
    w.write(arr)
    w.stop()

    raw = RespClient(*server)
    entries = raw.command("XRANGE", "comp-0", "-", "+")
    data_entries = [
        {k: v for k, v in zip(flat[::2], flat[1::2])}
        for _id, flat in entries
        if b"eof" not in dict(zip(flat[::2], flat[1::2]))
    ]
    assert len(data_entries) == 1  # one framed entry for the whole batch
    assert b"batch_val" in data_entries[0] and int(data_entries[0][b"n"]) == 100
    assert len(data_entries[0][b"batch_val"]) < arr.nbytes  # actually compressed

    res = StreamReader(log).initialize("comp").read(200, timeout_ms=100)
    assert res.count == 100
    np.testing.assert_array_equal(res.samples["a"], arr["a"])
    np.testing.assert_array_equal(res.samples["b"], arr["b"])


def test_backend_pickles_and_reconnects(backend):
    """Spark pickles the backend into executor tasks: the clone must
    reconnect from connection params alone and read existing data."""
    log = StreamLog(backend=backend)
    _schema_, arr = _write(log, "pick", n=8)
    clone = pickle.loads(pickle.dumps(backend))
    res = StreamReader(StreamLog(backend=clone)).initialize("pick").read(100, timeout_ms=100)
    assert res.count == 8
    np.testing.assert_array_equal(res.samples["a"], arr["a"])


def test_clock_delta_recorded_from_server_time(backend):
    """A22: initialize(compute_clock=True) must estimate local-server
    clock delta via the backend's TIME round trips; both clocks are this
    machine, so the estimate is near zero but present and bounded."""
    log = StreamLog(backend=backend)
    w = StreamWriter(log).initialize("clk", _schema(), compute_clock=True)
    w.stop()
    meta = log.read_metadata("clk")
    delta = meta["local_minus_server_clock_us"]
    assert isinstance(delta, int) and abs(delta) < 1_000_000


def test_ingest_to_parquet_on_redis(tmp_path, backend):
    """The full A13 path on the redis backend: transport write → ingester
    → parquet, output identical to the staged samples."""
    import pyarrow.parquet as pq

    from river_spark.ingest import IngesterSettings, StreamIngester, StreamIngestionSettings

    log = StreamLog(backend=backend)
    _schema_, arr = _write(log, "ing", n=5000)
    ing = StreamIngester(
        log,
        str(tmp_path / "out"),
        IngesterSettings(streams=[StreamIngestionSettings(minimum_age_seconds_before_deletion=0)]),
    )
    ing.ingest()
    ing.wait_all()
    t = pq.read_table(str(tmp_path / "out" / "ing" / "data.parquet"))
    assert t.num_rows == 5000
    np.testing.assert_array_equal(t.column("a").to_numpy(), arr["a"])
    np.testing.assert_array_equal(t.column("b").to_numpy(), arr["b"])
    # system columns (A20): contiguous sample_index, unique keys
    idx = t.column("sample_index").to_numpy()
    np.testing.assert_array_equal(idx, np.arange(5000))
    assert len(set(t.column("key").to_pylist())) == 5000


def test_spark_sink_and_batch_read_over_redis(spark, server, backend):
    """format("river") with the redis locator: executors stage into temp
    streams on the server, the driver assigns contiguous sample_index on
    commit, and the batch source reads each XRANGE window from its own
    task connection — no shared filesystem anywhere."""
    from pyspark.sql import functions as F

    from river_spark.sources import register

    register(spark)
    host, port = server
    url = f"{host}:{port}"
    df = spark.range(0, 1000, 1, 4).selectExpr("id AS a", "CAST(id * 0.5 AS double) AS b")
    df.write.format("river").option("redis", url).option("stream", "spark_rt").mode(
        "append"
    ).save()
    back = (
        spark.read.format("river").option("redis", url).option("stream", "spark_rt").load()
    )
    agg = back.agg(
        F.count("*").alias("n"),
        F.sum("a").alias("sa"),
        F.min("sample_index").alias("lo"),
        F.max("sample_index").alias("hi"),
        F.countDistinct("sample_index").alias("di"),
        F.countDistinct("key").alias("dk"),
    ).collect()[0]
    assert (agg.n, agg.sa, agg.lo, agg.hi, agg.di, agg.dk) == (
        1000, 999 * 1000 // 2, 0, 999, 1000, 1000,
    )
    # no staging residue on the server
    leftovers = [s for s in StreamLog(backend=backend).list_streams() if s.startswith("_stg_")]
    assert leftovers == []


def test_spark_streaming_read_over_redis(spark, server, backend, tmp_path):
    """Structured Streaming over the redis locator: availableNow drains
    the wire stream to EOF through micro-batches with exact contents."""
    log = StreamLog(backend=backend)
    _schema_, arr = _write(log, "srs", n=500)
    host, port = server
    q = (
        spark.readStream.format("river")
        .option("redis", f"{host}:{port}")
        .option("stream", "srs")
        .option("maxSamplesPerTrigger", "128")
        .load()
        .writeStream.format("memory")
        .queryName("srs_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql(
        "SELECT count(*) AS n, sum(a) AS sa, count(DISTINCT sample_index) AS di FROM srs_out"
    ).collect()[0]
    assert (out.n, out.sa, out.di) == (500, int(arr["a"].sum()), 500)


def test_blocking_read_wakes_on_live_append(server, backend):
    """A reader blocked in XREAD BLOCK (not sleep-polling) must wake and
    deliver samples appended by a concurrent writer well inside its
    timeout budget, and the same read call must keep following the live
    stream to EOF."""
    import threading
    import time as _time

    log = StreamLog(backend=backend)
    schema = _schema()
    w = StreamWriter(log).initialize("live", schema)
    first = np.zeros(3, dtype=schema.dtype())
    first["a"] = [0, 1, 2]
    w.write(first)

    results = {}

    def consume():
        r = StreamReader(StreamLog(backend=RedisBackend(*server))).initialize("live")
        res = r.read(10, timeout_ms=5000)
        results["res"] = res
        results["t"] = _time.monotonic()

    t = threading.Thread(target=consume)
    t.start()
    _time.sleep(0.3)  # reader is now blocked waiting for samples 3..9
    second = np.zeros(7, dtype=schema.dtype())
    second["a"] = np.arange(3, 10)
    t0 = _time.monotonic()
    w.write(second)
    w.stop()
    t.join(timeout=10)
    assert not t.is_alive()
    res = results["res"]
    assert res.count == 10
    np.testing.assert_array_equal(res.samples["a"], np.arange(10))
    # woke via the blocking wait, not by draining the 5 s timeout
    assert results["t"] - t0 < 2.0


def test_cli_over_redis(server, backend):
    """The CLI tools accept --redis host:port like the reference tools'
    redis hostname/port args: stdin CSV → wire stream → stdout CSV."""
    import os
    import subprocess
    import sys

    import river_spark

    host, port = server
    url = f"{host}:{port}"
    env = {**os.environ, "PYTHONPATH": os.path.dirname(os.path.dirname(river_spark.__file__))}
    csv = "\n".join(f"{i},{i * 0.5!r}" for i in range(100))
    subprocess.run(
        [sys.executable, "-m", "river_spark.tools.cli", "writer", "--redis", url,
         "--stream", "cli_redis", "--schema", "a:INT64,b:DOUBLE"],
        input=csv.encode(), check=True, capture_output=True, env=env,
    )
    out = subprocess.run(
        [sys.executable, "-m", "river_spark.tools.cli", "reader", "--redis", url,
         "--stream", "cli_redis"],
        check=True, capture_output=True, env=env,
    ).stdout.decode()
    lines = out.strip().splitlines()
    assert lines[0] == "a,b"
    assert len(lines) == 101
    assert lines[1].split(",")[0] == "0" and lines[100].split(",")[0] == "99"


def test_catalog_over_redis(spark, server, backend):
    """A10 over the wire: register_streams('redis://host:port') surfaces
    every live stream on the server as a queryable Spark view."""
    from river_spark.catalog import register_streams, stream_metadata

    log = StreamLog(backend=backend)
    _write(log, "cat_r", n=50)
    url = f"redis://{server[0]}:{server[1]}"
    views = register_streams(spark, url)
    assert "river_cat_r" in views
    assert spark.table("river_cat_r").count() == 50
    assert stream_metadata(url, "cat_r")["user_metadata"] == {"k": "v"}


def test_streaming_ingester_drains_redis_to_parquet(spark, server, backend, tmp_path):
    """The reference's production deployment shape: the ingester-as-
    streaming-query drains a live Redis server to Parquet (regex-routed
    orchestration, system columns, EOF termination)."""
    from river_spark.streaming import ingest_streams

    log = StreamLog(backend=backend)
    _schema_, arr = _write(log, "daemon", n=2000)
    url = f"redis://{server[0]}:{server[1]}"
    queries = ingest_streams(spark, url, str(tmp_path / "out"))
    assert "daemon" in queries
    out = spark.read.parquet(str(tmp_path / "out" / "daemon"))
    assert out.count() == 2000
    got = out.orderBy("sample_index").agg(
        __import__("pyspark.sql.functions", fromlist=["sum"]).sum("a")
    ).collect()[0][0]
    assert got == int(arr["a"].sum())
    assert set(out.columns) >= {"sample_index", "key", "timestamp_ms", "a", "b"}


@pytest.mark.parametrize("batch_framing", [False, True])
def test_spark_sink_segment_boundary_split_over_redis(spark, server, backend, batch_framing):
    """The sink over the redis locator splits a staged chunk that spans a
    segment boundary, with tombstone rollover and a dense sample_index,
    both for per-sample entries and under batchFraming."""
    from pyspark.sql import functions as F

    from river_spark.sources import register

    register(spark)
    host, port = server
    df = spark.range(0, 450).select(F.col("id").alias("a"), (F.col("id") * 1.0).alias("b"))
    (
        df.coalesce(1)
        .write.format("river")
        .option("redis", f"{host}:{port}")
        .option("stream", "rsplit")
        .option("batchFraming", str(batch_framing).lower())
        .option("batchSize", "64")
        .option("entriesPerSegment", "100")
        .mode("append")
        .save()
    )
    log = StreamLog(backend=RedisBackend(host, port))
    assert [n for n in log.list_streams() if n.startswith("_stg_")] == []
    segs = log.list_segments("rsplit")
    assert segs == [0, 1, 2, 3, 4]
    for seg in segs[:-1]:
        ctrl = log.read_control("rsplit", seg)
        assert ctrl is not None and ctrl.get("tombstone") == 1
        assert ctrl["sample_index"] == 100 * seg + 99
    back = (
        spark.read.format("river")
        .option("redis", f"{host}:{port}")
        .option("stream", "rsplit")
        .load()
    )
    rows = back.orderBy("sample_index").collect()
    assert [r.sample_index for r in rows] == list(range(450))
    assert [r.a for r in rows] == list(range(450))


def test_last_index_tail_probe_matches_full_scan(server, backend):
    """The O(1) tail probe must agree with the full batch listing for
    every segment shape: data tail, tombstone tail, EOF tail, and
    framed (compressed) batches."""
    from river_spark.transport.compression import CompressionMode, Compressor

    log = StreamLog(backend=backend)
    # rolling stream: segments ending in tombstones, last one in data+EOF
    _write(log, "probe", n=10, entries_per_segment=4, batch_size=3)
    # framed stream
    w = StreamWriter(log, compression=Compressor(CompressionMode.ZLIB_LOSSLESS))
    w.initialize("probe_c", _schema())
    arr = np.zeros(50, dtype=_schema().dtype())
    w.write(arr)  # no stop: data entry is the tail

    for name in ("probe", "probe_c"):
        for seg in log.list_segments(name):
            start, cnt, ms, seq0, _h = log.list_batches(name, seg)[-1]
            full = (start + cnt, ms, seq0 + cnt - 1)
            # the tail probe skips the control markers that trail the data
            probe = backend.last_batch_info(name, seg)
            assert probe == full, (name, seg, probe, full)


def test_framed_append_handle_carries_sizes(server):
    """read_batch on the handle append_batch RETURNS (kind 'framed' under
    batch_framing) must include per-sample sizes for variable-width
    batches — the backend ABC's handle contract; dropping them would
    leave the payload with no sample boundaries."""
    host, port = server
    framed = RedisBackend(host, port, batch_framing=True)
    framed._conn().command("FLUSHALL")
    log = StreamLog(backend=framed)
    from river_spark.schema import FieldDefinition as FD, FieldType as FT

    vschema = StreamSchema([FD("payload", FT.VARIABLE_WIDTH_BYTES, size=8)])
    StreamWriter(log).initialize("fh", vschema)  # metadata so _info works
    sizes = np.array([1, 3, 2], dtype=np.int64)
    handle = framed.append_batch(
        "fh", 0, 0, b"abbbcc", 3, key_ms=1, key_seq0=0, sizes=sizes
    )
    z = framed.read_batch(handle)
    np.testing.assert_array_equal(z["sizes"], sizes)
    assert bytes(z["data"]) == b"abbbcc"


def test_batch_framing_roundtrip_and_throughput(server):
    """batch_framing=True (the server-module analog: one entry per batch)
    must round-trip fixed AND variable-width streams exactly, and beat
    the per-sample fallback wire by a wide margin."""
    import time as _time

    host, port = server
    framed = RedisBackend(host, port, batch_framing=True)
    framed._conn().command("FLUSHALL")
    log = StreamLog(backend=framed)
    # fixed width
    _schema_, arr = _write(log, "bf", n=50_000, batch_size=10_240)
    res = StreamReader(log, max_fetch_size=60_000).initialize("bf").read(60_000, timeout_ms=100)
    assert res.count == 50_000
    np.testing.assert_array_equal(res.samples["a"], arr["a"])
    # variable width
    from river_spark.schema import FieldDefinition as FD, FieldType as FT

    vschema = StreamSchema([FD("payload", FT.VARIABLE_WIDTH_BYTES, size=8)])
    vals = [b"x" * (i % 7 + 1) for i in range(500)]
    w = StreamWriter(log).initialize("bfv", vschema)
    w.write(np.frombuffer(b"".join(vals), dtype=np.uint8),
            sizes=np.array([len(v) for v in vals], dtype=np.int64))
    w.stop()
    vres = StreamReader(log).initialize("bfv").read(1000, timeout_ms=100)
    assert vres.count == 500
    np.testing.assert_array_equal(vres.sizes, [len(v) for v in vals])
    assert vres.samples.tobytes() == b"".join(vals)
    # throughput: framed write must be >10x the per-sample wire
    n = 100_000
    schema = StreamSchema([FD("v", FT.DOUBLE)])
    big = np.zeros(n, dtype=schema.dtype())

    def rate(backend, name):
        wl = StreamLog(backend=backend)
        ww = StreamWriter(wl, batch_size=10_240).initialize(name, schema)
        t0 = _time.perf_counter()
        ww.write(big)
        ww.stop()
        return n / (_time.perf_counter() - t0)

    framed_rate = rate(framed, "tp_framed")
    sample_rate = rate(RedisBackend(host, port), "tp_sample")
    assert framed_rate > 10 * sample_rate, (framed_rate, sample_rate)


def test_xadd_rejects_reused_id_after_xdel(server):
    """Real Redis persists the last-generated id across XDEL of the tail;
    mini-redis must too, or tests would pass on writes a stock server
    rejects (the sink abort/re-append path)."""
    from river_spark.transport.resp import RespClient, RespError

    host, port = server
    c = RespClient(host, port)
    c.command("XADD", "hw", "5-0", "val", "x")
    c.command("XDEL", "hw", "5-0")
    with pytest.raises(RespError):
        c.command("XADD", "hw", "5-0", "val", "y")
    with pytest.raises(RespError):  # equal-or-smaller still enforced
        c.command("XADD", "hw", "4-9", "val", "y")
    c.command("XADD", "hw", "5-1", "val", "z")  # strictly newer: fine
    # explicit 0-0 on a fresh stream is rejected like real redis
    with pytest.raises(RespError):
        c.command("XADD", "hw2", "0-0", "val", "x")


def test_pipelined_drain_survives_mid_window_error(server):
    """An -ERR reply inside a pipelined XADD window must not desync the
    shared connection: every reply is drained, the first error raises,
    and the connection still answers the next command correctly."""
    from river_spark.transport.resp import RespError

    host, port = server
    b = RedisBackend(host, port)
    b._conn().command("FLUSHALL")
    log = StreamLog(backend=b)
    _schema_, arr = _write(log, "drain", n=10, batch_size=100)
    # re-appending the same ids -> every XADD in the window errors
    with pytest.raises(RespError):
        b.append_batch("drain", 0, 0, arr.tobytes(), 10, key_ms=1, key_seq0=0, sizes=None)
    # connection is still in sync: a normal command answers sanely
    assert b.read_metadata("drain") is not None
    assert log.list_streams() == ["drain"]


def _require_river_module(host, port):
    """Skip on real servers without the compiled river module loaded
    (mini_redis always implements the commands)."""
    from river_spark.transport.resp import RespError

    c = RespClient(host, port)
    try:
        c.command("RIVER.batch_xadd_compressed", "__module_probe", "0", "0", b"")
    except RespError as e:
        if "unknown command" in str(e).lower():
            pytest.skip("server lacks the river redis module")
    finally:
        c.close()


def test_module_compressed_write_layout_and_roundtrip(server):
    """module_framing=True must put compressed batches on the wire in the
    reference server module's exact layout (river_redismodule.c:63-131):
    per batch, ONE blob entry with fields i=<index_start>/val=<blob>
    followed by n-1 entries with i=<index>/reference=<blob entry id> —
    the shape the reference reader's lookahead cache consumes
    (cpp/src/reader.cpp:215-232,291-334) — and still round-trip
    bit-exactly through our own reader."""
    from river_spark.transport.compression import CompressionMode, Compressor

    host, port = server
    _require_river_module(host, port)
    b = RedisBackend(host, port, module_framing=True)
    b._conn().command("FLUSHALL")
    log = StreamLog(backend=b)
    schema = _schema()
    w = StreamWriter(
        log, compression=Compressor(CompressionMode.ZLIB_LOSSLESS), batch_size=40
    )
    w.initialize("modcomp", schema)
    arr = np.zeros(100, dtype=schema.dtype())
    arr["a"] = np.arange(100)
    arr["b"] = np.cos(np.arange(100))
    w.write(arr)
    w.stop()

    raw = RespClient(host, port)
    entries = raw.command("XRANGE", "modcomp-0", "-", "+")
    batches, cur = [], None  # cur = (blob_id, [sample indices])
    for raw_id, flat in entries:
        f = {k: v for k, v in zip(flat[::2], flat[1::2])}
        if b"eof" in f:
            continue
        if b"val" in f:
            if cur:
                batches.append(cur)
            cur = (raw_id, [int(f[b"i"])])
            assert len(f[b"val"]) > 0 and b"n" not in f  # module layout, not batch_val/n
        else:
            assert f[b"reference"] == cur[0]  # points at its batch's blob entry
            cur[1].append(int(f[b"i"]))
    if cur:
        batches.append(cur)
    # 100 samples in batches of 40 -> 40/40/20; indices are contiguous runs
    assert [len(idx) for _bid, idx in batches] == [40, 40, 20]
    flat_idx = [i for _bid, idx in batches for i in idx]
    assert flat_idx == list(range(100))

    res = StreamReader(StreamLog(backend=RedisBackend(host, port))).initialize(
        "modcomp"
    ).read(200, timeout_ms=100)
    assert res.count == 100
    np.testing.assert_array_equal(res.samples["a"], arr["a"])
    np.testing.assert_array_equal(res.samples["b"], arr["b"])


def test_foreign_module_compressed_stream_is_readable(server, backend):
    """A compressed stream laid down exactly as the reference writer +
    server module would (metadata hash with compression_params_json,
    RIVER.batch_xadd_compressed per batch, eof entry) must read back
    through StreamReader with transparent decompression — the round-6
    parity gap: both the entry layout (blob + reference chain) and the
    codec self-configuration from metadata."""
    from river_spark.transport.compression import CompressionMode, Compressor

    _require_river_module(backend.host, backend.port)
    raw = RespClient(backend.host, backend.port)
    schema = _schema()
    comp = Compressor(CompressionMode.ZLIB_LOSSLESS, {"sample_size": schema.sample_size()})
    raw.command(
        "HSET", "fcomp-metadata",
        "first_stream_key", "fcomp-0",
        "schema", schema.to_json(),
        "initialized_at_us", "1723500000000000",
        "user_metadata", "{}",
        "compression_params_json", comp.params_json(),
    )
    arr = np.zeros(90, dtype=schema.dtype())
    arr["a"] = np.arange(90) * 3
    arr["b"] = np.sin(np.arange(90) / 7)
    for lo in (0, 40, 80):  # three module batches: 40 + 40 + 10 samples
        n = min(40, 90 - lo)
        blob = comp.compress(arr[lo:lo + n].tobytes())
        raw.command(
            "RIVER.batch_xadd_compressed", "fcomp-0", str(lo), str(n), blob
        )
    raw.command("XADD", "fcomp-0", "*", "eof", "1", "sample_index", "89")

    r = StreamReader(StreamLog(backend=backend)).initialize("fcomp", timeout_ms=1000)
    res = r.read(200, timeout_ms=100)
    assert res.count == 90
    np.testing.assert_array_equal(res.samples["a"], arr["a"])
    np.testing.assert_array_equal(res.samples["b"], arr["b"])
    assert r.read(1, timeout_ms=10).eof


def test_foreign_module_fixed_and_variable_streams_readable(server, backend):
    """Streams laid down through the module's PER-SAMPLE commands
    (RIVER.batch_xadd / RIVER.batch_xadd_variable — the reference
    writer's module fast path for uncompressed data) must read back
    through StreamReader exactly: server-assigned IDs, i/val field
    layout, little-endian int32 sizes framing on the variable path."""
    import struct

    _require_river_module(backend.host, backend.port)
    raw = RespClient(backend.host, backend.port)

    # fixed-width via RIVER.batch_xadd
    schema = _schema()
    raw.command(
        "HSET", "modfix-metadata",
        "first_stream_key", "modfix-0",
        "schema", schema.to_json(),
        "initialized_at_us", "1723500000000000",
        "user_metadata", "{}",
    )
    arr = np.zeros(25, dtype=schema.dtype())
    arr["a"] = np.arange(25) * 2
    arr["b"] = np.arange(25) * 0.25
    raw.command(
        "RIVER.batch_xadd", "modfix-0", "0", "25",
        str(schema.sample_size()), arr.tobytes(),
    )
    raw.command("XADD", "modfix-0", "*", "eof", "1", "sample_index", "24")
    res = StreamReader(StreamLog(backend=backend)).initialize("modfix").read(
        100, timeout_ms=100
    )
    assert res.count == 25
    np.testing.assert_array_equal(res.samples["a"], arr["a"])
    np.testing.assert_array_equal(res.samples["b"], arr["b"])

    # variable-width via RIVER.batch_xadd_variable (int32 LE sizes)
    vschema = StreamSchema(
        [FieldDefinition("v", FieldType.VARIABLE_WIDTH_BYTES, size=32)]
    )
    raw.command(
        "HSET", "modvar-metadata",
        "first_stream_key", "modvar-0",
        "schema", vschema.to_json(),
        "initialized_at_us", "1723500000000000",
        "user_metadata", "{}",
    )
    payloads = [b"alpha", b"", b"bee", b"longest-payload!"]
    sizes = struct.pack(f"<{len(payloads)}i", *[len(p) for p in payloads])
    raw.command(
        "RIVER.batch_xadd_variable", "modvar-0", "0", sizes, b"".join(payloads)
    )
    raw.command(
        "XADD", "modvar-0", "*", "eof", "1", "sample_index", str(len(payloads) - 1)
    )
    vres = StreamReader(StreamLog(backend=backend)).initialize("modvar").read(
        100, timeout_ms=100
    )
    assert vres.count == len(payloads)
    np.testing.assert_array_equal(vres.sizes, [len(p) for p in payloads])
    offs = np.concatenate([[0], np.cumsum([len(p) for p in payloads])])
    got = [vres.samples[offs[i]:offs[i + 1]].tobytes() for i in range(len(payloads))]
    assert got == payloads


def test_module_compressed_rollover_and_tail_probes(server):
    """Module-framed compressed batches interleaved with segment
    rollover: tombstones sit between blob/reference chains, the reader
    follows every transition bit-exactly, and the O(1) tail probes
    (last_batch_info) understand reference entries."""
    from river_spark.transport.compression import CompressionMode, Compressor

    host, port = server
    _require_river_module(host, port)
    b = RedisBackend(host, port, module_framing=True)
    b._conn().command("FLUSHALL")
    log = StreamLog(backend=b)
    schema = StreamSchema([FieldDefinition("x", FieldType.DOUBLE)])
    w = StreamWriter(
        log,
        compression=Compressor(CompressionMode.ZLIB_LOSSLESS),
        batch_size=32,
        entries_per_segment=64,
    )
    w.initialize("mod_roll", schema)
    arr = np.zeros(300, dtype=schema.dtype())
    arr["x"] = np.arange(300.0)
    w.write(arr)
    w.stop()

    r = StreamReader(StreamLog(backend=RedisBackend(host, port))).initialize("mod_roll")
    transitions = []
    r.add_listener(lambda old, new: transitions.append((old, new)))
    res = r.read(1000, timeout_ms=200)
    assert res.count == 300
    np.testing.assert_array_equal(res.samples["x"], arr["x"])
    assert transitions == [(0, 1), (1, 2), (2, 3), (3, 4)]
    # tail probes must parse reference entries (64 samples per segment)
    info = b.last_batch_info("mod_roll", 0)
    assert info is not None and info[0] == 64


def test_spark_batch_read_module_compressed_stream(spark, server):
    """format('river') batch read over a MODULE-layout compressed redis
    stream: the DataSource's per-batch transparent decompression must
    compose with the blob+reference entry layout (executors read
    modframed handles, decompress from compression_params_json)."""
    from river_spark.sources import register
    from river_spark.transport.compression import CompressionMode, Compressor

    host, port = server
    _require_river_module(host, port)
    register(spark)
    b = RedisBackend(host, port, module_framing=True)
    b._conn().command("FLUSHALL")
    log = StreamLog(backend=b)
    schema = _schema()
    w = StreamWriter(
        log, compression=Compressor(CompressionMode.ZLIB_LOSSLESS), batch_size=100
    )
    w.initialize("spark_modcomp", schema)
    arr = np.zeros(500, dtype=schema.dtype())
    arr["a"] = np.arange(500)
    arr["b"] = np.arange(500) * 0.5
    w.write(arr)
    w.stop()
    df = (
        spark.read.format("river")
        .option("redis", f"{host}:{port}")
        .option("stream", "spark_modcomp")
        .load()
    )
    assert df.count() == 500
    assert df.agg({"a": "sum"}).collect()[0][0] == sum(range(500))


def test_spark_sink_module_framing_emits_reference_layout(spark, server):
    """End-to-end DataSource pin for the module wire contract: a
    ``format("river")`` WRITE with ``moduleFraming=true`` into a
    compressed stream must land on the wire in the reference server
    module's exact entry layout — one blob entry (fields i/val) per
    batch followed by per-sample reference entries
    (/root/reference/cpp/src/redismodule/river_redismodule.c:63-131) —
    not the plain per-sample or batch_val fallback. Pinning this at the
    Spark level keeps the DataSource path from drifting off the
    backend contract test_module_compressed_write_layout_and_roundtrip
    already pins at the transport level."""
    from river_spark.sources import register
    from river_spark.transport.compression import CompressionMode, Compressor

    host, port = server
    _require_river_module(host, port)
    register(spark)
    b = RedisBackend(host, port, module_framing=True)
    b._conn().command("FLUSHALL")
    schema = _schema()
    # seed a compressed stream (left open: no EOF) so the sink inherits
    # compression_params_json from stream metadata on append
    w = StreamWriter(
        StreamLog(backend=b),
        compression=Compressor(CompressionMode.ZLIB_LOSSLESS),
        batch_size=50,
    )
    w.initialize("spark_modsink", schema)
    seed = np.zeros(50, dtype=schema.dtype())
    seed["a"] = np.arange(50)
    seed["b"] = np.arange(50) * 2.0
    w.write(seed)

    df = spark.range(50, 250, 1, 4).selectExpr("id AS a", "CAST(id * 2.0 AS double) AS b")
    (
        df.write.format("river")
        .option("redis", f"{host}:{port}")
        .option("stream", "spark_modsink")
        .option("moduleFraming", "true")
        .option("batchSize", "50")
        .mode("append")
        .save()
    )

    # raw wire: every data entry is a blob (i/val) or a reference —
    # 50-sample batches => 5 blobs total (1 seed + 4 spark partitions),
    # each followed by 49 references at contiguous indices
    raw = RespClient(host, port)
    entries = raw.command("XRANGE", "spark_modsink-0", "-", "+")
    raw.close()
    blobs, refs, indices = [], 0, []
    for raw_id, flat in entries:
        f = {k: v for k, v in zip(flat[::2], flat[1::2])}
        if b"eof" in f or b"tombstone" in f:
            continue
        indices.append(int(f[b"i"]))
        if b"val" in f:
            assert b"n" not in f and b"batch_val" not in f  # module, not fallback
            blobs.append(raw_id)
        else:
            assert f[b"reference"] in blobs  # points at an earlier blob entry
            refs += 1
    assert len(blobs) == 5 and refs == 245
    assert sorted(indices) == list(range(250))
    # blob payloads are genuinely compressed (decompressible, 800 B raw)
    comp = Compressor(CompressionMode.ZLIB_LOSSLESS)
    for raw_id, flat in entries:
        f = {k: v for k, v in zip(flat[::2], flat[1::2])}
        if b"val" in f and b"eof" not in f:
            assert len(comp.decompress(f[b"val"])) == 50 * 16

    # ...and both read paths agree on the values
    res = StreamReader(StreamLog(backend=RedisBackend(host, port))).initialize(
        "spark_modsink"
    ).read(500, timeout_ms=200)
    assert res.count == 250
    np.testing.assert_array_equal(np.sort(res.samples["a"]), np.arange(250))
    back = (
        spark.read.format("river")
        .option("redis", f"{host}:{port}")
        .option("stream", "spark_modsink")
        .load()
    )
    assert back.count() == 250
    assert back.agg({"a": "sum"}).collect()[0][0] == sum(range(250))


def test_seg_scans_evict_on_segment_advance(server, backend):
    """The incremental listing cache must stay one segment deep per
    STREAM per thread: a reader following a long rolling stream would
    otherwise retain every visited segment's raw entries (payload bytes
    included) — O(stream) memory, not the O(segment) the docstring
    promises. Advancing to a new segment drops the stream's older scan
    state but leaves other streams' state alone."""
    log = StreamLog(backend=backend)
    _write(log, "roll", n=10, entries_per_segment=4, batch_size=3)
    _write(log, "other", n=4, stop=False)
    log.list_batches("other", 0)
    segs = log.list_segments("roll")
    assert len(segs) >= 2
    for seg in segs:
        log.list_batches("roll", seg)
        scans = backend._local.seg_scans
        assert [k for k in scans if k[0] == "roll"] == [("roll", seg)]
    # the parallel stream's state survives the rolls
    assert ("other", 0) in backend._local.seg_scans


def test_delete_segment_invalidates_scan_state(server, backend):
    """delete_segment must drop this thread's incremental listing state,
    mirroring delete_batch: finalize frees the stream name for reuse, so
    a stale XRANGE cursor + accumulated runs from the deleted generation
    would otherwise be merged with the NEW generation's entries into
    phantom listings."""
    log = StreamLog(backend=backend)
    _write(log, "regen", n=6, stop=False, batch_size=3)
    gen1 = log.list_batches("regen", 0)
    assert sum(c for _s, c, _m, _q, _h in gen1) == 6
    backend.delete_segment("regen", 0)
    # generation 2 reuses the name: fresh entries restart at index 0
    itemsize = _schema().dtype().itemsize
    backend.append_batch(
        "regen", 0, 0, b"\x00" * (2 * itemsize), 2, key_ms=99, key_seq0=0, sizes=None
    )
    gen2 = log.list_batches("regen", 0)
    assert [(s, c) for s, c, _m, _q, _h in gen2] == [(0, 2)]


def test_spark_batch_read_packs_redis_batches(spark, server, backend):
    """Over the redis locator too, a batch read packs the stream's 33
    stored batches into at most one split per planning core (one
    connection per task) and returns every sample once, in order."""
    from river_spark.sources import register
    from river_spark.sources import river_source
    from river_spark.sources.river_source import RiverBatchReader

    log = StreamLog(backend=backend)
    _schema_, arr = _write(log, "packed", n=33 * 40, batch_size=40)
    assert sum(len(log.list_batches("packed", s)) for s in log.list_segments("packed")) == 33
    host, port = server
    url = f"{host}:{port}"
    parts = RiverBatchReader({"redis": url, "stream": "packed"}).partitions()
    assert 1 <= len(parts) <= river_source._planning_cores()
    assert [s[1] + s[4] for p in parts for s in p.slices] == [40 * i for i in range(33)]
    register(spark)
    rows = (
        spark.read.format("river").option("redis", url).option("stream", "packed").load()
        .orderBy("sample_index").select("sample_index", "a", "b").collect()
    )
    assert [r.sample_index for r in rows] == list(range(len(arr)))
    assert [r.a for r in rows] == arr["a"].tolist()
    assert [r.b for r in rows] == arr["b"].tolist()
