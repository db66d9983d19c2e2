"""Transport tests — port of the reference's reader/writer test scenarios
(cpp/src/tests/reader_test.cpp, writer_test.cpp, integration_test.cpp):
per-type round trips, tombstone following + listeners, EOF semantics
(-1 only when drained), tail skip counts, seek incl. past-EOF,
write-after-stop, double-initialize."""

import os

import numpy as np
import pytest

from river_spark.schema import FieldDefinition, FieldType, SchemaError, StreamSchema
from river_spark.transport import MemoryBackend, RedisBackend, StreamLog, StreamReader, StreamWriter
from river_spark.transport.log import StreamExistsError, decode_key


@pytest.fixture(scope="module")
def redis_address():
    """(host, port) of a Redis-wire server: RIVER_SPARK_REDIS_URL
    (host:port) when set — a real redis-server — else the in-process
    RESP-subset server."""
    url = os.environ.get("RIVER_SPARK_REDIS_URL")
    if url:
        host, _, port = url.rpartition(":")
        yield host or "127.0.0.1", int(port)
        return
    from river_spark.testing import MiniRedisServer

    with MiniRedisServer() as (host, port):
        yield host, port


@pytest.fixture(scope="module")
def real_redis_address():
    """A private spawned redis-server (real binary). Only parametrized in
    when the binary exists, so environments without it (this container)
    see no extra skips."""
    from river_spark.testing import spawn_redis_server

    with spawn_redis_server() as addr:
        yield addr


from river_spark.testing import redis_server_binary as _redis_binary  # noqa: E402

_LOG_PARAMS = ["file", "memory", "redis"] + (["redis-real"] if _redis_binary() else [])


@pytest.fixture(params=_LOG_PARAMS)
def log(request, tmp_path):
    # the whole suite runs against ALL backends: same semantics required
    if request.param == "file":
        return StreamLog(str(tmp_path / "store"))
    if request.param == "memory":
        return StreamLog(backend=MemoryBackend())
    if request.param == "redis-real":
        # real-binary axis: private instance, ours to flush
        host, port = request.getfixturevalue("real_redis_address")
        backend = RedisBackend(host, port)
        backend._conn().command("FLUSHALL")
        return StreamLog(backend=backend)
    host, port = request.getfixturevalue("redis_address")
    if os.environ.get("RIVER_SPARK_REDIS_URL"):
        # Real server: NEVER flush the whole instance — scope the suite to
        # a dedicated logical db (default 15, RIVER_SPARK_REDIS_TEST_DB to
        # override) and clear only that db between tests.
        db = int(os.environ.get("RIVER_SPARK_REDIS_TEST_DB", "15"))
        backend = RedisBackend(host, port, db=db)
        backend._conn().command("FLUSHDB")
    else:
        backend = RedisBackend(host, port)
        backend._conn().command("FLUSHALL")  # in-process server: ours to flush
    return StreamLog(backend=backend)


def simple_schema():
    return StreamSchema([FieldDefinition("v", FieldType.DOUBLE)])


def make_samples(schema, n, start=0):
    arr = np.zeros(n, dtype=schema.dtype())
    for name in arr.dtype.names:
        kind = arr.dtype.fields[name][0].kind
        if kind in "if":
            arr[name] = np.arange(start, start + n)
    return arr


def test_write_read_roundtrip_all_types(log):
    schema = StreamSchema(
        [
            FieldDefinition("d", FieldType.DOUBLE),
            FieldDefinition("f", FieldType.FLOAT),
            FieldDefinition("i16", FieldType.INT16),
            FieldDefinition("i32", FieldType.INT32),
            FieldDefinition("i64", FieldType.INT64),
            FieldDefinition("fw", FieldType.FIXED_WIDTH_BYTES, size=3),
        ]
    )
    w = StreamWriter(log).initialize("s1", schema)
    arr = np.zeros(100, dtype=schema.dtype())
    arr["d"] = np.arange(100) * 1.5
    arr["f"] = np.arange(100, dtype=np.float32)
    arr["i16"] = np.arange(100) % 32000
    arr["i32"] = np.arange(100) * 7
    arr["i64"] = np.arange(100) * 11
    arr["fw"] = [bytes([i % 256] * 3) for i in range(100)]
    w.write(arr)
    w.stop()

    r = StreamReader(log).initialize("s1")
    res = r.read(1000, timeout_ms=100, with_keys=True)
    assert res.count == 100
    np.testing.assert_array_equal(res.samples["d"], arr["d"])
    np.testing.assert_array_equal(res.samples["i64"], arr["i64"])
    assert res.samples["fw"].tobytes() == arr["fw"].tobytes()
    np.testing.assert_array_equal(res.indices, np.arange(100))
    # keys strictly increasing
    keys = [decode_key(k) for k in res.keys]
    assert keys == sorted(keys) and len(set(keys)) == 100
    # drained + EOF -> -1 (reader_test.cpp:278-351)
    assert r.read(1, timeout_ms=10).eof


def test_variable_width_roundtrip(log):
    schema = StreamSchema([FieldDefinition("v", FieldType.VARIABLE_WIDTH_BYTES, size=64)])
    w = StreamWriter(log).initialize("vw", schema)
    payloads = [b"hello", b"", b"world!!", b"x"]
    flat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
    sizes = np.array([len(p) for p in payloads])
    w.write(flat, sizes=sizes)
    w.stop()
    r = StreamReader(log).initialize("vw")
    res = r.read(10, timeout_ms=100)
    assert res.count == 4
    np.testing.assert_array_equal(res.sizes, sizes)
    offs = np.concatenate([[0], np.cumsum(sizes)])
    got = [res.samples[offs[i] : offs[i + 1]].tobytes() for i in range(4)]
    assert got == payloads


def test_variable_width_requires_sizes(log):
    schema = StreamSchema([FieldDefinition("v", FieldType.VARIABLE_WIDTH_BYTES, size=8)])
    w = StreamWriter(log).initialize("vw2", schema)
    with pytest.raises(SchemaError):
        w.write(np.zeros(4, dtype=np.uint8))


def test_tombstone_following_and_listener(log):
    schema = simple_schema()
    w = StreamWriter(log, batch_size=10, entries_per_segment=25).initialize("seg", schema)
    w.write(make_samples(schema, 100))
    w.stop()
    r = StreamReader(log).initialize("seg")
    events = []
    r.add_listener(lambda old, new: events.append((old, new)))
    res = r.read(1000, timeout_ms=100, with_keys=True)
    assert res.count == 100
    np.testing.assert_array_equal(res.samples["v"], np.arange(100.0))
    assert events == [(0, 1), (1, 2), (2, 3)]
    assert r.read(1, timeout_ms=10).eof


def test_partial_read_timeout(log):
    schema = simple_schema()
    w = StreamWriter(log).initialize("p", schema)
    w.write(make_samples(schema, 5))
    r = StreamReader(log).initialize("p")
    res = r.read(10, timeout_ms=50)  # no EOF yet: returns partial
    assert res.count == 5
    res2 = r.read(10, timeout_ms=20)
    assert res2.count == 0 and not res2.eof
    w.stop()
    assert r.read(10, timeout_ms=20).eof


def test_tail(log):
    schema = simple_schema()
    w = StreamWriter(log, batch_size=8).initialize("t", schema)
    w.write(make_samples(schema, 50))
    r = StreamReader(log).initialize("t")
    skipped, res = r.tail(timeout_ms=100)
    assert skipped == 49
    assert res.count == 1 and res.samples["v"][0] == 49.0
    # nothing newer yet
    skipped, res = r.tail(timeout_ms=20)
    assert skipped == 0 and res is None
    w.write(make_samples(schema, 3, start=50))
    skipped, res = r.tail(timeout_ms=100)
    assert skipped == 2 and res.samples["v"][0] == 52.0
    w.stop()
    skipped, res = r.tail(timeout_ms=20)
    assert skipped == -1 and res is None


def test_seek(log):
    schema = simple_schema()
    w = StreamWriter(log, batch_size=10, entries_per_segment=30).initialize("sk", schema)
    w.write(make_samples(schema, 90))
    w.stop()
    r0 = StreamReader(log).initialize("sk")
    all_keys = []
    while True:
        res = r0.read(100, timeout_ms=50, with_keys=True)
        if res.eof or res.count == 0:
            break
        all_keys.extend(res.keys)
    assert len(all_keys) == 90

    r = StreamReader(log).initialize("sk")
    skipped = r.seek(all_keys[39])
    assert skipped == 40
    res = r.read(5, timeout_ms=50)
    np.testing.assert_array_equal(res.samples["v"], np.arange(40.0, 45.0))
    # never move backward
    assert r.seek(all_keys[10]) == 0
    # past EOF -> -1 (reader_test.cpp:638-708)
    last_ms, last_seq = decode_key(all_keys[-1])
    assert r.seek(f"{last_ms + 10_000}-{last_seq}") == -1


def test_double_initialize_raises(log):
    schema = simple_schema()
    StreamWriter(log).initialize("dup", schema)
    with pytest.raises(StreamExistsError):
        StreamWriter(log).initialize("dup", schema)


def test_write_after_stop_raises(log):
    from river_spark.transport.writer import WriterStoppedError

    schema = simple_schema()
    w = StreamWriter(log).initialize("st", schema)
    w.write(make_samples(schema, 3))
    w.stop()
    with pytest.raises(WriterStoppedError):
        w.write(make_samples(schema, 1))


def test_metadata_get_set(log):
    schema = simple_schema()
    w = StreamWriter(log).initialize("md", schema, user_metadata={"a": "1"})
    assert w.metadata() == {"a": "1"}
    w.set_metadata({"b": "2"})
    r = StreamReader(log).initialize("md")
    assert r.metadata() == {"b": "2"}


def test_list_streams(log):
    schema = simple_schema()
    StreamWriter(log).initialize("s_a", schema)
    StreamWriter(log).initialize("s_b", schema)
    assert log.list_streams() == ["s_a", "s_b"]


def test_reader_initialize_timeout(log):
    with pytest.raises(TimeoutError):
        StreamReader(log).initialize("missing", timeout_ms=30)


def test_read_aux_migrates_legacy_flat_paths(tmp_path):
    """Group cursors written before the aux-key scheme
    (_cursor_{stream}_{group}.json) must still be readable — and get
    promoted to the new _aux_ path — so a pre-upgrade cursor keeps its
    position. (Sink-commit registries intentionally do NOT migrate:
    their key gained a per-query scope; see river_source.py.)"""
    import json
    import os as _os

    root = str(tmp_path / "store")
    log = StreamLog(root)
    StreamWriter(log).initialize("mig", simple_schema())
    # legacy layouts, written by the pre-aux code verbatim
    with open(_os.path.join(root, "_cursor_mig_g1.json"), "w") as f:
        f.write(json.dumps({"index": 7}))
    with open(_os.path.join(root, "_sink_commits_mig.json"), "w") as f:
        f.write(json.dumps({"3": 700}))
    assert json.loads(log.read_aux("cursor/mig/g1"))["index"] == 7
    assert json.loads(log.read_aux("sink_commits/mig"))["3"] == 700
    # promoted: the new path now exists and wins over the legacy file
    assert _os.path.exists(_os.path.join(root, "_aux_cursor__mig__g1.json"))
    with open(_os.path.join(root, "_cursor_mig_g1.json"), "w") as f:
        f.write(json.dumps({"index": 1}))  # stale legacy write is ignored
    assert json.loads(log.read_aux("cursor/mig/g1"))["index"] == 7


def test_compression_refuses_variable_width(log):
    """The reference refuses to compress variable-width streams
    (cpp/src/writer.cpp:131-146: compression requires a fixed sample
    size); the guard must hold with the same error on every backend and
    for every non-UNCOMPRESSED mode, and must fire BEFORE any stream
    state is created."""
    from river_spark.transport.compression import CompressionMode, Compressor

    schema = StreamSchema([FieldDefinition("blob", FieldType.VARIABLE_WIDTH_BYTES, size=64)])
    for mode in (CompressionMode.ZLIB_LOSSLESS, CompressionMode.QUANT_LOSSY):
        w = StreamWriter(log, compression=Compressor(mode))
        with pytest.raises(SchemaError, match="compression is not supported for variable-width"):
            w.initialize("novarcomp", schema)
    assert log.list_streams() == []  # refusal left no metadata behind


# -- decode once: the reader holds the batch its cursor is inside ----------------
def _spy_batch_reads(monkeypatch, log) -> list[str]:
    """Record every ``StreamLog.read_batch`` handle ``log`` is asked for."""
    calls: list[str] = []
    read_batch = log.read_batch

    def spy(handle):
        calls.append(handle)
        return read_batch(handle)

    monkeypatch.setattr(log, "read_batch", spy)
    return calls


def _write_decode_stream(log, name, kind, n=1000, batch_size=100, entries_per_segment=1 << 24):
    """A ZLIB stream of int/double samples, or an uncompressed
    VARIABLE_WIDTH_BYTES stream of 0-19-byte payloads (compression is not
    supported for variable width)."""
    from river_spark.transport.compression import CompressionMode, Compressor

    if kind == "zlib":
        schema = StreamSchema([FieldDefinition("i", FieldType.INT64), FieldDefinition("v", FieldType.DOUBLE)])
        w = StreamWriter(
            log,
            batch_size=batch_size,
            entries_per_segment=entries_per_segment,
            compression=Compressor(CompressionMode.ZLIB_LOSSLESS),
        ).initialize(name, schema)
        arr = make_samples(schema, n)
        arr["v"] = np.sin(np.arange(n))
        w.write(arr)
    else:
        schema = StreamSchema([FieldDefinition("b", FieldType.VARIABLE_WIDTH_BYTES, size=32)])
        w = StreamWriter(log, batch_size=batch_size, entries_per_segment=entries_per_segment)
        w.initialize(name, schema)
        payloads = [bytes([i % 251]) * (i % 20) for i in range(n)]
        flat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        w.write(flat, sizes=np.array([len(p) for p in payloads]))
    w.stop()


def _drain(reader, n_per_read):
    """Read to EOF in ``n_per_read`` reads; the concatenated samples,
    sizes (variable width) and indices."""
    samples, sizes, indices = [], [], []
    while True:
        res = reader.read(n_per_read, timeout_ms=50)
        if res.eof:
            break
        samples.append(res.samples)
        indices.append(res.indices)
        if res.sizes is not None:
            sizes.append(res.sizes)
    return (
        np.concatenate(samples),
        np.concatenate(sizes) if sizes else None,
        np.concatenate(indices),
    )


@pytest.mark.parametrize("kind", ["zlib", "variable"])
def test_small_reads_decode_each_stored_batch_once(log, monkeypatch, kind):
    """32-sample reads over 100-sample stored batches (segment hops
    included) read and decompress each batch once, and return exactly the
    bytes one large read returns."""
    _write_decode_stream(log, "once", kind, entries_per_segment=350)
    one_read = StreamReader(log).initialize("once").read(10_000, timeout_ms=50)
    stored = [b[4] for s in log.list_segments("once") for b in log.list_batches("once", s)]

    calls = _spy_batch_reads(monkeypatch, log)
    samples, sizes, indices = _drain(StreamReader(log).initialize("once"), 32)
    assert sorted(calls) == sorted(stored)  # one call per stored batch
    np.testing.assert_array_equal(indices, np.arange(1000))
    assert samples.tobytes() == one_read.samples.tobytes()
    if kind == "variable":
        np.testing.assert_array_equal(sizes, one_read.sizes)


@pytest.mark.parametrize("kind", ["zlib", "variable"])
def test_held_batch_never_goes_stale(log, kind):
    """A read after ``seek``, ``tail`` or a segment hop returns the
    samples at the new cursor, not slices of the batch held before."""
    _write_decode_stream(log, "stale", kind, entries_per_segment=350)
    full = StreamReader(log).initialize("stale").read(10_000, timeout_ms=50, with_keys=True)

    def expect(res, first):
        """``res`` holds samples ``first..`` of the stream."""
        np.testing.assert_array_equal(res.indices, np.arange(first, first + res.count))
        if kind == "zlib":
            assert res.samples.tobytes() == full.samples[first : first + res.count].tobytes()
        else:
            offs = np.concatenate([[0], np.cumsum(full.sizes)])
            assert res.samples.tobytes() == full.samples[offs[first] : offs[first + res.count]].tobytes()

    r = StreamReader(log).initialize("stale")
    expect(r.read(32, timeout_ms=50), 0)  # cursor inside batch 0
    assert r.seek(full.keys[249]) == 218
    expect(r.read(32, timeout_ms=50), 250)  # inside batch 2, same segment
    assert r.seek(full.keys[359]) == 78  # into the next segment
    expect(r.read(32, timeout_ms=50), 360)
    # segments hold 350 samples: the read at 680 hops from segment 1 to 2
    r2 = StreamReader(log).initialize("stale")
    r2.seek(full.keys[679])
    for first in (680, 712, 744):
        expect(r2.read(32, timeout_ms=50), first)
    skipped, res = r2.tail(timeout_ms=50)
    assert skipped == 999 - 776
    expect(res, 999)


# -- reads return owned copies, bit-equal at every read size ---------------------
@pytest.mark.parametrize("read_size", [1, 32, 1536, 5000])
@pytest.mark.parametrize("compressed", [True, False], ids=["zlib", "uncompressed"])
def test_reads_of_any_size_return_owned_samples(log, compressed, read_size):
    """Over several stored batches and segments, reads of ``read_size``
    return exactly the written samples; each returned array is writable
    and owns its data, so mutating it leaves what a second reader gets
    unchanged."""
    from river_spark.transport.compression import CompressionMode, Compressor

    schema = StreamSchema(
        [
            FieldDefinition("i", FieldType.INT64),
            FieldDefinition("v", FieldType.DOUBLE),
            FieldDefinition("b", FieldType.FIXED_WIDTH_BYTES, size=3),
        ]
    )
    n = 6000
    arr = make_samples(schema, n)
    arr["v"] = np.sin(np.arange(n))
    arr["b"] = [bytes([i % 256, (i * 7) % 256, 0]) for i in range(n)]
    mode = CompressionMode.ZLIB_LOSSLESS if compressed else CompressionMode.UNCOMPRESSED
    w = StreamWriter(log, batch_size=700, entries_per_segment=2100, compression=Compressor(mode))
    w.initialize("own", schema)
    w.write(arr)
    w.stop()
    assert len(log.list_segments("own")) > 1

    r = StreamReader(log).initialize("own")
    got = []
    while True:
        res = r.read(read_size, timeout_ms=50)
        if res.eof:
            break
        assert res.samples.dtype == schema.dtype()
        assert res.samples.flags.owndata and res.samples.flags.writeable
        got.append(res.samples.copy())
        res.samples["i"] = -1  # must not reach the reader's held batch or the log
        res.samples["b"] = b"\xff\xff\xff"
    assert np.concatenate(got).tobytes() == arr.tobytes()
    again = StreamReader(log).initialize("own").read(n, timeout_ms=50)
    assert again.samples.tobytes() == arr.tobytes()
