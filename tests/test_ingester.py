"""Ingester tests — port of cpp/ingester/src/ingester_test.cpp scenarios:
write→ingest→read-Parquet round trip, sample_index contiguity + key strict
ordering, tombstoned streams, variable binary incl. empty, partial ingest →
IN_PROGRESS then resume → COMPLETED, column black/whitelist, metadata
removed after EOF ingest."""

import os

import numpy as np
import pyarrow.parquet as pq
import pytest

from river_spark.ingest import IngestResult, IngesterSettings, StreamIngester, StreamIngestionSettings
from river_spark.ingest.ingester import SingleStreamIngester
from river_spark.schema import FieldDefinition, FieldType, StreamSchema
from river_spark.transport import StreamLog, StreamWriter


@pytest.fixture
def log(tmp_path):
    return StreamLog(str(tmp_path / "store"))


@pytest.fixture
def out(tmp_path):
    return str(tmp_path / "out")


def multi_schema():
    return StreamSchema(
        [
            FieldDefinition("d", FieldType.DOUBLE),
            FieldDefinition("i32", FieldType.INT32),
            FieldDefinition("i64", FieldType.INT64),
        ]
    )


def write_stream(log, name, n=200, stop=True, entries_per_segment=1 << 24):
    schema = multi_schema()
    w = StreamWriter(log, batch_size=16, entries_per_segment=entries_per_segment).initialize(name, schema)
    arr = np.zeros(n, dtype=schema.dtype())
    arr["d"] = np.arange(n) * 0.5
    arr["i32"] = np.arange(n)
    arr["i64"] = np.arange(n) * 3
    w.write(arr)
    if stop:
        w.stop()
    return w, arr


def default_settings(**kw):
    return StreamIngestionSettings(minimum_age_seconds_before_deletion=0, **kw)


def test_roundtrip_and_system_columns(log, out):
    _, arr = write_stream(log, "s1")
    res = SingleStreamIngester(log, out, "s1", default_settings()).ingest()
    assert res is IngestResult.COMPLETED
    t = pq.read_table(os.path.join(out, "s1", "data.parquet"))
    assert t.column_names == ["sample_index", "key", "timestamp_ms", "d", "i32", "i64"]
    idx = t.column("sample_index").to_numpy()
    np.testing.assert_array_equal(idx, np.arange(200))  # contiguous from 0
    keys = t.column("key").to_pylist()
    parsed = [tuple(map(int, k.split("-"))) for k in keys]
    assert parsed == sorted(parsed) and len(set(parsed)) == len(parsed)  # strictly increasing
    np.testing.assert_array_equal(t.column("d").to_numpy(), arr["d"])
    ts = t.column("timestamp_ms").to_numpy()
    assert all(ts[i] == parsed[i][0] for i in range(len(ts)))
    # metadata.json written; stream metadata dropped from the log
    assert os.path.exists(os.path.join(out, "s1", "metadata.json"))
    assert log.read_metadata("s1") is None


def test_tombstoned_stream(log, out):
    _, arr = write_stream(log, "seg", n=150, entries_per_segment=40)
    res = SingleStreamIngester(log, out, "seg", default_settings()).ingest()
    assert res is IngestResult.COMPLETED
    t = pq.read_table(os.path.join(out, "seg", "data.parquet"))
    np.testing.assert_array_equal(t.column("sample_index").to_numpy(), np.arange(150))
    np.testing.assert_array_equal(t.column("d").to_numpy(), arr["d"])


def test_variable_width_including_empty(log, out):
    schema = StreamSchema([FieldDefinition("v", FieldType.VARIABLE_WIDTH_BYTES, size=32)])
    w = StreamWriter(log).initialize("vw", schema)
    payloads = [b"abc", b"", b"defg", b"Z"]
    w.write(np.frombuffer(b"".join(payloads), np.uint8), sizes=np.array([len(p) for p in payloads]))
    w.stop()
    res = SingleStreamIngester(log, out, "vw", default_settings()).ingest()
    assert res is IngestResult.COMPLETED
    t = pq.read_table(os.path.join(out, "vw", "data.parquet"))
    assert t.column("v").to_pylist() == payloads


def test_partial_then_resume(log, out):
    w, arr = write_stream(log, "resume", n=100, stop=False)
    ing = SingleStreamIngester(log, out, "resume", default_settings(), stalled_timeout_ms=50)
    assert ing.ingest() is IngestResult.IN_PROGRESS
    # more data + EOF, then a fresh ingester resumes where the first left off
    arr2 = np.zeros(50, dtype=w.schema.dtype())
    arr2["d"] = np.arange(100, 150) * 0.5
    arr2["i32"] = np.arange(100, 150)
    arr2["i64"] = np.arange(100, 150) * 3
    w.write(arr2)
    w.stop()
    ing2 = SingleStreamIngester(log, out, "resume", default_settings(), stalled_timeout_ms=50)
    assert ing2.ingest() is IngestResult.COMPLETED
    t = pq.read_table(os.path.join(out, "resume", "data.parquet"))
    np.testing.assert_array_equal(t.column("sample_index").to_numpy(), np.arange(150))
    np.testing.assert_array_equal(t.column("i64").to_numpy(), np.arange(150) * 3)


def test_column_whitelist_blacklist(log, out):
    write_stream(log, "wl")
    s = default_settings(columns_whitelist=["d", "i64"])
    SingleStreamIngester(log, out, "wl", s).ingest()
    t = pq.read_table(os.path.join(out, "wl", "data.parquet"))
    assert t.column_names == ["sample_index", "key", "timestamp_ms", "d", "i64"]

    write_stream(log, "bl")
    s = default_settings(columns_blacklist=["i.*"])
    SingleStreamIngester(log, out, "bl", s).ingest()
    t = pq.read_table(os.path.join(out, "bl", "data.parquet"))
    assert t.column_names == ["sample_index", "key", "timestamp_ms", "d"]


def test_row_group_splitting(log, out):
    # tiny row groups force multiple part files before compaction
    write_stream(log, "rg", n=500)
    s = default_settings(bytes_per_row_group=100 * multi_schema().sample_size())
    res = SingleStreamIngester(log, out, "rg", s).ingest()
    assert res is IngestResult.COMPLETED
    t = pq.read_table(os.path.join(out, "rg", "data.parquet"))
    assert t.num_rows == 500
    np.testing.assert_array_equal(t.column("sample_index").to_numpy(), np.arange(500))


def test_orchestrator_regex_routing(log, out):
    write_stream(log, "keep_a")
    write_stream(log, "skip_b")
    settings = IngesterSettings(streams=[default_settings(stream_name_regex="keep_.*")])
    ing = StreamIngester(log, out, settings)
    ing.ingest()
    results = ing.wait_all()
    assert results["keep_a"] is IngestResult.COMPLETED
    assert "skip_b" not in results
    assert not os.path.exists(os.path.join(out, "skip_b"))


def test_stale_stream_auto_eof(log, out):
    write_stream(log, "stale", n=20, stop=False)  # no EOF
    settings = IngesterSettings(streams=[default_settings()], stale_period_ms=0)
    ing = StreamIngester(log, out, settings)
    ing.ingest()
    results = ing.wait_all()
    assert results["stale"] is IngestResult.COMPLETED
    t = pq.read_table(os.path.join(out, "stale", "data.parquet"))
    assert t.num_rows == 20


def test_ingest_from_memory_backend(tmp_path):
    """The ingester must work against any StorageBackend, not just files:
    finalize's filesystem sweep is a FileBackend-only nicety and must not
    crash a non-filesystem backend at the very end of a successful run."""
    import numpy as np
    import pyarrow.parquet as pq

    from river_spark.ingest.ingester import IngestResult, SingleStreamIngester
    from river_spark.schema import FieldDefinition, FieldType, StreamSchema
    from river_spark.transport import MemoryBackend, StreamLog, StreamWriter

    log = StreamLog(backend=MemoryBackend())
    schema = StreamSchema([FieldDefinition("v", FieldType.DOUBLE)])
    w = StreamWriter(log, batch_size=32)
    w.initialize("mem", schema)
    arr = np.zeros(100, dtype=schema.dtype())
    arr["v"] = np.arange(100)
    w.write(arr)
    w.stop()
    res = SingleStreamIngester(log, str(tmp_path), "mem", default_settings()).ingest()
    assert res is IngestResult.COMPLETED
    t = pq.read_table(str(tmp_path / "mem" / "data.parquet"))
    np.testing.assert_array_equal(t.column("v").to_numpy(), arr["v"])
    # stream name freed on the backend too
    assert log.read_metadata("mem") is None


def test_finalize_tiered_above_single_file_threshold(log, out):
    """The finalize layout switch (SURVEY section 7 phase-6 posture):
    above single_file_max_bytes the stream finalizes via size-tiered
    compaction in place — compacted data_*.parquet parts, NO monolithic
    data.parquet — while the default threshold keeps the reference's
    laptop-scale single-file parity (covered by every other test here)."""
    write_stream(log, "big", n=500)
    s = default_settings(
        bytes_per_row_group=100 * multi_schema().sample_size(),
        single_file_max_bytes=1,  # force the tiered path
        compact_target_bytes=1 << 20,
    )
    res = SingleStreamIngester(log, out, "big", s).ingest()
    assert res is IngestResult.COMPLETED
    d = os.path.join(out, "big")
    files = sorted(os.listdir(d))
    assert "data.parquet" not in files
    parts = [f for f in files if f.startswith("data_") and f.endswith(".parquet")]
    assert parts, files
    # 5 tiny row-group parts bin-pack into one 1 MiB-target part
    assert len(parts) == 1, parts
    t = pq.read_table(os.path.join(d, parts[0]))
    assert t.num_rows == 500
    np.testing.assert_array_equal(t.column("sample_index").to_numpy(), np.arange(500))
    assert os.path.exists(os.path.join(d, "metadata.json"))


def _dictionary_pages(path):
    md = pq.ParquetFile(path).metadata
    cols = [md.row_group(0).column(i) for i in range(md.num_columns)]
    for c in cols:  # a column without a dictionary page is all PLAIN
        assert c.has_dictionary_page or "RLE_DICTIONARY" not in c.encodings
    return {c.path_in_schema: c.has_dictionary_page for c in cols}


def test_parquet_dictionary_only_where_it_pays(log, out):
    """Ingested Parquet keeps a dictionary on every column whose values
    repeat — constant and quantized floats, flags, ``timestamp_ms`` —
    and writes plain the columns without a repeat in the rule's sample:
    ``sample_index``, ``key``, random floats, unique ids. Values are
    unchanged. 5,000 rows, so the rule samples."""
    schema = StreamSchema(
        [
            FieldDefinition("noise", FieldType.DOUBLE),
            FieldDefinition("constant", FieldType.DOUBLE),
            FieldDefinition("quantized", FieldType.FLOAT),
            FieldDefinition("id", FieldType.INT64),
            FieldDefinition("flag", FieldType.INT32),
        ]
    )
    n = 5000
    rng = np.random.default_rng(3)
    arr = np.zeros(n, dtype=schema.dtype())
    arr["noise"] = rng.standard_normal(n)
    arr["constant"] = 1.5
    arr["quantized"] = np.round(rng.standard_normal(n), 1)
    arr["id"] = rng.permutation(n) * 7919
    arr["flag"] = rng.integers(0, 2, n)
    w = StreamWriter(log, batch_size=256).initialize("dict", schema)
    w.write(arr)
    w.stop()
    res = SingleStreamIngester(log, out, "dict", default_settings()).ingest()
    assert res is IngestResult.COMPLETED
    path = os.path.join(out, "dict", "data.parquet")
    assert _dictionary_pages(path) == {
        "sample_index": False,
        "key": False,
        "timestamp_ms": True,
        "noise": False,
        "constant": True,
        "quantized": True,
        "id": False,
        "flag": True,
    }
    t = pq.read_table(path)
    for name in schema.field_names():
        np.testing.assert_array_equal(t.column(name).to_numpy(), arr[name])
    np.testing.assert_array_equal(t.column("sample_index").to_numpy(), np.arange(n))


def test_plain_columns_birthday_rule():
    """On a table larger than the sample, a column of 50,000 values
    cycling over 200,000 rows keeps its dictionary (a dictionary page
    holds it); a column with no repeat does not. A table no larger than
    the sample is judged on every row."""
    import pyarrow as pa

    from river_spark.ingest.parquet import SAMPLE_ROWS, plain_columns

    n = 200_000
    t = pa.table(
        {
            "cycle": np.arange(n) % 50_000,
            "unique": np.arange(n, dtype=np.float64),
            "text": pa.array([f"k{i % 100}" for i in range(n)]),
        }
    )
    assert plain_columns(t) == ["unique"]
    small = pa.table({"a": np.arange(SAMPLE_ROWS), "b": np.r_[np.arange(SAMPLE_ROWS - 1), 0]})
    assert plain_columns(small) == ["a"]
    assert plain_columns(small.slice(0, 0)) == []


def test_finalize_renames_lone_part(log, out, monkeypatch):
    """One part becomes ``data.parquet`` by rename (no read-back, no
    rewrite) and is then the only data file; several parts still
    concatenate."""
    import river_spark.ingest.ingester as ingester_mod

    write_stream(log, "lone", n=100)
    writes = []
    real = ingester_mod.write_parquet

    def spy(path, *args, **kwargs):
        writes.append(path)
        return real(path, *args, **kwargs)

    monkeypatch.setattr(ingester_mod, "write_parquet", spy)
    res = SingleStreamIngester(log, out, "lone", default_settings()).ingest()
    assert res is IngestResult.COMPLETED
    d = os.path.join(out, "lone")
    assert [os.path.basename(p) for p in writes] == ["data_0000000000.parquet"]
    assert sorted(f for f in os.listdir(d) if f.endswith(".parquet")) == ["data.parquet"]
    assert pq.read_table(os.path.join(d, "data.parquet")).num_rows == 100

    writes.clear()
    write_stream(log, "many", n=250)
    s = default_settings(bytes_per_row_group=100 * multi_schema().sample_size())
    assert SingleStreamIngester(log, out, "many", s).ingest() is IngestResult.COMPLETED
    d = os.path.join(out, "many")
    assert [os.path.basename(p) for p in writes][-1] == "data.parquet" and len(writes) == 4
    assert sorted(f for f in os.listdir(d) if f.endswith(".parquet")) == ["data.parquet"]
    t = pq.read_table(os.path.join(d, "data.parquet"))
    np.testing.assert_array_equal(t.column("sample_index").to_numpy(), np.arange(250))


def test_write_parquet_failed_write_leaves_no_temp(tmp_path):
    """A write that fails removes its temp and leaves the target absent."""
    import pyarrow as pa

    from river_spark.ingest.parquet import write_parquet

    target = str(tmp_path / "data.parquet")
    schema = pa.schema([pa.field("x", pa.float64())])
    bad = pa.table({"y": pa.array([1], pa.int64())})  # not of ``schema``
    with pytest.raises(ValueError):
        write_parquet(target, iter([bad]), schema=schema)
    assert os.listdir(tmp_path) == []


def test_arrow_batch_keys_equal_run_keys():
    """``arrow_batch`` keys and timestamps follow the key runs: seq0 > 0,
    two runs in the same ms, a 1-sample run, and an empty batch."""
    from river_spark.ingest.ingester import arrow_batch
    from river_spark.transport.log import run_keys

    schema = StreamSchema([FieldDefinition("v", FieldType.DOUBLE)])
    for runs in ([(3, 1700000000123, 5), (2, 1700000000123, 8), (1, 1700000000124, 0), (4, 1700000000200, 17)], []):
        n = sum(c for c, _ms, _seq0 in runs)
        samples = np.zeros(n, dtype=schema.dtype())
        batch = arrow_batch(schema, samples, None, np.arange(n), runs)
        expected = [f"{ms}-{seq0 + i}" for c, ms, seq0 in runs for i in range(c)]
        assert batch.column(1).to_pylist() == run_keys(runs) == expected
        assert batch.column(2).to_pylist() == [ms for c, ms, _seq0 in runs for _ in range(c)]


@pytest.mark.parametrize("kind", ["fixed", "variable"])
def test_multi_part_ingest_matches_written_samples(log, out, kind):
    """With row groups small enough to give several parts, the ingested
    Parquet holds exactly the written values and the keys the stored
    batches carry."""
    import pyarrow as pa

    n = 500
    if kind == "fixed":
        schema = StreamSchema(
            [FieldDefinition("d", FieldType.DOUBLE), FieldDefinition("b", FieldType.FIXED_WIDTH_BYTES, size=4)]
        )
        arr = np.zeros(n, dtype=schema.dtype())
        arr["d"] = np.cos(np.arange(n))
        arr["b"] = [i.to_bytes(4, "little") for i in range(n)]
        w = StreamWriter(log, batch_size=16, entries_per_segment=120).initialize("parts", schema)
        w.write(arr)
        columns = {"d": pa.array(arr["d"]), "b": pa.array([bytes(v) for v in arr["b"]], pa.binary(4))}
    else:
        schema = StreamSchema([FieldDefinition("v", FieldType.VARIABLE_WIDTH_BYTES, size=8)])
        payloads = [bytes([i % 251]) * (i % 9) for i in range(n)]  # every ninth empty
        w = StreamWriter(log, batch_size=16, entries_per_segment=120).initialize("parts", schema)
        w.write(np.frombuffer(b"".join(payloads), np.uint8), sizes=np.array([len(p) for p in payloads]))
        columns = {"v": pa.array(payloads, pa.binary())}
    w.stop()
    runs = [(c, ms, seq0) for seg in log.list_segments("parts") for _s, c, ms, seq0, _h in log.list_batches("parts", seg)]
    expected = pa.table(
        {
            "sample_index": pa.array(np.arange(n)),
            "key": [f"{ms}-{seq0 + i}" for c, ms, seq0 in runs for i in range(c)],
            "timestamp_ms": pa.array([ms for c, ms, _seq0 in runs for _ in range(c)], pa.int64()),
            **columns,
        }
    )

    s = default_settings(bytes_per_row_group=100 * schema.sample_size())
    assert SingleStreamIngester(log, out, "parts", s).ingest() is IngestResult.COMPLETED
    t = pq.read_table(os.path.join(out, "parts", "data.parquet"))
    assert t.num_rows == n
    for name in expected.column_names:
        assert t.column(name).to_pylist() == expected.column(name).to_pylist(), name
