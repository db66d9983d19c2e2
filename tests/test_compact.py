"""Size-tiered compaction: plan shape, data equality, order/resume
invariants, and crash-window recovery for both halves of the protocol."""

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from river_spark.ingest.compact import compact_parts, plan_compaction, recover
from river_spark.ingest.ingester import IngestResult, SingleStreamIngester
from river_spark.ingest.settings import StreamIngestionSettings
from river_spark.schema import FieldDefinition, FieldType, StreamSchema
from river_spark.transport import StreamLog, StreamWriter


def _schema():
    return StreamSchema([FieldDefinition("v", FieldType.DOUBLE)])


def _settings():
    return StreamIngestionSettings(bytes_per_row_group=8 * 25)  # 25 rows/file


def _read_all(d):
    import duckdb

    return duckdb.sql(
        f"SELECT v FROM read_parquet('{d}/data_*.parquet') ORDER BY sample_index"
    ).fetchnumpy()["v"]


def _part_names(d):
    return sorted(f for f in os.listdir(d) if f.startswith("data_") and f.endswith(".parquet"))


@pytest.fixture()
def parts_dir(tmp_path):
    """A LIVE stream (no EOF) ingested into 8 small part files, plus the
    still-open writer for continuation scenarios."""
    log = StreamLog(str(tmp_path / "store"))
    w = StreamWriter(log).initialize("c", _schema())
    arr = np.zeros(200, dtype=_schema().dtype())
    arr["v"] = np.arange(200.0)
    w.write(arr)
    out = str(tmp_path / "out")
    res = SingleStreamIngester(log, out, "c", _settings(), stalled_timeout_ms=50).ingest()
    assert res is IngestResult.IN_PROGRESS
    d = os.path.join(out, "c")
    assert len(_part_names(d)) == 8  # 200 rows / 25 per file
    return log, d, arr, w, out


def test_plan_is_contiguous_and_skips_right_sized():
    parts = [("data_0", 10), ("data_1", 10), ("data_2", 100), ("data_3", 10), ("data_4", 10)]
    groups = plan_compaction(parts, target_bytes=50)
    assert groups == [["data_0", "data_1"], ["data_3", "data_4"]]
    # a lone small file is not worth a rewrite
    assert plan_compaction([("data_0", 10)], 50) == []


def test_compaction_preserves_data_and_order(parts_dir):
    _log, d, arr, _w, _out = parts_dir
    before = _read_all(d)
    part_size = os.path.getsize(os.path.join(d, _part_names(d)[0]))
    stats = compact_parts(d, target_bytes=part_size * 4 + 1)
    after = _read_all(d)
    np.testing.assert_array_equal(before, after)
    np.testing.assert_array_equal(after, arr["v"])
    assert stats["files_after"] < stats["files_before"] == 8
    # surviving names still ascend with sample order
    names = _part_names(d)
    firsts = [
        pq.read_table(os.path.join(d, n), columns=["sample_index"]).column(0)[0].as_py()
        for n in names
    ]
    assert firsts == sorted(firsts)


def test_resume_after_compaction_continues_cleanly(parts_dir):
    """Compaction takes the LAST member's name, so the resume file index
    (derived from the last surviving name) can never collide with a freed
    index; ingest continues in order and finalizes with complete data."""
    log, d, arr, w, out = parts_dir
    part_size = os.path.getsize(os.path.join(d, _part_names(d)[0]))
    compact_parts(d, target_bytes=part_size * 4 + 1)
    arr2 = np.zeros(30, dtype=_schema().dtype())
    arr2["v"] = np.arange(200.0, 230.0)
    w.write(arr2)
    w.stop()
    res = SingleStreamIngester(log, out, "c", _settings(), stalled_timeout_ms=50).ingest()
    assert res is IngestResult.COMPLETED
    final = pq.read_table(os.path.join(d, "data.parquet"))
    np.testing.assert_array_equal(final.column("v").to_numpy(), np.arange(230.0))
    np.testing.assert_array_equal(final.column("sample_index").to_numpy(), np.arange(230))


def test_recovery_both_crash_windows(parts_dir):
    _log, d, arr, _w, _out = parts_dir
    names = _part_names(d)
    # window 1: tmp + journal written, crash BEFORE the atomic replace
    g = names[:2]
    merged_tmp = os.path.join(d, g[-1] + ".compact.tmp")
    with open(merged_tmp, "wb") as f:
        f.write(b"partial")
    with open(os.path.join(d, f"_compact_journal_{g[-1]}.json"), "w") as f:
        json.dump({"target": g[-1], "absorbed": g[:-1]}, f)
    assert recover(d) == 1
    assert not os.path.exists(merged_tmp)
    assert _part_names(d) == names  # rolled back, nothing lost
    np.testing.assert_array_equal(_read_all(d), arr["v"])

    # window 2: replace happened (target holds merged), crash before unlinks
    t0, t1 = names[0], names[1]
    merged = pa.concat_tables(
        [pq.read_table(os.path.join(d, t0)), pq.read_table(os.path.join(d, t1))]
    )
    pq.write_table(merged, os.path.join(d, t1))  # t1 := merged(t0, t1)
    with open(os.path.join(d, f"_compact_journal_{t1}.json"), "w") as f:
        json.dump({"target": t1, "absorbed": [t0]}, f)
    # mid-crash state on disk has t0's rows twice; recovery removes t0
    assert recover(d) == 1
    assert t0 not in _part_names(d)
    np.testing.assert_array_equal(_read_all(d), arr["v"])


def test_compact_parts_runs_recovery_first(parts_dir):
    _log, d, arr, _w, _out = parts_dir
    names = _part_names(d)
    with open(os.path.join(d, names[0] + ".compact.tmp"), "wb") as f:
        f.write(b"junk")
    with open(os.path.join(d, f"_compact_journal_{names[0]}.json"), "w") as f:
        json.dump({"target": names[0], "absorbed": []}, f)
    stats = compact_parts(d, target_bytes=10_000_000)
    assert stats["recovered"] == 1
    np.testing.assert_array_equal(_read_all(d), arr["v"])


def test_plan_merges_parts_larger_than_half_target():
    """A group may overshoot the target by its last member — otherwise
    adjacent 70MB parts at a 128MB target would never compact."""
    parts = [(f"data_{i}", 70) for i in range(4)]
    assert plan_compaction(parts, target_bytes=128) == [
        ["data_0", "data_1"],
        ["data_2", "data_3"],
    ]


def test_recover_cleans_truncated_journal_and_orphan_tmp(parts_dir):
    _log, d, arr, _w, _out = parts_dir
    names = _part_names(d)
    # crash mid-journal-write: truncated .json.tmp + its data tmp
    with open(os.path.join(d, f"_compact_journal_{names[1]}.json.tmp"), "w") as f:
        f.write('{"target": "data_')  # truncated JSON
    with open(os.path.join(d, names[1] + ".compact.tmp"), "wb") as f:
        f.write(b"merged-but-unjournaled")
    # crash before ANY journal: orphan tmp alone
    with open(os.path.join(d, names[3] + ".compact.tmp"), "wb") as f:
        f.write(b"orphan")
    assert recover(d) == 3
    leftovers = [f for f in os.listdir(d) if ".compact.tmp" in f or "_compact_journal_" in f]
    assert leftovers == []
    np.testing.assert_array_equal(_read_all(d), arr["v"])


def test_recover_cleans_tmp_of_a_crashed_merge_write(parts_dir):
    """A crash while the merged file is still being written leaves the
    writer's own temp (``.compact.tmp.inprogress``), no journal: a
    rollback."""
    _log, d, arr, _w, _out = parts_dir
    names = _part_names(d)
    with open(os.path.join(d, names[1] + ".compact.tmp.inprogress"), "wb") as f:
        f.write(b"half-written")
    assert recover(d) == 1
    assert [f for f in os.listdir(d) if ".compact.tmp" in f] == []
    assert _part_names(d) == names
    np.testing.assert_array_equal(_read_all(d), arr["v"])
