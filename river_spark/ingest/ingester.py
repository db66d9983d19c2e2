"""Stream → Parquet ETL: the reference ingester re-expressed.

Parity with ``cpp/ingester/src/ingester.cpp``:
- Multi-stream orchestration: list the catalog, regex-route streams to
  settings, dedupe in-progress, fan out (``ingester.cpp:29-155``). Here the
  fan-out is a plain thread pool for the batch API; the Structured
  Streaming path (river_spark.streaming) uses one query per stream.
- Per-stream ETL (``ingester.cpp:213-422``): resume from the last persisted
  file, seek, read in ``samples_per_read`` chunks until a row group fills
  (``bytes_per_row_group // sample_size``) or the stream stalls/EOFs, build
  columns ``sample_index``/``key``/``timestamp_ms`` + schema fields,
  write ``data_{idx:010d}.parquet`` via temp+rename (``ingest/parquet.py``:
  Snappy, dictionary encoding only where it pays). The ``StreamReader``
  decodes each stored batch once across the ``samples_per_read`` reads
  that slice it.
- Resume (``ingester.cpp:649-711``): read the last ``data_*.parquet``,
  restart after its last key; never overwrite existing files.
- Compaction on EOF (``ingester.cpp:555-647``): concatenate all parts into
  a single ``data.parquet``, delete parts; refuse if the target exists. A
  lone part is renamed to ``data.parquet``, not read back and rewritten.
  NOTE: single-file compaction is the reference's laptop-scale behavior —
  at 100 TB the Spark path keeps size-tiered part files instead.
- Retention (``ingester.cpp:424-490``): after persisting, delete wholly
  consumed segments behind the frontier, honoring
  ``minimum_age_seconds_before_deletion``; on EOF drop stream metadata.
- Stale-stream auto-EOF (``ingester.cpp:492-539``): a stream stalled longer
  than ``stale_period_ms`` without EOF gets one appended.
- ``metadata.json`` emission (``ingester.cpp:766-793``).
"""

from __future__ import annotations

import enum
import json
import os
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from river_spark.ingest.layout import data_parts
from river_spark.ingest.parquet import write_parquet
from river_spark.ingest.settings import IngesterSettings, StreamIngestionSettings
from river_spark.schema import FieldType, StreamSchema
from river_spark.transport.log import StreamLog, is_reserved_stream, run_keys
from river_spark.transport.reader import StreamReader

_ARROW_TYPES = {
    FieldType.DOUBLE: pa.float64(),
    FieldType.FLOAT: pa.float32(),
    FieldType.INT16: pa.int16(),
    FieldType.INT32: pa.int32(),
    FieldType.INT64: pa.int64(),
}


class IngestResult(enum.Enum):
    COMPLETED = "COMPLETED"
    IN_PROGRESS = "IN_PROGRESS"


def arrow_schema(schema: StreamSchema, fields: list[str] | None = None) -> pa.Schema:
    """System columns + the (pruned) schema fields, all non-nullable
    (ingester.cpp:727-764); FIXED_WIDTH_BYTES keeps its width as
    ``fixed_size_binary[size]``."""
    cols = [
        pa.field("sample_index", pa.int64(), nullable=False),
        pa.field("key", pa.string(), nullable=False),
        pa.field("timestamp_ms", pa.int64(), nullable=False),
    ]
    for f in schema.field_definitions:
        if fields is not None and f.name not in fields:
            continue
        if f.type in _ARROW_TYPES:
            t = _ARROW_TYPES[f.type]
        elif f.type is FieldType.FIXED_WIDTH_BYTES:
            t = pa.binary(f.size)
        else:
            t = pa.binary()
        cols.append(pa.field(f.name, t, nullable=False))
    return pa.schema(cols)


def arrow_batch(
    schema: StreamSchema,
    samples: np.ndarray,
    sizes: np.ndarray | None,
    indices: np.ndarray,
    key_runs: list[tuple[int, int, int]],
    fields: list[str] | None = None,
) -> pa.RecordBatch:
    """Decoded log samples → one Arrow batch of ``arrow_schema`` columns
    (ingester.cpp:296-390). ``key_runs`` ``[(count, key_ms, key_seq0)]``
    cover the samples in order: keys are rebuilt from them, and each
    sample's ``timestamp_ms`` is its run's ms (cpp/src/redis.h:66-70)."""
    ts = np.repeat(
        np.array([ms for _n, ms, _seq0 in key_runs], dtype=np.int64),
        [n for n, _ms, _seq0 in key_runs],
    )
    arrays = [
        pa.array(indices, pa.int64()),
        pa.array(run_keys(key_runs), pa.string()),
        pa.array(ts, pa.int64()),
    ]
    for f in schema.field_definitions:
        if fields is not None and f.name not in fields:
            continue  # column pruning at ingest (A18)
        if f.type is FieldType.VARIABLE_WIDTH_BYTES:
            offs = np.concatenate([[0], np.cumsum(sizes)])
            buf = samples.tobytes()
            arrays.append(pa.array([buf[offs[i] : offs[i + 1]] for i in range(len(sizes))], pa.binary()))
        elif f.type is FieldType.FIXED_WIDTH_BYTES:
            arrays.append(pa.array([bytes(v) for v in samples[f.name]], pa.binary(f.size)))
        else:
            arrays.append(pa.array(samples[f.name], _ARROW_TYPES[f.type]))
    return pa.RecordBatch.from_arrays(arrays, schema=arrow_schema(schema, fields))


def write_output_metadata(
    log: StreamLog, stream: str, out_dir: str, settings: StreamIngestionSettings
) -> None:
    """Emit ``out_dir/metadata.json`` from the live stream metadata
    (ingester.cpp:766-793); ``columns`` are the fields ``settings`` keep."""
    meta = log.read_metadata(stream) or {}
    schema_json = meta.get("schema")
    fields = None
    if schema_json is not None:
        fields = settings.filter_fields(StreamSchema.from_json(schema_json).field_names())
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "metadata.json"), "w") as f:
        json.dump(
            {
                "stream_name": stream,
                "schema": schema_json,
                "initialized_at_us": meta.get("initialized_at_us"),
                "user_metadata": meta.get("user_metadata", {}),
                "columns": fields,
            },
            f,
        )


class SingleStreamIngester:
    def __init__(
        self,
        log: StreamLog,
        out_root: str,
        stream_name: str,
        settings: StreamIngestionSettings,
        stalled_timeout_ms: int = 1000,  # cpp/ingester/src/ingester.h:49
    ):
        self.log = log
        self.out_dir = os.path.join(out_root, stream_name)
        self.stream_name = stream_name
        self.settings = settings
        self.stalled_timeout_ms = stalled_timeout_ms

    # -- resume (ingester.cpp:649-711) ----------------------------------------
    def _read_existing_files(self) -> tuple[int, str | None]:
        """Returns (next_file_idx, last_key) — resume positioning is done
        entirely by ``reader.seek(last_key)``."""
        if not os.path.isdir(self.out_dir):
            return 0, None
        parts = data_parts(self.out_dir)
        if not parts:
            return 0, None
        last = pq.read_table(os.path.join(self.out_dir, parts[-1]), columns=["key"])
        last_key = last.column("key")[-1].as_py()
        next_file_idx = int(parts[-1][len("data_") : -len(".parquet")]) + 1
        return next_file_idx, last_key

    # -- main loop (ingester.cpp:213-422) --------------------------------------
    def ingest(self) -> IngestResult:
        reader = StreamReader(self.log)
        reader.initialize(self.stream_name, timeout_ms=1000)
        schema = reader.schema
        os.makedirs(self.out_dir, exist_ok=True)
        fields = self.settings.filter_fields(schema.field_names())

        file_idx, last_key = self._read_existing_files()
        if last_key is not None:
            if reader.seek(last_key) == -1:
                # everything already persisted and stream EOF'd
                return self._finalize()
        sample_size = max(schema.sample_size(), 1)
        rows_per_group = max(self.settings.bytes_per_row_group // sample_size, 1)

        saw_eof = False
        while True:
            indices, raws, sizes, runs = [], [], [], []
            got = 0
            while got < rows_per_group:
                res = reader.read(
                    min(self.settings.samples_per_read, rows_per_group - got),
                    timeout_ms=self.stalled_timeout_ms,
                )
                if res.eof:
                    saw_eof = True
                    break
                if res.count == 0:
                    break  # stalled
                got += res.count
                indices.append(res.indices)
                raws.append(res.samples)
                runs += res.key_runs
                if res.sizes is not None:
                    sizes.append(res.sizes)
            if got:
                batch = arrow_batch(
                    schema,
                    np.concatenate(raws),
                    np.concatenate(sizes) if sizes else None,
                    np.concatenate(indices),
                    runs,
                    fields,
                )
                path = os.path.join(self.out_dir, f"data_{file_idx:010d}.parquet")
                if os.path.exists(path):  # never overwrite (ingester.cpp:288-292)
                    raise FileExistsError(path)
                write_parquet(path, [pa.Table.from_batches([batch])])
                file_idx += 1
                self._delete_up_to(reader)
            if saw_eof:
                return self._finalize()
            if got < rows_per_group:
                return IngestResult.IN_PROGRESS

    # -- retention (ingester.cpp:424-490) -----------------------------------------
    def _delete_up_to(self, reader: StreamReader) -> None:
        """Delete wholly-consumed segments strictly behind the reader's current
        segment, if old enough."""
        min_age_s = self.settings.minimum_age_seconds_before_deletion
        now_ms = time.time() * 1000
        for seg in self.log.list_segments(self.stream_name):
            if seg >= reader._segment:
                break
            ctrl = self.log.read_control(self.stream_name, seg)
            if ctrl is None or "eof" in ctrl:
                break
            batches = self.log.list_batches(self.stream_name, seg)
            if batches:
                newest_ms = batches[-1][2]
                if (now_ms - newest_ms) / 1000 < min_age_s:
                    break
            self.log.update_metadata(self.stream_name, {"first_segment": ctrl["next_segment"]})
            self.log.delete_segment(self.stream_name, seg)

    # -- finalize: compaction + metadata.json + drop stream ------------------------
    def _finalize(self) -> IngestResult:
        final = os.path.join(self.out_dir, "data.parquet")
        parts = data_parts(self.out_dir)
        total_bytes = sum(os.path.getsize(os.path.join(self.out_dir, p)) for p in parts)
        if parts and total_bytes > self.settings.single_file_max_bytes:
            # Large stream: size-tiered compaction in place — no
            # monolithic data.parquet (a 2x-storage rewrite spike and an
            # unsplittable file for downstream scans). Idempotent on
            # re-finalize: already-target-sized parts form no groups.
            from river_spark.ingest.compact import compact_parts

            compact_parts(self.out_dir, target_bytes=self.settings.compact_target_bytes)
        elif parts and not os.path.exists(final):  # refuse overwrite (ingester.cpp:561-566)
            paths = [os.path.join(self.out_dir, p) for p in parts]
            if len(paths) == 1:
                # a lone part already is the combined file: rename it
                os.replace(paths[0], final)
            else:
                write_parquet(final, [pa.concat_tables([pq.read_table(p) for p in paths])])
                for p in paths:
                    os.remove(p)
        write_output_metadata(self.log, self.stream_name, self.out_dir, self.settings)
        # Reference UNLINKs the final segment and deletes the metadata hash
        # after EOF ingest (ingester.cpp:486-489), freeing the stream name.
        for seg in self.log.list_segments(self.stream_name):
            self.log.delete_segment(self.stream_name, seg)
        self.log.delete_metadata(self.stream_name)
        try:
            stream_dir = self.log.stream_dir(self.stream_name)
        except NotImplementedError:
            pass  # non-filesystem backend: nothing left to sweep
        else:
            if os.path.isdir(stream_dir) and not os.listdir(stream_dir):
                os.rmdir(stream_dir)
        if self.settings.build_zonemap:
            # Write-side data skipping: index the finalized files'
            # footers so range readers can prune without scanning
            # (read side: ingest/zonemap.py prune_files/read_pruned).
            from river_spark.ingest.zonemap import write_zonemap_local

            write_zonemap_local(self.out_dir)
        return IngestResult.COMPLETED


class StreamIngester:
    """Multi-stream orchestrator (ingester.cpp:29-155): catalog poll, regex
    routing, in-progress dedupe, fixed thread pool."""

    def __init__(
        self,
        log: StreamLog,
        out_root: str,
        settings: IngesterSettings | None = None,
        max_workers: int = 4,  # ingester.cpp:55
    ):
        self.log = log
        self.out_root = out_root
        self.settings = settings or IngesterSettings.catch_all()
        self._pool = ThreadPoolExecutor(max_workers=max_workers)
        self._in_progress: dict[str, object] = {}
        self._results: dict[str, object] = {}

    def ingest(self) -> None:
        for name in self.log.list_streams():
            if is_reserved_stream(name):
                # in-flight Spark sink staging streams have metadata and an
                # ancient synthetic key_ms — a catch-all daemon would
                # stale-EOF and finalize (delete) them mid-write, losing
                # the staged batch
                continue
            if name in self._in_progress:
                continue
            s = self.settings.settings_for(name)
            if s is None:
                continue  # stream-name routing (A19)
            self._add_eof_if_stale(name)
            fut = self._pool.submit(self._run_one, name, s)
            self._in_progress[name] = fut

    def _run_one(self, name: str, s: StreamIngestionSettings):
        try:
            return SingleStreamIngester(self.log, self.out_root, name, s).ingest()
        except Exception as e:  # captured per-key like the threadpool (ingester_threadpool.h:130-160)
            return e

    def get_result(self, name: str):
        fut = self._in_progress.get(name)
        if fut is None:
            res = self._results.get(name)
            if isinstance(res, Exception):
                raise res  # a failure stays a failure on every call
            return res
        if not fut.done():
            return IngestResult.IN_PROGRESS
        res = fut.result()
        self._results[name] = res
        del self._in_progress[name]
        if isinstance(res, Exception):
            raise res
        return res

    def wait_all(self):
        for name in list(self._in_progress):
            self._in_progress[name].result()
            self.get_result(name)
        return dict(self._results)

    # -- stale-stream auto-EOF (ingester.cpp:492-539) -------------------------------
    def _add_eof_if_stale(self, name: str) -> None:
        segs = self.log.list_segments(name)
        if not segs:
            return
        last_seg = segs[-1]
        if self.log.read_control(name, last_seg) is not None:
            return
        frontier = self.log.segment_frontier(name, last_seg)
        if frontier is None:
            meta = self.log.read_metadata(name)
            newest_ms = (meta.get("initialized_at_us", 0)) / 1000 if meta else 0
        else:
            newest_ms = frontier[1]
        if time.time() * 1000 - newest_ms > self.settings.stale_period_ms:
            total = 0 if frontier is None else frontier[0]
            self.log.write_eof(name, last_seg, total - 1)
