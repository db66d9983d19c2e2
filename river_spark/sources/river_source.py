"""``river`` Spark DataSource (Python Data Source API, Spark 4).

Exposes the segmented stream log to Spark three ways:

- **batch read**  — ``spark.read.format("river").option("path", root)
  .option("stream", name).load()``: contiguous batch-file slices packed
  into splits by Spark's own file-split rule (about one split per core,
  more once a stream passes cores² × 4 MiB, at most 128 MiB each; a
  batch file may be cut between two splits), so a scan pays one Python
  task per split, not per file, and still parallelizes across
  executors; rows carry the system columns
  ``sample_index``/``key``/``timestamp_ms`` exactly like the reference
  ingester's output (cpp/ingester/src/ingester.cpp:296-326).
- **streaming read** — ``spark.readStream.format("river")...``: offsets
  are global sample indices (the reference's monotone ``i``,
  cpp/src/reader.h:326-336); ``maxSamplesPerTrigger`` mirrors the
  reader's ``max_fetch_size`` cap (cpp/src/reader.h:62); a micro-batch's
  range is packed into splits like a batch read; when the stream
  has EOF'd the offset stops advancing (availableNow drains and stops).
  ``commit()`` optionally trims fully-consumed segments — retention
  semantics of A16 (cpp/ingester/src/ingester.cpp:424-490) keyed off
  committed progress, not wall clock.
- **batch write** — ``df.write.format("river")...save()``: executors
  consume Arrow record batches columnwise and stage batch_size-sample
  chunks already in the log's final payload format; the driver's
  ``commit()`` appends them in deterministic partition order through a
  ``StreamWriter`` resumed at the stream's end, so segment routing,
  rollover tombstones and boundary splits are the transport writer's
  own. A chunk that fits its segment moves by RENAME (file log) or
  verbatim re-append (redis) — the contiguous ``sample_index``
  invariant is kept while, on files, zero data bytes flow through the
  driver (SURVEY.md §7 "what's hard" #1). Single-field variable-width
  (binary) streams are supported via the log's data+sizes batch format
  (cpp/src/writer.h:138-156 parity).

Rows are produced and consumed as Arrow RecordBatches (zero
row-at-a-time Python on either path). Stored batches are decoded by the
transport's ``decode_batch`` and converted by the ingester's
``arrow_batch``, the same code the stream→Parquet ingester runs.
"""

from __future__ import annotations

import math
import os
import uuid

import numpy as np
import pyarrow as pa

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    InputPartition,
    WriterCommitMessage,
)
from pyspark.sql import types as T

from river_spark.ingest.ingester import _ARROW_TYPES, arrow_batch
from river_spark.schema import StreamSchema
from river_spark.transport.compression import Compressor
from river_spark.transport.log import FileBackend, StreamLog
from river_spark.transport.reader import decode_batch
from river_spark.transport.writer import (
    DEFAULT_BATCH_SIZE,
    DEFAULT_ENTRIES_PER_SEGMENT,
    StreamWriter,
)

_SYSTEM_COLUMNS = ("sample_index", "key", "timestamp_ms")


def register(spark) -> None:
    spark.dataSource.register(RiverDataSource)


# ---------------------------------------------------------------------------
# storage locator: every reader/writer/partition carries a small picklable
# dict saying WHERE the log lives; executors open their own connection from
# it (a file root, or a redis host:port — reads are then distributed XRANGE
# windows, one connection per task, no driver funnel).
# ---------------------------------------------------------------------------
def _locator(options: dict) -> dict:
    from river_spark.transport.log import parse_redis_hostport

    options = {k.lower(): v for k, v in options.items()}
    if "redis" in options:
        host, port = parse_redis_hostport(options["redis"])
        loc = {"redis": f"{host}:{port}"}
        # wire-framing knobs travel WITH the locator so every log opened
        # from it — executor stage, driver commit, reader partition —
        # speaks the same entry layout. moduleFraming selects the server
        # module's compressed blob+reference layout
        # (/root/reference/cpp/src/redismodule/river_redismodule.c:63-131)
        # for appends into compressed streams; reads are layout-agnostic.
        for knob in ("moduleframing", "batchframing"):
            if options.get(knob, "false").lower() == "true":
                loc[knob] = True
        return loc
    if "path" in options:
        return {"path": options["path"]}
    raise ValueError("river source needs option 'path' (log root) or 'redis' (host:port)")


def _open_log(locator: dict) -> StreamLog:
    if "redis" in locator:
        from river_spark.transport.log import parse_redis_hostport
        from river_spark.transport.redis_backend import RedisBackend

        backend = RedisBackend(
            *parse_redis_hostport(locator["redis"]),
            batch_framing=bool(locator.get("batchframing")),
            module_framing=bool(locator.get("moduleframing")),
        )
        return StreamLog(backend=backend)
    return StreamLog(locator["path"])


# ---------------------------------------------------------------------------
# read planning (driver) and partition reads (executors) — everything a
# partition carries is picklable
# ---------------------------------------------------------------------------
_MAX_SPLIT_BYTES = 128 << 20  # spark.sql.files.maxPartitionBytes (session.py)
_OPEN_COST_BYTES = 4 << 20  # Spark's default spark.sql.files.openCostInBytes


class _SlicePartition(InputPartition):
    """One read task: contiguous ``(path, start, key_ms, key_seq0, lo, hi)``
    slices — samples ``[lo, hi)`` of the stored batch at ``path``, whose
    first sample is ``start`` and first key ``(key_ms, key_seq0)``."""

    def __init__(self, locator, slices, schema_json, comp_json=None):
        self.locator = locator
        self.slices = slices
        self.schema_json = schema_json
        self.comp_json = comp_json


def _planning_cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def _split_bytes(total: float, cores: int) -> float:
    """Bytes per split for a read of ``total`` bytes: Spark's file-split
    rule (``FilePartition.maxSplitBytes``), ``min(128 MiB, max(4 MiB,
    total / width))``, with the planner's ``cores`` for the cluster's
    width, which a Python DataSource's planner cannot see (Spark divides by
    ``defaultParallelism``). So that a cluster wider than the planner still
    gets spread, a split also holds at most ``sqrt(total × 4 MiB)``: never
    fewer splits than a split holds open costs. That bound binds only
    above ``cores²`` open costs (64 MiB on 4 cores, 4 GiB on 32): 500 MB
    on 4 cores runs as 11 splits of ~45 MB, not 4 of 125 MB; from 4 GiB up
    the 128 MiB cap governs, as for a Parquet scan."""
    spread = min(total / cores, math.sqrt(total * _OPEN_COST_BYTES))
    return min(_MAX_SPLIT_BYTES, max(_OPEN_COST_BYTES, spread))


def _pack(log, stream, lo, hi, locator, schema_json, comp_json) -> list:
    """Partitions covering samples ``[lo, hi)`` of ``stream``: contiguous
    slices packed into splits of ``_split_bytes`` bytes, a sample weighing
    ``schema.sample_size()``, a stored batch cut where a split ends. A
    stream of many small batch files then runs as about one task per core,
    not one task (and one Python worker start-up) per file. ``[None]``
    when there is nothing to read."""
    sample_bytes = max(StreamSchema.from_json(schema_json).sample_size(), 1)
    slices = [
        (path, start, ms, seq0, max(0, lo - start), min(cnt, hi - start))
        for seg in log.list_segments(stream)
        for start, cnt, ms, seq0, path in log.list_batches(stream, seg)
        if start < hi and start + cnt > lo
    ]
    total = sum(b - a for *_head, a, b in slices) * sample_bytes
    split = _split_bytes(total, _planning_cores())
    room = split_samples = max(1, math.ceil(split / sample_bytes))
    parts, cur = [], []
    for path, start, ms, seq0, a, b in slices:
        while a < b:
            take = min(b - a, room)
            cur.append((path, start, ms, seq0, a, a + take))
            a += take
            room -= take
            if room == 0:
                parts.append(cur)
                cur, room = [], split_samples
    if cur:
        parts.append(cur)
    return [_SlicePartition(locator, p, schema_json, comp_json) for p in parts] or [None]


def _read_slices(p: _SlicePartition | None):
    """Decode a partition's slices into Arrow batches, one per slice, over
    one log connection. Keys are rebuilt from each batch's (ms, seq0)
    run — not stored."""
    if p is None:
        return
    schema = StreamSchema.from_json(p.schema_json)
    comp = Compressor.from_params_json(p.comp_json)
    log = _open_log(p.locator)
    for path, start, key_ms, key_seq0, lo, hi in p.slices:
        samples, sizes = decode_batch(log, path, schema, comp, lo, hi)
        indices = np.arange(start + lo, start + hi)
        batch = arrow_batch(schema, samples, sizes, indices, [(hi - lo, key_ms, key_seq0 + lo)])
        # Spark's BinaryType carries no width: FIXED_WIDTH_BYTES leaves
        # here as plain binary
        for i, f in enumerate(batch.schema):
            if pa.types.is_fixed_size_binary(f.type):
                batch = batch.set_column(i, f.with_type(pa.binary()), batch.column(i).cast(pa.binary()))
        yield batch


# ---------------------------------------------------------------------------
# batch reader
# ---------------------------------------------------------------------------
class RiverBatchReader(DataSourceReader):
    def __init__(self, options):
        self.locator = _locator(options)
        self.stream = options["stream"]

    def partitions(self):
        log = _open_log(self.locator)
        meta = log.read_metadata(self.stream)
        if meta is None:
            raise ValueError(f"stream {self.stream!r} not found at {self.locator}")
        return _pack(
            log,
            self.stream,
            0,
            float("inf"),
            self.locator,
            meta["schema"],
            meta.get("compression_params_json"),
        )

    def read(self, partition):
        return _read_slices(partition)


# ---------------------------------------------------------------------------
# streaming reader
# ---------------------------------------------------------------------------
class RiverStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        options = {k.lower(): v for k, v in options.items()}  # Spark lowercases option keys
        self.locator = _locator(options)
        self.stream = options["stream"]
        self.max_per_trigger = int(options.get("maxsamplespertrigger", 10_000))
        self.retention = options.get("retention", "false").lower() == "true"
        # Consumer-group cursor (≈ Redis consumer-group last-delivered-id):
        # commit() persists the committed frontier under this name so a
        # RESTARTED query's first micro-batch is still rate-limited — the
        # Python API's latestOffset() cannot see the checkpointed start.
        self.group = options.get("group", "default")
        self._log = _open_log(self.locator)
        meta = self._log.read_metadata(self.stream)
        if meta is None:
            raise ValueError(f"stream {self.stream!r} not found at {self.locator}")
        self._schema_json = meta["schema"]
        self._comp_json = meta.get("compression_params_json")
        cursor = self._read_group_cursor()
        if cursor is not None:
            self._cursor = cursor

    def _group_cursor_key(self) -> str:
        return f"cursor/{self.stream}/{self.group}"

    def _read_group_cursor(self) -> int | None:
        import json

        raw = self._log.read_aux(self._group_cursor_key())
        if raw is None:
            return None
        try:
            return int(json.loads(raw)["index"])
        except (ValueError, KeyError, TypeError):
            return None

    def initialOffset(self):
        # Only called on a fresh query (no checkpoint): start from zero,
        # overriding any stale group cursor left by a previous query.
        self._cursor = 0
        return {"index": 0}

    def _available(self) -> int:
        """Highest sample index+1 currently in the log (once per trigger:
        the frontier's tail probe keeps that a constant-size poll on a
        live wire stream)."""
        frontier = self._log.stream_frontier(self.stream)
        return 0 if frontier is None else frontier[0]

    def latestOffset(self):
        # Cap per micro-batch like max_fetch_size (cpp/src/reader.h:62).
        # The cursor comes from (in priority order) the last partitions()
        # call, or the persisted group cursor loaded at construction — so
        # the first batch after a restart is capped too. Only a query with
        # no history at all (no checkpoint AND no group cursor) falls back
        # to the uncapped full backlog.
        #
        # The group cursor is SHARED by every query using this (stream,
        # group) — Redis consumer-group semantics. A cursor committed by a
        # different query can therefore sit behind this query's
        # checkpointed start; self-advancing the cap base below guarantees
        # that skews the first-batch cap at worst, and can never
        # permanently stall the window behind the checkpoint.
        avail = self._available()
        cur = getattr(self, "_cursor", None)
        if cur is None:
            return {"index": avail}
        end = min(avail, max(cur, cur + self.max_per_trigger))
        self._cursor = max(cur, end)
        return {"index": end}

    def partitions(self, start, end):
        lo, hi = start["index"], end["index"]
        # a stale (lower) group cursor never re-delivers below the
        # checkpointed start
        self._cursor = max(lo, hi)
        if hi <= lo:
            # An adopted foreign group cursor can cap latestOffset() below
            # this query's checkpointed start, so Spark plans a batch with
            # hi < lo. Emit an empty batch instead of slicing batch files
            # with a negative window (np.full(hi-lo, ...) would raise).
            return [None]
        return _pack(
            self._log, self.stream, lo, hi, self.locator, self._schema_json, self._comp_json
        )

    def read(self, partition):
        return _read_slices(partition)

    def commit(self, end):
        """Persist the consumer-group cursor, then (optionally) retention
        behind the committed frontier (A16): delete segments whose samples
        are all below the committed index."""
        import json

        committed = end["index"]
        prev = self._read_group_cursor() or 0
        if committed > prev:
            self._log.write_aux(self._group_cursor_key(), json.dumps({"index": committed}))
        if not self.retention:
            return
        segs = self._log.list_segments(self.stream)
        for seg in segs[:-1]:  # never the live segment
            ctrl = self._log.read_control(self.stream, seg)
            if ctrl is None or "eof" in ctrl:
                break
            frontier = self._log.segment_frontier(self.stream, seg)
            last = 0 if frontier is None else frontier[0]
            if last <= committed:
                self._log.update_metadata(self.stream, {"first_segment": ctrl["next_segment"]})
                self._log.delete_segment(self.stream, seg)
            else:
                break


# ---------------------------------------------------------------------------
# batch writer
# ---------------------------------------------------------------------------
class _StagedWrite(WriterCommitMessage):
    def __init__(self, partition_id, chunks, num_rows):
        self.partition_id = partition_id
        self.chunks = chunks  # [(staged batch handle, n_rows)], in write order
        self.num_rows = num_rows


def _arrow_to_struct(schema: StreamSchema, batch) -> "np.ndarray":
    """One arrow batch → packed structured array, enforcing the stream's
    contract: NO nulls anywhere (a nulled int column silently round-trips
    through float64/NaN into garbage ints otherwise — the reference's
    fields are non-nullable, ingester.cpp:729-760), and FIXED_WIDTH_BYTES
    values must match the declared size exactly (numpy void assignment
    silently zero-pads short and truncates long values)."""
    a = np.zeros(batch.num_rows, dtype=schema.dtype())
    for f in schema.field_definitions:
        col = batch.column(batch.schema.get_field_index(f.name))
        if col.null_count:
            raise ValueError(
                f"field {f.name!r}: NULLs cannot be written to a river stream "
                "(non-nullable schema contract)"
            )
        if f.type in _ARROW_TYPES:
            a[f.name] = col.to_numpy(zero_copy_only=False)
        else:  # FIXED_WIDTH_BYTES → void field; columnwise bulk assign
            vals = col.to_pylist()
            for v in vals:
                if len(v) != f.size:
                    raise ValueError(
                        f"field {f.name!r}: FIXED_WIDTH_BYTES({f.size}) got a "
                        f"{len(v)}-byte value (padding/truncation is data "
                        "corruption, not a cast)"
                    )
            a[f.name] = vals
    return a


def _struct_chunks(schema: StreamSchema, iterator, batch_size: int):
    """Yield contiguous structured-array chunks of exactly ``batch_size``
    rows (last chunk smaller) from an arrow-batch iterator — peak memory
    is O(batch_size + one arrow batch), not O(partition)."""
    pending: list[np.ndarray] = []
    pending_rows = 0
    for batch in iterator:
        if batch.num_rows == 0:
            continue
        pending.append(_arrow_to_struct(schema, batch))
        pending_rows += pending[-1].shape[0]
        while pending_rows >= batch_size:
            arr = pending[0] if len(pending) == 1 else np.concatenate(pending)
            yield np.ascontiguousarray(arr[:batch_size])
            rest = arr[batch_size:]
            pending = [rest] if rest.shape[0] else []
            pending_rows = rest.shape[0]
    if pending_rows:
        arr = pending[0] if len(pending) == 1 else np.concatenate(pending)
        yield np.ascontiguousarray(arr)


def _variable_chunks(schema: StreamSchema, iterator, batch_size: int):
    """Yield lists of <= batch_size byte values for the sole
    variable-width field, rejecting NULLs; O(batch_size) memory."""
    name = schema.field_names()[0]
    pending: list[bytes] = []
    for batch in iterator:
        col = batch.column(batch.schema.get_field_index(name))
        if col.null_count:
            raise ValueError(
                f"field {name!r}: NULLs cannot be written to a river stream"
            )
        pending.extend(col.to_pylist())
        while len(pending) >= batch_size:
            yield pending[:batch_size]
            pending = pending[batch_size:]
    if pending:
        yield pending


def _stored_chunks(schema: StreamSchema, comp: Compressor, iterator, batch_size: int):
    """Yield (payload, n, sizes) chunks of <= batch_size samples, each
    payload already in the log's stored form (compressed if the stream
    is; sizes only for the variable-width field)."""
    if schema.has_variable_width_field:
        for part in _variable_chunks(schema, iterator, batch_size):
            yield b"".join(part), len(part), np.array([len(v) for v in part], dtype=np.int64)
    else:
        for chunk in _struct_chunks(schema, iterator, batch_size):
            yield comp.compress(chunk.tobytes()), len(chunk), None


class RiverBatchWriter(DataSourceArrowWriter):
    """Two-phase append: executors stage partition payloads, the driver
    commits them into the log in partition order. Order within a partition
    is preserved; the contiguous sample_index is assigned once, on commit —
    the 'single-partition sink epoch + count carry' answer to SURVEY §7
    hard-problem #1.

    Scale shape: executors consume Arrow record batches columnwise (no
    row-at-a-time Python) and stage chunks of ``batch_size`` samples in
    the log's FINAL stored payload format. ``commit`` appends them
    through the stream's one ``StreamWriter`` (the reference's
    single-writer contiguity contract, cpp/src/writer.cpp:149-359): a
    chunk that fits its segment takes the writer's next index range and
    key run and is promoted with a RENAME — the driver moves only
    manifest-sized state, never data bytes, and has no single-node data
    funnel — and the rare chunk crossing a segment boundary is decoded
    and re-written, split by the writer."""

    def __init__(self, options, schema: T.StructType):
        self.locator = _locator(options)
        self.stream = options["stream"]
        self.batch_size = int(options.get("batchsize", DEFAULT_BATCH_SIZE))
        self.entries_per_segment = int(
            options.get("entriespersegment", DEFAULT_ENTRIES_PER_SEGMENT)
        )
        if "path" in self.locator:
            self.staging = os.path.join(
                self.locator["path"], f"_staging_{self.stream}_{uuid.uuid4().hex[:8]}"
            )
        else:
            self.staging = None
            # redis staging: executors append into per-attempt temp STREAMS
            # on the same server (visible to the driver without a shared
            # filesystem); commit() re-appends them in partition order
            self.stg_prefix = f"_stg_{self.stream}_{uuid.uuid4().hex[:8]}"
        meta = _open_log(self.locator).read_metadata(self.stream)
        if meta is not None:
            # appending: the stream's own schema wins (byte layout must match)
            stream_schema = StreamSchema.from_json(meta["schema"])
            # ...and so does its segment geometry: appending with a
            # different rollover period would route batches into
            # already-tombstoned segments and break the chain
            eps_meta = meta.get("entries_per_segment")
            if eps_meta is not None:
                eps_meta = int(eps_meta)
                if "entriespersegment" in options and self.entries_per_segment != eps_meta:
                    raise ValueError(
                        f"entriesPerSegment={self.entries_per_segment} conflicts "
                        f"with stream {self.stream!r}'s recorded geometry {eps_meta}"
                    )
                self.entries_per_segment = eps_meta
            want = stream_schema.field_names()
            got = [f.name for f in schema.fields if f.name not in _SYSTEM_COLUMNS]
            if want != got:
                raise ValueError(f"schema mismatch: stream has fields {want}, DataFrame has {got}")
            # Names are not enough: a DoubleType column appended into an
            # INT32 field would be silently value-cast into the stream's
            # byte layout (3.7 -> 3, NaN -> garbage) — reject type drift
            # the way the reference rejects sizeof mismatches
            # (cpp/src/writer.h:144-150).
            expected = {f.name: f.dataType for f in stream_schema.to_struct_type().fields}
            for f in schema.fields:
                if f.name in _SYSTEM_COLUMNS:
                    continue
                if f.dataType != expected[f.name]:
                    raise ValueError(
                        f"schema mismatch: stream field {f.name!r} is "
                        f"{expected[f.name].simpleString()}, DataFrame has "
                        f"{f.dataType.simpleString()}"
                    )
            self.comp_json = meta.get("compression_params_json")
        else:
            stream_schema = StreamSchema.from_struct_type(schema)
            self.comp_json = None
        self.stream_schema_json = stream_schema.to_json()

    # -- executor side --------------------------------------------------------
    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        pid = ctx.partitionId()
        # Attempt-unique staged names: a speculative/zombie attempt of the
        # same partition must never collide with the attempt whose commit
        # message wins, or it could clobber a staged chunk between task
        # success and driver-side promote. taskAttemptId is globally
        # unique per attempt; the winner's handles travel in its message.
        attempt = ctx.taskAttemptId()
        schema = StreamSchema.from_json(self.stream_schema_json)
        if self.staging is None:
            # redis: a per-attempt temp STREAM on the same server (visible
            # to the driver without a shared filesystem). Keys are
            # synthetic (ms=1, seq=local index); the real key run is
            # assigned at commit.
            log = _open_log(self.locator)
            tmp = f"{self.stg_prefix}_{pid:06d}_a{attempt}"
            meta = {"first_segment": 0, "schema": self.stream_schema_json,
                    "initialized_at_us": 0, "user_metadata": {}}
            if self.comp_json:
                meta["compression_params_json"] = self.comp_json
            log.create_stream(tmp, meta)

            def stage(j, start, payload, n, sizes):
                return log.append_batch(tmp, 0, start, payload, n, 1, start, sizes)
        else:
            os.makedirs(self.staging, exist_ok=True)

            def stage(j, start, payload, n, sizes):
                # The absolute path travels in the commit message: the
                # driver-side writer instance may be a different
                # instantiation with a different staging uuid (Spark
                # creates the python writer per role).
                stem = os.path.join(self.staging, f"part_{pid:06d}_a{attempt}_{j:06d}")
                return FileBackend.write_batch_file(stem, payload, sizes)

        comp = Compressor.from_params_json(self.comp_json)
        chunks, total = [], 0
        for j, (payload, n, sizes) in enumerate(
            _stored_chunks(schema, comp, iterator, self.batch_size)
        ):
            chunks.append((stage(j, total, payload, n, sizes), n))
            total += n
        return _StagedWrite(pid, chunks, total)

    # -- driver side ----------------------------------------------------------
    def commit(self, messages):
        import shutil

        log = _open_log(self.locator)
        w = StreamWriter(log, self.batch_size, self.entries_per_segment)
        if log.read_metadata(self.stream) is None:
            # record THIS writer's geometry so later appenders route
            # rollovers identically
            w.initialize(self.stream, StreamSchema.from_json(self.stream_schema_json))
        else:
            w.resume(self.stream)
        staging_dirs = set() if self.staging is None else {self.staging}
        for msg in sorted((m for m in messages if m is not None), key=lambda m: m.partition_id):
            for src, n in msg.chunks:
                if n > w.room():
                    # crosses a segment boundary: the writer splits it
                    w.write(*decode_batch(log, src, w.schema, w.compression))
                elif self.staging is None:
                    # verbatim re-append: a compressed payload stays compressed
                    z = log.read_batch(src)
                    w.append_encoded(z["data"], n, z.get("sizes"))
                else:
                    seg, start, key_ms, key_seq0 = w.claim(n)
                    name = f"batch_{start:012d}_{n}_{key_ms}_{key_seq0}{os.path.splitext(src)[1]}"
                    os.replace(src, os.path.join(log.segment_dir(self.stream, seg), name))
                if self.staging is not None:
                    staging_dirs.add(os.path.dirname(src))
        for d in staging_dirs:
            shutil.rmtree(d, ignore_errors=True)
        if self.staging is None:
            # sweep the temp streams — promoted ones and those left by
            # losing/zombie attempts (they share this writer's prefix).
            # Metadata goes FIRST: a zombie attempt's pipelined XADD can
            # recreate the data key after our UNLINK, but a key without
            # its metadata hash is at least rediscoverable garbage only
            # while the zombie lives — with metadata deleted last, a
            # fully-formed stream could reappear and be mistaken for live
            # data.
            for name in log.list_streams():
                if name.startswith(self.stg_prefix):
                    log.delete_metadata(name)
                    log.delete_segment(name, 0)

    def abort(self, messages):
        # messages may be partial (failed tasks return nothing) — wipe all
        # staging so a failed job leaves zero residue
        import shutil

        if self.staging is None:
            log = _open_log(self.locator)
            # temp streams all share this writer's prefix, so even attempts
            # that never reported a commit message get cleaned up
            for name in log.list_streams():
                if name.startswith(self.stg_prefix):
                    log.delete_segment(name, 0)
                    log.delete_metadata(name)
            return
        dirs = {self.staging}
        for m in messages or []:
            if m is not None:
                dirs.update(os.path.dirname(p) for p, _n in m.chunks)
        for d in dirs:
            shutil.rmtree(d, ignore_errors=True)


class RiverStreamWriter(DataSourceStreamArrowWriter):
    """Streaming sink: each micro-batch is staged by executors and appended
    by the driver in partition order (same contiguity story as the batch
    writer). Epoch commits are idempotent — a replayed batchId is skipped —
    giving effectively-exactly-once appends on retry."""

    def __init__(self, options, schema: T.StructType):
        self._batch = RiverBatchWriter(options, schema)
        self.stream = self._batch.stream
        # Replay registry scope: batchIds restart at 0 for every NEW query,
        # so a registry keyed by stream alone would silently drop a fresh
        # query's early batches as "replays" of a previous query's. Scope
        # it by the query identity — checkpointLocation when present (the
        # thing replays are actually relative to), or an explicit
        # sink_group option; bare "default" keeps legacy behavior for
        # checkpoint-less writes.
        #
        # Upgrade note: pre-scope registries (key sink_commits/{stream})
        # are deliberately NOT read — falling back to the shared registry
        # would reintroduce the new-query drop for exactly the deployments
        # that have one. The cost is a one-time at-least-once edge: a
        # query restarted across the upgrade with its last batch's commit
        # un-logged re-appends that batch once. Duplication-on-upgrade is
        # recoverable; silent data loss is not.
        #
        # No identity at all (checkpointLocation set via SESSION CONF
        # never reaches sink options): fall back to a per-writer-instance
        # scope, NOT a shared constant — a shared scope would drop a new
        # query's early batches as "replays" of the previous query's.
        # The per-instance scope still dedups intra-run retries (the
        # common replay); cross-RESTART replay detection needs an
        # explicit option("checkpointLocation", ...) or option
        # ("sink_group", ...).
        import hashlib

        grp = options.get("sink_group") or options.get("checkpointlocation")
        self._sink_scope = (
            hashlib.sha1(grp.encode()).hexdigest()[:12] if grp else f"run_{uuid.uuid4().hex[:12]}"
        )

    def write(self, iterator):
        return self._batch.write(iterator)

    def _commits_key(self) -> str:
        return f"sink_commits/{self.stream}/{self._sink_scope}"

    def commit(self, messages, batchId):
        import json

        log = _open_log(self._batch.locator)
        raw = log.read_aux(self._commits_key())
        prev = json.loads(raw) if raw else {}
        # O(1) registry: batchIds are monotonic per scope, so the max
        # committed id is a complete replay record — a per-batch map
        # would grow (and be rewritten) forever on a long-lived query.
        # Legacy per-batch maps read back as max(numeric keys).
        max_committed = prev.get(
            "max", max((int(k) for k in prev if k.lstrip("-").isdigit()), default=-1)
        )
        if batchId <= max_committed:
            self.abort(messages, batchId)  # replay: drop staged files
            return
        self._batch.commit(messages)
        log.write_aux(self._commits_key(), json.dumps({"max": batchId}))

    def abort(self, messages, batchId):
        self._batch.abort(messages)


# ---------------------------------------------------------------------------
# the DataSource
# ---------------------------------------------------------------------------
class RiverDataSource(DataSource):
    """format("river") — options: path (log root) OR redis (host:port),
    stream (stream name), maxSamplesPerTrigger, retention (streaming
    read). With the redis locator, each read task opens its own RESP
    connection and XRANGEs only its batch window — reads scale with the
    executor count, not the driver."""

    @classmethod
    def name(cls):
        return "river"

    def schema(self):
        log = _open_log(_locator(self.options))
        meta = log.read_metadata(self.options["stream"])
        if meta is None:
            raise ValueError(f"stream {self.options['stream']!r} not found")
        return StreamSchema.from_json(meta["schema"]).to_struct_type(include_system_columns=True)

    def reader(self, schema):
        return RiverBatchReader(self.options)

    def streamReader(self, schema):
        return RiverStreamReader(self.options)

    def writer(self, schema, overwrite):
        if overwrite:
            raise ValueError("river sink is append-only")
        return RiverBatchWriter(self.options, schema)

    def streamWriter(self, schema, overwrite):
        if overwrite:
            raise ValueError("river sink is append-only")
        return RiverStreamWriter(self.options, schema)
