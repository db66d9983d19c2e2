"""StreamWriter — typed batched append with segment rollover.

Parity with ``cpp/src/writer.cpp``:
- ``initialize``: validates the name, rejects collisions, serializes the
  schema JSON into the metadata record (+user metadata, ``initialized_at_us``)
  (``cpp/src/writer.cpp:39-147``).
- ``write``: accepts a NumPy structured array matching the schema dtype (the
  binding's contract, ``python/river.pyx:470-480``), splits it into batches
  of ``batch_size`` (default 1536, ``cpp/src/writer.h:84``), routes each
  batch to segment ``total_written // entries_per_segment`` and emits a
  tombstone on rollover (``cpp/src/writer.cpp:174-189``).
- Variable-width streams require a per-sample ``sizes`` array
  (``cpp/src/writer.h:138-156``).
- ``stop``: appends the EOF marker; idempotent; writes after stop raise
  (``cpp/src/writer.cpp:383-398``).
- ``resume``: picks up an existing stream at its last sample and key, with
  its own schema, compressor and segment geometry.

Segment routing (rollover tombstone, split at the boundary) lives only
here, as batch decoding lives only in ``reader.decode_batch``: the Spark
sink (``sources/river_source.py``) commits every staged chunk through a
StreamWriter — ``resume``d at the stream's end when the stream exists —
rather than routing batches itself.
"""

from __future__ import annotations

import time

import numpy as np

from river_spark.schema import SchemaError, StreamSchema, validate_stream_name
from river_spark.transport.compression import CompressionMode, Compressor
from river_spark.transport.log import MonotonicKeyGen, StreamLog

DEFAULT_BATCH_SIZE = 1536  # cpp/src/writer.h:84
DEFAULT_ENTRIES_PER_SEGMENT = 1 << 24  # cpp/src/writer.h:107-111


class WriterStoppedError(RuntimeError):
    pass


class StreamWriter:
    def __init__(
        self,
        log: StreamLog,
        batch_size: int = DEFAULT_BATCH_SIZE,
        entries_per_segment: int = DEFAULT_ENTRIES_PER_SEGMENT,
        clock=None,
        compression: Compressor | None = None,
    ):
        self.log = log
        self.compression = compression or Compressor(CompressionMode.UNCOMPRESSED)
        self.batch_size = batch_size
        self.entries_per_segment = entries_per_segment
        self._keygen = MonotonicKeyGen(clock)
        self.stream_name: str | None = None
        self.schema: StreamSchema | None = None
        self.total_samples_written = 0
        self._stopped = False
        self._initialized_at_us: int | None = None

    def new_buffer(self, n: int) -> np.ndarray:
        """Allocate an n-sample buffer matching the schema (binding parity,
        python/river.pyx StreamWriter.new_buffer)."""
        return np.zeros(n, dtype=self.schema.dtype())

    # -- lifecycle ----------------------------------------------------------
    def initialize(
        self,
        stream_name: str,
        schema: StreamSchema,
        user_metadata: dict | None = None,
        compute_clock: bool = False,
    ):
        validate_stream_name(stream_name)
        # Reference guard: compression requires fixed-width schemas
        # (cpp/src/writer.cpp:131-146).
        if self.compression.mode is not CompressionMode.UNCOMPRESSED and schema.has_variable_width_field:
            raise SchemaError("compression is not supported for variable-width streams")
        self._initialized_at_us = int(time.time() * 1_000_000)
        meta = {
            "first_segment": 0,
            "schema": schema.to_json(),
            "initialized_at_us": self._initialized_at_us,
            "user_metadata": user_metadata or {},
            # Segment geometry is a property of the STREAM, not of whoever
            # appends later: a second appender (the Spark sink) must route
            # batches with the same rollover period or it would write past
            # a tombstone into a closed segment. Extra hash field on the
            # wire — foreign reference readers ignore it.
            "entries_per_segment": int(self.entries_per_segment),
        }
        if self.compression.mode is not CompressionMode.UNCOMPRESSED:
            # Bind a per-stream COPY before filling schema-derived defaults:
            # setdefault on a caller-shared Compressor would burn the FIRST
            # stream's sample_size/value_dtype into every later stream's
            # metadata (silent payload corruption for a reused compressor).
            # Caller-provided params still win; only the gaps are filled.
            import copy

            self.compression = copy.copy(self.compression)
            self.compression.params = dict(self.compression.params)
            # record sample_size so readers can invert the byte shuffle
            self.compression.params.setdefault("sample_size", schema.sample_size())
            if self.compression.mode is CompressionMode.QUANT_LOSSY:
                self.compression.params.setdefault(
                    "value_dtype", self._uniform_dtype(schema).str
                )
                self.compression.params.setdefault("tolerance", 1e-3)
            elif self.compression.mode in (
                CompressionMode.ZFP_LOSSLESS,
                CompressionMode.ZFP_LOSSY,
            ):
                # the reference's ZFP params (compressor.cpp:56-82): the 2-D
                # field is num_cols x num_rows over one uniform dtype
                dt = self._uniform_dtype(schema)
                names = {"<i2": "int16", "<i4": "int32", "<f4": "float", "<f8": "double"}
                if dt.str not in names:
                    raise SchemaError(f"ZFP supports int16/int32/float/double, got {dt}")
                self.compression.params.setdefault("num_cols", len(schema.field_names()))
                self.compression.params.setdefault("data_type", names[dt.str])
                if self.compression.mode is CompressionMode.ZFP_LOSSY:
                    self.compression.params.setdefault("tolerance", 1e-3)
            meta["compression_params_json"] = self.compression.params_json()
        if compute_clock:
            meta["local_minus_server_clock_us"] = self._estimate_clock_delta_us()
        self.log.create_stream(stream_name, meta)
        self.stream_name = stream_name
        self.schema = schema
        return self

    def resume(self, stream_name: str):
        """Continue appending to an existing stream: adopt its schema,
        compressor and segment geometry, and start after its last sample
        and key — a second appender routing rollovers with a different
        period would write past a tombstone into a closed segment."""
        meta = self.log.read_metadata(stream_name)
        if meta is None:
            raise FileNotFoundError(f"stream {stream_name!r} not initialized")
        segs = self.log.list_segments(stream_name)
        if meta.get("entries_per_segment") is not None:
            self.entries_per_segment = int(meta["entries_per_segment"])
        elif len(segs) > 1:
            # legacy/foreign stream that already rolled over without
            # recording geometry: segment 0's tombstone index defines it
            ctrl0 = self.log.read_control(stream_name, segs[0])
            if ctrl0 is not None and "tombstone" in ctrl0:
                self.entries_per_segment = int(ctrl0["sample_index"]) + 1
        # EOF only ever terminates the last segment
        if segs:
            ctrl = self.log.read_control(stream_name, segs[-1])
            if ctrl is not None and "eof" in ctrl:
                raise RuntimeError(f"stream {stream_name!r} has EOF'd; append rejected")
        frontier = self.log.stream_frontier(stream_name)
        if frontier is not None:
            self.total_samples_written, last_ms, last_seq = frontier
            self._keygen.seed(last_ms, last_seq)
        self.compression = Compressor.from_params_json(meta.get("compression_params_json"))
        self._initialized_at_us = meta.get("initialized_at_us")
        self.stream_name = stream_name
        self.schema = StreamSchema.from_json(meta["schema"])
        return self

    @staticmethod
    def _uniform_dtype(schema: StreamSchema):
        """Lossy/ZFP modes need one uniform numeric dtype, like the
        reference's single-T ZfpCompressor over a 2-D field
        (zfp_compressor.cpp:64-110)."""
        dtypes = {schema.dtype()[name] for name in schema.field_names()}
        if len(dtypes) != 1 or next(iter(dtypes)).kind not in "fi":
            raise SchemaError(
                "lossy/ZFP compression requires a uniform numeric field dtype, "
                f"got {sorted(d.str for d in dtypes)}"
            )
        return next(iter(dtypes))

    def _estimate_clock_delta_us(self) -> int:
        """A22 (cpp/src/writer.cpp:365-381): midpoint estimate of
        (local - server) clock over repeated round trips against backends
        with a server clock (RedisBackend ≈ the TIME command,
        cpp/src/redis.cpp:281-291). File/memory backends share the process
        clock, so the delta is 0 by construction."""
        time_us = getattr(self.log.backend, "time_us", None)
        if time_us is None:
            return 0
        rounds, total = 10, 0
        for _ in range(rounds):
            before = int(time.time() * 1_000_000)
            server = time_us()
            after = int(time.time() * 1_000_000)
            total += (before + after) // 2 - server
        return total // rounds

    def stop(self) -> None:
        if self._stopped or self.stream_name is None:
            return
        self.log.write_eof(self.stream_name, self._current_segment(), self.total_samples_written - 1)
        self._stopped = True

    @property
    def initialized_at_us(self) -> int | None:
        return self._initialized_at_us

    # -- metadata (cpp/src/writer.cpp:404-419) --------------------------------
    def metadata(self) -> dict:
        meta = self.log.read_metadata(self.stream_name)
        return meta.get("user_metadata", {}) if meta else {}

    def set_metadata(self, md: dict) -> None:
        self.log.update_metadata(self.stream_name, {"user_metadata": md})

    # -- write ----------------------------------------------------------------
    def write(self, samples: np.ndarray, sizes: np.ndarray | None = None) -> int:
        """Append N samples. ``samples`` is either a structured array matching
        ``schema.dtype()`` or, for variable-width streams, a flat uint8 buffer
        with ``sizes`` giving per-sample byte lengths."""
        if self.stream_name is None:
            raise RuntimeError("writer not initialized")
        if self._stopped:
            raise WriterStoppedError("write after stop")  # cpp/src/tests/writer_test.cpp:235-238

        if self.schema.has_variable_width_field:
            if sizes is None:
                raise SchemaError("variable-width stream requires sizes")  # writer_test.cpp:177-181
            sizes = np.asarray(sizes, dtype=np.int64)
            flat = np.ascontiguousarray(samples, dtype=np.uint8).reshape(-1)
            if int(sizes.sum()) != flat.nbytes:
                raise SchemaError(f"sizes sum {sizes.sum()} != buffer size {flat.nbytes}")
            self._write_batches_variable(flat, sizes)
            return len(sizes)

        expected = self.schema.dtype()
        if samples.dtype != expected:
            # Accept same-itemsize raw views (typed Write<T> checks only
            # sizeof(T) == sample_size, cpp/src/writer.h:144-150).
            if samples.dtype.itemsize != expected.itemsize:
                raise SchemaError(f"dtype {samples.dtype} incompatible with schema dtype {expected}")
        n = len(samples)
        for off in range(0, n, self.batch_size):
            chunk = samples[off : off + self.batch_size]
            self._append(np.ascontiguousarray(chunk).tobytes(), len(chunk), None)
        return n

    def _write_batches_variable(self, flat: np.ndarray, sizes: np.ndarray) -> None:
        offsets = np.concatenate([[0], np.cumsum(sizes)])
        n = len(sizes)
        for off in range(0, n, self.batch_size):
            hi = min(off + self.batch_size, n)
            chunk = flat[offsets[off] : offsets[hi]]
            self._append(chunk.tobytes(), hi - off, sizes[off:hi])

    def _current_segment(self) -> int:
        """Segment holding the last written sample (EOF goes there)."""
        if self.total_samples_written == 0:
            return 0
        return (self.total_samples_written - 1) // self.entries_per_segment

    # -- segment routing (cpp/src/writer.cpp:174-189) ---------------------------
    def room(self) -> int:
        """Samples the current segment still takes before rollover."""
        return self.entries_per_segment - self.total_samples_written % self.entries_per_segment

    def claim(self, n: int) -> tuple[int, int, int, int]:
        """Reserve the next ``n <= room()`` samples: writes the tombstone
        when they open a new segment and returns (segment, first index,
        key ms, key seq0) — the slot a batch of them is stored under."""
        total, eps = self.total_samples_written, self.entries_per_segment
        if total and total % eps == 0:
            self.log.write_tombstone(self.stream_name, total // eps - 1, total - 1)
        key_ms, key_seq0 = self._keygen.next_keys(n)
        self.total_samples_written += n
        return total // eps, total, key_ms, key_seq0

    def append_encoded(self, payload: bytes, n: int, sizes: np.ndarray | None = None) -> None:
        """Append one batch of ``n <= room()`` samples whose payload is
        already in the stream's stored form (compressed if the stream is)."""
        seg, start, key_ms, key_seq0 = self.claim(n)
        self.log.append_batch(self.stream_name, seg, start, payload, n, key_ms, key_seq0, sizes)

    def _append(self, data: bytes, n: int, sizes: np.ndarray | None) -> None:
        # A batch never spans segments: split at the boundary.
        written = 0
        while written < n:
            take = min(n - written, self.room())
            if sizes is not None:
                sub_sizes = sizes[written : written + take]
                byte_lo = int(np.sum(sizes[:written]))
                byte_hi = byte_lo + int(np.sum(sub_sizes))
                payload = data[byte_lo:byte_hi]
            else:
                sample_size = self.schema.sample_size()
                payload = data[written * sample_size : (written + take) * sample_size]
                sub_sizes = None
            self.append_encoded(self.compression.compress(payload), take, sub_sizes)
            written += take
