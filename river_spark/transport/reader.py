"""StreamReader — blocking ranged scan, tail, seek over the stream log.

Parity with ``cpp/src/reader.cpp``:
- ``initialize``: polls for the stream's metadata until it exists or the
  timeout elapses, then resolves the schema (``cpp/src/reader.cpp:34-79``,
  retry loop ``:589-604``).
- ``read``: returns ≤ n samples; blocks (sleep-poll — the reference's
  XREAD-vs-poll adaptivity collapses to polling on a local filesystem,
  ``cpp/src/reader.cpp:111-137``) while budget remains; follows tombstones
  across segments; at EOF returns the samples read so far, or -1 when
  already drained (``cpp/src/reader.cpp:81-289``). Enforces monotone
  contiguous sample indices (``cpp/src/reader.h:326-336``). The reader
  holds the decoded batch its cursor is inside and slices later reads
  from it, so a run of ``samples_per_read``-sized reads reads and
  decompresses each stored batch once. The held batch is dropped once a
  read passes its end, and is keyed by its handle, so after a ``seek``,
  ``tail`` or segment hop a read never slices a batch it left.
- ``tail``: skips to the newest sample after the cursor, reporting how many
  were skipped; -1 on EOF-and-drained (``cpp/src/reader.cpp:336-488``).
- ``seek``: moves the cursor to the greatest element ≤ key — never backward;
  -1 if the key is past the stream's EOF (``cpp/src/reader.cpp:507-583``).
- Listeners fire on segment transitions (``cpp/src/reader.h:339-356``).

``decode_batch`` is the one decoder of a stored batch (decompress, then
slice with ``slice_batch``); the Spark DataSource and the sink's boundary
split call it too.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import numpy as np

from river_spark.schema import StreamSchema
from river_spark.transport.compression import CompressionMode, Compressor
from river_spark.transport.log import StreamLog, decode_key, run_keys

DEFAULT_MAX_FETCH = 10_000  # cpp/src/reader.h:62
_POLL_S = 0.0005


@dataclass
class ReadResult:
    """One read's output: samples as a structured array (or raw bytes +
    sizes for variable-width), global indices, per-sample keys when
    requested (an optional out-param in the reference too,
    cpp/src/reader.h:150), and the key runs ``[(count, key_ms, key_seq0)]``
    the samples carry, one per stored batch read from."""

    count: int
    samples: np.ndarray | None
    keys: list[str]
    indices: np.ndarray
    sizes: np.ndarray | None = None
    key_runs: list[tuple[int, int, int]] = field(default_factory=list)

    @property
    def eof(self) -> bool:
        return self.count < 0


def decode_batch(
    log: StreamLog,
    handle: str,
    schema: StreamSchema,
    compressor: Compressor,
    lo: int = 0,
    hi: int | None = None,
) -> tuple[np.ndarray, np.ndarray | None]:
    """Read one stored batch, decompress it when the stream is compressed,
    and slice samples ``[lo, hi)``: a structured array (a zero-copy view of
    the stored payload when uncompressed), or for variable-width streams
    flat bytes plus per-sample sizes."""
    z = log.read_batch(handle)
    data = z["data"]
    if compressor.mode is not CompressionMode.UNCOMPRESSED:
        data = np.frombuffer(compressor.decompress(data.tobytes()), dtype=np.uint8)
    if schema.has_variable_width_field:
        return slice_batch(data, z["sizes"], lo, hi)
    return data.view(schema.dtype())[lo:hi], None


def slice_batch(
    samples: np.ndarray, sizes: np.ndarray | None, lo: int = 0, hi: int | None = None
) -> tuple[np.ndarray, np.ndarray | None]:
    """Samples ``[lo, hi)`` of a decoded batch (``decode_batch``'s output),
    as views: a structured-array slice, or for variable-width streams the
    flat bytes of those samples plus their sizes."""
    if sizes is None:
        return samples[lo:hi], None
    hi = len(sizes) if hi is None else min(hi, len(sizes))
    offs = np.concatenate([[0], np.cumsum(sizes)])
    return samples[offs[lo] : offs[hi]], sizes[lo:hi]


class StreamReader:
    def __init__(self, log: StreamLog, max_fetch_size: int = DEFAULT_MAX_FETCH):
        self.log = log
        self.max_fetch_size = max_fetch_size
        self.stream_name: str | None = None
        self.schema: StreamSchema | None = None
        self._segment = 0
        self._next_index = 0  # global index of the next sample to return
        self._good = False
        self._eof_seen = False
        self._listeners = []
        # (handle, samples, sizes): the decoded batch the cursor is inside
        self._held: tuple[str, np.ndarray, np.ndarray | None] | None = None
        self.total_samples_read = 0
        self.initialized_at_us: int | None = None

    # -- lifecycle -----------------------------------------------------------
    def initialize(self, stream_name: str, timeout_ms: int = -1):
        deadline = None if timeout_ms < 0 else time.monotonic() + timeout_ms / 1000
        while True:
            meta = self.log.read_metadata(stream_name)
            if meta is not None:
                break
            if deadline is not None and time.monotonic() >= deadline:
                raise TimeoutError(f"stream {stream_name!r} not found within {timeout_ms} ms")
            time.sleep(0.001)  # 1 ms poll, cpp/src/reader.cpp:589-604
        self.stream_name = stream_name
        self.schema = StreamSchema.from_json(meta["schema"])
        # transparent decompression (cpp/src/reader.cpp:34-79 reads the
        # stream's compression params from metadata)
        self._compressor = Compressor.from_params_json(meta.get("compression_params_json"))
        self._segment = meta.get("first_segment", 0)
        self.initialized_at_us = meta.get("initialized_at_us")
        # A22 passthrough (cpp/src/reader.cpp:639-641)
        self.local_minus_server_clock_us = meta.get("local_minus_server_clock_us")
        self._good = True
        return self

    def new_buffer(self, n: int) -> np.ndarray:
        """Allocate an n-sample buffer matching the schema (binding parity,
        python/river.pyx StreamReader.new_buffer)."""
        return np.zeros(n, dtype=self.schema.dtype())

    def stop(self) -> None:
        self._good = False

    def good(self) -> bool:
        return self._good

    def add_listener(self, fn) -> None:
        """fn(old_segment, new_segment) on tombstone/EOF transitions."""
        self._listeners.append(fn)

    def metadata(self) -> dict:
        meta = self.log.read_metadata(self.stream_name)
        return meta.get("user_metadata", {}) if meta else {}

    def _wait_for_data(self, deadline: float | None = None) -> None:
        """One bounded wait for new data: backends with a server-side
        blocking primitive (RedisBackend ≈ XREAD BLOCK, the reference
        reader's adaptive path, cpp/src/reader.cpp:111-137) block there;
        local backends fall back to a short sleep-poll. Never blocks past
        the caller's deadline (and never passes 0, which XREAD treats as
        block-forever)."""
        wait = getattr(self.log.backend, "wait_for_append", None)
        if wait is None:
            time.sleep(_POLL_S)
            return
        ms = 50
        if deadline is not None:
            ms = max(1, min(ms, int((deadline - time.monotonic()) * 1000)))
        wait(self.stream_name, self._segment, timeout_ms=ms)

    # -- scan helpers ----------------------------------------------------------
    def _available_in_segment(self) -> list[tuple[int, int, int, int, str]]:
        # cache the directory listing; refresh only when it has nothing new
        # (an O(files) listing per read call would be quadratic overall)
        cache = getattr(self, "_batch_cache", None)
        if cache is not None and cache[0] == self._segment:
            avail = [b for b in cache[1] if b[0] + b[1] > self._next_index]
            if avail:
                return avail
        batches = self.log.list_batches(self.stream_name, self._segment)
        self._batch_cache = (self._segment, batches)
        return [b for b in batches if b[0] + b[1] > self._next_index]

    def _decoded(self, handle: str) -> tuple[np.ndarray, np.ndarray | None]:
        """The whole decoded batch at ``handle``, decoded once while the
        cursor is inside it: a run of small reads over one stored batch
        reads and decompresses it once, not once per read."""
        if self._held is None or self._held[0] != handle:
            self._held = (
                handle,
                *decode_batch(self.log, handle, self.schema, self._compressor),
            )
        return self._held[1:]

    def _advance_segment_if_done(self) -> bool:
        """If the cursor is past all data in the current segment and a
        tombstone exists, hop to the next segment. Returns True if EOF."""
        ctrl = self.log.read_control(self.stream_name, self._segment)
        if ctrl is None:
            return False
        frontier = self.log.segment_frontier(self.stream_name, self._segment)
        if frontier is not None and self._next_index < frontier[0]:
            return False  # still data to consume here
        if "eof" in ctrl:
            self._eof_seen = True
            return True
        old = self._segment
        self._segment = ctrl["next_segment"]
        for fn in self._listeners:
            fn(old, self._segment)
        return False

    # -- read -------------------------------------------------------------------
    def read(self, num_samples: int, timeout_ms: int = -1, with_keys: bool = False) -> ReadResult:
        """Read ≤ num_samples. ``with_keys`` materializes per-sample key
        strings (optional out-param, like the reference's ``keys`` pointer,
        cpp/src/reader.h:150) — skipping them keeps the hot path free of
        per-row Python string formatting."""
        n = min(num_samples, self.max_fetch_size)
        deadline = None if timeout_ms < 0 else time.monotonic() + timeout_ms / 1000
        chunks: list[np.ndarray] = []
        sizes_out: list[np.ndarray] = []
        runs: list[tuple[int, int, int]] = []
        got = 0
        while got < n:
            progressed = False
            for start, cnt, key_ms, key_seq0, path in self._available_in_segment():
                if got >= n:
                    break
                lo = max(0, self._next_index - start)
                take = min(cnt - lo, n - got)
                samples, sizes = slice_batch(*self._decoded(path), lo, lo + take)
                chunks.append(samples)
                if sizes is not None:
                    sizes_out.append(sizes)
                runs.append((take, key_ms, key_seq0 + lo))
                # Monotone/contiguous index enforcement (cpp/src/reader.h:326-336).
                if start + lo != self._next_index:
                    raise RuntimeError(
                        f"non-contiguous sample index: expected {self._next_index}, got {start + lo}"
                    )
                self._next_index = start + lo + take
                if lo + take >= cnt:
                    self._held = None  # the cursor left this batch
                got += take
                progressed = True
            if got >= n:
                break
            if self._advance_segment_if_done():
                break  # EOF
            if progressed:
                continue
            if deadline is not None and time.monotonic() >= deadline:
                break
            self._wait_for_data(deadline)

        if got == 0 and self._eof_seen:
            return ReadResult(-1, None, [], np.empty(0, dtype=np.int64))
        indices = np.arange(self._next_index - got, self._next_index, dtype=np.int64)
        self.total_samples_read += got
        keys = run_keys(runs) if with_keys else []
        if self.schema.has_variable_width_field:
            samples = np.concatenate(chunks) if chunks else np.empty(0, dtype=np.uint8)
            sizes = np.concatenate(sizes_out) if sizes_out else np.empty(0, dtype=np.int64)
            return ReadResult(got, samples, keys, indices, sizes, runs)
        samples = np.concatenate(chunks) if chunks else np.empty(0, dtype=self.schema.dtype())
        return ReadResult(got, samples, keys, indices, key_runs=runs)

    # -- tail ---------------------------------------------------------------------
    def tail(self, timeout_ms: int = -1) -> tuple[int, ReadResult | None]:
        """Skip to the newest sample strictly after the cursor. Returns
        (skipped, result); (-1, None) when the stream has EOF'd and nothing
        newer exists (cpp/src/reader.cpp:336-488)."""
        deadline = None if timeout_ms < 0 else time.monotonic() + timeout_ms / 1000
        while True:
            newest = self._newest_available()
            if newest is not None and newest >= self._next_index:
                skipped = newest - self._next_index
                self._seek_to_index(newest)
                res = self.read(1, timeout_ms=0, with_keys=True)
                return skipped, res
            if self._stream_eof():
                return -1, None
            if deadline is not None and time.monotonic() >= deadline:
                return 0, None
            self._wait_for_data(deadline)

    def _newest_available(self) -> int | None:
        """Newest sample index in the log at or after the cursor's segment
        (a live tail() poll runs this every ~50 ms, hence the frontier's
        tail probe rather than a listing)."""
        frontier = self.log.stream_frontier(self.stream_name, self._segment)
        return None if frontier is None else frontier[0] - 1

    def _stream_eof(self) -> bool:
        segs = self.log.list_segments(self.stream_name)
        if not segs:
            return False
        ctrl = self.log.read_control(self.stream_name, segs[-1])
        return bool(ctrl and "eof" in ctrl)

    def _seek_to_index(self, index: int) -> None:
        while True:
            frontier = self.log.segment_frontier(self.stream_name, self._segment)
            if frontier is None or index < frontier[0]:
                break
            ctrl = self.log.read_control(self.stream_name, self._segment)
            if ctrl is None or "eof" in ctrl:
                break
            old = self._segment
            self._segment = ctrl["next_segment"]
            for fn in self._listeners:
                fn(old, self._segment)
        self._next_index = index

    # -- seek ------------------------------------------------------------------------
    def seek(self, key: str) -> int:
        """Position the cursor after the greatest element ≤ ``key``; never
        moves backward. Returns samples skipped, or -1 if ``key`` is past the
        stream's EOF (cpp/src/reader.cpp:507-583). Pure filename arithmetic —
        a batch's keys are the contiguous run (ms, seq0..seq0+n-1), so no
        payload file is ever opened."""
        target = decode_key(key)
        t_ms, t_seq = target
        old_next = self._next_index
        best = None  # global index of greatest element <= key
        seg = self._segment
        while True:
            for start, cnt, key_ms, key_seq0, _path in self.log.list_batches(self.stream_name, seg):
                if (key_ms, key_seq0) > target:
                    break
                if key_ms < t_ms or (key_ms == t_ms and key_seq0 + cnt - 1 <= t_seq):
                    best = start + cnt - 1  # whole batch <= target
                else:  # same ms, target falls inside this batch's seq run
                    best = start + (t_seq - key_seq0)
            ctrl = self.log.read_control(self.stream_name, seg)
            if ctrl is None:
                break
            if "eof" in ctrl:
                frontier = self.log.segment_frontier(self.stream_name, seg)
                if best is not None and frontier is not None and (
                    best == frontier[0] - 1 and target > frontier[1:]
                ):
                    return -1  # key past EOF
                break
            seg = ctrl["next_segment"]
        if best is None:
            return 0
        new_next = best + 1
        if new_next <= old_next:
            return 0  # never move backward
        self._seek_to_index(new_next)
        return new_next - old_next
