"""File-backed segmented append-only stream log.

This is the storage substrate standing in for Redis Streams (not available
in this environment). It reproduces the reference's storage *semantics*,
not its wire format:

- A logical stream is a chain of **segments**, each holding at most
  ``entries_per_segment`` samples; segments are chained by **tombstone**
  markers and the stream ends with an **EOF** marker
  (reference ``cpp/src/writer.h:107-111``, ``cpp/src/writer.cpp:174-189``,
  ``:383-398``).
- Stream **metadata** (schema JSON, ``initialized_at_us``, user metadata)
  lives beside the data, mirroring the ``{name}-metadata`` Redis hash
  (``cpp/src/writer.cpp:68-95``, ``cpp/src/redis.cpp:136-165``).
- Every sample has a **key** ``"<ms>-<seq>"`` that is globally unique and
  strictly increasing, whose ms prefix doubles as a wall-clock timestamp
  (``cpp/src/redis.h:56-70``).

Physical layout under ``root/<stream>/``::

    metadata.json
    segment_000000/
        batch_000000000000_<n>_<key_ms>_<key_seq>.npz   # one file per write batch
        tombstone.json | eof.json                       # control marker

Batch files are written temp+rename for crash consistency (the same trick
as the reference ingester, ``cpp/ingester/src/ingester.cpp:395-401``).
Each ``.npz`` holds the packed sample payload plus per-sample keys, so a
batch is self-describing — the unit of IO is a batch, never a row, which
is what makes the Spark DataSource over this log partition cleanly.
"""

from __future__ import annotations

import io
import json
import os
import re
import threading
import time

import numpy as np

from river_spark.transport.backend import (  # noqa: F401  (re-exported)
    MemoryBackend,
    StorageBackend,
    StreamExistsError,
)

_BATCH_RE = re.compile(r"^batch_(\d{12})_(\d+)_(\d+)_(\d+)\.(bin|npz)$")
_SEG_RE = re.compile(r"^segment_(\d{6})$")


def locator_option(log_root: str) -> tuple[str, str]:
    """Split a log-root string into the DataSource option it maps to:
    ``redis://host:port`` → ("redis", "host:port"); anything else is a
    file root → ("path", root)."""
    if log_root.startswith("redis://"):
        return "redis", log_root[len("redis://"):]
    return "path", log_root


def is_reserved_stream(name: str) -> bool:
    """True for internal staging streams/dirs the Spark sink creates while
    a batch is in flight (``_stg_*`` on redis, ``_staging_*`` on files).
    They carry metadata like real streams, so catalogs and catch-all
    ingesters must skip them — a daemon that ingests one mid-write would
    stale-EOF and delete the staged batch out from under the writer."""
    return name.startswith(("_stg_", "_staging_"))


def parse_redis_hostport(value: str) -> tuple[str, int]:
    """``host:port`` / ``:port`` / bare ``port`` → (host, port), host
    defaulting to 127.0.0.1 — THE one parser for redis locators (CLI
    --redis, DataSource option("redis"), redis:// log roots)."""
    host, _, port = value.rpartition(":")
    return host or "127.0.0.1", int(port)


def open_log_root(log_root: str) -> "StreamLog":
    """StreamLog for a root string — file directory or redis://host:port."""
    kind, value = locator_option(log_root)
    if kind == "redis":
        from river_spark.transport.redis_backend import RedisBackend

        return StreamLog(backend=RedisBackend(*parse_redis_hostport(value)))
    return StreamLog(value)


def encode_key(ms: int, seq: int) -> str:
    return f"{ms}-{seq}"


def run_keys(key_runs: list[tuple[int, int, int]]) -> list[str]:
    """Keys of consecutive key runs ``[(count, key_ms, key_seq0)]``; a
    batch's keys are one run (ms, seq0..seq0+count-1)."""
    return [encode_key(ms, seq0 + i) for n, ms, seq0 in key_runs for i in range(n)]


def decode_key(key: str) -> tuple[int, int]:
    ms, seq = key.split("-")
    return int(ms), int(seq)


class FileBackend(StorageBackend):
    """Default backend: segmented files under one root directory."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._lock = threading.Lock()

    # The backend is embedded in Spark DataSource readers which get pickled
    # to executors; the lock is process-local state, recreated on load.
    def __getstate__(self):
        return {"root": self.root}

    def __setstate__(self, state):
        self.root = state["root"]
        self._lock = threading.Lock()

    # ---- paths -----------------------------------------------------------
    def stream_dir(self, name: str) -> str:
        return os.path.join(self.root, name)

    def segment_dir(self, name: str, idx: int) -> str:
        return os.path.join(self.stream_dir(name), f"segment_{idx:06d}")

    def metadata_path(self, name: str) -> str:
        return os.path.join(self.stream_dir(name), "metadata.json")

    # ---- metadata (≈ Redis {name}-metadata hash) ---------------------------
    def create_stream(self, name: str, metadata: dict) -> None:
        """Atomic create; collision is an error (cpp/src/writer.cpp:55-60)."""
        with self._lock:
            d = self.stream_dir(name)
            if os.path.exists(self.metadata_path(name)) or (
                os.path.isdir(d) and os.listdir(d)
            ):
                raise StreamExistsError(f"stream {name!r} already exists")
            os.makedirs(self.segment_dir(name, 0), exist_ok=True)
            self._write_json_atomic(self.metadata_path(name), metadata)

    def read_metadata(self, name: str) -> dict | None:
        p = self.metadata_path(name)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def update_metadata(self, name: str, updates: dict) -> None:
        with self._lock:
            meta = self.read_metadata(name)
            if meta is None:
                raise FileNotFoundError(f"stream {name!r} not initialized")
            meta.update(updates)
            self._write_json_atomic(self.metadata_path(name), meta)

    def delete_metadata(self, name: str) -> None:
        p = self.metadata_path(name)
        if os.path.exists(p):
            os.remove(p)

    def list_streams(self) -> list[str]:
        """≈ SCAN MATCH *-metadata (cpp/src/redis.cpp:325-362)."""
        if not os.path.isdir(self.root):
            return []
        out = []
        for entry in sorted(os.listdir(self.root)):
            if os.path.exists(self.metadata_path(entry)):
                out.append(entry)
        return out

    # ---- batches -----------------------------------------------------------
    # A batch's keys are one (ms, seq0..seq0+n-1) run (MonotonicKeyGen hands
    # out a single ms per call), so the filename fully describes them:
    # batch_{start_index}_{n}_{ms}_{seq0}. Fixed-width payloads are RAW bytes
    # (.bin — no container overhead in the hot path); variable-width batches
    # are .npz carrying data + per-sample sizes. Seek never opens a file.
    def append_batch(
        self,
        name: str,
        segment_idx: int,
        start_index: int,
        data: bytes,
        n: int,
        key_ms: int,
        key_seq0: int,
        sizes: np.ndarray | None,
    ) -> str:
        stem = f"batch_{start_index:012d}_{n}_{int(key_ms)}_{int(key_seq0)}"
        return self.write_batch_file(os.path.join(self.segment_dir(name, segment_idx), stem), data, sizes)

    @staticmethod
    def write_batch_file(stem: str, data: bytes, sizes: np.ndarray | None) -> str:
        """Write one batch payload temp+rename — raw bytes to ``stem.bin``,
        or data + per-sample sizes to ``stem.npz`` — and return its path."""
        if sizes is None:
            path, body = stem + ".bin", data
        else:
            path = stem + ".npz"
            buf = io.BytesIO()
            np.savez(
                buf,
                data=np.frombuffer(data, dtype=np.uint8),
                sizes=np.asarray(sizes, dtype=np.int64),
            )
            body = buf.getvalue()
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            f.write(body)
        os.replace(tmp, path)
        return path

    def list_batches(self, name: str, segment_idx: int) -> list[tuple[int, int, int, int, str]]:
        """Sorted [(start_index, n, key_ms, key_seq0, path)] for a segment."""
        seg = self.segment_dir(name, segment_idx)
        if not os.path.isdir(seg):
            return []
        out = []
        for fname in os.listdir(seg):
            m = _BATCH_RE.match(fname)
            if m:
                out.append(
                    (int(m.group(1)), int(m.group(2)), int(m.group(3)), int(m.group(4)),
                     os.path.join(seg, fname))
                )
        out.sort()
        return out

    def read_batch(self, path: str) -> dict:
        """Returns {'data': uint8 array, 'sizes': int64 array | absent}."""
        if path.endswith(".bin"):
            return {"data": np.fromfile(path, dtype=np.uint8)}
        with np.load(path) as z:
            return {k: z[k] for k in z.files}

    def delete_batch(self, path: str) -> None:
        if os.path.exists(path):
            os.remove(path)

    # ---- control markers -----------------------------------------------------
    def write_tombstone(self, name: str, segment_idx: int, sample_index: int) -> None:
        """Ends a segment, pointing at the next (cpp/src/writer.cpp:176-183)."""
        nxt = segment_idx + 1
        os.makedirs(self.segment_dir(name, nxt), exist_ok=True)
        self._write_json_atomic(
            os.path.join(self.segment_dir(name, segment_idx), "tombstone.json"),
            {"tombstone": 1, "next_segment": nxt, "sample_index": sample_index},
        )

    def write_eof(self, name: str, segment_idx: int, sample_index: int) -> None:
        """Ends the stream (cpp/src/writer.cpp:383-398)."""
        self._write_json_atomic(
            os.path.join(self.segment_dir(name, segment_idx), "eof.json"),
            {"eof": 1, "sample_index": sample_index},
        )

    def read_control(self, name: str, segment_idx: int) -> dict | None:
        seg = self.segment_dir(name, segment_idx)
        for fname in ("eof.json", "tombstone.json"):
            p = os.path.join(seg, fname)
            if os.path.exists(p):
                with open(p) as f:
                    return json.load(f)
        return None

    def list_segments(self, name: str) -> list[int]:
        d = self.stream_dir(name)
        if not os.path.isdir(d):
            return []
        out = []
        for entry in os.listdir(d):
            m = _SEG_RE.match(entry)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def delete_segment(self, name: str, segment_idx: int) -> None:
        seg = self.segment_dir(name, segment_idx)
        if os.path.isdir(seg):
            for fname in os.listdir(seg):
                os.remove(os.path.join(seg, fname))
            os.rmdir(seg)

    # ---- aux KV ------------------------------------------------------------
    def _aux_path(self, key: str) -> str:
        return os.path.join(self.root, f"_aux_{key.replace('/', '__')}.json")

    def read_aux(self, key: str) -> str | None:
        try:
            with open(self._aux_path(key)) as f:
                return f.read()
        except OSError:
            pass
        # Migration: group cursors written before the aux-key scheme lived
        # at _cursor_{stream}_{group}.json — exactly
        # "_" + key.replace("/","_") — so a pre-upgrade cursor keeps its
        # position. (Sink-commit registries do NOT migrate: their key
        # gained a per-query scope, deliberately superseding the old
        # shared registry — see RiverStreamWriter — so the generic
        # fallback below simply never finds a legacy file for them.)
        legacy = os.path.join(self.root, "_" + key.replace("/", "_") + ".json")
        try:
            with open(legacy) as f:
                value = f.read()
        except OSError:
            return None
        self.write_aux(key, value)
        return value

    def write_aux(self, key: str, value: str) -> None:
        path = self._aux_path(key)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(str(value))
        os.replace(tmp, path)

    # ---- helpers ----------------------------------------------------------
    @staticmethod
    def _write_json_atomic(path: str, obj: dict) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(obj, f)
        os.replace(tmp, path)


class StreamLog:
    """Storage facade for one logical log of streams.

    ``StreamLog(root)`` keeps the historical file-backed behavior
    (FileBackend under ``root``); ``StreamLog(backend=...)`` plugs any
    StorageBackend — the seam where a Redis-wire implementation slots in
    (the reference speaks RESP: XADD/XRANGE/XREAD-BLOCK,
    /root/reference/cpp/src/redis.cpp:63-133). Every transport component
    (StreamWriter, StreamReader, ingester, Spark source/sink) talks only
    to this facade."""

    def __init__(self, root: str | None = None, backend: StorageBackend | None = None):
        if backend is None:
            if root is None:
                raise ValueError("StreamLog needs a root directory or a backend")
            backend = FileBackend(root)
        self.backend = backend
        self.root = getattr(backend, "root", root)

    # ---- file-layout helpers (FileBackend only: sink rename fast-path,
    # ingester cleanup). Other backends have no filesystem layout.
    def stream_dir(self, name: str) -> str:
        return self._file_backend().stream_dir(name)

    def segment_dir(self, name: str, idx: int) -> str:
        return self._file_backend().segment_dir(name, idx)

    def metadata_path(self, name: str) -> str:
        return self._file_backend().metadata_path(name)

    def _file_backend(self) -> FileBackend:
        if not isinstance(self.backend, FileBackend):
            raise NotImplementedError(
                f"{type(self.backend).__name__} has no filesystem layout"
            )
        return self.backend

    # ---- delegated storage ops -------------------------------------------
    def create_stream(self, name, metadata):
        return self.backend.create_stream(name, metadata)

    def read_metadata(self, name):
        return self.backend.read_metadata(name)

    def update_metadata(self, name, updates):
        return self.backend.update_metadata(name, updates)

    def delete_metadata(self, name):
        return self.backend.delete_metadata(name)

    def list_streams(self):
        return self.backend.list_streams()

    def append_batch(self, name, segment_idx, start_index, data, n, key_ms, key_seq0, sizes):
        return self.backend.append_batch(
            name, segment_idx, start_index, data, n, key_ms, key_seq0, sizes
        )

    def list_batches(self, name, segment_idx):
        return self.backend.list_batches(name, segment_idx)

    def read_batch(self, handle):
        return self.backend.read_batch(handle)

    def segment_frontier(self, name, segment_idx) -> tuple[int, int, int] | None:
        """(end index, last key ms, last key seq) of the data in one
        segment, None if it holds none. A backend's tail probe
        (RedisBackend: an XREVRANGE of a few tail entries) answers without
        listing the segment, so a live poller or a per-micro-batch sink
        commit never rescans a million-entry segment."""
        return self.backend.last_batch_info(name, segment_idx)

    def stream_frontier(self, name, from_segment: int = 0) -> tuple[int, int, int] | None:
        """``segment_frontier`` of the newest segment at or after
        ``from_segment`` that holds data: the stream's end index and last
        key, None if there is no data."""
        for seg in reversed(self.list_segments(name)):
            if seg < from_segment:
                break
            frontier = self.segment_frontier(name, seg)
            if frontier is not None:
                return frontier
        return None

    def delete_batch(self, handle):
        return self.backend.delete_batch(handle)

    def write_tombstone(self, name, segment_idx, sample_index):
        return self.backend.write_tombstone(name, segment_idx, sample_index)

    def write_eof(self, name, segment_idx, sample_index):
        return self.backend.write_eof(name, segment_idx, sample_index)

    def read_control(self, name, segment_idx):
        return self.backend.read_control(name, segment_idx)

    def list_segments(self, name):
        return self.backend.list_segments(name)

    def delete_segment(self, name, segment_idx):
        return self.backend.delete_segment(name, segment_idx)

    def read_aux(self, key):
        return self.backend.read_aux(key)

    def write_aux(self, key, value):
        return self.backend.write_aux(key, value)


class MonotonicKeyGen:
    """Produces strictly-increasing ``"<ms>-<seq>"`` keys, matching the entry
    ID semantics of the reference (cpp/src/redis.h:56-70)."""

    def __init__(self, clock=None):
        self._clock = clock or (lambda: int(time.time() * 1000))
        self._last_ms = -1
        self._seq = 0

    def seed(self, last_ms: int, last_seq: int) -> None:
        """Resume key generation after keys up to (last_ms, last_seq) were
        already handed out (e.g. a new writer appending to an existing
        stream) so the strictly-increasing key invariant holds across
        writer instances (cpp/src/redis.h:56-70)."""
        self._last_ms = last_ms
        self._seq = last_seq + 1

    def next_keys(self, n: int) -> tuple[int, int]:
        """Reserve n keys; the batch's keys are (ms, seq0)...(ms, seq0+n-1).
        One ms per call keeps a batch a single contiguous key run, which is
        what lets batch filenames fully describe their keys."""
        ms = self._clock()
        if ms < self._last_ms:
            ms = self._last_ms
        seq0 = self._seq if ms == self._last_ms else 0
        self._last_ms = ms
        self._seq = seq0 + n
        return ms, seq0
