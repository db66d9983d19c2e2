"""Pluggable storage backends for the stream log.

``StreamLog`` (transport/log.py) delegates every storage operation to a
``StorageBackend``. The default is ``FileBackend`` (segmented files under
a root directory). ``MemoryBackend`` here is a second, in-process
implementation used to prove the seam: the transport suite (writer,
reader, tail, seek, metadata, EOF) runs identically against both.

The seam exists so a Redis-wire backend can slot in: the reference
transport speaks RESP to Redis — XADD for appends, XRANGE/XREAD-BLOCK
for ranged/blocking scans, stream-name hashes for metadata
(/root/reference/cpp/src/redis.cpp:63-133, writer.cpp:68-95). Each
abstract method below corresponds to one of those wire operations;
``append_batch`` returns an opaque string handle (a file path for
FileBackend, a key for MemoryBackend, an entry ID range for a Redis
backend) that ``read_batch`` resolves later — possibly on a different
machine, which is why handles must be self-contained.

MemoryBackend holds data in this process only: pickling it (e.g. into a
Spark task) copies the current contents, so writes made after the copy
are not visible to the copy-holder. It exists for tests and
single-process pipelines, not for distributed reads.
"""

from __future__ import annotations

import abc
import threading

import numpy as np


class StreamExistsError(RuntimeError):
    pass


class StorageBackend(abc.ABC):
    """Storage contract behind StreamLog. Streams are chains of segments;
    segments hold ordered batches plus at most one control marker
    (tombstone → next segment, or EOF → stream end)."""

    # ---- stream metadata (≈ Redis {name}-metadata hash) -------------------
    @abc.abstractmethod
    def create_stream(self, name: str, metadata: dict) -> None:
        """Atomic create; raise StreamExistsError on collision."""

    @abc.abstractmethod
    def read_metadata(self, name: str) -> dict | None: ...

    @abc.abstractmethod
    def update_metadata(self, name: str, updates: dict) -> None: ...

    @abc.abstractmethod
    def delete_metadata(self, name: str) -> None: ...

    @abc.abstractmethod
    def list_streams(self) -> list[str]: ...

    # ---- batches (≈ XADD / XRANGE) ----------------------------------------
    @abc.abstractmethod
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
        """Store one batch; return a self-contained handle for read_batch."""

    @abc.abstractmethod
    def list_batches(self, name: str, segment_idx: int) -> list[tuple[int, int, int, int, str]]:
        """Sorted [(start_index, n, key_ms, key_seq0, handle)]."""

    @abc.abstractmethod
    def read_batch(self, handle: str) -> dict:
        """{'data': uint8 array, 'sizes': int64 array | absent}."""

    @abc.abstractmethod
    def delete_batch(self, handle: str) -> None: ...

    def last_batch_info(self, name: str, segment_idx: int) -> tuple[int, int, int] | None:
        """(end index, last key ms, last key seq) of the newest batch in one
        segment, None if it holds no data. Backends with a cheaper tail
        probe than a full listing override this."""
        batches = self.list_batches(name, segment_idx)
        if not batches:
            return None
        start, n, key_ms, key_seq0, _handle = batches[-1]
        return start + n, key_ms, key_seq0 + n - 1

    # ---- segments + control markers ---------------------------------------
    @abc.abstractmethod
    def write_tombstone(self, name: str, segment_idx: int, sample_index: int) -> None: ...

    @abc.abstractmethod
    def write_eof(self, name: str, segment_idx: int, sample_index: int) -> None: ...

    @abc.abstractmethod
    def read_control(self, name: str, segment_idx: int) -> dict | None: ...

    @abc.abstractmethod
    def list_segments(self, name: str) -> list[int]: ...

    @abc.abstractmethod
    def delete_segment(self, name: str, segment_idx: int) -> None: ...

    # ---- small auxiliary KV (consumer-group cursors, sink commit registry).
    # ≈ plain Redis string keys beside the stream; file backend keeps them
    # as files under the root. Values are short strings (JSON), written
    # atomically (last writer wins).
    @abc.abstractmethod
    def read_aux(self, key: str) -> str | None: ...

    @abc.abstractmethod
    def write_aux(self, key: str, value: str) -> None: ...


class MemoryBackend(StorageBackend):
    """In-process dict-backed backend. Same semantics as FileBackend for
    everything the transport layer does; data lives in this process."""

    def __init__(self):
        self._lock = threading.Lock()
        # name -> {"metadata": dict|None, "segments": {idx: {"batches": {handle: meta}, "control": dict|None}}}
        self._streams: dict[str, dict] = {}
        self._payloads: dict[str, dict] = {}
        self._aux: dict[str, str] = {}

    # locks don't pickle; a pickled copy is an independent snapshot
    def __getstate__(self):
        return {
            "streams": self._streams,
            "payloads": self._payloads,
            "aux": self._aux,
        }

    def __setstate__(self, state):
        self._lock = threading.Lock()
        self._streams = state["streams"]
        self._payloads = state["payloads"]
        self._aux = state.get("aux", {})

    def _segment(self, name: str, idx: int, create: bool = False) -> dict | None:
        s = self._streams.get(name)
        if s is None:
            if not create:
                return None
            s = self._streams.setdefault(name, {"metadata": None, "segments": {}})
        seg = s["segments"].get(idx)
        if seg is None and create:
            seg = s["segments"].setdefault(idx, {"batches": {}, "control": None})
        return seg

    # ---- metadata ---------------------------------------------------------
    def create_stream(self, name: str, metadata: dict) -> None:
        with self._lock:
            s = self._streams.get(name)
            if s is not None and (s["metadata"] is not None or s["segments"]):
                raise StreamExistsError(f"stream {name!r} already exists")
            self._streams[name] = {
                "metadata": dict(metadata),
                "segments": {0: {"batches": {}, "control": None}},
            }

    def read_metadata(self, name: str) -> dict | None:
        with self._lock:
            s = self._streams.get(name)
            return None if s is None or s["metadata"] is None else dict(s["metadata"])

    def update_metadata(self, name: str, updates: dict) -> None:
        with self._lock:
            s = self._streams.get(name)
            if s is None or s["metadata"] is None:
                raise FileNotFoundError(f"stream {name!r} not initialized")
            s["metadata"].update(updates)

    def delete_metadata(self, name: str) -> None:
        with self._lock:
            s = self._streams.get(name)
            if s is not None:
                s["metadata"] = None

    def list_streams(self) -> list[str]:
        with self._lock:
            return sorted(n for n, s in self._streams.items() if s["metadata"] is not None)

    # ---- batches ----------------------------------------------------------
    def append_batch(self, name, segment_idx, start_index, data, n, key_ms, key_seq0, sizes):
        handle = f"mem://{name}/{segment_idx}/batch_{start_index:012d}_{n}_{int(key_ms)}_{int(key_seq0)}"
        payload = {"data": np.frombuffer(bytes(data), dtype=np.uint8)}
        if sizes is not None:
            payload["sizes"] = np.asarray(sizes, dtype=np.int64)
        with self._lock:
            seg = self._segment(name, segment_idx, create=True)
            seg["batches"][handle] = (int(start_index), int(n), int(key_ms), int(key_seq0))
            self._payloads[handle] = payload
        return handle

    def list_batches(self, name, segment_idx):
        with self._lock:
            seg = self._segment(name, segment_idx)
            if seg is None:
                return []
            out = [(*meta, h) for h, meta in seg["batches"].items()]
        out.sort()
        return out

    def read_batch(self, handle):
        with self._lock:
            payload = self._payloads.get(handle)
            if payload is None:
                raise FileNotFoundError(handle)
            return dict(payload)

    def delete_batch(self, handle):
        with self._lock:
            self._payloads.pop(handle, None)
            name = handle[len("mem://"):].split("/", 1)[0]
            s = self._streams.get(name)
            if s is not None:
                for seg in s["segments"].values():
                    seg["batches"].pop(handle, None)

    # ---- segments + control markers ---------------------------------------
    def write_tombstone(self, name, segment_idx, sample_index):
        with self._lock:
            seg = self._segment(name, segment_idx, create=True)
            seg["control"] = {
                "tombstone": 1, "next_segment": segment_idx + 1, "sample_index": sample_index,
            }
            self._segment(name, segment_idx + 1, create=True)

    def write_eof(self, name, segment_idx, sample_index):
        with self._lock:
            seg = self._segment(name, segment_idx, create=True)
            seg["control"] = {"eof": 1, "sample_index": sample_index}

    def read_control(self, name, segment_idx):
        with self._lock:
            seg = self._segment(name, segment_idx)
            return None if seg is None or seg["control"] is None else dict(seg["control"])

    def list_segments(self, name):
        with self._lock:
            s = self._streams.get(name)
            return sorted(s["segments"]) if s is not None else []

    def delete_segment(self, name, segment_idx):
        with self._lock:
            s = self._streams.get(name)
            if s is None:
                return
            seg = s["segments"].pop(segment_idx, None)
            if seg:
                for h in seg["batches"]:
                    self._payloads.pop(h, None)

    # ---- aux KV ------------------------------------------------------------
    def read_aux(self, key):
        with self._lock:
            return self._aux.get(key)

    def write_aux(self, key, value):
        with self._lock:
            self._aux[key] = str(value)
