"""Redis-wire StorageBackend: the stream log over real Redis streams.

Byte-level parity with the reference's non-module ("fallback") wire
format, so streams written here are readable by a stock reference reader
pointed at the same server, and vice versa:

- **Appends** are one ``XADD {name}-{segment} <id> val <sample-bytes> i
  <global-index>`` per sample (``/root/reference/cpp/src/writer.cpp:
  296-354``). The reference lets the server assign IDs (``*``); we pass
  the writer's MonotonicKeyGen keys explicitly as ``ms-seq`` entry IDs —
  legal on the wire (IDs must only be strictly increasing) and it keeps
  the batch⇄key bookkeeping identical across all three backends. Foreign
  streams with server-assigned IDs are still readable: consecutive
  samples that don't share a contiguous ID run simply list as smaller
  batches.
- **Metadata** is the ``{name}-metadata`` hash with the reference's field
  names: ``first_stream_key``, ``schema``, ``initialized_at_us``,
  ``user_metadata`` (JSON), ``compression_params_json``
  (``cpp/src/writer.cpp:62-104``, ``cpp/src/redis.cpp:136-165,218-279``).
- **Segment rollover** appends a ``tombstone 1 / next_stream_key /
  sample_index`` entry; **EOF** appends ``eof 1 / sample_index``
  (``cpp/src/writer.cpp:174-189,383-398``).
- **Catalog** is ``SCAN MATCH *-metadata`` (``cpp/src/redis.cpp:325-362``);
  deletion is ``UNLINK`` / ``DEL`` (``:364-389``); ``TIME`` backs the A22
  clock-delta estimate (``:281-291``).

Compressed streams can't use per-sample entries (the payload is an
opaque batch); the reference refuses compression without its server
module, and the module stores one batch like this
(``river_redismodule.c:63-131``): the FIRST entry carries the whole
batch's compressed blob under ``i <index_start> / val <blob>``, and each
remaining logical sample is an ``i <index> / reference <blob-entry-id>``
entry (the reference reader chases ``reference`` into its lookahead
cache, ``cpp/src/reader.cpp:291-334``). This backend READS that layout
unconditionally (a ``val`` entry on a compressed stream is a batch blob;
``reference`` entries extend the batch), and WRITES it when
``module_framing=True`` — via the module's own
``RIVER.batch_xadd_compressed`` command, so a reference reader with the
matching decompressor consumes our compressed streams too. The default
write layout remains ONE entry per batch with fields ``batch_val / i /
n`` at the batch's first key ID — a module-free analog for servers
without the module loaded.

Scale note: one backend instance holds one socket per thread
(thread-local), and handles are self-contained strings, so Spark
executors deserializing a pickled backend reconnect and read their own
XRANGE windows — reads are distributed, there is no driver funnel.
"""

from __future__ import annotations

import bisect
import json
import threading
import time

import numpy as np

from river_spark.transport.backend import StorageBackend, StreamExistsError
from river_spark.transport.resp import RespClient, RespError

_HANDLE_PREFIX = "redis://"
_PAGE = 4096  # XRANGE pagination size for full-segment listings


def _fields_dict(flat_fields: list) -> dict[bytes, bytes]:
    return {f: v for f, v in zip(flat_fields[::2], flat_fields[1::2])}


def _id_tuple(raw: bytes) -> tuple[int, int]:
    ms, seq = raw.decode().split("-")
    return int(ms), int(seq)


class RedisBackend(StorageBackend):
    def __init__(self, host: str = "127.0.0.1", port: int = 6379,
                 password: str | None = None, timeout_s: float = 30.0,
                 batch_framing: bool = False, db: int = 0,
                 module_framing: bool = False):
        """``batch_framing=True`` stores one entry PER BATCH (fields
        batch_val/i/n) instead of the reference's per-sample val/i
        fallback — the same trade its server module makes (its
        RIVER.batch_xadd exists because per-sample XADD is the wire
        bottleneck, river_redismodule.c:13-61). Opt-in: framed streams
        are ~100x faster on the wire but are NOT readable by a stock
        reference reader; leave False for byte-level interop.

        ``module_framing=True`` writes COMPRESSED batches through the
        reference server module's ``RIVER.batch_xadd_compressed`` command
        (blob entry + per-sample ``reference`` entries, auto-assigned
        IDs) — full wire parity for compressed streams on a server with
        the module loaded. Requires the module (or this repo's
        mini_redis, which implements the command); reading that layout
        needs no flag, it is always on."""
        self.host, self.port, self.password = host, port, password
        self.timeout_s = timeout_s
        self.batch_framing = batch_framing
        self.module_framing = module_framing
        # Redis logical database index (SELECT on connect). Lets callers —
        # and the test suite — scope all keys to a dedicated db on a
        # shared server instead of key-squatting db 0.
        self.db = int(db)
        self._local = threading.local()
        self._stream_info: dict[str, dict] = {}
        # fail fast on an unreachable server, like redisConnectWithTimeout
        self._conn().command("PING")

    # sockets don't pickle; executors reconnect from the params
    def __getstate__(self):
        return {"host": self.host, "port": self.port, "password": self.password,
                "timeout_s": self.timeout_s, "batch_framing": self.batch_framing,
                "db": self.db, "module_framing": self.module_framing}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self.batch_framing = state.get("batch_framing", False)
        self.module_framing = state.get("module_framing", False)
        self.db = state.get("db", 0)
        self._local = threading.local()
        self._stream_info = {}

    def _conn(self) -> RespClient:
        c = getattr(self._local, "client", None)
        if c is None:
            c = RespClient(self.host, self.port, self.password, self.timeout_s)
            if self.db:
                c.command("SELECT", str(self.db))
            self._local.client = c
        return c

    # ---- key naming (wire parity) -----------------------------------------
    @staticmethod
    def _meta_key(name: str) -> str:
        return f"{name}-metadata"

    @staticmethod
    def _seg_key(name: str, segment_idx: int) -> str:
        return f"{name}-{segment_idx}"

    # ---- per-stream info cache --------------------------------------------
    def _info(self, name: str) -> dict:
        info = self._stream_info.get(name)
        if info is None:
            meta = self.read_metadata(name)
            if meta is None:
                raise FileNotFoundError(f"stream {name!r} not initialized")
            from river_spark.schema import StreamSchema

            schema = StreamSchema.from_json(meta["schema"])
            info = {
                "variable": schema.has_variable_width_field,
                "sample_size": None if schema.has_variable_width_field else schema.sample_size(),
                "compressed": meta.get("compression_params_json") is not None,
            }
            self._stream_info[name] = info
        return info

    # ---- metadata (≈ {name}-metadata hash) --------------------------------
    def create_stream(self, name: str, metadata: dict) -> None:
        c = self._conn()
        # a recreated stream may carry a different schema than a cached one
        self._stream_info.pop(name, None)
        if c.command("EXISTS", self._meta_key(name), self._seg_key(name, 0)):
            raise StreamExistsError(f"stream {name!r} already exists")
        fields = self._to_wire_fields(name, metadata)
        # HSETNX on the schema field is the atomic claim; losing the race
        # surfaces as the same StreamExistsError the reference raises
        # (cpp/src/writer.cpp:55-60,100-104).
        if not c.command("HSETNX", self._meta_key(name), "schema", fields.pop("schema")):
            raise StreamExistsError(f"stream {name!r} already exists")
        if fields:
            args = []
            for k, v in fields.items():
                args += [k, v]
            c.command("HSET", self._meta_key(name), *args)

    @staticmethod
    def _to_wire_fields(name: str, metadata: dict) -> dict:
        fields = {}
        for k, v in metadata.items():
            if k == "first_segment":
                fields["first_stream_key"] = f"{name}-{int(v)}"
            elif k == "user_metadata":
                fields["user_metadata"] = json.dumps(v)
            else:
                fields[k] = v if isinstance(v, (str, bytes)) else json.dumps(v)
        fields.setdefault("first_stream_key", f"{name}-0")
        fields.setdefault("user_metadata", "{}")
        return fields

    def read_metadata(self, name: str) -> dict | None:
        flat = self._conn().command("HGETALL", self._meta_key(name))
        if not flat:
            return None
        meta = {}
        for f, v in _fields_dict(flat).items():
            key, val = f.decode(), v.decode()
            if key == "first_stream_key":
                meta["first_segment"] = int(val.rsplit("-", 1)[1])
            elif key == "user_metadata":
                meta["user_metadata"] = json.loads(val)
            elif key in ("schema", "compression_params_json"):
                meta[key] = val
            else:
                try:
                    meta[key] = json.loads(val)
                except (ValueError, TypeError):
                    meta[key] = val
        return meta

    def update_metadata(self, name: str, updates: dict) -> None:
        c = self._conn()
        if not c.command("EXISTS", self._meta_key(name)):
            raise FileNotFoundError(f"stream {name!r} not initialized")
        args = []
        for k, v in self._to_wire_fields(name, updates).items():
            # _to_wire_fields defaults keys the caller didn't touch; drop them
            if k == "first_stream_key" and "first_segment" not in updates:
                continue
            if k == "user_metadata" and "user_metadata" not in updates:
                continue
            args += [k, v]
        if args:
            c.command("HSET", self._meta_key(name), *args)

    def delete_metadata(self, name: str) -> None:
        self._conn().command("DEL", self._meta_key(name))
        self._stream_info.pop(name, None)

    def list_streams(self) -> list[str]:
        c = self._conn()
        cursor, names = b"0", []
        while True:
            cursor, page = c.command("SCAN", cursor, "MATCH", "*-metadata")
            names += [k.decode()[: -len("-metadata")] for k in page]
            if cursor == b"0":
                break
        # SCAN's contract allows the same key on multiple cursor pages
        # (rehashing keyspace) — dedupe so catalogs never list a stream twice
        return sorted(set(names))

    # ---- batches (≈ XADD / XRANGE) ----------------------------------------
    def append_batch(self, name, segment_idx, start_index, data, n, key_ms, key_seq0, sizes):
        info = self._info(name)
        c = self._conn()
        key = self._seg_key(name, segment_idx)
        data = bytes(data)
        first_id = f"{int(key_ms)}-{int(key_seq0)}"
        if info["compressed"] and self.module_framing:
            # reference module layout: blob entry + (n-1) reference
            # entries, IDs assigned server-side (river_redismodule.c:63-131)
            kind = "modframed"
            c.command(
                "RIVER.batch_xadd_compressed", key,
                str(int(start_index)), str(int(n)), data,
            )
            # Server-assigned IDs: read back ONLY the newest entry. For
            # n>1 that's the last `reference` entry — its id is last_id
            # and its reference field IS the blob entry id (first_id);
            # for n==1 the newest entry is the (small-blob) entry itself.
            # XREVRANGE COUNT n here would echo the whole compressed blob
            # back over the wire, doubling hot-path write bytes.
            newest_id, flat = c.command("XREVRANGE", key, "+", "-", "COUNT", 1)[0]
            f = _fields_dict(flat)
            last_id = newest_id.decode()
            first_id = f[b"reference"].decode() if b"reference" in f else last_id
        elif info["compressed"] or self.batch_framing:
            # module-path analog: one entry per batch (opaque compressed
            # payload, or raw batch payload under batch_framing)
            kind = "framed"
            last_id = first_id
            fields = ["batch_val", data, "i", str(int(start_index)), "n", str(int(n))]
            if sizes is not None:
                fields += ["sizes", np.asarray(sizes, dtype="<i8").tobytes()]
            c.command("XADD", key, first_id, *fields)
        else:
            kind = "var" if sizes is not None else "fixed"
            if sizes is not None:
                bounds = np.concatenate([[0], np.cumsum(np.asarray(sizes, dtype=np.int64))])
            else:
                ss = info["sample_size"]
                if len(data) != n * ss:
                    raise ValueError(f"payload {len(data)}B != {n} x {ss}B samples")
                bounds = np.arange(n + 1, dtype=np.int64) * ss
            cmds = []
            for j in range(n):
                cmds.append((
                    "XADD", key, f"{int(key_ms)}-{int(key_seq0) + j}",
                    "val", data[bounds[j]:bounds[j + 1]], "i", str(int(start_index) + j),
                ))
            last_id = f"{int(key_ms)}-{int(key_seq0) + n - 1}"
            # Pipelined send-then-drain, like cpp/src/writer.cpp:328-353 —
            # chunked so unread replies can't fill both socket buffers and
            # deadlock the exchange. Every reply of a sent window MUST be
            # drained even when one is an -ERR: raising mid-drain would
            # leave the remaining replies in the socket and permanently
            # desynchronize this thread's cached connection (every later
            # command would read a stale XADD reply as its own answer).
            from river_spark.transport.resp import RespError

            chunk = 512
            first_err = None
            for off in range(0, n, chunk):
                window = cmds[off:off + chunk]
                c.send_many(window)
                for _ in range(len(window)):
                    try:
                        c.read_reply()
                    except RespError as e:
                        first_err = first_err or e
            if first_err is not None:
                raise first_err
        return (f"{_HANDLE_PREFIX}{name}/{segment_idx}/{kind}/"
                f"{int(start_index)}/{int(n)}/{first_id}/{last_id}")

    def _cached_range(self, name: str, seg: int, first_id: str, last_id: str):
        """Serve an id-range slice from the thread-local segment cache
        populated by the latest list_batches call (None on miss). The
        cache is a snapshot: XDEL-behind retention after the listing
        can't invalidate a read of a batch the listing reported — exactly
        the guarantee the handle itself gives."""
        cached = getattr(self._local, "seg_cache", None)
        if cached is None or cached[0] != name or cached[1] != seg:
            return None
        entries, ids = cached[2], cached[3]
        lo, hi = _id_tuple(first_id.encode()), _id_tuple(last_id.encode())
        # ids is sorted (XRANGE order): bisect instead of a full scan —
        # a linear scan here is O(segment) per read_batch, i.e. quadratic
        # over a segment's batches (the round-9 modframed profile showed
        # it costing as much as the listing itself).
        i = bisect.bisect_left(ids, lo)
        j = bisect.bisect_right(ids, hi)
        out = entries[i:j]
        # serve only when the slice provably covers the requested range:
        # handle boundary ids are exact entry ids by construction, so a
        # handle reaching past the cached snapshot (e.g. built after a
        # later append) falls through to a live XRANGE instead of
        # silently returning a partial batch
        if not out or ids[i] != lo or ids[j - 1] != hi:
            return None
        return out

    @staticmethod
    def _parse_handle(handle: str) -> tuple[str, int, str, int, int, str, str]:
        body = handle[len(_HANDLE_PREFIX):]
        name, seg, kind, start, n, first_id, last_id = body.rsplit("/", 6)
        return name, int(seg), kind, int(start), int(n), first_id, last_id

    def _xrange_from(self, key: str, lo: str):
        """XRANGE from an (inclusive or exclusive-``(``) cursor to the
        stream end, paginated."""
        c = self._conn()
        out = []
        while True:
            page = c.command("XRANGE", key, lo, "+", "COUNT", _PAGE)
            if not page:
                return out
            out += page
            if len(page) < _PAGE:
                return out
            lo = "(" + page[-1][0].decode()

    def _xrange_all(self, key: str):
        """Full-key XRANGE, paginated with exclusive cursors."""
        return self._xrange_from(key, "-")

    def list_batches(self, name, segment_idx):
        """Incremental segment listing: a reader polls this on EVERY
        read, so a full re-XRANGE per call makes the wire cost of
        following a stream quadratic in its length (the round-9 modframed
        profile: 12.5 s of a 15 s read spent re-listing). Per
        (name, segment) and per thread, we keep an exclusive XRANGE
        cursor plus the parsed run state, fetch only entries appended
        since the last call, and extend the runs in place. The
        accumulated raw entries also serve read_batch via _cached_range
        (one segment's entries per thread — segments are rotation-bounded,
        so this is O(segment), not O(stream))."""
        info = self._info(name)
        sample_kind = "var" if info["variable"] else "fixed"
        scans = getattr(self._local, "seg_scans", None)
        if scans is None:
            scans = self._local.seg_scans = {}
        st = scans.get((name, segment_idx))
        if st is None:
            # One scan state per STREAM per thread: a reader advancing to
            # the next segment must not keep every visited segment's raw
            # entries alive (that would be O(stream) memory, not the
            # O(segment) this cache promises) — drop the stream's other
            # segments before opening the new one.
            for key in [k for k in scans if k[0] == name and k[1] != segment_idx]:
                del scans[key]
            # closed = finished runs; open = the run new entries may extend;
            # run layout = [start, n, ms, seq0, last_ms, last_seq, kind]
            st = scans[(name, segment_idx)] = {
                "lo": "-", "entries": [], "ids": [], "closed": [], "open": None,
            }
        new = self._xrange_from(self._seg_key(name, segment_idx), st["lo"])
        if new:
            st["lo"] = "(" + new[-1][0].decode()
            st["entries"] += new
            st["ids"].extend(_id_tuple(e[0]) for e in new)
            closed, run = st["closed"], st["open"]
            for raw_id, flat in new:
                fields = _fields_dict(flat)
                if b"val" in fields:
                    ms, seq = _id_tuple(raw_id)
                    idx = int(fields[b"i"])
                    if info["compressed"]:
                        # module layout (river_redismodule.c:63-131): a `val`
                        # entry on a compressed stream IS a batch blob; the
                        # logical samples follow as `reference` entries
                        if run is not None:
                            closed.append(run)
                        run = [idx, 1, ms, seq, ms, seq, "modframed"]
                    elif (run is not None and run[6] == sample_kind
                            and ms == run[4] and seq == run[5] + 1
                            and idx == run[0] + run[1]):
                        run[1] += 1
                        run[5] = seq
                    else:
                        if run is not None:
                            closed.append(run)
                        run = [idx, 1, ms, seq, ms, seq, sample_kind]
                elif b"reference" in fields:
                    # module compressed layout: one more logical sample of the
                    # current blob batch. An orphan reference (no preceding
                    # blob in this listing) is unreadable — skip it.
                    if run is not None and run[6] == "modframed":
                        ms, seq = _id_tuple(raw_id)
                        run[1] += 1
                        run[4], run[5] = ms, seq
                elif b"batch_val" in fields:
                    if run is not None:
                        closed.append(run)
                        run = None
                    ms, seq = _id_tuple(raw_id)
                    closed.append(
                        [int(fields[b"i"]), int(fields[b"n"]), ms, seq, ms, seq, "framed"]
                    )
                # tombstone/eof entries are control markers, not data: skip
            st["open"] = run
        # read_batch's cache view over the accumulated entries
        self._local.seg_cache = (name, segment_idx, st["entries"], st["ids"])
        out = list(st["closed"])
        if st["open"] is not None:
            out.append(st["open"])
        result = []
        for start, n, ms, seq0, last_ms, last_seq, kind in out:
            handle = (f"{_HANDLE_PREFIX}{name}/{segment_idx}/{kind}/"
                      f"{start}/{n}/{ms}-{seq0}/{last_ms}-{last_seq}")
            result.append((start, n, ms, seq0, handle))
        result.sort()
        return result

    def read_batch(self, handle: str) -> dict:
        name, seg, kind, start, n, first_id, last_id = self._parse_handle(handle)
        entries = self._cached_range(name, seg, first_id, last_id)
        if entries is None:
            entries = self._conn().command(
                "XRANGE", self._seg_key(name, seg), first_id, last_id
            )
        payloads, sizes = [], []
        if kind == "modframed":
            # module compressed layout: the payload is the single blob
            # entry's `val`; the trailing `reference` entries only mark
            # the batch's logical samples (decompression happens in the
            # reader, like cpp/src/reader.cpp:215-232)
            for _raw_id, flat in entries:
                fields = _fields_dict(flat)
                if b"val" in fields:
                    payloads.append(fields[b"val"])
            if not payloads:
                raise FileNotFoundError(handle)
            return {"data": np.frombuffer(b"".join(payloads), dtype=np.uint8)}
        for _raw_id, flat in entries:
            fields = _fields_dict(flat)
            if b"batch_val" in fields:
                payloads.append(fields[b"batch_val"])
                if b"sizes" in fields:  # framed variable-width batch
                    sizes.extend(np.frombuffer(fields[b"sizes"], dtype="<i8").tolist())
            elif b"val" in fields:
                payloads.append(fields[b"val"])
                sizes.append(len(fields[b"val"]))
        if not payloads:
            raise FileNotFoundError(handle)
        data = np.frombuffer(b"".join(payloads), dtype=np.uint8)
        # "var" always carries per-sample sizes; a "framed" batch does too
        # when it was a variable-width batch under batch_framing (the
        # entry's explicit sizes field) — dropping them there would hand
        # the reader a payload with no sample boundaries.
        if kind == "var" or (kind == "framed" and sizes):
            return {"data": data, "sizes": np.asarray(sizes, dtype=np.int64)}
        return {"data": data}

    def delete_batch(self, handle: str) -> None:
        name, seg, kind, _start, _n, first_id, last_id = self._parse_handle(handle)
        c = self._conn()
        key = self._seg_key(name, seg)
        entries = c.command("XRANGE", key, first_id, last_id)
        ids = [e[0] for e in entries]
        if ids:
            c.command("XDEL", key, *ids)
        # Drop this thread's incremental listing state for the segment:
        # its accumulated runs would otherwise keep reporting the deleted
        # batch. (Other threads/instances behave like any reader holding
        # a pre-deletion listing — the snapshot guarantee of the handle.)
        scans = getattr(self._local, "seg_scans", None)
        if scans is not None:
            scans.pop((name, seg), None)
        cached = getattr(self._local, "seg_cache", None)
        if cached is not None and cached[0] == name and cached[1] == seg:
            self._local.seg_cache = None

    # ---- segments + control markers ---------------------------------------
    def write_tombstone(self, name, segment_idx, sample_index):
        self._conn().command(
            "XADD", self._seg_key(name, segment_idx), "*",
            "tombstone", "1",
            "next_stream_key", self._seg_key(name, segment_idx + 1),
            "sample_index", str(int(sample_index)),
        )

    def write_eof(self, name, segment_idx, sample_index):
        self._conn().command(
            "XADD", self._seg_key(name, segment_idx), "*",
            "eof", "1", "sample_index", str(int(sample_index)),
        )

    def read_control(self, name, segment_idx):
        # the control marker is by construction the newest entry of its
        # segment key (data stops before tombstone/EOF is appended)
        entries = self._conn().command(
            "XREVRANGE", self._seg_key(name, segment_idx), "+", "-", "COUNT", 1
        )
        if not entries:
            return None
        fields = _fields_dict(entries[0][1])
        if b"eof" in fields:
            return {"eof": 1, "sample_index": int(fields[b"sample_index"])}
        if b"tombstone" in fields:
            nxt = int(fields[b"next_stream_key"].decode().rsplit("-", 1)[1])
            return {"tombstone": 1, "next_segment": nxt,
                    "sample_index": int(fields[b"sample_index"])}
        return None

    def list_segments(self, name):
        if not self._conn().command("EXISTS", self._meta_key(name)):
            return []
        meta = self.read_metadata(name)
        seg = int(meta.get("first_segment", 0))
        out = []
        while True:
            out.append(seg)
            ctrl = self.read_control(name, seg)
            if ctrl is None or "eof" in ctrl:
                break
            seg = ctrl["next_segment"]
        return out

    def delete_segment(self, name, segment_idx):
        self._conn().command("UNLINK", self._seg_key(name, segment_idx))
        # Invalidate this thread's incremental listing state, mirroring
        # delete_batch: finalize frees the stream name for reuse
        # (reference ingester.cpp parity), and a stale XRANGE cursor +
        # accumulated runs from the deleted generation would otherwise be
        # merged with the NEW stream's entries on the next list_batches,
        # producing phantom listings.
        scans = getattr(self._local, "seg_scans", None)
        if scans is not None:
            scans.pop((name, segment_idx), None)
        cached = getattr(self._local, "seg_cache", None)
        if cached is not None and cached[0] == name and cached[1] == segment_idx:
            self._local.seg_cache = None

    # ---- aux KV (plain string keys beside the streams) ---------------------
    def read_aux(self, key: str) -> str | None:
        v = self._conn().command("GET", f"river-aux-{key}")
        return None if v is None else v.decode()

    def write_aux(self, key: str, value: str) -> None:
        self._conn().command("SET", f"river-aux-{key}", str(value))

    def last_batch_info(self, name: str, segment_idx: int) -> tuple[int, int, int] | None:
        """(end index, last key ms, last key seq) of the newest DATA entry
        in one segment, from a tail XREVRANGE — O(1) per segment where the
        listing would XRANGE every entry. None if the segment holds no
        data (control markers are skipped)."""
        entries = self._conn().command(
            "XREVRANGE", self._seg_key(name, segment_idx), "+", "-", "COUNT", 8
        )
        for raw_id, flat in entries:
            f = _fields_dict(flat)
            if b"batch_val" in f:
                ms, seq = _id_tuple(raw_id)
                n = int(f[b"n"])
                return int(f[b"i"]) + n, ms, seq + n - 1
            if b"val" in f or b"reference" in f:
                # a `reference` entry is a module compressed batch's tail
                # sample — the next append starts a fresh batch after it
                ms, seq = _id_tuple(raw_id)
                return int(f[b"i"]) + 1, ms, seq
        return None

    # ---- blocking wait (≈ XREAD BLOCK, cpp/src/redis.cpp:63-84) ------------
    def wait_for_append(self, name: str, segment_idx: int, timeout_ms: int = 50) -> None:
        """Block server-side until the segment key receives a new entry or
        the timeout lapses — the reference reader's XREAD-BLOCK path,
        replacing client-side sleep-polling (each poll on this backend
        would otherwise be a full XRANGE). ``$`` waits for entries newer
        than call time; an entry that landed just before the call is
        picked up by the caller's next listing either way, so the race
        costs at most one timeout, never a miss."""
        self._conn().command(
            "XREAD", "COUNT", 1, "BLOCK", int(timeout_ms),
            "STREAMS", self._seg_key(name, segment_idx), "$",
        )

    # ---- clock (≈ TIME, cpp/src/redis.cpp:281-291) -------------------------
    def time_us(self) -> int:
        sec, usec = self._conn().command("TIME")
        return int(sec) * 1_000_000 + int(usec)

    def close(self) -> None:
        c = getattr(self._local, "client", None)
        if c is not None:
            c.close()
            self._local.client = None
