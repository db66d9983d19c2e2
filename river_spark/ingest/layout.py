"""Finalized-stream data layout resolution.

A finalized stream directory holds EITHER the reference-parity
monolithic ``data.parquet`` (total size under
``single_file_max_bytes``) OR size-tiered ``data_*.parquet`` parts
(ingest/compact.py) — large streams never pay the 2x-storage rewrite
into one unsplittable file. Consumers that hardcoded ``data.parquet``
(HTTP API, the roundtrip queries) silently lost large streams (round-9
advice); every in-repo reader now resolves through here.
"""

from __future__ import annotations

import os
import tempfile
import threading
from collections import defaultdict

import pyarrow.parquet as pq

from river_spark.ingest.parquet import write_parquet

# servable_file is called from ThreadingHTTPServer handlers: without
# serialization, two concurrent GETs of a stale tiered stream would race
# rebuilding the merge cache. A per-stream lock makes the rebuild
# single-flight; the unique temp file below keeps even cross-PROCESS
# racers safe (each writes its own temp, os.replace is atomic).
_rebuild_locks: defaultdict[str, threading.Lock] = defaultdict(threading.Lock)
_rebuild_locks_guard = threading.Lock()


def data_parts(stream_dir: str) -> list[str]:
    """File names of the directory's ``data_*.parquet`` parts in name order
    (names are zero-padded, so lexicographic == ingest order)."""
    return sorted(
        f for f in os.listdir(stream_dir) if f.startswith("data_") and f.endswith(".parquet")
    )


def data_files(stream_dir: str) -> list[str]:
    """The stream's data files: the monolithic file if present, else the
    size-tiered parts in ingest order."""
    final = os.path.join(stream_dir, "data.parquet")
    if os.path.exists(final):
        return [final]
    return [os.path.join(stream_dir, f) for f in data_parts(stream_dir)]


def data_glob(stream_dir: str) -> str:
    """A Spark-readable path covering both layouts: matches
    ``data.parquet`` and every ``data_*.parquet`` part, and nothing else
    (``metadata.json``, ``_zonemap``, in-progress temps are excluded by
    the suffix)."""
    return os.path.join(stream_dir, "data*.parquet")


def servable_file(stream_dir: str) -> str | None:
    """One parquet FILE for single-file consumers (the HTTP API's
    ``data.parquet`` endpoint). Monolithic layout: the file itself.
    Tiered layout: a lazily-built merge cache (``.data.http.parquet``,
    dot-prefixed so directory scans ignore it), streamed row-group by
    row-group so peak memory is one row group, rebuilt when any part is
    newer. None if the stream has no data files."""
    files = data_files(stream_dir)
    if not files:
        return None
    if len(files) == 1 and files[0].endswith(os.sep + "data.parquet"):
        return files[0]
    cache = os.path.join(stream_dir, ".data.http.parquet")
    newest = max(os.path.getmtime(p) for p in files)
    if os.path.exists(cache) and os.path.getmtime(cache) >= newest:
        return cache
    with _rebuild_locks_guard:
        lock = _rebuild_locks[os.path.abspath(stream_dir)]
    with lock:
        # A concurrent caller may have finished the rebuild while we
        # waited on the lock.
        if os.path.exists(cache) and os.path.getmtime(cache) >= newest:
            return cache
        fd, tmp = tempfile.mkstemp(dir=stream_dir, prefix=".data.http.", suffix=".tmp")
        os.close(fd)

        def row_groups():
            for p in files:
                pf = pq.ParquetFile(p)
                for i in range(pf.metadata.num_row_groups):
                    yield pf.read_row_group(i)

        # zero row groups across all parts still gives a valid empty
        # parquet with the first part's schema
        schema = pq.ParquetFile(files[0]).schema_arrow
        write_parquet(cache, row_groups(), schema=schema, tmp=tmp)
    return cache
