"""Size-tiered part-file compaction — the 100 TB replacement for the
reference's single-file combine (A15, ``cpp/ingester/src/ingester.cpp:
555-647``).

The reference concatenates every part into one ``data.parquet`` on EOF —
fine for a laptop, unusable at cluster scale (one writer, one file, one
reader). The scale-correct maintenance operation is BIN-PACKING: merge
runs of adjacent small parts into ~target-size files, preserving the
name-order = sample-order invariant, so scans keep parallelism and the
per-file footprint stays row-group friendly.

Invariants preserved:
- merged output takes the LAST member's file name, so surviving names
  still sort in sample order AND the resume logic's next-file index
  (derived from the last name) can never collide with a freed index;
- the switch is one atomic ``os.replace`` per group; a journal written
  before the replace makes the absorbed-file cleanup crash-recoverable
  (``recover`` finishes or rolls back any interrupted group);
- only groups of >= 2 under-target files are rewritten — an already
  right-sized file is never touched.

Parallelism: groups are independent; within one stream a thread pool
(IO-bound pyarrow) mirrors the reference ingester's pool. Across streams
/ date partitions, run one ``compact_parts`` per directory from your
orchestrator — the operation is embarrassingly parallel at the directory
level.
"""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

from river_spark.ingest.layout import data_parts
from river_spark.ingest.parquet import write_parquet

_JOURNAL_PREFIX = "_compact_journal_"


def _parts(out_dir: str) -> list[tuple[str, int]]:
    """Sorted [(file name, size bytes)] of the directory's data parts."""
    return [(n, os.path.getsize(os.path.join(out_dir, n))) for n in data_parts(out_dir)]


def plan_compaction(parts: list[tuple[str, int]], target_bytes: int) -> list[list[str]]:
    """Greedy contiguous bin-packing over (name, size) pairs, preserving
    order. Emits only groups worth rewriting: >= 2 members, each group's
    total <= ~target (a single over-target file is left alone)."""
    groups: list[list[str]] = []
    cur: list[str] = []
    cur_bytes = 0
    for name, size in parts:
        if size >= target_bytes:
            # right-sized already: close the current run, skip this file
            if len(cur) >= 2:
                groups.append(cur)
            cur, cur_bytes = [], 0
            continue
        # a group may overshoot target by its last member (merged size is
        # "~target"): closing BEFORE adding would never merge adjacent
        # parts each larger than target/2 — e.g. 70 MB parts at a 128 MB
        # target would make compaction a permanent no-op
        cur.append(name)
        cur_bytes += size
        if cur_bytes >= target_bytes:
            if len(cur) >= 2:
                groups.append(cur)
            cur, cur_bytes = [], 0
    if len(cur) >= 2:
        groups.append(cur)
    return groups


def recover(out_dir: str) -> int:
    """Finish (or roll back) any compaction interrupted mid-group. Safe to
    call any time while no OTHER compaction is running on the same
    directory (one maintenance job per directory, like the reference's
    one-ingester-per-stream rule); returns the number of artifacts
    resolved.

    Crash before the atomic replace: the merged tmp is discarded, nothing
    changed. Crash after: the target already holds the merged data, so the
    journal's absorbed members are deleted to remove the duplicates."""
    if not os.path.isdir(out_dir):
        return 0
    resolved = 0
    names = sorted(os.listdir(out_dir))
    for j in names:
        if not j.startswith(_JOURNAL_PREFIX):
            continue
        jpath = os.path.join(out_dir, j)
        if not j.endswith(".json"):
            # a crash mid-journal-write leaves a truncated .json.tmp —
            # nothing was switched yet, so it (and its data tmp) roll back
            os.unlink(jpath)
            resolved += 1
            continue
        with open(jpath) as f:
            entry = json.load(f)
        tmp = os.path.join(out_dir, entry["target"] + ".compact.tmp")
        if os.path.exists(tmp):
            os.unlink(tmp)  # replace never happened: roll back
        else:
            for name in entry["absorbed"]:  # replace happened: finish cleanup
                p = os.path.join(out_dir, name)
                if os.path.exists(p):
                    os.unlink(p)
        os.unlink(jpath)
        resolved += 1
    # merged tmps orphaned by a crash BEFORE the journal write (no journal
    # refers to them anymore), or while write_parquet was still writing
    # one (``.inprogress``): plain rollbacks, delete so they can't leak a
    # target-size file per incident
    for n in names:
        if n.endswith((".compact.tmp", ".compact.tmp.inprogress")):
            p = os.path.join(out_dir, n)
            if os.path.exists(p):
                os.unlink(p)
                resolved += 1
    return resolved


def _compact_group(out_dir: str, group: list[str]) -> int:
    """Merge one ordered run of part files into its last member's name.
    Returns bytes written."""
    target = group[-1]
    absorbed = group[:-1]
    merged = pa.concat_tables([pq.read_table(os.path.join(out_dir, n)) for n in group])
    tmp = os.path.join(out_dir, target + ".compact.tmp")
    write_parquet(tmp, [merged])
    # journal BEFORE the switch: from here a crash is always recoverable
    jpath = os.path.join(out_dir, f"{_JOURNAL_PREFIX}{target}.json")
    with open(jpath + ".tmp", "w") as f:
        json.dump({"target": target, "absorbed": absorbed}, f)
    os.replace(jpath + ".tmp", jpath)
    os.replace(tmp, os.path.join(out_dir, target))  # the atomic switch
    for name in absorbed:
        os.unlink(os.path.join(out_dir, name))
    os.unlink(jpath)
    return os.path.getsize(os.path.join(out_dir, target))


def compact_parts(
    out_dir: str, target_bytes: int = 128 << 20, max_workers: int = 4
) -> dict:
    """Size-tiered compaction over one stream directory's
    ``data_*.parquet`` parts. Returns stats:
    {files_before, files_after, groups, bytes_written, recovered}."""
    recovered = recover(out_dir)
    parts = _parts(out_dir)
    groups = plan_compaction(parts, target_bytes)
    written = 0
    if groups:
        with ThreadPoolExecutor(max_workers=max_workers) as pool:
            for n in pool.map(lambda g: _compact_group(out_dir, g), groups):
                written += n
    return {
        "files_before": len(parts),
        "files_after": len(_parts(out_dir)),
        "groups": len(groups),
        "bytes_written": written,
        "recovered": recovered,
    }
