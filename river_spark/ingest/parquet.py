"""The one Parquet writer for ingest output (parts, the finalized
``data.parquet``, compaction merges, the HTTP merge cache): Snappy
(ingester.cpp:395-401), dictionary encoding only on columns where it can
pay, written to a temp file and renamed into place.

Dictionary rule, decided from the data: a column gets no dictionary when
no value repeats among up to ``SAMPLE_ROWS`` of its rows (a seeded random
sample). On a table of at most that many rows this is exact — every value
distinct, so a dictionary of every value plus an index per row is larger
than the plain values. On a larger table it is a birthday test: a column
of ``d`` distinct values shows no repeat among ``k`` sampled rows with
probability about ``exp(-k² / 2d)``, which at ``k = 2048`` is below
``4e-4`` for any ``d`` up to 262,144 — the most 4-byte entries pyarrow's
and parquet-mr's 1 MiB dictionary page holds. A column with so few
distinct values that a dictionary fits keeps one; a column without a
repeat almost surely overflows the page, and the writer would fall back
to plain encoding after paying for the dictionary pass. Unique columns
(``sample_index``, ``key``, random floats or ids) fall in the second case;
constant, quantized or flag columns in the first.
"""

from __future__ import annotations

import itertools
import os
from typing import Iterable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SAMPLE_ROWS = 2048


def plain_columns(table: pa.Table) -> list[str]:
    """The columns of ``table`` written without a dictionary: those with
    no repeated value (nulls count as a value) among a seeded random
    sample of up to ``SAMPLE_ROWS`` rows."""
    if table.num_rows == 0:
        return []
    if table.num_rows > SAMPLE_ROWS:
        rows = np.random.default_rng(0).choice(table.num_rows, SAMPLE_ROWS, replace=False)
        table = table.take(np.sort(rows))
    return [
        name
        for name, col in zip(table.column_names, table.columns)
        if pc.count_distinct(col, mode="all").as_py() == len(col)
    ]


def write_parquet(
    path: str,
    tables: Iterable[pa.Table],
    schema: pa.Schema | None = None,
    tmp: str | None = None,
) -> None:
    """Write ``tables`` one at a time (peak memory is one of them) to
    ``tmp`` (default ``path + ".inprogress"``), then rename it onto
    ``path``. The schema defaults to the first table's; the dictionary
    rule is decided from the first table. A failed write removes ``tmp``."""
    tables = iter(tables)
    first = next(tables, None)
    schema = schema if schema is not None else first.schema
    plain = set() if first is None else set(plain_columns(first))
    tmp = tmp or path + ".inprogress"
    try:
        with pq.ParquetWriter(
            tmp,
            schema,
            compression="snappy",
            use_dictionary=[n for n in schema.names if n not in plain],
        ) as writer:
            for table in itertools.chain([first] if first is not None else [], tables):
                writer.write_table(table)
    except BaseException:
        if os.path.exists(tmp):
            os.unlink(tmp)
        raise
    os.replace(tmp, path)
