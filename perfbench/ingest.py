"""ingest: 50,000 samples of 768 B (an int64 plus 95 doubles, the
reference's sustained-throughput shape) are written in the default
1,536-sample batches and EOF'd, twice per round, on fresh streams:

- copy A is persisted by ``StreamIngester(IngesterSettings.catch_all())``,
  the CLI path;
- copy B is persisted by ``ingest_stream_continuous`` with availableNow,
  the Spark ingester.

Two copies because the batch ingester's finalize deletes its stream."""

from __future__ import annotations

import glob
import hashlib
import os
import shutil
import time
from statistics import geometric_mean, median

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench.common import SparkRun, vm_hwm_mb
from perfbench.metrics import STREAM_PROGRESS_MS
from perfbench.tracing import TracedFileBackend, Tracer, maybe_span
from river_spark.ingest.ingester import IngestResult, StreamIngester
from river_spark.ingest.settings import IngesterSettings
from river_spark.schema import FieldDefinition, FieldType, StreamSchema
from river_spark.streaming.ingest_query import ingest_stream_continuous
from river_spark.transport.log import FileBackend, StreamLog
from river_spark.transport.reader import StreamReader
from river_spark.transport.writer import StreamWriter

SAMPLES = 50_000
SMOKE_SAMPLES = 5_000
STREAM = "ingest"
SCHEMA = StreamSchema(
    [FieldDefinition("seq", FieldType.INT64)]
    + [FieldDefinition(f"x{i:02d}", FieldType.DOUBLE) for i in range(95)]
)


def _digests(table_or_array, order=None) -> dict[str, str]:
    out = {}
    for name in SCHEMA.field_names():
        col = table_or_array[name]
        col = col.to_numpy() if isinstance(col, pa.ChunkedArray) else col
        if order is not None:
            col = col[order]
        out[name] = hashlib.blake2b(np.ascontiguousarray(col).tobytes()).hexdigest()
    return out


class Ingest:
    def __init__(self, work: str, seed: int, smoke: bool, sabotage: bool, spark):
        self.work = work
        self.spark = spark
        self.n = SMOKE_SAMPLES if smoke else SAMPLES
        rng = np.random.default_rng(seed)
        data = np.zeros(self.n, dtype=SCHEMA.dtype())
        data["seq"] = rng.integers(0, 1 << 62, self.n)
        for name in SCHEMA.field_names()[1:]:
            data[name] = rng.standard_normal(self.n)
        self.data = data
        self.expected = _digests(data)
        if sabotage:
            self.expected["seq"] = "0" * len(self.expected["seq"])
        self.round_no = 0
        self.attempted = 0
        self.failed = 0

    @property
    def bytes_per_copy(self) -> int:
        return self.data.nbytes

    def run_round(self, tracer: Tracer | None = None) -> dict:
        """One round on fresh streams; returns its timings in seconds."""
        data = self.data
        d = os.path.join(self.work, f"round{self.round_no}")
        self.round_no += 1
        roots = {c: os.path.join(d, f"log_{c}") for c in "AB"}
        outs = {c: os.path.join(d, f"out_{c}") for c in "AB"}
        t = {}
        clock = time.perf_counter
        t_round = clock()

        logs = {c: self._write_copy(root, data, tracer) for c, root in roots.items()}
        ingester = StreamIngester(logs["A"], outs["A"], IngesterSettings.catch_all())
        t0 = clock()
        with maybe_span(tracer, "ingest.run", adopt_threads=True):
            ingester.ingest()
            results = ingester.wait_all()
        t["ingest_s"] = clock() - t0

        t0 = clock()
        with maybe_span(tracer, "stream_ingest.run"):
            query = ingest_stream_continuous(self.spark, roots["B"], STREAM, outs["B"])
            query.awaitTermination()
        t["stream_ingest_s"] = clock() - t0
        t["round_s"] = clock() - t_round
        if query.exception() is not None:
            raise query.exception()
        if tracer:
            tracer.counts["ingest.sample_bytes"] += data.nbytes
            _count_progress(tracer, self.spark, query)

        self._check(results.get(STREAM) is IngestResult.COMPLETED, outs["A"], data)
        self._check(True, outs["B"], data)
        shutil.rmtree(d)
        return t

    @staticmethod
    def _write_copy(root: str, data, tracer: Tracer | None) -> StreamLog:
        """Write ``data`` to a fresh stream as one bulk write, then EOF it."""
        backend = TracedFileBackend(root, tracer) if tracer else FileBackend(root)
        log = StreamLog(backend=backend)
        writer = StreamWriter(log).initialize(STREAM, SCHEMA)
        write = tracer.wrap("transport.write", writer.write) if tracer else writer.write
        write(data)
        writer.stop()
        return log

    def _check(self, completed: bool, out_root: str, data: np.ndarray) -> None:
        """N rows, sample_index 0..N-1, and per-column checksums (in
        sample_index order) equal to the generated input's."""
        self.attempted += 1
        files = sorted(glob.glob(os.path.join(out_root, STREAM, "*.parquet")))
        ok = completed and bool(files)
        if ok:
            table = pa.concat_tables([pq.read_table(f) for f in files])
            index = table["sample_index"].to_numpy()
            order = np.argsort(index, kind="stable")
            ok = (
                table.num_rows == len(data)
                and np.array_equal(index[order], np.arange(len(data)))
                and _digests(table, order) == self.expected
            )
        self.failed += not ok


def _count_progress(tracer: Tracer, spark, query) -> None:
    """The Spark ingester's micro-batches, their tasks (one per input
    partition) and their ``recentProgress`` durations, as tracer counters."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    progress = query.recentProgress
    tracer.counts["stream_ingest.batches"] += len(progress)
    tracker = spark.sparkContext.statusTracker()
    for job in tracker.getJobIdsForGroup(str(query.runId)):
        info = tracker.getJobInfo(job)
        stages = [tracker.getStageInfo(s) for s in info.stageIds] if info else []
        tracer.counts["stream_ingest.input_partitions"] += sum(
            s.numTasks for s in stages if s is not None
        )
    for metric, key in STREAM_PROGRESS_MS.items():
        tracer.counts[f"stream_ingest.{metric}"] += sum(
            p["durationMs"].get(key, 0) for p in progress
        )


def run(ctx) -> None:
    sr = SparkRun(ctx.work, "perfbench_ingest")
    try:
        ctx.info_all(sr.stamp())
        ing = Ingest(ctx.work, ctx.seed, ctx.smoke, ctx.sabotage, sr.spark)
        # JIT, Python workers and the data source's first plans; checked too.
        # A full-size round: after a 5,000-sample one the first full round
        # still ran 5-35% slower than the rounds after it.
        ing.run_round()
        ctx.start_timing()

        if not ctx.trace:
            rounds = ctx.timed_rounds(ing.run_round)
            ctx.info("rounds", rounds)
            mb = ing.bytes_per_copy / 1e6
            ctx.info("ingest_mb_s", median(mb / r["ingest_s"] for r in rounds))
            ctx.info("stream_ingest_mb_s", median(mb / r["stream_ingest_s"] for r in rounds))
            ctx.metric("round_s", median(r["round_s"] for r in rounds), "s")
            ms = [geometric_mean((r["ingest_s"] * 1e3, r["stream_ingest_s"] * 1e3)) for r in rounds]
            ctx.metric("stage_geomean_ms", median(ms), "ms")
            ctx.metric("peak_rss_mb", vm_hwm_mb() + vm_hwm_mb(sr.jvm_pid), "MB")
        else:
            tracer = Tracer()

            def traced_round():
                with (
                    tracer.patched(StreamReader, "read", "transport.read"),
                    tracer.patched(pq, "write_table", "parquet.write_table"),
                ):
                    return sr.traced(tracer, lambda: ing.run_round(tracer))

            plain, traced = ctx.paired_rounds(ing.run_round, traced_round)
            ctx.layer_metrics(tracer, [r["round_s"] for r in plain], [r["round_s"] for r in traced])
            ctx.dump_trace(tracer)
        ctx.attempted, ctx.failed = ing.attempted, ing.failed
    finally:
        sr.close()
