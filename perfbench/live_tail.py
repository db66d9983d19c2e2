"""live_tail: one client writes a 64 B sample and reads it back, 2,000 times
per round, on a fresh FileBackend stream each round.

A closed loop: each op starts when the previous read-back returned. No
Spark, no bulk bytes: the time is transport per-call work and backend
metadata work (the reader re-lists the segment once its listing cache is
drained, so per-op cost grows with the stream's batch count)."""

from __future__ import annotations

import os
import shutil
import time
from statistics import median

import numpy as np

from perfbench.common import percentile, vm_hwm_mb
from perfbench.tracing import TracedFileBackend, Tracer
from river_spark.schema import FieldDefinition, FieldType, StreamSchema
from river_spark.transport.log import FileBackend, StreamLog
from river_spark.transport.reader import StreamReader
from river_spark.transport.writer import StreamWriter

OPS_PER_ROUND = 2000
SMOKE_OPS = 50
WARMUP_OPS = 200
READ_TIMEOUT_MS = 5000
# 64 B: a sequence number plus 7 doubles
SCHEMA = StreamSchema(
    [FieldDefinition("seq", FieldType.INT64)]
    + [FieldDefinition(f"x{i}", FieldType.DOUBLE) for i in range(7)]
)
CONTROL_OPS = ("backend.read_control", "backend.read_metadata", "backend.list_segments")


class LiveTail:
    def __init__(self, work: str, seed: int, smoke: bool, sabotage: bool):
        self.work = work
        self.ops = SMOKE_OPS if smoke else OPS_PER_ROUND
        self.rng = np.random.default_rng(seed)
        self.sabotage = sabotage
        self.round_no = 0
        self.attempted = 0
        self.failed = 0
        self.latencies_s: list[float] = []

    def _samples(self, n: int) -> np.ndarray:
        s = np.zeros(n, dtype=SCHEMA.dtype())
        s["seq"] = self.rng.integers(0, 1 << 62, n)
        for i in range(7):
            s[f"x{i}"] = self.rng.standard_normal(n)
        return s

    def run_round(self, tracer: Tracer | None = None, ops: int | None = None) -> float:
        """One round on a fresh stream; returns its wall time. Per-op
        latencies and check results accumulate on self."""
        ops = ops or self.ops
        samples = self._samples(ops)
        root = os.path.join(self.work, f"log{self.round_no}")
        self.round_no += 1
        backend = TracedFileBackend(root, tracer) if tracer else FileBackend(root)
        log = StreamLog(backend=backend)
        writer = StreamWriter(log).initialize("tail", SCHEMA)
        reader = StreamReader(log).initialize("tail", timeout_ms=READ_TIMEOUT_MS)
        write, read = writer.write, reader.read
        if tracer:
            write = tracer.wrap("transport.write", write)
            read = tracer.wrap("transport.read", read)
        lat, got = [], []
        clock = time.perf_counter
        t_round = clock()
        for i in range(ops):
            t0 = clock()
            write(samples[i : i + 1])
            res = read(1, timeout_ms=READ_TIMEOUT_MS)
            lat.append(clock() - t0)
            got.append(res)
        wall = clock() - t_round
        writer.stop()
        self._check(samples, got)
        self.latencies_s.extend(lat)
        shutil.rmtree(root)
        return wall

    def _check(self, samples: np.ndarray, got: list) -> None:
        """Each read returns the sample just written, at its sample_index."""
        expected = samples.copy()
        if self.sabotage:
            expected["seq"] += 1
        for i, res in enumerate(got):
            self.attempted += 1
            ok = (
                res.count == 1
                and int(res.indices[0]) == i
                and res.samples.tobytes() == expected[i : i + 1].tobytes()
            )
            self.failed += not ok


def run(ctx) -> None:
    lt = LiveTail(ctx.work, ctx.seed, ctx.smoke, ctx.sabotage)
    lt.run_round(ops=min(WARMUP_OPS, lt.ops))  # imports, allocator, dentry cache
    lt.latencies_s.clear()
    ctx.start_timing()

    if not ctx.trace:
        rounds = ctx.timed_rounds(lt.run_round)
        us = [x * 1e6 for x in lt.latencies_s]
        ctx.metric("round_s", median(rounds), "s")
        ctx.metric("tail_p50_us", median(us), "us")
        ctx.metric("tail_p99_us", percentile(us, 99), "us")
        ctx.info("ops_timed", len(us))
        ctx.info("rounds_s", rounds)
        ctx.metric("peak_rss_mb", vm_hwm_mb(), "MB")
    else:
        tracer = Tracer()
        plain, traced = ctx.paired_rounds(lt.run_round, lambda: lt.run_round(tracer))
        ops = lt.ops * len(traced)
        calls = tracer.calls()
        for metric, span in (
            ("transport.write_us", "transport.write"),
            ("transport.read_us", "transport.read"),
            ("backend.append_batch_us", "backend.append_batch"),
        ):
            ctx.metric(metric, median(tracer.durations(span)) * 1e6, "us")
        ctx.metric("backend.list_batches_per_op", calls["backend.list_batches"] / ops, "count")
        ctx.metric(
            "backend.control_calls_per_op", sum(calls[c] for c in CONTROL_OPS) / ops, "count"
        )
        ctx.metric(
            "backend.entries_listed_per_op", tracer.counts["backend.list_batches"] / ops, "count"
        )
        self_s = tracer.self_times()
        for layer in ("transport", "backend"):
            ctx.metric(f"{layer}.self_s", self_s.get(layer, 0.0) / len(traced), "s")
        ctx.metric("trace.overhead_s", median(traced) - median(plain), "s")
        ctx.dump_trace(tracer)
    ctx.attempted, ctx.failed = lt.attempted, lt.failed
