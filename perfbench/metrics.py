"""The metrics a run prints, named once for every workload BENCHMARK.json
lists, and the reduction of a traced run's spans and counters to the
per-layer metrics.

Every listed workload prints every metric: the end-to-end ones in an
untraced run, the per-layer ones in a traced run. A layer a workload does
not reach reads 0 (no calls, no time); the per-layer reduction is the same
for every workload, so those zeros are measured, not filled in.
"""

from __future__ import annotations

from statistics import median

from river_spark.queries import QUERIES

# live_tail is runnable but not listed (NOTES.md says why); it prints its own.
LISTED = ("ingest", "analytics")

END_TO_END = {
    "setup_s": "s",
    "round_s": "s",
    "peak_rss_mb": "MB",
    # geometric mean of the round's stage times: the two ingesters for
    # ingest, the 21 queries for analytics
    "stage_geomean_ms": "ms",
}

BENCH_QUERY_NAMES = [n for n, q in QUERIES.items() if q.bench]
STREAM_PROGRESS_MS = {
    "latest_offset_ms": "latestOffset",
    "query_planning_ms": "queryPlanning",
    "add_batch_ms": "addBatch",
    "wal_commit_ms": "walCommit",
    "trigger_ms": "triggerExecution",
}

PER_LAYER = {
    "transport.write_s": "s",
    "transport.self_s": "s",
    "backend.append_batch_calls": "count",
    "backend.self_s": "s",
    "ingest.read_s": "s",
    "ingest.read_calls": "count",
    "ingest.read_amplification": "ratio",
    "ingest.parquet_write_s": "s",
    "ingest.self_s": "s",
    "stream_ingest.batches": "count",
    "stream_ingest.input_partitions": "count",
    **{f"stream_ingest.{m}": "ms" for m in STREAM_PROGRESS_MS},
    "stream_ingest.self_s": "s",
    **{
        f"analytics.{q}.{m}": unit
        for q in BENCH_QUERY_NAMES
        for m, unit in (("build_ms", "ms"), ("exec_ms", "ms"), ("shuffle_mb", "MB"))
    },
    "analytics.self_s": "s",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "trace.overhead_s": "s",
}


def _ratio(a: float, b: float) -> float:
    return a / b if b else 0.0


def layer_metrics(tracer, plain_round_s: list[float], traced_round_s: list[float]) -> dict:
    """Every per-layer metric as ``{name: (value, unit)}``, per traced round
    unless its definition says per call.

    Spans the workloads open: ``transport.write``, ``transport.read``,
    ``backend.<op>``, ``parquet.write_table``, ``ingest.run``,
    ``stream_ingest.run``, ``analytics.<query>.build|exec``. Counters they
    add: ``backend.list_batches`` / ``backend.read_batch`` (entries, bytes),
    ``ingest.sample_bytes``, ``stream_ingest.<metric>``, ``spark.gc_ms``,
    ``spark.spill_bytes``, ``analytics.<query>.shuffle_bytes``.
    """
    k = len(traced_round_s)
    calls = tracer.calls()
    counts = tracer.counts
    self_s = tracer.self_times()
    writes = tracer.durations("transport.write")
    reads = tracer.durations("transport.read")
    values = {
        # median seconds per bulk write
        "transport.write_s": median(writes) if writes else 0.0,
        "backend.append_batch_calls": _ratio(
            calls["backend.append_batch"], calls["transport.write"]
        ),
        "ingest.read_s": sum(reads) / k,
        "ingest.read_calls": len(reads) / k,
        # bytes read_batch returned / sample bytes the ingester delivered
        "ingest.read_amplification": _ratio(
            counts["backend.read_batch"], counts["ingest.sample_bytes"]
        ),
        "ingest.parquet_write_s": sum(tracer.durations("parquet.write_table")) / k,
        "stream_ingest.batches": counts["stream_ingest.batches"] / k,
        "stream_ingest.input_partitions": counts["stream_ingest.input_partitions"] / k,
        **{
            f"stream_ingest.{m}": counts[f"stream_ingest.{m}"] / k
            for m in STREAM_PROGRESS_MS
        },
        "spark.gc_s": counts["spark.gc_ms"] / 1e3 / k,
        "spark.spill_mb": counts["spark.spill_bytes"] / 1e6 / k,
        "trace.overhead_s": median(traced_round_s) - median(plain_round_s),
    }
    for layer in ("transport", "backend", "ingest", "stream_ingest", "analytics"):
        values[f"{layer}.self_s"] = self_s.get(layer, 0.0) / k
    for q in BENCH_QUERY_NAMES:
        values[f"analytics.{q}.build_ms"] = sum(tracer.durations(f"analytics.{q}.build")) * 1e3 / k
        values[f"analytics.{q}.exec_ms"] = sum(tracer.durations(f"analytics.{q}.exec")) * 1e3 / k
        values[f"analytics.{q}.shuffle_mb"] = counts[f"analytics.{q}.shuffle_bytes"] / 1e6 / k
    return {name: (values[name], unit) for name, unit in PER_LAYER.items()}
