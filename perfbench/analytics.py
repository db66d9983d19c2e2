"""analytics: the registry's 21 ``bench=True`` queries on the fixed sf0.1
tables of TESTDATA.md (seed 42, read-only), each output materialised with
``df.write.format("noop")``.

River hands this work to its consumers; it never touches transport or
ingest, so Spark planning and execution do all of it. The warm-up round
collects every result and checks it against the query's DuckDB oracle."""

from __future__ import annotations

import math
import os
import struct
import time
from concurrent.futures import ThreadPoolExecutor
from statistics import geometric_mean, median

import duckdb
import pandas as pd

from perfbench.common import SparkRun, vm_hwm_mb
from perfbench.tracing import Tracer, maybe_span
from river_spark.queries import QUERIES
from river_spark.session import TABLES

BENCH_QUERIES = {n: q for n, q in QUERIES.items() if q.bench}
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))
SMOKE_SF = "sf0.001"


def oracle_frames(sf_dir: str) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        return {n: con.execute(q.oracle).df() for n, q in BENCH_QUERIES.items()}
    finally:
        con.close()


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def same_result(got: pd.DataFrame, exp: pd.DataFrame) -> bool:
    """Order-insensitive equality; doubles must match bit for bit."""
    if len(got) != len(exp) or sorted(got.columns) != sorted(exp.columns):
        return False
    g, e = _canon(got), _canon(exp)
    for c in g.columns:
        for a, b in zip(g[c].tolist(), e[c].tolist()):
            if isinstance(a, float) and isinstance(b, float):
                if not (math.isnan(a) and math.isnan(b)) and struct.pack("<d", a) != struct.pack(
                    "<d", b
                ):
                    return False
            elif str(a) != str(b):
                return False
    return True


class Analytics:
    def __init__(self, sr: SparkRun, sf_dir: str, sabotage: bool):
        self.sr = sr
        self.spark = sr.spark
        self.sf_dir = sf_dir
        self.sabotage = sabotage
        self.attempted = 0
        self.failed = 0

    def check_round(self, expected: dict[str, pd.DataFrame]) -> dict:
        """Collect every query's result and compare it with its oracle;
        returns the seconds spent collecting and comparing."""
        spent = {"collect_s": 0.0, "compare_s": 0.0}
        for name, q in BENCH_QUERIES.items():
            t0 = time.perf_counter()
            got = q.fn(self.spark, self.sf_dir).toPandas()
            self.spark.catalog.clearCache()
            t1 = time.perf_counter()
            exp = expected[name]
            if self.sabotage:
                exp = exp.iloc[:-1]
            self.attempted += 1
            self.failed += not same_result(got, exp)
            spent["collect_s"] += t1 - t0
            spent["compare_s"] += time.perf_counter() - t1
        return spent

    def run_round(self, tracer: Tracer | None = None) -> dict:
        """One timed round: per query, the registry call (build) and the
        noop write (exec). Traced rounds also add each query's final-plan
        shuffle bytes to the tracer's counters, read outside the spans."""
        clock = time.perf_counter
        build, execute = {}, {}
        t_round = clock()
        for name, q in BENCH_QUERIES.items():
            first = self.sr.sql_executions() if tracer else 0
            t0 = clock()
            with maybe_span(tracer, f"analytics.{name}.build"):
                df = q.fn(self.spark, self.sf_dir)
            t1 = clock()
            with maybe_span(tracer, f"analytics.{name}.exec"):
                df.write.format("noop").mode("overwrite").save()
            t2 = clock()
            build[name], execute[name] = t1 - t0, t2 - t1
            self.spark.catalog.clearCache()
            if tracer:
                shuffle = self.sr.plan_sizes(first)["shuffle bytes written"]
                tracer.counts[f"analytics.{name}.shuffle_bytes"] += shuffle
        return {"round_s": clock() - t_round, "build": build, "exec": execute}


def run(ctx) -> None:
    sf_dir = os.path.join(os.path.dirname(SF_DIR), SMOKE_SF) if ctx.smoke else SF_DIR
    ctx.info("sf_dir", sf_dir)
    names = list(BENCH_QUERIES)
    pool = ThreadPoolExecutor(1)
    oracle = pool.submit(oracle_frames, sf_dir)  # overlaps the JVM start
    t0 = time.perf_counter()
    sr = SparkRun(ctx.work, "perfbench_analytics")
    try:
        ctx.info_all(sr.stamp())
        ctx.info("spark_start_s", time.perf_counter() - t0)
        an = Analytics(sr, sf_dir, ctx.sabotage)
        t0 = time.perf_counter()
        expected = oracle.result()
        ctx.info("oracle_wait_s", time.perf_counter() - t0)
        # doubles as the JIT / Python-worker warm-up
        ctx.info_all(an.check_round(expected))
        ctx.start_timing()
        if not ctx.trace:
            rounds = ctx.timed_rounds(an.run_round)
            ctx.info("rounds_s", [r["round_s"] for r in rounds])
            ms = [
                geometric_mean((r["build"][n] + r["exec"][n]) * 1e3 for n in names)
                for r in rounds
            ]
            ctx.metric("round_s", median(r["round_s"] for r in rounds), "s")
            ctx.metric("stage_geomean_ms", median(ms), "ms")
            ctx.metric("peak_rss_mb", vm_hwm_mb() + vm_hwm_mb(sr.jvm_pid), "MB")
        else:
            tracer = Tracer()
            plain, traced = ctx.paired_rounds(
                an.run_round, lambda: sr.traced(tracer, lambda: an.run_round(tracer))
            )
            ctx.layer_metrics(tracer, [r["round_s"] for r in plain], [r["round_s"] for r in traced])
            ctx.dump_trace(tracer)
        ctx.attempted, ctx.failed = an.attempted, an.failed
    finally:
        pool.shutdown()
        sr.close()
