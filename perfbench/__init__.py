"""Benchmark for river_spark: workloads live_tail, ingest and analytics.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; NOTES.md says what each workload
and metric is for.
"""
