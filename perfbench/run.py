"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload {live_tail,ingest,analytics} \\
        --seed N --seconds S --trace {0,1} [--smoke] [--sabotage]

Run from the repository root. Set-up ends when the first timed round
starts; timed rounds then repeat until ``--seconds`` have passed (at least
one). ``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the
per-layer metrics, measured in traced rounds that alternate with untraced
ones so the tracing overhead is measured in the same process. Each metric
prints as ``name value unit``; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``. ``--smoke`` shrinks
every workload to a few seconds; ``--sabotage`` makes every expected value
wrong, so every check must report a failed op.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

LOAD_AT_START = os.getloadavg()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import common, metrics  # noqa: E402
from perfbench.common import process_age_s  # noqa: E402

WORKLOADS = ("live_tail", "ingest", "analytics")


class Context:
    """What a workload needs from the harness: its settings, the round
    loop, and where its metrics, stamp and trace go."""

    def __init__(self, args, work: str):
        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.sabotage = args.sabotage
        self.work = work
        self.metrics: dict[str, dict] = {}
        self.stamp = common.stamp(work, LOAD_AT_START)
        self.stamp.update(workload=args.workload, seed=args.seed, trace=args.trace)
        self.attempted = 0
        self.failed = 0

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = {"value": float(value), "unit": unit}

    def info(self, key: str, value) -> None:
        self.stamp[key] = value

    def info_all(self, values: dict) -> None:
        self.stamp.update(values)

    def start_timing(self) -> None:
        """Set-up ends here: process start to the first timed round."""
        if not self.trace:
            self.metric("setup_s", process_age_s(), "s")

    def timed_rounds(self, fn) -> list:
        out, t0 = [], time.perf_counter()
        while not out or time.perf_counter() - t0 < self.seconds:
            out.append(fn())
        return out

    def paired_rounds(self, plain_fn, traced_fn) -> tuple[list, list]:
        """Untraced and traced rounds alternating, starting and ending
        untraced (P T P ...), so a warm-up trend cancels in the overhead."""
        t0 = time.perf_counter()
        plain, traced = [plain_fn()], []
        while not traced or time.perf_counter() - t0 < self.seconds:
            traced.append(traced_fn())
            plain.append(plain_fn())
        return plain, traced

    def layer_metrics(self, tracer, plain_round_s: list, traced_round_s: list) -> None:
        for name, (value, unit) in metrics.layer_metrics(
            tracer, plain_round_s, traced_round_s
        ).items():
            self.metric(name, value, unit)

    def check_names(self) -> None:
        """A listed workload prints exactly the metrics BENCHMARK.json names."""
        if self.workload not in metrics.LISTED:
            return
        expected = metrics.PER_LAYER if self.trace else metrics.END_TO_END
        got = {name: m["unit"] for name, m in self.metrics.items()}
        if got != expected:
            raise RuntimeError(f"{self.workload} printed {got}, expected {expected}")

    def dump_trace(self, tracer) -> None:
        d = os.path.join(common.WORK_ROOT, "traces")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, f"{self.workload}-seed{self.seed}.json")
        tracer.dump(path)
        self.info("trace_file", path)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--smoke", action="store_true", help="tiny sizes, for the smoke test")
    p.add_argument("--sabotage", action="store_true", help="wrong expected values")
    args = p.parse_args(argv)

    work = common.make_work_dir(args.workload)
    try:
        ctx = Context(args, work)
        module = __import__(f"perfbench.{args.workload}", fromlist=["run"])
        module.run(ctx)
        ctx.check_names()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print("# " + json.dumps(ctx.stamp, sort_keys=True))
    for name, m in ctx.metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": ctx.metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
