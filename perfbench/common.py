"""Shared plumbing: process clocks, memory high-water marks, statistics,
the per-run stamp, and the Spark session the Spark workloads share."""

from __future__ import annotations

import math
import os
import platform
import re
import shlex
import shutil
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# session.py's defaults (local[32], a 32g heap) suit a large host; the
# benchmark runs on all of this host's cores with a heap that fits a small one.
SPARK_DRIVER_MEMORY = "4g"
_SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_SIZE_RE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def process_age_s() -> float:
    """Seconds since this process was created (kernel clock, 10 ms ticks),
    so interpreter start-up and imports count as set-up."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    raise RuntimeError(f"no VmHWM for pid {pid}")


def percentile(values, p: float) -> float:
    """Nearest-rank percentile."""
    v = sorted(values)
    return v[max(0, math.ceil(p / 100 * len(v)) - 1)]


def make_work_dir(workload: str) -> str:
    d = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


def _fs_type(path: str) -> str:
    best, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            _dev, mnt, typ = line.split()[:3]
            if path.startswith(mnt) and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


def stamp(work: str, load_at_start: tuple) -> dict:
    """What a reader needs to tell a busy or different host from a
    regression."""
    return {
        "nproc": nproc(),
        "loadavg_at_start": list(load_at_start),
        "python": platform.python_version(),
        "work_root": work,
        "work_root_fs": _fs_type(work),
    }


def _size_bytes(text: str) -> float:
    """Total of a formatted SQL size metric ("12.3 MiB", or the
    "total (min, med, max ...)\\n12.3 MiB (...)" form)."""
    m = _SIZE_RE.search(text.rsplit("\n", 1)[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class SparkRun:
    """One local Spark session sized to the host, with every file it writes
    kept under the run's work directory. ``close`` stops the session and
    waits for the JVM to exit."""

    def __init__(self, work: str, app_name: str):
        local = os.path.join(work, "spark-local")
        tmp = os.path.join(work, "tmp")
        os.makedirs(local)
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ["SPARK_DRIVER_MEMORY"] = SPARK_DRIVER_MEMORY
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # spark-submit's launcher JVM would write perf data to the system temp dir.
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        # Python data-source and UDF workers import river_spark too.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
        # A fixed heap and young generation keep the JVM's VmHWM from
        # following GC timing (peak_rss_mb); no perf-data file outside `work`.
        java = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{SPARK_DRIVER_MEMORY} -Xmn1g"
        args += ["--driver-java-options", java]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

        from river_spark.session import get_spark

        self.spark = get_spark(app_name)
        self.spark.sparkContext.setLogLevel("ERROR")
        self._jvm_proc: subprocess.Popen = self.spark.sparkContext._gateway.proc

    @property
    def jvm_pid(self) -> int:
        return self._jvm_proc.pid

    def stamp(self) -> dict:
        sc = self.spark.sparkContext
        return {
            "spark": self.spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "default_parallelism": sc.defaultParallelism,
        }

    def gc_ms(self) -> int:
        beans = self.spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(b.getCollectionTime() for b in beans)

    def traced(self, tracer, round_fn):
        """``round_fn()``, with the JVM's GC time during it and the spill
        of the SQL executions it started added to the tracer's counters."""
        first, gc0 = self.sql_executions(), self.gc_ms()
        out = round_fn()
        tracer.counts["spark.gc_ms"] += self.gc_ms() - gc0
        tracer.counts["spark.spill_bytes"] += self.plan_sizes(first)["spill size"]
        return out

    def _sql_store(self):
        return self.spark._jsparkSession.sharedState().statusStore()

    def sql_executions(self) -> int:
        return self._sql_store().executionsCount()

    def plan_sizes(self, first_execution: int) -> dict[str, float]:
        """Byte totals of the final (adaptive) plans of the SQL executions
        started since ``first_execution``."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        store = self._sql_store()
        totals = {"shuffle bytes written": 0.0, "spill size": 0.0}
        count = store.executionsCount() - first_execution
        execs = store.executionsList(first_execution, count)
        for i in range(execs.size()):
            eid = execs.apply(i).executionId()
            values = store.executionMetrics(eid)
            nodes = store.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                metrics = nodes.apply(j).metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    if m.name() in totals:
                        v = values.get(m.accumulatorId())
                        if v.isDefined():
                            totals[m.name()] += _size_bytes(v.get())
        return totals

    def close(self) -> None:
        from pyspark import SparkContext

        self.spark.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
        # The JVM exits when its stdin closes.
        self._jvm_proc.stdin.close()
        self._jvm_proc.wait(timeout=60)

