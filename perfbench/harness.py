"""Run-level machinery shared by the workloads: sizing Spark to the
machine, a private temp root per run, the timed set-up, the closed loop,
operation accounting, traced spans and the result line.

A workload is an object with five methods, called in this order:

    generate(bench)          make the seeded inputs (untimed, no Spark)
    setup(bench, dir)        build program state under dir; timed from
                             the first get_spark on, as setup_s
    warmup(bench)            untimed operations of each type
    step(bench)              one closed-loop cycle, which holds every
                             timed operation type
    finish(bench) -> dict    end-of-run checks and end-to-end metrics

The loop runs whole cycles until the given seconds have passed, so a run
takes the same operations whether the machine is quiet or busy, as long
as a cycle is shorter than the loop.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

from perfbench.eventlog import MEASURES, Call, fold, read_events

PER_LAYER_UNITS = {
    "ms": "ms",
    "executor_ms": "ms",
    "driver_ms": "ms",
    "shuffle_read_bytes": "B",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "bytes": "B",
}


def machine_cpus() -> int:
    """CPUs this process may run on (what `nproc` reports without
    OMP_NUM_THREADS)."""
    return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """An eighth of physical memory, between 1 and 2 GiB: local mode runs
    driver and executors in this one JVM, the data is small and the
    machine is shared."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return max(1024, min(2048, phys // 8))


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks since boot from /proc/stat; zeros where it
    cannot be read."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return sum(fields[:8]), fields[7] if len(fields) > 7 else 0


def quartiles(values: list[float]) -> tuple[float, float, float]:
    """(q1, median, q3) as statistics.quantiles(n=4) gives them; a single
    value is its own quartiles."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def load_benchmark_json(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


class Bench:
    """One run: owns the temp root, the Spark session, the operation
    counters and the trace."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.tmp = os.path.join(root, ".perfbench_tmp", f"{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.tmp, ignore_errors=True)
        os.makedirs(os.path.join(self.tmp, "t"))
        os.makedirs(os.path.join(self.tmp, "events"))
        self.spark = None
        self.lat: dict[str, list[float]] = defaultdict(list)
        self.op_steal: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.calls: list[Call] = []
        self.tracing = False
        self.get_spark_ms = 0.0
        self.info: dict = {"load1_start": os.getloadavg()[0]}
        self._cpu_start = cpu_ticks()
        # The engine reads SPARK_GRAFT_CPUS at import time, and Python
        # workers import the package by name: both must be set before
        # the first import of ct_mapreduce_spark.
        os.environ["SPARK_GRAFT_CPUS"] = str(machine_cpus())
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.tmp, "local")
        os.environ["TMPDIR"] = os.path.join(self.tmp, "t")
        # every JVM, spark-submit's launcher included: temp files in the
        # run's root and no hsperfdata file in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={self.path('t')} -XX:-UsePerfData"
        if root not in sys.path:
            sys.path.insert(0, root)

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    # --- Spark ----------------------------------------------------------

    def conf(self) -> dict[str, str]:
        conf = {
            "spark.driver.memory": f"{driver_heap_mb()}m",
            # a fixed-size heap: no heap growth and resizing GCs early in the run
            "spark.driver.extraJavaOptions": f"-Xms{driver_heap_mb()}m",
            "spark.local.dir": self.path("local"),
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.dir": "file://" + self.path("events"),
                }
            )
        return conf

    def start_spark(self) -> None:
        from ct_mapreduce_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=self.conf())
        self.get_spark_ms = (time.perf_counter() - t0) * 1e3
        c = dict(self.spark.sparkContext.getConf().getAll())
        self.info["spark_conf"] = {
            k: c.get(k)
            for k in (
                "spark.master",
                "spark.driver.memory",
                "spark.sql.shuffle.partitions",
                "spark.local.dir",
                "spark.eventLog.enabled",
            )
        }

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait for it, delete the temp root."""
        try:
            self.stop_spark()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                proc = getattr(gw, "proc", None)
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
                if proc is not None:
                    # the gateway JVM exits when its stdin closes
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=60)
                    except subprocess.TimeoutExpired:
                        proc.kill()
                        proc.wait()
            shutil.rmtree(self.tmp, ignore_errors=True)
            parent = os.path.dirname(self.tmp)
            if os.path.isdir(parent) and not os.listdir(parent):
                os.rmdir(parent)

    # --- spans and operations ----------------------------------------------

    @contextmanager
    def span(self, name: str):
        """Trace one call into a layer: its own job group, its wall time.
        A no-op outside the traced loop."""
        if not self.tracing:
            yield
            return
        sc = self.spark.sparkContext
        group = f"perfbench-{len(self.calls)}"
        sc.setJobGroup(group, name)
        t0 = time.time() * 1e3
        try:
            yield
        finally:
            t1 = time.time() * 1e3
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self.calls.append(Call(name, group, t0, t1))

    def op(self, kind: str, fn) -> bool:
        """Run one operation; a raised error or a False result (a wrong
        output) counts as failed. Its wall time is recorded either way."""
        c0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            ok = bool(fn())
        except Exception:  # noqa: BLE001 — count it and keep the loop going
            traceback.print_exc(file=sys.stderr)
            ok = False
        self.lat[kind].append((time.perf_counter() - t0) * 1e3)
        busy, steal = (e - s for s, e in zip(c0, cpu_ticks()))
        self.op_steal[kind].append(round(steal / busy, 3) if busy else 0.0)
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# failed: {kind}", file=sys.stderr)
        return ok

    def check(self, what: str, ok: bool) -> bool:
        """A ground-truth check outside any timed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"# check failed: {what}", file=sys.stderr)
        return ok

    # --- the run ------------------------------------------------------------

    def run(self, wl) -> dict:
        t_start = time.perf_counter()
        wl.generate(self)
        t_gen = time.perf_counter()
        self.start_spark()
        wl.setup(self, self.path("state"))
        t_setup = time.perf_counter()
        wl.warmup(self)
        t_warm = time.perf_counter()
        self.lat.clear()
        self.op_steal.clear()
        self.tracing = self.trace
        deadline = time.perf_counter() + self.seconds
        t0 = time.perf_counter()
        while time.perf_counter() < deadline:
            wl.step(self)
        self.loop_s = time.perf_counter() - t0
        self.tracing = False
        e2e = wl.finish(self)
        e2e["setup_s"] = t_setup - t_gen
        self.info["phases_s"] = {
            "generate": round(t_gen - t_start, 2),
            "setup": round(t_setup - t_gen, 2),
            "warmup": round(t_warm - t_setup, 2),
            "loop": round(self.loop_s, 2),
            "finish": round(time.perf_counter() - t0 - self.loop_s, 2),
        }
        self.info["load1_end"] = os.getloadavg()[0]
        # share of CPU time the hypervisor gave to other machines
        busy, steal = (e - s for s, e in zip(self._cpu_start, cpu_ticks()))
        self.info["steal_share"] = round(steal / busy, 4) if busy else 0.0
        self.info["samples"] = {k: len(v) for k, v in self.lat.items()}
        self.info["detail"] = {k: list(zip([round(x) for x in self.lat[k]], self.op_steal[k])) for k in self.lat}
        return e2e

    def layer_metrics(self, extra: dict[str, float]) -> dict[str, float]:
        """Per-call medians of every measure of every traced span name,
        plus the workload's own layer readings. Call after Spark has
        stopped, so the event log is complete."""
        per_call = fold(read_events(self.path("events")), self.calls)
        by_name: dict[str, list[dict]] = defaultdict(list)
        for c in self.calls:
            by_name[c.name].append(per_call[c.group])
        out = {"session.get_spark.ms": self.get_spark_ms}
        for name, rows in by_name.items():
            for m in MEASURES:
                out[f"{name}.{m}"] = statistics.median(r[m] for r in rows)
        out.update(extra)
        return out


def unit_of(metric: str) -> str:
    return PER_LAYER_UNITS.get(metric.rsplit(".", 1)[-1], "count")
