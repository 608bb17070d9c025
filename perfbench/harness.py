"""Run context shared by the workloads: isolated directories, the Spark
session, counters of attempted and failed operations, and the metrics a
run reports."""

from __future__ import annotations

import os
import platform
import shutil
import statistics
import time

from perfbench.tracing import EventLogSummary, Tracer, find_event_log

SPARK_TOTALS = (
    "executor_run_s", "executor_cpu_s", "gc_s", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "python_udf_rows",
)


def pct(values, q: float) -> float:
    """Linear-interpolated percentile (q in 0..100) of a non-empty sample."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark invocation. All files live under ``self.work``,
    a directory of its own inside the checkout, removed by ``close``."""

    def __init__(self, root: str, workload: str, seed: int, seconds: float,
                 trace: bool, scale: float):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.scale = scale
        self.work = os.path.join(root, ".perfbench_runs", f"{workload}-{seed}-{os.getpid()}")
        self.out_dir = os.path.join(root, ".perfbench_out")
        self.tracer = Tracer(trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.setup_parts: dict[str, float] = {}
        self.spark = None
        self.eventlog = None
        self.after_stop = None  # traced runs: reads the event log once it is flushed
        self.provenance = {
            "workload": workload,
            "seed": seed,
            "seconds": seconds,
            "trace": int(trace),
            "scale": scale,
            "nproc": nproc(),
            "loadavg_start": os.getloadavg()[0],
            "python": platform.python_version(),
        }

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- counters ---------------------------------------------------------

    def check(self, ok: bool, what: str) -> bool:
        """Count one attempted operation; a false ``ok`` counts it failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.problems) < 20:
                self.problems.append(what)
        return ok

    def mismatches(self, n: int, what: str) -> None:
        """Count ``n`` extra failed operations found by an output check."""
        if n:
            self.failed += n
            self.attempted += n
            self.problems.append(f"{what}: {n}")

    def layer(self, name: str, value: float) -> None:
        """Record a per-layer metric; its unit is the one BENCHMARK.json gives."""
        self.layers[name] = float(value)

    def detail_metric(self, name: str, value: float, unit: str) -> None:
        self.detail[name] = (float(value), unit)

    # -- session ----------------------------------------------------------

    def environment(self) -> None:
        """Pin the host and keep every file the run writes in ``work``."""
        for d in ("tmp", "spark-local", "eventlog"):
            os.makedirs(self.path(d), exist_ok=True)
        os.environ["TZ"] = "UTC"
        time.tzset()
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ.setdefault("SPARK_DRIVER_MEM", "3g")
        os.environ["TMPDIR"] = self.path("tmp")
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        import tempfile

        tempfile.tempdir = None  # re-read TMPDIR
        conf = {
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.path("eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        args = []
        for k, v in conf.items():
            args += ["--conf", f"{k}={v}"]
        import shlex

        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])

    def start_spark(self):
        from user_feed_cdc_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(f"perfbench-{self.workload}")
        self.setup_parts["get_spark_s"] = time.perf_counter() - t0
        self.tracer.bind(self.spark)
        jvm = self.spark.sparkContext._jvm
        import pyarrow

        self.provenance.update({
            "spark": self.spark.version,
            "java": jvm.System.getProperty("java.version"),
            "pyarrow": pyarrow.__version__,
            "local_cores": self.spark.sparkContext.defaultParallelism,
        })
        return self.spark

    def timed_setup(self, name: str, fn, repeats: int = 1):
        """Run a set-up step ``repeats`` times; the median counts."""
        times, result = [], None
        for _ in range(repeats):
            t0 = time.perf_counter()
            result = fn()
            times.append(time.perf_counter() - t0)
        self.setup_parts[name] = statistics.median(times)
        return result

    def calibrate_overhead(self, op, rounds: int = 6) -> None:
        """Traced runs only: the same request with spans off and on,
        alternating, as ``trace.overhead_frac`` (traced / untraced - 1).
        The event log is on for both halves, so its cost is not included."""
        if not self.trace:
            return
        walls = {False: [], True: []}
        for i in range(2 * rounds):
            on = bool(i % 2)
            self.tracer.enabled = on
            t0 = time.perf_counter()
            op()
            walls[on].append(time.perf_counter() - t0)
        self.tracer.enabled = True
        self.layer("trace.overhead_frac",
                  statistics.median(walls[True]) / statistics.median(walls[False]) - 1.0)

    # -- results ----------------------------------------------------------

    def finish_trace(self) -> None:
        """After the session stops: Spark runtime counters and span self
        times. Spans are written next to the result for inspection."""
        log = EventLogSummary(find_event_log(self.path("eventlog")))
        self.eventlog = log
        self.layer("spark.jobs", log.jobs)
        self.layer("spark.stages", log.stages)
        self.layer("spark.tasks", log.tasks)
        for name in SPARK_TOTALS:
            self.layer(f"spark.{name}", log.totals.get(name, 0.0))
        self.tracer.write(os.path.join(
            self.out_dir, f"{self.workload}-{self.seed}-spans.json"))
        for name, secs in self.tracer.self_times().items():
            self.detail_metric(f"self_s.{name}", secs, "s")

    def result(self, names: list[str], units: dict[str, str]) -> dict:
        """The contract line. A per-layer metric a workload does not
        exercise reads 0; a missing end-to-end metric is an error."""
        if self.trace:
            values = {n: self.layers.get(n, 0.0) for n in names}
        else:
            self.e2e["setup_s"] = sum(self.setup_parts.values())
            values = {n: self.e2e[n] for n in names}
        return {
            "correct": self.failed == 0 and not self.problems,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {n: {"value": float(v), "unit": units[n]} for n, v in values.items()},
        }

    def detail_line(self) -> dict:
        return {
            "provenance": self.provenance,
            "setup_parts_s": self.setup_parts,
            "detail": {k: {"value": v, "unit": u} for k, (v, u) in sorted(self.detail.items())},
            "problems": self.problems,
        }

    def stop_spark(self) -> None:
        """Stop every query and the session (which flushes the event log),
        then end the JVM and wait until it has exited."""
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.spark = None
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the JVM exits at end of input
                proc.wait(timeout=60)

    def close(self) -> None:
        self.stop_spark()
        shutil.rmtree(self.work, ignore_errors=True)
