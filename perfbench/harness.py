"""Run plumbing shared by the workloads: host pinning, the work directory,
the Spark session and its teardown, closed loops, repeated set-up and the
statistics the metrics are built from."""

from __future__ import annotations

import os
import platform
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

import numpy as np

#: set-up repetitions per run: a cold one, which pays the JVM's and the
#: Python workers' first-use costs, then warm ones; ``setup_s`` is the
#: median of the warm ones
SETUP_REPS = 3


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb() -> int:
    """A quarter of physical memory, capped at 2 GiB: the single local JVM
    runs the Spark driver and the executors, and the host is shared."""
    return min(2048, host_mem_mb() // 4)


def pin_environment(work: str, root: str) -> dict:
    """Pin the engine's session factory to this host, make the checkout at
    ``root`` importable by Spark's Python workers and keep every file the
    run writes under ``work``. Must run before the engine is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(host_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mem_mb()}m",
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # every JVM (the launcher too) skips its hsperfdata file in /tmp
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYTHONPATH": os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        ),
    }
    os.environ.update(env)
    # a non-local master would measure a different topology under the
    # same workload name
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    return env


@dataclass
class Run:
    """What one benchmark run knows: its arguments, its work directory and,
    once started, its Spark session. ``env`` collects facts for the result's
    ``# env`` line; ``cleanups`` holds callables run at exit, last first."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    work: str
    tracer: object
    spark: object = None
    event_log_dir: str | None = None
    env: dict = field(default_factory=dict)
    cleanups: list = field(default_factory=list)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def start_spark(run: Run, extra: dict | None = None):
    from coin_for_rich_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": run.path("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.path('tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        run.event_log_dir = run.path("eventlog")
        os.makedirs(run.event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": run.event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    conf.update(extra or {})
    run.spark = get_spark(app_name=f"perfbench-{run.workload}", extra_conf=conf)
    return run.spark


def stop_spark(run: Run) -> None:
    """Stop the session (and any streaming query) and wait for its JVM to
    exit."""
    if run.spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        for q in run.spark.streams.active:
            q.stop()
        run.spark.stop()
    finally:
        run.spark = None
        if gateway is not None:
            _end_jvm(gateway)
            SparkContext._gateway = None
            SparkContext._jvm = None


def _end_jvm(gateway) -> None:
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def event_log_path(run: Run) -> str:
    files = [f for f in os.listdir(run.event_log_dir) if not f.startswith(".")]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log, found {files}")
    return os.path.join(run.event_log_dir, files[0])


def finish_trace(run: Run) -> tuple[dict, float]:
    """Stop the session of a traced run and parse its event log. Returns
    (event log, peak resident memory of the JVM plus this process, MB)."""
    from . import trace

    rss_mb = jvm_peak_rss_mb(run.spark) + python_peak_rss_mb()
    stop_spark(run)  # flushes the event log
    return trace.parse_event_log(event_log_path(run)), rss_mb


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def python_peak_rss_mb() -> float:
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def versions() -> dict:
    import duckdb
    import pyspark

    return {
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "postgresql": postgres_version(),
    }


def postgres_version() -> str:
    from coin_for_rich_spark.streaming.pgserver import _pg_binary

    exe = _pg_binary("postgres")
    if exe is None:
        return "absent"
    return subprocess.run(
        [exe, "--version"], capture_output=True, text=True, check=True
    ).stdout.strip()


# -- set-up and loops --------------------------------------------------------


def repeated_setup(setup, teardown, reps: int = SETUP_REPS):
    """Run ``setup(rep)`` ``reps`` times, tearing down all but the last.
    Returns (median seconds of the warm set-ups, every duration, the last
    set-up's state)."""
    durations, state = [], None
    for rep in range(reps):
        if state is not None:
            teardown(state)
        t0 = time.perf_counter()
        state = setup(rep)
        durations.append(time.perf_counter() - t0)
    return statistics.median(durations[1:]), durations, state


@dataclass
class OpRecord:
    index: int
    request: object
    start: float
    latency_s: float
    result: object = None
    error: str | None = None


def closed_loop(
    n_clients: int, seconds: float, requests, op, min_ops: int = 0
) -> list[OpRecord]:
    """``n_clients`` threads; each takes the next request, calls
    ``op(index, request)`` and waits for it before taking another, until
    ``seconds`` have passed and at least ``min_ops`` operations have
    started. Operations that raise are recorded as failed."""
    lock = threading.Lock()
    feed = iter(enumerate(requests))
    records: list[OpRecord] = []
    deadline = time.perf_counter() + seconds
    started = 0

    def client() -> None:
        nonlocal started
        while True:
            with lock:
                if time.perf_counter() >= deadline and started >= min_ops:
                    return
                try:
                    i, req = next(feed)
                except StopIteration:
                    return
                started += 1
            t0 = time.perf_counter()
            rec = OpRecord(i, req, t0, 0.0)
            try:
                rec.result = op(i, req)
            except Exception as exc:  # noqa: BLE001 — a failed op is data
                rec.error = f"{type(exc).__name__}: {exc}"
            rec.latency_s = time.perf_counter() - t0
            with lock:
                records.append(rec)

    threads = [threading.Thread(target=client) for _ in range(n_clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return sorted(records, key=lambda r: r.index)


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q))
