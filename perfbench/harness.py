"""What every workload shares: the pinned environment, the Spark
session's life cycle, spans, per-request Spark job/task counts, peak
memory and the pass/fail tally.

The environment is pinned here, from outside the package, before
pyspark is imported: ``local[<cores>]`` with a Spark driver heap that fits a
small box, and every scratch directory (Spark local dirs, warehouse,
``TMPDIR`` for the package's own state, the JVM's tmpdir) under one
per-run directory inside the checkout, removed at exit.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import signal
import sys
import tempfile
import threading
import time

import metrics
import tracing

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: Spark driver heap for every workload; the package pre-touches half of it
DRIVER_MEM = "4g"


def pin_env(run_dir: str) -> None:
    """Set the process environment every workload runs under (listed in
    README.md)."""
    tmp = os.path.join(run_dir, "tmp")
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    path = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "SPARK_GRAFT_WAREHOUSE": "file://" + os.path.join(run_dir, "warehouse"),
        "TMPDIR": tmp,
        # pandas-UDF workers import the package by name
        "PYTHONPATH": os.pathsep.join(path),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # fixed JIT compiler threads, so tracing.tree_cpu_s can leave them out
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads",
    }
    for k in ("SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_SF_DIR", "SPARK_HOME_CONF_DIR"):
        os.environ.pop(k, None)
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


class Harness:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, run_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.tracer = tracing.Tracer() if trace else tracing.NullTracer()
        self.tally = metrics.Tally()
        self.rss = tracing.PeakRss()
        self.spark = None
        self.session_start_s = 0.0
        #: (jobs, tasks, failed tasks) per request, traced runs only
        self.job_counts: list[tuple[int, int, int]] = []
        self._req = 0

    def data_dir(self, *parts: str) -> str:
        return os.path.join(self.run_dir, "data", *parts)

    # -- session ---------------------------------------------------------
    def start_session(self):
        from regpulse_lakehouse_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = get_spark(f"perfbench-{self.workload}")
        self.session_start_s = time.perf_counter() - t0
        self.rss.sample()
        return self.spark

    def stop(self) -> None:
        """Clean the package's state, stop Spark and wait for the JVM and
        its Python workers to end."""
        if self.spark is None:
            return
        import regpulse_lakehouse_spark

        regpulse_lakehouse_spark.cleanup()
        kids = tracing._descendants(os.getpid())
        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        self.spark.stop()
        self.spark = None
        with contextlib.suppress(Exception):
            gateway.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()  # the gateway JVM exits when stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.time() + 15
        while time.time() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}") and not _zombie(k)]
            if not kids:
                break
            time.sleep(0.1)
        for k in kids:
            with contextlib.suppress(OSError):
                os.kill(k, signal.SIGKILL)

    # -- measuring ---------------------------------------------------------
    def span(self, name: str):
        return self.tracer.span(name)

    @contextlib.contextmanager
    def request(self, name: str):
        """One user-visible operation: its own Spark job group (so the
        traced run can count its jobs and tasks) and request id."""
        self._req += 1
        group = f"{self.workload}-{self._req}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self.tracer.request = self._req
        try:
            with self.tracer.span(name):
                yield
        finally:
            self.tracer.request = None
            sc.setJobGroup(f"{self.workload}-idle", "between requests")
            self.rss.sample()
            if self.trace:
                self.job_counts.append(_count_jobs(sc, group))

    def deadline(self) -> float:
        return time.perf_counter() + self.seconds

    # -- reporting ---------------------------------------------------------
    def layer_metrics(self, spec: dict, values: dict[str, float]) -> dict[str, tuple[float, str]]:
        """Every per_layer metric of ``spec``: ``values`` first, then the
        median self time of the spans named like the metric (without
        ``_s``), then the Spark job counts; 0 for a layer this workload
        never called."""
        samples = tracing.self_time_samples(self.tracer.spans)
        jobs = self.job_counts
        counts = {
            "spark.jobs_per_request": metrics.median([j for j, _, _ in jobs]),
            "spark.tasks_per_request": metrics.median([t for _, t, _ in jobs]),
            "spark.failed_tasks": float(sum(f for _, _, f in jobs)),
        }
        out = {}
        for m in spec["per_layer"]:
            name = m["name"]
            if name in values:
                v = values[name]
            elif name in counts:
                v = counts[name]
            elif name.endswith("_s"):
                v = metrics.median(samples.get(name[:-2], []))
            else:
                v = 0.0
            out[name] = (float(v), m["unit"])
        return out

    def dump_trace(self, meta: dict) -> str:
        path = os.path.join(ROOT, ".bench_traces", f"{self.workload}-seed{self.seed}.json")
        self.tracer.dump(path, meta)
        return path


def watchdog(seconds: float) -> threading.Timer:
    """Kill every descendant and exit with code 3 if the run is still
    going after ``seconds``."""

    def abort() -> None:
        print(f"run exceeded {seconds:.0f} s; aborting", file=sys.stderr, flush=True)
        for pid in tracing._descendants(os.getpid()):
            with contextlib.suppress(OSError):
                os.kill(pid, signal.SIGKILL)
        os._exit(3)

    timer = threading.Timer(seconds, abort)
    timer.daemon = True
    timer.start()
    return timer


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _count_jobs(sc, group: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = failed = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info else ():
            stage = st.getStageInfo(sid)
            if stage:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return len(jobs), tasks, failed


def clean_run_dir(run_dir: str) -> None:
    shutil.rmtree(run_dir, ignore_errors=True)
    parent = os.path.dirname(run_dir)
    with contextlib.suppress(OSError):
        os.rmdir(parent)  # only when no other run is using it
