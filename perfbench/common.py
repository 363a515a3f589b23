"""Shared pieces of the benchmark: the run context, Spark session
lifetime, reaping of every process a run starts, the /proc memory sampler
and the in-memory span recorder."""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUPS = 7  # set-ups per run; setup_s is their median
# The driver heap, pinned whatever SPARK_DRIVER_MEM says. Under the
# session's 8g default the JVM's resident size follows G1's lazy heap
# growth: on one seed of the operators workload the JVM peaked at 4.3 and
# 3.0 GB in two runs of the same code, so peak_rss_mb measured GC timing.
# A 3g heap gave 1.63 and 1.66 GB, with job_s within run-to-run noise.
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def median(values):
    return statistics.median(values) if values else 0.0


def adopt_orphans():
    """Make this process the child subreaper of everything it starts: a
    process whose parent exits (a Python worker after the JVM, the
    multiprocessing resource tracker) is re-parented here instead of to
    init, so reap_descendants finds and waits for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def process_tree():
    """(pid, command name, /proc/<pid>/stat fields from field 3 on) for
    this process and every descendant of it."""
    procs: dict[int, tuple[int, bytes, list[bytes]]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                head, tail = f.read().rsplit(b")", 1)
        except OSError:
            continue  # exited between listdir and open
        fields = tail.split()
        procs[int(name)] = (int(fields[1]), head.split(b"(", 1)[1], fields)
    me = os.getpid()
    out = []
    for pid, (_, comm, fields) in procs.items():
        p = pid
        while p > 1 and p != me:
            p = procs[p][0] if p in procs else 0
        if p == me:
            out.append((pid, comm, fields))
    return out


def _reap():
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def reap_descendants(grace: float = 10.0) -> list[int]:
    """Wait up to `grace` seconds for every descendant to exit, then send
    what is left SIGTERM and, after another `grace`, SIGKILL; reap each
    one that ends. Returns the pids still alive at the end (none unless a
    process ignores SIGKILL)."""
    import signal

    me = os.getpid()
    alive: list[int] = []
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        for pid in alive:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while True:
            _reap()
            alive = [
                pid for pid, _, fields in process_tree() if pid != me and fields[0] != b"Z"
            ]
            if not alive:
                return []
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)
    return alive


class Spans:
    """Spans kept in memory and written once when the run ends. A span is
    (trace id, span id, parent span id, layer, name, start, end); times
    are epoch seconds so spans from Spark's event log line up with them."""

    def __init__(self):
        self.spans: list[dict] = []
        self._next = 0

    def add(self, trace, layer, name, start, end, parent=None, **attrs):
        self._next += 1
        self.spans.append(
            {
                "trace": trace,
                "span": self._next,
                "parent": parent,
                "layer": layer,
                "name": name,
                "start": start,
                "end": end,
                **attrs,
            }
        )
        return self._next


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and the Python workers), sampled from /proc every 50 ms while a
    window is open; the JVM's share is tracked apart."""

    def __init__(self, interval: float = 0.05):
        self.interval = interval
        self.peak_kb = 0
        self.jvm_peak_kb = 0
        self._page_kb = os.sysconf("SC_PAGE_SIZE") // 1024
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self):
        total = jvm = 0
        for _, comm, fields in process_tree():
            kb = int(fields[21]) * self._page_kb
            total += kb
            jvm += kb if comm == b"java" else 0
        self.peak_kb = max(self.peak_kb, total)
        self.jvm_peak_kb = max(self.jvm_peak_kb, jvm)

    def _loop(self):
        while not self._stop.is_set():
            if self._on.is_set():
                self._sample()
            time.sleep(self.interval)

    @contextlib.contextmanager
    def window(self):
        self.peak_kb = self.jvm_peak_kb = 0
        self._on.set()
        try:
            yield self
        finally:
            self._on.clear()
            self._sample()

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)


class Run:
    """Everything one benchmark run owns: arguments, its scratch
    directory inside the checkout, the Spark session, spans, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cores = nproc()
        adopt_orphans()
        self.base = os.path.join(ROOT, ".perfbench")
        self.dir = os.path.join(self.base, f"{workload}-{seed}-{os.getpid()}")
        os.makedirs(self.dir, exist_ok=True)
        self.spans = Spans()
        self.rss = RssSampler()
        self.spark = None
        self.eventlog_dir = ""
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        # metric -> (value, unit): end-to-end, per-layer (both as declared
        # in BENCHMARK.json) and the rest, which only the summary lines and
        # the trace file carry
        self.e2e: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.detail: dict[str, tuple[float, str]] = {}
        self.info: dict = {}  # raw timings and tables for the trace file

    def path(self, *parts) -> str:
        return os.path.join(self.dir, *parts)

    def check(self, ok: bool, what: str, n: int = 1):
        """Count n attempted outputs; all fail when ok is False."""
        self.attempted += n
        if not ok:
            self.failed += n
            if len(self.failures) < 20:
                self.failures.append(what)

    # --- Spark session lifetime ------------------------------------------
    def start_spark(self, eventlog: bool = False):
        from delphi_pdf_parser_spark.session import get_spark

        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.local.dir": self.path("spark-local"),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData"
            ),
        }
        if eventlog:
            self.eventlog_dir = self.path(f"eventlog-{time.time_ns()}")
            os.makedirs(self.eventlog_dir)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + self.eventlog_dir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        self.spark = get_spark(
            "perfbench",
            master=f"local[{self.cores}]",
            shuffle_partitions=self.cores * 2,
            extra_conf=conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop Spark, the JVM it launched, the multiprocessing resource
        tracker and every other process started since, and wait for each
        to end."""
        try:
            self.stop_spark()
            self.rss.close()
            self._stop_jvm()
            from multiprocessing import resource_tracker

            resource_tracker._resource_tracker._stop()  # exits when its pipe closes
        finally:
            left = reap_descendants()
            if left:
                raise RuntimeError(f"processes still running after SIGKILL: {left}")

    def _stop_jvm(self):
        try:
            from pyspark import SparkContext
        except ImportError:
            return
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - any failure: kill and reap
                proc.kill()
                proc.wait(timeout=30)

    # --- output -------------------------------------------------------------
    def write_trace(self, notes: dict) -> str:
        out_dir = os.path.join(self.base, "traces")
        os.makedirs(out_dir, exist_ok=True)
        out = os.path.join(out_dir, f"{self.workload}-seed{self.seed}.json")
        metrics = {**self.e2e, **self.layers, **self.detail}
        with open(out, "w") as f:
            json.dump(
                {
                    "workload": self.workload,
                    "seed": self.seed,
                    "cores": self.cores,
                    "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
                    "notes": notes,
                    "run": self.info,
                    "spans": self.spans.spans,
                },
                f,
                indent=1,
            )
        return out
