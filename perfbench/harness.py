"""Shared machinery of the benchmark workloads.

``Run`` owns one benchmark invocation: its work directory, the Spark
session (set up the same way for every workload), the ops it timed and
the spans it recorded. Every call into the engine goes through
``Run.op``, which sets a Spark job group named after the op, times the
call from outside, counts the jobs and stages it created and applies the
op's output check. Spans stay in memory and are written once, when the
run ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from collections import defaultdict
from contextlib import contextmanager

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(BENCH_DIR)
WORK_ROOT = os.path.join(BENCH_DIR, ".work")


class CheckFailed(Exception):
    """An op returned, but its output was wrong."""


def cores() -> int:
    return len(os.sched_getaffinity(0))


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _int(counter) -> int:
    """A DAGScheduler id counter: py4j hands over an int or an AtomicInteger."""
    return counter if isinstance(counter, int) else counter.get()


class Run:
    """One benchmark invocation of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, spec_key: str):
        self.workload = workload
        # a hash of the workload's definition in the spec
        self.spec_key = spec_key
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}")
        shutil.rmtree(self.work, ignore_errors=True)
        os.makedirs(self.work)
        self.spark = None
        self.event_log_dir: str | None = None
        self.app_id: str | None = None
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self.setup_s: float | None = None
        self.get_spark_s: float | None = None
        # seconds spent inside the set-up window that are not set-up
        # (input generation); ``setup`` subtracts them
        self.untimed_s = 0.0
        # filled by the workloads: per-pass facts, warm-pass times,
        # stream micro-batch times, layer observations, other facts
        self.pass_info: dict[str, dict] = {}
        self.warm_passes: list[float] = []
        self.stream_batches: list[float] = []
        self.layer: dict[str, list] = defaultdict(list)
        self.extra: dict = {}
        self.op_extra: dict = {}
        self.current_op: str | None = None
        self._jvm = None
        self._jvm_pid = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    # -- session -------------------------------------------------------------

    def environment(self) -> None:
        """Pin everything the session and its Python workers inherit: the
        repo root on PYTHONPATH (workers import the engine from there),
        scratch space inside the work directory, no outside conf layer and
        the engine's own driver memory default."""
        paths = [REPO_ROOT] + [
            p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p
        ]
        os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
        if REPO_ROOT not in sys.path:
            sys.path.insert(0, REPO_ROOT)
        tmp = self.path("tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["TMPDIR"] = tmp
        os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
        # every JVM, spark-submit's launcher too: no hsperfdata file in /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
        os.environ["SPARK_GRAFT_CPUS"] = str(cores())
        for name in ("SPARK_DRIVER_MEMORY", "SPARK_GRAFT_EXTRA_CONF", "SPARK_MASTER"):
            os.environ.pop(name, None)

    def start_session(self):
        from wroclaw_bike_stats_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.path('tmp')}",
        }
        if self.trace:
            self.event_log_dir = self.path("eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": self.event_log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            master=f"local[{cores()}]",
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        self.get_spark_s = time.perf_counter() - t0
        self.spark = spark
        self.app_id = spark.sparkContext.applicationId
        self._jvm = spark.sparkContext._jvm
        self._jvm_pid = self._jvm.ProcessHandle.current().pid()
        return spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown_jvm(self) -> None:
        """Stop the session, then end the driver JVM and wait for it: the
        JVM exits when its stdin closes, and takes its Python workers
        with it."""
        self.stop_session()
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is None or proc is None:
            return
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None
        self._jvm = None

    @contextmanager
    def outside_setup(self):
        """Work done before the set-up ends that is not set-up (input
        generation): its time is left out of ``setup_s``."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.untimed_s += time.perf_counter() - t0

    def setup(self, t_process: float, warm_up) -> None:
        """The run's one set-up: Python imports, the driver JVM's launch,
        the session and the workload's warm-up, timed from process start
        (``t_process``) with the ``outside_setup`` time taken out."""
        self.start_session()
        warm_up()
        self.setup_s = time.perf_counter() - t_process - self.untimed_s

    def peak_rss_mb(self) -> float:
        """Peak RSS (VmHWM) of the Python driver plus the driver JVM."""
        kb = _vm_hwm_kb("self")
        if self._jvm_pid is not None:
            kb += _vm_hwm_kb(self._jvm_pid)
        return kb / 1024.0

    def peak_heap_mb(self) -> float:
        """Sum of the peak use of the driver JVM's heap pools (eden,
        survivor, old), each pool's peak taken on its own."""
        if self._jvm is None:
            return 0.0
        pools = self._jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        used = sum(p.getPeakUsage().getUsed() for p in pools if p.getType().name() == "HEAP")
        return used / 2**20

    # -- spans and ops ---------------------------------------------------------

    def _counters(self) -> tuple[int, int]:
        dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        return _int(dag.nextJobId()), _int(dag.nextStageId())

    @contextmanager
    def span(self, span_id: str, layer: str, parent: str | None = None):
        """Record [start, end] of a call into ``layer``; ``parent`` is the
        id of the span that caused it."""
        rec = {
            "workload": self.workload,
            "id": span_id,
            "layer": layer,
            "parent": parent,
            "start": time.perf_counter(),
        }
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self.spans.append(rec)

    def passes(self, tag: str, window: float, one_pass) -> list[tuple[str, float]]:
        """Whole passes until ``window`` seconds have gone by, at least one;
        ``one_pass(pass_id)`` returns (pass id, wall seconds)."""
        out, t0 = [], time.perf_counter()
        while not out or time.perf_counter() - t0 < window:
            out.append(one_pass(f"{tag}{len(out)}"))
        return out

    def timed_pass(self, pass_id: str, body) -> tuple[str, float]:
        """Run one pass under its own span; returns (pass id, wall seconds)."""
        with self.span(f"{self.workload}/{pass_id}", "pass") as sp:
            body()
        return pass_id, sp["end"] - sp["start"]

    def op(self, pass_id: str, name: str, layer: str, call, check=None, kind: str = ""):
        """Run ``call()`` as one op; ``check(result)`` raises CheckFailed
        when the output is wrong. Returns the result, or None when the op
        failed."""
        group = f"{self.workload}/{pass_id}/{name}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, f"{layer} {name}")
        jobs0, stages0 = self._counters()
        rec = {"pass": pass_id, "op": name, "kind": kind or name, "layer": layer, "group": group}
        result, error = None, None
        self.op_extra = {}
        self.current_op = group
        with self.span(group, layer, parent=f"{self.workload}/{pass_id}") as sp:
            try:
                result = call()
            except Exception as e:  # noqa: BLE001 - a failed op is a measurement
                error = f"{type(e).__name__}: {str(e).splitlines()[0][:300] if str(e) else ''}"
                rec["traceback"] = traceback.format_exc(limit=4)[-2000:]
        rec["wall_s"] = sp["end"] - sp["start"]
        rec["start"], rec["end"] = sp["start"], sp["end"]
        rec.update(self.op_extra)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs1, stages1 = self._counters()
        rec["jobs"], rec["stages"] = jobs1 - jobs0, stages1 - stages0
        rec["job_ids"] = (jobs0, jobs1)
        if error is None and check is not None:
            try:
                check(result)
            except CheckFailed as e:
                error = f"check failed: {e}"
        rec["ok"] = error is None
        if error is not None:
            rec["error"] = error
            print(f"[perfbench] op failed: {group}: {error}", file=sys.stderr)
        self.ops.append(rec)
        return result if error is None else None

    # -- results --------------------------------------------------------------

    def write_spans(self, extra: dict | None = None) -> str:
        out = os.path.join(WORK_ROOT, f"last-{self.workload}-trace{int(self.trace)}.json")
        with open(out, "w", encoding="utf-8") as f:
            json.dump({"spans": self.spans, "ops": self.ops, **(extra or {})}, f, indent=1, default=str)
        return out

    def cleanup(self) -> None:
        shutil.rmtree(self.work, ignore_errors=True)


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest sample with at least 10 samples
    above it, and the percentile it stands at. With fewer than 11 samples
    it is the maximum."""
    xs = sorted(values)
    n = len(xs)
    k = n - 11 if n >= 11 else n - 1
    return xs[k], 100.0 * (k + 1) / n, n


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0
