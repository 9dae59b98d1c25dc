"""One benchmark run's resources: a fresh temporary directory inside the
checkout, the Spark session built through the package's ``get_spark``,
the streaming progress listener, spans, and the teardown that stops
the JVM and removes everything the run wrote.

Every run gets its own warehouse, checkpoint, state and local dirs: the
JVM stream names its tables from a uuid5 of the state-dir path and
resumes any committed view it finds there, so a reused path would
silently resume an earlier run."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import tempfile
import threading
import time

from pyspark.sql.streaming import StreamingQueryListener

from . import eventlog
from .measure import alive, box_share, descendants, read_cpu_times, tree_cpu_s, vm_hwm_mb
from .spans import Tracer

# a fixed heap, so runs do not depend on the host's RAM (the package
# would size it at 40% of physical memory)
DRIVER_MEMORY = "2g"


class ProgressListener(StreamingQueryListener):
    """Keeps every micro-batch's StreamingQueryProgress as a dict."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        with self._lock:
            self.progress.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self, n: int, timeout_s: float = 30.0) -> list[dict]:
        """Wait until ``n`` progress records arrived (the callbacks lag the
        query), then return and clear them."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.progress) >= n:
                    break
            time.sleep(0.05)
        with self._lock:
            out, self.progress = self.progress, []
        if len(out) < n:
            raise RuntimeError(f"expected {n} stream progress records, got {len(out)}")
        return out


class Run:
    def __init__(self, root: str, workload: str, seed: int, trace: bool) -> None:
        self.workload = workload
        self.seed = seed
        self.trace = trace
        scratch = os.path.join(root, ".perfbench_tmp")
        os.makedirs(scratch, exist_ok=True)
        self.tmp = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=scratch)
        self.tracer = Tracer(self.cpu_s)
        self.spark = None
        self.listener = ProgressListener()
        self.jvm_pid: int | None = None
        self.log: eventlog.Log | None = None
        self.stream_state_dirs: list[str] = []
        self._cpu0 = read_cpu_times()
        self.box: dict[str, float] = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def start_session(self):
        """Start Spark on local[nproc]; the package reads SPARK_GRAFT_CPUS
        when it is imported, so this runs before any package import."""
        os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.makedirs(self.path("tmp"))
        os.environ["TMPDIR"] = self.path("tmp")  # the gateway's connection file
        from mysql_cdc_redis_spark.session import get_spark

        conf = {
            "spark.sql.warehouse.dir": self.path("warehouse"),
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.path('tmp')} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            os.makedirs(self.path("eventlog"))
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.path("eventlog"),
            })
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.spark.streams.addListener(self.listener)
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        return self.spark

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, its JVM and workers."""
        return tree_cpu_s(os.getpid())

    def peak_rss_mb(self) -> float:
        return vm_hwm_mb(self.jvm_pid) + vm_hwm_mb("self")

    def mark_box(self) -> None:
        """Idle and steal shares of the box since the run started."""
        self.box = box_share(self._cpu0, read_cpu_times())

    def close(self) -> None:
        """Drop stream state, stop Spark and wait for its JVM, read the
        event log, and remove the run's directory."""
        try:
            if self.spark is not None:
                from mysql_cdc_redis_spark.streaming import drop_state_jvm

                for d in self.stream_state_dirs:
                    drop_state_jvm(self.spark, d)
                self._stop_jvm()
            if self.trace and os.path.isdir(self.path("eventlog")):
                self.log = eventlog.parse(eventlog.log_files(self.path("eventlog")))
        finally:
            shutil.rmtree(self.tmp, ignore_errors=True)

    def _stop_jvm(self) -> None:
        from pyspark import SparkContext

        gateway = self.spark.sparkContext._gateway
        proc = getattr(gateway, "proc", None)
        workers = descendants(self.jvm_pid)  # Python workers outlive the JVM briefly
        self.spark.stop()
        self.spark = None
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            # the gateway JVM exits when its stdin pipe closes
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while any(alive(pid) for pid in workers):
            if time.monotonic() > deadline:
                raise RuntimeError(f"Spark worker processes still running: {workers}")
            time.sleep(0.05)
