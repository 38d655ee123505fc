"""Shared pieces of the benchmark: the working directory, the Spark
session, the streaming listener, the span recorder, the memory sampler
and percentile helpers.

Everything the benchmark writes lands under ``.perfbench_work/`` (one
directory per run, removed at the end) or ``.perfbench_out/`` (span
files of traced runs), both at the root of the checkout.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


def make_workdir() -> str:
    """Per-run working directory inside the checkout; every temp file of
    this process (Spark local dirs, loop checkpoints) goes below it."""
    os.makedirs(WORK_ROOT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"run{os.getpid()}_", dir=WORK_ROOT)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    return work


def remove_workdir(work: str) -> None:
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)  # only when no other run is using it
    except OSError:
        pass


def start_spark(work: str, cores: int):
    """A fresh session on ``local[cores]`` with the engine's defaults."""
    from pyspark.sql import SparkSession

    from stateflow_flink_spark.session import apply_runtime_conf

    tmp = os.path.join(work, "tmp")
    # No hsperfdata files in the system temp directory, from the launcher
    # JVM or the Spark JVM.
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.driver.extraJavaOptions", jvm_opts)
        .config("spark.executor.extraJavaOptions", jvm_opts)
        .getOrCreate()
    )
    apply_runtime_conf(spark)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        gateway.proc.wait(timeout=120)
        SparkContext._gateway = None
        SparkContext._jvm = None


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile of ``values`` (q in [0, 1])."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Spans:
    """In-memory spans (name, start, end, parent, attrs), written out once
    at the end.  Disabled, ``span`` still times the block but keeps
    nothing, so untraced runs pay no bookkeeping."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.rows: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for row in self.rows:
                f.write(json.dumps(row) + "\n")


class _Span:
    def __init__(self, owner: Spans, name: str, attrs: dict) -> None:
        self.owner, self.name, self.attrs = owner, name, attrs
        self.elapsed = 0.0

    def __enter__(self):
        o = self.owner
        stack = getattr(o._local, "stack", None)
        if stack is None:
            stack = o._local.stack = []
        with o._lock:
            self.id = o._next
            o._next += 1
        self.parent = stack[-1] if stack else None
        stack.append(self.id)
        self.start = time.time()
        return self

    def __exit__(self, *exc):
        end = time.time()
        self.elapsed = end - self.start
        o = self.owner
        o._local.stack.pop()
        if o.enabled:
            row = {"id": self.id, "name": self.name, "start": self.start,
                   "end": end, "parent": self.parent}
            row.update(self.attrs)
            with o._lock:
                o.rows.append(row)
        return False


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _is_generator(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"gen.py" in f.read()
    except OSError:
        return False


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


class RssSampler:
    """Samples the resident memory of this process and its descendants
    (the JVM and the Python workers) every ``period`` seconds from
    ``/proc``, leaving out the load generator."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak_kb = 0
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if _is_generator(pid):
                continue
            total += _rss_kb(pid)
            todo.extend(_children(pid))
        self.peak_kb = max(self.peak_kb, total)
        self.samples.append(total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
        return False


def make_listener():
    """A ``StreamingQueryListener`` that keeps every progress event, every
    termination exception, and signals once two queries have started."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self) -> None:
            self.progress: list[dict] = []
            self.errors: list[str] = []
            self.started = 0
            self.both_started = threading.Event()

        def onQueryStarted(self, event) -> None:
            self.started += 1
            if self.started >= 2:
                self.both_started.set()

        def onQueryProgress(self, event) -> None:
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            if event.exception:
                self.errors.append(str(event.exception)[:300])

    return Listener()


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)
