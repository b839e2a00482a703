"""What every workload shares: the Spark session, timed operations with
their correctness checks, trace spans, and the JVM's peak memory.

An *operation* is one timed call into the engine's public API. It fails
when it raises or when a check attached to it fails; ``attempted`` and
``failed`` in the result count operations.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import threading
import time
import traceback
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

#: Heap for the single local-mode JVM. The package default (12g) is sized
#: for a 32-core host; a small fixed heap keeps the run's resident memory
#: bounded and repeatable on a shared 4-core machine.
DRIVER_MEMORY = "3g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(work: str, event_log: str | None):
    """One fresh local[nproc] session with every scratch path under ``work``."""
    from intervalaverage_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            # a plain single JSON file: the default is a zstd-compressed
            # rolling directory that the folding reader cannot open
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{nproc()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


class Run:
    """State of one benchmark process: operations, checks and spans."""

    def __init__(self, spark, work: str, seed: int, traced: bool):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.traced = traced
        self.attempted = 0
        self.failed: set[int] = set()
        self.errors: list[str] = []
        self.spans: dict[str, float] = {}
        self._lock = threading.Lock()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh(self, *parts: str) -> str:
        """An empty directory under the work dir (removed first if present)."""
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def materialize(self, df, name: str):
        """Write ``df`` to parquet under the work dir and read it back."""
        path = self.fresh(name)
        df.write.parquet(path)
        return self.spark.read.parquet(path)

    def op(self, name: str, fn):
        """Time one public call. Returns ``(op id, result, seconds)``;
        the result is None when the call raised."""
        with self._lock:
            self.attempted += 1
            oid = self.attempted
        t0 = time.perf_counter()
        try:
            with self.span(name):
                out = fn()
        except Exception:  # the run must go on and report the failure
            self._fail(oid, f"{name} raised:\n{traceback.format_exc()}")
            out = None
        return oid, out, time.perf_counter() - t0

    def check(self, oid: int, ok: bool, what: str) -> None:
        if not ok:
            self._fail(oid, f"check failed: {what}")

    def _fail(self, oid: int, msg: str) -> None:
        with self._lock:
            self.failed.add(oid)
            self.errors.append(msg)
        print(msg, file=sys.stderr, flush=True)

    def concurrently(self, ops: dict) -> None:
        """Run ``{name: fn}`` as operations on nproc threads. Only for
        untraced warm-up: the first call of every plan shape pays JIT and
        code generation, and those costs overlap across cores."""
        with ThreadPoolExecutor(nproc()) as ex:
            for f in [ex.submit(self.op, name, fn) for name, fn in ops.items()]:
                f.result()

    @contextmanager
    def span(self, name: str):
        """In a traced run, tag the Spark jobs started inside with ``name``
        (so the event log can be folded per span) and add the wall time to
        the span's total. Untraced runs only pay a no-op."""
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.spans[name] = self.spans.get(name, 0.0) + time.perf_counter() - t0
            sc.setJobDescription(None)
