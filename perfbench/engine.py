"""Spark session lifecycle, job counting and memory sampling for one
benchmark process."""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time

from pyspark import SparkContext

from ripple_server_spark.session import get_spark


class Engine:
    """Owns the run's SparkSession and the JVM behind it."""

    def __init__(self, cpus: int):
        self.cpus = cpus
        self.spark = None
        self._groups = itertools.count()

    def start(self):
        self.spark = get_spark(app_name="perfbench", master=f"local[{self.cpus}]")
        return self.spark

    def jvm_pid(self) -> int | None:
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    @contextlib.contextmanager
    def jobs(self, out: list[int]):
        """Count the Spark jobs started by this thread inside the block
        (job group + status tracker); appends the count to ``out``."""
        sc = self.spark.sparkContext
        group = f"perfbench-{next(self._groups)}"
        sc.setJobGroup(group, group)
        try:
            yield
        finally:
            out.append(len(sc.statusTracker().getJobIdsForGroup(group)))
            sc.setLocalProperty("spark.jobGroup.id", None)

    def shutdown(self, timeout_s: float = 60.0) -> None:
        """Stop the session, close the gateway and wait for the JVM (and
        the Python workers it owns) to exit."""
        if self.spark is not None:
            with contextlib.suppress(Exception):
                self.spark.stop()
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        if gw is not None:
            with contextlib.suppress(Exception):
                gw.shutdown()
        if proc is not None:
            with contextlib.suppress(Exception):
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples RSS of this process plus the JVM child from ``/proc``
    every ``period_s`` and keeps the peak of the sum."""

    def __init__(self, engine: Engine, period_s: float = 0.1):
        self.engine = engine
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss", daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            kb = _rss_kb(os.getpid())
            jvm = self.engine.jvm_pid()
            if jvm is not None:
                kb += _rss_kb(jvm)
            self.peak_kb = max(self.peak_kb, kb)
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def wait_until(pred, timeout_s: float, period_s: float = 0.05) -> bool:
    deadline = time.perf_counter() + timeout_s
    while time.perf_counter() < deadline:
        if pred():
            return True
        time.sleep(period_s)
    return pred()
