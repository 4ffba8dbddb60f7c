"""Spark session lifecycle for the benchmark.

Each setup launches a fresh JVM through the program's own
``build_session`` so that every setup pays what a user pays. The
configuration that belongs to the benchmark, not the program (event
log, temporary dirs, no console progress bar), is passed from outside
through ``PYSPARK_SUBMIT_ARGS``; everything is kept inside ``ws``.
"""
from __future__ import annotations

import os
import shlex
import signal
import time

from .procsample import TreeSampler

CORES = 4


def _environ(root: str, ws: str, event_log: str | None) -> None:
    tmp = os.path.join(ws, "tmp")
    local = os.path.join(ws, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    # executors import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p and p != root])
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "3g")
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(ws, "warehouse"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.eventLog.enabled": "false",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items()
    ) + " pyspark-shell"


class Session:
    """One JVM + SparkSession, built by the program's build_session,
    with a process-tree sampler running for its whole life."""

    def __init__(self, root: str, ws: str, event_log: str | None = None):
        from pyspark import SparkContext

        from document_extractor_spark.session import build_session

        _environ(root, ws, event_log)
        t0 = time.perf_counter()
        self.spark = build_session(app_name="perfbench", cores=CORES)
        self.build_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.proc = SparkContext._gateway.proc
        self.sampler = TreeSampler(self.proc.pid).start()
        self.app_id = self.spark.sparkContext.applicationId

    def label(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def stop(self) -> None:
        """Stop Spark, end the JVM and every Python worker, and wait
        for each to exit."""
        from pyspark import SparkContext

        try:
            self.spark.stop()
        finally:
            gw = SparkContext._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:
                    pass
            SparkContext._gateway = None
            SparkContext._jvm = None
            try:
                self.proc.stdin.close()
                self.proc.wait(timeout=30)
            except Exception:
                self.proc.kill()
                self.proc.wait()
            self.sampler.stop()
            _reap(self.sampler.workers)


def _reap(pids, timeout: float = 10.0) -> None:
    """Wait for orphaned worker pids to exit; kill any that linger
    past ``timeout`` and wait for those too."""
    live = _wait_gone(set(pids), timeout)
    for p in live:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    _wait_gone(live, timeout)


def _wait_gone(pids: set[int], timeout: float) -> set[int]:
    deadline = time.monotonic() + timeout
    while pids and time.monotonic() < deadline:
        pids = {p for p in pids if not _gone(p)}
        if pids:
            time.sleep(0.05)
    return pids


def _gone(pid: int) -> bool:
    """Exited: no /proc entry, or a zombie awaiting its parent."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
