"""Session lifecycle, spans and small statistics shared by the workloads.

Every benchmark session runs in its own JVM: ``stop_session`` stops the
SparkContext, then closes the py4j gateway and waits for the JVM (and the
pyspark daemon it owns) to exit, so the next ``start_session`` pays the
full launch cost again and no process outlives the run.
"""

from __future__ import annotations

import contextlib
import os
import signal
import statistics
import subprocess
import sys
import time

from procstat import tree

DRIVER_HEAP = "2g"


def log(msg: str) -> None:
    print(f"[pipebench] {msg}", file=sys.stderr, flush=True)


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def session_conf(work: str, eventlog_dir: str | None = None) -> dict[str, str]:
    conf = {
        # Fixed heap: the package default is half of MemAvailable, which
        # would make every run's heap depend on the host's free memory.
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": "file://" + os.path.join(work, "warehouse"),
    }
    if eventlog_dir is not None:
        os.makedirs(eventlog_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + eventlog_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(work: str, eventlog_dir: str | None = None):
    from juniper_syslog_filter_spark.session import build_session

    n = nproc()
    spark = build_session(
        app_name="pipebench",
        master=f"local[{n}]",
        shuffle_partitions=max(8, n),
        extra_conf=session_conf(work, eventlog_dir),
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop Spark, end its JVM, and wait until no child process is left."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            # The gateway JVM exits when its stdin closes.
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    reap_children(timeout_s)


def become_subreaper() -> None:
    """Adopt orphaned descendants (the pyspark daemon outlives the JVM that
    started it by a moment), so ``reap_children`` can see and wait for them."""
    import ctypes

    pr_set_child_subreaper = 36
    ctypes.CDLL(None, use_errno=True).prctl(pr_set_child_subreaper, 1, 0, 0, 0)


def reap_children(timeout_s: float = 30.0) -> None:
    """Wait for every descendant to exit; kill what is left at the deadline."""
    me = os.getpid()
    deadline = time.monotonic() + timeout_s
    while True:
        rest = [p.pid for p in tree(me) if p.pid != me]
        if not rest:
            return
        if time.monotonic() > deadline:
            for pid in rest:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
            deadline = time.monotonic() + 5
        with contextlib.suppress(ChildProcessError):
            os.waitpid(-1, os.WNOHANG)
        time.sleep(0.05)


@contextlib.contextmanager
def span(spark, name: str):
    """Tag every Spark job started inside the block with ``name``, nested
    under the enclosing span as ``outer/name``."""
    from eventlog import SPAN_PROPERTY

    sc = spark.sparkContext
    outer = sc.getLocalProperty(SPAN_PROPERTY)
    sc.setLocalProperty(SPAN_PROPERTY, f"{outer}/{name}" if outer else name)
    try:
        yield
    finally:
        sc.setLocalProperty(SPAN_PROPERTY, outer)


class EventLogSwitch:
    """Detach and re-attach the session's event logger at run time, so one
    session can interleave untraced and traced passes. Events posted while
    detached are not written."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._logger = sc.eventLogger().get()
        self.on = True

    def set(self, on: bool) -> None:
        if on and not self.on:
            self._bus.addToEventLogQueue(self._logger)
        elif not on and self.on:
            self._bus.removeListener(self._logger)
        self.on = on


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (``q`` in [0, 100])."""
    if len(values) == 1:
        return values[0]
    cuts = statistics.quantiles(values, n=100, method="inclusive")
    return cuts[int(q) - 1]
