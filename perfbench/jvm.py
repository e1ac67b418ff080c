"""The engine's JVM seen from the benchmark: memory high-water marks and a
shutdown that waits for the process to end."""

from __future__ import annotations

import os
import subprocess


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_python_peak() -> None:
    """Restart this process's VmHWM count, so fixture generation done
    before set-up does not count as the engine's memory."""
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def gateway_proc() -> subprocess.Popen | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def peak_rss_mb() -> float:
    """VmHWM of the JVM plus this Python driver, in MB."""
    proc = gateway_proc()
    kb = _hwm_kb("self") + (_hwm_kb(proc.pid) if proc is not None else 0)
    return kb / 1024


def shutdown(timeout: float = 60.0) -> None:
    """Stop the Spark session, close the gateway and wait for the JVM."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout)
