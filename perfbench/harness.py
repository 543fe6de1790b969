"""Shared plumbing: work directory, Spark session, timers and statistics.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout: inputs, outputs, Spark's local and temp directories and, in traced
runs, the event log. The directory of a run is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import tempfile
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORES = 4
DRIVER_MEMORY = "3g"  # an explicit size that leaves room on a 15 GB box


class Work:
    """Per-run scratch directory under the checkout, removed by ``close``."""

    def __init__(self, workload: str, seed: int):
        self.dir = os.path.join(
            ROOT, ".perfbench_work", f"{workload}-s{seed}-p{os.getpid()}"
        )
        shutil.rmtree(self.dir, ignore_errors=True)
        os.makedirs(self.dir)
        # Spark's block manager and Python's tempfile must stay in the checkout
        for d in ("local", "tmp"):
            os.makedirs(self.path(d))
        os.environ["SPARK_LOCAL_DIRS"] = self.path("local")
        os.environ["TMPDIR"] = tempfile.tempdir = self.path("tmp")
        # spark-submit's launcher JVM: no hsperfdata file in the system temp dir
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def close(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(self.dir))  # only when no other run uses it
        except OSError:
            pass


def start_session(work: Work, trace: bool):
    """Local[4] session from the engine's own factory; event log only if traced."""
    from addressparser_spark.session import get_spark

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work.path("local"),
        "spark.sql.warehouse.dir": work.path("warehouse"),
        # -Xms: the heap starts at its full size, so G1 does not resize it
        # mid-run, which made GC work differ from run to run;
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": (
            f"-Djava.net.preferIPv4Stack=true -Xms{DRIVER_MEMORY} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work.path('tmp')} "
            f"-Dderby.system.home={work.path('tmp')}"
        ),
    }
    if trace:
        os.makedirs(work.path("eventlog"))
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": work.path("eventlog"),
            "spark.eventLog.compress": "false",
        })
    return get_spark(app="perfbench", cores=CORES, driver_memory=DRIVER_MEMORY, extra=extra)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, which is the gateway process in local mode."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


@contextmanager
def timed(out: list[float]):
    """Append the block's wall time in seconds to ``out``."""
    t0 = time.perf_counter()
    yield
    out.append(time.perf_counter() - t0)


def median(xs: list[float]) -> float:
    return float(statistics.median(xs))


def tail_percentile(xs: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """Highest whole percentile with at least ``beyond`` samples above it.

    Returns ``(percentile, value)``, or ``None`` when there are too few
    samples for any percentile to have that many above it.
    """
    n = len(xs)
    if n <= beyond:
        return None
    s = sorted(xs)
    # the k-th smallest sample has n - k samples above it
    k = n - beyond
    return int(100 * k / n), float(s[k - 1])
