"""Helpers shared by the workloads: the session, the drift sentinel,
the record stamp and percentiles."""

from __future__ import annotations

import hashlib
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# spans of traced runs
OUT = ROOT / ".perfbench_out"
# local[k]: never more cores than the box has, never more than four
CORES = max(1, min(4, os.cpu_count() or 1))
CALIB_ROWS = 20_000_000
HEAP = "2g"
STOP_TIMEOUT_S = 30


def start_session(work: Path, trace: bool):
    """Build the session through the package's own ``get_spark``."""
    from sarkac_spark.session import get_spark

    conf = {
        # a fixed, pre-touched heap: the JVM's resident size no longer
        # depends on when G1 chose to grow the heap, so peak RSS repeats
        "spark.driver.memory": HEAP,
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work / 'tmp'} -Xms{HEAP} -XX:+AlwaysPreTouch"
        ),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": str(work / "eventlog"),
                "spark.eventLog.compress": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def stop_session(spark) -> None:
    """Stop the session (which flushes the event log), then end the JVM
    behind it and wait until the JVM and every Python worker it started
    have exited."""
    from pyspark import SparkContext

    import procstat

    children = [p for p in procstat.tree_pids() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    # the gateway server exits when its stdin closes
    gateway.proc.stdin.close()
    try:
        gateway.proc.wait(timeout=STOP_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()
    deadline = time.monotonic() + STOP_TIMEOUT_S
    alive = children
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def calib_ms(spark, first: bool = False) -> float:
    """Drift sentinel: the wall of one run of a fixed pure-JVM job (no
    Python, no files). The first job of a session runs cold, so with
    ``first`` an untimed run of a twentieth of the rows comes before."""
    def job(rows):
        spark.range(0, rows, numPartitions=CORES).selectExpr(
            "sum(hash(id) % 1000) AS s"
        ).collect()

    if first:
        job(CALIB_ROWS // 20)
    t0 = time.perf_counter()
    job(CALIB_ROWS)
    return (time.perf_counter() - t0) * 1e3


def source_digest() -> str:
    """sha256 of the package sources: identifies the code under test
    even where the checkout is not a git repository."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "sarkac_spark").rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def stamp(spark) -> dict:
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": os.cpu_count(),
        "master": f"local[{CORES}]",
        "pyspark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "git_commit": commit,
        "source_digest": source_digest(),
    }


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    s = sorted(values)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50.0)
