"""Pieces every workload shares: the Spark session, its teardown, and the
outcome a workload hands back to run.py."""

from __future__ import annotations

import os
import signal
import statistics
import sys
import time
from dataclasses import dataclass, field

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
PACKAGE = "crawler_german_localpoliticans_spark"


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0  # units (crawls, queries) that raised or gave a wrong output
    metrics: dict[str, float] = field(default_factory=dict)

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: FAIL {what}", file=sys.stderr)


def median(values) -> float:
    return float(statistics.median(values))


class Session:
    """One local Spark session whose scratch space stays inside `work`."""

    def __init__(self, work: str, event_log_dir: str | None = None) -> None:
        for sub in ("local", "tmp", "warehouse"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)
        # executors' Python workers import the program from the checkout
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        os.environ["TMPDIR"] = os.path.join(work, "tmp")
        # both JVMs (launcher and driver): temp files in `work`, no /tmp/hsperfdata
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}/tmp"
        cores = len(os.sched_getaffinity(0))

        from pyspark.sql import SparkSession

        t0 = time.monotonic()
        builder = (
            SparkSession.builder.master(f"local[{cores}]")
            .appName("perfbench")
            .config("spark.sql.shuffle.partitions", str(max(cores * 2, 16)))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.driver.memory", "3g")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "20000")
            .config("spark.local.dir", os.path.join(work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        )
        if event_log_dir is not None:
            os.makedirs(event_log_dir, exist_ok=True)
            builder = (
                builder.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", f"file://{event_log_dir}")
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = builder.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1).count()
        self.start_s = time.monotonic() - t0
        self.closed = False
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM (executors run inside it on local[N])."""
        with open(f"/proc/{self.jvm_pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("no VmHWM in /proc status")

    def close(self) -> None:
        """Stop Spark, end the JVM and wait for every process it spawned."""
        from pyspark import SparkContext

        if self.closed:
            return
        self.closed = True
        gateway = SparkContext._gateway
        proc = gateway.proc if gateway is not None else None
        spawned = _descendants(os.getpid())
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        while spawned and time.monotonic() < deadline:
            spawned = {p for p in spawned if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)
        for pid in spawned:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _descendants(root: int) -> set[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                stat = fh.read()
        except OSError:
            continue
        parent[int(name)] = int(stat.rsplit(")", 1)[1].split()[1])
    out: set[int] = set()
    frontier = [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in out]
        out.update(kids)
        frontier.extend(kids)
    return out
