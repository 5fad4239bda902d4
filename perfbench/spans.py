"""Spans around calls into the program, each under its own Spark job group.

A `Tracer` wraps public functions and methods of the crawl engine for the
duration of a `with tracer.installed():` block, restoring the originals on
exit. Every call of a wrapped function becomes one span: wall seconds plus a
unique job group, whose jobs `statusTracker().getJobIdsForGroup` counts.
`fold_event_log` later folds the Spark event log (task metrics) into the
same spans by job group.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import threading
import time
import uuid
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
PYTHON_RUN_METRIC = "time to run Python workers"  # PythonSQLMetrics pythonTotalTime


@contextlib.contextmanager
def job_group(sc, group: str):
    """Run the block's Spark jobs under `group`, then restore the caller's."""
    prev = sc.getLocalProperty(GROUP_KEY)
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty(GROUP_KEY, None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev)


@dataclass
class Span:
    name: str
    group: str
    seconds: float
    jobs: int


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    commits: list[float] = field(default_factory=list)  # epoch s of each round commit
    observations: list = field(default_factory=list)  # (bloom version, Observation)
    run_started: float | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        group = f"pb-{uuid.uuid4().hex[:12]}:{name}"
        t0 = time.monotonic()
        try:
            with job_group(self.sc, group):
                yield
        finally:
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(Span(name, group, time.monotonic() - t0, jobs))

    def group_jobs(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def _wrap(self, fn, name_of):
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name_of(args)):
                return fn(*args, **kwargs)

        return wrapper

    @contextlib.contextmanager
    def installed(self):
        """Wrap the names the crawl driver actually resolves at call time."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from crawler_german_localpoliticans_spark.plans import bloom, checkpoint
        from crawler_german_localpoliticans_spark.plans import crawl as crawl_mod
        from crawler_german_localpoliticans_spark.sources import tables

        tracer = self
        orig_prefilter = bloom.BloomSidecar.prefilter
        orig_commit = checkpoint.CheckpointLog.commit
        orig_run = crawl_mod.CrawlDriver.run

        def prefilter(sidecar, candidates, version):
            obs = Observation(f"bloom-prefilter-{len(tracer.observations)}")
            tracer.observations.append((version, obs))
            out = orig_prefilter(sidecar, candidates, version)
            return out.observe(
                obs,
                F.count(F.lit(1)).alias("probed"),
                F.sum(F.col("maybe_seen").cast("long")).alias("maybe_seen"),
            )

        def commit(log, entry):
            with tracer.span("checkpoint.commit"):
                orig_commit(log, entry)
            tracer.commits.append(time.time())

        def run(driver, *args, **kwargs):
            tracer.run_started = time.time()
            return orig_run(driver, *args, **kwargs)

        patches = [
            (crawl_mod.CrawlDriver, "__init__",
             self._wrap(crawl_mod.CrawlDriver.__init__, lambda a: "crawl.driver_init")),
            (crawl_mod.CrawlDriver, "run", run),
            (tables.Catalog, "write_round",
             self._wrap(tables.Catalog.write_round, lambda a: f"tables.write_round.{a[1]}")),
            (crawl_mod, "assign_global_seq_counted",
             self._wrap(crawl_mod.assign_global_seq_counted, lambda a: "ordering.assign_global_seq")),
            (bloom.BloomSidecar, "insert",
             self._wrap(bloom.BloomSidecar.insert, lambda a: "bloom.insert")),
            (bloom.BloomSidecar, "prefilter", prefilter),
            (checkpoint.CheckpointLog, "commit", commit),
            (crawl_mod, "partition_lineage",
             self._wrap(crawl_mod.partition_lineage, lambda a: "checkpoint.partition_lineage")),
        ]
        saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in patches]
        try:
            for owner, attr, new in patches:
                setattr(owner, attr, new)
            yield self
        finally:
            for owner, attr, old in saved:
                setattr(owner, attr, old)

    def observed(self, timeout_s: float = 60.0) -> list[tuple[int, dict]]:
        """(bloom version, row) of every prefilter Observation.
        `Observation.get` blocks until delivery, so it runs on a daemon
        thread with a deadline."""
        out = []
        for version, obs in self.observations:
            box: dict = {}
            t = threading.Thread(target=lambda o=obs: box.setdefault("row", o.get), daemon=True)
            t.start()
            t.join(timeout_s)
            if "row" not in box:
                raise RuntimeError("a bloom prefilter observation was never delivered")
            out.append((version, box["row"]))
        return out


def read_event_log(log_dir: str) -> list[dict]:
    """Events of the single application logged under `log_dir` (plain JSON
    lines: the session disables compression and rolling)."""
    (name,) = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    with open(os.path.join(log_dir, name), encoding="utf-8") as fh:
        return [json.loads(line) for line in fh if line.strip()]


@dataclass
class JobInfo:
    job_id: int
    submitted_ms: int
    group: str | None
    stages: list[int]


def fold_event_log(events: list[dict]) -> tuple[list[JobInfo], dict[int, list[dict]]]:
    """(jobs in submission order, stage id -> task records of the stages
    that ran). Each task record holds run_ms, python_ms and shuffle_bytes."""
    jobs = []
    tasks: dict[int, list[dict]] = {}
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs.append(
                JobInfo(e["Job ID"], e["Submission Time"], props.get(GROUP_KEY), e["Stage IDs"])
            )
        elif kind == "SparkListenerTaskEnd":
            tm = e.get("Task Metrics") or {}
            python_ms = sum(
                int(a.get("Update", 0))
                for a in e["Task Info"]["Accumulables"]
                if a.get("Name") == PYTHON_RUN_METRIC
            )
            shuffle = (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            tasks.setdefault(e["Stage ID"], []).append(
                {"run_ms": tm.get("Executor Run Time", 0), "python_ms": python_ms,
                 "shuffle_bytes": shuffle}
            )
    jobs.sort(key=lambda j: j.job_id)
    return jobs, tasks


def group_stats(groups: set[str], jobs: list[JobInfo], tasks: dict[int, list[dict]]) -> dict:
    """python_s, shuffle_mb and task_skew over the stages the groups' jobs
    ran. A stage belongs to the first job that lists it; later jobs skip
    it. Skew is the largest max/median task run time of any stage with at
    least two tasks (median floored at 1 ms), 1.0 when there is none."""
    owner: dict[int, str | None] = {}
    for job in jobs:
        for sid in job.stages:
            owner.setdefault(sid, job.group)
    python_ms = shuffle = 0
    skew = 1.0
    for sid, group in owner.items():
        if group not in groups or sid not in tasks:
            continue
        ts = tasks[sid]
        python_ms += sum(t["python_ms"] for t in ts)
        shuffle += sum(t["shuffle_bytes"] for t in ts)
        if len(ts) >= 2:
            runs = [t["run_ms"] for t in ts]
            skew = max(skew, max(runs) / max(statistics.median(runs), 1.0))
    return {"python_s": python_ms / 1000.0, "shuffle_mb": shuffle / 1e6, "task_skew": skew}
