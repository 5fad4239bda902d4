"""Workload `crawl-sf0.1`: the iterative crawl over the sf0.1 corpus.

Set-up derives the pages corpus from the vendored sf0.1 documents with
`sources.webcorpus.corpus_from_documents` and writes it as parquet, three
times (setup_s is the median). The seed picks 50 seed URLs, in order, from
the derived pages. One warm-up crawl fills JIT and code caches, then crawls
repeat until --seconds have passed; each timed crawl is driver construction
+ run(seeds) + fetched.count(). Every crawl's tables are compared with
`plans.oracle.crawl_oracle` on the same inputs.

The traced run (--trace 1) times a traced crawl between two untraced ones
of the same inputs, wraps the engine's calls in spans (spans.py), folds the
event log into them, and checks the final bloom version against url_seen.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
import time
from dataclasses import dataclass

from harness import BENCH_DIR, Outcome, Session, median
from spans import job_group

DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.1")
N_SEEDS = 50
SETUP_REPEATS = 3
NEVER_SEEN_PROBES = 50_000

# spans with Spark work get every stat; the commit line and footer reads only time
TASK_SPANS = (
    "webcorpus.derive",
    "crawl.driver_init",
    "tables.write_round.fetched",
    "tables.write_round.extracted",
    "ordering.assign_global_seq",
    "tables.write_round.frontier",
    "bloom.insert",
)
DRIVER_SPANS = ("checkpoint.commit", "checkpoint.partition_lineage")
ROUNDS = 3  # max_depth=2
CRAWL_GROUP = "pb:crawl"  # the traced crawl's jobs outside every span
# per-layer name -> key of the program's per-round metrics (CrawlTables.metrics)
COUNTERS = {
    "fetch.scheduled": "scheduled",
    "robots.blocked": "robots_blocked",
    "fetch.ok": "fetched_ok",
    "fetch.failed": "fetch_failed",
    "fetch.keyword_hits": "keyword_hits",
    "expand.candidates": "candidates",
    "expand.enqueued": "enqueued",
}


def crawl_config():
    from crawler_german_localpoliticans_spark.config import CrawlConfig

    return CrawlConfig(max_depth=2, shuffle_partitions=32, seen_partitions=32)


def derive(spark, pages_path: str):
    """The workload's input load: corpus derivation + pages write."""
    from crawler_german_localpoliticans_spark.sources.webcorpus import corpus_from_documents

    pages, _, robots = corpus_from_documents(spark, DATA_DIR)
    pages.write.mode("overwrite").parquet(pages_path)
    return robots


class Inputs:
    """The seed list, the pages/robots the program reads, and the oracle's
    result on the same inputs (computed once, untimed)."""

    def __init__(self, spark, pages_path: str, robots_df, seed: int) -> None:
        import pyarrow.parquet as pq

        from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle

        table = pq.read_table(pages_path, columns=["url", "html"])
        urls = table.column("url").to_pylist()
        self.seed = seed
        self.seeds = random.Random(seed).sample(sorted(urls), N_SEEDS)
        self.seeds_df = spark.createDataFrame(
            list(zip(self.seeds, range(N_SEEDS))), "raw_url string, seed_order long"
        )
        self.pages_path = pages_path
        self.robots_df = robots_df
        robots = {r["host_key"]: r["robots_txt"] for r in robots_df.collect()}
        pages = dict(zip(urls, table.column("html").to_pylist()))
        self.oracle = crawl_oracle(self.seeds, pages, robots, crawl_config())


@dataclass
class Crawl:
    wall: float
    driver: object
    tables: object
    started: float  # epoch seconds, to window the event log
    ended: float


def crawl(spark, inputs: Inputs, state_dir: str) -> Crawl:
    """One timed crawl: driver construction + run(seeds) + fetched.count()."""
    from crawler_german_localpoliticans_spark.plans.crawl import CrawlDriver

    spark.catalog.clearCache()
    started = time.time()
    t0 = time.monotonic()
    driver = CrawlDriver(spark, state_dir, inputs.pages_path, inputs.robots_df, crawl_config())
    tables = driver.run(inputs.seeds_df)
    tables.fetched.count()
    wall = time.monotonic() - t0
    return Crawl(wall, driver, tables, started, time.time())


def mismatches(tables, oracle) -> list[str]:
    """Differences between the crawl's tables and the oracle's result."""
    out = []
    fetched = tables.fetched.orderBy("seq").collect()
    if [(r["depth"], r["seq"], r["url"]) for r in fetched] != oracle.crawl_order:
        out.append("(depth, seq, url) order differs")
    got = [
        (list(r["found_links"]), r["keyword_hit"], r["robots_blocked"], r["fetch_failed"])
        for r in fetched
    ]
    want = [
        (o.found_links, o.keyword_hit, o.robots_blocked, o.fetch_failed) for o in oracle.fetched
    ]
    if got != want:
        out.append("found_links or fetch flags differ")
    if {r["url"] for r in tables.url_seen.select("url").collect()} != oracle.url_seen:
        out.append("url_seen differs")
    cols = ("url", "clean_html", "text", "custom_id")
    got_x = sorted(tuple(r[c] for c in cols) for r in tables.extracted.collect())
    want_x = sorted(tuple(e[c] for c in cols) for e in oracle.extracted)
    if got_x != want_x:
        out.append("extracted (clean_html, text, custom_id) differ")
    return out


def checked_crawl(spark, inputs: Inputs, state_dir: str, outcome: Outcome, label: str,
                  group: str | None = None) -> Crawl | None:
    """Crawl (under job group `group`), compare with the oracle, count the
    attempt. None on failure."""
    outcome.attempted += 1
    try:
        if group is None:
            done = crawl(spark, inputs, state_dir)
        else:
            with job_group(spark.sparkContext, group):
                done = crawl(spark, inputs, state_dir)
        problems = mismatches(done.tables, inputs.oracle)
    except Exception as exc:  # a crawl that raises is a failed attempt, not a crash
        import traceback

        traceback.print_exc(file=sys.stderr)
        outcome.fail(f"{label}: {type(exc).__name__}: {exc}")
        return None
    if problems:
        outcome.fail(f"{label}: " + "; ".join(problems))
        return None
    return done


def frontier_rows(tables) -> int:
    return sum(m["scheduled"] + m["candidates"] for m in tables.metrics)


def run(work: str, seed: int, seconds: float, trace: bool) -> Outcome:
    session = Session(work, os.path.join(work, "events") if trace else None)
    try:
        return _run(session, work, seed, seconds, trace)
    finally:
        session.close()


def _run(session: Session, work: str, seed: int, seconds: float, trace: bool) -> Outcome:
    spark = session.spark
    outcome = Outcome()
    pages_path = os.path.join(work, "pages")
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.monotonic()
        robots_df = derive(spark, pages_path)
        setups.append(time.monotonic() - t0)
    inputs = Inputs(spark, pages_path, robots_df, seed)

    t0 = time.monotonic()
    checked_crawl(spark, inputs, os.path.join(work, "warmup"), outcome, "warm-up crawl")
    warmup_s = time.monotonic() - t0
    shutil.rmtree(os.path.join(work, "warmup"), ignore_errors=True)

    if trace:
        return traced(session, work, inputs, outcome, warmup_s)

    walls, rates = [], []
    started = time.monotonic()
    k = 0
    while not walls or time.monotonic() - started < seconds:
        state = os.path.join(work, f"state{k}")
        done = checked_crawl(spark, inputs, state, outcome, f"crawl {k}")
        shutil.rmtree(state, ignore_errors=True)
        k += 1
        if done is not None:
            walls.append(done.wall)
            rates.append(frontier_rows(done.tables) / done.wall)
        elif k >= 3 and not walls:
            raise RuntimeError("three crawls in a row failed")
    outcome.metrics.update(
        wall_s=median(walls),
        rows_per_s=median(rates),
        setup_s=median(setups),
    )
    return outcome


def traced(session: Session, work: str, inputs: Inputs, outcome: Outcome, warmup_s: float):
    """Per-layer metrics: a traced crawl between two untraced ones, the
    event log folded into its spans, and the URL-seen checks."""
    from spans import Tracer, fold_event_log, group_stats, read_event_log

    spark = session.spark
    tracer = Tracer(spark.sparkContext)
    with tracer.span("webcorpus.derive"):
        derive(spark, inputs.pages_path)

    untraced = []

    def untraced_crawl(label: str) -> None:
        state = os.path.join(work, label)
        run_ = checked_crawl(spark, inputs, state, outcome, label)
        shutil.rmtree(state, ignore_errors=True)
        if run_ is not None:
            untraced.append(run_.wall)

    untraced_crawl("untraced-1")
    traced_state = os.path.join(work, "traced")
    with tracer.installed():
        done = checked_crawl(spark, inputs, traced_state, outcome, "traced crawl", CRAWL_GROUP)
    untraced_crawl("untraced-2")
    if done is None or not untraced:
        raise RuntimeError("the traced run needs the traced and an untraced crawl to succeed")

    m = outcome.metrics
    m["trace.overhead_s"] = done.wall - median(untraced)
    m["setup.session_s"] = session.start_s
    m["setup.warmup_s"] = warmup_s
    m["peak_rss_mb"] = session.jvm_peak_rss_mb()
    m.update(round_counters(done.tables.metrics))
    m.update(bloom_metrics(spark, done, tracer, inputs, outcome))
    m.update(table_census(traced_state, m["fetch.scheduled"]))
    crawl_group_jobs = tracer.group_jobs(CRAWL_GROUP)

    session.close()  # flushes the event log
    jobs, tasks = fold_event_log(read_event_log(os.path.join(work, "events")))
    in_crawl = [j for j in jobs if done.started * 1000 <= j.submitted_ms <= done.ended * 1000]
    attributed = 0
    for name in TASK_SPANS + DRIVER_SPANS:
        spans = [s for s in tracer.spans if s.name == name]
        m[f"{name}.s"] = sum(s.seconds for s in spans)
        m[f"{name}.jobs"] = sum(s.jobs for s in spans)
        if name != "webcorpus.derive":
            attributed += m[f"{name}.jobs"]
        if name in TASK_SPANS:
            stats = group_stats({s.group for s in spans}, jobs, tasks)
            m.update({f"{name}.{k}": v for k, v in stats.items()})
    m["crawl.jobs"] = len(in_crawl)
    m["crawl.jobs.unattributed"] = len(in_crawl) - attributed
    m["crawl.jobs_per_round"] = len(in_crawl) / len(done.tables.metrics)
    if m["crawl.jobs.unattributed"] != crawl_group_jobs:
        print(f"perfbench: note: {m['crawl.jobs.unattributed']} crawl jobs outside spans but "
              f"{crawl_group_jobs} in the crawl's own job group", file=sys.stderr)
    bounds = [tracer.run_started] + tracer.commits
    for r in range(ROUNDS):
        m[f"crawl.r{r}.wall_s"] = m[f"crawl.r{r}.jobs"] = 0
        if r + 1 < len(bounds):
            lo, hi = bounds[r] * 1000, bounds[r + 1] * 1000
            m[f"crawl.r{r}.wall_s"] = bounds[r + 1] - bounds[r]
            m[f"crawl.r{r}.jobs"] = sum(1 for j in in_crawl if lo <= j.submitted_ms < hi)
    import curation

    m.update(curation.absent_metrics())
    m["error_rate"] = outcome.failed / outcome.attempted
    return outcome


def round_counters(rounds: list[dict]) -> dict:
    out = {name: sum(r[key] for r in rounds) for name, key in COUNTERS.items()}
    out["expand.yield"] = out["expand.enqueued"] / max(out["expand.candidates"], 1)
    out["politeness.max_pages_per_host"] = max(
        r["politeness"]["max_pages_per_host"] for r in rounds)
    return out


def bloom_metrics(spark, done: Crawl, tracer, inputs: Inputs, outcome: Outcome) -> dict:
    """Prefilter counts from the Observations, exact false positives from
    the committed tables, and the URL-seen invariant on the final version."""
    from pyspark.sql import functions as F

    from crawler_german_localpoliticans_spark.plans.bloom import with_hashes

    cfg = crawl_config()
    driver, tables = done.driver, done.tables
    observed = tracer.observed()
    probed = sum(int(row["probed"]) for _, row in observed)
    maybe = sum(int(row["maybe_seen"] or 0) for _, row in observed)

    # a maybe-seen candidate probed against version v (round v) is a false
    # positive unless a frontier of rounds 0..v already held it
    fetched, frontier = tables.fetched, tables.frontier
    truly_seen = candidates = 0
    for version, _ in observed:
        cand = (
            fetched.where((F.col("depth") == version) & ~F.col("robots_blocked")
                          & ~F.col("fetch_failed"))
            .select(F.explode("found_links").alias("url"))
            .distinct()
        )
        seen = frontier.where(F.col("depth") <= version).select("url").distinct()
        candidates += cand.count()
        truly_seen += cand.join(seen, "url", "left_semi").count()
    if candidates != probed:
        print(f"perfbench: note: the prefilter observed {probed} probes for {candidates} "
              "distinct candidates; bloom.false_positives assumes they match", file=sys.stderr)

    version = tables.metrics[-1]["bloom_version"]
    seen_df = tables.url_seen
    missed = driver.bloom.prefilter(seen_df, version).where(~F.col("maybe_seen")).count()
    if missed:
        outcome.fail(f"bloom(v={version}) misses {missed} url_seen URLs")

    rng = random.Random(f"never-seen-{inputs.seed}")
    never = [(f"https://nie{rng.randrange(10**9)}.beispiel.de/seite/{i}",)
             for i in range(NEVER_SEEN_PROBES)]
    never_df = with_hashes(spark.createDataFrame(never, "url string"), "url", cfg.seen_partitions)
    fp_probe = driver.bloom.prefilter(never_df, version).where(F.col("maybe_seen")).count()
    return {
        "bloom.probed": probed,
        "bloom.maybe_seen": maybe,
        "bloom.false_positives": maybe - truly_seen,
        "bloom.skip_ratio": (probed - maybe) / max(probed, 1),
        "bloom.fpr_measured": fp_probe / NEVER_SEEN_PROBES,
    }


def table_census(state_dir: str, pages: int) -> dict:
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(state_dir):
        for name in files:
            n_files += 1
            n_bytes += os.path.getsize(os.path.join(dirpath, name))
    return {
        "tables.bytes": n_bytes,
        "tables.files": n_files,
        "tables.bytes_per_page": n_bytes / max(pages, 1),
    }


def absent_metrics() -> dict:
    """Per-layer metrics of this workload, all 0: read by the other workload's
    traced run, which reaches none of these layers."""
    names = ["crawl.jobs", "crawl.jobs.unattributed", "crawl.jobs_per_round"]
    names += [f"crawl.r{r}.{k}" for r in range(ROUNDS) for k in ("wall_s", "jobs")]
    names += [*COUNTERS, "expand.yield", "politeness.max_pages_per_host"]
    names += ["bloom.probed", "bloom.maybe_seen", "bloom.false_positives", "bloom.skip_ratio",
              "bloom.fpr_measured", "tables.bytes", "tables.files", "tables.bytes_per_page"]
    for span in TASK_SPANS:
        names += [f"{span}.{k}" for k in ("s", "jobs", "python_s", "shuffle_mb", "task_skew")]
    for span in DRIVER_SPANS:
        names += [f"{span}.s", f"{span}.jobs"]
    return {n: 0 for n in names}
