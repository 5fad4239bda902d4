"""The iterative crawl driver: one Spark job per BFS wave.

Spark-native reimplementation of the reference's worker loop
(src/main.rs:554-980) — NOT a port: the Redis queue/set become DataFrame
state (SURVEY.md §3.1 "Spark rebuild lifecycle"):

    frontier(round r) ─ mark seen ─ robots filter (policies join)
      ─ politeness schedule (host partitioning, priority order, rate caps)
      ─ join pages on url (the offline "fetch", BASELINE input_hint)
      ─ found_links pandas UDF ─ keyword gate (Column expr)
      ─ fetched(round r) write, the keyword-gated rows' clean/extract
        pandas UDFs in the same pass (the round's one output table;
        `extracted` is a projection of it)
      ─ posexplode candidates
      ─ first-discovery-wins dedup (min (parent_seq, pos) struct)
      ─ [bloom prefilter, once url_seen outgrows broadcast]
      ─ exact anti-join vs url_seen
      ─ global seq assignment ─ commit round (checkpoint line)

A wave whose url_seen and candidate links fit under the session's broadcast
threshold skips the Spark plan for the steps after the fetched write: the
driver collects the wave's links and url_seen, applies the same dedup, seen
check and seq order, and writes the next frontier in one job. A seed list
under the same cap is sequenced the same way (checkpoint key
`expand_local`; arithmetic in SCALE.md).

Determinism / parity invariants (tests/test_crawl_spark.py asserts all of
them against plans/oracle.py on shared fixtures):
- round == BFS depth; expansion commits only after the *whole* wave is
  fetched, so politeness slicing can never change membership or order;
- `seq` = the reference's single-worker FIFO order: seeds in CSV order, then
  children ordered by (first-discovering parent's seq, position in that
  parent's sorted found_links) — exactly the order the Lua
  check-and-add (src/main.rs:30-45) produces under one worker;
- url_seen == distinct frontier urls (every popped URL is seen before any
  filtering, src/main.rs:644-654; children are seen at enqueue);
- `scraped_at` is the page's warc_ts (deterministic stand-in for the
  reference's wall-clock RFC3339 stamp, src/main.rs:919).

Scale posture (local[32] here, 1000 executors at 10^10 URLs):
- robots policies: parsed once per distinct host ON EXECUTORS and kept as a
  DataFrame; the frontier picks them up via a JOIN on host_key that the
  planner sizes against the session's broadcast threshold (broadcast when
  small, AQE shuffle join past it) — the driver never holds the policy set;
- the frontier→pages join is the big shuffle: both sides hash on `url`; at
  production scale `pages` is bucketed by url so the join is shuffle-free
  on the pages side; AQE handles candidate skew;
- the anti-join is keyed on the canonical URL (uniform by construction);
  the bloom sidecar keeps definite-new rows out of it entirely — but only
  once it can save that join anything. While `next_seq` (an exact upper
  bound on |url_seen|) × SEEN_BYTES_PER_URL fits under the session's
  broadcast threshold, AQE broadcasts url_seen into the anti-join and the
  bloom is neither probed nor maintained. The first round past the
  threshold builds bloom version r from url_seen(0..r) once; every later
  round probes and inserts (arithmetic in SCALE.md);
- no unbounded collect() — tiny aggregates (counts, bucket offsets) reach
  the driver, and data rows only for waves within the broadcast cap
  (≈109k URLs at the default 10 MiB); every larger wave, and every wave at
  10^10 scale, takes the distributed path above.
"""

from __future__ import annotations

import os
import re
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..config import CrawlConfig, DEFAULT_CONFIG
from ..functions import udfs
from ..functions.robots import parse_robots
from ..functions.urls import canonicalize_url, host_key, url_host
from ..sources import tables as tbl
from .bloom import BloomSidecar, with_hashes
from .checkpoint import CheckpointLog, partition_lineage
from .ordering import assign_global_seq_counted
from .politeness import schedule_wave


#: bytes one url_seen row adds to the anti-join's build side as AQE measures
#: it: an UnsafeRow of one string column is an 8-byte null bitset plus an
#: 8-byte offset/length word plus the URL padded to whole words (~80 bytes
#: for canonical municipal URLs). Sizing in SCALE.md.
SEEN_BYTES_PER_URL = 96

_BYTE_UNITS = {
    "": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40, "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50,
}


def parse_byte_size(value: str) -> int:
    """Spark's byte-size conf syntax: an integer with an optional binary unit
    (`10MB`, `10485760b`, `512k`), case-insensitive; a leading `-` negates
    (`-1` turns broadcasting off)."""
    text = value.strip().lower()
    if text.startswith("-"):
        return -parse_byte_size(text[1:])
    m = re.fullmatch(r"(\d+)([a-z]*)", text)
    if m is None or m.group(2) not in _BYTE_UNITS:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def broadcast_threshold(spark: SparkSession) -> int:
    """The threshold AQE applies when it turns a join into a broadcast at
    runtime: `spark.sql.adaptive.autoBroadcastJoinThreshold`, falling back to
    `spark.sql.autoBroadcastJoinThreshold`. ≤ 0 means never broadcast."""
    raw = spark.conf.get("spark.sql.adaptive.autoBroadcastJoinThreshold", None)
    if raw is None:
        raw = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    return parse_byte_size(raw)


@dataclass
class CrawlTables:
    fetched: DataFrame
    url_seen: DataFrame
    extracted: DataFrame
    frontier: DataFrame
    metrics: list[dict] = field(default_factory=list)


POLICY_SCHEMA = T.StructType(
    [
        T.StructField("allow", T.ArrayType(T.StringType())),
        T.StructField("disallow", T.ArrayType(T.StringType())),
        T.StructField("crawl_delay_ms", T.LongType()),
    ]
)


def parse_policies_df(robots_df: DataFrame, config: CrawlConfig) -> DataFrame:
    """robots table -> policies(host_key, allow, disallow, crawl_delay_ms).

    X3 (src/main.rs:187-271) runs on executors as a pandas UDF over the
    robots table; the result STAYS a DataFrame — nothing is collected to the
    driver, so the policy set scales to 10^8 distinct hosts (the round-1
    verdict's flagship-path scale flag). Hosts without a row get the empty
    allow-all policy via the left join in `evaluate_robots`
    (src/main.rs:138-141)."""
    ua = config.user_agent

    @F.pandas_udf(POLICY_SCHEMA)
    def parse(txts: pd.Series) -> pd.DataFrame:
        allow, disallow, delay = [], [], []
        for txt in txts:
            p = parse_robots(txt or "", ua)
            allow.append(p.allow)
            disallow.append(p.disallow)
            delay.append(p.crawl_delay_ms)
        return pd.DataFrame(
            {"allow": allow, "disallow": disallow, "crawl_delay_ms": delay}
        )

    return robots_df.select(
        "host_key", parse(F.col("robots_txt")).alias("_p")
    ).select(
        "host_key",
        F.col("_p.allow").alias("allow"),
        F.col("_p.disallow").alias("disallow"),
        F.col("_p.crawl_delay_ms").alias("crawl_delay_ms"),
    )


@F.pandas_udf(T.BooleanType())
def _robots_blocked_udf(urls: pd.Series, allows: pd.Series, disallows: pd.Series) -> pd.Series:
    """Longest-prefix robots match (src/main.rs:97-108), vectorized over the
    Arrow batch. Null rule arrays (host without a robots row) => allowed."""
    from ..functions.urls import url_path as _url_path

    out = []
    for url, allow, disallow in zip(urls, allows, disallows):
        if allow is None and disallow is None:
            out.append(False)
            continue
        path = _url_path(url)
        a = max((len(p) for p in (allow if allow is not None else []) if path.startswith(p)), default=0)
        d = max((len(p) for p in (disallow if disallow is not None else []) if path.startswith(p)), default=0)
        out.append(bool(d > a and d > 0))
    return pd.Series(out)


def evaluate_robots(df: DataFrame, policies_df: DataFrame) -> DataFrame:
    """Join `df` (needs a host_key column) against the policies table and
    evaluate the longest-prefix match: adds robots_blocked + crawl_delay_ms.

    The policy state ships as a JOIN, not a driver dict, and the planner
    sizes it against the session's broadcast threshold: a policies side
    under it is broadcast (one copy per executor); above it Catalyst/AQE
    picks a shuffle join keyed on host_key — per-task memory stays
    O(hosts/P) at any host count. Only (allow, disallow) rule arrays cross
    into Python, one Arrow batch per partition."""
    return (
        df.join(policies_df, on="host_key", how="left")
        .withColumn(
            "robots_blocked",
            _robots_blocked_udf(F.col("url"), F.col("allow"), F.col("disallow")),
        )
        .drop("allow", "disallow")
    )


def build_robots_state(
    spark: SparkSession, robots_df: DataFrame, config: CrawlConfig
) -> dict[str, tuple[tuple[str, ...], tuple[str, ...], int | None]]:
    """Collected dict form of parse_policies_df — kept for parity tests and
    driver-side tooling ONLY; the crawl path uses `evaluate_robots` (a join)
    so no O(hosts) state ever reaches the driver."""
    rows = parse_policies_df(robots_df, config).collect()
    return {
        r["host_key"]: (tuple(r["allow"]), tuple(r["disallow"]), r["crawl_delay_ms"])
        for r in rows
    }


class CrawlDriver:
    """Iterative BFS crawl over (pages, seeds, robots) with checkpoint/resume."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        pages_path: str,
        robots_df: DataFrame,
        config: CrawlConfig = DEFAULT_CONFIG,
    ) -> None:
        self.spark = spark
        self.work_dir = work_dir
        self.config = config
        # without this, persisting the wave freezes a non-AQE plan (no
        # broadcast conversion, no partition coalescing) — 5-20x slower
        # rounds; measured in BENCH notes
        try:
            spark.conf.set(
                "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
            )
        except Exception:
            pass
        os.makedirs(work_dir, exist_ok=True)
        self.catalog = tbl.Catalog(spark, work_dir)
        self.checkpoints = CheckpointLog(work_dir)
        self.bloom = BloomSidecar(
            work_dir, config.seen_partitions, config.bloom_capacity_per_partition, config.bloom_fpp
        )
        self.pages_path = pages_path
        # the pages corpus is read once and cached across rounds (at 100 TB
        # scale: a bucketed-by-url Iceberg table instead of a cache).
        # NOTE (r6): caching it pre-hash-partitioned by url (to let the
        # per-round join skip the pages-side exchange, guide §2.4) was
        # tried and measured SLOWER at sandbox scale — the wave join
        # broadcasts the small frontier side, so the pages cache is never
        # exchanged at all and the extra repartition shuffle of the html
        # payload is pure cost (receipt in BENCH/NOTES.md r6). At cluster
        # scale, where BOTH sides are big, url-bucketed storage is still
        # the right layout, as documented in the module header.
        self.pages = tbl.read_pages(spark, pages_path).persist()
        # robots policies stay a DataFrame (parsed once on executors, reused
        # every round via persist); the planner sizes their join
        self.policies_df = parse_policies_df(robots_df, config).persist()

    def _broadcast_url_cap(self) -> int:
        """How many URLs fit under the session's broadcast threshold at
        SEEN_BYTES_PER_URL each; -1 when AQE never broadcasts. Up to the cap
        AQE broadcasts url_seen into the exact anti-join, so the bloom would
        save that join nothing, and a wave's inputs are small enough to
        sequence on the driver."""
        threshold = broadcast_threshold(self.spark)
        return threshold // SEEN_BYTES_PER_URL if threshold > 0 else -1

    def _write_frontier(self, r: int, urls: list[str], base: int) -> None:
        """Frontier round r from URLs already in crawl order, in one job and
        one file (at most the broadcast cap of rows)."""
        rows = [(base + i, u, r, url_host(u), host_key(u)) for i, u in enumerate(urls)]
        df = self.spark.createDataFrame(
            self.spark.sparkContext.parallelize(rows, 1), tbl.FRONTIER_SCHEMA
        )
        self.catalog.write_round("frontier", r, df)

    # ------------------------------------------------------------------ seeds
    def _seed_frontier(self, seeds_df: DataFrame) -> int:
        """raw seeds -> frontier round 0 (written); returns the seed count.
        Invalid URLs are skipped (seeder.rs:55-60); duplicates are preserved
        (the seeder does not dedup).

        A seed list within the broadcast cap is sequenced on the driver: one
        bounded collect, the row functions the UDFs wrap, one write. A
        larger one takes the distributed seq assignment, whose bucket-count
        pass also yields the count (no separate count() job)."""
        cap = self._broadcast_url_cap()
        if cap >= 0:
            raw = seeds_df.select("raw_url", "seed_order").limit(cap + 1).collect()
            if len(raw) <= cap:
                urls = [
                    canonicalize_url(row["raw_url"]) if row["raw_url"] is not None else None
                    for row in sorted(raw, key=lambda row: row["seed_order"])
                ]
                urls = [u for u in urls if u is not None]
                self._write_frontier(0, urls, 0)
                return len(urls)
        # one seed_normalize pass shared by the bounds collect, the
        # bucket-count collect and the frontier write
        seeded = (
            seeds_df.withColumn("url", udfs.seed_normalize(F.col("raw_url")))
            .where(F.col("url").isNotNull())
            .persist()
        )
        sequenced, n_seeds = assign_global_seq_counted(
            seeded, ["seed_order"], base=0, buckets=self.config.shuffle_partitions
        )
        self.catalog.write_round(
            "frontier",
            0,
            sequenced.select(
                "seq",
                "url",
                F.lit(0).cast("int").alias("depth"),
                udfs.url_host(F.col("url")).alias("host"),
                udfs.host_key(F.col("url")).alias("host_key"),
            ),
        )
        seeded.unpersist()
        return n_seeds

    def _expand_local(self, wave: DataFrame, r: int, next_seq: int) -> int:
        """Step 6 on the driver for a wave under the broadcast cap: the
        distributed path's first-discovery-wins dedup, seen check and seq
        order over one collect of the wave's links and one of url_seen,
        then frontier r+1 in one write. Returns the enqueued count."""
        first: dict[str, tuple[int, int]] = {}
        parents = wave.where(F.col("ok")).select("seq", "found_links").collect()
        for row in sorted(parents, key=lambda row: row["seq"]):
            for pos, url in enumerate(row["found_links"]):
                first.setdefault(url, (row["seq"], pos))  # min (parent_seq, pos)
        frontier = self.catalog.read_rounds("frontier", list(range(r + 1)), tbl.FRONTIER_SCHEMA)
        if r == 0:
            # the round-0 seed quirk (see the distributed path in
            # _run_round): keep iff parent_seq < min(seed_seq of the url)
            seed_seq: dict[str, int] = {}
            for row in frontier.select("url", "seq").collect():
                seed_seq[row["url"]] = min(row["seq"], seed_seq.get(row["url"], row["seq"]))
            new = [(k, u) for u, k in first.items() if u not in seed_seq or k[0] < seed_seq[u]]
        else:
            seen = {row["url"] for row in frontier.select("url").collect()}
            new = [(k, u) for u, k in first.items() if u not in seen]
        self._write_frontier(r + 1, [u for _, u in sorted(new)], next_seq)
        return len(new)

    # ------------------------------------------------------------------ wave
    def _run_round(self, r: int, next_seq: int, bloom_version: int) -> dict:
        cfg = self.config
        cat = self.catalog
        t0 = time.monotonic()
        metrics: dict = {"round": r}

        # 1. mark seen: the url_seen delta for this round was written when
        #    the round's frontier was enqueued (seeds at round 0, children at
        #    expansion) — invariant: url_seen == distinct(frontier.url).

        # 2. robots filter (policies join; blocked rows stay in seen and in
        #    fetched with robots_blocked=true, src/main.rs:684-686), keyword
        #    gate (pure Column expr), politeness schedule (host partitions,
        #    priority order, per-host slots + slices)
        frontier = evaluate_robots(
            cat.read_round("frontier", r, tbl.FRONTIER_SCHEMA), self.policies_df
        ).withColumn(
            "keyword_hit",
            udfs.keyword_hit_col(F.col("url"), cfg.keywords, cfg.save_all_html),
        )
        # blocked rows ride the same scan/window (they sort last per host and
        # get null schedule columns) — a split+union here would scan the
        # frontier and run the robots UDF twice (verified via explain)
        wave = schedule_wave(frontier, cfg)

        # 3. offline fetch = join against the pages corpus on canonical url
        #    (BASELINE input_hint), then the link pipeline as ONE Arrow pass;
        #    blocked rows pass a null html into the UDF so their (discarded)
        #    parse costs nothing
        ok_col = ~F.col("robots_blocked") & F.col("html").isNotNull()
        wave = (
            wave.join(self.pages.select("url", "warc_ts", "html"), on="url", how="left")
            .withColumn("fetch_failed", ~F.col("robots_blocked") & F.col("html").isNull())
            .withColumn(
                "found_links",
                F.when(
                    ok_col,
                    udfs.found_links(F.col("url"), F.when(ok_col, F.col("html"))),
                ).otherwise(F.array().cast("array<string>")),
            )
            .withColumn("ok", ok_col)
        )
        wave.persist()

        # 4. the round's one output table: fetched rows for the whole wave,
        #    with the keyword-gated pages' clean_html/text/custom_id
        #    (src/main.rs:824) in the same Arrow pass; wave counters ride
        #    along as observed metrics on the write job (no second pass).
        #    An Arrow UDF sees every row of a batch even under a CASE WHEN,
        #    so the other rows pass a null html and cost nothing
        from pyspark.sql import Observation

        extract = F.col("ok") & F.col("keyword_hit")

        def fetched_select(df):
            return df.withColumn(
                "ce", udfs.clean_extract(F.when(extract, F.col("html")))
            ).select(
                "seq",
                "url",
                "depth",
                F.when(F.col("ok"), F.col("warc_ts")).alias("scraped_at"),
                "found_links",
                "keyword_hit",
                "robots_blocked",
                "fetch_failed",
                F.when(extract, F.col("ce.clean_html")).alias("clean_html"),
                F.when(extract, F.col("ce.text")).alias("text"),
                udfs.custom_id_from_url(F.when(extract, F.col("url"))).alias("custom_id"),
            )

        wave_aggs = [
            F.count(F.lit(1)).alias("scheduled"),
            F.sum(F.col("robots_blocked").cast("long")).alias("blocked"),
            F.sum(F.col("keyword_hit").cast("long")).alias("keyword"),
            F.sum(F.col("ok").cast("long")).alias("ok"),
            F.sum(F.when(F.col("ok"), F.size("found_links")).otherwise(0)).alias("cand"),
            F.approx_count_distinct("host").alias("hosts"),
            F.max("host_slot").alias("max_host_slot"),
            F.max(F.col("sched_offset_ms") + F.col("effective_delay_ms")).alias("sim_ms"),
            F.max("slice").alias("max_slice"),
        ]
        if cfg.execute_by_slice:
            # sequential slice materialization: slice s's fetch work runs
            # (and lands in the round dir) before slice s+1 starts —
            # robots-blocked rows (never fetched) ride with slice 0
            stats = wave.agg(*wave_aggs).collect()[0]
            n_slices = (stats["max_slice"] or 0) + 1
            slice_col = F.coalesce(F.col("slice"), F.lit(0))
            cat.write_round_parts(
                "fetched",
                r,
                [fetched_select(wave.where(slice_col == s)) for s in range(n_slices)],
            )
        else:
            obs = Observation(f"wave-{r}")
            cat.write_round("fetched", r, fetched_select(wave.observe(obs, *wave_aggs)))
            stats = None  # resolved below after the write ran

        # 5. wave counters + politeness metrics (observed on the write job,
        #    or aggregated once in slice-execution mode)
        if stats is None:
            stats = obs.get
        ok_count = int(stats["ok"] or 0)
        metrics.update(
            scheduled=stats["scheduled"],
            robots_blocked=int(stats["blocked"] or 0),
            keyword_hits=int(stats["keyword"] or 0),
            fetched_ok=ok_count,
            fetch_failed=stats["scheduled"] - int(stats["blocked"] or 0) - ok_count,
            candidates=int(stats["cand"] or 0),
            politeness={
                "hosts": stats["hosts"] or 0,
                "max_pages_per_host": (stats["max_host_slot"] if stats["max_host_slot"] is not None else -1) + 1,
                "simulated_wave_ms": int(stats["sim_ms"] or 0),
                "slices": (stats["max_slice"] or 0) + 1,
            },
        )

        # 6. expansion (depth cutoff: children of pages AT max_depth are not
        #    enqueued, src/main.rs:939-941). NOTE (r6): suspending AQE for
        #    the expansion's three tiny actions (to cut its per-stage
        #    materialization round trips) was tried and measured SLOWER —
        #    AQE is also what converts the seen/seed anti-joins to
        #    broadcast at runtime; without it they fall back to shuffle
        #    joins that cost more than the saved scheduling latency.
        #    A wave whose inputs (url_seen ≤ next_seq URLs, `candidates`
        #    links) fit under the broadcast cap expands on the driver
        #    instead; that also means the bloom is not live.
        enqueued = 0
        new_bloom_version = bloom_version
        bloom_live = bloom_built = False
        cap = self._broadcast_url_cap()
        expand_local = r < cfg.max_depth and max(next_seq, metrics["candidates"]) <= cap
        if expand_local:
            enqueued = self._expand_local(wave, r, next_seq)
            new_bloom_version = -1
        elif r < cfg.max_depth:
            candidates = wave.where(F.col("ok")).select(
                F.col("seq").alias("parent_seq"),
                F.posexplode("found_links").alias("pos", "child_url"),
            )
            # first-discovery-wins: min (parent_seq, pos) per url — the exact
            # outcome of the reference's sequential Lua check-and-add under
            # the canonical single-worker order (src/main.rs:30-45)
            first = (
                candidates.groupBy("child_url")
                .agg(F.min(F.struct("parent_seq", "pos")).alias("first"))
                .select(
                    F.col("child_url").alias("url"),
                    F.col("first.parent_seq").alias("parent_seq"),
                    F.col("first.pos").alias("pos"),
                )
            )
            # url_seen IS distinct(frontier.url) over rounds 0..r — no
            # separate table to maintain; column pruning reads only the url
            # column from the frontier round dirs
            seen = cat.read_rounds("frontier", list(range(r + 1)), tbl.FRONTIER_SCHEMA).select("url")
            # the bloom keeps the invariant "version r ≡ url_seen of
            # frontier rounds 0..r"; the first live round (or a resume that
            # crosses the threshold) builds version r from url_seen once
            bloom_live = next_seq > cap
            bloom_built = bloom_live and bloom_version != r
            if bloom_built:
                seen_r = with_hashes(seen.distinct(), "url", cfg.seen_partitions)
                self.bloom.insert(seen_r.select("part", "h1", "h2"), None, r)
            if bloom_live:
                first = with_hashes(first, "url", cfg.seen_partitions)
                pref = self.bloom.prefilter(first, r)
                definite_new = pref.where(~F.col("maybe_seen")).drop("maybe_seen")
                maybe = pref.where(F.col("maybe_seen")).drop("maybe_seen")
            else:
                maybe = first

            if r == 0:
                # Reference quirk (seeder.rs:146; src/main.rs:644-654): seeds
                # are enqueued WITHOUT a visited-set add — they become seen
                # only when popped. Under the canonical single-worker order,
                # a candidate equal to a seed is therefore new iff its
                # first-discovering parent popped BEFORE that seed:
                # keep iff parent_seq < min(seed_seq of the url).
                seed_min = (
                    cat.read_round("frontier", 0, tbl.FRONTIER_SCHEMA)
                    .groupBy("url")
                    .agg(F.min("seq").alias("seed_seq"))
                )
                survivors = (
                    maybe.join(seed_min, on="url", how="left")
                    .where(F.col("seed_seq").isNull() | (F.col("parent_seq") < F.col("seed_seq")))
                    .drop("seed_seq")
                )
            else:
                # rounds ≥ 1: every queued URL was visited-set-added at its
                # enqueue (the Lua script, src/main.rs:30-45), so the exact
                # anti-join against url_seen is the precise semantics
                survivors = maybe.join(seen, on="url", how="left_anti")
            # the dedup chain feeds three consumers (seq bounds, bucket
            # counts, frontier write) — persist it once
            pre_seq = (definite_new.unionByName(survivors) if bloom_live else survivors).persist()
            # parent_seq ∈ [0, next_seq) by construction (parents are
            # already-sequenced rows), so the bucket-range scan is free
            new_urls, enqueued = assign_global_seq_counted(
                pre_seq,
                ["parent_seq", "pos"],
                base=next_seq,
                buckets=cfg.shuffle_partitions,
                known_bounds=(0, max(next_seq - 1, 0)),
            )
            next_frontier = new_urls.select(
                "seq",
                "url",
                F.lit(r + 1).cast("int").alias("depth"),
                udfs.url_host(F.col("url")).alias("host"),
                udfs.host_key(F.col("url")).alias("host_key"),
                *(["h1", "h2", "part"] if bloom_live else []),
            )
            new_bloom_version = r + 1 if bloom_live else -1
            if bloom_live:
                # two consumers: the frontier write and the bloom insert
                next_frontier.persist()
            cat.write_round(
                "frontier", r + 1, next_frontier.select(*[f.name for f in tbl.FRONTIER_SCHEMA])
            )
            if bloom_live:
                self.bloom.insert(next_frontier.select("part", "h1", "h2"), r, new_bloom_version)
                next_frontier.unpersist()
            pre_seq.unpersist()

        metrics["enqueued"] = enqueued
        metrics["next_seq"] = next_seq + enqueued
        metrics["bloom_version"] = new_bloom_version
        metrics["expand_local"] = expand_local
        metrics["bloom_probed"] = bloom_live
        metrics["bloom_built"] = bloom_built
        metrics["wall_s"] = round(time.monotonic() - t0, 3)
        metrics["lineage"] = {
            "fetched": partition_lineage(cat.round_dir("fetched", r)),
            "frontier_next": partition_lineage(cat.round_dir("frontier", r + 1)),
        }

        wave.unpersist()
        return metrics

    # ------------------------------------------------------------------ run
    def run(self, seeds_df: DataFrame | None = None, resume: bool = False) -> CrawlTables:
        """Run (or resume) the crawl to max_depth. `seeds_df` needs columns
        (raw_url, seed_order) — see sources/seeds.py."""
        cfg = self.config
        cat = self.catalog

        last = self.checkpoints.last_committed_round()
        if resume and last is not None:
            # drop uncommitted partials, recompute deterministically
            entry = self.checkpoints.last_entry()
            next_seq = entry["next_seq"]
            bloom_version = entry["bloom_version"]
            cat.drop_rounds_after("fetched", last)
            cat.drop_rounds_after("frontier", last + 1)
            self.bloom.drop_versions_after(bloom_version)
            start_round = last + 1
        else:
            if seeds_df is None:
                raise ValueError("seeds_df required for a fresh run")
            self.checkpoints.reset()
            for t in ("frontier", "fetched"):
                cat.drop_rounds_after(t, -1)
            self.bloom.drop_versions_after(-1)
            next_seq = self._seed_frontier(seeds_df)
            bloom_version = -1  # never built; a live round 0 builds v=0
            start_round = 0

        all_metrics: list[dict] = []
        for r in range(start_round, cfg.max_depth + 1):
            m = self._run_round(r, next_seq, bloom_version)
            next_seq = m["next_seq"]
            bloom_version = m["bloom_version"]
            self.checkpoints.commit(m)
            all_metrics.append(m)
            if m["enqueued"] == 0 and r < cfg.max_depth:
                break  # frontier drained early

        return self.result_tables(all_metrics)

    def result_tables(self, metrics: list[dict] | None = None) -> CrawlTables:
        committed = [e["round"] for e in self.checkpoints.entries()]
        rounds = sorted(set(committed))
        frontier = self.catalog.read_rounds(
            "frontier", sorted({*rounds, *[r + 1 for r in rounds]}), tbl.FRONTIER_SCHEMA
        )
        # url_seen == distinct frontier urls (D2 invariant); materialized as a
        # view over the frontier rounds rather than a second table
        url_seen = with_hashes(
            frontier.select("url").distinct(), "url", self.config.seen_partitions
        ).select("url", "h1", "h2", "part")
        # extracted == the keyword-gated fetched pages' extraction columns;
        # a projection of the one table each round writes
        fetched = self.catalog.read_rounds("fetched", rounds, tbl.FETCHED_SCHEMA)
        extracted = fetched.where(
            F.col("keyword_hit") & ~F.col("robots_blocked") & ~F.col("fetch_failed")
        ).select("url", "clean_html", "text", "custom_id")
        return CrawlTables(
            fetched=fetched,
            url_seen=url_seen,
            extracted=extracted,
            frontier=frontier,
            metrics=metrics or self.checkpoints.entries(),
        )
