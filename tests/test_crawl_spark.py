"""End-to-end golden tests: the Spark crawl engine must exactly match the
single-threaded reference oracle on shared fixtures (BASELINE.json:
"crawl-order + URL-seen exact match vs reference on shared seed list";
byte-identical extracted text per url)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.plans.crawl import (
    SEEN_BYTES_PER_URL,
    CrawlDriver,
    broadcast_threshold,
    parse_byte_size,
)
from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle
from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table


def run_engine(spark, fixture_dir, tmp_path, config):
    from crawler_german_localpoliticans_spark.sources.tables import read_robots

    robots = read_robots(spark, f"{fixture_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{fixture_dir}/seeds.parquet"))
    driver = CrawlDriver(
        spark, str(tmp_path), f"{fixture_dir}/pages.parquet", robots, config
    )
    return driver.run(seeds), driver


def assert_exact_match(tables, oracle_res):
    # crawl order: (depth, seq, url) exact
    engine_order = [
        (r["depth"], r["seq"], r["url"])
        for r in tables.fetched.select("depth", "seq", "url").orderBy("seq").collect()
    ]
    assert engine_order == oracle_res.crawl_order

    # per-page payloads exact: found_links, flags
    engine_rows = {
        r["seq"]: r
        for r in tables.fetched.select(
            "seq", "url", "found_links", "keyword_hit", "robots_blocked", "fetch_failed"
        ).collect()
    }
    for o in oracle_res.fetched:
        e = engine_rows[o.seq]
        assert e["url"] == o.url
        assert list(e["found_links"]) == o.found_links, o.url
        assert e["keyword_hit"] == o.keyword_hit, o.url
        assert e["robots_blocked"] == o.robots_blocked, o.url
        assert e["fetch_failed"] == o.fetch_failed, o.url

    # URL-seen set exact
    engine_seen = {r["url"] for r in tables.url_seen.select("url").collect()}
    assert engine_seen == oracle_res.url_seen

    # extraction bytes exact per url
    engine_ext = {
        r["url"]: (r["clean_html"], r["text"], r["custom_id"])
        for r in tables.extracted.collect()
    }
    oracle_ext = {
        e["url"]: (e["clean_html"], e["text"], e["custom_id"]) for e in oracle_res.extracted
    }
    assert engine_ext == oracle_ext

    # the projection's invariant: fetched carries extraction columns on
    # exactly the ok ∧ keyword_hit rows
    ok_hit = F.col("keyword_hit") & ~F.col("robots_blocked") & ~F.col("fetch_failed")
    mismatched = tables.fetched.where(
        ok_hit != (F.col("clean_html").isNotNull() & F.col("custom_id").isNotNull())
    )
    assert mismatched.count() == 0


def bloom_versions(work_dir) -> list[str]:
    bloom_dir = os.path.join(str(work_dir), "bloom")
    return sorted(n for n in os.listdir(bloom_dir) if n.startswith("v="))


def local_crossover_threshold(oracle_res) -> str:
    """A broadcast threshold that keeps round 0's expansion on the driver
    and sends round 1's to the distributed path. The gate compares a
    round's max(next_seq, candidates) with the cap."""
    fetched = oracle_res.fetched
    sizes = [
        max(
            sum(1 for f in fetched if f.depth <= r),
            sum(len(f.found_links) for f in fetched if f.depth == r),
        )
        for r in (0, 1)
    ]
    assert sizes[0] < sizes[1]
    return f"{sizes[0] * SEEN_BYTES_PER_URL}b"


@pytest.mark.parametrize("regime", ["default", "always", "crossover", "local_crossover"])
def test_smoke_exact_match(
    spark, smoke_fixture, smoke_dir, tmp_path, set_broadcast_threshold, regime
):
    """Exact parity under each broadcast-threshold regime: the session
    default (every wave expands on the driver, no bloom at all), -1 (no
    local wave, bloom live from the seeds), a bloom gate crossed at round 1,
    and a local round 0 followed by a distributed round 1."""
    config = CrawlConfig(seen_partitions=8, shuffle_partitions=8)
    oracle_res = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots, config)
    n_seeds = sum(1 for depth, _, _ in oracle_res.crawl_order if depth == 0)
    if regime == "always":
        set_broadcast_threshold("-1")
    elif regime == "crossover":
        set_broadcast_threshold(f"{n_seeds * SEEN_BYTES_PER_URL}b")
    elif regime == "local_crossover":
        set_broadcast_threshold(local_crossover_threshold(oracle_res))
    tables, _ = run_engine(spark, smoke_dir, tmp_path, config)
    assert_exact_match(tables, oracle_res)

    local = [m["expand_local"] for m in tables.metrics]
    probed = [m["bloom_probed"] for m in tables.metrics]
    built = [m["bloom_built"] for m in tables.metrics]
    versions = [m["bloom_version"] for m in tables.metrics]
    if regime == "default":
        assert local == [True, True, False]
        assert probed == built == [False] * 3 and versions == [-1] * 3
        assert bloom_versions(tmp_path) == []
    elif regime == "local_crossover":
        # round 1 is past the cap on next_seq alone, so its bloom goes live
        assert local == [True, False, False]
        assert probed == [False, True, False] and built == [False, True, False]
        assert versions == [-1, 2, 2]
        assert bloom_versions(tmp_path) == ["v=000001", "v=000002"]
    elif regime == "always":
        assert local == [False] * 3
        assert probed == [True, True, False] and built == [True, False, False]
        assert versions == [1, 2, 2]
        assert bloom_versions(tmp_path) == ["v=000000", "v=000001", "v=000002"]
    else:
        assert local == [False] * 3
        assert probed == [False, True, False] and built == [False, True, False]
        assert versions == [-1, 2, 2]
        assert bloom_versions(tmp_path) == ["v=000001", "v=000002"]


@pytest.mark.parametrize(
    "value, expected",
    [("10MB", 10 << 20), ("10485760b", 10485760), ("-1", -1), ("512k", 512 << 10), ("7", 7)],
)
def test_parse_byte_size(value, expected):
    assert parse_byte_size(value) == expected


def test_broadcast_threshold_falls_back_to_planner_setting(spark, set_broadcast_threshold):
    set_broadcast_threshold("2MB")
    assert broadcast_threshold(spark) == 2 << 20
    spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    assert broadcast_threshold(spark) == parse_byte_size(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    )


def test_correctness_exact_match(spark, correctness_fixture, correctness_dir, tmp_path):
    config = CrawlConfig(seen_partitions=16, shuffle_partitions=16)
    oracle_res = crawl_oracle(
        correctness_fixture.seeds, correctness_fixture.pages, correctness_fixture.robots, config
    )
    tables, driver = run_engine(spark, correctness_dir, tmp_path, config)
    assert_exact_match(tables, oracle_res)
    # sanity: the crawl actually exercised the interesting paths
    assert any(m.get("robots_blocked", 0) > 0 for m in tables.metrics)
    assert any(m.get("enqueued", 0) > 0 for m in tables.metrics)


def test_politeness_slicing_does_not_change_results(spark, smoke_fixture, smoke_dir, tmp_path):
    """FIXTURES.md scenario 4: per-host rate caps honored — and actually
    EXECUTED slice-by-slice — with results unchanged."""
    config = CrawlConfig(
        slice_budget_ms=4000,  # cap = 4000/eff_delay pages per host per slice
        max_pages_per_host_per_slice=2,
        execute_by_slice=True,
        seen_partitions=8,
        shuffle_partitions=8,
    )
    oracle_res = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots, config)
    tables, driver = run_engine(spark, smoke_dir, tmp_path, config)
    assert_exact_match(tables, oracle_res)
    # the schedule itself honored the cap
    assert all(m["politeness"]["slices"] >= 1 for m in tables.metrics)
    assert not os.path.exists(os.path.join(str(tmp_path), "extracted"))


def test_dedup_idempotent_rerun(spark, smoke_fixture, smoke_dir, tmp_path):
    """Property (SURVEY.md §5): re-running from checkpoints changes nothing."""
    config = CrawlConfig(seen_partitions=8, shuffle_partitions=8)
    tables, driver = run_engine(spark, smoke_dir, tmp_path, config)
    before = sorted(
        (r["depth"], r["seq"], r["url"]) for r in tables.fetched.collect()
    )
    resumed = driver.run(resume=True)  # nothing left to do: same tables
    after = sorted((r["depth"], r["seq"], r["url"]) for r in resumed.fetched.collect())
    assert before == after


def test_metrics_recorded(spark, smoke_dir, tmp_path):
    config = CrawlConfig(seen_partitions=8, shuffle_partitions=8)
    tables, driver = run_engine(spark, smoke_dir, tmp_path, config)
    assert len(tables.metrics) == config.max_depth + 1
    for m in tables.metrics:
        assert m["scheduled"] > 0
        assert "lineage" in m and "politeness" in m
        assert set(m["lineage"]) == {"fetched", "frontier_next"}
        assert isinstance(m["expand_local"], bool)
        assert m["wall_s"] >= 0
    # one output table per round: extracted is a projection of fetched
    assert not os.path.exists(os.path.join(str(tmp_path), "extracted"))
