"""Kill/resume: a run killed mid-crawl resumes from the last committed round
and produces byte-identical final tables (FIXTURES.md scenario 3;
BASELINE.md "Resumability": checkpointed per-partition lineage)."""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import functions as F
from test_crawl_spark import assert_exact_match, local_crossover_threshold

from crawler_german_localpoliticans_spark.config import CrawlConfig
from crawler_german_localpoliticans_spark.plans.bloom import with_hashes
from crawler_german_localpoliticans_spark.plans.crawl import SEEN_BYTES_PER_URL, CrawlDriver
from crawler_german_localpoliticans_spark.plans.oracle import crawl_oracle
from crawler_german_localpoliticans_spark.sources.seeds import seeds_from_table
from crawler_german_localpoliticans_spark.sources.tables import FRONTIER_SCHEMA, read_robots


def collect_tables(tables):
    fetched = sorted(
        (r["depth"], r["seq"], r["url"], tuple(r["found_links"]), r["keyword_hit"])
        for r in tables.fetched.collect()
    )
    seen = sorted(r["url"] for r in tables.url_seen.select("url").distinct().collect())
    extracted = sorted(
        (r["url"], r["clean_html"], r["text"], r["custom_id"]) for r in tables.extracted.collect()
    )
    return fetched, seen, extracted


def test_kill_after_round0_resume_exact(spark, smoke_dir, tmp_path):
    config = CrawlConfig(seen_partitions=8, shuffle_partitions=8)
    robots = read_robots(spark, f"{smoke_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet"))

    # uninterrupted reference run
    full_dir = str(tmp_path / "full")
    d_full = CrawlDriver(spark, full_dir, f"{smoke_dir}/pages.parquet", robots, config)
    expected = collect_tables(d_full.run(seeds))

    # killed run: complete everything, then rewind to "only round 0 committed"
    # and corrupt the workspace with uncommitted partial writes
    kill_dir = str(tmp_path / "killed")
    d1 = CrawlDriver(spark, kill_dir, f"{smoke_dir}/pages.parquet", robots, config)
    d1.run(seeds)

    ckpt = os.path.join(kill_dir, "checkpoints.jsonl")
    with open(ckpt) as f:
        lines = f.readlines()
    assert len(lines) == config.max_depth + 1
    with open(ckpt, "w") as f:
        f.write(lines[0])  # only round 0 committed

    # simulate a partial (torn) write of round 1 outputs: half-deleted dir
    fetched_r1 = os.path.join(kill_dir, "fetched", "round=000001")
    for name in os.listdir(fetched_r1)[:1]:
        os.remove(os.path.join(fetched_r1, name))
    # and an orphaned temp dir from a write that never finished
    shutil.copytree(
        os.path.join(kill_dir, "fetched", "round=000001"),
        os.path.join(kill_dir, "fetched", "round=000002.tmp-dead"),
    )

    d2 = CrawlDriver(spark, kill_dir, f"{smoke_dir}/pages.parquet", robots, config)
    resumed = d2.run(resume=True)
    assert collect_tables(resumed) == expected
    debris = [n for t in ("fetched", "frontier") for n in os.listdir(os.path.join(kill_dir, t))
              if ".tmp-" in n]
    assert debris == []
    assert not os.path.exists(os.path.join(kill_dir, "extracted"))

    # checkpoint log is complete again and lineage re-recorded
    with open(ckpt) as f:
        entries = [json.loads(line) for line in f]
    assert [e["round"] for e in entries] == list(range(config.max_depth + 1))
    assert all("lineage" in e for e in entries)


def all_rows(tables):
    """Every column of every table, in a canonical row order."""
    return {
        name: sorted(tuple(r) for r in getattr(tables, name).collect())
        for name in ("fetched", "frontier", "url_seen", "extracted")
    }


def assert_bloom_covers_seen(driver, config):
    """bloom(v) ⊇ url_seen(0..v) for the version each committed round left."""
    for entry in driver.checkpoints.entries():
        v = entry["bloom_version"]
        if v < 0:
            continue
        assert os.path.isdir(os.path.join(driver.bloom.dir, f"v={v:06d}"))
        seen = driver.catalog.read_rounds("frontier", list(range(v + 1)), FRONTIER_SCHEMA)
        keys = with_hashes(seen.select("url").distinct(), "url", config.seen_partitions)
        assert driver.bloom.prefilter(keys, v).where(~F.col("maybe_seen")).count() == 0


def test_bloom_crossover_mid_crawl_and_resume_across_it(
    spark, smoke_fixture, smoke_dir, tmp_path, set_broadcast_threshold
):
    """The bloom gate flips at round 1: round 1 builds the bloom from
    url_seen, round 2 probes the version round 1 inserted. The tables equal
    the oracle's and an always-live run's byte for byte, and so do the
    tables of a run resumed from before and after the crossover."""
    config = CrawlConfig(max_depth=3, seen_partitions=8, shuffle_partitions=8)
    robots = read_robots(spark, f"{smoke_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet"))
    pages = f"{smoke_dir}/pages.parquet"
    oracle_res = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots, config)
    n_seeds = sum(1 for depth, _, _ in oracle_res.crawl_order if depth == 0)

    set_broadcast_threshold("-1")
    always = CrawlDriver(spark, str(tmp_path / "always"), pages, robots, config)
    expected = all_rows(always.run(seeds))
    assert_bloom_covers_seen(always, config)

    set_broadcast_threshold(f"{n_seeds * SEEN_BYTES_PER_URL}b")
    cross_dir = str(tmp_path / "crossover")
    cross = CrawlDriver(spark, cross_dir, pages, robots, config)
    tables = cross.run(seeds)
    assert_exact_match(tables, oracle_res)
    assert all_rows(tables) == expected
    assert [(m["bloom_probed"], m["bloom_built"], m["bloom_version"]) for m in tables.metrics] == [
        (False, False, -1), (True, True, 2), (True, False, 3), (False, False, 3)
    ]
    assert_bloom_covers_seen(cross, config)

    ckpt = os.path.join(cross_dir, "checkpoints.jsonl")
    with open(ckpt) as f:
        lines = f.readlines()
    # rewind to the round before the crossover, then to the crossover round
    for keep in (1, 2):
        with open(ckpt, "w") as f:
            f.writelines(lines[:keep])
        resumed = CrawlDriver(spark, cross_dir, pages, robots, config)
        assert all_rows(resumed.run(resume=True)) == expected
        with open(ckpt) as f:
            assert [json.loads(line)["bloom_version"] for line in f] == [-1, 2, 3, 3]
        assert_bloom_covers_seen(resumed, config)


def test_local_expansion_crossover_and_resume_across_it(
    spark, smoke_fixture, smoke_dir, tmp_path, set_broadcast_threshold
):
    """Round 0 expands on the driver, round 1 on the distributed path. The
    tables equal the oracle's and a never-local run's byte for byte, and so
    do the tables of a run resumed from "round 0 committed"."""
    config = CrawlConfig(seen_partitions=8, shuffle_partitions=8)
    robots = read_robots(spark, f"{smoke_dir}/robots.parquet")
    seeds = seeds_from_table(spark.read.parquet(f"{smoke_dir}/seeds.parquet"))
    pages = f"{smoke_dir}/pages.parquet"
    oracle_res = crawl_oracle(smoke_fixture.seeds, smoke_fixture.pages, smoke_fixture.robots, config)

    set_broadcast_threshold("-1")
    never = CrawlDriver(spark, str(tmp_path / "never"), pages, robots, config)
    expected = all_rows(never.run(seeds))

    set_broadcast_threshold(local_crossover_threshold(oracle_res))
    cross_dir = str(tmp_path / "crossover")
    tables = CrawlDriver(spark, cross_dir, pages, robots, config).run(seeds)
    assert_exact_match(tables, oracle_res)
    assert all_rows(tables) == expected
    assert [m["expand_local"] for m in tables.metrics] == [True, False, False]

    ckpt = os.path.join(cross_dir, "checkpoints.jsonl")
    with open(ckpt) as f:
        lines = f.readlines()
    with open(ckpt, "w") as f:
        f.write(lines[0])
    resumed = CrawlDriver(spark, cross_dir, pages, robots, config)
    assert all_rows(resumed.run(resume=True)) == expected
    with open(ckpt) as f:
        assert [json.loads(line)["expand_local"] for line in f] == [True, False, False]
