"""Workload `curation-ops`: 17 operator-library registry queries.

The queries of `__spark_entry__.queries()` that exercise operators/*
(dedup, similarity, textstats, curation, sampling, packing) run on the
vendored sf0.01 `documents` and `embeddings` tables, in an order the seed
permutes. Set-up stages the two tables into the run's input directory and
scans them, three times (setup_s is the median). A first pass fills the
session's lazy set-up and memos and checks each query's value hash against
its DuckDB `oracle_sql()` hash; then passes that write each query to the
`noop` sink repeat until --seconds have passed.

The DuckDB oracle takes minutes, so its hashes are cached in
oracle_hashes.json, keyed by the SQL text and the input bytes; a stale or
missing entry is recomputed in the run. `python3 perfbench/curation.py`
rewrites the cache.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import sys
import time

from harness import BENCH_DIR, ROOT, Outcome, Session, median

DATA_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
TABLES = ("documents", "embeddings")
HASH_CACHE = os.path.join(BENCH_DIR, "oracle_hashes.json")
SETUP_REPEATS = 3

# registry query -> the input table it scans
QUERIES = {
    "exact_dedup": "documents",
    "minhash_neardup": "documents",
    "simhash": "documents",
    "embedding_neardup": "embeddings",
    "cosine_topk": "embeddings",
    "lang_id": "documents",
    "quality_score": "documents",
    "token_count": "documents",
    "fingerprint": "documents",
    "repetition_stats": "documents",
    "bigram_lm": "documents",
    "quality_topk_per_source": "documents",
    "substring_dup": "documents",
    "pii_scrub": "documents",
    "contamination": "documents",
    "mix_rebalance": "documents",
    "pack_emit": "documents",
}


def _data_key() -> str:
    h = hashlib.sha256()
    for t in TABLES:
        with open(os.path.join(DATA_DIR, f"{t}.parquet"), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _duckdb_hash(sql: str) -> str:
    import duckdb
    from check_correctness import df_hash

    con = duckdb.connect()
    try:
        for t in TABLES:
            path = os.path.join(DATA_DIR, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        rel = con.sql(sql)
        return df_hash(rel.columns, rel.fetchall())
    finally:
        con.close()


def oracle_hashes(refresh: bool = False) -> dict[str, str]:
    """DuckDB value hash of each query's oracle_sql() on the vendored data."""
    import __spark_entry__ as entry

    sqls = entry.oracle_sql()
    data_key = _data_key()
    cache = {}
    if os.path.exists(HASH_CACHE) and not refresh:
        with open(HASH_CACHE, encoding="utf-8") as fh:
            cache = json.load(fh)
    out, changed = {}, False
    for name in QUERIES:
        key = hashlib.sha256((data_key + sqls[name]).encode("utf-8")).hexdigest()
        hit = cache.get(name)
        if hit is None or hit["key"] != key:
            hit = {"key": key, "hash": _duckdb_hash(sqls[name])}
            cache[name] = hit
            changed = True
        out[name] = hit["hash"]
    if changed and refresh:
        with open(HASH_CACHE, "w", encoding="utf-8") as fh:
            json.dump(cache, fh, indent=1, sort_keys=True)
            fh.write("\n")
    return out


def stage_inputs(spark, input_dir: str) -> None:
    """The workload's input load: copy the tables in and scan them."""
    os.makedirs(input_dir, exist_ok=True)
    for t in TABLES:
        path = os.path.join(input_dir, f"{t}.parquet")
        shutil.copyfile(os.path.join(DATA_DIR, f"{t}.parquet"), path)
        to_noop(spark.read.parquet(path))


def to_noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def input_rows() -> int:
    """Rows the queries of one pass scan, summed over queries."""
    import pyarrow.parquet as pq

    rows = {t: pq.ParquetFile(os.path.join(DATA_DIR, f"{t}.parquet")).metadata.num_rows
            for t in TABLES}
    return sum(rows[t] for t in QUERIES.values())


def run(work: str, seed: int, seconds: float, trace: bool) -> Outcome:
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    session = Session(work)
    try:
        return _run(session, work, seed, seconds, trace)
    finally:
        session.close()


def _run(session: Session, work: str, seed: int, seconds: float, trace: bool) -> Outcome:
    import __spark_entry__ as entry
    from check_correctness import df_hash
    from spans import Tracer

    spark = session.spark
    registry = entry.queries()
    expected = oracle_hashes()
    order = list(QUERIES)
    random.Random(seed).shuffle(order)
    outcome = Outcome()

    input_dir = os.path.join(work, "input")
    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.monotonic()
        stage_inputs(spark, input_dir)
        setups.append(time.monotonic() - t0)

    # first pass: fills lazy set-up and memos; checked against the oracle
    cold = Tracer(spark.sparkContext)
    t0 = time.monotonic()
    for name in order:
        outcome.attempted += 1
        try:
            with cold.span(f"ops.{name}"):
                df = registry[name](spark, input_dir)
                rows = df.collect()
            got = df_hash(df.columns, [[r[c] for c in df.columns] for r in rows])
        except Exception as exc:  # a query that raises is a failed attempt
            import traceback

            traceback.print_exc(file=sys.stderr)
            outcome.fail(f"{name}: {type(exc).__name__}: {exc}")
            continue
        if got != expected[name]:
            outcome.fail(f"{name}: value hash {got} != DuckDB oracle {expected[name]}")
    warmup_s = time.monotonic() - t0

    def timed_pass(tracer: Tracer | None) -> float:
        t0 = time.monotonic()
        for name in order:
            outcome.attempted += 1
            try:
                if tracer is None:
                    to_noop(registry[name](spark, input_dir))
                else:
                    with tracer.span(f"ops.{name}"):
                        to_noop(registry[name](spark, input_dir))
            except Exception as exc:  # a query that raises is a failed attempt
                outcome.fail(f"{name}: {type(exc).__name__}: {exc}")
        return time.monotonic() - t0

    m = outcome.metrics
    if trace:
        tracer = Tracer(spark.sparkContext)
        before = timed_pass(None)
        traced = timed_pass(tracer)
        after = timed_pass(None)
        import crawl_sf

        m.update(crawl_sf.absent_metrics())
        for span in tracer.spans:
            m[f"{span.name}.s"] = span.seconds
            m[f"{span.name}.jobs"] = span.jobs
        m["ops.jobs"] = sum(s.jobs for s in tracer.spans)
        m["ops.jobs.cold"] = sum(s.jobs for s in cold.spans)
        m["trace.overhead_s"] = traced - (before + after) / 2
        m["setup.session_s"] = session.start_s
        m["setup.warmup_s"] = warmup_s
        m["peak_rss_mb"] = session.jvm_peak_rss_mb()
        m["error_rate"] = outcome.failed / outcome.attempted
        return outcome

    walls = []
    started = time.monotonic()
    while not walls or time.monotonic() - started < seconds:
        walls.append(timed_pass(None))
    rows = input_rows()
    m.update(
        wall_s=median(walls),
        rows_per_s=median(rows / w for w in walls),
        setup_s=median(setups),
    )
    return outcome


def absent_metrics() -> dict:
    """Per-layer metrics of this workload, all 0: read by the other workload's
    traced run, which reaches none of these layers."""
    names = ["ops.jobs", "ops.jobs.cold"]
    names += [f"ops.{q}.{k}" for q in QUERIES for k in ("s", "jobs")]
    return {n: 0 for n in names}


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "scripts"))
    for name, value in oracle_hashes(refresh=True).items():
        print(name, value)
