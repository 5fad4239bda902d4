"""Engine table schemas + a parquet-backed catalog with atomic commits.

Explicit StructType everywhere — never schema inference (the reference fixes
schemas at every worker boundary: serde structs src/main.rs:58-85, DDL
python_container/crawler_ingest.py:63-132).

Production target is Iceberg (BASELINE.json: "Iceberg frontier/fetched
tables"): every append here maps to `writeTo(...).append()`, every round
commit to an Iceberg snapshot, and resume to snapshot time-travel. The
sandbox container has no Iceberg runtime jar, so `Catalog` reproduces the two
properties the engine actually relies on with plain parquet:

- *atomic visibility*: data is written to a temp dir then renamed into place,
  and readers only see directories listed in the checkpoint log;
- *incremental append*: each crawl round writes its own `round=NNNN`
  directory (partition pruning on resume and on per-round reads).

(Jar availability re-checked rounds 4 and 5 — `find / -name '*iceberg*.jar'`
empty, no pyiceberg module: the container's pyspark distribution ships no
Iceberg/Delta/Hudi jars and there is no network to
fetch one, so the documented emulation stands rather than a faked
`MERGE INTO`. On a real cluster, swap `Catalog` appends for
`writeTo(...).append()` and `merge_council_members` /
the ETag merge for `MERGE INTO` behind the same interfaces.)
"""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# --- input shape fixed by BASELINE.json input_hint -------------------------
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

ROBOTS_SCHEMA = T.StructType(
    [
        T.StructField("host_key", T.StringType()),
        T.StructField("robots_txt", T.StringType()),
    ]
)

# --- engine tables ----------------------------------------------------------
FRONTIER_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),  # global crawl-order key
        T.StructField("url", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("host", T.StringType()),
        T.StructField("host_key", T.StringType()),
    ]
)

FETCHED_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("depth", T.IntegerType(), False),
        T.StructField("scraped_at", T.TimestampType()),
        T.StructField("found_links", T.ArrayType(T.StringType()), False),
        T.StructField("keyword_hit", T.BooleanType(), False),
        T.StructField("robots_blocked", T.BooleanType(), False),
        T.StructField("fetch_failed", T.BooleanType(), False),
        # extraction columns: non-null exactly on ok ∧ keyword_hit rows
        T.StructField("clean_html", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("custom_id", T.StringType()),
    ]
)


class Catalog:
    """Parquet table layout under a work dir, with atomic per-round commits.

    Layout: `<root>/<table>/round=NNNN/*.parquet`. A round directory becomes
    visible only after the checkpoint row for that round is committed
    (plans/checkpoint.py); readers pass the committed round list.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def round_dir(self, table: str, round_no: int) -> str:
        return os.path.join(self._table_dir(table), f"round={round_no:06d}")

    def write_round(self, table: str, round_no: int, df: DataFrame) -> None:
        """Atomic: write to temp dir, rename into place."""
        final = self.round_dir(table, round_no)
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        df.write.mode("overwrite").parquet(tmp)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def write_round_parts(self, table: str, round_no: int, dfs: list[DataFrame]) -> None:
        """Atomic multi-part round write: each df is materialized IN ORDER
        (the politeness slice execution order), then the whole round becomes
        visible at once.

        Each slice lands in its own staging dir with mode=overwrite — a
        retried slice write replaces itself instead of double-appending —
        and its part files move into the round dir under a slice-indexed
        name, so the execution order stays readable from the file listing
        (partition_lineage)."""
        final = self.round_dir(table, round_no)
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(tmp, exist_ok=True)
        for i, df in enumerate(dfs):
            stage = f"{tmp}-slice{i}"
            df.write.mode("overwrite").parquet(stage)
            for fn in sorted(os.listdir(stage)):
                if fn.endswith(".parquet"):
                    os.rename(
                        os.path.join(stage, fn),
                        os.path.join(tmp, f"slice{i:04d}-{fn}"),
                    )
            shutil.rmtree(stage)
        if os.path.exists(final):
            shutil.rmtree(final)
        os.rename(tmp, final)

    def has_round(self, table: str, round_no: int) -> bool:
        return os.path.isdir(self.round_dir(table, round_no))

    def drop_rounds_after(self, table: str, last_committed: int) -> None:
        """Remove uncommitted round dirs (resume after a kill)."""
        tdir = self._table_dir(table)
        if not os.path.isdir(tdir):
            return
        for name in os.listdir(tdir):
            if not name.startswith("round="):
                continue
            rno = int(name.split("=", 1)[1].split(".")[0])
            if rno > last_committed or ".tmp-" in name:
                shutil.rmtree(os.path.join(tdir, name))

    def read_round(self, table: str, round_no: int, schema: T.StructType) -> DataFrame:
        return self.spark.read.schema(schema).parquet(self.round_dir(table, round_no))

    def read_rounds(self, table: str, rounds: list[int], schema: T.StructType) -> DataFrame:
        if not rounds:
            return self.spark.createDataFrame([], schema)
        paths = [self.round_dir(table, r) for r in rounds if self.has_round(table, r)]
        if not paths:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*paths)


def spread_scan(df: DataFrame) -> DataFrame:
    """`df` round-robined to defaultParallelism partitions.

    A parquet row group is the scan's unit of parallelism, and the testdata
    tables are ONE file with ONE row group: the scan, and every per-row
    kernel Spark fuses into the scan stage (regexp Columns, Arrow UDFs,
    explodes feeding a shuffle), would run as a single task whatever the
    core count. One cheap round-robin exchange up front unlocks the
    session's parallelism for that work (measured at sf1.0, local[32],
    min-of-2: pii_scrub 5.6 s -> 1.1 s, fingerprint 5.3 s -> 0.9 s,
    contamination 22.8 s -> 5.2 s, bigram_lm 12.8 s -> 4.8 s).

    The spread is unconditional: a scan that already reads in parallel
    (many files or row groups) pays one exchange of its columns (SCALE.md
    "Scan spread"). No benchmark workload reads such a layout, so nothing
    measures a rule that would skip it.

    Call it only where per-row work downstream is heavy. A scan feeding one
    cheap column pass into a map-side partial aggregation (exact_dedup,
    source_mix, hash_split, a row count) pays the exchange for nothing
    (measured exact_dedup 0.43 s -> 1.5 s with the spread)."""
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


def read_pages(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(PAGES_SCHEMA).parquet(path)


def read_robots(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(ROBOTS_SCHEMA).parquet(path)
