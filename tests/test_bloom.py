"""Direct properties of the partitioned bloom sidecar (plans/bloom.py) —
the north-rule URL-seen fast path: zero false negatives (exactness depends
on it), bounded false positives (the scale win depends on it), and
version carry-forward across insertion rounds."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_german_localpoliticans_spark.plans.bloom import BloomSidecar, with_hashes

PARTS = 8
N = 100_000


def _urls(spark, lo: int, hi: int):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h"), F.col("id") % 997, F.lit(".de/p/"), F.col("id")).alias("url")
    )


def test_no_false_negatives_and_bounded_fpr(spark, tmp_path):
    bloom = BloomSidecar(str(tmp_path), PARTS, capacity=N // PARTS, fpp=0.01)
    seen = with_hashes(_urls(spark, 0, N), "url", PARTS).persist()
    inserted = bloom.insert(seen.select("part", "h1", "h2"), None, 0)
    assert inserted == N

    # every inserted key must test maybe_seen — exact-set correctness relies
    # on the no-false-negative guarantee
    hits = bloom.prefilter(seen, 0).where(~F.col("maybe_seen")).count()
    assert hits == 0

    # disjoint unseen keys: false-positive rate near the configured 1%
    unseen = with_hashes(_urls(spark, N, 2 * N), "url", PARTS)
    fp = bloom.prefilter(unseen, 0).where(F.col("maybe_seen")).count()
    assert fp / N < 0.03, fp
    seen.unpersist()


def test_version_carry_forward_is_cumulative(spark, tmp_path):
    bloom = BloomSidecar(str(tmp_path), PARTS, capacity=4096, fpp=0.01)
    a = with_hashes(_urls(spark, 0, 2000), "url", PARTS)
    bloom.insert(a.select("part", "h1", "h2"), None, 0)
    # second round touches only one partition; the rest carry forward
    b = with_hashes(_urls(spark, 2000, 4000), "url", PARTS).where(F.col("part") == 3)
    bloom.insert(b.select("part", "h1", "h2"), 0, 1)

    both = a.unionByName(b)
    misses = bloom.prefilter(both, 1).where(~F.col("maybe_seen")).count()
    assert misses == 0


def test_unbuilt_version_is_maybe_seen_everywhere(spark, tmp_path):
    """A version that was never written, or was dropped on resume, must not
    mark anything definitely new: those rows would skip the exact
    anti-join. Inside a built version, a partition without inserts has no
    file and its keys are definitely new."""
    bloom = BloomSidecar(str(tmp_path), PARTS, capacity=4096, fpp=0.01)
    keys = with_hashes(_urls(spark, 0, 2000), "url", PARTS)
    assert bloom.prefilter(keys, 0).where(~F.col("maybe_seen")).count() == 0
    assert bloom.prefilter(keys, -1).where(~F.col("maybe_seen")).count() == 0

    bloom.insert(keys.where(F.col("part") == 3).select("part", "h1", "h2"), None, 0)
    bloom.insert(keys.where(F.col("part") == 3).select("part", "h1", "h2"), 0, 1)
    bloom.drop_versions_after(0)
    assert bloom.prefilter(keys, 1).where(~F.col("maybe_seen")).count() == 0

    # built v=0 holds only part 3: every other part's keys are definitely new
    definite = bloom.prefilter(keys, 0).where(~F.col("maybe_seen"))
    assert definite.count() == keys.where(F.col("part") != 3).count()
