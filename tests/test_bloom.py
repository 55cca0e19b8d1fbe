"""A5/F1 Bloom prefilter properties: no false negatives; anti-join equality
with and without the bloom (SURVEY.md §5.2.3)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from crawler_spark.operators.dedup import (
    BloomFilter, SeenBloom, anti_join_seen, build_bloom_parts, url_hash_col,
)


def test_bloom_filter_no_false_negatives():
    rng = np.random.default_rng(42)
    keys = rng.integers(0, 2**63, size=20_000, dtype=np.int64).view(np.uint64)
    bf = BloomFilter(len(keys), fpp=0.01)
    bf.add(keys)
    assert bool(bf.contains(keys).all())


def test_bloom_filter_fpp_reasonable():
    rng = np.random.default_rng(7)
    keys = rng.integers(0, 2**63, size=50_000, dtype=np.int64).view(np.uint64)
    other = rng.integers(0, 2**63, size=50_000, dtype=np.int64).view(np.uint64)
    bf = BloomFilter(len(keys), fpp=0.01)
    bf.add(keys)
    fp = bf.contains(other).mean()
    assert fp < 0.05, fp


@pytest.fixture(scope="module")
def seen_and_cands(spark):
    seen = (spark.range(0, 5000)
            .select(F.concat(F.lit("http://h/p"), F.col("id")).alias("url_canon"))
            .withColumn("url_hash", url_hash_col(F.col("url_canon"))))
    cands = (spark.range(2500, 9000)
             .select(F.concat(F.lit("http://h/p"), F.col("id")).alias("url_canon"))
             .withColumn("url_hash", url_hash_col(F.col("url_canon"))))
    return seen.localCheckpoint(eager=True), cands.localCheckpoint(eager=True)


def test_anti_join_with_bloom_equals_exact(spark, seen_and_cands):
    seen, cands = seen_and_cands
    bloom = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    bloom.merge_from(build_bloom_parts(seen, 8, 2048, 0.01).collect())
    with_bloom = {r["url_canon"] for r in
                  anti_join_seen(cands, seen, bloom, spark).collect()}
    exact = {r["url_canon"] for r in
             anti_join_seen(cands, seen, None, spark).collect()}
    assert with_bloom == exact
    assert exact == {f"http://h/p{i}" for i in range(5000, 9000)}


def test_incremental_merge(spark, seen_and_cands):
    """A part no key was merged into probes as definitely new; after a
    second OR-merge the next probe sees every merged key."""
    seen, _ = seen_and_cands
    in_part3 = F.pmod(F.col("url_hash"), F.lit(8)) == 3
    half1 = seen.where((F.col("url_hash") % 2 == 0) & ~in_part3)
    half2 = seen.where((F.col("url_hash") % 2 != 0) | in_part3)
    bloom = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    bloom.merge_from(build_bloom_parts(half1, 8, 2048, 0.01).collect())
    assert 3 not in bloom.parts
    part3 = [r["m"] for r in seen.where(in_part3).withColumn(
        "m", bloom.probe_udf(spark)("url_hash")).collect()]
    assert part3 and not any(part3)

    bloom.merge_from(build_bloom_parts(half2, 8, 2048, 0.01).collect())
    probe = bloom.probe_udf(spark)
    misses = seen.withColumn("m", probe("url_hash")).where(~F.col("m")).count()
    assert misses == 0  # no false negatives after incremental OR-merge


def test_default_geometry_does_not_grow_with_seen(spark):
    """The wave loop's SeenBloom() is 32 parts x 32 KiB (m = 2^18, k = 11)
    however many keys it holds: past its ~524k-key design size it saturates
    instead of growing, so one broadcast of 1 MiB always carries it."""
    bloom = SeenBloom()
    assert (bloom.n_parts, bloom.m, bloom.k) == (32, 1 << 18, 11)
    seen = spark.range(0, 1 << 19).select(
        url_hash_col(F.col("id").cast("string")).alias("url_hash"))
    bloom.merge_from(build_bloom_parts(
        seen, bloom.n_parts, bloom.keys_per_part, bloom.fpp).collect())
    assert sorted(bloom.parts) == list(range(32))
    assert {len(b) for b in bloom.parts.values()} == {32_768}


def _rows_df(spark, bloom):
    return spark.createDataFrame(
        [(p, bytearray(b), np_, m_, k_) for p, b, np_, m_, k_ in bloom.to_rows()],
        "part int, bits binary, n_parts int, m long, k int")


def test_load_rows_roundtrip_and_geometry_guard(spark, seen_and_cands):
    """Resume restores the filter bit-identically — and REFUSES a snapshot
    built under a different geometry (n_parts/m/k), because pmod(url_hash,
    n_parts) would assign keys to the wrong bitset and the probe would
    false-negative (re-admitting seen URLs past the anti-join skip)."""
    seen, _ = seen_and_cands
    src = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    src.merge_from(build_bloom_parts(seen, 8, 2048, 0.01).collect())
    rows = _rows_df(spark, src).collect()

    same = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    assert same.load_rows(rows)
    assert same.parts == src.parts

    # different partition count — same bitset byte length, different key->part
    other_parts = SeenBloom(n_parts=16, keys_per_part=2048, fpp=0.01)
    assert not other_parts.load_rows(rows)
    # fpp change that alters k
    other_k = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.3)
    assert not other_k.load_rows(rows)
    # legacy rows without geometry columns are refused too
    legacy = spark.createDataFrame(
        [(p, bytearray(b)) for p, b, *_ in src.to_rows()],
        "part int, bits binary").collect()
    fresh = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    assert not fresh.load_rows(legacy)
