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
    seen, _ = seen_and_cands
    half1 = seen.where(F.col("url_hash") % 2 == 0)
    half2 = seen.where(F.col("url_hash") % 2 != 0)
    bloom = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    bloom.merge_from(build_bloom_parts(half1, 8, 2048, 0.01).collect())
    bloom.merge_from(build_bloom_parts(half2, 8, 2048, 0.01).collect())
    probe = bloom.probe_udf(spark)
    misses = seen.withColumn("m", probe("url_hash")).where(~F.col("m")).count()
    assert misses == 0  # no false negatives after incremental OR-merge


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


def test_spilled_probe_equals_broadcast_probe(spark, seen_and_cands, tmp_path):
    seen, cands = seen_and_cands
    bloom = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    bloom.merge_from(build_bloom_parts(seen, 8, 2048, 0.01).collect())
    bc = {r["url_canon"]: r["m"] for r in cands.withColumn(
        "m", bloom.probe_udf(spark)("url_hash")).collect()}
    bloom.spill(str(tmp_path / "bloomspill"))
    sp = {r["url_canon"]: r["m"] for r in cands.withColumn(
        "m", bloom.probe_udf(spark)("url_hash")).collect()}
    assert bc == sp
    # and the anti-join result is unchanged in spilled mode
    with_bloom = {r["url_canon"] for r in
                  anti_join_seen(cands, seen, bloom, spark).collect()}
    exact = {r["url_canon"] for r in
             anti_join_seen(cands, seen, None, spark).collect()}
    assert with_bloom == exact


def test_spilled_probe_is_partition_local(spark, seen_and_cands, tmp_path):
    """A task probing keys of ONE partition must need ONLY that partition's
    bitset: delete every other spill file and probe a single-part slice —
    results must equal the full-broadcast probe for those keys. (This is the
    'probe memory ∝ one partition, not n_parts' contract for the 10^10
    design point, where the merged filter is ~12 GB.)"""
    import os
    seen, cands = seen_and_cands
    bloom = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    bloom.merge_from(build_bloom_parts(seen, 8, 2048, 0.01).collect())
    one_part = cands.where(F.pmod(F.col("url_hash"), F.lit(8)) == 3)
    want = {r["url_canon"]: r["m"] for r in one_part.withColumn(
        "m", bloom.probe_udf(spark)("url_hash")).collect()}
    assert any(want.values())            # the slice has real maybe-seen hits

    d = bloom.spill(str(tmp_path / "onlypart3"))
    for f in os.listdir(d):
        if not f.startswith("part=3."):
            os.remove(os.path.join(d, f))
    got = {r["url_canon"]: r["m"] for r in one_part.withColumn(
        "m", bloom.probe_udf(spark)("url_hash")).collect()}
    assert got == want


def test_crawl_with_forced_spill_bit_identical(spark, small_cfg, tmp_path,
                                               monkeypatch):
    """End-to-end: a crawl whose bloom is forced into spilled (partition-
    local) probe mode from the first wave (SeenBloom.BROADCAST_MAX_BYTES=0)
    produces the exact same seen set, fetch count, and committed snapshots
    as the full-broadcast crawl — the probe distribution mode is a pure
    physical-layout choice, invisible to results."""
    import dataclasses

    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.plans.tableio import SnapDirStore, content_fingerprint
    from crawler_spark.sources.fetch import SimulatedFetcher
    from crawler_spark.sources.webgraph import gen_seeds, to_spark
    from crawler_spark.spec import CrawlJobSpec

    pages_df, robots_df = to_spark(spark, small_cfg)
    fetcher = SimulatedFetcher(pages_df)
    base = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20,
                        bloom_min_seen=0)

    d_bc = str(tmp_path / "bc")
    run_bc = run_crawl(spark, dataclasses.replace(base, checkpoint_dir=d_bc),
                       fetcher, robots_src=robots_df)
    d_sp = str(tmp_path / "sp")
    monkeypatch.setattr(SeenBloom, "BROADCAST_MAX_BYTES", 0)
    run_sp = run_crawl(spark, dataclasses.replace(base, checkpoint_dir=d_sp),
                       fetcher, robots_src=robots_df)

    import os
    assert os.path.isdir(os.path.join(d_sp, "_bloom_spill"))   # spill engaged
    assert not os.path.isdir(os.path.join(d_bc, "_bloom_spill"))
    assert run_sp.n_fetched == run_bc.n_fetched
    a = {r["url_canon"] for r in run_sp.seen.collect()}
    b = {r["url_canon"] for r in run_bc.seen.collect()}
    assert a == b
    sa, sb = SnapDirStore(spark, d_sp), SnapDirStore(spark, d_bc)
    last = sa.latest_wave()
    assert last == sb.latest_wave()
    for t in ("frontier", "bloom"):
        assert content_fingerprint(sa.read_full(t, last)) == \
            content_fingerprint(sb.read_full(t, last)), t
    assert content_fingerprint(sa.read_seen(last)) == \
        content_fingerprint(sb.read_seen(last))


def test_spilled_merge_no_stale_cache_no_false_negatives(spark,
                                                         seen_and_cands,
                                                         tmp_path):
    """Regression: spill -> probe (warms worker caches) -> merge more keys
    -> probe again. The second probe must see the NEW keys even though
    reused Python workers cached the first spill's bitsets: the broadcast
    names per-part versions, a dirty merge re-spills (self-healing, no
    explicit spill() call here), and stale cache entries are keyed away.
    Under the old epoch-per-instance scheme this scenario served the small
    first-spill bitsets -> bloom false negatives -> re-admitted URLs."""
    import os
    seen, _ = seen_and_cands
    half1 = seen.where(F.col("url_hash") % 2 == 0).localCheckpoint(eager=True)
    half2 = seen.where(F.col("url_hash") % 2 != 0).localCheckpoint(eager=True)

    bloom = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    bloom.merge_from(build_bloom_parts(half1, 8, 2048, 0.01).collect())
    base = str(tmp_path / "spill")
    bloom.spill(base)
    # warm the per-worker caches with v1 bitsets
    seen.withColumn("m", bloom.probe_udf(spark)("url_hash")).collect()

    bloom.merge_from(build_bloom_parts(half2, 8, 2048, 0.01).collect())
    got = {r["url_canon"]: r["m"] for r in
           seen.withColumn("m", bloom.probe_udf(spark)("url_hash")).collect()}
    assert all(got.values()), "merged keys invisible: stale spill/cache served"

    # one live file per part, versions bumped only for rewritten parts
    d = bloom.spill_dir
    files = sorted(os.listdir(d))
    parts = {f.split(".v=")[0] for f in files}
    assert len(files) == len(parts), f"superseded versions not GC'd: {files}"


def test_resumed_instance_uses_fresh_spill_dir(spark, seen_and_cands,
                                               tmp_path):
    """Two SeenBloom instances (a killed run and its resume) spilling under
    the same store root must never share paths — and the resume's first
    spill garbage-collects the dead run's directory."""
    import os
    seen, _ = seen_and_cands
    base = str(tmp_path / "spill2")

    b1 = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    b1.merge_from(build_bloom_parts(seen, 8, 2048, 0.01).collect())
    d1 = b1.spill(base)

    b2 = SeenBloom(n_parts=8, keys_per_part=2048, fpp=0.01)
    b2.merge_from(build_bloom_parts(seen, 8, 2048, 0.01).collect())
    d2 = b2.spill(base)
    assert d1 != d2
    assert not os.path.isdir(d1), "dead run's spill dir not GC'd"
    assert os.path.isdir(d2)
