"""Checkpoint/resume + shutdown-flag contract (SURVEY.md §4.3, north_rule:
"a killed job resumes bit-identically").

Strategy: run the same spec (a) uninterrupted and (b) capped at k waves
("killed" between waves), then resumed from the snapshot dir. Final state
tables must match by content fingerprint and the delta-union documents /
fetch_log must be row-identical. Also: a present stop-flag file halts the
loop between waves, and resuming after flag removal completes the crawl.
"""

from __future__ import annotations

import dataclasses
import shutil

import pytest
from pyspark.errors import AnalysisException

from crawler_spark.plans.frontier import run_crawl
from crawler_spark.plans.tableio import SnapDirStore, content_fingerprint
from crawler_spark.sources.fetch import SimulatedFetcher
from crawler_spark.spec import CrawlJobSpec
from conftest import snap_fp


def test_kill_resume_bit_identical(spark, crawl_env, shared_crawl, tmp_path):
    fetcher, robots_df, seeds = crawl_env
    base = CrawlJobSpec(seeds=seeds, max_waves=20)

    # (a) uninterrupted reference run
    full_dir = str(tmp_path / "full")
    spec_full = dataclasses.replace(base, checkpoint_dir=full_dir)
    run_full = shared_crawl(spec_full)
    assert run_full.n_waves >= 4, "fixture must produce a multi-wave crawl"

    # (b) killed after 2 waves, then resumed
    part_dir = str(tmp_path / "part")
    spec_k = dataclasses.replace(base, checkpoint_dir=part_dir, max_waves=2)
    run_k = shared_crawl(spec_k)
    assert run_k.n_fetched < run_full.n_fetched

    spec_r = dataclasses.replace(base, checkpoint_dir=part_dir)
    run_r = run_crawl(spark, spec_r, fetcher, robots_src=robots_df,
                      resume=True)

    fp_full = snap_fp(spark, full_dir)
    fp_part = snap_fp(spark, part_dir)
    assert fp_part == fp_full, f"resumed state differs: {fp_part} vs {fp_full}"

    # run_r.n_fetched restores the pre-kill count (the max_pages budget needs
    # the job-total), so the resumed total equals the uninterrupted run's
    assert run_r.n_fetched == run_full.n_fetched
    assert (run_r.seen.count() == run_full.seen.count()
            == run_r.seen.select("url_hash").distinct().count())


def test_resume_is_idempotent_when_complete(spark, crawl_env, shared_crawl,
                                            tmp_path):
    """Resuming a FINISHED crawl runs zero waves and changes nothing."""
    fetcher, robots_df, seeds = crawl_env
    d = str(tmp_path / "done")
    spec = CrawlJobSpec(seeds=seeds, max_waves=20, checkpoint_dir=d)
    first = shared_crawl(spec)
    before = snap_fp(spark, d)
    again = run_crawl(spark, spec, fetcher, robots_src=robots_df, resume=True)
    assert again.n_fetched == first.n_fetched    # restored count, no new fetches
    assert again.metrics == []                   # zero waves actually ran
    assert snap_fp(spark, d) == before


def test_lifecycle_metrics_rows(spark, crawl_env, tmp_path):
    """S9 lifecycle sink (reference ScanStart/ScanEnd, src/rpc/client.rs:
    31-52): the committed metrics table carries exactly one job-start row
    (wave=-1) and, once the frontier drains, exactly one job-end row
    (wave=JOB_END_WAVE) whose counters are the job-lifetime totals — all
    rows keyed by job_id. (Kill/resume bit-identity of these rows is
    covered by snap_fp, which fingerprints the metrics delta-union.)"""
    from crawler_spark.plans.frontier import JOB_END_WAVE

    fetcher, robots_df, seeds = crawl_env
    d = str(tmp_path / "life")
    spec = CrawlJobSpec(seeds=seeds, max_waves=20, checkpoint_dir=d,
                        job_id=77)
    run = run_crawl(spark, spec, fetcher, robots_src=robots_df)
    store = SnapDirStore(spark, d)
    rows = store.read_delta_union("metrics", store.latest_wave()).collect()

    assert all(r["job_id"] == 77 for r in rows)
    starts = [r for r in rows if r["event"] == "start"]
    ends = [r for r in rows if r["event"] == "end"]
    waves = [r for r in rows if r["event"] == "wave"]
    assert len(starts) == 1 and starts[0]["wave"] == -1 \
        and starts[0]["part"] == -1
    assert len(ends) == 1 and ends[0]["wave"] == JOB_END_WAVE
    assert all(r["part"] >= 0 for r in waves)   # lineage rows stay per-part
    assert ends[0]["fetched"] == run.n_fetched \
        == sum(r["fetched"] for r in waves)
    assert ends[0]["errors"] == sum(r["errors"] for r in waves)
    assert ends[0]["bytes"] == sum(r["bytes"] for r in waves)

    # a paused (max_waves-capped) job is NOT complete: start row, no end row
    d2 = str(tmp_path / "paused")
    run_crawl(spark, dataclasses.replace(spec, checkpoint_dir=d2,
                                         max_waves=2),
              fetcher, robots_src=robots_df)
    s2 = SnapDirStore(spark, d2)
    rows2 = s2.read_delta_union("metrics", s2.latest_wave()).collect()
    assert sum(r["event"] == "start" for r in rows2) == 1
    assert sum(r["event"] == "end" for r in rows2) == 0


@pytest.mark.parametrize("table,spec_kw", [
    pytest.param("hosts", {}, id="hosts"),
    pytest.param("bloom", {"bloom_min_seen": 0}, id="bloom"),
])
def test_resume_refuses_missing_listed_table(spark, crawl_env, shared_crawl,
                                             tmp_path, table, spec_kw):
    """A table the last manifest lists but whose snapshot is gone is a
    corrupt store: resume raises instead of silently restarting that state
    (fresh token buckets, a rebuilt bloom) and breaking bit-identity."""
    fetcher, robots_df, seeds = crawl_env
    d = str(tmp_path / "kill")
    spec = CrawlJobSpec(seeds=seeds, max_waves=2, checkpoint_dir=d, **spec_kw)
    shared_crawl(spec)
    store = SnapDirStore(spark, d)
    last = store.latest_wave()
    assert table in store.manifest(last)["tables"]
    shutil.rmtree(store._snap_path(table, last))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_crawl(spark, dataclasses.replace(spec, max_waves=20), fetcher,
                  robots_src=robots_df, resume=True)


def test_seen_compact_every_must_be_positive():
    """K=1 is the full-base-every-wave layout; there is no K=0."""
    with pytest.raises(ValueError, match="seen_compact_every"):
        CrawlJobSpec(seen_compact_every=0)
    assert CrawlJobSpec(seen_compact_every=1).seen_compact_every == 1


def test_resume_without_checkpoint_raises(spark, crawl_env, tmp_path):
    fetcher, robots_df, seeds = crawl_env
    spec = CrawlJobSpec(seeds=seeds, checkpoint_dir=str(tmp_path / "empty"))
    with pytest.raises(ValueError, match="resume"):
        run_crawl(spark, spec, fetcher, robots_src=robots_df, resume=True)


def test_stop_flag_halts_and_resume_completes(spark, crawl_env, shared_crawl,
                                              tmp_path):
    fetcher, robots_df, seeds = crawl_env
    flag = tmp_path / "STOP"
    d = str(tmp_path / "flagged")

    # flag present from the start: loop exits before fetching anything
    flag.write_text("")
    spec = CrawlJobSpec(seeds=seeds, max_waves=20, checkpoint_dir=d,
                        stop_flag_path=str(flag))
    halted = run_crawl(spark, spec, fetcher, robots_src=robots_df)
    assert halted.n_fetched == 0 and halted.n_waves == 0

    # flag removed: resume from the wave -1 seed snapshot finishes the crawl
    flag.unlink()
    done = run_crawl(spark, spec, fetcher, robots_src=robots_df, resume=True)
    ref = shared_crawl(CrawlJobSpec(seeds=seeds, max_waves=20))
    assert done.n_fetched == ref.n_fetched
    assert done.seen.count() == ref.seen.count()


class _CountingFetcher:
    """Transparent fetcher wrapper counting URLs resolved per fetch() call
    (materializes the batch — test scale only)."""

    def __init__(self, inner):
        self.inner = inner
        self.urls_fetched = 0

    def fetch(self, batch):
        self.urls_fetched += batch.count()
        return self.inner.fetch(batch)


def test_lazy_robots_cache_restored_not_refetched(spark, small_cfg, crawl_env,
                                                  tmp_path):
    """§4.3: the lazy robots cache commits with every wave; resume reloads it
    from the snapshot, so only hosts first contacted AFTER the kill get their
    robots.txt fetched — and the final state stays bit-identical."""
    from crawler_spark.plans.tableio import content_fingerprint
    from crawler_spark.sources.webgraph import to_spark_robots_pages

    fetcher, _, seeds = crawl_env
    robots_pages = to_spark_robots_pages(spark, small_cfg)
    base = CrawlJobSpec(seeds=seeds, max_waves=20)

    d_full = str(tmp_path / "full")
    rf_full = _CountingFetcher(SimulatedFetcher(robots_pages))
    run_full = run_crawl(
        spark, dataclasses.replace(base, checkpoint_dir=d_full),
        fetcher, robots_src=None, robots_fetcher=rf_full)

    d = str(tmp_path / "part")
    rf_kill = _CountingFetcher(SimulatedFetcher(robots_pages))
    run_crawl(spark, dataclasses.replace(base, checkpoint_dir=d, max_waves=2),
              fetcher, robots_src=None, robots_fetcher=rf_kill)
    store = SnapDirStore(spark, d)
    k = store.latest_wave()
    assert "robots" in store.manifest(k)["tables"]
    cached_hosts = store.read_full("robots", k).count()

    # a listed robots snapshot that is gone is a corrupt store: resume
    # raises rather than re-fetching
    d_broken = str(tmp_path / "broken")
    shutil.copytree(d, d_broken)
    shutil.rmtree(SnapDirStore(spark, d_broken)._snap_path("robots", k))
    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        run_crawl(spark, dataclasses.replace(base, checkpoint_dir=d_broken),
                  fetcher, robots_src=None,
                  robots_fetcher=SimulatedFetcher(robots_pages), resume=True)

    rf_res = _CountingFetcher(SimulatedFetcher(robots_pages))
    run_r = run_crawl(spark, dataclasses.replace(base, checkpoint_dir=d),
                      fetcher, robots_src=None, robots_fetcher=rf_res,
                      resume=True)

    last = store.latest_wave()
    final_hosts = store.read_full("robots", last).count()
    assert rf_res.urls_fetched == final_hosts - cached_hosts
    assert rf_res.urls_fetched < rf_full.urls_fetched
    assert snap_fp(spark, d) == snap_fp(spark, d_full)
    assert run_r.n_fetched == run_full.n_fetched
    assert content_fingerprint(store.read_full("robots", last)) == \
        content_fingerprint(SnapDirStore(spark, d_full)
                            .read_full("robots", last))


def test_bloom_partitions_restored_on_resume(spark, crawl_env, shared_crawl,
                                             tmp_path):
    """§4.3: active bloom bitsets commit as the `bloom` table; the reloaded
    filter is bit-equal to a from-scratch rebuild over `seen`, and a resumed
    run keeps committing it while staying bit-identical."""
    from crawler_spark.operators.dedup import SeenBloom, build_bloom_parts

    fetcher, robots_df, seeds = crawl_env
    base = CrawlJobSpec(seeds=seeds, max_waves=20, bloom_min_seen=0)

    d = str(tmp_path / "kill")
    shared_crawl(dataclasses.replace(base, checkpoint_dir=d, max_waves=2))
    store = SnapDirStore(spark, d)
    k = store.latest_wave()
    assert "bloom" in store.manifest(k)["tables"]

    restored = SeenBloom()           # the wave loop's default geometry
    assert restored.load_rows(store.read_full("bloom", k).collect())
    rebuilt = SeenBloom()
    rebuilt.merge_from(build_bloom_parts(
        store.read_seen(k), rebuilt.n_parts, rebuilt.keys_per_part,
        rebuilt.fpp).collect())
    # equality (not just superset): both OR exactly the seen-as-of-k keys
    assert restored.parts == rebuilt.parts

    run_crawl(spark, dataclasses.replace(base, checkpoint_dir=d),
              fetcher, robots_src=robots_df, resume=True)
    d_full = str(tmp_path / "full")
    shared_crawl(dataclasses.replace(base, checkpoint_dir=d_full))
    assert snap_fp(spark, d) == snap_fp(spark, d_full)
    last = SnapDirStore(spark, d).latest_wave()
    assert content_fingerprint(
        SnapDirStore(spark, d).read_full("bloom", last)) == \
        content_fingerprint(
            SnapDirStore(spark, d_full).read_full("bloom", last))


def test_seen_delta_compaction_layout(spark, crawl_env, shared_crawl,
                                      tmp_path):
    """seen commits as per-wave deltas with a full base every K waves; the
    reconstructed table equals the full-base-every-wave layout's (K=1), and
    resume across a compaction boundary stays bit-identical."""
    fetcher, robots_df, seeds = crawl_env

    # K=2: with a ~5-wave crawl we get deltas AND compactions interleaved
    d_delta = str(tmp_path / "delta")
    spec_d = CrawlJobSpec(seeds=seeds, max_waves=20, checkpoint_dir=d_delta,
                          seen_compact_every=2)
    shared_crawl(spec_d)

    d_full = str(tmp_path / "full")
    spec_f = CrawlJobSpec(seeds=seeds, max_waves=20, checkpoint_dir=d_full,
                          seen_compact_every=1)
    shared_crawl(spec_f)

    s_d, s_f = SnapDirStore(spark, d_delta), SnapDirStore(spark, d_full)
    last = s_d.latest_wave()
    assert last == s_f.latest_wave()
    assert content_fingerprint(s_d.read_seen(last)) == \
           content_fingerprint(s_f.read_seen(last))
    # the delta layout actually materialized: at least one seen_delta snap
    # and at least one compacted full base exist
    import os
    assert os.path.exists(os.path.join(d_delta, "seen_delta"))
    waves_with_full = [w for w in range(last + 1)
                       if "seen" in s_d.manifest(w)["tables"]]
    assert waves_with_full, "expected at least one compaction wave"

    # kill right before a compaction boundary, resume across it
    d_kr = str(tmp_path / "kr")
    spec_k = CrawlJobSpec(seeds=seeds, max_waves=1, checkpoint_dir=d_kr,
                          seen_compact_every=2)
    shared_crawl(spec_k)
    spec_r = CrawlJobSpec(seeds=seeds, max_waves=20, checkpoint_dir=d_kr,
                          seen_compact_every=2)
    run_crawl(spark, spec_r, fetcher, robots_src=robots_df, resume=True)
    assert snap_fp(spark, d_kr) == snap_fp(spark, d_delta)
