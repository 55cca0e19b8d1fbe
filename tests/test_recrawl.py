"""Recrawl scheduling (operators/recrawl.py): TTL expiry + re-admission.

The due-set computation is asserted against a plain-Python recomputation of
the same TTL rule over the collected fetch_log; the recrawl drain must
re-fetch exactly the due URLs (max_depth=0 = refresh-only mode), reproduce
their span payloads bit-identically (deterministic fetcher), and partition
`seen` into retained ∪ refetched with no overlap. The cuckoo path asserts
the deletion semantics the filter exists for: expired keys stop probing as
duplicates while retained keys still do.
"""

from __future__ import annotations

import dataclasses

import pytest

from crawler_spark.operators.recrawl import (
    due_for_recrawl, expire_from_cuckoo, expire_seen, run_recrawl,
)
from crawler_spark.plans.tableio import SnapDirStore
from crawler_spark.sources.fetch import SimulatedFetcher
from crawler_spark.spec import CrawlJobSpec


@pytest.fixture(scope="module")
def finished_crawl(spark, crawl_env, shared_crawl, tmp_path_factory):
    """A completed checkpointed crawl over the small fixture web."""
    fetcher, robots_df, seeds = crawl_env
    d = str(tmp_path_factory.mktemp("recrawl") / "snap")
    spec = CrawlJobSpec(seeds=seeds, max_waves=20, checkpoint_dir=d)
    run = shared_crawl(spec)
    assert run.n_waves >= 4
    return spark, spec, fetcher, robots_df, SnapDirStore(spark, d), run


def _expected_due(run, current_wave: int, ttl: int) -> dict[str, int]:
    last: dict[str, int] = {}
    for r in run.fetch_log.collect():
        if r["status"] == 200:
            last[r["url_canon"]] = max(last.get(r["url_canon"], -1), r["wave"])
    return {u: current_wave - w for u, w in last.items()
            if current_wave - w >= ttl}


def test_due_set_matches_ttl_rule(finished_crawl):
    spark, spec, fetcher, robots_df, store, run = finished_crawl
    cur = store.latest_wave() + 1
    for ttl in (2, 3, 10_000):
        due = due_for_recrawl(run.fetch_log, cur, ttl)
        got = {r["url_canon"]: r["age"] for r in due.collect()}
        assert got == _expected_due(run, cur, ttl)
    # ttl larger than the crawl's age -> nothing due
    assert due_for_recrawl(run.fetch_log, cur, 10_000).count() == 0


def test_recrawl_refetches_exactly_due(finished_crawl):
    spark, spec, fetcher, robots_df, store, run = finished_crawl
    ttl = 3
    cur = store.latest_wave() + 1
    expected = set(_expected_due(run, cur, ttl))
    assert expected, "fixture must have due URLs at this ttl"
    assert expected < {r["url_canon"] for r in run.seen.collect()}

    # refresh-only recrawl: max_depth=0 stops outlink expansion (depth 1 >
    # max_depth), so only the due set itself is admitted and drained
    rspec = dataclasses.replace(spec, checkpoint_dir="", max_depth=0,
                                per_host_tokens=1e9, token_cap=1e9)
    due, rerun = run_recrawl(spark, rspec, fetcher, store, ttl,
                             robots_src=robots_df)
    refetched = {r["url_canon"] for r in rerun.fetch_log.collect()}
    assert refetched == expected
    assert rerun.n_fetched == len(expected)

    # deterministic fetcher -> span payloads identical to the original crawl
    orig = {r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in run.documents.collect() if r["doc_id"] in expected}
    new = {r["doc_id"]: [tuple(s) for s in r["spans"]]
           for r in rerun.documents.collect()}
    assert new == orig

    # seen splits cleanly: retained ∪ refetched == original, no overlap
    retained = {r["url_canon"]
                for r in expire_seen(run.seen, due).collect()}
    original = {r["url_canon"] for r in run.seen.collect()}
    assert retained | refetched == original
    assert not (retained & refetched)


def test_recrawl_refuses_incomplete_store(spark, crawl_env, shared_crawl,
                                          tmp_path):
    """The COMPLETED-crawl precondition is enforced, not just documented: a
    store killed mid-crawl (pending frontier rows at its latest wave) would
    silently treat never-fetched URLs as nonexistent — neither due nor
    crawled — so run_recrawl must refuse it."""
    fetcher, robots_df, seeds = crawl_env
    d = str(tmp_path / "killed")
    spec = CrawlJobSpec(seeds=seeds, max_waves=2, checkpoint_dir=d)
    run = shared_crawl(spec)
    assert run.frontier.count() > 0, "fixture kill must leave pending URLs"
    store = SnapDirStore(spark, d)
    rspec = dataclasses.replace(spec, checkpoint_dir="", max_depth=0)
    with pytest.raises(ValueError, match="not a completed crawl"):
        run_recrawl(spark, rspec, fetcher, store, 1, robots_src=robots_df)


def test_staleness_orders_selection(finished_crawl):
    """Older URLs carry more-negative priority -> selected before fresher
    ones under a constrained per-wave budget."""
    spark, spec, fetcher, robots_df, store, run = finished_crawl
    cur = store.latest_wave() + 1
    due_ages = _expected_due(run, cur, 2)
    assert len(set(due_ages.values())) > 1, "need mixed staleness"
    rspec = dataclasses.replace(
        spec, checkpoint_dir="", max_depth=0,
        per_host_tokens=1.0, token_cap=1.0)    # 1 URL/host/wave
    _, rerun = run_recrawl(spark, rspec, fetcher, store, 2,
                           robots_src=robots_df)
    first_wave = {r["url_canon"]: r["wave"] for r in rerun.fetch_log.collect()}
    # within each host, fetch-wave order must follow age (older first)
    by_host: dict[str, list[tuple[int, int]]] = {}
    for url, wave in first_wave.items():
        host = url.split("://", 1)[1].split("/", 1)[0]
        by_host.setdefault(host, []).append((wave, due_ages[url]))
    for host, pairs in by_host.items():
        pairs.sort()
        ages = [a for _, a in pairs]
        assert ages == sorted(ages, reverse=True), (host, pairs)


def test_cli_crawl_then_recrawl(spark, tmp_path, monkeypatch, capsys):
    """The job surface end-to-end: a checkpointed CLI crawl followed by
    `--recrawl-ttl` re-fetches exactly the due URLs of that store."""
    import json as _json

    from crawler_spark import cli

    # the CLI calls spark.stop() on the shared getOrCreate() session — keep
    # the test session alive
    monkeypatch.setattr(type(spark), "stop", lambda self: None)
    d = str(tmp_path / "snap")
    assert cli.main(["--checkpoint-dir", d, "--max-waves", "20"]) == 0
    crawl_summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert crawl_summary["n_fetched"] > 0 and crawl_summary["pending"] == 0

    assert cli.main(["--checkpoint-dir", d, "--recrawl-ttl", "3"]) == 0
    re_summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert re_summary["n_due"] > 0
    assert re_summary["n_fetched"] == re_summary["n_due"]
    assert re_summary["n_due"] < crawl_summary["n_fetched"]

    # ttl larger than the job's age -> empty drain
    assert cli.main(["--checkpoint-dir", d, "--recrawl-ttl", "10000"]) == 0
    none_summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert none_summary["n_due"] == 0 and none_summary["n_fetched"] == 0


def test_cuckoo_expiry_reopens_urls(finished_crawl):
    """Deleting expired keys makes the prefilter report them as new again,
    while retained keys still probe as seen (no false negatives)."""
    import numpy as np
    from crawler_spark.operators.cuckoo import SeenCuckoo
    from crawler_spark.operators.dedup import url_hash_col
    from pyspark.sql import functions as F

    spark, spec, fetcher, robots_df, store, run = finished_crawl
    cur = store.latest_wave() + 1
    due = due_for_recrawl(run.fetch_log, cur, 3).localCheckpoint(eager=True)

    seen_keys = np.array([r["url_hash"] for r in run.seen.collect()],
                         dtype=np.int64)
    cf = SeenCuckoo(n_parts=4, keys_per_part=1 << 12)
    cf.insert_keys(seen_keys)
    assert cf.contains_keys(seen_keys).all()

    n_del = expire_from_cuckoo(cf, due)
    assert n_del == due.count() > 0

    due_keys = np.array(
        [r["url_hash"] for r in
         due.select(url_hash_col(F.col("url_canon")).alias("url_hash"))
         .collect()], dtype=np.int64)
    retained_keys = np.setdiff1d(seen_keys, due_keys)
    assert not cf.contains_keys(due_keys).any()
    assert cf.contains_keys(retained_keys).all()


def test_change_rate_estimator(spark):
    """Cho/Garcia-Molina estimator on a hand-built observation log:
    lambda = -ln((ncmp - X + 0.5)/(ncmp + 0.5))/dt_bar, ttl = half-life;
    never-changing keys get the max TTL; single-observation keys drop."""
    import math
    from pyspark.sql import functions as F
    from crawler_spark.operators.recrawl import change_rate

    rows = (
        # key 1: 5 obs, 100s apart, sigs a a b b c -> X=2 of ncmp=4
        [(1, 1000 + 100 * i, i, s)
         for i, s in enumerate(["a", "a", "b", "b", "c"])]
        # key 2: 3 obs, never changes -> X=0 -> ttl = max
        + [(2, 1000 + 50 * i, i, "z") for i in range(3)]
        # key 3: one obs -> no estimate
        + [(3, 1000, 0, "q")])
    obs = spark.createDataFrame(
        rows, "key long, t long, obs_id long, sig string")
    out = {r["key"]: r for r in change_rate(obs, max_ttl_days=365.0)
           .collect()}

    assert set(out) == {1, 2}
    r1 = out[1]
    assert (r1["n_obs"], r1["n_changes"]) == (5, 2)
    lam = -math.log((4 - 2 + 0.5) / 4.5) / 100.0 * 86400.0
    assert r1["lambda_per_day"] == round(lam, 4)
    assert r1["ttl_days"] == round(math.log(2) / lam, 4)
    assert out[2]["n_changes"] == 0 and out[2]["ttl_days"] == 365.0


def test_due_for_recrawl_adaptive_per_host_ttl(spark):
    """Hosts expire under their OWN ttl; unknown hosts use the default."""
    from pyspark.sql import functions as F
    from crawler_spark.operators.recrawl import due_for_recrawl_adaptive

    log = spark.createDataFrame(
        [("http://h1/a", "h1", 0, 200), ("http://h2/a", "h2", 0, 200),
         ("http://h3/a", "h3", 0, 200), ("http://h1/b", "h1", 2, 200),
         ("http://h2/fail", "h2", 2, 500)],
        "url_canon string, host string, wave int, status int")
    ttls = spark.createDataFrame([("h1", 1), ("h2", 5)],
                                 "host string, ttl_waves int")
    due = {r["url_canon"]: r["age"]
           for r in due_for_recrawl_adaptive(log, 3, ttls,
                                             default_ttl_waves=2).collect()}
    # h1: ttl 1 -> both rows due (ages 3 and 1)... age>=1: /a age 3, /b age 1
    # h2: ttl 5 -> /a age 3 not due (failed fetch at wave 2 ignored)
    # h3: default ttl 2 -> age 3 due
    assert due == {"http://h1/a": 3, "http://h1/b": 1, "http://h3/a": 3}


def test_recrawl_adaptive_ttl_by_host(finished_crawl):
    """run_recrawl(ttl_by_host=...) refetches exactly the union of each
    host's own due set: a fast-changing host expires at ttl 2 while the
    rest stay on a default too large to fire."""
    import dataclasses as _dc
    from pyspark.sql import functions as F
    from crawler_spark.operators.recrawl import run_recrawl as _rr

    spark, spec, fetcher, robots_df, store, run = finished_crawl
    cur = store.latest_wave() + 1
    by_host: dict[str, dict[str, int]] = {}
    for r in run.fetch_log.collect():
        if r["status"] == 200:
            h = by_host.setdefault(r["host"], {})
            h[r["url_canon"]] = max(h.get(r["url_canon"], -1), r["wave"])
    fast = sorted(by_host)[0]                       # deterministic pick
    expected = {u for u, w in by_host[fast].items() if cur - w >= 2}
    assert expected, "fast host must have due URLs at ttl 2"

    ttls = spark.createDataFrame([(fast, 2)], "host string, ttl_waves int")
    rspec = _dc.replace(spec, checkpoint_dir="", max_depth=0,
                        per_host_tokens=1e9, token_cap=1e9)
    due, rerun = _rr(spark, rspec, fetcher, store, 10_000,
                     robots_src=robots_df, ttl_by_host=ttls)
    refetched = {r["url_canon"] for r in rerun.fetch_log.collect()}
    assert refetched == expected


def test_budget_completed_crawl_is_recrawlable(spark, crawl_env, shared_crawl,
                                               tmp_path_factory):
    """Regression: a max_pages-capped crawl ends with pending frontier rows
    AND a job-end metrics row; resuming cannot drain it by design, so
    run_recrawl must accept it and refresh exactly the fetched set."""
    fetcher, robots_df, seeds = crawl_env
    d = str(tmp_path_factory.mktemp("caprecrawl") / "snap")
    spec = CrawlJobSpec(seeds=seeds, max_waves=20, max_pages=5,
                        checkpoint_dir=d)
    run = shared_crawl(spec)
    store = SnapDirStore(spark, d)
    assert store.read_full("frontier", store.latest_wave()).count() > 0
    fetched = {r["url_canon"] for r in run.fetch_log.collect()}
    assert 0 < len(fetched) <= 5

    rspec = dataclasses.replace(spec, checkpoint_dir="", max_depth=0,
                                max_pages=0, per_host_tokens=1e9,
                                token_cap=1e9)
    due, rerun = run_recrawl(spark, rspec, fetcher, store, 1,
                             robots_src=robots_df)
    refetched = {r["url_canon"] for r in rerun.fetch_log.collect()}
    assert refetched == {r["url_canon"] for r in run.fetch_log.collect()
                         if r["status"] == 200}


def test_snapshot_diff_statuses(spark):
    """rc3: the four statuses, exhaustively, on a constructed pair."""
    from crawler_spark.operators.recrawl import snapshot_diff
    old = spark.createDataFrame(
        [("u1", "f1"), ("u2", "f2"), ("u3", "f3")],
        "url_canon string, fingerprint string")
    new = spark.createDataFrame(
        [("u1", "f1"), ("u2", "fX"), ("u4", "f4")],
        "url_canon string, fingerprint string")
    got = {r.url_canon: r.status
           for r in snapshot_diff(old, new).collect()}
    assert got == {"u1": "unchanged", "u2": "changed",
                   "u3": "gone", "u4": "new"}


def test_conditional_recrawl_304_saves_bytes_and_merges(finished_crawl):
    """RFC 9110 revalidation e2e: recrawl a completed store against a web
    where a deterministic subset of pages changed. Unchanged due URLs must
    come back 304 with zero body bytes and their validator as content_sig;
    changed URLs re-fetch as 200; merge_revalidated reproduces exactly the
    corpus an unconditional recrawl fetches, with 304 docs keeping their
    original wave."""
    import pyspark.sql.functions as F
    from crawler_spark.operators.recrawl import merge_revalidated

    spark, spec, fetcher, robots_df, store, run = finished_crawl
    pages = fetcher.pages   # already redirect-resolved (url_canon,...)
    changed_cond = F.substring(F.md5("url_canon"), 1, 1).isin("0", "1", "2",
                                                              "3", "4", "5")
    mutated = pages.withColumn(
        "html", F.when(changed_cond & (F.col("status") == 200),
                       F.concat(F.col("html"), F.lit("<p>changed</p>")))
                 .otherwise(F.col("html")))
    mfetcher = SimulatedFetcher(mutated)

    ttl, cur = 3, store.latest_wave() + 1
    expected_due = set(_expected_due(run, cur, ttl))
    changed = {r["url_canon"] for r in
               pages.where(changed_cond & (F.col("status") == 200))
               .select("url_canon").collect()}
    assert expected_due & changed and expected_due - changed, \
        "fixture must mix changed and unchanged due URLs"

    rspec = dataclasses.replace(spec, checkpoint_dir="", max_depth=0,
                                per_host_tokens=1e9, token_cap=1e9)
    _, full = run_recrawl(spark, rspec, mfetcher, store, ttl,
                          robots_src=robots_df)
    _, cond = run_recrawl(spark, rspec, mfetcher, store, ttl,
                          robots_src=robots_df, revalidate=True)

    stat = {r["url_canon"]: r for r in cond.fetch_log.collect()}
    assert set(stat) == expected_due
    for url, r in stat.items():
        if url in changed:
            assert r["status"] == 200 and r["bytes"] > 0
        else:
            assert r["status"] == 304 and r["bytes"] == 0
            assert r["content_sig"] != ""      # validator carried forward
    # the transfer the 304s avoided
    full_bytes = sum(r["bytes"] for r in full.fetch_log.collect())
    cond_bytes = sum(r["bytes"] for r in cond.fetch_log.collect())
    assert cond_bytes < full_bytes

    last = store.latest_wave()
    merged = merge_revalidated(cond, store, last)
    got = {r["doc_id"]: [tuple(s) for s in r["spans"]]
           for r in merged.collect()}
    want = {r["doc_id"]: [tuple(s) for s in r["spans"]]
            for r in full.documents.collect()}
    assert got == want
    # 304 docs keep the wave their content dates from (the stored wave)
    orig_wave = {r["doc_id"]: r["wave"] for r in run.documents.collect()}
    merged_wave = {r["doc_id"]: r["wave"] for r in merged.collect()}
    for url in expected_due - changed:
        assert merged_wave[url] == orig_wave[url]


def test_retry_backoff_goldens(spark):
    """Fail tails, doubling delays, success resets, cap, no-success keys."""
    from crawler_spark.operators.recrawl import retry_backoff
    rows = [
        # key 1: ok@10, fail@20, fail@30 -> tail 2, delay base*2
        (1, 10, True), (1, 20, False), (1, 30, False),
        # key 2: fail@5, ok@6 -> no tail (success newest)
        (2, 5, False), (2, 6, True),
        # key 3: never succeeded, 9 fails -> tail 9, capped shift 6
        *[(3, t, False) for t in range(9)],
        # key 4: fail@7 only -> tail 1, delay base*1
        (4, 7, False),
    ]
    log = spark.createDataFrame(rows, "k long, w long, ok boolean")
    out = {r["k"]: r for r in
           retry_backoff(log, "k", "w", "ok", base=10,
                         cap_fails=6).collect()}
    assert set(out) == {1, 3, 4}
    assert (out[1]["tail_fails"], out[1]["last_fail"],
            out[1]["next_attempt"]) == (2, 30, 30 + 10 * 2)
    assert (out[3]["tail_fails"], out[3]["next_attempt"]) == (9, 8 + 10 * 64)
    assert (out[4]["tail_fails"], out[4]["next_attempt"]) == (1, 7 + 10)


def test_retry_backoff_same_wave_fail_not_after_success(spark):
    """A failure at EXACTLY the last-success wave is not a tail failure
    (strictly-newer rule)."""
    from crawler_spark.operators.recrawl import retry_backoff
    log = spark.createDataFrame([(1, 5, True), (1, 5, False)],
                                "k long, w long, ok boolean")
    assert retry_backoff(log, "k", "w", "ok").count() == 0


def test_retry_backoff_large_cap_no_int_wrap(spark):
    """Regression: an INT shift literal is masked mod 32 by Spark, so
    cap_fails > 30 silently wrapped (shiftleft(1,31) < 0, shiftleft(1,32)
    == 1). With a LONG literal the delay keeps doubling to 2^cap."""
    from crawler_spark.operators.recrawl import retry_backoff
    import pytest
    rows = [("u", w, False) for w in range(40)]
    log = spark.createDataFrame(rows, "url string, wave int, ok boolean")
    out = retry_backoff(log, "url", "wave", "ok", base=1, cap_fails=35)
    r = out.collect()[0]
    assert r["tail_fails"] == 40
    assert r["next_attempt"] == 39 + 2 ** 35
    with pytest.raises(ValueError):
        retry_backoff(log, "url", "wave", "ok", base=1, cap_fails=63)
