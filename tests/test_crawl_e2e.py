"""End-to-end determinism contract: Spark engine == single-threaded oracle.

Asserts the SURVEY.md §5.3 equality targets for several job specs:
URL-seen set, per-wave URL sets, per-document span sequences
(kind, text, media_ref, order), and wave-level metrics.
"""

from __future__ import annotations

import pytest

from crawler_spark.plans.frontier import run_crawl
from crawler_spark.sources.fetch import SimulatedFetcher
from crawler_spark.sources.webgraph import gen_pages, gen_robots_src, gen_seeds, to_spark
from crawler_spark.spec import CrawlJobSpec
from tests.oracle import run_oracle


def _run_both(shared_crawl, cfg, spec):
    oracle = run_oracle(spec, gen_pages(cfg), gen_robots_src(cfg))
    run = shared_crawl(spec)
    return oracle, run, run.to_python()


def _assert_equal(oracle, run, got):
    assert got["seen"] == oracle.seen
    assert got["waves"] == oracle.waves
    assert set(got["documents"]) == set(oracle.documents)
    for url, spans in oracle.documents.items():
        assert got["documents"][url] == spans, f"span mismatch for {url}"
    assert got["doc_wave"] == oracle.doc_wave
    o_metrics = [(m["wave"], m["fetched"], m["errors"], m["new_links"], m["bytes"])
                 for m in oracle.metrics]
    e_metrics = [(m["wave"], m["fetched"], m["errors"], m["new_links"], m["bytes"])
                 for m in run.metrics]
    assert e_metrics == o_metrics


@pytest.mark.parametrize("spec_kw", [
    pytest.param({}, id="default-robots-on"),
    pytest.param({"respect_robots_txt": False, "max_depth": 3}, id="norobots-depth3"),
    pytest.param({"subdomains": True, "tld": True,
                  "blacklist": (r"/p1[12]$",)}, id="subdomains-tld-blacklist"),
    pytest.param({"per_host_tokens": 2.0, "token_cap": 4.0}, id="tight-politeness"),
    pytest.param({"max_pages": 15}, id="global-budget"),
    pytest.param({"delay_ms": 400, "bloom_min_seen": 1 << 62},
                 id="delay-no-bloom"),
    pytest.param({"bloom_min_seen": 0}, id="bloom-forced-active"),
    pytest.param({"per_host_tokens": 3.0}, id="salted-politeness"),
    pytest.param({"seen_compact_every": 2}, id="seen-delta-compact2"),
])
def test_engine_matches_oracle(shared_crawl, small_cfg, spec_kw):
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20, **spec_kw)
    oracle, run, got = _run_both(shared_crawl, small_cfg, spec)
    assert run.n_fetched > 0
    _assert_equal(oracle, run, got)


def test_seen_has_no_duplicates(shared_crawl, small_cfg):
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20)
    _, run, _ = _run_both(shared_crawl, small_cfg, spec)
    total = run.seen.count()
    assert run.seen.select("url_hash").distinct().count() == total
    from pyspark.sql import functions as F
    assert run.seen.select(F.lower("url_canon")).distinct().count() == total


def test_agent_override(shared_crawl, small_cfg):
    """P3: explicit spec.agent overrides the per-host UA pick (scan.rs:34-36)."""
    from pyspark.sql import functions as F
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=3,
                        agent="CustomBot/1.0")
    run = shared_crawl(spec)
    agents = [r["agent"] for r in run.fetch_log.select("agent").distinct().collect()]
    assert agents == ["CustomBot/1.0"]

    spec2 = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=3)
    run2 = shared_crawl(spec2)
    per_host = (run2.fetch_log.groupBy("host")
                .agg(F.countDistinct("agent").alias("n")).collect())
    assert all(r["n"] == 1 for r in per_host)          # deterministic per host
    assert run2.fetch_log.select("agent").distinct().count() > 1


def test_drain_mode_fetches_all_admissible_once(spark, small_cfg):
    """Frontier-drain mode (the north-rule metric shape: every known URL
    pending at once, as in a recrawl of a 10^10-URL frontier): the engine
    must fetch exactly the asset/robots-admissible fixture set, once each,
    in ONE saturated wave — independent of the link structure BFS would
    follow. Expectation recomputed with the shared pure predicates."""
    from pyspark.sql import functions as F
    from crawler_spark.functions.canon import host_of
    from crawler_spark.operators.robots import (
        parse_robots, path_of, robots_allowed,
    )
    from crawler_spark.operators.scope import is_asset

    pages = gen_pages(small_cfg)
    rules = {r.host: parse_robots(r.body)
             for r in gen_robots_src(small_cfg).itertuples()}
    expected = set()
    for r in pages.itertuples():
        u = r.url_canon
        if is_asset(u):
            continue
        a, d, _ = rules.get(host_of(u), ([], [], 0))
        if robots_allowed(path_of(u), a, d):
            expected.add(u)
    assert expected and len(expected) < len(pages)

    pages_df, robots_df = to_spark(spark, small_cfg)
    init = pages_df.select("url_canon", F.lit(0).alias("depth"),
                           F.lit(0.0).alias("priority"))
    # wave_ms models a 1h slice so robots Crawl-delay hosts are not clamped
    # to 1 URL/wave (the bench's drain setup does the same)
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20,
                        max_depth=0, per_host_tokens=1e9, token_cap=1e9,
                        wave_ms=3_600_000)
    run = run_crawl(spark, spec, SimulatedFetcher(pages_df),
                    robots_src=robots_df, initial_frontier=init)
    fetched = [r["url_canon"] for r in run.fetch_log.collect()]
    assert run.n_waves == 1                       # one saturated wave
    assert len(fetched) == len(set(fetched))      # once each
    assert set(fetched) == expected
    assert {r["url_canon"] for r in run.seen.collect()} == expected
    assert run.n_fetched == len(expected)


def test_lazy_robots_cache_matches_oracle(spark, small_cfg, crawl_env):
    """F5 production shape: no pre-warmed robots table — rules are fetched
    through the fetcher interface the first wave a host becomes a candidate.
    Result must equal the oracle (which knows all rules upfront): lazy fill
    is semantically identical because gating happens at admission time."""
    from crawler_spark.sources.webgraph import to_spark_robots_pages

    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20)
    oracle = run_oracle(spec, gen_pages(small_cfg), gen_robots_src(small_cfg))
    run = run_crawl(
        spark, spec, crawl_env.fetcher, robots_src=None,
        robots_fetcher=SimulatedFetcher(to_spark_robots_pages(spark, small_cfg)))
    got_seen = {r["url_canon"] for r in run.seen.select("url_canon").collect()}
    assert got_seen == oracle.seen
    e_metrics = [(m["wave"], m["fetched"], m["new_links"]) for m in run.metrics]
    o_metrics = [(m["wave"], m["fetched"], m["new_links"]) for m in oracle.metrics]
    assert e_metrics == o_metrics


def test_metrics_gini_opt_in(spark, small_cfg, crawl_env):
    """spec.metrics_gini=True ships the w10 host-fairness signal with
    every wave's metrics row (S9 lifecycle integration); default off
    keeps the throughput path unchanged."""
    fetcher, robots_df, _ = crawl_env
    seeds = gen_seeds(small_cfg, 4)
    on = CrawlJobSpec(seeds=seeds, max_waves=3, metrics_gini=True)
    run = run_crawl(spark, on, fetcher, robots_src=robots_df)
    assert run.metrics, "no waves ran"
    for m in run.metrics:
        assert "host_gini" in m and "hosts_fetched" in m
        assert m["hosts_fetched"] >= 1
        if m["host_gini"] is not None:
            assert 0.0 <= m["host_gini"] <= 1.0
        # single-host waves must read exactly 0 (perfect equality)
        if m["hosts_fetched"] == 1:
            assert m["host_gini"] == 0.0
    off = CrawlJobSpec(seeds=seeds, max_waves=3)
    run2 = run_crawl(spark, off, fetcher, robots_src=robots_df)
    assert all("host_gini" not in m for m in run2.metrics)
