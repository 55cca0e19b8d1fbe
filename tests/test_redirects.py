"""Transparent 3xx following in the fetch path (S5 parity: reqwest
follows redirects inside the reference's fetch — the crawl loop never
sees the hop). Engine resolution is hostrank.resolve_redirects (pointer
doubling, 16-hop cap); the oracle chases the same chains in Python."""

from __future__ import annotations

from crawler_spark.sources.fetch import SimulatedFetcher
from crawler_spark.sources.webgraph import (
    WebGraphConfig, gen_pages, gen_robots_src, gen_seeds, page_location,
    page_status,
)
from crawler_spark.spec import CrawlJobSpec
from tests.oracle import run_oracle


def _fetch_map(spark, rows):
    cols = ["url_canon", "status", "bytes", "html", "location"]
    pages = spark.createDataFrame(rows, cols)
    f = SimulatedFetcher(pages, cache=False)
    batch = spark.createDataFrame([(r[0],) for r in rows], ["url_canon"])
    return {r["url_canon"]: (r["status"], r["bytes"], r["html"])
            for r in f.fetch(batch).collect()}


def test_redirect_chain_lands_on_target_body(spark):
    rows = [
        ("http://a/p0", 200, 5, "<html0>", ""),
        ("http://a/r1", 301, 0, "", "http://a/r2"),      # 2-hop chain
        ("http://a/r2", 301, 0, "", "http://a/p0"),
        ("http://a/r3", 301, 0, "", "http://a/missing"),  # dead target
        ("http://a/l1", 301, 0, "", "http://a/l2"),       # 2-cycle loop
        ("http://a/l2", 301, 0, "", "http://a/l1"),
        ("http://a/n1", 301, 0, "", ""),                  # no Location
    ]
    got = _fetch_map(spark, rows)
    assert got["http://a/p0"] == (200, 5, "<html0>")
    assert got["http://a/r1"] == (200, 5, "<html0>")
    assert got["http://a/r2"] == (200, 5, "<html0>")
    assert got["http://a/r3"] == (0, 0, "")
    assert got["http://a/l1"] == (0, 0, "")
    assert got["http://a/l2"] == (0, 0, "")
    assert got["http://a/n1"] == (301, 0, "")   # kept as-is, empty body


def test_fixture_has_redirects_and_crawl_matches_oracle(spark, web_env):
    """The default fixture emits 301 pages; a full crawl over it must
    stay bit-equal to the oracle — seen set AND per-wave metrics —
    proving engine and oracle follow the identical chains."""
    cfg = WebGraphConfig(n_hosts=8, max_pages_per_host=14, out_degree=5)
    reds = [(h, pi) for h in cfg.hosts()
            for pi in range(cfg.pages_of(h))
            if page_status(cfg, h, pi) == 301]
    assert reds, "fixture must contain redirect pages"
    for h, pi in reds:
        assert page_location(cfg, h, pi).startswith("http://")

    spec = CrawlJobSpec(seeds=tuple(gen_seeds(cfg)), max_waves=20)
    oracle = run_oracle(spec, gen_pages(cfg), gen_robots_src(cfg))
    from crawler_spark.plans.frontier import run_crawl
    env = web_env(cfg)
    run = run_crawl(spark, spec, env.fetcher, robots_src=env.robots_df)
    got_seen = {r["url_canon"] for r in
                run.seen.select("url_canon").collect()}
    assert got_seen == oracle.seen
    e_m = [(m["wave"], m["fetched"], m["new_links"]) for m in run.metrics]
    o_m = [(m["wave"], m["fetched"], m["new_links"]) for m in oracle.metrics]
    assert e_m == o_m
