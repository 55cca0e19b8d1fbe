"""Sitemap seed expansion (S4): engine == oracle with `sitemap` set.

The fixture gives some hosts a sitemap.xml listing every 3rd page plus
orphan pages unreachable via links; with spec.sitemap the wave-0 frontier
must include the seed hosts' sitemap URLs (post-admission), and the final
seen set must equal the oracle's. Without the flag, sitemaps are ignored.
"""

from __future__ import annotations

from crawler_spark.plans.frontier import run_crawl
from crawler_spark.sources.sitemap import parse_sitemap
from crawler_spark.sources.webgraph import (
    gen_pages, gen_robots_src, gen_seeds, gen_sitemaps_src, sitemap_body,
    to_spark_sitemaps,
)
from crawler_spark.spec import CrawlJobSpec
from tests.oracle import run_oracle


def test_fixture_has_sitemaps_and_orphans(small_cfg):
    bodies = {h: sitemap_body(small_cfg, h) for h in small_cfg.hosts()}
    with_maps = [h for h, b in bodies.items() if b]
    assert with_maps, "fixture must give some hosts a sitemap"
    urls = [u for b in bodies.values() for u in parse_sitemap(b)]
    assert urls and all(u.startswith("http://") for u in urls)


def test_parse_sitemap_golden():
    xml = ('<?xml version="1.0"?><urlset>'
           "<url><loc>http://a/p0</loc></url>"
           "<url><loc> http://a/p3 </loc><lastmod>2024</lastmod></url>"
           "</urlset>")
    assert parse_sitemap(xml) == ["http://a/p0", "http://a/p3"]
    assert parse_sitemap("") == []
    assert parse_sitemap("<urlset></urlset>") == []


def _run_both(spark, web_env, cfg, spec):
    oracle = run_oracle(spec, gen_pages(cfg), gen_robots_src(cfg),
                        sitemaps=gen_sitemaps_src(cfg))
    env = web_env(cfg)
    run = run_crawl(spark, spec, env.fetcher, robots_src=env.robots_df,
                    sitemap_src=to_spark_sitemaps(spark, cfg))
    return oracle, run


def test_sitemap_crawl_matches_oracle(spark, web_env, small_cfg):
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20,
                        sitemap=True)
    oracle, run = _run_both(spark, web_env, small_cfg, spec)
    got_seen = {r["url_canon"] for r in run.seen.select("url_canon").collect()}
    assert got_seen == oracle.seen
    e_metrics = [(m["wave"], m["fetched"], m["new_links"]) for m in run.metrics]
    o_metrics = [(m["wave"], m["fetched"], m["new_links"]) for m in oracle.metrics]
    assert e_metrics == o_metrics


def test_sitemap_expands_reach(spark, small_cfg):
    base = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20)
    with_map = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20,
                            sitemap=True)
    o_plain = run_oracle(base, gen_pages(small_cfg), gen_robots_src(small_cfg))
    o_map = run_oracle(with_map, gen_pages(small_cfg), gen_robots_src(small_cfg),
                       sitemaps=gen_sitemaps_src(small_cfg))
    assert o_map.seen >= o_plain.seen
    assert o_map.seen != o_plain.seen, \
        "sitemap must add URLs the link graph alone cannot reach"


def test_parse_sitemap_entries_split():
    idx = ('<?xml version="1.0"?><sitemapindex>'
           "<sitemap><loc>http://a/sitemap-0.xml</loc></sitemap>"
           "<sitemap><loc> http://a/sitemap-1.xml </loc></sitemap>"
           "</sitemapindex>")
    from crawler_spark.sources.sitemap import parse_sitemap_entries
    pages, children = parse_sitemap_entries(idx)
    assert pages == []
    assert children == ["http://a/sitemap-0.xml", "http://a/sitemap-1.xml"]
    flat = "<urlset><url><loc>http://a/p0</loc></url></urlset>"
    assert parse_sitemap_entries(flat) == (["http://a/p0"], [])
    assert parse_sitemap_entries("") == ([], [])


def test_index_hosts_exist_and_nesting_is_semantics_neutral(small_cfg):
    """The fixture must actually exercise the index path, and the
    TRANSITIVE page set of an index host equals what a flat layout would
    list — nesting changes the document structure, never the URL set."""
    from crawler_spark.sources.sitemap import parse_sitemap_entries
    from crawler_spark.sources.webgraph import (
        _sitemap_page_urls, has_sitemap_index, sitemap_body,
        sitemap_root_path,
    )
    idx_hosts = [h for h in small_cfg.hosts()
                 if has_sitemap_index(small_cfg, h)]
    assert idx_hosts, "fixture must contain at least one index host"
    for h in idx_hosts:
        pages, children = parse_sitemap_entries(
            sitemap_body(small_cfg, h, sitemap_root_path(small_cfg, h)))
        assert pages == [] and len(children) == 2
        transitive = []
        for cu in children:
            p, c = parse_sitemap_entries(
                sitemap_body(small_cfg, h, cu.rsplit("/", 1)[-1]))
            assert c == []
            transitive.extend(p)
        assert sorted(transitive) == sorted(_sitemap_page_urls(small_cfg, h))


def test_expand_sitemaps_df_recurses_index(spark, small_cfg):
    """Engine-side expansion yields the identical (host, url) set the
    pure-python recursion computes — including index children."""
    from crawler_spark.sources.sitemap import (
        expand_sitemaps_df, parse_sitemap_entries,
    )
    from crawler_spark.sources.webgraph import (
        gen_sitemaps_src, to_spark_sitemaps,
    )
    got = {(r["host"], r["url"]) for r in
           expand_sitemaps_df(to_spark_sitemaps(spark, small_cfg)).collect()}
    want = set()
    bodies = {(r.host, r.path): r.xml
              for r in gen_sitemaps_src(small_cfg).itertuples()}
    stack = [(h, "sitemap.xml") for h in small_cfg.hosts()]
    while stack:
        h, p = stack.pop()
        pages, children = parse_sitemap_entries(bodies.get((h, p), ""))
        want.update((h, u) for u in pages)
        stack.extend((h, cu.rsplit("/", 1)[-1]) for cu in children)
    assert got == want and got


def test_alt_roots_discovered_only_via_robots(spark, web_env, small_cfg):
    """Alt-rooted hosts publish no well-known sitemap.xml; their sitemap
    pages (incl. link-orphans) must still reach the crawl because the
    robots.txt Sitemap: directive names the root — pinned by checking an
    orphan lands in seen with sitemap=True and the fixture's robots on."""
    from crawler_spark.sources.webgraph import (
        has_sitemap, page_url, sitemap_body, sitemap_root_path,
        total_pages_of,
    )
    alt = [h for h in small_cfg.hosts()
           if has_sitemap(small_cfg, h)
           and sitemap_root_path(small_cfg, h) == "sitemap-alt.xml"]
    assert alt, "fixture must contain an alt-rooted sitemap host"
    for h in alt:
        assert sitemap_body(small_cfg, h, "sitemap.xml") == ""
        assert sitemap_body(small_cfg, h, "sitemap-alt.xml") != ""

    h = alt[0]
    spec = CrawlJobSpec(seeds=(page_url(h, 0),), max_waves=20,
                        sitemap=True)
    oracle, run = _run_both(spark, web_env, small_cfg, spec)
    got_seen = {r["url_canon"] for r in
                run.seen.select("url_canon").collect()}
    assert got_seen == oracle.seen
    orphan = page_url(h, total_pages_of(small_cfg, h) - 1)
    from crawler_spark.functions.canon import canonicalize
    assert canonicalize(orphan, "") in got_seen
