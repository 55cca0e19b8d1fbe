"""HttpFetcher plumbing (S5): the mapInPandas fetch stage with an injected
deterministic transport — proves batching, per-worker session reuse, the
dead-link error convention, and that a full crawl runs end-to-end through
the HTTP fetcher's code path (transport backed by the fixture web)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.sources.fetch import HttpFetcher
from crawler_spark.sources.webgraph import gen_pages, gen_seeds


def _fixture_transport(cfg):
    """Transport closure over the fixture web: behaves like the network."""
    pages = {r.url_canon: (int(r.status), r.html)
             for r in gen_pages(cfg).itertuples()}

    def transport(session, url, agent, timeout_s):
        if url not in pages:
            raise ConnectionError(url)      # dead link -> status 0 mapping
        return pages[url]

    return transport


def test_fetch_contract_and_error_mapping(spark, small_cfg):
    t = _fixture_transport(small_cfg)
    f = HttpFetcher(user_agent="TestBot/1.0", transport=t)
    urls = [r.url_canon for r in gen_pages(small_cfg).itertuples()][:20]
    batch = spark.createDataFrame(
        [(u, 0, 0.0, "agent-x") for u in urls]
        + [("http://nowhere.example.com/p0", 0, 0.0, "agent-x")],
        "url_canon string, depth int, priority double, agent string")
    out = f.fetch(batch)
    assert out.columns == ["url_canon", "depth", "priority", "agent",
                           "status", "bytes", "html"]
    rows = {r["url_canon"]: r for r in out.collect()}
    dead = rows.pop("http://nowhere.example.com/p0")
    assert (dead["status"], dead["bytes"], dead["html"]) == (0, 0, "")
    for u, r in rows.items():
        assert r["bytes"] == len(r["html"])
        assert r["status"] in (200, 404, 429, 500)


def test_full_crawl_through_http_fetcher(spark, small_cfg, crawl_env,
                                        shared_crawl):
    """run_crawl over HttpFetcher(fake transport) == run_crawl over
    SimulatedFetcher: the two fetch paths are interchangeable."""
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.spec import CrawlJobSpec

    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=4)
    via_http = run_crawl(spark, spec,
                         HttpFetcher(transport=_fixture_transport(small_cfg)),
                         robots_src=crawl_env.robots_df)
    via_join = shared_crawl(spec)
    a = {r["url_canon"] for r in via_http.seen.select("url_canon").collect()}
    b = {r["url_canon"] for r in via_join.seen.select("url_canon").collect()}
    assert a == b and via_http.n_fetched == via_join.n_fetched


def test_chrome_fetcher_same_surface(spark, small_cfg, crawl_env,
                                     shared_crawl):
    """S6: ChromeFetcher is the same pluggable fetch surface — with an
    injected transport (standing in for a CDP-rendered DOM) a crawl through
    it equals the SimulatedFetcher crawl; without one, the stage raises
    NotImplementedError loudly (no browser in sandbox) instead of yielding
    silent empties."""
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.sources.fetch import ChromeFetcher
    from crawler_spark.spec import CrawlJobSpec

    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=4)
    via_chrome = run_crawl(
        spark, spec, ChromeFetcher(transport=_fixture_transport(small_cfg)),
        robots_src=crawl_env.robots_df)
    via_join = shared_crawl(spec)
    a = {r["url_canon"] for r in via_chrome.seen.select("url_canon").collect()}
    b = {r["url_canon"] for r in via_join.seen.select("url_canon").collect()}
    assert a == b and via_chrome.n_fetched == via_join.n_fetched

    stub = ChromeFetcher()
    batch = spark.createDataFrame([("http://h0.example.com/p0", "a")],
                                  "url_canon string, agent string")
    with pytest.raises(Exception, match="no headless browser in sandbox"):
        stub.fetch(batch).collect()


def test_proxy_reaches_session_config(spark):
    """S5 proxy plumbing (reference proto/crawler.proto:24 -> scan.rs:30-32):
    a spec-level proxy URL must land on the per-worker pooled session as the
    http+https proxy BEFORE the transport issues any request. Injected
    session factory + recording transport prove it without a network."""
    import types

    def factory():
        return types.SimpleNamespace(proxies={})

    def transport(session, url, agent, timeout_s):
        # executes on the worker: serialize what the fetch stage configured
        return 200, ";".join(f"{k}={v}" for k, v in sorted(session.proxies.items()))

    f = HttpFetcher(transport=transport, proxy="http://proxy.example:3128",
                    session_factory=factory)
    batch = spark.createDataFrame([("http://h0.example.com/p0", "a")],
                                  "url_canon string, agent string")
    [row] = f.fetch(batch).collect()
    assert row["html"] == ("http=http://proxy.example:3128;"
                           "https=http://proxy.example:3128")
    # no proxy configured -> session untouched
    f2 = HttpFetcher(transport=transport, session_factory=factory)
    [row2] = f2.fetch(batch).collect()
    assert row2["html"] == ""


def test_default_transport_without_network(spark):
    """Default transport behavior, no injection: with `requests` importable
    but no network, connection failures map to the dead-link convention
    (status 0, empty body) — a real crawl treats unreachable hosts as dead,
    never as a job failure. Without `requests` at all, the stage raises
    NotImplementedError loudly instead of yielding silent empties."""
    f = HttpFetcher(timeout_s=0.5)
    batch = spark.createDataFrame(
        [("http://nonexistent-host-2471.invalid/p0", "a")],
        "url_canon string, agent string")
    try:
        rows = f.fetch(batch).collect()
    except Exception as e:                   # requests missing entirely
        assert "no network in sandbox" in str(e)
    else:
        assert [(r["status"], r["bytes"], r["html"]) for r in rows] == [(0, 0, "")]


_SHELL_HTML = ('<html><head><script src="/app.js"></script></head>'
               '<body><div id="root"></div></body></html>')
_RENDERED_HTML = ('<html><body><h1>rendered</h1><p>client-side content '
                  'now visible</p><a href="/p1">next</a></body></html>')
_PLAIN_HTML = ('<html><body><h1>server page</h1><p>plenty of visible '
               'static text here already</p></body></html>')


def test_needs_render_predicate(spark):
    """S6 smart routing predicate: JS app shells and explicit
    scripting-required markers route to the browser; static pages, error
    pages, and script-bearing pages with real text do not."""
    from crawler_spark.sources.fetch import needs_render_col

    cases = [
        (_SHELL_HTML, 200, True),            # script + no visible text
        (_PLAIN_HTML, 200, False),           # static page
        ('<html><script>x</script><body>' + 'words ' * 20 + '</body></html>',
         200, False),                        # script but real content
        ('<html><body><noscript>Please enable JavaScript to view this '
         'page</noscript></body></html>', 200, True),
        (_SHELL_HTML, 404, False),           # non-200 never re-rendered
        ("", 200, False),                    # empty body, no script
    ]
    df = spark.createDataFrame([(h, s) for h, s, _ in cases],
                               "html string, status long")
    got = [r[0] for r in df.select(
        needs_render_col(F.col("html"), F.col("status"))).collect()]
    assert got == [want for _, _, want in cases]


def test_smart_fetcher_routes_only_shell_pages(spark):
    """S6 smart mode: HTTP-first for every URL; ONLY the JS-shell responses
    re-fetch through the Chrome transport (counted via a recording fake),
    and those rows carry the browser-rendered DOM + rendered=true."""
    from crawler_spark.sources.fetch import ChromeFetcher, SmartFetcher

    http_pages = {
        "http://a.example.com/p0": (200, _PLAIN_HTML),
        "http://a.example.com/p1": (200, _SHELL_HTML),
        "http://a.example.com/p2": (200, _SHELL_HTML),
        "http://a.example.com/p3": (404, _SHELL_HTML),  # error: no escalation
    }

    def http_transport(session, url, agent, timeout_s):
        return http_pages[url]

    def chrome_transport(session, url, agent, timeout_s):
        return 200, _RENDERED_HTML

    smart = SmartFetcher(
        http=HttpFetcher(transport=http_transport),
        chrome=ChromeFetcher(transport=chrome_transport))
    batch = spark.createDataFrame([(u, "a") for u in sorted(http_pages)],
                                  "url_canon string, agent string")
    rows = {r["url_canon"]: r for r in smart.fetch(batch).collect()}

    assert len(rows) == 4
    assert not rows["http://a.example.com/p0"]["rendered"]
    assert rows["http://a.example.com/p0"]["html"] == _PLAIN_HTML
    for u in ("http://a.example.com/p1", "http://a.example.com/p2"):
        assert rows[u]["rendered"]
        assert rows[u]["html"] == _RENDERED_HTML
        assert rows[u]["bytes"] == len(_RENDERED_HTML)
    # 404 shell: kept as the HTTP result, not escalated
    p3 = rows["http://a.example.com/p3"]
    assert not p3["rendered"] and p3["status"] == 404


def test_smart_fetcher_full_crawl_equivalence(spark, small_cfg, crawl_env,
                                              shared_crawl):
    """A crawl through SmartFetcher over the fixture web (whose pages are
    all static => chrome pass gets zero rows) equals the SimulatedFetcher
    crawl — smart mode is a drop-in on the same fetcher surface."""
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.sources.fetch import ChromeFetcher, SmartFetcher
    from crawler_spark.spec import CrawlJobSpec

    def chrome_transport(session, url, agent, timeout_s):  # pragma: no cover
        raise AssertionError("static fixture page escalated to chrome")

    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=3)
    smart = SmartFetcher(
        http=HttpFetcher(transport=_fixture_transport(small_cfg)),
        chrome=ChromeFetcher(transport=chrome_transport))
    via_smart = run_crawl(spark, spec, smart, robots_src=crawl_env.robots_df)
    via_join = shared_crawl(spec)
    a = {r["url_canon"] for r in via_smart.seen.select("url_canon").collect()}
    b = {r["url_canon"] for r in via_join.seen.select("url_canon").collect()}
    assert a == b and via_smart.n_fetched == via_join.n_fetched
