"""F5 robots.txt parsing + longest-match gating (SURVEY.md §2.2)."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from crawler_spark.operators.robots import parse_robots, robots_allowed, path_of

BODY = """
# comment
User-agent: googlebot
Disallow: /only-google

User-agent: *
Disallow: /private
Allow: /private/ok
Disallow: /tmp/*
Crawl-delay: 2.5

User-agent: other
Disallow: /
"""


def test_parse_star_group_only():
    allow, deny, delay = parse_robots(BODY)
    assert allow == ["/private/ok"]
    assert deny == ["/private", "/tmp/*"]
    assert delay == 2500


def test_longest_match_wins():
    allow, deny, _ = parse_robots(BODY)
    assert not robots_allowed("/private/x", allow, deny)
    assert robots_allowed("/private/ok/x", allow, deny)       # carve-back
    assert robots_allowed("/public", allow, deny)
    assert not robots_allowed("/tmp/anything", allow, deny)   # wildcard


def test_grouped_user_agents():
    body = "User-agent: a\nUser-agent: *\nDisallow: /x"
    allow, deny, _ = parse_robots(body)
    assert deny == ["/x"]


def test_empty_disallow_allows_all():
    allow, deny, _ = parse_robots("User-agent: *\nDisallow:")
    assert deny == [] and robots_allowed("/anything", allow, deny)


def test_dollar_anchor():
    allow, deny, _ = parse_robots("User-agent: *\nDisallow: /*.pdf$")
    assert not robots_allowed("/doc.pdf", allow, deny)
    assert robots_allowed("/doc.pdfx", allow, deny)


def test_path_of():
    assert path_of("http://h/p1?q=1") == "/p1?q=1"
    assert path_of("http://h") == "/"


def test_absent_body():
    allow, deny, delay = parse_robots("")
    assert allow == [] and deny == [] and delay == 0


# --------------------------------------------- RFC 9309 UA group selection


def test_named_group_overrides_star():
    allow, deny, delay = parse_robots(BODY, agent="Googlebot/2.1")
    assert deny == ["/only-google"]          # named group, not the * rules
    assert allow == [] and delay == 0        # delay lives in the * group


def test_unknown_agent_falls_back_to_star():
    allow, deny, delay = parse_robots(BODY, agent="SomeBot/1.0")
    assert deny == ["/private", "/tmp/*"]
    assert allow == ["/private/ok"] and delay == 2500


def test_most_specific_token_wins():
    body = ("User-agent: googlebot\nDisallow: /general\n\n"
            "User-agent: googlebot-news\nDisallow: /news-only\n\n"
            "User-agent: *\nDisallow: /all")
    # exact-specific beats shorter prefix beats *
    assert parse_robots(body, "googlebot-news")[1] == ["/news-only"]
    # 'googlebot-images' has no own group -> longest prefix 'googlebot'
    assert parse_robots(body, "googlebot-images")[1] == ["/general"]
    assert parse_robots(body, "bingbot")[1] == ["/all"]


def test_same_token_groups_merge():
    body = ("User-agent: foobot\nDisallow: /a\n\n"
            "User-agent: FooBot\nDisallow: /b\nCrawl-delay: 1\n\n"
            "User-agent: *\nDisallow: /star")
    allow, deny, delay = parse_robots(body, "foobot/3.0 (+http://foo)")
    assert deny == ["/a", "/b"]              # RFC: same-agent groups combine
    assert delay == 1000


def test_product_token_extraction_case_insensitive():
    body = "User-agent: MyBot\nDisallow: /m"
    assert parse_robots(body, "mybot/1.2 (contact@x)")[1] == ["/m"]
    assert parse_robots(body, "MYBOT")[1] == ["/m"]
    # agent token shorter than the group token -> no prefix match -> star
    assert parse_robots(body + "\n\nUser-agent: *\nDisallow: /s",
                        "my")[1] == ["/s"]


def test_e2e_crawl_with_named_agent_matches_oracle(spark, small_cfg,
                                                   crawl_env):
    """Engine == oracle when a named agent selects per-host named groups
    that DIFFER from the * group (some hosts deny the named bot harder,
    some carve it an allow-back)."""
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.sources.webgraph import (
        gen_pages, gen_robots_src, gen_seeds,
    )
    from crawler_spark.spec import CrawlJobSpec
    from tests.oracle import run_oracle

    robots_src = gen_robots_src(small_cfg)

    def _augment(i, body):
        if i % 3 == 0:
            return (body + "\nUser-agent: testbot\nDisallow: /p1\n"
                    "Disallow: /p2\n")
        if i % 3 == 1:
            return body + "\nUser-agent: testbot\nDisallow:\n"
        return body  # * group only -> named agent falls back

    robots_src["body"] = [_augment(i, b)
                          for i, b in enumerate(robots_src["body"])]
    spec = CrawlJobSpec(seeds=gen_seeds(small_cfg), max_depth=3,
                        agent="TestBot/1.0", respect_robots_txt=True)
    want = run_oracle(spec, gen_pages(small_cfg), robots_src)
    run = run_crawl(spark, spec, crawl_env.fetcher,
                    robots_src=spark.createDataFrame(robots_src))
    got = {r.url_canon for r in run.seen.select("url_canon").collect()}
    assert got == want.seen
    # the named group actually bit: rerun with no agent differs on the
    # hosts whose testbot group denies more than their * group
    spec2 = CrawlJobSpec(seeds=gen_seeds(small_cfg), max_depth=3,
                         respect_robots_txt=True)
    want2 = run_oracle(spec2, gen_pages(small_cfg), robots_src)
    assert want.seen != want2.seen


def test_meta_robots_directive_forms(spark):
    from crawler_spark.operators.robots import meta_robots_flags
    rows = [(1, "noindex,nofollow"), (2, "NOFOLLOW"),
            (3, " NoIndex , Follow "), (4, "none"), (5, "all"),
            (6, ""), (7, "index, nofollow"), (8, "index,follow"),
            (9, "noarchive,nosnippet"),      # unknown tokens ignored
            (10, "nonefoo")]                 # 'none' must match exactly
    d = spark.createDataFrame(rows, "i long, dir string")
    out = {r["i"]: (r["f"]["indexable"], r["f"]["followable"])
           for r in d.select("i", meta_robots_flags(F.col("dir"))
                             .alias("f")).collect()}
    assert out[1] == (0, 0)
    assert out[2] == (1, 0)
    assert out[3] == (0, 1)
    assert out[4] == (0, 0)
    assert out[5] == (1, 1)
    assert out[6] == (1, 1)
    assert out[7] == (1, 0)
    assert out[8] == (1, 1)
    assert out[9] == (1, 1)
    assert out[10] == (1, 1)


# ------------------------------------------- Spark gate == pure oracle

# rules exercising every matcher branch: plain prefixes, `*` mid-rule and
# trailing, trailing `$`, `$` mid-rule (a literal), regex metacharacters,
# literal `\E` / `\Q` / trailing backslash, non-ASCII text
_RULES = [
    "/", "/a", "/a/b", "/private", "/private/ok", "/tmp/*", "/*.pdf$",
    "/a*b", "/a/*/c$", "*", "$", "/x$y", "/x$y*", "/q(1", "/r[2]", "/s.t",
    "/u+v", "/w?x", "/m(*)", "/n[.]*$", "/p.+?*", "/e\\E", "/e\\E*",
    "/f\\Q*\\E$", "/back\\", "/back\\*", "/é", "/日本/*", "/café$", "/ü*ß",
    "/a/b$", "/**", "/*$",
]
_PATHS = [
    "/", "/a", "/a/b", "/a/xb", "/ab", "/private/x", "/private/ok/x",
    "/doc.pdf", "/doc.pdfx", "/doc.pdf?x=1", "/tmp/", "/tmp/z", "/a/z/c",
    "/a/z/c/d", "/x$y", "/x$yz", "/q(1", "/q(1)", "/r[2]", "/r2", "/s.t",
    "/sxt", "/u+v", "/uuv", "/w?x", "/wx", "/m()", "/m(z)", "/n[.]",
    "/n[.]z", "/p.+?q", "/e\\E", "/e\\Ex", "/f\\Qa\\E", "/back\\",
    "/back\\z", "/é", "/éa", "/日本/x", "/日本", "/café", "/cafée",
    "/üaß", "/üß/x", "/a/b?q=1",
]


def test_gate_frontier_matches_oracle_on_generated_corpus(spark):
    """gate_frontier (native longest-match) keeps exactly the rows that
    robots_allowed(path_of(url), allow, deny) allows, for hosts with
    random rule lists, a host with empty lists and a host with no robots
    row at all."""
    import random

    from crawler_spark.operators.robots import ROBOTS_SCHEMA, gate_frontier

    rng = random.Random(20)
    rules = {f"h{i}.example.com": (rng.sample(_RULES, rng.randint(0, 5)),
                                   rng.sample(_RULES, rng.randint(0, 5)))
             for i in range(40)}
    rules["empty.example.com"] = ([], [])
    hosts = sorted(rules) + ["norobots.example.com"]
    paths = _PATHS + [rng.choice(_PATHS) + rng.choice(_PATHS)[1:]
                      for _ in range(40)]
    rows = [(i, f"http://{h}{p}", h)
            for i, (h, p) in enumerate((h, p) for h in hosts for p in paths)]
    frontier = spark.createDataFrame(rows, "id long, url_canon string, "
                                           "host string")
    robots = spark.createDataFrame(
        [(h, 0, a, d, 0) for h, (a, d) in rules.items()], ROBOTS_SCHEMA)

    gated = gate_frontier(frontier, robots)
    assert gated.columns == frontier.columns
    got = sorted(r["id"] for r in gated.select("id").collect())
    want = [i for i, url, h in rows
            if robots_allowed(path_of(url), *rules.get(h, ([], [])))]
    assert 0 < len(want) < len(rows)
    assert got == want


def test_admit_and_gate_plan_no_python(spark):
    """Admission (filters, scope, A2, the seen anti-join) plus the robots
    gate plan one anti-join on url_hash and no Python evaluation node."""
    import io
    from contextlib import redirect_stdout

    from crawler_spark.operators.robots import ROBOTS_SCHEMA, gate_frontier
    from crawler_spark.plans.frontier import _admit
    from crawler_spark.spec import CrawlJobSpec

    cands = spark.createDataFrame(
        [(f"http://h{i % 3}.example.com/p{i}", 1, 0.0) for i in range(30)],
        "url_canon string, depth int, priority double")
    seen = spark.createDataFrame(
        [(1, "http://h0.example.com/p0", "h0.example.com", 0)],
        "url_hash long, url_canon string, host string, wave int")
    robots = spark.createDataFrame(
        [("h0.example.com", 0, ["/p1"], ["/p*$"], 0)], ROBOTS_SCHEMA)
    spec = CrawlJobSpec(seeds=("http://h0.example.com/",))
    hosts = ["h0.example.com", "h1.example.com"]
    admitted = _admit(cands, seen, spec, hosts, 1)
    buf = io.StringIO()
    with redirect_stdout(buf):
        gate_frontier(admitted, robots).explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    anti_keys = re.findall(r"Left keys \[1\]: \[(\w+)#\d+L?\]\n"
                           r"Right keys \[1\]: \[\w+#\d+L?\]\n"
                           r"Join type: LeftAnti", plan)
    assert anti_keys == ["url_hash"]
