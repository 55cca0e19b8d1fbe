"""W2/O1 politeness: token-bucket applyInPandas == window-rank formulation;
per-host per-wave fetch counts never exceed the budget (SURVEY.md §5.2.3)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crawler_spark.operators import politeness
from crawler_spark.plans.frontier import run_crawl
from crawler_spark.sources.webgraph import gen_seeds
from crawler_spark.spec import CrawlJobSpec


@pytest.fixture(scope="module")
def pending(spark):
    rows = [(f"http://h{i % 5}/p{i}", f"h{i % 5}", i % 7, float(i % 3), i, 0)
            for i in range(200)]
    return spark.createDataFrame(
        rows, "url_canon string, host string, depth int, priority double, "
              "url_hash long, discovered_wave int").localCheckpoint(eager=True)


@pytest.fixture(scope="module")
def tokens(spark):
    return spark.createDataFrame(
        [(f"h{i}", float(2 + i)) for i in range(5)],
        "host string, tokens double").localCheckpoint(eager=True)


def test_bucket_equals_window(pending, tokens):
    a = politeness.select_batch(pending, tokens)
    b = politeness.select_by_window(pending, tokens)
    key = lambda r: (r["host"], r["url_canon"])
    sel_a = sorted([key(r) for r in a.where("selected").collect()])
    sel_b = sorted([key(r) for r in b.where("selected").collect()])
    assert sel_a == sel_b
    counts = {r["host"]: r["n"] for r in
              a.where("selected").groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert counts == {"h0": 2, "h1": 3, "h2": 4, "h3": 5, "h4": 6}


def test_budget_never_exceeded_e2e(spark, small_cfg, crawl_env):
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20,
                        per_host_tokens=3.0, token_cap=3.0)
    run = run_crawl(spark, spec, crawl_env.fetcher,
                    robots_src=crawl_env.robots_df)
    per = (run.fetch_log.groupBy("wave", "host")
           .agg(F.count("*").alias("n")).collect())
    # refill <= 3 tokens/wave, cap 3 => never more than 3 fetches/host/wave
    assert all(r["n"] <= 3 for r in per), sorted(
        (r["wave"], r["host"], r["n"]) for r in per if r["n"] > 3)


def test_seen_monotone_and_idempotent_semantics(shared_crawl, small_cfg):
    """Monotonicity: every wave's fetched URLs were admitted (in seen);
    no URL fetched twice (idempotence of the anti-join dedup)."""
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20)
    run = shared_crawl(spec)
    fetched = run.fetch_log.select("url_canon")
    assert fetched.distinct().count() == fetched.count()
    missing = fetched.join(run.seen.select("url_canon"), "url_canon", "left_anti")
    assert missing.count() == 0


def test_ucb_explores_undersampled_hosts(spark):
    """A barely-pulled host outranks a well-sampled mediocre one even
    with zero observed reward — the exploration bonus at work — while a
    well-sampled high-reward host still tops the board."""
    import math
    from crawler_spark.operators.politeness import ucb_host_select
    rows = ([("good", 1)] * 50 + [("good", 0)] * 50
            + [("meh", 1)] * 10 + [("meh", 0)] * 90
            + [("fresh", 0)] * 2)
    d = spark.createDataFrame(rows, "host string, r int")
    out = {r["host"]: r for r in
           ucb_host_select(d, "host", F.col("r") == 1, k=2).collect()}
    t = 202
    exp = 0.0 + 1.4 * math.sqrt(math.log(t) / 2)
    assert out["fresh"]["ucb"] == round(exp, 4)
    assert out["fresh"]["mean_reward"] == 0.0
    assert out["good"]["n_rewards"] == 50
    # selection: good (0.5 + small bonus) and fresh (big bonus) beat meh
    assert out["good"]["selected"] == 1
    assert out["fresh"]["selected"] == 1
    assert out["meh"]["selected"] == 0


def test_host_fairness_gini_known_values(spark):
    """Gini goldens: perfectly even allocation -> 0; and the textbook
    (1,1,1,97) case computed by hand."""
    from crawler_spark.operators.politeness import host_fairness_gini
    even = spark.createDataFrame([(f"h{i}", 25) for i in range(4)],
                                 "host string, x long")
    r = host_fairness_gini(even, "host", "x").collect()[0]
    assert (r["n"], r["sx"], r["gini"]) == (4, 100, 0.0)
    skew = spark.createDataFrame(
        [("h0", 1), ("h1", 1), ("h2", 1), ("h3", 97)],
        "host string, x long")
    r = host_fairness_gini(skew, "host", "x").collect()[0]
    # sorted x=(1,1,1,97): sum(i*x)=1+2+3+388=394
    # gini=(2*394-5*100)/(4*100)=288/400=0.72
    assert r["gini"] == 0.72
