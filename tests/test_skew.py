"""Host-skew handling (north_rule J5): salted politeness pre-prune.

`select_batch_salted` bounds the per-host group fed to the stateful
groupBy(host).applyInPandas token bucket: a uniform (host, salt) window keeps
only each salt-group's top-`tokens` rows, so the hot host's group shrinks
from |pending(host)| to at most n_salt * tokens rows BEFORE the skewed
shuffle. Selection must be exactly the unsalted selection (any global
top-k row is in its salt-group's top-k).
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from crawler_spark.operators import politeness


def _skewed_pending(spark, n_hot=5000, n_hosts=50):
    """One Zipf-head host with n_hot pending URLs, a long tail of 3 each."""
    rows = [(f"http://hot.example.com/p{i}", "hot.example.com",
             0.0, 1 + (i % 7)) for i in range(n_hot)]
    for h in range(n_hosts):
        rows += [(f"http://h{h}.example.com/p{i}", f"h{h}.example.com",
                  0.0, 1) for i in range(3)]
    df = spark.createDataFrame(
        pd.DataFrame(rows, columns=["url_canon", "host", "priority", "depth"]))
    return df.withColumn("url_hash", F.xxhash64(F.lower("url_canon")))


@pytest.mark.parametrize("tokens_per_host", [1.0, 4.0, 16.0])
def test_salted_selection_equals_unsalted(spark, tokens_per_host):
    pending = _skewed_pending(spark).localCheckpoint(eager=True)
    tokens = (pending.select("host").distinct()
              .withColumn("tokens", F.lit(tokens_per_host))
              .localCheckpoint(eager=True))

    plain = politeness.select_batch(pending, tokens)
    plain_sel = {r["url_canon"] for r in
                 plain.where("selected").select("url_canon").collect()}

    salted = politeness.select_batch_salted(pending, tokens, n_salt=8)
    salt_sel = {r["url_canon"] for r in
                salted.where("selected").select("url_canon").collect()}
    assert salt_sel == plain_sel

    # unselected rows are preserved (they stay pending next wave)
    assert salted.count() == pending.count()
    assert salted.columns == plain.columns


def test_salted_prune_bounds_hot_group(spark):
    """The pre-pruned set entering the grouped UDF is bounded per host."""
    pending = _skewed_pending(spark, n_hot=5000)
    tokens = (pending.select("host").distinct()
              .withColumn("tokens", F.lit(4.0)))
    pruned = politeness.prune_salted(pending, tokens, n_salt=8)
    per_host = {r["host"]: r["n"] for r in
                pruned.groupBy("host").agg(F.count("*").alias("n")).collect()}
    assert per_host["hot.example.com"] <= 8 * 4
    # every selected row must appear in the pruned set (no false negatives)
    sel = politeness.select_batch(pending, tokens).where("selected")
    missing = sel.join(pruned.select("url_hash"), "url_hash", "left_anti")
    assert missing.count() == 0


def test_skew_guard_is_default_on(spark, crawl_env, monkeypatch):
    """The salted pre-prune is the wave loop's only selection path — a Zipf
    head host must not land its whole pending set in one window task under
    a default-config crawl. A default crawl selects through
    select_batch_salted exactly once per wave, with at least 16 salt
    groups. (The e2e suite runs default specs, so oracle equality under the
    guard is continuously re-proven.)"""
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.spec import CrawlJobSpec

    fetcher, robots_df, seeds = crawl_env
    calls = []
    salted = politeness.select_batch_salted

    def counting(*args, **kwargs):
        calls.append((args[2:], kwargs))
        return salted(*args, **kwargs)

    monkeypatch.setattr(politeness, "select_batch_salted", counting)
    run = run_crawl(spark, CrawlJobSpec(seeds=seeds), fetcher,
                    robots_src=robots_df)
    assert run.n_waves > 0
    assert len(calls) == run.n_waves
    assert all(c == ((), {}) for c in calls)     # default salt every wave
    assert politeness.SKEW_SALT >= 16


def _pure_waterfill(dem: dict, budget: int) -> dict:
    """Brute-force progressive filling: hand out one unit at a time,
    cycling over unsaturated hosts in (demand, host) rank order."""
    order = sorted(dem, key=lambda h: (dem[h], h))
    alloc = {h: 0 for h in dem}
    left = budget
    while left > 0:
        open_hosts = [h for h in order if alloc[h] < dem[h]]
        if not open_hosts:
            break
        for h in open_hosts:
            if left == 0:
                break
            alloc[h] += 1
            left -= 1
    return alloc


def test_waterfill_matches_progressive_filling(spark):
    """The closed-form prefix characterization must equal unit-by-unit
    progressive filling exactly — skewed demands, ties, all-full and
    zero-budget cases."""
    from crawler_spark.operators.politeness import waterfill_allocations
    cases = [
        ({"a": 100, "b": 3, "c": 7, "d": 7, "e": 40}, 60),
        ({"a": 100, "b": 3, "c": 7, "d": 7, "e": 40}, 500),   # all full
        ({"a": 5, "b": 5, "c": 5}, 7),                        # ties + rem
        ({"a": 9}, 0),                                        # zero budget
        ({f"h{i}": (i * 13) % 29 + 1 for i in range(40)}, 200),
    ]
    for dem, budget in cases:
        df = spark.createDataFrame(list(dem.items()),
                                   "host string, demand long")
        got = {r["host"]: r["alloc"]
               for r in waterfill_allocations(df, budget,
                                              n_blocks=4).collect()}
        assert got == _pure_waterfill(dem, budget), (dem, budget)
        assert sum(got.values()) == min(budget, sum(dem.values()))


def test_ip_apportionment_matches_hamilton(spark):
    """apportion_by_ip == pure-python largest-remainder with identical
    tie-breaks; per-IP sums equal min(cap, demand)."""
    from crawler_spark.operators.politeness import apportion_by_ip

    def pure(hosts, cap):
        d_ip = sum(d for _, d in hosts)
        b = min(cap, d_ip)
        base = {h: b * d // d_ip for h, d in hosts}
        rem = {h: (b * d) % d_ip for h, d in hosts}
        leftover = b - sum(base.values())
        order = sorted(hosts, key=lambda hd: (-rem[hd[0]], hd[0]))
        for h, _ in order[:leftover]:
            base[h] += 1
        return base

    cases = [
        # six equal demands under a binding cap: all remainders tie,
        # leftover 4 of 6 -> host-ascending tie-break decides
        ("ipA", [(f"h{i}", 7) for i in range(6)]),
        ("ipB", [("x", 7), ("y", 2), ("z", 1)]),          # cap > demand
        ("ipC", [("solo", 99)]),
        ("ipD", [("p", 13), ("q", 29), ("r", 5), ("s", 17)]),
    ]
    rows = [(h, ip, d) for ip, hosts in cases for h, d in hosts]
    df = spark.createDataFrame(rows, "host string, ip string, demand long")
    cap = 40
    got = {(r["ip"], r["host"]): r["alloc"]
           for r in apportion_by_ip(df, per_ip_cap=cap).collect()}
    for ip, hosts in cases:
        want = pure(hosts, cap)
        for h, _d in hosts:
            assert got[(ip, h)] == want[h], (ip, h)
        assert sum(got[(ip, h)] for h, _ in hosts) \
            == min(cap, sum(d for _, d in hosts))
