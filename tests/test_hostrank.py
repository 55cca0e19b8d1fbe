"""Host-rank priority (operators/hostrank.py): PageRank vs a pure-Python
mirror, boost scaling, _admit wiring, and full-crawl equality with the
extended oracle when host_priorities are injected."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from crawler_spark.operators.hostrank import (
    host_edges, hostrank_boosts, pagerank_hosts,
)
from crawler_spark.plans.frontier import run_crawl
from crawler_spark.sources.webgraph import (
    gen_pages, gen_robots_src, gen_seeds,
)
from crawler_spark.spec import CrawlJobSpec
from tests.oracle import run_oracle

# cycle + fan-in + dangling sink (e has no outlinks) + disconnected pair
EDGES = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"),
         ("b", "e"), ("c", "e"), ("f", "g")]


def _pure_pagerank(edges, iters=5, d=0.85):
    hosts = sorted({u for e in edges for u in e})
    out: dict[str, int] = {}
    for s, _ in edges:
        out[s] = out.get(s, 0) + 1
    r = {h: 1.0 for h in hosts}
    for _ in range(iters):
        nxt = {h: 1.0 - d for h in hosts}
        for s, t in edges:
            nxt[t] += d * r[s] / out[s]
        r = nxt
    return r


def test_pagerank_matches_pure_python(spark):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    got = {r["host"]: r["rank"]
           for r in pagerank_hosts(e, iters=5, damping=0.85).collect()}
    want = _pure_pagerank(EDGES)
    assert set(got) == set(want)
    for h in want:
        assert abs(got[h] - want[h]) < 1e-9, h


def test_host_edges_distinct_no_self_loops(spark):
    docs = spark.createDataFrame(
        [("http://a.com/p1",
          [("link", "", "http://b.com/x", 0), ("link", "", "http://a.com/y", 1),
           ("text", "hi", "", 2), ("link", "", "http://b.com/z", 3)]),
         ("http://b.com/p1", [("link", "", "http://a.com/p1", 0)])],
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>")
    got = {(r["src"], r["dst"]) for r in host_edges(docs).collect()}
    # a.com->a.com self loop dropped; the two b.com links collapse to one edge
    assert got == {("a.com", "b.com"), ("b.com", "a.com")}


def test_boosts_unit_scaled(spark):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    boosts = {r["host"]: r["host_boost"]
              for r in hostrank_boosts(pagerank_hosts(e)).collect()}
    # STRICTLY sub-unit: even the max-rank host must not reach a full
    # in-degree unit, or it would tie (in_degree+1) on an unboosted host
    assert all(-1.0 < b < 0.0 for b in boosts.values())
    assert min(boosts.values()) == -0.99         # max-rank host pins the scale
    # rank order preserved under negation: highest-rank host = smallest boost
    ranks = _pure_pagerank(EDGES)
    assert min(boosts, key=boosts.get) == max(ranks, key=ranks.get)


def test_admit_folds_boost_additively(spark):
    """_admit: boost adds AFTER least(injected, -n_refs) — per-host constant
    fractional tiebreak, in-degree priority preserved."""
    from crawler_spark.plans.frontier import _admit
    cands = spark.createDataFrame(
        [("http://a.com/x", 1, 0.0), ("http://a.com/X", 1, 0.0),
         ("http://b.com/y", 1, 0.0)],
        "url_canon string, depth int, priority double")
    hp = spark.createDataFrame([("a.com", -0.25)],
                               "host string, host_boost double")
    spec = CrawlJobSpec(seeds=("http://a.com/",), respect_robots_txt=False)
    rows = {r["url_canon"]: r["priority"]
            for r in _admit(spark, cands, None, None, spec,
                            ["a.com", "b.com"], 1,
                            host_priorities=hp).collect()}
    assert rows == {"http://a.com/X": -2.25,   # least(0, -2 refs) - 0.25
                    "http://b.com/y": -1.0}    # no boost row -> unchanged


def test_crawl_with_host_priorities_matches_oracle(spark, small_cfg,
                                                   crawl_env):
    """Full-crawl equality under injected host-rank boosts: engine and the
    pure-Python oracle get the same per-host boost table; a global budget
    makes cross-host priority order decide the fetch schedule."""
    boosts = {h: -((i % 7) / 7.0) for i, h in enumerate(small_cfg.hosts())}
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=20,
                        max_pages=25, per_host_tokens=2.0, token_cap=4.0)
    oracle = run_oracle(spec, gen_pages(small_cfg), gen_robots_src(small_cfg),
                        host_boosts=boosts)
    hp = spark.createDataFrame(list(boosts.items()),
                               "host string, host_boost double")
    run = run_crawl(spark, spec, crawl_env.fetcher,
                    robots_src=crawl_env.robots_df, host_priorities=hp)
    got = run.to_python()
    assert got["seen"] == oracle.seen
    assert got["waves"] == oracle.waves
    assert got["doc_wave"] == oracle.doc_wave


def test_end_to_end_rank_then_recrawl_ordering(spark, small_cfg, crawl_env,
                                               shared_crawl):
    """The intended production loop: crawl -> host_edges over the result
    docs -> pagerank -> boosts for the next (re)crawl. Checks the chain
    composes and produces fractional (boosted) frontier priorities."""
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=4)
    fetcher, robots_df, _ = crawl_env
    run = shared_crawl(spec)
    docs = run.documents.select("doc_id", "spans")
    ranks = pagerank_hosts(host_edges(docs))
    assert ranks.count() > 0
    hp = hostrank_boosts(ranks)
    run2 = run_crawl(spark, spec, fetcher, robots_src=robots_df,
                     host_priorities=hp)
    # same admissible web => same seen set; only ordering shifts
    assert {r["url_canon"] for r in run2.seen.collect()} == \
           {r["url_canon"] for r in run.seen.collect()}


def test_hop_distance_bfs_semantics(spark):
    """g5: shortest-path hops on a constructed graph — branch, diamond
    (min over paths), cycle, unreachable node, multi-seed min, hop cap."""
    from crawler_spark.operators.hostrank import hop_distance
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),     # chain a->b->c->d
         ("a", "c"),                              # diamond: c at 1, not 2
         ("d", "a"),                              # cycle back
         ("s2", "d"),                             # second seed shortcut
         ("x", "y")],                             # island (unreached)
        "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("s2",)], "host string")
    got = {r.host: r.hops for r in hop_distance(edges, seeds).collect()}
    assert got == {"a": 0, "s2": 0, "b": 1, "c": 1, "d": 1}
    # hop cap truncates: chain u0->u1->u2->u3 capped at 2
    chain = spark.createDataFrame(
        [("u0", "u1"), ("u1", "u2"), ("u2", "u3")], "src string, dst string")
    got2 = {r.host: r.hops for r in
            hop_distance(chain,
                         spark.createDataFrame([("u0",)], "host string"),
                         max_hops=2).collect()}
    assert got2 == {"u0": 0, "u1": 1, "u2": 2}


def test_resolve_redirects_pointer_doubling(spark):
    """g6: terminal chains resolve with exact hop counts; loops cap at
    2^rounds unresolved; doubling == sequential chase."""
    from crawler_spark.operators.hostrank import resolve_redirects
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"),          # chain -> terminal d
         ("p", "q"), ("q", "p"),                       # 2-cycle
         ("lone", "end")],
        "src string, dst string")
    got = {r.src: (r.final, r.hops, r.resolved)
           for r in resolve_redirects(edges, rounds=4).collect()}
    assert got["a"] == ("d", 3, 1)
    assert got["b"] == ("d", 2, 1)
    assert got["c"] == ("d", 1, 1)
    assert got["lone"] == ("end", 1, 1)
    # 2-cycle: 16 hops lands back where it started, unresolved
    assert got["p"] == ("p", 16, 0)
    assert got["q"] == ("q", 16, 0)
    # a 17-node chain is NOT settled by 4 rounds (cap semantics)
    chain = spark.createDataFrame(
        [(f"n{i}", f"n{i+1}") for i in range(20)], "src string, dst string")
    r0 = {r.src: r for r in resolve_redirects(chain, rounds=4).collect()}
    assert (r0["n0"].final, r0["n0"].hops, r0["n0"].resolved) == ("n16", 16, 0)
    assert r0["n10"].resolved == 1 and r0["n10"].final == "n20"


def test_triangle_counts_goldens(spark):
    """K4: 4 triangles, every vertex in 3. C5: none. Star: none. Directed
    duplicates and self-loops are erased before counting."""
    from crawler_spark.operators.hostrank import triangle_counts
    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    k4 += [("b", "a"), ("a", "a")]  # reverse dup + self loop: no effect
    got = {r.host: r.n_triangles for r in
           triangle_counts(spark.createDataFrame(
               k4, "src string, dst string")).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3}

    c5 = [("n0", "n1"), ("n1", "n2"), ("n2", "n3"), ("n3", "n4"),
          ("n4", "n0")]
    assert triangle_counts(spark.createDataFrame(
        c5, "src string, dst string")).count() == 0

    star = [("hub", f"leaf{i}") for i in range(6)]
    assert triangle_counts(spark.createDataFrame(
        star, "src string, dst string")).count() == 0


def test_triangle_counts_orientation_invariance(spark):
    """Relabeling nodes (which scrambles both the degree order and the
    lexicographic order) must not change any per-node count."""
    from crawler_spark.operators.hostrank import triangle_counts
    edges = [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e"),
             ("c", "e"), ("a", "e"), ("b", "e")]
    base = {r.host: r.n_triangles for r in
            triangle_counts(spark.createDataFrame(
                edges, "src string, dst string")).collect()}
    ren = {"a": "zz", "b": "yy", "c": "xx", "d": "ww", "e": "vv"}
    flipped = [(ren[s], ren[d]) for s, d in edges]
    got = {r.host: r.n_triangles for r in
           triangle_counts(spark.createDataFrame(
               flipped, "src string, dst string")).collect()}
    assert got == {ren[k]: v for k, v in base.items()}


# ----------------------------------------------------------------- OPIC g11


def _opic_reference(edges, iters):
    """Pure-python OPIC simulation (cash/history with uniform dangling pot)."""
    hosts = sorted({u for u, _ in edges} | {v for _, v in edges})
    out = {}
    for u, v in set(edges):
        out.setdefault(u, set()).add(v)
    n = len(hosts)
    cash = {h: 1.0 for h in hosts}
    hist = {h: 0.0 for h in hosts}
    for _ in range(iters):
        nxt = {h: 0.0 for h in hosts}
        dang = 0.0
        for u in hosts:
            hist[u] += cash[u]
            if u in out:
                share = cash[u] / len(out[u])
                for v in out[u]:
                    nxt[v] += share
            else:
                dang += cash[u]
        for h in hosts:
            nxt[h] += dang / n
        cash = nxt
    return {h: (round(hist[h], 4), round(cash[h], 4)) for h in hosts}


def test_opic_matches_reference_with_dangling(spark):
    from crawler_spark.operators.hostrank import opic_hosts
    # c and e are dangling (no out-edges); b is a hub
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("d", "b"), ("d", "e")]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _opic_reference(edges, iters=4)
    got = {r.host: (r.importance, r.cash)
           for r in opic_hosts(df, iters=4).collect()}
    assert got == want


def test_opic_banks_total_cash_each_iteration(spark):
    from crawler_spark.operators.hostrank import opic_hosts
    edges = [(f"h{i}", f"h{(i * 3 + 1) % 7}") for i in range(7)]
    df = spark.createDataFrame(edges, "src string, dst string")
    for iters in (1, 3):
        rows = opic_hosts(df, iters=iters).collect()
        n = len(rows)
        # every iteration banks exactly the total cash (n) into history
        assert abs(sum(r.importance for r in rows) - iters * n) < 1e-6
        assert abs(sum(r.cash for r in rows) - n) < 1e-6


# -------------------------------------------- personalized PageRank (g12)


def test_personalized_pagerank_localizes_to_teleport_set(spark):
    # two disconnected components; teleport only into the first
    edges = [("a", "b"), ("b", "a"), ("x", "y"), ("y", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    tp = spark.createDataFrame([("a",)], "host string")
    # even iters: on the a<->b 2-cycle the rank oscillates, and after an
    # even number of steps the teleport seed holds the larger share
    got = {r.host: r.rank
           for r in pagerank_hosts(df, iters=4, teleport=tp).collect()}
    # no restart mass ever reaches the (x, y) component
    assert got["x"] == 0.0 and got["y"] == 0.0
    assert got["a"] > got["b"] > 0.0     # seed holds the restart mass


def test_personalized_with_full_teleport_equals_classic(spark):
    e = spark.createDataFrame(EDGES, "src string, dst string")
    hosts = (e.select(F.col("src").alias("host"))
             .union(e.select("dst")).distinct())
    classic = {r.host: round(r.rank, 10)
               for r in pagerank_hosts(e, iters=4).collect()}
    full = {r.host: round(r.rank, 10)
            for r in pagerank_hosts(e, iters=4, teleport=hosts).collect()}
    assert classic == full


def test_opic_boosts_compose_with_crawl(spark, small_cfg, crawl_env,
                                       shared_crawl):
    """g11 made load-bearing: crawl -> host_edges -> OPIC importance ->
    hostrank_boosts -> recrawl. Same admissible web => same seen set."""
    from crawler_spark.operators.hostrank import opic_hosts
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(small_cfg)), max_waves=4)
    fetcher, robots_df, _ = crawl_env
    run = shared_crawl(spec)
    imp = opic_hosts(host_edges(run.documents.select("doc_id", "spans")),
                     iters=4)
    hp = hostrank_boosts(imp.select("host",
                                    F.col("importance").alias("rank")))
    assert all(-1.0 < r.host_boost < 0.0 for r in hp.collect())
    run2 = run_crawl(spark, spec, fetcher, robots_src=robots_df,
                     host_priorities=hp)
    assert {r["url_canon"] for r in run2.seen.collect()} == \
           {r["url_canon"] for r in run.seen.collect()}


# ------------------------------------------------- bow-tie classes (g13)


def test_bowtie_hand_graph_all_classes(spark):
    from crawler_spark.operators.hostrank import bowtie_classes
    # pivot is 'a' (max degree 3, tie with b -> lexicographic min);
    # u sits on an i->u->o tube: merged into TENDRIL by design
    edges = [("a", "b"), ("b", "a"), ("i", "a"), ("b", "o"),
             ("i", "t"), ("i", "u"), ("u", "o"), ("x", "y")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.host: r.bowtie for r in bowtie_classes(df, max_hops=8).collect()}
    assert got == {"a": "CORE", "b": "CORE", "i": "IN", "o": "OUT",
                   "t": "TENDRIL", "u": "TENDRIL",
                   "x": "DISCONNECTED", "y": "DISCONNECTED"}


def test_bowtie_matches_python_bfs_oracle(spark):
    """Deterministic pseudo-random digraph vs a from-scratch Python BFS
    classifier (independent re-derivation of the Broder classes)."""
    from crawler_spark.operators.hostrank import bowtie_classes
    edges = sorted({(f"n{(i * 7 + 1) % 37}", f"n{(i * 11 + 5) % 37}")
                    for i in range(60)
                    if (i * 7 + 1) % 37 != (i * 11 + 5) % 37})
    # python oracle
    fwd_adj, bwd_adj, und_adj = {}, {}, {}
    deg = {}
    for s, d in edges:
        fwd_adj.setdefault(s, set()).add(d)
        bwd_adj.setdefault(d, set()).add(s)
        und_adj.setdefault(s, set()).add(d)
        und_adj.setdefault(d, set()).add(s)
        deg[s] = deg.get(s, 0) + 1
        deg[d] = deg.get(d, 0) + 1
    pivot = min(deg, key=lambda h: (-deg[h], h))

    def bfs(adj, k=8):
        seen, frontier = {pivot}, {pivot}
        for _ in range(k):
            frontier = {v for u in frontier
                        for v in adj.get(u, ())} - seen
            if not frontier:
                break
            seen |= frontier
        return seen

    f, b, u = bfs(fwd_adj), bfs(bwd_adj), bfs(und_adj)
    want = {h: ("CORE" if h in f and h in b else
                "IN" if h in b else "OUT" if h in f else
                "TENDRIL" if h in u else "DISCONNECTED") for h in deg}
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.host: r.bowtie for r in bowtie_classes(df, max_hops=8).collect()}
    assert got == want


# ---------------------------------------------- LPA communities (g14)


def test_lpa_splits_bridged_cliques(spark):
    """Two triangles joined by a single bridge: one weak component (CC
    would merge), but the neighborhood vote keeps them separate
    communities."""
    from crawler_spark.operators.hostrank import lpa_communities
    edges = [("a", "b"), ("b", "c"), ("a", "c"),
             ("x", "y"), ("y", "z"), ("x", "z"),
             ("c", "x")]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.host: r.community
           for r in lpa_communities(df, iters=4).collect()}
    assert {got["a"], got["b"], got["c"]} == {"a"}
    assert {got["x"], got["y"], got["z"]} == {"c"}
    assert got["a"] != got["x"]


def test_lpa_clique_converges_to_min_label(spark):
    from crawler_spark.operators.hostrank import lpa_communities
    nodes = [f"n{i}" for i in range(5)]
    edges = [(u, v) for u in nodes for v in nodes if u < v]
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {r.host: r.community
           for r in lpa_communities(df, iters=3).collect()}
    assert set(got.values()) == {"n0"}


def _ref_hll(ball: set[str]):
    """Registers of the exact ball membership under the ks4 algebra."""
    import hashlib
    regs: dict[int, int] = {}
    for h in ball:
        hx = hashlib.md5(h.encode()).hexdigest()
        reg, v = int(hx[:2], 16), int(hx[2:15], 16)
        rank = 53 - v.bit_length() if v else 53
        regs[reg] = max(regs.get(reg, 0), rank)
    s = sum(1 << (53 - mj) for mj in regs.values())
    s += (256 - len(regs)) * (1 << 53)
    return len(regs), 4.2399330249068963e+20 / float(s)


def test_hyperanf_registers_equal_exact_ball_registers(spark):
    """After r rounds each host's registers must be EXACTLY the HLL of
    its true <=r-hop ball — propagation is lossless register max, so
    no tolerance on regs_used and float-tight on the estimate."""
    from crawler_spark.operators.hostrank import hyperanf
    edges = [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"),  # 4-cycle
             ("a", "e"), ("e", "f"), ("x", "a")]
    e = spark.createDataFrame(edges, "src string, dst string")
    got = {(r.host, r.hops): (r.regs_used, r.ball_est)
           for r in hyperanf(e, max_hops=3).collect()}
    adj: dict[str, set[str]] = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
        nodes |= {s, d}
    for v in nodes:
        ball = {v}
        for r in range(4):
            regs_used, est = _ref_hll(ball)
            gu, ge = got[(v, r)]
            assert gu == regs_used, (v, r)
            assert abs(ge - round(est, 4)) < 1e-3, (v, r)
            ball |= {w for u in ball for w in adj.get(u, ())}


def test_hyperanf_linear_counting_accuracy(spark):
    """The emitted (regs_used, zero_regs) support the small-range
    linear-counting correction m*ln(m/zero_regs) — apply it driver-side
    and check it recovers the true ball size on a graph with balls up
    to ~60 nodes (raw estimator is out of range there BY DESIGN)."""
    import math
    from crawler_spark.operators.hostrank import hyperanf
    # star-of-paths: hub -> p{i}0 -> p{i}1 -> p{i}2 for 20 paths
    edges = [("hub", f"p{i}0") for i in range(20)]
    edges += [(f"p{i}{j}", f"p{i}{j+1}") for i in range(20)
              for j in range(2)]
    e = spark.createDataFrame(edges, "src string, dst string")
    rows = {(r.host, r.hops): r for r in hyperanf(e, max_hops=3).collect()}
    truth = {0: 1, 1: 21, 2: 41, 3: 61}   # hub's ball sizes
    for r, n in truth.items():
        row = rows[("hub", r)]
        lc = 256 * math.log(256 / row.zero_regs)
        assert abs(lc - n) <= max(3, 0.15 * n), (r, lc, n)


def test_modularity_two_cliques(spark):
    """Two disjoint triangles labelled by component: each contributes
    3/6 - (6/12)^2 = 0.25; Q = 0.5."""
    from crawler_spark.operators.hostrank import modularity
    tri1 = [("a", "b"), ("b", "c"), ("a", "c")]
    tri2 = [("x", "y"), ("y", "z"), ("x", "z")]
    edges = spark.createDataFrame(tri1 + tri2, "src string, dst string")
    labels = spark.createDataFrame(
        [(h, "c1") for h in "abc"] + [(h, "c2") for h in "xyz"],
        "host string, community string")
    out = {r["community"]: r for r in modularity(edges, labels).collect()}
    for c in ("c1", "c2"):
        assert out[c]["n_hosts"] == 3 and out[c]["e_in"] == 3
        assert out[c]["d_sum"] == 6 and out[c]["q_contrib"] == 0.25


def test_modularity_single_community_is_zero(spark):
    """Everything in one community -> Q = 1 - 1 = 0 (the null model)."""
    from crawler_spark.operators.hostrank import modularity
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d")], "src string, dst string")
    labels = spark.createDataFrame([(h, "all") for h in "abcd"],
                                   "host string, community string")
    row = modularity(edges, labels).collect()[0]
    assert row["q_contrib"] == 0.0 and row["e_in"] == 3
    # a singleton next to 80 edges: -(1/160)^2 rounds to zero, never -0.0
    # (DuckDB's round keeps the sign; the oracle adds 0.0 the same way)
    chain = [(f"n{i}", f"n{i + 1}") for i in range(80)]
    edges = spark.createDataFrame(chain, "src string, dst string")
    labels = spark.createDataFrame(
        [(f"n{i}", "leaf" if i == 80 else "rest") for i in range(81)],
        "host string, community string")
    leaf = {r["community"]: r["q_contrib"]
            for r in modularity(edges, labels).collect()}["leaf"]
    assert leaf == 0.0 and math.copysign(1.0, leaf) == 1.0


def test_modularity_ignores_direction_and_duplicates(spark):
    """Reciprocal/duplicate directed edges collapse to one undirected
    edge before any counting."""
    from crawler_spark.operators.hostrank import modularity
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("a", "b"), ("a", "a")],
        "src string, dst string")
    labels = spark.createDataFrame(
        [("a", "c1"), ("b", "c1")], "host string, community string")
    row = modularity(edges, labels).collect()[0]
    assert row["e_in"] == 1 and row["d_sum"] == 2
    assert row["q_contrib"] == 0.0  # 1/1 - (2/2)^2


def test_pagerank_residual_matches_sequential(spark):
    """Residual between iterations K-1 and K equals a sequential Python
    PageRank on the same graph; the integerized L1 is exact."""
    import math
    from crawler_spark.operators.hostrank import pagerank_residual
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("a", "c"), ("d", "a")]
    e = spark.createDataFrame(edges, "src string, dst string")
    out = pagerank_residual(e, iters=4, damping=0.85).collect()[0]

    hosts = sorted({h for p in edges for h in p})
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    r = {h: 1.0 for h in hosts}
    hist = [dict(r)]
    for _ in range(4):
        mass = {h: 0.0 for h in hosts}
        for s, d in edges:
            mass[d] += r[s] / outdeg[s]
        r = {h: 0.15 + 0.85 * mass[h] for h in hosts}
        hist.append(dict(r))
    deltas = [abs(hist[-1][h] - hist[-2][h]) for h in hosts]
    assert out["n_hosts"] == len(hosts)
    assert out["l1_residual_e8"] == sum(math.floor(d * 1e8) for d in deltas)
    assert abs(out["max_delta"] - round(max(deltas), 4)) <= 5e-5
