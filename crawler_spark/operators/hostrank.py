"""Host-rank priority: fixed-iteration PageRank over the host link graph.

The reference delegates crawl ordering entirely to spider's internal queue
(reference: src/scanner/scan.rs:38-48 just drives `website.crawl()`); the
north-rule instead asks for "a priority queue expressed as a depth/host-rank
window over the frontier DataFrame".  `plans/frontier` already ranks by
(priority, depth, url); this module supplies the *host-rank* dimension of
that key: a damped, fixed-iteration PageRank over the (src_host ->
dst_host) graph observed in crawled pages' outlinks, reduced to per-host
priority boosts that `_admit` folds into every admitted frontier row
(`priority + host_boost`, boost in [-1, 0]).  In-degree urgency (W1) keeps
ordering pages *within* a wave; host rank orders *hosts* across the whole
frontier — the classic OPIC/recrawl prioritization split.

Scale notes (10^10-URL design point):
- The host graph is 2-3 orders of magnitude smaller than the URL space
  (~10^7-10^8 hosts).  Each PageRank iteration is ONE shuffle join on
  `src` plus ONE groupBy on `dst`, both at host cardinality — far cheaper
  than any single crawl wave, and the boost join in `_admit` is an
  explicit broadcast (hosts dim << frontier).
- Lineage is cut per iteration (`localCheckpoint`); without it the plan
  doubles every iteration.  On a real cluster prefer
  `sc.setCheckpointDir` + `.checkpoint()` so the cut survives executor
  loss.
- Dangling hosts (no outlinks) simply contribute no mass: the
  non-normalized `r = (1-d) + d*sum(r_in/outdeg)` formulation is used.
  Priority only consumes the *ordering* of ranks, which matches the
  normalized variant; no global mass-redistribution shuffle is spent on
  a constant that cancels in the sort key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from crawler_spark.functions.canon import host_col


def host_edges(docs: DataFrame) -> DataFrame:
    """Distinct (src, dst) host edges from crawled documents.

    `docs` is the sink/store table `(doc_id=url_canon, spans, ...)`; link
    targets live in span rows with kind='link' (sources/parse.py).  Self
    edges are dropped — they only add a constant to a host's own rank.
    """
    return (docs
            .select(host_col(F.col("doc_id")).alias("src"),
                    F.explode(F.expr(
                        "filter(spans, s -> s.kind = 'link' AND s.media_ref != '')"
                    )).alias("s"))
            .select("src", host_col(F.col("s.media_ref")).alias("dst"))
            .where(F.col("src") != F.col("dst"))
            .distinct())


def pagerank_hosts(edges: DataFrame, iters: int = 5,
                   damping: float = 0.85,
                   teleport: DataFrame | None = None) -> DataFrame:
    """Fixed-iteration PageRank over distinct (src, dst) host edges.

    Returns (host, rank:double) for every host appearing as src or dst.
    rank_0 = tele(v); rank_{t+1}(v) = (1-d)·tele(v) + d · sum_{u→v}
    rank_t(u)/outdeg(u), where tele(v) = 1.0 everywhere by default
    (classic PageRank, the g1 contract unchanged) or the indicator of the
    `teleport` host set (PERSONALIZED PageRank — Haveliwala, WWW 2002:
    the damped random surfer restarts only at the seed hosts, so rank
    measures proximity to the topic seeds; the focused-crawl prior).
    Deterministic given the edge set — `iters` is fixed, not
    convergence-tested, so the result is reproducible across engines
    (the DuckDB oracle unrolls the same K iterations as chained CTEs).
    The teleport set is seed-list-sized: a broadcast flag join, no extra
    shuffle.
    """
    e = edges.select("src", "dst").distinct()
    hosts = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct())
    if teleport is None:
        hosts = hosts.withColumn("tele", F.lit(1.0))
    else:
        t = (teleport.select("host").distinct()
             .withColumn("_t", F.lit(1.0)))
        hosts = (hosts.join(F.broadcast(t), "host", "left")
                 .select("host", F.coalesce("_t", F.lit(0.0)).alias("tele")))
    hosts = hosts.localCheckpoint(eager=True)
    out = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    e_w = e.join(out, "src").localCheckpoint(eager=True)  # (src, dst, outdeg)
    ranks = hosts.select("host", F.col("tele").alias("rank"))
    for _ in range(iters):
        contrib = (e_w.join(ranks.withColumnRenamed("host", "src"), "src")
                   .groupBy(F.col("dst").alias("host"))
                   .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("mass")))
        ranks = (hosts.join(contrib, "host", "left")
                 .select("host",
                         (F.lit(1.0 - damping) * F.col("tele")
                          + F.lit(damping) * F.coalesce(F.col("mass"),
                                                        F.lit(0.0)))
                         .alias("rank"))
                 .localCheckpoint(eager=True))   # cut per-iteration lineage
    return ranks


def hostrank_boosts(ranks: DataFrame) -> DataFrame:
    """(host, host_boost) with boost = -0.99 * rank / max(rank) in (-1, 0).

    Scaled to STRICTLY sub-unit magnitude so the boost composes with
    in-degree priority (integral -n_refs) as a fractional cross-host
    tiebreak: host order is decided by rank between equal-in-degree URLs,
    while a heavily-cited URL always outranks any boost — the 0.99 keeps
    even the top-ranked host's boost from reaching a full in-degree unit,
    where it would tie (in_degree+1) on an unboosted host and hand the
    decision to the depth/url tiebreak.  Feed to
    `run_crawl(..., host_priorities=...)`.
    """
    mx = ranks.agg(F.max("rank").alias("mx"))
    return (ranks.crossJoin(F.broadcast(mx))
            .select("host",
                    (F.lit(-0.99) * F.col("rank") / F.col("mx"))
                    .alias("host_boost")))


def pagerank_oracle_sql(edges_cte: str, iters: int = 5,
                        damping: float = 0.85,
                        teleport_cte: str | None = None) -> str:
    """DuckDB twin of `pagerank_hosts`: the K iterations unrolled as
    chained CTEs (no recursive aggregate needed).  `edges_cte` must be a
    complete CTE body yielding DISTINCT (src, dst); `teleport_cte` (if
    given) one yielding the personalization hosts (host)."""
    d = damping
    ctes = [f"e AS ({edges_cte})",
            "h0 AS (SELECT src AS host FROM e UNION "
            "SELECT dst AS host FROM e)"]
    if teleport_cte is None:
        ctes.append("hosts AS (SELECT host, CAST(1.0 AS DOUBLE) AS tele "
                    "FROM h0)")
    else:
        ctes.append(f"tp AS ({teleport_cte})")
        ctes.append("hosts AS (SELECT h0.host, CASE WHEN tp.host IS NOT NULL "
                    "THEN 1.0 ELSE 0.0 END AS tele "
                    "FROM h0 LEFT JOIN (SELECT DISTINCT host FROM tp) tp "
                    "USING (host))")
    ctes += ["outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src)",
             "r0 AS (SELECT host, CAST(tele AS DOUBLE) AS rank FROM hosts)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"c{k} AS (SELECT e.dst AS host, SUM(r.rank / o.outdeg) AS mass "
            f"FROM e JOIN r{k-1} r ON r.host = e.src "
            f"JOIN outd o ON o.src = e.src GROUP BY e.dst)")
        ctes.append(
            f"r{k} AS (SELECT h.host, {1.0 - d} * h.tele "
            f"+ {d} * COALESCE(c.mass, 0) "
            f"AS rank FROM hosts h LEFT JOIN c{k} c USING (host))")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT host, ROUND(rank, 4) AS rank FROM r{iters}")


def pagerank_residual(edges: DataFrame, iters: int = 5,
                      damping: float = 0.85,
                      scale: int = 100_000_000) -> DataFrame:
    """Convergence diagnostics for the fixed-iteration PageRank contract
    (g1 runs K iterations, not a fixpoint test — this op measures what
    that truncation costs): the L1 residual and max per-host delta
    between iterations K-1 and K. A residual near zero certifies K was
    enough for the graph at hand; a large one tells the operator to
    raise `iters` before trusting W1's host priorities.

    Hash-gate discipline: the per-host |delta| is floored onto a 1e-8
    integer grid and SUMMED AS BIGINT — a float sum over host
    cardinality has engine-dependent accumulation order, an integer sum
    does not (floor on bit-identical doubles is deterministic). max
    |delta| is order-exact as a plain double MAX. Output one row:
    (n_hosts, l1_residual_e8 BIGINT, max_delta round 4).

    Scale shape: identical to pagerank_hosts (host-cardinality joins,
    lineage cut per iteration) + ONE extra host-keyed join of the final
    two rank vectors and a scalar rollup."""
    e = edges.select("src", "dst").distinct()
    hosts = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct().withColumn("tele", F.lit(1.0))
             .localCheckpoint(eager=True))
    out = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    e_w = e.join(out, "src").localCheckpoint(eager=True)
    ranks = hosts.select("host", F.col("tele").alias("rank"))
    prev = ranks
    for _ in range(iters):
        prev = ranks
        contrib = (e_w.join(ranks.withColumnRenamed("host", "src"), "src")
                   .groupBy(F.col("dst").alias("host"))
                   .agg(F.sum(F.col("rank") / F.col("outdeg"))
                        .alias("mass")))
        ranks = (hosts.join(contrib, "host", "left")
                 .select("host",
                         (F.lit(1.0 - damping) * F.col("tele")
                          + F.lit(damping) * F.coalesce(F.col("mass"),
                                                        F.lit(0.0)))
                         .alias("rank"))
                 .localCheckpoint(eager=True))
    j = (ranks.join(prev.withColumnRenamed("rank", "prev_rank"), "host")
         .select(F.abs(F.col("rank") - F.col("prev_rank")).alias("d")))
    return j.agg(
        F.count(F.lit(1)).cast("long").alias("n_hosts"),
        F.sum(F.floor(F.col("d") * scale)).cast("long")
        .alias("l1_residual_e8"),
        F.round(F.max("d"), 4).alias("max_delta"))


def pagerank_residual_oracle_sql(edges_cte: str, iters: int = 5,
                                 damping: float = 0.85,
                                 scale: int = 100_000_000) -> str:
    """DuckDB twin of `pagerank_residual`: the K-iteration unroll of
    `pagerank_oracle_sql` with BOTH r{K-1} and r{K} kept, reduced to the
    same integerized residual row."""
    d = damping
    ctes = [f"e AS ({edges_cte})",
            "h0 AS (SELECT src AS host FROM e UNION "
            "SELECT dst AS host FROM e)",
            "hosts AS (SELECT host, CAST(1.0 AS DOUBLE) AS tele FROM h0)",
            "outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src)",
            "r0 AS (SELECT host, CAST(tele AS DOUBLE) AS rank FROM hosts)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"c{k} AS (SELECT e.dst AS host, SUM(r.rank / o.outdeg) AS mass "
            f"FROM e JOIN r{k-1} r ON r.host = e.src "
            f"JOIN outd o ON o.src = e.src GROUP BY e.dst)")
        ctes.append(
            f"r{k} AS (SELECT h.host, {1.0 - d} * h.tele "
            f"+ {d} * COALESCE(c.mass, 0) "
            f"AS rank FROM hosts h LEFT JOIN c{k} c USING (host))")
    return ("WITH " + ",\n".join(ctes) + f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
       CAST(SUM(FLOOR(ABS(a.rank - b.rank) * {scale})) AS BIGINT)
         AS l1_residual_e8,
       ROUND(MAX(ABS(a.rank - b.rank)), 4) AS max_delta
FROM r{iters} a JOIN r{iters - 1} b USING (host)""")


def hits_hosts(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg) over distinct (src, dst) host edges:
    the hub/authority complement to PageRank for crawl prioritization —
    authorities are fetch targets, hubs are frontier-expansion sources.

    hub_0 = 1; per iteration: auth(v) = sum_{u->v} hub(u), hub(u) =
    sum_{u->v} auth(v), each sum-normalized (divide by the global sum, one
    scalar broadcast) so values stay bounded and deterministic.  Same scale
    shape as pagerank_hosts: per iteration two host-cardinality shuffles
    (join on src/dst + groupBy), lineage cut per iteration.  Returns
    (host, auth, hub) for every host appearing as src or dst."""
    e = edges.select("src", "dst").distinct()
    hosts = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct()
             .localCheckpoint(eager=True))
    hub = hosts.withColumn("hub", F.lit(1.0))
    auth = hosts.withColumn("auth", F.lit(0.0))
    for _ in range(iters):
        am = (e.join(hub.withColumnRenamed("host", "src"), "src")
              .groupBy(F.col("dst").alias("host"))
              .agg(F.sum("hub").alias("mass")))
        atot = am.agg(F.sum("mass").alias("t"))
        auth = (hosts.join(am, "host", "left")
                .crossJoin(F.broadcast(atot))
                .select("host", (F.coalesce(F.col("mass"), F.lit(0.0))
                                 / F.col("t")).alias("auth"))
                .localCheckpoint(eager=True))
        hm = (e.join(auth.withColumnRenamed("host", "dst"), "dst")
              .groupBy(F.col("src").alias("host"))
              .agg(F.sum("auth").alias("mass")))
        htot = hm.agg(F.sum("mass").alias("t"))
        hub = (hosts.join(hm, "host", "left")
               .crossJoin(F.broadcast(htot))
               .select("host", (F.coalesce(F.col("mass"), F.lit(0.0))
                                / F.col("t")).alias("hub"))
               .localCheckpoint(eager=True))
    return auth.join(hub, "host")


def hits_oracle_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB twin of `hits_hosts`: the K iterations unrolled as chained
    CTEs, sum-normalized exactly like the engine side."""
    ctes = [f"e AS ({edges_cte})",
            "hosts AS (SELECT src AS host FROM e UNION "
            "SELECT dst AS host FROM e)",
            "h0 AS (SELECT host, CAST(1.0 AS DOUBLE) AS hub FROM hosts)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"am{k} AS (SELECT e.dst AS host, SUM(h.hub) AS mass "
            f"FROM e JOIN h{k-1} h ON h.host = e.src GROUP BY e.dst)")
        ctes.append(
            f"a{k} AS (SELECT h.host, COALESCE(m.mass, 0) "
            f"/ (SELECT SUM(mass) FROM am{k}) AS auth "
            f"FROM hosts h LEFT JOIN am{k} m USING (host))")
        ctes.append(
            f"hm{k} AS (SELECT e.src AS host, SUM(a.auth) AS mass "
            f"FROM e JOIN a{k} a ON a.host = e.dst GROUP BY e.src)")
        ctes.append(
            f"h{k} AS (SELECT h.host, COALESCE(m.mass, 0) "
            f"/ (SELECT SUM(mass) FROM hm{k}) AS hub "
            f"FROM hosts h LEFT JOIN hm{k} m USING (host))")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT host, ROUND(a.auth, 4) AS auth, "
            f"ROUND(h.hub, 4) AS hub "
            f"FROM a{iters} a JOIN h{iters} h USING (host)")


def hop_distance(edges: DataFrame, seeds: DataFrame,
                 max_hops: int = 6) -> DataFrame:
    """BFS hop distance from a seed-host set over distinct (src, dst) host
    edges: (host, hops) with hops = length of the shortest directed path
    from any seed (seeds themselves at 0), up to `max_hops`. The crawl-
    planning view of the webgraph — how deep a frontier must go to reach a
    host, and the graph twin of the wave loop itself: each iteration is
    exactly the engine's expand + seen-anti-join admission shape (J1).

    Per hop: one join frontier⋈edges at host cardinality, a distinct, and
    an anti-join against the settled set; lineage cut per hop
    (localCheckpoint, as in pagerank/hits/CC). Early-exits when the
    frontier drains. Unreached hosts are absent from the output (the
    oracle's min-over-paths semantics under the same cap).
    """
    e = edges.select("src", "dst").distinct()
    dist = (seeds.select(F.col("host"), F.lit(0).alias("hops"))
            .distinct().localCheckpoint(eager=True))
    frontier = dist
    for i in range(1, max_hops + 1):
        nxt = (frontier.join(e, frontier["host"] == e["src"])
               .select(F.col("dst").alias("host"),
                       F.lit(i).alias("hops"))
               .distinct()
               .join(dist.select("host"), "host", "left_anti")
               .localCheckpoint(eager=True))
        if not nxt.take(1):
            break
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return dist


def hop_distance_oracle_sql(edges_cte: str, seeds_sql: str,
                            max_hops: int = 6) -> str:
    """Recursive-CTE twin of `hop_distance`: enumerate (host, hops) pairs
    breadth-first under the hop cap, then keep the minimum per host —
    identical to BFS's first-visit distance for every host whose shortest
    path fits the cap."""
    return f"""
WITH RECURSIVE e AS ({edges_cte}),
walk AS (
  SELECT host, 0 AS hops FROM ({seeds_sql})
  UNION
  SELECT e.dst AS host, walk.hops + 1 AS hops
  FROM walk JOIN e ON e.src = walk.host
  WHERE walk.hops < {max_hops}
)
SELECT host, CAST(min(hops) AS INT) AS hops FROM walk GROUP BY host
"""


def resolve_redirects(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Redirect-chain resolution by POINTER DOUBLING: for every source of a
    redirect edge (src -> dst, at most one outgoing per src), find the node
    reached after following up to 2^rounds hops — the final landing URL of
    a 3xx chain, with cycles surfaced instead of looping forever.

    Output: (src, final, hops INT, resolved INT) — resolved=1 iff `final`
    has no outgoing redirect (a terminal URL); chains longer than
    2^rounds hops (in practice: redirect loops) come back resolved=0 at
    exactly 2^rounds hops.

    Scale shape: pointer jumping, NOT a linear chase — round k composes
    the map with itself (f_{k+1}(u) = f_k(f_k(u)), hop counts add), so a
    length-L chain settles in ceil(log2 L) self-joins at edge cardinality
    instead of L sequential joins; lineage cut per round. This is the
    O(log n) list-ranking technique (Wyllie); 4 rounds cover the 16-hop
    cap real fetchers enforce (curl/browsers stop near 20).
    """
    f = edges.select(F.col("src").alias("node"), F.col("dst").alias("ptr"),
                     F.lit(1).alias("hops")).localCheckpoint(eager=True)
    for _ in range(rounds):
        nxt = f.select(F.col("node").alias("_n2"), F.col("ptr").alias("_p2"),
                       F.col("hops").alias("_h2"))
        f = (f.join(nxt, f["ptr"] == nxt["_n2"], "left")
             .select(F.col("node"),
                     F.coalesce(F.col("_p2"), F.col("ptr")).alias("ptr"),
                     (F.col("hops")
                      + F.coalesce(F.col("_h2"), F.lit(0))).alias("hops"))
             .localCheckpoint(eager=True))
    srcs = edges.select(F.col("src").alias("ptr")).distinct() \
                .withColumn("_has_out", F.lit(1))
    return (f.join(srcs, "ptr", "left")
            .select(F.col("node").alias("src"), F.col("ptr").alias("final"),
                    F.col("hops").cast("int").alias("hops"),
                    F.when(F.col("_has_out").isNull(), 1).otherwise(0)
                     .cast("int").alias("resolved")))


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-host triangle participation over the undirected host link graph
    — the cohesion signal behind link-farm / mirror-ring detection (a host
    whose neighborhood is a clique is a spam cluster candidate; a host
    bridging sparse neighborhoods is navigational).

    Input: directed (src, dst) edges; direction and duplicates are erased
    (canonical u<v pairs, distinct). Output: (host, n_triangles BIGINT)
    for every host that closes at least one triangle.

    Scale shape — the DEGREE-ORDERED orientation (Cohen 2009 / the
    MapReduce "node-iterator++"): every edge is oriented from the
    endpoint with (degree, id)-smaller rank to the larger, so each
    wedge-generating join key is a node's OUT-neighborhood, bounded by
    O(sqrt(m)) regardless of raw degree — a Zipf hub with 10^7 links
    contributes wedges only through its few higher-rank neighbors instead
    of 10^14 pairs. Three shuffles at edge/wedge cardinality (rank join,
    wedge gen, closing-edge semi-join); the triangle set is orientation-
    independent, so the lexicographic oracle matches exactly.
    """
    und = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .where(F.col("u") != F.col("v")).distinct())
    deg = (und.select(F.col("u").alias("node"))
           .unionAll(und.select(F.col("v").alias("node")))
           .groupBy("node").agg(F.count("*").alias("d")))
    # total order: (degree, node) — ties broken by id so the orientation
    # is acyclic; rank table is host-cardinality (broadcastable).
    ranked = deg.select("node", F.struct("d", "node").alias("rk"))
    oriented = (und
                .join(F.broadcast(ranked.withColumnRenamed("node", "u")
                                  .withColumnRenamed("rk", "rku")), "u")
                .join(F.broadcast(ranked.withColumnRenamed("node", "v")
                                  .withColumnRenamed("rk", "rkv")), "v")
                .select(F.when(F.col("rku") < F.col("rkv"), F.col("u"))
                         .otherwise(F.col("v")).alias("lo"),
                        F.when(F.col("rku") < F.col("rkv"), F.col("v"))
                         .otherwise(F.col("u")).alias("hi"),
                        F.when(F.col("rku") < F.col("rkv"), F.col("rkv"))
                         .otherwise(F.col("rku")).alias("rk_hi")))
    a = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("x"),
                        F.col("rk_hi").alias("rx"))
    b = oriented.select(F.col("lo").alias("p"), F.col("hi").alias("y"),
                        F.col("rk_hi").alias("ry"))
    wedges = (a.join(b, "p")
              .where(F.col("rx") < F.col("ry"))
              .select("p", "x", "y"))
    closing = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    tris = wedges.join(closing, ["x", "y"])  # (p, x, y) is a triangle
    part = (tris.select(F.col("p").alias("host"))
            .unionAll(tris.select(F.col("x").alias("host")))
            .unionAll(tris.select(F.col("y").alias("host"))))
    return part.groupBy("host").agg(F.count("*").cast("long")
                                    .alias("n_triangles"))


def triangle_oracle_sql(edges_cte: str) -> str:
    """DuckDB twin of triangle_counts: lexicographic a<b<c three-way join
    over the canonicalized undirected edge set, then per-host rollup of
    triangle memberships."""
    return f"""
WITH e0 AS ({edges_cte}),
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e0 WHERE src <> dst),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
part AS (SELECT a AS host FROM tri UNION ALL
         SELECT b FROM tri UNION ALL
         SELECT c FROM tri)
SELECT host, CAST(count(*) AS BIGINT) AS n_triangles
FROM part GROUP BY host
"""


def opic_hosts(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Fixed-iteration OPIC (On-line Page Importance Computation,
    Abiteboul/Preda/Cobena, WWW 2003) over distinct (src, dst) host edges
    — the frontier-prioritization algorithm designed FOR crawlers: unlike
    PageRank (g1) it needs no convergence sweep over the whole graph
    before it is useful; importance accumulates while the crawl runs.

    Semantics (the unrolled-oracle contract):
      cash_0(v) = 1.0, hist_0(v) = 0.0 for every host (src ∪ dst);
      each iteration, every host banks its cash into history and
      distributes it equally over its out-edges; hosts with no out-edges
      (dangling) pay their cash into a pot split uniformly over ALL
      hosts next iteration (the paper's virtual node, inlined):
        hist_{t+1}(v) = hist_t(v) + cash_t(v)
        cash_{t+1}(v) = Σ_{u→v} cash_t(u)/outdeg(u) + dangling_t/n
      importance after K iterations = hist_K (cash_K returned too — the
      'current wave attention' the admission window can boost on).

    Scale shape: identical to pagerank_hosts — per iteration one join on
    src + one groupBy dst at HOST cardinality (2-3 orders below URL
    cardinality), plus a host-anti-join scalar for the dangling pot
    (broadcast, one row); localCheckpoint cuts lineage per iteration.
    Reference: spider prioritizes implicitly by discovery order
    (Website::crawl_concurrent drain loop); OPIC is the principled
    replacement feeding run_crawl(host_priorities=) via hostrank_boosts.
    """
    e = edges.select("src", "dst").distinct()
    hosts = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct()
             .localCheckpoint(eager=True))
    n = float(hosts.count())
    out = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    e_w = e.join(out, "src").localCheckpoint(eager=True)
    srcs = out.select(F.col("src").alias("host")).localCheckpoint(eager=True)
    state = hosts.select("host", F.lit(1.0).alias("cash"),
                         F.lit(0.0).alias("hist"))
    for _ in range(iters):
        dang = (state.join(srcs, "host", "left_anti")
                .agg(F.coalesce(F.sum("cash"), F.lit(0.0)).alias("dang")))
        inflow = (e_w.join(state.select(F.col("host").alias("src"), "cash"),
                           "src")
                  .groupBy(F.col("dst").alias("host"))
                  .agg(F.sum(F.col("cash") / F.col("outdeg"))
                       .alias("inflow")))
        state = (state.join(inflow, "host", "left")
                 .crossJoin(F.broadcast(dang))
                 .select("host",
                         (F.coalesce(F.col("inflow"), F.lit(0.0))
                          + F.col("dang") / F.lit(n)).alias("cash"),
                         (F.col("hist") + F.col("cash")).alias("hist"))
                 .localCheckpoint(eager=True))
    return state.select("host", F.round("hist", 4).alias("importance"),
                        F.round("cash", 4).alias("cash"))


def opic_oracle_sql(edges_cte: str, iters: int = 4) -> str:
    """DuckDB twin of `opic_hosts`: the K iterations unrolled as chained
    CTEs (dangling pot as a one-row scalar CTE per iteration)."""
    ctes = [f"e AS ({edges_cte})",
            "hosts AS (SELECT src AS host FROM e UNION "
            "SELECT dst AS host FROM e)",
            "nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM hosts)",
            "outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src)",
            "s0 AS (SELECT host, CAST(1.0 AS DOUBLE) AS cash, "
            "CAST(0.0 AS DOUBLE) AS hist FROM hosts)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"d{k} AS (SELECT COALESCE(sum(cash), 0) AS dang FROM s{k-1} "
            f"WHERE host NOT IN (SELECT src FROM outd))")
        ctes.append(
            f"i{k} AS (SELECT e.dst AS host, sum(s.cash / o.outdeg) AS infl "
            f"FROM e JOIN s{k-1} s ON s.host = e.src "
            f"JOIN outd o ON o.src = e.src GROUP BY e.dst)")
        ctes.append(
            f"s{k} AS (SELECT s.host, "
            f"COALESCE(i.infl, 0) + d.dang / nn.n AS cash, "
            f"s.hist + s.cash AS hist "
            f"FROM s{k-1} s LEFT JOIN i{k} i USING (host) "
            f"CROSS JOIN d{k} d CROSS JOIN nn)")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT host, ROUND(hist, 4) AS importance, "
              f"ROUND(cash, 4) AS cash FROM s{iters}")


def bowtie_classes(edges: DataFrame, max_hops: int = 8) -> DataFrame:
    """Bow-tie decomposition of the host graph (Broder et al., "Graph
    structure in the Web", WWW 2000): classify every host relative to the
    strongly connected component of a deterministic pivot (the
    max-degree host, ties to the lexicographically smallest) —

      CORE          pivot's SCC: forward- AND backward-reachable
      IN            reaches the core but is not reached by it
      OUT           reached by the core but cannot reach back
      TENDRIL       weakly connected to the core but in none of the
                    above (Broder's TENDRILS + TUBES, merged — the
                    classic split needs two more BFS runs; this is the
                    crawl-planning signal: seed coverage misses these
                    unless a seed lands inside)
      DISCONNECTED  a different weak component entirely

    The crawl-strategy readout: seeds inside IN+CORE cover CORE+OUT by
    frontier expansion alone; OUT/TENDRIL/DISCONNECTED mass measures how
    much of the web a pure link-following crawl abandons (why sitemap +
    robots discovery seeding exists, S4).

    Membership is bounded-BFS within `max_hops` (three `hop_distance`
    legs: forward, reversed, undirected), so the result is deterministic
    given the edge set — the DuckDB oracle runs the same three capped
    walks. At web diameters (Broder measured ~16-21 directed) raise the
    cap; classification error from a too-small cap moves distant CORE/
    IN/OUT hosts into TENDRIL, identically in both engines.

    Scale shape: pivot is one aggregate + global top-1
    (TakeOrderedAndProject); each BFS hop is a frontier⋈edges join +
    distinct + anti-join at host cardinality with per-hop lineage cuts;
    the final classification is three host-cardinality left joins (reach
    sets are O(hosts) — no broadcast assumption). Everything shuffles on
    the host key; no step is quadratic in edges.
    """
    e = (edges.select("src", "dst").where(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=True))
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    und = e.unionByName(rev).distinct()
    ends = e.select(F.col("src").alias("host")) \
            .unionAll(e.select(F.col("dst").alias("host")))
    hosts = ends.distinct()
    pv = (ends.groupBy("host").agg(F.count("*").alias("c"))
          .orderBy(F.desc("c"), F.asc("host")).limit(1).select("host"))
    pv = pv.localCheckpoint(eager=True)  # pivot computed once, not per leg
    # The three BFS legs are independent and each is a chain of ~max_hops
    # TINY Spark jobs (eager per-hop lineage cuts) — serial execution is
    # scheduler-latency-bound, not compute-bound. Submit the legs as
    # concurrent jobs from worker threads (supported: one SparkContext,
    # many job groups); results are deterministic either way.
    from concurrent.futures import ThreadPoolExecutor

    def leg(arg):
        name, g = arg
        return (hop_distance(g, pv, max_hops=max_hops)
                .select("host").withColumn(name, F.lit(1)))

    with ThreadPoolExecutor(max_workers=3) as ex:
        fwd, bwd, u = list(ex.map(leg, (("_f", e), ("_b", rev),
                                        ("_u", und))))
    cls = (F.when(F.col("_f").isNotNull() & F.col("_b").isNotNull(),
                  F.lit("CORE"))
           .when(F.col("_b").isNotNull(), F.lit("IN"))
           .when(F.col("_f").isNotNull(), F.lit("OUT"))
           .when(F.col("_u").isNotNull(), F.lit("TENDRIL"))
           .otherwise(F.lit("DISCONNECTED")))
    return (hosts.join(fwd, "host", "left").join(bwd, "host", "left")
            .join(u, "host", "left")
            .select("host", cls.alias("bowtie")))


def bowtie_oracle_sql(edges_cte: str, max_hops: int = 8) -> str:
    """DuckDB twin of `bowtie_classes`: the same pivot rule and three
    capped recursive walks. NOTE the engine quirk this builder works
    around: under `WITH RECURSIVE`, DuckDB 1.0 does NOT de-duplicate a
    plain `UNION` inside a non-self-referencing CTE — every derived set
    here spells `SELECT DISTINCT ... UNION ALL ...` explicitly."""
    k = max_hops
    return f"""
WITH RECURSIVE e AS (SELECT DISTINCT src, dst FROM ({edges_cte})
                     WHERE src <> dst),
re AS (SELECT dst AS src, src AS dst FROM e),
ue AS (SELECT DISTINCT src, dst FROM
       (SELECT src, dst FROM e UNION ALL SELECT src, dst FROM re)),
hosts AS (SELECT DISTINCT host FROM
          (SELECT src AS host FROM e UNION ALL SELECT dst AS host FROM e)),
deg AS (SELECT host, count(*) AS c FROM
        (SELECT src AS host FROM e UNION ALL SELECT dst AS host FROM e)
        GROUP BY host),
pv AS (SELECT host FROM deg ORDER BY c DESC, host LIMIT 1),
fwd AS (SELECT host, 0 AS hops FROM pv
        UNION SELECT e.dst, fwd.hops + 1 FROM fwd
        JOIN e ON e.src = fwd.host WHERE fwd.hops < {k}),
bwd AS (SELECT host, 0 AS hops FROM pv
        UNION SELECT re.dst, bwd.hops + 1 FROM bwd
        JOIN re ON re.src = bwd.host WHERE bwd.hops < {k}),
und AS (SELECT host, 0 AS hops FROM pv
        UNION SELECT ue.dst, und.hops + 1 FROM und
        JOIN ue ON ue.src = und.host WHERE und.hops < {k})
SELECT h.host,
       CASE WHEN f.host IS NOT NULL AND b.host IS NOT NULL THEN 'CORE'
            WHEN b.host IS NOT NULL THEN 'IN'
            WHEN f.host IS NOT NULL THEN 'OUT'
            WHEN u.host IS NOT NULL THEN 'TENDRIL'
            ELSE 'DISCONNECTED' END AS bowtie
FROM hosts h
LEFT JOIN (SELECT DISTINCT host FROM fwd) f USING (host)
LEFT JOIN (SELECT DISTINCT host FROM bwd) b USING (host)
LEFT JOIN (SELECT DISTINCT host FROM und) u USING (host)
"""


def lpa_communities(edges: DataFrame, iters: int = 4) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan,
    Albert & Kumara 2007) over the undirected host graph: every host
    starts as its own label; each iteration every host adopts the most
    frequent label among its neighbors, ties broken by the
    lexicographically smallest label. The host-graph view of mirror
    farms / site networks: a community that spans many hosts with dense
    interlinking is one "site" for crawl-budget purposes (cf. the DUST
    and alias rules, f10), where CC (g3) would also merge hosts joined
    by a single stray link.

    Classic LPA is randomized and order-dependent; this variant is the
    deterministic synchronous form — fixed `iters`, min-label
    tie-breaks — so both engines produce identical labels (the oracle
    unrolls the same K votes). Labels after K rounds are a K-hop local
    vote, not a fixpoint; raise `iters` for bigger diameters,
    identically in both engines.

    Scale shape per iteration: one join labels⋈edges at edge
    cardinality (shuffle on host), one partial-agged groupBy
    (host, label), one per-host window (rank over label counts —
    bounded by degree, so Zipf hubs cost their degree, never degree²);
    lineage cut per round like pagerank/CC."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    und = (e.unionByName(e.select(F.col("dst").alias("src"),
                                  F.col("src").alias("dst")))
           .distinct().localCheckpoint(eager=True))
    labels = (und.select(F.col("src").alias("host")).distinct()
              .withColumn("label", F.col("host"))
              .localCheckpoint(eager=True))
    w = Window.partitionBy("host").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(iters):
        votes = (und.join(labels.withColumnRenamed("host", "dst"), "dst")
                 .groupBy(F.col("src").alias("host"), F.col("label"))
                 .agg(F.count("*").alias("c")))
        labels = (votes.withColumn("_rn", F.row_number().over(w))
                  .where(F.col("_rn") == 1)
                  .select("host", "label")
                  .localCheckpoint(eager=True))
    return labels.select("host", F.col("label").alias("community"))


def lpa_oracle_sql(edges_cte: str, iters: int = 4) -> str:
    """DuckDB twin of `lpa_communities`: K unrolled synchronous votes.
    Explicit SELECT DISTINCT everywhere (the WITH RECURSIVE UNION
    dedup quirk does not bite here — no recursion — but the house rule
    from g13 keeps derived sets explicit)."""
    ctes = [f"e0 AS (SELECT DISTINCT src, dst FROM ({edges_cte}) "
            "WHERE src <> dst)",
            "ue AS (SELECT DISTINCT src, dst FROM (SELECT src, dst FROM e0 "
            "UNION ALL SELECT dst, src FROM e0))",
            "l0 AS (SELECT DISTINCT src AS host, src AS label FROM ue)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"l{k} AS (SELECT host, label FROM ("
            f"SELECT u.src AS host, l.label, "
            f"row_number() OVER (PARTITION BY u.src "
            f"ORDER BY count(*) DESC, l.label) AS rn "
            f"FROM ue u JOIN l{k-1} l ON l.host = u.dst "
            f"GROUP BY u.src, l.label) WHERE rn = 1)")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT host, label AS community FROM l{iters}")


def hyperanf(edges: DataFrame, max_hops: int = 4) -> DataFrame:
    """HyperANF (Boldi, Rosa & Vigna, WWW 2011): the neighborhood
    function over the host graph via HLL-register BFS — per host, an
    estimate of |ball(v, r)| (nodes reachable in <= r directed hops,
    v included) for every r in 0..max_hops, from which effective
    diameter and centrality fall out. Exact BFS per node is O(n) BFS
    runs (hop_distance is ONE multi-source run); HyperANF is the
    10^8-host answer: each node carries a 256-register HLL of its ball,
    and one round is register-wise max over out-neighbors.

    Representation is the gate-critical choice: registers live in LONG
    form (host, reg, mj) — ks4's cross-engine-exact algebra (md5 reg
    index, bin()-length ranks, integerized harmonic sum) — so a round
    is UNION ALL(state, edges ⋈ state) + groupBy(host, reg).max(mj):
    plain partial-agged shuffles, no array fold, no floats until the
    one final division per (host, round). At most 256 rows per host
    regardless of ball size — state is O(hosts), never O(hosts^2)
    like materialized balls.

    Returns (host, hops, regs_used, zero_regs, ball_est) for every
    round; lineage cut per round like pagerank/CC."""
    from crawler_spark.operators.sketches import _HLL_M, _HLL_NUMER
    nodes = (edges.select(F.col("src").alias("host"))
             .unionByName(edges.select(F.col("dst").alias("host")))
             .distinct())
    hx = F.md5(F.col("host"))
    v = F.conv(F.substring(hx, 3, 13), 16, 10).cast("long")
    rank = (F.when(v == 0, F.lit(53))
            .otherwise(F.lit(53) - F.length(F.bin(v)))).cast("int")
    state = (nodes.select(
                "host",
                F.conv(F.substring(hx, 1, 2), 16, 10).cast("int")
                 .alias("reg"),
                rank.alias("mj"))
             .localCheckpoint(eager=True))

    def est(s: DataFrame, r: int) -> DataFrame:
        per = (s.groupBy("host")
               .agg(F.count("*").cast("int").alias("regs_used"),
                    F.sum(F.expr("shiftleft(1L, 53 - mj)"))
                    .cast("long").alias("_s")))
        zero = (F.lit(_HLL_M) - F.col("regs_used")).cast("int")
        tot = (F.col("_s")
               + zero.cast("long") * F.lit(1 << 53).cast("long"))
        return per.select(
            "host", F.lit(r).cast("long").alias("hops"), "regs_used",
            zero.alias("zero_regs"),
            F.round(F.lit(_HLL_NUMER) / tot.cast("double"), 4)
            .alias("ball_est"))

    out = est(state, 0)
    for r in range(1, max_hops + 1):
        prop = (edges.join(state.withColumnRenamed("host", "dst"), "dst")
                .select(F.col("src").alias("host"), "reg", "mj"))
        state = (state.unionByName(prop)
                 .groupBy("host", "reg")
                 .agg(F.max("mj").alias("mj"))
                 .localCheckpoint(eager=True))
        out = out.unionByName(est(state, r))
    return out


def hyperanf_oracle_sql(edges_cte: str, max_hops: int = 4) -> str:
    """DuckDB twin of `hyperanf`: max_hops unrolled register rounds as
    MATERIALIZED CTEs (non-materialized chains re-inline the whole
    prefix per reference — the tk1 lesson), same integer register
    algebra as the ks4 oracle."""
    ctes = [f"e AS MATERIALIZED (SELECT DISTINCT src, dst "
            f"FROM ({edges_cte}))",
            "n AS MATERIALIZED (SELECT DISTINCT host FROM ("
            "SELECT src AS host FROM e UNION ALL "
            "SELECT dst AS host FROM e))",
            "s0 AS MATERIALIZED (SELECT host, "
            "('0x' || substr(md5(host), 1, 2))::BIGINT AS reg, "
            "CASE WHEN ('0x' || substr(md5(host), 3, 13))::BIGINT = 0 "
            "THEN 53 ELSE 53 - length(bin(('0x' || substr(md5(host), 3, "
            "13))::BIGINT)) END AS mj FROM n)"]
    for r in range(1, max_hops + 1):
        ctes.append(
            f"s{r} AS MATERIALIZED (SELECT host, reg, MAX(mj) AS mj "
            f"FROM (SELECT host, reg, mj FROM s{r-1} UNION ALL "
            f"SELECT e.src AS host, s.reg, s.mj FROM e "
            f"JOIN s{r-1} s ON s.host = e.dst) GROUP BY 1, 2)")
    legs = []
    for r in range(max_hops + 1):
        legs.append(
            f"SELECT host, CAST({r} AS BIGINT) AS hops, regs_used, "
            f"CAST(256 - regs_used AS INT) AS zero_regs, "
            f"round(4.2399330249068963e+20 / CAST(s_used + "
            f"CAST(256 - regs_used AS BIGINT) * 9007199254740992 "
            f"AS DOUBLE), 4) AS ball_est FROM ("
            f"SELECT host, CAST(count(*) AS INT) AS regs_used, "
            f"CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT) AS s_used "
            f"FROM s{r} GROUP BY host)")
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(legs))


def salsa_hosts(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Fixed-iteration SALSA (Lempel & Moran, WWW 2000) over distinct
    (src, dst) host edges: the degree-normalized stochastic sibling of
    HITS — each step is a random-walk transition on the bipartite
    hub/authority graph instead of HITS' raw mutual reinforcement, which
    makes it resistant to the Tightly-Knit-Community effect (a dense
    clique can't inflate its own scores because every hop divides by
    degree). The production link-ranking choice of large social/web
    graphs (e.g. Twitter's GraphJet runs a sampled SALSA).

    h_0 = 1; per iteration: auth(v) = sum_{u->v} hub(u)/outdeg(u),
    hub(u) = sum_{u->v} auth(v)/indeg(v), each sum-normalized (one scalar
    broadcast) exactly like `hits_hosts`, so the two operators differ
    ONLY by the degree weights. Scale shape identical to HITS/PageRank:
    per iteration two host-cardinality shuffles (join on src/dst +
    groupBy) with a lineage cut; degree dims are computed once and
    re-joined (host cardinality, 2-3 orders below URLs).
    """
    e = edges.select("src", "dst").distinct().localCheckpoint(eager=True)
    hosts = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct()
             .localCheckpoint(eager=True))
    outd = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    ind = e.groupBy("dst").agg(F.count("*").alias("indeg"))
    # weighted edges carry the walk probabilities once, reused every round
    ew = (e.join(outd, "src").join(ind, "dst")
          .select("src", "dst", "outdeg", "indeg")
          .localCheckpoint(eager=True))
    hub = hosts.withColumn("hub", F.lit(1.0))
    auth = hosts
    for _ in range(iters):
        am = (ew.join(hub.withColumnRenamed("host", "src"), "src")
              .groupBy(F.col("dst").alias("host"))
              .agg(F.sum(F.col("hub") / F.col("outdeg")).alias("mass")))
        atot = am.agg(F.sum("mass").alias("t"))
        auth = (hosts.join(am, "host", "left")
                .crossJoin(F.broadcast(atot))
                .select("host", (F.coalesce(F.col("mass"), F.lit(0.0))
                                 / F.col("t")).alias("auth"))
                .localCheckpoint(eager=True))
        hm = (ew.join(auth.withColumnRenamed("host", "dst"), "dst")
              .groupBy(F.col("src").alias("host"))
              .agg(F.sum(F.col("auth") / F.col("indeg")).alias("mass")))
        htot = hm.agg(F.sum("mass").alias("t"))
        hub = (hosts.join(hm, "host", "left")
               .crossJoin(F.broadcast(htot))
               .select("host", (F.coalesce(F.col("mass"), F.lit(0.0))
                                / F.col("t")).alias("hub"))
               .localCheckpoint(eager=True))
    return auth.join(hub, "host")


def salsa_oracle_sql(edges_cte: str, iters: int = 3) -> str:
    """DuckDB twin of `salsa_hosts`: K iterations unrolled as chained
    CTEs with the same degree weights and sum normalization."""
    ctes = [f"e AS (SELECT DISTINCT src, dst FROM ({edges_cte}))",
            "hosts AS (SELECT src AS host FROM e UNION "
            "SELECT dst AS host FROM e)",
            "outd AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src)",
            "ind AS (SELECT dst, COUNT(*) AS indeg FROM e GROUP BY dst)",
            "ew AS (SELECT e.src, e.dst, o.outdeg, i.indeg FROM e "
            "JOIN outd o USING (src) JOIN ind i USING (dst))",
            "h0 AS (SELECT host, CAST(1.0 AS DOUBLE) AS hub FROM hosts)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"am{k} AS (SELECT ew.dst AS host, "
            f"SUM(h.hub / ew.outdeg) AS mass "
            f"FROM ew JOIN h{k-1} h ON h.host = ew.src GROUP BY ew.dst)")
        ctes.append(
            f"a{k} AS (SELECT h.host, COALESCE(m.mass, 0) "
            f"/ (SELECT SUM(mass) FROM am{k}) AS auth "
            f"FROM hosts h LEFT JOIN am{k} m USING (host))")
        ctes.append(
            f"hm{k} AS (SELECT ew.src AS host, "
            f"SUM(a.auth / ew.indeg) AS mass "
            f"FROM ew JOIN a{k} a ON a.host = ew.dst GROUP BY ew.src)")
        ctes.append(
            f"h{k} AS (SELECT h.host, COALESCE(m.mass, 0) "
            f"/ (SELECT SUM(mass) FROM hm{k}) AS hub "
            f"FROM hosts h LEFT JOIN hm{k} m USING (host))")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT host, ROUND(a.auth, 4) AS auth, "
            f"ROUND(h.hub, 4) AS hub "
            f"FROM a{iters} a JOIN h{iters} h USING (host)")


def harmonic_centrality(edges: DataFrame, max_hops: int = 4) -> DataFrame:
    """Harmonic centrality via HyperBall (Boldi & Vigna, "In-Core
    Computation of Geometric Centralities with HyperBall", 2013):
    H(v) = sum_{t>=1} (|B_in(v,t)| - |B_in(v,t-1)|) / t — each node at
    distance t contributes 1/t, estimated from the SAME HLL register BFS
    as `hyperanf`, run on the REVERSED graph (classic harmonic counts
    nodes that can REACH v). The web-graph centrality Boldi-Vigna
    recommend over closeness (finite on disconnected graphs, rewards
    short in-paths) — at 10^8 hosts the exact all-pairs version is off
    the table and this sketch IS the published production method.

    Ball deltas are combined in a FIXED pivot order (one conditional agg
    per round, then a literal expression tree), never a float SUM over
    rows, so the value is bit-stable cross-engine given hyperanf's
    bit-exact per-round estimates. Scale: one extra host-cardinality
    groupBy over hyperanf's output."""
    rev = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    anf = hyperanf(rev, max_hops=max_hops)
    per = anf.groupBy("host").agg(*[
        F.max(F.when(F.col("hops") == r, F.col("ball_est")))
        .alias(f"b{r}") for r in range(max_hops + 1)])
    h = F.lit(0.0)
    for t in range(1, max_hops + 1):
        h = h + (F.col(f"b{t}") - F.col(f"b{t-1}")) / F.lit(float(t))
    return per.select("host", F.round(h, 4).alias("harmonic"))


def harmonic_oracle_sql(edges_cte: str, max_hops: int = 4) -> str:
    """DuckDB twin of `harmonic_centrality`: hyperanf's unrolled oracle
    on the reversed edge set, pivoted with the same fixed-order delta
    expression."""
    rev = (f"SELECT dst AS src, src AS dst FROM ({edges_cte})")
    inner = hyperanf_oracle_sql(rev, max_hops=max_hops)
    cases = ", ".join(
        f"MAX(CASE WHEN hops = {r} THEN ball_est END) AS b{r}"
        for r in range(max_hops + 1))
    expr = " + ".join(f"(b{t} - b{t-1}) / {float(t)}"
                      for t in range(1, max_hops + 1))
    return (f"WITH anf AS (SELECT * FROM ({inner})), "
            f"p AS (SELECT host, {cases} FROM anf GROUP BY host) "
            f"SELECT host, round({expr}, 4) AS harmonic FROM p")


def effective_diameter(edges: DataFrame, max_hops: int = 4,
                       q: float = 0.9) -> DataFrame:
    """Effective diameter of the host graph (Boldi-Vigna HyperANF's
    headline statistic): the interpolated hop count t at which the
    neighborhood function NF(t) = sum_v |B(v,t)| reaches q * NF(max).
    The crawl-planning number — how many waves reach 90% of all
    reachable (v, u) pairs.

    Small-range correction is NOT optional here: g16 exports the raw
    HLL estimator (plus zero_regs) by contract, but the raw estimate
    compresses the growth of small balls so badly that a 5-node path's
    NF(0) can already exceed 0.9*NF(max) — a 0.0 "diameter". This
    operator therefore applies Flajolet's linear counting where it is
    the published estimator of choice (zero_regs > 0 and raw <= 2.5m):
    ball = m * ln(m / zero_regs). The ln is one float op over exact
    integer operands, fixed to 4 decimals in BOTH engines before the
    integer NF sum, so the float discipline of g16 carries through:
    NF is accumulated as SUM of the EXACT integers
    round(ball * 10000) — a float row-sum over hosts would be
    summation-order-dependent cross-engine. Everything after is integer
    comparisons (10*nf_t >= 9*nf_max picks t) plus ONE float
    interpolation over exact integer operands. Output is a single row:
    nf_0..nf_max (integer-scaled) + eff_diameter."""
    from crawler_spark.operators.sketches import _HLL_M
    anf = hyperanf(edges, max_hops=max_hops)
    m = float(_HLL_M)
    ball = F.when(
        (F.col("zero_regs") > 0) & (F.col("ball_est") <= F.lit(2.5 * m)),
        F.round(F.lit(m) * F.log(F.lit(m) / F.col("zero_regs")), 4)
    ).otherwise(F.col("ball_est"))
    nf = anf.groupBy().pivot("hops", list(range(max_hops + 1))).agg(
        F.sum(F.round(ball * 10000).cast("long")))
    cols = [F.col(f"{t}").alias(f"nf{t}") for t in range(max_hops + 1)]
    row = nf.select(*cols)
    qn, qd = int(q * 10), 10          # q as an exact rational (9/10)
    target = F.col(f"nf{max_hops}") * qn
    # smallest t with qd*nf_t >= qn*nf_max wins (ascending when-chain,
    # same first-match-wins order as the SQL CASE); interpolate inside
    # (t-1, t], t=0 when nf0 already reaches the target.
    d = F.when(F.col("nf0") * qd >= target, F.lit(0.0))
    for t in range(1, max_hops + 1):
        interp = (F.lit(float(t - 1))
                  + (target / qd - F.col(f"nf{t-1}"))
                  / (F.col(f"nf{t}") - F.col(f"nf{t-1}")))
        d = d.when(F.col(f"nf{t}") * qd >= target, interp)
    d = d.otherwise(F.lit(float(max_hops)))
    return row.select(*[F.col(f"nf{t}") for t in range(max_hops + 1)],
                      F.round(d, 4).alias("eff_diameter"))


def effective_diameter_oracle_sql(edges_cte: str, max_hops: int = 4) -> str:
    """DuckDB twin of `effective_diameter` (q = 9/10 exact; same
    linear-counting small-range correction, fixed to 4 decimals before
    the integer NF sum)."""
    inner = hyperanf_oracle_sql(edges_cte, max_hops=max_hops)
    lc = ("CASE WHEN zero_regs > 0 AND ball_est <= 640.0 "
          "THEN round(256.0 * ln(256.0 / zero_regs), 4) "
          "ELSE ball_est END")
    nfs = ", ".join(
        f"CAST(SUM(CASE WHEN hops = {t} THEN "
        f"CAST(round(({lc}) * 10000) AS BIGINT) ELSE 0 END) AS BIGINT)"
        f" AS nf{t}" for t in range(max_hops + 1))
    target = f"nf{max_hops} * 9"
    # CASE picks the smallest t with 10*nf_t >= 9*nf_max
    branches = []
    for t in range(max_hops + 1):
        if t == 0:
            expr = "0.0"
        else:
            expr = (f"{float(t-1)} + ({target} / 10.0 - nf{t-1}) "
                    f"/ (nf{t} - nf{t-1})")
        branches.append(f"WHEN nf{t} * 10 >= {target} THEN {expr}")
    case = ("CASE " + " ".join(branches)
            + f" ELSE {float(max_hops)} END")
    cols = ", ".join(f"nf{t}" for t in range(max_hops + 1))
    return (f"WITH anf AS (SELECT * FROM ({inner})), "
            f"p AS (SELECT {nfs} FROM anf) "
            f"SELECT {cols}, round({case}, 4) AS eff_diameter FROM p")


def assortativity(edges: DataFrame) -> DataFrame:
    """Degree assortativity (Newman, PRL 2002) over distinct (src, dst)
    edges: Pearson correlation between source out-degree and target
    in-degree across edges. One row: the five exact BIGINT moments
    (n, sx, sy, sxy, sxx, syy) + the float correlation rounded to 4
    (single formula, identical operation order cross-engine — the tx19
    float discipline). Degree tables join at host cardinality; the
    moment rollup partial-aggs to a single scalar row."""
    e = edges.select("src", "dst").distinct()
    od = e.groupBy("src").agg(F.count(F.lit(1)).cast("long").alias("od"))
    idg = e.groupBy("dst").agg(F.count(F.lit(1)).cast("long").alias("id"))
    x = (e.join(od, "src").join(idg, "dst")
         .select(F.col("od").alias("x"), F.col("id").alias("y")))
    s = x.agg(F.count(F.lit(1)).cast("long").alias("n"),
              F.sum("x").cast("long").alias("sx"),
              F.sum("y").cast("long").alias("sy"),
              F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
              F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
              F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"))
    nd = F.col("n").cast("double")
    r = ((nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
         / (F.sqrt(nd * F.col("sxx")
                   - F.col("sx").cast("double") * F.col("sx"))
            * F.sqrt(nd * F.col("syy")
                     - F.col("sy").cast("double") * F.col("sy"))))
    return s.select("n", "sx", "sy", "sxy", "sxx", "syy",
                    F.round(r, 4).alias("assortativity"))


def clustering_coefficients(edges: DataFrame) -> DataFrame:
    """Per-host local clustering coefficient c(v) = 2*T(v) / (d(v)*(d(v)-1))
    over the undirected host graph (Watts & Strogatz, Nature 1998) — the
    per-node companion to g7's raw triangle counts and g23's one-number
    assortativity.  A host whose neighborhood closes into a clique
    (c -> 1) at non-trivial degree is a link-farm / mirror-ring
    candidate; navigational hubs sit near c -> 0.  Output one row per
    host: (host, degree, n_triangles, clustering), degree >= 1, with
    n_triangles = 0 and clustering = 0.0 where no triangle closes
    (degree-1 hosts are defined as 0.0 — the sociology convention).

    Scale shape: triangle side is the degree-ordered wedge join (see
    triangle_counts — per-key fan-out O(sqrt(m)) regardless of Zipf
    hubs); the degree table is host-cardinality and the final join is a
    broadcast.  Float discipline: ONE double formula (2.0*T first, then
    d*(d-1), one divide) in identical operation order cross-engine,
    rounded to 4.
    """
    und = (edges.select(F.least("src", "dst").alias("u"),
                        F.greatest("src", "dst").alias("v"))
           .where(F.col("u") != F.col("v")).distinct())
    deg = (und.select(F.col("u").alias("host"))
           .unionAll(und.select(F.col("v").alias("host")))
           .groupBy("host").agg(F.count(F.lit(1)).cast("long")
                                .alias("degree")))
    tri = triangle_counts(edges)
    j = deg.join(F.broadcast(tri), "host", "left") \
           .withColumn("n_triangles",
                       F.coalesce(F.col("n_triangles"), F.lit(0))
                       .cast("long"))
    d = F.col("degree").cast("double")
    c = F.when(F.col("degree") >= 2,
               (F.lit(2.0) * F.col("n_triangles").cast("double"))
               / (d * (d - F.lit(1.0)))).otherwise(F.lit(0.0))
    return j.select("host", "degree", "n_triangles",
                    F.round(c, 4).alias("clustering"))


def clustering_oracle_sql(edges_cte: str) -> str:
    """DuckDB twin of clustering_coefficients: lexicographic triangle
    join + degree rollup, same single-formula float path."""
    return f"""
WITH e0 AS ({edges_cte}),
und AS (SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
        FROM e0 WHERE src <> dst),
deg AS (SELECT host, CAST(count(*) AS BIGINT) AS degree FROM
        (SELECT u AS host FROM und UNION ALL SELECT v FROM und)
        GROUP BY host),
tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM und e1
  JOIN und e2 ON e2.u = e1.v
  JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
part AS (SELECT a AS host FROM tri UNION ALL
         SELECT b FROM tri UNION ALL SELECT c FROM tri),
tcnt AS (SELECT host, CAST(count(*) AS BIGINT) AS t FROM part
         GROUP BY host)
SELECT deg.host, deg.degree,
       CAST(coalesce(tcnt.t, 0) AS BIGINT) AS n_triangles,
       round(CASE WHEN deg.degree >= 2
             THEN (2.0 * coalesce(tcnt.t, 0))
                  / (CAST(deg.degree AS DOUBLE) * (deg.degree - 1.0))
             ELSE 0.0 END, 4) AS clustering
FROM deg LEFT JOIN tcnt ON deg.host = tcnt.host
"""


def mirror_hosts(edges: DataFrame, min_jaccard: float = 0.25,
                 max_df: int = 64) -> DataFrame:
    """Mirror-host detection via outlink-set resemblance (Bharat & Broder,
    WWW 1999 "A comparison of techniques to find mirrored hosts"): two
    hosts whose OUTLINK host-sets are near-identical are almost always
    the same site served under two names — the crawl-budget leak the
    reference's spider cannot see (it scopes per-domain; reference
    src/scanner/scan.rs drives one Website per domain with no cross-host
    comparison).  Detecting mirrors BEFORE fetch saves the whole
    duplicate host's budget, vs dd1-dd10 which pay the fetch and dedup
    the content after.

    Candidates come from a shared-outlink inverted index with a df cap
    (targets linked by more than `max_df` hosts generate no pairs — the
    dd4 quadratic guard: a universally-linked CDN host would otherwise
    pair every host with every other); resemblance is then verified
    EXACTLY against the full, uncapped outlink sets (array_intersect on
    collect_set arrays), so the cap bounds fan-out without inflating
    similarity.  Output: one row per unordered host pair with
    jaccard >= min_jaccard: (host_a, host_b, n_a, n_b, n_inter,
    jaccard, containment) — containment = |A∩B|/|A| (A the
    lexicographically-smaller host) catches subset mirrors (a partial
    replica) that symmetric Jaccard dilutes.

    Scale shape: the index explode and df rollup are edge-cardinality
    with map-side combine; pair generation is bounded by
    O(max_df * shared-targets); the verify join moves only
    host-cardinality outlink arrays (out-degree ~ 10^1-10^3 per host).
    Float discipline: one divide per measure, rounded to 4.
    """
    out = (edges.select("src", "dst")
           .where(F.col("src") != F.col("dst")).distinct())
    sets = out.groupBy("src").agg(
        F.array_sort(F.collect_set("dst")).alias("outs"),
        F.count(F.lit(1)).cast("long").alias("n_out"))
    df = out.groupBy("dst").agg(F.count(F.lit(1)).alias("df"))
    fex = (out.join(F.broadcast(df.where(F.col("df") <= max_df)
                                .select("dst")), "dst"))
    a = fex.select(F.col("src").alias("host_a"), "dst")
    b = fex.select(F.col("src").alias("host_b"), "dst")
    cands = (a.join(b, "dst")
             .where(F.col("host_a") < F.col("host_b"))
             .select("host_a", "host_b").distinct())
    sa = sets.select(F.col("src").alias("host_a"),
                     F.col("outs").alias("outs_a"),
                     F.col("n_out").alias("n_a"))
    sb = sets.select(F.col("src").alias("host_b"),
                     F.col("outs").alias("outs_b"),
                     F.col("n_out").alias("n_b"))
    v = (cands.join(sa, "host_a").join(sb, "host_b")
         .withColumn("n_inter",
                     F.size(F.array_intersect("outs_a", "outs_b"))
                     .cast("long")))
    inter_d = F.col("n_inter").cast("double")
    uni = (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double")
    jac = F.round(inter_d / uni, 4)
    cont = F.round(inter_d / F.col("n_a").cast("double"), 4)
    return (v.select("host_a", "host_b", "n_a", "n_b", "n_inter",
                     jac.alias("jaccard"), cont.alias("containment"))
            .where(F.col("jaccard") >= F.lit(min_jaccard)))


def mirror_oracle_sql(edges_cte: str, min_jaccard: float = 0.25,
                      max_df: int = 64) -> str:
    """DuckDB twin of mirror_hosts: capped inverted-index candidates,
    exact list_intersect verify against the full outlink lists."""
    return f"""
WITH e0 AS ({edges_cte}),
outl AS (SELECT DISTINCT src, dst FROM e0 WHERE src <> dst),
sets AS (SELECT src, list_sort(list(DISTINCT dst)) AS outs,
                CAST(count(DISTINCT dst) AS BIGINT) AS n_out
         FROM outl GROUP BY src),
df AS (SELECT dst FROM outl GROUP BY dst HAVING count(*) <= {max_df}),
fex AS (SELECT o.src, o.dst FROM outl o JOIN df ON o.dst = df.dst),
cands AS (SELECT DISTINCT a.src AS host_a, b.src AS host_b
          FROM fex a JOIN fex b ON a.dst = b.dst AND a.src < b.src),
v AS (SELECT c.host_a, c.host_b, sa.n_out AS n_a, sb.n_out AS n_b,
             CAST(len(list_intersect(sa.outs, sb.outs)) AS BIGINT)
               AS n_inter
      FROM cands c
      JOIN sets sa ON c.host_a = sa.src
      JOIN sets sb ON c.host_b = sb.src)
SELECT host_a, host_b, n_a, n_b, n_inter,
       round(CAST(n_inter AS DOUBLE)
             / CAST(n_a + n_b - n_inter AS DOUBLE), 4) AS jaccard,
       round(CAST(n_inter AS DOUBLE) / CAST(n_a AS DOUBLE), 4)
         AS containment
FROM v
WHERE round(CAST(n_inter AS DOUBLE)
            / CAST(n_a + n_b - n_inter AS DOUBLE), 4) >= {min_jaccard}
"""


def simrank(edges: DataFrame, iters: int = 3, c: float = 0.8) -> DataFrame:
    """Fixed-iteration SimRank (Jeh & Widom, KDD 2002) over the host
    graph: two hosts are similar when their IN-neighbors are similar —
    s(a,b) = c/(|I(a)||I(b)|) * Σ_{u∈I(a),v∈I(b)} s(u,v), s(a,a) = 1.
    The structural-similarity dual of g24's outlink-set mirror test:
    mirror_hosts sees hosts that point the SAME PLACES, simrank sees
    hosts pointed at BY similar places (citation-context similarity —
    the host-level "related sites" signal).

    Returns (host_a < host_b, simrank) for pairs with nonzero score
    after `iters` rounds, rounded to 4 (floats accumulate identically
    to the unrolled-CTE oracle: fixed iteration count, one formula,
    round at the end — the g1 discipline).

    Scale: pair state is O(n^2) in the worst case — the honest
    constraint of SimRank itself. The production path at 10^7-10^8
    hosts seeds the pair frontier from a candidate generator (g20
    co-citation or g24's shared-outlink index) instead of the full
    diagonal closure; each iteration is then two in-edge joins + one
    partial-agged groupBy at candidate-pair cardinality, with lineage
    cut per round. On the fixture the full closure is exact.
    """
    e = edges.select("src", "dst").distinct()
    nodes = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct().localCheckpoint(eager=True))
    ine = e.select(F.col("dst").alias("node"),
                   F.col("src").alias("inn")).distinct() \
           .localCheckpoint(eager=True)
    ind = ine.groupBy("node").agg(F.count(F.lit(1)).alias("ind"))
    diag = nodes.select(F.col("host").alias("a"),
                        F.col("host").alias("b"),
                        F.lit(1.0).alias("s"))
    s = diag
    for _ in range(iters):
        m = (s.join(ine.select(F.col("inn").alias("a"),
                               F.col("node").alias("na")), "a")
             .join(ine.select(F.col("inn").alias("b"),
                              F.col("node").alias("nb")), "b")
             .groupBy(F.col("na").alias("a"), F.col("nb").alias("b"))
             .agg(F.sum("s").alias("m")))
        off = (m.where(F.col("a") != F.col("b"))
               .join(ind.select(F.col("node").alias("a"),
                                F.col("ind").alias("ia")), "a")
               .join(ind.select(F.col("node").alias("b"),
                                F.col("ind").alias("ib")), "b")
               .select("a", "b",
                       (F.lit(c) * F.col("m")
                        / (F.col("ia") * F.col("ib"))).alias("s")))
        s = diag.unionByName(off).localCheckpoint(eager=True)
    return (s.where((F.col("a") < F.col("b")) & (F.col("s") > 0))
            .select(F.col("a").alias("host_a"), F.col("b").alias("host_b"),
                    F.round("s", 4).alias("simrank")))


def simrank_oracle_sql(edges_cte: str, iters: int = 3,
                       c: float = 0.8) -> str:
    """DuckDB twin of simrank: the K rounds unrolled as chained CTEs."""
    ctes = [f"e AS (SELECT DISTINCT src, dst FROM ({edges_cte}))",
            "n AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
            "ine AS (SELECT DISTINCT dst AS node, src AS inn FROM e)",
            "ind AS (SELECT node, COUNT(*) AS ind FROM ine GROUP BY node)",
            "s0 AS (SELECT host AS a, host AS b, CAST(1.0 AS DOUBLE) AS s "
            "FROM n)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"t{k} AS (SELECT i1.node AS a, i2.node AS b, SUM(s.s) AS m "
            f"FROM s{k-1} s JOIN ine i1 ON i1.inn = s.a "
            f"JOIN ine i2 ON i2.inn = s.b GROUP BY 1, 2)")
        ctes.append(
            f"s{k} AS (SELECT t.a, t.b, {c} * t.m / (da.ind * db.ind) AS s "
            f"FROM t{k} t JOIN ind da ON da.node = t.a "
            f"JOIN ind db ON db.node = t.b WHERE t.a <> t.b "
            f"UNION ALL SELECT host, host, 1.0 FROM n)")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT a AS host_a, b AS host_b, round(s, 4) AS simrank "
              f"FROM s{iters} WHERE a < b AND s > 0")


def katz_hosts(edges: DataFrame, iters: int = 4,
               alpha: float = 0.1) -> DataFrame:
    """Fixed-iteration Katz centrality (Katz 1953) over distinct
    (src, dst) host edges: x_{t+1}(v) = 1 + alpha * Σ_{u→v} x_t(u),
    x_0 = 1 — every incoming walk counts, damped by alpha per hop.
    Where PageRank (g1) divides a page's vote by its out-degree, Katz
    does not: a hub endorsing 10^4 pages passes FULL weight to each, so
    Katz is the "reachability prestige" axis (how much of the graph
    funnels into you) vs PageRank's "random-surfer share" — the pair
    disagree exactly on link-farm amplification, which makes their
    rank-divergence a spam signal on top of g21's TrustRank mass.

    Fixed `iters`, no convergence test (the g1 reproducibility
    contract); rank is deterministic and the DuckDB oracle unrolls the
    same K iterations. Each round is one shuffle join on src + one
    groupBy on dst at host cardinality, lineage cut per round.
    """
    e = edges.select("src", "dst").distinct()
    hosts = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct().localCheckpoint(eager=True))
    x = hosts.select("host", F.lit(1.0).alias("x"))
    for _ in range(iters):
        m = (e.join(x.withColumnRenamed("host", "src"), "src")
             .groupBy(F.col("dst").alias("host"))
             .agg(F.sum("x").alias("m")))
        x = (hosts.join(m, "host", "left")
             .select("host",
                     (F.lit(1.0) + F.lit(alpha)
                      * F.coalesce(F.col("m"), F.lit(0.0))).alias("x"))
             .localCheckpoint(eager=True))
    return x.select("host", F.round("x", 4).alias("katz"))


def katz_oracle_sql(edges_cte: str, iters: int = 4,
                    alpha: float = 0.1) -> str:
    """DuckDB twin of katz_hosts: K iterations as chained CTEs."""
    ctes = [f"e AS (SELECT DISTINCT src, dst FROM ({edges_cte}))",
            "h AS (SELECT src AS host FROM e UNION SELECT dst FROM e)",
            "x0 AS (SELECT host, CAST(1.0 AS DOUBLE) AS x FROM h)"]
    for k in range(1, iters + 1):
        ctes.append(
            f"m{k} AS (SELECT e.dst AS host, SUM(x.x) AS m "
            f"FROM e JOIN x{k-1} x ON x.host = e.src GROUP BY e.dst)")
        ctes.append(
            f"x{k} AS (SELECT h.host, 1.0 + {alpha} * COALESCE(m.m, 0) "
            f"AS x FROM h LEFT JOIN m{k} m USING (host))")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT host, round(x, 4) AS katz FROM x{iters}")


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Per-community Newman-Girvan modularity contributions over the
    undirected simple host graph: Q_c = e_c/m - (d_c/(2m))^2, so that
    sum(q_contrib) is the partition's modularity Q — the standard
    quality score for a community assignment (Newman, PNAS 2006). Run
    over lpa_communities' labels it tells a crawl scheduler whether the
    detected site-networks are real (dense inside, sparse outside) or
    an artifact worth ignoring when allocating per-"site" budget.

    `labels` is (host, community). Returns one row per community:
    (community, n_hosts, e_in, d_sum, q_contrib rounded 4). `+ 0.0`
    after the round turns a -0.0 into +0.0, as the DuckDB oracle does,
    so a singleton community's tiny negative contribution has one sign.

    Scale shape: the undirected simple edge set is one distinct at edge
    cardinality; degrees are one partial-agged shuffle; e_c needs the
    edge list joined to labels TWICE (host-keyed equi-joins — labels
    are host-cardinality, 2-3 orders below edges, so AQE broadcasts
    them); rollups are community-cardinality. The only scalar (m) is a
    one-row broadcast. No window, no iteration — the iterative cost
    lives in the label producer."""
    e = edges.select("src", "dst").where(F.col("src") != F.col("dst"))
    und = (e.select(F.least("src", "dst").alias("a"),
                    F.greatest("src", "dst").alias("b"))
           .distinct())
    m = und.agg(F.count(F.lit(1)).cast("double").alias("m"))
    deg = (und.select(F.col("a").alias("host"))
           .unionByName(und.select(F.col("b").alias("host")))
           .groupBy("host").agg(F.count(F.lit(1)).alias("d")))
    dc = (labels.join(deg, "host")
          .groupBy("community")
          .agg(F.count(F.lit(1)).cast("long").alias("n_hosts"),
               F.sum("d").cast("long").alias("d_sum")))
    la = labels.select(F.col("host").alias("a"),
                       F.col("community").alias("_ca"))
    lb = labels.select(F.col("host").alias("b"),
                       F.col("community").alias("_cb"))
    ec = (und.join(la, "a").join(lb, "b")
          .where(F.col("_ca") == F.col("_cb"))
          .groupBy(F.col("_ca").alias("community"))
          .agg(F.count(F.lit(1)).cast("long").alias("e_in")))
    half = F.col("d_sum") / (2 * F.col("m"))
    return (dc.join(ec, "community", "left")
            .crossJoin(F.broadcast(m))
            .select("community", "n_hosts",
                    F.coalesce("e_in", F.lit(0)).cast("long").alias("e_in"),
                    "d_sum",
                    (F.round(F.coalesce("e_in", F.lit(0)) / F.col("m")
                             - half * half, 4) + F.lit(0.0))
                    .alias("q_contrib")))
