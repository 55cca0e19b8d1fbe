"""Duplicate-cluster resolution: connected components + canonical selection.

Near-dup detection (operators/textdedup.py, operators/similarity.py) emits
candidate PAIRS; a training-data pipeline needs CLUSTERS — the transitive
closure of the pair graph — and then one canonical document per cluster to
keep (the rest are dropped). This module closes that gap:

  * `connected_components(edges)` — alternating large-star / small-star
    (Kiveris, Lattanzi, Mirrokni, Rastogi, Vassilvitskii, "Connected
    Components in MapReduce and Beyond", SoCC 2014): the standard
    shuffle-native CC algorithm. State is the edge set only (no per-node
    adjacency lists, no vertex programs), each operation is one hash
    shuffle on the star center + one distinct, and the edge set provably
    contracts to per-component stars rooted at the component minimum in
    O(log n) rounds — this is the 100 TB-shaped formulation. Naive
    min-label propagation needs O(diameter) rounds (a chained near-dup
    corpus makes that linear) and carries a labels table through every
    round; large-star/small-star needs neither.
  * `dup_clusters(docs, pairs)` — every document mapped to its cluster id
    (component minimum), singletons mapped to themselves.
  * `canonical_docs(clustered, quality)` — per cluster, keep exactly the
    highest-quality member (ties broken by min doc_id), a boolean keep
    flag per document.

Reference parity note: the reference crawler (a11ywatch/crawler) has no
cluster resolution — this is part of the beyond-reference LLM-pipeline
surface, with DuckDB recursive-CTE oracles in crawler_spark/queries.py
(dd7/dd8).

Scale notes:
  * Each star operation shuffles edges by their star center `u`; a single
    pathological super-node concentrates one partition — AQE skew-split
    handles it (the op is a plain window-agg + filter, fully splittable).
  * Rounds run driver-side with a convergence check (edge set fixed).
    Each round ends in `localCheckpoint(eager=True)` to cut lineage —
    iterative plans otherwise grow exponentially in Catalyst.
  * Works for any orderable id type (long doc ids here; string ids work —
    min/greatest are lexicographic).
"""

from __future__ import annotations

import contextlib
import threading

from pyspark.sql import DataFrame, Window, functions as F


def _sym(e: DataFrame) -> DataFrame:
    """Undirected view: both orientations, self-loops dropped, distinct."""
    return (e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            .where(F.col("u") != F.col("v")).distinct())


def _large_star(e: DataFrame) -> DataFrame:
    """large-star: every node u connects its strictly-larger neighbors to
    m(u) = min(N(u) ∪ {u}). Emitted over the symmetric view, so each
    undirected edge {u,v} (u<v) is processed at u and re-rooted to m(u);
    connectivity is preserved because (u, m(m(u))) is emitted at m(u)
    (u ∈ N(m(u)) by symmetry) — Lemma 1 of the paper."""
    s = _sym(e)
    w = Window.partitionBy("u")
    return (s.withColumn("m", F.least(F.col("u"), F.min("v").over(w)))
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v")).distinct())


def _small_star(e: DataFrame) -> DataFrame:
    """small-star: orient every edge large→small, then every node u
    connects its (all-smaller) neighbors AND itself to m(u) = min of those
    neighbors. Flattens the downward trees built by large-star."""
    e2 = (e.select(F.greatest("u", "v").alias("u"),
                   F.least("u", "v").alias("v"))
          .where(F.col("u") != F.col("v")).distinct())
    w = Window.partitionBy("u")
    withm = e2.withColumn("m", F.min("v").over(w))
    return (withm.select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(withm.select("u", F.col("m").alias("v")))
            .where(F.col("u") != F.col("v")).distinct())


def connected_components(edges: DataFrame, src: str = "doc_a",
                         dst: str = "doc_b",
                         max_rounds: int = 50) -> DataFrame:
    """Connected components of an undirected edge list.

    Returns (node, cluster) for every node incident to >= 1 edge, where
    `cluster` is the minimum node id of its component. Isolated nodes do
    not appear (callers left-join and coalesce to self — see
    `dup_clusters`).

    Alternates large-star / small-star until the edge set is a fixpoint;
    at convergence the edges ARE the component stars (node → component
    min). O(log n) rounds (SoCC 2014, Thm 2); each round costs two
    shuffle-on-center window aggregates plus the distincts.
    """
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .where(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=True))
    if not e.take(1):
        return e.select(F.col("u").alias("node"), F.col("v").alias("cluster"))
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # fixpoint test: equal sets (both are distinct by construction)
        if nxt.count() == e.count() and not nxt.subtract(e).take(1):
            e = nxt
            break
        e = nxt
    else:  # pragma: no cover - O(log n) bound makes this unreachable
        raise RuntimeError(f"connected_components: no fixpoint in "
                           f"{max_rounds} rounds")
    roots = e.select(F.col("v").alias("u"), F.col("v").alias("v")).distinct()
    return (e.union(roots).distinct()
            .select(F.col("u").alias("node"), F.col("v").alias("cluster")))


def dup_clusters(docs: DataFrame, pairs: DataFrame, id_col: str = "doc_id",
                 src: str = "doc_a", dst: str = "doc_b") -> DataFrame:
    """Map EVERY document to its duplicate-cluster id: the component
    minimum for documents reached by any candidate pair, the document's
    own id for singletons. Output: (doc_id, cluster)."""
    cc = connected_components(pairs, src=src, dst=dst)
    return (docs.select(id_col)
            .join(cc, F.col(id_col) == F.col("node"), "left")
            .select(F.col(id_col),
                    F.coalesce("cluster", F.col(id_col)).alias("cluster")))


def canonical_docs(clustered: DataFrame, quality: DataFrame,
                   id_col: str = "doc_id",
                   quality_col: str = "quality") -> DataFrame:
    """Per-cluster canonical selection: keep exactly one document per
    cluster — the highest `quality`, ties broken by smallest doc_id (the
    deterministic tie-break matters: a nondeterministic keep-choice breaks
    resume/re-run reproducibility). Output: (doc_id, cluster, keep).

    `clustered` is (doc_id, cluster) from `dup_clusters`; `quality` is
    (doc_id, quality) — e.g. functions.text.quality_score_col. Join is on
    doc_id (both sides pre-shuffled on it at scale via bucketing); the
    keep-rank is one window shuffle on cluster."""
    w = Window.partitionBy("cluster").orderBy(F.col(quality_col).desc(),
                                              F.col(id_col))
    return (clustered.join(quality, id_col)
            .withColumn("keep", F.row_number().over(w) == 1)
            .select(id_col, "cluster", "keep"))


def kcore_peel(edges: DataFrame, src: str = "src", dst: str = "dst",
               k: int = 8, rounds: int = 5) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983): drop
    every node with undirected degree < k, induce the subgraph on the
    survivors, repeat. Returns (node, deg) for the nodes of the
    round-`rounds` subgraph with their in-core degree.

    Fixed round count (not fixpoint-detected) so the oracle can unroll
    the identical computation; at fixture scale the peel converges well
    inside `rounds` (asserted in tests), and production callers raise
    `rounds` — each extra round is two cheap host-cardinality jobs.

    Scale shape: the edge list is symmetrized once (union + distinct);
    each round is ONE partial-agged degree count plus two LEFT SEMI
    joins against the keep-set. On a host graph the keep-set is
    host-cardinality (broadcast); on a URL-level graph both joins
    sort-merge on the same key, and `localCheckpoint` cuts the growing
    lineage exactly as connected_components does."""
    e = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
         .union(edges.select(F.col(dst).alias("u"), F.col(src).alias("v")))
         .where(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=True))
    for _ in range(rounds):
        deg = e.groupBy("u").agg(F.count("*").alias("deg"))
        keep = deg.where(F.col("deg") >= k).select("u")
        e = (e.join(F.broadcast(keep), "u", "left_semi")
             .join(F.broadcast(keep.select(F.col("u").alias("v"))),
                   "v", "left_semi")
             .localCheckpoint(eager=True))
    return (e.groupBy("u").agg(F.count("*").cast("long").alias("deg"))
            .select(F.col("u").alias("node"), "deg"))


def _edge_support(e: DataFrame) -> DataFrame:
    """Triangle support per canonical edge (u < v): the number of common
    neighbors closing (u, v). Triangles are enumerated ONCE each via the
    smaller-endpoint wedge join (a<b<c from edges (a,b),(a,c) closed by
    (b,c)) and fanned out to the 3 member edges — the g7 enumeration
    shape, reused so the truss peel never builds per-node adjacency
    arrays (Zipf hubs would make those rows unbounded)."""
    ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
    ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = (ab.join(ac, "a").where(F.col("b") < F.col("c"))
           .join(e.select(F.col("u").alias("b"), F.col("v").alias("c")),
                 ["b", "c"]))
    members = (tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
               .union(tri.select(F.col("a").alias("u"),
                                 F.col("c").alias("v")))
               .union(tri.select(F.col("b").alias("u"),
                                 F.col("c").alias("v"))))
    return members.groupBy("u", "v").agg(F.count(F.lit(1)).alias("sup"))


def ktruss_peel(edges: DataFrame, src: str = "src", dst: str = "dst",
                k: int = 4, rounds: int = 2) -> DataFrame:
    """k-truss decomposition by iterative edge peeling (Cohen 2008):
    drop every edge in fewer than k-2 triangles of the CURRENT subgraph,
    repeat. The edge-level strengthening of the k-core (g9): a k-core
    node merely has k neighbors; a k-truss edge sits in k-2 mutual-
    neighbor triangles — the community-detection / spam-farm primitive
    that sees THROUGH degree (a star hub has high degree and zero
    support). Returns (u, v, support) for the surviving edges with their
    final in-truss support.

    Fixed round count (not fixpoint-detected) so the DuckDB oracle can
    unroll the identical computation — the g9 contract; tests assert the
    fixture converges inside `rounds`, production callers raise it.

    Scale shape (100 TB host graph): edges canonicalize once (least/
    greatest + distinct); each round is one wedge self-join hashing on
    the shared lesser endpoint, one partial-agged support rollup, and
    one edge-keyed filter join; `localCheckpoint` cuts lineage per
    round as every iterative operator here does. Caveat: orientation is
    by node ID (least/greatest), not degree — a hub whose id sorts low
    still generates O(deg^2) wedges, so unlike g7's degree-ordered
    triangle count this does NOT bound per-key wedge fan-out; on a
    skew-heavy graph pre-orient by (degree, id) before peeling."""
    e = (edges.select(F.least(src, dst).alias("u"),
                      F.greatest(src, dst).alias("v"))
         .where(F.col("u") != F.col("v")).distinct()
         .localCheckpoint(eager=True))
    for _ in range(rounds):
        sup = _edge_support(e)
        e = (e.join(sup, ["u", "v"], "left")
             .where(F.coalesce(F.col("sup"), F.lit(0)) >= k - 2)
             .select("u", "v")
             .localCheckpoint(eager=True))
    final = _edge_support(e)
    return (e.join(final, ["u", "v"], "left")
            .select("u", "v",
                    F.coalesce(F.col("sup"), F.lit(0)).cast("long")
                    .alias("support")))


def scc_decomposition(edges: DataFrame, src: str = "src",
                      dst: str = "dst", max_iter: int = 64,
                      trim_rounds: int = 3) -> DataFrame:
    """Full strongly-connected-component decomposition of a directed host
    graph: (host, scc_id, scc_size) with scc_id = the lexicographically
    smallest member — the directed-strong companion to g3's weak CC and
    the generalization of g13's single pivot SCC. The crawl readout: each
    non-trivial SCC is a link neighborhood a frontier can circulate in
    (one seed covers it all), while the SCC condensation is the DAG that
    bounds what link-following can ever reach (Broder's bow-tie, per
    component instead of per pivot).

    Three phases, all shuffle-native (Multistep SCC shape — Slota,
    Rauchwerger & Madduri IPDPS 2014: trim + reachability + remainder):

      1. TRIM (bounded rounds): a node lacking in-edges or out-edges in
         the current induced subgraph is a guaranteed singleton SCC (no
         size-2+ SCC member ever lacks either). Each round is two
         distinct projections and two semi-joins at host cardinality;
         web host graphs are DAG-heavy, so a few rounds remove most of
         the graph. Trim is a pure closure-size optimization — phase 3
         labels any singleton that survives it correctly — so it runs a
         FIXED `trim_rounds` (early-exit on stability) rather than to
         fixpoint: on a long in-chain, fixpoint trimming is O(chain)
         driver-coordinated rounds for work the closure absorbs anyway.
      2. CLOSURE of the trimmed 2-core by single-hop expansion: each
         round joins last round's new pairs with the BASE edges, r <- r
         UNION (frontier JOIN e), until r stops growing — one hop per
         round, so O(longest shortest path) rounds, and `max_iter` bounds
         that path length. The closure is quadratic in the WORST case,
         which is exactly why trimming runs first: it is bounded by
         (2-core size)^2, not hosts^2, and a host-level 2-core is orders
         smaller than the crawl graph. For a doc-level graph where even
         the 2-core closure is too large, switch to Orzan-style coloring
         (O(diameter) rounds, linear state).
      3. SCC ids: mutual pairs = closure JOIN closure with (src, dst)
         swapped; scc_id = least(host, min mutual partner) — identical
         string-min semantics in the DuckDB recursive-CTE twin.

    Per-round lineage cuts via localCheckpoint (the g3/g9/g30 discipline).
    Raises RuntimeError if the closure fixpoint misses `max_iter` (loud,
    never silently wrong — the oracle has no cap; the trim cap needs no
    guard because phase 3 is exact regardless of how much trim removed).
    """
    with _no_constraint_propagation(edges.sparkSession):
        scc = _scc_decomposition_inner(edges, src, dst, max_iter, trim_rounds)
        return scc.localCheckpoint(eager=True)


_CP = "spark.sql.constraintPropagation.enabled"
_CP_LOCK = threading.RLock()


@contextlib.contextmanager
def _no_constraint_propagation(spark):
    """Constraint propagation OFF while the SCC plans are optimized: eager
    localCheckpoint captures the analyzed plan's lazy constraint set, and
    re-walking it through union/self-join lineage built on checkpointed
    frames hits "NoSuchElementException: key not found: attr#N" inside
    Union's constraint rewrite (input-shape dependent — surfaced at sf0.1,
    not sf0.01). The inference only feeds optimizer filter pruning, which
    none of these host-cardinality joins need. Callers checkpoint their
    result inside the block, so no optimizer pass over that lineage runs
    after it. The conf is session-global, so the block holds a lock:
    concurrent callers (threads) run it one at a time and none restores
    the conf under another's running plan."""
    with _CP_LOCK:
        old = spark.conf.get(_CP, "true")
        spark.conf.set(_CP, "false")
        try:
            yield
        finally:
            spark.conf.set(_CP, old)


def _scc_decomposition_inner(edges: DataFrame, src: str, dst: str,
                             max_iter: int, trim_rounds: int) -> DataFrame:
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src") != F.col("dst"))
         .distinct().localCheckpoint(eager=True))
    hosts = (e.select(F.col("src").alias("host"))
             .unionByName(e.select(F.col("dst").alias("host")))
             .distinct().localCheckpoint(eager=True))
    # ---- 1. trim (bounded; purely shrinks the closure input)
    ei, n_rem = e, hosts.count()
    for _ in range(trim_rounds):
        both = (ei.select(F.col("src").alias("host")).distinct()
                .join(ei.select(F.col("dst").alias("host")).distinct(),
                      "host")
                .localCheckpoint(eager=True))
        n_both = both.count()
        if n_both == n_rem:
            break
        n_rem = n_both
        ei = (ei.join(both.select(F.col("host").alias("src")), "src",
                      "left_semi")
              .join(both.select(F.col("host").alias("dst")), "dst",
                    "left_semi")
              .localCheckpoint(eager=True))
    core_hosts = (ei.select(F.col("src").alias("host"))
                  .unionByName(ei.select(F.col("dst").alias("host")))
                  .distinct().localCheckpoint(eager=True))
    # ---- 2. reachability closure, semi-naive-SHAPED evaluation: expand
    # only last round's frontier against the BASE edges (|frontier| x
    # out-degree intermediate rows), never closure x closure — on a
    # near-complete core (this fixture saturates to one giant SCC)
    # pointer-doubling's last rounds generate |core|^2 x deg rows,
    # measured 3s/round vs ~0.3s here. The frontier is the raw hop (not
    # anti-joined down to strictly-new pairs: unioning a branch DERIVED
    # from the closure trips Union's constraint rewrite, "key not found:
    # src#N", a lazy-constraint bug with shared attr ids); re-expanding
    # known pairs costs one extra |closure| x deg round at worst, and
    # convergence is count-detected on the closure itself.
    r, n_r, frontier = ei, ei.count(), ei
    for _ in range(max_iter):
        hop = (frontier.alias("a")
               .join(ei.alias("b"), F.col("a.dst") == F.col("b.src"))
               .select(F.col("a.src").alias("src"),
                       F.col("b.dst").alias("dst"))
               .distinct().localCheckpoint(eager=True))
        r2 = r.unionByName(hop).distinct().localCheckpoint(eager=True)
        n2 = r2.count()
        if n2 == n_r:
            r = r2
            break
        r, n_r, frontier = r2, n2, hop
    else:
        raise RuntimeError(f"scc closure did not converge in {max_iter}")
    # ---- 3. mutual-reach min labels (+ trimmed singletons)
    mut = (r.alias("a")
           .join(r.alias("b"), (F.col("a.src") == F.col("b.dst"))
                 & (F.col("a.dst") == F.col("b.src")))
           .select(F.col("a.src").alias("host"),
                   F.col("a.dst").alias("other")))
    mn = mut.groupBy("host").agg(F.min("other").alias("mn"))
    core = (core_hosts.join(mn, "host", "left")
            .select("host", F.least(F.col("host"),
                                    F.coalesce(F.col("mn"), F.col("host")))
                    .alias("scc_id")))
    singles = (hosts.join(core_hosts, "host", "left_anti")
               .select("host", F.col("host").alias("scc_id")))
    scc = core.unionByName(singles)
    sizes = scc.groupBy("scc_id").agg(
        F.count(F.lit(1)).cast("long").alias("scc_size"))
    return scc.join(sizes, "scc_id").select("host", "scc_id", "scc_size")


def scc_condensation(edges: DataFrame, src: str = "src",
                     dst: str = "dst", max_iter: int = 64,
                     trim_rounds: int = 3) -> DataFrame:
    """The SCC condensation DAG: contract every strongly-connected
    component of `scc_decomposition` to one node and emit the component-
    level edges (scc_src, scc_dst, n_links), n_links = number of distinct
    underlying host edges crossing the pair. This is by construction a
    DAG — the crawl-planning readout: an edge scc_a -> scc_b means seeds
    anywhere in a cover all of b by link-following, and the condensation's
    sources are the minimal seed sets that cover everything reachable.

    One label join per edge endpoint (host-cardinality label table —
    broadcast at host counts, hash-shuffle at doc-graph scale; AQE
    elects) + one component-pair rollup. Self-loops (both endpoints in
    one SCC) are the contracted part and are dropped."""
    lab = scc_decomposition(edges, src, dst, max_iter=max_iter,
                            trim_rounds=trim_rounds) \
        .select("host", "scc_id").localCheckpoint(eager=True)
    e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
         .where(F.col("src") != F.col("dst")).distinct())
    return (e.join(lab.select(F.col("host").alias("src"),
                              F.col("scc_id").alias("scc_src")), "src")
            .join(lab.select(F.col("host").alias("dst"),
                             F.col("scc_id").alias("scc_dst")), "dst")
            .where(F.col("scc_src") != F.col("scc_dst"))
            .groupBy("scc_src", "scc_dst")
            .agg(F.count(F.lit(1)).cast("long").alias("n_links")))


def scc_condensation_levels(edges: DataFrame, src: str = "src",
                            dst: str = "dst", max_iter: int = 64,
                            trim_rounds: int = 3) -> DataFrame:
    """Longest-path layering of the SCC condensation DAG: level(c) = the
    longest chain of condensation edges from any source component to c
    (sources and isolated components at 0). This is the crawl wave-depth
    floor: a frontier seeded only in level-0 components needs AT LEAST
    `level` inter-component expansions to first touch c — the layering a
    seed planner reads next to g34's edge list (g5's hop_distance gives
    the shortest-path view per pivot; this is the worst-case depth per
    component, well-defined only because the condensation is acyclic).

    Bellman-Ford-style relaxation on the (component-cardinality) DAG:
    per round, frontier components push level+1 along condensation
    edges; only strict improvements re-enter the frontier, so the loop
    terminates in exactly DAG-depth rounds — no path enumeration (the
    recursive-CTE twin enumerates paths; fine at oracle scale, not at
    10^7 hosts, which is why the Spark side relaxes instead). Runs under
    the same constraint-propagation guard as scc_decomposition (shared
    lazy-constraint bug with checkpointed union lineage)."""
    with _no_constraint_propagation(edges.sparkSession):
        lab = _scc_decomposition_inner(edges, src, dst, max_iter,
                                       trim_rounds) \
            .select("host", "scc_id").localCheckpoint(eager=True)
        comps = lab.select("scc_id").distinct().localCheckpoint(eager=True)
        e = (edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
             .where(F.col("src") != F.col("dst")).distinct())
        cond = (e.join(lab.select(F.col("host").alias("src"),
                                  F.col("scc_id").alias("a")), "src")
                .join(lab.select(F.col("host").alias("dst"),
                                 F.col("scc_id").alias("b")), "dst")
                .where(F.col("a") != F.col("b"))
                .select("a", "b").distinct().localCheckpoint(eager=True))
        sources = (comps.join(cond.select(F.col("b").alias("scc_id")),
                              "scc_id", "left_anti"))
        lv = (sources.select(F.col("scc_id").alias("node"),
                             F.lit(0).cast("long").alias("l"))
              .localCheckpoint(eager=True))
        frontier = lv
        for _ in range(max_iter):
            push = (frontier.join(cond, frontier["node"] == cond["a"])
                    .select(F.col("b").alias("node"),
                            (F.col("l") + 1).alias("l"))
                    .groupBy("node").agg(F.max("l").alias("l")))
            improved = (push.alias("p")
                        .join(lv.alias("o"), "node", "left")
                        .where(F.col("o.l").isNull()
                               | (F.col("p.l") > F.col("o.l")))
                        .select("node", F.col("p.l").alias("l"))
                        .localCheckpoint(eager=True))
            if not improved.take(1):
                break
            lv = (lv.join(improved.select("node"), "node", "left_anti")
                  .unionByName(improved).localCheckpoint(eager=True))
            frontier = improved
        else:
            raise RuntimeError(
                f"condensation levels did not settle in {max_iter}")
        return (comps.join(lv, comps["scc_id"] == lv["node"], "left")
                .select("scc_id",
                        F.coalesce("l", F.lit(0)).cast("long")
                        .alias("level"))
                .localCheckpoint(eager=True))
