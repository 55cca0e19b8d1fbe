"""The BFS wave loop — each crawl wave is one DataFrame job (north_star).

Mirror of the reference's drain-and-refill crawl loop
(spider::Website::crawl_concurrent, SURVEY.md §3.4), re-expressed over tables:

    wave W:
      frontier(pending) ── refill tokens ── salted pre-prune + per-host
        window rank vs tokens (W2/J5) ── global budget top-k (W3)
      selected ── fetch join / UDF (S5) ── mapInPandas span parse (P2)
      200-pages ── explode link spans ── asset/blacklist/scope filters
        (F2-F8) ── wave dedup (A2) ── bloom probe + exact anti-join vs seen
        (F1/J1) ── robots gate (F5/J2) ── admit to frontier wave W+1
      commit {frontier, hosts, robots, bloom} full + {documents,
        fetch_log, metrics} delta; `seen` as a `seen_delta` delta with a
        full base every spec.seen_compact_every waves, on every store
        (atomic manifest — §4.3)

Determinism contract (SURVEY.md §5.3): equal URL-seen set, equal per-wave URL
sets, per-document span-sequence equality, all asserted against the
single-threaded oracle in tests/test_crawl_e2e.py.

Each wave stage has one code path. Selection shuffles on the uniform (host,
salt) key and then on host over the pruned rows; admission shuffles once on
the casefold key — robots/tokens joins are broadcast, the robots gate and
every admission filter are native expressions (only the Bloom probe and the
lazy robots-rule compile run Python), the seen anti-join is
bloom-prefiltered (once `seen` passes spec.bloom_min_seen) and AQE-planned,
and the fetch join's page side is the only large probe (scan-pruned by the
selected batch's hash keys at Iceberg scale).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawler_spark.functions.canon import canonicalize_udf, host_col
from crawler_spark.operators import politeness
from crawler_spark.operators.dedup import (
    SeenBloom, anti_join_seen, build_bloom_parts,
)
from crawler_spark.operators.robots import (
    build_robots_table, fetch_robots_rules, gate_frontier,
)
from crawler_spark.operators.scope import asset_col, blacklist_col, scope_filter
from crawler_spark.plans.tableio import MemoryStore, SnapDirStore
from crawler_spark.sources.fetch import parse_spans, ua_col
from crawler_spark.spec import CrawlJobSpec

# S9 lifecycle sentinel: the job-end metrics row's `wave` (SURVEY §1.2's
# "wave=∞"; INT32_MAX so it sorts after every real wave in the int column).
JOB_END_WAVE = 2_147_483_647

METRICS_SCHEMA = ("wave int, part int, fetched long, errors long, "
                  "bytes long, job_id long, event string")


@dataclass
class CrawlRun:
    spec: CrawlJobSpec
    documents: DataFrame | None = None     # (doc_id, spans, wave)
    fetch_log: DataFrame | None = None     # (url_canon, host, depth, wave, status, bytes, agent, content_sig)
    seen: DataFrame | None = None          # (url_hash, url_canon, host, wave)
    frontier: DataFrame | None = None      # pending rows at exit
    metrics: list[dict] = field(default_factory=list)   # wave-level counters
    n_fetched: int = 0
    n_waves: int = 0

    def to_python(self) -> dict:
        """Collect to oracle-comparable plain structures (TEST SCALE ONLY)."""
        docs, doc_wave = {}, {}
        for r in (self.documents.collect() if self.documents is not None else []):
            docs[r["doc_id"]] = [(s["kind"], s["text"], s["media_ref"], s["offset"])
                                 for s in r["spans"]]
            doc_wave[r["doc_id"]] = r["wave"]
        waves: dict[int, list[str]] = {}
        for r in (self.fetch_log.collect() if self.fetch_log is not None else []):
            waves.setdefault(r["wave"], []).append(r["url_canon"])
        return {
            "seen": {r["url_canon"] for r in self.seen.select("url_canon").collect()},
            "waves": {w: sorted(v) for w, v in waves.items()},
            "documents": docs,
            "doc_wave": doc_wave,
        }


def _admit(spark: SparkSession, cands: DataFrame, seen: DataFrame | None,
           bloom: SeenBloom | None, spec: CrawlJobSpec,
           seed_hosts: list[str], wave: int,
           host_priorities: DataFrame | None = None) -> DataFrame:
    """Admission pipeline: filters -> wave dedup -> seen anti-join. The
    robots gate follows in run_crawl (`_admit_gated`).

    cands: (url_canon, depth, priority). Returns new frontier rows
    (priority, depth, url_canon, url_hash, host, discovered_wave) — the
    casefold representative is min(priority, depth, url_canon), identical to
    tests/oracle.py::admit.
    """
    # Cheap JVM-codegen predicates run PRE-dedup (shrink the shuffle);
    # the robots gate (a per-rule match over the host's rule arrays) runs
    # after this function, past dedup AND the seen anti-join, so it prices
    # only truly-new unique URLs (~5% of a wave's outlinks) instead of the
    # full link fan-out. The per-URL predicates commute, and tests/oracle.py
    # applies them in this same order.
    c = (cands
         .where(F.col("url_canon") != "")
         .where(F.col("depth") <= spec.max_depth)
         .where(~asset_col(F.col("url_canon"))))
    if spec.blacklist:
        c = c.where(~blacklist_col(F.col("url_canon"), spec.blacklist))
    c = c.withColumn("host", host_col(F.col("url_canon")))
    # scope_filter plans an expression for hand-seeded crawls and a
    # broadcast semi-join for bulk exact-host seed lists (past
    # SCOPE_JOIN_MIN_HOSTS a 10k-seed In() literal costs 8-10s of serial
    # driver planning PER WAVE — round-3 event-log evidence, BENCH/BASELINE.md)
    c = scope_filter(c, F.col("host"), seed_hosts, spec.subdomains, spec.tld)
    # A2: in-wave dedup on the casefold key, deterministic min representative.
    # The same aggregate counts the URL's in-wave in-degree (n_refs): the
    # admitted row's priority becomes -n_refs, so heavily-referenced pages
    # are selected first — the W1 priority queue is in-degree-weighted, not
    # flat (ties broken by depth then url_canon downstream). least() keeps
    # any MORE-urgent injected priority (BFS links/seeds always carry 0.0,
    # so the BFS path is bit-unchanged; recrawl re-admission injects -age
    # staleness priorities through here — operators/recrawl.py). `host` is
    # a function of url_canon, so riding in the struct changes no minimum.
    c = (c.withColumn("url_fold", F.lower(F.col("url_canon")))
         .groupBy("url_fold")
         .agg(F.min(F.struct("priority", "depth", "url_canon", "host"))
              .alias("m"),
              F.count("*").alias("n_refs"))
         .select(F.col("m.depth").alias("depth"),
                 F.col("m.url_canon").alias("url_canon"),
                 F.col("m.host").alias("host"),
                 F.xxhash64("url_fold").alias("url_hash"),
                 F.least(F.col("m.priority"),
                         -F.col("n_refs").cast("double")).alias("priority")))
    # F1/J1: bloom prefilter + exact anti-join against seen
    if seen is not None:
        c = anti_join_seen(c, seen, bloom, spark)
    # W1 host-rank dimension: per-host boost (PageRank-scaled, [-1, 0] —
    # operators/hostrank.py) folds ADDITIVELY into the representative's
    # priority AFTER the least() above: a fractional cross-host tiebreak
    # between equal-in-degree URLs. Broadcast — hosts dim << frontier.
    if host_priorities is not None:
        c = (c.join(F.broadcast(host_priorities), "host", "left")
             .withColumn("priority",
                         F.col("priority")
                         + F.coalesce(F.col("host_boost"), F.lit(0.0)))
             .drop("host_boost"))
    return c.select("priority", "depth", "url_canon", "url_hash", "host") \
            .withColumn("discovered_wave", F.lit(wave))


def run_crawl(spark: SparkSession, spec: CrawlJobSpec, fetcher,
              robots_src: DataFrame | None = None,
              sink=None, store=None, resume: bool = False,
              initial_frontier: DataFrame | None = None,
              sitemap_src: DataFrame | None = None,
              robots_fetcher=None,
              host_priorities: DataFrame | None = None) -> CrawlRun:
    """EP2 `Crawl` batch mode (reference src/rpc/server.rs:54-88): run the
    wave loop to exhaustion/budget, return final tables.

    `sink(wave, docs_df)` — optional per-wave callback = EP1 `Scan` streaming
    mode (reference streams each page as found, src/scanner/scan.rs:50-64).
    `store` — MemoryStore (default) or SnapDirStore for resumable snapshots.
    `resume` — continue from the store's latest committed wave: frontier
    and seen reload from the last manifest; hosts, the lazy robots cache and
    the bloom prefilter reload exactly when that manifest lists them (else:
    no hosts, a robots re-fetch, a bloom rebuild from `seen`), and a listed
    table that cannot be read raises; accumulated deltas
    (documents/fetch_log) are re-attached. The continued run is
    bit-identical to an uninterrupted one (north_rule; tested in
    tests/test_resume.py).
    """
    store = store or (SnapDirStore(spark, spec.checkpoint_dir)
                      if spec.checkpoint_dir else MemoryStore())
    resumable = getattr(store, "resumable", False)
    robots = None
    if robots_src is not None:
        robots = build_robots_table(robots_src, agent=spec.agent) \
            .localCheckpoint(eager=True)
    # lazy robots cache (production shape): no pre-warmed rules — hosts get
    # their robots.txt fetched through the fetcher interface the first wave
    # they appear as candidates; the cache table grows monotonically.
    lazy_robots = (robots_src is None and robots_fetcher is not None
                   and spec.respect_robots_txt)

    def _ensure_robots(cand: DataFrame, wave_no: int) -> None:
        nonlocal robots
        hosts_df = cand.select("host").distinct()
        if robots is not None:
            hosts_df = hosts_df.join(robots.select("host"), "host", "left_anti")
        missing = hosts_df.localCheckpoint(eager=True)
        if missing.count() == 0:
            return
        rules = fetch_robots_rules(robots_fetcher, missing, wave_no, spec.agent)
        robots = (rules if robots is None else robots.unionByName(rules)) \
            .localCheckpoint(eager=True)

    def _admit_gated(cands: DataFrame, seen_df: DataFrame | None,
                     wave_no: int) -> DataFrame:
        """Admission of every wave, wave 0 included: _admit, then the lazy
        robots fetch for the admitted hosts, then the F5 robots gate on the
        deduped, novel representatives only. The gated rows keep _admit's
        column order (snapshot fingerprints hash struct(*columns))."""
        c = _admit(spark, cands, seen_df, bloom, spec, seed_hosts, wave_no,
                   host_priorities=host_priorities)
        if lazy_robots:
            c = c.localCheckpoint(eager=True)
            _ensure_robots(c, wave_no)
        if spec.respect_robots_txt and robots is not None:
            c = gate_frontier(c, robots)
        return c

    def _merge_bloom(delta: DataFrame | None, full: DataFrame,
                     n_seen: int) -> None:
        """The one Bloom activation/merge site. Below spec.bloom_min_seen the
        filter is pure overhead (one applyInPandas + collect per wave) — the
        exact anti-join carries dedup alone, with identical results. Once
        `seen` (n_seen rows) crosses the threshold, build from the FULL seen
        table once, then OR in each wave's admissions (`delta`). At the
        10^10 design point the filter is active from minute one."""
        nonlocal bloom_active
        if bloom_active:
            src = delta
        elif n_seen >= spec.bloom_min_seen:
            src, bloom_active = full, True
        else:
            return
        if src is not None:
            bloom.merge_from(build_bloom_parts(
                src, bloom.n_parts, bloom.keys_per_part, bloom.fpp).collect())

    # seed hosts define the crawl scope (F2-F4) in both fresh and resumed runs
    if initial_frontier is not None:
        # bulk-seeded frontier drain (the north-rule metric's shape: a huge
        # EXISTING frontier, e.g. a recrawl) — rows are already-canonical
        # (url_canon, depth, priority); they still pass the full _admit path
        seeds_canon = initial_frontier.select("url_canon", "depth", "priority")
    else:
        seeds_df = spark.createDataFrame([(s,) for s in spec.seeds], "url string")
        seeds_canon = (seeds_df
                       .withColumn("url_canon",
                                   canonicalize_udf(F.col("url"), F.lit("")))
                       .where(F.col("url_canon") != "")
                       .select("url_canon", F.lit(0).alias("depth"),
                               F.lit(0.0).alias("priority")))
    seed_hosts = sorted({r["host"] for r in
                         seeds_canon.select(host_col(F.col("url_canon")).alias("host"))
                         .distinct().collect()})

    # Until _merge_bloom activates it the bloom holds no parts, and
    # anti_join_seen runs exact.
    bloom = SeenBloom()
    bloom_active = False
    run = CrawlRun(spec=spec)
    docs_parts: list[DataFrame] = []
    log_parts: list[DataFrame] = []
    tot_errors = tot_bytes = 0   # job-lifetime counters (restored on resume)

    last = store.latest_wave() if (resume and resumable) else None
    if resume and last is None:
        raise ValueError("resume=True but the store has no committed wave "
                         "(missing/empty checkpoint_dir manifest)")
    seen_rows = 0
    seen_base = -1           # wave of the last full `seen` snapshot
    if last is not None:
        # --- resume: reload state committed at the end of wave `last`. The
        # optional tables are read exactly when the manifest lists them; a
        # listed table that cannot be read raises. (The wave -1 manifest
        # has no `extra`, hence the defaults.) ---
        man = store.manifest(last)
        extra, tables = man.get("extra", {}), man["tables"]
        pending = store.read_full("frontier", last)
        seen = store.read_seen(last)
        seen_base = int(extra.get("seen_base_wave", last))
        seen_rows = int(extra["seen_rows"] if "seen_rows" in extra
                        else tables["seen"]["rows"])
        # no `hosts` before the wave-0 commit
        hosts = store.read_full("hosts", last) if "hosts" in tables else None
        run.n_fetched = int(extra.get("n_fetched", 0))
        tot_errors = int(extra.get("tot_errors", 0))
        tot_bytes = int(extra.get("tot_bytes", 0))
        if lazy_robots:
            # the robots cache commits with every wave (§4.3); reload it
            # rather than re-fetching. A manifest that does not list it
            # re-fetches — rules are deterministic, so re-fetch == the
            # pre-kill cache.
            if "robots" in tables:
                robots = store.read_full("robots", last) \
                    .localCheckpoint(eager=True)
            else:
                _ensure_robots(pending, last + 1)
        # reload the committed prefilter bitsets; no `bloom` table (not yet
        # active, or dropped by a forget purge) or a geometry mismatch ->
        # rebuilt from `seen` by _merge_bloom below (identical bits)
        if "bloom" in tables:
            bloom_active = bloom.load_rows(
                store.read_full("bloom", last).collect())
        docs0 = store.read_delta_union("documents", last)
        log0 = store.read_delta_union("fetch_log", last)
        if docs0 is not None:
            docs_parts.append(docs0)
        if log0 is not None:
            log_parts.append(log0)
        wave = last + 1
    else:
        # --- S4: sitemap seed expansion (reference crawl_sitemap +
        # persist_links, scan.rs:71-74) — the seed hosts' sitemap URLs join
        # the wave-0 frontier at depth 0 through the same admission path ---
        if spec.sitemap and sitemap_src is not None and initial_frontier is None:
            from crawler_spark.sources.sitemap import (
                expand_sitemaps_df, robots_declared_roots,
            )
            sm_src = sitemap_src.where(F.col("host").isin(seed_hosts))
            # roots: the well-known path PLUS robots.txt `Sitemap:`
            # declarations (the only pointer to non-well-known roots)
            roots = sm_src.select("host").distinct() \
                          .withColumn("path", F.lit("sitemap.xml"))
            if robots_src is not None:
                roots = roots.unionByName(
                    robots_declared_roots(
                        robots_src.where(F.col("host").isin(seed_hosts))))
            sm = expand_sitemaps_df(sm_src, roots=roots).select("url")
            sm_canon = (sm.withColumn("url_canon",
                                      canonicalize_udf(F.col("url"), F.lit("")))
                        .where(F.col("url_canon") != "")
                        .select("url_canon", F.lit(0).alias("depth"),
                                F.lit(0.0).alias("priority")))
            seeds_canon = seeds_canon.unionByName(sm_canon)
        # --- wave-0 admission: seeds (S3) ---
        pending = _admit_gated(seeds_canon, None, 0)
        seen = pending.select("url_hash", "url_canon", "host",
                              F.lit(0).alias("wave"))
        hosts = None
        init_full = {"frontier": pending, "seen": seen}
        if lazy_robots and robots is not None:
            init_full["robots"] = robots
        state = store.persist_wave(-1, init_full, {})
        pending, seen = state["frontier"], state["seen"]
        robots = state.get("robots", robots)
        wave = 0

    n_pending = pending.count()
    if last is None:
        seen_rows = n_pending

    _merge_bloom(None, seen, seen_rows)

    while n_pending > 0 and wave < spec.max_waves:
        if spec.stop_flag_path and os.path.exists(spec.stop_flag_path):
            break                          # graceful shutdown between waves
        if spec.max_pages and run.n_fetched >= spec.max_pages:
            break
        stage_t: dict[str, float] = {}
        _t0 = time.perf_counter()

        def _mark(name: str) -> None:
            nonlocal _t0
            now = time.perf_counter()
            stage_t[name] = round(now - _t0, 3)
            _t0 = now

        # --- W2/O1: token refill + per-host batch selection ---
        tokens = politeness.refill_tokens(pending, hosts, robots, spec)
        tokens = tokens.localCheckpoint(eager=True)   # reused: select + spend
        _mark("tokens")
        flagged = politeness.select_batch_salted(pending, tokens) \
            .localCheckpoint(eager=True)
        _mark("select")
        selected = flagged.where(F.col("selected")).drop("selected")
        # --- W3/F7: global budget (top-k, TakeOrderedAndProject) ---
        if spec.max_pages:
            selected = (selected
                        .orderBy("priority", "depth", "url_canon")
                        .limit(spec.max_pages - run.n_fetched)
                        .localCheckpoint(eager=True))
            # rows not finally selected (incl. budget-truncated) stay pending
            rest = (flagged.drop("selected")
                    .join(selected.select("url_hash"), "url_hash", "left_anti"))
        else:
            rest = flagged.where(~F.col("selected")).drop("selected")
        hosts = politeness.merge_host_state(
            hosts, politeness.spend_tokens(tokens, selected))
        _mark("budget")

        # --- S5/P2/P3: fetch + parse + UA (explicit spec.agent overrides the
        # per-host deterministic pick — reference scan.rs:34-36) ---
        agent = (F.lit(spec.agent) if spec.agent
                 else ua_col(F.col("host"), spec.ua_pool))
        batch = selected.withColumn("agent", agent)
        # Strong validator for incremental recrawl (ConditionalFetcher
        # emits its own on the 304 path; every other fetcher gets the
        # md5-of-body default here) — recorded in fetch_log.content_sig.
        fetched = fetcher.fetch(batch)
        if "content_sig" not in fetched.columns:
            fetched = fetched.withColumn(
                "content_sig",
                F.when(F.col("status") == 200, F.md5("html"))
                 .otherwise(F.lit("")))
        parsed = parse_spans(fetched).localCheckpoint(eager=True)
        _mark("fetch_parse")
        ok = parsed.where(F.col("status") == 200)
        docs = ok.select(F.col("url_canon").alias("doc_id"), "spans",
                         F.lit(wave).alias("wave"))
        flog = parsed.select("url_canon", "host", "depth",
                             F.lit(wave).alias("wave"), "status", "bytes",
                             "agent", "content_sig")
        if sink is not None:
            sink(wave, docs)
            _mark("sink")

        # --- P2 outlinks -> admission (F*/A2/J1) ---
        links = (ok.select(
            F.col("depth"),
            F.explode(F.expr(
                "filter(spans, s -> s.kind = 'link' AND s.media_ref != '')"
            )).alias("s"))
            .select(F.col("s.media_ref").alias("url_canon"),
                    (F.col("depth") + 1).alias("depth"),
                    F.lit(0.0).alias("priority")))
        new_rows = _admit_gated(links, seen, wave + 1) \
            .localCheckpoint(eager=True)
        _mark("admit")
        pending_next = rest.unionByName(new_rows)
        seen_delta_df = new_rows.select("url_hash", "url_canon", "host",
                                        F.lit(wave + 1).alias("wave"))
        seen_next = seen.unionByName(seen_delta_df)

        # --- A4: per-partition fetch/dedup metrics (lineage per north_rule) ---
        agg = parsed.groupBy(F.spark_partition_id().alias("part")).agg(
            F.count("*").alias("fetched"),
            F.sum((F.col("status") != 200).cast("long")).alias("errors"),
            F.sum("bytes").alias("bytes")).collect()
        n_sel = int(sum(r["fetched"] for r in agg))
        if n_sel == 0:
            wave += 1
            continue
        n_new = new_rows.count()
        _mark("metrics")
        wave_metrics = {
            "wave": wave,
            "fetched": int(sum(r["fetched"] for r in agg)),
            "errors": int(sum(r["errors"] for r in agg)),
            "new_links": int(n_new),
            "bytes": int(sum(r["bytes"] for r in agg)),
            "parts": [{"part": int(r["part"]), "fetched": int(r["fetched"]),
                       "errors": int(r["errors"]), "bytes": int(r["bytes"])}
                      for r in agg],
        }
        if spec.metrics_gini:
            # S9 lifecycle integration of w10: the scheduler's equity
            # signal (0 = even host allocation, ->1 = one host hogged the
            # wave) ships with the wave's metrics row instead of living
            # registry-only. Host-cardinality work; opt-in via spec.
            from crawler_spark.operators.politeness import (
                host_fairness_gini,
            )
            hc = parsed.groupBy("host").agg(
                F.count(F.lit(1)).alias("fetched"))
            grow = host_fairness_gini(hc, "host", "fetched").collect()[0]
            wave_metrics["host_gini"] = (
                None if grow["gini"] is None else float(grow["gini"]))
            wave_metrics["hosts_fetched"] = int(grow["n"])
            _mark("gini")
        run.metrics.append(wave_metrics)

        # --- §4.3 atomic snapshot commit. On every store, `seen` commits
        # as a per-wave delta with a full base every spec.seen_compact_every
        # waves (the Iceberg-style layout — a full rewrite per wave is
        # O(total frontier) at 10^10; K=1 writes a full base every wave) ---
        # S9 lifecycle rows (reference ScanStart/ScanEnd, src/rpc/client.rs:
        # 31-52, emitted at scan.rs:44-46/66-68): a job-start row (wave=-1)
        # rides wave 0's commit and a job-end row (wave=JOB_END_WAVE, with
        # job-lifetime totals) rides the commit of the wave that completes
        # the job — drains the frontier or exhausts the global budget. A
        # stop-flag or max_waves exit is a PAUSE (resumable), not an end, so
        # it gets no end row; a killed-and-resumed run therefore commits the
        # exact same lifecycle rows as an uninterrupted one (bit-identical
        # resume contract). part=-1 marks lifecycle rows; per-partition
        # lineage rows keep part >= 0.
        mrows = [(wave, p["part"], p["fetched"], p["errors"], p["bytes"],
                  spec.job_id, "wave") for p in wave_metrics["parts"]]
        if wave == 0:
            mrows.insert(0, (-1, -1, 0, 0, 0, spec.job_id, "start"))
        tot_errors += wave_metrics["errors"]
        tot_bytes += wave_metrics["bytes"]
        job_complete = ((n_pending - n_sel + n_new) == 0
                        or (spec.max_pages
                            and run.n_fetched + n_sel >= spec.max_pages))
        if job_complete:
            mrows.append((JOB_END_WAVE, -1, run.n_fetched + n_sel,
                          tot_errors, tot_bytes, spec.job_id, "end"))
        metrics_df = spark.createDataFrame(mrows, METRICS_SCHEMA)
        # Bloom merge happens BEFORE the commit so the persisted `bloom`
        # table covers this wave's admissions — the filter must remain a
        # superset of `seen` keys, or a resumed probe would call a seen URL
        # "definitely new" and re-admit it (correctness, not just perf).
        _merge_bloom(new_rows if n_new else None, seen_next, seen_rows + n_new)
        full_tables = {"frontier": pending_next, "hosts": hosts}
        if resumable:
            # §4.3: robots cache + bloom partitions commit with the wave so
            # resume restores them instead of re-fetching / re-scanning seen.
            # Both are tiny next to frontier/seen (one row per host; one
            # bitset per bloom part).
            if lazy_robots and robots is not None:
                full_tables["robots"] = robots
            if bloom_active:
                # Geometry columns travel with the bits: load_rows refuses a
                # snapshot built under a different (n_parts, m, k) — a wrong
                # n_parts silently re-partitions keys and false-negatives.
                full_tables["bloom"] = spark.createDataFrame(
                    [(p, bytearray(b), np_, m_, k_)
                     for p, b, np_, m_, k_ in bloom.to_rows()],
                    "part int, bits binary, n_parts int, m long, k int")
        delta_tables = {"documents": docs, "fetch_log": flog,
                        "metrics": metrics_df}
        if (wave + 1) % spec.seen_compact_every == 0:
            full_tables["seen"] = seen_next
            seen_base = wave
        else:
            delta_tables["seen_delta"] = seen_delta_df
        state = store.persist_wave(
            wave, full=full_tables, delta=delta_tables,
            extra={"n_fetched": run.n_fetched + n_sel,
                   "tot_errors": tot_errors, "tot_bytes": tot_bytes,
                   "seen_rows": seen_rows + n_new,
                   "seen_base_wave": seen_base,
                   "spec": spec.to_dict()})
        pending, hosts = state["frontier"], state["hosts"]
        robots = state.get("robots", robots)
        seen = (state["seen"] if "seen" in state
                else seen.unionByName(state["seen_delta"]))
        docs_parts.append(state["documents"])
        log_parts.append(state["fetch_log"])
        seen_rows += n_new
        # bounded store growth (spec.snapshot_keep): drop superseded full
        # snapshots past the retention horizon — cheap mode, pure directory
        # deletes; the document/fetch_log history (the output corpus) is
        # never rewritten mid-crawl. Resume only needs the latest manifest,
        # which is always retained.
        if resumable and spec.snapshot_keep > 0:
            store.expire(keep_last=spec.snapshot_keep, compact_deltas=False)
        _mark("commit_bloom")
        wave_metrics["stage_sec"] = stage_t

        run.n_fetched += n_sel
        n_pending = n_pending - n_sel + n_new
        wave += 1

    run.n_waves = wave
    run.seen = seen
    run.frontier = pending
    if docs_parts:
        d = docs_parts[0]
        for x in docs_parts[1:]:
            d = d.unionByName(x)
        run.documents = d
        l = log_parts[0]
        for x in log_parts[1:]:
            l = l.unionByName(x)
        run.fetch_log = l
    return run
