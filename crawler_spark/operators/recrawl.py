"""Recrawl scheduling — freshness TTL over the fetched URL set.

The reference crawls once per ScanRequest (proto/crawler.proto:17; the
`Website` visited-set lives only for the request). A production frontier at
the 10^10-URL design point is a *recrawl* system: every URL carries the wave
it was last fetched, and URLs older than a TTL re-enter the pending frontier.
This module is the operator the cuckoo prefilter's deletion path exists for
(operators/cuckoo.py): expiry deletes the URL's fingerprint so the seen-probe
stops reporting it as a duplicate, and re-admission then flows through the
normal admission pipeline (_admit) like any other candidate.

Dataflow (all built-ins — one hash aggregate, one anti-join):

    fetch_log ── groupBy(url).max(wave) ── age >= ttl ──> due
    seen      ── anti-join(due)  ──> retained seen (expired rows dropped)
    due       ── staleness-ranked frontier rows ──> run_crawl(initial_frontier)

The recrawl job itself is a frontier DRAIN — the exact shape of the
north-rule benchmark (bench.py --drain): every due URL pending at once.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, functions as F

from crawler_spark.operators.dedup import url_hash_col
from crawler_spark.spec import CrawlJobSpec


def due_for_recrawl(fetch_log: DataFrame, current_wave: int,
                    ttl_waves: int) -> DataFrame:
    """URLs whose latest *successful* fetch is >= ttl_waves old at
    `current_wave` -> (url_canon, host, last_fetch_wave, age).

    One partial+final hash aggregate (map-side combine is free from
    Catalyst); no window needed. Failed fetches (status != 200) don't count
    as freshness — a URL whose only fetches failed is not 'fresh'.
    """
    last = (fetch_log.where(F.col("status") == 200)
            .groupBy("url_canon", "host")
            .agg(F.max("wave").alias("last_fetch_wave")))
    return (last
            .withColumn("age", F.lit(current_wave) - F.col("last_fetch_wave"))
            .where(F.col("age") >= ttl_waves))


def recrawl_frontier(due: DataFrame) -> DataFrame:
    """Due URLs -> admission candidates (url_canon, depth, priority).

    Staleness-first ordering: priority = -age, so the longest-unfetched URLs
    are selected first under the W1/W2 windows (more negative = earlier,
    consistent with the in-degree -n_refs convention in _admit).
    """
    return due.select("url_canon", F.lit(0).alias("depth"),
                      (-F.col("age").cast("double")).alias("priority"))


def expire_seen(seen: DataFrame, due: DataFrame) -> DataFrame:
    """Drop expired URLs from `seen` so re-admission is not deduped away.

    Anti-join on the casefold hash key (the seen key, SURVEY.md §5.3) —
    AQE plans broadcast/shuffled-hash by size, as with J1.
    """
    keys = due.select(url_hash_col(F.col("url_canon")).alias("url_hash"))
    return seen.join(keys, "url_hash", "left_anti")


def expire_from_cuckoo(cuckoo, due: DataFrame,
                       distributed: bool = True) -> int:
    """Delete expired keys from a SeenCuckoo prefilter; returns #deleted.

    The cuckoo filter is the deletable seen-sketch (Bloom bitsets cannot
    unset bits). Default path is the DISTRIBUTED deletion
    (SeenCuckoo.delete_keys_distributed): due keys grouped by the filter's
    own pmod(url_hash, n_parts) partitioning, deleted per part in one
    cogrouped job, per-part table blobs merged driver-side — the due-set is
    never collected (at the 10^10 design point it can be a large fraction
    of `seen`). `distributed=False` keeps the collect path for toy sets and
    as the equivalence oracle (test_recrawl/test_expire assert both paths
    produce identical filter state). Only keys that were inserted may be
    deleted (standard cuckoo caveat — guaranteed here because
    `due` ⊆ fetched ⊆ seen).
    """
    keys_df = due.select(url_hash_col(F.col("url_canon")).alias("url_hash"))
    if distributed:
        return cuckoo.delete_keys_distributed(keys_df)
    import numpy as np
    keys = np.array([r["url_hash"] for r in keys_df.collect()],
                    dtype=np.int64)
    if len(keys) == 0:
        return 0
    return int(cuckoo.delete_keys(keys).sum())


def _job_ended(store, last: int) -> bool:
    """True if the store's metrics carry a job-end lifecycle row (the crawl
    finished by draining OR by hitting its global budget)."""
    m = store.read_delta_union("metrics", last)
    if m is None:                  # killed before the wave-0 commit
        return False
    return m.where(F.col("event") == "end").limit(1).count() > 0


def run_recrawl(spark: SparkSession, spec: CrawlJobSpec, fetcher, store,
                ttl_waves: int, robots_src: DataFrame | None = None,
                sink=None, robots_fetcher=None,
                ttl_by_host: DataFrame | None = None,
                revalidate: bool = False):
    """Recrawl a COMPLETED checkpointed crawl: re-fetch every URL whose last
    fetch is >= ttl_waves older than the job's final wave. Completed means
    an empty frontier (manifest `rows`) or a committed job-end metrics row;
    any other store raises ValueError.

    Reads the finished store's fetch_log, computes the due set, and runs a
    fresh drain over it (run_crawl with initial_frontier). Returns
    (due_df, CrawlRun). The recrawl's own snapshots go to
    `spec.checkpoint_dir` if set (use a new directory — it is a new job).

    `ttl_by_host` (host, ttl_waves) switches the due-set to the adaptive
    per-host rule (`due_for_recrawl_adaptive`, e.g. `change_rate` output
    quantized to waves); `ttl_waves` then serves as the default for hosts
    without an estimate.

    `revalidate=True` wraps the fetcher in `ConditionalFetcher` with the
    store's recorded validators (latest fetch_log.content_sig per URL):
    unchanged pages come back 304 with no body — the incremental-crawl
    bandwidth saving — and `merge_revalidated` overlays their stored
    documents to produce the full refreshed corpus.
    """
    from crawler_spark.plans.frontier import run_crawl

    last = store.latest_wave()
    if last is None or last < 0:
        raise ValueError("run_recrawl needs a store with at least one "
                         "committed crawl wave")
    # Enforce the COMPLETED precondition: a store killed mid-crawl still has
    # pending frontier rows; those URLs have no fetch_log rows, so they would
    # be neither due nor crawled — a silently incomplete refresh. Resume the
    # crawl to completion first. A BUDGET-completed crawl (max_pages
    # reached — frontier.py commits a job-end metrics row) also carries
    # pending rows, but resuming it cannot drain them by design, so it IS
    # recrawlable: the refresh covers the fetched set, which is all a capped
    # job ever promises. A max_waves or stop-flag exit is a pause (no end
    # row) and is refused like a kill.
    # The wave manifest records every table's committed row count — no
    # O(frontier) scan to evaluate this boolean at the 10^10-URL design point.
    n_pending = store.manifest(last)["tables"]["frontier"]["rows"]
    if n_pending and not _job_ended(store, last):
        raise ValueError(
            f"store at wave {last} is not a completed crawl: {n_pending} "
            "frontier URL(s) still pending — resume the crawl to completion "
            "before recrawling")
    log = store.read_delta_union("fetch_log", last)
    if log is None:
        raise ValueError("store has no fetch_log deltas to age")
    if ttl_by_host is not None:
        due = due_for_recrawl_adaptive(log, last + 1, ttl_by_host,
                                       default_ttl_waves=ttl_waves)
    else:
        due = due_for_recrawl(log, last + 1, ttl_waves)
    due = due.localCheckpoint(eager=True)
    if revalidate:
        from crawler_spark.sources.fetch import ConditionalFetcher
        fetcher = ConditionalFetcher(fetcher, validators_from_log(log))
    run = run_crawl(spark, spec, fetcher, robots_src=robots_src, sink=sink,
                    robots_fetcher=robots_fetcher,
                    initial_frontier=recrawl_frontier(due))
    return due, run


def validators_from_log(fetch_log: DataFrame) -> DataFrame:
    """(url_canon, etag): the strong validator of each URL's LATEST
    successful fetch — the If-None-Match header set a conditional recrawl
    sends. One partial-agged shuffle on url_canon (max_by over the wave
    number); rows without a recorded signature contribute nothing."""
    return (fetch_log
            .where((F.col("status") == 200) & (F.col("content_sig") != ""))
            .groupBy("url_canon")
            .agg(F.max_by("content_sig", "wave").alias("etag")))


def merge_revalidated(run, store, last: int) -> DataFrame:
    """The refreshed corpus after a `revalidate=True` recrawl: the newly
    fetched documents plus, for every URL the conditional fetch confirmed
    unchanged (status 304), its stored document — latest wave wins, and
    the stored row keeps its original wave (the content genuinely dates
    from that crawl; 304 re-certified it, RFC 9110 §15.4.5).

    Scale shape: the 304 set is a filtered projection of the recrawl's
    fetch_log; one left-semi join against the stored document history and
    one per-doc window (latest wave) — both shuffle on doc_id only."""
    from pyspark.sql import Window
    nm = (run.fetch_log.where(F.col("status") == 304)
          .select(F.col("url_canon").alias("doc_id")).distinct())
    stored = store.read_delta_union("documents", last)
    if stored is None:
        return run.documents
    keep = (stored.join(nm, "doc_id", "left_semi")
            .withColumn("_rn", F.row_number().over(
                Window.partitionBy("doc_id").orderBy(F.desc("wave"))))
            .where(F.col("_rn") == 1).drop("_rn"))
    if run.documents is None:
        return keep
    return run.documents.select("doc_id", "spans", "wave").unionByName(
        keep.select("doc_id", "spans", "wave"))


# --- Adaptive TTL from observed change rates ------------------------------
def change_rate(obs: DataFrame, key_col: str = "key", ts_col: str = "t",
                ord_col: str = "obs_id", sig_col: str = "sig",
                max_ttl_days: float = 365.0) -> DataFrame:
    """Per-key Poisson change-rate estimate from revisit observations, and
    the adaptive recrawl TTL it implies.

    The estimator is Cho & Garcia-Molina's bias-corrected frequency
    estimator ("Estimating Frequency of Change", ACM TOIT 3(3), 2003):
    with n-1 successive comparisons, X of which observed a change, at mean
    revisit interval dt_bar seconds,

        lambda_hat = -ln((n-1 - X + 0.5) / (n-1 + 0.5)) / dt_bar

    (the naive X/(n-1) underestimates because multiple changes inside one
    interval are observed as one). The emitted TTL is the change half-life
    ln(2)/lambda_hat — revisit when the page has changed with p=0.5 —
    capped at `max_ttl_days` (X=0 keys never observed changing).

    Input: (key_col, ts_col epoch-seconds, ord_col unique tiebreak,
    sig_col content signature — a fingerprint/etag/content-hash).
    Output: (key, n_obs, n_changes, lambda_per_day, ttl_days).

    Scale: ONE shuffle on key — the lag window and the groupBy share the
    hash partitioning, so Catalyst reuses the exchange; everything after is
    map-side arithmetic. Keys seen once (or with zero time span) are
    dropped: no estimate is possible.
    """
    from pyspark.sql import Window
    w = Window.partitionBy(key_col).orderBy(ts_col, ord_col)
    chg = (F.col(sig_col) != F.lag(sig_col).over(w)).cast("int")
    x = obs.select(key_col, F.col(ts_col).alias("_t"), chg.alias("_chg"))
    agg = (x.groupBy(key_col)
           .agg(F.count("*").alias("n_obs"),
                F.coalesce(F.sum("_chg"), F.lit(0)).alias("n_changes"),
                F.max("_t").alias("_mx"), F.min("_t").alias("_mn"))
           .where((F.col("n_obs") >= 2) & (F.col("_mx") > F.col("_mn"))))
    ncmp = F.col("n_obs") - 1
    dt_bar = (F.col("_mx") - F.col("_mn")) / ncmp.cast("double")
    lam_day = (-F.log((ncmp - F.col("n_changes") + 0.5) / (ncmp + 0.5))
               / dt_bar * 86400.0)
    ttl = F.when(F.col("n_changes") == 0, F.lit(float(max_ttl_days))) \
           .otherwise(F.least(F.lit(float(max_ttl_days)),
                              F.lit(math.log(2))
                              / lam_day))
    return agg.select(key_col, "n_obs", "n_changes",
                      F.round(lam_day, 4).alias("lambda_per_day"),
                      F.round(ttl, 4).alias("ttl_days"))


def due_for_recrawl_adaptive(fetch_log: DataFrame, current_wave: int,
                             ttl_by_host: DataFrame,
                             default_ttl_waves: int) -> DataFrame:
    """`due_for_recrawl` with a per-host TTL dimension instead of one global
    constant: hosts that change often expire sooner. `ttl_by_host` is
    (host, ttl_waves) — e.g. `change_rate` output quantized to waves.
    Broadcast join (hosts dim << fetch_log); same one-aggregate shape."""
    last = (fetch_log.where(F.col("status") == 200)
            .groupBy("url_canon", "host")
            .agg(F.max("wave").alias("last_fetch_wave")))
    return (last.join(F.broadcast(ttl_by_host), "host", "left")
            .withColumn("age", F.lit(current_wave) - F.col("last_fetch_wave"))
            .where(F.col("age") >= F.coalesce(F.col("ttl_waves"),
                                              F.lit(default_ttl_waves)))
            .drop("ttl_waves"))


def snapshot_diff(old: DataFrame, new: DataFrame, key_col: str = "url_canon",
                  fp_col: str = "fingerprint") -> DataFrame:
    """Incremental-recrawl delta between two crawl snapshots: for every key
    in either snapshot, classify it as `new` (absent from the old crawl),
    `gone` (absent from the new one), `changed` (present in both with a
    different content fingerprint) or `unchanged`. This is the operator a
    continuous-crawl pipeline runs after every recrawl wave to feed the
    change-rate estimator (`change_rate`) and to emit only the delta to
    downstream consumers instead of re-shipping the whole corpus.

    Output: (key_col, status) — one row per key in the union of both
    snapshots.

    Scale shape: ONE full-outer join on the key. At the 10^10-URL design
    point both snapshots live bucketed by url_hash (the seen-store layout),
    so the join is co-partitioned and shuffle-free; unbucketed inputs cost
    exactly one exchange per side. The fingerprints are the only payload
    carried — never the documents.
    """
    o = old.select(F.col(key_col), F.col(fp_col).alias("_fp_old"))
    n = new.select(F.col(key_col), F.col(fp_col).alias("_fp_new"))
    status = (F.when(F.col("_fp_old").isNull(), F.lit("new"))
              .when(F.col("_fp_new").isNull(), F.lit("gone"))
              .when(F.col("_fp_old") == F.col("_fp_new"), F.lit("unchanged"))
              .otherwise(F.lit("changed")))
    return (o.join(n, key_col, "full_outer")
            .select(key_col, status.alias("status")))


def retry_backoff(log: DataFrame, key_col: str, wave_col: str,
                  ok_col: str, base: int = 1,
                  cap_fails: int = 6) -> DataFrame:
    """Exponential retry backoff over the fetch log — the FAILURE twin
    of the TTL recrawl rule (due_for_recrawl ages successes; this
    schedules re-attempts of URLs whose latest fetches failed, the
    standard crawler discipline so a flapping host is not hammered and
    a transient 5xx is not abandoned).

    Per key: `tail_fails` = failures AFTER the last success (strictly
    newer wave; all failures if no success), `last_fail` their latest
    wave, and `next_attempt = last_fail + base * 2^min(tail_fails-1,
    cap_fails)` — delay doubles per consecutive failure, capped so the
    shift stays in integer range and a long-dead URL still re-checks at
    base*2^cap. Pure integer algebra (shiftleft, never pow doubles) so
    the schedule is bit-stable cross-engine.

    Output: (key, tail_fails INT, last_fail BIGINT, next_attempt
    BIGINT) — only keys currently in a failure tail.

    Scale shape: two partial-agged keyed aggregates (successes-only
    max; failures-after count/max) and one equi-join, ALL keyed by the
    same column, so AQE plans the join on the aggregates' existing
    hash partitioning — no extra exchange, no window, no Python."""
    w = F.col(wave_col).cast("long")
    ok = F.col(ok_col)
    last_ok = (log.where(ok).groupBy(key_col)
               .agg(F.max(w).alias("_lok")))
    tail = (log.where(~ok)
            .join(last_ok, key_col, "left")
            .where(F.col("_lok").isNull() | (w > F.col("_lok")))
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("int").alias("tail_fails"),
                 F.max(w).alias("last_fail")))
    # SQL-expr form: pyspark's shiftleft() only takes a literal numBits.
    # The shifted value must be a LONG literal — Spark masks an INT shift
    # amount mod 32, so shiftleft(1, 31) goes negative and shiftleft(1, 32)
    # wraps to 1; 1L shifts mod 64 and cap <= 62 keeps the delay positive.
    if not 0 <= cap_fails <= 62:
        raise ValueError(f"cap_fails must be in [0, 62], got {cap_fails}")
    delay = F.lit(base).cast("long") * F.expr(
        f"shiftleft(1L, least(tail_fails - 1, {cap_fails}))")
    return tail.select(
        key_col, "tail_fails", "last_fail",
        (F.col("last_fail") + delay).alias("next_attempt"))
