"""Frontier admission filters (SURVEY.md §2.2 F2-F4, F6-F8).

The reference's scope flags ride on the ScanRequest: `subdomains`
(proto/crawler.proto:22), `tld` (:23), regex blacklist (feature `regex`,
Cargo.toml:43); scheme/asset validation lives in spider's link filter.

Each filter exists twice, by design:
  * a pure-Python predicate — the oracle's (tests/oracle.py) semantics,
  * a native Spark Column builder — stays inside whole-stage codegen, no UDF.
Scope additionally has a broadcast semi-join form for bulk exact-host seed
sets (scope_filter). No Python runs on the Spark side of any filter. The
pytest equality between oracle and engine is what proves the formulations
agree.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

# extensions never enqueued (media is *captured as spans*, not crawled — F8)
ASSET_EXT_RE = r"\.(png|jpe?g|gif|webp|ico|svg|css|js|mjs|pdf|zip|gz|tar|mp3|mp4|ogg|wav|avi|mov|woff2?|ttf|eot)$"
_ASSET_RE = re.compile(ASSET_EXT_RE, re.IGNORECASE)


def tld_key(host: str) -> str:
    """Registrable-domain key with the public suffix dropped (single-label
    simplification: strip the last dot-segment). 'host0.example.com' and
    'host0.example.org' share key 'host0.example' — the F4 `tld` semantics."""
    return host.rsplit(".", 1)[0] if "." in host else host


def scope_ok(host: str, seed_hosts: set[str], subdomains: bool, tld: bool) -> bool:
    """F2/F3/F4 combined admission predicate (pure form)."""
    if host in seed_hosts:
        return True
    if subdomains and any(host.endswith("." + sh) for sh in seed_hosts):
        return True
    if tld:
        key = tld_key(host)
        if any(tld_key(sh) == key for sh in seed_hosts):
            return True
    return False


def path_only(url_canon: str) -> str:
    rest = url_canon.split("://", 1)[-1]
    i = rest.find("/")
    path = rest[i:] if i >= 0 else "/"
    return path.split("?", 1)[0]


def is_asset(url_canon: str) -> bool:
    return bool(_ASSET_RE.search(path_only(url_canon)))


def blacklisted(url_canon: str, patterns: tuple[str, ...]) -> bool:
    return any(re.search(p, url_canon) for p in patterns)


# ---------------------------------------------------------------- Spark side

def scope_col(host: Column, seed_hosts: list[str], subdomains: bool, tld: bool) -> Column:
    """Native-Spark F2/F3/F4 predicate over a `host` column."""
    cond = host.isin(seed_hosts)
    if subdomains:
        for sh in seed_hosts:
            cond = cond | host.endswith("." + sh)
    if tld:
        keys = sorted({tld_key(sh) for sh in seed_hosts})
        host_key = F.regexp_replace(host, r"\.[^.]+$", "")  # strip last label
        cond = cond | host_key.isin(keys)
    return cond


def asset_col(url_canon: Column) -> Column:
    """True when the URL path ends in a static-asset extension (F8).
    Path = strip scheme+authority, strip query — all codegen-native."""
    path = F.regexp_replace(url_canon, r"^[a-z]+://[^/]*", "")
    path = F.regexp_replace(path, r"\?.*$", "")
    return F.lower(path).rlike(ASSET_EXT_RE.lower())


def blacklist_col(url_canon: Column, patterns: tuple[str, ...]) -> Column:
    """True when any blacklist regex matches (F6). Keep patterns in the
    Java/Python-common regex subset."""
    cond = F.lit(False)
    for p in patterns:
        cond = cond | url_canon.rlike(p)
    return cond


# Above this seed count exact-host scope switches from an expression to a
# broadcast semi-join: an In() literal list is one expression CHILD per
# seed, and Catalyst re-walks that tree through every optimizer rule — at
# 10k seeds that measured 8-10s of *serial driver planning* per admission
# plan (see BENCH/BASELINE.md round 3), and a 10^6-seed crawl could not hold
# the list in an expression at all.
SCOPE_JOIN_MIN_HOSTS = 64


def scope_filter(df: DataFrame, host: Column, seed_hosts: list[str],
                 subdomains: bool, tld: bool) -> DataFrame:
    """F2/F3/F4 admission over a DataFrame — two physical strategies, both
    exactly scope_ok's semantics (tests/test_scope.py checks each against
    it on a generated corpus):

    * the scope_col expression — whole-stage codegen, zero extra plan
      nodes, no extra Spark job (the hand-seeded crawl; perfbench's 24
      seed hosts). Up to SCOPE_JOIN_MIN_HOSTS seeds it is always the plan:
      a semi-join there would cost one more Spark job per admission.
    * more seeds with exact-host scope (the bulk-seeded production shape,
      bench.py's 2k-10k seeds): broadcast LEFT SEMI join against a
      seed-host dim. O(1) literals in the plan, one JVM hash probe per
      row, preserves row multiplicity (n_refs counting upstream of A2
      needs duplicates kept).

    More seeds with `subdomains` or `tld` also plan the expression, paying
    its per-seed planning cost; no caller, test crawl or benchmark
    workload has that shape.
    """
    if len(seed_hosts) <= SCOPE_JOIN_MIN_HOSTS or subdomains or tld:
        return df.where(scope_col(host, seed_hosts, subdomains, tld))
    dim = df.sparkSession.createDataFrame(
        [(h,) for h in sorted(set(seed_hosts))], "_seed_host string")
    return df.join(F.broadcast(dim), host == dim["_seed_host"], "left_semi")


def trap_signals(path: Column) -> Column:
    """Crawler-trap signals from a URL path — the per-URL gate against
    infinite URL spaces (calendar pages, session-id mazes, cyclically
    repeating directory structures) that robots.txt and the f9 template
    miner only catch after the budget is already burned. Classic
    heuristics (Heydon & Najork's Mercator reports path cycles as the
    canonical trap; see also the IRLbot "spider trap" budget rules):

      depth        — number of path segments,
      n_rep_pairs  — adjacent segment PAIRS seen more than once
                     ("/a/b/a/b" -> the cycle signature),
      rep_ratio    — 1 - distinct_segments/segments, rounded 4,
      is_trap      — depth >= 8 OR n_rep_pairs >= 2 OR rep_ratio >= 0.5.

    Pure let-bound HOF algebra over one split — map-side, zero shuffle,
    no Python; safe to run on every frontier candidate every wave.
    Returns a struct (depth, n_rep_pairs, rep_ratio, is_trap)."""
    def build(segs: Column) -> Column:
        n = F.size(segs)
        pairs = F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(F.element_at(segs, i), F.lit("/"),
                               F.element_at(segs, i + 1)))
        n_rep_pairs = F.when(
            n >= 2,
            F.size(pairs) - F.size(F.array_distinct(pairs))
        ).otherwise(F.lit(0)).cast("int")
        rep_ratio = F.when(
            n > 0,
            F.round(1.0 - F.size(F.array_distinct(segs)) / n, 4)
        ).otherwise(F.lit(0.0))
        return F.struct(
            n.cast("int").alias("depth"),
            n_rep_pairs.alias("n_rep_pairs"),
            rep_ratio.alias("rep_ratio"),
            ((n >= 8) | (n_rep_pairs >= 2) | (rep_ratio >= 0.5))
            .cast("int").alias("is_trap"))

    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    # let-bind via single-element transform (NOTES fact #1): the split
    # evaluates once per row, not once per signal
    bound = F.transform(F.array(segs), lambda s: build(s))
    return F.element_at(bound, 1)
