"""Single-threaded reference-semantics crawl oracle (SURVEY.md §5.2.1).

A plain-Python BFS crawler implementing exactly the §2 operator semantics —
case-folded seen set, canonicalization, scope flags, robots gating, token
buckets, budgets, wave order — over the synthetic web graph. Every e2e pytest
asserts the Spark engine's `seen` set, per-wave URL sets, per-document span
sequences, and metrics equal this oracle's output (the determinism contract,
SURVEY.md §5.3).

The scalar leaf functions (canonicalize, extract_resolved_spans, parse_robots,
scope predicates) are shared with the engine by design — they are
golden-tested independently — while everything DISTRIBUTED (anti-join dedup,
grouped token buckets, window selection, snapshot/resume) is
re-implemented here with sets and loops, so the pytest equality genuinely
cross-checks the DataFrame logic.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd

from crawler_spark.functions.canon import canonicalize, host_of
from crawler_spark.operators.robots import parse_robots, robots_allowed, path_of
from crawler_spark.operators.scope import scope_ok, is_asset, blacklisted
from crawler_spark.sources.parse import extract_resolved_spans
from crawler_spark.spec import CrawlJobSpec


@dataclass
class OracleResult:
    seen: set[str] = field(default_factory=set)            # original-case canon URLs admitted
    waves: dict[int, list[str]] = field(default_factory=dict)   # wave -> sorted fetched URLs
    documents: dict[str, list[tuple]] = field(default_factory=dict)  # url -> span tuples
    doc_wave: dict[str, int] = field(default_factory=dict)
    metrics: list[dict] = field(default_factory=list)      # per-wave counters
    n_fetched: int = 0


def run_oracle(spec: CrawlJobSpec, pages: pd.DataFrame,
               robots_src: pd.DataFrame,
               sitemaps: pd.DataFrame | None = None,
               host_boosts: dict[str, float] | None = None) -> OracleResult:
    """BFS wave loop over the fixture web. Mirrors crawler_spark.plans.frontier
    step for step; any divergence is a bug in one of the two."""
    raw = {r.url_canon: (int(r.status), r.html, int(r.bytes),
                         getattr(r, "location", "") or "")
           for r in pages.itertuples()}
    # Transparent 3xx following (mirrors fetch._resolve_redirect_pages):
    # a redirect row lands on its chain target's (status, html, bytes);
    # loops / chains past 16 hops become the dead-link (0, "", 0).
    web = {}
    for url, (st, html, nb, loc) in raw.items():
        cur, hops = url, 0
        while 300 <= raw.get(cur, (0, "", 0, ""))[0] < 400 \
                and raw[cur][3]:
            hops += 1
            if hops > 16:
                break
            cur = raw[cur][3]
        if hops > 16 or cur not in raw:
            web[url] = (0, "", 0)
        else:
            fst, fhtml, fnb, _ = raw[cur]
            web[url] = (fst, fhtml, fnb)
    robots = {}
    for r in robots_src.itertuples():
        allow, deny, delay = parse_robots(r.body, spec.agent)
        robots[r.host] = (allow, deny, delay)

    res = OracleResult()
    # --- seed admission (wave 0 pending) ---
    seed_canon = [c for c in (canonicalize(s, "") for s in spec.seeds) if c]
    seed_hosts = {host_of(c) for c in seed_canon}
    if spec.sitemap and sitemaps is not None:
        # S4: seed hosts' sitemap URLs join wave 0 (same admission path).
        # Nested <sitemapindex> children recurse via (host, path) lookup —
        # the same shared parser + bounded depth as expand_sitemaps_df.
        from crawler_spark.operators.robots import parse_robots_sitemaps
        from crawler_spark.sources.sitemap import parse_sitemap_entries
        has_path = "path" in sitemaps.columns
        bodies = {(r.host, (r.path if has_path else "sitemap.xml")): r.xml
                  for r in sitemaps.itertuples()}
        # roots: well-known path + robots-declared (engine parity)
        roots = {(h, "sitemap.xml") for h in seed_hosts}
        for r in robots_src.itertuples():
            if r.host in seed_hosts:
                roots.update((r.host, u.rsplit("/", 1)[-1])
                             for u in parse_robots_sitemaps(r.body or ""))
        frontier_sm = sorted(roots)
        for _ in range(3):
            nxt = []
            for h, p in frontier_sm:
                pages_u, children = parse_sitemap_entries(
                    bodies.get((h, p), ""))
                seed_canon.extend(
                    c for c in (canonicalize(u, "") for u in pages_u) if c)
                nxt.extend((h, cu.rsplit("/", 1)[-1]) for cu in children)
            if not nxt:
                break
            frontier_sm = nxt
    pending: list[tuple[float, int, str]] = []   # (priority, depth, url_canon)
    tokens: dict[str, float] = {}

    def admissible(url: str, depth: int) -> bool:
        """Cheap pre-dedup predicates (depth/asset/blacklist/scope). The
        robots gate intentionally runs LATER — after dedup and the seen
        check — mirroring the engine's _admit order (frontier.py), which
        prices the robots match only on novel representatives."""
        if depth > spec.max_depth or is_asset(url):
            return False
        if spec.blacklist and blacklisted(url, spec.blacklist):
            return False
        return scope_ok(host_of(url), seed_hosts, spec.subdomains, spec.tld)

    def robots_ok(url: str) -> bool:
        if not spec.respect_robots_txt:
            return True
        allow, deny, _ = robots.get(host_of(url), ([], [], 0))
        return robots_allowed(path_of(url), allow, deny)

    def admit(cands: list[tuple[float, int, str]]) -> int:
        """Wave-dedup (casefold, min-URL representative), seen anti-join,
        then the robots gate on the surviving representative. Admitted
        priority = -(in-wave in-degree): heavily-referenced URLs rank
        earlier (mirrors _admit's n_refs aggregate)."""
        by_fold: dict[str, tuple[float, int, str]] = {}
        n_refs: dict[str, int] = {}
        for prio, depth, url in sorted(cands, key=lambda t: (t[0], t[1], t[2])):
            fold = url.lower()
            by_fold.setdefault(fold, (prio, depth, url))
            n_refs[fold] = n_refs.get(fold, 0) + 1
        n_new = 0
        folded_seen = {u.lower() for u in res.seen}
        for fold, (prio, depth, url) in sorted(by_fold.items()):
            if fold in folded_seen:
                continue
            if not robots_ok(url):
                continue
            res.seen.add(url)
            folded_seen.add(fold)
            # mirror _admit: least(injected priority, -in-degree); BFS
            # candidates always inject 0.0, recrawl injects -age staleness.
            # Host-rank boost (operators/hostrank.py) adds AFTER the min.
            boost = (host_boosts or {}).get(host_of(url), 0.0)
            pending.append((min(prio, -float(n_refs[fold])) + boost,
                            depth, url))
            n_new += 1
        return n_new

    admit([(0.0, 0, u) for u in seed_canon if admissible(u, 0)])

    wave = 0
    while pending and wave < spec.max_waves:
        if spec.max_pages and res.n_fetched >= spec.max_pages:
            break
        # --- token refill + per-host selection (W2/O1) ---
        by_host: dict[str, list[tuple[float, int, str]]] = {}
        for row in pending:
            by_host.setdefault(host_of(row[2]), []).append(row)
        selected: list[tuple[float, int, str]] = []
        for h in sorted(by_host):
            delay = robots.get(h, ([], [], 0))[2] if spec.respect_robots_txt else 0
            tokens[h] = min(spec.token_cap, tokens.get(h, 0.0) + spec.tokens_for(delay))
            take = int(tokens[h])
            rows = sorted(by_host[h], key=lambda t: (t[0], t[1], t[2]))
            selected.extend(rows[:take])
        # --- global budget truncation (W3/F7) ---
        selected.sort(key=lambda t: (t[0], t[1], t[2]))
        if spec.max_pages:
            selected = selected[: spec.max_pages - res.n_fetched]
        if not selected:
            wave += 1
            continue
        sel_set = {u for _, _, u in selected}
        pending = [r for r in pending if r[2] not in sel_set]
        for h, n in pd.Series([host_of(u) for _, _, u in selected]).value_counts().items():
            tokens[h] -= int(n)

        # --- fetch + parse (S5/P2) ---
        fetched_urls, errors, total_bytes = [], 0, 0
        cands: list[tuple[float, int, str]] = []
        for prio, depth, url in selected:
            status, html, nbytes = web.get(url, (0, "", 0))
            fetched_urls.append(url)
            res.n_fetched += 1
            total_bytes += nbytes
            if status != 200:
                errors += 1
                continue
            spans = extract_resolved_spans(url, html)
            res.documents[url] = spans
            res.doc_wave[url] = wave
            for kind, _text, ref, _off in spans:
                if kind == "link" and ref and admissible(ref, depth + 1):
                    cands.append((0.0, depth + 1, ref))
        n_new = admit(cands)
        res.waves[wave] = sorted(fetched_urls)
        res.metrics.append({
            "wave": wave, "fetched": len(fetched_urls), "errors": errors,
            "new_links": n_new, "bytes": total_bytes,
        })
        wave += 1
    return res
