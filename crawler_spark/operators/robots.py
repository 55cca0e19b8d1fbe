"""robots.txt parsing + frontier gating (SURVEY.md §2.2 F5).

The reference honors robots unless `norobots` is set (inverted to
`respect_robots_txt` at src/rpc/server.rs:22; enforcement lives in
spider::packages::robotparser). Semantics implemented here are the
Google/RFC 9309 subset relevant to allow/deny gating:

  * RFC 9309 user-agent group selection: when the job sets an explicit
    agent (ScanRequest.agent, proto/crawler.proto:21) the most specific
    named group applies (longest product-token prefix match, same-token
    groups merged); with no agent — the reference's default spoofs a
    random UA per crawl (README.md:13) — only `User-agent: *` matches,
  * longest-match wins between Allow and Disallow prefixes; tie -> Allow,
  * empty Disallow value = allow all; `Crawl-delay` captured in ms.

The pure parser/matcher is shared with tests/oracle.py; the engine gates
with the same longest-match rule as one Catalyst expression over a frontier
LEFT JOIN robots (host), with no Python evaluation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StringType, StructField, StructType,
)

ROBOTS_SCHEMA = StructType([
    StructField("host", StringType(), False),
    StructField("fetched_wave", IntegerType(), False),
    StructField("allow_prefixes", ArrayType(StringType(), False), False),
    StructField("deny_prefixes", ArrayType(StringType(), False), False),
    StructField("crawl_delay_ms", LongType(), False),
])


_SITEMAP_LINE_RE = None  # compiled lazily below


def parse_robots_sitemaps(body: str) -> list[str]:
    """`Sitemap:` declarations from a robots.txt body, in file order.
    A NON-GROUP field per the robots spec: valid anywhere in the file,
    independent of User-agent groups — which is why it is parsed
    separately from the group-scoped allow/deny/delay parser below."""
    import re
    out = []
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        m = re.match(r"(?i)^sitemap\s*:\s*(\S+)", line)
        if m:
            out.append(m.group(1))
    return out


def _product_token(s: str) -> str:
    """Crawler product token per RFC 9309 §2.2.1: the leading run of
    [a-zA-Z0-9_-], lowercased ('MyBot/1.2 (+http://…)' -> 'mybot')."""
    import re
    m = re.match(r"[a-zA-Z0-9_-]+", (s or "").strip())
    return m.group(0).lower() if m else ""


def parse_robots(body: str, agent: str = "") \
        -> tuple[list[str], list[str], int]:
    """Parse a robots.txt body -> (allow_prefixes, deny_prefixes, crawl_delay_ms).

    Group selection per RFC 9309 §2.2.1 (the semantics spider's
    robotparser inherits from Google's reference matcher, which the
    `texting_robots` test corpus pins):

      * with `agent` set (ScanRequest.agent, proto/crawler.proto:21 ->
        scan.rs:34-36): a named group applies when its product token is a
        prefix of the crawler's product token (exact match and
        'googlebot' covering 'googlebot-news' both fall out of this);
        the MOST SPECIFIC match wins = longest matching token; every
        group at that specificity merges (RFC: same-agent groups MUST be
        combined); `User-agent: *` applies only when no named group
        matches.
      * with `agent` empty (the reference's default spoofs a random UA
        per crawl — README.md:13 — so named groups never match): only
        the `*` groups apply, exactly the pre-agent behavior.
    """
    groups: list[tuple[list[str], list[tuple[str, str]]]] = []
    cur: tuple[list[str], list[tuple[str, str]]] | None = None
    in_ua_block = False  # consecutive User-agent lines open one group
    for raw in (body or "").splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if not in_ua_block:
                cur = ([], [])
                groups.append(cur)
                in_ua_block = True
            cur[0].append("*" if val == "*" else _product_token(val))
            continue
        in_ua_block = False
        if cur is not None and key in ("disallow", "allow", "crawl-delay"):
            cur[1].append((key, val))

    tok = _product_token(agent)
    chosen: list[list[tuple[str, str]]] = []
    if tok:
        best = 0
        for uas, rules in groups:
            named = [u for u in uas if u and u != "*" and tok.startswith(u)]
            if named:
                length = max(len(u) for u in named)
                if length > best:
                    best, chosen = length, [rules]
                elif length == best:
                    chosen.append(rules)
    if not chosen:
        chosen = [rules for uas, rules in groups if "*" in uas]

    allow: list[str] = []
    deny: list[str] = []
    delay_ms = 0
    for rules in chosen:
        for key, val in rules:
            if key == "disallow":
                if val:
                    deny.append(val)
            elif key == "allow":
                if val:
                    allow.append(val)
            else:
                try:
                    delay_ms = int(float(val) * 1000)
                except ValueError:
                    pass
    return allow, deny, delay_ms


def _match_len(path: str, prefixes: list[str]) -> int:
    """Longest matching prefix length; -1 if none. '*' wildcards supported
    (segment wildcard, as in RFC 9309); '$' anchors end-of-path."""
    best = -1
    for p in prefixes:
        if "*" in p or p.endswith("$"):
            import re as _re
            pat = _re.escape(p).replace(r"\*", ".*")
            if pat.endswith(r"\$"):
                pat = pat[:-2] + "$"
            if _re.match(pat, path):
                best = max(best, len(p))
        elif path.startswith(p):
            best = max(best, len(p))
    return best


def robots_allowed(path: str, allow: list[str], deny: list[str]) -> bool:
    """Longest-match-wins between allow and deny; tie -> allowed."""
    return _match_len(path, allow) >= _match_len(path, deny)


def path_of(url_canon: str) -> str:
    rest = url_canon.split("://", 1)[-1]
    i = rest.find("/")
    return rest[i:] if i >= 0 else "/"


def build_robots_table(robots_src: DataFrame, fetched_wave: int = 0,
                       agent: str = "") -> DataFrame:
    """Compile raw robots bodies -> rule table (host, allow, deny, delay).

    One mapInPandas pass (vectorized rule compilation — §2.10). In production
    the robots cache fills lazily: hosts first appearing in wave W get their
    robots fetched at W's start; the fixture pre-warms all hosts, which is
    semantically identical because gating happens at admission time.
    """
    import pandas as _pd

    def _compile(batches):
        for pdf in batches:
            allows, denies, delays = [], [], []
            for body in pdf["body"]:
                a, d, ms = parse_robots(body or "", agent)
                allows.append(a)
                denies.append(d)
                delays.append(ms)
            yield _pd.DataFrame({
                "host": pdf["host"],
                "fetched_wave": fetched_wave,
                "allow_prefixes": allows,
                "deny_prefixes": denies,
                "crawl_delay_ms": delays,
            })

    return robots_src.mapInPandas(_compile, ROBOTS_SCHEMA)


def fetch_robots_rules(fetcher, hosts_df: DataFrame, wave: int,
                       agent: str = "") -> DataFrame:
    """Lazy robots-cache fill (production shape): synthesize
    http://{host}/robots.txt URLs for the given hosts, run them through the
    SAME fetcher interface as pages (SimulatedFetcher join or HttpFetcher
    mapInPandas), and compile the bodies into rule rows stamped with
    `fetched_wave`. Non-200 responses compile to empty rules = allow-all
    (RFC 9309 unavailable-robots semantics for 4xx)."""
    batch = hosts_df.select(
        F.concat(F.lit("http://"), F.col("host"),
                 F.lit("/robots.txt")).alias("url_canon"),
        F.col("host"),
        F.lit(agent or "robots-fetch").alias("agent"))
    fetched = fetcher.fetch(batch)
    bodies = fetched.select(
        "host",
        F.when(F.col("status") == 200, F.col("html")).otherwise(F.lit(""))
        .alias("body"))
    return build_robots_table(bodies, fetched_wave=wave, agent=agent)


def _match_len_col(path: Column, rules: Column) -> Column:
    r"""_match_len as a Catalyst expression: the longest rule in `rules` that
    matches `path`, -1 if none or if `rules` is null (no robots row).

    A rule holding `*` or ending in `$` is matched as an anchored Java regex
    whose literal runs are `\Q...\E`-quoted: drop the trailing `$`, splice
    each literal `\E` as `\E\\E\Q`, then turn each `*` into `\E.*\Q`.
    Every other rule is a plain prefix."""
    def hit(p: Column) -> Column:
        anchored = p.endswith("$")
        body = F.when(anchored, p.substr(F.lit(1), F.length(p) - 1)) \
                .otherwise(p)
        body = F.replace(body, F.lit(r"\E"), F.lit(r"\E\\E\Q"))
        body = F.replace(body, F.lit("*"), F.lit(r"\E.*\Q"))
        regex = F.concat(F.lit(r"^\Q"), body, F.lit(r"\E"),
                         F.when(anchored, F.lit("$")).otherwise(F.lit("")))
        return F.when(p.contains("*") | anchored, F.regexp_like(path, regex)) \
                .otherwise(path.startswith(p))

    longest = F.aggregate(
        rules, F.lit(-1),
        lambda acc, p: F.greatest(acc, F.when(hit(p), F.length(p))
                                       .otherwise(F.lit(-1))))
    return F.coalesce(longest, F.lit(-1))


def gate_frontier(frontier: DataFrame, robots: DataFrame) -> DataFrame:
    """frontier LEFT JOIN robots ON host -> the allowed rows, in the
    frontier's column order (J2 + F5).

    The robots side is tiny relative to the frontier (one row per host), so
    it is explicitly broadcast — no shuffle of the frontier. The gate is
    robots_allowed (longest match, tie -> allow) as native expressions; a
    host with no robots row is allowed, like an absent robots.txt.
    """
    r = robots.select("host", "allow_prefixes", "deny_prefixes")
    path = F.regexp_replace(F.col("url_canon"), r"^[a-z]+://[^/]*", "")
    joined = (frontier
              .withColumn("path", F.when(path == "", "/").otherwise(path))
              .join(F.broadcast(r), "host", "left_outer"))
    return (joined
            .where(_match_len_col(F.col("path"), F.col("allow_prefixes"))
                   >= _match_len_col(F.col("path"), F.col("deny_prefixes")))
            .select(*frontier.columns))


def meta_robots_flags(directive: Column) -> Column:
    """Per-PAGE robots directives (<meta name="robots"> / X-Robots-Tag) —
    the page-level gate that composes with the host-level robots.txt
    cache (F5): robots.txt decides whether to FETCH, meta robots decides
    whether the fetched page may be INDEXED (stored in the corpus) and
    whether its outlinks may be FOLLOWED (admitted to the frontier).
    The reference's spider crate honors exactly this pair of bits
    (reference: spider respects meta robots nofollow during link
    extraction; scan.rs delegates to website.crawl()).

    Parsing follows the robots meta standard: comma-separated tokens,
    case-insensitive, whitespace-tolerant; `none` == noindex,nofollow;
    `all` == index,follow; unknown tokens ignored; empty/absent
    directive defaults to index,follow (the permissive web default).
    Returns struct(indexable INT, followable INT) — token-exact array
    membership over ONE split, zero shuffle, zero Python.
    """
    toks = F.transform(F.split(F.lower(directive), ","),
                       lambda t: F.trim(t))
    has = lambda v: F.array_contains(toks, v)  # noqa: E731
    noindex = has("noindex") | has("none")
    nofollow = has("nofollow") | has("none")
    return F.struct(
        (~noindex).cast("int").alias("indexable"),
        (~nofollow).cast("int").alias("followable"))
