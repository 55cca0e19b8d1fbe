"""Crawl job specification.

The reference's entire "query plan" is the 9-field gRPC ``ScanRequest``
(reference: proto/crawler.proto:17-27, unpacked at src/rpc/server.rs:19-29).
``CrawlJobSpec`` is its Spark-side equivalent plus the scheduling knobs the
reference delegates to the `spider` crate (budget/depth/politeness — see
SURVEY.md §2.2 F7, §2.6 W2).

A spec is immutable config: it is closed over by the driver wave loop and
shipped to executors as plain literals / broadcast — never per-row data.
"""

from __future__ import annotations

from dataclasses import dataclass, field, asdict


@dataclass(frozen=True)
class CrawlJobSpec:
    # -- reference ScanRequest fields (proto/crawler.proto:18-26) --
    seeds: tuple[str, ...] = ()          # `url` (we allow a seed *list*)
    job_id: int = 0                      # `id`
    respect_robots_txt: bool = True      # `!norobots` (inverted at server.rs:22)
    agent: str = ""                      # explicit UA override ('' = per-host pick)
    subdomains: bool = False             # admit *.seed-domain
    tld: bool = False                    # admit seed-domain across any TLD
    proxy: str = ""                      # http(s) proxy for HttpFetcher
                                         # sessions (scan.rs:30-32); the
                                         # simulated fetcher ignores it
    sitemap: bool = False                # seed-expand from /sitemap.xml
    delay_ms: int = 0                    # politeness delay between same-host fetches

    # -- spider::Configuration analogs not plumbed by the wrapper (SURVEY §2.2 F7) --
    max_depth: int = 25                  # BFS link depth cap
    max_pages: int = 0                   # global fetch budget (0 = unlimited)
    max_waves: int = 64                  # hard stop on the wave loop
    blacklist: tuple[str, ...] = ()      # regex deny-list (feature `regex`, Cargo.toml:43)

    # -- wave scheduling (token bucket; SURVEY §2.6 W2) --
    wave_ms: int = 1000                  # nominal wall-clock slice one wave models
    per_host_tokens: float = 8.0         # token refill per host per wave
    token_cap: float = 16.0              # bucket capacity

    # -- engine knobs --
    bloom_min_seen: int = 100_000        # build/probe the seen Bloom only once
                                         # `seen` exceeds this — below it the
                                         # sketch is pure overhead (anti-join
                                         # stays exact either way, results
                                         # identical). The filter is a fixed
                                         # 1 MiB (dedup.SeenBloom), sized for
                                         # ~524k keys: past a few million
                                         # seen rows it passes nearly every
                                         # candidate to the anti-join.
    shuffle_partitions: int = 32
    checkpoint_dir: str = ""             # '' = in-memory state only (no snapshots)
    seen_compact_every: int = 8          # commit `seen` as per-wave deltas
                                         # with a full base every K >= 1
                                         # waves, on every store (K=1: a full
                                         # base each wave). At 10^10 URLs a
                                         # full rewrite is O(total) per wave;
                                         # delta+compaction is the Iceberg-
                                         # equivalent layout.
    snapshot_keep: int = 0               # >0: after each wave commit, expire
                                         # snapshots older than the last K
                                         # waves (cheap mode: superseded FULL
                                         # frontier/seen/hosts/bloom copies +
                                         # dead seen deltas only; document
                                         # history untouched). 0 = keep all.
                                         # At 10^10 URLs an unexpired store
                                         # accrues one O(frontier) full copy
                                         # per wave — this bounds it to K.
    stop_flag_path: str = ""             # existing file => graceful stop between
                                         # waves (the reference's "shutdown"
                                         # control message, src/rpc/client.rs:90-99)
    metrics_gini: bool = False           # per-wave host-fairness Gini of the
                                         # fetch allocation in wave_metrics
                                         # (operators/politeness.
                                         # host_fairness_gini). Opt-in: it
                                         # adds a host-cardinality rank job
                                         # per wave, which monitoring wants
                                         # and the throughput headline
                                         # doesn't pay for by default.

    ua_pool: tuple[str, ...] = (
        "Mozilla/5.0 (X11; Linux x86_64) AppleWebKit/537.36",
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36",
        "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) AppleWebKit/537.36",
        "Mozilla/5.0 (X11; Ubuntu; Linux x86_64; rv:126.0) Gecko/20100101",
    )

    def __post_init__(self) -> None:
        if self.seen_compact_every < 1:
            raise ValueError(f"seen_compact_every must be >= 1, got "
                             f"{self.seen_compact_every}")

    def tokens_for(self, crawl_delay_ms: int | None) -> float:
        """Per-wave token refill for a host, honoring robots Crawl-delay and
        the job-level `delay` throttle (proto/crawler.proto:26).

        Deterministic arithmetic — mirrored exactly by tests/oracle.py.
        """
        delay = max(self.delay_ms, crawl_delay_ms or 0)
        if delay <= 0:
            return self.per_host_tokens
        return max(1.0, min(self.per_host_tokens, float(self.wave_ms // delay)))

    def to_dict(self) -> dict:
        return asdict(self)
