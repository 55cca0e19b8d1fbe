"""The two crawl workloads, their fixtures, their oracle and the output check.

Both are generated from the workload seed alone (`WebGraphConfig(seed=...)`);
the engine only sees the generated pages, robots bodies and seed list.

drain  one saturated wave re-crawling every known URL of a Zipf web, with
       the document-profile sink and the in-memory store.
bfs    seeded discovery under tight per-host politeness, lazy robots fetched
       through the fetcher, a SnapDirStore checkpoint with seen deltas,
       paused by `max_waves` and resumed with `resume=True`.
"""

from __future__ import annotations

import contextlib
import dataclasses
import os
import shutil
import time
from dataclasses import dataclass, field

from perfbench.proc import PeakRss, tree_usage

# Fixture sizes: small enough that a run fits its time budget on 4 cores,
# large enough that each stage launches real multi-task jobs.
DRAIN_HOSTS, DRAIN_PAGES = 24, 160
BFS_HOSTS, BFS_PAGES, BFS_SEEDS = 40, 120, 24
BFS_TOKENS = 2.0          # per-host tokens per wave (tight politeness)
# Wave cap of both legs. A bfs wave with its snapshot commit costs 10-30 s
# on 4 cores, so the resumed leg reloads the checkpoint and stops at the
# same cap: a second wave does not fit the run budget.
BFS_WAVES = 1


@dataclass
class Crawl:
    """One timed crawl (both legs for bfs) and what it produced."""
    seconds: float
    cpu_s: float
    urls: int
    metrics: list[list[dict]]            # run.metrics per leg
    got: dict | None = None              # CrawlRun.to_python() of the last leg
    resume_s: float = 0.0                # resumed leg: call -> first wave start
    store_bytes: int = 0
    store_files: int = 0
    leg_seconds: list[float] = field(default_factory=list)

    seen_rows: int = 0

    @property
    def flat_metrics(self) -> list[dict]:
        return [m for leg in self.metrics for m in leg]

    @property
    def wave_seconds(self) -> list[float]:
        return [sum(m["stage_sec"].values()) for m in self.flat_metrics]


def doc_profile_sink(wave: int, docs) -> None:
    """Per-wave sink of the drain: reassemble each document's text from its
    text spans, profile it with `doc_profile_col` (language, quality,
    tokens, fingerprint, simhash) and materialise through the noop sink."""
    from pyspark.sql import functions as F

    from crawler_spark.functions.text import doc_profile_col

    text = F.array_join(
        F.transform(F.expr("filter(spans, s -> s.kind = 'text')"),
                    lambda s: s["text"]), " ")
    # persist is a projection barrier: without it the optimiser inlines the
    # reassembly into the profile's word split
    base = docs.select("doc_id", "wave", text.alias("text")).persist()
    (base.select("doc_id", "wave",
                 doc_profile_col(F.col("text"), bits=16).alias("profile"))
     .write.format("noop").mode("overwrite").save())
    base.unpersist()


class Workload:
    name = ""
    sink = None

    def __init__(self, spark, seed: int, nproc: int, work_dir: str):
        self.spark = spark
        self.seed = seed
        self.nproc = nproc
        self.work_dir = work_dir
        self.fetcher = None
        self.robots_fetcher = None
        self.robots_df = None
        self.pages_df = None
        self.rss = PeakRss()
        self._n = 0

    def build(self) -> None:
        """Fixture build and fetcher construction (timed as set-up): the
        generated pages become a cached Spark table, then the fetcher
        resolves redirects once."""
        from crawler_spark.sources.fetch import SimulatedFetcher
        from crawler_spark.sources.webgraph import to_spark

        pages, self.robots_df = to_spark(self.spark, self.cfg)
        self.pages_df = pages.persist()
        self.pages_df.count()
        self.fetcher = SimulatedFetcher(self.pages_df, cache=False)

    def expected(self):
        """Oracle result for this seed (tests/oracle.run_oracle)."""
        raise NotImplementedError

    def crawl(self, tracer=None) -> Crawl:
        raise NotImplementedError

    def _run(self, tracer, resumed_from=None, **kw):
        """One run_crawl call; traced when a tracer is given. The tree's
        resident memory is sampled while it runs."""
        from crawler_spark.plans.frontier import run_crawl

        kw.update(fetcher=self.fetcher, robots_fetcher=self.robots_fetcher)
        with contextlib.ExitStack() as stack:
            stack.enter_context(self.rss)
            if tracer is not None:
                kw["sink"] = tracer.wrap_sink(kw.get("sink"))
                stack.enter_context(tracer.leg_of(resumed_from))
                stack.enter_context(tracer.installed(
                    self.fetcher, self.robots_fetcher, kw.get("store")))
            return run_crawl(self.spark, **kw)


class Drain(Workload):
    name = "drain"
    sink = staticmethod(doc_profile_sink)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from crawler_spark.sources.webgraph import WebGraphConfig, gen_seeds
        from crawler_spark.spec import CrawlJobSpec

        self.cfg = WebGraphConfig(seed=self.seed, n_hosts=DRAIN_HOSTS,
                                  max_pages_per_host=DRAIN_PAGES, out_degree=10)
        # wave_ms = 1 h so Crawl-delay hosts are not clamped to 1 URL/wave:
        # the whole frontier is selected in one wave
        self.spec = CrawlJobSpec(
            seeds=tuple(gen_seeds(self.cfg, DRAIN_HOSTS)),
            per_host_tokens=1e6, token_cap=1e6, wave_ms=3_600_000,
            max_waves=32, max_depth=64, bloom_min_seen=0,
            shuffle_partitions=self.nproc)

    def build(self) -> None:
        from pyspark.sql import functions as F

        super().build()
        self.init = self.pages_df.select(
            "url_canon", F.lit(0).alias("depth"), F.lit(0.0).alias("priority"))

    def expected(self):
        from crawler_spark.sources.webgraph import gen_pages, gen_robots_src
        from tests.oracle import run_oracle

        pages = gen_pages(self.cfg)
        # the bulk frontier enters the oracle as its seed list: same
        # admission (scope = the frontier's hosts, casefold dedup, robots)
        # and the same parse helpers, one wave with unlimited tokens
        spec = dataclasses.replace(self.spec, seeds=tuple(pages["url_canon"]))
        return run_oracle(spec, pages, gen_robots_src(self.cfg))

    def crawl(self, tracer=None) -> Crawl:
        from crawler_spark.plans.tableio import MemoryStore

        c0, t0 = tree_usage()[0], time.perf_counter()
        run = self._run(tracer, spec=self.spec, store=MemoryStore(),
                        robots_src=self.robots_df, sink=self.sink,
                        initial_frontier=self.init)
        dt, c1 = time.perf_counter() - t0, tree_usage()[0]
        return Crawl(seconds=dt, cpu_s=c1 - c0, urls=run.n_fetched,
                     metrics=[run.metrics], got=run.to_python(), leg_seconds=[dt])


class Bfs(Workload):
    name = "bfs"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        from crawler_spark.sources.webgraph import (
            WebGraphConfig, gen_seeds, page_url,
        )
        from crawler_spark.spec import CrawlJobSpec

        self.cfg = WebGraphConfig(seed=self.seed, n_hosts=BFS_HOSTS,
                                  max_pages_per_host=BFS_PAGES, out_degree=10)
        # pages 0-3 of each seed host: more pending URLs per host than it
        # has tokens, so politeness holds some back for after the resume
        seeds = gen_seeds(self.cfg, BFS_SEEDS) + [
            page_url(self.cfg.primary(i), p)
            for i in range(BFS_SEEDS) for p in range(1, 4)]
        self.spec = CrawlJobSpec(
            seeds=tuple(seeds),
            per_host_tokens=BFS_TOKENS, token_cap=BFS_TOKENS,
            max_waves=BFS_WAVES, bloom_min_seen=0, seen_compact_every=2,
            shuffle_partitions=self.nproc)

    def build(self) -> None:
        from crawler_spark.sources.fetch import SimulatedFetcher
        from crawler_spark.sources.webgraph import to_spark_robots_pages

        super().build()
        self.robots_fetcher = SimulatedFetcher(
            to_spark_robots_pages(self.spark, self.cfg))

    def expected(self):
        from crawler_spark.sources.webgraph import gen_pages, gen_robots_src
        from tests.oracle import run_oracle

        return run_oracle(self.spec, gen_pages(self.cfg), gen_robots_src(self.cfg))

    def crawl(self, tracer=None) -> Crawl:
        from crawler_spark.plans.tableio import SnapDirStore

        self._n += 1
        ck = os.path.join(self.work_dir, f"bfs-ckpt-{self._n}")
        spec = dataclasses.replace(self.spec, checkpoint_dir=ck)
        c0, t0 = tree_usage()[0], time.perf_counter()
        run1 = self._run(tracer, spec=spec, store=SnapDirStore(self.spark, ck))
        t1 = time.perf_counter()
        # a fresh store object, as a restarted process would open it
        store = SnapDirStore(self.spark, ck)
        run2 = self._run(tracer, resumed_from=store.latest_wave(), store=store,
                         spec=spec, resume=True)
        t2, c1 = time.perf_counter(), tree_usage()[0]
        leg2_waves = sum(sum(m["stage_sec"].values()) for m in run2.metrics)
        crawl = Crawl(seconds=t2 - t0, cpu_s=c1 - c0, urls=run2.n_fetched,
                      metrics=[run1.metrics, run2.metrics], got=run2.to_python(),
                      resume_s=(t2 - t1) - leg2_waves, leg_seconds=[t1 - t0, t2 - t1])
        for dirpath, _, files in os.walk(ck):
            crawl.store_files += len(files)
            crawl.store_bytes += sum(os.path.getsize(os.path.join(dirpath, f))
                                     for f in files)
        shutil.rmtree(ck, ignore_errors=True)
        return crawl


WORKLOADS = {w.name: w for w in (Drain, Bfs)}


def mismatches(got: dict, metrics: list[dict], exp) -> list[str]:
    """Differences between an engine crawl and the oracle; empty = equal.

    `got` is CrawlRun.to_python() of the final leg, `metrics` the wave
    counters of all legs in order, `exp` a tests/oracle OracleResult."""
    out = []
    if got["seen"] != exp.seen:
        out.append(f"seen: {len(got['seen'] - exp.seen)} extra, "
                   f"{len(exp.seen - got['seen'])} missing")
    if got["waves"] != exp.waves:
        bad = sorted(w for w in set(got["waves"]) | set(exp.waves)
                     if got["waves"].get(w) != exp.waves.get(w))
        out.append(f"per-wave URL sets differ at waves {bad}")
    if got["documents"] != exp.documents:
        bad = [u for u in set(got["documents"]) | set(exp.documents)
               if got["documents"].get(u) != exp.documents.get(u)]
        out.append(f"span sequences differ for {len(bad)} documents, "
                   f"e.g. {sorted(bad)[:1]}")
    if got["doc_wave"] != exp.doc_wave:
        out.append("document waves differ")
    key = ("wave", "fetched", "errors", "new_links", "bytes")
    if [tuple(m[k] for k in key) for m in metrics] != \
            [tuple(m[k] for k in key) for m in exp.metrics]:
        out.append("wave counters differ")
    return out
