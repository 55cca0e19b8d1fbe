#!/usr/bin/env python
"""Benchmark harness (driver contract + north_rule throughput evidence).

Two workloads:

1. **Query suite** — every `queries()` entry from `__spark_entry__.py` run
   against `$SPARK_GRAFT_SF_DIR` (default /root/testdata/sf0.1), each fully
   materialized through the `noop` sink (forces complete execution, no
   driver collect). Per-query wall seconds go into the JSON `queries` map.

2. **Crawl throughput** — the north_rule metric: URLs fetched+deduped/sec of
   the wave loop over a deterministic synthetic frontier (seed=42, Zipf host
   skew). The same function is invoked by tools/scaling_bench.py at two
   parallelism levels (N vs 4N cores; 2 vs 8 on this box — string-heavy
   stages hit its memory-bandwidth ceiling near ~10 cores) to evidence the
   >=0.8 scaling criterion (see BENCH/BASELINE.md).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...,
   "crawl": {"urls": n, "sec": t, "urls_per_sec": r}, "cpus": N}

Usage:
  python bench.py                 # full suite + crawl bench
  python bench.py --crawl-only    # crawl bench only (scaling runs)
  SPARK_GRAFT_CPUS=8 python bench.py --crawl-only
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from tools.scaling_bench import cpu_probe  # noqa: E402


def _materialize(df) -> int:
    """Force full execution of every column without collecting to driver."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def _enrich_sink(docs) -> None:
    """EP1 per-wave sink with realistic training-data compute: reassemble the
    document text from its text spans, then language-ID, quality score, token
    count, fingerprint, and 16-bit simhash — all JVM-side column algebra —
    and materialize through the noop sink. This is the per-page work a real
    corpus pipeline does as pages stream out of the crawl."""
    from pyspark.sql import functions as F
    from crawler_spark.functions.text import doc_profile_col
    text = F.array_join(
        F.transform(F.expr("filter(spans, s -> s.kind = 'text')"),
                    lambda s: s["text"]), " ")
    # persist = a hard projection barrier: CollapseProject would otherwise
    # inline the span-reassembly expression into the profile's word split.
    # A real pipeline reads text from the stored documents table, which is
    # the same materialization.
    base = docs.select("doc_id", "wave", text.alias("text")).persist()
    # ONE fused pass (doc_profile_col): one split + one stats fold feed all
    # five signals — the sibling-column form re-split `text` per signal
    # (Catalyst does no cross-column CSE, NOTES.md fact #1) and was 76% of
    # crawl_bench wall in BENCH_r02.
    out = base.select("doc_id", "wave",
                      doc_profile_col(F.col("text"), bits=16).alias("profile"))
    out.write.format("noop").mode("overwrite").save()
    base.unpersist()


def crawl_bench(spark, n_hosts: int = 400, max_pages_per_host: int = 400,
                out_degree: int = 10, n_seeds: int | None = None,
                per_host_tokens: float = 1_000_000.0,
                enrich: bool = False, drain: bool = False) -> dict:
    """North-rule throughput: URLs fetched+deduped/sec of the wave loop.

    Seeds every primary host (the crawl is seed-domain-scoped, F2 — with few
    seeds it would correctly fetch only those hosts' pages) and models a large
    wave time slice (wave_ms=1h) so robots Crawl-delay hosts are not clamped
    to 1 URL/wave: throughput then measures the engine — frontier scan,
    seen anti-join dedup, robots gate, fetch join, mapInPandas span parse,
    admission — not an artificial politeness wait. Wall clock covers the wave
    loop only (fixture build + session excluded), which is the comparable
    quantity across parallelism levels.
    """
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.sources.fetch import SimulatedFetcher
    from crawler_spark.sources.webgraph import (
        WebGraphConfig, gen_seeds, to_spark, to_spark_distributed,
    )
    from crawler_spark.spec import CrawlJobSpec

    from crawler_spark.sources.webgraph import total_pages_of
    cfg = WebGraphConfig(n_hosts=n_hosts, max_pages_per_host=max_pages_per_host,
                         out_degree=out_degree)
    n_pages = sum(total_pages_of(cfg, h) for h in cfg.hosts())
    gen = to_spark_distributed if n_pages > 50_000 else to_spark
    pages_df, robots_df = gen(spark, cfg)
    pages_df = pages_df.persist()
    pages_df.count()                    # fixture is warm before the clock
    spec = CrawlJobSpec(
        seeds=tuple(gen_seeds(cfg, n_seeds if n_seeds is not None else n_hosts)),
        per_host_tokens=per_host_tokens, token_cap=per_host_tokens,
        wave_ms=3_600_000, max_waves=32, max_depth=64)
    sink = (lambda wave, docs: _enrich_sink(docs)) if enrich else None
    init = None
    if drain:
        # North-rule metric shape: drain a huge EXISTING frontier (recrawl of
        # every known URL) rather than BFS discovery — one saturated wave
        # instead of many small ones, so per-stage row counts match what a
        # cluster wave would carry.
        from pyspark.sql import functions as F
        init = pages_df.select("url_canon", F.lit(0).alias("depth"),
                               F.lit(0.0).alias("priority"))
    # Fetcher construction is fixture preparation: it materializes the
    # redirect-resolution map (pointer-doubling localCheckpoints — serial,
    # core-count-independent) and must sit OUTSIDE the clock, like the
    # fixture itself — a real crawler's redirect handling is paid per
    # response inside reqwest, not as a pre-pass.
    fetcher = SimulatedFetcher(pages_df, cache=False)
    t0 = time.perf_counter()
    run = run_crawl(spark, spec, fetcher,
                    robots_src=robots_df, sink=sink, initial_frontier=init)
    n_seen = run.seen.count()
    dt = time.perf_counter() - t0
    stage_totals: dict[str, float] = {}
    for m in run.metrics:
        for k, v in m.get("stage_sec", {}).items():
            stage_totals[k] = round(stage_totals.get(k, 0.0) + v, 2)
    return {
        "urls": int(run.n_fetched),
        "seen": int(n_seen),
        "waves": int(run.n_waves),
        "pages": int(n_pages),
        "enrich": bool(enrich),
        "drain": bool(drain),
        "sec": round(dt, 3),
        "urls_per_sec": round(run.n_fetched / dt, 1),
        "stage_sec": stage_totals,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    # Default crawl bench = the north-rule headline: drain a ~290k-URL
    # frontier (every URL pending at once, the 10^10-frontier shape) with the
    # per-page document-profile sink. --no-drain/--no-enrich give the BFS
    # discovery variant.
    ap.add_argument("--crawl-only", action="store_true")
    ap.add_argument("--skip-crawl", action="store_true")
    ap.add_argument("--hosts", type=int, default=2000)
    ap.add_argument("--pages", type=int, default=1000,
                    help="max pages per host (Zipf head)")
    ap.add_argument("--degree", type=int, default=20)
    ap.add_argument("--enrich", dest="enrich", action="store_true", default=True)
    ap.add_argument("--no-enrich", dest="enrich", action="store_false")
    ap.add_argument("--drain", dest="drain", action="store_true", default=True)
    ap.add_argument("--no-drain", dest="drain", action="store_false")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    try:
        sf = float(Path(sf_dir).name.replace("sf", ""))
    except ValueError:
        sf = -1.0

    from crawler_spark.session import get_spark
    spark = get_spark("crawler_spark_bench", f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    # Warmup: JVM/codegen plus the Python-worker + Arrow cold start (first
    # pandas-UDF stage in a fresh session costs seconds; that fixed cost is
    # not part of any query's steady-state throughput).
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    import pandas as pd
    from pyspark.sql import functions as F

    # no annotations: `from __future__ import annotations` stringifies them,
    # which pandas_udf's signature inspection rejects
    _warm = F.pandas_udf(lambda s: s, "long")

    wdf = spark.range(1000).withColumn("g", F.col("id") % 8)
    wdf.select(_warm("id")).write.format("noop").mode("overwrite").save()
    wdf.groupBy("g").applyInPandas(lambda p: p, "id long, g long") \
       .write.format("noop").mode("overwrite").save()
    wdf.mapInPandas(lambda it: it, "id long, g long") \
       .write.format("noop").mode("overwrite").save()

    timings: dict[str, float] = {}
    total = 0.0

    # Crawl FIRST: its throughput is the headline (north-rule) metric and is
    # sensitive to accumulated JVM state — measured ~2.4x slower when run
    # after the 39-query suite in the same session.
    crawl = None
    if not args.skip_crawl:
        crawl = crawl_bench(spark, n_hosts=args.hosts,
                            max_pages_per_host=args.pages,
                            out_degree=args.degree, enrich=args.enrich,
                            drain=args.drain)
        timings["crawl_bench"] = crawl["sec"]
        total += crawl["sec"]
        # headline lands on stdout immediately: a later kill mid-suite must
        # not lose the north-rule number
        print(json.dumps({"partial": True, "crawl": crawl,
                          "probe_sec": cpu_probe()}), flush=True)

    probe_blocks: list[float] = []
    if not args.crawl_only:
        from __spark_entry__ import queries
        qs = queries()
        # SLOWEST-FIRST execution (round-3 verdict item 8): the driver may
        # time-truncate a >10-min bench, so the interesting (slow) queries
        # must run early. Prior-round per-query seconds are committed at
        # BENCH/prior_query_sec.json; queries without a prior (new this
        # round) sort at the median so they still run mid-pack.
        prior_file = Path(__file__).parent / "BENCH" / "prior_query_sec.json"
        prior: dict[str, float] = {}
        if prior_file.exists():
            try:
                prior = json.loads(prior_file.read_text())
            except Exception:
                prior = {}
        med = sorted(prior.values())[len(prior) // 2] if prior else 1.0
        order = sorted(qs, key=lambda n: prior.get(n, med), reverse=True)

        suite_path = Path(__file__).parent / "BENCH" / "last_suite.json"
        suite_path.parent.mkdir(exist_ok=True)
        block_size = 10
        for i, name in enumerate(order):
            t0 = time.perf_counter()
            _materialize(qs[name](spark, sf_dir))
            dt = time.perf_counter() - t0
            timings[name] = round(dt, 3)
            total += dt
            if (i + 1) % block_size == 0 or (i + 1) == len(order):
                # Per-BLOCK quietness witness + small self-contained
                # progress line: any captured stdout tail carries the
                # cumulative slowest-so-far picture even if the process is
                # killed mid-suite; the FULL map is continuously flushed to
                # BENCH/last_suite.json.
                probe_blocks.append(cpu_probe())
                top = dict(sorted(
                    ((k, v) for k, v in timings.items()
                     if k != "crawl_bench"),
                    key=lambda kv: kv[1], reverse=True)[:20])
                print(json.dumps({
                    "partial": True,
                    "done": i + 1, "of": len(order),
                    "cum_sec": round(total, 1),
                    "probe_sec": probe_blocks[-1],
                    "slowest": top,
                }), flush=True)
                tmp = suite_path.with_suffix(".tmp")
                tmp.write_text(json.dumps({
                    "sf": sf, "cpus": cpus, "queries": timings,
                    "probe_blocks": probe_blocks,
                    "crawl": crawl, "done": i + 1, "of": len(order),
                }, indent=1))
                tmp.replace(suite_path)

    # Final line: COMPACT (fits a tail-capture window, stays parseable):
    # slowest-30 inline; the full per-query map lives in
    # BENCH/last_suite.json, written incrementally above.
    slow30 = dict(sorted(timings.items(), key=lambda kv: kv[1],
                         reverse=True)[:30])
    out = {
        "metric": "suite_total_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": slow30,
        "n_queries": len(timings),
        "queries_file": "BENCH/last_suite.json",
        "sf": sf,
        "cpus": cpus,
        # contention witness (BENCH/BASELINE.md protocol): single-thread
        # fixed-work probe, ~0.95s on this box when quiet; one sample per
        # query block (probe_blocks) plus a closing sample. Absolute
        # timings from a run whose probes sit well above quiet were taken
        # under host-side interference invisible to in-VM telemetry and are
        # not comparable across runs; within-run structure still is.
        "probe_sec": cpu_probe(),
        "probe_blocks": probe_blocks,
    }
    if crawl is not None:
        out["crawl"] = crawl
    print(json.dumps(out), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
