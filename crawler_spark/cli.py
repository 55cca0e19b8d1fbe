"""Command-line entry point — the Spark analog of the reference's gRPC
service surface (examples/client.rs:138-166; `cargo install website_crawler`,
README.md:57-78). Ships via `spark-submit --py-files crawler_spark.zip`
(north_rule); also runs directly as `python -m crawler_spark.cli`.

Modes (reference proto/crawler.proto:7-8):
  * default ("crawl", EP2): run to exhaustion/budget, print the final seen
    table summary (the reference's one-shot ScanParams{pages} batch).
  * --stream ("scan", EP1): additionally write each wave's documents to
    --output as they are produced (the per-page ScanStream analog).

No network exists in this sandbox, so --fixture-hosts/--fixture-pages spin
up the deterministic synthetic web graph as the fetch substrate; a real
deployment passes --http to use the (stubbed here) HttpFetcher.
"""

from __future__ import annotations

import argparse
import json
import sys


def build_parser() -> argparse.ArgumentParser:
    ap = argparse.ArgumentParser(prog="crawler_spark")
    # reference ScanRequest fields (proto/crawler.proto:18-26)
    ap.add_argument("--seeds", nargs="+", default=None,
                    help="seed URLs (`url`); default: fixture seeds")
    ap.add_argument("--job-id", type=int, default=0, help="`id`")
    ap.add_argument("--norobots", action="store_true",
                    help="skip robots.txt (inverted to respect_robots_txt, "
                         "reference server.rs:22)")
    ap.add_argument("--agent", default="", help="explicit UA override")
    ap.add_argument("--subdomains", action="store_true")
    ap.add_argument("--tld", action="store_true")
    ap.add_argument("--sitemap", action="store_true",
                    help="seed-expand from /sitemap.xml (`sitemap`)")
    ap.add_argument("--proxy", default="",
                    help="http(s) proxy URL for the real-network fetcher "
                         "(`proxy`, reference scan.rs:30-32)")
    ap.add_argument("--delay-ms", type=int, default=0, help="`delay`")
    # spider::Configuration analogs
    ap.add_argument("--max-depth", type=int, default=25)
    ap.add_argument("--max-pages", type=int, default=0)
    ap.add_argument("--max-waves", type=int, default=64)
    ap.add_argument("--blacklist", nargs="*", default=[])
    # engine
    ap.add_argument("--master", default="local[*]")
    ap.add_argument("--shuffle-partitions", type=int, default=32)
    ap.add_argument("--checkpoint-dir", default="",
                    help="snapshot dir (enables resume)")
    ap.add_argument("--resume", action="store_true",
                    help="continue from the latest committed wave")
    ap.add_argument("--stop-flag", default="",
                    help="path checked between waves; existing file => "
                         "graceful stop (the reference's shutdown message)")
    ap.add_argument("--lazy-robots", action="store_true",
                    help="no pre-warmed robots table: fetch {host}/robots.txt "
                         "through the fetcher the first wave a host appears")
    ap.add_argument("--recrawl-ttl", type=int, default=0,
                    help=">0: instead of a fresh crawl, re-fetch URLs from "
                         "the --checkpoint-dir store whose last successful "
                         "fetch is >= this many waves old (refresh-only "
                         "drain: max_depth forced to 0; "
                         "operators/recrawl.py)")
    ap.add_argument("--snapshot-keep", type=int, default=0,
                    help=">0: bound store growth during the crawl — after "
                         "each wave commit, expire full snapshots older "
                         "than the last N waves (document history kept; "
                         "spec.snapshot_keep)")
    ap.add_argument("--expire-keep", type=int, default=0,
                    help=">0: maintenance mode — expire snapshots older "
                         "than the last N committed waves of the "
                         "--checkpoint-dir store (Iceberg expireSnapshots "
                         "parity; plans/tableio.py), print the audit, exit")
    ap.add_argument("--purge-urls", nargs="+", default=None,
                    help="maintenance mode — erase these URLs from every "
                         "committed table of the --checkpoint-dir store "
                         "(operators/purge.py), print the audit, exit")
    ap.add_argument("--purge-mode", choices=("suppress", "forget"),
                    default="suppress",
                    help="suppress: erase content, keep seen tombstones so "
                         "the URL is never re-admitted (takedown); forget: "
                         "erase every trace incl. seen/bloom (full erasure)")
    ap.add_argument("--stream", action="store_true",
                    help="EP1 scan mode: per-wave document sink to --output")
    ap.add_argument("--output", default="",
                    help="parquet dir for documents (required with --stream)")
    # sandbox fetch substrate
    ap.add_argument("--fixture-hosts", type=int, default=8)
    ap.add_argument("--fixture-pages", type=int, default=12)
    ap.add_argument("--http", action="store_true",
                    help="use the real-network fetcher (unavailable here)")
    return ap


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    if args.stream and not args.output:
        print("error: --stream requires --output", file=sys.stderr)
        return 2

    from crawler_spark.session import get_spark
    from crawler_spark.spec import CrawlJobSpec
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.sources.webgraph import (
        WebGraphConfig, gen_seeds, to_spark, to_spark_distributed,
    )
    from crawler_spark.sources.fetch import HttpFetcher, SimulatedFetcher

    spark = get_spark("crawler_spark_cli", args.master,
                      shuffle_partitions=args.shuffle_partitions)
    spark.sparkContext.setLogLevel("ERROR")

    # maintenance modes: operate on an existing store, no crawl
    if args.expire_keep > 0 or args.purge_urls:
        if not args.checkpoint_dir:
            print("error: maintenance modes require --checkpoint-dir",
                  file=sys.stderr)
            spark.stop()
            return 2
        from crawler_spark.plans.tableio import SnapDirStore
        store = SnapDirStore(spark, args.checkpoint_dir)
        audit = {}
        try:
            # both flags compose: purge first (rewrites the history), then
            # expire the retention horizon
            if args.purge_urls:
                from crawler_spark.operators.purge import purge_urls
                audit["purge"] = purge_urls(spark, store, args.purge_urls,
                                            mode=args.purge_mode)
            if args.expire_keep > 0:
                audit["expire"] = store.expire(keep_last=args.expire_keep)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            spark.stop()
            return 2
        print(json.dumps(audit))
        spark.stop()
        return 0

    from crawler_spark.sources.webgraph import (
        to_spark_robots_pages, to_spark_sitemaps, total_pages_of,
    )
    cfg = WebGraphConfig(n_hosts=args.fixture_hosts,
                         max_pages_per_host=args.fixture_pages)
    sitemap_df = None
    robots_fetcher = None
    if args.http:
        fetcher, robots_df = HttpFetcher(user_agent=args.agent,
                                         proxy=args.proxy), None
        if args.lazy_robots:
            robots_fetcher = fetcher
    else:
        n_pages = sum(total_pages_of(cfg, h) for h in cfg.hosts())
        gen = to_spark_distributed if n_pages > 50_000 else to_spark
        pages_df, robots_df = gen(spark, cfg)
        fetcher = SimulatedFetcher(pages_df)
        if args.sitemap:
            sitemap_df = to_spark_sitemaps(spark, cfg)
        if args.lazy_robots:
            robots_df = None
            robots_fetcher = SimulatedFetcher(to_spark_robots_pages(spark, cfg))

    seeds = tuple(args.seeds) if args.seeds else tuple(gen_seeds(cfg))
    spec = CrawlJobSpec(
        seeds=seeds, job_id=args.job_id,
        respect_robots_txt=not args.norobots, agent=args.agent,
        subdomains=args.subdomains, tld=args.tld, sitemap=args.sitemap,
        proxy=args.proxy, delay_ms=args.delay_ms,
        max_depth=args.max_depth, max_pages=args.max_pages,
        max_waves=args.max_waves, blacklist=tuple(args.blacklist),
        shuffle_partitions=args.shuffle_partitions,
        snapshot_keep=args.snapshot_keep,
        checkpoint_dir=args.checkpoint_dir, stop_flag_path=args.stop_flag)

    sink = None
    if args.stream:
        def sink(wave: int, docs) -> None:
            docs.write.mode("append").parquet(args.output)

    due = None
    if args.recrawl_ttl > 0:
        if not args.checkpoint_dir:
            print("error: --recrawl-ttl requires --checkpoint-dir",
                  file=sys.stderr)
            spark.stop()        # in-process callers must not leak the JVM
            return 2
        import dataclasses
        from crawler_spark.operators.recrawl import run_recrawl
        from crawler_spark.plans.tableio import SnapDirStore
        store = SnapDirStore(spark, args.checkpoint_dir)
        rspec = dataclasses.replace(spec, checkpoint_dir="", max_depth=0)
        try:
            due, run = run_recrawl(spark, rspec, fetcher, store,
                                   args.recrawl_ttl, robots_src=robots_df,
                                   sink=sink, robots_fetcher=robots_fetcher)
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            spark.stop()        # in-process callers must not leak the JVM
            return 2
    else:
        run = run_crawl(spark, spec, fetcher, robots_src=robots_df, sink=sink,
                        resume=args.resume, sitemap_src=sitemap_df,
                        robots_fetcher=robots_fetcher)
    summary = {
        "job_id": spec.job_id,
        **({"n_due": due.count()} if due is not None else {}),
        "n_fetched": run.n_fetched,
        "n_waves": run.n_waves,
        "seen": run.seen.count() if run.seen is not None else 0,
        "pending": run.frontier.count() if run.frontier is not None else 0,
        "waves": [{k: m[k] for k in ("wave", "fetched", "errors",
                                     "new_links", "bytes")}
                  for m in run.metrics],
    }
    print(json.dumps(summary))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
