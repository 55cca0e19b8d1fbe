from __future__ import annotations

import dataclasses
import shutil
import sys
from pathlib import Path
from typing import NamedTuple

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from crawler_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark("crawler-spark-tests", master="local[*]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def small_cfg():
    from crawler_spark.sources.webgraph import WebGraphConfig
    return WebGraphConfig(n_hosts=8, max_pages_per_host=12, out_degree=5)


class CrawlEnv(NamedTuple):
    fetcher: object          # SimulatedFetcher over the fixture web
    robots_df: object        # robots.txt source table (robots_src=)
    seeds: tuple[str, ...]


@pytest.fixture(scope="session")
def web_env(spark):
    """`web_env(cfg)`: the CrawlEnv of a WebGraphConfig, built once."""
    from crawler_spark.sources.fetch import SimulatedFetcher
    from crawler_spark.sources.webgraph import gen_seeds, to_spark

    envs: dict = {}

    def get(cfg) -> CrawlEnv:
        if cfg not in envs:
            pages_df, robots_df = to_spark(spark, cfg)
            envs[cfg] = CrawlEnv(SimulatedFetcher(pages_df), robots_df,
                                 tuple(gen_seeds(cfg)))
        return envs[cfg]

    return get


@pytest.fixture(scope="session")
def crawl_env(web_env, small_cfg) -> CrawlEnv:
    return web_env(small_cfg)


@pytest.fixture(scope="session")
def shared_crawl(spark, crawl_env, tmp_path_factory):
    """`shared_crawl(spec)` returns `run_crawl(spark, spec, crawl_env.fetcher,
    robots_src=crawl_env.robots_df)`, running each distinct crawl (the spec
    minus its checkpoint_dir, and the store kind) once per session; crawls
    are deterministic (SURVEY.md §5.3). The CrawlRun is shared: read only.
    With `spec.checkpoint_dir` set, the committed SnapDirStore is copied
    there (a new dir), for the caller to expire, purge or resume."""
    from crawler_spark.plans.frontier import run_crawl

    runs: dict = {}

    def crawl(spec):
        key = (dataclasses.replace(spec, checkpoint_dir=""),
               bool(spec.checkpoint_dir))
        if key not in runs:
            root = (str(tmp_path_factory.mktemp("crawl") / "store")
                    if spec.checkpoint_dir else "")
            runs[key] = run_crawl(
                spark, dataclasses.replace(spec, checkpoint_dir=root),
                crawl_env.fetcher, robots_src=crawl_env.robots_df)
        if spec.checkpoint_dir:
            shutil.copytree(runs[key].spec.checkpoint_dir,
                            spec.checkpoint_dir)
        return runs[key]

    return crawl


def snap_fp(spark, root: str) -> dict:
    """Content fingerprints of a SnapDirStore's latest full state and all
    its deltas (`seen` through read_seen); equal dicts mean bit-identical
    crawl state. Test modules import it: `from conftest import snap_fp`."""
    from crawler_spark.plans.tableio import SnapDirStore, content_fingerprint

    store = SnapDirStore(spark, root)
    last = store.latest_wave()
    out = {"last_wave": last}
    for t in ("frontier", "hosts"):
        try:
            out[t] = content_fingerprint(store.read_full(t, last))
        except Exception:
            out[t] = None
    out["seen"] = content_fingerprint(store.read_seen(last))
    for t in ("documents", "fetch_log", "metrics"):
        df = store.read_delta_union(t, last)
        out[t] = content_fingerprint(df) if df is not None else None
    return out


# Session shapes for the environment-invariance sweeps: (shuffle partitions,
# AQE, files.maxPartitionBytes).
SHAPES = [("8", "false", str(128 * 1024 * 1024)),
          ("200", "true", str(128 * 1024 * 1024)),
          ("3", "true", str(64 * 1024)),
          ("32", "false", str(1024 * 1024))]


def _sweep(spark, base, run, want, reorder_col):
    """Assert `run(df) == want` for 4 input partitionings of `base` under
    every session shape in SHAPES (16 combinations), then restore the
    session conf — unsetting a key that was unset before, so no later test
    inherits a sweep's shape."""
    from pyspark.sql import functions as F

    inputs = [base, base.repartition(13), base.coalesce(1),
              base.orderBy(F.desc(reorder_col)).repartition(5)]
    conf = spark.conf
    saved = {k: conf.get(k, None) for k in
             ("spark.sql.shuffle.partitions",
              "spark.sql.adaptive.enabled",
              "spark.sql.files.maxPartitionBytes")}
    try:
        for sp, aqe, mpb in SHAPES:
            conf.set("spark.sql.shuffle.partitions", sp)
            conf.set("spark.sql.adaptive.enabled", aqe)
            conf.set("spark.sql.files.maxPartitionBytes", mpb)
            for df in inputs:
                assert run(df) == want, (sp, aqe, mpb)
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
