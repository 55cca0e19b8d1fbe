"""SparkSession builder with the engine's standard configuration.

AQE on (skew-join splitting + partition coalescing), Arrow on (every Python
boundary is vectorized), UTC session time. `shuffle_partitions` should track
cluster cores (set per entry point; bench.py scales it with local[N])."""

from __future__ import annotations

import json
import os

from pyspark.sql import SparkSession


def _driver_memory() -> str:
    """Half of physical RAM, capped at 48g. In local mode the driver JVM is
    the only executor, so a heap larger than the machine gets the JVM
    OOM-killed by the kernel once it grows."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(48 << 10, ram // 2 >> 20)}m"


def get_spark(app: str = "crawler_spark", master: str | None = None,
              shuffle_partitions: int = 32, extra: dict | None = None) -> SparkSession:
    b = SparkSession.builder.appName(app)
    if master:
        b = b.master(master)
    confs = {
        # local-mode driver == the one executor JVM; the 1g default heap OOMs
        # on wave-sized span tables (must be set before JVM launch)
        "spark.driver.memory": _driver_memory(),
        "spark.driver.maxResultSize": "4g",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.enabled": "false",
    }
    confs.update(extra or {})
    # Ops escape hatch: JSON dict of extra confs (e.g. event-log settings for
    # a profiling run) without an entry-point code change. Highest precedence.
    env_extra = os.environ.get("SPARK_GRAFT_EXTRA_CONF")
    if env_extra:
        confs.update(json.loads(env_extra))
    for k, v in confs.items():
        b = b.config(k, v)
    return b.getOrCreate()
