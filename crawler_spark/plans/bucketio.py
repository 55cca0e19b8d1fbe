"""Bucketed `seen` layout: the co-located anti-join for 10^10-URL scale.

The per-wave J1 anti-join (candidates LEFT ANTI seen, plans/frontier._admit)
is the one join in the wave loop whose BIG side is persistent state: `seen`
grows to the full 10^10-URL history while a wave's candidates stay 10^6-10^8.
Without a co-located layout, every wave's sort-merge anti-join re-shuffles
the ENTIRE seen table — the dominant recurring shuffle of a long crawl
(the bloom prefilter in operators/dedup.py cuts how many candidates reach
the join, but not what the join does with `seen`).

Bucketing is Spark's answer (Spark SQL bucketed tables = Hive bucketing:
`df.write.bucketBy(n, key).sortBy(key).saveAsTable(...)`): the table is
written pre-hash-partitioned into n buckets on `url_hash` and each bucket
file pre-sorted, so a sort-merge join against it plans with NO Exchange and
NO Sort on the seen side — Catalyst sees the scan's outputPartitioning =
HashPartitioning(url_hash, n) and only shuffles the wave's candidate side
to match. Per-wave cost becomes O(wave), not O(history).

Sandbox honesty: the SnapDir store (plans/tableio.py) keeps `seen` as plain
parquet deltas because bucketed tables need a session catalog entry and the
resume contract must survive process death by path alone; a real cluster
deployment registers the compacted `seen` snapshot as a bucketed catalog
table at each compaction (seen_compact_every) and reads it back through the
catalog. This module implements exactly that write/read/join shape —
`run_crawl` does not call it, so the loop's anti-join still plans against
the plain parquet `seen` every wave — and
tests/test_bucketio.py pins BOTH the correctness (bucketed anti-join ==
plain anti-join) and the PLAN property (exactly one Exchange — the
candidate side — and zero Sort on the bucketed side).

Reference parity: the reference's seen-set lives inside the spider crate's
in-process hash set (single machine); a distributed seen table and its
shuffle economics are exactly what the Spark re-architecture adds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F


def write_bucketed_seen(seen: DataFrame, table: str, path: str,
                        n_buckets: int = 32) -> None:
    """Register `seen` as a bucketed+sorted external table on url_hash.

    At the 10^10 design point this runs at compaction time (amortized over
    seen_compact_every waves), replacing the previous bucketed snapshot.
    `n_buckets` is a layout constant for the table's lifetime — pick it for
    the CLUSTER (e.g. 2-4x executor count), not the data size, since every
    subsequent wave's candidate exchange targets exactly n_buckets
    partitions.
    """
    # one file per bucket: repartition by the SAME murmur3 hash the bucket
    # layout uses, so each write task owns exactly one bucket (otherwise
    # every task emits a file into every bucket — files = tasks x buckets)
    (seen.repartition(n_buckets, F.col("url_hash"))
     .write.mode("overwrite")
     .option("path", path)
     .bucketBy(n_buckets, "url_hash")
     .sortBy("url_hash")
     .format("parquet")
     .saveAsTable(table))


def bucketed_anti_join(spark: SparkSession, candidates: DataFrame,
                       table: str) -> DataFrame:
    """candidates LEFT ANTI bucketed-seen — J1 with the seen side
    co-located: the merge hint forces the sort-merge plan (a broadcast
    of 10^10 seen rows is impossible at scale; at fixture scale AQE
    would otherwise broadcast and hide the property under test), the
    bucketed scan contributes its layout, and only the candidate side
    exchanges."""
    seen = spark.table(table).select("url_hash").hint("merge")
    return candidates.join(seen, "url_hash", "left_anti")
