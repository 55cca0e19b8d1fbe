"""Compliance purge — right-to-erasure over the snapshot store.

The reference has no deletion story (spider's visited set dies with the
request, and a11ywatch's stored pages live outside the crawler —
/root/reference/src/scanner/scan.rs:38-41 just streams pages out); a real
10^10-URL corpus operated under GDPR/DMCA does: "remove these URLs" must
physically erase the page content from every snapshot, not just mask it at
read time.

``purge_urls(spark, store, urls, mode)`` rewrites the store as a new **purge
epoch**: wave P = latest+1 commits, in ONE atomic manifest,

  * ``frontier`` minus the purged casefold keys (both modes — a purge-listed
    URL must not be fetched),
  * ``documents`` / ``fetch_log`` histories rewritten as single filtered
    base dirs (``extra.delta_base[table] = P`` makes reads at or after P
    ignore the superseded older dirs even before their physical GC),
  * ``seen``:
      - ``mode="suppress"`` (takedown): seen keys are KEPT as tombstones —
        the page body is erased everywhere but the URL stays in the dedup
        set, so a later crawl or recrawl never re-admits it;
      - ``mode="forget"`` (full erasure): seen keys are removed too — every
        trace of the URL is gone, and the crawler may legitimately
        rediscover it. A live deletable sketch (operators/cuckoo.py) can
        drop the keys in place — see ``purge_from_cuckoo``.

then hard-deletes every pre-epoch snapshot dir and manifest
(``SnapDirStore.gc_below``, crash-safe roll-forward). Metrics are carried
forward verbatim: they are URL-free per-partition aggregates, and erasure
law reaches content, not row counts.

Matching is by the engine's casefold identity (xxhash64(lower(url_canon)),
plans/frontier.py _admit) so any spelling of the page purges the stored
representative.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from crawler_spark.functions.canon import canonicalize_udf
from crawler_spark.operators.dedup import url_hash_col


def purge_keys(spark: SparkSession, urls) -> DataFrame:
    """Canonicalize a purge request (list[str] or DataFrame[url]) into the
    engine's casefold hash keys: DataFrame[url_hash]. Requests that fail
    canonicalization are dropped (nothing in the store can match them)."""
    if not isinstance(urls, DataFrame):
        urls = spark.createDataFrame([(u,) for u in urls], "url string")
    return (urls
            .withColumn("url_canon",
                        canonicalize_udf(F.col("url"), F.lit("")))
            .where(F.col("url_canon") != "")
            .select(url_hash_col(F.col("url_canon")).alias("url_hash"))
            .distinct())


def _anti(df: DataFrame, keys: DataFrame, key_col) -> DataFrame:
    """df minus rows whose casefold hash is in `keys` — broadcast anti-join
    (the purge set is human-scale next to the store)."""
    return df.join(F.broadcast(keys),
                   key_col == keys["url_hash"], "left_anti")


def purge_from_cuckoo(cuckoo, keys_df: DataFrame,
                      distributed: bool = True) -> int:
    """Delete purged keys from a live deletable seen-sketch (forget mode).
    Only keys actually inserted may be deleted (cuckoo contract); absent
    keys are skipped (CuckooFilter.delete reports False for a fingerprint
    not present in either candidate bucket — same check `contains` makes).
    Returns #deleted.

    Default is the distributed per-part deletion
    (SeenCuckoo.delete_keys_distributed — no key collect); for purge the
    key set is human-scale (a takedown list), so the `distributed=False`
    collect path is also fine and serves as the equivalence oracle."""
    if distributed:
        return cuckoo.delete_keys_distributed(keys_df)
    rows = keys_df.select("url_hash").collect()
    if not rows:
        return 0
    keys = np.array([r["url_hash"] for r in rows],
                    dtype=np.int64).view(np.uint64)
    contained = cuckoo.contains_keys(keys)
    return int(cuckoo.delete_keys(keys[contained]).sum())


def purge_urls(spark: SparkSession, store, urls,
               mode: str = "suppress") -> dict:
    """Erase a URL set from every committed table; returns an audit dict.

    Requires a resumable store with at least one committed wave. The epoch
    is atomic at its manifest; physical deletion of pre-epoch files rolls
    forward across crashes (tableio intent file). Not concurrent-safe with
    an active crawl on the same store (same contract as expire/Iceberg
    maintenance)."""
    if mode not in ("suppress", "forget"):
        raise ValueError(f"unknown purge mode {mode!r}")
    if not getattr(store, "resumable", False):
        raise ValueError("purge requires a resumable (SnapDir) store")
    last = store.latest_wave()
    if last is None:
        raise ValueError("purge: store has no committed wave")
    keys = purge_keys(spark, urls).localCheckpoint(eager=True)
    n_keys = keys.count()

    man = store.manifest(last)
    extra = dict(man.get("extra", {}))
    tables = man.get("tables", {})
    epoch = last + 1

    frontier = store.read_full("frontier", last)
    seen = store.read_seen(last)
    docs = store.read_delta_union("documents", last)
    flog = store.read_delta_union("fetch_log", last)
    metrics = store.read_delta_union("metrics", last)

    n_docs0 = docs.count() if docs is not None else 0
    n_seen0 = seen.count()

    full = {"frontier": _anti(frontier, keys, frontier["url_hash"])}
    if mode == "forget":
        full["seen"] = _anti(seen, keys, seen["url_hash"])
    else:
        full["seen"] = seen                      # tombstones stay
    # an older store's `bloom` table is not carried: nothing reads it
    for carry in ("hosts", "robots"):
        if carry in tables:
            full[carry] = store.read_full(carry, last)

    delta = {}
    if docs is not None:
        delta["documents"] = _anti(docs, keys, url_hash_col(docs["doc_id"]))
    if flog is not None:
        delta["fetch_log"] = _anti(flog, keys,
                                   url_hash_col(flog["url_canon"]))
    if metrics is not None:
        delta["metrics"] = metrics

    n_seen1 = full["seen"].count()
    extra["delta_base"] = {**extra.get("delta_base", {}),
                           **{t: epoch for t in delta}}
    extra["seen_base_wave"] = epoch
    extra["seen_rows"] = n_seen1
    extra["purge"] = {"mode": mode, "n_keys": int(n_keys), "epoch": epoch}
    store.persist_wave(epoch, full=full, delta=delta, extra=extra)
    # the epoch manifest already carries exact row counts, observed while
    # the commit wrote each table — no extra table scans for the audit
    etabs = store.manifest(epoch).get("tables", {})
    n_docs1 = int(etabs.get("documents", {}).get("rows", 0))
    removed_dirs = store.gc_below(epoch)
    return {
        "epoch": epoch,
        "mode": mode,
        "n_keys": int(n_keys),
        "docs_purged": int(n_docs0 - n_docs1),
        "seen_purged": int(n_seen0 - n_seen1),
        "gc_dirs": int(removed_dirs),
    }
