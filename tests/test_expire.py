"""Snapshot expiration + compliance purge (Iceberg maintenance parity).

Contracts under test (plans/tableio.py expire/gc_below, operators/purge.py):

  * expire(keep_last=k) frees old waves' files while the state read at the
    latest wave stays BIT-IDENTICAL (content fingerprints) — full tables,
    delta unions, and the seen base+delta reconstruction;
  * a crawl resumed from an expired store finishes identically to one
    resumed from the unexpired store;
  * the two-phase intent file makes an interrupted expire safe: phase
    "swap" rolls back to the pre-expire layout, phase "cleanup" rolls
    forward, both on the next store open;
  * purge(mode="suppress") erases page content everywhere but keeps seen
    tombstones, so a resumed crawl cannot re-admit the purged URL;
  * purge(mode="forget") also drops the seen keys, so a resumed crawl
    MAY legitimately rediscover the URL;
  * purge physically deletes every pre-epoch snapshot dir and manifest.
"""

from __future__ import annotations

import dataclasses
import json
import os

from crawler_spark.operators.purge import purge_urls
from crawler_spark.plans.frontier import run_crawl
from crawler_spark.plans.tableio import SnapDirStore, content_fingerprint
from crawler_spark.spec import CrawlJobSpec
from conftest import add_legacy_bloom, snap_fp


def _crawl(shared_crawl, crawl_env, root, compact_every=2):
    """A finished crawl's committed store, copied to `root`."""
    spec = CrawlJobSpec(seeds=crawl_env.seeds, max_waves=20,
                        checkpoint_dir=root,
                        seen_compact_every=compact_every)
    return shared_crawl(spec), spec


def _snap_dirs(root: str) -> set[str]:
    out = set()
    for t in os.listdir(root):
        td = os.path.join(root, t)
        if t.startswith("_") or not os.path.isdir(td):
            continue
        out |= {f"{t}/{s}" for s in os.listdir(td) if s.startswith("_snap=")}
    return out


def test_expire_preserves_latest_state(spark, crawl_env, shared_crawl,
                                       tmp_path):
    d = str(tmp_path / "exp")
    run, _ = _crawl(shared_crawl, crawl_env, d)
    assert run.n_waves >= 4
    before = snap_fp(spark, d)
    dirs_before = _snap_dirs(d)

    store = SnapDirStore(spark, d)
    audit = store.expire(keep_last=2)
    assert audit["expired_waves"] >= 2
    assert audit["removed_dirs"] > 0

    # latest state is bit-identical through a fresh store
    assert snap_fp(spark, d) == before
    # manifests below the cutoff are gone, retained ones intact
    mdir = os.path.join(d, "_manifest")
    waves = sorted(int(f.split(".")[0]) for f in os.listdir(mdir)
                   if f.endswith(".json"))
    assert len(waves) == 2 and waves[-1] == before["last_wave"]
    # physical shrink: strictly fewer snapshot dirs, no temp leftovers
    dirs_after = _snap_dirs(d)
    assert len(dirs_after) < len(dirs_before)
    assert not any(s.endswith((".expired", ".swap")) for s in dirs_after)
    assert not os.path.exists(os.path.join(d, store._INTENT))
    # idempotent: a second expire with the same horizon is a no-op
    assert store.expire(keep_last=2)["removed_dirs"] == 0
    assert snap_fp(spark, d) == before


def test_expire_protects_init_seen_base(spark, crawl_env, shared_crawl,
                                        tmp_path):
    """Regression: when the crawl ends before the first seen compaction,
    the live seen base is the INIT commit (wave -1); expire must protect
    that directory or read_seen breaks on the retained manifests."""
    d = str(tmp_path / "initbase")
    _crawl(shared_crawl, crawl_env, d, compact_every=99)   # never compacts
    store = SnapDirStore(spark, d)
    last = store.latest_wave()
    assert store.manifest(last)["extra"]["seen_base_wave"] == -1
    before = content_fingerprint(store.read_seen(last))
    store.expire(keep_last=1)
    s2 = SnapDirStore(spark, d)
    assert content_fingerprint(s2.read_seen(last)) == before
    assert os.path.isdir(os.path.join(d, "seen", "_snap=-1"))


def test_resume_after_expire(spark, crawl_env, shared_crawl, tmp_path):
    """Kill after 2 waves, expire to the single latest snapshot, resume —
    the finished state must equal an uninterrupted run's."""
    fetcher, robots_df, seeds = crawl_env
    full_dir, part_dir = str(tmp_path / "full"), str(tmp_path / "part")
    base = CrawlJobSpec(seeds=seeds, max_waves=20, seen_compact_every=2)
    shared_crawl(dataclasses.replace(base, checkpoint_dir=full_dir))
    shared_crawl(dataclasses.replace(base, checkpoint_dir=part_dir,
                                     max_waves=2))
    SnapDirStore(spark, part_dir).expire(keep_last=1)
    run_crawl(spark, dataclasses.replace(base, checkpoint_dir=part_dir),
              fetcher, robots_src=robots_df, resume=True)
    assert snap_fp(spark, part_dir) == snap_fp(spark, full_dir)


def test_expire_crash_rolls_back_and_forward(spark, crawl_env, shared_crawl,
                                             tmp_path):
    """Interrupted maintenance recovers on the next store open: a swap-phase
    intent restores the pre-expire layout (originals still exist under
    .expired names); a cleanup-phase intent completes the deletions."""
    d = str(tmp_path / "crash")
    _crawl(shared_crawl, crawl_env, d)
    before = snap_fp(spark, d)
    store = SnapDirStore(spark, d)
    dirs0 = _snap_dirs(d)

    # --- simulate a crash mid-swap: docs wave-0 delta renamed aside ---
    docs_waves = store._table_waves("documents")
    victim = docs_waves[0]
    snap = store._snap_path("documents", victim)
    os.replace(snap, snap + ".expired")
    with open(store._intent_path(), "w") as fh:
        json.dump({"phase": "swap",
                   "renames": [{"table": "documents", "wave": victim}],
                   "targets": []}, fh)
    s2 = SnapDirStore(spark, d)          # open triggers recovery
    assert os.path.exists(snap)
    assert not os.path.exists(snap + ".expired")
    assert not os.path.exists(s2._intent_path())
    assert _snap_dirs(d) == dirs0
    assert snap_fp(spark, d) == before

    # --- simulate a crash mid-cleanup: deletions recorded, not yet done ---
    os.replace(snap, snap + ".expired")   # superseded copy awaiting deletion
    with open(store._intent_path(), "w") as fh:
        json.dump({"phase": "cleanup",
                   "renames": [{"table": "documents", "wave": victim}],
                   "targets": [], "rm_dirs": [], "rm_manifests": []}, fh)
    s3 = SnapDirStore(spark, d)
    assert not os.path.exists(snap + ".expired")
    assert not os.path.exists(s3._intent_path())


def test_in_crawl_snapshot_keep(spark, crawl_env, shared_crawl, tmp_path):
    """spec.snapshot_keep bounds store growth DURING the crawl (cheap
    expire mode after each commit): final state and kill/resume bit-identity
    are unchanged, manifests never exceed the horizon, and the document
    history (the output corpus) is never touched."""
    fetcher, robots_df, seeds = crawl_env
    ctl_dir, keep_dir = str(tmp_path / "ctl"), str(tmp_path / "keep")
    base = CrawlJobSpec(seeds=seeds, max_waves=20, seen_compact_every=2)
    shared_crawl(dataclasses.replace(base, checkpoint_dir=ctl_dir))

    # (a) uninterrupted crawl under retention == control state
    run_crawl(spark, dataclasses.replace(base, checkpoint_dir=keep_dir,
                                         snapshot_keep=2),
              fetcher, robots_src=robots_df)
    assert snap_fp(spark, keep_dir) == snap_fp(spark, ctl_dir)
    mdir = os.path.join(keep_dir, "_manifest")
    assert len([f for f in os.listdir(mdir) if f.endswith(".json")]) == 2
    # document history intact: one delta dir per fetching wave
    store = SnapDirStore(spark, keep_dir)
    assert len(store._table_waves("documents")) >= 4
    # full-table copies bounded to the horizon
    assert len(store._table_waves("frontier")) <= 2

    # (b) kill mid-crawl under retention, resume == control state
    kill_dir = str(tmp_path / "kill")
    run_crawl(spark, dataclasses.replace(base, checkpoint_dir=kill_dir,
                                         snapshot_keep=2, max_waves=2),
              fetcher, robots_src=robots_df)
    run_crawl(spark, dataclasses.replace(base, checkpoint_dir=kill_dir,
                                         snapshot_keep=2),
              fetcher, robots_src=robots_df, resume=True)
    assert snap_fp(spark, kill_dir) == snap_fp(spark, ctl_dir)


def test_purge_suppress_tombstones(spark, crawl_env, shared_crawl, tmp_path):
    d = str(tmp_path / "sup")
    run, spec = _crawl(shared_crawl, crawl_env, d)
    add_legacy_bloom(spark, d)
    store = SnapDirStore(spark, d)
    last = store.latest_wave()
    victims = [r["doc_id"] for r in
               run.documents.select("doc_id").limit(3).collect()]
    n_docs0 = store.read_delta_union("documents", last).count()
    n_seen0 = store.read_seen(last).count()
    dirs_before = _snap_dirs(d)

    audit = purge_urls(spark, store, victims, mode="suppress")
    assert audit["docs_purged"] == 3
    assert audit["seen_purged"] == 0              # tombstones kept
    assert audit["gc_dirs"] > 0

    epoch = audit["epoch"]
    s2 = SnapDirStore(spark, d)
    assert s2.latest_wave() == epoch
    # an older store's `bloom` table is not carried into the epoch
    assert "bloom" not in s2.manifest(epoch)["tables"]
    docs = s2.read_delta_union("documents", epoch)
    assert docs.count() == n_docs0 - 3
    assert docs.where(docs["doc_id"].isin(victims)).count() == 0
    log = s2.read_delta_union("fetch_log", epoch)
    assert log.where(log["url_canon"].isin(victims)).count() == 0
    seen = s2.read_seen(epoch)
    assert seen.count() == n_seen0
    assert seen.where(seen["url_canon"].isin(victims)).count() == 3
    # every pre-epoch snapshot dir and manifest is physically gone
    assert all(s.endswith(f"_snap={epoch}") for s in _snap_dirs(d))
    mdir = os.path.join(d, "_manifest")
    assert [int(f.split(".")[0]) for f in sorted(os.listdir(mdir))
            if f.endswith(".json")] == [epoch]

    # resuming the (drained) crawl is a no-op and leaves the purge intact
    run2 = run_crawl(spark, dataclasses.replace(spec), crawl_env[0],
                     robots_src=crawl_env[1], resume=True)
    assert run2.metrics == []
    docs2 = SnapDirStore(spark, d).read_delta_union(
        "documents", SnapDirStore(spark, d).latest_wave())
    assert docs2.where(docs2["doc_id"].isin(victims)).count() == 0


def test_purge_forget_erases_seen_and_bloom(spark, crawl_env, shared_crawl,
                                            tmp_path):
    d = str(tmp_path / "forget")
    run, spec = _crawl(shared_crawl, crawl_env, d)
    add_legacy_bloom(spark, d)
    store = SnapDirStore(spark, d)
    last = store.latest_wave()
    victims = [r["doc_id"] for r in
               run.documents.select("doc_id").limit(3).collect()]
    n_seen0 = store.read_seen(last).count()

    audit = purge_urls(spark, store, victims, mode="forget")
    epoch = audit["epoch"]
    assert audit["seen_purged"] == 3
    s2 = SnapDirStore(spark, d)
    seen = s2.read_seen(epoch)
    assert seen.count() == n_seen0 - 3
    assert seen.where(seen["url_canon"].isin(victims)).count() == 0
    # an older store's `bloom` table is not carried either: the filtered
    # seen is the only dedup state a resume reads
    assert "bloom" not in s2.manifest(epoch)["tables"]
    run2 = run_crawl(spark, dataclasses.replace(spec), crawl_env[0],
                     robots_src=crawl_env[1], resume=True)
    assert run2.seen.count() == seen.count()      # drained frontier: no change


def _mid_crawl_victim(crawl_env, shared_crawl, tmp_path, tag):
    """Kill a crawl after 2 waves and pick a victim URL that was fetched
    early but is ALSO linked from a page the killed run has not yet fetched
    — so the resumed crawl genuinely re-encounters its inlink and the
    re-admission behavior (blocked vs allowed) is actually exercised."""
    from pyspark.sql import functions as F

    fetcher, robots_df, seeds = crawl_env
    base = CrawlJobSpec(seeds=seeds, max_waves=20, seen_compact_every=2)
    ctl_dir = str(tmp_path / f"{tag}-ctl")
    run_ctl = shared_crawl(dataclasses.replace(base, checkpoint_dir=ctl_dir))
    assert run_ctl.n_waves >= 4
    kill_dir = str(tmp_path / f"{tag}-kill")
    spec_k = dataclasses.replace(base, checkpoint_dir=kill_dir, max_waves=2)
    run_k = shared_crawl(spec_k)
    fetched_early = {r["url_canon"]
                     for r in run_k.fetch_log.select("url_canon").collect()}
    # link targets of pages fetched at wave >= 2 (media_ref of link spans is
    # already the canonical URL — same column frontier's outlink stage uses)
    late_links = {r["ref"] for r in
                  (run_ctl.documents.where("wave >= 2")
                   .select(F.explode(F.expr(
                       "filter(spans, s -> s.kind = 'link' "
                       "AND s.media_ref != '')")).alias("s"))
                   .select(F.col("s.media_ref").alias("ref")).collect())}
    victims = sorted(fetched_early & late_links)
    assert victims, "fixture must produce an early-fetched, late-linked URL"
    spec_r = dataclasses.replace(base, checkpoint_dir=kill_dir)
    return victims[0], kill_dir, spec_r, fetcher, robots_df


def test_purge_suppress_blocks_readmission_mid_crawl(spark, crawl_env,
                                                     shared_crawl, tmp_path):
    """The tombstone property under fire: purge a fetched URL from a
    KILLED-mid-crawl store, resume — later waves re-encounter its inlinks,
    and the seen tombstone must block re-fetch and re-admission."""
    v, kill_dir, spec_r, fetcher, robots_df = _mid_crawl_victim(
        crawl_env, shared_crawl, tmp_path, "sup")
    store = SnapDirStore(spark, kill_dir)
    audit = purge_urls(spark, store, [v], mode="suppress")
    assert audit["docs_purged"] == 1
    run_r = run_crawl(spark, spec_r, fetcher, robots_src=robots_df,
                      resume=True)
    assert run_r.metrics, "resume must actually run waves"
    s2 = SnapDirStore(spark, kill_dir)
    last = s2.latest_wave()
    log = s2.read_delta_union("fetch_log", last)
    assert log.where(log["url_canon"] == v).count() == 0   # never re-fetched
    docs = s2.read_delta_union("documents", last)
    assert docs.where(docs["doc_id"] == v).count() == 0
    seen = s2.read_seen(last)
    assert seen.where(seen["url_canon"] == v).count() == 1  # tombstone held


def test_purge_forget_allows_rediscovery_mid_crawl(spark, crawl_env,
                                                   shared_crawl, tmp_path):
    """Forget mode is full erasure: with the seen key gone, the resumed
    crawl legitimately re-discovers and re-fetches the URL when a later
    wave links to it."""
    v, kill_dir, spec_r, fetcher, robots_df = _mid_crawl_victim(
        crawl_env, shared_crawl, tmp_path, "fgt")
    store = SnapDirStore(spark, kill_dir)
    audit = purge_urls(spark, store, [v], mode="forget")
    assert audit["seen_purged"] == 1
    run_r = run_crawl(spark, spec_r, fetcher, robots_src=robots_df,
                      resume=True)
    assert run_r.metrics
    s2 = SnapDirStore(spark, kill_dir)
    last = s2.latest_wave()
    log = s2.read_delta_union("fetch_log", last)
    refetch = log.where(log["url_canon"] == v).collect()
    assert len(refetch) == 1 and refetch[0]["wave"] >= 2   # rediscovered
    docs = s2.read_delta_union("documents", last)
    assert docs.where(docs["doc_id"] == v).count() == 1


def _purge_without_gc(spark, crawl_env, shared_crawl, tmp_path, tag):
    """Commit a purge epoch exactly as purge_urls does but 'crash' before
    its physical GC: returns (store, root, epoch, victims, n_after) with
    pre-epoch garbage dirs still on disk."""
    import crawler_spark.operators.purge as purge_mod

    d = str(tmp_path / tag)
    run, _ = _crawl(shared_crawl, crawl_env, d)
    store = SnapDirStore(spark, d)
    victims = [r["doc_id"] for r in
               run.documents.select("doc_id").limit(2).collect()]
    real_gc = SnapDirStore.gc_below
    SnapDirStore.gc_below = lambda self, cutoff: 0
    try:
        audit = purge_mod.purge_urls(spark, store, victims, mode="suppress")
    finally:
        SnapDirStore.gc_below = real_gc
    epoch = audit["epoch"]
    assert audit["gc_dirs"] == 0                      # GC "crashed"
    assert os.path.isdir(os.path.join(d, "documents", "_snap=0"))  # garbage
    # reads are already exact via delta_base, even before any GC
    docs = store.read_delta_union("documents", epoch)
    n_after = docs.count()
    assert docs.where(docs["doc_id"].isin(victims)).count() == 0
    return store, d, epoch, victims, n_after


def test_expire_deletes_stale_prepurge_dirs(spark, crawl_env, shared_crawl,
                                            tmp_path):
    """Regression (review finding): delta dirs below a purge epoch's
    delta_base are superseded garbage — expire must DELETE them, never
    union them into a compacted base (which would resurrect purged rows and
    duplicate every pre-purge row). Run on the SAME store object so the
    open-time recovery cannot clean up first."""
    store, d, epoch, victims, n_after = _purge_without_gc(
        spark, crawl_env, shared_crawl, tmp_path, "staledirs")
    store.expire(keep_last=1)
    assert not os.path.isdir(os.path.join(d, "documents", "_snap=0"))
    docs = SnapDirStore(spark, d).read_delta_union("documents", epoch)
    assert docs.count() == n_after                       # no duplication
    assert docs.where(docs["doc_id"].isin(victims)).count() == 0


def test_store_open_completes_interrupted_purge_gc(spark, crawl_env,
                                                   shared_crawl, tmp_path):
    """A crash between the purge's manifest commit and its GC intent leaves
    no recovery intent — the next store open must detect the un-GC'd purge
    epoch from the manifest and complete the physical erasure itself."""
    _, d, epoch, victims, n_after = _purge_without_gc(
        spark, crawl_env, shared_crawl, tmp_path, "opengc")
    s2 = SnapDirStore(spark, d)                          # open triggers GC
    assert not os.path.isdir(os.path.join(d, "documents", "_snap=0"))
    mdir = os.path.join(d, "_manifest")
    assert [int(f.split(".")[0]) for f in sorted(os.listdir(mdir))
            if f.endswith(".json")] == [epoch]
    docs = s2.read_delta_union("documents", epoch)
    assert docs.count() == n_after
    assert docs.where(docs["doc_id"].isin(victims)).count() == 0


def test_purge_matches_casefold_identity(spark, crawl_env, shared_crawl,
                                         tmp_path):
    """Any spelling of the page purges the stored representative — the
    match key is the engine's casefold hash, not the raw string."""
    d = str(tmp_path / "fold")
    run, _ = _crawl(shared_crawl, crawl_env, d)
    store = SnapDirStore(spark, d)
    victim = run.documents.select("doc_id").limit(1).collect()[0]["doc_id"]
    shouty = victim.upper().replace("HTTP://", "http://")
    audit = purge_urls(spark, store, [shouty], mode="suppress")
    assert audit["docs_purged"] == 1


def test_purge_from_cuckoo(spark):
    import numpy as np

    from crawler_spark.operators.cuckoo import SeenCuckoo
    from crawler_spark.operators.purge import purge_from_cuckoo

    ck = SeenCuckoo(n_parts=4, keys_per_part=1 << 10)
    keys = np.arange(1, 401, dtype=np.uint64) * np.uint64(2654435761)
    ck.insert_keys(keys)
    victims = spark.createDataFrame(
        [(int(k),) for k in keys[:7].view(np.int64)] + [(999999,)],
        "url_hash long")
    assert purge_from_cuckoo(ck, victims) == 7    # absent key skipped
    assert not ck.contains_keys(keys[:7]).any()
    assert ck.contains_keys(keys[7:]).all()
