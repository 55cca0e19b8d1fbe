"""Snapshot/commit protocol with per-partition lineage (SURVEY.md §4.3).

north_rule: every wave checkpoints frontier + seen-filter state so a killed
job resumes bit-identically. Target backend is Iceberg (snapshot-id = wave);
the sandbox has no Iceberg runtime jar and no network to fetch one, so the
default backend is **snapdir**: Parquet under ``<root>/<table>/_snap=<wave>/``
plus ``<root>/_manifest/<wave>.json`` written LAST as the atomic commit point
(a snapshot without its manifest does not exist). Manifests carry per-table
row counts, order-insensitive xxhash64 content fingerprints and the Spark
schema (JSON). Rows and fingerprint are observed while the table is written,
so a commit is one Spark job per table. Nothing verifies them on read:
``rows`` feeds resume's row counts (the seed commit's `seen` size and the
pending frontier), run_recrawl's pending-frontier check and the purge audit;
``fingerprint`` is the hash the tests recompute from the data
(``content_fingerprint``, tests/conftest.snap_fp) to assert bit-identical
state. Reads take the schema the manifest records, as Iceberg readers take
it from table metadata, so no read of the current format infers one; only a
table whose manifest entry has no ``schema`` (a store written before
manifests recorded it, or a `seen` base whose manifest has expired) is read
with inference. Resume reads exactly the tables a manifest lists.

Tables are committed in one of two modes:
  * ``full``  — complete state each wave (frontier, hosts);
  * ``delta`` — append-only per-wave increment (documents, fetch_log,
    metrics); a read at wave W unions deltas 0..W.
``seen`` uses delta-PLUS-COMPACTION (spec.seen_compact_every = K >= 1, on
every store): per-wave ``seen_delta`` snapshots with a full base every K
waves, reconstructed by ``read_seen`` — a full rewrite per wave would be
O(total frontier) write volume at the 10^10 design point. Iceberg gives the
same layout natively via snapshot manifests.

Maintenance (``SnapDirStore.expire`` — Iceberg ``expireSnapshots`` parity):
a crawl that snapshots every wave accrues one manifest + one dir per table
per wave forever; at the 10^10 design point the store would hold thousands
of superseded full `frontier` copies. ``expire(keep_last=k)`` drops all
state older than the last k committed waves: superseded full snapshots are
deleted, pure-delta histories (documents / fetch_log / metrics) are
COMPACTED — the expired waves' rows are rewritten as one base directory in
the newest expired slot, so ``read_delta_union`` reconstructs bit-identical
content with no reader change — and ``seen_delta`` dirs at or below the
oldest retained base are dropped (they are superseded by that base by
construction). The swap is crash-safe via a two-phase intent file
(`_expire_intent.json`): phase "swap" rolls BACK on recovery (originals are
still present under ``.expired`` names), phase "cleanup" rolls FORWARD
(only deletions remain). Like Iceberg's expire, it must not run
concurrently with readers of the expired range.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.types import StructType


def fingerprint_sum_col(df: DataFrame):
    """The one definition of the content hash aggregate: sum(xxhash64(
    to_json(struct(*)))) in decimal(38,0) — a long sum of 64-bit hashes
    overflows almost immediately under ANSI mode (Spark 4 default).
    Shared by content_fingerprint and persist_wave so the manifest and the
    resume/expire verifiers can never drift apart."""
    return F.sum(F.xxhash64(F.to_json(F.struct(*df.columns)))
                 .cast("decimal(38,0)"))


def content_fingerprint(df: DataFrame) -> int:
    """Order-insensitive content hash mod 2^64. Used by manifests and the
    resume test (bitwise-equal state)."""
    row = df.select(fingerprint_sum_col(df).alias("fp")).collect()[0]
    return int(row["fp"] or 0) % (1 << 64)


class MemoryStore:
    """No-checkpoint state store: localCheckpoint() truncates lineage so the
    per-wave plan does not grow; nothing survives the session."""

    resumable = False

    def persist_wave(self, wave: int, full: dict[str, DataFrame],
                     delta: dict[str, DataFrame], extra: dict | None = None
                     ) -> dict[str, DataFrame]:
        # full tables accumulate lineage across waves -> must be truncated;
        # delta tables hang off already-checkpointed wave intermediates.
        out = {name: df.localCheckpoint(eager=True) for name, df in full.items()}
        out.update(delta)
        return out


class SnapDirStore:
    """Parquet snapshot store with manifest-as-commit-point."""

    resumable = True

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "_manifest"), exist_ok=True)
        self._recover_expire()

    # -- paths --
    def _snap_path(self, table: str, wave: int) -> str:
        return os.path.join(self.root, table, f"_snap={wave}")

    def _manifest_path(self, wave: int) -> str:
        return os.path.join(self.root, "_manifest", f"{wave:06d}.json")

    # -- commit --
    def persist_wave(self, wave: int, full: dict[str, DataFrame],
                     delta: dict[str, DataFrame], extra: dict | None = None
                     ) -> dict[str, DataFrame]:
        extra = dict(extra or {})
        # delta_base lineage (set by a purge epoch, operators/purge.py):
        # inherited by every later commit so read_delta_union stays exact
        # even if the purged history's physical GC was interrupted.
        lw = self.latest_wave()
        if lw is not None and lw < wave:
            parent_db = (self.manifest(lw).get("extra", {})
                         .get("delta_base") or {})
            if parent_db:
                extra["delta_base"] = {**parent_db,
                                       **extra.get("delta_base", {})}
        manifest = {"wave": wave, "parent_wave": wave - 1,
                    "tables": {}, "extra": extra}
        out: dict[str, DataFrame] = {}
        for mode, tables in (("full", full), ("delta", delta)):
            for name, df in tables.items():
                path = self._snap_path(name, wave)
                if os.path.exists(path):           # re-run of an uncommitted wave
                    shutil.rmtree(path)
                # rows + fingerprint are observed on the rows the write
                # itself streams: the commit is ONE job per table, with no
                # read-back scan, and the returned table reads the files
                # with the known schema, so it infers none
                obs = Observation()
                df.observe(obs, F.count(F.lit(1)).alias("rows"),
                           fingerprint_sum_col(df).alias("fp")
                           ).write.parquet(path)
                stat = obs.get
                manifest["tables"][name] = {
                    "mode": mode,
                    "rows": int(stat["rows"]),
                    "fingerprint": int(stat["fp"] or 0) % (1 << 64),
                    "n_files": len([f for f in os.listdir(path)
                                    if f.endswith(".parquet")]),
                    "schema": df.schema.json(),
                }
                out[name] = self.spark.read.schema(df.schema).parquet(path)
        tmp = self._manifest_path(wave) + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh, indent=1)
        os.replace(tmp, self._manifest_path(wave))   # atomic commit point
        return out

    # -- read / resume --
    def latest_wave(self) -> int | None:
        waves = [int(f.split(".")[0]) for f in os.listdir(os.path.join(self.root, "_manifest"))
                 if f.endswith(".json")]
        return max(waves) if waves else None

    def manifest(self, wave: int) -> dict:
        with open(self._manifest_path(wave)) as fh:
            return json.load(fh)

    def _manifest_or_empty(self, wave: int) -> dict:
        try:
            return self.manifest(wave)
        except (OSError, ValueError):      # expired or unreadable
            return {}

    @staticmethod
    def _schema(man: dict, table: str) -> StructType | None:
        """The schema `man` records for `table`; None when its entry has
        none, and the read then infers it from the files."""
        schema = man.get("tables", {}).get(table, {}).get("schema")
        return (None if schema is None
                else StructType.fromJson(json.loads(schema)))

    def read_full(self, table: str, wave: int) -> DataFrame:
        schema = self._schema(self._manifest_or_empty(wave), table)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self._snap_path(table, wave))

    def read_delta_union(self, table: str, upto_wave: int,
                         from_wave: int = 0) -> DataFrame | None:
        # a purge epoch rewrites a delta table's full history into one base
        # dir and records it in the manifest (extra.delta_base); reads at or
        # after the epoch must not union the superseded (possibly not yet
        # GC'd) older dirs
        man = self._manifest_or_empty(upto_wave)
        base = (man.get("extra", {}).get("delta_base") or {}).get(table)
        if base is not None:
            from_wave = max(from_wave, int(base))
        paths = [self._snap_path(table, w)
                 for w in range(from_wave, upto_wave + 1)]
        paths = [p for p in paths if os.path.exists(p)]
        if not paths:
            return None
        schema = self._schema(man, table)
        if schema is not None:
            # the newest delta's schema: files missing one of its columns
            # read it as null, as mergeSchema would
            return self.spark.read.schema(schema).parquet(*paths)
        # mergeSchema only serves manifests without a `schema`: a resumed
        # run may append deltas with columns an older process's files lack
        # (e.g. metrics grew job_id/event) — without it Spark infers from
        # one arbitrary file and the new columns silently vanish
        return self.spark.read.option("mergeSchema", "true").parquet(*paths)

    def read_seen(self, wave: int) -> DataFrame:
        """Reconstruct `seen` as of `wave`: the full base committed at
        `wave` (the seed commit or a compaction wave), or the last base plus
        the per-wave `seen_delta` chain since (manifest
        `extra.seen_base_wave`)."""
        man = self.manifest(wave)
        if "seen" in man.get("tables", {}):
            return self.read_full("seen", wave)
        base = man.get("extra", {}).get("seen_base_wave")
        if base is None:
            raise FileNotFoundError(f"no seen snapshot or base at wave {wave}")
        df = self.read_full("seen", base)
        deltas = self.read_delta_union("seen_delta", wave, from_wave=base + 1)
        return df if deltas is None else df.unionByName(deltas)

    # -- maintenance: snapshot expiration (Iceberg expireSnapshots parity) --

    _INTENT = "_expire_intent.json"

    def _intent_path(self) -> str:
        return os.path.join(self.root, self._INTENT)

    def _table_waves(self, table: str) -> list[int]:
        d = os.path.join(self.root, table)
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.startswith("_snap=") and not f.endswith((".expired", ".swap")):
                try:
                    out.append(int(f.split("=", 1)[1]))
                except ValueError:
                    pass
        return sorted(out)

    def _recover_expire(self) -> None:
        """Finish or undo maintenance interrupted by a crash. Phase "swap":
        every original directory still exists (under its ``.expired`` name or
        untouched), so roll BACK — restore renames, drop half-placed
        compacted targets and tmp dirs. Phase "cleanup": the swap completed
        and only deletions remain, so roll FORWARD. With no intent file,
        sweep orphaned ``.swap``/``.expired`` dirs (a crash in expire's
        phase 0 — before the intent lands — leaves a .swap nothing else
        would ever delete) and complete any purge epoch whose physical GC
        never started (crash between the epoch's manifest commit and
        gc_below's intent write — the manifest IS the purge's commit point,
        so rolling its deletions forward is always correct)."""
        ip = self._intent_path()
        if os.path.exists(ip):
            with open(ip) as fh:
                intent = json.load(fh)
            if intent.get("phase") == "cleanup":
                self._expire_cleanup(intent)
                return
            for r in intent.get("renames", []):
                snap = self._snap_path(r["table"], r["wave"])
                exp = snap + ".expired"
                if os.path.exists(exp):
                    if os.path.exists(snap):  # compacted target placed on top
                        shutil.rmtree(snap)
                    os.replace(exp, snap)
            for t in intent.get("targets", []):
                tmp = self._snap_path(t["table"], t["wave"]) + ".swap"
                if os.path.exists(tmp):
                    shutil.rmtree(tmp)
            os.remove(ip)
            return
        # no in-flight op: orphaned temp dirs are garbage from a phase-0 crash
        for table in os.listdir(self.root):
            td = os.path.join(self.root, table)
            if table.startswith("_") or not os.path.isdir(td):
                continue
            for f in os.listdir(td):
                if f.startswith("_snap=") and f.endswith((".swap", ".expired")):
                    shutil.rmtree(os.path.join(td, f), ignore_errors=True)
        # a purge epoch at the latest wave with older manifests still present
        # means its GC never ran — finish it (idempotent pure deletes)
        last = self.latest_wave()
        if last is not None:
            try:
                extra = self.manifest(last).get("extra", {})
            except (OSError, ValueError):
                return
            purge = extra.get("purge")
            if purge and int(purge.get("epoch", -1)) == last:
                mdir = os.path.join(self.root, "_manifest")
                if any(int(f.split(".")[0]) < last
                       for f in os.listdir(mdir) if f.endswith(".json")):
                    self.gc_below(last)

    def _expire_cleanup(self, intent: dict) -> None:
        for r in intent.get("renames", []):
            exp = self._snap_path(r["table"], r["wave"]) + ".expired"
            if os.path.exists(exp):
                shutil.rmtree(exp)
        for rel in intent.get("rm_dirs", []):
            p = os.path.join(self.root, rel)
            if os.path.exists(p):
                shutil.rmtree(p)
        for w in intent.get("rm_manifests", []):
            mp = self._manifest_path(w)
            if os.path.exists(mp):
                os.remove(mp)
        os.remove(self._intent_path())

    def gc_below(self, cutoff: int) -> int:
        """Hard-delete EVERY snapshot dir and manifest below `cutoff` — the
        physical erasure step of a purge epoch (operators/purge.py), run
        after the epoch's manifest has committed rewritten bases for all
        delta tables. Crash-safe roll-forward: the deletion list commits to
        the intent file first, so an interrupted GC completes on the next
        store open. Returns the number of directories removed."""
        intent = {"phase": "cleanup", "renames": [], "targets": [],
                  "rm_dirs": [], "rm_manifests": []}
        for table in os.listdir(self.root):
            if table.startswith("_") or not os.path.isdir(
                    os.path.join(self.root, table)):
                continue
            intent["rm_dirs"] += [f"{table}/_snap={w}"
                                  for w in self._table_waves(table)
                                  if w < cutoff]
        mdir = os.path.join(self.root, "_manifest")
        intent["rm_manifests"] = [w for w in
                                  (int(f.split(".")[0])
                                   for f in os.listdir(mdir)
                                   if f.endswith(".json"))
                                  if w < cutoff]
        with open(self._intent_path() + ".tmp", "w") as fh:
            json.dump(intent, fh)
        os.replace(self._intent_path() + ".tmp", self._intent_path())
        self._expire_cleanup(intent)
        return len(intent["rm_dirs"])

    def expire(self, keep_last: int, compact_deltas: bool = True) -> dict:
        """Expire snapshots older than the last ``keep_last`` committed waves.

        Guarantees after return (tested in tests/test_expire.py):
          * state read at ANY retained wave is bit-identical (content
            fingerprints) to before — full tables untouched, delta tables
            (documents/fetch_log/metrics) compacted into one base dir in the
            newest expired slot, which every retained read's 0..W range
            still covers;
          * ``read_seen`` stays exact for every retained wave: all `seen`
            full bases referenced by retained manifests are protected, and
            only ``seen_delta`` dirs at or below the OLDEST retained base
            are dropped (those rows are contained in that base, and no
            retained read unions deltas at or below its own base);
          * resume from the latest wave is unaffected;
          * manifests below the cutoff are gone — time travel past the
            horizon is surrendered, which is the point (Iceberg semantics).

        ``compact_deltas=False`` is the cheap in-crawl mode (wired to
        spec.snapshot_keep by the wave loop): delta histories are left in
        place untouched — they ARE the output corpus and rewriting them
        every few waves would be O(total corpus) write volume — and only
        the superseded FULL snapshots (frontier/seen/hosts/robots
        copies, the dominant storage waste of a long 10^10-URL crawl: one
        O(frontier) copy per wave) plus dead seen_delta dirs and old
        manifests are dropped. Pure directory deletes, O(1) data volume
        per call, same retained-read guarantees.

        Returns an audit dict: cutoff, dirs removed, per-table compactions,
        bytes freed."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        last = self.latest_wave()
        if last is None:
            return {"cutoff": None, "removed_dirs": 0, "bytes_freed": 0,
                    "compacted": {}}
        mdir = os.path.join(self.root, "_manifest")
        all_waves = sorted(int(f.split(".")[0]) for f in os.listdir(mdir)
                           if f.endswith(".json"))
        retained = all_waves[-keep_last:]
        cutoff = retained[0]
        expired_waves = [w for w in all_waves if w < cutoff]
        if not expired_waves:
            return {"cutoff": cutoff, "removed_dirs": 0, "bytes_freed": 0,
                    "compacted": {}}
        # table modes + protected seen bases, from every live manifest
        modes: dict[str, str] = {}
        protected_bases: set[int] = set()
        for w in all_waves:
            man = self.manifest(w)
            for t, meta in man.get("tables", {}).items():
                modes[t] = meta.get("mode", "full")
            if w in retained:
                # the base may be the init commit (wave -1) when the crawl
                # ended before the first seen compaction — protect it too
                b = man.get("extra", {}).get("seen_base_wave")
                if b is not None:
                    protected_bases.add(int(b))
        min_base = min(protected_bases) if protected_bases else None
        # a purge epoch's delta_base marks everything below it as superseded
        # (possibly un-GC'd) history: those dirs must be DELETED, never
        # compacted — unioning them back in would resurrect purged rows and
        # duplicate every pre-purge row
        delta_bases = (self.manifest(last).get("extra", {})
                       .get("delta_base") or {})

        def _du(path: str) -> int:
            total = 0
            for dp, _, files in os.walk(path):
                for f in files:
                    try:
                        total += os.path.getsize(os.path.join(dp, f))
                    except OSError:
                        pass
            return total

        intent = {"phase": "swap", "renames": [], "targets": [],
                  "rm_dirs": [], "rm_manifests": expired_waves}
        compact_plan: dict[str, tuple[list[int], int]] = {}
        bytes_before = 0
        for table, mode in modes.items():
            waves = [w for w in self._table_waves(table) if w < cutoff]
            if not waves:
                continue
            if table == "seen_delta":
                # dirs <= oldest retained base are superseded by that base
                dead = [w for w in waves
                        if min_base is not None and w <= min_base]
                intent["rm_dirs"] += [f"{table}/_snap={w}" for w in dead]
                bytes_before += sum(_du(self._snap_path(table, w)) for w in dead)
            elif mode == "delta":
                base = int(delta_bases.get(table, -(1 << 31)))
                stale = [w for w in waves if w < base]   # pre-purge garbage
                intent["rm_dirs"] += [f"{table}/_snap={w}" for w in stale]
                bytes_before += sum(_du(self._snap_path(table, w))
                                    for w in stale)
                live = [w for w in waves if w >= base]
                if not compact_deltas or not live:
                    continue           # cheap mode: live history stays put
                target = max(live)
                compact_plan[table] = (live, target)
                intent["renames"] += [{"table": table, "wave": w}
                                      for w in live]
                intent["targets"].append({"table": table, "wave": target})
                bytes_before += sum(_du(self._snap_path(table, w)) for w in live)
            else:                      # full: superseded by retained copies
                keep = protected_bases if table == "seen" else set()
                dead = [w for w in waves if w not in keep]
                intent["rm_dirs"] += [f"{table}/_snap={w}" for w in dead]
                bytes_before += sum(_du(self._snap_path(table, w)) for w in dead)

        # Phase 0 (no mutation yet): materialize each compacted base into a
        # .swap tmp dir NEXT TO its final slot. Everything before the intent
        # file lands is invisible to readers and recovery.
        for table, (waves, target) in compact_plan.items():
            tmp = self._snap_path(table, target) + ".swap"
            if os.path.exists(tmp):
                shutil.rmtree(tmp)
            union = self.spark.read.option("mergeSchema", "true").parquet(
                *[self._snap_path(table, w) for w in waves])
            union.write.parquet(tmp)
        with open(self._intent_path() + ".tmp", "w") as fh:
            json.dump(intent, fh)
        os.replace(self._intent_path() + ".tmp", self._intent_path())
        # Phase 1 (swap, roll-back-safe): originals move aside, compacted
        # bases move into place. A crash anywhere here restores originals.
        for r in intent["renames"]:
            snap = self._snap_path(r["table"], r["wave"])
            os.replace(snap, snap + ".expired")
        for t in intent["targets"]:
            tmp = self._snap_path(t["table"], t["wave"]) + ".swap"
            os.replace(tmp, self._snap_path(t["table"], t["wave"]))
        # Phase 2 (cleanup, roll-forward): only deletions remain.
        intent["phase"] = "cleanup"
        with open(self._intent_path() + ".tmp", "w") as fh:
            json.dump(intent, fh)
        os.replace(self._intent_path() + ".tmp", self._intent_path())
        self._expire_cleanup(intent)
        bytes_after = sum(
            _du(self._snap_path(t["table"], t["wave"]))
            for t in intent["targets"])
        return {
            "cutoff": cutoff,
            "expired_waves": len(expired_waves),
            "removed_dirs": len(intent["rm_dirs"]) + len(intent["renames"]),
            "compacted": {t: len(ws) for t, (ws, _) in compact_plan.items()},
            "bytes_freed": max(0, bytes_before - bytes_after),
        }

