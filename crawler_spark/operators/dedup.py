"""URL-seen dedup: xxhash64 keys, exact anti-join, partitioned Bloom prefilter
(SURVEY.md §2.2 F1, §2.4 J1, §2.5 A5).

The reference's seen-set is an in-memory case-insensitive HashSet
(case_insensitive_string + ahash, Cargo.lock:289/27). At a 10^10-URL frontier
that set is table-valued: `seen(url_hash, url_canon, wave)` with
``url_hash = xxhash64(lower(url_canon))`` (the input_hint mandates xxhash64).

Dedup is two-stage:
  1. **Bloom prefilter** — per-partition bitsets built with applyInPandas
     (partial agg), OR-merged on the driver (final agg), broadcast; the probe
     splits candidates into *definitely-new* (bit miss -> admit directly, no
     shuffle) and *maybe-seen* (bit hit -> exact check). Blooms have no false
     negatives, so stage 2 sees every true duplicate.
  2. **Exact anti-join** — `maybe.join(seen, "url_hash", "left_anti")`;
     Catalyst/AQE picks broadcast-hash vs shuffled-hash at runtime.

Scale note: 64-bit keys over 10^10 URLs expect ~3 birthday collisions
(n^2/2^65) — a collision silently drops one URL, matching the accepted
practice for web-crawl dedup; the test-scale oracle equality is unaffected
(collision probability ~1e-11 at 1e4 URLs). The partitioned bitset is sized
from bits/key so the 10^10 design point shards into `SeenBloom.n_parts`
pieces; past `SeenBloom.BROADCAST_MAX_BYTES` the probe side lazy-loads only
its partitions' bitsets from spill files instead of a full broadcast.
"""

from __future__ import annotations

import math
import os
import shutil
import uuid

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType, BooleanType, IntegerType, LongType, StructField, StructType,
)

# odd multipliers for double hashing of the 64-bit key (splitmix64 constants)
_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)


def url_hash_col(url_canon: Column) -> Column:
    """Seen-key: xxhash64 of the casefolded canonical URL (case-insensitive
    dedup per reference Cargo.lock:289; casefold rule SURVEY.md §5.3)."""
    return F.xxhash64(F.lower(url_canon))


class BloomFilter:
    """Vectorized (numpy) Bloom bitset over uint64 keys, double hashing."""

    def __init__(self, n_keys: int, fpp: float = 0.01, bits: np.ndarray | None = None):
        n_keys = max(n_keys, 64)
        m = int(-n_keys * math.log(fpp) / (math.log(2) ** 2))
        self.m = max(512, 1 << (m - 1).bit_length())          # pow2 for cheap mod
        self.k = max(1, round(self.m / n_keys * math.log(2)))
        self.bits = bits if bits is not None else np.zeros(self.m // 8, dtype=np.uint8)

    @staticmethod
    def _mix(x: np.ndarray) -> np.ndarray:
        """splitmix64 finalizer — with pow2-m masking, plain multiply would
        use only the key's low bits (aliasing all keys that share them); the
        xor-shift cascade folds the high bits in."""
        with np.errstate(over="ignore"):   # uint64 wraparound is intended
            x = (x ^ (x >> np.uint64(30))) * _C1
            x = (x ^ (x >> np.uint64(27))) * _C2
            return x ^ (x >> np.uint64(31))

    def _idx(self, keys: np.ndarray, i: int) -> np.ndarray:
        x = self._mix(keys.astype(np.uint64))
        h = x + np.uint64(i) * ((x >> np.uint64(32)) | np.uint64(1))
        return (h & np.uint64(self.m - 1)).astype(np.int64)

    def add(self, keys: np.ndarray) -> None:
        for i in range(self.k):
            idx = self._idx(keys, i)
            np.bitwise_or.at(self.bits, idx >> 3, (1 << (idx & 7)).astype(np.uint8))

    def contains(self, keys: np.ndarray) -> np.ndarray:
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        out = np.ones(len(keys), dtype=bool)
        for i in range(self.k):
            idx = self._idx(keys, i)
            out &= (self.bits[idx >> 3] & (1 << (idx & 7)).astype(np.uint8)) != 0
        return out

    def merge(self, other: "BloomFilter") -> None:
        assert self.m == other.m and self.k == other.k
        np.bitwise_or(self.bits, other.bits, out=self.bits)


# Per-Python-worker cache for spilled bloom partitions, keyed
# (dir, part, version). The broadcast payload names the exact version of
# every part, so a stale entry is never *served*; superseded versions are
# evicted on load so a long-lived reused worker holds at most one blob per
# (dir, part) — bounded memory even across hundreds of waves/resumes.
_PART_CACHE: dict[tuple[str, int, int], bytes] = {}


def _resolve_part(state: dict, part: int) -> bytes | None:
    """Fetch one part's bitset from the broadcast payload (broadcast mode)
    or from the spill directory with a per-worker cache (spilled mode). A
    part absent from the version map never had a key added — a correct
    'definitely new' for every probe that lands there. A part that IS in
    the map but whose file is gone is a storage fault: raise (a silent None
    here would be a bloom false negative, i.e. re-admission of seen URLs)."""
    if "parts" in state:
        return state["parts"].get(part)
    ver = state["vers"].get(part)
    if ver is None:
        return None
    key = (state["dir"], part, ver)
    if key not in _PART_CACHE:
        for stale in [k for k in _PART_CACHE
                      if k[0] == state["dir"] and k[1] == part]:
            del _PART_CACHE[stale]
        path = os.path.join(state["dir"], f"part={part}.v={ver}.bloom")
        with open(path, "rb") as fh:
            _PART_CACHE[key] = fh.read()
    return _PART_CACHE[key]


BLOOM_SCHEMA = StructType([
    StructField("part", IntegerType(), False),
    StructField("bits", BinaryType(), False),
    StructField("n_keys", LongType(), False),
])


def build_bloom_parts(seen: DataFrame, n_parts: int, keys_per_part: int,
                      fpp: float) -> DataFrame:
    """Partial aggregate: per pmod(url_hash, n_parts) partition, a Bloom
    bitset over url_hash.
    applyInPandas per part (UDAF-shaped partial; driver OR-merge is final)."""
    m_probe = BloomFilter(keys_per_part, fpp)          # fixes (m, k) for all parts

    def _build(pdf: pd.DataFrame) -> pd.DataFrame:
        bf = BloomFilter(keys_per_part, fpp)
        keys = pdf["url_hash"].to_numpy(dtype=np.int64).view(np.uint64)
        bf.add(keys)
        return pd.DataFrame({"part": [int(pdf["part"].iloc[0])],
                             "bits": [bf.bits.tobytes()],
                             "n_keys": [len(pdf)]})

    parted = seen.select(
        F.col("url_hash"),
        F.pmod(F.col("url_hash"), F.lit(n_parts)).cast("int").alias("part"),
    )
    out = parted.groupBy("part").applyInPandas(_build, BLOOM_SCHEMA)
    out._bloom_geometry = (m_probe.m, m_probe.k)  # type: ignore[attr-defined]
    return out


class SeenBloom:
    """Driver-held merged bloom state: {part -> bitset}, broadcast to probes.

    Owns its geometry (the defaults are the wave loop's) and its probe
    distribution: given a `spill_root`, a filter whose merged bitsets exceed
    BROADCAST_MAX_BYTES is probed from per-part spill files under it instead
    of a full broadcast. At 10^10 keys/fpp=0.01 the filter is ~12 GB — never
    broadcast that."""

    BROADCAST_MAX_BYTES = 64 << 20

    def __init__(self, n_parts: int = 32, keys_per_part: int = 1 << 14,
                 fpp: float = 0.01, spill_root: str | None = None):
        # power-of-2 so Spark's pmod(signed long) and numpy's uint64-% agree
        assert n_parts & (n_parts - 1) == 0, "n_parts must be a power of 2"
        self.n_parts = n_parts
        self.keys_per_part = keys_per_part
        self.fpp = fpp
        proto = BloomFilter(keys_per_part, fpp)
        self.m, self.k = proto.m, proto.k
        self.parts: dict[int, bytes] = {}
        self._bc = None
        # Spill state. The run token makes this instance's spill directory
        # unique: a resumed run re-spilling under the same store root must
        # NOT reuse a previous process's paths, or reused Python workers
        # would serve that run's cached (smaller) bitsets — bloom false
        # negatives, i.e. silent re-admission of seen URLs.
        self._run_token = uuid.uuid4().hex[:12]
        self._spill_base: str | None = None
        self._ver: dict[int, int] = {}     # per-part last-spilled version
        self._dirty: set[int] = set()      # parts changed since last spill
        self.spill_dir: str | None = None
        self.spill_root = spill_root

    def merge_from(self, bloom_rows: list) -> None:
        """Final aggregate: OR new per-partition bitsets into driver state.
        Parts whose bytes actually change are marked dirty so the next spill
        rewrites only them (a wave that touches few partitions re-spills
        few files)."""
        for row in bloom_rows:
            cur = self.parts.get(row["part"])
            new = np.frombuffer(row["bits"], dtype=np.uint8)
            if cur is None:
                self.parts[row["part"]] = new.tobytes()
                self._dirty.add(row["part"])
            else:
                merged = (np.frombuffer(cur, dtype=np.uint8) | new).tobytes()
                if merged != cur:
                    self.parts[row["part"]] = merged
                    self._dirty.add(row["part"])
        self._bc = None          # invalidate broadcast

    def to_rows(self) -> list[tuple[int, bytes, int, int, int]]:
        """Snapshot payload (§4.3): the merged per-partition bitsets, sorted
        by part id, each row carrying the FULL geometry (n_parts, m, k).
        Committed as the `bloom` table each wave so resume reloads the
        prefilter instead of rebuilding it from `seen` — at the 10^10 design
        point a rebuild is a full seen-table scan. Geometry travels with the
        bits because partition assignment is pmod(url_hash, n_parts): a
        resume under a different n_parts would probe the wrong bitset and
        return false negatives, silently re-admitting seen URLs."""
        return [(p, b, self.n_parts, self.m, self.k)
                for p, b in sorted(self.parts.items())]

    def load_rows(self, rows) -> bool:
        """Restore from snapshot rows [(part, bits, n_parts, m, k)]. Returns
        False on ANY geometry mismatch — n_parts (partition assignment), m
        (bitset width), or k (hash count) — including legacy rows that
        predate geometry columns; the caller then falls back to
        rebuild-from-seen. A byte-length check alone is not enough: a
        different bloom_parts (or an fpp rounding to the same pow2 m) keeps
        len(bits) identical while keys hash to different partitions."""
        expect = self.m // 8
        incoming = {}
        for r in rows:
            d = r.asDict() if hasattr(r, "asDict") else dict(r)
            if (int(d.get("n_parts", -1)) != self.n_parts
                    or int(d.get("m", -1)) != self.m
                    or int(d.get("k", -1)) != self.k):
                return False
            incoming[int(d["part"])] = bytes(d["bits"])
        if not incoming or any(len(b) != expect for b in incoming.values()):
            return False
        self.parts = incoming
        self._bc = None
        self._dirty = set(incoming)   # every part must re-spill under a new
        return True                   # version before any spilled probe

    # ---- probe-side distribution -------------------------------------
    #
    # Two modes:
    #   * broadcast (default): every executor receives ALL part bitsets.
    #     Fine while the merged filter is small; at the 10^10-key/fpp=0.01
    #     design point it is ~12 GB — too big to ship to every executor.
    #   * spilled (partition-local): entered by `broadcast()` once the
    #     filter outgrows BROADCAST_MAX_BYTES and a `spill_root` is set, or
    #     by an explicit `spill(dir)`. It writes one blob per part
    #     to a shared store (the snapshot dir in this repo; an object store
    #     at cluster scale) and the broadcast carries only geometry + path.
    #     Each task lazy-loads exactly the partitions its Arrow batch
    #     probes, with a per-worker cache keyed by (dir, part, version), so
    #     probe memory is proportional to the partitions a task touches —
    #     one, when the probe side is repartitioned by pmod(url_hash,
    #     n_parts) — not to n_parts. The broadcast names the exact version
    #     of every part (the filter only grows, so a stale bitset would
    #     yield false negatives — re-admission — never just waste);
    #     superseded versions are evicted from the cache and deleted from
    #     disk, and the run-token directory isolates resumed processes.

    def total_bytes(self) -> int:
        """Current merged-filter payload size (what a full broadcast ships)."""
        return sum(len(b) for b in self.parts.values())

    def spill(self, dirpath: str) -> str:
        """Write per-part bitsets under `dirpath` and switch the probe to
        partition-local lazy loading.

        Layout: {dirpath}/run={token}/part={p}.v={version}.bloom — one live
        file per part. Only parts dirtied since the last spill are
        rewritten (version bumped, superseded file deleted), so steady-state
        disk is one copy of the filter, not one copy per wave. On the first
        spill of this instance, leftover run=* directories from previous
        (killed) processes under the same store are garbage-collected."""
        d = os.path.join(dirpath, f"run={self._run_token}")
        if self.spill_dir != d:
            if os.path.isdir(dirpath):
                for stale in os.listdir(dirpath):
                    if stale.startswith("run=") and stale != f"run={self._run_token}":
                        shutil.rmtree(os.path.join(dirpath, stale),
                                      ignore_errors=True)
            os.makedirs(d, exist_ok=True)
            to_write = set(self.parts)      # first spill: everything
        else:
            to_write = set(self._dirty)
        for p in sorted(to_write):
            old = self._ver.get(p, 0)
            new = old + 1
            tmp = os.path.join(d, f"part={p}.v={new}.bloom.tmp")
            with open(tmp, "wb") as fh:
                fh.write(self.parts[p])
            os.replace(tmp, os.path.join(d, f"part={p}.v={new}.bloom"))
            self._ver[p] = new
            if old:
                try:
                    os.remove(os.path.join(d, f"part={p}.v={old}.bloom"))
                except OSError:
                    pass
        self._dirty.clear()
        self._spill_base = dirpath
        self.spill_dir = d
        self._bc = None
        return d

    def unspill(self) -> None:
        """Back to full-broadcast probing (test/debug aid)."""
        self.spill_dir = None
        self._spill_base = None
        self._bc = None

    def broadcast(self, spark: SparkSession):
        if self._bc is None:
            # size-bounded probe distribution: past the broadcast budget,
            # switch to partition-local spill files under spill_root
            if (self.spill_root and not self._spill_base
                    and self.total_bytes() > self.BROADCAST_MAX_BYTES):
                self.spill(self.spill_root)
            # self-healing: a merge after a spill leaves dirty parts whose
            # on-disk bitsets are stale — re-spill them before any probe
            # ships, so a forgotten explicit spill() can never serve a
            # filter that would false-negative on the new keys
            if self._spill_base and self._dirty:
                self.spill(self._spill_base)
            payload = {"m": self.m, "k": self.k, "n_parts": self.n_parts}
            if self.spill_dir:
                payload["dir"] = self.spill_dir
                payload["vers"] = dict(self._ver)
            else:
                payload["parts"] = self.parts
            self._bc = spark.sparkContext.broadcast(payload)
        return self._bc

    def probe_udf(self, spark: SparkSession):
        """pandas_udf url_hash -> maybe_seen (False = definitely new)."""
        bc = self.broadcast(spark)

        @F.pandas_udf(BooleanType())
        def maybe_seen(url_hash: pd.Series) -> pd.Series:
            state = bc.value
            keys = url_hash.to_numpy(dtype=np.int64).view(np.uint64)
            parts = (keys % np.uint64(state["n_parts"])).astype(np.int64)
            out = np.zeros(len(keys), dtype=bool)
            for p in np.unique(parts):
                blob = _resolve_part(state, int(p))
                if blob is None:
                    continue
                bf = BloomFilter(1, 0.5, bits=np.frombuffer(blob, dtype=np.uint8))
                bf.m, bf.k = state["m"], state["k"]
                mask = parts == p
                out[mask] = bf.contains(keys[mask])
            return pd.Series(out, dtype="bool")

        return maybe_seen


def anti_join_seen(candidates: DataFrame, seen: DataFrame,
                   bloom: SeenBloom | None, spark: SparkSession) -> DataFrame:
    """candidates minus seen (J1). With a bloom, only 'maybe-seen' rows reach
    the exact anti-join — at scale this is the shuffle-volume win, since the
    overwhelming majority of a wave's outlinks are new URLs."""
    if bloom is None or not bloom.parts:
        return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
    probed = candidates.withColumn("maybe_seen", bloom.probe_udf(spark)("url_hash"))
    fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    survived = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
    return fresh.unionByName(survived)
