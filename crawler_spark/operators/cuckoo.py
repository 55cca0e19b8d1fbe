"""Cuckoo-filter URL-seen sketch with deletion (north_star: "partitioned
Bloom/cuckoo URL-seen filter").

The wave loop dedups by the exact `seen` anti-join (operators/dedup.py) and
keeps no sketch. This filter serves the callers that need to DELETE keys
from a live seen-sketch: recrawl expiry (operators/recrawl.py) and purge's
forget mode (operators/purge.py). Unlike Bloom bitsets, two cuckoo tables
cannot be OR-merged — union requires re-inserting fingerprints — so a merge
ships the new keys (or fingerprints) rather than a fixed-size sketch.

Vectorized numpy implementation: 4-slot buckets, 16-bit fingerprints,
partial-key cuckoo hashing (Fan et al., CoNEXT'14): alt_bucket = bucket XOR
hash(fingerprint), so membership/deletion need only (bucket, fp).
"""

from __future__ import annotations

import numpy as np

_FP_BITS = 16
_SLOTS = 4
_MAX_KICKS = 500

# splitmix64 finalizer constants
_C1 = np.uint64(0xBF58476D1CE4E5B9)
_C2 = np.uint64(0x94D049BB133111EB)


def _mix(x: np.ndarray | np.uint64) -> np.ndarray | np.uint64:
    # uint64 wraparound multiply is the point of the finalizer; numpy warns
    # about it on SCALAR paths only — suppress so real numeric warnings in
    # the test run stay visible
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * _C1
        x = (x ^ (x >> np.uint64(27))) * _C2
        return x ^ (x >> np.uint64(31))


class CuckooFilter:
    """Fixed-capacity cuckoo filter over uint64 keys.

    `n_buckets` is forced to a power of two so the partial-key alt-bucket
    XOR stays closed under the mask. Load factors up to ~0.95 are fine with
    4-slot buckets; inserts raise RuntimeError («filter full») past that —
    callers size from expected keys / (SLOTS * 0.9).
    """

    def __init__(self, n_keys: int):
        n_keys = max(n_keys, 64)
        want = int(n_keys / (_SLOTS * 0.9))
        self.n_buckets = max(64, 1 << (want - 1).bit_length())
        # slot value 0 = empty; fingerprints are forced nonzero
        self.table = np.zeros((self.n_buckets, _SLOTS), dtype=np.uint16)
        self.n_items = 0

    # -- per-key scalar helpers (vector paths below) --
    def _fp(self, keys: np.ndarray) -> np.ndarray:
        fp = (_mix(keys) & np.uint64((1 << _FP_BITS) - 1)).astype(np.uint16)
        return np.where(fp == 0, np.uint16(1), fp)

    def _b1(self, keys: np.ndarray) -> np.ndarray:
        return (_mix(keys ^ _C2) & np.uint64(self.n_buckets - 1)).astype(np.int64)

    def _alt(self, b: np.ndarray, fp: np.ndarray) -> np.ndarray:
        h = _mix(fp.astype(np.uint64)) & np.uint64(self.n_buckets - 1)
        return (b.astype(np.uint64) ^ h).astype(np.int64)

    def insert(self, keys: np.ndarray) -> None:
        fps = self._fp(keys)
        b1s = self._b1(keys)
        for fp, b in zip(fps, b1s):          # insertion is inherently serial
            self._insert_one(np.uint16(fp), int(b))
        self.n_items += len(keys)

    def _insert_one(self, fp: np.uint16, b: int) -> None:
        for cand in (b, int(self._alt(np.array([b]), np.array([fp]))[0])):
            row = self.table[cand]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                return
        # cuckoo kicking
        cur_b, cur_fp = b, fp
        rng_state = np.uint64(cur_b) ^ np.uint64(cur_fp)
        for _ in range(_MAX_KICKS):
            rng_state = _mix(rng_state)
            slot = int(rng_state & np.uint64(_SLOTS - 1))
            cur_fp, self.table[cur_b, slot] = self.table[cur_b, slot], cur_fp
            cur_b = int(self._alt(np.array([cur_b]), np.array([cur_fp]))[0])
            row = self.table[cur_b]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur_fp
                return
        raise RuntimeError("cuckoo filter full — size from expected keys")

    def contains(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized membership: no false negatives for inserted keys."""
        if len(keys) == 0:
            return np.zeros(0, dtype=bool)
        fps = self._fp(keys)
        b1 = self._b1(keys)
        b2 = self._alt(b1, fps)
        hit1 = (self.table[b1] == fps[:, None]).any(axis=1)
        hit2 = (self.table[b2] == fps[:, None]).any(axis=1)
        return hit1 | hit2

    def delete(self, keys: np.ndarray) -> np.ndarray:
        """Remove one fingerprint copy per present key; returns per-key
        success. (Deleting a never-inserted key may evict a colliding
        fingerprint — standard cuckoo-filter caveat; only delete keys that
        were inserted.)"""
        out = np.zeros(len(keys), dtype=bool)
        fps = self._fp(keys)
        b1s = self._b1(keys)
        b2s = self._alt(b1s, fps)
        for i, (fp, b1, b2) in enumerate(zip(fps, b1s, b2s)):
            for b in (int(b1), int(b2)):
                row = self.table[b]
                idx = np.nonzero(row == fp)[0]
                if len(idx):
                    row[idx[0]] = 0
                    out[i] = True
                    self.n_items -= 1
                    break
        return out

    # -- (de)serialization for driver-side partitioned state --
    def to_bytes(self) -> bytes:
        return self.table.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes, n_buckets: int) -> "CuckooFilter":
        f = cls.__new__(cls)
        f.n_buckets = n_buckets
        f.table = np.frombuffer(blob, dtype=np.uint16).reshape(
            n_buckets, _SLOTS).copy()
        f.n_items = int((f.table != 0).sum())
        return f


class SeenCuckoo:
    """Driver-held partitioned cuckoo state: one CuckooFilter per
    pmod(url_hash, n_parts) part. Keys are inserted raw (insert_keys),
    not merged as sketches: cuckoo union requires reinsertion."""

    def __init__(self, n_parts: int, keys_per_part: int):
        assert n_parts & (n_parts - 1) == 0
        self.n_parts = n_parts
        self.keys_per_part = keys_per_part
        self.parts: dict[int, CuckooFilter] = {}

    def _part_of(self, keys: np.ndarray) -> np.ndarray:
        return (keys % np.uint64(self.n_parts)).astype(np.int64)

    def insert_keys(self, url_hashes: np.ndarray) -> None:
        keys = url_hashes.astype(np.int64).view(np.uint64)
        parts = self._part_of(keys)
        for p in np.unique(parts):
            f = self.parts.setdefault(int(p), CuckooFilter(self.keys_per_part))
            f.insert(keys[parts == p])

    def delete_keys(self, url_hashes: np.ndarray) -> np.ndarray:
        keys = url_hashes.astype(np.int64).view(np.uint64)
        parts = self._part_of(keys)
        out = np.zeros(len(keys), dtype=bool)
        for p in np.unique(parts):
            f = self.parts.get(int(p))
            if f is not None:
                mask = parts == p
                out[mask] = f.delete(keys[mask])
        return out

    def contains_keys(self, url_hashes: np.ndarray) -> np.ndarray:
        keys = url_hashes.astype(np.int64).view(np.uint64)
        parts = self._part_of(keys)
        out = np.zeros(len(keys), dtype=bool)
        for p in np.unique(parts):
            f = self.parts.get(int(p))
            if f is not None:
                mask = parts == p
                out[mask] = f.contains(keys[mask])
        return out

    def delete_keys_distributed(self, keys_df, key_col: str = "url_hash") -> int:
        """Delete a key SET held as a DataFrame without ever collecting it.

        The scale path for TTL expiry at the 10^10-URL design point, where a
        due-set can be a large fraction of `seen` (a driver materialization
        of the keys is the one thing this method must not do). A
        partial/final aggregate:

          partial (one job, executors): keys grouped by the filter's own
            partitioning pmod(url_hash, n_parts); each group cogrouped with
            its part's serialized table, deletion runs vectorized in the
            task, emitting (part, new table bytes, n_deleted);
          final (driver): replace the touched parts' tables from the
            returned blobs.

        Driver traffic is bounded by the FILTER size (one fixed-size blob
        per touched part, which the driver already holds in `self.parts`),
        never by the key-set size. Parts with no filter (no key ever
        inserted there) contribute zero deletions. Returns #deleted.

        Same cuckoo contract as `delete_keys`: only keys that were inserted
        may be deleted (deleting an absent key is a no-op unless a colliding
        fingerprint exists — callers pass due/purge keys ⊆ seen).
        """
        import pandas as pd
        from pyspark.sql import functions as F

        spark = keys_df.sparkSession
        keyed = keys_df.select(
            F.col(key_col).cast("long").alias("key"),
            # pmod on the signed long == uint64 % n_parts for power-of-2
            # n_parts (the identity _part_of relies on)
            F.pmod(F.col(key_col), F.lit(self.n_parts)).cast("int")
            .alias("part"))
        # ≤ n_parts rows — partition-cardinality, not data-cardinality
        touched = sorted(r["part"] for r in
                         keyed.select("part").distinct().collect())
        blobs = [(int(p), self.parts[p].to_bytes(), self.parts[p].n_buckets)
                 for p in touched if int(p) in self.parts]
        if not blobs:
            return 0
        blobs_df = spark.createDataFrame(
            blobs, "part int, blob binary, n_buckets int")

        def _delete_part(kdf: pd.DataFrame, bdf: pd.DataFrame) -> pd.DataFrame:
            if bdf.empty or kdf.empty:      # part never inserted / no keys
                return pd.DataFrame({"part": pd.Series([], dtype="int32"),
                                     "blob": pd.Series([], dtype=object),
                                     "n_deleted": pd.Series([], dtype="int64")})
            f = CuckooFilter.from_bytes(bytes(bdf["blob"].iloc[0]),
                                        int(bdf["n_buckets"].iloc[0]))
            keys = kdf["key"].to_numpy(dtype=np.int64).view(np.uint64)
            ok = f.delete(keys)
            return pd.DataFrame({"part": [int(kdf["part"].iloc[0])],
                                 "blob": [f.to_bytes()],
                                 "n_deleted": [int(ok.sum())]})

        out = (keyed.groupBy("part")
               .cogroup(blobs_df.groupBy("part"))
               .applyInPandas(_delete_part,
                              "part int, blob binary, n_deleted long"))
        n_deleted = 0
        for row in out.collect():           # ≤ n_parts fixed-size blobs
            old = self.parts[int(row["part"])]
            self.parts[int(row["part"])] = CuckooFilter.from_bytes(
                bytes(row["blob"]), old.n_buckets)
            n_deleted += int(row["n_deleted"])
        return n_deleted
