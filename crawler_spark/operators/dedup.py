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
(collision probability ~1e-11 at 1e4 URLs). The wave loop's filter has a
fixed geometry: 32 parts x 32 KiB (m = 2^18 bits, k = 11), 1 MiB in all,
sized for about 524k keys. It does not grow with `seen`: its computed
false-positive rate is 0.03 at 1M seen rows, 0.44 at 2M and 0.98 at 5M, so
past a few million URLs nearly every candidate is "maybe seen" and the exact
anti-join does all the dedup work.
"""

from __future__ import annotations

import math

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
    return parted.groupBy("part").applyInPandas(_build, BLOOM_SCHEMA)


class SeenBloom:
    """Driver-held merged bloom state: {part -> bitset}, broadcast to probes.

    Owns its geometry; the defaults are the wave loop's (32 parts x 32 KiB,
    k = 11, 1 MiB merged), small enough to broadcast whole every wave."""

    def __init__(self, n_parts: int = 32, keys_per_part: int = 1 << 14,
                 fpp: float = 0.01):
        # power-of-2 so Spark's pmod(signed long) and numpy's uint64-% agree
        assert n_parts & (n_parts - 1) == 0, "n_parts must be a power of 2"
        self.n_parts = n_parts
        self.keys_per_part = keys_per_part
        self.fpp = fpp
        proto = BloomFilter(keys_per_part, fpp)
        self.m, self.k = proto.m, proto.k
        self.parts: dict[int, bytes] = {}
        self._bc = None

    def merge_from(self, bloom_rows: list) -> None:
        """Final aggregate: OR new per-partition bitsets into driver state."""
        for row in bloom_rows:
            new = np.frombuffer(row["bits"], dtype=np.uint8)
            cur = self.parts.get(row["part"])
            if cur is not None:
                new = np.frombuffer(cur, dtype=np.uint8) | new
            self.parts[row["part"]] = new.tobytes()
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
        different n_parts (or an fpp rounding to the same pow2 m) keeps
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
        return True

    def broadcast(self, spark: SparkSession):
        if self._bc is None:
            self._bc = spark.sparkContext.broadcast(
                {"m": self.m, "k": self.k, "n_parts": self.n_parts,
                 "parts": self.parts})
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
                blob = state["parts"].get(int(p))
                if blob is None:     # no key was ever merged into this part
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
    the exact anti-join: while `seen` stays within the filter's design size,
    most new outlinks skip that join; past it, nearly all of them reach it."""
    if bloom is None or not bloom.parts:
        return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")
    probed = candidates.withColumn("maybe_seen", bloom.probe_udf(spark)("url_hash"))
    fresh = probed.where(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = probed.where(F.col("maybe_seen")).drop("maybe_seen")
    survived = maybe.join(seen.select("url_hash"), "url_hash", "left_anti")
    return fresh.unionByName(survived)
