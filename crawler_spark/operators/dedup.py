"""URL-seen dedup: xxhash64 keys and one exact anti-join
(SURVEY.md §2.2 F1, §2.4 J1).

The reference's seen-set is an in-memory case-insensitive HashSet
(case_insensitive_string + ahash, Cargo.lock:289/27). At a 10^10-URL frontier
that set is table-valued: `seen(url_hash, url_canon, wave)` with
``url_hash = xxhash64(lower(url_canon))`` (the input_hint mandates xxhash64).
Dedup is one exact ``left_anti`` join on `url_hash`; Catalyst/AQE picks
broadcast-hash vs shuffled-hash at runtime. No sketch sits in front of it:
a fixed-size prefilter saturates as `seen` grows (every outlink of a drain
is already seen), so it clears little and adds a Python crossing per wave.
The deletable seen-sketch that purge/recrawl use is operators/cuckoo.py.

Scale note: 64-bit keys over 10^10 URLs expect ~3 birthday collisions
(n^2/2^65) — a collision silently drops one URL, matching the accepted
practice for web-crawl dedup; the test-scale oracle equality is unaffected
(collision probability ~1e-11 at 1e4 URLs).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def url_hash_col(url_canon: Column) -> Column:
    """Seen-key: xxhash64 of the casefolded canonical URL (case-insensitive
    dedup per reference Cargo.lock:289; casefold rule SURVEY.md §5.3)."""
    return F.xxhash64(F.lower(url_canon))


def anti_join_seen(candidates: DataFrame, seen: DataFrame) -> DataFrame:
    """candidates minus seen (J1): the exact anti-join on `url_hash`."""
    return candidates.join(seen.select("url_hash"), "url_hash", "left_anti")


# Inert names kept only for perfbench/trace.py, whose `--trace 1` run looks
# them up to patch (`frontier.build_bloom_parts`, `SeenBloom.load_rows`);
# the engine never calls them. They go when perfbench drops those hooks.
def build_bloom_parts(*args, **kwargs):
    raise NotImplementedError("the Bloom prefilter was removed")


class SeenBloom:
    load_rows = build_bloom_parts
