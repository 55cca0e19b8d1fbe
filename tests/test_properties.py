"""Hypothesis property tests over the pure kernels (no Spark session —
these run in milliseconds and fuzz the invariants the engine depends on).

Derandomized so CI is reproducible; each property states WHY the engine
needs it.
"""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from crawler_spark.functions.canon import canonicalize, host_of
from crawler_spark.operators.cuckoo import CuckooFilter, SeenCuckoo
from crawler_spark.operators.robots import parse_robots, robots_allowed

settings.register_profile("ci", derandomize=True, max_examples=200,
                          deadline=None)
settings.load_profile("ci")

# URL-ish text: scheme/host/path fragments with unicode, percent signs,
# dots, uppercase — the shapes the canonicalizer must never crash on
_urlish = st.text(
    alphabet=st.sampled_from(list(
        "abcXYZ012:/?#[]@!$&'()*+,;=%.~_- \té中")),
    max_size=60)
_hostish = st.from_regex(r"[A-Za-z0-9.-]{1,30}", fullmatch=True)


@given(base=_urlish, href=_urlish)
def test_canonicalize_is_idempotent_and_total(base, href):
    """The seen-key derives from canonical URLs: if canon were not
    idempotent, a URL could re-enter the frontier under a second spelling
    of itself and dedup would leak. Totality (never raises, '' on garbage)
    is what lets the UDF run over arbitrary crawled hrefs."""
    c = canonicalize(base, href)
    assert isinstance(c, str)
    if c:
        assert c.startswith(("http://", "https://"))
        assert canonicalize(c, "") == c          # idempotent as a base
        assert canonicalize("", c) == c          # idempotent as an href
        assert "#" not in c                      # fragment dropped
        h = host_of(c)
        assert h == h.lower()


@given(href=st.from_regex(r"https?://[A-Za-z0-9.-]{1,20}(/[A-Za-z0-9._~%-]{0,20}){0,3}",
                          fullmatch=True))
def test_canonicalize_casefold_key_stable(href):
    """SURVEY §5.3: the dedup key is casefold(canonical). Case variants of
    the same URL must fold to the same key."""
    a = canonicalize("", href)
    b = canonicalize("", href.upper().replace("HTTPS://", "https://")
                     .replace("HTTP://", "http://"))
    if a and b:
        ha, hb = host_of(a), host_of(b)
        assert ha == hb.lower() or ha == hb      # host folds identically


@given(keys=st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1),
                     min_size=1, max_size=300, unique=True),
       n_del=st.integers(min_value=0, max_value=300))
def test_cuckoo_insert_delete_roundtrip(keys, n_del):
    """Recrawl expiry relies on: inserted keys always probe present (no
    false negatives), and deleting them reports success. Deleted keys MAY
    still probe present (fingerprint collision) — that direction is only a
    perf cost, never a correctness one."""
    arr = np.array(keys, dtype=np.int64)
    cf = SeenCuckoo(n_parts=2, keys_per_part=1 << 10)
    cf.insert_keys(arr)
    assert cf.contains_keys(arr).all()
    to_del = arr[:min(n_del, len(arr))]
    if len(to_del):
        assert cf.delete_keys(to_del).all()
        kept = arr[len(to_del):]
        if len(kept):
            assert cf.contains_keys(kept).all()   # survivors still present


@given(body=st.text(alphabet=st.sampled_from(list(
    "AaUuSsEeRrGgNnTtDdIiLlOoWwCcYy*:/$#%\n -._")), max_size=300),
       path=st.from_regex(r"/[A-Za-z0-9._/-]{0,30}", fullmatch=True))
def test_robots_parser_total_and_gate_sound(body, path):
    """The robots gate runs on arbitrary fetched bytes; the parser must be
    total, and the longest-match rule must satisfy: no matching deny =>
    allowed (missing/garbage robots never blocks a crawl)."""
    allow, deny, delay = parse_robots(body)
    assert isinstance(allow, list) and isinstance(deny, list)
    assert delay >= 0
    got = robots_allowed(path, allow, deny)
    assert isinstance(got, bool)
    if not any(path.startswith(d) for d in deny if "*" not in d
               and not d.endswith("$")):
        assert got or any("*" in d or d.endswith("$") for d in deny)


@given(prefix=st.from_regex(r"/[A-Za-z0-9/._-]{0,20}", fullmatch=True),
       rest=st.from_regex(r"[A-Za-z0-9/._-]{0,20}", fullmatch=True))
def test_robots_longest_match_wins(prefix, rest):
    """Google/RFC 9309 semantics: a longer Allow beats a shorter Disallow
    on the same path, and vice versa — the property the vectorized UDF and
    the oracle both implement."""
    path = prefix + rest
    # deny the prefix, allow the longer exact path -> allowed
    assert robots_allowed(path, [path], [prefix])
    # allow the prefix, deny the longer exact path -> denied unless equal
    if len(path) > len(prefix):
        assert not robots_allowed(path, [prefix], [path])
