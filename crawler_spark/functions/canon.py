"""URL canonicalization (SURVEY.md §2.3 P1).

The reference delegates this to the `url 2.5.2` crate (Cargo.lock:2739 —
form_urlencoded / idna / percent-encoding): resolve relative hrefs against a
base, strip fragments, normalize scheme/host case and percent-encoding.
Its seen-set is case-insensitive over the *whole* URL
(case_insensitive_string, Cargo.lock:289) — so the dedup key is
``casefold(canonical_url)`` while fetches use the original-case canonical
form (SURVEY.md §5.3 determinism contract).

One pure-Python function is the single source of truth; the engine wraps it
in an Arrow-vectorized pandas UDF, and the reference-semantics oracle
(tests/oracle.py) calls it directly. Golden cases: tests/golden/canon_cases.json.
"""

from __future__ import annotations

import re
from functools import lru_cache
from urllib.parse import urljoin, urlsplit, urlunsplit, quote, unquote

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

_DEFAULT_PORTS = {"http": "80", "https": "443"}
# RFC 3986 unreserved + sub-delims we keep literal in paths/queries.
_PATH_SAFE = "/:@!$&'()*+,;=~-._"
_QUERY_SAFE = "=&:@!$'()*+,;/?~-._"

_SCHEME_RE = re.compile(r"^[a-zA-Z][a-zA-Z0-9+.\-]*:")


def canonicalize(base: str, href: str) -> str:
    """Resolve ``href`` against ``base`` and normalize.

    Rules (matching the url-crate behavior the reference links):
      * join relative refs against base (RFC 3986 merge, incl. ../ removal)
      * drop the fragment
      * lowercase scheme and host; strip a trailing dot on the host
      * drop default ports (:80 http, :443 https)
      * re-encode path/query with uppercase %XX hex, decoding unreserved
      * empty path -> '/'
    Returns '' for non-http(s) or unparseable results.

    Hot-path layout (this runs once per outlink of every fetched page): the
    resolve step fast-paths absolute and plain root-relative hrefs (string
    concat instead of urljoin's five urlparse round-trips), and the
    normalize step is memoized per worker on the joined absolute URL —
    outlink targets repeat heavily within a host, so the cache converts
    most calls into a dict hit. Anything unusual (dot segments,
    protocol-relative, path-relative) falls back to urljoin; the golden
    suite pins fast path == slow path.
    """
    if not href:
        href = base
    href = href.strip()
    if _SCHEME_RE.match(href):
        joined = href                      # absolute: base never matters
    elif (href.startswith("/") and not href.startswith("//")
          and ".." not in href and "/." not in href
          and base[:7].lower() in ("http://", "https:/")):
        # root-relative against an http(s) base: origin + href (urljoin
        # would merge-and-strip-dot-segments; the guards exclude every
        # input where that differs from plain concatenation)
        cut = base.find("/", base.find("://") + 3)
        joined = (base if cut < 0 else base[:cut]) + href
    else:
        try:
            joined = urljoin(base, href)
        except ValueError:
            return ""
    return _canon_abs(joined)


@lru_cache(maxsize=65536)
def _canon_abs(joined: str) -> str:
    """Normalize an already-absolute URL (memoized — see canonicalize)."""
    try:
        parts = urlsplit(joined)
    except ValueError:
        return ""
    scheme = parts.scheme.lower()
    if scheme not in ("http", "https"):
        return ""
    host = parts.hostname or ""
    # an IP-literal host ([::1]) has no form host_of/host_col can split
    if not host or "[" in parts.netloc.rpartition("@")[2]:
        return ""
    host = host.lower().rstrip(".")
    try:
        host = host.encode("idna").decode("ascii") if any(ord(c) > 127 for c in host) else host
        port = parts.port
    except (UnicodeError, ValueError):     # ValueError: bad or out-of-range port
        return ""
    netloc = host
    if port is not None and str(port) != _DEFAULT_PORTS.get(scheme, ""):
        netloc = f"{host}:{port}"
    path = quote(unquote(parts.path), safe=_PATH_SAFE) or "/"
    query = quote(unquote(parts.query), safe=_QUERY_SAFE)
    return urlunsplit((scheme, netloc, path, query, ""))


def host_of(url_canon: str) -> str:
    """Host of an already-canonical URL (cheap split, no re-parse): the
    authority after the first ``://`` up to its first ``:``, as host_col
    computes it, so the two agree on every string."""
    rest = url_canon.split("://", 1)[-1]
    return rest.split("/", 1)[0].split(":", 1)[0]


@F.pandas_udf(StringType())
def canonicalize_udf(base: pd.Series, href: pd.Series) -> pd.Series:
    """Arrow-vectorized canonicalizer: Series(base), Series(href) -> Series."""
    return pd.Series(
        [canonicalize(b if b is not None else "", h if h is not None else "")
         for b, h in zip(base, href)],
        dtype="object",
    )


def host_col(url_canon_col):
    """Native-Spark host extraction for canonical URLs — stays in codegen.

    Equivalent to host_of(); used on the hot path so Catalyst can prune/push.
    The authority starts after the FIRST ``://`` (a query may carry another)
    and the host ends at its first ``/`` or ``:``. A literal pattern is
    compiled once per task; splitting at ``://`` would compile one per row.
    """
    return F.regexp_extract(url_canon_col, r"^(?s:.*?://)?([^/:]*)", 1)
