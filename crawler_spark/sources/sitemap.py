"""Sitemap seed expansion (SURVEY.md §2.1 S4).

The reference, with `sitemap` set (proto/crawler.proto:25), runs
`crawl_sitemap()` before the main crawl and carries the discovered links into
the crawl via `persist_links()` (src/scanner/scan.rs:71-74,
src/scanner/crawl.rs:32-35; XML via the `sitemap`/`quick-xml` crates,
Cargo.lock:2136-2145/1755).

Spark-side: sitemap bodies for the SEED hosts are parsed in one mapInPandas
pass and the extracted URLs are unioned into the wave-0 frontier at depth 0,
subject to the same admission pipeline (scope/robots/dedup) as every other
candidate. The pure parser is shared with tests/oracle.py.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import ArrayType, StringType, StructField, StructType

_LOC_RE = re.compile(r"<loc>\s*([^<\s][^<]*?)\s*</loc>", re.IGNORECASE)


def parse_sitemap(xml: str) -> list[str]:
    """Extract <loc> URLs from a sitemap urlset body (document order).

    Regex-based on purpose: the fixture emits canonical single-line XML, and
    a streaming regex scan mirrors the reference's event-based quick-xml
    reader more closely than a DOM parse. Nested <sitemapindex> entries are
    returned like any other <loc> (callers re-fetch them at admission)."""
    if not xml:
        return []
    return _LOC_RE.findall(xml)


_SM_BLOCK_RE = re.compile(r"<sitemap\b.*?</sitemap>",
                          re.IGNORECASE | re.DOTALL)


def parse_sitemap_entries(xml: str) -> tuple[list[str], list[str]]:
    """Split a sitemap body into (page_urls, child_sitemap_urls): locs
    inside <sitemap> blocks are nested-index children (to be fetched and
    parsed in turn — the spider crate's sitemap reader recurses these);
    every other loc is a page URL. Shared by the engine expansion and
    tests/oracle.py so both sides recurse identically."""
    if not xml:
        return [], []
    children = []
    for block in _SM_BLOCK_RE.findall(xml):
        children.extend(_LOC_RE.findall(block))
    cset = set(children)
    pages = [u for u in _LOC_RE.findall(xml) if u not in cset]
    return pages, children


ENTRIES_SCHEMA = StructType([
    StructField("host", StringType(), False),
    StructField("pages", ArrayType(StringType(), False), False),
    StructField("children", ArrayType(StringType(), False), False),
])


def _entries_df(cur: DataFrame) -> DataFrame:
    def _parse(batches):
        for pdf in batches:
            pc = [parse_sitemap_entries(x or "") for x in pdf["xml"]]
            yield pd.DataFrame({
                "host": pdf["host"],
                "pages": [p for p, _ in pc],
                "children": [c for _, c in pc],
            })
    return cur.mapInPandas(_parse, ENTRIES_SCHEMA)


def expand_sitemaps_df(sitemap_src: DataFrame,
                       max_depth: int = 3,
                       roots: DataFrame | None = None) -> DataFrame:
    """Recursive sitemap expansion over a (host, path, xml) source table:
    start from each host's roots — the well-known sitemap.xml or, when a
    (host, path) `roots` frame is given (e.g. robots.txt `Sitemap:`
    declarations), exactly those — parse, and resolve nested
    <sitemapindex> children by (host, last path segment) lookup back into
    the source — up to `max_depth` levels (the sitemaps.org limit is one
    index level; the cap guards loops). Returns flat (host, url) page
    rows.

    Scale shape: everything here is sitemap-document cardinality (orders
    below page cardinality); each level is one vectorized parse pass plus
    one equi-join against the source table; the driver loop runs at most
    max_depth host-cardinality take(1) probes."""
    from pyspark.sql import functions as F

    if "path" not in sitemap_src.columns:   # legacy (host, xml) source:
        sitemap_src = sitemap_src.withColumn(  # every row is a root
            "path", F.lit("sitemap.xml"))
    if roots is None:
        cur = sitemap_src.where(F.col("path") == "sitemap.xml") \
                         .select("host", "xml")
    else:
        cur = (roots.select("host", "path").distinct()
               .join(sitemap_src, ["host", "path"])
               .select("host", "xml"))
    out = None
    for _ in range(max_depth):
        parsed = _entries_df(cur).localCheckpoint(eager=True)
        pages = parsed.select("host", F.explode("pages").alias("url"))
        out = pages if out is None else out.unionByName(pages)
        child = (parsed.select("host", F.explode("children").alias("curl"))
                 .withColumn("path",
                             F.element_at(F.split("curl", "/"), -1))
                 .join(sitemap_src, ["host", "path"])
                 .select("host", "xml"))
        if not child.take(1):
            break
        cur = child
    return out


ROOTS_SCHEMA = StructType([
    StructField("host", StringType(), False),
    StructField("path", StringType(), False),
])


def robots_declared_roots(robots_src: DataFrame) -> DataFrame:
    """(host, body) robots source -> (host, path) sitemap roots declared
    via `Sitemap:` directives (last URL path segment keys the lookup
    into the sitemap source table). Host-cardinality, one vectorized
    pass."""
    from crawler_spark.operators.robots import parse_robots_sitemaps

    def _parse(batches):
        for pdf in batches:
            hosts, paths = [], []
            for host, body in zip(pdf["host"], pdf["body"]):
                for u in parse_robots_sitemaps(body or ""):
                    hosts.append(host)
                    paths.append(u.rsplit("/", 1)[-1])
            yield pd.DataFrame({"host": hosts, "path": paths})

    return robots_src.select("host", "body").mapInPandas(
        _parse, ROOTS_SCHEMA)
