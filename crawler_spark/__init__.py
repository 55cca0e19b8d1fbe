"""crawler_spark — a from-scratch PySpark-native URL frontier + fetch scheduler.

Re-expresses the query/data-processing capabilities of a11ywatch/crawler
(reference: /root/reference, a gRPC wrapper around the Rust `spider` crate —
see SURVEY.md) as a wave-based DataFrame engine:

- frontier / seen / robots / hosts / documents / metrics tables
  (Parquet "snapdir" snapshots with manifests; Iceberg-ready TableIO),
- xxhash64 URL-seen dedup with a partitioned Bloom prefilter,
- per-host politeness token buckets, selected by a salted pre-prune and a
  per-host window rank,
- native admission filters: scope, asset/blacklist and a longest-match
  robots gate, all Catalyst expressions,
- vectorized pandas/Arrow fetch-and-parse UDFs emitting interleaved
  text+media span arrays,
- BFS wave loop (each wave = one DataFrame job) with frontier-drain and
  TTL recrawl modes, bit-identical checkpoint resume, and Structured
  Streaming twins.

Everything here derives from public knowledge only (Apache Spark APIs, the
reference repo's observable behavior, published crawl/dedup literature).
"""

__version__ = "0.1.0"
