"""Structured Streaming twins == batch queries (SURVEY.md §2.9).

Each streaming operator runs over the same parquet input as its batch twin
(file source, trigger=availableNow, memory sink) and must produce identical
rows. Also: the scan-mode document stream (tail of the CLI --stream output)
reproduces the crawl's per-wave document counts.
"""

from __future__ import annotations

import uuid

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _events_stream(spark):
    schema = spark.read.parquet(f"{SF_DIR}/events.parquet").schema
    return (spark.readStream.schema(schema)
            .option("pathGlobFilter", "events.parquet")
            .parquet(SF_DIR))


def _run_to_table(df, mode: str) -> str:
    name = "t" + uuid.uuid4().hex[:12]
    q = (df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return name


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_tumbling_window_stream_equals_batch(spark):
    from crawler_spark.queries import st1_tumbling_window
    from crawler_spark.streaming.windows import tumbling_counts
    name = _run_to_table(tumbling_counts(_events_stream(spark)), "complete")
    got = _rows(spark.table(name), ["win_start", "n", "sum_value"])
    want = _rows(st1_tumbling_window(spark, SF_DIR),
                 ["win_start", "n", "sum_value"])
    assert got == want


def test_sliding_window_stream_equals_batch(spark):
    from crawler_spark.queries import st4_sliding_window
    from crawler_spark.streaming.windows import sliding_counts
    name = _run_to_table(sliding_counts(_events_stream(spark)), "complete")
    got = _rows(spark.table(name), ["win_start", "n", "sum_value"])
    want = _rows(st4_sliding_window(spark, SF_DIR),
                 ["win_start", "n", "sum_value"])
    assert got == want


def test_session_windows_stream_equals_batch(spark):
    from crawler_spark.queries import st2_sessionize
    from crawler_spark.streaming.windows import session_counts
    name = _run_to_table(session_counts(_events_stream(spark)), "complete")
    sess = spark.table(name)
    got = _rows(
        sess.groupBy("user_id").agg(
            F.count("*").cast("long").alias("n_sessions"),
            F.sum("n_events").alias("n_events")),
        ["user_id", "n_sessions", "n_events"])
    want = _rows(st2_sessionize(spark, SF_DIR),
                 ["user_id", "n_sessions", "n_events"])
    assert got == want


def test_stream_dedup_matches_batch_keys(spark):
    from crawler_spark.queries import st3_event_dedup
    from crawler_spark.streaming.windows import dedup_within_watermark
    name = _run_to_table(dedup_within_watermark(_events_stream(spark)), "append")
    got = spark.table(name)
    # one survivor per key; the surviving key set equals the batch twin's.
    # (WHICH duplicate survives is arrival-order-dependent by design —
    # the batch twin pins min(event_id), the stream keeps first-arrived.)
    assert got.groupBy("user_id", "event_type").count() \
              .where(F.col("count") > 1).count() == 0
    got_keys = _rows(got.select("user_id", "event_type"),
                     ["user_id", "event_type"])
    want_keys = _rows(st3_event_dedup(spark, SF_DIR)
                      .select("user_id", "event_type"),
                      ["user_id", "event_type"])
    assert got_keys == want_keys


def test_scan_stream_tails_crawl_output(spark, crawl_env, tmp_path):
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.spec import CrawlJobSpec
    from crawler_spark.streaming.scan_stream import (
        stream_documents, wave_doc_counts,
    )
    out = str(tmp_path / "docs")
    fetcher, robots_df, seeds = crawl_env
    spec = CrawlJobSpec(seeds=seeds, max_waves=3)
    run = run_crawl(spark, spec, fetcher, robots_src=robots_df,
                    sink=lambda w, d: d.write.mode("append").parquet(out))
    name = _run_to_table(wave_doc_counts(stream_documents(spark, out)),
                         "complete")
    got = {r["wave"]: r["n_docs"] for r in spark.table(name).collect()}
    want = {m["wave"]: m["fetched"] - m["errors"] for m in run.metrics}
    assert got == {w: n for w, n in want.items() if n > 0}


def test_stateful_host_totals_accumulate_across_batches(spark, crawl_env, tmp_path):
    """applyInPandasWithState: per-host GroupState accumulates across
    micro-batches (maxFilesPerTrigger=1 => one batch per wave commit); the
    final emitted totals per host equal the batch-mode aggregation."""
    from crawler_spark.plans.frontier import run_crawl
    from crawler_spark.spec import CrawlJobSpec
    from crawler_spark.streaming.scan_stream import stream_documents
    from crawler_spark.streaming.stateful import host_running_totals

    out = str(tmp_path / "docs")
    fetcher, robots_df, seeds = crawl_env
    spec = CrawlJobSpec(seeds=seeds, max_waves=4)
    run = run_crawl(spark, spec, fetcher, robots_src=robots_df,
                    sink=lambda w, d: d.write.mode("append").parquet(out))
    assert run.n_waves >= 3        # need multiple micro-batches for state

    totals = host_running_totals(
        stream_documents(spark, out, max_files_per_trigger=1))
    name = _run_to_table(totals, "update")
    # memory sink in update mode keeps every emission; the LAST row per host
    # is the final running total
    emitted = spark.table(name).collect()
    final = {}
    for r in emitted:               # rows arrive in emission order per batch
        final[r["host"]] = (r["docs_total"], r["spans_total"])
    want = {
        r["host"]: (r["n"], r["s"])
        for r in (spark.read.parquet(out)
                  .groupBy(F.regexp_extract("doc_id", r"^[a-z]+://([^/:?#]+)", 1)
                           .alias("host"))
                  .agg(F.count("*").alias("n"),
                       F.sum(F.size("spans")).alias("s"))).collect()}
    assert final == want
    # state really accumulated: some host must appear in >1 micro-batch
    from collections import Counter
    per_host_emissions = Counter(r["host"] for r in emitted)
    assert max(per_host_emissions.values()) > 1


def test_late_data_flags_hand_fixture(spark):
    """Watermark replay semantics: a row is late iff its event time is more
    than delay behind the max event time of STRICTLY EARLIER arrivals; the
    first arrival is never late (wm = own t)."""
    from pyspark.sql import functions as F
    from crawler_spark.streaming.windows import late_data_flags
    arrivals = [(1, 100), (2, 50), (3, 800), (4, 900), (5, 190), (6, 950)]
    df = spark.createDataFrame(arrivals, "event_id long, sec long") \
              .select("event_id",
                      F.timestamp_seconds("sec").alias("ts"))
    got = {r.event_id: (r.t, r.wm, r.late)
           for r in late_data_flags(df, delay_sec=600).collect()}
    assert got[1] == (100, 100, False)   # first arrival: wm = own t
    assert got[2] == (50, 100, False)    # behind, but within delay
    assert got[3] == (800, 100, False)
    assert got[4] == (900, 800, False)
    assert got[5] == (190, 900, True)    # 190 < 900 - 600
    assert got[6] == (950, 900, False)


def test_late_data_flags_blocking_invariance(spark):
    """The distributed prefix max must equal the sequential global window
    for any block count — at a row count large enough that the range
    partitioner genuinely SAMPLES its boundaries (the regression this
    pins: without the one-materialization barrier the two consumers of
    the blocked frame saw different sampled blockings and silently
    corrupted ~0.5% of watermarks at 10k rows; 400-row inputs never
    tripped it)."""
    from pyspark.sql import Window, functions as F
    from crawler_spark.streaming.windows import late_data_flags
    rows = [(i, (i * 2111) % 100000) for i in range(20000)]
    df = spark.createDataFrame(rows, "event_id long, sec long") \
              .select("event_id", F.timestamp_seconds("sec").alias("ts"))
    w = Window.orderBy("event_id").rowsBetween(Window.unboundedPreceding, -1)
    ref = sorted((r.event_id, r.t, r.wm)
                 for r in df.select(
                     "event_id", F.unix_timestamp("ts").cast("long").alias("t"))
                 .select("event_id", "t",
                         F.coalesce(F.max("t").over(w), F.col("t"))
                         .alias("wm")).collect())
    for n_blocks, src in ((1, df), (16, df.repartition(9))):
        got = sorted((r.event_id, r.t, r.wm)
                     for r in late_data_flags(src, delay_sec=100,
                                              n_blocks=n_blocks).collect())
        assert got == ref


def test_ewma_fold_matches_sequential_reference(spark):
    """st8's HOF fold == the sequential zero-seeded alpha=1/2 recurrence."""
    from pyspark.sql import functions as F

    rows = [(1, i, float(v)) for i, v in
            enumerate([4.0, 8.0, 2.0, 6.0, 10.0])]
    df = spark.createDataFrame(rows, ["k", "i", "v"])
    arr = F.array_sort(F.collect_list(F.struct("i", "v")))
    fold = F.aggregate(F.transform(arr, lambda s: s["v"]),
                       F.lit(0.0), lambda a, x: (a + x) * F.lit(0.5))
    got = df.groupBy("k").agg(fold.alias("e")).collect()[0]["e"]
    acc = 0.0
    for _, _, v in rows:
        acc = (acc + v) * 0.5
    assert got == acc


def test_stream_stream_interval_join_equals_batch(spark):
    """The watermarked stream-stream interval join emits exactly the
    (error, click) pairs the batch time_window_join produces — the §2.9
    joins row, exact under availableNow because inner-join results never
    wait on the watermark."""
    from crawler_spark.operators.joins import time_window_join
    from crawler_spark.streaming.joins import interval_join_streams

    ev = _events_stream(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    errors = (ev.where(F.col("event_type") == "error")
              .select("event_id", "user_id",
                      F.col("ts").cast("timestamp").alias("ets")))
    clicks = (ev.where(F.col("event_type") == "click")
              .select(F.col("user_id").alias("cuser"),
                      F.col("ts").cast("timestamp").alias("cts")))
    j = interval_join_streams(
        errors.withColumnRenamed("user_id", "euser")
              .withColumn("user_id", F.col("euser")).drop("euser"),
        clicks.withColumnRenamed("cuser", "user_id"),
        on="user_id", left_ts="ets", right_ts="cts", lag_max_sec=300)
    name = _run_to_table(
        j.select("event_id", F.unix_timestamp("cts").cast("long")
                 .alias("ct")), "append")
    got = _rows(spark.table(name), ["event_id", "ct"])

    x = spark.read.parquet(f"{SF_DIR}/events.parquet").select(
        "event_id", "user_id", "event_type",
        F.unix_timestamp("ts").cast("long").alias("t"))
    be = x.where(F.col("event_type") == "error") \
          .select("event_id", "user_id", "t")
    bc = x.where(F.col("event_type") == "click") \
          .select("user_id", F.col("t").alias("ct"))
    want = _rows(time_window_join(be, bc, on="user_id",
                                  left_ts="t", right_ts="ct",
                                  lag_max=300).select("event_id", "ct"),
                 ["event_id", "ct"])
    assert got == want and got


def test_event_sequences_contiguity_overlap_and_span(spark):
    from datetime import datetime
    from crawler_spark.streaming.windows import event_sequences
    T = lambda m: datetime(2024, 1, 1, 0, m)
    rows = [
        # user 1: a,b,a,b,a -> two overlapping a,b,a matches
        (1, "a", T(0), 1), (1, "b", T(1), 2), (1, "a", T(2), 3),
        (1, "b", T(3), 4), (1, "a", T(4), 5),
        # user 2: a,x,b,a -> interleaved x breaks contiguity
        (2, "a", T(0), 6), (2, "x", T(1), 7), (2, "b", T(2), 8),
        (2, "a", T(3), 9),
        # user 3: a,b,a but spanning > within_sec
        (3, "a", T(0), 10), (3, "b", T(1), 11), (3, "a", T(50), 12),
    ]
    d = spark.createDataFrame(
        rows, "user_id long, event_type string, ts timestamp, event_id long")
    out = {r["key"]: r["n_matches"] for r in
           event_sequences(d, ["a", "b", "a"],
                           within_sec=600).collect()}
    assert out == {1: 2}


def test_stream_static_enrich_equals_batch(spark):
    """Stream-static broadcast enrichment (st13): the streaming join over
    the file-source events stream produces exactly the batch twin's rows;
    the join is stateless so append mode needs no watermark."""
    from crawler_spark.queries import st13_stream_enrich
    from crawler_spark.streaming.joins import enrich_stream

    e = spark.read.parquet(f"{SF_DIR}/events.parquet")
    dim = (e.select("user_id").distinct()
           .select("user_id",
                   F.concat(F.lit("t"), (F.col("user_id") % 4)
                            .cast("string")).alias("tier"),
                   (F.lit(1) + F.col("user_id") % 7).cast("long")
                   .alias("weight")))
    enriched = enrich_stream(_events_stream(spark), dim, "user_id") \
        .select("event_id", "user_id", "value", "tier", "weight",
                F.floor(F.col("value") * F.col("weight")).cast("long")
                .alias("weighted"))
    name = _run_to_table(enriched, "append")
    cols = ["event_id", "user_id", "value", "tier", "weight", "weighted"]
    got = _rows(spark.table(name), cols)
    want = _rows(st13_stream_enrich(spark, SF_DIR), cols)
    assert got == want and len(got) > 0
