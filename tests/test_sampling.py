"""Unit specs for corpus sampling (operators/sampling.py): budget-cutoff
semantics and split determinism/proportion."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.operators.sampling import (
    hash_split, token_budget_select, token_budget_threshold,
)
from conftest import _sweep


def test_token_budget_select_cutoff(spark):
    """Per-stratum: rows kept in rank order while the running total stays
    within frac of the stratum mass; the row that crosses the budget is
    dropped even if some budget remains."""
    rows = [  # lang a: tokens 50+30+20 = 100, budget 0.6 -> 60
        ("a", 1, 0.9, 50),   # cum 50 <= 60 keep
        ("a", 2, 0.8, 30),   # cum 80 > 60 drop (crosses budget)
        ("a", 3, 0.7, 20),   # cum 100 drop
        # lang b: 10+10 = 20, budget 0.6 -> 12
        ("b", 4, 0.9, 10),   # cum 10 keep
        ("b", 5, 0.1, 10),   # cum 20 > 12 drop
    ]
    df = spark.createDataFrame(
        rows, "lang string, doc_id long, quality double, n_tokens long")
    out = token_budget_select(df, "lang", "n_tokens", 0.6,
                              [F.desc("quality"), F.col("doc_id")])
    got = {(r["lang"], r["doc_id"]): r["cum_tokens"] for r in out.collect()}
    assert got == {("a", 1): 50, ("b", 4): 10}


def test_token_budget_rank_order_not_input_order(spark):
    """Selection follows quality rank, not input/row order."""
    rows = [("a", 1, 0.1, 40), ("a", 2, 0.9, 40), ("a", 3, 0.5, 40)]
    df = spark.createDataFrame(
        rows, "lang string, doc_id long, quality double, n_tokens long")
    out = token_budget_select(df, "lang", "n_tokens", 0.7,  # budget 84
                              [F.desc("quality"), F.col("doc_id")])
    assert sorted(r["doc_id"] for r in out.collect()) == [2, 3]


def test_hash_split_deterministic_and_proportional(spark):
    """Same key -> same split on re-evaluation and under repartitioning;
    permille parameter lands near the asked proportion."""
    import hashlib
    df = spark.createDataFrame([(i,) for i in range(4000)], "k long")
    col = hash_split(F.col("k").cast("string"), 100)   # ~10%
    a = {r["k"]: r["s"] for r in df.select("k", col.alias("s")).collect()}
    b = {r["k"]: r["s"]
         for r in df.repartition(13).select("k", col.alias("s")).collect()}
    assert a == b
    frac = sum(1 for v in a.values() if v == "val") / len(a)
    assert 0.07 < frac < 0.13
    # pin the hash contract itself: md5 first 8 hex chars mod 1000
    k = "17"
    expected = "val" if int(hashlib.md5(k.encode()).hexdigest()[:8], 16) \
        % 1000 < 100 else "train"
    assert a[17] == expected


def test_threshold_variant_bounded_by_exact(spark):
    """kept(threshold) ⊆ kept(exact window); the difference is confined to
    the boundary quality bucket; equality when the budget lands on a bucket
    edge."""
    rows = []
    for lang, specs in {
        "a": [(0.9, 40, 3), (0.5, 40, 3), (0.1, 40, 3)],   # 360 tokens
        "b": [(0.8, 100, 2), (0.2, 100, 3)],               # 500 tokens
    }.items():
        i = 0
        for q, tk, n in specs:
            for _ in range(n):
                rows.append((lang, hash(lang) % 97 * 100 + i, q, tk))
                i += 1
    df = spark.createDataFrame(
        rows, "lang string, doc_id long, quality double, n_tokens long")

    for frac in (0.34, 0.5, 0.6):
        exact = {(r["lang"], r["doc_id"])
                 for r in token_budget_select(
                     df, "lang", "n_tokens", frac,
                     [F.desc("quality"), F.col("doc_id")]).collect()}
        thr = {(r["lang"], r["doc_id"])
               for r in token_budget_threshold(
                   df, "lang", "n_tokens", frac, "quality").collect()}
        assert thr <= exact
        # extras all sit in one quality bucket per stratum
        qual = {(r["lang"], r["doc_id"]): r["quality"] for r in df.collect()}
        for lang in ("a", "b"):
            extras = {q for (l, d), q in qual.items()
                      if (l, d) in exact - thr and l == lang}
            assert len(extras) <= 1
    # frac 1/3 on lang a = 120 tokens = exactly the 0.9 bucket
    thr = {(r["lang"], r["doc_id"])
           for r in token_budget_threshold(
               df, "lang", "n_tokens", 1 / 3, "quality").collect()
           if r["lang"] == "a"}
    assert {q for (l, d), q in
            {(r["lang"], r["doc_id"]): r["quality"]
             for r in df.collect()}.items() if (l, d) in thr} == {0.9}


def test_pack_sequences_blocking_invariance_and_semantics(spark):
    """The two-phase distributed prefix sum must be independent of the
    block count (any monotone blocking yields the same global prefix) and
    must implement concat-then-chunk semantics: seq_id/seq_offset come
    from the EXCLUSIVE prefix, docs may straddle sequence boundaries."""
    from crawler_spark.operators.sampling import pack_sequences

    rows = [(i, 10 * (i % 7) + 3) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, n_tokens long")

    def run(nb):
        return {r["doc_id"]: (r["prev_tokens"], r["seq_id"], r["seq_offset"])
                for r in pack_sequences(df, "n_tokens", budget=100,
                                        n_blocks=nb).collect()}

    base = run(1)
    for nb in (2, 8, 64):            # more blocks than rows/partitions too
        assert run(nb) == base, f"n_blocks={nb} changed the prefix"

    # sequential recomputation in plain python
    prev = 0
    for i in range(200):
        assert base[i] == (prev, prev // 100, prev % 100)
        prev += 10 * (i % 7) + 3
    # at least one doc straddles a boundary (offset + n_tokens > budget)
    assert any(o + rows[i][1] > 100 for i, (_, _, o) in base.items())


def test_temperature_sampling_properties(spark):
    """px5 operator invariants: p sums to 1, kept <= stratum size, rate
    hits the clamp for tail strata under a generous budget, the accept set
    is budget-monotone (bigger budget => superset), and the draw is
    deterministic under repartitioning."""
    from crawler_spark.operators.sampling import temperature_sampling
    import pyspark.sql.functions as F
    rows = [(i, "en" if i % 10 < 6 else ("de" if i % 10 < 9 else "fr"))
            for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    key = F.col("doc_id").cast("string")

    kept = temperature_sampling(df, "lang", key, alpha=0.3, budget=600)
    rates = {r.lang: r for r in
             kept.select("lang", "n_docs", "p_sample", "rate")
                 .distinct().collect()}
    assert abs(sum(r.p_sample for r in rates.values()) - 1.0) < 1e-4
    per = {r.lang: r.n_kept for r in
           kept.groupBy("lang").agg(F.count("*").alias("n_kept")).collect()}
    for lang, r in rates.items():
        assert per[lang] <= r.n_docs
    # fr has 100 docs; temperature lifts its share so budget*p_fr > 100
    assert rates["fr"].rate == 1.0 and per["fr"] == 100

    small = set(r.doc_id for r in
                temperature_sampling(df, "lang", key, alpha=0.3,
                                     budget=300).select("doc_id").collect())
    big = set(r.doc_id for r in kept.select("doc_id").collect())
    assert small <= big
    again = set(r.doc_id for r in
                temperature_sampling(df.repartition(13), "lang", key,
                                     alpha=0.3, budget=600)
                .select("doc_id").collect())
    assert again == big


def test_temperature_alpha_one_is_natural(spark):
    """alpha=1 degenerates to uniform rate budget/N across strata."""
    from crawler_spark.operators.sampling import temperature_sampling
    import pyspark.sql.functions as F
    rows = [(i, "a" if i < 800 else "b") for i in range(1000)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    kept = temperature_sampling(df, "lang", F.col("doc_id").cast("string"),
                                alpha=1.0, budget=500)
    rates = {r.lang: r.rate for r in
             kept.select("lang", "rate").distinct().collect()}
    assert rates == {"a": 0.5, "b": 0.5}


def test_stratified_sample_exact_quota_and_nesting(spark):
    """Every stratum yields EXACTLY ceil(frac*n) rows; a smaller fraction's
    sample is a strict subset of a larger one's (rank monotonicity); the
    selection is partitioning-invariant."""
    import math
    from pyspark.sql import functions as F
    from crawler_spark.operators.sampling import stratified_sample
    sizes = {"en": 50, "de": 10, "fr": 1, "ja": 7}
    rows, k = [], 0
    for lang, n in sizes.items():
        for _ in range(n):
            rows.append((k, lang)); k += 1
    df = spark.createDataFrame(rows, "doc_id long, lang string")

    s20 = stratified_sample(df, "lang", F.col("doc_id"), 0.2).collect()
    per = {}
    for r in s20:
        per.setdefault(r.lang, set()).add(r.doc_id)
    assert {g: len(v) for g, v in per.items()} == \
           {g: math.ceil(0.2 * n) for g, n in sizes.items()}

    s10 = stratified_sample(df, "lang", F.col("doc_id"), 0.1).collect()
    small = {(r.lang, r.doc_id) for r in s10}
    big = {(r.lang, r.doc_id) for r in s20}
    assert small <= big  # nested-monotone in frac

    rep = stratified_sample(df.repartition(13), "lang",
                            F.col("doc_id"), 0.2).collect()
    assert {(r.lang, r.doc_id) for r in rep} == big


def test_global_rank_total_and_blocking_invariant(spark):
    """global_rank must equal the sequential row_number over the same total
    order, for any block count and input partitioning."""
    from pyspark.sql import functions as F
    from crawler_spark.operators.sampling import global_rank
    rows = [(i, (i * 37) % 50) for i in range(300)]  # heavy key ties
    df = spark.createDataFrame(rows, "doc_id long, pri long")
    order = [F.col("pri"), F.col("doc_id")]
    dirs = [True, False]
    got = {r.doc_id: r._rn
           for r in global_rank(df.repartition(11), order,
                                n_blocks=7, desc=dirs).collect()}
    want = {doc_id: rn + 1
            for rn, (doc_id, _) in enumerate(
                sorted(rows, key=lambda t: (-t[1], t[0])))}
    assert got == want
    one = {r.doc_id: r._rn
           for r in global_rank(df, order, n_blocks=1,
                                desc=dirs).collect()}
    assert one == want


def test_epoch_shuffle_permutes_and_decorrelates(spark):
    """px8 contract: per epoch every doc appears exactly once, positions
    within each (epoch, shard) are a gapless 1..n permutation, and the
    two epochs produce genuinely different global orders."""
    from crawler_spark.queries import px8_epoch_shuffle

    out = px8_epoch_shuffle(spark, "/root/testdata/sf0.001").collect()
    by_epoch = {}
    for r in out:
        by_epoch.setdefault(r["epoch"], []).append(r)
    assert set(by_epoch) == {0, 1}
    n_docs = len({r["doc_id"] for r in out})
    for rows in by_epoch.values():
        assert len(rows) == n_docs
        shard_pos = {}
        for r in rows:
            shard_pos.setdefault(r["shard"], set()).add(r["pos"])
        for poss in shard_pos.values():
            assert poss == set(range(1, len(poss) + 1))
    order = {e: [r["doc_id"] for r in
                 sorted(rows, key=lambda r: (r["shard"], r["pos"]))]
             for e, rows in by_epoch.items()}
    assert order[0] != order[1]


def test_keyed_global_rank_equals_single_window(spark):
    """keyed_global_rank (block-local ranks + per-key offset cumsum)
    must equal the naive PARTITION BY key window for any blocking."""
    from pyspark.sql import Window, functions as F
    from crawler_spark.operators.sampling import keyed_global_rank
    rows = [(i, i % 3, (i * 37) % 11, f"u{i}") for i in range(200)]
    df = spark.createDataFrame(rows, "id long, k int, p int, u string")
    w = Window.partitionBy("k").orderBy(F.desc("p"), F.asc("u"))
    exp = {(r.id, r.rn) for r in
           df.withColumn("rn", F.row_number().over(w).cast("long"))
           .collect()}
    for nb in (1, 4, 32):
        got = {(r.id, r.rn) for r in keyed_global_rank(
            df, ["k"], [F.col("p"), F.col("u")], n_blocks=nb,
            out_col="rn", desc=[True, False]).collect()}
        assert got == exp, nb


def test_fim_transform_segments_and_md5(spark):
    """Segment lengths always resum to n_chars; AR rows hash the original
    text; a FIM row's md5 matches the reconstruction from its own cuts."""
    import hashlib
    from crawler_spark.operators.sampling import fim_transform
    rows = [(i, f"doc {i} " + "abcdefghij" * 4) for i in range(40)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in
           fim_transform(d, "text", "doc_id").collect()}
    texts = dict(rows)
    modes = {r["mode"] for r in out.values()}
    assert modes == {"ar", "psm", "spm"}
    for i, r in out.items():
        t = texts[i]
        assert r["len_prefix"] + r["len_middle"] + r["len_suffix"] \
            == r["n_chars"] == len(t)
        pre = t[:r["c1"]]
        mid = t[r["c1"]:r["c2"]]
        suf = t[r["c2"]:]
        if r["mode"] == "ar":
            exp = t
        elif r["mode"] == "psm":
            exp = f"<PRE>{pre}<SUF>{suf}<MID>{mid}"
        else:
            exp = f"<PRE><SUF>{suf}<MID>{pre}{mid}"
        assert r["out_md5"] == hashlib.md5(exp.encode()).hexdigest(), \
            (i, r["mode"])


def test_fim_transform_short_docs_stay_ar_and_rate_gates(spark):
    from crawler_spark.operators.sampling import fim_transform
    rows = [(i, "short") for i in range(10)] \
        + [(100 + i, "x" * 64) for i in range(10)]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = fim_transform(d, "text", "doc_id", fim_rate_pct=100).collect()
    got = {r["doc_id"]: r["mode"] for r in out}
    assert all(got[i] == "ar" for i in range(10))          # below min_chars
    assert all(got[100 + i] != "ar" for i in range(10))    # rate 100
    out0 = fim_transform(d, "text", "doc_id", fim_rate_pct=0).collect()
    assert all(r["mode"] == "ar" for r in out0)            # rate 0


def test_fim_transform_partition_invariant(spark):
    from crawler_spark.operators.sampling import fim_transform
    rows = [(i, f"payload {i} " + "qwerty" * 6) for i in range(30)]
    d1 = spark.createDataFrame(rows, "doc_id long, text string")
    d8 = d1.repartition(8)
    r1 = sorted(map(tuple, fim_transform(d1, "text", "doc_id").collect()))
    r8 = sorted(map(tuple, fim_transform(d8, "text", "doc_id").collect()))
    assert r1 == r8


def test_curriculum_order_matches_sequential_oracle(spark):
    """Distributed curriculum rank == the single-window sequential
    order; phases non-decreasing along pos; positions dense 1..n."""
    from crawler_spark.operators.sampling import curriculum_order
    import hashlib
    rows = [(i, (i * 131) % 1000) for i in range(200)]
    d = spark.createDataFrame(rows, "doc_id long, n_chars long")
    out = curriculum_order(
        d, F.least(F.lit(3), F.floor(F.col("n_chars") / 250)),
        F.concat(F.lit("t/"), F.col("doc_id")), n_blocks=8).collect()
    got = sorted(((r["pos"], r["doc_id"], r["phase"]) for r in out))
    assert [p for p, _, _ in got] == list(range(1, 201))
    phases = [ph for _, _, ph in got]
    assert phases == sorted(phases)
    want = sorted(
        (min(3, nc // 250), hashlib.md5(f"t/{i}".encode()).hexdigest(), i)
        for i, nc in rows)
    assert [i for _, _, i in [w for w in want]] == [d for _, d, _ in got]


def test_rag_chunk_spans_goldens(spark):
    """10 words, chunk=4, stride=3: starts 0,3,6,9; last chunk short;
    every word covered; overlap regions shared between neighbors."""
    from crawler_spark.operators.sampling import rag_chunk_spans
    words = [f"w{i}" for i in range(10)]
    d = spark.createDataFrame([(1, " ".join(words))],
                              "doc_id long, text string")
    out = sorted(rag_chunk_spans(d, chunk=4, stride=3).collect(),
                 key=lambda r: r["chunk_idx"])
    assert [(r["chunk_idx"], r["start_word"], r["n_words"])
            for r in out] == [(0, 0, 4), (1, 3, 4), (2, 6, 4), (3, 9, 1)]
    import hashlib
    want = hashlib.md5(" ".join(words[3:7]).encode()).hexdigest()
    assert out[1]["chunk_md5"] == want


def test_rag_chunk_spans_short_doc_single_chunk(spark):
    from crawler_spark.operators.sampling import rag_chunk_spans
    d = spark.createDataFrame([(1, "only two"), (2, "x")],
                              "doc_id long, text string")
    out = {r["doc_id"]: r for r in rag_chunk_spans(d, chunk=8,
                                                   stride=6).collect()}
    assert (out[1]["chunk_idx"], out[1]["n_words"]) == (0, 2)
    assert (out[2]["chunk_idx"], out[2]["n_words"]) == (0, 1)


def test_pack_sequences_environment_invariant(spark):
    """Round-3 driver-gate regression (px3/mm4 hash_match=false): the packed
    output must be value-identical under every session shape — shuffle
    partition count, AQE on/off, files.maxPartitionBytes — and under any
    input partitioning/row order, because the block id is a PURE expression
    against driver-frozen boundaries (operators/sampling._det_block_expr),
    not a runtime-sampled repartitionByRange blocking."""
    from crawler_spark.operators.sampling import pack_sequences

    rows = [(f"d{i:04d}", (i * 37) % 91 + 1) for i in range(700)]
    base = spark.createDataFrame(rows, "doc_id string, n_tokens long")

    def run(df):
        out = pack_sequences(df, "n_tokens", order_col="doc_id",
                             budget=256, n_blocks=8)
        return sorted((r["doc_id"], r["prev_tokens"], r["seq_id"],
                       r["seq_offset"]) for r in out.collect())

    # sequential truth
    acc, want = 0, []
    for doc_id, nt in sorted(rows):
        want.append((doc_id, acc, acc // 256, acc % 256))
        acc += nt
    want.sort()

    _sweep(spark, base, run, want, "n_tokens")


def test_dataset_card_rollup_levels_consistent(spark):
    """The (source, lang) rows sum to their (source) row, which sums to
    the corpus total; dup flags count per-document at every level."""
    from crawler_spark.operators.sampling import dataset_card
    from crawler_spark.operators.textdedup import fingerprint_col
    rows = [(1, "one two three", "en", "sA"),
            (2, "one two three", "en", "sA"),     # exact dup of 1
            (3, "quatre cinq", "fr", "sA"),
            (4, "five six seven eight", "en", "sB")]
    d = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string")
    out = {(r["source"], r["lang"]): r for r in dataset_card(
        d, score=F.lit(0.5), fp=fingerprint_col(F.col("text"))).collect()}
    total = out[("(all)", "(all)")]
    assert total["n_docs"] == 4 and total["n_dup_docs"] == 2
    sa = out[("sA", "(all)")]
    assert sa["n_docs"] == 3 and sa["n_dup_docs"] == 2
    assert out[("sA", "en")]["n_docs"] == 2
    assert out[("sA", "fr")]["n_dup_docs"] == 0
    # word sums roll up exactly
    assert (out[("sA", "en")]["n_words"] + out[("sA", "fr")]["n_words"]
            == sa["n_words"])
    assert sa["n_words"] + out[("sB", "(all)")]["n_words"] \
        == total["n_words"]
    # integerized quality mean: constant 0.5 everywhere
    assert all(r["mean_quality"] == 0.5 for r in out.values())


def test_packing_efficiency_report_semantics(spark):
    """px16's report logic against a handcrafted layout (budget 8):
    docs [5, 6, 20, 3] -> prev [0, 5, 11, 31], corpus_end 34.
    Sequence rows exist only where a doc STARTS (seq 2 is interior to
    the 20-token doc and is absent); straddlers count docs crossing
    their start sequence's right edge; only the final partial sequence
    pads."""
    from pyspark.sql import functions as F
    from crawler_spark.operators.sampling import pack_sequences

    rows = [("d1", 5), ("d2", 6), ("d3", 20), ("d4", 3)]
    t = spark.createDataFrame(rows, "doc_id string, n_tokens long")
    p = pack_sequences(t, "n_tokens", order_col="doc_id",
                       budget=8, n_blocks=2)
    p = p.withColumn("end_seq", F.floor(
        (F.col("prev_tokens") + F.col("n_tokens") - 1) / 8).cast("long"))
    s = (p.groupBy("seq_id")
         .agg(F.count(F.lit(1)).alias("n_docs_started"),
              F.sum((F.col("end_seq") > F.col("seq_id")).cast("long"))
              .alias("n_straddlers")))
    got = {r["seq_id"]: (r["n_docs_started"], r["n_straddlers"])
           for r in s.collect()}
    # d1 starts seq0 (offsets 0-4, stays), d2 starts seq0 (5-10,
    # straddles), d3 starts seq1 (11-30, spans seqs 1-3), d4 starts at
    # offset 31 — the LAST slot of seq3 — and ends at 33 in seq4, so it
    # straddles too. seq2 (interior to d3) and seq4 (no starter) are
    # absent: the per-row view reports start sequences only.
    assert got == {0: (2, 1), 1: (1, 1), 3: (1, 1)}
    end = p.agg(F.max(F.col("prev_tokens") + F.col("n_tokens"))) \
           .collect()[0][0]
    assert end == 34                     # pad = 4*8 - 34 = 6, last seq only


def test_token_budget_curve_monotone_and_exact(spark):
    """px17's curve against a sequential truth: descending thresholds
    accumulate docs/tokens monotonically and hit exact integer sums."""
    import sys
    sys.path.insert(0, ".")
    from crawler_spark import queries as Q

    # reuse the registry callable at sf0.001 for an end-to-end check
    rows = Q._QUERIES["px17_token_budget_curve"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows, "empty curve"
    by_thr = sorted(rows, key=lambda r: -r["q_threshold"])
    prev_docs, prev_toks = 0, 0
    for r in by_thr:
        assert r["n_docs_kept"] > prev_docs
        assert r["n_tokens_kept"] >= prev_toks
        assert 0.0 <= r["frac_tokens"] <= 1.0
        prev_docs, prev_toks = r["n_docs_kept"], r["n_tokens_kept"]
    assert by_thr[-1]["frac_tokens"] == 1.0   # lowest threshold keeps all
