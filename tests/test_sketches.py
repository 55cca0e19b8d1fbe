"""KMV distinct sketch (operators/sketches.py, ks1)."""

from __future__ import annotations

from pyspark.sql import functions as F

from crawler_spark.operators.sketches import kmv_distinct


def test_kmv_exact_below_k_and_estimates_above(spark):
    rows = [(g, i % n) for g, n in (("small", 40), ("big", 5000))
            for i in range(3 * n)]
    df = spark.createDataFrame(rows, "g string, key long")
    got = {r.g: r for r in
           kmv_distinct(df, ["g"], F.col("key"), k=64).collect()}
    assert got["small"].n_exact == 40
    assert got["small"].kmv_est == 40.0          # exact below k
    assert got["big"].n_exact == 5000
    # KMV relative error ~ 1/sqrt(k-2) ≈ 13%; allow 4 sigma
    assert abs(got["big"].kmv_est - 5000) / 5000 < 0.52
    assert got["big"].kmv_est != 5000.0          # actually estimating


def test_kmv_partition_invariant(spark):
    rows = [("g", i * 31 % 977) for i in range(4000)]
    df = spark.createDataFrame(rows, "g string, key long")
    a = kmv_distinct(df, ["g"], F.col("key")).first()
    b = kmv_distinct(df.repartition(17), ["g"], F.col("key")).first()
    assert (a.n_exact, a.kmv_est) == (b.n_exact, b.kmv_est)


def test_countmin_overestimates_and_is_exact_when_wide(spark):
    from crawler_spark.operators.sketches import count_min
    rows = [(i % 150,) for i in range(6000)]
    df = spark.createDataFrame(rows, "user_id long")
    got = count_min(df, F.col("user_id"), depth=4, width=64).collect()
    assert len(got) == 150
    assert all(r.cm_est >= r.n_exact for r in got)     # never undercounts
    assert any(r.cm_est > r.n_exact for r in got)      # 150 keys, 64 buckets
    # a very wide sketch should be exact for 150 keys (w=8192, d=4:
    # collision odds in all 4 rows ~ (150/8192)^4 per key pair)
    wide = count_min(df, F.col("user_id"), depth=4, width=8192).collect()
    assert all(r.cm_est == r.n_exact for r in wide)


def test_countmin_partition_invariant(spark):
    from crawler_spark.operators.sketches import count_min
    df = spark.createDataFrame([(i % 37,) for i in range(2000)],
                               "user_id long")
    a = sorted(map(tuple, count_min(df, F.col("user_id")).collect()))
    b = sorted(map(tuple,
                   count_min(df.repartition(13), F.col("user_id")).collect()))
    assert a == b


def test_exact_quantiles_vs_reference(spark):
    """Type-1 (lower) quantile: smallest v with running count >= ceil(q*n);
    engine must match the sequential definition with heavy duplicates."""
    import math
    from crawler_spark.operators.sketches import exact_quantiles
    vals = {"a": [float((i * 37) % 101) for i in range(500)],   # dup-heavy
            "b": [float(i) / 7.0 for i in range(23)]}           # small odd n
    rows = [(g, v) for g, vs in vals.items() for v in vs]
    df = spark.createDataFrame(rows, "g string, v double")
    got = {r.g: r for r in
           exact_quantiles(df, ["g"], F.col("v"),
                           qs=(0.5, 0.9, 0.99)).collect()}

    def ref(vs, q):
        s = sorted(vs)
        return round(s[math.ceil(q * len(s)) - 1], 4)

    for g, vs in vals.items():
        assert got[g].n == len(vs)
        assert got[g].q_50 == ref(vs, 0.5)
        assert got[g].q_90 == ref(vs, 0.9)
        assert got[g].q_99 == ref(vs, 0.99)


def test_exact_quantiles_ceil_boundary_and_partitioning(spark):
    """Exact-multiple targets (q*n integral in decimal) follow the shared
    DOUBLE arithmetic on both sides; result is partitioning-invariant."""
    from crawler_spark.operators.sketches import exact_quantiles
    rows = [("g", float(i)) for i in range(1, 11)]  # n=10: 0.5*n boundary
    df = spark.createDataFrame(rows, "g string, v double")
    r = exact_quantiles(df, ["g"], F.col("v"), qs=(0.5,)).first()
    assert r.q_50 == 5.0  # ceil(5.0) = 5 -> 5th smallest
    r2 = exact_quantiles(df.repartition(7), ["g"], F.col("v"),
                         qs=(0.5,)).first()
    assert r2.q_50 == r.q_50
    # a BIGINT measure still yields DOUBLE quantiles, as DuckDB's round does
    ql = exact_quantiles(df, ["g"], F.col("v").cast("long"), qs=(0.5,))
    assert dict(ql.dtypes)["q_50"] == "double"


def test_hll_accuracy_and_dup_invariance(spark):
    """HLL estimate within 5 sigma (sigma ~= 1.04/sqrt(256) ~= 6.5%) of the
    exact count, and — the max-register algebra's defining property —
    bit-unchanged under duplication of the input rows."""
    from pyspark.sql import functions as F
    from crawler_spark.operators.sketches import hll_distinct

    df = spark.range(3000).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("k"))
    out = {r["g"]: r for r in
           hll_distinct(df, ["g"], F.col("k")).collect()}
    assert set(out) == {0, 1, 2}
    for r in out.values():
        assert r["n_exact"] == 1000
        assert abs(r["hll_est"] - 1000) / 1000 < 5 * 1.04 / 16
        assert r["regs_used"] + r["zero_regs"] == 256

    dup = df.unionAll(df).unionAll(df)
    out_dup = {r["g"]: r for r in
               hll_distinct(dup, ["g"], F.col("k")).collect()}
    for g in out:
        assert out_dup[g]["hll_est"] == out[g]["hll_est"]
        assert out_dup[g]["regs_used"] == out[g]["regs_used"]


def test_hll_partition_invariant(spark):
    from pyspark.sql import functions as F
    from crawler_spark.operators.sketches import hll_distinct

    df = spark.range(500).select(
        F.lit(0).alias("g"), F.col("id").cast("string").alias("k"))
    a = hll_distinct(df.repartition(1), ["g"], F.col("k")).collect()[0]
    b = hll_distinct(df.repartition(7), ["g"], F.col("k")).collect()[0]
    assert a["hll_est"] == b["hll_est"] and a["regs_used"] == b["regs_used"]


# ---------------------------------------------------------------- theta ks5


def _theta_reference(keys_a, keys_b, k=64):
    """Pure-python theta set-op reference (same md5-32 hash family)."""
    import hashlib

    def h(x):
        return int(hashlib.md5(str(x).encode()).hexdigest()[:8], 16)

    two32 = 4294967296.0
    ha, hb = sorted({h(x) for x in keys_a}), sorted({h(x) for x in keys_b})
    th_a = ha[k - 1] if len(ha) >= k else int(two32)
    th_b = hb[k - 1] if len(hb) >= k else int(two32)
    theta = min(th_a, th_b)
    sa = {x for x in ha if x < theta}
    sb = {x for x in hb if x < theta}
    sc = two32 / theta
    return (len(ha), len(hb), len(set(ha) & set(hb)),
            round(len(sa | sb) * sc, 4), round(len(sa & sb) * sc, 4),
            round(len(sa - sb) * sc, 4))


def test_theta_exact_when_both_below_k(spark):
    from crawler_spark.operators.sketches import theta_set_ops
    a = spark.createDataFrame([(i,) for i in range(30)], "key long")
    b = spark.createDataFrame([(i,) for i in range(20, 50)], "key long")
    r = theta_set_ops(a, b, F.col("key"), k=64).first()
    # theta = 2^32 on both sides -> the samples ARE the sets: exact
    assert (r.n_a_exact, r.n_b_exact, r.inter_exact) == (30, 30, 10)
    assert (r.union_est, r.inter_est, r.diff_est) == (50.0, 10.0, 20.0)


def test_theta_matches_reference_and_partition_invariant(spark):
    from crawler_spark.operators.sketches import theta_set_ops
    keys_a = [i * 13 % 4001 for i in range(9000)]
    keys_b = [i * 7 % 2003 + 3000 for i in range(6000)]
    a = spark.createDataFrame([(x,) for x in keys_a], "key long")
    b = spark.createDataFrame([(x,) for x in keys_b], "key long")
    want = _theta_reference(keys_a, keys_b)
    r1 = theta_set_ops(a, b, F.col("key"), k=64).first()
    got1 = (r1.n_a_exact, r1.n_b_exact, r1.inter_exact,
            r1.union_est, r1.inter_est, r1.diff_est)
    assert got1 == want
    r2 = theta_set_ops(a.repartition(13), b.repartition(7),
                       F.col("key"), k=64).first()
    got2 = (r2.n_a_exact, r2.n_b_exact, r2.inter_exact,
            r2.union_est, r2.inter_est, r2.diff_est)
    assert got2 == want
    # the estimates bracket the truth within 4 sigma of 1/sqrt(k-2)
    assert abs(r1.union_est - (r1.n_a_exact + r1.n_b_exact
                               - r1.inter_exact)) \
        / (r1.n_a_exact + r1.n_b_exact - r1.inter_exact) < 0.52


def test_bloom_membership_sound_and_fp_flagged(spark):
    """ks6: NO false negatives ever (every built key answers maybe), and at
    a deliberately high fill factor false positives exist and are exactly
    the maybe-answers on absent keys."""
    from crawler_spark.operators.sketches import bloom_membership
    keys = spark.range(0, 200).select(
        F.concat(F.lit("k"), F.col("id")).alias("key"))
    cands = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("k"), F.col("id")).alias("key"))
    rows = bloom_membership(keys, cands, m=512, k=4).collect()
    present = {r.doc_id: r for r in rows}
    assert len(rows) == 400
    for i in range(200):                      # soundness: no false negatives
        assert present[i].maybe_seen == 1 and present[i].false_positive == 0
    fps = [r for r in rows if r.doc_id >= 200 and r.maybe_seen == 1]
    assert fps, "fill factor chosen to force false positives"
    assert all(r.false_positive == 1 for r in fps)
    assert all(r.false_positive == 0 for r in rows
               if r.doc_id >= 200 and r.maybe_seen == 0)


def test_bloom_membership_partition_invariant(spark):
    from crawler_spark.operators.sketches import bloom_membership
    keys = spark.range(0, 100).select(
        F.concat(F.lit("p"), F.col("id")).alias("key"))
    cands = spark.range(0, 150).select(
        F.concat(F.lit("p"), F.col("id")).alias("key"))
    a = sorted((r.key, r.maybe_seen, r.false_positive) for r in
               bloom_membership(keys.coalesce(1), cands.coalesce(1)).collect())
    b = sorted((r.key, r.maybe_seen, r.false_positive) for r in
               bloom_membership(keys.repartition(13),
                                cands.repartition(7)).collect())
    assert a == b


def test_heavy_hitters_equals_exact(spark):
    """Output == the exact HAVING count*k > n answer, and is invariant
    to how rows are batched/partitioned (the MG covering guarantee)."""
    from crawler_spark.operators.sketches import heavy_hitters
    rows = [("the",)] * 40 + [("of",)] * 15 + [("a",)] * 9 + \
        [(f"rare{i}",) for i in range(36)]
    df = spark.createDataFrame(rows, "word string")
    n = len(rows)  # 100
    k = 10         # threshold: count > 10
    exact = {w: c for w, c in
             (("the", 40), ("of", 15)) if c * k > n}
    for parts in (1, 7):
        got = {r["word"]: r["n_occ"] for r in
               heavy_hitters(df.repartition(parts), "word", k=k).collect()}
        assert got == exact


def test_heavy_hitters_strict_threshold(spark):
    """count * k == n is NOT a hitter (strict inequality)."""
    from crawler_spark.operators.sketches import heavy_hitters
    rows = [("x",)] * 25 + [(f"r{i}",) for i in range(75)]  # 25*4 == 100
    df = spark.createDataFrame(rows, "word string")
    assert heavy_hitters(df, "word", k=4).count() == 0
    rows.append(("x",))  # 26*4 > 101
    df2 = spark.createDataFrame(rows, "word string")
    got = heavy_hitters(df2, "word", k=4).collect()
    assert [(r["word"], r["n_occ"]) for r in got] == [("x", 26)]


def test_decayed_counts_exact_dyadics(spark):
    """Hand-checkable: events at frontier, -1h, -2h, -33h (capped at
    32) -> 1 + 0.5 + 0.25 + 2^-32; order/partitioning-independent."""
    from datetime import datetime, timedelta
    from crawler_spark.operators.sketches import decayed_counts
    t0 = datetime(2024, 1, 2, 12, 0, 0)
    rows = [("a", t0), ("a", t0 - timedelta(hours=1)),
            ("a", t0 - timedelta(hours=2)),
            ("a", t0 - timedelta(hours=33)),
            ("b", t0 - timedelta(hours=1))]
    df = spark.createDataFrame(rows, "k string, ts timestamp")
    for parts in (1, 5):
        got = {r["k"]: (r["n"], r["decayed"]) for r in
               decayed_counts(df.repartition(parts), "k", "ts",
                              3600, 32).collect()}
        assert got["a"] == (4, round(1 + 0.5 + 0.25 + 2.0 ** -32, 6))
        # age is measured from the GLOBAL frontier (t0), not per key
        assert got["b"] == (1, 0.5)


def test_heavy_hitters_bigint_key_and_null_exclusion(spark):
    """Non-string keys must round-trip the Arrow candidate pass with their
    own dtype (the candidate schema derives from the key column), and NULL
    keys are excluded from both the hitters and the n/k denominator."""
    from crawler_spark.operators.sketches import heavy_hitters
    rows = [(7,)] * 60 + [(i,) for i in range(100, 130)] + [(None,)] * 200
    df = spark.createDataFrame(rows, "user_id bigint")
    got = {(r["user_id"], r["n_occ"])
           for r in heavy_hitters(df, "user_id", k=3).collect()}
    # non-null n = 90; threshold n/k = 30; only key 7 (60 occurrences)
    assert got == {(7, 60)}


def test_ams_f2_exact_and_partition_invariant(spark):
    """true_f2 is the exact self-join size; the sketch output is
    identical under any input partitioning (the mergeable-sum algebra),
    and a uniform key distribution is estimated within the
    median-of-means error envelope."""
    from crawler_spark.operators.sketches import ams_f2
    rows = [(k,) for k in range(50) for _ in range(k % 5 + 1)]
    df = spark.createDataFrame(rows, "user_id bigint")
    want_f2 = sum((k % 5 + 1) ** 2 for k in range(50))
    outs = [ams_f2(df.repartition(p), F.col("user_id")).collect()[0]
            for p in (1, 7)]
    assert outs[0] == outs[1]
    got = outs[0]
    assert got["true_f2"] == want_f2
    # ±1 signs bound each X_r by n; median-of-means keeps the estimate
    # positive and within a small constant factor on this fixture
    assert 0.0 <= got["est_f2"] <= 5.0 * want_f2
    assert got["rel_err"] == round(abs(got["est_f2"] - want_f2)
                                   / want_f2, 4)


def test_ams_f2_single_hot_key(spark):
    """With ONE key, every estimator's X_r = ±n exactly, so every
    group sum is m*n² and est_f2 == true_f2 == n² — the sketch is
    exact in the pure-skew limit (its designed use: skew detection)."""
    from crawler_spark.operators.sketches import ams_f2
    df = spark.createDataFrame([(42,)] * 30, "user_id bigint")
    got = ams_f2(df, F.col("user_id")).collect()[0]
    assert got["true_f2"] == 900
    assert got["est_f2"] == 900.0 and got["rel_err"] == 0.0


def test_bloom_fpr_audit_sound_and_measured(spark):
    """Soundness: present keys never count as absent (the anti-join
    gate), a saturated filter reports fpr 1.0, and a huge empty-ish
    filter reports ~0 with theory agreeing."""
    from crawler_spark.operators.sketches import bloom_fpr_audit
    keys = spark.createDataFrame([(f"k{i}",) for i in range(50)],
                                 "key string")
    # candidates overlap keys: overlapping ones must be EXCLUDED
    cand = spark.createDataFrame(
        [(f"k{i}",) for i in range(25)] + [(f"x{i}",) for i in range(40)],
        "key string")
    r = bloom_fpr_audit(keys, cand, m=8, k=2).collect()[0]   # saturated
    assert r["n_keys"] == 50 and r["n_absent"] == 40
    assert r["n_bits_set"] <= 8
    assert r["fpr_measured"] == 1.0 and r["fpr_theory"] > 0.99
    big = bloom_fpr_audit(keys, cand, m=65536, k=4).collect()[0]
    assert big["fpr_measured"] <= 0.01 and big["fpr_theory"] < 0.001


def test_bloom_fpr_audit_counts_match_membership_twin(spark):
    """The audit's false-positive count equals summing ks6's per-row
    false_positive flags over the same absent set — one algebra, two
    views."""
    from crawler_spark.operators.sketches import (
        bloom_fpr_audit, bloom_membership)
    keys = spark.createDataFrame([(f"k{i}",) for i in range(30)],
                                 "key string")
    cand = spark.createDataFrame([(f"z{i}",) for i in range(60)],
                                 "key string")
    audit = bloom_fpr_audit(keys, cand, m=256, k=3).collect()[0]
    mem = bloom_membership(keys, cand, m=256, k=3)
    n_fp = mem.agg(F.sum("false_positive")).collect()[0][0]
    assert audit["n_false_pos"] == n_fp and audit["n_absent"] == 60
