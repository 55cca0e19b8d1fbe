"""Deterministic mergeable sketches (ks1): KMV distinct-count estimation.

Production Spark estimates distinct counts with HyperLogLog++
(`approx_count_distinct`) — but HLL register layouts differ across
engines, so it can never sit under a cross-engine hash gate. The
K-Minimum-Values sketch (Bar-Yossef et al. 2002; the ThetaSketch
ancestor) has the same mergeable-minima structure and IS exactly
reproducible from any fixed hash: keep the k smallest distinct 32-bit
hash values; if fewer than k exist the count is exact, else estimate
(k-1) * 2^32 / h_(k) from the k-th minimum.

Scale shape: the distinct() is a partial-agged shuffle (map-side combine
absorbs duplicate keys); the per-group k-th order statistic is a window
over DISTINCT hashes only. At 10^10 distinct keys per group, replace the
window with per-partition partial k-minima folded by a second tiny agg —
same algebra (minima of minima), one fewer sort; the window form here is
the oracle-checkable reference semantics. Estimation error ~ 1/sqrt(k-2)
relative (k=64 -> ~13%), visible in the ks1 fixture output next to the
exact counts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def kmv_distinct(df: DataFrame, group_cols: list[str], key: Column,
                 k: int = 64) -> DataFrame:
    """Per group: (n_exact BIGINT, kmv_est DOUBLE round 4) distinct-count
    of `key` — exact when the group has < k distinct keys, else the KMV
    estimate from the k-th smallest md5-derived 32-bit hash. The same
    content-stable hash family as hash_split/weighted_sample, so the
    sketch is reproducible across runs, engines, and partitionings."""
    h = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10) \
         .cast("long")
    d = df.select(*group_cols, h.alias("_h")).distinct()
    w_rk = Window.partitionBy(*group_cols).orderBy("_h")
    r = d.withColumn("_rk", F.row_number().over(w_rk))
    agg = (r.groupBy(*group_cols)
           .agg(F.count("*").alias("n_exact"),
                F.max(F.when(F.col("_rk") == k, F.col("_h"))).alias("_hk")))
    est = (F.when(F.col("n_exact") < k,
                  F.col("n_exact").cast("double"))
           .otherwise(F.round(F.lit(float(k - 1)) * F.lit(4294967296.0)
                              / F.col("_hk"), 4)))
    return agg.select(*group_cols, "n_exact", est.alias("kmv_est"))


def exact_quantiles(df: DataFrame, group_cols: list[str], value: Column,
                    qs: tuple[float, ...] = (0.5, 0.9, 0.99)) -> DataFrame:
    """Distributed EXACT type-1 (lower) quantiles per group: the smallest
    value v whose running count reaches ceil(q * n). Production Spark
    reaches for approx_percentile (a t-digest/GK sketch whose internal
    state can never hash-match another engine); this is the exact
    companion with a scale-honest plan:

      1. groupBy(group, value).count() — the shuffle carries only DISTINCT
         (group, value) pairs and the map-side partial agg absorbs
         duplicate measurements (crawl metrics repeat heavily: status
         codes, latency-ms buckets, sizes);
      2. one window per group over those distinct values for the running
         count — per-group sort at distinct-value cardinality, NOT row
         cardinality;
      3. min(value | cum >= ceil(q*n)) per requested q in one final agg.

    At 10^10 rows with genuinely continuous values, bucket `value` to
    fixed precision first (the caller controls rounding) so step 1
    compresses; the quantile is then exact over the bucketed measure.

    Returns one row per group: (*group_cols, n BIGINT, q_50, q_90, ...
    DOUBLE round 4) — column names q_<100*q>; cast to DOUBLE because
    Spark's round keeps a BIGINT measure BIGINT where DuckDB's returns
    DOUBLE. NULL measurements are
    DROPPED up front (the SQL aggregate convention) — without the filter
    the per-group sort would diverge across engines (Spark ASC is NULLS
    FIRST, DuckDB NULLS LAST) and NULL rows would shift every target."""
    vals = (df.select(*group_cols, value.alias("_v"))
            .where(F.col("_v").isNotNull())
            .groupBy(*group_cols, "_v").agg(F.count("*").alias("_c")))
    w_cum = (Window.partitionBy(*group_cols).orderBy("_v")
             .rowsBetween(Window.unboundedPreceding, 0))
    w_n = Window.partitionBy(*group_cols)
    r = (vals.withColumn("_cum", F.sum("_c").over(w_cum))
         .withColumn("_n", F.sum("_c").over(w_n)))
    aggs = [F.sum("_c").cast("long").alias("n")]
    for q in qs:
        tgt = F.ceil(F.lit(q) * F.col("_n")).cast("long")
        aggs.append(F.round(
            F.min(F.when(F.col("_cum") >= tgt, F.col("_v"))), 4)
            .cast("double").alias(f"q_{int(round(q * 100))}"))
    return r.groupBy(*group_cols).agg(*aggs)


def count_min(df: DataFrame, key: Column, depth: int = 4,
              width: int = 64) -> DataFrame:
    """Count-Min frequency sketch (Cormode & Muthukrishnan 2005) with
    content-stable hash rows: estimate each key's frequency as
    min over d rows of its bucket's total count. Always an OVERestimate
    (collisions only add); error <= 2N/width with prob 1-2^-depth. The
    mergeable frequency companion to `kmv_distinct`'s cardinality sketch —
    bucket tables from different partitions/days ADD cell-wise.

    Returns (key, n_exact BIGINT, cm_est BIGINT): exact printed next to
    the estimate so fixtures show the sketch overcounting.

    Scale shape: the sketch table is ONE partial-agg shuffle at
    depth*width cells (tiny, broadcastable); the per-key estimate is a
    broadcast join of keys against their d cells + a min-rollup. The
    corpus never carries more than its (key, row, bucket) projection."""
    rows = F.explode(F.sequence(F.lit(0), F.lit(depth - 1))).alias("j")
    ks = key.cast("string")
    # bucket derives from the projected _k so it composes after any select
    bkt = (F.conv(F.substring(F.md5(F.concat(F.col("j").cast("string"),
                                             F.lit("/"), F.col("_k"))),
                              1, 8), 16, 10).cast("long") % width)
    cells = (df.select(ks.alias("_k"), rows)
             .select("_k", "j", bkt.alias("b"))
             .groupBy("j", "b").agg(F.count("*").alias("c")))
    keys = df.select(ks.alias("_k")).distinct() \
             .select("_k", rows).select("_k", "j", bkt.alias("b"))
    est = (keys.join(F.broadcast(cells), ["j", "b"])
           .groupBy("_k").agg(F.min("c").alias("cm_est")))
    exact = df.select(ks.alias("_k")).groupBy("_k") \
              .agg(F.count("*").alias("n_exact"))
    return (exact.join(est, "_k")
            .select(F.col("_k").alias("key"), "n_exact",
                    F.col("cm_est").cast("long").alias("cm_est")))


# alpha_m * m^2 * 2^53 for m=256 (p=8): the whole numerator of the HLL
# estimator pre-folded into ONE double literal so both engines perform
# exactly one double division in the same order (repr is bit-exact).
_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_NUMER = 4.2399330249068963e+20  # 0.7213/(1+1.079/256) * 256^2 * 2^53


def hll_distinct(df: DataFrame, group_cols: list[str],
                 key: Column) -> DataFrame:
    """Per-group HyperLogLog (Flajolet et al. 2007) distinct-count with a
    CROSS-ENGINE-EXACT register algebra — the oracle-checkable HLL that
    `approx_count_distinct` (HLL++, engine-private register layout) can
    never be.

    Register index = first 8 bits of md5(key); rank = leading-zero count
    of the next 52 bits + 1, computed as `53 - length(bin(v))` — pure
    integer algebra, no libm (see g8: floor(log2()) through doubles is
    not bit-stable across engines). The harmonic sum is INTEGERIZED:
    sum_j 2^(53 - M_j) as BIGINT (max 256 * 2^53 < 2^62, exact), with
    empty registers contributing 2^53 each — so the only floating-point
    op is one final double division by the pre-folded numerator literal,
    bit-identical in any IEEE-754 engine. Raw (uncorrected) estimator by
    design: the linear-counting small-range correction needs ln(), which
    is libm; `zero_regs` is emitted so a caller can apply it.

    Scale shape vs ks1 (KMV): NO distinct() anywhere — the register table
    is a plain groupBy max, so the map-side partial agg reduces every
    partition to <= m rows regardless of key cardinality; the shuffle
    carries at most m rows per group. This is the sketch to run at 10^10
    keys; KMV's distinct() shuffle is the price of its exactness below k.
    n_exact (one count-distinct agg) is fixture display only.

    Returns (*group_cols, n_exact BIGINT, regs_used INT, zero_regs INT,
    hll_est DOUBLE round 4)."""
    hx = F.md5(key.cast("string"))
    reg = F.conv(F.substring(hx, 1, 2), 16, 10).cast("int")
    v = F.conv(F.substring(hx, 3, 13), 16, 10).cast("long")
    rank = (F.when(v == 0, F.lit(53))
            .otherwise(F.lit(53) - F.length(F.bin(v)))).cast("int")
    regs = (df.select(*group_cols, reg.alias("_reg"), rank.alias("_rk"))
            .groupBy(*group_cols, "_reg").agg(F.max("_rk").alias("_mj")))
    per_g = (regs.groupBy(*group_cols)
             .agg(F.count("*").cast("int").alias("regs_used"),
                  F.sum(F.expr("shiftleft(1L, 53 - _mj)"))
                  .cast("long").alias("_s_used")))
    zero_regs = (F.lit(_HLL_M) - F.col("regs_used")).cast("int")
    s_total = (F.col("_s_used")
               + zero_regs.cast("long") * F.lit(1 << 53).cast("long"))
    est = F.round(F.lit(_HLL_NUMER) / s_total.cast("double"), 4)
    exact = (df.groupBy(*group_cols)
             .agg(F.countDistinct(key).cast("long").alias("n_exact")))
    return (exact.join(per_g, group_cols)
            .select(*group_cols, "n_exact", "regs_used",
                    zero_regs.alias("zero_regs"), est.alias("hll_est")))


def theta_set_ops(a: DataFrame, b: DataFrame, key: Column,
                  k: int = 64) -> DataFrame:
    """Theta-sketch set operations (Dasgupta et al. 2016, the KMV/ks1
    extension): estimate |A∪B|, |A∩B|, |A\\B| between two key sets from
    their k-minimum-hash samples WITHOUT joining the raw sets — the
    10^10-scale answer to 'how many users overlap between these two
    slices'. theta = min(theta_A, theta_B) where theta_S is the k-th
    smallest 32-bit hash of S (2^32 when |S| < k, i.e. exact); every
    retained hash < theta is a uniform sample of its set, so
    |X| ≈ |{h ∈ X : h < theta}| * 2^32 / theta — and because BOTH sides
    are filtered by the SAME theta, intersection/difference are plain
    set algebra over the two ≤k-element samples.

    Exact distinct counts and exact intersection ride along (cheap at
    fixture scale) so the estimation error is visible next to the truth;
    at the design point you drop them — they are the join the sketch
    exists to avoid.

    Scale shape: each side is one partial-agged distinct + the k-th order
    statistic (window over DISTINCT hashes here — the reference
    semantics; per-partition partial k-minima folded by a second tiny agg
    at 10^10 keys, same algebra); the retained samples are ≤k rows each,
    so the set algebra is two broadcast-joined tiny tables. The raw sets
    are never joined."""
    hb = F.conv(F.substring(F.md5(key.cast("string")), 1, 8), 16, 10) \
          .cast("long")
    two32 = 4294967296.0

    def side(df, name):
        d = df.select(hb.alias("h")).distinct()
        w = Window.orderBy("h")
        r = d.withColumn("rk", F.row_number().over(w))
        th = r.agg(
            F.coalesce(F.max(F.when(F.col("rk") == k, F.col("h"))),
                       F.lit(int(two32))).alias(f"theta_{name}"),
            F.count("*").cast("long").alias(f"n_{name}_exact"))
        return r.select("h"), th

    ra, tha = side(a, "a")
    rb, thb = side(b, "b")
    th = (tha.crossJoin(thb)
          .select("n_a_exact", "n_b_exact",
                  F.least("theta_a", "theta_b").alias("theta")))
    sa = ra.crossJoin(F.broadcast(th.select("theta"))) \
           .where(F.col("h") < F.col("theta")).select("h")
    sb = rb.crossJoin(F.broadcast(th.select("theta"))) \
           .where(F.col("h") < F.col("theta")).select("h")
    flags = (sa.withColumn("in_a", F.lit(1))
             .join(sb.withColumn("in_b", F.lit(1)), "h", "full_outer")
             .select(F.coalesce("in_a", F.lit(0)).alias("in_a"),
                     F.coalesce("in_b", F.lit(0)).alias("in_b")))
    counts = flags.agg(
        F.sum(F.greatest("in_a", "in_b")).cast("long").alias("s_union"),
        F.sum(F.least("in_a", "in_b")).cast("long").alias("s_inter"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("long")
         .alias("s_diff"))
    inter_exact = (a.select(hb.alias("h")).distinct()
                   .join(b.select(hb.alias("h")).distinct(), "h", "left_semi")
                   .agg(F.count("*").cast("long").alias("inter_exact")))
    scale = F.lit(two32) / F.col("theta")
    return (th.crossJoin(F.broadcast(counts))
            .crossJoin(F.broadcast(inter_exact))
            .select("n_a_exact", "n_b_exact", "inter_exact",
                    F.round(F.col("s_union") * scale, 4).alias("union_est"),
                    F.round(F.col("s_inter") * scale, 4).alias("inter_est"),
                    F.round(F.col("s_diff") * scale, 4).alias("diff_est")))


def bloom_membership(keys: DataFrame, candidates: DataFrame,
                     key_col: str = "key", m: int = 1024,
                     k: int = 4) -> DataFrame:
    """Bloom-filter membership semantics under the cross-engine gate: the
    exact maybe-in-set answer (false positives and all) a k-hash, m-bit
    Bloom filter built from `keys` gives for every candidate.

    This is the oracle-checkable twin of the engine's URL-seen prefilter
    (operators/dedup.build_bloom_parts / bloom_maybe_col — reference:
    scan.rs delegates the seen set to the spider crate; SURVEY.md A5):
    the production path packs bits into per-partition numpy bitsets with
    splitmix64, which no other engine reproduces bit-for-bit. Here the
    bit positions come from the repo's content-stable md5 family —
    pos_j(key) = int(md5(j || ':' || key)[:8], 16) mod m, j < k — so
    DuckDB computes the identical filter, and the FALSE POSITIVES
    THEMSELVES (the defining Bloom behavior) sit under the hash gate,
    not just happy-path membership.

    Output: candidates + (maybe_seen INT, false_positive INT) where
    maybe_seen = all k positions set by the key set, false_positive =
    maybe_seen on a candidate whose key is truly absent.

    Scale shape: the built filter is exactly `bits` (<= m distinct
    positions, a few KB) — broadcast to the probe side like the
    production bitset broadcast; probing explodes each candidate to k
    (candidate, pos) rows, broadcast-joins, and map-side-combines the
    per-candidate match count. One shuffle on the candidate key; the
    key-set side is one distinct at key cardinality. m/k here are demo-
    sized; the 10^10 design point uses the partitioned-bitset engine
    path (A5) — same algebra, denser encoding."""
    def positions(col):
        return _bloom_positions(col, m, k)
    bits = (keys.select(F.explode(F.array(*positions(F.col(key_col))))
                        .alias("pos"))
            .distinct())
    truly = keys.select(F.col(key_col).alias("_k")).distinct() \
                .withColumn("_in", F.lit(1))
    probe = (candidates
             .withColumn("_pos", F.explode(F.array(*positions(
                 F.col(key_col)))))
             .join(F.broadcast(bits.withColumnRenamed("pos", "_pos")
                               .withColumn("_hit", F.lit(1))),
                   "_pos", "left")
             .groupBy(candidates.columns)
             .agg((F.sum(F.coalesce("_hit", F.lit(0))) == k).cast("int")
                  .alias("maybe_seen")))
    return (probe.join(F.broadcast(truly),
                       probe[key_col] == truly["_k"], "left")
            .select(*candidates.columns, "maybe_seen",
                    (F.col("maybe_seen").cast("boolean")
                     & F.col("_in").isNull()).cast("int")
                    .alias("false_positive")))


def bloom_membership_oracle_sql(keys_sql: str, candidates_sql: str,
                                m: int = 1024, k: int = 4) -> str:
    """DuckDB twin of `bloom_membership`. `keys_sql` / `candidates_sql`
    must yield a `key` column (candidates may carry extra columns, which
    pass through)."""
    pos = " UNION ALL ".join(
        f"SELECT ('0x' || substr(md5('{j}:' || key), 1, 8))::BIGINT % {m} "
        f"AS pos, key FROM src" for j in range(k))
    return f"""
WITH ks AS ({keys_sql}),
cand AS ({candidates_sql}),
bits AS (SELECT DISTINCT pos FROM
         (WITH src AS (SELECT key FROM ks) {pos})),
probe AS (WITH src AS (SELECT key FROM cand) {pos}),
hits AS (SELECT p.key,
                CAST(count(b.pos) = {k} AS INT) AS maybe_seen
         FROM probe p LEFT JOIN bits b USING (pos) GROUP BY p.key)
SELECT cand.*, h.maybe_seen,
       CAST(h.maybe_seen = 1 AND t.key IS NULL AS INT) AS false_positive
FROM cand JOIN hits h USING (key)
LEFT JOIN (SELECT DISTINCT key FROM ks) t USING (key)
"""


def heavy_hitters(df: DataFrame, key_col: str, k: int = 200) -> DataFrame:
    """Two-pass distributed frequent-items (the Misra-Gries 1982 /
    space-saving family): ALL keys whose exact count strictly exceeds
    n/k, found without ever shuffling the full corpus by key.

    Pass 1 (candidates, map-side only): each Arrow batch emits its LOCAL
    heavy hitters — keys with batch count * k > batch size. Soundness is
    the MG covering argument: if a key's count <= m_b/k in EVERY batch b,
    its total is <= sum(m_b)/k = n/k; so every GLOBAL heavy hitter is a
    local one somewhere, and each batch emits < k rows. Pass 2 joins the
    tiny candidate set back (broadcast semi-join) and counts exactly, so
    the only by-key shuffle carries candidate rows. The final strict
    `count * k > n` filter makes the OUTPUT batching-invariant and equal
    to the exact answer — false candidates are culled, true hitters are
    guaranteed present — which is what lets it sit under the cross-engine
    hash gate while the candidate pass stays a bounded-memory sketch.

    Output: (key_col, n_occ BIGINT). Scale: pass-1 shuffle volume is
    O(parts * k), pass-2 is candidate-row-bounded, n is one map-side
    partial count broadcast as a one-row dim.

    NULL keys are excluded up front (a NULL candidate could never
    survive the equi-semi-join, so silently counting NULL rows into n
    while never reporting a NULL hitter would skew the n/k threshold —
    count NULLs separately if they matter). The candidate schema is the
    key column's own dtype, so non-string keys (bigint ids) round-trip
    Arrow without a string coercion."""
    import pandas as pd

    def _cands(batches):
        for pdf in batches:
            m = len(pdf)
            if m == 0:
                continue
            vc = pdf[key_col].value_counts()
            yield pd.DataFrame({key_col: vc.index[vc * k > m]})

    key_dt = df.schema[key_col].dataType.simpleString()
    src = df.select(key_col).where(F.col(key_col).isNotNull())
    cand = src.mapInPandas(_cands, f"{key_col} {key_dt}").distinct()
    n = src.agg(F.count(F.lit(1)).alias("_n"))
    return (src.join(F.broadcast(cand), key_col, "left_semi")
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .crossJoin(F.broadcast(n))
            .where(F.col("n_occ") * k > F.col("_n"))
            .select(key_col, F.col("n_occ").cast("long").alias("n_occ")))


def decayed_counts(df: DataFrame, key_col: str, ts_col: str,
                   half_life_s: int = 3600,
                   cap_buckets: int = 32) -> DataFrame:
    """Exponentially time-decayed frequency per key — the recency-
    weighted counter behind trending-host detection and frontier
    priority decay: each event contributes 2^-age_buckets where
    age_buckets = (t_frontier - t) div half_life_s, capped.

    The decay base is DELIBERATELY 2 with an INTEGER bucket exponent:
    every term is a dyadic rational >= 2^-cap and the running sum stays
    exactly representable in a double (needs cap + log2(n) <= 53
    mantissa bits), so the aggregate is EXACT, order-independent, and
    bit-stable cross-engine — no libm pow, no summation-order hazard,
    the same trick as the hll/ewma twins but with zero rounding debt.

    Output: (key, n BIGINT, decayed DOUBLE round 6). Scale shape: one
    map-side weight column + ONE partial-agged keyed rollup; the
    frontier timestamp is a one-row broadcast."""
    w = F.unix_timestamp(F.col(ts_col)).cast("long")
    mx = df.agg(F.max(w).alias("_mx"))
    k = F.least(F.expr(f"div(_mx - _w, {half_life_s})"),
                F.lit(cap_buckets)).cast("int")
    weight = F.lit(1.0) / F.expr(
        "cast(shiftleft(1L, _k) as double)")
    return (df.select(key_col, w.alias("_w"))
            .crossJoin(F.broadcast(mx))
            .withColumn("_k", k)
            .withColumn("_wt", weight)
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.round(F.sum("_wt"), 6).alias("decayed")))


def ams_f2(df: DataFrame, key: Column, n_est: int = 16,
           n_groups: int = 4) -> DataFrame:
    """AMS tug-of-war sketch (Alon-Matias-Szegedy 1996) for the second
    frequency moment F2 = Σ_k count(k)² — the self-join-size estimate a
    query optimizer wants before planning a join on `key`, and the skew
    statistic (F2/n² -> 1 means one key dominates). One row out:
    (true_f2 BIGINT, est_f2, rel_err).

    Estimator: for each of `n_est` independent sign hashes s_r(k) ∈ ±1,
    X_r = Σ_rows s_r(key) and E[X_r²] = F2; variance is tamed by
    median-of-means over `n_groups` groups of m = n_est/n_groups.

    Hash-gate discipline: signs come from md5(key || '|' || r) first-hex-
    char parity (content-stable, cross-engine); each X_r is an exact
    BIGINT so X_r² and the group sums are exact; with n_groups even the
    median is (l[g/2] + l[g/2+1]) of the sorted group sums — kept as an
    integer numerator down to ONE division by 2m, then round(4).

    Scale shape (100 TB): the n_est sign columns are map-side
    projections folded by ONE partial agg to a single row — the sketch
    never shuffles the data and never calls distinct(); the exact-F2
    twin (one groupBy) is the expensive path the sketch replaces, kept
    here as the accuracy audit (the dd14/an5 pattern). Sketch rows from
    disjoint splits merge by summing X_r — the mergeable algebra that
    makes it a streaming/partitioned-scan citizen."""
    if n_est % n_groups:
        raise ValueError("n_est must be divisible by n_groups")
    if n_groups % 2:
        # the median-of-means below averages elements g//2 and g//2+1,
        # which is a median only for EVEN group counts — enforce the
        # documented contract instead of silently averaging a wrong pair.
        raise ValueError("n_groups must be even")
    m = n_est // n_groups
    key_s = key.cast("string")
    signs = [F.when(F.substring(F.md5(F.concat(key_s, F.lit(f"|{r}"))),
                                1, 1).isin(*"02468ace"),
                    F.lit(1)).otherwise(F.lit(-1)).alias(f"_s{r}")
             for r in range(n_est)]
    xs = (df.select(*signs)
          .agg(*[F.sum(f"_s{r}").alias(f"_x{r}") for r in range(n_est)]))
    grp = [sum(F.col(f"_x{g * m + j}") * F.col(f"_x{g * m + j}")
               for j in range(m)).alias(f"_g{g}")
           for g in range(n_groups)]
    sl = xs.select(F.array_sort(F.array(*grp)).alias("_l"))
    med_num = (F.element_at("_l", n_groups // 2)
               + F.element_at("_l", n_groups // 2 + 1))
    est = sl.select((med_num / F.lit(2.0 * m)).alias("_est"))
    exact = (df.select(key_s.alias("_k"))
             .groupBy("_k").agg(F.count(F.lit(1)).alias("_c"))
             .agg(F.sum(F.col("_c") * F.col("_c")).alias("true_f2")))
    return (exact.crossJoin(F.broadcast(est))
            .select(F.col("true_f2").cast("long").alias("true_f2"),
                    F.round("_est", 4).alias("est_f2"),
                    F.round(F.abs(F.col("_est") - F.col("true_f2"))
                            / F.col("true_f2"), 4).alias("rel_err")))


def _bloom_positions(col: Column, m: int, k: int) -> list[Column]:
    """The ks6 content-stable bit-position family: pos_j(key) =
    int(md5(j || ':' || key)[:8], 16) mod m — shared by build and probe
    (and by any SQL twin) so both sides address identical bits."""
    return [
        (F.conv(F.substring(
            F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 8), 16, 10)
         .cast("long") % m).alias("pos")
        for j in range(k)]


def bloom_fpr_audit(keys: DataFrame, candidates: DataFrame,
                    key_col: str = "key", m: int = 1024,
                    k: int = 4) -> DataFrame:
    """Bloom-filter false-positive-rate calibration: build the (m, k)
    filter from `keys`, probe it with the truly-ABSENT subset of
    `candidates`, and report measured FPR next to the analytic
    prediction (1 - (1 - 1/m)^(k·n))^k — the capacity-planning check
    run before sizing the URL-seen prefilter (A5): a measured FPR far
    above theory means the hash family is correlated or the filter is
    over-full, and the anti-join stage downstream pays for every false
    positive with a shuffled lookup. One row out: (n_keys, n_bits_set,
    n_absent, n_false_pos, fpr_measured, fpr_theory).

    Scale shape: filter build is one distinct at <= m rows (broadcast);
    the probe explodes candidates to k rows and broadcast-joins the bit
    set; absent-set derivation is one anti-join; everything rolls up to
    scalars. The only floats are the two output rates (one division,
    one closed-form pow), round(4) both engines."""
    kd = keys.select(F.col(key_col)).distinct()
    bits = (kd.select(F.explode(F.array(
        *_bloom_positions(F.col(key_col), m, k))).alias("pos"))
        .distinct())
    absent = (candidates.select(F.col(key_col)).distinct()
              .join(kd, key_col, "left_anti"))
    probe = (absent
             .withColumn("_pos", F.explode(F.array(
                 *_bloom_positions(F.col(key_col), m, k))))
             .join(F.broadcast(bits.withColumnRenamed("pos", "_pos")
                               .withColumn("_hit", F.lit(1))),
                   "_pos", "left")
             .groupBy(key_col)
             .agg((F.sum(F.coalesce("_hit", F.lit(0))) == k).cast("int")
                  .alias("_fp")))
    stats = probe.agg(F.count(F.lit(1)).cast("long").alias("n_absent"),
                      F.sum("_fp").cast("long").alias("n_false_pos"))
    nk = kd.agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    nb = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    theory = F.pow(1.0 - F.pow(F.lit(1.0 - 1.0 / m),
                               F.lit(float(k)) * F.col("n_keys")), k)
    return (nk.crossJoin(F.broadcast(nb)).crossJoin(F.broadcast(stats))
            .select("n_keys", "n_bits_set", "n_absent", "n_false_pos",
                    F.round(F.col("n_false_pos") / F.col("n_absent"), 4)
                    .alias("fpr_measured"),
                    F.round(theory, 4).alias("fpr_theory")))
