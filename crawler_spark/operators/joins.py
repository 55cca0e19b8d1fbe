"""Temporal/interval join operators Spark's optimizer has no native form
for: as-of join (j6), banded range join (j7), and per-key time-window
correlation join (j8).

These are the canonical crawl-metadata joins:

* as-of — attach the policy/config/robots version that was IN FORCE when
  each fetch happened (most recent dim version with valid_from <= t).
  Naive SQL is a correlated top-1-per-row; Spark's join operators can
  only express it as an inequality join (BroadcastNestedLoop) plus a
  window — O(n·m) pairs. The union-and-window formulation here is O(n+m)
  with ONE shuffle and no join node at all.
* range join — attach every [lo, hi) band a value falls in (rate tiers,
  size classes, IP ranges). A plain inequality join is a cartesian; the
  bucket-expansion trick turns it into an equi-join on floor(val/width)
  with a residual filter — the standard banded range-join rewrite (the
  optimization Databricks' range-join hints and DuckDB's IEJoin serve).

Both have exact ANSI twins the driver gates (DuckDB ASOF JOIN / an
inequality join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(left: DataFrame, right: DataFrame, on: str | list[str],
              left_ts: str, right_ts: str) -> DataFrame:
    """Left as-of join: every `left` row gains the `right` row's payload
    columns from the most recent `right_ts` <= `left_ts` within its key
    group (ties at equal timestamps match, i.e. `>=` semantics); left rows
    before any version keep nulls. `right_ts` itself is emitted as the
    matched version timestamp.

    Union-and-window: tag both sides, union by key, sort each key group by
    (t, side) with right rows first at equal t, and forward-fill the right
    payload with last(ignorenulls). Requires (on, right_ts) unique in
    `right` (assert-checked semantics: the latest fill wins regardless).

    Scale shape: ONE hash-partition exchange on the key (the window), no
    join operator, no pair blow-up — both inputs stream through in key
    order. Skewed keys shard exactly like any window; at 10^10 events the
    dim side is negligible and the sort is the per-key event sort the
    pipeline usually already has.
    """
    keys = [on] if isinstance(on, str) else list(on)
    rvals = [c for c in right.columns if c not in (*keys, right_ts)]
    lonly = [c for c in left.columns if c not in keys]
    l2 = left.select(
        *keys, *lonly, F.col(left_ts).alias("_t"), F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c)
          for c in rvals],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_vt"))
    r2 = right.select(
        *keys,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lonly],
        F.col(right_ts).alias("_t"), F.lit(0).alias("_side"),
        *rvals, F.col(right_ts).alias("_vt"))
    w = (Window.partitionBy(*keys).orderBy("_t", "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = l2.unionByName(r2).select(
        *keys, *lonly, "_side",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in rvals],
        F.last("_vt", ignorenulls=True).over(w).alias(right_ts))
    return filled.where(F.col("_side") == 1).drop("_side")


def nearest_join(left: DataFrame, right: DataFrame, on: str | list[str],
                 left_ts: str, right_ts: str) -> DataFrame:
    """Nearest-in-time join: every `left` row gains the `right` row whose
    timestamp is CLOSEST in absolute distance within the key group —
    backward or forward — with ties at equal distance going to the
    BACKWARD (earlier) match, and the matched `right_ts` emitted. The
    as-of join (j6) answers "state as of t"; this answers "closest
    observation to t" — the sensor-alignment/nearest-snapshot semantics
    pandas.merge_asof(direction='nearest') serves single-node.

    Built as TWO passes of the union-and-window idiom (asof_join's
    shape): a backward fill (last right row with t' <= t) and a forward
    fill (first right row with t' >= t, via the mirrored window), then a
    map-side pick of the nearer candidate. Scale shape: two
    hash-partition exchanges on the key, no join operator, no pair
    blow-up — still O(events) rows end-to-end, never the |l|x|r|
    inequality nested-loop."""
    keys = [on] if isinstance(on, str) else list(on)
    rvals = [c for c in right.columns if c not in (*keys, right_ts)]
    # left_ts is re-emitted from _t at the end, so it must NOT ride along
    # in the passthrough set (that aliasing collision is an ambiguous-
    # reference analysis error)
    lonly = [c for c in left.columns if c not in keys and c != left_ts]
    l2 = left.select(
        *keys, *lonly, F.col(left_ts).alias("_t"), F.lit(1).alias("_side"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(c)
          for c in rvals],
        F.lit(None).cast(right.schema[right_ts].dataType).alias("_vt"))
    r2 = right.select(
        *keys,
        *[F.lit(None).cast(left.schema[c].dataType).alias(c)
          for c in lonly],
        F.col(right_ts).alias("_t"), F.lit(0).alias("_side"),
        *rvals, F.col(right_ts).alias("_vt"))
    u = l2.unionByName(r2)
    wb = (Window.partitionBy(*keys).orderBy("_t", "_side")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wf = (Window.partitionBy(*keys).orderBy(F.desc("_t"), F.desc("_side"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    both = u.select(
        *keys, *lonly, "_side", "_t",
        *[F.last(c, ignorenulls=True).over(wb).alias(f"_b_{c}")
          for c in rvals],
        F.last("_vt", ignorenulls=True).over(wb).alias("_bt"),
        *[F.last(c, ignorenulls=True).over(wf).alias(f"_f_{c}")
          for c in rvals],
        F.last("_vt", ignorenulls=True).over(wf).alias("_ft"))
    db = F.col("_t") - F.col("_bt")
    df_ = F.col("_ft") - F.col("_t")
    use_b = F.col("_ft").isNull() | (F.col("_bt").isNotNull() & (db <= df_))
    out = both.where(F.col("_side") == 1).select(
        *keys, *lonly, F.col("_t").alias(left_ts),
        *[F.when(use_b, F.col(f"_b_{c}")).otherwise(F.col(f"_f_{c}"))
          .alias(c) for c in rvals],
        F.when(use_b, F.col("_bt")).otherwise(F.col("_ft"))
         .alias(right_ts))
    return out


def range_join(facts: DataFrame, bands: DataFrame, val_col: str,
               lo_col: str, hi_col: str, bucket_width: float,
               broadcast_bands: bool = True) -> DataFrame:
    """Interval join: every (fact, band) pair with
    lo <= val < hi (half-open), WITHOUT a cartesian/nested-loop plan.

    Each band row is exploded to the integer buckets its interval covers
    (floor(lo/w) .. ceil(hi/w)-1 — the last bucket any value < hi can
    occupy), facts compute their single bucket map-side, and the match is
    an EQUI-join on bucket plus the exact residual predicate. Empty bands
    (hi <= lo) are dropped before the sequence guard against Spark's
    descending-sequence surprise.

    Cost: |bands| × (interval/width) expanded rows — pick `bucket_width`
    near the median band width so expansion stays O(|bands|). With
    `broadcast_bands` (the 100-TB default: band dims are small) facts
    never shuffle; otherwise it is one exchange per side on bucket.
    """
    wdt = float(bucket_width)
    b = (bands.where(F.col(hi_col) > F.col(lo_col))
         .withColumn("_bkt", F.explode(F.sequence(
             F.floor(F.col(lo_col) / wdt).cast("long"),
             (F.ceil(F.col(hi_col) / wdt) - 1).cast("long")))))
    if broadcast_bands:
        b = F.broadcast(b)
    f = facts.withColumn("_bkt", F.floor(F.col(val_col) / wdt).cast("long"))
    return (f.join(b, "_bkt")
            .where((F.col(val_col) >= F.col(lo_col))
                   & (F.col(val_col) < F.col(hi_col)))
            .drop("_bkt"))


def time_window_join(left: DataFrame, right: DataFrame, on: str | list[str],
                     left_ts: str, right_ts: str,
                     lag_max: float) -> DataFrame:
    """Per-key temporal correlation join: every (left, right) pair sharing
    the key with 0 <= left_ts - right_ts < lag_max — "which right events
    immediately preceded this left event". The streaming stream-stream
    join's batch twin, and per-key the same trap as j7: a plain inequality
    join is a per-key cartesian (quadratic on hot keys).

    Bucketization: with bucket width = lag_max, a qualifying pair's
    buckets differ by 0 or 1, so the right side is exploded to
    {b, b+1} and the match becomes an EQUI-join on (key, bucket) plus the
    exact residual predicate; each pair matches in exactly one bucket
    variant (no dedup needed). Cost: 2x right rows shuffled, pairs
    generated only within lag-adjacent buckets — O(matches), not
    O(per-key n²).
    """
    keys = [on] if isinstance(on, str) else list(on)
    w = float(lag_max)
    r = right.withColumn("_bkt", F.explode(F.array(
        F.floor(F.col(right_ts) / w).cast("long"),
        (F.floor(F.col(right_ts) / w) + 1).cast("long"))))
    l2 = left.withColumn("_bkt", F.floor(F.col(left_ts) / w).cast("long"))
    return (l2.join(r, [*keys, "_bkt"])
            .where((F.col(left_ts) >= F.col(right_ts))
                   & (F.col(left_ts) - F.col(right_ts) < w))
            .drop("_bkt"))


def scd2_intervals(changes: DataFrame, key_col: str, attr_col: str,
                   ts_col: str, tie_col: str) -> DataFrame:
    """Slowly-changing-dimension type-2 materialization of a changelog:
    collapse each key's attribute stream into validity intervals
    [valid_from, valid_to) with a version counter and a current flag —
    how the crawl store keeps per-host policy history (robots version,
    politeness tier, assigned UA) queryable AS OF any fetch time (the
    table asof_join consumes on its `right` side), and how a training
    pipeline snapshots mutable upstream metadata without losing lineage.

    Semantics (the Kimball SCD2 contract): rows are ordered per key by
    (ts, tie); consecutive rows with an UNCHANGED attribute are absorbed
    into the open interval (only transitions create versions); each
    version's valid_to is the next version's valid_from; the last
    version is open (valid_to null, is_current = 1).

    Scale shape: ONE shuffle on the key; two narrow windows over it
    (the change-detection lag and the interval-closing lead run on the
    same partitioning — Catalyst plans a single Exchange + Sort and
    reuses it, no second shuffle); output cardinality is the number of
    transitions, not the changelog size.
    """
    w = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    ch = (changes
          .withColumn("_prev", F.lag(attr_col).over(w))
          .where(F.col("_prev").isNull()
                 | (F.col("_prev") != F.col(attr_col))))
    w2 = Window.partitionBy(key_col).orderBy(ts_col, tie_col)
    return (ch.select(
        F.col(key_col), F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.row_number().over(w2).cast("int").alias("version"))
        .withColumn("is_current",
                    F.col("valid_to").isNull().cast("int")))


def interval_overlap_join(left: DataFrame, right: DataFrame,
                          on: str | list[str],
                          left_lo: str = "lo_a", left_hi: str = "hi_a",
                          right_lo: str = "lo_b", right_hi: str = "hi_b",
                          bucket_width: float = 3600.0) -> DataFrame:
    """Interval-INTERVAL overlap join: every (left, right) pair sharing a
    key whose half-open intervals intersect (lo_a < hi_b AND lo_b <
    hi_a) — the log-correlation primitive (which fetch sessions ran
    inside which outage window; which politeness throttle overlapped
    which latency spike) that j7's point-in-band join cannot express.

    Same bucket-expansion rewrite as range_join, applied to BOTH sides:
    each interval explodes to the integer buckets it covers, candidates
    equi-join on (key, bucket), and the exact overlap predicate
    re-verifies. A pair overlapping across k shared buckets would match
    k times, so the candidate join keeps the pair iff the shared bucket
    is the FIRST bucket both cover (greatest(lo_bkt_a, lo_bkt_b)) —
    each true pair survives exactly once with no distinct pass at all.

    Cost: O(rows × interval/width) expanded candidates on each side —
    pick bucket_width near the median interval. One equi-shuffle per
    side on (key, bucket); never a cartesian or an inequality
    nested-loop. Long-tail intervals expand linearly; cap upstream if a
    pathological source emits year-long intervals.
    """
    keys = [on] if isinstance(on, str) else list(on)
    wdt = float(bucket_width)

    def explode_side(d: DataFrame, lo: str, hi: str) -> DataFrame:
        lo_b = F.floor(F.col(lo) / wdt).cast("long")
        hi_b = (F.ceil(F.col(hi) / wdt) - 1).cast("long")
        return (d.where(F.col(hi) > F.col(lo))
                .withColumn("_lob", lo_b)
                .withColumn("_bkt",
                            F.explode(F.sequence(lo_b,
                                                 F.greatest(hi_b, lo_b)))))

    a = explode_side(left, left_lo, left_hi) \
        .withColumnRenamed("_lob", "_lob_a")
    b = explode_side(right, right_lo, right_hi) \
        .withColumnRenamed("_lob", "_lob_b")
    j = a.join(b, keys + ["_bkt"])
    return (j.where((F.col(left_lo) < F.col(right_hi))
                    & (F.col(right_lo) < F.col(left_hi))
                    & (F.col("_bkt")
                       == F.greatest("_lob_a", "_lob_b")))
            .drop("_bkt", "_lob_a", "_lob_b"))


def bloom_prune_join(fact: DataFrame, dim: DataFrame, key_col: str,
                     m: int = 4096, k: int = 4) -> DataFrame:
    """Bloom-pruned join: build a k-hash, m-bit Bloom filter over the
    dim side's keys, drop fact rows MAP-SIDE whose key cannot be in the
    dim (all k bits must be set), and only then join — the runtime
    row-level filtering Spark 3.3's bloom-join rewrite injects for
    shuffle joins, expressed explicitly so the prune also guards
    aggregations placed BEFORE the join. At 10^10 fact rows against a
    10^5-key dim, the shuffle after the prune carries ~|dim| + fp-rate
    x |fact| rows instead of |fact| — the prune, not the join strategy,
    is what bounds the wire volume.

    Returns the pruned fact rows with `maybe INT` (always 1 — the rows
    a packed-bitmask test admitted, true matches plus Bloom false
    positives); callers finish with the exact join, which silently
    drops the FPs (the safety argument: pruning is sound because a
    Bloom filter has no false NEGATIVES).

    Mechanics: dim keys hash to k md5 positions (the ks6/sketches
    bit-position family, so DuckDB reproduces the filter exactly); the
    <= m distinct positions collapse to m/64 packed BIGINT words ON THE
    EXECUTORS (bit_or partial agg), and only the m/64-word mask rides
    to the driver (constant-bounded, like the production A5 bitset
    broadcast). Probing is pure codegen bit algebra per fact row —
    shiftright(word[pos/64], pos%64) & 1 — zero shuffle, zero Python,
    no per-row explode."""
    def positions(col):
        return [(F.conv(F.substring(
                    F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 8), 16, 10)
                 .cast("long") % m)
                for j in range(k)]

    n_words = m // 64
    # NULL dim keys hash to NULL positions and would surface as a w=None
    # row in the collected mask (a plan-build crash); they can never
    # equi-join a fact row anyway, so drop them before hashing. NULL fact
    # keys self-resolve: their probe predicate is NULL -> filtered.
    dim = dim.where(F.col(key_col).isNotNull())
    words = (dim.select(F.explode(F.array(*positions(F.col(key_col))))
                        .alias("pos"))
             .select((F.col("pos") / 64).cast("int").alias("w"),
                     F.expr("shiftleft(1L, cast(pos % 64 as int))")
                      .alias("bit"))
             .groupBy("w").agg(F.bit_or("bit").alias("word"))
             .collect())
    mask = [0] * n_words
    for r in words:
        mask[r["w"]] = r["word"]
    mask_col = F.array(*[F.lit(int(v)).cast("long") for v in mask])
    # shiftright's shift amount must be a literal in the DataFrame API;
    # name the positions + mask as columns and test via SQL expr
    probed = fact.withColumns(
        {f"_bp{j}": p for j, p in enumerate(positions(F.col(key_col)))}
    ).withColumn("_mask", mask_col)
    pred = None
    for j in range(k):
        t = F.expr(
            f"(shiftright(element_at(_mask, cast(_bp{j} / 64 as int) + 1),"
            f" cast(_bp{j} % 64 as int)) % 2) != 0")
        pred = t if pred is None else pred & t
    return (probed.where(pred)
            .drop("_mask", *[f"_bp{j}" for j in range(k)])
            .withColumn("maybe", F.lit(1)))


def changelog_merge(base: DataFrame, changes: DataFrame, key_col: str,
                    val_col: str, ver_col: str,
                    op_col: str) -> DataFrame:
    """CDC apply / MERGE INTO semantics over a snapshot: `changes` rows
    are (key, op 'u'|'d', val, version); per key the LATEST version
    wins (version desc, ties broken op-ascending so a delete beats an
    upsert at the same version — the conservative lakehouse rule). A
    winning 'u' upserts (update or insert), a winning 'd' deletes, keys
    without changes pass through. This is the maintenance primitive the
    snapshot store (plans/tableio) runs between crawl epochs when an
    external system feeds corrections — rc3's diff is its read twin.

    Output: the (key_col, val_col, src) PROJECTION — src
    ('base'|'upsert') marks provenance; other base columns are dropped
    (an inserted key has no values for them — callers with a wider
    snapshot re-join the result on key_col to recover passthrough
    columns, NULL for inserts).

    Scale shape: ONE changelog-cardinality shuffle for the
    latest-version window (keyed by the merge key, never global), then
    ONE key equi-join base⋈delta; a base stored bucketed on the key
    would not re-shuffle its 10^10 rows (Spark bucketed tables). No
    driver state, no Python."""
    w = Window.partitionBy(key_col).orderBy(F.desc(ver_col),
                                            F.col(op_col))
    latest = (changes.withColumn("_rn", F.row_number().over(w))
              .where(F.col("_rn") == 1)
              .select(key_col, F.col(op_col).alias("_op"),
                      F.col(val_col).alias("_nv")))
    j = base.join(latest, key_col, "full_outer")
    return (j.where(F.col("_op").isNull() | (F.col("_op") == "u"))
            .select(key_col,
                    F.when(F.col("_op") == "u", F.col("_nv"))
                     .otherwise(F.col(val_col)).alias(val_col),
                    F.when(F.col("_op") == "u", F.lit("upsert"))
                     .otherwise(F.lit("base")).alias("src")))
