"""Per-host politeness token buckets (SURVEY.md §2.6 W2, north_rule O1).

The reference throttles via `delay` ms between same-host requests
(proto/crawler.proto:26; enforced inside spider's crawl loop). In the wave
model each wave is a nominal `spec.wave_ms` time slice; a host accrues
``spec.tokens_for(crawl_delay)`` tokens per wave (capped) and spends one per
fetch. Token state lives in the `hosts` table, so it survives checkpoints.

Selection is one path: ``select_batch_salted`` — a (host, salt) window
pre-prune (the J5 skew guard: a Zipf head host's pending set splits over
``SKEW_SALT`` uniform groups, each keeping only its top-``floor(tokens)``
rows) followed by a per-host window rank over the bounded survivors, flagging
the first ``floor(tokens)`` by (priority, depth, url_canon). No Python runs.
Token *spend* is applied afterwards from the final selection counts, because
the global page budget (W3) may truncate after per-host selection; the
oracle (tests/oracle.py) spends identically.

``select_batch`` (the grouped-map ``groupBy(host).applyInPandas`` token
bucket) stays only as the reference that tests/test_politeness.py and
tests/test_skew.py prove the window rank and the salted selection equal to.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql.types import StructField, StructType, BooleanType


def refill_tokens(pending: DataFrame, hosts: DataFrame | None,
                  robots: DataFrame | None, spec) -> DataFrame:
    """hosts with pending URLs this wave -> (host, tokens) after refill.

    refill = tokens_for(crawl_delay) — see CrawlJobSpec.tokens_for; all
    arithmetic native (codegen), tiny output (one row per active host).
    """
    active = pending.select("host").distinct()
    if hosts is not None:
        active = active.join(hosts.select("host", "tokens"), "host", "left_outer")
    else:
        active = active.withColumn("tokens", F.lit(None).cast("double"))
    if robots is not None and spec.respect_robots_txt:
        active = active.join(
            F.broadcast(robots.select("host", "crawl_delay_ms")), "host", "left_outer")
    else:
        active = active.withColumn("crawl_delay_ms", F.lit(0).cast("long"))
    delay = F.greatest(F.lit(int(spec.delay_ms)).cast("long"),
                       F.coalesce(F.col("crawl_delay_ms"), F.lit(0)).cast("long"))
    refill = F.when(delay <= 0, F.lit(float(spec.per_host_tokens))).otherwise(
        F.greatest(F.lit(1.0), F.least(
            F.lit(float(spec.per_host_tokens)),
            F.floor(F.lit(float(spec.wave_ms)) / delay).cast("double"))))
    return active.select(
        "host",
        F.least(F.lit(float(spec.token_cap)),
                F.coalesce(F.col("tokens"), F.lit(0.0)) + refill).alias("tokens"),
    )


def select_batch(pending: DataFrame, tokens: DataFrame) -> DataFrame:
    """Flag the per-host batch: groupBy(host).applyInPandas token bucket.
    Reference selector for the equality tests; the wave loop runs
    select_batch_salted.

    Input: pending ⨝ tokens on host. Output: pending columns + `selected`.
    Deterministic: stable sort on (priority, depth, url_canon).
    """
    joined = pending.join(F.broadcast(tokens), "host", "left_outer")
    out_schema = StructType(
        [f for f in joined.schema.fields if f.name != "tokens"]
        + [StructField("selected", BooleanType(), False)])
    cols = [f.name for f in out_schema.fields if f.name != "selected"]

    def _select(pdf: pd.DataFrame) -> pd.DataFrame:
        take = int(pdf["tokens"].iloc[0]) if pd.notna(pdf["tokens"].iloc[0]) else 0
        pdf = pdf.sort_values(["priority", "depth", "url_canon"],
                              kind="mergesort").reset_index(drop=True)
        pdf["selected"] = pdf.index < take
        return pdf[cols + ["selected"]]

    return joined.groupBy("host").applyInPandas(_select, out_schema)


def select_by_window(pending: DataFrame, tokens: DataFrame) -> DataFrame:
    """UDF-free equivalent of select_batch: a window row_number per host vs
    floor(tokens). Same output contract; property-tested equal to
    select_batch. The per-host rank step of select_batch_salted."""
    w = Window.partitionBy("host").orderBy("priority", "depth", "url_canon")
    return (pending.join(F.broadcast(tokens), "host", "left_outer")
            .withColumn("_rn", F.row_number().over(w))
            .withColumn("selected",
                        F.col("_rn") <= F.floor(F.coalesce(F.col("tokens"), F.lit(0.0))))
            .drop("_rn", "tokens"))


def spend_tokens(tokens: DataFrame, final_selected: DataFrame) -> DataFrame:
    """tokens -= count(finally selected per host) — after budget truncation."""
    spent = final_selected.groupBy("host").agg(F.count("*").alias("_n"))
    return (tokens.join(spent, "host", "left_outer")
            .select("host", (F.col("tokens")
                             - F.coalesce(F.col("_n"), F.lit(0)).cast("double")
                             ).alias("tokens")))


# Salt groups of the selection pre-prune: bounds a hot host's window group to
# SKEW_SALT * tokens rows. Selection-equal for every value (tests/test_skew.py).
SKEW_SALT = 16


def prune_salted(pending: DataFrame, tokens: DataFrame,
                 n_salt: int = SKEW_SALT) -> DataFrame:
    """Skew guard (north_rule J5): per-(host, salt) top-`tokens` pre-prune.

    The (host, salt) window shuffles on a uniform composite key, so a Zipf
    host's pending set splits across n_salt groups; any row in the host's
    GLOBAL top-k is necessarily in its salt-group's top-k, so downstream
    selection over the pruned set equals selection over the full set
    (tests/test_skew.py). Bounds the hot host's group to n_salt * tokens
    rows before any per-host shuffle."""
    w = Window.partitionBy("host", "_salt").orderBy("priority", "depth", "url_canon")
    return (pending
            .withColumn("_salt", F.pmod(F.xxhash64("url_canon"), F.lit(n_salt)))
            .join(F.broadcast(tokens), "host", "left_outer")
            .withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") <= F.floor(F.coalesce(F.col("tokens"), F.lit(0.0))))
            .drop("_rn", "_salt", "tokens"))


def select_batch_salted(pending: DataFrame, tokens: DataFrame,
                        n_salt: int = SKEW_SALT) -> DataFrame:
    """The wave loop's selection, with the same output contract as
    select_batch (every pending row + `selected` flag).

    Pipeline: salted pre-prune (uniform shuffle) -> per-host window rank over
    the BOUNDED pruned set -> broadcast the small selected-key set back onto
    pending (map-side join, no shuffle of the full frontier)."""
    pruned = prune_salted(pending, tokens, n_salt)
    flagged = select_by_window(pruned, tokens)
    sel = (flagged.where(F.col("selected"))
           .select("url_hash").withColumn("_sel", F.lit(True)))
    out = (pending.join(F.broadcast(sel), "url_hash", "left_outer")
           .withColumn("selected", F.coalesce(F.col("_sel"), F.lit(False)))
           .drop("_sel"))
    return out.select(*flagged.columns)


def merge_host_state(old: DataFrame | None, updated: DataFrame) -> DataFrame:
    """Carry forward token state for hosts that were NOT active this wave."""
    if old is None:
        return updated
    carried = old.join(updated.select("host"), "host", "left_anti")
    return updated.unionByName(carried)


def waterfill_allocations(demands: DataFrame, budget: int,
                          host: str = "host", demand: str = "demand",
                          n_blocks: int = 32) -> DataFrame:
    """Max-min fair fetch-budget allocation across hosts (progressive
    filling / water-filling — Bertsekas & Gallager, Data Networks §6.5):
    split a global per-wave fetch budget so every host gets its full
    demand if that fits under the common waterline, and hosts above the
    line share what remains as evenly as integers allow. The allocation
    a crawler needs when the politeness layer caps per-host rates but
    the WAVE has a global budget (F7): a Zipf head host must not starve
    the tail, and the tail's spare capacity must flow back to the head.

    Exact integer characterization (demands ascending, host tie-break):
    host i (0-based rank, exclusive prefix sum cum_i, n hosts) is FULL
    iff d_i * (n - i) + cum_i <= B — the fully-served set under max-min
    fairness is always a prefix of the ascending-demand order. With
    nfull and cumfull aggregated, every non-full host gets
    floor(rem/k) (+1 for the first rem%k of them in rank order), where
    rem = B - cumfull and k = n - nfull. Everything is BIGINT algebra —
    deterministic and engine-exact.

    Scale shape: the global (rank, prefix-sum) pair comes from the
    pack_sequences/global_rank two-phase idiom — a PURE monotone block
    id from driver-frozen boundary literals (`_det_block_expr`; not
    repartitionByRange+spark_partition_id, whose runtime-sampled
    boundaries can differ between the local-rank and block-offset plan
    branches — the st7-class race), block-local row_number + exclusive
    cumsum, one <= n_blocks-row offset table cumsum'd on a single tiny
    task and broadcast back. The two scalar rollups (n; nfull/cumfull)
    broadcast 1-row tables. No global single-task window over the host
    table."""
    from crawler_spark.operators.sampling import _det_block_expr

    order = [F.col(demand).asc(), F.col(host).asc()]
    blocked = demands.withColumn(
        "_blk", _det_block_expr(demands, [F.col(demand), F.col(host)],
                                n_blocks))
    w_loc = Window.partitionBy("_blk").orderBy(*order)
    local = (blocked
             .withColumn("_lrn", (F.row_number().over(w_loc) - 1)
                         .cast("long"))
             .withColumn("_lcum", F.coalesce(
                 F.sum(demand).over(
                     w_loc.rowsBetween(Window.unboundedPreceding, -1)),
                 F.lit(0)).cast("long")))
    w_blk = (Window.orderBy("_blk")
             .rowsBetween(Window.unboundedPreceding, -1))
    offs = (blocked.groupBy("_blk")
            .agg(F.count(F.lit(1)).alias("_bn"),
                 F.sum(demand).alias("_bs"))
            .withColumn("_roff", F.coalesce(F.sum("_bn").over(w_blk),
                                            F.lit(0)).cast("long"))
            .withColumn("_soff", F.coalesce(F.sum("_bs").over(w_blk),
                                            F.lit(0)).cast("long"))
            .select("_blk", "_roff", "_soff"))
    g = (local.join(F.broadcast(offs), "_blk")
         .select(host, F.col(demand).cast("long").alias("demand"),
                 (F.col("_roff") + F.col("_lrn")).alias("i"),
                 (F.col("_soff") + F.col("_lcum")).alias("cum")))
    n_tot = g.agg(F.count(F.lit(1)).cast("long").alias("n"))
    full = (F.col("demand") * (F.col("n") - F.col("i")) + F.col("cum")
            <= F.lit(budget))
    f = (g.crossJoin(F.broadcast(n_tot))
         .withColumn("full", full)
         .localCheckpoint(eager=False))
    s = f.agg(F.sum(F.when(F.col("full"), 1).otherwise(0))
              .cast("long").alias("nfull"),
              F.sum(F.when(F.col("full"), F.col("demand")).otherwise(0))
              .cast("long").alias("cumfull"))
    k = F.greatest(F.col("n") - F.col("nfull"), F.lit(1).cast("long"))
    rem = F.lit(budget).cast("long") - F.col("cumfull")
    alloc = F.when(F.col("full"), F.col("demand")).otherwise(
        F.floor(rem / k).cast("long")
        + F.when(F.col("i") - F.col("nfull") < rem % k, 1).otherwise(0))
    return (f.crossJoin(F.broadcast(s))
            .select(host, "demand", alloc.cast("long").alias("alloc")))


def apportion_by_ip(demands: DataFrame, per_ip_cap: int,
                    host: str = "host", ip: str = "ip",
                    demand: str = "demand") -> DataFrame:
    """IP-granular politeness (BUbiNG, Boldi et al. 2018: rate limits
    must bind on the shared ADDRESS, or virtual-host farms multiply a
    crawler's per-server pressure by the number of names): each IP gets
    budget min(per_ip_cap, total demand on that IP), apportioned back to
    its hosts PROPORTIONALLY by the Hamilton/Vinton largest-remainder
    method — floor(B*d_h/D) each, then one extra unit to the hosts with
    the largest remainders (B*d_h) mod D, remainder ties broken by host
    ascending. Exact integer algebra: quotas never compare as floats,
    the remainder rank is an integer sort key, and sum(alloc) == B per
    IP by construction.

    Scale shape: one partial-agged groupBy(ip) for totals, a broadcast
    join back (IP cardinality <= host cardinality), and the remainder
    rank is a per-IP window — bounded by hosts-per-IP (the virtual-host
    fan-out, thousands at worst), never corpus-wide. Zero Python."""
    d = demands.select(F.col(host).alias("host"),
                       F.col(ip).alias("ip"),
                       F.col(demand).cast("long").alias("demand"))
    tot = (d.groupBy("ip")
           .agg(F.sum("demand").alias("d_ip"),
                F.count(F.lit(1)).alias("n_hosts")))
    b_ip = F.least(F.lit(per_ip_cap).cast("long"), F.col("d_ip"))
    j = (d.join(F.broadcast(tot), "ip")
         .withColumn("b", b_ip)
         # true integer division (DIV), not double-and-truncate: the
         # b*demand product can exceed 2^53 at the 10^10 design point
         .withColumn("base", F.expr("(b * demand) div d_ip"))
         .withColumn("r", (F.col("b") * F.col("demand")) % F.col("d_ip")))
    w = Window.partitionBy("ip").orderBy(F.desc("r"), F.asc("host"))
    ranked = j.withColumn("_rk", F.row_number().over(w).cast("long"))
    leftover = (F.col("b")
                - F.sum("base").over(Window.partitionBy("ip")))
    return (ranked
            .withColumn("_extra", F.when(F.col("_rk") <= leftover, 1)
                        .otherwise(0).cast("long"))
            .select("ip", "host", "demand",
                    (F.col("base") + F.col("_extra")).cast("long")
                    .alias("alloc")))


def ucb_host_select(history: DataFrame, host_col: str, reward: Column,
                    k: int = 8, c: float = 1.4) -> DataFrame:
    """UCB1 bandit allocation of the next wave's crawl budget across
    hosts (Auer/Cesa-Bianchi/Fischer 2002): score every host by
    mean observed reward (e.g. "fetch yielded novel outlinks" /
    "page passed quality gates") plus the exploration bonus
    c*sqrt(ln(T)/n_h) — hosts with few pulls keep a fat bonus, so the
    scheduler keeps probing them instead of starving the long tail on
    early luck. This is the principled form of the frontier's
    explore/exploit knob that w1's static priorities and rc6's
    latency EWMA don't model.

    Input is the fetch history (one row per fetch, any reward
    indicator column expression); output one row per host:
    (host, n_pulls, n_rewards, mean_reward, ucb, selected) with the
    top-k by (rounded ucb desc, host asc) flagged selected=1 — ranking
    runs on the ROUNDED score (the an5 float discipline).

    Scale shape: ONE partial-agged groupBy(host); the totals row is a
    scalar broadcast; the top-k flag is a single host-cardinality
    window (hosts << corpus — the g1 argument). Rewards and pulls are
    exact BIGINTs; the only floats are the final two formulas, rounded
    to 4 in identical operation order.
    """
    per = (history.groupBy(F.col(host_col).alias("host"))
           .agg(F.count(F.lit(1)).cast("long").alias("n_pulls"),
                F.sum(reward.cast("long")).cast("long")
                 .alias("n_rewards")))
    tot = per.agg(F.sum("n_pulls").cast("long").alias("t"))
    mean = F.col("n_rewards").cast("double") / F.col("n_pulls").cast("double")
    bonus = F.lit(c) * F.sqrt(
        F.log(F.col("t").cast("double")) / F.col("n_pulls").cast("double"))
    scored = (per.crossJoin(F.broadcast(tot))
              .select("host", "n_pulls", "n_rewards",
                      F.round(mean, 4).alias("mean_reward"),
                      F.round(mean + bonus, 4).alias("ucb")))
    w = Window.orderBy(F.col("ucb").desc(), F.col("host"))
    return scored.withColumn(
        "selected", (F.row_number().over(w) <= k).cast("int"))


def host_fairness_gini(counts: DataFrame, key_col: str, val_col: str,
                       n_blocks: int = 32) -> DataFrame:
    """Gini coefficient of the per-host fetch allocation — the crawl-
    equity metric a frontier scheduler is judged by (0 = every host got
    the same number of fetches, ->1 = one host got everything): with
    per-host counts x ranked ascending 1..n,
    gini = (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)).

    Exact integer algebra until ONE final division (deterministic
    cross-engine), rounded to 4. The ascending rank is computed with
    `global_rank` — the distributed block-rank shape — because host
    cardinality at web scale (10^8+) makes the naive unpartitioned
    row_number window a single-task bug; ties break on the key so the
    rank is total. Output: one row (n, sx, gini).

    Scale shape: one global_rank pass over host-cardinality rows (tiny
    next to the corpus that produced the counts) + one scalar rollup."""
    from crawler_spark.operators.sampling import global_rank
    c = counts.select(F.col(key_col).alias("_k"),
                      F.col(val_col).cast("long").alias("_x"))
    r = global_rank(c, [F.col("_x"), F.col("_k")], n_blocks=n_blocks,
                    out_col="_i")
    return (r.agg(F.count(F.lit(1)).alias("n"),
                  F.sum("_x").alias("sx"),
                  F.sum(F.col("_i") * F.col("_x")).alias("_six"))
            .select("n", "sx",
                    F.round((2 * F.col("_six") - (F.col("n") + 1)
                             * F.col("sx"))
                            / (F.col("n") * F.col("sx")), 4)
                    .alias("gini")))
