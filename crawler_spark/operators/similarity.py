"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k (the exactness baseline) and an IVF-style
coarse-quantized variant (the scale path: probe only the query's cell) —
both as pure column algebra (`F.aggregate`/`F.zip_with`), no Python in the
hot path. A vectorized Pandas-UDF batch scorer is provided for wide vectors
where Arrow-batch numpy beats per-element codegen.

Scale notes: brute force is a full scan per query — fine fanned out over a
query *batch* (crossJoin broadcast of queries, one pass over the corpus).
IVF reduces scanned fraction to ~1/n_cells; cells here come from a provided
coarse label (or any clustering); at 100 TB the corpus side is bucketed by
cell so a probe prunes partitions.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F


def dot_col(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0).cast("double"), lambda acc, v: acc + v)


def norm_col(a: Column) -> Column:
    return F.sqrt(dot_col(a, a))


def cosine_col(a: Column, b: Column) -> Column:
    return dot_col(a, b) / (norm_col(a) * norm_col(b))


def brute_force_topk(emb: DataFrame, query: DataFrame, k: int = 10,
                     vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Exact cosine top-k of `query` rows (qid, qvec) against the corpus.
    Query side is broadcast; one corpus scan for the whole query batch;
    per-query top-k via TakeOrderedAndProject-friendly window."""
    from pyspark.sql import Window
    # Both norms hoisted above the join (bit-identical doubles, one O(d)
    # aggregate per pair instead of three -- the knn_graph discipline).
    q = F.broadcast(query.select(F.col(id_col).alias("qid"),
                                 F.col(vec_col).cast("array<double>")
                                 .alias("qvec"))
                    .withColumn("nq", norm_col(F.col("qvec"))))
    e = (emb.select(F.col(id_col),
                    F.col(vec_col).cast("array<double>").alias("_ev"))
         .withColumn("ne", norm_col(F.col("_ev"))))
    scored = (e.crossJoin(q)
              .where(F.col(id_col) != F.col("qid"))
              .select("qid", F.col(id_col),
                      F.round(dot_col(F.col("_ev"), F.col("qvec"))
                              / (F.col("ne") * F.col("nq")), 4)
                      .alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def ivf_topk(emb: DataFrame, query: DataFrame, k: int = 10,
             cell_col: str = "label", vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """IVF-1-probe: scan only the query's coarse cell (here: `label` as the
    pre-computed coarse quantizer). At scale the corpus is written bucketed/
    partitioned by cell, so this prunes file scans, not just rows."""
    from pyspark.sql import Window
    q = F.broadcast(query.select(F.col(id_col).alias("qid"),
                                 F.col(vec_col).alias("qvec"),
                                 F.col(cell_col).alias("qcell")))
    scored = (emb.join(q, F.col(cell_col) == F.col("qcell"))
              .where(F.col(id_col) != F.col("qid"))
              .select("qid", F.col(id_col),
                      F.round(cosine_col(
                          F.col(vec_col).cast("array<double>"),
                          F.col("qvec").cast("array<double>")), 4).alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def rh_planes(n_planes: int = 4, dim: int = 64) -> list[list[float]]:
    """Deterministic random hyperplanes (md5-seeded) shared verbatim — as
    plain literals — by the Spark expressions and any SQL oracle twin, so no
    cross-engine RNG or hashing parity is needed."""
    import hashlib
    out = []
    for b in range(n_planes):
        row = []
        for i in range(dim):
            h = int(hashlib.md5(f"{b}:{i}".encode()).hexdigest()[:8], 16)
            row.append(round(h % 2001 / 1000.0 - 1.0, 3))
        out.append(row)
    return out


def plane_dot_int_col(vec: Column, plane: list[float]) -> Column:
    """Sign-stable plane dot for LSH bucketing: quantize vector components
    to 1e-6 and the (3-decimal-literal) plane coords to integers, then sum
    BIGINT products. Integer addition is associativity-free, so Spark's
    sequential fold and any SQL twin's native dot agree BIT-FOR-BIT on the
    sign — a raw FP dot's sign depends on summation order when the vector
    is near-orthogonal to the plane, which would let the engine and the
    oracle assign the same row to different buckets. The 1e-6 quantum only
    moves the (measure-zero) knife edge; bucket recall is unaffected."""
    q = F.transform(vec, lambda x: F.round(x * 1000000).cast("long"))
    pint = F.array(*[F.lit(int(round(x * 1000))) for x in plane])
    return F.aggregate(F.zip_with(q, pint, lambda x, y: x * y),
                       F.lit(0).cast("long"), lambda acc, v: acc + v)


def rh_band_cols(vec: Column, planes: list[list[float]],
                 band_size: int = 2) -> list[Column]:
    """Per-band sign signatures: band b covers planes[b*bs:(b+1)*bs]; bit k
    of the band signature = sign(vec . plane_{b*bs+k}) over the quantized
    integer dot (plane_dot_int_col — cross-engine sign-stable). Used to
    sub-block hot cells in embedding_neardup_pairs (banded
    OR-amplification: a pair is kept if ANY band agrees, which preserves
    high-cosine pairs with high probability while splitting a hot cell
    into ~2^band_size sub-buckets)."""
    assert len(planes) % band_size == 0
    out = []
    for b in range(len(planes) // band_size):
        sig = F.lit(0)
        for k, p in enumerate(planes[b * band_size:(b + 1) * band_size]):
            d = plane_dot_int_col(vec, p)
            sig = sig + F.when(d > 0, F.lit(1 << k)).otherwise(F.lit(0))
        out.append(sig)
    return out


def rh_sig_col(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH signature: bit b = sign(vec . plane_b), over
    the quantized integer dot (plane_dot_int_col — cross-engine
    sign-stable). Planes are plain literals (deterministic, shared with
    the SQL oracle), so the whole signature is codegen arithmetic."""
    sig = F.lit(0)
    for b, p in enumerate(planes):
        d = plane_dot_int_col(vec, p)
        sig = sig + F.when(d > 0, F.lit(1 << b)).otherwise(F.lit(0))
    return sig


def lsh_topk(emb: DataFrame, query: DataFrame, planes: list[list[float]],
             k: int = 10, vec_col: str = "embedding",
             id_col: str = "vec_id") -> DataFrame:
    """LSH-bucketed ANN (the scale path when no coarse quantizer exists):
    corpus and queries hash to sign-pattern buckets; a probe scans only its
    bucket (1/2^n_planes of the corpus in expectation). At 100 TB the corpus
    is written partitioned by bucket, pruning file scans like IVF cells."""
    from pyspark.sql import Window
    corpus = emb.withColumn(
        "bucket", rh_sig_col(F.col(vec_col).cast("array<double>"), planes))
    q = (query.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qvec"))
         .withColumn("qbucket",
                     rh_sig_col(F.col("qvec").cast("array<double>"), planes)))
    corpus = corpus.withColumn(
        "_ne", norm_col(F.col(vec_col).cast("array<double>")))
    q = q.withColumn("_nq", norm_col(F.col("qvec").cast("array<double>")))
    scored = (corpus.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
              .where(F.col(id_col) != F.col("qid"))
              .select("qid", F.col(id_col),
                      F.round(dot_col(
                          F.col(vec_col).cast("array<double>"),
                          F.col("qvec").cast("array<double>"))
                          / (F.col("_ne") * F.col("_nq")), 4)
                      .alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def normalized_vec(emb: DataFrame, vec_col: str = "embedding",
                   out_col: str = "v") -> DataFrame:
    """Unit-normalize the vector MAP-SIDE in two projections (norm bound as
    its own column so it is computed once per row, not once per element).
    Downstream cosines become single dot products — at pair volume this is
    a 3x aggregate saving over dot/(|a||b|) per pair."""
    keep = [c for c in emb.columns if c != vec_col]
    step = emb.select(*keep, F.col(vec_col).cast("array<double>").alias("_v"))
    step = step.select(*keep, "_v",
                       F.sqrt(dot_col(F.col("_v"), F.col("_v"))).alias("_n"))
    return step.select(
        *keep,
        F.transform(F.col("_v"), lambda x: x / F.col("_n")).alias(out_col))


def embedding_neardup_pairs(emb: DataFrame, threshold: float = 0.95,
                            cell_col: str = "label", vec_col: str = "embedding",
                            id_col: str = "vec_id",
                            max_cell: int | None = 64,
                            planes: list[list[float]] | None = None,
                            band_size: int = 2) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by coarse cell (near-
    dups land in the same cell with high probability; cross-cell misses are
    the recall/cost tradeoff every blocking scheme makes). Returns
    (vec_a, vec_b, cosine) with vec_a < vec_b. Vectors are unit-normalized
    map-side so each pair costs ONE dot product.

    `max_cell` is the hot-cell quadratic guard: cells wider than `max_cell`
    rows are SUB-BLOCKED by banded random-hyperplane signatures instead of
    being joined all-pairs — each of the len(planes)/band_size bands splits
    the cell into ~2^band_size sign sub-buckets, pairs are generated inside
    (cell, band, sub) and OR-merged via distinct. A pair survives if any
    band agrees; for genuinely near-duplicate vectors (cosine ~0.95+) per-
    band agreement is ~cos-angle^band_size ≈ 0.8 and 2-band recall ≈ 0.96,
    while the pair fan-out of a skewed cell drops from O(w²) to
    O(bands · (w/2^band_size)²). Cells at or under `max_cell` keep the exact
    all-pairs join (sub = 0, one band). max_cell=None disables the guard.
    """
    nv = normalized_vec(emb.select(id_col, cell_col, vec_col), vec_col)
    if max_cell is None:
        a, b = nv.alias("a"), nv.alias("b")
        pairs = (a.join(b, (F.col(f"a.{cell_col}") == F.col(f"b.{cell_col}"))
                        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
                 .select(F.col(f"a.{id_col}").alias("vec_a"),
                         F.col(f"b.{id_col}").alias("vec_b"),
                         F.round(dot_col(F.col("a.v"), F.col("b.v")), 4)
                         .alias("cosine")))
        return pairs.where(F.col("cosine") >= threshold)
    if planes is None:
        planes = rh_planes()
    # Cell widths: one tiny dim (n_cells rows), explicitly broadcast.
    counts = nv.groupBy(cell_col).agg(F.count("*").alias("_cn"))
    wide = nv.join(F.broadcast(counts), cell_col)
    bands = rh_band_cols(F.col("v"), planes, band_size)
    hot = F.array(*[F.struct(F.lit(b).alias("band"),
                             s.cast("int").alias("sub"))
                    for b, s in enumerate(bands)])
    cold = F.array(F.struct(F.lit(0).alias("band"),
                            F.lit(0).cast("int").alias("sub")))
    blocked = (wide
               .withColumn("bk", F.explode(
                   F.when(F.col("_cn") > max_cell, hot).otherwise(cold)))
               .select(id_col, cell_col, "v",
                       F.col("bk.band").alias("_band"),
                       F.col("bk.sub").alias("_sub")))
    a, b = blocked.alias("a"), blocked.alias("b")
    pairs = (a.join(b, (F.col(f"a.{cell_col}") == F.col(f"b.{cell_col}"))
                    & (F.col("a._band") == F.col("b._band"))
                    & (F.col("a._sub") == F.col("b._sub"))
                    & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
             .select(F.col(f"a.{id_col}").alias("vec_a"),
                     F.col(f"b.{id_col}").alias("vec_b"),
                     F.round(dot_col(F.col("a.v"), F.col("b.v")), 4)
                     .alias("cosine")))
    # A pair matching in both bands appears twice with the identical rounded
    # cosine — OR-merge via distinct.
    return pairs.where(F.col("cosine") >= threshold).distinct()


def sq_corpus_stats(emb: DataFrame, vec_col: str = "embedding",
                    dim: int = 64) -> DataFrame:
    """Per-dimension min/max over the corpus as ONE single-row DataFrame of
    two dim-length arrays (mns, mxs) — the deterministic 'codebook' of the
    scalar quantizer. Fully distributed: posexplode -> dim-cardinality agg
    -> ordered collect_list; no driver collect (the row is broadcast)."""
    d = emb.select(F.posexplode(F.col(vec_col).cast("array<double>"))
                   .alias("d", "x"))
    stats = d.groupBy("d").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    return (stats.groupBy()
            .agg(F.array_sort(F.collect_list(F.struct("d", "mn"))).alias("_a"),
                 F.array_sort(F.collect_list(F.struct("d", "mx"))).alias("_b"))
            .select(F.transform("_a", lambda s: s["mn"]).alias("mns"),
                    F.transform("_b", lambda s: s["mx"]).alias("mxs")))


def sq_quantize(v: Column, mns: Column, mxs: Column) -> Column:
    """SQ8 scalar quantization: per dim, floor((x-mn)/(mx-mn)*255) in
    [0,255] (mx==mn dims collapse to 0). All-IEEE-exact ops on identical
    doubles -> bit-identical codes in Spark and the SQL oracle."""
    return F.transform(
        v.cast("array<double>"),
        lambda x, i: F.when(
            F.get(mxs, i) > F.get(mns, i),
            F.floor((x - F.get(mns, i))
                    / (F.get(mxs, i) - F.get(mns, i)) * 255.0))
        .otherwise(F.lit(0)).cast("long"))


def sq_rerank_topk(emb: DataFrame, query: DataFrame, k: int = 10,
                   shortlist: int = 50, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Two-stage ANN (an6, the FAISS-SQ production pattern): stage 1 ranks
    the corpus by EXACT-INTEGER quantized dot product (8-bit codes — at
    scale the code table is 4-32x smaller than the float corpus and scans
    from a compact column); stage 2 re-ranks only the per-query shortlist
    with true cosine. Integer stage-1 scores make the candidate set
    bit-stable across engines; the final output is an1-shaped
    (qid, vec_id, cosine, rnk)."""
    from pyspark.sql import Window
    stats = sq_corpus_stats(emb, vec_col)
    corp = (emb.crossJoin(F.broadcast(stats))
            .select(F.col(id_col), F.col(vec_col),
                    sq_quantize(F.col(vec_col), F.col("mns"), F.col("mxs"))
                    .alias("qz")))
    qry = (query.crossJoin(F.broadcast(stats))
           .select(F.col(id_col).alias("qid"),
                   F.col(vec_col).alias("qvec"),
                   sq_quantize(F.col(vec_col), F.col("mns"), F.col("mxs"))
                   .alias("qzq")))
    cand = (corp.crossJoin(F.broadcast(qry))
            .where(F.col(id_col) != F.col("qid"))
            .select("qid", F.col(id_col), F.col(vec_col), F.col("qvec"),
                    F.aggregate(F.zip_with("qz", "qzq",
                                           lambda a, b: a * b),
                                F.lit(0).cast("long"),
                                lambda acc, x: acc + x).alias("ad")))
    w1 = Window.partitionBy("qid").orderBy(F.desc("ad"), F.col(id_col))
    short = (cand.withColumn("crnk", F.row_number().over(w1))
             .where(F.col("crnk") <= shortlist))
    scored = short.select(
        "qid", F.col(id_col),
        F.round(cosine_col(F.col(vec_col).cast("array<double>"),
                           F.col("qvec").cast("array<double>")), 4)
        .alias("cosine"))
    w2 = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w2))
            .where(F.col("rnk") <= k))


def kmeans_assign(emb: DataFrame, k: int = 4, iters: int = 3,
                  scale: int = 64, vec_col: str = "embedding",
                  id_col: str = "vec_id") -> DataFrame:
    """IVF codebook training: fixed-iteration Lloyd's k-means over the
    embedding corpus, returning (vec_id, cluster, d2). This TRAINS the
    coarse quantizer that `ivf_topk` consumes as a given (its `label`
    cell) — the missing first stage of a real IVF index build.

    Cross-engine-exact by INTEGER-LATTICE arithmetic: embeddings are
    quantized to floor(x * scale) once, distances are integer sums of
    squares, and the centroid update is floor(sum/count) — the one double
    division is exact-floor because |sum| <= dim * scale * n stays far
    below 2^53 and a non-integer rational sum/count (count bounded by the
    corpus) can never round across an integer boundary. No libm, no
    float accumulation order anywhere, so 3 iterations stay bit-stable
    under the driver's hash gate (float k-means never could: per-partition
    sum order differs run to run).

    Determinism: seeds are the k smallest md5(vec_id) (content-stable,
    TakeOrderedAndProject — no global sort); assignment ties break on the
    smallest centroid id; an emptied centroid drops out of the codebook
    in both engines (inner joins).

    Scale shape: the corpus appears only as the exploded (vec, dim, q)
    projection; every iteration is one broadcast join against the
    k x dim centroid table (the codebook is small BY DEFINITION), one
    partial-agged (vec, c) distance rollup, one rank window keyed by
    vec_id, and one (c, dim) partial-agged update whose map-side combine
    collapses each partition to k*dim rows. localCheckpoint cuts the
    per-iteration lineage exactly as connected_components does."""
    from pyspark.sql import Window

    q = emb.select(
        id_col,
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * scale)
                    .cast("long")).alias("qv"))
    v = (q.select(id_col, F.posexplode("qv"))
         .select(id_col, (F.col("pos") + 1).cast("long").alias("d"),
                 F.col("col").alias("v"))
         .persist())
    seed_ids = (q.select(id_col,
                         F.md5(F.col(id_col).cast("string")).alias("_h"))
                .orderBy("_h", id_col).limit(k))
    w_seed = Window.orderBy("_h", id_col)
    seeds = seed_ids.withColumn("c", F.row_number().over(w_seed)) \
                    .select(id_col, "c")
    cent = (v.join(F.broadcast(seeds), id_col)
            .select("c", "d", F.col("v").alias("cv"))
            .localCheckpoint(eager=True))
    asg = None
    for _ in range(iters):
        dist = (v.join(F.broadcast(cent), "d")
                .groupBy(id_col, "c")
                .agg(F.sum((F.col("v") - F.col("cv"))
                           * (F.col("v") - F.col("cv"))).alias("d2")))
        w_rk = Window.partitionBy(id_col).orderBy("d2", "c")
        asg = (dist.withColumn("rk", F.row_number().over(w_rk))
               .where(F.col("rk") == 1).drop("rk"))
        cent = (asg.join(v, id_col)
                .groupBy("c", "d")
                .agg(F.floor(F.sum("v").cast("double") / F.count("*"))
                     .cast("long").alias("cv"))
                .localCheckpoint(eager=True))
    v.unpersist()
    return asg.select(id_col, F.col("c").cast("int").alias("cluster"),
                      F.col("d2").cast("long").alias("d2"))


def _pq_train(emb: DataFrame, m: int = 4, k: int = 4, iters: int = 2,
              scale: int = 64, vec_col: str = "embedding",
              id_col: str = "vec_id"):
    """Product-quantization encoding (Jegou et al. 2011): split each
    vector into `m` contiguous subspaces, train a k-centroid codebook per
    subspace with Lloyd iterations, and emit every vector's m-code word
    plus its total quantization error — the encode stage an ADC search
    runs over at 10^10 vectors (m * log2(k) bits per vector instead of
    dim floats).

    All m codebooks train JOINTLY in the same jobs: the exploded
    (vec, subspace, dim, q) view keys every k-means step by subspace, so
    one broadcast join + one distance rollup + one rank window + one
    update per iteration trains the whole product codebook — m never
    multiplies the job count. Integer-lattice arithmetic end-to-end
    (kmeans_assign's argument), so the full iterative training sits
    under the cross-engine hash gate.

    Returns (asg, cent): the per-(vec, subspace) assignment frame and
    the trained (s, c, d, cv) codebook frame."""
    from pyspark.sql import Window

    q = emb.select(
        id_col,
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * scale)
                    .cast("long")).alias("qv"))
    v = (q.select(id_col, F.posexplode("qv"))
         .select(id_col, (F.col("pos") + 1).cast("long").alias("d"),
                 F.col("col").alias("v")))
    # subspace width from the (fixed) vector dimensionality
    dim = len(emb.select(vec_col).first()[0])
    sd = dim // m
    v = v.withColumn("s", F.expr(f"CAST((d - 1) DIV {sd} AS INT)")) \
         .persist()
    seed_ids = (q.select(id_col,
                         F.md5(F.col(id_col).cast("string")).alias("_h"))
                .orderBy("_h", id_col).limit(k))
    seeds = seed_ids.withColumn(
        "c", F.row_number().over(Window.orderBy("_h", id_col))) \
        .select(id_col, "c")
    cent = (v.join(F.broadcast(seeds), id_col)
            .select("s", "c", "d", F.col("v").alias("cv"))
            .localCheckpoint(eager=True))
    asg = None
    for _ in range(iters):
        dist = (v.join(F.broadcast(cent.drop("s")), "d")
                .groupBy(id_col, "s", "c")
                .agg(F.sum((F.col("v") - F.col("cv"))
                           * (F.col("v") - F.col("cv"))).alias("d2")))
        w_rk = Window.partitionBy(id_col, "s").orderBy("d2", "c")
        asg = (dist.withColumn("rk", F.row_number().over(w_rk))
               .where(F.col("rk") == 1).drop("rk"))
        cent = (asg.join(v, [id_col, "s"])
                .groupBy("s", "c", "d")
                .agg(F.floor(F.sum("v").cast("double") / F.count("*"))
                     .cast("long").alias("cv"))
                .localCheckpoint(eager=True))
    v.unpersist()
    return asg, cent


def pq_encode(emb: DataFrame, m: int = 4, k: int = 4, iters: int = 2,
              scale: int = 64, vec_col: str = "embedding",
              id_col: str = "vec_id") -> DataFrame:
    """Per-vector PQ code word + quantization error (flat columns) from
    `_pq_train` — see its docstring for the algorithm and scale shape."""
    asg, _ = _pq_train(emb, m=m, k=k, iters=iters, scale=scale,
                       vec_col=vec_col, id_col=id_col)
    codes = [F.max(F.when(F.col("s") == i, F.col("c"))).cast("int")
             .alias(f"code_{i}") for i in range(m)]
    return (asg.groupBy(id_col)
            .agg(*codes, F.sum("d2").cast("long").alias("pq_err")))


def adc_topk(emb: DataFrame, query_ids: list[int], topk: int = 5,
             m: int = 4, k: int = 4, iters: int = 2, scale: int = 64,
             vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Asymmetric-distance (ADC) top-k search over the PQ-encoded corpus
    (Jegou et al. 2011 §IV): the query stays EXACT on the lattice; each
    corpus vector is touched only through its m codes. Distance =
    sum_s LUT[query, s, code_s] where the lookup table holds the exact
    query-subvector <-> centroid distances — m*k cells per query,
    computed once and broadcast.

    Scale shape: the corpus-side scan carries only (vec_id, s, c) — the
    compressed index, m*log2(k) bits/vector — joined against the
    broadcast LUT (q*m*k rows) and rolled up per (query, vec); the rank
    is a per-query window over ADC scores. The full-precision corpus is
    never read at query time; integer arithmetic keeps the whole search
    under the cross-engine hash gate.

    Returns (qid, vec_id, adc BIGINT, rk INT), rk <= topk, ties broken
    on vec_id; the query vector itself is excluded."""
    from pyspark.sql import Window

    asg, cent = _pq_train(emb, m=m, k=k, iters=iters, scale=scale,
                          vec_col=vec_col, id_col=id_col)
    dim = len(emb.select(vec_col).first()[0])
    sd = dim // m
    qv = emb.where(F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("qid"),
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * scale)
                    .cast("long")).alias("qv"))
    qdims = (qv.select("qid", F.posexplode("qv"))
             .select("qid", (F.col("pos") + 1).cast("long").alias("d"),
                     F.col("col").alias("qval"))
             .withColumn("s", F.expr(f"CAST((d - 1) DIV {sd} AS INT)")))
    lut = (qdims.join(F.broadcast(cent), ["s", "d"])
           .groupBy("qid", "s", "c")
           .agg(F.sum((F.col("qval") - F.col("cv"))
                      * (F.col("qval") - F.col("cv"))).alias("ld")))
    scored = (asg.select(id_col, "s", "c")
              .join(F.broadcast(lut), ["s", "c"])
              .groupBy("qid", id_col)
              .agg(F.sum("ld").alias("adc"))
              .where(F.col("qid") != F.col(id_col)))
    w = Window.partitionBy("qid").orderBy("adc", id_col)
    return (scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= topk)
            .select("qid", id_col, F.col("adc").cast("long").alias("adc"),
                    F.col("rk").cast("int").alias("rk")))


def range_search(emb: DataFrame, query: DataFrame, threshold: float,
                 vec_col: str = "embedding",
                 id_col: str = "vec_id") -> DataFrame:
    """Cosine RANGE query (all neighbors with similarity >= threshold) —
    the other half of the ANN serving API next to top-k (an1): dedup
    radius probes, "more like this" recall sets, and safety-filter
    blocklist expansion all want EVERYTHING above a floor, not a fixed
    k. Filtering runs on the ROUNDED score (the an5 discipline) so the
    kept set is bit-identical cross-engine.

    Scale shape: the query batch broadcasts; ONE corpus scan serves the
    whole batch; output is bounded by the radius, not by corpus size.
    At 10^10 vectors the same predicate composes with the IVF cell
    (an2) or sign-bucket (an4) pruning — scan only candidate cells,
    threshold inside."""
    q = F.broadcast(query.select(F.col(id_col).alias("qid"),
                                 F.col(vec_col).cast("array<double>")
                                 .alias("qvec"))
                    .withColumn("_nq", norm_col(F.col("qvec"))))
    e = (emb.select(F.col(id_col),
                    F.col(vec_col).cast("array<double>").alias("_ev"))
         .withColumn("_ne", norm_col(F.col("_ev"))))
    return (e.crossJoin(q)
            .where(F.col(id_col) != F.col("qid"))
            .select("qid", F.col(id_col),
                    F.round(dot_col(F.col("_ev"), F.col("qvec"))
                            / (F.col("_ne") * F.col("_nq")), 4)
                    .alias("cosine"))
            .where(F.col("cosine") >= threshold))


def mips_topk(emb: DataFrame, query: DataFrame, k: int = 10,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """Maximum-inner-product top-k (the retrieval objective for
    dual-encoder rerankers and reward models, where vector NORM carries
    signal and cosine is the wrong order). Same one-scan shape as
    brute_force_topk: query batch broadcasts, one corpus pass, per-query
    window on the ROUNDED score so the kept set is bit-stable
    cross-engine.

    Scale path: MIPS does not admit metric pruning directly — reduce it
    to cosine via `augment_for_mips` (Bachrach et al., RecSys 2014:
    append sqrt(M^2-|x|^2) to corpus vectors, 0 to queries; all
    augmented corpus norms equal M, so cosine order == dot order) and
    feed the augmented vectors to the IVF/LSH index paths (an2/an4).
    Property-tested equal to this exact scan in test_similarity."""
    from pyspark.sql import Window
    q = F.broadcast(query.select(F.col(id_col).alias("qid"),
                                 F.col(vec_col).alias("qvec")))
    scored = (emb.crossJoin(q)
              .where(F.col(id_col) != F.col("qid"))
              .select("qid", F.col(id_col),
                      F.round(dot_col(
                          F.col(vec_col).cast("array<double>"),
                          F.col("qvec").cast("array<double>")), 4)
                      .alias("dot")))
    w = Window.partitionBy("qid").orderBy(F.desc("dot"), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k))


def augment_for_mips(emb: DataFrame, vec_col: str = "embedding",
                     is_query: bool = False) -> DataFrame:
    """MIPS->cosine reduction (norm augmentation): corpus vectors gain a
    coordinate sqrt(M^2 - |x|^2) where M = max corpus norm (one scalar
    agg — bounded driver traffic); query vectors gain a literal 0. All
    augmented corpus norms equal M, so cosine ranking of the augmented
    space IS inner-product ranking of the original. Output replaces
    `vec_col` with the (dim+1)-wide array<double>."""
    v = F.col(vec_col).cast("array<double>")
    if is_query:
        aug = F.concat(v, F.array(F.lit(0.0).cast("double")))
        return emb.withColumn(vec_col, aug)
    mx = emb.select(F.max(norm_col(v)).alias("m")).collect()[0]["m"]
    extra = F.sqrt(F.greatest(F.lit(float(mx) ** 2) - dot_col(v, v),
                              F.lit(0.0)))
    return emb.withColumn(vec_col, F.concat(v, F.array(extra)))


def _spark_round_half_up(x: float, digits: int = 4) -> float:
    """Bit-replicates Spark's round(double, d): Java BigDecimal.valueOf
    goes through Double.toString — the SHORTEST round-trip decimal, which
    Python's repr() also produces — then setScale(d, HALF_UP). (Rounding
    the exact binary expansion instead, Decimal(x), diverges on values
    whose shortest repr sits exactly on the half boundary.) `+ 0.0`
    normalizes -0.0 (BigDecimal has no signed zero)."""
    from decimal import ROUND_HALF_UP, Decimal
    q = Decimal(1).scaleb(-digits)
    return float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP)) + 0.0


def _knn_graph_dense(emb: DataFrame, k: int, vec_col: str,
                     id_col: str) -> DataFrame:
    """Brute all-pairs kNN edges via a dense Arrow kernel: the corpus
    matrix rides a broadcast (all-pairs REQUIRES one replicated side —
    the same replication the crossJoin shipped per task, collected once
    instead of serialized per partition), and each worker scores its row
    batch against it with numpy rank-1 updates.

    Exactness contract (the cross-engine hash gate): the accumulation
    loops run in ASCENDING DIMENSION ORDER — acc starts at 0.0 and adds
    a_j*b_j one j at a time — which is the identical FP operation
    sequence to dot_col's zip_with+fold, so every unrounded cosine is
    bit-equal to the column-algebra path; rounding replicates Spark's
    round via `_spark_round_half_up`. Top-k is selected on the ROUNDED
    order (cosine desc, dst asc) from an unrounded shortlist with a 2e-4
    margin: |round(v)-v| <= 0.5e-4, so any pair that can out-rank the
    k-th element after rounding lies within 1e-4 of it unrounded — the
    shortlist provably contains the exact rounded top-k.

    Why: the pair volume is inherent (n^2 for brute), but evaluating the
    O(d) dot per pair in Spark's interpreted higher-order functions
    measured ~12us/pair (48.7s for 4M pairs at sf0.1); the vectorized
    kernel does the same flops in numpy time. At corpus scale, block by
    IVF cell (cell_col) and apply this same kernel per cell."""
    import numpy as np

    pdf = emb.select(id_col, vec_col).toPandas()
    if len(pdf) > 2_000_000:
        raise ValueError(
            "brute all-pairs kNN needs one side replicated; corpus too "
            "large to broadcast — pass cell_col (IVF blocking) instead")
    ids0 = pdf[id_col].to_numpy()
    B = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    d = B.shape[1] if len(B) else 0
    nb = np.zeros(len(B))
    for j in range(d):                      # ascending-j: fold order
        nb += B[:, j] * B[:, j]
    nb = np.sqrt(nb)
    bc = emb.sparkSession.sparkContext.broadcast((ids0, B, nb))
    id_dt = emb.schema[id_col].dataType.simpleString()
    rnd = _spark_round_half_up

    def _edges(batches):
        import pandas as _pd
        ids_b, Bm, nbv = bc.value
        n, dd = Bm.shape
        for p in batches:
            if len(p) == 0:
                continue
            A = np.array([np.asarray(v, dtype=np.float64)
                          for v in p[vec_col]])
            srcs = p[id_col].to_numpy()
            na = np.zeros(len(A))
            for j in range(dd):
                na += A[:, j] * A[:, j]
            na = np.sqrt(na)
            out_src, out_dst, out_cos, out_rnk = [], [], [], []
            # sub-chunk rows so acc stays ~10 MB
            step = max(1, 2_000_000 // max(n, 1))
            for lo in range(0, len(A), step):
                Ac, nac = A[lo:lo + step], na[lo:lo + step]
                acc = np.zeros((len(Ac), n))
                for j in range(dd):         # ascending-j: fold order
                    acc += Ac[:, j:j + 1] * Bm[:, j][None, :]
                cos = acc / (nac[:, None] * nbv[None, :])
                for i in range(len(Ac)):
                    src = srcs[lo + i]
                    vals = np.where(ids_b == src, -np.inf, cos[i])
                    m = min(k, int(np.isfinite(vals).sum()))
                    if m <= 0:
                        continue
                    ck = np.partition(vals, -m)[-m]
                    cand = np.nonzero(vals >= ck - 2e-4)[0]
                    short = sorted((-rnd(float(vals[c])), ids_b[c])
                                   for c in cand)
                    for r, (negc, dst) in enumerate(short[:m], start=1):
                        out_src.append(src)
                        out_dst.append(dst)
                        out_cos.append(-negc + 0.0)
                        out_rnk.append(r)
            if out_src:
                yield _pd.DataFrame({"src": out_src, "dst": out_dst,
                                     "cosine": out_cos, "rnk": out_rnk})

    return emb.select(id_col, vec_col).mapInPandas(
        _edges,
        f"src {id_dt}, dst {id_dt}, cosine double, rnk long")


def knn_graph(emb: DataFrame, k: int = 5, cell_col: str | None = None,
              vec_col: str = "embedding", id_col: str = "vec_id") -> DataFrame:
    """k-NN graph construction (the build step of graph ANN indexes —
    HNSW base layer, NN-descent seed — and of graph-based corpus
    curation like SemDeDup cluster seeding): every node's top-k cosine
    neighbors, plus the MUTUAL flag (dst also ranks src in its own
    top-k) used for edge symmetrization. Ranking runs on the ROUNDED
    score (an1 discipline).

    Scale shape: brute all-pairs is O(n^2) — pass `cell_col` (an IVF
    coarse label, an2/km1) to restrict pair generation to within-cell,
    the standard blocked kNN-graph build; each cell's pair set shuffles
    on the cell key only. The brute (no-cell) path runs the dense Arrow
    kernel (`_knn_graph_dense`: broadcast matrix + vectorized fold-order
    scoring — bit-identical cosines, ~10x the interpreted-HOF plan). The
    mutual flag is one self-join of the edge list on the reversed key —
    edges, not vectors, so it stays cheap."""
    from pyspark.sql import Window
    if cell_col is None:
        edges = _knn_graph_dense(emb, k, vec_col, id_col)
    else:
        # Norms are computed ONCE per row map-side and carried through the
        # join: cosine = dot/(na*nb) is the SAME double as cosine_col's
        # dot/(norm(a)*norm(b)) (identical expression over identical
        # input), but the per-pair work drops from three O(d) array
        # aggregates to one — at cell^2 pair volume the dominant term.
        a = emb.select(F.col(id_col).alias("src"),
                       F.col(vec_col).cast("array<double>").alias("va"),
                       F.col(cell_col).alias("ca"))
        a = a.withColumn("na", norm_col(F.col("va")))
        b = emb.select(F.col(id_col).alias("dst"),
                       F.col(vec_col).cast("array<double>").alias("vb"),
                       F.col(cell_col).alias("cb"))
        b = b.withColumn("nb", norm_col(F.col("vb")))
        joined = a.join(b, F.col("ca") == F.col("cb"))
        scored = (joined.where(F.col("src") != F.col("dst"))
                  .select("src", "dst",
                          F.round(dot_col(F.col("va"), F.col("vb"))
                                  / (F.col("na") * F.col("nb")), 4)
                          .alias("cosine")))
        w = Window.partitionBy("src").orderBy(F.desc("cosine"),
                                              F.col("dst"))
        edges = (scored.withColumn("rnk", F.row_number().over(w))
                 .where(F.col("rnk") <= k))
    rev = edges.select(F.col("src").alias("dst"), F.col("dst").alias("src"))
    mutual = (edges.join(rev.withColumn("_m", F.lit(1)).distinct(),
                         ["src", "dst"], "left")
              .select("src", "dst", "cosine", "rnk",
                      F.coalesce("_m", F.lit(0)).cast("int")
                      .alias("mutual")))
    return mutual


def mmr_rerank(emb: DataFrame, query: DataFrame, shortlist_k: int = 8,
               picks: int = 4, lam: float = 0.7, mu: float = 0.3,
               vec_col: str = "embedding",
               id_col: str = "vec_id") -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): greedily pick `picks` results from the top-`shortlist_k`
    relevance shortlist, each round taking argmax of
    lam*rel(c) - mu*max_{s in selected} sim(c, s) — the diversity
    selector that keeps a near-dup-heavy corpus from filling all k
    retrieval slots with the same passage (RAG serving and SemDeDup-
    style exemplar picks both end in exactly this step).

    lam/mu are SEPARATE parameters (not mu = 1-lam) so both engines
    hash-agree: Python's 1-0.7 is 0.30000000000000004, a different
    double than the SQL literal 0.3.

    Returns (qid, vec_id, pick, mmr): pick 1 is pure relevance, pick
    t's mmr is round(lam*rel - mu*maxsim, 4) over ROUNDED rel/sim
    inputs (the an1 discipline), tie-broken by vec_id.

    Scale shape: the shortlist is one brute/IVF top-k (broadcast query
    batch, one corpus scan); everything after runs on q*k rows — the
    candidate-pair sim table is q*k*(k-1) rows built by two id-joins
    back to the vectors, checkpointed once; each greedy round is a
    left-anti + equi-join + partial-agged max + per-qid window over
    <= k rows. Driver never sees data; rounds are O(picks), not O(n)."""
    from pyspark.sql import Window
    cands = brute_force_topk(emb, query, k=shortlist_k,
                             vec_col=vec_col, id_col=id_col) \
        .select("qid", id_col, F.col("cosine").alias("rel")) \
        .localCheckpoint(eager=True)
    va = emb.select(F.col(id_col).alias("_a"),
                    F.col(vec_col).cast("array<double>").alias("_va"))
    vb = emb.select(F.col(id_col).alias("_b"),
                    F.col(vec_col).cast("array<double>").alias("_vb"))
    ca = cands.select("qid", F.col(id_col).alias("_a"))
    cb = cands.select("qid", F.col(id_col).alias("_b"))
    sims = (ca.join(cb, "qid")
            .where(F.col("_a") != F.col("_b"))
            .join(va, "_a").join(vb, "_b")
            .select("qid", "_a", "_b",
                    F.round(cosine_col(F.col("_va"), F.col("_vb")), 4)
                     .alias("sim"))
            .localCheckpoint(eager=True))
    w = Window.partitionBy("qid").orderBy(F.desc("mmr"), F.col(id_col))
    sel = (cands.withColumn("mmr", F.col("rel"))
           .withColumn("_rn", F.row_number().over(w))
           .where(F.col("_rn") == 1)
           .select("qid", id_col, F.lit(1).cast("int").alias("pick"),
                   "mmr"))
    for t in range(2, picks + 1):
        rem = cands.join(sel.select("qid", id_col), ["qid", id_col],
                         "left_anti")
        ms = (rem.select("qid", F.col(id_col).alias("_a"), "rel")
              .join(sel.select("qid", F.col(id_col).alias("_b")), "qid")
              .join(sims, ["qid", "_a", "_b"])
              .groupBy("qid", "_a")
              .agg(F.max("rel").alias("rel"),
                   F.max("sim").alias("maxsim")))
        nxt = (ms.select("qid", F.col("_a").alias(id_col),
                         F.round(F.lit(lam) * F.col("rel")
                                 - F.lit(mu) * F.col("maxsim"), 4)
                          .alias("mmr"))
               .withColumn("_rn", F.row_number().over(w))
               .where(F.col("_rn") == 1)
               .select("qid", id_col, F.lit(t).cast("int").alias("pick"),
                       "mmr"))
        sel = sel.unionByName(nxt).localCheckpoint(eager=True)
    return sel


def mmr_oracle_sql(qids: list[int], shortlist_k: int = 8, picks: int = 4,
                   lam: float = 0.7, mu: float = 0.3) -> str:
    """DuckDB twin of `mmr_rerank` over the embeddings view: the same
    shortlist, pair-sim table, and unrolled greedy rounds."""
    inq = ", ".join(str(q) for q in qids)
    mexpr = f"round({lam!r}*rel - {mu!r}*maxsim, 4)"
    ctes = [f"""q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qvec
       FROM embeddings WHERE vec_id IN ({inq}))""",
            """sc AS (SELECT q.qid, e.vec_id,
       round(list_cosine_similarity(e.embedding::DOUBLE[], q.qvec), 4)
         AS rel
       FROM embeddings e, q WHERE e.vec_id <> q.qid)""",
            f"""cand AS (SELECT qid, vec_id, rel FROM (
       SELECT *, row_number() OVER (PARTITION BY qid
                                    ORDER BY rel DESC, vec_id) AS rnk
       FROM sc) WHERE rnk <= {shortlist_k})""",
            """sims AS (SELECT a.qid, a.vec_id AS sa, b.vec_id AS sb,
       round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                    eb.embedding::DOUBLE[]), 4) AS sim
       FROM cand a JOIN cand b ON a.qid = b.qid AND a.vec_id <> b.vec_id
       JOIN embeddings ea ON ea.vec_id = a.vec_id
       JOIN embeddings eb ON eb.vec_id = b.vec_id)""",
            """sel1 AS (SELECT qid, vec_id, 1 AS pick, rel AS mmr FROM (
       SELECT *, row_number() OVER (PARTITION BY qid
                                    ORDER BY rel DESC, vec_id) AS rnk
       FROM cand) WHERE rnk = 1)"""]
    for t in range(2, picks + 1):
        prev = f"sel{t-1}"
        ctes.append(f"""r{t} AS (SELECT c.qid, c.vec_id, max(c.rel) AS rel,
       max(s.sim) AS maxsim
       FROM cand c
       JOIN sims s ON s.qid = c.qid AND s.sa = c.vec_id
       JOIN {prev} p ON p.qid = s.qid AND p.vec_id = s.sb
       WHERE NOT EXISTS (SELECT 1 FROM {prev} x
                         WHERE x.qid = c.qid AND x.vec_id = c.vec_id)
       GROUP BY c.qid, c.vec_id)""")
        ctes.append(f"""pk{t} AS (SELECT qid, vec_id, {t} AS pick, mmr FROM (
       SELECT qid, vec_id, {mexpr} AS mmr,
              row_number() OVER (PARTITION BY qid
                                 ORDER BY {mexpr} DESC, vec_id) AS rnk
       FROM r{t}) WHERE rnk = 1)""")
        ctes.append(f"""sel{t} AS (SELECT qid, vec_id, pick, mmr FROM {prev}
       UNION ALL SELECT qid, vec_id, pick, mmr FROM pk{t})""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT qid, vec_id, CAST(pick AS INT) AS pick, mmr "
              f"FROM sel{picks}")


def centroid_drift(emb: DataFrame, split: Column, cell_col: str = "label",
                   scale: int = 64, vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Per-cell embedding DRIFT between two corpus slices — the index-
    maintenance health check an IVF deployment runs between snapshots
    (did this cell's population move enough that the coarse quantizer
    needs retraining?) and the distribution-shift monitor a training-data
    pipeline runs between crawls. `split` is a content-stable boolean
    column (e.g. vec_id % 2, or a crawl-epoch flag): per (cell), the two
    slices' centroids are compared as drift = ||c_A - c_B||_2.

    Cross-engine-exact (the km1 discipline): vectors are quantized to the
    integer lattice floor(x*scale) once; per-slice per-dimension SUMS are
    exact BIGINTs; each centroid coordinate is ONE double division
    (sum/count — deterministic, no accumulation order); and the final
    norm folds the per-dimension squared diffs IN DIMENSION ORDER with
    F.aggregate over a sort_array'd struct array — no unordered float
    sum anywhere, so the hash gate holds.

    Output: (cell_col, n_a, n_b, drift DOUBLE round 4) — cells present
    in both slices only (a one-sided cell has no drift defined).

    Scale shape: ONE partial-agged shuffle at (cell x slice x dim)
    cardinality (map-side combine collapses each partition to that many
    rows); everything after operates on the tiny centroid table. The
    corpus itself is touched once, map-side."""
    q = emb.select(
        F.col(cell_col).alias("cell"),
        F.when(split, F.lit("a")).otherwise(F.lit("b")).alias("half"),
        F.transform(F.col(vec_col),
                    lambda x: F.floor(x.cast("double") * scale)
                    .cast("long")).alias("qv"))
    v = (q.select("cell", "half", F.posexplode("qv"))
         .select("cell", "half", (F.col("pos") + 1).alias("d"),
                 F.col("col").alias("v")))
    agg = v.groupBy("cell", "half", "d").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    a = agg.where(F.col("half") == "a") \
           .select("cell", "d", F.col("s").alias("sa"),
                   F.col("n").alias("na"))
    b = agg.where(F.col("half") == "b") \
           .select("cell", "d", F.col("s").alias("sb"),
                   F.col("n").alias("nb"))
    j = a.join(b, ["cell", "d"])
    diffs = (j.withColumn("_diff", F.col("sa") / F.col("na")
                          - F.col("sb") / F.col("nb"))
             .groupBy("cell")
             .agg(F.max("na").alias("n_a"), F.max("nb").alias("n_b"),
                  F.sort_array(F.collect_list(
                      F.struct(F.col("d"), F.col("_diff")))).alias("ds")))
    drift = F.round(F.sqrt(F.aggregate(
        F.col("ds"), F.lit(0.0).cast("double"),
        lambda acc, s: acc + s._diff * s._diff)), 4)
    return diffs.select(F.col("cell").alias(cell_col), "n_a", "n_b",
                        drift.alias("drift"))


def ivf_multiprobe(emb: DataFrame, query: DataFrame, k: int = 10,
                   nprobe: int = 2, scale: int = 64,
                   cell_col: str = "label", vec_col: str = "embedding",
                   id_col: str = "vec_id") -> DataFrame:
    """Multi-probe IVF search: rank the coarse cells by distance from
    the query to each cell's CENTROID and scan the `nprobe` nearest —
    the standard recall knob between 1-probe IVF (an2, fast but blind
    to cell-boundary neighbors) and brute force (an1). A query sitting
    near a Voronoi boundary finds its across-the-border neighbors at
    nprobe=2 without paying the full scan.

    Cross-engine-exact cell ranking via km1's integer lattice: vectors
    quantize to floor(x*scale) once; centroids are floor(sum/count) per
    (cell, dim) — the double division is exact-floor (|sum| << 2^53);
    query→centroid distances are integer sums of squares; ties break on
    the smaller cell id. The final scoring inside probed cells is the
    an1/an2 exact cosine (round 4).

    Scale shape (100 TB): the centroid table is (cells x dim) rows —
    built by ONE exploded partial agg over the corpus, then broadcast;
    cell ranking is queries x cells (broadcast-sized); the probe scan
    touches only nprobe cells' partitions (the corpus is written
    partitioned by cell, so this prunes FILES, not just rows), and the
    per-query top-k is a keyed window over probed rows only."""
    from pyspark.sql import Window

    qz = F.transform(F.col(vec_col),
                     lambda x: F.floor(x.cast("double") * scale)
                     .cast("long"))
    ex = (emb.select(F.col(cell_col).alias("cell"), qz.alias("qv"))
          .select("cell", F.posexplode("qv"))
          .select("cell", (F.col("pos") + 1).alias("d"),
                  F.col("col").alias("v")))
    cent = (ex.groupBy("cell", "d")
            .agg(F.floor(F.sum("v").cast("double") / F.count("*"))
                 .cast("long").alias("cv")))
    qx = (query.select(F.col(id_col).alias("qid"), qz.alias("qv"))
          .select("qid", F.posexplode("qv"))
          .select("qid", (F.col("pos") + 1).alias("d"),
                  F.col("col").alias("qval")))
    d2 = (qx.join(F.broadcast(cent), "d")
          .groupBy("qid", "cell")
          .agg(F.sum((F.col("qval") - F.col("cv"))
                     * (F.col("qval") - F.col("cv"))).alias("d2")))
    w_cell = Window.partitionBy("qid").orderBy("d2", "cell")
    probes = (d2.withColumn("rk", F.row_number().over(w_cell))
              .where(F.col("rk") <= nprobe).select("qid", "cell"))
    q = query.select(F.col(id_col).alias("qid"),
                     F.col(vec_col).alias("qvec"))
    scored = (emb.join(F.broadcast(probes),
                       F.col(cell_col) == F.col("cell"))
              .join(F.broadcast(q), "qid")
              .where(F.col(id_col) != F.col("qid"))
              .select("qid", F.col(id_col),
                      F.round(cosine_col(
                          F.col(vec_col).cast("array<double>"),
                          F.col("qvec").cast("array<double>")), 4)
                      .alias("cosine")))
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.col(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .where(F.col("rnk") <= k)
            .select("qid", id_col, "cosine",
                    F.col("rnk").cast("long").alias("rnk")))


def ivf_recall_curve(emb: DataFrame, query: DataFrame, k: int = 10,
                     max_nprobe: int = 4, scale: int = 64,
                     cell_col: str = "label", vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """Recall@k vs nprobe for multi-probe IVF — the curve a serving
    engineer reads to pick an15's nprobe (the dd16/px17 planning
    pattern: measure the knob before committing it): for every
    nprobe in 1..max_nprobe, the mean fraction of the TRUE top-k
    (brute-force cosine, an1 semantics) recovered by scanning that many
    centroid-ranked cells. Output: (nprobe, n_queries, mean_recall).

    One pass each: centroid build + cell ranking (ivf_multiprobe's
    integer-lattice machinery, rank kept as cell_rk instead of
    filtered), ONE probed-cell scoring pass reused by every nprobe
    (the candidate set for nprobe=j is a prefix of the cell ranking, so
    smaller probes are filters over the same scored rows — no
    re-scoring), one brute-force truth pass over the query set, and a
    broadcast nprobe grid. The final windows run per (query, nprobe) on
    probed rows only. n_queries is a driver-side count of the (small by
    contract) query set."""
    from pyspark.sql import Window

    qz = F.transform(F.col(vec_col),
                     lambda x: F.floor(x.cast("double") * scale)
                     .cast("long"))
    ex = (emb.select(F.col(cell_col).alias("cell"), qz.alias("qv"))
          .select("cell", F.posexplode("qv"))
          .select("cell", (F.col("pos") + 1).alias("d"),
                  F.col("col").alias("v")))
    cent = (ex.groupBy("cell", "d")
            .agg(F.floor(F.sum("v").cast("double") / F.count("*"))
                 .cast("long").alias("cv")))
    qx = (query.select(F.col(id_col).alias("qid"), qz.alias("qv"))
          .select("qid", F.posexplode("qv"))
          .select("qid", (F.col("pos") + 1).alias("d"),
                  F.col("col").alias("qval")))
    d2 = (qx.join(F.broadcast(cent), "d")
          .groupBy("qid", "cell")
          .agg(F.sum((F.col("qval") - F.col("cv"))
                     * (F.col("qval") - F.col("cv"))).alias("d2")))
    w_cell = Window.partitionBy("qid").orderBy("d2", "cell")
    probes = (d2.withColumn("cell_rk", F.row_number().over(w_cell))
              .where(F.col("cell_rk") <= max_nprobe)
              .select("qid", "cell", "cell_rk"))
    q = query.select(F.col(id_col).alias("qid"),
                     F.col(vec_col).alias("qvec"))
    cos = F.round(cosine_col(F.col(vec_col).cast("array<double>"),
                             F.col("qvec").cast("array<double>")), 4)
    scored = (emb.join(F.broadcast(probes),
                       F.col(cell_col) == F.col("cell"))
              .join(F.broadcast(q), "qid")
              .where(F.col(id_col) != F.col("qid"))
              .select("qid", F.col(id_col), "cell_rk",
                      cos.alias("cosine"))
              .localCheckpoint(eager=False))
    truth = (emb.crossJoin(F.broadcast(q))
             .where(F.col(id_col) != F.col("qid"))
             .select("qid", F.col(id_col), cos.alias("cosine")))
    w_q = Window.partitionBy("qid").orderBy(F.desc("cosine"),
                                            F.col(id_col))
    truth_k = (truth.withColumn("rnk", F.row_number().over(w_q))
               .where(F.col("rnk") <= k).select("qid", id_col))
    spark = emb.sparkSession
    nq = query.count()
    nps = spark.createDataFrame([(j,) for j in range(1, max_nprobe + 1)],
                                "np int")
    w_qn = Window.partitionBy("qid", "np").orderBy(F.desc("cosine"),
                                                   F.col(id_col))
    topk = (scored.crossJoin(F.broadcast(nps))
            .where(F.col("cell_rk") <= F.col("np"))
            .withColumn("rnk", F.row_number().over(w_qn))
            .where(F.col("rnk") <= k)
            .select("np", "qid", id_col))
    hits = (topk.join(truth_k, ["qid", id_col])
            .groupBy("np").agg(F.count(F.lit(1)).alias("c")))
    return (nps.join(hits, "np", "left")
            .select(F.col("np").alias("nprobe"),
                    F.lit(nq).cast("long").alias("n_queries"),
                    F.round(F.coalesce(F.col("c"), F.lit(0))
                            / F.lit(float(nq * k)), 4)
                    .alias("mean_recall")))


def farthest_first_centers(emb: DataFrame, k: int = 4, scale: int = 64,
                           vec_col: str = "embedding",
                           id_col: str = "vec_id") -> DataFrame:
    """Deterministic farthest-first k-center seeding (Gonzalez 1985 —
    the 2-approximation k-center traversal, and the deterministic
    stand-in for k-means++'s D^2 sampling): start from the minimum
    vec_id, then k-1 times add the vector farthest (exact integer L2 on
    the km1 lattice) from the chosen set, ties to the smaller id.
    Output one row per center: (rk, vec_id, sel_d2 = its min-distance
    to the previously-chosen set at selection time, radius = the final
    max-min coverage distance — the k-center objective). This is the
    init-quality step a serving team runs BEFORE km1's Lloyd rounds: a
    bad seed shows up as a large radius here, not three iterations in.

    Scale shape: per round, ONE distance pass (corpus joined to the
    single new center's broadcast dims, min-merged into the running
    min-distance column — the classic O(nk) traversal) and one global
    top-1 (TakeOrderedAndProject). Driver state is k (id, d2) scalars —
    bounded by k, never data-proportional. The min-distance frame is
    checkpointed per round (iterative-lineage discipline). All
    distances are exact BIGINTs; no floats anywhere until none."""
    from pyspark.sql import Row

    qz = F.transform(F.col(vec_col),
                     lambda x: F.floor(x.cast("double") * scale)
                     .cast("long"))
    v = (emb.select(F.col(id_col).alias("vid"), qz.alias("qv"))
         .select("vid", F.posexplode("qv"))
         .select("vid", (F.col("pos") + 1).alias("d"),
                 F.col("col").alias("v"))
         .localCheckpoint(eager=True))

    def dist_to(center_id) -> DataFrame:
        c = v.where(F.col("vid") == center_id) \
             .select("d", F.col("v").alias("cv"))
        return (v.join(F.broadcast(c), "d")
                .groupBy("vid")
                .agg(F.sum((F.col("v") - F.col("cv"))
                           * (F.col("v") - F.col("cv"))).alias("d2")))

    first = emb.agg(F.min(id_col)).first()[0]
    chosen = [(1, first, 0)]
    mind = dist_to(first).localCheckpoint(eager=True)
    for rk in range(2, k + 1):
        top = (mind.where(~F.col("vid").isin([c[1] for c in chosen]))
               .orderBy(F.desc("d2"), "vid").limit(1).first())
        chosen.append((rk, top["vid"], int(top["d2"])))
        nd = dist_to(top["vid"]).select("vid", F.col("d2").alias("nd2"))
        mind = (mind.join(nd, "vid")
                .select("vid", F.least("d2", "nd2").alias("d2"))
                .localCheckpoint(eager=True))
    radius = int(mind.agg(F.max("d2")).first()[0])
    spark = emb.sparkSession
    out = spark.createDataFrame(
        [Row(rk=r, vec_id=i, sel_d2=d) for r, i, d in chosen],
        "rk int, vec_id long, sel_d2 long")
    return out.withColumn("radius", F.lit(radius).cast("long"))
