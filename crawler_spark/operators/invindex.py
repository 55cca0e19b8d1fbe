"""Distributed inverted-index build + conjunctive retrieval (ix1/ix2).

The search-index layer a crawl corpus feeds (reference parity: the
reference engine hands pages to downstream indexers via gRPC streaming —
scan.rs:40-62 — and never builds the index itself; at 100 TB the index
build IS the dominant downstream job, so the engine owns it here).

Build shape (the textbook two-phase MapReduce index, expressed
declaratively so Catalyst keeps both aggregations partial):

  explode(tokens)                       -- map-side, narrow
  -> groupBy(term, doc_id).count()      -- shuffle 1: tf, partial-agged
  -> groupBy(term).agg(df, postings)    -- shuffle 2: term-cardinality

Both shuffles carry partial aggregation (map-side combine absorbs the
Zipf term skew before the wire: a stop-word's per-partition counts
collapse to one row per task per term). Postings are kept VERIFIABLE,
not opaque: the per-term digest is md5 over the doc_id-sorted
"doc:tf" string, which DuckDB reproduces exactly — so the driver's hash
gate pins the full postings content, not just the term stats.

At the 10^10-doc design point the term dictionary is Zipf: the groupBy
keys are (term, doc_id) first — no single reducer sees a stop-word's
full posting list until it has been combined to one row per doc — and
the final term-level agg handles the head terms with AQE skew splitting.
Output is term-cardinality (~millions), 4-5 orders below corpus rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def tokens_col(text):
    """Lowercased whitespace tokens, empties dropped — the shared
    tokenizer contract with the DuckDB twin (split on \\s+ over trimmed
    text, lower). Punctuation stays attached: normalization choices are
    an index consumer's policy, determinism is the gate's requirement."""
    return F.filter(F.split(F.lower(F.trim(text)), r"\s+"),
                    lambda t: t != "")


def build_index(docs: DataFrame, doc_id: str = "doc_id",
                text: str = "text") -> DataFrame:
    """(doc_id, text) -> (term, df, total_tf, max_tf, postings_md5):
    one row per vocabulary term with document frequency, corpus term
    frequency, the max single-document tf, and the md5 digest of the
    doc_id-ascending "doc:tf doc:tf ..." postings string."""
    tf = (docs.select(F.col(doc_id).alias("doc_id"),
                      F.explode(tokens_col(F.col(text))).alias("term"))
          .groupBy("term", "doc_id")
          .agg(F.count(F.lit(1)).alias("tf")))
    posting = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct("doc_id", "tf"))),
            lambda s: F.concat(s.getField("doc_id").cast("string"),
                               F.lit(":"),
                               s.getField("tf").cast("string"))), " ")
    return (tf.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 F.sum("tf").alias("total_tf"),
                 F.max("tf").alias("max_tf"),
                 F.md5(posting).alias("postings_md5")))


def conjunctive_search(docs: DataFrame, terms: list[str],
                       doc_id: str = "doc_id",
                       text: str = "text") -> DataFrame:
    """Boolean AND retrieval over the index: documents containing ALL
    query terms, ranked by summed tf (desc, doc_id asc tie-break).
    Returns (doc_id, score, n_terms).

    Scale shape: the postings fragments for the |q| query terms are
    selected FIRST (an IN filter the scan pushes down after the explode
    — at index-serving time this is a key lookup, not a corpus scan),
    then one partial-agged groupBy(doc_id) counts matched terms; the
    HAVING count = |q| is the intersection. No join against the query
    set is needed at all — the literal IN list ships with the task."""
    q = [t.lower() for t in terms]
    tf = (docs.select(F.col(doc_id).alias("doc_id"),
                      F.explode(tokens_col(F.col(text))).alias("term"))
          .where(F.col("term").isin(q))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    return (tf.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum("tf").alias("score"))
            .where(F.col("n_terms") == len(q))
            .select("doc_id", "score", "n_terms"))


def phrase_search(docs: DataFrame, phrase: list[str],
                  doc_id: str = "doc_id",
                  text: str = "text") -> DataFrame:
    """Exact phrase retrieval via positional postings — the inverted
    index's second serving primitive (conjunctive AND cannot distinguish
    "new york" from "york new"). Returns (doc_id, n_occurrences) for
    documents containing the token-exact phrase, overlaps counted.

    Algorithm (the positional-index coverage trick, NOT a |q|-way
    self-join): posexplode tokens, keep rows whose term occurs in the
    phrase, and for every phrase offset i the term matches emit a
    candidate start = pos - i. A start position is a real occurrence iff
    ALL |q| offsets produced it — and since (doc, pos) is unique and
    pos = start + i, each offset contributes at most one row per
    (doc, start), so a plain partial-agged count == |q| is the coverage
    test. One shuffle on (doc, start) + one on doc; a repeated phrase
    token costs extra candidate rows, never an extra join.

    At the 10^10-doc design point the phrase-term filter is the
    postings-fragment key lookup (the IN list ships with the task) and
    both aggregations combine map-side — no stage sees more than the
    matched postings."""
    q = [t.lower() for t in phrase]
    n = len(q)
    # literal (offset, token) table, filtered per row to the offsets the
    # row's term matches — pure column algebra, no join
    offsets = F.filter(
        F.array(*[F.struct(F.lit(i).alias("i"), F.lit(t).alias("t"))
                  for i, t in enumerate(q)]),
        lambda s: s.getField("t") == F.col("term"))
    tok = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.posexplode(tokens_col(F.col(text))).alias("pos", "term"))
    starts = (tok.where(F.col("term").isin(q))
              # generators must be top-level select items: explode to a
              # column, then derive start in a sibling projection
              .select("doc_id", "pos", F.explode(offsets).alias("off"))
              .select("doc_id",
                      (F.col("pos") - F.col("off.i")).alias("start")))
    return (starts.groupBy("doc_id", "start")
            .agg(F.count(F.lit(1)).alias("k"))
            .where(F.col("k") == n)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_occurrences")))


def vocab_ids(index: DataFrame, n_parts: int = 8) -> DataFrame:
    """Dense term-id assignment over the ix1 index — the tokenizer-vocab
    step of an LLM data pipeline (ids by df descending, term ascending
    tie-break, so id 0 is the most common term and the mapping is
    content-stable).

    A naive row_number() over a global ORDER BY is one task; here the
    total order comes from the px3 two-phase shape (`global_rank`): a
    pure monotone block id from driver-frozen boundary literals (NOT
    repartitionByRange+spark_partition_id, whose runtime-sampled
    boundaries can disagree between the local-rank and offset plan
    branches — the st7-class race), block-local row_number, then a
    broadcast n_parts-row prefix-sum offset table. The only single-task
    structure is that offset table. (df desc, term asc) is total — term
    is unique — so ids are deterministic for any boundary placement."""
    from crawler_spark.operators.sampling import global_rank
    ranked = global_rank(index, [F.col("df"), F.col("term")],
                         n_blocks=n_parts, out_col="_rn",
                         desc=[True, False])
    return ranked.select("term", "df",
                         (F.col("_rn") - 1).cast("long").alias("term_id"))


def postings_gap_stats(docs: DataFrame, doc_id: str = "doc_id",
                       text: str = "text") -> DataFrame:
    """Per-term delta-gap compression statistics over the ix1 postings —
    the storage-planning pass an index build runs before writing
    compressed posting lists (d-gap + varint/LEB128 is the classic
    layout: Manning/Raghavan/Schütze IR ch. 5). For each term, postings
    sort by doc_id and each id is replaced by its gap from the previous
    (the first id encodes as doc_id + 1 so a 0 id still costs >= 1).
    Emits exact-integer byte accounting: raw 8-byte ids vs LEB128 varint
    bytes (ceil(bitlen/7) per gap), so `ratio` is the measured
    compression the layout would achieve on THIS corpus.

    Scale shape: ONE (term, doc_id) partial-agged tf shuffle (the ix1
    build shuffle), a lag window partitioned BY TERM (postings of one
    term co-locate — the same placement any postings writer needs; Zipf
    head terms are the known skew and AQE handles the final rollup),
    then one partial-agged groupBy(term) of integer sums. No arrays are
    materialized — gaps stream through the window row-by-row, unlike a
    collect_list which would hold a stop-word's full posting list in one
    task's heap.

    Cross-engine exactness: gaps, bit lengths (length(bin(g))), varint
    byte counts, and sums are all BIGINT algebra; the single float is
    the final round(varint/raw, 4)."""
    from pyspark.sql import Window
    postings = (docs.select(F.col(doc_id).alias("doc_id"),
                            F.explode(tokens_col(F.col(text)))
                            .alias("term"))
                .groupBy("term", "doc_id")
                .agg(F.count(F.lit(1)).alias("tf")))
    w = Window.partitionBy("term").orderBy("doc_id")
    gap = (F.col("doc_id")
           - F.lag("doc_id", 1, -1).over(w)).cast("long")
    bits = F.length(F.bin(gap)).cast("long")
    g = postings.select("term", gap.alias("gap"),
                        ((bits + 6) / 7).cast("long").alias("vbytes"))
    return (g.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"),
                 F.max("gap").cast("long").alias("max_gap"),
                 F.sum("vbytes").cast("long").alias("varint_bytes"),
                 (F.count(F.lit(1)) * 8).cast("long").alias("raw_bytes"),
                 F.round(F.sum("vbytes").cast("double")
                         / (F.count(F.lit(1)) * 8), 4).alias("ratio")))


def proximity_rank(docs: DataFrame, terms: list[str],
                   doc_id: str = "doc_id",
                   text: str = "text") -> DataFrame:
    """Minimal-cover proximity scoring (the MinCover span of Tao & Zhai,
    SIGIR 2007): for documents containing ALL query terms, the length of
    the smallest token window covering every distinct term at least once
    — the ranking signal that separates "terms scattered across 5
    paragraphs" from "terms in one sentence", which tf-based scores
    (ix2/tx11) cannot see. Returns (doc_id, best_window, n_hits);
    best_window = |q| exactly when the terms appear adjacent in some
    order.

    Algorithm — the positional sweep, NOT a |q|-way position self-join:
    posexplode once, keep query-term hits, and per hit compute each
    term's LAST position up to here with one running-max window per
    term (all |q| windows share a single partition-by-doc sort). The
    window ending at pos has length pos - least(last_1..last_k) + 1
    where every last_i is non-null; the document's score is the min
    over its hits. One shuffle on doc_id; the per-term running maxes
    are O(|q|) state per row, so a 10^10-doc corpus pays the matched
    postings only — the same fragment-lookup bound as phrase_search.
    """
    q = sorted({t.lower() for t in terms})
    tok = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.posexplode(tokens_col(F.col(text))).alias("pos", "term"))
    hits = tok.where(F.col("term").isin(q))
    w = (Window.partitionBy("doc_id").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    lasts = [F.max(F.when(F.col("term") == t, F.col("pos"))).over(w)
             for t in q]
    low = lasts[0] if len(lasts) == 1 else F.least(*lasts)
    span = (F.col("pos") - low + 1).cast("long")
    covered = hits.select(
        "doc_id",
        F.when(sum(l.isNull().cast("int") for l in lasts) == 0, span)
         .alias("span"))
    return (covered.groupBy("doc_id")
            .agg(F.min("span").alias("best_window"),
                 F.count(F.lit(1)).cast("long").alias("n_hits"))
            .where(F.col("best_window").isNotNull()))


def proximity_oracle_sql(terms: list[str]) -> str:
    """DuckDB twin of proximity_rank over the documents view: identical
    per-term running-max windows and min-span rollup."""
    q = sorted({t.lower() for t in terms})
    lasts = [(f"max(CASE WHEN term = '{t}' THEN pos END) "
              f"OVER (PARTITION BY doc_id ORDER BY pos) AS l{i}")
             for i, t in enumerate(q)]
    least = ("l0" if len(q) == 1 else
             "least(" + ", ".join(f"l{i}" for i in range(len(q))) + ")")
    notnull = " AND ".join(f"l{i} IS NOT NULL" for i in range(len(q)))
    inlist = ", ".join(f"'{t}'" for t in q)
    return f"""
WITH w AS (SELECT doc_id,
                list_filter(regexp_split_to_array(trim(lower(text)),
                            '\\s+'), x -> x <> '') AS w
           FROM documents),
tok AS (SELECT doc_id, unnest(w) AS term,
               CAST(unnest(range(1, len(w) + 1)) AS BIGINT) - 1 AS pos
        FROM w),
hits AS (SELECT doc_id, term, pos FROM tok WHERE term IN ({inlist})),
lw AS (SELECT doc_id, pos, {', '.join(lasts)} FROM hits),
sp AS (SELECT doc_id,
              CASE WHEN {notnull} THEN pos - {least} + 1 END AS span
       FROM lw)
SELECT doc_id, CAST(min(span) AS BIGINT) AS best_window,
       CAST(count(*) AS BIGINT) AS n_hits
FROM sp GROUP BY doc_id
HAVING min(span) IS NOT NULL
"""


def rrf_fusion(runs: list[DataFrame], id_col: str = "doc_id",
               score_col: str = "score", k_list: int = 50,
               c: int = 60) -> DataFrame:
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher, SIGIR 2009)
    — the standard hybrid-retrieval combiner: each run contributes
    1/(c + rank) for ids inside its top-`k_list`, summed across runs.
    The fusion modern search stacks put between a lexical ranker
    (tx11/ix7) and a dense ANN ranker (an1/an2): rank-based, so the
    incomparable score scales never need calibration.

    Output: (id, r0..r{n-1} INT with -1 for "not in this run's list",
    rrf DOUBLE rounded 6). The rrf sum is written in fixed run order —
    cross-engine floats stay bit-stable because the addition order is
    textual, never data-dependent.

    Scale shape: each run's top-k comes from orderBy(...).limit(k) —
    TakeOrderedAndProject, per-partition heaps, no global sort. The
    within-list rank window then runs over k_list rows (k-bounded by
    construction — the same deliberately-tiny SinglePartition the px3
    offset table uses). Fusion joins are k-row full-outers."""
    ranked = []
    for i, r in enumerate(runs):
        top = r.orderBy(F.desc(score_col), id_col).limit(k_list)
        w = Window.orderBy(F.desc(score_col), F.col(id_col))
        ranked.append(top.withColumn(f"r{i}", F.row_number().over(w)
                                     .cast("int"))
                      .select(id_col, f"r{i}"))
    out = ranked[0]
    for nxt in ranked[1:]:
        out = out.join(nxt, id_col, "full_outer")
    term = None
    for i in range(len(runs)):
        t = F.coalesce(1.0 / (F.lit(c) + F.col(f"r{i}")), F.lit(0.0))
        term = t if term is None else term + t
    return out.select(
        id_col,
        *[F.coalesce(F.col(f"r{i}"), F.lit(-1)).cast("int").alias(f"r{i}")
          for i in range(len(runs))],
        F.round(term, 6).alias("rrf"))


def champion_search(docs: DataFrame, terms: list[str], r: int = 15,
                    n_salt: int = 16, doc_id: str = "doc_id",
                    text: str = "text") -> DataFrame:
    """Champion-list (impact-ordered postings) retrieval — the classic
    index-pruning optimization (IIR §7.1.3, Manning et al.): each query
    term keeps only its top-`r` documents by tf ("champions"); scoring
    touches the union of champion lists instead of full posting lists,
    bounding serving cost by |q|*r no matter how long a stop-word's
    postings are. Ties break (tf desc, doc_id asc) so the lists are
    deterministic across engines and partitionings.

    Output: (doc_id, score BIGINT = summed champion tf, n_champ INT =
    #query terms whose champion list contains the doc).

    Scale shape: term-filtered postings only (the IN-list sits before
    the tf shuffle); per-term top-r is the few-huge-keys window regime
    (a stop-word's postings = one key), so a SALTED two-phase top-r
    runs first — per (term, salt-of-doc) top-r in parallel, then the
    true per-term top-r over <= n_salt*r survivors (selection-equal:
    the global top-r is contained in the union of per-salt top-rs, the
    same argument as the politeness pre-prune in operators/politeness).
    Final rollup is doc-keyed at |q|*r rows."""
    qt = sorted({t.lower() for t in terms})
    tf = (docs.select(F.col(doc_id).alias("doc_id"),
                      F.explode(tokens_col(F.col(text))).alias("term"))
          .where(F.col("term").isin(qt))
          .groupBy("term", "doc_id")
          .agg(F.count(F.lit(1)).alias("tf")))
    w_salt = Window.partitionBy("term", "_s").orderBy(F.desc("tf"),
                                                      "doc_id")
    pruned = (tf.withColumn("_s", F.pmod(F.xxhash64("doc_id"),
                                         F.lit(n_salt)))
              .withColumn("_rn", F.row_number().over(w_salt))
              .where(F.col("_rn") <= r).drop("_rn", "_s"))
    w_term = Window.partitionBy("term").orderBy(F.desc("tf"), "doc_id")
    champ = (pruned.withColumn("_rn", F.row_number().over(w_term))
             .where(F.col("_rn") <= r))
    return (champ.groupBy("doc_id")
            .agg(F.sum("tf").cast("long").alias("score"),
                 F.count(F.lit(1)).cast("int").alias("n_champ")))


def proximity_search(docs: DataFrame, term_a: str, term_b: str,
                     k: int = 8, doc_id: str = "doc_id",
                     text: str = "text") -> DataFrame:
    """Proximity retrieval (the NEAR/k operator, IIR §2.4.2): documents
    where `term_a` and `term_b` occur within `k` token positions, with
    the qualifying pair count and the minimum distance — the third
    serving primitive after conjunctive AND (ix2) and exact phrase
    (ix3): phrase is too strict for "spark ... shuffle" queries, AND is
    too loose.

    Scale shape — the j8 bucket-expansion idiom applied to token
    positions instead of timestamps: positions of each term come from
    ONE posexplode pass; the b side fans out to its 3 adjacent
    width-k buckets; the pair generator is a plain EQUI-join on
    (doc, bucket) (|pa-pb| <= k implies bucket distance <= 1, and each
    qualifying pair matches exactly once — on pa's own bucket), then a
    map-side distance filter and a partial-agged per-doc rollup. Never
    the per-doc cross product of position lists, whose worst case is
    quadratic in a term's in-doc frequency.

    Output: (doc_id, n_pairs BIGINT, min_dist BIGINT), matched docs
    only."""
    ta, tb = term_a.lower(), term_b.lower()
    tok = docs.select(
        F.col(doc_id).alias("doc_id"),
        F.posexplode(tokens_col(F.col(text))).alias("pos", "term"))
    a = tok.where(F.col("term") == ta) \
           .select("doc_id", F.col("pos").alias("pa"),
                   F.floor(F.col("pos") / k).alias("bk"))
    b = (tok.where(F.col("term") == tb)
         .select("doc_id", F.col("pos").alias("pb"),
                 F.explode(F.array(
                     F.floor(F.col("pos") / k) - 1,
                     F.floor(F.col("pos") / k),
                     F.floor(F.col("pos") / k) + 1)).alias("bk")))
    pairs = (a.join(b, ["doc_id", "bk"])
             .where(F.abs(F.col("pa") - F.col("pb")) <= k))
    return (pairs.groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.min(F.abs(F.col("pa") - F.col("pb"))).cast("long")
                 .alias("min_dist")))


def vsm_cosine(docs: DataFrame, terms: list[str], doc_id: str = "doc_id",
               text_col: str = "text") -> DataFrame:
    """Vector-space-model retrieval (Salton's VSM, the tf-idf ranking
    sitting between BM25 — tx11 — and the LM ranker — ix7): cosine
    between each document's full tf-idf vector and the query's, with
    smooth idf = ln((N+1)/(df+1)) + 1 (the sklearn/Lucene-classic form,
    strictly positive so stop-words still contribute to norms). Query
    weights are the terms' own idf (tf=1 per query term). Output:
    (doc_id, cosine round 4) for every matching doc.

    Scale shape (100 TB): tf is ONE partial-agged (term, doc) shuffle
    (the index build's shuffle 1, reusable); df is a term-cardinality
    rollup joined back on the SAME term hashing; the per-doc norm is an
    even doc-keyed rollup over the full vector (computed once, amortized
    across every query against the corpus); the query side is a
    broadcast of |Q| rows, so scoring never reshuffles the corpus — the
    dot product reuses the (term, doc) layout and rolls up by doc."""
    toks = docs.select(doc_id,
                       F.explode(tokens_col(F.col(text_col))).alias("term"))
    tf = toks.groupBy(doc_id, "term").agg(F.count(F.lit(1)).alias("tf"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    dfv = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    idf = F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) + 1.0
    wtd = (tf.join(dfv, "term").crossJoin(F.broadcast(n))
           .select(doc_id, "term", (F.col("tf") * idf).alias("w")))
    norms = wtd.groupBy(doc_id).agg(F.sqrt(F.sum(F.col("w") * F.col("w")))
                                    .alias("dnorm"))
    qw = (dfv.where(F.col("term").isin(list(terms)))
          .crossJoin(F.broadcast(n)).select("term", idf.alias("qw")))
    qn = qw.agg(F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qnorm"))
    dots = (wtd.join(F.broadcast(qw), "term")
            .groupBy(doc_id).agg(F.sum(F.col("w") * F.col("qw"))
                                 .alias("dot")))
    return (dots.join(norms, doc_id).crossJoin(F.broadcast(qn))
            .select(doc_id,
                    F.round(F.col("dot") / (F.col("dnorm") * F.col("qnorm")),
                            4).alias("cosine")))


def wand_upper_bounds(docs: DataFrame, doc_id: str = "doc_id",
                      text_col: str = "text",
                      k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Per-term BM25 score upper bounds — the precomputed max-impact
    table WAND / MaxScore dynamic pruning needs (Broder et al., CIKM
    2003; Ding & Suel's Block-Max refinement): for every vocabulary
    term, the maximum BM25 contribution any single posting can add to a
    document's score. A query processor sums the query terms' bounds to
    skip documents that cannot reach the current top-k threshold — the
    difference between scoring every posting and scoring ~1% of them on
    a web-scale index.

    Output: (term, df, max_tf, ub_bm25) with ub_bm25 = idf(term) *
    max over postings of tf(k1+1) / (tf + k1(1-b+b*dl/avgdl)). idf is
    constant per term, so the max is taken over the idf-free per-posting
    factor and multiplied once — both engines evaluate the identical
    IEEE expression per posting, and MAX (unlike SUM) is order-exact, so
    round(4) sits on bit-identical doubles.

    Scale shape (100 TB): reuses the index build's (term, doc) partial-
    agged tf shuffle; (n, avgdl) is a broadcast 1-row scalar; the bound
    itself is a term-cardinality rollup — no postings ever re-shuffle
    and nothing is ever sorted. Mergeable: per-split (df, max_tf, max_c)
    combine by sum/max/max, so the table maintains incrementally as
    index segments land."""
    w = docs.select(F.col(doc_id).alias("doc_id"),
                    tokens_col(F.col(text_col)).alias("w"))
    g = w.agg(F.count(F.lit(1)).alias("n"),
              F.avg(F.size("w")).alias("avgdl"))
    tf = (w.select("doc_id", F.size("w").alias("dl"),
                   F.explode("w").alias("term"))
          .groupBy("term", "doc_id", "dl")
          .agg(F.count(F.lit(1)).alias("tf")))
    c = (F.col("tf") * (k1 + 1.0)
         / (F.col("tf") + k1 * ((1.0 - b) + b * F.col("dl")
                                / F.col("avgdl"))))
    a = (tf.crossJoin(F.broadcast(g))
         .groupBy("term")
         .agg(F.count(F.lit(1)).cast("long").alias("df"),
              F.max("tf").cast("long").alias("max_tf"),
              F.max(c).alias("_maxc"),
              F.max("n").alias("_n")))
    idf = F.log(1.0 + (F.col("_n") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    return a.select("term", "df", "max_tf",
                    F.round(idf * F.col("_maxc"), 4).alias("ub_bm25"))


def ndcg_at_k(docs: DataFrame, terms: tuple[str, ...],
              k: int = 10, text_col: str = "text") -> DataFrame:
    """NDCG@k of the BM25 ranking against graded term-coverage relevance
    (Järvelin & Kekäläinen, TOIS 2002) — the ranking-quality eval that
    closes the retrieval stack (rankers ix7/ix11/ix13, bounds ix14; this
    grades them): rel(d) = number of DISTINCT query terms present
    (0..|terms|, the deterministic pseudo-label), gain = 2^rel - 1,
    discount = log2(rank + 1). `docs` carries `doc_id` (bm25_scores keys
    on it). Output per rank r <= k: (rnk, doc_id, rel, dcg, ndcg) with
    running DCG and NDCG@r = DCG@r / IDCG@r.

    Exactness discipline: gains are INTEGER (shiftleft, no libm pow);
    only log2 of the eleven small rank integers and the final round(4)
    touch floats, and the cumulative sums run in pinned rank order (a
    window ordered by rnk, never an unordered aggregate). Both top-k
    selections are TakeOrderedAndProject (global sort-limit, no
    single-partition corpus window); the rank windows then run over the
    k selected rows only — by-design tiny."""
    from pyspark.sql import Window
    from crawler_spark.functions.text import bm25_scores

    scores = bm25_scores(docs, F.col(text_col), terms)
    wsplit = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    rel = docs.select(
        "doc_id",
        F.size(F.array_intersect(
            F.array_distinct(wsplit),
            F.array(*[F.lit(t) for t in terms]))).cast("long").alias("rel"))
    cand = scores.join(rel, "doc_id")
    gain = (F.expr("shiftleft(1L, cast(rel as int))") - 1).cast("double")

    def run(top: DataFrame, order_cols) -> DataFrame:
        w_rk = Window.orderBy(*order_cols)
        cum = Window.orderBy("rnk").rowsBetween(
            Window.unboundedPreceding, Window.currentRow)
        return (top.withColumn("rnk", F.row_number().over(w_rk))
                .withColumn("g", gain / F.log2(F.col("rnk") + 1))
                .withColumn("cum", F.sum("g").over(cum)))

    ranked = run(cand.orderBy(F.desc("bm25"), "doc_id").limit(k),
                 [F.desc("bm25"), F.col("doc_id")])
    ideal = run(cand.orderBy(F.desc("rel"), "doc_id").limit(k),
                [F.desc("rel"), F.col("doc_id")]) \
        .select(F.col("rnk").alias("irnk"), F.col("cum").alias("icum"))
    return (ranked.join(ideal, ranked["rnk"] == ideal["irnk"])
            .select(F.col("rnk").cast("long"), "doc_id",
                    F.col("rel").cast("int").alias("rel"),
                    F.round("cum", 4).alias("dcg"),
                    F.round(F.col("cum") / F.col("icum"), 4)
                    .alias("ndcg")))
