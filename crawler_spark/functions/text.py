"""Text-analysis functions for training-data pipelines: language-ID,
quality scoring, token counting, fingerprinting — all pure
`pyspark.sql.functions` column algebra (codegen, no UDFs), each with an
ANSI-SQL oracle twin in crawler_spark/queries.py."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

# tiny per-language marker lists (n-gram heuristic; deterministic)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and"),
    "fr": ("le", "la", "et", "les"),
    "de": ("der", "die", "und", "das"),
    "es": ("el", "los", "y", "las"),
}


def marker_hits_col(text: Column, markers: tuple[str, ...]) -> Column:
    """Count of whitespace-split words equal to any marker (whole-word
    token match) — ONE split + one filter pass, identical semantics to the
    DuckDB twin's list_filter(... w IN (...))."""
    w = F.split(F.trim(text), r"\s+")
    return F.size(F.filter(w, lambda x: x.isin(*markers))).cast("long")


def _word_stats_agg(w: Column, marker_sets: list[tuple[str, ...]]) -> Column:
    """[count(words∈set_0), ..., count(words∈set_{k-1}), n_words] in ONE
    traversal of the word array `w` — the per-marker-regex formulation
    re-scanned the full text once per marker (16 passes for 4 languages);
    this is one split + one fold with an array accumulator (same shape as
    simhash_from_hashes' vote fold)."""
    k = len(marker_sets)
    init = F.array_repeat(F.lit(0).cast("long"), k + 1)

    def step(acc: Column, x: Column) -> Column:
        def inc(c: Column, i: Column) -> Column:
            e = F.when(i == k, F.lit(1).cast("long"))
            for j, ms in enumerate(marker_sets):
                e = e.when(i == j, x.isin(*ms).cast("long"))
            return c + F.coalesce(e, F.lit(0).cast("long"))
        return F.transform(acc, inc)

    return F.aggregate(w, init, step)


def lang_id_col(text: Column, threshold: float = 0.02) -> Column:
    """Heuristic language-ID: the language whose marker-word density is
    highest, 'und' (undetermined) when the best density is below threshold.
    Marker hits = whole-word token equality over the whitespace split.

    All four languages' counts plus the word total come from ONE fold
    (_word_stats_agg), and the stats array is let-bound via a
    single-element transform() lambda before the argmax when-chain:
    inlining would repeat the fold per CASE branch (Catalyst does no CSE
    inside it) — the bound form evaluates it once."""
    w = F.split(F.trim(text), r"\s+")
    sets = list(LANG_MARKERS.values())
    stats = _word_stats_agg(w, sets)

    def pick(a: Column) -> Column:
        n = F.element_at(a, len(sets) + 1).cast("double")
        best_lang = F.lit("und")
        best_score = F.lit(float(threshold))
        for i, lang in enumerate(LANG_MARKERS.keys()):
            score = F.element_at(a, i + 1) / n
            better = score > best_score
            best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
            best_score = F.when(better, score).otherwise(best_score)
        return best_lang

    return F.element_at(F.transform(F.array(stats), pick), 1)


def token_count_col(text: Column) -> Column:
    """BPE-ish token estimate: sum over words of ceil(len(word)/4)."""
    w = F.split(F.trim(text), r"\s+")
    return F.aggregate(
        w, F.lit(0).cast("long"),
        lambda acc, x: acc + F.ceil(F.length(x) / 4.0).cast("long"))


def quality_score_col(text: Column) -> Column:
    """Document quality in [0,1]: length band + mean word length band +
    stopword-presence signal (the crawl-corpus quality gate). Stopword
    hits and the word count come from ONE fold over one split
    (_word_stats_agg), let-bound once — see lang_id_col for why inlining
    would re-split the text per comparison."""
    w = F.split(F.trim(text), r"\s+")
    stats = _word_stats_agg(w, [LANG_MARKERS["en"]])    # [hits, n_words]
    n_chars = F.length(text).cast("double")

    def score(a: Column) -> Column:
        hits = F.element_at(a, 1).cast("double")
        n = F.element_at(a, 2).cast("double")
        mean_wl = (n_chars - (n - 1)) / n                # chars sans separators
        len_ok = F.when((n >= 20) & (n <= 10000), 1.0).otherwise(0.3)
        wl_ok = F.when((mean_wl >= 2.5) & (mean_wl <= 12.0), 1.0).otherwise(0.4)
        stop_ok = F.when(hits / n > 0.01, 1.0).otherwise(0.5)
        return F.round(0.4 * len_ok + 0.3 * wl_ok + 0.3 * stop_ok, 4)

    return F.element_at(F.transform(F.array(stats), score), 1)


def doc_profile_col(text: Column, bits: int = 16,
                    threshold: float = 0.02) -> Column:
    """Fused per-document profile: struct(lang_pred, quality, n_tokens, fp,
    simhash) from ONE whitespace split and ONE stats fold.

    Catalyst does no CSE across sibling columns (NOTES.md fact #1), so
    computing these five signals as siblings re-splits `text` per signal
    and re-folds the word array per consumer. Here the word array is a
    lambda binding (evaluated once), the marker counts for all four
    languages + the BPE-ish token sum + n_words come from ONE fold, the
    fused stats array is let-bound once, and the simhash word-hash array
    appears exactly once in its vote fold. Field semantics are identical
    to lang_id_col / quality_score_col / token_count_col / fingerprint_col
    / simhash_col (asserted per-row in tests/test_text.py)."""
    from crawler_spark.operators.textdedup import (
        fingerprint_col, simhash_from_hashes,
    )
    sets = list(LANG_MARKERS.values())
    k = len(sets)

    def stats_fold(w: Column) -> Column:
        # [count(w∈set_0) .. count(w∈set_{k-1}), sum ceil(len/4), n_words]
        init = F.array_repeat(F.lit(0).cast("long"), k + 2)

        def step(acc: Column, x: Column) -> Column:
            def inc(c: Column, i: Column) -> Column:
                e = F.when(i == k + 1, F.lit(1).cast("long"))
                e = e.when(i == k, F.ceil(F.length(x) / 4.0).cast("long"))
                for j, ms in enumerate(sets):
                    e = e.when(i == j, x.isin(*ms).cast("long"))
                return c + F.coalesce(e, F.lit(0).cast("long"))
            return F.transform(acc, inc)

        return F.aggregate(w, init, step)

    n_chars = F.length(text).cast("double")

    def from_words(w: Column) -> Column:
        h = F.transform(w, lambda x: F.conv(F.substring(F.md5(x), 1, 8),
                                            16, 10).cast("long"))
        sim = simhash_from_hashes(h, bits)

        def from_stats(a: Column) -> Column:
            n = F.element_at(a, k + 2).cast("double")
            best_lang = F.lit("und")
            best_score = F.lit(float(threshold))
            for i, lang in enumerate(LANG_MARKERS.keys()):
                score = F.element_at(a, i + 1) / n
                better = score > best_score
                best_lang = F.when(better, F.lit(lang)).otherwise(best_lang)
                best_score = F.when(better, score).otherwise(best_score)
            hits = F.element_at(a, 1).cast("double")   # en == quality stopwords
            mean_wl = (n_chars - (n - 1)) / n
            len_ok = F.when((n >= 20) & (n <= 10000), 1.0).otherwise(0.3)
            wl_ok = F.when((mean_wl >= 2.5) & (mean_wl <= 12.0), 1.0).otherwise(0.4)
            stop_ok = F.when(hits / n > 0.01, 1.0).otherwise(0.5)
            return F.struct(
                best_lang.alias("lang_pred"),
                F.round(0.4 * len_ok + 0.3 * wl_ok + 0.3 * stop_ok, 4)
                 .alias("quality"),
                F.element_at(a, k + 1).alias("n_tokens"),
                fingerprint_col(text).alias("fp"),
                sim.alias("simhash"))

        return F.element_at(F.transform(F.array(stats_fold(w)), from_stats), 1)

    words = F.split(F.trim(text), r"\s+")
    return F.element_at(F.transform(F.array(words), from_words), 1)


# --- PII scrubbing (tx6) -------------------------------------------------
# Patterns restricted to syntax with identical semantics in Java regex
# (Spark codegen) and RE2 (DuckDB oracle): character classes, bounded +
# unbounded greedy quantifiers — no backrefs, no lookaround.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+[0-9]{1,3}-[0-9]{3}-[0-9]{4}"


def pii_scrub_col(text: Column) -> Column:
    """Redact emails then phones with typed placeholders — map-side
    regexp_replace chain, pure codegen (the standard pre-training scrub)."""
    out = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(out, PII_PHONE_RE, "<PHONE>")


def pii_count_col(text: Column, pattern: str) -> Column:
    """Non-overlapping match count (audit metric for the scrub)."""
    return F.regexp_count(text, F.lit(pattern)).cast("long")


# --- Repetition signals (tx7, Gopher-style) ------------------------------
def repetition_signals_col(text: Column) -> Column:
    """struct(n_words, dup_tok_frac, dup_2gram_frac): per-row array algebra
    (no shuffle). dup fraction = 1 - distinct/total over tokens and over
    non-distinct word bigrams — the Gopher repetition filters. The word
    array and the bigram array are each let-bound once (see lang_id_col)."""
    def over_words(w: Column) -> Column:
        n = F.size(w)
        grams = F.when(
            n >= 2,
            F.transform(F.sequence(F.lit(0), n - 2),
                        lambda j: F.array_join(F.slice(w, j + 1, 2), " "))
        ).otherwise(F.array().cast("array<string>"))

        def over_bi(bi: Column) -> Column:
            return F.struct(
                n.alias("n_words"),
                F.round(F.lit(1.0) - F.size(F.array_distinct(w)) / n, 4)
                 .alias("dup_tok_frac"),
                F.when(F.size(bi) > 0,
                       F.round(F.lit(1.0)
                               - F.size(F.array_distinct(bi)) / F.size(bi), 4))
                 .otherwise(F.lit(0.0)).alias("dup_2gram_frac"))

        return F.element_at(F.transform(F.array(grams), over_bi), 1)

    words = F.split(F.trim(text), r"\s+")
    return F.element_at(F.transform(F.array(words), over_words), 1)


# --- BM25 relevance scoring (tx11) ----------------------------------------
def bm25_scores(docs: DataFrame, text: Column, terms: tuple[str, ...],
                k1: float = 1.2, b: float = 0.75) -> DataFrame:
    """Okapi BM25 score of every document against a fixed term set.

    The retrieval primitive of a training-data pipeline (quality-targeted
    subcorpus selection, eval-set neighborhood mining). Lucene's idf form:
    ln(1 + (N - df + 0.5)/(df + 0.5)), tf saturation k1, length norm b.

    Scale shape (100 TB corpus): the corpus is filtered to the query terms
    BEFORE any shuffle (tf rows ~ n_terms * hit docs, not corpus tokens);
    df/N/avgdl are term- or scalar-cardinality aggregates joined back via
    broadcast — the corpus is touched in exactly one map-side pass.

    Returns (doc_id, bm25:double rounded 4) for docs with >= 1 term hit.
    Oracle twin: tx11_bm25 in queries.py (same tokenization, whitespace
    split on trim(lower(text)) — textdedup.WORD_SPLIT_RE).
    """
    w = docs.select("doc_id", F.split(F.trim(F.lower(text)), r"\s+").alias("w"))
    stats = w.agg(F.count("*").alias("n"),
                  F.avg(F.size("w")).alias("avgdl"))
    tf = (w.select("doc_id", F.size("w").alias("dl"),
                   F.explode("w").alias("term"))
          .where(F.col("term").isin(list(terms)))
          .groupBy("doc_id", "dl", "term")
          .agg(F.count("*").alias("tf")))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    idf = F.log(F.lit(1.0) + (F.col("n") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5)))
    norm = F.col("tf") * F.lit(k1 + 1.0) / (
        F.col("tf") + F.lit(k1) * (F.lit(1.0 - b)
                                   + F.lit(b) * F.col("dl") / F.col("avgdl")))
    return (tf.join(F.broadcast(df), "term")
            .crossJoin(F.broadcast(stats))
            .groupBy("doc_id")
            .agg(F.round(F.sum(idf * norm), 4).alias("bm25")))


def tfidf_keywords(docs: DataFrame, text: Column, k: int = 5,
                   min_len: int = 3) -> DataFrame:
    """Per-document top-k keyword extraction by TF-IDF — the compact
    document descriptor a training pipeline uses for topic bucketing,
    cluster labeling, and eval-set neighborhood audits (and the crawl
    store uses as the per-page index summary).

    Tokenization matches the house contract (whitespace split of
    trim(lower(text))); terms shorter than `min_len` chars are dropped
    (they are stopword-shaped and tf-idf already discounts them — the
    length gate just keeps the tf table small). Score = tf * ln(N/df)
    rounded to 4; ranking runs ON the rounded score with the term string
    as tiebreak (the an5 discipline: floats never order a cross-engine
    result, rounded floats + a total-order key do).

    Scale shape (100 TB): tf is ONE explode + partial-agged groupBy at
    (doc, term) cardinality; df is a term-cardinality rollup joined back
    BROADCAST (vocab << corpus); the per-doc top-k window partitions by
    doc_id — no global sort anywhere. Returns (doc_id, term, tf, df,
    tfidf, rank<=k).
    """
    w = docs.select("doc_id",
                    F.split(F.trim(F.lower(text)), r"\s+").alias("w"))
    n = w.agg(F.count(F.lit(1)).alias("n"))
    tf = (w.select("doc_id", F.explode("w").alias("term"))
          .where(F.length("term") >= min_len)
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).cast("long").alias("tf")))
    df = tf.groupBy("term").agg(F.countDistinct("doc_id").cast("long")
                                .alias("df"))
    scored = (tf.join(F.broadcast(df), "term")
              .crossJoin(F.broadcast(n))
              .withColumn("tfidf", F.round(
                  F.col("tf").cast("double")
                  * F.log(F.col("n").cast("double")
                          / F.col("df").cast("double")), 4)))
    win = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term"))
    return (scored.withColumn("rank",
                              F.row_number().over(win).cast("int"))
            .where(F.col("rank") <= k)
            .select("doc_id", "term", "tf", "df", "tfidf", "rank"))


def tfidf_keywords_oracle_sql(k: int = 5, min_len: int = 3) -> str:
    """DuckDB twin of tfidf_keywords over the documents view."""
    return f"""
WITH w AS (SELECT doc_id,
                  regexp_split_to_array(trim(lower(text)), '\\s+') AS w
           FROM documents),
n AS (SELECT count(*) AS n FROM w),
t AS (SELECT doc_id, unnest(w) AS term FROM w),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM t
       WHERE length(term) >= {min_len} GROUP BY 1, 2),
df AS (SELECT term, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       FROM tf GROUP BY 1),
s AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
             round(CAST(tf.tf AS DOUBLE)
                   * ln(CAST(n.n AS DOUBLE) / CAST(df.df AS DOUBLE)), 4)
               AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                ORDER BY tfidf DESC, term) AS rank
      FROM s)
SELECT doc_id, term, tf, df, tfidf, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}
"""


# Unicode script blocks for script_mix_cols: (name, Java-regex class,
# RE2/DuckDB class). Latin deliberately includes ASCII letters only —
# the crawl corpus' markup/URL residue is ASCII, so accented Latin-1
# would need its own block, not a silent merge.
SCRIPT_BLOCKS: tuple[tuple[str, str, str], ...] = (
    ("latin", "[A-Za-z]", "[A-Za-z]"),
    ("cyrillic", "[Ѐ-ӿ]", "[\\x{0400}-\\x{04FF}]"),
    ("cjk", "[一-鿿]", "[\\x{4E00}-\\x{9FFF}]"),
    ("arabic", "[؀-ۿ]", "[\\x{0600}-\\x{06FF}]"),
)


def script_mix_cols(text: Column) -> Column:
    """Unicode-script composition of a document: per-script character
    counts plus the dominant script — the writing-system companion to
    lang_id_col (marker-word language ID is useless on non-Latin text;
    script detection is the router that decides which language-ID
    family even applies, and the mixed-script signal is itself a spam
    heuristic: Latin text salted with Cyrillic homoglyphs).

    Counts are length(text) - length(strip(block)) per script block —
    integer-exact cross-engine, no float anywhere. Dominant script is
    the max count under a fixed precedence (latin, cyrillic, cjk,
    arabic; 'none' when no scripted char occurs). Returns a struct
    (n_latin, n_cyrillic, n_cjk, n_arabic, main_script); one map-side
    pass, zero shuffle, zero Python.
    """
    counts = {name: (F.length(text)
                     - F.length(F.regexp_replace(text, jre, "")))
              .cast("long")
              for name, jre, _ in SCRIPT_BLOCKS}
    m = F.greatest(*counts.values())
    main = F.when(m == 0, F.lit("none"))
    for name, _, _ in SCRIPT_BLOCKS:
        main = main.when(counts[name] == m, F.lit(name))
    return F.struct(
        counts["latin"].alias("n_latin"),
        counts["cyrillic"].alias("n_cyrillic"),
        counts["cjk"].alias("n_cjk"),
        counts["arabic"].alias("n_arabic"),
        main.alias("main_script"))


def char_entropy_col(text: Column) -> Column:
    """Shannon character entropy of a document (nats, rounded to 4) —
    the MassiveText-style gibberish gate: near-zero entropy is a
    repeated-character page (keyword stuffing, progress-bar ASCII),
    abnormally high entropy at length is binary/base64 junk that
    survived MIME sniffing. Companion struct: (n_chars, n_distinct,
    entropy).

    Cross-engine float discipline for an ORDER-SENSITIVE float sum:
    the per-character -p·ln(p) terms are folded over the SORTED
    distinct-character list on both engines, so the addition order is
    deterministic and identical — the reason this is a fold over
    array_sort(array_distinct(...)) and not a groupBy aggregate (whose
    combine order no engine guarantees).

    Scale shape: per-row O(|charset| · n) map-side column algebra
    (charset is bounded by the alphabet, not the document), zero
    shuffle, zero Python; the char array is a lambda binding evaluated
    once (NOTES fact #1 — an outer-expression reference inside the
    count lambda would re-split the text per distinct character).
    """
    chars0 = F.filter(F.split(text, ""), lambda x: x != "")

    def body(cs: Column) -> Column:
        n = F.size(cs).cast("double")
        cnts = F.transform(
            F.array_sort(F.array_distinct(cs)),
            lambda ch: F.size(F.filter(cs, lambda x: x == ch)))
        ent = F.aggregate(
            cnts, F.lit(0.0),
            lambda acc, c: acc - (c.cast("double") / n)
            * F.log(c.cast("double") / n))
        return F.struct(
            F.size(cs).cast("long").alias("n_chars"),
            F.size(cnts).cast("long").alias("n_distinct"),
            F.round(ent, 4).alias("entropy"))

    return F.element_at(F.transform(F.array(chars0), body), 1)
