"""Unit specs for the tx6/tx7 text kernels (functions/text.py). The
cross-engine value contract is the oracle gate (queries.py tx6/tx7); these
pin the per-row semantics on hand-computable fixtures."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from crawler_spark.functions.text import (
    PII_EMAIL_RE, PII_PHONE_RE, pii_count_col, pii_scrub_col,
    repetition_signals_col,
)


def _one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col(F.col("text")).alias("v")).collect()[0]["v"]


def test_pii_scrub_redacts_both_kinds(spark):
    t = "mail bob.smith+x@sub.ex.org or call +44-123-4567 now"
    assert _one(spark, t, pii_scrub_col) == \
        "mail <EMAIL> or call <PHONE> now"


def test_pii_counts(spark):
    t = "a@b.com c@d.org +1-555-0100 plain text +12-345-6789"
    df = spark.createDataFrame([(t,)], "text string")
    r = df.select(
        pii_count_col(F.col("text"), PII_EMAIL_RE).alias("e"),
        pii_count_col(F.col("text"), PII_PHONE_RE).alias("p")).collect()[0]
    assert (r["e"], r["p"]) == (2, 2)


def test_pii_scrub_no_match_identity(spark):
    t = "nothing sensitive here at all"
    assert _one(spark, t, pii_scrub_col) == t


def test_repetition_signals_hand_computed(spark):
    r = _one(spark, "a a a b", repetition_signals_col)
    # tokens [a,a,a,b]: 4 words, distinct 2 -> dup_tok 0.5
    # bigrams [a a, a a, a b]: distinct 2 of 3 -> dup_2gram 1-2/3
    assert r["n_words"] == 4
    assert r["dup_tok_frac"] == 0.5
    assert r["dup_2gram_frac"] == round(1 - 2 / 3, 4)


def test_repetition_signals_all_unique(spark):
    r = _one(spark, "w x y z", repetition_signals_col)
    assert (r["dup_tok_frac"], r["dup_2gram_frac"]) == (0.0, 0.0)


def test_repetition_single_word_no_bigrams(spark):
    r = _one(spark, "solo", repetition_signals_col)
    assert r["n_words"] == 1
    assert r["dup_2gram_frac"] == 0.0


def test_px1_pipeline_dedup_fires_and_reps_are_originals(spark):
    """The px1 corpus pipeline's injected duplicates (doc_id+1e6,
    space->tab) must collapse onto their originals: every representative
    is an original doc_id, and a group has n_dups=2 exactly when its
    original is an every-10th doc that survived the gates."""
    import crawler_spark.queries as Q
    rows = Q.queries()["px1_corpus_pipeline"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows, "pipeline filtered everything out"
    assert all(r["doc_id"] < 1000000 for r in rows), \
        "a tab-injected copy became a representative"
    twos = {r["doc_id"] for r in rows if r["n_dups"] == 2}
    assert twos and all(i % 10 == 0 for i in twos)
    assert all(r["n_dups"] == 1 for r in rows if r["doc_id"] % 10 != 0)


def test_doc_profile_fusion_equals_individual_signals(spark):
    """doc_profile_col (the fused one-split sink profile) must agree
    per-row with the five individual signal columns it fuses."""
    from pyspark.sql import functions as F
    from crawler_spark.functions.text import (
        doc_profile_col, lang_id_col, quality_score_col, token_count_col,
    )
    from crawler_spark.operators.textdedup import fingerprint_col, simhash_col

    d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
             .select("doc_id", "text")
    extra = spark.createDataFrame(
        [(9001, ""), (9002, "le la et les " * 30), (9003, "x"),
         (9004, "der die und das " * 5 + "the of " * 40),
         (9005, "  padded   whitespace\ttabs\nnewlines  ")],
        "doc_id long, text string")
    d = d.unionByName(extra)
    rows = (d.select(
        "doc_id",
        doc_profile_col(F.col("text")).alias("p"),
        lang_id_col(F.col("text")).alias("lang_pred"),
        quality_score_col(F.col("text")).alias("quality"),
        token_count_col(F.col("text")).alias("n_tokens"),
        fingerprint_col(F.col("text")).alias("fp"),
        simhash_col(F.col("text"), 16).alias("simhash"))
        .collect())
    assert len(rows) > 100
    for r in rows:
        for f in ("lang_pred", "quality", "n_tokens", "fp", "simhash"):
            assert r["p"][f] == r[f], (r["doc_id"], f, r["p"][f], r[f])


def test_readability_hand_counts(spark):
    """tx21's counting rules pinned by hand: vowel-run syllables,
    vowel-less tokens cost 1, sentences = [.!?]+ runs (min 1)."""
    from crawler_spark.queries import tx21_readability
    import crawler_spark.queries as Q
    rows = [(1, "The cat sat. The dog ran!"),
            (2, "xyzzy 99"),          # two vowel-less tokens, no enders
            (3, "Hello?! Are you ok?")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    orig = Q._t
    Q._t = lambda spark, sf_dir, name: df
    try:
        got = {r["doc_id"]: r for r in
               tx21_readability(spark, "unused").collect()}
    finally:
        Q._t = orig
    # doc 1: 6 words, 2 sentences ('.', '!'), vowel runs: e,a,a,e,o,a = 6
    assert (got[1]["n_words"], got[1]["n_sentences"],
            got[1]["n_syllables"]) == (6, 2, 6)
    # doc 2: 2 words, 0 enders -> 1 sentence; 'y' counts as vowel so
    # x-y-zz-y has TWO runs, '99' is vowel-less -> +1
    assert (got[2]["n_words"], got[2]["n_sentences"],
            got[2]["n_syllables"]) == (2, 1, 3)
    # doc 3: 4 words; '?!' and '?' -> 2 sentences; runs: e-o(hello: e,o)
    # a-e(are: a,e) you(1: 'you' = one run) ok(o) -> 2+2+1+1 = 6
    assert (got[3]["n_words"], got[3]["n_sentences"],
            got[3]["n_syllables"]) == (4, 2, 6)
    for r in got.values():
        w, s, syl = r["n_words"], r["n_sentences"], r["n_syllables"]
        assert r["fk_grade"] == round(0.39 * w / s + 11.8 * syl / w
                                      - 15.59, 4)


def test_code_detect_separates_code_from_prose(spark):
    """tx23's integer vote on hand-built fixtures: a Python-ish snippet
    and a C-ish snippet must gate as code, plain prose must not."""
    from crawler_spark.queries import tx23_code_detect
    import crawler_spark.queries as Q
    py_code = ("def f(x):\n  return [i*2 for i in range(x)];\n"
               "import os\n  class A:\n  pass")
    c_code = ("int main() {\n  int x = 0;\n  x = x + 1;\n"
              "  return x;\n}")
    prose = ("The quick brown fox jumps over the lazy dog. "
             "It was a bright day and the crawl proceeded calmly "
             "without any incident at all.")
    df = spark.createDataFrame(
        [(1, py_code), (2, c_code), (3, prose)],
        "doc_id long, text string")
    orig = Q._t
    Q._t = lambda spark, sf_dir, name: df
    try:
        got = {r["doc_id"]: r for r in
               tx23_code_detect(spark, "unused").collect()}
    finally:
        Q._t = orig
    assert got[1]["is_code"] == 1 and got[1]["kw_hits"] >= 2
    assert got[2]["is_code"] == 1 and got[2]["semi_lines"] >= 3
    assert got[3]["is_code"] == 0 and got[3]["code_score"] <= 1


def test_tfidf_keywords_known_values(spark):
    from crawler_spark.functions.text import tfidf_keywords
    docs = spark.createDataFrame(
        [(1, "apple apple banana common"),
         (2, "banana cherry common"),
         (3, "common common date")],
        "doc_id long, text string")
    out = tfidf_keywords(docs, F.col("text"), k=5, min_len=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1's top keyword is its unique repeated term.
    top1 = sorted(by_doc[1], key=lambda r: r["rank"])[0]
    assert top1["term"] == "apple"
    assert top1["tf"] == 2 and top1["df"] == 1
    assert top1["tfidf"] == round(2 * math.log(3.0), 4)
    # the corpus-wide term scores 0 and sinks to the bottom everywhere.
    for rows in by_doc.values():
        common = [r for r in rows if r["term"] == "common"][0]
        assert common["tfidf"] == 0.0
        assert common["rank"] == max(r["rank"] for r in rows)


def test_tfidf_keywords_k_and_min_len(spark):
    from crawler_spark.functions.text import tfidf_keywords
    docs = spark.createDataFrame(
        [(1, "aa bb alpha beta gamma delta epsilon zeta")],
        "doc_id long, text string")
    out = tfidf_keywords(docs, F.col("text"), k=3, min_len=3).collect()
    assert len(out) == 3
    assert all(len(r["term"]) >= 3 for r in out)
    # ties (all tfidf 0.0 at N=1... ln(1/1)=0) break by term ascending.
    terms = [r["term"] for r in sorted(out, key=lambda r: r["rank"])]
    assert terms == sorted(terms)


def test_script_mix_counts_and_dominant(spark):
    from crawler_spark.functions.text import script_mix_cols
    rows = [(1, "hello яж 中 ع ع"),      # latin-dominant mix
            (2, "привет мир"),            # pure cyrillic
            (3, "12345 !?"),              # no scripted chars
            (4, "ab яж")]                 # 2-2 tie -> latin precedence
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["m"] for r in
           d.select("doc_id", script_mix_cols(F.col("text")).alias("m"))
            .collect()}
    assert out[1]["n_latin"] == 5 and out[1]["n_cyrillic"] == 2
    assert out[1]["n_cjk"] == 1 and out[1]["n_arabic"] == 2
    assert out[1]["main_script"] == "latin"
    assert out[2]["main_script"] == "cyrillic"
    assert out[3]["main_script"] == "none"
    assert out[4]["main_script"] == "latin"


def test_char_entropy_known_values(spark):
    from crawler_spark.functions.text import char_entropy_col
    rows = [(1, "aaaa"),        # zero entropy
            (2, "aabbbc"),      # mixed
            (3, "abcd")]        # uniform -> ln(4)
    d = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["e"] for r in
           d.select("doc_id",
                    char_entropy_col(F.col("text")).alias("e")).collect()}
    assert out[1]["entropy"] == 0.0 and out[1]["n_distinct"] == 1
    n = 6
    want = round(sum(-(c / n) * math.log(c / n) for c in (2, 3, 1)), 4)
    assert out[2]["entropy"] == want
    assert out[3]["entropy"] == round(math.log(4.0), 4)
    assert out[3]["n_chars"] == 4


def test_a18_mcnemar_null_when_detectors_never_disagree(spark, tmp_path):
    """a18 divides by the discordant-pair count n10 + n01. Where both
    detectors are right on every row it is 0, and both engines must
    return NULL (Spark's ANSI division would raise)."""
    import duckdb

    import crawler_spark.queries as Q
    docs = f"{tmp_path}/documents.parquet"
    spark.createDataFrame([(1, "de", "zzz qqq"), (2, "fr", "vvv www")],
                          "doc_id long, lang string, text string") \
        .write.parquet(docs)
    got = Q.queries()["a18_mcnemar"](spark, str(tmp_path)).collect()
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{docs}/*.parquet')")     # Spark wrote a dir
    want = con.execute(Q.oracle_sql()["a18_mcnemar"]).fetchall()
    assert [tuple(r)[3:] for r in got] == [r[3:] for r in want] \
        == [(0, 0, None)]
