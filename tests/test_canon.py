"""P1 canonicalization golden cases + UDF/pure-fn agreement (SURVEY.md §7.3)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from crawler_spark.functions.canon import canonicalize, host_of

CASES = json.loads((Path(__file__).parent / "golden" / "canon_cases.json").read_text())


@pytest.mark.parametrize("case", CASES, ids=[c["href"] or c["base"] for c in CASES])
def test_golden(case):
    assert canonicalize(case["base"], case["href"]) == case["want"]


def test_idempotent():
    for c in CASES:
        out = canonicalize(c["base"], c["href"])
        if out:
            assert canonicalize(out, "") == out


def test_host_of():
    assert host_of("http://a.b.c/x/y") == "a.b.c"
    assert host_of("https://a.b.c:8443/x") == "a.b.c"
    assert host_of("http://a.b.c") == "a.b.c"


def test_udf_matches_pure_fn(spark):
    from pyspark.sql import functions as F
    from crawler_spark.functions.canon import canonicalize_udf, host_col
    rows = [(c["base"], c["href"]) for c in CASES]
    df = spark.createDataFrame(rows, "base string, href string")
    got = [r["c"] for r in
           df.select(canonicalize_udf("base", "href").alias("c")).collect()]
    assert got == [c["want"] for c in CASES]
    # host_col (native) == host_of (pure) on canonical urls, also where the
    # authority holds more than one ':', the query another '://', or there
    # is no '://' at all
    urls = [(c["want"],) for c in CASES if c["want"]] + [
        ("http://2001:db8::1/x",), ("http://::1:8080/a",),
        ("http://a.b:81:82/x",), ("http://a.b/r?u=http://c.d:8/",),
        ("a.b:8/x?u=http://c.d/",), ("",)]
    df2 = spark.createDataFrame(urls, "u string")
    got2 = [r["h"] for r in df2.select(host_col(F.col("u")).alias("h")).collect()]
    assert got2 == [host_of(u[0]) for u in urls]


def test_rel_canonical_chain_collapse(spark):
    """Canonical declarations chain (30->25->20 terminal): every member
    resolves to the terminal; non-declaring docs are self-canonical."""
    from pyspark.sql import functions as F
    from crawler_spark.operators.hostrank import resolve_redirects
    docs = spark.range(0, 40).withColumnRenamed("id", "doc_id")
    declaring = docs.where((F.col("doc_id") % 5 == 0)
                           & (F.col("doc_id") % 20 != 0))
    edges = declaring.select(
        F.col("doc_id").cast("string").alias("src"),
        (F.col("doc_id") - 5).cast("string").alias("dst"))
    res = {int(r["src"]): (int(r["final"]), r["hops"], r["resolved"])
           for r in resolve_redirects(edges, rounds=4).collect()}
    assert res[35] == (20, 3, 1)
    assert res[30] == (20, 2, 1)
    assert res[25] == (20, 1, 1)
    assert res[15] == (0, 3, 1)
    assert 20 not in res and 0 not in res     # terminals declare nothing
