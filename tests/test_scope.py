"""F2-F4/F6-F8 scope & admission predicates: pure vs native-Spark agreement."""

from __future__ import annotations

from crawler_spark.operators.scope import (
    blacklisted, is_asset, scope_ok, tld_key,
)

SEEDS = {"host0.example.com", "host1.example.com"}


def test_same_domain():
    assert scope_ok("host0.example.com", SEEDS, False, False)
    assert not scope_ok("other.example.com", SEEDS, False, False)
    assert not scope_ok("sub.host0.example.com", SEEDS, False, False)


def test_subdomains():
    assert scope_ok("sub.host0.example.com", SEEDS, True, False)
    assert scope_ok("a.b.host1.example.com", SEEDS, True, False)
    assert not scope_ok("host0.example.org", SEEDS, True, False)
    assert not scope_ok("evilhost0.example.com", SEEDS, True, False)  # no dot


def test_tld():
    assert scope_ok("host0.example.org", SEEDS, False, True)
    assert scope_ok("host0.example.net", SEEDS, False, True)
    assert not scope_ok("host9.example.org", SEEDS, False, True)
    assert tld_key("host0.example.com") == "host0.example"


def test_asset_filter():
    assert is_asset("http://h/x.png")
    assert is_asset("http://h/x.PDF")
    assert is_asset("http://h/x.tar?download=1")
    assert not is_asset("http://h/x.html")
    assert not is_asset("http://h/png")


def test_blacklist():
    assert blacklisted("http://h/p11", (r"/p1[12]$",))
    assert not blacklisted("http://h/p1", (r"/p1[12]$",))


def test_native_matches_pure(spark):
    from pyspark.sql import functions as F
    from crawler_spark.operators.scope import asset_col, blacklist_col, scope_col
    hosts = ["host0.example.com", "sub.host0.example.com", "host0.example.org",
             "evilhost0.example.com", "other.example.com", "a.b.host1.example.com"]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    for sub, tld in [(False, False), (True, False), (False, True), (True, True)]:
        got = [r["ok"] for r in df.select(
            scope_col(F.col("host"), sorted(SEEDS), sub, tld).alias("ok")).collect()]
        want = [scope_ok(h, SEEDS, sub, tld) for h in hosts]
        assert got == want, (sub, tld)

    urls = ["http://h/x.png", "http://h/x.PDF", "http://h/x.tar?download=1",
            "http://h/x.html", "http://h/png", "http://h/p11", "http://h/p1"]
    udf = spark.createDataFrame([(u,) for u in urls], "u string")
    got_a = [r["a"] for r in udf.select(asset_col(F.col("u")).alias("a")).collect()]
    assert got_a == [is_asset(u) for u in urls]
    got_b = [r["b"] for r in
             udf.select(blacklist_col(F.col("u"), (r"/p1[12]$",)).alias("b")).collect()]
    assert got_b == [blacklisted(u, (r"/p1[12]$",)) for u in urls]

def test_scope_filter_strategies_agree(spark):
    """scope_filter's two physical strategies (expression / broadcast
    semi-join) implement scope_ok's semantics. The seed set here (100
    hosts) exceeds SCOPE_JOIN_MIN_HOSTS, so exact-host scope takes the
    semi-join and the subdomains/tld combinations take the expression.
    No combination plans a Python node."""
    import io
    from contextlib import redirect_stdout

    from pyspark.sql import functions as F
    from crawler_spark.operators import scope as sc

    seeds = sorted(
        {f"host{i}.site{i % 7}.com" for i in range(90)}
        | {"deep.a.b.example.com", "example.com", "b.example.com"})
    assert len(seeds) > sc.SCOPE_JOIN_MIN_HOSTS
    hosts = (
        [f"host{i}.site{i % 7}.com" for i in range(0, 120, 3)]       # some in, some out
        + [f"sub.host{i}.site{i % 7}.com" for i in range(0, 40, 5)]  # subdomain hits
        + [f"host{i}.site{i % 7}.org" for i in range(0, 40, 5)]      # tld-key hits
        + ["x.deep.a.b.example.com", "a.b.example.com", "example.com",
           "notexample.com", "com", "evilhost0.site0.com"])
    # duplicate rows on purpose: the join path must preserve multiplicity
    # (n_refs counting upstream of A2 depends on it)
    hosts = hosts + hosts[:10]
    df = spark.createDataFrame([(h,) for h in hosts], "host string")
    seedset = set(seeds)
    for sub, tld in [(False, False), (True, False), (False, True), (True, True)]:
        out = sc.scope_filter(df, F.col("host"), seeds, sub, tld)
        got = sorted(r["host"] for r in out.collect())
        want = sorted(h for h in hosts if sc.scope_ok(h, seedset, sub, tld))
        assert got == want, (sub, tld)
        buf = io.StringIO()
        with redirect_stdout(buf):
            out.explain("formatted")
        plan = buf.getvalue()
        assert ("LeftSemi" in plan) == (not sub and not tld), (sub, tld)
        assert "ArrowEvalPython" not in plan, (sub, tld)
        assert "BatchEvalPython" not in plan, (sub, tld)


def test_trap_signals_cycle_and_clean(spark):
    from pyspark.sql import functions as F
    from crawler_spark.operators.scope import trap_signals
    rows = [(1, "/a/b/a/b/a/b"), (2, "/x/y/z"), (3, "/a/a/a"),
            (4, "/s1/s2/s3/s4/s5/s6/s7/s8"), (5, "/")]
    d = spark.createDataFrame(rows, "id long, path string")
    out = {r["id"]: r["_t"] for r in
           d.select("id", trap_signals(F.col("path")).alias("_t"))
            .collect()}
    # /a/b/a/b/a/b: pairs a/b,b/a,a/b,b/a,a/b -> 5 total, 2 distinct
    assert out[1]["n_rep_pairs"] == 3 and out[1]["is_trap"] == 1
    assert out[2] == (3, 0, 0.0, 0)
    assert out[3]["rep_ratio"] == 0.6667 and out[3]["is_trap"] == 1
    assert out[4]["depth"] == 8 and out[4]["is_trap"] == 1
    assert out[5]["depth"] == 0 and out[5]["is_trap"] == 0
