"""P2 span extraction: byte-offset contract, ordering, kinds (SURVEY.md §2.3)."""

from __future__ import annotations

from crawler_spark.sources.parse import extract_spans, extract_resolved_spans, outlinks

HTML = ('<html><body><h1>Title here</h1><p>para one</p>'
        '<a href="/x">anchor</a><img src="/m.png"/>'
        '<script>var x = "<a href=/evil>";</script>'
        '<p>  spaced   text  </p><a href="http://h2/y">two</a>'
        '<video src="/v.mp4"></video></body></html>')


def test_kinds_and_order():
    spans = extract_spans(HTML)
    kinds = [s[0] for s in spans]
    assert kinds == ["text", "text", "link", "text", "media",
                     "text", "link", "text", "media"]
    offsets = [s[3] for s in spans]
    assert offsets == sorted(offsets) and len(set(offsets)) == len(offsets)


def test_offsets_point_at_source():
    for kind, text, ref, off in extract_spans(HTML):
        if kind == "text":
            assert HTML[off:off + len(text.split(" ")[0])].startswith(
                text.split(" ")[0])
        else:
            assert HTML[off] == "<"


def test_script_content_skipped():
    spans = extract_spans(HTML)
    assert not any("evil" in s[1] or "evil" in s[2] for s in spans)


def test_whitespace_collapsed():
    spans = extract_spans(HTML)
    texts = [s[1] for s in spans if s[0] == "text"]
    assert "spaced text" in texts


def test_outlinks_are_links_only():
    assert outlinks(extract_spans(HTML)) == ["/x", "http://h2/y"]


def test_resolved_spans():
    spans = extract_resolved_spans("http://base.example.com/p0", HTML)
    refs = [s[2] for s in spans if s[0] in ("link", "media")]
    assert refs == ["http://base.example.com/x", "http://base.example.com/m.png",
                    "http://h2/y", "http://base.example.com/v.mp4"]


def test_resolved_spans_bad_port_link_is_blank():
    """An outlink canonicalize cannot parse (a port out of range) resolves
    to '' like any other uncrawlable ref, instead of failing the page."""
    html = '<a href="http://c.d:99999/x">bad</a><a href="/ok">ok</a>'
    spans = extract_resolved_spans("http://base.example.com/p0", html)
    assert [s[2] for s in spans if s[0] == "link"] == \
        ["", "http://base.example.com/ok"]


def test_empty_and_degenerate():
    assert extract_spans("") == []
    assert extract_spans("no tags at all") == [("text", "no tags at all", "", 0)]
    assert extract_spans("<a href=''>x</a>") == [("text", "x", "", 11)]


def test_px2_max_media_run_hand_fixture(spark):
    """The run-length fold must count ADJACENT media spans (the synthetic
    span template never produces runs > 1, so the oracle can't exercise
    this): kinds T M M M T M M -> max run 3; all-media -> n; no media -> 0."""
    from crawler_spark.queries import max_media_run_col

    def run_of(kinds):
        df = spark.createDataFrame(
            [([{"kind": k, "text": "", "media_ref": "", "offset": i}
               for i, k in enumerate(kinds)],)],
            "spans array<struct<kind:string,text:string,"
            "media_ref:string,offset:int>>")
        return df.select(
            max_media_run_col("spans").alias("r")).collect()[0]["r"]

    t, m = "text", "media"
    assert run_of([t, m, m, m, t, m, m]) == 3
    assert run_of([m, m, m, m]) == 4
    assert run_of([t, t, t]) == 0
    assert run_of([m]) == 1
    assert run_of([m, t, m, t, m]) == 1
