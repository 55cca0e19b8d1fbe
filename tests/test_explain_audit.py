"""tools/explain_audit.py `--only`: PLANS.md section splicing (Spark-free)."""

from __future__ import annotations

from pathlib import Path

from tools.explain_audit import splice_sections

PLANS = (Path(__file__).resolve().parents[1] / "PLANS.md").read_text()


def test_splice_rewrites_only_named_sections():
    assert splice_sections(PLANS, {}) == PLANS
    new = "## j2_dim_join\n\n- requires `X`: OK\n\n```\nplan\n```\n"
    out = splice_sections(PLANS, {"j2_dim_join": new})
    before, _, rest = PLANS.partition("## j2_dim_join\n")
    after = rest[rest.index("\n## "):]
    assert out == before + new + after


def test_splice_appends_unknown_section():
    new = "## zz_new\n\n- ok\n"
    assert splice_sections(PLANS, {"zz_new": new}) == PLANS + "\n" + new
