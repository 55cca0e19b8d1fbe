"""Session-shape / input-partitioning invariance for every operator built on
the two-phase global-prefix idiom (pure `_det_block_expr` blocking).

Round-3/4 lesson: a block id derived from `repartitionByRange +
spark_partition_id` behind a non-eager checkpoint can differ between the
local-rank and block-offset plan branches under AQE / session-shape
changes, silently corrupting the prefix (st7-class bug). `pack_sequences`
got the 16-combo sweep in round 4 (tests/test_sampling.py); this module
extends the same matrix to the three operators ported off the racy
pattern in round 5: `late_data_flags`, `waterfill_allocations`,
`vocab_ids`.

Each test computes a sequential in-Python truth once, then asserts
value-identical output across 4 session shapes x 4 input partitionings.
"""

from __future__ import annotations

import datetime

import pytest

from conftest import _sweep


def test_no_partition_id_derived_block_ids():
    """Source-level ban on the racy pattern itself: no operator may derive
    a block id from spark_partition_id (the repartitionByRange sampled-
    boundary blocking that two plan branches can observe differently).
    Allowed: per-partition lineage METRICS in plans/frontier.py, whose
    values are per-partition by design, and docstring mentions."""
    import ast
    import pathlib

    import crawler_spark
    pkg = pathlib.Path(crawler_spark.__file__).parent
    offenders = []
    for py in pkg.rglob("*.py"):
        rel = py.relative_to(pkg).as_posix()
        if rel == "plans/frontier.py":
            continue
        tree = ast.parse(py.read_text())
        for node in ast.walk(tree):
            name = (node.attr if isinstance(node, ast.Attribute)
                    else node.id if isinstance(node, ast.Name) else None)
            if name == "spark_partition_id":
                offenders.append(f"{rel}:{node.lineno}")
    assert not offenders, offenders


def test_late_data_flags_environment_invariant(spark):
    from crawler_spark.streaming.windows import late_data_flags

    t0 = datetime.datetime(2024, 1, 1)
    # event time jitters backwards against arrival order so late flags
    # actually fire; (i * 997) % 1201 spreads arrivals over ~20 min.
    rows = [(f"e{i:05d}",
             t0 + datetime.timedelta(seconds=(i * 997) % 1201))
            for i in range(900)]
    base = spark.createDataFrame(rows, "event_id string, ts timestamp")

    seq = sorted((eid, int(ts.replace(
        tzinfo=datetime.timezone.utc).timestamp())) for eid, ts in rows)
    # wm is the EXCLUSIVE running max (own t for the first arrival)
    want, mx = [], None
    for eid, t in seq:
        wm = t if mx is None else mx
        want.append((eid, t, wm, t < wm - 300))
        mx = t if mx is None else max(mx, t)
    want.sort()

    def run(df):
        out = late_data_flags(df, ts_col="ts", order_col="event_id",
                              delay_sec=300, n_blocks=7)
        return sorted((r["event_id"], r["t"], r["wm"], r["late"])
                      for r in out.collect())

    _sweep(spark, base, run, want, "event_id")


def test_waterfill_environment_invariant(spark):
    from crawler_spark.operators.politeness import waterfill_allocations

    rows = [(f"h{i:03d}", (i * 53) % 211 + 1) for i in range(300)]
    budget = sum(d for _, d in rows) // 3
    base = spark.createDataFrame(rows, "host string, demand long")

    # sequential max-min truth: fully-served set is an ascending-demand
    # prefix; the remainder splits floor/+1 in rank order.
    orderd = sorted(rows, key=lambda r: (r[1], r[0]))
    n = len(orderd)
    cum = 0
    nfull, cumfull = 0, 0
    for i, (_, d) in enumerate(orderd):
        if d * (n - i) + cum <= budget:
            nfull, cumfull = i + 1, cum + d
        cum += d
    k = max(n - nfull, 1)
    rem = budget - cumfull
    want = []
    for i, (h, d) in enumerate(orderd):
        if i < nfull:
            want.append((h, d, d))
        else:
            want.append((h, d, rem // k + (1 if i - nfull < rem % k else 0)))
    want.sort()

    def run(df):
        out = waterfill_allocations(df, budget, n_blocks=6)
        return sorted((r["host"], r["demand"], r["alloc"])
                      for r in out.collect())

    _sweep(spark, base, run, want, "host")
    assert sum(a for _, _, a in want) <= budget


def test_vocab_ids_environment_invariant(spark):
    from crawler_spark.operators.invindex import vocab_ids

    rows = [(f"t{i:04d}", (i * 29) % 97 + 1) for i in range(600)]
    base = spark.createDataFrame(rows, "term string, df long")

    want = sorted(
        (t, d, i) for i, (t, d) in enumerate(
            sorted(rows, key=lambda r: (-r[1], r[0]))))

    def run(df):
        out = vocab_ids(df, n_parts=5)
        return sorted((r["term"], r["df"], r["term_id"])
                      for r in out.collect())

    _sweep(spark, base, run, want, "term")


def test_scc_decomposition_environment_invariant(spark):
    """Round-5 addition: the SCC closure loop crashed ("key not found:
    attr#N" in Union's constraint rewrite) at some INPUT SHAPES only
    before the constraint-propagation guard — exactly the class of
    shape-dependent failure this sweep exists to catch. Sweep the
    16-combo matrix over a digraph whose trim leaves closure work, and
    assert label equality against the Tarjan truth every time."""
    from test_clusters import _scc_py
    from crawler_spark.operators.clusters import scc_decomposition

    import random
    rnd = random.Random(211)
    n = 18
    edges = sorted({(f"n{rnd.randrange(n):02d}", f"n{rnd.randrange(n):02d}")
                    for _ in range(45)})
    edges = [(u, v) for u, v in edges if u != v]
    want = sorted(_scc_py(edges).items())
    base = spark.createDataFrame(edges, "src string, dst string")

    def run(df):
        return sorted((r.host, r.scc_id)
                      for r in scc_decomposition(df).collect())

    _sweep(spark, base, run, want, "src")


def test_condensation_levels_environment_invariant(spark):
    """Same matrix for the Bellman-Ford layering (strict-improvement
    frontier loop + unions over checkpointed frames)."""
    from test_clusters import _scc_py
    from crawler_spark.operators.clusters import scc_condensation_levels

    import random
    rnd = random.Random(83)
    n = 14
    edges = sorted({(f"n{rnd.randrange(n):02d}", f"n{rnd.randrange(n):02d}")
                    for _ in range(30)})
    edges = [(u, v) for u, v in edges if u != v]
    lab = _scc_py(edges)
    cond = {}
    for u, v in edges:
        if lab[u] != lab[v]:
            cond.setdefault(lab[u], set()).add(lab[v])
    comps = sorted(set(lab.values()))
    level = {c: 0 for c in comps if not any(c in t for t in cond.values())}
    frontier = dict(level)
    while frontier:
        nxt = {}
        for a, l in frontier.items():
            for b in cond.get(a, ()):
                if level.get(b, -1) < l + 1:
                    nxt[b] = max(nxt.get(b, 0), l + 1)
        level.update(nxt)
        frontier = nxt
    want = sorted((c, level.get(c, 0)) for c in comps)
    base = spark.createDataFrame(edges, "src string, dst string")

    def run(df):
        return sorted((r.scc_id, r.level)
                      for r in scc_condensation_levels(df).collect())

    _sweep(spark, base, run, want, "src")
