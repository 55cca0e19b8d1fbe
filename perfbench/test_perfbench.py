"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import copy
import json

from perfbench import eventlog
from perfbench.run import reconcile, reconcile_problems, tail
from perfbench.trace import Leg, intervals
from perfbench.workloads import mismatches


def _oracle():
    from crawler_spark.sources.webgraph import (
        WebGraphConfig, gen_pages, gen_robots_src, gen_seeds,
    )
    from crawler_spark.spec import CrawlJobSpec
    from tests.oracle import run_oracle

    cfg = WebGraphConfig(seed=7, n_hosts=6, max_pages_per_host=10, out_degree=4)
    spec = CrawlJobSpec(seeds=tuple(gen_seeds(cfg, 6)), max_waves=6,
                        per_host_tokens=2.0, token_cap=2.0)
    return run_oracle(spec, gen_pages(cfg), gen_robots_src(cfg))


def _as_engine_output(res) -> tuple[dict, list[dict]]:
    got = {"seen": set(res.seen), "waves": dict(res.waves),
           "documents": dict(res.documents), "doc_wave": dict(res.doc_wave)}
    return got, [dict(m) for m in res.metrics]


def test_check_passes_on_equal_output():
    exp = _oracle()
    got, metrics = _as_engine_output(exp)
    assert mismatches(got, metrics, exp) == []


def test_check_fails_on_corrupted_expected_set():
    exp = _oracle()
    got, metrics = _as_engine_output(exp)
    assert len(exp.waves) > 2 and exp.documents

    bad = copy.deepcopy(exp)
    bad.seen.discard(next(iter(sorted(bad.seen))))
    assert any(p.startswith("seen") for p in mismatches(got, metrics, bad))

    bad = copy.deepcopy(exp)
    w = max(bad.waves)
    bad.waves[w] = bad.waves[w][1:]
    assert any("per-wave" in p for p in mismatches(got, metrics, bad))

    bad = copy.deepcopy(exp)
    url = sorted(bad.documents)[0]
    kind, text, ref, off = bad.documents[url][0]
    bad.documents[url][0] = (kind, text + "x", ref, off)
    assert any("span sequences" in p for p in mismatches(got, metrics, bad))

    bad = copy.deepcopy(exp)
    bad.metrics[-1]["new_links"] += 1
    assert any("counters" in p for p in mismatches(got, metrics, bad))


def _event(kind: str, **fields) -> str:
    return json.dumps({"Event": kind, **fields}, separators=(",", ":"))


def _task(stage: int, run_ms: int, cpu_ns: int, py: int = 0) -> str:
    return _event(
        "SparkListenerTaskEnd", **{
            "Stage ID": stage,
            "Task Info": {"Accumulables": [
                {"Name": "data sent to Python workers", "Update": str(py)},
                {"Name": "number of output rows", "Update": "5"}]},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
                "JVM GC Time": 2, "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 100}}})


def test_eventlog_rollup_attributes_jobs_by_time(tmp_path):
    lines = [
        _event("SparkListenerJobStart", **{
            "Job ID": 0, "Submission Time": 1_000_100, "Stage IDs": [0],
            "Properties": {"spark.job.description": "wave=0 layer=tokens"}}),
        _task(0, 10, 5_000_000), _task(0, 30, 7_000_000),
        _event("SparkListenerJobEnd", **{"Job ID": 0, "Completion Time": 1_000_200}),
        # tagged admit but launched inside the metrics interval
        _event("SparkListenerJobStart", **{
            "Job ID": 1, "Submission Time": 1_001_100, "Stage IDs": [1, 0],
            "Properties": {"spark.job.description": "wave=0 layer=admit"}}),
        _task(1, 5, 1_000_000, py=64),
        _event("SparkListenerJobEnd", **{"Job ID": 1, "Completion Time": 1_001_300}),
        # outside every window: ignored
        _event("SparkListenerJobStart", **{
            "Job ID": 2, "Submission Time": 2_000_000, "Stage IDs": [2],
            "Properties": {}}),
        _task(2, 99, 9_000_000),
        _event("SparkListenerJobEnd", **{"Job ID": 2, "Completion Time": 2_000_100}),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(lines) + "\n")
    roll = eventlog.rollup(*eventlog.read(str(path)),
                           [(1000.0, 1001.0, "tokens"), (1001.0, 1002.0, "metrics")],
                           [(1000.0, 1002.0)])
    assert set(roll) == {"tokens", "metrics"}
    tok, met = roll["tokens"], roll["metrics"]
    assert (tok["jobs"], tok["tasks"], tok["tag_mismatch_jobs"]) == (1, 2, 0)
    assert abs(tok["exec_cpu_s"] - 0.012) < 1e-9
    assert tok["task_skew"] == 30 / 20
    assert tok["shuffle_bytes"] == 200 and abs(tok["gc_s"] - 0.004) < 1e-9
    # stage 0 belongs to job 0 only; job 1's tag names another layer
    assert (met["jobs"], met["tasks"], met["tag_mismatch_jobs"]) == (1, 1, 1)
    assert met["py_bytes"] == 64


def test_intervals_tile_each_leg():
    names = ["tokens", "select", "budget", "fetch_parse", "admit", "metrics",
             "commit_bloom"]
    marks = [(10.0 + i, float(i)) for i in range(len(names) + 1)]
    leg = Leg(start=(9.0, -1.0), end=(30.0, 20.0), marks=marks,
              wave_starts=[0], resumed=True)
    pieces = intervals([leg], [[{"stage_sec": dict.fromkeys(names, 1.0)}]])
    assert [p[2] for p in pieces] == ["resume_load"] + names + ["driver"]
    assert pieces[0][0] == 9.0 and pieces[-1][1] == 30.0
    assert all(a[1] == b[0] for a, b in zip(pieces, pieces[1:]))
    assert sum(p[3] for p in pieces) == 21.0


def test_reconcile_flags_unattributed_time_and_cpu():
    table = {"admit": {"wall_s": 6.0, "cpu_s": 12.0, "exec_cpu_s": 1.0},
             "driver": {"wall_s": 4.0, "cpu_s": 8.0, "exec_cpu_s": 0.5}}
    assert reconcile_problems(reconcile(table, 10.0, 20.0)) == []
    # CPU burnt outside every leg (between the legs, in the tracer's set-up)
    m = reconcile(table, 10.0, 21.0)
    assert [p for p in reconcile_problems(m) if "cpu_s" in p]
    # wall counted by two layers
    m = reconcile(table, 9.0, 20.0)
    assert [p for p in reconcile_problems(m) if "wall_s" in p]
    # Spark task CPU larger than the whole tree's
    table["admit"]["exec_cpu_s"] = 30.0
    assert [p for p in reconcile_problems(reconcile(table, 10.0, 20.0))
            if "Spark task CPU" in p]


def test_tail_needs_ten_samples_beyond():
    assert tail([1.0] * 10) == (0.0, 10, 0.0)
    value, n, pct = tail([float(i) for i in range(100)])
    assert (value, n, pct) == (89.0, 100, 90.0)
