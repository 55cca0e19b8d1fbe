"""Crawl benchmark entry point.

    python3 perfbench/run.py --workload drain|bfs|all --seed N --seconds S --trace 0|1

Runs one workload of the wave loop (`crawler_spark.plans.frontier`) on
`local[nproc]` as a closed loop: one crawl at a time from this process.
Every crawl's output is compared with the single-threaded oracle
(`tests/oracle.run_oracle`) outside the clock; a mismatch or an exception
counts as a failed crawl and makes the exit code 1.

--trace 0 times crawls for about --seconds and reports the end-to-end
metrics. --trace 1 runs an untimed warm-up crawl, then one untraced and one
traced crawl with the Spark event log on, and reports the per-layer
metrics. A table goes to stdout first; the last stdout line is one JSON
object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
`--workload all` runs each workload in its own process and prints both.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from perfbench import proc  # noqa: E402

# Gated end-to-end metrics; setup_s is the process-tree CPU of set-up. The
# wall-time ones (WALL_UNITS, and set-up wall) swing by 15-60% between runs
# with the machine's other load, so they are printed and reported by traced
# runs but not gated (README.md).
E2E_UNITS = {"setup_s": "s", "cpu_s_per_kurl": "s", "peak_rss_mb": "MB"}
WALL_UNITS = {"crawl_s": "s", "urls_per_s": "1/s", "wave_s_p50": "s"}
LAYER_FIELDS = {"wall_s": "s", "cpu_s": "s", "exec_cpu_s": "s", "gc_s": "s",
                "shuffle_bytes": "bytes", "spill_bytes": "bytes",
                "py_bytes": "bytes", "jobs": "count", "tasks": "count",
                "task_skew": "ratio"}
RUN_UNITS = {"urls_fetched": "count", "fetch_errors": "count",
             "new_links": "count", "seen_rows": "count", "waves": "count",
             "store_bytes": "bytes", "store_files": "count",
             "trace_overhead_s": "s", "trace_sample_s": "s", "resume_s": "s",
             "wave_s_tail": "s", "wave_s_tail_n": "count",
             "reconcile.wall_err": "ratio",
             "reconcile.cpu_err": "ratio", "reconcile.exec_cpu_frac": "ratio",
             "tag_mismatch_jobs": "count", "probe_s": "s",
             "loadavg_1m": "procs", "nproc": "count", **WALL_UNITS}
# Reconciliation bounds of a traced crawl (README.md): the layers must add
# up to the crawl's wall and process-tree CPU as read outside the tracer;
# Spark task CPU is a part of the tree's.
WALL_ERR_MAX, CPU_ERR_MAX, EXEC_FRAC_MAX = 0.02, 0.02, 1.05


def tail(values: list[float]) -> tuple[float, int, float]:
    """(value, n, percentile) of the highest percentile with at least ten
    samples above it; (0, n, 0) when there are ten samples or fewer."""
    s = sorted(values)
    n = len(s)
    if n <= 10:
        return 0.0, n, 0.0
    return s[n - 11], n, 100.0 * (n - 10) / n


class Session:
    """The benchmark's Spark session: local[nproc], shuffle partitions =
    nproc, a heap that fits the machine, scratch and event log under the
    run's work directory."""

    def __init__(self, work: Path, nproc: int, trace: bool):
        from crawler_spark.session import get_spark

        for sub in ("tmp", "local", "eventlog"):
            (work / sub).mkdir(parents=True, exist_ok=True)
        inherited = os.environ.get("PYTHONPATH")
        os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + inherited
                                                if inherited else "")
        os.environ["TMPDIR"] = str(work / "tmp")
        os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
        mem_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
        extra = {
            "spark.driver.memory": f"{min(2048, mem_mb // 4)}m",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
        }
        self.eventlog_dir = work / "eventlog"
        if trace:
            extra.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.eventlog_dir.as_uri(),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        self.spark = get_spark("perfbench", f"local[{nproc}]",
                               shuffle_partitions=nproc, extra=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.closed = False

    def warm_up(self) -> None:
        """First-job JVM start-up and the Python-worker/Arrow cold start."""
        from pyspark.sql import functions as F

        ident = F.pandas_udf(lambda s: s, "long")
        self.spark.range(1000).select(ident("id")) \
            .write.format("noop").mode("overwrite").save()

    def close(self) -> None:
        """Stop Spark, end the JVM and wait until every process it started
        (the PySpark worker daemon and its workers) has exited."""
        from pyspark import SparkContext

        if self.closed:
            return
        self.closed = True
        started = proc.descendants()
        gateway = SparkContext._gateway
        self.spark.stop()
        jvm = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = SparkContext._jvm = None
        if jvm is not None:
            jvm.stdin.close()              # the gateway exits on stdin EOF
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        _wait_gone(started)

    def eventlog(self) -> str:
        (path,) = [p for p in self.eventlog_dir.iterdir()
                   if not p.name.endswith(".inprogress")]
        return str(path)


def _wait_gone(pids: list[int], timeout_s: float = 20.0) -> None:
    """Wait for `pids` to exit (reparented ones too); kill what is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")
                 and not proc.is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
        time.sleep(0.1)


class Tally:
    """Crawls attempted and the reasons of those that failed."""

    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []

    def check(self, workload, expected, crawl_fn):
        """Run one crawl and compare its output with the oracle outside the
        clock. Returns the Crawl, or None when the crawl raised."""
        from perfbench.workloads import mismatches

        self.attempted += 1
        try:
            crawl = crawl_fn()
        except Exception:                  # a failed crawl is a data point
            self.failures.append(traceback.format_exc(limit=4))
            return None
        problems = mismatches(crawl.got, crawl.flat_metrics, expected)
        crawl.seen_rows = len(crawl.got["seen"])
        crawl.got = None
        if problems:
            self.failures.append("; ".join(problems))
        return crawl


def measure(workload, expected, seconds: float, tally: Tally) -> list:
    """Closed loop: crawl until the next crawl would pass `seconds` of
    crawl time (at least one crawl)."""
    crawls, spent = [], 0.0
    while True:
        crawl = tally.check(workload, expected, workload.crawl)
        if crawl is None:
            return crawls
        crawls.append(crawl)
        spent += crawl.seconds
        if spent + crawl.seconds > seconds:
            return crawls


def wall_metrics(crawls: list) -> dict:
    return {
        "crawl_s": statistics.median(c.seconds for c in crawls),
        "urls_per_s": statistics.median(c.urls / c.seconds for c in crawls),
        "wave_s_p50": statistics.median(w for c in crawls for w in c.wave_seconds),
    }


def e2e_metrics(setup_s: float, crawls: list, peak_rss: int) -> dict:
    return {
        "setup_s": setup_s,
        "cpu_s_per_kurl": statistics.median(c.cpu_s / (c.urls / 1000.0)
                                            for c in crawls),
        "peak_rss_mb": peak_rss / 2**20,
    }


def layer_metrics(session, tracer, traced, untraced, trace_path: Path) -> dict:
    """Per-layer table of the traced crawl plus run-level counts. The spans,
    the layer intervals and the table are also written to `trace_path`."""
    from perfbench import eventlog
    from perfbench.trace import LAYERS, intervals

    pieces = intervals(tracer.legs, traced.metrics)
    windows = [(leg.start[0], leg.end[0]) for leg in tracer.legs]
    session.close()                        # flushes and closes the event log
    roll = eventlog.rollup(*eventlog.read(session.eventlog()),
                           [(a, b, layer) for a, b, layer, _ in pieces], windows)
    table = {layer: dict.fromkeys(LAYER_FIELDS, 0.0) for layer in LAYERS}
    for m in traced.flat_metrics:
        for name, sec in m["stage_sec"].items():
            table[name]["wall_s"] += sec
    for a, b, layer, cpu in pieces:
        if layer in ("resume_load", "driver"):
            table[layer]["wall_s"] += b - a
        table[layer]["cpu_s"] += cpu
    for layer, fields in roll.items():
        table[layer].update((f, v) for f, v in fields.items() if f in LAYER_FIELDS)
    trace_path.write_text(json.dumps(
        {"spans": tracer.spans, "intervals": pieces, "layers": table}))
    out = {f"{layer}.{f}": v for layer, row in table.items() for f, v in row.items()}
    t_val, t_n, _ = tail(untraced.wave_seconds)
    out.update({
        "urls_fetched": traced.urls,
        "fetch_errors": sum(m["errors"] for m in traced.flat_metrics),
        "new_links": sum(m["new_links"] for m in traced.flat_metrics),
        "seen_rows": traced.seen_rows,
        "waves": len(traced.flat_metrics),
        "store_bytes": traced.store_bytes,
        "store_files": traced.store_files,
        **wall_metrics([untraced]),
        "trace_overhead_s": traced.seconds - untraced.seconds,
        "trace_sample_s": tracer.sample_s,
        "resume_s": untraced.resume_s,
        "wave_s_tail": t_val,
        "wave_s_tail_n": t_n,
        **reconcile(table, traced.seconds, traced.cpu_s),
        "tag_mismatch_jobs": sum(r["tag_mismatch_jobs"] for r in roll.values()),
    })
    return out


def reconcile(table: dict, crawl_s: float, tree_cpu_s: float) -> dict:
    """Layer sums against the crawl's wall and process-tree CPU, both read
    around the whole crawl outside the tracer (Workload.crawl). Time or CPU
    between legs, in the tracer's own set-up, or counted by two layers
    shows up as an error."""
    wall_sum = sum(row["wall_s"] for row in table.values())
    cpu_sum = sum(row["cpu_s"] for row in table.values())
    return {
        "reconcile.wall_err": abs(wall_sum - crawl_s) / crawl_s,
        "reconcile.cpu_err": abs(cpu_sum - tree_cpu_s) / tree_cpu_s,
        "reconcile.exec_cpu_frac":
            sum(row["exec_cpu_s"] for row in table.values()) / cpu_sum,
    }


def reconcile_problems(m: dict) -> list[str]:
    out = []
    if m["reconcile.wall_err"] > WALL_ERR_MAX:
        out.append(f"layer wall_s off crawl_s by {m['reconcile.wall_err']:.3f}")
    if m["reconcile.cpu_err"] > CPU_ERR_MAX:
        out.append(f"layer cpu_s off tree CPU by {m['reconcile.cpu_err']:.3f}")
    if m["reconcile.exec_cpu_frac"] > EXEC_FRAC_MAX:
        out.append("Spark task CPU exceeds process-tree CPU "
                   f"({m['reconcile.exec_cpu_frac']:.3f})")
    return out


def run(args, work: Path) -> tuple[dict, dict, Tally, list[str]]:
    """One benchmark run: (metrics, units, tally, report lines)."""
    from perfbench.trace import LAYERS, Tracer
    from perfbench.workloads import WORKLOADS

    witness = proc.witness()
    nproc = proc.nproc()
    c0, t0 = proc.tree_usage()[0], time.perf_counter()
    session = Session(work, nproc, bool(args.trace))
    tally = Tally()
    try:
        session.warm_up()
        workload = WORKLOADS[args.workload](session.spark, args.seed, nproc,
                                            str(work))
        workload.build()
        setup_s = proc.tree_usage()[0] - c0
        setup_wall_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        expected = workload.expected()
        report = [f"witness: probe_s={witness['probe_s']:.3f} "
                  f"loadavg_1m={witness['loadavg_1m']:.2f} nproc={nproc}",
                  f"set-up: {setup_s:.2f} CPU s, {setup_wall_s:.2f} s wall",
                  f"oracle: {time.perf_counter() - t0:.2f} s"]
        if not args.trace:
            crawls = measure(workload, expected, args.seconds, tally)
            if not crawls:
                return {}, {}, tally, report
            metrics = e2e_metrics(setup_s, crawls, workload.rss.peak_bytes)
            t_val, t_n, pct = tail([w for c in crawls for w in c.wave_seconds])
            report += [f"{name:32s} {value:16.4f} {WALL_UNITS[name]}"
                       for name, value in wall_metrics(crawls).items()]
            report += [
                f"crawls: {len(crawls)}, {crawls[0].urls} URLs each; seconds "
                + ", ".join("+".join(f"{x:.2f}" for x in c.leg_seconds)
                            for c in crawls),
                "waves: " + ", ".join(f"{w:.2f}" for w in
                                      [w for c in crawls for w in c.wave_seconds]),
                f"wave_s_tail: {t_val:.3f} s (p{pct:.0f} of {t_n} waves; "
                "0 = fewer than 11 waves)",
                "resume_s: " + (f"{statistics.median(c.resume_s for c in crawls):.3f} s"
                                if workload.name == "bfs" else "n/a (no resume)"),
                f"failed_frac: {len(tally.failures)}/{tally.attempted}",
            ]
            return metrics, E2E_UNITS, tally, report
        # the warm-up crawl pays the JIT and Python-worker start-up of the
        # crawl's code paths, so traced and untraced crawls both run warm
        tally.check(workload, expected, workload.crawl)
        untraced = tally.check(workload, expected, workload.crawl)
        tracer = Tracer(session.spark.sparkContext)
        traced = tally.check(workload, expected, lambda: workload.crawl(tracer))
        if untraced is None or traced is None:
            return {}, {}, tally, report
        trace_path = work.parent / f"trace-{args.workload}-seed{args.seed}.json"
        metrics = layer_metrics(session, tracer, traced, untraced, trace_path)
        report.append(f"spans and intervals: {trace_path.relative_to(ROOT)}")
        tally.failures.extend(reconcile_problems(metrics))
        metrics.update(witness)
        units = {f"{layer}.{f}": u for layer in LAYERS
                 for f, u in LAYER_FIELDS.items()}
        units.update(RUN_UNITS)
        return metrics, units, tally, report
    finally:
        session.close()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("drain", "bfs", "all"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        codes = [subprocess.call([sys.executable, __file__, "--workload", w,
                                  "--seed", str(args.seed), "--seconds",
                                  str(args.seconds), "--trace", str(args.trace)])
                 for w in ("drain", "bfs")]
        return max(codes)
    try:
        import crawler_spark.plans.frontier  # noqa: F401
        import tests.oracle  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the crawler engine is not importable from {ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    t0 = time.perf_counter()
    try:
        metrics, units, tally, report = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    report.append(f"run wall: {time.perf_counter() - t0:.1f} s")
    print(f"== perfbench {args.workload} seed={args.seed} trace={args.trace}")
    for line in report:
        print(line)
    for name, value in metrics.items():
        print(f"{name:32s} {value:16.4f} {units[name]}")
    for reason in tally.failures:
        print(f"FAILED: {reason}", file=sys.stderr)
    print(json.dumps({
        "correct": not tally.failures,
        "attempted": tally.attempted,
        "failed": min(len(tally.failures), tally.attempted),
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0 if not tally.failures else 1


if __name__ == "__main__":
    sys.exit(main())
