"""Traced-run instrumentation, kept outside the engine.

`Tracer.installed(...)` wraps, for one crawl, the layer functions the wave
loop (`crawler_spark.plans.frontier`) calls. Each wrapper records a span
and sets the Spark job description to "wave=W layer=L", so the jobs the
call launches carry the tag into the event log. It also swaps the loop's
`time` module for a clock that samples process-tree CPU whenever the loop
reads `perf_counter()`: the loop reads it exactly at each wave start and at
each stage mark, so the samples line up with `run.metrics[*]["stage_sec"]`.

Layer -> module map (the wave-stage names of the loop):
  tokens, select, budget  operators/politeness
  fetch_parse             sources/fetch (fetcher.fetch, parse_spans)
  sink                    functions/text.doc_profile_col (the benchmark sink)
  admit                   operators/scope, operators/dedup, operators/robots
  metrics                 plans/frontier (per-wave counters)
  commit_bloom            plans/tableio persist_wave, dedup.build_bloom_parts
  resume_load             tableio read_*, SeenBloom.load_rows
  driver                  crawl time outside every stage above
"""

from __future__ import annotations

import contextlib
import time
from dataclasses import dataclass, field

from perfbench.proc import tree_usage

LAYERS = ("tokens", "select", "budget", "fetch_parse", "sink", "admit",
          "metrics", "commit_bloom", "resume_load", "driver")

_MISSING = object()


@dataclass
class Leg:
    """One run_crawl call of a traced crawl: its bounds and the clock marks
    the loop made inside it, as (epoch_s, tree_cpu_s)."""
    start: tuple[float, float]
    end: tuple[float, float] = (0.0, 0.0)
    marks: list[tuple[float, float]] = field(default_factory=list)
    wave_starts: list[int] = field(default_factory=list)   # indices into marks
    resumed: bool = False


class _Clock:
    """Stand-in for the `time` module inside the wave loop."""

    def __init__(self, tracer: "Tracer"):
        self._tracer = tracer

    def perf_counter(self) -> float:
        self._tracer.leg.marks.append(self._tracer.sample())
        return time.perf_counter()

    def __getattr__(self, name):
        return getattr(time, name)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[tuple[str, int, float, float]] = []  # layer, wave, t0, t1
        self.legs: list[Leg] = []
        self.wave = -1
        self.sample_s = 0.0          # time the crawl spent waiting on samples
        self._undo: list[tuple[object, str, object]] = []

    def sample(self) -> tuple[float, float]:
        """(epoch_s, process-tree CPU s) now."""
        t0 = time.perf_counter()
        out = time.time(), tree_usage()[0]
        self.sample_s += time.perf_counter() - t0
        return out

    @property
    def leg(self) -> Leg:
        return self.legs[-1]

    def _wrap(self, fn, layer: str, starts_wave: bool = False):
        def traced(*args, **kwargs):
            if starts_wave:
                self.wave += 1
                self.leg.wave_starts.append(len(self.leg.marks) - 1)
            self.sc.setJobDescription(f"wave={self.wave} layer={layer}")
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append((layer, self.wave, t0, time.time()))
        return traced

    def _patch(self, obj, name: str, layer: str, starts_wave: bool = False) -> None:
        self._undo.append((obj, name, vars(obj).get(name, _MISSING)))
        setattr(obj, name, self._wrap(getattr(obj, name), layer, starts_wave))

    @contextlib.contextmanager
    def installed(self, fetcher, robots_fetcher, store):
        """Wrap the layer calls of the wave loop for the duration."""
        from crawler_spark.operators import dedup, politeness
        from crawler_spark.plans import frontier

        self._patch(politeness, "refill_tokens", "tokens", starts_wave=True)
        for name in ("select_batch_salted", "select_batch", "select_by_window"):
            self._patch(politeness, name, "select")
        for name in ("spend_tokens", "merge_host_state"):
            self._patch(politeness, name, "budget")
        self._patch(fetcher, "fetch", "fetch_parse")
        self._patch(frontier, "parse_spans", "fetch_parse")
        for name in ("scope_filter", "anti_join_seen", "gate_frontier",
                     "fetch_robots_rules"):
            self._patch(frontier, name, "admit")
        if robots_fetcher is not None:
            self._patch(robots_fetcher, "fetch", "admit")
        self._patch(frontier, "build_bloom_parts", "commit_bloom")
        if store is not None:
            self._patch(store, "persist_wave", "commit_bloom")
            for name in ("read_full", "read_seen", "read_delta_union"):
                if hasattr(store, name):
                    self._patch(store, name, "resume_load")
        self._patch(dedup.SeenBloom, "load_rows", "resume_load")
        self._undo.append((frontier, "time", frontier.time))
        frontier.time = _Clock(self)
        try:
            yield self
        finally:
            for obj, name, old in reversed(self._undo):
                if old is _MISSING:
                    delattr(obj, name)
                else:
                    setattr(obj, name, old)
            self._undo.clear()
            self.sc.setJobDescription(None)

    def wrap_sink(self, sink):
        return None if sink is None else self._wrap(sink, "sink")

    @contextlib.contextmanager
    def leg_of(self, resumed_from: int | None = None):
        """Bracket one run_crawl call; `resumed_from` = last committed wave."""
        self.wave = -1 if resumed_from is None else resumed_from
        self.legs.append(Leg(start=self.sample(), resumed=resumed_from is not None))
        try:
            yield self.leg
        finally:
            self.leg.end = self.sample()


def intervals(legs: list[Leg], metrics: list[list[dict]]
              ) -> list[tuple[float, float, str, float]]:
    """Tile each leg into (start_s, end_s, layer, cpu_s) pieces.

    Stage pieces run between consecutive clock marks of a wave and take the
    loop's stage names, the keys of `metrics[leg][k]["stage_sec"]` (every
    wave of these workloads selects URLs, so each has a metrics entry).
    Time before a resumed leg's first wave is `resume_load`; every other
    gap is `driver`.
    """
    out = []
    for leg, leg_metrics in zip(legs, metrics):
        bounds = leg.wave_starts + [len(leg.marks)]
        pre = "resume_load" if leg.resumed else "driver"
        prev = leg.start
        for k, s in enumerate(leg.wave_starts):
            e = bounds[k + 1] - 1                  # last mark of wave k
            names = list(leg_metrics[k]["stage_sec"])
            first = leg.marks[s]
            out.append((prev[0], first[0], pre if k == 0 else "driver",
                        first[1] - prev[1]))
            for i in range(s, e):
                a, b = leg.marks[i], leg.marks[i + 1]
                out.append((a[0], b[0], names[i - s], b[1] - a[1]))
            prev = leg.marks[e]
        out.append((prev[0], leg.end[0], pre if not leg.wave_starts else "driver",
                    leg.end[1] - prev[1]))
    return out
