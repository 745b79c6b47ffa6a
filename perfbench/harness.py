"""Request execution and per-layer accounting.

A request is one closed-loop call from the benchmark's single client.
``Runner.execute`` times it, runs its calls under per-call Spark job
groups, releases operator caches, and then, outside the timed region,
checks its output and (when tracing) reads what Spark did for it.
"""

from __future__ import annotations

import statistics
import threading
import traceback
from collections.abc import Callable
from dataclasses import dataclass, field

from spans import (SparkProbe, Span, Tracer, dir_bytes, layer_self_times, self_times,
                   union_length)

#: per-layer metrics: name -> (unit, how a pass aggregates its requests).
#: "sum" adds the per-request values, "last" keeps the value after the
#: last request of the pass, "ratio" is computed from the pass's sums.
LAYER_METRICS: dict[str, tuple[str, str]] = {
    "session.start_s": ("s", "setup"),
    "plans.construct_s": ("s", "sum"),
    "plans.construct_jobs": ("count", "sum"),
    "plans.construct_py_s": ("s", "sum"),
    "engine.analysis_s": ("s", "sum"),
    "engine.optimization_s": ("s", "sum"),
    "engine.planning_s": ("s", "sum"),
    "engine.jobs": ("count", "sum"),
    "engine.stages": ("count", "sum"),
    "engine.stages_skipped": ("count", "sum"),
    "engine.tasks": ("count", "sum"),
    "engine.collect_overhead_s": ("s", "sum"),
    "engine.result_bytes": ("bytes", "sum"),
    "engine.executor_run_s": ("s", "sum"),
    "engine.executor_cpu_s": ("s", "sum"),
    "engine.gc_s": ("s", "sum"),
    "engine.shuffle_read_bytes": ("bytes", "sum"),
    "engine.shuffle_write_bytes": ("bytes", "sum"),
    "engine.shuffle_fetch_wait_s": ("s", "sum"),
    "engine.spill_bytes": ("bytes", "sum"),
    "engine.input_bytes": ("bytes", "sum"),
    "engine.exchanges": ("count", "sum"),
    "engine.python_eval_nodes": ("count", "sum"),
    "engine.core_utilization": ("ratio", "ratio"),
    "engine.failed_tasks": ("count", "sum"),
    "operators.cache.held": ("count", "sum"),
    "operators.cache.leaked_rdds": ("count", "last"),
    "operators.dedup_s": ("s", "sum"),
    "sources.ingest_s": ("s", "sum"),
    "sources.write_s": ("s", "sum"),
    "sources.merge_s": ("s", "sum"),
    "sources.compact_s": ("s", "sum"),
    "sources.bytes_written": ("bytes", "sum"),
    "sources.files_written": ("count", "sum"),
    "sources.write_amplification": ("ratio", "ratio"),
    "sources.tmp_bytes_left": ("bytes", "last"),
    "qa.run_s": ("s", "sum"),
    "qa.collect_s": ("s", "sum"),
    "qa.jobs": ("count", "sum"),
    "plans.self_s": ("s", "sum"),
    "engine.self_s": ("s", "sum"),
    "operators.self_s": ("s", "sum"),
    "sources.self_s": ("s", "sum"),
    "trace.unattributed_s": ("s", "sum"),
    "trace.layer_coverage": ("ratio", "ratio"),
    "trace.overhead_s": ("s", "run"),
}

#: span layer of each call kind a request makes; self time is summed per
#: layer, and the request span's own self time is what no layer covers
LAYERS = ("plans", "engine", "operators", "sources")

#: step spans whose duration feeds a named per-layer metric
STEP_METRICS = {
    "ingest": "sources.ingest_s", "write": "sources.write_s",
    "merge": "sources.merge_s", "compact": "sources.compact_s",
    "vacuum": "sources.compact_s", "keep_newest": "operators.dedup_s",
    "sync_diff": "operators.dedup_s", "dedup_collect": "operators.dedup_s",
    "run_qa_pipeline": "qa.run_s", "qa_collect": "qa.collect_s",
}
QA_SPANS = ("run_qa_pipeline", "qa_collect", "qa_release")


@dataclass
class Request:
    """``run(runner, rid)`` performs the request through ``runner.call``
    and returns its output; ``check(output)`` returns None when the
    output is correct, else a description of the mismatch."""

    name: str
    run: Callable
    check: Callable


@dataclass
class Outcome:
    rid: str
    name: str
    latency: float
    error: str | None
    metrics: dict = field(default_factory=dict)

    @property
    def failed(self) -> bool:
        return self.error is not None


class Runner:
    """Runs requests one at a time; ``probe`` is None when no Spark
    session backs the requests (the harness self-tests)."""

    def __init__(self, tracer: Tracer, probe: SparkProbe | None,
                 release: Callable[[], int], cores: int,
                 timeout_s: float, hygiene_dirs: tuple[str, ...] = ()) -> None:
        self.tracer = tracer
        self.probe = probe
        self.release = release
        self.cores = cores
        self.timeout_s = timeout_s
        self.hygiene_dirs = hygiene_dirs
        self._calls: list[tuple[Span, str, object]] = []
        self._notes: dict[str, float] = {}
        self._group: str | None = None
        self._timed_out = False

    def call(self, rid: str, name: str, layer: str, fn: Callable,
             collect_df=None, **attrs):
        """Run ``fn()`` as one span under its own job group. When
        ``collect_df`` is given, ``fn`` executes that DataFrame and its
        plan metrics are read after the request."""
        group = f"{rid}/{len(self._calls)}.{name}"
        self._group = group
        if self.probe is not None:
            self.probe.set_group(group)
        with self.tracer.span(name, layer, rid, group=group, **attrs) as s:
            out = fn()
        self._calls.append((s, group, collect_df))
        return out

    def note(self, **counts: float) -> None:
        """Add counts measured by the request itself (e.g. bytes written)
        to its per-layer metrics."""
        for k, v in counts.items():
            self._notes[k] = self._notes.get(k, 0) + v

    def collect(self, rid: str, name: str, df, layer: str = "engine"):
        return self.call(rid, name, layer, df.collect, collect_df=df,
                         kind="collect")

    def _on_timeout(self) -> None:
        self._timed_out = True
        if self.probe is not None and self._group is not None:
            self.probe.cancel_group(self._group)

    def execute(self, req: Request, rid: str) -> Outcome:
        self._calls = []
        self._notes = {}
        self._timed_out = False
        error = output = None
        held = 0
        timer = threading.Timer(self.timeout_s, self._on_timeout)
        timer.start()
        with self.tracer.span(req.name, "request", rid) as rs:
            try:
                output = req.run(self, rid)
            except Exception:  # noqa: BLE001 - every failure is counted
                error = "raised: " + traceback.format_exc(limit=3)[-600:]
            finally:
                timer.cancel()
                held = self.call(rid, "release", "operators", self.release)
        if self._timed_out or rs.duration > self.timeout_s:
            error = f"timeout after {rs.duration:.1f}s" + (
                f" ({error})" if error else "")
        if error is None:
            try:
                mismatch = req.check(output)
            except Exception:  # noqa: BLE001 - a failing check is a wrong result
                mismatch = "check raised: " + traceback.format_exc(limit=3)[-600:]
            if mismatch:
                error = f"wrong result: {mismatch}"
        out = Outcome(rid, req.name, rs.duration, error)
        if self.tracer.enabled:
            out.metrics = self._request_metrics(rs, held)
        return out

    # ----------------------------------------------------------------------

    def _request_metrics(self, rs: Span, held: int) -> dict:
        m = {k: 0.0 for k, (_, agg) in LAYER_METRICS.items()
             if agg not in ("setup", "run")}
        if self.probe is not None:
            self.probe.drain()
        exec_s = 0.0
        for span, group, df in self._calls:
            jobs = self.probe.jobs(group) if self.probe is not None else []
            job_iv = []
            for j in jobs:
                if j["start"] is None or j["end"] is None:
                    continue
                js = self.tracer.add(span, f"job {j['job']}", "engine",
                                     j["start"], j["end"], group=group)
                job_iv.append((j["start"], j["end"]))
                m["engine.failed_tasks"] += j["failed_tasks"]
                for st in j["stages"]:
                    if st["status"] == "SKIPPED":
                        m["engine.stages_skipped"] += 1
                        continue
                    m["engine.stages"] += 1
                    m["engine.tasks"] += st["tasks"]
                    exec_s += st["executor_run_s"]
                    for k in ("executor_cpu_s", "gc_s", "shuffle_read_bytes",
                              "shuffle_write_bytes", "shuffle_fetch_wait_s",
                              "spill_bytes", "input_bytes", "result_bytes"):
                        m[f"engine.{k}"] += st[k]
                    if st["start"] is not None and st["end"] is not None:
                        self.tracer.add(js, f"stage {st['stage']}", "engine",
                                        st["start"], st["end"])
            m["engine.jobs"] += len(jobs)
            if span.layer == "plans":
                m["plans.construct_s"] += span.duration
                m["plans.construct_jobs"] += len(jobs)
                m["plans.construct_py_s"] += span.duration - union_length(job_iv)
            if span.name in STEP_METRICS:
                m[STEP_METRICS[span.name]] += span.duration
            if span.name in QA_SPANS:
                m["qa.jobs"] += len(jobs)
            if df is not None and self.probe is not None:
                pm = self.probe.plan_metrics(df)
                m["engine.exchanges"] += pm["exchanges"]
                m["engine.python_eval_nodes"] += pm["python_eval_nodes"]
                for phase in ("analysis", "optimization", "planning"):
                    if pm[phase] is None:
                        continue
                    start, end = pm[phase]
                    m[f"engine.{phase}_s"] += end - start
                    owner = next((c for c, _, _ in self._calls
                                  if c.start <= (start + end) / 2 <= c.end), None)
                    if owner is not None:
                        self.tracer.add(owner, phase, "engine", start, end)
        m["engine.executor_run_s"] = exec_s
        for k, v in self._notes.items():
            m[k] = m.get(k, 0) + v
        m["operators.cache.held"] = held
        if self.probe is not None:
            m["operators.cache.leaked_rdds"] = self.probe.persistent_rdds()
        m["sources.tmp_bytes_left"] = dir_bytes(*self.hygiene_dirs)[0]
        mine = [s for s in self.tracer.spans if s.rid == rs.rid]
        st = self_times(mine)
        per_layer = layer_self_times(mine, st)
        for layer in LAYERS:
            m[f"{layer}.self_s"] = per_layer.get(layer, 0.0)
        m["engine.collect_overhead_s"] = sum(
            st[s.sid] for s in mine if s.attrs.get("kind") == "collect")
        # the request span is the only one of layer "request"
        m["trace.unattributed_s"] = per_layer["request"]
        return m


def aggregate_pass(outcomes: list[Outcome], cores: int) -> dict[str, float]:
    """Per-layer metrics of one pass from its requests' metrics."""
    out: dict[str, float] = {}
    for name, (_, agg) in LAYER_METRICS.items():
        vals = [o.metrics.get(name, 0.0) for o in outcomes]
        if agg == "sum":
            out[name] = sum(vals)
        elif agg == "last":
            out[name] = vals[-1] if vals else 0.0
    wall = sum(o.latency for o in outcomes)
    out["engine.core_utilization"] = (
        out["engine.executor_run_s"] / (wall * cores) if wall else 0.0)
    inp = sum(o.metrics.get("sources.input_bytes", 0.0) for o in outcomes)
    out["sources.write_amplification"] = (
        out["sources.bytes_written"] / inp if inp else 0.0)
    out["trace.layer_coverage"] = min(
        (1.0 - o.metrics["trace.unattributed_s"] / o.latency
         for o in outcomes if o.latency > 0), default=1.0)
    return out


def median_metrics(per_pass: list[dict[str, float]]) -> dict[str, float]:
    return {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
