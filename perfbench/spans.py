"""Spans, self time, percentiles and the Spark probes the benchmark reads.

A span is one timed call at a layer boundary. Spans of one request share
the request id, which is also the prefix of every Spark job group set
while the request runs, so jobs and stages from the status store attach
to the call that launched them. Spans stay in memory and are written out
when the run ends.
"""

from __future__ import annotations

import math
import re
import time
from collections import defaultdict
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: wall clock minus perf_counter, for placing status-store times (epoch
#: milliseconds) on the perf_counter axis every other span uses
EPOCH_OFFSET = time.time() - time.perf_counter()


@dataclass
class Span:
    sid: int
    parent: int | None
    rid: str
    name: str
    layer: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Disabled, ``span`` still yields a Span
    (so callers read ``.duration`` either way) but records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, rid: str, **attrs) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), parent, rid, name, layer, time.perf_counter(),
                 attrs=dict(attrs))
        if self.enabled:
            self.spans.append(s)
            self._stack.append(s.sid)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def add(self, parent: Span, name: str, layer: str, start: float,
            end: float, **attrs) -> Span:
        """Record a span measured elsewhere (a Spark job or stage)."""
        s = Span(len(self.spans), parent.sid, parent.rid, name, layer,
                 start, end, dict(attrs))
        if self.enabled:
            self.spans.append(s)
        return s

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Per span: its duration minus the part of its interval that its
    child spans cover (children clipped to the parent's interval)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = union_length([
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[s.sid] if min(c.end, s.end) > max(c.start, s.start)
        ])
        out[s.sid] = max(0.0, s.duration - covered)
    return out


def layer_self_times(spans: list[Span], st: dict[int, float]) -> dict[str, float]:
    """Self times ``st`` (from ``self_times``) summed per span layer."""
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s.layer] += st[s.sid]
    return dict(out)


def tail_percentile(samples: list[float], min_beyond: int = 10
                    ) -> tuple[float, float] | None:
    """(p, value) for the highest percentile p whose nearest-rank
    sample has at least ``min_beyond`` samples ranked beyond it;
    ``None`` when there are too few samples for any percentile."""
    xs = sorted(samples)
    n = len(xs)
    for p in [99.99, 99.9, *range(99, 0, -1)]:
        k = math.ceil(round(p * n / 100, 9))
        if k >= 1 and n - k >= min_beyond:
            return float(p), xs[k - 1]
    return None


# --------------------------------------------------------------------------
# Spark probes
# --------------------------------------------------------------------------

_EXCHANGE = re.compile(r"\b(Exchange|BroadcastExchange|ShuffleExchange)\b")
_PYTHON_EVAL = re.compile(
    r"\b(BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow|PythonMapInArrow"
    r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow|FlatMapCoGroupsInPandas"
    r"|FlatMapCoGroupsInArrow|AggregateInPandas|ArrowAggregatePython"
    r"|WindowInPandas|ArrowWindowPython|FlatMapGroupsInPandasWithState)\b")


def _opt_secs(opt) -> float | None:
    return opt.get().getTime() / 1000.0 - EPOCH_OFFSET if opt.isDefined() else None


class SparkProbe:
    """Reads the status store and query executions of one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._ssc = self.sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group, interruptOnCancel=False)

    def cancel_group(self, group: str) -> None:
        self.sc.cancelJobGroup(group)

    def drain(self) -> None:
        """Wait until the listener bus has posted every event, so the
        status store holds the jobs of the request that just ended."""
        self._ssc.listenerBus().waitUntilEmpty(30_000)

    def persistent_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    def jobs(self, group: str) -> list[dict]:
        out = []
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            jd = self._store.job(jid)
            stages = []
            for sid in self._conv.asJava(jd.stageIds()):
                try:
                    sd = self._store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - a stage never submitted
                    stages.append({"stage": sid, "status": "SKIPPED"})
                    continue
                stages.append({
                    "stage": sid,
                    "status": sd.status().toString(),
                    "start": _opt_secs(sd.submissionTime()),
                    "end": _opt_secs(sd.completionTime()),
                    "tasks": sd.numTasks(),
                    "failed_tasks": sd.numFailedTasks(),
                    "executor_run_s": sd.executorRunTime() / 1e3,
                    "executor_cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_read_bytes": sd.shuffleReadBytes(),
                    "shuffle_write_bytes": sd.shuffleWriteBytes(),
                    "shuffle_fetch_wait_s": sd.shuffleFetchWaitTime() / 1e3,
                    "spill_bytes": sd.diskBytesSpilled(),
                    "input_bytes": sd.inputBytes(),
                    "result_bytes": sd.resultSize(),
                })
            out.append({
                "job": jid,
                "start": _opt_secs(jd.submissionTime()),
                "end": _opt_secs(jd.completionTime()),
                "failed_tasks": jd.numFailedTasks(),
                "stages": stages,
            })
        return out

    def plan_metrics(self, df) -> dict:
        """Catalyst phase times and executed-plan node counts of ``df``
        (after it has run)."""
        qe = df._jdf.queryExecution()
        phases = self._conv.asJava(qe.tracker().phases())
        out = {}
        for name in ("analysis", "optimization", "planning"):
            ph = phases.get(name)
            out[name] = None if ph is None else (
                ph.startTimeMs() / 1e3 - EPOCH_OFFSET,
                ph.endTimeMs() / 1e3 - EPOCH_OFFSET)
        plan = qe.executedPlan().toString()
        out["exchanges"] = len(_EXCHANGE.findall(plan))
        out["python_eval_nodes"] = len(_PYTHON_EVAL.findall(plan))
        return out


def vm_hwm_kb(pid: int | str = "self") -> int:
    """Peak resident set size (VmHWM) of a process, in KiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def reset_hwm(pid: int | str = "self") -> None:
    """Reset VmHWM to the current RSS (Linux ``clear_refs`` value 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as fh:
            fh.write("5")
    except OSError:
        pass


def dir_bytes(*paths: str) -> tuple[int, int]:
    """(bytes, files) of every regular file under ``paths``."""
    import os

    total = files = 0
    for p in paths:
        if os.path.isfile(p):
            total += os.path.getsize(p)
            files += 1
        for root, _, names in os.walk(p):
            for n in names:
                try:
                    total += os.lstat(os.path.join(root, n)).st_size
                    files += 1
                except FileNotFoundError:
                    pass
    return total, files
