"""Self-tests of the benchmark harness (no Spark session needed).

Run from the root of a checkout: ``python3 -m pytest -q perfbench``.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402
from harness import LAYERS, Request, Runner, aggregate_pass  # noqa: E402
from spans import Span, Tracer, layer_self_times, self_times, tail_percentile  # noqa: E402


# ---------------------------------------------------------------- percentiles

@pytest.mark.parametrize("n,p", [(11, 9.0), (20, 50.0), (100, 90.0),
                                 (1000, 99.0), (10_000, 99.9)])
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    xs = [float(i) for i in range(n)]
    got_p, value = tail_percentile(xs)
    assert got_p == p
    assert len([x for x in xs if x > value]) >= 10


def test_tail_percentile_too_few_samples():
    assert tail_percentile([1.0] * 10) is None


# ----------------------------------------------------------- failure counting

def _runner(tracer: Tracer | None = None) -> Runner:
    return Runner(tracer or Tracer(False), None, release=lambda: 0, cores=4,
                  timeout_s=30.0)


def _boom(runner, rid):
    raise RuntimeError("planner exploded")


def test_raising_and_wrong_results_both_count():
    runner = _runner()
    reqs = [
        Request("ok", lambda r, rid: 42, lambda out: None if out == 42 else "bad"),
        Request("raises", _boom, lambda out: None),
        Request("wrong", lambda r, rid: 41, lambda out: None if out == 42 else "hash"),
    ]
    outs = [runner.execute(q, f"p0.{i}.{q.name}") for i, q in enumerate(reqs)]
    assert [o.failed for o in outs] == [False, True, True]
    assert "planner exploded" in outs[1].error
    assert outs[2].error.startswith("wrong result")


def test_timeout_counts_as_failed():
    runner = Runner(Tracer(False), None, release=lambda: 0, cores=4, timeout_s=0.01)
    import time

    out = runner.execute(Request("slow", lambda r, rid: time.sleep(0.05),
                                 lambda out: None), "p0.0.slow")
    assert out.failed and out.error.startswith("timeout")


def test_check_that_raises_counts_as_wrong():
    out = _runner().execute(Request("c", lambda r, rid: None,
                                    lambda out: 1 / 0), "p0.0.c")
    assert out.failed and "check raised" in out.error


# ------------------------------------------------------------------ self time

def test_self_time_on_synthetic_tree():
    # request [0,10] -> construct [0,3] (plans) with a job [1,2] (engine),
    # collect [3,9] (engine) with overlapping jobs [4,6] and [5,7] and a
    # job sticking out past its parent [8,12] (clipped to 9)
    spans = [
        Span(0, None, "r", "req", "request", 0.0, 10.0),
        Span(1, 0, "r", "construct", "plans", 0.0, 3.0),
        Span(2, 1, "r", "job", "engine", 1.0, 2.0),
        Span(3, 0, "r", "collect", "engine", 3.0, 9.0),
        Span(4, 3, "r", "job", "engine", 4.0, 6.0),
        Span(5, 3, "r", "job", "engine", 5.0, 7.0),
        Span(6, 3, "r", "job", "engine", 8.0, 12.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(1.0)       # 10 - (3 + 6)
    assert st[1] == pytest.approx(2.0)       # 3 - 1
    assert st[3] == pytest.approx(2.0)       # 6 - union([4,7],[8,9]) = 6 - 4
    layers = layer_self_times(spans, st)
    assert layers["plans"] == pytest.approx(2.0)
    assert layers["request"] == pytest.approx(1.0)
    # sibling jobs overlap, so each job's own self time is its full span
    assert layers["engine"] == pytest.approx(1 + 2 + 2 + 2 + 4)


def test_pass_aggregation_and_coverage():
    tracer = Tracer(True)
    runner = _runner(tracer)

    def run(r, rid):
        return r.call(rid, "construct", "plans", lambda: sum(range(10_000)))

    outs = [runner.execute(Request("x", run, lambda out: None), f"p1.{i}.x")
            for i in range(3)]
    agg = aggregate_pass(outs, cores=4)
    assert agg["plans.construct_s"] == pytest.approx(
        sum(o.metrics["plans.construct_s"] for o in outs))
    assert 0.0 < agg["trace.layer_coverage"] <= 1.0
    # layer self times plus what no layer covers make up each request
    for o in outs:
        assert sum(o.metrics[f"{layer}.self_s"] for layer in LAYERS) + o.metrics[
            "trace.unattributed_s"] == pytest.approx(o.latency, rel=1e-6)
    assert agg["engine.core_utilization"] == 0.0


# ----------------------------------------------------------------- inputs

def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a, b, c = (tmp_path / x for x in "abc")
    datagen.write_base(str(a), 0.002, 7)
    datagen.write_base(str(b), 0.002, 7)
    datagen.write_base(str(c), 0.002, 8)
    assert datagen.dir_digest(str(a)) == datagen.dir_digest(str(b))
    assert datagen.dir_digest(str(a)) != datagen.dir_digest(str(c))


def test_same_seed_gives_byte_identical_load_inputs(tmp_path):
    digests = []
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        t = datagen.base_tables(0.002, seed)
        d = tmp_path / name
        datagen.write_delimited_years(t["lineitem"], "lineitem", "l_shipdate", str(d))
        upd, dele = datagen.customer_deltas(t["customer"], seed, 20, 10, 5)
        datagen.pq.write_table(upd, str(d / "updates.parquet"))
        datagen.pq.write_table(dele, str(d / "deletes.parquet"))
        digests.append(datagen.dir_digest(str(d)))
    assert digests[0] == digests[1] != digests[2]


def test_customer_deltas_shape():
    cust = datagen.base_tables(0.002, 1)["customer"]
    upd, dele = datagen.customer_deltas(cust, 5, 20, 10, 5)
    keys = set(cust["c_custkey"].to_pylist())
    u = upd["c_custkey"].to_pylist()
    d = dele["c_custkey"].to_pylist()
    assert len(u) == 30 and len(d) == 5
    assert set(u[:20]) <= keys and not set(u[20:]) & keys
    assert set(d) <= keys and not set(d) & set(u)
