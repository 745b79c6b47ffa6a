"""The size gates that pick an operator's physical path are module
constants and call arguments, never process-wide environment state.

A gate read from ``os.environ`` at call time lets one caller's override
leak into every concurrent plan build; these tests pin that no operator
or plan module reads or writes the environment, and that the
gate-forced distributed twins change nothing outside their own call.
"""
from __future__ import annotations

import ast
import os
from pathlib import Path

import __spark_entry__ as entrymod
import apde_etl_spark

PKG = Path(apde_etl_spark.__file__).parent


def _env_uses(path: Path) -> list[str]:
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Attribute) and node.attr in (
                "environ", "environb", "getenv", "putenv", "unsetenv"):
            hits.append(f"{path.name}:{node.lineno} .{node.attr}")
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            hits += [f"{path.name}:{node.lineno} from os import {a.name}"
                     for a in node.names
                     if a.name in ("environ", "environb", "getenv")]
    return hits


def test_operators_and_plans_read_no_environment():
    hits = [h for sub in ("operators", "plans")
            for p in sorted((PKG / sub).rglob("*.py"))
            for h in _env_uses(p)]
    assert hits == []


def test_distributed_twins_leave_environment_and_default_path(
        spark, sf_dir, monkeypatch):
    """Building the two distributed twins changes no environment
    variable, not even while they build, and both decline their fast
    path; the default entry built right after still takes the
    broadcast-index fast path."""
    from apde_etl_spark.operators import ann_index, graph

    qs = entrymod.queries()
    before = dict(os.environ)

    def changed() -> list[str]:
        now = dict(os.environ)
        return sorted(k for k in before.keys() | now.keys()
                      if before.get(k) != now.get(k))

    seen = []
    for mod, name in ((ann_index, "_try_local_serve"),
                      (graph, "_pagerank_local_try")):
        real = getattr(mod, name)

        def spy(*a, _real=real, **kw):
            env = changed()
            out = _real(*a, **kw)
            seen.append((env, out is not None))
            return out

        monkeypatch.setattr(mod, name, spy)

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    hnsw = plan(qs["ann_hnsw_topk_distributed"](spark, sf_dir))
    pr = plan(qs["graph_pagerank_directed_sinks_distributed"](spark, sf_dir))
    assert changed() == []
    # (variables changed while building, fast path taken) per gate call
    assert seen == [([], False), ([], False)]
    assert "MapInPandas" not in hnsw
    # the superstep loop materializes every iteration, so its final
    # plan is a checkpoint scan, never the driver path's local relation
    assert "ExistingRDD" in pr and "LocalTableScan" not in pr

    default = plan(qs["ann_hnsw_topk"](spark, sf_dir))
    assert "MapInPandas" in default and "Join" not in default
