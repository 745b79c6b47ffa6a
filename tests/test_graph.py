"""Integer PageRank tests (operators/graph.py).

The oracle gate (catalog_r5d) proves 5-iteration engine parity on the
co-purchase graph; these tests pin the semantics on graphs small enough
to reason about: symmetry, mass concentration, teleport floor,
dangling-mass rule, and validation.
"""

from __future__ import annotations

import pytest

from apde_etl_spark.operators.graph import SCALE, degree_table, pagerank_integer


def _undirected(spark, pairs):
    e = spark.createDataFrame(pairs, "a long, b long")
    return e.selectExpr("a AS src", "b AS dst").unionAll(
        e.selectExpr("b AS src", "a AS dst")
    )


def _ranks(df):
    return {r["node"]: r["rank"] for r in df.collect()}


def test_symmetric_graph_equal_ranks(spark):
    # triangle: all nodes equivalent -> identical integer ranks
    edges = _undirected(spark, [(1, 2), (2, 3), (3, 1)])
    r = _ranks(pagerank_integer(edges, iters=4))
    assert len(set(r.values())) == 1
    # symmetric fixed point: each node keeps ~SCALE/3 (minus truncation)
    assert abs(next(iter(r.values())) - SCALE // 3) < 10**7


def test_star_center_dominates(spark):
    edges = _undirected(spark, [(0, i) for i in range(1, 6)])
    r = _ranks(pagerank_integer(edges, iters=5))
    center, leaves = r[0], [r[i] for i in range(1, 6)]
    assert all(center > leaf for leaf in leaves)
    assert len(set(leaves)) == 1  # leaves are symmetric


def test_teleport_floor_on_directed_source(spark):
    # 1 -> 2 only: node 1 never receives mass, keeps the bare teleport
    edges = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    one_way = spark.createDataFrame([(1, 2)], "src long, dst long")
    r2 = _ranks(pagerank_integer(edges, iters=3))
    assert r2[1] == r2[2]  # 2-cycle is symmetric
    # directed edge with a sink: universe = out-degree nodes only {1}
    r1 = _ranks(pagerank_integer(one_way, iters=3))
    assert set(r1) == {1}
    teleport = (15 * SCALE) // (100 * 1)
    assert r1[1] == teleport  # sink swallowed the damped mass


def test_ranks_are_deterministic_across_runs(spark):
    edges = _undirected(
        spark, [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)])
    a = _ranks(pagerank_integer(edges, iters=5))
    b = _ranks(pagerank_integer(edges.repartition(7), iters=5))
    assert a == b  # integer arithmetic: partitioning cannot change bits


def test_degree_table(spark):
    edges = _undirected(spark, [(1, 2), (1, 3)])
    d = {r["node"]: r["deg"] for r in degree_table(edges).collect()}
    assert d == {1: 2, 2: 1, 3: 1}


def test_validation(spark):
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError):
        pagerank_integer(edges, iters=0)
    with pytest.raises(ValueError):
        pagerank_integer(edges, damp_num=100, damp_den=100)


def test_personalized_pagerank_seeds_dominate(spark):
    from pyspark.sql import functions as F

    # path graph 1-2-3-4-5, seed {1}. Strict per-hop decay is NOT a
    # theorem on a bipartite path (mass oscillates between parity
    # classes), so assert the robust structure: the seed dominates,
    # the seed-side half holds more mass than the far half, and the
    # far end still receives propagated (teleport-free) mass.
    edges = _undirected(spark, [(1, 2), (2, 3), (3, 4), (4, 5)])
    r = _ranks(pagerank_integer(
        edges, iters=8, seed_pred=F.col("node") == 1))
    assert r[1] == max(r.values())
    assert r[1] + r[2] > r[4] + r[5]
    assert r[5] > 0


def test_personalized_pagerank_far_nodes_zero(spark):
    from pyspark.sql import functions as F

    # two disconnected components; seed in one -> other stays at 0
    edges = _undirected(spark, [(1, 2), (10, 11)])
    r = _ranks(pagerank_integer(
        edges, iters=4, seed_pred=F.col("node") <= 2))
    assert r[10] == 0 and r[11] == 0
    assert r[1] > 0 and r[2] > 0


def test_seed_pred_matching_zero_nodes_raises(spark):
    from pyspark.sql import functions as F

    edges = _undirected(spark, [(1, 2), (2, 3)])
    with pytest.raises(ValueError, match="zero nodes"):
        pagerank_integer(edges, iters=2, seed_pred=F.col("node") > 99)


def test_empty_edges_raises(spark):
    edges = spark.createDataFrame([], "src long, dst long")
    with pytest.raises(ValueError, match="empty"):
        pagerank_integer(edges, iters=1)


def test_dangling_redistribute_universe_and_mass(spark):
    # directed chain 1 -> 2 -> 3: node 3 is a pure sink. drop mode
    # ranks only {1, 2}; redistribute ranks ALL nodes and conserves
    # total mass up to floor-division truncation.
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    r_drop = _ranks(pagerank_integer(edges, iters=4))
    assert set(r_drop) == {1, 2}
    iters = 4
    r = _ranks(pagerank_integer(edges, iters=iters, dangling="redistribute"))
    assert set(r) == {1, 2, 3}
    # mass conservation: each iteration's floor divisions each lose < 1
    # unit per row — |E| share divs + 1 dangling div + N damp divs + N
    # teleport divs per iteration bounds the total loss.
    n, e = 3, 2
    max_loss = iters * (e + 1 + 2 * n) + n  # + initial scale//n loss
    assert SCALE - max_loss <= sum(r.values()) <= SCALE
    # the sink holds mass (it receives the chain's flow)
    assert r[3] > 0


def test_dangling_redistribute_partitioning_invariant(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (2, 5)], "src long, dst long")
    a = _ranks(pagerank_integer(edges, iters=5, dangling="redistribute"))
    b = _ranks(pagerank_integer(
        edges.repartition(7), iters=5, dangling="redistribute"))
    assert a == b


def test_checkpoint_every_results_identical(spark):
    edges = _undirected(spark, [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)])
    base = _ranks(pagerank_integer(edges, iters=8))
    ck = _ranks(pagerank_integer(edges, iters=8, checkpoint_every=2))
    assert base == ck
    ckd = _ranks(pagerank_integer(
        spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"),
        iters=6, dangling="redistribute", checkpoint_every=3))
    plain = _ranks(pagerank_integer(
        spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long"),
        iters=6, dangling="redistribute"))
    assert ckd == plain


def test_tol_early_stop_matches_full_run(spark):
    # tol=0 stops only at an exact fixed point; a symmetric triangle
    # reaches it quickly, so iters=20 with tol=0 must equal iters=20
    # without (stopping early at the same fixed point).
    edges = _undirected(spark, [(1, 2), (2, 3), (3, 1)])
    full = _ranks(pagerank_integer(edges, iters=20))
    stopped = _ranks(pagerank_integer(edges, iters=20, tol=0))
    assert full == stopped
    # a loose tol still returns a valid full-universe rank vector
    loose = _ranks(pagerank_integer(edges, iters=20, tol=10**9))
    assert set(loose) == {1, 2, 3}


def test_local_fast_path_parity_bit_exact(spark, monkeypatch):
    """The size-gated driver fast path (round 10) must reproduce the
    distributed superstep loop EXACTLY — same int64 arithmetic, every
    mode: drop / redistribute / personalized / tol early-stop — and
    respect its edge gate (the ``local_max_edges`` argument and the
    PAGERANK_LOCAL_MAX_EDGES module constant)."""
    from pyspark.sql import functions as F

    from apde_etl_spark.operators import graph as G

    taken = []
    real = G._pagerank_local_try

    def spy(*a, **kw):
        out = real(*a, **kw)
        taken.append(out is not None)
        return out

    monkeypatch.setattr(G, "_pagerank_local_try", spy)

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5), (5, 5), (2, 5),
         (6, 1), (6, 7), (7, 8)],
        "src long, dst long")
    cases = [
        dict(iters=5),
        dict(iters=5, dangling="redistribute"),
        dict(iters=5, seed_pred=(F.col("node") % 2 == 0)),
        dict(iters=20, tol=0),
        dict(iters=6, dangling="redistribute", tol=10**6),
    ]
    for kw in cases:
        taken.clear()
        fast = _ranks(pagerank_integer(edges, **kw))
        assert taken == [True], kw  # local path taken
        taken.clear()
        slow = _ranks(pagerank_integer(edges, local_max_edges=0, **kw))
        assert taken == [False], kw  # distributed loop taken
        assert fast == slow, kw
    # a module gate below the edge count also forces the distributed loop
    monkeypatch.setattr(G, "PAGERANK_LOCAL_MAX_EDGES", 3)
    taken.clear()
    assert set(_ranks(pagerank_integer(edges, iters=3))) and taken == [False]


def test_local_fast_path_declines_int_ids(spark):
    """Non-long node ids fall back to the distributed loop (the local
    path would change the output schema)."""
    edges = spark.createDataFrame([(1, 2), (2, 3)], "src int, dst int")
    df = pagerank_integer(edges, iters=2)
    assert "Join" in df._jdf.queryExecution().executedPlan().toString()
    assert set(_ranks(df)) == {1, 2}
