"""Graph analytics — fixed-point integer PageRank and degree stats.

Centrality is a first-class curation signal (Common Crawl ranks domains
by harmonic centrality / PageRank to weight training corpora); the
reference has no graph surface at all, so this is extension surface
(SURVEY §2.13) built the Spark way: edges are a DataFrame, every
iteration is one equi-join + one groupBy on the node key — the
Pregel-without-Pregel shape that co-partitions cleanly on a cluster.

The trick that makes the ORACLE possible: all arithmetic is FIXED-POINT
INTEGER. Float PageRank cannot be hash-gated across engines (sum order
changes the low bits); here ranks are BIGINTs scaled by 10^12,
per-neighbor shares use integer division, and integer addition is
associative-commutative — bit-identical in any execution order, in any
engine. The damping update is

    r'(v) = (15 * SCALE) // (100 * N)  +  (85 * SUM_{u->v} r(u)//deg(u)) // 100

(floor division; all operands positive).

Dangling (sink) handling is a parameter:

- ``dangling="drop"`` (default, the round-5 behavior): the node universe
  is nodes WITH out-edges, and mass flowing into pure sinks vanishes.
  Harmless on undirected inputs (both directions present => no sinks);
  a ranking, not a measure.
- ``dangling="redistribute"`` — the standard formulation for DIRECTED
  graphs with sinks (web/citation centrality): the universe is ALL nodes
  (src ∪ dst), and each iteration redistributes the summed sink mass
  uniformly before damping:

      r'(v) = tp + (85 * (in(v) + D // N)) // 100,  D = Σ_{sinks} r(u)

  still pure integer floor division, so still hash-gateable; total mass
  is conserved up to floor-division truncation (asserted in
  tests/test_graph.py).

Overflow headroom: SCALE=10^12, so 85 * SUM <= 85 * SCALE ~ 8.5e13 and
the teleport product 15 * SCALE = 1.5e13 — far inside int64 even at
billions of nodes.

Long iteration budgets: each iteration adds a join+groupBy layer to the
lineage, so an unbounded loop blows up driver planning time before data
size matters. ``checkpoint_every=k`` truncates lineage with an eager
``localCheckpoint`` every k iterations (results bit-identical — integer
arithmetic); ``tol`` stops early once the exact L1 delta between
consecutive iterations is <= tol fixed-point units (one tiny aggregate
action per iteration, only when requested).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["pagerank_integer", "degree_table", "bfs_min_hop"]

SCALE = 10**12


def degree_table(edges: DataFrame, src: str = "src") -> DataFrame:
    """Out-degree per node — (node, deg)."""
    return edges.groupBy(F.col(src).alias("node")).agg(
        F.count(F.lit(1)).alias("deg")
    )


#: edge count up to which :func:`pagerank_integer` runs on the driver
#: (read at call time; ``local_max_edges=`` overrides it per call)
PAGERANK_LOCAL_MAX_EDGES = 2_000_000


def _pagerank_local_try(
    edges: DataFrame,
    src: str,
    dst: str,
    nodes: DataFrame,
    is_seed: Column,
    uniform_init: bool,
    dangling: str,
    iters: int,
    scale: int,
    damp_num: int,
    damp_den: int,
    n_nodes: int,
    n_seed: int,
    tp_seed: int,
    tol: int | None,
    max_edges: int,
) -> DataFrame | None:
    """Driver-side twin of the superstep loop, or None past the gate /
    on any structural surprise (non-long node ids, null endpoints,
    duplicate universe rows).

    Fidelity: ranks/degrees/sums are int64 throughout; ``a // b`` on
    non-negative int64 == SQL ``div``; the per-dst contribution sum is
    an exact integer scatter-add (np.add.at — NOT bincount, whose
    float64 weights would round); sums are order-independent by
    integer associativity, exactly the property that makes the
    distributed loop hash-gateable in the first place. The seed
    predicate is evaluated by Spark itself inside the one nodes
    collect, so arbitrary Column predicates keep engine semantics."""
    import logging

    if max_edges <= 0:
        return None
    from pyspark.sql.types import LongType

    try:
        if not isinstance(edges.schema[src].dataType, LongType):
            return None
        if not isinstance(edges.schema[dst].dataType, LongType):
            return None
        if edges.select(src).limit(max_edges + 1).count() > max_edges:
            return None

        import numpy as np

        ep = edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d")).toPandas()
        nd = nodes.select(
            F.col("node"), is_seed.alias("sd")).toPandas()
        ids = nd["node"].to_numpy(dtype="int64")
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        n = len(ids)
        if n != n_nodes or (n > 1 and (np.diff(ids) == 0).any()):
            return None  # duplicate/NULL universe rows: joins define it
        seed_mask = nd["sd"].to_numpy(dtype="bool")[order]
        es = ep["s"].to_numpy(dtype="int64")
        ed = ep["d"].to_numpy(dtype="int64")

        si = np.searchsorted(ids, es)
        if not bool(((si < n) & (ids[np.minimum(si, n - 1)] == es)).all()):
            return None  # an edge source outside the node universe
        di = np.searchsorted(ids, ed)
        d_ok = (di < n) & (ids[np.minimum(di, n - 1)] == ed)
        if dangling == "redistribute":
            if not bool(d_ok.all()):
                return None  # universe = src ∪ dst: every dst resolves
        else:
            # drop mode: universe = out-edge nodes; mass into pure
            # sinks vanishes — drop those edges from the scatter.
            si, di = si[d_ok], di[d_ok]

        deg = np.zeros(n, dtype="int64")
        np.add.at(deg, np.searchsorted(ids, es), 1)
        has_out = deg > 0
        sinks = ~has_out
        tp_vec = np.where(seed_mask, np.int64(tp_seed), np.int64(0))
        ranks = (np.full(n, scale // n_nodes, dtype="int64")
                 if uniform_init else
                 np.where(seed_mask, np.int64(scale // n_seed),
                          np.int64(0)))

        shares = np.zeros(n, dtype="int64")
        for _ in range(iters):
            np.floor_divide(ranks, deg, out=shares, where=has_out)
            shares[sinks] = 0
            sums = np.zeros(n, dtype="int64")
            np.add.at(sums, di, shares[si])
            if dangling == "redistribute":
                dm = int(ranks[sinks].sum())
                new_ranks = tp_vec + (damp_num
                                      * (sums + dm // n_nodes)) // damp_den
            else:
                new_ranks = tp_vec + (damp_num * sums) // damp_den
            if tol is not None:
                delta = int(np.abs(new_ranks - ranks).sum())
                ranks = new_ranks
                if delta <= tol:
                    break
            else:
                ranks = new_ranks
    except Exception:
        logging.getLogger(__name__).warning(
            "pagerank local fast path failed; using the distributed "
            "loop", exc_info=True)
        return None

    import pandas as pd

    spark = edges.sparkSession
    return spark.createDataFrame(
        pd.DataFrame({"node": pd.Series(ids, dtype="int64"),
                      "rank": pd.Series(ranks, dtype="int64")}),
        schema="node bigint, rank bigint",
    )


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 5,
    scale: int = SCALE,
    damp_num: int = 85,
    damp_den: int = 100,
    seed_pred: Column | None = None,
    cache_scope: str | None = None,
    broadcast_below: int = 0,
    dangling: str = "drop",
    checkpoint_every: int = 0,
    tol: int | None = None,
    local_max_edges: int | None = None,
) -> DataFrame:
    """Fixed-iteration integer PageRank over a directed edge list.

    Pass both edge directions for an undirected graph. Returns
    (node, rank) with rank a BIGINT in fixed-point ``scale`` units.
    The caller should persist ``edges`` if it is expensive to recompute
    (the loop re-reads it every iteration).

    ``seed_pred`` (a boolean Column over ``node``) switches to
    PERSONALIZED PageRank: teleport mass goes only to the seed set
    (split evenly over |S| seeds, same fixed-point floor division), and
    the initial distribution is the teleport vector — ranks then measure
    proximity to the seeds, the similar-entity-discovery primitive.
    A seed predicate matching ZERO nodes is an error (the teleport
    division would otherwise be by zero — Spark's non-ANSI integer
    ``div`` yields NULL there, silently producing all-NULL ranks).

    ``dangling="redistribute"`` ranks over the FULL node universe
    (src ∪ dst) and folds sink mass back in uniformly each iteration —
    use it for directed graphs with sinks (module docstring).

    ``checkpoint_every=k`` > 0 truncates lineage with an eager
    ``localCheckpoint`` every k iterations so 25+-iteration runs stay
    linear in wall and plan depth. ``tol`` (fixed-point units) stops
    early when the exact L1 delta between consecutive rank vectors is
    <= tol; implies per-iteration checkpointing (the delta aggregate is
    an action, and re-running un-truncated lineage would be quadratic).

    Plan: degree once, then per iteration one join (ranks x edges on the
    node key) and one groupBy(dst) sum — 2 shuffles per iteration, both
    on the node id, AQE-coalesced; no per-row Python, no floats. The
    teleport constants (n, n_seed) come from ONE tiny driver-side
    aggregate, doubling as the seed validation.

    ``broadcast_below`` is the size gate for the rank/degree side: when
    |V| (counted once, off the persisted degree table) is at or under
    it, the per-iteration joins broadcast the node-sized frames so the
    only shuffle left per iteration is the groupBy(dst) — the right
    plan while ranks fit an executor. Past the gate the joins stay
    shuffle joins; at 100 TB the answer is co-partitioning edges and
    ranks on the node id, not broadcast. Results are identical either
    way (integer arithmetic; the unit suite pins partitioning
    invariance).

    ``local_max_edges`` is the driver fast-path gate for this call:
    up to that many edges the whole recurrence runs in numpy on one
    collect. ``None`` uses :data:`PAGERANK_LOCAL_MAX_EDGES`; ``0``
    forces the distributed loop. Results are bit-identical either way.
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not (0 < damp_num < damp_den):
        raise ValueError("damping must satisfy 0 < damp_num < damp_den")
    if dangling not in ("drop", "redistribute"):
        raise ValueError(f"pagerank_integer: unknown dangling={dangling!r}")
    if checkpoint_every < 0:
        raise ValueError("checkpoint_every must be >= 0")
    if tol is not None and tol < 0:
        raise ValueError("tol must be >= 0")
    deg = degree_table(edges, src)
    if cache_scope is not None:
        # deg (|V| rows) is referenced twice per iteration — share→free
        # it; the edge join, 5-10x larger, is the caller's persist call.
        from apde_etl_spark.operators.cache import tracked_persist

        deg = tracked_persist(deg, scope=cache_scope)
    if dangling == "redistribute":
        nodes = (
            edges.select(F.col(src).alias("node"))
            .unionAll(edges.select(F.col(dst).alias("node")))
            .distinct()
        )
        if cache_scope is not None:
            from apde_etl_spark.operators.cache import tracked_persist

            nodes = tracked_persist(nodes, scope=cache_scope)
    else:
        nodes = deg.select("node")
    is_seed = seed_pred if seed_pred is not None else F.lit(True)
    counts = nodes.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(is_seed, 1).otherwise(0)).cast("long").alias("n_seed"),
    ).first()
    n_nodes = int(counts["n"] or 0)
    n_seed = int(counts["n_seed"] or 0)
    if n_nodes == 0:
        raise ValueError("pagerank_integer: empty edge list (no nodes)")
    if n_seed == 0:
        raise ValueError(
            "pagerank_integer: seed_pred matches zero nodes — the "
            "personalized teleport mass has nowhere to go"
        )
    # teleport term: ((den-num)*scale) // (den*|teleport set|), zero
    # off-seed. Python // on positive ints == SQL div — same integers
    # the round-5 crossJoin formulation produced, now literals.
    tp_seed = ((damp_den - damp_num) * scale) // (damp_den * n_seed)

    # Size-gated driver fast path (the connected_components precedent):
    # a post-join edge list is two longs per row, so up to the gate the
    # whole fixed-point recurrence runs in numpy on ONE collect —
    # int64 floor division / scatter-add / sums, the identical integers
    # in the identical order-independent arithmetic — instead of ~2
    # shuffle stages + 2 broadcast builds PER ITERATION whose fixed
    # scheduling cost dominates at driver-scale graphs. Past the gate
    # (or with local_max_edges=0) the distributed loop below is
    # unchanged — that is the 100 TB path (co-partition edges and ranks
    # on the node id). Results are bit-identical (parity test-pinned in
    # tests/test_graph.py; every entry hash-gated).
    local = _pagerank_local_try(
        edges, src, dst, nodes, is_seed,
        uniform_init=(seed_pred is None), dangling=dangling, iters=iters,
        scale=scale, damp_num=damp_num, damp_den=damp_den,
        n_nodes=n_nodes, n_seed=n_seed, tp_seed=tp_seed, tol=tol,
        max_edges=(PAGERANK_LOCAL_MAX_EDGES if local_max_edges is None
                   else local_max_edges),
    )
    if local is not None:
        return local
    if seed_pred is None:
        ranks = nodes.select(
            "node", F.lit(scale // n_nodes).cast("long").alias("rank")
        )
    else:
        # personalized: start from the teleport vector itself
        ranks = nodes.select(
            "node",
            F.when(is_seed, F.lit(scale // n_seed))
            .otherwise(F.lit(0)).cast("long").alias("rank"),
        )
    # Size-gate on the frames node_sized actually hints: with
    # dangling="redistribute" the per-iteration frames (ranks/sums) are
    # keyed by the FULL src∪dst universe, which on sink-heavy graphs —
    # the exact case redistribute targets — can be far larger than deg
    # (nodes with out-edges). Gating on deg there would broadcast frames
    # past the configured cap (round-6 advice).
    gate_frame = nodes if dangling == "redistribute" else deg
    small = (
        broadcast_below > 0
        and gate_frame.limit(broadcast_below + 1).count() <= broadcast_below
    )

    def node_sized(df: DataFrame) -> DataFrame:
        return F.broadcast(df) if small else df

    e = edges.select(F.col(src).alias("node"), F.col(dst).alias("__dst"))
    # redistribute references `ranks` TWICE per iteration (dangling
    # aggregate + contribution join): without materialization the
    # recompute doubles per iteration (2^k within a lineage window —
    # measured 262s vs ~30s at 3M edges / 25 iters). Materialize every
    # superstep, the standard Pregel posture; integers, so results are
    # unchanged.
    materialize_each = tol is not None or dangling == "redistribute"
    track_delta = tol is not None
    for it in range(iters):
        contrib = ranks.join(node_sized(deg), "node").withColumn(
            "__share", F.expr("rank div deg")
        )
        sums = (
            node_sized(contrib)
            .join(e, "node")
            .groupBy(F.col("__dst").alias("node"))
            .agg(F.sum("__share").alias("__in"))
        )
        in_mass = F.coalesce(F.col("__in"), F.lit(0).cast("long"))
        if dangling == "redistribute":
            # sink mass this round: ranks of nodes with no out-edges —
            # one tiny 1-row aggregate, broadcast onto every node; each
            # node inherits D // N extra in-mass before damping.
            dang = (
                ranks.join(deg.select("node"), "node", "left_anti")
                .agg(F.coalesce(F.sum("rank"), F.lit(0)).cast("long")
                     .alias("__dm"))
            )
            new_ranks = (
                nodes.join(node_sized(sums), "node", "left")
                .withColumn("__in", in_mass)
                .crossJoin(F.broadcast(dang))
                .select(
                    "node",
                    (
                        F.when(is_seed, F.lit(tp_seed)).otherwise(F.lit(0))
                        + F.expr(
                            f"({damp_num} * (__in + (__dm div {n_nodes})))"
                            f" div {damp_den}"
                        )
                    ).cast("long").alias("rank"),
                )
            )
        else:
            # node universe = nodes with >= 1 out-edge (deg); a node with
            # no in-mass this round keeps the bare teleport term. Mass
            # flowing into pure sinks (absent from deg) is dropped — the
            # documented dangling="drop" rule; absent by construction on
            # undirected inputs.
            new_ranks = (
                nodes.join(node_sized(sums), "node", "left")
                .withColumn("__in", in_mass)
                .select(
                    "node",
                    (
                        F.when(is_seed, F.lit(tp_seed)).otherwise(F.lit(0))
                        + F.expr(f"({damp_num} * __in) div {damp_den}")
                    ).cast("long").alias("rank"),
                )
            )
        if materialize_each or (
            checkpoint_every > 0 and (it + 1) % checkpoint_every == 0
        ):
            # eager only when the loop itself runs an action per
            # iteration (the tol delta below) — there the checkpoint is
            # free and keeps the delta job off un-truncated lineage.
            # Otherwise LAZY: localCheckpoint(eager=False) truncates the
            # logical plan identically AND persists on first compute, so
            # the twice-per-iteration reference (dangling aggregate +
            # contribution join) is still computed once — but all
            # supersteps now execute inside the CALLER's single action
            # instead of one blocking driver-side job per iteration
            # (guide §2.4/§5: the per-job latency was pure overhead;
            # integers, so results are bit-identical either way —
            # before/after in OPTIMIZATION_r10.md).
            new_ranks = new_ranks.localCheckpoint(eager=track_delta)
        if track_delta:
            delta = (
                new_ranks.select("node", F.col("rank").alias("__ra"))
                .join(ranks.select("node", F.col("rank").alias("__rb")),
                      "node", "full")
                .agg(F.sum(F.abs(
                    F.coalesce(F.col("__ra"), F.lit(0))
                    - F.coalesce(F.col("__rb"), F.lit(0))
                )).alias("d")).first()["d"]
            )
            ranks = new_ranks
            if delta is not None and int(delta) <= tol:
                break
        else:
            ranks = new_ranks
    return ranks


def bfs_min_hop(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_hops: int = 3,
    checkpoint_every: int = 1,
) -> DataFrame:
    """Minimum-hop BFS from a seed set over a directed edge list —
    (node, hop) for every node reachable within ``max_hops``.

    The frontier formulation is the scale-correct transitive-closure
    plan: each level is ONE equi-join of the current frontier against
    the edge list on the node key plus one anti-join against the
    visited set, so level k touches only hop-k reachable nodes — never
    the path-enumeration blow-up a naive recursive UNION ALL produces
    on dense graphs (paths grow multiplicatively; frontiers are bounded
    by |V|). Spark 4 can also express this as a native
    ``WITH RECURSIVE`` (the oracle twin does, in DuckDB); the loop here
    keeps the per-level dedup explicit and the lineage truncated
    (``localCheckpoint`` per level, the ``pagerank_integer``
    precedent), which is what survives deep hop budgets on a cluster.

    ``seeds`` is a one-column (node) DataFrame; pass both edge
    directions for an undirected graph. Hop numbers are exact minima:
    a node is added the first level it is seen and never revisited.
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    e = edges.select(F.col(src).alias("__s"), F.col(dst).alias("__d"))
    frontier = seeds.select(F.col(seeds.columns[0]).alias("node")) \
        .distinct().withColumn("hop", F.lit(0))
    visited = frontier
    for hop in range(1, max_hops + 1):
        frontier = (
            e.join(frontier.select(F.col("node").alias("__s")), "__s")
            .select(F.col("__d").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("hop", F.lit(hop))
        )
        if checkpoint_every > 0 and hop % checkpoint_every == 0:
            # lazy: truncates the plan and persists on first compute
            # exactly like eager, but the per-level blocking job is
            # gone — every level executes inside the caller's single
            # action (same change as pagerank_integer above; the
            # frontier's two consumers — visited union + next level's
            # join — read the one cached RDD).
            frontier = frontier.localCheckpoint(eager=False)
        visited = visited.unionByName(frontier)
    return visited.select("node", F.col("hop").cast("int").alias("hop"))
