"""Persistent ANN index lifecycle (operators/ann_index.py): build
artifacts round-trip, frozen-index encoding, append semantics, and the
no-training-in-the-query-plan contract."""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

from apde_etl_spark.operators.ann_index import (
    ann_index_add,
    ann_query_prebuilt,
    build_ann_index,
    encode_against_index,
    load_bounds,
    load_centroids,
    load_codebooks,
)


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _build(spark, sf_dir, **kw):
    d = tempfile.mkdtemp(prefix="test_annidx_")
    meta = build_ann_index(_emb(spark, sf_dir), d, **kw)
    return d, meta


def test_build_artifacts_round_trip(spark, sf_dir):
    d, meta = _build(spark, sf_dir, n_cells=8)
    cent = load_centroids(spark, d)
    assert cent.count() == 8
    mins, maxs = load_bounds(spark, d)
    assert len(mins) == 64 and len(maxs) == 64
    assert all(lo <= hi for lo, hi in zip(mins, maxs))
    books = load_codebooks(spark, d)
    assert len(books) == meta["pq_m"]
    assert all(len(b) == meta["pq_k"] for b in books)
    assert all(len(c) == 64 // meta["pq_m"] for b in books for c in b)
    codes = spark.read.parquet(f"{d}/codes")
    assert codes.count() == _emb(spark, sf_dir).count()
    # every code byte is a valid uint8
    bad = codes.filter(
        F.exists("sq8_code", lambda x: (x < 0) | (x > 255))).count()
    assert bad == 0


def test_encode_against_frozen_index_matches_build(spark, sf_dir):
    # encoding the corpus against its own frozen index must reproduce
    # the stored codes exactly (same bounds, same centroids)
    d, _ = _build(spark, sf_dir, n_cells=8)
    enc = encode_against_index(spark, d, _emb(spark, sf_dir))
    stored = spark.read.parquet(f"{d}/codes").select(
        "vec_id", "sq8_code", F.col("cell_id").cast("long").alias("cell_id"))
    enc = enc.select("vec_id", "sq8_code",
                     F.col("cell_id").cast("long").alias("cell_id"))
    assert enc.exceptAll(stored).count() == 0
    assert stored.exceptAll(enc).count() == 0


def test_append_grows_partitioned_codes(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    d = tempfile.mkdtemp(prefix="test_annidx_add_")
    base = emb.filter(F.col("vec_id") % 10 != 0)
    build_ann_index(base, d, n_cells=8)
    n0 = spark.read.parquet(f"{d}/codes").count()
    ann_index_add(spark, d, emb.filter(F.col("vec_id") % 10 == 0))
    after = spark.read.parquet(f"{d}/codes")
    assert after.count() == emb.count()
    assert n0 < emb.count()
    # appended rows landed in existing cell partitions, not new ones
    cells = {r["cell_id"] for r in
             after.select("cell_id").distinct().collect()}
    cent_cells = {r["cell_id"] for r in
                  load_centroids(spark, d).select("cell_id").collect()}
    assert cells <= cent_cells


def test_prebuilt_query_matches_self_neighbors(spark, sf_dir):
    d, _ = _build(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3)
    out = ann_query_prebuilt(spark, d, q, emb, k=3, n_probe=2, rerank=10)
    rows = out.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
    assert set(per_q) == {0, 1, 2}
    for qid, rs in per_q.items():
        assert [r["rank"] for r in sorted(rs, key=lambda r: r["rank"])] == \
            [1, 2, 3]
        assert all(r["vec_id"] != qid for r in rs)  # self excluded
        # ranks ordered by descending exact cosine
        srt = sorted(rs, key=lambda r: r["rank"])
        assert all(srt[i]["cosine_raw"] >= srt[i + 1]["cosine_raw"]
                   for i in range(len(srt) - 1))


def test_query_entry_plan_has_no_training_jobs(spark, sf_dir):
    """The catalog entry's RETURNED plan must read stored artifacts
    only: no 64-dim min/max bounds aggregate, no seed-selection
    TakeOrdered over the corpus — training ran at build time."""
    import __spark_entry__ as entrymod

    df = entrymod.queries()["ann_query_prebuilt"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "apde_annidx_" in plan          # stored index is in the plan
    assert "partial_min(" not in plan      # no bounds training aggregate
    assert "partial_max(" not in plan


def test_knn_graph_build_and_beam_search(spark, sf_dir, tmp_path):
    """Graph index lifecycle: build persists adjacency + entry meta;
    beam search returns k deterministic neighbors per query; wider
    beams can only improve (or tie) the per-query best cosine."""
    import pyspark.sql.functions as F

    from apde_etl_spark.operators.ann_index import (
        ann_graph_search,
        build_knn_graph,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = str(tmp_path / "gidx")
    meta = build_knn_graph(emb, d, n_neighbors=4, n_entries=8,
                           n_long_links=2)
    assert meta["n_neighbors"] == 4 and meta["n_entries"] == 8
    g = spark.read.parquet(f"{d}/graph")
    n = emb.count()
    # k-NN rows exact; long links n*2 minus the rare self-target hits
    assert g.filter(F.col("rank") <= 4).count() == n * 4
    n_long = g.filter(F.col("rank") > 4).count()
    assert n * 2 - n <= n_long <= n * 2
    # hash-stratified entry set: 8 distinct corpus ids
    ents = {r["entry_id"]
            for r in spark.read.parquet(f"{d}/graph_meta").collect()}
    corpus_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert len(ents) == 8 and ents <= corpus_ids

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = ann_graph_search(spark, d, queries, emb, k=3, beam=6, hops=2)
    rows = out.collect()
    nq = queries.count()
    assert len(rows) == nq * 3
    # deterministic: a second run is identical
    rows2 = ann_graph_search(spark, d, queries, emb, k=3, beam=6,
                             hops=2).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # no self matches
    assert all(r["query_id"] != r["vec_id"] for r in rows)
    # a wider beam never worsens the best-cosine found per query
    wide = {r["query_id"]: r["cosine_raw"]
            for r in ann_graph_search(spark, d, queries, emb, k=1,
                                      beam=12, hops=2).collect()}
    narrow = {r["query_id"]: r["cosine_raw"]
              for r in ann_graph_search(spark, d, queries, emb, k=1,
                                        beam=3, hops=2).collect()}
    assert all(wide[q] >= narrow[q] - 1e-12 for q in narrow)


def test_graph_recall_floor(spark, sf_dir):
    from apde_etl_spark.plans.catalog_r7 import ann_recall_graph

    r = ann_recall_graph(spark, sf_dir).first()
    assert r["n_exact"] > 0
    # measured 0.6 at sf0.01 on the uniform-noise corpus (ANN's hard
    # case); floor well under
    assert r["recall_at_k"] >= 0.35


def test_ann_graph_add_appends_edges(spark, sf_dir, tmp_path):
    """NSW insert: new vectors get beam-search neighbor lists against
    the frozen graph, and the out-edges append to the adjacency."""
    import pyspark.sql.functions as F

    from apde_etl_spark.operators.ann_index import (
        ann_graph_add,
        build_knn_graph,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    corpus = emb.filter(F.col("vec_id") % 10 != 0)
    batch = emb.filter(F.col("vec_id") % 10 == 0)
    d = str(tmp_path / "gidx")
    build_knn_graph(corpus, d, n_neighbors=4, n_entries=8)
    before = spark.read.parquet(f"{d}/graph").count()
    edges = ann_graph_add(spark, d, batch, corpus, beam=6, hops=2)
    n_new = batch.count()
    got = edges.collect()
    assert len(got) == n_new * 4
    # every appended edge points from a NEW id into the OLD corpus
    old_ids = {r["vec_id"] for r in corpus.select("vec_id").collect()}
    new_ids = {r["vec_id"] for r in batch.select("vec_id").collect()}
    assert all(r["src"] in new_ids and r["dst"] in old_ids for r in got)
    after = spark.read.parquet(f"{d}/graph").count()
    assert after == before + n_new * 4


def test_layered_graph_build_and_descent_search(spark, sf_dir, tmp_path):
    """HNSW-class layered index (round 8): deterministic hash-based
    levels, per-layer adjacency artifacts, and the descent + layer-0
    search contract (k rows per query, deterministic, no self-match,
    never worse than the flat walk at equal layer-0 budget)."""
    import pyspark.sql.functions as F

    from apde_etl_spark.operators.ann_index import (
        ann_graph_search,
        ann_graph_search_layered,
        build_knn_graph,
        node_levels,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = str(tmp_path / "hidx")
    meta = build_knn_graph(emb, d, n_neighbors=4, n_entries=8,
                           n_long_links=2, n_layers=2, layer_factor=8,
                           layer_neighbors=3)
    assert meta["n_layers"] == 2
    lm = spark.read.parquet(f"{d}/layer_meta").first()
    assert (lm["n_layers"], lm["layer_factor"], lm["layer_neighbors"]) \
        == (2, 8, 3)
    # levels are geometric: every level-l node set is the hash filter,
    # and each persisted layer's src set == that level's node set
    lv = node_levels(emb, "vec_id", 2, 8)
    n1 = lv.filter(F.col("lvl") >= 1).count()
    up = spark.read.parquet(f"{d}/graph_upper")
    src1 = {r["src"] for r in up.filter("layer = 1").select("src")
            .distinct().collect()}
    lvl1 = {r["vec_id"] for r in lv.filter(F.col("lvl") >= 1).collect()}
    assert src1 == lvl1 and len(lvl1) == n1
    # layer-1 adjacency: exactly layer_neighbors edges per node (the
    # subset is far larger than k here)
    assert up.filter("layer = 1").count() == n1 * 3

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    out = ann_graph_search_layered(spark, d, queries, emb, k=3, beam=6,
                                   hops=2, descend_beam=4,
                                   hops_per_layer=1)
    rows = out.collect()
    assert len(rows) == queries.count() * 3
    rows2 = ann_graph_search_layered(spark, d, queries, emb, k=3, beam=6,
                                     hops=2, descend_beam=4,
                                     hops_per_layer=1).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    assert all(r["query_id"] != r["vec_id"] for r in rows)
    # NOTE: no per-query dominance claim vs the flat walk — at equal
    # layer-0 budget the descent's extra seeds can evict a flat-walk
    # candidate at the fixed-width beam cut (beam pollution), so
    # individual queries may do worse; quality is asserted where it is
    # well-defined (recall floor below, and the 200k stress point in
    # BASELINE.md where the hierarchy is the whole point). Here: the
    # descent beam must reach layer 0 (results exist for every query)
    # with valid cosines.
    assert all(-1.0 - 1e-9 <= r["cosine_raw"] <= 1.0 + 1e-9 for r in rows)


def test_hnsw_recall_floor_and_beats_nothing_lost(spark, sf_dir):
    from apde_etl_spark.plans.catalog_r8 import ann_recall_hnsw

    r = ann_recall_hnsw(spark, sf_dir).first()
    assert r["n_exact"] > 0
    assert r["recall_at_k"] >= 0.35


def test_local_serve_parity_bit_exact(spark, sf_dir, tmp_path,
                                      monkeypatch):
    """The size-gated broadcast-index serve (round 10) must reproduce
    the iterative join-per-hop walk BIT-FOR-BIT — flat and layered,
    including the float64 cosines — and must respect its row gate
    (LOCAL_SERVE_MAX_ROWS, and ``local_max_rows`` per call)."""
    import shutil
    import struct

    import pyspark.sql.functions as F

    from apde_etl_spark.operators import ann_index
    from apde_etl_spark.operators.ann_index import (
        ann_graph_search,
        ann_graph_search_layered,
        build_knn_graph,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = str(tmp_path / "hidx")
    build_knn_graph(emb, d, n_neighbors=4, n_entries=8, n_long_links=2,
                    n_layers=2, layer_factor=8, layer_neighbors=3)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def canon(rows):
        return sorted(
            tuple(struct.pack(">d", v).hex() if isinstance(v, float)
                  else v for v in r) for r in rows)

    results = {}
    for fn, kw in [
        (ann_graph_search, dict(k=3, beam=6, hops=2)),
        (ann_graph_search_layered,
         dict(k=3, beam=6, hops=2, descend_beam=4, hops_per_layer=1)),
    ]:
        fast_df = fn(spark, d, queries, emb, **kw)
        # the fast path IS taken: single Arrow stage, no per-hop joins
        plan = fast_df._jdf.queryExecution().executedPlan().toString()
        assert "MapInPandas" in plan and "Join" not in plan
        fast = fast_df.collect()
        with monkeypatch.context() as m:
            m.setattr(ann_index, "LOCAL_SERVE_MAX_ROWS", 0)
            it_df = fn(spark, d, queries, emb, **kw)
        assert "MapInPandas" not in \
            it_df._jdf.queryExecution().executedPlan().toString()
        assert canon(fast) == canon(it_df.collect())
        results[fn] = canon(fast)
    # rows gate: a cap below the corpus size forces the iterative path,
    # as module constant and as the per-call argument
    gated = ann_graph_search_layered(spark, d, queries, emb, k=3, beam=6,
                                     hops=2, local_max_rows=3)
    assert "MapInPandas" not in \
        gated._jdf.queryExecution().executedPlan().toString()
    monkeypatch.setattr(ann_index, "LOCAL_SERVE_MAX_ROWS", 3)
    gated = ann_graph_search(spark, d, queries, emb, k=3, beam=6, hops=2)
    assert "MapInPandas" not in \
        gated._jdf.queryExecution().executedPlan().toString()
    # the flat walk skips the descent and never reads the layer
    # artifacts: with them deleted it serves the same rows on both paths
    for sub in ("layer_meta", "graph_upper"):
        shutil.rmtree(f"{d}/{sub}")
    monkeypatch.undo()
    flat = ann_graph_search(spark, d, queries, emb, k=3, beam=6, hops=2)
    assert canon(flat.collect()) == results[ann_graph_search]
    monkeypatch.setattr(ann_index, "LOCAL_SERVE_MAX_ROWS", 0)
    flat_it = ann_graph_search(spark, d, queries, emb, k=3, beam=6, hops=2)
    assert canon(flat_it.collect()) == results[ann_graph_search]


def test_local_serve_byte_gate_and_query_shape(spark, sf_dir, tmp_path,
                                               monkeypatch):
    """Round-11 gate hardening: (1) the BYTE budget declines the fast
    path for a corpus whose replicated payload (rows x dim x 8B) would
    blow the broadcast budget even when the ROW gate admits it;
    (2) null / ragged / wrong-dim QUERY vectors decline the fast plan
    up front (the mapInPandas task could not fall back once running);
    (3) an Integer-typed corpus id declines (schema stability with the
    iterative path, which preserves the original id type)."""
    import pyspark.sql.functions as F

    from apde_etl_spark.operators import ann_index
    from apde_etl_spark.operators.ann_index import (
        ann_graph_search,
        build_knn_graph,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    d = str(tmp_path / "bidx")
    build_knn_graph(emb, d, n_neighbors=4, n_entries=8, n_long_links=2)
    queries = emb.filter(F.col("vec_id") % 50 == 0)

    def is_fast(df):
        return "MapInPandas" in \
            df._jdf.queryExecution().executedPlan().toString()

    # sanity: with default budgets the fast path serves this corpus
    assert is_fast(ann_graph_search(spark, d, queries, emb,
                                    k=3, beam=6, hops=2))
    # (1) byte budget: this corpus is n x dim x 8B + slack; a budget
    # below that declines even though the row gate (200k) admits it
    with monkeypatch.context() as m:
        m.setattr(ann_index, "LOCAL_SERVE_MAX_BYTES", 1024)
        assert not is_fast(ann_graph_search(spark, d, queries, emb,
                                            k=3, beam=6, hops=2))
    # (2) ragged queries: one query vector truncated to a shorter dim
    ragged = queries.select(
        "vec_id",
        F.when(F.col("vec_id") == 0, F.slice("embedding", 1, 3))
        .otherwise(F.col("embedding")).alias("embedding"))
    assert not is_fast(ann_graph_search(spark, d, ragged, emb,
                                        k=3, beam=6, hops=2))
    # null query vector
    nullq = queries.select(
        "vec_id",
        F.when(F.col("vec_id") == 0, F.lit(None)).otherwise(
            F.col("embedding")).alias("embedding"))
    assert not is_fast(ann_graph_search(spark, d, nullq, emb,
                                        k=3, beam=6, hops=2))
    # (3) integer corpus ids: iterative path keeps IntegerType output,
    # so the long-typed fast path must decline
    emb_int = emb.select(F.col("vec_id").cast("int").alias("vec_id"),
                         "embedding")
    q_int = emb_int.filter(F.col("vec_id") % 50 == 0)
    assert not is_fast(ann_graph_search(spark, d, q_int, emb_int,
                                        k=3, beam=6, hops=2))


def test_local_serve_level_seeds_match_node_levels(spark, sf_dir):
    """The fast path recomputes HNSW level assignment driver-side via
    hashlib.md5(str(id)); it must agree with node_levels' hash60 column
    for every corpus id (the descent seed set depends on it)."""
    import hashlib

    from apde_etl_spark.operators.ann_index import node_levels

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    got = {r["vec_id"]: r["lvl"]
           for r in node_levels(emb, "vec_id", 3, 8).collect()}

    def py_lvl(cid: int) -> int:
        h = int(hashlib.md5(str(int(cid)).encode()).hexdigest()[:15], 16)
        lvl = 0
        for l in range(1, 4):
            if h % (8 ** l) == 0:
                lvl = l
        return lvl

    assert got and all(py_lvl(c) == lv for c, lv in got.items())
