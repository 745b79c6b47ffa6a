"""Parity pin for the Arrow pair-cosine seam (_pair_cosine_scored).

On the shuffle candidate path the scorer is arrow_pair_cosine (numpy
per-dimension accumulation); on the broadcast path it stays the in-plan
JVM HOF fold. The two must be BIT-IDENTICAL — same IEEE-754 op order.
"""
from __future__ import annotations

import struct

import apde_etl_spark.operators.similarity as SIM


def _canon(rows):
    return sorted(
        tuple(struct.pack(">d", v).hex() if isinstance(v, float) else v
              for v in r)
        for r in rows
    )


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_arrow_seam_bit_exact_and_gated(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    for fn, kw in [
        (SIM.ann_lsh_topk, dict(k=5, num_planes=6, dim=64)),
        (SIM.embed_neardup_pairs, dict(threshold=0.3, num_planes=6, dim=64)),
    ]:
        fold_df = fn(emb, strategy="broadcast", **kw)
        assert "MapInPandas" not in _plan(fold_df)
        fold = _canon(fold_df.collect())

        arrow_df = fn(emb, strategy="shuffle", **kw)
        assert "MapInPandas" in _plan(arrow_df), fn.__name__
        assert fold == _canon(arrow_df.collect()), fn.__name__


def test_arrow_pair_cosine_direct_matches_fold(spark, sf_dir):
    """arrow_pair_cosine on a raw candidate frame == the HOF fold,
    bit for bit, including the norm columns' consumption order."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    e = emb.select(
        F.col("vec_id"), SIM.as_double_array("embedding").alias("__v")
    ).withColumn("__n", SIM.l2_norm(F.col("__v")))
    a = e.select(F.col("vec_id").alias("id_a"), F.col("__v").alias("__va"),
                 F.col("__n").alias("__na"))
    b = e.select(F.col("vec_id").alias("id_b"), F.col("__v").alias("__vb"),
                 F.col("__n").alias("__nb"))
    cand = a.join(b, F.col("id_a") % 7 == F.col("id_b") % 7).filter(
        F.col("id_a") < F.col("id_b"))
    fold = cand.select(
        "id_a", "id_b",
        (SIM.dot(F.col("__va"), F.col("__vb"))
         / (F.col("__na") * F.col("__nb"))).alias("c"))
    arrow = SIM.arrow_pair_cosine(
        cand, keys=("id_a", "id_b"), a_col="__va", b_col="__vb",
        na_col="__na", nb_col="__nb", out_col="c")
    got_f, got_a = _canon(fold.collect()), _canon(arrow.collect())
    assert len(got_f) > 100
    assert got_f == got_a
