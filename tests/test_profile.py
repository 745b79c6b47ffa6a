"""Behavioral tests for the profile operators, modeled on the reference's
seeded-synthetic-data strategy (SURVEY.md §5; FIXTURES.md F1: seed 98104,
categorical with injected NAs + a 2016 missingness spike, normal numeric
with NAs)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from apde_etl_spark.operators import profile as P
from apde_etl_spark.plans.qa_pipeline import QaConfig, run_qa_pipeline


@pytest.fixture(scope="module")
def synth(spark):
    """Reference-style fixture: years 2011-2020, a 4-level categorical with
    NULLs (extra missing in 2016), a numeric with NULLs, a date column."""
    import random

    rng = random.Random(98104)
    rows = []
    cats = ["alpha", "beta", "gamma", "delta"]
    for i in range(4000):
        year = rng.randint(2011, 2020)
        cat = None if rng.random() < 0.05 or (year == 2016 and rng.random() < 0.20) else rng.choice(cats)
        num = None if rng.random() < 0.035 else rng.gauss(5000, 300)
        dt = datetime.date(year, rng.randint(1, 12), rng.randint(1, 28))
        low = rng.randint(0, 2)  # low-distinct numeric -> must demote
        rows.append(Row(myyear=year, mycategorical=cat, myinteger=num, mydate=dt, mylow=low))
    return spark.createDataFrame(rows)


def test_classify_columns(synth):
    cl = P.classify_columns(synth)
    assert set(cl.numeric) == {"myyear", "myinteger", "mylow"}
    assert cl.datetime == ["mydate"]
    assert cl.character == ["mycategorical"]


def test_distinct_counts_gate(synth):
    got = {r["varname"]: r["n_distinct"] for r in P.distinct_counts(synth, ["mylow", "myyear"]).collect()}
    assert got["mylow"] == 3
    assert got["myyear"] == 10


def test_missingness_counts_and_proportions(synth):
    m = P.missingness_profile(synth, "myyear", ["mycategorical", "myinteger"]).collect()
    by = {(r["time_period"], r["varname"]): r for r in m}
    total_2016 = synth.filter("myyear = 2016").count()
    null_2016 = synth.filter("myyear = 2016 and mycategorical is null").count()
    r = by[(2016, "mycategorical")]
    assert r["nrow"] == null_2016
    assert abs(r["proportion"] - null_2016 / total_2016) < 1e-12
    # spike: 2016 proportion must exceed a non-spike year's
    assert by[(2016, "mycategorical")]["proportion"] > by[(2015, "mycategorical")]["proportion"]


def test_numeric_stats_matches_python(synth):
    import statistics

    vals = [r["myinteger"] for r in synth.filter("myyear = 2013").select("myinteger").collect()
            if r["myinteger"] is not None]
    got = {r["varname"]: r for r in P.numeric_stats(
        synth.filter("myyear = 2013"), "myyear", ["myinteger"]).collect()}["myinteger"]
    assert abs(got["mean"] - statistics.fmean(vals)) < 1e-9
    assert abs(got["median"] - statistics.median(vals)) < 1e-9
    assert got["min"] == min(vals)
    assert got["max"] == max(vals)


def test_date_stats_midpoint_median(spark):
    # even count: median must be the floor-midpoint of the two middle dates
    d = datetime.date
    df = spark.createDataFrame(
        [Row(y=1, d=d(2020, 1, 1)), Row(y=1, d=d(2020, 1, 2)),
         Row(y=1, d=d(2020, 1, 9)), Row(y=1, d=d(2020, 1, 30))]
    )
    row = P.date_stats(df, "y", ["d"]).collect()[0]
    assert row["min_date"] == d(2020, 1, 1)
    assert row["max_date"] == d(2020, 1, 30)
    # middles are Jan 2 and Jan 9 -> interp 5.5 days -> floor -> Jan 5
    assert row["median_date"] == d(2020, 1, 5)


def test_categorical_freq_proportions_sum_to_one(synth):
    freq = P.categorical_freq(synth, "myyear", ["mycategorical"])
    sums = freq.groupBy("time_period", "varname").agg(F.sum("proportion").alias("s")).collect()
    assert all(abs(r["s"] - 1.0) < 1e-9 for r in sums)


def test_top_k_with_other_pins_null_and_rolls_up(spark):
    rows = [Row(time_period=1, varname="v", value=f"c{i:02d}", count=100 - i) for i in range(12)]
    rows.append(Row(time_period=1, varname="v", value=None, count=1))
    freq = spark.createDataFrame(rows).withColumn("proportion", F.lit(0.0))
    out = P.top_k_with_other(freq.select("time_period", "varname", "value", "count"), k=8).collect()
    vals = {r["value"]: r for r in out}
    assert None in vals  # NA pinned regardless of rank
    assert "Other values" in vals
    assert vals["Other values"]["count"] == sum(100 - i for i in range(8, 12))
    assert abs(sum(r["proportion"] for r in out) - 1.0) < 1e-12


def test_pipeline_end_to_end(synth):
    res = run_qa_pipeline(synth, QaConfig(time_var="myyear", distinct_threshold=5))
    miss = res.missingness.collect()
    vals = res.values
    # 4 profiled columns (time_var excluded) x 10 years, dense grid
    assert len(miss) == 4 * 10
    vartypes = {r["vartype"] for r in vals.select("vartype").distinct().collect()}
    assert vartypes == {"Categorical", "Continuous", "Date"}
    # mylow demoted to categorical
    cat_vars = {r["varname"] for r in vals.filter("vartype = 'Categorical'").select("varname").distinct().collect()}
    assert "mylow" in cat_vars and "mycategorical" in cat_vars
    # 2016 spike must raise an abs_change flag (string like '12.3%')
    flags = [r for r in miss if r["varname"] == "mycategorical" and r["time_period"] == 2016]
    assert flags and flags[0]["abs_change"] is not None and flags[0]["abs_change"].endswith("%")


def test_all_missing_detector(spark):
    from apde_etl_spark.operators.finalize import all_missing_vars

    df = spark.createDataFrame(
        [Row(time_period=1, varname="dead", proportion=1.0),
         Row(time_period=2, varname="dead", proportion=1.0),
         Row(time_period=1, varname="ok", proportion=1.0),
         Row(time_period=2, varname="ok", proportion=0.5)]
    )
    assert [r["varname"] for r in all_missing_vars(df).collect()] == ["dead"]


def test_gate_borderline_exact_recount(spark):
    """The in-pipeline gate's borderline band: a column whose distinct
    count sits within [0.7*thr, 1.5*thr) of the threshold must be decided
    by the EXACT recount, not the HLL estimate. 10 distinct values with
    threshold 11 -> est ~10 falls in [7.7, 16.5): the exact count (10 <
    11) must demote it to categorical; threshold 10 must keep it
    continuous."""
    rows = [
        Row(myyear=2011 + i % 4, borderline=float(i % 10), wide=float(i))
        for i in range(400)
    ]
    df = spark.createDataFrame(rows)

    res_demote = run_qa_pipeline(df, QaConfig(time_var="myyear", distinct_threshold=11))
    vt = {r["varname"]: r["vartype"] for r in
          res_demote.values.select("varname", "vartype").distinct().collect()}
    assert vt["borderline"] == "Categorical"
    assert vt["wide"] == "Continuous"

    res_keep = run_qa_pipeline(df, QaConfig(time_var="myyear", distinct_threshold=10))
    vt2 = {r["varname"]: r["vartype"] for r in
           res_keep.values.select("varname", "vartype").distinct().collect()}
    assert vt2["borderline"] == "Continuous"


def test_top_k_dense_rank_ties_keep_all_members(spark):
    """SURVEY §2.10.4: dense ranks 1..k with ties — every value sharing
    the boundary rank survives (frankv ties.method='dense'), only ranks
    > k roll into 'Other values'."""
    counts = [10, 9, 8, 7, 6, 5, 4, 3, 3, 1]  # two values tied at rank 8
    rows = [Row(time_period=1, varname="v", value=f"c{i}", count=c)
            for i, c in enumerate(counts)]
    freq = spark.createDataFrame(rows)
    out = {r["value"]: r["count"] for r in P.top_k_with_other(freq, k=8).collect()}
    assert out["c7"] == 3 and out["c8"] == 3  # both tied values kept
    assert out["Other values"] == 1           # only rank 9 rolled up


def test_approx_median_escape_hatch(synth):
    """median_mode="sketch" swaps the exact percentile for the GK sketch
    (fixed aggregate state at 100 TB); at accuracy 10000 on a 4k-row
    fixture the sketch result must agree with the exact one everywhere
    else and be within tight tolerance on the median itself."""
    exact = run_qa_pipeline(synth, QaConfig(time_var="myyear"))
    approx = run_qa_pipeline(synth, QaConfig(time_var="myyear", median_mode="sketch"))

    def meds(res):
        return {
            (r["time_period"], r["varname"]): r["median"]
            for r in res.values.filter(F.col("vartype") == "Continuous").collect()
        }

    me, ma = meds(exact), meds(approx)
    assert set(me) == set(ma)
    for k in me:
        assert abs(me[k] - ma[k]) <= max(1.0, abs(me[k]) * 0.01)


def test_median_modes_agree_where_exact(spark, lineitem):
    """buffer and histogram modes must produce IDENTICAL stats (both are
    exact); sketch mode matches on everything except the median column."""
    from pyspark.sql import functions as F

    from apde_etl_spark.operators import profile as P

    cols = ["l_quantity", "l_extendedprice", "l_shipdate"]
    base = lineitem.select(F.year("l_shipdate").cast("int").alias("__time"), *cols)
    classes = P.classify_columns(base, cols)

    def stats(mode):
        prof = P.combined_profile(base, "__time", classes, gate_cols=[],
                                  median_mode=mode)
        num = sorted(map(tuple, prof.numeric_stats().collect()))
        dat = sorted(map(tuple, prof.date_stats().collect()))
        prof.unpersist()
        return num, dat

    num_b, dat_b = stats("buffer")
    num_h, dat_h = stats("histogram")
    assert num_b == num_h
    assert dat_b == dat_h
    assert len(num_b) > 0 and len(dat_b) > 0


def test_median_modes_agree_on_null_time_period(spark):
    """A NULL time value forms a real group; histogram mode's median
    join must be null-safe so that group keeps its (exact) median, same
    as buffer mode computes in-row."""
    from pyspark.sql import functions as F

    from apde_etl_spark.operators import profile as P

    rows = [(None if i % 3 == 0 else i % 2, float(i), f"2024-01-{(i % 27) + 1:02d}")
            for i in range(60)]
    df = spark.createDataFrame(rows, "tp int, x double, d string").withColumn(
        "d", F.col("d").cast("date")
    )
    classes = P.classify_columns(df, ["x", "d"])

    def stats(mode):
        prof = P.combined_profile(df, "tp", classes, gate_cols=[], median_mode=mode)
        num = sorted(map(tuple, prof.numeric_stats().collect()),
                     key=lambda r: (r[0] is None, r))
        dat = sorted(map(tuple, prof.date_stats().collect()),
                     key=lambda r: (r[0] is None, r))
        prof.unpersist()
        return num, dat

    num_b, dat_b = stats("buffer")
    num_h, dat_h = stats("histogram")
    assert num_b == num_h
    assert dat_b == dat_h
    # the NULL period is present and has a non-null median in both modes
    null_rows = [r for r in num_h if r[0] is None]
    assert null_rows and all(r[3] is not None for r in null_rows)


def test_nan_counts_as_missing_and_does_not_poison_stats(spark):
    import math

    import pandas as pd

    from apde_etl_spark.plans.qa_pipeline import QaConfig, run_qa_pipeline

    df = spark.createDataFrame(
        pd.DataFrame({
            "yr": [2020] * 6,
            "x": [1.0, 2.0, 3.0, float("nan"), None, 4.0],
        })
    )
    res = run_qa_pipeline(df, QaConfig(time_var="yr", distinct_threshold=2))
    miss = {r["varname"]: r["nrow"] for r in res.missingness.collect()}
    # NaN AND NULL both count missing (R is.na semantics)
    assert miss["x"] == 2
    vals = res.values.filter(F.col("varname") == "x").collect()
    means = [r["mean"] for r in vals if r["mean"] is not None]
    assert means and all(not math.isnan(m) for m in means)
    assert abs(means[0] - 2.5) < 1e-9  # mean of 1,2,3,4 — NaN removed
    res.release()


def test_all_null_gate_column_demotes_instead_of_crashing(spark):
    import pandas as pd

    from apde_etl_spark.plans.qa_pipeline import QaConfig, run_qa_pipeline

    df = spark.createDataFrame(
        pd.DataFrame({"yr": [2020, 2021], "dead": [None, None]})
    ).select("yr", F.col("dead").cast("double").alias("dead"))
    res = run_qa_pipeline(df, QaConfig(time_var="yr"))
    # all-NULL numeric: HLL sketch is NULL -> estimate treated as the
    # null slot only -> demoted to categorical, where it reports as a
    # NULL-category frequency (no TypeError)
    assert res.values.filter(F.col("varname") == "dead").count() > 0
    res.release()


def test_unsupported_only_columns_raise_clearly(spark):
    import pytest as _pytest

    from apde_etl_spark.plans.qa_pipeline import QaConfig, run_qa_pipeline

    df = spark.range(3).select(
        F.col("id").alias("yr"), F.array(F.lit(1)).alias("arr")
    )
    with _pytest.raises(ValueError, match="no profilable columns"):
        run_qa_pipeline(df, QaConfig(time_var="yr", cols=["arr"]))


def test_quoted_column_name_profiles_cleanly(spark):
    import pandas as pd

    from apde_etl_spark.operators.profile import missingness_profile

    pdf = pd.DataFrame({"yr": [2020, 2020], "it's odd": [1.0, None]})
    df = spark.createDataFrame(pdf)
    out = {r["varname"]: r["nrow"] for r in
           missingness_profile(df, "yr", ["it's odd"]).collect()}
    assert out == {"it's odd": 1}


# ---------------------------------------------------------------------------
# Portable HLL registers (round 7)
# ---------------------------------------------------------------------------


def test_hll_registers_merge_equals_whole(spark):
    """Sharded register tables merged by MAX must equal the registers
    built over the whole set — the mergeability contract that makes
    per-day sketches unionable from storage."""
    from apde_etl_spark.operators.profile import hll_registers

    df = spark.range(5000).select(
        F.col("id"), (F.col("id") % 3).alias("shard"))
    whole = hll_registers(df, "id")
    sharded = (
        hll_registers(df, "id", ["shard"])
        .groupBy("reg").agg(F.max("max_rho").alias("max_rho"))
    )
    a = {(r["reg"], r["max_rho"]) for r in whole.collect()}
    b = {(r["reg"], r["max_rho"]) for r in sharded.collect()}
    assert a == b


def test_hll_estimate_accuracy_and_null_handling(spark):
    """m=256 -> rsd ~6.5%: assert a 15% envelope at 5k distinct; NULL
    keys are ignored like countDistinct."""
    from apde_etl_spark.operators.profile import (
        hll_estimate,
        hll_registers,
    )

    df = spark.range(5000).select(F.col("id"))
    est = hll_estimate(hll_registers(df, "id")).first()["est_distinct"]
    assert abs(est - 5000) / 5000 < 0.15
    withnull = df.select(
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("id"))
    est2 = hll_estimate(hll_registers(withnull, "id")).first()[
        "est_distinct"]
    assert abs(est2 - 2500) / 2500 < 0.15


# ---------------------------------------------------------------------------
# Cache hygiene and dense grid completion of run_qa_pipeline
# ---------------------------------------------------------------------------


def test_qa_pipeline_release_frees_every_cache(spark):
    """Grid completion used to persist an untracked frame per call that
    release() never freed; two calls on different inputs must leave the
    persistent-RDD count where it started."""
    jsc = spark.sparkContext._jsc
    start = jsc.getPersistentRDDs().size()
    for shift in (0, 1):
        df = spark.range(300).selectExpr(
            f"CAST(id % 4 + {shift} AS INT) AS yr",
            f"CAST(id % 13 + {shift} AS DOUBLE) AS x",
            "CAST(id % 5 AS STRING) AS s",
        )
        res = run_qa_pipeline(df, QaConfig(time_var="yr"))
        assert res.values.collect() and res.missingness.collect()
        res.release()
    assert jsc.getPersistentRDDs().size() == start


_EDGE_SCHEMA = "yr int, cat string, code string, x double"


def _edge_rows():
    """'b' is absent from 2020 and from the NULL period, the NULL
    category from 2020 and 2021; x has 3 distinct values (demoted)."""
    spec = [(2019, "a", 5), (2019, "b", 3), (2019, None, 1), (2020, "a", 4),
            (2021, "a", 2), (2021, "b", 6), (None, "a", 3), (None, None, 2)]
    rows, i = [], 0
    for yr, cat, n in spec:
        for _ in range(n):
            rows.append((yr, cat, f"c{i % 2}", float(i % 3)))
            i += 1
    return rows


def _duck_qa(rows, cols, where, abs_threshold=3.0, k=8):
    """DuckDB restatement of the categorical ``values`` rows and the
    ``missingness`` table: NULL-safe dense grid, lag ordered NULLS FIRST
    (an ascending Spark window's order)."""
    import duckdb

    from apde_etl_spark.plans.catalog import _sql_round

    con = duckdb.connect()
    con.execute("CREATE TABLE t (yr INTEGER, cat VARCHAR, code VARCHAR, x DOUBLE)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?)", rows)

    def flag(cur, prev):
        mag = f"abs(({cur} - {prev}) * 100)"
        return (f"CASE WHEN {mag} > {abs_threshold} "
                f"THEN CAST({_sql_round(mag, 1)} AS VARCHAR) || '%' END")

    base = f"base AS (SELECT yr AS tp, cat, code, x FROM t {where})"
    freq = " UNION ALL ".join(
        f"SELECT tp, '{c}' AS varname, CAST({c} AS VARCHAR) AS value, COUNT(*) AS n "
        f"FROM base GROUP BY tp, {c}" for c in cols)
    values = con.execute(f"""
    WITH {base}, freq AS ({freq}),
    ranked AS (SELECT *, CASE WHEN value IS NULL THEN 0 ELSE dense_rank() OVER
                 (PARTITION BY tp, varname ORDER BY n DESC) END AS rnk FROM freq),
    rolled AS (SELECT tp, varname, CASE WHEN rnk <= {k} THEN value
                 ELSE 'Other values' END AS value, SUM(n) AS n FROM ranked GROUP BY ALL),
    prop AS (SELECT *, n / SUM(n) OVER (PARTITION BY tp, varname) AS p FROM rolled),
    dense AS (
      SELECT g.tp, v.varname, v.value, COALESCE(p.n, 0) AS n, COALESCE(p.p, 0.0) AS p
      FROM (SELECT DISTINCT tp FROM base) g
      CROSS JOIN (SELECT DISTINCT varname, value FROM prop) v
      LEFT JOIN prop p ON g.tp IS NOT DISTINCT FROM p.tp AND v.varname = p.varname
                      AND v.value IS NOT DISTINCT FROM p.value),
    lagged AS (SELECT *, lag(p) OVER (PARTITION BY varname, value
                 ORDER BY tp ASC NULLS FIRST) AS prev FROM dense)
    SELECT tp, varname, value, CAST(n AS BIGINT), {_sql_round('p', 3)}, {flag('p', 'prev')}
    FROM lagged""").fetchall()
    miss = " UNION ALL ".join(
        f"SELECT tp, '{c}' AS varname, COUNT(*) FILTER (WHERE {c} IS NULL) AS nrow, "
        f"COUNT(*) FILTER (WHERE {c} IS NULL) / COUNT(*) AS p FROM base GROUP BY tp"
        for c in cols)
    missing = con.execute(f"""
    WITH {base}, miss AS ({miss}),
    lagged AS (SELECT *, lag(p) OVER (PARTITION BY varname ORDER BY tp ASC NULLS FIRST)
                 AS prev FROM miss)
    SELECT tp, varname, CAST(nrow AS BIGINT), {_sql_round('p', 3)}, {flag('p', 'prev')}
    FROM lagged""").fetchall()
    return values, missing


def _sorted(rows):
    return sorted(map(tuple, rows), key=lambda r: [(v is not None, v) for v in r])


@pytest.mark.parametrize("cols, time_range, where", [
    (["cat", "code"], None, ""),                        # character columns only
    (["cat", "code", "x"], None, ""),                   # x is a demoted gate column
    (["cat", "code", "x"], (2020, 2021), "WHERE yr BETWEEN 2020 AND 2021"),
])
def test_categorical_grid_completion_matches_duckdb(spark, cols, time_range, where):
    rows = _edge_rows()
    df = spark.createDataFrame(rows, _EDGE_SCHEMA)
    res = run_qa_pipeline(df, QaConfig(time_var="yr", cols=cols, time_range=time_range))
    got_values = res.values.filter("vartype = 'Categorical'").select(
        "time_period", "varname", "value", "count", "proportion",
        "abs_proportion_change").collect()
    got_missing = res.missingness.collect()
    res.release()
    want_values, want_missing = _duck_qa(rows, cols, where)
    assert _sorted(got_values) == _sorted(want_values)
    assert _sorted(got_missing) == _sorted(want_missing)
    # absent (value, period) pairs are zero-filled, not dropped
    b = {r["time_period"]: r["count"] for r in got_values
         if r["varname"] == "cat" and r["value"] == "b"}
    if time_range is None:
        assert b == {None: 0, 2019: 3, 2020: 0, 2021: 6}
    else:
        assert b == {2020: 0, 2021: 6}


def test_sql_twins_match_column_helpers(spark):
    """The SQL-text formulas in functions.core must give bit-identical
    results to their Column counterparts."""
    from apde_etl_spark.functions.core import (
        change_flag_abs,
        change_flag_abs_sql,
        change_flag_rel,
        change_flag_rel_sql,
        null_scrub,
        null_scrub_sql,
        round_half_away,
        round_half_away_sql,
    )

    vals = [0.0, 0.0005, -0.0005, 1.2345, -2.5, 0.125, 12.25, 1e15 + 0.5,
            float("nan"), float("inf"), None]
    df = spark.createDataFrame(list(zip(vals, vals[1:] + [1.0])), "x double, y double")
    by_col = df.select(
        round_half_away(null_scrub("x"), 3), round_half_away(F.col("x"), 0),
        change_flag_abs(F.col("x"), F.col("y"), 3.0),
        change_flag_rel(F.col("x"), F.col("y"), 10.0),
    ).collect()
    by_sql = df.selectExpr(
        round_half_away_sql(null_scrub_sql("x"), 3), round_half_away_sql("x", 0),
        change_flag_abs_sql("x", "y", 3.0), change_flag_rel_sql("x", "y", 10.0),
    ).collect()
    assert [tuple(map(repr, r)) for r in by_col] == [tuple(map(repr, r)) for r in by_sql]
