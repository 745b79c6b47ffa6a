"""Final-results layer (SURVEY.md §3.1 step 4; reference
``etl_qa_final_results``, R/etl_qa_run_pipeline.R:1527-1650).

Takes the initial profile tables and produces the reference's exported
contracts:

- ``missingness(time_period, varname, nrow, proportion, abs_change)``
- ``values(time_period, vartype, varname, value, mean, median, min, max,
  median_date, min_date, max_date, count, proportion,
  abs_proportion_change, rel_mean_change, rel_median_change)``

All inputs here are *already aggregated* (rows ~= periods x varnames
[x top-k values]). Each stage is one ``selectExpr`` of SQL text, so
building an arm costs a few py4j calls instead of one per Column node.

Dense completion (CJ(...) :1578-1582,1608-1612; SURVEY §2.10.7) needs no
cross join, join or cache: the missingness profile is complete by
construction (the fused aggregate stacks every column for every period),
and the categorical grid is completed per (varname, value) group against
the period list that the gate query returns (see
:meth:`~apde_etl_spark.operators.profile.CombinedProfile.gate_estimates`).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apde_etl_spark.functions.core import (
    change_flag_abs_sql,
    change_flag_rel_sql,
    null_scrub_sql,
    round_half_away_sql,
)

_BY_VARNAME = "(PARTITION BY varname ORDER BY time_period)"


def _rounded(x: str, digits: int) -> str:
    return round_half_away_sql(null_scrub_sql(x), digits)


def finalize_missingness(miss: DataFrame, abs_threshold: float = 3.0,
                         digits_prop: int = 3) -> DataFrame:
    """Add the lag-1 abs_change flag (:1535-1539) and round. ``miss``
    must hold every (time_period, varname) pair, as the missingness
    profiles in :mod:`~apde_etl_spark.operators.profile` do."""
    lagged = miss.selectExpr("*", f"lag(proportion) OVER {_BY_VARNAME} AS __prev")
    return lagged.selectExpr(
        "time_period", "varname", "CAST(nrow AS BIGINT) AS nrow",
        f"{_rounded('proportion', digits_prop)} AS proportion",
        f"{change_flag_abs_sql('proportion', '__prev', abs_threshold)} AS abs_change",
    ).orderBy("varname", "time_period")


def finalize_continuous(stats: DataFrame, rel_threshold: float = 10.0,
                        digits_mean: int = 2) -> DataFrame:
    """Rel-change flags on mean and median (:1585-1596), half-away
    rounding (:1597-1600), NaN/Inf scrub (:1641-1642)."""
    lagged = stats.selectExpr(
        "*", f"lag(mean) OVER {_BY_VARNAME} AS __pmean",
        f"lag(median) OVER {_BY_VARNAME} AS __pmedian",
    )
    return lagged.selectExpr(
        "time_period", "varname",
        *[f"{_rounded(c, digits_mean)} AS {c}" for c in ("mean", "median", "min", "max")],
        f"{change_flag_rel_sql('mean', '__pmean', rel_threshold)} AS rel_mean_change",
        f"{change_flag_rel_sql('median', '__pmedian', rel_threshold)} AS rel_median_change",
    )


def finalize_categorical(freq_top: DataFrame, periods: str, abs_threshold: float = 3.0,
                         digits_prop: int = 3) -> DataFrame:
    """Per (varname, value) completion across periods with zero-fill, then
    abs-proportion-change flags over time (:1549-1568).

    ``periods`` is SQL text of an array holding every time period. One
    groupBy(varname, value) gathers the periods a pair was seen in, the
    absent ones are zero-filled, and the array is sorted by period
    (NULL first, as an ascending window orders it) so each row's lag-1
    predecessor is the element before it. Matching is null-safe, so a
    NULL value or NULL period keeps its counts."""
    seen = freq_top.groupBy("varname", "value").agg(
        F.expr("collect_list(named_struct('time_period', time_period, "
               "'count', `count`, 'proportion', proportion)) AS __e"))
    zeros = (f"transform(array_except({periods}, transform(__e, x -> x.time_period)), "
             "p -> named_struct('time_period', p, 'count', 0L, 'proportion', 0.0D))")
    prev = "IF(i = 0, NULL, __d[i - 1].proportion)"
    row = (
        "named_struct('time_period', x.time_period, 'varname', varname, 'value', value, "
        "'count', x.`count`, "
        f"'proportion', {_rounded('x.proportion', digits_prop)}, "
        f"'abs_proportion_change', {change_flag_abs_sql('x.proportion', prev, abs_threshold)})"
    )
    return (
        seen.selectExpr("varname", "value", f"array_sort(concat(__e, {zeros})) AS __d")
        .selectExpr(f"inline(transform(__d, (x, i) -> {row}))")
    )


def stack_values(categorical: DataFrame | None, continuous: DataFrame | None,
                 date: DataFrame | None) -> DataFrame:
    """U3 — stack the three profile tables into one ``values`` relation
    with a ``vartype`` tag, padding absent columns with NULL
    (rbindlist fill=TRUE, :1625-1636) via unionByName."""
    parts = [
        df.selectExpr("*", f"'{tag}' AS vartype")
        for df, tag in ((categorical, "Categorical"), (continuous, "Continuous"), (date, "Date"))
        if df is not None
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)


def all_missing_vars(miss: DataFrame) -> DataFrame:
    """A11 — varnames 100% missing in every period -> exclusion list
    (:1724-1731)."""
    return (
        miss.groupBy("varname")
        .agg(F.min("proportion").alias("_minp"))
        .filter(F.col("_minp") >= 1.0)
        .select("varname")
    )


def check_standards(observed: DataFrame, standard: DataFrame) -> DataFrame:
    """J8 — the chi_standards conformance table: indicator full-outer join
    of the observed (varname, group) domain against the standard domain,
    0/1 presence flags, ``problem='*'`` on any one-sided row
    (R/etl_qa_run_pipeline.R:766-801, 951-982, 1620-1622).

    ``observed``/``standard``: (varname, group) relations; both sides are
    distinct'd here. The standard side is a tiny dimension — broadcast.
    """
    ob = observed.select("varname", "group").distinct().alias("ob")
    st = standard.select("varname", "group").distinct().alias("st")
    j = ob.join(
        F.broadcast(st),
        (F.col("ob.varname") == F.col("st.varname"))
        & (F.col("ob.group").eqNullSafe(F.col("st.group"))),
        "full_outer",
    )
    return j.select(
        F.coalesce(F.col("ob.varname"), F.col("st.varname")).alias("varname"),
        F.coalesce(F.col("ob.group"), F.col("st.group")).alias("group"),
        F.when(F.col("ob.varname").isNull(), 0).otherwise(1).alias("your_data"),
        F.when(F.col("st.varname").isNull(), 0).otherwise(1).alias("chi"),
        F.when(
            F.col("ob.varname").isNull() | F.col("st.varname").isNull(), F.lit("*")
        ).otherwise(F.lit(None).cast("string")).alias("problem"),
    )
