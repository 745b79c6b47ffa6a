"""Reshape operators (SURVEY.md §2.3).

R1 wide->long melt — the reference's signature move (data.table::melt,
R/etl_qa_run_pipeline.R:698,712,731,752; T-SQL CROSS APPLY VALUES
:1195-1199 / UNPIVOT :1240-1251).

R2 template completion — dense (time x varname [x value]) grid
cross-joined then left-joined onto actuals with zero-fill
(R/etl_qa_run_pipeline.R:1549-1612).

Scale note: ``melt_long`` multiplies rows by ``len(cols)``. The profile
operators in :mod:`profile` therefore avoid melting *raw* tables wherever
an aggregation can run per-column first (aggregate-then-reshape); the raw
melt is reserved for categorical frequency, where the grouping key
genuinely includes the value.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from apde_etl_spark.functions.core import sql_ident, sql_string


def melt_long(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "varname",
    value_name: str = "value",
    value_type: str = "string",
) -> DataFrame:
    """Wide -> long: ``(ids..., c1..cn)`` -> ``(ids..., varname, value)``.

    Uses the native ``stack`` generator (one pass, no shuffle, stays in
    whole-stage codegen). All value columns are cast to ``value_type``
    because a long column must be single-typed — the reference does the
    same with CAST(... AS VARCHAR) in its CROSS APPLY branch
    (R/etl_qa_run_pipeline.R:1178).
    """
    if not value_cols:
        raise ValueError("melt_long: value_cols is empty — stack(0) is invalid SQL")
    pairs = ", ".join(
        f"{sql_string(c)}, cast({sql_ident(c)} as {value_type})" for c in value_cols
    )
    stack_expr = (f"stack({len(value_cols)}, {pairs}) "
                  f"as ({sql_ident(var_name)}, {sql_ident(value_name)})")
    return df.selectExpr(*map(sql_ident, id_cols), stack_expr)


def template_complete(
    actuals: DataFrame,
    grid_dims: Sequence[DataFrame],
    fill_zero_cols: Sequence[str],
) -> DataFrame:
    """Cross-join the dimension frames into a dense grid, left-join the
    actuals, zero-fill the count-like columns (R/etl_qa_run_pipeline.R
    CJ(...) :1578-1582,1608-1612).

    The grid sides are tiny (distinct years x varnames), so Catalyst
    broadcast-joins them; the actuals side never reshuffles.
    """
    grid = grid_dims[0]
    for d in grid_dims[1:]:
        grid = grid.crossJoin(d)
    keys = grid.columns
    out = grid.join(actuals, on=list(keys), how="left")
    for c in fill_zero_cols:
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out
