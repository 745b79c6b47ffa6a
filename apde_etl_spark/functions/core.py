"""Scalar column helpers shared across operators.

Each helper mirrors a semantics nuance of the reference (SURVEY.md §2.9 /
§2.10) but is built from native Column expressions only — no Python UDFs —
so every hot path stays inside whole-stage codegen.

The ``*_sql`` twins return the same formulas as Spark SQL text, for
callers that build a whole projection as one ``selectExpr`` string
instead of one py4j round trip per Column node; both forms analyze to
the same Catalyst expressions, so results are bit-identical.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F


def round_half_away(col: Column | str, digits: int = 0) -> Column:
    """Round half away from zero, matching ``rads::round2`` in the
    reference (R/etl_qa_run_pipeline.R:1541,1569,1597-1600).

    R's own ``round`` is half-even and Spark's ``F.round`` is HALF_UP on
    the *decimal* representation; the reference standardizes on
    half-away-from-zero, which DuckDB's ``round`` also uses — so using the
    same formula on both engine and oracle keeps value hashes identical.
    """
    c = F.col(col) if isinstance(col, str) else col
    factor = F.lit(float(10**digits))
    return F.signum(c) * F.floor(F.abs(c) * factor + F.lit(0.5)) / factor


def null_scrub(col: Column | str) -> Column:
    """Normalize NaN / +-Inf to NULL.

    The reference scrubs Inf/NaN produced by empty groups back to NA
    (R/etl_qa_run_pipeline.R:738-739,1641-1642).
    """
    c = F.col(col) if isinstance(col, str) else col
    bad = F.isnan(c) | (F.abs(c) == F.lit(float("inf")))
    return F.when(bad, F.lit(None)).otherwise(c)


def _pct_string(magnitude: Column) -> Column:
    """Format a change magnitude as the reference's ``'x.x%'`` string
    (one decimal, half-away rounding; R/etl_qa_run_pipeline.R:1537).

    Plain double->string cast (not ``format_number``, which inserts
    thousands separators the reference's ``paste0`` never produces).
    """
    return F.concat(round_half_away(magnitude, 1).cast("string"), F.lit("%"))


def change_flag_abs(cur: Column, prev: Column, threshold: float) -> Column:
    """Absolute-change flag: ``abs((cur - prev) * 100) > threshold`` emits
    the magnitude as a percent string, else NULL
    (R/etl_qa_run_pipeline.R:1535-1539,1564-1568). Flags are *strings or
    NULL*, never booleans (SURVEY.md §2.10.5)."""
    mag = F.abs((cur - prev) * F.lit(100.0))
    return F.when(mag > F.lit(threshold), _pct_string(mag)).otherwise(F.lit(None).cast("string"))


def change_flag_rel(cur: Column, prev: Column, threshold: float) -> Column:
    """Relative-change flag: ``abs((cur/prev - 1) * 100) > threshold``
    (R/etl_qa_run_pipeline.R:1585-1596)."""
    mag = F.abs((cur / prev - F.lit(1.0)) * F.lit(100.0))
    return F.when(mag > F.lit(threshold), _pct_string(mag)).otherwise(F.lit(None).cast("string"))


# ---------------------------------------------------------------------------
# SQL text: quoting, and twins of the Column helpers above
# ---------------------------------------------------------------------------

def sql_ident(name: str) -> str:
    """A backtick-quoted identifier. Backticks cannot be escaped inside a
    quoted identifier reference, so they are rejected with a clear error
    instead of generating corrupt SQL."""
    if "`" in name:
        raise ValueError(f"column name {name!r} contains a backtick — unsupported")
    return f"`{name}`"


def sql_string(text: str) -> str:
    """A string literal of ``text`` (backslashes and quotes escaped)."""
    return "'" + text.replace("\\", "\\\\").replace("'", "''") + "'"


def sql_double(x: float) -> str:
    """A DOUBLE literal (a bare ``1.5`` would parse as DECIMAL)."""
    r = repr(float(x))
    return f"{r}D" if math.isfinite(x) else f"CAST('{r}' AS DOUBLE)"


def round_half_away_sql(x: str, digits: int = 0) -> str:
    """SQL text of :func:`round_half_away` applied to expression ``x``."""
    f = sql_double(10**digits)
    return f"(signum({x}) * floor(abs({x}) * {f} + 0.5D) / {f})"


def null_scrub_sql(x: str) -> str:
    """SQL text of :func:`null_scrub` applied to expression ``x``."""
    return f"(CASE WHEN isnan({x}) OR abs({x}) = CAST('inf' AS DOUBLE) THEN NULL ELSE {x} END)"


def _flag_sql(mag: str, threshold: float) -> str:
    return (f"(CASE WHEN {mag} > {sql_double(threshold)} THEN "
            f"concat(CAST({round_half_away_sql(mag, 1)} AS STRING), '%') "
            "ELSE CAST(NULL AS STRING) END)")


def change_flag_abs_sql(cur: str, prev: str, threshold: float) -> str:
    """SQL text of :func:`change_flag_abs`."""
    return _flag_sql(f"abs(({cur} - {prev}) * 100.0D)", threshold)


def change_flag_rel_sql(cur: str, prev: str, threshold: float) -> str:
    """SQL text of :func:`change_flag_rel`."""
    return _flag_sql(f"abs(({cur} / {prev} - 1.0D) * 100.0D)", threshold)
