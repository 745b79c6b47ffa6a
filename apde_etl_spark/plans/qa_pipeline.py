"""The QA profiling pipeline — the reference's analytic entry point
``etl_qa_run_pipeline()`` (R/etl_qa_run_pipeline.R:141-449) re-expressed
as one lazy DataFrame program.

Lifecycle mapping (SURVEY.md §3.1): the reference validates args, builds a
``qa_data_config`` IR, dispatches to one of two executors (in-memory
data.table vs generated T-SQL) whose outputs must be identical, then
post-processes. Here the backend split collapses: the config builds a
single DataFrame DAG and Catalyst owns the physical plan. The DuckDB
oracle in ``__spark_entry__.py`` plays the reference's cross-backend
identity role (tests/manual/test-etl_qa_run_pipeline.R:138-141).

Physical notes
--------------
- The base table is scanned TWICE, column-pruned, at every size: one
  fused groupBy(time) pass computes missingness, numeric and date stats
  and the distinct-gate sketches for every column; the categorical melt
  is the second (its grouping key includes the value). The reference
  scans 3-4 times (:1186,1238,1343,1444). Caching the projected base to
  share one scan was measured slower than two pruned scans at sf0.02,
  sf0.1 and sf1, so nothing of the base table is cached.
- The time-range filter and column projection are applied before any
  aggregation, so Catalyst pushes them into the parquet scan (predicate
  pushdown + column pruning; verify with .explain -> PushedFilters).
- Numeric/date columns under ``distinct_threshold`` distinct values are
  demoted to categorical (:1252-1263) — an explicit cheap-gate-then-stats
  two-phase plan, same as the reference. The gate is the one eager query
  of the plan; it also returns the period list that completes the
  categorical grid.
- The only cache is the fused aggregate (one row per period, in one
  partition, so the finalize windows and the ordered missingness output
  read it without another exchange); :meth:`QaResults.release` frees it.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from apde_etl_spark.functions.core import sql_ident
from apde_etl_spark.operators import finalize as FIN
from apde_etl_spark.operators import profile as P


@dataclass
class QaConfig:
    """Declarative profiling job description — the reference's
    ``qa_data_config`` S3 object (R/etl_qa_run_pipeline.R:458-563)."""

    time_var: str
    cols: list[str] | None = None           # None -> all columns except time
    time_range: tuple | None = None          # inclusive (lo, hi) on time_var
    distinct_threshold: int = 10             # demotion gate (:517)
    abs_threshold: float = 3.0               # percentage points (:520)
    rel_threshold: float = 10.0              # percent (:523)
    top_k: int = 8                           # categorical cap (:1056)
    digits_mean: int = 2
    digits_prop: int = 3
    median_mode: str = "buffer"              # "buffer" | "sketch" (GK quantile)
                                             # | "histogram"
                                             # (histogram: exact medians with
                                             # bounded state — the 100 TB path)
    time_expr: Column | None = None          # optional derived time axis
    standards: DataFrame | None = None       # (varname, group) domain standard
                                             # -> chi_standards output (J8)


def validate_qa_config(df: DataFrame, config: "QaConfig") -> None:
    """Argument contract, mirroring the reference's validation layer and
    its error-message tests (etl_qa_run_pipeline.R:177-293;
    tests/manual/test-etl_qa_run_pipeline.R:339-680 asserts ~25 exact
    messages). Raises ValueError with a stable message per violation."""
    if config.time_expr is None and config.time_var not in df.columns:
        raise ValueError(f"time_var {config.time_var!r} not found in the data")
    if config.cols:
        missing = [c for c in config.cols if c not in df.columns]
        if missing:
            raise ValueError(f"cols not present in the data: {missing}")
    if config.time_range is not None:
        if len(tuple(config.time_range)) != 2:
            raise ValueError("time_range must be a (lo, hi) pair")
        lo, hi = config.time_range
        if lo > hi:
            raise ValueError("time_range lo must be <= hi")
    if not (isinstance(config.distinct_threshold, int) and config.distinct_threshold > 0):
        raise ValueError("distinct_threshold must be a positive integer")
    if config.abs_threshold <= 0 or config.rel_threshold <= 0:
        raise ValueError("abs_threshold and rel_threshold must be positive")
    if config.top_k <= 0:
        raise ValueError("top_k must be a positive integer")
    if config.digits_mean < 0 or config.digits_prop < 0:
        raise ValueError("digits_mean and digits_prop must be non-negative")
    if config.standards is not None:
        need = {"varname", "group"}
        have = set(config.standards.columns)
        if not need <= have:
            raise ValueError(
                f"standards must have columns {sorted(need)}, got {sorted(have)}"
            )


@dataclass
class QaResults:
    missingness: DataFrame
    values: DataFrame
    chi_standards: DataFrame | None = field(default=None)
    classes: P.ColumnClasses = field(default=None)
    _profile: object = field(default=None, repr=False)

    def release(self) -> None:
        """Unpersist the fused-profile cache backing the result frames —
        the only cache the pipeline holds. Call after the results are
        consumed (collected/written): a long-running driver profiling
        many tables would otherwise accumulate one persisted aggregate
        per call."""
        if self._profile is not None:
            self._profile.unpersist()


def run_qa_pipeline(df: DataFrame, config: QaConfig) -> QaResults:
    """Profile ``df`` per the config; returns the reference's exported
    table contracts (SURVEY.md §3.1 step 4): missingness, values, and —
    when a domain standard is configured — chi_standards."""
    validate_qa_config(df, config)
    t = config.time_expr if config.time_expr is not None else F.col(config.time_var)

    cols = config.cols or [c for c in df.columns if c != config.time_var]
    # P1/P2 — project + range-filter FIRST so the scan is pruned/pushed.
    base = df.withColumn("__time", t).selectExpr("__time", *map(sql_ident, cols))
    if config.time_range is not None:
        lo, hi = config.time_range
        base = base.filter(F.col("__time").between(lo, hi))

    classes = P.classify_columns(base, cols)
    if not classes.profiled:
        raise ValueError(
            "run_qa_pipeline: no profilable columns — every requested "
            "column has an unsupported (array/map/struct) type"
        )

    # ONE fused pass over the base table: missingness (every profiled
    # column) + numeric stats + date stats + a per-period HLL distinct
    # sketch for every gate column, in a single groupBy(__time) whose
    # output (one row per period) is persisted. The A6 gate decision is
    # then read off the persisted aggregate (union the period sketches)
    # instead of paying its own base scan. Stats computed for columns the
    # gate later demotes are discarded — wasted aggregate buffers, but
    # strictly cheaper than the extra scan they replace.
    gate_cols = classes.numeric + classes.datetime
    prof = P.combined_profile(
        base, "__time", classes, gate_cols=gate_cols,
        median_mode=config.median_mode,
    )

    # A6 — demotion decision from the sketches (SURVEY §2.10.6): HLL rsd
    # ~2-5%, so estimates outside a 0.7x-1.5x band of the threshold are
    # certain; only truly borderline columns pay for an exact recount
    # (usually: none), over a melt bounded by their tiny distinct sets.
    est, periods = prof.gate_estimates()
    thr = config.distinct_threshold
    demoted = {c for c in gate_cols if est[c] < 0.7 * thr}
    maybe = [c for c in gate_cols if 0.7 * thr <= est[c] < 1.5 * thr]
    if maybe:
        exact = {
            r["varname"]: r["n_distinct"]
            for r in P.distinct_counts(base, maybe).collect()
        }
        demoted |= {c for c, n in exact.items() if n < thr}

    num_cols = [c for c in classes.numeric if c not in demoted]
    date_cols = [c for c in classes.datetime if c not in demoted]
    cat_cols = classes.character + [c for c in gate_cols if c in demoted]

    missing_final = FIN.finalize_missingness(
        prof.missingness(), config.abs_threshold, config.digits_prop
    )

    continuous = date = categorical = None
    if num_cols:
        continuous = FIN.finalize_continuous(
            prof.numeric_stats(num_cols), config.rel_threshold, config.digits_mean
        )
    if date_cols:
        date = prof.date_stats(date_cols)
    if cat_cols:
        # proportions are recomputed after the top-k rollup, so the
        # frequency pass skips its own proportion window
        freq = P.categorical_freq(base, "__time", cat_cols, with_proportion=False)
        top = P.top_k_with_other(freq, config.top_k)
        categorical = FIN.finalize_categorical(
            top, periods, config.abs_threshold, config.digits_prop
        )

    values = FIN.stack_values(categorical, continuous, date)

    chi = None
    if config.standards is not None:
        # U4 — observed (varname, group) domain from the standard's own
        # varnames, built on the melted categorical relation
        std_vars = [
            r["varname"] for r in config.standards.select("varname").distinct().collect()
        ]
        present = [c for c in std_vars if c in cols]
        if present:
            from apde_etl_spark.operators.reshape import melt_long

            observed = melt_long(
                base.select(*[F.col(c).cast("string") for c in present]),
                [], present, value_name="group",
            ).distinct()
            chi = FIN.check_standards(observed, config.standards)

    return QaResults(
        missingness=missing_final, values=values, chi_standards=chi,
        classes=classes, _profile=prof,
    )
