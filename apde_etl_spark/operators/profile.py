"""Data-profiling aggregations (SURVEY.md §2.5) — the analytic core of the
reference's QA pipeline (R/etl_qa_run_pipeline.R:656-1000 and the four
generated T-SQL programs :1172-1466).

Design (Spark-first, scale-first)
---------------------------------
The reference melts the *raw* table wide->long and aggregates the long
relation (R path), or scans the base table 3-4 times with per-type SQL
(SQL path). Neither survives 100 TB: a raw melt multiplies rows by the
column count before the shuffle, and repeated base scans multiply I/O.

Here every per-column statistic (missingness A1, numeric stats A2/A3,
date stats A4, distinct gate A6) is computed as a *conditional aggregate
per column in a single groupBy(time) pass over the base table* — the
shuffle carries one row per (time-group x aggregate), not per
(raw-row x column) — and only the already-tiny aggregated result is
reshaped long. Only categorical frequency (A5), whose grouping key
genuinely includes the value, melts raw rows, and only over the
categorical columns after projection.

All expressions are native Columns (no Python UDFs): the whole profile
runs inside whole-stage codegen with map-side partial aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from apde_etl_spark.functions.core import sql_ident, sql_string
from apde_etl_spark.operators.cache import tracked_persist, tracked_release
from apde_etl_spark.operators.reshape import melt_long

#: epoch anchor used to turn dates into day offsets for exact-median math
_EPOCH = "1970-01-01"


# ---------------------------------------------------------------------------
# Type classification (SURVEY.md §1.2; reference split_column_types,
# R/etl_qa_run_pipeline.R:1078-1162)
# ---------------------------------------------------------------------------

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.BooleanType,  # bit -> numeric, :1110-1142
)
_DATETIME_TYPES = (T.DateType, T.TimestampType, T.TimestampNTZType)
_CHARACTER_TYPES = (T.StringType, T.BinaryType)  # binary/varbinary -> character, :1117


@dataclass
class ColumnClasses:
    """3-way analytic split + skipped 'other' columns."""

    numeric: list[str] = field(default_factory=list)
    datetime: list[str] = field(default_factory=list)
    character: list[str] = field(default_factory=list)
    other: list[str] = field(default_factory=list)

    @property
    def profiled(self) -> list[str]:
        return self.numeric + self.datetime + self.character


def classify_columns(df: DataFrame, cols: Sequence[str] | None = None) -> ColumnClasses:
    """Classify columns into {numeric, datetime, character, other} from the
    DataFrame schema — replacing the reference's sys.columns catalog join
    (R/etl_qa_run_pipeline.R:1085-1142) with ``df.schema`` introspection.
    """
    wanted = set(cols) if cols is not None else set(df.columns)
    out = ColumnClasses()
    for f_ in df.schema.fields:
        if f_.name not in wanted:
            continue
        if isinstance(f_.dataType, _NUMERIC_TYPES):
            out.numeric.append(f_.name)
        elif isinstance(f_.dataType, _DATETIME_TYPES):
            out.datetime.append(f_.name)
        elif isinstance(f_.dataType, _CHARACTER_TYPES):
            out.character.append(f_.name)
        else:
            out.other.append(f_.name)  # skipped with warning in reference :1150-1153
    return out


# ---------------------------------------------------------------------------
# A6 — distinct-count gate (R/etl_qa_run_pipeline.R:1252-1263)
# ---------------------------------------------------------------------------

def distinct_counts(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Exact distinct count per column -> ``(varname, n_distinct)``.

    Exact (not approx) because it *gates classification*: numeric/date
    columns under the threshold are demoted to categorical (SURVEY §2.10.6).

    Implemented as melt -> two-phase groupBy rather than one
    ``countDistinct`` per column in a single agg: multiple DISTINCT
    aggregates make Catalyst insert an Expand (k-fold row multiplication
    before the shuffle), while the melt form partial-aggregates
    (varname, value) map-side, so shuffle volume is bounded by the sum of
    per-partition distinct counts — the cheap plan at 100 TB for the
    low-cardinality columns this gate exists to find.
    """
    long = melt_long(df, [], cols, value_type="string")
    return (
        long.groupBy("varname", "value").agg(F.count(F.lit(1)).alias("_n"))
        .groupBy("varname")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
    )


# ---------------------------------------------------------------------------
# A1 — missingness profile (R :700-702; T-SQL :1184-1202)
# ---------------------------------------------------------------------------

def _float_cols(df: DataFrame, cols: Sequence[str]) -> list[str]:
    """The float/double subset of ``cols`` — the types where NaN exists."""
    want = set(cols)
    return [f.name for f in df.schema.fields
            if f.name in want and f.dataType.typeName() in ("float", "double")]


def _aggregate(df: DataFrame, key: Column, aggs: Sequence[str]) -> DataFrame:
    """``groupBy(key AS time_period)`` over SQL-text aggregates — one
    py4j call per aggregate instead of one per Column node."""
    return df.groupBy(key.alias("time_period")).agg(*[F.expr(a) for a in aggs])


def _miss_aggs(cols: Sequence[str], nan_cols: Sequence[str] = ()) -> list[str]:
    """NULL counts per column; for float/double columns (``nan_cols``)
    NaN counts as missing too — R's ``is.na(NaN)`` is TRUE, and a NaN
    that is neither missing nor aggregable would otherwise poison the
    mean (the reference's na.rm removes both)."""
    nanset = set(nan_cols)
    out = []
    for c in cols:
        miss = f"{sql_ident(c)} IS NULL" + (f" OR isnan({sql_ident(c)})" if c in nanset else "")
        out.append(f"sum(CAST(({miss}) AS BIGINT)) AS {sql_ident(c + '__nnull')}")
    return out


def _miss_from_wide(wide: DataFrame, cols: Sequence[str]) -> DataFrame:
    return _stack_wide(wide, cols, ("__nnull",), ("nrow",), "__total").selectExpr(
        "time_period", "varname", "nrow", "nrow / __total AS proportion"
    )


def missingness_profile(df: DataFrame, time_col: str | Column, cols: Sequence[str]) -> DataFrame:
    """Per (time_period, varname): count of NULLs and proportion missing.

    One pass: groupBy(time) with a conditional SUM per column, then melt
    the aggregated wide row — not the reference's melt-then-aggregate
    (raw-row x column explosion). Real nulls via ``isNull``; the
    reference's ``'NULL'`` string sentinel is consciously dropped
    (SURVEY §2.10.3).
    """
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    wide = _aggregate(df, t, [*_miss_aggs(cols, _float_cols(df, cols)), "count(1) AS __total"])
    return _miss_from_wide(wide, cols)


# ---------------------------------------------------------------------------
# A2/A3 — continuous stats with exact median (R :714-718; T-SQL :1264-1309)
# ---------------------------------------------------------------------------

def numeric_stats(
    df: DataFrame,
    time_col: str | Column,
    cols: Sequence[str],
) -> DataFrame:
    """Per (time_period, varname): mean, exact median, min, max (doubles).

    Median uses exact interpolating ``percentile(col, 0.5)`` — R
    ``stats::median`` semantics, the reference's intended truth per its
    cross-backend identity test (SURVEY §2.10.1 documents the divergence
    from the T-SQL branch's rows-N/2,N/2+1 averaging). NULLs are ignored
    by all four aggregates, matching ``na.rm=TRUE`` (:714-717).

    Single groupBy(time) pass; the per-column aggregate quadruple is then
    stacked long driver-free. ``percentile`` is exact (sorts values per
    group within the agg buffer) — acceptable because the distinct-count
    gate already routed truly-continuous columns here; at extreme group
    sizes use :func:`combined_profile`'s ``median_mode`` (``"sketch"`` or
    ``"histogram"``).
    """
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    return _numeric_from_wide(_aggregate(df, t, _numeric_aggs(cols)), cols)


def _median_sql(expr: str, median_mode: str) -> str:
    """Median aggregate of ``expr``: exact ``percentile`` for
    ``"buffer"``; for ``"sketch"`` — the 100 TB escape hatch — a
    GK-sketch quantile, fixed-size state per (group x column) instead
    of all values buffered in the aggregate; rank error <= 1/accuracy
    of the group."""
    if median_mode == "buffer":
        return f"percentile({expr}, 0.5D)"
    return f"CAST(percentile_approx({expr}, 0.5D, 10000) AS DOUBLE)"


def _numeric_aggs(cols: Sequence[str], median_mode: str = "buffer") -> list[str]:
    """Mean/median/min/max aggregates per column; ``"histogram"`` mode
    leaves the median to the separate value-count pass."""
    aggs: list[str] = []
    for c in cols:
        # nanvl: NaN -> NULL so every aggregate ignores it (na.rm
        # semantics — one NaN must not turn the period mean into NaN)
        d = f"nanvl(CAST({sql_ident(c)} AS DOUBLE), CAST(NULL AS DOUBLE))"
        aggs.append(f"avg({d}) AS {sql_ident(c + '__mean')}")
        if median_mode != "histogram":
            aggs.append(f"{_median_sql(d, median_mode)} AS {sql_ident(c + '__median')}")
        aggs += [f"min({d}) AS {sql_ident(c + '__min')}", f"max({d}) AS {sql_ident(c + '__max')}"]
    return aggs


def _stack_wide(wide: DataFrame, cols: Sequence[str], fields: Sequence[str],
                names: Sequence[str], *extra: str) -> DataFrame:
    """Stack per-column aggregates ``{c}{field}`` of the one-row-per-
    period ``wide`` frame into rows ``(time_period, varname, *names)``."""
    rows = ", ".join(
        ", ".join([sql_string(c), *[sql_ident(c + f) for f in fields]]) for c in cols
    )
    return wide.selectExpr(
        "time_period", f"stack({len(cols)}, {rows}) AS (varname, {', '.join(names)})", *extra
    )


def _numeric_from_wide(wide: DataFrame, cols: Sequence[str]) -> DataFrame:
    return _stack_wide(wide, cols, ("__mean", "__median", "__min", "__max"),
                       ("mean", "median", "min", "max"))


def exact_median_histogram(
    df: DataFrame,
    time_col: str | Column,
    cols: Sequence[str],
) -> DataFrame:
    """Exact interpolating median per (time_period, varname) computed as
    a distributed value histogram — the 100 TB path for exact medians.

    ``percentile`` buffers every group value inside one aggregate buffer
    (state = O(group size) on a single reducer per group); this instead
    shuffles (time, varname, value) COUNTS — map-side combined, hashed
    across all partitions — then finds the two middle ranks with a
    cumulative-sum window over the *distinct* values of each group. The
    only per-group serial work is a sort+cumsum over compressed counts,
    which the window operator spills to disk instead of holding in an
    aggregation buffer. Same R ``stats::median`` semantics as
    :func:`numeric_stats` (SURVEY §2.10.1): mean of the two middle
    values for even N, the middle value for odd N.
    """
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    long = melt_long(
        df.select(t.alias("time_period"), *cols),
        ["time_period"], list(cols), value_type="double",
    ).filter(F.col("value").isNotNull())
    hist = long.groupBy("time_period", "varname", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    g = Window.partitionBy("time_period", "varname")
    w = g.orderBy("value").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "total", F.sum("cnt").over(g)
    )
    lo = F.floor((F.col("total") + 1) / 2)
    hi = F.ceil((F.col("total") + 1) / 2)
    # a histogram row covers ranks (cum-cnt+1 .. cum); keep rows touching
    # either middle rank, then average the value at each
    covers_lo = (F.col("cum") >= lo) & (F.col("cum") - F.col("cnt") < lo)
    covers_hi = (F.col("cum") >= hi) & (F.col("cum") - F.col("cnt") < hi)
    sel = ranked.filter(covers_lo | covers_hi)
    return sel.groupBy("time_period", "varname").agg(
        (
            (F.min(F.when(covers_lo, F.col("value")))
             + F.min(F.when(covers_hi, F.col("value")))) / 2
        ).alias("median")
    )


# ---------------------------------------------------------------------------
# A4 — date stats with midpoint median (R :733-739; T-SQL :1369-1416)
# ---------------------------------------------------------------------------

def date_stats(df: DataFrame, time_col: str | Column, cols: Sequence[str]) -> DataFrame:
    """Per (time_period, varname): min_date, max_date, median_date.

    Dates become day offsets from the epoch, the exact interpolating
    median is taken, and the (possibly fractional) result floors back to a
    date — reproducing the reference's even-count midpoint rule
    ``DATEADD(day, DATEDIFF(day, lo, hi)/2, lo)`` (:1405-1410), since
    floor(interp(lo, hi, .5)) == lo + floor((hi-lo)/2) for day integers.
    Timestamps are truncated to dates first, as the R path coerces POSIXct
    to Date (:729).
    """
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    return _date_from_wide(_aggregate(df, t, _date_aggs(cols)), cols)


#: day offset of a date expression from the epoch anchor
_DAYS = "CAST(datediff({}, DATE '" + _EPOCH + "') AS DOUBLE)"


def _date_aggs(cols: Sequence[str], median_mode: str = "buffer") -> list[str]:
    aggs: list[str] = []
    for c in cols:
        d = f"CAST({sql_ident(c)} AS DATE)"
        aggs += [f"min({d}) AS {sql_ident(c + '__min')}", f"max({d}) AS {sql_ident(c + '__max')}"]
        if median_mode != "histogram":
            # sketch mode's bounded-state promise must hold for dates
            # too, not just numerics
            med = _median_sql(_DAYS.format(d), median_mode)
            aggs.append(f"CAST(floor({med}) AS INT) AS {sql_ident(c + '__meddays')}")
    return aggs


def _date_from_wide(wide: DataFrame, cols: Sequence[str]) -> DataFrame:
    return _stack_wide(
        wide, cols, ("__min", "__max", "__meddays"), ("min_date", "max_date", "__meddays")
    ).selectExpr(
        "time_period", "varname", "min_date", "max_date",
        f"date_add(DATE '{_EPOCH}', __meddays) AS median_date",
    )


# ---------------------------------------------------------------------------
# A5/A7 — categorical frequency + within-group proportion
# (R :755,1063; T-SQL :1455-1462)
# ---------------------------------------------------------------------------

def categorical_freq(df: DataFrame, time_col: str | Column, cols: Sequence[str],
                     with_proportion: bool = True) -> DataFrame:
    """Per (time_period, varname, value): count and within-(time,varname)
    proportion.

    The one genuinely melt-shaped profile: project time + categorical
    columns only, stack, then a single groupBy with map-side partial
    aggregation. Shuffle rows ~= distinct (time, varname, value) triples,
    not raw rows. NULL is a first-class category (kept, counted).
    """
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    long = melt_long(df.withColumn("time_period", t), ["time_period"], list(cols),
                     value_type="string")
    freq = long.groupBy("time_period", "varname", "value").agg(F.expr("count(1) AS `count`"))
    if not with_proportion:
        # top_k_with_other recomputes proportions after its rollup —
        # callers feeding it skip this window pass entirely
        return freq
    return freq.selectExpr(
        "*", "`count` / sum(`count`) OVER (PARTITION BY time_period, varname) AS proportion"
    )


# ---------------------------------------------------------------------------
# W2/A8/O2 — top-k by dense rank with pinned NA + 'Other values' rollup
# (keep_top_8, R/etl_qa_run_pipeline.R:1051-1066)
# ---------------------------------------------------------------------------

def top_k_with_other(
    freq: DataFrame,
    k: int = 8,
    group_cols: Sequence[str] = ("time_period", "varname"),
    other_label: str = "Other values",
) -> DataFrame:
    """Keep the k densest-ranked values per group (ties keep all members),
    always keep NULL (rank pinned to 0, :1055), relabel the remainder
    ``'Other values'`` and re-aggregate; proportions are computed *after*
    the rollup (:1062-1063, SURVEY §2.10.4).

    The rank window shuffles by (time, varname); the rollup and the
    proportion window reuse that partitioning, so the chain adds one
    exchange.
    """
    gc = ", ".join(map(sql_ident, group_cols))
    # dense rank on count ONLY — ties share a rank and are all kept,
    # matching frankv(-count, ties.method='dense') (:1054); NULL keeps
    # its own value whatever its rank
    rank = f"dense_rank() OVER (PARTITION BY {gc} ORDER BY `count` DESC)"
    other = sql_string(other_label)
    relabelled = freq.selectExpr(
        *map(sql_ident, group_cols), "`count`",
        f"CASE WHEN value IS NULL OR {rank} <= {int(k)} THEN value ELSE {other} END AS value",
    )
    rolled = relabelled.groupBy(*group_cols, "value").agg(F.expr("sum(`count`) AS `count`"))
    return rolled.selectExpr(
        "*", f"`count` / sum(`count`) OVER (PARTITION BY {gc}) AS proportion"
    )


# ---------------------------------------------------------------------------
# Combined single-pass profile (the 100 TB plan): missingness + numeric +
# date stats + HLL distinct sketches in ONE groupBy(time) over the base
# table. The reference scans the base table 3-4 times
# (R/etl_qa_run_pipeline.R:1186,1238,1343,1444); this does it once for
# everything except categorical frequency (whose grouping key includes the
# value) — SURVEY §4 "cache the melted table" improved to "never re-scan".
# ---------------------------------------------------------------------------

@dataclass
class CombinedProfile:
    """Handle over the persisted one-pass aggregate."""

    wide: DataFrame
    miss_cols: list[str]
    num_cols: list[str]
    date_cols: list[str]
    gate_cols: list[str]
    #: "buffer" (in-agg exact percentile), "sketch" (GK approx), or
    #: "histogram" (exact via a second distributed value-count pass —
    #: bounded aggregate state, the 100 TB exact path)
    median_mode: str = "buffer"
    base: DataFrame | None = None  # only kept for histogram mode
    _med: DataFrame | None = field(default=None, repr=False)

    def missingness(self) -> DataFrame:
        return _miss_from_wide(self.wide, self.miss_cols)

    def _medians(self) -> DataFrame:
        """ONE histogram pass for every median the profile needs —
        numeric columns as doubles, date columns as epoch-day offsets —
        persisted (it is periods x varnames rows), so numeric_stats and
        date_stats share it instead of each re-scanning the base."""
        if self._med is None:
            proj = self.base.selectExpr(
                "__time",
                *[f"CAST({sql_ident(c)} AS DOUBLE) AS {sql_ident(c)}" for c in self.num_cols],
                *[f"{_DAYS.format(f'CAST({sql_ident(c)} AS DATE)')} AS {sql_ident(c)}"
                  for c in self.date_cols],
            )
            self._med = tracked_persist(exact_median_histogram(
                proj, "__time", self.num_cols + self.date_cols
            ), scope="qa")
        return self._med

    def _join_medians(self, partial: DataFrame, med: DataFrame) -> DataFrame:
        # null-safe on time_period: a NULL time group is a real group in
        # the fused aggregate, and buffer mode computes its median in-row
        # — a plain EqualTo join would silently drop it here
        cond = partial["time_period"].eqNullSafe(med["time_period"]) & (
            partial["varname"] == med["varname"]
        )
        return partial.join(med, cond, "left").drop(med["time_period"]).drop(
            med["varname"]
        )

    def numeric_stats(self, cols: Sequence[str] | None = None) -> DataFrame:
        cols = list(cols or self.num_cols)
        if self.median_mode != "histogram":
            return _numeric_from_wide(self.wide, cols)
        partial = _stack_wide(self.wide, cols, ("__mean", "__min", "__max"), ("mean", "min", "max"))
        return self._join_medians(partial, self._medians()).select(
            "time_period", "varname", "mean", "median", "min", "max"
        )

    def date_stats(self, cols: Sequence[str] | None = None) -> DataFrame:
        cols = list(cols or self.date_cols)
        if self.median_mode != "histogram":
            return _date_from_wide(self.wide, cols)
        partial = _stack_wide(self.wide, cols, ("__min", "__max"), ("min_date", "max_date"))
        med = self._medians().selectExpr(
            "time_period", "varname",
            f"date_add(DATE '{_EPOCH}', CAST(floor(median) AS INT)) AS median_date",
        )
        return self._join_medians(partial, med)

    def gate_estimates(self) -> tuple[dict[str, float], str]:
        """ONE eager query over the persisted aggregate (it materializes
        the cache) returning:

        - a global distinct estimate per gate column, from the union of
          the per-period HLL sketches — no second base-table pass;
        - every time period, as SQL text of a typed array literal, for
          dense grid completion downstream. Periods are collected inside
          a struct so a NULL period is kept (``collect_list`` skips NULL
          elements, not structs holding one), and round-trip as strings
          through a cast back to the period type.
        """
        aggs = [
            *[f"hll_sketch_estimate(hll_union_agg({sql_ident(c + '__hll')})) AS {sql_ident(c)}"
              for c in self.gate_cols],
            *[f"max(CAST({sql_ident(c + '__nnull')} > 0 AS INT)) AS {sql_ident(c + '__anynull')}"
              for c in self.gate_cols],
            "transform(collect_list(struct(time_period)), "
            "p -> CAST(p.time_period AS STRING)) AS __periods",
        ]
        row = self.wide.agg(*[F.expr(a) for a in aggs]).first()
        # two fixes folded in: (a) an all-NULL column (or an empty
        # time range) yields a NULL sketch -> estimate 0, not None;
        # (b) the exact recount counts NULL as a distinct value
        # (uniqueN semantics) while HLL ignores NULLs, so add the
        # null slot back to keep the two gate phases on one scale
        est = {
            c: (row[c] if row[c] is not None else 0.0)
               + (row[f"{c}__anynull"] or 0)
            for c in self.gate_cols
        }
        dtype = self.wide.schema["time_period"].dataType.simpleString()
        items = ", ".join(
            "NULL" if p is None else sql_string(p) for p in row["__periods"]
        )
        return est, f"CAST(array({items}) AS ARRAY<{dtype}>)"

    def unpersist(self) -> None:
        tracked_release(self.wide)
        if self._med is not None:
            tracked_release(self._med)


def combined_profile(
    df: DataFrame,
    time_col: str | Column,
    classes: ColumnClasses,
    gate_cols: Sequence[str] | None = None,
    median_mode: str = "buffer",
) -> CombinedProfile:
    """One groupBy(time) pass over ``df`` computing, per column family:
    null counts (all profiled columns), numeric mean/median/min/max, date
    min/max/median-days, and an HLL distinct sketch per gate column (cast
    to string: the sketch needs a hashable physical type and distinctness
    is type-independent). The aggregated frame has one row per time
    period — persisting it is O(periods x columns), never O(data).

    Median strategies (``median_mode``):

    - ``"buffer"`` — exact ``percentile`` inside the fused aggregate.
      One pass, but the aggregate buffers every group value AND drags
      the whole fused aggregate into non-codegen object mode — fine up
      to millions of rows per period.
    - ``"sketch"`` — GK approx percentile in the fused pass (fixed
      state; not exact).
    - ``"histogram"`` — EXACT medians from a second distributed
      value-count pass (:func:`exact_median_histogram`): the fused pass
      drops its median aggregates (smaller object-agg state), and
      median memory is bounded by distinct values per partition. The
      scale path when periods hold billions of rows. Costs one extra
      base scan, pruned to (time, numeric+date columns).
    """
    if median_mode not in ("buffer", "sketch", "histogram"):
        raise ValueError(f"unknown median_mode {median_mode!r}")
    t = F.col(time_col) if isinstance(time_col, str) else time_col
    gate = list(gate_cols if gate_cols is not None else classes.numeric + classes.datetime)
    aggs = [
        "count(1) AS __total",
        *_miss_aggs(classes.profiled, _float_cols(df, classes.profiled)),
        *_numeric_aggs(classes.numeric, median_mode),
        *_date_aggs(classes.datetime, median_mode),
        *[f"hll_sketch_agg(CAST({sql_ident(c)} AS STRING)) AS {sql_ident(c + '__hll')}"
          for c in gate],
    ]
    # one partition: every consumer of the aggregate (the gate query,
    # the lag windows over varname, the ordered missingness output) then
    # runs on it without another exchange. Tracked under scope "qa", so
    # release_scope frees it even when a caller never calls unpersist().
    wide = tracked_persist(_aggregate(df, t, aggs).repartition(1), scope="qa")
    base = None
    if median_mode == "histogram":
        base = df.select(
            t.alias("__time"), *dict.fromkeys(classes.numeric + classes.datetime)
        )
    return CombinedProfile(
        wide=wide,
        miss_cols=classes.profiled,
        num_cols=classes.numeric,
        date_cols=classes.datetime,
        gate_cols=gate,
        median_mode=median_mode,
        base=base,
    )


def distribution_drift(
    df: DataFrame,
    value_col: str,
    baseline_pred: Column,
    group_cols: Sequence[str] = (),
    n_bins: int = 10,
) -> DataFrame:
    """Frozen-baseline distribution drift (extension of the reference's
    period-over-period QA — qa_load_data.R change flags — from equality
    checks to distribution distances).

    Bin edges are the BASELINE rows' exact interpolated quantiles
    (per group when ``group_cols`` given), both periods are binned
    against those frozen edges (boundary rule ``edge < value``), and
    per-bin chi-square / total-variation contributions come out as pure
    arithmetic — deliberately not PSI/KL, whose ``ln`` is not
    bit-reproducible across engines.

    Scale shape: one quantile pass over the baseline (GK-swappable at
    100 TB), the tiny per-group edge table broadcast back onto ONE scan
    of the facts, then a (group, period, bin) aggregate whose totals
    re-aggregate the bin counts — the fact table is never joined to
    itself and never scanned twice. ``chi2_term`` is NULL for bins the
    baseline never populates (possible under heavy quantile ties).
    """
    gcols = list(group_cols)
    probs = [i / n_bins for i in range(1, n_bins)]
    base = df.filter(baseline_pred)
    # Both intermediates below are tiny aggregates (one row per group /
    # per (group, period, bin)) but feed MULTIPLE downstream branches;
    # without persisting them the lazy DAG re-derives each branch from
    # the FACT scan — 5 scans of the base table instead of 2 (observed
    # in the plan audit). Released via release_scope("profile").
    from apde_etl_spark.functions.core import round_half_away

    # edges are rounded to 9 dp (the perplexity convention) BEFORE
    # freezing: exact interpolated percentiles agree across engines at
    # the gate SFs but diverge by 1 ulp at some larger n (first seen at
    # the sf1 gate, per-type deciles) — a 1-ulp edge difference flips
    # the bin of any value sitting on it. Rounded edges are identical
    # doubles in both engines, so binning is reproducible at every n.
    edges = tracked_persist(
        base.groupBy(*gcols).agg(
            F.transform(
                F.percentile(value_col, F.array(*[F.lit(p) for p in probs])),
                lambda e: round_half_away(e, 9),
            ).alias("__edges")
        ),
        scope="profile",
    )
    joined = (
        df.join(F.broadcast(edges), on=gcols) if gcols
        else df.crossJoin(F.broadcast(edges))
    )
    binned = joined.select(
        *gcols,
        F.when(baseline_pred, F.lit("baseline")).otherwise(F.lit("current"))
        .alias("__period"),
        F.size(F.filter(F.col("__edges"), lambda e: e < F.col(value_col)))
        .alias("bin"),
    )
    counts = tracked_persist(
        binned.groupBy(*gcols, "__period", "bin").agg(
            F.count(F.lit(1)).alias("__cnt")),
        scope="profile",
    )
    props = counts.select(
        *gcols, "__period", "bin",
        (F.col("__cnt").cast("double")
         / F.sum(F.col("__cnt").cast("double")).over(
             Window.partitionBy(*gcols, "__period"))).alias("__prop"),
    )
    grid = edges.select(
        *gcols,
        F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
    ).select(*gcols, F.col("bin").cast("int").alias("bin"))
    side = {}
    for period in ("baseline", "current"):
        side[period] = props.filter(F.col("__period") == period).select(
            *gcols, "bin", F.col("__prop").alias(f"__{period}"))
    wide = (
        grid.join(F.broadcast(side["baseline"]), [*gcols, "bin"], "left")
        .join(F.broadcast(side["current"]), [*gcols, "bin"], "left")
        .select(
            *gcols, "bin",
            F.coalesce(F.col("__baseline"), F.lit(0.0)).alias("qp"),
            F.coalesce(F.col("__current"), F.lit(0.0)).alias("pp"),
        )
    )
    d = F.col("pp") - F.col("qp")
    return wide.select(
        *gcols, "bin",
        F.col("qp").alias("baseline_prop"),
        F.col("pp").alias("current_prop"),
        F.when(F.col("qp") > 0, d * d / F.col("qp")).alias("chi2_term"),
        (F.abs(d) / F.lit(2.0)).alias("tv_term"),
    )


# ===========================================================================
# Portable HLL registers: persistable, mergeable, cross-engine-exact
# ===========================================================================

#: registers (power of two so reg/rest split is bit arithmetic)
HLL_M = 256
#: bits left in the 60-bit hash after the register index
HLL_REST_BITS = 52
#: Flajolet et al. 2007 bias constant for m >= 128, frozen as a Python
#: float so both engines embed the identical literal
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)


def hll_registers(df: DataFrame, key_col: str,
                  group_cols: Sequence[str] = ()) -> DataFrame:
    """PORTABLE HyperLogLog registers — unlike the engine-native
    DataSketches binary (hll_sketch_agg), this register table is plain
    integers: (group..., reg INT, max_rho INT), so it PERSISTS as
    parquet, MERGES across shards/days with one groupBy-MAX, and
    hash-gates against a DuckDB restatement. The construction is the
    textbook HLL (Flajolet et al. 2007, public method) on the repo's
    cross-engine hash60: register = low 8 hash bits, rho = leading
    zeros of the remaining 52 bits + 1 (computed EXACTLY via the
    binary-string length — both engines' ``bin()`` agree — never a
    float log2). NULL keys are ignored, matching countDistinct.

    At 100 TB this is the incremental-distinct pattern: per-partition
    register tables are built once at ingest (a groupBy over ~m rows
    of state per group), and any window of them merges WITHOUT
    rescanning history."""
    from apde_etl_spark.operators.similarity import hash60

    hashed = (
        df.filter(F.col(key_col).isNotNull())
        .select(*group_cols,
                hash60(F.col(key_col).cast("string")).alias("__h"))
    )
    rest = F.expr(f"__h div {HLL_M}")
    rho = F.when(rest == 0, F.lit(HLL_REST_BITS + 1)).otherwise(
        F.lit(HLL_REST_BITS + 1)
        - F.length(F.expr(f"bin(__h div {HLL_M})"))
    ).cast("int")
    return (
        hashed
        .select(*group_cols,
                (F.col("__h") % F.lit(HLL_M)).cast("int").alias("reg"),
                rho.alias("rho"))
        .groupBy(*group_cols, "reg")
        .agg(F.max("rho").alias("max_rho"))
    )


def hll_estimate(registers: DataFrame,
                 group_cols: Sequence[str] = ()) -> DataFrame:
    """Estimate from (merged) register tables, EXACT until the last
    float ops: the harmonic sum accumulates integer numerators over
    the common denominator 2^53 (``2^(53-rho)`` per register, zeros
    contributing 2^53) — order-independent BIGINT addition, so the
    estimate is bit-identical across engines/partitionings. Low-range
    linear counting (E <= 2.5m with empty registers) applies the
    standard correction. Returns (group..., est_distinct DOUBLE)."""
    two53 = 1 << (HLL_REST_BITS + 1)
    # shiftleft's amount parameter is int-only in the Column API —
    # the SQL form takes a column amount
    inv = F.expr(
        f"shiftleft(CAST(1 AS BIGINT), {HLL_REST_BITS + 1} - max_rho)")
    per = registers.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__nz"),
        F.sum(inv).alias("__sum_inv"),
    )
    zeros = F.lit(HLL_M) - F.col("__nz")
    z_total = (zeros.cast("long") * F.lit(two53) + F.col("__sum_inv"))
    e_raw = (F.lit(HLL_ALPHA) * F.lit(HLL_M) * F.lit(HLL_M)
             * F.lit(float(two53)) / z_total.cast("double"))
    est = F.when(
        (e_raw <= 2.5 * HLL_M) & (zeros > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M))
                                    / zeros.cast("double")),
    ).otherwise(e_raw)
    return per.select(*group_cols, est.alias("est_distinct"))
