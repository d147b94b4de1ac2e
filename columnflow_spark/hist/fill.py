"""Histogram fill/merge as groupBy aggregations (reference
columnflow/columnar_util.py hist_util.py:30 ``fill_hist``, :264
``create_hist_from_variables``; merge: hist_util.py:384 ``sum_hists``).

The reference fills in-memory boost-histograms chunk by chunk and merges
per-file pickles in a dedicated task.  On Spark a histogram IS a long-format
table — one row per (categorical axes…, bin indices…) cell with weight
moments (sum_w, sum_w2, n) — and the fill is a single partial+final
aggregation, so cross-file merging disappears (SURVEY §2.5).

Weight storage matches boost-histogram's Weight() storage: Σw and Σw²
per cell (variance of the cell).  Jagged (object-level) fills explode the
collection first; multi-jagged cartesian fills chain posexplode
(hist_util.py:111-127), both handled by the caller passing exploded
DataFrames.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from columnflow_spark.hist.axes import Variable, bin_expr
from columnflow_spark.sources.sinks import local_frame


def fill_hist(
    df: DataFrame,
    variables: Iterable[Variable],
    categorical: Iterable[str | Column] = (),
    weight: Column | None = None,
    round_to: int | None = 4,
) -> DataFrame:
    """Fill an N-dim weighted histogram; returns the long-format hist table
    with columns (cats…, bin__<var>…, n, sum_w, sum_w2)."""
    variables = list(variables)
    w = weight if weight is not None else F.lit(1.0)
    keys: list[Column] = []
    for c in categorical:
        keys.append(F.col(c) if isinstance(c, str) else c)
    keys.extend(bin_expr(v).alias(f"bin__{v.name}") for v in variables)
    sum_w, sum_w2 = F.sum(w), F.sum(w * w)
    if round_to is not None:
        sum_w, sum_w2 = F.round(sum_w, round_to), F.round(sum_w2, round_to)
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"),
        sum_w.alias("sum_w"),
        sum_w2.alias("sum_w2"),
    )


def _regroup(hist: DataFrame, round_to: int | None = 4) -> DataFrame:
    group_cols = [c for c in hist.columns if c not in ("n", "sum_w", "sum_w2")]
    sum_w, sum_w2 = F.sum("sum_w"), F.sum("sum_w2")
    if round_to is not None:
        sum_w, sum_w2 = F.round(sum_w, round_to), F.round(sum_w2, round_to)
    return hist.groupBy(*group_cols).agg(
        F.sum("n").alias("n"), sum_w.alias("sum_w"), sum_w2.alias("sum_w2")
    )


def rebin_axis(hist: DataFrame, axis: str, factor: int, n_bins: int, round_to: int | None = 4) -> DataFrame:
    """Merge ``factor`` adjacent bins of one axis (reference hist_util.py:563
    ``merge_axis_bins``): in-range bins map to ``bin // factor``; flow bins
    are preserved (null -2 and underflow -1 unchanged, overflow re-indexed
    to the new axis length ``ceil(n_bins / factor)``).  Pure re-aggregation
    over the hist table — never touches event data."""
    b = F.col(axis)
    new_b = (
        F.when(b < 0, b)
        .when(b >= n_bins, F.lit(-(-n_bins // factor)))
        .otherwise(F.floor(b / factor).cast("int"))
    )
    return _regroup(hist.withColumn(axis, new_b), round_to)


def fold_flow_bins(hist: DataFrame, axis: str, n_bins: int, round_to: int | None = 4) -> DataFrame:
    """Fold under/overflow content into the first/last in-range bins
    (reference plotting/plot_util.py:331 ``use_flow_bins``); null bins (-2)
    are dropped."""
    b = F.col(axis)
    new_b = F.when(b == -1, F.lit(0)).when(b >= n_bins, F.lit(n_bins - 1)).otherwise(b)
    return _regroup(hist.filter(b != -2).withColumn(axis, new_b), round_to)


def ensure_bins(hist: DataFrame, axis: str, n_bins: int) -> DataFrame:
    """Densify one axis: emit every in-range bin id 0..n_bins-1 with zero
    content where the sparse hist table has no row (reference
    hist_util.py:482 ``ensure_bin_exists`` — plotting and datacards need
    dense axes).  Flow-bin rows pass through untouched."""
    spark = hist.sparkSession
    dense = spark.range(n_bins).select(F.col("id").cast("int").alias(axis))
    other = [c for c in hist.columns if c not in (axis, "n", "sum_w", "sum_w2")]
    if other:
        dense = hist.select(*other).distinct().crossJoin(dense)
    joined = dense.join(hist, on=[*other, axis], how="left").select(
        *other,
        axis,
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("sum_w", F.lit(0.0)).alias("sum_w"),
        F.coalesce("sum_w2", F.lit(0.0)).alias("sum_w2"),
    )
    flow = hist.filter((F.col(axis) < 0) | (F.col(axis) >= n_bins))
    return joined.unionByName(flow)


def select_category_bins(
    hist: DataFrame, axis: str, pattern: str, reduce: bool = True, round_to: int | None = 4
) -> DataFrame:
    """Keep only categorical-axis bins matching ``pattern`` (regex), then
    optionally sum over that axis (reference hist_util.py:418
    ``select_category_bins`` — pattern-based bin selection + reduce used by
    plotting/datacards to merge category groups)."""
    out = hist.filter(F.col(axis).rlike(pattern))
    if reduce:
        out = out.drop(axis)
    return _regroup(out, round_to)


def insert_axis_values(hist: DataFrame, axis: str, values: list[str]) -> DataFrame:
    """Insert categorical-axis values with zero content where missing
    (reference hist_util.py:618 ``insert_axis_values`` — downstream shift
    union and datacard writers need every expected category present)."""
    spark = hist.sparkSession
    wanted = local_frame(spark, [(v,) for v in values], f"{axis} string")
    other = [c for c in hist.columns if c not in (axis, "n", "sum_w", "sum_w2")]
    if other:
        wanted = hist.select(*other).distinct().crossJoin(wanted)
    missing = wanted.join(hist, on=[*other, axis], how="left_anti").select(
        *other,
        axis,
        F.lit(0).cast("long").alias("n"),
        F.lit(0.0).alias("sum_w"),
        F.lit(0.0).alias("sum_w2"),
    )
    return hist.unionByName(missing)


def merge_hists(hists: Iterable[DataFrame]) -> DataFrame:
    """Sum identical-axis hist tables (cross-file/cross-shift merge,
    reference tasks/histograms.py:449 MergeHistograms): union + re-group.
    Spark's partial aggregation makes this as cheap as the reference's
    in-memory hist sum."""
    hists = list(hists)
    out = hists[0]
    for h in hists[1:]:
        out = out.unionByName(h)
    group_cols = [c for c in out.columns if c not in ("n", "sum_w", "sum_w2")]
    return out.groupBy(*group_cols).agg(
        F.sum("n").alias("n"),
        F.round(F.sum("sum_w"), 4).alias("sum_w"),
        F.round(F.sum("sum_w2"), 4).alias("sum_w2"),
    )


def translate_intcat_to_strcat(
    hist: DataFrame, axis: str, mapping: dict[int, str], default: str | None = None
) -> DataFrame:
    """Integer category axis -> string labels (reference
    ``translate_hist_intcat_to_strcat``, hist_util.py:307), e.g. catalog
    category ids to names for presentation.  Unmapped values keep their
    string form unless *default* is given.  A pure projection — bins and
    contents are untouched."""
    expr = None
    for k, v in mapping.items():
        expr = F.when(F.col(axis) == k, v) if expr is None else expr.when(F.col(axis) == k, v)
    fallback = F.lit(default) if default is not None else F.col(axis).cast("string")
    return hist.withColumn(axis, expr.otherwise(fallback) if expr is not None else fallback)


def add_missing_shifts(
    hist: DataFrame,
    expected_shifts: Iterable[str],
    shift_axis: str = "shift",
    nominal: str = "nominal",
) -> DataFrame:
    """Ensure every expected shift bin exists, copying nominal contents
    into absent ones (reference ``add_missing_shifts``, hist_util.py:330 —
    used when unions over datasets carry different shift sets).  The
    missing-shift list is derived distributively (collected as a handful of
    names), then filled with one nominal-rows cross join."""
    present = {r[0] for r in hist.select(shift_axis).distinct().collect()}
    missing = [s for s in expected_shifts if s not in present]
    if not missing:
        return hist
    nominal_rows = hist.filter(F.col(shift_axis) == nominal).drop(shift_axis)
    fill = nominal_rows.crossJoin(
        local_frame(hist.sparkSession, [(m,) for m in missing], f"{shift_axis} string")
    ).select(hist.columns)
    return hist.unionByName(fill)
