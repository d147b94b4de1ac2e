"""Variable -> bin-index compiler (reference columnflow/columnar_util.py
``od.Variable`` usage + hist_util.py:145 ``add_hist_axis``).

A Variable carries a name, a column expression (Route string or Column),
and a binning: ``(n, lo, hi)`` for regular axes or an explicit edge list.
``bin_expr`` compiles it to an integer bin index column:

- ``-1``            underflow
- ``0 .. n-1``      in-range (last edge INCLUSIVE: x == hi lands in n-1,
                    the reference's fill correction, hist_util.py:30)
- ``n``             overflow
- ``null_bin`` (-2) null/sentinel inputs

Regular axes use arithmetic (codegen'd); explicit edges compile to a
when-chain (fine for the few-dozen-edge histograms the reference uses).
Categorical (string/int/bool) axes pass through as group-by columns.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Union

from pyspark.sql import Column
from pyspark.sql import functions as F

from columnflow_spark.core.routes import Route

NULL_BIN = -2
UNDERFLOW_BIN = -1

Binning = Union[tuple[int, float, float], list[float]]


@dataclass
class Variable:
    """(reference od.Variable: name, expression, binning, null_value —
    SURVEY §1.5)."""

    name: str
    expression: Union[str, Column]
    binning: Binning
    null_value: float | None = None
    aux: dict = field(default_factory=dict)

    @property
    def n_bins(self) -> int:
        return self.binning[0] if isinstance(self.binning, tuple) else len(self.binning) - 1

    def expr(self) -> Column:
        if isinstance(self.expression, Column):
            return self.expression
        return Route(self.expression).apply(null_value=self.null_value)


def bin_expr(var: Variable) -> Column:
    x = var.expr()
    if isinstance(var.binning, tuple):
        n, lo, hi = var.binning
        width = (hi - lo) / n
        idx = (
            F.when(x.isNull(), F.lit(NULL_BIN))
            .when(x < lo, F.lit(UNDERFLOW_BIN))
            .when(x > hi, F.lit(n))
            .when(x == hi, F.lit(n - 1))  # last-edge-inclusive
            .otherwise(F.floor((x - F.lit(lo)) / F.lit(width)).cast("int"))
        )
        # floating floor((x-lo)/w) can round up to n for x just below hi
        return F.least(idx, F.lit(n)).cast("int")
    edges = var.binning
    n = len(edges) - 1
    expr = F.when(x.isNull(), F.lit(NULL_BIN)).when(x < edges[0], F.lit(UNDERFLOW_BIN))
    for i in range(n):
        expr = expr.when(x < edges[i + 1], F.lit(i))
    expr = expr.when(x == edges[-1], F.lit(n - 1))  # last-edge-inclusive
    return expr.otherwise(F.lit(n)).cast("int")
