"""Physics/geometry expression helpers (SURVEY §2.8).

The reference gets these from coffea vector behaviors (``delta_r``,
Lorentz-vector ``+``/``mass``, reference columnflow/columnar_util.py:1284
``attach_behavior``); Spark has no operator overloading on struct columns,
so they are plain Column-expression builders — all JVM-side, codegen'd,
no UDFs.
"""

from __future__ import annotations

import math as _math

from pyspark.sql import Column
from pyspark.sql import functions as F


def delta_phi(phi1: Column, phi2: Column) -> Column:
    """Signed Δφ wrapped to (-π, π]."""
    two_pi = 2 * _math.pi
    d = phi1 - phi2
    # ((d + pi) mod 2pi + 2pi) mod 2pi - pi  (positive-mod wrap)
    return (((d + _math.pi) % two_pi + two_pi) % two_pi) - _math.pi


def delta_r(eta1: Column, phi1: Column, eta2: Column, phi2: Column) -> Column:
    """ΔR = sqrt(Δη² + Δφ²) (reference production/util.py:124 metric)."""
    deta = eta1 - eta2
    dphi = delta_phi(phi1, phi2)
    return F.sqrt(deta * deta + dphi * dphi)


def cosh(x: Column) -> Column:
    """exp-based cosh: identical arithmetic is expressible in any SQL
    engine (DuckDB has no cosh), so oracle parity holds bit-for-bit."""
    return (F.exp(x) + F.exp(-x)) / 2.0


def sinh(x: Column) -> Column:
    return (F.exp(x) - F.exp(-x)) / 2.0


def four_vector_sum_mass(
    pt1: Column, eta1: Column, phi1: Column, m1: Column,
    pt2: Column, eta2: Column, phi2: Column, m2: Column,
) -> Column:
    """Invariant mass of the 4-vector sum of two (pt, eta, phi, mass)
    objects — the reference's dijet-mass pattern
    (analysis_templates/.../production/example.py:44-49)."""
    e1 = F.sqrt((pt1 * cosh(eta1)) ** 2 + m1 * m1)
    e2 = F.sqrt((pt2 * cosh(eta2)) ** 2 + m2 * m2)
    px = pt1 * F.cos(phi1) + pt2 * F.cos(phi2)
    py = pt1 * F.sin(phi1) + pt2 * F.sin(phi2)
    pz = pt1 * sinh(eta1) + pt2 * sinh(eta2)
    m2sum = (e1 + e2) ** 2 - (px * px + py * py + pz * pz)
    return F.sqrt(F.greatest(m2sum, F.lit(0.0)))


def sum_transverse(pts: Column, phis: Column) -> Column:
    """Vector-sum magnitude of per-object transverse components
    (reference calibration/util.py:42 ``sum_transverse``): takes two
    aligned array columns, returns sqrt((Σ pt·cosφ)² + (Σ pt·sinφ)²)."""
    px = F.aggregate(F.zip_with(pts, phis, lambda p, f: p * F.cos(f)), F.lit(0.0), lambda a, x: a + x)
    py = F.aggregate(F.zip_with(pts, phis, lambda p, f: p * F.sin(f)), F.lit(0.0), lambda a, x: a + x)
    return F.sqrt(px * px + py * py)
