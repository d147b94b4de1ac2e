"""Deterministic hashing/seeding (SURVEY §2.8).

The reference derives per-event 64-bit seeds from sha256 over event
integers multiplied by primes (reference
columnflow/production/cms/seeds.py:26-55) so random smearing is
reproducible per event.  Spark form: ``sha2(concat_ws(...))`` then hex ->
long via ``conv`` — all built-in, no UDF.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def sha256_hex(*cols: Column) -> Column:
    return F.sha2(F.concat_ws("|", *[c.cast("string") for c in cols]), 256)


def seed_hex(*cols: Column, n_hex: int = 15) -> Column:
    """First ``n_hex`` hex chars of the sha256 — stable string seed."""
    return F.substring(sha256_hex(*cols), 1, n_hex)


def seed_long(*cols: Column, n_hex: int = 15) -> Column:
    """Deterministic 60-bit integer seed (15 hex chars keep it well inside
    a signed long, like the reference's % 2**63)."""
    return F.conv(seed_hex(*cols, n_hex=n_hex), 16, 10).cast("long")


def seeded_gauss(seed: Column, mean: Column, std: Column) -> Column:
    """Per-row deterministic standard-normal draw (the reference's
    ``ak_random`` gauss for JER smearing, calibration/util.py:18).

    Box-Muller over two uniform hashes of the seed — fully deterministic
    per row, no UDF, unlike ``F.randn`` whose per-row values depend on
    partitioning."""
    # two independent U(0,1) from 52-bit slices of sha256(seed) and sha256(seed+1)
    u1 = (F.conv(F.substring(F.sha2(seed.cast("string"), 256), 1, 13), 16, 10).cast("double") + 1.0) / (
        16.0 ** 13 + 2.0
    )
    u2 = (F.conv(F.substring(F.sha2((seed + 1).cast("string"), 256), 1, 13), 16, 10).cast("double") + 1.0) / (
        16.0 ** 13 + 2.0
    )
    z = F.sqrt(-2.0 * F.log(u1)) * F.cos(F.lit(2.0 * 3.141592653589793) * u2)
    return mean + std * z

