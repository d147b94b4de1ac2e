"""Query/operator registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a callable ``(spark, sf_dir) -> DataFrame`` plus (when expressible)
a DuckDB-compatible ANSI-SQL oracle string over the same parquet tables.
The driver hash-compares both at sf0.01 — this registry IS the correctness
surface of the engine.

Conventions (driver compare is column-name + order-insensitive value-hash):
- alias every computed column identically in Spark and SQL;
- round floating-point aggregates on BOTH sides (``round(x, 4)``) so
  summation-order differences between engines cannot flip the hash;
- make every ranking deterministic (total tie-break order).
"""

from __future__ import annotations

import pkgutil
from collections.abc import Callable
from importlib import import_module

from pyspark.sql import DataFrame, SparkSession

from columnflow_spark.session import SHJ_LOCAL_MAP

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

def tune_session(spark: SparkSession) -> None:
    """Apply runtime session sizing once per session.

    The engine is invoked on sessions it did not build (the driver's vanilla
    ``SparkSession``), where ``spark.sql.shuffle.partitions`` sits at the
    static default of 200 — at test scale that is 200 near-empty tasks per
    exchange, and task-launch overhead dominates wall-clock (measured ~2x
    on the full registry sweep).  All of these are *runtime* SQL confs, so
    setting them here is exactly what a catalog-aware engine does: size the
    shuffle to the cluster, let AQE coalesce further at runtime.  On a real
    cluster ``defaultParallelism`` reflects total executor cores, so the
    same rule sizes up transparently; AQE still owns skew/coalesce.

    "Tuned" is marked in the session's own runtime conf: ``id(spark)``
    is recycled after a session is collected (see ``session_key``), and
    ``session_key`` is shared by ``spark.newSession()`` siblings, each of
    which has its own SQL conf to tune.  Values set after the first call
    (a test pinning shuffle partitions) are never overwritten.
    """
    if spark.conf.get("spark.columnflow.tuned", "false") == "true":
        return
    spark.conf.set("spark.columnflow.tuned", "true")
    cores = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", str(max(cores, 8)))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    # r13 (guide §3.1): the same size-gated join-strategy runtime confs
    # session.py sets for engine-built sessions — a vanilla driver session
    # otherwise plans every equi-join sort-merge even when the build side
    # fits a per-partition hash table (both are spill-safe, size-gated,
    # and change plans only, never results)
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "false")
    spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", SHJ_LOCAL_MAP)
    # deliberately NOT touching result-representation confs (e.g. Arrow
    # collect): they change collected dtypes, and the external compare
    # harness hashed round-1 results without them — plan-side tuning only.


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` under ``name``; ``oracle`` is the DuckDB SQL twin
    (omit only for genuinely non-SQL-expressible operators)."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name: {name}")

        def tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
            tune_session(spark)
            return fn(spark, sf_dir)

        tuned.__name__ = fn.__name__
        tuned.__doc__ = fn.__doc__
        tuned.__wrapped__ = fn
        QUERIES[name] = tuned
        if oracle is not None:
            ORACLES[name] = oracle
        return tuned

    return deco


def load_all() -> None:
    """Import every module of this package, which registers its queries."""
    for mod in sorted(m.name for m in pkgutil.iter_modules(__path__)):
        import_module(f"{__name__}.{mod}")


def all_queries() -> dict[str, QueryFn]:
    load_all()
    return dict(QUERIES)


def all_oracles() -> dict[str, str]:
    load_all()
    return dict(ORACLES)
