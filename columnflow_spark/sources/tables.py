"""Parquet sources for the driver-generated test tables.

Mirrors the reference's scan layer (``ChunkedIOHandler`` /
``ChunkedParquetReader``, reference columnflow/columnar_util.py:3276-3960):
the reference hand-rolls row-group-aligned chunked reads with column
projection and a read-ahead thread pool; on Spark all of that is native —
``spark.read.parquet`` gives row-group splits, vectorized decoding, column
pruning and predicate pushdown, so this module is deliberately thin.

``load_table(..., columns=...)`` applies an explicit ``select`` so the
projection reaches the scan even when downstream code is opaque to Catalyst
(e.g. feeds a pandas UDF).
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession

from columnflow_spark.core.artifacts import artifact

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# small dimension tables that should always be broadcast in joins
BROADCAST_TABLES = {"region", "nation", "supplier", "part", "customer"}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


@artifact("base_table")
def _base_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The *base* relation of one table, a session artifact.  A catalog
    would hold this for registered tables; for path reads Spark re-lists
    the directory and re-reads the parquet footer on every
    ``spark.read.parquet`` call, which at many-queries-per-session cost
    ~0.1-0.3 s of driver time per table reference.  The artifact is a
    lazy plan, not data: column pruning/pushdown from each query's
    ``select``/``filter`` still reach the scan unchanged."""
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: Iterable[str] | None = None,
) -> DataFrame:
    df = _base_table(spark, sf_dir, name)
    if columns is not None:
        df = df.select(*columns)
    return df


def normalize_events_ts(df: DataFrame) -> DataFrame:
    """Normalize ``events.ts`` to TIMESTAMP (session-TZ, which is pinned to
    UTC in :mod:`columnflow_spark.session`) regardless of the parquet
    physical type.  The single source of truth for both the batch and the
    streaming reader — the two must never diverge on time semantics.

    Handles every encoding the test tables have shipped with:

    - ``timestamp[us]`` without TZ → Spark reads TIMESTAMP_NTZ; cast to
      TIMESTAMP (identity on the stored micros since session TZ is UTC).
      Functions like ``unix_micros`` reject NTZ, so the cast is load-bearing.
    - ``bigint`` nanoseconds (``nanosAsLong`` legacy read) → *integer*
      division by 1000; float division at ~1.7e18 ns loses microsecond
      precision (double has 53 mantissa bits) and would break oracle parity
      with DuckDB's ns->us truncation.
    - already TIMESTAMP → no-op.
    """
    from pyspark.sql import functions as F

    dt = dict(df.dtypes).get("ts")
    if dt == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif dt == "timestamp_ntz":
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events loader: plain parquet scan + :func:`normalize_events_ts`.
    The ``nanosAsLong`` conf stays set so a hypothetical TIMESTAMP(NANOS)
    file still loads (as bigint) instead of crashing the vectorized reader;
    the normalizer then handles that branch too."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return normalize_events_ts(spark.read.parquet(table_path(sf_dir, "events")))


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str] = TABLES) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in names}


def spread(df: DataFrame, *key_cols: str, partitions: int | None = None) -> DataFrame:
    """Decouple compute parallelism from input splits.

    A parquet scan parallelizes by file/row-group; when the downstream
    stage's compute-per-byte is much higher than the scan (shingling,
    per-vector math, collection building), few input splits serialize the
    whole stage.  An explicit round-robin (or hash, when ``key_cols`` are
    given so a following groupBy on the same keys reuses the exchange)
    repartition moves that compute onto all cores — the same move a
    cluster job makes when one dense input file feeds a fan-out stage.
    """
    if partitions is None:
        partitions = df.sparkSession.sparkContext.defaultParallelism
    if key_cols:
        return df.repartition(partitions, *key_cols)
    return df.repartition(partitions)


def load_csv(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> DataFrame:
    """CSV source.  An explicit ``schema`` DDL string is strongly preferred:
    inference triggers an extra full scan (at 100 TB, a second bill) and
    pins types to one sample.  Malformed rows go to ``_corrupt_record``-less
    PERMISSIVE nulls; use mode=FAILFAST semantics by validating downstream
    with finite/overlap checks."""
    reader = (
        spark.read.option("header", str(header).lower())
        .option("delimiter", delimiter)
        .option("mode", "PERMISSIVE")
    )
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_json(
    spark: SparkSession,
    path: str,
    schema: str | None = None,
    multiline: bool = False,
) -> DataFrame:
    """JSON-lines source (one object per line; ``multiline`` for whole-file
    documents).  Same schema guidance as :func:`load_csv` — with a DDL
    schema the reader prunes unread fields at parse time."""
    reader = spark.read.option("multiLine", str(multiline).lower())
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def load_evolving(
    spark: SparkSession,
    *paths: str,
    required: Iterable[str] = (),
    fill: dict[str, object] | None = None,
) -> DataFrame:
    """Schema-evolution read: union parquet files/directories whose schemas
    drifted (columns added over time) into one relation.

    ``mergeSchema`` makes the scan's schema the union of all footers
    (files missing a column yield nulls for it — Spark's native evolution
    semantics, same engine behavior the reference gets from awkward's
    optional fields).  ``required`` columns absent from EVERY file are
    materialized as null columns so downstream operators written against
    the newest schema still compile (the reference's ``optional_column``
    route contract at the IO boundary); ``fill`` maps column -> sentinel
    to replace nulls with the engine's EMPTY_INT/EMPTY_FLOAT-style values
    after the union.

    Scale note: schema merging reads every file FOOTER at planning time —
    fine for per-dataset stores (the reference merges per-dataset files
    too); for 100k+-file lakes, register the union schema in a catalog
    instead and pass it via ``.schema(...)`` to skip footer sweeps."""
    from pyspark.sql import functions as F

    df = spark.read.option("mergeSchema", "true").parquet(*paths)
    for col in required:
        if col not in df.columns:
            df = df.withColumn(col, F.lit(None))
    if fill:
        df = df.withColumns(
            {c: F.coalesce(F.col(c), F.lit(v)) for c, v in fill.items() if c in df.columns}
        )
    return df
