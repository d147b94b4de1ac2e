"""Interchange-format sources/sinks: CSV and JSON-lines roundtrips.

The engine's primary store is Parquet (SURVEY.md §2.1), but a real corpus
platform also ingests and emits interchange formats — crawler dumps and
labeling exports arrive as CSV/JSONL, and downstream consumers ask for the
same on the way out.  These queries exercise the full write→read→compute
path with EXPLICIT schemas (never inference — schema inference is a second
full scan at 100 TB) and prove the roundtrip lossless by aggregating the
re-read copy against a DuckDB oracle that reads the original Parquet: any
formatting loss (double shortest-repr, microsecond timestamps, nested JSON
structs) breaks the hash match.

Scale notes:

- Writes go through ``df.write.csv/json`` — executor-parallel, one file per
  partition; the re-read is schema-pinned so Catalyst still prunes columns
  (CSV/JSON cannot push predicates down like Parquet, which is exactly why
  the roundtrip lands in scratch and Parquet stays the store format).
- Timestamps carry microseconds via an explicit ``timestampFormat``; the
  default second-precision pattern would silently truncate — the oracle
  would catch it.
- Aggregates quantize DOUBLE money to integer cents BEFORE summing, the
  repo-wide exact-sum convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnflow_spark.queries import query
from columnflow_spark.sources import load_table
from columnflow_spark.sources.sinks import ensure_store, store_path

#: microsecond-preserving pattern shared by writer and reader; the default
#: (second-granularity) format would truncate event timestamps
_TS_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _write_once(df: DataFrame, out: str, fmt: str, **options) -> str:
    """Write the roundtrip copy to ``out`` once (``ensure_store``: staged,
    published by one rename, reused while ``_BUILT``): repeated runs —
    including a concurrent session's later run — read the existing files,
    and no session ever writes into a directory another one scans."""

    def build(p: str) -> None:
        writer = df.write
        for k, v in options.items():
            writer = writer.option(k, v)
        getattr(writer, fmt)(p)

    return ensure_store(out, build)


@query(
    "csv_roundtrip_orders",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
           min(o_orderdate) AS first_date,
           max(o_orderdate) AS last_date
    FROM orders
    WHERE o_orderstatus = 'F'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def csv_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write finished orders to CSV, re-read with a pinned schema, and
    aggregate the copy — the oracle aggregates the original Parquet, so a
    lossless hash match proves the CSV path preserves BIGINT, DOUBLE
    (shortest-roundtrip repr), VARCHAR and microsecond TIMESTAMP values."""
    orders = load_table(
        spark,
        sf_dir,
        "orders",
        columns=["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"],
    ).filter(F.col("o_orderstatus") == "F")

    # o_orderdate is TIMESTAMP_NTZ in the parquet store: CSV formats it via
    # the separate timestampNTZFormat option (timestampFormat only applies
    # to zoned timestamps and would be silently ignored here)
    out = _write_once(
        orders,
        store_path(sf_dir, "orders", "formats", "csv"),
        "csv",
        header=True,
        timestampNTZFormat=_TS_FMT,
    )

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampNTZType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    )
    back = (
        spark.read.schema(schema)
        .option("header", True)
        .option("timestampNTZFormat", _TS_FMT)
        .csv(out)
    )
    return (
        back.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("cents"),
            F.min("o_orderdate").alias("first_date"),
            F.max("o_orderdate").alias("last_date"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "json_roundtrip_events",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS k_total,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents,
           max(ts) AS last_ts
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_roundtrip_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write events to JSON-lines with the ``props`` string parsed into a
    NESTED struct, re-read with a pinned schema, and aggregate — proving
    the JSONL path preserves nested structs, doubles and microsecond
    timestamps (the oracle extracts the same field from the original raw
    JSON string in Parquet)."""
    events = load_table(
        spark, sf_dir, "events", columns=["event_id", "ts", "event_type", "value", "props"]
    ).select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.from_json("props", "k INT").alias("props"),
    )

    out = _write_once(
        events, store_path(sf_dir, "events", "formats", "json"), "json", timestampFormat=_TS_FMT
    )

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StructType([T.StructField("k", T.IntegerType())])),
        ]
    )
    back = spark.read.schema(schema).option("timestampFormat", _TS_FMT).json(out)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.col("props.k")).cast("long").alias("k_total"),
            F.sum(F.round(F.col("value") * 100, 0).cast("long"))
            .cast("long")
            .alias("value_cents"),
            F.max("ts").alias("last_ts"),
        )
        .orderBy("event_type")
    )


@query(
    "orc_roundtrip_lineitem",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_c,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_c,
           min(l_shipdate) AS first_ship,
           max(l_shipdate) AS last_ship
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def orc_roundtrip_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write lineitem (projected) to ORC, re-read, and aggregate — ORC is
    the second columnar store format (built-in, binary-typed: no text
    formatting layer, so fidelity covers BIGINT/DOUBLE/VARCHAR and
    TIMESTAMP_NTZ natively); the oracle aggregates the original Parquet."""
    li = load_table(
        spark,
        sf_dir,
        "lineitem",
        columns=["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag", "l_shipdate"],
    )
    out = _write_once(li, store_path(sf_dir, "lineitem", "formats", "orc"), "orc")
    back = spark.read.schema(li.schema).orc(out)
    return (
        back.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.sum(F.round(F.col("l_quantity") * 100, 0).cast("long"))
            .cast("long")
            .alias("qty_c"),
            F.sum(F.round(F.col("l_extendedprice") * 100, 0).cast("long"))
            .cast("long")
            .alias("price_c"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .orderBy("l_returnflag")
    )
