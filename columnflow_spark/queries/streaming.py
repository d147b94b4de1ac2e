"""Structured Streaming operators (SURVEY §2.9 — beyond-parity: the
reference is batch-only; its chunk loop maps onto micro-batches).

Each query drives a real streaming pipeline (readStream -> transform ->
writeStream) to completion and returns its at-rest result as a
DataFrame, so the oracle compare applies to streaming output too.  Two
harnesses drive every stream:

- :func:`_run_to_memory` — the memory sink (``processAllAvailable``
  makes a batch of files drive the stream synchronously) for the window,
  session, stateful and join operators:

  - tumbling-window agg (window())
  - session windows (session_window())
  - custom stateful operator (applyInPandasWithState)

- :func:`replay_ingest` — the replay-ingest primitive for the
  store-maintenance twins: it registers the deterministic
  ``events_replay`` source (sources/pydatasource.py), sizes the
  micro-batches through :func:`_ingest_batch_rows`, and owns the twin's
  scratch store directories (:func:`scratch_dirs`); :func:`_drain` runs
  ``foreachBatch(sink)`` to completion.  A twin keeps only its sink body
  and its at-rest read.

Both materialize the at-rest result with ``checkpoint_df`` before they
release what they created (the memory sink's ``stream_out_*`` view, the
scratch directories), so nothing a twin creates outlives its return.

At scale the same code runs unchanged against kafka/file streams; the
memory sink and the replay source are only the local test harness.
"""

from __future__ import annotations

import os
import tempfile
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from typing import NamedTuple

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from columnflow_spark.core.state import checkpoint_df
from columnflow_spark.queries import query
from columnflow_spark.sources import normalize_events_ts, table_path
from columnflow_spark.sources.sinks import is_built, local_frame, upsert_partitions

# raw schema of events.parquet; ts as NTZ (the parquet stores timestamp[us]
# without a timezone) — normalize_events_ts casts it to session-TZ TIMESTAMP,
# the SAME helper the batch loader uses, so batch and streaming timelines can
# never diverge (round-1 bug: a hand-rolled nanos schema here compressed time
# 1000x).
_EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def _ingest_batch_rows(n: int, *, floor: int = 200, target_batches: int = 40) -> str:
    """Replay micro-batch size for ``n`` rows, the one sizing rule of
    every replay twin (VERDICT r7 next #6): env-overridable
    (``SPARK_GRAFT_STREAM_BATCH_ROWS``), otherwise scaled so a full
    ingest is ~``target_batches`` micro-batches, with a floor that keeps
    the multi-batch state machinery genuinely exercised at test scale
    (sf0.001's 500 docs still replay as 3 batches).  The at-rest oracle
    equality is batch-size-INVARIANT — batch boundaries affect state
    timing, never the at-rest output (pinned by the crafted-boundary
    replay tests) — so this knob moves wall time only: sf1's 50k docs
    drop from 250 micro-batches (~24 min of per-batch upsert overhead)
    to 40."""
    env = os.environ.get("SPARK_GRAFT_STREAM_BATCH_ROWS")
    if env:
        return env
    return str(max(floor, n // target_batches))


def _stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the file stream source requires a directory: stream the sf dir with a
    # glob filter selecting just the events table
    stream = (
        spark.readStream.schema(_EVENTS_RAW_SCHEMA)
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    return normalize_events_ts(stream)


def _run_to_memory(df: DataFrame, spark: SparkSession, mode: str = "complete") -> DataFrame:
    """Drain ``df`` into a memory sink and return its rows, materialized
    so the sink's ``stream_out_*`` view can be dropped on return."""
    name = f"stream_out_{uuid.uuid4().hex[:8]}"
    q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        return spark.table(name).transform(checkpoint_df)
    finally:
        q.stop()
        spark.catalog.dropTempView(name)


@contextmanager
def scratch_dirs(*names: str) -> Iterator[list[str]]:
    """Fresh empty directories ``names`` under one private temp root,
    removed with all their contents when the block exits — the one owner
    of a query's scratch stores.  A result that reads them must be
    materialized (``checkpoint_df``) before the block exits."""
    with tempfile.TemporaryDirectory(prefix="cf_scratch_") as root:
        dirs = [os.path.join(root, name) for name in names]
        for d in dirs:
            os.mkdir(d)
        yield dirs


class Replay(NamedTuple):
    stream: DataFrame  # the replayed table, one micro-batch per slice
    dirs: list[str]  # the scratch directories, in the order named
    rows: int  # the table's row count


@contextmanager
def replay_ingest(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    order_col: str,
    *scratch: str,
    floor: int = 200,
    target_batches: int = 40,
) -> Iterator[Replay]:
    """The replay-ingest primitive: ``table`` replayed in ``order_col``
    order through the ``events_replay`` source, as micro-batches of
    :func:`_ingest_batch_rows` rows, plus the ``scratch`` store
    directories of :func:`scratch_dirs`.  Drive the stream with
    :func:`_drain` and materialize the at-rest result inside the block:
    the directories are gone once it exits."""
    from columnflow_spark.sources.pydatasource import register

    register(spark)
    path = table_path(sf_dir, table)
    n = pq.ParquetFile(path).metadata.num_rows
    stream = (
        spark.readStream.format("events_replay")
        .option("path", path)
        .option("order_col", order_col)
        .option("batch_rows", _ingest_batch_rows(n, floor=floor, target_batches=target_batches))
        .load()
    )
    with scratch_dirs(*scratch) as dirs:
        yield Replay(stream, dirs, n)


def _drain(stream: DataFrame, sink: Callable[[DataFrame, int], None]) -> None:
    """Run ``foreachBatch(sink)`` until the source is exhausted.
    processAllAvailable, not availableNow: the replay source's
    prefetching simple reader exposes one batch per read() — availableNow
    terminates after the first prefetched range."""
    q = stream.writeStream.foreachBatch(sink).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


@query(
    "streaming_tumbling_counts",
    oracle="""
    SELECT
        date_trunc('hour', ts) AS hour,
        event_type,
        count(*) AS n,
        round(sum(value), 4) AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _stream_events(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
    )
    out = _run_to_memory(agg, spark)
    return out.select(F.col("window.start").alias("hour"), "event_type", "n", "sum_value")


def tumbling_counts_append(ev: DataFrame, *, window: str = "1 hour", watermark: str = "1 hour") -> DataFrame:
    """Watermarked tumbling counts in APPEND form: only windows the
    watermark has finalized are ever emitted, and rows later than the
    watermark are DROPPED before they can touch closed state.  This is the
    bounded-state production shape of ``streaming_tumbling_counts`` (whose
    complete-mode output keeps every window open forever).  Late-drop and
    finalization semantics are pinned in tests/test_streaming_watermark.py
    against the deterministic replay source."""
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "streaming_tumbling_append",
    oracle="""
    SELECT hour, event_type, n FROM (
        SELECT date_trunc('hour', ts) AS hour, event_type,
               CAST(count(*) AS BIGINT) AS n
        FROM events GROUP BY 1, 2
    )
    -- append mode emits exactly the windows the FINAL watermark closed:
    -- window end (hour + 1h) <= max(ts) - delay (1h)
    WHERE hour <= (SELECT max(ts) FROM events) - INTERVAL 2 HOUR
    ORDER BY hour, event_type
    """,
)
def streaming_tumbling_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode watermarked tumbling counts over the ts-ordered replay:
    the memory sink receives each window exactly once, when the watermark
    passes its end — the oracle reproduces that finalization predicate
    (replay order is monotone in ts, so no input row is ever late here;
    the late-drop path is exercised in tests/test_streaming_watermark.py)."""
    with replay_ingest(spark, sf_dir, "events", "event_id", floor=2500) as rp:
        ev = normalize_events_ts(rp.stream)
        out = _run_to_memory(tumbling_counts_append(ev), spark, mode="append")
    return out.select(
        F.col("window.start").alias("hour"), "event_type", "n"
    ).orderBy("hour", "event_type")


@query(
    "streaming_session_windows",
    oracle="""
    WITH gaps AS (
        SELECT user_id, ts, event_id,
            CASE WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                 OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions
    FROM gaps
    GROUP BY user_id
    """,
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session_window closes a session after >= gap of inactivity (half-open
    # [start, last+gap)), hence the >= in the oracle's lag form
    ev = _stream_events(spark, sf_dir)
    sessions = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = _run_to_memory(sessions, spark)
    return out.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_sessions"))


@query(
    "streaming_stateful_user_stats",
    oracle="""
    SELECT user_id, count(*) AS n_events, round(max(value), 4) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator via applyInPandasWithState (the
    engine's escape hatch for operators Spark lacks, SURVEY §2.9/§2.10):
    keeps (count, max) per user across micro-batches and emits the final
    state.  State survives across batches — with the test's single batch
    the emitted rows equal the batch aggregate, giving an exact oracle."""

    def update(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, float("-inf"))
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                mx = max(mx, float(pdf["value"].max()))
        state.update((n, mx))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n], "max_value": [round(mx, 4)]})

    ev = _stream_events(spark, sf_dir).select("user_id", "value")
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("max_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [T.StructField("n", T.LongType()), T.StructField("mx", T.DoubleType())]
    )
    stateful = ev.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    return _run_to_memory(stateful, spark, mode="update")


# --- incremental histogramming over a stream (SURVEY §2.9/§1.6: the
# reference's chunk loop filling in-memory hists per chunk maps to
# foreachBatch partial-hist upserts; the final hist is the merge of the
# per-micro-batch partials, exactly like MergeHistograms merges per-file
# partials) ---
@query(
    "streaming_hist_foreachbatch",
    oracle="""
    SELECT
        CASE
            WHEN value IS NULL THEN -2
            WHEN value < 0.0 THEN -1
            WHEN value > 500.0 THEN 20
            WHEN value = 500.0 THEN 19
            ELSE least(CAST(floor(value / 25.0) AS INT), 20)
        END AS bin__value,
        CAST(sum(n) AS BIGINT) AS n,
        round(sum(sum_w), 4) AS sum_w,
        round(sum(sum_w2), 4) AS sum_w2
    FROM (
        SELECT value, 1 AS n, value AS sum_w, value * value AS sum_w2 FROM events
    )
    GROUP BY 1
    """,
)
def streaming_hist_foreachbatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.hist import Variable, fill_hist, merge_hists

    ev = _stream_events(spark, sf_dir)
    var = Variable("value", "value", (20, 0.0, 500.0))
    partial_rows: list = []
    schema_holder: dict = {}

    def upsert(batch_df: DataFrame, _batch_id: int) -> None:
        # per-micro-batch partial hist; a production sink would MERGE these
        # into a hist table — locally we accumulate the (tiny) partials
        h = fill_hist(batch_df, [var], weight=F.col("value"), round_to=None)
        schema_holder["schema"] = h.schema
        partial_rows.extend(h.collect())

    _drain(ev, upsert)
    partials = local_frame(spark, partial_rows, schema_holder["schema"])
    return merge_hists([partials])


def stream_to_partitioned_store(
    stream_df: DataFrame,
    path: str,
    *,
    partition_by: list[str],
    transform=None,
) -> None:
    """Production materialization path for streams: a ``foreachBatch``
    sink composing the engine's idempotent partitioned-store upsert
    (sources/sinks.py:upsert_partitions).  Each micro-batch lands as the
    ``batch=<id>`` slice of the hive layout, so

    - REPLAYING a batch (restart without checkpoint, reprocessing)
      replaces exactly its own partitions — at-least-once delivery
      becomes effectively-once in the store;
    - downstream readers prune on the leading partition keys at planning
      time (PartitionFilters), exactly like the batch-side
      ``dataset=/shift=`` store.

    ``transform`` (optional) maps each micro-batch DataFrame before the
    write — the per-batch partial-aggregate hook (fill a partial hist,
    score a batch, …).  The ``batch`` column is appended automatically
    and must be the LAST entry of ``partition_by``'s layout concern —
    callers pass the data keys; batch is added here."""
    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = transform(batch_df) if transform is not None else batch_df
        out = out.withColumn("batch", F.lit(int(batch_id)))
        upsert_partitions(out, path, partition_by=[*partition_by, "batch"])

    _drain(stream_df, sink)


@query(
    "streaming_store_upsert_sink",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events
    WHERE event_type IN ('click', 'error')
    GROUP BY event_type ORDER BY event_type
    """,
)
def streaming_store_upsert_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end stream -> partitioned store -> pruned read-back: events
    stream into an ``event_type=/batch=`` hive store via the foreachBatch
    upsert sink, then ONLY the probed event types are read back (partition
    pruning) and aggregated — the values must match the batch table
    exactly (integer cents per row keep the compare fp-order-proof)."""
    with scratch_dirs("store") as (path,):
        ev = _stream_events(spark, sf_dir)
        stream_to_partitioned_store(ev, path, partition_by=["event_type"])
        stored = spark.read.parquet(path).filter(
            F.col("event_type").isin("click", "error")
        )
        return (
            stored.groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias("value_cents"),
            )
            .orderBy("event_type")
            .transform(checkpoint_df)
        )


@query(
    "streaming_dedup_keys",
    oracle="""
    SELECT DISTINCT user_id, event_type FROM events
    """,
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming at-least-once delivery dedup: ``dropDuplicates`` on the
    key columns with an event-time watermark bounding the dedup state.
    The batch analog is DISTINCT; in a live stream the watermark ages
    keys out of the state store so memory stays O(keys in horizon) —
    the standard exactly-once ingestion front for a 100 TB event feed
    (beyond-parity: reference is batch-only, SURVEY §2.9)."""
    ev = _stream_events(spark, sf_dir)
    deduped = (
        ev.withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return _run_to_memory(deduped, spark, mode="append")


@query(
    "streaming_static_enrich",
    oracle="""
    WITH profile AS (
        SELECT user_id, round(avg(value), 4) AS mean_value
        FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           count(*) AS n,
           CAST(count(*) FILTER (WHERE e.value > p.mean_value) AS BIGINT) AS n_above_profile
    FROM events e JOIN profile p USING (user_id)
    GROUP BY e.event_type
    """,
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: each micro-batch broadcast-joins a static
    per-user profile table (computed batch-side) — the standard pattern
    for enriching a live event feed with reference data.  The static side
    is re-resolvable per batch; at scale it is a broadcast, the stream
    never shuffles (beyond-parity: reference is batch-only, SURVEY §2.9)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    static_profile = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .groupBy("user_id")
        .agg(F.round(F.avg("value"), 4).alias("mean_value"))
    )
    ev = _stream_events(spark, sf_dir)
    joined = ev.join(F.broadcast(static_profile), "user_id")
    agg = joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(F.col("value") > F.col("mean_value")).alias("n_above_profile"),
    )
    return _run_to_memory(agg, spark, mode="complete")


@query(
    "streaming_stream_join",
    oracle="""
    SELECT c.user_id,
           count(*) AS n_attributed,
           round(sum(p.value), 4) AS attributed_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id
    """,
)
def streaming_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (click-to-purchase
    attribution): both sides carry watermarks and the join condition
    bounds purchase time to [click, click + 30 min], so state for either
    side is evicted once the watermark passes the interval — bounded
    memory on an unbounded stream.  Join output is append-mode; the
    attribution rollup happens on the materialized result (at scale: a
    downstream batch agg or a second streaming stage).  Beyond-parity:
    reference is batch-only (SURVEY §2.9)."""
    clicks = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        _stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("p_ts") >= F.col("c_ts"))
        & (F.col("p_ts") <= F.col("c_ts") + F.expr("INTERVAL 30 MINUTES")),
    )
    out = _run_to_memory(joined, spark, mode="append")
    return out.groupBy(F.col("c_user").alias("user_id")).agg(
        F.count(F.lit(1)).alias("n_attributed"),
        F.round(F.sum("p_value"), 4).alias("attributed_value"),
    )

# raw schema of documents.parquet for the streaming curation path
_DOCS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
        T.StructField("source", T.StringType()),
        T.StructField("n_chars", T.LongType()),
    ]
)


def _stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(_DOCS_RAW_SCHEMA)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )


# --- streaming corpus curation: eval-set decontamination as a stream
# (the ingestion-time form of decontaminate_eval_overlap: documents arrive
# as a stream, the eval shingle set is a static broadcast side, and any
# document sharing a trigram with the eval set is dropped BEFORE it lands
# in the training store — stream-static left-anti join, stateless, so it
# scales to an unbounded ingest feed). ---
@query(
    "streaming_decontaminate_ingest",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    grams AS (
        SELECT doc_id, source,
               list_distinct(list_transform(range(1, len(ts) - 1),
                             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gs
        FROM toks WHERE len(ts) >= 3
    ),
    eval_gram_set AS (
        SELECT DISTINCT ug AS gram FROM grams, unnest(gs) AS t(ug) WHERE source = 'src2'
    ),
    contaminated AS (
        SELECT DISTINCT g.doc_id
        FROM grams g, unnest(g.gs) AS t(ug)
        WHERE g.source <> 'src2' AND ug IN (SELECT gram FROM eval_gram_set)
    )
    SELECT g.source, CAST(count(*) AS BIGINT) AS n_clean
    FROM grams g
    WHERE g.source <> 'src2' AND g.doc_id NOT IN (SELECT doc_id FROM contaminated)
    GROUP BY g.source
    """,
)
def streaming_decontaminate_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.functions.text import word_shingles
    from columnflow_spark.sources import load_table

    # static side: the distinct eval trigram set collected into ONE row
    # (small by construction — it is the eval set), broadcast to the
    # stream; the contamination check is then an in-row arrays_overlap, so
    # the streaming plan stays a single stream-static join + one aggregate
    # (streaming forbids chained aggregations / stream-stream anti-joins in
    # complete mode).  At ingest scale the per-doc check is O(|doc grams|)
    # hash probes; the batch-side decontaminate_eval_overlap remains the
    # form for retroactive sweeps with per-gram accounting.
    docs_static = load_table(spark, sf_dir, "documents", columns=["doc_id", "text", "source"])
    eval_arr = (
        docs_static.filter(F.col("source") == "src2")
        .select(F.explode(word_shingles(F.col("text"), 3)).alias("gram"))
        .distinct()
        .agg(F.collect_list("gram").alias("eval_grams"))
    )
    stream = (
        _stream_documents(spark, sf_dir)
        .filter(F.col("source") != "src2")
        .withColumn("gs", word_shingles(F.col("text"), 3))
        .filter(F.size("gs") >= 1)
    )
    clean = (
        stream.crossJoin(F.broadcast(eval_arr))
        .filter(~F.arrays_overlap("gs", "eval_grams"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_clean"))
    )
    return _run_to_memory(clean, spark, mode="complete")

# raw schema of embeddings.parquet for the streaming encode path
_EMB_RAW_SCHEMA = T.StructType(
    [
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.FloatType())),
        T.StructField("label", T.IntegerType()),
    ]
)


def _stream_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(_EMB_RAW_SCHEMA)
        .option("pathGlobFilter", "embeddings.parquet")
        .parquet(sf_dir)
    )


# --- streaming embedding ingest: PQ-encode vectors as they arrive (the
# ingestion-time form of ann_pq_codes: the codebook is a static broadcast
# literal, encoding is a stateless per-row map — append mode, no state, no
# aggregation — so an unbounded embedding feed compresses before it lands
# in the index store).  m=4 subspaces x 16 dims, K=8 codes here: the
# in-row argmin costs m*K interpreted HOF aggregates per vector, so the
# streaming flavor uses a smaller codebook than the batch encoder (whose
# join fan-out form needs an aggregation streaming would forbid chaining).
@query(
    "streaming_pq_encode",
    oracle="""
    WITH cb AS (SELECT vec_id AS code, embedding AS c FROM embeddings WHERE vec_id < 8),
    pairs AS (
        SELECT e.vec_id, s.s AS sub, cb.code,
               list_aggregate(list_transform(range(1, 17),
                   j -> (e.embedding[(s.s) * 16 + j] - cb.c[(s.s) * 16 + j])
                      * (e.embedding[(s.s) * 16 + j] - cb.c[(s.s) * 16 + j])), 'sum') AS d
        FROM embeddings e
        CROSS JOIN (SELECT unnest(range(4)) AS s) s
        CROSS JOIN cb
    ),
    best AS (
        SELECT vec_id, sub, code FROM (
            SELECT vec_id, sub, code, row_number() OVER (
                PARTITION BY vec_id, sub ORDER BY d, code) AS rn
            FROM pairs
        ) WHERE rn = 1
    )
    SELECT vec_id, array_to_string(list(CAST(code AS INT) ORDER BY sub), '-') AS codes
    FROM best GROUP BY vec_id
    ORDER BY vec_id
    """,
)
def streaming_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.sources import load_table

    m, dim, k = 4, 16, 8
    emb_static = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    cb_rows = sorted(
        emb_static.filter(F.col("vec_id") < k).collect(), key=lambda r: r.vec_id
    )
    codebook = {
        s: [[float(x) for x in r.embedding[s * dim:(s + 1) * dim]] for r in cb_rows]
        for s in range(m)
    }
    stream = _stream_embeddings(spark, sf_dir)

    def subdist(s: int, centroid: list[float]):
        sub = F.slice("embedding", s * dim + 1, dim)
        lit = F.array(*[F.lit(x) for x in centroid])
        return F.aggregate(
            F.zip_with(sub, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, x: acc + x,
        )

    code_cols = []
    for s in range(m):
        d_arr = F.array(*[subdist(s, c) for c in codebook[s]])
        code_cols.append((F.array_position(d_arr, F.array_min(d_arr)) - 1).cast("int"))
    encoded = stream.select(
        "vec_id",
        F.concat_ws("-", *[c.cast("string") for c in code_cols]).alias("codes"),
    )
    return _run_to_memory(encoded, spark, mode="append").orderBy("vec_id")


# --- streaming ingest-time NEAR-dup detection (the streaming flavor of
# dedup_simhash): each arriving doc gets its 60-bit SimHash (pure
# projection — streaming-safe), fans out to its 8 block buckets, and a
# stateful operator per bucket remembers every (doc_id, fingerprint)
# seen and flags docs within hamming 6 of any PRIOR doc.  The 8x8-bit
# block pigeonhole guarantees any pair within hamming 7 shares a bucket,
# so bucket-local state finds every near-dup pair — state per bucket is
# the bucket's fingerprint list (8 bytes + id per doc), not documents.
# "Prior" = lower doc_id (in-batch) / earlier micro-batch; the single
# test batch makes the relation total, giving an exact SQL oracle: dup
# iff an earlier doc sits within hamming 6 — the batch dedup_simhash
# pair relation.  Final per-doc verdict = OR over the doc's buckets,
# aggregated on the materialized sink output (chaining a second stateful
# agg onto applyInPandasWithState is not supported in append mode). ---
@query(
    "streaming_neardup_simhash",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ts) - 1),
                             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gs
        FROM toks WHERE len(ts) >= 3
    ),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    hx AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM ex),
    bits AS (
        SELECT doc_id, b,
               CASE WHEN 2 * CAST(sum((h >> b) & 1) AS BIGINT) > count(*) THEN 1 ELSE 0 END AS bit
        FROM hx CROSS JOIN (SELECT unnest(range(60)) AS b)
        GROUP BY doc_id, b
    ),
    sh AS (SELECT doc_id, CAST(sum(bit::BIGINT << b) AS BIGINT) AS sh FROM bits GROUP BY doc_id)
    SELECT a.doc_id, count(b.doc_id) > 0 AS is_dup
    FROM sh a LEFT JOIN sh b
      ON b.doc_id < a.doc_id AND bit_count(xor(a.sh, b.sh)) <= 6
    GROUP BY a.doc_id
    ORDER BY a.doc_id
    """,
)
def streaming_neardup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.functions.similarity import simhash64
    from columnflow_spark.functions.text import tokens, word_shingles

    stream = _stream_documents(spark, sf_dir)
    md5_hashes = F.transform(
        word_shingles(F.col("text"), 3),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    hashed = stream.filter(F.size(tokens(F.col("text"))) >= 3).select(
        "doc_id", simhash64(md5_hashes).alias("sh")
    )
    blocks = F.array(
        *[F.shiftright(F.col("sh"), 8 * i).bitwiseAND(F.lit(255)) for i in range(8)]
    )
    banded = hashed.select("doc_id", "sh", F.posexplode(blocks).alias("block_idx", "block_val"))

    def update(key, pdfs, state: GroupState):
        # "prior" = arrival order: everything already in state arrived in
        # an earlier micro-batch and counts as prior REGARDLESS of its
        # doc_id (an id condition would silently admit a late-arriving
        # lower-id near-dup); within a batch, rows are processed in
        # doc_id order so in-batch priority is deterministic — and with
        # the single test batch that makes the relation exactly the
        # oracle's doc_id order.
        seen_shs = list(state.get[0]) if state.exists else []
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        out_ids, out_dup = [], []
        for doc_id, sh in zip(rows["doc_id"], rows["sh"]):
            sh = int(sh)
            dup = any(bin(sh ^ psh).count("1") <= 6 for psh in seen_shs)
            out_ids.append(int(doc_id))
            out_dup.append(dup)
            seen_shs.append(sh)
        state.update((seen_shs,))
        yield pd.DataFrame({"doc_id": out_ids, "dup_local": out_dup})

    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("dup_local", T.BooleanType())]
    )
    state_schema = T.StructType([T.StructField("shs", T.ArrayType(T.LongType()))])
    flagged = banded.groupBy("block_idx", "block_val").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
    sunk = _run_to_memory(flagged, spark, mode="update")
    return (
        sunk.groupBy("doc_id")
        .agg(F.max("dup_local").alias("is_dup"))
        .orderBy("doc_id")
    )


def neardup_simhash_bounded(
    stream: DataFrame,
    *,
    horizon_ms: int,
    watermark: str = "10 seconds",
    hamming: int = 6,
) -> DataFrame:
    """Bounded-state streaming SimHash near-dup: fingerprints older than
    ``horizon_ms`` (event time) stop matching, and a bucket whose newest
    fingerprint ages past the horizon has its WHOLE state removed via
    event-time timeout — the difference between "state grows with the
    corpus forever" and "state is a sliding window" on an unbounded feed.

    Input needs (doc_id, text, ts); ts must be a (session-TZ) TIMESTAMP
    for the watermark.  Two enforcement layers, both needed:

    - in-update age filter: a bucket that keeps receiving docs never
      times out, so matching against entries older than the horizon is
      prevented row-by-row (per-row cutoff ``entry_ms >= row_ms -
      horizon``), and aged entries are dropped from the stored lists;
    - ``GroupStateTimeout.EventTimeTimeout``: buckets that go quiet are
      removed wholesale when the watermark passes (newest entry +
      horizon) — the memory bound, exercised without any new data for
      the bucket.
    """
    from columnflow_spark.functions.similarity import simhash64
    from columnflow_spark.functions.text import tokens, word_shingles

    md5_hashes = F.transform(
        word_shingles(F.col("text"), 3),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    hashed = stream.filter(F.size(tokens(F.col("text"))) >= 3).select(
        "doc_id", "ts", simhash64(md5_hashes).alias("sh")
    )
    blocks = F.array(
        *[F.shiftright(F.col("sh"), 8 * i).bitwiseAND(F.lit(255)) for i in range(8)]
    )
    banded = (
        hashed.withWatermark("ts", watermark)
        .select("doc_id", "ts", "sh", F.posexplode(blocks).alias("block_idx", "block_val"))
    )

    def update(key, pdfs, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        shs, mss = (
            (list(state.get[0]), list(state.get[1])) if state.exists else ([], [])
        )
        rows = pd.concat(list(pdfs), ignore_index=True).sort_values("doc_id")
        batch_ms = int(rows["ts"].max().timestamp() * 1000)
        out_ids, out_dup = [], []
        for doc_id, sh, ts in zip(rows["doc_id"], rows["sh"], rows["ts"]):
            sh, ms = int(sh), int(ts.timestamp() * 1000)
            dup = any(
                bin(sh ^ p).count("1") <= hamming
                for p, m in zip(shs, mss)
                if m >= ms - horizon_ms
            )
            out_ids.append(int(doc_id))
            out_dup.append(dup)
            shs.append(sh)
            mss.append(ms)
        # age-prune AFTER scoring, with the batch max ts: an out-of-order
        # row inside the batch (ts < batch max) must still see entries
        # within ITS OWN horizon — pruning first with the batch cutoff
        # silently dropped matches near the horizon boundary
        keep = [(s, m) for s, m in zip(shs, mss) if m >= batch_ms - horizon_ms]
        state.update(([s for s, _ in keep], [m for _, m in keep]))
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(batch_ms, wm + 1) + horizon_ms)
        yield pd.DataFrame({"doc_id": out_ids, "dup_local": out_dup})

    out_schema = T.StructType(
        [T.StructField("doc_id", T.LongType()), T.StructField("dup_local", T.BooleanType())]
    )
    state_schema = T.StructType(
        [
            T.StructField("shs", T.ArrayType(T.LongType())),
            T.StructField("mss", T.ArrayType(T.LongType())),
        ]
    )
    return banded.groupBy("block_idx", "block_val").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.EventTimeTimeout
    )


def _neardup_oracle() -> str:
    from columnflow_spark.queries import ORACLES

    return ORACLES["streaming_neardup_simhash"]


@query("streaming_neardup_bounded_state", oracle=_neardup_oracle())
def streaming_neardup_bounded_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The bounded-state near-dup over the documents table with a
    synthetic monotone event time (doc_id seconds past 2024-01-01) and a
    horizon longer than the corpus span — at rest it must produce EXACTLY
    the unbounded operator's output (same oracle); the aging/expiry
    behavior is pinned against crafted multi-batch replays in
    tests/test_streaming_watermark.py."""
    stream = _stream_documents(spark, sf_dir).withColumn(
        "ts", F.timestamp_seconds(F.lit(1704067200) + F.col("doc_id"))
    )
    flagged = neardup_simhash_bounded(stream, horizon_ms=30 * 86_400_000)
    sunk = _run_to_memory(flagged, spark, mode="update")
    return (
        sunk.groupBy("doc_id")
        .agg(F.max("dup_local").alias("is_dup"))
        .orderBy("doc_id")
    )


# --- streaming ingest-time BPE tokenization (the streaming flavor of
# bpe_encode_corpus): the learned merge rules are a batch-trained session
# artifact (like the streaming PQ codebook) baked into the stream's plan
# as a static in-row replace chain — a pure projection, so it composes
# with any downstream streaming stage.  Per-doc token counts + the
# lossless-segmentation char check; oracle replays training + encoding. ---
def _bpe_oracle() -> str:
    import columnflow_spark.queries.tokenlm  # noqa: F401  (registers the oracle)
    from columnflow_spark.queries import ORACLES

    return ORACLES["bpe_encode_corpus"]


@query(
    "streaming_bpe_tokenize",
    oracle=_bpe_oracle(),
)
def streaming_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.tokenlm import (
        _bpe_clean_word,
        _bpe_syms,
        _bpe_words,
        bpe_encode_expr,
        bpe_train,
    )

    merges = bpe_train(spark, sf_dir)
    stream = _stream_documents(spark, sf_dir)
    enc = bpe_encode_expr(merges)
    per_word = _bpe_words(stream.select("doc_id", "text")).select(
        "doc_id",
        F.size(_bpe_syms(enc)).alias("nt"),
        F.length(_bpe_clean_word(enc)).alias("nc"),
    )
    out = _run_to_memory(per_word, spark, mode="append")
    return (
        out.groupBy("doc_id")
        .agg(F.sum("nt").alias("n_tokens"), F.sum("nc").alias("n_chars"))
        .orderBy("doc_id")
    )


# --- custom Python streaming source (sources/pydatasource.py
# EventsReplaySource): deterministic replay of the events table as
# micro-batches — the reproducible backfill/test harness for every
# streaming operator here.  Stream-batch equivalence is the oracle: the
# replayed stream's grouped counts must equal the batch table's. ---
@query(
    "streaming_replay_counts",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def streaming_replay_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    with replay_ingest(spark, sf_dir, "events", "event_id", floor=2500) as rp:
        agg = rp.stream.groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.count_if(F.col("value") > 50.0).alias("n_high"),
        )
        return _run_to_memory(agg, spark, mode="complete").orderBy("event_type")


# --- streaming ingest-time quality filtering: the deployment form of
# quality_classifier_filter (reference-free bonus op; model trained
# OFFLINE on the batch side, applied to the ingest feed).  The trained
# weight vector is baked into the streaming plan as 64 literals, scoring
# is a stateless in-row dot product and the keep decision is the logit
# sign (z >= 0 — see the batch twin's knife-edge note), so the plan is
# projection -> filter -> one aggregation: no state store, no join,
# unbounded-feed safe.  The oracle replays the K training rounds and the
# scoring pass in one SQL chain. ---
from columnflow_spark.queries.quality import (  # noqa: E402
    _LOGREG_STEPS,
    _logreg_fit_ctes,
    _logreg_logit,
    _logreg_train,
)


@query(
    "streaming_quality_filter",
    oracle=f"""
    WITH {_logreg_fit_ctes()},
    scored AS MATERIALIZED (
        SELECT label,
               list_aggregate(list_transform(range(1, 65), j -> wl[j] * x[j]), 'sum') AS z
        FROM feat, wl{_LOGREG_STEPS}
    )
    SELECT label, CAST(count(*) AS BIGINT) AS n_kept
    FROM scored WHERE z >= 0
    GROUP BY label ORDER BY label
    """,
)
def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _logreg_train(spark, sf_dir)  # offline batch training pass
    stream = (
        _stream_embeddings(spark, sf_dir)
        .select(
            "label",
            F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        )
        .select("label", _logreg_logit(w).alias("z"))
        .filter(F.col("z") >= 0)
    )
    kept = stream.groupBy("label").agg(F.count(F.lit(1)).alias("n_kept"))
    return _run_to_memory(kept, spark, mode="complete").orderBy("label")


# --- streaming deployment of the LEARNED corpus gate (VERDICT r4 next
# #6): the batch funnel trains the hashing-TF classifier in-engine
# (training_corpus_pipeline stage 6); this op wires the SAME artifact —
# tf_learned_gate's (weights, median threshold) — through the ingest
# path, scoring each arriving document in-row with the weights as plan
# literals.  At rest its keep decisions are definitionally identical to
# the batch stage-6 filter (shared expression + shared artifact); the
# oracle replays featurization + the 4 training rounds + the median in
# SQL, the same correctness bar as the batch funnel. ---
def _learned_gate_oracle() -> str:
    from columnflow_spark.queries.quality import _tf_fit_ctes

    return f"""
    WITH {_tf_fit_ctes()}
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(d.doc_id) AS BIGINT) AS id_checksum
    FROM documents d JOIN tscoredf s USING (doc_id), tthresh t
    WHERE s.z >= t.t
    GROUP BY d.source
    ORDER BY d.source
    """


@query("streaming_learned_quality_gate", oracle=_learned_gate_oracle())
def streaming_learned_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.quality import tf_gate_score_expr, tf_learned_gate

    w, thr = tf_learned_gate(spark, sf_dir)  # offline batch training pass
    stream = (
        _stream_documents(spark, sf_dir)
        .select("doc_id", "source", tf_gate_score_expr(w).alias("z"))
        .filter(F.col("z") >= F.lit(thr))
    )
    kept = stream.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_checksum")
    )
    return _run_to_memory(kept, spark, mode="complete").orderBy("source")


# --- streaming incremental dedup against the persisted fingerprint
# store (the ingest deployment of queries/dedupstore.py): each
# micro-batch is fingerprinted, flagged against the store accumulated
# from ALL earlier batches (plus intra-batch firsts), its decisions land
# in a flags store, and its OWN distinct fingerprints are upserted as
# the store's next batch slice — the full production crawl-ingest loop.
# At rest the decisions must equal the batch-global keep-first dedup
# (min(doc_id) per fingerprint), because the replay source delivers docs
# in doc_id order; batch boundaries affect state timing, never the
# at-rest output.  State is the on-disk store (fingerprint grain), not
# executor memory — restarts resume from it, unbounded feeds stay
# bounded by distinct content. ---
@query(
    "streaming_dedup_store_ingest",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint
        FROM documents
    )
    SELECT doc_id,
           min(doc_id) OVER (PARTITION BY fingerprint) < doc_id AS is_dup
    FROM fp
    ORDER BY doc_id
    """,
)
def streaming_dedup_store_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.dedupstore import (
        doc_fingerprints,
        flag_fingerprints_against_store,
        upsert_fingerprints,
    )

    with replay_ingest(spark, sf_dir, "documents", "doc_id", "store", "flags") as rp:
        store, flags = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            fp = doc_fingerprints(batch_df)
            # flag FIRST (the batch must not see itself in the store), then
            # upsert this batch's distinct fingerprints for the next batch
            if is_built(store):
                # max_batch fence: a REPLAYED micro-batch must not see the
                # slice its failed attempt already upserted (its own
                # fingerprints would flag the whole batch dup_prior)
                decided = flag_fingerprints_against_store(
                    fp, store, max_batch=int(batch_id) - 1
                )
            else:
                first_in_batch = F.min("doc_id").over(W.partitionBy("fingerprint"))
                decided = fp.select(
                    "doc_id",
                    F.lit(False).alias("dup_prior"),
                    (first_in_batch < F.col("doc_id")).alias("dup_in_batch"),
                )
            out = decided.select(
                "doc_id",
                (F.col("dup_prior") | F.col("dup_in_batch")).alias("is_dup"),
                F.lit(int(batch_id)).alias("batch"),
            )
            upsert_partitions(out, flags, partition_by=["batch"])
            upsert_fingerprints(fp, store, batch=int(batch_id))

        _drain(rp.stream.select("doc_id", "text"), sink)
        return (
            spark.read.parquet(flags)
            .select("doc_id", "is_dup")
            .orderBy("doc_id")
            .transform(checkpoint_df)
        )


@query(
    "streaming_scd2_apply",
    oracle="""
    WITH agg AS MATERIALIZED (
        SELECT o_custkey AS c_custkey,
               count(*) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS delta_c,
               max(o_orderdate) AS mx
        FROM orders GROUP BY o_custkey
    )
    SELECT c.c_custkey,
           CAST(coalesce(a.n, 0) AS INT) AS version,
           CAST(CAST(round(c.c_acctbal * 100) AS BIGINT)
                + coalesce(a.delta_c, 0) AS BIGINT) AS bal_c,
           coalesce(a.mx, TIMESTAMP '1990-01-01') AS valid_from
    FROM customer c LEFT JOIN agg a ON a.c_custkey = c.c_custkey
    ORDER BY c.c_custkey
    """,
)
def streaming_scd2_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental CDC apply of the order stream onto the SCD2 dimension's
    CURRENT state: each micro-batch folds (count, exact-cent delta, max
    order date) per customer into the persisted state table, so at rest
    the state equals the one-shot collapse of the full history (the
    oracle), and the current row of scd2_customer_history
    (tests/test_warehouse.py ties the two).

    Per-batch cost is O(batch agg + customer-grain state join) — never a
    history rescan; both join sides are data-grain and shuffle (no
    broadcast).  State here is rewritten per batch (trivial at test
    scale); the 100 TB form upserts only the key partitions a batch
    touches, exactly like the dedup fingerprint store.
    """
    from columnflow_spark.sources import load_table

    seed = (
        load_table(spark, sf_dir, "customer", columns=["c_custkey", "c_acctbal"])
        .select(
            "c_custkey",
            F.lit(0).cast("int").alias("version"),
            F.round(F.col("c_acctbal") * 100, 0).cast("long").alias("bal_c"),
            F.lit("1990-01-01 00:00:00").cast("timestamp_ntz").alias("valid_from"),
        )
        .transform(checkpoint_df)
    )
    latest = {"path": None}

    # 5000-row batches up to ~30 of them (sf0.1's 150k orders)
    with replay_ingest(
        spark, sf_dir, "orders", "o_orderkey", "state", floor=5000, target_batches=30
    ) as rp:
        (state_root,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            batch_agg = (
                batch_df.groupBy(F.col("o_custkey").alias("c_custkey"))
                .agg(
                    F.count(F.lit(1)).cast("int").alias("dn"),
                    F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
                    .cast("long")
                    .alias("dbal"),
                    F.max("o_orderdate").alias("dmx"),
                )
            )
            state = seed if latest["path"] is None else spark.read.parquet(latest["path"])
            new_state = (
                state.join(batch_agg, "c_custkey", "left")
                .select(
                    "c_custkey",
                    (F.col("version") + F.coalesce("dn", F.lit(0))).cast("int").alias("version"),
                    (F.col("bal_c") + F.coalesce("dbal", F.lit(0))).cast("long").alias("bal_c"),
                    F.greatest("valid_from", F.coalesce("dmx", F.col("valid_from"))).alias(
                        "valid_from"
                    ),
                )
            )
            out = os.path.join(state_root, f"b{int(batch_id)}")
            new_state.write.parquet(out)
            latest["path"] = out

        _drain(rp.stream.select("o_custkey", "o_orderdate", "o_totalprice"), sink)
        final = seed if latest["path"] is None else spark.read.parquet(latest["path"])
        return (
            final.select("c_custkey", "version", "bal_c", "valid_from")
            .orderBy("c_custkey")
            .transform(checkpoint_df)
        )


def _cms_oracle() -> str:
    from columnflow_spark.queries.tokenlm import CMS_ORACLE

    return CMS_ORACLE


@query("streaming_cms_ingest", oracle=_cms_oracle())
def streaming_cms_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch built INCREMENTALLY over the replayed document
    stream: each micro-batch's cells merge into the persisted sketch by
    cell addition (CMS is a commutative monoid — exactly how partial
    sketches from 1000 executors merge), so the at-rest sketch is
    bit-identical to the batch build and shares cms_heavy_hitters'
    oracle.  State is ≤ d·w rows regardless of stream length; per-batch
    cost is one bounded groupBy + a d·w-row merge, never a history rescan.
    The heavy-hitter scoring at rest reads the static vocabulary (an
    offline read) against the stream-accumulated cells.
    """
    from columnflow_spark.functions.text import tokens
    from columnflow_spark.queries.tokenlm import cms_cells, cms_topk_from_cells
    from columnflow_spark.sources import load_table

    latest = {"path": None}
    with replay_ingest(spark, sf_dir, "documents", "doc_id", "state", floor=500) as rp:
        (state_root,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            btoks = batch_df.select(F.explode(tokens(F.col("text"))).alias("tok"))
            bcells = cms_cells(btoks)
            if latest["path"] is not None:
                prev = spark.read.parquet(latest["path"])
                bcells = (
                    prev.unionByName(bcells)
                    .groupBy("j", "idx")
                    .agg(F.sum("c").alias("c"))
                )
            out = os.path.join(state_root, f"b{int(batch_id)}")
            bcells.write.parquet(out)
            latest["path"] = out

        _drain(rp.stream.select("text"), sink)
        if latest["path"] is None:  # zero micro-batches: an empty sketch
            cells = local_frame(spark, [], "j INT, idx BIGINT, c BIGINT")
        else:
            cells = spark.read.parquet(latest["path"]).select(
                "j", "idx", F.col("c").cast("long").alias("c")
            )
        docs = load_table(spark, sf_dir, "documents", columns=["text"])
        toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        return cms_topk_from_cells(toks, cells).transform(checkpoint_df)


# --- streaming semantic dedup against the persisted SemDeDup store (the
# ingest deployment of the semantic half of queries/dedupstore.py,
# mirroring streaming_dedup_store_ingest's exact twin): each micro-batch
# of vectors is assigned to the FROZEN offline-trained centroids, flagged
# against the store accumulated from all earlier batches (plus the
# chunk-capped intra-batch pair check), its decisions land in a flags
# store, and its own vectors are upserted as the store's next batch
# slice.  At rest the decisions must equal the batch-global SemDeDup rule
# (dup iff >= tau-similar to ANY lower-id vector of the same cluster)
# because the replay source delivers vectors in vec_id order — batch
# boundaries affect state timing, never the at-rest output.  State is the
# on-disk cid=/batch= store, not executor memory. ---
@query(
    "streaming_semdedup_ingest",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 64 = 0
    ),
    a AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) DESC, c.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN c
        ) WHERE rn = 1
    ),
    dups AS (
        SELECT DISTINCT y.vec_id
        FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
        JOIN embeddings e1 ON e1.vec_id = x.vec_id
        JOIN embeddings e2 ON e2.vec_id = y.vec_id
        WHERE list_aggregate(list_transform(range(1, 65),
                   j -> e1.embedding[j]::DOUBLE * e2.embedding[j]::DOUBLE), 'sum')
               / (sqrt(list_aggregate(list_transform(range(1, 65),
                      j -> e1.embedding[j]::DOUBLE * e1.embedding[j]::DOUBLE), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(1, 65),
                      j -> e2.embedding[j]::DOUBLE * e2.embedding[j]::DOUBLE), 'sum')))
              >= 0.4
    )
    SELECT a.vec_id, d.vec_id IS NOT NULL AS is_dup
    FROM a LEFT JOIN dups d ON d.vec_id = a.vec_id
    ORDER BY a.vec_id
    """,
)
def streaming_semdedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.dedupstore import (
        flag_semdedup_frame,
        init_semdedup_store,
        upsert_semdedup_frame,
    )

    # batch size scales with the corpus (5 boundaries at any sf): the
    # at-rest output is batch-boundary-INVARIANT by contract, so more
    # boundaries only multiply fixed per-micro-batch job overhead — the
    # sf1 sweep measured 200 fixed-size batches at ~8 s of overhead each
    with replay_ingest(
        spark, sf_dir, "embeddings", "vec_id", "store", "flags",
        floor=100, target_batches=5,
    ) as rp:
        store, flags = rp.dirs
        # the frozen coarse quantizer is provisioned BEFORE ingest starts
        # (offline-trained, the IVF contract) — the stream only assigns
        init_semdedup_store(spark, sf_dir, store, seed_pred=F.col("vec_id") % 64 == 0)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # flag FIRST (the batch must not see itself in the store), then
            # upsert this batch's vectors for the next batch; the max_batch
            # fence makes the sink REPLAY-idempotent — a retried micro-batch
            # filters out the slice its failed attempt already upserted
            # (which would otherwise match every vector against itself,
            # cosine = 1 >= tau, and mark the whole batch dup_prior)
            decided = flag_semdedup_frame(batch_df, store, max_batch=int(batch_id) - 1)
            out = decided.select(
                "vec_id",
                (F.col("dup_prior") | F.col("dup_in_batch")).alias("is_dup"),
                F.lit(int(batch_id)).alias("batch"),
            )
            upsert_partitions(out, flags, partition_by=["batch"])
            upsert_semdedup_frame(batch_df, store, batch=int(batch_id))

        _drain(rp.stream.select("vec_id", "embedding"), sink)
        return (
            spark.read.parquet(flags)
            .select("vec_id", "is_dup")
            .orderBy("vec_id")
            .transform(checkpoint_df)
        )


# --- streaming search-index maintenance (the ingest deployment of the
# BM25 postings store, completing the streaming index-maintenance
# quartet: exact dedup store, semantic dedup store, SCD2 state, and now
# the lexical index): each micro-batch of documents contributes its
# postings slice and monoid stats slice; serving at rest from the
# accumulated store must equal the from-scratch BM25 pass — the postings
# partition by batch trivially (each doc posts once) and the collection
# stats merge by exact integer addition, so batch boundaries never show
# in the served ranking (shared bm25_topk oracle). ---
from columnflow_spark.queries.retrieval import BM25_TOPK_ORACLE as _BM25_ORACLE


@query("streaming_postings_ingest", oracle=_BM25_ORACLE)
def streaming_postings_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.retrieval import (
        _BM25_TOPK,
        bm25_totals_from_store,
        upsert_postings_frame,
    )

    with replay_ingest(
        spark, sf_dir, "documents", "doc_id", "store", floor=100, target_batches=5
    ) as rp:
        (store,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            upsert_postings_frame(batch_df, store, batch=int(batch_id))

        _drain(rp.stream.select("doc_id", "text"), sink)
        totals = bm25_totals_from_store(spark, store)
        win = W.partitionBy("query_id").orderBy(F.desc("score_q"), F.asc("doc_id"))
        return (
            totals.withColumn("rk", F.row_number().over(win).cast("int"))
            .filter(F.col("rk") <= _BM25_TOPK)
            .select("query_id", "doc_id", "score_q", "rk")
            .orderBy("query_id", "rk")
            .transform(checkpoint_df)
        )



# --- streaming ANN-index maintenance (the ingest deployment of the
# materialized IVF+PQ index, queries/annindex.py): each micro-batch of
# vectors is assigned to the FROZEN coarse quantizer and encoded with the
# trained PQ codebook (both derive from the static corpus — the IVF
# contract streaming ingest inherits), then upserted as its own
# ``cid=/batch=`` slice.  Searching the store after the stream drains
# must be bit-identical to the one-shot in-session ``ann_ivfpq_topk``
# (shared oracle): the codes are a pure per-vector function, so batch
# boundaries can never show in the ADC ranking. ---
from columnflow_spark.queries.mmdata import IVFPQ_ORACLE as _IVFPQ_ORACLE


@query("streaming_ann_index_ingest", oracle=_IVFPQ_ORACLE)
def streaming_ann_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.annindex import search_ivfpq_index, upsert_index_frame

    with replay_ingest(
        spark, sf_dir, "embeddings", "vec_id", "store", floor=100, target_batches=5
    ) as rp:
        (store,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            upsert_index_frame(spark, sf_dir, batch_df, store, batch=int(batch_id))

        _drain(rp.stream.select("vec_id", "embedding"), sink)
        return search_ivfpq_index(spark, sf_dir, store).transform(checkpoint_df)


# --- streaming PERCEPTUAL dedup ingest (the fifth member of the
# streaming index-maintenance family: exact dedup, semantic dedup,
# postings, ANN index — and now visual dedup): each micro-batch of
# media payloads is fingerprinted, flagged against the block-posting
# store accumulated from ALL earlier batches (plus intra-batch near-dup
# firsts), and its own postings upserted as the next batch slice.  The
# replay source delivers docs in doc_id order, so at rest the decisions
# must equal the batch-global rule "is_dup iff ANY earlier fingerprint
# within Hamming 5" — batch boundaries shift which arm (prior vs
# in-batch) fires, never the union (pigeonhole makes the block index
# exact, so the proof is structural).  State is the on-disk store,
# bounded by fingerprint volume. ---
from columnflow_spark.queries.textdedup import _PH_HAM_MAX as _PH_HAM  # noqa: E402
from columnflow_spark.queries.textdedup import _PHASH_FP_CTES as _PH_CTES  # noqa: E402


@query(
    "streaming_phash_ingest",
    oracle=f"""
    WITH {_PH_CTES.strip()}
    SELECT a.doc_id,
           EXISTS (SELECT 1 FROM fp b WHERE b.doc_id < a.doc_id
                   AND bit_count(xor(a.ph, b.ph)) <= {_PH_HAM}) AS is_dup
    FROM fp a
    ORDER BY a.doc_id
    """,
)
def streaming_phash_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.dedupstore import (
        flag_phash_fp,
        phash_fp_frame,
        upsert_phash_fp,
    )
    from columnflow_spark.queries.textdedup import phash_neardup_pairs

    with replay_ingest(
        spark, sf_dir, "documents", "doc_id", "store", "flags",
        floor=100, target_batches=5,
    ) as rp:
        store, flags = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            # one Arrow fingerprint pass per micro-batch, shared by the flag
            # joins and the upsert
            ph = phash_fp_frame(batch_df).transform(checkpoint_df)
            if is_built(store):
                # max_batch fence: a REPLAYED micro-batch must not see the
                # slice its failed attempt already upserted
                decided = flag_phash_fp(ph, store, max_batch=int(batch_id) - 1)
            else:
                inb = (
                    phash_neardup_pairs(ph)
                    .select(F.col("d2").alias("doc_id"))
                    .distinct()
                    .withColumn("dup_in_batch", F.lit(True))
                )
                decided = (
                    ph.select("doc_id")
                    .join(inb, "doc_id", "left")
                    .select(
                        "doc_id",
                        F.lit(False).alias("dup_prior"),
                        F.coalesce("dup_in_batch", F.lit(False)).alias("dup_in_batch"),
                    )
                )
            out = decided.select(
                "doc_id",
                (F.col("dup_prior") | F.col("dup_in_batch")).alias("is_dup"),
                F.lit(int(batch_id)).alias("batch"),
            )
            upsert_partitions(out, flags, partition_by=["batch"])
            upsert_phash_fp(ph, store, batch=int(batch_id))

        _drain(rp.stream.select("doc_id", "text"), sink)
        return spark.read.parquet(flags).select("doc_id", "is_dup").transform(checkpoint_df)


# --- streaming exact-substring ingest (the SIXTH streaming
# index-maintenance member, after exact, semantic, postings, ANN and
# perceptual): each micro-batch's positional grams are flagged against
# the gram store accumulated from ALL earlier batches (plus within-batch
# firsts), the per-doc run stats land in a flags store, and the batch's
# own gram slice upserts for the next batch.  The replay source delivers
# docs in doc_id order, so "gram seen in an earlier batch or earlier in
# this batch" is exactly "gram occurs at a smaller (doc, pos) key" —
# the at-rest flags equal the batch-global keep-first ExactSubstr runs
# regardless of batch boundaries.  Only the boundary-INVARIANT columns
# (n_runs, dup_tokens over all covered positions) are emitted; the
# prior/in-batch split depends on where boundaries fall and stays a
# per-batch diagnostic.  Replay-fenced: a retried micro-batch flags
# against batches <= batch_id - 1, never its own failed upsert. ---
from columnflow_spark.queries.textdedup import _SSTR_GRAM_CTES as _SSG  # noqa: E402
from columnflow_spark.queries.textdedup import _SSTR_K as _SSK  # noqa: E402


@query(
    "streaming_substring_ingest",
    oracle=f"""
    WITH {_SSG},
    gmin AS MATERIALIZED (SELECT g, min(key) AS mk FROM grams GROUP BY g),
    dup AS (
        SELECT gr.doc_id, gr.p FROM grams gr JOIN gmin USING (g)
        WHERE gr.key > gmin.mk
    ),
    iruns AS (
        SELECT doc_id, p,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rid
        FROM dup
    ),
    r1 AS (
        SELECT doc_id, rid, min(p) AS mn, max(p) AS mx
        FROM iruns GROUP BY doc_id, rid
    ),
    -- interval-UNION coverage: adjacent runs closer than k positions
    -- have overlapping coverage [mn, mx + k - 1]; clamp contributions
    -- past the running max end so the overlap counts once (ADVICE r9,
    -- the substring_cov_rollup form the sink computes)
    contrib AS (
        SELECT doc_id,
               greatest(0, (mx + {_SSK - 1}) - greatest(mn, coalesce(
                   max(mx) OVER (PARTITION BY doc_id ORDER BY mn
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   + {_SSK - 1}, -1) + 1) + 1) AS c_all
        FROM r1
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
           CAST(sum(c_all) AS BIGINT) AS dup_tokens
    FROM contrib GROUP BY doc_id
    """,
)
def streaming_substring_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.dedupstore import (
        batch_only_substring_marked,
        flag_substring_frame,
        substring_cov_rollup,
        upsert_substring_grams,
    )
    from columnflow_spark.queries.textdedup import _SSTR_K, _sstr_grams

    with replay_ingest(spark, sf_dir, "documents", "doc_id", "store", "flags") as rp:
        store, flags = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            bg = _sstr_grams(batch_df, _SSTR_K)
            if is_built(store):
                decided = flag_substring_frame(bg, store, max_batch=int(batch_id) - 1)
            else:
                decided = substring_cov_rollup(batch_only_substring_marked(bg), _SSTR_K)
            out = decided.select(
                "doc_id", "n_runs", "dup_tokens", F.lit(int(batch_id)).alias("batch")
            )
            upsert_partitions(out, flags, partition_by=["batch"])
            upsert_substring_grams(bg, store, batch=int(batch_id))

        _drain(rp.stream.select("doc_id", "text"), sink)
        return (
            spark.read.parquet(flags)
            .select("doc_id", "n_runs", "dup_tokens")
            .transform(checkpoint_df)
        )


# --- streaming unigram tokenization (the unigram twin of
# streaming_bpe_tokenize): the OFFLINE-trained unigram vocab (the same
# artifact contract as the quality gate's logreg weights and the PQ
# codebook) encodes each micro-batch — per batch the DISTINCT words
# segment once through the Arrow integer-Viterbi kernel, the corpus-
# grain pass is explode + broadcast word->ntok join, and the per-lang
# (n_words, n_tokens) partials land as a batch slice.  The lang totals
# are a commutative monoid over the partials, so the at-rest rollup
# shares unigram_encode_corpus's ORACLE — hash equality is the
# streaming-maintenance proof; fertility is computed from the TOTALS at
# read time (a per-batch fert would not be mergeable). ---
from columnflow_spark.queries.tokenlm import _ULM_ENCODE_ORACLE as _ULME  # noqa: E402


def _lang_token_totals(partials: DataFrame) -> DataFrame:
    """At-rest rollup of the tokenizer twins' per-batch (lang, n_words,
    n_tokens) partials, materialized; fertility comes from the totals."""
    return (
        partials.groupBy("lang")
        .agg(
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("n_tokens * 10000 div n_words").alias("fert_q"),
        )
        .orderBy("lang")
        .transform(checkpoint_df)
    )


@query("streaming_unigram_tokenize", oracle=_ULME)
def streaming_unigram_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.tokenlm import _ulm_segment, _ulm_vocab

    sc = {p: s for p, c, s in _ulm_vocab(spark, sf_dir)}  # offline artifact
    with replay_ingest(spark, sf_dir, "documents", "doc_id", "flags") as rp:
        (flags,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            words = batch_df.select(
                "lang",
                F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w"),
            )
            wtok = _ulm_segment(
                words.select("w").distinct().withColumn("cnt", F.lit(1)), sc
            ).select("w", F.size("pieces").alias("ntok"))
            out = (
                words.join(F.broadcast(wtok), "w")
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("n_words"),
                    F.sum("ntok").alias("n_tokens"),
                )
                .withColumn("batch", F.lit(int(batch_id)))
            )
            upsert_partitions(out, flags, partition_by=["batch"])

        _drain(rp.stream.select("lang", "text"), sink)
        return _lang_token_totals(spark.read.parquet(flags))


# --- streaming ingest WITH deletion propagation (round 9 — the CDC
# shape): production crawl ingest interleaves upserts with
# right-to-be-forgotten requests, and both must flow through the SAME
# maintained store without a rebuild.  Each micro-batch (1) flags its
# docs against the store accumulated from all earlier batches — whose
# deletes are already applied, the count monoid nets them out — plus the
# batch's own SURVIVING lower-id members, (2) upserts its fingerprints
# as slice 2b, (3) applies its delete requests (here: the batch's
# ``doc_id % 7 == 3`` members — requests trail content) as NEGATIVE
# slice 2b+1.  The decision rule "duplicate of a surviving lower-id
# doc" is a pure function of (doc order, delete set) — batch boundaries
# never show (an earlier near-copy that was deleted does NOT flag,
# whether it arrived in this batch or ten batches ago), which is what
# the oracle's surviving-prior window replays.  Replay-fenced at
# ``max_batch = 2b - 1``. ---
@query(
    "streaming_dedup_cdc_ingest",
    oracle="""
    WITH fp AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint,
               (doc_id % 7 = 3) AS del
        FROM documents
    )
    SELECT doc_id,
           coalesce(min(CASE WHEN NOT del THEN doc_id END) OVER (
               PARTITION BY fingerprint ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
           ) < doc_id, FALSE) AS is_dup
    FROM fp
    ORDER BY doc_id
    """,
)
def streaming_dedup_cdc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.dedupstore import (
        doc_fingerprints,
        flag_fingerprints_against_store,
        upsert_fingerprints,
    )

    with replay_ingest(spark, sf_dir, "documents", "doc_id", "store", "flags") as rp:
        store, flags = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            b = int(batch_id)
            fp = doc_fingerprints(batch_df).withColumn(
                "del", F.col("doc_id") % 7 == 3
            )
            # within-batch rule: duplicate of a SURVIVING lower-id member
            min_surv = F.min(F.when(~F.col("del"), F.col("doc_id"))).over(
                W.partitionBy("fingerprint")
            )
            if is_built(store):
                prior = flag_fingerprints_against_store(
                    fp, store, max_batch=2 * b - 1
                ).select("doc_id", "dup_prior")
            else:
                prior = fp.select("doc_id", F.lit(False).alias("dup_prior"))
            # coalesce: a fingerprint with NO surviving batch member yields a
            # NULL min, and NULL < doc_id must read as "no surviving earlier
            # holder", not propagate into the flag
            inb = fp.select(
                "doc_id",
                F.coalesce(min_surv < F.col("doc_id"), F.lit(False)).alias(
                    "dup_in_batch"
                ),
            )
            out = (
                prior.join(inb, "doc_id")
                .select(
                    "doc_id",
                    (F.col("dup_prior") | F.col("dup_in_batch")).alias("is_dup"),
                    F.lit(b).alias("batch"),
                )
            )
            upsert_partitions(out, flags, partition_by=["batch"])
            # upsert slice 2b, then the batch's delete requests as negative
            # slice 2b+1 — both idempotent per id, so a replayed batch
            # overwrites exactly its own two slices
            upsert_fingerprints(fp, store, batch=2 * b)
            neg = (
                fp.filter("del")
                .groupBy("band", "fingerprint")
                .agg(
                    F.min("doc_id").alias("first_doc"),
                    (-F.count(F.lit(1))).cast("long").alias("cnt"),
                )
                .withColumn("batch", F.lit(2 * b + 1))
            )
            upsert_partitions(neg, store, partition_by=["band", "batch"])

        _drain(rp.stream.select("doc_id", "text"), sink)
        return (
            spark.read.parquet(flags)
            .select("doc_id", "is_dup")
            .orderBy("doc_id")
            .transform(checkpoint_df)
        )


# --- streaming WordPiece tokenization (round 9 — the third member of
# the streaming tokenizer-deployment family next to BPE and unigram):
# the OFFLINE-trained WordPiece vocab encodes each micro-batch — per
# batch the DISTINCT words segment once through the greedy
# longest-match Arrow kernel, the corpus-grain pass is explode +
# broadcast word->ntok join, and the per-lang (n_words, n_tokens)
# partials land as a batch slice.  The lang totals are a commutative
# monoid over the partials, so the at-rest rollup shares
# wordpiece_encode_corpus's ORACLE — hash equality is the
# streaming-maintenance proof. ---
from columnflow_spark.queries.tokenlm import _WP_ENCODE_ORACLE as _WPE  # noqa: E402


@query("streaming_wordpiece_tokenize", oracle=_WPE)
def streaming_wordpiece_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.tokenlm import (
        _WP_ROUNDS,
        _wp_greedy_ntok,
        _wp_vocab_set,
    )

    vocab = _wp_vocab_set(spark, sf_dir)  # offline artifact
    maxlen = _WP_ROUNDS + 1

    def run(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "ntok": [
                        _wp_greedy_ntok(
                            w.replace("<", "").replace(">", ""), vocab, maxlen
                        )
                        for w in pdf["w"]
                    ],
                }
            )

    with replay_ingest(spark, sf_dir, "documents", "doc_id", "flags") as rp:
        (flags,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            words = batch_df.select(
                "lang",
                F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w"),
            )
            # drop words that clean to empty (the training-side rule) —
            # they carry no tokens on either engine
            words = words.filter(
                F.length(F.replace(F.replace(F.col("w"), F.lit("<"), F.lit("")),
                                   F.lit(">"), F.lit(""))) > 0
            )
            wtok = (
                words.select("w").distinct().mapInPandas(run, schema="w string, ntok int")
            )
            out = (
                words.join(F.broadcast(wtok), "w")
                .groupBy("lang")
                .agg(
                    F.count(F.lit(1)).alias("n_words"),
                    F.sum("ntok").alias("n_tokens"),
                )
                .withColumn("batch", F.lit(int(batch_id)))
            )
            upsert_partitions(out, flags, partition_by=["batch"])

        _drain(rp.stream.select("lang", "text"), sink)
        return _lang_token_totals(spark.read.parquet(flags))


# --- streaming segment-count ingest (the boilerplate twin of the
# index-maintenance family): the crawl history replays through
# micro-batches, each upserting its DISTINCT (doc, segment) holder
# counts into the count-monoid store; at rest the arriving batch is
# rewritten against the accumulated counts by the SAME serve path —
# and shares segment_incremental_store's oracle, so hash equality
# proves the streamed store is bit-equal to the batch-built one.
# Micro-batch boundaries cannot matter by construction: the store is a
# sum over per-batch count slices.
from columnflow_spark.queries.dedupstore import _segment_store_oracle


@query("streaming_segment_ingest", oracle=_segment_store_oracle())
def streaming_segment_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.dedupstore import (
        _N_BANDS,
        _history_cutoff,
        segment_store_serve,
        upsert_fingerprints,
    )
    from columnflow_spark.queries.textdedup import segment_docs

    h = _history_cutoff(spark, sf_dir)
    with replay_ingest(spark, sf_dir, "documents", "doc_id", "store") as rp:
        (store,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            fp = (
                segment_docs(batch_df)
                .select("doc_id", F.col("seg_text").alias("fingerprint"))
                .distinct()
                .withColumn("band", F.pmod(F.hash("fingerprint"), F.lit(_N_BANDS)))
            )
            upsert_fingerprints(fp, store, batch=int(batch_id))

        _drain(rp.stream.select("doc_id", "text").filter(F.col("doc_id") < h), sink)
        return segment_store_serve(spark, sf_dir, store).transform(checkpoint_df)


# --- streaming KMV distinct-count maintenance: each micro-batch
# persists only its own bottom-k per group (the sketch slice is
# |types| x k rows regardless of batch size); the at-rest merge is the
# group sketch and shares kmv_distinct_sketch's oracle — hash equality
# proves the streamed sketch equals the from-scratch one.  Batch
# boundaries cannot matter: bottom-k of per-batch bottom-ks IS the
# bottom-k of the union (the mergeable-summary property).
from columnflow_spark.queries.timeseries import _KMV_SKETCH_CTES as _KMV_CTES_S


@query(
    "streaming_kmv_ingest",
    oracle=f"""
    WITH {_KMV_CTES_S}
    SELECT event_type, k_used, h_k, est_q FROM est ORDER BY event_type
    """,
)
def streaming_kmv_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.timeseries import (
        _kmv_batch_sketch,
        kmv_store_serve,
    )

    with replay_ingest(spark, sf_dir, "events", "event_id", "store") as rp:
        (store,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            rows = _kmv_batch_sketch(batch_df).withColumn("batch", F.lit(int(batch_id)))
            upsert_partitions(rows, store, partition_by=["batch"])

        _drain(rp.stream.select("event_type", "user_id"), sink)
        return kmv_store_serve(spark, store).transform(checkpoint_df)


from columnflow_spark.queries.timeseries import _QSK_SKETCH_CTES as _QSK_CTES_S


@query(
    "streaming_quantile_ingest",
    oracle=f"""
    WITH {_QSK_CTES_S}
    SELECT event_type, k_used, p50_q, p90_q, p99_q FROM qest ORDER BY event_type
    """,
)
def streaming_quantile_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of the mergeable quantile sketch: each micro-batch
    persists its own bottom-k slice (the at-rest store a long-running
    ingest maintains); the merged serve equals the one-shot batch sketch
    under the shared oracle — batch-boundary invariance is the sketch's
    merge property, not a property of the replay cut points."""
    from columnflow_spark.queries.timeseries import (
        _qsk_batch_sample,
        qsk_store_serve,
    )

    with replay_ingest(spark, sf_dir, "events", "event_id", "store") as rp:
        (store,) = rp.dirs

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            rows = _qsk_batch_sample(batch_df).withColumn("batch", F.lit(int(batch_id)))
            upsert_partitions(rows, store, partition_by=["batch"])

        _drain(rp.stream.select("event_id", "event_type", "value"), sink)
        return qsk_store_serve(spark, store).transform(checkpoint_df)


# --- streaming graph-ANN ingest (the 11th streaming index-maintenance
# member — every other index family has its streaming twin; the
# DiskANN-shape graph gets one here): late vectors arrive as replay
# micro-batches over a BUILT base page store; each batch runs insert
# beams over the base slice, repairs the touched neighborhoods, and
# upserts its pages as the next batch slice (anngraph.ingest_graph_batch
# — fenced at its own batch id for replay idempotence).  At rest the
# store equals the one-shot batch insert (the recap sequential-
# consistency argument in anngraph.py), so the serve shares
# ann_graph_insert_topk's oracle verbatim. ---
from columnflow_spark.queries.anngraph import _GRAPH_INSERT_ORACLE  # noqa: E402


@query("streaming_graph_ann_ingest", oracle=_GRAPH_INSERT_ORACLE)
def streaming_graph_ann_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.anngraph import (
        _final_topk,
        _graph_beam,
        _base_node_pred,
        _insert_pred,
        _query_vectors,
        build_graph_index,
        ingest_graph_batch,
        store_page_fetcher,
    )

    # ~8 target batches: each micro-batch pays a full insert-beam round
    # trip, and at-rest equality is batch-size-invariant
    with replay_ingest(
        spark, sf_dir, "embeddings", "vec_id", "store", target_batches=8
    ) as rp:
        (store,) = rp.dirs
        build_graph_index(spark, sf_dir, store, node_pred=_base_node_pred, tag="base")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            ingest_graph_batch(spark, batch_df, store, int(batch_id))

        _drain(rp.stream.filter(_insert_pred()).select("vec_id", "embedding"), sink)
        qv = _query_vectors(spark, sf_dir)
        return _final_topk(
            _graph_beam(spark, qv, store_page_fetcher(spark, store))
        ).transform(checkpoint_df)


# --- streaming graph-ANN CDC (the 12th member): one replay stream
# carries BOTH late-vector inserts (vec_id % 20 = 11) and delete
# requests for base vectors (vec_id % 50 = 3 — disjoint from the insert
# set by CRT) — the change-data-capture shape of a live vector store.
# Inserts run the fenced beam+repair ingest; deletes land as the
# batch's own tombstone slice (idempotent per batch id).  Tombstoned
# nodes keep ROUTING (the DiskANN delete semantics — the insert beams
# may legitimately link through them) and are excluded only at the
# final ranking, so the at-rest serve equals the batch insert chain
# with the final tombstone exclusion: the shared oracle is
# _graph_insert_oracle(' AND vec_id % 50 <> 3').  Physical purge stays
# the vacuum's job (compact_graph_index). ---
from columnflow_spark.queries.anngraph import _graph_insert_oracle  # noqa: E402


@contextmanager
def _graph_cdc_store(spark: SparkSession, sf_dir: str) -> Iterator[str]:
    """Run the CDC ingest (base build + streamed inserts with repair +
    per-batch tombstone slices) into a fresh scratch store and yield it;
    shared by the logical-delete serve and the vacuum lifecycle twin."""
    from columnflow_spark.queries.anngraph import (
        _base_node_pred,
        _insert_pred,
        build_graph_index,
        ingest_graph_batch,
    )
    from columnflow_spark.sources.sinks import upsert_tombstones

    with replay_ingest(
        spark, sf_dir, "embeddings", "vec_id", "store", target_batches=8
    ) as rp:
        (store,) = rp.dirs
        build_graph_index(spark, sf_dir, store, node_pred=_base_node_pred, tag="base")

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            b = int(batch_id)
            ingest_graph_batch(spark, batch_df.filter(_insert_pred()), store, b)
            dels = batch_df.filter(F.col("vec_id") % 50 == 3).select("vec_id")
            if not dels.isEmpty():
                # the batch's delete requests as its OWN tombstone slice —
                # a replayed batch overwrites exactly its slice (idempotent)
                upsert_tombstones(dels, store, batch=b, id_col="vec_id")

        _drain(
            rp.stream.filter(_insert_pred() | (F.col("vec_id") % 50 == 3)).select(
                "vec_id", "embedding"
            ),
            sink,
        )
        yield store


@query(
    "streaming_graph_ann_cdc",
    oracle=_graph_insert_oracle(" AND vec_id % 50 <> 3"),
)
def streaming_graph_ann_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.queries.anngraph import (
        _final_topk,
        _graph_beam,
        _query_vectors,
        store_page_fetcher,
    )

    with _graph_cdc_store(spark, sf_dir) as store:
        qv = _query_vectors(spark, sf_dir)
        visited = _graph_beam(spark, qv, store_page_fetcher(spark, store))
        return _final_topk(visited, tombstone_path=store).transform(checkpoint_df)


def _graph_cdc_vacuum_oracle() -> str:
    """base build → insert beams → repair (uadj) → DELETE-repair
    (vadj over uadj) → serve beams with purged entry routing — the full
    lifecycle as ONE replayable chain."""
    from columnflow_spark.queries.anngraph import (
        _G_DELETE_MOD,
        _G_DELETE_REM,
        _G_ENTRY_MOD,
        _G_INSERT_MOD,
        _G_INSERT_REM,
        _GRAPH_INSERT_REPAIR_CTES,
        _g_beam_ctes,
        _g_build_ctes,
        _g_final_sql,
        _g_repair_ctes,
    )

    return (
        "WITH "
        + _g_build_ctes(where=f"WHERE vec_id % {_G_INSERT_MOD} <> {_G_INSERT_REM}")
        + ","
        + _g_beam_ctes(pfx="i", qv_where=f"vec_id % {_G_INSERT_MOD} = {_G_INSERT_REM}")
        + _GRAPH_INSERT_REPAIR_CTES
        + _g_repair_ctes(adj_rel="uadj")
        + ","
        + _g_beam_ctes(
            pfx="z",
            adj_rel="vadj",
            seed_where=(
                f"vec_id % {_G_ENTRY_MOD} = 0 "
                f"AND vec_id % {_G_DELETE_MOD} <> {_G_DELETE_REM}"
            ),
        )
        + _g_final_sql(pfx="z")
    )


@query("streaming_graph_ann_cdc_vacuum", oracle=_graph_cdc_vacuum_oracle())
def streaming_graph_ann_cdc_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL store lifecycle in one pinned chain: base build →
    streamed inserts (beam + repair) with in-stream deletes → physical
    vacuum (compact_graph_index: delete-repair + slice fold + sidecar
    purge + tombstone clear) → serve over the repaired graph.  The
    oracle replays every stage; deleted vectors neither route nor
    surface after the vacuum (compare ``streaming_graph_ann_cdc`` where
    they still route)."""
    from columnflow_spark.queries.anngraph import (
        _final_topk,
        _graph_beam,
        _query_vectors,
        compact_graph_index,
        store_page_fetcher,
    )

    with _graph_cdc_store(spark, sf_dir) as store:
        compact_graph_index(spark, store)
        qv = _query_vectors(spark, sf_dir)
        visited = _graph_beam(spark, qv, store_page_fetcher(spark, store))
        return _final_topk(visited).transform(checkpoint_df)


# --- streaming incremental connected components (the 13th member):
# exact CC maintenance over an edge stream — the clustering half of
# incremental dedup (near-dup pairs arrive forever; cluster ids must
# stay queryable without re-solving the graph).  Workload: the sparse
# bipartite graph (order, part) from high-quantity lineitems — each
# ROW is one self-contained edge, so the stream decomposes into
# micro-batches with no cross-batch pair computation.
#
# State is a (node, label, gb=hash(label), batch) store with the
# LIVE-LABEL invariant: labels only die (a merge absorbs the larger
# root into the smaller, and a dead label can never be reborn — new
# nodes enter with their own never-before-seen id), therefore every
# stored row whose label is still live IS current, and the per-batch
# relabel read is a label-pruned partition read, never a latest-wins
# window over the store.  Per batch: resolve the batch endpoints'
# current labels IN-PLAN (semi-joined store read — distributed), reduce
# the batch to LABEL-LEVEL edges (bounded by components touched, never
# raw pair count), and solve with the shared components_from_edges —
# driver union-find below _CC_DRIVER_MAX_EDGES, the distributed
# min-label loop above it (or under SPARK_GRAFT_CC_DISTRIBUTED=1) —
# then rewrite exactly the members of the absorbed labels as the next
# slice.  Min-merge is CONFLUENT, so any batch boundary lands the same
# fixpoint: final label = min node id of the component, which is
# exactly the batch oracle's recursive min-reachability — shared
# compare semantics, rows replay-fenced at batch <= b.  No collect in
# the sink is corpus-proportional: the only raw collects are the
# absorbed labels' gb= bucket ids (≤ _SCC_GB, a constant).
_SCC_PART_OFF = 1_000_000_000  # part node ids (disjoint from orders)
_SCC_QTY_MIN = 49  # sparsity predicate: ~4% of lineitems become edges
#: LEGACY/default gb= bucket count for the CC stores — the read-side
#: fallback for stores created before the ``_GB`` metadata file existed.
#: New stores derive the modulus from corpus size at creation
#: (:func:`_derive_scc_gb`) and record it (:func:`_write_scc_gb`), so
#: label-pruned reads stay ~O(touched components), not a constant 1/16
#: of the store (r13 — the VERDICT r12 constant-fraction-prune nit;
#: guide §2: scale-adaptive partitioning, not a constant tuned for one
#: scale).
_SCC_GB = 16
#: target node rows per gb= bucket at CC-store creation
_SCC_GB_TARGET_ROWS = 65536


def _derive_scc_gb(n_rows: int) -> int:
    """Corpus-scaled power-of-two gb= modulus (floor ``_SCC_GB``, cap
    2^20): ~``_SCC_GB_TARGET_ROWS`` node rows per bucket."""
    b = _SCC_GB
    while b * _SCC_GB_TARGET_ROWS < n_rows and b < (1 << 20):
        b *= 2
    return b


def _write_scc_gb(store: str, gb: int) -> None:
    """Record the store's gb= modulus as the ``_GB`` metadata file —
    written once at store creation; every later read/write uses it."""
    os.makedirs(store, exist_ok=True)
    with open(os.path.join(store, "_GB"), "w") as f:
        f.write(f"{int(gb)}\n")


def _read_scc_gb(store: str) -> int:
    """The store's recorded gb= modulus; pre-metadata stores fall back
    to the legacy constant they were written with."""
    try:
        with open(os.path.join(store, "_GB")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return _SCC_GB


@query(
    "streaming_connected_components",
    oracle=f"""
    WITH RECURSIVE
    e AS (
        SELECT DISTINCT l_orderkey AS a, l_partkey + {_SCC_PART_OFF} AS b
        FROM lineitem WHERE l_quantity >= {_SCC_QTY_MIN}
    ),
    sym AS (SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e),
    nodes AS (SELECT DISTINCT s AS n FROM sym),
    reach AS (
        SELECT n AS src, n AS node FROM nodes
        UNION
        SELECT r.src, sym.t AS node FROM reach r JOIN sym ON sym.s = r.node
    ),
    comp AS (SELECT src, min(node) AS c FROM reach GROUP BY src)
    SELECT o.o_orderkey AS order_id,
           CAST(coalesce(c.c, o.o_orderkey) AS BIGINT) AS component
    FROM orders o LEFT JOIN comp c ON c.src = o.o_orderkey
    ORDER BY order_id
    """,
)
def streaming_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.sources import load_table

    wrote = {"any": False}
    with replay_ingest(
        spark, sf_dir, "lineitem", "l_orderkey", "store", target_batches=8
    ) as rp:
        (store,) = rp.dirs
        # scale-adaptive bucket modulus, recorded at store creation (r13)
        _write_scc_gb(store, _derive_scc_gb(rp.rows))
        scc_gb = _read_scc_gb(store)

        def sink(batch_df: DataFrame, batch_id: int) -> None:
            from columnflow_spark.queries.textdedup import components_from_edges

            b = int(batch_id)
            pairs = batch_df.select("a", "b").distinct().transform(checkpoint_df)
            if pairs.isEmpty():
                return
            nodes = (
                pairs.select(F.col("a").alias("node"))
                .union(pairs.select(F.col("b").alias("node")))
                .distinct()
            )
            if wrote["any"]:
                # latest-wins per node, resolved IN-PLAN: a relabeled node
                # keeps its stale rows (only the LABEL-pruned member read
                # can skip the window; a NODE-keyed lookup cannot) — the
                # window runs over the semi-joined (batch-bounded) rows,
                # never the store
                wn = W.partitionBy("node").orderBy(F.desc("batch"))
                cur = (
                    spark.read.parquet(store)
                    .filter(F.col("batch") <= b)  # replay fence
                    .join(nodes, "node", "left_semi")
                    .withColumn("_rn", F.row_number().over(wn))
                    .filter(F.col("_rn") == 1)
                    .select("node", "label")
                )
            else:
                cur = local_frame(spark, [], "node long, label long")
            cur = cur.transform(checkpoint_df)
            # LABEL-level edges: resolve both endpoints to their current
            # labels distributed, keep only cross-component pairs — bounded
            # by components touched, never by raw batch pair count
            lab_edges = (
                pairs.join(
                    cur.select(F.col("node").alias("a"), F.col("label").alias("la")),
                    "a",
                    "left",
                )
                .join(
                    cur.select(F.col("node").alias("b"), F.col("label").alias("lb")),
                    "b",
                    "left",
                )
                .select(
                    F.coalesce("la", F.col("a")).alias("x"),
                    F.coalesce("lb", F.col("b")).alias("y"),
                )
                .filter(F.col("x") != F.col("y"))
                .select(F.least("x", "y").alias("d1"), F.greatest("x", "y").alias("d2"))
                .distinct()
                .transform(checkpoint_df)
            )
            touched = (
                lab_edges.select(F.col("d1").alias("doc_id"))
                .union(lab_edges.select(F.col("d2").alias("doc_id")))
                .distinct()
            )
            # shared solve: driver union-find below _CC_DRIVER_MAX_EDGES,
            # distributed min-label loop above it (the batch precedent)
            rootmap = (
                components_from_edges(touched, lab_edges)
                .select(F.col("doc_id").alias("label"), F.col("component").alias("root"))
                .transform(checkpoint_df)
            )
            amap = rootmap.filter(F.col("root") != F.col("label"))
            new_rows = (
                nodes.join(cur, "node", "left_anti")
                .join(
                    amap.select(F.col("label").alias("node"), "root"), "node", "left"
                )
                .select("node", F.coalesce("root", F.col("node")).alias("label"))
            )
            out = new_rows
            if wrote["any"] and not amap.isEmpty():
                gbs = sorted(
                    {r.gb for r in amap.select(
                        F.pmod(F.xxhash64("label"), F.lit(scc_gb)).alias("gb")
                    ).distinct().collect()}
                )  # bounded: ≤ touched components' bucket ids
                # LIVE-LABEL invariant: every row under an absorbed (still-
                # live) label is current — a label-pruned partition read,
                # no window over the store
                members = (
                    spark.read.parquet(store)
                    .filter(F.col("batch") <= b)
                    .filter(F.col("gb").isin(gbs))
                    .join(amap, "label")
                    .select("node", F.col("root").alias("label"))
                )
                out = out.unionByName(members)
            rows = out.select(
                "node",
                "label",
                F.pmod(F.xxhash64("label"), F.lit(scc_gb)).alias("gb"),
                F.lit(b + 1).alias("batch"),
            )
            upsert_partitions(rows, store, partition_by=["gb", "batch"])
            wrote["any"] = True

        _drain(
            rp.stream.filter(F.col("l_quantity") >= _SCC_QTY_MIN).select(
                F.col("l_orderkey").alias("a"),
                (F.col("l_partkey") + _SCC_PART_OFF).alias("b"),
            ),
            sink,
        )
        orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey"])
        w = W.partitionBy("node").orderBy(F.desc("batch"))
        labels = (
            spark.read.parquet(store)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(F.col("node").alias("o_orderkey"), "label")
        )
        return (
            orders.join(labels, "o_orderkey", "left")
            .select(
                F.col("o_orderkey").alias("order_id"),
                F.coalesce("label", "o_orderkey").cast("long").alias("component"),
            )
            .orderBy("order_id")
            .transform(checkpoint_df)
        )
