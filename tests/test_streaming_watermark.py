"""Watermark semantics: late-row drop, window finalization, state expiry.

Crafted parquet tables replayed through the deterministic events_replay
source (sources/pydatasource.py) with controlled micro-batch boundaries,
so lateness relative to the watermark is exact and repeatable.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from columnflow_spark.queries.streaming import (
    _run_to_memory,
    neardup_simhash_bounded,
    tumbling_counts_append,
)

T0 = 1704067200_000_000  # 2024-01-01T00:00:00Z in micros


def _ts(minutes: float) -> int:
    return T0 + int(minutes * 60_000_000)


def _write_events(path, rows):
    """rows: (event_id, ts_micros, event_type)."""
    pq.write_table(
        pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "event_type": pa.array([r[2] for r in rows]),
        }),
        path,
    )


def _replay(spark, path, batch_rows, order_col="event_id"):
    from columnflow_spark.sources.pydatasource import register

    register(spark)
    return (
        spark.readStream.format("events_replay")
        .option("path", path)
        .option("batch_rows", str(batch_rows))
        .option("order_col", order_col)
        .load()
    )


def _tumbling(spark, path, watermark="10 minutes"):
    """Run the append pipeline one row per micro-batch; returns
    ({(start-minute, type): n}, total rows dropped by the watermark)."""
    import uuid

    ev = _replay(spark, path, batch_rows=1)
    agg = tumbling_counts_append(ev, window="1 hour", watermark=watermark)
    name = f"wm_{uuid.uuid4().hex[:8]}"
    q = agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    try:
        rows = spark.table(name).collect()
    finally:
        spark.catalog.dropTempView(name)
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    out = {
        (r.window.start.minute + 60 * r.window.start.hour, r.event_type): r.n
        for r in rows
    }
    return out, dropped


def test_append_drops_late_rows_and_finalizes(spark, tmp_path):
    # one row per micro-batch; watermark delay 10 min.  Spark merges a
    # late row into its window as long as that window's state is still
    # open (merge-then-evict), so the DROP case needs the window already
    # finalized: after the 02:30 batch the watermark is 01:30 and window
    # A (00:00-01:00) has been emitted — the 00:15 straggler in the next
    # batch hits closed state and is dropped by the watermark
    late = str(tmp_path / "late.parquet")
    _write_events(late, [
        (0, _ts(5), "click"),
        (1, _ts(10), "click"),
        (2, _ts(100), "view"),
        (3, _ts(150), "view"),   # wm -> 01:30 at next batch: A finalized
        (4, _ts(15), "click"),   # late: window A already closed -> DROPPED
        (5, _ts(210), "view"),   # wm -> 03:20: finalizes windows B and C
    ])
    got, dropped = _tumbling(spark, late)
    assert dropped == 1
    assert got == {(0, "click"): 2, (60, "view"): 1, (120, "view"): 1}

    # control: the same stream WITHOUT the late row produces the
    # identical finalized output — the ONLY effect of row 4 was its drop
    ontime = str(tmp_path / "ontime.parquet")
    _write_events(ontime, [
        (0, _ts(5), "click"),
        (1, _ts(10), "click"),
        (2, _ts(100), "view"),
        (3, _ts(150), "view"),
        (5, _ts(210), "view"),
    ])
    got2, dropped2 = _tumbling(spark, ontime)
    assert (got2, dropped2) == (got, 0)


def test_append_counts_out_of_order_rows_in_open_windows(spark, tmp_path):
    # an out-of-order row whose window is still open (inside the
    # watermark delay) is NOT late: it merges into the pending window
    # before finalization
    path = str(tmp_path / "inwindow.parquet")
    _write_events(path, [
        (0, _ts(5), "click"),
        (1, _ts(10), "click"),
        (2, _ts(100), "view"),
        (3, _ts(150), "view"),
        (4, _ts(110), "view"),   # out of order, window 01:00 still open
        (5, _ts(210), "view"),
    ])
    got, dropped = _tumbling(spark, path, watermark="45 minutes")
    assert dropped == 0
    assert got[(60, "view")] == 2


# ---------- bounded-state near-dup ----------

_TEXT_A = (
    "spark table scan fast join merge window batch value key row group "
    "sort hash stream line part data query filter"
)
# one word changed: simhash hamming distance 5 (<= 6 threshold)
_TEXT_A2 = (
    "column table scan fast join merge window batch value key row group "
    "sort hash stream line part data query filter"
)
_TEXT_B = "dup group order sort hash stream line part data query filter big"


def _write_docs(path, rows):
    """rows: (doc_id, ts_micros, text)."""
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us", tz="UTC")),
            "text": pa.array([r[2] for r in rows]),
        }),
        path,
    )


def _neardup(spark, path, horizon_minutes):
    stream = _replay(spark, path, batch_rows=1, order_col="doc_id")
    flagged = neardup_simhash_bounded(
        stream,
        horizon_ms=horizon_minutes * 60_000,
        watermark="1 second",
    )
    out = _run_to_memory(flagged, spark, mode="update")
    return {
        r.doc_id: r.is_dup
        for r in out.groupBy("doc_id").agg(F.max("dup_local").alias("is_dup")).collect()
    }


def test_neardup_within_horizon_flags(spark, tmp_path):
    path = str(tmp_path / "docs1.parquet")
    _write_docs(path, [
        (0, _ts(0), _TEXT_A),
        (1, _ts(5), _TEXT_B),
        (2, _ts(10), _TEXT_A2),  # 10 min after A, horizon 30 min: dup
    ])
    got = _neardup(spark, path, horizon_minutes=30)
    assert got == {0: False, 1: False, 2: True}


def test_neardup_after_horizon_forgets(spark, tmp_path):
    # the SAME near-dup text arriving beyond the horizon is NOT flagged:
    # A's fingerprint aged out of state (the sliding-window contract)
    path = str(tmp_path / "docs2.parquet")
    _write_docs(path, [
        (0, _ts(0), _TEXT_A),
        (1, _ts(5), _TEXT_B),
        (2, _ts(180), _TEXT_A2),  # 3 h after A, horizon 30 min: forgotten
    ])
    got = _neardup(spark, path, horizon_minutes=30)
    assert got == {0: False, 1: False, 2: False}


def test_neardup_quiet_bucket_state_expires(spark, tmp_path):
    # a bucket that goes quiet is removed by the event-time timeout while
    # OTHER buckets keep streaming: after expiry, A2 sees no prior state
    # at all (not even an aged entry to filter) and B2 still matches B
    # inside its horizon — expiry is per bucket, not global
    path = str(tmp_path / "docs3.parquet")
    _write_docs(path, [
        (0, _ts(0), _TEXT_A),
        (1, _ts(100), _TEXT_B),
        (2, _ts(110), _TEXT_B),      # dup of B within horizon
        (3, _ts(120), _TEXT_A2),     # A aged out 90 min ago: clean
    ])
    got = _neardup(spark, path, horizon_minutes=30)
    assert got == {0: False, 1: False, 2: True, 3: False}


def test_registry_bounded_matches_unbounded_at_rest(spark, sf_dir):
    from columnflow_spark.queries import all_queries

    q = all_queries()
    bounded = {
        r.doc_id: r.is_dup
        for r in q["streaming_neardup_bounded_state"](spark, sf_dir).collect()
    }
    unbounded = {
        r.doc_id: r.is_dup
        for r in q["streaming_neardup_simhash"](spark, sf_dir).collect()
    }
    assert bounded == unbounded


# ---------- foreachBatch partitioned-store sink ----------

def test_stream_to_partitioned_store_end_to_end(spark, tmp_path):
    from columnflow_spark.queries.streaming import stream_to_partitioned_store

    src = str(tmp_path / "ev.parquet")
    _write_events(src, [
        (0, _ts(1), "click"),
        (1, _ts(2), "view"),
        (2, _ts(3), "click"),
        (3, _ts(4), "view"),
    ])
    store = str(tmp_path / "store")
    stream_to_partitioned_store(
        _replay(spark, src, batch_rows=2), store, partition_by=["event_type"]
    )
    import os

    # hive layout: event_type=<t>/batch=<n>/
    types = sorted(d for d in os.listdir(store) if d.startswith("event_type="))
    assert types == ["event_type=click", "event_type=view"]
    assert any(
        d.startswith("batch=") for d in os.listdir(os.path.join(store, types[0]))
    )

    # pruned read-back: the event_type predicate must be a planning-time
    # PartitionFilter, not a post-scan filter
    df = spark.read.parquet(store).filter("event_type = 'click'").select("event_id")
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("event_type" in l for l in pf), plan
    assert {r.event_id for r in df.collect()} == {0, 2}

    # replaying the SAME stream regenerates the same batch ids and
    # replaces its own partitions: idempotent, no duplication
    n_before = spark.read.parquet(store).count()
    stream_to_partitioned_store(
        _replay(spark, src, batch_rows=2), store, partition_by=["event_type"]
    )
    assert spark.read.parquet(store).count() == n_before == 4


def test_neardup_out_of_order_row_sees_own_horizon(spark, tmp_path):
    # regression (ADVICE r4): state used to be age-pruned with the batch
    # MAX timestamp BEFORE scoring, so an out-of-order row inside the
    # batch lost matches aged between its own cutoff and the batch
    # cutoff.  Here doc 2 (t=20min) arrives in the same micro-batch as
    # doc 3 (t=100min, horizon 30min -> batch cutoff 70min): A at t=0 is
    # outside the batch cutoff but INSIDE doc 2's own horizon, so doc 2
    # must still be flagged.
    path = str(tmp_path / "docs_ooo.parquet")
    _write_docs(path, [
        (0, _ts(0), _TEXT_A),
        (1, _ts(1), _TEXT_B),
        (2, _ts(20), _TEXT_A2),  # in-horizon dup of A, out-of-order in batch
        # doc 3 repeats A verbatim: identical simhash -> it occupies every
        # bucket A seeded, so the batch cutoff rises past A in ALL of
        # doc 2's candidate buckets (no private bucket can leak a match)
        (3, _ts(100), _TEXT_A),
    ])
    stream = _replay(spark, path, batch_rows=2, order_col="doc_id")
    flagged = neardup_simhash_bounded(
        stream, horizon_ms=30 * 60_000, watermark="1 second"
    )
    out = _run_to_memory(flagged, spark, mode="update")
    got = {
        r.doc_id: r.is_dup
        for r in out.groupBy("doc_id").agg(F.max("dup_local").alias("is_dup")).collect()
    }
    assert got == {0: False, 1: False, 2: True, 3: False}


def test_streaming_learned_gate_matches_batch_stage6_filter(spark, sf_dir):
    # the streaming ingest gate must keep EXACTLY the docs the batch
    # funnel's stage-6 expression keeps (shared weights + threshold
    # artifact) — compared at rest per source
    from columnflow_spark.queries import all_queries
    from columnflow_spark.queries.quality import tf_gate_score_expr, tf_learned_gate
    from columnflow_spark.sources import load_table

    w, thr = tf_learned_gate(spark, sf_dir)
    batch = {
        (r.source, r.n_kept, r.id_checksum)
        for r in load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
        .filter(tf_gate_score_expr(w) >= F.lit(thr))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("doc_id").alias("id_checksum"))
        .collect()
    }
    streamed = {
        (r.source, r.n_kept, r.id_checksum)
        for r in all_queries()["streaming_learned_quality_gate"](spark, sf_dir).collect()
    }
    assert streamed == batch and len(streamed) > 0


def test_streaming_substring_ingest_boundary_invariance(spark, sf_dir, monkeypatch):
    """The at-rest substring-ingest flags are a pure function of the
    corpus (keep-first at gram key grain): replaying with a different
    micro-batch size must produce the identical at-rest output."""
    from columnflow_spark.queries import all_queries

    q = all_queries()["streaming_substring_ingest"]
    a = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert a, "no flagged docs at this sf -- the test proves nothing"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCH_ROWS", "73")
    b = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert a == b


def test_streaming_cdc_ingest_boundary_invariance(spark, sf_dir, monkeypatch):
    """The CDC ingest's "duplicate of a SURVIVING lower-id doc" rule is
    a pure function of (doc order, delete set): replaying with a
    different micro-batch size — moving deleted docs and their
    near-copies across batch boundaries — must produce the identical
    at-rest flags."""
    from columnflow_spark.queries import all_queries

    q = all_queries()["streaming_dedup_cdc_ingest"]
    a = sorted(map(tuple, q(spark, sf_dir).collect()))
    # sf0.001 has no duplicated text (every fingerprint unique), so the
    # dup-flag semantics are pinned by the sf0.01 oracle gate; this test
    # pins that the upsert/delete slice machinery itself is
    # boundary-invariant
    assert a, "empty at-rest output"
    monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCH_ROWS", "73")
    b = sorted(map(tuple, q(spark, sf_dir).collect()))
    assert a == b


def test_streaming_cdc_deleted_holder_unblocks(spark, tmp_path, monkeypatch):
    """Crafted CDC semantics: a later copy of text whose only earlier
    holder was DELETED is not a duplicate; a copy of surviving text is.
    Identical at any micro-batch size (the deleted holder and its copy
    land in different batches at size 4, the same batch at size 100)."""
    from columnflow_spark.queries import all_queries

    texts = {3: "gone gone gone", 9: "gone gone gone",  # 3 deleted (3%7==3)
             1: "kept kept kept", 5: "kept kept kept"}
    rows = [(i, texts.get(i, f"unique text {i}")) for i in range(10)]
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d, exist_ok=True)
    # the replay source reads ONE parquet file, not a spark directory
    pq.write_table(
        pa.table({
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows]),
        }),
        f"{d}/documents.parquet",
    )
    q = all_queries()["streaming_dedup_cdc_ingest"]
    expect = {i: False for i in range(10)}
    expect[5] = True  # copy of SURVIVING doc 1
    # doc 9 stays False: its only earlier holder (3) was deleted
    for size in ("4", "100"):
        monkeypatch.setenv("SPARK_GRAFT_STREAM_BATCH_ROWS", size)
        got = {r.doc_id: r.is_dup for r in q(spark, d).collect()}
        assert got == expect, (size, got)
