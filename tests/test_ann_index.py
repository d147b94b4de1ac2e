"""Materialized IVF+PQ index store: pruning, incremental upsert, parity."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from columnflow_spark.queries.annindex import (
    build_ivfpq_index,
    compact_ivfpq_index,
    search_ivfpq_index,
)
from columnflow_spark.queries.mmdata import ann_ivfpq_topk


def _rows(df):
    return sorted(
        (r.query_id, r.neighbor_id, r.adc_dist, r.rk) for r in df.collect()
    )


@pytest.fixture(scope="module")
def fresh_index(spark, sf_dir, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    build_ivfpq_index(spark, sf_dir, path)
    return path


def test_materialized_search_matches_in_session(spark, sf_dir, fresh_index):
    # the persisted index must answer bit-identically to the per-session
    # rebuild (same codebook, same cells, same ADC ranking)
    live = _rows(ann_ivfpq_topk.__wrapped__(spark, sf_dir))
    stored = _rows(search_ivfpq_index(spark, sf_dir, fresh_index))
    assert stored == live
    assert len(stored) > 0


def test_probe_read_prunes_partitions(spark, sf_dir, fresh_index):
    # a probe read must skip non-probed cells at PLANNING time:
    # the cid IN-list lands in PartitionFilters, not a post-scan filter,
    # and the scan schema excludes the partition/batch columns
    df = (
        spark.read.parquet(fresh_index)
        .filter(F.col("cid").isin([0, 64]))
        .select("vec_id", "codes")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("cid" in l and "IN (0,64)" in l for l in pf), pf
    assert any("ReadSchema: struct<codes:string,vec_id:bigint>" in l for l in pf), pf


def test_incremental_batches_equal_full_build(spark, sf_dir, tmp_path):
    # building in two upserted batches (frozen coarse quantizer) must
    # produce the same search results as one full build — and re-running
    # a batch (idempotent per-partition replace) must not duplicate rows
    path = str(tmp_path / "index")
    mid = 250
    build_ivfpq_index(
        spark, sf_dir, path, batch=0, batch_pred=F.col("vec_id") < mid
    )
    build_ivfpq_index(
        spark, sf_dir, path, batch=1, batch_pred=F.col("vec_id") >= mid
    )
    live = _rows(ann_ivfpq_topk.__wrapped__(spark, sf_dir))
    assert _rows(search_ivfpq_index(spark, sf_dir, path)) == live

    n_rows = spark.read.parquet(path).count()
    # idempotent re-run of batch 1: same rows, not appended
    build_ivfpq_index(
        spark, sf_dir, path, batch=1, batch_pred=F.col("vec_id") >= mid
    )
    assert spark.read.parquet(path).count() == n_rows
    assert _rows(search_ivfpq_index(spark, sf_dir, path)) == live


def test_probe_read_serves_latest_batch(spark, sf_dir, tmp_path):
    # re-encoding vectors into a newer batch (identical codes) must not
    # change what a probe read serves: each vector scores at its latest
    # batch only, the row compaction keeps — never the sum of both
    path = str(tmp_path / "index")
    build_ivfpq_index(spark, sf_dir, path)
    live = _rows(ann_ivfpq_topk.__wrapped__(spark, sf_dir))
    build_ivfpq_index(
        spark, sf_dir, path, batch=1, batch_pred=F.col("vec_id") % 3 == 0
    )
    assert _rows(search_ivfpq_index(spark, sf_dir, path)) == live
    compact_ivfpq_index(spark, path)
    assert _rows(search_ivfpq_index(spark, sf_dir, path)) == live


def test_served_read_plan_has_no_python_stage(spark, sf_dir, fresh_index, candidate_scans):
    # a fresh batch is planned on the driver, its candidates are ONE
    # probe-pruned scan with no parallelized Python list and no Python
    # UDF, and the result is a JVM-local relation (sinks.local_frame)
    df = search_ivfpq_index(spark, sf_dir, fresh_index, query_pred=F.col("vec_id") % 50 == 3)
    assert len(candidate_scans) == 1
    out = df._jdf.queryExecution().executedPlan().toString()
    assert out.startswith("LocalTableScan"), out
    plan = candidate_scans[0]._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and all("cid" in l and "IN (" in l for l in pf), plan
    for p in (out, plan):
        assert "ExistingRDD" not in p and "EvalPython" not in p, p


def test_served_read_job_counts(spark, sf_dir, fresh_index, tmp_path):
    # a warm served read is two Spark jobs (the probe-plan collect and
    # the candidate collect); an index with deletions adds the tombstone
    # broadcast, and nothing else (no schema inference, no result job)
    from columnflow_spark.queries.annindex import delete_vectors_from_index
    from columnflow_spark.session import count_jobs
    from columnflow_spark.sources.sinks import local_frame

    ingest = str(tmp_path / "ingest")
    build_ivfpq_index(spark, sf_dir, ingest, batch_pred=F.col("vec_id") % 2 == 0)
    build_ivfpq_index(spark, sf_dir, ingest, batch=1, batch_pred=F.col("vec_id") % 4 == 1)
    ids = local_frame(spark, [(v,) for v in range(0, 500, 9)], "vec_id long")
    delete_vectors_from_index(spark, ids, ingest, batch=2)

    def read(path, r):
        return search_ivfpq_index(spark, sf_dir, path, query_pred=F.col("vec_id") % 50 == r).collect()

    for path in (fresh_index, ingest):
        read(path, 1)
    rows, fresh = count_jobs(spark, lambda: read(fresh_index, 2))
    assert rows and fresh <= 2, fresh
    rows, ingested = count_jobs(spark, lambda: read(ingest, 4))
    assert rows and ingested <= 3, ingested


def test_driver_merge_knife_edges(spark, tmp_path):
    """The driver merge against Spark's own ``F.round(sum_d / 100.0, 0)``
    and ``row_number`` over the same hand-built rows: sums at k*100+50,
    adc ties broken by neighbour id, the query never its own neighbour,
    a re-encoded vector scored at its latest batch only, a tombstoned id
    dropped, an empty cell, and an empty route."""
    from pyspark.sql import types as T
    from pyspark.sql.window import Window as W

    from columnflow_spark.queries.annindex import TOPK_SCHEMA, _probed_adc_topk
    from columnflow_spark.session import count_jobs
    from columnflow_spark.sources.sinks import local_frame, upsert_partitions, upsert_tombstones

    path = str(tmp_path / "index")
    rows = [
        # (codes, vec_id, cid, batch)
        ("0-0", 1000, 10, 0),  # query 1000 itself
        ("1-1", 1, 10, 0),  # q1000: 50 + 100 = 150 -> 2
        ("2-2", 2, 10, 0),  # q1000: 100 + 150 = 250 -> 3
        ("0-0", 3, 10, 0),  # tombstoned
        ("1-2", 4, 20, 0),  # q1000: 200 -> 2, ties with 1 and 5
        ("1-0", 5, 20, 0),  # re-encoded below: batch 0 must not count
        ("2-1", 5, 20, 1),
        ("0-1", 6, 20, 0),
        ("0-0", 2000, 20, 0),  # query 2000 itself; q1000's nearest
    ]
    cand = local_frame(spark, rows, "codes string, vec_id long, cid int, batch int")
    upsert_partitions(cand, path, partition_by=["cid", "batch"])
    upsert_tombstones(local_frame(spark, [(3,)], "vec_id long"), path, batch=0, id_col="vec_id")
    route = [(1000, 10), (1000, 20), (2000, 20), (2000, 30)]
    tables = {1000: ([0, 50, 100], [0, 100, 150]), 2000: ([0, 49, 51], [0, 1, 0])}
    lut = [(q, s, c, float(d)) for q, t in tables.items() for s in (0, 1) for c, d in enumerate(t[s])]

    live = cand.filter(F.col("vec_id") != 3)
    pairs = (
        live.join(local_frame(spark, route, "query_id long, cid int"), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("_latest", F.max("batch").over(W.partitionBy("query_id", "vec_id")))
        .filter(F.col("batch") == F.col("_latest"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.posexplode(F.split("codes", "-").cast("array<int>")).alias("sub", "code"),
        )
        .join(local_frame(spark, lut, "query_id long, sub int, code int, d double"),
              ["query_id", "sub", "code"])
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("d").alias("sum_d"))
    )
    adc = F.round(F.col("sum_d") / F.lit(100.0), 0).cast("long")
    win = W.partitionBy("query_id").orderBy(adc, F.asc("neighbor_id"))
    for topk in (3, 4, 10):
        want = (
            pairs.withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") <= topk)
            .select("query_id", "neighbor_id", adc.alias("adc_dist"), "rk")
            .orderBy("query_id", "rk")
        )
        got = _probed_adc_topk(spark, path, route, lut, topk)
        assert got.schema.simpleString() == want.schema.simpleString()
        assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]
    got = [tuple(r) for r in _probed_adc_topk(spark, path, route, lut, 10).collect()]
    assert got[:5] == [(1000, 2000, 0, 1), (1000, 6, 1, 2), (1000, 1, 2, 3), (1000, 4, 2, 4),
                       (1000, 5, 2, 5)]
    assert (1000, 2, 3, 6) in got and {r[1] for r in got} & {3, 1000} == set()
    assert [r for r in got if r[0] == 2000] == [(2000, 4, 0, 1), (2000, 6, 0, 2), (2000, 5, 1, 3)]

    empty, jobs = count_jobs(spark, lambda: _probed_adc_topk(spark, path, [], [], 5))
    assert jobs == 0 and empty.count() == 0
    assert empty.schema == T.StructType.fromDDL(TOPK_SCHEMA)


def test_index_store_layout(spark, sf_dir, fresh_index):
    # hive layout: cid=<cell>/batch=<n>/ — cid is the prune axis, batch
    # the upsert unit
    cids = [d for d in os.listdir(fresh_index) if d.startswith("cid=")]
    assert cids
    inner = os.listdir(os.path.join(fresh_index, cids[0]))
    assert any(d.startswith("batch=") for d in inner), inner


def test_changed_source_invalidates_index_tag(tmp_path, sf_dir, monkeypatch):
    # the content-addressed tag must change when the embeddings file is
    # rewritten (new mtime/size => rebuild, never stale reuse) and when
    # the index format is bumped
    import shutil

    from columnflow_spark.queries import annindex as ai
    from columnflow_spark.sources.tables import table_path

    fake_sf = tmp_path / "sf"
    fake_sf.mkdir()
    shutil.copy(table_path(sf_dir, "embeddings"), fake_sf / "embeddings.parquet")
    tag0 = ai.ivfpq_index_path(str(fake_sf))

    # rewrite the source (size + mtime change) -> different store path
    with open(fake_sf / "embeddings.parquet", "ab") as f:
        f.write(b"\x00")
    os.utime(fake_sf / "embeddings.parquet")
    tag1 = ai.ivfpq_index_path(str(fake_sf))
    assert tag1 != tag0

    # encoder format bump -> different store path even for identical data
    monkeypatch.setattr(ai, "_INDEX_FORMAT", ai._INDEX_FORMAT + 1)
    tag2 = ai.ivfpq_index_path(str(fake_sf))
    assert tag2 not in (tag0, tag1)


def test_ensure_index_rebuilds_on_source_change(spark, sf_dir, tmp_path, monkeypatch):
    # end-to-end staleness contract: _ensure_index must build into the NEW
    # tagged location after the source changes, leaving the old store
    # intact (content-addressing, not in-place mutation)
    import shutil

    from columnflow_spark.queries import annindex as ai
    from columnflow_spark.sources.tables import table_path

    fake_sf = tmp_path / "sf"
    fake_sf.mkdir()
    shutil.copy(table_path(sf_dir, "embeddings"), fake_sf / "embeddings.parquet")
    monkeypatch.setenv("SPARK_GRAFT_SCRATCH", str(tmp_path / "scratch"))

    p0 = ai._ensure_index(spark, str(fake_sf))
    assert os.path.exists(os.path.join(p0, "_BUILT"))
    # unchanged source: reuse, not rebuild (same path, marker intact)
    marker_mtime = os.path.getmtime(os.path.join(p0, "_BUILT"))
    assert ai._ensure_index(spark, str(fake_sf)) == p0
    assert os.path.getmtime(os.path.join(p0, "_BUILT")) == marker_mtime

    # bump the source mtime (content-identical rewrite): new tag, rebuild
    os.utime(fake_sf / "embeddings.parquet", ns=(1, 1))
    p1 = ai._ensure_index(spark, str(fake_sf))
    assert p1 != p0
    assert os.path.exists(os.path.join(p1, "_BUILT"))
    assert os.path.exists(os.path.join(p0, "_BUILT"))


def test_compaction_preserves_search(spark, sf_dir, tmp_path):
    # folding the cid=/batch= history into one batch=0 slice per cell
    # must be invisible to probe reads: identical ADC top-k, one batch
    # dir per cell, marker intact
    from columnflow_spark.queries.annindex import compact_ivfpq_index

    path = str(tmp_path / "index")
    mid = 250
    build_ivfpq_index(spark, sf_dir, path, batch=0, batch_pred=F.col("vec_id") < mid)
    build_ivfpq_index(spark, sf_dir, path, batch=1, batch_pred=F.col("vec_id") >= mid)
    before = _rows(search_ivfpq_index(spark, sf_dir, path))
    compact_ivfpq_index(spark, path)
    after = _rows(search_ivfpq_index(spark, sf_dir, path))
    assert after == before and len(after) > 0
    assert os.path.exists(os.path.join(path, "_BUILT"))
    cids = [d for d in os.listdir(path) if d.startswith("cid=")]
    assert cids
    for cid in cids:
        assert os.listdir(os.path.join(path, cid)) == ["batch=0"]


def test_index_drift_audit_and_trigger(spark, sf_dir, tmp_path):
    """A healthy two-batch index does not trip the rebuild trigger; a
    planted batch collapsed onto one cell direction trips the skew arm,
    and invalidation removes the reuse markers."""
    import os

    import pyspark.sql.functions as F

    from columnflow_spark.queries.annindex import (
        ann_index_needs_rebuild,
        build_ivfpq_index,
        index_drift_audit_frame,
        upsert_index_frame,
    )
    from columnflow_spark.queries.mmdata import _ivf_cents
    from columnflow_spark.sources import load_table, spread
    from columnflow_spark.sources.sinks import invalidate_store

    n = load_table(spark, sf_dir, "embeddings", columns=["vec_id"]).count()
    path = str(tmp_path / "drift_index")
    build_ivfpq_index(spark, sf_dir, path, batch=0, batch_pred=F.col("vec_id") < n // 2)
    build_ivfpq_index(spark, sf_dir, path, batch=1, batch_pred=F.col("vec_id") >= n // 2)
    audit = index_drift_audit_frame(spark, sf_dir, path).collect()
    assert [r.batch for r in audit] == [0, 1]
    assert all(r.n_vecs > 0 and r.mean_err_q >= 0 for r in audit)
    assert not ann_index_needs_rebuild(spark, sf_dir, path)

    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    c0 = sorted(_ivf_cents(emb).select("cid", "ce").collect(), key=lambda r: r.cid)[0]
    drifted = emb.select(
        "vec_id",
        F.array(*[F.lit(float(x)) for x in c0.ce]).cast("array<float>").alias("embedding"),
    )
    upsert_index_frame(spark, sf_dir, drifted, path, batch=2)
    assert ann_index_needs_rebuild(spark, sf_dir, path)
    assert os.path.exists(os.path.join(path, "_BUILT"))
    invalidate_store(path)
    assert not os.path.exists(os.path.join(path, "_BUILT"))


def test_drift_trips_intermediate_collapse_and_zero_error_seed():
    """ADVICE r7: the trend predicate must catch a collapsed INTERMEDIATE
    batch (a healthy newest batch used to mask it) and must not be inert
    when the seed batch quantized perfectly (mean_err_q == 0)."""
    from collections import namedtuple

    from columnflow_spark.queries.annindex import drift_trips

    R = namedtuple("R", "batch n_vecs n_cells max_cell_n mean_err_q")
    kw = dict(err_ratio=1.5, skew_ratio=2.0)

    healthy = [R(0, 100, 10, 15, 40), R(1, 100, 10, 16, 45), R(2, 100, 10, 14, 42)]
    assert not drift_trips(healthy, **kw)

    # error spike in the MIDDLE batch only
    mid_spike = [R(0, 100, 10, 15, 40), R(1, 100, 10, 15, 400), R(2, 100, 10, 15, 41)]
    assert drift_trips(mid_spike, **kw)

    # cell collapse in the middle batch only (skew arm)
    mid_collapse = [R(0, 100, 10, 15, 40), R(1, 100, 10, 90, 40), R(2, 100, 10, 15, 40)]
    assert drift_trips(mid_collapse, **kw)

    # perfectly quantized seed: any later nonzero error must trip
    zero_seed = [R(0, 100, 10, 15, 0), R(1, 100, 10, 15, 3)]
    assert drift_trips(zero_seed, **kw)
    assert not drift_trips([R(0, 100, 10, 15, 0), R(1, 100, 10, 15, 0)], **kw)


# --- materialized OPQ index (round 9) ---
@pytest.fixture(scope="module")
def fresh_opq_index(spark, sf_dir, tmp_path_factory):
    from columnflow_spark.queries.annindex import build_opq_index

    path = str(tmp_path_factory.mktemp("opq") / "index")
    build_opq_index(spark, sf_dir, path)
    return path


def test_opq_artifacts_roundtrip_exactly(spark, sf_dir, fresh_opq_index):
    """float64 -> parquet double -> float64 is exact: a fresh session
    serving from the sidecars computes with bit-identical rotation and
    codebooks."""
    import numpy as np

    from columnflow_spark.queries.annindex import load_opq_artifacts
    from columnflow_spark.queries.mmdata import opq_train_np

    R0, cms0 = opq_train_np(spark, sf_dir)
    R1, cms1 = load_opq_artifacts(fresh_opq_index)
    assert np.array_equal(R0, R1)
    for a, b in zip(cms0, cms1):
        assert np.array_equal(np.asarray(a), np.asarray(b))


def test_opq_materialized_codes_match_encoder(spark, sf_dir, fresh_opq_index):
    from columnflow_spark.queries.mmdata import opq_encode_udf
    from columnflow_spark.sources import load_table

    enc = opq_encode_udf(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    expect = {r.vec_id: r.c for r in emb.select("vec_id", enc("embedding").alias("c")).collect()}
    stored = {r.vec_id: r.codes for r in spark.read.parquet(fresh_opq_index).collect()}
    assert stored == expect


def test_opq_materialized_search_shape_and_probe_pruning(
    spark, sf_dir, fresh_opq_index, candidate_scans
):
    """Full ranking for every workload query; the probed candidate scan
    carries PartitionFilters (reads probe cells only, not the index)."""
    import contextlib
    import io

    from columnflow_spark.queries.annindex import search_opq_index

    df = search_opq_index(spark, sf_dir, fresh_opq_index)
    assert len(candidate_scans) == 1
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        candidate_scans[0].explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan
    assert "cid" in plan.split("PartitionFilters")[1].split("]")[0]
    rows = df.collect()
    from columnflow_spark.sources import load_table

    qids = {r.vec_id for r in load_table(spark, sf_dir, "embeddings", columns=["vec_id"])
            .filter("vec_id % 100 = 7").collect()}
    assert {r.query_id for r in rows} == qids
    assert all(1 <= r.rk <= 5 for r in rows)


def test_opq_served_read_job_count(spark, sf_dir, fresh_opq_index):
    # a warm OPQ read with a new query batch is three Spark jobs: the
    # routing collect, the LUT's query-batch collect and the candidate
    # collect; the ``_rotation``/``_codebook`` sidecars are read on the
    # driver, with no Spark job
    from columnflow_spark.queries.annindex import search_opq_index
    from columnflow_spark.session import count_jobs

    def read(r):
        return search_opq_index(
            spark, sf_dir, fresh_opq_index, query_pred=F.col("vec_id") % 50 == r
        ).collect()

    read(1)
    rows, jobs = count_jobs(spark, lambda: read(2))
    assert rows and jobs <= 3, jobs


def test_opq_driver_lut_equals_in_plan(spark, sf_dir, fresh_opq_index):
    """The OPQ LUT rows planned on the driver from the persisted
    ``_rotation``/``_codebook`` equal the in-plan LUT (rotation pandas
    UDF, codebook join, ``F.round(subd, 0)``), with every vector as a
    query."""
    import numpy as np
    import pandas as pd

    from columnflow_spark.queries.annindex import load_opq_artifacts, opq_lut_rows
    from columnflow_spark.queries.mmdata import _PQ_DIM, _PQ_GRID, _PQ_M
    from columnflow_spark.sources import load_table

    every = F.lit(True)
    R, _ = load_opq_artifacts(fresh_opq_index)

    @F.pandas_udf("array<long>")
    def _rot(batch):
        y = (np.vstack(batch.to_numpy()).astype(np.float64) @ R) * _PQ_GRID
        return pd.Series(list((np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)))

    qsubs = (
        load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
        .filter(every)
        .select(F.col("vec_id").alias("query_id"), _rot("embedding").alias("tq"))
        .select(
            "query_id",
            F.posexplode(
                F.array(*[F.slice("tq", s * _PQ_DIM + 1, _PQ_DIM) for s in range(_PQ_M)])
            ).alias("sub", "qs"),
        )
    )
    subd = F.aggregate(
        F.zip_with("qs", "c", lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    in_plan = qsubs.join(
        F.broadcast(spark.read.parquet(os.path.join(fresh_opq_index, "_codebook"))), "sub"
    ).select("query_id", "sub", "code", F.round(subd, 0).alias("d"))
    lut = opq_lut_rows(spark, sf_dir, fresh_opq_index, every)
    assert lut and sorted(lut) == sorted(map(tuple, in_plan.collect()))


def test_opq_materialized_delete_drops_neighbors(spark, sf_dir, fresh_opq_index):
    """Tombstoned vectors disappear from served neighbor lists."""
    from columnflow_spark.queries.annindex import search_opq_index
    from columnflow_spark.sources.sinks import clear_tombstones, upsert_tombstones

    before = search_opq_index(spark, sf_dir, fresh_opq_index).collect()
    victims = sorted({r.neighbor_id for r in before})[:3]
    ids = spark.createDataFrame([(int(v),) for v in victims], "vec_id long")
    upsert_tombstones(ids, fresh_opq_index, batch=0, id_col="vec_id")
    try:
        after = search_opq_index(spark, sf_dir, fresh_opq_index).collect()
        assert not ({r.neighbor_id for r in after} & set(victims))
        assert {r.query_id for r in after} == {r.query_id for r in before}
    finally:
        clear_tombstones(fresh_opq_index)
