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


def test_served_read_plan_has_no_python_stage(spark, sf_dir, fresh_index):
    # a fresh batch is planned on the driver and its route and LUT enter
    # the plan as JVM-local relations (sinks.local_frame): no scan of a
    # parallelized Python list, no Python UDF anywhere in the read
    df = search_ivfpq_index(spark, sf_dir, fresh_index, query_pred=F.col("vec_id") % 50 == 3)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LocalTableScan") == 2, plan
    assert "ExistingRDD" not in plan and "EvalPython" not in plan, plan


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
    R1, cms1 = load_opq_artifacts(spark, fresh_opq_index)
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


def test_opq_materialized_search_shape_and_probe_pruning(spark, sf_dir, fresh_opq_index):
    """Full ranking for every workload query; the probed scan carries
    PartitionFilters (reads probe cells only, not the index)."""
    import contextlib
    import io

    from columnflow_spark.queries.annindex import search_opq_index

    df = search_opq_index(spark, sf_dir, fresh_opq_index)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [" in plan
    assert "cid" in plan.split("PartitionFilters")[1].split("]")[0]
    rows = df.collect()
    from columnflow_spark.sources import load_table

    qids = {r.vec_id for r in load_table(spark, sf_dir, "embeddings", columns=["vec_id"])
            .filter("vec_id % 100 = 7").collect()}
    assert {r.query_id for r in rows} == qids
    assert all(1 <= r.rk <= 5 for r in rows)


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
