"""Materialized IVF+PQ index: persist, prune, incrementally upsert.

``ann_ivfpq_topk`` (queries/mmdata.py) rebuilds the cell assignment and
PQ codes every session; at 100 TB the index IS the expensive artifact —
the corpus scan, assignment and encoding happen once, and every later
query batch should touch only the probed cells' files.  This module
closes that gap with the engine's own batch-sliced store
(sources/sinks.py: ``SlicedStore``, declared once as ``_INDEX`` and
shared with the OPQ index):

- **layout** ``cid=<cell>/batch=<n>/part-*.parquet`` rows
  ``(vec_id, codes)``.  ``cid`` is the probe/prune axis (planning-time
  ``PartitionFilters``, asserted in tests/test_plan_quality.py);
  ``batch`` is the upsert unit, so re-running an ingest batch replaces
  exactly its own files (idempotent, the reference's per-task output
  semantics — reference columnflow/tasks/framework/base.py task outputs
  short-circuit on existence) and a NEW batch lands without touching
  sibling batches in the same cell.
- **build** is the same zero-shuffle pass as the in-session query: the
  coarse quantizer (every-64th-vector centroids, frozen — incremental
  batches reuse it; its matrix is the ``ivf_coarse_centroids`` session
  artifact) assigns map-side
  (functions/similarity.py:assign_to_centroids) and the trained PQ
  encoder (queries/mmdata.py:pq_encode_udf) emits codes in the same
  projection; the only added cost is the partitioned write.
- **upsert** of a served request runs the same numpy kernels on the
  driver (``nearest_cids``, ``pq_encode_np``) over the request's rows,
  collected through Arrow, and pyarrow writes the slice: a warm upsert
  is ONE Spark job, the collect.  A corpus (batch) encode is unbounded
  and keeps the distributed build path.
- **deletes** are ``_deleted/batch=<n>`` tombstone slices, a bounded
  driver-side sidecar (sources/sinks.py:write_sidecar): a delete is ONE
  Spark job, the collect of the caller's ids; a served read masks them
  on the driver, the purge rewrites the index without them.  The OPQ
  ``_rotation``/``_codebook`` are sidecars of the same pair.
- **search** is scatter-gather.  The driver plans the read
  (queries/mmdata.py:ivfpq_probe_plan): one bounded collect of the query
  batch, against the centroid matrix of the ``ivf_coarse_centroids``
  session artifact, gives the probe route and the quantized ADC LUT in
  numpy, engine-exact against the in-plan ``_ivf_probes``/
  ``_pq_query_lut``.  The route's cell set becomes a static ``IN``
  filter on the partition column, and ONE Spark job collects just those
  cells' live rows through Arrow (the scatter).  The driver then scores
  each vector at its latest ``batch`` against the LUT and keeps each
  query's top-k (the gather).  The collected rows are the probed cells'
  rows: a cell holds ~64 vectors, so a read brings back at most
  n_probe x |batch| x ~64 rows.  Results are bit-identical to
  ``ann_ivfpq_topk`` (same oracle SQL registered for both).

Mirrors the reference's columnar-store round-trip (reference
columnflow/tasks/reduction.py merged outputs re-read by downstream
tasks) re-expressed as a Spark partitioned table.
"""

from __future__ import annotations

from dataclasses import replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from columnflow_spark.queries import query
from columnflow_spark.queries.mmdata import (
    _PQ_K,
    _PQ_M,
    IVFPQ_ORACLE,
    _probe_batch,
    _route_np,
    encode_udf,
    grid_lut_rows,
    ivf_coarse_centroids,
    ivf_probe_route,
    ivfpq_probe_plan,
    pq_encoder,
    pq_query_lut_cached,
)
from columnflow_spark.functions.similarity import assign_to_centroids, nearest_cids
from columnflow_spark.sources import load_table
from columnflow_spark.sources.sinks import (
    SlicedStore,
    ensure_store,
    local_frame,
    read_sidecar,
    store_path,
    tombstoned_ids,
    write_sidecar,
)
from columnflow_spark.sources import spread


#: bump when the trained-codebook/encoding math changes: persisted codes
#: from an older encoder must not be reused
_INDEX_FORMAT = 2
#: the index rows, shared by the IVF-PQ and OPQ indexes: ``cid`` is the
#: probe axis, ``batch`` the upsert unit, ``vec_id`` the tombstone id
_INDEX = SlicedStore(
    "codes string, vec_id long, cid int, batch int", "cid", "vec_id", _INDEX_FORMAT
)


def ivfpq_index_path(sf_dir: str) -> str:
    """Content-addressed index location (see :func:`sinks.store_path`)."""
    return store_path(sf_dir, "embeddings", "ivfpq_index", f"v{_INDEX_FORMAT}")


def upsert_index_frame(
    spark: SparkSession, sf_dir: str, rows: DataFrame, path: str, *, batch: int
) -> str:
    """Encode a request-sized ``(vec_id, embedding)`` frame against the
    FROZEN coarse quantizer + trained PQ codebook (both derive from the
    static corpus — the IVF contract; incremental and streaming ingest
    reuse them) and upsert it as the index's ``batch=<n>`` slice.

    A served write is ONE Spark job: the rows are collected through
    Arrow, assigned (functions/similarity.py:nearest_cids) and encoded
    (queries/mmdata.py:pq_encode_np) on the driver by the kernels the
    build's pandas UDFs run, and pyarrow writes the slice
    (``SlicedStore.append``).  The quantizer and codebook are session
    artifacts, so a warm upsert collects nothing else.  The rows must
    fit on the driver, as a served read's candidates do; a bulk load
    goes through :func:`build_ivfpq_index`."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pac  # noqa: PLC0415

    t = rows.select("vec_id", "embedding").toArrow()
    codes, cids = [], []
    if t.num_rows:
        x = pac.list_flatten(t.column("embedding")).to_numpy()
        x = x.reshape(t.num_rows, -1).astype(np.float64)
        codes = pq_encoder(spark, sf_dir)(x)
        cids = nearest_cids(x, *ivf_coarse_centroids(spark, sf_dir))
    idx = pa.table({
        "codes": pa.array(codes, pa.string()),
        "vec_id": t.column("vec_id"),
        "cid": pa.array(cids, pa.int64()),
    })
    return _INDEX.append(idx, path, batch=batch)


def _encode_corpus(
    spark: SparkSession, sf_dir: str, store: SlicedStore, encode, path: str, *, batch: int,
    batch_pred,
) -> str:
    """Encode (the ``batch_pred`` rows of) the corpus with ``encode``
    (mmdata.pq_encoder / opq_encoder) and write them into ``store`` at
    ``path`` as its ``batch=<n>`` slice.  A corpus encode is unbounded,
    so it stays distributed: the kernels run in pandas UDFs in one
    projection and Spark writes the slice."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    rows = emb.filter(batch_pred) if batch_pred is not None else emb
    idx = assign_to_centroids(rows, *ivf_coarse_centroids(spark, sf_dir)).select(
        "vec_id", encode_udf(encode)("embedding").alias("codes"), "cid"
    )
    return store.append(idx, path, batch=batch)


def build_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    path: str | None = None,
    *,
    batch: int = 0,
    batch_pred=None,
) -> str:
    """Encode (a batch of) the corpus and upsert it into the partitioned
    index store.  The coarse quantizer always derives from the FULL
    corpus (frozen cell geometry — the IVF contract), while ``batch_pred``
    selects which vectors this batch (re-)encodes."""
    path = path or ivfpq_index_path(sf_dir)
    return _encode_corpus(
        spark, sf_dir, _INDEX, pq_encoder(spark, sf_dir), path, batch=batch, batch_pred=batch_pred
    )


def compact_ivfpq_index(spark: SparkSession, path: str) -> None:
    """Fold the ``cid=/batch=`` index back into one ``batch=0`` slice per
    cell (VERDICT r5 next #5: the store otherwise grows one directory per
    ingest batch forever).  A vector re-encoded by several batches keeps
    its LATEST encoding (max-batch wins — the same row the batch-grained
    store would shadow by upsert recency), so probe reads over the
    compacted store return exactly what the full batch history returns
    (tests/test_ann_index.py re-proves search equality after compaction).
    Also the VACUUM step of deletion propagation: tombstoned vectors
    (``_deleted/`` slices written by :func:`delete_vectors_from_index`)
    are dropped from the rewrite and the tombstones cleared — a crash
    between publish and clear is harmless (surviving tombstones anti-join
    already-purged rows).  Staged and published by one rename, keeping
    the marker (``SlicedStore.purge``)."""
    win = W.partitionBy("vec_id").orderBy(F.desc("batch"))
    _INDEX.purge(spark, path, fold=lambda rows: (
        rows.withColumn("_rn", F.row_number().over(win)).filter(F.col("_rn") == 1)
    ))


def delete_vectors_from_index(
    spark: SparkSession, ids: DataFrame, path: str, *, batch: int
) -> str:
    """Propagate a vector deletion into the persisted index: one bounded
    ``_deleted/batch=<n>`` tombstone slice (idempotent per batch id);
    a served read masks it on the driver, compaction purges it
    physically."""
    return _INDEX.delete(ids, path, batch=batch)


def _ensure_index(spark: SparkSession, sf_dir: str) -> str:
    return ensure_store(
        ivfpq_index_path(sf_dir), lambda p: build_ivfpq_index(spark, sf_dir, p)
    )


#: a served read's result
TOPK_SCHEMA = "query_id long, neighbor_id long, adc_dist long, rk int"


def _candidate_scan(spark: SparkSession, path: str, cids: list[int]) -> DataFrame:
    """The scatter half of a served read: the rows of the routed cells.
    The ``cid IN`` list lands in the scan's PartitionFilters, so only
    those cells' files are listed and read.  Tombstoned vectors are
    still in it; :func:`_probed_adc_topk` masks them on the driver."""
    return _INDEX.scan(spark, path).filter(F.col("cid").isin(cids)).select(
        "vec_id", "cid", "batch", F.split("codes", "-").cast("array<int>").alias("codes")
    )


def _adc_topk_np(vid, cid, batch, codes, route, lut_rows, topk: int) -> list[tuple]:
    """The gather half of a served read, in numpy on the driver: per
    route row ``(query_id, cid)`` the candidate rows ``(vid, cid, batch,
    codes)`` of that cell, minus the query itself; each vector scored
    at its LATEST ``batch`` among them (the row compaction keeps, so a
    re-encoded vector is never summed twice) as the sum of its codes'
    entries in ``lut_rows`` ``(query_id, sub, code, d)``; ``adc_dist`` =
    ``sum_d / 100`` rounded half-up; ranked by ``(adc_dist, vid)``.
    Returns ``TOPK_SCHEMA`` rows sorted by ``(query_id, rk)``."""
    import numpy as np  # noqa: PLC0415

    route = np.asarray(route, dtype=np.int64).reshape(-1, 2)
    # pair each route row with the candidate rows of its cell
    by_cell = np.argsort(cid, kind="stable")
    lo = np.searchsorted(cid[by_cell], route[:, 1], "left")
    n = np.searchsorted(cid[by_cell], route[:, 1], "right") - lo
    pq = np.repeat(route[:, 0], n)
    pc = by_cell[np.arange(n.sum()) + np.repeat(lo - np.cumsum(n) + n, n)]
    keep = vid[pc] != pq
    pq, pc = pq[keep], pc[keep]
    if not len(pq):
        return []
    # (query, neighbour) groups, newest batch first; keep the newest rows
    o = np.lexsort((-batch[pc], vid[pc], pq))
    pq, pc = pq[o], pc[o]
    pv, pb = vid[pc], batch[pc]
    head = np.r_[True, (pq[1:] != pq[:-1]) | (pv[1:] != pv[:-1])]
    grp = np.cumsum(head) - 1
    live = pb == pb[head][grp]
    # dense LUT [query, sub, code]; its entries are integers, so every sum
    # below is exact in any order
    lut = np.asarray(lut_rows, dtype=np.float64).reshape(-1, 4)
    lq, ls, lc = (lut[:, i].astype(np.int64) for i in range(3))
    qids = np.unique(lq)
    table = np.zeros((len(qids), ls.max() + 1, lc.max() + 1))
    table[np.searchsorted(qids, lq), ls, lc] = lut[:, 3]
    qi = np.searchsorted(qids, pq[live])[:, None]
    d = table[qi, np.arange(codes.shape[1])[None, :], codes[pc[live]]].sum(axis=1)
    sum_d = np.bincount(grp[live], weights=d)
    x = sum_d / 100.0
    r = np.floor(x)
    adc = (r + (x - r >= 0.5)).astype(np.int64)
    gq, gv = pq[head], pv[head]
    # rank within each query by (adc_dist, neighbour id)
    o = np.lexsort((gv, adc, gq))
    gq, gv, adc = gq[o], gv[o], adc[o]
    first = np.r_[True, gq[1:] != gq[:-1]]
    rk = np.arange(len(gq)) - np.flatnonzero(first)[np.cumsum(first) - 1] + 1
    top = rk <= topk
    return list(zip(gq[top].tolist(), gv[top].tolist(), adc[top].tolist(), rk[top].tolist()))


def _probed_adc_topk(
    spark: SparkSession, path: str, route: list, lut_rows: list, topk: int
) -> DataFrame:
    """The ADC top-``topk`` of every probe-pruned index read, as
    scatter-gather: ONE Spark job collects the routed cells' rows through
    Arrow (:func:`_candidate_scan`); the driver drops the tombstoned
    vectors (the ``_deleted`` sidecar, read with pyarrow) and
    :func:`_adc_topk_np` scores, dedups and ranks the rest.  The collect
    is bounded by design: a cell holds ~64 vectors (every 64th vector is
    a centroid), so a read brings back at most n_probe x |batch| x ~64
    rows.  The result is a local frame of |batch| x ``topk`` rows."""
    import pyarrow.compute as pac  # noqa: PLC0415

    cids = sorted({c for _, c in route})
    cand = _candidate_scan(spark, path, cids).toArrow() if cids else None
    dead = tombstoned_ids(path, "vec_id")
    if cand is not None and dead is not None:
        vid = cand.column("vec_id")
        dead = dead.column("vec_id").cast(vid.type)
        cand = cand.filter(pac.invert(pac.is_in(vid, value_set=dead)))
    rows = []
    if cand is not None and cand.num_rows:
        rows = _adc_topk_np(
            cand.column("vec_id").to_numpy(),
            cand.column("cid").to_numpy(),
            cand.column("batch").to_numpy(),
            pac.list_flatten(cand.column("codes")).to_numpy().reshape(cand.num_rows, -1),
            route,
            lut_rows,
            topk,
        )
    return local_frame(spark, rows, TOPK_SCHEMA)


def search_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    query_pred=None,
    topk: int = 5,
    route_key=None,
) -> DataFrame:
    """Probe-pruned ADC top-``topk`` over the persisted index
    (bit-identical to ``ann_ivfpq_topk`` for the default workload): only
    the probed ``cid=`` partitions are read, so at scale the IO is
    (query batch x n_probe / n_cells) of the index, not the index.
    ``query_pred`` selects the probe batch (default: the fixed
    ``vec_id % 100 == 7`` workload).  An unnamed batch is planned on the
    driver by one bounded collect (mmdata.ivfpq_probe_plan); composite
    consumers (``hybrid_search_rrf_indexed``) pass ``route_key`` naming
    their batch, so its route and LUT rows are the shared per-session
    artifacts (mmdata.ivf_probe_route / pq_query_lut_cached).  The read
    itself is :func:`_probed_adc_topk`: one pruned candidate collect, a
    driver-side merge, and a local result frame; a warm read runs at
    most two Spark jobs (the probe collect and the candidate collect),
    with or without deletions (tombstones are masked on the driver)."""
    if query_pred is None:
        query_pred = F.col("vec_id") % 100 == 7
        route_key = route_key or ("mod100", 7)
    if route_key is None:
        route, lut = ivfpq_probe_plan(spark, sf_dir, query_pred)
    else:
        route = ivf_probe_route(spark, sf_dir, query_pred=query_pred, route_key=route_key)
        lut = pq_query_lut_cached(spark, sf_dir, query_pred, lut_key=route_key)
    return _probed_adc_topk(spark, path, route, lut, topk)


@query("ann_ivfpq_materialized_topk", oracle=IVFPQ_ORACLE)
def ann_ivfpq_materialized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ search against the PERSISTED index: build-once (content
    addressed, reused across sessions), then partition-pruned probe reads."""
    path = _ensure_index(spark, sf_dir)
    return search_ivfpq_index(spark, sf_dir, path)


# --- index drift audit (VERDICT r6 next #5, the ANN-index arm): the
# coarse quantizer and PQ codebook are FROZEN at index creation; under
# continuous ingest, distribution drift inflates cell skew and PQ
# reconstruction error unboundedly.  The audit reconstructs each stored
# vector's exact PQ quantization error (grid sub-vector vs its assigned
# codebook entry — integer-exact on both engines) per ingest batch, in
# one doc-keyed join + a two-level aggregation over the store's existing
# ``cid=/batch=`` partitions; the trigger compares newest-vs-first batch
# and invalidates through the same marker contract the ensure helpers
# gate on. ---
_DRIFT_ERR_RATIO = 1.5
_DRIFT_SKEW_RATIO = 2.0


def drift_trips(rows, *, err_ratio: float, skew_ratio: float) -> bool:
    """Shared trend predicate over audit rows ``(batch, n_vecs, n_cells,
    max_cell_n, mean_err_q)`` sorted by batch: True when any later
    batch's mean quantization error exceeds ``err_ratio`` x the first
    batch's (or is nonzero at all when the seed batch quantized
    perfectly — a ratio against 0 would be inert for ANY growth), or
    when any later batch's max-cell occupancy share exceeds
    ``skew_ratio`` x the first batch's (cell collapse).  Comparing the
    worst later batch rather than only the newest catches a collapsed
    intermediate batch that a subsequent healthy batch would mask."""
    if len(rows) < 2:
        return False
    first, later = rows[0], rows[1:]
    worst_err = max(r.mean_err_q for r in later)
    if first.mean_err_q > 0:
        if worst_err > err_ratio * first.mean_err_q:
            return True
    elif worst_err > 0:
        return True
    share0 = first.max_cell_n / first.n_vecs
    worst_share = max(r.max_cell_n / r.n_vecs for r in later)
    return share0 > 0 and worst_share > skew_ratio * share0


def index_drift_audit_frame(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Per-batch drift metrics over a persisted IVF+PQ index: ``(batch,
    n_vecs, n_cells, max_cell_n, mean_err_q)`` where ``mean_err_q`` is
    the mean exact PQ reconstruction error (squared L2 between each
    stored vector's grid sub-vectors and its assigned codebook entries —
    exact integer arithmetic end-to-end).  One doc-keyed join against the
    embeddings table fetches the true vectors; the codebook broadcasts
    (K x M rows); both aggregation levels are map-side combinable."""
    from columnflow_spark.queries.mmdata import _PQ_DIM, _PQ_GRID, pq_trained_codebook

    ex = _INDEX.scan(spark, path).select(
        "vec_id",
        "cid",
        "batch",
        F.posexplode(F.split("codes", "-").cast("array<int>")).alias("sub", "code"),
    )
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    cb = pq_trained_codebook(spark, sf_dir)
    # quantize with the ENCODER's exact half-away form sign(y)*floor(|y|+.5)
    # — F.round's BigDecimal HALF_UP diverges from it (and from DuckDB's
    # round) at fp knife edges like y = 0.49999999999999994, where
    # |y| + 0.5 rounds up in double but the decimal expansion is < .5
    def _grid(x):
        y = x.cast("double") * _PQ_GRID
        return F.when(y >= 0, F.floor(y + 0.5)).otherwise(-F.floor(-y + 0.5)).cast(
            "double"
        )

    tsub = F.transform(F.slice("embedding", F.col("sub") * _PQ_DIM + 1, _PQ_DIM), _grid)
    suberr = F.aggregate(
        F.zip_with(tsub, F.col("c"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    # codebook entries are integer-sum/count rationals, so raw sub-errors
    # are fractional doubles: quantize each (vec, sub) term to an integer
    # FIRST (the ADC-LUT round(,0) pattern — one rounding op shared with
    # the oracle), then every downstream sum is exact integer arithmetic
    # in any order on any engine
    per_vec = (
        ex.join(emb, "vec_id")
        .join(F.broadcast(cb), ["sub", "code"])
        .select("batch", "cid", "vec_id", F.round(suberr, 0).cast("long").alias("e"))
        .groupBy("batch", "cid", "vec_id")
        .agg(F.sum("e").alias("err"))
    )
    cell = per_vec.groupBy("batch", "cid").agg(
        F.count(F.lit(1)).alias("n"), F.sum("err").alias("eq")
    )
    return (
        cell.groupBy("batch")
        .agg(
            F.sum("n").cast("long").alias("n_vecs"),
            F.count(F.lit(1)).cast("long").alias("n_cells"),
            F.max("n").cast("long").alias("max_cell_n"),
            F.expr("sum(eq) div sum(n)").cast("long").alias("mean_err_q"),
        )
        .orderBy("batch")
    )


def ann_index_needs_rebuild(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    *,
    err_ratio: float = _DRIFT_ERR_RATIO,
    skew_ratio: float = _DRIFT_SKEW_RATIO,
) -> bool:
    """Rebuild trigger for a persisted index (see :func:`drift_trips`)."""
    rows = index_drift_audit_frame(spark, sf_dir, path).collect()
    return drift_trips(rows, err_ratio=err_ratio, skew_ratio=skew_ratio)


def _ensure_trend_index(spark: SparkSession, sf_dir: str) -> str:
    """Two-batch index (first and second half of vec_ids) so the audit
    has a per-batch trend to report."""
    def build(p: str) -> None:
        n = load_table(spark, sf_dir, "embeddings", columns=["vec_id"]).count()
        build_ivfpq_index(spark, sf_dir, p, batch=0, batch_pred=F.col("vec_id") < n // 2)
        build_ivfpq_index(spark, sf_dir, p, batch=1, batch_pred=F.col("vec_id") >= n // 2)

    return ensure_store(
        store_path(sf_dir, "embeddings", "ivfpq_index_trend", f"trend-v{_INDEX_FORMAT}"),
        build,
    )


def _index_drift_oracle() -> str:
    from columnflow_spark.queries.mmdata import (
        _PQ_DIM,
        _PQ_ITERS,
        _PQ_GRID,
        _PQ_M,
        _pq_assign_sql,
        _pq_train_ctes,
    )

    return f"""
    WITH {_pq_train_ctes()},
    best AS MATERIALIZED ({_pq_assign_sql('t', f'cb{_PQ_ITERS}')}
    ),
    nn AS (SELECT count(*) // 2 AS a FROM embeddings),
    cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings
        WHERE vec_id % 64 = 0
    ),
    assign AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce)
                                DESC, c.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    t2 AS MATERIALIZED (
        -- the ENCODER's exact grid sign(y)*floor(|y|+0.5): the train
        -- CTE's round(y) differs at fp-carry knife edges (e.g.
        -- 0.49999999999999994 + 0.5 == 1.0 in double while round() of
        -- the same double is 0), which showed up as per-vector errors
        -- off by exactly 1 — assignment is tie-stable under that ulp,
        -- the raw integer error sum is not
        SELECT vec_id, list_transform(range(1, {_PQ_M * _PQ_DIM + 1}), j ->
                   CASE WHEN embedding[j] >= 0
                        THEN floor(embedding[j]::DOUBLE * {_PQ_GRID} + 0.5)
                        ELSE -floor(-(embedding[j]::DOUBLE) * {_PQ_GRID} + 0.5) END) AS q
        FROM embeddings
    ),
    errs AS MATERIALIZED (
        -- per-(vec, sub) error quantized to an integer FIRST (the ADC
        -- LUT round pattern): codebook entries are fractional rationals,
        -- so only the post-round sums are order-independent integers
        SELECT b.vec_id,
               CAST(sum(CAST(round(list_aggregate(list_transform(
                   range(1, {_PQ_DIM + 1}),
                   j -> (t2.q[b.sub * {_PQ_DIM} + j] - cb.c[j])
                        * (t2.q[b.sub * {_PQ_DIM} + j] - cb.c[j])), 'sum'))
                   AS BIGINT)) AS BIGINT) AS err
        FROM best b
        JOIN t2 ON t2.vec_id = b.vec_id
        JOIN cb{_PQ_ITERS} cb ON cb.sub = b.sub AND cb.code = b.code
        GROUP BY b.vec_id
    ),
    vecs AS (
        SELECT a.vec_id, a.cid, e.err,
               CASE WHEN a.vec_id < nn.a THEN 0 ELSE 1 END AS batch
        FROM assign a JOIN errs e USING (vec_id) CROSS JOIN nn
    ),
    cellstats AS (
        SELECT batch, cid, count(*) AS cn, CAST(sum(err) AS BIGINT) AS eq
        FROM vecs GROUP BY batch, cid
    )
    SELECT CAST(batch AS INT) AS batch,
           CAST(sum(cn) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(cn) AS BIGINT) AS max_cell_n,
           CAST(sum(eq) // sum(cn) AS BIGINT) AS mean_err_q
    FROM cellstats GROUP BY batch ORDER BY batch
    """


@query("ann_index_drift_audit", oracle=_index_drift_oracle())
def ann_index_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift audit over a two-batch persisted IVF+PQ index: per-batch
    cell occupancy and exact PQ reconstruction-error trend, replayed by
    the oracle from raw embeddings (frozen %64 coarse cells + the Lloyd
    codebook chain; batches = first/second half of vec_ids)."""
    path = _ensure_trend_index(spark, sf_dir)
    return index_drift_audit_frame(spark, sf_dir, path)


# --- index deletion propagation (VERDICT r8 next #1, the ANN arm): a
# forgotten document's codes must stop being served WITHOUT a full
# index rebuild.  The delete is a bounded tombstone slice; the probed
# search masks it on the driver after the partition prune (IO stays
# probe-bounded), and compaction purges it physically.  The oracle is
# the full IVF+PQ replay with the deleted ids excluded from the
# CANDIDATE side only — the query batch is external serve-time input
# and keeps its fixed workload. ---
def _ensure_deleted_index(spark: SparkSession, sf_dir: str, *, vacuum: bool) -> str:
    def build(p: str) -> None:
        build_ivfpq_index(spark, sf_dir, p)
        deleted = load_table(spark, sf_dir, "embeddings", columns=["vec_id"]).filter(
            F.col("vec_id") % 7 == 3
        )
        delete_vectors_from_index(spark, deleted, p, batch=0)
        if vacuum:
            compact_ivfpq_index(spark, p)

    kind = "vacuumed" if vacuum else "deleted"
    return ensure_store(
        store_path(sf_dir, "embeddings", f"ivfpq_index_{kind}", f"{kind}-v{_INDEX_FORMAT}"),
        build,
    )


def _ivfpq_delete_oracle() -> str:
    from columnflow_spark.queries.mmdata import ivfpq_adc_ctes

    return f"""
    WITH {ivfpq_adc_ctes(cand_filter_sql="AND NOT (a.vec_id % 7 = 3)")}
    SELECT query_id, neighbor_id, adc_dist, rk
    FROM ivf_rank
    ORDER BY query_id, rk
    """


@query("ann_index_delete_topk", oracle=_ivfpq_delete_oracle())
def ann_index_delete_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ search AFTER deletion propagation: full corpus indexed,
    ``vec_id % 7 == 3`` tombstoned, default workload served.  Oracle =
    the full replay with deleted ids excluded from candidates — hash
    equality proves forgotten vectors are never served and surviving
    ranks shift exactly as a from-scratch reduced index would."""
    path = _ensure_deleted_index(spark, sf_dir, vacuum=False)
    return search_ivfpq_index(spark, sf_dir, path)


@query("ann_index_delete_vacuum_topk", oracle=_ivfpq_delete_oracle())
def ann_index_delete_vacuum_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same deletion physically PURGED through compaction (rewrite
    minus tombstones, max-batch encoding wins, tombstones cleared).
    Shares ``ann_index_delete_topk``'s oracle — logical ≡ physical."""
    path = _ensure_deleted_index(spark, sf_dir, vacuum=True)
    return search_ivfpq_index(spark, sf_dir, path)


# --- materialized OPQ index (round 9): the learned-rotation PQ family
# deployed as a persisted, probe-pruned store — the serving shape of
# ann_opq_adc_topk.  The rotation + codebooks train once per corpus
# (driver-side, bounded sample — queries/mmdata.py:opq_train_np) and
# PERSIST as sidecars (``_rotation``, ``_codebook``) next to the
# ``cid=/batch=`` OPQ-code partitions, so a fresh session serves from
# the artifacts without retraining (the unigram-vocab contract); cells
# come from the same frozen raw-space coarse quantizer the IVF+PQ index
# uses, so the probe route is ranked exactly as every other
# index-served path ranks it (mmdata._route_np).  The sidecars are a few KB
# of driver-side numbers, so they are written and read with pyarrow on
# the driver (sinks.write_sidecar/read_sidecar): no Spark job and no
# hidden-path scan for either.
# Rows-only registration (the rotation's SVD has no SQL twin); store ≡
# in-session-math equality and tombstone-delete behavior are pinned in
# tests/test_ann_index.py. ---
_OPQ_INDEX_FORMAT = 1
_OPQ_INDEX = replace(_INDEX, fmt=_OPQ_INDEX_FORMAT)


def build_opq_index(
    spark: SparkSession, sf_dir: str, path: str, *, batch: int = 0, batch_pred=None
) -> str:
    """Train (or reuse) the OPQ artifacts, persist them as sidecars, and
    encode (a batch of) the corpus into ``cid=/batch=`` code partitions
    — one rotate+encode projection per vector, zero shuffle beyond the
    partitioned write."""
    import pyarrow as pa  # noqa: PLC0415

    from columnflow_spark.queries.mmdata import opq_encoder, opq_train_np

    R, cms = opq_train_np(spark, sf_dir)
    vecs = pa.list_(pa.float64())
    write_sidecar(path, "_rotation", pa.table({
        "i": pa.array(range(R.shape[0]), pa.int32()),
        "row": pa.array([[float(x) for x in r] for r in R], vecs),
    }))
    keys = [(s, ci) for s in range(_PQ_M) for ci in range(_PQ_K)]
    write_sidecar(path, "_codebook", pa.table({
        "sub": pa.array([s for s, _ in keys], pa.int32()),
        "code": pa.array([ci for _, ci in keys], pa.int32()),
        "c": pa.array([[float(x) for x in cms[s][ci]] for s, ci in keys], vecs),
    }))
    return _encode_corpus(
        spark, sf_dir, _OPQ_INDEX, opq_encoder(spark, sf_dir), path, batch=batch,
        batch_pred=batch_pred,
    )


def load_opq_artifacts(path: str):
    """``(R, cms)`` read back from the persisted sidecars — serving NEVER
    retrains (a fresh session must produce bit-identical search results
    from the store alone).  Both reads are driver-side pyarrow: no Spark
    job."""
    import numpy as np  # noqa: PLC0415

    rot = read_sidecar(path, "_rotation").to_pydict()
    R = np.array(rot["row"], dtype=np.float64)[np.argsort(rot["i"])]
    cb = read_sidecar(path, "_codebook").to_pydict()
    cms = [np.zeros((_PQ_K, len(cb["c"][0])), dtype=np.float64) for _ in range(_PQ_M)]
    for s, ci, c in zip(cb["sub"], cb["code"], cb["c"]):
        cms[s][ci] = np.array(c, dtype=np.float64)
    return R, cms


def _ensure_opq_index(spark: SparkSession, sf_dir: str) -> str:
    return ensure_store(
        store_path(sf_dir, "embeddings", "opq_index", f"opq-v{_OPQ_INDEX_FORMAT}"),
        lambda p: build_opq_index(spark, sf_dir, p),
    )


def opq_lut_rows(path: str, qid, q) -> list[tuple[int, int, int, float]]:
    """``(query_id, sub, code, d)`` ADC lookup rows of the query vectors
    ``q``: they rotate through the PERSISTED rotation and score against
    the persisted codebooks with the engine's folds
    (mmdata.grid_lut_rows)."""
    import numpy as np  # noqa: PLC0415

    R, cms = load_opq_artifacts(path)
    return grid_lut_rows(qid, q.astype(np.float64) @ R, [range(_PQ_K)] * _PQ_M, cms)


def search_opq_index(
    spark: SparkSession, sf_dir: str, path: str, query_pred=None, topk: int = 5
) -> DataFrame:
    """Probe-pruned ADC top-k over the persisted OPQ index, planned on
    the driver from ONE probe collect (mmdata._probe_batch, as
    mmdata.ivfpq_probe_plan): the route comes from the SHARED raw-space
    coarse quantizer, the LUT rows from the persisted artifacts
    (:func:`opq_lut_rows`), and the read is the same scatter-gather as
    :func:`search_ivfpq_index`."""
    qid, q, cid, c = _probe_batch(spark, sf_dir, query_pred)
    route, lut = _route_np(qid, q, cid, c, n_probe=2), opq_lut_rows(path, qid, q)
    return _probed_adc_topk(spark, path, route, lut, topk)


@query("ann_opq_materialized_topk")
def ann_opq_materialized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-probed ADC search over the PERSISTED OPQ index (build-once
    rotation/codebook/code artifacts, partition-pruned probe reads) —
    the serving deployment of the learned-rotation quantizer.  Rows-only
    (no SQL twin for the rotation); store-serving ≡ in-session-math and
    probe pruning are pinned in tests/test_ann_index.py."""
    path = _ensure_opq_index(spark, sf_dir)
    return search_opq_index(spark, sf_dir, path)
