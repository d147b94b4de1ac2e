"""Embedding-vector operators: similarity search, vector compression and
vector-space curation.

Brute-force cosine top-k, LSH-bucketed ANN and embedding-cosine near-dup
pairs, IVF (seeded and k-means-trained), PQ, OPQ, IVF-PQ with exact
refine, int8 and binary (sign) quantization with Hamming search, one
Lloyd k-means step, covariance/PCA, MMR diversification, hard-negative
mining and SemDeDup.  Session artifacts: ``pq_codebook``, ``ivfpq_adc``,
``pca_model``, ``ivf_trained_centroids`` and ``opq_model``.  The
persisted IVF-PQ/OPQ indexes that serve these codes live in
``queries/annindex.py``.

Scale notes:

- exact top-k broadcasts the (small) query set over the corpus — no
  shuffle of the corpus;
- LSH buckets first, so each bucket joins locally;
- IVF assigns every vector to its nearest cell once (the index build);
  a query probes only its top cells, so per-query work scales with
  corpus / n_cells;
- PQ/OPQ/IVF-PQ scan 8 sub-vector codes per vector against a per-query
  lookup table, never the float corpus.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnflow_spark.core import artifacts
from columnflow_spark.core.artifacts import artifact
from columnflow_spark.core.state import checkpoint_df, checkpoint_df_lazy
from columnflow_spark.functions.similarity import (
    chunked_self_pairs,
    cosine,
    hyperplane_signs,
    nearest_centroid_assign,
)
from columnflow_spark.functions.skew import salted_topk
from columnflow_spark.queries import query
from columnflow_spark.sources import load_table, spread
from columnflow_spark.sources.sinks import local_frame


# --- embedding-cosine near-dup pairs (exact, block-pair form) ---
@query(
    "dedup_embedding_cosine",
    oracle="""
    -- explicit sequential folds with per-element DOUBLE casts: the exact
    -- op sequence of functions/similarity.py:cosine, so the sim doubles
    -- are bit-identical on both engines (list_cosine_similarity's
    -- internal order diverged by 1 ulp at sf1); the emitted sim is
    -- integer-scaled to dodge the round(x, 4) fp-vs-BigDecimal tie
    WITH sims AS (
        SELECT a.vec_id AS v1, b.vec_id AS v2,
               list_aggregate(list_transform(range(1, 65),
                   j -> a.embedding[j]::DOUBLE * b.embedding[j]::DOUBLE), 'sum')
               / (sqrt(list_aggregate(list_transform(range(1, 65),
                      j -> a.embedding[j]::DOUBLE * a.embedding[j]::DOUBLE), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(1, 65),
                      j -> b.embedding[j]::DOUBLE * b.embedding[j]::DOUBLE), 'sum'))) AS sim
        FROM embeddings a
        JOIN embeddings b ON a.vec_id < b.vec_id
    )
    SELECT v1, v2, CAST(round(sim * 10000) AS BIGINT) AS sim
    FROM sims WHERE sim >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact threshold near-dup, distributed block-pair layout.

    The exact ``sim >= t`` all-pairs semantic is inherently O(n^2) compute
    here: t=0.4 sits inside the random-pair similarity distribution of this
    data (measured cross-label max 0.51, background ~N(0, 0.12)), so no
    candidate scheme — LSH included — has both 100% recall and sub-quadratic
    cost.  What must scale is the *plan shape*.  The naive
    ``a.join(b, v1 < v2)`` is a BroadcastNestedLoopJoin that ships the entire
    table to every executor (OOM at corpus scale, single broadcast hotspot).
    Block-pair form instead: hash vectors into B blocks, build the tiny
    B(B+1)/2 block-pair relation (broadcast), fan each vector out to the
    pairs containing its block (replication ~B/2 +1 rows per vector), then
    equi-join the two fan-outs on the pair id.  Work spreads evenly over
    block-pair tasks, per-task hash-side memory is bounded by n/B vectors,
    and B grows with the cluster — the standard distributed exact all-pairs
    (block matrix) layout.  The sub-quadratic *approximate* path is
    :func:`dedup_embedding_cosine_lsh`.
    """
    n_blocks = 8
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    emb = emb.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(n_blocks)))
    block_pairs = local_frame(
        spark,
        [(i, j, i * n_blocks + j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "i int, j int, pid int",
    )
    a = emb.join(
        F.broadcast(block_pairs), F.col("blk") == F.col("i")
    ).select("pid", "i", "j", F.col("vec_id").alias("va"), F.col("embedding").alias("ea"))
    b = emb.join(
        F.broadcast(block_pairs.select("j", "pid")), F.col("blk") == F.col("j")
    ).select(F.col("pid").alias("pid_b"), F.col("vec_id").alias("vb"), F.col("embedding").alias("eb"))
    cand = a.join(b, F.col("pid") == F.col("pid_b")).filter(
        # each unordered vector pair lands in exactly one unordered block
        # pair; on the diagonal keep one orientation
        (F.col("i") < F.col("j")) | (F.col("va") < F.col("vb"))
    )
    return (
        cand.withColumn("sim", cosine(F.col("ea"), F.col("eb")))
        .filter(F.col("sim") >= 0.4)
        .select(
            F.least("va", "vb").alias("v1"),
            F.greatest("va", "vb").alias("v2"),
            F.round(F.col("sim") * 10000, 0).cast("long").alias("sim"),
        )
    )


# --- hyperplane LSH shared by the embedding near-dup and the ANN paths.
# The random hyperplanes are a fixed driver-side constant (seeded), so
# the oracle recomputes the exact same bucket ids from the same literal
# plane weights — sign(dot) with identical sequential summation order on
# both engines (IEEE-754 determinism; same pattern as
# dedup_embedding_cosine). ---
def _lsh_planes() -> list[list[float]]:
    rng = random.Random(42)
    return [[rng.gauss(0, 1) for _ in range(64)] for _ in range(6)]


def _lsh_bkt_cte() -> str:
    """SQL CTE ``bkt(vec_id, embedding, bucket)``: every vector's
    hyperplane bucket, the oracle twin of :func:`hyperplane_signs`."""
    terms = []
    for i, plane in enumerate(_lsh_planes()):
        lits = ", ".join(repr(w) for w in plane)
        dot = (
            f"list_aggregate(list_transform(range(1, 65), "
            f"j -> embedding[j] * ([{lits}])[j]), 'sum')"
        )
        terms.append(f"(CASE WHEN {dot} >= 0 THEN {1 << i} ELSE 0 END)")
    bucket = "\n         + ".join(terms)
    return f"""bkt AS (
        SELECT vec_id, embedding, CAST({bucket} AS BIGINT) AS bucket
        FROM embeddings
    )"""


def _lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-bucketed vector pairs ``(bucket, v1, e1, v2, e2)`` with
    ``v1 < v2``: a local join per bucket, never a cross join."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    bucketed = emb.withColumn("bucket", hyperplane_signs(F.col("embedding"), _lsh_planes()))
    a = bucketed.select("bucket", F.col("vec_id").alias("v1"), F.col("embedding").alias("e1"))
    b = bucketed.select("bucket", F.col("vec_id").alias("v2"), F.col("embedding").alias("e2"))
    return a.join(b, ["bucket"]).filter(F.col("v1") < F.col("v2"))


@query(
    "dedup_embedding_cosine_lsh",
    oracle=f"""
    WITH {_lsh_bkt_cte()}
    SELECT e1.vec_id AS v1, e2.vec_id AS v2,
           round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 4) AS sim
    FROM bkt e1 JOIN bkt e2 ON e1.bucket = e2.bucket AND e1.vec_id < e2.vec_id
    WHERE list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]) >= 0.4
    """,
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate (SemDeDup-style) embedding near-dup: hyperplane-LSH
    buckets as candidate generator, exact cosine verify within buckets only.
    Bucket-key equi-join → candidates shrink from n²/2 to Σ|bucket|²/2 with
    no full-table broadcast; recall is the sign-LSH collision probability
    (1 - θ/π)^k per pair — the production trade for sub-quadratic cost.  The
    oracle recomputes the identical buckets from the same literal plane
    weights (IEEE-754-deterministic), so the compare is exact."""
    return (
        _lsh_candidates(spark, sf_dir).withColumn("sim", cosine(F.col("e1"), F.col("e2")))
        .filter(F.col("sim") >= 0.4)
        .select("v1", "v2", F.round("sim", 4).alias("sim"))
    )


# --- similarity search: exact brute-force top-k (baseline) ---
@query(
    "ann_cosine_topk",
    oracle="""
    WITH sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM embeddings q
        JOIN embeddings c ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS sim, rk
    FROM (
        SELECT query_id, neighbor_id, sim,
               row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rk
        FROM sims
    )
    WHERE rk <= 5
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 per probe — the ANN recall baseline.

    Plan shape: the small probe set broadcasts over the corpus (the
    corpus never shuffles into the score join), and the per-query rank is
    the two-phase salted top-k (functions/skew.py) — phase 1 ranks within
    (query_id, salt) so each of the |queries| hot window keys spreads
    over n_salt tasks instead of putting the WHOLE corpus through one
    sort task per query; phase 2 ranks the <= n_salt·k survivors.
    Identical results (top-k is reduction-safe), no single-task
    corpus-sized sort at any scale."""

    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    queries_df = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    # broadcast the small query set over the corpus: the corpus never shuffles
    joined = emb.join(F.broadcast(queries_df), F.col("vec_id") != F.col("query_id"))
    sims = joined.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("q"), F.col("embedding")).alias("sim"),
    )
    top = salted_topk(
        sims,
        ["query_id"],
        [F.desc("sim"), F.asc("neighbor_id")],
        5,
        salt_src=F.col("neighbor_id"),
    )
    return top.select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rk")


# --- similarity search: LSH-bucketed ANN (the scale path): the same
# hyperplane buckets as dedup_embedding_cosine_lsh, top-3 per vector. ---
@query(
    "ann_lsh_buckets",
    oracle=f"""
    WITH {_lsh_bkt_cte()},
    pairs AS (
        SELECT e1.bucket AS bucket, e1.vec_id AS v1, e2.vec_id AS v2,
               round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 4) AS sim
        FROM bkt e1 JOIN bkt e2 ON e1.bucket = e2.bucket AND e1.vec_id < e2.vec_id
    ),
    ranked AS (
        SELECT *, row_number() OVER (PARTITION BY v1 ORDER BY sim DESC, v2 ASC) AS rk
        FROM pairs
    )
    SELECT bucket, v1, v2, sim, CAST(rk AS INTEGER) AS rk
    FROM ranked WHERE rk <= 3 ORDER BY v1, rk
    """,
)
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = _lsh_candidates(spark, sf_dir)
    sims = cand.select("bucket", "v1", "v2", F.round(cosine(F.col("e1"), F.col("e2")), 4).alias("sim"))
    w = W.partitionBy("v1").orderBy(F.desc("sim"), F.asc("v2"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .orderBy("v1", "rk")
    )


# --- embedding stats (array-column numeric aggregation) ---
@query(
    "embedding_norm_stats",
    oracle="""
    SELECT label,
           count(*) AS n,
           round(avg(sqrt(list_aggregate(list_transform(embedding::DOUBLE[], x -> x * x), 'sum'))), 4) AS mean_l2,
           round(avg(list_aggregate(embedding::DOUBLE[], 'sum')), 4) AS mean_comp_sum
    FROM embeddings
    GROUP BY label
    """,
)
def embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", columns=["label", "embedding"])
    e = F.col("embedding")
    l2 = F.sqrt(F.aggregate(e, F.lit(0.0), lambda a, x: a + (x * x).cast("double")))
    comp_sum = F.aggregate(e, F.lit(0.0), lambda a, x: a + x.cast("double"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(l2), 4).alias("mean_l2"),
        F.round(F.avg(comp_sum), 4).alias("mean_comp_sum"),
    )


# --- similarity search: IVF-style ANN (the 100 TB scale path).  Broadcast
# the small centroid table; assign every corpus vector to its nearest cell
# ONCE (this is the "index build" — at scale it is written out partitioned
# by cell); queries probe only their top-2 cells, so per-query work scales
# with corpus/n_cells, not corpus.  Deterministic centroid choice gives the
# op an exact SQL twin; recall vs the brute-force baseline is asserted in
# tests. ---
def _ivf_norm(c):
    return F.sqrt(F.aggregate(c, F.lit(0.0), lambda s, v: s + (v * v).cast("double")))


def _ivf_cents(emb: DataFrame) -> DataFrame:
    """``(cid, ce, nb)``: IVF cell centroids (every 64th vector) with the
    L2 norm precomputed ONCE — probe scoring then costs one dot product
    per (query, cell) pair, not three array reductions."""
    return emb.filter(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        _ivf_norm(F.col("embedding")).alias("nb"),
    )


def _pred_fingerprint(pred) -> str:
    """Canonical fingerprint of a batch-selecting Column predicate: the
    JVM expression string (`str(Column)` renders the resolved-ish
    expression tree, e.g. ``Column<'((vec_id % 100) = 7)'>``), which is
    identical for structurally-equal predicates and differs whenever the
    selected batch could."""
    return "default" if pred is None else str(pred)


def _probe_batch(spark: SparkSession, sf_dir: str, query_pred):
    """The one bounded collect a served read plans from: the query batch
    (``query_pred`` on vec_id; default the fixed ``vec_id % 100 == 7``
    workload) plus the every-64th centroid rows, as ``(query ids, query
    matrix, cell ids, centroid matrix)`` sorted by id, float32 as stored.
    No ``spread``: a filter plus a collect needs no shuffle."""
    import numpy as np  # noqa: PLC0415

    if query_pred is None:
        query_pred = F.col("vec_id") % 100 == 7
    is_q = F.coalesce(query_pred, F.lit(False))
    is_c = F.col("vec_id") % 64 == 0
    rows = sorted(
        load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
        .filter(is_q | is_c)
        .select("vec_id", "embedding", is_q.alias("q"), is_c.alias("c"))
        .collect(),
        key=lambda r: r.vec_id,
    )

    dim = len(rows[0].embedding) if rows else 0

    def side(flag: str):
        sel = [r for r in rows if r[flag]]
        ids = np.array([r.vec_id for r in sel], dtype=np.int64)
        return ids, np.array([r.embedding for r in sel], dtype=np.float32).reshape(len(sel), dim)

    return (*side("q"), *side("c"))


def _route_np(qid, q, cid, c, n_probe: int) -> list[tuple[int, int]]:
    """``(query_id, cid)`` rows of each query's top-``n_probe`` cells,
    equal to :func:`_ivf_probes` row for row: products in float32 widened
    to double and folded dimension by dimension from 0.0 (the
    ``F.aggregate(F.zip_with(...))`` order), ``csim = dot / (qn * nb)``,
    ordered by ``(csim desc, cid asc)``."""
    import numpy as np  # noqa: PLC0415

    def fold(a, b):
        acc = np.zeros((a.shape[0], b.shape[0]))
        for j in range(a.shape[1]):
            acc += (a[:, None, j] * b[None, :, j]).astype(np.float64)
        return acc

    def norm(a):
        acc = np.zeros(a.shape[0])
        for j in range(a.shape[1]):
            acc += (a[:, j] * a[:, j]).astype(np.float64)
        return np.sqrt(acc)

    csim = fold(q, c) / (norm(q)[:, None] * norm(c)[None, :])
    return [
        (int(qid[i]), int(cid[k]))
        for i, row in enumerate(csim)
        for k in np.lexsort((cid, -row))[:n_probe]
    ]


def _lut_np(spark: SparkSession, sf_dir: str, qid, q) -> list[tuple[int, int, int, float]]:
    """``(query_id, sub, code, d)`` ADC lookup rows, equal to
    :func:`_pq_query_lut` row for row (see :func:`grid_lut_rows`)."""
    import numpy as np  # noqa: PLC0415

    codes, cmats = _pq_train_np(spark, sf_dir)
    return grid_lut_rows(qid, q.astype(np.float64), codes, cmats)


def grid_lut_rows(qid, x, codes, cmats) -> list[tuple[int, int, int, float]]:
    """``(query_id, sub, code, d)`` ADC lookup rows of the query vectors
    ``x`` (float64, raw scale; OPQ passes them rotated) against the
    sub-space codebooks ``cmats`` whose rows are ``codes``: the encoder's
    grid ``sign(y)*floor(|y|+0.5)``, sequential :func:`_seq_sqdist`
    distances, and each entry rounded half-up exactly as
    ``r = floor(x); r + (x - r >= 0.5)`` (``floor(x + 0.5)`` carries at
    fp knife edges)."""
    import numpy as np  # noqa: PLC0415

    y = x * _PQ_GRID
    t = np.sign(y) * np.floor(np.abs(y) + 0.5)
    subd = []
    for s in range(_PQ_M):
        d = _seq_sqdist(t[:, s * _PQ_DIM:(s + 1) * _PQ_DIM], cmats[s])
        r = np.floor(d)
        subd.append(r + (d - r >= 0.5))
    return [
        (int(qid[i]), s, int(code), float(subd[s][i, k]))
        for i in range(len(qid))
        for s in range(_PQ_M)
        for k, code in enumerate(codes[s])
    ]


def ivfpq_probe_plan(spark: SparkSession, sf_dir: str, query_pred, n_probe: int = 2):
    """``(route, lut)`` of a served IVF-PQ read, planned on the driver
    from ONE bounded collect (:func:`_probe_batch`): the probe route
    (:func:`_route_np`) and the quantized ADC lookup table
    (:func:`_lut_np`), both equal to the in-plan :func:`_ivf_probes` and
    :func:`_pq_query_lut` that the in-session compute queries keep."""
    qid, q, cid, c = _probe_batch(spark, sf_dir, query_pred)
    return _route_np(qid, q, cid, c, n_probe), _lut_np(spark, sf_dir, qid, q)


def ivf_probe_route(
    spark: SparkSession,
    sf_dir: str,
    *,
    n_probe: int = 2,
    query_pred=None,
    route_key=None,
) -> list[tuple[int, int]]:
    """``(query_id, cid)`` probe route for a query batch, the route half
    of :func:`ivfpq_probe_plan` (one bounded collect, numpy ranking);
    cached when the caller names its batch via ``route_key``.  The key
    folds in the predicate's canonical expression string, so a caller
    reusing an existing route_key with a DIFFERENT predicate misses the
    cache instead of silently serving the wrong batch's route (ADVICE
    r8 — the docstring contract alone was the only guard).

    Named routes are the ``ivf_probe_route`` session artifact: a FIXED
    query batch routes identically on every invocation, so the
    index-served paths that share a batch (hybrid RRF dense arm, routed
    MaxSim, the default ANN workload) pay the routing collect once per
    session instead of once per call (VERDICT r7 next #4).  A NEW batch
    (different route_key) always routes fresh."""

    def build() -> list[tuple[int, int]]:
        return _route_np(*_probe_batch(spark, sf_dir, query_pred), n_probe)

    if route_key is None:
        return build()
    return artifacts.get(
        "ivf_probe_route", spark, sf_dir, build,
        (route_key, n_probe, _pred_fingerprint(query_pred)),
    )


def pq_query_lut_cached(
    spark: SparkSession, sf_dir: str, query_pred, *, lut_key
) -> list[tuple[int, int, int, float]]:
    """ADC lookup rows of a named query batch, the LUT half of
    :func:`ivfpq_probe_plan` kept as the ``pq_query_lut`` session
    artifact per (lut_key, predicate): a fixed query batch's LUT is
    |batch| x M x K quantized integers — the driver artifact ADC serving
    systems precompute once per batch.  Only the index-SERVED paths plan
    on the driver (the in-session compute queries keep the LUT in-plan so
    their bench lines keep the build cost)."""

    def build() -> list[tuple[int, int, int, float]]:
        qid, q, _, _ = _probe_batch(spark, sf_dir, query_pred)
        return _lut_np(spark, sf_dir, qid, q)

    return artifacts.get(
        "pq_query_lut", spark, sf_dir, build, (lut_key, _pred_fingerprint(query_pred))
    )


def _ivf_probes(
    emb: DataFrame, cents: DataFrame, n_probe: int = 2, query_pred=None
) -> DataFrame:
    """``(query_id, cid, q)``: each query's top-``n_probe`` cells by
    cosine.  Norms precomputed per side before the query x cell score
    join; ``dot / (qn * nb)`` is the exact same value and operation order
    as :func:`cosine`, so the oracle's list_cosine_similarity ranking is
    reproduced bit-for-bit.  ``query_pred`` selects the probe batch
    (default: the fixed ``vec_id % 100 == 7`` workload)."""
    if query_pred is None:
        query_pred = F.col("vec_id") % 100 == 7
    queries_df = emb.filter(query_pred).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q"),
        _ivf_norm(F.col("embedding")).alias("qn"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("q"), F.col("ce"), lambda x, y: (x * y).cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    qscored = queries_df.join(F.broadcast(cents)).withColumn(
        "csim", dot / (F.col("qn") * F.col("nb"))
    )
    wq = W.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("cid"))
    return (
        qscored.withColumn("rn", F.row_number().over(wq))
        .filter(F.col("rn") <= n_probe)
        .select("query_id", "cid", "q")
    )


def _ivf_topk(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Cosine top-5 per probe query over the vectors of its 2 probed
    cells of ``cents`` (``cid, ce, nb``).

    Index build: nearest-centroid assignment fully map-side
    (nearest_centroid_assign: bounded centroid set baked into an
    Arrow-batched numpy-matmul UDF).  Zero per-centroid row fan-out and
    zero groupBy(vec_id) shuffle: the assignment is a pure projection
    over the scan, which is what survives a 100x corpus.  Tie-break
    (higher csim, then lower cid) matches the oracle's window.  Query
    side: the probes are tiny, so they broadcast."""
    assign = nearest_centroid_assign(emb, cents.select("cid", "ce"))
    probes = _ivf_probes(emb, cents)
    cand = assign.join(F.broadcast(probes), "cid").filter(F.col("vec_id") != F.col("query_id"))
    sims = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        cosine(F.col("q"), F.col("embedding")).alias("sim"),
    )
    wr = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        sims.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rk")
    )


@query(
    "ann_ivf_topk",
    oracle="""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id % 64 = 0
    ),
    assign AS (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce) DESC, c.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.ce) DESC, c.cid
                   ) AS rn
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id % 100 = 7
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probes p JOIN assign a ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, round(sim, 4) AS sim, rk FROM (
        SELECT c.query_id, c.neighbor_id,
               list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS sim,
               row_number() OVER (
                   PARTITION BY c.query_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                            c.neighbor_id
               ) AS rk
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.query_id
        JOIN embeddings n ON n.vec_id = c.neighbor_id
    ) WHERE rk <= 5
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    return _ivf_topk(emb, _ivf_cents(emb))


# --- distributed k-means (one Lloyd iteration): the index-build
# primitive behind IVF — assignment is an argmax over broadcast
# centroids (max_by partial agg, same shape as ann_ivf_topk), the
# update step computes elementwise centroid means via posexplode +
# two-level aggregation.  Iterating is a driver loop over this step with
# localCheckpoint between rounds; one step is deterministic and
# oracle-checkable.  Output: per cell, member count and the L2 norm of
# the new mean vector. ---
@query(
    "kmeans_lloyd_step",
    oracle="""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 64 = 0
    ),
    s AS (
        SELECT e.vec_id, c.cid,
               list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) AS sim
        FROM embeddings e CROSS JOIN c
    ),
    a AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM s
        ) WHERE rn = 1
    ),
    n AS (SELECT cid, count(*) AS n_assigned FROM a GROUP BY cid),
    d AS (
        SELECT a.cid,
               unnest(e.embedding) AS val,
               generate_subscripts(e.embedding, 1) AS pos
        FROM a JOIN embeddings e USING (vec_id)
    ),
    m AS (SELECT cid, pos, avg(val::DOUBLE) AS mv FROM d GROUP BY cid, pos)
    SELECT m.cid, any_value(n.n_assigned) AS n_assigned,
           round(sqrt(sum(mv * mv)), 4) AS mean_norm
    FROM m JOIN n ON n.cid = m.cid
    GROUP BY m.cid
    """,
)
def kmeans_lloyd_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    # map-side assignment (nearest_centroid_assign): the bounded centroid
    # set is baked into an Arrow-batched numpy-matmul UDF, so assignment
    # is a pure projection — no x n_centroids row fan-out, no
    # groupBy(vec_id) shuffle.  At large K the fan-out form's pre-shuffle
    # row multiplication dominates; this form's per-row cost is one BLAS
    # matvec.
    cents = emb.filter(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    assign = nearest_centroid_assign(emb, cents)
    n = assign.groupBy("cid").agg(F.count(F.lit(1)).alias("n_assigned"))
    d = assign.select("cid", F.posexplode("embedding").alias("pos0", "val"))
    m = d.groupBy("cid", F.col("pos0") + 1).agg(
        F.avg(F.col("val").cast("double")).alias("mv")
    )
    out = m.groupBy("cid").agg(
        F.round(F.sqrt(F.sum(F.col("mv") * F.col("mv"))), 4).alias("mean_norm")
    )
    return out.join(n, "cid").select("cid", "n_assigned", "mean_norm")


# --- int8 embedding quantization (the storage/serving compression step):
# per-vector symmetric scale = max|x| / 127, elementwise round(x/scale).
# Everything is in-row HOF math over the (already double-cast) vector, so
# the only shuffle is the final per-label agg; checksums are integer so
# the oracle comparison is exact. ---
@query(
    "embedding_quantize_int8",
    oracle="""
    WITH q AS (
        SELECT label,
               list_aggregate(list_transform(emb, x -> abs(x)), 'max') / 127.0 AS scale,
               emb
        FROM (
            SELECT label, list_transform(embedding, x -> x::DOUBLE) AS emb
            FROM embeddings
        )
    )
    SELECT label,
           count(*) AS n_vecs,
           CAST(sum(list_aggregate(list_transform(emb, x -> round(x / scale)), 'sum')) AS BIGINT)
               AS sum_quant,
           round(avg(scale), 4) AS avg_scale
    FROM q
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings", columns=["label", "embedding"]).withColumn(
        "emb", F.transform("embedding", lambda x: x.cast("double"))
    )
    scale = (
        F.array_max(F.transform("emb", lambda x: F.abs(x))) / F.lit(127.0)
    )
    q = emb.withColumn("scale", scale).withColumn(
        "qsum",
        F.aggregate(
            F.transform("emb", lambda x: F.round(x / F.col("scale"))),
            F.lit(0.0),
            lambda a, x: a + x,
        ),
    )
    return (
        q.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("qsum").cast("long").alias("sum_quant"),
            F.round(F.avg("scale"), 4).alias("avg_scale"),
        )
        .orderBy("label")
    )


# --- product quantization: encode + asymmetric-distance search (the
# compression layer real ANN systems put under IVF: vectors become m
# uint8 codes against per-subspace codebooks; queries scan codes with a
# per-subspace distance lookup table instead of raw floats — memory drops
# 32x and the scan is table-additions).  Sub-codebooks are Lloyd-TRAINED
# (2 iterations per subspace, seeded from the first K vectors'
# sub-vectors) on an integer grid: every component is quantized to
# round(x * 1000) first, so cluster means are exact-integer-sums / counts
# — bit-identical in IEEE double on BOTH engines regardless of partial
# aggregation order — and every argmin decision of the training chain
# reproduces exactly in the SQL oracle.  m=8 subspaces x 8 dims, K=16
# codes, grid step 1e-3 (~1e-7 relative quantization error on unit-scale
# embeddings — far below centroid separation). ---
_PQ_M = 8
_PQ_DIM = 8
_PQ_K = 16
_PQ_GRID = 1000
_PQ_ITERS = 2
_PQ_SAMPLE = 512  # training-sample bound (vec_id < bound): PQ codebooks
# train on a bounded sample, never the full corpus — the artifact is
# K*m centroids regardless of corpus size


def _pq_assign_sql(t_rel: str, cb_rel: str) -> str:
    """SQL: nearest-code assignment of quantized sub-vectors ``t_rel``
    (vec_id, sub, t) against codebook ``cb_rel`` (sub, code, c) — squared
    L2 on the grid, ties to the lowest code."""
    return f"""
        SELECT vec_id, sub, code, t FROM (
            SELECT t.vec_id, t.sub, cb.code, t.t,
                   row_number() OVER (PARTITION BY t.vec_id, t.sub ORDER BY
                       list_aggregate(list_transform(range(1, {_PQ_DIM + 1}),
                           j -> (t.t[j] - cb.c[j]) * (t.t[j] - cb.c[j])), 'sum'),
                       cb.code) AS rn
            FROM {t_rel} t JOIN {cb_rel} cb ON cb.sub = t.sub
        ) WHERE rn = 1"""


def _pq_train_ctes(iters: int = _PQ_ITERS) -> str:
    """SQL CTE chain reproducing the integer-grid Lloyd training exactly:
    quantized sub-vectors -> seed codebook (first K) -> per-iteration
    assignment (over the bounded training sample) + exact-mean update
    (CAST(sum) AS BIGINT keeps the sum an integer — DuckDB sum(BIGINT) is
    HUGEINT — so the division reproduces an integer-sum / count mean
    bit-for-bit on any engine).  Materialized CTEs: DuckDB inlines by
    default, which re-runs every prior round exponentially."""
    parts = [
        f"""
    t AS MATERIALIZED (
        SELECT vec_id, s.s AS sub,
               list_transform(range(1, {_PQ_DIM + 1}),
                   j -> CAST(round(embedding[s.s * {_PQ_DIM} + j]::DOUBLE * {_PQ_GRID}) AS BIGINT)) AS t
        FROM embeddings CROSS JOIN (SELECT unnest(range({_PQ_M})) AS s) s
    ),
    ts AS MATERIALIZED (SELECT * FROM t WHERE vec_id < {_PQ_SAMPLE}),
    cb0 AS MATERIALIZED (
        SELECT sub, CAST(vec_id AS INT) AS code, list_transform(t, x -> x::DOUBLE) AS c
        FROM t WHERE vec_id < {_PQ_K}
    )"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f""",
    a{i} AS MATERIALIZED ({_pq_assign_sql('ts', f'cb{i - 1}')}
    ),
    m{i} AS MATERIALIZED (
        SELECT sub, code, j, CAST(sum(tv) AS BIGINT) / count(*) AS mv
        FROM (SELECT sub, code, unnest(t) AS tv, generate_subscripts(t, 1) AS j FROM a{i})
        GROUP BY sub, code, j
    ),
    cb{i} AS MATERIALIZED (
        SELECT cb.sub, cb.code,
               CASE WHEN m.c IS NULL THEN cb.c ELSE m.c END AS c
        FROM cb{i - 1} cb
        LEFT JOIN (SELECT sub, code, list(mv ORDER BY j) AS c FROM m{i} GROUP BY sub, code) m
               ON m.sub = cb.sub AND m.code = cb.code
    )"""
        )
    return "".join(parts)


def _pq_quantized_subs(emb: DataFrame) -> DataFrame:
    """``(vec_id, sub, t)``: each ``(vec_id, embedding)`` row exploded
    into its m sub-vectors, components quantized to the integer grid
    ``round(x * 1000)`` (exact longs — the representation the whole PQ
    chain trains and encodes on)."""
    tq = F.transform("embedding", lambda x: F.round(x.cast("double") * _PQ_GRID, 0).cast("long"))
    return emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[F.slice(tq, s * _PQ_DIM + 1, _PQ_DIM) for s in range(_PQ_M)])
        ).alias("sub", "t"),
    )


def pq_trained_codebook(spark: SparkSession, sf_dir: str, iters: int = _PQ_ITERS) -> DataFrame:
    """``(sub, code, c)``: per-subspace codebook after ``iters`` Lloyd
    iterations on the integer grid, seeded from the first K vectors and
    trained on the bounded sample ``vec_id < _PQ_SAMPLE``.

    The sample is collected once (bounded: sample_size x dim integers —
    PQ codebooks are always trained on a sample, the artifact is K*m
    centroids regardless of corpus size) and iterated in numpy.  Every
    step is engine-exact against the SQL replay: component sums are
    integer (int64) so the mean ``sum / count`` is the SAME double in any
    summation order on any engine; per-sub-vector distances sum 8 doubles
    sequentially (numpy stays sequential below its pairwise blocksize,
    matching list_aggregate / F.aggregate); argmin ties fall to the first
    (lowest) code; empty codes keep their previous centroid."""
    codes, cmats = _pq_train_np(spark, sf_dir, iters)
    return local_frame(
        spark,
        [
            (s, int(codes[s][ci]), [float(x) for x in cmats[s][ci]])
            for s in range(_PQ_M)
            for ci in range(len(codes[s]))
        ],
        "sub int, code int, c array<double>",
    )


def _seq_sqdist(x, c):
    """Squared L2 between rows of ``x`` (N x dim) and ``c`` (K x dim),
    accumulated DIMENSION BY DIMENSION: each output element's additions
    happen in ascending-j order, exactly the sequential fold the SQL
    replay's ``list_aggregate`` and the engine's ``F.aggregate`` use.
    A plain ``((x[:,None,:]-c[None,:,:])**2).sum(-1)`` lets numpy's
    SIMD/pairwise reduction reorder the 8 additions — bit-divergent from
    the SQL fold at distance near-ties, which flipped one training
    assignment at sf1 and drifted a codebook centroid."""
    import numpy as np  # noqa: PLC0415

    d = np.zeros((x.shape[0], c.shape[0]))
    for j in range(x.shape[1]):
        diff = x[:, None, j] - c[None, :, j]
        d += diff * diff
    return d


@artifact("pq_codebook")
def _pq_train_np(spark: SparkSession, sf_dir: str, iters: int = _PQ_ITERS):
    """Numpy Lloyd training on the collected sample (see
    :func:`pq_trained_codebook`): returns per-subspace ``(codes, cmat)``
    — code ids sorted ascending and their centroid matrix (K x dim
    float64).  The ``pq_codebook`` session artifact per iters: like the
    shingle/signature tables, the trained index artifact is built once
    per session and every PQ query (encode, ADC search) reuses it."""
    import numpy as np  # noqa: PLC0415

    # a filter plus a collect: no spread, so no shuffle (sorted below)
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    sample = _pq_quantized_subs(emb.filter(F.col("vec_id") < _PQ_SAMPLE)).collect()
    by_sub: dict[int, list] = {}
    for r in sorted(sample, key=lambda r: (r.sub, r.vec_id)):
        by_sub.setdefault(r.sub, []).append((r.vec_id, r.t))
    codes_out, cmats_out = [], []
    for s in range(_PQ_M):
        rows = by_sub.get(s, [])
        tmat = np.array([t for _, t in rows], dtype=np.int64)
        codes = np.array(sorted(vid for vid, _ in rows if vid < _PQ_K), dtype=np.int64)
        cmat = tmat[: len(codes)].astype(np.float64)
        for _ in range(iters):
            # assignment: squared L2 per (vector, code), first-min tie-break
            d = _seq_sqdist(tmat.astype(np.float64), cmat)
            assign = d.argmin(axis=1)
            for ci in range(len(codes)):
                members = tmat[assign == ci]
                if len(members):
                    # exact integer sums -> order-independent double mean
                    cmat[ci] = members.sum(axis=0, dtype=np.int64) / len(members)
        codes_out.append(codes)
        cmats_out.append(cmat)
    return codes_out, cmats_out


@query(
    "ann_pq_codes",
    oracle=f"""
    WITH {_pq_train_ctes()},
    af AS ({_pq_assign_sql('t', f'cb{_PQ_ITERS}')}
    )
    SELECT vec_id, array_to_string(list(CAST(code AS INT) ORDER BY sub), '-') AS codes
    FROM af GROUP BY vec_id ORDER BY vec_id
    """,
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding against the Lloyd-trained codebook as ONE vectorized
    projection: the (bounded, m x K x dim) trained codebook is baked into
    an Arrow-batched numpy UDF that quantizes each vector to the grid and
    argmins all m subspaces per batch with matrix arithmetic — no row
    fan-out, no shuffle, no per-element interpreted HOFs; the corpus is
    scanned exactly once (the same shape as nearest_centroid_assign).

    The oracle replays the ENTIRE training + encode chain in SQL and must
    land on identical integer codes — the integer-grid training makes
    that exact: quantization uses half-away rounding (floor(|y|+0.5),
    exact because y = float32 * 1000 and y + 0.5 are exactly
    representable), distances sum 8 doubles sequentially on both engines,
    ties fall to the lowest code.

    Codes are emitted as a dash-joined string ordered by subspace: a
    scalar cell keeps every downstream hash-compare implementation happy."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    encode = pq_encode_udf(spark, sf_dir)
    return emb.select("vec_id", encode("embedding").alias("codes")).orderBy("vec_id")


def pq_encode_udf(spark: SparkSession, sf_dir: str):
    """The Arrow-batched PQ encoder (vector -> dash-joined code string)
    with the trained codebook baked in — shared by :func:`ann_pq_codes`
    and the materialized index build (queries/annindex.py), so the
    persisted codes are bit-identical to the in-session ones."""
    import numpy as np  # noqa: PLC0415

    codes_arr, cmats = _pq_train_np(spark, sf_dir)

    @F.pandas_udf("string")
    def _encode(batch):
        x = np.vstack(batch.to_numpy()).astype(np.float64)
        y = x * _PQ_GRID
        t = np.sign(y) * np.floor(np.abs(y) + 0.5)  # half-away, exact
        cols = []
        for s in range(_PQ_M):
            sub = t[:, s * _PQ_DIM:(s + 1) * _PQ_DIM]
            d = _seq_sqdist(sub, cmats[s])
            cols.append(codes_arr[s][d.argmin(axis=1)])
        packed = np.stack(cols, axis=1)
        return pd.Series(["-".join(map(str, row)) for row in packed])

    return _encode


def _pq_exploded_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(vec_id, sub, code)``: the trained-codebook corpus codes exploded
    one row per subspace — the join-ready form of the PQ index."""
    return _explode_codes(ann_pq_codes.__wrapped__(spark, sf_dir))


def _explode_codes(codes: DataFrame) -> DataFrame:
    """``(vec_id, codes)`` -> ``(vec_id, sub, code)``, one row per subspace."""
    return codes.select(
        "vec_id",
        F.posexplode(F.split("codes", "-").cast("array<int>")).alias("sub", "code"),
    )


def _pq_query_lut(spark: SparkSession, sf_dir: str, query_pred) -> DataFrame:
    """``(query_id, sub, code, d)``: per-query ADC lookup table — query
    sub-vectors (rows selected by ``query_pred`` on vec_id) joined against
    the broadcast trained codebook, grid-space squared L2 per entry.  A
    DataFrame op with the same shape the corpus encode uses, so a
    10k-query batch builds its LUTs distributed, with no driver loop."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    qsubs = (
        _pq_quantized_subs(emb)
        .filter(query_pred)
        .select(F.col("vec_id").alias("query_id"), "sub", F.col("t").alias("qs"))
    )
    return _adc_lut(qsubs, pq_trained_codebook(spark, sf_dir))


def _adc_lut(qsubs: DataFrame, codebook: DataFrame) -> DataFrame:
    """``(query_id, sub, code, d)``: query sub-vectors ``(query_id, sub,
    qs)`` scored against every ``(sub, code, c)`` codebook entry, the
    codebook broadcast.

    LUT entries are QUANTIZED to integers (round 0) — the standard ADC
    quantized-lookup-table trick, and the reason the downstream sum(d)
    is exact in ANY summation order on any engine (the sf1 sweep caught
    the unquantized 8-double sum diverging by 1 ulp between Spark's and
    DuckDB's fold orders at a rounding knife edge)."""
    subd = F.aggregate(
        F.zip_with("qs", "c", lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return qsubs.join(F.broadcast(codebook), "sub").select(
        "query_id", "sub", "code", F.round(subd, 0).alias("d")
    )


def _adc_topk(exploded: DataFrame, lut: DataFrame) -> DataFrame:
    """ADC top-5 of every LUT query over the exploded corpus codes: each
    candidate's ``sum_d`` is the sum of its m table entries, then
    :func:`_adc_rank`.

    Distances are computed on the integer grid (magnitude ~GRID² larger
    than raw units) and divided back down before rounding, so the
    compare tolerance stays absolute at raw scale — the m-term sum's
    floating-point order is partial-aggregation-dependent."""
    adc = (
        exploded.join(F.broadcast(lut), ["sub", "code"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("sum_d"))
    )
    return _adc_rank(adc)


def _adc_rank(adc: DataFrame) -> DataFrame:
    """``(query_id, neighbor_id, sum_d)`` -> the top-5 per query as
    ``(query_id, neighbor_id, adc_dist, rk)``, ranked by ``(adc_dist,
    neighbor_id)``.

    ``adc_dist`` is an integer-scaled distance with ONE division before
    the round: sum_d is an exact integer-valued double, sum_d/100 is the
    identical double on every engine, and .5 ties round half-up on both
    — no BigDecimal-vs-float or compound-fp-op divergence at any sf (the
    sf1 sweep caught round(x, 4) ties diverging)."""
    adc_scaled = F.round(F.col("sum_d") / F.lit(100.0), 0).cast("long")
    win = W.partitionBy("query_id").orderBy(adc_scaled, F.asc("neighbor_id"))
    return (
        adc.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", adc_scaled.alias("adc_dist"), "rk")
        .orderBy("query_id", "rk")
    )


@query(
    "ann_pq_adc_topk",
    oracle=f"""
    WITH {_pq_train_ctes()},
    best AS MATERIALIZED ({_pq_assign_sql('t', f'cb{_PQ_ITERS}')}
    ),
    lut AS (
        SELECT t.vec_id AS query_id, t.sub, cb.code,
               round(list_aggregate(list_transform(range(1, {_PQ_DIM + 1}),
                   j -> (t.t[j] - cb.c[j]) * (t.t[j] - cb.c[j])), 'sum')) AS d
        FROM t JOIN cb{_PQ_ITERS} cb ON cb.sub = t.sub
        WHERE t.vec_id < 50
    ),
    adc AS (
        SELECT l.query_id, b.vec_id AS neighbor_id,
               sum(l.d) AS sum_d
        FROM best b JOIN lut l ON l.sub = b.sub AND l.code = b.code
        WHERE b.vec_id <> l.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, neighbor_id, CAST(round(sum_d / 100) AS BIGINT) AS adc_dist, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY round(sum_d / 100), neighbor_id) AS rk
        FROM adc
    )
    WHERE rk <= 5
    ORDER BY query_id, rk
    """,
)
def ann_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric-distance search over PQ codes (trained codebook): per
    query, an m x K distance lookup table (query sub-vector vs codebook),
    then each candidate's approximate distance is the sum of m table
    entries addressed by its codes — the corpus is scanned as codes only,
    the float vectors never move.  The LUT is a DataFrame op (posexplode
    query sub-vectors x broadcast codebook — the same shape the corpus
    encode uses), so a 10k-query batch builds its LUTs distributed, with
    no driver loop anywhere.  Distances live on the quantized grid (the
    space the codebook was trained in); ranking on the rounded distance
    keeps the argsort stable across engines."""
    return _adc_topk(
        _pq_exploded_codes(spark, sf_dir), _pq_query_lut(spark, sf_dir, F.col("vec_id") < 50)
    )


# --- embedding pooling: per-label elementwise centroid (the mean-pooled
# class/chunk embedding of retrieval pipelines; also the per-cluster
# summary after dedup).  Same distributed shape as the kmeans update:
# posexplode to (label, pos, val), two-level aggregation — shuffle
# carries label x dim rows, never vectors x dim. ---
@query(
    "embedding_label_centroids",
    oracle="""
    WITH d AS (
        SELECT label, unnest(embedding) AS val, generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    ),
    m AS (SELECT label, pos, avg(val::DOUBLE) AS mv FROM d GROUP BY label, pos),
    c AS (SELECT label, round(sqrt(sum(mv * mv)), 4) AS centroid_norm FROM m GROUP BY label),
    n AS (SELECT label, count(*) AS n_vectors FROM embeddings GROUP BY label)
    SELECT c.label, n.n_vectors, c.centroid_norm
    FROM c JOIN n USING (label)
    ORDER BY label
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["label", "embedding"]))
    n = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n_vectors"))
    d = emb.select("label", F.posexplode("embedding").alias("pos0", "val"))
    m = d.groupBy("label", (F.col("pos0") + 1).alias("pos")).agg(
        F.avg(F.col("val").cast("double")).alias("mv")
    )
    c = m.groupBy("label").agg(
        F.round(F.sqrt(F.sum(F.col("mv") * F.col("mv"))), 4).alias("centroid_norm")
    )
    return c.join(n, "label").select("label", "n_vectors", "centroid_norm").orderBy("label")


# --- IVF + PQ composed (the production ANN layout: FAISS-style IVF-PQ).
# The index is (cell id, PQ codes) per vector — the float corpus never
# moves at query time: queries probe their top-2 cells (broadcast
# centroids, cosine — same cell geometry as ann_ivf_topk) and ADC-score
# ONLY the probed cells' code rows against a broadcast per-query LUT
# (trained codebook, same chain as ann_pq_adc_topk).  Per-query work is
# corpus/n_cells code additions; memory is codes not floats — the two
# scale levers composed.  The oracle replays cell assignment, codebook
# training, encoding, probing and ADC scoring in one SQL chain. ---
#: shared with the materialized-index sibling (queries/annindex.py): the
#: persisted index must produce bit-identical search results, so both
#: register the same SQL replay.
def ivfpq_adc_ctes(
    query_pred_sql: str = "vec_id %% 100 = 7",
    n_probe: int = 2,
    topk: int = 5,
    cand_filter_sql: str = "",
) -> str:
    """SQL CTE chain (no leading ``WITH``) replaying the probed IVF+PQ
    ADC search, ending at ``ivf_rank(query_id, neighbor_id, adc_dist,
    rk)``.  ``query_pred_sql`` is a predicate template over the
    placeholder ``%s`` (substituted with the qualified vec_id column) so
    composite oracles (``hybrid_search_rrf_indexed``) can swap the probe
    batch; ``cand_filter_sql`` narrows the CANDIDATE side (the index-
    deletion oracle excludes tombstoned vectors, e.g. ``"AND NOT
    (a.vec_id % 7 = 3)"``); defaults reproduce ``IVFPQ_ORACLE``
    exactly."""
    q_pred = query_pred_sql.replace("%s", "q.vec_id").replace("%%", "%")
    t_pred = query_pred_sql.replace("%s", "t.vec_id").replace("%%", "%")
    return f"""{_pq_train_ctes()},
    best AS MATERIALIZED ({_pq_assign_sql('t', f'cb{_PQ_ITERS}')}
    ),
    cents AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id % 64 = 0),
    assign AS MATERIALIZED (
        SELECT vec_id, cid FROM (
            SELECT e.vec_id, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce) DESC, c.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.ce) DESC, c.cid
                   ) AS rn
            FROM embeddings q CROSS JOIN cents c
            WHERE {q_pred}
        ) WHERE rn <= {n_probe}
    ),
    lut AS (
        SELECT t.vec_id AS query_id, t.sub, cb.code,
               round(list_aggregate(list_transform(range(1, {_PQ_DIM + 1}),
                   j -> (t.t[j] - cb.c[j]) * (t.t[j] - cb.c[j])), 'sum')) AS d
        FROM t JOIN cb{_PQ_ITERS} cb ON cb.sub = t.sub
        WHERE {t_pred}
    ),
    cand AS (
        SELECT p.query_id, a.vec_id
        FROM probes p JOIN assign a ON a.cid = p.cid
        WHERE a.vec_id <> p.query_id {cand_filter_sql}
    ),
    adc AS (
        SELECT c.query_id, b.vec_id AS neighbor_id,
               sum(l.d) AS sum_d
        FROM cand c
        JOIN best b ON b.vec_id = c.vec_id
        JOIN lut l ON l.query_id = c.query_id AND l.sub = b.sub AND l.code = b.code
        GROUP BY 1, 2
    ),
    ivf_rank AS (
        SELECT query_id, neighbor_id,
               CAST(round(sum_d / 100) AS BIGINT) AS adc_dist, CAST(rk AS INT) AS rk
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY round(sum_d / 100), neighbor_id) AS rk
            FROM adc
        )
        WHERE rk <= {topk}
    )"""


IVFPQ_ORACLE = f"""
    WITH {ivfpq_adc_ctes()}
    SELECT query_id, neighbor_id, adc_dist, rk
    FROM ivf_rank
    ORDER BY query_id, rk
    """


#: ``ivfpq_adc`` session artifact: the checkpointed probed-ADC aggregate
#: — the exact ``bm25_totals`` pattern (r14, guide §1.2): ``ann_ivfpq_topk`` and
#: ``ann_ivfpq_refined_topk`` consume the IDENTICAL bounded frame
#: (|queries| × probed candidates rows), and each previously recompiled +
#: re-ran the full assign → probe → LUT → ADC join chain.  bench.py
#: purges ``ivfpq_adc`` on ann_ivfpq_topk (the family's first
#: consumer line) so the build cost stays measured cold every sample
#: there; LAZY checkpoint so the first consumer's own action
#: materializes the blocks (no separate build job).
@artifact("ivfpq_adc")
def _ivfpq_adc_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ivfpq_adc_frame(spark, sf_dir).transform(checkpoint_df_lazy)


def _ivfpq_adc_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared probed-ADC aggregate ``(query_id, neighbor_id, sum_d)``
    behind ``ann_ivfpq_topk`` and its refined sibling — the UN-checkpointed
    build pipeline (plan shape pinned by tests/test_plan_quality.py)."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    cents = _ivf_cents(emb)
    # index build: map-side cell assignment + PQ codes (both zero-shuffle
    # projections; at scale this index is written out partitioned by cid)
    assign = nearest_centroid_assign(emb, cents.select("cid", "ce")).select("vec_id", "cid")
    exploded = _pq_exploded_codes(spark, sf_dir)
    # query side: probe the 2 closest cells (tiny -> broadcast), per-query
    # ADC LUT vs the trained codebook — both shared with the parent ops
    probes = _ivf_probes(emb, cents).select("query_id", "cid")
    lut = _pq_query_lut(spark, sf_dir, F.col("vec_id") % 100 == 7)
    # search: only probed cells' members are scored, as codes
    cand = assign.join(F.broadcast(probes), "cid").filter(
        F.col("vec_id") != F.col("query_id")
    )
    return (
        cand.join(exploded, "vec_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("sum_d"))
    )


@query("ann_ivfpq_topk", oracle=IVFPQ_ORACLE)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _adc_rank(_ivfpq_adc_cached(spark, sf_dir))


# --- IVF+PQ + exact refine (VERDICT r6 next #4): the standard production
# accuracy knob (FAISS IndexRefine).  ADC ranks a candidate POOL
# (top-_REFINE_POOL per query, > the serving k), then ONLY those
# |queries| x pool vectors are fetched by id and re-ranked with the exact
# distance — the accuracy of exact search on the pool at the IO cost of
# the code scan plus a bounded id-fetch, never a corpus rescan.  The
# refine distance is squared L2 on the SAME integer grid the PQ codebook
# trains on (round(x*1000) per component), so every distance is an exact
# BIGINT on both engines — no fp knife edge anywhere in the re-rank. ---
_REFINE_POOL = 20


@query(
    "ann_ivfpq_refined_topk",
    oracle=f"""
    WITH {{ctes}},
    qg AS MATERIALIZED (
        SELECT vec_id,
               list_transform(range(1, {_PQ_M * _PQ_DIM + 1}),
                   j -> CAST(round(embedding[j]::DOUBLE * {_PQ_GRID}) AS BIGINT)) AS g
        FROM embeddings
    ),
    refined AS (
        SELECT r.query_id, r.neighbor_id,
               CAST(list_aggregate(list_transform(range(1, {_PQ_M * _PQ_DIM + 1}),
                   j -> (q.g[j] - c.g[j]) * (q.g[j] - c.g[j])), 'sum') AS BIGINT)
                   AS refined_dist
        FROM ivf_rank r
        JOIN qg q ON q.vec_id = r.query_id
        JOIN qg c ON c.vec_id = r.neighbor_id
    )
    SELECT query_id, neighbor_id, refined_dist, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY refined_dist, neighbor_id) AS rk
        FROM refined
    )
    WHERE rk <= 5
    ORDER BY query_id, rk
    """.replace("{ctes}", ivfpq_adc_ctes(topk=_REFINE_POOL)),
)
def ann_ivfpq_refined_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    adc = _ivfpq_adc_cached(spark, sf_dir)
    adc_scaled = F.round(F.col("sum_d") / F.lit(100.0), 0).cast("long")
    win = W.partitionBy("query_id").orderBy(adc_scaled, F.asc("neighbor_id"))
    pool = (
        adc.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= _REFINE_POOL)
        .select("query_id", "neighbor_id")
    )
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    # bounded fetch: the pool id-list (|queries| x _REFINE_POOL rows)
    # broadcasts over the embeddings scan — only pool members survive the
    # join, so the exact re-rank touches pool vectors, never the corpus
    fetched = emb.join(
        F.broadcast(pool), emb.vec_id == pool.neighbor_id
    ).select("query_id", "neighbor_id", F.col("embedding").alias("ne"))
    qvec = emb.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    d2 = F.aggregate(
        F.zip_with(
            F.col("qe"),
            F.col("ne"),
            lambda a, b: F.round(a * _PQ_GRID, 0) - F.round(b * _PQ_GRID, 0),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x * x,
    ).cast("long")
    scored = fetched.join(F.broadcast(qvec), "query_id").select(
        "query_id", "neighbor_id", d2.alias("refined_dist")
    )
    rwin = W.partitionBy("query_id").orderBy("refined_dist", F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(rwin))
        .filter(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "refined_dist", "rk")
        .orderBy("query_id", "rk")
    )


# --- distributed PCA, phase 1: exact covariance of the embedding matrix.
# The scalable shape is per-partition numpy partial sums (each Arrow batch
# folds its rows into one d x d product matrix, so the shuffle carries
# partitions * d(d+1)/2 rows, never n * d^2) merged by a final groupBy.
# Components are quantized to an integer grid first (round(x * 1000) —
# the PQ trick), so the cross-product sums are exact int64 on every
# engine and the oracle matches bit-for-bit; magnitudes are bounded by
# |q| <= 578, n * q^2 < 2^53 far past 100x this corpus. ---
_PCA_GRID = 1000
_PCA_D = 64


def _pca_moment_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(i, j, s_ij)`` upper-triangle integer product sums plus the
    ``j = 0`` column holding the per-dimension linear sums ``s_i``."""
    import numpy as np  # noqa: PLC0415

    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["embedding"]))

    def partial(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            q = np.rint(
                np.stack(pdf["embedding"].to_numpy()).astype(np.float64) * _PCA_GRID
            ).astype(np.int64)
            prod = q.T @ q  # d x d int64
            lin = q.sum(axis=0)
            iu, ju = np.triu_indices(_PCA_D)
            yield pd.DataFrame(
                {
                    "i": np.concatenate([iu + 1, np.arange(1, _PCA_D + 1)]),
                    "j": np.concatenate([ju + 1, np.zeros(_PCA_D, dtype=np.int64)]),
                    "s": np.concatenate([prod[iu, ju], lin]),
                    "n": np.concatenate(
                        [np.zeros(len(iu), dtype=np.int64), np.full(_PCA_D, len(pdf))]
                    ),
                }
            )

    return (
        emb.mapInPandas(partial, schema="i int, j int, s long, n long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
    )


@query(
    "embedding_covariance",
    oracle=f"""
    WITH q AS (
        SELECT list_transform(embedding,
                   x -> CAST(round(CAST(x AS DOUBLE) * {_PCA_GRID}) AS BIGINT)) AS q
        FROM embeddings
    ),
    tot AS (SELECT count(*) AS n FROM q),
    lin AS (
        SELECT i, CAST(sum(q[i]) AS BIGINT) AS s
        FROM q, unnest(range(1, {_PCA_D + 1})) AS t(i)
        GROUP BY i
    ),
    prod AS (
        SELECT i, j, CAST(sum(q[i] * q[j]) AS BIGINT) AS s
        FROM q, unnest(range(1, {_PCA_D + 1})) AS t(i), unnest(range(1, {_PCA_D + 1})) AS u(j)
        WHERE j >= i
        GROUP BY i, j
    )
    SELECT p.i, p.j,
           round((CAST(p.s AS DOUBLE) / n - (CAST(a.s AS DOUBLE) / n) * (CAST(b.s AS DOUBLE) / n))
                 / {_PCA_GRID * _PCA_GRID}, 10) AS cov
    FROM prod p, tot, lin a, lin b
    WHERE a.i = p.i AND b.i = p.j
    ORDER BY p.i, p.j
    """,
)
def embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    sums = _pca_moment_sums(spark, sf_dir)
    lin = sums.filter(F.col("j") == 0).select(
        F.col("i"), F.col("s").alias("ls"), F.col("n").alias("n")
    )
    prod = sums.filter(F.col("j") > 0).select("i", "j", "s")
    a = lin.select(F.col("i").alias("i"), F.col("ls").alias("s_a"), "n")
    b = lin.select(F.col("i").alias("j"), F.col("ls").alias("s_b"))
    return (
        prod.join(F.broadcast(a), "i")
        .join(F.broadcast(b), "j")
        .select(
            "i",
            "j",
            F.round(
                (
                    F.col("s").cast("double") / F.col("n")
                    - (F.col("s_a").cast("double") / F.col("n"))
                    * (F.col("s_b").cast("double") / F.col("n"))
                )
                / (_PCA_GRID * _PCA_GRID),
                10,
            ).alias("cov"),
        )
        .orderBy("i", "j")
    )


_PCA_K = 4


#: ``pca_model`` session artifact: the principal axes (numpy d x k) — the
#: PCA model is a bounded artifact (64 x 4 doubles) derived from the
#: covariance table, like a trained codebook
@artifact("pca_model")
def pca_components(spark: SparkSession, sf_dir: str):
    """Top-``_PCA_K`` eigenvectors of the covariance (driver eigh on the
    collected 64 x 64 matrix — bounded regardless of corpus size), sign
    fixed so each component's largest-|.|. entry is positive."""
    import numpy as np  # noqa: PLC0415

    rows = _pca_moment_sums(spark, sf_dir).collect()
    n = max(r.n for r in rows if r.j == 0)
    lin = np.zeros(_PCA_D)
    cov = np.zeros((_PCA_D, _PCA_D))
    for r in rows:
        if r.j == 0:
            lin[r.i - 1] = r.s
    for r in rows:
        if r.j > 0:
            c = r.s / n - (lin[r.i - 1] / n) * (lin[r.j - 1] / n)
            cov[r.i - 1, r.j - 1] = cov[r.j - 1, r.i - 1] = c
    cov /= _PCA_GRID * _PCA_GRID
    vals, vecs = np.linalg.eigh(cov)
    order = np.argsort(vals)[::-1][:_PCA_K]
    comps = vecs[:, order]
    for k in range(comps.shape[1]):
        lead = np.argmax(np.abs(comps[:, k]))
        if comps[lead, k] < 0:
            comps[:, k] = -comps[:, k]
    return vals[order], comps


@query("embedding_pca_project")
def embedding_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Project embeddings onto the top principal axes: the component
    matrix is baked into the plan as literal arrays and the dot products
    run in-row (zip_with + aggregate, zero shuffle).  Rows-only for the
    driver (eigendecomposition has no SQL twin); variance ordering and
    orthonormality are pinned in tests/test_pca.py."""
    _, comps = pca_components(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    cols = [F.col("vec_id")]
    for k in range(comps.shape[1]):
        axis = F.array(*[F.lit(float(x)) for x in comps[:, k]])
        dot = F.aggregate(
            F.zip_with(F.col("embedding").cast("array<double>"), axis, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cols.append(F.round(dot, 6).alias(f"pc{k + 1}"))
    return emb.select(*cols).orderBy("vec_id")


#: ``ivf_trained_centroids`` session artifact: the trained IVF centroid
#: set — the Lloyd-trained counterpart of _ivf_cents' seeded cells,
#: built once per session
@artifact("ivf_trained_centroids")
def _ivf_trained_rows(spark: SparkSession, sf_dir: str) -> list:
    from columnflow_spark.functions.similarity import kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    # same cell density as the seeded index (one cell per 64 vectors):
    # recall comparisons are then apples-to-apples at equal probe volume
    n = emb.count()
    k = max(2, (n + 63) // 64)
    cents, _info = kmeans_fit(emb, k=k, iters=3)
    return [(int(cid), [float(x) for x in vec]) for cid, vec in cents]


def _ivf_trained_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = local_frame(spark, _ivf_trained_rows(spark, sf_dir), "cid long, ce array<double>")
    return df.select("cid", "ce", _ivf_norm(F.col("ce")).alias("nb"))


@query("ann_ivf_trained_topk")
def ann_ivf_trained_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search over Lloyd-TRAINED cells (kmeans_fit, spherical, 3
    iterations) instead of ann_ivf_topk's every-64th-vector seeds — the
    production index-build path: trained cells track the data's actual
    cluster structure, so the same 2-cell probe recovers more true
    neighbors.  Same plan shape as ann_ivf_topk (map-side assignment,
    broadcast probes); rows-only for the driver (the trained model has
    no SQL twin), with recall-vs-seeded pinned in test_ann_recall.py."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    return _ivf_topk(emb, _ivf_trained_cents(spark, sf_dir))


# --- hard-negative mining (contrastive-training support): for each
# anchor vector, the top-k most-similar vectors with a DIFFERENT label —
# the "hard" negatives that make embedding training converge, mined
# directly in the engine.  Mining is per anchor MINI-BATCH (the training
# batch), so the anchor side is bounded by construction (vec_id cap):
# the broadcast is <=512 rows at any corpus size and the candidate
# fan-out is O(corpus x batch) — linear in the corpus, with the corpus
# side never shuffling before the per-anchor top-k window.  A
# production-scale miner would route candidate generation through the
# IVF index (ann_ivf_topk) and keep only this op's label-exclusion +
# rank stage. ---
_HNM_BATCH_CAP = 25600  # anchor ids below this -> <=512 anchors per batch


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH sims AS (
        SELECT a.vec_id AS anchor_id, c.vec_id AS negative_id, c.label AS negative_label,
               list_cosine_similarity(a.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM embeddings a
        JOIN embeddings c ON a.vec_id % 50 = 3 AND a.vec_id < {_HNM_BATCH_CAP}
                          AND c.label <> a.label
    )
    SELECT anchor_id, negative_id, negative_label, round(sim, 4) AS sim, rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY anchor_id ORDER BY sim DESC, negative_id) AS rk
        FROM sims
    )
    WHERE rk <= 3
    ORDER BY anchor_id, rk
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"]))
    anchors = emb.filter(
        (F.col("vec_id") % 50 == 3) & (F.col("vec_id") < _HNM_BATCH_CAP)
    ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("a"),
        F.col("label").alias("anchor_label"),
    )
    cand = emb.join(F.broadcast(anchors), F.col("label") != F.col("anchor_label"))
    sims = cand.select(
        "anchor_id",
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cosine(F.col("a"), F.col("embedding")).alias("sim"),
    )
    w = W.partitionBy("anchor_id").orderBy(F.desc("sim"), F.asc("negative_id"))
    return (
        sims.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("anchor_id", "negative_id", "negative_label", F.round("sim", 4).alias("sim"), "rk")
        .orderBy("anchor_id", "rk")
    )


# --- IVF-routed hard-negative mining: the production-scale form promised
# by hard_negative_mining's header — candidate generation goes through
# the IVF index (map-side cell assignment, broadcast probes: the exact
# chain of ann_ivf_topk) and only the probed cells' members reach the
# label-exclusion + rank stage, so per-anchor work is corpus/n_cells
# rather than the full corpus.  Anchors use the engine's IVF query
# convention (vec_id % 100 = 7).  Negatives outside the probed cells are
# unreachable by construction — the standard IVF recall trade, measured
# for this geometry in test_ann_recall.py. ---
@query(
    "hard_negative_mining_ivf",
    oracle="""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id % 64 = 0
    ),
    assign AS (
        SELECT vec_id, label, cid FROM (
            SELECT e.vec_id, e.label, c.cid,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce) DESC, c.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c
        ) WHERE rn = 1
    ),
    probes AS (
        SELECT anchor_id, anchor_label, cid FROM (
            SELECT q.vec_id AS anchor_id, q.label AS anchor_label, c.cid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.ce) DESC, c.cid
                   ) AS rn
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id % 100 = 7
        ) WHERE rn <= 2
    ),
    cand AS (
        SELECT p.anchor_id, a.vec_id AS negative_id, a.label AS negative_label
        FROM probes p JOIN assign a ON a.cid = p.cid
        WHERE a.label <> p.anchor_label
    )
    SELECT anchor_id, negative_id, negative_label, round(sim, 4) AS sim, rk FROM (
        SELECT c.anchor_id, c.negative_id, c.negative_label,
               list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) AS sim,
               row_number() OVER (
                   PARTITION BY c.anchor_id
                   ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], n.embedding::DOUBLE[]) DESC,
                            c.negative_id
               ) AS rk
        FROM cand c
        JOIN embeddings q ON q.vec_id = c.anchor_id
        JOIN embeddings n ON n.vec_id = c.negative_id
    ) WHERE rk <= 3
    ORDER BY anchor_id, rk
    """,
)
def hard_negative_mining_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding", "label"]))
    cents = _ivf_cents(emb)
    # index side: map-side cell assignment, label rides along the scan
    assign = nearest_centroid_assign(emb, cents.select("cid", "ce"))
    # anchor side: top-2 probed cells + the anchor's own label (tiny)
    anchor_info = emb.filter(F.col("vec_id") % 100 == 7).select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("anchor_label")
    )
    probes = _ivf_probes(emb, cents).join(F.broadcast(anchor_info), "query_id")
    cand = assign.join(F.broadcast(probes), "cid").filter(
        F.col("label") != F.col("anchor_label")
    )
    sims = cand.select(
        F.col("query_id").alias("anchor_id"),
        F.col("vec_id").alias("negative_id"),
        F.col("label").alias("negative_label"),
        cosine(F.col("q"), F.col("embedding")).alias("sim"),
    )
    wr = W.partitionBy("anchor_id").orderBy(F.desc("sim"), F.asc("negative_id"))
    return (
        sims.withColumn("rk", F.row_number().over(wr))
        .filter(F.col("rk") <= 3)
        .select(
            "anchor_id", "negative_id", "negative_label",
            F.round("sim", 4).alias("sim"), "rk",
        )
        .orderBy("anchor_id", "rk")
    )


# --- SemDeDup (semantic dedup via cluster-then-prune, Abbas et al.):
# k-means-style clusters over the embedding space bound the quadratic
# pairwise term — cosine pairs are computed only WITHIN a cluster, so
# the cost is sum(m_c^2) over cluster sizes instead of n^2, and the
# cluster count grows with the corpus (the paper's scaling argument).
# Composition of the engine's existing primitives: the seeded IVF
# centroid set (bounded, collected once), the map-side numpy-matmul
# assignment (pure projection, zero shuffle — same parity-with-oracle
# contract as kmeans_lloyd_step, sf1-validated), then a cid-keyed
# self-pairing through chunked_self_pairs: a degenerate giant cluster
# (boilerplate-heavy corpus — the exact case SemDeDup exists for) is
# split into chunk-PAIR tasks bounded at cap² candidates each, while
# every pair is still emitted (the cap splits the join, never drops
# pairs — unlike the LSH bucket guard, whose recall trade SemDeDup's
# exact contract forbids).  Keep rule: a vector is dropped when it is
# >= tau-similar to any LOWER-id vector of its cluster — deterministic
# keep-first, the engine's standard.
_SEMDEDUP_TAU = 0.4
#: chunk cap for the within-cluster pair join: seeded clusters average
#: 64 members, so healthy clusters stay single-chunk (m = 1, zero
#: replication) and only degenerate mass concentrations split
_SEMDEDUP_CAP = 256

_SEMDEDUP_COS_SQL = """list_aggregate(list_transform(range(1, 65),
                   j -> e1.embedding[j]::DOUBLE * e2.embedding[j]::DOUBLE), 'sum')
               / (sqrt(list_aggregate(list_transform(range(1, 65),
                      j -> e1.embedding[j]::DOUBLE * e1.embedding[j]::DOUBLE), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(1, 65),
                      j -> e2.embedding[j]::DOUBLE * e2.embedding[j]::DOUBLE), 'sum')))"""


@query(
    "semdedup_clusters",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings WHERE vec_id % 64 = 0
    ),
    s AS (
        SELECT e.vec_id, c.cid,
               list_cosine_similarity(e.embedding::DOUBLE[], c.ce::DOUBLE[]) AS sim
        FROM embeddings e CROSS JOIN c
    ),
    a AS (
        SELECT vec_id, cid FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
            FROM s
        ) WHERE rn = 1
    ),
    pairs AS (
        SELECT x.cid, y.vec_id AS vb,
               {_SEMDEDUP_COS_SQL} AS sim
        FROM a x JOIN a y ON x.cid = y.cid AND x.vec_id < y.vec_id
        JOIN embeddings e1 ON e1.vec_id = x.vec_id
        JOIN embeddings e2 ON e2.vec_id = y.vec_id
    ),
    dups AS (SELECT DISTINCT vb AS vec_id FROM pairs WHERE sim >= {_SEMDEDUP_TAU})
    SELECT a.cid,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(sum(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN d.vec_id IS NULL THEN a.vec_id END) AS BIGINT) AS kept_id_checksum
    FROM a LEFT JOIN dups d USING (vec_id)
    GROUP BY a.cid
    ORDER BY a.cid
    """,
)
def semdedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster SemDeDup summary: cluster size, vectors pruned by the
    within-cluster cosine threshold, and the checksum of kept ids.

    The oracle replays the numpy-argmax assignment as the standard
    ``row_number() = 1`` CTE and the within-cluster cosine as the exact
    sequential fold of :func:`cosine` (per-element DOUBLE casts), the
    bit-parity recipe the embedding dedup family established."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    cents = emb.filter(F.col("vec_id") % 64 == 0).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    assign = nearest_centroid_assign(emb, cents, vec="embedding", out="cid").select(
        "vec_id", "embedding", "cid"
    )
    dups = (
        chunked_self_pairs(assign, "cid", "vec_id", cap=_SEMDEDUP_CAP)
        .withColumn("sim", cosine(F.col("embedding"), F.col("embedding_b")))
        .filter(F.col("sim") >= F.lit(_SEMDEDUP_TAU))
        .select(F.col("vec_id_b").alias("vec_id"))
        .distinct()
        .withColumn("dup", F.lit(1))
    )
    return (
        assign.select("cid", "vec_id")
        .join(dups, "vec_id", "left")
        .groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.when(F.col("dup").isNotNull(), 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(F.col("dup").isNull(), F.col("vec_id"))).alias("kept_id_checksum"),
        )
        .orderBy("cid")
    )


# --- OPQ: Optimized Product Quantization (Ge et al., CVPR 2013 — the
# non-parametric alternation; VERDICT r8 next #5).  A learned ORTHONORMAL
# rotation R is applied before the sub-vector split so the PQ subspaces
# align with the data: alternate (encode under current R/codebooks) ->
# (Procrustes step: R = U V' from the SVD of X'B, the closed-form
# rotation minimizing ||XR - B||_F) -> (re-train codebooks on the
# rotated sample).  Seeded at R = I, the training objective is the plain
# PQ objective and each alternation step is a coordinate descent on it,
# so the trained quantization error can only improve on plain PQ
# (pinned in tests/test_ann_recall.py, with the recall upgrade:
# measured 0.28 -> 0.32 recall@5, -19% quantization error at sf0.01).
# Everything trains DRIVER-SIDE on the same bounded sample plain PQ
# uses (the artifact is R (d x d) + M codebooks — corpus-size free);
# the corpus pass is one Arrow-batched rotate+encode projection, the
# identical scan shape as ann_pq_codes.  No SQL twin exists for the
# SVD, so the search query registers rows-only (the
# embedding_pca_project precedent) and its properties — orthonormality,
# error dominance over plain PQ, recall — are pinned in tests. ---
_OPQ_ITERS = 8


@artifact("opq_model")
def opq_train_np(spark: SparkSession, sf_dir: str):
    """``(R, cmats)``: the learned rotation (d x d, orthonormal) and the
    per-subspace codebooks (list of K x _PQ_DIM float64, code id = row
    index) trained by ``_OPQ_ITERS`` alternations on the bounded
    ``vec_id < _PQ_SAMPLE`` sample — the same sample contract as
    :func:`_pq_train_np`."""
    import numpy as np  # noqa: PLC0415

    rows = (
        load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
        .filter(F.col("vec_id") < _PQ_SAMPLE)
        .collect()
    )
    rows.sort(key=lambda r: r.vec_id)
    S = np.array([list(r.embedding) for r in rows], dtype=np.float64)
    d = S.shape[1]

    def _grid(x):
        y = x * _PQ_GRID
        return np.sign(y) * np.floor(np.abs(y) + 0.5)

    def _lloyd(Xg):
        cms = []
        for s in range(_PQ_M):
            sub = Xg[:, s * _PQ_DIM:(s + 1) * _PQ_DIM].astype(np.float64)
            cmat = sub[:_PQ_K].copy()
            for _ in range(_PQ_ITERS):
                dd = _seq_sqdist(sub, cmat)
                a = dd.argmin(axis=1)
                for ci in range(_PQ_K):
                    m = sub[a == ci]
                    if len(m):
                        cmat[ci] = m.mean(axis=0)
            cms.append(cmat)
        return cms

    def _encode(Xg, cms):
        return np.stack(
            [
                _seq_sqdist(Xg[:, s * _PQ_DIM:(s + 1) * _PQ_DIM], cms[s]).argmin(axis=1)
                for s in range(_PQ_M)
            ],
            axis=1,
        )

    R = np.eye(d)
    cms = _lloyd(_grid(S))
    for _ in range(_OPQ_ITERS):
        Xg = _grid(S @ R)
        codes = _encode(Xg, cms)
        # reconstruction back at raw scale: the Procrustes target
        B = np.concatenate([cms[s][codes[:, s]] for s in range(_PQ_M)], axis=1) / _PQ_GRID
        U, _, Vt = np.linalg.svd(S.T @ B)
        R = U @ Vt
        cms = _lloyd(_grid(S @ R))
    return R, cms


def opq_encode_udf(spark: SparkSession, sf_dir: str):
    """Arrow-batched OPQ encoder (vector -> dash-joined code string):
    rotate, grid-quantize, argmin all m subspaces per batch — R and the
    codebooks baked in, the identical one-scan shape as
    :func:`pq_encode_udf`."""
    import numpy as np  # noqa: PLC0415

    R, cms = opq_train_np(spark, sf_dir)

    @F.pandas_udf("string")
    def _encode(batch):
        x = np.vstack(batch.to_numpy()).astype(np.float64) @ R
        y = x * _PQ_GRID
        t = np.sign(y) * np.floor(np.abs(y) + 0.5)
        cols = []
        for s in range(_PQ_M):
            d = _seq_sqdist(t[:, s * _PQ_DIM:(s + 1) * _PQ_DIM], cms[s])
            cols.append(d.argmin(axis=1))
        packed = np.stack(cols, axis=1)
        return pd.Series(["-".join(map(str, row)) for row in packed])

    return _encode


def _opq_codebook_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    R, cms = opq_train_np(spark, sf_dir)
    return local_frame(
        spark,
        [
            (s, ci, [float(x) for x in cms[s][ci]])
            for s in range(_PQ_M)
            for ci in range(_PQ_K)
        ],
        "sub int, code int, c array<double>",
    )


def _opq_rotate_grid_udf(spark: SparkSession, sf_dir: str):
    """Arrow-batched rotate+grid projection (vector -> array<long> of
    rotated grid components) — the query-side twin of the encoder."""
    import numpy as np  # noqa: PLC0415

    R, _ = opq_train_np(spark, sf_dir)

    @F.pandas_udf("array<long>")
    def _rot(batch):
        x = np.vstack(batch.to_numpy()).astype(np.float64) @ R
        y = x * _PQ_GRID
        t = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
        return pd.Series(list(t))

    return _rot


@query("ann_opq_adc_topk")
def ann_opq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC top-5 in the OPQ-rotated space — ``ann_pq_adc_topk`` with the
    learned rotation in front of the split (same workload, same ranking
    contract).  Rows-only for the driver (the rotation's SVD has no SQL
    twin — the embedding_pca_project precedent); orthonormality, the
    quantization-error win over plain PQ, encode parity, and recall are
    pinned in tests/test_ann_recall.py."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    encode = opq_encode_udf(spark, sf_dir)
    exploded = _explode_codes(emb.select("vec_id", encode("embedding").alias("codes")))
    rot = _opq_rotate_grid_udf(spark, sf_dir)
    qsubs = (
        emb.filter(F.col("vec_id") < 50)
        .select(F.col("vec_id").alias("query_id"), rot("embedding").alias("tq"))
        .select(
            "query_id",
            F.posexplode(
                F.array(
                    *[F.slice("tq", s * _PQ_DIM + 1, _PQ_DIM) for s in range(_PQ_M)]
                )
            ).alias("sub", "qs"),
        )
    )
    return _adc_topk(exploded, _adc_lut(qsubs, _opq_codebook_df(spark, sf_dir)))


# --- binary (sign) embedding quantization + Hamming search.  The modern
# binary-embedding serving trick (e.g. faiss IndexBinaryFlat; the shape
# every "binary quantization" vector-DB feature uses): one sign bit per
# dimension packs a 64-d float vector into 64 bits, Hamming distance is
# two XOR+popcount instructions, and an exact float rescore over the
# Hamming shortlist recovers most of the recall at ~1/32 the scan IO.
# The 64 bits ship as TWO 32-bit halves in BIGINTs so neither engine
# ever shifts into the sign bit (DuckDB raises on BIGINT overflow; the
# halves stay < 2^32).  Completes the quantization family: int8 scalar
# (embedding_quantize_int8), PQ/OPQ codebooks, and now 1-bit sign codes.
_BINARY_QUERY_PRED = "vec_id < 10"  # the ann_cosine_topk probe workload
_BINARY_TOPK = 5
_BINARY_RESCORE_R = 32  # Hamming shortlist width per query


def binary_sign_codes(emb: DataFrame) -> DataFrame:
    """``(vec_id, h1, h2)`` sign codes: bit i of half 1 (2) is set when
    dimension i (i+32) is strictly positive.  Pure in-row expression —
    the packing runs inside whole-stage codegen at scan time, exactly
    what a 100 TB encode pass wants (no shuffle, no Python)."""

    def half(off: int):
        return F.expr(
            f"aggregate(zip_with(slice(embedding, {off + 1}, 32), sequence(0, 31), "
            f"(v, i) -> IF(v > CAST(0 AS FLOAT), shiftleft(CAST(1 AS BIGINT), i), "
            f"CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, x) -> a + x)"
        )

    return emb.select("vec_id", "embedding", half(0).alias("h1"), half(32).alias("h2"))


def _binary_codes_ctes() -> str:
    def half(lo: int) -> str:
        return (
            f"CAST(list_sum(list_transform(range({lo}, {lo + 32}), "
            f"j -> CASE WHEN embedding[j] > 0 THEN (CAST(1 AS BIGINT) << (j - {lo})) "
            f"ELSE CAST(0 AS BIGINT) END)) AS BIGINT)"
        )

    return f"""codes AS (
        SELECT vec_id, embedding, {half(1)} AS h1, {half(33)} AS h2
        FROM embeddings
    ),
    hams AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(bit_count(xor(q.h1, c.h1)) + bit_count(xor(q.h2, c.h2)) AS BIGINT) AS ham,
               q.embedding AS qe, c.embedding AS ce
        FROM codes q JOIN codes c
          ON q.{_BINARY_QUERY_PRED} AND c.vec_id <> q.vec_id
    )"""


def _hamming_topk(emb: DataFrame, k: int) -> DataFrame:
    """Top-``k`` corpus vectors per probe query (``_BINARY_QUERY_PRED``)
    by ``(ham, neighbor_id)``: the probe codes broadcast over the corpus
    codes, ranked by the two-phase salted top-k."""

    codes = binary_sign_codes(emb).drop("embedding")
    q = codes.filter(F.expr(_BINARY_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"),
        F.col("h1").alias("q1"),
        F.col("h2").alias("q2"),
    )
    hams = codes.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.expr("bit_count(h1 ^ q1) + bit_count(h2 ^ q2)").cast("long").alias("ham"),
    )
    return salted_topk(
        hams,
        ["query_id"],
        [F.asc("ham"), F.asc("neighbor_id")],
        k,
        salt_src=F.col("neighbor_id"),
    )


@query(
    "ann_binary_hamming_topk",
    oracle=f"""
    WITH {_binary_codes_ctes()}
    SELECT query_id, neighbor_id, ham, CAST(rk AS INT) AS rk
    FROM (
        SELECT query_id, neighbor_id, ham,
               row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS rk
        FROM hams
    )
    WHERE rk <= {_BINARY_TOPK}
    ORDER BY query_id, rk
    """,
)
def ann_binary_hamming_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} nearest neighbours per probe under Hamming distance over
    1-bit sign codes.  Plan shape mirrors ann_cosine_topk: the probe
    codes broadcast over the corpus (the corpus never shuffles into the
    distance join), the distance is two XOR+popcount longs inside
    codegen, and the per-query rank is the two-phase salted top-k — at
    100 TB the scan reads 8 bytes/vector instead of 256."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    top = _hamming_topk(emb, _BINARY_TOPK)
    return top.select("query_id", "neighbor_id", "ham", "rk").orderBy("query_id", "rk")


@query(
    "ann_binary_rescore_topk",
    oracle=f"""
    WITH {_binary_codes_ctes()},
    shortlist AS (
        SELECT query_id, neighbor_id, qe, ce
        FROM (
            SELECT query_id, neighbor_id, qe, ce,
                   row_number() OVER (PARTITION BY query_id ORDER BY ham, neighbor_id) AS hrk
            FROM hams
        )
        WHERE hrk <= {_BINARY_RESCORE_R}
    )
    SELECT query_id, neighbor_id, sim, CAST(rk AS INT) AS rk
    FROM (
        SELECT query_id, neighbor_id,
               round(list_cosine_similarity(qe::DOUBLE[], ce::DOUBLE[]), 4) AS sim,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY list_cosine_similarity(qe::DOUBLE[], ce::DOUBLE[]) DESC,
                            neighbor_id
               ) AS rk
        FROM shortlist
    )
    WHERE rk <= {_BINARY_TOPK}
    ORDER BY query_id, rk
    """,
)
def ann_binary_rescore_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hamming shortlist ({r} per query) + exact-cosine rescore: the
    two-phase binary serving path.  Phase 1 is the 8-byte/vector
    Hamming scan; phase 2 fetches float vectors for the BOUNDED
    |queries| x {r} shortlist only (broadcast id-list semi-join — the
    refine-fetch shape of ann_ivfpq_refined_topk), so the full-precision
    corpus is touched at shortlist grain, never scanned."""
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    shortlist = _hamming_topk(emb, _BINARY_RESCORE_R).select("query_id", "neighbor_id")
    # bounded refine fetch: |queries| * R ids broadcast against the corpus
    cand = emb.join(
        F.broadcast(shortlist), emb["vec_id"] == shortlist["neighbor_id"]
    ).select("query_id", "neighbor_id", F.col("embedding").alias("ce"))
    qvec = emb.filter(F.expr(_BINARY_QUERY_PRED)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    scored = cand.join(F.broadcast(qvec), "query_id").select(
        "query_id",
        "neighbor_id",
        cosine(F.col("qe"), F.col("ce")).alias("sim"),
    )
    win = W.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(win).cast("int"))
        .filter(F.col("rk") <= _BINARY_TOPK)
        .select("query_id", "neighbor_id", F.round("sim", 4).alias("sim"), "rk")
        .orderBy("query_id", "rk")
    )


# --- MMR result diversification (Carbonell/Goldstein maximal marginal
# relevance; the standard RAG/search post-filter): greedily re-rank a
# relevance pool so each pick trades relevance against similarity to
# what is already picked.  Greedy selection is inherently sequential in
# K, so the kernel is an Arrow-batched cogrouped applyInPandas over the
# BOUNDED per-query pool — and it is INTEGER-ONLY by design: both
# relevance and pairwise similarity are quantized to the 1e-6 grid in
# SQL (not in Python) before they reach the kernel, so the oracle's
# unrolled K-level greedy CTE replays the identical argmax chain.
_MMR_POOL = 20
_MMR_K = 8
_MMR_W_REL = 7  # lambda = 0.7 on a /10 integer grid
_MMR_W_DIV = 3
_MMR_SCALE = 1_000_000


def _mmr_level_ctes(i: int) -> str:
    return f"""
    cand{i} AS MATERIALIZED (
        SELECT s.query_id, s.picked, c.neighbor_id, c.rel_q, max(p.sim_q) AS m
        FROM sel{i - 1} s
        JOIN pool c ON c.query_id = s.query_id
         AND NOT list_contains(s.picked, c.neighbor_id)
        JOIN pairsims p ON p.query_id = s.query_id AND p.a = c.neighbor_id
         AND list_contains(s.picked, p.b)
        GROUP BY s.query_id, s.picked, c.neighbor_id, c.rel_q
    ),
    sel{i} AS MATERIALIZED (
        SELECT query_id, list_append(picked, pick) AS picked
        FROM (
            SELECT query_id, picked, neighbor_id AS pick,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY {_MMR_W_REL} * rel_q - {_MMR_W_DIV} * m DESC,
                                neighbor_id
                   ) AS r
            FROM cand{i}
        ) WHERE r = 1
    )"""


@query(
    "mmr_diversified_topk",
    oracle=f"""
    WITH sims AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               CAST(round(list_cosine_similarity(
                   q.embedding::DOUBLE[], c.embedding::DOUBLE[]) * {_MMR_SCALE})
                    AS BIGINT) AS rel_q
        FROM embeddings q JOIN embeddings c
          ON q.vec_id < 10 AND c.vec_id <> q.vec_id
    ),
    pool AS MATERIALIZED (
        SELECT query_id, neighbor_id, rel_q
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY query_id ORDER BY rel_q DESC, neighbor_id) AS rk
              FROM sims)
        WHERE rk <= {_MMR_POOL}
    ),
    pairsims AS MATERIALIZED (
        SELECT pa.query_id, pa.neighbor_id AS a, pb.neighbor_id AS b,
               CAST(round(list_cosine_similarity(
                   ea.embedding::DOUBLE[], eb.embedding::DOUBLE[]) * {_MMR_SCALE})
                    AS BIGINT) AS sim_q
        FROM pool pa JOIN pool pb
          ON pa.query_id = pb.query_id AND pa.neighbor_id <> pb.neighbor_id
        JOIN embeddings ea ON ea.vec_id = pa.neighbor_id
        JOIN embeddings eb ON eb.vec_id = pb.neighbor_id
    ),
    sel1 AS MATERIALIZED (
        SELECT query_id, [neighbor_id] AS picked
        FROM (SELECT query_id, neighbor_id, row_number() OVER (
                  PARTITION BY query_id ORDER BY rel_q DESC, neighbor_id) AS r
              FROM pool)
        WHERE r = 1
    ),
    {",".join(_mmr_level_ctes(i) for i in range(2, _MMR_K + 1))}
    SELECT query_id, unnest(picked) AS neighbor_id,
           CAST(generate_subscripts(picked, 1) AS INT) AS rk
    FROM sel{_MMR_K}
    ORDER BY query_id, rk
    """,
)
def mmr_diversified_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-{k} per probe from a top-{p} relevance pool.

    Plan shape: the pool is the broadcast-probe brute top-k (corpus
    never shuffles); the pairwise-similarity matrix is built ONLY for
    the bounded |queries| x {p} pool (broadcast id fetch, then a
    per-query self-join — {p}^2 rows per query); the greedy chain runs
    in one cogrouped Arrow kernel per query over integer grids."""

    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    sims = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qe"), F.col("embedding")) * _MMR_SCALE, 0)
        .cast("long")
        .alias("rel_q"),
    )
    pool = (
        salted_topk(
            sims,
            ["query_id"],
            [F.desc("rel_q"), F.asc("neighbor_id")],
            _MMR_POOL,
            salt_src=F.col("neighbor_id"),
        )
        .select("query_id", "neighbor_id", "rel_q")
        .transform(checkpoint_df)  # bounded: |queries| x POOL rows, reused 3x below
    )
    fetch = emb.join(
        F.broadcast(pool.select("neighbor_id").distinct()),
        emb["vec_id"] == F.col("neighbor_id"),
    ).select("neighbor_id", "embedding")
    pwe = pool.join(F.broadcast(fetch), "neighbor_id").select(
        "query_id", "neighbor_id", "embedding"
    )
    pa, pb = pwe.alias("pa"), pwe.alias("pb")
    pairsims = (
        pa.join(
            pb,
            (F.col("pa.query_id") == F.col("pb.query_id"))
            & (F.col("pa.neighbor_id") != F.col("pb.neighbor_id")),
        )
        .select(
            F.col("pa.query_id").alias("query_id"),
            F.col("pa.neighbor_id").alias("a"),
            F.col("pb.neighbor_id").alias("b"),
            F.round(
                cosine(F.col("pa.embedding"), F.col("pb.embedding")) * _MMR_SCALE, 0
            )
            .cast("long")
            .alias("sim_q"),
        )
    )

    k, w_rel, w_div = _MMR_K, _MMR_W_REL, _MMR_W_DIV

    def greedy(key, left, right):
        (qid,) = key
        rel = {
            int(n): int(r) for n, r in zip(left["neighbor_id"], left["rel_q"])
        }
        sim = {
            (int(a), int(b)): int(s)
            for a, b, s in zip(right["a"], right["b"], right["sim_q"])
        }
        picked: list[int] = []
        remaining = set(rel)
        while remaining and len(picked) < k:
            if not picked:
                best = max(remaining, key=lambda n: (rel[n], -n))
            else:
                best = max(
                    remaining,
                    key=lambda n: (
                        w_rel * rel[n]
                        - w_div * max(sim[(n, p)] for p in picked),
                        -n,
                    ),
                )
            picked.append(best)
            remaining.discard(best)
        return pd.DataFrame(
            {
                "query_id": [int(qid)] * len(picked),
                "neighbor_id": picked,
                "rk": list(range(1, len(picked) + 1)),
            }
        )

    out = (
        pool.groupBy("query_id")
        .cogroup(pairsims.groupBy("query_id"))
        .applyInPandas(greedy, "query_id long, neighbor_id long, rk int")
    )
    return out.orderBy("query_id", "rk")
