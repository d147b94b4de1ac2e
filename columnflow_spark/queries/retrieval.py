"""Text retrieval over the corpus: BM25 ranked search and the posting
statistics it reads.

Retrieval is the other half of a training-data platform: after the
corpus is curated, decontamination audits, eval-leak forensics and
data-attribution ("which training docs match this probe?") are all
ranked keyword search over the same documents table.  The reference
engine has no retrieval surface (it is an event-analysis engine, see
SURVEY.md §2); this module is part of the beyond-parity LLM-data family
alongside queries/mmdata.py.

Scale notes (the 100 TB story):

- Scoring is *query-driven*: one documents scan keeps each document's
  tokens that are searched terms (an in-row filter), and only documents
  with a hit explode into ``(w, doc_id, tf, dl)`` posting rows.  Those
  rows reach the driver in ONE collect with no shuffle, so the work and
  the collect scale with the posting volume of the searched terms, not
  with the corpus.
- The collection stats ``(n_docs, sum_dl)`` are observed on that same
  scan (``DataFrame.observe``): no second corpus pass and no aggregate
  job.  The postings store keeps them as its ``_stats`` sidecar instead.
- Document frequencies are counted over the collected postings, not
  looked up in a vocabulary-sized df table.
- :func:`bm25_score` is the one BM25 scoring kernel, numpy on the
  driver, behind the fresh, store-served and RM3 paths.  It repeats the
  Spark double arithmetic op for op and quantizes each term score to an
  integer grid before the per-doc sum, so summation order cannot flip a
  rank and the DuckDB twin stays hash-identical (same treatment as the
  PQ/ADC and cosine paths in mmdata.py).
- Ranking (:func:`_bm25_rank`) runs on the driver as well: consumers get
  a local frame of |queries| x k rows.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnflow_spark.core.artifacts import artifact
from columnflow_spark.core.state import checkpoint_df

from columnflow_spark.functions.similarity import cosine
from columnflow_spark.functions.skew import salted_topk
from columnflow_spark.queries import query
from columnflow_spark.sources import load_table, spread
from columnflow_spark.sources.sinks import (
    SlicedStore,
    ensure_store,
    local_frame,
    read_sidecar,
    store_path,
    write_sidecar,
)

# fixed search workload: deterministic multi-term keyword queries over the
# synthetic corpus vocabulary (TESTDATA.md documents.text)
_BM25_QUERIES = (
    (1, "table scan fast"),
    (2, "window agg join"),
    (3, "customer query value slow"),
)
#: the workload's term list, one ``(query_id, w)`` row per query word
_BM25_TERMS = tuple((qid, w) for qid, text in _BM25_QUERIES for w in text.split(" "))
_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_TOPK = 10
#: per-term score quantization grid (1e-6): BM25 term scores are O(0.1-10),
#: so the grid keeps 6-7 significant digits while making the per-doc sum
#: an exact BIGINT addition in both engines.
_BM25_SCALE = 1_000_000


def _queries_values_sql() -> str:
    rows = ", ".join(f"({qid}, '{text}')" for qid, text in _BM25_QUERIES)
    return f"(VALUES {rows}) AS q(query_id, qtext)"


# shared oracle CTE chain ending at ``totals(query_id, doc_id, score_q)``:
# bm25_topk ranks it directly, hybrid_search_rrf fuses it with dense ranks,
# and the deletion-propagation oracle passes a corpus predicate
def _bm25_totals_ctes(where: str = "") -> str:
    return f"""qterms AS (
        SELECT query_id, unnest(string_split(qtext, ' ')) AS w
        FROM {_queries_values_sql()}
    ),
    toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents {where}
    ),""" + _BM25_TOTALS_TAIL


_BM25_TOTALS_TAIL = f"""
    stats AS (
        SELECT CAST(count(*) AS DOUBLE) AS n_docs,
               CAST(sum(len(ts)) AS DOUBLE) / count(*) AS avgdl
        FROM toks
    ),
    words AS (
        SELECT doc_id, len(ts) AS dl, unnest(ts) AS w FROM toks
    ),
    tf AS (
        SELECT w.doc_id, w.w, count(*) AS tf, max(w.dl) AS dl
        FROM words w JOIN (SELECT DISTINCT w FROM qterms) q USING (w)
        GROUP BY w.doc_id, w.w
    ),
    posting AS (
        SELECT doc_id, w, tf, dl,
               count(*) OVER (PARTITION BY w) AS df
        FROM tf
    ),
    scored AS (
        SELECT q.query_id, p.doc_id,
               CAST(round(
                   ln(1 + (s.n_docs - p.df + 0.5) / (p.df + 0.5))
                   * (p.tf * ({_BM25_K1} + 1))
                   / (p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl))
                   * {_BM25_SCALE}) AS BIGINT) AS si
        FROM posting p
        JOIN qterms q USING (w)
        CROSS JOIN stats s
    ),
    totals AS (
        SELECT query_id, doc_id, CAST(sum(si) AS BIGINT) AS score_q
        FROM scored GROUP BY query_id, doc_id
    )"""

_BM25_TOTALS_CTES = _bm25_totals_ctes()

#: the ranked-BM25 oracle, shared by every serving form that must equal
#: the from-scratch pass: bm25_topk itself, the incremental postings
#: store, and the streaming ingest twin (queries/streaming.py)
BM25_TOPK_ORACLE = f"""
    WITH {_BM25_TOTALS_CTES}
    SELECT query_id, doc_id, score_q, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score_q DESC, doc_id
        ) AS rk
        FROM totals
    )
    WHERE rk <= {_BM25_TOPK}
    ORDER BY query_id, rk
    """


@query("bm25_topk", oracle=BM25_TOPK_ORACLE)
def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Robertson/Sparck Jones; the Lucene ``ln(1 + (N-df+.5)/(df+.5))``
    idf form) top-k documents per keyword query.

    Plan shape: ONE shuffle-free collect of the query terms' posting rows
    with the collection stats observed on the same scan
    (:func:`_bm25_hits`); :func:`bm25_score` scores them and
    :func:`_bm25_rank` ranks them on the driver.  Per-term scores are
    quantized to the ``1e-6`` integer grid before the per-doc sum — the
    exact-sum trick that keeps the DuckDB twin hash-identical.
    """
    return _bm25_rank(spark, _bm25_totals(spark, sf_dir))


class Bm25Totals(NamedTuple):
    """Integer-grid BM25 totals as driver arrays, one entry per
    (query_id, doc_id) pair, sorted by (query_id, doc_id)."""

    query_id: np.ndarray
    doc_id: np.ndarray
    score_q: np.ndarray


def _sum_per_pair(qid: np.ndarray, doc: np.ndarray, v: np.ndarray) -> Bm25Totals:
    """The int64 sum of ``v`` per (query_id, doc_id) pair."""
    o = np.lexsort((doc, qid))
    qid, doc, v = qid[o], doc[o], v[o].astype(np.int64)
    head = np.flatnonzero(np.r_[True, (qid[1:] != qid[:-1]) | (doc[1:] != doc[:-1])][: len(v)])
    return Bm25Totals(qid[head], doc[head], np.add.reduceat(v, head) if len(v) else v)


def _half_up(x: np.ndarray) -> np.ndarray:
    """Spark's HALF_UP ``round(x, 0)`` of non-negative doubles as int64:
    ``r + (x - r >= 0.5)`` with ``r = floor(x)``, where ``x - r`` is
    exact."""
    r = np.floor(x)
    return (r + (x - r >= 0.5)).astype(np.int64)


def bm25_score(
    spark: SparkSession, terms, postings: pa.Table, n_docs: int, sum_dl: int
) -> Bm25Totals:
    """The BM25 scoring kernel: ``score_q`` per (query, doc) for the term
    list ``terms`` of ``(query_id, w)`` rows over posting rows ``(w,
    doc_id, tf, dl)`` (one per term and document) and the exact integer
    collection stats.

    It repeats the Spark expression ``round(ln(1 + (n_docs - df + .5) /
    (df + .5)) * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)) *
    1e6)`` bit for bit: the idf is the JVM's ``StrictMath.log`` (the
    function ``F.log`` runs; ``math.log`` differs from it by one ulp on
    some arguments) called once per term, every other step is the same
    IEEE double op in the same order, and :func:`_half_up` is Spark's
    ``round(x, 0)`` for the positive scores BM25 yields.  The per-pair
    sums are int64, so the result is exact whatever the order."""
    if not postings.num_rows:
        empty = np.zeros(0, np.int64)
        return Bm25Totals(empty, empty, empty)
    vocab, wi = np.unique(postings.column("w").to_numpy(zero_copy_only=False), return_inverse=True)
    n, avgdl = float(n_docs), sum_dl / n_docs
    log = spark._jvm.java.lang.StrictMath.log
    idf = np.array([log(1 + (n - df + 0.5) / (df + 0.5)) for df in np.bincount(wi).tolist()])
    tf = postings.column("tf").to_numpy().astype(np.float64)
    dl = postings.column("dl").to_numpy().astype(np.float64)
    k1, b = _BM25_K1, _BM25_B
    x = idf[wi] * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl)) * _BM25_SCALE
    si = _half_up(x)
    # the term list joins on w: each (query, term) row adds its term's rows
    at = {w: i for i, w in enumerate(vocab.tolist())}
    rows = [(qid, np.flatnonzero(wi == at[w])) for qid, w in terms if w in at]
    ix = np.concatenate([r for _, r in rows] or [np.zeros(0, np.int64)])
    qid = np.repeat(np.array([q for q, _ in rows], np.int64), [len(r) for _, r in rows])
    return _sum_per_pair(qid, postings.column("doc_id").to_numpy()[ix], si[ix])


def _rank_np(totals: Bm25Totals, k: int) -> tuple[np.ndarray, ...]:
    """``(query_id, doc_id, score_q, rk)`` arrays of each query's top-``k``
    of ``totals`` by ``(score_q desc, doc_id)``, sorted by (query_id, rk)."""
    qid, doc, score = totals
    o = np.lexsort((doc, -score, qid))
    qid, doc, score = qid[o], doc[o], score[o]
    first = np.r_[True, qid[1:] != qid[:-1]][: len(qid)]
    rk = np.arange(len(qid)) - np.flatnonzero(first)[np.cumsum(first) - 1] + 1
    top = rk <= k
    return qid[top], doc[top], score[top], rk[top]


def _bm25_rank(spark: SparkSession, totals: Bm25Totals, k: int = _BM25_TOPK) -> DataFrame:
    """Each query's top-``k`` of BM25 ``totals`` ranked on the driver by
    ``(score_q desc, doc_id)``: a local frame ``(query_id, doc_id,
    score_q, rk)`` sorted by (query_id, rk), so serving it runs no job."""
    cols = dict(zip(("query_id", "doc_id", "score_q", "rk"), _rank_np(totals, k)))
    return local_frame(
        spark, pa.table(cols), "query_id INT, doc_id LONG, score_q LONG, rk INT"
    )


def _totals_frame(spark: SparkSession, totals: Bm25Totals) -> DataFrame:
    """Every BM25 total as a local frame ``(query_id, doc_id, score_q)``,
    for consumers that join scores rather than ranks."""
    return local_frame(
        spark, pa.table(totals._asdict()), "query_id INT, doc_id LONG, score_q LONG"
    )


def _tokens() -> Column:
    """A document's tokens ``ts``: its ``text`` split on single spaces,
    empty tokens dropped (the oracle's ``list_filter(string_split(...))``)."""
    return F.filter(F.split("text", " "), lambda t: t != "").alias("ts")


def _postings(toks: DataFrame, terms) -> DataFrame:
    """The posting rows ``(w, doc_id, tf, dl)`` of the words in ``terms``
    over tokenized documents ``toks(doc_id, ts)``, one per (word,
    document).  The word filter runs in-row before the explode, so the
    frame has no shuffle: only documents with a hit explode, each into
    one row per distinct hit word."""
    words = F.array(*[F.lit(w) for w in sorted({w for _, w in terms})]).cast("array<string>")
    hits = toks.filter(F.arrays_overlap("ts", words)).select(
        "doc_id",
        F.size("ts").alias("dl"),
        F.filter("ts", lambda t: F.array_contains(words, t)).alias("hit"),
    )
    frame = hits.select("doc_id", "dl", "hit", F.explode(F.array_distinct("hit")).alias("w"))
    return frame.select(
        "w",
        "doc_id",
        F.size(F.filter("hit", lambda t: t == F.col("w"))).cast("long").alias("tf"),
        "dl",
    )


def _bm25_hits_frame(spark: SparkSession, sf_dir: str, terms) -> tuple[DataFrame, Observation]:
    """:func:`_postings` of ``terms`` over the documents table, and the
    observation of the collection stats ``(n_docs, sum_dl)`` over every
    document of the same scan."""
    stats = Observation()
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    toks = docs.select("doc_id", _tokens()).observe(
        stats,
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("ts")).cast("long").alias("sum_dl"),
    )
    return _postings(toks, terms), stats


def _bm25_hits(spark: SparkSession, sf_dir: str, terms) -> tuple[pa.Table, int, int]:
    """``(postings, n_docs, sum_dl)``: :func:`_bm25_hits_frame` collected
    through Arrow — ONE Spark job for the rows and the stats."""
    frame, stats = _bm25_hits_frame(spark, sf_dir, terms)
    postings = frame.toArrow()
    return postings, stats.get["n_docs"], stats.get["sum_dl"] or 0


#: ``bm25_totals`` session artifact: the BM25 totals of the fixed
#: workload as driver arrays (:class:`Bm25Totals`).  Nine queries consume
#: them (bm25_topk, the three hybrid fusions, RM3's first pass, nDCG's
#: run, the LTR pool, ...), so the posting collect and the scoring run
#: once per session.  They are |queries| x matching docs integers: the
#: posting-volume collect of :func:`_bm25_hits`, scored on the driver.
#: bench.py purges ``bm25_totals`` on bm25_topk — the family's first
#: line — so the build cost stays measured cold every sample there.
@artifact("bm25_totals")
def _bm25_totals(spark: SparkSession, sf_dir: str) -> Bm25Totals:
    """BM25 totals of the fixed query workload over the documents table."""
    return bm25_score(spark, _BM25_TERMS, *_bm25_hits(spark, sf_dir, _BM25_TERMS))


# --- hybrid retrieval: Reciprocal Rank Fusion of the BM25 lexical arm and a
# dense cosine arm (Cormack/Clarke/Buettcher RRF; the standard fusion in
# RAG/retrieval stacks).  The synthetic fixture links the two modalities by
# id: document ``doc_id`` has embedding ``vec_id == doc_id``, and each query
# probes with the embedding of ``vec_id == query_id``.
_RRF_K = 60
_RRF_POOL = 20
_RRF_TOPK = 10
#: fused scores are exact integers: floor(SCALE / (K + rank)) per arm, so the
#: two-arm sum is BIGINT addition with identical semantics in both engines —
#: no float 1/(k+r) summation-order knife edge.
_RRF_SCALE = 1_000_000_000


def _lex_arm(spark: SparkSession, totals: Bm25Totals) -> DataFrame:
    """The lexical RRF arm: each query's top-``POOL`` BM25 documents as
    ``(query_id, doc_id, lex_rk)``, a local frame."""
    return _bm25_rank(spark, totals, _RRF_POOL).select(
        "query_id", "doc_id", F.col("rk").alias("lex_rk")
    )


def _rrf_fuse(lex: DataFrame, dense: DataFrame) -> DataFrame:
    """Integer RRF of the ``lex_rk`` and ``dense_rk`` candidate lists:
    ``SCALE div (K + rank)`` per arm (0 when absent), top-k per query by
    ``(rrf_q desc, doc_id)`` — shared by every hybrid variant."""

    def arm(rk_col: str):
        return F.when(
            F.col(rk_col).isNull(), F.lit(0).cast("long")
        ).otherwise(F.expr(f"CAST({_RRF_SCALE} div ({_RRF_K} + {rk_col}) AS LONG)"))

    fused = lex.join(dense, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (arm("lex_rk") + arm("dense_rk")).cast("long").alias("rrf_q"),
        F.coalesce("lex_rk", F.lit(0)).cast("int").alias("lex_rk"),
        F.coalesce("dense_rk", F.lit(0)).cast("int").alias("dense_rk"),
    )
    fwin = W.partitionBy("query_id").orderBy(F.desc("rrf_q"), F.asc("doc_id"))
    return (
        fused.withColumn("rk", F.row_number().over(fwin).cast("int"))
        .filter(F.col("rk") <= _RRF_TOPK)
        .select("query_id", "doc_id", "rrf_q", "lex_rk", "dense_rk", "rk")
        .orderBy("query_id", "rk")
    )


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH {_BM25_TOTALS_CTES},
    lex AS (
        SELECT query_id, doc_id, CAST(rk AS INT) AS lex_rk
        FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score_q DESC, doc_id
            ) AS rk
            FROM totals
        )
        WHERE rk <= {_RRF_POOL}
    ),
    dsims AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM {_queries_values_sql()}
        JOIN embeddings p ON p.vec_id = q.query_id
        JOIN embeddings c ON TRUE
    ),
    dense AS (
        SELECT query_id, doc_id, CAST(rk AS INT) AS dense_rk
        FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, doc_id
            ) AS rk
            FROM dsims
        )
        WHERE rk <= {_RRF_POOL}
    ),
    fused AS (
        SELECT coalesce(l.query_id, d.query_id) AS query_id,
               coalesce(l.doc_id, d.doc_id) AS doc_id,
               CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + l.lex_rk), 0)
                    + coalesce({_RRF_SCALE} // ({_RRF_K} + d.dense_rk), 0)
                    AS BIGINT) AS rrf_q,
               CAST(coalesce(l.lex_rk, 0) AS INT) AS lex_rk,
               CAST(coalesce(d.dense_rk, 0) AS INT) AS dense_rk
        FROM lex l
        FULL OUTER JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf_q, lex_rk, dense_rk, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rrf_q DESC, doc_id
        ) AS rk
        FROM fused
    )
    WHERE rk <= {_RRF_TOPK}
    ORDER BY query_id, rk
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse BM25 lexical ranks with brute-force dense cosine
    ranks via integer Reciprocal Rank Fusion, top-k per query.

    Scale notes: the lexical arm inherits :func:`bm25_topk`'s query-driven
    posting plan (work ∝ posting volume).  The dense arm here is the exact
    brute-force baseline (probes broadcast over the corpus — the corpus
    itself never shuffles, and the per-query rank is the two-phase salted
    top-k so the |queries| × N score rows never funnel through |queries|
    sort tasks); the index-served production form of the SAME fusion is
    :func:`hybrid_search_rrf_indexed` below, whose dense arm reads only
    the probed ``cid=`` partitions of the materialized IVF+PQ index.
    Fusion is rank arithmetic on two candidate lists bounded by
    |queries| × pool — driver-trivial at any corpus size.  Fused scores are
    ``SCALE div (K + rank)`` integer sums, exact in both engines.
    """
    # lexical arm: the shared BM25 totals, ranked per query on the driver
    lex = _lex_arm(spark, _bm25_totals(spark, sf_dir))

    # dense arm: probe embeddings broadcast over the corpus, exact cosine;
    # the per-query rank is the two-phase salted top-k so no single task
    # sorts corpus-sized rows per query (identical results — top-k is
    # reduction-safe)
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    probe_ids = [qid for qid, _ in _BM25_QUERIES]
    probes = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    dsims = emb.crossJoin(F.broadcast(probes)).select(
        "query_id",
        F.col("vec_id").alias("doc_id"),
        cosine(F.col("q"), F.col("embedding")).alias("sim"),
    )
    dense = salted_topk(
        dsims,
        ["query_id"],
        [F.desc("sim"), F.asc("doc_id")],
        _RRF_POOL,
        salt_src=F.col("doc_id"),
    ).select("query_id", "doc_id", F.col("rk").cast("int").alias("dense_rk"))
    return _rrf_fuse(lex, dense)


# --- filtered hybrid retrieval (r11, the filtered-RAG API shape): the
# SAME two-arm RRF fusion restricted to a METADATA predicate from a
# DIFFERENT table (documents.lang — the cross-table filter every RAG
# stack applies: "retrieve among English docs").  The filter defines
# the candidate UNIVERSE: both arms rank within the filtered pool
# (pre-filter — ranks 1..POOL are of eligible docs), not a post-filter
# of unfiltered ranks which starves the fusion pool as selectivity
# drops.  At 100 TB the lang rides the postings/index rows as a
# denormalized metadata column (a pushed-down scan predicate); here it
# is one column-pruned documents scan semi-joined into each arm. ---
_HYB_FILTER_LANG = "en"  # ~44% of docs at every sf (testgen distribution)


@query(
    "hybrid_search_rrf_filtered",
    oracle=f"""
    WITH {_BM25_TOTALS_CTES},
    allowed AS (SELECT doc_id FROM documents WHERE lang = '{_HYB_FILTER_LANG}'),
    lex AS (
        SELECT query_id, doc_id, CAST(rk AS INT) AS lex_rk
        FROM (
            SELECT t.query_id, t.doc_id, row_number() OVER (
                PARTITION BY t.query_id ORDER BY t.score_q DESC, t.doc_id
            ) AS rk
            FROM totals t JOIN allowed a ON a.doc_id = t.doc_id
        )
        WHERE rk <= {_RRF_POOL}
    ),
    dsims AS (
        SELECT q.query_id, c.vec_id AS doc_id,
               list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM {_queries_values_sql()}
        JOIN embeddings p ON p.vec_id = q.query_id
        JOIN embeddings c ON TRUE
        JOIN allowed a ON a.doc_id = c.vec_id
    ),
    dense AS (
        SELECT query_id, doc_id, CAST(rk AS INT) AS dense_rk
        FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, doc_id
            ) AS rk
            FROM dsims
        )
        WHERE rk <= {_RRF_POOL}
    ),
    fused AS (
        SELECT coalesce(l.query_id, d.query_id) AS query_id,
               coalesce(l.doc_id, d.doc_id) AS doc_id,
               CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + l.lex_rk), 0)
                    + coalesce({_RRF_SCALE} // ({_RRF_K} + d.dense_rk), 0)
                    AS BIGINT) AS rrf_q,
               CAST(coalesce(l.lex_rk, 0) AS INT) AS lex_rk,
               CAST(coalesce(d.dense_rk, 0) AS INT) AS dense_rk
        FROM lex l
        FULL OUTER JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf_q, lex_rk, dense_rk, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rrf_q DESC, doc_id
        ) AS rk
        FROM fused
    )
    WHERE rk <= {_RRF_TOPK}
    ORDER BY query_id, rk
    """,
)
def hybrid_search_rrf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered hybrid search: both RRF arms rank WITHIN the
    ``documents.lang = 'en'`` candidate universe (pre-filter — the pool
    never starves), fused with the same exact-integer arithmetic as
    :func:`hybrid_search_rrf`."""
    allowed = (
        load_table(spark, sf_dir, "documents", columns=["doc_id", "lang"])
        .filter(F.col("lang") == _HYB_FILTER_LANG)
        .select("doc_id")
    )
    # the lexical arm ranks the totals of the eligible documents only
    totals = _bm25_totals(spark, sf_dir)
    eligible = allowed.join(_totals_frame(spark, totals), "doc_id", "left_semi").toArrow()
    keep = np.isin(totals.doc_id, eligible.column("doc_id").to_numpy())
    lex = _lex_arm(spark, Bm25Totals(*(a[keep] for a in totals)))
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    probe_ids = [qid for qid, _ in _BM25_QUERIES]
    probes = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    dsims = (
        emb.join(allowed.withColumnRenamed("doc_id", "vec_id"), "vec_id", "left_semi")
        .crossJoin(F.broadcast(probes))
        .select(
            "query_id",
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("q"), F.col("embedding")).alias("sim"),
        )
    )
    dense = salted_topk(
        dsims,
        ["query_id"],
        [F.desc("sim"), F.asc("doc_id")],
        _RRF_POOL,
        salt_src=F.col("doc_id"),
    ).select("query_id", "doc_id", F.col("rk").cast("int").alias("dense_rk"))
    return _rrf_fuse(lex, dense)


# --- index-served hybrid retrieval (VERDICT r5 next #1): the SAME integer
# RRF fusion, but the dense arm is the materialized IVF+PQ index
# (queries/annindex.py) instead of the brute-force cosine scan — the form
# that survives 100x, now benched and oracle-gated rather than merely
# documented.  The dense candidate list is the probed-cells ADC top-POOL
# (ranked by quantized distance ascending); the IVF/PQ approximation is
# part of the operator's CONTRACT here, and the oracle replays the exact
# same probed search (shared ivfpq_adc_ctes chain), so the compare is
# still bit-exact.  Recall vs the brute-force arm is pinned separately in
# tests/test_retrieval.py, the ANN-family pattern.
_HYBRID_IDX_QUERY_IDS = tuple(qid for qid, _ in _BM25_QUERIES)


def _hybrid_fused_select() -> str:
    """Shared oracle tail: RRF-fuse ``lex`` and ``dense`` rank CTEs."""
    return f"""fused AS (
        SELECT coalesce(l.query_id, d.query_id) AS query_id,
               coalesce(l.doc_id, d.doc_id) AS doc_id,
               CAST(coalesce({_RRF_SCALE} // ({_RRF_K} + l.lex_rk), 0)
                    + coalesce({_RRF_SCALE} // ({_RRF_K} + d.dense_rk), 0)
                    AS BIGINT) AS rrf_q,
               CAST(coalesce(l.lex_rk, 0) AS INT) AS lex_rk,
               CAST(coalesce(d.dense_rk, 0) AS INT) AS dense_rk
        FROM lex l
        FULL OUTER JOIN dense d
          ON l.query_id = d.query_id AND l.doc_id = d.doc_id
    )
    SELECT query_id, doc_id, rrf_q, lex_rk, dense_rk, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY rrf_q DESC, doc_id
        ) AS rk
        FROM fused
    )
    WHERE rk <= {_RRF_TOPK}
    ORDER BY query_id, rk"""


def _hybrid_indexed_oracle() -> str:
    from columnflow_spark.queries.mmdata import ivfpq_adc_ctes

    ids = ", ".join(str(i) for i in _HYBRID_IDX_QUERY_IDS)
    return f"""
    WITH {ivfpq_adc_ctes(f"%s IN ({ids})", topk=_RRF_POOL)},
    {_BM25_TOTALS_CTES},
    lex AS (
        SELECT query_id, doc_id, CAST(rk AS INT) AS lex_rk
        FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score_q DESC, doc_id
            ) AS rk
            FROM totals
        )
        WHERE rk <= {_RRF_POOL}
    ),
    dense AS (
        SELECT CAST(query_id AS INT) AS query_id, neighbor_id AS doc_id,
               CAST(rk AS INT) AS dense_rk
        FROM ivf_rank
    ),
    {_hybrid_fused_select()}
    """


@query("hybrid_search_rrf_indexed", oracle=_hybrid_indexed_oracle())
def hybrid_search_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search served from the materialized IVF+PQ index: BM25
    lexical ranks fused (integer RRF) with the probed-cells ADC dense
    ranks read from the persisted ``cid=``-partitioned index.

    Scale notes: this is the production form of :func:`hybrid_search_rrf`
    — the dense arm's IO is the probed partitions only (PartitionFilters
    carry the cell IN-list, asserted in tests/test_plan_quality.py), so
    dense cost is (|queries| x n_probe / n_cells) of the index at any
    corpus size; the index itself is build-once/content-addressed
    (queries/annindex.py).  The lexical arm and the fusion arithmetic are
    identical to the brute-force twin, so the two queries' top-k overlap
    measures exactly the IVF+PQ approximation (pinned in
    tests/test_retrieval.py)."""
    from columnflow_spark.queries.annindex import _ensure_index, search_ivfpq_index

    lex = _lex_arm(spark, _bm25_totals(spark, sf_dir))

    path = _ensure_index(spark, sf_dir)
    dense = search_ivfpq_index(
        spark,
        sf_dir,
        path,
        query_pred=F.col("vec_id").isin(list(_HYBRID_IDX_QUERY_IDS)),
        topk=_RRF_POOL,
        # the route for this fixed batch is a per-session artifact SHARED
        # with colbert_maxsim_routed_topk (identical pred + n_probe):
        # routing runs once, both serving paths reuse it (VERDICT r7 #4)
        route_key=("isin", _HYBRID_IDX_QUERY_IDS),
    ).select(
        F.col("query_id").cast("int").alias("query_id"),
        F.col("neighbor_id").alias("doc_id"),
        F.col("rk").cast("int").alias("dense_rk"),
    )
    return _rrf_fuse(lex, dense)


# --- late-interaction (ColBERT-style MaxSim) retrieval: treat each 64-dim
# embedding as 8 token-vectors of 8 dims; a query-doc score is the sum over
# query token-vectors of the best-matching doc token-vector.  MaxSim is the
# standard multi-vector retrieval scorer (ColBERT; PLAID is its pruned
# serving form) — the single-vector ANN family in queries/mmdata.py cannot
# express it because the max sits INSIDE the per-query sum.
_MAXSIM_SUBS = 8
_MAXSIM_SUBDIM = 8
_MAXSIM_TOPK = 10
#: component quantization grid (1e3), the proven PQ/ADC pattern
#: (mmdata.py _pq_quantized_subs): sub-vector dot products become exact
#: BIGINT sums in both engines, and max/sum over exact integers cannot
#: drift with engine summation order.
_MAXSIM_CSCALE = 1_000


def _maxsim_qgrid(col):
    """Quantize a vector to the exact integer component grid."""
    return F.transform(
        col, lambda x: F.round(x.cast("double") * _MAXSIM_CSCALE, 0).cast("long")
    )


def _maxsim_expr():
    """The in-row MaxSim kernel over columns ``qq`` (query) and ``qe``
    (doc): ``sum_i max_j <q_i, d_j>`` on the exact integer grid — shared
    by the brute scorer and the routed re-ranker, so the re-rank stage is
    bit-identical to the exhaustive one on any candidate set."""
    return F.aggregate(
        F.sequence(F.lit(0), F.lit(_MAXSIM_SUBS - 1)),
        F.lit(0).cast("long"),
        lambda acc, i: acc
        + F.array_max(
            F.transform(
                F.sequence(F.lit(0), F.lit(_MAXSIM_SUBS - 1)),
                lambda j: F.aggregate(
                    F.zip_with(
                        F.slice(F.col("qq"), i * _MAXSIM_SUBDIM + 1, _MAXSIM_SUBDIM),
                        F.slice(F.col("qe"), j * _MAXSIM_SUBDIM + 1, _MAXSIM_SUBDIM),
                        lambda a, b: a * b,
                    ),
                    F.lit(0).cast("long"),
                    lambda s, v: s + v,
                ),
            )
        ),
    )


@query(
    "colbert_maxsim_topk",
    oracle=f"""
    WITH probes AS (
        SELECT q.query_id,
               list_transform(p.embedding::DOUBLE[],
                              x -> CAST(round(x * {_MAXSIM_CSCALE}) AS BIGINT)) AS qq
        FROM {_queries_values_sql()}
        JOIN embeddings p ON p.vec_id = q.query_id
    ),
    docs AS (
        SELECT vec_id AS doc_id,
               list_transform(embedding::DOUBLE[],
                              x -> CAST(round(x * {_MAXSIM_CSCALE}) AS BIGINT)) AS qe
        FROM embeddings
    ),
    scored AS (
        SELECT p.query_id, d.doc_id,
               CAST(list_aggregate(list_transform(range({_MAXSIM_SUBS}), i ->
                   list_max(list_transform(range({_MAXSIM_SUBS}), j ->
                       list_aggregate(list_transform(range({_MAXSIM_SUBDIM}), k ->
                           qq[i * {_MAXSIM_SUBDIM} + k + 1]
                           * qe[j * {_MAXSIM_SUBDIM} + k + 1]), 'sum')
                   ))), 'sum') AS BIGINT) AS maxsim_q
        FROM probes p CROSS JOIN docs d
    )
    SELECT query_id, doc_id, maxsim_q, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY maxsim_q DESC, doc_id
        ) AS rk
        FROM scored
    )
    WHERE rk <= {_MAXSIM_TOPK}
    ORDER BY query_id, rk
    """,
)
def colbert_maxsim_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k documents per probe under the late-interaction MaxSim score:
    ``sum_i max_j <q_i, d_j>`` over 8×8-dim sub-vectors, on the exact
    integer component grid.

    Plan shape: probes (|queries| rows) broadcast over the corpus; the
    whole MaxSim — quantize, slice, 8×8 dot-product matrix, per-row max,
    sum — is ONE in-row nested-HOF expression, so the corpus scan never
    explodes and nothing but the two-phase salted rank shuffles (narrow
    score rows, spread over (query_id, salt) tasks — no |queries|-task
    sort straggler).  At 100 TB the serving form prunes
    candidates first (IVF/PLAID-style: route on the first sub-vector via
    the materialized index in queries/annindex.py, then exact-MaxSim only
    the survivors) — the scorer below is the exact re-rank kernel of that
    pipeline, unchanged.
    """
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    probe_ids = [qid for qid, _ in _BM25_QUERIES]
    probes = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("query_id"), _maxsim_qgrid(F.col("embedding")).alias("qq")
    )
    docs = emb.select(
        F.col("vec_id").alias("doc_id"), _maxsim_qgrid(F.col("embedding")).alias("qe")
    )
    scored = docs.crossJoin(F.broadcast(probes)).select(
        "query_id", "doc_id", _maxsim_expr().cast("long").alias("maxsim_q")
    )
    # two-phase salted top-k: the per-query rank never funnels the whole
    # corpus through one sort task (identical results, reduction-safe)
    top = salted_topk(
        scored,
        ["query_id"],
        [F.desc("maxsim_q"), F.asc("doc_id")],
        _MAXSIM_TOPK,
        salt_src=F.col("doc_id"),
    )
    return (
        top.select("query_id", "doc_id", "maxsim_q", F.col("rk").cast("int").alias("rk"))
        .orderBy("query_id", "rk")
    )


# --- routed late-interaction serving (closes the r5 "route then re-rank"
# gap): PLAID-style two-stage MaxSim — route each probe to its n_probe
# nearest IVF cells via the MATERIALIZED index (planning-time
# PartitionFilters, exactly like search_ivfpq_index), then exact-MaxSim
# ONLY the probed cells' members with the same in-row kernel the brute
# scorer uses.  Candidate volume is (|queries| x probed cells' mass), not
# the corpus; the re-rank is bit-identical to the exhaustive scorer on
# that candidate set, so the routed/brute top-k overlap measures the
# routing recall alone (pinned in tests/test_retrieval.py).
_MAXSIM_ROUTED_NPROBE = 2


def _maxsim_sql(qq: str, qe: str) -> str:
    """DuckDB twin of :func:`_maxsim_expr` over the named list columns."""
    return f"""CAST(list_aggregate(list_transform(range({_MAXSIM_SUBS}), i ->
                   list_max(list_transform(range({_MAXSIM_SUBS}), j ->
                       list_aggregate(list_transform(range({_MAXSIM_SUBDIM}), k ->
                           {qq}[i * {_MAXSIM_SUBDIM} + k + 1]
                           * {qe}[j * {_MAXSIM_SUBDIM} + k + 1]), 'sum')
                   ))), 'sum') AS BIGINT)"""


@query(
    "colbert_maxsim_routed_topk",
    oracle=f"""
    WITH cents AS (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings WHERE vec_id % 64 = 0
    ),
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
    routes AS (
        SELECT query_id, cid FROM (
            SELECT q.vec_id AS query_id, c.cid,
                   row_number() OVER (
                       PARTITION BY q.vec_id
                       ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], c.ce) DESC, c.cid
                   ) AS rn
            FROM embeddings q CROSS JOIN cents c
            WHERE q.vec_id IN ({", ".join(str(i) for i in _HYBRID_IDX_QUERY_IDS)})
        ) WHERE rn <= {_MAXSIM_ROUTED_NPROBE}
    ),
    probesq AS (
        SELECT q.query_id,
               list_transform(p.embedding::DOUBLE[],
                              x -> CAST(round(x * {_MAXSIM_CSCALE}) AS BIGINT)) AS qq
        FROM {_queries_values_sql()}
        JOIN embeddings p ON p.vec_id = q.query_id
    ),
    cand AS (
        SELECT r.query_id, a.vec_id AS doc_id,
               list_transform(e.embedding::DOUBLE[],
                              x -> CAST(round(x * {_MAXSIM_CSCALE}) AS BIGINT)) AS qe
        FROM routes r JOIN assign a ON a.cid = r.cid
        JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    scored AS (
        SELECT p.query_id, c.doc_id, {_maxsim_sql("p.qq", "c.qe")} AS maxsim_q
        FROM probesq p JOIN cand c ON c.query_id = p.query_id
    )
    SELECT query_id, doc_id, maxsim_q, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY maxsim_q DESC, doc_id
        ) AS rk
        FROM scored
    )
    WHERE rk <= {_MAXSIM_TOPK}
    ORDER BY query_id, rk
    """,
)
def colbert_maxsim_routed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage late-interaction search: route each probe to its
    ``n_probe`` nearest IVF cells through the persisted index (the
    candidate read is partition-pruned — PartitionFilters carry the cell
    IN-list), then exact integer-grid MaxSim re-rank of the probed cells'
    members only.

    Scale notes: the routing decision is |queries| x n_probe rows
    (driver-bounded, like every probe plan); candidate IO is the probed
    ``cid=`` partitions of the index; vectors for the re-rank come from a
    narrow vec_id equi-join against the embedding store (at 100 TB the
    index rows carry the token vectors themselves and even that join
    disappears).  The re-rank kernel is byte-identical to
    ``colbert_maxsim_topk``'s, so routed-vs-brute top-k overlap measures
    routing recall alone."""
    from columnflow_spark.queries.annindex import _INDEX, _ensure_index
    from columnflow_spark.queries.mmdata import ivf_probe_route

    path = _ensure_index(spark, sf_dir)
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    # shared per-session route artifact: same batch + n_probe as the
    # hybrid dense arm, so the routing job runs once for both paths
    probe_rows = ivf_probe_route(
        spark,
        sf_dir,
        n_probe=_MAXSIM_ROUTED_NPROBE,
        query_pred=F.col("vec_id").isin(list(_HYBRID_IDX_QUERY_IDS)),
        route_key=("isin", _HYBRID_IDX_QUERY_IDS),
    )
    probe_cids = sorted({cid for _, cid in probe_rows})
    routes = local_frame(spark, probe_rows, "query_id long, cid long")
    cand_ids = (
        _INDEX.scan(spark, path)
        .filter(F.col("cid").isin(probe_cids))
        .select("vec_id", F.col("cid").cast("long").alias("cid"))
        .join(F.broadcast(routes), "cid")
        .select("query_id", F.col("vec_id").alias("doc_id"))
    )
    docs = emb.select(
        F.col("vec_id").alias("doc_id"), _maxsim_qgrid(F.col("embedding")).alias("qe")
    )
    probes_q = emb.filter(F.col("vec_id").isin(list(_HYBRID_IDX_QUERY_IDS))).select(
        F.col("vec_id").alias("query_id"), _maxsim_qgrid(F.col("embedding")).alias("qq")
    )
    scored = (
        cand_ids.join(docs, "doc_id")
        .join(F.broadcast(probes_q), "query_id")
        .select("query_id", "doc_id", _maxsim_expr().cast("long").alias("maxsim_q"))
    )
    top = salted_topk(
        scored,
        ["query_id"],
        [F.desc("maxsim_q"), F.asc("doc_id")],
        _MAXSIM_TOPK,
        salt_src=F.col("doc_id"),
    )
    return (
        top.select("query_id", "doc_id", "maxsim_q", F.col("rk").cast("int").alias("rk"))
        .orderBy("query_id", "rk")
    )


# --- incremental BM25 postings store: the lexical member of the
# engine's index-maintenance family (exact dedup store, SemDeDup vector
# store, IVF+PQ index — queries/dedupstore.py, queries/annindex.py).  A
# production search index is maintained per ingest batch, never rebuilt:
# each batch contributes its postings slice ``w=<term>/batch=<n>`` rows
# ``(doc_id, tf, dl)`` (query-driven: only the fixed query vocabulary's
# terms are stored — work ∝ posting volume) plus a monoid collection-
# stats slice ``_stats/batch=<n>`` rows ``(n_docs, sum_dl)``.  Serving
# collects the accumulated postings once and scores them with
# ``bm25_score``: df counted over the stored postings, avgdl from the
# exact integer stat sums — every scoring input is bit-identical to the
# from-scratch pass, so this registers
# under bm25_topk's SAME oracle (hash equality IS the maintenance-
# correctness proof, the incremental_agg_merge pattern). ---
_POSTINGS_FORMAT = 1
#: the postings rows.  The declared read schema also pins the partition
#: key ``w`` to STRING: it is a raw vocabulary term, and a term that
#: parses as a number or date ("2021", "01") would otherwise come back
#: through the inferred partition type reformatted ("01" -> 1 -> "1").
_POSTINGS = SlicedStore(
    "doc_id long, tf long, dl int, w string, batch int", "w", "doc_id", _POSTINGS_FORMAT
)


def upsert_postings_frame(docs: DataFrame, path: str, *, batch: int) -> str:
    """Tokenize one ``(doc_id, text)`` ingest frame, keep postings for the
    query vocabulary only, and upsert them (plus the batch's monoid
    collection stats)."""
    toks = docs.select("doc_id", _tokens())
    _upsert_stats(toks, path, batch=batch)
    return _POSTINGS.append(_postings(toks, _BM25_TERMS), path, batch=batch)


def _upsert_stats(toks: DataFrame, path: str, *, batch: int, sign: int = 1) -> None:
    """Record the collection stats of the tokenized docs ``toks`` (times
    ``sign``: -1 for a delete) as the ``_stats/batch=<n>`` sidecar slice,
    one ``(n_docs, sum_dl)`` row: one collect, a driver-side write."""
    import pyarrow as pa  # noqa: PLC0415

    (r,) = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size("ts")).cast("long").alias("sum_dl"),
    ).collect()
    row = {k: None if r[k] is None else sign * r[k] for k in ("n_docs", "sum_dl")}
    write_sidecar(
        path, "_stats", pa.table({k: pa.array([v], pa.int64()) for k, v in row.items()}),
        batch=batch,
    )


def upsert_postings_batch(
    spark: SparkSession, sf_dir: str, path: str, *, batch: int, batch_pred
) -> str:
    """Documents-table form of :func:`upsert_postings_frame`."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        batch_pred
    )
    return upsert_postings_frame(docs, path, batch=batch)


def bm25_totals_from_store(spark: SparkSession, path: str) -> Bm25Totals:
    """BM25 totals served from the postings store: ONE collect of the
    stored posting rows (each doc posts from exactly one batch), scored by
    :func:`bm25_score` with the exact integer stat sums of the ``_stats``
    sidecar, read on the driver — the same kernel inputs as the
    from-scratch pass."""
    import pyarrow.compute as pc  # noqa: PLC0415

    postings = _POSTINGS.scan(spark, path).select("w", "doc_id", "tf", "dl").toArrow()
    stats = read_sidecar(path, "_stats", ["n_docs", "sum_dl"])
    n_docs, sum_dl = (pc.sum(stats.column(k)).as_py() or 0 for k in ("n_docs", "sum_dl"))
    return bm25_score(spark, _BM25_TERMS, postings, n_docs, sum_dl)


def _ensure_postings_store(spark: SparkSession, sf_dir: str) -> str:
    """Two-batch fixture build (the corpus ingested as two halves)."""

    def build(p: str) -> None:
        n = load_table(spark, sf_dir, "documents", columns=["doc_id"]).count()
        upsert_postings_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < n // 2
        )
        upsert_postings_batch(
            spark, sf_dir, p, batch=1, batch_pred=F.col("doc_id") >= n // 2
        )

    return ensure_store(
        store_path(sf_dir, "documents", "bm25_postings", f"bm25-v{_POSTINGS_FORMAT}"), build
    )


@query("bm25_incremental_postings", oracle=BM25_TOPK_ORACLE)
def bm25_incremental_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k served from the PERSISTED postings store (corpus
    ingested as two batches, content-addressed reuse across sessions) —
    shares ``bm25_topk``'s oracle, so hash equality proves incremental
    index maintenance loses nothing vs the from-scratch pass."""
    path = _ensure_postings_store(spark, sf_dir)
    return _bm25_rank(spark, bm25_totals_from_store(spark, path))


# --- deletion propagation through the maintained index (the
# right-to-be-forgotten shape): removing documents from a corpus must
# propagate into every derived store WITHOUT a full rebuild.  For the
# postings store the delete is exact and cheap: postings are doc-grain
# rows (drop the deleted ids — a rewrite bounded by query-vocabulary
# posting volume, not the corpus), and the collection stats form a
# monoid WITH INVERSES (exact integers), so the deletion lands as one
# NEGATIVE stats slice computed from the deleted docs alone.  Serving
# afterwards recomputes df over the surviving postings, so every scoring
# input equals the from-scratch build over the reduced corpus — proven
# by the oracle, which is plain BM25 over ``documents`` minus the
# deleted ids. ---
_DELETE_PRED_SQL = "doc_id % 7 = 3"


def delete_docs_from_postings(
    spark: SparkSession, sf_dir: str, path: str, *, delete_pred, batch: int
) -> str:
    """Propagate a document deletion into the postings store: drop the
    ids from the posting slices (a purge with the delete as its filter)
    and append the deleted docs' NEGATED collection stats as slice
    ``batch=<n>``."""
    _POSTINGS.purge(spark, path, fold=lambda rows: rows.filter(~delete_pred))
    deleted = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        delete_pred
    )
    _upsert_stats(deleted.select("doc_id", _tokens()), path, batch=batch, sign=-1)
    return path


def _ensure_deleted_postings_store(spark: SparkSession, sf_dir: str) -> str:
    def build(p: str) -> None:
        upsert_postings_batch(spark, sf_dir, p, batch=0, batch_pred=F.lit(True))
        delete_docs_from_postings(
            spark, sf_dir, p, delete_pred=F.col("doc_id") % 7 == 3, batch=1
        )

    return ensure_store(
        store_path(sf_dir, "documents", "bm25_postings_del", f"bm25-del-v{_POSTINGS_FORMAT}"),
        build,
    )


@query(
    "bm25_postings_delete",
    oracle=f"""
    WITH {_bm25_totals_ctes(f"WHERE NOT ({_DELETE_PRED_SQL})")}
    SELECT query_id, doc_id, score_q, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY score_q DESC, doc_id
        ) AS rk
        FROM totals
    )
    WHERE rk <= {_BM25_TOPK}
    ORDER BY query_id, rk
    """,
)
def bm25_postings_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 served AFTER deletion propagation: the full corpus ingested,
    then ``doc_id % 7 == 3`` deleted through the store (posting rewrite +
    one negative stats slice).  The oracle is the from-scratch BM25 over
    the reduced corpus — hash equality proves the delete left exactly the
    right index behind."""
    path = _ensure_deleted_postings_store(spark, sf_dir)
    return _bm25_rank(spark, bm25_totals_from_store(spark, path))


# --- RM3 pseudo-relevance feedback (Lavrenko/Croft relevance models; the
# Anserini/Lucene "RM3" default): run BM25, treat the top-N docs as
# pseudo-relevant, build a relevance model over THEIR vocabulary, take the
# top-M new terms, and rescore the corpus with original terms at weight
# 7/10 and expansion terms at 3/10.  Everything stays on exact integer
# grids: the relevance-model weight of term w is
# sum_d(score_q(d) * tf_wd // dl_d) — BIGINT floor-div terms summed
# exactly, so ranking ties break identically in both engines.
_RM3_FB_DOCS = 5  # pseudo-relevant pool per query
_RM3_EXP_TERMS = 5  # expansion terms per query
_RM3_W_ORIG = 7  # lambda = 0.7 on a /10 integer grid
_RM3_W_EXP = 3

_RM3_EXP_CTES = f"""
    fb AS (
        SELECT query_id, doc_id, score_q
        FROM (
            SELECT query_id, doc_id, score_q, row_number() OVER (
                PARTITION BY query_id ORDER BY score_q DESC, doc_id
            ) AS rk
            FROM totals
        )
        WHERE rk <= {_RM3_FB_DOCS}
    ),
    wtf AS (
        SELECT w.doc_id, w.w, count(*) AS tf, max(w.dl) AS dl
        FROM words w JOIN (SELECT DISTINCT doc_id FROM fb) fd USING (doc_id)
        GROUP BY w.doc_id, w.w
    ),
    rm AS (
        SELECT f.query_id, t.w,
               CAST(sum(f.score_q * t.tf // t.dl) AS BIGINT) AS wt
        FROM fb f JOIN wtf t USING (doc_id)
        GROUP BY f.query_id, t.w
    ),
    expterms AS (
        SELECT query_id, w, wt, CAST(trk AS INT) AS trk
        FROM (
            SELECT r.query_id, r.w, r.wt, row_number() OVER (
                PARTITION BY r.query_id ORDER BY r.wt DESC, r.w
            ) AS trk
            FROM rm r LEFT JOIN qterms q
              ON q.query_id = r.query_id AND q.w = r.w
            WHERE q.w IS NULL
        )
        WHERE trk <= {_RM3_EXP_TERMS}
    )"""


@query(
    "bm25_rm3_terms",
    oracle=f"""
    WITH {_BM25_TOTALS_CTES},
    {_RM3_EXP_CTES}
    SELECT query_id, w, wt, trk FROM expterms ORDER BY query_id, trk
    """,
)
def bm25_rm3_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned RM3 expansion terms per query: ``(query_id, w, wt,
    trk)`` — the relevance-model vocabulary of the pseudo-relevant pool
    minus the original query terms, ranked by exact-integer model
    weight (:func:`_rm3_expansion`, a local frame)."""
    return local_frame(
        spark, _rm3_expansion(spark, sf_dir), "query_id INT, w STRING, wt LONG, trk INT"
    )


def _rm3_expansion(spark: SparkSession, sf_dir: str) -> list[tuple[int, str, int, int]]:
    """``(query_id, w, wt, trk)`` rows of the RM3 expansion, sorted by
    (query_id, trk), built on the driver: the feedback pool is each
    query's BM25 top-N, ONE collect fetches the pool documents' tokens
    (at most |queries| x N documents), and the model weights
    ``sum_d(score_q * tf // dl)`` are exact Python integers."""
    from collections import Counter  # noqa: PLC0415

    qid, doc, score, _ = _rank_np(_bm25_totals(spark, sf_dir), _RM3_FB_DOCS)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    pool = docs.filter(F.col("doc_id").isin(sorted(set(doc.tolist()))))
    toks = {r.doc_id: r.ts for r in pool.select("doc_id", _tokens()).collect()}
    wt: Counter = Counter()
    for q, d, s in zip(qid.tolist(), doc.tolist(), score.tolist()):
        for w, tf in Counter(toks[d]).items():
            wt[q, w] += s * tf // len(toks[d])
    out, seen = [], Counter()
    for (q, w), v in sorted(wt.items(), key=lambda kv: (kv[0][0], -kv[1], kv[0][1])):
        if (q, w) not in _BM25_TERMS and seen[q] < _RM3_EXP_TERMS:
            seen[q] += 1
            out.append((q, w, v, seen[q]))
    return out


@query(
    "bm25_rm3_topk",
    oracle=f"""
    WITH {_BM25_TOTALS_CTES},
    {_RM3_EXP_CTES},
    etf AS (
        SELECT w.doc_id, w.w, count(*) AS tf, max(w.dl) AS dl
        FROM words w JOIN (SELECT DISTINCT w FROM expterms) e USING (w)
        GROUP BY w.doc_id, w.w
    ),
    eposting AS (
        SELECT doc_id, w, tf, dl, count(*) OVER (PARTITION BY w) AS df
        FROM etf
    ),
    escored AS (
        SELECT e.query_id, p.doc_id,
               CAST(round(
                   ln(1 + (s.n_docs - p.df + 0.5) / (p.df + 0.5))
                   * (p.tf * ({_BM25_K1} + 1))
                   / (p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl))
                   * {_BM25_SCALE}) AS BIGINT) AS si
        FROM eposting p
        JOIN expterms e USING (w)
        CROSS JOIN stats s
    ),
    etotals AS (
        SELECT query_id, doc_id, CAST(sum(si) AS BIGINT) AS escore
        FROM escored GROUP BY query_id, doc_id
    ),
    fused AS (
        SELECT coalesce(t.query_id, e.query_id) AS query_id,
               coalesce(t.doc_id, e.doc_id) AS doc_id,
               CAST({_RM3_W_ORIG} * coalesce(t.score_q, 0)
                    + {_RM3_W_EXP} * coalesce(e.escore, 0) AS BIGINT) AS score_q
        FROM totals t FULL OUTER JOIN etotals e
          ON t.query_id = e.query_id AND t.doc_id = e.doc_id
    )
    SELECT query_id, doc_id, score_q, CAST(rk AS INT) AS rk
    FROM (
        SELECT query_id, doc_id, score_q, row_number() OVER (
            PARTITION BY query_id ORDER BY score_q DESC, doc_id
        ) AS rk
        FROM fused
    )
    WHERE rk <= {_BM25_TOPK}
    ORDER BY query_id, rk
    """,
)
def bm25_rm3_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-pass BM25 under the RM3-expanded query: original terms at
    weight 7/10, the learned expansion terms at 3/10, exact integer
    fusion, top-k per query.

    Plan shape: the second pass scores the expansion terms exactly like
    the first pass scores the query terms — one shuffle-free posting
    collect (:func:`_bm25_hits`) and :func:`bm25_score` — and the fusion
    and rank are int64 sums and a sort on the driver."""
    totals = _bm25_totals(spark, sf_dir)
    exp = [(q, w) for q, w, _, _ in _rm3_expansion(spark, sf_dir)]
    etotals = bm25_score(spark, exp, *_bm25_hits(spark, sf_dir, exp))
    fused = _sum_per_pair(
        np.r_[totals.query_id, etotals.query_id],
        np.r_[totals.doc_id, etotals.doc_id],
        np.r_[_RM3_W_ORIG * totals.score_q, _RM3_W_EXP * etotals.score_q],
    )
    return _bm25_rank(spark, fused)


# --- retrieval quality metrics: MRR@10 and nDCG@10 for the BM25 run
# against a DETERMINISTIC relevance label (a doc is relevant to a query
# iff it contains EVERY query term — the conjunctive-match gold standard
# a synthetic corpus supports without human judgments).  DCG discount
# weights are PRECOMPUTED integer literals (round(1e6 / log2(r+1))), so
# the metric arithmetic is exact integer sums/divisions in both engines
# — no ln/log2 knife edge.
_EVAL_K = 10
_EVAL_DCG_W = (1000000, 630930, 500000, 430677, 386853, 356207, 333333, 315465, 301030, 289065)
_EVAL_SCALE = 1_000_000


def _dcg_w_sql(rk: str) -> str:
    cases = " ".join(
        f"WHEN {rk} = {r} THEN {w}" for r, w in enumerate(_EVAL_DCG_W, start=1)
    )
    return f"(CASE {cases} ELSE 0 END)"


@query(
    "retrieval_eval_ndcg",
    oracle=f"""
    WITH {_BM25_TOTALS_CTES},
    run AS (
        SELECT query_id, doc_id, CAST(rk AS INT) AS rk
        FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score_q DESC, doc_id
            ) AS rk
            FROM totals
        )
        WHERE rk <= {_EVAL_K}
    ),
    nterms AS (
        SELECT query_id, count(DISTINCT w) AS nt FROM qterms GROUP BY query_id
    ),
    relevant AS (
        SELECT q.query_id, w2.doc_id
        FROM (SELECT DISTINCT query_id FROM qterms) q
        JOIN (
            SELECT qt.query_id AS qid, wd.doc_id, count(DISTINCT wd.w) AS hit
            FROM words wd JOIN qterms qt ON qt.w = wd.w
            GROUP BY qt.query_id, wd.doc_id
        ) w2 ON w2.qid = q.query_id
        JOIN nterms n ON n.query_id = q.query_id
        WHERE w2.hit = n.nt
    ),
    judged AS (
        SELECT r.query_id, r.rk,
               CASE WHEN rel.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_rel
        FROM run r LEFT JOIN relevant rel
          ON rel.query_id = r.query_id AND rel.doc_id = r.doc_id
    ),
    per_q AS (
        SELECT j.query_id,
               CAST(sum(j.is_rel * {_dcg_w_sql("j.rk")}) AS BIGINT) AS dcg_q,
               CAST(min(CASE WHEN j.is_rel = 1 THEN j.rk END) AS BIGINT) AS first_rel,
               CAST(sum(j.is_rel) AS BIGINT) AS n_rel_ranked
        FROM judged j GROUP BY j.query_id
    ),
    ideal AS (
        SELECT rel.query_id, CAST(count(*) AS BIGINT) AS n_rel
        FROM relevant rel GROUP BY rel.query_id
    ),
    idcg AS (
        SELECT i.query_id,
               CAST(sum({_dcg_w_sql("r.r")}) AS BIGINT) AS idcg_q
        FROM ideal i JOIN (SELECT unnest(range(1, {_EVAL_K + 1})) AS r) r
          ON r.r <= least(i.n_rel, {_EVAL_K})
        GROUP BY i.query_id
    )
    SELECT p.query_id, coalesce(i2.n_rel, 0) AS n_rel, p.n_rel_ranked,
           CAST(coalesce({_EVAL_SCALE} // p.first_rel, 0) AS BIGINT) AS mrr_q,
           CAST(CASE WHEN d.idcg_q > 0 THEN p.dcg_q * {_EVAL_SCALE} // d.idcg_q
                ELSE 0 END AS BIGINT) AS ndcg_q
    FROM per_q p
    LEFT JOIN ideal i2 ON i2.query_id = p.query_id
    LEFT JOIN idcg d ON d.query_id = p.query_id
    ORDER BY p.query_id
    """,
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query retrieval metrics for the BM25 run: ``(query_id, n_rel,
    n_rel_ranked, mrr_q, ndcg_q)`` on the 1e-6 grid.

    Plan shape: the gold set is one conjunctive-match aggregation over
    the query-term postings (posting-volume shuffle, never a corpus
    text rescan); the judged run and the ideal-DCG table are
    |queries| x k grain."""
    run = _bm25_rank(spark, _bm25_totals(spark, sf_dir), _EVAL_K).select(
        "query_id", "doc_id", "rk"
    )
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    words = docs.select("doc_id", F.explode(_tokens()).alias("w"))
    qterms = local_frame(spark, _BM25_TERMS, "query_id INT, w STRING")
    nterms = {qid: len(set(text.split(" "))) for qid, text in _BM25_QUERIES}
    nt = local_frame(spark, list(nterms.items()), "query_id INT, nt INT")
    hits = (
        words.join(F.broadcast(qterms), "w")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("w").alias("hit"))
    )
    relevant = (
        hits.join(F.broadcast(nt), "query_id")
        .filter(F.col("hit") == F.col("nt"))
        .select("query_id", "doc_id")
        .transform(checkpoint_df)  # gold grain: |queries| x matching docs
    )
    w_expr = F.expr(_dcg_w_sql("rk"))
    judged = run.join(
        relevant.withColumn("is_rel", F.lit(1)), ["query_id", "doc_id"], "left"
    ).select("query_id", "rk", F.coalesce(F.col("is_rel"), F.lit(0)).alias("is_rel"))
    per_q = judged.groupBy("query_id").agg(
        F.sum(F.col("is_rel") * w_expr).cast("long").alias("dcg_q"),
        F.min(F.when(F.col("is_rel") == 1, F.col("rk"))).cast("long").alias("first_rel"),
        F.sum("is_rel").cast("long").alias("n_rel_ranked"),
    )
    ideal = relevant.groupBy("query_id").agg(F.count(F.lit(1)).cast("long").alias("n_rel"))
    ranks = local_frame(spark, [(r,) for r in range(1, _EVAL_K + 1)], "r INT")
    idcg = (
        ideal.join(F.broadcast(ranks), F.col("r") <= F.least(F.col("n_rel"), F.lit(_EVAL_K)))
        .groupBy("query_id")
        .agg(F.sum(F.expr(_dcg_w_sql("r"))).cast("long").alias("idcg_q"))
    )
    return (
        per_q.join(ideal, "query_id", "left")
        .join(idcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_rel"), F.lit(0)).cast("long").alias("n_rel"),
            "n_rel_ranked",
            F.coalesce(F.expr(f"{_EVAL_SCALE} div first_rel"), F.lit(0))
            .cast("long")
            .alias("mrr_q"),
            F.when(
                F.col("idcg_q") > 0,
                F.expr(f"dcg_q * {_EVAL_SCALE} div idcg_q"),
            )
            .otherwise(0)
            .cast("long")
            .alias("ndcg_q"),
        )
        .orderBy("query_id")
    )


# --- pointwise learning-to-rank re-rank over the hybrid pool (VERDICT
# r9 next #4): the production step after fixed-weight RRF — a logistic
# model over (bm25, cosine, term-overlap, bias) features re-scores the
# lex ∪ dense candidate pool, trained IN-ENGINE with the
# one-aggregation-per-step logreg kernel (the ``tf_learned_gate``
# pattern) and served as plan literals.
#
# Exactness architecture (the piece that makes a trained ranker
# oracle-replayable):
# - features live on a 1e-4 integer grid (BM25 total div 100, cosine
#   round*1e4, overlap fraction *1e4, bias 1e4);
# - weights are ROUNDED TO A 1e-6 INTEGER GRID AFTER EVERY STEP, so
#   the forward pass z = Σ wq_j·xq_j is an exact BIGINT in both
#   engines at every step AND at serve — the only cross-engine noise
#   is the per-step gradient sum's ulp order-dependence, absorbed by
#   the weight rounding exactly like ``ml_logreg_fit``'s round-4
#   output (knife-edge class, measure-~0);
# - the final ranking orders exact integers with doc_id tie-breaks.
#
# Labels are the conjunctive-match gold of ``retrieval_eval_ndcg``
# (pointwise in-domain fit: the overlap feature dominates by
# construction — the pin's value is the trained-rank PLUMBING, exactly
# like tf_learned_gate).  nDCG(LTR) >= nDCG(RRF) is pinned in
# tests/test_retrieval_ltr.py via the shared DCG weights.
_LTR_STEPS = 6
_LTR_LR = 0.5
_LTR_WSCALE = 1_000_000  # weight grid 1e-6
_LTR_XSCALE = 10_000  # feature grid 1e-4
_LTR_NF = 4
_LTR_TOPK = 10


def _ltr_pool_feat_ctes() -> str:
    """CTE chain ``totals`` → ``feat(query_id, doc_id, xl, y)`` — the
    pooled candidates with integer-grid features and gold labels."""
    return f"""
    lex AS MATERIALIZED (
        SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score_q DESC, doc_id
            ) AS rk FROM totals
        ) WHERE rk <= {_RRF_POOL}
    ),
    dsims AS MATERIALIZED (
        SELECT q.query_id, c.vec_id AS doc_id,
               list_cosine_similarity(p.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS sim
        FROM {_queries_values_sql()}
        JOIN embeddings p ON p.vec_id = q.query_id
        JOIN embeddings c ON TRUE
    ),
    dense AS MATERIALIZED (
        SELECT query_id, doc_id FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY sim DESC, doc_id
            ) AS rk FROM dsims
        ) WHERE rk <= {_RRF_POOL}
    ),
    pool AS MATERIALIZED (
        SELECT DISTINCT query_id, doc_id FROM (
            SELECT query_id, doc_id FROM lex
            UNION ALL SELECT query_id, doc_id FROM dense
        )
    ),
    nterms AS MATERIALIZED (
        SELECT query_id, count(DISTINCT w) AS nt FROM qterms GROUP BY query_id
    ),
    qhits AS MATERIALIZED (
        SELECT qt.query_id, wd.doc_id, count(DISTINCT wd.w) AS hit
        FROM words wd JOIN qterms qt ON qt.w = wd.w
        GROUP BY qt.query_id, wd.doc_id
    ),
    feat AS MATERIALIZED (
        SELECT p.query_id, p.doc_id,
               [coalesce(t.score_q, 0) // 100,
                CAST(round(list_cosine_similarity(
                    qe.embedding::DOUBLE[], de.embedding::DOUBLE[]) * {_LTR_XSCALE})
                    AS BIGINT),
                coalesce(h.hit, 0) * {_LTR_XSCALE} // n.nt,
                {_LTR_XSCALE}] AS xl,
               CASE WHEN coalesce(h.hit, 0) = n.nt THEN 1.0 ELSE 0.0 END AS y
        FROM pool p
        LEFT JOIN totals t ON t.query_id = p.query_id AND t.doc_id = p.doc_id
        JOIN embeddings qe ON qe.vec_id = p.query_id
        JOIN embeddings de ON de.vec_id = p.doc_id
        LEFT JOIN qhits h ON h.query_id = p.query_id AND h.doc_id = p.doc_id
        JOIN nterms n ON n.query_id = p.query_id
    )"""


def _ltr_fit_ctes() -> str:
    """Weight CTEs wl0..wlK: integer 1e-6-grid weights, one gradient
    aggregation per step — the exact replay of :func:`_ltr_train`."""
    parts = [f""",
    wl0 AS MATERIALIZED (
        SELECT list_transform(range({_LTR_NF}), j -> CAST(0 AS BIGINT)) AS wl
    )"""]
    parts.extend(_ltr_step_ctes(src="feat", prefix="wl"))
    return "".join(parts)


def _ltr_step_ctes(src: str, prefix: str) -> list[str]:
    """The K per-step (scored → grad → rounded-weight) CTEs over example
    relation ``src(xl, y)`` starting from ``{prefix}0`` — shared by the
    pointwise fit (src=feat) and the pairwise fit (src=fpairs)."""
    parts = []
    zq = (
        f"list_aggregate(list_transform(range(1, {_LTR_NF + 1}), "
        f"j -> wl[j] * xl[j]), 'sum')"
    )
    for k in range(1, _LTR_STEPS + 1):
        parts.append(f""",
    {prefix}scored{k} AS MATERIALIZED (
        SELECT xl, y,
               1.0 / (1.0 + exp(-(CAST({zq} AS DOUBLE)
                   / {_LTR_WSCALE * _LTR_XSCALE}))) AS p
        FROM {src}, {prefix}{k - 1}
    ),
    {prefix}grad{k} AS MATERIALIZED (
        SELECT j, sum((p - y) * (xl[j + 1] / {_LTR_XSCALE}.0)) AS g
        FROM {prefix}scored{k}, unnest(range({_LTR_NF})) AS t(j)
        GROUP BY j
    ),
    {prefix}{k} AS MATERIALIZED (
        SELECT list(wq ORDER BY j) AS wl FROM (
            SELECT g.j,
                   CAST(CASE WHEN v >= 0 THEN floor(v * {_LTR_WSCALE} + 0.5)
                        ELSE -floor(-v * {_LTR_WSCALE} + 0.5) END AS BIGINT) AS wq
            FROM (
                SELECT g.j AS j, wl[g.j + 1] / {_LTR_WSCALE}.0 - {_LTR_LR} * g.g AS v
                FROM {prefix}grad{k} g, {prefix}{k - 1}
            ) g
        )
    )""")
    return parts


LTR_RERANK_ORACLE = f"""
    WITH {_BM25_TOTALS_CTES},{_ltr_pool_feat_ctes()}{_ltr_fit_ctes()}
    SELECT query_id, doc_id, CAST(z AS BIGINT) AS ltr_q, CAST(rk AS INT) AS rk
    FROM (
        SELECT query_id, doc_id, z, row_number() OVER (
            PARTITION BY query_id ORDER BY z DESC, doc_id
        ) AS rk
        FROM (
            SELECT f.query_id, f.doc_id,
                   list_aggregate(list_transform(range(1, {_LTR_NF + 1}),
                       j -> wl[j] * xl[j]), 'sum') AS z
            FROM feat f, wl{_LTR_STEPS}
        )
    )
    WHERE rk <= {_LTR_TOPK}
    ORDER BY query_id, rk
    """


@artifact("ltr_features")
def _ltr_feat_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled feature frame ``(query_id, doc_id, x1q..x4q, y)`` —
    checkpointed once per (session, sf_dir): |queries| x <=2·pool rows;
    training replays K aggregations over it, never the corpus."""
    totals = _bm25_totals(spark, sf_dir)
    lex = _lex_arm(spark, totals).select("query_id", "doc_id")
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    probe_ids = [qid for qid, _ in _BM25_QUERIES]
    probes = emb.filter(F.col("vec_id").isin(probe_ids)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    dsims = emb.crossJoin(F.broadcast(probes)).select(
        "query_id", F.col("vec_id").alias("doc_id"), cosine(F.col("q"), F.col("embedding")).alias("sim")
    )
    dense = salted_topk(
        dsims, ["query_id"], [F.desc("sim"), F.asc("doc_id")], _RRF_POOL, salt_src=F.col("doc_id")
    ).select("query_id", "doc_id")
    pool = lex.unionAll(dense).distinct().transform(checkpoint_df)

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    words = docs.select("doc_id", F.explode(_tokens()).alias("w"))
    qterms = local_frame(spark, _BM25_TERMS, "query_id INT, w STRING")
    nt = local_frame(
        spark,
        [(qid, len(set(text.split(" ")))) for qid, text in _BM25_QUERIES],
        "query_id INT, nt INT",
    )
    hits = (
        words.join(F.broadcast(qterms), "w")
        .groupBy("query_id", "doc_id")
        .agg(F.countDistinct("w").alias("hit"))
    )
    # pool is bounded: every enrichment join broadcasts it
    qe = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    de = emb.select(F.col("vec_id").alias("doc_id"), F.col("embedding").alias("de"))
    feat = (
        pool.join(_totals_frame(spark, totals), ["query_id", "doc_id"], "left")
        .join(qe, "query_id")
        .join(de, "doc_id")
        .join(hits, ["query_id", "doc_id"], "left")
        .join(F.broadcast(nt), "query_id")
        .select(
            "query_id",
            "doc_id",
            F.expr("coalesce(score_q, 0) div 100").cast("long").alias("x1q"),
            F.round(cosine(F.col("qe"), F.col("de")) * _LTR_XSCALE, 0)
            .cast("long")
            .alias("x2q"),
            F.expr(f"coalesce(hit, 0) * {_LTR_XSCALE} div nt").cast("long").alias("x3q"),
            F.lit(_LTR_XSCALE).cast("long").alias("x4q"),
            F.when(F.coalesce(F.col("hit"), F.lit(0)) == F.col("nt"), 1.0)
            .otherwise(0.0)
            .alias("y"),
        )
        .transform(checkpoint_df)
    )
    return feat


def _ltr_round(v: float) -> int:
    """1e-6-grid weight rounding — the documented ``sign(y) *
    floor(|y| + .5)`` form, matching the oracle's floor expression."""
    import math

    vs = v * _LTR_WSCALE
    return int(math.floor(vs + 0.5)) if vs >= 0 else -int(math.floor(-vs + 0.5))


_LTR_XCOLS = ["x1q", "x2q", "x3q", "x4q"]


def _ltr_fit(frame: DataFrame) -> list[int]:
    """K gradient steps over a bounded example frame ``(x1q..x4q, y)``;
    returns the 1e-6-grid integer weights — shared by the pointwise and
    pairwise trainers.

    An EMPTY example frame (possible for the pairwise trainer when a
    workload yields no (relevant, non-relevant) pool pairs) fails loudly
    here: the silent alternative is a float(None) TypeError mid-step on
    the engine side while the oracle's empty weight CTE returns zero
    rows — two different failure modes for the same degenerate input
    (ADVICE r10)."""
    if frame.isEmpty():
        raise ValueError(
            "_ltr_fit: empty training-example frame — the workload produced "
            "no labeled pool examples (pairwise: no (relevant, non-relevant) "
            "pairs); LTR re-ranking is undefined for this corpus/workload"
        )
    wq = [0] * _LTR_NF
    for _ in range(_LTR_STEPS):
        z = sum(F.lit(wq[j]) * F.col(_LTR_XCOLS[j]) for j in range(_LTR_NF))
        p = F.lit(1.0) / (
            F.lit(1.0) + F.exp(-(z.cast("double") / F.lit(float(_LTR_WSCALE * _LTR_XSCALE))))
        )
        row = frame.agg(
            *[
                F.sum((p - F.col("y")) * (F.col(_LTR_XCOLS[j]) / F.lit(float(_LTR_XSCALE)))).alias(f"g{j}")
                for j in range(_LTR_NF)
            ]
        ).collect()[0]
        wq = [
            _ltr_round(wq[j] / _LTR_WSCALE - _LTR_LR * float(row[f"g{j}"]))
            for j in range(_LTR_NF)
        ]
    return wq


@artifact("ltr_weights")
def ltr_train(spark: SparkSession, sf_dir: str) -> list[int]:
    """Pointwise fit over the checkpointed pool features; returns the
    1e-6-grid integer weights (a 4-element driver artifact)."""
    return _ltr_fit(_ltr_feat_cached(spark, sf_dir))


@query("ltr_rerank_topk", oracle=LTR_RERANK_ORACLE)
def ltr_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-LTR re-ranked hybrid pool: top-10 per query by the
    exact-integer trained score ``z = Σ wq_j · xq_j`` (weights baked in
    as plan literals — serving never touches the trainer)."""
    wq = ltr_train(spark, sf_dir)
    feat = _ltr_feat_cached(spark, sf_dir)
    xcols = ["x1q", "x2q", "x3q", "x4q"]
    z = sum(F.lit(wq[j]) * F.col(xcols[j]) for j in range(_LTR_NF))
    win = W.partitionBy("query_id").orderBy(F.desc("z"), F.asc("doc_id"))
    return (
        feat.select("query_id", "doc_id", z.cast("long").alias("z"))
        .withColumn("rk", F.row_number().over(win).cast("int"))
        .filter(F.col("rk") <= _LTR_TOPK)
        .select("query_id", "doc_id", F.col("z").alias("ltr_q"), "rk")
        .orderBy("query_id", "rk")
    )


@query(
    "ltr_model_weights",
    oracle=f"""
    WITH {_BM25_TOTALS_CTES},{_ltr_pool_feat_ctes()}{_ltr_fit_ctes()}
    SELECT j, wl[j + 1] AS wq
    FROM wl{_LTR_STEPS}, unnest(range({_LTR_NF})) AS t(j)
    ORDER BY j
    """,
)
def ltr_model_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The trained 1e-6-grid weight vector itself, oracle-pinned: the
    DuckDB side replays all K training aggregations (pool build →
    features → gradients → per-step integer rounding) and must land on
    the IDENTICAL four integers the engine trained — the
    ``ml_logreg_fit`` shape with an exact-integer artifact instead of a
    rounded-double one."""
    wq = ltr_train(spark, sf_dir)
    return (
        local_frame(spark, [(j, int(wq[j])) for j in range(_LTR_NF)], "j int, wq long")
        .orderBy("j")
    )


# --- pairwise LTR (RankNet-style): the same logistic kernel applied to
# within-query (relevant, non-relevant) DIFFERENCE vectors — the model
# learns P(a ranks above b) = sigma(w·(xa - xb)), which is the pairwise
# objective production rankers optimize; serving is still one linear
# score per doc (the difference form makes the bias cancel, so its
# weight stays 0).  Pair examples are bounded: |queries| x |rel in
# pool| x |non-rel in pool|.  Exactness is inherited wholesale from the
# pointwise fit: integer-grid difference features, per-step 1e-6 weight
# rounding, exact-BIGINT serve ranking.
_LTR_PAIR_CTES = f""",
    fpairs AS MATERIALIZED (
        SELECT a.query_id,
               list_transform(range(1, {_LTR_NF + 1}), j -> a.xl[j] - b.xl[j]) AS xl,
               1.0 AS y
        FROM feat a JOIN feat b
          ON a.query_id = b.query_id AND a.y = 1.0 AND b.y = 0.0
    ),
    pwl0 AS MATERIALIZED (
        SELECT list_transform(range({_LTR_NF}), j -> CAST(0 AS BIGINT)) AS wl
    )"""


def _ltr_pairwise_ctes() -> str:
    return _LTR_PAIR_CTES + "".join(_ltr_step_ctes(src="fpairs", prefix="pwl"))


LTR_PAIRWISE_ORACLE = f"""
    WITH {_BM25_TOTALS_CTES},{_ltr_pool_feat_ctes()}{_ltr_pairwise_ctes()}
    SELECT query_id, doc_id, CAST(z AS BIGINT) AS ltr_q, CAST(rk AS INT) AS rk
    FROM (
        SELECT query_id, doc_id, z, row_number() OVER (
            PARTITION BY query_id ORDER BY z DESC, doc_id
        ) AS rk
        FROM (
            SELECT f.query_id, f.doc_id,
                   list_aggregate(list_transform(range(1, {_LTR_NF + 1}),
                       j -> wl[j] * xl[j]), 'sum') AS z
            FROM feat f, pwl{_LTR_STEPS}
        )
    )
    WHERE rk <= {_LTR_TOPK}
    ORDER BY query_id, rk
    """


@artifact("ltr_pairwise_weights")
def ltr_train_pairwise(spark: SparkSession, sf_dir: str) -> list[int]:
    """Pairwise fit: difference vectors of every (relevant, non-relevant)
    pool pair per query, label 1 — same kernel, same rounding."""
    feat = _ltr_feat_cached(spark, sf_dir)
    a = feat.filter(F.col("y") == 1.0).select(
        "query_id", *[F.col(c).alias(f"a{c}") for c in _LTR_XCOLS]
    )
    b = feat.filter(F.col("y") == 0.0).select(
        "query_id", *[F.col(c).alias(f"b{c}") for c in _LTR_XCOLS]
    )
    pairs = a.join(b, "query_id").select(
        *[(F.col(f"a{c}") - F.col(f"b{c}")).alias(c) for c in _LTR_XCOLS],
        F.lit(1.0).alias("y"),
    )
    return _ltr_fit(pairs)


@query("ltr_pairwise_rerank_topk", oracle=LTR_PAIRWISE_ORACLE)
def ltr_pairwise_rerank_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid pool re-ranked by the pairwise-trained linear model —
    exact BIGINT scores, weights as plan literals, full SQL training
    replay (difference-pair build + K rounded gradient steps)."""
    wq = ltr_train_pairwise(spark, sf_dir)
    feat = _ltr_feat_cached(spark, sf_dir)
    z = sum(F.lit(wq[j]) * F.col(_LTR_XCOLS[j]) for j in range(_LTR_NF))
    win = W.partitionBy("query_id").orderBy(F.desc("z"), F.asc("doc_id"))
    return (
        feat.select("query_id", "doc_id", z.cast("long").alias("z"))
        .withColumn("rk", F.row_number().over(win).cast("int"))
        .filter(F.col("rk") <= _LTR_TOPK)
        .select("query_id", "doc_id", F.col("z").alias("ltr_q"), "rk")
        .orderBy("query_id", "rk")
    )
