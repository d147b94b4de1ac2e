"""Materialized exact-dedup fingerprint store: dedup NEW data against
ALL of history without rescanning history.

``dedup_exact`` (queries/textdedup.py) fingerprints the whole corpus every
session; at 100 TB the history side is the expensive artifact — a real
ingest pipeline fingerprints each arriving batch once, flags it against
the accumulated fingerprint store, and upserts the batch's new
fingerprints, so per-batch cost is O(batch + store-join), never
O(history rescan).  Same store contract as the materialized IVF+PQ
index (queries/annindex.py):

- **layout** ``band=<b>/batch=<n>/part-*.parquet`` rows
  ``(fingerprint, first_doc)`` — ONE row per distinct fingerprint per
  batch (``min(doc_id)`` aggregation at build, the map-side-combinable
  keep-first pattern; the store grows with distinct content, not docs).
  ``band`` = hash(fingerprint) % 16 is the co-location axis: batch
  lookups join on (band, fingerprint), so a bucketed layout can place
  store and probe partitions together; ``batch`` is the idempotent
  upsert unit (re-running an ingest batch replaces exactly its own
  files).
- **flagging** a batch is: fingerprint the batch, LEFT-join the store
  (shuffle join on the digest — both sides are document-grain and must
  NEVER be broadcast, see the negative guardrail in
  tests/test_plan_quality.py), plus a within-batch ``min() OVER
  (PARTITION BY fingerprint)`` for intra-batch firsts.
- **incremental contract** upserting batches 1..k then flagging batch
  k+1 is bit-identical to flagging against a from-scratch store over
  the same prefix (tests/test_dedupstore.py), mirroring
  tests/test_ann_index.py's incremental ≡ full-build proof.

The registered query builds the store from the history prefix (first
60% of doc_ids), flags the remaining 40% as the arriving batch, and
returns per-doc (dup_prior, dup_in_batch, keep) decisions; the oracle
replays both sides from the raw table.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnflow_spark.core.artifacts import artifact
from columnflow_spark.core.state import checkpoint_df

from columnflow_spark.functions.similarity import (
    chunked_self_pairs,
    cosine,
    nearest_centroid_assign,
)
from columnflow_spark.functions.text import fingerprint
from columnflow_spark.queries import query
from columnflow_spark.sources import load_table, spread
from columnflow_spark.sources.sinks import (
    anti_tombstones,
    clear_tombstones,
    ensure_store,
    is_built,
    mark_built,
    replace_store,
    store_path,
    upsert_partitions,
    upsert_tombstones,
    write_events,
)

#: bump when the fingerprint definition OR the row monoid changes:
#: stored digests from an older normalizer / rows without the holder
#: count must not be reused (v2: + ``cnt``, the deletion monoid)
_STORE_FORMAT = 2
_N_BANDS = 16


def dedup_store_path(sf_dir: str) -> str:
    """Content-addressed store location (:func:`sinks.store_path`): a
    rebuilt corpus or a changed fingerprint definition gets a fresh
    store."""
    return store_path(sf_dir, "documents", "dedup_store", f"v{_STORE_FORMAT}")


def doc_fingerprints(docs: DataFrame) -> DataFrame:
    """``(doc_id, fingerprint, band)`` for a ``(doc_id, text, …)`` frame."""
    return docs.select(
        "doc_id", fingerprint(F.col("text")).alias("fingerprint")
    ).withColumn("band", F.pmod(F.hash("fingerprint"), F.lit(_N_BANDS)))


def _fingerprints(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    if pred is not None:
        docs = docs.filter(pred)
    return doc_fingerprints(docs)


def upsert_fingerprints(fp: DataFrame, path: str, *, batch: int) -> str:
    """Reduce a fingerprinted frame to per-fingerprint first holder +
    holder count (both map-side combinable — no keep-list broadcast)
    and upsert it as the store's ``batch=<n>`` slice.  ``cnt`` is the
    deletion monoid: the store is content-grain (holder identities are
    aggregated away), so right-to-be-forgotten deletes land as NEGATIVE
    count slices (:func:`delete_docs_from_dedup_store`) and presence
    becomes ``sum(cnt) > 0`` — exact integers, inverse-closed, order-
    free (the bm25 collection-stats recipe)."""
    rows = (
        fp.groupBy("band", "fingerprint")
        .agg(
            F.min("doc_id").alias("first_doc"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .withColumn("batch", F.lit(int(batch)))
    )
    upsert_partitions(rows, path, partition_by=["band", "batch"])
    mark_built(path, _STORE_FORMAT)
    return path


def upsert_dedup_batch(
    spark: SparkSession, sf_dir: str, path: str, *, batch: int, batch_pred
) -> str:
    """Fingerprint one ingest batch of the documents table and upsert it."""
    return upsert_fingerprints(
        _fingerprints(spark, sf_dir, batch_pred), path, batch=batch
    )


def compact_dedup_store(spark: SparkSession, path: str) -> None:
    """Fold the ``band=/batch=`` store back into one ``batch=0`` slice
    per band (VERDICT r5 next #5: without compaction the store grows one
    directory per ingest batch forever — listing cost and small-file
    count grow with ingest history, not with content).

    Semantic, not just file-level: the same fingerprint upserted by
    several batches collapses to ONE row keeping the earliest holder
    (``min(first_doc)`` — the monoid the per-batch build already uses),
    so flagging against the compacted store is bit-identical to flagging
    against the full batch history (tests/test_dedupstore.py re-proves
    the incremental ≡ from-scratch equivalence over a compacted store).
    The rewrite is staged and published by one rename, keeping the
    marker (sources/sinks.py:replace_store).

    Compaction is also the VACUUM step of deletion propagation: a
    fingerprint whose summed holder count reaches zero (every holder
    deleted through :func:`delete_docs_from_dedup_store`) is physically
    dropped here — the logical tombstone becomes a physical purge, the
    same two-phase shape as Delta-style delete+vacuum.  ``first_doc``
    min-merges over the surviving rows; it is the earliest RECORDED
    holder (a later-deleted doc can still be named until its content
    fully vacuums) — informational only, never a flagging input."""
    rows = (
        spark.read.parquet(path)
        .groupBy(F.col("band").cast("int").alias("band"), "fingerprint")
        .agg(F.min("first_doc").alias("first_doc"), F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > 0)
        .withColumn("batch", F.lit(0))
    )
    replace_store(path, lambda p: write_events(rows, p, partition_by=["band", "batch"]))


def flag_fingerprints_against_store(
    fp: DataFrame, path: str, *, max_batch: int | None = None
) -> DataFrame:
    """Per-doc dedup decision for a fingerprinted batch frame vs the
    accumulated store (optionally batches ``<= max_batch``) and the
    batch itself.  Both join sides are document/fingerprint grain and
    deliberately un-hinted (shuffle join; see the negative broadcast
    guardrail)."""
    store = fp.sparkSession.read.parquet(path)
    if max_batch is not None:
        store = store.filter(F.col("batch") <= max_batch)
    # presence = summed holder count > 0 (not row existence): deletion
    # slices carry negative counts, so a fully-forgotten fingerprint
    # nets to zero and stops flagging — same agg shuffle shape as the
    # previous DISTINCT
    store = (
        store.groupBy(F.col("band").cast("int").alias("band"), "fingerprint")
        .agg(F.sum("cnt").alias("_c"))
        .filter(F.col("_c") > 0)
        .select("band", "fingerprint")
        .withColumn("hit", F.lit(True))
    )
    flagged = fp.join(store, ["band", "fingerprint"], "left")
    first_in_batch = F.min("doc_id").over(W.partitionBy("fingerprint"))
    return flagged.select(
        "doc_id",
        F.coalesce(F.col("hit"), F.lit(False)).alias("dup_prior"),
        (first_in_batch < F.col("doc_id")).alias("dup_in_batch"),
    ).withColumn("keep", ~(F.col("dup_prior") | F.col("dup_in_batch")))


def flag_batch_against_store(
    spark: SparkSession, sf_dir: str, path: str, *, batch_pred, max_batch: int
) -> DataFrame:
    """Documents-table form of :func:`flag_fingerprints_against_store`."""
    return flag_fingerprints_against_store(
        _fingerprints(spark, sf_dir, batch_pred), path, max_batch=max_batch
    )


@artifact("history_rows")
def _table_rows(spark: SparkSession, sf_dir: str, table: str, id_col: str) -> int:
    """Row count of a history table, a session artifact: ~22 store-query
    call sites each scheduled a fresh count job over an unchanging table
    (r13, guide §5.2 — the _corpus_rows pattern); the cutoff is a pure
    function of the corpus, so one job per session suffices."""
    return load_table(spark, sf_dir, table, columns=[id_col]).count()


def _history_cutoff(spark: SparkSession, sf_dir: str) -> int:
    return 3 * _table_rows(spark, sf_dir, "documents", "doc_id") // 5


def _ensure_history_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    return ensure_store(
        dedup_store_path(sf_dir),
        lambda p: upsert_dedup_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h
        ),
    )


#: shared oracle for every store-backed exact-dedup variant: the flagging
#: result is a pure function of (history fingerprint SET, batch), so the
#: store's physical layout — one batch, many batches, compacted, deleted
#: logically vs vacuumed — must never show in it; hash equality across
#: the variants IS the layout-invariance proof.  ``hist_filter`` narrows
#: the history side (the deletion variants pass the delete predicate).
def _inc_store_oracle(hist_filter: str = "") -> str:
    return f"""
    WITH n AS (SELECT 3 * count(*) // 5 AS h FROM documents),
    fp AS (
        SELECT doc_id,
               md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint
        FROM documents
    ),
    hist AS (
        SELECT DISTINCT fingerprint FROM fp, n WHERE doc_id < h {hist_filter}
    ),
    batch AS (SELECT doc_id, fingerprint FROM fp, n WHERE doc_id >= h),
    flagged AS (
        SELECT b.doc_id,
               h.fingerprint IS NOT NULL AS dup_prior,
               min(b.doc_id) OVER (PARTITION BY b.fingerprint) < b.doc_id AS dup_in_batch
        FROM batch b LEFT JOIN hist h USING (fingerprint)
    )
    SELECT doc_id, dup_prior, dup_in_batch,
           NOT (dup_prior OR dup_in_batch) AS keep
    FROM flagged
    ORDER BY doc_id
    """


_INC_STORE_ORACLE = _inc_store_oracle()


@query("dedup_incremental_store", oracle=_INC_STORE_ORACLE)
def dedup_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup: flag the arriving batch (last 40% of
    doc_ids) against the PERSISTED history fingerprint store (first 60%,
    built once, content-addressed, reused across sessions)."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_history_store(spark, sf_dir, h)
    # no trailing sort: output is batch-grain (huge at scale) and the
    # oracle compare is order-insensitive — a presentation sort would be
    # a pure range-exchange tax on every flagged batch
    return flag_batch_against_store(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=0
    )


def _ensure_compacted_history_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    """History store built as TWO ingest batches then compacted to one
    ``batch=0`` slice per band — the steady-state layout a long-running
    ingest pipeline periodically restores."""
    def build(p: str) -> None:
        upsert_dedup_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h // 2
        )
        upsert_dedup_batch(
            spark,
            sf_dir,
            p,
            batch=1,
            batch_pred=(F.col("doc_id") >= h // 2) & (F.col("doc_id") < h),
        )
        compact_dedup_store(spark, p)

    return ensure_store(
        store_path(sf_dir, "documents", "dedup_store_compacted", f"v{_STORE_FORMAT}-compacted"),
        build,
    )


@query("dedup_store_compacted", oracle=_INC_STORE_ORACLE)
def dedup_store_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact dedup against a COMPACTED history store: the
    first 60% of doc_ids ingested as two batches, folded into one
    ``batch=0`` slice per band (min-first semantics preserved), then the
    arriving 40% flagged against it.  Shares
    ``dedup_incremental_store``'s oracle — hash equality proves the
    compaction rewrite changes the store's layout and nothing else."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_compacted_history_store(spark, sf_dir, h)
    # batch-grain output, order-insensitive compare: no presentation sort
    return flag_batch_against_store(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=None
    )


# --- deletion propagation (VERDICT r8 next #1 — the right-to-be-
# forgotten path, generalized from bm25_postings_delete): removing
# documents from the corpus must propagate into EVERY derived store
# without a full rebuild, or deleted content keeps flagging future
# near-dups against data that is contractually gone.  Two shapes cover
# all five stores:
#
# - **content-grain stores** (this fingerprint store, the substring gram
#   store): holder identities are aggregated away at ingest, so the
#   delete lands as one NEGATIVE count slice computed from the deleted
#   docs alone (cost ∝ |deleted|, zero store rewrite) — presence is
#   ``sum(cnt) > 0``, an exact-integer monoid with inverses.  The next
#   compaction physically purges net-zero rows (delete+vacuum).
# - **doc-grain stores** (phash block postings, semantic vectors, the
#   IVF+PQ index): rows carry their doc id, so the delete is a bounded
#   tombstone slice under ``_deleted/`` anti-joined at serve time
#   (tombstones are compliance-batch sized — broadcast); compaction
#   rewrites the store minus tombstones and clears them.
#
# Every delete is idempotent per batch id (re-running a delete batch
# overwrites exactly its own slice), and each variant registers under an
# oracle that replays flagging over the REDUCED corpus — hash equality
# proves the delete left exactly the right store behind. ---
_DEL_PRED_SQL = "doc_id % 7 = 3"


def _delete_pred():
    return F.col("doc_id") % 7 == 3


def delete_docs_from_dedup_store(
    spark: SparkSession, sf_dir: str, path: str, *, delete_pred, batch: int
) -> str:
    """Propagate a document deletion into the fingerprint store: ONE
    negative holder-count slice computed by fingerprinting the deleted
    docs (the only inputs) — no history scan, no store rewrite."""
    rows = (
        _fingerprints(spark, sf_dir, delete_pred)
        .groupBy("band", "fingerprint")
        .agg(
            F.min("doc_id").alias("first_doc"),
            (-F.count(F.lit(1))).cast("long").alias("cnt"),
        )
        .withColumn("batch", F.lit(int(batch)))
    )
    upsert_partitions(rows, path, partition_by=["band", "batch"])
    return path


def _ensure_deleted_dedup_store(
    spark: SparkSession, sf_dir: str, h: int, *, vacuum: bool
) -> str:
    """History store (first 60%) with ``doc_id % 7 == 3`` deleted through
    it — as a live negative slice (``vacuum=False``) or additionally
    compacted so the purge is physical (``vacuum=True``)."""
    def build(p: str) -> None:
        upsert_dedup_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h
        )
        delete_docs_from_dedup_store(
            spark, sf_dir, p,
            delete_pred=_delete_pred() & (F.col("doc_id") < h), batch=1,
        )
        if vacuum:
            compact_dedup_store(spark, p)

    kind = "vacuumed" if vacuum else "deleted"
    return ensure_store(
        store_path(sf_dir, "documents", f"dedup_store_{kind}", f"v{_STORE_FORMAT}-{kind}"),
        build,
    )


@query("dedup_store_delete", oracle=_inc_store_oracle(f"AND NOT ({_DEL_PRED_SQL})"))
def dedup_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup served AFTER deletion propagation: the history prefix
    ingested, ``doc_id % 7 == 3`` deleted as one negative count slice,
    then the arriving batch flagged.  The oracle is from-scratch flagging
    against the REDUCED history — hash equality proves a fully-forgotten
    fingerprint stops flagging while partially-held content (another
    surviving doc with the same text) keeps flagging."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_deleted_dedup_store(spark, sf_dir, h, vacuum=False)
    return flag_batch_against_store(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=None
    )


@query(
    "dedup_store_delete_vacuum",
    oracle=_inc_store_oracle(f"AND NOT ({_DEL_PRED_SQL})"),
)
def dedup_store_delete_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same deletion COMPACTED: net-zero fingerprints physically
    purged by the vacuum rewrite.  Shares ``dedup_store_delete``'s
    oracle — hash equality proves logical delete ≡ physical purge."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_deleted_dedup_store(spark, sf_dir, h, vacuum=True)
    return flag_batch_against_store(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=None
    )


# --- semantic incremental dedup (VERDICT r5 next #6): SemDeDup's
# cluster-then-prune composed with the store contract above, so new
# batches semantically dedup against ALL of history without re-assigning
# or re-pairing it.  The store persists (vec_id, embedding) per
# ``cid=<cell>/batch=<n>`` plus the FROZEN centroid set (seeded from the
# history prefix, written once at store creation under ``_centroids/``)
# — the IVF contract: incremental batches must assign against the same
# cell geometry or cluster membership drifts and the incremental ≡
# from-scratch equivalence breaks.  Flagging a batch is: map-side assign
# to the frozen centroids, one salted cid-join against the store's
# matching cells (history side is corpus-grain — never broadcast, and
# salt-spread so a degenerate giant cluster cannot serialize one
# reducer), plus the exact chunk-capped within-batch pair join.  The
# keep rule matches semdedup_clusters: a vector is dropped when >=
# tau-similar to ANY lower-id vector of its cluster (history ids all
# precede batch ids), so the store holds every history vector, kept or
# dropped — dropped vectors still block later near-copies. ---
_SEM_STORE_FORMAT = 1
_SEM_TAU = 0.4
_SEM_SALT = 16

_SEM_COS_SQL = """list_aggregate(list_transform(range(1, 65),
                   j -> e1.embedding[j]::DOUBLE * e2.embedding[j]::DOUBLE), 'sum')
               / (sqrt(list_aggregate(list_transform(range(1, 65),
                      j -> e1.embedding[j]::DOUBLE * e1.embedding[j]::DOUBLE), 'sum'))
                  * sqrt(list_aggregate(list_transform(range(1, 65),
                      j -> e2.embedding[j]::DOUBLE * e2.embedding[j]::DOUBLE), 'sum')))"""


def _sem_vectors(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    from columnflow_spark.sources import spread

    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    return emb.filter(pred) if pred is not None else emb


def init_semdedup_store(
    spark: SparkSession, sf_dir: str, path: str, *, seed_pred
) -> str:
    """Create an empty store with its FROZEN centroid set (seeded rows
    selected by ``seed_pred`` — every later assign, incremental or
    from-scratch replay, reads these)."""
    cents = _sem_vectors(spark, sf_dir, seed_pred).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
    )
    cents.write.mode("overwrite").parquet(os.path.join(path, "_centroids"))
    return path


def _sem_centroids(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(os.path.join(path, "_centroids"))


def upsert_semdedup_frame(vecs: DataFrame, path: str, *, batch: int) -> str:
    """Assign a ``(vec_id, embedding)`` frame to the frozen centroids
    (map-side numpy argmax — zero shuffle) and upsert its vectors under
    ``cid=/batch=``."""
    rows = nearest_centroid_assign(
        vecs, _sem_centroids(vecs.sparkSession, path)
    ).select("vec_id", "embedding", "cid", F.lit(int(batch)).alias("batch"))
    upsert_partitions(rows, path, partition_by=["cid", "batch"])
    mark_built(path, _SEM_STORE_FORMAT)
    return path


def upsert_semdedup_batch(
    spark: SparkSession, sf_dir: str, path: str, *, batch: int, batch_pred
) -> str:
    """Embeddings-table form of :func:`upsert_semdedup_frame`."""
    return upsert_semdedup_frame(
        _sem_vectors(spark, sf_dir, batch_pred), path, batch=batch
    )


def flag_semdedup_frame(
    vecs: DataFrame, path: str, *, max_batch: int | None = None
) -> DataFrame:
    """Per-vector semantic dedup decision for a ``(vec_id, embedding)``
    frame vs the accumulated store (optionally batches ``<= max_batch`` —
    a REPLAYED micro-batch passes its own id minus one so it never sees
    the slice a failed attempt already upserted, ADVICE r6):
    ``(vec_id, cid, dup_prior, dup_in_batch, keep)``.

    Plan shape: batch assignment is a pure projection (frozen centroids);
    the history check is ONE salted equi-join on cid (store side is
    corpus-grain — shuffled, never broadcast; the salt spreads a
    degenerate giant cluster over ``_SEM_SALT`` reducers) with the exact
    in-row cosine as the verify; the within-batch check is the
    chunk-capped exact self-pair join (cap² per-task bound, no pair
    dropped).  An empty store (centroids only, no ``_BUILT``) yields
    ``dup_prior = false`` everywhere — the first-ingest case."""
    from columnflow_spark.functions.skew import salted_join

    spark = vecs.sparkSession
    # the assigned batch is referenced by BOTH prune joins (and twice
    # inside the chunk-pair self-join): materialize the batch-sized
    # assignment once so the embeddings scan + Arrow assign UDF run once,
    # not five times (the pagerank edges/outdeg pattern)
    batch = (
        nearest_centroid_assign(vecs, _sem_centroids(spark, path))
        .select("cid", "vec_id", "embedding")
        .transform(checkpoint_df)
    )
    if not is_built(path):
        inb = (
            chunked_self_pairs(batch, "cid", "vec_id", cap=256)
            .filter(cosine(F.col("embedding"), F.col("embedding_b")) >= F.lit(_SEM_TAU))
            .select(F.col("vec_id_b").alias("vec_id"))
            .distinct()
            .withColumn("dup_in_batch", F.lit(True))
        )
        return (
            batch.select("vec_id", "cid")
            .join(inb, "vec_id", "left")
            .select(
                "vec_id",
                "cid",
                F.lit(False).alias("dup_prior"),
                F.coalesce("dup_in_batch", F.lit(False)).alias("dup_in_batch"),
            )
            .withColumn("keep", ~F.col("dup_in_batch"))
        )
    store = spark.read.parquet(path)
    if max_batch is not None:
        store = store.filter(F.col("batch") <= max_batch)
    # deletion propagation: tombstoned vectors stop blocking near-copies
    # at serve time (broadcast anti-join; purged at compaction).  The
    # FROZEN centroids are untouched by deletes — they are quantizer
    # geometry, not served content (the FAISS delete contract); a regime
    # that also forbids retaining seed vectors re-trains via the drift/
    # invalidate path.
    store = anti_tombstones(store, path, id_col="vec_id")
    store = store.select(
        F.col("cid").cast("long").alias("cid"),
        F.col("vec_id").alias("hist_id"),
        F.col("embedding").alias("he"),
    )
    prior = (
        salted_join(
            store,
            batch.select("cid", F.col("vec_id").alias("bv"), F.col("embedding").alias("be")),
            ["cid"],
            salt_src=F.col("hist_id"),
            n_salt=_SEM_SALT,
        )
        .filter(cosine(F.col("he"), F.col("be")) >= F.lit(_SEM_TAU))
        .select(F.col("bv").alias("vec_id"))
        .distinct()
        .withColumn("dup_prior", F.lit(True))
    )
    inb = (
        chunked_self_pairs(batch, "cid", "vec_id", cap=256)
        .filter(cosine(F.col("embedding"), F.col("embedding_b")) >= F.lit(_SEM_TAU))
        .select(F.col("vec_id_b").alias("vec_id"))
        .distinct()
        .withColumn("dup_in_batch", F.lit(True))
    )
    return (
        batch.select("vec_id", "cid")
        .join(prior, "vec_id", "left")
        .join(inb, "vec_id", "left")
        .select(
            "vec_id",
            "cid",
            F.coalesce("dup_prior", F.lit(False)).alias("dup_prior"),
            F.coalesce("dup_in_batch", F.lit(False)).alias("dup_in_batch"),
        )
        .withColumn("keep", ~(F.col("dup_prior") | F.col("dup_in_batch")))
    )


def flag_semdedup_batch(
    spark: SparkSession, sf_dir: str, path: str, *, batch_pred
) -> DataFrame:
    """Embeddings-table form of :func:`flag_semdedup_frame`."""
    return flag_semdedup_frame(_sem_vectors(spark, sf_dir, batch_pred), path)


def _sem_history_cutoff(spark: SparkSession, sf_dir: str) -> int:
    return 3 * _table_rows(spark, sf_dir, "embeddings", "vec_id") // 5


def _ensure_semdedup_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    def build(p: str) -> None:
        init_semdedup_store(
            spark, sf_dir, p,
            seed_pred=(F.col("vec_id") % 64 == 0) & (F.col("vec_id") < h),
        )
        upsert_semdedup_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("vec_id") < h
        )

    return ensure_store(
        store_path(sf_dir, "embeddings", "semdedup_store", f"semdedup-v{_SEM_STORE_FORMAT}"),
        build,
    )


@query(
    "semdedup_incremental_store",
    oracle=f"""
    WITH nn AS (SELECT 3 * count(*) // 5 AS h FROM embeddings),
    c AS MATERIALIZED (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings, nn
        WHERE vec_id % 64 = 0 AND vec_id < h
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
    hist AS (SELECT a.cid, a.vec_id FROM a, nn WHERE vec_id < h),
    batch AS MATERIALIZED (SELECT a.cid, a.vec_id FROM a, nn WHERE vec_id >= h),
    prior AS (
        SELECT DISTINCT y.vec_id
        FROM hist x JOIN batch y ON x.cid = y.cid
        JOIN embeddings e1 ON e1.vec_id = x.vec_id
        JOIN embeddings e2 ON e2.vec_id = y.vec_id
        WHERE {_SEM_COS_SQL} >= {_SEM_TAU}
    ),
    inb AS (
        SELECT DISTINCT y.vec_id
        FROM batch x JOIN batch y ON x.cid = y.cid AND x.vec_id < y.vec_id
        JOIN embeddings e1 ON e1.vec_id = x.vec_id
        JOIN embeddings e2 ON e2.vec_id = y.vec_id
        WHERE {_SEM_COS_SQL} >= {_SEM_TAU}
    )
    SELECT b.vec_id, b.cid,
           p.vec_id IS NOT NULL AS dup_prior,
           i.vec_id IS NOT NULL AS dup_in_batch,
           NOT (p.vec_id IS NOT NULL OR i.vec_id IS NOT NULL) AS keep
    FROM batch b
    LEFT JOIN prior p ON p.vec_id = b.vec_id
    LEFT JOIN inb i ON i.vec_id = b.vec_id
    ORDER BY b.vec_id
    """,
)
def semdedup_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic incremental dedup: flag the arriving batch (last 40% of
    vec_ids) against the PERSISTED SemDeDup store (first 60%, frozen
    history-seeded centroids, built once, content-addressed) — history is
    never re-assigned or re-paired.  The oracle replays the frozen
    assignment and both prune joins with the exact sequential cosine fold
    (the semdedup_clusters bit-parity recipe)."""
    h = _sem_history_cutoff(spark, sf_dir)
    path = _ensure_semdedup_store(spark, sf_dir, h)
    # batch-grain output, order-insensitive compare: no presentation sort
    return flag_semdedup_batch(
        spark, sf_dir, path, batch_pred=F.col("vec_id") >= h
    )


# --- quantizer-drift audit (VERDICT r6 next #5): the semantic store and
# the ANN index FREEZE their centroids/codebooks at creation; under
# streaming ingest forever, distribution drift grows cell skew and
# quantization error without bound and nothing notices — the frozen
# quantizer serves every batch equally badly.  The audit is ONE
# aggregation over the store's existing ``cid=/batch=`` partitions
# (per-cell occupancy + integer-quantized error per batch); the REBUILD
# TRIGGER compares the newest batch's error/skew against the first
# batch's and, when tripped, invalidates the store through the SAME
# ``_BUILT`` contract every ensure helper already gates
# on — the next ensure pays a fresh build with re-trained centroids. ---

#: drift thresholds: rebuild when the newest batch's mean quantization
#: error exceeds 1.5x the first batch's, or its largest-cell occupancy
#: share exceeds 2x the first batch's (cell collapse)
_DRIFT_ERR_RATIO = 1.5
_DRIFT_SKEW_RATIO = 2.0


def semdedup_drift_audit_frame(spark: SparkSession, path: str) -> DataFrame:
    """Per-batch drift metrics over a semantic store: ``(batch, n_vecs,
    n_cells, max_cell_n, mean_err_q)`` where ``mean_err_q`` is the mean
    integer-quantized distance to the assigned frozen centroid
    (``round((1 - cos) * 1e6)`` per vector — exact BIGINT arithmetic from
    there on).  ONE two-level aggregation ((batch, cid) partials, then
    batch), both levels map-side combinable; the centroid set broadcasts
    (K rows by construction)."""
    store = spark.read.parquet(path)
    cents = _sem_centroids(spark, path)
    eq = F.round(
        (F.lit(1.0) - cosine(F.col("embedding"), F.col("ce"))) * F.lit(1e6), 0
    ).cast("long")
    rows = store.join(F.broadcast(cents), "cid").select(
        F.col("batch").cast("int").alias("batch"), "cid", eq.alias("eq")
    )
    cell = rows.groupBy("batch", "cid").agg(
        F.count(F.lit(1)).alias("n"), F.sum("eq").alias("eq")
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


def semdedup_store_needs_rebuild(
    spark: SparkSession,
    path: str,
    *,
    err_ratio: float = _DRIFT_ERR_RATIO,
    skew_ratio: float = _DRIFT_SKEW_RATIO,
) -> bool:
    """Documented rebuild trigger: True when the NEWEST batch's mean
    quantization error exceeds ``err_ratio`` x the FIRST batch's, or its
    max-cell occupancy share exceeds ``skew_ratio`` x the first batch's.
    Reads the bounded audit output (one row per ingest batch)."""
    from columnflow_spark.queries.annindex import drift_trips

    rows = semdedup_drift_audit_frame(spark, path).collect()
    return drift_trips(rows, err_ratio=err_ratio, skew_ratio=skew_ratio)


def _ensure_semdedup_trend_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    """Two-batch history store (first and second 30% of vec_ids) so the
    audit has a per-batch trend to report."""
    def build(p: str) -> None:
        a = h // 2
        init_semdedup_store(
            spark, sf_dir, p,
            seed_pred=(F.col("vec_id") % 64 == 0) & (F.col("vec_id") < h),
        )
        upsert_semdedup_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("vec_id") < a
        )
        upsert_semdedup_batch(
            spark, sf_dir, p, batch=1,
            batch_pred=(F.col("vec_id") >= a) & (F.col("vec_id") < h),
        )

    return ensure_store(
        store_path(
            sf_dir, "embeddings", "semdedup_trend_store", f"semdedup-trend-v{_SEM_STORE_FORMAT}"
        ),
        build,
    )


@query(
    "semdedup_store_drift_audit",
    oracle="""
    WITH n AS (SELECT 3 * count(*) // 5 AS h FROM embeddings),
    cents AS MATERIALIZED (
        SELECT vec_id AS cid, embedding::DOUBLE[] AS ce FROM embeddings, n
        WHERE vec_id % 64 = 0 AND vec_id < h
    ),
    assign AS MATERIALIZED (
        SELECT vec_id, cid, sim,
               CASE WHEN vec_id < h // 2 THEN 0 ELSE 1 END AS batch
        FROM (
            SELECT e.vec_id, c.cid, n.h,
                   list_cosine_similarity(e.embedding::DOUBLE[], c.ce) AS sim,
                   row_number() OVER (
                       PARTITION BY e.vec_id
                       ORDER BY list_cosine_similarity(e.embedding::DOUBLE[], c.ce)
                                DESC, c.cid
                   ) AS rn
            FROM embeddings e CROSS JOIN cents c CROSS JOIN n
            WHERE e.vec_id < n.h
        ) WHERE rn = 1
    ),
    cellstats AS (
        SELECT batch, cid, count(*) AS cn,
               CAST(sum(CAST(round((1 - sim) * 1000000) AS BIGINT)) AS BIGINT) AS eq
        FROM assign GROUP BY batch, cid
    )
    SELECT CAST(batch AS INT) AS batch,
           CAST(sum(cn) AS BIGINT) AS n_vecs,
           CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(cn) AS BIGINT) AS max_cell_n,
           CAST(sum(eq) // sum(cn) AS BIGINT) AS mean_err_q
    FROM cellstats GROUP BY batch ORDER BY batch
    """,
)
def semdedup_store_drift_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drift audit over a two-batch semantic store: per-batch occupancy
    and frozen-quantizer error trend, replayed exactly by the oracle from
    the raw embeddings (frozen centroids = the %64 seeds of the history
    prefix; batches = first/second half of the prefix)."""
    h = _sem_history_cutoff(spark, sf_dir)
    path = _ensure_semdedup_trend_store(spark, sf_dir, h)
    return semdedup_drift_audit_frame(spark, path)


# --- incremental PERCEPTUAL dedup store (the multimodal ingest shape):
# flag each arriving batch of media payloads against ALL of visual
# history without rescanning history — the image-dedup sibling of the
# exact store above.  Same store contract: layout ``bi=<block>/batch=<n>``
# rows ``(bv, ph, doc_id)`` — every fingerprint posts one row per
# 10-bit block (the SimHash block-bucket index, persisted), so flagging
# a batch is a (block, value)-keyed equi-join against only the
# colliding store slices plus an exact Hamming verify; by pigeonhole a
# history fingerprint within Hamming 5 of a batch fingerprint MUST
# share a block, so the join misses nothing (structural, not
# probabilistic — the phash pair oracle's argument).  ``batch`` is the
# idempotent upsert unit.  Within-batch firsts reuse the exact
# chunk-capped pair join.  The oracle replays both sides exhaustively
# from the raw table. ---
from columnflow_spark.queries.textdedup import (  # noqa: E402
    _PH_BITS,
    _PH_BLOCK_BITS,
    _PH_HAM_MAX,
    _PHASH_FP_CTES,
    phash_neardup_pairs,
)

_PH_STORE_FORMAT = 1


def phash_fp_frame(docs: DataFrame) -> DataFrame:
    """``(doc_id, ph)`` for a ``(doc_id, text, …)`` frame (length-eligible
    docs only — shorter payloads carry no fingerprint); the frame form
    the streaming ingest sink shares with the batch paths."""
    from columnflow_spark.mmdata import build_media_table, phash_image

    docs = docs.filter(F.length("text") >= _PH_BITS + 1)
    media = build_media_table(
        docs.select("doc_id", F.encode("text", "utf-8").alias("payload")),
        payload="payload",
        mime="image/png",
    )
    return phash_image(media)


def _phash_frame(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    """Documents-table form of :func:`phash_fp_frame`."""
    from columnflow_spark.sources import spread

    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    if pred is not None:
        docs = docs.filter(pred)
    return phash_fp_frame(docs)


def _ph_blocks(ph_col):
    """The 6 persisted block postings of a fingerprint: (bi, bv) pairs."""
    n_blocks = _PH_BITS // _PH_BLOCK_BITS
    mask = (1 << _PH_BLOCK_BITS) - 1
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("bi"),
                F.shiftright(ph_col, b * _PH_BLOCK_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for b in range(n_blocks)
        ]
    )


def upsert_phash_fp(ph: DataFrame, path: str, *, batch: int) -> str:
    """Upsert a ``(doc_id, ph)`` fingerprint frame's block postings as
    the store's ``batch=<n>`` slice (one row per (fingerprint, block))."""
    rows = ph.select(
        "doc_id", "ph", F.explode(_ph_blocks(F.col("ph"))).alias("blk")
    ).select(
        F.col("blk.bi").alias("bi"),
        F.col("blk.bv").alias("bv"),
        "ph",
        "doc_id",
        F.lit(int(batch)).alias("batch"),
    )
    upsert_partitions(rows, path, partition_by=["bi", "batch"])
    mark_built(path, _PH_STORE_FORMAT)
    return path


def upsert_phash_batch(
    spark: SparkSession, sf_dir: str, path: str, *, batch: int, batch_pred
) -> str:
    """Documents-table form of :func:`upsert_phash_fp`."""
    return upsert_phash_fp(_phash_frame(spark, sf_dir, batch_pred), path, batch=batch)


def flag_phash_fp(
    ph: DataFrame, path: str, *, max_batch: int | None = None
) -> DataFrame:
    """Per-doc visual dedup decision for a CHECKPOINTED ``(doc_id, ph)``
    frame vs the accumulated store (optionally batches ``<= max_batch``
    — the streaming replay fence): ``(doc_id, dup_prior, dup_in_batch,
    keep)``.

    Plan shape: the batch's block postings equi-join the store on
    (bi, bv) — work proportional to block-collision volume, never
    |batch| x |history| — with the exact Hamming check as the verify;
    the within-batch check is the blocked exact pair join
    (phash_neardup_pairs).  Both sides are fingerprint-grain and never
    broadcast by hint."""
    spark = ph.sparkSession
    store = spark.read.parquet(path)
    if max_batch is not None:
        store = store.filter(F.col("batch") <= max_batch)
    # deletion propagation: tombstoned docs' postings stop matching at
    # serve time (broadcast anti-join; physically purged at compaction)
    store = anti_tombstones(store, path)
    store = store.select(
        F.col("bi").cast("int").alias("bi"), "bv", F.col("ph").alias("ph_h")
    )
    bposts = ph.select(
        "doc_id", "ph", F.explode(_ph_blocks(F.col("ph"))).alias("blk")
    ).select("doc_id", "ph", F.col("blk.bi").alias("bi"), F.col("blk.bv").alias("bv"))
    from columnflow_spark.functions.similarity import hamming64

    prior = (
        bposts.join(store, ["bi", "bv"])
        .filter(hamming64(F.col("ph"), F.col("ph_h")) <= _PH_HAM_MAX)
        .select("doc_id")
        .distinct()
        .withColumn("dup_prior", F.lit(True))
    )
    # within-batch: the HIGHER id of every near-dup pair is a duplicate
    inb = (
        phash_neardup_pairs(ph)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("dup_in_batch", F.lit(True))
    )
    return (
        ph.select("doc_id")
        .join(prior, "doc_id", "left")
        .join(inb, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_prior", F.lit(False)).alias("dup_prior"),
            F.coalesce("dup_in_batch", F.lit(False)).alias("dup_in_batch"),
        )
        .withColumn("keep", ~(F.col("dup_prior") | F.col("dup_in_batch")))
    )


def flag_phash_batch_against_store(
    spark: SparkSession, sf_dir: str, path: str, *, batch_pred, max_batch: int | None = None
) -> DataFrame:
    """Documents-table form of :func:`flag_phash_fp`."""
    ph = _phash_frame(spark, sf_dir, batch_pred).transform(checkpoint_df)
    return flag_phash_fp(ph, path, max_batch=max_batch)


def _ensure_phash_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    return ensure_store(
        store_path(sf_dir, "documents", "phash_store", f"phash-v{_PH_STORE_FORMAT}"),
        lambda p: upsert_phash_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h
        ),
    )


def _phash_store_oracle(hist_filter: str = "") -> str:
    """Oracle template for the perceptual-store variants; ``hist_filter``
    narrows the history side (the deletion variant passes the delete
    predicate)."""
    return f"""
    WITH {_PHASH_FP_CTES.strip()},
    n AS (SELECT 3 * count(*) // 5 AS h FROM documents),
    hist AS (SELECT f.doc_id, f.ph FROM fp f, n
             WHERE f.doc_id < n.h {hist_filter}),
    batch AS (SELECT f.doc_id, f.ph FROM fp f, n WHERE f.doc_id >= n.h)
    SELECT b.doc_id,
           EXISTS (SELECT 1 FROM hist h
                   WHERE bit_count(xor(h.ph, b.ph)) <= {_PH_HAM_MAX})
               AS dup_prior,
           EXISTS (SELECT 1 FROM batch b2
                   WHERE b2.doc_id < b.doc_id
                     AND bit_count(xor(b2.ph, b.ph)) <= {_PH_HAM_MAX})
               AS dup_in_batch,
           NOT (EXISTS (SELECT 1 FROM hist h
                        WHERE bit_count(xor(h.ph, b.ph)) <= {_PH_HAM_MAX})
                OR EXISTS (SELECT 1 FROM batch b2
                           WHERE b2.doc_id < b.doc_id
                             AND bit_count(xor(b2.ph, b.ph)) <= {_PH_HAM_MAX}))
               AS keep
    FROM batch b
    """


@query("phash_incremental_store", oracle=_phash_store_oracle())
def phash_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental visual dedup: flag the arriving batch (last 40% of
    doc_ids) against the PERSISTED perceptual-fingerprint store (first
    60%, block-posting layout, content-addressed, reused across
    sessions).  The oracle replays both decisions exhaustively — its
    equality also re-proves the block index misses nothing (pigeonhole:
    Hamming <= {_PH_HAM_MAX} over 6 blocks forces a shared block)."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_phash_store(spark, sf_dir, h)
    # batch-grain output, order-insensitive compare: no presentation sort
    return flag_phash_batch_against_store(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=0
    )


# --- incremental EXACT-SUBSTRING store (the crawl-ingest deployment of
# the ExactSubstr family — Lee et al. 2022 at ingest time): history
# documents' positional k-gram digests persist as a ``gb=/batch=``
# store; an arriving batch is flagged for repeated->=k-token spans
# against BOTH the accumulated history and itself (keep-first at gram
# grain), then its own gram slice upserts for the next batch.
#
# Scale shape: the flag pass never SHUFFLES the history side — the
# store is scanned once under a broadcast semi-join on the batch's
# distinct gram digests (production batches are small relative to
# history; at petabyte history the broadcast set ships as a bloom with
# this same join as the exact verify), and everything after the match
# is batch-grain (one g-keyed batch shuffle for within-batch firsts +
# the per-doc islands window).  Store rows keep the gram's first
# (doc, pos) key so compaction can min-merge slices exactly like the
# fingerprint store. ---
from columnflow_spark.queries.textdedup import (  # noqa: E402
    _SSTR_GRAM_CTES,
    _SSTR_K,
    _sstr_grams,
)

#: v2: + ``cnt`` (occurrence count — the deletion monoid, see the
#: fingerprint store)
_SSTR_STORE_FORMAT = 2
_SSTR_BANDS = 16


def upsert_substring_grams(grams: DataFrame, path: str, *, batch: int) -> str:
    """Reduce a positional-gram frame to per-gram first holder +
    occurrence count (both map-side combinable) and upsert it as the
    store's ``batch=<n>`` slice.  ``cnt`` is the deletion monoid (see
    the fingerprint store): deletes land as negative occurrence slices
    and presence becomes ``sum(cnt) > 0``."""
    rows = (
        grams.withColumn("gb", F.pmod(F.hash("g"), F.lit(_SSTR_BANDS)))
        .groupBy("gb", "g")
        .agg(
            F.min("key").alias("first_key"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .withColumn("batch", F.lit(int(batch)))
    )
    upsert_partitions(rows, path, partition_by=["gb", "batch"])
    mark_built(path, _SSTR_STORE_FORMAT)
    return path


def upsert_substring_batch(
    spark: SparkSession, sf_dir: str, path: str, *, batch: int, batch_pred
) -> str:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        batch_pred
    )
    return upsert_substring_grams(_sstr_grams(docs, _SSTR_K), path, batch=batch)


def flag_substring_frame(
    bg: DataFrame, path: str, *, max_batch: int | None = None, k: int = _SSTR_K
) -> DataFrame:
    """Per-doc repeated-substring decision for a batch gram frame vs the
    accumulated store: maximal runs over positions whose gram is in
    history (``prior``) or occurs earlier in the batch; reports
    ``(doc_id, n_runs, dup_tokens, prior_tokens)`` for affected docs."""
    spark = bg.sparkSession
    store = spark.read.parquet(path)
    if max_batch is not None:
        store = store.filter(F.col("batch") <= max_batch)
    # history side scanned ONCE, zero history shuffle: broadcast batch
    # gram set -> map-side semi join; the hit set is bounded by the
    # batch's gram volume.  Presence = summed occurrence count > 0 (not
    # row existence) so negative deletion slices net out — same
    # post-semi-join agg shuffle shape as the previous DISTINCT
    bset = bg.select("g").distinct()
    hits = (
        store.join(F.broadcast(bset), "g", "leftsemi")
        .groupBy("g")
        .agg(F.sum("cnt").alias("_c"))
        .filter(F.col("_c") > 0)
        .select("g")
        .withColumn("hit", F.lit(True))
    )
    wmin = F.min("key").over(W.partitionBy("g"))
    marked = (
        bg.join(hits, "g", "left")
        .withColumn("pr", F.col("hit").isNotNull())
        .withColumn("cov", F.col("hit").isNotNull() | (F.col("key") > wmin))
    )
    return substring_cov_rollup(marked, k)


def batch_only_substring_marked(bg: DataFrame) -> DataFrame:
    """First-ingest-batch form (no store yet): coverage is within-batch
    keep-first only."""
    wmin = F.min("key").over(W.partitionBy("g"))
    return bg.withColumn("pr", F.lit(False)).withColumn(
        "cov", F.col("key") > wmin
    )


def substring_cov_rollup(marked: DataFrame, k: int = _SSTR_K) -> DataFrame:
    """Maximal-run rollup over a covered-position frame ``(doc_id, p,
    pr, cov)`` — the ExactSubstr islands pass shared by the batch flag
    and the streaming ingest sink.  ``dup_tokens`` and ``prior_tokens``
    are interval-UNION token coverages (clamped contributions over the
    per-doc sorted sub-run intervals — the substring_dup_runs_frame
    form): the r8 per-extent sums double-counted whenever neighboring
    coverage intervals ``[mn, mx + k - 1]`` were closer than k
    positions (ADVICE r9)."""
    from columnflow_spark.queries.textdedup import _interval_union_contrib

    dup = marked.filter("cov").select("doc_id", "p", "pr")
    win = W.partitionBy("doc_id").orderBy("p")
    m = (
        dup.withColumn("rid", F.col("p") - F.row_number().over(win))
        .withColumn("cpr", F.sum(F.when(F.col("pr"), 1).otherwise(0)).over(win))
        .withColumn("rid_pr", F.when(F.col("pr"), F.col("p") - F.col("cpr")))
    )
    sub = m.groupBy("doc_id", "rid", "rid_pr").agg(
        F.min("p").alias("mn"), F.max("p").alias("mx")
    )
    wc = W.partitionBy("doc_id").orderBy("mn").rowsBetween(W.unboundedPreceding, -1)
    e = F.col("mx") + F.lit(k - 1)
    prev_all = F.max("mx").over(wc) + F.lit(k - 1)
    prev_pr = F.max(F.when(F.col("rid_pr").isNotNull(), F.col("mx"))).over(wc) + F.lit(
        k - 1
    )
    cov = sub.select(
        "doc_id",
        "rid",
        _interval_union_contrib(e, F.col("mn"), prev_all).alias("c_all"),
        F.when(
            F.col("rid_pr").isNotNull(),
            _interval_union_contrib(e, F.col("mn"), prev_pr),
        )
        .otherwise(F.lit(0))
        .alias("c_pr"),
    )
    runs = cov.groupBy("doc_id", "rid").agg(
        F.sum("c_all").cast("long").alias("cov_tokens"),
        F.sum("c_pr").cast("long").alias("pr_tokens"),
    )
    # batch-grain output, order-insensitive compare: no presentation sort
    return runs.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_runs"),
        F.sum("cov_tokens").alias("dup_tokens"),
        F.sum("pr_tokens").alias("prior_tokens"),
    )


def compact_substring_store(spark: SparkSession, path: str) -> None:
    """Fold the ``gb=/batch=`` gram store back into one ``batch=0``
    slice per band — semantic like :func:`compact_dedup_store`: a gram
    upserted by several batches collapses to ONE row keeping the
    earliest (doc, pos) holder (``min(first_key)``, the per-batch
    monoid), so flagging against the compacted store is bit-identical
    to flagging against the full batch history.  Also the VACUUM step
    of deletion propagation: grams whose summed occurrence count nets
    to zero are physically purged here.  Staged and published by one
    rename, keeping the marker (replace_store)."""
    rows = (
        spark.read.parquet(path)
        .groupBy(F.col("gb").cast("int").alias("gb"), "g")
        .agg(F.min("first_key").alias("first_key"), F.sum("cnt").alias("cnt"))
        .filter(F.col("cnt") > 0)
        .withColumn("batch", F.lit(0))
    )
    replace_store(path, lambda p: write_events(rows, p, partition_by=["gb", "batch"]))


def _ensure_substring_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    return ensure_store(
        store_path(sf_dir, "documents", "substring_store", f"sstr-v{_SSTR_STORE_FORMAT}"),
        lambda p: upsert_substring_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h
        ),
    )


def _sstr_store_oracle(hist_filter: str = "") -> str:
    """Oracle template for the gram-store variants: flagging is a pure
    function of (history gram SET, batch); ``hist_filter`` narrows the
    history side (the deletion variant passes the delete predicate)."""
    return f"""
    WITH {_SSTR_GRAM_CTES},
    n AS (SELECT 3 * count(*) // 5 AS h FROM documents),
    hist AS MATERIALIZED (
        SELECT DISTINCT g FROM grams, n WHERE doc_id < h {hist_filter}
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, p, key, g FROM grams, n WHERE doc_id >= h
    ),
    marked AS (
        SELECT b.doc_id, b.p,
               (h.g IS NOT NULL) AS pr,
               (h.g IS NOT NULL)
                   OR (min(b.key) OVER (PARTITION BY b.g) < b.key) AS cov
        FROM bg b LEFT JOIN hist h ON h.g = b.g
    ),
    dup AS (SELECT doc_id, p, pr FROM marked WHERE cov),
    iruns AS (
        SELECT doc_id, p, pr,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rid,
               p - sum(CASE WHEN pr THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p) AS rid_pr
        FROM dup
    ),
    sub AS (
        SELECT doc_id, rid,
               CASE WHEN pr THEN rid_pr END AS rpr,
               min(p) AS mn, max(p) AS mx
        FROM iruns GROUP BY doc_id, rid, CASE WHEN pr THEN rid_pr END
    ),
    -- interval-UNION coverage (the substring_cov_rollup form): clamp
    -- each sub-run's coverage [mn, mx + k - 1] past the running max end
    -- of preceding intervals so overlaps count once (ADVICE r9)
    covw AS (
        SELECT doc_id, rid, rpr, mn, mx,
               max(mx) OVER (PARTITION BY doc_id ORDER BY mn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pa,
               max(CASE WHEN rpr IS NOT NULL THEN mx END)
                   OVER (PARTITION BY doc_id ORDER BY mn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM sub
    ),
    contrib AS (
        SELECT doc_id, rid,
               greatest(0, (mx + {_SSTR_K - 1})
                   - greatest(mn, coalesce(pa + {_SSTR_K - 1}, -1) + 1) + 1) AS c_all,
               CASE WHEN rpr IS NOT NULL THEN greatest(0, (mx + {_SSTR_K - 1})
                   - greatest(mn, coalesce(pm + {_SSTR_K - 1}, -1) + 1) + 1)
               ELSE 0 END AS c_pr
        FROM covw
    ),
    r2 AS (
        SELECT doc_id, rid, sum(c_all) AS cov_tokens, sum(c_pr) AS pr_tokens
        FROM contrib GROUP BY doc_id, rid
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
           CAST(sum(cov_tokens) AS BIGINT) AS dup_tokens,
           CAST(sum(pr_tokens) AS BIGINT) AS prior_tokens
    FROM r2 GROUP BY doc_id
    """


@query("substring_incremental_store", oracle=_sstr_store_oracle())
def substring_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental exact-substring dedup: flag the arriving batch (last
    40% of doc_ids) for repeated >= k-token spans against the PERSISTED
    history gram store (first 60%, built once, content-addressed) and
    within itself — the decisions are a pure function of (history gram
    SET, batch), so store layout never shows in the output."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_substring_store(spark, sf_dir, h)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        F.col("doc_id") >= h
    )
    return flag_substring_frame(_sstr_grams(docs, _SSTR_K), path, max_batch=0)


def delete_docs_from_substring_store(
    spark: SparkSession, sf_dir: str, path: str, *, delete_pred, batch: int
) -> str:
    """Propagate a document deletion into the gram store: ONE negative
    occurrence-count slice computed by gramming the deleted docs alone
    — no history scan, no store rewrite (the fingerprint-store delete
    shape at gram grain)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        delete_pred
    )
    rows = (
        _sstr_grams(docs, _SSTR_K)
        .withColumn("gb", F.pmod(F.hash("g"), F.lit(_SSTR_BANDS)))
        .groupBy("gb", "g")
        .agg(
            F.min("key").alias("first_key"),
            (-F.count(F.lit(1))).cast("long").alias("cnt"),
        )
        .withColumn("batch", F.lit(int(batch)))
    )
    upsert_partitions(rows, path, partition_by=["gb", "batch"])
    return path


def _ensure_deleted_substring_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    """History gram store (first 60%) with ``doc_id % 7 == 3`` deleted
    through it as a negative occurrence slice."""
    def build(p: str) -> None:
        upsert_substring_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h
        )
        delete_docs_from_substring_store(
            spark, sf_dir, p,
            delete_pred=_delete_pred() & (F.col("doc_id") < h), batch=1,
        )

    return ensure_store(
        store_path(
            sf_dir, "documents", "substring_store_deleted", f"sstr-v{_SSTR_STORE_FORMAT}-deleted"
        ),
        build,
    )


@query(
    "substring_store_delete",
    oracle=_sstr_store_oracle(f"AND NOT ({_DEL_PRED_SQL})"),
)
def substring_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr flagging served AFTER deletion propagation: history
    grams ingested, ``doc_id % 7 == 3`` deleted as one negative
    occurrence slice, then the arriving batch flagged.  The oracle
    replays flagging over the REDUCED history — a span repeated only
    against forgotten content stops flagging, while grams still held by
    surviving docs keep flagging (occurrence counts net out exactly)."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_deleted_substring_store(spark, sf_dir, h)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        F.col("doc_id") >= h
    )
    return flag_substring_frame(_sstr_grams(docs, _SSTR_K), path, max_batch=None)


# --- doc-grain store deletes: perceptual and semantic (VERDICT r8
# next #1).  Both reuse the tombstone helpers above; the queries prove
# the served decision equals from-scratch flagging over the REDUCED
# history. ---
def purge_phash_store(spark: SparkSession, path: str) -> None:
    """Physical purge: rewrite the block-posting store minus tombstones
    (staged, published by one rename, marker kept — replace_store) and
    clear the tombstone slices.  A crash between publish and clear is
    harmless: the surviving tombstones anti-join against already-purged
    rows."""
    rows = anti_tombstones(spark.read.parquet(path), path).select(
        F.col("bi").cast("int").alias("bi"), "bv", "ph", "doc_id",
        F.lit(0).alias("batch"),
    )
    replace_store(path, lambda p: write_events(rows, p, partition_by=["bi", "batch"]))
    clear_tombstones(path)


def _ensure_deleted_phash_store(
    spark: SparkSession, sf_dir: str, h: int, *, vacuum: bool
) -> str:
    def build(p: str) -> None:
        upsert_phash_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h
        )
        deleted = load_table(spark, sf_dir, "documents", columns=["doc_id"]).filter(
            _delete_pred() & (F.col("doc_id") < h)
        )
        upsert_tombstones(deleted, p, batch=0)
        if vacuum:
            purge_phash_store(spark, p)

    kind = "vacuumed" if vacuum else "deleted"
    return ensure_store(
        store_path(
            sf_dir, "documents", f"phash_store_{kind}", f"phash-v{_PH_STORE_FORMAT}-{kind}"
        ),
        build,
    )


@query(
    "phash_store_delete",
    oracle=_phash_store_oracle(f"AND NOT (f.{_DEL_PRED_SQL})"),
)
def phash_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Visual dedup served AFTER deletion propagation: history block
    postings ingested, ``doc_id % 7 == 3`` tombstoned, the arriving
    batch flagged against the reduced store.  Oracle = exhaustive
    replay over the surviving history."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_deleted_phash_store(spark, sf_dir, h, vacuum=False)
    return flag_phash_batch_against_store(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=None
    )


@query(
    "phash_store_delete_vacuum",
    oracle=_phash_store_oracle(f"AND NOT (f.{_DEL_PRED_SQL})"),
)
def phash_store_delete_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same deletion physically PURGED (store rewritten minus
    tombstones, tombstones cleared).  Shares ``phash_store_delete``'s
    oracle — hash equality proves logical delete ≡ physical purge."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_deleted_phash_store(spark, sf_dir, h, vacuum=True)
    return flag_phash_batch_against_store(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=None
    )


def purge_semdedup_store(spark: SparkSession, path: str) -> None:
    """Physical purge of the semantic store (see
    :func:`purge_phash_store`); the ``_centroids`` sidecar rides through
    the rewrite untouched (replace_store copies underscore entries into
    its staging dir)."""
    rows = anti_tombstones(
        spark.read.parquet(path), path, id_col="vec_id"
    ).select(
        "vec_id", "embedding",
        F.col("cid").cast("long").alias("cid"), F.lit(0).alias("batch"),
    )
    replace_store(path, lambda p: write_events(rows, p, partition_by=["cid", "batch"]))
    clear_tombstones(path)


def _ensure_deleted_sem_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    def build(p: str) -> None:
        init_semdedup_store(
            spark, sf_dir, p,
            seed_pred=(F.col("vec_id") % 64 == 0) & (F.col("vec_id") < h),
        )
        upsert_semdedup_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("vec_id") < h
        )
        deleted = load_table(spark, sf_dir, "embeddings", columns=["vec_id"]).filter(
            (F.col("vec_id") % 7 == 3) & (F.col("vec_id") < h)
        )
        upsert_tombstones(deleted, p, batch=0, id_col="vec_id")

    return ensure_store(
        store_path(
            sf_dir,
            "embeddings",
            "semdedup_store_deleted",
            f"semdedup-v{_SEM_STORE_FORMAT}-deleted",
        ),
        build,
    )


@query(
    "semdedup_store_delete",
    oracle=f"""
    WITH nn AS (SELECT 3 * count(*) // 5 AS h FROM embeddings),
    c AS MATERIALIZED (
        SELECT vec_id AS cid, embedding AS ce FROM embeddings, nn
        WHERE vec_id % 64 = 0 AND vec_id < h
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
    hist AS (SELECT a.cid, a.vec_id FROM a, nn
             WHERE vec_id < h AND NOT (vec_id % 7 = 3)),
    batch AS MATERIALIZED (SELECT a.cid, a.vec_id FROM a, nn WHERE vec_id >= h),
    prior AS (
        SELECT DISTINCT y.vec_id
        FROM hist x JOIN batch y ON x.cid = y.cid
        JOIN embeddings e1 ON e1.vec_id = x.vec_id
        JOIN embeddings e2 ON e2.vec_id = y.vec_id
        WHERE {_SEM_COS_SQL} >= {_SEM_TAU}
    ),
    inb AS (
        SELECT DISTINCT y.vec_id
        FROM batch x JOIN batch y ON x.cid = y.cid AND x.vec_id < y.vec_id
        JOIN embeddings e1 ON e1.vec_id = x.vec_id
        JOIN embeddings e2 ON e2.vec_id = y.vec_id
        WHERE {_SEM_COS_SQL} >= {_SEM_TAU}
    )
    SELECT b.vec_id, b.cid,
           p.vec_id IS NOT NULL AS dup_prior,
           i.vec_id IS NOT NULL AS dup_in_batch,
           NOT (p.vec_id IS NOT NULL OR i.vec_id IS NOT NULL) AS keep
    FROM batch b
    LEFT JOIN prior p ON p.vec_id = b.vec_id
    LEFT JOIN inb i ON i.vec_id = b.vec_id
    ORDER BY b.vec_id
    """,
)
def semdedup_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup served AFTER deletion propagation: history vectors
    ingested against the frozen centroids, ``vec_id % 7 == 3``
    tombstoned, the arriving batch flagged — a deleted near-copy no
    longer blocks new arrivals.  The frozen centroid set is quantizer
    geometry and is deliberately NOT retrained by deletes (the FAISS
    delete contract; the drift audit + invalidate path owns retraining),
    which the oracle replays by seeding from the full history prefix."""
    h = _sem_history_cutoff(spark, sf_dir)
    path = _ensure_deleted_sem_store(spark, sf_dir, h)
    return flag_semdedup_batch(
        spark, sf_dir, path, batch_pred=F.col("vec_id") >= h
    )


# --- incremental FUZZY (MinHash-LSH) dedup store (round 9): the last
# dedup family without a store form.  History persists as TWO bounded
# artifacts: band-key postings ``bi=<band>/batch=<n>`` rows
# ``(bk, doc_id)`` (16 rows per doc — the LSH index), and the
# hashed-shingle payloads ``_docs/batch=<n>`` rows ``(doc_id, hs, sz)``
# (the exact-verify side; doc_id + ~sz longs, far smaller than text).
# Flagging a batch is: band the batch signatures, ONE (bi, bk)-keyed
# salted equi-join against the postings (work ∝ band-collision volume,
# never |batch| x |history|; the salt spreads a degenerate boilerplate
# band key), fetch ONLY the colliding history payloads by doc_id, exact
# Jaccard verify; within-batch uses the capped bucket pair join.  The
# oracle is the exhaustive exact-Jaccard flag over the reduced corpus —
# equality also re-proves the 16x2 band config misses no >= tau pair on
# this corpus (the dedup_minhash_lsh guarantee, now at the store
# boundary).  Doc-grain rows carry their ids, so deletion is the
# tombstone shape (both postings and payloads anti-join ``_deleted``). ---
from columnflow_spark.queries.textdedup import (  # noqa: E402
    JACCARD_THRESHOLD,
    _GRAMS_CTE,
    _verify_pairs_exact,
    hashed_grams,
    minhash_sigs,
)
from columnflow_spark.functions.similarity import (  # noqa: E402
    bucketed_candidate_pairs,
    lsh_band_keys,
)

_MH_STORE_FORMAT = 1
_MH_BANDS, _MH_ROWS = 16, 2
_MH_SALT = 16


def _mh_banded(sigs: DataFrame) -> DataFrame:
    """``(doc_id, bi, bk)``: one row per (doc, band), band index exposed
    as the store's partition axis."""
    return sigs.select(
        "doc_id",
        F.posexplode(
            F.array(*lsh_band_keys(F.col("sig"), bands=_MH_BANDS, rows=_MH_ROWS))
        ).alias("bi", "bk"),
    )


def upsert_minhash_batch(
    spark: SparkSession, sf_dir: str, path: str, *, batch: int, batch_pred
) -> str:
    """Persist one ingest batch's band postings + shingle payloads (both
    map-side projections over the session signature/shingle tables)."""
    sigs = minhash_sigs(spark, sf_dir).filter(batch_pred)
    posts = _mh_banded(sigs).withColumn("batch", F.lit(int(batch)))
    upsert_partitions(posts, path, partition_by=["bi", "batch"])
    docs = (
        hashed_grams(spark, sf_dir)
        .filter(batch_pred)
        .select("doc_id", "hs", "sz")
        .withColumn("batch", F.lit(int(batch)))
    )
    upsert_partitions(docs, os.path.join(path, "_docs"), partition_by=["batch"])
    mark_built(path, _MH_STORE_FORMAT)
    return path


def delete_docs_from_minhash_store(
    spark: SparkSession, ids: DataFrame, path: str, *, batch: int
) -> str:
    """Tombstone a deleted-id set (shared slice for postings AND
    payloads — both anti-join it at serve time; a purging compaction
    would rewrite both minus tombstones)."""
    upsert_tombstones(ids, path, batch=batch)
    return path


def flag_minhash_batch(
    spark: SparkSession, sf_dir: str, path: str, *, batch_pred, max_batch: int | None = None
) -> DataFrame:
    """Per-doc fuzzy dedup decision for an arriving batch vs the
    accumulated store: ``(doc_id, dup_prior, dup_in_batch, keep)`` under
    exact-Jaccard >= tau semantics (LSH candidates, exact verify)."""
    from columnflow_spark.functions.skew import salted_join

    sigs = minhash_sigs(spark, sf_dir).filter(batch_pred)
    gb = hashed_grams(spark, sf_dir).filter(batch_pred).select("doc_id", "hs", "sz")
    banded_b = _mh_banded(sigs)
    store = spark.read.parquet(path)
    if max_batch is not None:
        store = store.filter(F.col("batch") <= max_batch)
    store = anti_tombstones(store, path)
    posts = store.select(
        F.col("bi").cast("int").alias("bi"), "bk", F.col("doc_id").alias("hist_id")
    )
    cand = (
        salted_join(
            posts,
            banded_b.select("bi", "bk", "doc_id"),
            ["bi", "bk"],
            salt_src=F.col("hist_id"),
            n_salt=_MH_SALT,
        )
        .select(F.col("hist_id").alias("d1"), F.col("doc_id").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    hist_docs = anti_tombstones(
        spark.read.parquet(os.path.join(path, "_docs")), path
    ).select("doc_id", "hs", "sz")
    prior = (
        _verify_pairs_exact(hist_docs.unionByName(gb), cand, JACCARD_THRESHOLD)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("dup_prior", F.lit(True))
    )
    inb_cand = bucketed_candidate_pairs(banded_b, ["bi", "bk"], cap=256)
    inb = (
        _verify_pairs_exact(gb, inb_cand, JACCARD_THRESHOLD)
        .select(F.col("d2").alias("doc_id"))
        .distinct()
        .withColumn("dup_in_batch", F.lit(True))
    )
    return (
        sigs.select("doc_id")
        .join(prior, "doc_id", "left")
        .join(inb, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("dup_prior", F.lit(False)).alias("dup_prior"),
            F.coalesce("dup_in_batch", F.lit(False)).alias("dup_in_batch"),
        )
        .withColumn("keep", ~(F.col("dup_prior") | F.col("dup_in_batch")))
    )


def _mh_store_oracle(hist_filter: str = "") -> str:
    """Exhaustive exact-Jaccard flagging of the arriving batch vs the
    (optionally reduced) history and itself."""
    return f"""
    WITH {_GRAMS_CTE},
    n AS (SELECT 3 * count(*) // 5 AS h FROM documents),
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    jac AS MATERIALIZED (
        SELECT d1, d2 FROM pairs
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    ),
    batch AS (SELECT g.doc_id FROM grams g, n WHERE g.doc_id >= n.h)
    SELECT b.doc_id,
           EXISTS (SELECT 1 FROM jac j, n
                   WHERE j.d2 = b.doc_id AND j.d1 < n.h {hist_filter}) AS dup_prior,
           EXISTS (SELECT 1 FROM jac j, n
                   WHERE j.d2 = b.doc_id AND j.d1 >= n.h) AS dup_in_batch,
           NOT (EXISTS (SELECT 1 FROM jac j, n
                        WHERE j.d2 = b.doc_id AND j.d1 < n.h {hist_filter})
                OR EXISTS (SELECT 1 FROM jac j, n
                           WHERE j.d2 = b.doc_id AND j.d1 >= n.h)) AS keep
    FROM batch b
    """


def _ensure_minhash_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    return ensure_store(
        store_path(sf_dir, "documents", "minhash_store", f"minhash-v{_MH_STORE_FORMAT}"),
        lambda p: upsert_minhash_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h
        ),
    )


@query("minhash_incremental_store", oracle=_mh_store_oracle())
def minhash_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental FUZZY dedup: flag the arriving batch (last 40% of
    doc_ids) for near-duplicates (n-gram Jaccard >= tau) against the
    PERSISTED MinHash store (first 60%) and within itself.  The oracle
    replays both decisions exhaustively with exact Jaccard — equality
    proves the banded index + exact verify lose no >= tau pair."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_minhash_store(spark, sf_dir, h)
    return flag_minhash_batch(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=0
    )


def _ensure_deleted_minhash_store(spark: SparkSession, sf_dir: str, h: int) -> str:
    def build(p: str) -> None:
        upsert_minhash_batch(
            spark, sf_dir, p, batch=0, batch_pred=F.col("doc_id") < h
        )
        deleted = load_table(spark, sf_dir, "documents", columns=["doc_id"]).filter(
            _delete_pred() & (F.col("doc_id") < h)
        )
        delete_docs_from_minhash_store(spark, deleted, p, batch=0)

    return ensure_store(
        store_path(
            sf_dir, "documents", "minhash_store_deleted", f"minhash-v{_MH_STORE_FORMAT}-deleted"
        ),
        build,
    )


@query(
    "minhash_store_delete",
    oracle=_mh_store_oracle(f"AND NOT (j.{_DEL_PRED_SQL.replace('doc_id', 'd1')})"),
)
def minhash_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dedup served AFTER deletion propagation: a tombstoned
    near-duplicate no longer blocks new arrivals (both the band postings
    and the payload fetch anti-join the tombstones).  Oracle = exhaustive
    exact-Jaccard flagging over the surviving history."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_deleted_minhash_store(spark, sf_dir, h)
    return flag_minhash_batch(
        spark, sf_dir, path, batch_pred=F.col("doc_id") >= h, max_batch=None
    )


def substring_store_rewrite_frame(
    spark: SparkSession, docs: DataFrame, path: str, *, max_batch: int | None = None,
    k: int = _SSTR_K,
) -> DataFrame:
    """The ExactSubstr REWRITE at ingest time (Lee et al.'s output
    deployed against the crawl store): delete from each arriving doc the
    UNION of tokens covered by spans repeated against HISTORY or by an
    earlier (doc, pos) in the batch, emit ``(doc_id, n_tokens_kept,
    text_md5)``.  Same plan shape as the flag pass (one history scan
    under the broadcast batch-gram semi-join, batch-grain everything
    after) plus the in-row indexed cut shared with the batch rewrite."""
    from columnflow_spark.queries.textdedup import _sstr_cut

    bg = _sstr_grams(docs, k)
    store = spark.read.parquet(path)
    if max_batch is not None:
        store = store.filter(F.col("batch") <= max_batch)
    bset = bg.select("g").distinct()
    hits = (
        store.join(F.broadcast(bset), "g", "leftsemi")
        .groupBy("g")
        .agg(F.sum("cnt").alias("_c"))
        .filter(F.col("_c") > 0)
        .select("g")
        .withColumn("hit", F.lit(True))
    )
    wmin = F.min("key").over(W.partitionBy("g"))
    marked = bg.join(hits, "g", "left").withColumn(
        "cov", F.col("hit").isNotNull() | (F.col("key") > wmin)
    )
    dup = marked.filter("cov").select("doc_id", "p")
    win = W.partitionBy("doc_id").orderBy("p")
    spans = (
        dup.withColumn("rid", F.col("p") - F.row_number().over(win))
        .groupBy("doc_id", "rid")
        .agg(F.min("p").alias("s"), F.max("p").alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("rs"))
    )
    return _sstr_cut(docs, spans, k)


@query(
    "substring_store_rewrite",
    oracle=f"""
    WITH {_SSTR_GRAM_CTES},
    n AS (SELECT 3 * count(*) // 5 AS h FROM documents),
    hist AS MATERIALIZED (
        SELECT DISTINCT g FROM grams, n WHERE doc_id < h
    ),
    bg AS MATERIALIZED (
        SELECT doc_id, p, key, g FROM grams, n WHERE doc_id >= h
    ),
    cov0 AS (
        SELECT b.doc_id, b.p,
               (h.g IS NOT NULL)
                   OR (min(b.key) OVER (PARTITION BY b.g) < b.key) AS cov
        FROM bg b LEFT JOIN hist h ON h.g = b.g
    ),
    rm AS MATERIALIZED (
        SELECT doc_id, rid, min(p) AS s, max(p) AS e
        FROM (
            SELECT doc_id, p,
                   p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rid
            FROM cov0 WHERE cov
        ) GROUP BY doc_id, rid
    ),
    tokpos AS (
        SELECT doc_id, i - 1 AS i, w FROM (
            SELECT t.doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
            FROM toks t, n WHERE t.doc_id >= n.h
        )
    ),
    covp AS (
        SELECT DISTINCT t.doc_id, t.i
        FROM tokpos t JOIN rm r
          ON r.doc_id = t.doc_id AND t.i BETWEEN r.s AND r.e + {_SSTR_K - 1}
    ),
    kept AS (
        SELECT t.doc_id, t.i, t.w
        FROM tokpos t ANTI JOIN covp c ON c.doc_id = t.doc_id AND c.i = t.i
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS nk,
               list(w ORDER BY i) AS lw
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.nk, 0) AS BIGINT) AS n_tokens_kept,
           md5(coalesce(array_to_string(a.lw, ' '), '')) AS text_md5
    FROM documents d CROSS JOIN n LEFT JOIN agg a ON a.doc_id = d.doc_id
    WHERE d.doc_id >= n.h
    ORDER BY d.doc_id
    """,
)
def substring_store_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The arriving batch REWRITTEN against the persisted gram store
    (history = first 60%): per-doc kept-token count + content digest
    after deleting every span repeated against history or an earlier
    (doc, pos) in the batch — the full Lee et al. crawl-ingest output."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_substring_store(spark, sf_dir, h)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        F.col("doc_id") >= h
    )
    return substring_store_rewrite_frame(spark, docs, path, max_batch=0).orderBy(
        "doc_id"
    )


# --- URL-grain incremental dedup store (round 9): the crawl frontier's
# own store — every CC-derived pipeline dedups by normalized URL FIRST,
# and at ingest that means flagging each arriving batch's URLs against
# all previously-crawled URLs without a history rescan.  The normalized
# URL plays the fingerprint role, so the store IS the exact-dedup store
# contract verbatim (band=/batch= count-monoid rows, negative slices
# for deletes — a site removal or robots retraction un-claims its
# URLs, compaction purges).  With this, every dedup grain the engine
# ships (exact text, fuzzy shingle, semantic, perceptual, substring,
# URL) has the same store + delete + vacuum lifecycle. ---
def _url_fingerprints(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    """``(doc_id, fingerprint, band)`` where fingerprint = normalized
    synthetic URL (queries/textdedup.py's URL family)."""
    from columnflow_spark.queries.textdedup import normalize_url, synthetic_urls

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source"])
    if pred is not None:
        docs = docs.filter(pred)
    return (
        synthetic_urls(docs)
        .select("doc_id", normalize_url(F.col("url")).alias("fingerprint"))
        .withColumn("band", F.pmod(F.hash("fingerprint"), F.lit(_N_BANDS)))
    )


#: oracle template: URL-grain flagging over the (optionally reduced)
#: history — the _inc_store_oracle shape with the URL CTE chain
def _url_store_oracle(hist_filter: str = "") -> str:
    from columnflow_spark.queries.textdedup import _URL_CTES

    return f"""
    WITH {_URL_CTES},
    n AS (SELECT 3 * count(*) // 5 AS h FROM documents),
    hist AS (
        SELECT DISTINCT url_norm FROM nrm, n WHERE doc_id < h {hist_filter}
    ),
    batch AS (SELECT doc_id, url_norm FROM nrm, n WHERE doc_id >= h),
    flagged AS (
        SELECT b.doc_id,
               h.url_norm IS NOT NULL AS dup_prior,
               min(b.doc_id) OVER (PARTITION BY b.url_norm) < b.doc_id AS dup_in_batch
        FROM batch b LEFT JOIN hist h USING (url_norm)
    )
    SELECT doc_id, dup_prior, dup_in_batch,
           NOT (dup_prior OR dup_in_batch) AS keep
    FROM flagged
    ORDER BY doc_id
    """


def _ensure_url_store(spark: SparkSession, sf_dir: str, h: int, *, deleted: bool) -> str:
    def build(p: str) -> None:
        upsert_fingerprints(
            _url_fingerprints(spark, sf_dir, F.col("doc_id") < h), p, batch=0
        )
        if deleted:
            rows = (
                _url_fingerprints(
                    spark, sf_dir, _delete_pred() & (F.col("doc_id") < h)
                )
                .groupBy("band", "fingerprint")
                .agg(
                    F.min("doc_id").alias("first_doc"),
                    (-F.count(F.lit(1))).cast("long").alias("cnt"),
                )
                .withColumn("batch", F.lit(1))
            )
            upsert_partitions(rows, p, partition_by=["band", "batch"])

    kind = "url-deleted" if deleted else "url"
    return ensure_store(
        store_path(sf_dir, "documents", f"dedup_store_{kind}", f"{kind}-v{_STORE_FORMAT}"),
        build,
    )


@query("url_incremental_store", oracle=_url_store_oracle())
def url_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental URL-grain dedup: flag the arriving batch's normalized
    URLs against the persisted crawl-frontier store (first 60% of
    doc_ids) and within itself — the fingerprint-store contract applied
    at the URL grain."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_url_store(spark, sf_dir, h, deleted=False)
    return flag_fingerprints_against_store(
        _url_fingerprints(spark, sf_dir, F.col("doc_id") >= h), path, max_batch=None
    )


@query(
    "url_store_delete",
    oracle=_url_store_oracle(f"AND NOT ({_DEL_PRED_SQL})"),
)
def url_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-grain dedup AFTER deletion propagation (a retracted site's
    URLs un-claimed via one negative count slice): a URL whose every
    holder was forgotten stops flagging re-crawls; URLs still held by
    surviving docs keep flagging."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_url_store(spark, sf_dir, h, deleted=True)
    return flag_fingerprints_against_store(
        _url_fingerprints(spark, sf_dir, F.col("doc_id") >= h), path, max_batch=None
    )


# --- segment-count incremental store (round 9): the bulk-segment
# (line-level) removal stage at crawl-ingest time.  Unlike every other
# store in this file, the serve decision is a THRESHOLD over counts
# (a segment is boilerplate once >= N distinct docs carry it — history
# and batch combined), not mere presence, so the store's count monoid
# is read as a number, not a flag.  The same negative-slice deletion
# algebra applies: forgetting a history doc decrements its segments'
# holder counts, and a segment that drops below the threshold stops
# being boilerplate for future batches. ---
def _segment_fingerprints(spark: SparkSession, sf_dir: str, pred=None) -> DataFrame:
    """``(doc_id, fingerprint, band)`` — one row per DISTINCT (doc,
    segment text): the count monoid must count holder DOCS, so in-doc
    repeats of a segment are collapsed before the upsert."""
    from columnflow_spark.queries.textdedup import segment_docs

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    if pred is not None:
        docs = docs.filter(pred)
    return (
        segment_docs(docs)
        .select("doc_id", F.col("seg_text").alias("fingerprint"))
        .distinct()
        .withColumn("band", F.pmod(F.hash("fingerprint"), F.lit(_N_BANDS)))
    )


def _segment_store_oracle(hist_filter: str = "") -> str:
    from columnflow_spark.queries.textdedup import _BP_MIN_DOCS, _BP_SEG_TOKENS

    return f"""
    WITH n AS (SELECT 3 * count(*) // 5 AS h FROM documents),
    corpus AS (
        SELECT doc_id, text FROM documents, n
        WHERE doc_id >= h OR (doc_id < h {hist_filter})
    ),
    toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM corpus
    ),
    segs AS (
        SELECT doc_id, (i - 1) // {_BP_SEG_TOKENS} AS seg_idx,
               string_agg(w, ' ' ORDER BY i) AS seg_text,
               CAST(count(*) AS BIGINT) AS ntok
        FROM (
            SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i
            FROM toks
        )
        GROUP BY doc_id, (i - 1) // {_BP_SEG_TOKENS}
    ),
    cnt AS (
        SELECT seg_text, count(DISTINCT doc_id) AS nd
        FROM segs GROUP BY seg_text
    ),
    flagged AS (
        SELECT s.doc_id, s.seg_idx, s.seg_text, s.ntok,
               (c.nd < {_BP_MIN_DOCS}) AS kept
        FROM segs s JOIN cnt c USING (seg_text)
        WHERE s.doc_id >= (SELECT h FROM n)
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_seg,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_seg_kept,
           CAST(coalesce(sum(ntok) FILTER (WHERE kept), 0) AS BIGINT) AS n_tokens_kept,
           md5(coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx)
                        FILTER (WHERE kept), '')) AS sig
    FROM flagged GROUP BY doc_id
    ORDER BY doc_id
    """


def _ensure_segment_store(
    spark: SparkSession, sf_dir: str, h: int, *, deleted: bool
) -> str:
    def build(p: str) -> None:
        upsert_fingerprints(
            _segment_fingerprints(spark, sf_dir, F.col("doc_id") < h), p, batch=0
        )
        if deleted:
            rows = (
                _segment_fingerprints(
                    spark, sf_dir, _delete_pred() & (F.col("doc_id") < h)
                )
                .groupBy("band", "fingerprint")
                .agg(
                    F.min("doc_id").alias("first_doc"),
                    (-F.count(F.lit(1))).cast("long").alias("cnt"),
                )
                .withColumn("batch", F.lit(1))
            )
            upsert_partitions(rows, p, partition_by=["band", "batch"])

    kind = "segment-deleted" if deleted else "segment"
    return ensure_store(
        store_path(sf_dir, "documents", f"dedup_store_{kind}", f"{kind}-v{_STORE_FORMAT}"),
        build,
    )


def segment_store_serve(
    spark: SparkSession, sf_dir: str, path: str, *, max_batch: int | None = None
) -> DataFrame:
    """Rewrite the arriving batch against history+batch segment counts:
    per-doc survivor stats + rebuilt-text digest (the batch removal
    pass's output shape, incremental).

    Plan shape: history arrives as the store's already-aggregated
    ``(band, fingerprint, cnt)`` rows — ONE count aggregate over store
    partitions, summed with the batch's own distinct-doc counts in a
    segment-grain shuffle join (history is never broadcast and never
    rescanned at corpus grain); the rollup is one doc-keyed aggregate."""
    from columnflow_spark.queries.textdedup import (
        _BP_MIN_DOCS,
        bp_doc_rollup,
        segment_docs,
    )

    h = _history_cutoff(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        F.col("doc_id") >= h
    )
    segs = segment_docs(spread(docs, "doc_id"))
    batch_cnt = (
        segs.select("doc_id", "seg_text")
        .distinct()
        .groupBy("seg_text")
        .agg(F.count(F.lit(1)).cast("long").alias("bn"))
        .withColumn("band", F.pmod(F.hash("seg_text"), F.lit(_N_BANDS)))
    )
    store = spark.read.parquet(path)
    if max_batch is not None:
        store = store.filter(F.col("batch") <= max_batch)
    hist_cnt = (
        store.groupBy(F.col("band").cast("int").alias("band"), "fingerprint")
        .agg(F.sum("cnt").cast("long").alias("hn"))
        .filter(F.col("hn") > 0)
        .withColumnRenamed("fingerprint", "seg_text")
    )
    bulk = (
        batch_cnt.join(hist_cnt, ["band", "seg_text"], "left")
        .select(
            "seg_text",
            (
                (F.coalesce(F.col("hn"), F.lit(0)) + F.col("bn")) >= _BP_MIN_DOCS
            ).alias("bulk"),
        )
    )
    flagged = segs.join(bulk, "seg_text").withColumn("kept", ~F.col("bulk"))
    return bp_doc_rollup(flagged).orderBy("doc_id")


@query("segment_incremental_store", oracle=_segment_store_oracle())
def segment_incremental_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-segment removal served incrementally: the arriving batch
    (last 40% of doc_ids) rewritten against the persisted segment-count
    store plus its own counts — hash-equal to the from-scratch removal
    pass restricted to the batch."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_segment_store(spark, sf_dir, h, deleted=False)
    return segment_store_serve(spark, sf_dir, path)


@query(
    "segment_store_delete",
    oracle=_segment_store_oracle(f"AND NOT ({_DEL_PRED_SQL})"),
)
def segment_store_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bulk-segment removal AFTER deletion propagation: forgotten
    history docs decrement their segments' holder counts through one
    negative slice, so a segment below the threshold stops counting as
    boilerplate — hash-equal to from-scratch removal over the reduced
    corpus."""
    h = _history_cutoff(spark, sf_dir)
    path = _ensure_segment_store(spark, sf_dir, h, deleted=True)
    return segment_store_serve(spark, sf_dir, path)
