"""Text and media deduplication operators.

Exact (fingerprint) dedup, n-gram Jaccard, MinHash+LSH, SimHash, span,
exact-substring, segment (boilerplate line), URL/domain and winnowing
dedup, the Bloom-filter prefilter, near-dup connected components
(:func:`components_from_edges`) and cluster resolution, eval-set
decontamination (exact and MinHash), snapshot deltas, the leakage-safe
split, and the multimodal plumbing: decode, frame sampling, resize and
perceptual-hash near-dups (``columnflow_spark.mmdata`` kernels).
Session artifacts: ``hashed_grams``, ``minhash_sigs``, ``simhash_table``,
``jaccard_edges``, ``phash_fingerprints`` and ``phash_pairs``.  The
persisted dedup indexes live in ``queries/dedupstore.py``.

Scale notes:

- exact dedup / fingerprints: one hash + groupBy — a single shuffle on
  the 16-byte digest;
- n-gram Jaccard: explode-shingles + equi-join on the shingle — exact
  but O(sum of postings²) on hot shingles; it is the *verifier*,
  MinHash+LSH is the *candidate generator* at scale;
- MinHash+LSH: per-doc signatures (narrow), explode only b band keys per
  doc, equi-join on (band, hash) buckets, verify candidates exactly —
  the standard near-dup pipeline for multi-TB corpora;
- SimHash: 64-bit fingerprint per doc; 16-bit block buckets + hamming
  verification.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnflow_spark.core.artifacts import artifact
from columnflow_spark.core.state import checkpoint_df, checkpoint_df_lazy
from columnflow_spark.functions.hashing import seed_long
from columnflow_spark.functions.similarity import (
    bucketed_candidate_pairs,
    chunked_self_pairs,
    hamming64,
    lsh_band_keys,
    minhash_signature_agg,
    salt_oversized_buckets,
    simhash64,
)
from columnflow_spark.functions.text import fingerprint, tokens, word_shingles
from columnflow_spark.queries import query
from columnflow_spark.queries.tokenlm import segment_docs_width
from columnflow_spark.sources import load_table, spread
from columnflow_spark.sources.sinks import local_frame


JACCARD_THRESHOLD = 0.8

# bucket-skew guard for LSH-family self-joins: buckets above this size are
# salt-chunked (see functions.similarity.salt_oversized_buckets).  The test
# corpora's buckets sit far below it, so capped and uncapped plans produce
# identical output there; at 100 TB it is the incident guard against
# boilerplate-degenerate band keys.
LSH_BUCKET_CAP = 256

# SQL fragment: distinct word-trigram list per doc (twin of word_shingles(n=3))
_GRAMS_CTE = """
    toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts FROM documents
    ),
    grams AS (
        SELECT doc_id,
               list_distinct(list_transform(range(1, len(ts) - 1),
                             i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS gs
        FROM toks WHERE len(ts) >= 3
    )
"""


# --- exact dedup: normalize -> fingerprint -> groupBy ---
@query(
    "dedup_exact",
    oracle="""
    WITH fp AS (
        SELECT source, md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS fingerprint
        FROM documents
    )
    SELECT source, count(*) AS n_docs, count(DISTINCT fingerprint) AS n_unique
    FROM fp
    GROUP BY source
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["source", "text"])
    return (
        docs.withColumn("fingerprint", fingerprint(F.col("text")))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("fingerprint").alias("n_unique"),
        )
    )


#: ``hashed_grams`` session artifact: the materialized hashed-shingle
#: table.  Every dedup op consumes the corpus as sorted arrays of 64-bit
#: shingle hashes; a production pipeline materializes this table ONCE (it
#: is the single full-corpus pass) and candidate generation /
#: verification / clustering all reuse it.  localCheckpoint stands in for
#: the persisted table on a long-lived session: doc_id + ~sz longs per
#: doc, far smaller than text.
@artifact("hashed_grams")
def hashed_grams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, hs, sz)``: distinct xxhash64 trigram-shingle hashes per
    doc, sorted by the global canonical order (document frequency asc,
    hash asc).

    Joining and intersecting on 8-byte longs instead of shingle strings
    keeps every downstream shuffle narrow.  The rare-first canonical order
    is what makes the prefix filter *selective*, not just correct: a
    boilerplate shingle shared by thousands of docs sorts to the END of
    every doc's array and never enters a prefix, so prefix posting lists
    stay short and the candidate join emits ~true-pair volume instead of
    df² blowups on hot shingles (PPJoin's ordering heuristic).  Costs one
    extra df-aggregation pass at build time — paid once per session, like
    the materialized shingle table of a production dedup pipeline.
    (xxhash64 collisions need two distinct trigrams of the same corpus to
    collide: P ~ n²/2^65, irrelevant below ~10^8 distinct shingles; the
    exact-string form is the fallback above.)
    """
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    hv = F.transform(word_shingles(F.col("text"), 3), lambda s: F.xxhash64(s))
    ex = (
        docs.filter(F.size(tokens(F.col("text"))) >= 3)
        .select("doc_id", F.explode(hv).alias("h"))
    )
    dfreq = ex.groupBy("h").agg(F.count(F.lit(1)).alias("df"))
    # the per-doc source tag rides along so decontamination consumers
    # never need to re-join (let alone broadcast) the corpus-sized
    # doc->source map: one doc-keyed equi-join here, paid once per
    # session at build time and frozen into the checkpoint
    src = load_table(spark, sf_dir, "documents", columns=["doc_id", "source"])
    return (
        ex.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list(F.struct("df", "h"))).alias("sh"))
        .select("doc_id", F.transform("sh", lambda s: s["h"]).alias("hs"))
        .withColumn("sz", F.size("hs"))
        .join(src, "doc_id")
        .transform(checkpoint_df)
    )


#: ``minhash_sigs`` session artifact: the materialized MinHash signature
#: table — the second canonical dedup-index artifact after the shingle
#: table: one row per doc, 32 longs.  Band explode, the skew-guard size
#: count and both candidate join sides are all cheap projections over it;
#: without materialization each reference re-runs the signature
#: aggregation (the broadcast size count lives in a separate subtree, so
#: ReuseExchange cannot collapse it).
@artifact("minhash_sigs")
def minhash_sigs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, sig)``: 32-permutation MinHash signatures, materialized
    once per session from the shared hashed-shingle table."""
    g = hashed_grams(spark, sf_dir)
    return minhash_signature_agg(g, ["doc_id"], "hs", k=32, pre_hashed=True).transform(
        checkpoint_df  # through the reliability switch like every loop-body site
    )


#: same role for SimHash: one 64-bit fingerprint per doc, materialized so
#: the md5-shingle vote pass (the expensive projection) runs once per
#: session instead of once per plan reference.
@artifact("simhash_table")
def simhash_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, sh)``: 60-bit md5-family SimHash fingerprints (the
    engine-portable hash family — see functions/hashing.py), materialized
    once per session."""
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    md5_hashes = F.transform(
        word_shingles(F.col("text"), 3),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    return (
        docs.filter(F.size(tokens(F.col("text"))) >= 3)
        .select("doc_id", simhash64(md5_hashes).alias("sh"))
        .transform(checkpoint_df)
    )


def _verify_pairs_exact(g: DataFrame, cand: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate ``(d1, d2)`` pairs against
    the hashed-shingle table: join the candidate pair list back to the
    materialized grams on each side and intersect the hash arrays.  Plain
    equi-joins on doc_id — AQE picks broadcast while the restricted grams
    fit and falls back to shuffle joins at corpus scale, where both sides
    are large.  Verification cost scales with |candidates|."""
    gs1 = g.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1"), F.col("sz").alias("sz1"))
    gs2 = g.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2"), F.col("sz").alias("sz2"))
    pairs = cand.join(gs1, "d1").join(gs2, "d2")
    common = F.size(F.array_intersect("hs1", "hs2"))
    jac = common / (F.col("sz1") + F.col("sz2") - common)
    return (
        pairs.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("d1", "d2", F.round("jaccard", 4).alias("jaccard"))
    )


# --- exact n-gram Jaccard near-dup pairs (the verifier / small-scale path) ---
@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_GRAMS_CTE},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, round(common * 1.0 / (s1.sz + s2.sz - common), 4) AS jaccard
    FROM pairs
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefix-filtered set-similarity join (Bayardo et al., WWW'07): with
    # shingle sets sorted by a global order, J(x,y) >= t implies the
    # prefixes of length |x| - ceil(t*|x|) + 1 intersect — so only prefix
    # shingles enter the posting-list self-join.  At t=0.8 that is ~1/5th
    # of the postings per side (~1/25th of the join work and hot-shingle
    # skew), and it is EXACT: no near-dup pair can be missed.  Survivors
    # are verified by intersecting the full sorted hash arrays.
    t = JACCARD_THRESHOLD
    g = hashed_grams(spark, sf_dir)
    plen = (F.col("sz") - F.ceil(F.col("sz") * F.lit(t)) + 1).cast("int")
    ex = g.select(
        "doc_id", "sz", F.posexplode(F.slice("hs", F.lit(1), plen)).alias("p", "h")
    )
    a, b = ex.alias("a"), ex.alias("b")
    # PPJoin pruning on top of the prefix match — all exact:
    # - length filter: J >= t forces t*sz1 <= sz2 <= sz1/t
    # - positional filter: elements strictly before the matching position
    #   can't contribute more than the match itself plus both suffixes, so
    #   overlap <= 1 + min(sz1-p1-1, sz2-p2-1) must still reach the
    #   required overlap ceil(t/(1+t)*(sz1+sz2))
    alpha = F.ceil(F.lit(t / (1.0 + t)) * (F.col("a.sz") + F.col("b.sz")))
    ubound = 1 + F.least(
        F.col("a.sz") - F.col("a.p") - 1, F.col("b.sz") - F.col("b.p") - 1
    )
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.sz") * F.lit(t) <= F.col("a.sz"))
            & (F.col("a.sz") * F.lit(t) <= F.col("b.sz"))
            & (ubound >= alpha),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    return _verify_pairs_exact(g, cand, JACCARD_THRESHOLD)


# --- MinHash + LSH banding + exact verification (the scale path).
# With 16 bands x 2 rows, P(candidate) = 1-(1-j²)^16: j=0.8 -> 0.9999988,
# and the corpus's planted near-dups sit at j≈0.99 (P_miss ~ 1e-27), so the
# verified output equals the exact-Jaccard oracle. ---
@query(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_GRAMS_CTE},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, round(common * 1.0 / (s1.sz + s2.sz - common), 4) AS jaccard
    FROM pairs
    JOIN sizes s1 ON s1.doc_id = d1
    JOIN sizes s2 ON s2.doc_id = d2
    WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    """,
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # signatures from the shared materialized hashed-shingle table —
    # the corpus is shingled once per session across all dedup ops;
    # explode+groupBy-min signature (flat codegen; the nested-HOF form
    # costs seconds of JIT per stage — see minhash_signature_agg)
    g = hashed_grams(spark, sf_dir)
    sigs = minhash_sigs(spark, sf_dir)
    # explode ONLY (doc_id, band_key): the shingle arrays must not ride
    # through the 16x band duplication and its shuffle — at corpus scale
    # that multiplies shuffle bytes by the band count
    banded = sigs.select(
        "doc_id", F.explode(F.array(*lsh_band_keys(F.col("sig"), bands=16, rows=2))).alias("bk")
    )
    # skew-guarded bucket self-join: buckets over LSH_BUCKET_CAP are
    # salt-chunked so a degenerate band key (boilerplate-heavy corpus)
    # costs O(n·cap) candidates across n/cap tasks, never one O(n²)
    # straggler; buckets under the cap — all of them, on a healthy
    # corpus — are paired exactly, so the oracle is unchanged
    candidates = bucketed_candidate_pairs(banded, ["bk"], cap=LSH_BUCKET_CAP)
    # exact verification against the same hashed-shingle table: cost
    # scales with |candidates|, not corpus size
    return _verify_pairs_exact(g, candidates, JACCARD_THRESHOLD)


# --- SimHash near-dup.  Token hashes are md5-based 60-bit ints (the
# engine-portable hash family — see functions/hashing.py) so DuckDB can
# recompute the exact fingerprints; the oracle does a full cross-join
# hamming check (exhaustive at sf0.01), which also proves the block-bucket
# candidate generation misses nothing: 8 blocks of 8 bits guarantee a
# shared block for any pair within hamming 7 (pigeonhole). ---
@query(
    "dedup_simhash",
    oracle=f"""
    WITH {_GRAMS_CTE},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    hx AS (SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM ex),
    bits AS (
        SELECT doc_id, b,
               CASE WHEN 2 * CAST(sum((h >> b) & 1) AS BIGINT) > count(*) THEN 1 ELSE 0 END AS bit
        FROM hx CROSS JOIN (SELECT unnest(range(60)) AS b)
        GROUP BY doc_id, b
    ),
    sh AS (SELECT doc_id, CAST(sum(bit::BIGINT << b) AS BIGINT) AS sh FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= 6
    ORDER BY d1, d2
    """,
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    hashed = simhash_table(spark, sf_dir)
    # bucket on 16-bit blocks: near-dups (hamming <= 6 over 64 bits) share
    # at least one of 4 blocks by pigeonhole when hamming <= 3... use 8
    # blocks of 8 bits to guarantee a shared block up to hamming 7
    blocks = F.array(*[F.shiftright(F.col("sh"), 8 * i).bitwiseAND(F.lit(255)).alias(f"b{i}") for i in range(8)])
    banded = hashed.select(
        "doc_id", "sh", F.posexplode(blocks).alias("block_idx", "block_val")
    )
    # hash-partition on the bucket key BEFORE self-joining: both join sides
    # then carry an identical Exchange, so Spark plans the second as a
    # ReusedExchange — the md5-shingle simhash projection (the expensive
    # part) runs once instead of twice, and the bucket join is co-located
    banded = banded.repartition(
        spark.sparkContext.defaultParallelism, "block_idx", "block_val"
    )
    # same skew guard as the MinHash path: an 8-bit block value shared by
    # a huge boilerplate cluster would otherwise put the whole cluster in
    # one quadratic bucket.  The md5-shingle simhash projection — the
    # expensive part — still runs once: the size count and both join sides
    # all sit above the same repartition Exchange (ReusedExchange).
    banded = salt_oversized_buckets(banded, ["block_idx", "block_val"], "doc_id", LSH_BUCKET_CAP)
    a, b = banded.alias("a"), banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block_idx") == F.col("b.block_idx"))
            & (F.col("a.block_val") == F.col("b.block_val"))
            & (F.col("a.salt") == F.col("b.salt"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("d1"),
            F.col("b.doc_id").alias("d2"),
            hamming64(F.col("a.sh"), F.col("b.sh")).cast("long").alias("hamming"),
        )
        .dropDuplicates(["d1", "d2"])
    )
    return pairs.filter(F.col("hamming") <= 6).orderBy("d1", "d2")


# --- multimodal column plumbing: opaque binary payload + typed metadata,
# decoded via an Arrow-batched mapInPandas operator.  The decoder is a
# deterministic stand-in (dimensions from the payload size) — the
# Spark-side schema, batching and partitioning are real and
# oracle-checked. ---
@query(
    "multimodal_decode_stub",
    oracle="""
    SELECT
        doc_id,
        octet_length(encode(text)) AS n_bytes,
        64 + octet_length(encode(text)) % 577 AS width,
        64 + (octet_length(encode(text)) * 7) % 577 AS height
    FROM documents
    WHERE doc_id < 50
    """,
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = (
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        .filter(F.col("doc_id") < 50)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )

    def decode_batches(batches):
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            width = 64 + n_bytes % 577
            height = 64 + (n_bytes * 7) % 577
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": n_bytes.astype("int64"),
                    "width": width.astype("int64"),
                    "height": height.astype("int64"),
                }
            )

    return docs.mapInPandas(
        decode_batches, schema="doc_id long, n_bytes long, width long, height long"
    )


# --- positional rolling-hash document fingerprint (order-sensitive, unlike
# the md5-of-normalized-text exact fingerprint in dedup_exact): each token
# contributes hash(token) * weight(position), summed into one 64-bit value.
# Pure built-in expressions -> WholeStageCodegen; one projection, no
# shuffle at any corpus size. ---
@query(
    "doc_fingerprint",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents
    ),
    ex AS (
        SELECT doc_id, unnest(ts) AS t, generate_subscripts(ts, 1) AS i
        FROM toks WHERE len(ts) > 0
    )
    SELECT doc_id,
           CAST(sum((('0x' || substring(md5(t), 1, 12))::BIGINT % 2147483647)
                    * ((i * 2654435761) % 1048573)) AS BIGINT) AS fp
    FROM ex
    GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    toks = tokens(F.col("text"))

    def term(t, i):
        hv = F.conv(F.substring(F.md5(t), 1, 12), 16, 10).cast("long") % F.lit(2147483647)
        w = ((i + F.lit(1)).cast("long") * F.lit(2654435761)) % F.lit(1048573)
        return hv * w

    fp = F.aggregate(F.transform(toks, term), F.lit(0).cast("long"), lambda a, x: a + x)
    return docs.filter(F.size(toks) > 0).select("doc_id", fp.alias("fp"))


# --- multimodal: video-style frame sampling over binary payloads (the
# mmdata.media typed-column model; frame count from metadata, JVM-side
# sequence+explode fan-out — payload bytes never ride through the
# row multiplication) ---
@query(
    "multimodal_frame_sample",
    oracle="""
    WITH media AS (
        SELECT doc_id, octet_length(encode(text)) AS n_bytes,
               1 + octet_length(encode(text)) % 120 AS n_frames
        FROM documents WHERE doc_id < 100
    )
    SELECT doc_id, frame_idx,
           CAST((n_bytes * 31 + frame_idx * 7919) % 1000003 AS BIGINT) AS frame_fp
    FROM (
        SELECT doc_id, n_bytes, unnest(range(0, n_frames, 30)) AS frame_idx
        FROM media
    )
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.mmdata import build_media_table, sample_frames

    docs = (
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    media = build_media_table(docs, payload="payload", mime="video/fake")
    return sample_frames(media, every_n=30)


# --- near-dup connected components: pair list -> cluster representative.
# The step after candidate generation in every production dedup pipeline:
# near-dup pairs form a graph; each doc must map to one canonical keeper
# (the min doc_id in its component).  The expensive, genuinely
# distributed part is the PAIR GENERATION (shingle join over the corpus);
# the component solve is hybrid on the pair count:
# - below _CC_DRIVER_MAX_EDGES the edge list is collected and solved with
#   union-find on the driver (microseconds; a near-dup graph is sparse —
#   edges scale with duplicates, not corpus), then broadcast-joined back;
# - above it, iterative min-label propagation over the edge set with a
#   monotone-sum convergence check — one shuffle per round, lineage
#   truncated per round with localCheckpoint.  Small-diameter near-dup
#   clusters converge in 2-3 rounds; for adversarial long-chain graphs
#   swap the loop body for alternating large-star/small-star (same join
#   shapes, O(log n) rounds).
# Oracle: recursive-CTE transitive closure + min per source. ---
_CC_DRIVER_MAX_EDGES = 5_000_000  # ~80 MB of (long, long) — trivially driver-safe
@query(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_GRAMS_CTE},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1, d2
        FROM cand
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT d1 AS s, d2 AS t FROM edges
        UNION ALL
        SELECT d2 AS s, d1 AS t FROM edges
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS node FROM documents
        UNION
        SELECT r.src, sym.t AS node FROM reach r JOIN sym ON sym.s = r.node
    )
    SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src
    """,
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    all_docs = load_table(spark, sf_dir, "documents", columns=["doc_id"])
    return components_from_edges(all_docs, _jaccard_edges_cached(spark, sf_dir))


#: ``jaccard_edges`` session artifact: checkpointed text near-dup edge
#: list — FOUR
#: queries consume the identical ``(d1, d2)`` Jaccard pair set
#: (dedup_connected_components and, through it,
#: dedup_canonical_per_cluster; leakage_safe_split; dedup_cluster_stats;
#: multimodal_canonical_full's text arm), each previously recompiling
#: the full prefix-filtered set-similarity join and paying its own
#: checkpoint of the same rows (r13, guide §1.2 — the shared-shingle
#: pattern one level up).  bench.py purges this on
#: dedup_connected_components, the family's first bench line.
@artifact("jaccard_edges")
def _jaccard_edges_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        dedup_ngram_jaccard(spark, sf_dir)
        .select("d1", "d2")
        .transform(checkpoint_df)
    )


def components_from_edges(all_docs: DataFrame, edges: DataFrame) -> DataFrame:
    """Connected components ``(doc_id, component = min id reachable)``
    over a CHECKPOINTED undirected pair list ``(d1, d2)``; ids absent
    from the edge list come back as identity singletons.  Shared by
    every near-dup family that ends in a cluster solve (n-gram Jaccard,
    perceptual-hash): driver union-find below ``_CC_DRIVER_MAX_EDGES``
    (the duplicate graph is sparse by construction), the distributed
    min-label loop above it."""
    import os

    spark = all_docs.sparkSession
    force_loop = os.environ.get("SPARK_GRAFT_CC_DISTRIBUTED") == "1"
    if not force_loop and edges.count() <= _CC_DRIVER_MAX_EDGES:
        # driver union-find on the sparse duplicate graph
        parent: dict = {}

        def find(x):
            while parent.get(x, x) != x:
                parent[x] = parent.get(parent[x], parent[x])
                x = parent[x]
            return x

        for r in edges.collect():
            ra, rb = find(r.d1), find(r.d2)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        comp_rows = [(d, find(d)) for d in parent]
        if not comp_rows:
            return all_docs.select("doc_id", F.col("doc_id").alias("component"))
        comp_map = local_frame(spark, comp_rows, "doc_id long, comp long")
        return all_docs.join(F.broadcast(comp_map), "doc_id", "left").select(
            "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("component")
        )
    # one generator instead of the self-union: the union form evaluated
    # the (possibly expensive, caller-lazy) edge subtree once per
    # direction branch (r13, guide §1.2); identical row multiset
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("d1").alias("src"), F.col("d2").alias("dst")),
                    F.struct(F.col("d2").alias("src"), F.col("d1").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .coalesce(8)
        .transform(checkpoint_df)
    )
    # iterate ONLY over edge endpoints: isolated docs can never change
    # label, so they join in as identity components at the end — the loop
    # state is proportional to the duplicate graph, not the corpus
    labels = (
        sym.select("src").distinct()
        .select(F.col("src").alias("doc_id"), F.col("src").alias("comp"))
        .transform(checkpoint_df)
    )
    # convergence via the monotone label sum: comp only ever decreases, so
    # an unchanged sum means a fixed point — one tiny aggregate per round,
    # no join-based diff
    prev_sum = labels.agg(F.sum("comp")).first()[0]
    for _ in range(25):
        nbr = (
            sym.join(labels, sym.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("comp").alias("nbr_min"))
        )
        # lazy checkpoint: the convergence aggregate below is the single
        # action that both materializes this round's labels and reads the
        # label sum — one job per round, lineage still truncated
        labels = (
            labels.join(nbr, labels.doc_id == nbr.src, "left")
            .select(
                "doc_id",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_min"), F.col("comp"))).alias("comp"),
            )
            .transform(checkpoint_df_lazy)
        )
        cur_sum = labels.agg(F.sum("comp")).first()[0]
        if cur_sum == prev_sum:
            break
        prev_sum = cur_sum
    # no broadcast hint: labels is proportional to the duplicate GRAPH
    # (unbounded at corpus scale) — AQE broadcasts it while small and
    # falls back to a doc_id-keyed shuffle join when it isn't
    return all_docs.join(labels, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("comp"), F.col("doc_id")).alias("component")
    )


# --- corpus vocabulary statistics: trigram document frequency top-k.
# The df table is the same aggregation hashed_grams builds for its
# canonical order — exposed here over the string shingles so the ranking
# is human-readable.  explode + count + total-order top-k. ---
@query(
    "vocab_df_topk",
    oracle=f"""
    WITH {_GRAMS_CTE},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams)
    SELECT g AS gram, count(*) AS df
    FROM ex GROUP BY g
    ORDER BY df DESC, gram ASC
    LIMIT 20
    """,
)
def vocab_df_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    ex = (
        docs.filter(F.size(tokens(F.col("text"))) >= 3)
        .select(F.explode(word_shingles(F.col("text"), 3)).alias("gram"))
    )
    return (
        ex.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .orderBy(F.desc("df"), F.asc("gram"))
        .limit(20)
    )


# --- the shingle-index build pass, exposed as its own operator: every
# production dedup pipeline materializes the (doc -> shingle set) index
# once and amortizes it over candidate generation, verification, and
# clustering (hashed_grams is that table here).  Benchmarked separately
# so the one-time build cost is visible instead of hiding inside the
# first dedup query that touches a scale factor. ---
@query(
    "dedup_shingle_index",
    oracle=f"""
    WITH {_GRAMS_CTE}
    SELECT count(*) AS n_docs,
           CAST(sum(len(gs)) AS BIGINT) AS total_shingles
    FROM grams
    """,
)
def dedup_shingle_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = hashed_grams(spark, sf_dir)
    return g.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("sz").alias("total_shingles"),
    )


# --- span-level dedup with reassembly (the paragraph-dedup shape of
# Dolma/FineWeb pipelines, on fixed 20-word spans since the corpus has no
# paragraph breaks): chunk in-row with HOFs (no shuffle), group spans
# corpus-wide by digest keeping the first (doc_id, span_idx) occurrence,
# and report per-document removal stats.  At 100 TB the span table is
# (digest, key) — 24 bytes/span — and the groupBy partitioning is reused
# by the join back (exchange reuse), so the whole op is ONE wide shuffle
# of narrow rows; payload text never rides it twice. ---
@query(
    "dedup_span_chunks",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
        SELECT doc_id, i AS cidx,
               array_to_string(ws[i*20+1 : i*20+20], ' ') AS chunk,
               len(ws[i*20+1 : i*20+20]) AS n_words
        FROM base, unnest(range(CAST(ceil(len(ws) / 20.0) AS BIGINT))) AS t(i)
    ),
    firsts AS (
        SELECT md5(chunk) AS h, min(doc_id * 1000 + cidx) AS first_key
        FROM chunks GROUP BY md5(chunk)
    )
    SELECT doc_id,
           count(*) AS n_spans,
           CAST(sum(CASE WHEN doc_id * 1000 + cidx = first_key THEN 0 ELSE 1 END) AS BIGINT) AS n_removed,
           CAST(sum(CASE WHEN doc_id * 1000 + cidx = first_key THEN n_words ELSE 0 END) AS BIGINT) AS kept_words
    FROM chunks JOIN firsts ON md5(chunk) = h
    GROUP BY doc_id
    HAVING sum(CASE WHEN doc_id * 1000 + cidx = first_key THEN 0 ELSE 1 END) > 0
    ORDER BY doc_id
    """,
)
def dedup_span_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    ws = F.split(F.col("text"), " ")
    docs = spread(docs, "doc_id").withColumn("ws", ws)
    n_spans = F.ceil(F.size("ws") / F.lit(20.0)).cast("int")
    span_list = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.struct(
            F.array_join(F.slice(F.col("ws"), i * 20 + 1, F.lit(20)), " ").alias("chunk"),
            F.size(F.slice(F.col("ws"), i * 20 + 1, F.lit(20))).alias("n_words"),
        ),
    )
    spans = (
        docs.select("doc_id", F.posexplode(span_list).alias("cidx", "s"))
        .select(
            "doc_id",
            "cidx",
            F.md5(F.col("s.chunk")).alias("h"),
            F.col("s.n_words").alias("n_words"),
            (F.col("doc_id") * 1000 + F.col("cidx")).alias("key"),
        )
    )
    firsts = spans.groupBy("h").agg(F.min("key").alias("first_key"))
    kept = F.col("key") == F.col("first_key")
    return (
        spans.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(F.when(kept, 0).otherwise(1)).alias("n_removed"),
            F.sum(F.when(kept, F.col("n_words")).otherwise(0)).alias("kept_words"),
        )
        .filter(F.col("n_removed") > 0)
        .orderBy("doc_id")
    )


# --- exact substring dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr family): find
# repeated substrings of >= k TOKENS at ARBITRARY offsets, not just the
# aligned 20-word spans of dedup_span_chunks.  Suffix-array semantics,
# Spark-first plan: every position's hashed k-gram is built IN-ROW
# (transform over positions — the suffix-construction analog), then ONE
# gram-keyed shuffle finds grams occurring more than once (plus each
# gram's first corpus occurrence, for keep-first removal); only the
# DUPLICATED positions flow onward, so downstream work is bounded by
# duplicated-gram volume, never a corpus self-join.  Consecutive
# duplicated positions p, p+1, ... within a doc merge into MAXIMAL runs
# via the islands trick (rid = p - row_number) in a single per-doc
# window pass that also computes the keep-first variant (running count
# of non-first positions) — a run [s, e] of gram positions covers
# e - s + k tokens, exactly the maximal repeated substring.  At 100 TB
# the gram shuffle moves (16-byte digest, doc_id, pos) per token — the
# same O(corpus tokens) a distributed suffix sort pays — and the window
# is per-doc (bounded by doc length, the standard in-row assumption). ---
_SSTR_K = 8
#: position-key stride for the first-occurrence key doc_id*stride + p:
#: supports docs up to 1M tokens and doc_ids up to ~9.2e12 in BIGINT —
#: both comfortable bounds for pretraining corpora (a 1M-token doc is
#: ~4 MB of text; pipelines chunk far below that)
_SSTR_POS_STRIDE = 1_000_000


def _sstr_words(k: int = _SSTR_K):
    return F.filter(F.split("text", " "), lambda t: t != "")


def _sstr_grams(docs: DataFrame, k: int = _SSTR_K) -> DataFrame:
    """Positional hashed k-grams ``(doc_id, p, g, key)`` for a
    ``(doc_id, text)`` frame — the shared suffix-construction analog of
    every ExactSubstr surface (runs, rewrite, incremental store)."""
    d = docs.select("doc_id", _sstr_words(k).alias("ws"))
    npos = F.size("ws") - F.lit(k - 1)
    poss = F.when(npos > 0, F.sequence(F.lit(0), npos - 1)).otherwise(
        F.array().cast("array<int>")
    )
    gh = F.transform(
        poss, lambda p: F.md5(F.concat_ws(" ", F.slice("ws", p + 1, F.lit(k))))
    )
    return d.select("doc_id", F.posexplode(gh).alias("p", "g")).withColumn(
        "key", F.col("doc_id") * _SSTR_POS_STRIDE + F.col("p")
    )


def _sstr_marked(docs: DataFrame, k: int = _SSTR_K) -> DataFrame:
    """Shared ExactSubstr stage: duplicated gram positions with island
    ids — ``(doc_id, p, nf, rid, rid_rm)`` where ``nf`` marks non-first
    occurrences, ``rid`` the maximal-run island over ALL dup positions,
    ``rid_rm`` the island over the non-first subset (NULL on firsts)."""
    grams = _sstr_grams(docs, k)
    gstats = (
        grams.groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"), F.min("key").alias("first_key"))
        .filter(F.col("c") > 1)
    )
    dup = grams.join(gstats, "g").select(
        "doc_id", "p", (F.col("key") != F.col("first_key")).alias("nf")
    )
    # ONE per-doc window pass serves both run families: rid merges
    # consecutive dup positions (all of them); the running non-first
    # count gives the same islands over the non-first SUBSET without a
    # second sort (downstream groupBys are satisfied by the doc_id
    # clustering — no further exchange)
    win = W.partitionBy("doc_id").orderBy("p")
    return (
        dup.withColumn("rid", F.col("p") - F.row_number().over(win))
        .withColumn("cnf", F.sum(F.when(F.col("nf"), 1).otherwise(0)).over(win))
        .withColumn("rid_rm", F.when(F.col("nf"), F.col("p") - F.col("cnf")))
    )


def _interval_union_contrib(e_col, mn_col, prev_max_e):
    """Per-interval contribution to the UNION length of coverage
    intervals ``[mn, e]`` sorted by ``mn`` within a doc: clamp each
    interval's start past the running max end of every PRECEDING
    interval, so overlapping coverage is counted once.  ``prev_max_e``
    is a preceding-rows-exclusive window max of ``e`` (NULL on the
    first row — positions are >= 0, so -1 is a safe sentinel)."""
    start = F.greatest(mn_col, F.coalesce(prev_max_e, F.lit(-1)) + F.lit(1))
    return F.greatest(F.lit(0), e_col - start + F.lit(1))


def substring_dup_runs_frame(docs: DataFrame, k: int = _SSTR_K) -> DataFrame:
    """Per-document maximal duplicated-substring runs over ``docs``
    (``doc_id``, ``text``): ``n_runs``, ``dup_tokens`` (UNION of tokens
    covered by any >= k-token repeat), ``max_run_tokens`` (longest
    single run's extent), and ``removed_tokens`` (UNION of tokens
    covered by non-FIRST occurrences — EXACTLY what keep-first
    ExactSubstr removal deletes, so per doc ``removed_tokens ==
    n_tokens - n_tokens_kept`` of :func:`substring_rewrite_frame`; the
    invariant is pinned in tests).  Both coverage columns are interval
    UNIONS: a sub-run's coverage ``[mn, mx + k - 1]`` overlaps its
    neighbor's whenever the position gap is < k (interleaved first /
    non-first segments inside a run, or adjacent runs separated by < k
    non-dup positions), and the r8 per-extent sums double-counted the
    overlap — removed_tokens could exceed the document length (ADVICE
    r9)."""
    marked = _sstr_marked(docs, k)
    # three-level rollup in ONE pass (a branched agg_all/agg_rm plan
    # recomputes the gram join + window per branch — 2x the corpus
    # shuffle): sub-islands (doc, rid, rid_rm) -> maximal runs
    # (doc, rid) -> per-doc stats.  rid_rm is NULL exactly on
    # first-occurrence positions, so the sub-island level keeps removed
    # sub-runs separate while the null group rides along; consecutive nf
    # positions are always inside one all-run, so (rid, rid_rm) segments
    # equal the nf-only islands.  Every level (including the coverage
    # window below) is satisfied by the marked window's doc_id
    # clustering — zero additional exchanges, one added in-partition
    # sort.  Sub-runs partition each run's positions contiguously, so
    # the union over sub-run coverages equals the union over runs.
    sub = marked.groupBy("doc_id", "rid", "rid_rm").agg(
        F.min("p").alias("mn"), F.max("p").alias("mx")
    )
    wc = W.partitionBy("doc_id").orderBy("mn").rowsBetween(W.unboundedPreceding, -1)
    e = F.col("mx") + F.lit(k - 1)
    prev_all = F.max("mx").over(wc) + F.lit(k - 1)
    prev_rm = F.max(F.when(F.col("rid_rm").isNotNull(), F.col("mx"))).over(wc) + F.lit(
        k - 1
    )
    cov = sub.select(
        "doc_id",
        "rid",
        "mn",
        "mx",
        _interval_union_contrib(e, F.col("mn"), prev_all).alias("c_all"),
        F.when(
            F.col("rid_rm").isNotNull(),
            _interval_union_contrib(e, F.col("mn"), prev_rm),
        )
        .otherwise(F.lit(0))
        .alias("c_rm"),
    )
    runs = cov.groupBy("doc_id", "rid").agg(
        (F.max("mx") - F.min("mn") + k).cast("long").alias("run_tokens"),
        F.sum("c_all").cast("long").alias("cov_tokens"),
        F.sum("c_rm").cast("long").alias("rm_tokens"),
    )
    return (
        runs.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_runs"),
            F.sum("cov_tokens").alias("dup_tokens"),
            F.max("run_tokens").alias("max_run_tokens"),
            F.sum("rm_tokens").alias("removed_tokens"),
        )
        .orderBy("doc_id")
    )


#: gram-construction oracle CTEs (no leading WITH) — the SQL twin of
#: :func:`_sstr_grams`, shared by every ExactSubstr oracle incl. the
#: incremental store's
_SSTR_GRAM_CTES = f"""
    toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    grams AS (
        SELECT doc_id, i AS p, doc_id * {_SSTR_POS_STRIDE} + i AS key,
               md5(array_to_string(ws[i+1:i+{_SSTR_K}], ' ')) AS g
        FROM toks, unnest(range(len(ws) - {_SSTR_K - 1})) AS t(i)
    )"""

#: shared ExactSubstr oracle CTE chain (no leading WITH): positional
#: hashed k-grams -> duplicated positions -> island ids, the SQL twin
#: of :func:`_sstr_marked`
_SSTR_CTES = f"""{_SSTR_GRAM_CTES},
    gstats AS MATERIALIZED (
        SELECT g, min(key) AS first_key
        FROM grams GROUP BY g HAVING count(*) > 1
    ),
    dup AS MATERIALIZED (
        SELECT doc_id, p, (key <> first_key) AS nf
        FROM grams JOIN gstats USING (g)
    ),
    runs AS (
        SELECT doc_id, p, nf,
               p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rid,
               p - sum(CASE WHEN nf THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY p) AS rid_rm
        FROM dup
    )"""


@query(
    "dedup_substring_runs",
    oracle=f"""
    WITH {_SSTR_CTES},
    sub AS (
        SELECT doc_id, rid, CASE WHEN nf THEN rid_rm END AS rm,
               min(p) AS mn, max(p) AS mx
        FROM runs GROUP BY doc_id, rid, CASE WHEN nf THEN rid_rm END
    ),
    -- interval-UNION coverage (the engine's clamped-contribution form):
    -- each sub-run's coverage [mn, mx + k - 1] starts past the running
    -- max end of every preceding interval, so overlaps count once
    covw AS (
        SELECT doc_id, rid, rm, mn, mx,
               max(mx) OVER (PARTITION BY doc_id ORDER BY mn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pa,
               max(CASE WHEN rm IS NOT NULL THEN mx END)
                   OVER (PARTITION BY doc_id ORDER BY mn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM sub
    ),
    contrib AS (
        SELECT doc_id, rid, mn, mx,
               greatest(0, (mx + {_SSTR_K - 1})
                   - greatest(mn, coalesce(pa + {_SSTR_K - 1}, -1) + 1) + 1) AS c_all,
               CASE WHEN rm IS NOT NULL THEN greatest(0, (mx + {_SSTR_K - 1})
                   - greatest(mn, coalesce(pm + {_SSTR_K - 1}, -1) + 1) + 1)
               ELSE 0 END AS c_rm
        FROM covw
    ),
    r2 AS (
        SELECT doc_id, rid, max(mx) - min(mn) + {_SSTR_K} AS run_tokens,
               sum(c_all) AS cov_tokens, sum(c_rm) AS rm_tokens
        FROM contrib GROUP BY doc_id, rid
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_runs,
           CAST(sum(cov_tokens) AS BIGINT) AS dup_tokens,
           CAST(max(run_tokens) AS BIGINT) AS max_run_tokens,
           CAST(sum(rm_tokens) AS BIGINT) AS removed_tokens
    FROM r2 GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def dedup_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring dedup over ``documents``: maximal repeated
    substrings of >= _SSTR_K tokens at arbitrary offsets, per-doc
    coverage and keep-first removal stats (see the block comment)."""
    docs = spread(
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]), "doc_id"
    )
    return substring_dup_runs_frame(docs, _SSTR_K)


def substring_rewrite_frame(docs: DataFrame, k: int = _SSTR_K) -> DataFrame:
    """The ExactSubstr REWRITE (Lee et al.'s actual output): delete the
    UNION of tokens covered by non-first maximal runs, keep everything
    else in order, and emit the deduped text's token count + md5 for
    every document.  The removal spans are a per-doc bounded artifact
    (collect_list over the rm-run table — rows ∝ duplicated volume);
    the cut itself is one in-row indexed filter, no token-grain
    shuffle."""
    marked = _sstr_marked(docs, k)
    spans = (
        marked.filter("nf")
        .groupBy("doc_id", "rid_rm")
        .agg(F.min("p").alias("s"), F.max("p").alias("e"))
        .groupBy("doc_id")
        .agg(F.collect_list(F.struct("s", "e")).alias("rs"))
    )
    return _sstr_cut(docs, spans, k).orderBy("doc_id")


def _sstr_cut(docs: DataFrame, spans: DataFrame, k: int = _SSTR_K) -> DataFrame:
    """Apply removal spans to documents in-row: delete every token whose
    position falls in the coverage ``[s, e + k - 1]`` of any of the
    doc's spans ``rs``, emit ``(doc_id, n_tokens_kept, text_md5)``.
    Shared by the batch rewrite and the incremental-store rewrite
    (queries/dedupstore.py) — one indexed filter over the token array,
    no token-grain shuffle."""
    d = docs.select("doc_id", _sstr_words(k).alias("ws"))
    covered = lambda i: F.exists(  # noqa: E731 - in-row span-membership test
        "rs", lambda r: (i >= r["s"]) & (i <= r["e"] + F.lit(k - 1))
    )
    kept = F.filter(
        F.transform("ws", lambda w, i: F.struct(w.alias("w"), i.alias("i"))),
        lambda x: F.col("rs").isNull() | ~covered(x["i"]),
    )
    return d.join(spans, "doc_id", "left").select(
        "doc_id",
        F.size(F.transform(kept, lambda x: x["w"])).cast("long").alias("n_tokens_kept"),
        F.md5(F.concat_ws(" ", F.transform(kept, lambda x: x["w"]))).alias("text_md5"),
    )


@query(
    "dedup_substring_rewrite",
    oracle=f"""
    WITH {_SSTR_CTES},
    rm AS MATERIALIZED (
        SELECT doc_id, rid_rm, min(p) AS s, max(p) AS e
        FROM runs WHERE nf GROUP BY doc_id, rid_rm
    ),
    tokpos AS (
        SELECT doc_id, i - 1 AS i, w FROM (
            SELECT doc_id, unnest(ws) AS w, generate_subscripts(ws, 1) AS i
            FROM toks
        )
    ),
    cov AS (
        SELECT DISTINCT t.doc_id, t.i
        FROM tokpos t JOIN rm r
          ON r.doc_id = t.doc_id AND t.i BETWEEN r.s AND r.e + {_SSTR_K - 1}
    ),
    kept AS (
        SELECT t.doc_id, t.i, t.w
        FROM tokpos t ANTI JOIN cov c ON c.doc_id = t.doc_id AND c.i = t.i
    ),
    agg AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n,
               list(w ORDER BY i) AS lw
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           CAST(coalesce(a.n, 0) AS BIGINT) AS n_tokens_kept,
           md5(coalesce(array_to_string(a.lw, ' '), '')) AS text_md5
    FROM documents d LEFT JOIN agg a USING (doc_id)
    ORDER BY d.doc_id
    """,
)
def dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr removal applied: the deduped corpus (kept-token count
    + content digest per doc), keep-first semantics at arbitrary
    offsets."""
    docs = spread(
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]), "doc_id"
    )
    return substring_rewrite_frame(docs, _SSTR_K)

# --- eval-set decontamination: per eval doc (source 'src2' stands in for
# the held-out benchmark), how many of its distinct trigram shingles occur
# anywhere in the train split (every other source).  The train grams
# explode to (hash) and aggregate to a distinct-gram set ONCE; the eval
# side is the small one — at 100 TB the eval grams broadcast and the train
# corpus streams past them a single time, never the reverse. ---
@query(
    "decontaminate_eval_overlap",
    oracle=f"""
    WITH {_GRAMS_CTE},
    eval_grams AS (
        SELECT g.doc_id, ug AS gram
        FROM grams g JOIN documents d USING (doc_id), unnest(g.gs) AS t(ug)
        WHERE d.source = 'src2'
    ),
    train_grams AS (
        SELECT DISTINCT ug AS gram
        FROM grams g JOIN documents d USING (doc_id), unnest(g.gs) AS t(ug)
        WHERE d.source <> 'src2'
    )
    SELECT doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated
    FROM eval_grams e LEFT JOIN train_grams t ON e.gram = t.gram
    GROUP BY doc_id
    HAVING sum(CASE WHEN t.gram IS NOT NULL THEN 1 ELSE 0 END) > 0
    ORDER BY doc_id
    """,
)
def decontaminate_eval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shingle pass for the whole corpus: the session-shared
    # hashed_grams table (8-byte shingle hashes; build cost benched as
    # dedup_shingle_index; it carries the per-doc source tag, so no
    # corpus-sized doc->source join is needed here).  The eval gram SET
    # is the small side: train grams stream past its broadcast (semi
    # join emits only collisions), so the wide data never shuffles and
    # the distinct runs on the collision set alone.
    grams = hashed_grams(spark, sf_dir)
    eval_grams = (
        grams.filter(F.col("source") == "src2").select("doc_id", F.explode("hs").alias("h"))
    )
    eval_gram_set = eval_grams.select("h").distinct()
    contaminated = (
        grams.filter(F.col("source") != "src2")
        .select(F.explode("hs").alias("h"))
        .join(F.broadcast(eval_gram_set), "h", "left_semi")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        eval_grams.join(F.broadcast(contaminated), "h", "left_outer")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0)).alias("n_contaminated"),
        )
        .filter(F.col("n_contaminated") > 0)
        .orderBy("doc_id")
    )


# --- duplicate-cluster resolution: per connected component keep the
# canonical document (longest, doc_id tie-break) — the step that turns a
# duplicate GRAPH into a keep/drop decision (SemDeDup-style cluster
# resolution).  Reuses the component labels; the per-component argmax is
# one max_by aggregation. ---
@query(
    "dedup_canonical_per_cluster",
    oracle=f"""
    WITH RECURSIVE {_GRAMS_CTE},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1, d2
        FROM cand
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT d1 AS s, d2 AS t FROM edges
        UNION ALL
        SELECT d2 AS s, d1 AS t FROM edges
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS node FROM documents
        UNION
        SELECT r.src, sym.t AS node FROM reach r JOIN sym ON sym.s = r.node
    ),
    comp AS (SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src),
    members AS (
        SELECT c.component, c.doc_id, d.n_chars
        FROM comp c JOIN documents d USING (doc_id)
    )
    SELECT component,
           CAST(count(*) AS BIGINT) AS n_members,
           max_by(doc_id, n_chars * 10000000000 - doc_id) AS canonical_doc,
           CAST(max(n_chars) AS BIGINT) AS canonical_chars
    FROM members
    GROUP BY component
    HAVING count(*) >= 2
    ORDER BY component
    """,
)
def dedup_canonical_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    comp = dedup_connected_components(spark, sf_dir)
    chars = load_table(spark, sf_dir, "documents", columns=["doc_id", "n_chars"])
    members = comp.join(chars, "doc_id")
    return (
        members.groupBy("component")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            # packed (n_chars, -doc_id) ordering: one exact BIGINT key,
            # because the oracle engine's max_by has no composite keys
            F.max_by("doc_id", F.col("n_chars") * F.lit(10000000000) - F.col("doc_id")).alias("canonical_doc"),
            F.max("n_chars").alias("canonical_chars"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("component")
    )


# --- Bloom-filter dedup prefilter: the constant-memory membership
# pre-check in front of exact dedup when a new batch lands against an
# already-deduped corpus (the 100 TB pattern: the full corpus fingerprint
# SET does not fit an executor, but m bits do).  Built entirely with
# DataFrame ops: k hash positions per index fingerprint -> word/mask ->
# one bit_or aggregation into a (m/64)-row bitmap that broadcasts;
# probing is a broadcast join + bit tests, no shuffle of either side
# beyond the tiny bitmap build.  Positions derive from the engine's
# portable sha256 family, so the oracle rebuilds the identical bitmap
# and the compare is exact (maybe_dup is deterministic — unlike opaque
# native bloom implementations).  k=5, m=2^17 -> fp rate ~(1-e^(-kn/m))^k
# ≈ 0.4% at n=2000 index docs. ---
_BLOOM_M = 131072
_BLOOM_K = 5


@query(
    "dedup_bloom_prefilter",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, source,
               md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g')) AS f
        FROM documents
    ),
    pos AS (
        SELECT doc_id, source,
               ('0x' || substr(sha256(f || '|' || j), 1, 15))::BIGINT % {_BLOOM_M} AS p
        FROM fp CROSS JOIN (SELECT unnest(range({_BLOOM_K})) AS j) s
    ),
    bitmap AS (
        -- 32-bit words: DuckDB's checked << overflows at bit 63
        SELECT p // 32 AS word, bit_or(1::BIGINT << CAST(p % 32 AS INT)) AS bits
        FROM pos WHERE source <> 'src0' GROUP BY 1
    )
    SELECT p.doc_id,
           min(CASE WHEN b.bits IS NOT NULL
                         AND ((b.bits >> CAST(p.p % 32 AS INT)) & 1) = 1
                    THEN 1 ELSE 0 END) = 1 AS maybe_dup
    FROM pos p LEFT JOIN bitmap b ON b.word = p.p // 32
    WHERE p.source = 'src0'
    GROUP BY 1 ORDER BY 1
    """,
)
def dedup_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    f = fingerprint(F.col("text"))

    def position(j: int):
        return F.pmod(seed_long(f, F.lit(str(j))), F.lit(_BLOOM_M))

    pos = docs.select(
        "doc_id", "source", F.explode(F.array(*[position(j) for j in range(_BLOOM_K)])).alias("p")
    )
    bitmap = (
        pos.filter(F.col("source") != "src0")
        .select((F.col("p") / 32).cast("long").alias("word"), (F.col("p") % 32).alias("bitpos"))
        .select("word", F.expr("shiftleft(CAST(1 AS BIGINT), CAST(bitpos AS INT))").alias("mask"))
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )
    probe = (
        pos.filter(F.col("source") == "src0")
        .select("doc_id", "p", (F.col("p") / 32).cast("long").alias("word"))
        .join(F.broadcast(bitmap), "word", "left")
        .select(
            "doc_id",
            F.when(
                F.col("bits").isNotNull()
                & (F.expr("(shiftright(bits, CAST(p % 32 AS INT)) & 1) = 1")),
                1,
            )
            .otherwise(0)
            .alias("present"),
        )
    )
    return (
        probe.groupBy("doc_id")
        .agg((F.min("present") == 1).alias("maybe_dup"))
        .orderBy("doc_id")
    )


# --- multimodal: aspect-preserving thumbnail resize over binary payloads
# (mmdata.media.resize_image's deterministic kernel).  Output dims use
# integer-rational scaling so both engines agree exactly; the payload
# checksum proves the bytes themselves round-trip through the Arrow
# batch.  DuckDB `//` is integer division like the kernel's numpy
# `//`. ---
@query(
    "multimodal_resize",
    oracle="""
    WITH media AS (
        SELECT doc_id, text,
               octet_length(encode(text)) AS n_bytes,
               64 + octet_length(encode(text)) % 577 AS w,
               64 + (octet_length(encode(text)) * 7) % 577 AS h
        FROM documents WHERE doc_id < 100
    ),
    sized AS (
        SELECT doc_id, text, n_bytes, w, h,
               CASE WHEN w <= 224 AND h <= 224 THEN w
                    WHEN w * 224 >= h * 224 THEN 224
                    ELSE (w * 224) // h END AS out_w,
               CASE WHEN w <= 224 AND h <= 224 THEN h
                    WHEN w * 224 >= h * 224 THEN (h * 224) // w
                    ELSE 224 END AS out_h
        FROM media
    )
    SELECT doc_id, out_w AS width, out_h AS height,
           (n_bytes * (out_w * out_h)) // (w * h) AS out_bytes,
           md5(substr(text, 1, CAST((n_bytes * (out_w * out_h)) // (w * h) AS INT)))
               AS payload_md5
    FROM sized
    ORDER BY doc_id
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.mmdata import build_media_table, resize_image

    docs = (
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        .filter(F.col("doc_id") < 100)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    media = build_media_table(docs, payload="payload", mime="image/png")
    out = resize_image(media)
    return out.select(
        "doc_id",
        "width",
        "height",
        F.length("payload").cast("bigint").alias("out_bytes"),
        F.md5("payload").alias("payload_md5"),
    ).orderBy("doc_id")


# --- multimodal perceptual-hash near-dup (VERDICT r6 next #6): the
# standard image-dedup step in multimodal corpus builds.  Each payload is
# fingerprinted by the Arrow-batched dHash kernel (mmdata.media.
# phash_image: a deterministic codepoint-grid kernel — integer-exact, so
# DuckDB replays the fingerprint bit-for-bit), then pairs are generated by the SimHash
# block-bucket pattern: 6 blocks of 10 bits — by pigeonhole any pair
# within Hamming distance 5 shares at least one block — with the EXACT
# chunk-capped self-join (chunked_self_pairs: cap^2 per-task bound, NO
# dropped pairs, so the exhaustive-oracle equality is structural, not
# probabilistic), and verified by exact Hamming distance.  The oracle
# does the full O(n^2) cross check (exhaustive at sf0.01), which also
# proves the block candidate generation misses nothing. ---
_PH_BITS = 60
_PH_BLOCK_BITS = 10  # 6 blocks of 10 bits: pigeonhole covers hamming <= 5
_PH_HAM_MAX = 5

#: fingerprint replay CTEs (no leading WITH) shared by the pair and
#: canonical oracles: codepoint stream -> 61 integer cell means ->
#: 60-bit gradient-sign fingerprint
_PHASH_FP_CTES = f"""
    cp AS MATERIALIZED (
        SELECT doc_id,
               list_transform(range(1, length(text) + 1),
                   j -> CAST(ord(substr(text, j, 1)) AS BIGINT)) AS cs
        FROM documents WHERE length(text) >= {_PH_BITS + 1}
    ),
    cells AS MATERIALIZED (
        SELECT doc_id,
               list_transform(range(0, {_PH_BITS + 1}), i ->
                   CAST(list_aggregate(
                       cs[(i * len(cs)) // {_PH_BITS + 1} + 1 :
                          ((i + 1) * len(cs)) // {_PH_BITS + 1}], 'sum') AS BIGINT)
                   // (((i + 1) * len(cs)) // {_PH_BITS + 1}
                       - (i * len(cs)) // {_PH_BITS + 1})) AS c
        FROM cp
    ),
    fp AS MATERIALIZED (
        SELECT doc_id,
               CAST(list_aggregate(list_transform(range(0, {_PH_BITS}), i ->
                   CASE WHEN c[i + 1] > c[i + 2]
                        THEN CAST(1 AS BIGINT) << i ELSE 0 END), 'sum') AS BIGINT)
                   AS ph
        FROM cells
    )
"""


@query(
    "multimodal_phash_neardup",
    oracle=f"""
    WITH {_PHASH_FP_CTES.strip()}
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.ph, b.ph)) AS INT) AS hamming
    FROM fp a JOIN fp b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.ph, b.ph)) <= {_PH_HAM_MAX}
    """,
)
def multimodal_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _phash_pairs_cached(spark, sf_dir)


#: ``phash_fingerprints`` and ``phash_pairs`` session artifacts:
#: checkpointed corpus fingerprints and verified near-dup pairs — THREE
#: queries build the identical Arrow dHash pass and blocked+verified pair
#: join (neardup, phash_canonical, the cross-modal canonical_full),
#: each previously re-running the UDF scan and the self-join with its own
#: checkpoints (r13, guide §1.2/§4).
#: bench.py purges BOTH on multimodal_phash_neardup, the family's first
#: bench line, so the full fingerprint+pair cost stays measured cold
#: there.  (phash_incremental_store fingerprints per ingest SLICE — a
#: different grain — and stays independent.)
@artifact("phash_fingerprints")
def _phash_fp_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, ph)`` corpus fingerprints: one Arrow pass, checkpointed
    so the bucket size-count and both candidate join sides read the
    narrow table instead of re-running the UDF per plan reference (the
    hashed_grams materialize-once contract)."""
    from columnflow_spark.mmdata import build_media_table, phash_image

    docs = (
        spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
        .filter(F.length("text") >= _PH_BITS + 1)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    media = build_media_table(docs, payload="payload", mime="image/png")
    return phash_image(media).transform(checkpoint_df)


@artifact("phash_pairs")
def _phash_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified ``(d1, d2, hamming)`` pairs over the cached fingerprints,
    checkpointed once per session: the canonical solves reference the
    edge list twice (symmetrize), and the pair join is the family's
    expensive step."""
    return phash_neardup_pairs(_phash_fp_cached(spark, sf_dir)).transform(
        checkpoint_df
    )


def phash_neardup_pairs(ph: DataFrame) -> DataFrame:
    """Blocked + verified near-dup pairs ``(d1, d2, hamming)`` for a
    ``(doc_id, ph)`` fingerprint table — shared by the registered query
    and the planted-copy recall test."""
    n_blocks = _PH_BITS // _PH_BLOCK_BITS
    mask = (1 << _PH_BLOCK_BITS) - 1
    blocks = F.array(
        *[
            F.shiftright(F.col("ph"), b * _PH_BLOCK_BITS).bitwiseAND(F.lit(mask))
            + F.lit(b << _PH_BLOCK_BITS)
            for b in range(n_blocks)
        ]
    )
    banded = ph.select("doc_id", "ph", F.explode(blocks).alias("bk"))
    pairs = chunked_self_pairs(banded, "bk", "doc_id", cap=LSH_BUCKET_CAP)
    ham = hamming64(F.col("ph"), F.col("ph_b"))
    return (
        pairs.filter(ham <= _PH_HAM_MAX)
        .select(
            F.col("doc_id").alias("d1"),
            F.col("doc_id_b").alias("d2"),
            ham.cast("int").alias("hamming"),
        )
        .dropDuplicates(["d1", "d2"])
    )


@query(
    "multimodal_phash_canonical",
    oracle=f"""
    WITH RECURSIVE {_PHASH_FP_CTES.strip()},
    edges AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ph, b.ph)) <= {_PH_HAM_MAX}
    ),
    sym AS (
        SELECT d1 AS s, d2 AS t FROM edges
        UNION ALL
        SELECT d2 AS s, d1 AS t FROM edges
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS node FROM documents
        UNION
        SELECT r.src, sym.t AS node FROM reach r JOIN sym ON sym.s = r.node
    )
    SELECT src AS doc_id, min(node) AS component,
           src = min(node) AS keep
    FROM reach GROUP BY src
    """,
)
def multimodal_phash_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal dedup DECISION, end to end: perceptual fingerprints
    -> blocked+verified near-dup pairs -> connected components -> keep
    exactly the lowest-id member of every visual duplicate cluster
    (docs without a fingerprint, or with no near-dup, are identity
    singletons and kept).  Composes :func:`phash_neardup_pairs` with the
    shared cluster solve (:func:`components_from_edges`) — the same
    fingerprint/pair/cluster/keep chain ``dedup_connected_components``
    runs for text, applied to the media payload axis."""
    all_docs = load_table(spark, sf_dir, "documents", columns=["doc_id"])
    edges = _phash_pairs_cached(spark, sf_dir).select("d1", "d2")
    comp = components_from_edges(all_docs, edges)
    return comp.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
    )


# --- cross-modal canonical selection (VERDICT r7 next #7): a real
# multimodal corpus build keeps ONE representative per cluster across
# BOTH the text near-dup graph and the visual (perceptual-hash)
# near-dup graph — two docs are duplicates if they are connected
# through ANY chain of text-Jaccard or visual-Hamming edges.  Composes
# the two existing exact pair generators (prefix-filtered n-gram
# Jaccard, pigeonhole-blocked dHash) with the shared cluster solve over
# the UNIONED edge set; each edge family's work stays bounded by its
# own duplicate volume, and the union adds nothing corpus-sized. ---
@query(
    "multimodal_canonical_full",
    oracle=f"""
    WITH RECURSIVE {_GRAMS_CTE}, {_PHASH_FP_CTES},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    tcand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    tedges AS (
        SELECT d1, d2 FROM tcand
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    ),
    vedges AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2
        FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.ph, b.ph)) <= {_PH_HAM_MAX}
    ),
    alledges AS (
        SELECT d1, d2 FROM tedges UNION SELECT d1, d2 FROM vedges
    ),
    sym AS (
        SELECT d1 AS s, d2 AS t FROM alledges
        UNION ALL
        SELECT d2 AS s, d1 AS t FROM alledges
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS node FROM documents
        UNION
        SELECT r.src, sym.t AS node FROM reach r JOIN sym ON sym.s = r.node
    )
    SELECT src AS doc_id, min(node) AS component,
           src = min(node) AS keep
    FROM reach GROUP BY src
    """,
)
def multimodal_canonical_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep set across BOTH modalities: text n-gram-Jaccard edges
    unioned with visual perceptual-hash edges, one connected-components
    solve, keep the lowest-id member of every cross-modal cluster."""
    all_docs = load_table(spark, sf_dir, "documents", columns=["doc_id"])
    # both edge families are session-checkpointed artifacts; the union
    # is a cheap scan of the two narrow checkpoints per action, and
    # dropDuplicates because a pair can be both a text AND a visual
    # duplicate
    tedges = _jaccard_edges_cached(spark, sf_dir)
    vedges = _phash_pairs_cached(spark, sf_dir).select("d1", "d2")
    edges = tedges.union(vedges).dropDuplicates(["d1", "d2"]).transform(checkpoint_df)
    comp = components_from_edges(all_docs, edges)
    return comp.select(
        "doc_id",
        "component",
        (F.col("doc_id") == F.col("component")).alias("keep"),
    )


# --- winnowing fingerprint selection (Schleimer-Wilkerson-Aiken 2003,
# the MOSS local fingerprinting algorithm; public paper): slide a window
# of w consecutive k-gram hashes and select each window's minimum —
# rightmost on ties — deduping repeated selections.  Winnowing guarantees
# any shared substring of length >= w + k - 1 yields a shared
# fingerprint, with far fewer fingerprints than full shingling; it is
# the standard accuracy/size trade for plagiarism-style span matching.
# Entirely in-row (one corpus scan, zero shuffle); gram hashes use the
# sha256->long primitive both engines share, so selection decisions are
# engine-exact. ---
_WINNOW_K = 3
_WINNOW_W = 4


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    hs AS (
        SELECT doc_id,
               [ ('0x' || substr(sha256(array_to_string(ts[i:i + {_WINNOW_K - 1}], ' ')), 1, 15))::BIGINT
                 FOR i IN range(1, len(ts) - {_WINNOW_K - 2}) ] AS h
        FROM toks WHERE len(ts) >= {_WINNOW_K}
    ),
    sel AS (
        SELECT doc_id,
               list_distinct([
                   CAST(list_max([ i + j FOR j IN range({_WINNOW_W})
                                   IF h[i + j] = list_min(h[i:i + {_WINNOW_W - 1}]) ]) AS VARCHAR)
                   || ':' || CAST(list_min(h[i:i + {_WINNOW_W - 1}]) AS VARCHAR)
                   FOR i IN range(1, len(h) - {_WINNOW_W - 2})
               ]) AS sels,
               [ list_min(h[i:i + {_WINNOW_W - 1}])
                 FOR i IN range(1, len(h) - {_WINNOW_W - 2}) ] AS mins
        FROM hs WHERE len(h) >= {_WINNOW_W}
    )
    SELECT doc_id,
           CAST(len(sels) AS BIGINT) AS n_fingerprints,
           list_min(mins) AS min_fp,
           list_max(mins) AS max_fp
    FROM sel
    ORDER BY doc_id
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    ts = tokens(F.col("text"))
    k, w = _WINNOW_K, _WINNOW_W
    # ordered (positional) k-gram hash sequence — winnowing is positional,
    # unlike the distinct shingle sets of the dedup family
    grams = F.transform(
        F.sequence(F.lit(1), F.size(ts) - (k - 1)),
        lambda i: F.concat_ws(" ", F.slice(ts, i, k)),
    )
    h = F.transform(grams, lambda g: seed_long(g))
    docs = docs.filter(F.size(ts) >= k).select("doc_id", h.alias("h"))
    n = F.size("h")
    win_min = lambda i: F.array_min(F.slice("h", i, w))  # noqa: E731
    sel_str = F.transform(
        F.sequence(F.lit(1), n - (w - 1)),
        lambda i: F.concat_ws(
            ":",
            F.array_max(
                F.filter(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(w - 1)),
                        lambda j: F.when(
                            F.element_at("h", (i + j).cast("int")) == win_min(i), i + j
                        ).otherwise(F.lit(-1)),
                    ),
                    lambda x: x >= 0,
                )
            ),
            win_min(i),
        ),
    )
    mins = F.transform(F.sequence(F.lit(1), n - (w - 1)), lambda i: win_min(i))
    return (
        docs.filter(n >= w)
        .select(
            "doc_id",
            F.size(F.array_distinct(sel_str)).cast("long").alias("n_fingerprints"),
            F.array_min(mins).alias("min_fp"),
            F.array_max(mins).alias("max_fp"),
        )
        .orderBy("doc_id")
    )


# --- incremental corpus maintenance: snapshot delta detection
# (functions/delta.py).  Two deterministic snapshot views of the corpus
# (simulating yesterday's and today's crawl: some docs removed, some
# added, some re-crawled with changed content) full-outer-joined on the
# key with md5 fingerprints -> added/removed/changed/unchanged counts —
# the decision input for incremental re-processing. ---
@query(
    "corpus_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 8 = 1 THEN 'v1 ' || text ELSE text END) AS fp
        FROM documents WHERE doc_id % 4 <> 3
    ),
    new AS (
        SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 4 <> 2
    )
    SELECT change_type, CAST(count(*) AS BIGINT) AS n_docs
    FROM (
        SELECT CASE
            WHEN old.fp IS NULL THEN 'added'
            WHEN new.fp IS NULL THEN 'removed'
            WHEN old.fp <> new.fp THEN 'changed'
            ELSE 'unchanged' END AS change_type
        FROM old FULL OUTER JOIN new USING (doc_id)
    )
    GROUP BY change_type
    ORDER BY change_type
    """,
)
def corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.functions.delta import snapshot_diff

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    old = docs.filter(F.col("doc_id") % 4 != 3).select(
        "doc_id",
        F.md5(
            F.when(F.col("doc_id") % 8 == 1, F.concat(F.lit("v1 "), F.col("text")))
            .otherwise(F.col("text"))
        ).alias("fp"),
    )
    new = docs.filter(F.col("doc_id") % 4 != 2).select("doc_id", F.md5("text").alias("fp"))
    return (
        snapshot_diff(old, new, ["doc_id"], "fp")
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("change_type")
    )


# --- fuzzy decontamination (MinHash): exact n-gram decontamination
# (decontaminate_eval_overlap) catches verbatim leakage; PARAPHRASED eval
# leakage needs near-duplicate matching between the train split and the
# eval split.  Same machinery as dedup_minhash_lsh — session signature
# table, band keys, exact-Jaccard verify — but the candidate join is
# train x eval: the eval side is small by construction (the exact
# decontamination contract), so its banded keys BROADCAST and the train
# corpus streams past them once; candidate volume is collision volume,
# never |train| x |eval|.  The same 16x2 band guarantee applies (P_miss
# ~ 1e-27 at the planted j≈0.99), so the oracle is the exact cross-split
# Jaccard. ---
@query(
    "decontaminate_fuzzy_minhash",
    oracle=f"""
    WITH {_GRAMS_CTE},
    ex AS (
        SELECT g.doc_id, d.source, ug AS gr
        FROM grams g JOIN documents d USING (doc_id), unnest(g.gs) AS t(ug)
    ),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    pairs AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.gr = b.gr
        WHERE a.source <> 'src2' AND b.source = 'src2'
        GROUP BY 1, 2
    ),
    jac AS (
        SELECT d1, d2,
               CAST(round(common * 10000.0 / (s1.sz + s2.sz - common)) AS BIGINT) AS jq
        FROM pairs
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    )
    SELECT d1 AS doc_id,
           CAST(max(jq) AS BIGINT) AS max_jq,
           min_by(d2, -jq * 10000000000 + d2) AS best_eval_id,
           CAST(count(*) AS BIGINT) AS n_eval_matches
    FROM jac GROUP BY d1 ORDER BY doc_id
    """,
)
def decontaminate_fuzzy_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train docs that are NEAR-duplicates of an eval doc (Jaccard >=
    threshold on word trigrams): per flagged train doc, the best eval
    match (max Jaccard on the 1e-4 integer grid, lowest eval id on ties)
    and the match count."""
    g = hashed_grams(spark, sf_dir)
    sigs = minhash_sigs(spark, sf_dir).join(
        g.select("doc_id", "source"), "doc_id"
    )
    banded = sigs.select(
        "doc_id",
        "source",
        F.explode(F.array(*lsh_band_keys(F.col("sig"), bands=16, rows=2))).alias("bk"),
    )
    beval = banded.filter(F.col("source") == "src2").select(
        F.col("doc_id").alias("d2"), "bk"
    )
    btrain = banded.filter(F.col("source") != "src2").select(
        F.col("doc_id").alias("d1"), "bk"
    )
    cand = (
        btrain.join(F.broadcast(beval), "bk")
        .select("d1", "d2")
        .dropDuplicates(["d1", "d2"])
    )
    gs1 = g.select(F.col("doc_id").alias("d1"), F.col("hs").alias("hs1"), F.col("sz").alias("sz1"))
    gs2 = g.select(F.col("doc_id").alias("d2"), F.col("hs").alias("hs2"), F.col("sz").alias("sz2"))
    pairs = cand.join(gs1, "d1").join(gs2, "d2")
    common = F.size(F.array_intersect("hs1", "hs2")).cast("long")
    denom = F.col("sz1").cast("long") + F.col("sz2") - common
    verified = (
        pairs.withColumn("common", common)
        .withColumn("denom", denom)
        .filter(F.col("common") * F.lit(1.0) / F.col("denom") >= F.lit(JACCARD_THRESHOLD))
        .select(
            "d1",
            "d2",
            F.round(F.col("common") * F.lit(10000.0) / F.col("denom"), 0)
            .cast("long")
            .alias("jq"),
        )
    )
    return (
        verified.groupBy(F.col("d1").alias("doc_id"))
        .agg(
            F.max("jq").cast("long").alias("max_jq"),
            F.min_by("d2", -F.col("jq") * F.lit(10_000_000_000) + F.col("d2")).alias(
                "best_eval_id"
            ),
            F.count(F.lit(1)).cast("long").alias("n_eval_matches"),
        )
        .orderBy("doc_id")
    )


# --- URL/domain-grain dedup + domain rollups (VERDICT r8 next #2): the
# FIRST stage of every CC-derived pretraining pipeline (CCNet / FineWeb
# dedupe by normalized URL before any content pass, then drop
# blocklisted domains and keep per-domain stats for mixture decisions).
# The documents table carries no URL, so a deterministic synthetic URL
# derives from (source, doc_id) IN THE QUERY (testgen is read-only):
# three docs per 60-id block share a source and a path but carry
# different raw-URL noise (scheme/case/www, trailing slash + tracking
# query, http + fragment), so the keep-first decision genuinely
# requires normalization.  Normalization is pure in-row string ops
# (lowercase, scheme strip, www strip, query/fragment strip, trailing
# slash strip — native fns, whole-stage codegen); the ONLY shuffle in
# the dedup is the url_norm-keyed window, and the rollups ride a
# domain-keyed aggregate.  At 100 TB this is the cheapest pass in the
# funnel: one narrow shuffle of (doc_id, url_norm). ---
_URL_CTES = r"""
    u AS (
        SELECT doc_id, source, lang, n_chars,
               CASE CAST(doc_id % 3 AS INT)
                 WHEN 0 THEN 'HTTPS://WWW.' || upper(source)
                      || '.Example.com/art/' || CAST(doc_id // 60 AS VARCHAR)
                 WHEN 1 THEN 'https://' || source || '.example.com/art/'
                      || CAST(doc_id // 60 AS VARCHAR) || '/?utm_source=feed'
                 ELSE 'http://' || source || '.example.com/art/'
                      || CAST(doc_id // 60 AS VARCHAR) || '#frag'
               END AS url
        FROM documents
    ),
    nrm AS (
        SELECT doc_id, source, lang, n_chars,
               regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   lower(url), '^https?://', ''), '^www\.', ''),
                   '[?#].*$', ''), '/$', '') AS url_norm
        FROM u
    )"""

#: fixed domain blocklist for the filter op (a real list is ~1M rows and
#: ships exactly the same way: a broadcast anti-join — or its bloom form)
_URL_BLOCKLIST = ("src3.example.com", "src7.example.com", "src11.example.com",
                  "src19.example.com")


def synthetic_urls(docs: DataFrame) -> DataFrame:
    """Attach the deterministic synthetic ``url`` column (see the module
    comment) to a ``(doc_id, source, ...)`` frame."""
    g = F.expr("CAST(doc_id div 60 AS STRING)")
    url = (
        F.when(
            (F.col("doc_id") % 3) == 0,
            F.concat(
                F.lit("HTTPS://WWW."), F.upper("source"),
                F.lit(".Example.com/art/"), g,
            ),
        )
        .when(
            (F.col("doc_id") % 3) == 1,
            F.concat(
                F.lit("https://"), F.col("source"), F.lit(".example.com/art/"),
                g, F.lit("/?utm_source=feed"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("http://"), F.col("source"), F.lit(".example.com/art/"),
                g, F.lit("#frag"),
            )
        )
    )
    return docs.withColumn("url", url)


def normalize_url(col) -> F.Column:
    """Canonical URL normalization (CCNet/FineWeb style): lowercase,
    drop scheme, drop a leading ``www.``, drop query + fragment, drop a
    trailing slash.  Pure in-row regex chain — identical semantics in
    Spark (Java regex) and the DuckDB oracle (RE2) for these anchored
    patterns."""
    n = F.lower(col)
    n = F.regexp_replace(n, "^https?://", "")
    n = F.regexp_replace(n, r"^www\.", "")
    n = F.regexp_replace(n, "[?#].*$", "")
    return F.regexp_replace(n, "/$", "")


def _url_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(
        spark, sf_dir, "documents", columns=["doc_id", "source", "lang", "n_chars"]
    )
    return synthetic_urls(docs).withColumn("url_norm", normalize_url(F.col("url")))


@query(
    "url_dedup_keep_first",
    oracle=f"""
    WITH {_URL_CTES}
    SELECT doc_id, url_norm,
           min(doc_id) OVER (PARTITION BY url_norm) = doc_id AS keep
    FROM nrm
    """,
)
def url_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-grain exact dedup, keep-first per NORMALIZED url: the
    cheapest and first dedup pass of a crawl pipeline.  One narrow
    url_norm-keyed shuffle; corpus-grain output, order-insensitive
    compare (no presentation sort)."""
    nrm = _url_frame(spark, sf_dir)
    keep = F.min("doc_id").over(W.partitionBy("url_norm")) == F.col("doc_id")
    return nrm.select("doc_id", "url_norm", keep.alias("keep"))


@query(
    "domain_stats_rollup",
    oracle=f"""
    WITH {_URL_CTES},
    k AS (
        SELECT doc_id, source, lang, n_chars, url_norm,
               split_part(url_norm, '/', 1) AS domain,
               min(doc_id) OVER (PARTITION BY url_norm) = doc_id AS keep
        FROM nrm
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT url_norm) AS BIGINT) AS n_urls,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS kept_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs
    FROM k GROUP BY domain ORDER BY domain
    """,
)
def domain_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain crawl statistics (the FineWeb dataset-card rollup):
    doc and distinct-URL counts, post-URL-dedup survivors, char volume,
    language spread.  The url_norm window and the domain aggregate are
    the only shuffles; the domain table is catalog-sized output."""
    nrm = _url_frame(spark, sf_dir)
    k = nrm.select(
        "lang",
        "n_chars",
        "url_norm",
        F.substring_index("url_norm", "/", 1).alias("domain"),
        (F.min("doc_id").over(W.partitionBy("url_norm")) == F.col("doc_id")).alias(
            "keep"
        ),
    )
    return (
        k.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.countDistinct("url_norm").cast("long").alias("n_urls"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("long").alias("kept_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .orderBy("domain")
    )


@query(
    "domain_blocklist_filter",
    oracle=f"""
    WITH {_URL_CTES},
    d AS (
        SELECT doc_id, n_chars, split_part(url_norm, '/', 1) AS domain
        FROM nrm
    )
    SELECT domain,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM d
    WHERE domain NOT IN {tuple(_URL_BLOCKLIST)!r}
    GROUP BY domain ORDER BY domain
    """,
)
def domain_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist anti-join at domain grain: surviving per-domain volume
    after dropping listed domains.  The list ships as a broadcast
    anti-join — the shape a real ~1M-domain blocklist (or its bloom
    form) uses; a literal IN-filter would not survive list scale."""
    spark_bl = local_frame(spark, [(d,) for d in _URL_BLOCKLIST], "domain string")
    nrm = _url_frame(spark, sf_dir)
    d = nrm.select(
        "n_chars", F.substring_index("url_norm", "/", 1).alias("domain")
    ).join(F.broadcast(spark_bl), "domain", "left_anti")
    return (
        d.groupBy("domain")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .orderBy("domain")
    )


# --- bulk segment (line-level) dedup: the CCNet/FineWeb pipeline stage
# the run-level ExactSubstr family deliberately does not cover — drop
# from EVERY document (including the first) any fixed-width token
# segment whose exact text occurs in >= N distinct documents
# (boilerplate: headers, navigation, license blurbs).  The synthetic
# corpus has no newlines, so the "line" is a fixed S-token window —
# the same grain doc_chunk_overlap uses.
_BP_SEG_TOKENS = 8
_BP_MIN_DOCS = 2  # CCNet removes lines duplicated across >= 2 shards


@query(
    "boilerplate_segment_removal",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
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
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_seg,
           CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_seg_kept,
           CAST(coalesce(sum(ntok) FILTER (WHERE kept), 0) AS BIGINT) AS n_tokens_kept,
           md5(coalesce(string_agg(seg_text, ' ' ORDER BY seg_idx)
                        FILTER (WHERE kept), '')) AS sig
    FROM flagged GROUP BY doc_id
    """,
)
def boilerplate_segment_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide bulk-segment removal: per-doc survivor stats + an
    md5 digest of the rebuilt text (the rewrite equality shape of
    dedup_substring_rewrite).

    Plan shape: segmentation is PURE IN-ROW (one transform over the
    token array — no explode shuffle to form segments); the only
    segment-grain shuffles are the distinct-doc count per segment text
    (map-side combinable after the in-partition (seg_text, doc_id)
    dedup) and the count join back; the rebuild is one doc-keyed
    aggregate.  Work is proportional to corpus segments — the FineWeb
    line-dedup cost envelope — never a doc-pair join."""
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    segs = segment_docs(docs)
    cnt = segs.groupBy("seg_text").agg(F.countDistinct("doc_id").alias("nd"))
    flagged = segs.join(cnt, "seg_text").withColumn(
        "kept", F.col("nd") < _BP_MIN_DOCS
    )
    return bp_doc_rollup(flagged)


def segment_docs(docs: DataFrame) -> DataFrame:
    """``(doc_id, seg_idx, seg_text, ntok)`` fixed-width token segments
    for a ``(doc_id, text, …)`` frame — pure in-row segmentation (one
    transform over the token array; no shuffle to form segments).
    Shared by the batch removal pass and the incremental segment-count
    store (queries/dedupstore.py)."""
    return segment_docs_width(docs, _BP_SEG_TOKENS)


def bp_doc_rollup(flagged: DataFrame) -> DataFrame:
    """Per-doc survivor rollup for a segmented frame carrying a ``kept``
    flag: counts + the md5 digest of the rebuilt (kept-only) text."""
    kept_struct = F.when(F.col("kept"), F.struct("seg_idx", "seg_text"))
    return flagged.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_seg"),
        F.sum(F.col("kept").cast("long")).cast("long").alias("n_seg_kept"),
        F.coalesce(
            F.sum(F.when(F.col("kept"), F.col("ntok"))), F.lit(0)
        ).cast("long").alias("n_tokens_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s["seg_text"],
                ),
                " ",
            )
        ).alias("sig"),
    )


# --- leakage-safe train/test split: assign every NEAR-DUP CLUSTER
# wholly to one side (split by the cluster's canonical id, not the doc
# id), so a paraphrase of a test document can never land in train — the
# eval-hygiene rule naive doc-hash splits violate (Lee et al. 2022 §6;
# the reason decontamination pipelines split AFTER dedup).  Reuses the
# n-gram-Jaccard component solve; the split decision is one sha256 of
# the component id.
_SPLIT_TEST_MOD = 10
_SPLIT_TEST_REM = 2  # hash % 10 < 2 -> ~20% test


@query(
    "leakage_safe_split",
    oracle=f"""
    WITH RECURSIVE {_GRAMS_CTE},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1, d2
        FROM cand
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT d1 AS s, d2 AS t FROM edges
        UNION ALL
        SELECT d2 AS s, d1 AS t FROM edges
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS node FROM documents
        UNION
        SELECT r.src, sym.t AS node FROM reach r JOIN sym ON sym.s = r.node
    ),
    comp AS (
        SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src
    )
    SELECT doc_id, component,
           CASE WHEN ('0x' || substr(sha256(component::VARCHAR), 1, 15))::BIGINT
                     % {_SPLIT_TEST_MOD} < {_SPLIT_TEST_REM}
                THEN 'test' ELSE 'train' END AS split
    FROM comp
    """,
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, component, split)`` — a dedup-aware holdout split:
    the component id (not the doc id) hashes to the side, so connected
    near-dups always co-locate.  Plan: the component solve plus one
    in-row hash — no extra shuffle."""

    all_docs = load_table(spark, sf_dir, "documents", columns=["doc_id"])
    edges = _jaccard_edges_cached(spark, sf_dir)
    comp = components_from_edges(all_docs, edges)
    return comp.select(
        "doc_id",
        "component",
        F.when(
            F.pmod(seed_long(F.col("component")), F.lit(_SPLIT_TEST_MOD))
            < _SPLIT_TEST_REM,
            F.lit("test"),
        )
        .otherwise(F.lit("train"))
        .alias("split"),
    )


# --- dedup observability: cluster-size distribution + per-source
# duplication factors.  Every production dedup run ships this report
# (it is how FineWeb/Dolma card their duplication rates) — and it is
# the cheap sanity check that catches a broken band config (cluster
# sizes collapse to 1) or a degenerate corpus (one giant cluster).
@query(
    "dedup_cluster_stats",
    oracle=f"""
    WITH RECURSIVE {_GRAMS_CTE},
    ex AS (SELECT doc_id, unnest(gs) AS g FROM grams),
    sizes AS (SELECT doc_id, len(gs) AS sz FROM grams),
    cand AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    edges AS (
        SELECT d1, d2 FROM cand
        JOIN sizes s1 ON s1.doc_id = d1
        JOIN sizes s2 ON s2.doc_id = d2
        WHERE common * 1.0 / (s1.sz + s2.sz - common) >= {JACCARD_THRESHOLD}
    ),
    sym AS (
        SELECT d1 AS s, d2 AS t FROM edges
        UNION ALL SELECT d2, d1 FROM edges
    ),
    reach AS (
        SELECT doc_id AS src, doc_id AS node FROM documents
        UNION
        SELECT r.src, sym.t FROM reach r JOIN sym ON sym.s = r.node
    ),
    comp AS (SELECT src AS doc_id, min(node) AS component FROM reach GROUP BY src),
    csize AS (
        SELECT component, count(*) AS sz FROM comp GROUP BY component
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(sz) AS BIGINT) AS n_docs,
           CAST(sum(sz - 1) AS BIGINT) AS n_removable
    FROM csize GROUP BY sz ORDER BY sz
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size histogram: ``(cluster_size, n_clusters,
    n_docs, n_removable)`` — n_removable sums what keep-one-per-cluster
    deletes.  Catalog-sized output; the only cost is the shared
    component solve."""
    all_docs = load_table(spark, sf_dir, "documents", columns=["doc_id"])
    edges = _jaccard_edges_cached(spark, sf_dir)
    comp = components_from_edges(all_docs, edges)
    csize = comp.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    return (
        csize.groupBy(F.col("sz").cast("long").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.sum(F.col("sz") - 1).cast("long").alias("n_removable"),
        )
        .orderBy("cluster_size")
    )
