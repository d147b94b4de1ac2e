"""Tokenization and language-model operators.

Token counting, BPE / unigram-LM (SentencePiece-style) / WordPiece
training and encoding, fertility, collocation mining, Count-Min heavy
hitters, sequence packing (concat-and-chunk, size-class bins),
overlapping chunking, T5 span corruption, fill-in-the-middle, and
unigram / bigram / interpolated-trigram LM scoring with CCNet perplexity
bucketing.  Session artifacts: ``bpe_merges``, ``unigram_vocab`` and
``wordpiece_merges``.  Persisted store: the trained unigram vocab
(``store_path`` kind ``ulm_vocab``, :func:`build_unigram_vocab_store`).
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnflow_spark.core.artifacts import artifact
from columnflow_spark.core.state import checkpoint_df
from columnflow_spark.functions.hashing import seed_long
from columnflow_spark.functions.text import bpe_ish_token_count, n_tokens, tokens
from columnflow_spark.queries import query
from columnflow_spark.sources import load_table, spread
from columnflow_spark.sources.sinks import ensure_store, local_frame, store_path


# --- token counting (whitespace + BPE-ish subword proxy) ---
@query(
    "token_counts",
    oracle="""
    WITH t AS (
        SELECT source, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents
    )
    SELECT source,
           CAST(sum(len(ts)) AS BIGINT) AS whitespace_tokens,
           CAST(sum(list_aggregate(list_transform(ts, x -> CAST(ceil(length(x) / 4.0) AS INT)), 'sum')) AS BIGINT) AS bpe_ish_tokens
    FROM t
    GROUP BY source
    """,
)
def token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["source", "text"])
    t = F.col("text")
    return docs.groupBy("source").agg(
        F.sum(n_tokens(t)).alias("whitespace_tokens"),
        F.sum(bpe_ish_token_count(t)).alias("bpe_ish_tokens"),
    )


# --- sequence packing (concat-and-chunk): the LLM-pretraining step that
# concatenates the corpus in a canonical order and cuts fixed token-budget
# chunks, mapping every doc to its chunk span.  The core is an EXACT
# global prefix sum over doc order, computed distributed in two phases:
# (1) per-coarse-group token subtotals (one narrow groupBy), (2) running
# offsets over the tiny group table, broadcast-joined back, (3) in-group
# running sums via a window PARTITIONED by group — no global
# single-partition window anywhere, so the same plan runs on a 100 TB
# corpus (recurse phase 2 if even the group table outgrows one node). ---
_PACK_BUDGET = 256  # tokens per packed sequence
_PACK_GROUP = 64    # docs per coarse prefix-sum group

@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, n_tok,
               sum(n_tok) OVER (ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM toks WHERE n_tok > 0
    )
    SELECT
        doc_id,
        n_tok,
        CAST((cum - n_tok) // {_PACK_BUDGET} AS BIGINT) AS chunk_start,
        CAST((cum - 1) // {_PACK_BUDGET} AS BIGINT) AS chunk_end,
        CAST((cum - 1) // {_PACK_BUDGET} - (cum - n_tok) // {_PACK_BUDGET} + 1 AS BIGINT) AS n_chunks
    FROM c
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    toks = (
        docs.select("doc_id", n_tokens(F.col("text")).alias("n_tok"))
        .filter(F.col("n_tok") > 0)
        .withColumn("grp", (F.col("doc_id") / _PACK_GROUP).cast("long"))
    )
    # phase 1: coarse subtotals (rows = n_docs / _PACK_GROUP)
    partials = toks.groupBy("grp").agg(F.sum("n_tok").alias("grp_tok"))
    # phase 2: running offset per group over the tiny partials table; its
    # window is per-group-count sized, not corpus sized
    w_off = W.orderBy("grp").rowsBetween(W.unboundedPreceding, -1)
    offsets = partials.select(
        "grp", F.coalesce(F.sum("grp_tok").over(w_off), F.lit(0)).alias("offset")
    )
    # phase 3: in-group running sum, partitioned window (scales out)
    w_in = W.partitionBy("grp").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    cum = (
        toks.join(F.broadcast(offsets), "grp")
        .withColumn("cum", F.col("offset") + F.sum("n_tok").over(w_in))
    )
    start_chunk = F.floor((F.col("cum") - F.col("n_tok")) / _PACK_BUDGET)
    end_chunk = F.floor((F.col("cum") - 1) / _PACK_BUDGET)
    return cum.select(
        "doc_id",
        "n_tok",
        start_chunk.alias("chunk_start"),
        end_chunk.alias("chunk_end"),
        (end_chunk - start_chunk + 1).alias("n_chunks"),
    )


# --- boundary-preserving sequence packing (VERDICT r6 next #7):
# concat-and-chunk (pack_sequences above) splits documents across
# training sequences; real pretraining pipelines avoid cross-doc splits
# with a bin-packing form.  True first-fit-decreasing is inherently
# sequential, so this is the DISTRIBUTED closed-form relative real
# pipelines use: harmonic size-class packing.  Docs fall into class
# k = BUDGET div n_tok (exactly the k docs of class k fit one bin:
# n_tok <= BUDGET/k by construction), and within a class the p-th doc
# (doc_id order) lands in bin p div k — a pure rank computation with NO
# sequential bin state, replayable in SQL, and with a provable
# utilization floor: every full class-k bin holds > k·B/(k+1) >= B/2
# tokens.  No document is ever split; oversized docs (n_tok > BUDGET,
# class 0) each get their own bin.  The rank uses the same two-phase
# group-prefix-sum as pack_sequences, so no window ever sees more than a
# bounded (class, group) slice — the shuffle is (class, group)-keyed. ---
@query(
    "pack_sequences_bestfit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
        FROM documents
    ),
    cls AS (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok > {_PACK_BUDGET} THEN 0
                    ELSE {_PACK_BUDGET} // n_tok END AS k
        FROM toks WHERE n_tok > 0
    ),
    r AS (
        SELECT doc_id, n_tok, k,
               row_number() OVER (PARTITION BY k ORDER BY doc_id) - 1 AS p
        FROM cls
    )
    SELECT doc_id, n_tok, CAST(k AS INT) AS size_class,
           CAST(CASE WHEN k = 0 THEN -(p + 1)
                     ELSE k * 1000000000 + p // k END AS BIGINT) AS bin_id
    FROM r
    """,
)
def pack_sequences_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    toks = (
        docs.select("doc_id", n_tokens(F.col("text")).alias("n_tok"))
        .filter(F.col("n_tok") > 0)
        .withColumn(
            "k",
            F.when(F.col("n_tok") > _PACK_BUDGET, F.lit(0)).otherwise(
                F.expr(f"{_PACK_BUDGET} div n_tok")
            ).cast("long"),
        )
        .withColumn("grp", (F.col("doc_id") / _PACK_GROUP).cast("long"))
    )
    # two-phase within-class rank (the pack_sequences prefix-sum shape):
    # per-(class, group) counts -> per-class running offsets over the
    # tiny partials table -> in-group rank under a bounded window
    partials = toks.groupBy("k", "grp").agg(F.count(F.lit(1)).alias("cnt"))
    w_off = W.partitionBy("k").orderBy("grp").rowsBetween(W.unboundedPreceding, -1)
    offsets = partials.select(
        "k", "grp", F.coalesce(F.sum("cnt").over(w_off), F.lit(0)).alias("offset")
    )
    w_in = W.partitionBy("k", "grp").orderBy("doc_id")
    ranked = (
        toks.join(F.broadcast(offsets), ["k", "grp"])
        .withColumn("p", F.col("offset") + F.row_number().over(w_in) - 1)
    )
    bin_id = F.when(F.col("k") == 0, -(F.col("p") + 1)).otherwise(
        F.col("k") * F.lit(1_000_000_000) + F.expr("p div k")
    )
    return ranked.select(
        "doc_id",
        "n_tok",
        F.col("k").cast("int").alias("size_class"),
        bin_id.cast("long").alias("bin_id"),
    )


# --- the consumable form of the packing: one row per BIN with its
# ordered member list, fill and headroom — what a sequence-building data
# loader actually reads.  Same assignment as pack_sequences_bestfit
# (shared semantics proven by both oracles), rolled up by one bin-keyed
# aggregation; members are emitted as a comma-joined ordered id string
# (deterministic on both engines). ---
@query(
    "pack_bins_emit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok
        FROM documents
    ),
    cls AS (
        SELECT doc_id, n_tok,
               CASE WHEN n_tok > {_PACK_BUDGET} THEN 0
                    ELSE {_PACK_BUDGET} // n_tok END AS k
        FROM toks WHERE n_tok > 0
    ),
    r AS (
        SELECT doc_id, n_tok, k,
               row_number() OVER (PARTITION BY k ORDER BY doc_id) - 1 AS p
        FROM cls
    ),
    b AS (
        SELECT doc_id, n_tok, k,
               CASE WHEN k = 0 THEN -(p + 1)
                    ELSE k * 1000000000 + p // k END AS bin_id
        FROM r
    )
    SELECT CAST(bin_id AS BIGINT) AS bin_id,
           CAST(max(k) AS INT) AS size_class,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS fill,
           CAST(greatest({_PACK_BUDGET} - sum(n_tok), 0) AS BIGINT) AS headroom,
           string_agg(doc_id, ',' ORDER BY doc_id) AS doc_ids
    FROM b GROUP BY bin_id
    """,
)
def pack_bins_emit(spark: SparkSession, sf_dir: str) -> DataFrame:
    assign = pack_sequences_bestfit.__wrapped__(spark, sf_dir)
    return assign.groupBy("bin_id").agg(
        F.max("size_class").cast("int").alias("size_class"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("fill"),
        F.greatest(F.lit(_PACK_BUDGET) - F.sum("n_tok"), F.lit(0))
        .cast("long")
        .alias("headroom"),
        F.concat_ws(",", F.sort_array(F.collect_list("doc_id"))).alias("doc_ids"),
    )


# --- collocation mining: top adjacent-bigram collocations by exact
# integer LIFT = P(w1 w2) / (P(w1) P(w2)).  Lift orders identically to
# PMI (log is monotone) but needs no ln(), so the whole ranking is exact
# integer arithmetic — no libm knife edge (the SCALE_VALIDATION.md #6
# class).  Collocation/phrase mining is the vocabulary-induction step of
# tokenizer pipelines (merge candidates for BPE/WordPiece seeding) and a
# boilerplate-detection signal at corpus scale. ---
_COLL_MINC = 5
#: lift quantization: 1e6 grid via exact integer division in both engines
_COLL_SCALE = 1_000_000


@query(
    "collocation_lift_topk",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        FROM documents
    ),
    n_tot AS (SELECT CAST(sum(len(ws)) AS BIGINT) AS n FROM toks),
    uni AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS c
        FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
    ),
    bi AS (
        SELECT ws[i + 1] AS w1, ws[i + 2] AS w2, CAST(count(*) AS BIGINT) AS cxy
        FROM toks, unnest(range(len(ws) - 1)) AS t(i)
        GROUP BY 1, 2
        HAVING count(*) >= {_COLL_MINC}
    )
    SELECT w1, w2, cxy,
           CAST((cxy * n * {_COLL_SCALE}) // (u1.c * u2.c) AS BIGINT) AS lift_q
    FROM bi
    JOIN uni u1 ON u1.w = bi.w1
    JOIN uni u2 ON u2.w = bi.w2
    CROSS JOIN n_tot
    ORDER BY lift_q DESC, w1, w2
    LIMIT 20
    """,
)
def collocation_lift_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent-word collocations by exact integer lift
    ``(c_xy * N * SCALE) div (c_x * c_y)``.

    Plan shape: one token projection feeds (a) the corpus token count
    (scalar agg), (b) unigram counts, (c) in-row adjacent-pair expansion
    → bigram counts.  All three aggregations partial-aggregate map-side;
    the bigram table is vocabulary²-bounded (tiny vs corpus) AFTER its
    groupBy, so the two unigram joins and the scalar cross join ride
    broadcast exchanges of vocabulary-sized relations — nothing
    corpus-sized is ever broadcast.  Ranking is integer division on
    BIGINTs (``div`` / ``//``), bit-identical across engines; magnitudes
    stay < 2^63 up to ~sf100 with this vocabulary (c_xy·N·SCALE ≈ 1e18
    worst case there — drop SCALE to 1e4 beyond that).  That bound is
    ENFORCED, not just documented: DuckDB raises on BIGINT overflow while
    Spark (ANSI off) wraps silently, so the numerator carries an in-plan
    ``raise_error`` guard — past the bound both engines now fail loudly
    instead of silently diverging.
    """
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ws"))

    n_tot = toks.agg(F.sum(F.size("ws")).cast("long").alias("n"))
    uni = (
        toks.select(F.explode("ws").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("ws") - 1),
        lambda i: F.struct(
            F.element_at(F.col("ws"), i).alias("w1"),
            F.element_at(F.col("ws"), i + 1).alias("w2"),
        ),
    )
    bi = (
        toks.filter(F.size("ws") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .agg(F.count(F.lit(1)).cast("long").alias("cxy"))
        .filter(F.col("cxy") >= _COLL_MINC)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    return (
        bi.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_tot))
        .select(
            "w1",
            "w2",
            "cxy",
            # overflow guard (matches DuckDB's raise-on-overflow): BOTH
            # the numerator cxy*n*SCALE AND the denominator c1*c2 must
            # fit BIGINT (two words with ~5e9 occurrences each would
            # overflow the product, ADVICE r6); n*SCALE is checked first
            # so the division deriving the cxy bound is itself safe
            F.expr(
                f"CASE WHEN n <= 9223372036854775807 div {_COLL_SCALE}"
                f" AND cxy <= 9223372036854775807 div (n * {_COLL_SCALE})"
                f" AND c1 <= 9223372036854775807 div c2"
                f" THEN CAST((cxy * n * {_COLL_SCALE}) div (c1 * c2) AS BIGINT)"
                f" ELSE CAST(raise_error('collocation_lift_topk: cxy*n*SCALE"
                f" or c1*c2 overflows BIGINT — lower _COLL_SCALE for this"
                f" corpus size') AS BIGINT) END"
            ).alias("lift_q"),
        )
        .orderBy(F.desc("lift_q"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


#: unigram-LM vocabulary cap: the word-frequency table grows without
#: bound with the corpus (Heaps' law — ~100M+ entries at 100 TB), so the
#: broadcast LM keeps only the top-K words by count (count desc, word asc
#: tie-break; compiles to Spark's distributed TakeOrderedAndProject — a
#: map-side partial top-K, never a global single-partition sort) and
#: scores out-of-vocabulary words with the standard 0.5-count floor.
#: K exceeds every test corpus's vocabulary, so results are unchanged at
#: any test sf; the cap exists to bound the broadcast at production
#: scale (the CCNet deployment uses a fixed trained LM the same way).
_ULM_VOCAB_K = 1 << 18


def _unigram_lm(words: DataFrame, k: int = 0) -> tuple[DataFrame, DataFrame]:
    """``(vocab, total)`` of the capped unigram LM over exploded
    ``(.., w)`` rows: vocab is the top-``k`` words with exact integer
    counts, total is the one-row full-corpus token count."""
    k = k or _ULM_VOCAB_K
    vocab_all = words.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = vocab_all.agg(F.sum("c").cast("double").alias("n"))
    vocab = vocab_all.orderBy(F.desc("c"), F.asc("w")).limit(k)
    return vocab, total


def _unigram_neg_logp():
    """In-row ``-ln(p)`` with the OOV floor: joined count when in
    vocabulary, half a count otherwise."""
    return -F.log(F.coalesce(F.col("c").cast("double"), F.lit(0.5)) / F.col("n"))


# --- unigram language-model scoring (the perplexity-proxy quality
# filter): capped corpus word frequencies (one groupBy + distributed
# top-K) broadcast back onto each doc's words; the per-doc score is the
# mean negative log-probability with an OOV floor.  Both engines fold the
# identical doubles in the same in-row order, so the oracle is exact
# after round(4). ---
@query(
    "unigram_logprob_score",
    oracle="""
    WITH words AS (
        SELECT doc_id, w
        FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), unnest(ws) AS t(w)
        WHERE w <> ''
    ),
    vocab_all AS (
        SELECT w, count(*) AS c FROM words GROUP BY w
    ),
    vocab AS (SELECT w, c FROM vocab_all ORDER BY c DESC, w LIMIT {_ULM_K}),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab_all)
    SELECT doc_id,
           count(*) AS n_tokens,
           round(avg(-ln(coalesce(CAST(c AS DOUBLE), 0.5) / n)), 4) AS avg_neg_logp
    FROM words LEFT JOIN vocab USING (w), total
    GROUP BY doc_id
    ORDER BY doc_id
    """.replace("{_ULM_K}", str(_ULM_VOCAB_K)),
)
def unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    words = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    vocab, total = _unigram_lm(words)
    return (
        words.join(F.broadcast(vocab), "w", "left")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(_unigram_neg_logp()), 4).alias("avg_neg_logp"),
        )
        .orderBy("doc_id")
    )


# --- overlapping document chunking (embedding/RAG prep: fixed-size word
# windows with stride overlap; the downstream embedder consumes chunks, so
# chunk identity must be deterministic).  sequence() generates the window
# starts in-row, transform+slice builds each chunk, one explode — no UDF,
# no shuffle until the rollup. ---
_CHUNK_SIZE = 32
_CHUNK_STRIDE = 24


@query(
    "doc_chunk_overlap",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), w -> w <> '') AS ts
        FROM documents
    ),
    starts AS (
        SELECT doc_id, ts, unnest(range(0, len(ts), {_CHUNK_STRIDE})) AS i
        FROM toks WHERE len(ts) > 0
    ),
    chunks AS (
        SELECT doc_id,
               CAST(i AS BIGINT) // {_CHUNK_STRIDE} AS chunk_idx,
               len(ts[i + 1 : least(i + {_CHUNK_SIZE}, len(ts))]) AS n_words
        FROM starts
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n_words) AS BIGINT) AS total_chunk_words,
           CAST(max(n_words) AS BIGINT) AS max_chunk_words
    FROM chunks
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def doc_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    ts = F.filter(F.split("text", " "), lambda w: w != "")
    starts = F.sequence(F.lit(0), F.greatest(F.size(ts) - 1, F.lit(0)), F.lit(_CHUNK_STRIDE))
    chunks = (
        docs.withColumn("ts", ts)
        .filter(F.size("ts") > 0)
        .select("doc_id", F.explode(starts).alias("start"), F.col("ts"))
        .select(
            "doc_id",
            (F.col("start") / _CHUNK_STRIDE).cast("long").alias("chunk_idx"),
            F.size(
                F.slice(
                    "ts", F.col("start") + 1,
                    F.least(F.lit(_CHUNK_SIZE), F.size("ts") - F.col("start")),
                )
            ).alias("n_words"),
        )
    )
    return (
        chunks.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_words").alias("total_chunk_words"),
            F.max("n_words").cast("long").alias("max_chunk_words"),
        )
        .orderBy("doc_id")
    )


# --- BPE merge-step pair counting (tokenizer training: count adjacent
# symbol pairs across the corpus — one iteration of the BPE loop; at scale
# this is THE shuffle-heavy step of tokenizer training and maps to
# explode-pairs + count, with map-side partial aggregation doing the heavy
# lifting).  Characters here, ranked top-20 with a total tie-break. ---
@query(
    "bpe_pair_counts",
    oracle="""
    WITH words AS (
        SELECT unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
        FROM documents
    ),
    pairs AS (
        SELECT substring(w, CAST(i AS INT), 2) AS pair
        FROM (SELECT w, unnest(range(1, length(w))) AS i FROM words WHERE length(w) >= 2)
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM pairs
    GROUP BY pair
    ORDER BY n DESC, pair
    LIMIT 20
    """,
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["text"])
    words = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    ).filter(F.length("w") >= 2)
    pairs = words.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("w") - 1),
                lambda i: F.substring(F.col("w"), i, F.lit(2)),
            )
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("pair"))
        .limit(20)
    )


# --- Count-Min sketch heavy hitters: sub-linear-memory frequency
# estimation over an unbounded token stream (the companion primitive to
# the Bloom prefilter: Bloom answers "seen before?", CMS answers "roughly
# how often?").  d=4 hash rows x w=1024 counters build with ONE groupBy
# over (row, counter) — the sketch is <= d*w rows regardless of corpus
# size and broadcasts; estimates are min over the d addressed counters
# (the classic overestimate-only bound, pinned by a property test).
# Deterministic md5-family hashing makes the sketch — and therefore the
# estimates and the heavy-hitter ranking — exactly reproducible in the
# SQL oracle. ---
_CMS_D = 4
_CMS_W = 1024


def cms_cell_idx(tok, j: int):
    """Deterministic md5-family CMS bucket for hash row ``j`` — shared by
    the batch builder, the streaming ingest, and (re-derived literally)
    the SQL oracles."""
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", tok, F.lit(str(j)))), 1, 15), 16, 10
    ).cast("long")
    return F.pmod(h, F.lit(_CMS_W))


def cms_cells(toks: DataFrame) -> DataFrame:
    """``(j, idx, c)`` sketch cells for a ``tok`` column — ≤ d·w rows
    regardless of input size; cells from disjoint inputs MERGE by adding
    ``c`` (the commutative-monoid property the streaming ingest relies on)."""
    return (
        toks.select(
            F.posexplode(
                F.array(*[cms_cell_idx(F.col("tok"), j) for j in range(_CMS_D)])
            ).alias("j", "idx")
        )
        .groupBy("j", "idx")
        .agg(F.count(F.lit(1)).alias("c"))
    )


#: shared by cms_heavy_hitters and streaming_cms_ingest: the sketch is a
#: commutative monoid, so the stream-accumulated cells equal the batch
#: cells and both at-rest results replay from this one SQL twin
CMS_ORACLE = f"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
        FROM documents
    ),
    cells AS (
        SELECT j, ('0x' || substr(md5(tok || '|' || j), 1, 15))::BIGINT % {_CMS_W} AS idx,
               count(*) AS c
        FROM toks CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) s
        GROUP BY 1, 2
    ),
    vocab AS (SELECT DISTINCT tok FROM toks),
    est AS (
        SELECT v.tok, min(c.c) AS est
        FROM vocab v
        CROSS JOIN (SELECT unnest(range({_CMS_D})) AS j) s
        JOIN cells c ON c.j = s.j
                    AND c.idx = ('0x' || substr(md5(v.tok || '|' || s.j), 1, 15))::BIGINT % {_CMS_W}
        GROUP BY 1
    )
    SELECT tok, CAST(est AS BIGINT) AS est_count, CAST(rk AS INT) AS rk
    FROM (
        SELECT tok, est, row_number() OVER (ORDER BY est DESC, tok) AS rk FROM est
    )
    WHERE rk <= 15
    ORDER BY rk
    """


@query("cms_heavy_hitters", oracle=CMS_ORACLE)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents", columns=["text"]))
    toks = docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
    return cms_topk_from_cells(toks, cms_cells(toks))


def cms_topk_from_cells(toks: DataFrame, cells: DataFrame) -> DataFrame:
    """Heavy-hitter estimates for a candidate ``tok`` column against a
    (possibly stream-accumulated) sketch-cell table: min over the d
    addressed counters, top-15 ranked."""
    vocab = toks.distinct()
    vcells = vocab.select(
        "tok",
        F.posexplode(
            F.array(*[cms_cell_idx(F.col("tok"), j) for j in range(_CMS_D)])
        ).alias("j", "idx"),
    )
    est = (
        vcells.join(F.broadcast(cells), ["j", "idx"])
        .groupBy("tok")
        .agg(F.min("c").alias("est"))
    )
    # distributed top-k first (TakeOrderedAndProject — per-partition heads
    # merged on the driver, never a vocab-wide single-partition sort);
    # the rank window then runs over 15 rows
    top = est.orderBy(F.desc("est"), F.asc("tok")).limit(15)
    w = W.orderBy(F.desc("est"), F.asc("tok"))
    return (
        top.withColumn("rk", F.row_number().over(w))
        .select("tok", F.col("est").cast("long").alias("est_count"), "rk")
        .orderBy("rk")
    )


# --- BPE tokenizer: iterative merge training + corpus encoding.  The
# trainer runs on the word-COUNT table (the classic scalable form: the
# corpus collapses to distinct words x counts first, so each merge round
# touches a table whose size is the vocabulary, not the corpus).  The
# segmentation state wraps every symbol in delimiters ("<a><b><c>"):
# applying a merge (a,b) is replace(s, '<a><b>', '<ab>') — SQL replace is
# left-to-right non-overlapping, which IS greedy BPE merge order, and the
# two-sided wrapping anchors BOTH symbol boundaries, so a rule (a,b) can
# never fire on a longer symbol that merely ends in `a` (with one-sided
# separators, rule (h,e) would corrupt state '<th><e>').  The whole round
# is codegen string ops with no UDF.  Delimiter characters are STRIPPED
# from input words first (every surface, both engines): a corpus '<' or
# '>' would otherwise silently corrupt symbol boundaries — the same
# normalization a production tokenizer applies to its own specials.  Each round's best pair is one
# bounded collect (a 3-field scalar, same artifact class as PQ seeds).
# Encoding then applies the learned rules as a static chain of replaces
# over every doc in-row: one corpus scan, zero shuffle. ---
_BPE_ROUNDS = 6
_BPE_DRIVER_CAP = 100_000


def _bpe_train_rows(rows: list[tuple[int, str]]) -> list[tuple[str, str, int]]:
    """Driver-side rounds over (count, wrapped-symbol-string) word rows."""
    import re
    from collections import Counter

    merges: list[tuple[str, str, int]] = []
    states = list(rows)
    for _ in range(_BPE_ROUNDS):
        counts: Counter[tuple[str, str]] = Counter()
        for cnt, sep in states:
            syms = [x for x in re.split("[<>]+", sep) if x]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += cnt
        if not counts:
            break
        (a, b), n = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((a, b, int(n)))
        states = [(cnt, sep.replace(f"<{a}><{b}>", f"<{a}{b}>")) for cnt, sep in states]
    return merges


def _bpe_clean_word(col):
    """Strip the state delimiters from an input word (the op's
    normalization contract — see the header comment).  Words that clean
    to EMPTY must be dropped by the caller on both engines (an empty
    word has zero tokens, but SQL string_split('') yields [''])."""
    return F.replace(F.replace(col, F.lit("<"), F.lit("")), F.lit(">"), F.lit(""))


def _bpe_clean_sql(col: str) -> str:
    """The DuckDB twin of :func:`_bpe_clean_word` — single source for
    every oracle surface so the normalization cannot desynchronize."""
    return f"replace(replace({col}, '<', ''), '>', '')"


def _bpe_syms(col):
    """Clean symbol list of a wrapped state string '<a><bc>' -> [a, bc]."""
    return F.filter(F.split(F.regexp_replace(col, "^<|>$", ""), "><"), lambda x: x != "")


def _bpe_word_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["text"])
    words = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    wc = words.groupBy("w").agg(F.count(F.lit(1)).alias("cnt"))
    wc = wc.filter(F.length(_bpe_clean_word(F.col("w"))) > 0)
    # the word-count table IS the training set (vocabulary-sized, tiny);
    # materialize it so the corpus is scanned exactly once
    return wc.withColumn(
        "s", F.regexp_replace(_bpe_clean_word(F.col("w")), "(.)", "<$1>")
    ).transform(
        checkpoint_df  # through the reliability switch like every loop-body site
    )


def bpe_encode_expr(merges: list[tuple]) -> "F.Column":
    """In-row encode of column ``w``: clean, wrap, apply the merge chain."""
    enc = F.regexp_replace(_bpe_clean_word(F.col("w")), "(.)", "<$1>")
    for a, b, *_ in merges:
        enc = F.replace(enc, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    return enc


def bpe_ntokens_expr(merges: list[tuple], text=None) -> "F.Column":
    """Per-DOC BPE token count as ONE in-row expression: fold over the
    whitespace words of ``text``, encoding each word with the merge chain
    and summing symbol counts — no word-grain explode, so a funnel can
    count tokens inside the same single corpus pass that evaluates its
    stage flags.  Words that clean to empty contribute 0 (the
    :func:`_bpe_words` drop rule)."""
    text = F.col("text") if text is None else text

    def enc_syms(w):
        e = F.regexp_replace(_bpe_clean_word(w), "(.)", "<$1>")
        for a, b, *_ in merges:
            e = F.replace(e, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
        return F.size(_bpe_syms(e))

    words = F.filter(F.split(text, " "), lambda x: x != "")
    return F.aggregate(words, F.lit(0), lambda acc, w: acc + enc_syms(w))


def _bpe_words(df: DataFrame) -> DataFrame:
    """Explode whitespace words, dropping words that clean to empty (the
    oracle's string_split('') would count them as one token)."""
    out = df.select(
        "doc_id",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("w"),
    )
    return out.filter(F.length(_bpe_clean_word(F.col("w"))) > 0)


@artifact("bpe_merges")
def bpe_train(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int]]:
    """Learn ``_BPE_ROUNDS`` merges; returns [(a, b, weighted_count)]."""
    state = _bpe_word_state(spark, sf_dir)
    # vocabulary-sized training sets run the rounds driver-side (identical
    # algorithm: str.replace is the same left-to-right non-overlapping
    # greedy merge) — one job instead of ~3 per round.  Above the cap the
    # distributed loop below takes over (CommonCrawl-scale vocabularies),
    # same split as dedup_connected_components' union-find cap.
    head = state.take(_BPE_DRIVER_CAP + 1)
    if len(head) <= _BPE_DRIVER_CAP:
        return _bpe_train_rows([(r.cnt, r.s) for r in head])
    merges: list[tuple[str, str, int]] = []
    rounds = 0
    while len(merges) < _BPE_ROUNDS:
        rounds += 1
        syms = _bpe_syms(F.col("s"))
        # single-symbol words have no pairs; sequence(0, -1) would descend
        pairs = state.filter(F.size(syms) >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(syms) - 2),
                    lambda i: F.struct(
                        F.element_at(syms, i + 1).alias("a"),
                        F.element_at(syms, i + 2).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        counts = (
            pairs.groupBy("p.a", "p.b").agg(F.sum("cnt").alias("n")).transform(checkpoint_df)
        )
        top = (
            counts.orderBy(F.desc("n"), F.asc("a"), F.asc("b"))
            .limit(_BPE_BATCH_K)
            .collect()
        )
        if not top:
            break
        # multi-merge batch, provably order-equivalent to one-at-a-time
        # BPE.  Keep the longest RANKED PREFIX m_1..m_k such that
        # (1) prefix pairs are symbol-disjoint (none shares a symbol with
        #     an earlier kept pair or equals its concatenation), so
        #     applying m_i cannot change count(m_j); and
        # (2) domination: n_j strictly exceeds every pair count any
        #     earlier m_i could CREATE.  A new pair around c_i = a_i+b_i
        #     is (x, c_i) <= count(x, a_i), (c_i, x) <= count(b_i, x) or
        #     (c_i, c_i) <= count(b_i, a_i) — all bounded by M_i = max
        #     count over existing pairs with right symbol a_i or left
        #     symbol b_i, read from the SAME round's count table.
        # Everything past the first violation waits for the next round.
        per_right, per_left = _bpe_neighbor_maxes(counts, top)
        kept: list[tuple[str, str, int]] = []
        kept_syms: set[str] = set()
        bound = -1  # running max of M_i over kept merges
        for r in top:
            a, b, n = r.a, r.b, int(r.n)
            if kept:
                if a in kept_syms or b in kept_syms or (a + b) in kept_syms:
                    break
                if n <= bound:
                    break
            kept.append((a, b, n))
            kept_syms.update({a, b, a + b})
            bound = max(bound, per_right.get(a, 0), per_left.get(b, 0))
            if len(merges) + len(kept) >= _BPE_ROUNDS:
                break
        merges.extend(kept)
        # apply the whole batch in ONE projection + checkpoint: without
        # the checkpoint round k's lineage replays rounds 1..k-1
        # (quadratic); the table is vocabulary-sized
        s = F.col("s")
        for a, b, _n in kept:
            s = F.replace(s, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
        state = state.withColumn("s", s).transform(checkpoint_df)
    _BPE_LAST_FALLBACK_ROUNDS["rounds"] = rounds
    return merges


#: test/diagnostic hook: rounds the last distributed fallback needed
#: (a module-level cell, not function-object state)
_BPE_LAST_FALLBACK_ROUNDS: dict = {}


#: candidates collected per distributed-fallback round (bounded scalar
#: artifact, like the PQ seeds); the kept batch is usually smaller
_BPE_BATCH_K = 16


def _bpe_neighbor_maxes(counts: DataFrame, top) -> tuple[dict, dict]:
    """For every candidate pair's symbols, the max count over existing
    pairs ending in its left symbol (``per_right[a]``) / starting with
    its right symbol (``per_left[b]``) — the upper bound on any pair a
    merge (a, b) can create (see bpe_train).  TWO tiny aggregations per
    round regardless of batch size."""
    rights = list({r.a for r in top})
    lefts = list({r.b for r in top})
    per_right = {
        r.b: int(r.m)
        for r in counts.filter(F.col("b").isin(rights)).groupBy("b").agg(F.max("n").alias("m")).collect()
    }
    per_left = {
        r.a: int(r.m)
        for r in counts.filter(F.col("a").isin(lefts)).groupBy("a").agg(F.max("n").alias("m")).collect()
    }
    return per_right, per_left


def _bpe_round_ctes() -> str:
    """The DuckDB mirror of the training loop: K materialized rounds."""
    parts = [
        """
    wstate0 AS MATERIALIZED (
        SELECT w, cnt,
               regexp_replace(replace(replace(w, '<', ''), '>', ''), '(.)', '<\\1>', 'g') AS s
        FROM (
            SELECT w, count(*) AS cnt
            FROM (
                SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
                FROM documents
            )
            GROUP BY w
        )
        WHERE length(replace(replace(w, '<', ''), '>', '')) > 0
    )"""
    ]
    for r in range(1, _BPE_ROUNDS + 1):
        parts.append(f"""
    pairs{r} AS MATERIALIZED (
        SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS n
        FROM (
            SELECT cnt,
                   string_split(regexp_replace(s, '^<|>$', '', 'g'), '><') AS syms
            FROM wstate{r - 1}
        ), unnest(range(1, len(syms))) AS t(i)
        GROUP BY a, b
    ),
    best{r} AS MATERIALIZED (
        SELECT a, b, n FROM pairs{r} ORDER BY n DESC, a, b LIMIT 1
    ),
    wstate{r} AS MATERIALIZED (
        SELECT w, cnt, replace(s, '<' || a || '><' || b || '>', '<' || a || b || '>') AS s
        FROM wstate{r - 1}, best{r}
    )""")
    return ",".join(parts)


@query(
    "bpe_train_merges",
    oracle=f"""
    WITH {_bpe_round_ctes()}
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT {r} AS rank, a || '+' || b AS pair, n FROM best{r}"
            for r in range(1, _BPE_ROUNDS + 1)
        )}
    )
    ORDER BY rank
    """,
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = bpe_train(spark, sf_dir)
    return local_frame(
        spark,
        [(r + 1, f"{a}+{b}", n) for r, (a, b, n) in enumerate(merges)],
        "rank int, pair string, n long",
    ).orderBy("rank")


@query(
    "bpe_encode_corpus",
    oracle=f"""
    WITH {_bpe_round_ctes()},
    encoded AS (
        SELECT doc_id,
               {"".join("replace(" for _ in range(_BPE_ROUNDS))}
                   regexp_replace({_bpe_clean_sql('w')}, '(.)', '<\\1>', 'g')
               {"".join(
                   f", (SELECT '<' || a || '><' || b || '>' FROM best{r})"
                   f", (SELECT '<' || a || b || '>' FROM best{r}))"
                   for r in range(1, _BPE_ROUNDS + 1)
               )} AS s
        FROM (
            SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents
        )
        WHERE length({_bpe_clean_sql('w')}) > 0
    )
    SELECT doc_id,
           CAST(sum(len(string_split(s, '><'))) AS BIGINT) AS n_tokens,
           CAST(sum(length(replace(replace(s, '<', ''), '>', ''))) AS BIGINT) AS n_chars
    FROM encoded
    GROUP BY doc_id
    ORDER BY doc_id
    """,
)
def bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenize every doc with the learned merges: a static chain of
    in-row replaces (no UDF, no shuffle — the training artifact is ~6
    tiny literals).  n_chars doubles as a lossless-segmentation check:
    it must equal the pre-tokenization character count."""
    merges = bpe_train(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    enc = bpe_encode_expr(merges)
    per_word = _bpe_words(docs).select(
        "doc_id",
        F.size(_bpe_syms(enc)).alias("nt"),
        F.length(_bpe_clean_word(enc)).alias("nc"),
    )
    return (
        per_word.groupBy("doc_id")
        .agg(F.sum("nt").alias("n_tokens"), F.sum("nc").alias("n_chars"))
        .orderBy("doc_id")
    )


# --- CCNet-style perplexity bucketing (public pipeline: Wenzek et al.
# 2020 — split each language's corpus into head/middle/tail by LM score;
# head feeds training, tail gets dropped or down-weighted).  The LM is
# the corpus unigram model (unigram_logprob_score's shape); buckets are
# per-language score terciles — two column-pruned corpus scans
# (vocabulary build, scoring) with the vocabulary broadcast back, then
# tercile SIZES derived arithmetically from per-lang counts (no
# per-language corpus sort — see the in-function comment). ---
@query(
    "ccnet_perplexity_buckets",
    oracle="""
    WITH words AS (
        SELECT doc_id, lang, w
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents),
             unnest(ws) AS t(w)
        WHERE w <> ''
    ),
    vocab_all AS (SELECT w, count(*) AS c FROM words GROUP BY w),
    vocab AS (SELECT w, c FROM vocab_all ORDER BY c DESC, w LIMIT {_ULM_K}),
    total AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM vocab_all),
    scored AS (
        SELECT doc_id, lang,
               round(avg(-ln(coalesce(CAST(c AS DOUBLE), 0.5) / n)), 8) AS nlp
        FROM words LEFT JOIN vocab USING (w), total
        GROUP BY doc_id, lang
    ),
    bucketed AS (
        SELECT lang, nlp,
               ntile(3) OVER (PARTITION BY lang ORDER BY nlp, doc_id) AS tercile
        FROM scored
    ),
    lang_stats AS (
        SELECT lang, round(avg(nlp), 4) AS lang_avg_nlp
        FROM scored GROUP BY lang
    )
    SELECT b.lang,
           CASE tercile WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket,
           CAST(count(*) AS BIGINT) AS n_docs,
           any_value(ls.lang_avg_nlp) AS lang_avg_nlp
    FROM bucketed b JOIN lang_stats ls ON ls.lang = b.lang
    GROUP BY b.lang, tercile
    ORDER BY b.lang, tercile
    """.replace("{_ULM_K}", str(_ULM_VOCAB_K)),
)
def ccnet_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "lang", "text"])
    words = docs.select(
        "doc_id", "lang",
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w"),
    )
    vocab, total = _unigram_lm(words)
    scored = (
        words.join(F.broadcast(vocab), "w", "left")
        .join(F.broadcast(total))
        .groupBy("doc_id", "lang")
        # round before ordering: the avg is partial-aggregation
        # order-dependent in its last ulps, and a near-tie straddling a
        # tercile boundary must resolve identically on both engines
        # (doc_id then breaks the now-exact tie)
        .agg(F.round(F.avg(_unigram_neg_logp()), 8).alias("nlp"))
    )
    # The output aggregates terciles to COUNTS — and ntile(3) bucket
    # sizes are a pure function of the per-language row count n (the
    # first n % 3 buckets get ceil(n/3) rows, the rest floor(n/3)), so
    # the per-language corpus sort the oracle's ntile implies never has
    # to happen (VERDICT r9 weak #5): derive the three sizes
    # arithmetically from the per-lang count table.  The per-LANGUAGE
    # mean score keeps the oracle sensitive to the SCORING while staying
    # insensitive to tercile-boundary float swaps — per-bucket extrema
    # would reintroduce the round-4 knife-edge class a boundary doc flip
    # triggers at larger sf.
    lang_stats = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.avg("nlp"), 4).alias("lang_avg_nlp")
    )
    q = F.expr("n div 3")
    r = F.col("n") % 3
    buckets = F.array(
        F.struct(F.lit("head").alias("bucket"), (q + (r >= 1).cast("long")).alias("n_docs")),
        F.struct(F.lit("middle").alias("bucket"), (q + (r >= 2).cast("long")).alias("n_docs")),
        F.struct(F.lit("tail").alias("bucket"), q.alias("n_docs")),
    )
    return (
        lang_stats.select("lang", "lang_avg_nlp", F.explode(buckets).alias("b"))
        .filter(F.col("b.n_docs") > 0)
        .select("lang", F.col("b.bucket").alias("bucket"), F.col("b.n_docs").alias("n_docs"), "lang_avg_nlp")
        .orderBy("lang", F.when(F.col("bucket") == "head", 1).when(F.col("bucket") == "middle", 2).otherwise(3))
    )


# --- tokenizer fertility by language (the standard multilingual
# tokenizer-quality metric: average BPE tokens per word, plus the
# chars-per-token compression rate).  Same trained-merge replace chain
# as bpe_encode_corpus (static in-row expression, no UDF, no shuffle
# before the per-language aggregate); the ratios divide exact integer
# sums, so both engines agree bit-exactly before the round. ---
@query(
    "bpe_fertility_by_lang",
    oracle=f"""
    WITH {_bpe_round_ctes()},
    encoded AS (
        SELECT lang,
               {"".join("replace(" for _ in range(_BPE_ROUNDS))}
                   regexp_replace({_bpe_clean_sql('w')}, '(.)', '<\\1>', 'g')
               {"".join(
                   f", (SELECT '<' || a || '><' || b || '>' FROM best{r})"
                   f", (SELECT '<' || a || b || '>' FROM best{r}))"
                   for r in range(1, _BPE_ROUNDS + 1)
               )} AS s
        FROM (
            SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents
        )
        WHERE length({_bpe_clean_sql('w')}) > 0
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(len(string_split(s, '><'))) AS BIGINT) AS n_tokens,
           round(sum(len(string_split(s, '><'))) * 1.0 / count(*), 4) AS fertility,
           round(sum(length({_bpe_clean_sql('s')})) * 1.0
                 / sum(len(string_split(s, '><'))), 4) AS chars_per_token
    FROM encoded
    GROUP BY lang ORDER BY lang
    """,
)
def bpe_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    merges = bpe_train(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents", columns=["lang", "text"])
    words = docs.select(
        "lang",
        F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("w"),
    ).filter(F.length(_bpe_clean_word(F.col("w"))) > 0)
    enc = bpe_encode_expr(merges)
    per_word = words.select(
        "lang",
        F.size(_bpe_syms(enc)).alias("nt"),
        F.length(_bpe_clean_word(enc)).alias("nc"),
    )
    return (
        per_word.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("nt").alias("n_tokens"),
            F.round(F.sum("nt") / F.count(F.lit(1)), 4).alias("fertility"),
            F.round(F.sum("nc") / F.sum("nt"), 4).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# --- unigram-LM tokenizer (the SentencePiece unigram model, Kudo 2018
# — the production complement to BPE; VERDICT r7 next #3).  Same
# scalable skeleton as bpe_train: the corpus collapses ONCE to the
# word-count table (vocabulary-sized), training rounds then touch only
# vocab-sized tables with bounded driver artifacts.  Algorithm (the
# hard-EM / Viterbi variant, deterministic end to end):
#   1. SEED: every substring of length 1.._ULM_MAXLEN of every word,
#      weighted by word count; vocab_0 = all single chars + the top
#      _ULM_SEED multi-char pieces by (count desc, piece asc).
#   2. SCORES: integer log-likelihood grid sc_q(p) =
#      -floor(-ln(cnt/total)*GRID + 0.5) — ONE shared fp form computed
#      in Spark expressions and replayed verbatim by the oracle, with
#      the mixture-sampler knife-edge guard (raise in-plan if an ln ulp
#      could flip the floor) so cross-engine divergence is loud.
#   3. EM ROUND (x_ULM_ROUNDS): Viterbi-segment every word under the
#      current integer scores (max total score, tie -> fewest pieces,
#      tie -> lexicographically smallest space-joined sequence — the
#      space separator sorts below every word char, which makes the
#      DP's per-position prefix choice globally lexicographic-optimal);
#      re-count piece usage weighted by word counts; multi-char pieces
#      with zero use drop out, single chars floor at count 1 (coverage
#      for encode-time OOV); re-score.
#   4. PRUNE: keep all single chars + the top _ULM_VOCAB multi-char
#      pieces by (count desc, piece asc); final scores over the pruned
#      total.
# The Viterbi step is an Arrow-batched mapInPandas over the word-count
# table with the bounded score dict in the closure — integer-only math
# inside Python (no fp, no rounding), so the banker's-rounding trap
# cannot apply.  At 100 TB the corpus is touched once (word counts +
# the encode pass); everything else is vocabulary-sized.  The oracle
# replays the ENTIRE training chain in SQL: seeding, both EM rounds
# (Viterbi via recursive-CTE path enumeration — words here are <= 8
# chars, so paths are bounded), floors, prune, final scores. ---
_ULM_MAXLEN = 4
_ULM_SEED = 64
_ULM_PRUNE = 32
_ULM_ROUNDS = 2
_ULM_GRID = 1_000_000


def _ulm_word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["text"])
    words = docs.select(
        F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    # vocabulary-sized: materialize so training rounds never rescan
    return (
        words.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .transform(checkpoint_df)
    )


def _ulm_scores(spark: SparkSession, vocab: dict[str, int]) -> dict[str, int]:
    """Integer-grid scores for a bounded vocab — model-sized DRIVER math
    (r13: the input and output are driver dicts already; a Spark job per
    EM step was 4 scheduler round-trips per build for vocab-bounded
    work).  The fp chain (one division, one ln, one grid floor) is the
    same IEEE expression the oracle replays in SQL, and the knife-edge
    guard raises whenever ``-ln(cnt/total)*grid + 0.5`` lands within the
    cross-engine ln guard band (max(1e-9, |z|*1e-12)) of a rounding
    boundary — libm/JVM/DuckDB ln agree to ~1 ulp, so outside the band
    every engine floors to the same integer (the
    mixture_temperature_sample pattern)."""
    total = float(sum(vocab.values()))
    out: dict[str, int] = {}
    for p, c in vocab.items():
        z = -math.log(float(int(c)) / total) * float(_ULM_GRID) + 0.5
        if abs(z - math.floor(z + 0.5)) < max(1e-9, abs(z) * 1e-12):
            raise ValueError(
                "unigram_lm: -ln(cnt/total)*grid + 0.5 lands within the"
                " cross-engine ln guard band of a rounding boundary — bump"
                " _ULM_GRID for this corpus"
            )
        out[p] = int(-math.floor(z))
    return out


def _ulm_viterbi_word(w: str, sc: dict[str, int], maxlen: int) -> list[str]:
    """Integer Viterbi: maximize total score, tie -> fewest pieces,
    tie -> lexicographically smallest space-joined sequence."""
    best: list = [None] * (len(w) + 1)
    best[0] = (0, 0, "")
    for j in range(1, len(w) + 1):
        bj = None
        for i in range(max(0, j - maxlen), j):
            bi = best[i]
            if bi is None:
                continue
            s = sc.get(w[i:j])
            if s is None:
                continue
            cand = (bi[0] + s, bi[1] + 1, (bi[2] + " " + w[i:j]) if bi[2] else w[i:j])
            if (
                bj is None
                or cand[0] > bj[0]
                or (cand[0] == bj[0] and cand[1] < bj[1])
                or (cand[0] == bj[0] and cand[1] == bj[1] and cand[2] < bj[2])
            ):
                bj = cand
        best[j] = bj
    if best[-1] is None:  # unreachable: every corpus char is in the vocab
        raise ValueError(f"unigram_lm: uncoverable word {w!r}")
    return best[-1][2].split(" ")


def _ulm_segment(wc: DataFrame, sc: dict[str, int]) -> DataFrame:
    """Arrow-batched Viterbi over the word-count table -> (w, cnt,
    pieces).  Integer-only Python; the score dict is vocab-bounded.

    r13 measurement note (guide §1): spreading this frame across cores
    was tried and REVERTED — the synthetic corpus has a ~31-word
    vocabulary, so the DP input is tens of rows and a round-robin
    repartition costs 2-5x the whole serial pass (0.6 s → 1.3-5.4 s
    measured at sf0.1).  On a real corpus (1e6+ distinct words) the
    caller should ``spread`` the word-count table first."""
    scores = dict(sc)

    def run(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "cnt": pdf["cnt"],
                    "pieces": [
                        _ulm_viterbi_word(w, scores, _ULM_MAXLEN) for w in pdf["w"]
                    ],
                }
            )

    return wc.mapInPandas(run, schema="w string, cnt long, pieces array<string>")


def unigram_train_rows(
    spark: SparkSession, wc: DataFrame
) -> list[tuple[str, int, int]]:
    """Run the full seeding + EM + prune chain over a word-count table;
    returns the final vocab as [(piece, cnt, score_q)] sorted by piece."""
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(0), F.length("w") - 1),
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.lit(1), F.lit(_ULM_MAXLEN)),
                    lambda l: F.when(
                        i + l <= F.length("w"), F.col("w").substr(i + 1, l)
                    ),
                ),
                lambda x: x.isNotNull(),
            ),
        )
    )
    pieces = (
        wc.select(F.explode(subs).alias("piece"), "cnt")
        .groupBy("piece")
        .agg(F.sum("cnt").alias("cnt"))
    )
    # ONE seeding job: single-char coverage rows + the top-_ULM_SEED
    # multi-char candidates collected together (r13 — two collects over
    # the same substring aggregate were two scheduler round-trips and
    # two evaluations of the aggregate)
    seeded = (
        pieces.filter(F.length("piece") == 1)
        .select("piece", "cnt", F.lit(True).alias("is_char"))
        .unionAll(
            pieces.filter(F.length("piece") >= 2)
            .orderBy(F.desc("cnt"), F.asc("piece"))
            .limit(_ULM_SEED)
            .select("piece", "cnt", F.lit(False).alias("is_char"))
        )
        .collect()
    )
    chars = {r["piece"]: int(r["cnt"]) for r in seeded if r["is_char"]}
    multi = [r for r in seeded if not r["is_char"]]
    vocab = dict(chars)
    vocab.update({r["piece"]: int(r["cnt"]) for r in multi})
    sc = _ulm_scores(spark, vocab)
    for _ in range(_ULM_ROUNDS):
        used = (
            _ulm_segment(wc, sc)
            .select(F.explode("pieces").alias("piece"), "cnt")
            .groupBy("piece")
            .agg(F.sum("cnt").alias("cnt"))
            .collect()
        )
        uc = {r["piece"]: int(r["cnt"]) for r in used}
        vocab = {p: c for p, c in uc.items() if len(p) >= 2}
        for ch in chars:  # single chars always survive (OOV-coverage floor)
            vocab[ch] = uc.get(ch, 1)
        sc = _ulm_scores(spark, vocab)
    kept_multi = sorted(
        ((p, c) for p, c in vocab.items() if len(p) >= 2),
        key=lambda pc: (-pc[1], pc[0]),
    )[:_ULM_PRUNE]
    final = {p: c for p, c in kept_multi}
    final.update({ch: vocab[ch] for ch in chars})
    sc = _ulm_scores(spark, final)
    return sorted((p, c, sc[p]) for p, c in final.items())


def unigram_vocab_store_path(sf_dir: str) -> str:
    """Content-addressed location of the PERSISTED trained vocab (the
    tf_learned_gate/PQ-codebook artifact contract, VERDICT r8 next #7):
    the tag folds in every training hyperparameter, so a changed
    corpus or config trains fresh and an unchanged one is reused across
    sessions."""
    return store_path(
        sf_dir,
        "documents",
        "ulm_vocab",
        f"ulm-v1-m{_ULM_MAXLEN}-s{_ULM_SEED}-p{_ULM_PRUNE}-r{_ULM_ROUNDS}-g{_ULM_GRID}",
    )


def build_unigram_vocab_store(spark: SparkSession, sf_dir: str) -> str:
    """Train the unigram vocab and persist it (piece, cnt, score_q) — the
    once-per-corpus BUILD, skipped whole while the store is reused;
    serving (encode, streaming tokenize) reads this artifact and pays
    only the corpus pass."""
    import os

    def build(p: str) -> None:
        rows = unigram_train_rows(spark, _ulm_word_counts(spark, sf_dir))
        df = local_frame(spark, rows, "piece string, cnt long, score_q long")
        df.coalesce(1).write.parquet(os.path.join(p, "vocab"))

    return ensure_store(unigram_vocab_store_path(sf_dir), build)


@artifact("unigram_vocab")
def _ulm_vocab(spark: SparkSession, sf_dir: str) -> list[tuple[str, int, int]]:
    """The trained vocab ``[(piece, cnt, score_q)]``, the
    ``unigram_vocab`` session artifact served from the PERSISTED store
    (built on first touch): encode consumers no longer pay the two EM
    segmentation jobs per fresh session — only the first session per
    corpus trains (r8 bench: 2.88 s encode line was mostly in-session
    training)."""
    import os

    path = build_unigram_vocab_store(spark, sf_dir)
    return sorted(
        (r.piece, int(r.cnt), int(r.score_q))
        for r in spark.read.parquet(os.path.join(path, "vocab")).collect()
    )


def _ulm_score_sql(cnt: str, total: str) -> str:
    return (
        f"CAST(-floor(-ln(CAST({cnt} AS DOUBLE) / CAST({total} AS DOUBLE))"
        f" * {_ULM_GRID} + 0.5) AS BIGINT)"
    )


def _ulm_viterbi_ctes(tag: str, scores: str) -> str:
    """Per-position DP replay of the integer Viterbi (VERDICT r8 next
    #3): ONE recursion level per character position, each row carrying a
    sliding window of the last ``_ULM_MAXLEN`` best prefix states, so
    the replay is LINEAR in word length — the previous path-enumeration
    form materialized every segmentation path and exploded
    combinatorially on long words.  Struct field order (nsc = -score,
    np, seq) makes ``list_sort``'s minimum the engine kernel's exact
    (score desc, pieces asc, space-joined seq asc) tie-break
    (:func:`_ulm_viterbi_word`; DuckDB's binary VARCHAR collation
    matches Python's codepoint compare).  Emits ``dp{{tag}}`` and
    ``best{{tag}}(w, cnt, seq, np)``."""
    m = _ULM_MAXLEN
    null_s = "CAST(NULL AS STRUCT(nsc BIGINT, np INTEGER, seq VARCHAR))"
    init = ",\n            ".join(
        [null_s] * (m - 1) + ["{'nsc': CAST(0 AS BIGINT), 'np': 0, 'seq': ''}"]
    )
    shift = ", ".join(f"d.win[{i}]" for i in range(2, m + 1))
    cands = []
    for l in range(1, m + 1):
        idx = m - l + 1  # window slot holding the state at position pos+1-l
        cands.append(f"""
              CASE WHEN d.pos + 1 >= {l} AND s{l}.piece IS NOT NULL
                        AND d.win[{idx}] IS NOT NULL
                   THEN {{'nsc': d.win[{idx}].nsc - s{l}.sc,
                          'np': d.win[{idx}].np + 1,
                          'seq': CASE WHEN d.win[{idx}].seq = '' THEN s{l}.piece
                                      ELSE d.win[{idx}].seq || ' ' || s{l}.piece END}}
              END""")
    joins = "\n".join(
        f"        LEFT JOIN {scores} s{l} ON d.pos + 1 >= {l}"
        f" AND s{l}.piece = substr(d.w, d.pos + 2 - {l}, {l})"
        for l in range(1, m + 1)
    )
    return f"""
    dp{tag} AS (
        SELECT w, cnt, 0 AS pos,
               [{init}] AS win
        FROM wcnt
        UNION ALL
        SELECT d.w, d.cnt, d.pos + 1,
               [{shift},
                list_sort(list_filter([{",".join(cands)}
                ], x -> x IS NOT NULL))[1]]
        FROM dp{tag} d
{joins}
        WHERE d.pos < len(d.w)
    ),
    best{tag} AS MATERIALIZED (
        SELECT w, cnt, win[{m}].seq AS seq, win[{m}].np AS np
        FROM dp{tag} WHERE pos = len(w)
    )"""


def _ulm_train_ctes() -> str:
    """Shared training-replay CTE chain (no leading WITH; callers open
    WITH RECURSIVE): wcnt -> seed -> v0/s0 -> EM rounds -> vf/sf."""

    def viterbi(n: int, vocab: str, scores: str) -> str:
        # vocab arg kept for call-site symmetry; the scores table is
        # one-to-one with it, so the DP joins scores only
        return _ulm_viterbi_ctes(str(n), scores)

    parts = [
        f"""
    wcnt AS MATERIALIZED (
        SELECT w, CAST(count(*) AS BIGINT) AS cnt FROM (
            SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
            FROM documents
        ) GROUP BY w
    ),
    seedp AS MATERIALIZED (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
            SELECT substr(w, i + 1, l) AS piece, cnt
            FROM wcnt,
                 unnest(range(len(w))) AS t(i),
                 unnest(range(1, {_ULM_MAXLEN + 1})) AS u(l)
            WHERE i + l <= len(w)
        ) GROUP BY piece
    ),
    chars AS (SELECT piece, cnt FROM seedp WHERE len(piece) = 1),
    v0 AS MATERIALIZED (
        SELECT piece, cnt FROM chars
        UNION ALL
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt DESC, piece) AS rn
            FROM seedp WHERE len(piece) >= 2
        ) WHERE rn <= {_ULM_SEED}
    ),
    s0 AS MATERIALIZED (
        SELECT piece, {_ulm_score_sql('cnt', '(SELECT sum(cnt) FROM v0)')} AS sc
        FROM v0
    )"""
    ]
    for n in range(1, _ULM_ROUNDS + 1):
        parts.append(viterbi(n, f"v{n - 1}", f"s{n - 1}"))
        parts.append(
            f"""
    c{n} AS MATERIALIZED (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS cnt FROM (
            SELECT unnest(string_split(seq, ' ')) AS piece, cnt FROM best{n}
        ) GROUP BY piece
    ),
    v{n} AS MATERIALIZED (
        SELECT piece, cnt FROM c{n} WHERE len(piece) >= 2
        UNION ALL
        SELECT ch.piece, COALESCE(c.cnt, 1) AS cnt
        FROM chars ch LEFT JOIN (SELECT piece, cnt FROM c{n} WHERE len(piece) = 1) c
             ON c.piece = ch.piece
    ),
    s{n} AS MATERIALIZED (
        SELECT piece, {_ulm_score_sql('cnt', f'(SELECT sum(cnt) FROM v{n})')} AS sc
        FROM v{n}
    )"""
        )
    parts.append(
        f"""
    vf AS MATERIALIZED (
        SELECT piece, cnt FROM (
            SELECT piece, cnt,
                   row_number() OVER (ORDER BY cnt DESC, piece) AS rn
            FROM v{_ULM_ROUNDS} WHERE len(piece) >= 2
        ) WHERE rn <= {_ULM_PRUNE}
        UNION ALL
        SELECT piece, cnt FROM v{_ULM_ROUNDS} WHERE len(piece) = 1
    ),
    sf AS MATERIALIZED (
        SELECT piece, {_ulm_score_sql('cnt', '(SELECT sum(cnt) FROM vf)')} AS sc
        FROM vf
    )"""
    )
    return ",".join(parts)


@query(
    "unigram_lm_train",
    oracle=f"""
    WITH RECURSIVE {_ulm_train_ctes()}
    SELECT vf.piece, CAST(len(vf.piece) AS INT) AS piece_len, vf.cnt,
           sf.sc AS score_q
    FROM vf JOIN sf ON sf.piece = vf.piece
    ORDER BY vf.piece
    """,
)
def unigram_lm_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training end to end (see the block comment):
    the final vocab with counts and integer-grid scores, fully replayed
    by the oracle's recursive-CTE training chain."""
    rows = _ulm_vocab(spark, sf_dir)
    return local_frame(
        spark,
        [(p, len(p), c, s) for p, c, s in rows],
        "piece string, piece_len int, cnt long, score_q long",
    ).orderBy("piece")


#: SQL tail of the encode oracles: per-language word count, token count
#: and fertility (x1e4) of the corpus under a ``wtok(w, ntok)`` CTE
_LANG_FERTILITY_SQL = """    corpus AS (
        SELECT lang, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
        FROM documents
    )
    SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           CAST(sum(ntok) * 10000 // count(*) AS BIGINT) AS fert_q
    FROM corpus JOIN wtok USING (w)
    GROUP BY lang ORDER BY lang
    """

#: shared by the batch encode and its streaming-ingest twin — hash
#: equality across the two IS the maintenance proof (the lang totals
#: form a monoid over micro-batch partials)
_ULM_ENCODE_ORACLE = f"""
    WITH RECURSIVE {_ulm_train_ctes()},
    {_ulm_viterbi_ctes("E", "sf")},
    wtok AS MATERIALIZED (
        SELECT w, np AS ntok FROM bestE
    ),
{_LANG_FERTILITY_SQL}"""


@query("unigram_encode_corpus", oracle=_ULM_ENCODE_ORACLE)
def unigram_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encode under the trained unigram vocab, reported as the
    per-language fertility harness (the bpe_fertility_by_lang shape):
    Viterbi runs once per DISTINCT word (vocabulary-sized mapInPandas),
    the corpus-scale pass is explode + broadcast word->ntok join + one
    lang-keyed aggregation; fertility is integer-scaled (x10000)."""
    rows = _ulm_vocab(spark, sf_dir)
    sc = {p: s for p, c, s in rows}
    wtok = _ulm_segment(_ulm_word_counts(spark, sf_dir), sc).select(
        "w", F.size("pieces").alias("ntok")
    )
    docs = load_table(spark, sf_dir, "documents", columns=["lang", "text"])
    words = spread(docs).select(
        "lang", F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    return (
        words.join(F.broadcast(wtok), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_words"),
            F.sum("ntok").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("n_tokens * 10000 div n_words").alias("fert_q"),
        )
        .orderBy("lang")
    )


# --- bigram-LM perplexity scoring (the CCNet/KenLM quality-filter
# shape, one order above the existing unigram-LM scorer): documents are
# scored by their average negative log-likelihood under a corpus-trained
# Laplace-smoothed bigram model, P(b|a) = (c2(a,b)+1) / (c1(a)+V).
# Training is two narrow aggregations (bigram counts; first-word totals
# derive from them — no second corpus pass for the denominator) and the
# model stays DISTRIBUTED: per-bigram integer-grid log-probs are
# computed in-plan (one division, one ln, one grid floor — the shared
# oracle form, with the knife-edge raise), never collected, and the
# scoring join is bigram-keyed.  Scores are exact integer sums; the
# average and the half-nat perplexity bucket use positive-side integer
# division (nll >= 0), so Spark's truncating `div` and DuckDB's
# flooring `//` agree.  Docs under 2 words have no bigrams and drop
# out (the CCNet convention: too short to score). ---
_BLM_GRID = 1_000_000
_BLM_BUCKET = 500_000  # half-nat perplexity buckets


@query(
    "bigram_lm_perplexity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    ex AS MATERIALIZED (
        SELECT doc_id, ws[i+1] AS a, ws[i+2] AS b
        FROM toks, unnest(range(len(ws) - 1)) AS t(i)
    ),
    c2 AS MATERIALIZED (
        SELECT a, b, CAST(count(*) AS BIGINT) AS cnt2 FROM ex GROUP BY a, b
    ),
    c1 AS (SELECT a, CAST(sum(cnt2) AS BIGINT) AS cnt1 FROM c2 GROUP BY a),
    vv AS (
        SELECT CAST(count(DISTINCT w) AS BIGINT) AS v
        FROM (SELECT unnest(ws) AS w FROM toks)
    ),
    lp AS MATERIALIZED (
        SELECT c2.a, c2.b,
               CAST(-floor(-ln(CAST(cnt2 + 1 AS DOUBLE) / CAST(cnt1 + v AS DOUBLE))
                           * {_BLM_GRID} + 0.5) AS BIGINT) AS lp_q
        FROM c2 JOIN c1 USING (a) CROSS JOIN vv
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(-sum(lp_q) AS BIGINT) AS nll_q,
           CAST((-sum(lp_q)) // count(*) AS BIGINT) AS nll_avg_q,
           CAST(((-sum(lp_q)) // count(*)) // {_BLM_BUCKET} AS BIGINT) AS ppl_bucket
    FROM ex JOIN lp USING (a, b)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def bigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc bigram-LM negative log-likelihood (integer grid), average
    and half-nat perplexity bucket — see the block comment."""
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    ws = F.filter(F.split("text", " "), lambda t: t != "")
    d = docs.select("doc_id", ws.alias("ws"))
    npairs = F.size("ws") - 1
    bigs = F.when(
        npairs > 0,
        F.transform(
            F.sequence(F.lit(0), npairs - 1),
            lambda i: F.struct(
                F.element_at("ws", i + 1).alias("a"),
                F.element_at("ws", i + 2).alias("b"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string>>"))
    ex = d.select("doc_id", F.explode(bigs).alias("bg")).select(
        "doc_id", F.col("bg.a").alias("a"), F.col("bg.b").alias("b")
    )
    c2 = ex.groupBy("a", "b").agg(F.count(F.lit(1)).alias("cnt2"))
    # first-word totals as a window over the bigram table (NOT a second
    # aggregation branch: a self-referencing c2 would compute the whole
    # bigram-count subtree twice — 4 scans instead of 3)
    c2 = c2.withColumn("cnt1", F.sum("cnt2").over(W.partitionBy("a")))
    vv = d.select(F.explode("ws").alias("w")).agg(
        F.countDistinct("w").alias("v")
    )
    z = (
        -F.log(
            (F.col("cnt2") + 1).cast("double") / (F.col("cnt1") + F.col("v")).cast("double")
        )
        * F.lit(float(_BLM_GRID))
        + F.lit(0.5)
    )
    edge = F.abs(z - F.round(z, 0)) < F.greatest(F.lit(1e-9), F.abs(z) * F.lit(1e-12))
    lp_q = (
        -F.when(
            edge,
            F.expr(
                "CAST(raise_error('bigram_lm_perplexity: -ln(p)*grid + 0.5 lands"
                " within the cross-engine ln guard band of a rounding boundary —"
                " bump _BLM_GRID for this corpus') AS DOUBLE)"
            ),
        ).otherwise(F.floor(z))
    ).cast("long")
    lp = c2.crossJoin(F.broadcast(vv)).select("a", "b", lp_q.alias("lp_q"))
    return (
        ex.join(lp, ["a", "b"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), (-F.sum("lp_q")).alias("nll_q"))
        .select(
            "doc_id",
            "n_bigrams",
            "nll_q",
            F.expr("nll_q div n_bigrams").alias("nll_avg_q"),
            F.expr(f"(nll_q div n_bigrams) div {_BLM_BUCKET}").alias("ppl_bucket"),
        )
        .orderBy("doc_id")
    )


# --- WordPiece tokenizer trainer (round 9 — the third member of the
# standard tokenizer trio next to BPE and unigram-LM; Schuster &
# Nakajima 2012 / BERT's trainer): per round, merge the adjacent symbol
# pair maximizing the LIKELIHOOD score count(ab) / (count(a)*count(b))
# instead of BPE's raw count(ab).  The score is quantized to the exact
# integer grid ``floor(n * 1e12 / (ca * cb))`` (ties -> (a, b) asc) so
# every selection decision is integer-exact on both engines — the same
# determinism contract as the unigram trainer's log-likelihood grid.
# The training set is the distinct-word count table (vocabulary-
# bounded; BPE's argument), trained driver-side under the shared cap;
# above it, the DISTRIBUTED loop runs the identical rounds — two
# map-side-combinable aggregations (pair counts + symbol counts) and a
# 1-row collect per round, with the score computed in DECIMAL(38,0)
# ``div`` (exact integral division at any corpus magnitude — BIGINT
# n*1e12 would overflow past n ~ 9.2e6).  The oracle replays every
# round in SQL with HUGEINT arithmetic. ---
_WP_ROUNDS = 6
_WP_GRID = 10**12


def _wp_train_rows(rows: list[tuple[int, str]]) -> list[tuple[str, str, int, int]]:
    """Driver-side rounds over (count, wrapped-symbol-string) word rows;
    returns [(a, b, pair_count, score_q)] — exact Python integers."""
    import re
    from collections import Counter

    merges: list[tuple[str, str, int, int]] = []
    states = list(rows)
    for _ in range(_WP_ROUNDS):
        pc: Counter = Counter()
        sc: Counter = Counter()
        for cnt, sep in states:
            syms = [x for x in re.split("[<>]+", sep) if x]
            for s in syms:
                sc[s] += cnt
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += cnt
        if not pc:
            break
        scored = {
            (a, b): (n * _WP_GRID) // (sc[a] * sc[b]) for (a, b), n in pc.items()
        }
        (a, b) = min(scored, key=lambda k: (-scored[k], k))
        merges.append((a, b, int(pc[(a, b)]), int(scored[(a, b)])))
        states = [(c, s.replace(f"<{a}><{b}>", f"<{a}{b}>")) for c, s in states]
    return merges


def _wp_score_expr():
    """Exact integer-grid WordPiece score over (n, ca, cb) columns:
    DECIMAL(38,0) products + integral ``div`` — bit-equal to Python's
    ``(n * 1e12) // (ca * cb)`` at any magnitude."""
    return F.expr(
        f"CAST(CAST(n AS DECIMAL(38,0)) * {_WP_GRID} div "
        "(CAST(ca AS DECIMAL(38,0)) * CAST(cb AS DECIMAL(38,0))) AS BIGINT)"
    )


def _wp_train_distributed(state: DataFrame) -> list[tuple[str, str, int, int]]:
    """The identical rounds as DataFrame jobs for above-cap vocabularies:
    per round two aggregations + ONE 1-row collect; the word-state
    column mutates via the same in-row replace and checkpoints per round
    (bounded lineage, the graph-loop pattern)."""
    merges: list[tuple[str, str, int, int]] = []
    for _ in range(_WP_ROUNDS):
        syms = _bpe_syms(F.col("s"))
        scnt = (
            state.select("cnt", F.explode(syms).alias("sym"))
            .groupBy("sym")
            .agg(F.sum("cnt").alias("c"))
        )
        pairs = state.filter(F.size(syms) >= 2).select(
            "cnt",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.size(syms) - 2),
                    lambda i: F.struct(
                        F.element_at(syms, i + 1).alias("a"),
                        F.element_at(syms, i + 2).alias("b"),
                    ),
                )
            ).alias("p"),
        )
        pc = pairs.groupBy("p.a", "p.b").agg(F.sum("cnt").alias("n"))
        scored = (
            pc.join(scnt.select(F.col("sym").alias("a"), F.col("c").alias("ca")), "a")
            .join(scnt.select(F.col("sym").alias("b"), F.col("c").alias("cb")), "b")
            .select("a", "b", "n", _wp_score_expr().alias("score_q"))
        )
        top = scored.orderBy(F.desc("score_q"), F.asc("a"), F.asc("b")).limit(1).collect()
        if not top:
            break
        r = top[0]
        merges.append((r.a, r.b, int(r.n), int(r.score_q)))
        state = state.withColumn(
            "s",
            F.replace(F.col("s"), F.lit(f"<{r.a}><{r.b}>"), F.lit(f"<{r.a}{r.b}>")),
        ).transform(checkpoint_df)
    return merges


@artifact("wordpiece_merges")
def wordpiece_train(spark: SparkSession, sf_dir: str) -> list[tuple[str, str, int, int]]:
    """Learn ``_WP_ROUNDS`` likelihood-scored merges; the
    ``wordpiece_merges`` session artifact, like the BPE merge table."""
    state = _bpe_word_state(spark, sf_dir)
    head = state.take(_BPE_DRIVER_CAP + 1)
    if len(head) <= _BPE_DRIVER_CAP:
        return _wp_train_rows([(r.cnt, r.s) for r in head])
    return _wp_train_distributed(state)


def _wp_round_ctes() -> str:
    """The DuckDB mirror: K materialized rounds with HUGEINT scoring."""
    parts = [
        """
    wpstate0 AS MATERIALIZED (
        SELECT w, cnt,
               regexp_replace(replace(replace(w, '<', ''), '>', ''), '(.)', '<\\1>', 'g') AS s
        FROM (
            SELECT w, count(*) AS cnt
            FROM (
                SELECT unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS w
                FROM documents
            )
            GROUP BY w
        )
        WHERE length(replace(replace(w, '<', ''), '>', '')) > 0
    )"""
    ]
    for r in range(1, _WP_ROUNDS + 1):
        parts.append(f"""
    wsyms{r} AS MATERIALIZED (
        SELECT cnt, string_split(regexp_replace(s, '^<|>$', '', 'g'), '><') AS syms
        FROM wpstate{r - 1}
    ),
    wscnt{r} AS MATERIALIZED (
        SELECT sym, CAST(sum(cnt) AS BIGINT) AS c
        FROM (SELECT cnt, unnest(syms) AS sym FROM wsyms{r})
        GROUP BY sym
    ),
    wpairs{r} AS MATERIALIZED (
        SELECT syms[i] AS a, syms[i + 1] AS b, CAST(sum(cnt) AS BIGINT) AS n
        FROM wsyms{r}, unnest(range(1, len(syms))) AS t(i)
        GROUP BY a, b
    ),
    wbest{r} AS MATERIALIZED (
        SELECT p.a, p.b, p.n,
               CAST(CAST(p.n AS HUGEINT) * {_WP_GRID}
                    // (CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS score_q
        FROM wpairs{r} p
        JOIN wscnt{r} ca ON ca.sym = p.a
        JOIN wscnt{r} cb ON cb.sym = p.b
        ORDER BY score_q DESC, p.a, p.b LIMIT 1
    ),
    wpstate{r} AS MATERIALIZED (
        SELECT w, cnt, replace(s, '<' || a || '><' || b || '>', '<' || a || b || '>') AS s
        FROM wpstate{r - 1}, wbest{r}
    )""")
    return ",".join(parts)


@query(
    "wordpiece_train_merges",
    oracle=f"""
    WITH {_wp_round_ctes()}
    SELECT * FROM (
        {" UNION ALL ".join(
            f"SELECT {r} AS rank, a || '+' || b AS pair, n, score_q FROM wbest{r}"
            for r in range(1, _WP_ROUNDS + 1)
        )}
    )
    ORDER BY rank
    """,
)
def wordpiece_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned WordPiece merge table (rank, pair, weighted pair
    count, integer-grid likelihood score) — the full training chain
    replayed by the oracle round for round."""
    merges = wordpiece_train(spark, sf_dir)
    return local_frame(
        spark,
        [(r + 1, f"{a}+{b}", n, sq) for r, (a, b, n, sq) in enumerate(merges)],
        "rank int, pair string, n long, score_q long",
    ).orderBy("rank")


# --- WordPiece greedy encode (the BERT inference algorithm): per word,
# repeatedly take the LONGEST vocab piece matching at the cursor (vocab
# = every seen single char + the trained merge results; no ##-prefix
# distinction — the SentencePiece-style variant).  A piece built from k
# merges has length <= k + 1 (induction over concatenations), so the
# max piece length is statically _WP_ROUNDS + 1 and the oracle replays
# the greedy scan as a linear recursion — one level per EMITTED token,
# longest match chosen by a static coalesce ladder over per-length
# vocab joins.  Engine side: the Arrow greedy kernel runs once per
# DISTINCT word (vocabulary-sized), the corpus pass is explode +
# broadcast word->ntok join (the unigram-encode shape). ---
def _wp_vocab_set(spark: SparkSession, sf_dir: str) -> set[str]:
    merges = wordpiece_train(spark, sf_dir)
    state = _bpe_word_state(spark, sf_dir)
    chars = {
        r.ch
        for r in state.select(
            F.explode(F.split(_bpe_clean_word(F.col("w")), "")).alias("ch")
        )
        .filter(F.col("ch") != "")
        .distinct()
        .collect()
    }
    return chars | {a + b for a, b, _, _ in merges}


def _wp_greedy_ntok(w: str, vocab: set[str], maxlen: int) -> int:
    pos, ntok = 0, 0
    while pos < len(w):
        for l in range(min(maxlen, len(w) - pos), 0, -1):
            if w[pos:pos + l] in vocab:
                pos += l
                ntok += 1
                break
        else:  # unreachable: every corpus char is in the vocab
            raise ValueError(f"wordpiece: uncoverable word {w!r}")
    return ntok


#: shared by the batch encode and its streaming-ingest twin (hash
#: equality across the two IS the maintenance proof — the lang totals
#: form a monoid over micro-batch partials, the unigram contract)
_WP_ENCODE_ORACLE = f"""
    WITH RECURSIVE {_wp_round_ctes()},
    wvocab AS MATERIALIZED (
        SELECT DISTINCT piece FROM (
            SELECT unnest(string_split(regexp_replace(s, '^<|>$', '', 'g'), '><')) AS piece
            FROM wpstate0
            UNION ALL
            {" UNION ALL ".join(f"SELECT a || b FROM wbest{r}" for r in range(1, _WP_ROUNDS + 1))}
        ) WHERE piece <> ''
    ),
    wpwords AS MATERIALIZED (
        SELECT replace(replace(w, '<', ''), '>', '') AS cw, w
        FROM wpstate0
    ),
    wpenc AS (
        SELECT cw, w, 0 AS pos, 0 AS ntok FROM wpwords
        UNION ALL
        SELECT e.cw, e.w,
               e.pos + coalesce({", ".join(f"len(v{l}.piece)" for l in range(_WP_ROUNDS + 1, 0, -1))}),
               e.ntok + 1
        FROM wpenc e
        {chr(10).join(
            f"        LEFT JOIN wvocab v{l} ON len(v{l}.piece) = {l}"
            f" AND substr(e.cw, e.pos + 1, {l}) = v{l}.piece"
            for l in range(_WP_ROUNDS + 1, 0, -1)
        )}
        WHERE e.pos < len(e.cw)
    ),
    wtok AS MATERIALIZED (
        SELECT w, ntok FROM wpenc WHERE pos = len(cw)
    ),
{_LANG_FERTILITY_SQL}"""


@query("wordpiece_encode_corpus", oracle=_WP_ENCODE_ORACLE)
def wordpiece_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus encode under the trained WordPiece vocab, reported as the
    per-language fertility harness (the unigram_encode_corpus shape):
    greedy longest-match runs once per distinct word in an Arrow batch,
    the corpus is touched once."""

    vocab = _wp_vocab_set(spark, sf_dir)
    maxlen = _WP_ROUNDS + 1

    def run(it):
        for pdf in it:
            yield pd.DataFrame(
                {
                    "w": pdf["w"],
                    "ntok": [
                        _wp_greedy_ntok(w.replace("<", "").replace(">", ""), vocab, maxlen)
                        for w in pdf["w"]
                    ],
                }
            )

    state = _bpe_word_state(spark, sf_dir)
    wtok = state.select("w").mapInPandas(run, schema="w string, ntok int")
    docs = load_table(spark, sf_dir, "documents", columns=["lang", "text"])
    words = docs.select(
        "lang", F.explode(F.filter(F.split("text", " "), lambda x: x != "")).alias("w")
    )
    return (
        words.join(F.broadcast(wtok), "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("ntok").cast("long").alias("n_tokens"),
        )
        .select(
            "lang",
            "n_words",
            "n_tokens",
            F.expr("n_tokens * 10000 div n_words").cast("long").alias("fert_q"),
        )
        .orderBy("lang")
    )


# --- interpolated TRIGRAM-LM perplexity (round 9 — one order above the
# bigram scorer; the Jelinek-Mercer interpolation KenLM-style pipelines
# use when Kneser-Ney's discount bookkeeping isn't warranted):
# P(c|a,b) = 0.6*c3(abc)/c2(ab) + 0.3*c2(bc)/c1(b) + 0.1*(c1(c)+1)/(T+V),
# every marginal derived from the SAME trigram count table (the closed
# convention: c2(ab) = sum_c c3, c2(bc) = sum_a c3, c1(b), c1(c), T —
# one corpus shuffle builds c3, four map-side-combinable marginal
# aggregations + joins stay at n-gram-type grain).  Every division's
# inputs are exact integers cast to double, the three-term sum is
# written in one fixed order on both engines, and the single ln rides
# the shared integer grid with the in-plan knife-edge raise — so
# per-trigram log-probs are bit-identical and doc sums are exact
# integer arithmetic.  Docs under 3 words have no trigrams and drop out
# (the scoring convention the bigram op documents). ---
_TLM_GRID = 1_000_000
_TLM_BUCKET = 500_000
_TLM_L3, _TLM_L2, _TLM_L1 = 0.6, 0.3, 0.1


@query(
    "trigram_lm_perplexity",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS ws
        FROM documents
    ),
    ex AS MATERIALIZED (
        SELECT doc_id, ws[i+1] AS a, ws[i+2] AS b, ws[i+3] AS c
        FROM toks, unnest(range(len(ws) - 2)) AS t(i)
    ),
    c3 AS MATERIALIZED (
        SELECT a, b, c, CAST(count(*) AS BIGINT) AS n3 FROM ex GROUP BY a, b, c
    ),
    m_ab AS (SELECT a, b, CAST(sum(n3) AS BIGINT) AS nab FROM c3 GROUP BY a, b),
    m_bc AS (SELECT b, c, CAST(sum(n3) AS BIGINT) AS nbc FROM c3 GROUP BY b, c),
    m_b AS (SELECT b, CAST(sum(n3) AS BIGINT) AS nb FROM c3 GROUP BY b),
    m_c AS (SELECT c, CAST(sum(n3) AS BIGINT) AS nc FROM c3 GROUP BY c),
    tot AS (
        SELECT CAST(sum(n3) AS BIGINT) AS t,
               CAST(count(DISTINCT c) AS BIGINT) AS v
        FROM c3
    ),
    lp AS MATERIALIZED (
        SELECT c3.a, c3.b, c3.c,
               CAST(-floor(-ln(
                   {_TLM_L3} * (CAST(n3 AS DOUBLE) / CAST(nab AS DOUBLE))
                   + {_TLM_L2} * (CAST(nbc AS DOUBLE) / CAST(nb AS DOUBLE))
                   + {_TLM_L1} * (CAST(nc + 1 AS DOUBLE) / CAST(t + v AS DOUBLE))
               ) * {_TLM_GRID} + 0.5) AS BIGINT) AS lp_q
        FROM c3
        JOIN m_ab USING (a, b)
        JOIN m_bc USING (b, c)
        JOIN m_b USING (b)
        JOIN m_c USING (c)
        CROSS JOIN tot
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_trigrams,
           CAST(-sum(lp_q) AS BIGINT) AS nll_q,
           CAST((-sum(lp_q)) // count(*) AS BIGINT) AS nll_avg_q,
           CAST(((-sum(lp_q)) // count(*)) // {_TLM_BUCKET} AS BIGINT) AS ppl_bucket
    FROM ex JOIN lp USING (a, b, c)
    GROUP BY doc_id ORDER BY doc_id
    """,
)
def trigram_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc interpolated trigram-LM negative log-likelihood (integer
    grid), average and half-nat perplexity bucket — see the block
    comment."""
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    ws = F.filter(F.split("text", " "), lambda t: t != "")
    d = docs.select("doc_id", ws.alias("ws"))
    ntri = F.size("ws") - 2
    tris = F.when(
        ntri > 0,
        F.transform(
            F.sequence(F.lit(0), ntri - 1),
            lambda i: F.struct(
                F.element_at("ws", i + 1).alias("a"),
                F.element_at("ws", i + 2).alias("b"),
                F.element_at("ws", i + 3).alias("c"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<a:string,b:string,c:string>>"))
    ex = d.select("doc_id", F.explode(tris).alias("tg")).select(
        "doc_id",
        F.col("tg.a").alias("a"),
        F.col("tg.b").alias("b"),
        F.col("tg.c").alias("c"),
    )
    # ONE corpus-grain shuffle; everything below is n-gram-type grain.
    # checkpoint so the four marginal branches + the scoring join read
    # the counted table, not four recomputations of the corpus explode
    c3 = ex.groupBy("a", "b", "c").agg(F.count(F.lit(1)).alias("n3")).transform(checkpoint_df)
    m_ab = c3.groupBy("a", "b").agg(F.sum("n3").alias("nab"))
    m_bc = c3.groupBy("b", "c").agg(F.sum("n3").alias("nbc"))
    m_b = c3.groupBy("b").agg(F.sum("n3").alias("nb"))
    m_c = c3.groupBy("c").agg(F.sum("n3").alias("nc"))
    tot = c3.agg(
        F.sum("n3").alias("t"), F.countDistinct("c").alias("v")
    )
    p = (
        F.lit(_TLM_L3) * (F.col("n3").cast("double") / F.col("nab").cast("double"))
        + F.lit(_TLM_L2) * (F.col("nbc").cast("double") / F.col("nb").cast("double"))
        + F.lit(_TLM_L1)
        * ((F.col("nc") + 1).cast("double") / (F.col("t") + F.col("v")).cast("double"))
    )
    z = -F.log(p) * F.lit(float(_TLM_GRID)) + F.lit(0.5)
    edge = F.abs(z - F.round(z, 0)) < F.greatest(F.lit(1e-9), F.abs(z) * F.lit(1e-12))
    lp_q = (
        -F.when(
            edge,
            F.expr(
                "CAST(raise_error('trigram_lm_perplexity: -ln(p)*grid + 0.5 lands"
                " within the cross-engine ln guard band of a rounding boundary —"
                " bump _TLM_GRID for this corpus') AS DOUBLE)"
            ),
        ).otherwise(F.floor(z))
    ).cast("long")
    lp = (
        c3.join(m_ab, ["a", "b"])
        .join(m_bc, ["b", "c"])
        .join(m_b, "b")
        .join(m_c, "c")
        .crossJoin(F.broadcast(tot))
        .select("a", "b", "c", lp_q.alias("lp_q"))
    )
    return (
        ex.join(lp, ["a", "b", "c"])
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_trigrams"), (-F.sum("lp_q")).alias("nll_q"))
        .select(
            "doc_id",
            "n_trigrams",
            "nll_q",
            F.expr("nll_q div n_trigrams").alias("nll_avg_q"),
            F.expr(f"(nll_q div n_trigrams) div {_TLM_BUCKET}").alias("ppl_bucket"),
        )
        .orderBy("doc_id")
    )


# --- T5-style span corruption (Raffel et al. 2020): the pretraining
# target generator — mask ~15% of each document in multi-token spans,
# emit the sentinel-bridged encoder input and the sentinel->span decoder
# target.  Masking is DETERMINISTIC per (doc, block): the reference's
# sha256-seed recipe (functions/hashing.py, reference seeds.py) decides
# each fixed-width block, so the whole generator is one in-row
# expression chain over the token array — ZERO shuffles, exactly what a
# 100 TB target-generation pass wants — and the DuckDB oracle replays
# the identical hash arithmetic.  Sentinels are consecutive per doc
# (<extra_id_0>, <extra_id_1>, ...), the T5 convention.
_SPAN_BLOCK = 3  # tokens per maskable block (mean noise span length)
_SPAN_DEN = 20
_SPAN_NUM = 3  # 3/20 = 15% of blocks masked


@query(
    "span_corruption_targets",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    blocks AS (
        SELECT doc_id, (i - 1) // {_SPAN_BLOCK} AS bi,
               string_agg(w, ' ' ORDER BY i) AS btext,
               CAST(count(*) AS BIGINT) AS ntok,
               (('0x' || substr(sha256(doc_id || '|' || ((i - 1) // {_SPAN_BLOCK})), 1, 15))::BIGINT
                % {_SPAN_DEN}) < {_SPAN_NUM} AS masked
        FROM (SELECT doc_id, unnest(ts) AS w, generate_subscripts(ts, 1) AS i FROM toks)
        GROUP BY doc_id, (i - 1) // {_SPAN_BLOCK}
    ),
    numbered AS (
        SELECT doc_id, bi, btext, ntok, masked,
               CAST(coalesce(sum(CASE WHEN masked THEN 1 ELSE 0 END) OVER (
                   PARTITION BY doc_id ORDER BY bi
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS k
        FROM blocks
    )
    SELECT doc_id,
           CAST(sum(ntok) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_blocks,
           CAST(coalesce(sum(ntok) FILTER (WHERE masked), 0) AS BIGINT) AS n_masked,
           CAST(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT) AS n_spans,
           md5(string_agg(CASE WHEN masked THEN '<extra_id_' || k || '>'
                               ELSE btext END, ' ' ORDER BY bi)) AS inputs_sig,
           md5(coalesce(string_agg('<extra_id_' || k || '> ' || btext, ' ' ORDER BY bi)
                        FILTER (WHERE masked), '')) AS targets_sig
    FROM numbered GROUP BY doc_id
    """,
)
def span_corruption_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc span-corruption pair digests: ``(doc_id, n_tokens,
    n_blocks, n_masked, n_spans, inputs_sig, targets_sig)``.

    Plan shape: block split and the sha256 mask decision are in-row;
    the consecutive sentinel numbering is ONE doc-partitioned running
    count whose doc clustering the rollup aggregate reuses — a single
    doc-grain shuffle for the whole generator.  Cites reference
    production/cms/seeds.py:26-55 for the per-entity sha256 seed shape."""

    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    segs = segment_docs_width(docs, _SPAN_BLOCK).withColumn(
        "masked",
        F.pmod(seed_long(F.col("doc_id"), F.col("seg_idx")), F.lit(_SPAN_DEN))
        < _SPAN_NUM,
    )
    kwin = (
        W.partitionBy("doc_id")
        .orderBy("seg_idx")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    numbered = segs.withColumn(
        "k",
        F.coalesce(
            F.sum(F.when(F.col("masked"), 1).otherwise(0)).over(kwin), F.lit(0)
        ).cast("long"),
    )
    inp = F.when(
        F.col("masked"), F.concat(F.lit("<extra_id_"), F.col("k"), F.lit(">"))
    ).otherwise(F.col("seg_text"))
    tgt = F.when(
        F.col("masked"),
        F.concat(F.lit("<extra_id_"), F.col("k"), F.lit("> "), F.col("seg_text")),
    )
    return numbered.groupBy("doc_id").agg(
        F.sum("ntok").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.coalesce(F.sum(F.when(F.col("masked"), F.col("ntok"))), F.lit(0))
        .cast("long")
        .alias("n_masked"),
        F.sum(F.col("masked").cast("long")).cast("long").alias("n_spans"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct("seg_idx", inp.alias("v")))),
                    lambda s: s["v"],
                ),
                " ",
            )
        ).alias("inputs_sig"),
        F.md5(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.when(F.col("masked"), F.struct("seg_idx", tgt.alias("v"))))),
                    lambda s: s["v"],
                ),
                " ",
            )
        ).alias("targets_sig"),
    )


def segment_docs_width(docs: DataFrame, width: int) -> DataFrame:
    """:func:`segment_docs` at an arbitrary block width."""
    toks = docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda t: t != "").alias("ts")
    )
    segs_arr = F.when(F.size("ts") == 0, F.expr("array()")).otherwise(
        F.expr(
            f"transform(sequence(0, CAST(ceil(size(ts) / {width}.0) AS INT) - 1), "
            f"i -> struct(array_join(slice(ts, i * {width} + 1, {width}), ' ') AS seg_text, "
            f"CAST(size(slice(ts, i * {width} + 1, {width})) AS BIGINT) AS ntok))"
        )
    )
    return toks.select(
        "doc_id", F.posexplode(segs_arr).alias("seg_idx", "seg")
    ).select("doc_id", "seg_idx", F.col("seg.seg_text").alias("seg_text"), F.col("seg.ntok").alias("ntok"))


# --- FIM (fill-in-the-middle) transformation (Bavarian et al. 2022;
# the StarCoder/Codex pretraining transform): for a deterministic half
# of the corpus, split the token stream at two seeded cut points and
# re-order to PSM (prefix-suffix-middle) with sentinel tokens, so the
# model learns infilling.  Like span corruption the WHOLE transform is
# in-row (two sha256 draws + array slices) — a 100 TB pass is one scan.
_FIM_RATE_MOD = 2  # seed % 2 == 0 -> ~50% of docs transformed


@query(
    "fim_transform_targets",
    oracle="""
    WITH toks AS (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    cuts AS (
        SELECT doc_id, ts, len(ts) AS n,
               (('0x' || substr(sha256(doc_id || '|0'), 1, 15))::BIGINT % 2 = 0)
                   AS fim_applied,
               ('0x' || substr(sha256(doc_id || '|1'), 1, 15))::BIGINT
                   % greatest(len(ts), 1) AS u1,
               ('0x' || substr(sha256(doc_id || '|2'), 1, 15))::BIGINT
                   % greatest(len(ts), 1) AS u2
        FROM toks
    ),
    spans AS (
        SELECT doc_id, ts, n, fim_applied,
               least(u1, u2) AS c1, greatest(u1, u2) AS c2
        FROM cuts
    )
    SELECT doc_id, fim_applied,
           CAST(CASE WHEN fim_applied THEN c1 ELSE n END AS BIGINT) AS n_prefix,
           CAST(CASE WHEN fim_applied THEN c2 - c1 ELSE 0 END AS BIGINT) AS n_middle,
           CAST(CASE WHEN fim_applied THEN n - c2 ELSE 0 END AS BIGINT) AS n_suffix,
           -- DuckDB array_to_string([]) is NULL (Spark array_join is '');
           -- coalesce each piece so empty prefix/middle/suffix cannot
           -- poison the concat
           md5(CASE WHEN fim_applied THEN
                   '<fim_prefix> ' || coalesce(array_to_string(ts[1:c1], ' '), '')
                   || ' <fim_suffix> ' || coalesce(array_to_string(ts[c2+1:n], ' '), '')
                   || ' <fim_middle> ' || coalesce(array_to_string(ts[c1+1:c2], ' '), '')
               ELSE coalesce(array_to_string(ts, ' '), '') END) AS sig
    FROM spans
    """,
)
def fim_transform_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, fim_applied, n_prefix, n_middle, n_suffix, sig)`` —
    the PSM re-ordering digest for the transformed half, the identity
    digest for the rest.  Zero shuffles: scan-and-emit."""

    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    toks = docs.select(
        "doc_id", F.filter(F.split("text", " "), lambda t: t != "").alias("ts")
    )
    n = F.size("ts")
    cuts = toks.select(
        "doc_id",
        "ts",
        n.alias("n"),
        (F.pmod(seed_long(F.col("doc_id"), F.lit(0)), F.lit(_FIM_RATE_MOD)) == 0).alias(
            "fim_applied"
        ),
        F.pmod(seed_long(F.col("doc_id"), F.lit(1)), F.greatest(n, F.lit(1))).alias("u1"),
        F.pmod(seed_long(F.col("doc_id"), F.lit(2)), F.greatest(n, F.lit(1))).alias("u2"),
    ).select(
        "doc_id",
        "ts",
        "n",
        "fim_applied",
        F.least("u1", "u2").alias("c1"),
        F.greatest("u1", "u2").alias("c2"),
    )
    psm = F.concat(
        F.lit("<fim_prefix> "),
        F.array_join(F.slice(F.col("ts"), 1, F.col("c1")), " "),
        F.lit(" <fim_suffix> "),
        F.array_join(
            F.slice(F.col("ts"), F.col("c2") + 1, F.greatest(F.col("n") - F.col("c2"), F.lit(0))),
            " ",
        ),
        F.lit(" <fim_middle> "),
        F.array_join(
            F.slice(F.col("ts"), F.col("c1") + 1, F.col("c2") - F.col("c1")), " "
        ),
    )
    return cuts.select(
        "doc_id",
        "fim_applied",
        F.when(F.col("fim_applied"), F.col("c1")).otherwise(F.col("n")).cast("long").alias("n_prefix"),
        F.when(F.col("fim_applied"), F.col("c2") - F.col("c1")).otherwise(0).cast("long").alias("n_middle"),
        F.when(F.col("fim_applied"), F.col("n") - F.col("c2")).otherwise(0).cast("long").alias("n_suffix"),
        F.md5(
            F.when(F.col("fim_applied"), psm).otherwise(F.array_join("ts", " "))
        ).alias("sig"),
    )
