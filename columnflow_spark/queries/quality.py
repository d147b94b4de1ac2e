"""Corpus quality operators: heuristics, gates, classifiers, scoring.

Text-quality and repetition heuristics, language ID, normalization,
per-source statistics, the multi-rule quality gate and the composed
curation / training-corpus funnels, PII redaction and regex flags,
logistic-regression training (gradient step, fit), the hashing-TF
quality classifier and its calibration curve, per-source quantile
calibration, TF-IDF and chi-square feature selection, and the UDF-seam
operators (pandas UDAF, Python UDTF, Python DataSource).  Session
artifacts: ``logreg_weights``, ``tf_features``, ``tf_threshold`` and
``tf_weights``.
"""

from __future__ import annotations

import math

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnflow_spark.core.artifacts import artifact
from columnflow_spark.core.state import checkpoint_df
from columnflow_spark.functions.similarity import chunked_self_pairs, lsh_band_keys
from columnflow_spark.functions.text import (
    STOPWORDS,
    avg_token_len,
    n_tokens,
    stopword_ratio,
    tokens,
    word_shingles,
)
from columnflow_spark.queries import query
from columnflow_spark.queries.textdedup import (
    JACCARD_THRESHOLD,
    LSH_BUCKET_CAP,
    _GRAMS_CTE,
    _verify_pairs_exact,
    hashed_grams,
    minhash_sigs,
)
from columnflow_spark.queries.tokenlm import (
    _BPE_ROUNDS,
    _bpe_clean_sql,
    _bpe_clean_word,
    _bpe_round_ctes,
    bpe_ntokens_expr,
    bpe_train,
)
from columnflow_spark.sources import load_table, spread
from columnflow_spark.sources.sinks import local_frame


# --- text quality scoring ---
@query(
    "text_quality",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, n_chars,
               list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents
    ),
    m AS (
        SELECT doc_id, lang, n_chars,
               len(ts) AS n_tokens,
               round(list_aggregate(list_transform(ts, x -> length(x)), 'sum') * 1.0 / len(ts), 4) AS avg_token_len,
               round(len(list_filter(ts, x -> x IN {STOPWORDS!r})) * 1.0 / len(ts), 4) AS stop_ratio
        FROM t
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(n_tokens), 4) AS mean_tokens,
           round(avg(avg_token_len), 4) AS mean_token_len,
           round(avg(stop_ratio), 4) AS mean_stop_ratio,
           count(*) FILTER (WHERE n_tokens >= 50 AND stop_ratio <= 0.3) AS n_high_quality
    FROM m
    GROUP BY lang
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "lang", "n_chars", "text"])
    t = F.col("text")
    m = docs.select(
        "lang",
        n_tokens(t).alias("nt"),
        F.round(avg_token_len(t), 4).alias("atl"),
        F.round(stopword_ratio(t), 4).alias("sr"),
    )
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("nt"), 4).alias("mean_tokens"),
        F.round(F.avg("atl"), 4).alias("mean_token_len"),
        F.round(F.avg("sr"), 4).alias("mean_stop_ratio"),
        F.count_if((F.col("nt") >= 50) & (F.col("sr") <= 0.3)).alias("n_high_quality"),
    )


# --- language-ID heuristic (marker-word voting; deterministic) ---
@query(
    "lang_id_heuristic",
    oracle="""
    WITH scored AS (
        SELECT lang,
               len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''), x -> x IN ('the', 'a', 'of'))) AS en_score,
               len(list_filter(list_filter(string_split(text, ' '), x -> x <> ''), x -> x IN ('query', 'table'))) AS tech_score
        FROM documents
    )
    SELECT lang,
           CASE WHEN en_score > tech_score THEN 'en-like'
                WHEN tech_score > 0 THEN 'tech'
                ELSE 'unknown' END AS predicted,
           count(*) AS n
    FROM scored
    GROUP BY 1, 2
    """,
)
def lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["lang", "text"])
    toks = tokens(F.col("text"))
    en_score = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of")))
    tech_score = F.size(F.filter(toks, lambda x: x.isin("query", "table")))
    predicted = (
        F.when(en_score > tech_score, F.lit("en-like"))
        .when(tech_score > 0, F.lit("tech"))
        .otherwise(F.lit("unknown"))
    )
    return docs.select("lang", predicted.alias("predicted")).groupBy("lang", "predicted").agg(
        F.count(F.lit(1)).alias("n")
    )


# --- corpus curation pipeline: the composed end-to-end filter chain a
# training corpus actually goes through — language gate, quality gate
# (token count + stopword ratio), exact-dup canonicalization (keep the
# min doc_id per normalized fingerprint), then per-source yield
# accounting.  One scan feeds everything; dedup is one groupBy on the
# 16-byte digest; all gates are codegen'd predicates, so the 100 TB cost
# is scan + a single digest-keyed shuffle. ---
@query(
    "corpus_curation_pipeline",
    oracle="""
    WITH base AS (
        SELECT doc_id, source, text,
               list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents
        WHERE lang IN ('en', 'de')
    ),
    gated AS (
        SELECT doc_id, source, text, len(ts) AS n_tok
        FROM base
        WHERE len(ts) >= 20
          AND len(list_filter(ts, x -> x IN ('the', 'a', 'of', 'and', 'is'))) * 1.0 / len(ts) <= 0.4
    ),
    canon AS (
        SELECT *, row_number() OVER (
            PARTITION BY md5(regexp_replace(trim(lower(text)), ' +', ' ', 'g'))
            ORDER BY doc_id
        ) AS rn
        FROM gated
    )
    SELECT source,
           count(*) AS n_kept,
           CAST(sum(n_tok) AS BIGINT) AS tokens_kept
    FROM canon
    WHERE rn = 1
    GROUP BY source
    """,
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "lang", "text"]))
    t = F.col("text")
    toks = tokens(t)
    stop_hits = F.size(F.filter(toks, lambda x: x.isin("the", "a", "of", "and", "is")))
    gated = (
        docs.filter(F.col("lang").isin("en", "de"))
        .withColumn("n_tok", F.size(toks))
        .filter((F.col("n_tok") >= 20) & (stop_hits / F.col("n_tok") <= 0.4))
    )
    norm = F.regexp_replace(F.trim(F.lower(t)), " +", " ")
    # keep-first-per-fingerprint as an AGGREGATION (min_by on doc_id),
    # not a window sort: the keep decision partial-aggregates map-side,
    # so the shuffle carries one candidate row per fingerprint per
    # partition instead of every gated row through a sorted window
    kept = (
        gated.groupBy(F.md5(norm).alias("fp"))
        .agg(F.min_by(F.struct("source", "n_tok"), F.col("doc_id")).alias("k"))
        .select(F.col("k.source").alias("source"), F.col("k.n_tok").alias("n_tok"))
    )
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.sum("n_tok").alias("tokens_kept"),
    )


# --- within-doc repetition scoring (Gopher/C4-style quality signal):
# the ratio of distinct tokens / distinct trigrams to their totals flags
# boilerplate and looping generations.  Pure per-row expressions + one
# partial-aggregated groupBy — no shuffle beyond the final per-source agg. ---
@query(
    "doc_repetition_score",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents
    ),
    m AS (
        SELECT doc_id, source,
               len(ts) AS n_tok,
               round(len(list_distinct(ts)) * 1.0 / len(ts), 4) AS uniq_tok_ratio,
               round(len(list_distinct(list_transform(range(1, len(ts) - 1),
                           i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])))
                     * 1.0 / (len(ts) - 2), 4) AS uniq_tri_ratio
        FROM t WHERE len(ts) >= 3
    )
    SELECT source,
           count(*) AS n_docs,
           round(avg(uniq_tok_ratio), 4) AS mean_uniq_tok,
           round(avg(uniq_tri_ratio), 4) AS mean_uniq_tri,
           count(*) FILTER (WHERE uniq_tri_ratio < 0.7) AS n_repetitive
    FROM m GROUP BY source
    """,
)
def doc_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    uniq_tok = F.round(F.size(F.array_distinct(toks)) / n_tok, 4)
    uniq_tri = F.round(F.size(word_shingles(F.col("text"), 3)) / (n_tok - 2), 4)
    m = docs.filter(n_tok >= 3).select(
        "source", uniq_tok.alias("uniq_tok_ratio"), uniq_tri.alias("uniq_tri_ratio")
    )
    return m.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("uniq_tok_ratio"), 4).alias("mean_uniq_tok"),
        F.round(F.avg("uniq_tri_ratio"), 4).alias("mean_uniq_tri"),
        F.sum(F.when(F.col("uniq_tri_ratio") < 0.7, 1).otherwise(0)).alias("n_repetitive"),
    )


# --- multi-rule quality gate: per-language violation counts for each
# filter rule of a curation pipeline, all in ONE conditional aggregation
# pass (the same shape as the reference's increment_stats weight_map,
# reference columnflow/selection/stats.py:28 — counters via sum(when)). ---
@query(
    "quality_gate_rules",
    oracle="""
    WITH t AS (
        SELECT lang, list_filter(string_split(text, ' '), x -> x <> '') AS ts
        FROM documents
    ),
    m AS (
        SELECT lang,
               len(ts) AS n_tok,
               list_aggregate(list_transform(ts, x -> length(x)), 'sum') * 1.0 / len(ts) AS mean_len,
               len(list_distinct(ts)) * 1.0 / len(ts) AS uniq_ratio
        FROM t WHERE len(ts) > 0
    )
    SELECT lang,
           count(*) AS n_docs,
           count(*) FILTER (WHERE n_tok < 20 OR n_tok > 1000) AS n_fail_length,
           count(*) FILTER (WHERE mean_len < 2 OR mean_len > 12) AS n_fail_wordlen,
           count(*) FILTER (WHERE uniq_ratio < 0.3) AS n_fail_repetition,
           count(*) FILTER (WHERE n_tok BETWEEN 20 AND 1000
                              AND mean_len BETWEEN 2 AND 12
                              AND uniq_ratio >= 0.3) AS n_keep
    FROM m GROUP BY lang
    """,
)
def quality_gate_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["lang", "text"])
    toks = tokens(F.col("text"))
    n_tok = F.size(toks)
    mean_len = F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)) / n_tok
    uniq = F.size(F.array_distinct(toks)) / n_tok
    m = docs.filter(n_tok > 0).select(
        "lang", n_tok.alias("n_tok"), mean_len.alias("mean_len"), uniq.alias("uniq_ratio")
    )
    ok_len = F.col("n_tok").between(20, 1000)
    ok_wl = F.col("mean_len").between(2, 12)
    ok_rep = F.col("uniq_ratio") >= 0.3
    cnt_if = lambda c: F.sum(F.when(c, 1).otherwise(0))  # noqa: E731
    return m.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        cnt_if(~ok_len).alias("n_fail_length"),
        cnt_if(~ok_wl).alias("n_fail_wordlen"),
        cnt_if(~ok_rep).alias("n_fail_repetition"),
        cnt_if(ok_len & ok_wl & ok_rep).alias("n_keep"),
    )


# --- one distributed logistic-regression gradient step (the iterative
# complement to ml_train_linreg's closed form): grad_j = sum_i
# (sigmoid(w.x_i) - y_i) * x_ij at a fixed literal w.  The dot product is
# an in-row HOF fold; the per-component sum posexplodes to (j, term) rows
# so the gradient is ONE groupBy(j) partial+final agg — at 100 TB each
# executor emits 64 partial sums, nothing else moves.  Iterating = the
# driver feeding w back in; each step stays this same single-shuffle job. ---
_LOGREG_W0 = 0.01  # shared initial weight for every component

# K-step training loop shared by ml_logreg_fit and the classifier
# filters (batch + streaming): each step is ONE distributed aggregation
# whose 64-row result (the model, never data) is folded into the next
# step's plan as literals; ml_logreg_grad_step is exactly the K=1 case
# of the same kernel.  The oracle twin _logreg_fit_ctes replays the
# identical rounds in materialized CTEs.
_LOGREG_STEPS = 3
_LOGREG_LR = 0.1


def _logreg_feat(spark: SparkSession, sf_dir: str, with_id: bool = False) -> DataFrame:
    cols = (["vec_id"] if with_id else []) + ["embedding", "label"]
    emb = spread(load_table(spark, sf_dir, "embeddings", columns=cols))
    keep = ["vec_id"] if with_id else []
    return emb.select(
        *keep,
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        F.when(F.col("label") > 4, 1.0).otherwise(0.0).alias("y"),
    )


def _logreg_logit(w: list[float]):
    """In-row logit against the weights as a 64-literal array —
    ascending-j fold, the same order as the oracle's ``list_aggregate``."""
    wl = F.array(*[F.lit(float(v)) for v in w])
    return F.aggregate(
        F.zip_with(wl, F.col("x"), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _logreg_prob(w: list[float]):
    """Predicted probability sigmoid(w.x) — the one place the model's
    probability form lives, shared by training and calibration."""
    return F.lit(1.0) / (F.lit(1.0) + F.exp(-_logreg_logit(w)))


def _logreg_grad(feat: DataFrame, w: list[float]) -> DataFrame:
    """One gradient step as ONE groupBy(j) partial+final aggregation:
    (sigmoid(w.x) - y) * x_j posexploded to (j, term) rows — at scale
    each executor emits 64 partial sums, nothing else moves.  Measured
    alternative (rejected): 64 parallel ``sum(x[j] * pm)`` aggregates
    avoid the row fan-out but run ~1.6x SLOWER here — Catalyst collapses
    the pm projection into every aggregate expression, so the sigmoid's
    64-element fold is recomputed per component; the explode form
    evaluates p once per row and the fan-out collapses map-side."""
    p = _logreg_prob(w)
    return (
        feat.select(
            F.posexplode(F.transform("x", lambda v: (p - F.col("y")) * v)).alias("j", "term")
        )
        .groupBy("j")
        .agg(F.sum("term").alias("g"))
    )


@artifact("logreg_weights")
def _logreg_train(spark: SparkSession, sf_dir: str) -> list[float]:
    """K fixed gradient steps, the ``logreg_weights`` session artifact:
    the weights are a deterministic artifact of the corpus and every
    consumer would otherwise retrain the identical model (3 full passes
    each)."""
    feat = _logreg_feat(spark, sf_dir)
    w = [_LOGREG_W0] * 64
    for _ in range(_LOGREG_STEPS):
        gmap = {r.j: r.g for r in _logreg_grad(feat, w).collect()}
        w = [w[j] - _LOGREG_LR * gmap[j] for j in range(64)]
    return w


def _logreg_fit_ctes() -> str:
    parts = [f"""
    feat AS MATERIALIZED (
        SELECT vec_id, label, list_transform(embedding, v -> v::DOUBLE) AS x,
               CASE WHEN label > 4 THEN 1.0 ELSE 0.0 END AS y
        FROM embeddings
    ),
    wl0 AS MATERIALIZED (
        SELECT list_transform(range(64), j -> {_LOGREG_W0}) AS wl
    )"""]
    for k in range(1, _LOGREG_STEPS + 1):
        parts.append(f""",
    scored{k} AS MATERIALIZED (
        SELECT vec_id, x, y,
               1.0 / (1.0 + exp(-list_aggregate(
                   list_transform(range(1, 65), j -> wl[j] * x[j]), 'sum'))) AS p
        FROM feat, wl{k - 1}
    ),
    grad{k} AS MATERIALIZED (
        SELECT j, sum((p - y) * x[j + 1]) AS g
        FROM scored{k}, unnest(range(64)) AS t(j)
        GROUP BY j
    ),
    wl{k} AS MATERIALIZED (
        SELECT list(w ORDER BY j) AS wl FROM (
            SELECT g.j, wl[g.j + 1] - {_LOGREG_LR} * g.g AS w
            FROM grad{k} g, wl{k - 1}
        )
    )""")
    return "".join(parts)


@query(
    "ml_logreg_grad_step",
    oracle=f"""
    WITH feat AS (
        SELECT list_transform(embedding, v -> v::DOUBLE) AS x,
               CASE WHEN label > 4 THEN 1.0 ELSE 0.0 END AS y
        FROM embeddings
    ),
    scored AS (
        SELECT x, y,
               1.0 / (1.0 + exp(-list_aggregate(list_transform(x, v -> v * {_LOGREG_W0}), 'sum')))
                   AS p
        FROM feat
    )
    SELECT j, round(sum((p - y) * x[j + 1]), 4) AS grad
    FROM scored, unnest(range(64)) AS t(j)
    GROUP BY j
    ORDER BY j
    """,
)
def ml_logreg_grad_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the K=1 case of _logreg_train's shared kernel
    grad = _logreg_grad(_logreg_feat(spark, sf_dir), [_LOGREG_W0] * 64)
    return grad.select("j", F.round("g", 4).alias("grad")).orderBy("j")

# --- regex content flags (the pattern-gate family of corpus filters):
# JVM-side rlike with RE2-safe patterns, aggregated per source.  Patterns
# stay in the (word-boundary, char-class, quantifier) subset where Java
# and RE2 semantics agree, so the oracle is exact. ---
@query(
    "regex_content_flags",
    oracle=r"""
    SELECT source,
           count(*) AS n_docs,
           count(*) FILTER (WHERE regexp_matches(text, '\b[a-z]{6,}\b')) AS has_long_word,
           count(*) FILTER (WHERE regexp_matches(text, '\b(data|table) (row|scan)\b')) AS has_bigram,
           count(*) FILTER (WHERE regexp_matches(text, '^[a-z]'))        AS starts_lower
    FROM documents
    GROUP BY source
    ORDER BY source
    """,
)
def regex_content_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["source", "text"])
    flag = lambda pat: F.sum(F.when(F.col("text").rlike(pat), 1).otherwise(0))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            flag(r"\b[a-z]{6,}\b").alias("has_long_word"),
            flag(r"\b(data|table) (row|scan)\b").alias("has_bigram"),
            flag(r"^[a-z]").alias("starts_lower"),
        )
        .orderBy("source")
    )

# --- grouped-aggregate pandas UDAF (the UDAF class of SURVEY §2.10's
# operator surface): interpolated median per group, Arrow-batched.  The
# built-in F.median is the production path; this query exists to prove the
# custom-UDAF seam with an exact oracle (numpy and DuckDB both use the
# interpolated sample median).  Scale note: GROUPED_AGG pulls each
# group's column into one executor's memory — bounded group sizes only
# (here: per order-status slices of a bounded sample). ---
@query(
    "pandas_udaf_median",
    oracle="""
    SELECT o_orderstatus, round(median(o_totalprice), 4) AS med_price, count(*) AS n
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY o_orderstatus
    """,
)
def pandas_udaf_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def np_median(v: pd.Series) -> float:
        return float(np.median(v.to_numpy()))

    @pandas_udf("long")
    def np_count(v: pd.Series) -> int:
        # grouped-agg UDFs cannot mix with built-in aggregates in one agg,
        # so the count rides the same Arrow batch
        return int(len(v))

    orders = load_table(spark, sf_dir, "orders", columns=["o_orderstatus", "o_totalprice"])
    return (
        orders.groupBy("o_orderstatus")
        .agg(
            F.round(np_median("o_totalprice"), 4).alias("med_price"),
            np_count("o_totalprice").alias("n"),
        )
        .orderBy("o_orderstatus")
    )


# --- Python UDTF (table function — the third UDF class): explodes a
# document into fixed 20-word spans via a lateral join.  The HOF path
# (dedup_span_chunks) is the production form; the UDTF proves the
# extension seam and its oracle is the same chunk CTE. ---
@query(
    "udtf_span_explode",
    oracle="""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    chunks AS (
        SELECT doc_id, i AS cidx,
               len(ws[i*20+1 : i*20+20]) AS n_words
        FROM base, unnest(range(CAST(ceil(len(ws) / 20.0) AS BIGINT))) AS t(i)
    )
    SELECT doc_id, count(*) AS n_spans, CAST(sum(n_words) AS BIGINT) AS total_words
    FROM chunks GROUP BY doc_id ORDER BY doc_id
    """,
)
def udtf_span_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="cidx int, n_words int")
    class SpanSplit:
        def eval(self, text: str, width: int):
            words = text.split(" ")
            for i in range(0, (len(words) + width - 1) // width):
                yield i, len(words[i * width : (i + 1) * width])

    spark.udtf.register("span_split", SpanSplit)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    docs.createOrReplaceTempView("udtf_docs")
    out = spark.sql(
        """
        SELECT doc_id, count(*) AS n_spans, sum(n_words) AS total_words
        FROM udtf_docs, LATERAL span_split(text, 20)
        GROUP BY doc_id ORDER BY doc_id
        """
    )
    return out


# --- PII redaction (training-data hygiene: mask emails/IPs/phones before
# training; the synthetic corpus carries none, so the query deterministically
# injects doc_id-derived PII first, then redacts — both sides replicate the
# injection, so the compare verifies the *redaction regexes*, which use only
# RE2-and-Java-common syntax: character classes + bounded repetition, no
# lookaround).  Pure codegen regexp_replace: one scan, no shuffle beyond the
# final per-source rollup. ---
_PII_EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}"
_PII_IP_RE = "([0-9]{1,3}[.]){3}[0-9]{1,3}"


@query(
    "pii_redact",
    oracle=f"""
    WITH seeded AS (
        SELECT doc_id, source,
               text || CASE WHEN doc_id % 7 = 0
                   THEN ' contact u' || doc_id || '@example.com or 10.0.' || (doc_id % 256) || '.1'
                   ELSE '' END AS t
        FROM documents
    ),
    red AS (
        SELECT doc_id, source, t,
               regexp_replace(
                   regexp_replace(t, '{_PII_EMAIL_RE}', '<EMAIL>', 'g'),
                   '{_PII_IP_RE}', '<IP>', 'g') AS clean
        FROM seeded
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE t <> clean) AS BIGINT) AS n_pii_docs,
           CAST(sum(length(t) - length(clean)) AS BIGINT) AS chars_removed
    FROM red
    GROUP BY source
    ORDER BY source
    """,
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    seeded = docs.withColumn(
        "t",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact u"), F.col("doc_id"), F.lit("@example.com or 10.0."),
                    F.col("doc_id") % 256, F.lit(".1"),
                ),
            ).otherwise(F.lit("")),
        ),
    )
    clean = F.regexp_replace(
        F.regexp_replace(F.col("t"), _PII_EMAIL_RE, "<EMAIL>"), _PII_IP_RE, "<IP>"
    )
    return (
        seeded.withColumn("clean", clean)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("t") != F.col("clean")).alias("n_pii_docs"),
            F.sum(F.length("t") - F.length("clean")).alias("chars_removed"),
        )
        .orderBy("source")
    )


# --- TF-IDF top terms per document (retrieval/quality featurization: term
# frequency x inverse document frequency; at corpus scale tf is a per-doc
# in-row aggregation, df is one word-keyed shuffle reused from the vocab
# pass, and idf joins back as a broadcast).  ln-based idf, deterministic
# top-3 per doc with (score, term) tie-break. ---
@query(
    "tfidf_top_terms",
    oracle="""
    WITH words AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
        FROM documents WHERE doc_id < 500
    ),
    all_words AS (
        SELECT doc_id, unnest(list_filter(string_split(text, ' '), w -> w <> '')) AS w
        FROM documents
    ),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM words GROUP BY doc_id, w),
    df AS (SELECT w, count(DISTINCT doc_id) AS df FROM all_words GROUP BY w),
    n_docs AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT t.doc_id, t.w,
               round(t.tf * ln(CAST(n.n AS DOUBLE) / d.df), 4) AS tfidf
        FROM tf t JOIN df d USING (w) CROSS JOIN n_docs n
    )
    SELECT doc_id, w AS term, tfidf, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, w) AS rk
        FROM scored
    )
    WHERE rk <= 3
    ORDER BY doc_id, rk
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    words_all = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    df_tab = words_all.groupBy("w").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = docs.count()
    tf = (
        words_all.filter(F.col("doc_id") < 500)
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    # broadcast the SMALL side: tf covers only the selected doc subset; the
    # df table is vocabulary-sized (100M+ terms at corpus scale) and must
    # never move — it streams past the broadcast tf rows
    scored = df_tab.join(F.broadcast(tf), "w").select(
        "doc_id",
        F.col("w"),
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias("tfidf"),
    )
    win = W.partitionBy("doc_id").orderBy(F.desc("tfidf"), F.asc("w"))
    return (
        scored.withColumn("rk", F.row_number().over(win))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("w").alias("term"), "tfidf", "rk")
        .orderBy("doc_id", "rk")
    )


# --- text normalization (training-data hygiene: casefold, strip
# punctuation, collapse whitespace — the standard pre-dedup canonical
# form).  The synthetic corpus is already clean, so the query injects
# deterministic messiness first (uppercase flips, punctuation, ragged
# spacing derived from doc_id) and then normalizes it back; the compare
# verifies the normalization pipeline itself.  Pure codegen string ops:
# one scan, no shuffle beyond the per-source rollup. ---
@query(
    "text_normalize",
    oracle="""
    WITH messy AS (
        SELECT doc_id, source,
               CASE WHEN doc_id % 3 = 0 THEN upper(text)
                    WHEN doc_id % 3 = 1 THEN replace(text, ' ', '   ')
                    ELSE text END
               || CASE WHEN doc_id % 5 = 0 THEN '!!  Read,  MORE... ' ELSE '' END
               AS t
        FROM documents
    ),
    norm AS (
        SELECT doc_id, source, t,
               trim(regexp_replace(
                   regexp_replace(lower(t), '[^a-z0-9 ]', '', 'g'),
                   ' +', ' ', 'g')) AS clean
        FROM messy
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(count(*) FILTER (WHERE t <> clean) AS BIGINT) AS n_changed,
           CAST(sum(length(t) - length(clean)) AS BIGINT) AS chars_removed,
           min(md5(clean)) AS sample_fingerprint
    FROM norm
    GROUP BY source
    ORDER BY source
    """,
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "text"])
    messy = docs.withColumn(
        "t",
        F.concat(
            F.when(F.col("doc_id") % 3 == 0, F.upper("text"))
            .when(F.col("doc_id") % 3 == 1, F.replace(F.col("text"), F.lit(" "), F.lit("   ")))
            .otherwise(F.col("text")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("!!  Read,  MORE... ")).otherwise(F.lit("")),
        ),
    )
    norm = messy.withColumn(
        "clean",
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("t"), "[^a-z0-9 ]", ""), " +", " "
            )
        ),
    )
    return (
        norm.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("t") != F.col("clean")).alias("n_changed"),
            F.sum(F.length("t") - F.length("clean")).alias("chars_removed"),
            F.min(F.md5("clean")).alias("sample_fingerprint"),
        )
        .orderBy("source")
    )


# --- per-source corpus statistics (dataset-card style rollup: doc and
# token counts plus exact length quantiles per (source, lang) slice).
# One groupBy; quantiles are exact percentile_cont with linear
# interpolation on both engines (integer inputs -> interpolation is a
# single division, identical IEEE on both sides). ---
@query(
    "corpus_stats_by_source",
    oracle="""
    SELECT source, lang,
           count(*) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
           round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
    FROM documents
    GROUP BY source, lang
    ORDER BY source, lang
    """,
)
def corpus_stats_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "lang", "text", "n_chars"])
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(F.split("text", " "))).alias("n_tokens"),
            F.round(F.percentile("n_chars", F.lit(0.5)), 4).alias("p50_chars"),
            F.round(F.percentile("n_chars", F.lit(0.9)), 4).alias("p90_chars"),
        )
        .orderBy("source", "lang")
    )


# --- the composed training-corpus pipeline as a funnel report: every
# curation stage this engine provides, chained end-to-end the way a real
# pretraining data build runs them — language filter, quality gate, exact
# dedup, eval-set decontamination, BPE tokenization, sequence-packing
# sizing — with the surviving doc count (and final token/sequence totals)
# after each stage.  Each stage reuses the session artifacts of its
# standalone op (shingle table, BPE merges), so the whole funnel costs
# one corpus scan per independent aggregate and every join is broadcast;
# the oracle replays all six stages in one CTE chain. ---
_TCP_MIN_TOKENS = 25
_TCP_SEQ_LEN = 512
_TCP_EVAL_SRC = "src2"


# --- hashing-TF text classifier for the corpus funnel: the learned
# (not rule-based) quality gate.  Features are in-row hashed bag-of-words
# counts (portable md5 bucketing, a pure projection over the corpus — the
# classic hashing-trick featurization that needs no vocabulary build);
# training reuses the shared logistic-regression kernel (_logreg_grad: K
# steps x ONE 16-row aggregation); scoring bakes the weights into the
# plan as literals.  Pseudo-labels are weak supervision from a content
# rule (docs containing the 'dup' marker token are the negative class) —
# the standard bootstrap when no human labels exist. ---
_TF_D = 32  # hashed-term buckets; +1 bias component appended
_TF_STEPS = 4
_TF_LR = 0.5
#: gradient quantization grid (power of two -> exact binary scaling).
#: The per-step gradient is the only cross-engine float whose value
#: depends on SUMMATION ORDER (F.sum over shuffle partials vs DuckDB's
#: scan order); snapping it to this grid makes the trained weights
#: bit-identical across engines, so the downstream median-threshold
#: compare has no ulp knife edge — same treatment as the PQ/ADC LUT.
_TF_GQ = float(2**24)


def _tf_bucket(w):
    return F.pmod(
        F.conv(F.substring(F.md5(w), 1, 15), 16, 10).cast("long"), F.lit(_TF_D)
    )


def _tf_x_expr():
    """Hashed term-FREQUENCY feature vector + bias (length ``_TF_D + 1``)
    of column ``text`` — one in-row expression, no explode, no shuffle.
    Normalizing by the word count removes doc-length from the score so
    the learned content weights decide, not the document size."""
    ws = F.filter(F.split("text", " "), lambda t: t != "")
    bs = F.transform(ws, _tf_bucket)
    denom = F.greatest(F.size(ws), F.lit(1)).cast("double")
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(_TF_D - 1)),
        lambda j: F.size(F.filter(bs, lambda b: b == j.cast("long"))).cast("double")
        / denom,
    )
    return F.concat(counts, F.array(F.lit(1.0)))


def _tf_feat(docs: DataFrame) -> DataFrame:
    """``(doc_id, x, y)`` training features, built the LINEAR way:
    explode tokens -> per-(doc, bucket) counts -> densify.  Produces
    bit-identical vectors to the in-row ``_tf_x_expr`` form (asserted in
    test_mmdata.py) at O(words) instead of O(_TF_D * words) per doc —
    measured 2.2x faster at sf0.1.  The shuffle partial-aggregates
    map-side to <= _TF_D + 1 rows per doc per partition, so shuffle
    volume is doc-grain, not token-grain.  Scoring paths (the funnel's
    final filter, the streaming ingest gate) keep the in-row expression
    form, which must stay shuffle-free.

    ONE documents scan (r14, guide §1.2/§6): the previous form read the
    text column twice (a doc-grain (nw, y) branch joined to the exploded
    token branch) — at corpus scale two full reads of the heaviest
    column where one suffices.  ``nw``/``y`` now ride the exploded rows
    as group keys (constant per doc, so the grouping is unchanged);
    ``explode_outer`` + the NULL-skipping ``count("w")`` /
    NULL-dropping ``collect_list(when(...))`` keep empty documents
    present with an all-zero vector, exactly the old left join.  The
    tokenization is pre-projected into its own select so ``split`` is
    evaluated once per row, not once per consuming expression
    (measured: the inlined form was 2.4x slower).  Bit-identical rows
    asserted against the in-row form in test_mmdata.py and re-verified
    against the old two-scan form at sf0.1 during the r14 A/B."""
    ws = F.filter(F.split("text", " "), lambda t: t != "")
    toks = docs.select("doc_id", ws.alias("ws"))
    ex = toks.select(
        "doc_id",
        F.size("ws").alias("nw"),
        F.when(F.array_contains("ws", "dup"), 0.0).otherwise(1.0).alias("y"),
        F.explode_outer("ws").alias("w"),
    )
    cnt = ex.groupBy("doc_id", "nw", "y", _tf_bucket(F.col("w")).alias("b")).agg(
        F.count("w").alias("c")
    )
    vec = cnt.groupBy("doc_id", "nw", "y").agg(
        F.map_from_entries(
            F.collect_list(F.when(F.col("b").isNotNull(), F.struct("b", "c")))
        ).alias("m")
    )
    denom = F.greatest(F.col("nw"), F.lit(1)).cast("double")
    counts = F.transform(
        F.sequence(F.lit(0), F.lit(_TF_D - 1)),
        lambda j: F.coalesce(F.col("m")[j.cast("long")], F.lit(0)).cast("double") / denom,
    )
    return vec.select(
        "doc_id", F.concat(counts, F.array(F.lit(1.0))).alias("x"), "y"
    )


@artifact("tf_features")
def _tf_feat_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``(doc_id, x, y)`` hashing-TF feature frame, featurized ONCE
    per (session, corpus) and checkpointed — the O(_TF_D * words)-per-doc
    featurization is the expensive projection, and every training round
    and the threshold pass read ~``_TF_D + 1`` doubles per doc instead of
    re-running the bucket-count scan over the text column (the
    ``hashed_grams`` pattern)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    return _tf_feat(docs).transform(checkpoint_df)


def tf_gate_score_expr(w: list[float], x=None):
    """The learned gate's score ``z = w . x`` as an in-row expression
    (weights baked in as plan literals — zero shuffle, zero Python).
    ``x`` defaults to featurizing the ``text`` column in place."""
    wl = F.array(*[F.lit(float(v)) for v in w])
    return F.aggregate(
        F.zip_with(wl, x if x is not None else _tf_x_expr(), lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def tf_learned_gate(spark: SparkSession, sf_dir: str) -> tuple[list[float], float]:
    """``(weights, threshold)`` of the corpus-trained hashing-TF quality
    gate: the batch-trained classifier plus the corpus-global median
    score cutoff (CCNet keep-the-better-half).  This is the ONE artifact
    both the batch funnel stage 6 and the streaming ingest gate consume,
    so their keep decisions are definitionally identical."""
    w = _tf_logreg_train(spark, sf_dir)
    return w, _tf_threshold(spark, sf_dir)


@artifact("tf_threshold")
def _tf_threshold(spark: SparkSession, sf_dir: str) -> float:
    w = _tf_logreg_train(spark, sf_dir)
    return float(
        _tf_feat_cached(spark, sf_dir)
        .select(tf_gate_score_expr(w, F.col("x")).alias("z"))
        .agg(F.expr("percentile(z, 0.5)"))
        .collect()[0][0]
    )


@artifact("tf_weights")
def _tf_logreg_train(spark: SparkSession, sf_dir: str) -> list[float]:
    """K gradient steps on the hashed text features (the shared logistic
    kernel with the TF schedule), memoized per corpus.  Gradients are
    snapped to the ``_TF_GQ`` grid each step (mirrored in the oracle
    replay) so engine summation order cannot drift the weights."""
    feat = _tf_feat_cached(spark, sf_dir)
    w = [_LOGREG_W0] * (_TF_D + 1)
    for _ in range(_TF_STEPS):
        gmap = {r.j: r.g for r in _logreg_grad(feat, w).collect()}
        w = [
            w[j] - _TF_LR * (math.floor(gmap[j] * _TF_GQ + 0.5) / _TF_GQ)
            for j in range(_TF_D + 1)
        ]
    return w


def _tf_fit_ctes() -> str:
    """SQL replay of the hashing-TF featurization + K training rounds +
    the final per-doc score and its median threshold."""
    nd = _TF_D + 1  # features + bias
    parts = [f"""
    tfeat AS MATERIALIZED (
        SELECT doc_id,
               list_transform(range(0, {_TF_D}),
                   j -> CAST(len(list_filter(bs, b -> b = j)) AS DOUBLE)
                        / greatest(len(ws), 1)) || [1.0] AS x,
               CASE WHEN list_contains(ws, 'dup') THEN 0.0 ELSE 1.0 END AS y
        FROM (
            SELECT doc_id, ws,
                   list_transform(ws, w -> ('0x' || substr(md5(w), 1, 15))::BIGINT % {_TF_D}) AS bs
            FROM (
                SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
                FROM documents
            )
        )
    ),
    twl0 AS MATERIALIZED (SELECT list_transform(range({nd}), j -> {_LOGREG_W0}) AS wl)"""]
    for k in range(1, _TF_STEPS + 1):
        parts.append(f""",
    tscored{k} AS MATERIALIZED (
        SELECT doc_id, x, y,
               1.0 / (1.0 + exp(-list_aggregate(
                   list_transform(range(1, {nd + 1}), j -> wl[j] * x[j]), 'sum'))) AS p
        FROM tfeat, twl{k - 1}
    ),
    tgrad{k} AS MATERIALIZED (
        SELECT j, floor(sum((p - y) * x[j + 1]) * {_TF_GQ} + 0.5) / {_TF_GQ} AS g
        FROM tscored{k}, unnest(range({nd})) AS t(j)
        GROUP BY j
    ),
    twl{k} AS MATERIALIZED (
        SELECT list(w ORDER BY j) AS wl FROM (
            SELECT g.j, wl[g.j + 1] - {_TF_LR} * g.g AS w
            FROM tgrad{k} g, twl{k - 1}
        )
    )""")
    parts.append(f""",
    tscoredf AS MATERIALIZED (
        SELECT doc_id,
               list_aggregate(list_transform(range(1, {nd + 1}), j -> wl[j] * x[j]), 'sum') AS z
        FROM tfeat, twl{_TF_STEPS}
    ),
    tthresh AS MATERIALIZED (SELECT quantile_cont(z, 0.5) AS t FROM tscoredf)""")
    return "".join(parts)


@query(
    "training_corpus_pipeline",
    oracle=f"""
    WITH {_GRAMS_CTE},
    {_bpe_round_ctes()},
    {_tf_fit_ctes()},
    s1 AS (SELECT doc_id, text, lang, source FROM documents),
    s2 AS (SELECT * FROM s1 WHERE lang = 'en'),
    s3 AS (
        SELECT * FROM s2
        WHERE len(list_filter(string_split(text, ' '), t -> t <> '')) >= {_TCP_MIN_TOKENS}
    ),
    s4 AS (
        SELECT * FROM s3 WHERE doc_id IN (
            SELECT min(doc_id) FROM s3 GROUP BY md5(text)
        )
    ),
    s4g AS MATERIALIZED (
        SELECT g.doc_id, g.gs FROM grams g JOIN s4 USING (doc_id)
    ),
    fex AS MATERIALIZED (SELECT doc_id, unnest(gs) AS g FROM s4g),
    fpairs AS MATERIALIZED (
        SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
        FROM fex a JOIN fex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    flosers AS MATERIALIZED (
        SELECT DISTINCT p.d2 AS doc_id
        FROM fpairs p
        JOIN s4g s1 ON s1.doc_id = p.d1
        JOIN s4g s2 ON s2.doc_id = p.d2
        WHERE p.common * 1.0 / (len(s1.gs) + len(s2.gs) - p.common)
              >= {JACCARD_THRESHOLD}
    ),
    s4f AS MATERIALIZED (
        SELECT * FROM s4 WHERE doc_id NOT IN (SELECT doc_id FROM flosers)
    ),
    eval_g AS (
        SELECT DISTINCT ug AS gram
        FROM grams g JOIN documents d USING (doc_id), unnest(g.gs) AS t(ug)
        WHERE d.source = '{_TCP_EVAL_SRC}'
    ),
    contaminated AS (
        SELECT DISTINCT g.doc_id
        FROM grams g, unnest(g.gs) AS t(ug)
        WHERE ug IN (SELECT gram FROM eval_g)
    ),
    s5 AS (
        SELECT * FROM s4f
        WHERE source <> '{_TCP_EVAL_SRC}'
          AND doc_id NOT IN (SELECT doc_id FROM contaminated)
    ),
    s6 AS (
        SELECT s5.* FROM s5
        JOIN tscoredf sc USING (doc_id), tthresh
        WHERE sc.z >= tthresh.t
    ),
    tokde AS (
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
            FROM s6
        )
        WHERE length({_bpe_clean_sql('w')}) > 0
    ),
    s7 AS (
        SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(sum(len(string_split(s, '><'))) AS BIGINT) AS n_tokens
        FROM tokde
    )
    SELECT * FROM (
        SELECT 1 AS stage, 'input' AS name,
               (SELECT count(*) FROM s1) AS n_docs,
               CAST(0 AS BIGINT) AS n_tokens, CAST(0 AS BIGINT) AS n_sequences
        UNION ALL SELECT 2, 'lang_filter', (SELECT count(*) FROM s2), 0, 0
        UNION ALL SELECT 3, 'quality_gate', (SELECT count(*) FROM s3), 0, 0
        UNION ALL SELECT 4, 'exact_dedup', (SELECT count(*) FROM s4), 0, 0
        UNION ALL SELECT 5, 'fuzzy_dedup', (SELECT count(*) FROM s4f), 0, 0
        UNION ALL SELECT 6, 'decontaminated', (SELECT count(*) FROM s5), 0, 0
        UNION ALL SELECT 7, 'classifier_filter', (SELECT count(*) FROM s6), 0, 0
        UNION ALL SELECT 8, 'tokenized', (SELECT n_docs FROM s7),
                          (SELECT n_tokens FROM s7),
                          CAST(ceil((SELECT n_tokens FROM s7) / {_TCP_SEQ_LEN}.0) AS BIGINT)
    )
    ORDER BY stage
    """,
)
def training_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eight-stage pretraining funnel counted in a SINGLE corpus pass.

    Every stage membership is a per-doc boolean FLAG evaluated in one
    chain over ``documents`` — lang/length/gate are projections, exact
    dedup is one window over the content hash, fuzzy dedup and
    decontamination are doc-keyed joins against bounded/derived id sets,
    and BPE token counting folds in-row over the words array — so the
    whole funnel is one featurization + one single-row aggregate, not a
    per-stage re-derivation (the r6 shape recomputed the dedup shuffle
    once per downstream stage; real 100 TB funnels compute per-doc
    decisions in one pass and count them for free)."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text", "lang", "source"])
    ntok_ws = F.size(F.filter(F.split("text", " "), lambda t: t != ""))
    in_s2 = F.col("lang") == "en"
    in_s3 = in_s2 & (ntok_ws >= _TCP_MIN_TOKENS)

    # fuzzy near-dedup loser set (VERDICT r6 next #3): MinHash-banded
    # candidate pairs among the exact-dedup SURVIVORS (the session
    # signature table semi-joined down — near-dup work scales with
    # survivors, not raw corpus), exact-Jaccard verified against the
    # shared shingle table, then the HIGHER doc_id of every verified
    # pair is dropped (deterministic, SQL-replayable; the oracle replays
    # the exact pair set — the LSH banding's P_miss at j >= 0.8 is
    # < 1.2e-6, the dedup_minhash_lsh equivalence argument).  The band
    # self-join goes through chunked_self_pairs (ADVICE r7): the cap
    # SPLITS an oversized band bucket into chunk-pair tasks instead of
    # dropping its cross-chunk pairs, so a skewed near-dup cluster over
    # LSH_BUCKET_CAP cannot silently diverge from the oracle — the only
    # residual miss is the banding P_miss itself.  The loser id set is
    # bounded by near-dup volume and checkpointed once.
    g = hashed_grams(spark, sf_dir)
    s4ids = (
        docs.filter(in_s3)
        .groupBy(F.md5("text").alias("dg"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    banded4 = (
        minhash_sigs(spark, sf_dir)
        .join(s4ids, "doc_id", "leftsemi")
        .select(
            "doc_id",
            F.explode(
                F.array(*lsh_band_keys(F.col("sig"), bands=16, rows=2))
            ).alias("bk"),
        )
    )
    cand4 = (
        chunked_self_pairs(banded4, "bk", "doc_id", cap=LSH_BUCKET_CAP)
        .select(F.col("doc_id").alias("d1"), F.col("doc_id_b").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )
    losers = (
        _verify_pairs_exact(g, cand4, JACCARD_THRESHOLD)
        .select(F.col("d2").alias("doc_id"), F.lit(True).alias("is_loser"))
        .distinct()
        .transform(checkpoint_df)
    )

    # decontamination id set: docs sharing any shingle with the eval
    # source — the eval gram SET is the bounded side and broadcasts; the
    # corpus-sized contaminated set joins un-hinted below (AQE broadcasts
    # it at small scale, falls back to a doc_id-keyed shuffle join at
    # corpus scale instead of OOMing the build side)
    eval_set = (
        g.filter(F.col("source") == _TCP_EVAL_SRC)
        .select(F.explode("hs").alias("h"))
        .distinct()
    )
    contaminated = (
        g.select("doc_id", F.explode("hs").alias("h"))
        .join(F.broadcast(eval_set), "h", "leftsemi")
        .select("doc_id")
        .distinct()
        .withColumn("is_cont", F.lit(True))
    )

    # the learned gate weights/threshold and BPE merges are session
    # artifacts (featurize-once contracts of their own); both land in the
    # flag chain as plan literals
    w_tf, thr = tf_learned_gate(spark, sf_dir)
    merges = bpe_train(spark, sf_dir)

    # exact dedup as ONE window over the content hash: keep the lowest
    # doc_id among the stage-3 survivors of each distinct text (map-side
    # no, but a single fingerprint-keyed shuffle — and the ONLY corpus
    # shuffle besides the contamination join; there is no keep-set join)
    s4min = F.min(F.when(in_s3, F.col("doc_id"))).over(W.partitionBy(F.md5("text")))
    flags = (
        docs.withColumn("in_s2", in_s2)
        .withColumn("in_s3", in_s3)
        .withColumn("in_s4", F.col("in_s3") & (F.col("doc_id") == s4min))
        .join(losers, "doc_id", "left")
        .withColumn("in_s4f", F.col("in_s4") & F.col("is_loser").isNull())
        .join(contaminated, "doc_id", "left")
        .withColumn(
            "in_s5",
            F.col("in_s4f")
            & (F.col("source") != _TCP_EVAL_SRC)
            & F.col("is_cont").isNull(),
        )
        .withColumn(
            "in_s6",
            F.col("in_s5") & (tf_gate_score_expr(w_tf) >= F.lit(thr)),
        )
        .withColumn(
            "nt",
            F.when(F.col("in_s6"), bpe_ntokens_expr(merges)).otherwise(F.lit(0)),
        )
        .withColumn(
            "has_tok",
            F.exists(
                F.filter(F.split("text", " "), lambda x: x != ""),
                lambda w: F.length(_bpe_clean_word(w)) > 0,
            ),
        )
    )

    def cnt(flag: str):
        return F.sum(F.col(flag).cast("long"))

    agg = flags.agg(
        F.count(F.lit(1)).alias("n1"),
        cnt("in_s2").alias("n2"),
        cnt("in_s3").alias("n3"),
        cnt("in_s4").alias("n4"),
        cnt("in_s4f").alias("n5"),
        cnt("in_s5").alias("n6"),
        cnt("in_s6").alias("n7"),
        F.sum((F.col("in_s6") & F.col("has_tok")).cast("long")).alias("n8"),
        F.sum("nt").cast("long").alias("tok_sum"),
    )
    # tokenized totals are NULL when nothing survives (the word-grain
    # aggregate's empty-sum semantics both engines share)
    n_tokens8 = F.when(F.col("n8") > 0, F.col("tok_sum")).cast("long")
    zero = F.lit(0).cast("long")

    def row(i: int, name: str, n_docs, n_tokens, n_seq):
        return F.struct(
            F.lit(i).alias("stage"),
            F.lit(name).alias("name"),
            n_docs.cast("long").alias("n_docs"),
            n_tokens.cast("long").alias("n_tokens"),
            n_seq.cast("long").alias("n_sequences"),
        )

    return agg.select(
        F.inline(
            F.array(
                row(1, "input", F.col("n1"), zero, zero),
                row(2, "lang_filter", F.col("n2"), zero, zero),
                row(3, "quality_gate", F.col("n3"), zero, zero),
                row(4, "exact_dedup", F.col("n4"), zero, zero),
                row(5, "fuzzy_dedup", F.col("n5"), zero, zero),
                row(6, "decontaminated", F.col("n6"), zero, zero),
                row(7, "classifier_filter", F.col("n7"), zero, zero),
                row(
                    8,
                    "tokenized",
                    F.col("n8"),
                    n_tokens8,
                    F.ceil(n_tokens8 / float(_TCP_SEQ_LEN)),
                ),
            )
        )
    ).orderBy("stage")


# --- custom Python DataSource scan (sources/pydatasource.py): the
# reference's ChunkedParquetReader (columnar_util.py:3276) as a Spark 4
# Python data source — metadata-only chunk planning, Arrow-batch reads,
# column projection and comparison-filter pushdown INSIDE the pyarrow
# scan.  The integration blueprint for any Python-only columnar reader
# (the uproot/ROOT scan would plug into exactly this shape).  Oracle
# reads the same table natively, proving the source is transparent. ---
@query(
    "pyds_chunked_scan_stats",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents
    WHERE n_chars > 150
    GROUP BY lang
    ORDER BY lang
    """,
)
def pyds_chunked_scan_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from columnflow_spark.sources.pydatasource import register

    register(spark)
    df = (
        spark.read.format("chunked_parquet")
        .option("path", f"{sf_dir}/documents.parquet")
        .option("columns", "lang,n_chars")
        .load()
    )
    return (
        df.filter(F.col("n_chars") > 150)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


# --- full logistic-regression training loop (the gradient-descent member
# of the iterative-training family next to kmeans_fit / PQ / BPE): K
# fixed gradient steps via the shared _logreg_train kernel, with the
# weight vector a bounded per-step artifact baked back into the next
# step's plan as a literal array.  The oracle replays all K rounds in
# materialized CTEs; both engines compute each row's logit as the SAME
# ascending-j fold over a weight LIST, so the only cross-engine noise in
# the weights is cross-row partial-sum order — far below the round-4
# output. ---
@query(
    "ml_logreg_fit",
    oracle=f"""
    WITH {_logreg_fit_ctes()}
    SELECT j, round(wl[j + 1], 4) AS w
    FROM wl{_LOGREG_STEPS}, unnest(range(64)) AS t(j)
    ORDER BY j
    """,
)
def ml_logreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _logreg_train(spark, sf_dir)
    # rounding happens in the SQL engine (Python round() is banker's,
    # Spark/DuckDB round are half-away — the cookbook's knife edge)
    return (
        local_frame(spark, [(j, float(w[j])) for j in range(64)], "j int, w double")
        .select("j", F.round("w", 4).alias("w"))
        .orderBy("j")
    )


# --- quality-classifier corpus filter (the classifier-filtering stage of
# GPT/LLaMA-style data pipelines: train a cheap linear classifier on
# labeled examples, score EVERY document, keep the high-quality side).
# Training reuses the logreg loop above; scoring is an in-row dot product
# against the 64 trained weights baked in as literals — zero shuffle, no
# join, no UDF — and the keep decision is ``z >= 0`` (the sigmoid-0.5
# threshold expressed on the logit): the in-row fold is the same
# ascending order in both engines and no transcendental sits at the
# decision point, so the only residual cross-engine noise is ulp-level
# disagreement in the trained weights themselves (cross-row partial-sum
# order) — a row flips only when |z| lands inside that noise band around
# 0, orders of magnitude tighter than the ``round(p, 4)`` knife edge an
# output-side threshold would have.  Kept doc metadata arrives via
# one equi-join on doc_id (broadcastable: the kept-id side is a
# projection of the scored scan). ---
@query(
    "quality_classifier_filter",
    oracle=f"""
    WITH {_logreg_fit_ctes()},
    scored AS MATERIALIZED (
        SELECT vec_id,
               list_aggregate(list_transform(range(1, 65), j -> wl[j] * x[j]), 'sum') AS z
        FROM feat, wl{_LOGREG_STEPS}
    )
    SELECT d.doc_id, d.lang, d.source, round(1.0 / (1.0 + exp(-s.z)), 4) AS quality
    FROM scored s JOIN documents d ON d.doc_id = s.vec_id
    WHERE s.z >= 0
    ORDER BY d.doc_id
    """,
)
def quality_classifier_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _logreg_train(spark, sf_dir)
    # y/label are pruned out of the scan: only vec_id + embedding are read
    scored = _logreg_feat(spark, sf_dir, with_id=True).select(
        "vec_id", _logreg_logit(w).alias("z")
    )
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "lang", "source"])
    return (
        scored.filter(F.col("z") >= 0)
        .join(docs, scored.vec_id == docs.doc_id)
        .select(
            "doc_id", "lang", "source",
            F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 4).alias("quality"),
        )
        .orderBy("doc_id")
    )


# --- classifier calibration curve (reliability diagram): bucket the
# trained logreg's predicted probability into deciles and compare the
# mean prediction against the observed positive rate per bucket — the
# standard check before using classifier scores as sampling weights or
# keep thresholds in a curation pipeline.  ONE aggregation over the
# scored scan (map-side partial per bucket); the trained weights arrive
# as plan literals via the shared kernel, so nothing but 10 bucket rows
# ever moves.  A row within float-ulp of a decile edge could bin
# differently across engines (p needs exp()) — same measure-zero class
# as the filter's logit-sign note above. ---
@query(
    "ml_calibration_curve",
    oracle=f"""
    WITH {_logreg_fit_ctes()},
    scored AS MATERIALIZED (
        SELECT y,
               1.0 / (1.0 + exp(-list_aggregate(
                   list_transform(range(1, 65), j -> wl[j] * x[j]), 'sum'))) AS p
        FROM feat, wl{_LOGREG_STEPS}
    )
    SELECT least(CAST(floor(p * 10) AS INT), 9) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(p), 4) AS mean_pred,
           round(avg(y), 4) AS frac_pos
    FROM scored
    GROUP BY 1 ORDER BY 1
    """,
)
def ml_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _logreg_train(spark, sf_dir)
    scored = _logreg_feat(spark, sf_dir).select("y", _logreg_prob(w).alias("p"))
    return (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10).cast("int"), F.lit(9)).alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("p"), 4).alias("mean_pred"),
            F.round(F.avg("y"), 4).alias("frac_pos"),
        )
        .orderBy("bucket")
    )


# --- repetition-based quality signals (the Gopher/MassiveText repetition
# rules): excessive n-gram repetition is the strongest cheap predictor of
# boilerplate/SEO-spam documents.  Two exact integer-grid signals per
# doc: the token fraction covered by the single most frequent bigram
# (ties to the lexicographically smallest bigram — deterministic), and
# the fraction of trigram slots occupied by trigrams appearing more than
# once.  Plan shape: one token projection feeds two in-row adjacent
# n-gram expansions; both counts partial-aggregate map-side at
# (doc, gram) grain, then fold to doc grain — the dedup-family shuffle
# pattern, linear in corpus token count. ---
_REP_SCALE = 1_000_000
#: flag thresholds (Gopher's table A1 ballpark, scaled to this grid)
_REP_TOP2_MAX = 200_000   # top bigram covers > 20% of tokens
_REP_DUP3_MAX = 300_000   # > 30% of trigram slots are repeats


@query(
    "repetition_quality_flags",
    oracle=f"""
    WITH toks AS MATERIALIZED (
        SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS ws
        FROM documents
    ),
    base AS (SELECT doc_id, len(ws) AS n_tokens FROM toks),
    bi AS (
        SELECT doc_id, ws[i + 1] || ' ' || ws[i + 2] AS g, CAST(count(*) AS BIGINT) AS c
        FROM toks, unnest(range(len(ws) - 1)) AS t(i)
        GROUP BY 1, 2
    ),
    top2 AS (
        SELECT doc_id, c AS top_c FROM (
            SELECT doc_id, c, row_number() OVER (
                PARTITION BY doc_id ORDER BY c DESC, g
            ) AS rn FROM bi
        ) WHERE rn = 1
    ),
    tri AS (
        SELECT doc_id, ws[i + 1] || ' ' || ws[i + 2] || ' ' || ws[i + 3] AS g,
               CAST(count(*) AS BIGINT) AS c
        FROM toks, unnest(range(len(ws) - 2)) AS t(i)
        GROUP BY 1, 2
    ),
    tri3 AS (
        SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_tri,
               CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS dup_tri
        FROM tri GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(b.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(t2.top_c * 2 * {_REP_SCALE} // b.n_tokens, 0) AS BIGINT) AS top2_q,
           CAST(coalesce(t3.dup_tri * {_REP_SCALE} // t3.n_tri, 0) AS BIGINT) AS dup3_q,
           (coalesce(t2.top_c * 2 * {_REP_SCALE} // b.n_tokens, 0) > {_REP_TOP2_MAX}
            OR coalesce(t3.dup_tri * {_REP_SCALE} // t3.n_tri, 0) > {_REP_DUP3_MAX})
               AS flagged
    FROM base b
    LEFT JOIN top2 t2 USING (doc_id)
    LEFT JOIN tri3 t3 USING (doc_id)
    ORDER BY b.doc_id
    """,
)
def repetition_quality_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc repetition signals on the exact 1e-6 integer grid: token
    share of the most frequent bigram (x2 tokens per occurrence), share
    of trigram slots in repeated trigrams, and the Gopher-style flag."""
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]))
    toks = docs.select("doc_id", tokens(F.col("text")).alias("ws"))
    base = toks.select("doc_id", F.size("ws").cast("long").alias("n_tokens"))

    def _grams(n: int):
        parts = F.transform(
            F.sequence(F.lit(1), F.size("ws") - (n - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("ws"), i + k) for k in range(n)]
            ),
        )
        return (
            toks.filter(F.size("ws") >= n)
            .select("doc_id", F.explode(parts).alias("g"))
            .groupBy("doc_id", "g")
            .agg(F.count(F.lit(1)).cast("long").alias("c"))
        )

    top2 = (
        _grams(2)
        .groupBy("doc_id")
        .agg(F.min_by("c", F.struct(-F.col("c"), F.col("g"))).alias("top_c"))
    )
    tri3 = (
        _grams(3)
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_tri"),
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0))
            .cast("long")
            .alias("dup_tri"),
        )
    )
    top2_q = F.coalesce(
        F.expr(f"top_c * 2 * {_REP_SCALE} div n_tokens"), F.lit(0)
    ).cast("long")
    dup3_q = F.coalesce(
        F.expr(f"dup_tri * {_REP_SCALE} div n_tri"), F.lit(0)
    ).cast("long")
    return (
        base.join(top2, "doc_id", "left")
        .join(tri3, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            top2_q.alias("top2_q"),
            dup3_q.alias("dup3_q"),
            (
                (top2_q > _REP_TOP2_MAX) | (dup3_q > _REP_DUP3_MAX)
            ).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# --- chi-square token feature selection: the classic feature-selection
# step in front of a quality classifier (select the vocabulary that
# discriminates the target class, THEN fit — the fastText/CCNet recipe
# at corpus scale).  The class label is the deterministic length proxy
# (n_chars >= threshold) also used by the quality-rule family; presence
# is per-doc (distinct doc-term), the standard chi2 contingency grain.
# All four margins are exact BIGINT counts; the statistic is computed in
# 128-bit integers (DECIMAL(38,0) / HUGEINT) on a 1e4 grid so the
# ranking is bit-identical in both engines.
_CHI2_THRESH = 300  # splits the corpus ~50/50 at every SF
_CHI2_MIN_DF = 5
_CHI2_TOPK = 20
_CHI2_GRID = 10_000


@query(
    "token_chi2_selection",
    oracle=f"""
    WITH lab AS (
        SELECT doc_id, CASE WHEN n_chars >= {_CHI2_THRESH} THEN 1 ELSE 0 END AS y,
               list_filter(string_split(text, ' '), t -> t <> '') AS ts
        FROM documents
    ),
    tot AS (
        SELECT CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS n1,
               CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS n0
        FROM lab
    ),
    pres AS (
        SELECT DISTINCT doc_id, y, unnest(ts) AS w FROM lab
    ),
    cnt AS (
        SELECT w,
               CAST(count(*) FILTER (WHERE y = 1) AS BIGINT) AS a,
               CAST(count(*) FILTER (WHERE y = 0) AS BIGINT) AS b
        FROM pres GROUP BY w
        HAVING count(*) >= {_CHI2_MIN_DF}
    ),
    stat AS (
        SELECT w, a, b,
               CAST(((n1 + n0)::HUGEINT
                     * (a::HUGEINT * (n0 - b) - b::HUGEINT * (n1 - a))
                     * (a::HUGEINT * (n0 - b) - b::HUGEINT * (n1 - a))
                     * {_CHI2_GRID})
                    // ((a + b)::HUGEINT * (n1 + n0 - a - b)
                        * n1::HUGEINT * n0::HUGEINT) AS BIGINT) AS chi2_q,
               CASE WHEN a::HUGEINT * n0 >= b::HUGEINT * n1 THEN 1 ELSE -1 END AS direction
        FROM cnt CROSS JOIN tot
        WHERE (a + b) < (n1 + n0) AND n1 > 0 AND n0 > 0
    )
    SELECT w, a, b, chi2_q, direction, CAST(rk AS INT) AS rk
    FROM (
        SELECT *, row_number() OVER (ORDER BY chi2_q DESC, w) AS rk FROM stat
    )
    WHERE rk <= {_CHI2_TOPK}
    ORDER BY rk
    """,
)
def token_chi2_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{k} tokens by chi-square association with the quality class:
    ``(w, a, b, chi2_q, direction, rk)`` where a/b are class presence
    counts and direction is +1 when the token indicates the positive
    class.

    Plan shape: ONE corpus explode -> in-partition distinct -> one
    w-keyed count aggregate (map-side combinable); the class totals are
    one scalar row broadcast into the vocabulary-grain statistic; the
    final rank is a distributed top-k over vocabulary-grain rows."""
    docs = spread(load_table(spark, sf_dir, "documents", columns=["doc_id", "text", "n_chars"]))
    lab = docs.select(
        "doc_id",
        F.when(F.col("n_chars") >= _CHI2_THRESH, 1).otherwise(0).alias("y"),
        F.filter(F.split("text", " "), lambda t: t != "").alias("ts"),
    )
    tot = lab.agg(
        F.sum(F.col("y")).cast("long").alias("n1"),
        F.sum(1 - F.col("y")).cast("long").alias("n0"),
    )
    pres = lab.select("doc_id", "y", F.explode("ts").alias("w")).distinct()
    cnt = (
        pres.groupBy("w")
        .agg(
            F.sum("y").cast("long").alias("a"),
            F.sum(1 - F.col("y")).cast("long").alias("b"),
        )
        .filter(F.col("a") + F.col("b") >= _CHI2_MIN_DF)
    )
    d38 = "DECIMAL(38,0)"
    diff = f"(CAST(a AS {d38}) * (n0 - b) - CAST(b AS {d38}) * (n1 - a))"
    chi2 = (
        f"CAST((CAST(n1 + n0 AS {d38}) * {diff} * {diff} * {_CHI2_GRID})"
        f" div (CAST(a + b AS {d38}) * (n1 + n0 - a - b)"
        f" * CAST(n1 AS {d38}) * CAST(n0 AS {d38})) AS BIGINT)"
    )
    stat = (
        cnt.crossJoin(F.broadcast(tot))
        .filter(
            (F.col("a") + F.col("b") < F.col("n1") + F.col("n0"))
            & (F.col("n1") > 0)
            & (F.col("n0") > 0)
        )
        .select(
            "w",
            "a",
            "b",
            F.expr(chi2).alias("chi2_q"),
            F.when(
                F.expr(f"CAST(a AS {d38}) * n0 >= CAST(b AS {d38}) * n1"), 1
            ).otherwise(-1).alias("direction"),
        )
    )
    top = stat.orderBy(F.desc("chi2_q"), F.asc("w")).limit(_CHI2_TOPK)
    win = W.orderBy(F.desc("chi2_q"), F.asc("w"))
    return (
        top.withColumn("rk", F.row_number().over(win).cast("int"))
        .select("w", "a", "b", "chi2_q", "direction", "rk")
        .orderBy("rk")
    )


# --- per-source quantile calibration: raw quality signals are not
# comparable across sources (a web dump's length distribution differs
# from curated text), so production filters threshold each source at
# its OWN quantiles (the FineWeb per-dump calibration).  The calibrated
# score is the exact-integer empirical quantile of the doc's raw score
# within its source; a single global cut on the calibrated score then
# keeps the same fraction of every source by construction.
_CAL_SCALE = 1_000_000
_CAL_KEEP_Q = 800_000  # keep the per-source top 20%


@query(
    "per_source_quantile_calibration",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rk,
               count(*) OVER (PARTITION BY source) AS n
        FROM documents
    )
    SELECT doc_id, source, CAST(n_chars AS BIGINT) AS raw,
           CAST(CASE WHEN n > 1 THEN (rk - 1) * {_CAL_SCALE} // (n - 1)
                ELSE {_CAL_SCALE} END AS BIGINT) AS cal_q,
           (CASE WHEN n > 1 THEN (rk - 1) * {_CAL_SCALE} // (n - 1)
                 ELSE {_CAL_SCALE} END) >= {_CAL_KEEP_Q} AS keep
    FROM ranked
    """,
)
def per_source_quantile_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, source, raw, cal_q, keep)`` — the raw score mapped to
    its exact within-source quantile (1e-6 grid), with the global keep
    cut applied on the calibrated scale.

    Histogram-rank plan (VERDICT r9 weak #2 — replaces the per-source
    corpus rank window, which put each whole source in one task):

    1. ``groupBy(source, n_chars)`` counts — map-side combinable;
    2. cumulative windows over that distinct-value table (bounded by
       |sources| x |distinct lengths|, a grid not the corpus) derive
       each value group's rank-range start and the source total ``n``;
    3. the start table broadcasts back onto the docs, and the in-group
       tiebreak rank (the oracle orders by ``n_chars, doc_id``) is a
       window keyed by (source, n_chars) — corpus-grain work, but the
       partition key is now high-cardinality, so no task ever holds
       more than one length-value of one source.

    ``rk = start + in-group rank`` reproduces the oracle's row_number
    exactly; the quantile math is the same exact-integer expression."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "source", "n_chars"])
    hist = docs.groupBy("source", "n_chars").agg(F.count(F.lit(1)).alias("c"))
    wcum = W.partitionBy("source").orderBy("n_chars")
    cum = hist.select(
        "source",
        "n_chars",
        (F.sum("c").over(wcum) - F.col("c")).alias("start"),
        F.sum("c").over(W.partitionBy("source")).alias("n"),
    )
    sub = F.row_number().over(W.partitionBy("source", "n_chars").orderBy("doc_id"))
    ranked = (
        docs.join(F.broadcast(cum), ["source", "n_chars"])
        .withColumn("rk", (F.col("start") + sub).cast("long"))
    )
    cal = F.when(
        F.col("n") > 1, F.expr(f"(rk - 1) * {_CAL_SCALE} div (CAST(n AS BIGINT) - 1)")
    ).otherwise(F.lit(_CAL_SCALE))
    return ranked.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("raw"),
        cal.cast("long").alias("cal_q"),
        (cal >= _CAL_KEEP_Q).alias("keep"),
    )
