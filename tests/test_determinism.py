"""Partition-invariance: the engine's sampling / ordering / dedup ops
derive every decision from content hashes, never from partitioning or
RNG state — so results must be IDENTICAL under different shuffle
parallelism.  This is the reproducibility contract a training-data
pipeline needs (the same corpus on 1 core or 1000 executors)."""

from __future__ import annotations

import pytest

from columnflow_spark.queries import all_queries

_INVARIANT_QUERIES = [
    "stratified_sample",
    "weighted_sample_aes",
    "sample_k_per_group",
    "training_shuffle_shards",
    "dedup_minhash_lsh",
    "dedup_bloom_prefilter",
    "cms_heavy_hitters",
    "ann_pq_codes",
    "dsir_resample",
    "bpe_train_merges",
    "skew_salted_topk_values",
    "embedding_pca_project",
    "quantile_sketch_values",
    "quantile_sliding_window",
]


def test_graph_beam_partition_invariance(spark, sf_dir):
    # the beam's loop state is collect-driven (entrant buckets) and the
    # adjacency build is cached per session — clear the cache so BOTH
    # the graph build and the walk re-run under each parallelism
    from columnflow_spark.core.artifacts import purge

    q = all_queries()["ann_graph_beam_topk"]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        purge("graph_adjacency")
        a = sorted(map(tuple, q(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        purge("graph_adjacency")
        b = sorted(map(tuple, q(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        purge("graph_adjacency")
    assert a == b


def test_ltr_training_partition_invariance(spark, sf_dir):
    # the per-step 1e-6 weight rounding must absorb partial-sum order
    # differences — the published integer weights are the contract
    from columnflow_spark.core.artifacts import purge
    from columnflow_spark.queries import retrieval

    ltr = ("ltr_features", "ltr_weights", "ltr_pairwise_weights")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        for artifact in ltr:
            purge(artifact)
        a = (retrieval.ltr_train(spark, sf_dir), retrieval.ltr_train_pairwise(spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        for artifact in ltr:
            purge(artifact)
        b = (retrieval.ltr_train(spark, sf_dir), retrieval.ltr_train_pairwise(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        for artifact in ltr:
            purge(artifact)
    assert a == b


@pytest.mark.parametrize("name", _INVARIANT_QUERIES)
def test_partition_invariance(name, spark, sf_dir):
    q = all_queries()[name]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        a = sorted(map(tuple, q(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        b = sorted(map(tuple, q(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert a == b, f"{name} changed under different shuffle parallelism"


def test_logreg_training_partition_invariance(spark, sf_dir):
    # training sums are partial-aggregated, so the trained weights differ
    # at ulp level across parallelism — the round-4 published model must
    # not.  The per-corpus weight memo is cleared so training re-runs.
    from columnflow_spark.core.artifacts import purge

    q = all_queries()["ml_logreg_fit"]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        purge("logreg_weights")
        a = sorted(map(tuple, q(spark, sf_dir).collect()))
        spark.conf.set("spark.sql.shuffle.partitions", "29")
        purge("logreg_weights")
        b = sorted(map(tuple, q(spark, sf_dir).collect()))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
        purge("logreg_weights")
    assert a == b, "published logreg model changed under different shuffle parallelism"
