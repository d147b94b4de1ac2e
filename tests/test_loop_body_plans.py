"""Per-round plan assertions for the iterative operators (VERDICT r5
next #4): the per-round ``localCheckpoint()`` in PageRank / LPA / BFS /
logreg truncates lineage, so the registry-level plan budgets
(test_plan_quality.py::_PLAN_BUDGETS) only ever see the final
post-checkpoint segment — a regression INSIDE the loop body (say, a lost
map-side partial aggregate in round 3) was invisible.  These tests build
one representative round from checkpointed inputs (exactly what every
round consumes) and assert the loop-body plan itself: map-side partial
aggregation present, exchange count bounded, no source rescans."""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import functions as F

from columnflow_spark.queries.graph import bfs_round, lpa_round, pagerank_round


def _fmt(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _edges(spark):
    # small directed graph with a dangling node (7 has no out-edges)
    rows = [(1, 2), (2, 3), (3, 1), (1, 3), (4, 5), (5, 4), (6, 7), (3, 7)]
    return spark.createDataFrame(rows, "src long, dst long").localCheckpoint()


def test_pagerank_round_body_plan(spark):
    edges = _edges(spark)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    outdeg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    ranks = nodes.select(
        "node", F.lit(10**6).cast("long").alias("rank")
    ).localCheckpoint()
    body = pagerank_round(nodes, edges, outdeg, ranks, nodes.count(), 15 * 10**4)
    plan = _fmt(body)
    tree = plan.split("\n\n")[0]
    # the contribution aggregate MUST partial-combine map-side before the
    # node-grain shuffle — losing it multiplies round shuffle volume by
    # the average in-degree
    assert "partial_sum" in plan, "contribution aggregate lost its map-side partial"
    # dangling mass must stay a broadcast, never a shuffle of rank state
    assert "BroadcastExchange" in tree
    # round-body exchange budget (measured: with_deg join 2x branches +
    # contrib src-join/agg + dangling scalar agg + final node join; a
    # bump needs the same justification as a bench regression) and no
    # source rescans
    assert tree.count("- Exchange") <= 8, tree
    assert "Scan parquet" not in tree


def test_lpa_round_body_plan(spark):
    dir_edges = _edges(spark)
    labels = (
        dir_edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("lab"))
        .localCheckpoint()
    )
    plan = _fmt(lpa_round(dir_edges, labels))
    tree = plan.split("\n\n")[0]
    # one edge-volume shuffle with map-side partial vote counts + the
    # node-grain argmax AGGREGATE (r13: max_by replaced the rank window —
    # both halves must partial-combine map-side, and no per-node sort)
    assert "partial_count" in plan, "vote count lost its map-side partial"
    assert "partial_max_by" in plan, "argmax lost its map-side partial"
    assert "Window" not in tree, "argmax regressed to a rank window"
    assert tree.count("- Exchange") <= 4, tree
    assert "Scan parquet" not in tree


def test_bfs_round_body_plan(spark):
    dir_edges = _edges(spark)
    dist = (
        dir_edges.select(F.col("src").alias("node"))
        .distinct()
        .limit(2)
        .select("node", F.lit(0).cast("int").alias("dist"))
        .localCheckpoint()
    )
    plan = _fmt(bfs_round(dir_edges, dist, 1))
    tree = plan.split("\n\n")[0]
    # the dist-map fold is an exact integer min — map-side combinable
    assert "partial_min" in plan, "dist fold lost its map-side partial"
    assert tree.count("- Exchange") <= 4, tree
    assert "Scan parquet" not in tree


def test_logreg_round_body_plan(spark, sf_dir):
    # the learned-gate / quality-classifier training round: K x ONE
    # corpus aggregation — the gradient plan must be a single partial+final
    # aggregate pair over the feature frame, nothing else
    from columnflow_spark.queries.quality import _LOGREG_W0, _logreg_feat, _logreg_grad

    feat = _logreg_feat(spark, sf_dir).localCheckpoint()
    plan = _fmt(_logreg_grad(feat, [_LOGREG_W0] * 64))
    tree = plan.split("\n\n")[0]
    assert "partial_sum" in plan, "gradient aggregate lost its map-side partial"
    assert tree.count("- Exchange") <= 2, tree
    assert "Scan parquet" not in tree


def test_hits_half_round_body_plan(spark):
    from columnflow_spark.queries.graph import hits_contrib, hits_normalize

    edges = _edges(spark)
    scores = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.lit(10**8).cast("long").alias("s"))
        .localCheckpoint()
    )
    contrib = hits_contrib(edges, scores, "src", "dst")
    plan = _fmt(contrib)
    tree = plan.split("\n\n")[0]
    # contribution sum must partial-combine before the node-grain shuffle
    assert "partial_sum" in plan, "HITS contribution lost its map-side partial"
    assert tree.count("- Exchange") <= 3, tree
    assert "Scan parquet" not in tree

    norm = hits_normalize(contrib.localCheckpoint(), 7 * 10**8)
    nplan = _fmt(norm)
    ntree = nplan.split("\n\n")[0]
    # the L1 normalizer is ONE scalar row: broadcast, never a shuffle of
    # score state back through the driver
    assert "BroadcastExchange" in ntree
    assert ntree.count("- Exchange") <= 2, ntree
    assert "Scan parquet" not in ntree


def test_ppr_round_body_plan(spark):
    from columnflow_spark.queries.graph import ppr_round

    edges = _edges(spark)
    outdeg = (
        edges.groupBy(F.col("src").alias("node"))
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint()
    )
    seeds = (
        edges.select(F.col("src").alias("node")).distinct().limit(2).localCheckpoint()
    )
    ranks = seeds.select(
        "node", F.lit(10**9).cast("long").alias("rank")
    ).localCheckpoint()
    body = ppr_round(edges, outdeg, seeds, ranks, 2, 15 * 10**7)
    plan = _fmt(body)
    tree = plan.split("\n\n")[0]
    # contribution aggregate must partial-combine before the node shuffle
    assert "partial_sum" in plan, "PPR contribution lost its map-side partial"
    # dangling mass stays a broadcast scalar, never a rank-state shuffle
    assert "BroadcastExchange" in tree
    assert tree.count("- Exchange") <= 8, tree
    assert "Scan parquet" not in tree
