"""Delete-capable incremental connected-components store (VERDICT r11
missing #1 / round-12 #3).

The insert-only streaming CC sink (queries/streaming.py) maintains a
``(node, label)`` store under min-merge labels; an EDGE RETRACTION can
split a component, which min-merge cannot express.  This module adds the
full CDC contract the other incremental store families already have:

- the store keeps BOTH sidecars, ``nodes/`` and ``edges/`` (each
  hive-partitioned ``gb=hash(label) / batch=``), so a retraction can
  re-read exactly the affected components' member edges label-pruned —
  never the corpus;
- :func:`cc_apply_edges` inserts a micro-batch (the streaming sink
  contract: endpoint labels resolved in-plan, label-level edges solved
  via the shared ``components_from_edges`` — driver union-find below
  ``_CC_DRIVER_MAX_EDGES``, distributed min-label loop above);
- :func:`cc_retract_edges` deletes a batch of edges: resolve the
  touched components, re-solve ONLY their member subgraph minus the
  retracted pairs, rewrite those members, tombstone the dead edges.

Label REBIRTH makes deletion subtle: the insert-only store's LIVE-LABEL
invariant ("labels only die, so any stored row under a live label is
current") breaks once a split can resurrect a previously-absorbed label
(component {1,101} label 1 merges into label 0; a retraction splits
{1,101} back out and label 1 is live again — but stale rows written
under label 1 BEFORE the merge still exist).  The fix is the dual-bucket
write discipline: every relabel writes the new row under BOTH the old
and the new label's ``gb=`` partition.  Then within any partition a row
ever lived in, its latest version there always names its NEXT label —
so every pruned read is latest-wins per key THEN label-filtered, and a
stale row can never satisfy the filter.  Deleted edges get a
``live=false`` tombstone row under their current partition (latest-wins
kills the old row, the live filter kills the tombstone).

Batch twin ``order_part_components_delete`` exercises the same bounded
re-solve shape without the store; streaming ``streaming_cc_cdc`` drives
ingest through :func:`cc_apply_edges` and retracts the ``qty == 49``
pairs through the store contract.  Shared oracle: recursive
min-reachability over the REDUCED edge set (inserted minus retracted).

Reference anchor: the reference engine has no streaming/CDC surface
(columnflow is batch-only); this family is beyond-parity scale work.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnflow_spark.core.state import checkpoint_df
from columnflow_spark.queries import query
from columnflow_spark.queries.streaming import (
    _SCC_GB,
    _SCC_PART_OFF,
    _SCC_QTY_MIN,
    _derive_scc_gb,
    _drain,
    _read_scc_gb,
    _write_scc_gb,
    replay_ingest,
)
from columnflow_spark.sources import load_table, spread
from columnflow_spark.sources.sinks import local_frame, upsert_partitions


def _gb(col: str = "label", gb_mod: int = _SCC_GB):
    """Label → gb= bucket under the STORE'S recorded modulus (r13:
    scale-adaptive, read from the ``_GB`` metadata file at each call
    site — a fixed modulus made every label-pruned read a constant
    1/16 of the store)."""
    return F.pmod(F.xxhash64(col), F.lit(int(gb_mod)))


def _nodes_path(store: str) -> str:
    return os.path.join(store, "nodes")


def _edges_path(store: str) -> str:
    return os.path.join(store, "edges")


def _latest(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Latest-batch-wins per key over an already-pruned read (the
    bounded fetched rows, never the store)."""
    w = W.partitionBy(*keys).orderBy(F.desc("batch"))
    return rows.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1)


def _node_lookup(spark: SparkSession, store: str, nodes: DataFrame, b: int) -> DataFrame:
    """Current ``(node, label)`` for an arbitrary node set: semi-join +
    latest-wins window (a node-keyed lookup cannot label-prune; the
    window runs over the semi-joined batch-bounded rows only)."""
    if not os.path.exists(_nodes_path(store)):
        return local_frame(spark, [], "node long, label long")
    return (
        _latest(
            spark.read.parquet(_nodes_path(store))
            .filter(F.col("batch") <= b)  # replay fence
            .join(nodes, "node", "left_semi"),
            ["node"],
        )
        .select("node", "label")
    )


def _dual_gb(
    df: DataFrame, old_label: str, new_label: str, gb_mod: int = _SCC_GB
) -> DataFrame:
    """Explode a relabeled row into BOTH the old and the new label's
    ``gb=`` bucket (the rebirth-safety write discipline — see module
    docstring)."""
    return df.withColumn(
        "gb",
        F.explode(
            F.array_distinct(F.array(_gb(old_label, gb_mod), _gb(new_label, gb_mod)))
        ),
    )


def cc_apply_edges(
    spark: SparkSession, batch_df: DataFrame, store: str, batch_id: int
) -> None:
    """Insert one micro-batch of undirected edges ``(a, b)``: resolve
    endpoint labels in-plan, solve LABEL-level edges with the shared
    guarded solve, rewrite absorbed labels' members (nodes AND edges,
    dual-bucket), land the batch's own edges.  Work is bounded by batch
    size + absorbed components' members; the only raw collects are
    ``gb`` bucket ids (bounded by the touched components).  Bucket
    pruning is at gb= grain with a modulus DERIVED from corpus size at
    store creation (r13): each touched bucket reads ~the creation-time
    target rows, so the member re-read scales with the touched
    components, not with a constant fraction of the store."""
    from columnflow_spark.queries.mmdata import components_from_edges

    b = int(batch_id)
    gbm = _read_scc_gb(store)
    pairs = batch_df.select("a", "b").distinct().transform(checkpoint_df)
    if pairs.isEmpty():
        return
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .union(pairs.select(F.col("b").alias("node")))
        .distinct()
    )
    exists = os.path.exists(_nodes_path(store))
    cur = _node_lookup(spark, store, nodes, b).transform(checkpoint_df)
    lab_edges = (
        pairs.join(
            cur.select(F.col("node").alias("a"), F.col("label").alias("la")), "a", "left"
        )
        .join(
            cur.select(F.col("node").alias("b"), F.col("label").alias("lb")), "b", "left"
        )
        .select(
            F.coalesce("la", F.col("a")).alias("x"),
            F.coalesce("lb", F.col("b")).alias("y"),
        )
        .filter(F.col("x") != F.col("y"))
        .select(F.least("x", "y").alias("d1"), F.greatest("x", "y").alias("d2"))
        .distinct()
        .transform(checkpoint_df)
    )
    touched = (
        lab_edges.select(F.col("d1").alias("doc_id"))
        .union(lab_edges.select(F.col("d2").alias("doc_id")))
        .distinct()
    )
    rootmap = (
        components_from_edges(touched, lab_edges)
        .select(F.col("doc_id").alias("label"), F.col("component").alias("root"))
        .transform(checkpoint_df)
    )
    amap = rootmap.filter(F.col("root") != F.col("label"))
    new_nodes = (
        nodes.join(cur, "node", "left_anti")
        .join(amap.select(F.col("label").alias("node"), "root"), "node", "left")
        .select("node", F.coalesce("root", F.col("node")).alias("label"))
        .withColumn("gb", _gb(gb_mod=gbm))
    )
    out_nodes = new_nodes
    out_edges = None
    if exists and not amap.isEmpty():
        gbs = sorted(
            {r.g for r in amap.select(_gb(gb_mod=gbm).alias("g")).distinct().collect()}
        )  # bounded: ≤ touched components' bucket ids
        members_n = (
            _latest(
                spark.read.parquet(_nodes_path(store))
                .filter(F.col("batch") <= b)
                .filter(F.col("gb").isin(gbs)),
                ["node"],
            )
            .join(amap, "label")  # label filter AFTER latest-wins (rebirth rule)
            .select("node", F.col("label").alias("old_label"), F.col("root").alias("label"))
        )
        out_nodes = out_nodes.unionByName(
            _dual_gb(members_n, "old_label", "label", gbm).select("node", "label", "gb")
        )
        if os.path.exists(_edges_path(store)):
            members_e = (
                _latest(
                    spark.read.parquet(_edges_path(store))
                    .filter(F.col("batch") <= b)
                    .filter(F.col("gb").isin(gbs)),
                    ["a", "b"],
                )
                .filter(F.col("live"))
                .join(amap, "label")
                .select(
                    "a", "b", F.col("label").alias("old_label"), F.col("root").alias("label")
                )
            )
            out_edges = (
                _dual_gb(members_e, "old_label", "label", gbm)
                .select("a", "b", "label", F.lit(True).alias("live"), "gb")
            )
    own_edges = (
        pairs.join(
            cur.select(F.col("node").alias("a"), F.col("label").alias("la")), "a", "left"
        )
        .select("a", "b", F.coalesce("la", F.col("a")).alias("x"))
        .join(rootmap.select(F.col("label").alias("x"), "root"), "x", "left")
        .select(
            "a",
            "b",
            F.coalesce("root", F.col("x")).alias("label"),
            F.lit(True).alias("live"),
        )
        .withColumn("gb", _gb(gb_mod=gbm))
    )
    out_edges = own_edges if out_edges is None else own_edges.unionByName(out_edges)
    upsert_partitions(
        out_nodes.withColumn("batch", F.lit(b + 1)),
        _nodes_path(store),
        partition_by=["gb", "batch"],
    )
    upsert_partitions(
        out_edges.withColumn("batch", F.lit(b + 1)),
        _edges_path(store),
        partition_by=["gb", "batch"],
    )


def cc_retract_edges(
    spark: SparkSession, pairs_df: DataFrame, store: str, batch_id: int
) -> None:
    """Retract a batch of edges: the split case min-merge cannot express.
    Resolve the retracted pairs' CURRENT components, re-read those
    components' member nodes + live member edges — pruned at gb= bucket
    grain under the store's corpus-scaled modulus (ADVICE r12: with the
    old FIXED modulus each touched bucket read 1/16 of the store; the
    derived modulus keeps a bucket at ~the creation-time row target, so
    the read tracks the touched components up to that constant, never
    the corpus) — re-solve the member subgraph MINUS the retracted
    pairs with the shared guarded solve, rewrite the members
    (dual-bucket) and tombstone the dead edges.  Retracting an absent or
    already-retracted edge re-solves to the identical labels — re-delete
    is idempotent."""
    from columnflow_spark.queries.mmdata import components_from_edges

    b = int(batch_id)
    gbm = _read_scc_gb(store)
    if not os.path.exists(_nodes_path(store)):
        return
    pairs = pairs_df.select("a", "b").distinct().transform(checkpoint_df)
    if pairs.isEmpty():
        return
    nodes = (
        pairs.select(F.col("a").alias("node"))
        .union(pairs.select(F.col("b").alias("node")))
        .distinct()
    )
    cur = _node_lookup(spark, store, nodes, b).transform(checkpoint_df)
    affected = cur.select("label").distinct().transform(checkpoint_df)
    if affected.isEmpty():
        return
    gbs = sorted(
        {r.g for r in affected.select(_gb(gb_mod=gbm).alias("g")).distinct().collect()}
    )  # bounded: ≤ touched components' bucket ids
    members_n = (
        _latest(
            spark.read.parquet(_nodes_path(store))
            .filter(F.col("batch") <= b)
            .filter(F.col("gb").isin(gbs)),
            ["node"],
        )
        .join(affected, "label", "left_semi")
        .select("node", F.col("label").alias("old_label"))
        .transform(checkpoint_df)
    )
    members_e = (
        _latest(
            spark.read.parquet(_edges_path(store))
            .filter(F.col("batch") <= b)
            .filter(F.col("gb").isin(gbs)),
            ["a", "b"],
        )
        .filter(F.col("live"))
        .join(affected, "label", "left_semi")
        .select("a", "b", F.col("label").alias("old_label"))
        .transform(checkpoint_df)
    )
    dead = members_e.join(pairs, ["a", "b"], "left_semi")
    reduced = members_e.join(pairs, ["a", "b"], "left_anti")
    resolved = (
        components_from_edges(
            members_n.select(F.col("node").alias("doc_id")),
            reduced.select(F.col("a").alias("d1"), F.col("b").alias("d2")),
        )
        .select(F.col("doc_id").alias("node"), F.col("component").alias("label"))
        .transform(checkpoint_df)
    )
    out_nodes = _dual_gb(
        members_n.join(resolved, "node"), "old_label", "label", gbm
    ).select("node", "label", "gb")
    out_edges = _dual_gb(
        reduced.join(resolved.select(F.col("node").alias("a"), "label"), "a"),
        "old_label",
        "label",
        gbm,
    ).select("a", "b", "label", F.lit(True).alias("live"), "gb")
    tombs = dead.select(
        "a",
        "b",
        F.col("old_label").alias("label"),
        F.lit(False).alias("live"),
        _gb("old_label", gbm).alias("gb"),
    )
    upsert_partitions(
        out_nodes.withColumn("batch", F.lit(b + 1)),
        _nodes_path(store),
        partition_by=["gb", "batch"],
    )
    upsert_partitions(
        out_edges.unionByName(tombs).withColumn("batch", F.lit(b + 1)),
        _edges_path(store),
        partition_by=["gb", "batch"],
    )


def cc_compact_store(spark: SparkSession, store: str) -> str:
    """Physical fold (the family's vacuum): rewrite BOTH sidecars as one
    ``batch=0`` layout — each node's single current row under its
    current label's bucket, each LIVE edge re-labeled to its component's
    current label, tombstones and stale dual-bucket history dropped.
    The full-store read is the one corpus-proportional read compaction
    is allowed (the graph-vacuum rule); each sidecar rewrite is a
    ``replace_store`` (staged, published by one rename), and a crash
    between the two publishes leaves a correct store (the sidecars are
    independently complete) that a re-run finishes — idempotent.  Run at stream
    quiescence, like every other store vacuum: a micro-batch replayed
    from BEFORE the compaction horizon would see folded state."""
    from columnflow_spark.sources.sinks import replace_store, write_events

    gbm = _read_scc_gb(store)
    labels = cc_current_labels(spark, store).transform(checkpoint_df)
    nodes_new = labels.select(
        "node", "label", _gb(gb_mod=gbm).alias("gb"), F.lit(0).alias("batch")
    )
    edges_new = (
        _latest(spark.read.parquet(_edges_path(store)), ["a", "b"])
        .filter(F.col("live"))
        .select("a", "b")
        .join(labels.select(F.col("node").alias("a"), "label"), "a")
        .select(
            "a", "b", "label", F.lit(True).alias("live"),
            _gb(gb_mod=gbm).alias("gb"), F.lit(0).alias("batch"),
        )
    )
    for path, rows in ((_nodes_path(store), nodes_new), (_edges_path(store), edges_new)):
        replace_store(path, lambda p: write_events(rows, p, partition_by=["gb", "batch"]))
    return store


def cc_current_labels(spark: SparkSession, store: str) -> DataFrame:
    """At-rest ``(node, label)``: global latest-wins per node."""
    return _latest(spark.read.parquet(_nodes_path(store)), ["node"]).select(
        "node", "label"
    )


# --- shared oracle: min-reachability over the REDUCED edge set ---

_CC_DEL_ORACLE = f"""
WITH RECURSIVE
e0 AS (
    SELECT DISTINCT l_orderkey AS a, l_partkey + {_SCC_PART_OFF} AS b
    FROM lineitem WHERE l_quantity >= {_SCC_QTY_MIN}
),
dl AS (
    SELECT DISTINCT l_orderkey AS a, l_partkey + {_SCC_PART_OFF} AS b
    FROM lineitem WHERE l_quantity = {_SCC_QTY_MIN}
),
e AS (
    SELECT a, b FROM e0
    WHERE NOT EXISTS (SELECT 1 FROM dl WHERE dl.a = e0.a AND dl.b = e0.b)
),
sym AS (SELECT a AS s, b AS t FROM e UNION ALL SELECT b AS s, a AS t FROM e),
nodes AS (SELECT DISTINCT s AS n FROM sym),
reach AS (
    SELECT n AS src, n AS node FROM nodes
    UNION
    SELECT r.src, sym.t AS node FROM reach r JOIN sym ON sym.s = r.node
),
comp AS (SELECT src, min(node) AS c FROM reach GROUP BY src)
SELECT o.o_orderkey AS order_id,
       CAST(coalesce(c.c, o.o_orderkey) AS BIGINT) AS component
FROM orders o LEFT JOIN comp c ON c.src = o.o_orderkey
ORDER BY order_id
"""


def _order_labels(spark: SparkSession, sf_dir: str, labels: DataFrame) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey"])
    return (
        orders.join(
            labels.select(F.col("node").alias("o_orderkey"), "label"),
            "o_orderkey",
            "left",
        )
        .select(
            F.col("o_orderkey").alias("order_id"),
            F.coalesce("label", "o_orderkey").cast("long").alias("component"),
        )
        .orderBy("order_id")
    )


@query("order_part_components_delete", oracle=_CC_DEL_ORACLE)
def order_part_components_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of CC edge retraction: solve the full graph, then
    retract the ``qty == {_SCC_QTY_MIN}`` pairs by re-solving ONLY the
    affected components' member subgraph (their edges read
    membership-pruned, the store form's label-pruned partition read) and
    splicing the re-solved labels over the untouched rest.  Work beyond
    the base solve is proportional to the retracted components, not the
    graph."""
    from columnflow_spark.queries.mmdata import components_from_edges

    li = spread(
        load_table(
            spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey", "l_quantity"]
        )
    )
    base = li.select(
        F.col("l_orderkey").alias("d1"),
        (F.col("l_partkey") + _SCC_PART_OFF).alias("d2"),
        "l_quantity",
    )
    # ONE corpus pass for BOTH pair sets (r13, guide §1.2): dl ⊆ e0
    # (qty == MIN implies qty >= MIN), so the edge set and the
    # retraction set come out of a single grouped aggregate carrying a
    # has-min flag — previously two lineitem scans, two distinct
    # shuffles and two checkpoints over the same pairs.  The groupBy
    # partial-combines map-side exactly like the distinct did.
    grouped = (
        base.filter(F.col("l_quantity") >= _SCC_QTY_MIN)
        .groupBy("d1", "d2")
        .agg(F.max((F.col("l_quantity") == _SCC_QTY_MIN).cast("int")).alias("has_min"))
        .transform(checkpoint_df)
    )
    e0 = grouped.select("d1", "d2")
    dl = grouped.filter(F.col("has_min") == 1).select("d1", "d2")
    endpoints = e0.select(F.col("d1").alias("doc_id")).union(
        e0.select(F.col("d2").alias("doc_id"))
    ).distinct()
    full = components_from_edges(endpoints, e0).transform(checkpoint_df)
    dep = dl.select(F.col("d1").alias("doc_id")).union(
        dl.select(F.col("d2").alias("doc_id"))
    ).distinct()
    affected = (
        full.join(dep, "doc_id", "left_semi").select("component").distinct()
        .transform(checkpoint_df)
    )
    members = full.join(affected, "component", "left_semi")
    mem_e = e0.join(
        members.select(F.col("doc_id").alias("d1")), "d1", "left_semi"
    )  # both endpoints share the component, so the a-side prunes fully
    reduced = mem_e.join(dl, ["d1", "d2"], "left_anti")
    resolved = components_from_edges(members.select("doc_id"), reduced)
    final = full.join(affected, "component", "left_anti").unionByName(resolved)
    return _order_labels(
        spark, sf_dir, final.select(F.col("doc_id").alias("node"), F.col("component").alias("label"))
    )


@contextmanager
def _run_cc_cdc_lifecycle(spark: SparkSession, sf_dir: str) -> Iterator[str]:
    """Shared CDC drive: stream-ingest the ``qty >= {_SCC_QTY_MIN}``
    edges through :func:`cc_apply_edges`, then retract the
    ``qty == {_SCC_QTY_MIN}`` pairs as two delete batches through
    :func:`cc_retract_edges`.  Yields the scratch store path, which is
    removed when the block exits."""
    with replay_ingest(
        spark, sf_dir, "lineitem", "l_orderkey", "store", target_batches=8
    ) as rp:
        (store,) = rp.dirs
        # scale-adaptive bucket modulus, recorded at store creation (r13)
        _write_scc_gb(store, _derive_scc_gb(rp.rows))
        _drain(
            rp.stream.filter(F.col("l_quantity") >= _SCC_QTY_MIN).select(
                F.col("l_orderkey").alias("a"),
                (F.col("l_partkey") + _SCC_PART_OFF).alias("b"),
            ),
            lambda bdf, bid: cc_apply_edges(spark, bdf, store, int(bid)),
        )
        dels = (
            spread(
                load_table(
                    spark,
                    sf_dir,
                    "lineitem",
                    columns=["l_orderkey", "l_partkey", "l_quantity"],
                )
            )
            .filter(F.col("l_quantity") == _SCC_QTY_MIN)
            .select(
                F.col("l_orderkey").alias("a"),
                (F.col("l_partkey") + _SCC_PART_OFF).alias("b"),
            )
            .distinct()
        )
        # two CDC delete batches (id-split) — the split re-solve must hold
        # across batch boundaries, not just as one big retraction
        cc_retract_edges(spark, dels.filter(F.col("a") % 2 == 0), store, 1000)
        cc_retract_edges(spark, dels.filter(F.col("a") % 2 == 1), store, 1001)
        yield store


@query("streaming_cc_cdc", oracle=_CC_DEL_ORACLE)
def streaming_cc_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CC with CDC deletes (completes the r9 rule — every
    incremental store family propagates deletions): the edge stream
    ingests through :func:`cc_apply_edges` (the insert sink contract),
    then the ``qty == {_SCC_QTY_MIN}`` retractions land as two delete
    batches through :func:`cc_retract_edges` — split re-solve bounded to
    the touched components.  At rest ≡ the batch twin ≡ the reduced-set
    min-reachability oracle."""
    with _run_cc_cdc_lifecycle(spark, sf_dir) as store:
        return _order_labels(spark, sf_dir, cc_current_labels(spark, store)).transform(
            checkpoint_df
        )


@query("streaming_cc_cdc_vacuum", oracle=_CC_DEL_ORACLE)
def streaming_cc_cdc_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL lifecycle in one oracle chain (the graph family's
    cdc-vacuum shape): stream ingest → CDC retractions → physical
    compaction (:func:`cc_compact_store` folds both sidecars to one
    batch=0 layout, purging tombstones and stale history) → serve.
    Hash-equal to the un-compacted CDC serve and to the reduced-set
    oracle — the layout invariance IS the vacuum correctness proof."""
    with _run_cc_cdc_lifecycle(spark, sf_dir) as store:
        cc_compact_store(spark, store)
        return _order_labels(spark, sf_dir, cc_current_labels(spark, store)).transform(
            checkpoint_df
        )
