"""Filtered ANN search — metadata predicate + vector query (VERDICT r10
next #4): "top-k among vectors with label ∈ L", the production
vector-store API shape every retrieval user hits next (Qdrant/Weaviate
filtered search, FAISS IDSelector).

Two serve paths, matching how each index family can honor a predicate:

- **IVF+PQ — pre-filter the inverted lists.**  The predicate is
  metadata on the indexed rows, so it pushes INTO the candidate scan:
  only predicate-matching members of the probed cells are ADC-scored.
  This is exact w.r.t. the probed cells (no recall loss from
  filtering — the filter runs before ranking) and the scan shrinks
  with selectivity.  At scale the label rides the index rows
  (partition column or page field), so the filter is a pushed-down
  predicate on the pruned cell read — here it is a bounded semi-join
  against the label column scan.

- **Graph — widened beam + post-filter.**  A navigable graph cannot
  pre-filter routing (walks must pass through non-matching nodes to
  reach matching regions — the DiskANN filtered-search observation),
  so the beam runs WIDER (2x) and the predicate applies to the visited
  set before the final ranking.  Post-filtering a fixed-width beam
  loses recall as selectivity drops; the widened beam restores it at a
  proportional (still bounded) page-read budget.  The recall-per-
  selectivity-tier trade is pinned in tests/test_ann_graph.py against
  brute force over the filtered corpus.

Both serves replay exactly in their oracles (the walk/scan is on the
same integer grid as the unfiltered family), so the driver hash-checks
filtered semantics, while recall floors are property-pinned.

Reference parity: the reference has no ANN engine (nearest-neighbour
there is per-event ΔR matching, reference columnflow/util.py); this is
beyond-parity LLM-pipeline surface like the rest of the ANN families.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnflow_spark.queries import query
from columnflow_spark.queries.anngraph import (
    _G_ROUNDS,
    _final_topk,
    _g_beam_ctes,
    _g_build_ctes,
    _graph_beam,
    _query_vectors,
    _session_pages,
)
from columnflow_spark.queries.mmdata import ivfpq_adc_ctes
from columnflow_spark.sources import load_table, spread

#: the two pinned selectivity tiers (embeddings.label is uniform 0-9):
#: ~20% for the graph post-filter arm, ~10% for the IVF pre-filter arm
_F_GRAPH_LABELS = (2, 5)
_F_IVF_LABEL = 7
_F_BEAM_W = 32  # 2x the unfiltered beam width — the post-filter budget


def _labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "label"]))


def graph_filtered_topk(
    spark: SparkSession, sf_dir: str, labels_in: tuple[int, ...], beam_w: int
) -> DataFrame:
    """Widened-beam graph serve post-filtered to ``label ∈ labels_in``.

    The filter IO is scale-shaped: one column-pruned (vec_id, label)
    scan joined against the BROADCAST bounded visited-id set (never a
    corpus shuffle), then the bounded match-list broadcasts back into
    the visited frame."""
    from columnflow_spark.core.state import checkpoint_df

    qv = _query_vectors(spark, sf_dir)
    # collapse the per-round union ONCE before the label joins: the
    # semi-join would otherwise be pushed into every union branch,
    # duplicating the label scan + visited-id aggregate per round (r13 —
    # visible in plans/r13/ann_graph_filtered_topk plans)
    visited = _graph_beam(
        spark, qv, _session_pages(spark, sf_dir), beam_w=beam_w
    ).transform(checkpoint_df)
    vis_ids = visited.select("vec_id").distinct()
    matching = (
        _labels(spark, sf_dir)
        .filter(F.col("label").isin(*labels_in))
        .join(F.broadcast(vis_ids), "vec_id", "left_semi")
        .select("vec_id")
    )
    return _final_topk(visited.join(F.broadcast(matching), "vec_id", "left_semi"))


_GRAPH_FILTERED_ORACLE = (
    f"WITH {_g_build_ctes()},{_g_beam_ctes(beam_w=_F_BEAM_W)}"
    + f"""
    SELECT query_id, vec_id AS neighbor_id, CAST(d AS BIGINT) AS d, CAST(rk AS INT) AS rk
    FROM (
        SELECT v.query_id, v.vec_id, v.d,
               row_number() OVER (PARTITION BY v.query_id ORDER BY v.d DESC, v.vec_id) AS rk
        FROM v{_G_ROUNDS} v JOIN embeddings e ON e.vec_id = v.vec_id
        WHERE v.vec_id <> v.query_id AND e.label IN {_F_GRAPH_LABELS}
    )
    WHERE rk <= 5
    ORDER BY query_id, rk
    """
)


@query("ann_graph_filtered_topk", oracle=_GRAPH_FILTERED_ORACLE)
def ann_graph_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-constrained graph serve: top-5 among ``label ∈ (2,5)``
    (~20% selectivity) from a 2x-widened beam; the oracle replays the
    widened walk with the final label join."""
    return graph_filtered_topk(spark, sf_dir, _F_GRAPH_LABELS, _F_BEAM_W)


_IVF_FILTERED_ORACLE = f"""
    WITH {ivfpq_adc_ctes(
        cand_filter_sql=(
            "AND a.vec_id IN "
            f"(SELECT vec_id FROM embeddings WHERE label = {_F_IVF_LABEL})"
        )
    )}
    SELECT query_id, neighbor_id, adc_dist, rk
    FROM ivf_rank
    ORDER BY query_id, rk
    """


@query("ann_ivfpq_filtered_topk", oracle=_IVF_FILTERED_ORACLE)
def ann_ivfpq_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate-constrained IVF+PQ serve: the ``label = 7`` filter is
    pushed into the candidate side (only matching members of the probed
    cells are ADC-scored) — the inverted-list pre-filter shape, exact
    w.r.t. the probed cells."""
    from columnflow_spark.functions.similarity import nearest_centroid_assign
    from columnflow_spark.queries.mmdata import (
        _adc_rank,
        _ivf_cents,
        _ivf_probes,
        _pq_exploded_codes,
        _pq_query_lut,
    )

    emb = spread(load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]))
    cents = _ivf_cents(emb)
    assign = nearest_centroid_assign(emb, cents.select("cid", "ce")).select(
        "vec_id", "cid"
    )
    # metadata pre-filter on the candidate side: at scale the label is a
    # field of the index rows; here the bounded matching-id set comes
    # from one column-pruned scan and semi-joins the cell members
    match = _labels(spark, sf_dir).filter(F.col("label") == _F_IVF_LABEL).select("vec_id")
    probes = _ivf_probes(emb, cents).select("query_id", "cid")
    lut = _pq_query_lut(spark, sf_dir, F.col("vec_id") % 100 == 7)
    cand = (
        assign.join(match, "vec_id", "left_semi")
        .join(F.broadcast(probes), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    adc = (
        cand.join(_pq_exploded_codes(spark, sf_dir), "vec_id")
        .join(F.broadcast(lut), ["query_id", "sub", "code"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d").alias("sum_d"))
    )
    return _adc_rank(adc)
