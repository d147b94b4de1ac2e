"""BM25 retrieval: ranking semantics + the query-driven plan shape."""

from __future__ import annotations

import contextlib
import io

import pytest

from columnflow_spark.queries import all_queries
from columnflow_spark.queries.retrieval import _BM25_QUERIES, _BM25_TOPK


@pytest.fixture(scope="module")
def bm25_rows(spark, sf_dir):
    return all_queries()["bm25_topk"](spark, sf_dir).collect()


def test_bm25_shape_and_rank_order(bm25_rows):
    by_q: dict[int, list] = {}
    for r in bm25_rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {qid for qid, _ in _BM25_QUERIES}
    for qid, rows in by_q.items():
        assert len(rows) <= _BM25_TOPK
        assert [r.rk for r in rows] == list(range(1, len(rows) + 1))
        # rank follows (score desc, doc_id asc) — the total tie-break order
        key = [(-r.score_q, r.doc_id) for r in rows]
        assert key == sorted(key)
        assert all(r.score_q > 0 for r in rows)


def test_bm25_top_docs_contain_query_terms(spark, sf_dir, bm25_rows):
    """Every retrieved doc must contain at least one query term, and the
    rank-1 doc must not be beaten by a doc matching MORE distinct terms
    with higher frequencies of the rarest term (sanity, not a re-scoring)."""
    docs = {
        r.doc_id: set(r.text.split(" "))
        for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
    }
    queries = dict(_BM25_QUERIES)
    for r in bm25_rows:
        terms = set(queries[r.query_id].split(" "))
        assert terms & docs[r.doc_id], (r.query_id, r.doc_id)


def test_bm25_plan_is_query_driven(spark, sf_dir):
    """The posting collect behind every BM25 path filters each document's
    tokens to the query terms BEFORE the explode — only documents with a
    hit become rows, so posting volume, not corpus volume, leaves the
    scan — with no shuffle at all and at most two corpus scans; serving
    the ranked result never rescans the corpus."""
    from columnflow_spark.queries.retrieval import _BM25_TERMS, _bm25_hits_frame

    df, _ = _bm25_hits_frame(spark, sf_dir, _BM25_TERMS)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    tree = plan.split("\n\n")[0].splitlines()
    assert not any("Exchange" in ln for ln in tree), plan
    assert sum("Scan parquet" in ln for ln in tree) <= 2, plan
    # the term filter sits below (runs before) the one explosion
    gen = next(i for i, ln in enumerate(tree) if "Generate" in ln)
    filters = [ln for ln in tree[gen + 1 :] if "Filter (" in ln]
    assert filters, plan
    nid = filters[0].split("(")[-1].rstrip(")")
    cond = next(ln for ln in plan.split(f"({nid}) Filter")[1].splitlines() if "Condition" in ln)
    assert all(w in cond for _, w in _BM25_TERMS), cond
    assert sum("Generate" in ln for ln in tree) == 1, plan
    sdf = all_queries()["bm25_topk"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        sdf.explain("formatted")
    stree = buf.getvalue().split("\n\n")[0]
    assert "Scan parquet" not in stree, stree


def _spark_si(spark, rows):
    """``{key: (x, si)}``: the per-term BM25 score as Spark computed it
    before the driver kernel, the ``F.log`` expression scaled to the grid
    (``x``) and its ``F.round`` (``si``), over ``rows`` of ``(key,
    n_docs, sum_dl, df, tf, dl)``; avgdl is the double division of the
    integer stats."""
    import pyspark.sql.functions as F

    from columnflow_spark.queries.retrieval import _BM25_B, _BM25_K1, _BM25_SCALE
    from columnflow_spark.sources.sinks import local_frame

    frame = local_frame(
        spark, rows, "key long, n_docs long, sum_dl long, df long, tf long, dl int"
    )
    n_docs = F.col("n_docs").cast("double")
    avgdl = F.col("sum_dl").cast("double") / F.col("n_docs")
    k1, b = F.lit(_BM25_K1), F.lit(_BM25_B)
    term_score = (
        F.log(1 + (n_docs - F.col("df") + 0.5) / (F.col("df") + 0.5))
        * (F.col("tf") * (k1 + 1))
        / (F.col("tf") + k1 * (1 - b + b * F.col("dl") / avgdl))
    )
    x = term_score * _BM25_SCALE
    out = frame.select("key", x.alias("x"), F.round(x, 0).cast("long").alias("si"))
    return {r.key: (r.x, r.si) for r in out.collect()}


def test_bm25_kernel_matches_spark_arithmetic(spark, monkeypatch):
    """Seeded property test: the driver kernel's per-term score equals
    Spark's double expression bit for bit over >= 10^4 rows of
    (n_docs, sum_dl, df, tf, dl), edge cases df = n_docs and tf = 1
    included — both the scaled double before rounding and the rounded
    grid value.  Each term is its own query, so each (query, doc) total
    IS one term score."""
    import numpy as np
    import pyarrow as pa

    from columnflow_spark.queries import retrieval

    doubles = []
    half_up = retrieval._half_up
    monkeypatch.setattr(retrieval, "_half_up", lambda x: doubles.append(x) or half_up(x))
    rng = np.random.default_rng(16)
    rows, got = [], {}
    for group in range(40):
        # small collections reach df = n_docs; large ones stress the idf
        n_docs = int(rng.integers(1, 200)) if group % 2 else int(rng.integers(200, 10**7))
        sum_dl = n_docs * int(rng.integers(1, 300)) + int(rng.integers(0, n_docs))
        top = min(n_docs, 200)
        dfs = sorted({1, min(n_docs, 2), top, *rng.integers(1, top + 1, 6).tolist()})
        terms, post = [], []
        for t, df in enumerate(dfs):
            terms.append((t, f"w{t}"))
            tf = np.where(rng.random(df) < 0.3, 1, rng.integers(1, 40, df))
            dl = tf + rng.integers(0, 2000, df)
            for d in range(df):
                post.append((f"w{t}", d, int(tf[d]), int(dl[d])))
                rows.append(((group * 16 + t) * 1000 + d, n_docs, sum_dl, df, int(tf[d]), int(dl[d])))
        w, doc, tf, dl = zip(*post)
        table = pa.table({"w": w, "doc_id": doc, "tf": tf, "dl": pa.array(dl, pa.int32())})
        totals = retrieval.bm25_score(spark, terms, table, n_docs, sum_dl)
        # the kernel scores the posting rows in their (w, doc) order
        x = dict(zip(((group * 16 + int(w[1:])) * 1000 + d for w, d, _, _ in post), doubles[-1]))
        for q, d, si in zip(*(a.tolist() for a in totals)):
            key = (group * 16 + q) * 1000 + d
            got[key] = (x[key], si)
    assert len(rows) >= 10_000 and any(r[3] == r[1] for r in rows) and any(r[4] == 1 for r in rows)
    assert got == _spark_si(spark, rows)


def test_bm25_formula_has_one_home():
    """The BM25 parameters are read in exactly two kinds of place in the
    package: the driver kernel ``bm25_score`` and the oracle SQL
    (f-strings).  A second Spark or numpy spelling of the formula would
    read them anywhere else, and fails here."""
    import ast
    import pathlib

    import columnflow_spark

    names = {"_BM25_K1", "_BM25_B"}
    stray = []
    for path in pathlib.Path(columnflow_spark.__file__).parent.rglob("*.py"):
        tree = ast.parse(path.read_text())
        parent = {c: n for n in ast.walk(tree) for c in ast.iter_child_nodes(n)}
        for node in ast.walk(tree):
            if isinstance(node, ast.Name) and node.id in names:
                if isinstance(node.ctx, ast.Store):
                    continue  # the definition
            elif not (isinstance(node, ast.Attribute) and node.attr in names):
                continue
            up = node
            while up in parent and not (
                isinstance(up, ast.JoinedStr)
                or isinstance(up, ast.FunctionDef) and up.name == "bm25_score"
            ):
                up = parent[up]
            if up not in parent:
                stray.append(f"{path.name}:{node.lineno}")
    assert not stray, stray


def test_half_up_is_spark_round(spark):
    """The kernel's rounding equals Spark's ``round(x, 0)`` on the knife
    edges a random score never hits: exact halves, their float
    neighbours and values whose shortest decimal form ends in 5."""
    import numpy as np
    import pyspark.sql.functions as F

    from columnflow_spark.queries.retrieval import _half_up
    from columnflow_spark.sources.sinks import local_frame

    halves = np.arange(0, 5000) + 0.5
    xs = np.concatenate([
        halves,
        np.nextafter(halves, 0),
        np.nextafter(halves, np.inf),
        np.array([0.0, 0.49999999999999994, 2.5e15 + 0.5, 4503599627370495.5]),
        np.random.default_rng(7).random(2000) * 1e7,
    ])
    frame = local_frame(spark, [(i, float(x)) for i, x in enumerate(xs)], "i int, x double")
    want = [r.si for r in frame.orderBy("i").select(F.round("x", 0).cast("long").alias("si")).collect()]
    assert _half_up(xs).tolist() == want


def test_bm25_serving_job_counts(spark, sf_dir):
    """The BM25 reads run on the driver: a cold bm25_topk is the one
    posting collect (the stats ride on it), a warm one reads the session
    totals and runs no job, and a warm store-served read is one collect
    of the stored postings."""
    from columnflow_spark.core.artifacts import purge
    from columnflow_spark.session import count_jobs
    from columnflow_spark.sources import load_table

    qs = all_queries()
    load_table(spark, sf_dir, "documents")  # the base table artifact
    purge("bm25_totals")
    _, cold = count_jobs(spark, lambda: qs["bm25_topk"](spark, sf_dir).collect())
    _, warm = count_jobs(spark, lambda: qs["bm25_topk"](spark, sf_dir).collect())
    qs["bm25_incremental_postings"](spark, sf_dir).collect()  # builds the store
    _, served = count_jobs(
        spark, lambda: qs["bm25_incremental_postings"](spark, sf_dir).collect()
    )
    assert (cold, warm, served) == (1, 0, 1)


def test_hybrid_rrf_fusion_invariants(spark, sf_dir):
    """Fused score must equal the integer RRF recomputed from the reported
    arm ranks (0 = absent from that arm's pool), and each query's list must
    follow the (rrf desc, doc_id) total order with contiguous ranks."""
    from columnflow_spark.queries.retrieval import _RRF_K, _RRF_POOL, _RRF_SCALE, _RRF_TOPK

    rows = all_queries()["hybrid_search_rrf"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {qid for qid, _ in _BM25_QUERIES}
    for rows_q in by_q.values():
        assert len(rows_q) <= _RRF_TOPK
        assert [r.rk for r in rows_q] == list(range(1, len(rows_q) + 1))
        key = [(-r.rrf_q, r.doc_id) for r in rows_q]
        assert key == sorted(key)
        for r in rows_q:
            assert 0 <= r.lex_rk <= _RRF_POOL and 0 <= r.dense_rk <= _RRF_POOL
            assert r.lex_rk or r.dense_rk  # at least one arm proposed it
            want = sum(
                _RRF_SCALE // (_RRF_K + rk) for rk in (r.lex_rk, r.dense_rk) if rk
            )
            assert r.rrf_q == want, r


def test_hybrid_rrf_dense_arm_hits_probe(spark, sf_dir):
    """The dense probe for query q is embedding vec_id == q itself, so the
    probe doc's dense rank must be 1 (cosine(self, self) maximal)."""
    rows = all_queries()["hybrid_search_rrf"](spark, sf_dir).collect()
    self_rows = [r for r in rows if r.doc_id == r.query_id]
    assert {r.query_id for r in self_rows} == {qid for qid, _ in _BM25_QUERIES}
    assert all(r.dense_rk == 1 for r in self_rows), self_rows


def test_hybrid_indexed_fusion_invariants(spark, sf_dir):
    """The index-served hybrid obeys the same fusion arithmetic: fused
    score recomputable from the reported arm ranks, total order, bounded
    contiguous ranks."""
    from columnflow_spark.queries.retrieval import _RRF_K, _RRF_POOL, _RRF_SCALE, _RRF_TOPK

    rows = all_queries()["hybrid_search_rrf_indexed"](spark, sf_dir).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {qid for qid, _ in _BM25_QUERIES}
    for rows_q in by_q.values():
        assert len(rows_q) <= _RRF_TOPK
        assert [r.rk for r in rows_q] == list(range(1, len(rows_q) + 1))
        key = [(-r.rrf_q, r.doc_id) for r in rows_q]
        assert key == sorted(key)
        for r in rows_q:
            assert 0 <= r.lex_rk <= _RRF_POOL and 0 <= r.dense_rk <= _RRF_POOL
            assert r.lex_rk or r.dense_rk
            want = sum(
                _RRF_SCALE // (_RRF_K + rk) for rk in (r.lex_rk, r.dense_rk) if rk
            )
            assert r.rrf_q == want, r


def test_hybrid_indexed_recall_vs_brute_force(spark, sf_dir):
    """Pin the IVF+PQ approximation inside the fused result: the
    index-served top-k must overlap the brute-force hybrid top-k well
    above the random floor, and the LEXICAL contribution must be
    identical between the two (only the dense arm is approximate)."""
    brute = all_queries()["hybrid_search_rrf"](spark, sf_dir).collect()
    idx = all_queries()["hybrid_search_rrf_indexed"](spark, sf_dir).collect()
    b_set = {(r.query_id, r.doc_id) for r in brute}
    i_set = {(r.query_id, r.doc_id) for r in idx}
    assert b_set and i_set
    # lexical arm parity: every doc ranked by BM25 carries the SAME
    # lex_rk in both variants
    b_lex = {(r.query_id, r.doc_id): r.lex_rk for r in brute if r.lex_rk}
    i_lex = {(r.query_id, r.doc_id): r.lex_rk for r in idx if r.lex_rk}
    shared = b_lex.keys() & i_lex.keys()
    assert shared and all(b_lex[k] == i_lex[k] for k in shared)
    # fused-list overlap: BM25-anchored docs dominate the fusion, so the
    # floor is well above the IVF probed-volume floor; measured ~0.8+ at
    # test SFs
    overlap = len(b_set & i_set) / len(b_set)
    assert overlap >= 0.5, f"index-served hybrid diverged from brute force: {overlap}"


def test_maxsim_routed_recall_vs_brute(spark, sf_dir):
    """Routing recall: the routed top-k must overlap the exhaustive
    MaxSim top-k well above the probed-volume floor, and every routed
    score must equal the brute score for the same (query, doc) — the
    re-rank kernel is shared, only the candidate set shrinks."""
    brute = all_queries()["colbert_maxsim_topk"](spark, sf_dir).collect()
    routed = all_queries()["colbert_maxsim_routed_topk"](spark, sf_dir).collect()
    b_scores = {(r.query_id, r.doc_id): r.maxsim_q for r in brute}
    r_scores = {(r.query_id, r.doc_id): r.maxsim_q for r in routed}
    assert b_scores and r_scores
    shared = b_scores.keys() & r_scores.keys()
    assert shared and all(b_scores[k] == r_scores[k] for k in shared)
    recall = len(shared) / len(b_scores)
    # the structural floor is scale-free: each query's own vector sits in
    # a probed cell (its nearest) and tops both lists, so >= 1 of 10 per
    # query is guaranteed; the rest tracks the probed-volume fraction
    # (2 / n_cells, which SHRINKS as the corpus grows cells at n/64 —
    # measured 1.0 at sf0.001/0.01, 0.2 at sf0.1)
    assert recall >= 0.1, f"routing recall collapsed: {recall}"


def test_postings_store_incremental_equals_from_scratch(spark, sf_dir, tmp_path):
    # the lexical index-maintenance contract: two upserted batches must
    # serve the identical ranked result as one full-corpus batch — every
    # scoring input (tf, dl, df, n_docs, avgdl) is reproduced exactly
    import pyspark.sql.functions as F

    from columnflow_spark.queries.retrieval import (
        _bm25_rank,
        bm25_totals_from_store,
        upsert_postings_batch,
    )
    from columnflow_spark.sources import load_table

    n = load_table(spark, sf_dir, "documents", columns=["doc_id"]).count()

    def ranked(path):
        df = _bm25_rank(spark, bm25_totals_from_store(spark, path))
        return sorted((r.query_id, r.doc_id, r.score_q, r.rk) for r in df.collect())

    two = str(tmp_path / "two")
    upsert_postings_batch(spark, sf_dir, two, batch=0, batch_pred=F.col("doc_id") < n // 3)
    upsert_postings_batch(spark, sf_dir, two, batch=1, batch_pred=F.col("doc_id") >= n // 3)
    one = str(tmp_path / "one")
    upsert_postings_batch(spark, sf_dir, one, batch=0, batch_pred=F.lit(True))
    r_two, r_one = ranked(two), ranked(one)
    assert r_two == r_one and len(r_two) > 0
    # idempotent re-upsert: re-running batch 1 must not duplicate postings
    upsert_postings_batch(spark, sf_dir, two, batch=1, batch_pred=F.col("doc_id") >= n // 3)
    assert ranked(two) == r_one


def test_postings_delete_equals_reduced_rebuild(spark, sf_dir, tmp_path):
    # right-to-be-forgotten propagation: full build + delete must serve
    # the identical ranked result as a from-scratch build over the
    # reduced corpus — and the rewrite must NOT destroy the _stats
    # sidecar (the replace_store bug this test pinned: stats vanished and
    # every score went NaN off a negative doc count)
    import os

    import pyspark.sql.functions as F

    from columnflow_spark.queries.retrieval import (
        _bm25_rank,
        bm25_totals_from_store,
        delete_docs_from_postings,
        upsert_postings_batch,
    )

    def ranked(path):
        df = _bm25_rank(spark, bm25_totals_from_store(spark, path))
        return sorted((r.query_id, r.doc_id, r.score_q, r.rk) for r in df.collect())

    deleted_pred = F.col("doc_id") % 5 == 2
    full = str(tmp_path / "full")
    upsert_postings_batch(spark, sf_dir, full, batch=0, batch_pred=F.lit(True))
    delete_docs_from_postings(spark, sf_dir, full, delete_pred=deleted_pred, batch=1)
    reduced = str(tmp_path / "reduced")
    upsert_postings_batch(spark, sf_dir, reduced, batch=0, batch_pred=~deleted_pred)
    assert ranked(full) == ranked(reduced) and len(ranked(full)) > 0
    # the stats sidecar survived the posting rewrite: original + negative
    assert os.path.exists(os.path.join(full, "_stats"))
    stats = spark.read.parquet(os.path.join(full, "_stats")).collect()
    assert len(stats) == 2 and any(r.n_docs < 0 for r in stats)
    # no deleted doc's postings remain
    assert spark.read.parquet(full).filter(deleted_pred).count() == 0


def test_rm3_expansion_semantics(spark, sf_dir):
    """RM3 contract: expansion terms never repeat original query terms,
    every query gets exactly M ranked terms, and the expanded ranking
    actually moves at least one query's top-10 (the point of feedback)."""
    from columnflow_spark.queries import all_queries
    from columnflow_spark.queries.retrieval import _BM25_QUERIES, _RM3_EXP_TERMS

    qs = all_queries()
    terms = qs["bm25_rm3_terms"](spark, sf_dir).collect()
    orig = {qid: set(text.split(" ")) for qid, text in _BM25_QUERIES}
    per_q: dict = {}
    for r in terms:
        assert r.w not in orig[r.query_id], (r.query_id, r.w)
        per_q.setdefault(r.query_id, []).append(r.trk)
    assert set(per_q) == set(orig)
    assert all(sorted(v) == list(range(1, _RM3_EXP_TERMS + 1)) for v in per_q.values())

    plain = {(r.query_id, r.rk): r.doc_id for r in qs["bm25_topk"](spark, sf_dir).collect()}
    rm3 = {(r.query_id, r.rk): r.doc_id for r in qs["bm25_rm3_topk"](spark, sf_dir).collect()}
    assert rm3 != plain, "expansion changed nothing — feedback is dead"


def test_hybrid_filtered_predicate_and_pool_integrity(spark, sf_dir):
    """Every filtered-hybrid result satisfies the lang predicate, and
    ranks are WITHIN the filtered universe (pre-filter): any doc ranked
    by an arm is eligible, so a rank-1 result exists per query."""
    from columnflow_spark.queries.retrieval import _HYB_FILTER_LANG
    from columnflow_spark.sources import load_table

    rows = all_queries()["hybrid_search_rrf_filtered"](spark, sf_dir).collect()
    assert rows
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, sf_dir, "documents", columns=["doc_id", "lang"]).collect()
    }
    assert all(langs[r.doc_id] == _HYB_FILTER_LANG for r in rows)
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r.rk)
    for q, rks in by_q.items():
        assert sorted(rks) == list(range(1, len(rks) + 1)), (q, rks)
