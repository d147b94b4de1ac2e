"""Media-column plumbing tests: typed struct schema, mapInPandas batch
shapes, deterministic fallbacks, frame fan-out (columnflow_spark.mmdata)."""

from __future__ import annotations

from pyspark.sql import functions as F

from columnflow_spark.mmdata import audio_features, build_media_table, decode_image, sample_frames
from columnflow_spark.sources import load_table


def _media(spark, sf_dir):
    docs = (
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        .limit(50)
        .select("doc_id", F.encode("text", "utf-8").alias("payload"))
    )
    return build_media_table(docs, payload="payload", mime="image/fake")


def test_media_struct_schema(spark, sf_dir):
    media = _media(spark, sf_dir)
    dt = dict(media.dtypes)["media"]
    assert "payload:binary" in dt.replace(" ", "")
    assert "n_bytes:bigint" in dt.replace(" ", "")
    # metadata usable without decoding payloads
    row = media.select(F.col("media.meta.n_bytes").alias("nb"), F.col("media.mime").alias("m")).first()
    assert row["nb"] > 0 and row["m"] == "image/fake"


def test_decode_image_deterministic(spark, sf_dir):
    media = _media(spark, sf_dir)
    a = {r["doc_id"]: (r["width"], r["height"]) for r in decode_image(media).collect()}
    b = {r["doc_id"]: (r["width"], r["height"]) for r in decode_image(media).collect()}
    assert a == b and len(a) == 50
    assert all(64 <= w < 64 + 577 for w, _h in a.values())


def test_sample_frames_fanout(spark, sf_dir):
    media = _media(spark, sf_dir)
    frames = sample_frames(media, every_n=30).collect()
    by_doc: dict = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    # every doc emits frame 0, strides of 30, fingerprints in range
    for idxs in by_doc.values():
        assert sorted(idxs)[0] == 0
        assert all(i % 30 == 0 for i in idxs)
    assert all(0 <= r["frame_fp"] < 1000003 for r in frames)


def test_audio_features_shape(spark, sf_dir):
    media = _media(spark, sf_dir)
    rows = audio_features(media).collect()
    assert len(rows) == 50
    assert all(r["duration_ms"] >= 0 and 0.0 <= r["loudness"] < 1.0 for r in rows)


def test_funnel_classifier_stage_counts_and_discrimination(spark, sf_dir):
    import pyspark.sql.functions as F

    import columnflow_spark.queries.quality as M
    from columnflow_spark.queries import all_queries

    rows = {r.name: r for r in all_queries()["training_corpus_pipeline"](spark, sf_dir).collect()}
    assert [rows[n].stage for n in (
        "input", "lang_filter", "quality_gate", "exact_dedup", "fuzzy_dedup",
        "decontaminated", "classifier_filter", "tokenized",
    )] == [1, 2, 3, 4, 5, 6, 7, 8]
    # counts are monotone non-increasing down the funnel
    counts = [
        rows[n].n_docs
        for n in (
            "input", "lang_filter", "quality_gate", "exact_dedup", "fuzzy_dedup",
            "decontaminated", "classifier_filter", "tokenized",
        )
    ]
    assert all(a >= b for a, b in zip(counts[:-1], counts[1:-1]))
    # the learned gate actually filters, and tokenization sees its output.
    # At larger SFs the synthetic corpus's tiny vocabulary makes the
    # n-gram decontamination remove (nearly) everything — oracle-verified
    # behavior of the DATA, not the engine — so the strict split check
    # only applies when enough mass survives to split on the median.
    if rows["decontaminated"].n_docs >= 10:
        assert 0 < rows["classifier_filter"].n_docs < rows["decontaminated"].n_docs
    assert rows["tokenized"].n_docs == rows["classifier_filter"].n_docs

    # discrimination: the median-threshold keep rate for 'dup'-marked docs
    # (the weak-supervision negative class) is below the clean-doc rate
    docs = M.load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    w = M._tf_logreg_train(spark, sf_dir)
    wl = F.array(*[F.lit(float(v)) for v in w])
    z = F.aggregate(
        F.zip_with(wl, M._tf_x_expr(), lambda a, b: a * b), F.lit(0.0), lambda a, v: a + v
    )
    thr = float(docs.select(z.alias("z")).agg(F.expr("percentile(z, 0.5)")).collect()[0][0])
    scored = docs.select(z.alias("z"), F.col("text")).withColumn(
        "keep", F.col("z") >= F.lit(thr)
    ).withColumn("is_dup_marked", F.array_contains(F.split("text", " "), "dup"))
    rates = {
        r.is_dup_marked: r.rate
        for r in scored.groupBy("is_dup_marked").agg(F.avg(F.col("keep").cast("double")).alias("rate")).collect()
    }
    assert rates[True] < rates[False]


def test_unigram_lm_cap_and_oov_floor(spark):
    # the capped unigram LM: top-k vocabulary by (count desc, word asc)
    # and the 0.5-count floor for out-of-vocabulary words — the path the
    # test corpora never exercise (their vocabularies fit under the cap)
    import math

    from pyspark.sql import functions as F

    from columnflow_spark.queries.tokenlm import _unigram_lm, _unigram_neg_logp

    docs = spark.createDataFrame(
        [(1, "a a a b"), (2, "b c d")], "doc_id long, text string"
    )
    words = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    vocab, total = _unigram_lm(words, k=2)
    assert {(r.w, r.c) for r in vocab.collect()} == {("a", 3), ("b", 2)}

    scored = {
        r.doc_id: r.s
        for r in words.join(F.broadcast(vocab), "w", "left")
        .join(F.broadcast(total))
        .groupBy("doc_id")
        .agg(F.round(F.avg(_unigram_neg_logp()), 6).alias("s"))
        .collect()
    }
    n = 7.0
    exp1 = (3 * -math.log(3 / n) + -math.log(2 / n)) / 4
    exp2 = (-math.log(2 / n) + 2 * -math.log(0.5 / n)) / 3  # c, d hit the floor
    assert scored[1] == round(exp1, 6)
    assert scored[2] == round(exp2, 6)


def test_unigram_vocab_cap_is_distributed_topk(spark, sf_dir):
    # the cap must compile to TakeOrderedAndProject (map-side partial
    # top-K), never a global single-partition Sort of the vocabulary
    import contextlib
    import io

    from pyspark.sql import functions as F

    from columnflow_spark.queries.tokenlm import _unigram_lm
    from columnflow_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    words = docs.select(
        "doc_id", F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w")
    )
    vocab, _total = _unigram_lm(words)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        vocab.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert "TakeOrderedAndProject" in tree


def test_tf_feat_explode_form_matches_inrow_expr(spark, sf_dir):
    # _tf_feat's linear explode/count build must produce bit-identical
    # feature vectors to the in-row _tf_x_expr form used by the scoring
    # paths — the two are the same function computed two ways
    from pyspark.sql import functions as F

    from columnflow_spark.queries.quality import _tf_feat, _tf_x_expr
    from columnflow_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    inrow = docs.select("doc_id", _tf_x_expr().alias("x"))
    built = _tf_feat(docs)
    n = docs.count()
    assert built.count() == n
    assert (
        built.join(inrow, "doc_id")
        .filter(built.x != inrow.x)
        .count()
        == 0
    )


def test_semdedup_no_cartesian_and_doremi_weight_laws(spark, sf_dir):
    # semdedup's within-cluster pairing must stay a cid-keyed hash join
    import contextlib
    import io

    from columnflow_spark.queries import all_queries

    q = all_queries()
    df = q["semdedup_clusters"](spark, sf_dir)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    tree = buf.getvalue().split("\n\n")[0]
    assert "CartesianProduct" not in tree
    assert "BroadcastNestedLoopJoin" not in tree

    # doremi invariants: weights form a distribution and mass moves
    # monotonically with domain loss (multiplicative weights on excess
    # loss preserves the loss ordering)
    rows = q["doremi_domain_weights"](spark, sf_dir).collect()
    total = sum(r.weight_q for r in rows)
    assert abs(total - 1_000_000) <= len(rows)  # quantization slack
    by_loss = sorted(rows, key=lambda r: r.loss_q)
    weights_in_loss_order = [r.weight_q for r in by_loss]
    assert weights_in_loss_order == sorted(weights_in_loss_order)


def test_phash_planted_near_copies(spark, sf_dir):
    """phash recall on planted near-copies: a copy with a single mid-text
    substitution must land within the Hamming verify threshold of its
    original for the vast majority of docs, and exact copies always."""
    import pyspark.sql.functions as F

    from columnflow_spark.mmdata import build_media_table, phash_image
    from columnflow_spark.queries.textdedup import _PH_BITS, phash_neardup_pairs
    from columnflow_spark.sources import load_table

    docs = (
        load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
        .filter((F.length("text") >= _PH_BITS + 1) & (F.col("doc_id") < 40))
    )
    orig = docs.select("doc_id", "text")
    # near-copy: flip one character 30 positions in (id offset keeps ids
    # disjoint); exact copy: id offset 2e7
    near = docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.substring("text", 1, 29), F.lit("#"), F.expr("substring(text, 31)")
        ).alias("text"),
    )
    exact = docs.select((F.col("doc_id") + 20_000_000).alias("doc_id"), "text")
    combined = orig.unionByName(near).unionByName(exact)
    media = build_media_table(
        combined.select("doc_id", F.encode("text", "utf-8").alias("payload")),
        payload="payload",
        mime="image/png",
    )
    ph = phash_image(media).localCheckpoint(eager=True)
    pairs = {(r.d1, r.d2) for r in phash_neardup_pairs(ph).collect()}
    ids = [r.doc_id for r in orig.collect()]
    assert ids
    exact_hits = sum(1 for i in ids if (i, i + 20_000_000) in pairs)
    near_hits = sum(1 for i in ids if (i, i + 10_000_000) in pairs)
    assert exact_hits == len(ids), f"exact copies missed: {exact_hits}/{len(ids)}"
    assert near_hits >= 0.8 * len(ids), f"near-copy recall {near_hits}/{len(ids)}"


def test_bestfit_packing_no_splits_and_utilization_floor(spark, sf_dir):
    """Boundary-preserving packing: every doc sits in exactly one bin, no
    bin overflows the budget, and utilization over full class bins beats
    the harmonic floor — while concat-and-chunk demonstrably splits docs
    (the cost the bestfit form removes)."""
    from collections import defaultdict

    from columnflow_spark.queries import all_queries
    from columnflow_spark.queries.tokenlm import _PACK_BUDGET

    qs = all_queries()
    rows = qs["pack_sequences_bestfit"](spark, sf_dir).collect()
    assert rows
    fills = defaultdict(int)
    members = defaultdict(int)
    classes = {}
    for r in rows:
        assert r.n_tok > 0
        fills[r.bin_id] += r.n_tok
        members[r.bin_id] += 1
        classes[r.bin_id] = r.size_class
    # structural: no bin over budget (oversized singleton bins exempt),
    # class-k bins hold at most k docs
    for b, fill in fills.items():
        if classes[b] > 0:
            assert fill <= _PACK_BUDGET, (b, fill)
            assert members[b] <= classes[b]
    # utilization floor over FULL bins (the last bin of each class may be
    # partial): every full class-k bin carries > k*B/(k+1) >= B/2 tokens
    full = [
        fill
        for b, fill in fills.items()
        if classes[b] > 0 and members[b] == classes[b]
    ]
    if full:
        util = sum(full) / (len(full) * _PACK_BUDGET)
        assert util >= 0.5, util
    # concat-and-chunk splits documents across sequences; bestfit never
    # does (each doc appears exactly once above, by construction)
    chunked = qs["pack_sequences"](spark, sf_dir).collect()
    assert any(r.n_chunks > 1 for r in chunked), "corpus exercises no split"
    assert len({r.doc_id for r in rows}) == len(rows)


def test_substring_dedup_planted_recall(spark):
    """ExactSubstr semantics (Lee et al. 2022): a shared >= k-token
    phrase is caught at ANY offset with its exact maximal-run length;
    a (k-1)-token repeat is invisible; keep-first removal charges every
    occurrence except the lowest (doc_id, pos) one."""
    from columnflow_spark.queries.textdedup import _SSTR_K, substring_dup_runs_frame

    k = _SSTR_K
    phrase = " ".join(f"p{i}" for i in range(10))  # 10-token shared phrase
    short = " ".join(f"s{i}" for i in range(k - 1))  # k-1 tokens: sub-threshold
    docs = spark.createDataFrame(
        [
            (1, "a b " + phrase + " c d"),  # phrase at offset 2 (first occurrence)
            (2, phrase + " x y z"),  # same phrase at offset 0
            (3, "q r " + short + " t u " + short),  # k-1 repeat: below threshold
            (4, "m0 m1 " + phrase + " mm " + phrase),  # twice within one doc
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in substring_dup_runs_frame(docs, k).collect()}
    assert 3 not in out
    # 10-token phrase -> 10-k+1 = 3 dup gram positions, ONE maximal run of 10 tokens
    assert out[1]["n_runs"] == 1 and out[1]["max_run_tokens"] == 10
    assert out[2]["max_run_tokens"] == 10 and out[2]["dup_tokens"] == 10
    # doc 1 holds the first occurrence -> nothing removed there
    assert out[1]["removed_tokens"] == 0
    assert out[2]["removed_tokens"] == 10
    # self-repeating doc: two separate maximal runs, both non-first
    assert out[4]["n_runs"] == 2 and out[4]["dup_tokens"] == 20
    assert out[4]["removed_tokens"] == 20


def test_unigram_lm_viterbi_tiebreaks_and_training(spark):
    """Viterbi: max integer score, tie -> fewest pieces, tie -> lexico-
    graphically smallest space-joined sequence; training is determinis-
    tic and keeps char coverage."""
    from columnflow_spark.queries.tokenlm import _ulm_viterbi_word, unigram_train_rows

    # multi-char piece wins when its score beats the char-by-char sum
    assert _ulm_viterbi_word("abab", {"a": -300, "b": -300, "ab": -250}, 4) == [
        "ab",
        "ab",
    ]
    # equal score -> fewer pieces
    assert _ulm_viterbi_word("ab", {"a": -100, "b": -100, "ab": -200}, 4) == ["ab"]
    # equal score AND count -> smaller joined sequence ("a bc" < "ab c")
    assert _ulm_viterbi_word(
        "abc", {"ab": -100, "c": -100, "a": -100, "bc": -100}, 4
    ) == ["a", "bc"]

    wc = spark.createDataFrame(
        [("abab", 10), ("abac", 5), ("cc", 3)], "w string, cnt long"
    )
    rows1 = unigram_train_rows(spark, wc)
    rows2 = unigram_train_rows(spark, wc)
    assert rows1 == rows2  # deterministic end to end
    vocab = {p: (c, s) for p, c, s in rows1}
    for ch in "abc":  # char coverage floor survives training + prune
        assert ch in vocab
    assert all(s <= 0 for _, _, s in rows1)  # log-likelihood grid is <= 0
    assert any(len(p) >= 2 for p in vocab), "no multi-char piece learned"


def test_cross_modal_keep_set_refines_both_modalities(spark, sf_dir):
    """Unioning edge families can only MERGE clusters: every doc kept by
    the cross-modal solve is kept by each single-modality solve (min of
    a union component is min of any sub-component containing it), and
    the union never keeps more docs than either modality alone."""
    from columnflow_spark.queries import all_queries

    q = all_queries()
    full = {
        r["doc_id"] for r in q["multimodal_canonical_full"](spark, sf_dir).collect()
        if r["keep"]
    }
    visual = {
        r["doc_id"] for r in q["multimodal_phash_canonical"](spark, sf_dir).collect()
        if r["keep"]
    }
    text = {
        r["doc_id"]: r["component"]
        for r in q["dedup_connected_components"](spark, sf_dir).collect()
    }
    text_keep = {d for d, c in text.items() if d == c}
    assert full <= visual and full <= text_keep
    assert len(full) < len(visual) or len(full) < len(text_keep) or (
        full == visual == text_keep
    )


def test_substring_rewrite_planted_union_coverage(spark):
    """The rewrite removes the UNION of tokens covered by non-first
    runs (not the per-run sum): first occurrences survive verbatim,
    later occurrences lose exactly their covered spans."""
    from columnflow_spark.queries.textdedup import _SSTR_K, substring_rewrite_frame

    k = _SSTR_K
    phrase = " ".join(f"p{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, "a b " + phrase + " c d"),  # first occurrence: untouched
            (2, phrase + " x y z"),  # loses tokens 0..9 -> "x y z"
            (4, "m0 m1 " + phrase + " mm " + phrase),  # keeps m0 m1 mm
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in substring_rewrite_frame(docs, k).collect()}
    assert out[1]["n_tokens_kept"] == 14  # 2 + 10 + 2, nothing removed
    assert out[2]["n_tokens_kept"] == 3
    assert out[4]["n_tokens_kept"] == 3
    import hashlib

    assert out[2]["text_md5"] == hashlib.md5(b"x y z").hexdigest()
    assert out[4]["text_md5"] == hashlib.md5(b"m0 m1 mm").hexdigest()


def test_probe_route_and_lut_cache_key_on_predicate(spark, sf_dir):
    """Reusing an existing route_key/lut_key with a DIFFERENT predicate
    must miss the cache and route the new batch, not serve the stale
    artifact (ADVICE r8 — previously only a docstring contract)."""
    from pyspark.sql import functions as F

    from columnflow_spark.queries.mmdata import ivf_probe_route, pq_query_lut_cached

    key = ("cache-key-regression", 0)
    a = ivf_probe_route(
        spark, sf_dir, query_pred=F.col("vec_id") % 100 == 7, route_key=key
    )
    b = ivf_probe_route(
        spark, sf_dir, query_pred=F.col("vec_id") % 100 == 13, route_key=key
    )
    assert a and b
    assert all(q % 100 == 7 for q, _ in a)
    assert all(q % 100 == 13 for q, _ in b)
    la = pq_query_lut_cached(
        spark, sf_dir, F.col("vec_id") % 100 == 7, lut_key=key
    )
    lb = pq_query_lut_cached(
        spark, sf_dir, F.col("vec_id") % 100 == 13, lut_key=key
    )
    qa = {q for q, _, _, _ in la}
    qb = {q for q, _, _, _ in lb}
    assert qa and all(q % 100 == 7 for q in qa)
    assert qb and all(q % 100 == 13 for q in qb)


def test_driver_probe_plan_equals_in_plan(spark, sf_dir):
    """The driver-planned route and ADC LUT of a served read
    (``ivfpq_probe_plan``: one collect, numpy folds) equal the in-plan
    ``_ivf_probes``/``_pq_query_lut`` exactly, with every vector as a
    query."""
    from pyspark.sql import functions as F

    from columnflow_spark.queries.mmdata import (
        _ivf_cents,
        _ivf_probes,
        _pq_query_lut,
        ivfpq_probe_plan,
    )
    from columnflow_spark.sources import load_table

    every = F.lit(True)
    route, lut = ivfpq_probe_plan(spark, sf_dir, every)
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    in_route = _ivf_probes(emb, _ivf_cents(emb), query_pred=every).select("query_id", "cid")
    in_lut = _pq_query_lut(spark, sf_dir, every)
    assert route and sorted(route) == sorted(map(tuple, in_route.collect()))
    assert lut and sorted(lut) == sorted(map(tuple, in_lut.collect()))


def test_session_cache_key_is_application_scoped(spark):
    """Driver-side caches key on the application id (unique per context,
    embeds start time) — never id(spark), which CPython can recycle
    after a torn-down session is collected (VERDICT r8)."""
    from columnflow_spark.session import session_key

    k = session_key(spark)
    assert isinstance(k, str) and k == spark.sparkContext.applicationId


def test_substring_runs_union_coverage_overlaps(spark):
    """ADVICE r9 repro: interleaved nf/first/nf positions inside one
    maximal run (and adjacent runs closer than k) have OVERLAPPING
    coverage intervals — the per-extent sums double-counted them, so
    removed_tokens could exceed the document length.  Both coverage
    columns are interval unions now."""
    from columnflow_spark.queries.textdedup import _SSTR_K, substring_dup_runs_frame

    k = _SSTR_K
    t = [f"t{i}" for i in range(10)]
    g0, g1, g2 = " ".join(t[0:k]), " ".join(t[1:k + 1]), " ".join(t[2:k + 2])
    docs = spark.createDataFrame(
        [
            # doc 1 holds g0 and g2 first, NOT g1 (the X breaks it)
            (1, g0 + " X " + g2),
            # doc 10: positions 0 (nf), 1 (first holder of g1), 2 (nf)
            (10, " ".join(t)),
            # doc 20: later holder of g1 -> makes g1 duplicated
            (20, g1),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in substring_dup_runs_frame(docs, k).collect()}
    # doc 10: ONE maximal run over positions 0..2; dup coverage is the
    # union [0, 9] = 10 tokens; removal deletes [0,7] u [2,9] = all 10
    # (the r8 per-extent sum reported 16 — more tokens than the doc has)
    assert out[10]["n_runs"] == 1
    assert out[10]["dup_tokens"] == 10
    assert out[10]["removed_tokens"] == 10
    # doc 20 is a pure later copy of g1 -> fully removed
    assert out[20]["removed_tokens"] == k


def test_substring_runs_cross_run_gap_union(spark):
    """Two maximal runs separated by < k non-dup positions have
    overlapping coverage; dup_tokens is their union, never more than
    the document's token count."""
    from columnflow_spark.queries.textdedup import _SSTR_K, substring_dup_runs_frame

    k = _SSTR_K
    t = [f"u{i}" for i in range(10)]
    g0, g2 = " ".join(t[0:k]), " ".join(t[2:k + 2])
    docs = spark.createDataFrame(
        [
            (1, g0 + " Y " + g2),  # first holder of g0 and g2
            (10, " ".join(t)),  # positions 0 and 2 dup, 1 not (g1 unique)
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r.asDict() for r in substring_dup_runs_frame(docs, k).collect()}
    # two runs ({0} and {2}), coverages [0,7] and [2,9]: union = 10
    assert out[10]["n_runs"] == 2
    assert out[10]["dup_tokens"] == 10  # r8 reported 16
    assert out[10]["removed_tokens"] == 10


def test_substring_removed_equals_rewrite_delta(spark, sf_dir):
    """The coverage-union contract: per doc, removed_tokens of the runs
    frame == n_tokens - n_tokens_kept of the rewrite, corpus-wide."""
    from pyspark.sql import functions as F

    from columnflow_spark.queries.textdedup import (
        _SSTR_K,
        _sstr_words,
        substring_dup_runs_frame,
        substring_rewrite_frame,
    )
    from columnflow_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"])
    runs = substring_dup_runs_frame(docs, _SSTR_K).select("doc_id", "removed_tokens")
    rew = substring_rewrite_frame(docs, _SSTR_K).select("doc_id", "n_tokens_kept")
    ntok = docs.select("doc_id", F.size(_sstr_words(_SSTR_K)).cast("long").alias("n"))
    bad = (
        ntok.join(rew, "doc_id")
        .join(runs, "doc_id", "left")
        .withColumn("rm", F.coalesce("removed_tokens", F.lit(0)))
        .filter(F.col("n") - F.col("n_tokens_kept") != F.col("rm"))
        .count()
    )
    assert bad == 0


def test_url_normalization_variants_collapse(spark):
    """All three raw-URL noise classes (scheme/case/www, trailing slash
    + tracking query, http + fragment) normalize to the same URL, and
    keep-first picks the lowest doc_id."""
    from columnflow_spark.queries.textdedup import normalize_url, synthetic_urls
    from pyspark.sql import functions as F

    # doc_ids 0, 121, 62 share source (%20: 0,1,2 differ... craft same
    # source + same //60 group + all three %3 variants instead)
    docs = spark.createDataFrame(
        [(60, "srcA"), (61, "srcA"), (62, "srcA")], "doc_id long, source string"
    )
    out = (
        synthetic_urls(docs)
        .select("doc_id", "url", normalize_url(F.col("url")).alias("n"))
        .collect()
    )
    norms = {r.n for r in out}
    raws = {r.url for r in out}
    assert len(raws) == 3  # three genuinely different raw forms
    assert norms == {"srca.example.com/art/1"}


def test_unigram_dp_oracle_handles_long_words(spark, tmp_path):
    """VERDICT r8 next #3: the training-replay oracle must survive
    arbitrary word lengths.  The old path-enumeration CTE materialized
    every segmentation of every word (exponential: a 40-char word over
    a char-covering vocab has >= 2^39 paths); the per-position DP form
    is linear.  Crafted corpus with 40+-char words: full engine training
    + encode must equal the SQL replay."""
    import duckdb

    from columnflow_spark.queries.tokenlm import (
        _ULM_MAXLEN,
        _ulm_scores,
        _ulm_segment,
        _ulm_train_ctes,
        _ulm_viterbi_ctes,
        unigram_train_rows,
    )
    from pyspark.sql import functions as F

    long1 = "abcd" * 11  # 44 chars
    long2 = "xyxyxzzz" * 5 + "qabcdq"  # 46 chars
    texts = [
        (0, "en", long1 + " " + long2 + " abcd abcd xyz"),
        (1, "en", long1 + " abab ababab " + long2),
        (2, "de", "zzzz abcd " + long1),
    ]
    docs = spark.createDataFrame(texts, "doc_id long, lang string, text string")
    wc = (
        docs.select(F.explode(F.filter(F.split("text", " "), lambda w: w != "")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    rows = unigram_train_rows(spark, wc)  # engine: full train on the fixture
    # engine encode: per-word ntok under the final scores
    sc = {p: s for p, _, s in rows}
    seg = {
        r["w"]: len(r["pieces"]) for r in _ulm_segment(wc, sc).collect()
    }
    assert _ulm_scores is not None and _ULM_MAXLEN == 4
    # oracle: replay training + encode via the DP CTEs on the same docs
    con = duckdb.connect()
    pdf = docs.toPandas()
    con.register("documents", pdf)
    got = con.execute(
        f"""
        WITH RECURSIVE {_ulm_train_ctes()},
        {_ulm_viterbi_ctes("E", "sf")}
        SELECT w, np FROM bestE ORDER BY w
        """
    ).fetchall()
    assert dict(got) == seg
    # and the trained vocab itself matches
    vocab_sql = con.execute(
        f"""
        WITH RECURSIVE {_ulm_train_ctes()}
        SELECT vf.piece, vf.cnt, sf.sc FROM vf JOIN sf USING (piece)
        ORDER BY piece
        """
    ).fetchall()
    assert [(p, c, s) for p, c, s in vocab_sql] == rows


def test_unigram_vocab_store_roundtrip(spark, sf_dir):
    """The persisted vocab artifact serves exactly what training
    produced: build -> clear session cache -> serve == train."""
    import shutil

    from columnflow_spark.core.artifacts import purge
    from columnflow_spark.queries.tokenlm import (
        _ulm_vocab,
        _ulm_word_counts,
        unigram_train_rows,
        unigram_vocab_store_path,
    )

    trained = unigram_train_rows(spark, _ulm_word_counts(spark, sf_dir))
    shutil.rmtree(unigram_vocab_store_path(sf_dir), ignore_errors=True)
    purge("unigram_vocab")
    served = _ulm_vocab(spark, sf_dir)  # builds the store, then reads it
    assert served == trained
    purge("unigram_vocab")
    assert _ulm_vocab(spark, sf_dir) == trained  # pure store read


def test_unimax_waterfill_mixed_binding(spark, tmp_path):
    """Crafted skew: tiny sources cap at E epochs, big ones split the
    remainder uniformly — the UniMax waterfill's defining behavior,
    exact integers end to end."""
    from columnflow_spark.queries import all_queries

    rows = []
    did = 0
    sizes = {"tiny1": 10, "tiny2": 20, "big1": 400, "big2": 600}
    for src, n in sizes.items():
        rows.append((did, src, n))
        did += 1
    d = str(tmp_path / "sf")
    import os

    os.makedirs(d, exist_ok=True)
    spark.createDataFrame(
        [(i, s, "x", "en", n) for (i, s, n) in rows],
        "doc_id long, source string, text string, lang string, n_chars long",
    ).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    out = {
        r.source: (r.capped, r.quota)
        for r in all_queries()["unimax_mixture_allocation"](spark, d).collect()
    }
    # T = 1030, B = 8T/5 = 1648; sorted order tiny1, tiny2, big1, big2:
    #  tiny1: cap 20*4=80 <= 1648 -> capped, quota 20
    #  tiny2: cap 40*3=120 <= 1628 -> capped, quota 40
    #  big1:  cap 800*2=1600 > 1588 -> uncapped
    #  big2:  uncapped; remainder (1648-60)//2 = 794 each
    assert out == {
        "tiny1": (True, 20),
        "tiny2": (True, 40),
        "big1": (False, 794),
        "big2": (False, 794),
    }


def test_boilerplate_removal_semantics(spark, sf_dir):
    """Bulk-segment removal drops a segment from EVERY doc carrying it
    (not keep-first), and docs with all-unique segments are untouched
    (sig == md5 of the original token stream)."""
    from columnflow_spark.queries import all_queries
    from columnflow_spark.queries.textdedup import _BP_MIN_DOCS, _BP_SEG_TOKENS

    out = {r.doc_id: r for r in all_queries()["boilerplate_segment_removal"](spark, sf_dir).collect()}
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).collect()
    import hashlib
    from collections import Counter

    seg_docs: dict = {}
    segs_by_doc: dict = {}
    for r in docs:
        ts = [t for t in r.text.split(" ") if t]
        segs = [" ".join(ts[i : i + _BP_SEG_TOKENS]) for i in range(0, len(ts), _BP_SEG_TOKENS)]
        segs_by_doc[r.doc_id] = segs
        for s in set(segs):
            seg_docs.setdefault(s, set()).add(r.doc_id)
    bulk = {s for s, d in seg_docs.items() if len(d) >= _BP_MIN_DOCS}
    assert bulk, "fixture lost its planted duplication"
    for doc_id, segs in segs_by_doc.items():
        kept = [s for s in segs if s not in bulk]
        row = out[doc_id]
        assert row.n_seg == len(segs)
        assert row.n_seg_kept == len(kept)
        assert row.n_tokens_kept == sum(len(s.split(" ")) for s in kept)
        assert row.sig == hashlib.md5(" ".join(kept).encode()).hexdigest()


def test_leakage_safe_split_never_straddles(spark, sf_dir):
    """No near-dup pair may straddle the split, and both sides must be
    non-empty (the planted duplicate clusters would be leaked by any
    doc-grain hash split — this pins the cluster-grain one)."""
    from columnflow_spark.queries import all_queries

    qs = all_queries()
    split = {r.doc_id: r.split for r in qs["leakage_safe_split"](spark, sf_dir).collect()}
    edges = qs["dedup_ngram_jaccard"](spark, sf_dir).select("d1", "d2").collect()
    assert edges, "fixture lost its planted near-dups"
    for e in edges:
        assert split[e.d1] == split[e.d2], (e.d1, e.d2)
    sides = set(split.values())
    assert sides == {"train", "test"}


def test_quantile_calibration_equalizes_keep_rate(spark, sf_dir):
    """The point of per-source calibration: the global cut keeps (close
    to) the same fraction of EVERY source, while the same cut on the
    raw scale would not."""
    from collections import Counter

    from columnflow_spark.queries import all_queries

    rows = all_queries()["per_source_quantile_calibration"](spark, sf_dir).collect()
    per_src: Counter = Counter()
    kept: Counter = Counter()
    for r in rows:
        per_src[r.source] += 1
        kept[r.source] += bool(r.keep)
    assert len(per_src) > 1
    for s, n in per_src.items():
        frac = kept[s] / n
        # exact-quantile keep rate: 20% within one rank step
        assert abs(frac - 0.2) <= 1.5 / n + 0.01, (s, frac, n)
