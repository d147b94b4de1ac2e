"""BPE merge-application semantics: two-sided symbol wrapping must anchor
both boundaries (regression for the one-sided-separator bug where rule
(h,e) fired on state '<th><e>' because 'h|e|' suffix-matched 'th|e|')."""

from __future__ import annotations

from pyspark.sql import functions as F

from columnflow_spark.queries.tokenlm import _bpe_clean_word, _bpe_syms, _bpe_train_rows


def _apply_chain(spark, words, merges):
    df = spark.createDataFrame([(w,) for w in words], "w string")
    enc = F.regexp_replace(_bpe_clean_word(F.col("w")), "(.)", "<$1>")
    for a, b in merges:
        enc = F.replace(enc, F.lit(f"<{a}><{b}>"), F.lit(f"<{a}{b}>"))
    rows = df.select("w", _bpe_syms(enc).alias("syms")).collect()
    return {r.w: r.syms for r in rows}

def test_merge_cannot_cross_symbol_boundary(spark):
    # after (t,h), 'the' is [th, e]; rule (h,e) must NOT see an 'h' inside 'th'
    out = _apply_chain(spark, ["the", "she", "he"], [("t", "h"), ("h", "e")])
    assert out["the"] == ["th", "e"]
    assert out["she"] == ["s", "he"]
    assert out["he"] == ["he"]


def test_greedy_left_to_right_non_overlapping(spark):
    out = _apply_chain(spark, ["aaaa", "aaa"], [("a", "a")])
    assert out["aaaa"] == ["aa", "aa"]
    assert out["aaa"] == ["aa", "a"]


def test_driver_trainer_learns_textbook_merges(spark):
    # corpus: 5x 'the', 3x 'she' -> pair counts th:5, he:8, sh:3 ->
    # round 1 merges (h,e); round 2 then sees (t,he):5, (s,he):3 -> (t,he)
    rows = [(5, "<t><h><e>"), (3, "<s><h><e>")]
    merges = _bpe_train_rows(rows)
    assert merges[0] == ("h", "e", 8)
    assert merges[1] == ("t", "he", 5)
    assert merges[2] == ("s", "he", 3)


def test_delimiter_chars_in_corpus_are_stripped(spark):
    # corpus text containing the state delimiters must not corrupt symbol
    # boundaries: '<b>' tokenizes as the 1-char word 'b'
    out = _apply_chain(spark, ["<b>", "a<b", "x>y"], [])
    assert out["<b>"] == ["b"]
    assert out["a<b"] == ["a", "b"]
    assert out["x>y"] == ["x", "y"]


def test_pure_delimiter_token_is_dropped(spark):
    # a whitespace token made only of delimiter chars cleans to the empty
    # string and must vanish entirely (the SQL twin's string_split('')
    # would otherwise count it as one token)
    from columnflow_spark.queries.tokenlm import _bpe_syms, _bpe_words, bpe_encode_expr

    docs = spark.createDataFrame([(1, "a <> b"), (2, "<><>")], "doc_id long, text string")
    per_word = _bpe_words(docs).select(
        "doc_id", F.size(_bpe_syms(bpe_encode_expr([]))).alias("nt")
    )
    agg = {r.doc_id: r.total for r in per_word.groupBy("doc_id").agg(
        F.sum("nt").alias("total")).collect()}
    assert agg == {1: 2}  # doc 2 has no surviving words at all


def test_distributed_fallback_batches_merges_identically(spark, sf_dir, monkeypatch):
    # forcing the word-state over the driver cap exercises the
    # distributed loop; its multi-merge batching (ranked symbol-disjoint
    # prefix + creation-count domination bound) must reproduce the
    # one-merge-at-a-time list EXACTLY, in fewer rounds
    import columnflow_spark.queries.tokenlm as M
    from columnflow_spark.core.artifacts import purge

    purge("bpe_merges")
    reference = M.bpe_train(spark, sf_dir)  # driver path (under cap)
    purge("bpe_merges")
    monkeypatch.setattr(M, "_BPE_DRIVER_CAP", 0)  # synthetic super-cap vocab
    batched = M.bpe_train(spark, sf_dir)
    purge("bpe_merges")
    assert batched == reference
    assert len(batched) == M._BPE_ROUNDS
    # on this corpus the 6 merges land in <= 3 rounds (measured 3);
    # anything below _BPE_ROUNDS proves multi-merge rounds happened
    assert M._BPE_LAST_FALLBACK_ROUNDS["rounds"] < M._BPE_ROUNDS


# --- WordPiece (round 9) ---
def test_wordpiece_prefers_likelihood_over_raw_count(spark):
    """The WordPiece score picks a RARE-symbol pair over a higher-count
    pair of ubiquitous symbols — the defining difference vs BPE."""
    from columnflow_spark.queries.tokenlm import _wp_train_rows

    # 'xy' occurs 4x with x,y appearing ONLY together (score 1e12/16*4);
    # 'ab' occurs 6x but a and b are everywhere (each count 20)
    rows = [
        (4, "<x><y>"),
        (6, "<a><b>"),
        (14, "<a>"),
        (14, "<b>"),
    ]
    merges = _wp_train_rows(rows)
    assert merges[0][0:2] == ("x", "y")
    a, b, n, sq = merges[0]
    assert n == 4 and sq == (4 * 10**12) // (4 * 4)


def test_wordpiece_distributed_equals_driver(spark, sf_dir, monkeypatch):
    """Above the driver cap the distributed rounds must learn the
    identical merge table (the BPE cap-monkeypatch proof)."""
    import columnflow_spark.queries.tokenlm as M
    from columnflow_spark.core.artifacts import purge

    purge("wordpiece_merges")
    reference = M.wordpiece_train(spark, sf_dir)
    purge("wordpiece_merges")
    monkeypatch.setattr(M, "_BPE_DRIVER_CAP", 0)
    distributed = M.wordpiece_train(spark, sf_dir)
    purge("wordpiece_merges")
    assert distributed == reference and len(reference) > 0


def test_wordpiece_greedy_longest_match(spark):
    """Greedy longest-match-first semantics: with vocab {a, b, ab, abc},
    'abcab' -> [abc, ab] (3-char match beats 2), 'abab' -> [ab, ab]."""
    from columnflow_spark.queries.tokenlm import _wp_greedy_ntok

    vocab = {"a", "b", "c", "ab", "abc"}
    assert _wp_greedy_ntok("abcab", vocab, 3) == 2
    assert _wp_greedy_ntok("abab", vocab, 3) == 2
    assert _wp_greedy_ntok("bca", vocab, 3) == 3  # no multi-char match at 0
