"""Materialized dedup fingerprint store: incremental ≡ full, idempotent
upsert, staleness tag, layout, and the no-broadcast plan contract."""

from __future__ import annotations

import contextlib
import io
import os

import pyspark.sql.functions as F
import pytest

from columnflow_spark.queries.dedupstore import (
    _history_cutoff,
    dedup_store_path,
    flag_batch_against_store,
    upsert_dedup_batch,
)


def _rows(df):
    return sorted(
        (r.doc_id, r.dup_prior, r.dup_in_batch, r.keep) for r in df.collect()
    )


@pytest.fixture(scope="module")
def thirds(spark, sf_dir):
    """Three ingest batches by doc_id range (roughly equal thirds)."""
    from columnflow_spark.sources import load_table

    n = load_table(spark, sf_dir, "documents", columns=["doc_id"]).count()
    return n // 3, 2 * n // 3


def test_incremental_batches_equal_full_build(spark, sf_dir, tmp_path, thirds):
    # upserting history as two batches, then flagging batch 3, must be
    # bit-identical to flagging batch 3 against a single-batch store over
    # the same history prefix
    a, b = thirds
    inc = str(tmp_path / "inc")
    upsert_dedup_batch(spark, sf_dir, inc, batch=0, batch_pred=F.col("doc_id") < a)
    upsert_dedup_batch(
        spark, sf_dir, inc, batch=1,
        batch_pred=(F.col("doc_id") >= a) & (F.col("doc_id") < b),
    )
    full = str(tmp_path / "full")
    upsert_dedup_batch(spark, sf_dir, full, batch=0, batch_pred=F.col("doc_id") < b)

    pred = F.col("doc_id") >= b
    got = _rows(flag_batch_against_store(spark, sf_dir, inc, batch_pred=pred, max_batch=1))
    want = _rows(flag_batch_against_store(spark, sf_dir, full, batch_pred=pred, max_batch=0))
    assert got == want
    assert len(got) > 0


def test_upsert_is_idempotent(spark, sf_dir, tmp_path, thirds):
    a, _ = thirds
    path = str(tmp_path / "store")
    upsert_dedup_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("doc_id") < a)
    n0 = spark.read.parquet(path).count()
    upsert_dedup_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("doc_id") < a)
    assert spark.read.parquet(path).count() == n0


def test_store_is_fingerprint_grain(spark, sf_dir, tmp_path, thirds):
    # one row per distinct (batch, fingerprint): the store grows with
    # distinct content, not documents
    a, _ = thirds
    path = str(tmp_path / "store")
    upsert_dedup_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("doc_id") < a)
    store = spark.read.parquet(path)
    assert store.count() == store.select("batch", "fingerprint").distinct().count()
    # layout: band=<b>/batch=<n>/
    bands = [d for d in os.listdir(path) if d.startswith("band=")]
    assert bands
    assert any(d.startswith("batch=") for d in os.listdir(os.path.join(path, bands[0])))


def test_changed_source_invalidates_store_tag(tmp_path, sf_dir, monkeypatch):
    import shutil

    from columnflow_spark.queries import dedupstore as ds
    from columnflow_spark.sources.tables import table_path

    fake_sf = tmp_path / "sf"
    fake_sf.mkdir()
    shutil.copy(table_path(sf_dir, "documents"), fake_sf / "documents.parquet")
    tag0 = dedup_store_path(str(fake_sf))

    with open(fake_sf / "documents.parquet", "ab") as f:
        f.write(b"\x00")
    os.utime(fake_sf / "documents.parquet")
    tag1 = dedup_store_path(str(fake_sf))
    assert tag1 != tag0

    monkeypatch.setattr(ds, "_STORE_FORMAT", ds._STORE_FORMAT + 1)
    assert dedup_store_path(str(fake_sf)) not in (tag0, tag1)


def test_flag_plan_never_broadcasts_doc_grain(spark, sf_dir, tmp_path, thirds):
    # both join sides are document/fingerprint grain: with size-based
    # broadcasting disabled, the flagging plan must contain NO
    # hint-driven BroadcastExchange (at 100x either side OOMs a build)
    a, _ = thirds
    path = str(tmp_path / "store")
    upsert_dedup_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("doc_id") < a)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = flag_batch_against_store(
            spark, sf_dir, path, batch_pred=F.col("doc_id") >= a, max_batch=0
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "BroadcastExchange" not in buf.getvalue().split("\n\n")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_history_cutoff_matches_oracle_expression(spark, sf_dir):
    # the Spark-side cutoff must equal the oracle's 3 * count(*) // 5
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]
    assert _history_cutoff(spark, sf_dir) == 3 * n // 5


def test_compaction_preserves_flagging(spark, sf_dir, tmp_path, thirds):
    # VERDICT r5 next #5: folding the batch history into one batch=0
    # slice per band must be invisible to flagging — identical decisions,
    # single batch directory per band, marker preserved
    from columnflow_spark.queries.dedupstore import compact_dedup_store

    a, b = thirds
    path = str(tmp_path / "store")
    upsert_dedup_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("doc_id") < a)
    upsert_dedup_batch(
        spark, sf_dir, path, batch=1,
        batch_pred=(F.col("doc_id") >= a) & (F.col("doc_id") < b),
    )
    before = _rows(
        flag_batch_against_store(
            spark, sf_dir, path, batch_pred=F.col("doc_id") >= b, max_batch=None
        )
    )
    compact_dedup_store(spark, path)
    after = _rows(
        flag_batch_against_store(
            spark, sf_dir, path, batch_pred=F.col("doc_id") >= b, max_batch=None
        )
    )
    assert after == before and len(after) > 0
    # layout: exactly one batch= dir per band, marker intact, no staging
    # or swapped-out sibling
    assert os.path.exists(os.path.join(path, "_BUILT"))
    bands = [d for d in os.listdir(path) if d.startswith("band=")]
    assert bands
    for band in bands:
        assert os.listdir(os.path.join(path, band)) == ["batch=0"]
    base = os.path.basename(path)
    assert [e for e in os.listdir(os.path.dirname(path)) if e.startswith(base + ".")] == []


def test_compaction_then_upsert_keeps_incremental_contract(spark, sf_dir, tmp_path, thirds):
    # a store that was compacted mid-history must keep accepting upserts:
    # compact(batch 0) + upsert(batch 1) ≡ from-scratch two-batch store
    from columnflow_spark.queries.dedupstore import compact_dedup_store

    a, b = thirds
    compacted = str(tmp_path / "compacted")
    upsert_dedup_batch(spark, sf_dir, compacted, batch=0, batch_pred=F.col("doc_id") < a)
    compact_dedup_store(spark, compacted)
    upsert_dedup_batch(
        spark, sf_dir, compacted, batch=1,
        batch_pred=(F.col("doc_id") >= a) & (F.col("doc_id") < b),
    )
    plain = str(tmp_path / "plain")
    upsert_dedup_batch(spark, sf_dir, plain, batch=0, batch_pred=F.col("doc_id") < a)
    upsert_dedup_batch(
        spark, sf_dir, plain, batch=1,
        batch_pred=(F.col("doc_id") >= a) & (F.col("doc_id") < b),
    )
    flag = lambda p: _rows(
        flag_batch_against_store(
            spark, sf_dir, p, batch_pred=F.col("doc_id") >= b, max_batch=None
        )
    )
    assert flag(compacted) == flag(plain)


def test_semdedup_incremental_equals_from_scratch(spark, sf_dir, tmp_path):
    # VERDICT r5 next #6: upserting history as two batches then flagging
    # the arrival must be bit-identical to flagging against a
    # single-batch store over the same prefix — the frozen centroid set
    # (persisted at store creation) is what makes cluster membership
    # batch-invariant
    from columnflow_spark.queries.dedupstore import (
        flag_semdedup_batch,
        init_semdedup_store,
        upsert_semdedup_batch,
    )
    from columnflow_spark.sources import load_table

    n = load_table(spark, sf_dir, "embeddings", columns=["vec_id"]).count()
    h = 3 * n // 5
    a = h // 2
    seed = (F.col("vec_id") % 64 == 0) & (F.col("vec_id") < h)

    two = str(tmp_path / "two")
    init_semdedup_store(spark, sf_dir, two, seed_pred=seed)
    upsert_semdedup_batch(spark, sf_dir, two, batch=0, batch_pred=F.col("vec_id") < a)
    upsert_semdedup_batch(
        spark, sf_dir, two, batch=1,
        batch_pred=(F.col("vec_id") >= a) & (F.col("vec_id") < h),
    )
    one = str(tmp_path / "one")
    init_semdedup_store(spark, sf_dir, one, seed_pred=seed)
    upsert_semdedup_batch(spark, sf_dir, one, batch=0, batch_pred=F.col("vec_id") < h)

    def rows(p):
        return sorted(
            (r.vec_id, r.cid, r.dup_prior, r.dup_in_batch, r.keep)
            for r in flag_semdedup_batch(
                spark, sf_dir, p, batch_pred=F.col("vec_id") >= h
            ).collect()
        )

    r_two, r_one = rows(two), rows(one)
    assert r_two == r_one and len(r_two) == n - h
    # the store must actually bite: at least one prior-dup and one keep
    assert any(r[2] for r in r_two) and any(r[4] for r in r_two)


def test_semdedup_store_never_broadcasts_history(spark, sf_dir):
    # the store side is corpus-grain: with size-based broadcasting off,
    # no hint-driven BroadcastExchange may carry the store scan
    import contextlib
    import io

    from columnflow_spark.queries import all_queries

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = all_queries()["semdedup_incremental_store"](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        tree = plan.split("\n\n")[0]
        # the only broadcasts allowed are the salted small-side explode
        # and bounded literals — never a Scan parquet of the store
        import re

        for m in re.finditer(r"BroadcastExchange", tree):
            pass  # structural walk below
        # reuse the plan_quality subtree walker
        from tests.test_plan_quality import _broadcast_subtrees

        subtrees, details = _broadcast_subtrees(plan)
        for bid, sub in subtrees:
            for nname, nid in sub:
                d = details.get(nid, "")
                assert not (
                    nname.startswith("Scan parquet") and "semdedup_store" in d
                ), f"store scan broadcast under exchange ({bid})"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_drift_audit_trigger(spark, sf_dir, tmp_path):
    """A healthy two-batch store must not trip the rebuild trigger; a
    planted drifted batch (vectors negated — maximally far from every
    frozen centroid) must trip it, and tripping invalidates the store
    through the _BUILT reuse contract."""
    import os

    import pyspark.sql.functions as F

    from columnflow_spark.queries.dedupstore import (
        init_semdedup_store,
        semdedup_drift_audit_frame,
        semdedup_store_needs_rebuild,
        upsert_semdedup_batch,
        upsert_semdedup_frame,
    )
    from columnflow_spark.sources import load_table
    from columnflow_spark.sources.sinks import invalidate_store

    n = load_table(spark, sf_dir, "embeddings", columns=["vec_id"]).count()
    h = 3 * n // 5
    path = str(tmp_path / "drift_store")
    init_semdedup_store(
        spark, sf_dir, path,
        seed_pred=(F.col("vec_id") % 64 == 0) & (F.col("vec_id") < h),
    )
    upsert_semdedup_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("vec_id") < h // 2)
    upsert_semdedup_batch(
        spark, sf_dir, path, batch=1,
        batch_pred=(F.col("vec_id") >= h // 2) & (F.col("vec_id") < h),
    )
    audit = semdedup_drift_audit_frame(spark, path).collect()
    assert [r.batch for r in audit] == [0, 1]
    assert all(r.n_vecs > 0 and r.mean_err_q >= 0 for r in audit)
    assert not semdedup_store_needs_rebuild(spark, path)

    # plant drift: a batch collapsed onto ONE frozen centroid's direction
    # (every vector identical to centroid 0) — occupancy concentrates in a
    # single cell, the cell-skew arm of the trigger
    from columnflow_spark.queries.dedupstore import _sem_centroids

    c0 = sorted(_sem_centroids(spark, path).collect(), key=lambda r: r.cid)[0]
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"]).filter(
        F.col("vec_id") >= h
    )
    drifted = emb.select(
        "vec_id",
        F.array(*[F.lit(float(x)) for x in c0.ce]).cast("array<float>").alias("embedding"),
    )
    upsert_semdedup_frame(drifted, path, batch=2)
    assert semdedup_store_needs_rebuild(spark, path)

    # the trigger wires into the SAME completeness contract every ensure
    # helper gates on: after invalidation the store reads as absent
    assert os.path.exists(os.path.join(path, "_BUILT"))
    invalidate_store(path)
    assert not os.path.exists(os.path.join(path, "_BUILT"))


def test_phash_store_incremental_equals_from_scratch(spark, sf_dir, tmp_path):
    """Visual-dedup store contract: history ingested as TWO batches then
    flagging the arrival must be bit-identical to flagging against a
    single-batch store over the same prefix, and the store must bite
    (the corpus plants visual near-copies)."""
    import pyspark.sql.functions as F

    from columnflow_spark.queries.dedupstore import (
        flag_phash_batch_against_store,
        upsert_phash_batch,
    )
    from columnflow_spark.sources import load_table

    n = load_table(spark, sf_dir, "documents", columns=["doc_id"]).count()
    h = 3 * n // 5
    a = h // 2

    two = str(tmp_path / "two")
    upsert_phash_batch(spark, sf_dir, two, batch=0, batch_pred=F.col("doc_id") < a)
    upsert_phash_batch(
        spark, sf_dir, two, batch=1,
        batch_pred=(F.col("doc_id") >= a) & (F.col("doc_id") < h),
    )
    one = str(tmp_path / "one")
    upsert_phash_batch(spark, sf_dir, one, batch=0, batch_pred=F.col("doc_id") < h)

    def rows(p):
        return sorted(
            (r.doc_id, r.dup_prior, r.dup_in_batch, r.keep)
            for r in flag_phash_batch_against_store(
                spark, sf_dir, p, batch_pred=F.col("doc_id") >= h
            ).collect()
        )

    r_two, r_one = rows(two), rows(one)
    assert r_two == r_one and r_two
    assert any(r[3] for r in r_two)  # some docs survive


def test_substring_store_layout_invariance_and_idempotency(spark, sf_dir, tmp_path):
    """The substring-store flag decision is a pure function of (history
    gram SET, batch): one-batch vs two-batch history stores flag
    identically, and re-upserting a batch replaces exactly its own
    slice (no double counting)."""
    from columnflow_spark.queries.dedupstore import (
        _history_cutoff,
        flag_substring_frame,
        upsert_substring_batch,
    )
    from columnflow_spark.queries.textdedup import _SSTR_K, _sstr_grams
    from columnflow_spark.sources import load_table

    h = _history_cutoff(spark, sf_dir)
    one, two = str(tmp_path / "one"), str(tmp_path / "two")
    upsert_substring_batch(spark, sf_dir, one, batch=0, batch_pred=F.col("doc_id") < h)
    upsert_substring_batch(
        spark, sf_dir, two, batch=0, batch_pred=F.col("doc_id") < h // 2
    )
    mid = (F.col("doc_id") >= h // 2) & (F.col("doc_id") < h)
    upsert_substring_batch(spark, sf_dir, two, batch=1, batch_pred=mid)
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        F.col("doc_id") >= h
    )
    bg = _sstr_grams(docs, _SSTR_K)
    a = sorted(map(tuple, flag_substring_frame(bg, one).collect()))
    b = sorted(map(tuple, flag_substring_frame(bg, two).collect()))
    assert a == b
    assert a, "no flagged docs at this sf -- the test proves nothing"
    upsert_substring_batch(spark, sf_dir, two, batch=1, batch_pred=mid)
    c = sorted(map(tuple, flag_substring_frame(bg, two).collect()))
    assert c == a
    # compaction folds the batch history into one slice per band with
    # the min-key monoid: flagging must stay bit-identical
    from columnflow_spark.queries.dedupstore import compact_substring_store

    compact_substring_store(spark, two)
    import os

    batches = {
        d for d in os.listdir(two + "/gb=0") if d.startswith("batch=")
    }
    assert batches == {"batch=0"}
    d = sorted(map(tuple, flag_substring_frame(bg, two).collect()))
    assert d == a


# --- deletion propagation (round 9) ---
def _mini_store(spark, tmp_path, name, texts):
    """Build a fingerprint store from an in-memory (doc_id, text) list."""
    from columnflow_spark.queries.dedupstore import (
        doc_fingerprints,
        upsert_fingerprints,
    )

    path = str(tmp_path / name)
    docs = spark.createDataFrame(texts, "doc_id long, text string")
    upsert_fingerprints(doc_fingerprints(docs), path, batch=0)
    return path, docs


def _flag(docs, path):
    from columnflow_spark.queries.dedupstore import (
        doc_fingerprints,
        flag_fingerprints_against_store,
    )

    return sorted(
        (r.doc_id, r.dup_prior)
        for r in flag_fingerprints_against_store(
            doc_fingerprints(docs), path
        ).collect()
    )


def test_delete_partial_holder_keeps_flagging(spark, tmp_path):
    """Right-to-be-forgotten semantics at content grain: deleting ONE of
    two holders of identical text must NOT stop the fingerprint from
    flagging (the content legitimately survives via the other doc);
    deleting both must."""
    from columnflow_spark.queries.dedupstore import (
        doc_fingerprints,
        delete_docs_from_dedup_store,
    )

    path, _ = _mini_store(
        spark, tmp_path, "s", [(1, "shared text"), (2, "shared text"), (3, "solo")]
    )
    probe = spark.createDataFrame(
        [(100, "shared text"), (101, "solo")], "doc_id long, text string"
    )

    def _del(ids, batch):
        docs = spark.createDataFrame(
            [(i, "shared text" if i in (1, 2) else "solo") for i in ids],
            "doc_id long, text string",
        )
        rows = (
            doc_fingerprints(docs)
            .groupBy("band", "fingerprint")
            .agg(
                F.min("doc_id").alias("first_doc"),
                (-F.count(F.lit(1))).cast("long").alias("cnt"),
            )
            .withColumn("batch", F.lit(batch))
        )
        from columnflow_spark.sources.sinks import upsert_partitions

        upsert_partitions(rows, path, partition_by=["band", "batch"])

    assert _flag(probe, path) == [(100, True), (101, True)]
    _del([1], 1)  # one holder gone, the other survives
    assert _flag(probe, path) == [(100, True), (101, True)]
    _del([2], 2)  # last holder gone -> fully forgotten
    assert _flag(probe, path) == [(100, False), (101, True)]
    assert delete_docs_from_dedup_store is not None  # API surface exists


def test_delete_is_idempotent_per_batch_id(spark, sf_dir, tmp_path, thirds):
    """Re-running a delete batch overwrites exactly its own slice: the
    flagging decision after delete-twice(batch=1) equals delete-once."""
    from columnflow_spark.queries.dedupstore import (
        delete_docs_from_dedup_store,
    )

    a, _ = thirds
    path = str(tmp_path / "store")
    upsert_dedup_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("doc_id") < a)
    pred = (F.col("doc_id") % 7 == 3) & (F.col("doc_id") < a)
    delete_docs_from_dedup_store(spark, sf_dir, path, delete_pred=pred, batch=1)
    once = _rows(
        flag_batch_against_store(
            spark, sf_dir, path, batch_pred=F.col("doc_id") >= a, max_batch=None
        )
    )
    delete_docs_from_dedup_store(spark, sf_dir, path, delete_pred=pred, batch=1)
    twice = _rows(
        flag_batch_against_store(
            spark, sf_dir, path, batch_pred=F.col("doc_id") >= a, max_batch=None
        )
    )
    assert once == twice


def test_vacuum_purges_net_zero_rows_physically(spark, tmp_path):
    """Compaction after a full delete removes the fingerprint ROW, not
    just its visibility — the compliance guarantee that forgotten
    content's digest leaves the store."""
    from columnflow_spark.queries.dedupstore import (
        compact_dedup_store,
        doc_fingerprints,
    )
    from columnflow_spark.sources.sinks import upsert_partitions

    path, _ = _mini_store(spark, tmp_path, "s", [(1, "gone"), (2, "stays")])
    ddocs = spark.createDataFrame([(1, "gone")], "doc_id long, text string")
    neg = (
        doc_fingerprints(ddocs)
        .groupBy("band", "fingerprint")
        .agg(
            F.min("doc_id").alias("first_doc"),
            (-F.count(F.lit(1))).cast("long").alias("cnt"),
        )
        .withColumn("batch", F.lit(1))
    )
    upsert_partitions(neg, path, partition_by=["band", "batch"])
    compact_dedup_store(spark, path)
    left = spark.read.parquet(path).select("fingerprint").collect()
    assert len(left) == 1  # only "stays" survives physically


def test_tombstone_vacuum_clears_and_stays_equal(spark, sf_dir, tmp_path):
    """Doc-grain path: phash purge rewrites minus tombstones, clears the
    tombstone slices, and flagging is unchanged."""
    import os

    from columnflow_spark.queries.dedupstore import (
        _history_cutoff,
        flag_phash_batch_against_store,
        purge_phash_store,
        upsert_phash_batch,
    )
    from columnflow_spark.sources import load_table
    from columnflow_spark.sources.sinks import upsert_tombstones

    h = _history_cutoff(spark, sf_dir)
    path = str(tmp_path / "ph")
    upsert_phash_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("doc_id") < h)
    deleted = load_table(spark, sf_dir, "documents", columns=["doc_id"]).filter(
        (F.col("doc_id") % 7 == 3) & (F.col("doc_id") < h)
    )
    upsert_tombstones(deleted, path, batch=0)
    before = sorted(
        (r.doc_id, r.dup_prior)
        for r in flag_phash_batch_against_store(
            spark, sf_dir, path, batch_pred=F.col("doc_id") >= h
        ).collect()
    )
    purge_phash_store(spark, path)
    assert not os.path.exists(os.path.join(path, "_deleted"))
    after = sorted(
        (r.doc_id, r.dup_prior)
        for r in flag_phash_batch_against_store(
            spark, sf_dir, path, batch_pred=F.col("doc_id") >= h
        ).collect()
    )
    assert before == after


def test_minhash_store_delete_unblocks_neardups(spark, tmp_path):
    """A tombstoned fuzzy near-duplicate must stop blocking arrivals;
    surviving near-dups keep blocking.  Crafted corpus: doc 100 is a
    near-copy of history doc 1 only; doc 101 of history doc 2 only."""
    from pyspark.sql import functions as F

    from columnflow_spark.queries.dedupstore import (
        delete_docs_from_minhash_store,
        flag_minhash_batch,
        upsert_minhash_batch,
    )
    from columnflow_spark.core.artifacts import purge

    base = " ".join(f"w{i}" for i in range(40))
    other = " ".join(f"v{i}" for i in range(40))
    docs = spark.createDataFrame(
        [
            (1, base, "s"),
            (2, other, "s"),
            (100, base + " tail1", "s"),  # near-dup of 1
            (101, other + " tail2", "s"),  # near-dup of 2
        ],
        "doc_id long, text string, source string",
    )
    # monkey-route the session shingle/signature tables at this frame
    d = str(tmp_path / "sf")
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    purge("hashed_grams"); purge("minhash_sigs")
    path = str(tmp_path / "mh")
    upsert_minhash_batch(spark, d, path, batch=0, batch_pred=F.col("doc_id") < 100)
    flag = lambda: {  # noqa: E731
        r.doc_id: r.dup_prior
        for r in flag_minhash_batch(
            spark, d, path, batch_pred=F.col("doc_id") >= 100
        ).collect()
    }
    assert flag() == {100: True, 101: True}
    deleted = spark.createDataFrame([(1,)], "doc_id long")
    delete_docs_from_minhash_store(spark, deleted, path, batch=0)
    assert flag() == {100: False, 101: True}
    # idempotent per batch id
    delete_docs_from_minhash_store(spark, deleted, path, batch=0)
    assert flag() == {100: False, 101: True}
    purge("hashed_grams"); purge("minhash_sigs")


def test_semdedup_purge_clears_and_stays_equal(spark, sf_dir, tmp_path):
    """Semantic store: physical purge (rewrite minus tombstones,
    centroids sidecar intact, tombstones cleared) leaves flagging
    unchanged."""
    import os

    from columnflow_spark.queries.dedupstore import (
        _sem_history_cutoff,
        flag_semdedup_batch,
        init_semdedup_store,
        purge_semdedup_store,
        upsert_semdedup_batch,
    )
    from columnflow_spark.sources import load_table
    from columnflow_spark.sources.sinks import upsert_tombstones

    h = _sem_history_cutoff(spark, sf_dir)
    path = str(tmp_path / "sem")
    init_semdedup_store(
        spark, sf_dir, path,
        seed_pred=(F.col("vec_id") % 64 == 0) & (F.col("vec_id") < h),
    )
    upsert_semdedup_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("vec_id") < h)
    deleted = load_table(spark, sf_dir, "embeddings", columns=["vec_id"]).filter(
        (F.col("vec_id") % 7 == 3) & (F.col("vec_id") < h)
    )
    upsert_tombstones(deleted, path, batch=0, id_col="vec_id")
    rows = lambda: sorted(  # noqa: E731
        (r.vec_id, r.dup_prior, r.keep)
        for r in flag_semdedup_batch(
            spark, sf_dir, path, batch_pred=F.col("vec_id") >= h
        ).collect()
    )
    before = rows()
    purge_semdedup_store(spark, path)
    assert not os.path.exists(os.path.join(path, "_deleted"))
    assert os.path.exists(os.path.join(path, "_centroids"))  # sidecar survives
    assert rows() == before


def test_substring_store_vacuum_purges_and_stays_equal(spark, sf_dir, tmp_path):
    """Gram store: compaction after a delete physically purges net-zero
    grams and leaves flagging (and the ingest rewrite) unchanged."""
    from columnflow_spark.queries.dedupstore import (
        _history_cutoff,
        compact_substring_store,
        delete_docs_from_substring_store,
        flag_substring_frame,
        substring_store_rewrite_frame,
        upsert_substring_batch,
    )
    from columnflow_spark.queries.textdedup import _SSTR_K, _sstr_grams
    from columnflow_spark.sources import load_table

    h = _history_cutoff(spark, sf_dir)
    path = str(tmp_path / "ss")
    upsert_substring_batch(spark, sf_dir, path, batch=0, batch_pred=F.col("doc_id") < h)
    delete_docs_from_substring_store(
        spark, sf_dir, path,
        delete_pred=(F.col("doc_id") % 7 == 3) & (F.col("doc_id") < h), batch=1,
    )
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "text"]).filter(
        F.col("doc_id") >= h
    )
    flag = lambda: sorted(  # noqa: E731
        map(tuple, flag_substring_frame(_sstr_grams(docs, _SSTR_K), path).collect())
    )
    rew = lambda: sorted(  # noqa: E731
        map(tuple, substring_store_rewrite_frame(spark, docs, path).collect())
    )
    f0, r0 = flag(), rew()
    n_before = spark.read.parquet(path).count()
    compact_substring_store(spark, path)
    n_after = spark.read.parquet(path).count()
    assert n_after < n_before  # net-zero grams physically gone
    assert (spark.read.parquet(path).agg(F.min("cnt")).collect()[0][0] or 1) > 0
    assert flag() == f0 and rew() == r0


def test_segment_store_batching_and_compaction_invariance(spark, sf_dir, tmp_path):
    """Segment-count store contract: serving against a history ingested
    in ONE batch, in TWO batches, or compacted yields the identical
    batch rewrite — the count monoid merges across slices.  Also pins
    the threshold semantics: a segment's history count and batch count
    ADD (a segment seen once in history and once in the batch is
    boilerplate at threshold 2)."""
    from pyspark.sql import functions as F

    from columnflow_spark.queries.dedupstore import (
        _history_cutoff,
        _segment_fingerprints,
        compact_dedup_store,
        segment_store_serve,
        upsert_fingerprints,
    )

    h = _history_cutoff(spark, sf_dir)

    one = str(tmp_path / "one")
    upsert_fingerprints(
        _segment_fingerprints(spark, sf_dir, F.col("doc_id") < h), one, batch=0
    )
    two = str(tmp_path / "two")
    upsert_fingerprints(
        _segment_fingerprints(spark, sf_dir, F.col("doc_id") < h // 2), two, batch=0
    )
    upsert_fingerprints(
        _segment_fingerprints(
            spark, sf_dir, (F.col("doc_id") >= h // 2) & (F.col("doc_id") < h)
        ),
        two,
        batch=1,
    )

    def rows(path):
        return sorted(
            tuple(r) for r in segment_store_serve(spark, sf_dir, path).collect()
        )

    r_one = rows(one)
    assert r_one == rows(two)
    compact_dedup_store(spark, two)
    assert r_one == rows(two)
    # cross-boundary threshold: at least one batch doc must be flagged
    # bulk ONLY because history contributes (n_seg_kept < n_seg while its
    # segments are unique within the batch) — guaranteed by the planted
    # near-dup pairs straddling the 60% cutoff
    assert any(r[2] < r[1] for r in r_one), "no cross-boundary bulk segment"


def test_segment_serve_never_broadcasts_history(spark, sf_dir, tmp_path):
    """Both sides of the segment-count join are segment-grain (the
    store's aggregated counts and the batch's distinct-doc counts): with
    size-based broadcasting disabled the serve plan must contain NO
    hint-driven BroadcastExchange — at 100x either side OOMs a build."""
    from columnflow_spark.queries.dedupstore import (
        _history_cutoff,
        _segment_fingerprints,
        segment_store_serve,
        upsert_fingerprints,
    )

    h = _history_cutoff(spark, sf_dir)
    path = str(tmp_path / "segstore")
    upsert_fingerprints(
        _segment_fingerprints(spark, sf_dir, F.col("doc_id") < h), path, batch=0
    )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = segment_store_serve(spark, sf_dir, path)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        assert "BroadcastExchange" not in buf.getvalue().split("\n\n")[0]
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
