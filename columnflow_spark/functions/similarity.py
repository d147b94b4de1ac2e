"""Similarity / dedup primitives: cosine, MinHash, SimHash, LSH banding.

Scale design (the point of these ops at 100 TB):

- **MinHash+LSH**: signatures are computed per-document with built-in
  expressions (hash shingles -> k permuted mins), then banded; candidate
  pairs come from an equi-join on (band_id, band_hash) buckets — a shuffle
  on small keys instead of the O(n²) cross join.
- **SimHash**: 64-bit fingerprint from per-token hash bit-votes;
  near-dup = popcount(xor) <= t within LSH buckets on bit-blocks.
- **Cosine**: exact form is zip_with+aggregate (JVM); the ANN path buckets
  by random-hyperplane signs first.

``F.hash`` (Murmur3) seeds the permutations: deterministic across runs and
partitionings, so results are reproducible (required by the driver's
hash-compare), though not portable to DuckDB — MinHash/SimHash queries are
rows-only checks while n-gram Jaccard provides the SQL-checkable exact twin.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from columnflow_spark.sources.sinks import local_frame

_PRIME = 2147483647  # 2^31 - 1, Mersenne prime for cheap permutation hashing


def shingle_hashes(shingles: Column) -> Column:
    """Murmur3 hash of each shingle, mapped to non-negative int64."""
    return F.transform(shingles, lambda s: F.pmod(F.hash(s).cast("long"), F.lit(_PRIME)))


def minhash_signature(shingles: Column, k: int = 32) -> Column:
    """k-permutation MinHash signature: min over ((a_i * h + b_i) mod p).

    One pass over the shingle array per permutation, all JVM expressions;
    a_i/b_i derive deterministically from the permutation index."""
    hashes = shingle_hashes(shingles)

    # NOTE: pyspark derives the HOF arity from the Python lambda signature,
    # so loop variables must be captured via a factory, never `i=i` defaults
    def perm(a: int, b: int):
        return lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(_PRIME)

    sig = []
    for i in range(k):
        a = 2 * i + 1          # odd multiplier
        b = 1000003 * (i + 1)  # fixed offset
        sig.append(F.array_min(F.transform(hashes, perm(a, b))))
    return F.array(*sig)


def minhash_signature_agg(
    df, id_cols: list[str], shingles_col: str, k: int = 32, pre_hashed: bool = False
):
    """MinHash via explode + groupBy-min: one row per (id, shingle-hash),
    then ``min((a_i*h+b_i) mod p)`` as k flat aggregate expressions.

    Semantically identical to :func:`minhash_signature` but compiles to a
    narrow whole-stage-codegen plan instead of a k-deep nested-HOF
    expression tree — the HOF form costs seconds of JIT per stage, this
    form is the one to use in hot paths.  Returns df[id_cols + [sig]].

    With ``pre_hashed`` the column already holds int64 shingle hashes
    (e.g. a materialized hashed-shingle table) and only the mod-p fold is
    applied."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    if pre_hashed:
        hashes = F.transform(F.col(shingles_col), lambda h: F.pmod(h, F.lit(_PRIME)))
    else:
        hashes = shingle_hashes(F.col(shingles_col))
    ex = df.select(*id_cols, F.explode(hashes).alias("h"))
    aggs = []
    for i in range(k):
        a = 2 * i + 1
        b = 1000003 * (i + 1)
        aggs.append(F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(_PRIME)).alias(f"s{i}"))
    wide = ex.groupBy(*id_cols).agg(*aggs)
    return wide.select(*id_cols, F.array(*[F.col(f"s{i}") for i in range(k)]).alias("sig"))


def lsh_bands(signature: Column, bands: int, rows: int) -> Column:
    """Split a signature into ``bands`` hashes of ``rows`` values each ->
    array<struct<band:int, h:bigint>> for the bucket equi-join."""
    out = []
    for b in range(bands):
        band_slice = F.slice(signature, b * rows + 1, rows)
        out.append(
            F.struct(
                F.lit(b).alias("band"),
                F.hash(F.concat_ws("_", F.transform(band_slice, lambda x: x.cast("string")))).cast("long").alias("h"),
            )
        )
    return F.array(*out)


def lsh_band_keys(signature: Column, bands: int, rows: int) -> list[Column]:
    """Flat-expression variant of :func:`lsh_bands`: one 64-bit key Column
    per band, built from direct element access (no HOFs — cheap codegen).
    Band index is folded into the hash so keys never collide across bands."""
    keys = []
    for b in range(bands):
        elems = [signature[b * rows + r] for r in range(rows)]
        keys.append(F.hash(F.lit(b), *elems).cast("long"))
    return keys


def salt_oversized_buckets(df, keys: list[str], order_col: str, cap: int):
    """Skew guard for LSH bucket self-joins: append a ``salt`` column that
    sub-chunks any bucket larger than ``cap`` into ~cap-sized chunks
    (chunk = ``hash(order_col) % ceil(size/cap)``, deterministic under any
    partitioning); buckets at or under the cap keep salt 0, so candidate
    output is bit-identical for non-degenerate corpora.

    Joining on keys + salt bounds per-task pair generation to cap² rows
    while every member of an oversized bucket still pairs within its own
    chunk — a degenerate band key (boilerplate-heavy corpus, all-equal
    signatures) costs O(n·cap) candidates spread over n/cap tasks instead
    of one O(n²) straggler.  The trade is explicit: cross-chunk pairs of
    an oversized bucket are not emitted by THAT bucket (near-dup recall is
    preserved because every member still meets ~cap chunk-mates, so
    degenerate clusters stay connected for the component solve; pairs may
    also resurface via their other band keys).

    Mechanics: bucket sizes come from a groupBy count, but only buckets
    OVER the cap survive the filter — by construction a tiny set (they are
    the anomaly being guarded against) — so they broadcast back and the
    salt is a pure projection: ``hash(order_col) % ceil(size/cap)``.
    No window, no per-bucket sort, no shuffle of the banded table beyond
    the count's partial-aggregated key stream; chunk membership is
    hash-derived and therefore deterministic under any partitioning."""
    big = (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("_bsz"))
        .filter(F.col("_bsz") > cap)
    )
    n_chunks = ((F.col("_bsz") + F.lit(cap - 1)) / F.lit(cap)).cast("int")
    return (
        df.join(F.broadcast(big), keys, "left")
        .withColumn(
            "salt",
            F.when(F.col("_bsz").isNull(), F.lit(0)).otherwise(
                F.pmod(F.hash(F.col(order_col)), n_chunks)
            ),
        )
        .drop("_bsz")
    )


def bucketed_candidate_pairs(banded, keys: list[str], id_col: str = "doc_id", cap: int = 256):
    """LSH candidate generation with the bucket-skew guard: self-join the
    banded table on its bucket keys (+ skew salt from
    :func:`salt_oversized_buckets`), emit distinct ordered id pairs.
    Exact for every bucket at or under ``cap``; oversized buckets degrade
    gracefully to chunk-local pairs (see salt_oversized_buckets).

    The banded table is referenced by the size count AND both join sides;
    the broadcast size-count subtree is planned separately, so ReuseExchange
    does NOT collapse expensive lineage beneath it — feed this helper a
    cheap projection over a MATERIALIZED table (e.g. the session signature
    table, queries.textdedup.minhash_sigs), not a raw signature pipeline."""
    salted = salt_oversized_buckets(banded, keys, id_col, cap)
    a, b = salted.alias("a"), salted.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in [*keys, "salt"]:
        cond = cond & (F.col(f"a.{k}") == F.col(f"b.{k}"))
    return (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("d1"), F.col(f"b.{id_col}").alias("d2"))
        .dropDuplicates(["d1", "d2"])
    )


def chunked_self_pairs(
    df, key: str, id_col: str, cap: int = 256, keep_chunks: bool = False
):
    """EXACT within-``key`` self-pairing (every ordered pair with
    ``a.id < b.id``) with the join split into chunk-pair tasks so no task
    generates more than ~``cap``² candidates — the semantics-preserving
    sibling of :func:`salt_oversized_buckets` for operators (SemDeDup)
    whose contract forbids dropping cross-chunk pairs.

    Mechanics: keys over ``cap`` members (from a broadcastable
    over-the-cap count, tiny by construction) are split into
    ``m = ceil(size/cap)`` hash chunks.  The LEFT side keeps its own
    chunk ``_ca = hash(id) % m`` and replicates over all ``_cb`` values;
    the RIGHT side keeps ``_cb`` and replicates over all ``_ca`` — a pair
    (x, y) meets at exactly the key (key, c(x), c(y)), once.  Per-task
    pair volume is bounded by cap² while EVERY pair is still emitted
    (unlike the LSH bucket guard, which trades cross-chunk pairs for
    recall-by-other-bands); replication volume is size·m = size²/cap per
    oversized key — strictly below the size²/2 pair output it feeds.
    Keys at or under the cap keep m = 1: zero replication, byte-identical
    plan input to the plain self-join.

    Output: ``key``, every other column of ``df`` from the left row, and
    the same columns suffixed ``_b`` from the right row.  Chunk columns
    ``_ca``/``_cb`` are kept only with ``keep_chunks`` (for task-bound
    assertions in tests).  Deterministic under any partitioning (chunk =
    hash of the id column, no rand())."""
    big = (
        df.groupBy(key)
        .agg(F.count(F.lit(1)).alias("_ksz"))
        .filter(F.col("_ksz") > cap)
    )
    m_expr = F.coalesce(
        ((F.col("_ksz") + F.lit(cap - 1)) / F.lit(cap)).cast("int"), F.lit(1)
    )
    base = (
        df.join(F.broadcast(big), key, "left")
        .withColumn("_m", m_expr)
        .drop("_ksz")
    )
    chunk = F.pmod(F.hash(F.col(id_col)), F.col("_m"))
    others = [c for c in df.columns if c != key]
    all_chunks = F.explode(F.sequence(F.lit(0), F.col("_m") - 1))
    a = base.select(key, *others, chunk.alias("_ca"), all_chunks.alias("_cb"))
    b = base.select(
        key,
        *[F.col(c).alias(f"{c}_b") for c in others],
        all_chunks.alias("_ca"),
        chunk.alias("_cb"),
    )
    pairs = a.join(b, [key, "_ca", "_cb"]).filter(
        F.col(id_col) < F.col(f"{id_col}_b")
    )
    return pairs if keep_chunks else pairs.drop("_ca", "_cb")


def simhash64(token_hashes: Column, n_bits: int = 64) -> Column:
    """64-bit SimHash: for each bit, vote +1/-1 per token hash bit, take the
    sign.

    Single pass over the token-hash array: the aggregate's accumulator is an
    array of ``n_bits`` vote counters updated per token (``zip_with``
    against a bit-index sequence, ``bit_get`` takes a *column* position —
    the shift functions don't), then the finisher packs the vote signs into
    one long.  The naive form — one ``aggregate`` per bit — walks every
    document's shingle list 64 times; this walks it once.

    Packing uses ``pow(2, i)`` (exact in double for i <= 62); a positive
    bit-63 vote packs the sign-bit pattern ``Long.MinValue`` directly —
    ``pow(2, 63)`` would saturate to ``Long.MaxValue`` on the cast and the
    OR would then set all lower bits, so token-hash schemes that can set
    bit 63 (e.g. raw xxhash64) are safe too, not just the engine's 60-bit
    md5-derived hashes."""
    idx = F.sequence(F.lit(0), F.lit(n_bits - 1))
    votes = F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0), n_bits),
        lambda acc, h: F.zip_with(
            acc, idx, lambda c, i: c + F.when(F.bit_get(h, i) == 1, 1).otherwise(-1)
        ),
    )
    bits = F.zip_with(
        votes,
        idx,
        lambda c, i: F.when(c <= 0, F.lit(0).cast("long")).otherwise(
            F.when(i == 63, F.lit(-9223372036854775808).cast("long")).otherwise(
                F.pow(F.lit(2.0), i).cast("long")
            )
        ),
    )
    return F.aggregate(bits, F.lit(0).cast("long"), lambda s, b: s.bitwiseOR(b))


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def cosine(a: Column, b: Column) -> Column:
    """Exact cosine similarity of two equal-length array<numeric> columns —
    zip_with + aggregate, sequential sum order.  Every per-element product
    is computed in DOUBLE (cast BEFORE the multiply): a float32 multiply
    rounds to 24 bits first and diverges from any oracle that casts the
    arrays to DOUBLE up front — a 1-ulp sim difference flipped a
    threshold/round knife edge at sf1."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda s, v: s + v,
    )
    na = F.sqrt(
        F.aggregate(a, F.lit(0.0), lambda s, v: s + v.cast("double") * v.cast("double"))
    )
    nb = F.sqrt(
        F.aggregate(b, F.lit(0.0), lambda s, v: s + v.cast("double") * v.cast("double"))
    )
    return dot / (na * nb)


def nearest_centroid_assign(df, cents_df, vec: str = "embedding", out: str = "cid"):
    """Map-side nearest-centroid assignment: cosine argmax, lowest cid on
    ties.  ``cents_df`` is a small bounded table of (cid, centroid-vector)
    — K rows, the same driver-side footprint Spark's own broadcast
    exchange would stage.

    The centroid set is collected once and baked into an Arrow-batched
    vectorized UDF: each batch assigns via one numpy matmul
    (``batch @ (C / |C|).T`` then row argmax).  Row-side normalization is
    skipped — it is a positive per-row constant and cannot change the
    argmax.  Assignment is therefore a pure projection over the corpus
    scan: no per-centroid row fan-out, no groupBy(vec_id) shuffle, no
    window sort, and the kernel runs at BLAS speed rather than
    interpreted-expression speed (~30x faster than an in-row HOF fold at
    the same plan shape).  This is the k-means / IVF assignment form that
    survives a 100x corpus and a large K.

    Ties: centroids are scanned cid-ascending and numpy ``argmax`` keeps
    the first maximum, so equal cosines resolve to the lowest cid — same
    as ``ORDER BY sim DESC, cid``."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    rows = sorted(cents_df.collect(), key=lambda r: r[0])
    cids = np.array([r[0] for r in rows], dtype=np.int64)
    cmat = np.array([list(r[1]) for r in rows], dtype=np.float64)
    cmat_t = (cmat / np.linalg.norm(cmat, axis=1, keepdims=True)).T  # d x K

    @F.pandas_udf("long")
    def _assign(batch):
        mat = np.vstack(batch.to_numpy()).astype(np.float64)
        return pd.Series(cids[(mat @ cmat_t).argmax(axis=1)])

    return df.withColumn(out, _assign(F.col(vec)))


def kmeans_fit(
    df,
    k: int = 16,
    iters: int = 5,
    vec: str = "embedding",
    id_col: str = "vec_id",
    tol: float = 1e-6,
):
    """Full k-means training loop over a vector DataFrame — the index-build
    tool behind IVF (the per-step primitive is the ``kmeans_lloyd_step``
    query; this iterates it to convergence).

    Per iteration: map-side assignment via :func:`nearest_centroid_assign`
    (zero shuffle — the corpus never moves), then the centroid update as
    ONE distributed aggregation per iteration: component sums + counts per
    cluster, k x dim rows to the driver (bounded — the model, not data).
    Seeds are the first k vectors by id.  Stops early when the max
    centroid movement (L2) drops under ``tol``.

    Centroids are re-normalized to unit length after each mean update
    (spherical k-means — the proper Lloyd variant for the cosine metric;
    the normalization never changes any cosine argmax).  Fully
    deterministic: seeds, assignment tie-breaks and the integer-count
    means contain no RNG or partition dependence.

    Returns ``(centroids, info)``: centroids as a list of (cid, vector)
    with cids 0..k-1, and info = {"iters": n_ran, "shift": last max
    absolute centroid movement, "n_per_cluster": members per cluster}.
    """
    import numpy as np  # noqa: PLC0415

    seeds = sorted(
        df.select(id_col, vec).orderBy(id_col).limit(k).collect(), key=lambda r: r[0]
    )
    cmat = np.array([list(r[1]) for r in seeds], dtype=np.float64)
    cmat /= np.linalg.norm(cmat, axis=1, keepdims=True)
    info = {"iters": 0, "shift": float("inf"), "sse": float("inf")}
    for it in range(iters):
        cents_df = local_frame(
            df.sparkSession,
            [(int(i), [float(x) for x in cmat[i]]) for i in range(len(cmat))],
            "cid long, ce array<double>",
        )
        assigned = nearest_centroid_assign(df.select(id_col, vec), cents_df, vec=vec)
        # one aggregation: per-cluster component sums + counts + residual
        stats = (
            assigned.select(
                "cid",
                F.posexplode(vec).alias("j", "v"),
            )
            .groupBy("cid", "j")
            .agg(F.sum(F.col("v").cast("double")).alias("s"), F.count(F.lit(1)).alias("n"))
            .collect()
        )
        new = np.array(cmat)
        counts = np.zeros(len(cmat))
        for r in stats:
            new[r.cid, r.j] = r.s / r.n
            counts[r.cid] = r.n
        norms = np.linalg.norm(new, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        new /= norms  # spherical k-means: unit centroids for the cosine metric
        shift = float(np.abs(new - cmat).max())
        cmat = new
        info = {"iters": it + 1, "shift": shift, "n_per_cluster": counts.tolist()}
        if shift < tol:
            break
    return [(i, cmat[i].tolist()) for i in range(len(cmat))], info


def hyperplane_signs(vec: Column, planes: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id: sign bits of dot(vec, plane_i)
    packed into a long.  ``planes`` is a small driver-side constant list
    (broadcast as literals into the plan)."""
    bit_terms = []
    for i, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(w)) for w in plane])
        dot = F.aggregate(
            F.zip_with(vec, lit_plane, lambda x, w: (x * w).cast("double")),
            F.lit(0.0),
            lambda s, v: s + v,
        )
        bit_terms.append(F.when(dot >= 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out
