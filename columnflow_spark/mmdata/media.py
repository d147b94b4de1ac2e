"""Typed media columns + decode/feature/frame-sample operators.

Shape contract: a media column is ``struct<payload: binary, mime: string,
meta: struct<n_bytes: long, width: int, height: int, duration_ms: long>>``
— payload stays opaque bytes end-to-end (Spark never interprets it), all
downstream planning happens on the typed metadata, which Catalyst can
prune/filter without touching payload bytes (a scan that filters on
``media.meta.n_bytes`` never reads the payload pages in Parquet).

Every op is ``mapInPandas`` (Arrow batches, zero-copy into pandas) over a
deterministic, integer-exact kernel that stands in for a real media
decoder (the synthetic test payloads are not decodable media).  The
kernels are replayable in SQL, so the oracles check them bit-for-bit; a
real decoder (PIL, pyav, librosa) would replace the kernel body inside
the same ``mapInPandas`` signature and batch shape.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MEDIA_META_SCHEMA = "struct<n_bytes: bigint, width: int, height: int, duration_ms: bigint>"


def build_media_table(df: DataFrame, payload: str, mime: str) -> DataFrame:
    """Wrap a binary column into the typed media struct; metadata that is
    derivable without decoding (byte size) is filled, the rest is null
    until a decode op runs."""
    return df.withColumn(
        "media",
        F.struct(
            F.col(payload).alias("payload"),
            F.lit(mime).alias("mime"),
            F.struct(
                F.length(F.col(payload)).cast("bigint").alias("n_bytes"),
                F.lit(None).cast("int").alias("width"),
                F.lit(None).cast("int").alias("height"),
                F.lit(None).cast("bigint").alias("duration_ms"),
            ).alias("meta"),
        ),
    ).drop(payload)


def _fake_dims(n_bytes: pd.Series) -> tuple[pd.Series, pd.Series]:
    # deterministic stand-in for a header parse
    return (64 + n_bytes % 577).astype("int32"), (64 + (n_bytes * 7) % 577).astype("int32")


def decode_image(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Image decode -> (id, n_bytes, width, height), with the dimensions
    derived deterministically from the payload size."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            width, height = _fake_dims(n_bytes)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_bytes": n_bytes.astype("int64"),
                    "width": width,
                    "height": height,
                }
            )

    src = df.select(id_col, F.col("media.payload").alias("payload"))
    return src.mapInPandas(gen, schema=f"{id_col} bigint, n_bytes bigint, width int, height int")


def sample_frames(df: DataFrame, every_n: int = 30, id_col: str = "doc_id") -> DataFrame:
    """Video frame sampling: derive the frame count from the payload
    (deterministically: 1 + n_bytes % 120), emit every ``every_n``-th
    frame index with a per-frame fingerprint.  The fan-out is a JVM-side
    ``explode`` over ``sequence`` — only the frame-count derivation touches
    Python, so the row multiplication never serializes payload bytes."""
    n_frames = F.lit(1) + (F.col("media.meta.n_bytes") % 120).cast("int")
    frames = F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
    out = df.select(
        id_col,
        F.col("media.meta.n_bytes").alias("n_bytes"),
        F.explode(frames).alias("frame_idx"),
    )
    fingerprint = (F.col("n_bytes") * 31 + F.col("frame_idx") * 7919) % 1000003
    return out.select(id_col, "frame_idx", fingerprint.cast("bigint").alias("frame_fp"))


def audio_features(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Audio feature extraction -> (id, duration_ms, loudness), both
    derived deterministically from the byte stream."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n_bytes = pdf["payload"].map(len)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "duration_ms": (n_bytes * 1000 // 16000).astype("int64"),
                    "loudness": ((n_bytes % 97) / 97.0).astype("float64"),
                }
            )

    src = df.select(id_col, F.col("media.payload").alias("payload"))
    return src.mapInPandas(gen, schema=f"{id_col} bigint, duration_ms bigint, loudness double")


def phash_image(df: DataFrame, id_col: str = "doc_id", bits: int = 60) -> DataFrame:
    """Perceptual (dHash-style) fingerprint of an image payload ->
    ``(id, ph)`` with ``ph`` a ``bits``-bit BIGINT of gradient-sign bits —
    the standard image-dedup fingerprint (near-identical payloads differ
    in a few bits; exact Hamming verification happens downstream).

    The packing contract: derive ``bits + 1`` integer luminance cells,
    then ``bit_i = cell_i > cell_{i+1}`` packed little-endian (60 bits by
    default — the engine-portable width, no sign-bit hazards).  The
    kernel treats the utf-8 codepoint stream of the payload as the pixel
    stream and takes ``bits + 1`` floor-division range means —
    integer-exact, so a SQL oracle can replay the fingerprint
    bit-for-bit.  Payloads shorter than
    ``bits + 1`` units emit ph = 0 (callers filter)."""
    import numpy as np  # noqa: PLC0415

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        shifts = np.int64(1) << np.arange(bits, dtype=np.int64)
        for pdf in batches:
            out = np.zeros(len(pdf), dtype=np.int64)
            for k, b in enumerate(pdf["payload"]):
                cp = np.frombuffer(
                    b.decode("utf-8").encode("utf-32-le"), dtype=np.uint32
                ).astype(np.int64)
                n = len(cp)
                if n < bits + 1:
                    continue
                bounds = (np.arange(bits + 2, dtype=np.int64) * n) // (bits + 1)
                csum = np.concatenate([[0], np.cumsum(cp)])
                cell = (csum[bounds[1:]] - csum[bounds[:-1]]) // (bounds[1:] - bounds[:-1])
                out[k] = int(((cell[:-1] > cell[1:]) * shifts).sum())
            yield pd.DataFrame({id_col: pdf[id_col], "ph": out})

    src = df.select(id_col, F.col("media.payload").alias("payload"))
    return src.mapInPandas(gen, schema=f"{id_col} bigint, ph bigint")


def resize_image(
    df: DataFrame,
    target_w: int = 224,
    target_h: int = 224,
    id_col: str = "doc_id",
) -> DataFrame:
    """Aspect-preserving thumbnail resize -> (id, out payload, out dims).

    The kernel computes ``Image.thumbnail``'s output dims exactly
    (scale = min(target/w, target/h, 1) done in integer rationals) and
    stands in for the re-encoded bytes with a proportional payload
    prefix.  Payload bytes move through one Arrow batch and never fan
    out; all post-resize planning runs on the typed output columns.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf["payload"]
            n_bytes = payload.map(len)
            w, h = _fake_dims(n_bytes)
            w64, h64 = w.astype("int64"), h.astype("int64")
            wide = w64 * target_h >= h64 * target_w
            no_shrink = (w64 <= target_w) & (h64 <= target_h)
            width = w64.where(no_shrink, (w64 * target_h // h64).where(~wide, target_w))
            height = h64.where(no_shrink, (h64 * target_w // w64).where(wide, target_h))
            out_len = (n_bytes * (width * height)) // (w64 * h64)
            out_payload = pd.Series(
                [b[: int(k)] for b, k in zip(payload, out_len)], index=pdf.index
            )
            width, height = width.astype("int32"), height.astype("int32")
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "payload": out_payload,
                    "width": width,
                    "height": height,
                }
            )

    src = df.select(id_col, F.col("media.payload").alias("payload"))
    return src.mapInPandas(
        gen, schema=f"{id_col} bigint, payload binary, width int, height int"
    )
