"""Multimodal media columns (beyond-parity, first-class for a 100 TB
training-data pipeline): image/audio/video as opaque ``binary`` payloads
with typed metadata, processed by Arrow-batched pandas UDFs.

Each op runs a deterministic, integer-exact kernel in place of a real
media decoder (PIL / pyav / librosa), so its output is replayable in SQL
and oracle-checked.  The Spark-side plumbing is the real part: the typed
media struct schema, the mapInPandas signatures and batch shapes, the
explode-based frame fan-out, and the compute-spread partitioning that a
CPU-heavy decode stage needs at scale.
"""

from columnflow_spark.mmdata.media import (  # noqa: F401
    MEDIA_META_SCHEMA,
    audio_features,
    build_media_table,
    decode_image,
    phash_image,
    resize_image,
    sample_frames,
)
