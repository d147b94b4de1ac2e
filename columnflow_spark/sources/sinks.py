"""Parquet sinks: sorted-field writes, row-group targeting, partitioned
layout, and size-targeted compaction.

Reference semantics:

- ``sorted_ak_to_parquet`` (reference columnflow/columnar_util.py:1061)
  recursively sorts fields before writing so every stage emits a
  deterministic column layout; ``sort_ak_fields`` (:1027) is the recursive
  sort.  Spark form: a recursive ``select``/``struct`` re-projection.
- per-chunk files merged with row groups of 50k rows
  (``merging_row_group_size``, reference law.cfg:71) — Spark form:
  ``maxRecordsPerFile`` (row groups are per-file here; one file = one
  write task output).
- ``MergeReductionStats`` / ``MergeReducedEvents`` (reference
  tasks/reduction.py:296-469) size merged outputs to ~512 MB — Spark
  form: measure the source bytes and ``repartition`` to
  ``ceil(bytes / target)`` output files (on a real cluster AQE's
  ``coalescePartitions`` does this continuously; the explicit helper is
  for final, stable layouts).
- partition pruning by dataset/shift (reference content-addressed store
  paths, tasks/framework/base.py:926) — Spark form: a
  ``dataset=…/shift=…`` hive layout via ``partitionBy``, which Catalyst
  prunes at scan time.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import math
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnflow_spark.session import PARQUET_CODEC
from columnflow_spark.sources.tables import table_path

DEFAULT_ROWS_PER_FILE = 50_000
DEFAULT_TARGET_FILE_BYTES = 512 * 1024 * 1024


def _ident(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _is_sorted(dt: T.DataType) -> bool:
    """True when every struct level of ``dt``, inside arrays too, lists
    its fields in name order."""
    if isinstance(dt, T.StructType):
        return dt.names == sorted(dt.names) and all(_is_sorted(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _is_sorted(dt.elementType)
    return True


def _sorted_sql(expr: str, dt: T.DataType, depth: int = 0) -> str:
    """SQL re-projecting ``expr`` of type ``dt`` with the members of
    every struct level (inside arrays too) in sorted order; sorted
    levels are kept as they are.  A null struct stays null, as it does
    in a sorted level, so what is written never depends on which levels
    needed sorting."""
    if _is_sorted(dt):
        return expr
    if isinstance(dt, T.StructType):
        members = sorted(dt.fields, key=lambda f: f.name)
        return f"if({expr} IS NULL, NULL, named_struct(" + ", ".join(
            "'" + m.name.replace("\\", "\\\\").replace("'", "\\'") + "', "
            + _sorted_sql(f"{expr}.{_ident(m.name)}", m.dataType, depth)
            for m in members
        ) + "))"
    x = f"x{depth}"  # an unsorted array
    return f"transform({expr}, {x} -> {_sorted_sql(x, dt.elementType, depth + 1)})"


def sort_fields(df: DataFrame) -> DataFrame:
    """Recursively sort all (nested) field names — the reference's
    ``sort_ak_fields`` (columnar_util.py:1027) giving deterministic
    layouts independent of operator insertion order.  A frame already
    in that order comes back unchanged (a schema walk, no plan change);
    otherwise the projection is ONE ``selectExpr`` of SQL strings, not a
    py4j ``Column`` per field.  Null structs and null array elements
    stay null at every level, as awkward's option types do."""
    if _is_sorted(df.schema):
        return df
    top = sorted(df.schema.fields, key=lambda f: f.name)
    return df.selectExpr(
        *[f"{_sorted_sql(_ident(f.name), f.dataType)} AS {_ident(f.name)}" for f in top]
    )


def write_events(
    df: DataFrame,
    path: str,
    *,
    partition_by: Iterable[str] = (),
    rows_per_file: int = DEFAULT_ROWS_PER_FILE,
    mode: str = "overwrite",
) -> None:
    """Sorted-field, row-group-targeted event write; ``partition_by``
    produces the prunable ``dataset=…/shift=…`` hive layout.

    Partitioned writes cluster rows by the partition columns first (an
    AQE ``REBALANCE`` exchange — guide §6: without it every write task
    emits one file per hive-partition value it holds, so a store write
    from a 32-partition frame into 31 cells committed ~1000 near-empty
    files; measured 78 s -> 24 s and 992 -> 31 files at sf0.1, and at
    cluster scale tasks x partition-values is the small-files
    catastrophe).  REBALANCE rather than a plain repartition: AQE both
    coalesces small partition groups and SPLITS an oversized hive
    partition across tasks (advisory size), so one hot ``batch=0`` slice
    still writes in parallel; ``maxRecordsPerFile`` bounds row groups
    either way."""
    _sorted_writer(sort_fields(df), list(partition_by), rows_per_file, mode).parquet(path)


def _sorted_writer(
    out: DataFrame, partition_by: list[str], rows_per_file: int, mode: str
) -> DataFrameWriter:
    """The shared writer of :func:`write_events`, :func:`write_output`,
    :func:`upsert_partitions` and :func:`write_json_lines` over ``out``,
    a :func:`sort_fields` frame (``rows_per_file`` 0: no cap)."""
    if partition_by:
        out = out.hint("rebalance", *partition_by)
    writer = out.write.mode(mode).option("maxRecordsPerFile", rows_per_file)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    return writer


def compact_to_target_size(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    *,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    rows_per_file: int | None = None,
) -> int:
    """Merge small files into ~``target_file_bytes`` outputs (the
    reference's MergeReductionStats sizing, tasks/reduction.py:309-327):
    measure source bytes, repartition to ``ceil(bytes / target)`` files.
    Returns the output file count."""
    df = spark.read.parquet(src_path)
    # on-disk bytes of the source (driver-side listing; cheap — metadata only)
    hadoop_path = spark._jvm.org.apache.hadoop.fs.Path(src_path)
    fs = hadoop_path.getFileSystem(spark._jsc.hadoopConfiguration())
    total_bytes = fs.getContentSummary(hadoop_path).getLength()
    n_files = max(1, math.ceil(total_bytes / target_file_bytes))
    writer = df.repartition(n_files).write.mode("overwrite")
    if rows_per_file is not None:
        writer = writer.option("maxRecordsPerFile", rows_per_file)
    writer.parquet(dst_path)
    return n_files


def scratch_root() -> str:
    """Writable artifact root (env-overridable; never under the read-only
    testdata tree)."""
    return os.environ.get(
        "SPARK_GRAFT_SCRATCH",
        os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "scratch"),
    )


def content_tag(src: str, prefix: str) -> str:
    """Shared content-addressing scheme for every scratch artifact store
    (IVF+PQ index, dedup fingerprint store, format roundtrips): hash the
    source file identity (abspath + size + mtime) plus a caller prefix
    (format/version), so a rebuilt source or a bumped format gets a fresh
    tag and an unchanged one is reused across sessions."""
    try:
        st = os.stat(src)
        ident = f"{prefix}|{os.path.abspath(src)}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        ident = f"{prefix}|{os.path.abspath(src)}"
    return hashlib.sha1(ident.encode()).hexdigest()[:12]


def store_path(sf_dir: str, table: str, kind: str, prefix: str) -> str:
    """Where a persisted store derived from ``table`` lives:
    ``<scratch_root>/<kind>/<content_tag(table file, prefix)>``."""
    return os.path.join(scratch_root(), kind, content_tag(table_path(sf_dir, table), prefix))


def tables_tag(sf_dir: str, tables: Iterable[str]) -> str:
    """One content tag over several source tables of ``sf_dir``: the
    input part of the address of an output derived from all of them (the
    task chain's ``store_parts``), so changed input gets a fresh address."""
    tags = "|".join(content_tag(table_path(sf_dir, t), "table") for t in sorted(tables))
    return hashlib.sha1(tags.encode()).hexdigest()[:12]


#: the engine's one completeness marker, for every persisted directory:
#: a store, a task output, an export.  ``ensure_store``/``replace_store``
#: write it when they publish; dynamic partition overwrite commits per
#: partition and writes no root success file, so the live ``upsert_*``
#: stores write it themselves.  Without it a reuse check can never pass
#: and every session silently pays a full rebuild
BUILT = "_BUILT"


def mark_built(path: str, fmt: object = None, *, schema: str | None = None) -> None:
    """Write ``path``'s completeness marker: a ``format=<fmt>`` line (the
    store format version) when ``fmt`` is given and a ``schema=<json>``
    line (the read schema of a parquet output) when ``schema`` is; an
    empty file when neither is."""
    lines = [f"{k}={v}\n" for k, v in (("format", fmt), ("schema", schema)) if v is not None]
    with open(os.path.join(path, BUILT), "w") as f:
        f.write("".join(lines))


def write_output(df: DataFrame, path: str) -> None:
    """Write a parquet output as :func:`write_events` does (unpartitioned)
    and mark it with the schema a read of it returns: the JVM's
    ``schema.asNullable`` of the written, field-sorted frame.  A task
    output is written this way and read back by :func:`read_output`."""
    out = sort_fields(df)
    _sorted_writer(out, [], DEFAULT_ROWS_PER_FILE, "overwrite").parquet(path)
    mark_built(path, schema=out._jdf.schema().asNullable().json())


def read_output(spark: SparkSession, path: str) -> DataFrame:
    """Read an output :func:`write_output` wrote, with the schema its
    ``_BUILT`` records: a declared schema plans no job, where
    ``spark.read.parquet(path)`` infers one by reading a footer in a
    Spark job of its own."""
    with open(os.path.join(path, BUILT)) as f:
        line = next(x for x in f if x.startswith("schema="))
    return spark.read.schema(T.StructType.fromJson(json.loads(line[len("schema="):]))).parquet(path)


def is_built(path: str) -> bool:
    """Whether ``path`` carries its completeness marker."""
    return os.path.exists(os.path.join(path, BUILT))


def invalidate_store(path: str) -> None:
    """Trip a store's reuse contract: remove its completeness marker, so
    every reuse check treats the store as absent and the next touch
    rebuilds it."""
    if is_built(path):
        os.remove(os.path.join(path, BUILT))


def _sibling(path: str, kind: str) -> str:
    """A unique ``<path>.<kind>-<pid>-<hex>`` sibling of ``path``."""
    return f"{path}.{kind}-{os.getpid()}-{uuid.uuid4().hex[:8]}"


def _staged_build(path: str, build_fn: Callable[[str], None]) -> str:
    """The one build step of both store verbs: run ``build_fn(staging)``
    into a unique ``.staging-*`` sibling of ``path``, mark it ``_BUILT``
    unless the build did, and return it.  Nothing reaches ``path`` here,
    so a build may take any number of steps; one that raises leaves no
    staging tree behind (ADVICE r12).  Stale ``.staging-*``/``.old-*``
    siblings older than a day (crashed builds; a live one is never that
    old) are swept."""
    staging = _sibling(path, "staging")
    try:
        build_fn(staging)
        if not os.path.isdir(staging):
            raise RuntimeError(f"store build created no staging dir: {staging}")
        if not is_built(staging):
            mark_built(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    parent, base = os.path.split(path)
    for entry in os.listdir(parent or "."):
        stale = entry.startswith((f"{base}.staging-", f"{base}.old-"))
        if stale and entry != os.path.basename(staging):
            full = os.path.join(parent, entry)
            with contextlib.suppress(OSError):
                if time.time() - os.path.getmtime(full) > 86400:
                    shutil.rmtree(full, ignore_errors=True)
    return staging


def _publish(staging: str, path: str) -> None:
    """Rename ``staging`` onto ``path``.  If another session published a
    marked store there first, ours is discarded and theirs served."""
    try:
        os.rename(staging, path)
    except OSError:
        shutil.rmtree(staging, ignore_errors=True)
        if not is_built(path):
            raise


def ensure_store(path: str, build_fn: Callable[[str], None]) -> str:
    """Build once: reuse ``path`` when it carries ``_BUILT``, otherwise
    stage ``build_fn(staging)`` and publish it with one rename.  A crash
    at any step leaves nothing at ``path`` or a complete, marked store.
    Two concurrent sessions may both pay the build (content-addressed
    paths make the bytes identical), but the first rename wins and the
    loser serves the winner's store."""
    if is_built(path):
        return path
    staging = _staged_build(path, build_fn)
    # a marker-less remnant (crashed legacy in-place build) must not
    # block publication
    if os.path.exists(path) and not is_built(path):
        shutil.rmtree(path, ignore_errors=True)
    _publish(staging, path)
    return path


def replace_store(path: str, build_fn: Callable[[str], None]) -> str:
    """Always rebuild: stage ``build_fn(staging)`` — which may read FROM
    ``path``, intact and marked until the swap — then move the old store
    aside to a unique ``.old-*`` sibling, rename the staging dir into
    place and drop the old copy.  The compaction/purge primitive of the
    ``batch=``-grained stores and the writer of rebuilt exports.

    Every ``_*`` sidecar of the old store the build did not write itself
    (``_BUILT``, ``_BUCKETS``, ``_centroids``, ``_stats``, ``_deleted``)
    is copied into the staging dir: a rewrite that dropped the postings
    ``_stats`` served NaN scores (bm25_postings_delete)."""

    def build(staging: str) -> None:
        build_fn(staging)
        if not (os.path.isdir(staging) and os.path.isdir(path)):
            return
        for entry in os.listdir(path):
            src, dst = os.path.join(path, entry), os.path.join(staging, entry)
            if entry.startswith("_") and not os.path.exists(dst):
                (shutil.copytree if os.path.isdir(src) else shutil.copy2)(src, dst)

    staging = _staged_build(path, build)
    old = _sibling(path, "old")
    with contextlib.suppress(FileNotFoundError):
        os.rename(path, old)
    _publish(staging, path)
    shutil.rmtree(old, ignore_errors=True)
    return path


# --- driver-side sidecars: the bounded ``_*`` directories next to a
# store's data (tombstone slices, the OPQ rotation and codebooks, the
# BM25 collection stats, SemDeDup's frozen centroids, the quantile
# sketch's slice bounds).  Each is at most thousands of rows that a
# caller already holds on, or collects to, the driver, so pyarrow
# writes and reads them there: no Spark write job, no shuffle, no
# schema inference and no hidden-path scan.  Corpus-grain sidecars
# (the MinHash payload ``_docs``, a :class:`SlicedStore` sub-store) and
# batch-grained incremental ones (graph-ANN ``_centroids``) stay Spark
# writes. ---
def write_sidecar(path: str, name: str, table, *, batch: int | None = None) -> None:
    """Replace one slice of the store's ``name`` sidecar by the
    ``pyarrow.Table`` ``table``: ``name/batch=<n>/`` when ``batch`` is
    given, else all of ``name/``.  pyarrow writes one file into a hidden
    staging dir and one rename publishes it; a slice it replaces moves
    aside under a hidden name first and is removed after.  A write that
    fails before the rename leaves the old slice as it was."""
    _write_dir(os.path.join(path, name, *([] if batch is None else [f"batch={int(batch)}"])), table)


def _write_dir(target: str, table, **opts) -> None:
    """Replace the directory ``target`` by one file of the
    ``pyarrow.Table`` ``table`` (``opts`` go to ``pq.write_table``).
    The file is written into a hidden staging sibling, which Spark's
    listing and :func:`read_sidecar` skip, and one rename publishes it;
    a dir it replaces moves aside under a hidden name first and is
    removed after.  A write that fails before the rename leaves the old
    dir as it was."""
    import pyarrow.parquet as pq  # noqa: PLC0415

    parent, base = os.path.split(target)
    os.makedirs(parent, exist_ok=True)
    staging = _sibling(os.path.join(parent, f".{base}"), "staging")
    try:
        os.makedirs(staging)
        pq.write_table(table, os.path.join(staging, "part-0.parquet"), **opts)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    old = _sibling(os.path.join(parent, f".{base}"), "old")
    with contextlib.suppress(FileNotFoundError):
        os.rename(target, old)
    os.rename(staging, target)
    shutil.rmtree(old, ignore_errors=True)


def read_sidecar(path: str, name: str, columns: list[str] | None = None):
    """Every row of the store's ``name`` sidecar as one ``pyarrow.Table``
    (``None`` when it has no files): each parquet file under ``name/``
    and its ``batch=<n>`` slices, read with ``pq.ParquetFile``.  Names
    that start with ``.`` or ``_`` are skipped: staging dirs, and the
    checksum and commit-marker files of slices Spark wrote.  The slice
    key is not a column; a sidecar that needs it stores it in its rows."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.parquet as pq  # noqa: PLC0415

    files = []
    for d, dirs, names in os.walk(os.path.join(path, name)):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "_")))
        files += [os.path.join(d, f) for f in sorted(names) if not f.startswith((".", "_"))]
    if not files:
        return None
    tables = [pq.ParquetFile(f).read(columns=columns) for f in files]
    return pa.concat_tables(tables, promote_options="permissive")


# --- tombstone primitives for DOC-GRAIN incremental stores (phash block
# postings, semantic vectors, MinHash postings, the IVF+PQ/OPQ index,
# graph-ANN pages, the quantile sketch): rows carry their doc/vec id, so
# a deletion is a bounded id slice ``_deleted/batch=<n>/`` (idempotent
# per batch id) masked at serve time.  Tombstone sets are
# compliance-batch sized, so they are driver-side sidecars: a delete is
# ONE Spark job (the collect of the caller's ids).  A served IVF-PQ/OPQ
# read masks them on the driver (``tombstoned_ids``; the candidates are
# collected there anyway), and every other read broadcasts them as a
# local relation into the anti-join (``anti_tombstones``).  The periodic
# purge rewrites the store minus tombstones and clears them (logical
# delete -> physical purge, the vacuum).  The batch-sliced stores reach
# these only through :class:`SlicedStore` (``delete``, ``mask``/``live``
# and ``purge``); the graph-ANN pages and the sketches, whose reads
# resolve latest-wins per key, call them directly.  Content-grain count
# stores (exact-text, URL and segment fingerprints; substring grams)
# have no ``id_col`` and delete by negative count slices instead — see
# queries/dedupstore.py. ---
def upsert_tombstones(
    ids: DataFrame, path: str, *, batch: int, id_col: str = "doc_id"
) -> None:
    """Record a deleted-id set as the store's ``_deleted/batch=<n>``
    slice: one collect of the id column, nulls dropped, ids deduped and
    sorted; re-running a delete batch replaces exactly its own slice
    (with no ids, by an empty slice)."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    col = ids.select(id_col).toArrow().column(id_col)
    uniq = pa.table({id_col: pc.unique(pc.drop_null(col))}).sort_by(id_col)
    write_sidecar(path, "_deleted", uniq, batch=batch)


def tombstoned_ids(path: str, id_col: str = "doc_id"):
    """The distinct non-null tombstoned ids of every ``_deleted`` slice
    as a sorted one-column ``pyarrow.Table`` (``None`` when there are
    none).  A null id never matches in the anti-join, so none is kept."""
    import pyarrow as pa  # noqa: PLC0415
    import pyarrow.compute as pc  # noqa: PLC0415

    t = read_sidecar(path, "_deleted", [id_col])
    if t is None:
        return None
    ids = pa.table({id_col: pc.unique(pc.drop_null(t.column(id_col)))})
    return ids.sort_by(id_col) if ids.num_rows else None


def read_tombstones(
    spark: SparkSession, path: str, *, id_col: str = "doc_id",
    field: T.StructField | None = None,
) -> DataFrame | None:
    """The distinct tombstoned ids as a local frame (``None`` when there
    are none), typed as ``field`` when given, else as stored: an id
    deleted in two batches is one row."""
    from pyspark.sql.pandas.types import from_arrow_schema  # noqa: PLC0415

    ids = tombstoned_ids(path, id_col)
    if ids is None:
        return None
    return local_frame(spark, ids, T.StructType([field]) if field else from_arrow_schema(ids.schema))


def anti_tombstones(store: DataFrame, path: str, *, id_col: str = "doc_id") -> DataFrame:
    """Serve-time delete mask: store rows minus the tombstoned ids (a
    broadcast left-anti join — the id list is compliance-batch sized,
    never corpus-grain; unbounded tombstone growth is what the purging
    compaction bounds).  The ids are a local relation of the store's own
    id type, so the broadcast side has no scan and no aggregate; a store
    row with a null id is kept, as the join keeps it."""
    t = read_tombstones(store.sparkSession, path, id_col=id_col, field=store.schema[id_col])
    if t is None:
        return store
    return store.join(F.broadcast(t), id_col, "left_anti")


def clear_tombstones(path: str) -> None:
    shutil.rmtree(os.path.join(path, "_deleted"), ignore_errors=True)


@dataclass(frozen=True)
class SlicedStore:
    """One batch-sliced store format, declared once: rows under
    ``<axis>=<v>/batch=<n>/`` (``batch=<n>/`` when ``axis`` is None),
    read with the declared ``schema`` (a DDL string, partition columns
    included), ``_deleted`` tombstones on ``id_col`` (None: the store
    has none), and ``fmt`` the version in its ``_BUILT`` marker (None: a
    sub-store under ``<root>/_<name>``, marked by its root).  The verbs
    below are the only code that spells this layout out: the incremental
    stores (dedup counts and doc-grain postings in queries/dedupstore.py,
    the IVF-PQ/OPQ index in queries/annindex.py, the BM25 postings in
    queries/retrieval.py) each declare their format and call them.  A
    declared read schema plans no schema-inference job and types the
    partition columns, so a read is never a Spark job of its own and a
    store with no slices reads as empty."""

    schema: str
    axis: str | None
    id_col: str | None
    fmt: int | None

    def _parts(self) -> list[str]:
        return [self.axis, "batch"] if self.axis else ["batch"]

    def append(self, rows, path: str, *, batch: int) -> str:
        """Write ``rows`` as the ``batch=<n>`` slice and mark the store.
        Re-running a batch replaces its whole slice: every
        ``<axis>=*/batch=<n>`` dir goes first, so a cell the re-run does
        not write keeps no row of the old run (dynamic partition
        overwrite replaces only the cells present in ``rows``).

        ``rows`` is a DataFrame (an unbounded corpus encode: Spark's
        partitioned write) or, for a store with an axis, a request-sized
        ``pyarrow.Table`` already on the driver, as :func:`local_frame`
        takes one: cast to the declared data columns, it is written one
        file per axis value by pyarrow, with no Spark job, in the
        engine's codec.  Without the Arrow schema blob
        (``store_schema=False``) such a file is no larger than Spark's."""
        batch = int(batch)
        if os.path.isdir(path):
            cells = [path] if self.axis is None else [
                os.path.join(path, d) for d in os.listdir(path) if d.startswith(f"{self.axis}=")
            ]
            for cell in cells:
                shutil.rmtree(os.path.join(cell, f"batch={batch}"), ignore_errors=True)
        if isinstance(rows, DataFrame):
            upsert_partitions(rows.withColumn("batch", F.lit(batch)), path, partition_by=self._parts())
        else:
            self._write_table(rows, path, batch)
        if self.fmt is not None:
            mark_built(path, self.fmt)
        return path

    def _write_table(self, rows, path: str, batch: int) -> None:
        """:meth:`append`'s driver-side writer: one ``part-0.parquet``
        per ``<axis>=<v>/batch=<n>`` dir, published by :func:`_write_dir`."""
        import pyarrow.compute as pc  # noqa: PLC0415
        from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

        fields = T.StructType.fromDDL(self.schema).fields
        arrow = to_arrow_schema(T.StructType([f for f in fields if f.name not in self._parts()]))
        keys = rows.column(self.axis)
        for v in sorted(pc.unique(keys).to_pylist()):
            _write_dir(
                os.path.join(path, f"{self.axis}={v}", f"batch={batch}"),
                rows.filter(pc.equal(keys, v)).select(arrow.names).cast(arrow),
                compression=PARQUET_CODEC,
                store_schema=False,
            )

    def scan(self, spark: SparkSession, path: str, *, max_batch: int | None = None) -> DataFrame:
        """Every slice's rows (only ``batch <= max_batch`` when given:
        the replay fence of a streaming sink), tombstoned rows included."""
        rows = spark.read.schema(self.schema).parquet(path)
        return rows if max_batch is None else rows.filter(F.col("batch") <= max_batch)

    def mask(self, rows: DataFrame, path: str) -> DataFrame:
        """``rows`` minus the ids tombstoned in the store at ``path``
        (:func:`anti_tombstones`); a sub-store's rows use its root's."""
        return rows if self.id_col is None else anti_tombstones(rows, path, id_col=self.id_col)

    def live(self, spark: SparkSession, path: str, *, max_batch: int | None = None) -> DataFrame:
        """:meth:`scan` minus tombstones: the rows a read serves."""
        return self.mask(self.scan(spark, path, max_batch=max_batch), path)

    def delete(self, ids: DataFrame, path: str, *, batch: int) -> str:
        """Tombstone the ``id_col`` ids of ``ids`` as ``_deleted/batch=<n>``."""
        upsert_tombstones(ids, path, batch=batch, id_col=self.id_col)
        return path

    def purge(
        self, spark: SparkSession, path: str, fold: Callable[[DataFrame], DataFrame] | None = None
    ) -> None:
        """Rewrite the store as one ``batch=0`` slice: its live rows,
        through ``fold`` when given (a per-key merge of the slices, or a
        filter), staged and published by :func:`replace_store` (the
        marker and the other sidecars ride along); then the tombstones
        are cleared.  The vacuum of a delete: a crash between publish and
        clear is harmless, as the surviving tombstones mask
        already-purged rows."""
        rows = self.live(spark, path)
        rows = (fold(rows) if fold else rows).withColumn("batch", F.lit(0))
        rows = rows.select(*T.StructType.fromDDL(self.schema).fieldNames())
        replace_store(path, lambda p: write_events(rows, p, partition_by=self._parts()))
        clear_tombstones(path)


def write_json_lines(
    df: DataFrame,
    path: str,
    *,
    partition_by: Iterable[str] = (),
    mode: str = "overwrite",
) -> None:
    """Distributed JSON-lines sink (sorted fields, one object per line) —
    the export twin of :func:`columnflow_spark.sources.load_json`; the
    reference's json side outputs for interchange with non-parquet tooling
    (e.g. tasks/selection.py stats targets).  Partitioned writes
    REBALANCE by the partition columns exactly like :func:`write_events`
    (guide §6)."""
    _sorted_writer(sort_fields(df), list(partition_by), 0, mode).json(path)


def local_frame(
    spark: SparkSession, rows: Iterable, schema: str | T.StructType
) -> DataFrame:
    """The one way driver-side rows become a DataFrame: ``rows`` (tuples
    in ``schema``'s field order, e.g. ``"query_id long, cid long"`` or a
    ``StructType``) go into a ``pyarrow.Table`` and
    ``createDataFrame(table, schema)`` hands its batches to the JVM as a
    local relation.  A list ``createDataFrame`` instead parallelizes the
    rows into ``defaultParallelism`` Python partitions, and every task
    that reads them pays a Python-worker round trip: 1.3-1.7 s of
    executor time for 0.02 s of CPU per 4-task frame, and a following
    ``coalesce(1)`` ran all of them sequentially in one task.  Row order
    is kept; ``coalesce(1)`` on the result costs nothing.  ``rows`` may
    also be a ``pyarrow.Table`` (a read sidecar), cast to ``schema``."""
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    struct = schema if isinstance(schema, T.StructType) else T.StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    if isinstance(rows, pa.Table):
        table = rows.select(arrow.names).cast(arrow)
    else:
        cols = list(zip(*rows)) or [()] * len(arrow)
        table = pa.Table.from_arrays(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, arrow)], schema=arrow
        )
    return spark.createDataFrame(table, struct)


def write_side_output(obj: object, path: str) -> str:
    """Driver-side JSON side sink for small summary objects — selection
    stats, cutflow dictionaries, normalization sums (the reference persists
    these as pickle/json law targets next to the event data,
    tasks/selection.py:260 stats output).  Atomic write (tmp + rename);
    keys are sorted so re-runs are byte-identical."""
    os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(obj, fh, sort_keys=True, indent=2, default=str)
        fh.write("\n")
    os.replace(tmp, path)
    return path


def read_side_output(path: str) -> object:
    with open(path) as fh:
        return json.load(fh)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: Iterable[str],
    n_buckets: int = 32,
    *,
    sort_cols: Iterable[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) table write — the storage layout that
    makes repeated fact-fact joins and groupBys on the bucket key
    exchange-free (SURVEY §4: pre-shuffled storage; the production answer
    to re-shuffling 100 TB per query).  Buckets require the table catalog
    (``saveAsTable``); ``sort_cols`` additionally orders within buckets so
    sort-merge joins skip their sorts."""
    writer = df.write.mode(mode).bucketBy(int(n_buckets), *list(bucket_cols))
    if sort_cols:
        writer = writer.sortBy(*list(sort_cols))
    if path is not None:
        writer = writer.option("path", path)
    writer.format("parquet").saveAsTable(table_name)


def upsert_partitions(
    df: DataFrame,
    path: str,
    *,
    partition_by: Iterable[str],
    rows_per_file: int = DEFAULT_ROWS_PER_FILE,
) -> None:
    """Idempotent per-partition replace into the ``dataset=…/shift=…``
    store: only the partitions PRESENT in ``df`` are overwritten, sibling
    partitions are untouched (dynamic partition overwrite).

    This is the incremental form of :func:`write_events` — re-running one
    dataset/shift (the reference's per-task idempotent output semantics,
    task outputs short-circuit on existence) must not clobber the rest of
    a store that took cluster-days to build.  Dynamic mode is an option
    of this one write, never a session conf, so a concurrent overwrite in
    the same session keeps its own mode."""
    partition_by = list(partition_by)
    if not partition_by:
        raise ValueError("upsert_partitions requires partition columns")
    _sorted_writer(sort_fields(df), partition_by, rows_per_file, "overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(path)
