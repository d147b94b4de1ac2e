"""Sink semantics: recursive field sorting (reference sort_ak_fields,
columnar_util.py:1027), row-group/file targeting (law.cfg:71), partitioned
layout, and size-targeted compaction (tasks/reduction.py:309-327)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from columnflow_spark.sources import load_table
from columnflow_spark.sources.sinks import compact_to_target_size, sort_fields, write_events


def test_sort_fields_recursive(spark):
    df = spark.createDataFrame(
        [(1, {"b": 2, "a": 1}, [{"z": 1.0, "y": 2.0}])],
        "zz int, rec struct<b:int,a:int>, arr array<struct<z:double,y:double>>",
    )
    out = sort_fields(df)
    assert out.columns == ["arr", "rec", "zz"]
    assert [f.name for f in out.schema["rec"].dataType.fields] == ["a", "b"]
    assert [f.name for f in out.schema["arr"].dataType.elementType.fields] == ["y", "z"]
    row = out.collect()[0]
    assert row["rec"]["a"] == 1 and row["rec"]["b"] == 2
    assert row["arr"][0]["y"] == 2.0 and row["arr"][0]["z"] == 1.0
    # a sorted frame comes back as it is
    assert sort_fields(out) is out


def test_sort_fields_every_nested_level(spark):
    # arrays inside array elements and odd names are sorted too; already
    # sorted levels keep their values
    from pyspark.sql import types as T

    def struct(*names, types=None):
        return T.StructType(
            [T.StructField(n, (types or {}).get(n, T.IntegerType())) for n in names]
        )

    inner = T.ArrayType(struct("d", "c"))
    schema = struct(
        "b", "a", "k.k",
        types={"a": T.ArrayType(struct("q", "p", types={"q": inner})), "k.k": struct("m", "`l")},
    )
    df = spark.createDataFrame([(1, [([(4, 3)], 2)], (5, 6))], schema)
    out = sort_fields(df)
    assert out.columns == ["a", "b", "k.k"]
    el = out.schema["a"].dataType.elementType
    assert el.names == ["p", "q"] and el["q"].dataType.elementType.names == ["c", "d"]
    assert out.schema["k.k"].dataType.names == ["`l", "m"]
    row = out.collect()[0]
    assert row["a"][0]["p"] == 2 and row["a"][0]["q"][0]["c"] == 3
    assert row["a"][0]["q"][0]["d"] == 4 and row["k.k"]["`l"] == 6 and row["b"] == 1


@pytest.mark.parametrize("order", ["sorted", "unsorted"])
def test_sort_fields_keeps_null_structs(spark, tmp_path, order):
    # a null struct, a null array element, a null nested struct and a null
    # array read back as null whether or not their level needed sorting
    names = ("a", "b") if order == "sorted" else ("b", "a")
    st = f"struct<{names[0]}:int,{names[1]}:int>"
    df = spark.createDataFrame(
        [
            (0, None, [None, {"a": 1, "b": 2}], {"s": None}, None),
            (1, {"a": 3, "b": 4}, [{"a": 5, "b": 6}], {"s": {"a": 7, "b": 8}}, [None]),
        ],
        f"id int, rec {st}, arr array<{st}>, outer struct<s:{st}>, arr2 array<{st}>",
    )
    out = sort_fields(df)
    assert out.schema["rec"].dataType.names == ["a", "b"]
    write_events(df, str(tmp_path / "o"))
    for frame in (out, spark.read.parquet(str(tmp_path / "o"))):
        rows = {r["id"]: r for r in frame.collect()}
        assert rows[0]["rec"] is None and rows[0]["arr"][0] is None
        assert rows[0]["outer"]["s"] is None and rows[0]["arr2"] is None
        assert rows[1]["arr2"] == [None]
        assert rows[0]["arr"][1].asDict() == {"a": 1, "b": 2}
        assert rows[1]["rec"].asDict() == {"a": 3, "b": 4}
        assert rows[1]["outer"]["s"].asDict() == {"a": 7, "b": 8}


def test_write_events_rows_per_file_and_partitioning(spark, sf_dir, tmp_path):
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "dataset", F.when(F.col("o_orderkey") % 2 == 0, "even").otherwise("odd")
    )
    path = str(tmp_path / "out")
    write_events(orders, path, partition_by=["dataset"], rows_per_file=500)
    # hive layout exists and is prunable
    assert os.path.isdir(os.path.join(path, "dataset=even"))
    files = glob.glob(os.path.join(path, "dataset=*", "*.parquet"))
    assert files, "no parquet files written"
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    # rows_per_file honored: no file exceeds the cap
    for f in files:
        assert spark.read.parquet(f).count() <= 500
    # field order sorted in the written schema
    data_cols = [c for c in back.columns if c != "dataset"]
    assert data_cols == sorted(data_cols)


def test_compact_to_target_size(spark, sf_dir, tmp_path):
    src = str(tmp_path / "small_files")
    dst = str(tmp_path / "compacted")
    li = load_table(spark, sf_dir, "lineitem")
    li.repartition(16).write.parquet(src)
    assert len(glob.glob(os.path.join(src, "*.parquet"))) >= 16
    n = compact_to_target_size(spark, src, dst, target_file_bytes=1 << 30)
    assert n == 1
    assert len(glob.glob(os.path.join(dst, "*.parquet"))) == 1
    assert spark.read.parquet(dst).count() == li.count()


def test_file_branch_map(spark, sf_dir, tmp_path):
    """LFN-resolution analog (reference tasks/external.py:31): a dataset is
    a list of files; partition = file, per-file branches via
    input_file_name — no custom listing layer needed on Spark."""
    from pyspark.sql import functions as F

    from columnflow_spark.sources import load_table

    out = str(tmp_path / "branched")
    load_table(spark, sf_dir, "orders").repartition(4).write.mode("overwrite").parquet(out)
    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("lfn"))
        .count()
    )
    rows = per_file.collect()
    assert len(rows) == 4
    assert sum(r["count"] for r in rows) == load_table(spark, sf_dir, "orders").count()


def test_ratio_plot_data(spark, sf_dir):
    from pyspark.sql import functions as F

    from columnflow_spark.hist.axes import Variable
    from columnflow_spark.hist.fill import fill_hist
    from columnflow_spark.plotting import ratio_plot_data
    from columnflow_spark.sources import load_table

    li = load_table(spark, sf_dir, "lineitem")
    var = Variable("price", "l_extendedprice", (10, 0.0, 110000.0))
    mc = fill_hist(li.filter(F.col("l_returnflag") != "N"), [var])
    data = fill_hist(li.filter(F.col("l_returnflag") == "N"), [var])
    out = {r["bin__price"]: r for r in ratio_plot_data(mc, data, "bin__price").collect()}
    assert out and all(r["rel_unc"] > 0 for r in out.values())
    # a bin's ratio is data/mc for that bin
    some = next(iter(out.values()))
    assert some["ratio"] >= 0.0


def test_csv_json_sources_round_trip(spark, sf_dir, tmp_path):
    # text-format sources carry the same relations: write orders out as
    # CSV and JSON-lines, read back with explicit DDL schemas, and match
    # the parquet original exactly (schema declared -> no inference scan)
    from columnflow_spark.sources import load_csv, load_json

    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    ddl = "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double"

    csv_path = str(tmp_path / "orders_csv")
    orders.write.option("header", "true").csv(csv_path)
    back_csv = load_csv(spark, csv_path, schema=ddl)
    assert back_csv.schema.simpleString() == orders.schema.simpleString()
    assert back_csv.count() == orders.count()
    assert back_csv.agg(F.sum("o_totalprice")).first()[0] == orders.agg(F.sum("o_totalprice")).first()[0]

    json_path = str(tmp_path / "orders_json")
    orders.write.json(json_path)
    back_json = load_json(spark, json_path, schema=ddl)
    assert back_json.schema.simpleString() == orders.schema.simpleString()
    assert back_json.count() == orders.count()
    assert back_json.agg(F.sum("o_orderkey")).first()[0] == orders.agg(F.sum("o_orderkey")).first()[0]


def test_json_lines_sink_round_trip(spark, sf_dir, tmp_path):
    from columnflow_spark.sources import load_json, load_table
    from columnflow_spark.sources.sinks import write_json_lines

    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    out = str(tmp_path / "orders_json")
    write_json_lines(orders, out)
    back = load_json(spark, out, "o_orderkey bigint, o_orderstatus string, o_totalprice double")
    assert back.count() == orders.count()
    a = orders.agg(F.sum("o_totalprice").alias("s")).first().s
    b = back.agg(F.sum("o_totalprice").alias("s")).first().s
    # each double round-trips JSON text exactly (shortest-repr write);
    # only the SUM's partition order differs after re-read, so compare
    # with a relative tolerance that scales with the corpus
    assert abs(a - b) <= 1e-9 * abs(a)


def test_partitioned_writers_rebalance_file_counts(spark, sf_dir, tmp_path):
    """The two partitioned writers that bypassed write_events in r13 —
    write_json_lines and the datacard shapes export — must cluster rows
    by the partition columns before the write (REBALANCE hint): a
    many-task frame written into few hive partitions must NOT commit one
    near-empty file per (task, partition-value) pair (guide §6)."""
    from columnflow_spark.inference.datacard import export_shapes
    from columnflow_spark.sources.sinks import write_json_lines

    df = (
        spark.range(2000)
        .repartition(32)
        .select(
            F.col("id"),
            F.concat(F.lit("c"), (F.col("id") % 3).cast("string")).alias("category"),
            (F.col("id") % 7).cast("double").alias("sum_w"),
        )
    )
    jpath = str(tmp_path / "json_part")
    write_json_lines(df, jpath, partition_by=["category"])
    jfiles = glob.glob(os.path.join(jpath, "category=*", "part-*"))
    assert jfiles, "no json files written"
    # without the hint this layout commits ~32 files per category (96+)
    assert len(jfiles) <= 3 * 4
    back = spark.read.json(jpath)
    assert back.count() == 2000

    ppath = str(tmp_path / "shapes_part")
    export_shapes(df, ppath)
    pfiles = glob.glob(os.path.join(ppath, "category=*", "*.parquet"))
    assert pfiles, "no parquet files written"
    assert len(pfiles) <= 3 * 4
    assert spark.read.parquet(ppath).count() == 2000


def test_side_output_round_trip(tmp_path):
    from columnflow_spark.sources.sinks import read_side_output, write_side_output

    stats = {"n_events": 1000, "sum_weights": 123.5, "steps": {"met": 900, "jet": 800}}
    p = write_side_output(stats, str(tmp_path / "stats" / "selection_stats.json"))
    assert read_side_output(p) == stats
    # deterministic bytes across re-runs (sorted keys)
    c1 = open(p, "rb").read()
    write_side_output(dict(reversed(list(stats.items()))), p)
    assert open(p, "rb").read() == c1


def test_partition_pruning_reaches_scan(spark, sf_dir, tmp_path):
    # the dataset=/shift= hive layout is only worth its write cost if a
    # dataset filter prunes partitions at PLANNING time — assert the scan
    # node carries the partition filter and reads one partition's rows
    import contextlib, io

    from columnflow_spark.sources.sinks import write_events

    orders = load_table(spark, sf_dir, "orders").withColumn(
        "dataset", F.when(F.col("o_orderkey") % 2 == 0, "even").otherwise("odd")
    )
    path = str(tmp_path / "store")
    write_events(orders, path, partition_by=["dataset"])
    pruned = spark.read.parquet(path).filter(F.col("dataset") == "even")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pruned.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "dataset" in plan.split("PartitionFilters")[1].split("]")[0]
    assert pruned.count() == orders.filter(F.col("o_orderkey") % 2 == 0).count()


def test_load_evolving_merges_drifted_schemas(spark, tmp_path):
    # v1 files lack the later-added column; the merged relation exposes
    # the union schema, nulls for old files, sentinel fill on request
    from pyspark.sql import functions as F

    from columnflow_spark.core.routes import EMPTY_FLOAT
    from columnflow_spark.sources.tables import load_evolving

    v1 = spark.range(5).select(F.col("id"), F.lit("a").alias("tag"))
    v2 = spark.range(5, 8).select(
        F.col("id"), F.lit("b").alias("tag"), (F.col("id") * 1.5).alias("score")
    )
    p1, p2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    v1.write.parquet(p1)
    v2.write.parquet(p2)
    df = load_evolving(spark, p1, p2, fill={"score": EMPTY_FLOAT})
    assert set(df.columns) == {"id", "tag", "score"}
    rows = {r.id: r for r in df.collect()}
    assert rows[0].score == EMPTY_FLOAT  # old file: sentinel-filled
    assert rows[6].score == 9.0
    # a column absent everywhere still materializes when required
    df2 = load_evolving(spark, p1, required=["not_yet_written"])
    assert "not_yet_written" in df2.columns
    assert df2.filter(F.col("not_yet_written").isNull()).count() == 5


def test_upsert_partitions_preserves_siblings(spark, sf_dir, tmp_path):
    from columnflow_spark.sources.sinks import upsert_partitions, write_events

    out = str(tmp_path / "store")
    base = spark.range(10).selectExpr(
        "id", "CASE WHEN id < 5 THEN 'ds_a' ELSE 'ds_b' END AS dataset"
    )
    write_events(base, out, partition_by=["dataset"])
    # re-run only ds_a with different content; ds_b must survive intact
    redo = spark.range(100, 103).selectExpr("id", "'ds_a' AS dataset")
    upsert_partitions(redo, out, partition_by=["dataset"])
    got = spark.read.parquet(out)
    a = sorted(r.id for r in got.filter("dataset = 'ds_a'").collect())
    b = sorted(r.id for r in got.filter("dataset = 'ds_b'").collect())
    assert a == [100, 101, 102]
    assert b == [5, 6, 7, 8, 9]
    # the session conf stays static: dynamic mode was an option of the
    # one write (Spark reads the mode case-insensitively; its default
    # reads "STATIC")
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"


def test_replace_store_keeps_the_marker_it_finds(spark, tmp_path):
    """Compaction copies ``_BUILT`` like every file sidecar (its bytes
    unchanged) and writes an empty one only when the source had none."""
    from columnflow_spark.sources.sinks import replace_store, upsert_partitions, write_events

    rows = spark.range(6).selectExpr("id", "CAST(id % 2 AS INT) AS batch")
    marked, bare = str(tmp_path / "marked"), str(tmp_path / "bare")
    for path in (marked, bare):
        upsert_partitions(rows, path, partition_by=["batch"])
    with open(os.path.join(marked, "_BUILT"), "w") as f:
        f.write("format=7\n")
    for path in (marked, bare):
        rows = spark.read.parquet(path).selectExpr("id", "0 AS batch")
        replace_store(path, lambda p: write_events(rows, p, partition_by=["batch"]))
        assert sorted(r.id for r in spark.read.parquet(path).collect()) == list(range(6))
    with open(os.path.join(marked, "_BUILT")) as f:
        assert f.read() == "format=7\n"
    with open(os.path.join(bare, "_BUILT")) as f:
        assert f.read() == ""
    assert sorted(os.listdir(tmp_path)) == ["bare", "marked"]


def test_ensure_store_builds_staged_and_publishes(tmp_path):
    from columnflow_spark.sources.sinks import ensure_store

    path = str(tmp_path / "store")
    calls = []

    def build(p):
        calls.append(p)
        assert p != path and p.startswith(path + ".staging-")
        os.makedirs(p)
        with open(os.path.join(p, "data.txt"), "w") as f:
            f.write("x")
        with open(os.path.join(p, "_BUILT"), "w") as f:
            f.write("ok")

    assert ensure_store(path, build) == path
    assert os.path.exists(os.path.join(path, "_BUILT"))
    assert not any(e.startswith("store.staging-") for e in os.listdir(tmp_path))
    # second call short-circuits: no rebuild
    assert ensure_store(path, build) == path
    assert len(calls) == 1
    # a marker the build wrote itself is kept as written
    with open(os.path.join(path, "_BUILT")) as f:
        assert f.read() == "ok"

    # a two-step build that writes no marker publishes a marked store:
    # ensure_store owns completeness
    two_step = str(tmp_path / "two_step")

    def steps(p):
        for step in ("one", "two"):
            os.makedirs(os.path.join(p, f"step={step}"))

    assert ensure_store(two_step, steps) == two_step
    assert sorted(os.listdir(two_step)) == ["_BUILT", "step=one", "step=two"]


def test_ensure_store_requires_marker_and_clears_remnants(tmp_path):
    import pytest

    from columnflow_spark.sources.sinks import ensure_store

    path = str(tmp_path / "store")

    def bad_build(p):
        pass  # creates nothing -> must fail loudly, never publish

    with pytest.raises(RuntimeError, match="created no staging dir"):
        ensure_store(path, bad_build)
    assert not os.path.exists(path)
    # a marker-less remnant (crashed legacy in-place build) is replaced
    os.makedirs(path)
    with open(os.path.join(path, "junk"), "w") as f:
        f.write("partial")

    def build(p):
        os.makedirs(p)
        with open(os.path.join(p, "_BUILT"), "w") as f:
            f.write("ok")

    assert ensure_store(path, build) == path
    assert not os.path.exists(os.path.join(path, "junk"))


def test_ensure_store_loser_adopts_winner(tmp_path):
    """Concurrent-session shape: a second builder whose rename loses must
    adopt the published store and discard its staging copy."""
    from columnflow_spark.sources.sinks import ensure_store

    path = str(tmp_path / "store")

    def racing_build(p):
        os.makedirs(p)
        with open(os.path.join(p, "_BUILT"), "w") as f:
            f.write("mine")
        # simulate the other session publishing first
        os.makedirs(path)
        with open(os.path.join(path, "_BUILT"), "w") as f:
            f.write("theirs")

    assert ensure_store(path, racing_build) == path
    with open(os.path.join(path, "_BUILT")) as f:
        assert f.read() == "theirs"
    assert not any(e.startswith("store.staging-") for e in os.listdir(tmp_path))


@pytest.mark.parametrize("verb", ["ensure_store", "replace_store"])
def test_ensure_store_cleans_staging_on_failure(tmp_path, verb):
    """ADVICE r12: a failed build must not leak its .staging-* tree, and
    it publishes nothing: ``ensure_store`` leaves no store at ``path``,
    ``replace_store`` leaves the old store intact and marked."""
    from columnflow_spark.sources import sinks

    store = getattr(sinks, verb)
    path = str(tmp_path / "store")
    if verb == "replace_store":
        os.makedirs(path)
        with open(os.path.join(path, "data.txt"), "w") as f:
            f.write("old")
        sinks.mark_built(path)

    def unchanged():
        if verb == "ensure_store":
            return not os.path.exists(path)
        with open(os.path.join(path, "data.txt")) as f:
            data = f.read()
        return sorted(os.listdir(path)) == ["_BUILT", "data.txt"] and data == "old"

    def leftovers():
        return [e for e in os.listdir(tmp_path) if ".staging-" in e or ".old-" in e]

    def boom(p):
        os.makedirs(p, exist_ok=True)
        with open(os.path.join(p, "partial"), "w") as f:
            f.write("x")
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError, match="build failed"):
        store(path, boom)
    assert leftovers() == []
    assert unchanged()

    # a build that raises BETWEEN its steps publishes nothing either
    def crash_between(p):
        os.makedirs(os.path.join(p, "step=one"))
        raise RuntimeError("crash between steps")

    with pytest.raises(RuntimeError, match="crash between steps"):
        store(path, crash_between)
    assert leftovers() == []
    assert unchanged()
    # and a build that creates nothing (no exception) raises and cleans up
    with pytest.raises(RuntimeError, match="created no staging dir"):
        store(path, lambda p: None)
    assert leftovers() == []
    assert unchanged()

def _slice_ids(path, batch, id_col="vec_id"):
    from columnflow_spark.sources.sinks import read_sidecar

    return read_sidecar(os.path.join(path, "_deleted"), f"batch={batch}").column(id_col).to_pylist()


def test_tombstone_slices_are_driver_side(spark, tmp_path):
    """A delete is ONE Spark job (the collect of the caller's ids): the
    slice is deduped, null-free and sorted, a rerun of a batch replaces
    only its own slice, and an empty batch is an empty slice."""
    from columnflow_spark.session import count_jobs
    from columnflow_spark.sources.sinks import local_frame, read_tombstones, upsert_tombstones

    path = str(tmp_path / "store")

    def delete(ids, batch):
        frame = local_frame(spark, [(i,) for i in ids], "vec_id long")
        return count_jobs(spark, lambda: upsert_tombstones(frame, path, batch=batch,
                                                           id_col="vec_id"))[1]

    assert delete([5, 3, None, 5, 1], 0) == 1
    assert delete([9, 8], 1) == 1
    assert _slice_ids(path, 0) == [1, 3, 5] and _slice_ids(path, 1) == [8, 9]
    # a rerun of batch 0 replaces batch 0 only
    assert delete([7, 7], 0) == 1
    assert _slice_ids(path, 0) == [7] and _slice_ids(path, 1) == [8, 9]
    # an empty batch: an empty slice, and the other slices still read
    delete([], 2)
    assert _slice_ids(path, 2) == []
    assert sorted(r.vec_id for r in read_tombstones(spark, path, id_col="vec_id").collect()) == [
        7, 8, 9]
    # nothing but the slices: no staging or moved-aside dirs left
    assert sorted(os.listdir(os.path.join(path, "_deleted"))) == [
        "batch=0", "batch=1", "batch=2"]
    # a store whose only slice is empty has no tombstones
    empty = str(tmp_path / "empty")
    upsert_tombstones(local_frame(spark, [], "vec_id long"), empty, batch=0, id_col="vec_id")
    assert read_tombstones(spark, empty, id_col="vec_id") is None


@pytest.mark.parametrize("ddl,ids,keep", [
    ("k long", [3, 1], [2, None]),
    ("k int", [3, 1], [2, None]),
    ("k string", ["c", "a"], ["b", None]),
])
def test_tombstones_of_every_id_type(spark, tmp_path, ddl, ids, keep):
    # the anti-join keeps the store's id type and its null-key semantics:
    # a store row with a null id is never masked
    from columnflow_spark.sources.sinks import anti_tombstones, local_frame, upsert_tombstones

    path = str(tmp_path / "store")
    upsert_tombstones(local_frame(spark, [(i,) for i in ids], ddl), path, batch=0, id_col="k")
    store = local_frame(spark, [(i,) for i in [*ids, *keep]], ddl)
    live = anti_tombstones(store, path, id_col="k")
    assert live.schema == store.schema
    assert sorted((r.k for r in live.collect()), key=str) == sorted(keep, key=str)


def test_spark_written_tombstone_slice_still_reads(spark, tmp_path):
    # a store whose slices Spark wrote (part-*.parquet, .crc, _SUCCESS,
    # batch= partition dirs) reads beside a driver-written slice
    from columnflow_spark.sources.sinks import (
        anti_tombstones,
        local_frame,
        read_tombstones,
        upsert_partitions,
        upsert_tombstones,
    )

    path = str(tmp_path / "store")
    store = local_frame(spark, [(i,) for i in range(6)], "vec_id long")
    legacy = local_frame(spark, [(1, 0), (2, 0), (2, 1)], "vec_id long, batch int")
    upsert_partitions(legacy, os.path.join(path, "_deleted"), partition_by=["batch"])
    assert any(f.startswith(".") for f in os.listdir(os.path.join(path, "_deleted", "batch=0")))
    upsert_tombstones(local_frame(spark, [(4,)], "vec_id long"), path, batch=2, id_col="vec_id")
    assert sorted(r.vec_id for r in read_tombstones(spark, path, id_col="vec_id").collect()) == [
        1, 2, 4]
    assert sorted(r.vec_id for r in anti_tombstones(store, path, id_col="vec_id").collect()) == [
        0, 3, 5]


def test_failed_sidecar_write_keeps_the_old_slice(spark, tmp_path, monkeypatch):
    # a write that fails before its rename publishes nothing: the old
    # slice stays whole and no staging dir is left behind
    import pyarrow.parquet as pq

    from columnflow_spark.sources.sinks import local_frame, upsert_tombstones

    path = str(tmp_path / "store")
    upsert_tombstones(local_frame(spark, [(1,), (2,)], "vec_id long"), path, batch=0,
                      id_col="vec_id")

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(pq, "write_table", boom)
    with pytest.raises(OSError, match="disk full"):
        upsert_tombstones(local_frame(spark, [(9,)], "vec_id long"), path, batch=0,
                          id_col="vec_id")
    assert _slice_ids(path, 0) == [1, 2]
    assert os.listdir(os.path.join(path, "_deleted")) == ["batch=0"]


#: the bounded sidecars ``sinks.write_sidecar``/``read_sidecar`` own
_DRIVER_SIDECARS = {"_deleted", "_stats", "_rotation", "_codebook", "_slices"}
#: sidecar names that are driver-side in one module only (graph-ANN's
#: batch-grained ``_centroids`` stay Spark writes in queries/anngraph.py)
_MODULE_SIDECARS = {"queries/dedupstore.py": {"_centroids"}}
#: calls that write or read a path through Spark
_SPARK_IO = {"parquet", "json", "csv", "orc", "text", "save", "load",
             "upsert_partitions", "write_events", "write_json_lines"}


def test_bounded_sidecars_have_no_spark_io():
    """Only sources/sinks.py touches the bounded sidecars' files: no other
    module passes a ``_deleted``/``_stats``/``_rotation``/``_codebook``/
    ``_slices`` path, nor queries/dedupstore.py a SemDeDup ``_centroids``
    path, to a Spark reader or writer (``.parquet(``,
    ``upsert_partitions(``, ...)."""
    import ast
    import pathlib

    repo = pathlib.Path(__file__).resolve().parent.parent
    sinks = repo / "columnflow_spark" / "sources" / "sinks.py"
    offenders = []
    for path in sorted((repo / "columnflow_spark").rglob("*.py")):
        if path == sinks:
            continue
        rel = path.relative_to(repo / "columnflow_spark").as_posix()
        sidecars = _DRIVER_SIDECARS | _MODULE_SIDECARS.get(rel, set())
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name not in _SPARK_IO:
                continue
            names = {
                c.value for arg in [*node.args, *(k.value for k in node.keywords)]
                for c in ast.walk(arg)
                if isinstance(c, ast.Constant) and c.value in sidecars
            }
            offenders += [f"{path.relative_to(repo)}:{node.lineno} {n}" for n in sorted(names)]
    assert offenders == []


def test_anti_tombstones_broadcasts_ids_without_aggregate(spark, tmp_path):
    # a left-anti join ignores duplicate ids, so the serve-time mask
    # broadcasts the raw _deleted ids: no distinct (HashAggregate) on the
    # broadcast side, and the ids read with the store's schema
    from columnflow_spark.sources.sinks import (
        anti_tombstones,
        local_frame,
        read_tombstones,
        upsert_tombstones,
    )

    path = str(tmp_path / "store")
    store = local_frame(spark, [(i, i % 3) for i in range(10)], "vec_id long, cid int")
    store.write.parquet(path)
    for b, ids in enumerate(([1, 2], [2, 5])):
        upsert_tombstones(local_frame(spark, [(i,) for i in ids], "vec_id long"), path,
                          batch=b, id_col="vec_id")
    live = anti_tombstones(spark.read.parquet(path), path, id_col="vec_id")
    plan = live._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan
    assert "HashAggregate" not in plan, plan
    assert sorted(r.vec_id for r in live.collect()) == [0, 3, 4, 6, 7, 8, 9]
    # the join callers keep one row per id
    assert sorted(r.vec_id for r in read_tombstones(spark, path, id_col="vec_id").collect()) == [
        1, 2, 5]
