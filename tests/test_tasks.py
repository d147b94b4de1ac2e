"""Task-graph orchestration semantics (SURVEY §3.1): content-addressed
store paths, completed-target short-circuit, shift-aware planning
(unaffected stages reuse nominal outputs), and outputs that are either
complete or absent, also under concurrent runs."""

from __future__ import annotations

import glob
import json
import os
import shutil
from concurrent.futures import ThreadPoolExecutor

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from columnflow_spark.plans.shifts import Shift
from columnflow_spark.session import count_jobs
from columnflow_spark.sources.sinks import read_output, tables_tag
from columnflow_spark.tasks import (
    BuildEvents,
    CreateHistograms,
    Task,
    TaskContext,
    run_pipeline,
)


def _hist_total(spark, path):
    return spark.read.parquet(path).agg(F.sum("sum_w")).first()[0]


def _hist_cells(spark, path):
    return {
        (r["category"], r["bin__ht"]): r["sum_w"] for r in spark.read.parquet(path).collect()
    }


def _outputs(store, stage):
    """The ``shift_*`` dirs of ``stage`` under ``store``, over every input tag."""
    return sorted(os.path.basename(p) for p in glob.glob(os.path.join(store, stage, "*", "shift_*")))


def _leftovers(root):
    return [
        os.path.join(d, e)
        for d, dirs, files in os.walk(root)
        for e in dirs + files
        if ".staging-" in e or ".old-" in e
    ]


def test_pipeline_end_to_end_and_idempotent(spark, sf_dir, tmp_path):
    ctx = TaskContext(spark=spark, sf_dir=sf_dir, store=str(tmp_path))
    out = run_pipeline(CreateHistograms(), ctx)
    # every stage materialized under its store-parts path: task / input
    # tag / shift / version, complete once it carries _BUILT
    tag = tables_tag(sf_dir, ("orders", "lineitem"))
    for stage in ("events", "calib", "select", "reduce", "produce", "hist"):
        assert os.path.exists(
            os.path.join(str(tmp_path), stage, tag, "shift_nominal", Task.version, "_BUILT")
        )
    assert _hist_total(spark, out) > 0
    # re-run: completed targets short-circuit (no rewrite -> mtimes stable)
    marker = os.path.join(str(tmp_path), "events", tag, "shift_nominal", Task.version, "_BUILT")
    mtime = os.path.getmtime(marker)
    out2 = run_pipeline(CreateHistograms(), ctx)
    assert out2 == out
    assert os.path.getmtime(marker) == mtime


def test_shift_planning_reuses_unaffected_stages(spark, sf_dir, tmp_path):
    store = str(tmp_path)
    nominal_ctx = TaskContext(spark=spark, sf_dir=sf_dir, store=store)
    nominal_out = run_pipeline(CreateHistograms(), nominal_ctx)

    shifted_ctx = TaskContext(spark=spark, sf_dir=sf_dir, store=store, shift=Shift("price_up"))
    shifted_out = run_pipeline(CreateHistograms(), shifted_ctx)
    assert shifted_out != nominal_out

    # the source stage is not affected by the shift -> single materialization
    assert not BuildEvents().affected_by(Shift("price_up"))
    assert _outputs(store, "events") == ["shift_nominal"]
    # calibration onward fork per shift
    assert _outputs(store, "calib") == ["shift_nominal", "shift_price_up"]
    # and the systematic actually moves events across bins (totals are
    # shift-invariant, the per-bin contents are not)
    assert _hist_cells(spark, shifted_out) != _hist_cells(spark, nominal_out)

    # an unknown shift collapses everything onto nominal (shift dedup)
    other_ctx = TaskContext(spark=spark, sf_dir=sf_dir, store=store, shift=Shift("unrelated"))
    assert run_pipeline(CreateHistograms(), other_ctx) == nominal_out


def _in_memory(task, ctx):
    """The task's output computed without the runner: no store, no reuse."""
    return task.run(ctx, {dep.name: _in_memory(dep, ctx) for dep in task.requires()})


def test_other_input_under_one_root_gets_its_own_outputs(spark, sf_dir, tmp_path):
    """Task outputs are addressed by their input: a second run over other
    rows under the same store root builds and returns that input's
    histogram, never the first run's."""
    a, b = tmp_path / "input_a", tmp_path / "input_b"
    for d in (a, b):
        d.mkdir()
        shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), d / "lineitem.parquet")
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), a / "orders.parquet")
    orders = pq.read_table(os.path.join(sf_dir, "orders.parquet"))
    half = orders.filter(pc.equal(pc.bit_wise_and(orders["o_orderkey"], 1), 0))
    pq.write_table(half, b / "orders.parquet")

    store = str(tmp_path / "store")
    out_a = run_pipeline(CreateHistograms(), TaskContext(spark, str(a), store))
    ctx_b = TaskContext(spark, str(b), store)
    out_b = run_pipeline(CreateHistograms(), ctx_b)
    want_b = {
        (r["category"], r["bin__ht"]): r["sum_w"]
        for r in _in_memory(CreateHistograms(), ctx_b).collect()
    }
    assert out_b != out_a
    assert _hist_cells(spark, out_b) == want_b
    assert _hist_cells(spark, out_a) != want_b
    # the shift layout below each input tag is unchanged
    assert _outputs(store, "events") == ["shift_nominal", "shift_nominal"]


def test_concurrent_runs_publish_one_complete_output(spark, sf_dir, tmp_path):
    """Two runs of the chain into one root at once: both return the same
    path, read a complete histogram equal to a single run's, and leave no
    staging or swapped-out sibling behind."""
    single = run_pipeline(CreateHistograms(), TaskContext(spark, sf_dir, str(tmp_path / "single")))
    ctx = TaskContext(spark=spark, sf_dir=sf_dir, store=str(tmp_path / "shared"))
    with ThreadPoolExecutor(2) as pool:
        outs = list(pool.map(lambda _: run_pipeline(CreateHistograms(), ctx), range(2), timeout=600))
    assert outs[0] == outs[1]
    assert _hist_cells(spark, outs[0]) == _hist_cells(spark, single)
    assert _leftovers(str(tmp_path)) == []


def _chain(task):
    return [t for dep in task.requires() for t in _chain(dep)] + [task]


def test_outputs_record_the_schema_they_read_back_with(spark, sf_dir, tmp_path):
    """Every task output's ``_BUILT`` records the schema
    ``spark.read.parquet`` infers for it, nested nullability included,
    and a downstream read with that schema plans no Spark job.  The
    recorded line of every task is pinned (tests/data): the sink's field
    sorting must not change the layout it writes."""
    with open(os.path.join(os.path.dirname(__file__), "data", "task_built_schemas.json")) as f:
        pinned = json.load(f)
    chain = _chain(CreateHistograms())
    assert [t.name for t in chain] == ["events", "calib", "select", "reduce", "produce", "hist"]
    for shift in (Shift("nominal"), Shift("price_up")):
        ctx = TaskContext(spark, sf_dir, str(tmp_path), shift)
        run_pipeline(CreateHistograms(), ctx)
        for task in chain:
            out = task.output_path(ctx)
            with open(os.path.join(out, "_BUILT")) as f:
                lines = f.read().splitlines()
            assert len(lines) == 1 and lines[0].startswith("schema="), lines
            assert lines[0] == pinned[task.name], task.name
            recorded = T.StructType.fromJson(json.loads(lines[0][len("schema="):]))
            assert recorded == spark.read.parquet(out).schema, task.name
            df, jobs = count_jobs(spark, lambda out=out: read_output(spark, out))
            assert jobs == 0 and df.schema == recorded, (task.name, jobs)
