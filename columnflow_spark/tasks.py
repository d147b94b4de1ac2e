"""Mini task-graph orchestration (SURVEY §3.1: the reference's law/luigi
DAG — CalibrateEvents -> SelectEvents -> ReduceEvents -> ProduceColumns ->
CreateHistograms — with content-addressed outputs and completed-target
short-circuiting, reference tasks/framework/base.py:926 ``store_parts``
and luigi completeness).

Scope: the orchestration *semantics* (store-parts output layout, idempotent
re-runs, shift-aware planning) without the luigi scheduler — each task is
one Spark job writing Parquet through ``sinks.ensure_store`` (staged,
published by one rename, complete once it carries ``_BUILT``, which
records the output's read schema so a downstream task reads it with no
schema-inference job: ``sinks.write_output``/``read_output``), and the
DAG is resolved by a plain depth-first runner.  On a cluster the same
classes run under any scheduler that calls :func:`run_pipeline` per
terminal task.

Shift planning: a task executes under shift S only when S is *local* to
one of its operators or to any upstream task (otherwise its inputs and
logic are identical to nominal and the nominal output is reused —
reference ``resolve_shifts`` base.py:1581-1650).  This is what makes a
200-shift systematics campaign affordable: unaffected stages materialize
once.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from columnflow_spark.plans.shifts import NOMINAL, Shift
from columnflow_spark.sources.sinks import (
    ensure_store,
    is_built,
    read_output,
    tables_tag,
    write_output,
)


@dataclass
class TaskContext:
    spark: SparkSession
    sf_dir: str
    store: str  # output root
    shift: Shift = NOMINAL


class Task:
    """One pipeline stage: declare ``name``, ``local_shifts``, ``requires``
    and ``run``; the runner handles pathing, caching and shift collapse."""

    name: str = "task"
    #: part of the output address; v2: ``_BUILT`` records the read schema
    version: str = "v2"
    #: shift names whose aliases/logic affect THIS task's operators
    local_shifts: frozenset[str] = frozenset()
    #: source tables THIS task reads; downstream tasks inherit them
    tables: tuple[str, ...] = ()

    def requires(self) -> list["Task"]:  # noqa: UP037
        return []

    def run(self, ctx: TaskContext, inputs: dict[str, DataFrame]) -> DataFrame:
        raise NotImplementedError

    # -- planning ----------------------------------------------------------
    def affected_by(self, shift: Shift) -> bool:
        if shift.is_nominal:
            return False
        return shift.name in self.local_shifts or any(
            dep.affected_by(shift) for dep in self.requires()
        )

    def effective_shift(self, ctx: TaskContext) -> Shift:
        return ctx.shift if self.affected_by(ctx.shift) else NOMINAL

    def input_tables(self) -> set[str]:
        return set(self.tables).union(*(dep.input_tables() for dep in self.requires()))

    def store_parts(self, ctx: TaskContext) -> tuple[str, ...]:
        """Content-addressed path fragments (reference store_parts,
        base.py:926): task family / content tag of the source tables /
        shift / version — a run over other input never reuses this one's
        outputs."""
        return (
            self.name,
            tables_tag(ctx.sf_dir, self.input_tables()),
            f"shift_{self.effective_shift(ctx).name}",
            self.version,
        )

    def output_path(self, ctx: TaskContext) -> str:
        return os.path.join(ctx.store, *self.store_parts(ctx))

    def complete(self, ctx: TaskContext) -> bool:
        return is_built(self.output_path(ctx))


def run_pipeline(task: Task, ctx: TaskContext) -> str:
    """Depth-first DAG execution with completed-target short-circuit:
    a complete task returns its output path without touching its
    dependencies; otherwise they run first and its output is built."""

    def build(staging: str) -> None:
        inputs = {
            dep.name: read_output(ctx.spark, run_pipeline(dep, ctx)) for dep in task.requires()
        }
        write_output(task.run(ctx, inputs), staging)

    return ensure_store(task.output_path(ctx), build)


# --- the concrete reference task family over the nested event table ---------


class BuildEvents(Task):
    """Source stage (GetDatasetLFNs + scan analog): materialize the nested
    event table once; never shift-dependent."""

    name = "events"
    tables = ("orders", "lineitem")

    def run(self, ctx: TaskContext, inputs: dict[str, DataFrame]) -> DataFrame:
        from columnflow_spark.pipeline_demo import build_nested_events

        return build_nested_events(ctx.spark, ctx.sf_dir)


class CalibrateEvents(Task):
    """Price-scale calibrator; the ``price_up`` systematic is local here."""

    name = "calib"
    local_shifts = frozenset({"price_up"})

    def requires(self) -> list[Task]:
        return [BuildEvents()]

    def run(self, ctx: TaskContext, inputs: dict[str, DataFrame]) -> DataFrame:
        from columnflow_spark.pipeline_demo import price_scale

        scale = 1.05 if self.effective_shift(ctx).name == "price_up" else 1.02
        return price_scale(scale=scale)(inputs["events"])


class SelectEvents(Task):
    name = "select"

    def requires(self) -> list[Task]:
        return [CalibrateEvents()]

    def run(self, ctx: TaskContext, inputs: dict[str, DataFrame]) -> DataFrame:
        from columnflow_spark.pipeline_demo import qty_selector

        df, _res = qty_selector()(inputs["calib"])
        return df  # masks stored alongside events, not applied (reference semantics)


class ReduceEvents(Task):
    name = "reduce"

    def requires(self) -> list[Task]:
        return [SelectEvents()]

    def run(self, ctx: TaskContext, inputs: dict[str, DataFrame]) -> DataFrame:
        from columnflow_spark.pipeline_demo import cf_default_reduce

        return cf_default_reduce()(inputs["select"])


class ProduceColumns(Task):
    name = "produce"

    def requires(self) -> list[Task]:
        return [ReduceEvents()]

    def run(self, ctx: TaskContext, inputs: dict[str, DataFrame]) -> DataFrame:
        from columnflow_spark.pipeline_demo import features

        return features()(inputs["reduce"])


class CreateHistograms(Task):
    name = "hist"

    def requires(self) -> list[Task]:
        return [ProduceColumns()]

    def run(self, ctx: TaskContext, inputs: dict[str, DataFrame]) -> DataFrame:
        from columnflow_spark.hist import fill_hist
        from columnflow_spark.pipeline_demo import HT_VARIABLE

        return fill_hist(inputs["produce"], [HT_VARIABLE], categorical=["category"])
