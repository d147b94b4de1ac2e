"""Flagship staged pipeline (SURVEY.md §7.2 minimum end-to-end slice).

Re-expresses the reference's CalibrateEvents -> SelectEvents ->
ReduceEvents -> ProduceColumns -> CreateHistograms chain (reference
columnflow/tasks/{calibration,selection,reduction,production,histograms}.py)
on a nested event table built from the driver's orders+lineitem tables:

- event        = one order row
- object array = its lineitems (array<struct> column ``items``), the
                 analog of the reference's per-event ``Jet`` collection
- calibrator   = price scale correction (withField over the array)
- selector     = object mask (qty cut) + event mask (>=2 selected items),
                 emitted as a stored SelectionResult, not applied
- reducer      = applies the event mask, rebuilds ``items`` from the mask
- producer     = ht (sum of selected prices), n_items, category
- hist         = weighted 1-D histogram of ht per category

All operators are registry instances with declared uses/produces, so the
StageChain computes the used-column union and prunes the scan; the hist is
one groupBy aggregation.  No UDFs anywhere — the whole plan is Catalyst-
optimizable and shuffles exactly twice (collection build, hist agg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnflow_spark.core.artifacts import artifact
from columnflow_spark.functions import arrays as A
from columnflow_spark.hist import Variable, fill_hist
from columnflow_spark.operators import (
    SelectionResult,
    calibrator,
    producer,
    reducer,
    selector,
)
from columnflow_spark.operators.selection import apply_event_mask, rebuild_collection
from columnflow_spark.plans.stage import StageChain
from columnflow_spark.sources import load_table, spread

PRICE_SCALE = 1.02
QTY_CUT = 5.0
MIN_SELECTED = 2


@artifact("nested_events")
def build_nested_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested event table: one row per order with an ``items``
    array<struct> collection (the reference's event/Jet shape, SURVEY
    §1.1).  At 100 TB this groupBy is the one unavoidable shuffle; it
    hash-partitions by the event key, which every later per-event operator
    then reuses shuffle-free.

    Persisted session artifact — the in-session analog of the reference
    materializing ReduceEvents once and letting every downstream task
    reuse it (tasks/reduction.py:580 ProvideReducedEvents).  On a cluster
    the durable form of this reuse is tasks.py writing stage parquet; the
    persist() here serves interactive / bench sessions where many queries
    share the same intermediate."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount", "l_returnflag"],
    )
    # hash-spread on the event key: the collection build's struct assembly
    # then runs on all cores even when the scan has few input splits, and
    # the groupBy below reuses the same exchange (no second shuffle)
    li = spread(li, "l_orderkey")
    items = li.groupBy("l_orderkey").agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("l_linenumber").alias("linenumber"),
                    F.col("l_quantity").alias("qty"),
                    F.col("l_extendedprice").alias("price"),
                    F.col("l_discount").alias("discount"),
                    F.col("l_returnflag").alias("returnflag"),
                )
            )
        ).alias("items")
    )
    empty = F.array().cast(items.schema["items"].dataType)
    return (
        orders.join(items, F.col("o_orderkey") == F.col("l_orderkey"), "left")
        .drop("l_orderkey")
        .withColumn("items", F.coalesce(F.col("items"), empty))
        .persist()
    )


# --- operators (registered, with declared column sets) -----------------------

@calibrator(uses={"items.price"}, produces={"items.price"})
def price_scale(self, df: DataFrame) -> DataFrame:
    """JEC-analog: multiplicative correction of an object column
    (reference calibration/cms/jets.py:337)."""
    scale = self.inst_dict.get("scale", PRICE_SCALE)
    return df.withColumn("items", F.transform("items", lambda x: x.withField("price", x["price"] * F.lit(scale))))


@selector(uses={"items.qty"}, produces={"sel__event", "sel__step_min_items", "sel__obj_items__SelItem"})
def qty_selector(self, df: DataFrame):
    """Object mask + event mask, stored not applied (reference
    selection/example.py:100-175 SelectionResult semantics)."""
    obj_mask = F.transform("items", lambda x: x["qty"] >= F.lit(QTY_CUT))
    n_sel = F.size(F.filter(obj_mask, lambda m: m))
    res = SelectionResult(
        steps={"min_items": n_sel >= MIN_SELECTED},
        objects={"items": {"SelItem": obj_mask}},
    )
    return res.attach(df), res


@reducer(
    uses={"sel__event", "sel__obj_items__SelItem", "items"},
    produces={"SelItem"},
)
def cf_default_reduce(self, df: DataFrame) -> DataFrame:
    """Apply event mask + rebuild collection (reference
    reduction/default.py:48 ``cf_default``)."""
    return rebuild_collection(apply_event_mask(df), "items", "SelItem")


@producer(uses={"SelItem.price"}, produces={"ht", "n_items", "category"})
def features(self, df: DataFrame) -> DataFrame:
    """ht / n_items / category id (reference production/example.py:35,
    categories production/categories.py:31)."""
    return (
        df.withColumn("ht", A.asum(F.col("SelItem.price")))
        .withColumn("n_items", A.num(F.col("SelItem")))
        .withColumn(
            "category",
            F.when(F.col("n_items") >= 6, F.lit("cat_6plus")).otherwise(F.lit("cat_lt6")),
        )
    )


HT_VARIABLE = Variable("ht", "ht", (25, 0.0, 500000.0))


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = build_nested_events(spark, sf_dir)
    chain = StageChain(
        [price_scale(), qty_selector(), cf_default_reduce(), features()],
        keep=["o_orderkey"],
    )
    produced = chain.run(events)
    return fill_hist(produced, [HT_VARIABLE], categorical=["category"])


def write_reduced_store(
    spark: SparkSession,
    sf_dir: str,
    path: str,
    shifts: tuple[str, ...] = ("nominal", "price_up"),
    dataset: str = "orders",
) -> str:
    """Materialize the flagship pipeline's reduced events as the prunable
    ``dataset=…/shift=…`` hive store (SURVEY §7.3 step 7; the reference
    persists ReduceEvents output per (dataset, shift) as task-addressed
    files — tasks/reduction.py — and every downstream task reads exactly
    one slice).  On a cluster this layout is what turns a single-shift
    histogram pass over a 100 TB store into a scan of 1/N_shifts of it:
    the shift/dataset predicates resolve at PLANNING time against the
    directory listing (PartitionFilters), no file footer is even opened
    for pruned slices.  test_plan_quality pins that property.  Rebuilt on
    every call through ``sinks.replace_store``: staged, then swapped in
    with one rename."""
    from columnflow_spark.sources.sinks import replace_store, write_events

    events = build_nested_events(spark, sf_dir)
    slices = []
    for shift in shifts:
        # shifted calibration: the up-variation scales the correction —
        # the same operator chain, different inst_dict (reference shift
        # semantics: one task tree per shift)
        scale = PRICE_SCALE * (1.05 if shift.endswith("_up") else 1.0)
        chain = StageChain(
            [price_scale(scale=scale), qty_selector(), cf_default_reduce(), features()],
            keep=["o_orderkey"],
        )
        slices.append(
            chain.run(events)
            .withColumn("dataset", F.lit(dataset))
            .withColumn("shift", F.lit(shift))
        )
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return replace_store(path, lambda p: write_events(out, p, partition_by=("dataset", "shift")))
