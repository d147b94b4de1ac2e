"""Remaining CMS-flavored parity operators (SURVEY §2.3/§2.4/§2.8/§2.10):
MET-filter flag conjunction, golden-JSON run/lumi interval semi-join,
process-id enrichment, stitched normalization weights, MET propagation
through a calibration, collection sub-field extraction, and MLModel-style
per-fold evaluation — each with a DuckDB oracle.

All lookup tables here are tiny and broadcast; at 100 TB every join in
this module stays a broadcast-hash join (no shuffle of the event table).
"""

from __future__ import annotations

from functools import reduce
from operator import and_

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from columnflow_spark.pipeline_demo import build_nested_events
from columnflow_spark.queries import query
from columnflow_spark.sources import load_table
from columnflow_spark.sources.sinks import local_frame


# --- met_filters analog: AND of configured event-flag columns
# (reference selection/cms/met_filters.py:37 — the filter list is config,
# the operator is reduce(and_) over boolean columns) ---
_MET_FLAGS = [
    "o_totalprice < 400000.0",
    "o_orderstatus <> 'P'",
    "o_custkey % 97 <> 0",
]


@query(
    "met_filters_conjunction",
    oracle=f"""
    SELECT o_orderkey AS okey
    FROM orders
    WHERE ({_MET_FLAGS[0]}) AND ({_MET_FLAGS[1]}) AND ({_MET_FLAGS[2]})
    """,
)
def met_filters_conjunction(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders",
        columns=["o_orderkey", "o_totalprice", "o_orderstatus", "o_custkey"],
    )
    flags = [F.expr(e) for e in _MET_FLAGS]
    return orders.filter(reduce(and_, flags)).select(F.col("o_orderkey").alias("okey"))


# --- golden-JSON filter analog: keep (run, lumi) pairs inside certified
# ranges (reference selection/cms/json_filter.py:43).  The golden payload
# is a tiny per-run interval list -> broadcast interval semi-join; the
# event table is never shuffled. ---
def _golden_ranges() -> list[tuple[int, int, int]]:
    """Deterministic golden map: run -> certified [lo, hi] lumi ranges."""
    rows = []
    for run in range(20):
        if run % 2 == 0:
            rows.append((run, 1, 10))
            rows.append((run, 15, 25))
        else:
            rows.append((run, 5, 20))
    return rows


_GOLDEN_VALUES = ", ".join(f"({r}, {lo}, {hi})" for r, lo, hi in _golden_ranges())


@query(
    "golden_json_filter",
    oracle=f"""
    WITH ev AS (
        SELECT event_id, user_id % 20 AS run, 1 + (event_id % 28) AS lumi
        FROM events
    ),
    golden(run, lo, hi) AS (VALUES {_GOLDEN_VALUES})
    SELECT ev.event_id AS event_id, ev.run AS run, ev.lumi AS lumi
    FROM ev
    WHERE EXISTS (
        SELECT 1 FROM golden g
        WHERE g.run = ev.run AND ev.lumi BETWEEN g.lo AND g.hi
    )
    """,
)
def golden_json_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events", columns=["event_id", "user_id"]).select(
        "event_id",
        (F.col("user_id") % 20).alias("run"),
        (1 + F.col("event_id") % 28).alias("lumi"),
    )
    golden = F.broadcast(
        local_frame(ev.sparkSession, _golden_ranges(), "run long, lo long, hi long")
    )
    cond = (ev.run == golden.run) & ev.lumi.between(golden.lo, golden.hi)
    return ev.join(golden, cond, "left_semi")


# --- process_ids analog: enrich events with a process id from a small
# dataset->process lookup (reference production/processes.py:18; per-event
# constant or broadcast-matched) ---
_PROCESS_MAP = [
    ("1-URGENT", 110), ("2-HIGH", 120), ("3-MEDIUM", 130),
    ("4-NOT SPECIFIED", 140), ("5-LOW", 150),
]
_PROCESS_VALUES = ", ".join(f"('{k}', {v})" for k, v in _PROCESS_MAP)


@query(
    "process_ids_enrichment",
    oracle=f"""
    WITH pmap(o_orderpriority, process_id) AS (VALUES {_PROCESS_VALUES})
    SELECT p.process_id AS process_id,
           count(*) AS n_events,
           round(sum(o.o_totalprice), 4) AS sum_price
    FROM orders o JOIN pmap p USING (o_orderpriority)
    GROUP BY 1
    """,
)
def process_ids_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderpriority", "o_totalprice"])
    pmap = F.broadcast(
        local_frame(
            orders.sparkSession,
            _PROCESS_MAP, "o_orderpriority string, process_id long"
        )
    )
    return (
        orders.join(pmap, "o_orderpriority")
        .groupBy("process_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("o_totalprice"), 4).alias("sum_price"),
        )
    )


# --- stitched normalization weights: per-process weight from
# xsec x lumi / sum_weights, with overlapping phase-space datasets
# stitched via inclusive-dataset branching ratios (reference
# production/normalization.py:300 + get_br_from_inclusive_datasets:73).
# Two aggregation passes over tiny grouped tables + one broadcast join
# back onto events — the event table itself is never shuffled. ---
_XSEC = 1000.0
_LUMI = 2.0


@query(
    "normalization_stitched",
    oracle=f"""
    WITH stats AS (
        SELECT o_orderstatus, count(*) AS n, sum(o_totalprice / 100000.0) AS sum_w
        FROM orders GROUP BY 1
    ),
    total AS (SELECT sum(n) AS n_tot, sum(sum_w) AS w_tot FROM stats),
    br AS (
        SELECT s.o_orderstatus,
               s.n / CAST(t.n_tot AS DOUBLE) AS branching,
               s.sum_w AS sum_w
        FROM stats s CROSS JOIN total t
    )
    SELECT o.o_orderkey AS okey,
           round({_XSEC} * {_LUMI} * b.branching * (o.o_totalprice / 100000.0)
                 / b.sum_w, 4) AS norm_weight
    FROM orders o JOIN br b USING (o_orderstatus)
    """,
)
def normalization_stitched(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_orderstatus", "o_totalprice"]
    ).withColumn("mc_weight", F.col("o_totalprice") / 100000.0)
    stats = orders.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"), F.sum("mc_weight").alias("sum_w")
    )
    # the stats table is tiny (one row per sub-dataset): total + branching
    # ratios via a broadcast cross join, then broadcast back onto events
    total = stats.agg(F.sum("n").alias("n_tot"))
    br = stats.crossJoin(F.broadcast(total)).select(
        "o_orderstatus",
        (F.col("n") / F.col("n_tot").cast("double")).alias("branching"),
        "sum_w",
    )
    return orders.join(F.broadcast(br), "o_orderstatus").select(
        F.col("o_orderkey").alias("okey"),
        F.round(
            F.lit(_XSEC) * F.lit(_LUMI) * F.col("branching") * F.col("mc_weight")
            / F.col("sum_w"),
            4,
        ).alias("norm_weight"),
    )


# --- MET propagation through a calibration: met' = met - sum(delta
# transverse components of corrected objects) (reference
# calibration/util.py:42 sum_transverse, :60 propagate_met).  Pure
# higher-order array math inside the row — no shuffle at all. ---
_MET_SCALE = 1.05


@query(
    "met_propagation",
    oracle=f"""
    WITH obj AS (
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag,
               l_extendedprice / 1000.0 AS pt,
               l_discount * 50.0 AS phi
        FROM lineitem
    ),
    delta AS (
        -- fold in the EXACT order Spark's items array is sorted
        -- (array_sort struct order: linenumber, qty, price, discount,
        -- returnflag) via a sequential ordered-list aggregate — an
        -- unordered sum() can land a different last-ulp on the round-4
        -- knife edge (seen once at sf0.1)
        -- the scale literal is the PYTHON double repr of _MET_SCALE - 1.0:
        -- DuckDB's (1.05 - 1.0) is DECIMAL arithmetic (exactly 0.05) while
        -- Spark folds with the double 0.050000000000000044 — a ~1e-15
        -- per-term difference that re-opens the round-4 knife edge
        SELECT l_orderkey,
               list_aggregate(list({_MET_SCALE - 1.0!r}::DOUBLE * pt * cos(phi)
                   ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag),
                   'sum') AS dpx,
               list_aggregate(list({_MET_SCALE - 1.0!r}::DOUBLE * pt * sin(phi)
                   ORDER BY l_linenumber, l_quantity, l_extendedprice, l_discount, l_returnflag),
                   'sum') AS dpy
        FROM obj GROUP BY 1
    ),
    met AS (
        SELECT o_orderkey, o_totalprice / 10000.0 AS met_pt,
               CAST(o_orderkey AS DOUBLE) * CAST(0.7 AS DOUBLE) AS met_phi
        FROM orders
    )
    SELECT m.o_orderkey AS okey,
           round(sqrt(pow(m.met_pt * cos(m.met_phi) - coalesce(d.dpx, 0.0), 2)
                      + pow(m.met_pt * sin(m.met_phi) - coalesce(d.dpy, 0.0), 2))
                 * 10000) / 10000.0
               AS met_pt_corr
    FROM met m LEFT JOIN delta d ON d.l_orderkey = m.o_orderkey
    """,
)
def met_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = build_nested_events(spark, sf_dir)
    pt = lambda x: x["price"] / 1000.0  # noqa: E731
    phi = lambda x: x["discount"] * 50.0  # noqa: E731
    scale = F.lit(_MET_SCALE - 1.0)
    dpx = F.aggregate(
        "items", F.lit(0.0), lambda acc, x: acc + scale * pt(x) * F.cos(phi(x))
    )
    dpy = F.aggregate(
        "items", F.lit(0.0), lambda acc, x: acc + scale * pt(x) * F.sin(phi(x))
    )
    met_pt = F.col("o_totalprice") / 10000.0
    # no modulo: cos/sin are periodic, and DuckDB's fmod diverges from
    # C/Java fmod at exact-multiple boundaries (returns 0 vs ~y)
    met_phi = F.col("o_orderkey") * 0.7
    mx = met_pt * F.cos(met_phi) - dpx
    my = met_pt * F.sin(met_phi) - dpy
    # round via explicit scale-up: both engines then round the SAME double
    # (round(x, 4) diverges on decimal-boundary values — Spark rounds the
    # shortest decimal repr, DuckDB rounds in fp; seen once at sf0.1 where
    # the raw value landed exactly on a .00005 boundary)
    return events.select(
        F.col("o_orderkey").alias("okey"),
        (F.round(F.sqrt(mx * mx + my * my) * 10000, 0) / 10000.0).alias("met_pt_corr"),
    )


# --- ak_extract_fields analog: project a sub-record out of a collection
# and consume the extracted structs (reference production/util.py:57) ---
@query(
    "extract_collection_fields",
    oracle="""
    SELECT l_orderkey AS okey,
           count(*) AS n_obj,
           round(sum(l_extendedprice * (1.0 - l_discount)), 4) AS sum_net
    FROM lineitem
    GROUP BY 1
    """,
)
def extract_collection_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = build_nested_events(spark, sf_dir).filter(F.size("items") > 0)
    extracted = F.transform(
        "items",
        lambda x: F.struct(x["price"].alias("price"), x["discount"].alias("discount")),
    )
    ev = events.withColumn("slim", extracted)
    return ev.select(
        F.col("o_orderkey").alias("okey"),
        F.size("slim").alias("n_obj"),
        F.round(
            F.aggregate(
                "slim", F.lit(0.0), lambda acc, x: acc + x["price"] * (1.0 - x["discount"])
            ),
            4,
        ).alias("sum_net"),
    )


# --- MLModel.evaluate analog: per-fold linear model scored on held-out
# events; fold = deterministic_seed % k (reference ml/__init__.py:581
# evaluate + tasks/ml.py:221 fold split).  The per-fold weights are a
# broadcast map; scoring is whole-stage-codegen arithmetic. ---
_FOLD_W = {0: (0.8, -0.3), 1: (1.1, 0.2), 2: (0.5, 0.05)}
_FOLD_CASES = " ".join(
    f"WHEN {k} THEN {w0} * f1 + {w1} * f2" for k, (w0, w1) in _FOLD_W.items()
)


@query(
    "ml_evaluation_scores",
    oracle=f"""
    WITH feats AS (
        SELECT o_orderkey,
               o_orderkey % 3 AS fold,
               o_totalprice / 100000.0 AS f1,
               CAST(length(o_orderpriority) AS DOUBLE) AS f2
        FROM orders
    )
    SELECT o_orderkey AS okey, fold,
           round(1.0 / (1.0 + exp(-(CASE fold {_FOLD_CASES} END))), 4) AS score
    FROM feats
    """,
)
def ml_evaluation_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice", "o_orderpriority"]
    )
    feats = orders.select(
        "o_orderkey",
        (F.col("o_orderkey") % 3).alias("fold"),
        (F.col("o_totalprice") / 100000.0).alias("f1"),
        F.length("o_orderpriority").cast("double").alias("f2"),
    )
    lin = None
    for k, (w0, w1) in _FOLD_W.items():
        branch = F.lit(w0) * F.col("f1") + F.lit(w1) * F.col("f2")
        lin = F.when(F.col("fold") == k, branch) if lin is None else lin.when(
            F.col("fold") == k, branch
        )
    score = 1.0 / (1.0 + F.exp(-lin))
    return feats.select(
        F.col("o_orderkey").alias("okey"), "fold", F.round(score, 4).alias("score")
    )


# --- per-object scale-factor lookup + event weight product (reference
# muon_weights production/cms/muon.py:62 + all_weights
# histogramming/default.py:125): each object looks up a correction from a
# small binned SF table (broadcast — the event table never shuffles), and
# the event weight is the product over its objects.  Product-of-objects
# compiles to a HOF aggregate; the oracle uses DuckDB's product(). ---
# (qty_lo, qty_hi, sf) — correctionlib-style binned payload.  SF values
# are dyadic rationals (<= 3 mantissa bits): products of <= 7 of them are
# EXACT in IEEE double, so Spark's in-array fold and the oracle's product()
# agree bit-for-bit regardless of multiplication order.
_SF_BINS = [
    (0, 10, 0.75),
    (10, 25, 1.0),
    (25, 40, 1.25),
    (40, 1 << 30, 1.5),
]

@query(
    "object_sf_weights",
    oracle="""
    WITH sf(lo, hi, sf) AS (
        VALUES (0, 10, 0.75), (10, 25, 1.0), (25, 40, 1.25), (40, 1073741824, 1.5)
    ),
    per_obj AS (
        SELECT l.l_orderkey, s.sf AS osf
        FROM lineitem l
        JOIN sf s ON l.l_quantity >= s.lo AND l.l_quantity < s.hi
    ),
    per_event AS (
        SELECT l_orderkey, product(osf) AS w FROM per_obj GROUP BY l_orderkey
    )
    SELECT
        o.o_orderkey AS okey,
        round(coalesce(p.w, 1.0), 4) AS event_weight
    FROM orders o
    LEFT JOIN per_event p ON p.l_orderkey = o.o_orderkey
    """,
)
def object_sf_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = build_nested_events(spark, sf_dir)

    def obj_sf(x):
        e = F.lit(1.0)
        for lo, hi, s in _SF_BINS:
            e = F.when((x["qty"] >= lo) & (x["qty"] < hi), F.lit(s)).otherwise(e)
        return e

    weight = F.aggregate("items", F.lit(1.0), lambda acc, x: acc * obj_sf(x))
    return events.select(
        F.col("o_orderkey").alias("okey"),
        F.round(weight, 4).alias("event_weight"),
    )


# --- safe collection concatenation (reference ak_concatenate_safe
# columnar_util.py:1433): two sub-collections with harmonized fields merged
# back into one object array per event — concat is per-row, zero shuffle. ---
@query(
    "concat_collections",
    oracle="""
    SELECT
        o.o_orderkey AS okey,
        coalesce(s.n_all, 0) AS n_all,
        round(coalesce(s.total, 0.0), 4) AS total
    FROM orders o
    LEFT JOIN (
        SELECT l_orderkey,
               count(*) AS n_all,
               sum(CASE WHEN l_returnflag = 'R' THEN l_extendedprice * 1.1
                        ELSE l_extendedprice END) AS total
        FROM lineitem
        WHERE l_returnflag IN ('R', 'A')
        GROUP BY l_orderkey
    ) s ON s.l_orderkey = o.o_orderkey
    """,
)
def concat_collections(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = build_nested_events(spark, sf_dir)
    # two typed sub-collections (returned / accepted) with a field adjusted
    # on one side, then ak_concatenate_safe back into a single array
    returned = F.transform(
        F.filter("items", lambda x: x["returnflag"] == "R"),
        lambda x: x.withField("price", x["price"] * 1.1),
    )
    accepted = F.filter("items", lambda x: x["returnflag"] == "A")
    merged = F.concat(returned, accepted)
    return events.select(
        F.col("o_orderkey").alias("okey"),
        F.size(merged).alias("n_all"),
        F.round(F.aggregate(merged, F.lit(0.0), lambda a, x: a + x["price"]), 4).alias("total"),
    )


# --- MLModel training (reference ml/__init__.py:555 train + k-fold split
# tasks/ml.py:221): closed-form linear model fit per fold, entirely as
# DataFrame aggregation — the normal equations' sufficient statistics
# (X'X, X'y) are ONE partial-aggregated groupBy over the events (the same
# shape as a histogram fill), and the 3x3 solve is Cramer's rule applied
# to the tiny per-fold table.  At 100 TB this trains in a single pass
# with no collect of training data.  Features/targets are pre-scaled to
# integer-valued doubles so both engines aggregate exactly; the Cramer
# formulas are written with identical operation order on both sides, so
# IEEE-754 determinism makes the coefficients agree bit-for-bit. ---
def _det3(a11, a12, a13, a21, a22, a23, a31, a32, a33):
    """3x3 determinant with a fixed operation order (works for Columns,
    floats, and SQL strings via operator overloading / formatting)."""
    return (
        a11 * (a22 * a33 - a23 * a32)
        - a12 * (a21 * a33 - a23 * a31)
        + a13 * (a21 * a32 - a22 * a31)
    )


class _S(str):
    """SQL snippet with Python arithmetic operators, so _det3 renders the
    exact same expression tree it builds for Spark Columns."""

    def __mul__(self, o):
        return _S(f"({self} * {o})")

    def __sub__(self, o):
        return _S(f"({self} - {o})")

    def __add__(self, o):
        return _S(f"({self} + {o})")


_LINREG_SQL_DETS = {}


def _linreg_sql() -> str:
    s = {k: _S(k) for k in ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")}
    det = _det3(s["n"], s["s1"], s["s2"], s["s1"], s["s11"], s["s12"], s["s2"], s["s12"], s["s22"])
    det0 = _det3(s["sy"], s["s1"], s["s2"], s["s1y"], s["s11"], s["s12"], s["s2y"], s["s12"], s["s22"])
    det1 = _det3(s["n"], s["sy"], s["s2"], s["s1"], s["s1y"], s["s12"], s["s2"], s["s2y"], s["s22"])
    det2 = _det3(s["n"], s["s1"], s["sy"], s["s1"], s["s11"], s["s1y"], s["s2"], s["s12"], s["s2y"])
    return f"""
    WITH feat AS (
        SELECT
            l_orderkey % 4 AS fold,
            CAST(l_quantity AS DOUBLE) AS x1,
            round(l_discount * 100, 0) AS x2,
            round(l_extendedprice * 100, 0) AS y
        FROM lineitem
    ),
    suff AS MATERIALIZED (
        SELECT fold,
            CAST(count(*) AS DOUBLE) AS n,
            sum(x1) AS s1, sum(x2) AS s2,
            sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
            sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
        FROM feat GROUP BY fold
    )
    SELECT fold,
           CAST(n AS BIGINT) AS n_rows,
           round({det0} / {det}, 4) AS beta0,
           round({det1} / {det}, 4) AS beta1,
           round({det2} / {det}, 4) AS beta2
    FROM suff
    """


@query("ml_train_linreg", oracle=_linreg_sql())
def ml_train_linreg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_quantity", "l_discount", "l_extendedprice"],
    )
    feat = li.select(
        (F.col("l_orderkey") % 4).alias("fold"),
        F.col("l_quantity").cast("double").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).alias("x2"),
        F.round(F.col("l_extendedprice") * 100, 0).alias("y"),
    )
    suff = feat.groupBy("fold").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
    )
    c = {k: F.col(k) for k in ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")}
    det = _det3(c["n"], c["s1"], c["s2"], c["s1"], c["s11"], c["s12"], c["s2"], c["s12"], c["s22"])
    det0 = _det3(c["sy"], c["s1"], c["s2"], c["s1y"], c["s11"], c["s12"], c["s2y"], c["s12"], c["s22"])
    det1 = _det3(c["n"], c["sy"], c["s2"], c["s1"], c["s1y"], c["s12"], c["s2"], c["s2y"], c["s22"])
    det2 = _det3(c["n"], c["s1"], c["sy"], c["s1"], c["s11"], c["s1y"], c["s2"], c["s12"], c["s2y"])
    return suff.select(
        "fold",
        c["n"].cast("long").alias("n_rows"),
        F.round(det0 / det, 4).alias("beta0"),
        F.round(det1 / det, 4).alias("beta1"),
        F.round(det2 / det, 4).alias("beta2"),
    )


def _ml_interface_sql() -> str:
    """Oracle twin of the MLModel interface path (ml.py LinregDemo):
    content-derived 3-fold split, per-fold closed-form fit on the fold's
    complement (as total-minus-fold sums — exact, the features are
    integer-valued doubles), then held-out scoring.  Shares the exact
    determinant expression tree with the Python artifact math."""
    names = ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")
    comp = {k: _S(k) for k in names}
    det = _det3(comp["n"], comp["s1"], comp["s2"], comp["s1"], comp["s11"], comp["s12"], comp["s2"], comp["s12"], comp["s22"])
    det0 = _det3(comp["sy"], comp["s1"], comp["s2"], comp["s1y"], comp["s11"], comp["s12"], comp["s2y"], comp["s12"], comp["s22"])
    det1 = _det3(comp["n"], comp["sy"], comp["s2"], comp["s1"], comp["s1y"], comp["s12"], comp["s2"], comp["s2y"], comp["s22"])
    det2 = _det3(comp["n"], comp["s1"], comp["sy"], comp["s1"], comp["s11"], comp["s1y"], comp["s2"], comp["s12"], comp["s2y"])
    sums = ", ".join(
        [
            "CAST(count(*) AS DOUBLE) AS n",
            "sum(x1) AS s1", "sum(x2) AS s2",
            "sum(x1 * x1) AS s11", "sum(x1 * x2) AS s12", "sum(x2 * x2) AS s22",
            "sum(y) AS sy", "sum(x1 * y) AS s1y", "sum(x2 * y) AS s2y",
        ]
    )
    comp_cols = ", ".join(f"t.{k} - s.{k} AS {k}" for k in names)
    return f"""
    WITH feat AS (
        SELECT l_orderkey,
               ('0x' || substring(sha256(concat_ws('|',
                   CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR))), 1, 15))::BIGINT % 3 AS fold,
               CAST(l_quantity AS DOUBLE) AS x1,
               round(l_discount * 100, 0) AS x2,
               round(l_extendedprice * 100, 0) AS y
        FROM lineitem
    ),
    suff AS (SELECT fold, {sums} FROM feat GROUP BY fold),
    tot AS (SELECT {sums} FROM feat),
    comp AS (SELECT s.fold, {comp_cols} FROM suff s CROSS JOIN tot t),
    beta AS (
        SELECT fold, {det0} / {det} AS beta0, {det1} / {det} AS beta1, {det2} / {det} AS beta2
        FROM comp
    )
    SELECT f.l_orderkey AS okey, f.fold, f.x1, f.x2,
           round(b.beta0 + b.beta1 * f.x1 + b.beta2 * f.x2, 4) AS score
    FROM feat f JOIN beta b ON f.fold = b.fold
    WHERE f.l_orderkey < 1000
    """


@query("ml_interface_scores", oracle=_ml_interface_sql())
def ml_interface_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MLModel lifecycle end-to-end (reference ml/__init__.py:555 train,
    :581 evaluate; MLTraining/MLEvaluation tasks): k-fold train via the
    class interface, artifacts round-tripped through the per-fold parquet
    sinks (save_model/open_model), held-out-fold scoring compiled to a
    literal when-chain.  The betas travel driver-side as three doubles;
    everything else stays distributed."""
    from columnflow_spark.ml import get_ml_model
    from columnflow_spark.queries.streaming import scratch_dirs

    model = get_ml_model("LinregDemo")()
    li = load_table(spark, sf_dir, "lineitem", columns=sorted(model.uses()))
    with scratch_dirs("mlmodel") as (out_dir,):
        model.run_training(spark, li, output_dir=out_dir)
        # models=None: reload the fold artifacts from the sink outputs
        # (read driver-side, so the scored frame never touches out_dir)
        scored = model.run_evaluation(spark, li, models=None, output_dir=out_dir)
    return scored.filter(F.col("l_orderkey") < 1000).select(
        F.col("l_orderkey").alias("okey"), "fold", "x1", "x2", F.round("score", 4).alias("score")
    )


# --- ML evaluation plot tables (reference plotting/plot_ml_evaluation.py:
# plot_cm :79 and plot_roc :319): the confusion matrix and the ROC sweep
# are COMPUTE over the scored events — they belong on the cluster; the
# draw steps are render_heatmap_2d (the CM is literally a 2-D cell map)
# and plotting.render_roc.  Scores reuse the ml_evaluation_scores model;
# truth = "high-value order" (o_totalprice > 150000). ---
_ML_TRUTH_SQL = "CAST(o_totalprice > 150000.0 AS INT)"
_ML_SCORE_SQL = f"1.0 / (1.0 + exp(-(CASE fold {_FOLD_CASES} END)))"
_ML_FEATS_CTE = """
    feats AS (
        SELECT o_orderkey, o_totalprice,
               o_orderkey % 3 AS fold,
               o_totalprice / 100000.0 AS f1,
               CAST(length(o_orderpriority) AS DOUBLE) AS f2
        FROM orders
    )
"""


@query(
    "ml_confusion_matrix",
    oracle=f"""
    WITH {_ML_FEATS_CTE},
    scored AS (
        SELECT {_ML_TRUTH_SQL} AS y_true,
               CAST({_ML_SCORE_SQL} >= 0.5 AS INT) AS y_pred
        FROM feats
    ),
    cm AS (SELECT y_true, y_pred, count(*) AS n FROM scored GROUP BY 1, 2)
    SELECT y_true, y_pred, n,
           round(n * 1.0 / sum(n) OVER (PARTITION BY y_true), 4) AS row_share
    FROM cm ORDER BY y_true, y_pred
    """,
)
def ml_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-normalized confusion matrix of the k-fold model vs the
    high-value-order truth — one grouped pass; renders directly with
    render_heatmap_2d (y_true x y_pred cells weighted by row_share)."""
    scored = _ml_scored(spark, sf_dir)
    cm = scored.groupBy("y_true", "y_pred").agg(F.count(F.lit(1)).alias("n"))
    from pyspark.sql import Window as W

    w = W.partitionBy("y_true")
    return cm.select(
        "y_true",
        "y_pred",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(w), 4).alias("row_share"),
    ).orderBy("y_true", "y_pred")


def _ml_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(
        spark, sf_dir, "orders", columns=["o_orderkey", "o_totalprice", "o_orderpriority"]
    )
    feats = orders.select(
        "o_totalprice",
        (F.col("o_orderkey") % 3).alias("fold"),
        (F.col("o_totalprice") / 100000.0).alias("f1"),
        F.length("o_orderpriority").cast("double").alias("f2"),
    )
    lin = None
    for k, (w0, w1) in _FOLD_W.items():
        branch = F.lit(w0) * F.col("f1") + F.lit(w1) * F.col("f2")
        lin = F.when(F.col("fold") == k, branch) if lin is None else lin.when(
            F.col("fold") == k, branch
        )
    score = 1.0 / (1.0 + F.exp(-lin))
    return feats.select(
        (F.col("o_totalprice") > 150000.0).cast("int").alias("y_true"),
        (score >= 0.5).cast("int").alias("y_pred"),
        score.alias("score"),
    )


@query(
    "ml_roc_curve",
    oracle=f"""
    WITH {_ML_FEATS_CTE},
    scored AS (
        SELECT {_ML_TRUTH_SQL} AS y, {_ML_SCORE_SQL} AS score FROM feats
    ),
    binned AS (
        SELECT least(CAST(floor(score * 100) AS INT), 100) AS b,
               count(*) FILTER (y = 1) AS pos,
               count(*) FILTER (y = 0) AS neg
        FROM scored GROUP BY 1
    ),
    sweep AS (
        SELECT b,
               sum(pos) OVER (ORDER BY b DESC) AS tp,
               sum(neg) OVER (ORDER BY b DESC) AS fp,
               sum(pos) OVER () AS p_tot,
               sum(neg) OVER () AS n_tot
        FROM binned
    )
    SELECT round(b / 100.0, 2) AS thr,
           round(tp * 1.0 / p_tot, 4) AS tpr,
           round(fp * 1.0 / n_tot, 4) AS fpr
    FROM sweep ORDER BY thr
    """,
)
def ml_roc_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC sweep via one grouped pass + a window over the (<=101-row)
    threshold-bin table: per score centile, the TPR/FPR of predicting
    positive at score >= threshold.  The corpus is aggregated once; the
    cumulative sweep never touches event rows (the classic distributed
    ROC shape — same two-phase pattern as pack_sequences)."""
    from pyspark.sql import Window as W

    scored = _ml_scored(spark, sf_dir)
    binned = scored.groupBy(
        F.least(F.floor(F.col("score") * 100).cast("int"), F.lit(100)).alias("b")
    ).agg(
        F.count_if(F.col("y_true") == 1).alias("pos"),
        F.count_if(F.col("y_true") == 0).alias("neg"),
    )
    wd = W.orderBy(F.desc("b")).rowsBetween(W.unboundedPreceding, W.currentRow)
    wt = W.partitionBy()
    sweep = binned.select(
        "b",
        F.sum("pos").over(wd).alias("tp"),
        F.sum("neg").over(wd).alias("fp"),
        F.sum("pos").over(wt).alias("p_tot"),
        F.sum("neg").over(wt).alias("n_tot"),
    )
    return sweep.select(
        F.round(F.col("b") / 100.0, 2).alias("thr"),
        F.round(F.col("tp") * 1.0 / F.col("p_tot"), 4).alias("tpr"),
        F.round(F.col("fp") * 1.0 / F.col("n_tot"), 4).alias("fpr"),
    ).orderBy("thr")


# --- theory-uncertainty weight family (reference production/cms/pdf.py:46
# pdf_weights, scale.py:178 murmuf_envelope_weights, top_pt_weight.py:60):
# per-event envelopes over a replica-weight vector.  The replica vector is
# derived in-row from the embeddings table (the LHEPdfWeight analog); every
# op below is a pure projection — zero shuffle, trivially scale-safe.
# Replica weights are built as 1 + x/8 (division by a power of two is exact
# in IEEE-754, so both engines see bit-identical doubles before the
# envelope math). ---

# number of variations entering the pdf envelope (reference takes the
# first 100 of 101 replicas; embeddings carry 64 -> nominal + 48 of 63)
_PDF_N_VAR = 48
# 1-based positions of the 16th / 84th percentile entries in the sorted
# variation vector (reference pdf.py:156: indices 15/83 of 100, 0-based)
_PDF_P16 = 8
_PDF_P84 = 40
_PDF_OUTLIER = 0.5  # outlier_threshold with outlier_action="remove"


@query(
    "pdf_weight_envelope",
    oracle=f"""
    WITH w AS (
        SELECT
            vec_id,
            1.0 + CAST(embedding[1] AS DOUBLE) / 8 AS nom,
            list_sort([
                (1.0 + CAST(x AS DOUBLE) / 8) / (1.0 + CAST(embedding[1] AS DOUBLE) / 8)
                FOR x IN embedding[2:{_PDF_N_VAR + 1}]
            ]) AS vars
        FROM embeddings
    ),
    s AS (
        SELECT
            vec_id,
            (vars[{_PDF_P84}] - vars[{_PDF_P16}]) / 2 AS stddev
        FROM w
    )
    SELECT
        vec_id,
        CASE WHEN stddev > {_PDF_OUTLIER} THEN 0.0 ELSE 1.0 END AS pdf_weight,
        CASE WHEN stddev > {_PDF_OUTLIER} THEN 0.0
             ELSE round(1.0 + stddev, 4) END AS pdf_weight_up,
        CASE WHEN stddev > {_PDF_OUTLIER} THEN 0.0
             ELSE round(1.0 - stddev, 4) END AS pdf_weight_down
    FROM s
    """,
)
def pdf_weight_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF uncertainty envelope (reference production/cms/pdf.py:147-166):
    normalize replica weights by the nominal (first) entry, sort, take half
    the width of the central 68% interval as the symmetric uncertainty, and
    zero out outlier events (outlier_action="remove", pdf.py:178)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    nom = F.lit(1.0) + F.element_at("embedding", 1).cast("double") / 8
    variations = F.array_sort(
        F.transform(
            F.slice("embedding", 2, _PDF_N_VAR),
            lambda x: (F.lit(1.0) + x.cast("double") / 8) / nom,
        )
    )
    stddev = (
        F.element_at(variations, _PDF_P84) - F.element_at(variations, _PDF_P16)
    ) / 2
    out = emb.select(F.col("vec_id"), stddev.alias("stddev"))
    bad = F.col("stddev") > _PDF_OUTLIER
    return out.select(
        "vec_id",
        F.when(bad, F.lit(0.0)).otherwise(F.lit(1.0)).alias("pdf_weight"),
        F.when(bad, F.lit(0.0)).otherwise(F.round(F.lit(1.0) + F.col("stddev"), 4)).alias("pdf_weight_up"),
        F.when(bad, F.lit(0.0)).otherwise(F.round(F.lit(1.0) - F.col("stddev"), 4)).alias("pdf_weight_down"),
    )


# 1-based positions of the 3x3 mur/muf grid entries that enter the envelope
# (reference scale.py:183-191: all combos except the two anti-correlated
# extremes mur_down_muf_up / mur_up_muf_down); position 5 is the nominal.
_MURMUF_ENVELOPE_POS = (1, 2, 4, 5, 6, 8, 9)
_MURMUF_NOM_POS = 5


@query(
    "murmuf_envelope",
    oracle=f"""
    WITH w AS (
        SELECT
            vec_id,
            [
                (1.0 + CAST(embedding[p] AS DOUBLE) / 8) / (1.0 + CAST(embedding[{_MURMUF_NOM_POS}] AS DOUBLE) / 8)
                FOR p IN {list(_MURMUF_ENVELOPE_POS)}
            ] AS murf
        FROM embeddings
    )
    SELECT
        vec_id,
        1.0 AS murmuf_envelope_weight,
        round(list_min(murf), 4) AS murmuf_envelope_weight_down,
        round(list_max(murf), 4) AS murmuf_envelope_weight_up
    FROM w
    """,
)
def murmuf_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mur/muf scale envelope (reference production/cms/scale.py:193-209):
    min/max per event over the 7 renormalization/factorization-scale combos
    that exclude the anti-correlated extremes, normalized to the central
    combo (scale.py:86)."""
    emb = load_table(spark, sf_dir, "embeddings", columns=["vec_id", "embedding"])
    nom = F.lit(1.0) + F.element_at("embedding", _MURMUF_NOM_POS).cast("double") / 8
    murf = F.array(
        *[
            (F.lit(1.0) + F.element_at("embedding", p).cast("double") / 8) / nom
            for p in _MURMUF_ENVELOPE_POS
        ]
    )
    return emb.select(
        "vec_id",
        F.lit(1.0).alias("murmuf_envelope_weight"),
        F.round(F.array_min(murf), 4).alias("murmuf_envelope_weight_down"),
        F.round(F.array_max(murf), 4).alias("murmuf_envelope_weight_up"),
    )


# data-based top-pt reweighting fit parameters (reference
# top_pt_weight.py:33 TopPtWeightFromDataConfig defaults; public CMS
# TopPtReweighting twiki values) with a pt cap of 500
_TOP_PT_PARAMS = {"a": 0.0615, "a_up": 0.0725, "a_down": 0.0505,
                  "b": -0.0005, "b_up": -0.0006, "b_down": -0.0004}
_TOP_PT_MAX = 500.0


@query(
    "top_pt_weight",
    oracle=f"""
    WITH tops AS (
        SELECT
            l_orderkey AS okey,
            least(l_quantity * 10.0, {_TOP_PT_MAX}) AS pt,
            row_number() OVER (
                PARTITION BY l_orderkey ORDER BY l_linenumber
            ) AS rn
        FROM lineitem
    ),
    pairs AS (
        SELECT
            okey,
            max(CASE WHEN rn = 1 THEN pt END) AS pt1,
            max(CASE WHEN rn = 2 THEN pt END) AS pt2
        FROM tops
        GROUP BY okey
        HAVING count(*) = 2
    )
    SELECT
        okey,
        round(sqrt(exp({_TOP_PT_PARAMS["a"]} + {_TOP_PT_PARAMS["b"]} * pt1)
                 * exp({_TOP_PT_PARAMS["a"]} + {_TOP_PT_PARAMS["b"]} * pt2)), 4)
            AS top_pt_weight,
        round(sqrt(exp({_TOP_PT_PARAMS["a_up"]} + {_TOP_PT_PARAMS["b_up"]} * pt1)
                 * exp({_TOP_PT_PARAMS["a_up"]} + {_TOP_PT_PARAMS["b_up"]} * pt2)), 4)
            AS top_pt_weight_up,
        round(sqrt(exp({_TOP_PT_PARAMS["a_down"]} + {_TOP_PT_PARAMS["b_down"]} * pt1)
                 * exp({_TOP_PT_PARAMS["a_down"]} + {_TOP_PT_PARAMS["b_down"]} * pt2)), 4)
            AS top_pt_weight_down
    FROM pairs
    """,
)
def top_pt_weight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-pt reweighting, data-based method (reference
    production/cms/top_pt_weight.py:60-115): SF(pt) = exp(a + b*pt) per
    generator top with pt capped at 500, event weight = sqrt of the product
    over the two tops, with up/down fit-parameter variations.  The two
    "tops" are the first two objects of each event's collection; events
    without exactly two are skipped (the reference raises there — same
    event set).  Pure in-row math on the nested table: zero shuffle."""
    events = build_nested_events(spark, sf_dir)
    two = events.filter(F.size("items") == 2)
    pt = lambda i: F.least(  # noqa: E731
        F.element_at("items", i)["qty"] * 10.0, F.lit(_TOP_PT_MAX)
    )
    cols = {"okey": F.col("o_orderkey")}
    for variation in ("", "_up", "_down"):
        a = F.lit(_TOP_PT_PARAMS[f"a{variation}" if variation else "a"])
        b = F.lit(_TOP_PT_PARAMS[f"b{variation}" if variation else "b"])
        sf1 = F.exp(a + b * pt(1))
        sf2 = F.exp(a + b * pt(2))
        cols[f"top_pt_weight{variation}"] = F.round(F.sqrt(sf1 * sf2), 4)
    return two.select(*[v.alias(k) for k, v in cols.items()])


# per-object b-tag-style scale factors keyed by qty bins; values are exact
# binary fractions so per-event products and per-group sums are exact
# dyadic rationals in IEEE double -> both engines agree bit-for-bit before
# the final rounding (same trick as ml_train_linreg's integer scaling)
_BTAG_SF_BINS = [
    (0.0, 10.0, 0.875),
    (10.0, 25.0, 1.0),
    (25.0, 40.0, 1.125),
    (40.0, 1e18, 1.25),
]


@query(
    "btag_weight_normalized",
    oracle=f"""
    WITH ev AS (
        SELECT
            l_orderkey AS okey,
            count(*) AS n_obj,
            product(CASE
                WHEN l_quantity >= 0.0 AND l_quantity < 10.0 THEN 0.875
                WHEN l_quantity >= 10.0 AND l_quantity < 25.0 THEN 1.0
                WHEN l_quantity >= 25.0 AND l_quantity < 40.0 THEN 1.125
                ELSE 1.25 END) AS btag_weight
        FROM lineitem
        GROUP BY l_orderkey
    ),
    norm AS (
        SELECT n_obj, count(*) * 1.0 / sum(btag_weight) AS ratio
        FROM ev
        GROUP BY n_obj
    )
    SELECT
        ev.okey,
        round(ev.btag_weight, 4) AS btag_weight,
        round(ev.btag_weight * norm.ratio, 4) AS btag_weight_normalized
    FROM ev JOIN norm USING (n_obj)
    """,
)
def btag_weight_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized b-tag weights (reference production/cms/btag.py:83
    btag_weights + the standard per-multiplicity renormalization that keeps
    the btag SF product from changing yields: ratio = sum(w_before) /
    sum(w_before * btag_weight) per object-multiplicity bin, applied back
    per event).  Two-phase distributed shape: (1) in-row SF product over
    the collection, (2) a tiny per-multiplicity aggregate (<= ~7 rows)
    broadcast-joined back — the event table is never shuffled."""
    events = build_nested_events(spark, sf_dir)

    def sf(x):
        e = F.lit(_BTAG_SF_BINS[-1][2])
        for lo, hi, s in _BTAG_SF_BINS[:-1]:
            e = F.when((x["qty"] >= lo) & (x["qty"] < hi), F.lit(s)).otherwise(e)
        return e

    ev = events.filter(F.size("items") > 0).select(
        F.col("o_orderkey").alias("okey"),
        F.size("items").alias("n_obj"),
        F.aggregate("items", F.lit(1.0), lambda acc, x: acc * sf(x)).alias("btag_weight"),
    )
    norm = ev.groupBy("n_obj").agg(
        (F.count("*") * F.lit(1.0) / F.sum("btag_weight")).alias("ratio")
    )
    return ev.join(F.broadcast(norm), "n_obj").select(
        "okey",
        F.round("btag_weight", 4).alias("btag_weight"),
        F.round(F.col("btag_weight") * F.col("ratio"), 4).alias("btag_weight_normalized"),
    )


# --- ridge model selection (MLModel lifecycle extension): a lambda grid
# of L2-regularized linear models trained from ONE sufficient-statistics
# pass (the same normal-equations aggregation as ml_train_linreg — ridge
# only adds lambda to the x'x diagonal, so every candidate model is
# driver-free algebra over the same tiny stats rows), validated on a
# held-out split with the SSE expanded in the SAME sufficient statistics
# (sy2 etc.), so model selection never rescans data.  All features are
# integer-valued doubles bounded so every sum (including sum(y^2)) stays
# under 2^53 — bit-exact on both engines, making even the is_best
# comparison engine-stable. ---
_RIDGE_LAMBDAS = (0.0, 100.0, 10000.0)


def _ridge_sse(b0, b1, b2, st):
    """Validation SSE from sufficient stats, fixed operation order."""
    return (
        st["vy2"]
        + (b0 * b0) * st["vn"]
        + (b1 * b1) * st["v11"]
        + (b2 * b2) * st["v22"]
        + ((b0 * b1) * st["v1"]) * 2.0
        + ((b0 * b2) * st["v2"]) * 2.0
        + ((b1 * b2) * st["v12"]) * 2.0
        - (b0 * st["vy"]) * 2.0
        - (b1 * st["v1y"]) * 2.0
        - (b2 * st["v2y"]) * 2.0
    )


def _ridge_sql() -> str:
    t = {k: _S(f"t.{k}") for k in ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")}
    lam = _S("l.lam")
    a11 = t["s11"] + lam
    a22 = t["s22"] + lam
    det = _det3(t["n"], t["s1"], t["s2"], t["s1"], a11, t["s12"], t["s2"], t["s12"], a22)
    det0 = _det3(t["sy"], t["s1"], t["s2"], t["s1y"], a11, t["s12"], t["s2y"], t["s12"], a22)
    det1 = _det3(t["n"], t["sy"], t["s2"], t["s1"], t["s1y"], t["s12"], t["s2"], t["s2y"], a22)
    det2 = _det3(t["n"], t["s1"], t["sy"], t["s1"], a11, t["s1y"], t["s2"], t["s12"], t["s2y"])
    b0, b1, b2 = f"(({det0}) / ({det}))", f"(({det1}) / ({det}))", f"(({det2}) / ({det}))"
    v = {
        "vn": _S("v.n"), "v1": _S("v.s1"), "v2": _S("v.s2"), "v11": _S("v.s11"),
        "v12": _S("v.s12"), "v22": _S("v.s22"), "vy": _S("v.sy"),
        "v1y": _S("v.s1y"), "v2y": _S("v.s2y"), "vy2": _S("v.sy2"),
    }
    sse = _ridge_sse(_S(b0), _S(b1), _S(b2), v)
    return f"""
    WITH feat AS (
        SELECT
            CASE WHEN l_orderkey % 4 < 3 THEN 'train' ELSE 'val' END AS split,
            CAST(l_quantity AS DOUBLE) AS x1,
            round(l_discount * 100, 0) AS x2,
            round(l_extendedprice / 100, 0) AS y
        FROM lineitem
    ),
    suff AS MATERIALIZED (
        SELECT split,
            CAST(count(*) AS DOUBLE) AS n,
            sum(x1) AS s1, sum(x2) AS s2,
            sum(x1 * x1) AS s11, sum(x1 * x2) AS s12, sum(x2 * x2) AS s22,
            sum(y) AS sy, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y,
            sum(y * y) AS sy2
        FROM feat GROUP BY split
    ),
    grid AS (
        SELECT * FROM (VALUES {", ".join(f"({x})" for x in _RIDGE_LAMBDAS)}) AS g(lam)
    ),
    models AS MATERIALIZED (
        SELECT l.lam,
               {b0} AS beta0, {b1} AS beta1, {b2} AS beta2,
               {sse} AS sse
        FROM (SELECT * FROM suff WHERE split = 'train') t
        CROSS JOIN (SELECT * FROM suff WHERE split = 'val') v
        CROSS JOIN grid l
    )
    SELECT lam,
           round(beta0, 4) AS beta0,
           round(beta1, 4) AS beta1,
           round(beta2, 4) AS beta2,
           round(sse / 1000.0, 4) AS val_sse_k,
           CASE WHEN sse = (SELECT min(sse) FROM models) THEN 1 ELSE 0 END AS is_best
    FROM models
    ORDER BY lam
    """


@query("ml_ridge_model_selection", oracle=_ridge_sql())
def ml_ridge_model_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_quantity", "l_discount", "l_extendedprice"],
    )
    feat = li.select(
        F.when(F.col("l_orderkey") % 4 < 3, "train").otherwise("val").alias("split"),
        F.col("l_quantity").cast("double").alias("x1"),
        F.round(F.col("l_discount") * 100, 0).alias("x2"),
        F.round(F.col("l_extendedprice") / 100, 0).alias("y"),
    )
    suff = feat.groupBy("split").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x1").alias("s1"), F.sum("x2").alias("s2"),
        F.sum(F.col("x1") * F.col("x1")).alias("s11"),
        F.sum(F.col("x1") * F.col("x2")).alias("s12"),
        F.sum(F.col("x2") * F.col("x2")).alias("s22"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("y")).alias("s1y"),
        F.sum(F.col("x2") * F.col("y")).alias("s2y"),
        F.sum(F.col("y") * F.col("y")).alias("sy2"),
    )
    train = suff.filter(F.col("split") == "train").drop("split")
    val = suff.filter(F.col("split") == "val").drop("split")
    val = val.select(*[F.col(c).alias(f"v_{c}") for c in val.columns])
    grid = local_frame(spark, [(x,) for x in _RIDGE_LAMBDAS], "lam double")
    m = train.crossJoin(F.broadcast(val)).crossJoin(F.broadcast(grid))
    t = {k: F.col(k) for k in ("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y")}
    lam = F.col("lam")
    a11, a22 = t["s11"] + lam, t["s22"] + lam
    det = _det3(t["n"], t["s1"], t["s2"], t["s1"], a11, t["s12"], t["s2"], t["s12"], a22)
    det0 = _det3(t["sy"], t["s1"], t["s2"], t["s1y"], a11, t["s12"], t["s2y"], t["s12"], a22)
    det1 = _det3(t["n"], t["sy"], t["s2"], t["s1"], t["s1y"], t["s12"], t["s2"], t["s2y"], a22)
    det2 = _det3(t["n"], t["s1"], t["sy"], t["s1"], a11, t["s1y"], t["s2"], t["s12"], t["s2y"])
    b0, b1, b2 = det0 / det, det1 / det, det2 / det
    v = {
        "vn": F.col("v_n"), "v1": F.col("v_s1"), "v2": F.col("v_s2"),
        "v11": F.col("v_s11"), "v12": F.col("v_s12"), "v22": F.col("v_s22"),
        "vy": F.col("v_sy"), "v1y": F.col("v_s1y"), "v2y": F.col("v_s2y"),
        "vy2": F.col("v_sy2"),
    }
    sse = _ridge_sse(b0, b1, b2, v)
    models = m.select(
        "lam",
        F.round(b0, 4).alias("beta0"),
        F.round(b1, 4).alias("beta1"),
        F.round(b2, 4).alias("beta2"),
        F.round(sse / 1000.0, 4).alias("val_sse_k"),
        sse.alias("_sse"),
    )
    wmin = W.partitionBy()
    return (
        models.withColumn(
            "is_best", (F.col("_sse") == F.min("_sse").over(wmin)).cast("int")
        )
        .drop("_sse")
        .orderBy("lam")
    )
