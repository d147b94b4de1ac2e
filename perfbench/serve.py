"""``serve_mixed``: one closed-loop client on stores it builds.

The run builds the stores on the measured input in a fresh session: the
IVF-PQ index and an ingest copy of it over the even vector ids
(``index_build_s``).  The client then sends fixed cycles of 5 requests,
each only after the previous one returned: one write in five, and one
read of each of four kinds.  The first cycle is cold: the first request
of a kind compiles its code path and builds its session artifacts.

- reads: ``annindex.search_ivfpq_index`` with a fresh query batch per
  request (routing and LUT recomputed), once on the IVF-PQ index and once
  on the ingest index, whose read path includes the multi-batch ``cid=``
  partitions and the ``_deleted`` tombstone anti-join the writes leave;
  the fixed-batch ``ann_ivfpq_materialized_topk`` re-issued (its route and
  LUT are session artifacts after the first call), and ``bm25_topk``;
- writes, alternating from cycle to cycle: ``upsert_index_frame`` (odd
  vector ids, encoded by the pandas UDF) and ``delete_vectors_from_index``
  tombstones, both into the ingest index.

Every read is checked against DuckDB, computed once per run.  A
fresh-batch read on the IVF-PQ index must equal the registry oracle's
rows for its query ids (ADC top-k is per query).  A read on the ingest
index must equal the top-k of the oracle's full probed ranking restricted
to the vectors live when the request was sent (encoded ids minus
tombstoned ids): the ingest index encodes every vector with the same
full-corpus quantizers.  The writes are checked at the end against the ids
the client sent.  The seed fixes the data and which query
batches are sent; the request order is the same for every seed, so the
read/write mix never depends on it.
"""

from __future__ import annotations

import hashlib
import os

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from columnflow_spark.oracle import compare_frames, duckdb_connection
from columnflow_spark.queries import all_oracles, all_queries
from columnflow_spark.queries.annindex import (
    build_ivfpq_index,
    delete_vectors_from_index,
    ivfpq_index_path,
    search_ivfpq_index,
    upsert_index_frame,
)
from columnflow_spark.queries.mmdata import ivfpq_adc_ctes
from columnflow_spark.sources import load_table, table_path
from columnflow_spark.sources.sinks import anti_tombstones

SIZES = {"orders": 200, "documents": 1_000, "embeddings": 1_000}
SMALL_SIZES = {"orders": 200, "documents": 500, "embeddings": 500}
INPUT_TABLES = ("documents", "embeddings")

#: the fixed batch of the registry IVF-PQ queries is ``vec_id % 100 == 7``;
#: fresh batches split it into sub-batches of ``vec_id % (100 * SPLIT)``
SPLIT = 5
REGISTRY = {
    "ivf_reissued": "ann_ivfpq_materialized_topk",
    "bm25": "bm25_topk",
}
#: 4 reads (one of each kind) and 1 write per cycle; the ingest read of
#: the second cycle comes after its tombstones
CYCLES = (
    ("ivf_fresh", "ivf_ingest", "ivf_reissued", "bm25", "w_vectors"),
    ("ivf_fresh", "w_delete", "ivf_ingest", "ivf_reissued", "bm25"),
)
#: mean seconds of a cycle on a loaded 4-core x86 VM, the first (cold, 16
#: s) included: run.py measures a fixed number of cycles, so the store
#: history the reads see is the same on every run
PASS_SECONDS = 12.0
TOPK = 5  # search_ivfpq_index's default
WRITE_GROUPS = 8  # odd vector ids are ingested in this many slices


class Workload:
    def __init__(self, bench):
        self.bench = bench
        self.queries = all_queries()
        self.oracles = all_oracles()
        self.stores: dict[str, dict] = {}
        self.expected: dict = {}
        self.sent: list = []

    def build(self, d: str) -> list[str]:
        b, spark = self.bench, self.bench.spark
        root = os.path.join(b.root, "stores", hashlib.sha1(d.encode()).hexdigest()[:8])
        n_vecs = pq.ParquetFile(table_path(d, "embeddings")).metadata.num_rows
        s = {"index": ivfpq_index_path(d), "ingest": os.path.join(root, "ingest"),
             "n_vecs": n_vecs, "writes": 0, "vectors": set(), "deleted": set()}
        self.stores[d] = s
        b.call("build_ivfpq_index", "annindex", "build", lambda: build_ivfpq_index(spark, d))
        b.call("build_ivfpq_index[ingest]", "annindex", "build", lambda: build_ivfpq_index(
            spark, d, s["ingest"], batch_pred=F.col("vec_id") % 2 == 0))
        s["vectors"].update(range(0, n_vecs, 2))
        return [s["index"], s["ingest"]]

    def step(self, i: int, d: str) -> dict:
        start = len(self.sent)
        for kind in CYCLES[i % len(CYCLES)]:
            self.request(d, kind, i)
        return {"requests": self.sent[start:]}

    def request(self, d: str, kind: str, i: int) -> None:
        b, spark, s = self.bench, self.bench.spark, self.stores[d]
        if kind in ("ivf_fresh", "ivf_ingest"):
            # a fresh sub-batch per request: routing and LUT are recomputed
            r = (b.seed + len(self.sent)) % SPLIT
            pred = (F.col("vec_id") % 100 == 7) & (F.col("vec_id") % (100 * SPLIT) == 7 + 100 * r)
            path = s["index"] if kind == "ivf_fresh" else s["ingest"]
            # the vectors the ingest index holds when the request is sent
            live = frozenset(s["vectors"] - s["deleted"]) if kind == "ivf_ingest" else None
            _, rows = b.call("search_ivfpq_index", "annindex", "read", lambda: search_ivfpq_index(
                spark, d, path, query_pred=pred).collect())
            self.sent.append((d, kind, (r, live), rows))
        elif kind in REGISTRY:
            name = REGISTRY[kind]
            layer = "annindex" if kind == "ivf_reissued" else "retrieval"
            _, rows = b.call(name, layer, "read", lambda: self.queries[name](spark, d).collect())
            self.sent.append((d, kind, None, rows))
        else:
            n = s["writes"]
            s["writes"] += 1
            if kind == "w_vectors":
                group = n % WRITE_GROUPS
                ids = [v for v in range(1, s["n_vecs"], 2) if (v // 2) % WRITE_GROUPS == group]
                rows = load_table(spark, d, "embeddings", columns=["vec_id", "embedding"]).filter(
                    F.col("vec_id").isin(ids))
                ok, _ = b.call("upsert_index_frame", "annindex", "write", lambda: upsert_index_frame(
                    spark, d, rows, s["ingest"], batch=n + 1))
                if ok:
                    s["vectors"].update(ids)
            else:
                ids = list(range(4 * (n % 50), s["n_vecs"], 97))
                frame = spark.createDataFrame([(v,) for v in ids], "vec_id long")
                ok, _ = b.call("delete_vectors_from_index", "annindex", "write",
                               lambda: delete_vectors_from_index(spark, frame, s["ingest"], batch=n + 1))
                if ok:
                    s["deleted"].update(ids)
            self.sent.append((d, kind, None, None))

    # -- correctness, outside the timed window -------------------------------
    def _expected(self, d: str) -> dict:
        if d not in self.expected:
            con = duckdb_connection(d)
            try:
                exp = {kind: con.sql(self.oracles[name]).df() for kind, name in REGISTRY.items()}
                # every probed candidate of the fixed query batch, ranked
                ranked = con.sql(f"WITH {ivfpq_adc_ctes(topk=10**9)} "
                                 "SELECT query_id, neighbor_id, adc_dist FROM ivf_rank").df()
            finally:
                con.close()
            if self.bench.corrupt:
                exp["ivf_reissued"].loc[0, "adc_dist"] += 1
            exp["ranked"] = ranked
            self.expected[d] = exp
        return self.expected[d]

    def check(self, out: dict, table_digest: str) -> list[str]:
        bad = []
        for d, kind, arg, rows in out["requests"]:
            if rows is None and kind.startswith("w_"):
                continue
            exp = self._expected(d)
            if kind == "ivf_fresh":
                want = exp["ivf_reissued"]
                want = want[want["query_id"] % (100 * SPLIT) == 7 + 100 * arg[0]]
                name = "search_ivfpq_index"
            elif kind == "ivf_ingest":
                want = _live_topk(exp["ranked"], arg[0], arg[1], exp["ivf_reissued"].columns)
                name = "search_ivfpq_index"
            else:
                want, name = exp[kind], REGISTRY[kind]
            got = pd.DataFrame([x.asDict() for x in rows or []], columns=list(want.columns))
            if rows is None or not compare_frames(name, got, want.reset_index(drop=True)).ok:
                bad.append(name)
        return bad

    def finish(self, table_digest: str) -> list[str]:
        """Check what the writes left in the ingest index."""
        spark = self.bench.spark
        bad = []
        for s in self.stores.values():
            live = anti_tombstones(spark.read.parquet(s["ingest"]), s["ingest"], id_col="vec_id")
            got = {r.vec_id for r in live.select("vec_id").distinct().collect()}
            if got != s["vectors"] - s["deleted"]:
                bad.append("upsert_index_frame")
        return bad


def _live_topk(ranked: pd.DataFrame, r: int, live: frozenset, columns) -> pd.DataFrame:
    """The ADC top-k of sub-batch ``r`` over the live vectors only, ranked
    as the engine ranks: by distance, then neighbour id."""
    want = ranked[(ranked["query_id"] % (100 * SPLIT) == 7 + 100 * r)
                  & ranked["neighbor_id"].isin(live)]
    want = want.sort_values(["query_id", "adc_dist", "neighbor_id"])
    want = want.assign(rk=want.groupby("query_id").cumcount() + 1)
    return want[want["rk"] <= TOPK][list(columns)]
