#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds.

Usage: python scripts/profile_query.py [--plans-dir plans/r13 --suffix before]
           name1 name2 ...

For each query: warm the shared tables, run the query N times (default 3)
with ``.count()`` (the bench methodology) and once with the noop sink
(guide §1.4 — computes every column), and write ``explain("formatted")``
to ``<plans-dir>/<name>_<suffix>.txt`` when requested.  Each sample also
reports its Spark job count (building the frame included), read from the
status tracker under a per-sample job group (``session.count_jobs``).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument("--noop", action="store_true", help="also time a noop-sink run")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from columnflow_spark.queries import all_queries
    from columnflow_spark.session import count_jobs, get_spark

    spark = get_spark("columnflow_spark-profile")
    queries = all_queries()
    # warm-up: tables + python workers (the bench preamble)
    queries["q1_pricing_summary"](spark, sf_dir).count()
    n_workers = spark.sparkContext.defaultParallelism * 2
    spark.range(n_workers * 4).repartition(n_workers).mapInPandas(
        lambda it: it, schema="id long"
    ).count()

    for name in args.names:
        fn = queries[name]
        label = f"profile:{name}"
        runs, jobs = [], []
        for _ in range(args.samples):
            t0 = time.perf_counter()
            _, n = count_jobs(spark, lambda: fn(spark, sf_dir).count(), label)
            runs.append(time.perf_counter() - t0)
            jobs.append(n)
        line = (
            f"[profile] {name}: min={min(runs):.3f}s runs={[round(r,3) for r in runs]}"
            f" jobs={jobs}"
        )
        if args.noop:
            t0 = time.perf_counter()
            _, n = count_jobs(
                spark,
                lambda: fn(spark, sf_dir).write.format("noop").mode("overwrite").save(),
                label,
            )
            line += f" noop={time.perf_counter() - t0:.3f}s noop_jobs={n}"
        print(line, flush=True)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("formatted")
            out = os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt")
            with open(out, "w") as fh:
                fh.write(buf.getvalue())


if __name__ == "__main__":
    main()
