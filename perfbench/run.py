#!/usr/bin/env python3
"""Benchmark of the spark-flow engine, driven from outside the program.

    python3 perfbench/run.py --workload hep_shifts --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --self-test

One Python process, one client, ``local[<cores>]``.  A run generates its
inputs from ``--seed`` (:mod:`inputs`), starts the session (the set-up),
then measures one window in that fresh session: the workload's store
builds, then ``round(--seconds / PASS_SECONDS)`` passes (at least one),
where ``PASS_SECONDS`` is the workload's mean pass time on a loaded
4-core x86 VM.  The first pass of a run is cold (the JVM compiles its code
path and the session builds its artifacts) and is measured with the rest:
on a shared host only a window of 30 s or more gives figures that repeat
from run to run, and a separate warm-up that long would not fit the time a
run may take.  The pass count is fixed, not a deadline, so that every run
does the same work and leaves the same state behind, however fast the
machine is.  Every output is checked after the window; an exception or a
wrong result counts as a failed operation.

Op kinds: ``read`` returns a result, ``write`` changes stored state,
``build`` builds a store the reads serve from, ``plan`` is a call the
engine satisfies from completed outputs.

End-to-end metrics (tracing off):

- ``setup_s``: process start to a started session, input generation
  excluded;
- ``wall_s``: the measured window, from the started session to the last
  result of the last pass (store builds included);
- ``read_mean_s`` / ``write_mean_s``: mean latency of the reads / the
  writes of the window (means over the window, not medians: a run has
  few of each, of several kinds);
- ``req_per_s``: public calls completed per second of the window;
- ``index_build_s``: time of the window's store builds;
- ``peak_rss_mb``: peak resident memory of this process, the Spark JVM
  and the Python workers, from process start to the end of the window
  (the checks, which load DuckDB references into this process, come
  after);
- ``store_bytes_per_input_byte``: bytes of the built stores over bytes of
  the input tables the workload reads.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` the same window runs untraced, then one more pass runs
traced (:mod:`spans`), and the line holds that pass's per-layer metrics,
the self time per layer and the tracing overhead (the traced pass minus
the last untraced one).  Spans are written to
``.perfbench/traces/`` at the end.

Each run works in a fresh directory under ``.perfbench/tmp/`` (engine
scratch, checkpoints, Spark local dirs, temp files) and removes it on
exit; nothing else in the checkout is written.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import importlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
sys.path[:0] = [HERE, CHECKOUT]

import manifest  # noqa: E402

WORKLOADS = {"hep_shifts": "hep", "serve_mixed": "serve"}
DRIVER_MEM = "1g"
END_TO_END = {
    "setup_s": "s", "wall_s": "s", "read_mean_s": "s", "write_mean_s": "s",
    "req_per_s": "1/s", "index_build_s": "s", "peak_rss_mb": "MB",
    "store_bytes_per_input_byte": "B/B",
}
#: per-layer counters summed over a traced pass (see spans.Tracer._counters)
COUNTERS = {
    "sources.scan_bytes": "B", "sources.scan_rows": "count", "sources.files_read": "count",
    "sinks.files_written": "count", "sinks.bytes_written": "B",
    "mmdata.python_s": "s", "mmdata.python_bytes_in": "B", "mmdata.python_bytes_out": "B",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.driver_only_s": "s", "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_read_bytes": "B", "spark.shuffle_write_bytes": "B",
    "spark.spill_bytes": "B",
}
TASK_STAGES = ("events", "calib", "select", "reduce", "produce", "hist")
SELF_LAYERS = ("bench", "tasks", "sinks", "hist", "plotting", "inference", "annindex",
               "retrieval", "spark")
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    **{f"tasks.{s}_s": "s" for s in TASK_STAGES}, "tasks.reuse_ratio": "ratio",
    "sinks.write_s": "s", "hist.fill_s": "s", "inference.datacard_s": "s",
    "stores.build_s": "s", "stores.bytes_on_disk": "B",
    "state.persisted_rdds": "count", "state.persisted_bytes": "B",
    **COUNTERS,
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.overhead_s": "s",
}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants (the
    Spark JVM and the Python workers), sampled from /proc.  ``parts``
    holds the resident bytes per process name at the peak."""

    def __init__(self, period: float = 0.2):
        super().__init__(daemon=True)
        self.period, self.peak, self._stop_evt = period, 0, threading.Event()
        self.parts: dict[str, int] = {}
        self._page = os.sysconf("SC_PAGE_SIZE")

    @staticmethod
    def _children(pid: int) -> list[int]:
        kids = []
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    kids.extend(int(c) for c in fh.read().split())
        except OSError:  # the process ended between listing and reading
            pass
        return kids

    def _tree_rss(self) -> dict[int, int]:
        rss, frontier = {}, [(os.getpid(), "")]
        while frontier:
            pid, parent_exe = frontier.pop()
            try:
                exe = os.readlink(f"/proc/{pid}/exe")
                # a JVM starts processes with vfork + exec: until the exec,
                # the child is the JVM's own memory, not more of it
                if exe == parent_exe and os.path.basename(exe) == "java":
                    continue
                with open(f"/proc/{pid}/statm") as fh:
                    rss[pid] = int(fh.read().split()[1]) * self._page
            except OSError:  # the process ended
                continue
            frontier.extend((kid, exe) for kid in self._children(pid))
        return rss

    def run(self) -> None:
        while not self._stop_evt.wait(self.period):
            rss = self._tree_rss()
            if sum(rss.values()) > self.peak:
                parts = Counter()
                for pid, n in rss.items():
                    try:
                        with open(f"/proc/{pid}/comm") as fh:
                            parts[fh.read().strip()] += n
                    except OSError:
                        parts["?"] += n
                self.peak, self.parts = sum(rss.values()), parts

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def isolate(root: str) -> None:
    """Point every writable location of the engine and of Spark into
    ``root``; drop engine switches inherited from the caller."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    tmp = os.path.join(root, "tmp")
    for sub in ("scratch", "checkpoints", "spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(root, sub))
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_SCRATCH": os.path.join(root, "scratch"),
        "SPARK_GRAFT_CHECKPOINT_DIR": os.path.join(root, "checkpoints"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(root, "spark-local"),
        "TMPDIR": tmp,
        # pandas-UDF workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(filter(None, [CHECKOUT, os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            f"--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(root, 'warehouse')} "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    })
    tempfile.tempdir = tmp


def tree_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


class Bench:
    """What a workload sees: the session, the op runner and the run's
    private directory."""

    def __init__(self, root: str, seed: int, tracer, corrupt: bool):
        self.root, self.seed, self.tracer, self.corrupt = root, seed, tracer, corrupt
        self.spark, self.call = tracer.spark, tracer.call

    def fresh_copy(self, table_dir: str, name: str) -> str:
        """Hard-linked copy of the input tables under a new path: the
        engine keys its caches and stores by input path."""
        d = os.path.join(self.root, "passes", name, "in")
        os.makedirs(d)
        for f in os.listdir(table_dir):
            os.link(os.path.join(table_dir, f), os.path.join(d, f))
        return d


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def measure(args, root: str, sampler: RssSampler) -> dict:
    import inputs
    from spans import Tracer, self_seconds

    mod = importlib.import_module(WORKLOADS[args.workload])
    sizes = mod.SMALL_SIZES if args.small else mod.SIZES
    t_gen = time.perf_counter()
    table_dir = os.path.join(root, "inputs", "main")
    rows = inputs.write_tables(table_dir, args.seed, **sizes)
    table_digest = inputs.digest(table_dir)
    gen_s = time.perf_counter() - t_gen
    in_bytes = inputs.input_bytes(table_dir, mod.INPUT_TABLES)
    print(f"inputs: seed={args.seed} rows={rows} bytes={in_bytes} sha256={table_digest}", flush=True)

    from columnflow_spark.session import get_spark

    wall0 = time.time()
    spark = get_spark()
    t_start, wall1 = time.perf_counter(), time.time()
    # process start to a started session, input generation excluded
    session_s = t_start - PROCESS_START - gen_s
    tracer = Tracer(spark, enabled=False)
    wl = mod.Workload(Bench(root, args.seed, tracer, args.corrupt))

    stores = wl.build(table_dir)
    n_passes = max(1, round(args.seconds / mod.PASS_SECONDS))
    passes = []
    for i in range(n_passes + args.trace):
        traced = i == n_passes  # the extra pass of a traced run
        if traced:
            window_s = time.perf_counter() - t_start
            window_ops = list(tracer.ops)
            peak_rss, rss_parts = sampler.peak, dict(sampler.parts)
        tracer.enabled = traced
        first = len(tracer.ops)
        tracer.begin_pass(f"pass {i}")
        t0 = time.perf_counter()
        out = wl.step(i, table_dir)
        seconds = time.perf_counter() - t0
        tracer.end_pass()
        tracer.enabled = False
        passes.append({"seconds": seconds, "ops": tracer.ops[first:], "traced": traced, "out": out})
    if not args.trace:
        window_s = time.perf_counter() - t_start
        window_ops = list(tracer.ops)
        # the memory of the program, before the checks load their references
        peak_rss, rss_parts = sampler.peak, dict(sampler.parts)

    failed_checks = 0
    for p in passes:
        bad = Counter(wl.check(p["out"], table_digest))  # one entry per wrong output
        for op in p["ops"]:
            if bad[op.name] > 0:
                op.ok = False
                bad[op.name] -= 1
        failed_checks += sum(bad.values())
    failed_checks += len(wl.finish(table_digest))

    if not stores:  # the stores are built inside each pass; size the first pass's
        stores = passes[0]["out"]["stores"]
    store_bytes = sum(tree_bytes(p) for p in stores)
    reads = [op.seconds for op in window_ops if op.kind == "read"]
    writes = [op.seconds for op in window_ops if op.kind == "write"]
    e2e = {
        "setup_s": session_s,
        "wall_s": window_s,
        "read_mean_s": _mean(reads),
        "write_mean_s": _mean(writes),
        "req_per_s": len(window_ops) / window_s,
        "index_build_s": sum(op.seconds for op in window_ops if op.kind == "build"),
        "peak_rss_mb": peak_rss / 2**20,
        "store_bytes_per_input_byte": store_bytes / in_bytes,
    }
    attempted = len(tracer.ops) + failed_checks
    failed = sum(not op.ok for op in tracer.ops) + failed_checks
    print("pass seconds: " + " ".join(f"{p['seconds']:.3f}" for p in passes), flush=True)
    print("peak rss MB by process: " + ", ".join(
        f"{name} {n / 2**20:.0f}" for name, n in sorted(rss_parts.items())), flush=True)
    print(f"samples: passes={n_passes} reads={len(reads)} writes={len(writes)} "
          f"ops={len(window_ops)}", flush=True)

    if not args.trace:
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
    else:
        traced, last = passes[-1], passes[-2]
        ops = traced["ops"]
        layer = dict.fromkeys(PER_LAYER, 0.0)
        for op in ops:
            for key in COUNTERS:
                layer[key] += op.counters.get(key, 0.0)
        end = ops[-1].counters if ops else {}
        layer["state.persisted_rdds"] = end.get("state.persisted_rdds", 0.0)
        layer["state.persisted_bytes"] = end.get("state.persisted_bytes", 0.0)
        layer["session.start_s"] = session_s
        # what the first, cold pass cost more than the last untraced one
        layer["session.warmup_s"] = passes[0]["seconds"] - last["seconds"]
        task_ops = [op for op in ops if op.layer == "tasks"]
        for stage in TASK_STAGES:
            layer[f"tasks.{stage}_s"] = sum(op.seconds for op in task_ops if op.name.startswith(f"{stage}["))
        layer["tasks.reuse_ratio"] = (sum(op.kind == "plan" for op in task_ops) / len(task_ops)) if task_ops else 0.0
        layer["sinks.write_s"] = sum(op.seconds for op in ops if op.kind in ("write", "build"))
        layer["hist.fill_s"] = sum(op.seconds for op in ops if op.layer in ("hist", "plotting"))
        layer["inference.datacard_s"] = sum(op.seconds for op in ops if op.layer == "inference")
        layer["stores.build_s"] = e2e["index_build_s"]
        layer["stores.bytes_on_disk"] = float(store_bytes)
        tracer.span("get_spark", "session", wall0, wall1, None)
        for name, secs in self_seconds(tracer.spans).items():
            if f"self.{name}_s" in layer:
                layer[f"self.{name}_s"] = secs
        layer["trace.overhead_s"] = traced["seconds"] - last["seconds"]
        metrics = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
        out_dir = os.path.join(CHECKOUT, ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
        with open(path, "w") as fh:
            json.dump({"workload": args.workload, "seed": args.seed, "inputs_sha256": table_digest,
                       "end_to_end_untraced": e2e, "per_layer": layer, "spans": tracer.spans}, fh)
        print(f"trace: {len(tracer.spans)} spans -> {os.path.relpath(path, CHECKOUT)}", flush=True)
    for k, m in metrics.items():
        print(f"  {k:32s} {m['value']:.6g} {m['unit']}", flush=True)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true", help="the smallest inputs (self-test)")
    ap.add_argument("--corrupt", action="store_true", help="corrupt expected outputs (self-test)")
    ap.add_argument("--self-test", action="store_true")
    args = ap.parse_args(argv)

    problems = manifest.validate(os.path.join(CHECKOUT, "BENCHMARK.json"), WORKLOADS,
                                 END_TO_END, PER_LAYER)
    if problems:
        print("BENCHMARK.json: " + "; ".join(problems), file=sys.stderr)
        return 2
    if args.self_test:
        import selftest

        return selftest.main(CHECKOUT)
    if not args.workload:
        ap.error("--workload is required")
    if not os.path.isfile(os.path.join(CHECKOUT, "columnflow_spark", "__init__.py")):
        print("columnflow_spark/ not found next to perfbench/: nothing to measure", file=sys.stderr)
        return 2

    # on SIGTERM, unwind through the clean-up below instead of dying
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(CHECKOUT, ".perfbench", "tmp")
    os.makedirs(base, exist_ok=True)
    root = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    isolate(root)
    sampler = RssSampler()
    sampler.start()
    try:
        result = measure(args, root, sampler)
    finally:
        try:
            shutdown_spark()
        finally:
            sampler.stop()
            shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def shutdown_spark() -> None:
    """Stop the session, then the JVM it runs in, and wait for it: the
    gateway JVM exits when its stdin closes."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


if __name__ == "__main__":
    sys.exit(main())
