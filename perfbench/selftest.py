"""Self-test of the benchmark at the smallest size.

    python3 perfbench/run.py --self-test

1. ``BENCHMARK.json`` validates (run.py checks it before calling this).
2. Every workload, untraced, prints every end-to-end metric with its unit,
   each non-zero, with correct outputs.
3. Every workload, traced, prints every per-layer metric, and its trace
   covers every layer of the benchmark's layer table, as a span layer or
   as counters attached to spans.
4. A corrupted expected output makes the run report failed operations.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

#: layer of the table -> span layers or counter prefixes that stand for it
LAYERS = {
    "session": ("session",),
    "sources": ("sources.",),
    "tasks": ("tasks",),
    "sinks": ("sinks", "sinks."),
    "hist": ("hist",),
    "inference": ("inference",),
    "mmdata": ("mmdata.",),
    "stores": ("annindex", "retrieval"),
    "core.state": ("state.",),
    "spark": ("spark", "spark."),
}


def _run(checkout: str, *args: str) -> dict:
    with open(os.path.join(checkout, "BENCHMARK.json")) as fh:
        seconds = str(json.load(fh)["run_seconds"])  # the pass counts of a real run
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--seed", "424242",
           "--seconds", seconds, "--small", *args]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True, timeout=600)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise AssertionError(f"{' '.join(args)}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    print("\n".join(lines[:-1]))
    return json.loads(lines[-1])


def main(checkout: str) -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import run

    problems, seen = [], set()
    for wl in run.WORKLOADS:
        res = _run(checkout, "--workload", wl, "--trace", "0")
        m = res["metrics"]
        if not res["correct"] or res["failed"]:
            problems.append(f"{wl}: outputs not correct ({res['failed']} of {res['attempted']} failed)")
        for name, unit in run.END_TO_END.items():
            if name not in m or m[name]["unit"] != unit or not m[name]["value"] > 0:
                problems.append(f"{wl}: end-to-end metric {name} missing, zero or not in {unit}")
        res = _run(checkout, "--workload", wl, "--trace", "1")
        if set(res["metrics"]) != set(run.PER_LAYER):
            problems.append(f"{wl}: per-layer metrics differ from the manifest")
        with open(os.path.join(checkout, ".perfbench", "traces", f"{wl}-seed424242.json")) as fh:
            spans = json.load(fh)["spans"]
        seen |= {s["layer"] for s in spans}
        seen |= {k for s in spans for k, v in s.get("counters", {}).items() if v}
    for layer, marks in LAYERS.items():
        if not any(m in seen or (m.endswith(".") and any(x.startswith(m) for x in seen)) for m in marks):
            problems.append(f"traces have no span or counter for layer {layer}")
    for wl in run.WORKLOADS:
        res = _run(checkout, "--workload", wl, "--trace", "0", "--corrupt")
        if res["correct"] or not res["failed"] > 0:
            problems.append(f"{wl}: a corrupted expected output was not reported as failed")
    for p in problems:
        print("SELF-TEST FAIL:", p)
    print("self-test:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0
