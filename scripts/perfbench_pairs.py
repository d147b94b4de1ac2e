#!/usr/bin/env python3
"""Compare this checkout with a parent revision on one perfbench workload.

    python3 scripts/perfbench_pairs.py --workload serve_mixed --seeds 1,2 --pairs 10 --parent HEAD

The parent revision is checked out into a temporary ``git worktree``
(committed files only); the change is this checkout as it stands.  Each
pair runs ``python3 perfbench/run.py --workload W --seed S --seconds 28
--trace 0`` once in each checkout, one after the other, with the side that
runs first alternating from pair to pair and the seed cycling through
``--seeds``.  For every end-to-end metric the script prints each side's
median and quartiles, the number of pairs the change wins (by the metric's
``better`` direction in ``BENCHMARK.json``), and whether the gap between the
medians is larger than the parent's interquartile range.  The worktree is
removed on exit, also on an error or SIGTERM; ``perfbench/`` is only run,
never written.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile

CHECKOUT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(checkout: str, workload: str, seed: int) -> dict | None:
    """One perfbench run in ``checkout``: its result line, or None when
    it exits non-zero or prints no result."""
    cmd = ["python3", "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", "28", "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode or not lines:
        print(f"  run failed (exit {proc.returncode}) in {checkout}:\n{proc.stderr[-2000:]}",
              file=sys.stderr, flush=True)
        return None
    return json.loads(lines[-1])


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> None:
    """Print one row per end-to-end metric over the completed pairs."""
    print(f"\n{len(pairs)} pairs; all correct: "
          f"{all(p['correct'] and c['correct'] for p, c in pairs)}")
    print(f"{'metric':28s} {'parent median [q1, q3]':>30s} {'change median [q1, q3]':>30s}"
          f" {'wins':>6s} {'gap>IQR':>8s}")
    for name, direction in better.items():
        par = [p["metrics"][name]["value"] for p, _ in pairs]
        chg = [c["metrics"][name]["value"] for _, c in pairs]
        sign = 1 if direction == "lower" else -1
        wins = sum(sign * (a - b) > 0 for a, b in zip(par, chg))
        (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(par), quartiles(chg)
        print(f"{name:28s} {f'{pm:.4g} [{pq1:.4g}, {pq3:.4g}]':>30s}"
              f" {f'{cm:.4g} [{cq1:.4g}, {cq3:.4g}]':>30s}"
              f" {f'{wins}/{len(pairs)}':>6s} {str(abs(cm - pm) > pq3 - pq1):>8s}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1", help="comma-separated seeds, cycled over the pairs")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--parent", required=True, help="the git revision to compare against")
    args = ap.parse_args(argv)
    seeds = [int(s) for s in args.seeds.split(",")]
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        better = {m["name"]: m["better"] for m in json.load(f)["end_to_end"]}

    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    tmp = tempfile.mkdtemp(prefix="perfbench-pairs-")
    parent = os.path.join(tmp, "parent")
    subprocess.run(["git", "worktree", "add", "--detach", parent, args.parent],
                   cwd=CHECKOUT, check=True, capture_output=True)
    pairs = []
    try:
        for i in range(args.pairs):
            seed = seeds[i % len(seeds)]
            sides = [("parent", parent), ("change", CHECKOUT)]
            if i % 2:
                sides.reverse()
            out = {side: run_once(path, args.workload, seed) for side, path in sides}
            if None in out.values():
                continue
            pairs.append((out["parent"], out["change"]))
            ok = "/".join(str(out[k]["correct"]) for k in ("parent", "change"))
            print(f"pair {i + 1} seed {seed} ({sides[0][0]} first, correct {ok}): " + ", ".join(
                f"{k} {out['parent']['metrics'][k]['value']:.4g} -> "
                f"{out['change']['metrics'][k]['value']:.4g}" for k in better), flush=True)
        if pairs:
            summarize(pairs, better)
    finally:
        subprocess.run(["git", "worktree", "remove", "--force", parent],
                       cwd=CHECKOUT, capture_output=True)
        subprocess.run(["git", "worktree", "prune"], cwd=CHECKOUT, capture_output=True)
        shutil.rmtree(tmp, ignore_errors=True)
    return 0 if len(pairs) == args.pairs else 1


if __name__ == "__main__":
    sys.exit(main())
