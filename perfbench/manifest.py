"""Validation of ``BENCHMARK.json`` against the rules its runner relies on.

Checked on every run before anything is measured: a manifest the runner
would refuse must fail here first, with the reason.
"""

from __future__ import annotations

import json
import os
import re

KEYS = {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
PATH = re.compile(r"^[A-Za-z0-9_./-]{1,200}$")
MAX_BOUND = 0.25


def _entries(doc: dict, key: str, fields: set, lo: int, hi: int, problems: list) -> list[dict]:
    items = doc.get(key)
    if not isinstance(items, list) or not lo <= len(items) <= hi:
        problems.append(f"{key}: want a list of {lo}..{hi} entries")
        return []
    good = []
    for item in items:
        if not isinstance(item, dict) or set(item) != fields:
            problems.append(f"{key}: entry {item!r} must have exactly {sorted(fields)}")
        elif not isinstance(item["name"], str) or not NAME.match(item["name"]):
            problems.append(f"{key}: bad name {item['name']!r}")
        else:
            good.append(item)
    return good


def _metrics(items: list[dict], key: str, expected: dict, problems: list) -> None:
    for m in items:
        if not isinstance(m["unit"], str) or not UNIT.match(m["unit"]):
            problems.append(f"{key}: {m['name']}: bad unit {m['unit']!r}")
        if m["better"] not in ("lower", "higher"):
            problems.append(f"{key}: {m['name']}: better must be lower or higher")
        if m["name"] in expected and m["unit"] != expected[m["name"]]:
            problems.append(f"{key}: {m['name']}: unit {m['unit']!r}, the runner reports {expected[m['name']]!r}")
    names = {m["name"] for m in items}
    if names != set(expected):
        problems.append(f"{key}: names differ from the runner's: missing {sorted(set(expected) - names)}, "
                        f"unknown {sorted(names - set(expected))}")


def validate(path: str, workloads, end_to_end: dict, per_layer: dict) -> list[str]:
    """Problems found in the manifest at ``path`` (empty when valid)."""
    checkout = os.path.dirname(os.path.abspath(path))
    try:
        if os.path.getsize(path) > 64 * 1024:
            return ["larger than 64 KiB"]
        with open(path) as fh:
            doc = json.load(fh)
    except (OSError, ValueError) as exc:
        return [f"unreadable: {exc}"]
    if not isinstance(doc, dict) or set(doc) != KEYS:
        return [f"top-level keys must be exactly {sorted(KEYS)}"]
    problems: list[str] = []

    paths = doc["paths"]
    if not isinstance(paths, list) or not 1 <= len(paths) <= 16:
        problems.append("paths: want 1..16 entries")
        paths = []
    for p in paths:
        if (not isinstance(p, str) or not PATH.match(p) or p.startswith("/")
                or ".." in p.split("/")):
            problems.append(f"paths: bad path {p!r}")
        elif not os.path.isdir(os.path.join(checkout, p)):
            problems.append(f"paths: {p!r} is not a directory")
        else:
            for dirpath, _, files in os.walk(os.path.join(checkout, p)):
                for f in files:
                    full = os.path.join(dirpath, f)
                    if os.path.islink(full) or not os.path.isfile(full):
                        problems.append(f"paths: {os.path.relpath(full, checkout)} is not a regular file")

    cmd = doc["command"]
    if (not isinstance(cmd, list) or not 1 <= len(cmd) <= 32
            or not all(isinstance(a, str) and len(a) <= 200 for a in cmd)):
        problems.append("command: want 1..32 strings of at most 200 characters")
    else:
        for arg in cmd[1:]:
            if arg.startswith("/") or ".." in arg.split("/"):
                problems.append(f"command: {arg!r} leaves the checkout")
            elif "/" in arg and not any(arg == p or arg.startswith(p.rstrip("/") + "/") for p in paths):
                problems.append(f"command: {arg!r} is outside paths")

    rs = doc["run_seconds"]
    if not isinstance(rs, int) or isinstance(rs, bool) or not 1 <= rs <= 60:
        problems.append("run_seconds: want a whole number 1..60")

    wls = _entries(doc, "workloads", {"name", "why"}, 2, 8, problems)
    for w in wls:
        if not isinstance(w["why"], str) or "\n" in w["why"] or len(w["why"]) > 200:
            problems.append(f"workloads: {w['name']}: why must be one line of at most 200 characters")
    if {w["name"] for w in wls} != set(workloads):
        problems.append(f"workloads: names differ from the runner's {sorted(workloads)}")

    e2e = _entries(doc, "end_to_end", {"name", "unit", "better", "bound"}, 1, 16, problems)
    _metrics(e2e, "end_to_end", end_to_end, problems)
    for m in e2e:
        if not isinstance(m["bound"], (int, float)) or not 0 < m["bound"] <= MAX_BOUND:
            problems.append(f"end_to_end: {m['name']}: bound must be in (0, {MAX_BOUND}]")
    setup = next((m for m in e2e if m["name"] == "setup_s"), None)
    if setup is None or setup["unit"] != "s" or setup["better"] != "lower":
        problems.append("end_to_end: setup_s with unit s and better lower is required")
    elif any(m["bound"] > setup["bound"] for m in e2e if isinstance(m["bound"], (int, float))):
        problems.append("end_to_end: setup_s must have the largest bound")

    layers = _entries(doc, "per_layer", {"name", "unit", "better"}, 1, 128, problems)
    _metrics(layers, "per_layer", per_layer, problems)

    names = [m["name"] for m in wls + e2e + layers]
    dup = sorted({n for n in names if names.count(n) > 1})
    if dup:
        problems.append(f"names used more than once: {dup}")
    return problems
