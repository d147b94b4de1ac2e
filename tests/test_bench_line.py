"""The driver records only the last ~2000 chars of bench.py's stdout:
BENCH_r07.json captured a 2000-char tail of a 4382-char line and failed
to parse (10/72 timing lines lost).  Pin the contract: for the full
headline list (plus headroom for future lines), the driver line fits
the window, parses, and keeps every query entry."""

from __future__ import annotations

import importlib.util
import json
import os
import sys


def _bench():
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
    spec = importlib.util.spec_from_file_location("bench_mod", path)
    mod = importlib.util.module_from_spec(spec)
    sys.modules["bench_mod"] = mod
    spec.loader.exec_module(mod)
    return mod


def test_driver_line_fits_window_and_parses():
    b = _bench()
    timings = {name: 123.4567 for name in b.BENCH_QUERIES}
    # the build lines plus generous headroom for future rounds (the
    # VERDICT r8 projected-size self-test: +20 lines must still fit)
    for extra in [
        "ann_ivfpq_index_build",
        "tf_learned_gate_build",
        "unigram_vocab_build",
    ] + [f"future_round_query_{i}" for i in range(20)]:
        timings[extra] = 9.8765
    line = b._driver_line(timings, 0.1, budget=1900)
    assert len(line) <= 1900, len(line)
    parsed = json.loads(line)
    assert len(parsed["queries"]) == len(timings), "query keys collided"
    assert list(parsed)[-1] == "queries"  # tail-truncation loses scalars, not data


def test_idx_tier_mapping_is_reconstructible():
    """The endgame idx-sorted tier must map q<i> back to full names via
    sorted() alone — the BENCHLOG full record of the same run carries
    the name list."""
    b = _bench()
    timings = {name: 1.2345 for name in b.BENCH_QUERIES}
    for i in range(30):  # force past the full-name tier
        timings[f"some_very_long_future_query_name_variant_{i}"] = 9.9
    line = b._driver_line(timings, 0.1, budget=1500)
    parsed = json.loads(line)
    # either idx tier is reconstructible the same way (the 1-decimal
    # variant is the r10 growth tier; values coarsen, keys don't)
    assert parsed["names"] in ("idx-sorted", "idx-sorted1", "idx-sorted-sig3")
    names_sorted = sorted(timings)
    remap = {f"q{i}": n for i, n in enumerate(names_sorted)}
    assert set(remap) == set(parsed["queries"])
    got = parsed["queries"][f"q{names_sorted.index('q1_pricing_summary')}"]
    expected = {"idx-sorted": 1.23, "idx-sorted1": 1.2, "idx-sorted-sig3": 1.23}[parsed["names"]]
    assert abs(got - expected) < 1e-9
