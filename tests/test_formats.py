"""Interchange-format roundtrips: scratch-dir content addressing.

Value fidelity (doubles, microsecond timestamps, nested JSON structs) is
covered by the registered oracles — csv_roundtrip_orders /
json_roundtrip_events aggregate the re-read copy against DuckDB reading
the original Parquet, so any formatting loss breaks the hash match in
tests/test_queries_vs_duckdb.py.
"""

from __future__ import annotations

import os


def test_roundtrip_dir_content_addressed(tmp_path):
    from columnflow_spark.sources.sinks import store_path

    def _roundtrip_dir(sf_dir, table, fmt):
        # the location the roundtrip queries write their copies to
        return store_path(sf_dir, table, "formats", fmt)

    src = tmp_path / "orders.parquet"
    src.write_bytes(b"x")
    d1 = _roundtrip_dir(str(tmp_path), "orders", "csv")
    # stable for the same file identity
    assert _roundtrip_dir(str(tmp_path), "orders", "csv") == d1
    # rewritten source (new mtime) => new directory, never stale reuse
    os.utime(src, ns=(1, 1))
    d2 = _roundtrip_dir(str(tmp_path), "orders", "csv")
    assert d2 != d1
    # format namespaces are disjoint
    assert _roundtrip_dir(str(tmp_path), "orders", "json") != d2


def test_write_once_reuses_completed_dir(spark, sf_dir, tmp_path):
    """A completed (_BUILT-marked) roundtrip dir is never rewritten — a
    second run, incl. a concurrent session's, reads the existing files
    instead of overwriting them under an in-flight scan."""
    from columnflow_spark.queries.formats import _write_once
    from columnflow_spark.sources import load_table

    df = load_table(spark, sf_dir, "region")
    out = str(tmp_path / "once")
    _write_once(df, out, "csv", header=True)
    marker = os.path.join(out, "_BUILT")
    assert os.path.exists(marker)
    stamps = {
        f: os.stat(os.path.join(out, f)).st_mtime_ns
        for f in os.listdir(out)
        if f.startswith("part-")
    }
    _write_once(df, out, "csv", header=True)
    after = {
        f: os.stat(os.path.join(out, f)).st_mtime_ns
        for f in os.listdir(out)
        if f.startswith("part-")
    }
    assert after == stamps
