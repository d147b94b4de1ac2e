"""The replay-ingest primitive (queries/streaming.py ``replay_ingest``):
nothing a streaming twin creates outlives its return, and no query
hand-rolls the replay harness or a scratch directory."""

from __future__ import annotations

import ast
import pathlib
import tempfile

import pytest

_REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.mark.parametrize(
    "name",
    ["streaming_kmv_ingest", "streaming_replay_counts", "streaming_quantile_ingest"],
)
def test_twin_leaves_no_scratch_dir_or_view(spark, sf_dir, tmp_path, monkeypatch, name):
    from columnflow_spark.queries import all_queries

    scratch = tmp_path / "tmp"
    scratch.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(scratch))
    q = all_queries()[name]
    results = []
    for _ in range(2):
        df = q(spark, sf_dir)
        assert list(scratch.iterdir()) == []
        views = [
            t.name for t in spark.catalog.listTables() if t.name.startswith("stream_out_")
        ]
        assert views == []
        # the at-rest result was materialized before its stores went away
        results.append(sorted(map(tuple, df.collect())))
    assert results[0] and results[0] == results[1]


def _calls_outside(path: pathlib.Path, needle: str, owners: set[str]) -> list[str]:
    """Lines of ``path`` holding ``needle`` outside the top-level
    functions named in ``owners``."""
    text = path.read_text()
    allowed = {
        i
        for node in ast.parse(text).body
        if isinstance(node, ast.FunctionDef) and node.name in owners
        for i in range(node.lineno, node.end_lineno + 1)
    }
    return [
        f"{path.relative_to(_REPO)}:{i}: {line.strip()}"
        for i, line in enumerate(text.splitlines(), 1)
        if needle in line and i not in allowed
    ]


def test_replay_harness_and_scratch_dirs_have_one_owner():
    """Every ``events_replay`` stream in the query layer is opened by
    ``replay_ingest``, drained by ``_drain`` (or the memory sink), and
    every scratch directory comes from ``scratch_dirs``; the ``_BUILT``
    marker name lives only in sources/sinks.py."""
    offenders = []
    for path in sorted((_REPO / "columnflow_spark" / "queries").rglob("*.py")):
        offenders += _calls_outside(path, "mkdtemp(", set())
        offenders += _calls_outside(path, 'format("events_replay")', {"replay_ingest"})
        offenders += _calls_outside(
            path, ".processAllAvailable(", {"_drain", "_run_to_memory"}
        )
    for path in sorted((_REPO / "columnflow_spark").rglob("*.py")):
        if path.name != "sinks.py":
            offenders += _calls_outside(path, '"_BUILT"', set())
    assert offenders == []
