"""The replay-ingest primitive (queries/streaming.py ``replay_ingest``):
nothing a streaming twin creates outlives its return, and no query
hand-rolls the replay harness or a scratch directory.  The store
contract (sources/sinks.py): ``store_path`` owns where a persisted store
lives and ``ensure_store`` owns when it is complete."""

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


def _store_calls_over_two_args(path: pathlib.Path) -> list[str]:
    """``ensure_store(...)``/``replace_store(...)`` calls in ``path``
    passing more than ``(path, build_fn)``."""
    out = []
    for node in ast.walk(ast.parse(path.read_text())):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if name in ("ensure_store", "replace_store") and len(node.args) + len(node.keywords) > 2:
            out.append(f"{path.relative_to(_REPO)}:{node.lineno}: {name} with extra args")
    return out


def test_replay_harness_and_scratch_dirs_have_one_owner():
    """Every ``events_replay`` stream in the query layer is opened by
    ``replay_ingest``, drained by ``_drain`` (or the memory sink), and
    every scratch directory comes from ``scratch_dirs``.  Stores have one
    owner too: the ``_BUILT`` marker name, the location helpers
    (``content_tag``/``scratch_root``) and every directory rename live
    only in sources/sinks.py, no second completeness marker
    (``_SEQ_COMPLETE``, or Hadoop's ``_SUCCESS`` outside the DataSource
    V2 commit protocol of sources/pydatasource.py) exists, and
    ``ensure_store``/``replace_store`` take nothing beyond
    ``(path, build_fn)``.  Driver rows become frames only through
    ``sinks.local_frame`` (Arrow, JVM-side): no ``createDataFrame(`` or
    ``parallelize(`` outside sources/sinks.py, where a list would pay
    Python-worker tasks."""
    offenders = []
    for path in sorted((_REPO / "columnflow_spark" / "queries").rglob("*.py")):
        offenders += _calls_outside(path, "mkdtemp(", set())
        offenders += _calls_outside(path, 'format("events_replay")', {"replay_ingest"})
        offenders += _calls_outside(
            path, ".processAllAvailable(", {"_drain", "_run_to_memory"}
        )
    sources = pathlib.Path("columnflow_spark/sources")
    for path in sorted((_REPO / "columnflow_spark").rglob("*.py")):
        rel = path.relative_to(_REPO)
        if rel != sources / "sinks.py":
            for needle in (
                '"_BUILT"',
                "content_tag(",
                "scratch_root(",
                "os.rename(",
                "createDataFrame(",
                "parallelize(",
            ):
                offenders += _calls_outside(path, needle, set())
        if rel != sources / "pydatasource.py":
            offenders += _calls_outside(path, "_SUCCESS", set())
        offenders += _calls_outside(path, "_SEQ_COMPLETE", set())
        offenders += _store_calls_over_two_args(path)
    assert offenders == []
