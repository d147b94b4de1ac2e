"""The session-artifact registry (core/artifacts.py): identity, bounded
LRU lifetime, purge, and the guard that keeps it the only cache."""

from __future__ import annotations

import ast
import gc
import pathlib
import re
from collections import OrderedDict

import pytest

from columnflow_spark.core import artifacts
from columnflow_spark.core.artifacts import artifact, purge
from columnflow_spark.core.state import checkpoint_df

_REPO = pathlib.Path(__file__).resolve().parent.parent


@pytest.fixture
def registry(monkeypatch):
    """A private, empty registry with a cap of 3 for the test's duration
    (the session's real entries are left untouched)."""
    monkeypatch.setattr(artifacts, "_entries", OrderedDict())
    monkeypatch.setattr(artifacts, "MAX_ENTRIES", 3)
    return artifacts._entries


def _cached_rdd_ids(spark) -> set[int]:
    return {info.id() for info in spark.sparkContext._jsc.sc().getRDDStorageInfo()}


def test_lru_evicts_oldest_and_releases_only_persisted_frames(spark, registry):
    before = _cached_rdd_ids(spark)
    persisted = artifacts.get("persisted", spark, "t", lambda: spark.range(64).persist())
    assert persisted.count() == 64
    mine = _cached_rdd_ids(spark) - before
    assert len(mine) == 1
    ckpt = artifacts.get(
        "checkpointed", spark, "t", lambda: spark.range(50).transform(checkpoint_df)
    )
    derived = ckpt.filter("id % 2 = 0")
    # a lookup refreshes recency: the persisted frame is now the newest
    assert artifacts.get("persisted", spark, "t", lambda: None) is persisted

    artifacts.get("filler", spark, "t", lambda: 1, (1,))
    assert [k[2] for k in registry] == ["checkpointed", "persisted", "filler"]
    artifacts.get("filler", spark, "t", lambda: 2, (2,))
    # cap 3: the checkpointed artifact was least recently used
    assert [k[2] for k in registry] == ["persisted", "filler", "filler"]
    # eviction never releases checkpoint blocks a live plan still reads
    del ckpt
    gc.collect()
    assert derived.count() == 25

    artifacts.get("filler", spark, "t", lambda: 3, (3,))
    assert [k[3] for k in registry] == [(1,), (2,), (3,)]
    assert not persisted.is_cached
    assert not (_cached_rdd_ids(spark) & mine)


def test_purge_rebuilds_only_that_artifact(spark, registry, monkeypatch):
    monkeypatch.setattr(artifacts, "MAX_ENTRIES", 16)
    builds: list[tuple] = []

    @artifact("a")
    def a(spark, sf_dir):
        builds.append(("a",))
        return object()

    @artifact("b")
    def b(spark, sf_dir, tag, n=2):
        builds.append(("b", tag, n))
        return object()

    a1, full, base = a(spark, "t"), b(spark, "t", "full"), b(spark, "t", "base")
    # defaults are part of the key: both spellings share one entry
    assert b(spark, "t", "full", 2) is full and b(spark, "t", tag="full") is full
    purge("a")
    assert a(spark, "t") is not a1
    assert b(spark, "t", "full") is full and b(spark, "t", "base") is base
    purge("b", ("base", 2))
    assert b(spark, "t", "full") is full
    assert b(spark, "t", "base") is not base
    assert builds == [("a",), ("b", "full", 2), ("b", "base", 2), ("a",), ("b", "base", 2)]


def test_tune_session_tunes_each_new_session_once(spark):
    from columnflow_spark.queries import tune_session

    tune_session(spark)
    other = spark.newSession()
    assert other.conf.get("spark.columnflow.tuned", "false") == "false"
    tune_session(other)
    cores = spark.sparkContext.defaultParallelism
    assert other.conf.get("spark.columnflow.tuned") == "true"
    assert other.conf.get("spark.sql.shuffle.partitions") == str(max(cores, 8))
    # a value set after tuning (test_determinism pins 7 / 29) is kept
    other.conf.set("spark.sql.shuffle.partitions", "7")
    tune_session(other)
    assert other.conf.get("spark.sql.shuffle.partitions") == "7"


_CACHE_NAME = re.compile(r"^_\w+_(CACHE|SESSIONS)$")
_CACHE_REF = re.compile(r"\b_[A-Z0-9_]+_CACHE\b")


def test_no_module_level_caches_outside_the_registry():
    """Session state goes through core/artifacts: no module-level
    ``_*_CACHE`` / ``_*_SESSIONS`` binding in the package, and no reach
    into private caches from bench.py or the tests."""
    pkg = _REPO / "columnflow_spark"
    bound = []
    for path in sorted(pkg.rglob("*.py")):
        if path == pkg / "core" / "artifacts.py":
            continue
        for node in ast.parse(path.read_text()).body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            bound += [
                f"{path.relative_to(_REPO)}:{node.lineno} {t.id}"
                for t in targets
                if isinstance(t, ast.Name) and _CACHE_NAME.match(t.id)
            ]
    assert not bound, bound
    refs = [
        f"{path.relative_to(_REPO)}:{i}"
        for path in [_REPO / "bench.py", *sorted((_REPO / "tests").rglob("*.py"))]
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if _CACHE_REF.search(line)
    ]
    assert not refs, refs


_MAX_QUERY_MODULE_LINES = 2500


def test_query_modules_stay_split_by_family():
    """One module per operator family: no module of the query registry
    grows past ~2.5k lines (``queries/mmdata.py`` once held ten families
    in 9.4k lines, with copies of the same code thousands of lines
    apart)."""
    sizes = {
        path.name: len(path.read_text().splitlines())
        for path in sorted((_REPO / "columnflow_spark" / "queries").glob("*.py"))
    }
    assert sizes and all(n <= _MAX_QUERY_MODULE_LINES for n in sizes.values()), sizes
