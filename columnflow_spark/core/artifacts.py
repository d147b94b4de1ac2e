"""Session artifacts: the one place that decides what a session builds
once and reuses, and for how long.

An artifact is anything a session derives from a corpus and serves to
many queries: a checkpointed shingle table, trained weights, a collected
probe route, a persisted nested event table.  Its identity is
``(session_key(spark), sf_dir, name, params)``; the first lookup builds
it and every later lookup with the same key returns the same object —
the in-session analog of the reference's TaskArrayFunction call cache
(columnar_util.py:2674).

Functions of the shape ``f(spark, sf_dir, *params)`` take the
:func:`artifact` decorator; sites whose key has a computed part call
:func:`get` with an explicit ``build`` thunk.  Each site keeps its own
``checkpoint_df``/``persist`` call inside the build: the registry decides
identity and lifetime, never how a value is materialized.

Lifetime is a bounded LRU of :data:`MAX_ENTRIES`.  Evicting (or
:func:`purge`-ing) an entry drops the registry's reference and
``unpersist()``-s the value only when it is a persisted frame
(``is_cached``).  A ``localCheckpoint``/``checkpoint`` RDD is NEVER
released here: a live downstream plan may still read its blocks and
would fail with "Checkpoint block not found"; Spark's ContextCleaner
frees them once nothing references the frame.
"""

from __future__ import annotations

import functools
import inspect
from collections import OrderedDict
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from columnflow_spark.session import session_key

#: LRU cap on live artifacts across all sessions.  Peak live entries
#: measured with eviction off: 75 over a full 136-line ``bench.py`` run
#: at sf0.1 (its sf0.001 warm-up included), 6 in a ``hep_shifts`` run, 6
#: in a ``serve_mixed`` run, 26 over the slow test tier and 60 over
#: tier-1.  The cap is about 3x the largest, so none of them evicts.
MAX_ENTRIES = 256

_entries: OrderedDict[tuple, Any] = OrderedDict()


def _release(value: Any) -> None:
    if isinstance(value, DataFrame) and value.is_cached:
        value.unpersist()


def get(
    name: str,
    spark: SparkSession,
    sf_dir: str,
    build: Callable[[], Any],
    params: tuple[Hashable, ...] = (),
) -> Any:
    """The artifact ``name`` for ``(spark, sf_dir, params)``: built by
    ``build()`` on the first lookup, the same object afterwards."""
    key = (session_key(spark), sf_dir, name, params)
    if key in _entries:
        _entries.move_to_end(key)
        return _entries[key]
    value = build()
    _entries[key] = value
    while len(_entries) > MAX_ENTRIES:
        _release(_entries.popitem(last=False)[1])
    return value


def artifact(name: str):
    """Decorate ``f(spark, sf_dir, *params)`` so each distinct ``params``
    tuple (defaults filled in, so ``f(s, d)`` and ``f(s, d, default)``
    share one entry) is built once per session."""

    def deco(fn):
        sig = inspect.signature(fn)

        @functools.wraps(fn)
        def wrapper(spark: SparkSession, sf_dir: str, *args, **kwargs):
            bound = sig.bind(spark, sf_dir, *args, **kwargs)
            bound.apply_defaults()
            params = tuple(bound.arguments.values())[2:]
            return get(name, spark, sf_dir, lambda: fn(spark, sf_dir, *params), params)

        return wrapper

    return deco


def purge(name: str, params: tuple[Hashable, ...] | None = None) -> None:
    """Drop artifact ``name`` (only its ``params`` entry when given) in
    every session, so the next lookup rebuilds it cold."""
    for key in [k for k in _entries if k[2] == name and params in (None, k[3])]:
        _release(_entries.pop(key))
