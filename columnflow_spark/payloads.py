"""External file bundle → fetch/cache → broadcast payload layer.

Reference parity: ``BundleExternalFiles`` (reference columnflow/tasks/
external.py:467) collects per-config external payload files (golden JSON,
correction files, SF tables) into a content-hashed local cache, and
operators receive them in their ``setup`` hook; ``config.x.external_files``
declares them as name → :class:`ExternalFile`.

Spark-first translation:

- the *bundle* stays a driver-side concern (payloads are small: JSONs,
  correction tables) with a content-hash cache directory, so repeated runs
  and multiple operators never re-read/re-parse the same file;
- a parsed payload ships to executors exactly once per session, either as
  a :func:`broadcast` variable (for per-row UDF lookups) or — preferred —
  as a small broadcast-hinted DataFrame (:meth:`PayloadBundle.dataframe`)
  that joins stay JVM-side;
- operators get the payloads via their ``setup`` hook (registry.setup
  already threads a payload dict), mirroring the reference's
  ``setup_func(reqs, inputs, ...)`` contract.
"""

from __future__ import annotations

import csv
import hashlib
import json
import os
import shutil
from dataclasses import dataclass
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from columnflow_spark.session import session_key
from columnflow_spark.sources.sinks import local_frame


@dataclass(frozen=True)
class ExternalFile:
    """Declaration of one external payload (reference external.py
    ``ExternalFile``: source + version; the version busts the cache)."""

    path: str
    fmt: str = "json"  # json | csv | text
    version: str = "v1"


class PayloadBundle:
    """Fetch/cache/parse/broadcast external payload files.

    ``files`` maps payload names to :class:`ExternalFile` (or plain path
    strings).  Fetched copies live in ``cache_dir`` under a content-derived
    name (sha256 of source path + version + mtime), so a changed source or
    bumped version re-fetches while identical declarations are re-used
    across runs — the reference's ``TransferLocalFile`` replica store.
    """

    def __init__(self, files: dict[str, ExternalFile | str], cache_dir: str | None = None):
        self.files: dict[str, ExternalFile] = {
            name: f if isinstance(f, ExternalFile) else ExternalFile(f)
            for name, f in files.items()
        }
        self.cache_dir = cache_dir or os.path.join(
            os.environ.get("SPARK_GRAFT_CACHE", "/tmp"), "payload_bundle"
        )
        self._loaded: dict[str, Any] = {}
        self._broadcasts: dict[tuple[str, str], Any] = {}

    @classmethod
    def from_config(cls, config, cache_dir: str | None = None) -> "PayloadBundle":  # noqa: UP037
        """Build from a catalog Config's ``external_files`` aux entry
        (reference: ``config.x.external_files``)."""
        return cls(config.x("external_files"), cache_dir=cache_dir)

    # -- fetch ---------------------------------------------------------------
    def _cache_key(self, name: str) -> str:
        ef = self.files[name]
        mtime = os.stat(ef.path).st_mtime_ns if os.path.exists(ef.path) else 0
        digest = hashlib.sha256(f"{ef.path}|{ef.version}|{mtime}".encode()).hexdigest()[:16]
        ext = os.path.splitext(ef.path)[1] or f".{ef.fmt}"
        return f"{name}_{digest}{ext}"

    def fetch(self, name: str) -> str:
        """Local cached path for the payload, copying it in if absent."""
        if name not in self.files:
            raise ValueError(f"unknown external file {name!r}")
        os.makedirs(self.cache_dir, exist_ok=True)
        dst = os.path.join(self.cache_dir, self._cache_key(name))
        if not os.path.exists(dst):
            src = self.files[name].path
            if not os.path.exists(src):
                raise FileNotFoundError(f"external file {name!r}: {src}")
            shutil.copyfile(src, dst + ".tmp")
            os.replace(dst + ".tmp", dst)
        return dst

    # -- parse ---------------------------------------------------------------
    def load(self, name: str) -> Any:
        """Parsed payload content, memoized per bundle."""
        if name not in self._loaded:
            path = self.fetch(name)
            ef = self.files[name]
            if ef.fmt == "csv":
                # stdlib csv: quoted fields, embedded commas/newlines and
                # CRLF endings all parse correctly (a naive split(',')
                # does not — correction/SF tables commonly quote labels).
                # newline="" hands line-ending handling to the csv module
                # (required for quoted embedded newlines); rows that are
                # empty or whitespace-only are dropped, like before.
                with open(path, newline="") as fh:
                    self._loaded[name] = [
                        row for row in csv.reader(fh) if any(c.strip() for c in row)
                    ]
            else:
                with open(path) as fh:
                    self._loaded[name] = (
                        json.load(fh) if ef.fmt == "json" else fh.read()
                    )
        return self._loaded[name]

    # -- ship to executors ---------------------------------------------------
    def broadcast(self, spark: SparkSession, name: str):
        """Spark broadcast variable of the parsed payload (for Python/Pandas
        UDF lookups); one broadcast per (session, payload)."""
        key = (session_key(spark), name)
        if key not in self._broadcasts:
            self._broadcasts[key] = spark.sparkContext.broadcast(self.load(name))
        return self._broadcasts[key]

    def dataframe(self, spark: SparkSession, name: str, schema: str, rows_fn=None) -> DataFrame:
        """The payload as a broadcast-hinted DataFrame — the preferred form:
        joins against it stay JVM-side (BroadcastHashJoin), no Python in the
        hot path.  ``rows_fn`` converts the parsed payload to row tuples
        (defaults to identity for already-tabular payloads)."""
        payload = self.load(name)
        rows = rows_fn(payload) if rows_fn is not None else payload
        return F.broadcast(local_frame(spark, rows, schema))

    def as_payloads(self, spark: SparkSession) -> dict[str, Any]:
        """All payloads parsed, keyed by name — the dict handed to operator
        ``setup`` hooks (registry.ArrayFunction.setup)."""
        return {name: self.load(name) for name in self.files}


def golden_json_rows(payload: dict) -> list[tuple[int, int, int]]:
    """CMS golden-JSON shape ``{"<run>": [[lo, hi], ...]}`` → flat
    ``(run, lo, hi)`` rows for the interval semi-join (reference
    ``json_filter``, selection/cms/json_filter.py)."""
    return [
        (int(run), int(lo), int(hi))
        for run, ranges in payload.items()
        for lo, hi in ranges
    ]
