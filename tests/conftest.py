from __future__ import annotations

import os

import pytest

# override with SPARK_GRAFT_TEST_SF_DIR to sweep the suite at another
# scale factor (e.g. sf0.1 — catches round-4 float knife edges that only
# materialize with more rows)
SF_SMOKE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from columnflow_spark.session import get_spark

    spark = get_spark("columnflow_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture
def candidate_scans(monkeypatch):
    """Every candidate scan the served index reads collect
    (``annindex._candidate_scan``): their frame is a local relation, so
    plan checks on the index read look at these scans."""
    from columnflow_spark.queries import annindex

    scans, scan = [], annindex._candidate_scan
    monkeypatch.setattr(
        annindex, "_candidate_scan", lambda *a: scans.append(scan(*a)) or scans[-1]
    )
    return scans
