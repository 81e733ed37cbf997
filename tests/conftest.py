from __future__ import annotations

import sys
import time
from collections import Counter
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from cloudcomputing_servicecompositiontest_datapipeline_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CHECK = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_check_dir() -> str:
    return SF_CHECK


@pytest.fixture
def canonical_both_paths(monkeypatch):
    """``cluster_canonical`` run twice, on its driver path (every test graph
    is far below the edges-per-partition unit) and on its label-propagation
    loop (forced for any non-empty graph by a unit of 1 edge); asserts both
    give the same rows and returns them."""
    from cloudcomputing_servicecompositiontest_datapipeline_spark.operators import dedup

    def run(*args, **kwargs):
        driver = dedup.cluster_canonical(*args, **kwargs).collect()
        with monkeypatch.context() as m:
            m.setattr(dedup, "_EDGES_PER_PARTITION", 1)
            loop = dedup.cluster_canonical(*args, **kwargs).collect()
        assert Counter(driver) == Counter(loop)
        return driver

    return run


@pytest.fixture
def settled_jobs(spark):
    """A function returning the ids of every job the session has submitted.
    The status store is fed by the async listener bus, so it polls until
    the job-id set stops moving: a late-landing event cannot leak into the
    next snapshot's diff."""
    tracker = spark.sparkContext.statusTracker()

    def snapshot() -> set[int]:
        prev = set(tracker.getJobIdsForGroup() or [])
        for _ in range(30):
            time.sleep(0.1)
            cur = set(tracker.getJobIdsForGroup() or [])
            if cur == prev:
                return cur
            prev = cur
        return prev

    return snapshot
