from __future__ import annotations

import os
import sys

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from ydb_vector_search_demo_spark.session import get_spark

    # local[SPARK_GRAFT_CPUS] with as many shuffle partitions (get_spark)
    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(autouse=True)
def _release_dedup_persisted():
    """Dedup operators persist self-join inputs; release them after every
    test so a full suite run never accumulates pinned executor storage
    (same contract as bench.py between timed queries)."""
    yield
    from ydb_vector_search_demo_spark.operators import dedup

    dedup.release_persisted()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
