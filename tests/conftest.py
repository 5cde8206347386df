from __future__ import annotations

import os
import sys

import pytest

REPO_DIR = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_DIR not in sys.path:
    sys.path.insert(0, REPO_DIR)

from emap_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # 4-8 task slots, no more than the cores the process may run on: the
    # fixtures are tiny, so slots beyond the cores only add scheduling
    # overhead (local[8] on a 4-core box ran the merge suites ~10% slower)
    cpus = min(8, max(4, len(os.sched_getaffinity(0))))
    s = get_spark("emap_spark_tests", cpus=cpus, shuffle_partitions=cpus)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
