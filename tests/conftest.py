from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dipa_collaborative_pulsar_idps_spark.queries import clear_all_caches  # noqa: E402
from dipa_collaborative_pulsar_idps_spark.session import get_spark  # noqa: E402

SF_SMALL = "/root/testdata/sf0.001"
SF_MEDIUM = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("dipa-tests", master="local[8]", shuffle_partitions=8)
    yield s
    # release the session memos, which also removes the incremental-index
    # directories they created under the temp dir
    clear_all_caches()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMALL
