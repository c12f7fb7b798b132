from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from weatherdatapipeline_spark.operators.text import release_scoped
from weatherdatapipeline_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small local parallelism: test data is tiny, scheduling overhead dominates
    s = get_spark("tests", cpus=4, extra_conf={"spark.sql.shuffle.partitions": "4"})
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(autouse=True)
def _release_scoped_caches():
    # direct operator calls enter persist_scoped's pool with no registry
    # build to release it: every test leaves the scope empty
    yield
    release_scoped()
