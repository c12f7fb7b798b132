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


class Py4JCalls:
    """Counts driver→JVM round-trips (Py4J ``send_command`` calls, from any
    thread) made inside a ``with`` block; the total is ``.n``. Releases of
    JVM object proxies are not counted: they follow Python's garbage
    collector, not the calls made in the block."""

    def __init__(self):
        self.n = 0

    def __enter__(self):
        from py4j.clientserver import ClientServerConnection
        from py4j.protocol import MEMORY_COMMAND_NAME, MEMORY_DEL_SUBCOMMAND_NAME

        release = MEMORY_COMMAND_NAME + MEMORY_DEL_SUBCOMMAND_NAME
        self._send = send = ClientServerConnection.send_command

        def counted(conn, command):
            self.n += not command.startswith(release)
            return send(conn, command)

        ClientServerConnection.send_command = counted
        return self

    def __exit__(self, *exc):
        from py4j.clientserver import ClientServerConnection

        ClientServerConnection.send_command = self._send


@pytest.fixture
def py4j_calls():
    """``with py4j_calls() as calls: ...``, then ``calls.n``."""
    return Py4JCalls


@pytest.fixture(autouse=True)
def _release_scoped_caches():
    # direct operator calls enter persist_scoped's pool with no registry
    # build to release it: every test leaves the scope empty
    yield
    release_scoped()
