from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from pim_orc_spark.session import get_spark

    s = get_spark("pim_orc_spark-tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture
def round_trips(monkeypatch):
    """``round_trips(fn, *args)`` calls ``fn(*args)`` and returns (the
    Py4J gateway round trips it made, its result). Every Column-API
    call is at least one round trip, so the count is the driver-side
    cost of building a plan (plus any eager jobs the build fires).
    Counted by wrapping the gateway connection's ``send_command``, on
    the calling thread only: py4j's finalizer thread sends a detach
    command for every garbage-collected JVM handle whenever it wakes,
    and counting those charged earlier tests' garbage to the build
    (measured: 294 detach commands in one ``multimodal_phash_dedup``
    window)."""
    import threading

    from py4j.clientserver import ClientServerConnection

    send = ClientServerConnection.send_command

    def count(fn, *args):
        calls = 0
        caller = threading.get_ident()

        def counted(self, command):
            nonlocal calls
            calls += threading.get_ident() == caller
            return send(self, command)

        with monkeypatch.context() as m:
            m.setattr(ClientServerConnection, "send_command", counted)
            result = fn(*args)
        return calls, result

    return count
