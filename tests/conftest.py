import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linked_maps_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # small local session for tests; shuffle partitions kept low for speed.
    # The background plan-compile warm (a micro ingest prewarm_workers runs
    # by default) is disabled here: it exists to hoist codegen cost off the
    # bench's timed epoch, and in a 4-core test session it would only race
    # the early tests for cores.  test_ingest covers the warm explicitly.
    os.environ.setdefault("LMS_PLAN_WARM", "0")
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # the session default heap (24g) is sized for the bench box; the test
    # fixtures are small, and the suite passes with this much
    os.environ.setdefault("SPARK_DRIVER_MEM", "4g")
    sp = get_spark("linked-maps-tests", cores=4, shuffle_partitions=4)
    yield sp


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """Callable returning the py4j commands the driver has sent since the
    fixture started.  Releases of garbage-collected JVM proxies are not
    counted: when they are sent depends on Python's collector."""
    from py4j import protocol

    release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
    cls = type(spark.sparkContext._gateway._gateway_client)
    orig = cls.send_command
    sent = []  # list.append is atomic: ingest sends from its write threads too

    def send_command(client, command, *a, **kw):
        if not command.startswith(release):
            sent.append(1)
        return orig(client, command, *a, **kw)

    monkeypatch.setattr(cls, "send_command", send_command)
    return lambda: len(sent)
