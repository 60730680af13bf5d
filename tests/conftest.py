from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from confluence2md_spark.session import get_spark

    s = get_spark(app_name="pytest", master="local[4]", shuffle_partitions=4)
    yield s
    try:
        s.stop()
    except Exception as exc:
        if not _gateway_lost(exc):  # a dead JVM is already reported
            raise


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return "/root/testdata/sf0.001"


def _gateway_lost(exc: BaseException | None) -> bool:
    """True if `exc` (or anything it was raised from) says py4j lost the
    driver JVM: a network error on the gateway socket, or a refused
    reconnect."""
    from py4j.protocol import Py4JNetworkError

    seen: set[int] = set()
    while exc is not None and id(exc) not in seen:
        seen.add(id(exc))
        if isinstance(exc, (Py4JNetworkError, ConnectionRefusedError)):
            return True
        exc = exc.__cause__ or exc.__context__
    return False


def pytest_exception_interact(node, call, report):
    """Every test shares one session-scoped Spark JVM: once it is gone,
    each later test fails on the dead gateway. Stop at the first such
    failure with one message instead of hundreds of cascaded ones."""
    if report.failed and _gateway_lost(call.excinfo.value):
        pytest.exit(
            f"the Spark driver JVM died during {node.nodeid} (py4j lost its "
            "gateway), most likely killed for memory; every later test "
            "would fail the same way. Lower the driver heap with "
            "SPARK_GRAFT_DRIVER_MEM (e.g. SPARK_GRAFT_DRIVER_MEM=4g) and "
            "re-run.",
            returncode=3,
        )
