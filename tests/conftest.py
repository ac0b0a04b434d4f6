from __future__ import annotations

import os

import pytest

from parallel_louvain_method_spark.session import get_spark

# F1a golden16 — verbatim fixture from the reference's golden test
# (/root/reference/tests/main_test.cpp:54-59; same graph as data/graph/0..3)
GOLDEN16_EDGES = [
    (1, 2), (1, 4), (1, 7), (2, 0), (2, 4), (2, 5), (2, 6), (3, 0), (3, 7),
    (4, 0), (4, 10), (5, 0), (5, 7), (5, 11), (6, 7), (6, 11), (8, 9),
    (8, 10), (8, 11), (8, 14), (8, 15), (9, 12), (9, 14), (10, 11), (10, 12),
    (10, 13), (10, 14), (11, 13),
]

# F1b csr5 — pins CSR layout (/root/reference/tests/main_test.cpp:19-30)
CSR5_EDGES = [(0, 1), (0, 2), (1, 2), (1, 3), (2, 4)]

GOLDEN16_Q_INITIAL = -0.0714286
GOLDEN16_Q_FINAL = 0.346301
GOLDEN16_N_COMMUNITIES = 4
EPS = 1e-6

# Per-vertex golden assignment under sequential reference semantics
# (ascending visit order, strict >, current-community-first tie break) —
# communities labeled by their representative's original vertex id.
GOLDEN16_ASSIGNMENT = {
    0: 4, 1: 4, 2: 4, 3: 7, 4: 4, 5: 4, 6: 7, 7: 7,
    8: 12, 9: 12, 10: 12, 11: 13, 12: 12, 13: 13, 14: 12, 15: 12,
}


def _test_driver_memory() -> str:
    """The smaller of 8g and half the host's memory: the 48g library
    default lets the test JVM grow until a small shared host's OOM killer
    takes it, failing every later test."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    return f"{max(1024, min(8192, mem_mb // 2))}m"


@pytest.fixture(scope="session")
def spark():
    conf = {}
    if not os.environ.get("PLM_DRIVER_MEM"):
        conf["spark.driver.memory"] = _test_driver_memory()
    s = get_spark(
        app_name="plm-tests", cores=4, shuffle_partitions=4, extra_conf=conf
    )
    yield s
    s.stop()


@pytest.fixture()
def golden16_df(spark):
    return spark.createDataFrame(
        [(a, b, 1.0) for a, b in GOLDEN16_EDGES], "src long, dst long, weight double"
    )


@pytest.fixture()
def csr5_df(spark):
    return spark.createDataFrame(
        [(a, b, 1.0) for a, b in CSR5_EDGES], "src long, dst long, weight double"
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-minute end-to-end scale tests"
    )
