import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tytodb_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
# override to run the full differential gate at another scale factor
# (e.g. SPARK_GRAFT_ORACLE_SF_DIR=/root/testdata/sf0.001 catches
# fixture-coupled bugs the default sf0.01 gate can't see)
SF_ORACLE = os.environ.get(
    "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
)


@pytest.fixture(scope="session")
def spark():
    # Sized from the box: get_spark's local[*] (or SPARK_GRAFT_CPUS) and
    # its RAM-sized heap. The suite's wall-clock is a gate (the r11
    # verify pass was killed at ~26% progress), and its biggest block —
    # the 515-query DuckDB differential — is core-bound: measured 403 s
    # at local[8] vs 198 s at local[32] on a 32-core box. On a 4-vCPU,
    # 16 GB box, a fixed local[32] with a 16 GB heap thrashed on memory
    # (up to one Python worker per slot; an OOM kill) and missed its
    # timeout. Nothing in the suite depends on the core count
    # (partition-invariance is itself under test); override with
    # SPARK_GRAFT_TEST_CPUS / TYTO_DRIVER_MEM.
    spark = get_spark("tytodb_spark_tests", cpus=os.environ.get("SPARK_GRAFT_TEST_CPUS"))
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def oracle_sf_dir():
    return SF_ORACLE


def pytest_addoption(parser):
    parser.addoption(
        "--run-slow",
        action="store_true",
        default=False,
        help="run sf0.1 scale-smoke tests (see tests/test_scale_smoke.py)",
    )


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: sf0.1 scale smoke (needs --run-slow)"
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--run-slow"):
        return
    skip = pytest.mark.skip(reason="needs --run-slow (sf0.1 scale smoke)")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)
