from __future__ import annotations

import os
import sys
import tempfile

import pytest

# the checkout this conftest belongs to, so a suite run from a second
# checkout tests that checkout's package
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from xboard_spark.session import get_spark

_TMP = tempfile.mkdtemp(prefix="xboard-spark-tests-")


@pytest.fixture(scope="session")
def spark():
    # warehouse + derby metastore pinned to a temp dir so saveAsTable tests
    # never write into the repo
    s = get_spark(
        "xboard-tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": f"{_TMP}/warehouse",
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={_TMP}/derby",
        },
    )
    yield s


_TESTDATA_ROOT = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata")


@pytest.fixture(scope="session")
def sf_dir():
    return f"{_TESTDATA_ROOT}/sf0.001"


@pytest.fixture(scope="session")
def sf_dir_mid():
    """sf0.01 — for tests whose statistical bounds need more rows than
    sf0.001 provides (HLL/t-digest accuracy)."""
    return f"{_TESTDATA_ROOT}/sf0.01"
