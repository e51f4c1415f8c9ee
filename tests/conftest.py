from __future__ import annotations

import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from ai_batch_processing_spark.session import get_spark

    s = get_spark("tests", shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def spark_conf(spark):
    """``with spark_conf({key: value}):`` sets session confs for the block
    and restores the previous values after it."""

    @contextlib.contextmanager
    def override(conf: dict[str, str]):
        old = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            yield
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return override


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from ai_batch_processing_spark.testing import duck_con

    return duck_con(sf_dir)
