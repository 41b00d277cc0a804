import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF01_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from osmquadtree_spark import session

    s = session.build("osmquadtree-spark-tests", cpus=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rng():
    return np.random.default_rng(42)


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
