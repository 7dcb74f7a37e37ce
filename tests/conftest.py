import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from doc_quality_check_spark.session import get_spark
from doc_quality_check_spark.sources.clips import generate_clips

CLIPS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".data", "clips_test")
N_TEST_CLIPS = 2400


@pytest.fixture(scope="session")
def spark():
    # cores follow the host (SPARK_GRAFT_CPUS); shuffle partitions stay
    # fixed so every plan the tests audit keeps its shape on any core count
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    s = get_spark("dqcs-tests", cores=cores, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def clips_dir():
    return generate_clips(os.path.abspath(CLIPS_DIR), n_rows=N_TEST_CLIPS, seed=42)


@pytest.fixture(scope="session")
def sf001_dir():
    return "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def sf01_dir():
    return "/root/testdata/sf0.01"
