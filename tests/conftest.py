import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(__file__))

# Pip-less protobuf drop — see ena_database_build_spark/pbshim.py for
# the full story (fresh owner-only mkdtemp dir per r8 ADVICE; falls
# back to None — i.e. a visible test skip — on any unusable SDK drop
# per r8 #7).  Moved into the package in r11 so the streaming-replay
# catalog row can install it outside the test tree.
from ena_database_build_spark.pbshim import install_protobuf_shim  # noqa: E402

install_protobuf_shim()

from ena_database_build_spark.session import get_spark  # noqa: E402

# the smallest generated TPC-H-style corpus (TESTDATA.md)
SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("ena-spark-tests", master="local[4]", shuffle_partitions=4)
    yield spark
