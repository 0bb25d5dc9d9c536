import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fermor_spark import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # SPARK_GRAFT_CPUS (the tier-1 command exports nproc) wins over the
    # local[8] default; an explicit cpus= argument would shadow it
    s = get_spark(app_name="fermor-tests", shuffle_partitions=4,
                  cpus=os.environ.get("SPARK_GRAFT_CPUS") or "8")
    yield s
