import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from hsip.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # Size the test JVM for small hosts: get_spark's 24g driver default is
    # meant for pipeline runs, and on a host with less RAM than that the
    # suite's long-lived JVM grows until the kernel kills it part-way
    # through. HSIP_DRIVER_MEM set in the environment still wins.
    os.environ.setdefault("HSIP_DRIVER_MEM", "6g")
    s = get_spark(app_name="hsip-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()
