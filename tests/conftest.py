import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# get_spark's default driver heap (48g) can exceed the host's RAM: the
# JVM then grows toward it lazily and the kernel may OOM-kill it mid-suite,
# failing every later test. Cap the test JVM's heap at half of RAM.
_ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
os.environ.setdefault("SPARK_DRIVER_MEM", f"{max(2, _ram_gb // 2)}g")


@pytest.fixture(scope="session")
def spark():
    from informers_spark.session import get_spark

    s = get_spark(app_name="informers_spark_tests", cores=8, shuffle_partitions=8)
    yield s
