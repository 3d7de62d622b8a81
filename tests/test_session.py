"""Session factory: conf it sets and what it leaves on disk."""

import glob
import os
import tempfile

from aristoteles_spark.session import get_spark, host_driver_mem


def _meta_dirs():
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "aspark_meta_*")))


def test_call_site_capture_off(spark):
    s = get_spark("aristoteles_spark_tests")
    assert s.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_tungsten_page_is_four_mib(spark):
    # the size the memory manager hands every sort/aggregate task, not
    # only the conf string: Spark's own default is 64 MB on a 16g driver
    mm = spark._jvm.org.apache.spark.SparkEnv.get().memoryManager()
    assert mm.pageSizeBytes() == 4 << 20


def test_live_session_makes_no_warehouse_dir(spark):
    before = _meta_dirs()
    for _ in range(2):
        assert get_spark("aristoteles_spark_tests") is spark
    assert _meta_dirs() == before


def test_host_driver_mem_fits_host():
    gib = int(host_driver_mem().removesuffix("g"))
    host_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    assert 1 <= gib <= 48 and gib <= max(host_gib / 2, 1)
