"""Session defaults fit the machine the suite runs on."""

import os


def test_driver_heap_fits_physical_memory(spark):
    conf = spark.sparkContext.getConf()
    heap = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        conf.get("spark.driver.memory")
    )
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert 0 < heap <= phys
    xms = f"-Xms{conf.get('spark.driver.memory')}"
    assert xms in conf.get("spark.driver.extraJavaOptions").split()
