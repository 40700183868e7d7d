"""SparkSession factory: the driver heap is sized to the host."""

from __future__ import annotations

import os


def test_driver_heap_fits_physical_memory(spark):
    """A heap pinned above physical RAM lets the kernel OOM-kill the driver
    before Spark ever spills; both the configured and the JVM's actual
    maximum heap must fit in this host's memory."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    jvm = spark.sparkContext._jvm
    conf = spark.conf.get("spark.driver.memory")
    assert jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(conf) <= ram
    assert jvm.java.lang.Runtime.getRuntime().maxMemory() <= ram
