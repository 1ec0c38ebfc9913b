"""The engine session's Tungsten page and broadcast chunk sizes: below
half a G1 heap region, and 8192 pages still cover the heap."""

from __future__ import annotations

from pyspark.sql import SparkSession

from mhm_data_pipelines_spark.session import get_spark


def _g1_region_bytes(spark) -> int:
    jvm = spark._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    return int(bean.getVMOption("G1HeapRegionSize").getValue())


def test_pages_and_broadcast_chunks_stay_below_half_a_g1_region(spark):
    region = _g1_region_bytes(spark)
    assert region > 0, "the session's JVM does not run G1"
    sc = spark._jsc.sc()
    page = sc.env().memoryManager().pageSizeBytes()
    chunk = sc.conf().getSizeAsBytes("spark.broadcast.blockSize", "4m")
    assert page < region // 2
    assert chunk < region // 2
    # A task's page table has 8192 entries; its pages can still span the heap.
    assert 8192 * page >= spark._jvm.java.lang.Runtime.getRuntime().maxMemory()


def test_buffer_sizes_follow_the_heap_and_yield_to_explicit_values(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda self: dict(self._options))
    conf = get_spark(extra_conf={"spark.driver.memory": "2g",
                                 "spark.broadcast.blockSize": "4m"})
    assert conf["spark.buffer.pageSize"] == "256k"
    assert conf["spark.broadcast.blockSize"] == "4m"
    assert get_spark()["spark.buffer.pageSize"] == "1024k"
