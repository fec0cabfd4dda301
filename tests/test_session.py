"""The local session's JVM memory rule (``session.local_jvm_memory``)."""

from __future__ import annotations

import os

from epicsarchiver_spark.session import local_jvm_memory

GIB = 1 << 30


def test_jvm_memory_follows_physical_memory():
    # half the machine as heap, an eighth as direct memory
    assert local_jvm_memory(16 * GIB) == ("8192m", "2048m")
    assert local_jvm_memory(15 * GIB + 735 * (1 << 20)) == ("8047m", "2011m")
    # capped at the former fixed defaults (16g / 8g) from 64 GB up
    assert local_jvm_memory(32 * GIB) == ("16384m", "4096m")
    assert local_jvm_memory(256 * GIB) == ("16384m", "8192m")
    # floors on a small box
    assert local_jvm_memory(1 * GIB) == ("1024m", "512m")


def test_session_uses_the_rule(spark):
    conf = spark.sparkContext.getConf()
    heap, direct = local_jvm_memory()
    assert conf.get("spark.driver.memory") == os.environ.get("SPARK_GRAFT_DRIVER_MEM", heap)
    assert f"-XX:MaxDirectMemorySize={direct}" in conf.get("spark.driver.extraJavaOptions")
