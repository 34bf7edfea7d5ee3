"""The session's JVM-side settings, read back over py4j: each one must
reach the class or the heap it is chosen for. No fixture needed."""

from __future__ import annotations

import pytest


def _vm_option(spark, name: str) -> str:
    jvm = spark._jvm
    bean_class = jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(bean_class)
    return bean.getVMOption(name).getValue()


def test_broadcast_blocks_stay_below_half_a_g1_region(spark):
    """A broadcast chunk of half a G1 region or more is a humongous
    object: allocated straight into the old generation, and a trigger of
    its own for a GC."""
    if _vm_option(spark, "UseG1GC") != "true":
        pytest.skip("the driver JVM does not run G1")
    region = int(_vm_option(spark, "G1HeapRegionSize"))
    block = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
        spark.sparkContext.getConf().get("spark.broadcast.blockSize")
    )
    assert 0 < block < region // 2, (block, region)


def test_checkpoint_file_manager_is_filesystem_based(spark, tmp_path):
    """Spark's own factory, fed the session's Hadoop conf, loads the
    configured checkpoint manager: the FileSystem-based one, whose
    renames do not fork ``readlink`` as FileContext's do."""
    jvm = spark._jvm
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    manager = checkpointing.CheckpointFileManager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    name = manager.getClass().getName()
    assert name == spark.conf.get("spark.sql.streaming.checkpointFileManagerClass")
    assert name.endswith(".FileSystemBasedCheckpointFileManager")
