"""cluster_conf sanity: the deployment profile must be loadable by a real
SparkSession (every key recognized at its stated value) and its sizing
arithmetic must scale the way the docstring derives it."""

from __future__ import annotations

from wikipedia_org_xmldump_importer_spark.session import (
    WINDOW_EXEC_LOGGER,
    cluster_conf,
)


def test_sizing_arithmetic():
    c = cluster_conf(executors=1000, cores_per_executor=4,
                     expected_shuffle_tb=20.0)
    # 20 TB / 128 MB = 163,840 partitions > 2 * 4000 cores
    assert int(c["spark.sql.shuffle.partitions"]) == 163_840
    small = cluster_conf(executors=10, cores_per_executor=4,
                         expected_shuffle_tb=0.0)
    # floor: 2x total cores when the shuffle estimate is tiny
    assert int(small["spark.sql.shuffle.partitions"]) == 80
    assert c["spark.dynamicAllocation.maxExecutors"] == "1000"


def test_profile_is_accepted_by_a_live_session(spark):
    # every runtime-settable key must be recognized; static keys
    # (serializer, dynamic allocation) at least parse as conf pairs
    runtime_settable = {
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.enabled",
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.files.openCostInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.execution.arrow.pyspark.enabled",
        "spark.sql.execution.arrow.maxRecordsPerBatch",
        "spark.sql.session.timeZone",
        "spark.sql.cbo.enabled",
        "spark.sql.cbo.joinReorder.enabled",
        "spark.sql.statistics.histogram.enabled",
    }
    c = cluster_conf()
    saved = {}
    try:
        for k in runtime_settable:
            saved[k] = spark.conf.get(k, None)
            spark.conf.set(k, c[k])  # raises on unknown/illegal values
            assert spark.conf.get(k) == c[k]
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_window_exec_warning_silenced_only_at_its_logger(spark):
    # build_session raises the WindowExec "No Partition Defined" logger to
    # ERROR; every other logger keeps the session's WARN level.
    log_manager = spark._jvm.org.apache.logging.log4j.LogManager
    level = log_manager.getLogger(WINDOW_EXEC_LOGGER).getLevel().toString()
    assert level == "ERROR"
    assert log_manager.getRootLogger().getLevel().toString() == "WARN"
    sibling = "org.apache.spark.sql.execution.window.WindowExecBase"
    assert log_manager.getLogger(sibling).getLevel().toString() == "WARN"
