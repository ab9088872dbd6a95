"""SparkSession construction for tests / bench / local runs.

The driver's harness supplies its own session to ``__spark_entry__`` —
engine code must therefore never *require* a session built here. This
builder is for our own tests and bench runs (SURVEY.md §7 M0).

100 TB notes: on a real cluster these same settings apply, plus
``spark.sql.shuffle.partitions`` sized to ~128 MB per shuffle partition
(AQE coalesces down at runtime), executor-side Arrow batches for pandas
UDFs, and CBO stats collected on the fact tables.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

WINDOW_EXEC_LOGGER = "org.apache.spark.sql.execution.window.WindowExec"


def build_session(
    app_name: str = "wikipedia-xmldump-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join splitting (Spark 4
        # default-on; pinned here so the plan survives config drift).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Deterministic timezone: oracle parity (DuckDB is tz-naive).
        .config("spark.sql.session.timeZone", "UTC")
        # events.parquet carries TIMESTAMP(NANOS) which Spark cannot map;
        # read as epoch-nanos long, converted in io.load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Arrow for pandas UDF / toPandas round-trips.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4 wraps every Column/DataFrame op to capture call-site
        # context for enriched error messages; the wrapper costs 3-4 py4j
        # round-trips per operation (errors/utils.py calls getActiveSession
        # per op), ~25-30% of DataFrame-construction time on build-heavy
        # queries. Results are unaffected — only failure tracebacks lose
        # the user-code call-site line. Latched once per Python process at
        # first session creation.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(cpus)),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # A window with no PARTITION BY warns on every plan that contains one;
    # those single-partition windows are gated by the GlobalWindowExec
    # waivers in plans/audit.py, so only this logger is raised to ERROR.
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        WINDOW_EXEC_LOGGER, jvm.org.apache.logging.log4j.Level.ERROR
    )
    return spark


def cluster_conf(
    executors: int = 1000,
    cores_per_executor: int = 4,
    target_shuffle_partition_mb: int = 128,
    expected_shuffle_tb: float = 20.0,
) -> dict[str, str]:
    """The deployment profile for a REAL cluster run — the settings the
    local builder's "100 TB notes" reference, as one reviewed, testable
    dict (pass to ``SparkSession.builder.config(map=...)`` or spark-submit
    ``--conf`` lines).

    Sizing logic, stated so operators can re-derive it:

    - ``spark.sql.shuffle.partitions`` = expected shuffle bytes /
      target-partition-size, floored at 2x total cores — the INITIAL
      number; AQE coalesces small stages down at runtime, so oversizing
      is cheap and undersizing (spills) is not.
    - ``maxPartitionBytes`` 128 MB + ``openCostInBytes`` 4 MB: scan-side
      split sizing — big enough to amortize task overhead, small enough
      that a task's columnar batches fit executor memory alongside
      shuffle buffers.
    - AQE on with coalescing + skew split (the automatic half of the
      skew story; join_skew_salted documents the manual half).
    - ``autoBroadcastJoinThreshold`` 64 MB: every dim in this schema
      (region/nation/supplier/part at any SF, redirect dims, LM vocab
      tables) broadcasts; fact-fact joins never do.
    - Kryo with registrationRequired explicitly false: Tungsten handles
      SQL data; Kryo covers the few broadcast python-side payloads.
    - Dynamic allocation with shuffle tracking: the fleet's bursty
      (scan-heavy then epilogue-tiny) profiles return executors between
      stages.
    - Speculation on: one straggling disk on 4000 cores otherwise gates
      every wide stage. CAVEAT — JDBC-writing jobs (sink_jdbc, the
      import_dump_full DB-load stage) must NOT run under this profile:
      the JDBC sink is a non-transactional per-partition write, so a
      speculative duplicate attempt can commit the same partition twice
      and duplicate rows. Run DB loads in a separate session with
      ``spark.speculation=false`` (idempotent file sinks — Parquet via
      the output committer — are safe under speculation).
    """
    total_cores = executors * cores_per_executor
    shuffle_parts = max(
        2 * total_cores,
        int(expected_shuffle_tb * 1024 * 1024 / target_shuffle_partition_mb),
    )
    return {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_parts),
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        "spark.sql.files.openCostInBytes": str(4 * 1024 * 1024),
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
        "spark.sql.session.timeZone": "UTC",
        "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
        "spark.kryo.registrationRequired": "false",
        "spark.dynamicAllocation.enabled": "true",
        "spark.dynamicAllocation.shuffleTracking.enabled": "true",
        "spark.dynamicAllocation.maxExecutors": str(executors),
        "spark.speculation": "true",
        "spark.speculation.quantile": "0.9",
        "spark.sql.cbo.enabled": "true",
        "spark.sql.cbo.joinReorder.enabled": "true",
        "spark.sql.statistics.histogram.enabled": "true",
    }
