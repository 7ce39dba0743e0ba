"""SparkSession factory with scale-aware defaults.

Local-mode testing defaults; on a real cluster the same settings are
sane starting points (AQE re-plans shuffle partition counts at
runtime, so ``spark.sql.shuffle.partitions`` is a ceiling, not a
tuning knob).

PySpark's DataFrame origin capture is off
(``spark.python.sql.dataFrameDebugging.enabled=false``). With it on,
every Column call records its Python call site in the JVM: about six
Py4J round trips per expression node, paid on the driver while a
query is *built*, before any Spark job runs (a warm build of the q23
MinHash query sent ~4,300 commands with it, ~1,250 without). Results
are identical either way. What is lost is the Python call site in the
"== DataFrame ==" context of ANSI runtime errors: with capture on, a
divide by zero names the Python file and line of the ``/``; off, it
names a JVM frame. The package's own errors name the feature, table
or query regardless. To get the context back, pass
``extra_conf={"spark.python.sql.dataFrameDebugging.enabled": "true"}``.
PySpark reads the flag once per process, at the first Column call
made under an active session.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "diseasystore-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Driver testdata writes TIMESTAMP(NANOS) parquet (events.ts);
        # Spark reads them as raw nanosecond longs with this flag and we
        # convert explicitly where needed.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # INT96 (the Spark default) carries NO parquet column
        # statistics; TIMESTAMP_MICROS is the modern annotated int64,
        # gives min/max + null_count footers (the SCD2 store's
        # until_ts-axis file pruning reads them) and is what every
        # non-Spark reader (DuckDB, pyarrow) expects anyway.
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Origin capture costs ~6 Py4J round trips per Column call at
        # build time, for an error-context line only; see the module
        # docstring (re-enable through ``extra_conf``).
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_bounded_window_warning(spark)
    return spark


def _silence_bounded_window_warning(spark: SparkSession) -> None:
    """Raise the WindowExec logger to ERROR — targeted, documented.

    WindowExec logs "No Partition Defined ... serious performance
    degradation" for EVERY unpartitioned window, with no way to see
    frame size. This repo gates unpartitioned windows structurally
    instead: ``tests/test_plan_lint.py`` walks every registry query's
    physical plan and fails the build if a query has more global
    windows than its reviewed, per-query bounded-frame allowance
    (sketch-sized, quantize-bounded, hypothesis-count frames — never
    data-sized). With the lint gate enforcing the real invariant, the
    blanket warning is noise that buries real warnings in the oracle
    sweep; genuine WindowExec ERRORs still surface."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments keep the default logging
