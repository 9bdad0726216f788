"""SparkSession factory tuned for this engine.

Local testing runs ``local[N]``; the configs below are the ones that
matter identically on a 1000-executor cluster: AQE (runtime re-plan,
skew-join splitting, partition coalescing), Arrow for the pandas-UDF
slow path, and shuffle-partition sizing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "the_framework_for_clustering_time_series_data_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # Adaptive execution: runtime partition coalescing + skew-join
        # splitting — the knob that keeps plans healthy at 100 TB.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # The driver testdata stores events.ts as TIMESTAMP(NANOS), which
        # Spark's parquet reader rejects by default — read as long nanos
        # and convert at the source (sources.tables.load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Naive parquet timestamps (events.ts) must mean the same instant
        # in Spark and the DuckDB oracle: pin UTC.
        .config("spark.sql.session.timeZone", "UTC")
        # Arrow transfer for the pandas-UDF operators (DTW/UMAP/K-Shape…).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions if shuffle_partitions is not None else int(cpus)),
        )
        # Broadcast threshold: small dims (region/nation/centroids) must
        # broadcast, never shuffle.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # PySpark wraps every classic Column method and F.col in call-site
        # capture: each call asks the JVM for the active session, the
        # stack-trace depth conf and PySparkCurrentOrigin, then sets and
        # clears the origin — 10-17 extra py4j round trips per Column call
        # (F.col("x").alias("y") 24 → 4, F.min(col ^ lit) 30 → 10), paid
        # on every plan build.
        # Runtime errors keep their error class and DataFrame query
        # context; that context loses only the Python file:line (a
        # division by zero reports "divide" called from a JVM frame
        # instead of "__truediv__" called from the user's file:line).
        # PySpark caches this flag at the first Column call made under
        # an active session, so it must be set here, before any plan is
        # built.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Compiled generated classes, keyed by their source. Spark's
        # default keeps 100, fewer than one warm rotation of the perfbench
        # workloads needs (corpus_curation ~190 classes, interactive_small
        # ~265), so every repeated query recompiled (Janino) and re-JITted
        # each class; at 2,000 a warm rotation compiles none. The whole
        # 290-query registry at sf0.001 compiles ~4,400 distinct classes;
        # JVM Metaspace after one pass over it and a full GC: 258 MB at
        # 2,000 entries, 244 MB at the default (267-280 MB and 245-298 MB
        # before the GC, which unloads evicted classes).
        # A static conf: it must be set before the session exists.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    # measurement seam: SPARK_GRAFT_DRIVER_JAVA_OPTS="-Xlog:gc*:file=…"
    # lets a sweep capture GC logs for heap-pressure adjudication (the
    # round-11 c8@sf100 GCLocker finding) without code edits
    extra_java = os.environ.get("SPARK_GRAFT_DRIVER_JAVA_OPTS")
    if extra_java:
        builder = builder.config("spark.driver.extraJavaOptions", extra_java)
    return builder.getOrCreate()
