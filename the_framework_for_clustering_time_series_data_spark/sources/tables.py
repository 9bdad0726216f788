"""Parquet table sources over the driver test data.

All reads are plain ``spark.read.parquet`` scans so Catalyst gets full
predicate pushdown / column pruning / partition pruning. At cluster
scale the same call reads a partitioned table; local files only let
:func:`load_table` memoize the inferred schema.
"""

from __future__ import annotations

import os
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# per session (dropped with it): table path -> (file-set stamp, StructType)
_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_SCHEMAS_LOCK = threading.Lock()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan ``{sf_dir}/{name}.parquet``, with ``events.ts`` normalized to
    TimestampType.

    The schema is inferred once per (session, path, file set) and later
    loads read with it supplied: ``spark.read.parquet`` without a schema
    launches a Spark job to read the footers, ~0.1 s of every query
    build. The memo is dropped for a path when any file under it is
    added, removed or rewritten (name, inode, size, mtime or ctime
    changed), so a table replaced in place is re-inferred. Paths outside
    the local filesystem (``hdfs://``, ``s3a://``, ...) are not memoized.
    """
    if name == "events":
        # ensure reader confs even on externally-built sessions
        # (runtime-settable SQLConf; harmless if already set). UTC session
        # tz makes Spark's naive-timestamp arithmetic (unix_timestamp,
        # window()) agree with DuckDB's epoch() on the same parquet.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            spark.conf.set("spark.sql.session.timeZone", "UTC")
        except Exception:
            pass
    path = f"{sf_dir}/{name}.parquet"
    schema = _table_schema(spark, path)
    df = spark.read.schema(schema).parquet(path)
    if name == "events":
        df = df.withColumn("ts", _events_ts_as_timestamp(schema))
    return df


def _table_schema(spark: SparkSession, path: str) -> StructType:
    # the stamp is taken before inferring, so a file changed in between
    # leaves a stale stamp behind and the next load infers again
    stamp = _file_set(path)
    if stamp is not None:
        with _SCHEMAS_LOCK:
            hit = _SCHEMAS.get(spark, {}).get(path)
        if hit is not None and hit[0] == stamp:
            return hit[1]
    schema = spark.read.parquet(path).schema
    if stamp is not None:
        with _SCHEMAS_LOCK:
            _SCHEMAS.setdefault(spark, {})[path] = (stamp, schema)
    return schema


def _file_set(path: str) -> tuple | None:
    """(relative name, inode, size, mtime_ns, ctime_ns) of every file
    under a local ``path``; None for a non-local or missing path."""
    if path.startswith("file:"):
        path = path[len("file:"):]
    elif "://" in path:
        return None

    def stamp(rel, st):
        return (rel, st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)

    try:
        if not os.path.isdir(path):
            return (stamp(".", os.stat(path)),)
        files = []
        for root, _, names in os.walk(path):
            for n in names:
                full = os.path.join(root, n)
                files.append(stamp(os.path.relpath(full, path), os.stat(full)))
        return tuple(sorted(files))
    except OSError:  # missing, or a file removed during the walk
        return None


def _events_ts_as_timestamp(schema: StructType):
    """Normalize ``events.ts`` to TimestampType across testdata layouts:
    TIMESTAMP(NANOS) read as long nanos (legacy conf) → floor to µs, the
    same truncation DuckDB applies on ns→µs; native parquet timestamp[us]
    (read as TIMESTAMP_NTZ) → plain cast. Every downstream op sees one
    type regardless of which layout the scan hit."""
    if isinstance(schema["ts"].dataType, LongType):
        return F.timestamp_micros(F.expr("ts div 1000"))
    return F.col("ts").cast("timestamp")


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def events_as_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``events`` table viewed as the reference's grouped time-series
    input (SURVEY.md §1.5): ``series_id`` = user_id, explicit time ordinal
    ``t`` = rank of ``ts`` within the series, ``value`` = value.

    Replaces the reference's implicit-row-order semantics
    (/root/reference/app.py:204-217) with an explicit, deterministic
    ordinal — Spark has no stable row order, so ``t`` is derived from the
    event timestamp (tie-broken by event_id).
    """
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events")
    # Alias BEFORE the ordinal window: downstream windows/groupBys key
    # on series_id, and if the window here partitioned on user_id the
    # alias would be a NEW attribute — Catalyst would not recognize the
    # existing hashpartitioning and every consumer would pay a second
    # exchange (the ts_ewma pitfall, generalized).
    base = ev.select(
        F.col("user_id").alias("series_id"),
        "ts",
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    w = Window.partitionBy("series_id").orderBy("ts", "event_id")
    return base.select(
        "series_id",
        (F.row_number().over(w) - F.lit(1)).alias("t"),
        "value",
    )
