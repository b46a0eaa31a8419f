"""SparkSession factory.

UTC session timezone (the reference normalizes every timestamp to UTC —
``data_cleaner.py:184-188``, ``timeseries_db.py:229-234``), AQE on for
runtime coalescing / skew-join handling, Arrow on for the pandas-UDF
kernels. Shuffle partitions default to the local core count; at cluster
scale callers override via ``extra_conf`` or ``spark.sql.shuffle.partitions``
on submit (AQE coalesces down from a high initial number anyway).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    # The reference's coercion semantics are pandas `errors="coerce"`
    # (junk → NaN) and silent divide-by-zero; Spark 4's ANSI default
    # would throw instead (SURVEY.md F1), so ANSI is off engine-wide.
    "spark.sql.ansi.enabled": "false",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet writer defaults: columnar + zstd beats the reference's
    # whole-file zlib/lzma/bz2 (SURVEY.md S21) on both ratio and scan speed.
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.parquet.filterPushdown": "true",
    # Let Python DataSources (sources/kline_datasource.py) receive
    # pushFilters() — symbol/time predicates prune fetch partitions.
    "spark.sql.python.filterPushdown.enabled": "true",
    # Write timestamps as INT64 TIMESTAMP_MICROS, not the legacy INT96:
    # INT96 columns carry NO parquet min/max statistics, so every
    # timestamp range scan would read every row group — with MICROS the
    # sorted archive files (sinks.write_archive) prune at row-group
    # granularity, the lake-side analog of the reference's time index.
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # The driver testdata writes INT64 TIMESTAMP(NANOS) parquet, which
    # vanilla Spark rejects; read as long and convert at the adapter
    # (same ns→µs truncation DuckDB applies when it reads the files).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Generated-class cache (static; Spark's default holds 100). One
    # pipeline symbol (clean, z-score, three resamples, split, report,
    # six sinks, metadata) needs ~125 classes, so at 100 entries every
    # symbol evicted and recompiled ~120 of its own classes, and the
    # compiler and JIT took cores its Spark jobs needed. 1000 holds
    # several such working sets; a repeated plan shape compiles nothing.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Driver-side niceties for a single-JVM local run; harmless on a cluster.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_DRIVER_MEMORY", "8g"),
}


def get_spark(
    app_name: str = "financial_data_pipeline_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (falling back to
    ``local[*]``) so tests and bench share one entry point; on a real
    cluster pass ``master=None`` with a pre-configured spark-submit.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    else:
        conf.setdefault(
            "spark.sql.shuffle.partitions",
            os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)),
        )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
