"""SparkSession factory tuned for the engine.

Local test mode runs ``local[N]``; on a real cluster the same settings
(AQE, Arrow, shuffle sizing) carry over — only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime coalescing, skew-join splitting, dynamic join strategy
    # switching. Essential at 100 TB where static planning misestimates.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for every pandas/Python boundary (get_data, mapInPandas UDFs).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamps vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Parquet pushdown is on by default; make the intent explicit.
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # Don't let tiny local files produce thousands of partitions.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # Read INT64 TIMESTAMP(NANOS) parquet columns as raw nanos longs
    # (Spark has no ns timestamp; callers convert via timestamp_micros).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # PySpark wraps EVERY DataFrame/Column op with call-site capture
    # for error enrichment: getActiveSession + a JVM round-trip + a
    # Python stack walk PER OPERATION (pyspark/errors/utils.py
    # _with_origin). Profiling the pair engine showed 692 wrapped ops
    # costing 2.2 s of pure driver time per query construction —
    # ~3 ms/op against ~0.2 ms for the underlying py4j call. Queries
    # are constructed on every run, so this is steady-state cost, not
    # warmup (guide §5: the driver should do almost no data work).
    # Cost: errors lose the user-code line-number context; plans,
    # values, and error CLASSES are unchanged.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # InferFiltersFromGenerate synthesizes `size(arr) > 0` under every
    # explode; predicate pushdown then inlines the full array-producing
    # expression into a per-row interpreted Filter (no codegen for
    # higher-order functions, no common-subexpression reuse) — measured
    # 40-80x wall-clock on the shingle pipelines. explode() already
    # skips empty arrays, so the rule buys nothing for this engine.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
}


def _driver_memory() -> str:
    """A sixth of physical RAM, between 1 and 8 GB: room beside the JVM
    for the Python process, its Arrow buffers, the pandas-UDF workers
    and any other local sessions on the host."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{int(max(1, min(8, ram / 2**30 // 6)))}g"


def get_spark(
    app_name: str = "opencosmo_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession with engine defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` locally; on a
    cluster pass None with a pre-configured spark-submit and the builder
    inherits it.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local mode: ~#cores, not the 200 default
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if master.startswith("local"):
        conf.setdefault("spark.driver.memory", _driver_memory())
        conf.setdefault("spark.ui.enabled", "false")
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
