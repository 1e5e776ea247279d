"""SparkSession factory tuned for the validation engine.

Local-mode knobs chosen so the same code scales to a multi-executor
cluster: AQE on (runtime coalesce + skew-join splitting), shuffle
partitions sized to cores, Arrow enabled for pandas-UDF stages, UTC
session timezone (reference coerces all timestamps to UTC,
/root/reference/shared/firestore_services.py:239-247).
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")


def build_session(
    app_name: str = "data_validator_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) a SparkSession.

    cores=None -> local[*]. shuffle_partitions defaults to cores (local
    mode has no network shuffle; 200 default just adds scheduling
    overhead). On a real cluster, callers pass explicit values via
    spark-submit --conf instead.
    """
    master = f"local[{cores}]" if cores else os.environ.get("SPARK_MASTER", "local[*]")
    n_shuffle = shuffle_partitions or (cores if cores else (os.cpu_count() or 8))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # audio `bytes` rows are large (tens of KB): the default 4096-row
        # columnar batches mean ~100-200 MB humongous allocations per
        # task batch, which thrashes the JVM GC (measured 75s -> 3.7s on
        # a ~1 GB cold bytes scan when capped). Cap both the parquet
        # reader batch and the Arrow transfer batch so a batch of
        # payload rows stays in the tens of MB (SURVEY.md §7.3).
        .config("spark.sql.parquet.columnarReaderBatchSize", "512")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "512")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_PER_JVM: dict = {}


def per_jvm(key, build: Callable[[], T]) -> T:
    """`build()` once per JVM and `key`, on first use (never at import
    or session build). For Python objects that hold JVM references —
    Columns, UDFs — which stay valid for every session of the JVM that
    made them: rebuilding them per plan costs Py4J round trips (a
    pandas UDF also re-pickles its closure). A new gateway (a JVM
    relaunched in the same process) rebuilds."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    hit = _PER_JVM.get(key)
    if hit is None or hit[0] is not gateway:
        hit = _PER_JVM[key] = (gateway, build())
    return hit[1]
