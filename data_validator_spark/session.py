"""SparkSession factory tuned for the validation engine.

Local-mode knobs chosen so the same code scales to a multi-executor
cluster: AQE on (runtime coalesce + skew-join splitting), shuffle
partitions sized to cores, Arrow enabled for pandas-UDF stages, UTC
session timezone (reference coerces all timestamps to UTC,
/root/reference/shared/firestore_services.py:239-247).

Every setting the engine relies on, apart from the master, the
core-sized shuffle partitions and the driver heap, lives in one
mapping, `ENGINE_CONF`. `build_session` applies it, and `job.py`
applies it to a spark-submit session for every key that spark-submit
did not set, so an explicit `--conf` always wins there. (The shuffle
partitions stay out of it: the driver's core count says nothing about
a cluster's, so a spark-submit job keeps its own or Spark's default.)

`spark.sql.codegen.cache.maxEntries` sizes Spark's LRU cache of
compiled whole-stage-codegen classes (default 100). One op of this
engine needs more classes than that. The cold op in a fresh JVM
compiles each of its classes once: 106 for the clips pass
(`run_validation` plus bench.py's five actions), 123 for the resumable
job with quality on, 54 for the wide-schema profile (perfbench's three
ops at local[4], counted with `codegen_compiles`; Spark 4 keys the
cache on the thread's class loader too, so a stage compiled on the
driver and again in a task counts twice). With the default cache a
warm op evicted and recompiled 80-130 of them with Janino, 0.8-1.4 s
of compile plus the JIT time spent on Janino itself. 1024 holds the
three ops' classes together several times over, so a warm op or a
repeated query compiles (almost) nothing, for a few tens of MB of
metaspace. It is a static conf: it only takes effect when set before
the JVM's first session (a later builder cannot resize the cache of a
running JVM).

`spark.sql.codegen.useIdInClassName=false` drops the stage number from
generated class names, so the same pipeline at another stage position
(AQE renumbers stages when it replans) is the same source and one
cache entry instead of a new class; the stage number stays in the
source as a comment and in `explain()`.
"""

from __future__ import annotations

import os
from typing import Callable, TypeVar

from pyspark.sql import SparkSession

T = TypeVar("T")

ENGINE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # audio `bytes` rows are large (tens of KB): the default 4096-row
    # columnar batches mean ~100-200 MB humongous allocations per
    # task batch, which thrashes the JVM GC (measured 75s -> 3.7s on
    # a ~1 GB cold bytes scan when capped). Cap both the parquet
    # reader batch and the Arrow transfer batch so a batch of
    # payload rows stays in the tens of MB (SURVEY.md §7.3).
    "spark.sql.parquet.columnarReaderBatchSize": "512",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
    # see the module docstring for these two
    "spark.sql.codegen.cache.maxEntries": "1024",
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.ui.enabled": "false",
}


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
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in {**ENGINE_CONF, **(extra_conf or {})}.items():
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


def codegen_compiles(spark: SparkSession) -> tuple[int, float]:
    """(classes compiled, milliseconds spent compiling) by Janino in this
    JVM since it started: the count from `CodegenMetrics`' compilation
    histogram, the time from `CodeGenerator.compileTime`. Take the
    difference of two calls to cost a span of work; a cache hit
    compiles nothing and adds to neither. Both are JVM-wide, so they
    cover the driver's and (in local mode) the executors' compiles."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return int(n), ns / 1e6
