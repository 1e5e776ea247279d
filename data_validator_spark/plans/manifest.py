"""Per-partition checkpoint manifest: resumable validation runs.

North-rule requirement: a killed job restarts and validates only
unvalidated partitions, with lineage (snapshot/fingerprint, partition
spec, rule versions) and metrics per partition. This generalizes the
reference's change-detection gate (storage_services.py:58-91 row-count
diff before upload) and its log sink (firestore_services.py:382-395)
into a queryable manifest table.

Format-agnostic lineage: on Iceberg the fingerprint is the snapshot
id; on plain parquet (this sandbox) it degrades to a content
fingerprint computed with one cheap aggregate over (clip_id,
ingest_seq) per partition — SURVEY.md §7.3's documented fallback.

The manifest itself is tiny (one row per partition per run): stored
as parquet, append-only, latest-row-wins per (partition, rule_version).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_validator_spark.plans.validation import (
    ValidationConfig,
    ValidationResult,
    run_validation,
)

_MANIFEST_SCHEMA = (
    "partition_value string, fingerprint string, rule_version string, "
    "status string, n_rows long, n_soft_invalid long, n_hard_invalid long, "
    "n_warnings long, validated_at timestamp"
)


def partition_fingerprints(clips: DataFrame, partition_col: str) -> DataFrame:
    """(partition_value, fingerprint): order-independent content hash
    per partition — count + sum/xor of xxhash64(clip_id, ingest_seq).
    One scan of two small columns (parquet column pruning keeps
    `bytes` unread)."""
    h = F.xxhash64("clip_id", "ingest_seq")
    return (
        clips.groupBy(F.col(partition_col).cast("string").alias("partition_value"))
        .agg(
            F.count(F.lit(1)).alias("_n"),
            # bit_xor: order-independent fold, overflow-free under ANSI mode
            F.bit_xor(h).alias("_hx"),
        )
        .select(
            "partition_value",
            F.concat_ws(
                ":", F.col("_n").cast("string"), F.hex(F.col("_hx"))
            ).alias("fingerprint"),
        )
    )


@dataclass
class CheckpointManifest:
    path: str

    def load(self, spark: SparkSession) -> DataFrame:
        # Hadoop FS existence check (works for local, HDFS, object stores)
        # avoids an analyzer exception + noisy stack on first run
        jvm = spark._jvm
        jsc = spark._jsc
        conf = jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(self.path)
        fs = path.getFileSystem(conf)
        if not fs.exists(path):
            # the false filter makes it an empty LocalRelation once
            # optimized, so Catalyst prunes every plan over a missing
            # manifest statically. A bare empty createDataFrame is an
            # RDD scan that AQE finds empty only at run time, in a race
            # with the other side of the join, so the plan (and its
            # generated classes) changed from one run to the next.
            return spark.createDataFrame([], _MANIFEST_SCHEMA).where(F.lit(False))
        return spark.read.parquet(self.path)

    def latest(self, spark: SparkSession) -> DataFrame:
        """Latest manifest row per (partition_value, rule_version)."""
        df = self.load(spark)
        w = Window.partitionBy("partition_value", "rule_version").orderBy(
            F.col("validated_at").desc()
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def completed(self, spark: SparkSession, rule_version: str) -> DataFrame:
        """Partitions already validated under this rule_version:
        (partition_value, fingerprint). Any status counts as done —
        a failed partition is a verdict, not unfinished work."""
        return (
            self.latest(spark)
            .filter(F.col("rule_version") == rule_version)
            .select("partition_value", "fingerprint")
        )

    def record(self, verdicts_with_fp: DataFrame) -> None:
        # validated_at joins in as data, a one-row VALUES relation: a
        # current_timestamp() folds to a literal that codegen inlines,
        # so every commit compiled a new class
        now = verdicts_with_fp.sparkSession.sql(
            f"SELECT * FROM VALUES (timestamp_micros({time.time_ns() // 1000})) "
            "AS t(validated_at)"
        )
        (
            verdicts_with_fp.select(
                "partition_value",
                "fingerprint",
                "rule_version",
                "status",
                "n_rows",
                "n_soft_invalid",
                "n_hard_invalid",
                "n_warnings",
            )
            .crossJoin(now)
            .coalesce(1)
            .write.mode("append")
            .parquet(self.path)
        )


def pending_partitions(
    spark: SparkSession,
    clips: DataFrame,
    manifest: CheckpointManifest,
    cfg: ValidationConfig,
) -> list[str]:
    """Partitions whose (value, fingerprint) is NOT in the manifest for
    the current rule_version — i.e. new, changed, or never-validated.
    Driver-side list (partition count is small by definition); becomes
    the partition-pruning predicate."""
    current = partition_fingerprints(clips, cfg.partition_col)
    done = manifest.completed(spark, cfg.rule_version)
    todo = current.join(done, ["partition_value", "fingerprint"], "left_anti")
    return [r.partition_value for r in todo.select("partition_value").collect()]


def run_resumable(
    spark: SparkSession,
    clips: DataFrame,
    manifest: CheckpointManifest,
    transcripts_ref: DataFrame | None = None,
    baseline_hist: DataFrame | None = None,
    cfg: ValidationConfig = ValidationConfig(),
    record: bool = True,
) -> tuple[list[str], ValidationResult | None]:
    """Validate only unvalidated partitions; record verdicts.

    Returns (validated_partition_values, result|None). The pruning
    predicate is partition-aligned (`ingest_date IN (...)`) so on a
    partitioned source Catalyst prunes files before any read.

    record=False defers the manifest append: the manifest row is the
    COMMIT POINT of a partition, so callers that also write
    validated/invalid outputs (job.py) must land those first and then
    call `manifest.record(result.manifest_rows)` — otherwise a crash
    between recording and writing would mark partitions done with no
    outputs on disk. record=True is for verdict-only runs.
    """
    todo = pending_partitions(spark, clips, manifest, cfg)
    if not todo:
        return [], None
    part = F.col(cfg.partition_col).cast("string")
    subset = clips.filter(part.isin(todo))
    result = run_validation(subset, transcripts_ref, baseline_hist, cfg)
    fp = partition_fingerprints(subset, cfg.partition_col)
    verdicts = result.partition_verdicts.withColumn(
        "partition_value", F.col(cfg.partition_col).cast("string")
    ).join(fp, "partition_value", "left")
    result.manifest_rows = verdicts
    if record:
        manifest.record(verdicts)
    return todo, result
