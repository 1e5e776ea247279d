"""Streaming drift monitor: an appendable KLL snapshot.

Batch drift (plans/snapshots.py) profiles a snapshot in one pass. The
streaming counterpart must absorb files as they land WITHOUT
re-profiling history — which is exactly what a mergeable sketch
buys: each micro-batch appends its own tiny partial KLL sketch rows
(stats.kll_sketches) to a state directory, and the "current snapshot"
is the merge of whatever partials exist (stats.kll_merge, one
kll_merge_agg_double per column). Nothing is ever rewritten, history
is never re-scanned, and a killed job resumes from the streaming
checkpoint having lost at most the in-flight batch.

Flow:
    run_sketch_monitor(...)   readStream -> foreachBatch append of
                              kll_sketches partial rows (availableNow
                              by default: process exactly the files
                              that arrived since the last run)
    current_sketches(...)     merged sketch per column from the state dir
    monitor_drift(...)        sketch_drift(baseline, current) — KS/PSI
                              vs any persisted baseline (e.g. a
                              SnapshotStore kll artifact)

q77 gates the loop end-to-end: two arrival waves, a resume that must
append nothing, and merged-sketch quantiles landing inside exact
cross-engine-verified rank brackets.

Reference counterpart: the daily re-validation cron
(scheduler_services.py) — full re-runs there, monotone sketch
accumulation here.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from ..operators.drift import sketch_drift
from ..operators.stats import kll_merge, kll_sketches


def run_sketch_monitor(
    spark: SparkSession,
    in_dir: str,
    state_dir: str,
    cols: Sequence[str],
    schema: StructType | str,
    checkpoint_dir: str | None = None,
) -> StreamingQuery:
    """Start an availableNow run that appends one partial-sketch row
    per (column, micro-batch) to state_dir/partials. Idempotent across
    restarts: the streaming checkpoint remembers processed files, so a
    re-run with no new arrivals appends nothing."""
    cp = checkpoint_dir or f"{state_dir}/_checkpoint"
    stream = spark.readStream.schema(schema).parquet(in_dir)

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        kll_sketches(batch_df, list(cols)).withColumn(
            "batch_id", F.lit(int(batch_id)).cast("long")
        ).write.mode("append").parquet(f"{state_dir}/partials")

    return (
        stream.writeStream.foreachBatch(_append)
        .option("checkpointLocation", cp)
        .trigger(availableNow=True)
        .start()
    )


def current_sketches(spark: SparkSession, state_dir: str) -> DataFrame:
    """The running snapshot: one merged (column_name, n, kll) row per
    column."""
    return kll_merge(spark.read.parquet(f"{state_dir}/partials"))


def monitor_drift(
    spark: SparkSession,
    state_dir: str,
    baseline_sketches: DataFrame,
    n_psi_buckets: int = 20,
) -> DataFrame:
    """KS/PSI of the running snapshot against a persisted baseline —
    raw data untouched on both sides."""
    return sketch_drift(
        baseline_sketches,
        current_sketches(spark, state_dir),
        n_psi_buckets=n_psi_buckets,
    )
