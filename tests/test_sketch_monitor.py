"""Streaming KLL sketch monitor tests (streaming/sketch_monitor.py)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_validator_spark.operators import stats
from data_validator_spark.streaming import sketch_monitor as sm

SCHEMA = "id long, v double"


def wave(spark, lo, hi, shift=0.0):
    return spark.range(lo, hi, numPartitions=2).select(
        F.col("id"), ((F.col("id") % 1000) + shift).cast("double").alias("v")
    )


def run_once(spark, in_dir, state_dir):
    q = sm.run_sketch_monitor(spark, in_dir, state_dir, ["v"], SCHEMA)
    q.awaitTermination(120)


def test_monitor_accumulates_resumes_and_merges(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    state = str(tmp_path / "state")

    wave(spark, 0, 30_000).write.mode("append").parquet(in_dir)
    run_once(spark, in_dir, state)
    n1 = spark.read.parquet(f"{state}/partials").count()
    assert n1 >= 1

    # resume with no new files: nothing appended
    run_once(spark, in_dir, state)
    assert spark.read.parquet(f"{state}/partials").count() == n1

    # second arrival wave, shifted
    wave(spark, 30_000, 60_000, shift=400.0).write.mode("append").parquet(in_dir)
    run_once(spark, in_dir, state)
    parts = spark.read.parquet(f"{state}/partials")
    assert parts.count() > n1

    merged = {r.column_name: r.asDict() for r in sm.current_sketches(spark, state).collect()}
    sk = merged["v"]
    assert sk["n"] == 60_000
    # merged quantiles track the exact union distribution
    exact = np.concatenate(
        [np.arange(30_000) % 1000, (np.arange(30_000, 60_000) % 1000) + 400.0]
    )
    ests = (
        sm.current_sketches(spark, state)
        .select(F.kll_sketch_get_quantile_double("kll", F.array(*[F.lit(p) for p in (0.1, 0.5, 0.9)])))
        .first()[0]
    )
    for p, est in zip((0.1, 0.5, 0.9), ests):
        lo, hi = np.quantile(exact, [max(0.0, p - 0.02), min(1.0, p + 0.02)])
        assert lo <= est <= hi

    # drift vs a wave-1-only baseline is visible through the monitor
    baseline = stats.kll_sketches(wave(spark, 0, 30_000), ["v"])
    d = {r.column_name: r for r in sm.monitor_drift(spark, state, baseline).collect()}
    assert d["v"].n_base == 30_000 and d["v"].n_cur == 60_000
    assert d["v"].ks > 0.1  # half the current mass moved up by 400


def test_monitor_all_null_batch_does_not_fail(spark, tmp_path):
    """A micro-batch whose watched column is all NULL appends an n = 0
    partial; the merged snapshot and its drift read NULL, not an
    error."""
    in_dir, state = str(tmp_path / "in"), str(tmp_path / "state")
    spark.range(0, 100, numPartitions=1).select(
        "id", F.lit(None).cast("double").alias("v")
    ).write.parquet(in_dir)
    run_once(spark, in_dir, state)
    cur = sm.current_sketches(spark, state).first()
    assert cur.n == 0
    baseline = stats.kll_sketches(wave(spark, 0, 1000), ["v"])
    d = sm.monitor_drift(spark, state, baseline).first()
    assert d.ks is None and d.psi is None and d.n_base == 1000
