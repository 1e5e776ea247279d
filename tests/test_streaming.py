"""Structured Streaming: availableNow incremental validation with
checkpoint resume, stateless rule tiers on a stream, windowed verdicts."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from data_validator_spark.fixtures.clips import ClipsConfig, generate_clips
from data_validator_spark.plans.validation import ValidationConfig
from data_validator_spark.streaming import (
    clips_stream,
    run_incremental,
    validate_stream,
    windowed_verdicts,
)

CFG_A = ClipsConfig(n_rows=800, n_partitions=2, max_synth_ms=300)
CFG_B = ClipsConfig(
    n_rows=600, n_partitions=2, max_synth_ms=300, clip_id_prefix="clipb"
)


@pytest.fixture(scope="module")
def stream_dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("stream")
    in_dir, out_dir = str(base / "landing"), str(base / "out")
    generate_clips(spark, CFG_A).write.mode("append").parquet(in_dir)
    return in_dir, out_dir


def test_incremental_first_pass(spark, stream_dirs):
    in_dir, out_dir = stream_dirs
    q = run_incremental(
        spark, in_dir, out_dir, cfg=ValidationConfig(check_audio=True)
    )
    q.awaitTermination(600)
    validated = spark.read.parquet(f"{out_dir}/validated")
    invalid = spark.read.parquet(f"{out_dir}/invalid")
    n_v, n_hard = validated.count(), invalid.select("ingest_seq").distinct().count()
    assert n_v + n_hard == CFG_A.n_rows
    # full pipeline ran: audio outcome columns are present and populated
    assert "audio_snr_db" in validated.columns
    assert validated.filter(F.col("audio_snr_db").isNotNull()).count() > 0
    verdicts = spark.read.parquet(f"{out_dir}/verdicts")
    assert verdicts.select("batch_id").distinct().count() == 1


def test_incremental_resume_processes_only_new_files(spark, stream_dirs):
    in_dir, out_dir = stream_dirs
    # second batch of files lands; a NEW availableNow query on the SAME
    # checkpoint must process only those
    generate_clips(spark, CFG_B).write.mode("append").parquet(in_dir)
    q = run_incremental(
        spark, in_dir, out_dir, cfg=ValidationConfig(check_audio=True)
    )
    q.awaitTermination(600)
    validated = spark.read.parquet(f"{out_dir}/validated")
    total = validated.count() + spark.read.parquet(
        f"{out_dir}/invalid"
    ).select("ingest_seq", "clip_id").distinct().count()
    assert total == CFG_A.n_rows + CFG_B.n_rows
    # batch-2 output contains only batch-B clip ids (no reprocessing)
    b2 = validated.filter(F.col("clip_id").startswith("clipb"))
    b1_again = (
        spark.read.parquet(f"{out_dir}/verdicts")
        .filter(F.col("batch_id") == 1)
    )
    assert b2.count() > 0
    assert b1_again.agg(F.sum("n_rows")).collect()[0][0] <= CFG_B.n_rows


def test_stateless_tiers_run_on_stream(spark, stream_dirs):
    in_dir, _ = stream_dirs
    stream = clips_stream(spark, in_dir)
    assert stream.isStreaming
    ok, bad = validate_stream(stream)
    assert ok.isStreaming and bad.isStreaming
    assert "validation_msg_clip" in ok.columns


def test_stateful_dedup_flags_across_restarts(spark, tmp_path):
    """applyInPandasWithState uniqueness: a clip_id re-ingested in a
    LATER availableNow run (new query, same checkpoint) is flagged as
    a duplicate because the key state is restored from the checkpoint
    — the cross-batch gap the batch-scoped window cannot see."""
    from data_validator_spark.streaming import streaming_dedup_flags

    in_dir = str(tmp_path / "landing")
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "flags")
    schema = "clip_id string, ingest_seq long"

    def run_pass():
        before = set()
        try:
            before = {
                (r.clip_id, r.ingest_seq)
                for r in spark.read.parquet(out_dir).collect()
            }
        except Exception:
            pass  # first pass: no output yet
        stream = spark.readStream.schema(schema).parquet(in_dir)
        out = streaming_dedup_flags(stream)
        q = (
            out.writeStream.format("parquet")
            .option("path", out_dir)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)
        return {
            (r.clip_id, r.ingest_seq): (r.dup_rank, r.dup_label)
            for r in spark.read.parquet(out_dir).collect()
            if (r.clip_id, r.ingest_seq) not in before
        }

    spark.createDataFrame(
        [("a", 0), ("b", 1), ("a", 2)], schema
    ).write.mode("append").parquet(in_dir)
    got1 = run_pass()
    assert got1[("a", 0)] == (0, None)
    assert got1[("b", 1)] == (0, None)
    assert got1[("a", 2)] == (1, "duplicate_clip_id(1)")

    # second batch of files: 'b' re-ingested -> duplicate via restored state
    spark.createDataFrame(
        [("b", 3), ("c", 4)], schema
    ).write.mode("append").parquet(in_dir)
    got2 = run_pass()
    assert got2[("b", 3)] == (1, "duplicate_clip_id(1)")
    assert got2[("c", 4)] == (0, None)
    assert ("a", 0) not in got2  # only the new files were processed


def test_run_incremental_composes_cross_batch_dedup(spark, tmp_path):
    """dedup_flags=True wires stateful.streaming_dedup_flags into
    run_incremental: a duplicate clip_id landing in batch 2 (second
    availableNow invocation, same checkpoints) is flagged IN BATCH 2's
    dup_flags output — the composition the two module docstrings
    previously only pointed at."""
    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    cfg = ClipsConfig(n_rows=120, n_partitions=1, max_synth_ms=150)
    vcfg = ValidationConfig(check_audio=False)

    generate_clips(spark, cfg).write.mode("append").parquet(in_dir)
    q = run_incremental(spark, in_dir, out_dir, cfg=vcfg, dedup_flags=True)
    assert q.awaitTermination(600)
    flags1 = spark.read.parquet(f"{out_dir}/dup_flags")
    n_b1 = flags1.count()
    assert n_b1 > 0

    # batch 2: re-ingest 5 existing clips under fresh ingest_seq values
    dups = (
        spark.read.parquet(in_dir)
        .orderBy("ingest_seq")
        .limit(5)
        .withColumn("ingest_seq", F.col("ingest_seq") + 100000)
    )
    dup_ids = {r.clip_id for r in dups.select("clip_id").collect()}
    dups.write.mode("append").parquet(in_dir)
    q = run_incremental(spark, in_dir, out_dir, cfg=vcfg, dedup_flags=True)
    assert q.awaitTermination(600)

    b2 = spark.read.parquet(f"{out_dir}/dup_flags").filter(
        F.col("ingest_seq") >= 100000
    )
    got = {r.clip_id: (r.dup_rank, r.dup_label) for r in b2.collect()}
    assert set(got) == dup_ids
    assert all(rank >= 1 and lbl.startswith("duplicate_clip_id") for rank, lbl in got.values())
    # the validation branch still produced its usual outputs
    validated = spark.read.parquet(f"{out_dir}/validated")
    assert validated.count() > 0


def test_windowed_verdicts_with_watermark(spark, stream_dirs, tmp_path):
    in_dir, _ = stream_dirs
    stream = clips_stream(spark, in_dir).withColumn(
        "ingest_ts",
        F.to_timestamp("ingest_date")
        + F.make_interval(secs=(F.col("ingest_seq") % 7200).cast("double")),
    )
    wv = windowed_verdicts(stream, ts_col="ingest_ts", window="1 hour")
    q = (
        wv.writeStream.format("memory")
        .queryName("wv_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wv_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    rows = spark.sql("select * from wv_sink").collect()
    # appends only emit windows the watermark has closed; the final
    # open window stays in state — so strictly fewer rows than windows
    assert len(rows) >= 1
    assert all(r.n_rows > 0 for r in rows)


def test_quality_watch_flags_planted_regression(spark, tmp_path):
    """Composed quality-watch loop (verdict task 6): ten clean waves
    establish the control baseline; wave 11 plants a duration-rule
    regression (p_dur_low jumps 0.01 -> 0.45). That batch's OWN
    monitor output must flag soft_invalid_rate out_of_control, AND the
    sketch-drift branch must fail dur_ms against the clean baseline —
    two independent alarms from persisted state alone."""
    from data_validator_spark.operators.stats import kll_sketches
    from data_validator_spark.plans import ValidationConfig
    from data_validator_spark.streaming import run_incremental

    in_dir = str(tmp_path / "landing")
    out_dir = str(tmp_path / "out")
    vcfg = ValidationConfig(check_audio=False)

    def wave(i, cfg):
        generate_clips(spark, cfg).write.mode("overwrite").parquet(
            f"{in_dir}/wave={i}"
        )

    clean_cfg = dict(n_rows=150, n_partitions=1)
    baseline_df = generate_clips(spark, ClipsConfig(seed=999, **clean_cfg))
    baseline = kll_sketches(baseline_df, ["dur_ms"]).cache()
    baseline.count()

    n_waves = 6
    for i in range(n_waves):
        wave(i, ClipsConfig(seed=100 + i, **clean_cfg))
        q = run_incremental(
            spark, in_dir, out_dir, cfg=vcfg,
            quality_watch=True, baseline_sketches=baseline,
        )
        q.awaitTermination(300)

    # clean batches: the last clean batch's monitor must be quiet on
    # the rate series and its drift verdict must pass for dur_ms
    alerts = spark.read.parquet(f"{out_dir}/watch/alerts/batch_id={n_waves - 1}")
    quiet = alerts.filter(
        (F.col("metric") == "soft_invalid_rate") & F.col("out_of_control")
    )
    assert quiet.count() == 0
    drift = spark.read.parquet(f"{out_dir}/watch/drift/batch_id={n_waves - 1}")
    assert drift.filter(F.col("column_name") == "dur_ms").count() == 1

    # planted regression wave: dur bounds rule trips on ~60% of rows
    wave(n_waves, ClipsConfig(
        seed=4242, p_dur_low=0.45, p_dur_high=0.15, **clean_cfg
    ))
    q = run_incremental(
        spark, in_dir, out_dir, cfg=vcfg,
        quality_watch=True, baseline_sketches=baseline,
    )
    q.awaitTermination(300)

    alerts = spark.read.parquet(f"{out_dir}/watch/alerts/batch_id={n_waves}")
    flagged = alerts.filter(
        (F.col("metric") == "soft_invalid_rate")
        & (F.col("partition_value") == n_waves)
        & F.col("out_of_control")
    )
    assert flagged.count() == 1, alerts.orderBy(
        "metric", "partition_value"
    ).collect()
    # the planted batch shifts dur_ms mass below 100ms -> KS drift
    drift = spark.read.parquet(f"{out_dir}/watch/drift/batch_id={n_waves}")
    d = {r["column_name"]: r for r in drift.collect()}
    assert d["dur_ms"]["ks"] > 0.02
    baseline.unpersist()


def test_incremental_fused_embedding_and_loudness_knobs(spark, tmp_path):
    """The round-4 fused-decode knobs compose into the streaming path
    unchanged: a micro-batch run with quality_embed_mels/lufs window
    writes validated rows carrying the embedding column and loudness
    labels, from the one decode per batch."""
    in_dir, out_dir = str(tmp_path / "landing"), str(tmp_path / "out")
    generate_clips(
        spark, ClipsConfig(n_rows=300, n_partitions=1, max_synth_ms=600)
    ).write.mode("append").parquet(in_dir)
    q = run_incremental(
        spark,
        in_dir,
        out_dir,
        cfg=ValidationConfig(
            check_quality=True,
            quality_embed_mels=16,
            quality_lufs_min=-0.5,
            quality_lufs_max=0.0,  # absurd window: every measurable clip flags
        ),
    )
    q.awaitTermination(600)
    validated = spark.read.parquet(f"{out_dir}/validated")
    assert "embedding" in validated.columns
    with_emb = validated.filter(F.col("embedding").isNotNull())
    assert with_emb.count() > 0
    assert len(with_emb.select("embedding").first().embedding) == 32
    assert (
        validated.filter(
            F.col("validation_msg_clip").contains(
                "audio_loudness_out_of_range("
            )
        ).count()
        > 0
    )
