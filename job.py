#!/usr/bin/env python
"""spark-submit entry point for the validation engine.

    spark-submit --py-files engine.zip job.py --payload payload.json

(the SURVEY.md §3.4 lifecycle: payload -> ValidationPlan -> lazy DAG
-> violation write + verdict write + manifest update). Mirrors the
reference's payload-driven worker (main.py:197-225,
shared/payload_loader.py:11-37) with Spark-native semantics: the
payload is declarative config, the manifest makes re-runs
incremental, and all writes are append-only parquet (Iceberg commits
in production).

Payload keys (all optional except clips_path):
  clips_path            input table (parquet dir / Iceberg table path)
  transcripts_ref_path  reference transcript table for the referential
                        + winner-selection + equality checks
  baseline_hist_path    baseline histograms for KS/PSI drift verdicts
  output_dir            where validated/ invalid/ verdicts/ stats/ go
  manifest_path         checkpoint manifest (resume point)
  partition_col / order_col / snr_min_db / check_audio /
  check_quality / quality_upsample_min_ratio /
  quality_min_effective_bits
                        ValidationConfig overrides

Build engine.zip:  cd repo && zip -r engine.zip data_validator_spark

Spark settings: the job fills every key of the engine's conf
(`data_validator_spark.session.ENGINE_CONF`: AQE, UTC, Arrow, the
512-row batch caps, the codegen cache settings, UI off) that
spark-submit did not set, so an explicit `--conf` (or
spark-defaults.conf) wins.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from collections.abc import Mapping


def engine_conf_defaults(submitted: Mapping[str, str]) -> dict[str, str]:
    """The engine's settings for every key `submitted` (spark-submit's
    resolved conf) does not set."""
    from data_validator_spark.session import ENGINE_CONF

    return {k: v for k, v in ENGINE_CONF.items() if k not in submitted}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--payload", required=True, help="path to payload JSON")
    args = ap.parse_args()
    with open(args.payload) as f:
        payload = json.load(f)

    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    from data_validator_spark.plans.manifest import CheckpointManifest, run_resumable
    from data_validator_spark.plans.validation import ValidationConfig

    # spark-submit provides master/conf as system properties of the JVM
    # it launched; SparkConf() reads them once the gateway is up. The
    # builder's settings override them, so pass only the unset keys,
    # before the context starts (the codegen cache size is static).
    SparkContext._ensure_initialized()
    spark = (
        SparkSession.builder.appName("data_validator_spark_job")
        .config(map=engine_conf_defaults(dict(SparkConf().getAll())))
        .getOrCreate()
    )

    cfg = ValidationConfig(
        partition_col=payload.get("partition_col", "ingest_date"),
        order_col=payload.get("order_col", "ingest_seq"),
        check_audio=payload.get("check_audio", True),
        check_quality=payload.get("check_quality", False),
        quality_upsample_min_ratio=payload.get("quality_upsample_min_ratio"),
        quality_min_effective_bits=payload.get("quality_min_effective_bits"),
        snr_min_db=payload.get("snr_min_db", 30.0),
        persist=True,
    )
    clips = spark.read.parquet(payload["clips_path"])
    tr = (
        spark.read.parquet(payload["transcripts_ref_path"])
        if payload.get("transcripts_ref_path")
        else None
    )
    baseline = (
        spark.read.parquet(payload["baseline_hist_path"])
        if payload.get("baseline_hist_path")
        else None
    )
    out = payload.get("output_dir", "validator_out")
    manifest = CheckpointManifest(payload.get("manifest_path", f"{out}/manifest"))

    t0 = time.monotonic()
    # record=False: the manifest row is the partition's COMMIT POINT —
    # it must land AFTER the outputs, so a crash mid-job re-validates
    # the partition instead of silently skipping it with no outputs
    todo, result = run_resumable(
        spark, clips, manifest, tr, baseline, cfg, record=False
    )
    if result is None:
        print(json.dumps({"status": "up_to_date", "partitions": 0}))
        return 0

    result.validated.write.mode("append").parquet(f"{out}/validated")
    result.invalid.write.mode("append").parquet(f"{out}/invalid")
    result.summary_stats.coalesce(1).write.mode("append").parquet(f"{out}/stats")
    result.histograms.coalesce(1).write.mode("append").parquet(f"{out}/histograms")
    if result.drift is not None:
        result.drift.coalesce(1).write.mode("append").parquet(f"{out}/drift")
    manifest.record(result.manifest_rows)
    n_rows = result.validated.count()
    result.unpersist()
    print(
        json.dumps(
            {
                "status": "ok",
                "partitions": len(todo),
                "validated_rows": n_rows,
                "wall_sec": round(time.monotonic() - t0, 2),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
