"""The workloads: one op each, its correctness check, and the extra
per-layer measurements a traced run makes after its ops.

Each workload is driven by run.py as

    generate() -> open(spark) -> [prepare() -> op() -> check() -> cleanup()]* -> extras()

`generate` is cached and runs before the set-up clock; `open` is part
of set-up; `prepare` and `check` are untimed. An op returns an
observation dict of the counts and rows the check compares
against expectations derived from the input's golden flags or its
generating parameters.
"""

from __future__ import annotations

import os
import shutil
import time

import numpy as np
import pandas as pd

import inputs
import kernels

# input sizes at --scale 1 (see README.md for why they are this size)
CLIPS = inputs.ClipsInput(n_rows=4000)
WIDE = inputs.WideInput(n_rows=50_000, n_cols=16)


class Workload:
    name = ""
    rows_per_op = 0
    nominal_op_s = 6.5  # a warm op's wall on a 4-core host; sets the op count

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = None

    def prepare(self) -> None:
        pass

    def cleanup(self) -> None:
        """Drop the op's cached results and wait until they are gone,
        so the next op starts from the same memory state."""
        if getattr(self, "res", None) is not None:
            for df in self.res.persisted:
                df.unpersist(blocking=True)
            self.res = None

    def read_ratios(self, read_mb: float) -> dict[str, float]:
        """Ratios of the bytes the JVM read in one op (MiB) to this
        workload's own byte counts."""
        return {}

    def mismatches(self, **pairs) -> list[str]:
        """One line per (got, expected) pair that differs. With
        --corrupt-output the first pair's count is off by one, which
        stands in for a wrong engine answer so the check can be
        tested."""
        if self.ctx.corrupt:
            key = next(iter(pairs))
            got, exp = pairs[key]
            pairs[key] = (got + 1, exp)
        return [f"{k}: got {got!r}, expected {exp!r}" for k, (got, exp) in pairs.items() if got != exp]


class _ClipsBase(Workload):
    def generate(self) -> None:
        cfg = inputs.ClipsInput(
            n_rows=max(64, int(CLIPS.n_rows * self.ctx.scale)),
            n_partitions=CLIPS.n_partitions,
            max_synth_ms=CLIPS.max_synth_ms,
        )
        self.dir, self.meta = inputs.clips_input(self.ctx.cache_dir, self.ctx.seed, cfg, self.ctx.cores)
        self.input_bytes = self.meta["bytes"]

    def open(self, spark) -> None:
        self.spark = spark
        self.clips = spark.read.parquet(os.path.join(self.dir, "clips"))
        self.tr_ref = spark.read.parquet(os.path.join(self.dir, "transcripts_ref"))

    def rules_eval(self, tr) -> float:
        """split_hard + apply_rules over the bytes-free clips, counted."""
        from data_validator_spark.rules import apply_rules
        from data_validator_spark.rules.clip_rules import all_clip_rules
        from data_validator_spark.rules.compiler import split_hard

        t0 = time.monotonic()
        with tr.span("rules.eval"):
            # the metadata rules, as run_validation applies them
            rules = [r for r in all_clip_rules() if r.invalid_key != "bytes"]
            ok, bad = split_hard(
                self.clips.drop("bytes"), rules, "clip", ["clip_id", "ingest_seq", "ingest_date"]
            )
            apply_rules(ok, rules, "clip").write.format("noop").mode("overwrite").save()
            bad.count()
        return time.monotonic() - t0

    def extras(self, tr) -> dict[str, float]:
        """The layers a traced run measures outside its ops, over the
        clips input: the ladder (metadata scan -> JVM bytes scan ->
        Arrow null UDF -> the audio stage), the audio stage's exact
        decode counts, rules.eval and the Spark-free kernel table."""
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        from data_validator_spark.audio.checks import run_audio_checks
        from data_validator_spark.rules import clip_rules
        from data_validator_spark.rules.compiler import hard_predicate

        out: dict[str, float] = {}

        def timed(key: str, fn) -> None:
            t0 = time.monotonic()
            with tr.span(key):
                fn()
            out[key + "_s"] = time.monotonic() - t0

        @pandas_udf("int")
        def null_udf(b: pd.Series) -> pd.Series:
            return pd.Series(np.zeros(len(b), dtype=np.int32))

        clips = self.clips
        timed("spark.scan_meta", lambda: clips.drop("bytes").write.format("noop").mode("overwrite").save())
        timed("spark.scan_bytes", lambda: clips.agg(F.sum(F.length("bytes"))).collect())
        timed("spark.arrow_null", lambda: clips.agg(F.sum(null_udf("bytes"))).collect())

        nonbytes = [r for r in clip_rules.all_clip_rules() if r.invalid_key != "bytes"]
        audio_in = clips.select(
            "clip_id", "ingest_seq", "ingest_date", "codec", "sr_hz", "bytes",
            hard_predicate(nonbytes).alias("_skip_decode"),
        )
        counts: list = []
        timed(
            "audio.stage",
            lambda: counts.extend(
                run_audio_checks(audio_in, skip_col="_skip_decode")
                .groupBy("codec")
                .agg(
                    F.sum((~F.col("_skip_decode")).cast("long")).alias("attempts"),
                    F.sum(
                        (~F.col("_skip_decode") & F.col("audio_decode_error").isNotNull()).cast("long")
                    ).alias("errors"),
                )
                .collect()
            ),
        )
        by_codec = {r.codec: r for r in counts}
        for codec in kernels.CODECS:
            r = by_codec.get(codec)
            out[f"audio.attempts.{codec}"] = float(r.attempts) if r else 0.0
            out[f"audio.errors.{codec}"] = float(r.errors) if r else 0.0
        out["audio.attempt_frac"] = sum(float(r.attempts) for r in counts) / self.meta["rows"]
        out["rules.eval_s"] = self.rules_eval(tr)
        out.update(kernels.measure(os.path.join(self.dir, "clips")))
        return out


class ClipsFull(_ClipsBase):
    """run_validation + the five actions bench.py materializes."""

    name = "clips_full"
    nominal_op_s = 5.5

    def generate(self) -> None:
        super().generate()
        self.rows_per_op = self.meta["rows"]

    def op(self, tr) -> dict:
        from data_validator_spark.plans import ValidationConfig, run_validation

        with tr.span("plans.build"):
            res = run_validation(self.clips, self.tr_ref, cfg=ValidationConfig(persist=True))
        self.res = res
        with tr.span("operators.validated"):
            n_valid = res.validated.count()
        with tr.span("operators.invalid"):
            n_invalid = res.invalid.count()
        with tr.span("operators.verdicts"):
            verdicts = res.partition_verdicts.collect()
        with tr.span("operators.summary_stats"):
            n_stats = len(res.summary_stats.collect())
        with tr.span("operators.histograms"):
            n_hist = res.histograms.count()
        return {
            "n_valid": n_valid,
            "invalid_rows": n_invalid,
            "verdicts": verdicts,
            "stats_rows": n_stats,
            "hist_rows": n_hist,
        }

    def check(self, obs: dict) -> list[str]:
        from pyspark.sql import functions as F

        m, res = self.meta, self.res
        exp_valid = m["rows"] - m["hard"]
        v = obs["verdicts"]
        decode_failed = res.invalid.filter(F.col("rule") == "audio_decode_failed").count()
        low_snr = res.validated.filter(
            F.col("validation_msg_clip").contains("audio_snr_below_30db(")
        ).count()
        return self.mismatches(
            validated=(obs["n_valid"], exp_valid),
            verdict_rows=(sum(r.n_rows for r in v), exp_valid),
            hard_invalid=(sum(r.n_hard_invalid for r in v), m["hard"]),
            partitions=(len(v), len(m["partitions"])),
            decode_failed=(decode_failed, m["decode_failed"]),
            snr_flagged=(low_snr, m["low_snr"]),
            stats_rows=(obs["stats_rows"], 5),
            hist_nonempty=(obs["hist_rows"] > 0, True),
        )

class JobRerun(_ClipsBase):
    """The job path (job.py) with quality checks on and exactly one of
    the eight partitions pending: run_resumable(record=False), the four
    output writes, then manifest.record. The output directory and the
    manifest are restored before every op, so every op does the same
    work."""

    name = "job_rerun"

    def generate(self) -> None:
        super().generate()
        self.pending = self.meta["partitions"][-1]
        self.rows_per_op = self.pending["rows"]
        self.base = os.path.join(self.ctx.work_dir, "manifest_base")
        self.run_dir = os.path.join(self.ctx.work_dir, "job")

    def open(self, spark) -> None:
        super().open(spark)
        if self.ctx.tracer.enabled:
            _trace_manifest_calls(self.ctx.tracer)

    def write_base_manifest(self) -> None:
        """The manifest a job that already validated the other seven
        partitions would have left. Written once, before the first op
        and outside set-up: it is the benchmark's scaffolding, not work
        a job pays to start."""
        from data_validator_spark.plans.manifest import CheckpointManifest, partition_fingerprints

        done = {p["partition"]: p for p in self.meta["partitions"][:-1]}
        rows = [
            (r.partition_value, r.fingerprint, self.cfg().rule_version, "fail",
             done[r.partition_value]["rows"], 0, done[r.partition_value]["hard"], 0)
            for r in partition_fingerprints(self.clips, "ingest_date").collect()
            if r.partition_value in done
        ]
        shutil.rmtree(self.base, ignore_errors=True)
        CheckpointManifest(self.base).record(
            self.spark.createDataFrame(
                rows,
                "partition_value string, fingerprint string, rule_version string, status string, "
                "n_rows long, n_soft_invalid long, n_hard_invalid long, n_warnings long",
            )
        )

    @staticmethod
    def cfg():
        from data_validator_spark.plans.validation import ValidationConfig

        # job.py's configuration with check_quality=True
        return ValidationConfig(check_quality=True, persist=True)

    def prepare(self) -> None:
        if not os.path.exists(self.base):
            self.write_base_manifest()
        shutil.rmtree(self.run_dir, ignore_errors=True)
        shutil.copytree(self.base, os.path.join(self.run_dir, "manifest"))

    def op(self, tr) -> dict:
        from data_validator_spark.plans.manifest import CheckpointManifest, run_resumable

        out = os.path.join(self.run_dir, "out")
        manifest = CheckpointManifest(os.path.join(self.run_dir, "manifest"))
        todo, res = run_resumable(self.spark, self.clips, manifest, self.tr_ref, None, self.cfg(), record=False)
        self.res = res
        with tr.span("write.validated"):
            res.validated.write.mode("append").parquet(f"{out}/validated")
        with tr.span("write.invalid"):
            res.invalid.write.mode("append").parquet(f"{out}/invalid")
        with tr.span("write.stats"):
            res.summary_stats.coalesce(1).write.mode("append").parquet(f"{out}/stats")
        with tr.span("write.histograms"):
            res.histograms.coalesce(1).write.mode("append").parquet(f"{out}/histograms")
        with tr.span("plans.record"):
            manifest.record(res.manifest_rows)
        return {"todo": todo}

    def check(self, obs: dict) -> list[str]:
        """Read the job's outputs back with pyarrow (no Spark jobs, so
        checking stays cheap and out of the engine's counters)."""
        import pyarrow.dataset as ds

        def table(sub: str, cols=None):
            return ds.dataset(os.path.join(self.run_dir, sub), format="parquet").to_table(columns=cols)

        p = self.pending
        invalid = table("out/invalid", ["ingest_seq"]).column("ingest_seq").unique()
        valid = table("out/validated", ["codec", "silence_ratio"])
        # the quality pass: every validated clip of a PCM-decodable
        # codec carries its features (opus stops at the metadata tier)
        pcm = np.isin(valid.column("codec").to_numpy(zero_copy_only=False), ["pcm16", "flac", "mulaw"])
        silence = valid.column("silence_ratio").to_numpy(zero_copy_only=False).astype(float)
        featured = pcm & (silence >= 0) & (silence <= 1)
        return self.mismatches(
            validated=(valid.num_rows, p["rows"] - p["hard"]),
            quality_features=(int(featured.sum()), int(pcm.sum())),
            quality_rows=(bool(pcm.any()), True),
            pending=(obs["todo"], [p["partition"]]),
            hard_invalid=(len(invalid), p["hard"]),
            manifest_rows=(table("manifest").num_rows, len(self.meta["partitions"])),
            stats_nonempty=(table("out/stats").num_rows > 0, True),
            hist_nonempty=(table("out/histograms").num_rows > 0, True),
        )

    def read_ratios(self, read_mb: float) -> dict[str, float]:
        part = os.path.join(self.dir, "clips", f"ingest_date={self.pending['partition']}")
        return {"plans.rerun_bytes_ratio": read_mb * (1 << 20) / inputs.dir_bytes(part)}


class WideProfile(Workload):
    """stats.profile + stats.histogram + kll_sketches -> kll_drift
    (a self-compare) over seeded float64 columns, all collected.

    Not a workload of its own (see README.md): every traced run makes
    one checked op of it, for the operators.* wide-schema spans."""

    name = "wide_profile"

    def generate(self) -> None:
        cfg = inputs.WideInput(
            n_rows=max(1000, int(WIDE.n_rows * self.ctx.scale)),
            n_cols=WIDE.n_cols if self.ctx.scale >= 1 else 4,
            n_files=WIDE.n_files,
        )
        self.dir, self.meta = inputs.wide_input(self.ctx.cache_dir, self.ctx.seed, cfg)
        self.input_bytes = self.meta["bytes"]
        self.rows_per_op = self.meta["rows"]

    def open(self, spark) -> None:
        from data_validator_spark.operators import stats

        self.spark = spark
        self.df = spark.read.parquet(os.path.join(self.dir, "wide"))
        self.specs = [stats.ColumnSpec(c, "numeric", -150.0, 150.0, 30) for c in self.meta["columns"]]

    def op(self, tr) -> dict:
        from data_validator_spark.operators import stats

        with tr.span("operators.profile_build"):
            prof = stats.profile(self.df, self.specs)
        with tr.span("operators.profile"):
            prof_rows = prof.collect()
        with tr.span("operators.histogram"):
            hist_rows = stats.histogram(self.df, self.specs).collect()
        with tr.span("operators.kll_sketches"):
            self.sk = stats.kll_sketches(self.df, self.meta["columns"]).persist()
            n_sk = self.sk.count()
        with tr.span("operators.kll_drift"):
            drift = stats.kll_drift(self.sk, self.sk).collect()
        return {"profile": prof_rows, "hist": hist_rows, "n_sk": n_sk, "drift": drift}

    def check(self, obs: dict) -> list[str]:
        from data_validator_spark.operators.stats import DEFAULT_QUANTILES

        m = self.meta
        cols = m["columns"]
        i50 = list(DEFAULT_QUANTILES).index(0.5)
        mu = dict(zip(cols, m["means"]))
        sd = dict(zip(cols, m["sigmas"]))
        # the sample median of n normal draws sits within 0.05 sigma of
        # the mean by ~9 standard errors at the default 50k rows
        tol = max(0.05, 6 * 1.2533 / m["rows"] ** 0.5)
        p50_off = [
            r.column_name for r in obs["profile"]
            if abs(r.quantiles[i50] - mu[r.column_name]) > tol * sd[r.column_name]
        ]
        per_col: dict[str, int] = {}
        for r in obs["hist"]:
            per_col[r.column_name] = per_col.get(r.column_name, 0) + r.cnt
        return self.mismatches(
            profile_rows=(len(obs["profile"]), len(cols)),
            p50_off=(p50_off, []),
            hist_counts=(sorted(set(per_col.values())), [m["rows"]]),
            hist_columns=(len(per_col), len(cols)),
            sketches=(obs["n_sk"], len(cols)),
            drift_rows=(len(obs["drift"]), len(cols)),
            kll_self_ks=(max(r.ks for r in obs["drift"]) <= 0.02, True),
        )

    def cleanup(self) -> None:
        if getattr(self, "sk", None) is not None:
            self.sk.unpersist(blocking=True)
            self.sk = None


WORKLOADS = {w.name: w for w in (ClipsFull, JobRerun)}


def _trace_manifest_calls(tr) -> None:
    """Record the pending-partition scan and the plan build that
    run_resumable makes, by wrapping the names it looks up in its own
    module."""
    from data_validator_spark.plans import manifest

    if not getattr(manifest, "_perfbench_traced", False):
        manifest.pending_partitions = tr.wrap("plans.pending", manifest.pending_partitions)
        manifest.run_validation = tr.wrap("plans.build", manifest.run_validation)
        manifest._perfbench_traced = True
