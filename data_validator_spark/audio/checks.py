"""Audio-payload validation stage (the graft's per-row invariant).

BASELINE.json input_hint: "decoded-PCM allclose (SNR>=30dB) +
transcript equality". This is the engine's only Python compute, kept
Arrow-batched (pandas UDF over binary series, never row-at-a-time
Python UDFs — SURVEY.md §2.11) with a minimal input projection:
(clip_id, codec, sr_hz, bytes). Everything downstream of the UDF
(labels, tiers, message appends) is Column expressions.

One decode loop: every audio UDF (this check, the fused quality
pass, align/loudness/embedding/resample reports, and segment_clips'
fan-out) decodes through codecs.decode_rows, and every UDF but
segmentation is built by make_decode_udf from a field list plus a
per-row analyzer. The core keeps these invariants for all of them:
  - skip rows: a true `skip` column passes the row through with every
    field at its fill value and NO decode attempt
  - metadata tier: PcmUnsupportedError falls back to the container
    inspector only where inspectors are passed (the check UDF always
    passes them); elsewhere it is decode_error text
  - sentinels: fields the analyzer did not fill keep their declared
    fill value (container_sr/n_samples -1, lag 0, NaN, NULL), and a
    CodecError from decode or analysis becomes decode_error text,
    never a task failure
  - batch size: session.py caps Arrow batches (and the parquet
    columnar reader) at 512 rows so a batch of `bytes` payloads fits
    executor memory; each batch is released before the next

Scale notes:
  - decode parallelism: one task decodes its batches, and a batch of
    a task that runs alone on its host spreads its rows over forked
    helpers (audio/fanout.py). Every decode task holds a shared lock
    on one gate file per host from its first batch to its end; a
    batch fans out only after it has decoded its first 32 rows
    in-process and only when it can take that lock exclusively, so a
    stage with a task per core never oversubscribes. The width is the
    driver's local[k] (local-cluster: executors x cores) or
    spark.executor.cores, capped by its CPU affinity. The output is
    the in-process loop's, row for row, and a failed helper's rows
    are decoded again in-process, so the fan-out never fails a task.
    Nothing here repartitions the payload (plans/validation.py's
    decode_partitions can, deterministically, when a caller asks).
  - per-row work is O(samples).
"""

from __future__ import annotations

from typing import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from data_validator_spark.audio import codecs, fanout, synth
from data_validator_spark.audio.quality import (
    _FEATURE_FIELDS,
    CLIPPING_MAX_RATIO,
    DC_OFFSET_MAX,
    SILENCE_MAX_RATIO,
    analyze_pcm,
    quality_labels_expr,
)
from data_validator_spark.functions.sqltext import lit, project
from data_validator_spark.session import per_jvm

SNR_MIN_DB = 30.0

# (name, Spark type, fill value): the fill is what a row carries when
# it was skipped, failed to decode, or the analyzer left it unset;
# its Python type fixes the numpy column dtype
Field = tuple[str, T.DataType, object]
Analyzer = Callable[[codecs.DecodedRow], dict]

_CHECK_FIELDS: list[Field] = [
    ("snr_db", T.DoubleType(), np.nan),
    ("container_sr", T.IntegerType(), -1),
    ("n_samples", T.LongType(), -1),
    ("pcm_unsupported", T.BooleanType(), False),
]


def make_decode_udf(
    fields: list[Field],
    analyze: Analyzer,
    plugins: dict | None = None,
    inspectors: dict | None = None,
):
    """Iterator pandas UDF: struct(clip_id, codec, bytes[, skip, ...])
    -> struct(decode_error, *fields), one output row per input row.
    `analyze(row)` runs once per decoded row (codecs.DecodedRow) and
    returns {field: value}; a CodecError it raises becomes the row's
    decode_error. `plugins`/`inspectors` ride the closure to every
    python worker — the same serialization path as all user code — so
    native decoders and container inspectors plug in per call with no
    engine edit. A batch may run across forked helpers on idle cores
    (fanout.Task), with the same output row for row, so
    `analyze` must not rely on state shared between rows."""
    schema = T.StructType(
        [T.StructField("decode_error", T.StringType())]
        + [T.StructField(name, dt) for name, dt, _ in fields]
    )
    int32 = [name for name, dt, _ in fields if isinstance(dt, T.IntegerType)]

    host = fanout.Host()

    def decode(pdf: pd.DataFrame) -> fanout.Result:
        n = len(pdf)
        err = np.full(n, None, dtype=object)
        cols = {name: np.full(n, fill) for name, _, fill in fields}
        for row in codecs.decode_rows(pdf, plugins, inspectors):
            if row.error is not None:
                err[row.i] = row.error
                continue
            try:
                vals = analyze(row)
                _check_int32(vals, int32)
            except codecs.CodecError as e:  # e.g. a failed re-encode
                err[row.i] = str(e)
                continue
            for name, v in vals.items():
                cols[name][row.i] = v
        return err, cols

    @pandas_udf(schema)
    def _decode_udf(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with fanout.Task(host) as task:
            for pdf in it:
                err, cols = task.run(pdf, decode)
                out = {"decode_error": err}
                for name, dt, _ in fields:
                    # nullable Int32 refuses out-of-range ints, never
                    # wraps; _check_int32 made those rows decode errors
                    out[name] = (
                        pd.array(cols[name], dtype="Int32")
                        if isinstance(dt, T.IntegerType)
                        else cols[name]
                    )
                yield pd.DataFrame(out)

    return _decode_udf


def _check_int32(vals: dict, names: list[str]) -> None:
    """A header value that does not fit an INT field (a WAV `fmt` rate
    of 3,000,000,000) is that row's decode error, not a task failure."""
    for name in names:
        v = vals.get(name)
        if v is not None and not -(2**31) <= v < 2**31:
            raise codecs.CodecError(f"{name} out of int32 range: {v}")


def _metadata_outcome(meta: dict) -> dict:
    """Metadata-tier pass (PCM decode unsupported, e.g. opus without
    libopus; the REAL container inspection passed): pcm_unsupported,
    container_sr from the container's declared rate, and n_samples
    implied by its declared duration, so duration-consistency checks
    stay real. snr_db stays null; the caller surfaces
    audio_codec_unsupported_pcm(<codec>)."""
    out = {"pcm_unsupported": True}
    in_sr = meta.get("input_sr") or 0
    if in_sr > 0:
        out["container_sr"] = in_sr
        if meta.get("duration_ms") is not None:
            out["n_samples"] = int(round(meta["duration_ms"] / 1000.0 * in_sr))
    return out


def make_audio_check_udf(
    plugins: dict | None = None,
    inspectors: dict | None = None,
    quality: bool = False,
    embed_mels: int | None = None,
):
    """Build the decode-check UDF: struct(clip_id, codec, sr_hz, bytes,
    skip) -> (decode_error, snr_db, container_sr, n_samples,
    pcm_unsupported), plus every quality feature when `quality` and
    the log-mel `embedding` (audio/features.py, 2*embed_mels floats)
    when `embed_mels` — all from ONE decode per row, so a pipeline
    gating on the invariant, quality and content dedup pays a single
    pass over the payload column. The metadata tier is always on."""
    fields = list(_CHECK_FIELDS)
    if quality:
        fields += [(name, dt, np.nan) for name, dt in _FEATURE_FIELDS]
    if embed_mels:
        from data_validator_spark.audio.features import log_mel_embedding

        fields.append(("embedding", T.ArrayType(T.FloatType()), None))

    def analyze(row: codecs.DecodedRow) -> dict:
        if row.pcm is None:
            return _metadata_outcome(row.meta)
        pcm, sr = row.pcm, row.sr
        ref = synth.reference_pcm(str(row.clip_id), int(sr), len(pcm))
        out = {
            "container_sr": sr,
            "n_samples": len(pcm),
            "snr_db": codecs.snr_db(ref, pcm),
        }
        if quality:
            out.update(analyze_pcm(pcm, sr))
        if embed_mels:
            out["embedding"] = [
                float(v) for v in log_mel_embedding(pcm, sr, embed_mels)
            ]
        return out

    return make_decode_udf(fields, analyze, plugins, inspectors or {})


# default instance (no plugins, quality off) — the public name
audio_check_udf = make_audio_check_udf()


def run_audio_checks(
    clips: DataFrame,
    snr_min: float = SNR_MIN_DB,
    snr_min_by_codec: dict[str, float] | None = None,
    skip_col: str | None = None,
    quality: bool = False,
    clipping_max: float | None = None,
    dc_max: float | None = None,
    silence_max: float | None = None,
    upsample_min_ratio: float | None = None,
    min_effective_bits: int | None = None,
    lufs_min: float | None = None,
    lufs_max: float | None = None,
    embed_mels: int | None = None,
    decoder_plugins: dict | None = None,
    inspector_plugins: dict | None = None,
) -> DataFrame:
    """Append audio-check outcome columns:

      audio_bytes_null     boolean (structured null-payload flag —
                           computed JVM-side, NOT parsed from the
                           decode error text, so rewording CodecError
                           messages can never reclassify missing
                           payloads)
      audio_decode_error   string  (hard-tier material)
      audio_snr_db         double
      _snr_label           `audio_snr_below_30db(x.x)` or NULL (soft)
      _container_sr_label  `bytes_sr_mismatch(sr)` or NULL (warning)
      _pcm_unsupported_label `audio_codec_unsupported_pcm(<codec>)`
                           or NULL (warning): the codec's container
                           passed its REAL metadata checks but PCM
                           decode is unavailable in-environment, so
                           the SNR invariant was not evaluated — the
                           honest outcome, never a synthetic pass

    The SNR label rounds to 1dp, echoing the offending value like the
    reference's `fast_rt_...s` labels (core_models.py:169-202).

    quality=True adds the spectral/level features (quality.analyze_pcm)
    and a `_quality_labels` soft-tier column from the same single
    decode pass — a pipeline gating on both the invariant and quality
    never decodes twice.
    """
    if not quality:
        # these knobs only take effect on the fused quality pass —
        # silently ignoring them would hand a caller a loudness window
        # that never fires
        ignored = {
            "clipping_max": clipping_max,
            "dc_max": dc_max,
            "silence_max": silence_max,
            "upsample_min_ratio": upsample_min_ratio,
            "min_effective_bits": min_effective_bits,
            "lufs_min": lufs_min,
            "lufs_max": lufs_max,
            "embed_mels": embed_mels,
        }
        set_knobs = [k for k, v in ignored.items() if v is not None]
        if set_knobs:
            raise ValueError(
                "run_audio_checks: quality-only options "
                f"{set_knobs} require quality=True"
            )
    skip = F.col(skip_col) if skip_col else F.lit(False)
    if decoder_plugins or inspector_plugins:
        udf = make_audio_check_udf(
            decoder_plugins, inspector_plugins, quality, embed_mels
        )
    else:  # plugin-free UDFs are built (and pickled) once per JVM
        udf = per_jvm(
            ("audio_check_udf", quality, embed_mels),
            lambda: make_audio_check_udf(None, None, quality, embed_mels),
        )
    res = udf(
        F.struct(
            F.col("clip_id"),
            F.col("codec"),
            F.col("sr_hz"),
            F.col("bytes"),
            skip.alias("skip"),
        )
    )
    out = clips.withColumns(
        {"audio_bytes_null": F.col("bytes").isNull(), "_audio": res}
    )
    # every outcome column in ONE projection of SQL text over the
    # decode-result struct (the UDF stays a single call per row)
    cols: dict[str, str] = {}
    if quality:
        for name, _ in _FEATURE_FIELDS:
            cols[name] = f"_audio.{name}"
        if embed_mels:
            cols["embedding"] = "_audio.embedding"
        cols["_quality_labels"] = quality_labels_expr(
            "_audio",
            clipping_max if clipping_max is not None else CLIPPING_MAX_RATIO,
            dc_max if dc_max is not None else DC_OFFSET_MAX,
            silence_max if silence_max is not None else SILENCE_MAX_RATIO,
            upsample_min_ratio=upsample_min_ratio,
            min_effective_bits=min_effective_bits,
            lufs_min=lufs_min,
            lufs_max=lufs_max,
        )
    # per-codec threshold override: the audio analogue of the
    # reference's per-task rt-bound overrides (core_models.py:169-202)
    # — lossy codecs legitimately bottom out below a lossless bar.
    # Compiles to a CASE (static config, stays in codegen).
    arms = "".join(
        f"WHEN codec = {lit(c)} THEN {lit(float(lo))} "
        for c, lo in reversed(list((snr_min_by_codec or {}).items()))
    )
    thresh = lit(float(snr_min))
    if arms:
        thresh = f"CASE {arms}ELSE {thresh} END"
    decoded = "_audio.decode_error IS NULL"
    snr_name = f"audio_snr_below_{int(snr_min)}db"
    cols.update(
        {
            "audio_decode_error": "_audio.decode_error",
            "audio_snr_db": "_audio.snr_db",
            # decoded length + container rate surface so downstream
            # rules (duration consistency, transcript plausibility) can
            # use the DECODED duration instead of trusting dur_ms
            "audio_n_samples": "_audio.n_samples",
            "audio_container_sr": "_audio.container_sr",
            "_snr_label": f"CASE WHEN {decoded} AND _audio.snr_db < {thresh} "
            f"THEN concat('{snr_name}(', CAST(round(_audio.snr_db, 1) AS STRING), ')') END",
            # container_sr > 0: skipped rows and metadata-tier rows
            # with no declared rate carry the -1 sentinel, not a rate
            "_container_sr_label": f"CASE WHEN {decoded} AND sr_hz IS NOT NULL "
            "AND _audio.container_sr > 0 AND _audio.container_sr != sr_hz "
            "THEN concat('bytes_sr_mismatch(', CAST(_audio.container_sr AS STRING), ')') END",
            "_pcm_unsupported_label": f"CASE WHEN {decoded} AND _audio.pcm_unsupported "
            "THEN concat('audio_codec_unsupported_pcm(', codec, ')') END",
        }
    )
    return project(out, out.columns, cols, drop=["_audio"])


def duration_consistency_label(
    dur_ms: Column,
    n_samples: Column,
    container_sr: Column,
    tol_ms: float = 50.0,
) -> Column:
    """Metadata-vs-payload duration cross-check (pure Column expr over
    the decode UDF's outputs): the decoded payload implies a duration
    n_samples / container_sr * 1000; when the `dur_ms` metadata column
    disagrees by more than tol_ms, emit the value-echoing label
    `dur_ms_mismatch(<decoded_ms>)` (warning tier — metadata drift,
    not payload corruption). NULL when the row was not decoded
    (n_samples < 0 sentinel / null inputs), so diverted rows never
    produce phantom flags."""
    decoded_ms = n_samples.cast("double") / container_sr.cast("double") * 1000.0
    return F.when(
        dur_ms.isNotNull()
        & n_samples.isNotNull()
        & (n_samples >= 0)
        & container_sr.isNotNull()
        & (container_sr > 0)
        & (F.abs(decoded_ms - dur_ms.cast("double")) > tol_ms),
        F.concat(
            F.lit("dur_ms_mismatch("),
            F.round(decoded_ms, 1).cast("string"),
            F.lit(")"),
        ),
    )
