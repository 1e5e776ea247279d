"""Audio QUALITY features + rules over decoded PCM — the audio-axis
analogue of the text quality scorer (operators/text.py): per-clip
signal statistics a training-data pipeline gates on before a clip is
allowed into a corpus.

Features (all computed from ONE decode of the payload, fused with the
SNR/transcript invariant so a pipeline wanting both pays a single
Python pass over `bytes`):

  clipping_ratio     fraction of samples at full scale (|x| >= 0.999)
  dc_offset          mean(x) — a miswired ADC shows up here
  rms_db             20*log10(rms) overall level
  silence_ratio      fraction of 20 ms frames with RMS below -60 dBFS
  dominant_freq_hz   argmax |rFFT| excluding DC — for the synthetic
                     recipe this must land on the f0 partial
                     (synth.reference_pcm: f0 = 200 + seed%1800 at
                     amplitude 0.6 vs f1 at 0.25), which makes the
                     FFT path analytically checkable (q65)
  spectral_flatness  geometric/arithmetic mean of the power spectrum
                     (excl. DC): ~1 for noise/silence, ~0 for tones

Rule tier (soft labels, reference-style value-echoing messages —
/root/reference/validators/core_models.py:169-202 pattern):
  audio_clipping(r)   clipping_ratio > 0.01
  audio_dc_offset(x)  |dc_offset| > 0.05
  audio_silent(r)     silence_ratio > 0.5

Scale notes: analyze_pcm runs inside the decode-check UDF
(checks.make_audio_check_udf(quality=True), the shared decode core);
per-row cost is O(n log n) for one rFFT of <= a few seconds of audio;
nothing but scalars leave the UDF, so no wide shuffle ever carries
PCM.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from data_validator_spark.functions.sqltext import ident, lit

CLIP_FULL_SCALE = 0.999
CLIPPING_MAX_RATIO = 0.01
DC_OFFSET_MAX = 0.05
SILENCE_FRAME_MS = 20
SILENCE_RMS_DBFS = -60.0
SILENCE_MAX_RATIO = 0.5

BANDWIDTH_ENERGY_FRAC = 0.995

_FEATURE_FIELDS = [
    ("clipping_ratio", T.DoubleType()),
    ("dc_offset", T.DoubleType()),
    ("rms_db", T.DoubleType()),
    ("silence_ratio", T.DoubleType()),
    ("dominant_freq_hz", T.DoubleType()),
    ("spectral_flatness", T.DoubleType()),
    ("bandwidth_hz", T.DoubleType()),
    ("effective_bits", T.DoubleType()),
    # BS.1770-4 K-weighted integrated loudness (audio/loudness.py);
    # NaN for clips shorter than one 400 ms block or fully gated out
    ("loudness_lufs", T.DoubleType()),
]

def analyze_pcm(pcm: np.ndarray, sr_hz: int) -> dict[str, float]:
    """Pure-numpy feature extraction for one decoded clip (float32
    [-1, 1]). Deterministic: same samples -> same features."""
    x = np.asarray(pcm, dtype=np.float32)
    n = len(x)
    if n == 0:
        return {name: float("nan") for name, _ in _FEATURE_FIELDS}
    ax = np.abs(x)
    clipping = float(np.count_nonzero(ax >= CLIP_FULL_SCALE)) / n
    dc = float(x.mean())
    rms = float(np.sqrt(np.dot(x, x) / n))
    rms_db = 20.0 * np.log10(rms) if rms > 0 else float("-inf")

    frame = max(1, int(sr_hz * SILENCE_FRAME_MS / 1000))
    n_frames = n // frame
    if n_frames:
        fx = x[: n_frames * frame].reshape(n_frames, frame).astype(np.float64)
        frame_rms = np.sqrt(np.mean(fx * fx, axis=1))
        thresh = 10.0 ** (SILENCE_RMS_DBFS / 20.0)
        silence = float(np.count_nonzero(frame_rms < thresh)) / n_frames
    else:
        silence = float(rms < 10.0 ** (SILENCE_RMS_DBFS / 20.0))

    # effective bit depth: snap to the 16-bit grid and count the
    # trailing zero bits common to every nonzero sample — content
    # quantized to b bits then upconverted lands on multiples of
    # 2^(16-b), the classic bit-depth probe (ffprobe/sox behavior).
    # Properly dithered real 16-bit audio reports 16; digital silence
    # reports 0 by convention. Scale is 32767: every codec in this
    # engine maps int16 <-> float as v/32767 (codecs.py, flac.py).
    ints = np.round(x.astype(np.float64) * 32767.0).clip(-32768, 32767).astype(np.int32)
    nz = ints[ints != 0]
    if len(nz):
        min_tz = int(np.log2(np.min(nz & -nz)))
        eff_bits = 16 - min_tz
    else:
        eff_bits = 0

    spec = np.abs(np.fft.rfft(x.astype(np.float64)))
    power = spec * spec
    if len(power) > 1:
        body = power[1:]  # exclude DC from all spectral features
        k = int(np.argmax(body)) + 1
        dom = k * sr_hz / n
        am = float(body.mean())
        flatness = (
            float(np.exp(np.mean(np.log(body + 1e-30))) / (am + 1e-30))
            if am > 0
            else 1.0
        )
        total = float(body.sum())
        if total > 0:
            # effective bandwidth: lowest frequency below which
            # BANDWIDTH_ENERGY_FRAC of the (non-DC) energy lies — the
            # upsample detector's raw material (8 kHz content shipped
            # in a 48 kHz container rolls off at ~4 kHz, not ~24 kHz)
            k_bw = int(np.searchsorted(np.cumsum(body), BANDWIDTH_ENERGY_FRAC * total)) + 1
            bw = k_bw * sr_hz / n
        else:
            bw = 0.0
    else:
        dom, flatness, bw = 0.0, 1.0, 0.0
    from data_validator_spark.audio.loudness import integrated_lufs

    lufs = integrated_lufs(x, sr_hz)[0]
    return {
        "clipping_ratio": clipping,
        "dc_offset": dc,
        "rms_db": float(rms_db),
        "silence_ratio": silence,
        "dominant_freq_hz": float(dom),
        "spectral_flatness": flatness,
        "bandwidth_hz": float(bw),
        "effective_bits": float(eff_bits),
        "loudness_lufs": float(lufs),
    }


def quality_labels_expr(
    struct_name: str,
    clipping_max: float = CLIPPING_MAX_RATIO,
    dc_max: float = DC_OFFSET_MAX,
    silence_max: float = SILENCE_MAX_RATIO,
    upsample_min_ratio: float | None = None,
    min_effective_bits: int | None = None,
    lufs_min: float | None = None,
    lufs_max: float | None = None,
) -> str:
    """';'-joined soft-tier quality labels (NULL when clean) over the
    named decode-result struct column, as SQL text — the same
    value-echoing shape the rule compiler emits, so plans fold it
    straight into `messages`. Shared by run_quality_checks and the
    fused checks.run_audio_checks(quality=True) path, which evaluate it
    in their one outcome projection."""
    s = ident(struct_name)

    def f(name: str) -> str:
        return f"{s}.{ident(name)}"

    def label(cond: str, name: str, value: str) -> str:
        return (
            f"CASE WHEN {f('decode_error')} IS NULL AND {cond} "
            f"THEN concat('{name}(', CAST({value} AS STRING), ')') END"
        )

    labels = []
    # upsample detection is OPT-IN (upsample_min_ratio=None disables):
    # legitimate narrowband content (a tone, a sine-sweep fixture)
    # is spectrally indistinguishable from an upsample artifact, so
    # the threshold is a per-dataset policy, not a universal default.
    # bandwidth is measured vs the DECODED container rate — a clip
    # whose content fills its claimed sr_hz but not its real one is
    # precisely the defect.
    if upsample_min_ratio is not None:
        nyquist = f"{f('container_sr')} / 2.0D"
        labels.append(
            label(
                f"{f('container_sr')} > 0 AND {f('silence_ratio')} < 1.0D "
                f"AND {f('bandwidth_hz')} < {lit(upsample_min_ratio)} * {nyquist}",
                "audio_upsampled",
                f"round({f('bandwidth_hz')} / ({nyquist}), 3)",
            )
        )
    # low-bitdepth is opt-in for the same reason as upsample: whether
    # 8-bit provenance is a defect is a dataset policy. Silence
    # (effective_bits = 0 by convention) is the silence rule's job.
    if min_effective_bits is not None:
        labels.append(
            label(
                f"{f('effective_bits')} > 0 "
                f"AND {f('effective_bits')} < {lit(min_effective_bits)}",
                "audio_low_bitdepth",
                f"CAST({f('effective_bits')} AS INT)",
            )
        )
    # loudness bounds are opt-in like the other policies: the target
    # window is a corpus-normalization choice (speech ~-16..-23 LUFS),
    # not a universal constant. Unmeasurable clips (NaN/NULL: shorter
    # than one 400 ms block, or fully gated silence) are NOT flagged
    # here — the silence rule owns that defect class.
    if lufs_min is not None and lufs_max is not None:
        lufs = f("loudness_lufs")
        labels.append(
            label(
                f"{lufs} IS NOT NULL AND NOT isnan({lufs}) "
                f"AND ({lufs} < {lit(lufs_min)} OR {lufs} > {lit(lufs_max)})",
                "audio_loudness_out_of_range",
                f"round({lufs}, 1)",
            )
        )
    labels += [
        label(
            f"{f('clipping_ratio')} > {lit(clipping_max)}",
            "audio_clipping",
            f"round({f('clipping_ratio')}, 3)",
        ),
        label(
            f"abs({f('dc_offset')}) > {lit(dc_max)}",
            "audio_dc_offset",
            f"round({f('dc_offset')}, 3)",
        ),
        label(
            f"{f('silence_ratio')} > {lit(silence_max)}",
            "audio_silent",
            f"round({f('silence_ratio')}, 3)",
        ),
    ]
    joined = f"array_join(filter(array({', '.join(labels)}), x -> x IS NOT NULL), ';')"
    return f"nullif({joined}, '')"


def run_quality_checks(
    clips: DataFrame,
    skip_col: str | None = None,
    clipping_max: float = CLIPPING_MAX_RATIO,
    dc_max: float = DC_OFFSET_MAX,
    silence_max: float = SILENCE_MAX_RATIO,
    upsample_min_ratio: float | None = None,
    min_effective_bits: int | None = None,
    lufs_min: float | None = None,
    lufs_max: float | None = None,
    embed_mels: int | None = None,
) -> DataFrame:
    """Append quality feature columns + soft-tier labels. Input needs
    (clip_id, codec, sr_hz, bytes); output adds every feature column
    plus `_quality_labels` (';'-joined, NULL when clean). Delegates to
    the fused checks.run_audio_checks(quality=True) — ONE decode pass
    computes the SNR invariant and the features."""
    from data_validator_spark.audio.checks import run_audio_checks

    return run_audio_checks(
        clips,
        skip_col=skip_col,
        quality=True,
        clipping_max=clipping_max,
        dc_max=dc_max,
        silence_max=silence_max,
        upsample_min_ratio=upsample_min_ratio,
        min_effective_bits=min_effective_bits,
        lufs_min=lufs_min,
        lufs_max=lufs_max,
        embed_mels=embed_mels,
    )
