"""ITU-R BS.1770-4 K-weighted integrated loudness (LUFS) — the
broadcast/corpus-normalization loudness measure, as a per-clip audio
feature + soft rule.

Reference parity note: the reference validates per-field bounds
(core_models.py:169-202 rt-bounds pattern); loudness is the audio
content-level analogue — a clip whose integrated loudness is far from
the corpus target (speech corpora normalize to ~-16..-23 LUFS) is a
recording-chain defect exactly like an out-of-bounds rt.

Algorithm (BS.1770-4):
  1. K-weighting: stage-1 high-shelf (+~4 dB above ~1.5 kHz, head
     model) then stage-2 RLB high-pass (~38 Hz). Both are biquads
     designed from the published analog prototype parameters via the
     bilinear transform, so the filters are correct at ANY sample
     rate (the spec tabulates 48 kHz; the prototype parameterization
     is the standard way to re-derive other rates).
  2. Mean-square over 400 ms blocks, 75% overlap (100 ms hop).
  3. Block loudness l_j = -0.691 + 10 log10(z_j).
  4. Two-stage gating: absolute (-70 LUFS), then relative (-10 LU
     under the mean of absolutely-gated blocks); integrated loudness
     is the mean square of surviving blocks.

Vectorization: IIR filtering is sequential, so instead of filtering
samples, each 400 ms block's mean square is computed in the FREQUENCY
domain: one batched rFFT over the block matrix, multiplied by the
EXACT K-weighting power response |H1(e^jw)|^2 |H2(e^jw)|^2 evaluated
from the biquad coefficients at the bin frequencies, summed via
Parseval. The weighting response itself is exact; the block-edge
treatment is circular rather than linear convolution — a deterministic,
documented approximation whose error vanishes for stationary content
(measured < 0.1 LU on sines; tests pin the 997 Hz anchor at the
BS.1770 textbook value, 0 dBFS sine -> -3.01 LUFS).

Scale design: pure numpy per row, an analyzer on the shared decode
core (checks.make_decode_udf); only scalars (lufs, block counts)
leave the UDF — PCM never shuffles.
"""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_validator_spark.audio import codecs
from data_validator_spark.audio.checks import make_decode_udf

BLOCK_MS = 400
HOP_MS = 100
ABS_GATE_LUFS = -70.0
REL_GATE_LU = -10.0
_OFFSET = -0.691  # BS.1770 calibration constant

# Analog prototype parameters of the two K-weighting stages
# (BS.1770-4; the same parameterization public implementations use to
# support arbitrary sample rates).
_STAGE1_F0 = 1681.9744509555319
_STAGE1_GAIN_DB = 3.999843853973347
_STAGE1_Q = 0.7071752369554193
_STAGE2_F0 = 38.13547087613982
_STAGE2_Q = 0.5003270373253953


def _high_shelf(fs: float) -> tuple[np.ndarray, np.ndarray]:
    """Stage-1 shelving biquad (b, a) at sample rate fs."""
    k = math.tan(math.pi * _STAGE1_F0 / fs)
    vh = 10.0 ** (_STAGE1_GAIN_DB / 20.0)
    vb = vh ** 0.4996667741545416
    a0 = 1.0 + k / _STAGE1_Q + k * k
    b = np.array(
        [
            (vh + vb * k / _STAGE1_Q + k * k) / a0,
            2.0 * (k * k - vh) / a0,
            (vh - vb * k / _STAGE1_Q + k * k) / a0,
        ]
    )
    a = np.array(
        [1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / _STAGE1_Q + k * k) / a0]
    )
    return b, a


def _high_pass(fs: float) -> tuple[np.ndarray, np.ndarray]:
    """Stage-2 RLB high-pass biquad (b, a) at sample rate fs."""
    k = math.tan(math.pi * _STAGE2_F0 / fs)
    a0 = 1.0 + k / _STAGE2_Q + k * k
    # b is NOT normalized by a0: BS.1770 tabulates the RLB stage as
    # exactly [1, -2, 1] (unity high-frequency gain)
    b = np.array([1.0, -2.0, 1.0])
    a = np.array(
        [1.0, 2.0 * (k * k - 1.0) / a0, (1.0 - k / _STAGE2_Q + k * k) / a0]
    )
    return b, a


def k_weighting_power(fs: int, n_bins: int, n_fft: int) -> np.ndarray:
    """|H_K(e^jw)|^2 at the `n_bins` rFFT bin frequencies of an
    `n_fft`-point transform: the exact combined power response of the
    two biquads (no tabulation, valid at any fs)."""
    w = 2.0 * np.pi * np.arange(n_bins) / n_fft
    z1 = np.exp(-1j * w)
    z2 = z1 * z1
    total = np.ones(n_bins)
    for b, a in (_high_shelf(fs), _high_pass(fs)):
        h = (b[0] + b[1] * z1 + b[2] * z2) / (a[0] + a[1] * z1 + a[2] * z2)
        total = total * (h.real * h.real + h.imag * h.imag)
    return total


def integrated_lufs(pcm: np.ndarray, fs: int) -> tuple[float, int, int]:
    """-> (integrated LUFS, n_blocks, n_gated_blocks). NaN when the
    clip is shorter than one 400 ms block or every block gates out
    (digital silence)."""
    x = np.asarray(pcm, dtype=np.float64)
    n = len(x)
    block = int(fs * BLOCK_MS / 1000)
    hop = int(fs * HOP_MS / 1000)
    if block <= 0 or n < block:
        return float("nan"), 0, 0
    n_blocks = 1 + (n - block) // hop
    # overlapping block view, no copy
    blocks = np.lib.stride_tricks.as_strided(
        x,
        shape=(n_blocks, block),
        strides=(x.strides[0] * hop, x.strides[0]),
    )
    spec = np.fft.rfft(blocks, axis=1)
    power = spec.real * spec.real + spec.imag * spec.imag
    wk = k_weighting_power(fs, power.shape[1], block)
    # Parseval for rFFT of a real length-`block` signal: DC (and
    # Nyquist when block is even) count once, every other bin twice
    scale = np.full(power.shape[1], 2.0)
    scale[0] = 1.0
    if block % 2 == 0:
        scale[-1] = 1.0
    z = (power * (wk * scale)).sum(axis=1) / (block * block)
    with np.errstate(divide="ignore"):
        lj = _OFFSET + 10.0 * np.log10(np.maximum(z, 1e-300))
    keep = lj > ABS_GATE_LUFS
    if not keep.any():
        return float("nan"), int(n_blocks), 0
    z_abs = z[keep].mean()
    rel_thresh = _OFFSET + 10.0 * np.log10(z_abs) + REL_GATE_LU
    keep2 = keep & (lj > rel_thresh)
    if not keep2.any():
        return float("nan"), int(n_blocks), 0
    lufs = _OFFSET + 10.0 * np.log10(z[keep2].mean())
    return float(lufs), int(n_blocks), int(keep2.sum())


_FIELDS = [
    ("loudness_lufs", T.DoubleType(), np.nan),
    ("n_blocks", T.IntegerType(), 0),
    ("n_gated_blocks", T.IntegerType(), 0),
]


def make_loudness_udf(plugins: dict | None = None):
    """Decode + integrated-loudness pandas UDF; `plugins` rides the
    closure like every decode UDF (native decoder seam)."""

    def analyze(row: codecs.DecodedRow) -> dict:
        lufs, nb, ng = integrated_lufs(row.pcm, row.sr)
        return {"loudness_lufs": lufs, "n_blocks": nb, "n_gated_blocks": ng}

    return make_decode_udf(_FIELDS, analyze, plugins)


def loudness_report(
    clips: DataFrame,
    lufs_min: float = -40.0,
    lufs_max: float = -5.0,
    plugins: dict | None = None,
) -> DataFrame:
    """Append `loudness_lufs`, `loudness_n_blocks`,
    `loudness_n_gated_blocks`, and the soft label `_loudness_label`
    (`audio_loudness_out_of_range(x.x)` value-echoing style, or
    `audio_loudness_unmeasurable` for clips with no gated blocks —
    silence or sub-400ms)."""
    res = make_loudness_udf(plugins)(
        F.struct(F.col("clip_id"), F.col("codec"), F.col("bytes"))
    )
    out = clips.withColumn("_loud", res)
    lufs = F.col("_loud.loudness_lufs")
    # NaN from the UDF may surface as SQL NULL after Arrow conversion:
    # treat both as unmeasurable
    label = F.when(
        F.col("_loud.decode_error").isNotNull(), F.lit(None).cast("string")
    ).when(
        lufs.isNull() | F.isnan(lufs), F.lit("audio_loudness_unmeasurable")
    ).when(
        (lufs < F.lit(lufs_min)) | (lufs > F.lit(lufs_max)),
        F.format_string("audio_loudness_out_of_range(%.1f)", lufs),
    )
    return (
        out.withColumn("loudness_lufs", lufs)
        .withColumn("loudness_n_blocks", F.col("_loud.n_blocks"))
        .withColumn("loudness_n_gated_blocks", F.col("_loud.n_gated_blocks"))
        .withColumn("loudness_decode_error", F.col("_loud.decode_error"))
        .withColumn("_loudness_label", label)
        .drop("_loud")
    )
