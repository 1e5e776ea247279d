"""Reference-alignment diagnostics: WHY did the SNR invariant fail?

A clip whose payload lost samples at the head (a truncated upload, a
codec priming-skip bug) fails the SNR>=30dB invariant catastrophically
— sample-by-sample comparison against a time-shifted signal measures
noise — but the content itself may be intact. This operator
cross-correlates the decoded PCM against the deterministic reference
(synth.reference_pcm, the same oracle signal the SNR check uses) and
reports:

  lag_samples     argmax of the cross-correlation within +/-max_lag:
                  +N means the payload's content starts N samples
                  INTO the reference (N head samples were dropped);
                  -N means N samples of lead-in were prepended
  aligned_snr_db  SNR over the overlapping region AFTER compensating
                  the lag — high when the content is intact and the
                  only defect is the shift

The reference's failure messages echo the offending value
(core_models.py:169-202); `_align_label` does the same:
`audio_misaligned(lag=320,aligned_snr=58.2)`.

Scale design: the cross-correlation is ONE rFFT pair + irfft per clip
(O(n log n), vectorized numpy), an analyzer on the shared decode core
(checks.make_decode_udf); only (lag, snr) scalars leave the UDF.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_validator_spark.audio import codecs, synth
from data_validator_spark.audio.checks import make_decode_udf

ALIGNED_SNR_MIN_DB = 30.0


def best_lag(x: np.ndarray, r: np.ndarray, max_lag: int) -> int:
    """Lag k in [-max_lag, max_lag] maximizing sum_i x[i] * r[i+k],
    via one zero-padded FFT cross-correlation. Ties resolve to the
    smallest |k| (then the positive one) for determinism."""
    n = len(x) + len(r) - 1
    nfft = 1 << max(1, (n - 1).bit_length())
    X = np.fft.rfft(x, nfft)
    R = np.fft.rfft(r, nfft)
    # corr[j] = sum_i x[i] r[i + j - (len(x)-1)] after fftshift logic:
    # full cross-correlation of r with reversed x
    c = np.fft.irfft(np.conj(X) * R, nfft)
    # lag k corresponds to index k mod nfft (k >= 0) / nfft + k (k < 0)
    lo = min(max_lag, len(r) - 1)
    hi = min(max_lag, len(x) - 1)
    ks = np.arange(-hi, lo + 1)
    vals = c[ks % nfft]
    order = np.lexsort((ks < 0, np.abs(ks), -vals))
    return int(ks[order[0]])


def aligned_snr(x: np.ndarray, r: np.ndarray, lag: int) -> float:
    """SNR (dB) of x against r over the overlap after shifting r by
    `lag` (x[i] ~ r[i+lag])."""
    if lag >= 0:
        n = min(len(x), len(r) - lag)
        if n <= 0:
            return float("-inf")
        a, b = x[:n], r[lag : lag + n]
    else:
        n = min(len(x) + lag, len(r))
        if n <= 0:
            return float("-inf")
        a, b = x[-lag : -lag + n], r[:n]
    return codecs.snr_db(b.astype(np.float64), a.astype(np.float64))


_FIELDS = [
    ("lag_samples", T.IntegerType(), 0),
    ("raw_snr_db", T.DoubleType(), np.nan),
    ("aligned_snr_db", T.DoubleType(), np.nan),
]


def make_align_udf(max_lag_ms: int = 100, plugins: dict | None = None):
    """Decode + alignment pandas UDF. The reference signal is the
    deterministic synth recipe at the DECODED sample rate and the
    payload's own length plus the lag search margin — the identical
    oracle signal the decode-check UDF's SNR compares against."""

    def analyze(row: codecs.DecodedRow) -> dict:
        pcm, sr = row.pcm, row.sr
        max_lag = max(1, int(sr * max_lag_ms / 1000))
        ref = synth.reference_pcm(str(row.clip_id), int(sr), len(pcm) + max_lag)
        k = best_lag(pcm, ref, max_lag)
        return {
            "lag_samples": k,
            "raw_snr_db": codecs.snr_db(ref[: len(pcm)], pcm),
            "aligned_snr_db": aligned_snr(pcm, ref, k),
        }

    return make_decode_udf(_FIELDS, analyze, plugins)


def align_report(
    clips: DataFrame,
    max_lag_ms: int = 100,
    aligned_snr_min: float = ALIGNED_SNR_MIN_DB,
    plugins: dict | None = None,
) -> DataFrame:
    """Append `lag_samples`, `raw_snr_db`, `aligned_snr_db`,
    `align_decode_error` and `_align_label`:

      audio_misaligned(lag=N,aligned_snr=X)  content intact but
          time-shifted (lag != 0, aligned SNR over the bar)
      audio_content_mismatch(aligned_snr=X)  not a shift: even the
          best alignment stays under the bar
      NULL  decode failed (decode_error says why) or clip is aligned
          and passing
    """
    udf = make_align_udf(max_lag_ms, plugins)
    res = udf(F.struct(F.col("clip_id"), F.col("codec"), F.col("bytes")))
    out = clips.withColumn("_align", res)
    lag = F.col("_align.lag_samples")
    ali = F.col("_align.aligned_snr_db")
    label = F.when(
        F.col("_align.decode_error").isNotNull(), F.lit(None).cast("string")
    ).when(
        (lag != 0) & (ali >= F.lit(aligned_snr_min)),
        F.format_string("audio_misaligned(lag=%d,aligned_snr=%.1f)", lag, ali),
    ).when(
        ali < F.lit(aligned_snr_min),
        F.format_string("audio_content_mismatch(aligned_snr=%.1f)", ali),
    )
    return (
        out.withColumn("lag_samples", lag)
        .withColumn("raw_snr_db", F.col("_align.raw_snr_db"))
        .withColumn("aligned_snr_db", ali)
        .withColumn("align_decode_error", F.col("_align.decode_error"))
        .withColumn("_align_label", label)
        .drop("_align")
    )
