"""Content-level audio embeddings: log-mel statistics vectors that
make AUDIO deduplication and similarity search work across codecs and
sample rates — the audio analogue of the text tier's minhash/simhash.

Why: exact payload dedup (md5 groupBy) cannot see that the same
recording was ingested twice as flac@48k and pcm16@16k. A content
embedding can: both decode to (nearly) the same signal, whose log-mel
energy statistics are stable under codec noise and resampling.

Embedding (classic speech front-end, deterministic):
  * 25 ms Hann frames, 10 ms hop, power spectrum per frame
  * `n_mels` triangular mel filters (HTK mel = 2595 log10(1+f/700))
    spanning 0..`fmax` Hz with fmax capped at 4 kHz by default so the
    SAME band layout applies at every corpus sample rate >= 8 kHz —
    cross-rate comparability by construction
  * log energies -> per-band mean and std across frames
  * one L2-normalized float vector of length 2*n_mels

The vector slots directly into the existing similarity tier
(similarity.cosine_topk / lsh_topk / ivf_topk and the q50 near-dup
screen): cosine(same content re-encoded) ~ 0.99+, cosine(different
clips) well below — measured margins are pinned by the q123 oracle.

Scale: one rFFT batch per clip, an analyzer on the shared decode core
(checks.make_decode_udf); only the 2*n_mels floats leave the UDF.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_validator_spark.audio import codecs
from data_validator_spark.audio.checks import make_decode_udf

N_MELS = 40
FRAME_MS = 25
HOP_MS = 10
FMAX_HZ = 4000.0
FMIN_HZ = 50.0


def _hz_to_mel(f):
    return 2595.0 * np.log10(1.0 + np.asarray(f, dtype=np.float64) / 700.0)


def _mel_to_hz(m):
    return 700.0 * (10.0 ** (np.asarray(m, dtype=np.float64) / 2595.0) - 1.0)


def mel_filterbank(
    sr: int, n_fft: int, n_mels: int = N_MELS,
    fmin: float = FMIN_HZ, fmax: float = FMAX_HZ,
) -> np.ndarray:
    """(n_mels x n_bins) area-normalized triangular filterbank over
    the rFFT bins of an n_fft transform at rate sr. fmax is clamped
    to Nyquist."""
    fmax = min(fmax, sr / 2.0)
    pts = _mel_to_hz(
        np.linspace(_hz_to_mel(fmin), _hz_to_mel(fmax), n_mels + 2)
    )
    bins = np.fft.rfftfreq(n_fft, 1.0 / sr)
    fb = np.zeros((n_mels, len(bins)))
    for m in range(n_mels):
        lo, mid, hi = pts[m], pts[m + 1], pts[m + 2]
        up = (bins - lo) / max(mid - lo, 1e-9)
        down = (hi - bins) / max(hi - mid, 1e-9)
        tri = np.maximum(0.0, np.minimum(up, down))
        area = tri.sum()
        if area > 0:
            tri /= area  # area normalization -> rate-independent scale
        fb[m] = tri
    return fb


def log_mel_embedding(
    pcm: np.ndarray, sr: int, n_mels: int = N_MELS
) -> np.ndarray:
    """One clip -> L2-normalized float32 vector of length 2*n_mels
    (per-band log-energy mean ++ std across frames). Zero vector for
    clips shorter than one frame."""
    x = np.asarray(pcm, dtype=np.float64)
    frame = max(16, int(sr * FRAME_MS / 1000))
    hop = max(1, int(sr * HOP_MS / 1000))
    if len(x) < frame:
        return np.zeros(2 * n_mels, np.float32)
    n_frames = 1 + (len(x) - frame) // hop
    frames = np.lib.stride_tricks.as_strided(
        x,
        shape=(n_frames, frame),
        strides=(x.strides[0] * hop, x.strides[0]),
    )
    win = np.hanning(frame)
    spec = np.fft.rfft(frames * win, axis=1)
    power = spec.real**2 + spec.imag**2
    fb = mel_filterbank(sr, frame, n_mels)
    mel = power @ fb.T  # (n_frames, n_mels)
    logmel = np.log(mel + 1e-10)
    mean = logmel.mean(axis=0)
    std = logmel.std(axis=0)
    # center each half across bands: the silence floor (log 1e-10) and
    # overall level are SHARED by every clip and would dominate the
    # cosine (everything ~0.99 similar); what distinguishes content is
    # the SHAPE of the band profile, which centering isolates
    mean = mean - mean.mean()
    std = std - std.mean()
    v = np.concatenate([mean, std])
    norm = float(np.linalg.norm(v))
    if norm > 0:
        v = v / norm
    return v.astype(np.float32)


def make_embedding_udf(n_mels: int = N_MELS, plugins: dict | None = None):
    def analyze(row: codecs.DecodedRow) -> dict:
        emb = log_mel_embedding(row.pcm, row.sr, n_mels)
        return {"embedding": [float(v) for v in emb]}

    fields = [("embedding", T.ArrayType(T.FloatType()), None)]
    return make_decode_udf(fields, analyze, plugins)


def audio_embeddings(
    clips: DataFrame,
    n_mels: int = N_MELS,
    plugins: dict | None = None,
) -> DataFrame:
    """Append `embedding` (array<float>, length 2*n_mels, L2-normed)
    and `embed_error`. The result feeds the similarity tier directly
    (cosine_topk / lsh_topk / ivf_topk / embedding near-dup screens) —
    cross-codec content dedup is audio_embeddings |> cosine threshold."""
    udf = make_embedding_udf(n_mels, plugins)
    res = udf(F.struct(F.col("clip_id"), F.col("codec"), F.col("bytes")))
    return (
        clips.withColumn("_emb", res)
        .withColumn("embedding", F.col("_emb.embedding"))
        .withColumn("embed_error", F.col("_emb.decode_error"))
        .drop("_emb")
    )
