"""Clip segmentation: split long recordings into bounded training
segments, snapping each cut to the quietest nearby point so segments
do not slice through content — the standard prep step for corpora
whose ingest units (recording sessions) are longer than the model's
training unit.

Semantics:
  * nominal boundaries every `max_ms`
  * each boundary moves to the minimum-RMS 10 ms frame within
    +/- `snap_ms` of its nominal position (energy valley = pause);
    snap_ms=0 disables snapping
  * boundaries stay strictly monotonic; a trailing segment shorter
    than `min_ms` is DROPPED (flagged in `n_dropped_tail_ms`) rather
    than emitted as an unusable stub
  * every segment is re-encoded with `out_codec` at the clip's own
    rate; output rows carry (clip_id, seg_idx, seg_id, seg_start_ms,
    seg_dur_ms, codec, sr_hz, bytes) — ORDINARY clip rows: every
    downstream stage (audio checks, quality, embeddings) consumes
    them unchanged

Scale: segmentation is a per-clip mapInPandas (one decode through
codecs.decode_rows, k encodes) — rows fan OUT inside the UDF,
payloads never shuffle; downstream stages see ordinary clip rows.
The RMS valley search is a cumsum lookup, not a python loop.

seg_id uses the reference's ':'-suffix id-construction convention
(firestore_services.py:169-184 `{user}:{assignment}:{part}` pattern):
`{clip_id}:segN`.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_validator_spark.audio import codecs

SNAP_FRAME_MS = 10


def snap_to_valley(
    x: np.ndarray, sr: int, pos: int, snap_ms: int
) -> int:
    """Move `pos` to the start of the minimum-RMS SNAP_FRAME_MS frame
    within +/- snap_ms (cumsum-of-squares rolling energy, earliest
    minimum wins for determinism)."""
    if snap_ms <= 0:
        return pos
    w = int(sr * snap_ms / 1000)
    frame = max(1, int(sr * SNAP_FRAME_MS / 1000))
    lo = max(0, pos - w)
    hi = min(len(x), pos + w)
    if hi - lo < frame:
        return pos
    seg = x[lo:hi].astype(np.float64)
    cs = np.concatenate([[0.0], np.cumsum(seg * seg)])
    energy = cs[frame:] - cs[:-frame]  # energy of every frame start
    return lo + int(np.argmin(energy))


def plan_boundaries(
    x: np.ndarray, sr: int, max_ms: int, snap_ms: int, min_ms: int
) -> tuple[list[int], int]:
    """-> (boundaries [0, ..., end], dropped_tail_samples)."""
    n = len(x)
    seg = max(1, int(sr * max_ms / 1000))
    if n <= seg:
        return [0, n], 0
    bounds = [0]
    k = 1
    while k * seg < n:
        pos = snap_to_valley(x, sr, k * seg, snap_ms)
        if pos > bounds[-1]:
            bounds.append(pos)
        k += 1
    dropped = 0
    min_samples = int(sr * min_ms / 1000)
    if n - bounds[-1] >= max(1, min_samples):
        bounds.append(n)
    else:
        dropped = n - bounds[-1]
        if len(bounds) == 1:  # whole clip shorter than min: keep it
            bounds.append(n)
            dropped = 0
    return bounds, dropped


_SCHEMA = T.StructType(
    [
        T.StructField("clip_id", T.StringType()),
        T.StructField("seg_idx", T.IntegerType()),
        T.StructField("seg_id", T.StringType()),
        T.StructField("seg_start_ms", T.DoubleType()),
        T.StructField("seg_dur_ms", T.DoubleType()),
        T.StructField("codec", T.StringType()),
        T.StructField("sr_hz", T.IntegerType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("n_dropped_tail_ms", T.DoubleType()),
        T.StructField("segment_error", T.StringType()),
    ]
)


def _segment_batch(
    pdf: pd.DataFrame,
    max_ms: int,
    min_ms: int,
    snap_ms: int,
    out_codec: str,
    plugins: dict | None,
) -> pd.DataFrame:
    """One input batch (clip_id, codec, bytes[, sr_hz]) -> its segment
    rows (the Spark-free body of segment_clips' mapInPandas)."""
    sr_col = pdf["sr_hz"].to_numpy() if "sr_hz" in pdf.columns else None
    codec_col = pdf["codec"].to_numpy()
    rows = []
    for row in codecs.decode_rows(pdf, plugins):
        cid, pcm, sr, err = row.clip_id, row.pcm, row.sr, row.error
        if err is None:
            try:
                bounds, dropped = plan_boundaries(
                    pcm, sr, max_ms, snap_ms, min_ms
                )
                for i in range(len(bounds) - 1):
                    a, b = bounds[i], bounds[i + 1]
                    rows.append(
                        (
                            cid,
                            i,
                            f"{cid}:seg{i}",
                            a * 1000.0 / sr,
                            (b - a) * 1000.0 / sr,
                            out_codec,
                            sr,
                            codecs.encode(out_codec, pcm[a:b], sr),
                            dropped * 1000.0 / sr,
                            None,
                        )
                    )
            except codecs.CodecError as e:
                err = str(e)
        if err is not None:
            # sr_hz may be null/NaN on exactly the broken rows that
            # land here — a bare int() would crash the whole UDF task
            # instead of emitting the error row
            sr_raw = sr_col[row.i] if sr_col is not None else None
            try:
                sr_val = int(sr_raw) if pd.notna(sr_raw) else -1
            except (TypeError, ValueError):
                sr_val = -1
            rows.append(
                (cid, 0, f"{cid}:seg0", 0.0, 0.0, str(codec_col[row.i]),
                 sr_val, None, 0.0, err)
            )
    return pd.DataFrame(rows, columns=_SCHEMA.fieldNames())


def segment_clips(
    clips: DataFrame,
    max_ms: int,
    min_ms: int = 0,
    snap_ms: int = 0,
    out_codec: str = "pcm16",
    plugins: dict | None = None,
) -> DataFrame:
    """One row per segment (see module docstring). Undecodable clips
    yield a single row with segment_error set and NULL bytes, so the
    violation path still sees them."""

    def gen(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield _segment_batch(
                pdf, max_ms, min_ms, snap_ms, out_codec, plugins
            )

    cols = ["clip_id", "codec", "bytes"] + (
        ["sr_hz"] if "sr_hz" in clips.columns else []
    )
    return clips.select(*cols).mapInPandas(gen, _SCHEMA)
