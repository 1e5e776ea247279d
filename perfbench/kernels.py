"""Spark-free, single-thread timing of the audio kernels the decode
UDF calls per row, over a fixed sample of the input's own payloads:
decode per codec (opus: the failed PCM attempt plus the metadata
tier, as the UDF does it), reference synth, SNR and the quality
analyzer. Values are milliseconds per clip, the median of
three passes over the sample. Quality runs on every workload's
sample, though only job_rerun's op calls it."""

from __future__ import annotations

import os
import statistics
import time

CODECS = ("pcm16", "flac", "mulaw", "opus")
SAMPLE_PER_CODEC = 24
PASSES = 3


def _sample(clips_dir: str) -> dict[str, list]:
    """The first SAMPLE_PER_CODEC decodable rows of each codec, in
    file order (deterministic for a given input)."""
    import pyarrow.parquet as pq

    from data_validator_spark.audio import codecs

    picked: dict[str, list] = {c: [] for c in CODECS}
    for dirpath, dirnames, filenames in sorted(os.walk(clips_dir)):
        dirnames.sort()
        for name in sorted(f for f in filenames if f.endswith(".parquet")):
            t = pq.read_table(os.path.join(dirpath, name), columns=["clip_id", "codec", "bytes"])
            for cid, codec, payload in zip(*(t.column(c).to_pylist() for c in ("clip_id", "codec", "bytes"))):
                if codec not in picked or payload is None or len(picked[codec]) >= SAMPLE_PER_CODEC:
                    continue
                try:
                    codecs.decode(codec, payload)
                except codecs.PcmUnsupportedError:
                    meta = codecs.inspect_metadata(codec, payload)
                    if meta is None or meta.get("error") is not None:
                        continue
                except codecs.CodecError:
                    continue
                picked[codec].append((cid, payload))
    return picked


def _ms_per_call(fn, items) -> float:
    if not items:
        return 0.0
    runs = []
    for _ in range(PASSES):
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        runs.append((time.perf_counter() - t0) * 1e3 / len(items))
    return statistics.median(runs)


def measure(clips_dir: str) -> dict[str, float]:
    from data_validator_spark.audio import codecs, synth
    from data_validator_spark.audio.quality import analyze_pcm

    sample = _sample(clips_dir)
    out: dict[str, float] = {}

    def decode_row(item, codec):
        try:
            return codecs.decode(codec, item[1])
        except codecs.PcmUnsupportedError:
            return codecs.inspect_metadata(codec, item[1])

    for codec in CODECS:
        out[f"audio.decode_ms.{codec}"] = _ms_per_call(lambda it, c=codec: decode_row(it, c), sample[codec])
    decoded = [
        (cid, *codecs.decode(codec, payload))
        for codec in CODECS
        if codec != "opus"
        for cid, payload in sample[codec]
    ]
    refs = [(pcm, synth.reference_pcm(cid, sr, len(pcm))) for cid, pcm, sr in decoded]
    out["audio.synth_ms"] = _ms_per_call(lambda d: synth.reference_pcm(d[0], d[2], len(d[1])), decoded)
    out["audio.snr_ms"] = _ms_per_call(lambda r: codecs.snr_db(r[1], r[0]), refs)
    out["audio.quality_ms"] = _ms_per_call(lambda d: analyze_pcm(d[1], d[2]), decoded)
    return out
