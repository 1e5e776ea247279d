"""Native-decoder plug-in seam, end-to-end (round-3 verdict task 8).

A production deployment swaps in libopus/libflac by registering a
decode callable per codec — `run_audio_checks(decoder_plugins=...)`
must light up the full PCM/SNR tier for that codec with ZERO engine
edits. These tests drive a synthetic "native" codec through the real
Spark plan (scan -> pandas UDF decode -> label columns) both ways:

  * with the plugin registered: clips decode, SNR evaluates against
    the deterministic reference, clean clips pass and a planted
    corrupt clip fails with a real decode_error;
  * without it: the same codec is an unknown-codec decode error —
    proving the behavior change comes from the registration alone.
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from data_validator_spark.audio import synth
from data_validator_spark.audio.checks import run_audio_checks

SR = 8000
N_SAMPLES = 1600  # 200 ms


def _native_encode(pcm: np.ndarray, sr_hz: int) -> bytes:
    """The 'native' codec's wire format: 4-byte LE sample rate +
    int16 PCM. Defined entirely in the test — the engine never sees
    this format except through the registered callable."""
    q = np.clip(np.round(pcm * 32767.0), -32768, 32767).astype("<i2")
    return int(sr_hz).to_bytes(4, "little") + q.tobytes()


def _make_native_decode():
    """Built NESTED so cloudpickle ships it by VALUE inside the UDF
    closure — exactly how a deployment's wrapper around a native lib
    binding travels to executors (module-level test functions would
    pickle by reference and be missing on spark python workers)."""

    def _native_decode(payload: bytes):
        import numpy as _np

        if payload is None or len(payload) < 4 or (len(payload) - 4) % 2:
            raise ValueError("nativeplug: truncated payload")
        sr = int.from_bytes(payload[:4], "little")
        pcm = (
            _np.frombuffer(payload, dtype="<i2", offset=4).astype(_np.float32)
            / 32767.0
        )
        return pcm, sr

    return _native_decode


def _clips_df(spark):
    rows = []
    for i in range(8):
        cid = f"plug-{i:04d}"
        pcm = synth.reference_pcm(cid, SR, N_SAMPLES)
        rows.append(
            Row(
                clip_id=cid,
                codec="nativeplug",
                sr_hz=SR,
                bytes=bytearray(_native_encode(pcm, SR)),
            )
        )
    # planted defect: truncated payload must surface as decode_error
    rows.append(
        Row(
            clip_id="plug-bad",
            codec="nativeplug",
            sr_hz=SR,
            bytes=bytearray(b"\x40\x1f"),
        )
    )
    return spark.createDataFrame(rows)


def test_plugin_codec_end_to_end(spark):
    df = _clips_df(spark)
    out = run_audio_checks(
        df, decoder_plugins={"nativeplug": _make_native_decode()}
    ).cache()
    try:
        good = out.filter(F.col("clip_id") != "plug-bad")
        assert good.filter(F.col("audio_decode_error").isNotNull()).count() == 0
        # int16 quantization keeps SNR far above the 30 dB gate
        assert good.filter(F.col("_snr_label").isNotNull()).count() == 0
        assert good.filter(F.col("audio_snr_db") < 60.0).count() == 0
        # the PCM tier is REAL for the plugged codec: never the
        # metadata-only unsupported outcome
        assert (
            good.filter(F.col("_pcm_unsupported_label").isNotNull()).count()
            == 0
        )
        bad = out.filter(F.col("clip_id") == "plug-bad").collect()
        assert len(bad) == 1 and bad[0]["audio_decode_error"] is not None
    finally:
        out.unpersist()


def test_plugin_codec_absent_is_decode_error(spark):
    out = (
        run_audio_checks(_clips_df(spark))
        .filter(F.col("audio_decode_error").isNotNull())
        .count()
    )
    assert out == 9  # every row: unknown codec without the plugin


def test_metadata_inspector_plugin_end_to_end(spark):
    """A metadata-tier plug-in codec: PCM decode unavailable (decoder
    raises PcmUnsupportedError) but a plugged container inspector
    keeps duration/sr checks REAL — the opus pattern, via the
    closure-shipped `inspector_plugins` seam, with zero engine edits.
    (Module-registry registration is driver-local; worker processes
    import codecs fresh, so per-call plug-ins MUST ride the closure —
    this test would fail with the registry path.)"""

    def meta_decode(payload):
        from data_validator_spark.audio import codecs as _c

        raise _c.PcmUnsupportedError("metaplug: pcm tier absent")

    def meta_inspect(payload):
        if payload is None or len(payload) < 8:
            return {"error": "metaplug: truncated header"}
        sr = int.from_bytes(payload[:4], "little")
        dur = int.from_bytes(payload[4:8], "little")
        return {"error": None, "input_sr": sr, "duration_ms": dur}

    rows = [
        Row(
            clip_id="meta-ok",
            codec="metaplug",
            sr_hz=SR,
            bytes=bytearray(
                SR.to_bytes(4, "little") + (200).to_bytes(4, "little")
            ),
        ),
        Row(
            clip_id="meta-bad",
            codec="metaplug",
            sr_hz=SR,
            bytes=bytearray(b"\x01"),
        ),
        # a container that declares no rate keeps the -1 sentinel
        Row(
            clip_id="meta-nosr",
            codec="metaplug",
            sr_hz=SR,
            bytes=bytearray((0).to_bytes(4, "little") + (200).to_bytes(4, "little")),
        ),
    ]
    out = run_audio_checks(
        spark.createDataFrame(rows),
        decoder_plugins={"metaplug": meta_decode},
        inspector_plugins={"metaplug": meta_inspect},
    ).collect()
    by_id = {r["clip_id"]: r for r in out}
    ok = by_id["meta-ok"]
    assert ok["audio_decode_error"] is None
    assert ok["_pcm_unsupported_label"] == (
        "audio_codec_unsupported_pcm(metaplug)"
    )
    assert ok["audio_snr_db"] is None or ok["audio_snr_db"] != ok[
        "audio_snr_db"
    ]  # NaN/null: SNR honestly not evaluated
    # container metadata flowed through: declared sr + implied samples
    assert ok["_container_sr_label"] is None  # container sr == sr_hz
    bad = by_id["meta-bad"]
    assert bad["audio_decode_error"] == "metaplug: truncated header"
    # no declared rate is no rate mismatch (never `bytes_sr_mismatch(-1)`)
    nosr = by_id["meta-nosr"]
    assert nosr["audio_container_sr"] == -1
    assert nosr["_pcm_unsupported_label"] == "audio_codec_unsupported_pcm(metaplug)"
    assert nosr["_container_sr_label"] is None


def test_metadata_inspector_registry_path():
    """Driver-side registry seam (register_metadata_inspector): valid
    for single-process use and $DVS_AUDIO_PLUGINS-style worker import
    hooks; exercised here without Spark."""
    from data_validator_spark.audio import codecs

    codecs.register_metadata_inspector(
        "regplug", lambda p: {"error": None, "input_sr": 16000}
    )
    try:
        meta = codecs.inspect_metadata("regplug", b"xx")
        assert meta == {"error": None, "input_sr": 16000}
        # plugin isolation: a raising inspector becomes an error dict
        codecs.register_metadata_inspector(
            "regplug", lambda p: 1 / 0
        )
        meta = codecs.inspect_metadata("regplug", b"xx")
        assert "division" in meta["error"]
    finally:
        codecs._METADATA_INSPECTORS.pop("regplug", None)


def test_plugin_decode_error_text_reaches_rows(spark):
    rows = (
        run_audio_checks(
            _clips_df(spark), decoder_plugins={"nativeplug": _make_native_decode()}
        )
        .filter(F.col("clip_id") == "plug-bad")
        .select("audio_decode_error")
        .collect()
    )
    assert "truncated" in rows[0][0]
