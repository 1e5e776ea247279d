"""Contract of the shared decode core (codecs.decode_rows and the UDF
factory on top of it), Spark-free: each UDF's batch function runs on a
plain pandas batch, so the sentinel and error values every caller emits
are pinned without a SparkSession."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from data_validator_spark.audio import codecs, opus, synth
from data_validator_spark.audio.align import make_align_udf
from data_validator_spark.audio.checks import make_audio_check_udf
from data_validator_spark.audio.features import make_embedding_udf
from data_validator_spark.audio.loudness import make_loudness_udf
from data_validator_spark.audio.resample import make_resample_udf
from data_validator_spark.audio.segment import _segment_batch

SR = 16000
N = 8000
UNSUPPORTED = "audio_codec_unsupported_pcm(opus)"


def _raising_decode(payload):
    raise RuntimeError("native lib exploded")


PLUGINS = {"fakecodec": _raising_decode}


def _batch(with_skip: bool) -> pd.DataFrame:
    flac = codecs.encode("flac", synth.reference_pcm("f", SR, N), SR)
    rows = [
        ("ok", "pcm16", codecs.encode("pcm16", synth.reference_pcm("ok", SR, N), SR)),
        ("null", "pcm16", None),
        ("trunc", "flac", flac[: len(flac) // 2]),
        ("unknown", "amr", b"\x00" * 64),
        ("opus_ok", "opus", opus.encode_ogg_opus(N, SR, seed=1)),
        ("opus_bad", "opus", opus.encode_ogg_opus(N, SR, seed=1, corrupt_crc=True)),
        ("plugin", "fakecodec", b"\x01\x02"),
    ]
    if with_skip:
        rows.append(("skipped", "pcm16", b"not a payload"))
    pdf = pd.DataFrame(rows, columns=["clip_id", "codec", "bytes"])
    pdf["sr_hz"] = SR
    if with_skip:
        pdf["skip"] = pdf["clip_id"] == "skipped"
    return pdf


def _run(udf, pdf) -> dict:
    """The UDF's python body on one batch -> {clip_id: row dict}."""
    (out,) = list(udf.func(iter([pdf])))
    assert len(out) == len(pdf)
    return dict(zip(pdf["clip_id"], out.to_dict("records")))


def _assert_decode_errors(out: dict) -> None:
    """Errors shared by every caller that passes no inspectors."""
    assert out["ok"]["decode_error"] is None
    assert out["null"]["decode_error"] == "null payload"
    assert out["trunc"]["decode_error"].startswith("flac decode failed")
    assert out["unknown"]["decode_error"] == "unknown codec 'amr'"
    assert out["plugin"]["decode_error"] == "fakecodec: native lib exploded"
    # no metadata tier: PcmUnsupportedError is plain decode_error text
    assert out["opus_ok"]["decode_error"] == UNSUPPORTED
    assert out["opus_bad"]["decode_error"] == UNSUPPORTED


def test_decode_rows_metadata_tier_on_and_off():
    pdf = _batch(with_skip=True)
    for inspectors in (None, {}):
        got = {
            r.clip_id: r for r in codecs.decode_rows(pdf, PLUGINS, inspectors)
        }
        assert "skipped" not in got  # never attempted
        assert got["ok"].error is None and got["ok"].sr == SR
        assert len(got["ok"].pcm) == N
        assert got["null"].error == "null payload"
        assert got["plugin"].error == "fakecodec: native lib exploded"
        if inspectors is None:
            assert got["opus_ok"].error == UNSUPPORTED
            assert got["opus_ok"].meta is None
            assert got["opus_bad"].error == UNSUPPORTED
        else:
            assert got["opus_ok"].error is None and got["opus_ok"].pcm is None
            assert got["opus_ok"].meta["input_sr"] == SR
            assert got["opus_bad"].error.startswith("ogg page crc mismatch")
            assert got["opus_bad"].meta is None


def test_check_udf_sentinels_and_metadata_tier():
    pdf = _batch(with_skip=True)
    for quality in (False, True):
        out = _run(make_audio_check_udf(PLUGINS, quality=quality), pdf)
        for cid in ("skipped", "null", "trunc", "unknown", "opus_bad", "plugin"):
            r = out[cid]
            assert r["container_sr"] == -1 and r["n_samples"] == -1, cid
            assert math.isnan(r["snr_db"]) and not r["pcm_unsupported"], cid
            if quality:
                assert math.isnan(r["silence_ratio"]), cid
        assert out["skipped"]["decode_error"] is None
        assert out["null"]["decode_error"] == "null payload"
        assert out["plugin"]["decode_error"] == "fakecodec: native lib exploded"
        assert out["opus_bad"]["decode_error"].startswith("ogg page crc mismatch")
        # metadata tier: container passed, rate and length from metadata
        meta = out["opus_ok"]
        assert meta["decode_error"] is None and meta["pcm_unsupported"]
        assert meta["container_sr"] == SR and meta["n_samples"] == N
        assert math.isnan(meta["snr_db"])
        ok = out["ok"]
        assert ok["container_sr"] == SR and ok["n_samples"] == N
        assert ok["snr_db"] > 30
        assert quality == ("silence_ratio" in ok)


def test_check_udf_out_of_range_rate_is_a_row_error():
    """A WAV whose fmt rate field says 3,000,000,000 decodes, but its
    rate does not fit the INT container_sr field: that row gets a
    decode_error and every field's fill value, the batch survives."""
    wav = bytearray(codecs.encode("pcm16", synth.reference_pcm("big", SR, N), SR))
    wav[24:28] = (3_000_000_000).to_bytes(4, "little")
    pdf = pd.DataFrame(
        [
            ("ok", "pcm16", codecs.encode("pcm16", synth.reference_pcm("ok", SR, N), SR)),
            ("big", "pcm16", bytes(wav)),
        ],
        columns=["clip_id", "codec", "bytes"],
    )
    pdf["sr_hz"] = SR
    out = _run(make_audio_check_udf(), pdf)
    big = out["big"]
    assert big["decode_error"] == "container_sr out of int32 range: 3000000000"
    assert big["container_sr"] == -1 and big["n_samples"] == -1
    assert math.isnan(big["snr_db"]) and not big["pcm_unsupported"]
    assert out["ok"]["decode_error"] is None and out["ok"]["container_sr"] == SR


def test_report_udf_sentinels_on_decode_errors():
    pdf = _batch(with_skip=False)
    errors = ("null", "trunc", "unknown", "opus_ok", "opus_bad", "plugin")

    align = _run(make_align_udf(plugins=PLUGINS), pdf)
    _assert_decode_errors(align)
    for cid in errors:
        assert align[cid]["lag_samples"] == 0
        assert math.isnan(align[cid]["raw_snr_db"])
        assert math.isnan(align[cid]["aligned_snr_db"])
    assert align["ok"]["lag_samples"] == 0 and align["ok"]["aligned_snr_db"] > 30

    loud = _run(make_loudness_udf(PLUGINS), pdf)
    _assert_decode_errors(loud)
    for cid in errors:
        assert loud[cid]["n_blocks"] == 0 and loud[cid]["n_gated_blocks"] == 0
        assert math.isnan(loud[cid]["loudness_lufs"])
    assert loud["ok"]["n_blocks"] > 0

    emb = _run(make_embedding_udf(16, PLUGINS), pdf)
    _assert_decode_errors(emb)
    for cid in errors:
        assert emb[cid]["embedding"] is None
    assert len(emb["ok"]["embedding"]) == 32

    rs = _run(make_resample_udf(8000, plugins=PLUGINS), pdf)
    _assert_decode_errors(rs)
    for cid in errors:
        assert rs[cid]["n_samples_out"] == -1 and rs[cid]["bytes_out"] is None
    assert rs["ok"]["n_samples_out"] == N // 2
    # a failed re-encode is a decode_error row, not a task failure
    bad = _run(make_resample_udf(8000, out_codec="bogus"), pdf)
    assert bad["ok"]["decode_error"] == "unknown codec 'bogus'"
    assert bad["ok"]["n_samples_out"] == -1 and bad["ok"]["bytes_out"] is None


def test_segment_batch_error_rows():
    pdf = _batch(with_skip=False)
    out = _segment_batch(pdf, 200, 0, 0, "pcm16", PLUGINS)
    segs = out[out["clip_id"] == "ok"]
    assert list(segs["seg_idx"]) == [0, 1, 2]
    assert segs["segment_error"].isna().all()
    errs = out[out["clip_id"] != "ok"].set_index("clip_id")
    assert errs.loc["opus_ok", "segment_error"] == UNSUPPORTED
    assert errs.loc["plugin", "segment_error"] == "fakecodec: native lib exploded"
    assert errs.loc["null", "seg_id"] == "null:seg0"
    assert (errs["sr_hz"] == SR).all() and errs["bytes"].isna().all()
    assert (errs["seg_dur_ms"] == 0.0).all()
