"""Contract of the decode fan-out (audio/fanout.py), Spark-free: a batch
spread over forked helpers equals the in-process batch row for row,
a failed helper costs only time, and the host's gate file lets only a
lone decode task fan out. The UDF bodies get their budget and gate
from `fanout.local_host`; forks are counted through a wrapped
`os.fork`."""

from __future__ import annotations

import errno
import os
import signal
import subprocess
import sys
import time

import pandas as pd
import pytest
from pyspark.sql import types as T

from data_validator_spark.audio import codecs, fanout, opus, synth
from data_validator_spark.audio.align import make_align_udf
from data_validator_spark.audio.checks import make_audio_check_udf, make_decode_udf
from data_validator_spark.audio.features import make_embedding_udf
from data_validator_spark.audio.loudness import make_loudness_udf
from data_validator_spark.audio.resample import make_resample_udf

SR = 16000
N = 2000
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _raising_decode(payload):
    raise RuntimeError("native lib exploded")


PLUGINS = {"fakecodec": _raising_decode}


def _hostile_rows(k: int, big_rate: bool) -> list[tuple]:
    flac = codecs.encode("flac", synth.reference_pcm(f"f{k}", SR, N), SR)
    big = bytearray(codecs.encode("pcm16", synth.reference_pcm(f"big{k}", SR, N), SR))
    if big_rate:
        big[24:28] = (3_000_000_000).to_bytes(4, "little")
    return [
        (f"null{k}", "pcm16", None, False),
        (f"trunc{k}", "flac", flac[: len(flac) // 2], False),
        (f"unknown{k}", "amr", b"\x00" * 64, False),
        (f"opus_ok{k}", "opus", opus.encode_ogg_opus(N, SR, seed=k), False),
        (f"opus_bad{k}", "opus", opus.encode_ogg_opus(N, SR, seed=k, corrupt_crc=True), False),
        (f"plugin{k}", "fakecodec", b"\x01\x02", False),
        (f"skipped{k}", "pcm16", b"not a payload", True),
        (f"big{k}", "pcm16", bytes(big), False),
    ]


def _batch(n: int = 110, big_rate: bool = True) -> pd.DataFrame:
    """n rows: sound clips of four codecs, with the hostile rows of
    test_decode_core.py in the head, the middle and the tail. With
    big_rate, the `big` rows are WAVs whose fmt rate field says
    3,000,000,000 (the align, loudness and resample analyzers would
    allocate gigabytes for that rate, so they get a sound WAV)."""
    rows = []
    for i in range(n - 24):
        codec = ("pcm16", "mulaw", "flac", "alaw")[i % 4]
        cid = f"ok{i}"
        rows.append((cid, codec, codecs.encode(codec, synth.reference_pcm(cid, SR, N), SR), False))
    for k, at in enumerate((3, len(rows) // 2, len(rows) - 2)):
        rows[at:at] = _hostile_rows(k, big_rate)
    pdf = pd.DataFrame(rows, columns=["clip_id", "codec", "bytes", "skip"])
    pdf["sr_hz"] = SR
    return pdf


# name -> (factory, batch has the int32-overflow rate rows)
UDFS = {
    "check": (lambda: make_audio_check_udf(PLUGINS), True),
    "check_quality_embed": (lambda: make_audio_check_udf(PLUGINS, quality=True, embed_mels=8), True),
    "align": (lambda: make_align_udf(plugins=PLUGINS), False),
    "loudness": (lambda: make_loudness_udf(PLUGINS), False),
    "embedding": (lambda: make_embedding_udf(8, PLUGINS), True),
    "resample": (lambda: make_resample_udf(8000, plugins=PLUGINS), False),
}


@pytest.fixture
def forks(monkeypatch):
    """pids of the helpers forked by this process."""
    pids: list[int] = []
    me, real = os.getpid(), os.fork

    def counted():
        pid = real()
        if os.getpid() == me:
            pids.append(pid)
        return pid

    monkeypatch.setattr(os, "fork", counted)
    return pids


def _run(udf, pdf) -> pd.DataFrame:
    (out,) = list(udf.func(iter([pdf])))
    return out


def _same(a: pd.DataFrame, b: pd.DataFrame) -> None:
    """Equal row for row: dtypes, values, NaN and null in place."""
    assert list(a.dtypes) == list(b.dtypes)
    for name in a.columns:
        x, y = a[name].tolist(), b[name].tolist()
        assert len(x) == len(y), name
        for i, (u, v) in enumerate(zip(x, y)):
            same = u == v or (u != u and v != v) or (u is pd.NA and v is pd.NA)
            assert same, (name, i, u, v)


def _no_helper_left(pids: list[int]) -> None:
    for pid in pids:
        with pytest.raises(ChildProcessError):
            os.waitpid(pid, os.WNOHANG)  # reaped by the batch
    try:  # no exited child waits to be reaped either
        assert os.waitpid(-1, os.WNOHANG) == (0, 0)
    except ChildProcessError:
        pass


@pytest.mark.parametrize("name", sorted(UDFS))
def test_fanned_out_batch_equals_in_process_batch(name, tmp_path, forks):
    factory, big_rate = UDFS[name]
    pdf = _batch(big_rate=big_rate)
    udf = factory()
    ref = _run(udf, pdf)  # never pickled: no budget, no fork
    assert forks == []
    assert len(ref) == len(pdf)
    assert ref["decode_error"].notna().sum() >= 15  # hostile rows are in
    for width in (1, 2, 3, 4):
        del forks[:]
        with fanout.local_host(width, str(tmp_path / "gate")):
            got = _run(udf, pdf)
        assert len(forks) == width - 1, (width, forks)
        _same(got, ref)
        _no_helper_left(forks)


def test_check_fields_survive_the_pipe(tmp_path):
    """The rows the contract names keep their exact outcome when a
    helper decodes them."""
    pdf = _batch()
    with fanout.local_host(4, str(tmp_path / "gate")):
        out = _run(make_audio_check_udf(PLUGINS), pdf)
    by = dict(zip(pdf["clip_id"], out.to_dict("records")))
    for k in range(3):
        assert by[f"big{k}"]["decode_error"] == "container_sr out of int32 range: 3000000000"
        assert by[f"plugin{k}"]["decode_error"] == "fakecodec: native lib exploded"
        assert by[f"skipped{k}"]["decode_error"] is None
        assert by[f"skipped{k}"]["n_samples"] == -1
        assert by[f"opus_ok{k}"]["pcm_unsupported"] and by[f"opus_ok{k}"]["n_samples"] == N
    assert list(out.index) == list(range(len(pdf)))
    assert by["ok5"]["container_sr"] == SR and by["ok5"]["snr_db"] > 30


FAIL_ROWS = ("ok42", "ok81")  # in the shares of helpers 2 and 1 at width 4


def _failing_udf(how: str, marks):
    """A decode UDF whose analyzer fails in a helper (never in the
    parent) on FAIL_ROWS, leaving a file in `marks` for each."""
    parent = os.getpid()

    def analyze(row):
        if os.getpid() != parent and row.clip_id in FAIL_ROWS:
            (marks / row.clip_id).touch()
            if how == "kill":
                os.kill(os.getpid(), signal.SIGKILL)
            if how == "hang":
                time.sleep(120)
            raise ValueError("helper bug")
        return {"n": len(row.pcm), "sr": row.sr}

    fields = [("n", T.LongType(), -1), ("sr", T.IntegerType(), -1)]
    return make_decode_udf(fields, analyze, PLUGINS)


@pytest.mark.parametrize("how", ["kill", "raise", "hang"])
def test_failed_helper_rows_are_recomputed(how, tmp_path, forks, monkeypatch):
    monkeypatch.setattr(fanout, "WAIT_MIN_S", 1.0)  # a hung helper is killed after ~1 s
    pdf = _batch()
    udf = _failing_udf(how, tmp_path)
    ref = _run(udf, pdf)
    t0 = time.monotonic()
    with fanout.local_host(4, str(tmp_path / "gate")):
        got = _run(udf, pdf)
    assert time.monotonic() - t0 < 60
    assert len(forks) == 3
    assert sorted(p.name for p in tmp_path.glob("ok*")) == list(FAIL_ROWS)
    _same(got, ref)
    assert (got["n"] == N).sum() == len(pdf) - 24
    _no_helper_left(forks)


@pytest.mark.parametrize("call", ["fork", "pipe"])
def test_helpers_that_cannot_start_cost_only_time(call, tmp_path, monkeypatch):
    """os.fork (EAGAIN under a pids limit) or os.pipe (EMFILE) failing
    leaves the batch to the parent, never fails it."""
    pdf = _batch()
    udf = make_audio_check_udf(PLUGINS)
    ref = _run(udf, pdf)
    calls = []

    def refuse(*args):
        calls.append(call)
        raise OSError(errno.EAGAIN if call == "fork" else errno.EMFILE, call)

    monkeypatch.setattr(os, call, refuse)
    with fanout.local_host(4, str(tmp_path / "gate")):
        got = _run(udf, pdf)
    assert len(calls) == 3
    _same(got, ref)
    _no_helper_left([])


_ORPHAN_SCRIPT = """
import os, sys, time
import pandas as pd
from pyspark.sql import types as T
from data_validator_spark.audio import fanout
from data_validator_spark.audio.checks import make_decode_udf
sys.path.insert(0, {tests!r})
from test_decode_fanout import _batch
parent, out = os.getpid(), {out!r}

def analyze(row):
    if os.getpid() != parent:
        open(os.path.join(out, str(os.getpid())), "w").close()
        time.sleep(120)
    return {{"n": len(row.pcm)}}

udf = make_decode_udf([("n", T.LongType(), -1)], analyze)
with fanout.local_host(4, os.path.join(out, "gate")):
    list(udf.func(iter([_batch()])))
"""


def _alive(pid: int) -> bool:
    """Running (a zombie waiting for a reaper counts as gone)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except FileNotFoundError:
        return False


@pytest.mark.skipif(not sys.platform.startswith("linux"), reason="PR_SET_PDEATHSIG")
def test_no_helper_outlives_a_killed_parent(tmp_path):
    out = tmp_path / "pids"
    out.mkdir()
    script = _ORPHAN_SCRIPT.format(tests=os.path.join(REPO, "tests"), out=str(out))
    proc = subprocess.Popen([sys.executable, "-c", script], cwd=REPO)
    try:
        deadline = time.monotonic() + 60
        while len([p for p in os.listdir(out) if p.isdigit()]) < 3:
            assert proc.poll() is None and time.monotonic() < deadline
            time.sleep(0.05)
    finally:
        proc.kill()
        proc.wait()
    helpers = [int(p) for p in os.listdir(out) if p.isdigit()]
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in helpers) and time.monotonic() < deadline:
        time.sleep(0.05)
    left = [p for p in helpers if _alive(p)]
    for pid in left:  # leave no orphan behind when the check fails
        os.kill(pid, signal.SIGKILL)
    assert not left, helpers


_DECODER_SCRIPT = """
import os, sys, time
from pyspark.sql import types as T
from data_validator_spark.audio import fanout
from data_validator_spark.audio.checks import make_decode_udf
sys.path.insert(0, {tests!r})
from test_decode_fanout import _batch

def analyze(row):
    print("decoding", flush=True)
    time.sleep(120)

udf = make_decode_udf([("n", T.LongType(), -1)], analyze)
with fanout.local_host(4, {gate!r}):
    list(udf.func(iter([_batch()])))
"""

_EXCLUSIVE_SCRIPT = """
import fcntl, os, sys, time
fd = os.open({gate!r}, os.O_RDWR | os.O_CREAT)
fcntl.lockf(fd, fcntl.LOCK_EX)
print("held", flush=True)
time.sleep(0.5)
print(time.monotonic(), flush=True)
fcntl.lockf(fd, fcntl.LOCK_UN)
sys.stdin.read()
"""


def _start(script: str) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, "-c", script],
        cwd=REPO,
        stdin=subprocess.PIPE,
        stdout=subprocess.PIPE,
        text=True,
    )


def _stop(proc: subprocess.Popen) -> None:
    proc.kill()
    proc.wait()
    proc.stdin.close()
    proc.stdout.close()


def test_gate_policy(tmp_path, forks):
    gate = str(tmp_path / "gate")
    parent, first = os.getpid(), []

    def analyze(row):
        if os.getpid() == parent and not first:
            first.append(time.monotonic())
        return {"n": len(row.pcm)}

    udf = make_decode_udf([("n", T.LongType(), -1)], analyze)
    pdf = _batch()
    ref = _run(udf, pdf)

    # another process is decoding (it holds the gate shared, stuck in
    # its head rows): this batch sees it and forks nothing
    other = _start(_DECODER_SCRIPT.format(tests=os.path.join(REPO, "tests"), gate=gate))
    try:
        assert other.stdout.readline() == "decoding\n"
        with fanout.local_host(4, gate):
            _same(_run(udf, pdf), ref)
        assert forks == []
    finally:
        _stop(other)
    # its lock died with it: a lone task fans out to the budget
    with fanout.local_host(4, gate):
        _same(_run(udf, pdf), ref)
    assert len(forks) == 3
    # a budget of 2 runs at width 2
    del forks[:]
    with fanout.local_host(2, gate):
        _same(_run(udf, pdf), ref)
    assert len(forks) == 1
    _no_helper_left(forks)

    # a task that starts while a batch holds the gate exclusively waits
    # for it, then runs alone
    holder = _start(_EXCLUSIVE_SCRIPT.format(gate=gate))
    try:
        assert holder.stdout.readline() == "held\n"
        del forks[:], first[:]
        with fanout.local_host(4, gate):
            _same(_run(udf, pdf), ref)
        released = float(holder.stdout.readline())
    finally:
        _stop(holder)
    assert first[0] >= released
    assert len(forks) == 3
    _no_helper_left(forks)
