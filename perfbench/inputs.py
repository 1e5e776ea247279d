"""Seeded, cached, fingerprinted benchmark inputs.

Inputs are generated once per (kind, seed, config, generator-source
hash) under the cache directory and reused by later runs. Generation
is Spark-free so it never warms the JVM whose cold op is measured:
the clips table comes from the engine's own fixture generator
(`fixtures/clips.py`), driven through a tiny stand-in for the
`spark.range(...).mapInPandas(gen)` call it makes, and is written
with pyarrow in the layout `fixtures.write_fixture` produces
(clips partitioned by `ingest_date`).

Every input directory carries `meta.json`: the config, the expected
counts derived from the golden injection flags, and a content
fingerprint (sha256 over every data file) so two runs can prove they
read identical bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from dataclasses import asdict, dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# golden channel-A plants that end on the hard side-channel: null
# payload, null / unknown codec, and the payload decode failures
HARD_FLAGS = ("inj_bytes_null", "inj_codec_null", "inj_codec_unknown", "inj_corrupt", "inj_opus_meta")
DECODE_FAIL_FLAGS = ("inj_corrupt", "inj_opus_meta")


@dataclass(frozen=True)
class ClipsInput:
    n_rows: int
    n_partitions: int = 8
    max_synth_ms: int = 600


@dataclass(frozen=True)
class WideInput:
    n_rows: int
    n_cols: int
    n_files: int = 8


def _tree_hash(paths: list[str]) -> str:
    h = hashlib.sha256()
    for base in paths:
        if os.path.isfile(base):
            with open(base, "rb") as f:
                h.update(f.read())
            continue
        for dirpath, dirnames, filenames in os.walk(base):
            dirnames.sort()
            for name in sorted(filenames):
                if name.endswith(".pyc"):
                    continue
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, base).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def data_fingerprint(path: str) -> str:
    """sha256 over every parquet file under `path` (names and bytes)."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".parquet"):
                p = os.path.join(dirpath, name)
                h.update(os.path.relpath(p, path).encode())
                with open(p, "rb") as f:
                    for chunk in iter(lambda: f.read(1 << 20), b""):
                        h.update(chunk)
    return h.hexdigest()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, n))
        for d, _, names in os.walk(path)
        for n in names
        if n.endswith(".parquet")
    )


def _cached(cache_dir: str, kind: str, seed: int, cfg, sources: list[str], build) -> tuple[str, dict]:
    """Return (dir, meta) for the input, generating it on a miss.
    Generation writes to a temporary sibling and renames it into
    place, so an interrupted run never leaves a half-written input."""
    key_src = json.dumps([kind, seed, asdict(cfg), _tree_hash(sources)], sort_keys=True)
    key = hashlib.sha256(key_src.encode()).hexdigest()[:16]
    out = os.path.join(cache_dir, f"{kind}-s{seed}-{key}")
    meta_path = os.path.join(out, "meta.json")
    if not os.path.exists(meta_path):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        meta = build(tmp)
        meta.update(kind=kind, seed=seed, config=asdict(cfg), fingerprint=data_fingerprint(tmp))
        with open(os.path.join(tmp, "meta.json"), "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        shutil.rmtree(out, ignore_errors=True)
        os.rename(tmp, out)
        _evict(cache_dir, keep=out)
    os.utime(out)  # mark as recently used
    with open(meta_path) as f:
        return out, json.load(f)


def _evict(cache_dir: str, keep: str, max_entries: int = 12) -> None:
    """Delete the least recently used inputs beyond `max_entries`, so
    runs over many seeds do not fill the disk."""
    entries = sorted(
        (os.path.join(cache_dir, n) for n in os.listdir(cache_dir) if not n.endswith(".tmp")),
        key=os.path.getmtime,
    )
    for path in entries[: max(0, len(entries) - max_entries)]:
        if path != keep:
            shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- clips


class _Range:
    """Stand-in for `spark.range(...)`: feeds one pandas batch of row
    ids [lo, hi) to the generator passed to `mapInPandas`."""

    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi

    def mapInPandas(self, gen, schema):
        import pandas as pd

        batch = pd.DataFrame({"id": np.arange(self.lo, self.hi, dtype=np.int64)})
        return pd.concat(list(gen(iter([batch]))), ignore_index=True)


class _RangeSession:
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi

    def range(self, *args, **kwargs):
        return _Range(self.lo, self.hi)


def _clips_part(cfg_dict: dict, seed: int, part: int, out: str) -> dict:
    """Generate partition `part` (one ingest_date) of the clips input
    and its transcripts_ref rows; returns its golden counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_validator_spark.fixtures import clips as fx

    cfg = fx.ClipsConfig(seed=seed, **cfg_dict)
    # meta_batch assigns row i to partition i * n_partitions // n_rows
    n, k = cfg.n_rows, cfg.n_partitions
    rows = np.flatnonzero(np.arange(n) * k // n == part)
    lo, hi = int(rows[0]), int(rows[-1]) + 1
    stub = _RangeSession(lo, hi)
    clips = fx.generate_clips(stub, cfg)
    golden = fx.generate_golden(stub, cfg)
    ref = fx.generate_transcripts_ref(stub, cfg)
    date = str(clips["ingest_date"].iloc[0])
    clips_schema = pa.schema(
        [
            ("clip_id", pa.string()),
            ("bytes", pa.binary()),
            ("sr_hz", pa.int32()),
            ("dur_ms", pa.int32()),
            ("codec", pa.string()),
            ("transcript", pa.string()),
            ("ingest_seq", pa.int64()),
        ]
    )
    d = os.path.join(out, "clips", f"ingest_date={date}")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(clips.drop(columns=["ingest_date"]), schema=clips_schema, preserve_index=False),
        os.path.join(d, f"part-{part:05d}.parquet"),
    )
    ref_schema = pa.schema(
        [
            ("clip_id", pa.string()),
            ("transcript", pa.string()),
            ("updated_at", pa.timestamp("us", tz="UTC")),
            ("is_complete", pa.bool_()),
        ]
    )
    d = os.path.join(out, "transcripts_ref")
    os.makedirs(d, exist_ok=True)
    pq.write_table(
        pa.Table.from_pandas(ref, schema=ref_schema, preserve_index=False),
        os.path.join(d, f"part-{part:05d}.parquet"),
    )
    hard = np.zeros(len(golden), dtype=bool)
    for f in HARD_FLAGS:
        hard |= golden[f].to_numpy(dtype=bool)
    decode_fail = np.zeros(len(golden), dtype=bool)
    for f in DECODE_FAIL_FLAGS:
        decode_fail |= golden[f].to_numpy(dtype=bool)
    return {
        "partition": date,
        "rows": int(len(golden)),
        "hard": int(hard.sum()),
        "decode_failed": int(decode_fail.sum()),
        "low_snr": int(golden["inj_low_snr"].sum()),
    }


def clips_input(cache_dir: str, seed: int, cfg: ClipsInput, workers: int) -> tuple[str, dict]:
    sources = [
        os.path.join(ROOT, "data_validator_spark", "fixtures"),
        os.path.join(ROOT, "data_validator_spark", "audio"),
        os.path.abspath(__file__),
    ]

    def build(out: str) -> dict:
        # one child interpreter per group of partitions, started and
        # waited for here (a multiprocessing pool would leave its
        # resource-tracker process running until this process exits)
        groups = [list(range(cfg.n_partitions))[i::workers] for i in range(max(1, workers))]
        procs = [
            subprocess.Popen(
                [sys.executable, os.path.abspath(__file__), json.dumps([asdict(cfg), seed, g, out])],
                stdout=subprocess.PIPE,
                text=True,
            )
            for g in groups
            if g
        ]
        parts = []
        for p in procs:
            stdout, _ = p.communicate()
            if p.returncode != 0:
                raise RuntimeError(f"clips generator exited with {p.returncode}")
            parts += json.loads(stdout)
        parts.sort(key=lambda p: p["partition"])
        return {
            "partitions": parts,
            "rows": sum(p["rows"] for p in parts),
            "hard": sum(p["hard"] for p in parts),
            "decode_failed": sum(p["decode_failed"] for p in parts),
            "low_snr": sum(p["low_snr"] for p in parts),
            "bytes": dir_bytes(out),
            "clips_bytes": dir_bytes(os.path.join(out, "clips")),
        }

    return _cached(cache_dir, "clips", seed, cfg, sources, build)


# ----------------------------------------------------------------- wide


def wide_input(cache_dir: str, seed: int, cfg: WideInput) -> tuple[str, dict]:
    """`n_rows` x `n_cols` float64 columns c000.., column j normal with
    a seeded mean in [-100, 100) and sigma 1 + j % 7."""

    def build(out: str) -> dict:
        import pyarrow as pa
        import pyarrow.parquet as pq

        rng = np.random.default_rng(seed)
        means = rng.uniform(-100.0, 100.0, cfg.n_cols)
        sigmas = 1.0 + np.arange(cfg.n_cols) % 7
        names = [f"c{j:03d}" for j in range(cfg.n_cols)]
        per_file = -(-cfg.n_rows // cfg.n_files)
        d = os.path.join(out, "wide")
        os.makedirs(d)
        for i in range(cfg.n_files):
            n = min(per_file, cfg.n_rows - i * per_file)
            cols = {c: rng.normal(m, s, n) for c, m, s in zip(names, means, sigmas)}
            pq.write_table(pa.table(cols), os.path.join(d, f"part-{i:05d}.parquet"))
        return {
            "rows": cfg.n_rows,
            "columns": names,
            "means": means.tolist(),
            "sigmas": sigmas.tolist(),
            "bytes": dir_bytes(out),
        }

    return _cached(cache_dir, "wide", seed, cfg, [os.path.abspath(__file__)], build)


if __name__ == "__main__":
    # child of clips_input: generate the given partitions, print counts
    sys.path.insert(0, ROOT)
    cfg_dict, seed, parts, out = json.loads(sys.argv[1])
    print(json.dumps([_clips_part(cfg_dict, seed, p, out) for p in parts]))
