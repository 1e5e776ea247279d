"""Physical-plan assertions: the optimizations the engine's scale
story depends on must be visible in the executed plan, not assumed.

  - metadata-only stages never read the `bytes` payload column
    (parquet column pruning / ReadSchema)
  - partition-pruning predicates reach the scan (PushedFilters /
    partition filters)
  - the payload column never appears downstream of an Exchange
    (shuffle) in the validation plan
  - small dimension joins broadcast
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from data_validator_spark.plans.validation import ValidationConfig, run_validation
from data_validator_spark.operators import stats


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _scans(plan: str) -> list[str]:
    return [l for l in plan.splitlines() if "FileScan" in l or "Scan parquet" in l]


def test_stats_profile_prunes_payload(spark, clips):
    """The column profile must not read `bytes` — its ReadSchema is the
    small columns only."""
    df = stats.profile(
        clips.drop("bytes"), [stats.ColumnSpec("dur_ms", "numeric", 0, 10_000, 10)]
    )
    plan = _plan(df)
    scans = _scans(plan)
    assert scans, plan
    assert all("bytes" not in s for s in scans), scans


def test_validation_payload_never_shuffled(spark, clips, transcripts_ref):
    """In the full validation plan, `bytes` may appear in scans (the
    decode stage reads it) but never in any Exchange's output schema —
    the payload must not ride a shuffle."""
    res = run_validation(clips, transcripts_ref, cfg=ValidationConfig())
    plan = _plan(res.validated)
    # walk plan lines; Exchange nodes list their output schema inline
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "bytes" not in line, f"payload in shuffle: {line}"


def test_validation_reads_payload_once(spark, clips, transcripts_ref):
    """Exactly one scan in the validated-side plan includes `bytes` in
    its ReadSchema (the scan feeding the decode UDF)."""
    res = run_validation(clips, transcripts_ref, cfg=ValidationConfig())
    scans = _scans(_plan(res.validated))
    with_bytes = [s for s in scans if re.search(r"bytes", s)]
    assert len(with_bytes) == 1, scans


def test_partition_filter_pushed(spark, fixture_paths):
    """A partition-aligned predicate (the manifest's pruning predicate)
    must show up as a partition filter on the scan, not a post-scan
    Filter."""
    clips = spark.read.parquet(fixture_paths["clips"])
    df = clips.filter(F.col("ingest_date") == "2026-01-01").select("clip_id")
    plan = _plan(df)
    assert "PartitionFilters" in plan and "ingest_date" in plan.split(
        "PartitionFilters"
    )[1].split("]")[0], plan


def test_predicate_pushdown_to_parquet(spark, fixture_paths):
    clips = spark.read.parquet(fixture_paths["clips"])
    df = clips.filter(F.col("sr_hz") == 16000).select("clip_id")
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1].split("]")[0] if "PushedFilters" in plan else ""
    assert "sr_hz" in pushed, plan


def _exchanges(df) -> list[tuple[str, list[str]]]:
    """[(partitioning_keys_str, output_column_names)] for every
    Exchange in the physical plan (tree walk — the toString form does
    not print Exchange output schemas)."""
    out: list[tuple[str, list[str]]] = []

    def walk(node):
        name = node.nodeName()
        if name == "AdaptiveSparkPlan":  # AQE wrapper: descend into it
            walk(node.initialPlan())
            return
        if "Exchange" in name:
            cols = [
                node.output().apply(i).name()
                for i in range(node.output().size())
            ]
            out.append((node.outputPartitioning().toString(), cols))
        for i in range(node.children().size()):
            walk(node.children().apply(i))

    walk(df._jdf.queryExecution().executedPlan())
    return out


def test_minhash_band_join_carries_no_signature_arrays(spark):
    """Shuffle discipline of the LSH candidate plan (VERDICT round-1
    item 7): the band-bucket join Exchanges (which scale with the
    banding explosion) and the pair-dedup Exchange must carry only
    ids/band/bucket — the 64-long signature arrays may ride ONLY the
    final re-join onto the (small) deduped pair set."""
    from data_validator_spark.operators import text_dedup

    df = spark.createDataFrame(
        [(i, f"tok{i} alpha beta gamma delta epsilon zeta eta theta") for i in range(30)],
        "doc_id long, text string",
    )
    cand = text_dedup.minhash_lsh_candidates(
        df, "doc_id", "text", n_hashes=32, bands=8, persist_signatures=False
    )
    exchanges = _exchanges(cand)
    band_exchanges = [
        (part, cols) for part, cols in exchanges if "band" in part or "bucket" in part
    ]
    # the pair-dedup shuffle partitions on BOTH ids; the later re-join
    # exchanges (partitioned on a single id) legitimately carry a sig
    dedup_exchanges = [
        (part, cols)
        for part, cols in exchanges
        if "id_a" in part and "id_b" in part
    ]
    assert band_exchanges, exchanges  # the banding shuffle exists
    for part, cols in band_exchanges + dedup_exchanges:
        assert not any(c.startswith(("_sig", "sig_a", "sig_b")) for c in cols), (
            part,
            cols,
        )


def test_embedding_near_dup_band_join_carries_no_vectors(spark):
    """Same discipline for the embedding near-dup plan: band-join and
    pair-dedup Exchanges must not carry the embedding arrays."""
    import math

    from data_validator_spark.operators import similarity

    df = spark.createDataFrame(
        [(i, [math.sin(0.3 * i + j) for j in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>",
    )
    nd = similarity.embedding_near_dups(df, dim=8, threshold=0.9, n_planes=6, n_bands=3)
    exchanges = _exchanges(nd)
    band_exchanges = [
        (part, cols) for part, cols in exchanges if "band" in part or "bucket" in part
    ]
    assert band_exchanges, exchanges
    for part, cols in band_exchanges:
        assert not any(c.startswith(("_v", "va", "vb", "embedding")) for c in cols), (
            part,
            cols,
        )


def test_small_dim_join_broadcasts(spark, clips, transcripts_ref):
    """The transcript-winner join side is dim-sized here; Spark should
    pick a broadcast join somewhere in the validated plan (AQE or
    static) rather than shuffling the fact side for every ref join."""
    res = run_validation(clips, transcripts_ref, cfg=ValidationConfig())
    plan = _plan(res.validated)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_auto_salt_decode_fires_only_on_hot_key(spark):
    """Zipf-hot codec fixture: the decode repartition is salted ONLY
    when skew_report's advisory fires; a balanced mix keeps the plain
    key repartition (no wasted salt shuffle width). Outcomes must be
    identical either way — salt changes placement, not results."""
    import numpy as np

    from data_validator_spark.audio import codecs as _codecs
    from data_validator_spark.audio import synth as _synth
    from data_validator_spark.plans import ValidationConfig, run_validation

    def mk(codec_of):
        rows = []
        for i in range(400):
            cid = f"s-{i:06d}"
            codec = codec_of(i)
            pcm = _synth.reference_pcm(cid, 8000, 400)
            rows.append(
                (cid, i, _codecs.encode(codec, pcm, 8000), 8000, 50,
                 codec, _synth.reference_transcript(cid))
            )
        import datetime as dt

        return spark.createDataFrame(
            [(r[0], r[1], r[2], r[3], r[4], r[5], r[6],
              dt.date(2026, 1, 1 + r[1] % 2)) for r in rows],
            "clip_id string, ingest_seq long, bytes binary, sr_hz int, "
            "dur_ms int, codec string, transcript string, ingest_date date",
        )

    cfg = dict(check_audio=True, decode_partitions=8,
               decode_partition_key="codec", salt_imbalance_max=1.5)

    # hot: 99% mulaw -> imbalance ~2x vs mean of 2 codecs -> fires
    hot = mk(lambda i: "mulaw" if i % 100 else "pcm16")
    res_hot = run_validation(hot, None, cfg=ValidationConfig(**cfg))
    plan_hot = res_hot.validated._jdf.queryExecution().executedPlan().toString()
    assert "_salt" in plan_hot

    # balanced 50/50 -> advisory silent -> plain key repartition
    flat = mk(lambda i: "mulaw" if i % 2 else "pcm16")
    res_flat = run_validation(flat, None, cfg=ValidationConfig(**cfg))
    plan_flat = res_flat.validated._jdf.queryExecution().executedPlan().toString()
    assert "_salt" not in plan_flat

    # salting must not change any outcome
    n_hot = res_hot.validated.count()
    res_hot_nosalt = run_validation(
        hot, None, cfg=ValidationConfig(**{**cfg, "auto_salt_decode": False})
    )
    assert n_hot == res_hot_nosalt.validated.count() == 400
    a = sorted(r["clip_id"] for r in res_hot.validated.collect())
    b = sorted(r["clip_id"] for r in res_hot_nosalt.validated.collect())
    assert a == b


def test_loudness_and_align_payload_never_shuffled(spark, clips):
    """The loudness/alignment report operators read `bytes` in the
    scan feeding their pandas UDF but must never put the payload into
    an Exchange — even when the caller aggregates downstream."""
    from data_validator_spark.audio.align import align_report
    from data_validator_spark.audio.loudness import loudness_report

    for op, out_col in (
        (loudness_report, "loudness_lufs"),
        (align_report, "aligned_snr_db"),
    ):
        # aggregate CONSUMES the UDF output, so the decode stage must
        # survive column pruning (a groupBy on an input column alone
        # lets Catalyst prune the UDF away entirely — also correct)
        df = op(clips).groupBy("codec").agg(F.avg(out_col))
        for keys, cols in _exchanges(df):
            assert "bytes" not in cols, (op.__name__, keys, cols)
        scans = _scans(_plan(df))
        assert any("bytes" in s for s in scans), (op.__name__, scans)


_BASE = [
    "clip_id:string", "ingest_seq:bigint", "sr_hz:int", "dur_ms:int",
    "codec:string", "transcript:string", "ingest_date:date",
]
_QUALITY = [
    "clipping_ratio:double", "dc_offset:double", "rms_db:double",
    "silence_ratio:double", "dominant_freq_hz:double",
    "spectral_flatness:double", "bandwidth_hz:double",
    "effective_bits:double", "loudness_lufs:double",
]
_AUDIO_MSG = [
    "audio_decode_error:string", "audio_snr_db:double",
    "audio_n_samples:bigint", "audio_container_sr:int",
    "validation_msg_clip:string", "warning_msg_clip:string", "valid_clip:boolean",
]
_OUTPUTS = {
    "invalid": _BASE[:2] + ["ingest_date:date", "entity:string", "rule:string",
                            "invalid_key:string", "invalid_value:string",
                            "expected_value:string"],
    "partition_verdicts": [
        "ingest_date:date", "n_rows:bigint", "n_soft_invalid:bigint",
        "n_warnings:bigint", "n_hard_invalid:bigint", "status:string",
        "rule_version:string",
    ],
    "summary_stats": [
        "column_name:string", "null_rate:double", "min_val:string",
        "max_val:string", "approx_distinct:bigint", "quantiles:array<double>",
        "n_rows:bigint",
    ],
    "histograms": ["column_name:string", "bucket:string", "cnt:bigint", "freq:double"],
}
_REF_OUTPUTS = {
    "ref_winners": ["clip_id:string", "_ref_transcript:string"],
    "orphan_transcripts": [
        "clip_id:string", "transcript:string", "updated_at:timestamp",
        "is_complete:boolean",
    ],
}


def test_output_schemas_pinned(spark, clips, transcripts_ref):
    """Names in order, with types, of every run_validation output, with
    quality off and on and with and without transcripts_ref. Plans are
    only built and analysed (no Spark job)."""

    def fields(df):
        return [f"{f.name}:{f.dataType.simpleString()}" for f in df.schema.fields]

    cases = [
        (ValidationConfig(), transcripts_ref, _BASE + _AUDIO_MSG),
        (ValidationConfig(check_quality=True), transcripts_ref, _BASE + _QUALITY + _AUDIO_MSG),
        (
            ValidationConfig(check_quality=True, check_plausibility=True),
            None,
            _BASE + _QUALITY + _AUDIO_MSG + ["words:bigint", "wps:double", "speech_share:double"],
        ),
    ]
    for cfg, ref, validated in cases:
        res = run_validation(clips, ref, cfg=cfg)
        assert fields(res.validated) == validated, cfg
        expected = dict(_OUTPUTS, **(_REF_OUTPUTS if ref is not None else {}))
        for name, cols in expected.items():
            assert fields(getattr(res, name)) == cols, (cfg, name)
        assert (res.ref_winners is None) == (ref is None)
