"""The end-to-end clips validation plan.

Composes the engine's operators into the reference's lifecycle
(SURVEY.md §3.4): hard schema tier -> soft/warning metadata rules ->
uniqueness -> transcript winner-dedup + referential + equality ->
audio payload checks -> per-partition verdicts + column stats + drift.

Everything is lazy DataFrames; the caller (or the manifest runner)
decides what to materialize. Stage order matters for cost at scale:
rows failing metadata hard rules (missing/unknown codec, missing id)
are flagged BEFORE the audio stage so no Python time is spent on
undecodable rows; the payload itself is read exactly once (scan-side
decode; missing-payload detection happens there too) and is never
shuffled — see run_validation's docstring.

Plan-build cost: building the plan touches no data, but every DataFrame
transformation is analysed eagerly on the JVM and every Column node
is a Py4J round trip, so a plan built as a chain of ~100 small
withColumn/drop/join steps cost more than a second per call. The
plan is therefore built in a handful of projections:
  - one decode projection (rules/compiler hard predicate + the UDF)
    and one SQL-text projection of its outcome columns
  - one generator select for the whole invalid side-channel
  - one projection for the soft/warning rules plus the duplicate label
  - one aggregate for the transcript-reference keys, one left join
  - one message fold at the end: every later label (duplicate,
    transcript, audio, quality, plausibility) is appended in one
    concat_ws per message column, in the order the stages ran, which
    is the order the chained appends used (rules/compiler.py states
    the label-order contract)
  - SQL-text aggregates for the verdicts, the profile (one
    expression) and the histograms
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validator_spark.audio.checks import run_audio_checks
from data_validator_spark.functions.sqltext import ident, lit
from data_validator_spark.operators import dedup, drift, stats
from data_validator_spark.rules import clip_rules
from data_validator_spark.rules.compiler import (
    fold_messages,
    hard_predicate,
    hard_violation_structs,
    rule_columns,
    split_hard,
    violation,
    violation_rows,
)
from data_validator_spark.session import per_jvm

ENTITY = "clip"


@dataclass(frozen=True)
class ValidationConfig:
    partition_col: str = "ingest_date"
    order_col: str = "ingest_seq"  # deterministic first-wins ordering
    check_audio: bool = True
    # opt-in: compute the audio QUALITY features + soft labels
    # (clipping / DC offset / silence — audio/quality.py) in the SAME
    # decode pass as the SNR invariant; adds the feature columns to
    # the validated output and folds quality labels into messages
    check_quality: bool = False
    # quality-tier policy knobs (only consulted when check_quality):
    # bandwidth below this fraction of the container Nyquist flags
    # audio_upsampled; effective bit depth below this flags
    # audio_low_bitdepth. None disables each rule (the defaults —
    # both are dataset policies, not universal thresholds).
    quality_upsample_min_ratio: float | None = None
    quality_min_effective_bits: int | None = None
    # integrated-loudness window (BS.1770 LUFS, audio/loudness.py via
    # the fused quality pass); both set -> out-of-window clips get the
    # audio_loudness_out_of_range soft label. None disables (default).
    quality_lufs_min: float | None = None
    quality_lufs_max: float | None = None
    # opt-in: emit the log-mel content embedding (audio/features.py,
    # 2*n floats) from the SAME fused decode — validate + content-
    # dedup in one payload pass. None disables (default).
    quality_embed_mels: int | None = None
    # opt-in: transcript <-> audio plausibility rules (operators/
    # plausibility.py): words-per-second window over the DECODED
    # duration (falls back to dur_ms when audio checks are off), and —
    # when check_quality also computed silence_ratio — the
    # speech-share-vs-transcript-length rule. Pure Column algebra over
    # scalars the single decode pass already produced.
    check_plausibility: bool = False
    wps_min: float = 0.5
    wps_max: float = 6.0
    speech_share_min: float = 0.3
    snr_min_db: float = 30.0
    decode_partitions: int | None = None  # repartition before decode stage
    # co-batch the decode stage by this LOW-CARDINALITY key (e.g.
    # "codec": same-codec Arrow batches keep the decode branch
    # predictable) instead of the uniform (clip_id, order_col) hash.
    # Only consulted when decode_partitions is set. A hot key value
    # (one codec owning most of the corpus — the north star's skewed
    # codec/sr_hz case) would turn this into a straggler, so the plan
    # consults skew.skew_report first and salts the repartition ONLY
    # when the advisory fires (auto_salt_decode below).
    decode_partition_key: str | None = None
    auto_salt_decode: bool = True
    salt_imbalance_max: float = 10.0  # advisory threshold (max/mean)
    decode_salt_n: int = 16
    # persist the post-audio row set (bytes already dropped) so the
    # fan-out actions (verdict rollup, violation write, stats) do not
    # re-run the decode stage once per action. Never caches `bytes`.
    persist: bool = False
    rule_version: str = clip_rules.RULE_VERSION
    # full profile (null rate / min-max / HLL / quantiles) over these:
    stats_specs: tuple[stats.ColumnSpec, ...] = (
        stats.ColumnSpec("dur_ms", "numeric", 0.0, 10_000.0, 50),
        stats.ColumnSpec("sr_hz", "categorical"),
        stats.ColumnSpec("codec", "categorical"),
        stats.ColumnSpec("transcript", "categorical"),
        stats.ColumnSpec("clip_id", "categorical"),
    )
    # drift histograms only over bounded-cardinality columns (a
    # histogram over clip_id/transcript would shuffle the keyspace):
    hist_specs: tuple[stats.ColumnSpec, ...] = (
        stats.ColumnSpec("dur_ms", "numeric", 0.0, 10_000.0, 50),
        stats.ColumnSpec("sr_hz", "categorical"),
        stats.ColumnSpec("codec", "categorical"),
    )


@dataclass
class ValidationResult:
    validated: DataFrame  # all soft-tier rows incl. flags/messages
    invalid: DataFrame  # hard side-channel (normalized error rows)
    partition_verdicts: DataFrame
    summary_stats: DataFrame
    histograms: DataFrame
    drift: DataFrame | None = None
    ref_winners: DataFrame | None = None
    # transcript-side referential integrity: reference rows whose
    # clip_id matches no clip (the other direction of the clip <->
    # transcript pair; the fixture injects these via p_ref_extra)
    orphan_transcripts: DataFrame | None = None
    # set by manifest.run_resumable: the (verdict + fingerprint) rows to
    # append to the checkpoint manifest — callers that write outputs
    # themselves record these LAST, so a crash can never mark a
    # partition done before its outputs landed
    manifest_rows: DataFrame | None = None
    # the exact DataFrames persist() was called on (cfg.persist=True);
    # unpersisting `validated` (a child plan) would be a silent no-op
    persisted: list[DataFrame] = field(default_factory=list)

    def unpersist(self) -> None:
        for df in self.persisted:
            df.unpersist()


MULTI_COMPLETED = "multiple_completed_transcripts"
_DUP_SUFFIX = r":dup\d+$"  # winner_selection's loser suffix


def _ref_winner_transcripts(transcripts_ref: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Winner-selection over the reference transcript table.

    Returns (winners, ref_keys):
      winners   — one authoritative (clip_id, _ref_transcript) per clip
      ref_keys  — one row per referenced clip_id for the clip side's
                  single left join: _ref_hit (a winner exists),
                  _ref_multi (the group hit the >=2-completed branch:
                  no winner exists, and clips referencing it inherit
                  `multiple_completed_transcripts`, the J6
                  message-inheritance join of SURVEY.md §2.3) and the
                  winner's _ref_transcript. A key is either a winner or
                  ambiguous, never both.
    """
    w = dedup.winner_selection(
        transcripts_ref,
        keys=["clip_id"],
        complete_col="is_complete",
        time_col="updated_at",
        id_col="clip_id",
        suffixed_col="clip_id",  # losers get clip_id:dupN -> drop out of join
    )
    winners = w.filter("is_winner").selectExpr("clip_id", "transcript AS _ref_transcript")
    # ambiguous rows carry ':dupN'; strip it to recover the base id
    ref_keys = (
        w.filter(f"is_winner OR dedup_msg = {lit(MULTI_COMPLETED)}")
        .groupBy(
            F.expr(
                "CASE WHEN is_winner THEN clip_id "
                f"ELSE regexp_replace(clip_id, {lit(_DUP_SUFFIX)}, '') END"
            ).alias("clip_id")
        )
        .agg(
            F.expr("CASE WHEN bool_or(is_winner) THEN true END AS _ref_hit"),
            F.expr("CASE WHEN bool_or(NOT is_winner) THEN true END AS _ref_multi"),
            F.expr("max(CASE WHEN is_winner THEN transcript END) AS _ref_transcript"),
        )
    )
    return winners, ref_keys


def _partition_verdicts(
    v: DataFrame, invalid: DataFrame, cfg: ValidationConfig
) -> DataFrame:
    """The reference's per-table stats rollup
    (data_validation_pipeline.py:84-118), made per-partition: one
    aggregate per tier, joined, then one projection."""
    part = cfg.partition_col
    soft = v.groupBy(part).agg(
        F.expr("count(1) AS n_rows"),
        F.expr(f"sum(CAST(NOT valid_{ENTITY} AS BIGINT)) AS n_soft_invalid"),
        F.expr(f"sum(CAST(warning_msg_{ENTITY} != '' AS BIGINT)) AS n_warnings"),
    )
    hard = invalid.groupBy(part).agg(
        F.expr(f"count(DISTINCT {ident(cfg.order_col)}) AS n_hard_invalid")
    )
    filled = {
        c: f"coalesce({c}, 0)"
        for c in ("n_rows", "n_soft_invalid", "n_warnings", "n_hard_invalid")
    }
    return soft.join(hard, part, "full_outer").selectExpr(
        ident(part),
        *[f"{sql} AS {c}" for c, sql in filled.items()],
        f"CASE WHEN {filled['n_hard_invalid']} = 0 AND {filled['n_soft_invalid']} = 0 "
        "THEN 'pass' ELSE 'fail' END AS status",
        f"{lit(cfg.rule_version)} AS rule_version",
    )


def _clip_columns(order_col: str) -> dict:
    """The plan's Columns that depend only on the clip rule set and
    order_col, built once per JVM (session.per_jvm): the decode-skip
    predicate, the hard-tier violation structs and the soft-tier
    projection."""
    rules = clip_rules.all_clip_rules()
    nonbytes = [r for r in rules if r.invalid_key != "bytes"]
    return {
        "skip": hard_predicate(nonbytes),
        # the non-bytes hard rules; bytes_missing from the structured
        # audio_bytes_null flag (never by matching the CodecError
        # message text), which covers diverted rows too; and decode
        # failure, a hard-tier outcome discovered late
        "violations": hard_violation_structs(nonbytes, ENTITY)
        + [
            violation(
                F.col("audio_bytes_null"),
                ENTITY,
                "bytes_missing",
                "bytes",
                "'null'",
                "audio payload",
            ),
            violation(
                F.expr("audio_decode_error IS NOT NULL AND NOT audio_bytes_null"),
                ENTITY,
                "audio_decode_failed",
                "bytes",
                "audio_decode_error",
                "decodable audio payload",
            ),
        ],
        # soft/warning metadata rules (pure Column exprs) and
        # uniqueness on clip_id (first occurrence wins, A3/A4)
        "soft_tier": {
            **rule_columns(rules, ENTITY),
            "_dup_label": dedup.duplicate_label(["clip_id"], order_col),
        },
    }


def run_validation(
    clips: DataFrame,
    transcripts_ref: DataFrame | None = None,
    baseline_hist: DataFrame | None = None,
    cfg: ValidationConfig = ValidationConfig(),
) -> ValidationResult:
    """Payload-aware dataflow (the part that matters at 10^12 rows):

    The `bytes` column is read in exactly ONE map-only stage — scan ->
    projection -> Arrow decode UDF -> small result columns — fused
    into the file scan, so the payload is NEVER shuffled. The UDF sees
    only (clip_id, codec, sr_hz, bytes, skip); the other non-payload
    columns ride past it JVM-side, and `bytes` is dropped right after
    it, so all cross-row machinery (dedup windows, winner-selection,
    referential joins) runs on a bytes-free row set. Before this
    design, the payload rode through every window/join shuffle
    (~4x full-table payload shuffles), which capped scaling.

    Input contract: (clip_id, order_col) must uniquely identify a row
    of `clips` — order_col is the deterministic dedup ordering. The
    fixture generator guarantees it (ingest_seq is a global row
    index); external job.py inputs must provide an equivalent
    ingestion sequence/rowid.
    """
    cols = per_jvm(("clip_plan", cfg.order_col), lambda: _clip_columns(cfg.order_col))
    id_cols = ["clip_id", cfg.order_col, cfg.partition_col]
    _persisted: list[DataFrame] = []
    # labels appended by the final message fold, in stage order, and
    # the helper columns dropped with it
    soft: list[str] = ["_dup_label"]
    warn: list[str] = []
    helpers: list[str] = ["_dup_label", "bytes"]

    if cfg.check_audio:
        # ---- scan-side decode: the ONLY read of `bytes` in the run —
        # scan -> projection -> Arrow UDF -> small result columns,
        # fused into the file scan. ALL rows ride this one scan; rows
        # failing a non-bytes hard rule carry _skip_decode=true so the
        # UDF spends no Python time on them, but their payload
        # null-mask is still observed JVM-side (audio_bytes_null) —
        # that is how a diverted row with a null payload still earns
        # its bytes_missing violation (side-channel contract: one row
        # per failed hard rule) without a second payload scan.
        front = ["clip_id", cfg.order_col]
        audio_in = clips.select(
            *front,
            *[c for c in clips.columns if c not in front and c != "bytes"],
            "bytes",
            cols["skip"].alias("_skip_decode"),
        )
        if cfg.decode_partitions:
            # optional: decouple decode parallelism from file layout
            # (shuffles the projected payload — only worth it when file
            # splits are pathologically few/skewed)
            if cfg.decode_partition_key:
                # co-batched decode keyed on a low-cardinality column;
                # the skew advisory (operators/skew.skew_report — one
                # bytes-free hash aggregate, one driver-side row)
                # decides whether the hot-key salt is NEEDED, so the
                # uniform case pays no salt and the Zipf case never
                # stragglers
                from data_validator_spark.operators import skew as _skew

                key = cfg.decode_partition_key
                do_salt = False
                if cfg.auto_salt_decode:
                    rep = _skew.skew_report(
                        clips.select(key),
                        key,
                        imbalance_max=cfg.salt_imbalance_max,
                    ).collect()[0]
                    do_salt = bool(rep["salt_recommended"])
                if do_salt:
                    audio_in = _skew.add_salt(
                        audio_in,
                        ["clip_id", cfg.order_col],
                        cfg.decode_salt_n,
                    )
                    audio_in = audio_in.repartition(
                        cfg.decode_partitions, key, "_salt"
                    ).drop("_salt")
                else:
                    audio_in = audio_in.repartition(
                        cfg.decode_partitions, key
                    )
            else:
                audio_in = audio_in.repartition(
                    cfg.decode_partitions, "clip_id", cfg.order_col
                )
        audio_res = run_audio_checks(
            audio_in,
            snr_min=cfg.snr_min_db,
            skip_col="_skip_decode",
            quality=cfg.check_quality,
            upsample_min_ratio=cfg.quality_upsample_min_ratio,
            min_effective_bits=cfg.quality_min_effective_bits,
            lufs_min=cfg.quality_lufs_min,
            lufs_max=cfg.quality_lufs_max,
            embed_mels=cfg.quality_embed_mels,
        ).drop("bytes")
        if cfg.persist:
            audio_res = audio_res.persist()
            _persisted.append(audio_res)

        # ---- hard tier, one generator select over the decode stage
        invalid = violation_rows(audio_res, id_cols, cols["violations"])
        # diverted and null-payload rows leave the soft tier here
        v = audio_res.filter("NOT _skip_decode AND NOT audio_bytes_null")
        helpers += ["_skip_decode", "audio_bytes_null"]
    else:
        v, invalid = split_hard(clips, clip_rules.all_clip_rules(), ENTITY, id_cols)

    # ---- tier 2: soft/warning rules and the duplicate label, one
    # projection; decode-failed rows still count as occurrences
    v = v.withColumns(cols["soft_tier"])

    ref_winners = None
    orphan_transcripts = None
    if transcripts_ref is not None:
        # transcript-side referential integrity (J3's other direction):
        # reference rows pointing at no clip, from a bytes-free
        # clip-id projection (raw transcripts_ref rows carry base ids;
        # :dupN suffixing only happens inside winner_selection)
        orphan_transcripts = transcripts_ref.join(
            clips.select("clip_id"), "clip_id", "left_anti"
        )
        ref_winners, ref_keys = _ref_winner_transcripts(transcripts_ref)
        v = v.join(ref_keys, "clip_id", "left")
        soft += [
            # inherited dedup message (J6): no authoritative transcript
            f"CASE WHEN _ref_multi THEN {lit(MULTI_COMPLETED)} END",
            # referential (J3 anti-join form): no transcript-side row
            "CASE WHEN _ref_multi IS NULL AND _ref_hit IS NULL "
            "THEN 'transcript_ref_missing' END",
            # transcript equality vs the winning reference row
            "CASE WHEN _ref_transcript IS NOT NULL AND transcript IS NOT NULL "
            "AND trim(transcript) != '' AND transcript != _ref_transcript "
            "THEN 'transcript_mismatch' END",
        ]
        helpers += ["_ref_hit", "_ref_multi", "_ref_transcript"]

    # ---- tier 3: audio-invariant outcomes (results precomputed in the
    # scan-side decode stage; only small columns are handled here)
    if cfg.check_audio:
        # decode failures went to the side-channel above
        v = v.filter(F.col("audio_decode_error").isNull())
        soft.append("_snr_label")
        # metadata-tier codecs (opus): container checks were REAL and
        # passed, but the SNR invariant could not be evaluated — an
        # honest warning, never a synthetic pass (and never a hard
        # fail: the clip may be perfectly fine)
        warn += ["_container_sr_label", "_pcm_unsupported_label"]
        helpers += ["_snr_label", "_container_sr_label", "_pcm_unsupported_label"]
        if cfg.check_quality:
            soft.append("_quality_labels")
            helpers.append("_quality_labels")
    if cfg.check_plausibility:
        from data_validator_spark.operators.plausibility import (
            transcript_plausibility,
        )

        with_quality = cfg.check_audio and cfg.check_quality
        v = transcript_plausibility(
            v,
            "transcript",
            dur_ms_col="dur_ms",
            n_samples_col="audio_n_samples" if cfg.check_audio else None,
            container_sr_col="audio_container_sr" if cfg.check_audio else None,
            silence_ratio_col="silence_ratio" if with_quality else None,
            wps_min=cfg.wps_min,
            wps_max=cfg.wps_max,
            speech_share_min=cfg.speech_share_min,
        )
        labels = ["_wps_label"] + (["_speech_label"] if with_quality else [])
        soft += labels
        helpers += labels
    # ---- one message fold for every label above, then the helpers go
    # (`bytes` is only present when check_audio is off)
    v = fold_messages(v, ENTITY, soft, warn, drop=helpers)
    if cfg.persist:
        # `invalid` is one projection over the persisted decode stage
        # when check_audio, so it needs no cache of its own
        v = v.persist()
        _persisted.append(v)
        if not cfg.check_audio:
            invalid = invalid.persist()
            _persisted.append(invalid)

    verdicts = _partition_verdicts(v, invalid, cfg)

    # ---- column stats + histograms (single-pass each, SURVEY §2.4 A5/A10/A11)
    meta = clips.drop("bytes")
    summary = stats.profile(meta, list(cfg.stats_specs))
    hist = stats.histogram(meta, list(cfg.hist_specs))

    drift_df = None
    if baseline_hist is not None:
        drift_df = drift.drift_verdicts(baseline_hist, hist)

    return ValidationResult(
        validated=v,
        invalid=invalid,
        partition_verdicts=verdicts,
        summary_stats=summary,
        histograms=hist,
        drift=drift_df,
        ref_winners=ref_winners,
        orphan_transcripts=orphan_transcripts,
        persisted=_persisted,
    )
