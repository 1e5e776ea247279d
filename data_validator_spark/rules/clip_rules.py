"""The clips-table rule set — the audio translation of the reference's
per-row rule catalog (SURVEY.md §2.9 graft translation).

Rule order is part of the contract: labels join with ';' in the order
declared here (the reference evaluates month-before-year etc.,
core_models.py:470-482 — order is observable in the message).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from data_validator_spark.rules.spec import (
    HARD,
    SOFT,
    WARNING,
    Rule,
    allowed_set,
    bounds,
    required,
)
from data_validator_spark.session import per_jvm

# mirrors the reference rt defaults/overrides shape
# (core_models.py:169-202: defaults 100/10000; matrix-reasoning 300/60000)
DUR_DEFAULT_MIN_MS = 100
DUR_DEFAULT_MAX_MS = 60_000
DUR_OVERRIDES = {
    "opus": (150, 60_000),
    "mulaw": (100, 30_000),
}

ALLOWED_SR_HZ = [8000, 16000, 22050, 44100, 48000]
ALLOWED_CODECS = ["pcm16", "flac", "mulaw", "opus"]

RULE_VERSION = "clip-rules-v1"


def clip_hard_rules() -> list[Rule]:
    """Hard tier: rows diverted to the invalid side-channel (the
    Pydantic-ValidationError analogue, VALIDATION_RULES.md:22-27)."""
    return [
        required("clip_id"),
        required("bytes", expected="audio payload"),
        required("codec", expected=f"one of {ALLOWED_CODECS}"),
        allowed_set("codec", ALLOWED_CODECS, tier=HARD, label="codec_unknown"),
    ]


def clip_soft_rules() -> list[Rule]:
    """Soft tier, declaration order fixed (see module docstring)."""
    rules: list[Rule] = []
    rules += bounds(
        "dur_ms",
        DUR_DEFAULT_MIN_MS,
        DUR_DEFAULT_MAX_MS,
        overrides=DUR_OVERRIDES,
        key_col="codec",
        missing_label="dur_ms_missing",
    )
    rules.append(allowed_set("sr_hz", ALLOWED_SR_HZ, label="sr_hz_invalid", null_ok=False))
    rules.append(
        Rule(
            name="transcript_empty",
            tier=SOFT,
            predicate=F.coalesce(
                F.col("transcript").isNull() | (F.trim("transcript") == ""), F.lit(False)
            ),
            message=F.lit("transcript_empty"),
            invalid_key="transcript",
        )
    )
    return rules


def clip_warning_rules() -> list[Rule]:
    """Warning tier: label recorded, valid flag untouched (the
    stop_type_invalid analogue, core_models.py:426-438)."""
    return [
        Rule(
            name="dur_ms_suspicious_long",
            tier=WARNING,
            predicate=F.coalesce(F.col("dur_ms") > 30_000, F.lit(False))
            & F.coalesce(F.col("dur_ms") <= 60_000, F.lit(False)),
            message=F.concat(
                F.lit("dur_ms_suspicious_long("), F.col("dur_ms").cast("string"), F.lit(")")
            ),
        ),
    ]


def all_clip_rules() -> list[Rule]:
    """Every clip rule, in tier order. The rule Columns are built once
    per JVM, on the first call (session.per_jvm), and reused: rebuilding
    them costs hundreds of Py4J round trips per plan. Rules hold
    unresolved expressions only, so they are valid for every session
    of that JVM. Each call returns a fresh list because callers filter
    it."""
    rules = per_jvm(
        "clip_rules",
        lambda: clip_hard_rules() + clip_soft_rules() + clip_warning_rules(),
    )
    return list(rules)
