"""Deduplication operators.

Two families from the reference:
  - first-occurrence-wins dedup over an explicit ingest order
    (entity_controller.py:381-383 `_valid_user_ids`,
    utils.py:297-317 cross-org dedup) — A3/A4 in SURVEY.md §2.4.
  - winner-selection dedup with completed-state branching and
    `:dupN` suffixing (firestore_services.py:227-357) — W2/W3.

Both are single-shuffle window computations: `dropDuplicates` alone is
nondeterministic under parallelism, so an explicit order column is
required (SURVEY.md §7.3).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from data_validator_spark.functions.sqltext import ident, lit, project


def first_wins(
    df: DataFrame, keys: Sequence[str], order_col: str, keep_marker: bool = False
) -> DataFrame:
    """Keep the first row per key by `order_col` (deterministic analogue
    of the reference's 'skip ids already seen' set logic)."""
    w = Window.partitionBy(*keys).orderBy(F.col(order_col).asc())
    out = df.withColumn("_rn", F.row_number().over(w))
    if keep_marker:
        return out.withColumn("is_first", F.col("_rn") == 1).drop("_rn")
    return out.filter(F.col("_rn") == 1).drop("_rn")


def duplicate_label(
    keys: Sequence[str], order_col: str, label: str = "duplicate_clip_id"
) -> Column:
    """`label(key)` on every occurrence of a key after the first by
    `order_col`, NULL on the first: one window expression, as SQL text."""
    part = ", ".join(ident(k) for k in keys)
    key_str = ", ".join(f"CAST({ident(k)} AS STRING)" for k in keys)
    return F.expr(
        f"CASE WHEN row_number() OVER (PARTITION BY {part} "
        f"ORDER BY {ident(order_col)} ASC) > 1 "
        f"THEN concat({lit(label + '(')}, concat_ws(':', {key_str}), ')') END"
    )


def flag_duplicates(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    label: str = "duplicate_clip_id",
) -> DataFrame:
    """Soft-rule form: first occurrence stays clean, later occurrences
    get a `label(key)` message column `_dup_label` (NULL when clean)."""
    return df.withColumn("_dup_label", duplicate_label(keys, order_col, label))


def winner_selection(
    df: DataFrame,
    keys: Sequence[str],
    complete_col: str = "is_complete",
    time_col: str = "updated_at",
    id_col: str = "clip_id",
    suffixed_col: str | None = None,
    dup_label: str = "Duplicate",
    multi_label: str = "multiple_completed_transcripts",
) -> DataFrame:
    """Winner-selection dedup, reproducing the reference's branch table
    (firestore_services.py:293-357; truth table VALIDATION_RULES.md:376-397):

      group size 1                -> winner, no message
      exactly 1 completed         -> completed row wins; losers 'Duplicate'
      >=2 completed               -> NO winner; every row flagged
                                     `multi_label` and every row suffixed
      0 completed                 -> latest by time_col wins; losers 'Duplicate'

    Losers (or all rows in the >=2-completed branch) get ':dupN'
    appended to `suffixed_col`, numbered oldest-first
    (firestore_services.py:269-290).

    Adds columns: is_winner, dedup_msg, <suffixed_col> (rewritten).
    One shuffle on `keys` (all windows share the partitioning). Built
    as two projections of SQL text: the group windows, then the
    verdict columns (the suffix window partitions on the verdict, so
    it cannot share the first projection).
    """
    suffixed_col = suffixed_col or id_col
    cols = df.columns
    part = ", ".join(ident(k) for k in keys)
    comp = f"coalesce({ident(complete_col)}, false)"
    ts = f"coalesce({ident(time_col)}, CAST('1970-01-01' AS TIMESTAMP))"
    idc = ident(id_col)
    # id tiebreak keeps the pick deterministic under equal timestamps
    out = df.withColumns(
        {
            "_n_complete": F.expr(
                f"sum(CAST({comp} AS INT)) OVER (PARTITION BY {part})"
            ),
            "_grp_n": F.expr(f"count(1) OVER (PARTITION BY {part})"),
            "_pick": F.expr(
                f"row_number() OVER (PARTITION BY {part} "
                f"ORDER BY {comp} DESC, {ts} DESC, {idc} ASC)"
            ),
        }
    )
    is_winner = "(_grp_n = 1 OR (_n_complete <= 1 AND _pick = 1))"
    # suffix targets: losers, or everyone in the >=2-completed branch
    sfx_t = f"(_grp_n > 1 AND (_n_complete >= 2 OR NOT {is_winner}))"
    sfx = ident(suffixed_col)
    sfx_rank = (
        f"row_number() OVER (PARTITION BY {part}, {sfx_t} "
        f"ORDER BY {ts} ASC, {idc} ASC)"
    )
    verdict = {
        "is_winner": is_winner,
        "dedup_msg": f"CASE WHEN _grp_n > 1 AND _n_complete >= 2 "
        f"THEN {lit(multi_label)} WHEN _grp_n > 1 AND NOT {is_winner} "
        f"THEN {lit(dup_label)} END",
        suffixed_col: f"CASE WHEN {sfx_t} THEN concat({sfx}, ':dup', "
        f"CAST({sfx_rank} AS STRING)) ELSE {sfx} END",
    }
    return project(out, cols, verdict)
