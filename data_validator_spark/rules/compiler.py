"""Rule compiler: ordered rule list -> Column expressions.

Output contract per entity (reference core_models.py:269-272, 586-597):
  validation_msg_<entity>  ';'-joined soft labels, declaration order
  warning_msg_<entity>     ';'-joined warning labels
  valid_<entity>           validation_msg == ''

Hard-tier rows are split into an invalid side-channel with normalized
(invalid_key, invalid_value, expected_value) columns, one row per
failed hard rule — the `invalid_data` table analogue
(entity_controller.py:148-191).

Cost model: every DataFrame transformation is analysed eagerly on the
JVM when it is built, so each tier compiles to ONE projection —
apply_rules is one withColumns, hard_violations one select that
inlines an array of violation structs, and fold_messages appends every
later label of a plan in one concat_ws per message column instead of
one append_messages call (two transformations) per label.

Label-order contract: labels join with ';' in the order they are
given — rule declaration order first, then each appended label in
call order — and an empty or NULL label adds nothing. fold_messages
over labels L1..Ln gives the same message as n chained
append_messages calls whenever no label is '' (an empty label is
treated as absent; every label the plans emit is NULL or non-empty).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_validator_spark.functions.sqltext import ident, lit, project
from data_validator_spark.rules.spec import HARD, SOFT, WARNING, Rule


def _joined(rules: Sequence[Rule], tier: str) -> Column:
    msgs = [F.when(r.predicate, r.message) for r in rules if r.tier == tier]
    if not msgs:
        return F.lit("")
    # concat_ws drops NULLs -> only violated labels remain, in order
    return F.concat_ws(";", *msgs)


def rule_columns(rules: Sequence[Rule], entity: str) -> dict[str, Column]:
    """The three message columns apply_rules appends, for callers that
    fold them into a larger projection."""
    vmsg = _joined(rules, SOFT)
    return {
        f"validation_msg_{entity}": vmsg,
        f"warning_msg_{entity}": _joined(rules, WARNING),
        f"valid_{entity}": vmsg == "",
    }


def apply_rules(
    df: DataFrame, rules: Sequence[Rule], entity: str
) -> DataFrame:
    """Append validation_msg / warning_msg / valid columns (soft +
    warning tiers). Hard rules are handled by `hard_violations` /
    `split_hard`."""
    return df.withColumns(rule_columns(rules, entity))


def hard_predicate(rules: Sequence[Rule]) -> Column:
    hard = [r.predicate for r in rules if r.tier == HARD]
    if not hard:
        return F.lit(False)
    out = hard[0]
    for p in hard[1:]:
        out = out | p
    return F.coalesce(out, F.lit(False))


def violation(
    pred: Column, entity: str, rule: str, key: str, value_sql: str, expected: str
) -> Column:
    """One invalid side-channel entry: the normalized error struct when
    `pred` holds, else NULL. `value_sql` is the echoed invalid_value as
    SQL text; the struct is SQL text too (one Py4J call, not a dozen)."""
    return F.when(
        pred,
        F.expr(
            f"named_struct('entity', {lit(entity)}, 'rule', {lit(rule)}, "
            f"'invalid_key', {lit(key)}, 'invalid_value', {value_sql}, "
            f"'expected_value', {lit(expected)})"
        ),
    )


def hard_violation_structs(rules: Sequence[Rule], entity: str) -> list[Column]:
    """violation() per hard rule, the offending value echoed as text."""
    return [
        violation(
            r.predicate,
            entity,
            r.name,
            r.invalid_key or "",
            f"coalesce(CAST({ident(r.invalid_key)} AS STRING), 'null')"
            if r.invalid_key
            else "''",
            r.expected or "",
        )
        for r in rules
        if r.tier == HARD
    ]


def violation_rows(
    df: DataFrame, id_cols: Sequence[str], structs: Sequence[Column]
) -> DataFrame:
    """One row per (row, non-NULL violation struct) in ONE projection:
    id_cols + (entity, rule, invalid_key, invalid_value,
    expected_value). A row with no violation yields no row."""
    errs = F.filter(F.array(*structs), lambda x: x.isNotNull())
    return df.select(*id_cols, F.inline(errs))


def hard_violations(
    df: DataFrame, rules: Sequence[Rule], entity: str, id_cols: Sequence[str]
) -> DataFrame:
    """Invalid side-channel: one row per (row, failed hard rule) with
    normalized error columns — mirrors invalid_data assembly
    (entity_controller.py:148-191, error capture at :324-326 etc.)."""
    structs = hard_violation_structs(rules, entity)
    if not structs:
        return df.select(*id_cols).limit(0).withColumns(
            {
                "entity": F.lit(entity),
                "rule": F.lit(""),
                "invalid_key": F.lit(""),
                "invalid_value": F.lit(""),
                "expected_value": F.lit(""),
            }
        )
    return violation_rows(df, id_cols, structs)


def split_hard(
    df: DataFrame, rules: Sequence[Rule], entity: str, id_cols: Sequence[str]
) -> tuple[DataFrame, DataFrame]:
    """(rows passing all hard rules, invalid side-channel rows)."""
    pred = hard_predicate(rules)
    return df.filter(~pred), hard_violations(df, rules, entity, id_cols)


def append_messages(
    df: DataFrame, entity: str, label: Column, *, warning: bool = False
) -> DataFrame:
    """Append a (possibly NULL) label to an existing message column —
    the reference appends, never overwrites (core_models.py:663-715).
    Recomputes valid_<entity> for soft appends."""
    col = f"warning_msg_{entity}" if warning else f"validation_msg_{entity}"
    merged = F.concat_ws(";", F.nullif(F.col(col), F.lit("")), label)
    if warning:
        return df.withColumn(col, merged)
    return df.withColumns({col: merged, f"valid_{entity}": merged == ""})


def _fold_sql(col: str, labels: Sequence[str]) -> str:
    parts = [f"nullif({ident(col)}, '')"] + [f"nullif({lb}, '')" for lb in labels]
    return f"concat_ws(';', {', '.join(parts)})"


def fold_messages(
    df: DataFrame,
    entity: str,
    soft: Sequence[str] = (),
    warning: Sequence[str] = (),
    drop: Sequence[str] = (),
) -> DataFrame:
    """Append every label of a plan in ONE projection: `soft` and
    `warning` are SQL expressions (NULL when the label does not fire),
    joined onto validation_msg / warning_msg in the order given;
    valid_<entity> is recomputed from the new validation_msg, and the
    `drop` columns (the labels' helper columns) leave in the same
    projection. See the module docstring for the label-order
    contract."""
    cols: dict[str, str] = {}
    if soft:
        vmsg = _fold_sql(f"validation_msg_{entity}", soft)
        cols[f"validation_msg_{entity}"] = vmsg
        cols[f"valid_{entity}"] = f"{vmsg} = ''"
    if warning:
        cols[f"warning_msg_{entity}"] = _fold_sql(f"warning_msg_{entity}", warning)
    return project(df, df.columns, cols, drop)
