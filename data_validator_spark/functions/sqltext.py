"""SQL-text building blocks for plans that are cheap to build.

In the Python process, a Column expression costs several Py4J round
trips per node (the function call, its alias, the call-site record),
and every DataFrame transformation is analysed eagerly on the JVM.
The parser ingests the same expression tree from one string (F.expr,
selectExpr) in one call. These helpers quote identifiers and literals
so that generated SQL is exact for any column name or value.

Plans here never go through temporary views: `spark.sql` over a view
of a DataFrame needs the view dropped afterwards, and with Spark 4.1
that drop can uncache the persisted DataFrame the view was made from
(seen on the validated rows: the verdicts then re-ran their whole
lineage instead of reading the cache).
"""

from __future__ import annotations

import math
from typing import Collection, Mapping, Sequence

from pyspark.sql import DataFrame


def ident(name: str) -> str:
    """Back-quoted identifier; a back-quote inside the name is doubled."""
    return "`" + name.replace("`", "``") + "`"


def lit(v) -> str:
    """SQL literal with the type F.lit(v) would give: bool -> BOOLEAN,
    int -> INT (BIGINT when out of range), float -> DOUBLE, str ->
    STRING, None -> NULL. repr is the shortest round-trip decimal, so
    a double literal parses back to the identical IEEE-754 value;
    non-finite doubles have no numeric literal and go through CAST."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if math.isinf(v):
            return f"CAST('{'-' if v < 0 else ''}Infinity' AS DOUBLE)"
        return repr(v) + "D"
    if isinstance(v, str):
        # backslash is an escape in Spark SQL string literals
        return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"
    raise TypeError(f"no SQL literal for {type(v).__name__}: {v!r}")


def project(
    df: DataFrame,
    cols: Sequence[str],
    exprs: Mapping[str, str],
    drop: Collection[str] = (),
) -> DataFrame:
    """df.withColumns(exprs).drop(*drop) as ONE selectExpr: `cols` are
    df's columns in order, `exprs` maps names to SQL text. A name
    already in `cols` is rewritten in place, new names are appended in
    order, as withColumns does."""
    exprs = dict(exprs)
    items = [
        f"{exprs.pop(c)} AS {ident(c)}" if c in exprs else ident(c)
        for c in cols
        if c not in drop
    ]
    items += [f"{sql} AS {ident(name)}" for name, sql in exprs.items()]
    return df.selectExpr(*items)
