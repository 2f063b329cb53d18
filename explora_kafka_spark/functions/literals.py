"""Literal-set predicates rendered as SQL text.

An `isin` list or a list of `F.struct(F.lit(...))` keys costs a few py4j
round trips per literal to build. Rendering the whole set as one SQL `IN`
expression and parsing it JVM-side with a single `F.expr` call costs one
round trip whatever the set size; Catalyst turns it into the same
`In`/`InSet` it builds from `isin`, so scan pushdown and partition
pruning are unchanged.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _sql_literal(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, int) and not isinstance(v, bool):
        return str(v)
    if isinstance(v, tuple):
        return "(" + ", ".join(map(_sql_literal, v)) + ")"
    raise TypeError(f"no SQL literal for {type(v).__name__} {v!r}")


def literal_in(terms: Iterable[tuple[str, Sequence]]) -> Column:
    """OR of `lhs IN (values)` over `(lhs, values)` terms, as one Column
    made by one `F.expr` call.

    `lhs` is SQL text: a column, an expression such as
    `substring(gh, 1, 4)`, or a row `(a, b)` matched by tuple values.
    Values are str (single-quoted, with backslash and quote escaped) or
    int; any other type raises TypeError. No values at all is `false`."""
    sql = " OR ".join(
        f"({lhs} IN ({', '.join(map(_sql_literal, values))}))"
        for lhs, values in terms if values
    )
    return F.expr(sql or "false")
