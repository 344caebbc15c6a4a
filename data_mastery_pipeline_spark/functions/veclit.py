"""One-call numeric array/matrix literals (driver-side plan cost).

``F.array(*[F.lit(float(x)) for x in vec])`` issues one py4j round trip
PER ELEMENT while the plan is being BUILT — pure driver time before any
job runs. For the similarity family that is real money: an 8×64
centroid matrix costs ~0.45 s per construction and the IVF-PQ search
builds several such matrices per invocation (measured r11,
OPTIMIZATION_r11.md — ~40 % of ann_ivfpq_topk's profiled wall was
expression construction, not execution).

These helpers render the values into ONE SQL ``array(...)`` expression
string and hand it to ``F.expr`` — a single py4j call; the JVM parses
the literal directly into the plan (measured 85× faster construction,
value-identical results: ``repr`` round-trips doubles exactly and the
SQL ``D`` suffix pins the double type — the localrel.py VALUES trick
applied to array literals). Runtime is also never worse: the result is
a foldable literal exactly like the ``CreateArray``-of-``Literal`` tree
it replaces.

NaN/±Inf follow localrel's SQL forms; use these helpers for numeric
vectors/matrices of knowable dtype, keep plain ``F.array`` for columns
or heterogeneous/complex literals.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def _d(x) -> str:
    v = float(x)
    if math.isnan(v):
        return "double('NaN')"
    if math.isinf(v):
        return "double('Infinity')" if v > 0 else "double('-Infinity')"
    return repr(v) + "D"


def double_array_sql(vals: Sequence[float]) -> str:
    """The SQL text of an ``array<double>`` literal (for callers that
    compose larger ``F.expr`` strings)."""
    return "array(" + ",".join(_d(x) for x in vals) + ")"


def double_array_lit(vals: Sequence[float]) -> Column:
    """``array<double>`` literal column in one py4j call."""
    return F.expr(double_array_sql(vals))


def double_matrix_sql(rows: Sequence[Sequence[float]]) -> str:
    """The SQL text of an ``array<array<double>>`` literal."""
    return "array(" + ",".join(double_array_sql(r) for r in rows) + ")"


def double_matrix_lit(rows: Sequence[Sequence[float]]) -> Column:
    """``array<array<double>>`` literal column in one py4j call."""
    return F.expr(double_matrix_sql(rows))
