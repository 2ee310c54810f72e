"""Cross-engine-deterministic numeric helpers.

``round()`` conventions differ between engines (Spark rounds HALF_UP on the
exact binary value via BigDecimal; others multiply-round-divide in floating
point), so two engines given the *identical* double can disagree in the
last rounded digit.  ``det_round`` fixes the convention to
``floor(x * 10^dp + 0.5) / 10^dp`` — a pure double computation that any
engine reproduces bit-for-bit from the same input.  SQL equivalent:
``floor(x * 1e{dp} + 0.5) / 1e{dp}``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def det_round(col: Column, dp: int) -> Column:
    scale = float(10**dp)
    return F.floor(col * F.lit(scale) + F.lit(0.5)) / F.lit(scale)


def sql_double(x: float) -> str:
    """Exact double literal for generated SQL: repr() is the shortest
    round-trip form and the string->double cast parses it back to the
    bit-identical IEEE value (plain SQL float literals would become
    DECIMAL and change the arithmetic). Used by expression builders that
    render large literal arrays as one F.expr string instead of one py4j
    call per node (pq, similarity)."""
    return f"CAST('{float(x)!r}' AS DOUBLE)"
