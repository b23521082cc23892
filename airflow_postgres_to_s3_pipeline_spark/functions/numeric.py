"""Deterministic aggregate builders.

Floating-point sums are order-dependent, and distributed partial aggregation
makes the order nondeterministic — two engines (or two runs) can disagree in
the last ULPs.  For oracle-checked results we sum in exact DECIMAL arithmetic
(after a deterministic double->decimal rounding at a fixed scale) and cast the
exact total back to double.  This keeps the aggregation JVM-side and
whole-stage-codegen'd while making the result bit-stable regardless of
partitioning — the property that lets the same query hash-match DuckDB at
sf0.01 and stay reproducible on a 1000-executor cluster.

The oracle-SQL mirror of ``dsum(col, s)`` is::

    CAST(SUM(CAST(col AS DECIMAL(27,s))) AS DOUBLE)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dsum(col: Column | str, scale: int = 2) -> Column:
    """Exact decimal SUM of a double column, returned as double."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(27,{scale})")).cast("double")


def davg(col: Column | str, scale: int = 2, round_to: int = 4) -> Column:
    """Deterministic AVG: exact decimal sum divided by count, rounded.

    Oracle mirror: ``ROUND(CAST(SUM(CAST(x AS DECIMAL(27,s))) AS DOUBLE)
    / COUNT(x), r)``.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(dsum(c, scale) / F.count(c), round_to)


def int_hundredths(col: Column | str) -> Column:
    """Exact 2-decimal value as INT64 hundredths: double -> DECIMAL(12,2)
    -> x100 -> BIGINT.  The deterministic fixed-point hop the
    event-analytics operators sum instead of floats (int64 sums are
    order-independent; giant DECIMAL->DOUBLE casts diverge from DuckDB in
    the last ulp past 2^53 — see docs/SCALE.md Known constraints).

    Oracle mirror, verbatim: ``CAST(CAST(value AS DECIMAL(12,2)) * 100 AS
    BIGINT)`` — single-sourced here so the Spark and SQL sides of every
    consumer stay in lockstep (r9 review: two inline copies).
    """
    c = F.col(col) if isinstance(col, str) else col
    return (c.cast("decimal(12,2)") * 100).cast("long")
