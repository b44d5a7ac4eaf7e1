"""Cross-engine determinism helpers for the DuckDB-oracle operator surface.

Floating-point sums are order-dependent; Spark and DuckDB aggregate in
different orders, so a naive ``SUM(double)`` can differ in low-order bits and
fail the driver's value-hash compare. Every value in the driver tables is a
money-like double within ~1e-9 of a 2-decimal value, so casting each element
to ``DECIMAL(18,4)`` is lossless-in-intent and makes the sum EXACT and
identical in both engines; the final cast back to double is then bit-identical.

SQL mirrors are plain strings the DuckDB side uses; keep the two in sync.

``session_memo`` is the one session-scoped memo every shared cut goes
through.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,4)"


def dsum(col: Column | str) -> Column:
    """Exact sum of a money-like double column → double (order-insensitive).

    The trailing round(2) guards the decimal→double CONVERSION, not the sum:
    the decimal sums are bit-identical across engines, but DuckDB converts
    DECIMAL(38,8)→DOUBLE via hugeint/10^8 which double-rounds — at ~5e9
    magnitude that is a 1-ulp (~5e-7) divergence from Spark's correctly
    rounded BigDecimal.doubleValue (measured at sf0.1). Money values are
    exact at 2 decimals, so rounding both sides there removes the ulp.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.round(F.sum(c.cast(DEC)).cast("double"), 2)


def dsum_sql(expr: str) -> str:
    return f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,4))) AS DOUBLE), 2)"


def dmul(a: Column, b: Column) -> Column:
    """Exact product of two money-like doubles as decimal (for dsum_raw)."""
    return a.cast(DEC) * b.cast(DEC)


def dsum_raw(col: Column) -> Column:
    """Sum a column that is ALREADY exact decimal (e.g. a dmul product).
    round(2) guards the decimal→double conversion ulp — see dsum."""
    return F.round(F.sum(col).cast("double"), 2)


def dmul_sum_sql(a: str, b: str) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({a} AS DECIMAL(18,4)) * CAST({b} AS DECIMAL(18,4)))"
        f" AS DOUBLE), 2)"
    )


_SESSION_CUTS: dict[tuple[str, str, str], object] = {}


def session_memo(spark, sf_dir, name, build):
    """Build the session cut ``name`` over ``sf_dir`` once per Spark
    application and return that same object on every later call.

    Registered keys are self-contained, so without this a session that
    runs many keys re-derives every shared cut (corpus derivations, the
    linked cut, triples, graph edge sets) once per key, and a key whose
    body ``persist()``s stacks one cached copy per call (ADVICE r04).
    sf dirs are immutable inputs and a new SparkSession has a new
    application id, so an entry never goes stale within its session and
    a stopped session's entries are never hit again. What ``build()``
    returns is stored as is: a builder that wants its cut cached
    persists it itself."""
    key = (spark.sparkContext.applicationId, sf_dir, name)
    if key not in _SESSION_CUTS:
        _SESSION_CUTS[key] = build()
    return _SESSION_CUTS[key]
