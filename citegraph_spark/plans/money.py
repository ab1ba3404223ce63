"""Exact fixed-point money arithmetic for cross-engine-deterministic
revenue aggregates.

Round-12's mutation audit (M08) proved the oracle hasher's
9-significant-digit float band is blind to sub-cent defects once a money
sum crosses ~1e7 (granularity >= 0.01): a dropped ``round(..., 2)`` on a
~5e8-magnitude double sum hashes identically. The reference computes its
aggregates in fixed-point (Analytics.scala:42 LongType sums), so the
faithful fix is to do the same: route every large-magnitude money
aggregate through DecimalType end-to-end. Decimal arithmetic is exact in
both Spark and DuckDB, so the two engines produce bit-identical values
AND scales — the hash gate then compares them exactly (no float
normalization band), and a half-cent defect anywhere in the pipeline is
visible at any magnitude.

DECIMAL stays strictly INTERNAL: tests/test_oracle_dtypes.py pins the
round-6 driver incident where typed fetch representations (HUGEINT, and
by the same mechanism DECIMAL) hash-mismatch at the external
canonicalizer even when values are equal, so no entry may EMIT decimal
columns. Instead each blind-band money aggregate emits a PAIR derived
from the same exact decimal:

- ``<name>`` DOUBLE dollars — both engines cast the identical exact
  decimal to double, so the doubles are bit-identical (display column,
  schema-compatible with every hasher).
- ``<name>_cents`` BIGINT cents — int64 compares exactly under any
  hasher at any magnitude; this is the column that makes an M08-class
  sub-cent defect (dropped round) visible, and it is the reference's
  own money representation (Analytics.scala:42 LongType sums).

Input conventions:
- inputs: ``CAST(col AS DECIMAL(12,2))`` — lossless for the TPC-H money
  columns (exact 2dp doubles, magnitude < 1e10; verified in
  tests/test_money_decimal.py).
- ``l_extendedprice * (1 - l_discount)`` -> exact DECIMAL(26,4); cast to
  DECIMAL(16,4) (lossless: < 1e12 at item granularity) before any
  further multiply so widths never overflow 38 in either engine.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

MONEY = "decimal(12,2)"


def money(name: str) -> Column:
    """A raw money column cast to exact fixed-point (lossless: the
    testdata money columns are exact 2dp doubles)."""
    return F.col(name).cast(MONEY)


def disc_price() -> Column:
    """l_extendedprice * (1 - l_discount) in exact decimal — DECIMAL(26,4),
    narrowed losslessly to DECIMAL(16,4) so downstream multiplies fit."""
    return (money("l_extendedprice") * (1 - money("l_discount"))).cast(
        "decimal(16,4)"
    )


def charge() -> Column:
    """disc_price * (1 + l_tax) in exact decimal (TPC-H Q1 sum_charge)."""
    return disc_price() * (1 + money("l_tax"))


def money_sum_pair(expr: Column, name: str) -> list[Column]:
    """The canonical blind-band money aggregate output: exact-decimal
    sum rounded to cents, emitted as (DOUBLE dollars, BIGINT cents)."""
    s = F.round(F.sum(expr), 2)
    return [
        s.cast("double").alias(name),
        (s * 100).cast("long").alias(f"{name}_cents"),
    ]


def cents_pair(dec: Column, name: str) -> list[Column]:
    """(DOUBLE dollars, BIGINT cents) from an already-rounded scale-2
    exact decimal column (window aggregates, operator outputs)."""
    return [
        dec.cast("double").alias(name),
        (dec * 100).cast("long").alias(f"{name}_cents"),
    ]


# DuckDB-side fragments mirroring the above, for oracle_sql() strings.
SQL_MONEY = "CAST({col} AS DECIMAL(12,2))"
SQL_DISC_PRICE = (
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2))"
    " * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(16,4))"
)
SQL_CHARGE = f"{SQL_DISC_PRICE} * (1 + CAST(l_tax AS DECIMAL(12,2)))"
