"""Exact sums on 64-bit limbs.

The engine's sums are value-exact, so that both engines report the same
IEEE double for the same rows: the sum of ``CAST(x AS DECIMAL(18,s))``
over a group is a rational with denominator ``10^s``, and a caller casts
it to double once.  A Spark ``sum`` over a decimal keeps a
``java.math.BigDecimal`` in the aggregate buffer as soon as the
accumulator is wider than 18 digits, and re-encodes it as BigInteger
bytes on every input row.  This kernel computes the same value with
only longs in the aggregate buffer:

1. per row, the unscaled value ``k`` (bigint) of the input: an integral
   input is its own ``k``; a fractional one at scale ``s`` is the
   unscaled value of ``CAST(x AS DECIMAL(18,s))``, a compact (long)
   decimal, so no BigDecimal reaches the aggregate buffer;
2. ``k = (k>>42)·2^42 + ((k>>21)&M)·2^21 + (k&M)`` with ``M = 2^21-1``:
   each of the three limbs is summed with a plain long ``sum``;
3. once per group the limb sums recombine as ``DECIMAL(38,s)``.

Overflow: every limb lies in ``[-2^21, 2^21)``, so no limb sum overflows
below 2^42 rows in one group (4.4·10^12).  The recombined unscaled value
is then below 2^105 < 10^32, inside ``DECIMAL(38,s)``.

Each function returns ONE ``F.expr`` over SQL text (a column name, or an
expression over column names): the per-row value appears once per limb
in the text, and whole-stage codegen evaluates the common subexpression
once per row.  Null inputs are skipped as by ``sum``; a group with no
non-null input sums to null.
"""

from __future__ import annotations

from decimal import Decimal

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["sum_long", "sum_scaled"]

_M = (1 << 21) - 1


def _unscaled(x: str, scale: int) -> str:
    """SQL for the unscaled value of ``CAST(x AS DECIMAL(18,scale))``."""
    return f"CAST(CAST(({x}) AS DECIMAL(18,{scale})) * {10 ** scale} AS BIGINT)"


def _limb_sum(k: str, scale: int) -> Column:
    """``DECIMAL(38,scale)`` sum of the bigint ``k`` times ``10^-scale``."""
    k = f"CAST(({k}) AS BIGINT)"
    hi, mid, lo = (f"{Decimal(1 << b).scaleb(-scale):f}" for b in (42, 21, 0))
    return F.expr(
        f"CAST(sum({k} >> 42) * {hi}BD"
        f" + sum(({k} >> 21) & {_M}) * {mid}BD"
        f" + sum({k} & {_M}) * {lo}BD AS DECIMAL(38,{scale}))"
    )


def sum_long(k: str) -> Column:
    """Exact ``DECIMAL(38,0)`` sum of the integral SQL expression ``k``:
    the value and type of ``sum(CAST(k AS DECIMAL(38,0)))`` for a
    bigint (or narrower integer) ``k``."""
    return _limb_sum(k, 0)


def sum_scaled(x: str, scale: int) -> Column:
    """Exact ``DECIMAL(38,scale)`` sum of ``CAST(x AS DECIMAL(18,scale))``
    for the double, decimal or integer SQL expression ``x``; as that
    cast, it raises for ``|x| ≥ 10^(18-scale)``."""
    return _limb_sum(_unscaled(x, scale), scale)
