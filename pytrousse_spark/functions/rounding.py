"""The package's one rounding rule, on the driver and in Spark.

Every Spark result is checked bit for bit against a DuckDB twin, so every
rounded value must be rounded the way DuckDB rounds it. The two engines do
not agree on ``round(DOUBLE, k)`` for k > 0:

* DuckDB rounds the binary value: ``std::round(x * 10^k) / 10^k``, ties
  away from zero on the scaled double.
* Spark's ``F.round(double, k)`` rounds the double's decimal string
  half-up (``BigDecimal(Double.toString(d)).setScale(k, HALF_UP)``).

They differ whenever the binary value lies just inside a decimal tie: the
double nearest ``(0.5 - 1) * 0.064103`` prints as ``-0.0320515``, so Spark
gives -0.032052, while its scaled value ``-32051.499999999996`` gives
DuckDB's -0.032051. Halvings, means of two values and products of two
k-decimal values make such ties systematic, not rare. At scale 0 the two
rules agree: a double whose string ends in ``.5`` *is* that tie
(every ``n + 0.5`` below 2^52 is exactly representable). So
:func:`round_to` scales first and rounds at scale 0, which is DuckDB's
arithmetic in Spark.

Python's built-in ``round`` is banker's rounding (ties to even), unlike
both engines; driver-side rounds whose result a SQL twin replays (k-means
centroid literals, PQ codebooks, gradient updates) use
:func:`round_half_away`.

Micro-units (:data:`MICRO`, :func:`micro`) are the package's exact
integer form of a 6-decimal value: integer sums of them do not depend on
the order the engine adds rows in.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: Scale of the integer micro-unit form of a value.
MICRO = 1_000_000


def round_half_away(x: float, ndigits: int = 0) -> float:
    """Round ``x`` to ``ndigits`` decimals on the driver, exactly as
    DuckDB's ``round(DOUBLE, n)`` (and :func:`round_to`): the value is
    scaled by 10^n in double precision, rounded half away from zero and
    scaled back."""
    if x != x or math.isinf(x):  # NaN / inf pass through
        return x
    scale = 10.0 ** ndigits
    return math.copysign(math.floor(abs(x) * scale + 0.5), x) / scale


def round_to(col: Column, k: int) -> Column:
    """``col`` (a double) rounded to ``k`` decimals as DuckDB's
    ``round(col, k)`` rounds it: ``F.round(col * 10^k, 0) / 10^k``."""
    scale = F.lit(10.0 ** k)
    return F.round(col * scale, 0) / scale


def micro(col: Column) -> Column:
    """``col`` (a double) in integer micro-units:
    ``CAST(round(col * 1e6) AS BIGINT)``."""
    return F.round(col * F.lit(float(MICRO)), 0).cast("bigint")
