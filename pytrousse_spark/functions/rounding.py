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

Fixed point (:func:`to_fixed`, :func:`from_fixed`) is the package's
exact form of a double: ``round(x * 10^k)`` as an integer, whose sums do
not depend on the order the engine adds rows in, and one division by
10^k back to a double. The scale says how many decimals a term keeps:

* 10^2, cents, for money (every price and value column);
* 10^6, micro-units, for outputs reported to 6 decimals;
* 10^9, 10^12 and 10^15 for intermediate folds (logs, entropies,
  squared deviations, products of two scaled terms) whose terms need
  more digits than the 6 the result keeps;
* a few one-off units: 10^3 and 10^4 for a score or an effect that
  keeps 3 or 4 decimals, 10^8 (micro-cents) and 10^18 (a 10^9 term
  squared) for folds whose unit is the product of two of the above.

``wide=True`` casts to ``DECIMAL(38,0)`` instead of ``BIGINT``, for sums
that can pass 2^63 (squares and products of scaled terms): the DuckDB
twins carry those as ``HUGEINT``, so a BIGINT sum would overflow where
the twin does not. :data:`SCALE` holds these scales as exact integers
for the driver-side arithmetic and SQL twin text that must agree with
the Spark side.
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

#: 10^k for each fixed-point scale k the package uses (see above).
SCALE = {k: 10 ** k for k in (2, 3, 4, 6, 8, 9, 12, 15, 18)}


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


def to_fixed(col: Column, k: int, wide: bool = False) -> Column:
    """``col`` as an exact integer at scale 10^k:
    ``CAST(round(col * 10^k) AS BIGINT)``, or ``DECIMAL(38,0)`` (the
    twin's ``HUGEINT``) when ``wide``. The scale is an integer literal, so
    the product keeps ``col``'s own type, as the twins' ``v * 100`` does;
    for a double ``col`` Spark folds it to the same double constant. A
    column of another type that should scale in double arithmetic is
    cast to double first."""
    return F.round(col * F.lit(SCALE[k]), 0).cast(
        "decimal(38,0)" if wide else "bigint"
    )


def from_fixed(col: Column, k: int) -> Column:
    """A scale-10^k integer (or a fold of them) back as a double:
    ``CAST(col AS DOUBLE) / 10^k``."""
    return col.cast("double") / F.lit(float(SCALE[k]))
