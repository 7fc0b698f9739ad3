"""Incremental aggregate maintenance: partial rollups that MERGE.

The 100 TB pattern for standing aggregates (daily revenue, per-source
token counts, quality histograms): never re-scan history. Keep the
rollup as mergeable PARTIALS — (count, sum, min, max) are all algebraic,
so partials from yesterday's table plus partials from today's delta
merge by one small keyed aggregation, exactly like q103 merges HLL
registers for the non-algebraic distinct count. The defining law —
``merge(partial(A), partial(B)) == partial(A ∪ B)`` row-for-row — only
holds if the sum is ASSOCIATIVE, which float sums are not; sums are
therefore carried as integer micro-units (round half-away at 1e-6, the
repo-wide convention), making the merge bit-exact and replayable by the
DuckDB oracle.

Scale: building partials is one keyed aggregation over each input
(map-side combine does most of the work); merging shuffles only
``groups`` rows regardless of input volume. The final view derives
sum/avg from the micro-units at read time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import SCALE, from_fixed, round_to, to_fixed


def partial_rollup(df: DataFrame, keys: list[str], value_col: str) -> DataFrame:
    """Mergeable partial aggregate of ``value_col`` per ``keys``:
    ``(keys..., n_rows, sum_micro, min_value, max_value)``. NULL values
    are excluded (matching SQL aggregate semantics)."""
    v = F.col(value_col)
    return (
        df.where(v.isNotNull())
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(to_fixed(v.cast("double"), 6)).alias("sum_micro"),
            F.min(v).alias("min_value"),
            F.max(v).alias("max_value"),
        )
    )


def merge_rollups(parts: list[DataFrame], keys: list[str]) -> DataFrame:
    """Merge any number of partial rollups into one — sum the counts and
    micro-sums, min the mins, max the maxes. Shuffle bounded by groups."""
    if not parts:
        raise ValueError("parts must be non-empty")
    u = parts[0]
    for p in parts[1:]:
        u = u.unionByName(p)
    return u.groupBy(*keys).agg(
        F.sum("n_rows").alias("n_rows"),
        F.sum("sum_micro").alias("sum_micro"),
        F.min("min_value").alias("min_value"),
        F.max("max_value").alias("max_value"),
    )


def rollup_view(partials: DataFrame, keys: list[str]) -> DataFrame:
    """Read-time view over partials: exact decimal sum and rounded avg."""
    return partials.select(
        *keys,
        "n_rows",
        from_fixed(F.col("sum_micro"), 6).alias("sum_value"),
        round_to(from_fixed(F.col("sum_micro"), 6) / F.col("n_rows"), 6).alias(
            "avg_value"
        ),
        "min_value",
        "max_value",
    )


def partial_rollup_sql(subquery: str, keys: list[str], value_col: str) -> str:
    """DuckDB twin of :func:`partial_rollup` (sum_micro cast to BIGINT —
    DuckDB sums of BIGINT widen to HUGEINT, the q11/q68 bug class)."""
    ks = ", ".join(keys)
    return f"""
    SELECT {ks},
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round({value_col} * {SCALE[6]}, 0) AS BIGINT)) AS BIGINT)
               AS sum_micro,
           min({value_col}) AS min_value,
           max({value_col}) AS max_value
    FROM ({subquery}) WHERE {value_col} IS NOT NULL
    GROUP BY {ks}
    """


def incremental_rollup_sql(
    base_subquery: str, delta_subquery: str, keys: list[str], value_col: str
) -> str:
    """DuckDB twin of the full maintenance loop: partials of base and
    delta, merged, then the read-time view."""
    ks = ", ".join(keys)
    base = partial_rollup_sql(base_subquery, keys, value_col)
    delta = partial_rollup_sql(delta_subquery, keys, value_col)
    return f"""
    WITH merged AS (
        SELECT {ks},
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(sum_micro) AS BIGINT) AS sum_micro,
               min(min_value) AS min_value,
               max(max_value) AS max_value
        FROM (({base}) UNION ALL ({delta}))
        GROUP BY {ks}
    )
    SELECT {ks}, n_rows,
           sum_micro / {SCALE[6]} AS sum_value,
           round(sum_micro / {SCALE[6]} / n_rows, 6) AS avg_value,
           min_value, max_value
    FROM merged
    """
