"""Dirty-data repair operators (SURVEY.md §2.7, R1-R6; row_fix.py parity).

The reference runs TWO full row-wise Python ``.apply`` passes per column
(row_fix.py:219-226). Here: pass 1 is one aggregation (parse ratios + error
census), the driver picks targets, pass 2 is a single ``withColumns``
expression cascade — all JVM-side.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dataset import Dataset
from ..operations import OpRecord
from ..profiling import NOT_NA_STRING_COL_THRESHOLD, profile_changed
from ..functions.numeric_repair import (
    nonparseable_expr,
    repair_expr,
    unfixable_expr,
    with_repaired,
)


# ---------------------------------------------------------------------------
# R1 — numeric-convertibility check (row_fix.py:20-53)
# ---------------------------------------------------------------------------
def check_numeric_cols(
    dataset: Dataset,
    col_list: tuple[str, ...] | None = None,
    threshold: float = NOT_NA_STRING_COL_THRESHOLD,
) -> list[str]:
    """String columns whose non-null values parse to numbers at a ratio above
    ``threshold`` (0.4, settings.py:18).

    A cached profile already holds every string column's parse ratio (the
    same ``try_cast`` average); the other candidates share one aggregation.
    """
    if col_list is None:
        col_list = tuple(sorted(dataset.profile.str_cols))
    ratios: dict[str, float | None] = {}
    if dataset._profile is not None:
        for c in col_list:
            s = dataset._profile.stats.get(c)
            if s is not None and s.spark_type == "string":
                ratios[c] = s.parse_ratio
    rest = [c for c in col_list if c not in ratios]
    if rest:
        exprs = []
        for c in rest:
            col = F.col(c)
            exprs.append(
                F.avg(
                    F.when(col.isNotNull(), col.try_cast("double").isNotNull().cast("double"))
                ).alias(c)
            )
        ratios.update(dataset.df.agg(*exprs).collect()[0].asDict())
    return [c for c in col_list if (ratios[c] or 0.0) > threshold]


# ---------------------------------------------------------------------------
# R6 — error census (row_fix.py:99-115, 311-338)
# ---------------------------------------------------------------------------
@dataclass
class ErrorReport:
    """Counts + distinct unconvertible values per column, before/after fix.

    Replaces the reference's side-effect dicts (which cannot distribute) with
    an explicit aggregation result (SURVEY.md §2.4 A6).
    """

    before_count: dict[str, int] = field(default_factory=dict)
    before_values: dict[str, list] = field(default_factory=dict)
    after_count: dict[str, int] = field(default_factory=dict)

    def total_before(self) -> int:
        return sum(self.before_count.values())

    def total_after(self) -> int:
        return sum(self.after_count.values())


def error_census(
    df: DataFrame, columns: tuple[str, ...], max_values_per_col: int = 1000
) -> tuple[dict[str, int], dict[str, list], dict[str, int]]:
    """Per-column error counts before/after the cascade + error value sets.

    ``before`` counts every non-float-convertible value — INCLUDING fixable
    typos ('12,5', '>30', '---') — matching the reference's
    ``errors_before_correction`` (row_fix.py:99-115, float() failure).
    ``after`` counts values still unconvertible after the full cascade
    (``errors_after_correction``). ONE aggregation for both count sets; one
    bounded distinct-collect per erroring column for the value sets (the
    reference appends every error value to a driver list — unbounded; we cap).
    """
    if not columns:
        return {}, {}, {}
    count_row = df.agg(
        *[
            F.sum(nonparseable_expr(F.col(c)).cast("long")).alias(f"__b_{c}")
            for c in columns
        ],
        *[
            F.sum(unfixable_expr(F.col(c)).cast("long")).alias(f"__a_{c}")
            for c in columns
        ],
    ).collect()[0].asDict()
    before = {c: int(count_row[f"__b_{c}"] or 0) for c in columns}
    after = {c: int(count_row[f"__a_{c}"] or 0) for c in columns}
    values: dict[str, list] = {}
    for c in columns:
        if before[c] == 0:
            values[c] = []
            continue
        rows = (
            df.where(nonparseable_expr(F.col(c)))
            .select(F.col(c).cast("string").alias("v"))
            .distinct()
            .orderBy("v")
            .limit(max_values_per_col)
            .collect()
        )
        values[c] = [r["v"] for r in rows]
    return before, values, after


class RowFix:
    """Typo-fix orchestrator (row_fix.py:70-309).

    Holds the error reports of the last run (census parity with the
    reference's ``errors_before/after_correction_dict``).
    """

    def __init__(self, percentage_to_add_out_of_scale: float = 0.02):
        self.pct = percentage_to_add_out_of_scale
        self.report = ErrorReport()

    # ---- R3 (row_fix.py:192-233) ------------------------------------------
    def fix_typos(
        self, dataset: Dataset, column_list: tuple[str, ...] = ()
    ) -> Dataset:
        """Apply the repair cascade to ``column_list`` (default: the profiler's
        to-be-fixed mixed-type columns). Output columns become DOUBLE
        (documented deviation — see functions/numeric_repair.py)."""
        if column_list == ():
            column_list = tuple(sorted(dataset.to_be_fixed_cols))
        if not column_list:
            return dataset
        before_counts, before_values, after_counts = error_census(
            dataset.df, column_list
        )
        self.report.before_count.update(before_counts)
        self.report.before_values.update(before_values)
        self.report.after_count.update(after_counts)

        df = with_repaired(dataset.df, column_list, self.pct)
        return dataset.evolve(
            df=df,
            record=OpRecord(
                name="fix_typos",
                columns=tuple(column_list),
                details={
                    "errors_before": before_counts,
                    "errors_after": after_counts,
                    "error_values": before_values,
                },
            ),
        )

    # ---- R4 (row_fix.py:235-267) ------------------------------------------
    def cols_to_correct_dtype(self, dataset: Dataset) -> Dataset:
        """Normalize dtypes from the profile: {0,1}/bool → boolean; integral
        numerics → int (nullable Int32 parity); fractional → double."""
        p = dataset.profile
        casts = {}
        for c in sorted(p.numerical_cols):
            s = p.stats[c]
            if s.spark_type == "boolean":
                continue
            if c in p.bool_cols:
                casts[c] = F.col(c).cast("boolean")
            elif s.spark_type == "string":
                casts[c] = F.col(c).try_cast("double")
            elif not s.non_integer and s.spark_type in ("double", "float"):
                casts[c] = F.col(c).cast("int")
        if not casts:
            return dataset
        df = dataset.df.withColumns(casts)
        return dataset.evolve(
            df=df,
            record=OpRecord(
                name="cols_to_correct_dtype",
                columns=tuple(casts),
                details={"casts": {c: str(e) for c, e in casts.items()}},
            ),
        )

    # ---- R5 (row_fix.py:269-309) ------------------------------------------
    def fix_common_errors(
        self, dataset: Dataset, set_to_correct_dtype: bool = True
    ) -> Dataset:
        """Mixed-type columns ∪ numeric-ish string columns → fix → optional
        dtype normalization (row_fix.py:296-308)."""
        p = dataset.profile
        num_cols = check_numeric_cols(dataset, tuple(sorted(p.str_cols)))
        targets = tuple(sorted(p.mixed_type_cols | set(num_cols)))
        out = self.fix_typos(dataset, targets)
        if set_to_correct_dtype:
            if out is not dataset:
                # fix_typos rewrites only ``targets`` and keeps every row,
                # so the other columns keep their stats from ``p``
                out._profile = profile_changed(
                    out.df, targets, p, out.metadata_cols
                )
            out = self.cols_to_correct_dtype(out)
        return out

    # ---- R6 reporting (row_fix.py:311-338) --------------------------------
    def count_errors(self) -> dict[str, int]:
        return {
            "rows_with_initial_mistakes": self.report.total_before(),
            "errors_before": self.report.total_before(),
            "errors_after": self.report.total_after(),
        }


def winsorize(
    df, key_col: str, value_col: str, lo: float = 0.05, hi: float = 0.95
):
    """Per-group winsorization: clip ``value_col`` to that group's
    [lo, hi] percentile band — the robust-tail cleaning step before any
    mean-based feature (heavy-tail damage control without dropping rows).

    Returns the input rows plus ``<value>_w`` (clipped value). One exact
    per-group percentile agg (buffers ONE group's values — bounded by
    group size; swap in the q100 histogram sketch for unbounded groups)
    broadcast back onto the rows; the fact table never shuffles.
    """
    from pyspark.sql import functions as F

    v = F.col(value_col)
    bounds = df.where(v.isNotNull()).groupBy(key_col).agg(
        F.expr(f"percentile({value_col}, {lo})").alias("__lo"),
        F.expr(f"percentile({value_col}, {hi})").alias("__hi"),
    )
    return (
        df.join(F.broadcast(bounds), key_col, "left")
        .withColumn(
            f"{value_col}_w",
            F.when(v < F.col("__lo"), F.col("__lo"))
            .when(v > F.col("__hi"), F.col("__hi"))
            .otherwise(v),
        )
        .drop("__lo", "__hi")
    )


def winsorize_summary_sql(
    table: str,
    key_col: str,
    value_col: str,
    lo: float = 0.05,
    hi: float = 0.95,
) -> str:
    """DuckDB twin of the q123 gate: winsorize then summarize per group
    (quantile_cont == Spark's interpolating percentile)."""
    return f"""
    WITH bounds AS (
        SELECT {key_col},
               quantile_cont({value_col}, {lo}) AS __lo,
               quantile_cont({value_col}, {hi}) AS __hi
        FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1
    ), w AS (
        SELECT t.{key_col}, t.{value_col},
               CASE WHEN t.{value_col} < b.__lo THEN b.__lo
                    WHEN t.{value_col} > b.__hi THEN b.__hi
                    ELSE t.{value_col} END AS __w,
               b.__lo, b.__hi
        FROM {table} t LEFT JOIN bounds b USING ({key_col})
    )
    SELECT {key_col},
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN {value_col} < __lo THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clip_lo,
           CAST(sum(CASE WHEN {value_col} > __hi THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clip_hi,
           round(sum({value_col}), 2) AS sum_raw,
           round(sum(__w), 2) AS sum_winsorized
    FROM w GROUP BY 1
    """
