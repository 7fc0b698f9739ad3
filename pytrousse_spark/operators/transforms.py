"""Live-API transform operators (SURVEY.md §2.5, T1-T5).

Each re-expresses a reference pandas operator as lazy column expressions;
encoders stage one bounded distinct-collect (cardinality-guarded) before
planning, mirroring the reference's data-dependent control flow
(SURVEY.md §3 E2) without ever collecting row data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..dataset import Dataset
from .base import FeatureOperation
from ..functions.rounding import round_to
from ..staging import stage

#: Collect-guard: encoders refuse to materialize vocabularies larger than
#: this (the reference would happily OOM; at 100 TB a guard is mandatory).
MAX_ENCODER_CATEGORIES = 10_000

#: Below this vocabulary size encoders compile to a WHEN chain (no join, no
#: shuffle, stays inside whole-stage codegen); above it they broadcast-join a
#: code table (SURVEY.md §4 "small-table attachment" heuristic).
WHEN_CHAIN_MAX = 64


def sorted_distinct(df: DataFrame, column: str, cap: int = MAX_ENCODER_CATEGORIES) -> list:
    """Deterministic (ascending, NULL-free) distinct values of a column.

    The single collect action an encoder is allowed; guarded so a mistyped
    high-cardinality column fails fast instead of flooding the driver.
    """
    rows = (
        df.select(column)
        .where(F.col(column).isNotNull())
        .distinct()
        .orderBy(column)
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        raise ValueError(
            f"Column {column!r} has more than {cap} distinct values; "
            "refusing to encode (raise cap explicitly if intended)"
        )
    return [r[0] for r in rows]


class FillNA(FeatureOperation):
    """Fill NULLs with a constant (reference feature_operations.py:141-250).

    Spark: ``coalesce(col, lit(value))`` — in place or into a derived column.
    """

    def __init__(self, columns, value, derived_columns=None):
        super().__init__(columns, derived_columns)
        self.value = value

    def _eq_fields(self):
        return (*super()._eq_fields(), self.value)

    def _apply(self, dataset: Dataset) -> tuple[DataFrame, dict]:
        col = self.columns[0]
        target = self.derived_columns[0] if self.derived_columns else col
        filled = F.coalesce(F.col(col), F.lit(self.value))
        return dataset.df.withColumn(target, filled), {"value": self.value}


class ReplaceSubstrings(FeatureOperation):
    """Sequential substring replacement (feature_operations.py:253-398).

    Pairs cascade in insertion order in BOTH modes. Documented deviation
    (SURVEY.md §2.5 T2): the reference's derived-column mode re-reads the
    original column per pair so only the last pair survives
    (feature_operations.py:317-324) — a WIP artifact its own tests never
    exercise (only 1-entry maps); we cascade consistently.

    Patterns are literal strings (pandas ``str.replace`` pre-1.x semantics of
    the reference), so ``F.replace`` not ``regexp_replace``.
    """

    def __init__(self, columns, replacement_map: dict[str, str], derived_columns=None):
        super().__init__(columns, derived_columns)
        if not replacement_map:
            raise ValueError("replacement_map must not be empty")
        self.replacement_map = dict(replacement_map)

    def _eq_fields(self):
        return (*super()._eq_fields(), tuple(self.replacement_map.items()))

    def _apply(self, dataset: Dataset) -> tuple[DataFrame, dict]:
        col = self.columns[0]
        target = self.derived_columns[0] if self.derived_columns else col
        expr = F.col(col)
        for old, new in self.replacement_map.items():
            expr = F.replace(expr, F.lit(old), F.lit(new))
        return dataset.df.withColumn(target, expr), {
            "replacement_map": dict(self.replacement_map)
        }


class ReplaceStrings(ReplaceSubstrings):
    """Whole-value replacement (feature_operations.py:401-508).

    pandas ``Series.replace(dict)`` exact-match semantics → WHEN chain.
    """

    def _apply(self, dataset: Dataset) -> tuple[DataFrame, dict]:
        col = self.columns[0]
        target = self.derived_columns[0] if self.derived_columns else col
        expr = F.col(col)
        for old, new in self.replacement_map.items():
            expr = F.when(F.col(col) == F.lit(old), F.lit(new)).otherwise(expr)
        return dataset.df.withColumn(target, expr), {
            "replacement_map": dict(self.replacement_map)
        }


class OneHotEncoder(FeatureOperation):
    """One column → K nullable-boolean columns (feature_operations.py:511-683).

    Parity points:
    - derived names ``{col}_{category}{suffix}`` with lexicographically sorted
      categories (sklearn ``categories_`` order);
    - NULL input row → NULL in ALL K outputs (null-mask,
      feature_operations.py:637-656);
    - the NULL category itself is dropped (feature_operations.py:579-610).

    One bounded distinct-collect stages the plan; the encode itself is a
    WHEN-free boolean projection — no shuffle, no join.
    """

    def __init__(self, columns, derived_column_suffix: str = "_enc"):
        super().__init__(columns, None)
        self.derived_column_suffix = derived_column_suffix

    def _eq_fields(self):
        return (*super()._eq_fields(), self.derived_column_suffix)

    def _apply(self, dataset: Dataset) -> tuple[DataFrame, dict]:
        col = self.columns[0]
        categories = sorted_distinct(dataset.df, col)
        src = F.col(col)
        outputs = {
            f"{col}_{cat}{self.derived_column_suffix}": F.when(
                src.isNull(), F.lit(None).cast("boolean")
            ).otherwise(src == F.lit(cat))
            for cat in categories
        }
        # withColumns: single projection node for all K outputs. Derived
        # names are data-dependent → reported via "__derived__", never
        # written to instance state (the operator stays reusable).
        return dataset.df.withColumns(outputs), {
            "categories": categories,
            "derived_column_suffix": self.derived_column_suffix,
            "__derived__": tuple(outputs),
        }


class OrdinalEncoder(FeatureOperation):
    """Category → integer code by ascending sort (feature_operations.py:686-780).

    NOT Spark ML's ``StringIndexer`` (frequency order) — codes follow the
    sorted distinct values so abc→0, abr→1 matches the reference goldens
    (tests/expectations/csv/generic-ordinal-encoded-col3-inplace.csv).
    Small vocabularies compile to a WHEN chain; larger ones broadcast-join a
    driver-built code table. NULL → NULL either way.
    """

    def __init__(self, columns, derived_columns=None):
        super().__init__(columns, derived_columns)

    def _apply(self, dataset: Dataset) -> tuple[DataFrame, dict]:
        col = self.columns[0]
        target = self.derived_columns[0] if self.derived_columns else col
        categories = sorted_distinct(dataset.df, col)
        mapping = {cat: i for i, cat in enumerate(categories)}
        details = {"encoded_values_map": {i: c for i, c in enumerate(categories)}}

        if len(categories) <= WHEN_CHAIN_MAX:
            expr = F.lit(None).cast("long")
            for cat, code in mapping.items():
                expr = F.when(F.col(col) == F.lit(cat), F.lit(code).cast("long")).otherwise(expr)
            return dataset.df.withColumn(target, expr), details

        spark = dataset.df.sparkSession
        code_df = spark.createDataFrame(
            [(c, i) for c, i in mapping.items()], ["__cat_value", "__cat_code"]
        )
        joined = (
            dataset.df.join(
                F.broadcast(code_df),
                on=F.col(col) == F.col("__cat_value"),
                how="left",
            )
            .withColumn(target, F.col("__cat_code"))
            .drop("__cat_value", "__cat_code")
        )
        return joined, details


def percent_rank_transform(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "pct_rank",
    strategy: str = "exact",
    num_bins: int = 4096,
    exact_max_group_rows: int = 1_000_000,
) -> DataFrame:
    """Per-group rank / quantile-normalization of a numeric feature
    (``percent_rank`` within each group) — the heavy-tail-robust feature
    scaling (rank transforms are immune to outliers and monotone
    re-parameterizations; the nonparametric sibling of the z-score q53).

    Ties share a rank (SQL ``percent_rank`` semantics — deterministic in
    both engines, no row_number tie hazard); NULL values pass through
    with a NULL rank AND are excluded from the window entirely (engines
    disagree on NULL sort position — Spark NULLS FIRST, DuckDB NULLS
    LAST — so a NULL inside the frame would shift every other row's
    rank engine-dependently). One group-partitioned window: shuffle
    bounded by rows, no global ordering.

    SCALE CAVEAT: exact per-group percent_rank funnels each group
    through a single sort task, and rank is global within the group so
    it CANNOT be salted. Use this only when the group key is
    high-cardinality enough that per-group volume is bounded; for
    low-cardinality keys (a handful of giant groups) use
    :func:`percent_rank_transform_approx`, which maps values through a
    per-group histogram CDF — no per-group sort at all, error pinned
    <= 1e-3 at the default 4096 bins (tests/test_transforms.py).

    ``strategy`` routes between the two (r5 VERDICT item 5):

    - ``"exact"`` (default) — the window path above, byte-stable with
      every existing oracle;
    - ``"sketch"`` — delegate to :func:`percent_rank_transform_approx`
      with ``num_bins``;
    - ``"auto"`` — ONE cheap profile aggregation (per-group counts
      reduce map-side; the result is two numbers) reads the LARGEST
      group's row count, then picks ``sketch`` iff it exceeds
      ``exact_max_group_rows`` (the per-group sort-task budget — at
      100 TB a group bigger than a few million rows should never ride
      a single sort task). The profile is one extra tiny job; the
      routing rule is pinned on both a 3-group and a high-cardinality
      key in tests/test_transforms.py.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if strategy not in ("exact", "sketch", "auto"):
        raise ValueError(
            "percent_rank_transform: strategy must be exact|sketch|auto"
        )
    if strategy == "auto":
        # NOT memoized via operators/_probe.cached_probe: unlike the
        # rolling-window/attribution routers, exact and sketch are NOT
        # bit-identical (sketch is a histogram CDF approximation), so a
        # stale probe on a mutated-under-same-plan input could silently
        # change RESULTS, not just the physical form. The probe re-runs
        # per call; callers wanting to amortize pass strategy explicitly.
        prof = (
            df.where(F.col(value_col).isNotNull())
            .groupBy(group_col)
            .agg(F.count(F.lit(1)).alias("__c"))
            .agg(F.max("__c").alias("__mx"))
            .collect()[0]
        )
        strategy = (
            "sketch"
            if (prof["__mx"] or 0) > exact_max_group_rows
            else "exact"
        )
    if strategy == "sketch":
        return percent_rank_transform_approx(
            df, group_col, value_col, out_col, num_bins
        )

    v = F.col(value_col)
    nn = df.where(v.isNotNull())
    w = Window.partitionBy(group_col).orderBy(value_col)
    ranked = nn.withColumn(
        out_col, round_to(F.percent_rank().over(w), 6)
    )
    nulls = df.where(v.isNull()).withColumn(
        out_col, F.lit(None).cast("double")
    )
    return ranked.unionByName(nulls)


def percent_rank_transform_approx(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "pct_rank",
    num_bins: int = 4096,
) -> DataFrame:
    """Scale-safe per-group rank transform: approximate ``percent_rank``
    via a per-group equi-width histogram CDF instead of a per-group
    global sort — the 100 TB replacement for
    :func:`percent_rank_transform` when the group key is low-cardinality
    (e.g. 3 return flags funneling ~n/3 rows each through one sort task;
    exact per-group rank cannot be salted because rank is global within
    the group).

    Algorithm (the q100/q127 histogram-sketch convention,
    operators/sketch.py): per-group (lo, hi, n) stats broadcast onto
    rows, ONE (group, bin)-keyed count agg — shuffle bounded by
    groups x B — a bins-ordered running sum, then each row's rank is the
    mass strictly below its bin plus linear interpolation inside it:
    ``(cum_before + frac_in_bin * bin_count) / (n - 1)``, clamped to
    [0, 1] and rounded 6. The fact table itself never shuffles on the
    group key: stats broadcast, and the groups x B CDF table is tiny, so
    AQE broadcasts the final join too — zero per-group sort, zero
    funnel. Max |approx - exact| on the sf0.01 gate column is pinned
    <= 1e-3 at B=4096 (tests/test_transforms.py).

    Same NULL contract as the exact variant: NULL values pass through
    with NULL rank and never enter the histogram, and a NULL GROUP KEY
    is a group like any other (the exact window treats NULL as one
    partition, so the stats/CDF joins here use null-safe equality —
    ``<=>`` in Spark, ``IS NOT DISTINCT FROM`` in the DuckDB twin — to
    keep those rows rather than silently dropping them). Constant
    groups (hi == lo) and singleton groups rank 0.0 (exact
    percent_rank semantics for all-ties / n == 1).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    v = F.col(value_col)
    nn = df.where(v.isNotNull())
    # groups-bounded; feeds the binned broadcast on BOTH executions of
    # binned (histogram build + final probe side) — checkpoint so the
    # stats scan runs once instead of once per consumer
    stats = stage(nn.groupBy(F.col(group_col).alias("__g")).agg(
        F.min(value_col).cast("double").alias("__lo"),
        F.max(value_col).cast("double").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
    ))
    span = F.col("__hi") - F.col("__lo")
    pos = (v.cast("double") - F.col("__lo")) / span * num_bins
    binned = nn.join(
        F.broadcast(stats), nn[group_col].eqNullSafe(F.col("__g")), "inner"
    ).drop("__g").withColumn(
        "__b",
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
            F.least(F.floor(pos).cast("long"), F.lit(num_bins - 1))
        ),
    )
    hist = binned.groupBy(F.col(group_col).alias("__hg"), "__b").agg(
        F.count(F.lit(1)).alias("__c")
    )
    wb = (
        Window.partitionBy("__hg")
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cdf = hist.select(
        "__hg",
        F.col("__b").alias("__cb"),
        "__c",
        F.coalesce(F.sum("__c").over(wb), F.lit(0)).alias("__below"),
    )
    # explicit broadcast: the CDF frame is groups x B rows (tiny); without
    # the hint the null-safe key rewrite (coalesce/isnull pair) makes the
    # planner lose the broadcast and fall back to a fact-side SortMergeJoin
    joined = binned.join(
        F.broadcast(cdf),
        binned[group_col].eqNullSafe(cdf["__hg"])
        & (binned["__b"] == cdf["__cb"]),
        "inner",
    ).drop("__cb", "__hg")
    frac = F.greatest(
        F.lit(0.0), F.least(F.lit(1.0), pos - F.col("__b"))
    )
    less = F.least(
        F.col("__below") + frac * F.col("__c"),
        (F.col("__n") - 1).cast("double"),
    )
    pct = F.when(
        (F.col("__n") <= 1) | (F.col("__hi") == F.col("__lo")), F.lit(0.0)
    ).otherwise(round_to(less / (F.col("__n") - 1), 6))
    ranked = joined.withColumn(out_col, pct).drop(
        "__lo", "__hi", "__n", "__b", "__c", "__below"
    )
    nulls = df.where(v.isNull()).withColumn(
        out_col, F.lit(None).cast("double")
    )
    return ranked.unionByName(nulls)


def percent_rank_transform_approx_sql(
    table: str,
    group_col: str,
    value_col: str,
    out_col: str = "pct_rank",
    num_bins: int = 4096,
) -> str:
    """DuckDB twin of :func:`percent_rank_transform_approx` — identical
    bin assignment, CDF window, and interpolation expression text (per-
    row scalar IEEE arithmetic, so no fold-order hazard; the window sum
    casts back to BIGINT per the HUGEINT rule)."""
    g, vc, B = group_col, value_col, num_bins
    return f"""
    WITH nn AS (
        SELECT * FROM {table} WHERE {vc} IS NOT NULL
    ), s AS (
        SELECT {g} AS __g, CAST(min({vc}) AS DOUBLE) AS __lo,
               CAST(max({vc}) AS DOUBLE) AS __hi,
               CAST(count(*) AS BIGINT) AS __n
        FROM nn GROUP BY 1
    ), binned AS (
        SELECT nn.*, s.__lo, s.__hi, s.__n,
               CASE WHEN s.__hi = s.__lo THEN 0
                    ELSE least(CAST(floor((CAST({vc} AS DOUBLE) - s.__lo)
                                          / (s.__hi - s.__lo) * {B})
                                    AS BIGINT), {B - 1})
               END AS __b
        FROM nn JOIN s ON nn.{g} IS NOT DISTINCT FROM s.__g
    ), hist AS (
        SELECT {g} AS __hg, __b, CAST(count(*) AS BIGINT) AS __c
        FROM binned GROUP BY 1, 2
    ), cdf AS (
        SELECT __hg, __b, __c,
               CAST(coalesce(sum(__c) OVER (
                   PARTITION BY __hg ORDER BY __b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS __below
        FROM hist
    ), ranked AS (
        SELECT b.*, c.__c, c.__below,
               greatest(0.0, least(1.0,
                   (CAST(b.{vc} AS DOUBLE) - b.__lo)
                   / (b.__hi - b.__lo) * {B} - b.__b)) AS __frac
        FROM binned b JOIN cdf c
          ON b.{g} IS NOT DISTINCT FROM c.__hg AND b.__b = c.__b
    )
    SELECT * EXCLUDE (__lo, __hi, __n, __b, __c, __below, __frac),
           CASE WHEN __n <= 1 OR __hi = __lo THEN 0.0
                ELSE round(least(__below + __frac * __c,
                                 CAST(__n - 1 AS DOUBLE))
                           / (__n - 1), 6)
           END AS {out_col}
    FROM ranked
    UNION ALL
    SELECT *, CAST(NULL AS DOUBLE) AS {out_col}
    FROM {table} WHERE {vc} IS NULL
    """


def quantile_normalize(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "qn_value",
    rank_bins: int = 4096,
    value_bins: int = 256,
) -> DataFrame:
    """Quantile normalization / CDF matching (Bolstad 2003's microarray
    practice; the batch-effect corrector for mixed-source features): map
    every group's values onto the POOLED distribution, so after the
    transform all groups share the global marginal — rank each value
    within its group, then read the pooled inverse CDF at that rank.

    Both stages are sketch-based and scale-safe: the per-group rank is
    :func:`percent_rank_transform_approx` (histogram CDF, no per-group
    sort), and the pooled inverse CDF is a ``value_bins``-row global
    histogram the rank rows LEFT-join on a mass-range predicate — a
    broadcast nested-loop against a tiny bin table (the q52 range-join
    shape), never a sort or a fact-side shuffle. Each row's normalized
    value interpolates linearly inside its target bin:
    ``glo + (bin-1 + (m - cum_lo)/(cum_hi - cum_lo)) * span/B`` with
    ``m = rank * n_global``; rank 0 lands on the global minimum via the
    left-join coalesce. NULL values pass through with NULL output.

    Output: the input columns plus ``out_col`` (rounded 6).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    ranked = percent_rank_transform_approx(
        df, group_col, value_col, "__qr", rank_bins
    )
    v = F.col(value_col)
    nn = df.where(v.isNotNull())
    # one row; feeds gbinned, the cdf-bucket expansion AND the final
    # projection — checkpoint so its scan runs once
    gstats = stage(nn.agg(
        F.min(value_col).cast("double").alias("__glo"),
        F.max(value_col).cast("double").alias("__ghi"),
        F.count(F.lit(1)).cast("bigint").alias("__gn"),
    ))
    span = F.col("__ghi") - F.col("__glo")
    gpos = (v.cast("double") - F.col("__glo")) / span * value_bins
    gbinned = nn.crossJoin(F.broadcast(gstats)).select(
        F.when(F.col("__ghi") == F.col("__glo"), F.lit(0))
        .otherwise(
            F.least(F.floor(gpos).cast("long"), F.lit(value_bins - 1))
        )
        .alias("__gb")
    )
    wb = Window.orderBy("__gb").rowsBetween(Window.unboundedPreceding, -1)
    gcdf = stage(
        gbinned.groupBy("__gb")
        .agg(F.count(F.lit(1)).alias("__gc"))
        .select(
            "__gb",
            F.coalesce(F.sum("__gc").over(wb), F.lit(0)).alias("__cum_lo"),
            (F.coalesce(F.sum("__gc").over(wb), F.lit(0)) + F.col("__gc"))
            .alias("__cum_hi"),
        )
    )
    m = F.col("__qr") * F.col("__gn")
    # mass-range lookup as a broadcast HASH join, not a nested loop: key
    # both sides by the rank bucket k = floor(qr * B) and keep the exact
    # range predicate as the join filter. Each cdf bin expands to every
    # k its cumulative mass interval (cum_lo, cum_hi] can reach (integer
    # DIV bounds, widened ±1 to absorb the double rounding of qr*B vs
    # qr*gn), so candidates-per-row drop from all B bins to ~1-2; the
    # disjoint intervals still guarantee at most one true match, which
    # preserves the left-join semantics row for row.
    B = int(value_bins)
    gx = (
        gcdf.crossJoin(F.broadcast(gstats))
        .select(
            "__gb",
            "__cum_lo",
            "__cum_hi",
            F.explode(
                F.sequence(
                    F.greatest(
                        F.lit(0).cast("bigint"),
                        F.expr(
                            f"(__cum_lo * CAST({B} AS BIGINT)) div __gn"
                        )
                        - F.lit(1),
                    ).cast("int"),
                    F.least(
                        F.lit(B).cast("bigint"),
                        F.expr(
                            f"(__cum_hi * CAST({B} AS BIGINT)) div __gn"
                        )
                        + F.lit(1),
                    ).cast("int"),
                )
            ).alias("__mk"),
        )
    )
    mk_row = F.floor(F.col("__qr") * F.lit(float(B))).cast("int")
    joined = (
        ranked.crossJoin(F.broadcast(gstats))
        .withColumn("__mkr", mk_row)
        .join(
            F.broadcast(gx),
            (F.col("__mkr") == F.col("__mk"))
            & (m > F.col("__cum_lo"))
            & (m <= F.col("__cum_hi")),
            "left",
        )
        .drop("__mkr", "__mk")
    )
    width = span / F.lit(value_bins)
    interp = F.col("__glo") + (
        (F.col("__gb") - F.lit(0))  # __gb is 0-based: bin b covers
        + (m - F.col("__cum_lo"))   # [glo + b*width, glo + (b+1)*width)
        / (F.col("__cum_hi") - F.col("__cum_lo"))
    ) * width
    clamped = F.greatest(
        F.col("__glo"),
        F.least(F.col("__ghi"), F.coalesce(interp, F.col("__glo"))),
    )
    # round_to, not Spark's round(x, 6): that one rounds the double's
    # decimal string, DuckDB the scaled double, and on a knife edge they
    # disagree (measured: one row in 6000 at sf0.001)
    qn = F.when(
        v.isNull() | F.col("__qr").isNull(), F.lit(None).cast("double")
    ).otherwise(round_to(clamped, 6))
    return joined.withColumn(out_col, qn).drop(
        "__qr", "__glo", "__ghi", "__gn", "__gb", "__cum_lo", "__cum_hi"
    )


def quantile_normalize_sql(
    table: str,
    group_col: str,
    value_col: str,
    out_col: str = "qn_value",
    rank_bins: int = 4096,
    value_bins: int = 256,
) -> str:
    """DuckDB twin of :func:`quantile_normalize` — composes the rank
    twin as a subquery, then the identical global histogram, mass-range
    join, and interpolation expressions."""
    prta = percent_rank_transform_approx_sql(
        table, group_col, value_col, "__qr", rank_bins
    )
    vc, B = value_col, value_bins
    return f"""
    WITH ranked AS ({prta}
    ), gnn AS (
        SELECT * FROM {table} WHERE {vc} IS NOT NULL
    ), gs AS MATERIALIZED (
        SELECT CAST(min({vc}) AS DOUBLE) AS __glo,
               CAST(max({vc}) AS DOUBLE) AS __ghi,
               CAST(count(*) AS BIGINT) AS __gn
        FROM gnn
    ), gb AS (
        SELECT CASE WHEN gs.__ghi = gs.__glo THEN 0
                    ELSE least(CAST(floor((CAST({vc} AS DOUBLE) - gs.__glo)
                                          / (gs.__ghi - gs.__glo) * {B})
                                    AS BIGINT), {B - 1})
               END AS __gb
        FROM gnn CROSS JOIN gs
    ), gcdf AS MATERIALIZED (
        SELECT __gb,
               CAST(coalesce(sum(__gc) OVER (
                   ORDER BY __gb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS __cum_lo,
               CAST(coalesce(sum(__gc) OVER (
                   ORDER BY __gb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) + __gc AS BIGINT) AS __cum_hi
        FROM (SELECT __gb, CAST(count(*) AS BIGINT) AS __gc
              FROM gb GROUP BY 1)
    )
    SELECT r.* EXCLUDE (__qr),
           CASE WHEN r.__qr IS NULL THEN CAST(NULL AS DOUBLE)
                ELSE round(greatest(gs.__glo, least(gs.__ghi,
                    coalesce(gs.__glo + (c.__gb
                        + (r.__qr * gs.__gn - c.__cum_lo)
                          / (c.__cum_hi - c.__cum_lo))
                      * ((gs.__ghi - gs.__glo) / {B}), gs.__glo)))
                    * 1e6, 0) / 1e6
           END AS {out_col}
    FROM ranked r
    CROSS JOIN gs
    LEFT JOIN gcdf c
      ON r.__qr * gs.__gn > c.__cum_lo
     AND r.__qr * gs.__gn <= c.__cum_hi
    """
