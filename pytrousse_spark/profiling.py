"""Single-pass column profiler.

Replaces the reference's per-column eager scans (`_find_single_column_type`,
dataset.py:56-101; `_columns_type`, dataset.py:287-372; `_ColumnListByType`,
dataset.py:104-135) with ONE narrow grouped aggregation over the table.
Every profile-derived Dataset property (SURVEY.md §2.10) reads the cached
result.

Layout: each input row is stacked into one row per column,
``(k, h, d, pr)`` = (column index, 64-bit hash of the value, value as a
double for numeric columns, parse flag for string columns), then grouped by
``k``. Each group carries one HyperLogLog++ buffer. The older layout — every
column's aggregates side by side in one row — put N HLL++ buffers (≈410
longs each at rsd 0.02) into one wide buffer row whose fixed per-call cost
grew with columns × registers, not rows. Measured on repeat calls, local[4]
on a 4-core host: 1.9-2.5 s against 0.7-0.8 s for this layout on an
8-column, 1,000-row CSV; 8.2-9.9 s against 6.8-7.8 s on sf0.1 ``lineitem``.

Scale notes (100 TB):
- one full scan, all statistics computed as partial aggregates (map-side
  combine) — no per-column jobs, no driver-side value loops; the shuffle
  carries one partial row per column per map task;
- distinct counts use HyperLogLog (`approx_count_distinct` over the value
  hash); estimates at or near a categorical boundary (≤ 10, or within ±8 %
  of 7 or count // 300) are re-read with one exact ``count(DISTINCT …)``
  pass; the only exact rule, "constant column", is decided from the
  distinct count plus null presence;
- MAP values are hashed and counted in a canonical form (entries sorted by
  key): ``xxhash64`` rejects MAPs, and ``count(DISTINCT …)`` over a MAP
  counts two equal maps built in different entry order as two values;
- numeric-parsability of string columns uses `try_cast` ratios
  (row_fix.py:20-53 semantics) — JVM-side, no Python.

Two-sample drift statistics: :func:`cramer_von_mises`,
:func:`wasserstein_1d`, :func:`wasserstein_1d_by_group`,
:func:`kuiper_two_sample`, :func:`anderson_darling_2s`,
:func:`energy_distance` and :func:`drift_by_group` (and
``operators.classifier.mann_whitney_by_group``) read one kernel,
``operators._prefix.pooled_levels``: the pooled integer-cent level frame
of both samples (NULL values and NULL groups excluded), staged and routed
once, with exact below-level cumulatives, optional next-level adjacency,
per-group totals and the ECDF gap ``F_a - F_b``. Each per-level term
(CvM, AD, Kuiper D+/D-, W1, energy) is defined once below and shared by
the standalone function and ``drift_by_group``; each function keeps only
its own fold and output columns. :func:`ks_two_sample` (exact doubles,
bucket decomposition) and :func:`mann_whitney_u` keep their own forms.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .functions.rounding import from_fixed, round_to, to_fixed
from .operators._prefix import (
    PooledLevels,
    both_sides,
    ecdf_gap,
    pooled_levels,
)
from .staging import stage

#: reference settings.py:9 — categorical when nunique < 7 or
#: nunique < notna_count // CATEG_COL_THRESHOLD.
CATEG_COL_THRESHOLD = 300
#: reference settings.py:18 — string column "is numeric" parse-ratio gate.
NOT_NA_STRING_COL_THRESHOLD = 0.4
#: reference dataset.py:271-285 — trivial = nan_columns(0.999) | constant.
TRIVIAL_NAN_RATIO = 0.999

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_OTHER_TYPES = (T.TimestampType, T.DateType, T.BinaryType, T.TimestampNTZType)


@dataclass(frozen=True)
class ColumnStats:
    """Per-column statistics from the single profiling pass."""

    name: str
    spark_type: str
    is_numeric: bool        # numeric Spark type (int/float/decimal families)
    count: int              # non-null rows
    nulls: int
    distinct: int           # approx, excludes NULL
    has_null: bool
    min_num: float | None
    max_num: float | None
    non_integer: bool       # any non-null numeric value with a fractional part
    parse_ratio: float | None  # strings: parseable-to-double share of non-null

    @property
    def total(self) -> int:
        return self.count + self.nulls

    @property
    def distinct_with_null(self) -> int:
        """pandas ``nunique(dropna=False)`` semantics (dataset.py:267-269)."""
        return self.distinct + (1 if self.has_null else 0)


@dataclass(frozen=True)
class ColumnProfile:
    """Classified column sets derived from one aggregation pass.

    Classification parity (reference dataset.py:287-372 + PD_INFER_TYPE_MAP
    dataset.py:316-337, expectations tests/integration/test_dataset.py:156-285):

    - bool columns: BooleanType, or numeric with values ⊆ {0,1} and ≤2
      distincts (dataset.py:90);
    - numerical: numeric Spark types ∪ bool ∪ interval-structs, plus string
      columns that FULLY parse as numbers (CSV-origin columns pandas would
      have inferred numeric);
    - mixed: string columns that PARTIALLY parse (0 < ratio < 1) — Spark
      columns are homogeneously typed so "mixed types" surfaces only as
      partially-numeric text (SURVEY.md §1.3);
    - other: timestamp/date/binary (dataset.py:326-332);
    - categorical: nunique < 7 or nunique < notna//300 (dataset.py:493-535);
    - constant: one distinct value counting NULL as a value (dataset.py:258-269);
    - trivial: nan_columns(0.999) ∪ constant (dataset.py:271-285).
    """

    stats: dict[str, ColumnStats]
    metadata_cols: frozenset[str]

    # ---- raw type sets -----------------------------------------------------
    def _is_interval(self, s: ColumnStats) -> bool:
        return s.spark_type.startswith("struct<lower")

    @property
    def bool_cols(self) -> frozenset[str]:
        out = set()
        for s in self.stats.values():
            if s.spark_type == "boolean":
                out.add(s.name)
            elif s.is_numeric and s.count > 0:
                if (
                    s.distinct <= 2
                    and s.min_num is not None
                    and s.min_num >= 0
                    and s.max_num <= 1
                    and not s.non_integer
                ):
                    out.add(s.name)
        return frozenset(out)

    @property
    def mixed_type_cols(self) -> frozenset[str]:
        return frozenset(
            s.name
            for s in self.stats.values()
            if s.spark_type == "string"
            and s.parse_ratio is not None
            and 0.0 < s.parse_ratio < 1.0
        )

    @property
    def numerical_cols(self) -> frozenset[str]:
        out = set()
        for s in self.stats.values():
            if s.is_numeric or s.spark_type == "boolean":
                out.add(s.name)
            elif self._is_interval(s):
                out.add(s.name)  # pandas Interval → numerical (dataset.py:334)
            elif s.spark_type == "string" and s.parse_ratio == 1.0 and s.count > 0:
                out.add(s.name)
        return frozenset(out)

    @property
    def str_cols(self) -> frozenset[str]:
        return frozenset(
            s.name
            for s in self.stats.values()
            if s.spark_type == "string"
            and s.name not in self.mixed_type_cols
            and s.name not in self.numerical_cols
        )

    @property
    def other_type_cols(self) -> frozenset[str]:
        known = (
            self.numerical_cols | self.str_cols | self.mixed_type_cols
        )
        return frozenset(
            s.name for s in self.stats.values() if s.name not in known
        )

    # ---- derived classes ---------------------------------------------------
    def nan_cols(self, nan_ratio: float) -> frozenset[str]:
        """Columns whose NULL count exceeds ratio·rows (dataset.py:232-256)."""
        return frozenset(
            s.name for s in self.stats.values() if s.nulls > nan_ratio * s.total
        )

    @property
    def constant_cols(self) -> frozenset[str]:
        return frozenset(
            s.name
            for s in self.stats.values()
            if s.distinct_with_null == 1 or s.total == 0
        )

    @property
    def trivial_cols(self) -> frozenset[str]:
        return self.nan_cols(TRIVIAL_NAN_RATIO) | self.constant_cols

    def _is_categorical(self, s: ColumnStats) -> bool:
        return s.distinct < 7 or s.distinct < s.count // CATEG_COL_THRESHOLD

    @property
    def str_categorical_cols(self) -> frozenset[str]:
        return frozenset(
            c for c in self.str_cols if self._is_categorical(self.stats[c])
        )

    @property
    def num_categorical_cols(self) -> frozenset[str]:
        return frozenset(
            c
            for c in self.numerical_cols
            if self.stats[c].spark_type != "boolean"
            and not self._is_interval(self.stats[c])
            and self._is_categorical(self.stats[c])
        )

    @property
    def med_exam_col_list(self) -> frozenset[str]:
        """Documented intent of dataset.py:356-360: (numerical ∪ bool) −
        constant − metadata. (The reference's actual expression has an
        operator-precedence bug keeping metadata numericals — SURVEY.md §1.2;
        we implement the intent and pin it with tests.)"""
        return (self.numerical_cols | self.bool_cols) - self.constant_cols - self.metadata_cols

    @property
    def to_be_fixed_cols(self) -> frozenset[str]:
        """Mixed-type columns (dataset.py:537-547)."""
        return self.mixed_type_cols


def _is_numeric_type(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_TYPES)


def _has_map(dt: T.DataType) -> bool:
    if isinstance(dt, T.MapType):
        return True
    if isinstance(dt, T.ArrayType):
        return _has_map(dt.elementType)
    if isinstance(dt, T.StructType):
        return any(_has_map(f.dataType) for f in dt.fields)
    return False


def _hashable(col, dt: T.DataType):
    """``col`` with every MAP replaced by its entries sorted by key.

    ``xxhash64`` rejects MAP values, and ``count(DISTINCT …)`` tells equal
    maps apart by entry order; the sorted entry array is their canonical
    form (keys are unique, so two equal maps give equal arrays whatever
    their insertion order)."""
    if not _has_map(dt):
        return col
    if isinstance(dt, T.MapType):
        vt = dt.valueType
        entries = F.map_entries(col)
        if _has_map(vt):
            entries = F.transform(
                entries,
                lambda e: F.struct(
                    e["key"].alias("key"), _hashable(e["value"], vt).alias("value")
                ),
            )
        return F.array_sort(entries)
    if isinstance(dt, T.ArrayType):
        et = dt.elementType
        return F.transform(col, lambda x: _hashable(x, et))
    return F.when(
        col.isNotNull(),
        F.struct(
            *[_hashable(col[f.name], f.dataType).alias(f.name) for f in dt.fields]
        ),
    )


def _quoted(name: str):
    return F.col("`" + name.replace("`", "``") + "`")


def profile(df: DataFrame, metadata_cols: frozenset[str] = frozenset()) -> ColumnProfile:
    """Run the single-pass profile aggregation and classify columns."""
    fields = df.schema.fields
    no_double = F.lit(None).cast("double")
    cells = []
    for k, f_ in enumerate(fields):
        dt = f_.dataType
        col = _quoted(f_.name)
        d, pr = no_double, no_double
        if _is_numeric_type(dt):
            d = col.cast("double")
        elif isinstance(dt, T.StringType):
            pr = F.when(col.isNotNull(), col.try_cast("double").isNotNull().cast("double"))
        cells.append(
            F.struct(
                F.lit(k).alias("k"),
                F.when(col.isNotNull(), F.xxhash64(_hashable(col, dt))).alias("h"),
                d.alias("d"),
                pr.alias("pr"),
            )
        )
    # one row per (input row, column), grouped by column: one HLL++ buffer
    # per group instead of one per column in a wide row (module docstring)
    rows: dict[int, dict] = {}
    if fields:
        d = F.col("d")
        agg = (
            df.select(F.inline(F.array(*cells)))
            .groupBy("k")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.count("h").alias("cnt"),
                # rsd 0.02, not 0.01: 0.01 has 4x the registers per group
                # and costs 1.4-1.6 s vs 0.8-1.0 s per call on an 8-column
                # 1,000-row CSV (on sf0.1 lineitem the two cost the same,
                # local[4]); the only precision-sensitive consumer — the
                # categorical boundary classifier — is protected by the
                # exact re-check below (band 4 sigma = 8%)
                F.approx_count_distinct("h", 0.02).alias("dst"),
                F.min(d).alias("min"),
                F.max(d).alias("max"),
                F.max((d != F.floor(d)).cast("int")).alias("frac"),
                F.avg("pr").alias("pr"),
            )
        )
        rows = {r["k"]: r.asDict() for r in agg.collect()}
    # an empty input yields no groups: every count is 0, every value NULL
    total = next(iter(rows.values()))["total"] if rows else 0
    empty = {"cnt": 0, "dst": 0, "min": None, "max": None, "frac": None, "pr": None}
    per_col = [rows.get(k) or dict(empty) for k in range(len(fields))]

    # Exact re-check near the categorical boundaries (r7 VERDICT item 3
    # of "What's wrong"): the HLL estimate (rsd 0.02) feeds the
    # `distinct < 7 or distinct < count // 300` classifier, so a column
    # whose true cardinality sits AT a boundary (299 vs 301 around
    # count // 300) can misclassify on estimation noise. For any column
    # whose estimate lands within ±8% (4 sigma at rsd 0.02) of either
    # boundary, re-read the exact countDistinct — ONE extra aggregation
    # batching every such column (rare in practice: boundaries are
    # data-dependent points). The common case stays one pass.
    recheck: list[int] = []
    for k, r in enumerate(per_col):
        cnt = r["cnt"]
        est = min(r["dst"], cnt) if cnt > 0 else 0
        # small-cardinality columns (est <= 10) ALWAYS re-check: the
        # ±8% band around the 7-boundary is ±0.56, i.e. it only caught
        # an estimate of exactly 7, while an estimate off by >4 sigma
        # near the categorical threshold misclassified silently — and
        # an exact distinct over <=10-ish values is nearly free.
        if 0 < est <= 10:
            recheck.append(k)
            continue
        for bound in (7, cnt // CATEG_COL_THRESHOLD):
            if bound > 0 and abs(est - bound) <= 0.08 * bound:
                recheck.append(k)
                break
    if recheck:
        exact = df.agg(
            *[
                F.countDistinct(
                    _hashable(_quoted(fields[k].name), fields[k].dataType)
                ).alias(f"_{k}")
                for k in recheck
            ]
        ).collect()[0]
        for k in recheck:
            per_col[k]["dst"] = exact[f"_{k}"]

    stats: dict[str, ColumnStats] = {}
    for f_, r in zip(fields, per_col):
        c, dt = f_.name, f_.dataType
        cnt = r["cnt"]
        # HLL can report 1 for an all-null column; clamp to non-null reality.
        distinct = min(r["dst"], cnt) if cnt > 0 else 0
        stats[c] = ColumnStats(
            name=c,
            spark_type=dt.simpleString(),
            is_numeric=_is_numeric_type(dt),
            count=cnt,
            nulls=total - cnt,
            distinct=distinct,
            has_null=cnt < total,
            min_num=r["min"],
            max_num=r["max"],
            non_integer=bool(r["frac"] or 0),
            parse_ratio=r["pr"],
        )
    return ColumnProfile(stats=stats, metadata_cols=metadata_cols)


def profile_changed(
    df: DataFrame,
    changed: tuple[str, ...],
    base: ColumnProfile,
    metadata_cols: frozenset[str] = frozenset(),
) -> ColumnProfile:
    """The profile of ``df`` when it holds the same rows as the frame
    ``base`` profiles and differs from it only in the ``changed``
    columns: those are profiled afresh (one pass over them alone),
    every other column keeps its ``base`` stats."""
    fresh = profile(df.select(*[_quoted(c) for c in changed]), metadata_cols)
    return ColumnProfile(
        stats={c: fresh.stats.get(c) or base.stats[c] for c in df.columns},
        metadata_cols=metadata_cols,
    )


def correlation_matrix(df, cols: list[str]) -> "DataFrame":
    """Pairwise Pearson correlations of numeric columns in ONE aggregation
    pass — the EDA correlation matrix over K columns costs one scan and a
    single-row shuffle regardless of table size (K + K(K+1)/2 sum
    expressions with map-side partials).

    Exactness across engines: float sums are fold-order-dependent, so
    every Σx, Σx², Σxy accumulates as DECIMAL — exact, associative,
    bit-identical in the DuckDB replay (operands cast to DECIMAL(18,4),
    products DECIMAL(38,8)) — and only the FINAL corr formula runs in
    doubles (one conversion + identical IEEE arithmetic per engine).

    Returns ``(col_a, col_b, corr, n)`` for the upper triangle, corr
    rounded to 6; constant columns yield NULL (zero variance).
    """
    from pyspark.sql import functions as F

    def dec(c: str):
        return F.col(c).cast("decimal(18,4)")

    aggs = [F.count(F.lit(1)).alias("n")]
    for c in cols:
        aggs.append(F.sum(dec(c)).alias(f"s_{c}"))
        aggs.append(F.sum(dec(c) * dec(c)).alias(f"ss_{c}_{c}"))
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            aggs.append(F.sum(dec(a) * dec(b)).alias(f"ss_{a}_{b}"))
    # one-pass guarantee: the K(K-1)/2 union arms below each reference this
    # single-row aggregate; without a barrier, each arm can re-run the whole
    # scan when exchange reuse doesn't kick in (same shape as quality.expect
    # — staging pins the aggregate to ONE execution)
    one = stage(df.agg(*aggs))
    pieces = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            n = F.col("n").cast("double")
            sa, sb = F.col(f"s_{a}").cast("double"), F.col(f"s_{b}").cast("double")
            sab = F.col(f"ss_{a}_{b}").cast("double")
            saa = F.col(f"ss_{a}_{a}").cast("double")
            sbb = F.col(f"ss_{b}_{b}").cast("double")
            va = n * saa - sa * sa
            vb = n * sbb - sb * sb
            corr = F.when(
                (va > 0) & (vb > 0),
                round_to((n * sab - sa * sb) / F.sqrt(va * vb), 6),
            )
            pieces.append(
                one.select(
                    F.lit(a).alias("col_a"),
                    F.lit(b).alias("col_b"),
                    corr.alias("corr"),
                    F.col("n").alias("n"),
                )
            )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out


def correlation_matrix_sql(table: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`correlation_matrix` — identical decimal
    accumulation and final double formula."""

    def dec(c: str) -> str:
        return f"CAST({c} AS DECIMAL(28,4))"

    sums = ["CAST(count(*) AS BIGINT) AS n"]
    for c in cols:
        sums.append(f"sum({dec(c)}) AS s_{c}")
        sums.append(f"sum({dec(c)} * {dec(c)}) AS ss_{c}_{c}")
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            sums.append(f"sum({dec(a)} * {dec(b)}) AS ss_{a}_{b}")
    arms = []
    for i, a in enumerate(cols):
        for b in cols[i + 1 :]:
            va = f"(n::DOUBLE * ss_{a}_{a}::DOUBLE - s_{a}::DOUBLE * s_{a}::DOUBLE)"
            vb = f"(n::DOUBLE * ss_{b}_{b}::DOUBLE - s_{b}::DOUBLE * s_{b}::DOUBLE)"
            num = f"(n::DOUBLE * ss_{a}_{b}::DOUBLE - s_{a}::DOUBLE * s_{b}::DOUBLE)"
            arms.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, "
                f"CASE WHEN {va} > 0 AND {vb} > 0 "
                f"THEN round({num} / sqrt({va} * {vb}), 6) END AS corr, "
                f"n FROM agg"
            )
    return (
        f"WITH agg AS MATERIALIZED (SELECT {', '.join(sums)} FROM {table})\n"
        + "\n    UNION ALL ".join(arms)
    )


def psi_drift(
    ref: "DataFrame",
    cur: "DataFrame",
    cols: list[str],
    num_bins: int = 10,
    eps: float = 1e-6,
) -> "DataFrame":
    """Population Stability Index between a reference and a current
    sample for each numeric feature — THE deployed-model drift check
    (credit-scoring practice; PSI > 0.2 is the conventional 'significant
    shift' alarm): ``PSI = Σ_bins (p - q) · ln(p / q)`` over shared
    equal-width bins (edges from the pooled min/max so both sides bin
    identically; NULLs get their own bin; empty-bin proportions floor at
    ``eps``).

    Returns one row per feature: ``(feature, psi, drifted, n_ref,
    n_cur)`` with psi rounded to 6 and ``drifted = psi > 0.2``.

    Exactness: bin counts are exact BIGINTs; each bin's contribution is
    one double expression converted to nano-units and summed as
    INTEGERS (the q93 fold convention — a float sum over bins would be
    fold-order-dependent across engines).

    Scale: both tables melt to (feature, value) ONCE — one union scan,
    one (feature, side, bin) hash-agg bounded by features x bins; the
    pooled min/max and side totals are tiny broadcast frames. Adding
    features adds no passes.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("cols must be non-empty")

    def melt(df: "DataFrame", side: str) -> "DataFrame":
        pieces = ", ".join(
            f"'{c}', CAST({c} AS DOUBLE)" for c in cols
        )
        return df.selectExpr(
            f"stack({len(cols)}, {pieces}) AS (feature, __v)"
        ).select(F.lit(side).alias("__side"), "feature", "__v")

    m = melt(ref, "ref").unionByName(melt(cur, "cur"))
    stats = m.groupBy("feature").agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    )
    width_ok = F.col("__hi") > F.col("__lo")
    binned = m.join(F.broadcast(stats), "feature").select(
        "__side",
        "feature",
        F.when(F.col("__v").isNull(), F.lit(-1))
        .when(~width_ok, F.lit(0))
        .otherwise(
            F.least(
                F.lit(num_bins - 1),
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo"))
                    * num_bins
                ).cast("int"),
            )
        )
        .alias("__bin"),
    )
    # features x bins rows; checkpointed because totals AND the psi join
    # both consume it — without the barrier each consumer re-melts and
    # re-bins both tables (8 scans measured; 4 after, the min/max pass
    # and the binning pass per side, which are inherently two passes)
    counts = stage(binned.groupBy("feature", "__bin").agg(
        F.sum(F.when(F.col("__side") == "ref", 1).otherwise(0))
        .cast("bigint")
        .alias("__cr"),
        F.sum(F.when(F.col("__side") == "cur", 1).otherwise(0))
        .cast("bigint")
        .alias("__cc"),
    ))
    totals = counts.groupBy("feature").agg(
        F.sum("__cr").alias("__nr"), F.sum("__cc").alias("__nc")
    )
    j = counts.join(F.broadcast(totals), "feature")
    p = F.greatest(F.col("__cr") / F.col("__nr"), F.lit(eps))
    q = F.greatest(F.col("__cc") / F.col("__nc"), F.lit(eps))
    contrib = (p - q) * F.log(p / q)
    nano = to_fixed(contrib, 9)
    out = (
        j.select("feature", "__nr", "__nc", nano.alias("__nano"))
        .groupBy("feature")
        .agg(
            round_to(from_fixed(F.sum("__nano"), 9), 6).alias("psi"),
            F.max("__nr").alias("n_ref"),
            F.max("__nc").alias("n_cur"),
        )
    )
    return out.select(
        "feature",
        "psi",
        (F.col("psi") > 0.2).alias("drifted"),
        "n_ref",
        "n_cur",
    )


def psi_drift_sql(
    ref_subquery: str,
    cur_subquery: str,
    cols: list[str],
    num_bins: int = 10,
    eps: float = 1e-6,
) -> str:
    """DuckDB twin of :func:`psi_drift` — identical binning, epsilon
    floors, ln shape and nano-unit integer fold."""

    def melt(sub: str, side: str) -> str:
        arms = " UNION ALL ".join(
            f"SELECT '{side}' AS __side, '{c}' AS feature,"
            f" CAST({c} AS DOUBLE) AS __v FROM ({sub})"
            for c in cols
        )
        return arms

    return f"""
    WITH m AS MATERIALIZED (
        {melt(ref_subquery, "ref")}
        UNION ALL {melt(cur_subquery, "cur")}
    ), stats AS (
        SELECT feature, min(__v) AS __lo, max(__v) AS __hi
        FROM m GROUP BY 1
    ), binned AS (
        SELECT m.__side, m.feature,
               CASE WHEN m.__v IS NULL THEN -1
                    WHEN NOT (s.__hi > s.__lo) THEN 0
                    ELSE CAST(least({num_bins - 1},
                         floor((m.__v - s.__lo) / (s.__hi - s.__lo)
                               * {num_bins})) AS INT)
               END AS __bin
        FROM m JOIN stats s ON s.feature = m.feature
    ), counts AS (
        SELECT feature, __bin,
               CAST(sum(CASE WHEN __side = 'ref' THEN 1 ELSE 0 END)
                    AS BIGINT) AS __cr,
               CAST(sum(CASE WHEN __side = 'cur' THEN 1 ELSE 0 END)
                    AS BIGINT) AS __cc
        FROM binned GROUP BY 1, 2
    ), totals AS (
        SELECT feature, CAST(sum(__cr) AS BIGINT) AS __nr,
               CAST(sum(__cc) AS BIGINT) AS __nc
        FROM counts GROUP BY 1
    ), contrib AS (
        SELECT c.feature, t.__nr, t.__nc,
               CAST(round(
                   (greatest(c.__cr / t.__nr, {eps})
                    - greatest(c.__cc / t.__nc, {eps}))
                   * ln(greatest(c.__cr / t.__nr, {eps})
                        / greatest(c.__cc / t.__nc, {eps}))
                   * 1e9, 0) AS BIGINT) AS __nano
        FROM counts c JOIN totals t ON t.feature = c.feature
    )
    SELECT feature,
           round(sum(__nano) / 1e9, 6) AS psi,
           round(sum(__nano) / 1e9, 6) > 0.2 AS drifted,
           max(__nr) AS n_ref,
           max(__nc) AS n_cur
    FROM contrib GROUP BY feature
    """


def contingency_chi2(df: "DataFrame", col_a: str, col_b: str) -> "DataFrame":
    """Chi-square test of independence for two categorical columns (the
    R x C generalization of q134's 2x2 feature score) plus Cramér's V —
    the 'are these columns related' EDA question as ONE pass over the
    table.

    Rows with a NULL in either column are excluded (no category).
    Returns ONE row ``(chi2, dof, n, cramers_v)``; chi2/V rounded to 6.

    Exactness: observed counts are exact BIGINTs; expected counts are
    ``(row_total * col_total) / n`` — one BIGINT product per cell, one
    double division; per-cell contributions fold as nano-unit INTEGERS
    (the PSI convention) so the cell-sum is fold-order-free.

    Scale: one (a, b) hash agg; marginals reduce FROM the cell frame
    (not the table); the dense cell grid is |A| x |B| — categorical
    domains, broadcast-sized by definition; absent cells join in as
    zero observed (they still contribute e to chi2).
    """
    from pyspark.sql import functions as F

    cells = stage(
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
        .agg(F.count(F.lit(1)).alias("__o"))
    )
    ra = cells.groupBy("__a").agg(F.sum("__o").alias("__ra"))
    cb = cells.groupBy("__b").agg(F.sum("__o").alias("__cb"))
    nn = cells.agg(
        F.sum("__o").alias("__n"),
        F.countDistinct("__a").alias("__r"),
        F.countDistinct("__b").alias("__c"),
    )
    grid = ra.crossJoin(cb).join(cells, ["__a", "__b"], "left").select(
        "__a",
        "__b",
        "__ra",
        "__cb",
        F.coalesce(F.col("__o"), F.lit(0)).alias("__o"),
    )
    e = (F.col("__ra") * F.col("__cb")).cast("double") / F.col("__n")
    o = F.col("__o").cast("double")
    contrib = (o - e) * (o - e) / e
    nano = to_fixed(contrib, 9)
    total = (
        grid.crossJoin(F.broadcast(nn))
        .select(nano.alias("__nano"), "__n", "__r", "__c")
        .groupBy("__n", "__r", "__c")
        .agg(F.sum("__nano").alias("__s"))
    )
    chi2 = from_fixed(F.col("__s"), 9)
    dof = ((F.col("__r") - 1) * (F.col("__c") - 1)).cast("bigint")
    denom = F.col("__n").cast("double") * F.least(
        F.col("__r") - 1, F.col("__c") - 1
    ).cast("double")
    v = F.when(denom > 0, F.sqrt(chi2 / denom))
    return total.select(
        round_to(chi2, 6).alias("chi2"),
        dof.alias("dof"),
        F.col("__n").cast("bigint").alias("n"),
        round_to(v, 6).alias("cramers_v"),
    )


def contingency_chi2_sql(table_expr: str, col_a: str, col_b: str) -> str:
    """DuckDB twin of :func:`contingency_chi2` — identical cells, dense
    grid, double shapes and nano fold."""
    return f"""
    WITH cells AS MATERIALIZED (
        SELECT {col_a} AS __a, {col_b} AS __b,
               CAST(count(*) AS BIGINT) AS __o
        FROM ({table_expr})
        WHERE {col_a} IS NOT NULL AND {col_b} IS NOT NULL
        GROUP BY 1, 2
    ), ra AS (
        SELECT __a, CAST(sum(__o) AS BIGINT) AS __ra FROM cells GROUP BY 1
    ), cb AS (
        SELECT __b, CAST(sum(__o) AS BIGINT) AS __cb FROM cells GROUP BY 1
    ), nn AS (
        SELECT CAST(sum(__o) AS BIGINT) AS __n,
               CAST(count(DISTINCT __a) AS BIGINT) AS __r,
               CAST(count(DISTINCT __b) AS BIGINT) AS __c
        FROM cells
    ), grid AS (
        SELECT ra.__a, cb.__b, ra.__ra, cb.__cb,
               COALESCE(cells.__o, 0) AS __o
        FROM ra CROSS JOIN cb
        LEFT JOIN cells ON cells.__a = ra.__a AND cells.__b = cb.__b
    ), folded AS (
        SELECT CAST(sum(CAST(round(
                   (CAST(__o AS DOUBLE)
                    - CAST(__ra * __cb AS DOUBLE) / (SELECT __n FROM nn))
                   * (CAST(__o AS DOUBLE)
                      - CAST(__ra * __cb AS DOUBLE) / (SELECT __n FROM nn))
                   / (CAST(__ra * __cb AS DOUBLE) / (SELECT __n FROM nn))
                   * 1e9, 0) AS BIGINT)) AS BIGINT) AS __s
        FROM grid
    )
    SELECT round(__s / 1e9, 6) AS chi2,
           CAST((nn.__r - 1) * (nn.__c - 1) AS BIGINT) AS dof,
           nn.__n AS n,
           round(CASE WHEN CAST(nn.__n AS DOUBLE)
                           * CAST(least(nn.__r - 1, nn.__c - 1) AS DOUBLE) > 0
                      THEN sqrt((__s / 1e9)
                           / (CAST(nn.__n AS DOUBLE)
                              * CAST(least(nn.__r - 1, nn.__c - 1)
                                     AS DOUBLE)))
                 END, 6) AS cramers_v
    FROM folded CROSS JOIN nn
    """


def gini_sketch(
    df: "DataFrame",
    value_col: str,
    num_bins: int = 1024,
) -> "DataFrame":
    """Gini coefficient of a non-negative value distribution from an
    equal-width histogram sketch — revenue/token/activity concentration
    ('what share of mass sits in the top tail'), the inequality metric
    next to PSI's drift. Exact Gini needs a GLOBAL sort (rank window —
    the single-partition funnel); the sketch path is one (bin) hash-agg
    plus a B-row window, any table size. Accuracy vs the exact
    rank-formula Gini is pinned in tests (<1% at B=1024 here).

    Method: LOG-spaced bins (bin width is a constant ratio
    ``(hi/lo_pos)^(1/B)``, so within-bin inequality — which the
    boundary trapezoid ignores and which equal-width bins get badly
    wrong on heavy tails (10% low on Pareto-1.5 measured) — is bounded
    by that tiny ratio; zeros get their own exactly-representable flat
    Lorenz step), per-bin counts and DECIMAL-exact value sums, Lorenz at
    bin boundaries from two running sums, Gini = 1 - Σ Δpop·(L_i-1+L_i)
    (trapezoid) folded as nano-unit integers.

    Returns ONE row ``(gini, n, total, bins_used)`` — gini rounded 6,
    total rounded 4. NULLs are excluded. Caller contract: values must be
    non-negative (the Lorenz curve is undefined below zero; feed
    per-entity totals, not signed deltas).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    v = F.col(value_col)
    base = df.where(v.isNotNull()).select(
        v.cast("double").alias("__v"),
        round_to(v, 4).cast("decimal(28,4)").alias("__vd"),
    )
    rng = base.agg(
        F.min(F.when(F.col("__v") > 0, F.col("__v"))).alias("__lo"),
        F.max("__v").alias("__hi"),
        F.count(F.lit(1)).alias("__n"),
        F.sum("__vd").alias("__tot"),
    )
    binned = base.crossJoin(F.broadcast(rng)).select(
        F.when(F.col("__v") <= 0, F.lit(-1))
        .when(
            F.col("__hi") > F.col("__lo"),
            F.least(
                F.lit(num_bins - 1),
                F.floor(
                    F.log(F.col("__v") / F.col("__lo"))
                    / F.log(F.col("__hi") / F.col("__lo"))
                    * num_bins
                ).cast("int"),
            ),
        )
        .otherwise(F.lit(0))
        .alias("__bin"),
        "__vd",
    )
    cells = binned.groupBy("__bin").agg(
        F.count(F.lit(1)).alias("__c"), F.sum("__vd").alias("__s")
    )
    w = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wprev = Window.orderBy("__bin").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = cells.crossJoin(F.broadcast(rng)).select(
        "__bin",
        "__c",
        (F.sum("__c").over(w) / F.col("__n")).alias("__p1"),
        (F.coalesce(F.sum("__c").over(wprev), F.lit(0)) / F.col("__n")).alias(
            "__p0"
        ),
        (
            F.sum("__s").over(w).cast("double")
            / F.col("__tot").cast("double")
        ).alias("__l1"),
        (
            F.coalesce(
                F.sum("__s").over(wprev), F.lit(0).cast("decimal(38,4)")
            ).cast("double")
            / F.col("__tot").cast("double")
        ).alias("__l0"),
        F.col("__n"),
        F.col("__tot"),
    )
    term = (F.col("__p1") - F.col("__p0")) * (F.col("__l0") + F.col("__l1"))
    nano = to_fixed(term, 9)
    out = cum.select(
        nano.alias("__nano"), "__n", "__tot"
    ).groupBy("__n", "__tot").agg(
        F.sum("__nano").alias("__s"),
        F.count(F.lit(1)).alias("bins_used"),
    )
    return out.select(
        round_to(1.0 - from_fixed(F.col("__s"), 9), 6).alias("gini"),
        F.col("__n").cast("bigint").alias("n"),
        round_to(F.col("__tot").cast("double"), 4).alias("total"),
        F.col("bins_used").cast("bigint").alias("bins_used"),
    )


def gini_sketch_sql(
    table_expr: str, value_col: str, num_bins: int = 1024
) -> str:
    """DuckDB twin of :func:`gini_sketch` — identical binning, decimal
    sums, trapezoid and nano fold."""
    return f"""
    WITH base AS MATERIALIZED (
        SELECT CAST({value_col} AS DOUBLE) AS __v,
               CAST(round({value_col}, 4) AS DECIMAL(28,4)) AS __vd
        FROM ({table_expr}) WHERE {value_col} IS NOT NULL
    ), rng AS (
        SELECT min(CASE WHEN __v > 0 THEN __v END) AS __lo,
               max(__v) AS __hi,
               CAST(count(*) AS BIGINT) AS __n,
               sum(__vd) AS __tot
        FROM base
    ), cells AS MATERIALIZED (
        SELECT CASE WHEN b.__v <= 0 THEN -1
                    WHEN r.__hi > r.__lo
                    THEN CAST(least({num_bins - 1},
                         floor(ln(b.__v / r.__lo) / ln(r.__hi / r.__lo)
                               * {num_bins})) AS INT)
                    ELSE 0 END AS __bin,
               CAST(count(*) AS BIGINT) AS __c,
               sum(b.__vd) AS __s
        FROM base b CROSS JOIN rng r
        GROUP BY 1
    ), cum AS (
        SELECT __bin, __c,
               sum(__c) OVER w / (SELECT __n FROM rng) AS __p1,
               COALESCE(sum(__c) OVER wp, 0) / (SELECT __n FROM rng) AS __p0,
               CAST(sum(__s) OVER w AS DOUBLE)
                   / CAST((SELECT __tot FROM rng) AS DOUBLE) AS __l1,
               CAST(COALESCE(sum(__s) OVER wp, 0) AS DOUBLE)
                   / CAST((SELECT __tot FROM rng) AS DOUBLE) AS __l0
        FROM cells
        WINDOW w AS (ORDER BY __bin
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wp AS (ORDER BY __bin
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), folded AS (
        SELECT CAST(sum(CAST(round(
                   (__p1 - __p0) * (__l0 + __l1) * 1e9, 0) AS BIGINT))
               AS BIGINT) AS __s,
               CAST(count(*) AS BIGINT) AS bins_used
        FROM cum
    )
    SELECT round(1.0 - __s / 1e9, 6) AS gini,
           (SELECT __n FROM rng) AS n,
           round(CAST((SELECT __tot FROM rng) AS DOUBLE), 4) AS total,
           bins_used
    FROM folded
    """


def benford_test(df: "DataFrame", value_col: str) -> "DataFrame":
    """Benford's-law first-significant-digit census (Benford 1938;
    Nigrini's fraud-screening practice): observed share of leading
    digits 1-9 of positive values vs the law ``log10(1 + 1/d)``, with a
    per-digit chi-square contribution and the total statistic — the
    forensic-analytics screen over any monetary column.

    Returns 9 rows ``(digit, n, observed, expected, chi2_part)`` plus
    the total via ``chi2_total`` repeated per row (so a single frame
    carries both granularities); shares rounded 6, chi2 parts 4.

    Exactness: the leading digit is ``floor(v / 10^floor(log10(v)))``
    — log10/floor of identical doubles, deterministic in both engines;
    counts are exact BIGINTs; expected shares are double literals of the
    same expression shape; the chi2 total folds per-digit parts as
    nano-unit integers.

    Scale: one scan, one 9-cell hash agg. Non-positive and NULL values
    are excluded (Benford is defined on positive magnitudes).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    v = F.col(value_col).cast("double")
    pos = df.where(v.isNotNull() & (v > 0)).select(v.alias("__v"))
    digit = F.floor(
        F.col("__v") / F.pow(F.lit(10.0), F.floor(F.log10("__v")))
    ).cast("int")
    counts = pos.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).alias("__c")
    )
    spark = df.sparkSession
    digits = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    dense = digits.join(counts, "digit", "left").select(
        "digit", F.coalesce(F.col("__c"), F.lit(0)).alias("__c")
    )
    tot = dense.agg(F.sum("__c").alias("__n"))
    j = dense.crossJoin(F.broadcast(tot))
    # F.log10, not F.log(10, x): the latter computes ln(x)/ln(10) which
    # can differ from DuckDB's dedicated log10 in the last ulp
    expected = F.log10(1 + 1 / F.col("digit").cast("double"))
    observed = F.col("__c") / F.col("__n")
    part = (
        (observed - expected) * (observed - expected) / expected
    ) * F.col("__n")
    staged = j.select(
        "digit",
        F.col("__c").cast("bigint").alias("n"),
        round_to(observed, 6).alias("observed"),
        round_to(expected, 6).alias("expected"),
        round_to(part, 4).alias("chi2_part"),
        to_fixed(part, 9).alias("__nano"),
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return staged.select(
        "digit",
        "n",
        "observed",
        "expected",
        "chi2_part",
        round_to(from_fixed(F.sum("__nano").over(w), 9), 4).alias(
            "chi2_total"
        ),
    ).orderBy("digit")


def benford_test_sql(table_expr: str, value_col: str) -> str:
    """DuckDB twin of :func:`benford_test` — identical digit extraction,
    dense digit frame, expression shapes and nano fold."""
    return f"""
    WITH pos AS MATERIALIZED (
        SELECT CAST({value_col} AS DOUBLE) AS __v
        FROM ({table_expr})
        WHERE {value_col} IS NOT NULL AND CAST({value_col} AS DOUBLE) > 0
    ), counts AS (
        SELECT CAST(floor(__v / pow(10.0, floor(log10(__v)))) AS INT)
                   AS digit,
               CAST(count(*) AS BIGINT) AS __c
        FROM pos GROUP BY 1
    ), dense AS (
        SELECT CAST(g.d AS INT) AS digit, COALESCE(counts.__c, 0) AS __c
        FROM generate_series(1, 9) AS g(d)
        LEFT JOIN counts ON counts.digit = g.d
    ), tot AS (
        SELECT CAST(sum(__c) AS BIGINT) AS __n FROM dense
    ), staged AS (
        SELECT digit, CAST(__c AS BIGINT) AS n,
               round(__c / __n, 6) AS observed,
               round(log10(1 + 1 / CAST(digit AS DOUBLE)), 6) AS expected,
               round((__c / __n - log10(1 + 1 / CAST(digit AS DOUBLE)))
                     * (__c / __n - log10(1 + 1 / CAST(digit AS DOUBLE)))
                     / log10(1 + 1 / CAST(digit AS DOUBLE)) * __n, 4)
                   AS chi2_part,
               CAST(round((__c / __n - log10(1 + 1 / CAST(digit AS DOUBLE)))
                     * (__c / __n - log10(1 + 1 / CAST(digit AS DOUBLE)))
                     / log10(1 + 1 / CAST(digit AS DOUBLE)) * __n * 1e9, 0)
                    AS BIGINT) AS __nano
        FROM dense CROSS JOIN tot
    )
    SELECT digit, n, observed, expected, chi2_part,
           round(sum(__nano) OVER () / 1e9, 4) AS chi2_total
    FROM staged ORDER BY digit
    """


def entropy_profile(df: "DataFrame", cols: list[str]) -> "DataFrame":
    """Shannon entropy census of categorical columns — the
    information-theoretic EDA row next to the profiler's cardinality
    classes: low normalized entropy flags near-constant or heavily
    skewed columns (candidates for the trivial/constant gates) even
    when nunique is high.

    Returns one row per column: ``(feature, n, n_distinct,
    entropy_nats, norm_entropy)`` — entropy of the value distribution
    (NULL is a category), ``norm_entropy = H / ln(n_distinct)`` in
    [0, 1] (NULL when a column is constant); both rounded 6.

    Exactness: value counts are exact BIGINTs from ONE melted hash-agg
    (adding columns adds no passes — the PSI melt); per-value
    ``-p·ln p`` terms fold as nano-unit integers.
    """
    from pyspark.sql import functions as F

    if not cols:
        raise ValueError("cols must be non-empty")
    pieces = ", ".join(
        f"'{c}', CAST({c} AS STRING)" for c in cols
    )
    m = df.selectExpr(
        f"stack({len(cols)}, {pieces}) AS (feature, __v)"
    )
    counts = m.groupBy("feature", "__v").agg(
        F.count(F.lit(1)).alias("__c")
    )
    tot = counts.groupBy("feature").agg(
        F.sum("__c").alias("__n"),
        F.count(F.lit(1)).alias("n_distinct"),
    )
    j = counts.join(F.broadcast(tot), "feature")
    p = F.col("__c").cast("double") / F.col("__n")
    nano = to_fixed(-p * F.log(p), 9)
    ent = (
        j.select("feature", nano.alias("__nano"), "__n", "n_distinct")
        .groupBy("feature", "__n", "n_distinct")
        .agg(F.sum("__nano").alias("__s"))
    )
    h = from_fixed(F.col("__s"), 9)
    return ent.select(
        "feature",
        F.col("__n").cast("bigint").alias("n"),
        F.col("n_distinct").cast("bigint").alias("n_distinct"),
        round_to(h, 6).alias("entropy_nats"),
        round_to(
            F.when(
                F.col("n_distinct") > 1,
                h / F.log(F.col("n_distinct").cast("double")),
            ),
            6,
        ).alias("norm_entropy"),
    )


def entropy_profile_sql(table_expr: str, cols: list[str]) -> str:
    """DuckDB twin of :func:`entropy_profile` — identical melt, counts,
    expression shapes and nano fold."""
    arms = " UNION ALL ".join(
        f"SELECT '{c}' AS feature, CAST({c} AS VARCHAR) AS __v"
        f" FROM ({table_expr})"
        for c in cols
    )
    return f"""
    WITH m AS MATERIALIZED (
        {arms}
    ), counts AS (
        SELECT feature, __v, CAST(count(*) AS BIGINT) AS __c
        FROM m GROUP BY 1, 2
    ), tot AS (
        SELECT feature, CAST(sum(__c) AS BIGINT) AS __n,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM counts GROUP BY 1
    ), folded AS (
        SELECT c.feature, t.__n, t.n_distinct,
               CAST(sum(CAST(round(
                   -(CAST(c.__c AS DOUBLE) / t.__n)
                   * ln(CAST(c.__c AS DOUBLE) / t.__n) * 1e9, 0)
                   AS BIGINT)) AS BIGINT) AS __s
        FROM counts c JOIN tot t ON t.feature = c.feature
        GROUP BY 1, 2, 3
    )
    SELECT feature, __n AS n, n_distinct,
           round(__s / 1e9, 6) AS entropy_nats,
           round(CASE WHEN n_distinct > 1
                      THEN (__s / 1e9)
                           / ln(CAST(n_distinct AS DOUBLE)) END, 6)
               AS norm_entropy
    FROM folded
    """


def hill_tail_index(df: "DataFrame", value_col: str, k: int = 100) -> "DataFrame":
    """Hill estimator of the power-law tail index (Hill 1975): over the
    top ``k`` order statistics, ``alpha = k / sum(ln(x_i / x_(k+1)))`` —
    the tail-heaviness diagnostic beside the Zipf token fit
    (functions/text.zipf_fit): alpha < 2 means infinite variance (plan
    for extreme skew), large alpha means a light tail.

    Returns one row: ``(k, x_threshold, alpha, se)`` where
    ``x_threshold`` is the (k+1)-th largest value and ``se`` the
    asymptotic standard error ``alpha / sqrt(k)``.

    Exactness: the top-(k+1) multiset is order-statistic-determined
    (ties at the boundary contribute equal values either way); each
    ``ln(x_i) - ln(x_thr)`` term is nano-unit-rounded to an integer
    before summing, so the fold is order-free; the final divisions are
    single IEEE ops on identical integers.

    Small-sample guard: when the table has only ``m < k + 1`` positive
    values, the numerator is the EFFECTIVE order-statistic count
    ``m - 1`` (the threshold is then the sample minimum and all other
    rows are tail terms) — not the literal ``k``, which would overstate
    alpha. With ``m >= k + 1`` the two coincide, and boundary ties
    still contribute zero terms while keeping the numerator at ``k``
    (the numerator counts fetched rows, not surviving terms). A column
    with < 2 positive values yields NULL alpha/se.

    Scale: TakeOrderedAndProject (per-partition top-(k+1) merged at the
    driver — no global sort), then one k-row aggregation. ``k`` is the
    caller's bias/variance knob; non-positive values are excluded
    (ln undefined).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if k < 2:
        raise ValueError("hill_tail_index: k must be >= 2")
    v = F.col(value_col).cast("double")
    top = (
        df.where(v.isNotNull() & (v > 0))
        .select(v.alias("__x"))
        .orderBy(F.desc("__x"))
        .limit(k + 1)
    )
    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = top.select(
        "__x",
        F.min("__x").over(w).alias("__thr"),
        # fetched-row count m: numerator = m - 1 (= k when n >= k + 1)
        F.count(F.lit(1)).over(w).alias("__m"),
    ).where(F.col("__x") > F.col("__thr"))
    # NOTE: rows equal to the threshold drop out (ln ratio 0 anyway),
    # so ties at the boundary contribute nothing — identical in both
    # engines regardless of which tied rows the top-(k+1) kept
    keff = (F.max("__m") - F.lit(1)).cast("double")
    return ranked.select(
        to_fixed(F.log("__x") - F.log("__thr"), 9).alias("__t"),
        "__thr",
        "__m",
    ).agg(
        F.lit(k).cast("int").alias("k"),
        round_to(F.min("__thr"), 6).alias("x_threshold"),
        round_to(
            keff / from_fixed(F.sum("__t"), 9),
            6,
        ).alias("alpha"),
        round_to(
            keff / from_fixed(F.sum("__t"), 9) / F.sqrt(keff),
            6,
        ).alias("se"),
    )


def hill_tail_index_sql(table_expr: str, value_col: str, k: int = 100) -> str:
    """DuckDB twin of :func:`hill_tail_index` — identical top-(k+1)
    selection, threshold exclusion, nano fold, and division shapes."""
    return f"""
    WITH top AS (
        SELECT CAST({value_col} AS DOUBLE) AS __x
        FROM ({table_expr})
        WHERE {value_col} IS NOT NULL AND CAST({value_col} AS DOUBLE) > 0
        ORDER BY __x DESC LIMIT {k + 1}
    ), thr AS (
        SELECT __x, min(__x) OVER () AS __thr,
               count(*) OVER () AS __m
        FROM top
    ), terms AS (
        SELECT CAST(round((ln(__x) - ln(__thr)) * 1e9, 0) AS BIGINT)
                   AS __t,
               __thr, __m
        FROM thr WHERE __x > __thr
    )
    SELECT CAST({k} AS INT) AS k,
           round(min(__thr), 6) AS x_threshold,
           round(CAST(max(__m) - 1 AS DOUBLE)
                 / (CAST(sum(__t) AS BIGINT) / 1e9), 6) AS alpha,
           round(CAST(max(__m) - 1 AS DOUBLE)
                 / (CAST(sum(__t) AS BIGINT) / 1e9)
                 / sqrt(CAST(max(__m) - 1 AS DOUBLE)), 6) AS se
    FROM terms
    """


def ks_two_sample(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
    num_buckets: int = 1024,
    alpha: float = 0.05,
) -> "DataFrame":
    """Two-sample Kolmogorov-Smirnov test — the distribution-level
    drift check beside :func:`psi_drift` (which bins; KS is the
    exact-ECDF sup statistic and carries a p-value):
    ``D = sup_x |F_a(x) - F_b(x)|`` evaluated at every distinct sample
    value, with the asymptotic Kolmogorov p-value
    ``p = 2 * sum_j (-1)^(j-1) exp(-2 j^2 lambda^2)`` at
    ``lambda = (sqrt(ne) + 0.12 + 0.11/sqrt(ne)) * D``,
    ``ne = na*nb/(na+nb)`` (Kolmogorov 1933; Stephens 1970 small-sample
    correction), series truncated at j=100 (terms vanish far earlier).

    Returns one row: ``(n_a, n_b, d_stat, p_value, reject)`` with
    ``reject = p_value < alpha``.

    Exactness: cumulative counts are exact BIGINTs; ECDF values divide
    identical integers (deterministic IEEE doubles in both engines);
    the p-value series folds nano-unit integer terms (order-free).

    Scale: NO global sort or single-partition window over data-sized
    frames — the q157 range-bucket prefix decomposition: per-(bucket,
    distinct-value) counts, bucket totals prefix-summed over the
    BOUNDED ``num_buckets`` grid (broadcast), within-bucket cumulative
    windows partitioned by bucket. Max task = densest bucket, not the
    full value range. The DuckDB twin is the PLAIN global cumulative
    window — an independent formulation that must produce the same
    integers (the q157 oracle convention).
    """
    from pyspark.sql import Window

    B = num_buckets
    a = (
        df_a.select(F.col(value_col).cast("double").alias("__v"))
        .where(F.col("__v").isNotNull())
        .select("__v", F.lit(1).alias("__a"), F.lit(0).alias("__b"))
    )
    b = (
        df_b.select(F.col(value_col).cast("double").alias("__v"))
        .where(F.col("__v").isNotNull())
        .select("__v", F.lit(0).alias("__a"), F.lit(1).alias("__b"))
    )
    m = a.unionByName(b)
    # one row; feeds the binning pass, the cumulative join AND the
    # final D fold — checkpoint so its scan runs once
    stats = stage(m.agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.sum("__a").cast("bigint").alias("__na"),
        F.sum("__b").cast("bigint").alias("__nb"),
    ))
    width_ok = F.col("__hi") > F.col("__lo")
    binned = m.crossJoin(F.broadcast(stats)).select(
        "__v",
        "__a",
        "__b",
        F.when(~width_ok, F.lit(0))
        .otherwise(
            F.least(
                F.lit(B - 1),
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo"))
                    * B
                ).cast("int"),
            )
        )
        .alias("__bk"),
    )
    # value-level bounded (the decomposition's own working set); feeds
    # the bucket offsets AND the in-bucket cumulative — checkpoint so
    # the raw union + binning runs once, not twice
    counts = stage(binned.groupBy("__bk", "__v").agg(
        F.sum("__a").cast("bigint").alias("__ca"),
        F.sum("__b").cast("bigint").alias("__cb"),
    ))
    # bucket-level exclusive prefix over the bounded grid (<= B rows)
    wb = (
        Window.orderBy("__bk")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    btot = (
        counts.groupBy("__bk")
        .agg(
            F.sum("__ca").alias("__ba"), F.sum("__cb").alias("__bb")
        )
        .select(
            "__bk",
            F.coalesce(F.sum("__ba").over(wb), F.lit(0))
            .cast("bigint")
            .alias("__offa"),
            F.coalesce(F.sum("__bb").over(wb), F.lit(0))
            .cast("bigint")
            .alias("__offb"),
        )
    )
    wv = (
        Window.partitionBy("__bk")
        .orderBy("__v")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        counts.join(F.broadcast(btot), "__bk")
        .select(
            (F.col("__offa") + F.sum("__ca").over(wv)).alias("__cca"),
            (F.col("__offb") + F.sum("__cb").over(wv)).alias("__ccb"),
        )
    )
    d = cum.crossJoin(F.broadcast(stats)).agg(
        F.max(
            F.abs(
                F.col("__cca").cast("double") / F.col("__na")
                - F.col("__ccb").cast("double") / F.col("__nb")
            )
        ).alias("__d"),
        F.max("__na").alias("n_a"),
        F.max("__nb").alias("n_b"),
    )
    ne = (
        F.col("n_a").cast("double")
        * F.col("n_b")
        / (F.col("n_a") + F.col("n_b"))
    )
    lam = (F.sqrt(ne) + F.lit(0.12) + F.lit(0.11) / F.sqrt(ne)) * F.col(
        "__d"
    )
    # nano-unit integer fold of the alternating Kolmogorov series
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0).cast("bigint"),
        lambda acc, j: acc
        + to_fixed(
            F.when(j % 2 == 1, F.lit(1.0))
            .otherwise(F.lit(-1.0))
            * F.exp(F.lit(-2.0) * (j * lam) * (j * lam)),
            9,
        ),
    )
    # the truncated alternating series only converges for lambda away
    # from 0 (at lambda=0 the 100 even-count +/-1 terms cancel to 0,
    # not the correct 1/2); Q(0.2) = 0.9999+ so clamping the region to
    # p=1 is both numerically necessary and statistically right. The
    # threshold compares identical IEEE doubles in both engines.
    p = F.when(lam < F.lit(0.2), F.lit(1.0)).otherwise(
        F.least(
            F.lit(1.0),
            F.greatest(F.lit(0.0), F.lit(2.0) * series / F.lit(1e9)),
        )
    )
    return d.select(
        "n_a",
        "n_b",
        round_to(F.col("__d"), 6).alias(
            "d_stat"
        ),
        round_to(p, 6).alias("p_value"),
        (p < F.lit(alpha)).alias("reject"),
    )


# Per-level terms and finishers of the pooled-level drift statistics.
# Each term reads a row of operators._prefix.pooled_levels(...)
# .with_totals(), is one double expression over exact integers, and is
# rounded once into a DECIMAL(38) order-free fold; the standalone
# functions below and drift_by_group share them.


def _n_ab() -> tuple[Column, Column]:
    return F.col("n_a").cast("double"), F.col("n_b").cast("double")


def _counts() -> tuple[Column, Column]:
    """``n_a``/``n_b`` of a one-row result, 0 for an empty input."""
    return (
        F.coalesce(F.col("n_a"), F.lit(0).cast("bigint")).alias("n_a"),
        F.coalesce(F.col("n_b"), F.lit(0).cast("bigint")).alias("n_b"),
    )


def _level_step() -> Column:
    """Width ``next(l) - l`` of the stretch on which the ECDFs are
    constant (NULL at each group's largest level)."""
    return (F.col("__next") - F.col("__y")).cast("double")


def _cvm_term() -> Column:
    """Cramér-von Mises: ``(c_a + c_b) * d^2`` in pico-units."""
    d = ecdf_gap()
    return to_fixed(
        (F.col("__c1") + F.col("__c2")).cast("double") * d * d,
        12,
        wide=True,
    )


def _cvm_stat(fold: str) -> Column:
    na, nb = _n_ab()
    return (
        na * nb / ((na + nb) * (na + nb))
        * F.col(fold).cast("double") / F.lit(1e12)
    )


def _ad_terms() -> tuple[Column, Column]:
    """Anderson-Darling: the per-level term in pico-units and a 0/1 flag
    for a positive denominator. Mid-rank cumulatives are carried
    doubled, so they stay exact integers; the denominator is 0 only
    when the pooled frame is one level (t = N), where the term is 0 so
    the fold stays finite under ANSI."""
    na, nb = _n_ab()
    nn = na + nb
    t = (F.col("__c1") + F.col("__c2")).cast("double")
    d2 = (
        F.lit(2.0)
        * (
            F.col("__below___c1")
            + F.col("__below___c2")
            + F.col("__c1")
            + F.col("__c2")
        ).cast("double")
        - t
    )
    q = F.when(
        both_sides(),
        nn
        * (
            F.lit(2.0)
            * (F.col("__below___c1") + F.col("__c1")).cast("double")
            - F.col("__c1").cast("double")
        )
        - na * d2,
    ).otherwise(F.lit(0.0))
    den = d2 * (F.lit(2.0) * nn - d2) - nn * t
    term = to_fixed(
        F.when(den > 0, t / nn * q * q / den).otherwise(F.lit(0.0)),
        12,
        wide=True,
    )
    return term, F.when(den > 0, F.lit(1)).otherwise(F.lit(0))


def _ad_stat(fold: str) -> Column:
    na, nb = _n_ab()
    return (
        (na + nb - F.lit(1.0)) / (na * nb)
        * F.col(fold).cast("double") / F.lit(1e12)
    )


def _kuiper_folds() -> tuple[Column, Column]:
    """Kuiper ``D+``/``D-``: the largest gap above and below, at least 0
    (the sup also runs over the region outside the support)."""
    d = ecdf_gap()
    return (
        F.greatest(F.max(d), F.lit(0.0)).alias("__dp"),
        F.greatest(F.max(-d), F.lit(0.0)).alias("__dm"),
    )


def _w1_term() -> Column:
    """Wasserstein-1: ``|d| * step`` in micro-cents."""
    return to_fixed(F.abs(ecdf_gap()) * _level_step(), 6, wide=True)


def _energy_term() -> Column:
    """Energy distance: ``2 * d^2 * step`` in micro-cents."""
    d = ecdf_gap()
    return to_fixed(F.lit(2.0) * d * d * _level_step(), 6, wide=True)


def _fold_value(fold: str) -> Column:
    """A micro-cent fold in value units; 0 when no level has a
    successor (a single distinct level)."""
    return from_fixed(F.coalesce(F.col(fold), F.lit(0.0)), 8)


def _pooled_fold(
    df_a: "DataFrame", df_b: "DataFrame", value_col: str, *folds
) -> "DataFrame":
    """One ungrouped aggregation over the pooled level frame: ``n_a``,
    ``n_b`` and ``folds``."""
    return (
        pooled_levels(df_a, df_b, value_col)
        .with_totals()
        .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"), *folds)
    )


def _step_integral(
    p: PooledLevels, term: Column, fold: str
) -> "DataFrame":
    """Sum ``term`` over the levels that have a successor, as ``fold``,
    per group, next to the group's totals. The totals come from their
    own frame, not off the levels with a successor: a group with one
    distinct level has none, yet its counts are real and its integral
    is a legitimate 0."""
    f = (
        p.with_totals()
        .where(F.col("__next").isNotNull())
        .groupBy(*(["__g"] if p.grouped else []))
        .agg(F.sum(term).alias(fold))
    )
    if p.grouped:
        return p.totals.join(f, "__g", "left")
    return f.crossJoin(F.broadcast(p.totals))


def cramer_von_mises(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
    crit: float = 0.461,
) -> "DataFrame":
    """Two-sample Cramér-von Mises criterion (Anderson 1962) — the
    INTEGRAL-squared ECDF distance beside :func:`ks_two_sample`'s sup
    distance: KS reacts to the single worst gap, CvM accumulates every
    gap, so body-wide drift that never spikes (the common training-
    data-mix failure) moves CvM first. Computational form over the
    pooled distinct levels (no gaps or adjacency needed — the sum runs
    over observations, weighting each level by its multiplicity):

        T = n_a*n_b / N^2 * sum_l (c_a + c_b)(F_a(l) - F_b(l))^2

    Values quantize to integer CENTS (the mann_whitney/level-frame
    convention), cumulatives come from the bounded prefix hierarchy
    (the shared kernel ``operators._prefix.pooled_levels`` — no
    data-sized sort at any cardinality; the level frame is staged ONCE
    and shared with the totals agg).
    Exactness: cumulative counts are exact BIGINTs; the
    per-level term is ONE double expression over identical integers,
    rounded once to pico-units into a DECIMAL(38) order-free fold
    (the anova_oneway between-term convention).

    Returns one row ``(n_a, n_b, t_stat, reject)`` with ``reject =
    t_stat > crit`` (0.461 is the asymptotic 5% critical value from
    Anderson & Darling 1952's table); t_stat NULL when either sample
    is empty.
    """
    agg = _pooled_fold(
        df_a,
        df_b,
        value_col,
        F.sum(_cvm_term()).alias("__t12"),
    )
    t = _cvm_stat("__t12")
    return agg.select(
        *_counts(),
        F.when(both_sides(), round_to(t, 6)).alias("t_stat"),
        F.when(both_sides(), t > F.lit(float(crit))).alias("reject"),
    )


def wasserstein_1d(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
) -> "DataFrame":
    """Exact 1-D Wasserstein-1 distance (earth mover's distance)
    between two samples — completing the drift trio: KS (q186) is the
    worst single ECDF gap, Cramér-von Mises (q309) the squared gap
    mass, W1 the AREA between the ECDFs, ``∫|F_a - F_b| dx``, in the
    value's own units (the "how many dollars does the distribution
    move" number mixture rebalancing is judged by).

    Computational form over distinct cent levels: F_a - F_b is
    constant on [l, next(l)), so

        W1 = sum_l |cum_a(l)/n_a - cum_b(l)/n_b| * (next(l) - l)

    with cumulatives from the bounded prefix hierarchy and the
    adjacency from :func:`operators._prefix.next_level` (hierarchical
    lead — every window partition bounded, no global sort), both from
    ``operators._prefix.pooled_levels``. The level frame is staged once
    and shared by the lead, the prefix sums, and the totals agg. The
    per-level term is ONE double expression rounded to micro-cent units
    into a DECIMAL(38) order-free fold; the result divides back to
    value units.

    Returns one row ``(n_a, n_b, w1)`` — NULL w1 when either sample is
    empty.
    """
    p = pooled_levels(df_a, df_b, value_col, adjacency=True)
    return _step_integral(p, _w1_term(), "__w6").select(
        *_counts(),
        F.when(both_sides(), round_to(_fold_value("__w6"), 6)).alias("w1"),
    )


def wasserstein_1d_sql(
    a_subquery: str, b_subquery: str, value_col: str
) -> str:
    """DuckDB twin of :func:`wasserstein_1d` — plain global lead +
    cumulative windows (the independent-plan oracle convention)."""
    return f"""
    WITH pooled AS (
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y, 1 AS a, 0 AS b
        FROM ({a_subquery}) WHERE {value_col} IS NOT NULL
        UNION ALL
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT),
               0, 1
        FROM ({b_subquery}) WHERE {value_col} IS NOT NULL
    ), lv AS (
        SELECT y, CAST(sum(a) AS BIGINT) AS c1, CAST(sum(b) AS BIGINT) AS c2
        FROM pooled GROUP BY y
    ), cum AS (
        SELECT y, c1, c2,
               CAST(sum(c1) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc1,
               CAST(sum(c2) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc2,
               lead(y) OVER (ORDER BY y) AS nxt
        FROM lv
    ), tot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n_a,
               CAST(sum(c2) AS BIGINT) AS n_b
        FROM lv
    ), agg AS (
        SELECT CAST(sum(CAST(round(abs(CAST(cc1 AS DOUBLE)
                                       / CAST(n_a AS DOUBLE)
                                       - CAST(cc2 AS DOUBLE)
                                         / CAST(n_b AS DOUBLE))
                        * CAST(nxt - y AS DOUBLE) * 1e6, 0) AS HUGEINT))
                    AS HUGEINT) AS w6
        FROM cum, tot WHERE nxt IS NOT NULL
    )
    SELECT coalesce(tot.n_a, 0) AS n_a,
           coalesce(tot.n_b, 0) AS n_b,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round(coalesce(CAST(w6 AS DOUBLE), 0.0) / 1e8, 6)
           END AS w1
    FROM agg, tot
    """


def wasserstein_1d_by_group(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
    group_col: str,
) -> "DataFrame":
    """Per-group exact 1-D Wasserstein-1 drift table — the
    mixture-rebalancing report (r11 backlog): for every value of
    ``group_col`` (source / domain / event type), the W1 distance
    between that group's ``df_a`` and ``df_b`` value distributions, in
    ONE Spark plan for all groups instead of a driver-side loop over
    :func:`wasserstein_1d`.

    Construction mirrors :func:`wasserstein_1d` exactly (the same
    ``operators._prefix.pooled_levels`` kernel), with the group key
    threaded through every tier: the pooled level frame is
    ``groupBy(group, cent)``; adjacency and cumulatives come from the
    grouped bounded prefix helpers (``operators/_prefix.py`` with
    ``group_cols`` — every window partitioned by (group, bucket), the
    final tier <= 16 rows per group); per-group totals attach by a
    keyed join that rides the level frame's existing group-hash
    partitioning. Routed ONCE per call on the largest group's level
    count (both routes bit-identical).

    NULL groups are excluded (a drift table is keyed by a real group
    value). Returns one row per group present in EITHER side:
    ``(group, n_a, n_b, w1)`` — ``w1`` NULL when that group is empty
    on either side, 0 when both sides coincide; the output group
    column is named ``group``.
    """
    p = pooled_levels(df_a, df_b, value_col, group_col, adjacency=True)
    return _step_integral(p, _w1_term(), "__w6").select(
        F.col("__g").alias("group"),
        "n_a",
        "n_b",
        F.when(both_sides(), round_to(_fold_value("__w6"), 6)).alias("w1"),
    )


def kuiper_two_sample(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
    alpha: float = 0.05,
) -> "DataFrame":
    """Two-sample Kuiper test (Kuiper 1960) — the CYCLIC-safe sibling
    of KS: V = D+ + D- (the largest gap ABOVE plus the largest gap
    BELOW) instead of the single largest absolute gap, which makes the
    statistic equally sensitive across the whole support (KS
    concentrates power at the median; Kuiper catches tail shifts and
    is invariant to cyclic shifts — the hour-of-day / phase drift
    case).

    Computational form on the exact pooled cent-level frame with
    bounded-prefix cumulatives (the CvM/AD device — no binned grid
    needed since no adjacency is used): D+ = max(0, max_l (F_a-F_b)),
    D- = max(0, max_l (F_b-F_a)) — the 0 guards cover the sup over
    the region outside the observed support. p-value from the
    asymptotic Kuiper series (Stephens 1970, the Numerical-Recipes
    form) Q = 2*sum_j (4 j^2 lam^2 - 1) exp(-2 j^2 lam^2) with
    lam = (sqrt(ne) + 0.155 + 0.24/sqrt(ne)) * V, truncated at 100
    terms via a nano-unit integer fold (identical in both engines);
    lam < 0.4 clamps to p = 1 (Q(0.4) = 0.9999+, and the truncated
    series diverges at 0 — the ks_two_sample convention).

    Returns one row ``(n_a, n_b, v_stat, p_value, reject)`` — NULLs
    when either sample is empty.
    """
    agg = _pooled_fold(df_a, df_b, value_col, *_kuiper_folds())
    v = F.col("__dp") + F.col("__dm")
    na, nb = _n_ab()
    ne = na * nb / (na + nb)
    lam = (
        F.sqrt(ne) + F.lit(0.155) + F.lit(0.24) / F.sqrt(ne)
    ) * v
    series = F.aggregate(
        F.sequence(F.lit(1), F.lit(100)),
        F.lit(0).cast("bigint"),
        lambda acc, j: acc
        + to_fixed(
            (F.lit(4.0) * (j * lam) * (j * lam) - F.lit(1.0))
            * F.exp(F.lit(-2.0) * (j * lam) * (j * lam)),
            9,
        ),
    )
    p = F.when(lam < F.lit(0.4), F.lit(1.0)).otherwise(
        F.least(
            F.lit(1.0),
            F.greatest(F.lit(0.0), F.lit(2.0) * series / F.lit(1e9)),
        )
    )
    both = both_sides()
    return agg.select(
        *_counts(),
        F.when(both, round_to(v, 6)).alias("v_stat"),
        F.when(both, round_to(p, 6)).alias("p_value"),
        F.when(both, p < F.lit(float(alpha))).alias("reject"),
    )


def kuiper_two_sample_sql(
    a_subquery: str,
    b_subquery: str,
    value_col: str,
    alpha: float = 0.05,
) -> str:
    """DuckDB twin of :func:`kuiper_two_sample` — plain global
    cumulative windows, identical series fold."""
    return f"""
    WITH pooled AS (
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y, 1 AS a, 0 AS b
        FROM ({a_subquery}) WHERE {value_col} IS NOT NULL
        UNION ALL
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT),
               0, 1
        FROM ({b_subquery}) WHERE {value_col} IS NOT NULL
    ), lv AS (
        SELECT y, CAST(sum(a) AS BIGINT) AS c1, CAST(sum(b) AS BIGINT) AS c2
        FROM pooled GROUP BY y
    ), cum AS (
        SELECT CAST(sum(c1) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc1,
               CAST(sum(c2) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc2
        FROM lv
    ), tot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n_a,
               CAST(sum(c2) AS BIGINT) AS n_b
        FROM lv
    ), d AS (
        SELECT max(t.n_a) AS n_a, max(t.n_b) AS n_b,
               greatest(max(CASE WHEN t.n_a > 0 AND t.n_b > 0
                            THEN CAST(cc1 AS DOUBLE) / CAST(t.n_a AS DOUBLE)
                                 - CAST(cc2 AS DOUBLE) / CAST(t.n_b AS DOUBLE)
                            ELSE 0.0 END), CAST(0 AS DOUBLE)) AS dp,
               greatest(max(CASE WHEN t.n_a > 0 AND t.n_b > 0
                            THEN CAST(cc2 AS DOUBLE) / CAST(t.n_b AS DOUBLE)
                                 - CAST(cc1 AS DOUBLE) / CAST(t.n_a AS DOUBLE)
                            ELSE 0.0 END), CAST(0 AS DOUBLE)) AS dm
        FROM cum CROSS JOIN tot t
    ), lamb AS (
        SELECT n_a, n_b, dp + dm AS v,
               (sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))
                + 0.155
                + 0.24 / sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))
               ) * (dp + dm) AS lam
        FROM d WHERE n_a > 0 AND n_b > 0
    ), ser AS (
        SELECT n_a, n_b, v,
               CASE WHEN lam < CAST(0.4 AS DOUBLE)
                    THEN CAST(1 AS DOUBLE) ELSE
               least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                   CAST(2 AS DOUBLE) * list_sum(list_transform(
                       range(1, 101),
                       j -> CAST(round(
                           (CAST(4 AS DOUBLE) * (j * lam) * (j * lam)
                            - CAST(1 AS DOUBLE))
                           * exp(CAST(-2 AS DOUBLE) * (j * lam)
                                 * (j * lam))
                           * 1e9, 0) AS BIGINT)
                   )) / 1e9)) END AS p
        FROM lamb
    )
    SELECT coalesce(t.n_a, 0) AS n_a,
           coalesce(t.n_b, 0) AS n_b,
           CASE WHEN t.n_a > 0 AND t.n_b > 0
                THEN round(s.v * 1e6, 0) / 1e6 END AS v_stat,
           CASE WHEN t.n_a > 0 AND t.n_b > 0
                THEN round(s.p * 1e6, 0) / 1e6 END AS p_value,
           CASE WHEN t.n_a > 0 AND t.n_b > 0
                THEN s.p < CAST({alpha} AS DOUBLE) END AS reject
    FROM tot t LEFT JOIN ser s ON TRUE
    """


def anderson_darling_2s(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
) -> "DataFrame":
    """Two-sample Anderson-Darling criterion, tie-adjusted (Scholz &
    Stephens 1987 eq. 7 at k=2, reducing to Pettitt 1976 without
    ties) — the TAIL-WEIGHTED member of the drift family: KS reacts to
    the worst single ECDF gap, CvM to the gap mass, W1 to the gap
    area; AD divides each gap by B(N-B), so drift out in the tails
    (the contamination / truncation failure modes) moves it first.

    Computational form over pooled distinct cent levels with mid-rank
    cumulatives (exact halves carried as DOUBLED integers):

        A2 = (N-1)/(n_a*n_b) * sum_l (t_l/N) * Q_l^2 / (D_l(2N-D_l) - N*t_l)

    with D_l = 2*B_l = doubled mid-rank pooled cumulative and
    Q_l = N*(2*cum_a - c_a) - n_a*(2*cum_pooled - t), both single
    double expressions over identical exact integers in both engines
    (cumulatives from ``operators._prefix.pooled_levels``, level frame
    staged once and shared with the totals agg); the
    per-level term rounds once to pico-units into a DECIMAL(38)
    order-free fold. E[A2] = 1 under H0; calibration tables are
    external (Scholz-Stephens table 1).

    Returns one row ``(n_a, n_b, a2)`` — a2 NULL when either sample is
    empty or the pooled sample is a single level (denominator 0).
    """
    term, den_pos = _ad_terms()
    agg = _pooled_fold(
        df_a,
        df_b,
        value_col,
        F.max(den_pos).alias("__any"),
        F.sum(term).alias("__t12"),
    )
    return agg.select(
        *_counts(),
        F.when(
            both_sides() & (F.col("__any") == 1), round_to(_ad_stat("__t12"), 6)
        ).alias("a2"),
    )


def anderson_darling_2s_sql(
    a_subquery: str, b_subquery: str, value_col: str
) -> str:
    """DuckDB twin of :func:`anderson_darling_2s` — plain global
    cumulative windows, identical doubled-integer mid-rank form."""
    return f"""
    WITH pooled AS (
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y, 1 AS a, 0 AS b
        FROM ({a_subquery}) WHERE {value_col} IS NOT NULL
        UNION ALL
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT),
               0, 1
        FROM ({b_subquery}) WHERE {value_col} IS NOT NULL
    ), lv AS (
        SELECT y, CAST(sum(a) AS BIGINT) AS c1, CAST(sum(b) AS BIGINT) AS c2
        FROM pooled GROUP BY y
    ), cum AS (
        SELECT c1, c2,
               CAST(sum(c1) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc1,
               CAST(sum(c1 + c2) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS ccp
        FROM lv
    ), tot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n_a,
               CAST(sum(c2) AS BIGINT) AS n_b
        FROM lv
    ), terms AS (
        SELECT CAST(c1 + c2 AS DOUBLE) AS t,
               2.0 * CAST(ccp AS DOUBLE) - CAST(c1 + c2 AS DOUBLE) AS d2,
               CASE WHEN n_a > 0 AND n_b > 0
                    THEN CAST(n_a + n_b AS DOUBLE)
                         * (2.0 * CAST(cc1 AS DOUBLE) - CAST(c1 AS DOUBLE))
                         - CAST(n_a AS DOUBLE)
                           * (2.0 * CAST(ccp AS DOUBLE)
                              - CAST(c1 + c2 AS DOUBLE))
                    ELSE 0.0 END AS q,
               CAST(n_a + n_b AS DOUBLE) AS nn
        FROM cum, tot
    ), agg AS (
        SELECT max(CASE WHEN d2 * (2.0 * nn - d2) - nn * t > 0
                        THEN 1 ELSE 0 END) AS any_den,
               CAST(sum(CAST(round(
                    CASE WHEN d2 * (2.0 * nn - d2) - nn * t > 0
                         THEN t / nn * q * q
                              / (d2 * (2.0 * nn - d2) - nn * t)
                         ELSE 0.0 END * 1e12, 0) AS HUGEINT))
                    AS HUGEINT) AS t12
        FROM terms
    )
    SELECT coalesce(tot.n_a, 0) AS n_a,
           coalesce(tot.n_b, 0) AS n_b,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0 AND any_den = 1
                THEN round(CAST(tot.n_a + tot.n_b - 1 AS DOUBLE)
                           / (CAST(tot.n_a AS DOUBLE) * tot.n_b)
                           * CAST(t12 AS DOUBLE) / 1e12, 6)
           END AS a2
    FROM agg, tot
    """


def drift_by_group(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
    group_col: str,
) -> "DataFrame":
    """Per-group drift REPORT — all six distribution distances (KS
    sup-gap, Kuiper V = D+ + D-, Cramér-von Mises squared-gap mass,
    tail-weighted Anderson-Darling, exact Wasserstein-1 area, energy
    distance 2∫(F_a-F_b)²dx) for every ``group_col`` value in ONE
    Spark plan sharing one pooled (group, cent-level) frame, one
    grouped bounded-prefix pass, and one grouped bounded-lead pass:
    the mixture-rebalancing view ("which sources drifted, and how — a
    spike, a phase shift, body-wide, in the tails, or by distance in
    value units") that the corpus-level operators
    (:func:`ks_two_sample`, :func:`kuiper_two_sample`,
    :func:`cramer_von_mises`, :func:`anderson_darling_2s`,
    :func:`wasserstein_1d`, :func:`energy_distance`) answer only for
    the whole corpus.

    The frame comes from ``operators._prefix.pooled_levels`` (grouped,
    with adjacency), and the Kuiper/CvM/AD/W1/energy per-level terms
    are the corpus-level operators' own. Exactness follows those
    operators: cumulative counts are exact BIGINTs off the grouped
    hierarchy; the CvM/AD/W1/energy per-level terms round once into
    DECIMAL(38) order-free folds (pico-, pico-, micro- and micro-unit
    respectively; AD carries mid-rank halves as doubled exact
    integers); KS/Kuiper take plain
    maxes of signed ECDF gaps over levels (identical IEEE doubles in
    both engines) rounded to 1e-6.

    Returns one row per non-NULL group present in EITHER side:
    ``(group, n_a, n_b, ks_d, kuiper_v, cvm_t, ad_a2, w1, energy)`` —
    all six distances NULL when that group is empty on either side
    (AD additionally NULL when the group's pooled frame is one
    level).
    """
    p = pooled_levels(df_a, df_b, value_col, group_col, adjacency=True)
    d = ecdf_gap()
    ad_term, ad_den_pos = _ad_terms()
    # one agg computes all six folds per group; the W1/energy terms
    # gate on a successor INSIDE the sum (each group's max level has
    # none), so no second pass over the frame
    has_next = F.col("__next").isNotNull()
    folds = (
        p.with_totals()
        .groupBy("__g")
        .agg(
            F.max(F.abs(d)).alias("__ks"),
            *_kuiper_folds(),
            F.sum(_cvm_term()).alias("__t12"),
            F.max(ad_den_pos).alias("__anyden"),
            F.sum(ad_term).alias("__a12"),
            F.sum(F.when(has_next, _w1_term())).alias("__w6"),
            F.sum(F.when(has_next, _energy_term())).alias("__e6"),
        )
    )
    both = both_sides()
    return p.totals.join(folds, "__g", "left").select(
        F.col("__g").alias("group"),
        "n_a",
        "n_b",
        F.when(both, round_to(F.col("__ks"), 6)).alias("ks_d"),
        F.when(both, round_to(F.col("__dp") + F.col("__dm"), 6)).alias(
            "kuiper_v"
        ),
        F.when(both, round_to(_cvm_stat("__t12"), 6)).alias("cvm_t"),
        F.when(both & (F.col("__anyden") == 1), round_to(_ad_stat("__a12"), 6))
        .alias("ad_a2"),
        F.when(both, round_to(_fold_value("__w6"), 6)).alias("w1"),
        F.when(both, round_to(_fold_value("__e6"), 6)).alias("energy"),
    )


def drift_by_group_sql(
    a_subquery: str, b_subquery: str, value_col: str, group_col: str
) -> str:
    """DuckDB twin of :func:`drift_by_group` — plain group-partitioned
    cumulative/lead windows, identical folds."""
    return f"""
    WITH pooled AS (
        SELECT {group_col} AS g,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y, 1 AS a, 0 AS b
        FROM ({a_subquery})
        WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
        UNION ALL
        SELECT {group_col},
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT),
               0, 1
        FROM ({b_subquery})
        WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
    ), lv AS (
        SELECT g, y,
               CAST(sum(a) AS BIGINT) AS c1, CAST(sum(b) AS BIGINT) AS c2
        FROM pooled GROUP BY g, y
    ), cum AS (
        SELECT g, y, c1, c2,
               CAST(sum(c1) OVER (PARTITION BY g ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc1,
               CAST(sum(c2) OVER (PARTITION BY g ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc2,
               lead(y) OVER (PARTITION BY g ORDER BY y) AS nxt
        FROM lv
    ), tot AS (
        SELECT g, CAST(sum(c1) AS BIGINT) AS n_a,
               CAST(sum(c2) AS BIGINT) AS n_b
        FROM lv GROUP BY g
    ), terms AS (
        SELECT cum.g, cum.c1, cum.c2, cum.nxt, cum.y,
               CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                    THEN CAST(cc1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                         - CAST(cc2 AS DOUBLE) / CAST(n_b AS DOUBLE)
                    ELSE 0.0 END AS d,
               CAST(c1 + c2 AS DOUBLE) AS t,
               2.0 * CAST(cc1 + cc2 AS DOUBLE)
                   - CAST(c1 + c2 AS DOUBLE) AS d2,
               CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                    THEN CAST(n_a + n_b AS DOUBLE)
                         * (2.0 * CAST(cc1 AS DOUBLE) - CAST(c1 AS DOUBLE))
                         - CAST(n_a AS DOUBLE)
                           * (2.0 * CAST(cc1 + cc2 AS DOUBLE)
                              - CAST(c1 + c2 AS DOUBLE))
                    ELSE 0.0 END AS qn,
               CAST(n_a + n_b AS DOUBLE) AS nn
        FROM cum JOIN tot ON cum.g = tot.g
    ), agg AS (
        SELECT g,
               max(abs(d)) AS ks,
               greatest(max(d), CAST(0 AS DOUBLE)) AS dp,
               greatest(max(-d), CAST(0 AS DOUBLE)) AS dm,
               CAST(sum(CAST(round(t * d * d * 1e12,
                                   0) AS HUGEINT)) AS HUGEINT) AS t12,
               max(CASE WHEN d2 * (2.0 * nn - d2) - nn * t > 0
                        THEN 1 ELSE 0 END) AS any_den,
               CAST(sum(CAST(round(
                    CASE WHEN d2 * (2.0 * nn - d2) - nn * t > 0
                         THEN t / nn * qn * qn
                              / (d2 * (2.0 * nn - d2) - nn * t)
                         ELSE 0.0 END * 1e12, 0) AS HUGEINT))
                    AS HUGEINT) AS a12,
               CAST(sum(CASE WHEN nxt IS NOT NULL
                        THEN CAST(round(abs(d) * CAST(nxt - y AS DOUBLE)
                                        * 1e6, 0) AS HUGEINT) END)
                    AS HUGEINT) AS w6,
               CAST(sum(CASE WHEN nxt IS NOT NULL
                        THEN CAST(round(2.0 * d * d
                                        * CAST(nxt - y AS DOUBLE)
                                        * 1e6, 0) AS HUGEINT) END)
                    AS HUGEINT) AS e6
        FROM terms GROUP BY g
    )
    SELECT tot.g AS "group", tot.n_a, tot.n_b,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round(ks * 1e6, 0) / 1e6 END AS ks_d,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round((dp + dm) * 1e6, 0) / 1e6 END AS kuiper_v,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round(CAST(tot.n_a AS DOUBLE) * tot.n_b
                           / (CAST(tot.n_a + tot.n_b AS DOUBLE)
                              * (tot.n_a + tot.n_b))
                           * CAST(t12 AS DOUBLE) / 1e12, 6) END AS cvm_t,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0 AND any_den = 1
                THEN round(CAST(tot.n_a + tot.n_b - 1 AS DOUBLE)
                           / (CAST(tot.n_a AS DOUBLE) * tot.n_b)
                           * CAST(a12 AS DOUBLE) / 1e12, 6) END AS ad_a2,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round(coalesce(CAST(w6 AS DOUBLE), 0.0) / 1e8, 6)
           END AS w1,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round(coalesce(CAST(e6 AS DOUBLE), 0.0) / 1e8, 6)
           END AS energy
    FROM tot LEFT JOIN agg ON tot.g = agg.g
    """


def energy_distance(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
) -> "DataFrame":
    """Exact 1-D energy distance (Székely & Rizzo 2004) — the
    kernel-free two-sample distance whose multivariate form backs the
    embedding-drift MMD: in one dimension

        D^2 = 2*E|X-Y| - E|X-X'| - E|Y-Y'| = 2 * INT (F_a - F_b)^2 dx

    (the unweighted integral-squared gap in VALUE units — the Cramér
    distance's scale-carrying sibling of CvM's rank-weighted mass),
    and the test statistic T = n_a*n_b/N * D^2 with D^2 = 0 iff the
    distributions coincide.

    Computational form mirrors :func:`wasserstein_1d` exactly — the
    integrand is constant on [l, next(l)) — with per-level term
    2*(F_a-F_b)^2 * gap: adjacency from the hierarchical bounded lead,
    cumulatives from the bounded prefix hierarchy, ONE route decision
    per call, per-level micro-unit rounding into a DECIMAL(38)
    order-free fold; the result divides back to value units.

    Returns one row ``(n_a, n_b, energy, t_stat)`` — both NULL when
    either sample is empty; a point mass at a vs a point mass at b
    reads exactly 2*|a-b|.
    """
    p = pooled_levels(df_a, df_b, value_col, adjacency=True)
    energy = _fold_value("__e6")
    na, nb = _n_ab()
    return _step_integral(p, _energy_term(), "__e6").select(
        *_counts(),
        F.when(both_sides(), round_to(energy, 6)).alias("energy"),
        F.when(
            both_sides(), round_to(na * nb / (na + nb) * energy, 6)
        ).alias("t_stat"),
    )


def energy_distance_sql(
    a_subquery: str, b_subquery: str, value_col: str
) -> str:
    """DuckDB twin of :func:`energy_distance` — plain global lead +
    cumulative windows, identical per-level fold."""
    return f"""
    WITH pooled AS (
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y, 1 AS a, 0 AS b
        FROM ({a_subquery}) WHERE {value_col} IS NOT NULL
        UNION ALL
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT),
               0, 1
        FROM ({b_subquery}) WHERE {value_col} IS NOT NULL
    ), lv AS (
        SELECT y, CAST(sum(a) AS BIGINT) AS c1, CAST(sum(b) AS BIGINT) AS c2
        FROM pooled GROUP BY y
    ), cum AS (
        SELECT y, c1, c2,
               CAST(sum(c1) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc1,
               CAST(sum(c2) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc2,
               lead(y) OVER (ORDER BY y) AS nxt
        FROM lv
    ), tot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n_a,
               CAST(sum(c2) AS BIGINT) AS n_b
        FROM lv
    ), agg AS (
        SELECT CAST(sum(CAST(round(2.0
                        * (CASE WHEN n_a > 0 AND n_b > 0
                                THEN CAST(cc1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                                     - CAST(cc2 AS DOUBLE)
                                       / CAST(n_b AS DOUBLE)
                                ELSE 0.0 END)
                        * (CASE WHEN n_a > 0 AND n_b > 0
                                THEN CAST(cc1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                                     - CAST(cc2 AS DOUBLE)
                                       / CAST(n_b AS DOUBLE)
                                ELSE 0.0 END)
                        * CAST(nxt - y AS DOUBLE) * 1e6, 0) AS HUGEINT))
                    AS HUGEINT) AS e6
        FROM cum, tot WHERE nxt IS NOT NULL
    )
    SELECT coalesce(tot.n_a, 0) AS n_a,
           coalesce(tot.n_b, 0) AS n_b,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round(coalesce(CAST(e6 AS DOUBLE), 0.0) / 1e8, 6)
           END AS energy,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round(CAST(tot.n_a AS DOUBLE) * tot.n_b
                           / CAST(tot.n_a + tot.n_b AS DOUBLE)
                           * coalesce(CAST(e6 AS DOUBLE), 0.0) / 1e8, 6)
           END AS t_stat
    FROM agg, tot
    """


def wasserstein_1d_by_group_sql(
    a_subquery: str, b_subquery: str, value_col: str, group_col: str
) -> str:
    """DuckDB twin of :func:`wasserstein_1d_by_group` — plain
    group-partitioned lead + cumulative windows (the independent-plan
    oracle convention)."""
    return f"""
    WITH pooled AS (
        SELECT {group_col} AS g,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y, 1 AS a, 0 AS b
        FROM ({a_subquery})
        WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
        UNION ALL
        SELECT {group_col},
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT),
               0, 1
        FROM ({b_subquery})
        WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
    ), lv AS (
        SELECT g, y,
               CAST(sum(a) AS BIGINT) AS c1, CAST(sum(b) AS BIGINT) AS c2
        FROM pooled GROUP BY g, y
    ), cum AS (
        SELECT g, y, c1, c2,
               CAST(sum(c1) OVER (PARTITION BY g ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc1,
               CAST(sum(c2) OVER (PARTITION BY g ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc2,
               lead(y) OVER (PARTITION BY g ORDER BY y) AS nxt
        FROM lv
    ), tot AS (
        SELECT g, CAST(sum(c1) AS BIGINT) AS n_a,
               CAST(sum(c2) AS BIGINT) AS n_b
        FROM lv GROUP BY g
    ), agg AS (
        SELECT cum.g,
               CAST(sum(CAST(round(abs(
                        CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                             THEN CAST(cc1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                                  - CAST(cc2 AS DOUBLE) / CAST(n_b AS DOUBLE)
                             ELSE 0.0 END)
                        * CAST(nxt - y AS DOUBLE) * 1e6, 0) AS HUGEINT))
                    AS HUGEINT) AS w6
        FROM cum JOIN tot ON cum.g = tot.g
        WHERE nxt IS NOT NULL GROUP BY cum.g
    )
    SELECT tot.g AS "group", tot.n_a, tot.n_b,
           CASE WHEN tot.n_a > 0 AND tot.n_b > 0
                THEN round(coalesce(CAST(w6 AS DOUBLE), 0.0) / 1e8, 6)
           END AS w1
    FROM tot LEFT JOIN agg ON tot.g = agg.g
    """


def cramer_von_mises_sql(
    a_subquery: str,
    b_subquery: str,
    value_col: str,
    crit: float = 0.461,
) -> str:
    """DuckDB twin of :func:`cramer_von_mises` — the PLAIN global
    cumulative-window formulation (the q157 oracle convention: an
    independent plan that must reproduce the same integers)."""
    return f"""
    WITH pooled AS (
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y, 1 AS a, 0 AS b
        FROM ({a_subquery}) WHERE {value_col} IS NOT NULL
        UNION ALL
        SELECT CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT),
               0, 1
        FROM ({b_subquery}) WHERE {value_col} IS NOT NULL
    ), lv AS (
        SELECT y, CAST(sum(a) AS BIGINT) AS c1, CAST(sum(b) AS BIGINT) AS c2
        FROM pooled GROUP BY y
    ), cum AS (
        SELECT c1, c2,
               CAST(sum(c1) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc1,
               CAST(sum(c2) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS cc2
        FROM lv
    ), tot AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n_a,
               CAST(sum(c2) AS BIGINT) AS n_b
        FROM lv
    ), agg AS (
        SELECT max(n_a) AS n_a, max(n_b) AS n_b,
               CAST(sum(CAST(round(CAST(c1 + c2 AS DOUBLE)
                        * (CAST(cc1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                           - CAST(cc2 AS DOUBLE) / CAST(n_b AS DOUBLE))
                        * (CAST(cc1 AS DOUBLE) / CAST(n_a AS DOUBLE)
                           - CAST(cc2 AS DOUBLE) / CAST(n_b AS DOUBLE))
                        * 1e12, 0) AS HUGEINT)) AS HUGEINT) AS t12
        FROM cum, tot
    )
    SELECT coalesce(n_a, 0) AS n_a,
           coalesce(n_b, 0) AS n_b,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN round(CAST(n_a AS DOUBLE) * n_b
                           / ((CAST(n_a AS DOUBLE) + n_b)
                              * (CAST(n_a AS DOUBLE) + n_b))
                           * CAST(t12 AS DOUBLE) / 1e12, 6)
           END AS t_stat,
           CASE WHEN n_a > 0 AND n_b > 0
                THEN CAST(n_a AS DOUBLE) * n_b
                     / ((CAST(n_a AS DOUBLE) + n_b)
                        * (CAST(n_a AS DOUBLE) + n_b))
                     * CAST(t12 AS DOUBLE) / 1e12 > {float(crit)}
           END AS reject
    FROM agg
    """


def ks_two_sample_sql(
    a_subquery: str,
    b_subquery: str,
    value_col: str,
    alpha: float = 0.05,
) -> str:
    """DuckDB twin of :func:`ks_two_sample` — deliberately the PLAIN
    global cumulative-window formulation (no bucketing): the bucketed
    Spark decomposition must reproduce these exact integers, so the
    oracle checks the decomposition itself, not just the arithmetic."""
    return f"""
    WITH m AS MATERIALIZED (
        SELECT CAST({value_col} AS DOUBLE) AS __v, 1 AS __a, 0 AS __b
        FROM ({a_subquery}) WHERE {value_col} IS NOT NULL
        UNION ALL
        SELECT CAST({value_col} AS DOUBLE) AS __v, 0 AS __a, 1 AS __b
        FROM ({b_subquery}) WHERE {value_col} IS NOT NULL
    ), tot AS (
        SELECT CAST(sum(__a) AS BIGINT) AS __na,
               CAST(sum(__b) AS BIGINT) AS __nb
        FROM m
    ), counts AS (
        SELECT __v, CAST(sum(__a) AS BIGINT) AS __ca,
               CAST(sum(__b) AS BIGINT) AS __cb
        FROM m GROUP BY 1
    ), cum AS (
        SELECT CAST(sum(__ca) OVER (
                   ORDER BY __v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __cca,
               CAST(sum(__cb) OVER (
                   ORDER BY __v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __ccb
        FROM counts
    ), d AS (
        SELECT max(abs(CAST(__cca AS DOUBLE) / t.__na
                       - CAST(__ccb AS DOUBLE) / t.__nb)) AS __d,
               max(t.__na) AS n_a, max(t.__nb) AS n_b
        FROM cum CROSS JOIN tot t
    ), lamb AS (
        SELECT n_a, n_b, __d,
               (sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))
                + 0.12
                + 0.11 / sqrt(CAST(n_a AS DOUBLE) * n_b / (n_a + n_b))
               ) * __d AS __lam
        FROM d
    ), ser AS (
        SELECT n_a, n_b, __d,
               CASE WHEN __lam < CAST(0.2 AS DOUBLE)
                    THEN CAST(1 AS DOUBLE) ELSE
               least(CAST(1 AS DOUBLE), greatest(CAST(0 AS DOUBLE),
                   CAST(2 AS DOUBLE) * list_sum(list_transform(
                       range(1, 101),
                       j -> CAST(round(
                           (CASE WHEN j % 2 = 1 THEN CAST(1 AS DOUBLE)
                                 ELSE CAST(-1 AS DOUBLE) END)
                           * exp(CAST(-2 AS DOUBLE) * (j * __lam)
                                 * (j * __lam))
                           * 1e9, 0) AS BIGINT)
                   )) / 1e9)) END AS __p
        FROM lamb
    )
    SELECT n_a, n_b,
           round(__d * 1e6, 0) / 1e6 AS d_stat,
           round(__p * 1e6, 0) / 1e6 AS p_value,
           __p < CAST({alpha} AS DOUBLE) AS reject
    FROM ser
    """


def categorical_association(
    df: "DataFrame", x_col: str, y_col: str
) -> "DataFrame":
    """Association census between two categorical columns — the
    bivariate row of the profiler next to the univariate entropy
    census: Pearson chi-squared, Cramer's V (bias-uncorrected,
    Cramer 1946), mutual information in nats and the normalized MI
    ``MI / sqrt(Hx * Hy)`` (Strehl & Ghosh 2002). NULL is a category
    (the profiler's dropna=False convention).

    Returns one row: ``(n, r, c, chi2, cramers_v, mi_nats, nmi)``.

    Exactness: all cell/marginal counts are exact BIGINTs from one
    joint hash-agg; chi-squared uses the zero-cell-free identity
    ``chi2 = n * (S - 1)``, ``S = sum_cells nxy^2 / (nx * ny)`` (the
    unobserved-cell expected counts enter through the marginals, so no
    dense grid is materialized); S / MI / entropy terms fold as
    nano-unit integers.

    Scale: one (x, y) hash-agg bounded by distinct pairs; marginals
    and totals are tiny broadcast frames. No melt of the full table
    beyond the one agg.
    """
    m = df.select(
        F.col(x_col).cast("string").alias("__x"),
        F.col(y_col).cast("string").alias("__y"),
    )
    # distinct-pair bounded; feeds both marginals, the total AND the
    # scoring join — checkpoint so the raw scan runs once, not 4x
    joint = stage(m.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nxy")
    ))
    # marginal keys renamed + eqNullSafe joins: NULL is a category, and
    # a plain equality join would silently drop the NULL class (the
    # r5-ADVICE bug family; oracle uses IS NOT DISTINCT FROM)
    margx = (
        joint.groupBy("__x")
        .agg(F.sum("__nxy").alias("__nx"))
        .withColumnRenamed("__x", "__mx")
    )
    margy = (
        joint.groupBy("__y")
        .agg(F.sum("__nxy").alias("__ny"))
        .withColumnRenamed("__y", "__my")
    )
    tot = joint.agg(
        F.sum("__nxy").cast("bigint").alias("__n"),
        F.countDistinct("__x").alias("__r0"),
        F.countDistinct("__y").alias("__c0"),
        F.max(F.when(F.col("__x").isNull(), 1).otherwise(0)).alias(
            "__xn"
        ),
        F.max(F.when(F.col("__y").isNull(), 1).otherwise(0)).alias(
            "__yn"
        ),
    ).select(
        "__n",
        (F.col("__r0") + F.col("__xn")).cast("bigint").alias("__r"),
        (F.col("__c0") + F.col("__yn")).cast("bigint").alias("__c"),
    )
    nd = F.col("__nxy").cast("double")
    nxd = F.col("__nx").cast("double")
    nyd = F.col("__ny").cast("double")
    nnd = F.col("__n").cast("double")
    j = (
        joint.join(
            F.broadcast(margx), F.col("__x").eqNullSafe(F.col("__mx"))
        )
        .join(F.broadcast(margy), F.col("__y").eqNullSafe(F.col("__my")))
        .crossJoin(F.broadcast(tot))
    )
    s_nano = to_fixed(nd * nd / (nxd * nyd), 9)
    mi_nano = to_fixed((nd / nnd) * F.log(nd * nnd / (nxd * nyd)), 9)
    folded = j.groupBy("__n", "__r", "__c").agg(
        F.sum(s_nano).alias("__s"), F.sum(mi_nano).alias("__mi")
    )

    def _h(marg: "DataFrame", cnt_col: str) -> "DataFrame":
        p = F.col(cnt_col).cast("double") / F.col("__n")
        return (
            marg.crossJoin(F.broadcast(tot.select("__n")))
            .select(
                to_fixed(-p * F.log(p), 9).alias("__t")
            )
            .agg(F.sum("__t").alias("__h"))
        )

    hx = _h(margx, "__nx").withColumnRenamed("__h", "__hx")
    hy = _h(margy, "__ny").withColumnRenamed("__h", "__hy")
    out = folded.crossJoin(F.broadcast(hx)).crossJoin(F.broadcast(hy))
    s = from_fixed(F.col("__s"), 9)
    mi = from_fixed(F.col("__mi"), 9)
    hxv = from_fixed(F.col("__hx"), 9)
    hyv = from_fixed(F.col("__hy"), 9)
    chi2 = nnd * (s - F.lit(1.0))
    mindim = F.least(F.col("__r"), F.col("__c")).cast("double")
    v = F.when(
        mindim > 1,
        F.sqrt(
            F.greatest(F.lit(0.0), s - F.lit(1.0))
            / (mindim - F.lit(1.0))
        ),
    )
    nmi = F.when(
        (F.col("__hx") > 0) & (F.col("__hy") > 0),
        mi / F.sqrt(hxv * hyv),
    )
    return out.select(
        F.col("__n").alias("n"),
        F.col("__r").alias("r"),
        F.col("__c").alias("c"),
        round_to(chi2, 6).alias("chi2"),
        round_to(v, 6).alias("cramers_v"),
        round_to(mi, 6).alias("mi_nats"),
        round_to(nmi, 6).alias("nmi"),
    )


def categorical_association_sql(
    table_expr: str, x_col: str, y_col: str
) -> str:
    """DuckDB twin of :func:`categorical_association` — identical
    joint agg, marginals, zero-cell-free chi2 identity and nano
    folds."""
    return f"""
    WITH m AS MATERIALIZED (
        SELECT CAST({x_col} AS VARCHAR) AS __x,
               CAST({y_col} AS VARCHAR) AS __y
        FROM ({table_expr})
    ), joint AS MATERIALIZED (
        SELECT __x, __y, CAST(count(*) AS BIGINT) AS __nxy
        FROM m GROUP BY 1, 2
    ), margx AS (
        SELECT __x, CAST(sum(__nxy) AS BIGINT) AS __nx
        FROM joint GROUP BY 1
    ), margy AS (
        SELECT __y, CAST(sum(__nxy) AS BIGINT) AS __ny
        FROM joint GROUP BY 1
    ), tot AS (
        SELECT CAST(sum(__nxy) AS BIGINT) AS __n,
               CAST(count(DISTINCT __x)
                    + max(CASE WHEN __x IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS __r,
               CAST(count(DISTINCT __y)
                    + max(CASE WHEN __y IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS __c
        FROM joint
    ), folded AS (
        SELECT t.__n, t.__r, t.__c,
               CAST(sum(CAST(round(
                   CAST(j.__nxy AS DOUBLE) * j.__nxy
                   / (CAST(x.__nx AS DOUBLE) * y.__ny) * 1e9, 0)
                   AS BIGINT)) AS BIGINT) AS __s,
               CAST(sum(CAST(round(
                   (CAST(j.__nxy AS DOUBLE) / t.__n)
                   * ln(CAST(j.__nxy AS DOUBLE) * t.__n
                        / (CAST(x.__nx AS DOUBLE) * y.__ny))
                   * 1e9, 0) AS BIGINT)) AS BIGINT) AS __mi
        FROM joint j
        JOIN margx x ON x.__x IS NOT DISTINCT FROM j.__x
        JOIN margy y ON y.__y IS NOT DISTINCT FROM j.__y
        CROSS JOIN tot t
        GROUP BY 1, 2, 3
    ), hx AS (
        SELECT CAST(sum(CAST(round(
                   -(CAST(__nx AS DOUBLE) / t.__n)
                   * ln(CAST(__nx AS DOUBLE) / t.__n) * 1e9, 0)
                   AS BIGINT)) AS BIGINT) AS __hx
        FROM margx CROSS JOIN tot t
    ), hy AS (
        SELECT CAST(sum(CAST(round(
                   -(CAST(__ny AS DOUBLE) / t.__n)
                   * ln(CAST(__ny AS DOUBLE) / t.__n) * 1e9, 0)
                   AS BIGINT)) AS BIGINT) AS __hy
        FROM margy CROSS JOIN tot t
    )
    SELECT f.__n AS n, f.__r AS r, f.__c AS c,
           round(CAST(f.__n AS DOUBLE) * (f.__s / 1e9 - CAST(1 AS DOUBLE))
                 * 1e6, 0) / 1e6 AS chi2,
           round(CASE WHEN least(f.__r, f.__c) > 1 THEN
                 sqrt(greatest(CAST(0 AS DOUBLE),
                               f.__s / 1e9 - CAST(1 AS DOUBLE))
                      / (CAST(least(f.__r, f.__c) AS DOUBLE)
                         - CAST(1 AS DOUBLE)))
                 END * 1e6, 0) / 1e6 AS cramers_v,
           round(f.__mi / 1e9 * 1e6, 0) / 1e6 AS mi_nats,
           round(CASE WHEN h1.__hx > 0 AND h2.__hy > 0 THEN
                 (f.__mi / 1e9)
                 / sqrt((h1.__hx / 1e9) * (h2.__hy / 1e9))
                 END * 1e6, 0) / 1e6 AS nmi
    FROM folded f CROSS JOIN hx h1 CROSS JOIN hy h2
    """


def mann_whitney_u(
    df_a: "DataFrame",
    df_b: "DataFrame",
    value_col: str,
    num_bins: int = 4096,
    alpha: float = 0.05,
) -> "DataFrame":
    """Two-sample Mann-Whitney U (Wilcoxon rank-sum) test — the
    LOCATION-shift sibling of :func:`ks_two_sample` (which tests the
    whole shape): nonparametric "is sample A stochastically larger
    than sample B", the robust alternative to the t-test every
    metrics-drift runbook reaches for when values are heavy-tailed.

    Computed over a pooled ``num_bins`` equal-width histogram (rows
    sharing a bin are ties — the binned-rank device q175's AUC gate
    already certifies; U and AUC are the same fold:
    ``2U = sum_i a_i * (2 * b_below_i + b_i)``, an exact BIGINT pair
    count). The normal approximation uses the tie-corrected variance
    ``var = n_a*n_b/12 * ((n+1) - sum(t^3 - t)/(n(n-1)))`` (Lehmann,
    Nonparametrics 1975), with the tie fold accumulated in DECIMAL /
    HUGEINT so a fully-tied 1e8-row bin cannot overflow; the two-sided
    p-value comes from the shared A&S 7.1.26 normal-tail polynomial.

    Returns one row: ``(n_a, n_b, u, cles, z, p_value, reject)`` —
    ``u`` is A's U statistic (halves exact in a double), ``cles`` the
    common-language effect size ``U/(n_a*n_b)`` (= the AUC of A vs B),
    ``z``/``p_value`` NULL when either sample is empty or the variance
    is 0 (all values tied in one bin).

    Scale: one pooled scan for (min, max), one scan into a B-cell hash
    agg, then a B-bounded window + one-row finalize — never a global
    rank over rows.
    """
    from pyspark.sql.window import Window

    from .operators.cohort import _phi_tail_sql

    B = int(num_bins)
    if B < 2:
        raise ValueError("mann_whitney_u: num_bins must be >= 2")
    va = F.col(value_col).cast("double")
    pooled = (
        df_a.where(va.isNotNull()).select(
            va.alias("__v"), F.lit(1).alias("__ia"), F.lit(0).alias("__ib")
        )
    ).unionByName(
        df_b.where(va.isNotNull()).select(
            va.alias("__v"), F.lit(0).alias("__ia"), F.lit(1).alias("__ib")
        )
    )
    stats = pooled.agg(F.min("__v").alias("__lo"), F.max("__v").alias("__hi"))
    binned = pooled.crossJoin(F.broadcast(stats)).select(
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo"))
                    * F.lit(B)
                ).cast("long"),
                F.lit(B - 1),
            )
        )
        .alias("__b"),
        "__ia",
        "__ib",
    )
    hist = binned.groupBy("__b").agg(
        F.sum("__ia").cast("bigint").alias("__na"),
        F.sum("__ib").cast("bigint").alias("__nb"),
    )
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "__b",
        "__na",
        "__nb",
        F.coalesce(F.sum("__nb").over(wb), F.lit(0))
        .cast("bigint")
        .alias("__bbelow"),
    )
    t = (F.col("__na") + F.col("__nb")).cast("decimal(38,0)")
    fold = cum.agg(
        F.sum("__na").cast("bigint").alias("__n1"),
        F.sum("__nb").cast("bigint").alias("__n2"),
        F.sum(F.col("__na") * (2 * F.col("__bbelow") + F.col("__nb")))
        .cast("bigint")
        .alias("__u2"),
        F.sum(t * t * t - t).alias("__tt"),
    )
    n1 = F.col("__n1")
    n2 = F.col("__n2")
    n = n1 + n2
    var = (
        (n1 * n2).cast("double")
        / F.lit(12.0)
        * (
            (n + 1).cast("double")
            - F.col("__tt").cast("double")
            / (n * (n - 1)).cast("double")
        )
    )
    z = (F.col("__u2").cast("double") - (n1 * n2).cast("double")) / (
        F.lit(2.0) * F.sqrt(var)
    )
    ok = (n1 > 0) & (n2 > 0)
    out = fold.select(
        n1.alias("n_a"),
        n2.alias("n_b"),
        F.when(ok, F.col("__u2").cast("double") / F.lit(2.0)).alias("u"),
        F.when(
            ok,
            round_to(
                F.col("__u2").cast("double")
                / (F.lit(2.0) * (n1 * n2).cast("double")),
                6,
            ),
        ).alias("cles"),
        F.when(ok & (var > 0), round_to(z, 6)).alias(
            "z"
        ),
        F.when(ok & (var > 0), z).alias("__zraw"),
    )
    p = F.lit(2.0) * F.expr(_phi_tail_sql("abs(__zraw)"))
    return out.select(
        "n_a",
        "n_b",
        "u",
        "cles",
        "z",
        round_to(p, 6).alias("p_value"),
        (round_to(p, 6) < F.lit(float(alpha))).alias(
            "reject"
        ),
    )


def mann_whitney_u_sql(
    a_subquery: str,
    b_subquery: str,
    value_col: str,
    num_bins: int = 4096,
    alpha: float = 0.05,
) -> str:
    """DuckDB twin of :func:`mann_whitney_u` — identical pooled
    binning, exact 2U fold, HUGEINT tie fold, and the shared A&S
    normal-tail polynomial."""
    from .operators.cohort import _phi_tail_sql

    B = int(num_bins)
    phi = _phi_tail_sql("abs(__zraw)")
    return f"""
    WITH pooled AS MATERIALIZED (
        SELECT CAST({value_col} AS DOUBLE) AS __v, 1 AS __ia, 0 AS __ib
        FROM ({a_subquery}) WHERE {value_col} IS NOT NULL
        UNION ALL
        SELECT CAST({value_col} AS DOUBLE) AS __v, 0 AS __ia, 1 AS __ib
        FROM ({b_subquery}) WHERE {value_col} IS NOT NULL
    ), st AS MATERIALIZED (
        SELECT min(__v) AS __lo, max(__v) AS __hi FROM pooled
    ), hist AS (
        SELECT CASE WHEN st.__hi = st.__lo THEN 0
                    ELSE LEAST(CAST(floor((__v - st.__lo)
                                          / (st.__hi - st.__lo) * {B})
                               AS BIGINT), {B - 1}) END AS __b,
               CAST(sum(__ia) AS BIGINT) AS __na,
               CAST(sum(__ib) AS BIGINT) AS __nb
        FROM pooled CROSS JOIN st
        GROUP BY 1
    ), cum AS (
        SELECT __b, __na, __nb,
               CAST(COALESCE(sum(__nb) OVER (ORDER BY __b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    0) AS BIGINT) AS __bbelow
        FROM hist
    ), fold AS (
        SELECT CAST(sum(__na) AS BIGINT) AS __n1,
               CAST(sum(__nb) AS BIGINT) AS __n2,
               CAST(sum(__na * (2 * __bbelow + __nb)) AS BIGINT) AS __u2,
               sum(CAST(__na + __nb AS HUGEINT)
                   * (__na + __nb) * (__na + __nb)
                   - (__na + __nb)) AS __tt
        FROM cum
    ), z AS (
        SELECT __n1, __n2, __u2,
               (CAST(__n1 * __n2 AS DOUBLE) / 12.0
                * (CAST(__n1 + __n2 + 1 AS DOUBLE)
                   - CAST(__tt AS DOUBLE)
                     / CAST((__n1 + __n2) * (__n1 + __n2 - 1) AS DOUBLE)))
                   AS __var,
               (CAST(__u2 AS DOUBLE) - CAST(__n1 * __n2 AS DOUBLE))
                   AS __num
        FROM fold
    ), zz AS (
        SELECT *,
               CASE WHEN __n1 > 0 AND __n2 > 0 AND __var > 0
                    THEN __num / (2.0 * sqrt(__var)) END AS __zraw
        FROM z
    )
    SELECT __n1 AS n_a, __n2 AS n_b,
           CASE WHEN __n1 > 0 AND __n2 > 0
                THEN CAST(__u2 AS DOUBLE) / 2.0 END AS u,
           CASE WHEN __n1 > 0 AND __n2 > 0
                THEN round(CAST(__u2 AS DOUBLE)
                           / (2.0 * CAST(__n1 * __n2 AS DOUBLE))
                           * 1e6, 0) / 1e6 END AS cles,
           round(__zraw * 1e6, 0) / 1e6 AS z,
           round(2.0 * {phi} * 1e6, 0) / 1e6 AS p_value,
           round(2.0 * {phi} * 1e6, 0) / 1e6
               < CAST({float(alpha)!r} AS DOUBLE) AS reject
    FROM zz
    """


def winsorized_group_stats(
    df: DataFrame,
    group_col: str,
    col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    num_bins: int = 1024,
) -> DataFrame:
    """Per-group WINSORIZED and TRIMMED means (Tukey robust-statistics
    staples) — the outlier-resistant siblings of the plain group mean,
    beside the MAD anomaly gate (q121): cutoffs are the per-group
    [p_lo, p_hi] HISTOGRAM-SKETCH quantiles (the q127 grouped device —
    no per-group sort at any scale), winsorizing clamps values into
    the cutoffs, trimming drops them.

    Returns one row per group: ``(group, n, mean_raw, mean_winsor,
    mean_trim, n_trimmed)``; ``mean_trim`` is NULL when everything
    trims away.

    Exactness: per-row clamped/raw values are micro-unit-rounded
    BIGINT before every mean (integer folds + one division); the
    cutoffs themselves are the sketch estimates, round-4 identical in
    both engines.

    Scale: the sketch pass is broadcast stats + one (group, bin) agg;
    then ONE more fact pass with the 2-column cutoff frame broadcast
    back — the fact table shuffles only for its own group agg.
    """
    from pytrousse_spark.operators.sketch import (
        histogram_quantiles_grouped,
    )

    qs = histogram_quantiles_grouped(
        df, group_col, col, [p_lo, p_hi], num_bins
    )
    cuts = qs.groupBy(group_col).agg(
        F.min(
            F.when(F.col("q") == p_lo, F.col("estimate"))
        ).alias("__qlo"),
        F.min(
            F.when(F.col("q") == p_hi, F.col("estimate"))
        ).alias("__qhi"),
    )
    v = F.col(col).cast("double")
    staged = (
        df.where(v.isNotNull())
        .join(F.broadcast(cuts), group_col)
        .select(
            F.col(group_col).alias("group"),
            to_fixed(v, 6).alias("__raw"),
            to_fixed(
                F.least(
                    F.greatest(v, F.col("__qlo")), F.col("__qhi")
                ),
                6,
            ).alias("__win"),
            F.when(
                (v >= F.col("__qlo")) & (v <= F.col("__qhi")),
                to_fixed(v, 6),
            ).alias("__trm"),
        )
    )
    kept = F.sum(
        F.when(F.col("__trm").isNotNull(), 1).otherwise(0)
    ).cast("bigint")
    return staged.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        round_to(
            F.sum("__raw").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1e6),
            6,
        ).alias("mean_raw"),
        round_to(
            F.sum("__win").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1e6),
            6,
        ).alias("mean_winsor"),
        round_to(
            F.sum("__trm").cast("double")
            / kept.cast("double")
            / F.lit(1e6),
            6,
        ).alias("mean_trim"),
        (F.count(F.lit(1)).cast("bigint") - kept).alias("n_trimmed"),
    )


def winsorized_group_stats_sql(
    table: str,
    group_col: str,
    col: str,
    p_lo: float = 0.05,
    p_hi: float = 0.95,
    num_bins: int = 1024,
) -> str:
    """DuckDB twin of :func:`winsorized_group_stats` — replays the
    grouped sketch quantiles, the clamp and the micro-unit folds."""
    from pytrousse_spark.operators.sketch import (
        histogram_quantiles_grouped_sql,
    )

    # the sketch twin takes a bare TABLE NAME (its FROM is unparenthesized)
    inner = histogram_quantiles_grouped_sql(
        table, group_col, col, [p_lo, p_hi], num_bins
    )
    return f"""
    WITH __qs AS (
        {inner}
    ), __cuts AS (
        SELECT {group_col},
               min(CASE WHEN q = {float(p_lo)} THEN estimate END)
                   AS __qlo,
               min(CASE WHEN q = {float(p_hi)} THEN estimate END)
                   AS __qhi
        FROM __qs GROUP BY 1
    ), __staged AS (
        SELECT t.{group_col} AS "group",
               CAST(round(CAST(t.{col} AS DOUBLE) * 1e6, 0)
                    AS BIGINT) AS __raw,
               CAST(round(least(greatest(CAST(t.{col} AS DOUBLE),
                                         c.__qlo), c.__qhi) * 1e6, 0)
                    AS BIGINT) AS __win,
               CASE WHEN CAST(t.{col} AS DOUBLE) >= c.__qlo
                     AND CAST(t.{col} AS DOUBLE) <= c.__qhi THEN
                    CAST(round(CAST(t.{col} AS DOUBLE) * 1e6, 0)
                         AS BIGINT) END AS __trm
        FROM {table} t JOIN __cuts c
          ON t.{group_col} = c.{group_col}
        WHERE t.{col} IS NOT NULL
    )
    SELECT "group",
           CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(__raw) AS BIGINT) / CAST(count(*) AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS mean_raw,
           round(CAST(sum(__win) AS BIGINT) / CAST(count(*) AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS mean_winsor,
           round(CAST(sum(__trm) AS BIGINT)
                 / CAST(sum(CASE WHEN __trm IS NOT NULL THEN 1
                            ELSE 0 END) AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS mean_trim,
           CAST(count(*) - sum(CASE WHEN __trm IS NOT NULL THEN 1
                               ELSE 0 END) AS BIGINT) AS n_trimmed
    FROM __staged
    GROUP BY 1
    """


def kendall_tau_b(
    df: DataFrame,
    x_col: str,
    y_col: str,
) -> DataFrame:
    """EXACT Kendall tau-b rank correlation between two BOUNDED-
    CARDINALITY columns (Kendall 1945, the tie-corrected tau) — the
    ordinal-association readout for discrete columns (grades, counts,
    ratings) where Pearson's linearity assumption is wrong and
    Spearman's midranks churn:

        tau_b = (C - D) / sqrt((n0 - n1)(n0 - n2))

    with C/D the concordant/discordant pair counts, n0 = n(n-1)/2 and
    n1/n2 the row/column tie folds. The significance z uses the
    standard tau-a normal approximation
    ``z = 3(C - D) / sqrt(n(n-1)(2n+5)/2)`` (stated: the full tie-
    corrected variance differs negligibly off knife edges).

    CONTRACT: both columns must be bounded-cardinality — the pair
    fold runs on the CONTINGENCY GRID (cells^2 pairs), never on rows,
    which is what makes it 100 TB-safe: one (x, y) count agg, then a
    bounded self-join. NULL pairs are dropped.

    Returns one row: ``(n, concordant, discordant, tau_b, z,
    p_value)``; tau_b NULL when either margin is all-ties.

    Exactness: every count, product and tie fold is DECIMAL(38)/
    HUGEINT integer arithmetic; the two sqrts multiply in double.
    """
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    cells = stage(
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(
            F.col(x_col).alias("__x"), F.col(y_col).alias("__y")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    a = cells.select(
        F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
        F.col("__c").cast("decimal(38,0)").alias("__ca"),
    )
    b = cells.select(
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
        F.col("__c").cast("decimal(38,0)").alias("__cb"),
    )
    cd = (
        a.join(F.broadcast(b), F.col("__xa") < F.col("__xb"))
        .agg(
            F.sum(
                F.when(
                    F.col("__ya") < F.col("__yb"),
                    F.col("__ca") * F.col("__cb"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .alias("__conc"),
            F.sum(
                F.when(
                    F.col("__ya") > F.col("__yb"),
                    F.col("__ca") * F.col("__cb"),
                ).otherwise(F.lit(0).cast("decimal(38,0)"))
            )
            .alias("__disc"),
        )
    )
    tiefold = lambda key: (  # noqa: E731
        cells.groupBy(key)
        .agg(F.sum("__c").cast("decimal(38,0)").alias("__t"))
        .agg(
            F.sum(F.col("__t") * (F.col("__t") - 1)).alias("__tt"),
            F.sum("__t").alias("__n"),
        )
    )
    tx = tiefold("__x").select(
        F.col("__tt").alias("__t1x2"), F.col("__n").alias("__n")
    )
    ty = tiefold("__y").select(F.col("__tt").alias("__t2x2"))
    st = cd.join(F.broadcast(tx), how="cross").join(
        F.broadcast(ty), how="cross"
    )
    # everything x2 to stay integer: n0x2 = n(n-1), tie folds already x2
    n = F.col("__n")
    n0x2 = n * (n - 1)
    den = F.sqrt(
        (n0x2 - F.col("__t1x2")).cast("double")
    ) * F.sqrt((n0x2 - F.col("__t2x2")).cast("double"))
    s_ = (F.col("__conc") - F.col("__disc")).cast("double")
    z_expr = (
        "(CAST(3 AS DOUBLE) * __s /"
        " sqrt(CAST(__nn AS DOUBLE) * (CAST(__nn AS DOUBLE)"
        " - CAST(1 AS DOUBLE))"
        " * (CAST(2 AS DOUBLE) * CAST(__nn AS DOUBLE)"
        "    + CAST(5 AS DOUBLE)) / CAST(2 AS DOUBLE)))"
    )
    staged = st.select(
        n.cast("bigint").alias("n"),
        F.col("__conc").cast("bigint").alias("concordant"),
        F.col("__disc").cast("bigint").alias("discordant"),
        F.when(den > 0, F.lit(2.0) * s_ / den).alias("__tb"),
        s_.alias("__s"),
        n.cast("bigint").alias("__nn"),
    )
    return staged.select(
        "n",
        "concordant",
        "discordant",
        round_to(F.col("__tb"), 6).alias("tau_b"),
        round_to(F.expr(z_expr), 6).alias("z"),
        round_to(
            F.lit(2.0)
            * F.expr(_phi_tail_sql(f"abs({z_expr})")),
            6,
        ).alias("p_value"),
    )


def kendall_tau_b_sql(
    table_expr: str,
    x_col: str,
    y_col: str,
) -> str:
    """DuckDB twin of :func:`kendall_tau_b` — identical contingency
    grid, HUGEINT pair/tie folds, x2 scaling, sqrt-product and A&S
    tail."""
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    z_expr = (
        "(CAST(3 AS DOUBLE) * __s /"
        " sqrt(CAST(__nn AS DOUBLE) * (CAST(__nn AS DOUBLE)"
        " - CAST(1 AS DOUBLE))"
        " * (CAST(2 AS DOUBLE) * CAST(__nn AS DOUBLE)"
        "    + CAST(5 AS DOUBLE)) / CAST(2 AS DOUBLE)))"
    )
    return f"""
    WITH __cells AS MATERIALIZED (
        SELECT {x_col} AS __x, {y_col} AS __y,
               CAST(count(*) AS HUGEINT) AS __c
        FROM ({table_expr})
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
        GROUP BY 1, 2
    ), __cd AS (
        SELECT CAST(sum(CASE WHEN a.__y < b.__y
                        THEN a.__c * b.__c ELSE 0 END) AS HUGEINT)
                   AS __conc,
               CAST(sum(CASE WHEN a.__y > b.__y
                        THEN a.__c * b.__c ELSE 0 END) AS HUGEINT)
                   AS __disc
        FROM __cells a JOIN __cells b ON a.__x < b.__x
    ), __tx AS (
        SELECT CAST(sum(__t * (__t - 1)) AS HUGEINT) AS __t1x2,
               CAST(sum(__t) AS HUGEINT) AS __n
        FROM (SELECT CAST(sum(__c) AS HUGEINT) AS __t
              FROM __cells GROUP BY __x)
    ), __ty AS (
        SELECT CAST(sum(__t * (__t - 1)) AS HUGEINT) AS __t2x2
        FROM (SELECT CAST(sum(__c) AS HUGEINT) AS __t
              FROM __cells GROUP BY __y)
    ), __staged AS (
        SELECT CAST(__n AS BIGINT) AS n,
               CAST(__conc AS BIGINT) AS concordant,
               CAST(__disc AS BIGINT) AS discordant,
               CASE WHEN sqrt(CAST(__n * (__n - 1) - __t1x2
                                   AS DOUBLE))
                         * sqrt(CAST(__n * (__n - 1) - __t2x2
                                     AS DOUBLE)) > 0 THEN
                    CAST(2 AS DOUBLE)
                    * CAST(__conc - __disc AS DOUBLE)
                    / (sqrt(CAST(__n * (__n - 1) - __t1x2 AS DOUBLE))
                       * sqrt(CAST(__n * (__n - 1) - __t2x2
                                   AS DOUBLE))) END AS __tb,
               CAST(__conc - __disc AS DOUBLE) AS __s,
               CAST(__n AS BIGINT) AS __nn
        FROM __cd CROSS JOIN __tx CROSS JOIN __ty
    )
    SELECT n, concordant, discordant,
           round(__tb * 1e6, 0) / 1e6 AS tau_b,
           round({z_expr} * 1e6, 0) / 1e6 AS z,
           round(CAST(2 AS DOUBLE)
                 * {_phi_tail_sql(f"abs({z_expr})")}
                 * 1e6, 0) / 1e6 AS p_value
    FROM __staged
    """


def spearman_approx(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_bins: int = 4096,
) -> DataFrame:
    """Scale-safe approximate Spearman rank correlation between two
    numeric columns: each column passes through the HISTOGRAM-SKETCH
    rank transform (the q156 device — no global sort at any scale),
    ranks are micro-unit-rounded to integers, and the correlation is
    the EXACT integer Pearson of those ranks:

        rho = (n*Sxy - Sx*Sy)
              / (sqrt(n*Sxx - Sx^2) * sqrt(n*Syy - Sy^2))

    Returns one row: ``(n, spearman)``; NULL on zero variance.

    Exactness: rank assignment is per-row scalar IEEE (identical text
    both engines); all five moment sums fold exact DECIMAL(38)/
    HUGEINT integers; two sqrts multiply in double, one division.

    Scale: two sketch passes (broadcast stats + tiny CDF joins — the
    fact frame never sorts or shuffles) and ONE 5-value moment agg.
    """
    from pytrousse_spark.operators.transforms import (
        percent_rank_transform_approx,
    )

    base = df.where(
        F.col(x_col).isNotNull() & F.col(y_col).isNotNull()
    ).select(
        F.col(x_col).alias("__vx"),
        F.col(y_col).alias("__vy"),
        F.lit(1).alias("__grp"),
    )
    # chaining two rank passes on unmaterialized lineage compounds each
    # pass's two broadcast subtrees into ~9 re-executions of the source
    # scan (r12 plan audit: 50 scans); checkpoint the staged projection
    # and the first pass's output so the fact scan runs once
    base = stage(base)
    rx = stage(percent_rank_transform_approx(
        base, "__grp", "__vx", out_col="__rx", num_bins=num_bins
    ))
    rxy = percent_rank_transform_approx(
        rx, "__grp", "__vy", out_col="__ry", num_bins=num_bins
    )
    staged = rxy.select(
        to_fixed(F.col("__rx"), 6, wide=True).alias("__x"),
        to_fixed(F.col("__ry"), 6, wide=True).alias("__y"),
    )
    mom = staged.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__sxy"),
    )
    n = F.col("__n")
    num = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    dx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    dy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    den = F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))
    return mom.select(
        n.cast("bigint").alias("n"),
        round_to(
            F.when((dx > 0) & (dy > 0), num.cast("double") / den),
            6,
        ).alias("spearman"),
    )


def spearman_approx_sql(
    table_expr: str,
    x_col: str,
    y_col: str,
    num_bins: int = 4096,
) -> str:
    """DuckDB twin of :func:`spearman_approx` — replays both sketch
    rank passes and the exact integer Pearson."""
    from pytrousse_spark.operators.transforms import (
        percent_rank_transform_approx_sql,
    )

    rx = percent_rank_transform_approx_sql(
        "__spbase", "__grp", "__vx", out_col="__rx", num_bins=num_bins
    )
    ry = percent_rank_transform_approx_sql(
        "__sprx", "__grp", "__vy", out_col="__ry", num_bins=num_bins
    )
    return f"""
    WITH __spbase AS MATERIALIZED (
        SELECT {x_col} AS __vx, {y_col} AS __vy, 1 AS __grp
        FROM ({table_expr})
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
    ), __sprx AS MATERIALIZED (
        {rx}
    ), __spr AS MATERIALIZED (
        {ry}
    ), __staged AS (
        SELECT CAST(round(__rx * 1e6, 0) AS HUGEINT) AS __x,
               CAST(round(__ry * 1e6, 0) AS HUGEINT) AS __y
        FROM __spr
    ), __mom AS (
        SELECT CAST(count(*) AS HUGEINT) AS __n,
               CAST(sum(__x) AS HUGEINT) AS __sx,
               CAST(sum(__y) AS HUGEINT) AS __sy,
               CAST(sum(__x * __x) AS HUGEINT) AS __sxx,
               CAST(sum(__y * __y) AS HUGEINT) AS __syy,
               CAST(sum(__x * __y) AS HUGEINT) AS __sxy
        FROM __staged
    )
    SELECT CAST(__n AS BIGINT) AS n,
           round(CASE WHEN __n * __sxx - __sx * __sx > 0
                       AND __n * __syy - __sy * __sy > 0 THEN
                 CAST(__n * __sxy - __sx * __sy AS DOUBLE)
                 / (sqrt(CAST(__n * __sxx - __sx * __sx AS DOUBLE))
                    * sqrt(CAST(__n * __syy - __sy * __sy
                                AS DOUBLE))) END * 1e6, 0) / 1e6
               AS spearman
    FROM __mom
    """


def numeric_mutual_information(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_bins: int = 32,
) -> DataFrame:
    """Mutual information between two NUMERIC columns via a 2-D
    equi-width histogram (the continuous companion of the categorical
    MI gate q187) — the model-free dependence screen that catches what
    Pearson misses (nonlinear, non-monotone association):

        MI = sum_ij p_ij * ln( p_ij / (p_i * p_j) )

    over the B x B occupied cells, in nats, plus the normalized form
    ``nmi = MI / min(H(X), H(Y))`` (NULL when either marginal entropy
    is 0 — a constant column carries no information).

    Returns one row: ``(n, n_cells, mi, nmi)``.

    Exactness: bin assignment is the q100 scalar convention; every MI
    term is ``ln`` of exact integer ratios — written as
    ``ln((c_ij * n) / (r_i * c_j))`` so the argument is ONE division
    of exact integer products — nano-unit-rounded per cell before the
    fold; marginal entropies fold the same way.

    Scale: ONE (binx, biny) count agg (shuffle bounded by B^2);
    marginals derive from the reduced cell frame.
    """
    from pyspark.sql import Window

    xv, yv = F.col(x_col), F.col(y_col)
    nn = df.where(xv.isNotNull() & yv.isNotNull())
    stats = nn.agg(
        F.min(xv).cast("double").alias("__xlo"),
        F.max(xv).cast("double").alias("__xhi"),
        F.min(yv).cast("double").alias("__ylo"),
        F.max(yv).cast("double").alias("__yhi"),
    )
    def _bin(v, lo, hi):
        return F.when(F.col(hi) == F.col(lo), F.lit(0)).otherwise(
            F.least(
                F.floor(
                    (v.cast("double") - F.col(lo))
                    / (F.col(hi) - F.col(lo))
                    * num_bins
                ).cast("long"),
                F.lit(num_bins - 1),
            )
        )
    cells = (
        nn.join(F.broadcast(stats), how="cross")
        .select(
            _bin(xv, "__xlo", "__xhi").alias("__bx"),
            _bin(yv, "__ylo", "__yhi").alias("__by"),
        )
        .groupBy("__bx", "__by")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    wx = Window.partitionBy("__bx")
    wy = Window.partitionBy("__by")
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = cells.select(
        "__c",
        F.sum("__c").over(wx).cast("bigint").alias("__r"),
        F.sum("__c").over(wy).cast("bigint").alias("__k"),
        F.sum("__c").over(tot).cast("bigint").alias("__n"),
    )
    cd = F.col("__c").cast("double")
    nd = F.col("__n").cast("double")
    # products widen to DECIMAL(38)/HUGEINT before the double cast —
    # c*n and r*k exceed int64 once n passes ~3e9 rows
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    mi_term = to_fixed(
        cd
        / nd
        * F.log(
            (dec(F.col("__c")) * dec(F.col("__n"))).cast("double")
            / (dec(F.col("__r")) * dec(F.col("__k"))).cast("double")
        ),
        9,
    )
    # marginal entropy terms de-duplicated: charge each cell its
    # share so one pass suffices: H(X) = -sum_i r_i/n ln(r_i/n)
    # = -sum_cells c/r * (r/n ln(r/n))... simpler: sum over cells of
    # (c/n) * ln(n/r) — each cell contributes its own mass
    hx_term = to_fixed(cd / nd * F.log(nd / F.col("__r").cast("double")), 9)
    hy_term = to_fixed(cd / nd * F.log(nd / F.col("__k").cast("double")), 9)
    agg = staged.select(
        "__n",
        mi_term.alias("__mi"),
        hx_term.alias("__hx"),
        hy_term.alias("__hy"),
    ).groupBy("__n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.sum("__mi").cast("bigint").alias("__smi"),
        F.sum("__hx").cast("bigint").alias("__shx"),
        F.sum("__hy").cast("bigint").alias("__shy"),
    )
    mi = from_fixed(F.col("__smi"), 9)
    hmin = from_fixed(F.least(F.col("__shx"), F.col("__shy")), 9)
    return agg.select(
        F.col("__n").alias("n"),
        "n_cells",
        round_to(mi, 6).alias("mi"),
        round_to(
            F.when(
                F.least(F.col("__shx"), F.col("__shy")) > 0, mi / hmin
            ),
            6,
        ).alias("nmi"),
    )


def numeric_mutual_information_sql(
    table_expr: str,
    x_col: str,
    y_col: str,
    num_bins: int = 32,
) -> str:
    """DuckDB twin of :func:`numeric_mutual_information`."""
    def bin_sql(v, lo, hi):
        return (
            f"CASE WHEN s.{hi} = s.{lo} THEN 0 ELSE "
            f"least(CAST(floor((CAST(t.{v} AS DOUBLE) - s.{lo})"
            f" / (s.{hi} - s.{lo}) * {num_bins}) AS BIGINT),"
            f" {num_bins - 1}) END"
        )
    return f"""
    WITH __nn AS (
        SELECT {x_col}, {y_col} FROM ({table_expr})
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
    ), __st AS (
        SELECT CAST(min({x_col}) AS DOUBLE) AS __xlo,
               CAST(max({x_col}) AS DOUBLE) AS __xhi,
               CAST(min({y_col}) AS DOUBLE) AS __ylo,
               CAST(max({y_col}) AS DOUBLE) AS __yhi
        FROM __nn
    ), __cells AS (
        SELECT {bin_sql(x_col, "__xlo", "__xhi")} AS __bx,
               {bin_sql(y_col, "__ylo", "__yhi")} AS __by,
               CAST(count(*) AS BIGINT) AS __c
        FROM __nn t CROSS JOIN __st s
        GROUP BY 1, 2
    ), __staged AS (
        SELECT __c,
               CAST(sum(__c) OVER (PARTITION BY __bx) AS BIGINT)
                   AS __r,
               CAST(sum(__c) OVER (PARTITION BY __by) AS BIGINT)
                   AS __k,
               CAST(sum(__c) OVER () AS BIGINT) AS __n
        FROM __cells
    ), __agg AS (
        SELECT __n, CAST(count(*) AS BIGINT) AS n_cells,
               CAST(sum(CAST(round(CAST(__c AS DOUBLE)
                    / CAST(__n AS DOUBLE)
                    * ln(CAST(CAST(__c AS HUGEINT)
                              * CAST(__n AS HUGEINT) AS DOUBLE)
                         / CAST(CAST(__r AS HUGEINT)
                                * CAST(__k AS HUGEINT) AS DOUBLE))
                    * 1e9, 0)
                    AS BIGINT)) AS BIGINT) AS __smi,
               CAST(sum(CAST(round(CAST(__c AS DOUBLE)
                    / CAST(__n AS DOUBLE)
                    * ln(CAST(__n AS DOUBLE)
                         / CAST(__r AS DOUBLE)) * 1e9, 0)
                    AS BIGINT)) AS BIGINT) AS __shx,
               CAST(sum(CAST(round(CAST(__c AS DOUBLE)
                    / CAST(__n AS DOUBLE)
                    * ln(CAST(__n AS DOUBLE)
                         / CAST(__k AS DOUBLE)) * 1e9, 0)
                    AS BIGINT)) AS BIGINT) AS __shy
        FROM __staged
        GROUP BY 1
    )
    SELECT __n AS n, n_cells,
           round(CAST(__smi AS DOUBLE) / 1e9 * 1e6, 0) / 1e6 AS mi,
           round(CASE WHEN least(__shx, __shy) > 0 THEN
                 (CAST(__smi AS DOUBLE) / 1e9)
                 / (CAST(least(__shx, __shy) AS DOUBLE) / 1e9) END
                 * 1e6, 0) / 1e6 AS nmi
    FROM __agg
    """


def wasserstein1_binned(
    ref: DataFrame,
    cur: DataFrame,
    col: str,
    num_bins: int = 256,
) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between two samples of a
    numeric column on POOLED-EDGE equi-width bins — the drift measure
    with UNITS (how far, in the column's own units, mass must move),
    complementing PSI (q142: dimensionless, eps-floored) and KS (q186:
    max CDF gap, unit-free):

        W1 ~= binwidth * sum_b |CDF_ref(b) - CDF_cur(b)|

    Returns one row: ``(n_ref, n_cur, lo, hi, w1)``.

    Exactness: with common denominator ``n_ref * n_cur`` every CDF
    difference is the exact integer prefix sum of
    ``c_ref * n_cur - c_cur * n_ref`` (DECIMAL(38)/HUGEINT); the fold
    is |integer| sums, and ONE multiply/divide converts to units.

    Scale: one bin-keyed count agg per side (map-side combinable,
    shuffle bounded by B), prefix sums on the B-row grid.
    """
    from pyspark.sql import Window

    v = F.col(col)
    r = ref.where(v.isNotNull()).select(v.cast("double").alias("__v"))
    c = cur.where(v.isNotNull()).select(v.cast("double").alias("__v"))
    pooled = r.unionByName(c)
    # one row; feeds both histogram passes AND the grid — checkpoint
    # so the pooled two-table scan runs once, not 3x
    stats = stage(pooled.agg(
        F.min("__v").alias("__lo"), F.max("__v").alias("__hi")
    ))
    def hist(df, name):
        b = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
            F.least(
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo"))
                    * num_bins
                ).cast("long"),
                F.lit(num_bins - 1),
            )
        )
        return (
            df.join(F.broadcast(stats), how="cross")
            .select(b.alias("__b"))
            .groupBy("__b")
            .agg(F.count(F.lit(1)).cast("bigint").alias(name))
        )
    hr = hist(r, "__cr")
    hc = hist(c, "__cc")
    grid = (
        stats.select(
            F.explode(
                F.expr(f"sequence(0, {num_bins - 1})")
            ).alias("__b"),
            "__lo",
            "__hi",
        )
        .join(hr, "__b", "left")
        .join(hc, "__b", "left")
        .select(
            "__b",
            "__lo",
            "__hi",
            F.coalesce(F.col("__cr"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__cr"),
            F.coalesce(F.col("__cc"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__cc"),
        )
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    wpre = Window.orderBy("__b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    staged = grid.select(
        "__b",
        "__lo",
        "__hi",
        F.sum("__cr").over(tot).cast("decimal(38,0)").alias("__nr"),
        F.sum("__cc").over(tot).cast("decimal(38,0)").alias("__nc"),
        F.sum("__cr").over(wpre).cast("decimal(38,0)").alias("__pr"),
        F.sum("__cc").over(wpre).cast("decimal(38,0)").alias("__pc"),
    )
    diff = F.abs(
        F.col("__pr") * F.col("__nc") - F.col("__pc") * F.col("__nr")
    )
    agg = staged.groupBy("__nr", "__nc", "__lo", "__hi").agg(
        F.sum(diff).alias("__sd")
    )
    w1 = (
        F.col("__sd").cast("double")
        / (F.col("__nr") * F.col("__nc")).cast("double")
        * (F.col("__hi") - F.col("__lo"))
        / F.lit(float(num_bins))
    )
    return agg.select(
        F.col("__nr").cast("bigint").alias("n_ref"),
        F.col("__nc").cast("bigint").alias("n_cur"),
        round_to(F.col("__lo"), 6).alias("lo"),
        round_to(F.col("__hi"), 6).alias("hi"),
        round_to(
            F.when(
                (F.col("__nr") > 0)
                & (F.col("__nc") > 0)
                & (F.col("__hi") > F.col("__lo")),
                w1,
            ).otherwise(F.lit(0.0)),
            6,
        ).alias("w1"),
    )


def wasserstein1_binned_sql(
    ref_expr: str,
    cur_expr: str,
    col: str,
    num_bins: int = 256,
) -> str:
    """DuckDB twin of :func:`wasserstein1_binned`."""
    return f"""
    WITH __r AS MATERIALIZED (
        SELECT CAST({col} AS DOUBLE) AS __v FROM ({ref_expr})
        WHERE {col} IS NOT NULL
    ), __c AS MATERIALIZED (
        SELECT CAST({col} AS DOUBLE) AS __v FROM ({cur_expr})
        WHERE {col} IS NOT NULL
    ), __st AS (
        SELECT min(__v) AS __lo, max(__v) AS __hi
        FROM (SELECT __v FROM __r UNION ALL SELECT __v FROM __c)
    ), __hr AS (
        SELECT CASE WHEN s.__hi = s.__lo THEN 0 ELSE
               least(CAST(floor((t.__v - s.__lo)
                     / (s.__hi - s.__lo) * {num_bins}) AS BIGINT),
                     {num_bins - 1}) END AS __b,
               CAST(count(*) AS BIGINT) AS __cr
        FROM __r t CROSS JOIN __st s GROUP BY 1
    ), __hc AS (
        SELECT CASE WHEN s.__hi = s.__lo THEN 0 ELSE
               least(CAST(floor((t.__v - s.__lo)
                     / (s.__hi - s.__lo) * {num_bins}) AS BIGINT),
                     {num_bins - 1}) END AS __b,
               CAST(count(*) AS BIGINT) AS __cc
        FROM __c t CROSS JOIN __st s GROUP BY 1
    ), __grid AS (
        SELECT g.__b, s.__lo, s.__hi,
               CAST(COALESCE(r.__cr, 0) AS HUGEINT) AS __cr,
               CAST(COALESCE(c.__cc, 0) AS HUGEINT) AS __cc
        FROM (SELECT CAST(unnest(range(0, {num_bins})) AS BIGINT)
                  AS __b) g
        CROSS JOIN __st s
        LEFT JOIN __hr r ON r.__b = g.__b
        LEFT JOIN __hc c ON c.__b = g.__b
    ), __staged AS (
        SELECT __b, __lo, __hi,
               CAST(sum(__cr) OVER () AS HUGEINT) AS __nr,
               CAST(sum(__cc) OVER () AS HUGEINT) AS __nc,
               CAST(sum(__cr) OVER (ORDER BY __b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS __pr,
               CAST(sum(__cc) OVER (ORDER BY __b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS HUGEINT) AS __pc
        FROM __grid
    ), __agg AS (
        SELECT __nr, __nc, __lo, __hi,
               CAST(sum(abs(__pr * __nc - __pc * __nr)) AS HUGEINT)
                   AS __sd
        FROM __staged GROUP BY 1, 2, 3, 4
    )
    SELECT CAST(__nr AS BIGINT) AS n_ref,
           CAST(__nc AS BIGINT) AS n_cur,
           round(__lo * 1e6, 0) / 1e6 AS lo,
           round(__hi * 1e6, 0) / 1e6 AS hi,
           round(CASE WHEN __nr > 0 AND __nc > 0 AND __hi > __lo THEN
                 CAST(__sd AS DOUBLE)
                 / CAST(__nr * __nc AS DOUBLE)
                 * (__hi - __lo) / CAST({float(num_bins)} AS DOUBLE)
                 ELSE CAST(0 AS DOUBLE) END * 1e6, 0) / 1e6 AS w1
    FROM __agg
    """
