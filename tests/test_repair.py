"""R1-R6 repair semantics + datasim-style error-injection round trip
(FIXTURES.md §4)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pytrousse_spark import from_df
from pytrousse_spark.functions.numeric_repair import repair_expr, repair_sql
from pytrousse_spark.operators.repair import RowFix, check_numeric_cols, error_census


CASES = [
    ("1.5", 1.5), ("2,5", 2.5), ("36°", 36.0), ("3", 3.0),
    (">200", 204.0), ("<50", 49.0),              # ±2% out-of-scale
    ("12%", None),                                # percentage → NULL
    ("---", None), (".", None), ("NV", None), ("Error", None),
    ("None", None), ("NAN", None), ("-", None),
    ("ASSENTI", None), ("PRESENTI", None), ("non disponibile", None),
    ("garbage", None), (None, None),
]


def test_repair_cascade_values(spark):
    df = spark.createDataFrame([(v,) for v, _ in CASES], "v string")
    got = {
        r["v"]: r["fixed"]
        for r in df.select("v", repair_expr(F.col("v")).alias("fixed")).collect()
    }
    for v, expect in CASES:
        assert got[v] == (pytest.approx(expect) if expect is not None else None), v


def test_repair_sql_twin_matches(spark, duck):
    """The DuckDB emission of the cascade gives identical results."""
    df = spark.createDataFrame([(v,) for v, _ in CASES if v is not None], "v string")
    spark_got = {
        r["v"]: r["fixed"]
        for r in df.select("v", repair_expr(F.col("v")).alias("fixed")).collect()
    }
    values = ", ".join(f"('{v}')" for v, _ in CASES if v is not None)
    duck_got = dict(
        duck.sql(
            f"SELECT v, {repair_sql('v')} AS fixed FROM (VALUES {values}) t(v)"
        ).fetchall()
    )
    assert spark_got == duck_got


def test_check_numeric_cols_threshold(spark):
    # 3/4 parse (>0.4) vs 1/4 (<0.4)
    df = spark.createDataFrame(
        [("1", "x"), ("2", "y"), ("3", "z"), ("bad", "4")],
        ["mostly_num", "mostly_str"],
    )
    ds = from_df(df)
    assert check_numeric_cols(ds, ("mostly_num", "mostly_str")) == ["mostly_num"]


def test_check_numeric_cols_reads_cached_profile(spark):
    """With a cached profile the ratios come from it, with no Spark job,
    and the answer equals the aggregation path's."""
    df = spark.createDataFrame(
        [
            ("1", None, "a", "1", 1),
            ("2.5", None, "2", "x", 2),
            ("3e2", None, "b", "3", 3),
            (None, None, "c", "4", 4),
        ],
        "num string, nulls string, mixed_low string, mixed_high string, n int",
    )
    cols = ("num", "nulls", "mixed_low", "mixed_high")
    aggregated = check_numeric_cols(from_df(df), cols)
    ds = from_df(df)
    ds.profile  # noqa: B018 — caches the profile
    sc = spark.sparkContext
    try:
        sc.setJobGroup("check-numeric-cached", "check_numeric_cols")
        cached = check_numeric_cols(ds, cols)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert cached == aggregated == ["num", "mixed_high"]
    assert sc.statusTracker().getJobIdsForGroup("check-numeric-cached") == []
    # a non-string column has no profile ratio: it still aggregates
    assert check_numeric_cols(ds, ("n", "mixed_low")) == ["n"]


def test_error_census(spark):
    df = spark.createDataFrame(
        [("1",), ("oops",), ("zap",), ("oops",), ("NV",), ("2,5",)], "c string"
    )
    before, values, after = error_census(df, ("c",))
    # errors_before: every non-float-convertible value, INCLUDING the fixable
    # typo '2,5' and the whole-word-mapped 'NV' (reference float() failure)
    assert before["c"] == 5
    assert values["c"] == ["2,5", "NV", "oops", "zap"]
    # errors_after: only values the full cascade cannot convert
    assert after["c"] == 3


def test_fix_common_errors_end_to_end(spark):
    # mostly-clean numeric strings with injected typos (datasim stride style)
    clean = [str(float(i)) for i in range(20)]
    dirty = list(clean)
    dirty[0] = "0,0"      # char typo
    dirty[5] = "5°"       # char typo
    dirty[10] = "---"     # whole-word NULL
    dirty[15] = ">15"     # out of scale
    df = spark.createDataFrame([(v,) for v in dirty], "num string")
    fix = RowFix()
    out = fix.fix_common_errors(from_df(df), set_to_correct_dtype=False)
    got = [r["num"] for r in out.df.collect()]
    expect = [float(i) for i in range(20)]
    expect[10] = None
    expect[15] = 15 * 1.02
    assert got == [pytest.approx(e) if e is not None else None for e in expect]
    # all four injected typos count as errors BEFORE correction...
    assert fix.report.before_count["num"] == 4
    # ...and the cascade fixes every one of them
    assert fix.report.after_count["num"] == 0
    assert fix.count_errors()["errors_after"] == 0


def test_fix_common_errors_profiles_only_repaired_columns(spark, monkeypatch):
    """After the repair, only the repaired columns are profiled again;
    the carried profile equals a fresh one and the result equals the
    re-profiling path's (schema and rows)."""
    from pytrousse_spark import profiling

    dirty = [str(float(i)) for i in range(20)]
    dirty[3], dirty[7] = "3,0", "---"
    df = spark.createDataFrame(
        [(dirty[i], i, float(i % 4), i % 2, f"s{i % 3}") for i in range(20)],
        "num string, n int, whole double, b01 int, cat string",
    )
    ds = from_df(df)
    p = ds.profile
    seen = []
    real = profiling.profile
    monkeypatch.setattr(
        profiling,
        "profile",
        lambda d, m=frozenset(): seen.append(d.columns) or real(d, m),
    )
    out = RowFix().fix_common_errors(ds)
    assert seen == [["num"]]
    monkeypatch.undo()

    fix = RowFix()
    fixed = fix.fix_typos(ds, ("num",))
    carried = profiling.profile_changed(
        fixed.df, ("num",), p, fixed.metadata_cols
    )
    assert carried == fixed.profile
    ref = fix.cols_to_correct_dtype(fixed)
    assert out.df.schema == ref.df.schema
    by_n = lambda rows: sorted(rows, key=lambda r: r["n"])  # noqa: E731
    assert by_n(out.df.collect()) == by_n(ref.df.collect())


def test_cols_to_correct_dtype(spark):
    df = spark.createDataFrame(
        [(1.0, 0, 2.5), (2.0, 1, 3.5), (3.0, 0, 4.5)],
        "int_like double, b01 int, frac double",
    )
    fix = RowFix()
    out = fix.cols_to_correct_dtype(from_df(df))
    types = dict(out.df.dtypes)
    assert types["int_like"] == "int"      # integral doubles → int (Int32 parity)
    assert types["b01"] == "boolean"       # {0,1} → bool
    assert types["frac"] == "double"


def test_winsorize_clips_only_tails(spark):
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.repair import winsorize

    vals = [float(v) for v in range(1, 21)] + [1000.0]
    df = spark.createDataFrame([("g", v) for v in vals], ["k", "v"])
    out = winsorize(df, "k", "v", 0.05, 0.95).collect()
    by_v = {r["v"]: r["v_w"] for r in out}
    assert by_v[1000.0] < 1000.0      # upper tail clipped
    assert by_v[10.0] == 10.0         # interior untouched
    assert by_v[1.0] > 1.0            # lower tail clipped
    # clipped column is monotone in the raw column
    s = sorted(out, key=lambda r: r["v"])
    assert all(a["v_w"] <= b["v_w"] for a, b in zip(s, s[1:]))
