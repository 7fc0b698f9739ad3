"""Profile-surface tests, porting the reference's df_multi_type expectations
(tests/integration/test_dataset.py:156-285 via FIXTURES.md §2)."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import Row

from pytrousse_spark import from_df


def _multi_type_ds(spark, n=20):
    """FIXTURES.md df_multi_type analog (Spark-typed where possible)."""
    rows = []
    for i in range(n):
        rows.append(
            Row(
                metadata_num_col=i,
                bool_col=i % 5 < 3,
                string_col=f"value_{i}",
                str_categorical_col=f"category_{i % 5}",
                int_categorical_col=i % 5,
                float_col=0.05 * i,
                int_col=i,
                datetime_col=datetime.date(2000 + i % 30, 8, 1),
                mixed_type_col=str(i) if i < n // 2 else f"value_{i}",
                same_col=2,
                nan_col=3.0 if i == 0 else None,
            )
        )
    return from_df(spark.createDataFrame(rows), metadata_cols=("metadata_num_col",))


def test_multi_type_classification(spark):
    ds = _multi_type_ds(spark)
    assert ds.mixed_type_columns == {"mixed_type_col"}
    assert ds.constant_cols == {"same_col"}
    assert "bool_col" in ds.bool_columns
    assert {"int_col", "float_col", "int_categorical_col", "nan_col"} <= ds.numerical_columns
    assert "bool_col" in ds.numerical_columns  # FIXTURES.md expected profile
    assert ds.str_columns == {"string_col", "str_categorical_col"}
    assert ds.str_categorical_columns == {"str_categorical_col"}
    assert {"int_categorical_col", "nan_col"} <= ds.num_categorical_columns
    assert "datetime_col" in ds.other_type_columns


def test_med_exam_col_list_excludes_metadata_and_constant(spark):
    ds = _multi_type_ds(spark)
    med = ds.med_exam_col_list
    assert "metadata_num_col" not in med
    assert "same_col" not in med
    assert {"int_col", "float_col", "bool_col", "nan_col"} <= med


def test_nan_and_trivial_columns(spark):
    df = spark.createDataFrame(
        [(None, 1.0, 4.0), (None, None, 4.0), (None, 1.0, 4.0), (None, 1.0, 4.0)],
        "all_nan double, some_nan double, const double",
    )
    ds = from_df(df)
    assert ds.nan_columns(0.9) == {"all_nan"}
    assert ds.nan_columns(0.2) == {"all_nan", "some_nan"}
    assert ds.constant_cols == {"all_nan", "const"}
    assert ds.trivial_columns == {"all_nan", "const"}


def test_categorical_heuristic_thresholds(spark):
    # nunique<7 always categorical; at 3000 rows, 8 distinct < 3000//300=10.
    rows = [(f"v{i % 8}",) for i in range(3000)]
    ds = from_df(spark.createDataFrame(rows, "c8 string"))
    assert ds.str_categorical_columns == {"c8"}
    rows = [(f"v{i % 8}",) for i in range(100)]  # 8 >= 7 and 8 >= 100//300
    ds = from_df(spark.createDataFrame(rows, "c8 string"))
    assert ds.str_categorical_columns == frozenset()


def test_bool01_detection(spark):
    df = spark.createDataFrame([(0,), (1,), (0,), (1,)], "b01 int")
    ds = from_df(df)
    assert ds.bool_columns == {"b01"}
    assert "b01" in ds.numerical_columns


def test_duplicated_columns_check(spark):
    from pytrousse_spark.exceptions import DuplicatedColumnError

    df = spark.createDataFrame([(1, 2)], ["a", "b"]).toDF("x", "x")
    ds = from_df(df)
    with pytest.raises(DuplicatedColumnError):
        ds.check_duplicated_features()


def test_mixed_detection_on_real_strings(spark):
    df = spark.createDataFrame(
        [("1",), ("2",), ("x",), ("4",)], "m string"
    )
    ds = from_df(df)
    assert ds.mixed_type_columns == {"m"}
    assert ds.to_be_fixed_cols == {"m"}
    # fully-numeric strings classify as numerical, not mixed
    df2 = spark.createDataFrame([("1",), ("2.5",)], "n string")
    assert from_df(df2).numerical_columns == {"n"}


def test_correlation_matrix_laws(spark):
    """Perfect linear relation -> 1.0; sign flip -> -1.0; constant
    column -> NULL; values match numpy to 1e-6."""
    from pytrousse_spark.profiling import correlation_matrix

    rows = [(float(i), 2.0 * i + 3, -1.0 * i, 7.0) for i in range(50)]
    df = spark.createDataFrame(rows, ["x", "y", "z", "c"])
    got = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in correlation_matrix(df, ["x", "y", "z", "c"]).collect()
    }
    assert got[("x", "y")] == 1.0
    assert got[("x", "z")] == -1.0
    assert got[("x", "c")] is None  # zero variance
    import numpy as np

    from pytrousse_spark.io import read_parquet_df
    from tests.conftest import SF_DIR

    li = read_parquet_df(spark, f"{SF_DIR}/lineitem.parquet")
    cols = ["l_quantity", "l_extendedprice", "l_discount"]
    pdf = li.select(cols).toPandas()
    ref = np.corrcoef(pdf.values.T)
    got2 = {
        (r["col_a"], r["col_b"]): r["corr"]
        for r in correlation_matrix(li, cols).collect()
    }
    for i, a in enumerate(cols):
        for j, b in enumerate(cols):
            if i < j:
                assert abs(got2[(a, b)] - ref[i, j]) < 1e-6


def test_psi_identical_distribution_is_zero(spark):
    from pytrousse_spark.profiling import psi_drift

    df = spark.range(0, 1000).selectExpr("CAST(id % 10 AS DOUBLE) AS x")
    out = {r["feature"]: r for r in psi_drift(df, df, ["x"]).collect()}
    assert out["x"]["psi"] == 0.0
    assert out["x"]["drifted"] is False
    assert out["x"]["n_ref"] == 1000 and out["x"]["n_cur"] == 1000


def test_psi_shifted_distribution_alarms(spark):
    from pytrousse_spark.profiling import psi_drift

    ref = spark.range(0, 1000).selectExpr("CAST(id % 10 AS DOUBLE) AS x")
    cur = spark.range(0, 1000).selectExpr(
        "CAST(5 + (id % 5) AS DOUBLE) AS x"  # mass collapses to upper half
    )
    out = {r["feature"]: r for r in psi_drift(ref, cur, ["x"]).collect()}
    assert out["x"]["psi"] > 0.2
    assert out["x"]["drifted"] is True


def test_psi_null_bin_counts(spark):
    from pytrousse_spark.profiling import psi_drift

    ref = spark.createDataFrame([(1.0,), (2.0,), (None,)], "x double")
    cur = spark.createDataFrame([(1.0,), (2.0,), (2.0,)], "x double")
    out = {r["feature"]: r for r in psi_drift(ref, cur, ["x"]).collect()}
    # NULLs participate (own bin): totals count all rows
    assert out["x"]["n_ref"] == 3 and out["x"]["n_cur"] == 3
    assert out["x"]["psi"] > 0.0


def test_contingency_chi2_independent_and_dependent(spark):
    import pytest as _pytest

    from pytrousse_spark.profiling import contingency_chi2

    # perfectly independent 2x2: equal cell counts -> chi2 == 0
    rows = [("x", "p")] * 10 + [("x", "q")] * 10 \
        + [("y", "p")] * 10 + [("y", "q")] * 10
    df = spark.createDataFrame(rows, "a string, b string")
    (r,) = contingency_chi2(df, "a", "b").collect()
    assert r["chi2"] == 0.0 and r["dof"] == 1 and r["n"] == 40
    assert r["cramers_v"] == 0.0

    # perfect association: a determines b -> chi2 == n, V == 1
    rows = [("x", "p")] * 15 + [("y", "q")] * 15
    df = spark.createDataFrame(rows, "a string, b string")
    (r,) = contingency_chi2(df, "a", "b").collect()
    assert r["chi2"] == _pytest.approx(30.0, abs=1e-6)
    assert r["cramers_v"] == _pytest.approx(1.0, abs=1e-6)


def test_contingency_chi2_absent_cells_contribute(spark):
    from pytrousse_spark.profiling import contingency_chi2

    # (y, q) never observed: its expected count still enters chi2
    rows = [("x", "p")] * 5 + [("x", "q")] * 5 + [("y", "p")] * 5
    df = spark.createDataFrame(rows, "a string, b string")
    (r,) = contingency_chi2(df, "a", "b").collect()
    # manual: n=15, ra(x)=10, ra(y)=5, cb(p)=10, cb(q)=5
    # e(x,p)=6.667 e(x,q)=3.333 e(y,p)=3.333 e(y,q)=1.667
    expect = (
        (5 - 20 / 3) ** 2 / (20 / 3)
        + (5 - 10 / 3) ** 2 / (10 / 3)
        + (5 - 10 / 3) ** 2 / (10 / 3)
        + (0 - 5 / 3) ** 2 / (5 / 3)
    )
    import pytest as _pytest

    assert r["chi2"] == _pytest.approx(expect, abs=1e-5)


def test_gini_sketch_vs_exact_rank_formula(spark):
    import random

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pytrousse_spark.profiling import gini_sketch

    rng = random.Random(11)
    vals = [rng.paretovariate(1.5) for _ in range(5000)]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    (r,) = gini_sketch(df, "v", num_bins=1024).collect()
    # exact Gini by the rank formula: G = (2*sum(i*x_i))/(n*sum x) - (n+1)/n
    xs = sorted(vals)
    n = len(xs)
    exact = 2 * sum((i + 1) * x for i, x in enumerate(xs)) / (
        n * sum(xs)
    ) - (n + 1) / n
    assert r["n"] == n
    assert r["gini"] == _pytest.approx(exact, abs=0.01)


def test_gini_sketch_extremes(spark):
    import pytest as _pytest

    from pytrousse_spark.profiling import gini_sketch

    # perfect equality -> 0
    eq = spark.createDataFrame([(10.0,)] * 100, "v double")
    (r,) = gini_sketch(eq, "v").collect()
    assert r["gini"] == 0.0
    # extreme concentration: one holder of all mass -> ~1
    conc = spark.createDataFrame(
        [(0.0,)] * 999 + [(1000.0,)], "v double"
    )
    (r,) = gini_sketch(conc, "v").collect()
    assert r["gini"] == _pytest.approx(0.999, abs=0.01)


def test_entropy_profile_laws(spark):
    import math

    import pytest as _pytest

    from pytrousse_spark.profiling import entropy_profile

    rows = [("a", "u", None)] * 4 + [("b", "u", None)] * 4 \
        + [("c", "u", None)] * 4 + [("d", "u", None)] * 4
    df = spark.createDataFrame(rows, "uniform string, constant string, nul string")
    out = {
        r["feature"]: r
        for r in entropy_profile(df, ["uniform", "constant", "nul"]).collect()
    }
    # uniform over 4 values: H = ln 4, normalized 1
    assert out["uniform"]["entropy_nats"] == _pytest.approx(
        math.log(4), abs=1e-5
    )
    assert out["uniform"]["norm_entropy"] == _pytest.approx(1.0, abs=1e-5)
    # constant column: H = 0, normalized NULL
    assert out["constant"]["entropy_nats"] == 0.0
    assert out["constant"]["norm_entropy"] is None
    # all-NULL column: NULL is one category -> constant
    assert out["nul"]["n_distinct"] == 1
    assert out["nul"]["entropy_nats"] == 0.0


def test_hill_tail_index_recovers_pareto(spark):
    """Planted Pareto(alpha=1.5): the Hill estimate over the top-500 of
    20k draws lands within 15% of the true index; a light-tailed
    (bounded-ish uniform) column reads much heavier alpha."""
    import random

    from pytrousse_spark.profiling import hill_tail_index

    rng = random.Random(11)
    par = spark.createDataFrame(
        [(rng.paretovariate(1.5),) for _ in range(20000)], ["x"]
    )
    a = hill_tail_index(par, "x", 500).collect()[0]
    assert abs(a["alpha"] - 1.5) < 0.225
    assert a["se"] < a["alpha"] * 0.1
    uni = spark.createDataFrame(
        [(1.0 + rng.random(),) for _ in range(5000)], ["x"]
    )
    b = hill_tail_index(uni, "x", 200).collect()[0]
    assert b["alpha"] > 10  # light tail reads a large index


def test_hill_tail_index_edges(spark):
    import pytest as _pytest

    from pytrousse_spark.profiling import hill_tail_index

    df = spark.createDataFrame([(1.0,), (2.0,), (None,), (-3.0,)], ["x"])
    with _pytest.raises(ValueError):
        hill_tail_index(df, "x", 1)
    # non-positive and NULL excluded; k larger than the data still works
    out = hill_tail_index(df, "x", 10).collect()
    assert len(out) == 1 and out[0]["x_threshold"] == 1.0


def test_hill_tail_index_small_sample_numerator(spark):
    """r5 ADVICE regression: with m < k+1 positive values the numerator
    is the EFFECTIVE count m-1, not the literal k. Hand check: values
    {1,2,4,8}, k=10 -> threshold 1, terms ln2+ln4+ln8 = 6*ln2, alpha =
    3 / (6 ln 2) ~ 0.721348."""
    import math

    import duckdb

    from pytrousse_spark.profiling import hill_tail_index, hill_tail_index_sql

    df = spark.createDataFrame([(1.0,), (2.0,), (4.0,), (8.0,)], ["x"])
    row = hill_tail_index(df, "x", 10).collect()[0]
    assert row["x_threshold"] == 1.0
    expected = 3.0 / (6.0 * math.log(2.0))
    assert abs(row["alpha"] - expected) < 1e-5
    assert abs(row["se"] - expected / math.sqrt(3.0)) < 1e-5

    # twin agrees on the same frame
    con = duckdb.connect()
    con.sql("CREATE TABLE t AS SELECT * FROM (VALUES (1.0),(2.0),(4.0),(8.0)) v(x)")
    from tests.conftest import assert_df_matches_sql

    assert_df_matches_sql(
        hill_tail_index(df, "x", 10), con, hill_tail_index_sql("SELECT * FROM t", "x", 10)
    )
    con.close()

    # boundary ties with n >= k+1 still use the literal k: {4,3,2,1,1,1},
    # k=3 fetches top-4 = {4,3,2,1}, thr=1, terms ln4+ln3+ln2, alpha=3/sum
    import math as _m

    df2 = spark.createDataFrame(
        [(4.0,), (3.0,), (2.0,), (1.0,), (1.0,), (1.0,)], ["x"]
    )
    r2 = hill_tail_index(df2, "x", 3).collect()[0]
    exp2 = 3.0 / (_m.log(4.0) + _m.log(3.0) + _m.log(2.0))
    assert abs(r2["alpha"] - exp2) < 1e-5


def test_q20_categorical_counts_null_as_unique_value(spark, tmp_path):
    """r5 ADVICE regression: the reference's _get_categorical_cols uses
    len(Series.unique()) which counts NaN as one extra value
    (reference dataset.py:526, dropna=False) — a column with 6 non-null
    distincts PLUS nulls has unique count 7 and is NOT categorical.
    Cross-checked against the pandas formula on a synthesized
    documents table."""
    import pandas as pd

    import __spark_entry__ as entrymod

    n = 40
    langs = ["aa", "bb", "cc", "dd", "ee", "ff"]
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": [f"t{i}" for i in range(n)],
            # 6 non-null distincts + nulls -> unique()=7 -> NOT categorical
            "lang": [
                None if i % 10 == 0 else langs[i % 6] for i in range(n)
            ],
            "source": ["s" for _ in range(n)],  # 1 distinct -> categorical
            "n_chars": [float(i) for i in range(n)],
        }
    )
    pdf.to_parquet(tmp_path / "documents.parquet")
    out = {
        r["col_name"]: r["is_categorical"]
        for r in entrymod.q20_profile(spark, str(tmp_path)).collect()
    }
    for c in ("lang", "source", "n_chars"):
        uv = len(pdf[c].unique())
        expect = uv < 7 or uv < pdf[c].count() // 300
        assert out[c] == expect, (c, uv, out[c], expect)
    assert out["lang"] is False and out["source"] is True


def test_ks_two_sample_laws(spark):
    """Identical samples -> D=0/p=1; disjoint supports -> D=1/p~0;
    a hand-computed 3x3 case gives D=1/3; the bucketed prefix
    decomposition must agree with the plain-window oracle (that IS the
    q186 parity check — here we pin the closed-form values)."""
    from pytrousse_spark.profiling import ks_two_sample

    a = spark.createDataFrame([(float(v),) for v in (1, 2, 3)], "v double")
    b = spark.createDataFrame([(float(v),) for v in (2, 3, 4)], "v double")
    row = ks_two_sample(a, b, "v").collect()[0]
    assert row["n_a"] == 3 and row["n_b"] == 3
    assert abs(row["d_stat"] - 1 / 3) < 1e-6
    assert row["reject"] is False

    same = ks_two_sample(a, a, "v").collect()[0]
    assert same["d_stat"] == 0.0 and same["p_value"] == 1.0
    assert same["reject"] is False

    lo = spark.createDataFrame(
        [(float(v),) for v in range(100)], "v double"
    )
    hi = spark.createDataFrame(
        [(float(v + 1000),) for v in range(100)], "v double"
    )
    far = ks_two_sample(lo, hi, "v").collect()[0]
    assert far["d_stat"] == 1.0
    assert far["p_value"] < 1e-4 and far["reject"] is True


def test_ks_two_sample_bucket_decomposition_invariance(spark):
    """D is identical for 1 bucket (plain cumulative) and many buckets
    (the scale path) — the decomposition is exact, not approximate."""
    from pytrousse_spark.profiling import ks_two_sample

    a = spark.createDataFrame(
        [(float(v % 37),) for v in range(300)], "v double"
    )
    b = spark.createDataFrame(
        [(float((v * 7) % 41),) for v in range(250)], "v double"
    )
    rows = {
        nb: ks_two_sample(a, b, "v", num_buckets=nb).collect()[0]
        for nb in (1, 8, 1024)
    }
    base = rows[1]
    for nb in (8, 1024):
        assert rows[nb]["d_stat"] == base["d_stat"], nb
        assert rows[nb]["p_value"] == base["p_value"], nb


def test_categorical_association_laws(spark):
    """Exact product design -> chi2=0, MI=0, V=0; a bijection ->
    V=1, NMI=1, MI=H; NULL is its own category (dropna=False)."""
    from pytrousse_spark.profiling import categorical_association

    prod = spark.createDataFrame(
        [(x, y) for x in "AB" for y in "CD" for _ in range(5)],
        "x string, y string",
    )
    r = categorical_association(prod, "x", "y").collect()[0]
    assert r["n"] == 20 and r["r"] == 2 and r["c"] == 2
    assert r["chi2"] == 0.0 and r["mi_nats"] == 0.0
    assert r["cramers_v"] == 0.0 and r["nmi"] == 0.0

    bij = spark.createDataFrame(
        [(x, x.lower()) for x in "ABC" for _ in range(4)],
        "x string, y string",
    )
    r = categorical_association(bij, "x", "y").collect()[0]
    assert r["cramers_v"] == 1.0 and r["nmi"] == 1.0
    import math

    assert abs(r["mi_nats"] - math.log(3)) < 1e-6
    # chi2 for a kxk bijection = n*(k-1)
    assert abs(r["chi2"] - 12 * 2) < 1e-6

    withnull = spark.createDataFrame(
        [("A", "C"), ("A", "C"), (None, "D"), (None, "D")],
        "x string, y string",
    )
    r = categorical_association(withnull, "x", "y").collect()[0]
    assert r["r"] == 2 and r["c"] == 2  # NULL class counted
    assert r["cramers_v"] == 1.0


def test_mann_whitney_laws(spark):
    """MW laws: (1) fully separated samples give U = 0 / cles = 0;
    (2) identical samples give cles = 0.5 and p ~ 1; (3) a
    hand-computed no-ties example matches the textbook z and p;
    (4) all values tied -> variance 0 -> z/p NULL."""
    from pytrousse_spark.profiling import mann_whitney_u

    def mk(vals):
        return spark.createDataFrame([(float(v),) for v in vals], "value double")

    r = mann_whitney_u(mk([1, 2, 3]), mk([4, 5, 6]), "value").collect()[0]
    assert r["n_a"] == 3 and r["n_b"] == 3
    assert r["u"] == 0.0 and r["cles"] == 0.0
    assert r["z"] < 0

    same = mann_whitney_u(mk([1, 2, 3, 4]), mk([1, 2, 3, 4]), "value").collect()[0]
    assert same["cles"] == 0.5
    assert abs(same["z"]) < 1e-9
    assert same["p_value"] == 1.0

    # hand-computed: A={1,2}, B={3,4}: U=0, var=n1*n2*(n+1)/12=5/3,
    # z=-2/sqrt(5/3)=-1.549193, p=2*(1-Phi(1.549193))=0.121335
    h = mann_whitney_u(mk([1, 2]), mk([3, 4]), "value").collect()[0]
    assert h["u"] == 0.0
    assert abs(h["z"] - (-1.549193)) < 1e-5, h["z"]
    assert abs(h["p_value"] - 0.121335) < 1e-4, h["p_value"]

    tied = mann_whitney_u(mk([7, 7, 7]), mk([7, 7]), "value").collect()[0]
    assert tied["cles"] == 0.5 and tied["z"] is None and tied["p_value"] is None

    empty = mann_whitney_u(mk([]), mk([1.0]), "value")
    # empty A: u/cles/z/p NULL, counts still real
    re = empty.collect()[0]
    assert re["n_a"] == 0 and re["u"] is None


# ---------------------------------------------------------------------------
# robust stats + rank correlations (round 7)
# ---------------------------------------------------------------------------
def test_winsorized_mean_resists_planted_outliers(spark):
    from pytrousse_spark.profiling import winsorized_group_stats

    # 98 clean values around 100 + two 5x outliers. (Keep outliers
    # within the range the 1024-bin equi-width sketch can resolve —
    # with 1e6-scale outliers ALL clean mass lands in bin 0 and the
    # p5/p95 cutoffs interpolate inside it, the documented q100
    # equi-width trade-off.)
    rows = [("g", 100.0 + (i % 7)) for i in range(98)]
    rows += [("g", 500.0), ("g", 600.0)]
    df = spark.createDataFrame(rows, ["k", "v"])
    r = winsorized_group_stats(df, "k", "v").collect()[0]
    clean_mean = sum(100.0 + (i % 7) for i in range(98)) / 98
    # raw mean is pulled up ~9; winsorizing and trimming resist
    assert abs(r["mean_raw"] - clean_mean) > 8
    assert abs(r["mean_winsor"] - clean_mean) < 1.5
    assert abs(r["mean_trim"] - clean_mean) < 1.0
    assert r["n"] == 100 and r["n_trimmed"] >= 2

    # no outliers and wide cutoffs -> winsor == raw
    df2 = spark.createDataFrame(
        [("g", float(v)) for v in range(1, 101)], ["k", "v"]
    )
    r2 = winsorized_group_stats(df2, "k", "v", 0.0, 1.0).collect()[0]
    assert r2["mean_winsor"] == r2["mean_raw"]
    assert r2["n_trimmed"] == 0


def test_kendall_tau_b_laws(spark):
    from pytrousse_spark.profiling import kendall_tau_b

    # perfectly concordant discrete pair -> tau_b = 1
    rows = [(i % 5, i % 5) for i in range(100)]
    df = spark.createDataFrame(rows, ["x", "y"])
    r = kendall_tau_b(df, "x", "y").collect()[0]
    assert r["tau_b"] == 1.0 and r["discordant"] == 0
    assert r["p_value"] < 0.001

    # reversed -> -1
    rows = [(i % 5, 4 - (i % 5)) for i in range(100)]
    r = kendall_tau_b(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y"
    ).collect()[0]
    assert r["tau_b"] == -1.0 and r["concordant"] == 0

    # independent grid -> tau ~ 0, insignificant
    rows = [(i % 5, (i * 3) % 7) for i in range(210)]
    r = kendall_tau_b(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y"
    ).collect()[0]
    assert abs(r["tau_b"]) < 0.05
    assert r["p_value"] > 0.1

    # brute-force cross-check on a small irregular sample
    import itertools

    pts = [(1, 2), (1, 2), (2, 1), (2, 3), (3, 3), (3, 1), (4, 4),
           (5, 2), (5, 5), (2, 2)]
    conc = disc = 0
    for (x1, y1), (x2, y2) in itertools.combinations(pts, 2):
        s = (x1 - x2) * (y1 - y2)
        conc += s > 0
        disc += s < 0
    n = len(pts)
    from collections import Counter

    n0 = n * (n - 1) / 2
    n1 = sum(t * (t - 1) / 2 for t in Counter(x for x, _ in pts).values())
    n2 = sum(t * (t - 1) / 2 for t in Counter(y for _, y in pts).values())
    want = (conc - disc) / ((n0 - n1) * (n0 - n2)) ** 0.5
    r = kendall_tau_b(
        spark.createDataFrame(pts, ["x", "y"]), "x", "y"
    ).collect()[0]
    assert r["concordant"] == conc and r["discordant"] == disc
    assert abs(r["tau_b"] - want) < 1e-6


def test_spearman_monotone_invariance(spark):
    from pytrousse_spark.profiling import spearman_approx

    # spearman is invariant under monotone transforms: x vs x^3
    rows = [(float(i), float(i) ** 3) for i in range(-50, 51)]
    df = spark.createDataFrame(rows, ["x", "y"])
    r = spearman_approx(df, "x", "y").collect()[0]
    assert r["spearman"] > 0.99
    # anti-monotone -> -1
    rows = [(float(i), -float(i) ** 3) for i in range(-50, 51)]
    r = spearman_approx(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y"
    ).collect()[0]
    assert r["spearman"] < -0.99


def test_numeric_mi_laws(spark):
    from pytrousse_spark.profiling import numeric_mutual_information

    # y is a deterministic function of x -> nmi ~ 1 even though the
    # relation is non-monotone (Pearson would read ~0)
    rows = [(float(i % 64), float((i % 64 - 32) ** 2)) for i in range(6400)]
    df = spark.createDataFrame(rows, ["x", "y"])
    r = numeric_mutual_information(df, "x", "y", num_bins=64).collect()[0]
    assert r["nmi"] > 0.95

    # independent pair -> mi ~ 0
    rows = [(float(i % 61), float((i * 31) % 53)) for i in range(6400)]
    r = numeric_mutual_information(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y", 16
    ).collect()[0]
    assert r["mi"] < 0.05
    assert 0.0 <= r["nmi"] < 0.1

    # constant column -> NULL nmi, mi 0
    rows = [(float(i % 10), 5.0) for i in range(100)]
    r = numeric_mutual_information(
        spark.createDataFrame(rows, ["x", "y"]), "x", "y", 16
    ).collect()[0]
    assert r["mi"] == 0.0 and r["nmi"] is None


def test_wasserstein_laws(spark):
    from pytrousse_spark.profiling import wasserstein1_binned

    # identical samples -> 0
    a = spark.createDataFrame(
        [(float(i % 100),) for i in range(1000)], ["v"]
    )
    r = wasserstein1_binned(a, a, "v").collect()[0]
    assert r["w1"] == 0.0
    # a constant shift by d moves every unit of mass d -> w1 ~ d
    b = spark.createDataFrame(
        [(float(i % 100) + 30.0,) for i in range(1000)], ["v"]
    )
    r = wasserstein1_binned(a, b, "v").collect()[0]
    assert abs(r["w1"] - 30.0) < 1.5  # bin-resolution slack
    # symmetry
    r2 = wasserstein1_binned(b, a, "v").collect()[0]
    assert r["w1"] == r2["w1"]
    # scale-free sanity: W1 carries the column's units (PSI does not)
    assert r["lo"] == 0.0 and r["hi"] == 129.0


def test_categorical_boundary_exact_recheck(spark):
    """r7 VERDICT item 4: a column planted exactly AT the count//300
    categorical boundary must classify by pandas `nunique` semantics
    (distinct < count // 300), not by HLL estimation noise. 90,000 rows
    -> boundary 300: 299 distinct IS categorical, 300 and 301 are NOT."""
    from pyspark.sql import functions as F

    from pytrousse_spark.profiling import profile

    n = 90_000
    df = spark.range(n).select(
        F.concat(F.lit("v"), (F.col("id") % 299).cast("string")).alias("c299"),
        F.concat(F.lit("v"), (F.col("id") % 300).cast("string")).alias("c300"),
        F.concat(F.lit("v"), (F.col("id") % 301).cast("string")).alias("c301"),
    )
    prof = profile(df)
    assert prof.stats["c299"].distinct == 299
    assert prof.stats["c300"].distinct == 300
    assert prof.stats["c301"].distinct == 301
    cats = prof.str_categorical_cols
    assert "c299" in cats
    assert "c300" not in cats and "c301" not in cats


def test_cramer_von_mises_brute_force(spark):
    """Pin the two-sample CvM criterion against the textbook pooled-ECDF
    computation on data with cross-sample ties."""
    import random

    from pytrousse_spark.profiling import cramer_von_mises

    rng = random.Random(31)
    xs = [round(rng.uniform(0, 8), 2) for _ in range(70)]
    ys = [round(rng.uniform(1, 9), 2) for _ in range(55)]
    ys += xs[:5]  # forced cross-sample ties
    df_a = spark.createDataFrame([(v,) for v in xs], "value double")
    df_b = spark.createDataFrame([(v,) for v in ys], "value double")
    got = cramer_von_mises(df_a, df_b, "value").collect()[0]

    ca, cb = [int(round(v * 100)) for v in xs], [int(round(v * 100)) for v in ys]
    n, m = len(ca), len(cb)
    pooled = sorted(set(ca + cb))
    t = 0.0
    for lvl in pooled:
        f1 = sum(1 for v in ca if v <= lvl) / n
        f2 = sum(1 for v in cb if v <= lvl) / m
        mult = sum(1 for v in ca + cb if v == lvl)
        t += mult * (f1 - f2) ** 2
    t *= n * m / (n + m) ** 2
    assert got["n_a"] == n and got["n_b"] == m
    assert abs(got["t_stat"] - t) < 1e-5
    assert got["reject"] == (t > 0.461)


def test_cramer_von_mises_identical_and_empty(spark):
    from pytrousse_spark.profiling import cramer_von_mises

    df = spark.createDataFrame([(float(i),) for i in range(30)], "value double")
    same = cramer_von_mises(df, df, "value").collect()[0]
    assert same["t_stat"] == 0.0 and same["reject"] is False
    empty = spark.createDataFrame([], "value double")
    row = cramer_von_mises(df, empty, "value").collect()[0]
    assert row["n_b"] == 0 and row["t_stat"] is None and row["reject"] is None


def test_wasserstein_1d_brute_force(spark):
    """Pin W1 against scipy-free brute force: sort both samples' cents,
    integrate |F_a - F_b| over the pooled support."""
    import random

    from pytrousse_spark.profiling import wasserstein_1d

    rng = random.Random(43)
    xs = [round(rng.uniform(0, 10), 2) for _ in range(80)]
    ys = [round(rng.uniform(2, 12), 2) for _ in range(60)] + xs[:4]
    df_a = spark.createDataFrame([(v,) for v in xs], "value double")
    df_b = spark.createDataFrame([(v,) for v in ys], "value double")
    got = wasserstein_1d(df_a, df_b, "value").collect()[0]

    ca = sorted(int(round(v * 100)) for v in xs)
    cb = sorted(int(round(v * 100)) for v in ys)
    levels = sorted(set(ca + cb))
    w1 = 0.0
    for lvl, nxt in zip(levels, levels[1:]):
        fa = sum(1 for v in ca if v <= lvl) / len(ca)
        fb = sum(1 for v in cb if v <= lvl) / len(cb)
        w1 += abs(fa - fb) * (nxt - lvl)
    w1 /= 100.0  # cents -> value units
    assert got["n_a"] == len(ca) and got["n_b"] == len(cb)
    assert abs(got["w1"] - w1) < 1e-5


def test_wasserstein_1d_shift_law_and_edges(spark):
    """W1 between X and X+c must be exactly |c|; identical samples give
    0; a single shared level gives 0 with REAL counts; an empty side
    gives NULL."""
    from pyspark.sql import functions as F

    from pytrousse_spark.profiling import wasserstein_1d

    df = spark.createDataFrame(
        [(float(i % 13) + 0.25,) for i in range(50)], "value double"
    )
    shifted = df.select((F.col("value") + 2.5).alias("value"))
    got = wasserstein_1d(df, shifted, "value").collect()[0]
    assert abs(got["w1"] - 2.5) < 1e-9
    assert wasserstein_1d(df, df, "value").collect()[0]["w1"] == 0.0
    one = spark.createDataFrame([(3.0,), (3.0,)], "value double")
    row = wasserstein_1d(one, one, "value").collect()[0]
    assert row["n_a"] == 2 and row["n_b"] == 2 and row["w1"] == 0.0
    empty = spark.createDataFrame([], "value double")
    row = wasserstein_1d(df, empty, "value").collect()[0]
    assert row["n_b"] == 0 and row["w1"] is None


def test_drift_by_group_matches_corpus_level_per_group(spark):
    """Each group's row in the drift report must equal the corpus-level
    trio run on that group's filtered frames (the report is one shared
    plan, never an approximation), and single-group laws hold: zero
    drift on identical frames, NULL distances on an empty side."""
    import random

    from pyspark.sql import functions as F

    from pytrousse_spark.profiling import (
        anderson_darling_2s,
        cramer_von_mises,
        drift_by_group,
        energy_distance,
        ks_two_sample,
        kuiper_two_sample,
        wasserstein_1d,
        wasserstein_1d_by_group,
    )

    rng = random.Random(77)
    rows_a, rows_b = [], []
    for g, lo, hi in (("x", 0, 10), ("y", 2, 12), ("z", -4, 4)):
        rows_a += [(g, round(rng.uniform(lo, hi), 2)) for _ in range(60)]
        rows_b += [(g, round(rng.uniform(lo + 1, hi + 1), 2)) for _ in range(50)]
    # group only on side a -> NULL distances; NULL group -> excluded
    rows_a += [("only_a", 1.0), (None, 9.9)]
    df_a = spark.createDataFrame(rows_a, "g string, value double")
    df_b = spark.createDataFrame(rows_b, "g string, value double")

    rep = {r["group"]: r for r in drift_by_group(df_a, df_b, "value", "g").collect()}
    assert set(rep) == {"x", "y", "z", "only_a"}
    assert rep["only_a"]["n_b"] == 0
    assert rep["only_a"]["ks_d"] is None
    assert rep["only_a"]["kuiper_v"] is None
    assert rep["only_a"]["cvm_t"] is None
    assert rep["only_a"]["ad_a2"] is None
    assert rep["only_a"]["w1"] is None
    assert rep["only_a"]["energy"] is None

    gw = {
        r["group"]: r
        for r in wasserstein_1d_by_group(df_a, df_b, "value", "g").collect()
    }
    for g in ("x", "y", "z"):
        fa = df_a.where(F.col("g") == g)
        fb = df_b.where(F.col("g") == g)
        ks = ks_two_sample(fa, fb, "value").collect()[0]
        kp = kuiper_two_sample(fa, fb, "value").collect()[0]
        cvm = cramer_von_mises(fa, fb, "value").collect()[0]
        ad = anderson_darling_2s(fa, fb, "value").collect()[0]
        w1 = wasserstein_1d(fa, fb, "value").collect()[0]
        en = energy_distance(fa, fb, "value").collect()[0]
        assert rep[g]["n_a"] == ks["n_a"] and rep[g]["n_b"] == ks["n_b"]
        assert rep[g]["ks_d"] == ks["d_stat"], g
        assert rep[g]["kuiper_v"] == kp["v_stat"], g
        assert rep[g]["cvm_t"] == cvm["t_stat"], g
        assert rep[g]["ad_a2"] == ad["a2"], g
        assert rep[g]["w1"] == w1["w1"], g
        assert rep[g]["energy"] == en["energy"], g
        assert gw[g]["w1"] == w1["w1"], g


def test_grouped_wasserstein_shift_law(spark):
    """Per-group W1 between X and X+c_g must be exactly |c_g| for each
    group's own shift — groups with different shifts in one frame."""
    from pyspark.sql import functions as F

    from pytrousse_spark.profiling import wasserstein_1d_by_group

    base = spark.createDataFrame(
        [(g, float(i % 11) + 0.5) for g in ("p", "q") for i in range(40)],
        "g string, value double",
    )
    shifted = base.select(
        "g",
        (
            F.col("value")
            + F.when(F.col("g") == "p", F.lit(1.25)).otherwise(F.lit(3.5))
        ).alias("value"),
    )
    got = {
        r["group"]: r["w1"]
        for r in wasserstein_1d_by_group(base, shifted, "value", "g").collect()
    }
    assert abs(got["p"] - 1.25) < 1e-9
    assert abs(got["q"] - 3.5) < 1e-9


def test_anderson_darling_brute_force_and_tail_sensitivity(spark):
    """AD two-sample: (1) exact pin against a direct computation of
    Scholz-Stephens 1987 eq. 7 (k=2, tie-adjusted, mid-rank B and M);
    (2) identical samples give exactly 0; (3) the tail-weighting law —
    moving the same probability mass drifts AD MORE (relative to its
    own same-shape baseline) when the drift sits in the tail than when
    it sits in the body; (4) empty-side and single-level inputs yield
    NULL a2 with real counts."""
    import random
    from collections import Counter

    from pytrousse_spark.profiling import anderson_darling_2s

    def brute(xs, ys):
        ca = Counter(int(round(v * 100)) for v in xs)
        cb = Counter(int(round(v * 100)) for v in ys)
        n1 = sum(ca.values())
        n2 = sum(cb.values())
        big_n = n1 + n2
        cc1 = ccp = 0
        s = 0.0
        for lvl in sorted(set(ca) | set(cb)):
            c1, c2 = ca.get(lvl, 0), cb.get(lvl, 0)
            t = c1 + c2
            cc1 += c1
            ccp += t
            m_a = cc1 - c1 / 2.0
            b = ccp - t / 2.0
            den = b * (big_n - b) - big_n * t / 4.0
            if den > 0:
                s += (t / big_n) * (big_n * m_a - n1 * b) ** 2 / den
        return round((big_n - 1) / (n1 * n2) * s / big_n * big_n, 6) if s else 0.0

    def run(xs, ys):
        df_a = spark.createDataFrame([(v,) for v in xs], "value double")
        df_b = spark.createDataFrame([(v,) for v in ys], "value double")
        return anderson_darling_2s(df_a, df_b, "value").collect()[0]

    rng = random.Random(19)
    xs = [round(rng.uniform(0, 10), 1) for _ in range(110)]
    ys = [round(rng.uniform(1, 12), 1) for _ in range(80)] + xs[:10]
    got = run(xs, ys)
    assert got["n_a"] == 110 and got["n_b"] == 90
    assert abs(got["a2"] - brute(xs, ys)) < 2e-6

    assert run(xs, xs)["a2"] == 0.0

    # tail vs body: base sample uniform; shift the top 5% far out vs
    # shuffling the same 5% inside the body
    base = [round(i * 0.01, 2) for i in range(1000)]
    tail = list(base)
    for i in range(950, 1000):
        tail[i] = base[i] + 50.0  # tail mass moved far out
    body = list(base)
    for i in range(475, 525):
        body[i] = base[i] + 0.5  # same mass count, body-local move
    ad_tail = run(base, tail)["a2"]
    ad_body = run(base, body)["a2"]
    assert ad_tail > ad_body  # the tail weighting reacts harder

    empty_row = run(xs, [])
    assert empty_row["n_b"] == 0 and empty_row["a2"] is None
    one = run([3.0, 3.0], [3.0])
    assert one["n_a"] == 2 and one["n_b"] == 1 and one["a2"] is None


def test_energy_distance_laws(spark):
    """Energy distance (exact 1-D ECDF form): (1) brute-force pin of
    2*sum (F_a-F_b)^2 * gap over pooled cent levels; (2) the E|X-Y|
    identity — D2 equals 2E|XY| - E|XX'| - E|YY'| computed pairwise;
    (3) two point masses read exactly 2*|a-b|; (4) identical samples
    give 0 with a real t_stat 0; (5) empty side gives NULLs."""
    import random

    from pytrousse_spark.profiling import energy_distance

    def run(xs, ys):
        df_a = spark.createDataFrame([(v,) for v in xs], "value double")
        df_b = spark.createDataFrame([(v,) for v in ys], "value double")
        return energy_distance(df_a, df_b, "value").collect()[0]

    rng = random.Random(23)
    xs = [round(rng.uniform(0, 8), 2) for _ in range(70)]
    ys = [round(rng.uniform(1, 9), 2) for _ in range(55)] + xs[:5]

    ca = sorted(int(round(v * 100)) for v in xs)
    cb = sorted(int(round(v * 100)) for v in ys)
    levels = sorted(set(ca + cb))
    d2 = 0.0
    for lvl, nxt in zip(levels, levels[1:]):
        fa = sum(1 for v in ca if v <= lvl) / len(ca)
        fb = sum(1 for v in cb if v <= lvl) / len(cb)
        d2 += 2.0 * (fa - fb) ** 2 * (nxt - lvl)
    d2 /= 100.0
    got = run(xs, ys)
    assert got["n_a"] == len(ca) and got["n_b"] == len(cb)
    assert abs(got["energy"] - d2) < 1e-5

    # pairwise identity on cents (exact expectations over the sample)
    def mean_abs(u, v):
        return sum(abs(x - y) for x in u for y in v) / (len(u) * len(v))

    ident = (
        2 * mean_abs(ca, cb) - mean_abs(ca, ca) - mean_abs(cb, cb)
    ) / 100.0
    assert abs(got["energy"] - ident) < 1e-5

    point = run([5.0] * 7, [9.5] * 4)
    assert point["energy"] == 9.0  # 2 * |9.5 - 5.0|

    same = run(xs, xs)
    assert same["energy"] == 0.0 and same["t_stat"] == 0.0

    nullrow = run(xs, [])
    assert nullrow["energy"] is None and nullrow["t_stat"] is None


def test_kuiper_two_sample_laws(spark):
    """Kuiper V = D+ + D-: (1) brute-force pin of both one-sided sups
    and the asymptotic series p; (2) symmetry kuiper(a,b) == kuiper(b,a);
    (3) V >= KS's D on the same pair (V sums the one-sided sups);
    (4) identical samples give V = 0 / p = 1; (5) empty side NULLs."""
    import math
    import random

    from pytrousse_spark.profiling import kuiper_two_sample, ks_two_sample

    def run(xs, ys):
        df_a = spark.createDataFrame([(v,) for v in xs], "value double")
        df_b = spark.createDataFrame([(v,) for v in ys], "value double")
        return kuiper_two_sample(df_a, df_b, "value").collect()[0]

    rng = random.Random(29)
    xs = [round(rng.uniform(0, 9), 2) for _ in range(90)]
    ys = [round(rng.uniform(1.5, 11), 2) for _ in range(70)] + xs[:6]

    ca = sorted(int(round(v * 100)) for v in xs)
    cb = sorted(int(round(v * 100)) for v in ys)
    levels = sorted(set(ca + cb))
    dp = dm = 0.0
    for lvl in levels:
        fa = sum(1 for v in ca if v <= lvl) / len(ca)
        fb = sum(1 for v in cb if v <= lvl) / len(cb)
        dp = max(dp, fa - fb)
        dm = max(dm, fb - fa)
    v = dp + dm
    ne = len(ca) * len(cb) / (len(ca) + len(cb))
    lam = (math.sqrt(ne) + 0.155 + 0.24 / math.sqrt(ne)) * v
    if lam < 0.4:
        p = 1.0
    else:
        s = sum(
            round(
                (4 * (j * lam) ** 2 - 1) * math.exp(-2 * (j * lam) ** 2) * 1e9
            )
            for j in range(1, 101)
        )
        p = min(1.0, max(0.0, 2 * s / 1e9))
    got = run(xs, ys)
    assert got["n_a"] == len(ca) and got["n_b"] == len(cb)
    assert abs(got["v_stat"] - v) < 2e-6
    assert abs(got["p_value"] - p) < 2e-6

    rev = run(ys, xs)
    assert rev["v_stat"] == got["v_stat"] and rev["p_value"] == got["p_value"]

    df_a = spark.createDataFrame([(x,) for x in xs], "value double")
    df_b = spark.createDataFrame([(y,) for y in ys], "value double")
    ks = ks_two_sample(df_a, df_b, "value").collect()[0]
    assert got["v_stat"] >= ks["d_stat"] - 1e-9

    same = run(xs, xs)
    assert same["v_stat"] == 0.0 and same["p_value"] == 1.0
    nullrow = run(xs, [])
    assert nullrow["v_stat"] is None and nullrow["reject"] is None


def _typed_frame(spark):
    """One column per Spark type family the profiler must accept, incl.
    MAPs, nested or not, which ``xxhash64`` rejects as such."""
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.binning import interval_expr

    i = F.col("id")
    # two maps with equal entries in different insertion order: one value
    ab = F.create_map(F.lit("a"), F.lit(1), F.lit("b"), F.lit(2))
    ba = F.create_map(F.lit("b"), F.lit(2), F.lit("a"), F.lit(1))
    return spark.range(12).select(
        i,
        F.when(i % 3 == 0, ab).when(i % 3 == 1, ba).alias("m"),
        F.array(i % 4, F.lit(0)).alias("arr"),
        F.array(F.create_map(F.lit("k"), i % 2)).alias("arr_of_maps"),
        F.create_map(F.lit("o"), F.create_map(F.lit("k"), i % 5)).alias("map_of_maps"),
        F.struct((i % 2).alias("x"), F.create_map(F.lit("k"), i % 3).alias("y"))
        .alias("st_map"),
        interval_expr(i % 3, i % 3 + 1).alias("iv"),
        (i % 5 / 4).cast("decimal(10,2)").alias("dec"),
        (i % 2 == 0).alias("flag"),
        F.date_add(F.lit("2024-01-01").cast("date"), (i % 6).cast("int")).alias("day"),
        F.when(i < 6, F.lit(b"\x00\x01")).otherwise(F.lit(b"\x02")).alias("bin"),
        F.lit(None).cast("string").alias("null_str"),
        F.lit(None).cast("double").alias("null_dbl"),
    )


def test_profile_type_coverage(spark):
    from pytrousse_spark.profiling import profile

    prof = profile(_typed_frame(spark))
    s = prof.stats
    assert all(st.total == 12 for st in s.values())
    # exact distincts (all ≤ 10, so re-checked), NULL excluded; the two
    # maps with the same entries in different order are one value
    want = {
        "m": 1, "arr": 4, "arr_of_maps": 2, "map_of_maps": 5, "st_map": 6, "iv": 3, "dec": 5,
        "flag": 2, "day": 6, "bin": 2, "null_str": 0, "null_dbl": 0,
    }
    assert {c: s[c].distinct for c in want} == want
    assert s["m"].count == 8 and s["m"].nulls == 4
    assert s["dec"].is_numeric and s["dec"].min_num == 0.0 and s["dec"].max_num == 1.0
    assert s["dec"].non_integer
    assert s["null_str"].parse_ratio is None and s["null_dbl"].min_num is None
    assert prof.bool_cols == {"flag"}
    assert {"id", "dec", "flag", "iv", "null_dbl"} <= prof.numerical_cols
    assert prof.other_type_cols == {
        "m", "arr", "arr_of_maps", "map_of_maps", "st_map", "day", "bin"
    }
    assert prof.str_cols == {"null_str"}
    # "m" holds one map value plus NULLs: two values counting NULL
    assert prof.constant_cols == {"null_str", "null_dbl"}
    assert {"null_str", "null_dbl"} <= prof.trivial_cols


def test_profile_empty_and_columnless_frames(spark):
    from pytrousse_spark.profiling import profile

    prof = profile(spark.createDataFrame([], "a double, s string"))
    assert prof.stats["a"].total == 0 and prof.stats["s"].distinct == 0
    assert prof.constant_cols == {"a", "s"}
    assert profile(spark.range(3).select()).stats == {}


def _dirty_csv_frame(spark, n=1_200):
    """The wrangle flow's CSV shape, all strings: an id, two small
    categoricals, a numeric-string, two mixed numeric/typo columns, a
    mid-cardinality owner and a sparse notes column."""
    import random

    rnd = random.Random(5)
    rows = []
    for i in range(n):
        temp = f"{37 + rnd.random() * 3:.1f}"
        weight = f"{2 + rnd.random() * 40:.2f}"
        if i % 9 == 0:
            temp = temp.replace(".", ",")
        if i % 13 == 0:
            weight = rnd.choice(["---", "NV", f">{weight}"])
        rows.append((
            str(i),
            rnd.choice(["MONGREL", "POODLE", "BEAGLE", "BOXER", "PUG"]),
            rnd.choice(["M", "F", None]),
            str(rnd.randrange(15)),
            temp,
            weight,
            f"owner_{rnd.randrange(250)}",
            f"note {rnd.randrange(100)}" if i % 10 == 0 else None,
        ))
    return spark.createDataFrame(
        rows, "id string, breed string, sex string, age string, temp string, "
        "weight string, owner string, notes string",
    )


def test_profile_classes_match_exact_distinct_reference(spark):
    """Every class equals the one an exact-distinct profile gives: the
    reference re-aggregates each column with ``count(DISTINCT …)`` and the
    same count / parse-ratio expressions, side by side in one row."""
    from dataclasses import replace

    from pyspark.sql import functions as F

    from pytrousse_spark.profiling import ColumnProfile, profile

    df = _dirty_csv_frame(spark)
    prof = profile(df, frozenset({"id", "notes"}))
    exprs = []
    for c in df.columns:
        col = F.col(c)
        exprs += [
            F.count(col).alias(f"{c}__cnt"),
            F.countDistinct(col).alias(f"{c}__dst"),
            F.avg(
                F.when(col.isNotNull(), col.try_cast("double").isNotNull().cast("double"))
            ).alias(f"{c}__pr"),
        ]
    row = df.agg(*exprs).collect()[0]
    for c in df.columns:
        assert prof.stats[c].count == row[f"{c}__cnt"]
        assert prof.stats[c].parse_ratio == pytest.approx(row[f"{c}__pr"])
        # HLL within 4 sigma of rsd 0.02
        assert abs(prof.stats[c].distinct - row[f"{c}__dst"]) <= 0.08 * row[f"{c}__dst"]
    exact = ColumnProfile(
        stats={
            c: replace(s, distinct=row[f"{c}__dst"]) for c, s in prof.stats.items()
        },
        metadata_cols=prof.metadata_cols,
    )
    for attr in (
        "bool_cols", "mixed_type_cols", "numerical_cols", "str_cols",
        "other_type_cols", "constant_cols", "trivial_cols",
        "str_categorical_cols", "num_categorical_cols", "med_exam_col_list",
        "to_be_fixed_cols",
    ):
        assert getattr(prof, attr) == getattr(exact, attr), attr
    assert prof.mixed_type_cols == {"temp", "weight"}
    assert prof.str_categorical_cols == {"breed", "sex"}


def _records_read(spark, group: str) -> int:
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    total = 0
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        skipped, dropped = 0, []
        for sid in sc.statusTracker().getJobInfo(jid).stageIds:
            # once the store holds spark.ui.retainedStages stages it drops
            # skipped ones first, so late in a long session a job's
            # skipped stages may be gone; the job record still counts them
            if sc.statusTracker().getStageInfo(sid) is None:
                dropped.append(sid)
                continue
            st = store.lastStageAttempt(sid)
            if st.status().toString() == "SKIPPED":
                skipped += 1
            else:
                total += st.inputRecords()
        assert skipped + len(dropped) == store.job(jid).numSkippedStages(), (
            f"job {jid}: stages {dropped} dropped from the status store "
            "were not all skipped, so their input records are unknown"
        )
    return total


def test_profile_scans_source_once(spark, tmp_path):
    """Tripwire: with no column near a categorical boundary the profile is
    ONE pass over its source — the parquet scan reads each row once. A
    low-cardinality column adds the exact re-check, which reads it again."""
    from pyspark.sql import functions as F

    from pytrousse_spark.profiling import profile

    n = 3_000
    path = str(tmp_path / "src")
    spark.range(n).select(
        "id",
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("s"),
        (F.col("id") * 0.5).alias("x"),
        (F.col("id") % 3).alias("small"),
    ).write.parquet(path)
    src = spark.read.parquet(path)
    sc = spark.sparkContext
    try:
        sc.setJobGroup("profile-one-pass", "profile tripwire")
        prof = profile(src.select("id", "s", "x"))
        sc.setJobGroup("profile-recheck", "profile tripwire")
        profile(src)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    assert prof.stats["s"].distinct > 10
    assert _records_read(spark, "profile-one-pass") == n
    assert _records_read(spark, "profile-recheck") == 2 * n
