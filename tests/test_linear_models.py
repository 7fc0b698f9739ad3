"""The linear-model family — the logistic trainer with its SQL training
replay, the causal estimators built on it (IPW, AIPW, propensity
matching) and the two-feature normal-equation solve (ols_grouped,
granger_lead_lag) — against its DuckDB twins on small in-memory frames,
plus a source tripwire: the sigmoid and the Cramer numerator each live
at one site per engine, so a change to either math is one edit."""

from __future__ import annotations

import datetime as dt
import os
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from pytrousse_spark.operators.classifier import (
    _logreg_chain_sql,
    logreg_train,
    ols_grouped,
    ols_grouped_sql,
)
from pytrousse_spark.operators.cohort import (
    aipw_ate,
    aipw_ate_sql,
    ipw_ate,
    ipw_ate_sql,
    propensity_matching,
    propensity_matching_sql,
)
from pytrousse_spark.operators.timeseries import (
    granger_lead_lag,
    granger_lead_lag_sql,
)
from tests.conftest import assert_df_matches_sql

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _duck(spark_df, name):
    con = duckdb.connect()
    con.register(name, spark_df.toPandas())
    return con


def _observational(spark, n=400, collinear=False):
    """A confounded design: x1 drives both treatment and outcome (true
    effect +10); x2 is x1's square, or exactly 2*x1 when ``collinear``."""
    rows = []
    for i in range(n):
        x1 = (i % 40) / 40.0
        treated = 1 if ((i * 7919) % 100) < 100 * (0.2 + 0.6 * x1) else 0
        x2 = 2 * x1 if collinear else x1 * x1
        rows.append((treated, 100.0 + 50.0 * x1 + 10.0 * treated + (i % 7), x1, x2))
    return spark.createDataFrame(rows, "treated int, y double, x1 double, x2 double")


def _cols():
    return F.col("treated"), "y", F.col("x1"), F.col("x2")


_SQL_COLS = ("SELECT * FROM obs", "treated", "y", "x1", "x2")


# x whose first gradient term (0.5 - 1)·x (p = 0.5 at w = 0) is an exact
# 7-decimal tie that its double lands just inside: Spark's F.round(·, 6)
# rounds it away from zero, DuckDB's round toward it
_TIE_X = (0.064103, 0.062507, 0.062509, 0.062521, 0.062523, 0.062535)


def _ties(spark, n=120):
    """Treated units on tie-prone covariates: x1 from ``_TIE_X`` and
    x2 = 1, so x3 = x1*x2 sits on the ties too."""
    rows = [
        (int(i % 4 != 0), 100.0 + (i % 7), _TIE_X[i % len(_TIE_X)], 1.0)
        for i in range(n)
    ]
    return spark.createDataFrame(rows, "treated int, y double, x1 double, x2 double")


def test_ipw_matches_sql_twin(spark):
    for df in (_observational(spark), _ties(spark)):
        got = ipw_ate(df, *_cols(), iters=5, lr=4.0)
        assert got.first()["n"] == df.count()
        assert_df_matches_sql(got, _duck(df, "obs"), ipw_ate_sql(*_SQL_COLS, iters=5, lr=4.0))


def test_aipw_matches_sql_twin(spark):
    df = _observational(spark)
    got = aipw_ate(df, *_cols(), iters=5, lr=4.0)
    assert got.first()["ate_aipw"] is not None
    assert_df_matches_sql(got, _duck(df, "obs"), aipw_ate_sql(*_SQL_COLS, iters=5, lr=4.0))


def test_aipw_collinear_design_is_null_in_both_engines(spark):
    """x2 = 2*x1 makes both arms' outcome models singular: the estimate
    is NULL, not Spark-NULL against DuckDB-Inf."""
    df = _observational(spark, collinear=True)
    got = aipw_ate(df, *_cols(), iters=3)
    r = got.first()
    assert r["ate_aipw"] is None and r["naive_diff"] is not None
    con = _duck(df, "obs")
    sql = aipw_ate_sql(*_SQL_COLS, iters=3)
    assert con.sql(sql).fetchone()[3] is None
    assert_df_matches_sql(got, con, sql)


@pytest.mark.parametrize("caliper", [None, 1e-6], ids=["no_caliper", "tight_caliper"])
def test_propensity_matching_matches_sql_twin(spark, caliper):
    """Three covariate cells; the middle one has no controls, so under a
    1e-6 caliper its treated units stay unmatched."""
    rows = (
        [(1, 110.0 + i % 3, 0.0, 0.0) for i in range(6)]
        + [(0, 100.0 + i % 5, 0.0, 0.0) for i in range(14)]
        + [(1, 300.0 + i % 4, 0.5, 0.25) for i in range(5)]
        + [(1, 510.0 + i % 2, 1.0, 1.0) for i in range(12)]
        + [(0, 500.0 + i % 3, 1.0, 1.0) for i in range(4)]
    )
    df = spark.createDataFrame(rows, "treated int, y double, x1 double, x2 double")
    got = propensity_matching(df, *_cols(), iters=4, caliper=caliper)
    r = got.first()
    if caliper is None:
        assert r["n_matched"] == r["n_treat"] == 23
    else:
        assert r["n_matched"] < r["n_treat"]
    sql = propensity_matching_sql(*_SQL_COLS, iters=4, caliper=caliper)
    assert_df_matches_sql(got, _duck(df, "obs"), sql)


def test_granger_matches_sql_twin(spark):
    rows = []
    x_prev = 0.0
    for day in range(30):
        ts = dt.datetime(2024, 3, 1, 12) + dt.timedelta(days=day)
        x = float((day * 37) % 11)
        rows.append((ts, "click", x))
        rows.append((ts, "purchase", 2.0 * x_prev + (day % 3)))
        x_prev = x
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    got = granger_lead_lag(df, "ts", "value", "event_type", "click", "purchase")
    assert got.first()["n"] == 29
    sql = granger_lead_lag_sql("SELECT * FROM ev", "ts", "value", "event_type", "click", "purchase")
    assert_df_matches_sql(got, _duck(df, "ev"), sql)


def test_ols_grouped_singular_group_matches_sql_twin(spark):
    """Group ``a`` follows a planted law; group ``b``'s x2 is 2*x1, a
    singular design whose coefficients are NULL in both engines."""
    rows = [("a", float(i % 13), float((i * 7) % 11), 3.0 + 2.0 * (i % 13) - 0.5 * ((i * 7) % 11))
            for i in range(60)]
    rows += [("b", float(i % 7), 2.0 * (i % 7), float(i)) for i in range(30)]
    df = spark.createDataFrame(rows, "g string, x1 double, x2 double, y double")
    got = ols_grouped(df, "g", "y", "x1", "x2")
    out = {r["grp"]: r for r in got.collect()}
    assert abs(out["a"]["b1"] - 2.0) < 1e-6
    assert out["b"]["b0"] is None and out["b"]["b1"] is None and out["b"]["n"] == 30
    assert_df_matches_sql(got, _duck(df, "obs"), ols_grouped_sql("obs", "g", "y", "x1", "x2"))


@pytest.mark.parametrize("iters", [0, 1, 3])
def test_logreg_train_equals_sql_chain_weights(spark, iters):
    """On a mixed frame, and on y = 1 with x3 on ``_TIE_X``, where every
    row's first x3 gradient term is a decimal tie."""
    mixed = [
        (float(i % 3 == 0), round((i % 17) / 10.0, 6), round((i % 5) / 4.0, 6), round((i % 9) / 8.0, 6))
        for i in range(120)
    ]
    ties = [(1.0, (i % 5) / 4.0, (i % 3) / 2.0, _TIE_X[i % len(_TIE_X)]) for i in range(120)]
    for rows in (mixed, ties):
        df = spark.createDataFrame(rows, "y double, x1 double, x2 double, x3 double")
        w = logreg_train(df, iters=iters, lr=3.0)
        ctes = ",\n".join(_logreg_chain_sql("SELECT y, x1, x2, x3 FROM ft", iters, 3.0))
        sql = f"WITH {ctes} SELECT a, b, c, d FROM w{iters}"
        assert list(_duck(df, "ft").sql(sql).fetchone()) == w
        if iters:
            assert any(w)


@pytest.mark.parametrize("seed", [5, 209, 2115284381])
def test_q111_matches_oracle_on_perfbench_seeds(spark, tmp_path, seed):
    """The perfbench corpus seeds on which q111's Spark weights once
    drifted from its DuckDB replay by 1–3e-6: a tie in the first
    gradient term that the two engines' round(·, 6) broke differently."""
    import __spark_entry__ as entrymod
    from perfbench.gen import generate

    generate("corpus", seed, str(tmp_path), "bench")
    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'")
    got = entrymod.queries()["q111_logreg_quality"](spark, str(tmp_path))
    assert_df_matches_sql(got, con, entrymod.oracle_sql()["q111_logreg_quality"])


# --- tripwire: one sigmoid and one Cramer numerator per engine ---------

_SIGMOID_SPARK = re.compile(r"\+\s*F\.exp\(\s*-")
_SIGMOID_SQL = re.compile(r"1(?:\.0)?\s*\+\s*exp\(\s*-", re.I)
_CRAMER = re.compile(r"(\{?)c1y\}?\s*\*\s*\{?c22\}?\s*-\s*\{?c2y\}?\s*\*\s*\{?c12\}?")


def _package_hits(pattern):
    hits = []
    for dirpath, _, files in os.walk(os.path.join(_ROOT, "pytrousse_spark")):
        for f in sorted(files):
            if not f.endswith(".py"):
                continue
            path = os.path.join(dirpath, f)
            with open(path) as fh:
                text = fh.read()
            for m in pattern.finditer(text):
                line = text.count("\n", 0, m.start()) + 1
                hits.append((f"{os.path.relpath(path, _ROOT)}:{line}", m))
    return hits


def test_sigmoid_lives_at_one_site_per_engine():
    for pattern, site in (
        (_SIGMOID_SPARK, "classifier._sigma"),
        (_SIGMOID_SQL, "classifier._SIGMA_SQL"),
    ):
        hits = [h for h, _ in _package_hits(pattern)]
        assert len(hits) == 1, f"one sigmoid per engine, in {site}: {hits}"


def test_cramer_numerator_lives_at_one_site_per_engine():
    hits = _package_hits(_CRAMER)
    spark_hits = [h for h, m in hits if not m.group(1)]
    sql_hits = [h for h, m in hits if m.group(1)]
    assert len(spark_hits) == 1, f"solve 2x2 through classifier._ols2_solve: {spark_hits}"
    assert len(sql_hits) == 1, f"solve 2x2 through classifier._ols2_solve_sql: {sql_hits}"
