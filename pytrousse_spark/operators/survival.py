"""Survival analysis (beyond-reference; Kaplan & Meier 1958).

Time-to-event estimation with right censoring — the product-limit
estimator every retention/churn/time-to-convert analysis reaches for
when "users who haven't converted YET" must not bias the curve (naive
conversion-time averages drop censored subjects; KM uses them in the
risk set up to their censoring time).

Scale design: subjects reduce to one (duration, event_flag) row each
upstream (caller's per-user aggregation); this module then reduces to
the DURATION-LEVEL frame — one row per distinct duration — before any
window. The risk set is a reverse cumulative sum and the survival curve
a running product, both over that small frame (distinct durations are
bounded by the caller's time granularity — days/weeks — never by
subject count). The product rides the established exact-fold
convention: per-step ``ln(1 - d/n)`` terms are nano-unit-rounded to
BIGINT before the cumulative sum (order-free, cross-engine exact), and
the final ``exp`` is one IEEE op rounded 6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.rounding import from_fixed, round_to, to_fixed
from ..staging import stage


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Kaplan-Meier product-limit survival curve.

    One input row per subject: ``duration_col`` (numeric time-to-event
    or time-to-censoring) and ``event_col`` (1 = event observed,
    0 = right-censored). Rows with NULL duration or NULL flag are
    excluded. Returns one row per distinct duration carrying at least
    one OBSERVED event, ascending:

    ``(t, n_risk, n_events, n_censored, survival, na_cumhazard)``

    where ``n_risk`` counts subjects with duration >= t (the risk set —
    censored subjects participate until they drop out; that is the
    whole point of the estimator), ``n_censored`` counts censorings AT
    t, ``survival = prod_{t_j <= t} (1 - d_j / n_j)`` rounded 6, and
    ``na_cumhazard`` is the NELSON-AALEN cumulative hazard
    ``sum_{t_j <= t} d_j / n_j`` (the companion estimator — for small
    per-step hazards ``survival ~ exp(-na_cumhazard)``), folded in
    nano-units like the survival product.

    Laws (tests/test_survival.py): no censoring => survival equals the
    empirical tail fraction ``(n - cum_events) / n``; all-censored =>
    empty output; survival is non-increasing and in [0, 1); hand
    example matches the textbook computation.
    """
    d = F.col(duration_col)
    e = F.col(event_col)
    nn = df.where(d.isNotNull() & e.isNotNull())
    lvl = nn.groupBy(d.cast("double").alias("t")).agg(
        F.sum(e.cast("int")).cast("bigint").alias("n_events"),
        F.sum(1 - e.cast("int")).cast("bigint").alias("n_censored"),
    )
    # risk set: reverse cumulative subjects (events + censorings at or
    # above t) — a window over the duration-LEVEL frame, never subjects
    w_desc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = lvl.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_desc),
    )
    ev = risk.where(F.col("n_events") > 0)
    term = to_fixed(
        F.log(
            F.lit(1.0)
            - F.col("n_events").cast("double") / F.col("n_risk").cast("double")
        ),
        9,
    )
    w_asc = (
        Window.orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # d == n (everyone at risk dies at t): ln(0) = -inf; the curve hits
    # exactly 0 from there on — use a NULL term and carry a hit-zero flag
    hit_zero = F.col("n_events") == F.col("n_risk")
    haz_term = to_fixed(
        F.col("n_events").cast("double")
        / F.col("n_risk").cast("double"),
        9,
    )
    staged = ev.withColumn(
        "__term", F.when(~hit_zero, term)
    ).withColumn("__zero", hit_zero.cast("int")).withColumn(
        "__hterm", haz_term
    )
    out = staged.withColumn(
        "__lsum", F.coalesce(F.sum("__term").over(w_asc), F.lit(0))
    ).withColumn("__anyzero", F.sum("__zero").over(w_asc)).withColumn(
        "__hsum", F.sum("__hterm").over(w_asc)
    )
    surv = F.when(F.col("__anyzero") > 0, F.lit(0.0)).otherwise(
        round_to(F.exp(from_fixed(F.col("__lsum"), 9)), 6)
    )
    return (
        out.select(
            "t",
            "n_risk",
            "n_events",
            "n_censored",
            surv.alias("survival"),
            round_to(from_fixed(F.col("__hsum"), 9), 6)
            .alias("na_cumhazard"),
        )
        .orderBy("t")
    )


def kaplan_meier_sql(
    table_expr: str, duration_col: str, event_col: str
) -> str:
    """DuckDB twin of :func:`kaplan_meier` — identical duration-level
    reduction, reverse-cumulative risk set, nano-rounded log terms, and
    hit-zero carry."""
    return f"""
    WITH nn AS (
        SELECT CAST({duration_col} AS DOUBLE) AS t,
               CAST({event_col} AS INT) AS e
        FROM ({table_expr})
        WHERE {duration_col} IS NOT NULL AND {event_col} IS NOT NULL
    ), lvl AS (
        SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
               CAST(sum(1 - e) AS BIGINT) AS n_censored
        FROM nn GROUP BY t
    ), risk AS (
        SELECT *,
               CAST(sum(n_events + n_censored) OVER (
                   ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_risk
        FROM lvl
    ), ev AS (
        SELECT *,
               CASE WHEN n_events < n_risk THEN
                 CAST(round(ln(1.0 - CAST(n_events AS DOUBLE)
                                    / CAST(n_risk AS DOUBLE)) * 1e9, 0)
                      AS BIGINT)
               END AS __term,
               CASE WHEN n_events = n_risk THEN 1 ELSE 0 END AS __zero,
               CAST(round(CAST(n_events AS DOUBLE)
                          / CAST(n_risk AS DOUBLE) * 1e9, 0)
                    AS BIGINT) AS __hterm
        FROM risk WHERE n_events > 0
    ), cum AS (
        SELECT *,
               CAST(coalesce(sum(__term) OVER (
                   ORDER BY t ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ), 0) AS BIGINT) AS __lsum,
               CAST(sum(__zero) OVER (
                   ORDER BY t ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __anyzero,
               CAST(sum(__hterm) OVER (
                   ORDER BY t ASC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __hsum
        FROM ev
    )
    SELECT t, n_risk, n_events, n_censored,
           CASE WHEN __anyzero > 0 THEN 0.0
                ELSE round(exp(CAST(__lsum AS DOUBLE) / 1e9), 6)
           END AS survival,
           round(CAST(__hsum AS DOUBLE) / 1e9, 6) AS na_cumhazard
    FROM cum ORDER BY t
    """


def kaplan_meier_grouped(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Per-group Kaplan-Meier curves (compare segments/experiment arms
    on the SAME axes): identical estimator, every reduction and window
    partitioned by the group key (null-safe — a NULL group is a curve).
    Output adds ``group_col`` in front of the :func:`kaplan_meier`
    columns; all windows still run over duration-LEVEL frames."""
    d = F.col(duration_col)
    e = F.col(event_col)
    g = F.col(group_col)
    nn = df.where(d.isNotNull() & e.isNotNull())
    lvl = nn.groupBy(g.alias(group_col), d.cast("double").alias("t")).agg(
        F.sum(e.cast("int")).cast("bigint").alias("n_events"),
        F.sum(1 - e.cast("int")).cast("bigint").alias("n_censored"),
    )
    w_desc = (
        Window.partitionBy(group_col)
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = lvl.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_desc),
    )
    ev = risk.where(F.col("n_events") > 0)
    term = to_fixed(
        F.log(
            F.lit(1.0)
            - F.col("n_events").cast("double")
            / F.col("n_risk").cast("double")
        ),
        9,
    )
    hit_zero = F.col("n_events") == F.col("n_risk")
    haz_term = to_fixed(
        F.col("n_events").cast("double")
        / F.col("n_risk").cast("double"),
        9,
    )
    w_asc = (
        Window.partitionBy(group_col)
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        ev.withColumn("__term", F.when(~hit_zero, term))
        .withColumn("__zero", hit_zero.cast("int"))
        .withColumn("__hterm", haz_term)
        .withColumn(
            "__lsum", F.coalesce(F.sum("__term").over(w_asc), F.lit(0))
        )
        .withColumn("__anyzero", F.sum("__zero").over(w_asc))
        .withColumn("__hsum", F.sum("__hterm").over(w_asc))
    )
    surv = F.when(F.col("__anyzero") > 0, F.lit(0.0)).otherwise(
        round_to(F.exp(from_fixed(F.col("__lsum"), 9)), 6)
    )
    return out.select(
        group_col,
        "t",
        "n_risk",
        "n_events",
        "n_censored",
        surv.alias("survival"),
        round_to(from_fixed(F.col("__hsum"), 9), 6)
        .alias("na_cumhazard"),
    ).orderBy(group_col, "t")


def logrank_test(
    df: DataFrame,
    group_col: str,
    duration_col: str,
    event_col: str,
) -> DataFrame:
    """Two-sample LOG-RANK test (Mantel 1966; the standard question
    after plotting two KM curves: "are these survival experiences
    different, accounting for censoring?"). Over the pooled event
    times, with per-group risk sets (n1, n2) and event counts (d1, d2):

    ``O1 = sum d1``,  ``E1 = sum d * n1 / n``,
    ``V  = sum d * (n1/n) * (n2/n) * (n - d) / (n - 1)``,
    ``chi2 = (O1 - E1)^2 / V``  (1 df).

    Returns one row: ``(n1, n2, o1, e1, v, chi2)`` — chi2 only, no
    p-value lookup (the q134/q147 convention: neither engine ships the
    chi-square CDF; the 1-df 95% critical value is 3.841).

    Exactness: risk sets are exact BIGINTs from the dense
    (group x pooled-duration) grid (absent cells carry 0 events, so a
    group's risk at ANY pooled time is one reverse cumulative sum —
    the step function evaluated without an as-of join); the E1 and V
    terms are nano-unit-floored integers, so the folds are order-free;
    the final chi2 is three IEEE ops, rounded 6.

    Scale: subjects reduce to (group, duration) counts map-side; the
    dense grid is (distinct pooled durations) x 2 rows — the same
    duration-level bound as the estimator. Exactly two non-NULL groups
    required (validated cheaply on the grid frame).
    """
    d = F.col(duration_col)
    e = F.col(event_col)
    g = F.col(group_col)
    nn = df.where(d.isNotNull() & e.isNotNull() & g.isNotNull())
    # duration-level-bounded; feeds groups, times AND the grid join —
    # checkpoint so the raw subject reduction runs once, not 3x
    lvl = stage(nn.groupBy(g.alias("__g"), d.cast("double").alias("t")).agg(
        F.sum(e.cast("int")).cast("bigint").alias("__d"),
        F.count(F.lit(1)).cast("bigint").alias("__all"),
    ))
    groups = lvl.select("__g").distinct()
    times = lvl.select("t").distinct()
    grid = times.crossJoin(groups)
    cells = grid.join(lvl, ["__g", "t"], "left").select(
        "__g",
        "t",
        F.coalesce(F.col("__d"), F.lit(0)).alias("__d"),
        F.coalesce(F.col("__all"), F.lit(0)).alias("__all"),
    )
    w_desc = (
        Window.partitionBy("__g")
        .orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = cells.withColumn("__n", F.sum("__all").over(w_desc))
    # pivot the two groups side by side on the tiny grid: tag groups by
    # their sort order (deterministic)
    wg = Window.orderBy("__g")
    tagged = (
        groups.withColumn("__gi", F.row_number().over(wg))
    )
    sided = risk.join(F.broadcast(tagged), "__g").groupBy("t").agg(
        F.max(F.when(F.col("__gi") == 1, F.col("__d"))).alias("__d1"),
        F.max(F.when(F.col("__gi") == 2, F.col("__d"))).alias("__d2"),
        F.max(F.when(F.col("__gi") == 1, F.col("__n"))).alias("__n1"),
        F.max(F.when(F.col("__gi") == 2, F.col("__n"))).alias("__n2"),
        F.count(F.lit(1)).alias("__ng"),
    )
    dd = F.col("__d1") + F.col("__d2")
    ntot = F.col("__n1") + F.col("__n2")
    e1_term = F.floor(
        dd.cast("double") * F.col("__n1").cast("double")
        / ntot.cast("double") * F.lit(1e9)
    ).cast("bigint")
    v_term = F.floor(
        F.when(
            ntot > 1,
            dd.cast("double")
            * (F.col("__n1").cast("double") / ntot.cast("double"))
            * (F.col("__n2").cast("double") / ntot.cast("double"))
            * ((ntot - dd).cast("double") / (ntot - 1).cast("double")),
        ).otherwise(F.lit(0.0))
        * F.lit(1e9)
    ).cast("bigint")
    agg = sided.where(dd > 0).agg(
        F.sum("__d1").cast("bigint").alias("o1"),
        F.sum(e1_term).alias("__e1n"),
        F.sum(v_term).alias("__vn"),
        F.max("__n1").cast("bigint").alias("n1"),
        F.max("__n2").cast("bigint").alias("n2"),
    )
    e1 = from_fixed(F.col("__e1n"), 9)
    v = from_fixed(F.col("__vn"), 9)
    chi2 = F.when(
        F.col("__vn") > 0,
        (F.col("o1").cast("double") - e1) * (F.col("o1").cast("double") - e1) / v,
    )
    return agg.select(
        "n1",
        "n2",
        "o1",
        round_to(e1, 6).alias("e1"),
        round_to(v, 6).alias("v"),
        round_to(chi2, 6).alias("chi2"),
    )


def logrank_test_sql(
    table_expr: str, group_col: str, duration_col: str, event_col: str
) -> str:
    """DuckDB twin of :func:`logrank_test` — identical dense grid,
    reverse-cum risk sets, nano-floored folds."""
    return f"""
    WITH nn AS (
        SELECT {group_col} AS __g, CAST({duration_col} AS DOUBLE) AS t,
               CAST({event_col} AS INT) AS e
        FROM ({table_expr})
        WHERE {duration_col} IS NOT NULL AND {event_col} IS NOT NULL
          AND {group_col} IS NOT NULL
    ), lvl AS (
        SELECT __g, t, CAST(sum(e) AS BIGINT) AS __d,
               CAST(count(*) AS BIGINT) AS __all
        FROM nn GROUP BY __g, t
    ), grid AS (
        SELECT g.__g, ts.t FROM (SELECT DISTINCT __g FROM lvl) g
        CROSS JOIN (SELECT DISTINCT t FROM lvl) ts
    ), cells AS (
        SELECT grid.__g, grid.t,
               COALESCE(lvl.__d, 0) AS __d,
               COALESCE(lvl.__all, 0) AS __all
        FROM grid LEFT JOIN lvl
          ON grid.__g = lvl.__g AND grid.t = lvl.t
    ), risk AS (
        SELECT *, CAST(sum(__all) OVER (
                   PARTITION BY __g ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __n
        FROM cells
    ), tagged AS (
        SELECT __g, row_number() OVER (ORDER BY __g) AS __gi
        FROM (SELECT DISTINCT __g FROM lvl)
    ), sided AS (
        SELECT t,
               max(CASE WHEN __gi = 1 THEN __d END) AS __d1,
               max(CASE WHEN __gi = 2 THEN __d END) AS __d2,
               max(CASE WHEN __gi = 1 THEN __n END) AS __n1,
               max(CASE WHEN __gi = 2 THEN __n END) AS __n2
        FROM risk JOIN tagged USING (__g)
        GROUP BY t
    ), terms AS (
        SELECT *,
               __d1 + __d2 AS __dd, __n1 + __n2 AS __nt,
               CAST(floor(CAST(__d1 + __d2 AS DOUBLE)
                          * CAST(__n1 AS DOUBLE)
                          / CAST(__n1 + __n2 AS DOUBLE) * 1e9)
                    AS BIGINT) AS __e1t,
               CAST(floor(CASE WHEN __n1 + __n2 > 1 THEN
                     CAST(__d1 + __d2 AS DOUBLE)
                     * (CAST(__n1 AS DOUBLE) / CAST(__n1 + __n2 AS DOUBLE))
                     * (CAST(__n2 AS DOUBLE) / CAST(__n1 + __n2 AS DOUBLE))
                     * (CAST(__n1 + __n2 - __d1 - __d2 AS DOUBLE)
                        / CAST(__n1 + __n2 - 1 AS DOUBLE))
                   ELSE 0.0 END * 1e9) AS BIGINT) AS __vt
        FROM sided
    )
    SELECT CAST(max(__n1) AS BIGINT) AS n1,
           CAST(max(__n2) AS BIGINT) AS n2,
           CAST(sum(__d1) AS BIGINT) AS o1,
           round(CAST(sum(__e1t) AS BIGINT) / 1e9, 6) AS e1,
           round(CAST(sum(__vt) AS BIGINT) / 1e9, 6) AS v,
           CASE WHEN sum(__vt) > 0 THEN
             round((CAST(sum(__d1) AS BIGINT)
                    - CAST(sum(__e1t) AS BIGINT) / 1e9)
                   * (CAST(sum(__d1) AS BIGINT)
                      - CAST(sum(__e1t) AS BIGINT) / 1e9)
                   / (CAST(sum(__vt) AS BIGINT) / 1e9), 6)
           END AS chi2
    FROM terms WHERE __dd > 0
    """


def rmst(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    tau: float,
) -> DataFrame:
    """Restricted mean survival time (Royston & Parmar 2013; Uno 2014):
    the area under the Kaplan-Meier curve up to the clinically chosen
    horizon ``tau`` — the model-free effect size for censored
    durations ("average event-free days within the first tau days"),
    robust where median survival is undefined because the curve never
    crosses 0.5.

    Composes :func:`kaplan_meier` and integrates the step function
    exactly: ``RMST = min(t_1, tau) + sum_i S(t_i) * (min(t_{i+1},
    tau) - t_i)`` over event times ``t_i < tau`` (the leading segment
    has S = 1 by definition). Returns one row:
    ``(tau, n_event_times, rmst)``.

    Exactness: each rectangle ``S * dt`` is one double expression over
    the KM row's (rounded) survival and the exact duration deltas,
    folded as nano-unit integers; the lead/fold windows run over the
    BOUNDED distinct-duration frame (the KM convention).
    """
    km = kaplan_meier(df, duration_col, event_col)
    w = Window.orderBy("t")
    lead_t = F.lead("t").over(w)
    first_t = F.first("t").over(
        Window.orderBy("t").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    seg = km.select(
        "t",
        "survival",
        F.coalesce(lead_t, F.lit(float(tau))).alias("__nx"),
        first_t.alias("__t1"),
    )
    dt = F.greatest(
        F.lit(0.0),
        F.least(F.col("__nx"), F.lit(float(tau))) - F.col("t"),
    )
    term = F.when(
        F.col("t") < tau,
        to_fixed(F.col("survival") * dt, 9),
    ).otherwise(F.lit(0))
    return seg.agg(
        F.lit(float(tau)).alias("tau"),
        F.count(F.lit(1)).cast("bigint").alias("n_event_times"),
        round_to(
            F.least(F.max("__t1"), F.lit(float(tau)))
            + from_fixed(F.sum(term), 9),
            6,
        ).alias("rmst"),
    )


def rmst_sql(
    subjects_subquery: str,
    duration_col: str,
    event_col: str,
    tau: float,
) -> str:
    """DuckDB twin of :func:`rmst` — composes the KM twin, identical
    lead/clamp/fold expressions."""
    km = kaplan_meier_sql(subjects_subquery, duration_col, event_col)
    return f"""
    WITH km AS MATERIALIZED ({km}
    ), seg AS (
        SELECT t, survival,
               COALESCE(lead(t) OVER (ORDER BY t),
                        CAST({tau} AS DOUBLE)) AS __nx,
               first_value(t) OVER (
                   ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING
               ) AS __t1
        FROM km
    )
    SELECT CAST({tau} AS DOUBLE) AS tau,
           CAST(count(*) AS BIGINT) AS n_event_times,
           round((least(max(__t1), CAST({tau} AS DOUBLE))
                  + CAST(sum(CASE WHEN t < {tau} THEN
                        CAST(round(survival
                             * greatest(CAST(0 AS DOUBLE),
                                        least(__nx, CAST({tau} AS DOUBLE))
                                        - t)
                             * 1e9, 0) AS BIGINT)
                        ELSE 0 END) AS BIGINT) / 1e9)
                 * 1e6, 0) / 1e6 AS rmst
    FROM seg
    """


def kaplan_meier_ci(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    z: float = 1.96,
) -> DataFrame:
    """Kaplan-Meier curve with GREENWOOD-variance linear confidence
    bands (Greenwood 1926):

        var[S(t)] = S(t)^2 * sum_{t_j <= t} d_j / (n_j (n_j - d_j))
        ci = clamp(S +- z * S * sqrt(gw_sum), [0, 1])

    — the uncertainty-quantified companion of q178's point curve.

    Exactness: the Greenwood increments fold nano-unit-rounded BIGINT
    (order-free) exactly like the log-survival terms; a step where
    d == n pins the curve AND both bands to 0 from there on (the
    variance formula divides by zero there — the curve is degenerate,
    not uncertain). Same duration-level scale shape as
    :func:`kaplan_meier`.

    Returns ``(t, n_risk, n_events, survival, ci_lo, ci_hi)``.
    """
    d = F.col(duration_col)
    e = F.col(event_col)
    nn = df.where(d.isNotNull() & e.isNotNull())
    lvl = nn.groupBy(d.cast("double").alias("t")).agg(
        F.sum(e.cast("int")).cast("bigint").alias("n_events"),
        F.sum(1 - e.cast("int")).cast("bigint").alias("n_censored"),
    )
    w_desc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = lvl.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_desc),
    )
    ev = risk.where(F.col("n_events") > 0)
    hit_zero = F.col("n_events") == F.col("n_risk")
    term = to_fixed(
        F.log(
            F.lit(1.0)
            - F.col("n_events").cast("double")
            / F.col("n_risk").cast("double")
        ),
        9,
    )
    gw = to_fixed(
        F.col("n_events").cast("double")
        / (
            F.col("n_risk").cast("double")
            * (F.col("n_risk") - F.col("n_events")).cast("double")
        ),
        9,
    )
    staged = (
        ev.withColumn("__term", F.when(~hit_zero, term))
        .withColumn("__gw", F.when(~hit_zero, gw))
        .withColumn("__zero", hit_zero.cast("int"))
    )
    w_asc = (
        Window.orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = (
        staged.withColumn(
            "__lsum", F.coalesce(F.sum("__term").over(w_asc), F.lit(0))
        )
        .withColumn(
            "__gsum", F.coalesce(F.sum("__gw").over(w_asc), F.lit(0))
        )
        .withColumn("__anyzero", F.sum("__zero").over(w_asc))
    )
    surv = F.exp(from_fixed(F.col("__lsum"), 9))
    half = (
        F.lit(z)
        * surv
        * F.sqrt(from_fixed(F.col("__gsum"), 9))
    )
    dead = F.col("__anyzero") > 0
    return (
        out.select(
            "t",
            "n_risk",
            "n_events",
            F.when(dead, F.lit(0.0)).otherwise(round_to(surv, 6))
            .alias("survival"),
            F.when(dead, F.lit(0.0)).otherwise(
                round_to(F.greatest(F.lit(0.0), surv - half), 6)
            ).alias("ci_lo"),
            F.when(dead, F.lit(0.0)).otherwise(
                round_to(F.least(F.lit(1.0), surv + half), 6)
            ).alias("ci_hi"),
        )
        .orderBy("t")
    )


def kaplan_meier_ci_sql(
    table_expr: str, duration_col: str, event_col: str, z: float = 1.96
) -> str:
    """DuckDB twin of :func:`kaplan_meier_ci`."""
    return f"""
    WITH nn AS (
        SELECT CAST({duration_col} AS DOUBLE) AS t,
               CAST({event_col} AS INT) AS e
        FROM ({table_expr})
        WHERE {duration_col} IS NOT NULL AND {event_col} IS NOT NULL
    ), lvl AS (
        SELECT t, CAST(sum(e) AS BIGINT) AS n_events,
               CAST(sum(1 - e) AS BIGINT) AS n_censored
        FROM nn GROUP BY t
    ), risk AS (
        SELECT *,
               CAST(sum(n_events + n_censored) OVER (
                   ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_risk
        FROM lvl
    ), ev AS (
        SELECT *,
               CASE WHEN n_events < n_risk THEN
                 CAST(round(ln(1.0 - CAST(n_events AS DOUBLE)
                                    / CAST(n_risk AS DOUBLE)) * 1e9, 0)
                      AS BIGINT)
               END AS __term,
               CASE WHEN n_events < n_risk THEN
                 CAST(round(CAST(n_events AS DOUBLE)
                            / (CAST(n_risk AS DOUBLE)
                               * CAST(n_risk - n_events AS DOUBLE))
                            * 1e9, 0) AS BIGINT)
               END AS __gw,
               CASE WHEN n_events = n_risk THEN 1 ELSE 0 END AS __zero
        FROM risk WHERE n_events > 0
    ), cum AS (
        SELECT *,
               CAST(coalesce(sum(__term) OVER w, 0) AS BIGINT) AS __lsum,
               CAST(coalesce(sum(__gw) OVER w, 0) AS BIGINT) AS __gsum,
               CAST(sum(__zero) OVER w AS BIGINT) AS __anyzero
        FROM ev
        WINDOW w AS (ORDER BY t ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT t, n_risk, n_events,
           CASE WHEN __anyzero > 0 THEN 0.0
                ELSE round(exp(CAST(__lsum AS DOUBLE) / 1e9), 6)
           END AS survival,
           CASE WHEN __anyzero > 0 THEN 0.0
                ELSE round(greatest(0.0,
                     exp(CAST(__lsum AS DOUBLE) / 1e9)
                     - {z} * exp(CAST(__lsum AS DOUBLE) / 1e9)
                       * sqrt(CAST(__gsum AS DOUBLE) / 1e9)), 6)
           END AS ci_lo,
           CASE WHEN __anyzero > 0 THEN 0.0
                ELSE round(least(1.0,
                     exp(CAST(__lsum AS DOUBLE) / 1e9)
                     + {z} * exp(CAST(__lsum AS DOUBLE) / 1e9)
                       * sqrt(CAST(__gsum AS DOUBLE) / 1e9)), 6)
           END AS ci_hi
    FROM cum ORDER BY t
    """


def aalen_johansen(
    df: DataFrame,
    duration_col: str,
    cause_col: str,
) -> DataFrame:
    """Aalen-Johansen cumulative incidence under COMPETING RISKS
    (Aalen & Johansen 1978) — the estimator Kaplan-Meier cannot
    replace when more than one event type removes subjects (churn vs
    convert, error vs purchase): treating cause B as censoring when
    estimating cause A overstates A's incidence (1 - KM is biased);
    the AJ estimator allocates incidence mass per cause,

        CIF_k(t) = sum_{t_j <= t} S(t_j-) * d_kj / n_j

    with ``S`` the ALL-CAUSE Kaplan-Meier survival and ``S(t_j-)`` its
    left limit (the value just before t_j).

    Input: one row per subject — ``duration_col`` (time to first event
    or to censoring) and ``cause_col`` (the event type; NULL =
    right-censored). Returns one row per (event time, cause) carrying
    at least one event of that cause, ascending (t, cause):

    ``(t, cause, n_risk, n_events, cif, overall_survival)``

    Identity law (tests/test_survival.py): at every event time,
    ``sum_k CIF_k(t) + S(t) == 1`` to round-6 tolerance — incidence
    mass is conserved across causes.

    Exactness: the :func:`kaplan_meier` discipline — the all-cause
    survival rides nano-rounded ``ln(1 - d/n)`` integer cumsums with
    the hit-zero carry; ``S(t-)`` is the EXCLUSIVE prefix of the same
    integers, rounded 6 BEFORE entering each CIF term; CIF terms
    nano-round to BIGINT before their per-cause cumsum. All windows
    run over the duration-level frame (one row per distinct event
    time), never subjects.
    """
    d = F.col(duration_col)
    cz = F.col(cause_col)
    nn = df.where(d.isNotNull()).select(
        d.cast("double").alias("t"), cz.cast("string").alias("__cz")
    )
    lvl = nn.groupBy("t").agg(
        F.count("__cz").cast("bigint").alias("__dtot"),
        F.sum(F.when(F.col("__cz").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("__cens"),
    )
    w_desc = (
        Window.orderBy(F.col("t").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    risk = lvl.withColumn(
        "n_risk", F.sum(F.col("__dtot") + F.col("__cens")).over(w_desc)
    )
    ev = risk.where(F.col("__dtot") > 0)
    hit_zero = F.col("__dtot") == F.col("n_risk")
    term = to_fixed(
        F.log(
            F.lit(1.0)
            - F.col("__dtot").cast("double")
            / F.col("n_risk").cast("double")
        ),
        9,
    )
    staged = ev.withColumn(
        "__term", F.when(~hit_zero, term)
    ).withColumn("__zero", hit_zero.cast("int"))
    w_incl = (
        Window.orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_excl = (
        Window.orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = (
        staged.withColumn(
            "__ls_i", F.coalesce(F.sum("__term").over(w_incl), F.lit(0))
        )
        .withColumn("__z_i", F.sum("__zero").over(w_incl))
        .withColumn(
            "__ls_e", F.coalesce(F.sum("__term").over(w_excl), F.lit(0))
        )
        .withColumn(
            "__z_e", F.coalesce(F.sum("__zero").over(w_excl), F.lit(0))
        )
    )
    s_incl = F.when(F.col("__z_i") > 0, F.lit(0.0)).otherwise(
        round_to(F.exp(from_fixed(F.col("__ls_i"), 9)), 6)
    )
    s_prev = F.when(F.col("__z_e") > 0, F.lit(0.0)).otherwise(
        round_to(F.exp(from_fixed(F.col("__ls_e"), 9)), 6)
    )
    tlevel = cum.select(
        "t",
        "n_risk",
        s_incl.alias("__s"),
        s_prev.alias("__sp"),
    )
    bycause = (
        nn.where(F.col("__cz").isNotNull())
        .groupBy("t", F.col("__cz").alias("cause"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    joined = bycause.join(tlevel, "t").withColumn(
        "__ct",
        to_fixed(
            F.col("__sp")
            * F.col("n_events").cast("double")
            / F.col("n_risk").cast("double"),
            9,
        ),
    )
    w_cause = (
        Window.partitionBy("cause")
        .orderBy(F.col("t").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        joined.withColumn("__cs", F.sum("__ct").over(w_cause))
        .select(
            "t",
            "cause",
            "n_risk",
            "n_events",
            round_to(from_fixed(F.col("__cs"), 9), 6).alias(
                "cif"
            ),
            F.col("__s").alias("overall_survival"),
        )
        .orderBy("t", "cause")
    )


def aalen_johansen_sql(
    table_expr: str, duration_col: str, cause_col: str
) -> str:
    """DuckDB twin of :func:`aalen_johansen` — identical duration-level
    reduction, exclusive-prefix left-limit survival, nano-rounded CIF
    terms and per-cause cumsums."""
    return f"""
    WITH nn AS (
        SELECT CAST({duration_col} AS DOUBLE) AS t,
               CAST({cause_col} AS VARCHAR) AS __cz
        FROM ({table_expr})
        WHERE {duration_col} IS NOT NULL
    ), lvl AS (
        SELECT t,
               CAST(count(__cz) AS BIGINT) AS __dtot,
               CAST(sum(CASE WHEN __cz IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS __cens
        FROM nn GROUP BY t
    ), risk AS (
        SELECT *,
               CAST(sum(__dtot + __cens) OVER (
                   ORDER BY t DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS n_risk
        FROM lvl
    ), ev AS (
        SELECT *,
               CASE WHEN __dtot < n_risk THEN
                 CAST(round(ln(1.0 - CAST(__dtot AS DOUBLE)
                                    / CAST(n_risk AS DOUBLE)) * 1e9, 0)
                      AS BIGINT)
               END AS __term,
               CASE WHEN __dtot = n_risk THEN 1 ELSE 0 END AS __zero
        FROM risk WHERE __dtot > 0
    ), cum AS (
        SELECT *,
               CAST(coalesce(sum(__term) OVER w_i, 0) AS BIGINT)
                   AS __ls_i,
               CAST(sum(__zero) OVER w_i AS BIGINT) AS __z_i,
               CAST(coalesce(sum(__term) OVER w_e, 0) AS BIGINT)
                   AS __ls_e,
               CAST(coalesce(sum(__zero) OVER w_e, 0) AS BIGINT)
                   AS __z_e
        FROM ev
        WINDOW w_i AS (ORDER BY t ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_e AS (ORDER BY t ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ), tlevel AS (
        SELECT t, n_risk,
               CASE WHEN __z_i > 0 THEN 0.0
                    ELSE round(exp(CAST(__ls_i AS DOUBLE) / 1e9), 6)
               END AS __s,
               CASE WHEN __z_e > 0 THEN 0.0
                    ELSE round(exp(CAST(__ls_e AS DOUBLE) / 1e9), 6)
               END AS __sp
        FROM cum
    ), bycause AS (
        SELECT t, __cz AS cause, CAST(count(*) AS BIGINT) AS n_events
        FROM nn WHERE __cz IS NOT NULL GROUP BY 1, 2
    ), terms AS (
        SELECT b.t, b.cause, l.n_risk, b.n_events, l.__s,
               CAST(round(l.__sp * CAST(b.n_events AS DOUBLE)
                          / CAST(l.n_risk AS DOUBLE) * 1e9, 0)
                    AS BIGINT) AS __ct
        FROM bycause b JOIN tlevel l ON l.t = b.t
    )
    SELECT t, cause, n_risk, n_events,
           round(CAST(sum(__ct) OVER (
               PARTITION BY cause ORDER BY t ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 1e9, 6) AS cif,
           __s AS overall_survival
    FROM terms
    ORDER BY t, cause
    """
