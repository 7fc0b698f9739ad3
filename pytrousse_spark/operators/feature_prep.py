"""ML feature-preparation operators: leakage-safe target encoding,
weight-of-evidence / information value, decile lift-gains tables, and
empirical-Bayes rate shrinkage.

These are the supervised-learning data-prep steps a training pipeline
runs between the profiling (q20) and encoding (T4/T5) layers of the
reference surface (reference feature ops live in
src/trousse/feature_operations.py:1-120 — encoders only; the
target-aware family here is the beyond-reference extension, same
Dataset-in → DataFrame-out contract).

Exactness contract (the repo-wide cross-engine rule): every aggregate
folds exact integers (counts, integer cents, nano-unit per-row
divisions); doubles appear only as single divisions / ln of identical
integers, then round-6 at the output edge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import from_fixed, round_to, to_fixed

__all__ = [
    "loo_target_encoding",
    "loo_target_encoding_sql",
    "woe_iv",
    "woe_iv_sql",
    "lift_gains",
    "lift_gains_sql",
    "eb_rate_shrinkage",
    "eb_rate_shrinkage_sql",
]


def loo_target_encoding(
    df: DataFrame,
    key_col: str,
    cat_col: str,
    target: Column,
) -> DataFrame:
    """Leave-one-out target encoding (Micci-Barreca 2001, the
    leakage-safe variant): each row's category is replaced by the mean
    target of the OTHER rows in its category —

        loo_i = (sum_cat(y) - y_i) / (n_cat - 1)

    so a row never sees its own label (plain mean encoding leaks the
    target and inflates offline metrics). Singleton categories (n = 1)
    get NULL — the caller decides the fallback prior; silently
    substituting the global mean would hide the leak-prone cells.
    NULL categories are a category like any other (the r5-ADVICE
    null-join rule: aggregated with a null-safe key, not dropped).

    ``target`` must be a 0/1 integer column expression.

    Returns one row per input row: ``(key, category, y, loo)``.

    Exactness: per-category sums/counts are exact BIGINT; ``loo`` is
    ONE division of identical integers, round-6.

    Scale: one cat-keyed agg (map-side combinable, category
    cardinality-sized result) broadcast back onto the fact rows — the
    fact table never shuffles and no window runs over it.
    """
    y = target.cast("bigint")
    base = df.select(
        F.col(key_col).alias("key"),
        F.col(cat_col).alias("category"),
        y.alias("y"),
    )
    stats = base.groupBy(F.col("category").alias("__c")).agg(
        F.sum("y").cast("bigint").alias("__sy"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
    )
    return (
        base.join(
            F.broadcast(stats),
            F.col("category").eqNullSafe(F.col("__c")),
            "inner",
        )
        .select(
            "key",
            "category",
            "y",
            round_to(
                F.when(
                    F.col("__n") > 1,
                    (F.col("__sy") - F.col("y")).cast("double")
                    / (F.col("__n") - 1).cast("double"),
                ),
                6,
            ).alias("loo"),
        )
    )


def loo_target_encoding_sql(
    table_expr: str,
    key_col: str,
    cat_col: str,
    target_sql: str,
) -> str:
    """DuckDB twin of :func:`loo_target_encoding` — identical
    null-safe category join, integer fold and single division."""
    return f"""
    WITH __base AS (
        SELECT {key_col} AS key, {cat_col} AS category,
               CAST({target_sql} AS BIGINT) AS y
        FROM ({table_expr})
    ), __stats AS (
        SELECT category AS __c,
               CAST(sum(y) AS BIGINT) AS __sy,
               CAST(count(*) AS BIGINT) AS __n
        FROM __base GROUP BY 1
    )
    SELECT b.key, b.category, b.y,
           round(CASE WHEN s.__n > 1 THEN
                 CAST(s.__sy - b.y AS DOUBLE)
                 / CAST(s.__n - 1 AS DOUBLE) END * 1e6, 0) / 1e6
               AS loo
    FROM __base b JOIN __stats s
      ON b.category IS NOT DISTINCT FROM s.__c
    """


def woe_iv(
    df: DataFrame,
    cat_col: str,
    target: Column,
) -> DataFrame:
    """Weight of evidence + information value (the credit-scoring
    standard, Siddiqi 2006) of a categorical feature against a binary
    target:

        woe_c = ln( (good_c / G) / (bad_c / B) )
              = ln( (good_c * B) / (bad_c * G) )      -- one division
        iv    = sum_c (good_c/G - bad_c/B) * woe_c

    ``good`` = target 1, ``bad`` = target 0. Categories with a zero
    cell get NULL woe and contribute 0 to IV (the unsmoothed
    convention, stated rather than silently Laplace-smoothed). NULL
    categories aggregate as their own row.

    Returns one row per category: ``(category, good, bad, woe, iv)``
    with ``iv`` the TOTAL repeated on every row (nano-unit fold over
    the bounded category frame).

    Exactness: counts exact; woe = ln of one exact-integer division;
    each IV term is round()ed to a nano-unit BIGINT before the
    category-frame sum, so fold order never enters.

    Scale: ONE cat-keyed conditional agg over the table; everything
    after runs on the category-cardinality frame.
    """
    y = target.cast("int")
    per = df.select(F.col(cat_col).alias("category"), y.alias("__y")).groupBy(
        "category"
    ).agg(
        F.sum(F.when(F.col("__y") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("good"),
        F.sum(F.when(F.col("__y") == 1, 0).otherwise(1))
        .cast("bigint")
        .alias("bad"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    staged = per.select(
        "category",
        "good",
        "bad",
        F.sum("good").over(tot).cast("bigint").alias("__g"),
        F.sum("bad").over(tot).cast("bigint").alias("__b"),
    )
    woe = F.when(
        (F.col("good") > 0) & (F.col("bad") > 0),
        F.log(
            (F.col("good") * F.col("__b")).cast("double")
            / (F.col("bad") * F.col("__g")).cast("double")
        ),
    )
    ivt = F.when(
        (F.col("good") > 0) & (F.col("bad") > 0),
        (
            F.col("good").cast("double") / F.col("__g").cast("double")
            - F.col("bad").cast("double") / F.col("__b").cast("double")
        )
        * woe,
    ).otherwise(F.lit(0.0))
    with_terms = staged.select(
        "category",
        "good",
        "bad",
        woe.alias("__woe"),
        to_fixed(ivt, 9).alias("__ivn"),
    )
    return with_terms.select(
        "category",
        "good",
        "bad",
        round_to(F.col("__woe"), 6).alias("woe"),
        round_to(
            from_fixed(F.sum("__ivn").over(tot), 9),
            6,
        ).alias("iv"),
    )


def woe_iv_sql(
    table_expr: str,
    cat_col: str,
    target_sql: str,
) -> str:
    """DuckDB twin of :func:`woe_iv` — identical conditional agg,
    ln-of-one-division, nano-unit IV fold."""
    return f"""
    WITH __per AS (
        SELECT {cat_col} AS category,
               CAST(sum(CASE WHEN CAST({target_sql} AS INTEGER) = 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS good,
               CAST(sum(CASE WHEN CAST({target_sql} AS INTEGER) = 1
                        THEN 0 ELSE 1 END) AS BIGINT) AS bad
        FROM ({table_expr}) GROUP BY 1
    ), __staged AS (
        SELECT category, good, bad,
               CAST(sum(good) OVER () AS BIGINT) AS __g,
               CAST(sum(bad) OVER () AS BIGINT) AS __b
        FROM __per
    ), __terms AS (
        SELECT category, good, bad,
               CASE WHEN good > 0 AND bad > 0 THEN
                    ln(CAST(good * __b AS DOUBLE)
                       / CAST(bad * __g AS DOUBLE)) END AS __woe,
               CAST(round(COALESCE(
                    CASE WHEN good > 0 AND bad > 0 THEN
                         (CAST(good AS DOUBLE) / CAST(__g AS DOUBLE)
                          - CAST(bad AS DOUBLE) / CAST(__b AS DOUBLE))
                         * ln(CAST(good * __b AS DOUBLE)
                              / CAST(bad * __g AS DOUBLE)) END,
                    CAST(0 AS DOUBLE)) * 1e9, 0) AS BIGINT) AS __ivn
        FROM __staged
    )
    SELECT category, good, bad,
           round(__woe * 1e6, 0) / 1e6 AS woe,
           round(CAST(CAST(sum(__ivn) OVER () AS BIGINT) AS DOUBLE)
                 / 1e9 * 1e6, 0) / 1e6 AS iv
    FROM __terms
    """


def lift_gains(
    df: DataFrame,
    score_col: str,
    target: Column,
    n_bands: int = 10,
) -> DataFrame:
    """Decile lift / cumulative-gains table — the model-targeting
    readout ("how much better than random is mailing the top 10%"):
    rows are banded by score into ``n_bands`` via the HISTOGRAM-SKETCH
    rank transform (q156's scale-safe device — no NTILE global sort),
    band ``n_bands - 1`` = highest scores, and the table reads top
    band first:

        lift_c     = rate_band / rate_overall
        cum_gain_c = positives in bands >= c / total positives

    Returns ``n_bands`` rows: ``(band, n, positives, rate, lift,
    cum_gain)`` ordered band DESC.

    Exactness: band assignment is per-row scalar IEEE arithmetic
    (identical expression text in the twin); all aggregates are exact
    integer counts; rate/lift/cum_gain are single divisions of
    identical integers, round-6.

    Scale: the sketch-rank pass is broadcast stats + a tiny CDF join
    (fact never shuffles on a sort key); then ONE band-keyed agg and
    windows over the ``n_bands``-row frame.
    """
    from .transforms import percent_rank_transform_approx

    base = df.select(
        F.col(score_col).alias("__score"),
        target.cast("bigint").alias("__y"),
        F.lit(1).alias("__grp"),
    )
    ranked = percent_rank_transform_approx(
        base, "__grp", "__score", out_col="__pr"
    )
    banded = ranked.select(
        F.least(
            F.lit(n_bands - 1),
            F.floor(F.col("__pr") * n_bands).cast("int"),
        ).alias("band"),
        "__y",
    )
    per = banded.groupBy("band").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__y").cast("bigint").alias("positives"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = per.select(
        "band",
        "n",
        "positives",
        F.sum("n").over(tot).cast("bigint").alias("__nt"),
        F.sum("positives").over(tot).cast("bigint").alias("__pt"),
        F.sum("positives").over(cum).cast("bigint").alias("__cp"),
    )
    rate = F.col("positives").cast("double") / F.col("n").cast("double")
    return staged.select(
        "band",
        "n",
        "positives",
        round_to(rate, 6).alias("rate"),
        round_to(
            F.when(
                F.col("__pt") > 0,
                (F.col("positives") * F.col("__nt")).cast("double")
                / (F.col("n") * F.col("__pt")).cast("double"),
            ),
            6,
        ).alias("lift"),
        round_to(
            F.when(
                F.col("__pt") > 0,
                F.col("__cp").cast("double")
                / F.col("__pt").cast("double"),
            ),
            6,
        ).alias("cum_gain"),
    ).orderBy(F.col("band").desc())


def lift_gains_sql(
    table_expr: str,
    score_col: str,
    target_sql: str,
    n_bands: int = 10,
) -> str:
    """DuckDB twin of :func:`lift_gains` — replays the identical
    sketch-rank banding, integer folds and divisions."""
    from .transforms import percent_rank_transform_approx_sql

    inner = percent_rank_transform_approx_sql(
        "__lgbase", "__grp", "__score", out_col="__pr"
    )
    return f"""
    WITH __lgbase AS MATERIALIZED (
        SELECT {score_col} AS __score,
               CAST({target_sql} AS BIGINT) AS __y,
               1 AS __grp
        FROM ({table_expr})
    ), __ranked AS (
        {inner}
    ), __banded AS (
        SELECT CAST(least({n_bands - 1},
                     CAST(floor(__pr * {n_bands}) AS INTEGER))
                    AS INTEGER) AS band,
               __y
        FROM __ranked
    ), __per AS (
        SELECT band, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(__y) AS BIGINT) AS positives
        FROM __banded GROUP BY 1
    ), __staged AS (
        SELECT band, n, positives,
               CAST(sum(n) OVER () AS BIGINT) AS __nt,
               CAST(sum(positives) OVER () AS BIGINT) AS __pt,
               CAST(sum(positives) OVER (ORDER BY band DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __cp
        FROM __per
    )
    SELECT band, n, positives,
           round(CAST(positives AS DOUBLE) / CAST(n AS DOUBLE)
                 * 1e6, 0) / 1e6 AS rate,
           round(CASE WHEN __pt > 0 THEN
                 CAST(positives * __nt AS DOUBLE)
                 / CAST(n * __pt AS DOUBLE) END * 1e6, 0) / 1e6
               AS lift,
           round(CASE WHEN __pt > 0 THEN
                 CAST(__cp AS DOUBLE) / CAST(__pt AS DOUBLE) END
                 * 1e6, 0) / 1e6 AS cum_gain
    FROM __staged
    ORDER BY band DESC
    """


def eb_rate_shrinkage(
    df: DataFrame,
    key_col: str,
    trial: Column,
    success: Column,
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-key event rates under a
    beta-binomial model, prior fit by method of moments (Robbins 1956
    / the baseball-batting-average classic): small-sample keys shrink
    hard toward the population rate, high-volume keys barely move —
    the standard fix for "this user converted 1/1 = 100%" leaderboard
    noise.

    Prior from the across-key moments of the raw rates
    ``p_i = s_i / t_i``:

        alpha = m * (m(1-m)/v - 1),  beta = (1-m) * (m(1-m)/v - 1)
        shrunk_i = (s_i + alpha) / (t_i + alpha + beta)

    Degenerate priors (v = 0 or v >= m(1-m), i.e. the moment system
    has no positive solution) yield NULL shrunk rates — stated, not
    silently clamped.

    ``trial`` / ``success`` are per-ROW 0/1 (or count) contributions;
    keys with zero trials are dropped (no rate to shrink).

    Returns one row per key: ``(key, trials, successes, raw_rate,
    shrunk_rate)``.

    Exactness: per-key trials/successes are exact BIGINT; each raw
    rate enters the moment fold as a round()ed NANO-UNIT BIGINT (one
    division per key, fold-order-free); m and v are single divisions
    of those exact sums (nano^2 accumulates in DECIMAL(38)/HUGEINT);
    alpha/beta/shrunk are scalar IEEE chains on identical doubles.

    Scale: one key-keyed agg, one global moment agg (5 numbers)
    broadcast back; no windows over the fact table.
    """
    per = (
        df.select(
            F.col(key_col).alias("key"),
            trial.cast("bigint").alias("__t"),
            success.cast("bigint").alias("__s"),
        )
        .groupBy("key")
        .agg(
            F.sum("__t").cast("bigint").alias("trials"),
            F.sum("__s").cast("bigint").alias("successes"),
        )
        .where(F.col("trials") > 0)
        .withColumn(
            "__pn",
            to_fixed(
                F.col("successes").cast("double")
                / F.col("trials").cast("double"),
                9,
            ),
        )
    )
    mom = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("__k"),
        F.sum("__pn").cast("decimal(38,0)").alias("__sp"),
        F.sum(
            F.col("__pn").cast("decimal(38,0)")
            * F.col("__pn").cast("decimal(38,0)")
        )
        .alias("__spp"),
    )
    k = F.col("__k").cast("double")
    m = from_fixed(F.col("__sp"), 9) / k
    # population variance of the nano rates: E[p^2] - m^2
    v = (
        from_fixed(F.col("__spp"), 18) / k
        - m * m
    )
    c = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    prior = mom.select(
        F.when((v > 0) & (m * (F.lit(1.0) - m) > v), m * c)
        .alias("__alpha"),
        F.when(
            (v > 0) & (m * (F.lit(1.0) - m) > v),
            (F.lit(1.0) - m) * c,
        ).alias("__beta"),
    )
    joined = per.join(F.broadcast(prior), how="cross")
    raw = F.col("successes").cast("double") / F.col("trials").cast(
        "double"
    )
    shrunk = (F.col("successes").cast("double") + F.col("__alpha")) / (
        F.col("trials").cast("double")
        + F.col("__alpha")
        + F.col("__beta")
    )
    return joined.select(
        "key",
        "trials",
        "successes",
        round_to(raw, 6).alias("raw_rate"),
        round_to(shrunk, 6).alias("shrunk_rate"),
    )


def eb_rate_shrinkage_sql(
    table_expr: str,
    key_col: str,
    trial_sql: str,
    success_sql: str,
) -> str:
    """DuckDB twin of :func:`eb_rate_shrinkage` — identical nano-unit
    moment fold (HUGEINT), prior solution and shrink chain."""
    return f"""
    WITH __per AS (
        SELECT {key_col} AS key,
               CAST(sum(CAST({trial_sql} AS BIGINT)) AS BIGINT)
                   AS trials,
               CAST(sum(CAST({success_sql} AS BIGINT)) AS BIGINT)
                   AS successes
        FROM ({table_expr})
        GROUP BY 1
        HAVING CAST(sum(CAST({trial_sql} AS BIGINT)) AS BIGINT) > 0
    ), __pn AS (
        SELECT *, CAST(round(CAST(successes AS DOUBLE)
                       / CAST(trials AS DOUBLE) * 1e9, 0) AS BIGINT)
                  AS __pn
        FROM __per
    ), __mom AS (
        SELECT CAST(count(*) AS BIGINT) AS __k,
               CAST(sum(CAST(__pn AS HUGEINT)) AS HUGEINT) AS __sp,
               CAST(sum(CAST(__pn AS HUGEINT) * CAST(__pn AS HUGEINT))
                    AS HUGEINT) AS __spp
        FROM __pn
    ), __prior AS (
        SELECT
            CASE WHEN __v > 0 AND __m * (CAST(1 AS DOUBLE) - __m) > __v
                 THEN __m * (__m * (CAST(1 AS DOUBLE) - __m) / __v
                             - CAST(1 AS DOUBLE)) END AS __alpha,
            CASE WHEN __v > 0 AND __m * (CAST(1 AS DOUBLE) - __m) > __v
                 THEN (CAST(1 AS DOUBLE) - __m)
                      * (__m * (CAST(1 AS DOUBLE) - __m) / __v
                         - CAST(1 AS DOUBLE)) END AS __beta
        FROM (
            SELECT CAST(__sp AS DOUBLE) / 1e9 / CAST(__k AS DOUBLE)
                       AS __m,
                   CAST(__spp AS DOUBLE) / 1e18 / CAST(__k AS DOUBLE)
                   - (CAST(__sp AS DOUBLE) / 1e9
                      / CAST(__k AS DOUBLE))
                     * (CAST(__sp AS DOUBLE) / 1e9
                        / CAST(__k AS DOUBLE)) AS __v
            FROM __mom
        )
    )
    SELECT p.key, p.trials, p.successes,
           round(CAST(p.successes AS DOUBLE)
                 / CAST(p.trials AS DOUBLE) * 1e6, 0) / 1e6
               AS raw_rate,
           round((CAST(p.successes AS DOUBLE) + r.__alpha)
                 / (CAST(p.trials AS DOUBLE) + r.__alpha + r.__beta)
                 * 1e6, 0) / 1e6 AS shrunk_rate
    FROM __pn p CROSS JOIN __prior r
    """


def uplift_by_band(
    df: DataFrame,
    score_col: str,
    treat: Column,
    target: Column,
    n_bands: int = 10,
) -> DataFrame:
    """Uplift-by-decile table with the Qini cumulative curve
    (Radcliffe 2007) — model-free uplift EVALUATION: rows band by a
    targeting score (the q209 sketch-rank device, pooled arms, no
    NTILE sort), and each band contrasts treated vs control response:

        uplift_c = pos_t/n_t - pos_c/n_c                 (per band)
        qini_c   = cum_pos_t - cum_pos_c * cum_n_t/cum_n_c   (top-down)

    A useful targeting score concentrates uplift in the top bands; a
    useless one gives a flat Qini curve ending at the overall
    treatment effect.

    Exactness: band assignment is the identical scalar expression in
    the twin; all counts exact BIGINT; uplift/qini are single
    divisions of identical integers, round-6; empty arms yield NULL.

    Scale: identical to lift_gains — broadcast sketch CDF, one
    band-keyed agg, windows over the n_bands-row frame.

    Returns ``(band, n_treat, pos_treat, n_ctrl, pos_ctrl, uplift,
    qini)`` ordered band DESC.
    """
    from .transforms import percent_rank_transform_approx

    base = df.select(
        F.col(score_col).alias("__score"),
        treat.cast("int").alias("__t"),
        target.cast("bigint").alias("__y"),
        F.lit(1).alias("__grp"),
    )
    ranked = percent_rank_transform_approx(
        base, "__grp", "__score", out_col="__pr"
    )
    banded = ranked.select(
        F.least(
            F.lit(n_bands - 1),
            F.floor(F.col("__pr") * n_bands).cast("int"),
        ).alias("band"),
        "__t",
        "__y",
    )
    per = banded.groupBy("band").agg(
        F.sum(F.when(F.col("__t") == 1, 1).otherwise(0))
        .cast("bigint").alias("n_treat"),
        F.sum(F.when(F.col("__t") == 1, F.col("__y")).otherwise(0))
        .cast("bigint").alias("pos_treat"),
        F.sum(F.when(F.col("__t") == 0, 1).otherwise(0))
        .cast("bigint").alias("n_ctrl"),
        F.sum(F.when(F.col("__t") == 0, F.col("__y")).otherwise(0))
        .cast("bigint").alias("pos_ctrl"),
    )
    cum = Window.orderBy(F.col("band").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    staged = per.select(
        "band", "n_treat", "pos_treat", "n_ctrl", "pos_ctrl",
        F.sum("n_treat").over(cum).cast("bigint").alias("__cnt"),
        F.sum("pos_treat").over(cum).cast("bigint").alias("__cpt"),
        F.sum("n_ctrl").over(cum).cast("bigint").alias("__cnc"),
        F.sum("pos_ctrl").over(cum).cast("bigint").alias("__cpc"),
    )
    uplift = F.when(
        (F.col("n_treat") > 0) & (F.col("n_ctrl") > 0),
        F.col("pos_treat").cast("double") / F.col("n_treat").cast("double")
        - F.col("pos_ctrl").cast("double") / F.col("n_ctrl").cast("double"),
    )
    qini = F.when(
        F.col("__cnc") > 0,
        F.col("__cpt").cast("double")
        - F.col("__cpc").cast("double")
        * F.col("__cnt").cast("double")
        / F.col("__cnc").cast("double"),
    )
    return staged.select(
        "band", "n_treat", "pos_treat", "n_ctrl", "pos_ctrl",
        round_to(uplift, 6).alias("uplift"),
        round_to(qini, 6).alias("qini"),
    ).orderBy(F.col("band").desc())


def uplift_by_band_sql(
    table_expr: str,
    score_col: str,
    treat_sql: str,
    target_sql: str,
    n_bands: int = 10,
) -> str:
    """DuckDB twin of :func:`uplift_by_band`."""
    from .transforms import percent_rank_transform_approx_sql

    inner = percent_rank_transform_approx_sql(
        "__ubase", "__grp", "__score", out_col="__pr"
    )
    return f"""
    WITH __ubase AS MATERIALIZED (
        SELECT {score_col} AS __score,
               CAST({treat_sql} AS INTEGER) AS __t,
               CAST({target_sql} AS BIGINT) AS __y,
               1 AS __grp
        FROM ({table_expr})
    ), __ranked AS (
        {inner}
    ), __banded AS (
        SELECT CAST(least({n_bands - 1},
                     CAST(floor(__pr * {n_bands}) AS INTEGER))
                    AS INTEGER) AS band,
               __t, __y
        FROM __ranked
    ), __per AS (
        SELECT band,
               CAST(sum(CASE WHEN __t = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_treat,
               CAST(sum(CASE WHEN __t = 1 THEN __y ELSE 0 END) AS BIGINT)
                   AS pos_treat,
               CAST(sum(CASE WHEN __t = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_ctrl,
               CAST(sum(CASE WHEN __t = 0 THEN __y ELSE 0 END) AS BIGINT)
                   AS pos_ctrl
        FROM __banded GROUP BY 1
    ), __staged AS (
        SELECT band, n_treat, pos_treat, n_ctrl, pos_ctrl,
               CAST(sum(n_treat) OVER w AS BIGINT) AS __cnt,
               CAST(sum(pos_treat) OVER w AS BIGINT) AS __cpt,
               CAST(sum(n_ctrl) OVER w AS BIGINT) AS __cnc,
               CAST(sum(pos_ctrl) OVER w AS BIGINT) AS __cpc
        FROM __per
        WINDOW w AS (ORDER BY band DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT band, n_treat, pos_treat, n_ctrl, pos_ctrl,
           round(CASE WHEN n_treat > 0 AND n_ctrl > 0 THEN
                 CAST(pos_treat AS DOUBLE) / CAST(n_treat AS DOUBLE)
                 - CAST(pos_ctrl AS DOUBLE) / CAST(n_ctrl AS DOUBLE)
                 END * 1e6, 0) / 1e6 AS uplift,
           round(CASE WHEN __cnc > 0 THEN
                 CAST(__cpt AS DOUBLE)
                 - CAST(__cpc AS DOUBLE) * CAST(__cnt AS DOUBLE)
                   / CAST(__cnc AS DOUBLE) END * 1e6, 0) / 1e6 AS qini
    FROM __staged
    ORDER BY band DESC
    """
