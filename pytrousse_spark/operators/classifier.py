"""Model-based quality filtering: logistic regression trained IN the engine.

The standard corpus-curation step the heuristic gates (quality_score,
repetition_stats, surprisal) feed into: a tiny linear classifier over
cheap text features, trained by batch gradient descent where every
iteration is ONE aggregation over the feature frame — the map-side
partial-agg shape that scales to any corpus size (the model is 4 numbers;
the data never moves). fastText-style quality filters in public LLM
pipelines (GPT-3 appendix A, Brown et al. 2020; RefinedWeb, Penedo et al.
2023) are exactly this pattern at larger feature counts.

Engine-exactness: features are rounded to 6 decimals at the stage, the
sigmoid is rounded to 6, and each row's gradient contribution is converted
to integer micro-units before summing — so the gradient SUM is exact
integer arithmetic, immune to float fold order, and the DuckDB oracle
replays the whole training chain (init → T iterations → metrics) as a
CTE pipeline and lands on bit-identical weights.

Scale: per iteration, one scan + one 5-value aggregate (no shuffle of
rows at all — partial aggs combine on the driver side of the exchange);
the feature frame is computed once and staged. T iterations =
T scans of the staged feature frame.

The linear-model family shares one kernel per engine here: ``_sigma`` /
``_SIGMA_SQL`` (the only sigmoid), ``logreg_train`` /
``_logreg_chain_sql`` (the training and its CTE replay, which
``cohort``'s IPW, AIPW and matching estimators reuse for their
propensities) and the two-feature OLS steps ``_ols2_sums`` →
``_ols2_terms`` → ``_ols2_solve`` with their ``_sql`` twins
(``ols_two_feature``, ``ols_grouped``, ``cohort.aipw_ate``'s outcome
models and ``timeseries.granger_lead_lag``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import (
    SCALE,
    from_fixed,
    round_half_away,
    round_to,
    to_fixed,
)
from ..functions.text import LANG_STOPWORDS, tokens, tokens_sql
from ..io import rebalance_undersplit
from ..staging import stage, stage_unbounded

#: feature scaling constants (shared by both engines).
_LEN_DIV = 100.0


def _en_list_sql() -> str:
    return ", ".join(repr(w) for w in LANG_STOPWORDS["en"])


def quality_features(df: DataFrame, text_col: str, label_col: F.Column) -> DataFrame:
    """(y, x1, x2, x3): label, token-length score (n_tok/100), alnum
    ratio, English-stopword ratio — all rounded to 6 so both engines
    train on identical inputs. Tokens are staged once (HOF-lambda
    pitfall)."""
    t = F.col(text_col)
    staged = df.where(t.isNotNull()).select(
        label_col.cast("double").alias("y"),
        t.alias("__t"),
        tokens(t).alias("__tk"),
    )
    n_tok = F.size("__tk").cast("double")
    n_chars = F.length("__t").cast("double")
    n_alnum = F.length(
        F.regexp_replace("__t", r"[^A-Za-z0-9]", "")
    ).cast("double")
    en_hits = F.size(
        F.filter("__tk", lambda tok: tok.isin(*LANG_STOPWORDS["en"]))
    ).cast("double")
    return staged.select(
        "y",
        round_to(n_tok / F.lit(_LEN_DIV), 6).alias("x1"),
        round_to(
            F.when(n_chars > 0, n_alnum / n_chars).otherwise(0.0),
            6,
        ).alias("x2"),
        round_to(
            F.when(n_tok > 0, en_hits / n_tok).otherwise(0.0),
            6,
        ).alias("x3"),
    )


def quality_features_sql(table: str, text_col: str, label_cond: str) -> str:
    toks = tokens_sql(text_col)
    n_tok = f"CAST(len({toks}) AS DOUBLE)"
    n_chars = f"CAST(length({text_col}) AS DOUBLE)"
    n_alnum = (
        f"CAST(length(regexp_replace({text_col}, '[^A-Za-z0-9]', '', 'g'))"
        " AS DOUBLE)"
    )
    en_hits = (
        f"CAST(len(list_filter({toks}, tok2 -> tok2 IN ({_en_list_sql()})))"
        " AS DOUBLE)"
    )
    return f"""
      SELECT CAST({label_cond} AS DOUBLE) AS y,
             round({n_tok} / {_LEN_DIV}, 6) AS x1,
             round(CASE WHEN {n_chars} > 0 THEN {n_alnum} / {n_chars}
                        ELSE 0.0 END, 6) AS x2,
             round(CASE WHEN {n_tok} > 0 THEN {en_hits} / {n_tok}
                        ELSE 0.0 END, 6) AS x3
      FROM {table} WHERE {text_col} IS NOT NULL
    """


def _sigma(w: list[float]) -> F.Column:
    """The model's probability over the feature columns ``x1..x3``,
    rounded to 6: the package's only Spark sigmoid. ``_SIGMA_SQL`` is
    its only SQL twin."""
    z = (
        F.lit(w[0])
        + F.lit(w[1]) * F.col("x1")
        + F.lit(w[2]) * F.col("x2")
        + F.lit(w[3]) * F.col("x3")
    )
    return round_to(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), 6)


#: :func:`_sigma` over ``feat f CROSS JOIN w{t} w`` (weights ``a..d``)
_SIGMA_SQL = (
    "round(1.0 / (1.0 + exp(-(w.a + w.b * f.x1 + w.c * f.x2"
    " + w.d * f.x3))), 6)"
)


def logreg_train(
    feat: DataFrame, iters: int = 4, lr: float = 2.0
) -> list[float]:
    """Batch GD from w=0: per iteration one 5-value aggregate whose row
    contributions are rounded micro-units (exact integer sums), then the
    driver-side update rounds weights to 6 half-away — the identical
    arithmetic the SQL twin's CTE chain (:func:`_logreg_chain_sql`)
    performs."""
    from ._collect import bounded_first

    w = [0.0, 0.0, 0.0, 0.0]
    xs = [F.lit(1.0), F.col("x1"), F.col("x2"), F.col("x3")]
    for _ in range(iters):
        p = _sigma(w)
        row = bounded_first(feat.agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *[
                F.sum(to_fixed(round_to((p - F.col("y")) * xs[j], 6), 6))
                .cast("long")
                .alias(f"g{j}")
                for j in range(4)
            ],
        ))
        n = row["n"]
        w = [
            round_half_away(
                w[j] - lr * (row[f"g{j}"] / SCALE[6]) / n,
                6,
            )
            for j in range(4)
        ]
    return w


def _logreg_chain_sql(feat: str, iters: int, lr: float) -> list[str]:
    """The DuckDB twin of :func:`logreg_train` as CTEs: ``feat`` (the
    ``(y, x1, x2, x3, …)`` SELECT), ``w0``, then per iteration ``p{t}``
    (sigmoid), ``g{t}`` (micro-unit gradient sums) and ``w{t}`` (the
    update); the trained weights are ``w{iters}``, columns ``a..d``.

    All but ``w0`` are MATERIALIZED: ``feat`` is read once per
    iteration (inlined, DuckDB would rescan the input T times — T
    parquet opens and regexp passes, file-handle exhaustion at T=20;
    the Spark side stages it), and ``w{t}`` reads ``w{t-1}`` twice
    (through ``p{t}`` and its own update), so inlining would grow the
    expression tree 2^T-fold."""
    gsums = ", ".join(
        f"CAST(sum(CAST(round(round((p.p - p.y) * {x}, 6)"
        f" * {SCALE[6]}) AS BIGINT)) AS BIGINT) AS g{j}"
        for j, x in enumerate(["1.0", "p.x1", "p.x2", "p.x3"])
    )
    upd = ", ".join(
        f"round(w.{wc} - {lr} * (g.g{j} / {float(SCALE[6])}) / g.n, 6) AS {wc}"
        for j, wc in enumerate("abcd")
    )
    ctes = [
        f"feat AS MATERIALIZED ({feat})",
        "w0 AS (SELECT 0.0 AS a, 0.0 AS b, 0.0 AS c, 0.0 AS d)",
    ]
    for t in range(1, iters + 1):
        ctes += [
            f"p{t} AS MATERIALIZED (SELECT f.y, f.x1, f.x2, f.x3,"
            f" {_SIGMA_SQL} AS p FROM feat f CROSS JOIN w{t - 1} w)",
            f"g{t} AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n,"
            f" {gsums} FROM p{t} p)",
            f"w{t} AS MATERIALIZED"
            f" (SELECT {upd} FROM w{t - 1} w CROSS JOIN g{t} g)",
        ]
    return ctes


def logreg_quality_gate(
    df: DataFrame,
    text_col: str,
    label_col: F.Column,
    iters: int = 4,
    lr: float = 2.0,
) -> DataFrame:
    """One-row result: trained weights + confusion counts + accuracy,
    everything derived inside the engine (weights re-enter as literals)."""
    # rebalance BEFORE the feature projection: the tokenize/regexp work
    # happens during the checkpoint materialization, and a single-row-
    # group input would run it all on one core (no-op at real scale)
    feat = stage_unbounded(
        quality_features(rebalance_undersplit(df), text_col, label_col)
    )  # row-sized feature frame: reliable checkpoint (r12 VERDICT item 6)
    w = logreg_train(feat, iters=iters, lr=lr)
    p = _sigma(w)
    pred = (p >= 0.5).cast("long")
    y = F.col("y").cast("long")
    agg = feat.agg(
        F.sum(((pred == 1) & (y == 1)).cast("long")).alias("tp"),
        F.sum(((pred == 1) & (y == 0)).cast("long")).alias("fp"),
        F.sum(((pred == 0) & (y == 0)).cast("long")).alias("tn"),
        F.sum(((pred == 0) & (y == 1)).cast("long")).alias("fn"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return agg.select(
        *[F.lit(w[j]).alias(f"w{j}") for j in range(4)],
        "tp",
        "fp",
        "tn",
        "fn",
        round_to((F.col("tp") + F.col("tn")) / F.col("n"), 4).alias(
            "accuracy"
        ),
    )


def logreg_quality_sql(
    table: str,
    text_col: str,
    label_cond: str,
    iters: int = 4,
    lr: float = 2.0,
) -> str:
    """DuckDB twin: the ENTIRE training chain as CTEs — init weights,
    T (sigmoid → micro-unit gradient agg → weight update) rounds, then
    the confusion metrics under the final weights."""
    feat = quality_features_sql(table, text_col, label_cond)
    ctes = _logreg_chain_sql(feat, iters, lr)
    wf = f"w{iters}"
    ctes.append(
        f"scored AS (SELECT f.y, CASE WHEN {_SIGMA_SQL} >= 0.5 THEN 1 ELSE 0 END"
        f" AS pred FROM feat f CROSS JOIN {wf} w)"
    )
    ctes.append(
        "m AS (SELECT"
        " CAST(sum(CASE WHEN pred = 1 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,"
        " CAST(sum(CASE WHEN pred = 1 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,"
        " CAST(sum(CASE WHEN pred = 0 AND y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS tn,"
        " CAST(sum(CASE WHEN pred = 0 AND y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS fn,"
        " CAST(count(*) AS BIGINT) AS n FROM scored)"
    )
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT w.a AS w0, w.b AS w1, w.c AS w2, w.d AS w3,
           m.tp, m.fp, m.tn, m.fn,
           round((m.tp + m.tn) / CAST(m.n AS DOUBLE), 4) AS accuracy
    FROM {wf} w CROSS JOIN m
    """


# Two-feature OLS ``y ~ b0 + b1·x1 + b2·x2`` from one pass of sufficient
# statistics: sums of the terms below (``s1 = Σx1``, ``s1y = Σx1·y`` …),
# the centred cross-products ``c_ab = n·s_ab − s_a·s_b`` and Cramer's
# rule on the 2x2 normal equations. The callers (ols_two_feature,
# ols_grouped, cohort.aipw_ate, timeseries.granger_lead_lag) pick the
# sums' exact type; the solve runs in doubles with one expression shape
# per engine.
_SUMS = ("1", "2", "y", "11", "22", "12", "1y", "2y", "yy")
_CTERMS = ("11", "22", "12", "1y", "2y", "yy")


def _ols2_sums(x1, x2, y, fold=F.sum, sfx: str = "", yy: bool = True):
    """The sums ``s1 s2 sy s11 s22 s12 s1y s2y [syy]``, each through
    ``fold``, aliased ``s{term}{sfx}``."""
    v = {"1": x1, "2": x2, "y": y}
    return [
        fold(v[k] if len(k) == 1 else v[k[0]] * v[k[1]]).alias(f"s{k}{sfx}")
        for k in _SUMS
        if yy or k != "yy"
    ]


def _ols2_sums_sql(v: dict, fold, sfx: str = "", yy: bool = True) -> str:
    """SQL twin of :func:`_ols2_sums`: ``v`` maps ``1``/``2``/``y`` to
    column texts; ``fold(*factors)`` returns one aggregate's text."""
    return ", ".join(
        f"{fold(*(v[t] for t in k))} AS s{k}{sfx}"
        for k in _SUMS
        if yy or k != "yy"
    )


def _ols2_terms(sfx: str = ""):
    """``(n, s, c)`` in doubles over the columns ``n{sfx}``,
    ``s1{sfx}`` …: the count, the sums keyed by term and the c-terms
    keyed ``c11 … cyy``."""
    n = F.col(f"n{sfx}").cast("double")
    s = {k: F.col(f"s{k}{sfx}").cast("double") for k in _SUMS}
    return n, s, {f"c{k}": n * s[k] - s[k[0]] * s[k[1]] for k in _CTERMS}


def _ols2_terms_sql(sfx: str = "") -> dict[str, str]:
    """SQL twin of :func:`_ols2_terms`'s c-terms, unparenthesized."""
    n = f"n{sfx}::DOUBLE"
    s = {k: f"s{k}{sfx}::DOUBLE" for k in _SUMS}
    return {f"c{k}": f"{n} * {s[k]} - {s[k[0]]} * {s[k[1]]}" for k in _CTERMS}


def _ols2_solve(n, c: dict, s1, s2, sy, guard=None) -> dict:
    """Cramer's rule: ``ok``, ``b1``, ``b2``, ``b0`` and ``r2``, NULL
    where the matrix is singular (constant or collinear features) or
    ``guard`` fails. The CASE shape is the SQL twin's, so both engines
    emit NULL rather than Spark's non-ANSI NULL against DuckDB's IEEE
    Inf/NaN (round-5 ADVICE)."""
    c11, c22, c12, c1y, c2y, cyy = (c[f"c{k}"] for k in _CTERMS)
    det = c11 * c22 - c12 * c12
    ok = det != 0 if guard is None else (det != 0) & guard
    b1 = F.when(ok, (c1y * c22 - c2y * c12) / det)
    b2 = F.when(ok, (c2y * c11 - c1y * c12) / det)
    return {
        "ok": ok,
        "b0": F.when(ok, (sy - b1 * s1 - b2 * s2) / n),
        "b1": b1,
        "b2": b2,
        "r2": F.when(ok & (cyy > 0), (b1 * c1y + b2 * c2y) / cyy),
    }


def _ols2_solve_sql(c: dict, guard: str = "{det} <> 0") -> tuple:
    """SQL twin of :func:`_ols2_solve`: the texts ``(det, when, b1,
    b2)``; ``when`` is ``guard`` with ``{det}`` filled in."""
    c11, c22, c12, c1y, c2y = (c[f"c{k}"] for k in _CTERMS[:5])
    det = f"{c11} * {c22} - {c12} * {c12}"
    when = guard.format(det=det)
    return (
        det,
        when,
        f"CASE WHEN {when} THEN ({c1y} * {c22} - {c2y} * {c12}) / ({det}) END",
        f"CASE WHEN {when} THEN ({c2y} * {c11} - {c1y} * {c12}) / ({det}) END",
    )


def _ols2_dec_sums(y_col: str, x1_col: str, x2_col: str):
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return [
        F.count(F.lit(1)).alias("n"),
        *_ols2_sums(dec(x1_col), dec(x2_col), dec(y_col)),
    ]


def _ols2_rounded(n, c: dict, s1, s2, sy) -> list:
    fit = _ols2_solve(n, c, s1, s2, sy)
    return [round_to(fit[k], 6).alias(k) for k in ("b0", "b1", "b2", "r2")]


def ols_two_feature(
    df: DataFrame, y_col: str, x1_col: str, x2_col: str
) -> DataFrame:
    """Closed-form two-feature linear regression
    ``y ~ b0 + b1·x1 + b2·x2`` from ONE-pass sufficient statistics — the
    companion to the iterative trainer (logreg_train): when the model is
    linear, the normal equations need no iterations at all, just the
    2x2 covariance solve over sums a single aggregation produces.

    Exactness: all Σx, Σx², Σxy accumulate as DECIMAL (fold-order-free,
    identical in the DuckDB replay — the q130 convention); the solve and
    R² run in doubles from those exact sums. One scan, single-row
    shuffle, any table size. Singular normal matrices (constant or
    collinear features) give NULL coefficients, as in ols_grouped.
    Returns ``(b0, b1, b2, r2, n)`` rounded 6.
    """
    n, s, c = _ols2_terms()
    return df.agg(*_ols2_dec_sums(y_col, x1_col, x2_col)).select(
        *_ols2_rounded(n, c, s["1"], s["2"], s["y"]), F.col("n")
    )


def _ols2_sql(
    table: str, y_col: str, x1_col: str, x2_col: str, group_col=None
) -> str:
    """DuckDB twin of :func:`ols_two_feature`, or of :func:`ols_grouped`
    with ``group_col``: identical decimal sums, guards and double
    shapes. DECIMAL(28,4): DuckDB multiplies 18-digit decimals in int64
    and overflows on squared prices; sums are exact either way, so
    values still match Spark's auto-widened decimal(18,4) products."""
    v = {
        k: f"CAST({col} AS DECIMAL(28,4))"
        for k, col in (("1", x1_col), ("2", x2_col), ("y", y_col))
    }
    grp, key, by = (
        ("", "", "") if group_col is None
        else (f"{group_col} AS grp, ", "grp, ", " GROUP BY 1")
    )
    c = _ols2_terms_sql()
    det, _, b1, b2 = _ols2_solve_sql({k: k for k in c})
    sums = _ols2_sums_sql(v, lambda *f: f"sum({' * '.join(f)})")
    return f"""
    WITH s AS MATERIALIZED (
        SELECT {grp}CAST(count(*) AS BIGINT) AS n, {sums}
        FROM {table}{by}
    ), c AS MATERIALIZED (
        SELECT {key}n, {", ".join(f"{t} AS {k}" for k, t in c.items())},
               s1::DOUBLE AS s1d, s2::DOUBLE AS s2d, sy::DOUBLE AS syd
        FROM s
    ), b AS MATERIALIZED (
        SELECT {key}n, c1y, c2y, cyy, s1d, s2d, syd,
               {det} AS det, {b1} AS b1, {b2} AS b2
        FROM c
    )
    SELECT {key}round(CASE WHEN det <> 0
                      THEN (syd - b1 * s1d - b2 * s2d) / n::DOUBLE
                 END, 6) AS b0,
           round(b1, 6) AS b1,
           round(b2, 6) AS b2,
           round(CASE WHEN det <> 0 AND cyy > 0
                      THEN (b1 * c1y + b2 * c2y) / cyy END, 6) AS r2,
           n
    FROM b
    """


def ols_two_feature_sql(
    table: str, y_col: str, x1_col: str, x2_col: str
) -> str:
    """DuckDB twin of :func:`ols_two_feature`."""
    return _ols2_sql(table, y_col, x1_col, x2_col)


def chi2_feature_selection(
    df: DataFrame,
    text_col: str,
    id_col: str,
    label_col: F.Column,
    top_k: int = 30,
    min_docs: int = 5,
) -> DataFrame:
    """Chi-square feature selection: rank tokens by dependence between
    per-document presence and a binary label — the classic pre-training
    feature/keyword triage step (Yang & Pedersen 1997; sklearn's
    ``chi2`` runs the same 2x2-contingency statistic).

    Returns top-``top_k`` ``(token, n_docs, n_pos, chi2)`` by chi2 desc
    (token ascending tiebreak); tokens present in fewer than ``min_docs``
    documents are dropped (rare-token chi2 is noise).

    Exactness: the contingency cells are exact BIGINT counts in both
    engines; chi2 = N(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)) is evaluated in
    doubles with the IDENTICAL expression shape in the DuckDB twin, so
    both engines perform the same IEEE operations; rounded to 4.

    Shuffle budget at 100 TB: one (doc, token) DISTINCT with map-side
    partials, one token-keyed agg; the (N, N_pos) totals are a one-row
    frame cross-joined in. Documents never self-join.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        tokens(F.col(text_col)).alias("__tk"),
        # CASE-shaped so a NULL label counts as negative in BOTH engines
        F.when(label_col, F.lit(1)).otherwise(F.lit(0)).alias("__y"),
    )
    pres = (
        base.select("__id", "__y", F.explode_outer("__tk").alias("token"))
        .where(F.col("token").isNotNull())
        .distinct()
    )
    totals = base.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum("__y").alias("__n1"),
    )
    tok = (
        pres.groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__y").cast("bigint").alias("n_pos"),
        )
        .where(F.col("n_docs") >= min_docs)
    )
    j = tok.crossJoin(F.broadcast(totals))
    a = F.col("n_pos").cast("double")                      # token & pos
    b = (F.col("n_docs") - F.col("n_pos")).cast("double")  # token & neg
    c = (F.col("__n1") - F.col("n_pos")).cast("double")    # no token & pos
    d = (
        (F.col("__n") - F.col("__n1"))
        - (F.col("n_docs") - F.col("n_pos"))
    ).cast("double")                                       # no token & neg
    n = F.col("__n").cast("double")
    det = a * d - b * c
    denom = (a + b) * (c + d) * (a + c) * (b + d)
    chi2 = F.when(denom > 0, n * det * det / denom).otherwise(F.lit(0.0))
    return (
        j.select(
            "token",
            "n_docs",
            "n_pos",
            round_to(chi2, 4).alias("chi2"),
        )
        .orderBy(F.col("chi2").desc(), "token")
        .limit(top_k)
    )


def chi2_feature_selection_sql(
    table: str,
    text_col: str,
    id_col: str,
    label_cond: str,
    top_k: int = 30,
    min_docs: int = 5,
) -> str:
    """DuckDB twin of :func:`chi2_feature_selection` — identical
    contingency counts and the identical double expression shape."""
    toks = tokens_sql(text_col)
    return f"""
    WITH base AS MATERIALIZED (
        SELECT {id_col} AS __id,
               CASE WHEN {label_cond} THEN 1 ELSE 0 END AS __y,
               unnest({toks}) AS token
        FROM {table}
    ), pres AS MATERIALIZED (
        SELECT DISTINCT __id, __y, token FROM base WHERE token IS NOT NULL
    ), totals AS (
        -- over ALL rows of the table (token-less documents included),
        -- matching the Spark side's pre-explode aggregate
        SELECT CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(CASE WHEN {label_cond} THEN 1 ELSE 0 END) AS BIGINT)
                   AS __n1
        FROM {table}
    ), tok AS (
        SELECT token,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(__y) AS BIGINT) AS n_pos
        FROM pres GROUP BY token HAVING count(*) >= {min_docs}
    )
    SELECT token, n_docs, n_pos,
           round(
             CASE WHEN (CAST(n_pos AS DOUBLE) + CAST(n_docs - n_pos AS DOUBLE))
                     * (CAST(__n1 - n_pos AS DOUBLE)
                        + CAST((__n - __n1) - (n_docs - n_pos) AS DOUBLE))
                     * (CAST(n_pos AS DOUBLE) + CAST(__n1 - n_pos AS DOUBLE))
                     * (CAST(n_docs - n_pos AS DOUBLE)
                        + CAST((__n - __n1) - (n_docs - n_pos) AS DOUBLE)) > 0
                  THEN CAST(__n AS DOUBLE)
                     * (CAST(n_pos AS DOUBLE)
                          * CAST((__n - __n1) - (n_docs - n_pos) AS DOUBLE)
                        - CAST(n_docs - n_pos AS DOUBLE)
                          * CAST(__n1 - n_pos AS DOUBLE))
                     * (CAST(n_pos AS DOUBLE)
                          * CAST((__n - __n1) - (n_docs - n_pos) AS DOUBLE)
                        - CAST(n_docs - n_pos AS DOUBLE)
                          * CAST(__n1 - n_pos AS DOUBLE))
                     / ((CAST(n_pos AS DOUBLE) + CAST(n_docs - n_pos AS DOUBLE))
                        * (CAST(__n1 - n_pos AS DOUBLE)
                           + CAST((__n - __n1) - (n_docs - n_pos) AS DOUBLE))
                        * (CAST(n_pos AS DOUBLE) + CAST(__n1 - n_pos AS DOUBLE))
                        * (CAST(n_docs - n_pos AS DOUBLE)
                           + CAST((__n - __n1) - (n_docs - n_pos) AS DOUBLE)))
                  ELSE 0.0 END, 4) AS chi2
    FROM tok CROSS JOIN totals
    ORDER BY chi2 DESC, token
    LIMIT {top_k}
    """


def ols_grouped(
    df: DataFrame, group_col: str, y_col: str, x1_col: str, x2_col: str
) -> DataFrame:
    """Per-group closed-form OLS ``y ~ b0 + b1·x1 + b2·x2`` — thousands
    (or millions) of segment models from ONE aggregation pass: the q131
    normal-equation solve with a GROUP BY, the 'model per entity'
    pattern (per-store demand curves, per-tenant trends) that an
    iterate-per-model trainer cannot scale to.

    Sufficient statistics accumulate as DECIMAL per group (fold-order
    free); the 2x2 solve runs in doubles per group row. Degenerate
    groups (singular normal matrix — collinear or constant features)
    emit NULL coefficients instead of Infs; r2 is NULL when y is
    constant. Returns ``(group, b0, b1, b2, r2, n)`` rounded 6.

    Shuffle: one (group)-keyed hash agg with map-side partials — model
    count adds zero passes.
    """
    s = df.groupBy(F.col(group_col).alias("grp")).agg(
        *_ols2_dec_sums(y_col, x1_col, x2_col)
    )
    n, sd, c = _ols2_terms()
    # The covariance terms stage through a checkpoint barrier:
    # CollapseProject would otherwise inline each c-term into every
    # consumer (b0 embeds b1 embeds det embeds four c-terms — the
    # duplicated tree is ~10x the staged one in codegen size). Warm cost
    # is unchanged at sf0.1 (the decimal aggregate dominates; measured
    # cold 7s is first-query-in-session warm-up, not this projection),
    # but the checkpointed frame is groups x 11 doubles, so the barrier
    # is free and the generated code stays readable in explain output.
    staged = stage(s.select(
        "grp",
        "n",
        *[t.alias(k) for k, t in c.items()],
        sd["1"].alias("s1d"),
        sd["2"].alias("s2d"),
        sd["y"].alias("syd"),
    ))
    fit = _ols2_rounded(
        n, {k: F.col(k) for k in c}, F.col("s1d"), F.col("s2d"), F.col("syd")
    )
    return staged.select("grp", *fit, "n")


def ols_grouped_sql(
    table: str, group_col: str, y_col: str, x1_col: str, x2_col: str
) -> str:
    """DuckDB twin of :func:`ols_grouped`."""
    return _ols2_sql(table, y_col, x1_col, x2_col, group_col)


def calibration_bins(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    num_bins: int = 10,
) -> DataFrame:
    """Reliability diagram + Brier score for a probabilistic classifier
    (Murphy 1973's decomposition practice; the standard readout before
    trusting a quality-filter score as a sampling weight): bin predicted
    probabilities into ``num_bins`` equal-width bins and compare each
    bin's mean prediction against its empirical positive rate.

    Returns one row per bin (dense 0..num_bins-1, empty bins n=0 with
    NULL rates): ``(bin, n, mean_pred, pos_rate, gap, brier,
    brier_total)`` where ``gap`` = mean_pred - pos_rate (the calibration
    error the ECE sums), ``brier`` = the bin's mean squared error, and
    ``brier_total`` = the corpus Brier score repeated per row.

    Exactness: probabilities are micro-unit BIGINTs (round(p*1e6), ties
    away from zero) so every sum — n, Σp, Σy, Σ(p−y)² — is an exact
    integer fold, fold-order-free; the final rates are single divisions
    of exact integers rounded 6. The bin index is pure integer
    arithmetic (p_micro*B / 1e6, clamped), so a probability on a bin
    edge lands identically in both engines.

    Scale: one scan + one num_bins-cell hash agg (map-side combine) +
    a broadcast dense-bin frame; nothing about the plan depends on row
    count.
    """
    if num_bins < 2:
        raise ValueError("calibration_bins: num_bins must be >= 2")
    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("bigint")
    pm = to_fixed(p, 6)
    bin_ = F.least(
        F.floor(pm * num_bins / F.lit(1_000_000)).cast("int"),
        F.lit(num_bins - 1),
    )
    staged = df.where(p.isNotNull() & y.isNotNull()).select(
        bin_.alias("bin"), pm.alias("__pm"), y.alias("__y")
    )
    per = staged.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__pm").cast("bigint").alias("__sp"),
        F.sum("__y").cast("bigint").alias("__sy"),
        F.sum(
            (F.col("__pm") - F.col("__y") * F.lit(1_000_000))
            * (F.col("__pm") - F.col("__y") * F.lit(1_000_000))
        ).cast("bigint").alias("__sq"),
    )
    spark = df.sparkSession
    dense = (
        spark.range(num_bins)
        .select(F.col("id").cast("int").alias("bin"))
        .join(per, "bin", "left")
        .select(
            "bin",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n"),
            # __sp/__sy/__sq stay NULL for empty bins: NULL/0 is NULL in
            # BOTH engines, while a coalesced 0/0.0 would be NULL in Spark
            # but NaN in DuckDB; sum() skips NULLs identically in both
            "__sp", "__sy", "__sq",
        )
    )
    from pyspark.sql.window import Window

    w = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    mean_pred = F.col("__sp") / (F.col("n") * F.lit(1e6))
    pos_rate = F.col("__sy") / F.col("n")
    return dense.select(
        "bin",
        "n",
        round_to(mean_pred, 6).alias("mean_pred"),
        round_to(pos_rate, 6).alias("pos_rate"),
        round_to(mean_pred - pos_rate, 6).alias("gap"),
        round_to(F.col("__sq") / (F.col("n") * F.lit(1e12)), 6).alias("brier"),
        round_to(
            F.sum("__sq").over(w) / (F.sum("n").over(w) * F.lit(1e12)),
            6,
        ).alias("brier_total"),
    ).orderBy("bin")


def calibration_bins_sql(
    table_expr: str, prob_col: str, label_col: str, num_bins: int = 10
) -> str:
    """DuckDB twin of :func:`calibration_bins` — identical micro-unit
    staging, integer bin index, dense frame, and window fold."""
    return f"""
    WITH staged AS (
        SELECT LEAST(CAST(floor(__pm * {num_bins} / 1000000) AS INT),
                     {num_bins - 1}) AS bin,
               __pm, __y
        FROM (
            SELECT CAST(round(CAST({prob_col} AS DOUBLE) * 1000000, 0)
                        AS BIGINT) AS __pm,
                   CAST({label_col} AS BIGINT) AS __y
            FROM ({table_expr})
            WHERE {prob_col} IS NOT NULL AND {label_col} IS NOT NULL
        )
    ), per AS (
        SELECT bin, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(__pm) AS BIGINT) AS __sp,
               CAST(sum(__y) AS BIGINT) AS __sy,
               CAST(sum((__pm - __y * 1000000) * (__pm - __y * 1000000))
                    AS BIGINT) AS __sq
        FROM staged GROUP BY bin
    ), dense AS (
        SELECT CAST(g.b AS INT) AS bin,
               CAST(COALESCE(per.n, 0) AS BIGINT) AS n,
               per.__sp AS __sp, per.__sy AS __sy, per.__sq AS __sq
        FROM generate_series(0, {num_bins - 1}) AS g(b)
        LEFT JOIN per ON per.bin = g.b
    )
    SELECT bin, n,
           round(__sp / (n * 1e6), 6) AS mean_pred,
           round(__sy / CAST(n AS DOUBLE), 6) AS pos_rate,
           round(__sp / (n * 1e6) - __sy / CAST(n AS DOUBLE), 6) AS gap,
           round(__sq / (n * 1e12), 6) AS brier,
           round(sum(__sq) OVER () / (sum(n) OVER () * 1e12), 6)
               AS brier_total
    FROM dense ORDER BY bin
    """


def auc_binned(
    df: "DataFrame",
    score_col: str,
    label_col: str,
    num_bins: int = 4096,
) -> "DataFrame":
    """ROC AUC via the rank-sum (Mann-Whitney) identity over a score
    HISTOGRAM — the classifier-evaluation readout beside
    :func:`calibration_bins`: AUC = P(score_pos > score_neg) +
    0.5 * P(score_pos = score_neg), estimated exactly at bin
    granularity (rows sharing a bin are ties — the only approximation;
    max error is bounded by the in-bin pair mass, pinned vs the exact
    pairwise AUC in tests).

    Identity on the B-bin histogram with per-bin positive/negative
    counts (P_i, N_i), ascending bins:
    ``2 * numer = sum_i P_i * (2 * N_below_i + N_i)`` (an exact BIGINT
    fold — pair counting, order-free) and ``auc = numer / (P * N)`` as
    ONE IEEE division rounded 6, so both engines agree bit-for-bit.

    Scale: ONE scan (min/max stats broadcast), ONE (bin)-keyed agg
    bounded by B, a B-row window for the running negative mass — never
    a global sort over rows (the exact rank-sum's funnel; DuckDB's
    plain window IS the law-test oracle at small n). Rows with NULL
    score or NULL label are excluded. Degenerate inputs (no positives
    or no negatives) return NULL auc.

    Output one row: ``(n_pos, n_neg, auc, gini)`` with
    ``gini = 2 * auc - 1`` (the accuracy-ratio form).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    nn = df.where(s.isNotNull() & y.isNotNull())
    stats = nn.agg(
        F.min(s).alias("__lo"), F.max(s).alias("__hi")
    )
    span = F.col("__hi") - F.col("__lo")
    pos = (s - F.col("__lo")) / span * num_bins
    binned = nn.crossJoin(F.broadcast(stats)).select(
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(F.floor(pos).cast("long"), F.lit(num_bins - 1))
        )
        .alias("__b"),
        y.alias("__y"),
    )
    hist = binned.groupBy("__b").agg(
        F.sum("__y").cast("bigint").alias("__p"),
        F.sum(1 - F.col("__y")).cast("bigint").alias("__nneg"),
    )
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(
        "__b", "__p", "__nneg",
        F.coalesce(F.sum("__nneg").over(wb), F.lit(0)).alias("__nbelow"),
    )
    two_numer = F.sum(
        F.col("__p") * (2 * F.col("__nbelow") + F.col("__nneg"))
    ).cast("bigint")
    p_tot = F.sum("__p").cast("bigint")
    n_tot = F.sum("__nneg").cast("bigint")
    return cum.agg(
        p_tot.alias("n_pos"),
        n_tot.alias("n_neg"),
        F.when(
            (p_tot > 0) & (n_tot > 0),
            round_to(
                two_numer.cast("double")
                / (2.0 * (p_tot * n_tot).cast("double")),
                6,
            ),
        ).alias("auc"),
        F.when(
            (p_tot > 0) & (n_tot > 0),
            round_to(
                two_numer.cast("double")
                / (p_tot * n_tot).cast("double") - 1.0,
                6,
            ),
        ).alias("gini"),
    )


def auc_binned_sql(
    table_expr: str,
    score_col: str,
    label_expr: str,
    num_bins: int = 4096,
) -> str:
    """DuckDB twin of :func:`auc_binned` — identical binning, BIGINT
    pair fold, and single-division rounding. ``label_expr`` is a SQL
    expression yielding 0/1/NULL."""
    B = num_bins
    return f"""
    WITH nn AS (
        SELECT CAST({score_col} AS DOUBLE) AS __s,
               CAST({label_expr} AS INT) AS __y
        FROM ({table_expr})
        WHERE {score_col} IS NOT NULL AND ({label_expr}) IS NOT NULL
    ), st AS MATERIALIZED (
        SELECT min(__s) AS __lo, max(__s) AS __hi FROM nn
    ), binned AS (
        SELECT CASE WHEN st.__hi = st.__lo THEN 0
                    ELSE least(CAST(floor((__s - st.__lo)
                                          / (st.__hi - st.__lo) * {B})
                                    AS BIGINT), {B - 1})
               END AS __b,
               __y
        FROM nn CROSS JOIN st
    ), hist AS (
        SELECT __b, CAST(sum(__y) AS BIGINT) AS __p,
               CAST(sum(1 - __y) AS BIGINT) AS __nneg
        FROM binned GROUP BY __b
    ), cum AS (
        SELECT __b, __p, __nneg,
               CAST(coalesce(sum(__nneg) OVER (
                   ORDER BY __b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS __nbelow
        FROM hist
    )
    SELECT CAST(sum(__p) AS BIGINT) AS n_pos,
           CAST(sum(__nneg) AS BIGINT) AS n_neg,
           CASE WHEN sum(__p) > 0 AND sum(__nneg) > 0 THEN
             round(CAST(sum(__p * (2 * __nbelow + __nneg)) AS BIGINT)
                   / (2.0 * CAST(sum(__p) AS BIGINT)
                          * CAST(sum(__nneg) AS BIGINT)), 6)
           END AS auc,
           CASE WHEN sum(__p) > 0 AND sum(__nneg) > 0 THEN
             round(CAST(sum(__p * (2 * __nbelow + __nneg)) AS BIGINT)
                   / (CAST(sum(__p) AS BIGINT)
                      * CAST(sum(__nneg) AS BIGINT)) - 1.0, 6)
           END AS gini
    FROM cum
    """


def roc_curve_binned(
    df: "DataFrame",
    score_col: str,
    label_col: str,
    num_bins: int = 256,
) -> "DataFrame":
    """ROC curve points over a score histogram — the curve behind
    :func:`auc_binned`'s scalar: for each occupied score bin, treat
    "predict positive iff score lands in this bin or above" and emit
    the confusion rates at that operating point.

    Returns one row per occupied bin (descending score, i.e. the
    conventional strictest-first sweep): ``(bin, score_lo, tp, fp,
    tpr, fpr, precision)`` with rates as single divisions rounded 6 —
    exact BIGINT cumulatives underneath, deterministic cross-engine.

    Scale: the same ONE stats pass + ONE B-bounded bin agg as
    :func:`auc_binned`; the sweep is a window over the <= B-row
    histogram, never over rows. NULL score/label rows are excluded;
    degenerate inputs (no positives / no negatives) emit NULL rates on
    the impossible axis rather than dividing by zero.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    nn = df.where(s.isNotNull() & y.isNotNull())
    stats = nn.agg(F.min(s).alias("__lo"), F.max(s).alias("__hi"))
    span = F.col("__hi") - F.col("__lo")
    pos = (s - F.col("__lo")) / span * num_bins
    binned = nn.crossJoin(F.broadcast(stats)).select(
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(F.floor(pos).cast("long"), F.lit(num_bins - 1))
        )
        .alias("__b"),
        y.alias("__y"),
        F.col("__lo"),
        F.col("__hi"),
    )
    hist = binned.groupBy("__b").agg(
        F.sum("__y").cast("bigint").alias("__p"),
        F.sum(1 - F.col("__y")).cast("bigint").alias("__n"),
        F.min("__lo").alias("__lo"),
        F.min("__hi").alias("__hi"),
    )
    w_desc = (
        Window.orderBy(F.col("__b").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cum = (
        hist.withColumn("__tp", F.sum("__p").over(w_desc))
        .withColumn("__fp", F.sum("__n").over(w_desc))
        .withColumn("__P", F.sum("__p").over(w_all))
        .withColumn("__N", F.sum("__n").over(w_all))
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(num_bins))
    return cum.select(
        F.col("__b").cast("int").alias("bin"),
        round_to(F.col("__lo") + F.col("__b") * width, 6).alias("score_lo"),
        F.col("__tp").alias("tp"),
        F.col("__fp").alias("fp"),
        F.when(
            F.col("__P") > 0, round_to(F.col("__tp") / F.col("__P"), 6)
        ).alias("tpr"),
        F.when(
            F.col("__N") > 0, round_to(F.col("__fp") / F.col("__N"), 6)
        ).alias("fpr"),
        F.when(
            (F.col("__tp") + F.col("__fp")) > 0,
            round_to(
                F.col("__tp") / (F.col("__tp") + F.col("__fp")),
                6,
            ),
        ).alias("precision"),
    ).orderBy(F.col("bin").desc())


def roc_curve_binned_sql(
    table_expr: str,
    score_col: str,
    label_expr: str,
    num_bins: int = 256,
) -> str:
    """DuckDB twin of :func:`roc_curve_binned`."""
    B = num_bins
    return f"""
    WITH nn AS (
        SELECT CAST({score_col} AS DOUBLE) AS __s,
               CAST({label_expr} AS INT) AS __y
        FROM ({table_expr})
        WHERE {score_col} IS NOT NULL AND ({label_expr}) IS NOT NULL
    ), st AS MATERIALIZED (
        SELECT min(__s) AS __lo, max(__s) AS __hi FROM nn
    ), binned AS (
        SELECT CASE WHEN st.__hi = st.__lo THEN 0
                    ELSE least(CAST(floor((__s - st.__lo)
                                          / (st.__hi - st.__lo) * {B})
                                    AS BIGINT), {B - 1})
               END AS __b,
               __y, st.__lo, st.__hi
        FROM nn CROSS JOIN st
    ), hist AS (
        SELECT __b, CAST(sum(__y) AS BIGINT) AS __p,
               CAST(sum(1 - __y) AS BIGINT) AS __n,
               min(__lo) AS __lo, min(__hi) AS __hi
        FROM binned GROUP BY __b
    ), cum AS (
        SELECT *,
               CAST(sum(__p) OVER (ORDER BY __b DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS __tp,
               CAST(sum(__n) OVER (ORDER BY __b DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS __fp,
               CAST(sum(__p) OVER () AS BIGINT) AS __ptot,
               CAST(sum(__n) OVER () AS BIGINT) AS __ntot
        FROM hist
    )
    SELECT CAST(__b AS INT) AS bin,
           round(__lo + __b * ((__hi - __lo) / {float(B)!r}), 6)
               AS score_lo,
           __tp AS tp, __fp AS fp,
           CASE WHEN __ptot > 0 THEN round(__tp / CAST(__ptot AS DOUBLE), 6)
           END AS tpr,
           CASE WHEN __ntot > 0 THEN round(__fp / CAST(__ntot AS DOUBLE), 6)
           END AS fpr,
           CASE WHEN __tp + __fp > 0
                THEN round(__tp / CAST(__tp + __fp AS DOUBLE), 6)
           END AS precision
    FROM cum ORDER BY bin DESC
    """


def auc_binned_grouped(
    df: "DataFrame",
    group_col: str,
    score_col: str,
    label_col: str,
    num_bins: int = 4096,
) -> "DataFrame":
    """Per-group :func:`auc_binned` — model quality sliced by segment
    (the fairness/regression readout: a global AUC can hide a segment
    where the ranking inverts). Same histogram rank-sum identity per
    group key.

    Scale: per-group (lo, hi) stats broadcast onto rows (null-safe key
    — a NULL group is a segment), ONE (group, bin)-keyed agg bounded by
    groups x B, a group-partitioned window over the histogram frame —
    the fact table never sorts and never shuffles beyond the bin agg.
    Output one row per group: ``(group, n_pos, n_neg, auc, gini)``;
    degenerate groups (one class only) carry NULL auc/gini.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    nn = df.where(s.isNotNull() & y.isNotNull())
    stats = nn.groupBy(F.col(group_col).alias("__g")).agg(
        F.min(s).alias("__lo"), F.max(s).alias("__hi")
    )
    joined = nn.join(
        F.broadcast(stats), F.col(group_col).eqNullSafe(F.col("__g")), "inner"
    )
    span = F.col("__hi") - F.col("__lo")
    pos = (s - F.col("__lo")) / span * num_bins
    binned = joined.select(
        F.col(group_col),
        F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
        .otherwise(
            F.least(F.floor(pos).cast("long"), F.lit(num_bins - 1))
        )
        .alias("__b"),
        y.alias("__y"),
    )
    hist = binned.groupBy(group_col, "__b").agg(
        F.sum("__y").cast("bigint").alias("__p"),
        F.sum(1 - F.col("__y")).cast("bigint").alias("__nn"),
    )
    w_exc = (
        Window.partitionBy(group_col)
        .orderBy("__b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = hist.withColumn(
        "__nbelow", F.coalesce(F.sum("__nn").over(w_exc), F.lit(0))
    )
    two_numer = F.sum(
        F.col("__p") * (2 * F.col("__nbelow") + F.col("__nn"))
    ).cast("bigint")
    p_tot = F.sum("__p").cast("bigint")
    n_tot = F.sum("__nn").cast("bigint")
    return (
        cum.groupBy(group_col)
        .agg(
            p_tot.alias("n_pos"),
            n_tot.alias("n_neg"),
            F.when(
                (p_tot > 0) & (n_tot > 0),
                round_to(
                    two_numer.cast("double")
                    / (2.0 * (p_tot * n_tot).cast("double")),
                    6,
                ),
            ).alias("auc"),
            F.when(
                (p_tot > 0) & (n_tot > 0),
                round_to(
                    two_numer.cast("double")
                    / (p_tot * n_tot).cast("double") - 1.0,
                    6,
                ),
            ).alias("gini"),
        )
        .orderBy(group_col)
    )


def auc_binned_grouped_sql(
    table_expr: str,
    group_col: str,
    score_col: str,
    label_expr: str,
    num_bins: int = 4096,
) -> str:
    """DuckDB twin of :func:`auc_binned_grouped`."""
    B, g = num_bins, group_col
    return f"""
    WITH nn AS (
        SELECT {g}, CAST({score_col} AS DOUBLE) AS __s,
               CAST({label_expr} AS INT) AS __y
        FROM ({table_expr})
        WHERE {score_col} IS NOT NULL AND ({label_expr}) IS NOT NULL
    ), st AS (
        SELECT {g} AS __g, min(__s) AS __lo, max(__s) AS __hi
        FROM nn GROUP BY 1
    ), binned AS (
        SELECT nn.{g},
               CASE WHEN st.__hi = st.__lo THEN 0
                    ELSE least(CAST(floor((__s - st.__lo)
                                          / (st.__hi - st.__lo) * {B})
                                    AS BIGINT), {B - 1})
               END AS __b,
               __y
        FROM nn JOIN st ON nn.{g} IS NOT DISTINCT FROM st.__g
    ), hist AS (
        SELECT {g}, __b, CAST(sum(__y) AS BIGINT) AS __p,
               CAST(sum(1 - __y) AS BIGINT) AS __nneg
        FROM binned GROUP BY 1, 2
    ), cum AS (
        SELECT *,
               CAST(coalesce(sum(__nneg) OVER (
                   PARTITION BY {g} ORDER BY __b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS BIGINT) AS __nbelow
        FROM hist
    )
    SELECT {g},
           CAST(sum(__p) AS BIGINT) AS n_pos,
           CAST(sum(__nneg) AS BIGINT) AS n_neg,
           CASE WHEN sum(__p) > 0 AND sum(__nneg) > 0 THEN
             round(CAST(sum(__p * (2 * __nbelow + __nneg)) AS BIGINT)
                   / (2.0 * CAST(sum(__p) AS BIGINT)
                          * CAST(sum(__nneg) AS BIGINT)), 6)
           END AS auc,
           CASE WHEN sum(__p) > 0 AND sum(__nneg) > 0 THEN
             round(CAST(sum(__p * (2 * __nbelow + __nneg)) AS BIGINT)
                   / (CAST(sum(__p) AS BIGINT)
                      * CAST(sum(__nneg) AS BIGINT)) - 1.0, 6)
           END AS gini
    FROM cum GROUP BY {g} ORDER BY {g}
    """


def conformal_interval(
    df: "DataFrame",
    pred_col: str,
    actual_col: str,
    alpha: float = 0.1,
    num_bins: int = 4096,
) -> "DataFrame":
    """Split-conformal prediction interval (Vovk/Papadopoulos; the
    distribution-free uncertainty wrapper): from calibration residuals
    ``r = |actual - pred|``, the half-width ``q_hat`` is the
    ``ceil((n + 1)(1 - alpha)) / n`` empirical quantile — then
    ``pred +- q_hat`` covers new points with probability >= 1 - alpha
    under exchangeability, regardless of the model.

    The quantile reads from a ``num_bins`` histogram (the q100/q104
    sketch convention — no global sort): the reported ``q_hat`` is the
    UPPER EDGE of the first bin whose cumulative count reaches the
    conformal rank, so the finite-sample coverage guarantee is
    PRESERVED (rounding up can only widen the interval; max
    over-coverage is one bin's width). A verification pass recounts
    coverage = share of calibration rows with r <= q_hat.

    Scale: one stats pass (min/max residual broadcast), ONE B-bounded
    bin agg, a B-row cumulative window, then one broadcast-scalar
    recount — the fact table never sorts. NULL pred/actual rows are
    excluded. Output one row:
    ``(n, alpha, q_hat, coverage)`` rounded 6.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if not (0.0 < alpha < 1.0):
        raise ValueError("conformal_interval: alpha must be in (0, 1)")
    p = F.col(pred_col).cast("double")
    a = F.col(actual_col).cast("double")
    # the residual projection feeds the stats scan, the histogram AND
    # the coverage recount — checkpoint it (1 double per row) so the
    # caller's scoring subtree (often a join) runs once, and the 1-row
    # stats frame so ITS scan runs once across its two consumers
    nn = stage_unbounded(
        df.where(p.isNotNull() & a.isNotNull()).select(
            F.abs(a - p).alias("__r")
        )
    )  # per-row residuals: reliable checkpoint (r12 VERDICT item 6)
    stats = stage(nn.agg(
        F.max("__r").alias("__hi"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
    ))
    # residuals are >= 0: bin over [0, hi]
    binned = nn.crossJoin(F.broadcast(stats)).select(
        F.when(F.col("__hi") == 0, F.lit(0))
        .otherwise(
            F.least(
                F.floor(F.col("__r") / F.col("__hi") * num_bins)
                .cast("long"),
                F.lit(num_bins - 1),
            )
        )
        .alias("__b"),
        "__hi",
        "__n",
    )
    hist = binned.groupBy("__b").agg(
        F.count(F.lit(1)).alias("__c"),
        F.max("__hi").alias("__hi"),
        F.max("__n").alias("__n"),
    )
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    # conformal rank k = ceil((n + 1) * (1 - alpha)); if k > n the
    # interval is infinite — reported as NULL q_hat (the honest answer
    # for tiny calibration sets)
    k = F.ceil((F.col("__n") + 1) * F.lit(1.0 - alpha)).cast("bigint")
    cum = hist.withColumn("__cum", F.sum("__c").over(w)).withColumn(
        "__k", k
    )
    qrow = (
        cum.where(F.col("__cum") >= F.col("__k"))
        .orderBy("__b")
        .limit(1)
        .select(
            ((F.col("__b") + 1).cast("double") / num_bins * F.col("__hi"))
            .alias("__qhat"),
            "__n",
            "__k",
        )
    )
    base = stats.select(
        "__n",
        F.ceil((F.col("__n") + 1) * F.lit(1.0 - alpha))
        .cast("bigint").alias("__k"),
    )
    got = base.join(
        F.broadcast(qrow.select("__qhat")), F.lit(True), "left"
    ).select(
        "__n",
        "__k",
        F.when(F.col("__k") <= F.col("__n"), F.col("__qhat")).alias(
            "__qhat"
        ),
    )
    cov = (
        nn.crossJoin(F.broadcast(got))
        .agg(
            F.max("__n").alias("n"),
            round_to(F.max("__qhat"), 6).alias("q_hat"),
            round_to(
                F.avg(
                    (F.col("__r") <= F.col("__qhat")).cast("double")
                ),
                6,
            ).alias("coverage"),
        )
    )
    return cov.select(
        F.col("n"),
        F.lit(float(alpha)).alias("alpha"),
        "q_hat",
        F.when(F.col("q_hat").isNotNull(), F.col("coverage")).alias(
            "coverage"
        ),
    )


def conformal_interval_sql(
    table_expr: str,
    pred_col: str,
    actual_col: str,
    alpha: float = 0.1,
    num_bins: int = 4096,
) -> str:
    """DuckDB twin of :func:`conformal_interval`."""
    B = num_bins
    return f"""
    WITH nn AS (
        SELECT abs(CAST({actual_col} AS DOUBLE)
                   - CAST({pred_col} AS DOUBLE)) AS __r
        FROM ({table_expr})
        WHERE {pred_col} IS NOT NULL AND {actual_col} IS NOT NULL
    ), st AS MATERIALIZED (
        SELECT max(__r) AS __hi, CAST(count(*) AS BIGINT) AS __n,
               CAST(ceil((count(*) + 1) * {1.0 - alpha!r}) AS BIGINT)
                   AS __k
        FROM nn
    ), binned AS (
        SELECT CASE WHEN st.__hi = 0 THEN 0
                    ELSE least(CAST(floor(__r / st.__hi * {B}) AS BIGINT),
                               {B - 1})
               END AS __b
        FROM nn CROSS JOIN st
    ), hist AS (
        SELECT __b, CAST(count(*) AS BIGINT) AS __c
        FROM binned GROUP BY __b
    ), cum AS (
        SELECT __b, CAST(sum(__c) OVER (
                   ORDER BY __b
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __cum
        FROM hist
    ), qrow AS MATERIALIZED (
        SELECT CASE WHEN st.__k <= st.__n THEN
                 (SELECT min((__b + 1) / CAST({B} AS DOUBLE) * st.__hi)
                  FROM cum WHERE __cum >= st.__k)
               END AS __qhat
        FROM st
    )
    SELECT st.__n AS n, CAST({float(alpha)!r} AS DOUBLE) AS alpha,
           round(q.__qhat, 6) AS q_hat,
           CASE WHEN q.__qhat IS NOT NULL THEN
             round((SELECT avg(CASE WHEN __r <= q.__qhat THEN 1.0
                               ELSE 0.0 END) FROM nn), 6)
           END AS coverage
    FROM st CROSS JOIN qrow q
    """


def naive_bayes_confusion(
    df: DataFrame,
    text_col: str,
    label_col: str,
    id_col: str,
    alpha: int = 1,
) -> DataFrame:
    """Multinomial Naive Bayes trained IN the engine and read back as a
    resubstitution confusion matrix — the classic bag-of-words baseline
    (McCallum & Nigam 1998) that public corpus pipelines reach for when
    the heuristic language/quality gates need a *trained* sibling
    (CCNet's fastText LID, Wenzek et al. 2020, is this shape with
    character n-grams).

    Training is two corpus-sized aggregations: per-(class, token)
    counts and per-class token totals; the model is the sparse
    (class, token) weight frame plus C per-class scalars — the data
    never moves to the driver. Scoring decomposes the multinomial
    log-likelihood around the unseen-token default ``w0(c) =
    ln(alpha / (n_c + V))``::

        score(d, c) = ln(docs_c / docs_total)      -- prior
                    + len(d) * w0(c)                -- every token default
                    + sum over observed (c, t) pairs of
                      cnt(d, t) * (w(c, t) - w0(c)) -- sparse correction

    so the only big join is doc-token counts against the aggregated
    sparse model, keyed by token — no dense C x V grid, no per-class
    corpus scan. Prediction is the per-doc argmax with a deterministic
    (score desc, class asc) tie-break.

    Engine-exactness: every log weight is ``ln`` of a SINGLE division
    of exact integers (deterministic across engines) rounded to
    nano-units as BIGINT at the model row; doc scores are pure integer
    folds of those nano weights, immune to float fold order. Rows with
    NULL text, label, or id are dropped (documented contract).

    Returns ``(actual, predicted, n, accuracy)`` — at most C^2 rows,
    ``accuracy`` the corpus-wide diagonal share repeated per row.

    Scale: token explode -> two hash aggs (map-side combine) for the
    model; scoring is one token-keyed shuffle join (model side
    aggregated, bounded by observed (class, token) pairs) + one
    C-per-doc window; classes/vocab frames are 1-to-C-row broadcasts.
    Reference parity: this is the trained sibling of the heuristic
    lang_id gate (reference has no classifier; beyond-reference
    LLM-pipeline surface).
    """
    from pyspark.sql.window import Window

    a = int(alpha)
    if a < 1:
        raise ValueError("naive_bayes_confusion: alpha must be >= 1")
    nn = rebalance_undersplit(
        df.where(
            F.col(text_col).isNotNull()
            & F.col(label_col).isNotNull()
            & F.col(id_col).isNotNull()
        )
    )
    staged = nn.select(
        F.col(id_col).alias("__id"),
        F.col(label_col).alias("__y"),
        tokens(F.col(text_col)).alias("__toks"),
    )
    doc_tok = staged.select(
        "__id", "__y", F.explode("__toks").alias("__tok")
    )
    # -- model ---------------------------------------------------------
    # ONE tokenize+explode pass builds the sparse (class, token) model
    # frame; checkpoint it (model-sized, bounded by observed pairs) and
    # derive the per-class totals and vocabulary FROM it — the r12 plan
    # audit measured cls/vocab as two further full tokenize passes of
    # the corpus (identical values: per-class token mass is the sum of
    # its pair counts; V is the distinct token count of the pair frame)
    pair = stage(doc_tok.groupBy("__y", "__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nct")
    ))
    cls = pair.groupBy("__y").agg(
        F.sum("__nct").cast("bigint").alias("__nc")
    )
    priors = staged.groupBy("__y").agg(
        F.count(F.lit(1)).cast("bigint").alias("__docs")
    )
    vocab = pair.agg(
        F.count_distinct(F.col("__tok")).cast("bigint").alias("__v"),
    )
    tot = staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("__dt")
    )
    classes = stage(
        cls.join(priors, "__y")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(tot))
        .select(
            "__y",
            "__nc",
            to_fixed(
                F.log(
                    F.col("__docs").cast("double")
                    / F.col("__dt").cast("double")
                ),
                9,
            ).alias("__prior_nano"),
            to_fixed(
                F.log(
                    F.lit(a).cast("double")
                    / (F.col("__nc") + F.col("__v")).cast("double")
                ),
                9,
            ).alias("__w0_nano"),
        )
    )
    pair_w = (
        pair.join(F.broadcast(classes.select("__y", "__nc", "__w0_nano")), "__y")
        .crossJoin(F.broadcast(vocab))
        .select(
            "__y",
            "__tok",
            (
                to_fixed(
                    F.log(
                        (F.col("__nct") + F.lit(a)).cast("double")
                        / (F.col("__nc") + F.col("__v")).cast("double")
                    ),
                    9,
                )
                - F.col("__w0_nano")
            ).alias("__wadj_nano"),
        )
    )
    # -- scoring -------------------------------------------------------
    dt_cnt = doc_tok.groupBy("__id", "__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    adj = (
        dt_cnt.join(
            pair_w.withColumnRenamed("__y", "__c"), "__tok"
        )
        .groupBy("__id", "__c")
        .agg(
            F.sum(F.col("__cnt") * F.col("__wadj_nano"))
            .cast("bigint")
            .alias("__adj_nano")
        )
    )
    docs = staged.select(
        "__id", "__y", F.size("__toks").cast("bigint").alias("__len")
    )
    base = docs.crossJoin(
        F.broadcast(
            classes.select(
                F.col("__y").alias("__c"), "__prior_nano", "__w0_nano"
            )
        )
    ).select(
        "__id",
        "__y",
        "__c",
        (
            F.col("__prior_nano") + F.col("__len") * F.col("__w0_nano")
        ).alias("__base_nano"),
    )
    scored = base.join(adj, ["__id", "__c"], "left").select(
        "__id",
        "__y",
        "__c",
        (
            F.col("__base_nano") + F.coalesce(F.col("__adj_nano"), F.lit(0))
        ).alias("__score_nano"),
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("__score_nano").desc(), F.col("__c").asc()
    )
    pred = (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("__id", "__y", F.col("__c").alias("__pred"))
    )
    conf = pred.groupBy("__y", "__pred").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        conf.select(
            F.col("__y").alias("actual"),
            F.col("__pred").alias("predicted"),
            "n",
            round_to(
                F.sum(
                    F.when(F.col("__y") == F.col("__pred"), F.col("n"))
                    .otherwise(F.lit(0))
                ).over(wall)
                / F.sum("n").over(wall).cast("double"),
                6,
            ).alias("accuracy"),
        )
        .orderBy("actual", "predicted")
    )


def naive_bayes_confusion_sql(
    table_expr: str,
    text_col: str,
    label_col: str,
    id_col: str,
    alpha: int = 1,
) -> str:
    """DuckDB twin of :func:`naive_bayes_confusion` — identical token
    staging, nano-unit ln weights from single exact-integer divisions,
    integer score folds, and (score desc, class asc) argmax."""
    a = int(alpha)
    toks = tokens_sql(text_col)
    return f"""
    WITH staged AS MATERIALIZED (
        SELECT {id_col} AS __id, {label_col} AS __y, {toks} AS __toks
        FROM ({table_expr})
        WHERE {text_col} IS NOT NULL AND {label_col} IS NOT NULL
          AND {id_col} IS NOT NULL
    ), doc_tok AS MATERIALIZED (
        SELECT __id, __y, unnest(__toks) AS __tok FROM staged
    ), pair AS (
        SELECT __y, __tok, CAST(count(*) AS BIGINT) AS __nct
        FROM doc_tok GROUP BY __y, __tok
    ), cls AS (
        SELECT __y, CAST(count(*) AS BIGINT) AS __nc
        FROM doc_tok GROUP BY __y
    ), priors AS (
        SELECT __y, CAST(count(*) AS BIGINT) AS __docs
        FROM staged GROUP BY __y
    ), vocab AS (
        SELECT CAST(count(DISTINCT __tok) AS BIGINT) AS __v FROM doc_tok
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS __dt FROM staged
    ), classes AS (
        SELECT c.__y, c.__nc,
               CAST(round(ln(CAST(p.__docs AS DOUBLE)
                             / CAST(t.__dt AS DOUBLE)) * 1e9, 0)
                    AS BIGINT) AS __prior_nano,
               CAST(round(ln(CAST({a} AS DOUBLE)
                             / CAST(c.__nc + v.__v AS DOUBLE)) * 1e9, 0)
                    AS BIGINT) AS __w0_nano
        FROM cls c JOIN priors p ON c.__y = p.__y
        CROSS JOIN vocab v CROSS JOIN tot t
    ), pair_w AS (
        SELECT pr.__y, pr.__tok,
               CAST(round(ln(CAST(pr.__nct + {a} AS DOUBLE)
                             / CAST(k.__nc + v.__v AS DOUBLE)) * 1e9, 0)
                    AS BIGINT) - k.__w0_nano AS __wadj_nano
        FROM pair pr JOIN classes k ON pr.__y = k.__y
        CROSS JOIN vocab v
    ), dt_cnt AS (
        SELECT __id, __tok, CAST(count(*) AS BIGINT) AS __cnt
        FROM doc_tok GROUP BY __id, __tok
    ), adj AS (
        SELECT d.__id, pw.__y AS __c,
               CAST(sum(d.__cnt * pw.__wadj_nano) AS BIGINT) AS __adj_nano
        FROM dt_cnt d JOIN pair_w pw ON d.__tok = pw.__tok
        GROUP BY d.__id, pw.__y
    ), docs AS (
        SELECT __id, __y, CAST(len(__toks) AS BIGINT) AS __len FROM staged
    ), base AS (
        SELECT d.__id, d.__y, k.__y AS __c,
               k.__prior_nano + d.__len * k.__w0_nano AS __base_nano
        FROM docs d CROSS JOIN classes k
    ), scored AS (
        SELECT b.__id, b.__y, b.__c,
               b.__base_nano + COALESCE(a2.__adj_nano, 0) AS __score_nano
        FROM base b LEFT JOIN adj a2
          ON b.__id = a2.__id AND b.__c = a2.__c
    ), pred AS (
        SELECT __id, __y, __c AS __pred
        FROM (
            SELECT __id, __y, __c,
                   row_number() OVER (
                       PARTITION BY __id
                       ORDER BY __score_nano DESC, __c ASC
                   ) AS __rn
            FROM scored
        ) WHERE __rn = 1
    ), conf AS (
        SELECT __y AS actual, __pred AS predicted,
               CAST(count(*) AS BIGINT) AS n
        FROM pred GROUP BY __y, __pred
    )
    SELECT actual, predicted, n,
           round(sum(CASE WHEN actual = predicted THEN n ELSE 0 END)
                     OVER ()
                 / CAST(sum(n) OVER () AS DOUBLE) * 1e6, 0) / 1e6
               AS accuracy
    FROM conf ORDER BY actual, predicted
    """


def decision_stump(
    df: DataFrame,
    feature_col: str,
    label_col: str,
    num_bins: int = 32,
) -> DataFrame:
    """One-split decision tree (a "stump" — the weak learner of
    Breiman's CART family and every boosting paper since Freund &
    Schapire 1996) over a single numeric feature, trained IN the
    engine: bin the feature into ``num_bins`` equal-width bins, take
    prefix sums over the bounded bin grid, and pick the split that
    minimizes the weighted Gini impurity ``2*(posL*negL/nL +
    posR*negR/nR)``.

    Returns ONE row: ``(n, split_bin, threshold, n_left, n_right,
    pos_rate_left, pos_rate_right, gini_split, gini_root, accuracy)``
    where ``accuracy`` is the majority-vote resubstitution accuracy of
    the chosen split. If every value lands in one bin (e.g. a constant
    feature) there is no valid split and the split fields are NULL —
    the degenerate contract, not an error.

    Engine-exactness: bin counts and prefix sums are exact BIGINT
    folds; the Gini cost is doubles derived from those exact integers
    with the identical expression shape in both engines, then rounded
    to micro-units for the argmin so a knife-edge cost cannot rank
    differently; ties break to the smallest bin. NULL feature/label
    rows are dropped (documented contract).

    Scale: one scan for (min, max), one scan into a num_bins-cell hash
    agg (map-side combine), then all split search happens on the
    broadcast-sized bin grid — nothing downstream of the two scans
    depends on row count.
    """
    from pyspark.sql.window import Window

    B = int(num_bins)
    if B < 2:
        raise ValueError("decision_stump: num_bins must be >= 2")
    v = F.col(feature_col).cast("double")
    y = F.col(label_col).cast("bigint")
    nn = df.where(v.isNotNull() & y.isNotNull()).select(
        v.alias("__v"), y.alias("__y")
    )
    # one row; feeds the binning pass, the candidate costs AND the
    # output projection — checkpoint so the stats scan runs once (the
    # audited plan re-ran it per consumer: 8 raw scans total)
    st = stage(nn.agg(
        F.min("__v").alias("__lo"),
        F.max("__v").alias("__hi"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__y").cast("bigint").alias("__pos"),
    ))
    binned = nn.crossJoin(F.broadcast(st)).select(
        F.when(
            F.col("__hi") == F.col("__lo"), F.lit(0)
        )
        .otherwise(
            F.least(
                F.floor(
                    (F.col("__v") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo"))
                    * F.lit(B)
                ).cast("int"),
                F.lit(B - 1),
            )
        )
        .alias("__b"),
        "__y",
    )
    hist = stage(binned.groupBy("__b").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nb"),
        F.sum("__y").cast("bigint").alias("__pb"),
    ))  # <= num_bins rows
    spark = df.sparkSession
    dense = (
        spark.range(B)
        .select(F.col("id").cast("int").alias("__b"))
        .join(F.broadcast(hist), "__b", "left")
        .select(
            "__b",
            F.coalesce(F.col("__nb"), F.lit(0)).cast("bigint").alias("__nb"),
            F.coalesce(F.col("__pb"), F.lit(0)).cast("bigint").alias("__pb"),
        )
    )
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    cum = dense.select(
        "__b",
        F.sum("__nb").over(w).cast("bigint").alias("__cn"),
        F.sum("__pb").over(w).cast("bigint").alias("__cp"),
    ).where(F.col("__b") < B - 1)
    cand = cum.crossJoin(F.broadcast(st)).select(
        "__b",
        "__cn",
        "__cp",
        "__n",
        "__pos",
        "__lo",
        "__hi",
        (
            F.lit(2.0)
            * (
                (F.col("__cp") * (F.col("__cn") - F.col("__cp")))
                .cast("double")
                / F.col("__cn").cast("double")
                + (
                    (F.col("__pos") - F.col("__cp"))
                    * (
                        (F.col("__n") - F.col("__cn"))
                        - (F.col("__pos") - F.col("__cp"))
                    )
                )
                .cast("double")
                / (F.col("__n") - F.col("__cn")).cast("double")
            )
        ).alias("__cost"),
    ).where((F.col("__cn") > 0) & (F.col("__cn") < F.col("__n")))
    best = cand.select(
        F.min(
            F.struct(
                to_fixed(F.col("__cost"), 6).alias("__cm"),
                F.col("__b").alias("__bb"),
                F.col("__cn").alias("__bcn"),
                F.col("__cp").alias("__bcp"),
            )
        ).alias("__best")
    ).select(
        F.col("__best.__cm").alias("__cm"),
        F.col("__best.__bb").alias("__bb"),
        F.col("__best.__bcn").alias("__bcn"),
        F.col("__best.__bcp").alias("__bcp"),
    )
    out = F.broadcast(st).crossJoin(F.broadcast(best))
    nl = F.col("__bcn")
    nr = F.col("__n") - nl
    pl = F.col("__bcp")
    pr = F.col("__pos") - pl
    maj = (
        F.greatest(pl, nl - pl) + F.greatest(pr, nr - pr)
    ).cast("double")
    return out.select(
        F.col("__n").alias("n"),
        F.col("__bb").alias("split_bin"),
        round_to(
            F.col("__lo")
            + (F.col("__bb") + 1).cast("double")
            * (F.col("__hi") - F.col("__lo"))
            / F.lit(B),
            6,
        ).alias("threshold"),
        nl.alias("n_left"),
        nr.cast("bigint").alias("n_right"),
        round_to(pl.cast("double") / nl.cast("double"), 6).alias("pos_rate_left"),
        round_to(pr.cast("double") / nr.cast("double"), 6).alias("pos_rate_right"),
        from_fixed(F.col("__cm"), 6).alias("gini_split"),
        round_to(
            F.lit(2.0)
            * (F.col("__pos") * (F.col("__n") - F.col("__pos"))).cast("double")
            / F.col("__n").cast("double"),
            6,
        ).alias("gini_root"),
        round_to(maj / F.col("__n").cast("double"), 6).alias("accuracy"),
    )


def decision_stump_sql(
    table_expr: str, feature_col: str, label_col: str, num_bins: int = 32
) -> str:
    """DuckDB twin of :func:`decision_stump` — identical binning,
    exact-integer prefix sums, micro-unit argmin, and tie-break."""
    B = int(num_bins)
    return f"""
    WITH nn AS MATERIALIZED (
        SELECT CAST({feature_col} AS DOUBLE) AS __v,
               CAST({label_col} AS BIGINT) AS __y
        FROM ({table_expr})
        WHERE {feature_col} IS NOT NULL AND {label_col} IS NOT NULL
    ), st AS MATERIALIZED (
        SELECT min(__v) AS __lo, max(__v) AS __hi,
               CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__y) AS BIGINT) AS __pos
        FROM nn
    ), hist AS (
        SELECT CASE WHEN st.__hi = st.__lo THEN 0
                    ELSE LEAST(CAST(floor((__v - st.__lo)
                                          / (st.__hi - st.__lo) * {B})
                               AS INT), {B - 1}) END AS __b,
               CAST(count(*) AS BIGINT) AS __nb,
               CAST(sum(__y) AS BIGINT) AS __pb
        FROM nn CROSS JOIN st
        GROUP BY 1
    ), dense AS (
        SELECT CAST(g.b AS INT) AS __b,
               CAST(COALESCE(h.__nb, 0) AS BIGINT) AS __nb,
               CAST(COALESCE(h.__pb, 0) AS BIGINT) AS __pb
        FROM generate_series(0, {B - 1}) AS g(b)
        LEFT JOIN hist h ON h.__b = g.b
    ), cum AS (
        SELECT __b,
               CAST(sum(__nb) OVER (ORDER BY __b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __cn,
               CAST(sum(__pb) OVER (ORDER BY __b
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __cp
        FROM dense
        QUALIFY __b < {B - 1}
    ), cand AS (
        SELECT c.__b, c.__cn, c.__cp,
               2.0 * (CAST(c.__cp * (c.__cn - c.__cp) AS DOUBLE)
                          / CAST(c.__cn AS DOUBLE)
                      + CAST((st.__pos - c.__cp)
                             * ((st.__n - c.__cn) - (st.__pos - c.__cp))
                             AS DOUBLE)
                          / CAST(st.__n - c.__cn AS DOUBLE)) AS __cost
        FROM cum c CROSS JOIN st
        WHERE c.__cn > 0 AND c.__cn < st.__n
    ), best AS (
        SELECT CAST(round(__cost * 1e6, 0) AS BIGINT) AS __cm,
               __b AS __bb, __cn AS __bcn, __cp AS __bcp
        FROM cand
        ORDER BY CAST(round(__cost * 1e6, 0) AS BIGINT), __b
        LIMIT 1
    )
    SELECT st.__n AS n, b.__bb AS split_bin,
           round((st.__lo + CAST(b.__bb + 1 AS DOUBLE)
                            * (st.__hi - st.__lo) / {B}) * 1e6, 0) / 1e6
               AS threshold,
           b.__bcn AS n_left,
           CAST(st.__n - b.__bcn AS BIGINT) AS n_right,
           round(CAST(b.__bcp AS DOUBLE)
                 / CAST(b.__bcn AS DOUBLE) * 1e6, 0) / 1e6
               AS pos_rate_left,
           round(CAST(st.__pos - b.__bcp AS DOUBLE)
                 / CAST(st.__n - b.__bcn AS DOUBLE) * 1e6, 0) / 1e6
               AS pos_rate_right,
           b.__cm / 1e6 AS gini_split,
           round(2.0 * CAST(st.__pos * (st.__n - st.__pos) AS DOUBLE)
                 / CAST(st.__n AS DOUBLE) * 1e6, 0) / 1e6 AS gini_root,
           round(CAST(GREATEST(b.__bcp, b.__bcn - b.__bcp)
                      + GREATEST(st.__pos - b.__bcp,
                                 (st.__n - b.__bcn)
                                 - (st.__pos - b.__bcp)) AS DOUBLE)
                 / CAST(st.__n AS DOUBLE) * 1e6, 0) / 1e6 AS accuracy
    FROM st LEFT JOIN best b ON TRUE
    """


def isotonic_calibration(
    df: DataFrame,
    score_col: str,
    label_col: str,
    num_bins: int = 64,
) -> DataFrame:
    """EXACT isotonic calibration map (Zadrozny & Elkan 2002) on a
    bounded score grid — the shape-free upgrade of the fixed
    reliability bins (calibration_bins/q160): scores are equi-width
    binned, then the monotone-nondecreasing fit comes from the
    MINIMAX identity (Barlow et al. 1972)

        fit(b) = max_{i<=b} min_{j>=b} avg(y over bins i..j)

    which is the closed form of pool-adjacent-violators — no
    iteration, no driver-side fold, exactly the PAVA solution.

    Returns one row per OCCUPIED bin: ``(bin, n, rate_raw,
    rate_isotonic)``, ``rate_isotonic`` monotone in ``bin``.

    Exactness: bin assignment is the q100 histogram convention
    (scalar IEEE, identical text both engines); every interval average
    ``(S_j - S_{i-1}) / (W_j - W_{i-1})`` is ONE division of exact
    prefix-sum integers, nano-unit-rounded to BIGINT; the max/min are
    order statistics on those integers — no float fold anywhere.

    Scale: one bin-keyed agg over the fact table (shuffle bounded by
    the grid), then the O(B^2) interval frame and two bounded windows
    run on <= num_bins rows — the 100 TB cost is the ONE scan + tiny
    agg; the grid never grows with data.
    """
    v = F.col(score_col)
    nn = df.where(v.isNotNull() & F.col(label_col).isNotNull())
    stats = stage(nn.agg(
        F.min(v).cast("double").alias("__lo"),
        F.max(v).cast("double").alias("__hi"),
    ))  # one row
    pos = (
        (v.cast("double") - F.col("__lo"))
        / (F.col("__hi") - F.col("__lo"))
        * num_bins
    )
    binned = stage(
        nn.join(F.broadcast(stats), how="cross")
        .select(
            F.when(
                F.col("__hi") == F.col("__lo"), F.lit(0)
            )
            .otherwise(
                F.least(
                    F.floor(pos).cast("long"),
                    F.lit(num_bins - 1),
                )
            )
            .cast("int")
            .alias("bin"),
            F.col(label_col).cast("bigint").alias("__y"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("__y").cast("bigint").alias("__s"),
        )
        # <= num_bins rows; feeds the prefix frame (twice, via the
        # lo/hi projections) AND the output join — checkpoint so the
        # raw binning scan runs once, not 3x
    )
    word = Window.orderBy("bin")
    pref = binned.select(
        "bin",
        "n",
        "__s",
        F.sum("n").over(
            word.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("__cw"),
        F.sum("__s").over(
            word.rowsBetween(Window.unboundedPreceding, 0)
        ).cast("bigint").alias("__cs"),
    )
    lo = pref.select(
        F.col("bin").alias("__bi"),
        (F.col("__cw") - F.col("n")).alias("__wlo"),
        (F.col("__cs") - F.col("__s")).alias("__slo"),
    )
    hi = pref.select(
        F.col("bin").alias("__bj"),
        F.col("__cw").alias("__whi"),
        F.col("__cs").alias("__shi"),
    )
    # O(B^2) interval frame: nano-unit average of bins __bi..__bj
    intervals = lo.join(
        F.broadcast(hi), F.col("__bj") >= F.col("__bi"), "inner"
    ).select(
        "__bi",
        "__bj",
        to_fixed(
            (F.col("__shi") - F.col("__slo")).cast("double")
            / (F.col("__whi") - F.col("__wlo")).cast("double"),
            9,
        ).alias("__avg"),
    )
    # inner(i, b) = min over j >= b of avg(i, j): suffix min per i
    wsuf = (
        Window.partitionBy("__bi")
        .orderBy(F.col("__bj").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inner = intervals.select(
        "__bi",
        F.col("__bj").alias("__b"),
        F.min("__avg").over(wsuf).alias("__inner"),
    )
    # fit(b) = max over i <= b of inner(i, b)
    fit = (
        inner.where(F.col("__bi") <= F.col("__b"))
        .groupBy("__b")
        .agg(F.max("__inner").alias("__fit"))
    )
    return (
        binned.join(fit, binned["bin"] == fit["__b"], "inner")
        .select(
            "bin",
            "n",
            round_to(
                F.col("__s").cast("double") / F.col("n").cast("double"),
                6,
            ).alias("rate_raw"),
            round_to(from_fixed(F.col("__fit"), 9), 6).alias(
                "rate_isotonic"
            ),
        )
    )


def isotonic_calibration_sql(
    table_expr: str,
    score_col: str,
    label_col: str,
    num_bins: int = 64,
) -> str:
    """DuckDB twin of :func:`isotonic_calibration` — identical bin
    assignment, prefix sums, nano-unit interval averages and the
    minimax order statistics."""
    return f"""
    WITH __nn AS (
        SELECT {score_col} AS __v, CAST({label_col} AS BIGINT) AS __y
        FROM ({table_expr})
        WHERE {score_col} IS NOT NULL AND {label_col} IS NOT NULL
    ), __st AS (
        SELECT CAST(min(__v) AS DOUBLE) AS __lo,
               CAST(max(__v) AS DOUBLE) AS __hi
        FROM __nn
    ), __binned AS (
        SELECT CAST(CASE WHEN s.__hi = s.__lo THEN 0
                    ELSE least(CAST(floor((CAST(n.__v AS DOUBLE)
                              - s.__lo) / (s.__hi - s.__lo)
                              * {num_bins}) AS BIGINT),
                              {num_bins - 1}) END AS INTEGER) AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n.__y) AS BIGINT) AS __s
        FROM __nn n CROSS JOIN __st s
        GROUP BY 1
    ), __pref AS (
        SELECT bin, n, __s,
               CAST(sum(n) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __cw,
               CAST(sum(__s) OVER (ORDER BY bin
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __cs
        FROM __binned
    ), __iv AS (
        SELECT l.bin AS __bi, h.bin AS __bj,
               CAST(round(CAST(h.__cs - (l.__cs - l.__s) AS DOUBLE)
                    / CAST(h.__cw - (l.__cw - l.n) AS DOUBLE)
                    * 1e9, 0) AS BIGINT) AS __avg
        FROM __pref l JOIN __pref h ON h.bin >= l.bin
    ), __inner AS (
        SELECT __bi, __bj AS __b,
               CAST(min(__avg) OVER (PARTITION BY __bi
                    ORDER BY __bj DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __inner
        FROM __iv
    ), __fit AS (
        SELECT __b, CAST(max(__inner) AS BIGINT) AS __fit
        FROM __inner WHERE __bi <= __b GROUP BY 1
    )
    SELECT b.bin, b.n,
           round(CAST(b.__s AS DOUBLE) / CAST(b.n AS DOUBLE)
                 * 1e6, 0) / 1e6 AS rate_raw,
           round(CAST(f.__fit AS DOUBLE) / 1e9 * 1e6, 0) / 1e6
               AS rate_isotonic
    FROM __binned b JOIN __fit f ON b.bin = f.__b
    """


def fairness_census(
    df: DataFrame,
    group_col: str,
    decision: Column,
    label: Column,
) -> DataFrame:
    """Group-fairness audit of a decision rule (Hardt et al. 2016;
    Feldman et al. 2015) — the census a model gate runs before
    shipping a classifier trained on engine-prepared data: per
    protected group, the selection rate (demographic parity), TPR
    (equal opportunity) and FPR, plus ratios/gaps against a REFERENCE
    group chosen deterministically as the largest (ties -> smallest
    group key):

        dp_ratio = sel_g / sel_ref       ("80% rule" reads this)
        tpr_gap  = tpr_g - tpr_ref       (equalized odds reads both)
        fpr_gap  = fpr_g - fpr_ref

    Exactness: all counts exact BIGINT from ONE conditional agg;
    rates and ratios are single divisions of identical integers,
    round-6, NULL where a denominator is empty (no positives, no
    negatives, or a zero reference selection rate).

    Scale: one group-keyed agg + a broadcast 1-row reference
    attachment; no window over data, no join on the fact side.
    """
    per = df.select(
        F.col(group_col).alias("group"),
        decision.cast("int").alias("__d"),
        label.cast("int").alias("__y"),
    ).groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__d").cast("bigint").alias("__sel"),
        F.sum(F.col("__y")).cast("bigint").alias("__pos"),
        F.sum(F.col("__d") * F.col("__y")).cast("bigint").alias("__tp"),
        F.sum(F.col("__d") * (1 - F.col("__y")))
        .cast("bigint")
        .alias("__fp"),
    )
    ref = (
        per.orderBy(F.col("n").desc(), F.col("group").asc())
        .limit(1)
        .select(
            F.col("__sel").alias("__rsel"),
            F.col("n").alias("__rn"),
            F.col("__tp").alias("__rtp"),
            F.col("__pos").alias("__rpos"),
            F.col("__fp").alias("__rfp"),
            (F.col("n") - F.col("__pos")).alias("__rneg"),
        )
    )
    j = per.crossJoin(F.broadcast(ref))
    nn = F.col("n").cast("double")
    sel = F.col("__sel").cast("double") / nn
    tpr = F.when(
        F.col("__pos") > 0,
        F.col("__tp").cast("double") / F.col("__pos").cast("double"),
    )
    neg = F.col("n") - F.col("__pos")
    fpr = F.when(
        neg > 0, F.col("__fp").cast("double") / neg.cast("double")
    )
    rsel = F.col("__rsel").cast("double") / F.col("__rn").cast("double")
    rtpr = F.when(
        F.col("__rpos") > 0,
        F.col("__rtp").cast("double") / F.col("__rpos").cast("double"),
    )
    rfpr = F.when(
        F.col("__rneg") > 0,
        F.col("__rfp").cast("double") / F.col("__rneg").cast("double"),
    )
    return j.select(
        "group",
        "n",
        F.col("__sel").alias("n_selected"),
        F.col("__pos").alias("n_positive"),
        round_to(sel, 6).alias("selection_rate"),
        round_to(tpr, 6).alias("tpr"),
        round_to(fpr, 6).alias("fpr"),
        round_to(F.when(rsel > 0, sel / rsel), 6).alias("dp_ratio"),
        round_to(tpr - rtpr, 6).alias("tpr_gap"),
        round_to(fpr - rfpr, 6).alias("fpr_gap"),
    ).orderBy("group")


def fairness_census_sql(
    table_expr: str,
    group_col: str,
    decision_sql: str,
    label_sql: str,
) -> str:
    """DuckDB twin of :func:`fairness_census` — identical conditional
    agg, deterministic reference pick and ratio expressions."""
    return f"""
    WITH __per AS MATERIALIZED (
        SELECT {group_col} AS "group",
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST({decision_sql} AS INTEGER)) AS BIGINT)
                   AS __sel,
               CAST(sum(CAST({label_sql} AS INTEGER)) AS BIGINT)
                   AS __pos,
               CAST(sum(CAST({decision_sql} AS INTEGER)
                        * CAST({label_sql} AS INTEGER)) AS BIGINT)
                   AS __tp,
               CAST(sum(CAST({decision_sql} AS INTEGER)
                        * (1 - CAST({label_sql} AS INTEGER)))
                    AS BIGINT) AS __fp
        FROM ({table_expr}) GROUP BY 1
    ), __ref AS (
        SELECT __sel AS __rsel, n AS __rn, __tp AS __rtp,
               __pos AS __rpos, __fp AS __rfp, n - __pos AS __rneg
        FROM __per ORDER BY n DESC, "group" ASC LIMIT 1
    )
    SELECT "group", n, __sel AS n_selected, __pos AS n_positive,
           round(CAST(__sel AS DOUBLE) / CAST(n AS DOUBLE)
                 * 1e6, 0) / 1e6 AS selection_rate,
           round(CASE WHEN __pos > 0 THEN CAST(__tp AS DOUBLE)
                      / CAST(__pos AS DOUBLE) END * 1e6, 0) / 1e6
               AS tpr,
           round(CASE WHEN n - __pos > 0 THEN CAST(__fp AS DOUBLE)
                      / CAST(n - __pos AS DOUBLE) END * 1e6, 0) / 1e6
               AS fpr,
           round(CASE WHEN CAST(__rsel AS DOUBLE)
                           / CAST(__rn AS DOUBLE) > 0
                 THEN (CAST(__sel AS DOUBLE) / CAST(n AS DOUBLE))
                      / (CAST(__rsel AS DOUBLE) / CAST(__rn AS DOUBLE))
                 END * 1e6, 0) / 1e6 AS dp_ratio,
           round((CASE WHEN __pos > 0 THEN CAST(__tp AS DOUBLE)
                       / CAST(__pos AS DOUBLE) END
                  - CASE WHEN __rpos > 0 THEN CAST(__rtp AS DOUBLE)
                         / CAST(__rpos AS DOUBLE) END)
                 * 1e6, 0) / 1e6 AS tpr_gap,
           round((CASE WHEN n - __pos > 0 THEN CAST(__fp AS DOUBLE)
                       / CAST(n - __pos AS DOUBLE) END
                  - CASE WHEN __rneg > 0 THEN CAST(__rfp AS DOUBLE)
                         / CAST(__rneg AS DOUBLE) END)
                 * 1e6, 0) / 1e6 AS fpr_gap
    FROM __per CROSS JOIN __ref
    ORDER BY "group"
    """


def optimal_threshold(
    df: DataFrame,
    score_col: str,
    label: Column,
    utility_tp: int = 100,
    utility_fp: int = -25,
) -> DataFrame:
    """Expected-utility decision threshold (Elkan 2001 cost-sensitive
    rule, swept empirically): for the rule "select iff score >= v",
    pick the v maximizing

        U(v) = utility_tp * TP(v) + utility_fp * FP(v)

    over every observed score — the operating-point chooser that
    turns the q160 calibration / q175 AUC diagnostics into a
    deployable cutoff. Ties in utility break toward the HIGHEST
    threshold (selecting fewer).

    Exactness: scores stage as integer cents; TP/FP at each candidate
    are reverse-cumulative counts over the DISTINCT-score frame (the
    q186/q264 device); utilities are exact BIGINT (integer utility
    weights); the argmax is an integer join-back (q205 pettitt
    pattern).

    Scale: one (score, label) agg collapses the raw table; the sweep
    is a window over the distinct-score frame; no row-level sort.

    Returns one row ``(threshold_cents, n_selected, tp, fp, utility,
    n_pos, n_neg)``; empty input yields no row.
    """
    cents = to_fixed(F.col(score_col).cast("double"), 2)
    staged = df.where(F.col(score_col).isNotNull()).select(
        cents.alias("__s"), label.cast("int").alias("__y")
    )
    # checkpoint the level frame HERE (not inside the helper) so the
    # totals agg below reads the same materialized frame — totals off
    # the pre-checkpoint lineage would run the raw-table agg twice
    # (the cramer_von_mises pattern)
    dist = stage(staged.groupBy("__s").agg(
        F.sum("__y").cast("bigint").alias("__p"),
        F.sum(1 - F.col("__y")).cast("bigint").alias("__q"),
    ))
    # reverse-inclusive cumulatives over score LEVELS without a global
    # descending sort: TP(s) = n_pos - strictly-below(s), with the
    # strictly-below sums from the bounded prefix hierarchy (_prefix,
    # r10 VERDICT item 8's class) and the totals attached as a
    # broadcast scalar instead of a whole-frame window
    from ._prefix import exclusive_prefix_sums

    totals = dist.agg(
        F.sum("__p").cast("bigint").alias("n_pos"),
        F.sum("__q").cast("bigint").alias("n_neg"),
    )
    frame = (
        exclusive_prefix_sums(dist, "__s", ("__p", "__q"), materialize=False)
        .crossJoin(F.broadcast(totals))
        .select(
            "__s",
            (F.col("n_pos") - F.col("__below___p"))
            .cast("bigint")
            .alias("__tp"),
            (F.col("n_neg") - F.col("__below___q"))
            .cast("bigint")
            .alias("__fp"),
            "n_pos",
            "n_neg",
        )
    ).select(
        "__s",
        "__tp",
        "__fp",
        "n_pos",
        "n_neg",
        (
            F.lit(int(utility_tp)) * F.col("__tp")
            + F.lit(int(utility_fp)) * F.col("__fp")
        )
        .cast("bigint")
        .alias("utility"),
    )
    best = frame.groupBy("n_pos", "n_neg").agg(
        F.max("utility").alias("__u")
    )
    return (
        frame.join(F.broadcast(best), ["n_pos", "n_neg"])
        .where(F.col("utility") == F.col("__u"))
        .groupBy("n_pos", "n_neg", "utility")
        .agg(
            F.max("__s").alias("threshold_cents"),
            F.max_by("__tp", "__s").cast("bigint").alias("tp"),
            F.max_by("__fp", "__s").cast("bigint").alias("fp"),
        )
        .select(
            "threshold_cents",
            (F.col("tp") + F.col("fp")).alias("n_selected"),
            "tp",
            "fp",
            "utility",
            "n_pos",
            "n_neg",
        )
    )


def optimal_threshold_sql(
    table_expr: str,
    score_col: str,
    label_sql: str,
    utility_tp: int = 100,
    utility_fp: int = -25,
) -> str:
    """DuckDB twin of :func:`optimal_threshold` — identical
    distinct-score frame, reverse cumulative counts, integer
    utilities and the same highest-threshold tie rule."""
    return f"""
    WITH __staged AS (
        SELECT CAST(round(CAST({score_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __s,
               CAST({label_sql} AS INTEGER) AS __y
        FROM ({table_expr}) WHERE {score_col} IS NOT NULL
    ), __dist AS (
        SELECT __s, CAST(sum(__y) AS BIGINT) AS __p,
               CAST(sum(1 - __y) AS BIGINT) AS __q
        FROM __staged GROUP BY 1
    ), __frame AS MATERIALIZED (
        SELECT __s,
               CAST(sum(__p) OVER (ORDER BY __s DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __tp,
               CAST(sum(__q) OVER (ORDER BY __s DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __fp,
               CAST(sum(__p) OVER () AS BIGINT) AS n_pos,
               CAST(sum(__q) OVER () AS BIGINT) AS n_neg
        FROM __dist
    ), __u AS (
        SELECT *, CAST({int(utility_tp)} * __tp
                       + {int(utility_fp)} * __fp AS BIGINT)
                      AS utility
        FROM __frame
    )
    SELECT max(__s) AS threshold_cents,
           CAST(max_by(__tp, __s) + max_by(__fp, __s) AS BIGINT)
               AS n_selected,
           CAST(max_by(__tp, __s) AS BIGINT) AS tp,
           CAST(max_by(__fp, __s) AS BIGINT) AS fp,
           any_value(utility) AS utility,
           any_value(n_pos) AS n_pos, any_value(n_neg) AS n_neg
    FROM __u
    WHERE utility = (SELECT max(utility) FROM __u)
    GROUP BY utility
    """


def ndcg_at_k(
    ranking: DataFrame,
    relevance: DataFrame,
    k: int = 10,
) -> DataFrame:
    """NDCG@k retrieval-quality evaluation (Jarvelin & Kekalainen
    2002) of a ranking against binary relevance — the eval harness
    that turns the BM25 engine (q242) into a measured system:

        DCG@k  = sum_{rank <= k, doc relevant} 1/log2(rank + 1)
        IDCG@k = sum_{i=1..min(R, k)} 1/log2(i + 1)
        NDCG   = DCG/IDCG            (NULL when R = 0)

    ``ranking``: (query, doc_id, rank) — rank 1-based, any ranks
    beyond k are ignored; ``relevance``: (query, doc_id) the full
    relevant set (R may exceed k — the ideal is capped, the standard
    convention).

    The output covers the UNION of queries seen in either input (r7
    ADVICE fix — previously a query present in ``ranking`` with zero
    relevant docs silently vanished from the eval): a zero-relevance
    query emits ``(n_relevant=0, hits_at_k=0, dcg=0, idcg=0,
    ndcg=NULL)``, so the documented R=0 NULL branch is reachable and
    the eval's query count matches the harness's.

    Exactness: relevance hits are integer joins; the discount logs
    are identical expressions of small integers; round-6.

    Scale: one rank-filtered semi-join per side + a per-query
    sequence explode bounded by k; no window over data.

    Returns ``(query, n_relevant, hits_at_k, dcg, idcg, ndcg)``
    ordered by query.
    """
    hits = (
        ranking.where(F.col("rank") <= k)
        .join(relevance, ["query", "doc_id"], "left_semi")
        .groupBy("query")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("hits_at_k"),
            F.sum(
                1.0 / F.log2(F.col("rank").cast("double") + 1.0)
            ).alias("__dcg"),
        )
    )
    rtot = relevance.groupBy("query").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_relevant")
    )
    # query universe = union of both inputs' query sets, so ranked
    # queries with zero relevant docs still emit an (R=0, ndcg NULL)
    # row instead of disappearing from the eval
    universe = (
        ranking.select("query").union(relevance.select("query")).distinct()
    )
    rtotu = universe.join(rtot, "query", "left").select(
        "query",
        F.coalesce(F.col("n_relevant"), F.lit(0))
        .cast("bigint")
        .alias("n_relevant"),
    )
    # the explode stays on the R>0 frame only: Spark's sequence(1, 0)
    # would yield a DESCENDING [1, 0] sequence, not an empty one
    ideal = rtot.select(
        "query",
        F.explode(
            F.sequence(
                F.lit(1), F.least(F.col("n_relevant"), F.lit(k))
            )
        ).alias("__i"),
    ).groupBy("query").agg(
        F.sum(
            1.0 / F.log2(F.col("__i").cast("double") + 1.0)
        ).alias("__idcg")
    )
    return (
        rtotu.join(ideal, "query", "left")
        .join(hits, "query", "left")
        .select(
            "query",
            "n_relevant",
            F.coalesce(F.col("hits_at_k"), F.lit(0))
            .cast("bigint")
            .alias("hits_at_k"),
            round_to(F.coalesce(F.col("__dcg"), F.lit(0.0)), 6).alias("dcg"),
            round_to(F.coalesce(F.col("__idcg"), F.lit(0.0)), 6).alias("idcg"),
            round_to(
                F.when(
                    F.col("n_relevant") > 0,
                    F.coalesce(F.col("__dcg"), F.lit(0.0))
                    / F.col("__idcg"),
                ),
                6,
            ).alias("ndcg"),
        )
        .orderBy("query")
    )


def ndcg_at_k_sql(
    ranking_expr: str,
    relevance_expr: str,
    k: int = 10,
) -> str:
    """DuckDB twin of :func:`ndcg_at_k` — identical discounts, caps
    and NULL conventions; subqueries must yield (query, doc_id, rank)
    and (query, doc_id)."""
    return f"""
    WITH __rank AS ({ranking_expr}),
    __rel AS ({relevance_expr}),
    __hits AS (
        SELECT r."query",
               CAST(count(*) AS BIGINT) AS hits_at_k,
               sum(1.0 / log2(CAST(r.rank AS DOUBLE) + 1.0)) AS __dcg
        FROM __rank r
        WHERE r.rank <= {k}
          AND EXISTS (SELECT 1 FROM __rel e
                      WHERE e."query" = r."query"
                        AND e.doc_id = r.doc_id)
        GROUP BY 1
    ), __rtot AS (
        SELECT "query", CAST(count(*) AS BIGINT) AS n_relevant
        FROM __rel GROUP BY 1
    ), __universe AS (
        SELECT DISTINCT "query" FROM __rank
        UNION
        SELECT DISTINCT "query" FROM __rel
    ), __rtotu AS (
        SELECT u."query",
               CAST(COALESCE(t.n_relevant, 0) AS BIGINT) AS n_relevant
        FROM __universe u LEFT JOIN __rtot t ON t."query" = u."query"
    ), __ideal AS (
        SELECT "query",
               sum(1.0 / log2(CAST(__i AS DOUBLE) + 1.0)) AS __idcg
        FROM (SELECT "query",
                     unnest(range(1, least(n_relevant, {k}) + 1))
                         AS __i
              FROM __rtot)
        GROUP BY 1
    )
    SELECT u."query", u.n_relevant,
           CAST(COALESCE(h.hits_at_k, 0) AS BIGINT) AS hits_at_k,
           round(COALESCE(h.__dcg, 0.0) * 1e6, 0) / 1e6 AS dcg,
           round(COALESCE(i.__idcg, 0.0) * 1e6, 0) / 1e6 AS idcg,
           round(CASE WHEN u.n_relevant > 0
                 THEN COALESCE(h.__dcg, 0.0) / i.__idcg
                 END * 1e6, 0) / 1e6 AS ndcg
    FROM __rtotu u
    LEFT JOIN __ideal i ON i."query" = u."query"
    LEFT JOIN __hits h ON h."query" = u."query"
    ORDER BY u."query"
    """


def brier_decomposition(
    df: DataFrame,
    prob_col: str,
    label_col: str,
    num_bins: int = 10,
) -> DataFrame:
    """Murphy (1973) three-way Brier decomposition over equal-width
    probability bins — the one-row verdict above the q160 reliability
    diagram:

        Brier = REL - RES + UNC
        REL = sum_b n_b (pbar_b - obar_b)^2 / N   (miscalibration)
        RES = sum_b n_b (obar_b - obar)^2 / N     (discrimination)
        UNC = obar (1 - obar)                     (irreducible)

    (The identity holds exactly for WITHIN-BIN-CONSTANT forecasts; for
    binned continuous forecasts the within-bin variance WBV =
    sum (p - pbar_b)^2 / N and within-bin covariance WBC =
    sum_b n_b cov_b(p, y) / N separate, so the row reports both and
    the law tests assert the EXACT identity
    brier = rel - res + unc + wbv - 2*wbc.)

    Exactness: the q160 discipline — probabilities stage as micro-unit
    BIGINTs, so N, per-bin counts, sums of p, y, p^2 and py are exact
    integer folds (p^2 in DECIMAL38/HUGEINT: micro^2 = 1e12/row); the
    decomposition evaluates in doubles from those exact integers with
    identical expression text, round-6.

    Scale: one scan + one num_bins-cell hash agg + one tiny fold.

    Returns one row ``(n, brier, reliability, resolution,
    uncertainty, within_bin_var, within_bin_cov, base_rate)``.
    """
    if num_bins < 2:
        raise ValueError("brier_decomposition: num_bins must be >= 2")
    d38 = "decimal(38,0)"
    pm = to_fixed(F.col(prob_col).cast("double"), 6)
    staged = df.where(
        F.col(prob_col).isNotNull() & F.col(label_col).isNotNull()
    ).select(
        F.least(
            F.lit(num_bins - 1),
            F.floor(pm * num_bins / F.lit(1_000_000)).cast("int"),
        ).alias("__b"),
        pm.alias("__pm"),
        F.col(label_col).cast("bigint").alias("__y"),
    )
    per = staged.groupBy("__b").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__pm").cast(d38).alias("__sp"),
        F.sum(
            F.col("__pm").cast(d38) * F.col("__pm").cast(d38)
        ).alias("__spp"),
        F.sum("__y").cast("bigint").alias("__sy"),
        F.sum(F.col("__pm") * F.col("__y")).cast(d38).alias("__spy"),
    )
    nb = F.col("__n").cast("double")
    pbar = F.col("__sp").cast("double") / nb / F.lit(1e6)
    obar_b = F.col("__sy").cast("double") / nb
    cells = per.select(
        "__n",
        "__sy",
        "__sp",
        "__spp",
        "__spy",
        (nb * (pbar - obar_b) * (pbar - obar_b)).alias("__reln"),
        (
            from_fixed(F.col("__spp"), 12)
            - F.lit(2.0)
            * F.col("__spy").cast("double")
            / F.lit(1e6)
            + F.col("__sy").cast("double")
        ).alias("__brin"),
        (
            from_fixed(F.col("__spp"), 12)
            - nb * pbar * pbar
        ).alias("__wbvn"),
        (
            from_fixed(F.col("__spy"), 6)
            - nb * pbar * obar_b
        ).alias("__wbcn"),
        obar_b.alias("__ob"),
    )
    tot = cells.select(
        "__n",
        "__sy",
        to_fixed(F.col("__reln"), 9, wide=True).alias("__reln"),
        to_fixed(F.col("__brin"), 9, wide=True).alias("__brin"),
        to_fixed(F.col("__wbvn"), 9, wide=True).alias("__wbvn"),
        to_fixed(F.col("__wbcn"), 9, wide=True).alias("__wbcn"),
        to_fixed(
            F.col("__n").cast("double") * F.col("__ob") * F.col("__ob"),
            9,
            wide=True,
        ).alias("__so2n"),
    ).agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__sy").cast("bigint").alias("__ty"),
        from_fixed(F.sum("__reln"), 9).alias("__rel"),
        from_fixed(F.sum("__brin"), 9).alias("__bri"),
        from_fixed(F.sum("__wbvn"), 9).alias("__wbv"),
        from_fixed(F.sum("__wbcn"), 9).alias("__wbc"),
        from_fixed(F.sum("__so2n"), 9).alias("__so2"),
    )
    n = F.col("n").cast("double")
    obar = F.col("__ty").cast("double") / n
    res = F.col("__so2") / n - obar * obar
    return tot.select(
        "n",
        round_to(F.col("__bri") / n, 6).alias("brier"),
        round_to(F.col("__rel") / n, 6).alias("reliability"),
        round_to(res, 6).alias("resolution"),
        round_to(obar * (F.lit(1.0) - obar), 6).alias("uncertainty"),
        round_to(F.col("__wbv") / n, 6).alias("within_bin_var"),
        round_to(F.col("__wbc") / n, 6).alias("within_bin_cov"),
        round_to(obar, 6).alias("base_rate"),
    )


def brier_decomposition_sql(
    table_expr: str,
    prob_col: str,
    label_col: str,
    num_bins: int = 10,
) -> str:
    """DuckDB twin of :func:`brier_decomposition` — identical
    micro-unit staging, HUGEINT folds and double chain."""
    return f"""
    WITH __staged AS (
        SELECT LEAST({num_bins - 1},
                     CAST(floor(CAST(round(CAST({prob_col} AS DOUBLE)
                          * 1e6, 0) AS BIGINT) * {num_bins}
                          / 1000000) AS INTEGER)) AS __b,
               CAST(round(CAST({prob_col} AS DOUBLE) * 1e6, 0)
                    AS BIGINT) AS __pm,
               CAST({label_col} AS BIGINT) AS __y
        FROM ({table_expr})
        WHERE {prob_col} IS NOT NULL AND {label_col} IS NOT NULL
    ), __per AS (
        SELECT __b,
               CAST(count(*) AS BIGINT) AS __n,
               sum(CAST(__pm AS HUGEINT)) AS __sp,
               sum(CAST(__pm AS HUGEINT) * CAST(__pm AS HUGEINT))
                   AS __spp,
               CAST(sum(__y) AS BIGINT) AS __sy,
               sum(CAST(__pm AS HUGEINT) * CAST(__y AS HUGEINT))
                   AS __spy
        FROM __staged GROUP BY 1
    ), __cells AS (
        SELECT __n, __sy,
               CAST(__n AS DOUBLE)
               * (CAST(__sp AS DOUBLE) / CAST(__n AS DOUBLE) / 1e6
                  - CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))
               * (CAST(__sp AS DOUBLE) / CAST(__n AS DOUBLE) / 1e6
                  - CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))
                   AS __reln,
               CAST(__spp AS DOUBLE) / 1e12
               - 2.0 * CAST(__spy AS DOUBLE) / 1e6
               + CAST(__sy AS DOUBLE) AS __brin,
               CAST(__spp AS DOUBLE) / 1e12
               - CAST(__n AS DOUBLE)
                 * (CAST(__sp AS DOUBLE) / CAST(__n AS DOUBLE) / 1e6)
                 * (CAST(__sp AS DOUBLE) / CAST(__n AS DOUBLE) / 1e6)
                   AS __wbvn,
               CAST(__spy AS DOUBLE) / 1e6
               - CAST(__n AS DOUBLE)
                 * (CAST(__sp AS DOUBLE) / CAST(__n AS DOUBLE) / 1e6)
                 * (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))
                   AS __wbcn,
               CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE) AS __ob
        FROM __per
    ), __tot AS (
        SELECT CAST(sum(__n) AS BIGINT) AS n,
               CAST(sum(__sy) AS BIGINT) AS __ty,
               CAST(sum(CAST(round(__reln * 1e9, 0) AS HUGEINT))
                    AS DOUBLE) / 1e9 AS __rel,
               CAST(sum(CAST(round(__brin * 1e9, 0) AS HUGEINT))
                    AS DOUBLE) / 1e9 AS __bri,
               CAST(sum(CAST(round(__wbvn * 1e9, 0) AS HUGEINT))
                    AS DOUBLE) / 1e9 AS __wbv,
               CAST(sum(CAST(round(__wbcn * 1e9, 0) AS HUGEINT))
                    AS DOUBLE) / 1e9 AS __wbc,
               CAST(sum(CAST(round(CAST(__n AS DOUBLE) * __ob * __ob
                    * 1e9, 0) AS HUGEINT)) AS DOUBLE) / 1e9 AS __so2
        FROM __cells
    )
    SELECT n,
           round(__bri / CAST(n AS DOUBLE) * 1e6, 0) / 1e6 AS brier,
           round(__rel / CAST(n AS DOUBLE) * 1e6, 0) / 1e6
               AS reliability,
           round((__so2 / CAST(n AS DOUBLE)
                  - (CAST(__ty AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(__ty AS DOUBLE) / CAST(n AS DOUBLE)))
                 * 1e6, 0) / 1e6 AS resolution,
           round((CAST(__ty AS DOUBLE) / CAST(n AS DOUBLE))
                 * (1.0 - CAST(__ty AS DOUBLE) / CAST(n AS DOUBLE))
                 * 1e6, 0) / 1e6 AS uncertainty,
           round(__wbv / CAST(n AS DOUBLE) * 1e6, 0) / 1e6
               AS within_bin_var,
           round(__wbc / CAST(n AS DOUBLE) * 1e6, 0) / 1e6
               AS within_bin_cov,
           round(CAST(__ty AS DOUBLE) / CAST(n AS DOUBLE) * 1e6, 0)
               / 1e6 AS base_rate
    FROM __tot
    """


def cohens_kappa(
    df: DataFrame,
    rater_a: Column,
    rater_b: Column,
) -> DataFrame:
    """Cohen's kappa (Cohen 1960) chance-corrected agreement between
    two binary raters/rules — the label-quality gate before trusting
    two annotation pipelines (or a heuristic vs a model) as
    interchangeable: raw agreement is inflated whenever both raters
    mostly say the same class; kappa subtracts the agreement their
    marginals would produce by chance:

        po    = (n11 + n00) / n
        pe    = (ma1*mb1 + ma0*mb0) / n^2
        kappa = (po - pe) / (1 - pe)      (NULL when pe = 1 — a
                                           constant pair of raters)

    Exactness: ONE conditional agg builds the exact 2x2 BIGINT table;
    po/pe/kappa are identical double chains of those integers,
    round-6.

    Scale: one scan, one 4-counter map-side agg; no join, no window.

    Returns one row ``(n, n11, n10, n01, n00, po, pe, kappa)``.
    """
    a = rater_a.cast("int")
    b = rater_b.cast("int")
    t = df.select(a.alias("__a"), b.alias("__b")).where(
        F.col("__a").isNotNull() & F.col("__b").isNotNull()
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("__a") * F.col("__b")).cast("bigint").alias("n11"),
        F.sum(F.col("__a") * (1 - F.col("__b")))
        .cast("bigint")
        .alias("n10"),
        F.sum((1 - F.col("__a")) * F.col("__b"))
        .cast("bigint")
        .alias("n01"),
        F.sum((1 - F.col("__a")) * (1 - F.col("__b")))
        .cast("bigint")
        .alias("n00"),
    )
    n = F.col("n").cast("double")
    po = (F.col("n11") + F.col("n00")).cast("double") / n
    pe = (
        (F.col("n11") + F.col("n10")).cast("double")
        * (F.col("n11") + F.col("n01")).cast("double")
        + (F.col("n01") + F.col("n00")).cast("double")
        * (F.col("n10") + F.col("n00")).cast("double")
    ) / (n * n)
    return agg.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        round_to(po, 6).alias("po"),
        round_to(pe, 6).alias("pe"),
        round_to(F.when(pe != 1.0, (po - pe) / (1.0 - pe)), 6).alias("kappa"),
    )


def cohens_kappa_sql(
    table_expr: str,
    rater_a_sql: str,
    rater_b_sql: str,
) -> str:
    """DuckDB twin of :func:`cohens_kappa` — identical 2x2 counts and
    double chain."""
    return f"""
    WITH __t AS (
        SELECT CAST({rater_a_sql} AS INTEGER) AS __a,
               CAST({rater_b_sql} AS INTEGER) AS __b
        FROM ({table_expr})
    ), __agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(__a * __b) AS BIGINT) AS n11,
               CAST(sum(__a * (1 - __b)) AS BIGINT) AS n10,
               CAST(sum((1 - __a) * __b) AS BIGINT) AS n01,
               CAST(sum((1 - __a) * (1 - __b)) AS BIGINT) AS n00
        FROM __t WHERE __a IS NOT NULL AND __b IS NOT NULL
    )
    SELECT n, n11, n10, n01, n00,
           round(CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                 * 1e6, 0) / 1e6 AS po,
           round((CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
                  + CAST(n01 + n00 AS DOUBLE)
                    * CAST(n10 + n00 AS DOUBLE))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                 * 1e6, 0) / 1e6 AS pe,
           round(CASE WHEN (CAST(n11 + n10 AS DOUBLE)
                            * CAST(n11 + n01 AS DOUBLE)
                            + CAST(n01 + n00 AS DOUBLE)
                              * CAST(n10 + n00 AS DOUBLE))
                           / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
                           <> 1.0
                 THEN (CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE)
                       - (CAST(n11 + n10 AS DOUBLE)
                          * CAST(n11 + n01 AS DOUBLE)
                          + CAST(n01 + n00 AS DOUBLE)
                            * CAST(n10 + n00 AS DOUBLE))
                         / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
                      / (1.0 - (CAST(n11 + n10 AS DOUBLE)
                                * CAST(n11 + n01 AS DOUBLE)
                                + CAST(n01 + n00 AS DOUBLE)
                                  * CAST(n10 + n00 AS DOUBLE))
                               / (CAST(n AS DOUBLE)
                                  * CAST(n AS DOUBLE)))
                 END * 1e6, 0) / 1e6 AS kappa
    FROM __agg
    """


def bradley_terry(
    comparisons: DataFrame,
    winner_col: str,
    loser_col: str,
    iters: int = 20,
) -> DataFrame:
    """Bradley-Terry strength ranking from pairwise outcomes (Bradley &
    Terry 1952; Hunter 2004 MM iterations) — the arena-style eval
    member beside NDCG q269 / AUC q175 / kappa q272: given one row per
    comparison ``(winner, loser)``, fit strengths ``p_i`` with
    ``P(i beats j) = p_i / (p_i + p_j)`` via the MM update

        p_i <- W_i / sum_j n_ij / (p_i + p_j)

    (W_i total wins, n_ij games between the pair), normalized to sum 1
    each round. Items must each hold at least one win AND one loss
    (otherwise the MLE diverges — undefeated items are dropped with
    their comparisons and reported via ``n_items`` vs the caller's
    count; the standard preprocessing).

    Exactness discipline (the q111/q226 DRIVER-SIDE iteration
    convention — logreg_train and the record-linkage Winkler EM are
    the precedents): every fold that crosses rows is an exact integer
    — per-(i, j) MM terms nano-round to int before the per-item sum,
    per-item raw strengths micro-round before the normalization sum —
    and the float steps between them use ``round_half_away`` (the
    engines' tie rule), so the oracle replays the FULL iteration
    unrolled as CTEs bit-for-bit. Strengths clamp to [1e-6, 1e6],
    round 6 per iteration.

    Scale: ONE distributed hash agg reduces comparisons to directed
    pair counts (map-side combine; bounded by DISTINCT PAIRS, never by
    comparisons); the MM loop then runs driver-side over that bounded
    table — guarded at 2,000,000 observed pairs (a 2M-cell Python loop
    per iteration; items beyond that need a different estimator, and a
    distributed-join formulation measured 3.3 s/iteration in job
    overhead alone for THREE items). Nothing data-sized ever reaches
    the driver.

    Returns ``(item, n_wins, n_games, bt_score, rank)`` — ``bt_score``
    the normalized strength (sums to 1 over surviving items), rank 1 =
    strongest, ties broken by item.
    """
    w = F.col(winner_col).cast("string")
    l_ = F.col(loser_col).cast("string")
    comp = (
        comparisons.where(
            w.isNotNull() & l_.isNotNull() & (w != l_)
        )
        .select(w.alias("__w"), l_.alias("__l"))
        .groupBy("__w", "__l")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    # drop items without both a win and a loss (MLE divergence),
    # iterating until the surviving comparison graph is consistent
    # would require a loop; ONE pass is the documented contract:
    # items winless or lossless in the RAW counts are removed along
    # with their comparisons.
    winners = comp.select(F.col("__w").alias("item")).distinct()
    losers = comp.select(F.col("__l").alias("item")).distinct()
    keep = winners.join(losers, "item", "inner")
    comp = comp.join(
        keep.withColumnRenamed("item", "__w"), "__w", "semi"
    ).join(keep.withColumnRenamed("item", "__l"), "__l", "semi")
    # the ONE distributed reduction: directed pair counts. Guard the
    # pair-table size with a distributed count BEFORE collect() — an
    # oversized table must never materialize on the driver just to be
    # rejected (the guard exists precisely because the MM loop is
    # driver-side; pre-filter low-count pairs or shrink the item
    # universe to get under it). Stage as a reliable checkpoint (the pair
    # table is only guarded, not bounded) so the guard count and the
    # collect share one computation of the aggregation.
    comp = stage_unbounded(comp)
    n_pairs = comp.count()
    if n_pairs > 2_000_000:
        raise ValueError(
            "bradley_terry: more than 2,000,000 observed directed "
            f"pairs ({n_pairs}) — the MM loop runs driver-side over "
            "the pair table (a distributed-join formulation measured "
            "3.3 s/iteration of pure job overhead); pre-filter "
            "low-count pairs or reduce the item universe"
        )
    rows = comp.collect()
    spark = comparisons.sparkSession
    if not rows:
        return spark.createDataFrame(
            [],
            "item string, n_wins bigint, n_games bigint, "
            "bt_score double, rank int",
        )
    wins_d: dict[str, int] = {}
    games_d: dict[tuple[str, str], int] = {}
    for r in rows:
        wi, lo, c = r["__w"], r["__l"], int(r["__c"])
        wins_d[wi] = wins_d.get(wi, 0) + c
        wins_d.setdefault(lo, wins_d.get(lo, 0))
        a, b = (wi, lo) if wi < lo else (lo, wi)
        games_d[(a, b)] = games_d.get((a, b), 0) + c
    items = sorted(wins_d)
    n_items = len(items)
    games_tot = {i: 0 for i in items}
    for (a, b), n in games_d.items():
        games_tot[a] += n
        games_tot[b] += n
    p = {i: round_half_away(1.0 / n_items, 6) for i in items}
    for _ in range(iters):
        denom = {i: 0 for i in items}
        for (a, b), n in games_d.items():
            t = int(round_half_away(n / (p[a] + p[b]) * 1e9, 0))
            denom[a] += t
            denom[b] += t
        pm: dict[str, int] = {}
        for i in items:
            raw = wins_d[i] * 1e9 / denom[i]
            raw = min(1e6, max(1e-6, raw))
            pm[i] = int(round_half_away(raw * 1e6, 0))
        s = sum(pm.values())
        p = {i: round_half_away(pm[i] / s, 6) for i in items}
    ranked = sorted(items, key=lambda i: (-p[i], i))
    out_rows = [
        (i, wins_d[i], games_tot[i], p[i], rank + 1)
        for rank, i in enumerate(ranked)
    ]
    return spark.createDataFrame(
        out_rows,
        "item string, n_wins bigint, n_games bigint, "
        "bt_score double, rank int",
    )


def bradley_terry_sql(
    comparisons_expr: str,
    winner_col: str,
    loser_col: str,
    iters: int = 20,
) -> str:
    """DuckDB twin of :func:`bradley_terry` — the FULL MM iteration
    unrolled as CTEs (the q111/q238 replay pattern), identical
    rounding chain."""
    head = f"""
    __comp AS MATERIALIZED (
        SELECT CAST({winner_col} AS VARCHAR) AS __w,
               CAST({loser_col} AS VARCHAR) AS __l,
               CAST(count(*) AS BIGINT) AS __c
        FROM ({comparisons_expr})
        WHERE {winner_col} IS NOT NULL AND {loser_col} IS NOT NULL
          AND CAST({winner_col} AS VARCHAR)
              <> CAST({loser_col} AS VARCHAR)
        GROUP BY 1, 2
    ),
    __keep AS (
        SELECT __w AS item FROM __comp
        INTERSECT
        SELECT __l FROM __comp
    ),
    __kc AS MATERIALIZED (
        SELECT c.* FROM __comp c
        WHERE c.__w IN (SELECT item FROM __keep)
          AND c.__l IN (SELECT item FROM __keep)
    ),
    __games AS MATERIALIZED (
        SELECT __i, __j, CAST(sum(__c) AS BIGINT) AS __n
        FROM (
            SELECT __w AS __i, __l AS __j, __c FROM __kc
            UNION ALL
            SELECT __l, __w, __c FROM __kc
        ) GROUP BY 1, 2
    ),
    __stats AS MATERIALIZED (
        SELECT g.__i,
               CAST(COALESCE(w.__wins, 0) AS BIGINT) AS __wins,
               g.__games
        FROM (SELECT __i, CAST(sum(__n) AS BIGINT) AS __games
              FROM __games GROUP BY 1) g
        LEFT JOIN (SELECT __w AS __i, CAST(sum(__c) AS BIGINT) AS __wins
                   FROM __kc GROUP BY 1) w ON w.__i = g.__i
    ),
    __cnt AS (SELECT CAST(count(*) AS BIGINT) AS __k FROM __stats),
    p0 AS (
        SELECT s.__i, round(1.0 / CAST(c.__k AS DOUBLE), 6) AS __p
        FROM __stats s CROSS JOIN __cnt c
    )"""
    ctes = [head]
    prev = "p0"
    for t in range(1, iters + 1):
        ctes.append(f"""
    t{t} AS MATERIALIZED (
        SELECT g.__i,
               CAST(round(CAST(g.__n AS DOUBLE) / (pi.__p + pj.__p)
                          * 1e9, 0) AS BIGINT) AS __t
        FROM __games g
        JOIN {prev} pi ON pi.__i = g.__i
        JOIN {prev} pj ON pj.__i = g.__j
    ),
    d{t} AS MATERIALIZED (
        SELECT __i, CAST(sum(__t) AS BIGINT) AS __d FROM t{t} GROUP BY 1
    ),
    r{t} AS MATERIALIZED (
        SELECT s.__i,
               CAST(round(least(1e6, greatest(1e-6,
                    CAST(s.__wins AS DOUBLE) * 1e9
                    / CAST(d.__d AS DOUBLE))) * 1e6, 0) AS BIGINT)
                   AS __pm
        FROM __stats s JOIN d{t} d ON d.__i = s.__i
    ),
    s{t} AS MATERIALIZED (SELECT CAST(sum(__pm) AS BIGINT) AS __s FROM r{t}),
    p{t} AS MATERIALIZED (
        SELECT r.__i,
               round(CAST(r.__pm AS DOUBLE) / CAST(x.__s AS DOUBLE), 6)
                   AS __p
        FROM r{t} r CROSS JOIN s{t} x
    )""")
        prev = f"p{t}"
    body = ",".join(ctes)
    return f"""
    WITH {body}
    SELECT s.__i AS item,
           s.__wins AS n_wins,
           s.__games AS n_games,
           p.__p AS bt_score,
           CAST(row_number() OVER (ORDER BY p.__p DESC, s.__i ASC)
                AS INT) AS rank
    FROM __stats s JOIN {prev} p ON p.__i = s.__i
    ORDER BY rank
    """


def mcnemar_test(
    df: DataFrame,
    truth: "F.Column",
    pred_a: "F.Column",
    pred_b: "F.Column",
) -> DataFrame:
    """McNemar's test (1947, continuity-corrected) for PAIRED classifier
    comparison — the right test when two classifiers score the SAME
    examples (accuracy-vs-accuracy z-tests ignore the pairing): only the
    DISCORDANT pairs carry information. b = examples A got right and B
    got wrong, c = the reverse; the statistic is

        chi2 = (|b - c| - 1)^2 / (b + c)        (1 df)

    NULL rows (truth or either prediction) are excluded — a prediction
    opt-out must not count as a disagreement. Statistic is reported (not
    a p-value — no erf in either engine's common surface); b + c = 0
    yields NULL (no discordance, no evidence either way).

    Scale: ONE full-scan hash agg of four conditional counts — no
    shuffle beyond the single-row reduce. Returns
    ``(n, acc_a, acc_b, b_discordant, c_discordant, mcnemar_chi2)``.
    """
    ok = truth.isNotNull() & pred_a.isNotNull() & pred_b.isNotNull()
    ca = (pred_a == truth).cast("int")
    cb = (pred_b == truth).cast("int")
    agg = df.where(ok).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(ca).cast("bigint").alias("__na"),
        F.sum(cb).cast("bigint").alias("__nb"),
        F.sum(((ca == 1) & (cb == 0)).cast("int")).cast("bigint").alias(
            "b_discordant"
        ),
        F.sum(((ca == 0) & (cb == 1)).cast("int")).cast("bigint").alias(
            "c_discordant"
        ),
    )
    bc = F.col("b_discordant") + F.col("c_discordant")
    diff = F.abs(F.col("b_discordant") - F.col("c_discordant"))
    return agg.select(
        "n",
        round_to(F.col("__na").cast("double") / F.col("n"), 6).alias("acc_a"),
        round_to(F.col("__nb").cast("double") / F.col("n"), 6).alias("acc_b"),
        "b_discordant",
        "c_discordant",
        F.when(
            bc > 0,
            round_to(
                F.pow(diff.cast("double") - F.lit(1.0), 2)
                / bc.cast("double"),
                6,
            ),
        ).alias("mcnemar_chi2"),
    )


def mcnemar_test_sql(
    table: str, truth_expr: str, pred_a_expr: str, pred_b_expr: str
) -> str:
    """DuckDB twin of :func:`mcnemar_test` (identical conditional-count
    and statistic expression text)."""
    return f"""
    WITH base AS (
        SELECT CASE WHEN ({pred_a_expr}) = ({truth_expr})
                    THEN 1 ELSE 0 END AS ca,
               CASE WHEN ({pred_b_expr}) = ({truth_expr})
                    THEN 1 ELSE 0 END AS cb
        FROM {table}
        WHERE ({truth_expr}) IS NOT NULL
          AND ({pred_a_expr}) IS NOT NULL
          AND ({pred_b_expr}) IS NOT NULL
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(ca) AS BIGINT) AS na,
               CAST(sum(cb) AS BIGINT) AS nb,
               CAST(sum(CASE WHEN ca = 1 AND cb = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b_discordant,
               CAST(sum(CASE WHEN ca = 0 AND cb = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c_discordant
        FROM base
    )
    SELECT n,
           round(CAST(na AS DOUBLE) / n, 6) AS acc_a,
           round(CAST(nb AS DOUBLE) / n, 6) AS acc_b,
           b_discordant,
           c_discordant,
           CASE WHEN b_discordant + c_discordant > 0
                THEN round(pow(CAST(abs(b_discordant - c_discordant)
                                    AS DOUBLE) - 1.0, 2)
                           / CAST(b_discordant + c_discordant AS DOUBLE), 6)
           END AS mcnemar_chi2
    FROM agg
    """


def split_conformal(
    df: DataFrame,
    id_expr: "F.Column",
    group_col: str,
    value_col: str,
    alpha: float = 0.1,
    salt: str = "conformal",
) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; Lei et al.
    2018) for a per-group-mean regressor — the distribution-free
    finite-sample coverage guarantee every model-eval pipeline should
    report alongside point error:

    1. rows split train/calibration/test 6:2:2 by the salted portable
       id hash (the q61 device — partitioning-stable, both engines);
    2. the model is the TRAIN-split per-``group_col`` mean of
       ``value_col`` in integer cents (micro-exact, fold-order-free);
    3. the conformal half-width q is the k-th smallest calibration
       |residual| with k = ceil((n_cal + 1) * (1 - alpha)) — selected
       WITHOUT a data-sized sort: residuals hash-agg to integer-cent
       LEVELS (bounded like the propensity-matching level frame), and
       one window over the level counts finds the k-th order statistic;
    4. test-split coverage = share of |y - yhat| <= q — the
       finite-sample guarantee says >= 1 - alpha in expectation.

    Groups unseen in train drop from calibration/test (no model).
    Returns one row ``(n_train, n_cal, n_test, q_half_width_cents,
    coverage)``.
    """
    cents = to_fixed(F.col(value_col).cast("double"), 2)
    base = (
        df.where(
            F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            F.col(group_col).alias("__g"),
            cents.alias("__y"),
            (_bucket_expr(id_expr, salt) % 10).alias("__b"),
        )
    )
    train = base.where(F.col("__b") <= 5)
    # the per-group model is tiny (one row per distinct group value);
    # checkpoint it so the train-split scan runs ONCE — it otherwise
    # re-executes inside every consumer below (the scored join for
    # cal+test AND the n_train readout), and n_train is derived from
    # the model itself (sum of the per-group counts == the train row
    # count, exactly) instead of a second raw-table aggregate
    model = stage(
        train.groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__nt"),
            F.sum("__y").cast("bigint").alias("__st"),
        )
    )
    # prediction = integer-rounded train group mean in cents
    pred = F.round(F.col("__st") / F.col("__nt"), 0).cast("bigint")
    # scored feeds BOTH the calibration levels and the test coverage agg;
    # stage the (bucket, residual) projection so the base
    # scan + model join execute once, not once per consumer
    scored = stage_unbounded(
        base.where(F.col("__b") >= 6)
        .join(F.broadcast(model), "__g")
        .select(
            "__b",
            F.abs(F.col("__y") - pred).alias("__r"),
        )
    )  # per-row residuals: reliable checkpoint (r12 VERDICT item 6)
    cal = scored.where(F.col("__b") <= 7)
    # checkpoint the level frame HERE and read n_cal off it (sum of the
    # per-level counts == the calibration row count): aggregating the
    # pre-checkpoint cal lineage would run the scored join a second
    # time for one scalar (the optimal_threshold fix's class)
    levels = stage(
        cal.groupBy("__r")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    n_cal_row = levels.agg(
        F.coalesce(F.sum("__c").cast("bigint"), F.lit(0).cast("bigint"))
        .alias("__nc")
    )
    # inclusive rank cumulative over residual LEVELS via the bounded
    # hierarchy (_prefix, r10 VERDICT item 8's class): bit-identical to
    # Window.orderBy(__r), but an unbounded-cardinality residual domain
    # can't funnel the level frame through one sort task
    from ._prefix import exclusive_prefix_sums

    ranked = exclusive_prefix_sums(
        levels, "__r", ("__c",), materialize=False
    ).select(
        "__r", (F.col("__below___c") + F.col("__c")).alias("__cum")
    )
    q_row = (
        ranked.crossJoin(F.broadcast(n_cal_row))
        .where(
            F.col("__cum")
            >= F.ceil(
                (F.col("__nc") + 1) * F.lit(float(1.0 - alpha))
            ).cast("bigint")
        )
        .agg(F.min("__r").alias("__q"))
    )
    test = scored.where(F.col("__b") >= 8)
    return (
        test.crossJoin(F.broadcast(q_row))
        .agg(
            F.max(F.lit(None).cast("bigint")).alias("__drop"),
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            round_to(
                F.avg((F.col("__r") <= F.col("__q")).cast("double")),
                6,
            ).alias("coverage"),
            F.max("__q").alias("q_half_width_cents"),
        )
        .crossJoin(F.broadcast(model.agg(
            F.coalesce(F.sum("__nt"), F.lit(0))
            .cast("bigint").alias("n_train")
        )))
        .crossJoin(F.broadcast(n_cal_row.select(
            F.col("__nc").alias("n_cal")
        )))
        .select(
            "n_train", "n_cal", "n_test", "q_half_width_cents", "coverage"
        )
    )


def _bucket_expr(id_expr: "F.Column", salt: str):
    """Portable 0..9 bucket from the salted h60 of an id expression."""
    from ..functions.hashing import h60

    return h60(F.concat(F.lit(f"{salt}|"), id_expr.cast("string"))) % 10


def split_conformal_sql(
    table: str,
    id_expr: str,
    group_col: str,
    value_col: str,
    alpha: float = 0.1,
    salt: str = "conformal",
) -> str:
    """DuckDB twin of :func:`split_conformal` (same hash split, same
    integer-cent model and level-ranked order statistic)."""
    from ..functions.hashing import h60_sql

    salted = f"'{salt}|' || CAST({id_expr} AS VARCHAR)"
    b = f"({h60_sql(salted)} % 10)"
    return f"""
    WITH base AS MATERIALIZED (
        SELECT {group_col} AS g,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y,
               {b} AS b
        FROM {table}
        WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
    ), model AS MATERIALIZED (
        SELECT g, CAST(count(*) AS BIGINT) AS nt,
               CAST(sum(y) AS BIGINT) AS st
        FROM base WHERE b <= 5 GROUP BY g
    ), scored AS MATERIALIZED (
        SELECT base.b,
               abs(base.y - CAST(round(m.st / m.nt, 0) AS BIGINT)) AS r
        FROM base JOIN model m ON base.g = m.g
        WHERE base.b >= 6
    ), ncal AS (
        SELECT CAST(count(*) AS BIGINT) AS nc FROM scored WHERE b <= 7
    ), levels AS (
        SELECT r, CAST(count(*) AS BIGINT) AS c
        FROM scored WHERE b <= 7 GROUP BY r
    ), ranked AS (
        SELECT r, sum(c) OVER (ORDER BY r
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
        FROM levels
    ), q AS (
        SELECT min(r) AS q FROM ranked CROSS JOIN ncal
        WHERE cum >= CAST(ceil((nc + 1) * {float(1.0 - alpha)!r}) AS BIGINT)
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM base WHERE b <= 5)
               AS n_train,
           (SELECT nc FROM ncal) AS n_cal,
           CAST(count(*) AS BIGINT) AS n_test,
           max(q.q) AS q_half_width_cents,
           round(avg(CASE WHEN s.r <= q.q THEN 1.0 ELSE 0.0 END), 6)
               AS coverage
    FROM scored s CROSS JOIN q
    WHERE s.b >= 8
    """


def krippendorff_alpha(
    ratings: DataFrame, unit_col: str, value_col: str
) -> DataFrame:
    """Krippendorff's alpha (nominal metric; Krippendorff 2004) over a
    LONG ratings frame ``(unit, value)`` — one row per rating — the
    inter-annotator reliability standard that, unlike Cohen's kappa
    (q272), handles ANY number of raters, missing ratings, and unit-
    varying rater counts: the workhorse QA statistic of labeling
    pipelines. alpha = 1 - D_o/D_e with D_o the observed within-unit
    disagreement from the coincidence matrix and D_e the chance
    disagreement from its margins.

    Exactness: per-unit coincidence contributions
    ``(n_uc*n_uk - [c=k]*n_uc) / (m_u - 1)`` round once to integer
    MICRO-units (identical expression both engines), so every
    downstream sum is an exact integer fold; the margin products ride
    DECIMAL(38)/HUGEINT (they square ~1e10 micro totals), and the one
    final division happens in double, round 6. Chance disagreement
    uses the identity sum_{c!=k} n_c n_k = (sum n_c)^2 - sum n_c^2 —
    no margin self-join, no cartesian.

    Scale: one (unit, value) hash agg, a unit-keyed self-join bounded
    by (distinct values per unit)^2 <= raters^2, then aggs over the
    CATEGORY-BOUNDED coincidence matrix. Units with a single rating
    are excluded (no pairable values — the standard rule).

    Returns one row ``(n_units, n_ratings, n_categories, alpha)``
    (alpha NULL when D_e = 0: a single category observed).
    """
    # the (unit, value) reduction is the LAST time the caller's ratings
    # subtree (often an expensive multi-annotator union over raw text)
    # needs to run — checkpoint it, and the pairable frame c too: c
    # otherwise re-executes the whole build for each of its three
    # consumers (both self-join sides and the meta agg)
    cnt = stage(
        ratings.where(
            F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            F.col(unit_col).alias("__u"),
            F.col(value_col).cast("string").alias("__v"),
        )
        .groupBy("__u", "__v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    mu = cnt.groupBy("__u").agg(F.sum("__n").alias("__m"))
    c = stage(
        cnt.join(mu, "__u")
        .where(F.col("__m") >= 2)
    )
    a = c.select("__u", F.col("__v").alias("__c"), F.col("__n").alias("__nc"), "__m")
    b = c.select("__u", F.col("__v").alias("__k"), F.col("__n").alias("__nk"))
    pair = a.join(b, "__u").select(
        "__c",
        "__k",
        F.round(
            F.lit(1e6)
            * (
                F.col("__nc") * F.col("__nk")
                - F.when(F.col("__c") == F.col("__k"), F.col("__nc")).otherwise(
                    F.lit(0)
                )
            )
            / (F.col("__m") - 1),
            0,
        )
        .cast("bigint")
        .alias("__o"),
    )
    coin = pair.groupBy("__c", "__k").agg(F.sum("__o").alias("__o"))
    margins = coin.groupBy("__c").agg(F.sum("__o").alias("__mc"))
    stats = margins.agg(
        F.sum("__mc").alias("__t"),
        F.sum(
            F.col("__mc").cast("decimal(38,0)") * F.col("__mc")
        ).alias("__sq"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
    )
    do = coin.where(F.col("__c") != F.col("__k")).agg(
        F.coalesce(F.sum("__o"), F.lit(0)).alias("__do")
    )
    meta = c.agg(
        F.countDistinct("__u").cast("bigint").alias("n_units"),
        F.sum("__n").cast("bigint").alias("n_ratings"),
    )
    de = (
        F.col("__t").cast("decimal(38,0)") * F.col("__t") - F.col("__sq")
    ).cast("double")
    num = (
        (F.col("__t") - F.lit(1_000_000)).cast("decimal(38,0)")
        * F.col("__do")
    ).cast("double")
    return (
        meta.crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(do))
        .select(
            "n_units",
            "n_ratings",
            "n_categories",
            F.when(de > 0, round_to(F.lit(1.0) - num / de, 6)).alias("alpha"),
        )
    )


def krippendorff_alpha_sql(
    ratings_subquery: str, unit_col: str, value_col: str
) -> str:
    """DuckDB twin of :func:`krippendorff_alpha` (identical micro
    rounding, HUGEINT margin products, one final double division)."""
    return f"""
    WITH cnt AS MATERIALIZED (
        SELECT {unit_col} AS u, CAST({value_col} AS VARCHAR) AS v,
               CAST(count(*) AS BIGINT) AS n
        FROM ({ratings_subquery})
        WHERE {unit_col} IS NOT NULL AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ), mu AS (
        SELECT u, CAST(sum(n) AS BIGINT) AS m FROM cnt GROUP BY u
    ), c AS MATERIALIZED (
        SELECT cnt.u, cnt.v, cnt.n, mu.m
        FROM cnt JOIN mu USING (u) WHERE mu.m >= 2
    ), coin AS MATERIALIZED (
        SELECT a.v AS c, b.v AS k,
               CAST(sum(CAST(round(1000000.0
                   * (a.n * b.n
                      - CASE WHEN a.v = b.v THEN a.n ELSE 0 END)
                   / (a.m - 1), 0) AS BIGINT)) AS BIGINT) AS o
        FROM c a JOIN c b ON a.u = b.u
        GROUP BY 1, 2
    ), margins AS (
        SELECT c, CAST(sum(o) AS BIGINT) AS mc FROM coin GROUP BY c
    ), stats AS (
        SELECT CAST(sum(mc) AS BIGINT) AS t,
               sum(CAST(mc AS HUGEINT) * mc) AS sq,
               CAST(count(*) AS BIGINT) AS n_categories
        FROM margins
    ), dis AS (
        SELECT CAST(coalesce(sum(o), 0) AS BIGINT) AS do_
        FROM coin WHERE c <> k
    ), meta AS (
        SELECT CAST(count(DISTINCT u) AS BIGINT) AS n_units,
               CAST(sum(n) AS BIGINT) AS n_ratings
        FROM c
    )
    SELECT m.n_units, m.n_ratings, s.n_categories,
           CASE WHEN CAST(CAST(s.t AS HUGEINT) * s.t - s.sq AS DOUBLE) > 0
                THEN round(1.0
                     - CAST(CAST(s.t - 1000000 AS HUGEINT) * d.do_ AS DOUBLE)
                       / CAST(CAST(s.t AS HUGEINT) * s.t - s.sq AS DOUBLE), 6)
           END AS alpha
    FROM meta m CROSS JOIN stats s CROSS JOIN dis d
    """


def cochran_q(
    df: DataFrame,
    truth: "F.Column",
    preds: list,
) -> DataFrame:
    """Cochran's Q test (1950) — the k-classifier extension of McNemar
    (:func:`mcnemar_test` is exactly the k=2 case): do k paired
    classifiers share one accuracy, or does at least one differ?

        Q = k(k-1) * sum_j (G_j - T/k)^2 / (k*T - sum_i L_i^2)

    with G_j classifier j's correct count, L_i the number of
    classifiers correct on example i, T = sum G_j = sum L_i;
    chi-square with k-1 df under H0 (statistic reported, not a
    p-value — the q288 convention). Rows where every classifier agrees
    (L_i = 0 or k) contribute nothing — like McNemar, only
    disagreement carries evidence.

    Exactness: G_j, T and sum L_i^2 are exact integer folds (ONE
    full-scan agg); the numerator's k * G_j - T differences stay
    integer; one final double division, round 6.

    Returns one row ``(n, k, g0..g{k-1}, q_stat)`` — ``gj`` classifier
    j's correct count G_j (input order; flat scalar columns, never an
    array — gate outputs must stay sortable by a plain pandas canon),
    q_stat NULL when the denominator is 0 (total agreement).
    """
    k = len(preds)
    if k < 2:
        raise ValueError("cochran_q: need at least 2 classifiers")
    ok = truth.isNotNull()
    for p in preds:
        ok = ok & p.isNotNull()
    cs = [(p == truth).cast("int").alias(f"__c{j}") for j, p in enumerate(preds)]
    base = df.where(ok).select(*cs)
    li = sum(F.col(f"__c{j}") for j in range(k))
    agg = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *[
            F.sum(F.col(f"__c{j}")).cast("bigint").alias(f"__g{j}")
            for j in range(k)
        ],
        F.sum(li * li).cast("bigint").alias("__sl2"),
    )
    t = sum(F.col(f"__g{j}") for j in range(k))
    num = sum(
        (F.lit(k) * F.col(f"__g{j}") - t) * (F.lit(k) * F.col(f"__g{j}") - t)
        for j in range(k)
    )
    den = F.lit(k) * t - F.col("__sl2")
    return agg.select(
        "n",
        F.lit(k).alias("k"),
        *[F.col(f"__g{j}").alias(f"g{j}") for j in range(k)],
        F.when(
            den > 0,
            round_to(
                F.lit(float(k - 1)) * num.cast("double")
                / (F.lit(float(k)) * den.cast("double")),
                6,
            ),
        ).alias("q_stat"),
    )


def cochran_q_sql(
    table: str, truth_expr: str, pred_exprs: list[str]
) -> str:
    """DuckDB twin of :func:`cochran_q` (identical integer folds and
    final division; note Q = (k-1) * sum(kG-T)^2 / (k * (kT - sumL^2))
    — the k(k-1)/... form multiplied out identically)."""
    k = len(pred_exprs)
    if k < 2:
        raise ValueError("cochran_q_sql: need at least 2 classifiers")
    cs = ", ".join(
        f"CASE WHEN ({p}) = ({truth_expr}) THEN 1 ELSE 0 END AS c{j}"
        for j, p in enumerate(pred_exprs)
    )
    nn = " AND ".join(
        [f"({truth_expr}) IS NOT NULL"]
        + [f"({p}) IS NOT NULL" for p in pred_exprs]
    )
    li = " + ".join(f"c{j}" for j in range(k))
    gs = ", ".join(
        f"CAST(sum(c{j}) AS BIGINT) AS g{j}" for j in range(k)
    )
    t = " + ".join(f"g{j}" for j in range(k))
    num = " + ".join(
        f"({k} * g{j} - ({t})) * ({k} * g{j} - ({t}))" for j in range(k)
    )
    gsel = ", ".join(f"g{j}" for j in range(k))
    return f"""
    WITH base AS (
        SELECT {cs} FROM {table} WHERE {nn}
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n, {gs},
               CAST(sum(({li}) * ({li})) AS BIGINT) AS sl2
        FROM base
    )
    SELECT n, CAST({k} AS INT) AS k, {gsel},
           CASE WHEN {k} * ({t}) - sl2 > 0
                THEN round({float(k - 1)!r} * CAST({num} AS DOUBLE)
                           / ({float(k)!r} * CAST({k} * ({t}) - sl2
                                                  AS DOUBLE)), 6)
           END AS q_stat
    FROM agg
    """


def mann_whitney_u(
    df: DataFrame,
    group_col: str,
    value_col: str,
    g1,
    g2,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum; Mann & Whitney 1947) plus
    Cliff's delta effect size for two independent groups — the
    nonparametric two-sample location test (the k=2 companion of the
    q201 Kruskal-Wallis battery, but exact on ties and with the effect
    size the rank-sum alone hides).

    Scale shape — NO data-sized sort: values fold to integer-CENT
    LEVELS in one map-side-combinable hash agg (the split_conformal /
    propensity-matching level-frame discipline), then the below-level
    cumulatives come from the BOUNDED hierarchical prefix construction
    (operators/_prefix.py, r10 VERDICT item 8): every window partition
    holds at most 2^20 rows even when the value domain's distinct cents
    grow with the data, so no single task ever sorts the whole level
    frame. From level counts c1, c2 per level:

        wins   = sum c1(l) * cum2_below(l)      (x1 > x2 pairs)
        ties   = sum c1(l) * c2(l)
        U1     = wins + ties/2
        delta  = (wins - losses) / (n1*n2)      (Cliff 1993)
        z      = (U1 - n1*n2/2) / sqrt(var)     (tie-corrected:
                 var = n1*n2/12 * (N+1 - sum(t^3-t)/(N(N-1))))

    Exactness: wins/losses/ties and sum(t^3-t) are exact integer folds
    (the cube rides DECIMAL(38) — t^3 overflows BIGINT once a level
    holds ~2M rows); the final z/delta are single double expressions
    over those integers, so the DuckDB twin replays them bit-for-bit.
    z is reported WITHOUT continuity correction (documented choice;
    q288 McNemar carries the corrected convention for the paired case).

    Returns one row ``(n1, n2, u1, z, cliffs_delta)`` — z and delta
    NULL when a group is empty or the variance is 0 (all values tied).
    """
    y = to_fixed(F.col(value_col).cast("double"), 2)
    base = df.where(
        F.col(value_col).isNotNull()
        & F.col(group_col).isin([g1, g2])
    ).select(
        (F.col(group_col) == F.lit(g1)).alias("__g"), y.alias("__y")
    )
    lv = base.groupBy("__y").agg(
        F.count(F.when(F.col("__g"), 1)).cast("bigint").alias("__c1"),
        F.count(F.when(~F.col("__g"), 1)).cast("bigint").alias("__c2"),
    )
    # strictly-below cumulatives over LEVELS via the bounded hierarchy
    # (_prefix.exclusive_prefix_sums) — bit-identical to the plain
    # Window.orderBy(level) form, but no partition ever exceeds 2^20
    # rows even for an unbounded-cardinality value domain
    from ._prefix import exclusive_prefix_sums

    lv2 = exclusive_prefix_sums(lv, "__y", ("__c1", "__c2")).select(
        "__c1",
        "__c2",
        F.col("__below___c2").alias("__b2"),
        F.col("__below___c1").alias("__b1"),
    )
    # cube in DECIMAL(38) from the start — t^3 overflows BIGINT once a
    # level holds ~2M rows (the 100 TB case, not the test case); the
    # U folds likewise ride DECIMAL(38,0): w/l/t are bounded by n1*n2,
    # past int64 once both sides exceed ~3e9 rows (the wilcoxon fix's
    # class — the twin carries them as HUGEINT)
    td = (F.col("__c1") + F.col("__c2")).cast("decimal(38,0)")
    c1d = F.col("__c1").cast("decimal(38,0)")
    c2d = F.col("__c2").cast("decimal(38,0)")
    agg = lv2.agg(
        F.sum("__c1").cast("bigint").alias("n1"),
        F.sum("__c2").cast("bigint").alias("n2"),
        F.sum(c1d * F.col("__b2").cast("decimal(38,0)")).alias("__w"),
        F.sum(c2d * F.col("__b1").cast("decimal(38,0)")).alias("__l"),
        F.sum(c1d * c2d).alias("__t"),
        F.sum(td * td * td - td).alias("__tt"),
    )
    n1, n2 = F.col("n1").cast("double"), F.col("n2").cast("double")
    nn = n1 + n2
    u1 = (
        F.col("__w").cast("double") + F.col("__t").cast("double") / F.lit(2.0)
    )
    var = (
        n1 * n2 / F.lit(12.0)
        * (
            nn + F.lit(1.0)
            - F.col("__tt").cast("double") / (nn * (nn - F.lit(1.0)))
        )
    )
    return agg.select(
        "n1",
        "n2",
        F.when((n1 > 0) & (n2 > 0), round_to(u1, 6)).alias("u1"),
        F.when(
            var > 0,
            round_to((u1 - n1 * n2 / F.lit(2.0)) / F.sqrt(var), 6),
        ).alias("z"),
        F.when(
            (n1 > 0) & (n2 > 0),
            round_to(
                (F.col("__w") - F.col("__l")).cast("double") / (n1 * n2),
                6,
            ),
        ).alias("cliffs_delta"),
    )


def mann_whitney_u_sql(
    table: str, group_col: str, value_col: str, g1, g2
) -> str:
    """DuckDB twin of :func:`mann_whitney_u` (identical level folds,
    window, and final double expressions)."""
    from ..functions.sqlutil import sql_quote

    q1, q2 = sql_quote(g1), sql_quote(g2)
    return f"""
    WITH base AS (
        SELECT ({group_col} = {q1}) AS g,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y
        FROM {table}
        WHERE {value_col} IS NOT NULL AND {group_col} IN ({q1}, {q2})
    ), lv AS (
        SELECT y,
               CAST(count(*) FILTER (WHERE g) AS BIGINT) AS c1,
               CAST(count(*) FILTER (WHERE NOT g) AS BIGINT) AS c2
        FROM base GROUP BY y
    ), lv2 AS (
        SELECT c1, c2,
               CAST(coalesce(sum(c2) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS b2,
               CAST(coalesce(sum(c1) OVER (ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS b1
        FROM lv
    ), agg AS (
        SELECT CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(CAST(c1 AS HUGEINT) * b2) AS HUGEINT) AS w,
               CAST(sum(CAST(c2 AS HUGEINT) * b1) AS HUGEINT) AS l,
               CAST(sum(CAST(c1 AS HUGEINT) * c2) AS HUGEINT) AS t,
               CAST(sum(CAST((c1 + c2) AS HUGEINT) * (c1 + c2) * (c1 + c2)
                        - (c1 + c2)) AS HUGEINT) AS tt
        FROM lv2
    )
    SELECT n1, n2,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN round(CAST(w AS DOUBLE) + CAST(t AS DOUBLE) / 2.0, 6)
           END AS u1,
           CASE WHEN CAST(n1 AS DOUBLE) * n2 / 12.0
                     * (n1 + n2 + 1.0
                        - CAST(tt AS DOUBLE)
                          / (CAST(n1 + n2 AS DOUBLE)
                             * (n1 + n2 - 1.0))) > 0
                THEN round((CAST(w AS DOUBLE) + CAST(t AS DOUBLE) / 2.0
                            - CAST(n1 AS DOUBLE) * n2 / 2.0)
                           / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                                  * (n1 + n2 + 1.0
                                     - CAST(tt AS DOUBLE)
                                       / (CAST(n1 + n2 AS DOUBLE)
                                          * (n1 + n2 - 1.0)))), 6)
           END AS z,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN round(CAST(w - l AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) * n2), 6)
           END AS cliffs_delta
    FROM agg
    """


def mann_whitney_by_group(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group Mann-Whitney U + Cliff's delta between two frames —
    the SIGNIFICANCE companion of profiling.drift_by_group's distance
    report (drift says how far each group's distribution moved; this
    says whether the location shift clears noise, with the effect
    size): one plan for all groups, one pooled (group, cent-level)
    frame, below-level cumulatives from the GROUPED bounded prefix
    hierarchy (the ``_prefix.pooled_levels`` kernel the drift
    statistics share — every window partitioned by (group, bucket)).

    Arithmetic per group is :func:`mann_whitney_u`'s exactly — exact
    integer wins/ties/losses folds in DECIMAL(38,0) (int64 passes at
    ~3e9 rows per side), tie cube in DECIMAL(38), one double
    expression each for z (tie-corrected, no continuity correction)
    and delta. NULL groups are excluded.

    Returns one row per non-NULL group present in EITHER frame:
    ``(group, n_a, n_b, u1, z, cliffs_delta)`` — u1/delta NULL when a
    side is empty, z additionally NULL when the variance is 0.
    """
    from ._prefix import pooled_levels

    lv2 = pooled_levels(df_a, df_b, value_col, group_col).levels
    td = (F.col("__c1") + F.col("__c2")).cast("decimal(38,0)")
    c1d = F.col("__c1").cast("decimal(38,0)")
    c2d = F.col("__c2").cast("decimal(38,0)")
    agg = lv2.groupBy("__g").agg(
        F.sum("__c1").cast("bigint").alias("n_a"),
        F.sum("__c2").cast("bigint").alias("n_b"),
        F.sum(c1d * F.col("__below___c2").cast("decimal(38,0)")).alias("__w"),
        F.sum(c2d * F.col("__below___c1").cast("decimal(38,0)")).alias("__l"),
        F.sum(c1d * c2d).alias("__t"),
        F.sum(td * td * td - td).alias("__tt"),
    )
    n1, n2 = F.col("n_a").cast("double"), F.col("n_b").cast("double")
    nn = n1 + n2
    u1 = (
        F.col("__w").cast("double") + F.col("__t").cast("double") / F.lit(2.0)
    )
    var = (
        n1 * n2 / F.lit(12.0)
        * (
            nn + F.lit(1.0)
            - F.col("__tt").cast("double") / (nn * (nn - F.lit(1.0)))
        )
    )
    return agg.select(
        F.col("__g").alias("group"),
        "n_a",
        "n_b",
        F.when((n1 > 0) & (n2 > 0), round_to(u1, 6)).alias("u1"),
        F.when(
            (n1 > 0) & (n2 > 0) & (var > 0),
            round_to((u1 - n1 * n2 / F.lit(2.0)) / F.sqrt(var), 6),
        ).alias("z"),
        F.when(
            (n1 > 0) & (n2 > 0),
            round_to(
                (F.col("__w") - F.col("__l")).cast("double") / (n1 * n2),
                6,
            ),
        ).alias("cliffs_delta"),
    )


def mann_whitney_by_group_sql(
    a_subquery: str, b_subquery: str, value_col: str, group_col: str
) -> str:
    """DuckDB twin of :func:`mann_whitney_by_group` — group-partitioned
    cumulative windows, identical folds and double expressions."""
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
    ), lv2 AS (
        SELECT g, c1, c2,
               CAST(coalesce(sum(c2) OVER (PARTITION BY g ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS b2,
               CAST(coalesce(sum(c1) OVER (PARTITION BY g ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS b1
        FROM lv
    ), agg AS (
        SELECT g,
               CAST(sum(c1) AS BIGINT) AS n1,
               CAST(sum(c2) AS BIGINT) AS n2,
               CAST(sum(CAST(c1 AS HUGEINT) * b2) AS HUGEINT) AS w,
               CAST(sum(CAST(c2 AS HUGEINT) * b1) AS HUGEINT) AS l,
               CAST(sum(CAST(c1 AS HUGEINT) * c2) AS HUGEINT) AS t,
               CAST(sum(CAST(c1 + c2 AS HUGEINT) * (c1 + c2) * (c1 + c2)
                        - (c1 + c2)) AS HUGEINT) AS tt
        FROM lv2 GROUP BY g
    )
    SELECT g AS "group", n1 AS n_a, n2 AS n_b,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN round(CAST(w AS DOUBLE) + CAST(t AS DOUBLE) / 2.0, 6)
           END AS u1,
           CASE WHEN n1 > 0 AND n2 > 0
                     AND CAST(n1 AS DOUBLE) * n2 / 12.0
                         * (n1 + n2 + 1.0
                            - CAST(tt AS DOUBLE)
                              / (CAST(n1 + n2 AS DOUBLE)
                                 * (n1 + n2 - 1.0))) > 0
                THEN round((CAST(w AS DOUBLE) + CAST(t AS DOUBLE) / 2.0
                            - CAST(n1 AS DOUBLE) * n2 / 2.0)
                           / sqrt(CAST(n1 AS DOUBLE) * n2 / 12.0
                                  * (n1 + n2 + 1.0
                                     - CAST(tt AS DOUBLE)
                                       / (CAST(n1 + n2 AS DOUBLE)
                                          * (n1 + n2 - 1.0)))), 6)
           END AS z,
           CASE WHEN n1 > 0 AND n2 > 0
                THEN round(CAST(w - l AS DOUBLE)
                           / (CAST(n1 AS DOUBLE) * n2), 6)
           END AS cliffs_delta
    FROM agg
    """


def wilcoxon_signed_rank(
    df: DataFrame, x_col: str, y_col: str
) -> DataFrame:
    """Wilcoxon signed-rank test (Wilcoxon 1945) for PAIRED samples —
    the within-pair companion of :func:`mann_whitney_u` (which assumes
    independent groups): is the median of the per-pair differences
    zero? Zero differences drop (the classical convention), ties in
    |d| take average ranks, and z carries the tie correction.

    Scale shape — NO data-sized sort: differences fold to integer-CENT
    |d| LEVELS in one map-side agg; average ranks come from the bounded
    hierarchical prefix construction (operators/_prefix.py) over the
    level frame. The whole statistic stays exact-integer by carrying
    DOUBLED ranks: avg_rank(l) = below(l) + (t_l + 1)/2, so

        2*W+ = sum_l  cp_l * (2*below(l) + t_l + 1)

    is an exact BIGINT fold (cp_l = positive-difference count at
    level l, t_l = total count); the tie cube sum(t^3 - t) rides
    DECIMAL(38). Final z is one double expression:

        z = (W+ - n(n+1)/4) / sqrt(n(n+1)(2n+1)/24 - sum(t^3-t)/48)

    Returns one row ``(n, w_plus, z)`` — n excludes zero differences;
    z NULL when n = 0 or the variance term is 0 (all |d| tied... which
    with a single level still has positive variance unless n = 0, but
    the guard mirrors the twin exactly).
    """
    d = to_fixed(F.col(x_col).cast("double"), 2) - to_fixed(
        F.col(y_col).cast("double"), 2
    )
    base = (
        df.where(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(d.alias("__d"))
        .where(F.col("__d") != 0)
    )
    lv = base.groupBy(F.abs(F.col("__d")).alias("__a")).agg(
        F.count(F.when(F.col("__d") > 0, 1)).cast("bigint").alias("__cp"),
        F.count(F.lit(1)).cast("bigint").alias("__t"),
    )
    from ._prefix import exclusive_prefix_sums

    lv2 = exclusive_prefix_sums(lv, "__a", ("__t",))
    td = F.col("__t").cast("decimal(38,0)")
    # 2*W+ is bounded by n(n+1) and each level term by ~2n^2 — both
    # overflow int64 past ~3e9 nonzero-difference pairs, reachable at
    # the 100 TB target, so the fold rides DECIMAL(38,0) like the tie
    # cube (the twin carries it as HUGEINT); n coalesces to 0 on
    # empty/all-zero-diff input, matching friedman/cramer_von_mises
    agg = lv2.agg(
        F.coalesce(
            F.sum("__t").cast("bigint"), F.lit(0).cast("bigint")
        ).alias("n"),
        F.sum(
            F.col("__cp").cast("decimal(38,0)")
            * (
                F.lit(2) * F.col("__below___t") + F.col("__t") + F.lit(1)
            ).cast("decimal(38,0)")
        ).alias("__w2"),
        F.sum(td * td * td - td).alias("__tt"),
    )
    nn = F.col("n").cast("double")
    wp = F.col("__w2").cast("double") / F.lit(2.0)
    var = (
        nn * (nn + F.lit(1.0)) * (F.lit(2.0) * nn + F.lit(1.0)) / F.lit(24.0)
        - F.col("__tt").cast("double") / F.lit(48.0)
    )
    return agg.select(
        "n",
        F.when(F.col("n") > 0, round_to(wp, 6)).alias("w_plus"),
        F.when(
            (F.col("n") > 0) & (var > 0),
            round_to(
                (wp - nn * (nn + F.lit(1.0)) / F.lit(4.0)) / F.sqrt(var),
                6,
            ),
        ).alias("z"),
    )


def wilcoxon_signed_rank_sql(table: str, x_col: str, y_col: str) -> str:
    """DuckDB twin of :func:`wilcoxon_signed_rank` (identical level
    folds — plain window over |d| levels — and double expressions)."""
    return f"""
    WITH base AS (
        SELECT CAST(round(CAST({x_col} AS DOUBLE) * 100, 0)
                    - round(CAST({y_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS d
        FROM {table}
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
    ), lv AS (
        SELECT abs(d) AS a,
               CAST(count(*) FILTER (WHERE d > 0) AS BIGINT) AS cp,
               CAST(count(*) AS BIGINT) AS t
        FROM base WHERE d <> 0 GROUP BY abs(d)
    ), lv2 AS (
        SELECT cp, t,
               CAST(coalesce(sum(t) OVER (ORDER BY a
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS below
        FROM lv
    ), agg AS (
        SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n,
               CAST(sum(CAST(cp AS HUGEINT) * (2 * below + t + 1))
                    AS HUGEINT) AS w2,
               CAST(sum(CAST(t AS HUGEINT) * t * t - t) AS HUGEINT) AS tt
        FROM lv2
    )
    SELECT n,
           CASE WHEN n > 0 THEN round(CAST(w2 AS DOUBLE) / 2.0, 6)
           END AS w_plus,
           CASE WHEN n > 0
                     AND CAST(n AS DOUBLE) * (n + 1.0) * (2.0 * n + 1.0)
                         / 24.0 - CAST(tt AS DOUBLE) / 48.0 > 0
                THEN round((CAST(w2 AS DOUBLE) / 2.0
                            - CAST(n AS DOUBLE) * (n + 1.0) / 4.0)
                           / sqrt(CAST(n AS DOUBLE) * (n + 1.0)
                                  * (2.0 * n + 1.0) / 24.0
                                  - CAST(tt AS DOUBLE) / 48.0), 6)
           END AS z
    FROM agg
    """


def friedman_test(
    df: DataFrame, subject_col: str, treatment_col: str, value_col: str
) -> DataFrame:
    """Friedman test (Friedman 1937) — k paired treatments over n
    subjects (the CONTINUOUS-response complement of :func:`cochran_q`,
    which handles binary outcomes): rank the k values WITHIN each
    subject (ties to average ranks) and test whether any treatment's
    mean rank departs. Tie-corrected via Conover's form.

    Contract: at most one observation per (subject, treatment); only
    COMPLETE blocks count (subjects observed under every treatment —
    incomplete subjects are filtered, the classical requirement).

    Scale shape: within-subject ranking is a window PARTITIONED BY
    subject — every partition holds exactly k rows, so no funnel at
    any data size; k itself attaches as a broadcast scalar (the
    fleiss_kappa pattern). Exact integers throughout by carrying
    DOUBLED ranks R2 = 2*rank + ties - 1 (= 2 * average rank):

        chi2 = (k-1) * sum_j (R2_j - n(k+1))^2
               / (sum_ij R2_ij^2 - n k (k+1)^2)

    (the 1/4 factors cancel; the square sum rides DECIMAL(38)).
    Returns one row ``(k, n, chi2)`` — NULL chi2 when n = 0, k < 2, or
    every subject's ranks are fully tied (denominator 0).
    """
    base = df.where(
        F.col(subject_col).isNotNull()
        & F.col(treatment_col).isNotNull()
        & F.col(value_col).isNotNull()
    ).select(
        F.col(subject_col).alias("__s"),
        F.col(treatment_col).alias("__tr"),
        to_fixed(F.col(value_col).cast("double"), 2).alias("__y"),
    )
    kdf = base.agg(
        F.countDistinct("__tr").cast("bigint").alias("__k")
    )
    # complete blocks only: subjects with exactly k DISTINCT treatments
    # and k rows (duplicate cells would corrupt the rank sums)
    subj = base.groupBy("__s").agg(
        F.count(F.lit(1)).alias("__c"),
        F.countDistinct("__tr").alias("__cd"),
    )
    complete = (
        subj.crossJoin(F.broadcast(kdf))
        .where((F.col("__c") == F.col("__k")) & (F.col("__cd") == F.col("__k")))
        .select("__s")
    )
    rows = base.join(complete, "__s")
    wr = Window.partitionBy("__s").orderBy("__y")
    we = Window.partitionBy("__s", "__y")
    r2 = (
        F.lit(2) * F.rank().over(wr) + F.count(F.lit(1)).over(we) - F.lit(1)
    ).cast("bigint")
    ranked = rows.select("__s", "__tr", r2.alias("__r2"))
    byt = ranked.groupBy("__tr").agg(
        F.sum("__r2").cast("bigint").alias("__rj2"),
        F.sum(
            F.col("__r2").cast("decimal(38,0)")
            * F.col("__r2").cast("decimal(38,0)")
        ).alias("__q"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
    )
    agg = byt.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.max("__n").cast("bigint").alias("n"),
        F.sum(
            F.col("__rj2").cast("decimal(38,0)")
            * F.col("__rj2").cast("decimal(38,0)")
        ).alias("__sj"),
        F.sum("__rj2").cast("bigint").alias("__st"),
        F.sum("__q").alias("__a4"),
    )
    kk = F.col("k").cast("double")
    nn = F.col("n").cast("double")
    # sum_j (R2_j - n(k+1))^2 = sum R2_j^2 - 2n(k+1) sum R2_j + k n^2 (k+1)^2
    num = (
        F.col("__sj").cast("double")
        - F.lit(2.0) * nn * (kk + F.lit(1.0)) * F.col("__st").cast("double")
        + kk * nn * nn * (kk + F.lit(1.0)) * (kk + F.lit(1.0))
    )
    den = F.col("__a4").cast("double") - nn * kk * (kk + F.lit(1.0)) * (
        kk + F.lit(1.0)
    )
    return agg.select(
        "k",
        F.coalesce(F.col("n"), F.lit(0).cast("bigint")).alias("n"),
        F.when(
            (F.col("k") >= 2) & (F.col("n") > 0) & (den > 0),
            round_to((kk - F.lit(1.0)) * num / den, 6),
        ).alias("chi2"),
    )


def friedman_test_sql(
    table: str, subject_col: str, treatment_col: str, value_col: str
) -> str:
    """DuckDB twin of :func:`friedman_test` (identical doubled-rank
    integer folds and double expressions)."""
    return f"""
    WITH base AS (
        SELECT {subject_col} AS s, {treatment_col} AS tr,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y
        FROM {table}
        WHERE {subject_col} IS NOT NULL AND {treatment_col} IS NOT NULL
              AND {value_col} IS NOT NULL
    ), kv AS (
        SELECT CAST(count(DISTINCT tr) AS BIGINT) AS k FROM base
    ), complete AS (
        SELECT s FROM base, kv
        GROUP BY s, kv.k
        HAVING count(*) = kv.k AND count(DISTINCT tr) = kv.k
    ), ranked AS (
        SELECT b.tr,
               CAST(2 * rank() OVER (PARTITION BY b.s ORDER BY b.y)
                    + count(*) OVER (PARTITION BY b.s, b.y) - 1
                    AS BIGINT) AS r2
        FROM base b JOIN complete c ON b.s = c.s
    ), byt AS (
        SELECT tr,
               CAST(sum(r2) AS BIGINT) AS rj2,
               CAST(sum(CAST(r2 AS HUGEINT) * r2) AS HUGEINT) AS q,
               CAST(count(*) AS BIGINT) AS n
        FROM ranked GROUP BY tr
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(max(n) AS BIGINT) AS n,
               CAST(sum(CAST(rj2 AS HUGEINT) * rj2) AS HUGEINT) AS sj,
               CAST(sum(rj2) AS BIGINT) AS st,
               CAST(sum(q) AS HUGEINT) AS a4
        FROM byt
    )
    SELECT k,
           coalesce(n, 0) AS n,
           CASE WHEN k >= 2 AND n > 0
                     AND CAST(a4 AS DOUBLE)
                         - CAST(n AS DOUBLE) * k * (k + 1.0) * (k + 1.0) > 0
                THEN round((k - 1.0)
                           * (CAST(sj AS DOUBLE)
                              - 2.0 * n * (k + 1.0) * CAST(st AS DOUBLE)
                              + CAST(k AS DOUBLE) * n * CAST(n AS DOUBLE)
                                * (k + 1.0) * (k + 1.0))
                           / (CAST(a4 AS DOUBLE)
                              - CAST(n AS DOUBLE) * k * (k + 1.0)
                                * (k + 1.0)), 6)
           END AS chi2
    FROM agg
    """


def brown_forsythe(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Brown-Forsythe robust variance-homogeneity test (Brown &
    Forsythe 1974 — Levene's test with MEDIAN centers): one-way ANOVA
    F over the absolute deviations from each group's median. The
    robust companion of :func:`bartlett_test`, which assumes normality
    and overreacts to heavy tails.

    Scale shape: the exact per-group median comes from the (group,
    cent-level) frame — per-group cumulative counts over levels (a
    window PARTITIONED BY group over its distinct levels, never rows),
    then the two middle order statistics read off as conditional mins;
    no ``percentile``-style per-group value buffering. Deviations stay
    exact integers by working in HALF-cents: 2*median is always an
    integer (lo + hi middle levels), so z2 = \\|2y - m2\\| is a BIGINT,
    and the ANOVA folds over z2 reuse the :func:`anova_oneway` recipe
    (DECIMAL(38) squares; per-group between-term rounded once to
    micro-units). F is scale-invariant so the half-cent unit cancels.

    Returns one row ``(k, n, f_stat)`` — NULL F when k < 2, N <= k, or
    within-group deviation SS is 0.
    """
    y = to_fixed(F.col(value_col).cast("double"), 2)
    base = df.where(
        F.col(group_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), y.alias("__y"))
    lv = base.groupBy("__g", "__y").agg(
        F.count(F.lit(1)).cast("bigint").alias("__c")
    )
    wcum = (
        Window.partitionBy("__g")
        .orderBy("__y")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wtot = Window.partitionBy("__g")
    lv2 = lv.select(
        "__g",
        "__y",
        F.sum("__c").over(wcum).alias("__cum"),
        F.sum("__c").over(wtot).alias("__n"),
    )
    lo_pos = F.floor((F.col("__n") + 1) / 2)
    hi_pos = F.floor((F.col("__n") + 2) / 2)
    med = lv2.groupBy("__g").agg(
        (
            F.min(F.when(F.col("__cum") >= lo_pos, F.col("__y")))
            + F.min(F.when(F.col("__cum") >= hi_pos, F.col("__y")))
        ).cast("bigint").alias("__m2")
    )
    z2 = base.join(F.broadcast(med), "__g").select(
        "__g",
        F.abs(F.lit(2) * F.col("__y") - F.col("__m2")).alias("__z"),
    )
    g = z2.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__z").cast("bigint").alias("__s"),
        F.sum(
            F.col("__z").cast("decimal(38,0)")
            * F.col("__z").cast("decimal(38,0)")
        ).alias("__q"),
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__s").cast("bigint").alias("__st"),
        F.sum("__q").alias("__qt"),
        F.sum(
            to_fixed(
                F.col("__s").cast("double") * F.col("__s").cast("double")
                / F.col("__n").cast("double"),
                6,
                wide=True,
            )
        ).alias("__sb6"),
    )
    sb = from_fixed(F.col("__sb6"), 6)
    ssb = sb - (
        F.col("__st").cast("double") * F.col("__st").cast("double")
        / F.col("n").cast("double")
    )
    ssw = F.col("__qt").cast("double") - sb
    kk, nn = F.col("k").cast("double"), F.col("n").cast("double")
    return agg.select(
        "k",
        "n",
        F.when(
            (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0),
            round_to((ssb / (kk - F.lit(1.0))) / (ssw / (nn - kk)), 6),
        ).alias("f_stat"),
    )


def brown_forsythe_sql(table: str, group_col: str, value_col: str) -> str:
    """DuckDB twin of :func:`brown_forsythe` (identical half-cent
    median construction, integer deviation folds, and F expression)."""
    return f"""
    WITH base AS (
        SELECT {group_col} AS g,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y
        FROM {table}
        WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
    ), lv AS (
        SELECT g, y, CAST(count(*) AS BIGINT) AS c
        FROM base GROUP BY g, y
    ), lv2 AS (
        SELECT g, y,
               sum(c) OVER (PARTITION BY g ORDER BY y
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum,
               sum(c) OVER (PARTITION BY g) AS n
        FROM lv
    ), med AS (
        SELECT g,
               CAST(min(CASE WHEN cum >= (n + 1) // 2 THEN y END)
                    + min(CASE WHEN cum >= (n + 2) // 2 THEN y END)
                    AS BIGINT) AS m2
        FROM lv2 GROUP BY g
    ), z AS (
        SELECT b.g, abs(2 * b.y - m.m2) AS z
        FROM base b JOIN med m ON b.g = m.g
    ), grp AS (
        SELECT g,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(z) AS BIGINT) AS s,
               CAST(sum(CAST(z AS HUGEINT) * z) AS HUGEINT) AS q
        FROM z GROUP BY g
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(s) AS BIGINT) AS st,
               CAST(sum(q) AS HUGEINT) AS qt,
               CAST(sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                   / CAST(n AS DOUBLE) * 1e6, 0)
                             AS HUGEINT)) AS HUGEINT) AS sb6
        FROM grp
    )
    SELECT k, n,
           CASE WHEN k >= 2 AND n > k
                     AND CAST(qt AS DOUBLE) - CAST(sb6 AS DOUBLE) / 1e6 > 0
                THEN round(((CAST(sb6 AS DOUBLE) / 1e6
                             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                               / CAST(n AS DOUBLE)) / (k - 1.0))
                           / ((CAST(qt AS DOUBLE)
                               - CAST(sb6 AS DOUBLE) / 1e6)
                              / (n - CAST(k AS DOUBLE))), 6)
           END AS f_stat
    FROM agg
    """


def anova_oneway(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """One-way ANOVA F statistic (Fisher) across the groups of
    ``group_col`` — the parametric companion of the Kruskal-Wallis
    battery: does at least one group mean differ?

        F = (SSB / (k-1)) / (SSW / (N-k)),  eta^2 = SSB / (SSB+SSW)

    Exactness: per-group count / sum / sum-of-squares fold in integer
    CENTS in ONE map-side-combinable agg (sum of squares rides
    DECIMAL(38) — cents^2 sums overflow BIGINT near ~1e9 rows). The
    between-group term s_g^2/n_g is NOT an integer, so it rounds ONCE
    per group to integer MICRO-cents^2 (the krippendorff per-unit
    convention) before the cross-group fold — a double SUM across
    groups would be fold-order-nondeterministic between engines. The
    final F/eta^2 are single double expressions over exact integers.
    Two-stage agg, output bounded by k; no window, no join.

    Returns one row ``(k, n, f_stat, eta_sq)`` — NULL F when k < 2,
    N <= k, or SSW = 0 (all groups constant).
    """
    y = to_fixed(F.col(value_col).cast("double"), 2)
    g = (
        df.where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("__g"), y.alias("__y"))
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__y").cast("bigint").alias("__s"),
            F.sum(
                F.col("__y").cast("decimal(38,0)")
                * F.col("__y").cast("decimal(38,0)")
            ).alias("__q"),
        )
    )
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__s").cast("bigint").alias("__st"),
        F.sum("__q").alias("__qt"),
        F.sum(
            to_fixed(
                F.col("__s").cast("double") * F.col("__s").cast("double")
                / F.col("__n").cast("double"),
                6,
                wide=True,
            )
        ).alias("__sb6"),
    )
    sb = from_fixed(F.col("__sb6"), 6)
    ssb = sb - (
        F.col("__st").cast("double") * F.col("__st").cast("double")
        / F.col("n").cast("double")
    )
    ssw = F.col("__qt").cast("double") - sb
    # total SS written as qt - st^2/n DIRECTLY (not ssb + ssw): the twin
    # uses this form and (a-b)+(c-a) != c-b bitwise in IEEE
    sst = F.col("__qt").cast("double") - (
        F.col("__st").cast("double") * F.col("__st").cast("double")
        / F.col("n").cast("double")
    )  # qt - st^2/n directly — the twin's form
    kk, nn = F.col("k").cast("double"), F.col("n").cast("double")
    return agg.select(
        "k",
        "n",
        F.when(
            (F.col("k") >= 2) & (F.col("n") > F.col("k")) & (ssw > 0),
            round_to(
                (ssb / (kk - F.lit(1.0))) / (ssw / (nn - kk)),
                6,
            ),
        ).alias("f_stat"),
        F.when(sst > 0, round_to(ssb / sst, 6)).alias("eta_sq"),
    )


def anova_oneway_sql(table: str, group_col: str, value_col: str) -> str:
    """DuckDB twin of :func:`anova_oneway` (identical integer-cent
    moments and double expressions)."""
    return f"""
    WITH g AS (
        SELECT {group_col} AS gg,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
        FROM (
            SELECT {group_col},
                   CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                        AS BIGINT) AS y
            FROM {table}
            WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
        ) GROUP BY {group_col}
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(s) AS BIGINT) AS st,
               CAST(sum(q) AS HUGEINT) AS qt,
               CAST(sum(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                   / CAST(n AS DOUBLE) * 1e6, 0)
                             AS HUGEINT)) AS HUGEINT) AS sb6
        FROM g
    )
    SELECT k, n,
           CASE WHEN k >= 2 AND n > k
                     AND CAST(qt AS DOUBLE) - CAST(sb6 AS DOUBLE) / 1e6 > 0
                THEN round(((CAST(sb6 AS DOUBLE) / 1e6
                             - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                               / CAST(n AS DOUBLE)) / (k - 1.0))
                           / ((CAST(qt AS DOUBLE)
                               - CAST(sb6 AS DOUBLE) / 1e6)
                              / (n - CAST(k AS DOUBLE))), 6)
           END AS f_stat,
           CASE WHEN CAST(qt AS DOUBLE)
                     - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                       / CAST(n AS DOUBLE) > 0
                THEN round((CAST(sb6 AS DOUBLE) / 1e6
                            - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                              / CAST(n AS DOUBLE))
                           / (CAST(qt AS DOUBLE)
                              - CAST(st AS DOUBLE) * CAST(st AS DOUBLE)
                                / CAST(n AS DOUBLE)), 6)
           END AS eta_sq
    FROM agg
    """


def bartlett_test(
    df: DataFrame, group_col: str, value_col: str
) -> DataFrame:
    """Bartlett's test of variance homogeneity (Bartlett 1937) across
    the groups of ``group_col`` — the assumption gate in front of
    :func:`anova_oneway` (ANOVA's F is only calibrated when group
    variances agree):

        chi2 = [(N-k) ln s_p^2 - sum (n_g-1) ln s_g^2] / C,
        C    = 1 + (sum 1/(n_g-1) - 1/(N-k)) / (3(k-1))

    with s_g^2 the unbiased group variances and s_p^2 their pooled
    value. Exactness: the SAME integer-cent moment frame as
    anova_oneway (one map-side agg, sums of squares in DECIMAL(38)).
    The cross-group folds are NOT left as double sums (fold-order-
    nondeterministic between engines): each group's (n-1)s^2, (n-1)
    ln(s^2) and 1/(n-1) terms round ONCE to integer micro/nano units
    (the krippendorff per-unit convention) — which also absorbs any
    last-ulp libm ln() difference — and the integer sums feed one
    final double expression. Groups with n_g < 2 are EXCLUDED (no
    variance); chi2 NULL when k < 2 after exclusion or any remaining
    group variance is 0.

    Returns one row ``(k, n, chi2)`` over the INCLUDED groups.
    """
    y = to_fixed(F.col(value_col).cast("double"), 2)
    g = (
        df.where(F.col(group_col).isNotNull() & F.col(value_col).isNotNull())
        .select(F.col(group_col).alias("__g"), y.alias("__y"))
        .groupBy("__g")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__y").cast("bigint").alias("__s"),
            F.sum(
                F.col("__y").cast("decimal(38,0)")
                * F.col("__y").cast("decimal(38,0)")
            ).alias("__q"),
        )
        .where(F.col("__n") >= 2)
    )
    nd = F.col("__n").cast("double")
    v = (
        F.col("__q").cast("double")
        - F.col("__s").cast("double") * F.col("__s").cast("double") / nd
    ) / (nd - F.lit(1.0))
    agg = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__n").cast("bigint").alias("n"),
        F.sum(
            to_fixed((nd - F.lit(1.0)) * v, 6, wide=True)
        ).alias("__sw6"),
        F.sum(
            F.when(
                v > 0,
                to_fixed((nd - F.lit(1.0)) * F.log(v), 6, wide=True),
            )
        ).alias("__sl6"),
        F.min(v).alias("__vmin"),
        F.sum(
            F.round(F.lit(1e12) / (nd - F.lit(1.0)), 0).cast("bigint")
        ).cast("bigint").alias("__ih12"),
    )
    kk, nn = F.col("k").cast("double"), F.col("n").cast("double")
    sp2 = from_fixed(F.col("__sw6"), 6) / (nn - kk)
    c = F.lit(1.0) + (
        from_fixed(F.col("__ih12"), 12)
        - F.lit(1.0) / (nn - kk)
    ) / (F.lit(3.0) * (kk - F.lit(1.0)))
    return agg.select(
        "k",
        "n",
        F.when(
            (F.col("k") >= 2) & (F.col("__vmin") > 0),
            round_to(
                (
                    (nn - kk) * F.log(sp2)
                    - from_fixed(F.col("__sl6"), 6)
                )
                / c,
                6,
            ),
        ).alias("chi2"),
    )


def bartlett_test_sql(table: str, group_col: str, value_col: str) -> str:
    """DuckDB twin of :func:`bartlett_test` (identical moments,
    variance, and log expressions)."""
    return f"""
    WITH g AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
        FROM (
            SELECT {group_col} AS gg,
                   CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                        AS BIGINT) AS y
            FROM {table}
            WHERE {group_col} IS NOT NULL AND {value_col} IS NOT NULL
        ) GROUP BY gg
        HAVING count(*) >= 2
    ), v AS (
        SELECT n,
               (CAST(q AS DOUBLE)
                - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                  / CAST(n AS DOUBLE))
               / (CAST(n AS DOUBLE) - 1.0) AS v
        FROM g
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(CAST(round((CAST(n AS DOUBLE) - 1.0) * v * 1e6, 0)
                             AS HUGEINT)) AS HUGEINT) AS sw6,
               CAST(sum(CASE WHEN v > 0
                             THEN CAST(round((CAST(n AS DOUBLE) - 1.0)
                                             * ln(v) * 1e6, 0)
                                       AS HUGEINT) END) AS HUGEINT) AS sl6,
               min(v) AS vmin,
               CAST(sum(CAST(round(1e12 / (CAST(n AS DOUBLE) - 1.0), 0)
                             AS BIGINT)) AS BIGINT) AS ih12
        FROM v
    )
    SELECT k, n,
           CASE WHEN k >= 2 AND vmin > 0
                THEN round(((CAST(n AS DOUBLE) - k)
                            * ln(CAST(sw6 AS DOUBLE) / 1e6
                                 / (CAST(n AS DOUBLE) - k))
                            - CAST(sl6 AS DOUBLE) / 1e6)
                           / (1.0 + (CAST(ih12 AS DOUBLE) / 1e12
                                     - 1.0 / (CAST(n AS DOUBLE) - k))
                                    / (3.0 * (CAST(k AS DOUBLE) - 1.0))), 6)
           END AS chi2
    FROM agg
    """


def fleiss_kappa(
    ratings: DataFrame, unit_col: str, value_col: str, raters: int
) -> DataFrame:
    """Fleiss' kappa (Fleiss 1971) over a LONG ratings frame
    ``(unit, value)`` with a FIXED rater count per unit — the
    multi-rater agreement statistic between Cohen's kappa (q272, two
    raters) and Krippendorff's alpha (q292, variable raters): chance-
    corrected agreement when every unit receives exactly ``raters``
    categorical ratings.

        P_i   = (sum_j n_ij^2 - r) / (r(r-1))
        kappa = (mean_i P_i - sum_j p_j^2) / (1 - sum_j p_j^2),
        p_j   = sum_i n_ij / (N r)

    Units whose rating count differs from ``raters`` are EXCLUDED
    (Fleiss requires constant r; Krippendorff is the variable-r tool —
    deliberate, documented division of labor). Exactness: sum_i sum_j
    n_ij^2 and the category totals are exact integer folds; the margin
    squares ride DECIMAL(38); kappa is one double expression, replayed
    bit-for-bit by the twin. Scale: one (unit, value) hash agg, one
    unit-count agg, aggs bounded by units x categories; no join wider
    than unit keys.

    Returns one row ``(n_units, n_raters, n_categories, kappa)`` —
    kappa NULL when P_e = 1 (a single category observed).
    """
    if raters < 2:
        raise ValueError("fleiss_kappa: raters must be >= 2")
    cnt = stage(
        ratings.where(
            F.col(unit_col).isNotNull() & F.col(value_col).isNotNull()
        )
        .select(
            F.col(unit_col).alias("__u"),
            F.col(value_col).cast("string").alias("__v"),
        )
        .groupBy("__u", "__v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        # unit x value bounded; the caller's ratings build (often a
        # multi-annotator union over raw text) must run only once
    )
    mu = cnt.groupBy("__u").agg(F.sum("__n").cast("bigint").alias("__m"))
    keep = mu.where(F.col("__m") == raters)
    # feeds the category margins AND the square fold
    ok = stage(cnt.join(keep.select("__u"), "__u"))
    # n_units reads off the per-unit frame (already one row per unit) —
    # a count_distinct alongside the regular sum would plan an Expand
    # over the whole (unit, value) frame (the q20 multi-distinct lesson)
    uq = keep.agg(F.count(F.lit(1)).cast("bigint").alias("n_units"))
    cat = ok.groupBy("__v").agg(F.sum("__n").cast("bigint").alias("__cj"))
    sq = ok.agg(
        F.sum(F.col("__n") * F.col("__n")).cast("bigint").alias("__s2"),
    )
    cj = F.col("__cj").cast("decimal(38,0)")
    mg = cat.agg(
        F.sum(cj * cj).alias("__m2"),
        F.count(F.lit(1)).cast("bigint").alias("n_categories"),
    )
    agg = sq.crossJoin(F.broadcast(uq)).crossJoin(F.broadcast(mg))
    r = float(raters)
    nu = F.col("n_units").cast("double")
    pbar = (
        F.col("__s2").cast("double") - nu * F.lit(r)
    ) / (nu * F.lit(r * (r - 1.0)))
    pe = F.col("__m2").cast("double") / (
        nu * F.lit(r) * nu * F.lit(r)
    )
    return agg.select(
        "n_units",
        F.lit(raters).alias("n_raters"),
        "n_categories",
        F.when(
            (F.col("n_units") > 0) & (pe < 1.0),
            round_to((pbar - pe) / (F.lit(1.0) - pe), 6),
        ).alias("kappa"),
    )


def fleiss_kappa_sql(
    table: str, unit_col: str, value_col: str, raters: int
) -> str:
    """DuckDB twin of :func:`fleiss_kappa` (identical folds and final
    expression)."""
    if raters < 2:
        raise ValueError("fleiss_kappa_sql: raters must be >= 2")
    r = float(raters)
    return f"""
    WITH cnt AS (
        SELECT {unit_col} AS u, CAST({value_col} AS VARCHAR) AS v,
               CAST(count(*) AS BIGINT) AS n
        FROM {table}
        WHERE {unit_col} IS NOT NULL AND {value_col} IS NOT NULL
        GROUP BY 1, 2
    ), ok AS (
        SELECT * FROM cnt
        WHERE u IN (
            SELECT u FROM cnt GROUP BY u HAVING sum(n) = {raters}
        )
    ), sq AS (
        SELECT CAST(sum(n * n) AS BIGINT) AS s2,
               CAST(count(DISTINCT u) AS BIGINT) AS n_units
        FROM ok
    ), cat AS (
        SELECT v, CAST(sum(n) AS BIGINT) AS cj FROM ok GROUP BY v
    ), mg AS (
        SELECT CAST(sum(CAST(cj AS HUGEINT) * cj) AS HUGEINT) AS m2,
               CAST(count(*) AS BIGINT) AS n_categories
        FROM cat
    )
    SELECT n_units,
           CAST({raters} AS INT) AS n_raters,
           n_categories,
           CASE WHEN n_units > 0
                     AND CAST(m2 AS DOUBLE)
                         / (CAST(n_units AS DOUBLE) * {r!r}
                            * CAST(n_units AS DOUBLE) * {r!r}) < 1.0
                THEN round(((CAST(s2 AS DOUBLE)
                             - CAST(n_units AS DOUBLE) * {r!r})
                            / (CAST(n_units AS DOUBLE) * {r * (r - 1.0)!r})
                            - CAST(m2 AS DOUBLE)
                              / (CAST(n_units AS DOUBLE) * {r!r}
                                 * CAST(n_units AS DOUBLE) * {r!r}))
                           / (1.0 - CAST(m2 AS DOUBLE)
                                    / (CAST(n_units AS DOUBLE) * {r!r}
                                       * CAST(n_units AS DOUBLE) * {r!r})), 6)
           END AS kappa
    FROM sq CROSS JOIN mg
    """


def cochran_armitage_trend(
    df: DataFrame, score_expr: "F.Column", success_expr: "F.Column"
) -> DataFrame:
    """Cochran-Armitage trend test (Cochran 1954, Armitage 1955): does
    a binary outcome's success rate TREND monotonically across ordered
    integer scores? — the dose-response companion of the chi-square
    independence family (a plain chi2 sees "different", this sees
    "increasing").

        z = [sum s_g r_g - pbar sum s_g n_g]
            / sqrt(pbar (1-pbar) (sum s_g^2 n_g - (sum s_g n_g)^2 / N))

    with r_g successes of n_g trials at score s_g, pbar = R/N.
    Exactness: every fold (s*r, s*n, s^2*n sums — products ride
    DECIMAL(38)) is exact integer arithmetic over ONE
    map-side-combinable score-level agg (output bounded by distinct
    scores); z is a single double expression, twin-replayable
    bit-for-bit. NULL-score / NULL-outcome rows drop.

    Returns one row ``(k, n, n_success, z_trend)`` — z NULL when the
    score variance is 0 (single score level) or pbar is 0/1.
    """
    base = df.where(
        score_expr.isNotNull() & success_expr.isNotNull()
    ).select(
        score_expr.cast("bigint").alias("__s"),
        success_expr.cast("int").alias("__r"),
    )
    lv = base.groupBy("__s").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__r").cast("bigint").alias("__rr"),
    )
    sd = F.col("__s").cast("decimal(38,0)")
    agg = lv.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__rr").cast("bigint").alias("n_success"),
        F.sum(sd * F.col("__rr").cast("decimal(38,0)")).alias("__sr"),
        F.sum(sd * F.col("__n").cast("decimal(38,0)")).alias("__sn"),
        F.sum(sd * sd * F.col("__n").cast("decimal(38,0)")).alias("__ssn"),
    )
    nn = F.col("n").cast("double")
    pbar = F.col("n_success").cast("double") / nn
    num = F.col("__sr").cast("double") - pbar * F.col("__sn").cast("double")
    varg = (
        pbar
        * (F.lit(1.0) - pbar)
        * (
            F.col("__ssn").cast("double")
            - F.col("__sn").cast("double")
              * F.col("__sn").cast("double") / nn
        )
    )
    return agg.select(
        "k",
        "n",
        "n_success",
        F.when(varg > 0, round_to(num / F.sqrt(varg), 6)).alias("z_trend"),
    )


def cochran_armitage_trend_sql(
    table: str, score_expr: str, success_expr: str
) -> str:
    """DuckDB twin of :func:`cochran_armitage_trend`."""
    return f"""
    WITH lv AS (
        SELECT s, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(r) AS BIGINT) AS rr
        FROM (
            SELECT CAST({score_expr} AS BIGINT) AS s,
                   CAST({success_expr} AS INT) AS r
            FROM {table}
            WHERE ({score_expr}) IS NOT NULL
                  AND ({success_expr}) IS NOT NULL
        ) GROUP BY s
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n) AS BIGINT) AS n,
               CAST(sum(rr) AS BIGINT) AS n_success,
               CAST(sum(CAST(s AS HUGEINT) * rr) AS HUGEINT) AS sr,
               CAST(sum(CAST(s AS HUGEINT) * n) AS HUGEINT) AS sn,
               CAST(sum(CAST(s AS HUGEINT) * s * n) AS HUGEINT) AS ssn
        FROM lv
    )
    SELECT k, n, n_success,
           CASE WHEN (CAST(n_success AS DOUBLE) / n)
                     * (1.0 - CAST(n_success AS DOUBLE) / n)
                     * (CAST(ssn AS DOUBLE)
                        - CAST(sn AS DOUBLE) * CAST(sn AS DOUBLE)
                          / CAST(n AS DOUBLE)) > 0
                THEN round((CAST(sr AS DOUBLE)
                            - (CAST(n_success AS DOUBLE) / n)
                              * CAST(sn AS DOUBLE))
                           / sqrt((CAST(n_success AS DOUBLE) / n)
                                  * (1.0 - CAST(n_success AS DOUBLE) / n)
                                  * (CAST(ssn AS DOUBLE)
                                     - CAST(sn AS DOUBLE)
                                       * CAST(sn AS DOUBLE)
                                       / CAST(n AS DOUBLE))), 6)
           END AS z_trend
    FROM agg
    """


def mrr_at_k(
    ranking: DataFrame, relevance: DataFrame, k: int
) -> DataFrame:
    """Mean Reciprocal Rank at k — the first-hit retrieval metric next
    to :func:`ndcg_at_k` (graded list quality) and recall: MRR rewards
    putting ONE relevant document early, the metric of
    known-item/navigational search and RAG context windows.

    ``ranking``: (query, doc_id, rank) with rank 1-based;
    ``relevance``: (query, doc_id) binary relevant pairs. Per query the
    first relevant rank r <= k contributes 1/r; queries in ``ranking``
    with NO relevant doc in the top k contribute 0 (they stay in the
    denominator — the standard convention).

    Exactness: 1/r folds as round(1e6/r) integer MICRO-units (the
    summation-order-proof house pattern), one final division, round 6.
    Scale: a query+doc semi-style inner join, a per-query min, two tiny
    aggs; everything bounded by |ranking| <= queries x k.

    Returns one row ``(n_queries, n_hit, mrr)``.
    """
    if k < 1:
        raise ValueError("mrr_at_k: k must be >= 1")
    nq = ranking.agg(
        F.count_distinct(F.col("query")).cast("bigint").alias("n_queries")
    )
    hits_ = (
        ranking.where(F.col("rank") <= k)
        .join(relevance.select("query", "doc_id").distinct(),
              ["query", "doc_id"])
        .groupBy("query")
        .agg(F.min("rank").alias("__r"))
    )
    s = hits_.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit"),
        F.coalesce(
            F.sum(
                F.round(F.lit(1e6) / F.col("__r"), 0).cast("bigint")
            ),
            F.lit(0),
        ).cast("bigint").alias("__mu"),
    )
    return nq.crossJoin(F.broadcast(s)).select(
        "n_queries",
        "n_hit",
        F.when(
            F.col("n_queries") > 0,
            round_to(
                from_fixed(F.col("__mu"), 6)
                / F.col("n_queries").cast("double"),
                6,
            ),
        ).alias("mrr"),
    )


def mrr_at_k_sql(
    ranking_subquery: str, relevance_subquery: str, k: int
) -> str:
    """DuckDB twin of :func:`mrr_at_k` (identical micro-unit folds)."""
    if k < 1:
        raise ValueError("mrr_at_k_sql: k must be >= 1")
    return f"""
    WITH ranking AS MATERIALIZED ({ranking_subquery}),
    relevance AS MATERIALIZED ({relevance_subquery}),
    nq AS (
        SELECT CAST(count(DISTINCT query) AS BIGINT) AS n_queries
        FROM ranking
    ), h AS (
        SELECT r.query, min(r.rank) AS rr
        FROM ranking r
        JOIN (SELECT DISTINCT query, doc_id FROM relevance) v
          ON r.query = v.query AND r.doc_id = v.doc_id
        WHERE r.rank <= {k}
        GROUP BY r.query
    ), s AS (
        SELECT CAST(count(*) AS BIGINT) AS n_hit,
               CAST(coalesce(sum(CAST(round(1e6 / rr, 0) AS BIGINT)), 0)
                    AS BIGINT) AS mu
        FROM h
    )
    SELECT n_queries, n_hit,
           CASE WHEN n_queries > 0
                THEN round(CAST(mu AS DOUBLE) / 1e6
                           / CAST(n_queries AS DOUBLE), 6)
           END AS mrr
    FROM nq CROSS JOIN s
    """
