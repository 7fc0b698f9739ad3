"""Probabilistic record linkage (beyond-reference; Fellegi & Sunter 1969).

Entity resolution across two files without a shared key: candidate pairs
from a BLOCKING join, per-field agreement vectors, log-likelihood match
weights ``ln(m/u)`` / ``ln((1-m)/(1-u))`` from declared (m, u)
probabilities, and the classic three-way link / possible / non-link
decision by score thresholds.

Design decisions (all for cross-engine exactness and 100 TB shape):

- the (m, u) parameters are DECLARED inputs, not EM-estimated in-engine
  (Winkler's EM fit is a handful of scalar iterations over the agreement-
  pattern census — the census below is exactly its sufficient statistic,
  so a driver-side EM over it is cheap if needed; the linkage itself is
  the distributed part);
- the weights are computed in PYTHON and injected as double literals, so
  NO engine evaluates ``ln`` — the score is a fixed-order sum of a
  handful of literals selected by CASE, bit-identical everywhere;
- agreement is strict both-non-null equality (a NULL field is evidence
  of nothing, so it takes the disagreement weight — declare fields you
  expect to be sparse with an honest low ``m``);
- blocking is the candidate bound: pairs = sum over blocks of |L_b|x|R_b|
  (the q124 fuzzy-join convention). A NULL blocking key matches nothing
  (null-rejecting equi-join — standard blocking semantics: unblockable
  records are handled by a second pass under a different key, not by a
  cross join).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import round_half_away, round_to


def fs_link_pairs(
    left: DataFrame,
    right: DataFrame,
    left_id: str,
    right_id: str,
    block_cols: list[str],
    compares: list[tuple[str, float, float]],
    lower: float,
    upper: float,
) -> DataFrame:
    """Score blocked candidate pairs and classify them.

    ``compares`` is a list of ``(column, m, u)`` with
    ``m = P(agree | same entity)`` and ``u = P(agree | different)``;
    both frames must carry the column. Returns one row per candidate
    pair: ``(left_id, right_id, score, decision)`` with ``score``
    rounded 6 and ``decision`` in {'link', 'possible', 'non-link'}
    (``score >= upper`` links, ``score <= lower`` rejects).

    Scale: ONE equi-join on the blocking key (null-rejecting); all
    scoring is row-wise literal arithmetic inside the join's project —
    no shuffle beyond the join, no UDFs. Skewed blocks are ordinary
    join skew (salt or AQE as usual).
    """
    from ..io import rebalance_undersplit

    # when the planner broadcasts the right side, the pair expansion
    # (x block-mates per probe row) runs on the PROBE side's scan
    # partitioning — a single-row-group bench input serializes the
    # whole candidate-pair score pass on one core (no-op at real scale)
    left = rebalance_undersplit(left)
    if not compares:
        raise ValueError("fs_link_pairs: compares must be non-empty")
    if lower > upper:
        raise ValueError("fs_link_pairs: lower must be <= upper")
    for c, m, u in compares:
        if not (0.0 < u < m < 1.0):
            raise ValueError(
                f"fs_link_pairs: need 0 < u < m < 1 for {c!r} (got m={m}, u={u})"
            )
    r = right.select(
        F.col(right_id).alias("__rid"),
        *[F.col(c).alias(f"__rb_{c}") for c in block_cols],
        *[F.col(c).alias(f"__rc_{c}") for c, _, _ in compares],
    )
    cond = None
    for c in block_cols:
        term = left[c] == F.col(f"__rb_{c}")
        cond = term if cond is None else (cond & term)
    pairs = left.join(r, cond, "inner")
    score = F.lit(0.0)
    for c, m, u in compares:
        w_agree = F.lit(round_half_away(math.log(m / u), 12))
        w_dis = F.lit(round_half_away(math.log((1.0 - m) / (1.0 - u)), 12))
        lc, rc = F.col(c), F.col(f"__rc_{c}")
        agree = lc.isNotNull() & rc.isNotNull() & (lc == rc)
        score = score + F.when(agree, w_agree).otherwise(w_dis)
    score = round_to(score, 6)
    decision = (
        F.when(score >= upper, "link")
        .when(score <= lower, "non-link")
        .otherwise("possible")
    )
    return pairs.select(
        left[left_id].alias(left_id),
        F.col("__rid").alias(right_id),
        score.alias("score"),
        decision.alias("decision"),
    )


def fs_link_pairs_sql(
    left_expr: str,
    right_expr: str,
    left_id: str,
    right_id: str,
    block_cols: list[str],
    compares: list[tuple[str, float, float]],
    lower: float,
    upper: float,
) -> str:
    """DuckDB twin of :func:`fs_link_pairs` — the same python-computed
    weight literals, CASE selection, fixed-order sum, and thresholds."""
    on = " AND ".join(f"l.{c} = r.{c}" for c in block_cols)
    terms = []
    for c, m, u in compares:
        wa = repr(round_half_away(math.log(m / u), 12))
        wd = repr(round_half_away(math.log((1.0 - m) / (1.0 - u)), 12))
        # CAST each weight literal to DOUBLE: DuckDB parses the decimal
        # literals as DECIMAL and would fold the score decimal-exactly,
        # diverging in type (and potentially last-ulp value) from
        # Spark's double chain
        terms.append(
            f"(CASE WHEN l.{c} IS NOT NULL AND r.{c} IS NOT NULL"
            f" AND l.{c} = r.{c} THEN CAST({wa} AS DOUBLE)"
            f" ELSE CAST({wd} AS DOUBLE) END)"
        )
    score = " + ".join(terms)
    return f"""
    SELECT l.{left_id} AS {left_id}, r.{right_id} AS {right_id},
           round(0.0 + {score}, 6) AS score,
           CASE WHEN round(0.0 + {score}, 6) >= {upper!r} THEN 'link'
                WHEN round(0.0 + {score}, 6) <= {lower!r} THEN 'non-link'
                ELSE 'possible' END AS decision
    FROM ({left_expr}) l JOIN ({right_expr}) r ON {on}
    """


def fs_pattern_census(
    left: DataFrame,
    right: DataFrame,
    block_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Agreement-PATTERN census over the blocked pairs: one row per
    binary agreement vector with its pair count — the sufficient
    statistic for fitting (m, u) by EM (Winkler 1988): the E/M steps
    are scalar arithmetic over exactly this table, so parameter fitting
    is a driver-side loop over ~2^|fields| rows, NOT another pass over
    the data. Output: one 0/1 column per compare field plus
    ``n_pairs``."""
    if not compare_cols:
        raise ValueError("fs_pattern_census: compare_cols must be non-empty")
    r = right.select(
        *[F.col(c).alias(f"__rb_{c}") for c in block_cols],
        *[F.col(c).alias(f"__rc_{c}") for c in compare_cols],
    )
    cond = None
    for c in block_cols:
        term = left[c] == F.col(f"__rb_{c}")
        cond = term if cond is None else (cond & term)
    pairs = left.join(r, cond, "inner")
    pats = [
        (
            (F.col(c).isNotNull() & F.col(f"__rc_{c}").isNotNull()
             & (F.col(c) == F.col(f"__rc_{c}")))
            .cast("int").alias(f"agree_{c}")
        )
        for c in compare_cols
    ]
    return (
        pairs.select(*pats)
        .groupBy(*[f"agree_{c}" for c in compare_cols])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
    )


def fs_em_fit(
    patterns: list[tuple[tuple[int, ...], int]],
    n_fields: int,
    p_match: float = 0.05,
    m0: float = 0.8,
    u0: float = 0.1,
    iters: int = 200,
) -> dict:
    """Driver-side EM fit of the (m, u) probabilities from the
    agreement-pattern census (Winkler 1988's unsupervised fit of the
    Fellegi-Sunter model under conditional independence).

    ``patterns`` is the collected output of :func:`fs_pattern_census`
    — ``[(agreement_vector, n_pairs), ...]``, at most ``2**n_fields``
    rows regardless of data size, which is why the fit lives on the
    driver: the E-step posterior and M-step updates are scalar
    arithmetic over this census; NO further pass over the data.

    Returns ``{"m": [...], "u": [...], "p": float, "iters": k}``.
    Pure python floats — this is a parameter ESTIMATOR feeding
    :func:`fs_link_pairs`' declared weights, not a cross-engine-exact
    operator (no oracle; laws in tests/test_linkage.py pin that it
    recovers planted parameters and increases likelihood).
    """
    if not patterns:
        raise ValueError("fs_em_fit: empty pattern census")
    m = [m0] * n_fields
    u = [u0] * n_fields
    p = p_match
    prev = None
    it = 0
    for it in range(1, iters + 1):
        # E-step: posterior P(match | pattern) per census row
        post = []
        for vec, n in patterns:
            pm, pu = p, 1.0 - p
            for j in range(n_fields):
                pm *= m[j] if vec[j] else (1.0 - m[j])
                pu *= u[j] if vec[j] else (1.0 - u[j])
            g = pm / (pm + pu) if (pm + pu) > 0 else 0.0
            post.append((vec, n, g))
        # M-step
        tot = sum(n for _, n, _ in post)
        wm = sum(n * g for _, n, g in post)
        wu = tot - wm
        if wm <= 0 or wu <= 0:
            break
        p = wm / tot
        eps = 1e-12
        for j in range(n_fields):
            am = sum(n * g for vec, n, g in post if vec[j])
            au = sum(n * (1.0 - g) for vec, n, g in post if vec[j])
            m[j] = min(1.0 - eps, max(eps, am / wm))
            u[j] = min(1.0 - eps, max(eps, au / wu))
        state = (round_half_away(p, 12), tuple(round_half_away(x, 12) for x in m),
                 tuple(round_half_away(x, 12) for x in u))
        if state == prev:
            break
        prev = state
    return {"m": m, "u": u, "p": p, "iters": it}
