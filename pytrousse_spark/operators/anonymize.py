"""Anonymization pipeline (SURVEY.md §2.8, N1-N4; anonymize_database.py parity).

Row-identity hashing with a private/public table split:
- the private table holds the deduplicated private columns + ``ID_OWNER``;
- the public (anonymized) table has private columns replaced by ``ID_OWNER``.

Nonce scheme (documented deviation, SURVEY.md §2.8 N2): the reference wraps
the row string in nonces from Python's seeded global ``random``
(anonymize_database.py:14-40, 181) — an RNG-sequence dependency that cannot
reproduce on distributed executors. Here nonces are *derived deterministically
per row* from a salt parameter:

    pre  = substr(sha256('pre'  || salt || row_string), 1, 12)
    suf  = substr(sha256('suf'  || salt || row_string), 1, 12)
    ID_OWNER = sha256(pre || row_string || suf)

Same structure (12-hex nonce prefix/suffix around the concatenated private
values, SHA-256 digest), fully portable, and verifiable by an ANSI-SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..dataset import Dataset
from ..functions.rounding import round_to
from ..operations import OpRecord

#: anonymize_database.py:135 — NaN in private cols filled before hashing.
PRIVATE_NA_FILLER = "----"


def _row_string(private_cols: list[str]) -> Column:
    """Element-wise concat of private columns (anonymize_database.py:67-69's
    ``np.sum`` over object arrays = separator-less string concat)."""
    return F.concat(
        *[F.coalesce(F.col(c).cast("string"), F.lit(PRIVATE_NA_FILLER)) for c in private_cols]
    )


def id_owner_expr(private_cols: list[str], salt: str) -> Column:
    """N1+N2: nonce-wrapped SHA-256 identity (anonymize_database.py:14-82)."""
    row = _row_string(private_cols)
    pre = F.substring(F.sha2(F.concat(F.lit(f"pre{salt}"), row), 256), 1, 12)
    suf = F.substring(F.sha2(F.concat(F.lit(f"suf{salt}"), row), 256), 1, 12)
    return F.sha2(F.concat(pre, row, suf), 256)


def id_owner_sql(private_cols: list[str], salt: str) -> str:
    """DuckDB twin of :func:`id_owner_expr` (oracle parity)."""
    parts = " || ".join(
        f"coalesce(CAST({c} AS VARCHAR), '{PRIVATE_NA_FILLER}')" for c in private_cols
    )
    row = f"({parts})"
    pre = f"substr(sha256('pre{salt}' || {row}), 1, 12)"
    suf = f"substr(sha256('suf{salt}' || {row}), 1, 12)"
    return f"sha256({pre} || {row} || {suf})"


def create_private_info_df(
    df: DataFrame, private_cols: list[str], salt: str = "pytrousse"
) -> DataFrame:
    """N3 (anonymize_database.py:85-124): project private cols → dedup →
    attach ID_OWNER. Output is small relative to the fact table (distinct
    identities) — the broadcast side of the join in :func:`anonymize_data`."""
    return (
        df.select(*private_cols)
        .na.fill(PRIVATE_NA_FILLER, subset=private_cols)
        .dropDuplicates(private_cols)
        .withColumn("ID_OWNER", id_owner_expr(private_cols, salt))
    )


def anonymize_data(
    dataset: Dataset,
    private_cols_to_remove: list[str],
    private_cols_to_map: list[str],
    salt: str = "pytrousse",
) -> tuple[Dataset, DataFrame]:
    """N4 (anonymize_database.py:127-206): returns (anonymized dataset,
    private-info DataFrame).

    Plan shape: ID_OWNER is a pure expression over the fact table (no join
    needed to attach it — unlike the reference's merge-back,
    anonymize_database.py:191, which Spark would have to shuffle); the
    private table is an independent small aggregate of the same scan.
    """
    df = dataset.df.na.fill(PRIVATE_NA_FILLER, subset=private_cols_to_map)
    private_df = create_private_info_df(df, private_cols_to_map, salt)
    anonym = df.withColumn(
        "ID_OWNER", id_owner_expr(private_cols_to_map, salt)
    ).drop(*private_cols_to_remove)
    out = dataset.evolve(
        df=anonym,
        record=OpRecord(
            name="anonymize_data",
            columns=tuple(private_cols_to_map),
            derived_columns=("ID_OWNER",),
            details={
                "removed": list(private_cols_to_remove),
                "salt": salt,
            },
        ),
        new_derived=("ID_OWNER",),
    )
    return out, private_df


def k_anonymity_census(
    df: DataFrame, quasi_cols: list[str], thresholds: list[int]
) -> DataFrame:
    """Re-identification risk census over a quasi-identifier set — the
    release-side complement of the reference's identity hashing
    (anonymize_database.py's split removes direct identifiers; this
    measures how identifying the REMAINING columns are, per Sweeney's
    k-anonymity: a table is k-anonymous iff every quasi-identifier
    combination occurs >= k times).

    Returns one row per threshold ``k`` (ascending):
    ``(k, groups_below, rows_below, rows_share, anonymity_level,
    n_groups, n_rows)`` where ``groups_below``/``rows_below`` count the
    equivalence classes (and their member rows) of size < k,
    ``rows_share`` = rows_below / n_rows rounded 6, and
    ``anonymity_level`` = the minimum class size (the k the table
    actually satisfies), repeated per row.

    Exactness: everything is BIGINT counts except ``rows_share``, a
    single division of two exact BIGINTs rounded 6 — deterministic
    cross-engine.

    Scale: one hash agg on the quasi-identifier key (map-side combine)
    reduces the table to its equivalence classes; the census is then ONE
    conditional aggregate over the class-size frame unpivoted via
    ``stack`` — no per-threshold rescan, no crossjoin against the class
    frame. NULL quasi-identifier values form their own class (SQL
    group-by semantics in both engines).
    """
    if not thresholds:
        raise ValueError("k_anonymity_census: thresholds must be non-empty")
    ks = sorted(set(int(k) for k in thresholds))
    if ks[0] < 2:
        raise ValueError("k_anonymity_census: thresholds must be >= 2")
    g = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__c"))
    aggs = [
        F.min("__c").cast("bigint").alias("__lvl"),
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum("__c").cast("bigint").alias("__nr"),
    ]
    for i, k in enumerate(ks):
        aggs.append(
            F.count(F.when(F.col("__c") < k, 1)).cast("bigint").alias(f"__g{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("__c") < k, F.col("__c"))), F.lit(0)
            ).cast("bigint").alias(f"__r{i}")
        )
    one = g.agg(*aggs)
    stack_args = ", ".join(
        f"{k}, __g{i}, __r{i}" for i, k in enumerate(ks)
    )
    return (
        one.selectExpr(
            f"stack({len(ks)}, {stack_args}) AS (k, groups_below, rows_below)",
            "__lvl", "__ng", "__nr",
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "groups_below",
            "rows_below",
            round_to(F.col("rows_below") / F.col("__nr"), 6).alias("rows_share"),
            F.col("__lvl").alias("anonymity_level"),
            F.col("__ng").alias("n_groups"),
            F.col("__nr").alias("n_rows"),
        )
        .orderBy("k")
    )


def k_anonymity_census_sql(
    table_expr: str, quasi_cols: list[str], thresholds: list[int]
) -> str:
    """DuckDB twin of :func:`k_anonymity_census` — identical class
    reduction, conditional aggregate, and UNION-ALL unpivot over the
    materialized one-row census."""
    ks = sorted(set(int(k) for k in thresholds))
    qi = ", ".join(quasi_cols)
    cond = ",\n               ".join(
        f"CAST(count(*) FILTER (WHERE __c < {k}) AS BIGINT) AS __g{i},\n"
        f"               CAST(COALESCE(sum(__c) FILTER (WHERE __c < {k}), 0)"
        f" AS BIGINT) AS __r{i}"
        for i, k in enumerate(ks)
    )
    arms = "\n        UNION ALL ".join(
        f"SELECT {k} AS k, __g{i} AS groups_below, __r{i} AS rows_below,"
        f" __lvl, __ng, __nr FROM one"
        for i, k in enumerate(ks)
    )
    return f"""
    WITH g AS (
        SELECT count(*) AS __c FROM ({table_expr}) GROUP BY {qi}
    ), one AS MATERIALIZED (
        SELECT CAST(min(__c) AS BIGINT) AS __lvl,
               CAST(count(*) AS BIGINT) AS __ng,
               CAST(sum(__c) AS BIGINT) AS __nr,
               {cond}
        FROM g
    ), arms AS (
        {arms}
    )
    SELECT CAST(k AS INT) AS k, groups_below, rows_below,
           round(rows_below / CAST(__nr AS DOUBLE), 6) AS rows_share,
           __lvl AS anonymity_level, __ng AS n_groups, __nr AS n_rows
    FROM arms ORDER BY k
    """


def enforce_k_anonymity(
    df: DataFrame, quasi_cols: list[str], k: int
) -> DataFrame:
    """Suppression enforcement: drop every row whose quasi-identifier
    equivalence class has fewer than ``k`` members, so the surviving
    table IS k-anonymous (the fix :func:`k_anonymity_census` measures;
    the census of the result reports rows_below = 0 at ``k`` — pinned in
    tests/test_anonymize.py).

    Scale: class sizes reduce map-side to one row per class; the fact
    table then SEMI-joins the >= k classes on the same key — at 100 TB
    the class frame is the small side (broadcast or co-partitioned),
    the fact table shuffles at most once on the QI key, and AQE
    broadcasts when the class frame fits.

    NULL quasi-identifier values form their own equivalence class —
    exactly as :func:`k_anonymity_census` counts them — so a NULL class
    with >= k members SURVIVES. The semi join therefore uses null-safe
    equality (``<=>``) per QI column; Spark plans ``<=>`` as an ordinary
    hash-join key, so the scale shape is unchanged.
    """
    if k < 2:
        raise ValueError("enforce_k_anonymity: k must be >= 2")
    big = df.groupBy(*quasi_cols).agg(F.count(F.lit(1)).alias("__c"))
    keep = big.where(F.col("__c") >= k).select(
        *[F.col(c).alias(f"__q_{c}") for c in quasi_cols]
    )
    cond = None
    for c in quasi_cols:
        term = df[c].eqNullSafe(F.col(f"__q_{c}"))
        cond = term if cond is None else (cond & term)
    return df.join(keep, cond, "semi")


def l_diversity_census(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    thresholds: list[int],
) -> DataFrame:
    """Distinct l-diversity census (Machanavajjhala 2006): k-anonymity
    alone fails when an equivalence class is large but every member
    shares the SAME sensitive value (the homogeneity attack — class
    size 50, all '<disease X>' re-identifies perfectly). A class is
    distinct-l-diverse iff it contains >= l distinct sensitive values.

    Returns one row per threshold ``l`` (ascending):
    ``(l, groups_below, rows_below, rows_share, diversity_level,
    n_groups, n_rows)`` — the same shape as
    :func:`k_anonymity_census` with class size replaced by the class's
    distinct-sensitive-value count, so the two censuses read side by
    side. NULL sensitive values count as one distinct value (SQL
    count-distinct semantics drop NULLs; a class of only-NULLs has
    diversity 0 in both engines).

    Scale: one two-level distinct agg on (QI, sensitive) — map-side
    dedup then per-class counts — followed by the same ONE conditional
    aggregate + stack unpivot; no per-threshold rescan.
    """
    if not thresholds:
        raise ValueError("l_diversity_census: thresholds must be non-empty")
    ls = sorted(set(int(x) for x in thresholds))
    if ls[0] < 2:
        raise ValueError("l_diversity_census: thresholds must be >= 2")
    g = df.groupBy(*quasi_cols).agg(
        F.count(F.lit(1)).alias("__c"),
        F.countDistinct(sensitive_col).alias("__d"),
    )
    aggs = [
        F.min("__d").cast("bigint").alias("__lvl"),
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum("__c").cast("bigint").alias("__nr"),
    ]
    for i, l in enumerate(ls):
        aggs.append(
            F.count(F.when(F.col("__d") < l, 1)).cast("bigint").alias(f"__g{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("__d") < l, F.col("__c"))), F.lit(0)
            ).cast("bigint").alias(f"__r{i}")
        )
    one = g.agg(*aggs)
    stack_args = ", ".join(f"{l}, __g{i}, __r{i}" for i, l in enumerate(ls))
    return (
        one.selectExpr(
            f"stack({len(ls)}, {stack_args}) AS (l, groups_below, rows_below)",
            "__lvl", "__ng", "__nr",
        )
        .select(
            F.col("l").cast("int").alias("l"),
            "groups_below",
            "rows_below",
            round_to(F.col("rows_below") / F.col("__nr"), 6).alias("rows_share"),
            F.col("__lvl").alias("diversity_level"),
            F.col("__ng").alias("n_groups"),
            F.col("__nr").alias("n_rows"),
        )
        .orderBy("l")
    )


def l_diversity_census_sql(
    table_expr: str,
    quasi_cols: list[str],
    sensitive_col: str,
    thresholds: list[int],
) -> str:
    """DuckDB twin of :func:`l_diversity_census`."""
    ls = sorted(set(int(x) for x in thresholds))
    qi = ", ".join(quasi_cols)
    cond = ",\n               ".join(
        f"CAST(count(*) FILTER (WHERE __d < {l}) AS BIGINT) AS __g{i},\n"
        f"               CAST(COALESCE(sum(__c) FILTER (WHERE __d < {l}), 0)"
        f" AS BIGINT) AS __r{i}"
        for i, l in enumerate(ls)
    )
    arms = "\n        UNION ALL ".join(
        f"SELECT {l} AS l, __g{i} AS groups_below, __r{i} AS rows_below,"
        f" __lvl, __ng, __nr FROM one"
        for i, l in enumerate(ls)
    )
    return f"""
    WITH g AS (
        SELECT count(*) AS __c, count(DISTINCT {sensitive_col}) AS __d
        FROM ({table_expr}) GROUP BY {qi}
    ), one AS MATERIALIZED (
        SELECT CAST(min(__d) AS BIGINT) AS __lvl,
               CAST(count(*) AS BIGINT) AS __ng,
               CAST(sum(__c) AS BIGINT) AS __nr,
               {cond}
        FROM g
    ), arms AS (
        {arms}
    )
    SELECT CAST(l AS INT) AS l, groups_below, rows_below,
           round(rows_below / CAST(__nr AS DOUBLE), 6) AS rows_share,
           __lvl AS diversity_level, __ng AS n_groups, __nr AS n_rows
    FROM arms ORDER BY l
    """


def t_closeness_census(
    df: DataFrame,
    quasi_cols: list[str],
    sensitive_col: str,
    thresholds: list[float],
) -> DataFrame:
    """Distinct t-closeness census (Li/Li/Venkatasubramanian 2007) — the
    third leg of the privacy trio beside :func:`k_anonymity_census` and
    :func:`l_diversity_census`: l-diversity still leaks when a class's
    sensitive DISTRIBUTION differs sharply from the table's (the
    skewness attack — 2 distinct values is "diverse" even if one is 99%
    globally and 50% in the class). A class is t-close iff the distance
    between its sensitive-value distribution and the global one is
    <= t; with the uniform ground metric the Earth-Mover distance
    reduces to total variation: ``t_c = 0.5 * sum_v |p_c(v) - p(v)|``.

    Returns one row per threshold ``t`` (ascending):
    ``(t, groups_above, rows_above, rows_share, max_t, n_groups,
    n_rows)`` where ``groups_above``/``rows_above`` count classes (and
    their rows) with distance > t, and ``max_t`` is the worst class's
    distance (the t the table actually satisfies).

    Exactness: each cell's ``|n_cv/n_c - n_v/n|`` is single-op IEEE on
    exactly representable BIGINTs, scaled to pico-units and FLOORED to
    an integer (floor, not round: no half-way ambiguity between
    engines), so the per-class fold is order-free; threshold compares
    happen in integer pico-space against ``floor(t * 2e12)``; the two
    emitted doubles (rows_share, max_t) are single divisions rounded 6.

    Scale: the sensitive domain is assumed small (diagnosis codes,
    segments — the attribute t-closeness is FOR); the evaluation frame
    is the DENSE class x value grid (the q147 contingency convention —
    absent cells carry n_cv = 0 and must contribute |0 - p(v)|), built
    as class-frame x broadcast value-frame with a null-safe left join
    of the observed cells. Everything upstream of the grid is one
    (QI, sensitive) hash agg; the grid is class-level, never row-level.
    NULL sensitive values are a value; NULL QI values are a class (SQL
    GROUP BY semantics, null-safe joins throughout).
    """
    ts = sorted(set(float(t) for t in thresholds))
    if not ts:
        raise ValueError("t_closeness_census: thresholds must be non-empty")
    if ts[0] <= 0.0 or ts[-1] >= 1.0:
        raise ValueError("t_closeness_census: thresholds must be in (0, 1)")

    cv = df.groupBy(*quasi_cols, sensitive_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__ncv")
    )
    cls = cv.groupBy(*quasi_cols).agg(F.sum("__ncv").alias("__nc"))
    gv = df.groupBy(sensitive_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nv")
    )
    tot = df.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    gvb = gv.select(F.col(sensitive_col).alias("__sv"), "__nv").crossJoin(
        F.broadcast(tot)
    )
    grid = cls.crossJoin(F.broadcast(gvb))
    cvr = cv.select(
        *[F.col(c).alias(f"__cv_{c}") for c in quasi_cols],
        F.col(sensitive_col).alias("__cvs"),
        "__ncv",
    )
    cond = F.col("__sv").eqNullSafe(F.col("__cvs"))
    for c in quasi_cols:
        cond = cond & grid[c].eqNullSafe(F.col(f"__cv_{c}"))
    cells = grid.join(cvr, cond, "left")
    term = F.floor(
        F.abs(
            F.coalesce(F.col("__ncv"), F.lit(0)).cast("double")
            / F.col("__nc").cast("double")
            - F.col("__nv").cast("double") / F.col("__n").cast("double")
        )
        * F.lit(1e12)
    ).cast("bigint")
    per_class = cells.groupBy(*[grid[c] for c in quasi_cols]).agg(
        F.max("__nc").alias("__nc"),
        F.sum(term).alias("__tp"),
    )
    aggs = [
        F.max("__tp").alias("__maxtp"),
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
        F.sum("__nc").cast("bigint").alias("__nr"),
    ]
    cuts = [int(t * 2e12) for t in ts]
    for i, cut in enumerate(cuts):
        aggs.append(
            F.count(F.when(F.col("__tp") > cut, 1))
            .cast("bigint").alias(f"__g{i}")
        )
        aggs.append(
            F.coalesce(
                F.sum(F.when(F.col("__tp") > cut, F.col("__nc"))), F.lit(0)
            ).cast("bigint").alias(f"__r{i}")
        )
    one = per_class.agg(*aggs)
    stack_args = ", ".join(
        f"CAST({t!r} AS DOUBLE), __g{i}, __r{i}" for i, t in enumerate(ts)
    )
    return (
        one.selectExpr(
            f"stack({len(ts)}, {stack_args})"
            " AS (t, groups_above, rows_above)",
            "__maxtp", "__ng", "__nr",
        )
        .select(
            F.col("t"),
            "groups_above",
            "rows_above",
            round_to(
                F.col("rows_above") / F.col("__nr"),
                6,
            ).alias("rows_share"),
            round_to(F.col("__maxtp") / F.lit(2e12), 6).alias("max_t"),
            F.col("__ng").alias("n_groups"),
            F.col("__nr").alias("n_rows"),
        )
        .orderBy("t")
    )


def t_closeness_census_sql(
    table_expr: str,
    quasi_cols: list[str],
    sensitive_col: str,
    thresholds: list[float],
) -> str:
    """DuckDB twin of :func:`t_closeness_census` — identical dense grid,
    pico-floored cells, integer threshold compares."""
    ts = sorted(set(float(t) for t in thresholds))
    qi = ", ".join(quasi_cols)
    cls_cols = ", ".join(f"cls.{c}" for c in quasi_cols)
    on_qi = " AND ".join(
        f"cls.{c} IS NOT DISTINCT FROM cv.{c}" for c in quasi_cols
    )
    cond = ",\n               ".join(
        f"CAST(count(*) FILTER (WHERE __tp > {int(t * 2e12)}) AS BIGINT)"
        f" AS __g{i},\n"
        f"               CAST(COALESCE(sum(__nc) FILTER (WHERE __tp >"
        f" {int(t * 2e12)}), 0) AS BIGINT) AS __r{i}"
        for i, t in enumerate(ts)
    )
    arms = "\n        UNION ALL ".join(
        f"SELECT CAST({t!r} AS DOUBLE) AS t, __g{i} AS groups_above,"
        f" __r{i} AS rows_above, __maxtp, __ng, __nr FROM one"
        for i, t in enumerate(ts)
    )
    return f"""
    WITH src AS (SELECT * FROM ({table_expr})),
    cv AS (
        SELECT {qi}, {sensitive_col},
               CAST(count(*) AS BIGINT) AS __ncv
        FROM src GROUP BY {qi}, {sensitive_col}
    ), cls AS (
        SELECT {qi}, CAST(sum(__ncv) AS BIGINT) AS __nc
        FROM cv GROUP BY {qi}
    ), gv AS (
        SELECT {sensitive_col} AS __sv, CAST(count(*) AS BIGINT) AS __nv,
               CAST((SELECT count(*) FROM src) AS BIGINT) AS __n
        FROM src GROUP BY {sensitive_col}
    ), cells AS (
        SELECT {cls_cols}, cls.__nc, gv.__nv, gv.__n,
               CAST(floor(abs(CAST(COALESCE(cv.__ncv, 0) AS DOUBLE)
                                  / CAST(cls.__nc AS DOUBLE)
                              - CAST(gv.__nv AS DOUBLE)
                                  / CAST(gv.__n AS DOUBLE)) * 1e12)
                    AS BIGINT) AS __term
        FROM cls CROSS JOIN gv
        LEFT JOIN cv ON {on_qi}
                     AND gv.__sv IS NOT DISTINCT FROM cv.{sensitive_col}
    ), per_class AS (
        SELECT {qi}, max(__nc) AS __nc,
               CAST(sum(__term) AS BIGINT) AS __tp
        FROM cells GROUP BY {qi}
    ), one AS MATERIALIZED (
        SELECT CAST(max(__tp) AS BIGINT) AS __maxtp,
               CAST(count(*) AS BIGINT) AS __ng,
               CAST(sum(__nc) AS BIGINT) AS __nr,
               {cond}
        FROM per_class
    ), arms AS (
        {arms}
    )
    SELECT t, groups_above, rows_above,
           round(rows_above / CAST(__nr AS DOUBLE), 6) AS rows_share,
           round(__maxtp / 2e12, 6) AS max_t,
           __ng AS n_groups, __nr AS n_rows
    FROM arms ORDER BY t
    """


def dp_noisy_counts(
    df: DataFrame,
    group_cols: list[str],
    epsilon: float,
    salt: str = "",
    out_col: str = "noisy_n",
) -> DataFrame:
    """Differentially private group counts via the Laplace mechanism
    (Dwork/McSherry/Nissim/Smith 2006): release ``count + Lap(1/eps)``
    per group — counting queries have sensitivity 1, so the release is
    eps-DP. The privacy complement of the census operators above: those
    MEASURE re-identification risk, this bounds what any release leaks.

    The noise draw is a keyed PRF, not an RNG: uniform u from the salted
    portable hash of the group key (the N1 anonymization hash
    convention), mapped through the Laplace inverse CDF
    ``-(1/eps) * sign(u - 1/2) * ln(1 - 2|u - 1/2|)``. Same (salt, key)
    -> same draw, so releases are reproducible, cross-engine testable,
    and consistent across re-runs; a production pipeline rotates the
    salt per release epoch (re-releasing under many salts composes
    eps-wise, as always with DP). NULL group keys hash via a NUL-byte
    sentinel distinct from the empty string.

    Scale: ONE hash agg (map-side combine) then per-row scalar math;
    output is group-level. The released frame deliberately EXCLUDES the
    true count — select it separately if you are not releasing.

    Output: group_cols + (epsilon, ``out_col``) with the noisy count
    rounded 6 via the cross-engine scaled-multiply rule.
    """
    if epsilon <= 0:
        raise ValueError("dp_noisy_counts: epsilon must be > 0")
    from ..functions.hashing import h60

    key = F.concat_ws(
        "|",
        *[
            F.coalesce(F.col(c).cast("string"), F.lit(chr(0)))
            for c in group_cols
        ],
    )
    g = df.groupBy(*group_cols).agg(F.count(F.lit(1)).alias("__true_n"))
    u = (
        F.pmod(h60(F.concat(key, F.lit("|" + salt))), F.lit(1 << 52))
        .cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    v = u - F.lit(0.5)
    mag = -(F.lit(1.0 / epsilon)) * F.log(F.lit(1.0) - F.lit(2.0) * F.abs(v))
    noise = F.when(v < 0, -mag).otherwise(mag)
    noisy = round_to(F.col("__true_n").cast("double") + noise, 6)
    return g.select(
        *group_cols,
        F.lit(float(epsilon)).alias("epsilon"),
        noisy.alias(out_col),
    )


def dp_noisy_counts_sql(
    table_expr: str,
    group_cols: list[str],
    epsilon: float,
    salt: str = "",
    out_col: str = "noisy_n",
) -> str:
    """DuckDB twin of :func:`dp_noisy_counts` — identical hash-PRF draw,
    inverse-CDF shape, and scaled-multiply rounding."""
    from ..functions.hashing import h60_sql

    qi = ", ".join(group_cols)
    key = " || '|' || ".join(
        f"COALESCE(CAST({c} AS VARCHAR), chr(0))" for c in group_cols
    )
    h = h60_sql(f"{key} || '|{salt}'")
    return f"""
    WITH g AS (
        SELECT {qi}, CAST(count(*) AS BIGINT) AS __true_n
        FROM ({table_expr}) GROUP BY {qi}
    ), drawn AS (
        SELECT *,
               ((CAST(({h}) % {1 << 52} AS DOUBLE) + 0.5)
                / {float(1 << 52)!r}) - 0.5 AS __v
        FROM g
    )
    SELECT {qi}, CAST({float(epsilon)!r} AS DOUBLE) AS epsilon,
           round((CAST(__true_n AS DOUBLE)
                  + (CASE WHEN __v < 0 THEN 1.0 ELSE -1.0 END)
                    * ({1.0 / epsilon!r}) * ln(1.0 - 2.0 * abs(__v)))
                 * 1e6, 0) / 1e6 AS {out_col}
    FROM drawn
    """
