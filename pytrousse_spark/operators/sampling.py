"""Deterministic sampling / splitting (beyond-reference).

Training-data curation needs samples and splits that are REPRODUCIBLE
across runs, engines, and repartitioning — ``df.sample`` / ``randomSplit``
are none of those (partition-seeded RNG). The operators here derive every
decision from a portable content hash of a row id (the standard hash-mod
split used by large-scale data pipelines), so the same row always lands in
the same split on any engine — including the DuckDB oracle.

All pure map-side expressions; ``hash_topk_per_group`` adds one window
shuffle keyed by the group.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60, h60_sql
from ..functions.rounding import from_fixed, round_half_away, round_to, to_fixed
from ..staging import stage

from pytrousse_spark.functions.sqlutil import sql_quote

#: hash buckets per unit probability — 1e6 gives ppm-resolution fractions.
_BUCKETS = 1_000_000


def _bucket(id_col: str, salt: str):
    """Deterministic bucket in [0, 1e6) from the salted id hash."""
    return h60(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))) % _BUCKETS


def _bucket_sql(id_col: str, salt: str) -> str:
    h = h60_sql(f"{sql_quote(salt + '|')} || CAST({id_col} AS VARCHAR)")
    return f"({h} % {_BUCKETS})"


def hash_sample(
    df: DataFrame, id_col: str, fraction: float, salt: str = "sample"
) -> DataFrame:
    """Keep ~``fraction`` of rows, decided per-row by the salted id hash —
    stable under reruns and repartitioning. Different salts give
    INDEPENDENT (decorrelated, overlapping) samples; for disjoint subsets
    use :func:`hash_split`, whose bucket ranges partition the id space."""
    if not 0.0 <= fraction <= 1.0:
        raise ValueError("fraction must be in [0, 1]")
    return df.where(_bucket(id_col, salt) < int(round_half_away(fraction * _BUCKETS)))


#: 2^60 — the h60 hash space, for uniform-in-(0,1] conversion
_H60_SPACE_F = float(1 << 60)


def weighted_sample(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
    salt: str = "wsample",
) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    A-ES key (2006, public): key = -ln(u)/w with u hash-uniform in (0,1];
    the k smallest keys are the sample, so inclusion probability tracks
    weight exactly and the draw is deterministic given the salt.

    Scale: the key is a pure map-side expression; selection is a global
    top-k (TakeOrderedAndProject — no full sort, no shuffle of the
    non-sampled mass). Rows with NULL or non-positive weight are excluded
    (they would get infinite keys anyway). The rounded key is exposed as
    ``es_key`` so the oracle can replay the exact ordering; ties (only
    possible through rounding) break by id.
    """
    u = (h60(F.concat(F.lit(f"{salt}|"), F.col(id_col).cast("string"))) + 1) / F.lit(
        _H60_SPACE_F
    )
    key = round_to(-F.log(u) / F.col(weight_col).cast("double"), 6)
    return (
        df.where(F.col(weight_col).cast("double") > 0)
        .withColumn("es_key", key)
        .orderBy("es_key", id_col)
        .limit(k)
    )


def weighted_sample_sql(
    table: str, id_col: str, weight_col: str, k: int, salt: str = "wsample",
    select_cols: str = "*",
) -> str:
    """DuckDB twin of :func:`weighted_sample` (same hash → uniform → key)."""
    h = h60_sql(f"{sql_quote(salt + '|')} || CAST({id_col} AS VARCHAR)")
    return f"""
    SELECT {select_cols},
           round(-ln(({h} + 1) / {_H60_SPACE_F:.1f})
                 / CAST({weight_col} AS DOUBLE), 6) AS es_key
    FROM {table}
    WHERE CAST({weight_col} AS DOUBLE) > 0
    ORDER BY es_key, {id_col} LIMIT {k}
    """


def hash_split(
    df: DataFrame,
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
    out_col: str = "split",
) -> DataFrame:
    """Label every row with a split name by cumulative hash-bucket ranges —
    the reproducible train/val/test assignment (weights must sum to 1).

    Order of ``weights`` fixes the bucket ranges, so adding a split at the
    END leaves existing assignments stable.
    """
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    total = sum(weights.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"weights must sum to 1 (got {total})")
    b = _bucket(id_col, salt)
    expr = None
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        cond = b < int(round_half_away(acc * _BUCKETS))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn(out_col, expr)


def hash_split_sql(
    id_col: str,
    weights: dict[str, float] | None = None,
    salt: str = "split",
) -> str:
    """DuckDB CASE expression twin of :func:`hash_split`'s label column."""
    weights = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    b = _bucket_sql(id_col, salt)
    parts = []
    acc = 0.0
    names = list(weights)
    for name in names[:-1]:
        acc += weights[name]
        parts.append(f"WHEN {b} < {int(round_half_away(acc * _BUCKETS))} THEN '{name}'")
    return f"(CASE {' '.join(parts)} ELSE '{names[-1]}' END)"


def target_mix_sample(
    df: DataFrame,
    group_col: str,
    weights: dict[str, float],
    id_col: str,
    salt: str = "mix",
) -> DataFrame:
    """Downsample per group so the output's group shares approximate
    ``weights`` (the domain-mixing step of training-data pipelines: "60%
    web, 20% code, 20% books") while keeping as much data as possible.

    The binding group sets the scale: ``scale = min_g(n_g / w_g)`` over
    groups named in ``weights`` (others are dropped), each group's target is
    ``floor(scale · w_g)``, and a row survives iff
    ``bucket(id) · n_g < target_g · 1e6`` — the same salted-hash bucket as
    :func:`hash_sample`, so selection is deterministic under reruns and
    repartitioning, and the comparison is integer-exact across engines.

    Plan: one tiny per-group count aggregation, a broadcast of the
    (groups × targets) dim back onto the fact table, then a map-side
    filter — the fact table never shuffles. Lazy end-to-end: the scale
    scalar rides in via a broadcast cross join, not a collect.
    """
    if not weights:
        raise ValueError("weights must name at least one group")
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    wcol = F.lit(None).cast("double")
    for g, w in weights.items():
        wcol = F.when(F.col(group_col) == g, F.lit(float(w))).otherwise(wcol)
    cw = counts.withColumn("__w", wcol).where(
        F.col("__w").isNotNull() & (F.col("__w") > 0)
    )
    scale = cw.agg(F.min(F.col("__n") / F.col("__w")).alias("__scale"))
    targets = (
        cw.crossJoin(F.broadcast(scale))
        .withColumn(
            "__target", F.floor(F.col("__scale") * F.col("__w")).cast("long")
        )
        .select(group_col, "__n", "__target")
    )
    keep = _bucket(id_col, salt) * F.col("__n") < F.col("__target") * F.lit(
        _BUCKETS
    )
    return (
        df.join(F.broadcast(targets), group_col)
        .where(keep)
        .drop("__n", "__target")
    )


def target_mix_sample_sql(
    table: str,
    group_col: str,
    weights: dict[str, float],
    id_col: str,
    salt: str = "mix",
) -> str:
    """DuckDB twin of :func:`target_mix_sample` (identical integer keep
    rule; float scale/floor use the same IEEE double ops in both engines)."""
    vals = ", ".join(f"('{g}', {float(w)})" for g, w in weights.items())
    b = _bucket_sql(f"d.{id_col}", salt)
    return f"""
    WITH counts AS (
        SELECT {group_col} AS grp, count(*) AS n FROM {table} GROUP BY 1
    ), w(grp, wt) AS (VALUES {vals}),
    cw AS (
        SELECT counts.grp, n, wt FROM counts JOIN w USING (grp) WHERE wt > 0
    ), s AS (SELECT min(n / wt) AS scale FROM cw),
    t AS (
        SELECT grp, n, CAST(floor(scale * wt) AS BIGINT) AS target
        FROM cw CROSS JOIN s
    )
    SELECT d.*
    FROM {table} d JOIN t ON d.{group_col} = t.grp
    WHERE {b} * t.n < t.target * {_BUCKETS}
    """


def hash_topk_per_group(
    df: DataFrame, group_cols: list[str], k: int, id_col: str
) -> DataFrame:
    """Deterministic ``k``-row downsample per group: the rows with the
    smallest salted id hash (ties by id). A reproducible, engine-portable
    stand-in for per-stratum random sampling — one window shuffle keyed by
    the group, no global sort."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(
        _bucket(id_col, "topk").asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def hash_topk_per_group_sql(
    table: str, group_cols: list[str], k: int, id_col: str
) -> str:
    """DuckDB twin of :func:`hash_topk_per_group` (returns all columns)."""
    g = ", ".join(group_cols)
    b = _bucket_sql(id_col, "topk")
    return f"""
    SELECT * EXCLUDE (__rn) FROM (
      SELECT *, row_number() OVER (
        PARTITION BY {g} ORDER BY {b}, {id_col}
      ) AS __rn
      FROM {table}
    ) WHERE __rn <= {k}
    """


def dsir_importance(
    df: DataFrame, text_col: str, id_col: str, target_cond: str
) -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023,
    arXiv:2302.03169 — public paper), unigram instantiation: per-document
    log importance weight ``ln(p_target(doc) / p_source(doc))`` under
    add-one-smoothed unigram LMs, where the target LM is estimated from
    the subset of ``df`` satisfying ``target_cond`` (a SQL boolean
    expression over the document's columns) and the source LM from the
    whole corpus. Documents resembling the target domain score high;
    downstream selection is ``ORDER BY log_weight`` or a weighted
    hash-sample.

    Plan: ONE token explode feeds both LMs (the target flag rides along
    each token), one hash agg builds the joint (source_count, target_count)
    vocabulary, one single-row scalar collect (S, T, V), then the rounded
    per-token log-ratio joins back onto the token stream and aggregates per
    doc. Both shuffles are keyed by token / doc id; the vocabulary join is
    left to Catalyst (broadcast when small, shuffle + AQE skew-splitting on
    hot stopword tokens at corpus scale).
    """
    from ..functions.text import tokens

    tok = df.select(
        F.col(id_col).alias("__id"),
        F.coalesce(F.expr(target_cond), F.lit(False))
        .cast("long")
        .alias("__tgt"),
        tokens(F.col(text_col)).alias("__tk"),
    ).select("__id", "__tgt", F.explode("__tk").alias("t"))
    vocab = tok.groupBy("t").agg(
        F.count(F.lit(1)).alias("c_s"), F.sum("__tgt").alias("c_t")
    )
    s_tot, t_tot, v_size = vocab.agg(
        F.sum("c_s"), F.sum("c_t"), F.count(F.lit(1))
    ).first()
    # Per-token log-ratio in integer MICRO-units: rounding to 6 decimals then
    # scaling to a long makes the per-doc sum exact and fold-order-free —
    # a double sum rounded to 4 decimals can flip its last digit between
    # engines when a doc's true sum sits on a .00005 knife edge (observed).
    lr = F.log((F.col("c_t") + 1) / F.lit(float(t_tot + v_size))) - F.log(
        (F.col("c_s") + 1) / F.lit(float(s_tot + v_size))
    )
    ratio = vocab.select(
        "t", to_fixed(round_to(lr, 6), 6).alias("__r")
    )
    return (
        tok.join(ratio, "t")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            round_to(from_fixed(F.sum("__r"), 6), 4).alias("log_weight"),
        )
        .select(F.col("__id").alias(id_col), "n_tokens", "log_weight")
    )


def dsir_importance_sql(
    table: str, text_col: str, id_col: str, target_cond: str
) -> str:
    """DuckDB twin of :func:`dsir_importance` (identical smoothing and
    per-token rounding so the float sums agree)."""
    from ..functions.text import tokens_sql

    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (
      SELECT {id_col} AS __id,
             CAST(coalesce({target_cond}, false) AS BIGINT) AS __tgt,
             unnest({toks}) AS t
      FROM {table}
    ), vocab AS (
      SELECT t, count(*) AS c_s, sum(__tgt) AS c_t FROM tok GROUP BY t
    ), tot AS (
      SELECT CAST(sum(c_s) AS DOUBLE) AS s,
             CAST(sum(c_t) AS DOUBLE) AS tt,
             CAST(count(*) AS DOUBLE) AS v
      FROM vocab
    ), ratio AS (
      -- integer micro-units: exact, fold-order-free per-doc sums
      SELECT t, CAST(round(round(ln((c_t + 1) / (tot.tt + tot.v))
                                 - ln((c_s + 1) / (tot.s + tot.v)), 6)
                           * 1000000) AS BIGINT) AS r
      FROM vocab CROSS JOIN tot
    )
    SELECT __id AS {id_col}, CAST(count(*) AS BIGINT) AS n_tokens,
           round(CAST(sum(r) AS DOUBLE) / 1000000, 4) AS log_weight
    FROM tok JOIN ratio USING (t) GROUP BY __id
    """


def stratified_sample(
    df: DataFrame,
    stratum_cols: list[str],
    k: int,
    id_col: str,
    oversample: float = 2.5,
    salt: str = "topk",
) -> DataFrame:
    """Scale-hardened :func:`hash_topk_per_group`: exact k rows per
    stratum, chosen by the same salted hash order, WITHOUT ever feeding a
    whole stratum through one window partition.

    Two stages: (1) per-stratum counts broadcast back onto the frame set a
    map-side hash threshold keeping ~``oversample``·k rows per stratum —
    a giant stratum (the window scale-killer) is cut to O(k) BEFORE any
    shuffle; (2) exact row_number over the survivors. The k smallest
    hashes survive stage 1 unless the k-th order statistic of n uniform
    draws exceeds ``oversample``·k/n — vanishing by Chernoff for
    oversample ≥ 2 — so the result provably equals the direct one-stage
    sample (law pinned in tests/test_sampling.py; parity would still hold
    regardless, since the oracle replays both stages).

    Both stages shuffle only O(strata · k) rows; counts aggregate
    map-side. ``salt`` defaults to hash_topk_per_group's so the two are
    interchangeable row-for-row.
    """
    from pyspark.sql import Window

    counts = df.groupBy(*stratum_cols).agg(F.count(F.lit(1)).alias("__n"))
    b = _bucket(id_col, salt)
    thresh = F.least(
        F.lit(_BUCKETS).cast("long"),
        F.floor(
            F.lit(float(oversample * k * _BUCKETS)) / F.col("__n")
        ).cast("long")
        + 1,
    )
    pre = df.join(F.broadcast(counts), stratum_cols).where(b < thresh)
    w = Window.partitionBy(*stratum_cols).orderBy(
        b.asc(), F.col(id_col).asc()
    )
    return (
        pre.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn", "__n")
    )


def stratified_sample_sql(
    table: str,
    stratum_cols: list[str],
    k: int,
    id_col: str,
    oversample: float = 2.5,
    salt: str = "topk",
) -> str:
    """DuckDB twin of :func:`stratified_sample` — identical threshold
    arithmetic and both stages replayed."""
    g = ", ".join(stratum_cols)
    b = _bucket_sql(id_col, salt)
    return f"""
    WITH counts AS (
      SELECT {g}, CAST(count(*) AS BIGINT) AS __n FROM {table} GROUP BY {g}
    ), pre AS (
      SELECT t.*
      FROM {table} t JOIN counts USING ({g})
      WHERE {b} < least(
        CAST({_BUCKETS} AS BIGINT),
        CAST(floor({float(oversample * k * _BUCKETS)} / __n) AS BIGINT) + 1
      )
    )
    SELECT * EXCLUDE (__rn) FROM (
      SELECT *, row_number() OVER (
        PARTITION BY {g} ORDER BY {b}, {id_col}
      ) AS __rn
      FROM pre
    ) WHERE __rn <= {k}
    """


# Poisson(1) CDF thresholds for the deterministic bootstrap draw: a row
# contributes k copies to a replicate iff the PRF uniform falls in
# [T[k-1], T[k]); mass beyond k=9 (~1.1e-6) truncates to 9 — a declared,
# cross-engine-identical approximation of the Poisson bootstrap.
_POIS1_CDF = [
    0.367879441171442, 0.735758882342885, 0.919698602928606,
    0.981011843123846, 0.996340153172656, 0.999405815182418,
    0.999916758850712, 0.999989750803325, 0.999998874797402,
]


def _pois1_weight(u):
    """CASE ladder mapping a uniform to a Poisson(1) draw (0..9)."""
    from pyspark.sql import functions as F

    expr = F.lit(9)
    for k in range(len(_POIS1_CDF) - 1, -1, -1):
        expr = F.when(u < F.lit(_POIS1_CDF[k]), F.lit(k)).otherwise(expr)
    return expr


def _pois1_weight_sql(u_expr: str) -> str:
    arms = " ".join(
        f"WHEN {u_expr} < CAST({t!r} AS DOUBLE) THEN {k}"
        for k, t in enumerate(_POIS1_CDF)
    )
    return f"(CASE {arms} ELSE 9 END)"


def bootstrap_mean_ci(
    df: "DataFrame",
    value_col: str,
    id_col: str,
    n_replicates: int = 200,
    salt: str = "",
    alpha: float = 0.05,
    hash_fn: str = "md5",
) -> "DataFrame":
    """Percentile bootstrap confidence interval for the mean via the
    POISSON bootstrap (Hanley & MacGibbon 2006; Efron 1979's resample
    re-expressed for distributed data): instead of sampling n rows with
    replacement — which needs global coordination — every row
    independently contributes ``Poisson(1)`` copies to each replicate.
    Replicate weights come from a KEYED PRF (salted portable hash of
    (row id, replicate)), so the procedure is deterministic,
    re-runnable, and cross-engine testable — the q174 DP-noise
    convention applied to resampling.

    Exactness: replicate sums fold integer micro-units (value * 1e6
    rounded to BIGINT, times the integer weight); each replicate mean
    is ONE division; the CI bounds are EXACT order statistics of the
    R replicate means (rank ``ceil(alpha/2 * R)`` and
    ``R + 1 - ceil(alpha/2 * R)``, 1-indexed — no interpolation, so no
    float quantile ambiguity across engines).

    Scale: rows explode x R (the bootstrap's inherent cost — R is the
    knob; 200 replicates of a 100 TB table is 200 map-side passes worth
    of work but ZERO extra shuffle width: the only exchange is the
    R-row replicate aggregation). The order-statistic window runs over
    the R-row frame. NULL values are excluded (the mean's semantics).

    Output one row: ``(n_rows, n_replicates, mean_point, ci_lo, ci_hi)``
    with the point estimate = the plain mean, all rounded 6.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    if not (0.0 < alpha < 1.0):
        raise ValueError("bootstrap_mean_ci: alpha must be in (0, 1)")
    if n_replicates < 2:
        raise ValueError("bootstrap_mean_ci: need >= 2 replicates")
    from ..functions.hashing import h60

    v = F.col(value_col)
    nn = df.where(v.isNotNull()).select(
        F.col(id_col).cast("string").alias("__id"),
        to_fixed(v.cast("double"), 6).alias("__vm"),
    )
    # the q87 lesson: a single-row-group source feeds ONE task, and the
    # R-fold explode + per-(row, rep) hash then runs on one core until
    # the replicate shuffle — spread the staged rows first (no-op when
    # the scan is already well-split)
    from ..io import rebalance_undersplit

    reps = rebalance_undersplit(nn).select(
        "__id", "__vm",
        F.explode(
            F.sequence(F.lit(0), F.lit(n_replicates - 1))
        ).alias("__r"),
    )
    if hash_fn == "md5":
        base = h60(
            F.concat_ws(
                "|", F.col("__id"), F.col("__r").cast("string"),
                F.lit(salt),
            )
        )
    elif hash_fn == "xxhash64":
        # production tier (no DuckDB twin): JVM xxhash64, ~10x cheaper
        # than the portable md5 path — the repo-wide hash_fn convention
        base = F.abs(
            F.xxhash64(F.col("__id"), F.col("__r"), F.lit(salt))
        )
    else:
        raise ValueError("bootstrap_mean_ci: hash_fn must be md5|xxhash64")
    u = (
        F.pmod(base, F.lit(1 << 52)).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 52))
    # stage the Poisson draw ONCE: the weight feeds two aggregates, and
    # an unstaged expression re-evaluates the hash per reference
    # (measured 24s -> ~12s at 100 replicates x 150k rows)
    staged = reps.select(
        "__r", "__vm", _pois1_weight(u).cast("long").alias("__w")
    )
    per_rep = staged.groupBy("__r").agg(
        F.sum(F.col("__w") * F.col("__vm")).alias("__s"),
        F.sum("__w").alias("__n"),
    )
    mean_rep = per_rep.select(
        "__r",
        F.when(
            F.col("__n") > 0,
            from_fixed(F.col("__s"), 6)
            / F.col("__n").cast("double"),
        ).alias("__m"),
    ).where(F.col("__m").isNotNull())
    k_lo = math.ceil(alpha / 2 * n_replicates)
    k_lo = max(1, min(k_lo, n_replicates))
    wr = Window.orderBy(F.col("__m").asc(), F.col("__r").asc())
    ranked = mean_rep.withColumn("__rk", F.row_number().over(wr))
    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    bounds = ranked.withColumn("__R", F.count(F.lit(1)).over(w_all)).where(
        (F.col("__rk") == k_lo) | (F.col("__rk") == F.col("__R") + 1 - k_lo)
    )
    point = nn.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        round_to(
            from_fixed(F.sum("__vm"), 6)
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("mean_point"),
    )
    ci = bounds.agg(
        round_to(F.min("__m"), 6).alias("ci_lo"),
        round_to(F.max("__m"), 6).alias("ci_hi"),
    )
    return point.crossJoin(F.broadcast(ci)).select(
        "n_rows",
        F.lit(n_replicates).cast("int").alias("n_replicates"),
        "mean_point",
        "ci_lo",
        "ci_hi",
    )


def bootstrap_mean_ci_sql(
    table_expr: str,
    value_col: str,
    id_col: str,
    n_replicates: int = 200,
    salt: str = "",
    alpha: float = 0.05,
) -> str:
    """DuckDB twin of :func:`bootstrap_mean_ci` — identical PRF draws,
    Poisson ladder, integer folds, and exact order-statistic bounds."""
    from ..functions.hashing import h60_sql

    h = h60_sql(
        f"CAST({id_col} AS VARCHAR) || '|' || CAST(__r AS VARCHAR)"
        f" || '|{salt}'"
    )
    u = f"((CAST(({h}) % {1 << 52} AS DOUBLE) + 0.5) / {float(1 << 52)!r})"
    wexpr = _pois1_weight_sql(u)
    k_lo = max(1, min(math.ceil(alpha / 2 * n_replicates), n_replicates))
    return f"""
    WITH nn AS (
        SELECT CAST({id_col} AS VARCHAR) AS {id_col},
               CAST(round(CAST({value_col} AS DOUBLE) * 1000000, 0)
                    AS BIGINT) AS __vm
        FROM ({table_expr}) WHERE {value_col} IS NOT NULL
    ), reps AS (
        SELECT nn.*, r.__r
        FROM nn CROSS JOIN (
            SELECT range AS __r FROM range(0, {n_replicates})
        ) r
    ), staged AS (
        SELECT __r, __vm, CAST({wexpr} AS BIGINT) AS __w FROM reps
    ), per_rep AS (
        SELECT __r,
               CAST(sum(__w * __vm) AS BIGINT) AS __s,
               CAST(sum(__w) AS BIGINT) AS __n
        FROM staged GROUP BY __r
    ), means AS (
        SELECT __r,
               CAST(__s AS DOUBLE) / 1e6 / CAST(__n AS DOUBLE) AS __m
        FROM per_rep WHERE __n > 0
    ), ranked AS (
        SELECT __m,
               row_number() OVER (ORDER BY __m ASC, __r ASC) AS __rk,
               count(*) OVER () AS __R
        FROM means
    ), ci AS MATERIALIZED (
        SELECT round(min(__m), 6) AS ci_lo, round(max(__m), 6) AS ci_hi
        FROM ranked
        WHERE __rk = {k_lo} OR __rk = __R + 1 - {k_lo}
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST({n_replicates} AS INT) AS n_replicates,
           round(CAST(sum(__vm) AS BIGINT) / 1e6
                 / CAST(count(*) AS DOUBLE), 6) AS mean_point,
           (SELECT ci_lo FROM ci) AS ci_lo,
           (SELECT ci_hi FROM ci) AS ci_hi
    FROM nn
    """


def neyman_allocation_sample(
    df: DataFrame,
    stratum_col: str,
    value_col: str,
    id_col: str,
    n_total: int,
    oversample: float = 2.5,
    salt: str = "neyman",
) -> DataFrame:
    """Optimal (Neyman 1934) stratified sample allocation + the draw
    itself, summarized per stratum — the survey-sampling upgrade of the
    equal-k stratified sample (q109): a fixed budget ``n_total`` is
    split proportionally to ``N_h * sd_h``, so high-variance strata get
    more rows and a constant stratum can get zero.

    Allocation is the LARGEST-REMAINDER method on micro-unit integer
    shares (ties break by ascending stratum key) — bit-deterministic,
    no float accumulation; an allocation larger than the stratum is
    capped at N_h (stated; the surplus is NOT redistributed). The draw
    is the q109 two-stage salted-hash order (map-side threshold keeps
    ~oversample*n_h rows, exact row_number over survivors), so no
    stratum ever funnels through one window partition.

    Returns one row per stratum: ``(stratum, n_pop, sd, n_alloc,
    n_sampled, id_checksum)`` — ``id_checksum`` is the BIGINT sum of
    sampled ids, pinning the exact drawn set cross-engine.

    Exactness: per-stratum moments fold exact integer cents
    (DECIMAL(38)/HUGEINT); sd is one sqrt of one division; shares are
    micro-rounded BIGINT before the integer largest-remainder split.
    """
    from pyspark.sql import Window

    cents = to_fixed(F.col(value_col).cast("double"), 2, wide=True)
    stats = (
        df.where(F.col(value_col).isNotNull())
        .select(F.col(stratum_col).alias("__st"), cents.alias("__c"))
        .groupBy("__st")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__c").alias("__s"),
            F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
        )
    )
    nn = F.col("__n").cast("decimal(38,0)")
    var_num = nn * F.col("__ss") - F.col("__s") * F.col("__s")
    sd = F.when(
        F.col("__n") > 1,
        from_fixed(
            F.sqrt(
                var_num.cast("double")
                / (nn * (nn - 1)).cast("double")
            ),
            2,
        ),
    ).otherwise(F.lit(0.0))
    shares = stats.select(
        "__st",
        "__n",
        sd.alias("__sd"),
        to_fixed(F.col("__n").cast("double") * sd, 6).alias("__sh"),
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # largest-remainder split of n_total over micro-unit shares
    alloc = shares.select(
        "__st",
        "__n",
        "__sd",
        "__sh",
        F.sum("__sh").over(tot).cast("bigint").alias("__shtot"),
    ).select(
        "__st",
        "__n",
        "__sd",
        # exact integer division (Spark's / on BIGINT is DOUBLE
        # division and loses exactness above 2^53; `div` matches
        # DuckDB's //)
        F.when(
            F.col("__shtot") > 0,
            F.expr(f"(CAST({n_total} AS BIGINT) * __sh) div __shtot"),
        )
        .cast("bigint")
        .alias("__base"),
        F.when(
            F.col("__shtot") > 0,
            (F.lit(n_total) * F.col("__sh")).cast("bigint")
            % F.col("__shtot"),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("__frac"),
    )
    wrem = Window.orderBy(F.col("__frac").desc(), F.col("__st").asc())
    alloc2 = alloc.select(
        "__st",
        "__n",
        "__sd",
        "__base",
        F.row_number().over(wrem).alias("__rr"),
        (
            F.lit(n_total)
            - F.sum("__base").over(tot).cast("bigint")
        ).alias("__rem"),
    ).select(
        "__st",
        "__n",
        "__sd",
        F.least(
            F.col("__n"),
            F.col("__base")
            + F.when(F.col("__rr") <= F.col("__rem"), 1).otherwise(0),
        )
        .cast("bigint")
        .alias("__k"),
    )
    b = _bucket(id_col, salt)
    pre = (
        df.where(F.col(value_col).isNotNull())
        .join(
            F.broadcast(alloc2),
            F.col(stratum_col) == F.col("__st"),
        )
        .where(
            (F.col("__k") > 0)
            & (
                b
                < F.least(
                    F.lit(_BUCKETS).cast("long"),
                    F.floor(
                        F.lit(float(oversample * _BUCKETS))
                        * F.col("__k").cast("double")
                        / F.col("__n").cast("double")
                    ).cast("long")
                    + 1,
                )
            )
        )
    )
    w = Window.partitionBy("__st").orderBy(b.asc(), F.col(id_col).asc())
    picked = pre.withColumn("__rn", F.row_number().over(w)).where(
        F.col("__rn") <= F.col("__k")
    )
    drawn = picked.groupBy("__st").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum(F.col(id_col).cast("bigint"))
        .cast("bigint")
        .alias("id_checksum"),
    )
    return (
        alloc2.join(drawn, "__st", "left")
        .select(
            F.col("__st").alias("stratum"),
            F.col("__n").alias("n_pop"),
            round_to(F.col("__sd"), 6).alias("sd"),
            F.col("__k").alias("n_alloc"),
            F.coalesce(F.col("n_sampled"), F.lit(0))
            .cast("bigint")
            .alias("n_sampled"),
            F.coalesce(F.col("id_checksum"), F.lit(0))
            .cast("bigint")
            .alias("id_checksum"),
        )
    )


def neyman_allocation_sample_sql(
    table: str,
    stratum_col: str,
    value_col: str,
    id_col: str,
    n_total: int,
    oversample: float = 2.5,
    salt: str = "neyman",
) -> str:
    """DuckDB twin of :func:`neyman_allocation_sample` — identical
    moment folds, micro-share largest-remainder split, threshold and
    hash-order draw."""
    b = _bucket_sql(id_col, salt)
    return f"""
    WITH __stats AS (
        SELECT {stratum_col} AS __st,
               CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(CAST(round(CAST({value_col} AS DOUBLE) * 100,
                             0) AS HUGEINT)) AS HUGEINT) AS __s,
               CAST(sum(CAST(round(CAST({value_col} AS DOUBLE) * 100,
                             0) AS HUGEINT)
                        * CAST(round(CAST({value_col} AS DOUBLE)
                               * 100, 0) AS HUGEINT)) AS HUGEINT)
                   AS __ss
        FROM {table} WHERE {value_col} IS NOT NULL
        GROUP BY 1
    ), __shares AS (
        SELECT __st, __n,
               CASE WHEN __n > 1 THEN
                    sqrt(CAST(CAST(__n AS HUGEINT) * __ss - __s * __s
                              AS DOUBLE)
                         / CAST(CAST(__n AS HUGEINT)
                                * (CAST(__n AS HUGEINT) - 1)
                                AS DOUBLE)) / CAST(100 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS __sd
        FROM __stats
    ), __sh AS (
        SELECT *, CAST(round(CAST(__n AS DOUBLE) * __sd * 1e6, 0)
                       AS BIGINT) AS __shv,
               CAST(sum(CAST(round(CAST(__n AS DOUBLE) * __sd * 1e6,
                             0) AS BIGINT)) OVER () AS BIGINT)
                   AS __shtot
        FROM __shares
    ), __alloc AS (
        SELECT __st, __n, __sd,
               CASE WHEN __shtot > 0 THEN
                    ({n_total} * __shv) // __shtot ELSE 0 END AS __base,
               CASE WHEN __shtot > 0 THEN
                    ({n_total} * __shv) % __shtot ELSE 0 END AS __frac
        FROM __sh
    ), __alloc2 AS (
        SELECT __st, __n, __sd,
               CAST(least(__n, __base
                    + CASE WHEN row_number() OVER (ORDER BY __frac
                               DESC, __st ASC)
                           <= {n_total}
                              - CAST(sum(__base) OVER () AS BIGINT)
                           THEN 1 ELSE 0 END) AS BIGINT) AS __k
        FROM __alloc
    ), __pre AS (
        SELECT t.{id_col} AS __id, a.__st, a.__k,
               {b} AS __b
        FROM {table} t JOIN __alloc2 a ON t.{stratum_col} = a.__st
        WHERE t.{value_col} IS NOT NULL AND a.__k > 0
          AND {b} < least(CAST({_BUCKETS} AS BIGINT),
                CAST(floor({float(oversample * _BUCKETS)}
                     * CAST(a.__k AS DOUBLE)
                     / CAST(a.__n AS DOUBLE)) AS BIGINT) + 1)
    ), __picked AS (
        SELECT __st, __id FROM (
            SELECT __st, __id, __k,
                   row_number() OVER (PARTITION BY __st
                       ORDER BY __b, __id) AS __rn
            FROM __pre
        ) WHERE __rn <= __k
    ), __drawn AS (
        SELECT __st, CAST(count(*) AS BIGINT) AS n_sampled,
               CAST(sum(CAST(__id AS BIGINT)) AS BIGINT)
                   AS id_checksum
        FROM __picked GROUP BY 1
    )
    SELECT a.__st AS stratum, a.__n AS n_pop,
           round(a.__sd * 1e6, 0) / 1e6 AS sd,
           a.__k AS n_alloc,
           CAST(COALESCE(d.n_sampled, 0) AS BIGINT) AS n_sampled,
           CAST(COALESCE(d.id_checksum, 0) AS BIGINT) AS id_checksum
    FROM __alloc2 a LEFT JOIN __drawn d ON a.__st = d.__st
    """


def rake_weights(
    sample: DataFrame,
    population: DataFrame,
    row_col: str,
    col_col: str,
    sweeps: int = 4,
) -> DataFrame:
    """Survey raking / iterative proportional fitting (Deming &
    Stephan 1940): calibrate the SAMPLE's (row, col) cell weights so
    its weighted margins match the POPULATION's row and column
    totals — the post-stratification fix when only the margins are
    known (the full population cell grid may be unobservable).

    One sweep = a row pass then a column pass; each pass rescales
    every cell by target_margin / current_weighted_margin.

    Cross-engine discipline: weights live as MICRO-UNIT INTEGERS
    (1e6 = weight 1). A pass computes the weighted margin
    T = sum(n_cell * w_micro) as an exact BIGINT, then

        w' = floor( CAST(w AS DOUBLE) * (N_target * 1e6 / T) )

    — the factor is a division of identical exact integers and the
    product stays far below 2^53, so both engines floor the same
    double and the whole chain is bit-deterministic.

    Returns the cell table ``(row, col, n_sample, weight,
    weighted_count)`` (weight = w_micro/1e6, round-6) ordered by
    (row, col); cells absent from the sample get no weight (their
    mass redistributes — the standard raking behavior).

    Scale: two group-by aggs build the cell grid and the margin
    targets (rows x cols cells — a CATEGORY grid, never data-sized);
    the sweeps iterate windows over that broadcast-small grid, staging
    the grid once per sweep.
    """
    from pyspark.sql import Window

    cells = stage(
        sample.groupBy(
            F.col(row_col).alias("__r"), F.col(col_col).alias("__c")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
        .withColumn("__w", F.lit(1_000_000).cast("bigint"))
    )
    rowm = population.groupBy(F.col(row_col).alias("__r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nr")
    )
    colm = population.groupBy(F.col(col_col).alias("__c")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__nc")
    )
    wr = Window.partitionBy("__r")
    wc = Window.partitionBy("__c")
    for _ in range(sweeps):
        cells = (
            cells.join(F.broadcast(rowm), "__r")
            .withColumn(
                "__t",
                F.sum(F.col("__n") * F.col("__w")).over(wr),
            )
            .select(
                "__r",
                "__c",
                "__n",
                F.floor(
                    F.col("__w").cast("double")
                    * (
                        F.col("__nr").cast("double")
                        * F.lit(1e6)
                        / F.col("__t").cast("double")
                    )
                )
                .cast("bigint")
                .alias("__w"),
            )
        )
        cells = stage(
            cells.join(F.broadcast(colm), "__c")
            .withColumn(
                "__t",
                F.sum(F.col("__n") * F.col("__w")).over(wc),
            )
            .select(
                "__r",
                "__c",
                "__n",
                F.floor(
                    F.col("__w").cast("double")
                    * (
                        F.col("__nc").cast("double")
                        * F.lit(1e6)
                        / F.col("__t").cast("double")
                    )
                )
                .cast("bigint")
                .alias("__w"),
            )
        )
    return cells.select(
        F.col("__r").alias("row_key"),
        F.col("__c").alias("col_key"),
        F.col("__n").alias("n_sample"),
        round_to(from_fixed(F.col("__w"), 6), 6).alias("weight"),
        round_to(
            F.col("__n").cast("double")
            * F.col("__w").cast("double")
            / F.lit(1e6),
            6,
        ).alias("weighted_count"),
    ).orderBy("row_key", "col_key")


def rake_weights_sql(
    sample_expr: str,
    population_expr: str,
    row_col: str,
    col_col: str,
    sweeps: int = 4,
) -> str:
    """DuckDB twin of :func:`rake_weights` — identical micro-unit
    floors, margins and sweep order, unrolled MATERIALIZED CTEs."""
    parts = [f"""
    WITH __cells0 AS MATERIALIZED (
        SELECT {row_col} AS __r, {col_col} AS __c,
               CAST(count(*) AS BIGINT) AS __n,
               CAST(1000000 AS BIGINT) AS __w
        FROM ({sample_expr}) GROUP BY 1, 2
    ), __rowm AS MATERIALIZED (
        SELECT {row_col} AS __r, CAST(count(*) AS BIGINT) AS __nr
        FROM ({population_expr}) GROUP BY 1
    ), __colm AS MATERIALIZED (
        SELECT {col_col} AS __c, CAST(count(*) AS BIGINT) AS __nc
        FROM ({population_expr}) GROUP BY 1
    )"""]
    prev = "__cells0"
    for s in range(1, sweeps + 1):
        parts.append(f"""
    , __rw{s} AS MATERIALIZED (
        SELECT p.__r, p.__c, p.__n,
               CAST(floor(CAST(p.__w AS DOUBLE)
                    * (CAST(m.__nr AS DOUBLE) * 1e6
                       / CAST(t.__t AS DOUBLE))) AS BIGINT) AS __w
        FROM {prev} p
        JOIN __rowm m ON m.__r = p.__r
        JOIN (SELECT __r, CAST(sum(__n * __w) AS BIGINT) AS __t
              FROM {prev} GROUP BY 1) t ON t.__r = p.__r
    ), __cw{s} AS MATERIALIZED (
        SELECT p.__r, p.__c, p.__n,
               CAST(floor(CAST(p.__w AS DOUBLE)
                    * (CAST(m.__nc AS DOUBLE) * 1e6
                       / CAST(t.__t AS DOUBLE))) AS BIGINT) AS __w
        FROM __rw{s} p
        JOIN __colm m ON m.__c = p.__c
        JOIN (SELECT __c, CAST(sum(__n * __w) AS BIGINT) AS __t
              FROM __rw{s} GROUP BY 1) t ON t.__c = p.__c
    )""")
        prev = f"__cw{s}"
    return (
        "".join(parts)
        + f"""
    SELECT __r AS row_key, __c AS col_key, __n AS n_sample,
           round(CAST(__w AS DOUBLE) / 1e6 * 1e6, 0) / 1e6 AS weight,
           round(CAST(__n AS DOUBLE) * CAST(__w AS DOUBLE) / 1e6
                 * 1e6, 0) / 1e6 AS weighted_count
    FROM {prev} ORDER BY row_key, col_key
    """
    )


def group_jackknife(
    df: "DataFrame",
    group_col: str,
    value_col: str,
) -> "DataFrame":
    """Leave-one-GROUP-out (delete-a-group) jackknife of the mean
    (Quenouille 1956 / Tukey 1958; the grouped form survey statistics
    and data-ablation studies use) — "which SOURCE moves the corpus
    metric, and what is the uncertainty of the whole thing once
    group-level correlation is respected":

        theta_(g)  = mean over all rows OUTSIDE group g
        pseudo_g   = G * theta - (G - 1) * theta_(g)
        se_jack    = sqrt( (G-1)/G * sum_g (theta_(g) - thetabar_.)^2 )

    with G the group count and ``thetabar_.`` the mean of the
    leave-one-out estimates. ``influence_g = theta - theta_(g)`` is the
    signed per-group ablation effect (positive: the group PULLS the
    metric up).

    Scale design: leave-one-out estimates come from GLOBAL-MINUS-GROUP
    algebra over exact integer folds — one micro-unit hash agg per
    group plus one global fold, NO per-group re-scan, nothing
    data-sized after the agg. The jackknife variance folds
    pico-rounded squared deviations over the G-row frame (exact
    integers, order-free).

    Exactness: values stage as micro-unit BIGINTs (one rounding per
    row); every theta is a single division of exact integers, rounded
    6 only on OUTPUT; the variance terms round to pico-unit BIGINTs
    before the G-row sum; identical expression text both engines.

    Returns one row per group, ordered:
    ``(group, n_rows, theta_loo, influence, pseudo_value, se_jack)``
    — ``se_jack`` (and the global mean inside ``influence``) repeat on
    every row, the grouped-readout convention.
    """
    from pyspark.sql import functions as F

    vm = to_fixed(F.col(value_col).cast("double"), 6)
    staged = df.where(
        F.col(value_col).isNotNull() & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("grp"), vm.alias("__vm"))
    # the G-row frame feeds FOUR chained broadcast-scalar subtrees (tot,
    # mean_loo, var, final) — without a checkpoint each broadcast
    # re-executes the full data-sized agg (measured r12: 16 source scans
    # in the q283 plan, the staged quality_score expression 16x).
    # Staging makes the data pass a one-scan guarantee; the staged
    # frame is G rows, never the raw data.
    per_g = stage(staged.groupBy("grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__vm").cast("bigint").alias("__s"),
    ))
    tot = per_g.agg(
        F.sum("__n").cast("bigint").alias("__nt"),
        F.sum("__s").cast("bigint").alias("__st"),
        F.count(F.lit(1)).cast("bigint").alias("__g"),
    )
    loo = per_g.crossJoin(F.broadcast(tot)).select(
        "grp",
        "__n",
        "__g",
        (
            (F.col("__st") - F.col("__s")).cast("double")
            / ((F.col("__nt") - F.col("__n")).cast("double") * F.lit(1e6))
        ).alias("__tl"),
        (
            F.col("__st").cast("double")
            / (F.col("__nt").cast("double") * F.lit(1e6))
        ).alias("__th"),
    )
    # fold-order-free mean of the G leave-one-out estimates: each is
    # nano-rounded once, summed as integers, divided by G
    loo = loo.withColumn(
        "__tln", to_fixed(F.col("__tl"), 9)
    )
    mean_loo = loo.agg(
        (
            F.sum("__tln").cast("double")
            / (F.count(F.lit(1)).cast("double") * F.lit(1e9))
        ).alias("__tbar")
    )
    dev = loo.crossJoin(F.broadcast(mean_loo)).withColumn(
        "__d2",
        to_fixed(
            (F.col("__tl") - F.col("__tbar"))
            * (F.col("__tl") - F.col("__tbar")),
            12,
        ),
    )
    var = dev.agg(
        F.sum("__d2").cast("bigint").alias("__sd2"),
        F.max("__g").alias("__gg"),
    )
    return (
        dev.crossJoin(F.broadcast(var))
        .select(
            F.col("grp").alias(group_col),
            F.col("__n").alias("n_rows"),
            round_to(F.col("__tl"), 6).alias("theta_loo"),
            round_to(F.col("__th") - F.col("__tl"), 6).alias("influence"),
            round_to(
                F.col("__g").cast("double") * F.col("__th")
                - (F.col("__g") - F.lit(1)).cast("double") * F.col("__tl"),
                6,
            ).alias("pseudo_value"),
            round_to(
                F.sqrt(
                    (F.col("__gg") - F.lit(1)).cast("double")
                    / F.col("__gg").cast("double")
                    * from_fixed(F.col("__sd2"), 12)
                ),
                6,
            ).alias("se_jack"),
        )
        .orderBy(group_col)
    )


def group_jackknife_sql(
    table_expr: str, group_col: str, value_col: str
) -> str:
    """DuckDB twin of :func:`group_jackknife` — identical staging
    rounds, global-minus-group algebra and pico-rounded variance
    folds."""
    return f"""
    WITH __st AS (
        SELECT {group_col} AS grp,
               CAST(round(CAST({value_col} AS DOUBLE) * 1e6, 0)
                    AS BIGINT) AS __vm
        FROM ({table_expr})
        WHERE {value_col} IS NOT NULL AND {group_col} IS NOT NULL
    ), __pg AS (
        SELECT grp, CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__vm) AS BIGINT) AS __s
        FROM __st GROUP BY 1
    ), __tot AS (
        SELECT CAST(sum(__n) AS BIGINT) AS __nt,
               CAST(sum(__s) AS BIGINT) AS __st,
               CAST(count(*) AS BIGINT) AS __g
        FROM __pg
    ), __loo AS (
        SELECT p.grp, p.__n, t.__g,
               CAST(t.__st - p.__s AS DOUBLE)
                 / (CAST(t.__nt - p.__n AS DOUBLE) * 1e6) AS __tl,
               CAST(t.__st AS DOUBLE)
                 / (CAST(t.__nt AS DOUBLE) * 1e6) AS __th
        FROM __pg p CROSS JOIN __tot t
    ), __m AS (
        SELECT CAST(sum(CAST(round(__tl * 1e9, 0) AS BIGINT)) AS DOUBLE)
               / (CAST(count(*) AS DOUBLE) * 1e9) AS __tbar
        FROM __loo
    ), __dev AS (
        SELECT l.*,
               CAST(round((l.__tl - m.__tbar) * (l.__tl - m.__tbar)
                          * 1e12, 0) AS BIGINT) AS __d2
        FROM __loo l CROSS JOIN __m m
    ), __v AS (
        SELECT CAST(sum(__d2) AS BIGINT) AS __sd2,
               CAST(max(__g) AS BIGINT) AS __gg
        FROM __dev
    )
    SELECT d.grp AS {group_col},
           d.__n AS n_rows,
           round(d.__tl * 1e6, 0) / 1e6 AS theta_loo,
           round((d.__th - d.__tl) * 1e6, 0) / 1e6 AS influence,
           round((CAST(d.__g AS DOUBLE) * d.__th
                  - CAST(d.__g - 1 AS DOUBLE) * d.__tl) * 1e6, 0) / 1e6
               AS pseudo_value,
           round(sqrt(CAST(v.__gg - 1 AS DOUBLE)
                      / CAST(v.__gg AS DOUBLE)
                      * (CAST(v.__sd2 AS DOUBLE) / 1e12)) * 1e6, 0)
               / 1e6 AS se_jack
    FROM __dev d CROSS JOIN __v v
    ORDER BY {group_col}
    """
