"""Cohort retention and funnel analysis over event streams
(beyond-reference; the product-analytics queries every event pipeline
runs — same family as the reference's group statistics, re-expressed for
append-only event tables at scale).

Scale design:
- cohort assignment is one user-keyed aggregation (min event time), never
  a window over raw events;
- activity reduces to DISTINCT (user, period-bucket) BEFORE any join, so
  the retention matrix shuffle is bounded by users x active periods, not
  event volume;
- funnel steps chain user-keyed joins of per-step min-times — each step
  touches only the events of its own type, and conversion ordering is a
  per-user timestamp comparison, not a global sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60, h60_sql
from ..functions.rounding import (
    SCALE,
    from_fixed,
    round_half_away,
    round_to,
    to_fixed,
)
from ..io import rebalance_undersplit
from ..staging import stage, stage_unbounded
from .classifier import (
    _SIGMA_SQL,
    _logreg_chain_sql,
    _ols2_solve,
    _ols2_solve_sql,
    _ols2_sums,
    _ols2_sums_sql,
    _ols2_terms,
    _ols2_terms_sql,
    _sigma,
    logreg_train,
)

from pytrousse_spark.functions.sqlutil import sql_quote

_PERIOD_DAYS = {"day": 1, "week": 7}


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period: str = "week",
) -> DataFrame:
    """Classic cohort-retention matrix: users grouped by the period of
    their FIRST event; for each (cohort, period offset) the fraction of
    the cohort active in that period.

    Returns ``(cohort, period_offset, n_active, cohort_size, retention)``
    with retention rounded to 6. ``period_offset`` 0 always has
    retention 1.0 (the defining law, pinned in tests/test_cohort.py).

    Shuffle budget at 100 TB: one user-keyed agg over events (first
    event), one (user, bucket) DISTINCT (map-side partials collapse
    repeat activity before the exchange), one user-keyed join of the two
    reduced frames, one (cohort, offset) agg over users x periods rows.
    Raw events are never joined or windowed.
    """
    if period not in _PERIOD_DAYS:
        raise ValueError(f"period must be one of {sorted(_PERIOD_DAYS)}")
    div = _PERIOD_DAYS[period]
    first = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.date_trunc(period, F.min(ts_col)).cast("date").alias("cohort")
    )
    act = df.select(
        F.col(user_col).alias("__u"),
        F.date_trunc(period, F.col(ts_col)).cast("date").alias("__bucket"),
    ).distinct()
    sizes = first.groupBy("cohort").agg(F.count(F.lit(1)).alias("cohort_size"))
    grid = (
        act.join(first, "__u")
        .groupBy(
            "cohort",
            (
                F.datediff(F.col("__bucket"), F.col("cohort")) / div
            ).cast("bigint").alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    return (
        grid.join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "period_offset",
            "n_active",
            "cohort_size",
            round_to(F.col("n_active") / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )


def cohort_retention_sql(
    table: str, user_col: str, ts_col: str, period: str = "week"
) -> str:
    """DuckDB twin of :func:`cohort_retention`."""
    div = _PERIOD_DAYS[period]
    return f"""
    WITH first AS (
        SELECT {user_col} AS __u,
               CAST(date_trunc('{period}', min(CAST({ts_col} AS TIMESTAMP))) AS DATE) AS cohort
        FROM {table} GROUP BY 1
    ), act AS (
        SELECT DISTINCT {user_col} AS __u,
               CAST(date_trunc('{period}', CAST({ts_col} AS TIMESTAMP)) AS DATE) AS __bucket
        FROM {table}
    ), sizes AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        FROM first GROUP BY 1
    ), grid AS (
        SELECT f.cohort,
               CAST(datediff('day', f.cohort, a.__bucket) // {div} AS BIGINT)
                   AS period_offset,
               CAST(count(*) AS BIGINT) AS n_active
        FROM act a JOIN first f USING (__u)
        GROUP BY 1, 2
    )
    SELECT g.cohort, g.period_offset, g.n_active, s.cohort_size,
           round(g.n_active / s.cohort_size, 6) AS retention
    FROM grid g JOIN sizes s USING (cohort)
    """


def _funnel_step_frames(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> list[DataFrame]:
    """Per-step (``__u``, ``__t``) conversion frames: step k's earliest
    qualifying event at-or-after the user's step k-1 time. Each frame is
    staged: it has two consumers (the next step's broadcast build and
    the caller's aggregate)."""
    frames: list[DataFrame] = []
    prev: DataFrame | None = None
    for step in steps:
        ev = df.where(F.col(type_col) == step).select(
            F.col(user_col).alias("__u"), F.col(ts_col).alias("__ts")
        )
        if prev is None:
            cur = ev.groupBy("__u").agg(F.min("__ts").alias("__t"))
        else:
            cur = (
                ev.join(prev.select("__u", F.col("__t").alias("__pt")), "__u")
                .where(F.col("__ts") >= F.col("__pt"))
                .groupBy("__u")
                .agg(F.min("__ts").alias("__t"))
            )
        cur = stage(cur)
        frames.append(cur)
        prev = cur
    return frames


def funnel_steps(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
) -> DataFrame:
    """Ordered conversion funnel: a user converts step k only with an
    event of ``steps[k]`` at-or-after their step k-1 conversion time
    (each conversion time = the EARLIEST qualifying event, so the funnel
    is greedy-deterministic).

    Returns one row per step: ``(step_idx, step, n_users, pct_of_first,
    pct_of_prev)`` — counts monotonically non-increasing (law pinned in
    tests/test_cohort.py).

    Each step is one filtered user-keyed min-aggregation joined to the
    previous step's (user, time) frame — step k's shuffle is bounded by
    the events OF THAT TYPE plus converted users, never total volume.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    counts = []
    for k, (step, cur) in enumerate(
        zip(steps, _funnel_step_frames(df, user_col, ts_col, type_col, steps))
    ):
        counts.append(
            cur.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(k + 1).cast("bigint").alias("step_idx"),
                F.lit(step).alias("step"),
                "n_users",
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    # pct columns via a lag/first window over the <= len(steps) result
    # rows — a single-partition window over a step-count frame, never
    # over data
    from pyspark.sql import Window

    w = Window.orderBy("step_idx")
    out = (
        out.withColumn("__n1", F.first("n_users").over(
            w.rowsBetween(Window.unboundedPreceding, 0)
        ))
        .withColumn("__np", F.lag("n_users").over(w))
        .select(
            "step_idx",
            "step",
            "n_users",
            F.when(
                F.col("__n1") > 0,
                round_to(F.col("n_users") / F.col("__n1"), 6),
            ).alias("pct_of_first"),
            F.when(
                F.coalesce(F.col("__np"), F.col("n_users")) > 0,
                round_to(
                    F.col("n_users")
                    / F.coalesce(F.col("__np"), F.col("n_users")),
                    6,
                ),
            ).alias("pct_of_prev"),
        )
    )
    return out


def funnel_steps_sql(
    table: str, user_col: str, ts_col: str, type_col: str, steps: list[str]
) -> str:
    """DuckDB twin of :func:`funnel_steps`. Step CTEs are MATERIALIZED:
    step k is referenced by both step k+1 and its own count, and an
    inlined chain re-evaluates step 1 2^k-fold (the q111 lesson)."""
    ctes = []
    for k, step in enumerate(steps):
        if k == 0:
            body = f"""
        SELECT {user_col} AS __u, min(CAST({ts_col} AS TIMESTAMP)) AS __t
        FROM {table} WHERE {type_col} = '{step}' GROUP BY 1"""
        else:
            body = f"""
        SELECT e.{user_col} AS __u, min(CAST(e.{ts_col} AS TIMESTAMP)) AS __t
        FROM {table} e JOIN s{k} p ON e.{user_col} = p.__u
        WHERE e.{type_col} = '{step}' AND CAST(e.{ts_col} AS TIMESTAMP) >= p.__t
        GROUP BY 1"""
        ctes.append(f"s{k + 1} AS MATERIALIZED ({body}\n    )")
    unions = "\n        UNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS step_idx, '{s}' AS step, "
        f"CAST((SELECT count(*) FROM s{k + 1}) AS BIGINT) AS n_users"
        for k, s in enumerate(steps)
    )
    return f"""
    WITH {", ".join(ctes)},
    counts AS (
        {unions}
    )
    SELECT step_idx, step, n_users,
           CASE WHEN first_value(n_users) OVER w > 0
                THEN round(n_users / first_value(n_users) OVER w, 6) END
               AS pct_of_first,
           CASE WHEN coalesce(lag(n_users) OVER w, n_users) > 0
                THEN round(n_users / coalesce(lag(n_users) OVER w, n_users), 6)
           END AS pct_of_prev
    FROM counts
    WINDOW w AS (ORDER BY step_idx)
    """


def time_to_convert(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    bucket_minutes: list[int] = (30, 60, 180, 720),
) -> DataFrame:
    """Conversion-latency distribution: for users completing the whole
    funnel, minutes from first-step to final-step conversion, bucketed
    into ``<=b0, <=b1, ..., > b_last`` bands.

    One user-keyed join of the first and last step frames (both already
    reduced to one row per user), then a literal CASE ladder — the
    distribution shuffle is bounded by funnel completers x 1. Returns
    ``(bucket, lo_minutes, n_users)`` with ``lo_minutes`` as sort key.
    """
    frames = _funnel_step_frames(df, user_col, ts_col, type_col, steps)
    first = frames[0].select("__u", F.col("__t").alias("__t0"))
    last = frames[-1].select("__u", F.col("__t").alias("__t1"))
    mins = (
        (F.unix_timestamp("__t1") - F.unix_timestamp("__t0")) / 60.0
    ).alias("__m")
    j = first.join(last, "__u").select(mins)
    edges = list(bucket_minutes)
    label = F.when(F.col("__m") <= edges[0], F.lit(f"<= {edges[0]}m"))
    lo = F.when(F.col("__m") <= edges[0], F.lit(0))
    for a, b in zip(edges, edges[1:]):
        label = label.when(F.col("__m") <= b, F.lit(f"{a}-{b}m"))
        lo = lo.when(F.col("__m") <= b, F.lit(a))
    label = label.otherwise(F.lit(f"> {edges[-1]}m"))
    lo = lo.otherwise(F.lit(edges[-1])).cast("bigint")
    return (
        j.select(label.alias("bucket"), lo.alias("lo_minutes"))
        .groupBy("bucket", "lo_minutes")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def time_to_convert_sql(
    table: str,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    bucket_minutes: list[int] = (30, 60, 180, 720),
) -> str:
    """DuckDB twin of :func:`time_to_convert` — same MATERIALIZED step
    chain as :func:`funnel_steps_sql`, same CASE ladder."""
    ctes = []
    for k, step in enumerate(steps):
        if k == 0:
            body = f"""
        SELECT {user_col} AS __u, min(CAST({ts_col} AS TIMESTAMP)) AS __t
        FROM {table} WHERE {type_col} = '{step}' GROUP BY 1"""
        else:
            body = f"""
        SELECT e.{user_col} AS __u, min(CAST(e.{ts_col} AS TIMESTAMP)) AS __t
        FROM {table} e JOIN s{k} p ON e.{user_col} = p.__u
        WHERE e.{type_col} = '{step}' AND CAST(e.{ts_col} AS TIMESTAMP) >= p.__t
        GROUP BY 1"""
        ctes.append(f"s{k + 1} AS MATERIALIZED ({body}\n    )")
    edges = list(bucket_minutes)
    lbl = f"CASE WHEN __m <= {edges[0]} THEN '<= {edges[0]}m'"
    lov = f"CASE WHEN __m <= {edges[0]} THEN 0"
    for a, b in zip(edges, edges[1:]):
        lbl += f" WHEN __m <= {b} THEN '{a}-{b}m'"
        lov += f" WHEN __m <= {b} THEN {a}"
    lbl += f" ELSE '> {edges[-1]}m' END"
    lov += f" ELSE {edges[-1]} END"
    n = len(steps)
    return f"""
    WITH {", ".join(ctes)},
    m AS (
        SELECT epoch(s{n}.__t - s1.__t) / 60.0 AS __m
        FROM s1 JOIN s{n} USING (__u)
    )
    SELECT {lbl} AS bucket,
           CAST({lov} AS BIGINT) AS lo_minutes,
           CAST(count(*) AS BIGINT) AS n_users
    FROM m GROUP BY 1, 2
    """


def ab_test_conversion(
    df: DataFrame,
    user_col: str,
    type_col: str,
    exposure_event: str,
    conversion_event: str,
    salt: str = "ab",
    z_crit: float = 1.96,
    ts_col: str = "ts",
) -> DataFrame:
    """Two-proportion A/B test over an event stream: users are assigned
    to arms by a deterministic hash split (the q61 splitter — stable
    across reruns and engines, no RNG), conversion = any
    ``conversion_event`` at-or-after the user's first
    ``exposure_event``, and the arms compare by the classic pooled
    two-proportion z statistic (the experimentation readout every
    product pipeline runs). Arm assignment uses the portable 60-bit md5
    bucket (the q61 splitter), so the DuckDB twin replays it
    bit-identically.

    Returns ONE row ``(n_a, conv_a, rate_a, n_b, conv_b, rate_b, z,
    significant)`` — rates and z rounded to 6, ``significant`` =
    |z| > z_crit. The z computation divides and square-roots exact
    BIGINT-derived doubles with the identical expression shape in the
    SQL twin; no erf tables needed for the gate (the threshold IS the
    decision procedure).

    Shuffle budget: one user-keyed min-agg per event type, one
    user-keyed join, one global agg — the q114 funnel shape plus a
    map-side hash-bucket arm label; raw events never shuffle twice.
    """
    exp = (
        df.where(F.col(type_col) == exposure_event)
        .groupBy(F.col(user_col).alias("__u"))
        .agg(F.min(ts_col).alias("__t0"))
        .withColumn(
            "__arm",
            h60(
                F.concat(F.lit(f"{salt}|"), F.col("__u").cast("string"))
            )
            % 2,
        )
    )
    conv = (
        df.where(F.col(type_col) == conversion_event)
        .select(F.col(user_col).alias("__u"), F.col(ts_col).alias("__tc"))
    )
    per_user = (
        exp.join(conv, "__u", "left")
        .groupBy("__u", "__arm")
        .agg(
            F.max(
                (F.col("__tc") >= F.col("__t0")).cast("int")
            ).alias("__c")
        )
        .select(
            "__arm", F.coalesce(F.col("__c"), F.lit(0)).alias("__c")
        )
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("__arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("__arm") == 0, F.col("__c")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("__arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(F.when(F.col("__arm") == 1, F.col("__c")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    na, ca = F.col("n_a").cast("double"), F.col("conv_a").cast("double")
    nb, cb = F.col("n_b").cast("double"), F.col("conv_b").cast("double")
    p1 = ca / na
    p2 = cb / nb
    pp = (ca + cb) / (na + nb)
    se = F.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
    z = F.when((na > 0) & (nb > 0) & (se > 0), (p1 - p2) / se)
    return agg.select(
        "n_a",
        "conv_a",
        round_to(p1, 6).alias("rate_a"),
        "n_b",
        "conv_b",
        round_to(p2, 6).alias("rate_b"),
        round_to(z, 6).alias("z"),
        (F.abs(z) > z_crit).alias("significant"),
    )


def ab_test_conversion_sql(
    table: str,
    user_col: str,
    type_col: str,
    exposure_event: str,
    conversion_event: str,
    salt: str = "ab",
    z_crit: float = 1.96,
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`ab_test_conversion` — identical portable
    md5 arm hash, conversion rule, and z expression shapes."""
    h = h60_sql(f"{sql_quote(salt + '|')} || CAST(__u AS VARCHAR)")
    return f"""
    WITH exp AS MATERIALIZED (
        SELECT {user_col} AS __u,
               min(CAST({ts_col} AS TIMESTAMP)) AS __t0
        FROM {table} WHERE {type_col} = '{exposure_event}'
        GROUP BY 1
    ), armed AS (
        SELECT __u, __t0, ({h} % 2) AS __arm FROM exp
    ), conv AS (
        SELECT {user_col} AS __u, CAST({ts_col} AS TIMESTAMP) AS __tc
        FROM {table} WHERE {type_col} = '{conversion_event}'
    ), per_user AS (
        SELECT a.__arm,
               COALESCE(max(CASE WHEN c.__tc >= a.__t0 THEN 1 ELSE 0 END), 0)
                   AS __c
        FROM armed a LEFT JOIN conv c ON c.__u = a.__u
        GROUP BY a.__u, a.__arm
    ), agg AS (
        SELECT CAST(sum(CASE WHEN __arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN __arm = 0 THEN __c ELSE 0 END) AS BIGINT)
                   AS conv_a,
               CAST(sum(CASE WHEN __arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(sum(CASE WHEN __arm = 1 THEN __c ELSE 0 END) AS BIGINT)
                   AS conv_b
        FROM per_user
    ), zc AS (
        SELECT n_a, conv_a, n_b, conv_b,
               CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS p1,
               CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE) AS p2,
               (CAST(conv_a AS DOUBLE) + CAST(conv_b AS DOUBLE))
                   / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) AS pp
        FROM agg
    ), zz AS (
        SELECT *,
               CASE WHEN n_a > 0 AND n_b > 0
                     AND sqrt(pp * (1 - pp)
                              * (1 / CAST(n_a AS DOUBLE)
                                 + 1 / CAST(n_b AS DOUBLE))) > 0
                    THEN (p1 - p2)
                         / sqrt(pp * (1 - pp)
                                * (1 / CAST(n_a AS DOUBLE)
                                   + 1 / CAST(n_b AS DOUBLE)))
               END AS z
        FROM zc
    )
    SELECT n_a, conv_a, round(p1, 6) AS rate_a,
           n_b, conv_b, round(p2, 6) AS rate_b,
           round(z, 6) AS z,
           abs(z) > {z_crit} AS significant
    FROM zz
    """


def unordered_funnel(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    window_hours: int | None = None,
) -> DataFrame:
    """Any-order funnel: how many users touched k of the ``steps``
    (1..N), and how many completed ALL of them within
    ``window_hours`` of their first step touch — the checklist /
    activation-milestones complement of the ORDERED funnel (q114),
    where sequence does not matter but co-occurrence in a window does.

    Returns ``(n_steps_present, n_users, n_within_window)``;
    ``n_within_window`` is NULL except on the all-steps row (the window
    question is only defined for completers) and equals ``n_users``
    there when ``window_hours`` is None.

    Shuffle budget: one filtered (user, step) min-ts agg (map-side
    partials), one user-keyed rollup of the already-reduced frame, one
    tiny histogram agg. Raw events shuffle once.
    """
    if not steps:
        raise ValueError("steps must be non-empty")
    uniq = list(dict.fromkeys(steps))
    per = (
        df.where(F.col(type_col).isin(uniq))
        .groupBy(F.col(user_col).alias("__u"), F.col(type_col).alias("__s"))
        .agg(F.min(ts_col).alias("__t"))
    )
    spans = per.groupBy("__u").agg(
        F.countDistinct("__s").alias("__k"),
        (
            F.max(F.col("__t").cast("double"))
            - F.min(F.col("__t").cast("double"))
        ).alias("__span"),
    )
    n_steps = len(uniq)
    return (
        spans.groupBy(F.col("__k").alias("n_steps_present"))
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum(
                F.when(
                    F.col("__span")
                    <= F.lit(
                        float(window_hours * 3600)
                        if window_hours is not None
                        else float("inf")
                    ),
                    1,
                ).otherwise(0)
            ).cast("bigint").alias("__w"),
        )
        .select(
            "n_steps_present",
            "n_users",
            F.when(
                F.col("n_steps_present") == n_steps, F.col("__w")
            ).alias("n_within_window"),
        )
    )


def unordered_funnel_sql(
    table: str,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: list[str],
    window_hours: int | None = None,
) -> str:
    """DuckDB twin of :func:`unordered_funnel`."""
    uniq = list(dict.fromkeys(steps))
    lits = ", ".join(sql_quote(s) for s in uniq)
    limit = (
        float(window_hours * 3600)
        if window_hours is not None
        else "CAST('inf' AS DOUBLE)"
    )
    return f"""
    WITH per AS (
        SELECT {user_col} AS __u, {type_col} AS __s,
               min(CAST({ts_col} AS TIMESTAMP)) AS __t
        FROM {table} WHERE {type_col} IN ({lits})
        GROUP BY 1, 2
    ), spans AS (
        SELECT __u, CAST(count(DISTINCT __s) AS BIGINT) AS __k,
               max(epoch(__t)) - min(epoch(__t)) AS __span
        FROM per GROUP BY 1
    ), hist AS (
        SELECT __k AS n_steps_present,
               CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN __span <= {limit} THEN 1 ELSE 0 END)
                    AS BIGINT) AS __w
        FROM spans GROUP BY 1
    )
    SELECT n_steps_present, n_users,
           CASE WHEN n_steps_present = {len(uniq)} THEN __w END
               AS n_within_window
    FROM hist
    """


# max per-user pair mass above which strategy="auto" leaves the pairwise
# join for the scalable form (see _route_attribution)
_AUTO_MAX_PAIR_MASS = 4_000_000


def _route_attribution(
    purchases: "DataFrame",
    touches: "DataFrame",
    user_col: str,
    strategy: str,
    max_pair_mass: int,
) -> str:
    """Strategy router shared by :func:`linear_attribution` and
    :func:`position_attribution` (round-7 VERDICT item 2 — the
    transforms.percent_rank_transform rank-router pattern applied to
    the attribution pair joins).

    ``"auto"`` runs ONE cheap density probe fused into a single job
    (round-8 VERDICT item 3 — the previous agg-join-agg shape was two
    shuffle stages plus a join, ~27% of the skewed attribution wall):
    both inputs project to tagged ``(user,)`` rows, union, and ONE
    user-keyed agg (map-side-combinable conditional counts, output
    bounded by distinct users) reads the MAXIMUM per-user pair mass
    ``touches_u * purchases_u`` — exactly the number of candidate
    pairs the pairwise range join materializes inside that user's
    single join partition. Above ``max_pair_mass`` the
    quadratic-per-hot-user join is the measured 16-27x skew funnel
    (BENCH_r06/r07 skew batteries), so the router picks the
    count-decomposition twin; below it the pairwise form is the
    cheaper plan (fewer exchanges). The routing rule is pinned on
    benign + zipfian frames in tests/test_cohort.py.
    """
    if strategy not in ("exact", "scalable", "auto"):
        raise ValueError(
            "attribution: strategy must be exact|scalable|auto"
        )
    if strategy != "auto":
        return strategy

    def _max_pair_mass() -> int:
        tagged = touches.where(F.col(user_col).isNotNull()).select(
            F.col(user_col).alias("__u"), F.lit(1).alias("__t")
        ).unionByName(
            purchases.where(F.col(user_col).isNotNull()).select(
                F.col(user_col).alias("__u"), F.lit(0).alias("__t")
            )
        )
        row = (
            tagged.groupBy("__u")
            .agg(
                F.count(F.when(F.col("__t") == 1, 1)).alias("__tc"),
                F.count(F.when(F.col("__t") == 0, 1)).alias("__pc"),
            )
            .agg(F.max(F.col("__tc") * F.col("__pc")).alias("__mass"))
            .first()
        )
        return row["__mass"] if row and row["__mass"] is not None else 0

    # memoized per semantic (purchases, touches) pair (r9 VERDICT item
    # 5): a pipeline running linear + position attribution over the
    # same inputs pays ONE density probe, not two
    from ._probe import cached_probe

    mass = cached_probe(
        "attribution_pair_mass",
        (purchases, touches),
        (user_col,),
        _max_pair_mass,
    )
    return "scalable" if mass > max_pair_mass else "exact"


def _pairwise_attribution(
    purchases: "DataFrame",
    touches: "DataFrame",
    user_col: str,
    purchase_id_col: str,
    purchase_ts_col: str,
    value_col: str,
    touch_ts_col: str,
    channel_col: str,
    window_seconds: int,
    credit,
) -> "DataFrame":
    """The ``"exact"`` form of both attribution rules: a user-keyed left
    range join of each purchase to its touches in ``[pts - w, pts]``.
    Every joined row carries the purchase's micro-unit value ``__vm``,
    its in-window touch count ``__nt`` and the touch's position
    ``__rn`` in ``(ts ASC, channel ASC NULLS LAST)`` order; a purchase
    with no touch keeps one row with ``__nt = 0`` and channel NULL.
    ``credit`` is the rule's integer credit of one row over those
    columns; the rollup sums it per channel. Fewest exchanges, but the
    join materializes touches x purchases per user in one partition.
    """
    p = purchases.select(
        F.col(user_col).alias("__u"),
        F.col(purchase_id_col).alias("__pid"),
        F.col(purchase_ts_col).alias("__pts"),
        to_fixed(F.col(value_col).cast("double"), 6).alias("__vm"),
    )
    t = touches.select(
        F.col(user_col).alias("__u"),
        F.col(touch_ts_col).alias("__tts"),
        F.col(channel_col).alias("__ch"),
    )
    j = p.join(
        t,
        (p["__u"] == t["__u"])
        & (t["__tts"] <= p["__pts"])
        & (
            t["__tts"]
            >= p["__pts"] - F.expr(f"INTERVAL {window_seconds} SECOND")
        ),
        "left",
    ).drop(t["__u"])
    wpid = Window.partitionBy("__pid")
    worder = wpid.orderBy(
        F.col("__tts").asc_nulls_last(), F.col("__ch").asc_nulls_last()
    )
    staged = j.select(
        "__pid",
        "__vm",
        "__ch",
        "__tts",
        F.count("__tts").over(wpid).alias("__nt"),
        F.row_number().over(worder).alias("__rn"),
    )
    return (
        staged.withColumn("__cr", credit.cast("bigint"))
        .groupBy(F.col("__ch").alias("channel"))
        .agg(
            F.countDistinct("__pid").cast("bigint").alias("n_conversions"),
            F.count("__tts").cast("bigint").alias("n_touches"),
            round_to(from_fixed(F.sum("__cr"), 6), 6).alias("credit"),
        )
        .orderBy("channel")
    )


def _attribution_sql(
    purchases_sql: str,
    touches_sql: str,
    window_seconds: int,
    credit_sql: str,
) -> str:
    """DuckDB twin of :func:`_pairwise_attribution`; ``credit_sql`` is
    the rule's credit as a SQL expression over ``__vm, __nt, __rn``."""
    return f"""
    WITH p AS ({purchases_sql}), t AS ({touches_sql}), j AS (
        SELECT p.__pid, p.__vm, t.__ch, t.__tts
        FROM p LEFT JOIN t
          ON p.__u = t.__u
         AND t.__tts <= p.__pts
         AND t.__tts >= p.__pts - INTERVAL {window_seconds} SECOND
    ), staged AS (
        SELECT __pid, __vm, __ch, __tts,
               CAST(count(__tts) OVER (PARTITION BY __pid) AS BIGINT)
                   AS __nt,
               row_number() OVER (
                   PARTITION BY __pid
                   ORDER BY __tts ASC NULLS LAST, __ch ASC NULLS LAST
               ) AS __rn
        FROM j
    ), credited AS (
        SELECT *,
               CAST({credit_sql} AS BIGINT) AS __cr
        FROM staged
    )
    SELECT __ch AS channel,
           CAST(count(DISTINCT __pid) AS BIGINT) AS n_conversions,
           CAST(count(__tts) AS BIGINT) AS n_touches,
           round(CAST(sum(__cr) AS BIGINT) / 1e6, 6) AS credit
    FROM credited
    GROUP BY 1
    ORDER BY 1
    """


def _null_ids(df: "DataFrame", types: dict[str, str]) -> "DataFrame":
    """``df`` plus one typed NULL column per ``types`` entry: the probe
    id columns a build branch carries so it unions with the probes."""
    for c, t in types.items():
        df = df.withColumn(c, F.lit(None).cast(t))
    return df


def _windowed_build_counts(
    probes: "DataFrame",
    builds: "DataFrame",
    key_cols: list[str],
    id_cols: list[str],
    probe_ts: str,
    build_ts: str,
    w_us: int,
) -> "DataFrame":
    """Count, for every probe row, the BUILD rows of the same key whose
    timestamp lies in ``[probe_ts - w, probe_ts]`` (inclusive both ends)
    — WITHOUT materializing probe x build pairs and WITHOUT a per-key
    window (the q85/q167 skew funnels). The bucketed-prefix construction
    of timeseries.rolling_time_window generalized to probe != build:

    1. bucket builds by ``floor(ts / w)``; per-(key, bucket) partials
       and a per-key running total give bucket-level prefix counts;
    2. a BUCKET-level as-of (union + window over the tiny partial
       frame) reads the prefix at each probe's bucket ``b`` and at
       ``b - 1`` — works even when the probe's bucket holds no builds;
    3. two EVENT-level union+window passes, each partitioned by
       (key, bucket), give the in-bucket inclusive count at ``t``
       (builds at t sort BEFORE the probe — inside the frame) and the
       in-bucket strict count at ``x = t - w`` (builds at x sort AFTER
       the probe — x itself stays inside the frame);
    4. count = prefix(b) + in_bucket(t) - prefix(b-1) - strict(x),
       assembled by a null-safe GROUP BY over the probe ids (signed
       components union — no join on possibly-NULL keys at all).

    Max task = densest (key, bucket), never a whole key's history; no
    pair blow-up — cost is probes + builds, not probes x builds.
    Probe rows with NULL timestamp get no output row (caller treats
    missing as count 0); builds with NULL timestamp are ignored. A
    NULL KEY is a real group (Window.partitionBy is null-safe), so
    callers wanting equi-join NULL-rejection must pre-filter builds.
    ``id_cols`` must uniquely identify probe rows. Returns
    ``(*id_cols, __wn)``.
    """
    b = builds.where(F.col(build_ts).isNotNull()).withColumn(
        "__bb", F.floor(F.col(build_ts) / F.lit(w_us)).cast("long")
    )
    partials = b.groupBy(*key_cols, "__bb").agg(
        F.count(F.lit(1)).alias("__pn")
    )
    wseq = (
        Window.partitionBy(*key_cols)
        .orderBy("__bb")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = partials.withColumn("__cuminc", F.sum("__pn").over(wseq))

    pr = probes.where(F.col(probe_ts).isNotNull()).withColumn(
        "__bp", F.floor(F.col(probe_ts) / F.lit(w_us)).cast("long")
    )

    # id cols may overlap key cols (e.g. per-channel counts keyed AND
    # identified by __ch) — select each column once
    extra_ids = [c for c in id_cols if c not in key_cols]
    id_types = {c: dict(pr.dtypes)[c] for c in extra_ids}

    # -- step 2: bucket-level as-of for the two prefix reads ------------
    probe_b = (
        pr.select(
            *key_cols, *extra_ids,
            F.col("__bp").alias("__qb"), F.lit(1).alias("__sign"),
        )
        .unionByName(
            pr.select(
                *key_cols, *extra_ids,
                (F.col("__bp") - 1).alias("__qb"),
                F.lit(-1).alias("__sign"),
            )
        )
        .withColumn("__tag", F.lit(0))
        .withColumn("__cum", F.lit(None).cast("long"))
    )
    part_b = _null_ids(
        cum.select(
            *key_cols, F.col("__bb").alias("__qb"),
            F.col("__cuminc").alias("__cum"),
        )
        .withColumn("__sign", F.lit(0))
        .withColumn("__tag", F.lit(1)),
        id_types,
    )
    wb_asof = (
        Window.partitionBy(*key_cols)
        # probe (tag 0) sorts before the same bucket's partial (tag 1),
        # so the read is the prefix through buckets STRICTLY below __qb
        .orderBy(F.col("__qb").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    offs = (
        probe_b.unionByName(part_b.select(*probe_b.columns))
        .withColumn("__off", F.last("__cum", ignorenulls=True).over(wb_asof))
        .where(F.col("__tag") == 0)
        .select(
            *id_cols,
            (F.col("__sign") * F.coalesce(F.col("__off"), F.lit(0)))
            .alias("__comp"),
        )
    )

    # -- step 3: the in-bucket inclusive count at t (bucket __bp) and
    # the in-bucket STRICT count at x = t - w (bucket __bp - 1), FUSED
    # into ONE union+window pass (r13 optimization round, guide §2.4):
    # the two as-ofs share partitioning (key, bucket) and ordering
    # (__ets asc), and their opposite tie rules are one 3-level tag —
    #   tag 0 = probe at x  (builds at ets == x sort AFTER it -> strict)
    #   tag 1 = builds      (__cin is a RANGE-frame count, so every
    #                        build tied on __ets carries the same value)
    #   tag 2 = probe at t  (builds at ets == t sort BEFORE it -> incl.)
    # so one exchange+sort carries builds ONCE (was: builds shuffled and
    # windowed twice, once per tie rule). Signs fold into the final agg.
    wb_in = (
        Window.partitionBy(*key_cols, "__eb")
        .orderBy("__ets")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    bev = b.select(
        *key_cols, F.col("__bb").alias("__eb"),
        F.col(build_ts).alias("__ets"),
    ).withColumn("__cin", F.count(F.lit(1)).over(wb_in))
    bev_f = _null_ids(
        bev.withColumn("__tag", F.lit(1)), id_types
    ).withColumn("__sign", F.lit(0))
    pev_t = (
        pr.select(
            *key_cols, *extra_ids,
            F.col("__bp").alias("__eb"),
            F.col(probe_ts).alias("__ets"),
        )
        .withColumn("__cin", F.lit(None).cast("long"))
        .withColumn("__tag", F.lit(2))
        .withColumn("__sign", F.lit(1))
    )
    pev_x = (
        pr.select(
            *key_cols, *extra_ids,
            (F.col("__bp") - 1).alias("__eb"),
            (F.col(probe_ts) - F.lit(w_us)).alias("__ets"),
        )
        .withColumn("__cin", F.lit(None).cast("long"))
        .withColumn("__tag", F.lit(0))
        .withColumn("__sign", F.lit(-1))
    )
    w_ev = (
        Window.partitionBy(*key_cols, "__eb")
        .orderBy(F.col("__ets").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    inc_exc = (
        pev_t.unionByName(pev_x)
        .unionByName(bev_f.select(*pev_t.columns))
        .withColumn("__m", F.last("__cin", ignorenulls=True).over(w_ev))
        .where(F.col("__tag") != 1)
        .select(
            *id_cols,
            (F.col("__sign") * F.coalesce(F.col("__m"), F.lit(0)))
            .alias("__comp"),
        )
    )

    return (
        offs.unionByName(inc_exc)
        .groupBy(*id_cols)
        .agg(F.sum("__comp").cast("bigint").alias("__wn"))
    )


def _windowed_first_last_build(
    probes: "DataFrame",
    builds: "DataFrame",
    key_cols: list[str],
    id_cols: list[str],
    probe_ts: str,
    build_ts: str,
    payload_cols: list[str],
    w_us: int,
) -> "DataFrame":
    """EARLIEST and LATEST build row of the same key in
    ``[probe_ts - w, probe_ts]`` per probe, in the pairwise ``(ts ASC,
    payload ASC NULLS LAST)`` order: FIRST = min (ts, payload) with
    NULL payload last, LAST = max with NULL payload first; builds at
    the frame edges stay inside. No pairs and no per-key window: the
    frame spans at most the buckets ``bx = bp - 1`` and
    ``bp = floor(t / w)``, so each end has two candidates, and A wins
    when it exists:

    - candidate A, from ONE event-level union+window pass (builds once,
      probes twice, two window functions over one exchange): FIRST
      reads bucket ``bx`` from ``x = t - w`` in descending order (the
      last build seen is the smallest (ts, payload) >= x), LAST reads
      bucket ``bp`` up to ``t`` in ascending order (the largest <= t);
    - candidate B, from ONE per-(key, bucket) min/max-struct agg: FIRST
      takes bucket ``bp``'s min if its ts <= t, LAST takes bucket
      ``bx``'s max if its ts >= x.

    Probe rows with NULL timestamp get no output row; a NULL key is a
    real group. Equality with a brute force is pinned in
    tests/test_cohort.py. Returns ``(*id_cols, f_<payload>...,
    l_<payload>...)``, NULLs when the window is empty.
    """
    b = builds.where(F.col(build_ts).isNotNull()).withColumn(
        "__bb", F.floor(F.col(build_ts) / F.lit(w_us)).cast("long")
    )
    # tie-break ordering: an is-null flag before each NATIVE-typed
    # payload field (a string sentinel would mis-order numeric
    # channels: "10" < "2")
    ord_fields = []
    for c in payload_cols:
        ord_fields.append(F.col(c).isNull().cast("int").alias(f"nf_{c}"))
        ord_fields.append(F.col(c).alias(f"pl_{c}"))
    bs = b.select(
        *key_cols, "__bb", F.col(build_ts).alias("__ets"), *payload_cols
    ).withColumn("__st", F.struct(F.col("__ets").alias("ts"), *ord_fields))

    pr = probes.where(F.col(probe_ts).isNotNull()).withColumn(
        "__bp", F.floor(F.col(probe_ts) / F.lit(w_us)).cast("long")
    )
    id_types = {c: dict(pr.dtypes)[c] for c in id_cols}
    st_type = bs.schema["__st"].dataType

    # shared union frame: builds once (role NULL), probes twice
    bEv = _null_ids(
        bs.select(*key_cols, F.col("__bb").alias("__eb"), "__ets", "__st")
        .withColumn("__tag", F.lit(0))
        .withColumn("__role", F.lit(None).cast("int")),
        id_types,
    )
    pF = (
        pr.select(
            *key_cols, *id_cols,
            (F.col("__bp") - 1).alias("__eb"),
            (F.col(probe_ts) - F.lit(w_us)).alias("__ets"),
        )
        .withColumn("__st", F.lit(None).cast(st_type))
        .withColumn("__tag", F.lit(1))
        .withColumn("__role", F.lit(0))
    )
    pL = (
        pr.select(
            *key_cols, *id_cols,
            F.col("__bp").alias("__eb"),
            F.col(probe_ts).alias("__ets"),
        )
        .withColumn("__st", F.lit(None).cast(st_type))
        .withColumn("__tag", F.lit(1))
        .withColumn("__role", F.lit(1))
    )
    ev = pF.unionByName(pL).unionByName(bEv.select(*pF.columns))
    # FIRST as-of: decreasing ts, builds (tag 0) first / LARGER struct
    # first at ties, so last() retains the smallest (ts, payload) >= x
    wF = (
        Window.partitionBy(*key_cols, "__eb")
        .orderBy(
            F.col("__ets").desc(), F.col("__tag").asc(), F.col("__st").desc()
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # LAST as-of: increasing ts, builds first / SMALLER struct first at
    # ties, so last() retains the largest (ts, payload) <= t
    wL = (
        Window.partitionBy(*key_cols, "__eb")
        .orderBy(
            F.col("__ets").asc(), F.col("__tag").asc(), F.col("__st").asc()
        )
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cand_a = (
        ev.withColumn("__fa", F.last("__st", ignorenulls=True).over(wF))
        .withColumn("__la", F.last("__st", ignorenulls=True).over(wL))
        .where(F.col("__tag") == 1)
        .groupBy(*id_cols)
        .agg(
            F.max(F.when(F.col("__role") == 0, F.col("__fa"))).alias("__fa"),
            F.max(F.when(F.col("__role") == 1, F.col("__la"))).alias("__la"),
        )
    )

    # candidate B both sides from ONE per-bucket agg: probes exploded to
    # their two read buckets, one equi-join, re-grouped per probe
    mm = bs.groupBy(*key_cols, "__bb").agg(
        F.min("__st").alias("__fb"), F.max("__st").alias("__lb")
    )
    pq = pr.select(
        *key_cols, *id_cols,
        F.col(probe_ts).alias("__pt_us"),
        F.explode(
            F.array(
                F.struct(F.col("__bp").alias("__qb"), F.lit(0).alias("__role")),
                F.struct(
                    (F.col("__bp") - 1).alias("__qb"), F.lit(1).alias("__role")
                ),
            )
        ).alias("__q"),
    ).select(
        *key_cols, *id_cols, "__pt_us",
        F.col("__q.__qb").alias("__qb"), F.col("__q.__role").alias("__role"),
    )
    jc = pq["__qb"] == mm["__bb"]
    for c in key_cols:
        jc = jc & pq[c].eqNullSafe(mm[c])
    cand_b = (
        pq.join(mm, jc, "left")
        .select(
            *[pq[c] for c in id_cols],
            F.when(
                (F.col("__role") == 0)
                & (F.col("__fb.ts") <= F.col("__pt_us")),
                F.col("__fb"),
            ).alias("__fbv"),
            F.when(
                (F.col("__role") == 1)
                & (F.col("__lb.ts") >= F.col("__pt_us") - F.lit(w_us)),
                F.col("__lb"),
            ).alias("__lbv"),
        )
        .groupBy(*id_cols)
        .agg(F.max("__fbv").alias("__fb"), F.max("__lbv").alias("__lb"))
    )

    jcond = None
    for c in id_cols:
        term = cand_a[c].eqNullSafe(cand_b[c])
        jcond = term if jcond is None else (jcond & term)
    best_f = F.coalesce(cand_a["__fa"], cand_b["__fb"])
    best_l = F.coalesce(cand_a["__la"], cand_b["__lb"])
    return cand_a.join(cand_b, jcond, "inner").select(
        *[cand_a[c] for c in id_cols],
        *[best_f.getField(f"pl_{c}").alias(f"f_{c}") for c in payload_cols],
        *[best_l.getField(f"pl_{c}").alias(f"l_{c}") for c in payload_cols],
    )


def _scalable_attribution_frames(
    purchases: "DataFrame",
    touches: "DataFrame",
    user_col: str,
    purchase_id_col: str,
    purchase_ts_col: str,
    value_col: str,
    touch_ts_col: str,
    channel_col: str,
    window_seconds: int,
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """What both scalable credit rules read, with zero pair
    materialization; max task = densest (user, channel, bucket):

    - ``ntc`` = ``(__pid, __ch, __ntc)``, each purchase's in-window
      touch count per channel (only channels it has, ``__ntc > 0``),
      via :func:`_windowed_build_counts` keyed by (user, channel);
    - ``p_nt`` = every purchase (``__pid, __vm`` among its columns)
      with its total touch count ``__nt``, the sum of its ``ntc`` (0
      when unattributed);
    - ``fl`` = ``(__pid, __fch, __lch)``, the channels of each
      purchase's first and last in-window touch in the pairwise order,
      via :func:`_windowed_first_last_build`.

    NULL-user rows behave exactly as the pairwise equi-join: touches
    with NULL user are dropped, NULL-user purchases go unattributed.
    """
    w_us = window_seconds * 1_000_000
    p = purchases.select(
        F.col(user_col).alias("__u"),
        F.col(purchase_id_col).alias("__pid"),
        F.unix_micros(F.col(purchase_ts_col)).alias("__ptu"),
        to_fixed(F.col(value_col).cast("double"), 6).alias("__vm"),
    )
    t = touches.where(F.col(user_col).isNotNull()).select(
        F.col(user_col).alias("__u"),
        F.unix_micros(F.col(touch_ts_col)).alias("__ttu"),
        F.col(channel_col).alias("__ch"),
    )
    # touches of users with no conversion at all contribute to no count
    # and no first/last touch — drop them before any window machinery
    t = t.join(p.select("__u").distinct(), "__u", "semi")
    # the staged frames feed ~6 union/window branches each — unstaged,
    # the touch scan + semi filter re-executes per branch (measured in
    # the physical plan: 12+ repeats); both grow with the event table,
    # so they take the reliable checkpoint
    p = stage_unbounded(p)
    t = stage_unbounded(t)

    # probe only the (user, channel) combinations that exist in touches
    # (a cross join against ALL channels cost 12x on benign data); the
    # hot user contributes purchases x its-channel-count probe rows —
    # linear, never quadratic. NULL-user purchases get no probes and
    # fall through as unattributed, matching the pairwise equi-join's
    # NULL rejection.
    user_channels = t.select("__u", "__ch").distinct()
    pc = p.join(user_channels, "__u", "inner")
    ntc = _windowed_build_counts(
        pc, t, ["__u", "__ch"], ["__pid", "__ch"], "__ptu", "__ttu", w_us
    ).withColumnRenamed("__wn", "__ntc").where(F.col("__ntc") > 0)
    # nt = sum of the per-channel counts (every touch carries exactly
    # one channel value, NULL included) — no third windowed pass
    nt = ntc.groupBy("__pid").agg(F.sum("__ntc").alias("__nt"))
    p_nt = p.join(nt, "__pid", "left").withColumn(
        "__nt", F.coalesce(F.col("__nt"), F.lit(0))
    )
    fl = _windowed_first_last_build(
        p, t, ["__u"], ["__pid"], "__ptu", "__ttu", ["__ch"], w_us
    ).select(
        "__pid",
        F.col("f___ch").alias("__fch"),
        F.col("l___ch").alias("__lch"),
    )
    return ntc, p_nt, fl


def _credit_rows(df: "DataFrame", channel, cru, touches=None) -> "DataFrame":
    """One scalable credit frame ``(__pid, channel, __touches, __cru)``:
    ``cru`` micro-units to ``channel`` per row of ``df``, counting
    ``touches`` touches (none by default)."""
    if touches is None:
        touches = F.lit(0).cast("bigint")
    return df.select(
        "__pid",
        channel.alias("channel"),
        touches.alias("__touches"),
        cru.alias("__cru"),
    )


def _channel_rollup(*frames: "DataFrame") -> "DataFrame":
    """Sum the scalable credit frames per channel into the pairwise
    rollup's ``(channel, n_conversions, n_touches, credit)``."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return (
        out.groupBy("channel")
        .agg(
            F.countDistinct("__pid").cast("bigint").alias("n_conversions"),
            F.sum("__touches").cast("bigint").alias("n_touches"),
            round_to(from_fixed(F.sum("__cru"), 6), 6).alias("credit"),
        )
        .orderBy("channel")
    )


def linear_attribution(
    purchases: "DataFrame",
    touches: "DataFrame",
    user_col: str,
    purchase_id_col: str,
    purchase_ts_col: str,
    value_col: str,
    touch_ts_col: str,
    channel_col: str,
    window_seconds: int = 3 * 86400,
    strategy: str = "auto",
) -> "DataFrame":
    """Multi-touch LINEAR attribution: every touch in the lookback
    window before a conversion shares the conversion's value EQUALLY —
    the equal-credit sibling of last-touch (q140). Credit is computed in
    exact integer micro-units with INTEGER division, and the division
    remainder goes to the EARLIEST touch (ties: smallest channel), so
    per-conversion credit conserves exactly: sum of credits == value,
    bit-for-bit, with no floating-point fold anywhere.

    Unattributed conversions (no touch in the window) surface as
    channel NULL with full credit instead of silently dropping —
    total credited value always equals total conversion value (pinned
    law in tests/test_cohort.py).

    ``strategy`` routes between the two bit-identical physical forms
    (round-7 VERDICT item 2 — a user reaching for the obvious name must
    not get the quadratic-per-hot-user join on skewed data):

    - ``"exact"`` — the pairwise user-keyed range join
      (:func:`_pairwise_attribution`): fewest exchanges, but it
      materializes touches x purchases PER USER in one join partition
      (measured 18-27x wall degradation when one user owns ~20% of
      events, BENCH_r06/r07 skew batteries);
    - ``"scalable"`` — delegate to :func:`linear_attribution_scalable`
      (bucketed window counts, no pair materialization, max task =
      densest (user, channel, bucket));
    - ``"auto"`` (default) — :func:`_route_attribution` probes the
      maximum per-user pair mass with ONE fused union-agg job, memoized
      per input pair, and picks ``scalable`` iff it exceeds
      ``_AUTO_MAX_PAIR_MASS``.

    Returns ``(channel, n_conversions, n_touches, credit)`` where
    ``credit`` is micro-units / 1e6 rounded 6.
    """
    args = (
        user_col, purchase_id_col, purchase_ts_col, value_col,
        touch_ts_col, channel_col, window_seconds,
    )
    routed = _route_attribution(
        purchases, touches, user_col, strategy, _AUTO_MAX_PAIR_MASS
    )
    if routed == "scalable":
        return linear_attribution_scalable(purchases, touches, *args)
    credit = F.when(
        F.col("__nt") == 0, F.col("__vm")  # unattributed: full credit
    ).otherwise(
        F.expr("__vm div __nt")
        + F.when(
            F.col("__rn") == 1, F.col("__vm") % F.col("__nt")
        ).otherwise(F.lit(0))
    )
    return _pairwise_attribution(purchases, touches, *args, credit)


def linear_attribution_sql(
    purchases_sql: str,
    touches_sql: str,
    window_seconds: int = 3 * 86400,
) -> str:
    """DuckDB twin of :func:`linear_attribution`. The two input
    subqueries must project the staged names ``__u, __pid, __pts, __vm``
    and ``__u, __tts, __ch`` respectively (micro-unit staging included),
    mirroring the operator's internal frames."""
    return _attribution_sql(
        purchases_sql, touches_sql, window_seconds,
        """CASE WHEN __nt = 0 THEN __vm
                    ELSE __vm // __nt
                         + CASE WHEN __rn = 1 THEN __vm % __nt ELSE 0 END
               END""",
    )


def linear_attribution_scalable(
    purchases: "DataFrame",
    touches: "DataFrame",
    user_col: str,
    purchase_id_col: str,
    purchase_ts_col: str,
    value_col: str,
    touch_ts_col: str,
    channel_col: str,
    window_seconds: int = 3 * 86400,
) -> "DataFrame":
    """:func:`linear_attribution` re-expressed WITHOUT the pairwise
    join — the 100 TB (and skew-immune) form. The round-6 skew battery
    measured the pairwise range join at **18-24x** wall degradation
    when one user owns ~20% of events: the per-user join partition
    materializes touches x purchases for the hot user in ONE task.
    This variant never builds pairs at all: from the frames of
    :func:`_scalable_attribution_frames`, channel credit =
    ``ntc * (vm div nt)`` + the remainder at the earliest touch's
    channel + full value at channel NULL for unattributed conversions
    — bit-identical to the pairwise rollup, which remains the DuckDB
    oracle (gate q177 shares q167's oracle).

    Cost: a handful of (key, bucket)-partitioned passes over
    touches + the (user, channel) pairs x purchases; max task =
    densest (user, channel, 3-day-bucket); zero pair materialization.
    Equality with the pairwise operator is pinned on adversarial frames
    (edge ties, NULL user/ts/channel, empty buckets) in
    tests/test_cohort.py.
    """
    ntc, p_nt, fl = _scalable_attribution_frames(
        purchases, touches, user_col, purchase_id_col, purchase_ts_col,
        value_col, touch_ts_col, channel_col, window_seconds,
    )
    # not staged, unlike position's base: a stage here runs the windowed
    # passes as build-time jobs, and q177 measured ~30 % slower at sf0.1
    base = p_nt.select("__pid", "__vm", "__nt")
    return _channel_rollup(
        # per-channel unit credits
        _credit_rows(
            ntc.join(base, "__pid", "inner"), F.col("__ch"),
            F.col("__ntc") * F.expr("__vm div __nt"), F.col("__ntc"),
        ),
        # the division remainder at the earliest touch's channel
        _credit_rows(
            base.where(F.col("__nt") > 0).join(fl, "__pid", "inner"),
            F.col("__fch"), F.col("__vm") % F.col("__nt"),
        ),
        # unattributed conversions: full value, channel NULL
        _credit_rows(
            base.where(F.col("__nt") == 0),
            F.lit(None).cast(ntc.schema["__ch"].dataType), F.col("__vm"),
        ),
    )


def position_attribution(
    purchases: "DataFrame",
    touches: "DataFrame",
    user_col: str,
    purchase_id_col: str,
    purchase_ts_col: str,
    value_col: str,
    touch_ts_col: str,
    channel_col: str,
    window_seconds: int = 3 * 86400,
    strategy: str = "auto",
) -> "DataFrame":
    """Multi-touch POSITION-BASED (U-shaped 40/20/40) attribution:
    the first and last touch in the lookback window each take 40% of
    the conversion value, the middle touches split the remaining 20%
    equally — the standard position model between linear (q167) and
    last-touch (q140). One touch takes 100%; two touches split 50/50.

    Credit arithmetic is exact integer micro-units: the 40% shares are
    ``(vm * 4) div 10`` (first and last), the middle pool is whatever
    remains (so the three shares conserve ``vm`` bit-for-bit even when
    vm is not divisible by 10), middle splits use integer division
    with the remainder pinned to the FIRST touch (the
    :func:`linear_attribution` convention — ties: smallest channel).
    Unattributed conversions surface as channel NULL with full credit
    — total credited value always equals total conversion value
    (pinned law).

    ``strategy`` = ``"exact"`` | ``"scalable"`` | ``"auto"`` (default),
    exactly as :func:`linear_attribution`: the pairwise user-keyed join
    measured 16-20x wall under 20% single-user skew (BENCH_r06/r07),
    so ``"auto"`` probes the max per-user pair mass
    (:func:`_route_attribution`) and routes to
    :func:`position_attribution_scalable` above
    ``_AUTO_MAX_PAIR_MASS`` — identical results bit-for-bit.

    Returns ``(channel, n_conversions, n_touches, credit)``.
    """
    args = (
        user_col, purchase_id_col, purchase_ts_col, value_col,
        touch_ts_col, channel_col, window_seconds,
    )
    routed = _route_attribution(
        purchases, touches, user_col, strategy, _AUTO_MAX_PAIR_MASS
    )
    if routed == "scalable":
        return position_attribution_scalable(purchases, touches, *args)
    first40 = F.expr("(__vm * 4) div 10")
    mid_pool = F.col("__vm") - F.lit(2) * first40
    mid_n = F.col("__nt") - F.lit(2)
    credit = (
        F.when(F.col("__nt") == 0, F.col("__vm"))
        .when(F.col("__nt") == 1, F.col("__vm"))
        .when(
            F.col("__nt") == 2,
            F.expr("__vm div 2")
            + F.when(F.col("__rn") == 1, F.col("__vm") % 2).otherwise(
                F.lit(0)
            ),
        )
        .when(F.col("__rn") == 1, first40 + mid_pool % mid_n)
        .when(F.col("__rn") == F.col("__nt"), first40)
        .otherwise(
            F.expr("((__vm - 2 * ((__vm * 4) div 10)) div (__nt - 2))")
        )
    )
    return _pairwise_attribution(purchases, touches, *args, credit)


def position_attribution_sql(
    purchases_sql: str,
    touches_sql: str,
    window_seconds: int = 3 * 86400,
) -> str:
    """DuckDB twin of :func:`position_attribution` — same staged-name
    contract as :func:`linear_attribution_sql`, identical integer
    40/20/40 shares and remainder pinning."""
    return _attribution_sql(
        purchases_sql, touches_sql, window_seconds,
        """CASE
                   WHEN __nt = 0 THEN __vm
                   WHEN __nt = 1 THEN __vm
                   WHEN __nt = 2 THEN __vm // 2
                        + CASE WHEN __rn = 1 THEN __vm % 2 ELSE 0 END
                   WHEN __rn = 1 THEN (__vm * 4) // 10
                        + (__vm - 2 * ((__vm * 4) // 10)) % (__nt - 2)
                   WHEN __rn = __nt THEN (__vm * 4) // 10
                   ELSE ((__vm - 2 * ((__vm * 4) // 10)) // (__nt - 2))
               END""",
    )


def position_attribution_scalable(
    purchases: "DataFrame",
    touches: "DataFrame",
    user_col: str,
    purchase_id_col: str,
    purchase_ts_col: str,
    value_col: str,
    touch_ts_col: str,
    channel_col: str,
    window_seconds: int = 3 * 86400,
) -> "DataFrame":
    """:func:`position_attribution` WITHOUT the pairwise join — the
    skew-immune / 100 TB form, exactly as q177 is to q167 (this
    round's skew battery measured the pairwise position join at 16.5x
    wall under 20% single-user skew). The U-shaped 40/20/40 credit of
    a conversion depends only on (touch count, first touch, last
    touch) plus per-channel in-window counts, all read from
    :func:`_scalable_attribution_frames` with zero pair
    materialization:

    - the first touch takes 40% + the middle remainder (the
      :func:`linear_attribution` remainder convention), the last touch
      40%;
    - per-channel middle credit = ``(ntc - [ch == first_ch] -
      [ch == last_ch]) * mid_each`` with null-safe channel equality.

    Bit-identical to the pairwise rollup — the gate shares q190's
    pairwise oracle. Max task = densest (user, channel, bucket).
    """
    ntc, p_nt, fl = _scalable_attribution_frames(
        purchases, touches, user_col, purchase_id_col, purchase_ts_col,
        value_col, touch_ts_col, channel_col, window_seconds,
    )
    base = stage(
        p_nt.join(fl, "__pid", "left")
        .select("__pid", "__vm", "__nt", "__fch", "__lch")
    )
    first40 = F.expr("(__vm * 4) div 10")
    mid_pool = F.col("__vm") - F.lit(2) * first40
    mid_n = F.col("__nt") - F.lit(2)
    mid_each = F.expr(
        "((__vm - 2 * ((__vm * 4) div 10)) div (__nt - 2))"
    )
    return _channel_rollup(
        # channel touch counts + middle-unit credits
        _credit_rows(
            ntc.join(base, "__pid", "inner"),
            F.col("__ch"),
            F.when(
                F.col("__nt") >= 3,
                (
                    F.col("__ntc")
                    - F.col("__ch").eqNullSafe(F.col("__fch")).cast("int")
                    - F.col("__ch").eqNullSafe(F.col("__lch")).cast("int")
                )
                * mid_each,
            )
            .otherwise(F.lit(0))
            .cast("bigint"),
            F.col("__ntc"),
        ),
        # the first touch's share (100% / 50%+rem / 40%+mid-rem)
        _credit_rows(
            base.where(F.col("__nt") >= 1),
            F.col("__fch"),
            F.when(F.col("__nt") == 1, F.col("__vm"))
            .when(
                F.col("__nt") == 2,
                F.expr("__vm div 2") + F.col("__vm") % 2,
            )
            .otherwise(first40 + mid_pool % mid_n)
            .cast("bigint"),
        ),
        # the last touch's share (50% / 40%)
        _credit_rows(
            base.where(F.col("__nt") >= 2),
            F.col("__lch"),
            F.when(F.col("__nt") == 2, F.expr("__vm div 2"))
            .otherwise(first40)
            .cast("bigint"),
        ),
        # unattributed conversions
        _credit_rows(
            base.where(F.col("__nt") == 0),
            F.lit(None).cast(ntc.schema["__ch"].dataType),
            F.col("__vm"),
        ),
    )


def cuped_ab_test(
    df: DataFrame,
    user_col: str,
    type_col: str,
    metric_event: str,
    value_col: str,
    split_ts: str,
    salt: str = "ab",
    ts_col: str = "ts",
) -> DataFrame:
    """CUPED variance-reduced A/B readout (Deng, Xu, Kohavi & Walker,
    WSDM 2013): per-user post-period metric ``Y`` adjusted by the
    pre-period covariate ``X`` via ``Y' = Y - theta * (X - mean(X))``
    with ``theta = cov(X, Y) / var(X)`` pooled over both arms — the
    industry-standard way to shrink experiment confidence intervals
    without touching the treatment effect (E[Y'] = E[Y] per arm since
    theta and mean(X) are global).

    Units are all users with any event; arm = portable salted-hash
    split (the q61/q148 splitter, bit-identical in the twin); X / Y =
    integer-cent sums of ``value_col`` over ``metric_event`` rows
    before / at-or-after ``split_ts``.

    Returns one row per arm: ``(arm, n, mean_y, mean_y_cuped, var_y,
    var_cuped, var_reduction, theta)`` — means in original units,
    population variances, ``var_reduction = var_cuped / var_y``
    (the CUPED win, = 1 - corr(X,Y)^2 in the large-sample limit).

    Exactness: every sufficient statistic (n, Sx, Sy, Sxx, Sxy, Syy)
    is an exact DECIMAL(38,0) sum of integer-cent products; theta,
    means and variances are IEEE chains over those identical integers;
    outputs use the scaled-round convention.

    Scale: ONE user-keyed agg over metric events (map-side combinable),
    then ONE tiny per-arm moment agg — no windows, no joins on the
    event table; the moment frame is 2 rows.
    """
    pu = (
        df.groupBy(F.col(user_col).alias("__u"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col(type_col) == metric_event)
                        & (F.col(ts_col) < F.lit(split_ts)),
                        to_fixed(F.col(value_col), 2),
                    )
                ),
                F.lit(0),
            ).alias("__x"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col(type_col) == metric_event)
                        & (F.col(ts_col) >= F.lit(split_ts)),
                        to_fixed(F.col(value_col), 2),
                    )
                ),
                F.lit(0),
            ).alias("__y"),
        )
        .withColumn(
            "__arm",
            (
                h60(
                    F.concat(
                        F.lit(f"{salt}|"), F.col("__u").cast("string")
                    )
                )
                % 2
            ).cast("int"),
        )
    )
    xd = F.col("__x").cast("decimal(19,0)")
    yd = F.col("__y").cast("decimal(19,0)")
    moments = pu.groupBy("__arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(xd).cast("decimal(38,0)").alias("__sx"),
        F.sum(yd).cast("decimal(38,0)").alias("__sy"),
        F.sum(xd * xd).alias("__sxx"),
        F.sum(xd * yd).alias("__sxy"),
        F.sum(yd * yd).alias("__syy"),
    )
    g = moments.agg(
        F.sum("__n").cast("bigint").alias("__gn"),
        F.sum("__sx").alias("__gsx"),
        F.sum("__sy").alias("__gsy"),
        F.sum("__sxx").alias("__gsxx"),
        F.sum("__sxy").alias("__gsxy"),
    )
    j = moments.crossJoin(F.broadcast(g))
    gn = F.col("__gn").cast("double")
    gsx = F.col("__gsx").cast("double")
    gsy = F.col("__gsy").cast("double")
    gsxx = F.col("__gsxx").cast("double")
    gsxy = F.col("__gsxy").cast("double")
    gvarx = gsxx / gn - (gsx / gn) * (gsx / gn)
    gcov = gsxy / gn - (gsx / gn) * (gsy / gn)
    theta = F.when(gvarx > 0, gcov / gvarx).otherwise(F.lit(0.0))
    gmx = gsx / gn
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    sxy = F.col("__sxy").cast("double")
    syy = F.col("__syy").cast("double")
    mx = sx / n
    my = sy / n
    vx = sxx / n - mx * mx
    vy = syy / n - my * my
    cv = sxy / n - mx * my
    my_adj = my - theta * (mx - gmx)
    vadj = vy - F.lit(2.0) * theta * cv + theta * theta * vx
    red = F.when(vy > 0, vadj / vy)
    cents = F.lit(100.0)
    c2 = F.lit(10000.0)
    return j.select(
        F.col("__arm").alias("arm"),
        F.col("__n").alias("n"),
        round_to(my / cents, 6).alias(
            "mean_y"
        ),
        round_to(my_adj / cents, 6).alias(
            "mean_y_cuped"
        ),
        round_to(vy / c2, 6).alias("var_y"),
        round_to(vadj / c2, 6).alias(
            "var_cuped"
        ),
        round_to(red, 6).alias(
            "var_reduction"
        ),
        round_to(theta, 6).alias("theta"),
    ).orderBy("arm")


def cuped_ab_test_sql(
    table: str,
    user_col: str,
    type_col: str,
    metric_event: str,
    value_col: str,
    split_ts: str,
    salt: str = "ab",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`cuped_ab_test` — identical portable arm
    hash, integer-cent sufficient statistics, and IEEE chains."""
    h = h60_sql(f"{sql_quote(salt + '|')} || CAST(__u AS VARCHAR)")
    return f"""
    WITH pu AS (
        SELECT {user_col} AS __u,
               COALESCE(sum(CASE WHEN {type_col} = '{metric_event}'
                    AND CAST({ts_col} AS TIMESTAMP)
                        < TIMESTAMP '{split_ts}'
                    THEN CAST(round({value_col} * 100, 0) AS BIGINT)
                    END), 0) AS __x,
               COALESCE(sum(CASE WHEN {type_col} = '{metric_event}'
                    AND CAST({ts_col} AS TIMESTAMP)
                        >= TIMESTAMP '{split_ts}'
                    THEN CAST(round({value_col} * 100, 0) AS BIGINT)
                    END), 0) AS __y
        FROM {table} GROUP BY 1
    ), armed AS (
        SELECT CAST(({h} % 2) AS INT) AS __arm,
               CAST(__x AS DECIMAL(19,0)) AS __x,
               CAST(__y AS DECIMAL(19,0)) AS __y
        FROM pu
    ), moments AS MATERIALIZED (
        SELECT __arm,
               CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__x) AS DECIMAL(38,0)) AS __sx,
               CAST(sum(__y) AS DECIMAL(38,0)) AS __sy,
               CAST(sum(__x * __x) AS DECIMAL(38,0)) AS __sxx,
               CAST(sum(__x * __y) AS DECIMAL(38,0)) AS __sxy,
               CAST(sum(__y * __y) AS DECIMAL(38,0)) AS __syy
        FROM armed GROUP BY 1
    ), g AS (
        SELECT CAST(sum(__n) AS BIGINT) AS __gn,
               CAST(sum(__sx) AS DECIMAL(38,0)) AS __gsx,
               CAST(sum(__sy) AS DECIMAL(38,0)) AS __gsy,
               CAST(sum(__sxx) AS DECIMAL(38,0)) AS __gsxx,
               CAST(sum(__sxy) AS DECIMAL(38,0)) AS __gsxy
        FROM moments
    ), calc AS (
        SELECT m.__arm, m.__n,
               CAST(m.__sx AS DOUBLE) / CAST(m.__n AS DOUBLE) AS __mx,
               CAST(m.__sy AS DOUBLE) / CAST(m.__n AS DOUBLE) AS __my,
               CAST(m.__sxx AS DOUBLE) / CAST(m.__n AS DOUBLE)
                 - (CAST(m.__sx AS DOUBLE) / CAST(m.__n AS DOUBLE))
                   * (CAST(m.__sx AS DOUBLE) / CAST(m.__n AS DOUBLE))
                   AS __vx,
               CAST(m.__syy AS DOUBLE) / CAST(m.__n AS DOUBLE)
                 - (CAST(m.__sy AS DOUBLE) / CAST(m.__n AS DOUBLE))
                   * (CAST(m.__sy AS DOUBLE) / CAST(m.__n AS DOUBLE))
                   AS __vy,
               CAST(m.__sxy AS DOUBLE) / CAST(m.__n AS DOUBLE)
                 - (CAST(m.__sx AS DOUBLE) / CAST(m.__n AS DOUBLE))
                   * (CAST(m.__sy AS DOUBLE) / CAST(m.__n AS DOUBLE))
                   AS __cv,
               CASE WHEN CAST(g.__gsxx AS DOUBLE)
                         / CAST(g.__gn AS DOUBLE)
                       - (CAST(g.__gsx AS DOUBLE)
                          / CAST(g.__gn AS DOUBLE))
                         * (CAST(g.__gsx AS DOUBLE)
                            / CAST(g.__gn AS DOUBLE)) > 0
                    THEN (CAST(g.__gsxy AS DOUBLE)
                          / CAST(g.__gn AS DOUBLE)
                         - (CAST(g.__gsx AS DOUBLE)
                            / CAST(g.__gn AS DOUBLE))
                           * (CAST(g.__gsy AS DOUBLE)
                              / CAST(g.__gn AS DOUBLE)))
                         / (CAST(g.__gsxx AS DOUBLE)
                            / CAST(g.__gn AS DOUBLE)
                           - (CAST(g.__gsx AS DOUBLE)
                              / CAST(g.__gn AS DOUBLE))
                             * (CAST(g.__gsx AS DOUBLE)
                                / CAST(g.__gn AS DOUBLE)))
                    ELSE CAST(0 AS DOUBLE) END AS __theta,
               CAST(g.__gsx AS DOUBLE) / CAST(g.__gn AS DOUBLE)
                   AS __gmx
        FROM moments m CROSS JOIN g
    )
    SELECT __arm AS arm, __n AS n,
           round(__my / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS mean_y,
           round((__my - __theta * (__mx - __gmx))
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6
               AS mean_y_cuped,
           round(__vy / CAST(10000 AS DOUBLE) * 1e6, 0) / 1e6 AS var_y,
           round((__vy - CAST(2 AS DOUBLE) * __theta * __cv
                  + __theta * __theta * __vx)
                 / CAST(10000 AS DOUBLE) * 1e6, 0) / 1e6 AS var_cuped,
           round(CASE WHEN __vy > 0 THEN
                 (__vy - CAST(2 AS DOUBLE) * __theta * __cv
                  + __theta * __theta * __vx) / __vy END * 1e6, 0)
               / 1e6 AS var_reduction,
           round(__theta * 1e6, 0) / 1e6 AS theta
    FROM calc ORDER BY arm
    """


def diff_in_diff(
    df: DataFrame,
    user_col: str,
    type_col: str,
    metric_event: str,
    value_col: str,
    split_ts: str,
    salt: str = "ab",
    t_crit: float = 1.96,
    ts_col: str = "ts",
) -> DataFrame:
    """Difference-in-differences estimator over the 2x2 (arm, period)
    panel (Card & Krueger 1994 design): per-user pre / post metric
    means per arm, ``did = (t_post - t_pre) - (c_post - c_pre)`` with
    the independent-cell large-sample standard error
    ``sqrt(sum_cells var_cell / n_cell)``.

    Same unit / arm / metric conventions as :func:`cuped_ab_test`
    (all users, portable salted-hash arms, integer-cent sums). The SE
    treats the four cells as independent samples — the textbook 2x2
    formula; with panel data it is conservative when pre/post are
    positively correlated (docstring contract, not a bug).

    Returns one row: ``(n_c, n_t, pre_c, post_c, pre_t, post_t, did,
    se, t_stat, significant)``.

    Scale: ONE user-keyed agg + ONE 2-row moment agg — the CUPED
    shuffle budget exactly.
    """
    pu = (
        df.groupBy(F.col(user_col).alias("__u"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col(type_col) == metric_event)
                        & (F.col(ts_col) < F.lit(split_ts)),
                        to_fixed(F.col(value_col), 2),
                    )
                ),
                F.lit(0),
            ).alias("__x"),
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col(type_col) == metric_event)
                        & (F.col(ts_col) >= F.lit(split_ts)),
                        to_fixed(F.col(value_col), 2),
                    )
                ),
                F.lit(0),
            ).alias("__y"),
        )
        .withColumn(
            "__arm",
            (
                h60(
                    F.concat(
                        F.lit(f"{salt}|"), F.col("__u").cast("string")
                    )
                )
                % 2
            ).cast("int"),
        )
    )
    xd = F.col("__x").cast("decimal(19,0)")
    yd = F.col("__y").cast("decimal(19,0)")
    m = pu.groupBy("__arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(xd).cast("decimal(38,0)").alias("__sx"),
        F.sum(yd).cast("decimal(38,0)").alias("__sy"),
        F.sum(xd * xd).alias("__sxx"),
        F.sum(yd * yd).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    sxx = F.col("__sxx").cast("double")
    syy = F.col("__syy").cast("double")
    cells = m.select(
        "__arm",
        "__n",
        (sx / n).alias("__mx"),
        (sy / n).alias("__my"),
        (sxx / n - (sx / n) * (sx / n)).alias("__vx"),
        (syy / n - (sy / n) * (sy / n)).alias("__vy"),
    )
    a = F.when(F.col("__arm") == 0, 1).otherwise(0)
    t = F.when(F.col("__arm") == 1, 1).otherwise(0)
    agg = cells.agg(
        F.sum(a * F.col("__n")).cast("bigint").alias("n_c"),
        F.sum(t * F.col("__n")).cast("bigint").alias("n_t"),
        F.sum(a * F.col("__mx")).alias("__pc"),
        F.sum(a * F.col("__my")).alias("__qc"),
        F.sum(t * F.col("__mx")).alias("__pt"),
        F.sum(t * F.col("__my")).alias("__qt"),
        F.sum(
            (a.cast("double") * (F.col("__vx") + F.col("__vy")))
            / F.col("__n")
        ).alias("__sec"),
        F.sum(
            (t.cast("double") * (F.col("__vx") + F.col("__vy")))
            / F.col("__n")
        ).alias("__set"),
    )
    did = (
        (F.col("__qt") - F.col("__pt")) - (F.col("__qc") - F.col("__pc"))
    )
    se = F.sqrt(F.col("__sec") + F.col("__set"))
    tstat = F.when(se > 0, did / se)
    cents = F.lit(100.0)
    return agg.select(
        "n_c",
        "n_t",
        round_to(F.col("__pc") / cents, 6).alias("pre_c"),
        round_to(F.col("__qc") / cents, 6).alias("post_c"),
        round_to(F.col("__pt") / cents, 6).alias("pre_t"),
        round_to(F.col("__qt") / cents, 6).alias("post_t"),
        round_to(did / cents, 6).alias("did"),
        round_to(se / cents, 6).alias("se"),
        round_to(tstat, 6).alias("t_stat"),
        (F.abs(tstat) > F.lit(t_crit)).alias("significant"),
    )


def diff_in_diff_sql(
    table: str,
    user_col: str,
    type_col: str,
    metric_event: str,
    value_col: str,
    split_ts: str,
    salt: str = "ab",
    t_crit: float = 1.96,
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`diff_in_diff` — identical arm hash,
    integer-cent sufficient statistics, cell moments, and the same
    IEEE combination shapes."""
    h = h60_sql(f"{sql_quote(salt + '|')} || CAST(__u AS VARCHAR)")
    return f"""
    WITH pu AS (
        SELECT {user_col} AS __u,
               COALESCE(sum(CASE WHEN {type_col} = '{metric_event}'
                    AND CAST({ts_col} AS TIMESTAMP)
                        < TIMESTAMP '{split_ts}'
                    THEN CAST(round({value_col} * 100, 0) AS BIGINT)
                    END), 0) AS __x,
               COALESCE(sum(CASE WHEN {type_col} = '{metric_event}'
                    AND CAST({ts_col} AS TIMESTAMP)
                        >= TIMESTAMP '{split_ts}'
                    THEN CAST(round({value_col} * 100, 0) AS BIGINT)
                    END), 0) AS __y
        FROM {table} GROUP BY 1
    ), armed AS (
        SELECT CAST(({h} % 2) AS INT) AS __arm,
               CAST(__x AS DECIMAL(19,0)) AS __x,
               CAST(__y AS DECIMAL(19,0)) AS __y
        FROM pu
    ), m AS (
        SELECT __arm,
               CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__x) AS DECIMAL(38,0)) AS __sx,
               CAST(sum(__y) AS DECIMAL(38,0)) AS __sy,
               CAST(sum(__x * __x) AS DECIMAL(38,0)) AS __sxx,
               CAST(sum(__y * __y) AS DECIMAL(38,0)) AS __syy
        FROM armed GROUP BY 1
    ), cells AS (
        SELECT __arm, __n,
               CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE) AS __mx,
               CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE) AS __my,
               CAST(__sxx AS DOUBLE) / CAST(__n AS DOUBLE)
                 - (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE))
                   * (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE))
                   AS __vx,
               CAST(__syy AS DOUBLE) / CAST(__n AS DOUBLE)
                 - (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))
                   * (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))
                   AS __vy
        FROM m
    ), agg AS (
        SELECT
            CAST(sum(CASE WHEN __arm = 0 THEN __n ELSE 0 END)
                 AS BIGINT) AS n_c,
            CAST(sum(CASE WHEN __arm = 1 THEN __n ELSE 0 END)
                 AS BIGINT) AS n_t,
            sum(CASE WHEN __arm = 0 THEN 1 ELSE 0 END * __mx) AS __pc,
            sum(CASE WHEN __arm = 0 THEN 1 ELSE 0 END * __my) AS __qc,
            sum(CASE WHEN __arm = 1 THEN 1 ELSE 0 END * __mx) AS __pt,
            sum(CASE WHEN __arm = 1 THEN 1 ELSE 0 END * __my) AS __qt,
            sum(CAST(CASE WHEN __arm = 0 THEN 1 ELSE 0 END AS DOUBLE)
                * (__vx + __vy) / __n) AS __sec,
            sum(CAST(CASE WHEN __arm = 1 THEN 1 ELSE 0 END AS DOUBLE)
                * (__vx + __vy) / __n) AS __set
        FROM cells
    )
    SELECT n_c, n_t,
           round(__pc / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS pre_c,
           round(__qc / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS post_c,
           round(__pt / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS pre_t,
           round(__qt / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS post_t,
           round(((__qt - __pt) - (__qc - __pc))
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS did,
           round(sqrt(__sec + __set) / CAST(100 AS DOUBLE) * 1e6, 0)
               / 1e6 AS se,
           round(CASE WHEN sqrt(__sec + __set) > 0 THEN
                 ((__qt - __pt) - (__qc - __pc)) / sqrt(__sec + __set)
                 END * 1e6, 0) / 1e6 AS t_stat,
           abs(CASE WHEN sqrt(__sec + __set) > 0 THEN
               ((__qt - __pt) - (__qc - __pc)) / sqrt(__sec + __set)
               END) > CAST({t_crit} AS DOUBLE) AS significant
    FROM agg
    """


def rfm_segments(
    df: DataFrame,
    user_col: str,
    type_col: str,
    purchase_event: str,
    value_col: str,
    ts_col: str = "ts",
    num_bins: int = 4096,
) -> DataFrame:
    """RFM (recency / frequency / monetary) customer segmentation —
    the classic marketing cube (Hughes 1994), built scale-first: each
    dimension's quintile comes from the HISTOGRAM-SKETCH rank
    transform (q156's operators/transforms.percent_rank_transform_
    approx), not an NTILE global sort, so no dimension ever funnels
    the user table through one sort task.

    Per purchasing user: ``recency_days`` = epoch-floored days from
    last purchase to the observation end (max event ts over the WHOLE
    table), ``freq`` = purchase count, ``mon`` = integer-cent spend.
    Quintile = ``least(4, floor(pct_rank * 5))`` per dimension (4 =
    top rank; note recency ranks RAW days, so r_q 0 = most recent —
    documented, not reversed).

    Returns one row per occupied (r_q, f_q, m_q) cell: ``(r_q, f_q,
    m_q, n_users, avg_monetary)``.

    Scale: one user-keyed agg, then three sketch-rank passes (each a
    broadcast stats + tiny CDF join — the fact frame never shuffles),
    one bounded 125-cell agg.
    """
    from pyspark.sql import functions as F

    from .transforms import percent_rank_transform_approx

    pu = (
        df.where(F.col(type_col) == purchase_event)
        .groupBy(F.col(user_col).alias("__uid"))
        .agg(
            F.max(F.col(ts_col)).alias("__lp"),
            F.count(F.lit(1)).cast("bigint").alias("freq"),
            F.sum(
                to_fixed(F.col(value_col), 2)
            )
            .cast("bigint")
            .alias("mon"),
        )
    )
    end = df.agg(F.max(F.col(ts_col)).alias("__end"))
    metrics = (
        pu.crossJoin(F.broadcast(end))
        .select(
            "__uid",
            F.floor(
                (F.unix_micros("__end") - F.unix_micros("__lp"))
                / F.lit(86_400_000_000)
            )
            .cast("bigint")
            .alias("recency_days"),
            "freq",
            "mon",
            F.lit(1).alias("__one"),
        )
    )
    # each rank pass embeds its input in TWO broadcast subtrees (stats,
    # CDF) plus the fact side; chaining three passes on unmaterialized
    # lineage compounds to ~3^3 re-executions of the user agg (the r12
    # plan audit measured 400 source scans in the q195 plan). Checkpoint
    # the per-user frame and each pass's output — always the reduced
    # per-purchaser frame, never the event table.
    metrics = stage(metrics)
    r1 = stage(percent_rank_transform_approx(
        metrics, "__one", "recency_days", "__rr", num_bins
    ))
    r2 = stage(percent_rank_transform_approx(
        r1, "__one", "freq", "__fr", num_bins
    ))
    r3 = percent_rank_transform_approx(r2, "__one", "mon", "__mr", num_bins)

    def q(c: str):
        return F.least(
            F.lit(4), F.floor(F.col(c) * 5).cast("int")
        ).cast("int")

    return (
        r3.select(
            q("__rr").alias("r_q"),
            q("__fr").alias("f_q"),
            q("__mr").alias("m_q"),
            "mon",
        )
        .groupBy("r_q", "f_q", "m_q")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            round_to(
                F.sum("mon").cast("double") / F.count(F.lit(1)) / F.lit(100.0),
                6,
            ).alias("avg_monetary"),
        )
    )


def rfm_segments_sql(
    table: str,
    user_col: str,
    type_col: str,
    purchase_event: str,
    value_col: str,
    ts_col: str = "ts",
    num_bins: int = 4096,
) -> str:
    """DuckDB twin of :func:`rfm_segments` — identical metric frame,
    three composed sketch-rank twins, quintile and cell expressions."""
    from .transforms import percent_rank_transform_approx_sql

    metrics = f"""(
        WITH pu AS (
            SELECT {user_col} AS __uid,
                   max(CASE WHEN {type_col} = '{purchase_event}'
                       THEN CAST({ts_col} AS TIMESTAMP) END) AS __lp,
                   CAST(count(CASE WHEN {type_col} = '{purchase_event}'
                        THEN 1 END) AS BIGINT) AS freq,
                   CAST(sum(CASE WHEN {type_col} = '{purchase_event}'
                        THEN CAST(round({value_col} * 100, 0) AS BIGINT)
                        END) AS BIGINT) AS mon
            FROM {table} GROUP BY 1
        ), oe AS (
            SELECT max(CAST({ts_col} AS TIMESTAMP)) AS __end
            FROM {table}
        )
        SELECT __uid,
               CAST(floor(epoch_us(__end - __lp) / 86400000000)
                    AS BIGINT) AS recency_days,
               freq, mon, 1 AS __one
        FROM pu CROSS JOIN oe WHERE __lp IS NOT NULL
    )"""
    r1 = percent_rank_transform_approx_sql(
        metrics, "__one", "recency_days", "__rr", num_bins
    )
    r2 = percent_rank_transform_approx_sql(
        f"({r1})", "__one", "freq", "__fr", num_bins
    )
    r3 = percent_rank_transform_approx_sql(
        f"({r2})", "__one", "mon", "__mr", num_bins
    )
    return f"""
    SELECT CAST(least(4, floor(__rr * 5)) AS INT) AS r_q,
           CAST(least(4, floor(__fr * 5)) AS INT) AS f_q,
           CAST(least(4, floor(__mr * 5)) AS INT) AS m_q,
           CAST(count(*) AS BIGINT) AS n_users,
           round(CAST(sum(mon) AS BIGINT) / count(*)
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS avg_monetary
    FROM ({r3}) GROUP BY 1, 2, 3
    """


#: Abramowitz & Stegun 7.1.26 erf polynomial constants — deterministic
#: literals injected into BOTH engines (max |error| 1.5e-7, far inside
#: the 1e-6 output rounding).
_AS_ERF = (0.254829592, -0.284496736, 1.421413741, -1.453152027, 1.061405429)
_AS_P = 0.3275911
#: two-sided 5% / 80%-power normal quantiles (z_{0.025}, z_{0.20})
_Z_ALPHA = 1.959964
_Z_BETA = 0.841621


def _phi_tail_sql(z_expr: str) -> str:
    """One-sided upper-tail normal probability ``1 - Phi(z)`` for
    ``z >= 0`` via the A&S 7.1.26 erf polynomial — IDENTICAL expression
    text for both engines (the Spark side builds the same tree)."""
    a1, a2, a3, a4, a5 = _AS_ERF
    t = f"(CAST(1 AS DOUBLE) / (CAST(1 AS DOUBLE) + CAST({_AS_P} AS DOUBLE) * ({z_expr}) / sqrt(CAST(2 AS DOUBLE))))"
    poly = (
        f"((((CAST({a5} AS DOUBLE) * {t} + CAST({a4} AS DOUBLE)) * {t}"
        f" + CAST({a3} AS DOUBLE)) * {t} + CAST({a2} AS DOUBLE)) * {t}"
        f" + CAST({a1} AS DOUBLE)) * {t}"
    )
    erf = (
        f"(CAST(1 AS DOUBLE) - {poly}"
        f" * exp(-(({z_expr}) / sqrt(CAST(2 AS DOUBLE)))"
        f" * (({z_expr}) / sqrt(CAST(2 AS DOUBLE)))))"
    )
    return f"(CAST(0.5 AS DOUBLE) * (CAST(1 AS DOUBLE) - {erf}))"


def ab_power_mde(
    df: DataFrame,
    user_col: str,
    type_col: str,
    exposure_event: str,
    conversion_event: str,
    salt: str = "ab",
    ts_col: str = "ts",
) -> DataFrame:
    """Experiment POWER readout for the q148 A/B design: given the
    observed arm sizes and pooled conversion rate, the minimum
    detectable effect at alpha = 0.05 two-sided / 80% power —
    ``mde = (z_a + z_b) * sqrt(p(1-p) * (1/na + 1/nb))`` (Lehr-style
    normal approximation, the standard pre-readout sanity check: an
    observed lift below the MDE is noise regardless of its p-value).

    Returns one row: ``(n_a, n_b, pooled_rate, mde_abs, mde_rel)``
    with ``mde_rel = mde_abs / pooled_rate`` (NULL when the pooled
    rate is 0). Same unit/arm machinery as
    :func:`ab_test_conversion`; z quantiles are injected literals
    (CAST-to-DOUBLE in the twin — the q176 decimal-literal rule).
    """
    exp = (
        df.where(F.col(type_col) == exposure_event)
        .groupBy(F.col(user_col).alias("__u"))
        .agg(F.min(ts_col).alias("__t0"))
        .withColumn(
            "__arm",
            h60(
                F.concat(F.lit(f"{salt}|"), F.col("__u").cast("string"))
            )
            % 2,
        )
    )
    conv = df.where(F.col(type_col) == conversion_event).select(
        F.col(user_col).alias("__u"), F.col(ts_col).alias("__tc")
    )
    per_user = (
        exp.join(conv, "__u", "left")
        .groupBy("__u", "__arm")
        .agg(
            F.max((F.col("__tc") >= F.col("__t0")).cast("int")).alias(
                "__c"
            )
        )
        .select("__arm", F.coalesce(F.col("__c"), F.lit(0)).alias("__c"))
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("__arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("__arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum("__c").cast("bigint").alias("__conv"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    p = F.col("__conv").cast("double") / (na + nb)
    mde = (
        F.lit(_Z_ALPHA + _Z_BETA)
        * F.sqrt(p * (1 - p) * (1 / na + 1 / nb))
    )
    return agg.select(
        "n_a",
        "n_b",
        round_to(p, 6).alias("pooled_rate"),
        round_to(mde, 6).alias("mde_abs"),
        round_to(F.when(p > 0, mde / p), 6).alias("mde_rel"),
    )


def ab_power_mde_sql(
    table: str,
    user_col: str,
    type_col: str,
    exposure_event: str,
    conversion_event: str,
    salt: str = "ab",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`ab_power_mde`."""
    h = h60_sql(f"{sql_quote(salt + '|')} || CAST(__u AS VARCHAR)")
    zsum = _Z_ALPHA + _Z_BETA
    return f"""
    WITH exp AS MATERIALIZED (
        SELECT {user_col} AS __u,
               min(CAST({ts_col} AS TIMESTAMP)) AS __t0
        FROM {table} WHERE {type_col} = '{exposure_event}'
        GROUP BY 1
    ), armed AS (
        SELECT __u, __t0, ({h} % 2) AS __arm FROM exp
    ), conv AS (
        SELECT {user_col} AS __u, CAST({ts_col} AS TIMESTAMP) AS __tc
        FROM {table} WHERE {type_col} = '{conversion_event}'
    ), per_user AS (
        SELECT a.__arm,
               COALESCE(max(CASE WHEN c.__tc >= a.__t0 THEN 1 ELSE 0 END),
                        0) AS __c
        FROM armed a LEFT JOIN conv c ON c.__u = a.__u
        GROUP BY a.__u, a.__arm
    ), agg AS (
        SELECT CAST(sum(CASE WHEN __arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN __arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(sum(__c) AS BIGINT) AS __conv
        FROM per_user
    )
    SELECT n_a, n_b,
           round(CAST(__conv AS DOUBLE)
                 / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                 * 1e6, 0) / 1e6 AS pooled_rate,
           round(CAST({zsum} AS DOUBLE)
                 * sqrt((CAST(__conv AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                        * (1 - CAST(__conv AS DOUBLE)
                           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                        * (1 / CAST(n_a AS DOUBLE)
                           + 1 / CAST(n_b AS DOUBLE)))
                 * 1e6, 0) / 1e6 AS mde_abs,
           round(CASE WHEN CAST(__conv AS DOUBLE)
                      / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)) > 0
                 THEN (CAST({zsum} AS DOUBLE)
                 * sqrt((CAST(__conv AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                        * (1 - CAST(__conv AS DOUBLE)
                           / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                        * (1 / CAST(n_a AS DOUBLE)
                           + 1 / CAST(n_b AS DOUBLE))))
                      / (CAST(__conv AS DOUBLE)
                         / (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE)))
                 END * 1e6, 0) / 1e6 AS mde_rel
    FROM agg
    """


def segment_ab_bh(
    df: DataFrame,
    user_col: str,
    type_col: str,
    exposure_event: str,
    conversion_event: str,
    n_segments: int = 4,
    fdr_q: float = 0.05,
    salt: str = "ab",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-segment A/B readout with Benjamini-Hochberg FDR control
    (Benjamini & Hochberg 1995) — the multiple-comparisons discipline
    every segment-sliced experiment needs: each segment runs the q148
    pooled two-proportion z test, its two-sided p-value comes from the
    A&S 7.1.26 normal-tail polynomial (|error| < 1.5e-7, IDENTICAL
    expression text in both engines — no erf builtin exists in
    either), and the BH step-up rejects segments with
    ``p_(i) <= i/m * q`` up to the largest such rank.

    Segments here are the deterministic ``user_id % n_segments``
    partition (a stand-in for any user attribute); arms are the
    portable salted-hash split.

    Returns one row per segment: ``(segment, n_a, conv_a, n_b,
    conv_b, z, p_value, bh_rank, reject)``. Window/rank passes run
    over the BOUNDED segment frame (m rows), never the event table.
    """
    exp = (
        df.where(F.col(type_col) == exposure_event)
        .groupBy(F.col(user_col).alias("__u"))
        .agg(F.min(ts_col).alias("__t0"))
        .withColumn(
            "__arm",
            h60(
                F.concat(F.lit(f"{salt}|"), F.col("__u").cast("string"))
            )
            % 2,
        )
        .withColumn(
            "segment", (F.col("__u") % n_segments).cast("int")
        )
    )
    conv = df.where(F.col(type_col) == conversion_event).select(
        F.col(user_col).alias("__u"), F.col(ts_col).alias("__tc")
    )
    per_user = (
        exp.join(conv, "__u", "left")
        .groupBy("__u", "segment", "__arm")
        .agg(
            F.max((F.col("__tc") >= F.col("__t0")).cast("int")).alias(
                "__c"
            )
        )
    )
    cells = per_user.groupBy("segment").agg(
        F.sum(F.when(F.col("__arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(
            F.when(F.col("__arm") == 0, F.coalesce(F.col("__c"), F.lit(0)))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("__arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum(
            F.when(F.col("__arm") == 1, F.coalesce(F.col("__c"), F.lit(0)))
            .otherwise(0)
        )
        .cast("bigint")
        .alias("n_conv_b"),
    ).withColumnRenamed("n_conv_b", "conv_b")
    na = F.col("n_a").cast("double")
    ca = F.col("conv_a").cast("double")
    nb = F.col("n_b").cast("double")
    cb = F.col("conv_b").cast("double")
    p1 = ca / na
    p2 = cb / nb
    pp = (ca + cb) / (na + nb)
    se = F.sqrt(pp * (1 - pp) * (1 / na + 1 / nb))
    z = F.when((na > 0) & (nb > 0) & (se > 0), (p1 - p2) / se)
    zc = cells.withColumn("__z", z).withColumn(
        "__p",
        F.when(
            F.col("__z").isNotNull(),
            F.least(
                F.lit(1.0),
                F.lit(2.0) * F.expr(_phi_tail_sql("abs(__z)")),
            ),
        ),
    )
    from pyspark.sql.window import Window

    wseg = Window.orderBy(
        F.col("__p").asc_nulls_last(), F.col("segment").asc()
    )
    m = F.count(F.when(F.col("__p").isNotNull(), 1)).over(
        Window.partitionBy()
    )
    ranked = zc.withColumn("__i", F.row_number().over(wseg)).withColumn(
        "__m", m
    )
    flag = (
        F.col("__p").isNotNull()
        & (
            F.col("__p")
            <= F.col("__i").cast("double")
            / F.col("__m")
            * F.lit(fdr_q)
        )
    ).cast("int")
    kmax = F.max(F.when(flag == 1, F.col("__i"))).over(
        Window.partitionBy()
    )
    out = ranked.withColumn("__k", kmax).select(
        "segment",
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        round_to(F.col("__z"), 6).alias("z"),
        round_to(F.col("__p"), 6).alias(
            "p_value"
        ),
        F.col("__i").cast("int").alias("bh_rank"),
        F.coalesce(
            F.col("__p").isNotNull() & (F.col("__i") <= F.col("__k")),
            F.lit(False),
        ).alias("reject"),
    )
    return out.orderBy("segment")


def segment_ab_bh_sql(
    table: str,
    user_col: str,
    type_col: str,
    exposure_event: str,
    conversion_event: str,
    n_segments: int = 4,
    fdr_q: float = 0.05,
    salt: str = "ab",
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`segment_ab_bh` — identical arm hash, cell
    counts, the SAME A&S tail-polynomial text, and the same BH
    step-up windows."""
    h = h60_sql(f"{sql_quote(salt + '|')} || CAST(__u AS VARCHAR)")
    phi = _phi_tail_sql("abs(__z)")
    return f"""
    WITH exp AS MATERIALIZED (
        SELECT {user_col} AS __u,
               min(CAST({ts_col} AS TIMESTAMP)) AS __t0
        FROM {table} WHERE {type_col} = '{exposure_event}'
        GROUP BY 1
    ), armed AS (
        SELECT __u, __t0, ({h} % 2) AS __arm,
               CAST(__u % {n_segments} AS INT) AS segment
        FROM exp
    ), conv AS (
        SELECT {user_col} AS __u, CAST({ts_col} AS TIMESTAMP) AS __tc
        FROM {table} WHERE {type_col} = '{conversion_event}'
    ), per_user AS (
        SELECT a.__u, a.segment, a.__arm,
               COALESCE(max(CASE WHEN c.__tc >= a.__t0 THEN 1 ELSE 0 END),
                        0) AS __c
        FROM armed a LEFT JOIN conv c ON c.__u = a.__u
        GROUP BY 1, 2, 3
    ), cells AS (
        SELECT segment,
               CAST(sum(CASE WHEN __arm = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_a,
               CAST(sum(CASE WHEN __arm = 0 THEN __c ELSE 0 END)
                    AS BIGINT) AS conv_a,
               CAST(sum(CASE WHEN __arm = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_b,
               CAST(sum(CASE WHEN __arm = 1 THEN __c ELSE 0 END)
                    AS BIGINT) AS conv_b
        FROM per_user GROUP BY 1
    ), zc AS (
        SELECT *,
            CASE WHEN n_a > 0 AND n_b > 0
                 AND sqrt(((CAST(conv_a AS DOUBLE) + conv_b)
                           / (CAST(n_a AS DOUBLE) + n_b))
                          * (1 - (CAST(conv_a AS DOUBLE) + conv_b)
                             / (CAST(n_a AS DOUBLE) + n_b))
                          * (1 / CAST(n_a AS DOUBLE)
                             + 1 / CAST(n_b AS DOUBLE))) > 0
            THEN (CAST(conv_a AS DOUBLE) / n_a
                  - CAST(conv_b AS DOUBLE) / n_b)
                 / sqrt(((CAST(conv_a AS DOUBLE) + conv_b)
                         / (CAST(n_a AS DOUBLE) + n_b))
                        * (1 - (CAST(conv_a AS DOUBLE) + conv_b)
                           / (CAST(n_a AS DOUBLE) + n_b))
                        * (1 / CAST(n_a AS DOUBLE)
                           + 1 / CAST(n_b AS DOUBLE)))
            END AS __z
        FROM cells
    ), pp AS (
        SELECT *,
               CASE WHEN __z IS NOT NULL THEN
                    least(CAST(1 AS DOUBLE),
                          CAST(2 AS DOUBLE) * {phi})
               END AS __p
        FROM zc
    ), ranked AS (
        SELECT *,
               row_number() OVER (
                   ORDER BY __p ASC NULLS LAST, segment ASC
               ) AS __i,
               CAST(count(CASE WHEN __p IS NOT NULL THEN 1 END)
                    OVER () AS BIGINT) AS __m
        FROM pp
    ), flagged AS (
        SELECT *,
               max(CASE WHEN __p IS NOT NULL
                        AND __p <= CAST(__i AS DOUBLE) / __m
                                   * CAST({fdr_q} AS DOUBLE)
                        THEN __i END) OVER () AS __k
        FROM ranked
    )
    SELECT segment, n_a, conv_a, n_b, conv_b,
           round(__z * 1e6, 0) / 1e6 AS z,
           round(__p * 1e6, 0) / 1e6 AS p_value,
           CAST(__i AS INT) AS bh_rank,
           COALESCE(__p IS NOT NULL AND __i <= __k, FALSE) AS reject
    FROM flagged ORDER BY segment
    """


def ratio_metric_delta(
    df: DataFrame,
    user_col: str,
    type_col: str,
    num_event: str,
    num_value_col: str,
    den_event: str,
    salt: str = "ab",
    z_crit: float = 1.96,
) -> DataFrame:
    """Ratio-metric A/B readout with DELTA-METHOD standard errors
    (Deng, Knoblich & Lu, KDD 2018): the metric is a ratio of per-user
    sums — e.g. revenue per view — whose naive per-user-average SE is
    wrong because numerator and denominator correlate within users.
    Per arm: ``R = sum(X) / sum(Y)`` and
    ``Var(R) ~ (var_x - 2 R cov_xy + R^2 var_y) / (n * mean_y^2)``
    (first-order Taylor expansion around the means), then the
    two-arm z on the difference.

    X = integer-cent sum of ``num_value_col`` over ``num_event`` rows
    per user, Y = count of ``den_event`` rows per user; units are all
    users with any event; arms are the portable salted-hash split.

    Returns one row: ``(n_a, ratio_a, se_a, n_b, ratio_b, se_b, diff,
    z, significant)`` — ratios in original units per denominator
    event.

    Exactness / scale: the CUPED sufficient-statistic shape exactly —
    one user-keyed agg, DECIMAL(38,0) moment sums, a 2-row moment
    frame, single IEEE chains.
    """
    pu = (
        df.groupBy(F.col(user_col).alias("__u"))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col(type_col) == num_event,
                        to_fixed(F.col(num_value_col), 2),
                    )
                ),
                F.lit(0),
            ).alias("__x"),
            F.coalesce(
                F.sum(
                    F.when(F.col(type_col) == den_event, F.lit(1)).cast(
                        "long"
                    )
                ),
                F.lit(0),
            ).alias("__y"),
        )
        .withColumn(
            "__arm",
            (
                h60(
                    F.concat(
                        F.lit(f"{salt}|"), F.col("__u").cast("string")
                    )
                )
                % 2
            ).cast("int"),
        )
    )
    xd = F.col("__x").cast("decimal(19,0)")
    yd = F.col("__y").cast("decimal(19,0)")
    m = pu.groupBy("__arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(xd).cast("decimal(38,0)").alias("__sx"),
        F.sum(yd).cast("decimal(38,0)").alias("__sy"),
        F.sum(xd * xd).alias("__sxx"),
        F.sum(xd * yd).alias("__sxy"),
        F.sum(yd * yd).alias("__syy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sy = F.col("__sy").cast("double")
    mx = sx / n
    my = sy / n
    vx = F.col("__sxx").cast("double") / n - mx * mx
    vy = F.col("__syy").cast("double") / n - my * my
    cv = F.col("__sxy").cast("double") / n - mx * my
    ratio = F.when(F.col("__sy") > 0, sx / sy)
    var_r = F.when(
        (F.col("__sy") > 0) & (n > 0),
        (vx - F.lit(2.0) * ratio * cv + ratio * ratio * vy)
        / (n * (my * my)),
    )
    se = F.sqrt(F.greatest(F.lit(0.0), var_r))
    cells = m.select(
        "__arm",
        "__n",
        ratio.alias("__r"),
        se.alias("__se"),
    )
    a = F.when(F.col("__arm") == 0, 1).otherwise(0)
    b = F.when(F.col("__arm") == 1, 1).otherwise(0)
    agg = cells.agg(
        F.sum(a * F.col("__n")).cast("bigint").alias("n_a"),
        F.sum(a * F.col("__r")).alias("__ra"),
        F.sum(a * F.col("__se")).alias("__sea"),
        F.sum(b * F.col("__n")).cast("bigint").alias("n_b"),
        F.sum(b * F.col("__r")).alias("__rb"),
        F.sum(b * F.col("__se")).alias("__seb"),
    )
    diff = F.col("__ra") - F.col("__rb")
    sed = F.sqrt(
        F.col("__sea") * F.col("__sea") + F.col("__seb") * F.col("__seb")
    )
    z = F.when(sed > 0, diff / sed)
    cents = F.lit(100.0)
    return agg.select(
        "n_a",
        round_to(F.col("__ra") / cents, 6).alias("ratio_a"),
        round_to(F.col("__sea") / cents, 6).alias("se_a"),
        "n_b",
        round_to(F.col("__rb") / cents, 6).alias("ratio_b"),
        round_to(F.col("__seb") / cents, 6).alias("se_b"),
        round_to(diff / cents, 6).alias("diff"),
        round_to(z, 6).alias("z"),
        (F.abs(z) > F.lit(z_crit)).alias("significant"),
    )


def ratio_metric_delta_sql(
    table: str,
    user_col: str,
    type_col: str,
    num_event: str,
    num_value_col: str,
    den_event: str,
    salt: str = "ab",
    z_crit: float = 1.96,
    ts_col: str = "ts",
) -> str:
    """DuckDB twin of :func:`ratio_metric_delta`."""
    h = h60_sql(f"{sql_quote(salt + '|')} || CAST(__u AS VARCHAR)")
    return f"""
    WITH pu AS (
        SELECT {user_col} AS __u,
               COALESCE(sum(CASE WHEN {type_col} = '{num_event}'
                    THEN CAST(round({num_value_col} * 100, 0) AS BIGINT)
                    END), 0) AS __x,
               COALESCE(sum(CASE WHEN {type_col} = '{den_event}'
                    THEN CAST(1 AS BIGINT) END), 0) AS __y
        FROM {table} GROUP BY 1
    ), armed AS (
        SELECT CAST(({h} % 2) AS INT) AS __arm,
               CAST(__x AS DECIMAL(19,0)) AS __x,
               CAST(__y AS DECIMAL(19,0)) AS __y
        FROM pu
    ), m AS (
        SELECT __arm,
               CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__x) AS DECIMAL(38,0)) AS __sx,
               CAST(sum(__y) AS DECIMAL(38,0)) AS __sy,
               CAST(sum(__x * __x) AS DECIMAL(38,0)) AS __sxx,
               CAST(sum(__x * __y) AS DECIMAL(38,0)) AS __sxy,
               CAST(sum(__y * __y) AS DECIMAL(38,0)) AS __syy
        FROM armed GROUP BY 1
    ), cells AS (
        SELECT __arm, __n,
            CASE WHEN __sy > 0 THEN
                 CAST(__sx AS DOUBLE) / CAST(__sy AS DOUBLE) END AS __r,
            sqrt(greatest(CAST(0 AS DOUBLE),
                CASE WHEN __sy > 0 AND __n > 0 THEN
                ((CAST(__sxx AS DOUBLE) / CAST(__n AS DOUBLE)
                  - (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE))
                    * (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE)))
                 - CAST(2 AS DOUBLE)
                   * (CAST(__sx AS DOUBLE) / CAST(__sy AS DOUBLE))
                   * (CAST(__sxy AS DOUBLE) / CAST(__n AS DOUBLE)
                      - (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE))
                        * (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE)))
                 + (CAST(__sx AS DOUBLE) / CAST(__sy AS DOUBLE))
                   * (CAST(__sx AS DOUBLE) / CAST(__sy AS DOUBLE))
                   * (CAST(__syy AS DOUBLE) / CAST(__n AS DOUBLE)
                      - (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))
                        * (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))))
                / (CAST(__n AS DOUBLE)
                   * ((CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))
                      * (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))))
                END)) AS __se
        FROM m
    ), agg AS (
        SELECT
            CAST(sum(CASE WHEN __arm = 0 THEN __n ELSE 0 END) AS BIGINT)
                AS n_a,
            sum(CASE WHEN __arm = 0 THEN 1 ELSE 0 END * __r) AS __ra,
            sum(CASE WHEN __arm = 0 THEN 1 ELSE 0 END * __se) AS __sea,
            CAST(sum(CASE WHEN __arm = 1 THEN __n ELSE 0 END) AS BIGINT)
                AS n_b,
            sum(CASE WHEN __arm = 1 THEN 1 ELSE 0 END * __r) AS __rb,
            sum(CASE WHEN __arm = 1 THEN 1 ELSE 0 END * __se) AS __seb
        FROM cells
    )
    SELECT n_a,
           round(__ra / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS ratio_a,
           round(__sea / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS se_a,
           n_b,
           round(__rb / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS ratio_b,
           round(__seb / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS se_b,
           round((__ra - __rb) / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6
               AS diff,
           round(CASE WHEN sqrt(__sea * __sea + __seb * __seb) > 0 THEN
                 (__ra - __rb) / sqrt(__sea * __sea + __seb * __seb)
                 END * 1e6, 0) / 1e6 AS z,
           abs(CASE WHEN sqrt(__sea * __sea + __seb * __seb) > 0 THEN
               (__ra - __rb) / sqrt(__sea * __sea + __seb * __seb)
               END) > CAST({z_crit} AS DOUBLE) AS significant
    FROM agg
    """


def cmh_test(
    df: DataFrame,
    stratum_col: str,
    exposure: Column,
    outcome: Column,
) -> DataFrame:
    """Cochran-Mantel-Haenszel stratified 2x2 association test +
    Mantel-Haenszel common odds ratio (Mantel & Haenszel 1959) — the
    confounder-adjusted readout the pooled chi-square (q187) cannot
    give: association between a binary exposure and a binary outcome
    is tested WITHIN each stratum and combined, so a lurking stratum
    variable (Simpson's paradox) cannot fake or hide an effect.

    Per stratum the 2x2 is (a, b, c, d) with margins n1=a+b, n0=c+d,
    m1=a+c, m0=b+d, n:

        chi2_cmh = (|sum a - sum E| - 0.5)^2 / sum V      (df = 1)
        E = n1*m1/n,  V = n1*n0*m1*m0 / (n^2 (n-1))
        or_mh = sum(a*d/n) / sum(b*c/n)

    Single-row output: ``(n_strata, sum_a, chi2, p_value, or_mh)``.
    Strata with n < 2 contribute counts but no E/V mass (their V is
    undefined); ``or_mh`` is NULL when the denominator fold is 0; the
    continuity correction clamps at 0 (|diff| < 0.5 -> chi2 = 0).

    Exactness: per-stratum cells and margin products are exact BIGINT;
    E, V and the two odds folds are single divisions per stratum,
    nano-unit-rounded to BIGINT before summing (fold-order-free); the
    p-value is the df-1 identity chi2 -> z = sqrt(chi2) -> 2*(1-Phi(z))
    through the shared A&S 7.1.26 tail.

    Scale: ONE stratum-keyed conditional agg over the fact table;
    everything after runs on the stratum-cardinality frame.
    """
    x = exposure.cast("int")
    y = outcome.cast("int")
    per = (
        df.select(
            F.col(stratum_col).alias("__st"),
            x.alias("__x"),
            y.alias("__y"),
        )
        .where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
        .groupBy("__st")
        .agg(
            F.sum(F.when((F.col("__x") == 1) & (F.col("__y") == 1), 1)
                  .otherwise(0)).cast("bigint").alias("__a"),
            F.sum(F.when((F.col("__x") == 1) & (F.col("__y") == 0), 1)
                  .otherwise(0)).cast("bigint").alias("__b"),
            F.sum(F.when((F.col("__x") == 0) & (F.col("__y") == 1), 1)
                  .otherwise(0)).cast("bigint").alias("__c"),
            F.sum(F.when((F.col("__x") == 0) & (F.col("__y") == 0), 1)
                  .otherwise(0)).cast("bigint").alias("__d"),
        )
    )
    n1 = F.col("__a") + F.col("__b")
    n0 = F.col("__c") + F.col("__d")
    m1 = F.col("__a") + F.col("__c")
    m0 = F.col("__b") + F.col("__d")
    n = n1 + n0
    terms = per.select(
        "__a",
        F.when(
            n >= 2, to_fixed((n1 * m1).cast("double") / n.cast("double"), 9)
        )
        .otherwise(F.lit(0))
        .alias("__e"),
        F.when(
            n >= 2,
            to_fixed(
                (n1 * n0 * m1 * m0).cast("double")
                / (n * n * (n - 1)).cast("double"),
                9,
            ),
        )
        .otherwise(F.lit(0))
        .alias("__v"),
        to_fixed(
            (F.col("__a") * F.col("__d")).cast("double")
            / n.cast("double"),
            9,
        ).alias("__ad"),
        to_fixed(
            (F.col("__b") * F.col("__c")).cast("double")
            / n.cast("double"),
            9,
        ).alias("__bc"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("__a").cast("bigint").alias("sum_a"),
        F.sum("__e").cast("bigint").alias("__se"),
        F.sum("__v").cast("bigint").alias("__sv"),
        F.sum("__ad").cast("bigint").alias("__sad"),
        F.sum("__bc").cast("bigint").alias("__sbc"),
    )
    chi2_expr = (
        "(CASE WHEN __sv > 0 AND"
        " abs(CAST(sum_a AS DOUBLE) - CAST(__se AS DOUBLE) / 1e9)"
        " > CAST(0.5 AS DOUBLE) THEN"
        " (abs(CAST(sum_a AS DOUBLE) - CAST(__se AS DOUBLE) / 1e9)"
        "  - CAST(0.5 AS DOUBLE))"
        " * (abs(CAST(sum_a AS DOUBLE) - CAST(__se AS DOUBLE) / 1e9)"
        "    - CAST(0.5 AS DOUBLE))"
        " / (CAST(__sv AS DOUBLE) / 1e9)"
        " ELSE CAST(0 AS DOUBLE) END)"
    )
    return agg.select(
        "n_strata",
        "sum_a",
        round_to(F.expr(chi2_expr), 6).alias("chi2"),
        round_to(
            F.lit(2.0)
            * F.expr(_phi_tail_sql(f"sqrt({chi2_expr})")),
            6,
        ).alias("p_value"),
        round_to(
            F.when(
                F.col("__sbc") > 0,
                F.col("__sad").cast("double")
                / F.col("__sbc").cast("double"),
            ),
            6,
        ).alias("or_mh"),
    )


def cmh_test_sql(
    table_expr: str,
    stratum_col: str,
    exposure_sql: str,
    outcome_sql: str,
) -> str:
    """DuckDB twin of :func:`cmh_test` — identical cell agg, nano-unit
    E/V/odds folds, continuity clamp and A&S tail."""
    chi2_expr = (
        "(CASE WHEN __sv > 0 AND"
        " abs(CAST(sum_a AS DOUBLE) - CAST(__se AS DOUBLE) / 1e9)"
        " > CAST(0.5 AS DOUBLE) THEN"
        " (abs(CAST(sum_a AS DOUBLE) - CAST(__se AS DOUBLE) / 1e9)"
        "  - CAST(0.5 AS DOUBLE))"
        " * (abs(CAST(sum_a AS DOUBLE) - CAST(__se AS DOUBLE) / 1e9)"
        "    - CAST(0.5 AS DOUBLE))"
        " / (CAST(__sv AS DOUBLE) / 1e9)"
        " ELSE CAST(0 AS DOUBLE) END)"
    )
    return f"""
    WITH __per AS (
        SELECT {stratum_col} AS __st,
               CAST(sum(CASE WHEN __x = 1 AND __y = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS __a,
               CAST(sum(CASE WHEN __x = 1 AND __y = 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS __b,
               CAST(sum(CASE WHEN __x = 0 AND __y = 1 THEN 1 ELSE 0
                        END) AS BIGINT) AS __c,
               CAST(sum(CASE WHEN __x = 0 AND __y = 0 THEN 1 ELSE 0
                        END) AS BIGINT) AS __d
        FROM (SELECT {stratum_col},
                     CAST({exposure_sql} AS INTEGER) AS __x,
                     CAST({outcome_sql} AS INTEGER) AS __y
              FROM ({table_expr}))
        WHERE __x IS NOT NULL AND __y IS NOT NULL
        GROUP BY 1
    ), __terms AS (
        SELECT __a,
               CASE WHEN (__a+__b+__c+__d) >= 2 THEN
                    CAST(round(CAST((__a+__b)*(__a+__c) AS DOUBLE)
                         / CAST(__a+__b+__c+__d AS DOUBLE) * 1e9, 0)
                         AS BIGINT) ELSE 0 END AS __e,
               CASE WHEN (__a+__b+__c+__d) >= 2 THEN
                    CAST(round(CAST((__a+__b)*(__c+__d)*(__a+__c)
                                    *(__b+__d) AS DOUBLE)
                         / CAST((__a+__b+__c+__d)*(__a+__b+__c+__d)
                                *(__a+__b+__c+__d-1) AS DOUBLE)
                         * 1e9, 0) AS BIGINT) ELSE 0 END AS __v,
               CAST(round(CAST(__a*__d AS DOUBLE)
                    / CAST(__a+__b+__c+__d AS DOUBLE) * 1e9, 0)
                    AS BIGINT) AS __ad,
               CAST(round(CAST(__b*__c AS DOUBLE)
                    / CAST(__a+__b+__c+__d AS DOUBLE) * 1e9, 0)
                    AS BIGINT) AS __bc
        FROM __per
    ), __agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n_strata,
               CAST(sum(__a) AS BIGINT) AS sum_a,
               CAST(sum(__e) AS BIGINT) AS __se,
               CAST(sum(__v) AS BIGINT) AS __sv,
               CAST(sum(__ad) AS BIGINT) AS __sad,
               CAST(sum(__bc) AS BIGINT) AS __sbc
        FROM __terms
    )
    SELECT n_strata, sum_a,
           round({chi2_expr} * 1e6, 0) / 1e6 AS chi2,
           round(CAST(2 AS DOUBLE)
                 * {_phi_tail_sql(f"sqrt({chi2_expr})")}
                 * 1e6, 0) / 1e6 AS p_value,
           round(CASE WHEN __sbc > 0 THEN CAST(__sad AS DOUBLE)
                 / CAST(__sbc AS DOUBLE) END * 1e6, 0) / 1e6 AS or_mh
    FROM __agg
    """


def _propensity_frame(df, treat, outcome_col, x1, x2, iters, lr, clip):
    """The causal estimators' shared prelude: the staged feature frame
    ``(y, x1, x2, x3 = x1*x2, __oc)`` (treatment flag, covariates,
    integer-cent outcome; rows with a NULL input dropped), the q111
    logistic GD propensity model trained on it, and the clipped
    propensity Column ``e`` in ``[clip, 1-clip]``. Returns
    ``(feat, e)``; :func:`_propensity_sql` is the SQL twin."""
    x1d, x2d = x1.cast("double"), x2.cast("double")
    feat = df.select(
        treat.cast("double").alias("y"),
        x1d.alias("x1"),
        x2d.alias("x2"),
        (x1d * x2d).alias("x3"),
        to_fixed(F.col(outcome_col).cast("double"), 2).alias("__oc"),
    ).where(
        F.col("y").isNotNull()
        & F.col("x1").isNotNull()
        & F.col("x2").isNotNull()
        & F.col("__oc").isNotNull()
    )
    # the single-row-group bench inputs land the whole staged frame in
    # ONE scan partition, serializing every iterative training aggregate
    # on one core; spread it before checkpointing (no-op at real scale).
    # Row-sized, yet staged with `stage`: see its docstring's measurement
    feat = stage(rebalance_undersplit(feat))
    w = logreg_train(feat, iters=iters, lr=lr)
    return feat, F.least(F.lit(1.0 - clip), F.greatest(F.lit(clip), _sigma(w)))


def _propensity_sql(
    table_expr, treat_sql, outcome_col, x1_sql, x2_sql, iters, lr, clip
):
    """SQL twin of :func:`_propensity_frame`: ``(ctes, wf, e)`` — the
    ``feat`` CTE plus the full training chain, the final weights' CTE
    name and the clipped propensity's text over ``feat f CROSS JOIN
    {wf} w``."""
    feat = f"""
        SELECT CAST({treat_sql} AS DOUBLE) AS y,
               CAST({x1_sql} AS DOUBLE) AS x1,
               CAST({x2_sql} AS DOUBLE) AS x2,
               CAST({x1_sql} AS DOUBLE) * CAST({x2_sql} AS DOUBLE)
                   AS x3,
               CAST(round(CAST({outcome_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __oc
        FROM ({table_expr})
        WHERE {treat_sql} IS NOT NULL AND {x1_sql} IS NOT NULL
          AND {x2_sql} IS NOT NULL AND {outcome_col} IS NOT NULL
    """
    e = (
        f"least(CAST({1.0 - clip} AS DOUBLE),"
        f" greatest(CAST({clip} AS DOUBLE), {_SIGMA_SQL}))"
    )
    return _logreg_chain_sql(feat, iters, lr), f"w{iters}", e


def _naive_diff(ok: Column, s1: Column, n1: Column, s0: Column, n0: Column):
    """The unadjusted arm-mean difference in currency units (outcome
    sums are cents), micro-rounded; NULL unless ``ok``."""
    mean = lambda s, n: s.cast("double") / n.cast("double")  # noqa: E731
    diff = (mean(s1, n1) - mean(s0, n0)) / F.lit(100.0)
    return round_to(F.when(ok, diff), 6).alias("naive_diff")


def _naive_diff_sql(ok: str, s1: str, n1: str, s0: str, n0: str) -> str:
    """SQL twin of :func:`_naive_diff`."""
    return (
        f"round(CASE WHEN {ok} THEN"
        f" (CAST({s1} AS DOUBLE) / CAST({n1} AS DOUBLE)"
        f" - CAST({s0} AS DOUBLE) / CAST({n0} AS DOUBLE))"
        " / CAST(100 AS DOUBLE) END * 1e6, 0) / 1e6 AS naive_diff"
    )


def _arm_fold(t: str):
    """The naive arm fold over a frame with treatment flag ``t`` and
    cents ``__oc``: the aggregates ``n``, ``n_treat``, ``__s1`` and
    ``__s0``, and the ``naive_diff`` Column over them."""
    tc, oc = F.col(t), F.col("__oc")
    sums = [
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(tc == 1.0, 1).otherwise(0)).cast("bigint").alias("n_treat"),
        F.sum(F.when(tc == 1.0, oc).otherwise(0)).cast("bigint").alias("__s1"),
        F.sum(F.when(tc == 0.0, oc).otherwise(0)).cast("bigint").alias("__s0"),
    ]
    n, n1 = F.col("n"), F.col("n_treat")
    return sums, _naive_diff(
        (n1 > 0) & (n > n1), F.col("__s1"), n1, F.col("__s0"), n - n1
    )


def _arm_fold_sql(t: str) -> tuple[str, str]:
    """SQL twin of :func:`_arm_fold`: the aggregates' and the
    ``naive_diff``'s texts."""
    sums = f"""CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN {t} = 1.0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_treat,
               CAST(sum(CASE WHEN {t} = 1.0 THEN __oc ELSE 0 END)
                    AS BIGINT) AS __s1,
               CAST(sum(CASE WHEN {t} = 0.0 THEN __oc ELSE 0 END)
                    AS BIGINT) AS __s0"""
    return sums, _naive_diff_sql(
        "n_treat > 0 AND n > n_treat", "__s1", "n_treat", "__s0", "n - n_treat"
    )


def ipw_ate(
    df: DataFrame,
    treat: Column,
    outcome_col: str,
    x1: Column,
    x2: Column,
    iters: int = 8,
    lr: float = 2.0,
    clip: float = 0.05,
) -> DataFrame:
    """Inverse-propensity-weighted average treatment effect (Horvitz &
    Thompson 1952; Hajek-normalized) with an IN-ENGINE logistic
    propensity model — the observational-data companion to the
    randomized gates (CUPED q188, DiD q189): when treatment correlates
    with observed confounders, the naive group-mean difference is
    biased; reweighting each unit by 1/P(treatment | x) recovers the
    effect under unconfoundedness.

    The propensity model is the q111 batch-GD logistic regression
    (classifier.logreg_train: micro-unit integer gradient folds,
    round-6 weight updates — the full training replays in the twin) on
    features ``(x1, x2, x1*x2)``; propensities clip to
    ``[clip, 1-clip]`` (stated — the standard overlap trim).

        ate = sum(t*y/e)/sum(t/e) - sum((1-t)*y/(1-e))/sum((1-t)/(1-e))

    Returns one row: ``(n, n_treat, naive_diff, ate)`` — ``naive_diff``
    is the unadjusted group-mean difference for contrast.

    Exactness: outcome enters as integer cents; every weighted term
    (y*w, w) is micro-unit-rounded BIGINT before summing; the four
    ratio divisions end the chain.

    Scale: training is ``iters`` one-row aggregates (map-side
    partials, 5 values each); scoring + the ATE fold is ONE more pass.
    """
    feat, e = _propensity_frame(df, treat, outcome_col, x1, x2, iters, lr, clip)
    t = F.col("y")
    yd = F.col("__oc").cast("double")
    staged = feat.select(
        t.alias("__t"),
        F.col("__oc"),
        to_fixed(yd * t / e, 6).alias("__wy1"),
        to_fixed(t / e, 6).alias("__w1"),
        to_fixed(yd * (F.lit(1.0) - t) / (F.lit(1.0) - e), 6).alias("__wy0"),
        to_fixed((F.lit(1.0) - t) / (F.lit(1.0) - e), 6).alias("__w0"),
    )
    arms, naive = _arm_fold("__t")
    # micro terms reach ~1e15/row (cents / clipped propensity * 1e6):
    # the fold must widen to DECIMAL(38,0) — an int64 sum overflows
    # near 1e4 rows of extreme weights (caught by the sf0.1 bench,
    # invisible at sf0.01)
    agg = staged.agg(*arms, *[
        F.sum(F.col(f"__{k}").cast("decimal(38,0)")).alias(f"__s{k}")
        for k in ("wy1", "w1", "wy0", "w0")
    ])
    ate = (
        F.col("__swy1").cast("double") / F.col("__sw1").cast("double")
        - F.col("__swy0").cast("double")
        / F.col("__sw0").cast("double")
    ) / F.lit(100.0)
    return agg.select(
        "n",
        "n_treat",
        naive,
        round_to(
            F.when((F.col("__sw1") > 0) & (F.col("__sw0") > 0), ate),
            6,
        ).alias("ate"),
    )


def ipw_ate_sql(
    table_expr: str,
    treat_sql: str,
    outcome_col: str,
    x1_sql: str,
    x2_sql: str,
    iters: int = 8,
    lr: float = 2.0,
    clip: float = 0.05,
) -> str:
    """DuckDB twin of :func:`ipw_ate` — the ENTIRE propensity training
    chain as materialized CTEs (the q111 replay pattern), then the
    identical clip/weight/fold arithmetic."""
    ctes, wf, e = _propensity_sql(
        table_expr, treat_sql, outcome_col, x1_sql, x2_sql, iters, lr, clip
    )
    arms, naive = _arm_fold_sql("__t")
    ctes.append(
        f"""scored AS (
        SELECT f.y AS __t, f.__oc,
               CAST(round(CAST(f.__oc AS DOUBLE) * f.y / {e} * 1e6,
                    0) AS BIGINT) AS __wy1,
               CAST(round(f.y / {e} * 1e6, 0) AS BIGINT) AS __w1,
               CAST(round(CAST(f.__oc AS DOUBLE) * (1.0 - f.y)
                    / (1.0 - {e}) * 1e6, 0) AS BIGINT) AS __wy0,
               CAST(round((1.0 - f.y) / (1.0 - {e}) * 1e6, 0)
                    AS BIGINT) AS __w0
        FROM feat f CROSS JOIN {wf} w)"""
    )
    hsums = ", ".join(
        f"CAST(sum(CAST(__{k} AS HUGEINT)) AS HUGEINT) AS __s{k}"
        for k in ("wy1", "w1", "wy0", "w0")
    )
    ctes.append(f"agg AS (\n        SELECT {arms}, {hsums} FROM scored)")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT n, n_treat, {naive},
           round(CASE WHEN __sw1 > 0 AND __sw0 > 0 THEN
                 (CAST(__swy1 AS DOUBLE) / CAST(__sw1 AS DOUBLE)
                  - CAST(__swy0 AS DOUBLE) / CAST(__sw0 AS DOUBLE))
                 / CAST(100 AS DOUBLE) END * 1e6, 0) / 1e6 AS ate
    FROM agg
    """


def propensity_matching(
    df: DataFrame,
    treat: Column,
    outcome_col: str,
    x1: Column,
    x2: Column,
    iters: int = 8,
    lr: float = 2.0,
    clip: float = 0.05,
    caliper: float | None = None,
) -> DataFrame:
    """1-nearest-neighbor PROPENSITY-SCORE MATCHING ATT (Rosenbaum &
    Rubin 1983) — the matching member of the causal family beside IPW
    q226 / AIPW q246 / DiD / RDD / QTE: each treated unit is compared
    to the control units at the nearest propensity score, estimating
    the effect ON THE TREATED without weight blow-up at extreme
    propensities.

    The propensity model is the q111/q226 in-engine logistic GD chain
    on ``(x1, x2, x1*x2)`` (the oracle replays the full training);
    scores round 6 and clip to ``[clip, 1-clip]``, then quantize to
    micro-units ``em = round(e*1e6)`` — at most ~(1-2*clip)*1e6 + 1
    DISTINCT LEVELS, which is the whole scale story:

    - treated AND control units each reduce to per-``em`` levels
      ``(n, sum_cents)`` in one hash agg (map-side combine; matching
      ties at the same score share one match anyway);
    - the nearest control level at-or-below / at-or-above each treated
      level comes from the union+ordered-window as-of device over the
      BOUNDED level frame (never data-sized — the global window is
      over <= ~1e6 rows by construction). The bound is the QUANTIZATION
      GRID itself, not ``clip``: even at clip=0 the clipped-score range
      holds at most 1e6 + 1 distinct micro-unit levels per arm, so the
      single-task as-of sort worst case is ~2e6 narrow rows (~10^2 MB)
      — a documented floor, no range-partitioning needed at any clip;
    - the nearer side wins (ties to the below match); with-replacement
      matching, every tied control at the matched score contributes
      through the level mean;
    - optional ``caliper`` (propensity units): treated levels whose
      nearest control is farther than the caliper stay UNMATCHED and
      are excluded from the ATT (reported in ``n_matched``).

    Exactness: outcomes are integer cents; each matched level
    contributes ``round((s_t/n_t - s_c/n_c) * n_t * 1e4)`` micro-unit
    BIGINTs (one rounding per level), so the ATT fold is an exact
    integer sum; the final division ends the chain, round 6.

    Returns one row: ``(n, n_treat, n_matched, naive_diff, att)``.
    """
    feat, e = _propensity_frame(df, treat, outcome_col, x1, x2, iters, lr, clip)
    scored = feat.select(
        "y",
        "__oc",
        to_fixed(e, 6).alias("__em"),
    )
    levels = scored.groupBy("__em", "y").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__oc").cast("bigint").alias("__s"),
    )
    ctrl = levels.where(F.col("y") == 0.0).select(
        "__em",
        F.col("__n").alias("__nc"),
        F.col("__s").alias("__sc"),
    )
    trt = levels.where(F.col("y") == 1.0).select(
        "__em",
        F.col("__n").alias("__nt"),
        F.col("__s").alias("__st"),
    )
    m_type = "struct<em:bigint,nc:bigint,sc:bigint>"
    build = ctrl.select(
        "__em",
        F.lit(0).alias("__tag"),
        F.struct(
            F.col("__em").alias("em"),
            F.col("__nc").alias("nc"),
            F.col("__sc").alias("sc"),
        ).alias("__m"),
        F.lit(None).cast("bigint").alias("__nt"),
        F.lit(None).cast("bigint").alias("__st"),
    )
    probe = trt.select(
        "__em",
        F.lit(1).alias("__tag"),
        F.lit(None).cast(m_type).alias("__m"),
        "__nt",
        "__st",
    )
    union = build.unionByName(probe)
    # the level frame is bounded (micro-quantized clipped scores), so
    # the two global as-of windows never see data-sized partitions
    w_back = (
        Window.orderBy(F.col("__em").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.orderBy(F.col("__em").desc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    matched = (
        union.withColumn("__b", F.last("__m", ignorenulls=True).over(w_back))
        .withColumn("__f", F.last("__m", ignorenulls=True).over(w_fwd))
        .where(F.col("__tag") == 1)
    )
    d_b = F.col("__em") - F.col("__b.em")
    d_f = F.col("__f.em") - F.col("__em")
    use_back = F.col("__b").isNotNull() & (
        F.col("__f").isNull() | (d_b <= d_f)
    )
    sel = F.when(use_back, F.col("__b")).otherwise(F.col("__f"))
    dist = F.when(use_back, d_b).otherwise(d_f)
    picked = matched.select(
        "__nt",
        "__st",
        sel.alias("__c"),
        dist.alias("__d"),
    )
    if caliper is not None:
        cal_micro = int(round_half_away(caliper * 1e6))
        picked = picked.withColumn(
            "__c",
            F.when(F.col("__d") <= F.lit(cal_micro), F.col("__c")),
        )
    contrib = to_fixed(
        (
            F.col("__st").cast("double") / F.col("__nt").cast("double")
            - F.col("__c.sc").cast("double")
            / F.col("__c.nc").cast("double")
        )
        * F.col("__nt").cast("double"),
        4,
    )
    folds = picked.agg(
        F.sum(
            F.when(F.col("__c").isNotNull(), F.col("__nt")).otherwise(
                F.lit(0)
            )
        )
        .cast("bigint")
        .alias("__nm"),
        F.sum(F.when(F.col("__c").isNotNull(), contrib))
        .cast("bigint")
        .alias("__sum"),
    )
    arms, naive = _arm_fold("y")
    return scored.agg(*arms).crossJoin(F.broadcast(folds)).select(
        "n",
        "n_treat",
        F.coalesce(F.col("__nm"), F.lit(0)).alias("n_matched"),
        naive,
        round_to(
            F.when(
                F.col("__nm") > 0,
                F.col("__sum").cast("double")
                / (F.col("__nm").cast("double") * F.lit(1e6)),
            ),
            6,
        ).alias("att"),
    )


def propensity_matching_sql(
    table_expr: str,
    treat_sql: str,
    outcome_col: str,
    x1_sql: str,
    x2_sql: str,
    iters: int = 8,
    lr: float = 2.0,
    clip: float = 0.05,
    caliper: float | None = None,
) -> str:
    """DuckDB twin of :func:`propensity_matching` — the full logistic
    training chain as materialized CTEs (the q226 replay pattern), then
    the identical level-quantize / two-sided as-of / nearer-wins /
    exact-fold arithmetic."""
    ctes, wf, e = _propensity_sql(
        table_expr, treat_sql, outcome_col, x1_sql, x2_sql, iters, lr, clip
    )
    arms, naive = _arm_fold_sql("y")
    cal_pred = (
        f"AND __d <= {int(round_half_away(caliper * 1e6))}"
        if caliper is not None
        else ""
    )
    ctes.append(
        f"""scored AS MATERIALIZED (
        SELECT f.y, f.__oc,
               CAST(round({e} * 1e6, 0) AS BIGINT) AS __em
        FROM feat f CROSS JOIN {wf} w)"""
    )
    ctes.append(
        """levels AS MATERIALIZED (
        SELECT __em, y, CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__oc) AS BIGINT) AS __s
        FROM scored GROUP BY 1, 2)"""
    )
    ctes.append(
        """un AS (
        SELECT __em, 0 AS __tag, __em AS c_em, __n AS __nc, __s AS __sc,
               CAST(NULL AS BIGINT) AS __nt, CAST(NULL AS BIGINT) AS __st
        FROM levels WHERE y = 0.0
        UNION ALL
        SELECT __em, 1 AS __tag, CAST(NULL AS BIGINT),
               CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), __n, __s
        FROM levels WHERE y = 1.0)"""
    )
    ctes.append(
        """__nn AS (
        SELECT *,
               last_value(c_em IGNORE NULLS) OVER wb AS __bem,
               last_value(__nc IGNORE NULLS) OVER wb AS __bnc,
               last_value(__sc IGNORE NULLS) OVER wb AS __bsc,
               last_value(c_em IGNORE NULLS) OVER wf AS __fem,
               last_value(__nc IGNORE NULLS) OVER wf AS __fnc,
               last_value(__sc IGNORE NULLS) OVER wf AS __fsc
        FROM un
        WINDOW wb AS (ORDER BY __em ASC, __tag ASC
                      ROWS UNBOUNDED PRECEDING),
               wf AS (ORDER BY __em DESC, __tag ASC
                      ROWS UNBOUNDED PRECEDING))"""
    )
    ctes.append(
        """picked AS (
        SELECT __nt, __st,
               CASE WHEN __bem IS NOT NULL AND (__fem IS NULL
                         OR __em - __bem <= __fem - __em)
                    THEN __bnc ELSE __fnc END AS __cn,
               CASE WHEN __bem IS NOT NULL AND (__fem IS NULL
                         OR __em - __bem <= __fem - __em)
                    THEN __bsc ELSE __fsc END AS __cs,
               CASE WHEN __bem IS NOT NULL AND (__fem IS NULL
                         OR __em - __bem <= __fem - __em)
                    THEN __em - __bem ELSE __fem - __em END AS __d
        FROM __nn WHERE __tag = 1)"""
    )
    ctes.append(
        f"""folds AS (
        SELECT CAST(sum(CASE WHEN __cn IS NOT NULL {cal_pred}
                        THEN __nt ELSE 0 END) AS BIGINT) AS __nm,
               CAST(sum(CASE WHEN __cn IS NOT NULL {cal_pred}
                        THEN CAST(round((CAST(__st AS DOUBLE)
                                  / CAST(__nt AS DOUBLE)
                                  - CAST(__cs AS DOUBLE)
                                  / CAST(__cn AS DOUBLE))
                                 * CAST(__nt AS DOUBLE) * 1e4, 0)
                             AS BIGINT) END) AS BIGINT) AS __sum
        FROM picked)"""
    )
    ctes.append(f"base AS (\n        SELECT {arms} FROM scored)")
    body = ",\n    ".join(ctes)
    return f"""
    WITH {body}
    SELECT n, n_treat,
           COALESCE(__nm, 0) AS n_matched, {naive},
           round(CASE WHEN __nm > 0 THEN
                 CAST(__sum AS DOUBLE)
                 / (CAST(__nm AS DOUBLE) * 1e6) END * 1e6, 0) / 1e6
               AS att
    FROM base CROSS JOIN folds
    """


def aipw_ate(
    df: DataFrame,
    treat: Column,
    outcome_col: str,
    x1: Column,
    x2: Column,
    iters: int = 8,
    lr: float = 2.0,
    clip: float = 0.05,
) -> DataFrame:
    """DOUBLY-ROBUST augmented-IPW average treatment effect (Robins,
    Rotnitzky & Zhao 1994) — the causal ladder's top rung after naive
    (biased), IPW q226 (propensity only):

        psi = m1(x) - m0(x) + t*(y - m1(x))/e(x)
                            - (1-t)*(y - m0(x))/(1-e(x))
        ATE = mean(psi)

    consistent if EITHER the propensity model OR the outcome model is
    right. Propensity: the q111/q226 in-engine logistic GD chain
    (replayed in full by the twin). Outcome models m1/m0: closed-form
    per-arm two-feature OLS (the ols_two_feature algebra) computed
    IN-PLAN from one conditional-sum aggregation and broadcast back —
    no extra pass per arm.

    Exactness: OLS sufficient statistics fold as DECIMAL (q130
    convention); psi is micro-rounded BIGINT per row and folds as
    DECIMAL(38,0) (the q226 overflow lesson); singular arm designs
    NULL the estimate in both engines.

    Returns one row: ``(n, n_treat, naive_diff, ate_aipw)``.
    """
    feat, e = _propensity_frame(df, treat, outcome_col, x1, x2, iters, lr, clip)
    # features enter the OLS folds as EXACT micro-unit integers (a
    # DECIMAL(.,4) cast of acctbal/1000-style 5-digit doubles hits the
    # round-half boundary where Spark HALF_UPs and DuckDB half-evens —
    # caught by q246's first parity run); with exact integer sums the
    # closed-form doubles are bit-identical unrounded in both engines
    mfeat = feat.select(
        "y", "x1", "x2", "x3", "__oc",
        to_fixed(F.col("x1"), 6).alias("__x1m"),
        to_fixed(F.col("x2"), 6).alias("__x2m"),
    )

    def d38(c):
        return F.sum(c.cast("decimal(38,0)"))

    def arm(tv: int, suf: str):
        cond = F.col("y") == float(tv)
        cx1, cx2, cy = (
            F.when(cond, F.col(c)) for c in ("__x1m", "__x2m", "__oc")
        )
        return [
            F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
            .alias(f"n{suf}"),
            *_ols2_sums(cx1, cx2, cy, d38, suf, yy=False),
        ]
    stats = mfeat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *arm(1, "_1"),
        *arm(0, "_0"),
    )

    def solve(suf: str):
        n, s, c = _ols2_terms(suf)
        fit = _ols2_solve(n, c, s["1"], s["2"], s["y"])
        # no rounding: the sums are exact integers, so these doubles are
        # already bit-identical across engines (b1/b2 are in cents per
        # MICRO-feature-unit — rounding to 6 would destroy them)
        return [fit[b].alias(f"{b}{suf}") for b in ("b0", "b1", "b2")]
    models = stats.select(
        "n", "n_1", "sy_1", "n_0", "sy_0", *solve("_1"), *solve("_0")
    )
    yd = F.col("__oc").cast("double")
    t = F.col("y")
    x1md = F.col("__x1m").cast("double")
    x2md = F.col("__x2m").cast("double")
    m1 = F.col("b0_1") + F.col("b1_1") * x1md + F.col("b2_1") * x2md
    m0 = F.col("b0_0") + F.col("b1_0") * x1md + F.col("b2_0") * x2md
    psi = (
        m1 - m0
        + t * (yd - m1) / e
        - (F.lit(1.0) - t) * (yd - m0) / (F.lit(1.0) - e)
    )
    scored = mfeat.crossJoin(F.broadcast(models)).select(
        "n", "n_1", "sy_1", "n_0", "sy_0",
        to_fixed(psi, 6).alias("__psi"),
    )
    agg = scored.groupBy("n", "n_1", "sy_1", "n_0", "sy_0").agg(
        F.sum(F.col("__psi").cast("decimal(38,0)")).alias("__spsi"),
    )
    n1, n0 = F.col("n_1"), F.col("n_0")
    ate = (
        from_fixed(F.col("__spsi"), 6)
        / F.col("n").cast("double")
        / F.lit(100.0)
    )
    return agg.select(
        "n",
        n1.alias("n_treat"),
        _naive_diff((n1 > 0) & (n0 > 0), F.col("sy_1"), n1, F.col("sy_0"), n0),
        round_to(F.when(F.col("__spsi").isNotNull(), ate), 6).alias("ate_aipw"),
    )


def aipw_ate_sql(
    table_expr: str,
    treat_sql: str,
    outcome_col: str,
    x1_sql: str,
    x2_sql: str,
    iters: int = 8,
    lr: float = 2.0,
    clip: float = 0.05,
) -> str:
    """DuckDB twin of :func:`aipw_ate` — full logistic GD replay (the
    q226 chain), per-arm DECIMAL OLS sufficient statistics, identical
    psi expression, HUGEINT psi fold."""
    ctes, wf, e = _propensity_sql(
        table_expr, treat_sql, outcome_col, x1_sql, x2_sql, iters, lr, clip
    )

    def arm(tv: int, suf: str) -> str:
        def fold(a, *b):
            prod = "".join(f" * {f}" for f in b)
            return (
                f"CAST(sum(CASE WHEN y = {tv}.0 THEN CAST({a} AS HUGEINT)"
                f"{prod} END) AS HUGEINT)"
            )
        v = {"1": "__x1m", "2": "__x2m", "y": "__oc"}
        return (
            f"CAST(sum(CASE WHEN y = {tv}.0 THEN 1 ELSE 0 END)"
            f" AS BIGINT) AS n{suf}, {_ols2_sums_sql(v, fold, suf, yy=False)}"
        )

    def solve(suf: str) -> str:
        c = {k: f"({t})" for k, t in _ols2_terms_sql(suf).items()}
        _, when, b1, b2 = _ols2_solve_sql(c, "({det}) <> 0")
        s = {k: f"s{k}{suf}::DOUBLE" for k in ("1", "2", "y")}
        b0 = (
            f"CASE WHEN {when} THEN ({s['y']} - ({b1}) * {s['1']}"
            f" - ({b2}) * {s['2']}) / n{suf}::DOUBLE END"
        )
        return f"{b0} AS b0{suf}, {b1} AS b1{suf}, {b2} AS b2{suf}"

    ctes.append(
        """mfeat AS MATERIALIZED (
        SELECT y, x1, x2, x3, __oc,
               CAST(round(x1 * 1e6, 0) AS BIGINT) AS __x1m,
               CAST(round(x2 * 1e6, 0) AS BIGINT) AS __x2m
        FROM feat)"""
    )
    ctes.append(
        f"""stats AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n, {arm(1, "_1")}, {arm(0, "_0")}
        FROM mfeat)"""
    )
    ctes.append(
        f"""models AS MATERIALIZED (
        SELECT n, n_1, sy_1, n_0, sy_0, {solve("_1")}, {solve("_0")}
        FROM stats)"""
    )
    m1 = "(m.b0_1 + m.b1_1 * CAST(f.__x1m AS DOUBLE)" \
         " + m.b2_1 * CAST(f.__x2m AS DOUBLE))"
    m0 = "(m.b0_0 + m.b1_0 * CAST(f.__x1m AS DOUBLE)" \
         " + m.b2_0 * CAST(f.__x2m AS DOUBLE))"
    yd = "CAST(f.__oc AS DOUBLE)"
    psi = (
        f"{m1} - {m0} + f.y * ({yd} - {m1}) / {e}"
        f" - (1.0 - f.y) * ({yd} - {m0}) / (1.0 - {e})"
    )
    ctes.append(
        f"""scored AS (
        SELECT m.n, m.n_1, m.sy_1, m.n_0, m.sy_0,
               CAST(round(({psi}) * 1e6, 0) AS BIGINT) AS __psi
        FROM mfeat f CROSS JOIN {wf} w CROSS JOIN models m)"""
    )
    ctes.append(
        """agg AS (
        SELECT n, n_1, sy_1, n_0, sy_0,
               CAST(sum(CAST(__psi AS HUGEINT)) AS HUGEINT) AS __spsi
        FROM scored GROUP BY 1, 2, 3, 4, 5)"""
    )
    body = ",\n    ".join(ctes)
    naive = _naive_diff_sql("n_1 > 0 AND n_0 > 0", "sy_1", "n_1", "sy_0", "n_0")
    return f"""
    WITH {body}
    SELECT n, n_1 AS n_treat, {naive},
           round(CASE WHEN __spsi IS NOT NULL THEN
                 CAST(__spsi AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)
                 / CAST(100 AS DOUBLE) END * 1e6, 0) / 1e6 AS ate_aipw
    FROM agg
    """


def daily_rate_wilson(
    df: DataFrame,
    user_col: str,
    type_col: str,
    exposure_event: str,
    conversion_event: str,
    ts_col: str = "ts",
    z: float = 1.959964,
) -> DataFrame:
    """Daily conversion-rate monitor with Wilson score intervals
    (Wilson 1927) — the dashboard line every experiment/funnel team
    watches, with the CI that behaves at small n and extreme rates
    (the Wald interval collapses at p near 0/1):

        center = (p + z^2/2n) / (1 + z^2/n)
        half   = z * sqrt(p(1-p)/n + z^2/4n^2) / (1 + z^2/n)

    Per day: exposed users (distinct users with the exposure event
    that day), converted users (distinct users with BOTH events that
    day), rate, wilson_lo, wilson_hi.

    Exactness: distinct-user counts are exact; the Wilson chain is
    per-row scalar IEEE on those integers with the z literal injected
    CAST-to-DOUBLE (the q176 rule), identical text in both engines.

    Scale: two (day, user) DISTINCT aggs (map-side pre-collapse) + one
    day-keyed join; everything after runs on the calendar frame.
    """
    day = F.to_date(F.col(ts_col))
    exp = (
        df.where(F.col(type_col) == exposure_event)
        .select(day.alias("day"), F.col(user_col).alias("__u"))
        .distinct()
    )
    conv = (
        df.where(F.col(type_col) == conversion_event)
        .select(day.alias("day"), F.col(user_col).alias("__u"))
        .distinct()
    )
    per = (
        exp.join(conv, ["day", "__u"], "left_semi")
        .groupBy("day")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_conv"))
        .join(
            exp.groupBy("day").agg(
                F.count(F.lit(1)).cast("bigint").alias("n_exposed")
            ),
            "day",
            "right",
        )
        .select(
            "day",
            "n_exposed",
            F.coalesce(F.col("n_conv"), F.lit(0))
            .cast("bigint")
            .alias("n_conv"),
        )
    )
    zz = f"CAST({z} AS DOUBLE)"
    p = "(CAST(n_conv AS DOUBLE) / CAST(n_exposed AS DOUBLE))"
    n = "CAST(n_exposed AS DOUBLE)"
    denom = f"(CAST(1 AS DOUBLE) + {zz} * {zz} / {n})"
    center = f"(({p} + {zz} * {zz} / (CAST(2 AS DOUBLE) * {n})) / {denom})"
    half = (
        f"({zz} * sqrt({p} * (CAST(1 AS DOUBLE) - {p}) / {n}"
        f" + {zz} * {zz} / (CAST(4 AS DOUBLE) * {n} * {n})) / {denom})"
    )
    return per.select(
        "day",
        "n_exposed",
        "n_conv",
        round_to(F.expr(p), 6).alias("rate"),
        round_to(
            F.greatest(F.lit(0.0), F.expr(f"{center} - {half}")),
            6,
        ).alias("wilson_lo"),
        round_to(
            F.least(F.lit(1.0), F.expr(f"{center} + {half}")),
            6,
        ).alias("wilson_hi"),
    )


def daily_rate_wilson_sql(
    table: str,
    user_col: str,
    type_col: str,
    exposure_event: str,
    conversion_event: str,
    ts_col: str = "ts",
    z: float = 1.959964,
) -> str:
    """DuckDB twin of :func:`daily_rate_wilson` — identical distinct
    aggs and Wilson expression text."""
    zz = f"CAST({z} AS DOUBLE)"
    p = "(CAST(n_conv AS DOUBLE) / CAST(n_exposed AS DOUBLE))"
    n = "CAST(n_exposed AS DOUBLE)"
    denom = f"(CAST(1 AS DOUBLE) + {zz} * {zz} / {n})"
    center = f"(({p} + {zz} * {zz} / (CAST(2 AS DOUBLE) * {n})) / {denom})"
    half = (
        f"({zz} * sqrt({p} * (CAST(1 AS DOUBLE) - {p}) / {n}"
        f" + {zz} * {zz} / (CAST(4 AS DOUBLE) * {n} * {n})) / {denom})"
    )
    return f"""
    WITH __exp AS (
        SELECT DISTINCT CAST({ts_col} AS DATE) AS day,
               {user_col} AS __u
        FROM {table} WHERE {type_col} = '{exposure_event}'
    ), __conv AS (
        SELECT DISTINCT CAST({ts_col} AS DATE) AS day,
               {user_col} AS __u
        FROM {table} WHERE {type_col} = '{conversion_event}'
    ), __per AS (
        SELECT e.day,
               CAST(count(*) AS BIGINT) AS n_exposed,
               CAST(sum(CASE WHEN c.__u IS NOT NULL THEN 1 ELSE 0
                        END) AS BIGINT) AS n_conv
        FROM __exp e LEFT JOIN __conv c
          ON c.day = e.day AND c.__u = e.__u
        GROUP BY 1
    )
    SELECT day, n_exposed, n_conv,
           round({p} * 1e6, 0) / 1e6 AS rate,
           round(greatest(CAST(0 AS DOUBLE), {center} - {half})
                 * 1e6, 0) / 1e6 AS wilson_lo,
           round(least(CAST(1 AS DOUBLE), {center} + {half})
                 * 1e6, 0) / 1e6 AS wilson_hi
    FROM __per
    """


def cohort_ltv_curve(
    df: DataFrame,
    user_col: str,
    type_col: str,
    purchase_event: str,
    value_col: str,
    ts_col: str = "ts",
    period: str = "week",
) -> DataFrame:
    """Cohort LTV curve: cumulative revenue per user by cohort age —
    the monetized companion of the retention matrix (cohort_retention):
    users cohort by the period of their FIRST event (any type), and
    each (cohort, age) cell reads the cohort's cumulative per-user
    purchase revenue through that age.

    Returns ``(cohort, period_offset, cohort_size, period_revenue,
    cum_ltv)`` — ``cum_ltv`` = cumulative cents / cohort_size / 100,
    round-6; offsets are DENSE from 0 to the cohort's max observed
    age (zero-revenue periods appear — an LTV curve with holes
    misreads as a drop).

    Exactness: revenue folds integer cents; the cumulative sum runs on
    the bounded (cohort, age) grid; one division per cell.

    Scale: one user-keyed first-event agg, one (user, bucket) revenue
    agg, one join of the two reduced frames, then grid-sized work.
    """
    if period not in _PERIOD_DAYS:
        raise ValueError(f"period must be one of {sorted(_PERIOD_DAYS)}")
    div = _PERIOD_DAYS[period]
    first = df.groupBy(F.col(user_col).alias("__u")).agg(
        F.date_trunc(period, F.min(ts_col)).cast("date").alias("cohort")
    )
    rev = (
        df.where(F.col(type_col) == purchase_event)
        .select(
            F.col(user_col).alias("__u"),
            F.date_trunc(period, F.col(ts_col))
            .cast("date")
            .alias("__bucket"),
            to_fixed(F.col(value_col).cast("double"), 2).alias("__c"),
        )
        .groupBy("__u", "__bucket")
        .agg(F.sum("__c").alias("__c"))
    )
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("cohort_size")
    )
    cells = (
        rev.join(first, "__u")
        .select(
            "cohort",
            F.floor(
                F.datediff(F.col("__bucket"), F.col("cohort"))
                / F.lit(div)
            )
            .cast("int")
            .alias("period_offset"),
            "__c",
        )
        .groupBy("cohort", "period_offset")
        .agg(F.sum("__c").cast("bigint").alias("__pc"))
    )
    # dense offsets 0..max per cohort (the holes rule)
    spans = cells.groupBy("cohort").agg(
        F.max("period_offset").alias("__mx")
    )
    dense = spans.select(
        "cohort",
        F.explode(
            F.expr("sequence(0, greatest(__mx, 0))")
        ).alias("period_offset"),
    )
    w = (
        Window.partitionBy("cohort")
        .orderBy("period_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        dense.join(cells, ["cohort", "period_offset"], "left")
        .select(
            "cohort",
            "period_offset",
            F.coalesce(F.col("__pc"), F.lit(0))
            .cast("bigint")
            .alias("__pc"),
        )
        .join(F.broadcast(sizes), "cohort")
        .select(
            "cohort",
            "period_offset",
            "cohort_size",
            round_to(from_fixed(F.col("__pc"), 2), 6).alias(
                "period_revenue"
            ),
            round_to(
                F.sum("__pc").over(w).cast("double")
                / F.col("cohort_size").cast("double")
                / F.lit(100.0),
                6,
            ).alias("cum_ltv"),
        )
    )


def cohort_ltv_curve_sql(
    table: str,
    user_col: str,
    type_col: str,
    purchase_event: str,
    value_col: str,
    ts_col: str = "ts",
    period: str = "week",
) -> str:
    """DuckDB twin of :func:`cohort_ltv_curve`."""
    div = _PERIOD_DAYS[period]
    return f"""
    WITH __first AS (
        SELECT {user_col} AS __u,
               CAST(date_trunc('{period}', min({ts_col})) AS DATE)
                   AS cohort
        FROM {table} GROUP BY 1
    ), __rev AS (
        SELECT {user_col} AS __u,
               CAST(date_trunc('{period}', {ts_col}) AS DATE)
                   AS __bucket,
               CAST(sum(CAST(round(CAST({value_col} AS DOUBLE) * 100,
                             0) AS BIGINT)) AS BIGINT) AS __c
        FROM {table} WHERE {type_col} = '{purchase_event}'
        GROUP BY 1, 2
    ), __sizes AS (
        SELECT cohort, CAST(count(*) AS BIGINT) AS cohort_size
        FROM __first GROUP BY 1
    ), __cells AS (
        SELECT f.cohort,
               CAST(floor(date_diff('day', f.cohort, r.__bucket)
                    / {div}) AS INTEGER) AS period_offset,
               CAST(sum(r.__c) AS BIGINT) AS __pc
        FROM __rev r JOIN __first f ON r.__u = f.__u
        GROUP BY 1, 2
    ), __dense AS (
        SELECT cohort,
               CAST(unnest(range(0, greatest(__mx, 0) + 1))
                    AS INTEGER) AS period_offset
        FROM (SELECT cohort, max(period_offset) AS __mx
              FROM __cells GROUP BY 1)
    ), __grid AS (
        SELECT d.cohort, d.period_offset,
               CAST(COALESCE(c.__pc, 0) AS BIGINT) AS __pc
        FROM __dense d LEFT JOIN __cells c
          ON c.cohort = d.cohort
         AND c.period_offset = d.period_offset
    )
    SELECT g.cohort, g.period_offset, s.cohort_size,
           round(CAST(g.__pc AS DOUBLE) / CAST(100 AS DOUBLE)
                 * 1e6, 0) / 1e6 AS period_revenue,
           round(CAST(CAST(sum(g.__pc) OVER (PARTITION BY g.cohort
                      ORDER BY g.period_offset
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
                      ROW) AS BIGINT) AS DOUBLE)
                 / CAST(s.cohort_size AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS cum_ltv
    FROM __grid g JOIN __sizes s ON g.cohort = s.cohort
    """


def activity_streaks(
    df: DataFrame, entity_col: str, ts_col: str
) -> DataFrame:
    """Longest consecutive-day activity streak per entity, reported as a
    histogram (``longest_streak`` -> ``n_users``) — the gaps-and-islands
    engagement readout beside retention (cohort_retention) and growth
    accounting (timeseries.cumulative_distinct).

    Classic island key: within an entity's DISTINCT active days sorted
    ascending, ``day - row_number()`` is constant across a consecutive
    run, so one group-by on (entity, island) yields run lengths with no
    self-join.

    Scale design: events reduce to DISTINCT (entity, day) FIRST, so the
    per-entity window runs over at most entities x calendar-days rows
    (bounded by the date range, not event volume); the final histogram
    is tiny. No global sort, no window over raw events.
    """
    days = (
        df.select(
            F.col(entity_col).alias("__e"),
            F.col(ts_col).cast("date").alias("__d"),
        )
        .distinct()
    )
    w = Window.partitionBy("__e").orderBy("__d")
    runs = (
        days.withColumn(
            "__g", F.date_sub(F.col("__d"), F.row_number().over(w))
        )
        .groupBy("__e", "__g")
        .agg(F.count(F.lit(1)).alias("__run"))
    )
    return (
        runs.groupBy("__e")
        .agg(F.max("__run").alias("longest_streak"))
        .groupBy("longest_streak")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


def activity_streaks_sql(table: str, entity_col: str, ts_col: str) -> str:
    """DuckDB twin of :func:`activity_streaks` (date - INTEGER arithmetic
    matches Spark's date_sub; counts cast to BIGINT per the q11 rule)."""
    return f"""
    WITH days AS (
        SELECT DISTINCT {entity_col} AS __e, CAST({ts_col} AS DATE) AS __d
        FROM {table}
    ), runs AS (
        SELECT __e,
               __d - CAST(row_number() OVER (
                   PARTITION BY __e ORDER BY __d
               ) AS INTEGER) AS __g
        FROM days
    ), rl AS (
        SELECT __e, CAST(count(*) AS BIGINT) AS __run
        FROM runs GROUP BY __e, __g
    ), lg AS (
        SELECT __e, max(__run) AS longest_streak FROM rl GROUP BY __e
    )
    SELECT longest_streak, CAST(count(*) AS BIGINT) AS n_users
    FROM lg GROUP BY 1
    """


def _markov_paths(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    order_col: str,
    conversion: str,
) -> DataFrame:
    """Transition counts (src, dst, cnt, out) of the first-order
    conversion chain: per user, events up to and including the FIRST
    conversion event (all events for non-converters), mapped to states
    START -> channel... -> CONV (converters) / DROP (non-converters)."""
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    rn = df.withColumn("__rn", F.row_number().over(w))
    conv_rn = F.min(
        F.when(F.col(type_col) == conversion, F.col("__rn"))
    ).over(Window.partitionBy(user_col))
    kept = (
        rn.withColumn("__crn", conv_rn)
        .where(F.col("__crn").isNull() | (F.col("__rn") <= F.col("__crn")))
        .withColumn(
            "__state",
            F.when(F.col("__rn") == F.col("__crn"), F.lit("CONV")).otherwise(
                F.col(type_col)
            ),
        )
    )
    w2 = Window.partitionBy(user_col).orderBy("__rn")
    steps = kept.select(
        F.coalesce(F.lag("__state").over(w2), F.lit("START")).alias("src"),
        F.col("__state").alias("dst"),
    )
    w3 = Window.partitionBy(user_col).orderBy(F.col("__rn").desc())
    terminals = (
        kept.withColumn("__last", F.row_number().over(w3))
        .where((F.col("__last") == 1) & F.col("__crn").isNull())
        .select(F.col("__state").alias("src"), F.lit("DROP").alias("dst"))
    )
    trans = (
        steps.unionByName(terminals)
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w_out = Window.partitionBy("src")
    return trans.withColumn("out", F.sum("cnt").over(w_out))



def markov_attribution(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    order_col: str,
    conversion: str = "purchase",
    iters: int = 60,
) -> DataFrame:
    """First-order Markov removal-effect attribution (Anderl et al.
    2014): each channel's credit is how much the chain's conversion
    probability drops when that channel is knocked out (its value
    forced to 0 — mass entering it never converts).

    Absorption probabilities come from ``iters`` rounds of exact
    nano-unit integer value iteration v(s) <- sum_t cnt(s,t) * v(t)
    // out(s) with v(CONV) = 1e9, v(DROP) = 0 — floor division each
    round, so the fixpoint is bit-reproducible and the DuckDB oracle
    replays the ENTIRE iteration (unrolled CTEs), the q226-IPW
    replay pattern.

    Scale design: the 100 TB work is the ONE pass building transition
    counts (two user-keyed windows + a group-by bounded by the event-
    type vocabulary squared). The chain itself is metadata — at most
    ``max_states`` states — collected under a hard cap and iterated
    in exact Python integers, like the BPE merge-table collect.

    Returns one row per channel: (channel, v_removed_nano,
    removal_nano, v_full_nano), all from the START state.
    """
    trans_df = _markov_paths(
        df, user_col, type_col, ts_col, order_col, conversion
    )
    rows = trans_df.collect()  # bounded: vocab^2 transition rows
    if len(rows) > 64 * 64:
        raise ValueError(
            f"markov_attribution: {len(rows)} transition rows exceed the "
            "metadata cap (vocabulary too large for a collected chain)"
        )
    cnt: dict[tuple[str, str], int] = {}
    out: dict[str, int] = {}
    for r in rows:
        cnt[(r["src"], r["dst"])] = r["cnt"]
        out[r["src"]] = r["out"]
    srcs = sorted(out)
    channels = sorted(s for s in srcs if s != "START")

    def absorb(removed: str | None) -> int:
        v = {s: 0 for s in srcs}
        for _ in range(iters):
            nv = {}
            for s in srcs:
                acc = 0
                for (a, b), c in cnt.items():
                    if a != s:
                        continue
                    if b == removed:
                        val = 0
                    elif b == "CONV":
                        val = SCALE[9]
                    elif b == "DROP":
                        val = 0
                    else:
                        val = v.get(b, 0)
                    acc += c * val
                nv[s] = acc // out[s]
            if removed is not None:
                nv[removed] = 0
            v = nv
        return v["START"]

    v_full = absorb(None)
    data = [
        (c, absorb(c), v_full - absorb(c), v_full) for c in channels
    ]
    spark = df.sparkSession
    return spark.createDataFrame(
        data,
        "channel string, v_removed_nano long, removal_nano long, "
        "v_full_nano long",
    )


def markov_attribution_sql(
    table: str,
    user_col: str,
    type_col: str,
    ts_col: str,
    order_col: str,
    conversion: str = "purchase",
    iters: int = 60,
) -> str:
    """DuckDB twin of :func:`markov_attribution` — replays the FULL
    nano-unit value iteration as ``iters`` unrolled CTEs over the
    (variant, state) grid, one variant per knocked-out channel plus
    '__FULL__'. HUGEINT sums, `//` floor division, final cast BIGINT."""
    prev = "it0"
    steps = []
    for n in range(1, iters + 1):
        steps.append(f"""
    it{n} AS MATERIALIZED (
        SELECT v.var, t.src AS state,
               CAST(sum(CAST(t.cnt AS HUGEINT) * (CASE
                       WHEN t.dst = v.var THEN 0
                       WHEN t.dst = 'CONV' THEN {SCALE[9]}
                       WHEN t.dst = 'DROP' THEN 0
                       ELSE coalesce(pv.val, 0) END))
                    // min(t.out) AS BIGINT) AS val
        FROM trans t
        CROSS JOIN variants v
        LEFT JOIN {prev} pv ON pv.var = v.var AND pv.state = t.dst
        GROUP BY 1, 2
    )""")
        prev = f"it{n}"
    unrolled = ",".join(steps)
    return f"""
    WITH numbered AS (
        SELECT {user_col} AS __u, {type_col} AS __t,
               row_number() OVER (
                   PARTITION BY {user_col}
                   ORDER BY CAST({ts_col} AS TIMESTAMP), {order_col}
               ) AS __rn
        FROM {table}
    ), crn AS (
        SELECT __u,
               min(CASE WHEN __t = '{conversion}' THEN __rn END) AS __crn
        FROM numbered GROUP BY 1
    ), kept AS (
        SELECT n.__u, n.__rn, c.__crn,
               CASE WHEN n.__rn = c.__crn THEN 'CONV' ELSE n.__t END
                   AS __state
        FROM numbered n JOIN crn c ON n.__u = c.__u
        WHERE c.__crn IS NULL OR n.__rn <= c.__crn
    ), steps_cte AS (
        SELECT coalesce(lag(__state) OVER (
                   PARTITION BY __u ORDER BY __rn
               ), 'START') AS src,
               __state AS dst
        FROM kept
    ), terminals AS (
        SELECT __state AS src, 'DROP' AS dst
        FROM (
            SELECT __u, __state, __crn,
                   row_number() OVER (
                       PARTITION BY __u ORDER BY __rn DESC
                   ) AS __lastr
            FROM kept
        )
        WHERE __lastr = 1 AND __crn IS NULL
    ), counted AS (
        SELECT src, dst, CAST(count(*) AS BIGINT) AS cnt
        FROM (SELECT * FROM steps_cte UNION ALL SELECT * FROM terminals)
        GROUP BY 1, 2
    ), trans AS MATERIALIZED (
        SELECT src, dst, cnt,
               CAST(sum(cnt) OVER (PARTITION BY src) AS BIGINT) AS out
        FROM counted
    ), variants AS MATERIALIZED (
        SELECT DISTINCT src AS var FROM trans WHERE src <> 'START'
        UNION
        SELECT '__FULL__' AS var
    ), it0 AS (
        SELECT v.var, s.src AS state, CAST(0 AS BIGINT) AS val
        FROM variants v CROSS JOIN (SELECT DISTINCT src FROM trans) s
    ),{unrolled}
    SELECT st.var AS channel,
           st.val AS v_removed_nano,
           f.val - st.val AS removal_nano,
           f.val AS v_full_nano
    FROM {prev} st
    JOIN {prev} f
      ON f.var = '__FULL__' AND f.state = 'START'
    WHERE st.var <> '__FULL__' AND st.state = 'START'
    """


def shapley_attribution(
    df: DataFrame,
    user_col: str,
    type_col: str,
    ts_col: str,
    order_col: str,
    conversion: str,
    channels: list[str],
) -> DataFrame:
    """EXACT Shapley-value channel attribution over the coalition-
    presence characteristic function (Shapley 1953; the marketing
    form of Zhao et al. 2018): v(S) = number of converting users whose
    touched-channel set is contained in S, and

        phi_i = sum_{S not containing i} |S|!(K-1-|S|)!/K!
                  * (v(S + i) - v(S))

    computed entirely in INTEGERS — factorial weights stay unscaled
    (phi_num = K! * phi in user-count units), so both engines agree
    bit-for-bit; the micro-unit share divides once by K! * n_users
    with floor division. Conservation law: sum_i phi_num_i =
    K! * (v(all) - v(empty)).

    Scale design: the 100 TB pass is ONE user-keyed aggregation
    producing each user's channel bitmask + conversion flag (touches
    counted only up to the first conversion, the q238 path rule);
    everything after runs on the 2^K-row subset lattice (K =
    len(channels), capped at 16) — broadcast-sized metadata.

    Returns one row per channel:
    (channel, phi_num, shapley_micro, n_users, n_converted).
    """
    k = len(channels)
    if not 0 < k <= 16:
        raise ValueError("shapley_attribution: need 1..16 channels")
    import math

    fact = math.factorial
    w = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    rn = df.withColumn("__rn", F.row_number().over(w))
    conv_rn = F.min(
        F.when(F.col(type_col) == conversion, F.col("__rn"))
    ).over(Window.partitionBy(user_col))
    kept = rn.withColumn("__crn", conv_rn).where(
        F.col("__crn").isNull() | (F.col("__rn") <= F.col("__crn"))
    )
    mask_expr = None
    for i, ch in enumerate(channels):
        flag = F.max(
            F.when(
                (F.col(type_col) == ch)
                & (
                    F.col("__crn").isNull()
                    | (F.col("__rn") < F.col("__crn"))
                ),
                1,
            ).otherwise(0)
        ) * F.lit(1 << i)
        mask_expr = flag if mask_expr is None else mask_expr + flag
    users = kept.groupBy(F.col(user_col).alias("__u")).agg(
        mask_expr.cast("long").alias("__m"),
        F.max(
            F.when(F.col("__crn").isNotNull(), 1).otherwise(0)
        ).alias("__conv"),
    )
    tot = users.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("__conv").alias("n_converted"),
    )
    cm = (
        users.where(F.col("__conv") == 1)
        .groupBy("__m")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    spark = df.sparkSession
    subsets = spark.createDataFrame(
        [(s, fact(bin(s).count("1")) * fact(k - 1 - bin(s).count("1")))
         for s in range(1 << k) if bin(s).count("1") < k]
        + [(
            (1 << k) - 1,
            0,  # full set carries no marginal weight (never S in the sum)
        )],
        "s long, w long",
    )
    c_s = (
        F.broadcast(subsets)
        .join(cm, F.expr("(__m & s) = __m"), "left")
        .groupBy("s", "w")
        .agg(F.coalesce(F.sum("__c"), F.lit(0)).alias("__cs"))
    )
    chan = spark.createDataFrame(
        [(ch, 1 << i) for i, ch in enumerate(channels)],
        "channel string, bit long",
    )
    pairs = (
        F.broadcast(chan)
        .join(c_s.alias("a"), F.expr("(s & bit) = 0"))
        .join(
            c_s.select(
                F.col("s").alias("s1"), F.col("__cs").alias("__cs1")
            ).alias("b"),
            F.expr("s1 = (s | bit)"),
        )
    )
    phi = pairs.groupBy("channel").agg(
        F.sum(
            F.col("w") * (F.col("__cs1") - F.col("__cs"))
        ).cast("long").alias("phi_num")
    )
    return (
        phi.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "phi_num",
            F.expr(
                f"phi_num * 1000000L div ({fact(k)}L * n_users)"
            ).alias("shapley_micro"),
            "n_users",
            F.col("n_converted").cast("long").alias("n_converted"),
        )
    )


def shapley_attribution_sql(
    table: str,
    user_col: str,
    type_col: str,
    ts_col: str,
    order_col: str,
    conversion: str,
    channels: list[str],
) -> str:
    """DuckDB twin of :func:`shapley_attribution` — identical path
    rule, literal subset-lattice VALUES with precomputed factorial
    weights, exact integer folds, `//` floor division."""
    import math

    k = len(channels)
    fact = math.factorial
    flags = " + ".join(
        f"max(CASE WHEN __t = '{ch}' AND (__crn IS NULL OR __rn < __crn)"
        f" THEN 1 ELSE 0 END) * {1 << i}"
        for i, ch in enumerate(channels)
    )
    subset_rows = ", ".join(
        f"({s}, {fact(bin(s).count('1')) * fact(k - 1 - bin(s).count('1')) if bin(s).count('1') < k else 0})"
        for s in range(1 << k)
    )
    chan_rows = ", ".join(
        f"('{ch}', {1 << i})" for i, ch in enumerate(channels)
    )
    return f"""
    WITH numbered AS (
        SELECT {user_col} AS __u, {type_col} AS __t,
               row_number() OVER (
                   PARTITION BY {user_col}
                   ORDER BY CAST({ts_col} AS TIMESTAMP), {order_col}
               ) AS __rn
        FROM {table}
    ), crn AS (
        SELECT __u,
               min(CASE WHEN __t = '{conversion}' THEN __rn END) AS __crn
        FROM numbered GROUP BY 1
    ), kept AS (
        SELECT n.__u, n.__t, n.__rn, c.__crn
        FROM numbered n JOIN crn c ON n.__u = c.__u
        WHERE c.__crn IS NULL OR n.__rn <= c.__crn
    ), users AS MATERIALIZED (
        SELECT __u,
               CAST({flags} AS BIGINT) AS __m,
               max(CASE WHEN __crn IS NOT NULL THEN 1 ELSE 0 END)
                   AS __conv
        FROM kept GROUP BY __u
    ), tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(__conv) AS BIGINT) AS n_converted
        FROM users
    ), cm AS (
        SELECT __m, CAST(count(*) AS BIGINT) AS __c
        FROM users WHERE __conv = 1 GROUP BY 1
    ), subsets(s, w) AS (VALUES {subset_rows}),
    c_s AS MATERIALIZED (
        SELECT s.s, s.w,
               CAST(coalesce(sum(cm.__c), 0) AS BIGINT) AS __cs
        FROM subsets s LEFT JOIN cm ON (cm.__m & s.s) = cm.__m
        GROUP BY 1, 2
    ), chan(channel, bit) AS (VALUES {chan_rows}),
    phi AS (
        SELECT ch.channel,
               CAST(sum(a.w * (b.__cs - a.__cs)) AS BIGINT) AS phi_num
        FROM chan ch
        JOIN c_s a ON (a.s & ch.bit) = 0
        JOIN c_s b ON b.s = (a.s | ch.bit)
        GROUP BY 1
    )
    SELECT p.channel, p.phi_num,
           CAST(p.phi_num * 1000000 // ({fact(k)} * t.n_users)
                AS BIGINT) AS shapley_micro,
           t.n_users, t.n_converted
    FROM phi p CROSS JOIN tot t
    """


def regression_discontinuity(
    df: DataFrame,
    running_col: str,
    outcome_col: str,
    cutoff: float,
    bandwidth: float,
) -> DataFrame:
    """Sharp regression-discontinuity estimate (Thistlethwaite &
    Campbell 1960; Imbens & Lemieux 2008) — the causal-family member
    for THRESHOLD rules beside IPW/AIPW (confounder reweighting) and
    DiD (parallel trends): units just under vs just over a cutoff are
    locally comparable, so the jump of two local linear fits AT the
    cutoff is the treatment effect of crossing it.

        side  = [cutoff <= r < cutoff+h]  vs  [cutoff-h <= r < cutoff]
        fit   y = a + b*(r - cutoff) per side (closed-form OLS)
        effect = a_right - a_left

    Exactness: the running offset and outcome stage as exact integer
    CENTS; the five per-side OLS folds are DECIMAL(38,0)/HUGEINT (the
    q131/q255 device: x*y cents-squared passes int64 at sf0.1); the
    closed forms are identical double expressions; sides with < 2
    distinct running values or zero x-variance yield NULL.

    Scale: ONE bandwidth-filtered pass + one 2-group agg — no join,
    no window; the filter pushes to the scan.

    Returns one row ``(n_left, n_right, slope_left, slope_right,
    intercept_left, intercept_right, effect)``, round-6.
    """
    d38 = "decimal(38,0)"
    r = F.col(running_col).cast("double")
    staged = df.where(
        (r >= F.lit(cutoff - bandwidth))
        & (r < F.lit(cutoff + bandwidth))
        & F.col(outcome_col).isNotNull()
    ).select(
        F.when(r >= F.lit(cutoff), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__side"),
        (
            to_fixed(F.col(running_col).cast("double"), 2)
            - F.lit(int(round_half_away(cutoff * 100)))
        ).alias("__x"),
        to_fixed(F.col(outcome_col).cast("double"), 2).alias("__y"),
    )
    x = F.col("__x").cast(d38)
    y = F.col("__y").cast(d38)
    per = staged.groupBy("__side").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum(x).alias("__sx"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("__n").cast("double")
    sx = F.col("__sx").cast("double")
    sxx = F.col("__sxx").cast("double")
    sy = F.col("__sy").cast("double")
    sxy = F.col("__sxy").cast("double")
    det = n * sxx - sx * sx
    b = F.when(det != 0, (n * sxy - sx * sy) / det)
    a = F.when(F.col("__n") > 0, (sy - b * sx) / n)
    fits = per.select(
        "__side",
        F.col("__n"),
        b.alias("__b"),
        a.alias("__a"),
    )
    left = fits.where(F.col("__side") == 0).select(
        F.col("__n").alias("n_left"),
        F.col("__b").alias("__bl"),
        F.col("__a").alias("__al"),
    )
    right = fits.where(F.col("__side") == 1).select(
        F.col("__n").alias("n_right"),
        F.col("__b").alias("__br"),
        F.col("__a").alias("__ar"),
    )
    return left.crossJoin(F.broadcast(right)).select(
        "n_left",
        "n_right",
        round_to(F.col("__bl"), 6).alias("slope_left"),
        round_to(F.col("__br"), 6).alias("slope_right"),
        round_to(F.col("__al"), 6).alias("intercept_left"),
        round_to(F.col("__ar"), 6).alias("intercept_right"),
        round_to(F.col("__ar") - F.col("__al"), 6).alias("effect"),
    )


def regression_discontinuity_sql(
    table_expr: str,
    running_col: str,
    outcome_col: str,
    cutoff: float,
    bandwidth: float,
) -> str:
    """DuckDB twin of :func:`regression_discontinuity` — identical
    cent staging, HUGEINT folds and closed forms."""
    c100 = int(round_half_away(cutoff * 100))
    return f"""
    WITH __staged AS (
        SELECT CASE WHEN CAST({running_col} AS DOUBLE) >= {cutoff}
                    THEN 1 ELSE 0 END AS __side,
               CAST(round(CAST({running_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) - {c100} AS __x,
               CAST(round(CAST({outcome_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __y
        FROM ({table_expr})
        WHERE CAST({running_col} AS DOUBLE) >= {cutoff - bandwidth}
          AND CAST({running_col} AS DOUBLE) < {cutoff + bandwidth}
          AND {outcome_col} IS NOT NULL
    ), __per AS (
        SELECT __side,
               CAST(count(*) AS BIGINT) AS __n,
               sum(CAST(__x AS HUGEINT)) AS __sx,
               sum(CAST(__x AS HUGEINT) * CAST(__x AS HUGEINT))
                   AS __sxx,
               sum(CAST(__y AS HUGEINT)) AS __sy,
               sum(CAST(__x AS HUGEINT) * CAST(__y AS HUGEINT))
                   AS __sxy
        FROM __staged GROUP BY 1
    ), __fits AS (
        SELECT __side, __n,
               CASE WHEN CAST(__n AS DOUBLE) * CAST(__sxx AS DOUBLE)
                         - CAST(__sx AS DOUBLE) * CAST(__sx AS DOUBLE)
                         <> 0
                    THEN (CAST(__n AS DOUBLE) * CAST(__sxy AS DOUBLE)
                          - CAST(__sx AS DOUBLE) * CAST(__sy AS DOUBLE))
                         / (CAST(__n AS DOUBLE) * CAST(__sxx AS DOUBLE)
                            - CAST(__sx AS DOUBLE)
                              * CAST(__sx AS DOUBLE))
               END AS __b,
               CASE WHEN __n > 0
                    THEN (CAST(__sy AS DOUBLE)
                          - CASE WHEN CAST(__n AS DOUBLE)
                                      * CAST(__sxx AS DOUBLE)
                                      - CAST(__sx AS DOUBLE)
                                        * CAST(__sx AS DOUBLE) <> 0
                                 THEN (CAST(__n AS DOUBLE)
                                       * CAST(__sxy AS DOUBLE)
                                       - CAST(__sx AS DOUBLE)
                                         * CAST(__sy AS DOUBLE))
                                      / (CAST(__n AS DOUBLE)
                                         * CAST(__sxx AS DOUBLE)
                                         - CAST(__sx AS DOUBLE)
                                           * CAST(__sx AS DOUBLE))
                            END * CAST(__sx AS DOUBLE))
                         / CAST(__n AS DOUBLE)
               END AS __a
        FROM __per
    )
    SELECT l.__n AS n_left, r.__n AS n_right,
           round(l.__b * 1e6, 0) / 1e6 AS slope_left,
           round(r.__b * 1e6, 0) / 1e6 AS slope_right,
           round(l.__a * 1e6, 0) / 1e6 AS intercept_left,
           round(r.__a * 1e6, 0) / 1e6 AS intercept_right,
           round((r.__a - l.__a) * 1e6, 0) / 1e6 AS effect
    FROM (SELECT * FROM __fits WHERE __side = 0) l
    CROSS JOIN (SELECT * FROM __fits WHERE __side = 1) r
    """


def quantile_treatment_effects(
    df: DataFrame,
    treat: Column,
    outcome_col: str,
    n_bands: int = 10,
) -> DataFrame:
    """Quantile treatment effects (Doksum 1974; Koenker 2005 reads
    them as quantile-regression at a binary regressor): the
    treated-vs-control outcome gap at each decile — WHERE in the
    distribution the effect lives, which the single-number ATE
    family (q226 IPW / q246 AIPW) integrates away.

        QTE(q) = F_T^{-1}(q) - F_C^{-1}(q)     (type-1 inverse CDF:
                                                value at rank
                                                ceil(q*n), a pure
                                                integer selection)

    Exactness: outcomes stage as integer cents; each arm's CDF is a
    cumulative-count window over its DISTINCT-value frame (the q186
    KS device — never a row-level sort); the target rank
    ceil(d*n/10) is exact integer arithmetic (`div`, the q224
    lesson) and the quantile is the min value whose cumulative count
    reaches it. Everything through the output is integers.

    Scale: one (arm, cents) agg collapses the raw table; the window
    runs on the distinct-value frame; the rank probe is a broadcast
    join of 9 rows against it.

    Returns ``(decile, n_treat, n_ctrl, q_treat, q_ctrl, qte)``
    in cents, ordered by decile; arms with no rows yield no output.
    """
    cents = to_fixed(F.col(outcome_col).cast("double"), 2)
    staged = df.where(F.col(outcome_col).isNotNull()).select(
        treat.cast("int").alias("__t"), cents.alias("__c")
    )
    dist = staged.groupBy("__t", "__c").agg(
        F.count(F.lit(1)).cast("bigint").alias("__k")
    )
    w = Window.partitionBy("__t").orderBy("__c").rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("__t")
    # distinct-value-bounded; feeds the decile targets AND the rank
    # probe join — checkpoint so the raw agg + windows run once
    frame = stage(dist.select(
        "__t",
        "__c",
        F.sum("__k").over(w).cast("bigint").alias("__cum"),
        F.sum("__k").over(wn).cast("bigint").alias("__n"),
    ))
    deciles = (
        frame.select("__t", "__n")
        .distinct()
        .select(
            "__t",
            "__n",
            F.explode(
                F.sequence(F.lit(1), F.lit(n_bands - 1))
            ).alias("decile"),
        )
        .select(
            "__t",
            "__n",
            "decile",
            F.expr(f"(decile * __n + {n_bands} - 1) div {n_bands}")
            .cast("bigint")
            .alias("__r"),
        )
    )
    picked = stage(
        frame.join(F.broadcast(deciles), ["__t", "__n"])
        .where(F.col("__cum") >= F.col("__r"))
        .groupBy("__t", "__n", "decile")
        .agg(F.min("__c").alias("__v"))
        # <= 2 x (n_bands - 1) rows; feeds both arm projections
    )
    t_ = picked.where(F.col("__t") == 1).select(
        "decile",
        F.col("__n").alias("n_treat"),
        F.col("__v").alias("q_treat"),
    )
    c_ = picked.where(F.col("__t") == 0).select(
        "decile",
        F.col("__n").alias("n_ctrl"),
        F.col("__v").alias("q_ctrl"),
    )
    return (
        t_.join(c_, "decile")
        .select(
            "decile",
            "n_treat",
            "n_ctrl",
            "q_treat",
            "q_ctrl",
            (F.col("q_treat") - F.col("q_ctrl")).alias("qte"),
        )
        .orderBy("decile")
    )


def quantile_treatment_effects_sql(
    table_expr: str,
    treat_sql: str,
    outcome_col: str,
    n_bands: int = 10,
) -> str:
    """DuckDB twin of :func:`quantile_treatment_effects` — identical
    distinct-value CDF frame, integer rank probes and min-value
    selection."""
    return f"""
    WITH __staged AS (
        SELECT CAST({treat_sql} AS INTEGER) AS __t,
               CAST(round(CAST({outcome_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __c
        FROM ({table_expr}) WHERE {outcome_col} IS NOT NULL
    ), __dist AS (
        SELECT __t, __c, CAST(count(*) AS BIGINT) AS __k
        FROM __staged GROUP BY 1, 2
    ), __frame AS MATERIALIZED (
        SELECT __t, __c,
               CAST(sum(__k) OVER (PARTITION BY __t ORDER BY __c
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS BIGINT) AS __cum,
               CAST(sum(__k) OVER (PARTITION BY __t) AS BIGINT) AS __n
        FROM __dist
    ), __deciles AS (
        SELECT __t, __n, d.decile,
               CAST((d.decile * __n + {n_bands} - 1) // {n_bands}
                    AS BIGINT) AS __r
        FROM (SELECT DISTINCT __t, __n FROM __frame) a
        CROSS JOIN (SELECT CAST(unnest(range(1, {n_bands}))
                           AS INTEGER) AS decile) d
    ), __picked AS (
        SELECT f.__t, f.__n, d.decile, min(f.__c) AS __v
        FROM __frame f
        JOIN __deciles d
          ON d.__t = f.__t AND d.__n = f.__n AND f.__cum >= d.__r
        GROUP BY 1, 2, 3
    )
    SELECT t.decile,
           t.__n AS n_treat, c.__n AS n_ctrl,
           t.__v AS q_treat, c.__v AS q_ctrl,
           t.__v - c.__v AS qte
    FROM (SELECT * FROM __picked WHERE __t = 1) t
    JOIN (SELECT * FROM __picked WHERE __t = 0) c
      ON c.decile = t.decile
    ORDER BY t.decile
    """


def sequential_ab_looks(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    convert: Column,
    looks: int = 5,
    obf_c: float = 2.04,
) -> DataFrame:
    """Group-sequential A/B monitoring at equally-spaced interim looks
    with O'Brien-Fleming-style boundaries (O'Brien & Fleming 1979;
    Pocock 1977 is the flat alternative) — the peeking-safe monitor
    the fixed-horizon z-test (q148) cannot be: the boundary

        b_k = obf_c * sqrt(K / k)

    is wide early and narrows to ~obf_c at the final look, so
    repeatedly checking does not inflate the false-positive rate
    (obf_c ~= 2.04 is the two-sided alpha = 0.05 critical constant
    for K = 5 equally-spaced looks, embedded as a literal parameter).

    Arms split by the user id's parity (the q61 deterministic-split
    device); per look k, the cut is min_ts + ((max_ts - min_ts) * k)
    div K in exact epoch micros; a user enters arm counts when their
    FIRST event is inside the cut and converts when their first
    CONVERTING event is.

    Exactness: one user-level (first-event, first-conversion) agg;
    per-look arm counts are exact integers; z is the pooled
    two-proportion statistic of identical integers, round-6, NULL on
    a degenerate look (an empty arm or pooled p in {0, 1}).

    Scale: ONE user-keyed agg collapses events; the look expansion is
    users x K with a broadcast 2-row cut table; no window.

    Returns ``(look, n_treat, conv_treat, n_ctrl, conv_ctrl, z,
    boundary, crossed)`` ordered by look.
    """
    us = F.unix_micros(F.col(ts_col))
    users = (
        df.where(F.col(ts_col).isNotNull())
        .select(
            F.col(user_col).alias("__u"),
            us.alias("__us"),
            convert.cast("int").alias("__cv"),
        )
        .groupBy("__u")
        .agg(
            F.min("__us").alias("__first"),
            F.min(F.when(F.col("__cv") == 1, F.col("__us"))).alias(
                "__conv"
            ),
        )
        .select(
            (F.pmod(F.col("__u"), F.lit(2)) == 1)
            .cast("int")
            .alias("__t"),
            "__first",
            "__conv",
        )
    )
    rng = df.where(F.col(ts_col).isNotNull()).agg(
        F.min(us).alias("__lo"), F.max(us).alias("__hi")
    )
    cuts = rng.select(
        F.explode(F.sequence(F.lit(1), F.lit(looks))).alias("look"),
        "__lo",
        "__hi",
    ).select(
        "look",
        (
            F.col("__lo")
            + F.expr(f"((__hi - __lo) * look) div {looks}")
        ).alias("__cut"),
    )
    per = (
        users.crossJoin(F.broadcast(cuts))
        .where(F.col("__first") <= F.col("__cut"))
        .groupBy("look")
        .agg(
            F.sum(F.col("__t")).cast("bigint").alias("n_treat"),
            F.sum(
                F.col("__t")
                * F.when(
                    F.col("__conv") <= F.col("__cut"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("conv_treat"),
            F.sum(1 - F.col("__t")).cast("bigint").alias("n_ctrl"),
            F.sum(
                (1 - F.col("__t"))
                * F.when(
                    F.col("__conv") <= F.col("__cut"), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("conv_ctrl"),
        )
    )
    nt = F.col("n_treat").cast("double")
    nc = F.col("n_ctrl").cast("double")
    xt = F.col("conv_treat").cast("double")
    xc = F.col("conv_ctrl").cast("double")
    pp = (xt + xc) / (nt + nc)
    z = F.when(
        (F.col("n_treat") > 0)
        & (F.col("n_ctrl") > 0)
        & (pp > 0)
        & (pp < 1),
        (xt / nt - xc / nc)
        / F.sqrt(pp * (1 - pp) * (1 / nt + 1 / nc)),
    )
    import math

    bnd = {
        k: obf_c * math.sqrt(looks / k) for k in range(1, looks + 1)
    }
    boundary = F.element_at(
        F.create_map(
            *[
                x
                for k in range(1, looks + 1)
                for x in (F.lit(k), F.lit(round_half_away(bnd[k], 6)))
            ]
        ),
        F.col("look"),
    )
    return per.select(
        "look",
        "n_treat",
        "conv_treat",
        "n_ctrl",
        "conv_ctrl",
        round_to(z, 6).alias("z"),
        boundary.alias("boundary"),
        F.when(z.isNotNull(), (F.abs(round_to(z, 6)) > boundary))
        .cast("int")
        .alias("crossed"),
    ).orderBy("look")


def sequential_ab_looks_sql(
    table_expr: str,
    user_col: str,
    ts_col: str,
    convert_sql: str,
    looks: int = 5,
    obf_c: float = 2.04,
) -> str:
    """DuckDB twin of :func:`sequential_ab_looks` — identical cuts,
    arm counts, pooled z and the python-literal boundary table."""
    import math

    bvals = ", ".join(
        f"({k}, {round_half_away(obf_c * math.sqrt(looks / k), 6)})"
        for k in range(1, looks + 1)
    )
    return f"""
    WITH __users AS MATERIALIZED (
        SELECT CASE WHEN ({user_col} % 2 + 2) % 2 = 1
                    THEN 1 ELSE 0 END AS __t,
               min(epoch_us(CAST({ts_col} AS TIMESTAMP))) AS __first,
               min(CASE WHEN CAST({convert_sql} AS INTEGER) = 1
                   THEN epoch_us(CAST({ts_col} AS TIMESTAMP)) END)
                   AS __conv
        FROM ({table_expr}) WHERE {ts_col} IS NOT NULL
        GROUP BY {user_col}
    ), __rng AS (
        SELECT min(epoch_us(CAST({ts_col} AS TIMESTAMP))) AS __lo,
               max(epoch_us(CAST({ts_col} AS TIMESTAMP))) AS __hi
        FROM ({table_expr}) WHERE {ts_col} IS NOT NULL
    ), __cuts AS (
        SELECT CAST(l.look AS INTEGER) AS look,
               r.__lo + ((r.__hi - r.__lo) * l.look) // {looks}
                   AS __cut
        FROM (SELECT unnest(range(1, {looks} + 1)) AS look) l
        CROSS JOIN __rng r
    ), __per AS (
        SELECT c.look,
               CAST(sum(u.__t) AS BIGINT) AS n_treat,
               CAST(sum(u.__t * CASE WHEN u.__conv <= c.__cut
                        THEN 1 ELSE 0 END) AS BIGINT) AS conv_treat,
               CAST(sum(1 - u.__t) AS BIGINT) AS n_ctrl,
               CAST(sum((1 - u.__t) * CASE WHEN u.__conv <= c.__cut
                        THEN 1 ELSE 0 END) AS BIGINT) AS conv_ctrl
        FROM __users u JOIN __cuts c ON u.__first <= c.__cut
        GROUP BY 1
    ), __b(look, boundary) AS (VALUES {bvals})
    SELECT p.look, p.n_treat, p.conv_treat, p.n_ctrl, p.conv_ctrl,
           round(CASE WHEN p.n_treat > 0 AND p.n_ctrl > 0
                  AND CAST(p.conv_treat + p.conv_ctrl AS DOUBLE)
                      / CAST(p.n_treat + p.n_ctrl AS DOUBLE) > 0
                  AND CAST(p.conv_treat + p.conv_ctrl AS DOUBLE)
                      / CAST(p.n_treat + p.n_ctrl AS DOUBLE) < 1
                 THEN (CAST(p.conv_treat AS DOUBLE)
                       / CAST(p.n_treat AS DOUBLE)
                       - CAST(p.conv_ctrl AS DOUBLE)
                         / CAST(p.n_ctrl AS DOUBLE))
                      / sqrt((CAST(p.conv_treat + p.conv_ctrl
                                   AS DOUBLE)
                              / CAST(p.n_treat + p.n_ctrl AS DOUBLE))
                             * (1 - CAST(p.conv_treat + p.conv_ctrl
                                         AS DOUBLE)
                                    / CAST(p.n_treat + p.n_ctrl
                                           AS DOUBLE))
                             * (1.0 / CAST(p.n_treat AS DOUBLE)
                                + 1.0 / CAST(p.n_ctrl AS DOUBLE)))
                 END * 1e6, 0) / 1e6 AS z,
           CAST(b.boundary AS DOUBLE) AS boundary,
           CAST(CASE WHEN p.n_treat > 0 AND p.n_ctrl > 0
                  AND CAST(p.conv_treat + p.conv_ctrl AS DOUBLE)
                      / CAST(p.n_treat + p.n_ctrl AS DOUBLE) > 0
                  AND CAST(p.conv_treat + p.conv_ctrl AS DOUBLE)
                      / CAST(p.n_treat + p.n_ctrl AS DOUBLE) < 1
                THEN (abs(round((CAST(p.conv_treat AS DOUBLE)
                       / CAST(p.n_treat AS DOUBLE)
                       - CAST(p.conv_ctrl AS DOUBLE)
                         / CAST(p.n_ctrl AS DOUBLE))
                      / sqrt((CAST(p.conv_treat + p.conv_ctrl
                                   AS DOUBLE)
                              / CAST(p.n_treat + p.n_ctrl AS DOUBLE))
                             * (1 - CAST(p.conv_treat + p.conv_ctrl
                                         AS DOUBLE)
                                    / CAST(p.n_treat + p.n_ctrl
                                           AS DOUBLE))
                             * (1.0 / CAST(p.n_treat AS DOUBLE)
                                + 1.0 / CAST(p.n_ctrl AS DOUBLE)))
                      * 1e6, 0) / 1e6) > b.boundary)
                END AS INTEGER) AS crossed
    FROM __per p JOIN __b b ON b.look = p.look
    ORDER BY p.look
    """


def theil_index(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Theil T inequality index with the between/within-group
    decomposition (Theil 1967) — the concentration readout the Gini
    gate (q149) cannot give: Theil is ADDITIVELY DECOMPOSABLE, so
    "how much revenue inequality is across nations vs inside them"
    is an exact identity, not a narrative:

        T        = sum_i (x_i/X) ln(x_i/mu)         (mu = X/N)
        T_betw   = sum_g (X_g/X) ln(mu_g/mu)
        T_within = sum_g (X_g/X) T_g
        T = T_betw + T_within                        (exact identity,
                                                      pinned by law)

    Non-positive values are excluded (ln domain), their count
    reported.

    Exactness: x stages as integer cents; the only data-sized float
    fold sum(x ln x) rounds each term to PICO-units (1e-12) and sums
    as DECIMAL(38,0)/HUGEINT — fold-order-free, with accumulated
    rounding < 1e-7 at 1e5 rows (under the round-6 output grid); all
    other inputs (N, X, per-group N_g, X_g) are exact integers and
    the ln/ratio chain is identical expression text.

    Scale: one group-keyed agg over the staged rows + one tiny
    all-groups fold; no join on the fact side, no window.

    Returns one row ``(n, n_excluded, n_groups, theil, theil_between,
    theil_within)``, round-6; NULL indices when no positive rows.
    """
    d38 = "decimal(38,0)"
    cents = to_fixed(F.col(value_col).cast("double"), 2)
    staged = df.select(
        F.col(group_col).alias("__g"), cents.alias("__x")
    )
    excluded = staged.where(
        F.col("__x").isNull() | (F.col("__x") <= 0)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_excluded"))
    pos = staged.where(F.col("__x") > 0)
    xlx = to_fixed(
        F.col("__x").cast("double")
        * F.log(F.col("__x").cast("double")),
        12,
        wide=True,
    )
    # groups-bounded; feeds the total fold AND the decomposition join —
    # checkpoint so the fact-side agg runs once
    per = stage(pos.groupBy("__g").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").cast(d38).alias("__sx"),
        F.sum(xlx).alias("__sxl"),
    ))
    tot = per.agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("__sx").alias("__tx"),
        F.sum("__sxl").alias("__txl"),
    )
    # T = [sum x ln x]/X - ln(X/N); T_g likewise per group
    j = per.crossJoin(F.broadcast(tot))
    xg = F.col("__sx").cast("double")
    xt = F.col("__tx").cast("double")
    ng = F.col("__n").cast("double")
    nt = F.col("n").cast("double")
    mu_g = xg / ng
    mu = xt / nt
    t_g = (
        from_fixed(F.col("__sxl"), 12) / xg
        - F.log(mu_g)
    )
    betw_term = (xg / xt) * F.log(mu_g / mu)
    with_term = (xg / xt) * t_g
    folds = j.select(
        "n",
        "n_groups",
        "__tx",
        "__txl",
        to_fixed(betw_term, 9, wide=True).alias("__bt"),
        to_fixed(with_term, 9, wide=True).alias("__wt"),
    ).groupBy("n", "n_groups", "__tx", "__txl").agg(
        from_fixed(F.sum("__bt"), 9).alias("__betw"),
        from_fixed(F.sum("__wt"), 9).alias("__with"),
    )
    t_all = (
        from_fixed(F.col("__txl"), 12)
        / F.col("__tx").cast("double")
        - F.log(
            F.col("__tx").cast("double") / F.col("n").cast("double")
        )
    )
    return folds.crossJoin(F.broadcast(excluded)).select(
        "n",
        "n_excluded",
        "n_groups",
        round_to(t_all, 6).alias("theil"),
        round_to(F.col("__betw"), 6).alias("theil_between"),
        round_to(F.col("__with"), 6).alias("theil_within"),
    )


def theil_index_sql(
    table_expr: str,
    group_col: str,
    value_col: str,
) -> str:
    """DuckDB twin of :func:`theil_index` — identical cent staging,
    pico-unit x*ln(x) folds and decomposition chain."""
    return f"""
    WITH __staged AS (
        SELECT {group_col} AS __g,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __x
        FROM ({table_expr})
    ), __excluded AS (
        SELECT CAST(count(*) AS BIGINT) AS n_excluded
        FROM __staged WHERE __x IS NULL OR __x <= 0
    ), __per AS MATERIALIZED (
        SELECT __g,
               CAST(count(*) AS BIGINT) AS __n,
               sum(CAST(__x AS HUGEINT)) AS __sx,
               sum(CAST(round(CAST(__x AS DOUBLE)
                        * ln(CAST(__x AS DOUBLE)) * 1e12, 0)
                        AS HUGEINT)) AS __sxl
        FROM __staged WHERE __x > 0
        GROUP BY 1
    ), __tot AS (
        SELECT CAST(sum(__n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_groups,
               sum(__sx) AS __tx,
               sum(__sxl) AS __txl
        FROM __per
    ), __folds AS (
        SELECT t.n, t.n_groups, t.__tx, t.__txl,
               CAST(sum(CAST(round(
                   (CAST(p.__sx AS DOUBLE) / CAST(t.__tx AS DOUBLE))
                   * ln((CAST(p.__sx AS DOUBLE)
                         / CAST(p.__n AS DOUBLE))
                        / (CAST(t.__tx AS DOUBLE)
                           / CAST(t.n AS DOUBLE)))
                   * 1e9, 0) AS HUGEINT)) AS DOUBLE) / 1e9 AS __betw,
               CAST(sum(CAST(round(
                   (CAST(p.__sx AS DOUBLE) / CAST(t.__tx AS DOUBLE))
                   * (CAST(p.__sxl AS DOUBLE) / 1e12
                      / CAST(p.__sx AS DOUBLE)
                      - ln(CAST(p.__sx AS DOUBLE)
                           / CAST(p.__n AS DOUBLE)))
                   * 1e9, 0) AS HUGEINT)) AS DOUBLE) / 1e9 AS __with
        FROM __per p CROSS JOIN __tot t
        GROUP BY 1, 2, 3, 4
    )
    SELECT f.n, e.n_excluded, f.n_groups,
           round((CAST(f.__txl AS DOUBLE) / 1e12
                  / CAST(f.__tx AS DOUBLE)
                  - ln(CAST(f.__tx AS DOUBLE) / CAST(f.n AS DOUBLE)))
                 * 1e6, 0) / 1e6 AS theil,
           round(f.__betw * 1e6, 0) / 1e6 AS theil_between,
           round(f.__with * 1e6, 0) / 1e6 AS theil_within
    FROM __folds f CROSS JOIN __excluded e
    """


def tost_equivalence(
    df: "DataFrame",
    user_col: str,
    value_col: str,
    delta: float,
    salt: str = "ab",
) -> "DataFrame":
    """TOST equivalence test (Schuirmann 1987, two one-sided tests) —
    the A/B readout for "are these arms the SAME within ±delta", the
    question a failed difference test cannot answer (absence of
    evidence is not evidence of absence). Arms come from the portable
    salted-hash split (the q61/q148 device); the unit is a user's
    integer-cent value sum.

    Both one-sided statistics test the difference against the margin:

        t_lower = (diff + delta) / se       (H0: diff <= -delta)
        t_upper = (delta - diff) / se       (H0: diff >= +delta)

    with Welch se = sqrt(v_a/n_a + v_b/n_b) over population variances.
    Equivalence holds at ~alpha 0.05 when min(t_lower, t_upper) >=
    1.645 (the normal critical value — statistics are reported, not
    p-values, the q288 convention; the z approximation is the
    large-sample TOST, documented).

    Exactness: per-arm sufficient statistics (n, S, SS) are exact
    DECIMAL(38,0) folds of integer cents; the IEEE chain runs once
    over those identical integers in both engines, round 6.

    Scale: ONE user-keyed agg (map-side combinable) + ONE 2-row moment
    agg. Returns one row ``(n_a, n_b, mean_a, mean_b, diff, se,
    t_lower, t_upper, equivalent)``.
    """
    from pyspark.sql import functions as F

    from ..functions.hashing import h60

    arm = (
        h60(F.concat(F.lit(f"{salt}|"), F.col(user_col).cast("string")))
        % 2
    ).alias("__arm")
    cents = to_fixed(F.col(value_col).cast("double"), 2)
    per_user = (
        df.where(F.col(user_col).isNotNull() & F.col(value_col).isNotNull())
        .groupBy(F.col(user_col).alias("__u"))
        .agg(F.sum(cents).alias("__y"))
        .select(
            (
                h60(F.concat(F.lit(f"{salt}|"), F.col("__u").cast("string")))
                % 2
            ).alias("__arm"),
            "__y",
        )
    )
    mom = per_user.groupBy("__arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__y").cast("decimal(38,0)").alias("__s"),
        F.sum(F.col("__y").cast("decimal(38,0)") * F.col("__y")).alias("__ss"),
    )
    a = mom.where(F.col("__arm") == 0).select(
        F.col("__n").alias("n_a"), F.col("__s").alias("__sa"),
        F.col("__ss").alias("__ssa"),
    )
    b = mom.where(F.col("__arm") == 1).select(
        F.col("__n").alias("n_b"), F.col("__s").alias("__sb"),
        F.col("__ss").alias("__ssb"),
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    ma = F.col("__sa").cast("double") / na / F.lit(100.0)
    mb = F.col("__sb").cast("double") / nb / F.lit(100.0)
    va = (
        F.col("__ssa").cast("double") / na
        - F.pow(F.col("__sa").cast("double") / na, 2)
    ) / F.lit(10000.0)
    vb = (
        F.col("__ssb").cast("double") / nb
        - F.pow(F.col("__sb").cast("double") / nb, 2)
    ) / F.lit(10000.0)
    diff = mb - ma
    se = F.sqrt(va / na + vb / nb)
    t_lo = (diff + F.lit(float(delta))) / se
    t_up = (F.lit(float(delta)) - diff) / se
    return (
        a.crossJoin(F.broadcast(b))
        .select(
            "n_a",
            "n_b",
            round_to(ma, 6).alias("mean_a"),
            round_to(mb, 6).alias("mean_b"),
            round_to(diff, 6).alias("diff"),
            round_to(se, 6).alias("se"),
            round_to(t_lo, 6).alias("t_lower"),
            round_to(t_up, 6).alias("t_upper"),
            (F.least(t_lo, t_up) >= F.lit(1.645)).alias("equivalent"),
        )
    )


def tost_equivalence_sql(
    table: str, user_col: str, value_col: str, delta: float,
    salt: str = "ab",
) -> str:
    """DuckDB twin of :func:`tost_equivalence` (same hash arms, same
    DECIMAL folds and IEEE chain)."""
    from ..functions.hashing import h60_sql

    h = h60_sql(f"'{salt}|' || CAST(__u AS VARCHAR)")
    return f"""
    WITH per_user AS MATERIALIZED (
        SELECT {user_col} AS __u,
               CAST(sum(CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                             AS BIGINT)) AS BIGINT) AS __y
        FROM {table}
        WHERE {user_col} IS NOT NULL AND {value_col} IS NOT NULL
        GROUP BY 1
    ), armed AS (
        SELECT ({h} % 2) AS __arm, __y FROM per_user
    ), mom AS (
        SELECT __arm, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(__y) AS HUGEINT) AS s,
               CAST(sum(CAST(__y AS HUGEINT) * __y) AS HUGEINT) AS ss
        FROM armed GROUP BY 1
    ), w AS (
        SELECT
            (SELECT n FROM mom WHERE __arm = 0) AS n_a,
            (SELECT n FROM mom WHERE __arm = 1) AS n_b,
            (SELECT s FROM mom WHERE __arm = 0) AS sa,
            (SELECT s FROM mom WHERE __arm = 1) AS sb,
            (SELECT ss FROM mom WHERE __arm = 0) AS ssa,
            (SELECT ss FROM mom WHERE __arm = 1) AS ssb
    ), calc AS (
        SELECT n_a, n_b,
               CAST(sa AS DOUBLE) / n_a / 100.0 AS ma,
               CAST(sb AS DOUBLE) / n_b / 100.0 AS mb,
               (CAST(ssa AS DOUBLE) / n_a
                - pow(CAST(sa AS DOUBLE) / n_a, 2)) / 10000.0 AS va,
               (CAST(ssb AS DOUBLE) / n_b
                - pow(CAST(sb AS DOUBLE) / n_b, 2)) / 10000.0 AS vb
        FROM w
    )
    SELECT n_a, n_b,
           round(ma, 6) AS mean_a,
           round(mb, 6) AS mean_b,
           round(mb - ma, 6) AS diff,
           round(sqrt(va / n_a + vb / n_b), 6) AS se,
           round((mb - ma + {float(delta)!r}) / sqrt(va / n_a + vb / n_b), 6)
               AS t_lower,
           round(({float(delta)!r} - (mb - ma)) / sqrt(va / n_a + vb / n_b), 6)
               AS t_upper,
           least((mb - ma + {float(delta)!r}) / sqrt(va / n_a + vb / n_b),
                 ({float(delta)!r} - (mb - ma))
                 / sqrt(va / n_a + vb / n_b)) >= 1.645 AS equivalent
    FROM calc
    """
