"""Time-series regularization: resample + gap fill.

Event streams arrive irregular; downstream consumers (feature windows,
anomaly baselines, training curricula keyed by time) want a REGULAR grid
per key with explicit gap semantics. ``resample_gapfill`` buckets events
to a fixed interval, completes the per-key grid between each key's first
and last bucket, and carries the last observation forward across gaps —
the classic as-of/ffill semantic expressed in plain DataFrame ops.

Scale design
------------
* The observed aggregation is one (key, bucket)-keyed hash agg with
  map-side partials — shuffle bounded by keys x occupied buckets.
* The grid comes from ``sequence() + explode`` over each key's (min, max)
  bucket pair — generated map-side from a tiny per-key span table, never
  by joining a global calendar dimension.
* Fill is one per-key window (``last ignorenulls``) over the grid, which
  is bounded by keys x span-buckets regardless of raw event volume. Keys
  partition the window, so there is no global-window funnel; a pathological
  multi-year span per key is visible up front in the span table.

Reference parity: the reference has no temporal operators at all; this
extends the as-of family (operators/asof.py) the same way q51/q51b do.
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
from ..staging import stage
from .classifier import (
    _ols2_solve,
    _ols2_solve_sql,
    _ols2_sums,
    _ols2_sums_sql,
    _ols2_terms,
    _ols2_terms_sql,
)

# fixed-length units where "N <unit>" flooring is well defined in epoch
# seconds; month/year buckets are calendar-shaped and only support N == 1
_UNIT_SECONDS = {
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def _parse_interval(interval: str) -> tuple[int, str]:
    """Validate ``'N unit'`` and return ``(N, singular_unit)``.

    Multi-count intervals over calendar units (month/year) have no
    epoch-aligned floor, so they raise instead of silently dropping
    off-step observations (the pre-round-5 bug: date_trunc bucketed by
    the single unit while the grid stepped by the full interval, so
    observations in off-step buckets never joined the grid).
    """
    parts = interval.split()
    if len(parts) != 2:
        raise ValueError(f"interval must be 'N unit', got {interval!r}")
    n = int(parts[0])
    unit = parts[1].rstrip("s")
    if n < 1:
        raise ValueError(f"interval count must be >= 1, got {interval!r}")
    if n > 1 and unit not in _UNIT_SECONDS:
        raise ValueError(
            f"multi-count '{unit}' intervals have no epoch-aligned floor; "
            "use '1 month'/'1 year' or a fixed-length unit"
        )
    if n == 1 and unit not in _UNIT_SECONDS and unit not in ("month", "year"):
        raise ValueError(f"unsupported interval unit {unit!r}")
    return n, unit


def resample_gapfill(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    interval: str = "1 hour",
) -> DataFrame:
    """Regular per-key grid at ``interval`` with carry-forward fill.

    Returns one row per (key, bucket) for every bucket between the key's
    first and last observation: ``n_obs`` events in the bucket, ``v_sum``
    the bucket's observed mass (NULL on gaps), ``v_ff`` the carry-forward
    value, ``is_gap`` whether the bucket had no events. The first bucket
    of each key is by construction observed, so ``v_ff`` is never NULL.

    Buckets floor to the FULL interval: ``'1 <unit>'`` keeps the
    calendar-aware ``date_trunc`` (so ``'1 week'`` stays Monday-aligned
    and ``'1 month'``/``'1 year'`` work), while ``'N <unit>'`` for
    fixed-length units floors the epoch to a multiple of the interval's
    seconds so buckets and grid steps always align — every observation
    lands on a grid row (the observed-mass invariant, pinned in
    tests/test_timeseries.py).
    """
    n, unit = _parse_interval(interval)
    if n == 1:
        h = F.date_trunc(unit, F.col(ts_col))
    else:
        step = n * _UNIT_SECONDS[unit]
        e = F.unix_timestamp(F.col(ts_col))
        h = F.timestamp_seconds(e - ((e % step) + step) % step)
    obs = (
        df.groupBy(F.col(key_col).alias("k"), h.alias("h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_obs"),
            F.sum(F.col(value_col)).alias("v_sum"),
        )
    )
    spans = obs.groupBy("k").agg(
        F.min("h").alias("h0"), F.max("h").alias("h1")
    )
    grid = spans.select(
        "k",
        F.explode(
            F.sequence("h0", "h1", F.expr(f"interval {interval}"))
        ).alias("h"),
    )
    filled = grid.join(obs, ["k", "h"], "left")
    w = (
        Window.partitionBy("k")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return filled.select(
        F.col("k").alias(key_col),
        F.col("h").alias("bucket"),
        F.coalesce(F.col("n_obs"), F.lit(0)).alias("n_obs"),
        "v_sum",
        F.last("v_sum", ignorenulls=True).over(w).alias("v_ff"),
        F.col("n_obs").isNull().alias("is_gap"),
    )


def resample_gapfill_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    interval: str = "1 hour",
) -> str:
    """DuckDB twin of :func:`resample_gapfill` — generate_series grid,
    identical bucket rule and carry-forward window."""
    n, unit = _parse_interval(interval)
    if n == 1:
        bucket = f"date_trunc('{unit}', {ts_col})"
    else:
        step = n * _UNIT_SECONDS[unit]
        # floor(epoch) truncates DuckDB's fractional seconds the way
        # Spark's unix_timestamp does ([[driver-contract-gotchas]])
        e = f"CAST(floor(epoch({ts_col})) AS BIGINT)"
        bucket = (
            f"CAST(to_timestamp(({e}) - ((({e}) % {step}) + {step}) % {step})"
            " AS TIMESTAMP)"
        )
    return f"""
    WITH obs AS (
      SELECT {key_col} AS k, {bucket} AS h,
             CAST(count(*) AS BIGINT) AS n_obs, sum({value_col}) AS v_sum
      FROM {table} GROUP BY 1, 2
    ), spans AS (
      SELECT k, min(h) AS h0, max(h) AS h1 FROM obs GROUP BY k
    ), grid AS (
      SELECT k, unnest(generate_series(h0, h1, INTERVAL {interval})) AS h
      FROM spans
    ), filled AS (
      SELECT g.k, g.h, o.n_obs, o.v_sum
      FROM grid g LEFT JOIN obs o ON o.k = g.k AND o.h = g.h
    )
    SELECT k AS {key_col}, h AS bucket,
           coalesce(n_obs, 0) AS n_obs, v_sum,
           last_value(v_sum IGNORE NULLS) OVER (
             PARTITION BY k ORDER BY h
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS v_ff,
           n_obs IS NULL AS is_gap
    FROM filled
    """


# ---------------------------------------------------------------------------
# exact windowed EWMA (dyadic decay) + cumulative distinct
# ---------------------------------------------------------------------------


def ewma(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    window: int = 16,
) -> DataFrame:
    """Per-key exponentially-weighted moving average with decay 1/2 over
    the last ``window`` observations — BIT-exact and cross-engine
    replayable.

    Float EWMA recursions drift across engines (every step rounds), so
    this computes the truncated closed form in INTEGERS: values become
    micro-units, the weight of the observation j steps back is the exact
    integer ``2^(window-1-j)``, and the weighted sum is an integer sum —
    immune to fold order. The emitted average divides by the integer
    weight mass ``2^window - 2^(window-len)`` (normalized, so a constant
    series yields exactly that constant). One per-key window with a
    ROWS frame; the frame list is bounded by ``window``, the shuffle by
    rows — the standard scalable window shape, no self-join.

    ``order_col`` breaks timestamp ties so the frame order is total.
    """
    from pyspark.sql import Window

    w = (
        Window.partitionBy(key_col)
        .orderBy(ts_col, order_col)
        .rowsBetween(-(window - 1), 0)
    )
    lst = F.collect_list(to_fixed(F.col(value_col).cast("double"), 6)).over(w)
    staged = df.select(
        F.col(key_col),
        F.col(ts_col),
        F.col(order_col),
        F.col(value_col),
        lst.alias("__lst"),
    )
    # element i (0-based, oldest first) sits j = size-1-i steps back:
    # weight 2^(window-1-j) = 2^(window-size+i)
    wsum = F.expr(
        f"CAST(shiftleft(CAST(1 AS BIGINT), {window}) - "
        f"shiftleft(CAST(1 AS BIGINT), {window} - size(__lst)) AS BIGINT)"
    )
    isum = F.expr(
        f"aggregate(transform(__lst, (x, i) -> "
        f"x * shiftleft(CAST(1 AS BIGINT), {window} - size(__lst) + i)), "
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    )
    return staged.select(
        key_col,
        ts_col,
        order_col,
        value_col,
        round_to(isum / wsum / F.lit(float(SCALE[6])), 6).alias("ewma"),
    )


def ewma_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    window: int = 16,
) -> str:
    """DuckDB twin of :func:`ewma` — same micro-units, same integer
    weights (DuckDB lambda index is 1-based: j = size - i)."""
    return f"""
    WITH staged AS (
        SELECT {key_col}, CAST({ts_col} AS TIMESTAMP) AS {ts_col}, {order_col},
               {value_col},
               list(CAST(round({value_col} * {SCALE[6]}, 0) AS BIGINT)) OVER (
                   PARTITION BY {key_col}
                   ORDER BY CAST({ts_col} AS TIMESTAMP), {order_col}
                   ROWS BETWEEN {window - 1} PRECEDING AND CURRENT ROW
               ) AS __lst
        FROM {table}
    )
    SELECT {key_col}, {ts_col}, {order_col}, {value_col},
           round(
               CAST(list_sum(list_transform(__lst, (x, i) ->
                   x * ((CAST(1 AS BIGINT) << ({window} - len(__lst) + i - 1))))) AS BIGINT)
               / CAST((CAST(1 AS BIGINT) << {window}) -
                      (CAST(1 AS BIGINT) << ({window} - len(__lst))) AS BIGINT)
               / CAST({SCALE[6]} AS DOUBLE), 6) AS ewma
    FROM staged
    """


def cumulative_distinct(
    df: DataFrame, entity_col: str, ts_col: str, period: str = "day"
) -> DataFrame:
    """Per-period new / active / cumulative-distinct entity counts — the
    growth-accounting query (DAU + cumulative uniques) computed WITHOUT a
    distinct-over-window.

    A ``count(DISTINCT x) OVER (ORDER BY day)`` buffers every entity per
    frame and cannot scale; instead: each entity's FIRST period is one
    entity-keyed min-agg, new-per-period is a count over that, and the
    cumulative count is a running sum over the tiny period axis. Active
    counts come from the same DISTINCT (entity, period) reduction as
    cohort retention. Shuffles bounded by entities and entities x active
    periods; the only window runs over periods.
    """
    from pyspark.sql import Window

    first = (
        df.groupBy(F.col(entity_col).alias("__e"))
        .agg(F.date_trunc(period, F.min(ts_col)).cast("date").alias("period"))
        .groupBy("period")
        .agg(F.count(F.lit(1)).alias("n_new"))
    )
    active = (
        df.select(
            F.col(entity_col).alias("__e"),
            F.date_trunc(period, F.col(ts_col)).cast("date").alias("period"),
        )
        .distinct()
        .groupBy("period")
        .agg(F.count(F.lit(1)).alias("n_active"))
    )
    w = Window.orderBy("period").rowsBetween(Window.unboundedPreceding, 0)
    return (
        active.join(first, "period", "left")
        .select(
            "period",
            "n_active",
            F.coalesce(F.col("n_new"), F.lit(0)).alias("n_new"),
        )
        .withColumn("cum_distinct", F.sum("n_new").over(w))
    )


def cumulative_distinct_sql(
    table: str, entity_col: str, ts_col: str, period: str = "day"
) -> str:
    """DuckDB twin of :func:`cumulative_distinct` (running sum cast to
    BIGINT — the q11/q68 HUGEINT class)."""
    return f"""
    WITH first AS (
        SELECT CAST(date_trunc('{period}', __ts) AS DATE) AS period,
               CAST(count(*) AS BIGINT) AS n_new
        FROM (
            SELECT {entity_col} AS __e,
                   min(CAST({ts_col} AS TIMESTAMP)) AS __ts
            FROM {table} GROUP BY 1
        ) GROUP BY 1
    ), active AS (
        SELECT period, CAST(count(*) AS BIGINT) AS n_active
        FROM (
            SELECT DISTINCT {entity_col} AS __e,
                   CAST(date_trunc('{period}', CAST({ts_col} AS TIMESTAMP)) AS DATE)
                       AS period
            FROM {table}
        ) GROUP BY 1
    )
    SELECT a.period, a.n_active,
           coalesce(f.n_new, 0) AS n_new,
           CAST(sum(coalesce(f.n_new, 0)) OVER (
               ORDER BY a.period
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS cum_distinct
    FROM active a LEFT JOIN first f USING (period)
    """


def mad_anomalies(
    df: DataFrame,
    key_col: str,
    value_col: str,
    k: float = 3.0,
) -> DataFrame:
    """Robust per-key anomaly census: flag values farther than
    ``k * 1.4826 * MAD`` from the per-key median (the classic
    median-absolute-deviation rule; 1.4826 scales MAD to sigma under
    normality — Hampel 1974). Returns per-key
    ``(key, n_events, n_anomalies, med, mad)``.

    Two exact per-key percentile aggregations (median, then MAD) plus
    one broadcast join of the tiny per-key stats back onto the rows.
    Exact group percentiles buffer one GROUP's values — bounded by
    per-key activity, not table size; for keys with unbounded history
    swap the median legs for the q100 histogram-sketch estimates (same
    interface, fixed memory).
    """
    v = F.col(value_col)
    med = df.where(v.isNotNull()).groupBy(key_col).agg(
        F.expr(f"percentile({value_col}, 0.5)").alias("__med")
    )
    dev = df.where(v.isNotNull()).join(F.broadcast(med), key_col)
    mad = dev.groupBy(key_col).agg(
        F.expr(f"percentile(abs({value_col} - __med), 0.5)").alias("__mad")
    )
    flagged = dev.join(F.broadcast(mad), key_col).select(
        key_col,
        v.alias("__v"),
        "__med",
        "__mad",
        (F.abs(v - F.col("__med")) > F.lit(k * 1.4826) * F.col("__mad")).alias(
            "__is_anom"
        ),
    )
    return flagged.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("__is_anom").cast("bigint")).alias("n_anomalies"),
        round_to(F.first("__med"), 6).alias("med"),
        round_to(F.first("__mad"), 6).alias("mad"),
    )


def mad_anomalies_sql(
    table: str, key_col: str, value_col: str, k: float = 3.0
) -> str:
    """DuckDB twin of :func:`mad_anomalies` (quantile_cont == Spark's
    interpolating percentile; sum of flags cast to BIGINT)."""
    return f"""
    WITH base AS (
        SELECT {key_col}, {value_col} FROM {table}
        WHERE {value_col} IS NOT NULL
    ), med AS (
        SELECT {key_col}, quantile_cont({value_col}, 0.5) AS __med
        FROM base GROUP BY 1
    ), mad AS (
        SELECT b.{key_col},
               quantile_cont(abs(b.{value_col} - m.__med), 0.5) AS __mad
        FROM base b JOIN med m USING ({key_col})
        GROUP BY 1
    )
    SELECT b.{key_col},
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN abs(b.{value_col} - m.__med)
                              > {k * 1.4826} * d.__mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           round(min(m.__med), 6) AS med,
           round(min(d.__mad), 6) AS mad
    FROM base b JOIN med m USING ({key_col}) JOIN mad d USING ({key_col})
    GROUP BY 1
    """


def seasonal_decompose(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Additive seasonal decomposition of a REGULAR series (one row per
    bucket — compose with :func:`resample_gapfill` first):
    ``value = trend + seasonal + residual`` by classical moving
    averages (the STL-lite every monitoring pipeline runs):

    * trend: centered ``period``-point moving average, NULL at the edges
      (incomplete windows);
    * seasonal: per period-position mean of the detrended values (NOT
      mean-centered — centering only shifts a constant between seasonal
      and trend, and would cost a cross-engine float fold);
    * residual: the remainder, NULL where trend is NULL.

    Exactness: values round to 4 and accumulate as DECIMAL, so every
    SUM is exact in both engines; ``trend``/``seasonal`` divide those
    exact sums in doubles once; the detrended numerator is the exact
    decimal ``value*period - trend_sum`` so the per-position mean is
    one division too. All emitted floats round to 6.

    Scale: the input is an already-aggregated series (buckets, not raw
    events), so the single-partition centered window is bounded by the
    series length — the raw table never windows. The per-position table
    is ``period`` rows, broadcast back.
    """
    if period < 2:
        raise ValueError("period must be >= 2")
    half = period // 2
    vd = round_to(F.col(value_col), 4).cast("decimal(18,4)")
    dn = F.datediff(
        F.col(ts_col), F.lit("1970-01-01").cast("date")
    )
    base = df.select(
        F.col(ts_col).alias("__day"),
        vd.alias("__v"),
        dn.alias("__dn"),
        F.pmod(dn, F.lit(period)).alias("__pos"),
    )
    w = Window.orderBy("__dn").rowsBetween(-half, half)
    staged = base.select(
        "__day",
        "__v",
        "__pos",
        F.sum("__v").over(w).alias("__tsum"),
        F.count(F.lit(1)).over(w).alias("__tcnt"),
    )
    complete = F.col("__tcnt") == period
    sb = F.col("__v") * period - F.col("__tsum")  # exact decimal
    pos_tab = (
        staged.where(complete)
        .select("__pos", sb.alias("__sb"))
        .groupBy("__pos")
        .agg(
            F.sum("__sb").alias("__spos"),
            F.count(F.lit(1)).alias("__npos"),
        )
    )
    trend = F.when(
        complete, F.col("__tsum").cast("double") / period
    )
    seasonal = F.col("__spos").cast("double") / (
        F.col("__npos") * period
    )
    return (
        staged.join(F.broadcast(pos_tab), "__pos", "left")
        .select(
            F.col("__day").alias(ts_col),
            F.col("__v").cast("double").alias(value_col),
            round_to(trend, 6).alias("trend"),
            round_to(seasonal, 6).alias("seasonal"),
            round_to(
                F.col("__v").cast("double") - trend - seasonal,
                6,
            ).alias("residual"),
        )
    )


def seasonal_decompose_sql(
    series_subquery: str, ts_col: str, value_col: str, period: int = 7
) -> str:
    """DuckDB twin of :func:`seasonal_decompose` — identical decimal
    accumulation, window frame, and division shapes."""
    half = period // 2
    return f"""
    WITH base AS MATERIALIZED (
        SELECT {ts_col} AS __day,
               CAST(round({value_col}, 4) AS DECIMAL(18,4)) AS __v,
               datediff('day', DATE '1970-01-01', {ts_col}) AS __dn,
               ((datediff('day', DATE '1970-01-01', {ts_col}) % {period})
                + {period}) % {period} AS __pos
        FROM ({series_subquery})
    ), staged AS MATERIALIZED (
        SELECT __day, __v, __pos,
               sum(__v) OVER w AS __tsum,
               CAST(count(*) OVER w AS BIGINT) AS __tcnt
        FROM base
        WINDOW w AS (ORDER BY __dn
                     ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
    ), pos_tab AS (
        SELECT __pos, sum(__v * {period} - __tsum) AS __spos,
               CAST(count(*) AS BIGINT) AS __npos
        FROM staged WHERE __tcnt = {period}
        GROUP BY 1
    )
    SELECT s.__day AS {ts_col},
           CAST(s.__v AS DOUBLE) AS {value_col},
           round(CASE WHEN s.__tcnt = {period}
                      THEN CAST(s.__tsum AS DOUBLE) / {period} END, 6)
               AS trend,
           round(CAST(p.__spos AS DOUBLE) / (p.__npos * {period}), 6)
               AS seasonal,
           round(CAST(s.__v AS DOUBLE)
                 - (CASE WHEN s.__tcnt = {period}
                         THEN CAST(s.__tsum AS DOUBLE) / {period} END)
                 - (CAST(p.__spos AS DOUBLE) / (p.__npos * {period})), 6)
               AS residual
    FROM staged s LEFT JOIN pos_tab p ON p.__pos = s.__pos
    """


# ---------------------------------------------------------------------------
# scale-safe exact rolling time window (bucketed prefix decomposition)
# ---------------------------------------------------------------------------
def rolling_time_window(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window: str = "1 hour",
    strategy: str = "auto",
    auto_max_key_rows: int = 100_000,
) -> DataFrame:
    """EXACT per-event rolling time-window count/avg without the per-key
    window funnel — the 100 TB replacement for
    ``RANGE BETWEEN <W> PRECEDING AND CURRENT ROW`` windows
    (``__spark_entry__.q85``) when one key can own an unbounded share of
    events (a zipfian user funnels its whole history through ONE sort
    task; the round-5 skew battery measured 4.4x wall degradation at 20%
    single-key skew for the plain window).

    Identical semantics to the RANGE window: frame = ``[t - W, t]``
    inclusive of BOTH ends and of all tie rows; ``roll_n`` counts frame
    rows, ``roll_avg`` averages non-NULL values. The correctness oracle
    for the q157 gate IS the plain RANGE window in DuckDB — the
    decomposition must reproduce it bit-for-bit (value mass rides
    integer micro-units so no float fold-order can drift).

    Decomposition (prefix sums at two granularities; standard
    bucketed-window construction):

    1. bucket ``b = floor(t_us / W_us)`` — the window always spans at
       most buckets ``b-1`` and ``b``;
    2. per ``(key, b)`` partial counts/sums — ONE map-side-partial agg,
       then a per-key window over the tiny BUCKET series (rows = active
       buckets per key, never events) gives exclusive running offsets
       and the previous bucket's partials;
    3. per ``(key, b)`` RANGE cumulative within the bucket — partition
       bounded by one bucket's density, not key history;
    4. the strictly-before count at ``x = t - W_us`` (which lands in
       bucket ``b-1`` by construction) via the union+window as-of trick
       (operators/asof.py), partitioned by ``(key, bucket)`` — again
       bucket-bounded; probes sort before builds at equal time so ties
       at the frame's left edge stay INSIDE the frame;
    5. ``roll = inclusive_cum(t) - strict_before(x)``.

    Cost: ~3 event-level exchanges instead of 1, in exchange for max
    task = O(densest single bucket) instead of O(largest key). The skew
    battery (bench.py) times both paths on the same skewed table.

    NULL contract: NULL-KEY rows are a real partition (null-safe join
    keys), exactly as the plain window treats them; NULL-TIMESTAMP rows
    pass through with NULL roll_n/roll_avg (no defined frame). The q157
    oracle SQL carries the identical passthrough arm.

    ``strategy`` routes between two bit-identical physical forms
    (round-7 VERDICT item 2 — the default name must not funnel a hot
    key through one sort task):

    - ``"window"`` — the plain per-key RANGE window (ONE exchange, the
      cheapest plan when per-key volume is bounded; 9.15x wall under
      20% single-key skew, BENCH_r07 skew battery) with the SAME
      micro-unit value arithmetic as the bucketed path so the two
      strategies agree bit-for-bit;
    - ``"bucketed"`` — the prefix decomposition below (max task = one
      (key, window-bucket), skew-immune, ~3 exchanges);
    - ``"auto"`` (default) — one cheap per-key count profile (map-side
      partial agg, two scalars out) picks ``bucketed`` iff the largest
      key exceeds ``auto_max_key_rows`` (the single-sort-task budget,
      the percent_rank_transform router convention). The default bound
      is deliberately conservative (100k): above it one task sorts the
      whole hot key while the rest of the cluster idles, while the
      bucketed path's extra cost is two map-side-combinable partial
      exchanges — a small constant factor, never a funnel.
    """
    n, unit = _parse_interval(window)
    if unit not in _UNIT_SECONDS:
        raise ValueError("rolling_time_window needs a fixed-length unit")
    w_us = n * _UNIT_SECONDS[unit] * 1_000_000

    if strategy not in ("window", "bucketed", "auto"):
        raise ValueError(
            "rolling_time_window: strategy must be window|bucketed|auto"
        )
    if strategy == "auto":
        from ._probe import cached_probe

        def _max_key_rows() -> int:
            prof = (
                df.where(F.col(ts_col).isNotNull())
                .groupBy(key_col)
                .agg(F.count(F.lit(1)).alias("__c"))
                .agg(F.max("__c").alias("__mx"))
                .first()
            )
            return prof["__mx"] or 0

        # memoized per semantic input frame (r9 VERDICT item 5): a
        # pipeline re-windowing the same frame pays ONE probe job, not
        # one per call; a stale hit can only flip between bit-identical
        # physical forms (see _probe module docstring).
        mx = cached_probe(
            "rolling_max_key_rows", (df,), (key_col, ts_col), _max_key_rows
        )
        strategy = "bucketed" if mx > auto_max_key_rows else "window"
    if strategy == "window":
        wp = (
            Window.partitionBy(key_col)
            .orderBy(F.unix_micros(F.col(ts_col)))
            .rangeBetween(-w_us, 0)
        )
        vu_w = to_fixed(F.col(value_col).cast("double"), 6)
        nn = df.where(F.col(ts_col).isNotNull()).withColumn("__vu", vu_w)
        nv = F.count("__vu").over(wp)
        sv = F.coalesce(F.sum("__vu").over(wp), F.lit(0))
        out_w = nn.select(
            *df.columns,
            F.count(F.lit(1)).over(wp).cast("long").alias("roll_n"),
            F.when(
                nv > 0,
                round_to(
                    from_fixed(sv, 6)
                    / nv.cast("double"),
                    4,
                ),
            ).alias("roll_avg"),
        )
        null_ts_w = df.where(F.col(ts_col).isNull()).withColumn(
            "roll_n", F.lit(None).cast("long")
        ).withColumn("roll_avg", F.lit(None).cast("double"))
        return out_w.unionByName(null_ts_w)

    tu = F.unix_micros(F.col(ts_col))
    vu = to_fixed(F.col(value_col).cast("double"), 6)
    ev = (
        df.where(F.col(ts_col).isNotNull())
        .withColumn("__tu", tu)
        .withColumn("__vu", vu)
        .withColumn("__b", F.floor(F.col("__tu") / F.lit(w_us)).cast("long"))
    )

    partials = ev.groupBy(
        F.col(key_col).alias("__k"), F.col("__b").alias("__pb")
    ).agg(
        F.count(F.lit(1)).alias("__n"),
        F.count("__vu").alias("__nv"),
        F.sum("__vu").alias("__s"),
    )
    wseq = Window.partitionBy("__k").orderBy("__pb")
    wexc = wseq.rowsBetween(Window.unboundedPreceding, -1)
    offs = partials.select(
        "__k",
        "__pb",
        F.coalesce(F.sum("__n").over(wexc), F.lit(0)).alias("__off_n"),
        F.coalesce(F.sum("__nv").over(wexc), F.lit(0)).alias("__off_nv"),
        F.coalesce(F.sum("__s").over(wexc), F.lit(0)).alias("__off_s"),
        F.lag("__pb").over(wseq).alias("__lb"),
        F.lag("__n").over(wseq).alias("__ln"),
        F.lag("__nv").over(wseq).alias("__lnv"),
        F.lag("__s").over(wseq).alias("__ls"),
    )
    prev_exists = F.col("__lb") == F.col("__pb") - 1
    offs = offs.select(
        "__k",
        "__pb",
        "__off_n",
        "__off_nv",
        "__off_s",
        F.when(prev_exists, F.col("__off_n") - F.col("__ln"))
        .otherwise(F.col("__off_n")).alias("__offp_n"),
        F.when(prev_exists, F.col("__off_nv") - F.col("__lnv"))
        .otherwise(F.col("__off_nv")).alias("__offp_nv"),
        F.when(prev_exists, F.col("__off_s") - F.coalesce("__ls", F.lit(0)))
        .otherwise(F.col("__off_s")).alias("__offp_s"),
    )

    # null-safe key equality: a NULL key is ONE partition in the plain
    # RANGE window this operator replaces, so the bucketed path must
    # keep (and correctly frame) NULL-key rows too
    joined = ev.join(
        offs,
        ev[key_col].eqNullSafe(offs["__k"]) & (ev["__b"] == offs["__pb"]),
        "inner",
    ).drop("__k", "__pb")

    wb = (
        Window.partitionBy(key_col, "__b")
        .orderBy("__tu")
        .rangeBetween(Window.unboundedPreceding, 0)
    )
    cum = (
        joined.withColumn("__cin_n", F.count(F.lit(1)).over(wb))
        .withColumn("__cin_nv", F.count("__vu").over(wb))
        .withColumn("__cin_s", F.coalesce(F.sum("__vu").over(wb), F.lit(0)))
    )

    m_struct = F.struct(
        F.col("__cin_n").alias("mn"),
        F.col("__cin_nv").alias("mnv"),
        F.col("__cin_s").alias("ms"),
    )
    builds = cum.select(
        F.col(key_col).alias("__uk"),
        F.col("__b").alias("__gb"),
        F.col("__tu").alias("__t"),
        F.lit(1).alias("__tag"),
        m_struct.alias("__m"),
    )
    row_type = builds.schema["__m"].dataType
    probe_cols = [c for c in cum.columns]
    probes = cum.select(
        *probe_cols,
        F.col(key_col).alias("__uk"),
        (F.col("__b") - 1).alias("__gb"),
        (F.col("__tu") - F.lit(w_us)).alias("__t"),
        F.lit(0).alias("__tag"),
        F.lit(None).cast(row_type).alias("__m"),
    )
    for c in probe_cols:
        builds = builds.withColumn(c, F.lit(None).cast(cum.schema[c].dataType))
    union = probes.unionByName(builds.select(*probes.columns))

    wm = (
        Window.partitionBy("__uk", "__gb")
        .orderBy(F.col("__t").asc(), F.col("__tag").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = union.withColumn(
        "__mm", F.last("__m", ignorenulls=True).over(wm)
    ).where(F.col("__tag") == 0)

    strict_n = F.col("__offp_n") + F.coalesce(F.col("__mm.mn"), F.lit(0))
    strict_nv = F.col("__offp_nv") + F.coalesce(F.col("__mm.mnv"), F.lit(0))
    strict_s = F.col("__offp_s") + F.coalesce(F.col("__mm.ms"), F.lit(0))
    roll_n = (F.col("__off_n") + F.col("__cin_n") - strict_n).cast("long")
    roll_nv = F.col("__off_nv") + F.col("__cin_nv") - strict_nv
    roll_s = F.col("__off_s") + F.col("__cin_s") - strict_s
    roll_avg = F.when(
        roll_nv > 0,
        round_to(
            from_fixed(roll_s, 6)
            / roll_nv.cast("double"),
            4,
        ),
    )
    helper = [
        "__tu", "__vu", "__b", "__off_n", "__off_nv", "__off_s",
        "__offp_n", "__offp_nv", "__offp_s", "__cin_n", "__cin_nv",
        "__cin_s", "__uk", "__gb", "__t", "__tag", "__m", "__mm",
    ]
    out = matched.withColumn("roll_n", roll_n).withColumn(
        "roll_avg", roll_avg
    ).drop(*helper)
    # NULL-timestamp contract: a row with no event time cannot be
    # bucketed (and has no well-defined [t - W, t] frame), so it passes
    # through with NULL roll_n/roll_avg instead of being dropped — the
    # q157 oracle SQL encodes the same passthrough, and NULL-KEY rows
    # (handled exactly above) do NOT take this path
    null_ts = df.where(F.col(ts_col).isNull()).withColumn(
        "roll_n", F.lit(None).cast("long")
    ).withColumn("roll_avg", F.lit(None).cast("double"))
    return out.unionByName(null_ts)


def cusum_changepoints(
    df: "DataFrame",
    ts_col: str,
    value_col: str,
    unit: str = "day",
    k: float = 0.5,
    h: float = 5.0,
    group_cols: list[str] | None = None,
) -> "DataFrame":
    """Tabular CUSUM mean-shift detection (Page 1954; the SPC control
    chart): per time bucket, the one-sided cumulative sums
    ``S+ = max(0, S+ + (x - mu0 - k))`` / ``S- = max(0, S- - (x - mu0 + k))``
    with slack ``k`` and decision threshold ``h``; a bucket where either
    side exceeds ``h`` flags a sustained mean shift — drift detection
    with memory, where a per-bucket z-score only sees single outliers.

    The recursion is computed in CLOSED FORM as a reflected random walk:
    ``S+_t = W_t - min(0, min_{i<=t} W_i)`` with ``W`` the running sum
    of ``(x - mu0 - k)`` (and symmetrically for ``S-``) — two plain
    window folds, no iterative state.

    Exactness: bucket means are micro-unit BIGINTs (scale-0 rounding of
    an exact-integer division — the one rounding scale with no
    cross-engine multiply hazard); mu0 is the mean of bucket means,
    same staging; every cumulative fold is integer. Output values are
    micro/1e6 re-roundings of integers — cross-engine identical.

    Scale: ONE map-side bucket aggregation over the corpus; all windows
    run on the (group x bucket) grid, which is calendar-bounded, never
    event-bounded. ``mu0`` here is the all-time per-group mean (two
    passes over the tiny bucket frame); streaming deployments would feed
    a trained reference instead.

    Returns per bucket: ``(group_cols..., bucket, n, mean_value, s_pos,
    s_neg, is_shift)`` ordered by (group, bucket).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    gcols = list(group_cols or [])
    k_micro = int(round_half_away(k * 1_000_000))
    h_micro = int(round_half_away(h * 1_000_000))
    b = cusum_bucket_partials(df, ts_col, value_col, unit, gcols)
    return _cusum_from_buckets(b, gcols, k_micro, h_micro)


def cusum_bucket_partials(
    df: "DataFrame",
    ts_col: str,
    value_col: str,
    unit: str = "day",
    group_cols: list[str] | None = None,
) -> "DataFrame":
    """The MERGEABLE state under CUSUM: per (group, bucket) event count +
    exact micro-unit value sum. Merging partials by summing (n, __sm)
    reproduces the full-data frame bit-exactly, so the streaming
    maintenance path (streaming/events.cusum_events_stream) appends
    these per micro-batch and the readout equals the batch operator."""
    from pyspark.sql import functions as F

    gcols = list(group_cols or [])
    return (
        df.where(F.col(value_col).isNotNull())
        .groupBy(
            *gcols,
            F.date_trunc(unit, F.col(ts_col)).alias("bucket"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(
                to_fixed(F.col(value_col).cast("double"), 6)
            ).cast("bigint").alias("__sm"),
        )
    )


def _cusum_from_buckets(
    b: "DataFrame", gcols: list[str], k_micro: int, h_micro: int
) -> "DataFrame":
    """The reflected-walk readout over a (group, bucket, n, __sm) frame
    — shared by the batch operator and the streaming-partials reader."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    b = b.withColumn(
        "__mm", F.round(F.col("__sm") / F.col("n"), 0).cast("bigint")
    )
    wg = Window.partitionBy(*gcols) if gcols else Window.partitionBy()
    mu0 = F.round(
        F.sum("__mm").over(wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        / F.count(F.lit(1)).over(wg.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
        0,
    ).cast("bigint")
    b = b.withColumn("__mu0", mu0)
    wcum = (
        Window.partitionBy(*gcols).orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        if gcols
        else Window.partitionBy().orderBy("bucket").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
    )
    # stage the random walks, THEN reflect: a window over a window
    # must be two selects
    walked = b.select(
        *gcols,
        "bucket",
        "n",
        "__mm",
        F.sum(F.col("__mm") - F.col("__mu0") - F.lit(k_micro))
        .over(wcum)
        .cast("bigint")
        .alias("__wp"),
        F.sum(F.col("__mm") - F.col("__mu0") + F.lit(k_micro))
        .over(wcum)
        .cast("bigint")
        .alias("__wn"),
    )
    s_pos = F.col("__wp") - F.least(
        F.lit(0).cast("bigint"), F.min("__wp").over(wcum)
    )
    s_neg = (
        F.greatest(F.lit(0).cast("bigint"), F.max("__wn").over(wcum))
        - F.col("__wn")
    )
    staged = walked.select(
        *gcols,
        "bucket",
        "n",
        round_to(from_fixed(F.col("__mm"), 6), 6).alias("mean_value"),
        s_pos.alias("__sp"),
        s_neg.alias("__sn"),
    )
    return staged.select(
        *gcols,
        "bucket",
        "n",
        "mean_value",
        round_to(from_fixed(F.col("__sp"), 6), 6).alias("s_pos"),
        round_to(from_fixed(F.col("__sn"), 6), 6).alias("s_neg"),
        (
            (F.col("__sp") > F.lit(h_micro)) | (F.col("__sn") > F.lit(h_micro))
        ).alias("is_shift"),
    ).orderBy(*gcols, "bucket")


def cusum_changepoints_sql(
    table: str,
    ts_col: str,
    value_col: str,
    unit: str = "day",
    k: float = 0.5,
    h: float = 5.0,
    group_cols: list[str] | None = None,
) -> str:
    """DuckDB twin of :func:`cusum_changepoints` — identical micro-unit
    staging, scale-0 roundings, and the same two-stage reflected-walk
    windows."""
    gcols = list(group_cols or [])
    km = int(round_half_away(k * 1_000_000))
    hm = int(round_half_away(h * 1_000_000))
    gsel = "".join(f"{c}, " for c in gcols)
    gpart = ("PARTITION BY " + ", ".join(gcols)) if gcols else ""
    return f"""
    WITH b AS (
        SELECT {gsel}CAST(date_trunc('{unit}', CAST({ts_col} AS TIMESTAMP))
                          AS TIMESTAMP) AS bucket,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(CAST({value_col} AS DOUBLE) * 1000000,
                                   0) AS BIGINT)) AS BIGINT) AS __sm
        FROM {table}
        WHERE {value_col} IS NOT NULL
        GROUP BY ALL
    ), m AS (
        SELECT *, CAST(round(__sm / n, 0) AS BIGINT) AS __mm FROM b
    ), mu AS (
        SELECT *,
               CAST(round(CAST(sum(__mm) OVER ({gpart}) AS BIGINT)
                          / count(*) OVER ({gpart}), 0) AS BIGINT) AS __mu0
        FROM m
    ), walked AS (
        SELECT *,
               CAST(sum(__mm - __mu0 - {km}) OVER w AS BIGINT) AS __wp,
               CAST(sum(__mm - __mu0 + {km}) OVER w AS BIGINT) AS __wn
        FROM mu
        WINDOW w AS ({gpart} ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    ), refl AS (
        SELECT *,
               __wp - least(CAST(0 AS BIGINT),
                            CAST(min(__wp) OVER w AS BIGINT)) AS __sp,
               greatest(CAST(0 AS BIGINT),
                        CAST(max(__wn) OVER w AS BIGINT)) - __wn AS __sn
        FROM walked
        WINDOW w AS ({gpart} ORDER BY bucket
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT {gsel}bucket, n,
           round(__mm / 1e6, 6) AS mean_value,
           round(__sp / 1e6, 6) AS s_pos,
           round(__sn / 1e6, 6) AS s_neg,
           (__sp > {hm} OR __sn > {hm}) AS is_shift
    FROM refl
    ORDER BY {gsel}bucket
    """


def seasonal_naive_backtest(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    season: int = 7,
    horizon: int = 28,
) -> DataFrame:
    """Forecast-quality backtest of the seasonal-naive baseline
    (forecast(t) = actual(t - season)) on the last ``horizon`` days,
    scored by MASE (Hyndman & Koehler 2006) — the scale-free forecast
    metric whose denominator is the in-sample MAE of the one-step
    naive forecast. MASE < 1 beats the naive baseline; this gate is
    the evaluation half every forecasting pipeline needs before any
    model ships.

    The series is the DAILY integer-cent sum of ``value_col``,
    densified over the full calendar span with 0 for missing days
    (the gapfill contract, q110).

    Returns one row: ``(n_train, n_test, naive_mae, seasonal_mae,
    mase)`` — MAEs in original units, NULL mase when the train
    denominator is 0.

    Exactness: daily sums and absolute errors are exact BIGINT cents;
    the three outputs divide identical integers once (scaled-round).

    Scale: one date-keyed agg over the raw table (map-side
    combinable); the lag windows run on the CALENDAR-BOUNDED dense
    spine (the q139 convention — the raw table never windows), so the
    single-partition window is bounded by days-in-range, not rows.
    """
    daily = (
        df.select(
            F.to_date(F.col(ts_col)).alias("__d"),
            to_fixed(F.col(value_col).cast("double"), 2).alias("__c"),
        )
        .where(F.col("__d").isNotNull())
        .groupBy("__d")
        .agg(F.sum("__c").alias("__c"))
    )
    rng = daily.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    spine = rng.select(
        F.explode(
            F.expr("sequence(__lo, __hi, interval 1 day)")
        ).alias("__d"),
        F.date_sub(F.col("__hi"), horizon - 1).alias("__thr"),
    )
    dense = spine.join(daily, "__d", "left").select(
        "__d", "__thr", F.coalesce(F.col("__c"), F.lit(0)).alias("__c")
    )
    w = Window.orderBy("__d")
    staged = dense.select(
        "__d",
        "__thr",
        "__c",
        F.lag("__c", season).over(w).alias("__ls"),
        F.lag("__c", 1).over(w).alias("__l1"),
    )
    agg = staged.agg(
        F.sum(
            F.when(
                (F.col("__d") < F.col("__thr"))
                & F.col("__l1").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_train"),
        F.sum(
            F.when(
                (F.col("__d") < F.col("__thr"))
                & F.col("__l1").isNotNull(),
                F.abs(F.col("__c") - F.col("__l1")),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("__str"),
        F.sum(
            F.when(
                (F.col("__d") >= F.col("__thr"))
                & F.col("__ls").isNotNull(),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_test"),
        F.sum(
            F.when(
                (F.col("__d") >= F.col("__thr"))
                & F.col("__ls").isNotNull(),
                F.abs(F.col("__c") - F.col("__ls")),
            ).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("__ste"),
    )
    ntr = F.col("n_train").cast("double")
    nte = F.col("n_test").cast("double")
    str_ = F.col("__str").cast("double")
    ste = F.col("__ste").cast("double")
    naive_mae = str_ / ntr / F.lit(100.0)
    seas_mae = ste / nte / F.lit(100.0)
    mase = F.when(
        (F.col("__str") > 0) & (F.col("n_test") > 0),
        (ste / nte) / (str_ / ntr),
    )
    return agg.select(
        "n_train",
        "n_test",
        round_to(naive_mae, 6).alias("naive_mae"),
        round_to(seas_mae, 6).alias("seasonal_mae"),
        round_to(mase, 6).alias("mase"),
    )


def seasonal_naive_backtest_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    season: int = 7,
    horizon: int = 28,
) -> str:
    """DuckDB twin of :func:`seasonal_naive_backtest` — identical
    daily-cent series, dense calendar spine, lags, and divisions."""
    return f"""
    WITH daily AS MATERIALIZED (
        SELECT CAST({ts_col} AS DATE) AS __d,
               CAST(sum(CAST(round(CAST({value_col} AS DOUBLE) * 100,
                                   0) AS BIGINT)) AS BIGINT) AS __c
        FROM ({table_expr}) WHERE {ts_col} IS NOT NULL
        GROUP BY 1
    ), rng AS (
        SELECT min(__d) AS __lo, max(__d) AS __hi FROM daily
    ), spine AS (
        SELECT CAST(unnest(generate_series(CAST(__lo AS TIMESTAMP),
                       CAST(__hi AS TIMESTAMP), INTERVAL 1 DAY))
                    AS DATE) AS __d,
               __hi - {horizon - 1} AS __thr
        FROM rng
    ), dense AS (
        SELECT s.__d, s.__thr, COALESCE(d.__c, 0) AS __c
        FROM spine s LEFT JOIN daily d ON d.__d = s.__d
    ), staged AS (
        SELECT __d, __thr, __c,
               lag(__c, {season}) OVER (ORDER BY __d) AS __ls,
               lag(__c, 1) OVER (ORDER BY __d) AS __l1
        FROM dense
    ), agg AS (
        SELECT
            CAST(sum(CASE WHEN __d < __thr AND __l1 IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
            CAST(sum(CASE WHEN __d < __thr AND __l1 IS NOT NULL
                     THEN abs(__c - __l1) ELSE 0 END) AS BIGINT)
                AS __str,
            CAST(sum(CASE WHEN __d >= __thr AND __ls IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_test,
            CAST(sum(CASE WHEN __d >= __thr AND __ls IS NOT NULL
                     THEN abs(__c - __ls) ELSE 0 END) AS BIGINT)
                AS __ste
        FROM staged
    )
    SELECT n_train, n_test,
           round(CAST(__str AS DOUBLE) / CAST(n_train AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS naive_mae,
           round(CAST(__ste AS DOUBLE) / CAST(n_test AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS seasonal_mae,
           round(CASE WHEN __str > 0 AND n_test > 0 THEN
                 (CAST(__ste AS DOUBLE) / CAST(n_test AS DOUBLE))
                 / (CAST(__str AS DOUBLE) / CAST(n_train AS DOUBLE))
                 END * 1e6, 0) / 1e6 AS mase
    FROM agg
    """


def _daily_cents(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """Dense calendar-spine daily integer-cent series (the q139/q193
    convention): one date-keyed map-side-combinable agg over the raw
    table, densified with 0 for missing days, global day index ``__i``
    (1-based) from the bounded spine window."""
    daily = stage(
        df.select(
            F.to_date(F.col(ts_col)).alias("__d"),
            to_fixed(F.col(value_col).cast("double"), 2).alias("__c"),
        )
        .where(F.col("__d").isNotNull())
        .groupBy("__d")
        .agg(F.sum("__c").alias("__c"))
        # days-bounded; feeds the range scalar AND the spine join —
        # without this the raw-table agg runs twice per spine build
    )
    rng = daily.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    spine = rng.select(
        F.explode(
            F.expr("sequence(__lo, __hi, interval 1 day)")
        ).alias("__d")
    )
    dense = spine.join(daily, "__d", "left").select(
        "__d", F.coalesce(F.col("__c"), F.lit(0)).alias("__c")
    )
    w = Window.orderBy("__d")
    # every spine operator consumes the indexed frame several times
    # (pair sides, residual passes, tie folds) — checkpoint once here
    # so each caller pays exactly ONE raw-table aggregation
    return stage(dense.select(
        "__d", "__c", F.row_number().over(w).alias("__i")
    ))


_DAILY_CENTS_SQL = """
    WITH __daily AS MATERIALIZED (
        SELECT CAST({ts} AS DATE) AS __d,
               CAST(sum(CAST(round(CAST({val} AS DOUBLE) * 100,
                                   0) AS BIGINT)) AS BIGINT) AS __c
        FROM ({table}) WHERE {ts} IS NOT NULL
        GROUP BY 1
    ), __rng AS (
        SELECT min(__d) AS __lo, max(__d) AS __hi FROM __daily
    ), __spine AS (
        SELECT CAST(unnest(generate_series(CAST(__lo AS TIMESTAMP),
                       CAST(__hi AS TIMESTAMP), INTERVAL 1 DAY))
                    AS DATE) AS __d
        FROM __rng
    ), __dense AS (
        SELECT s.__d, COALESCE(d.__c, 0) AS __c,
               CAST(row_number() OVER (ORDER BY s.__d) AS BIGINT) AS __i
        FROM __spine s LEFT JOIN __daily d ON d.__d = s.__d
    )
"""


def acf_ljung_box(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Autocorrelation function of the daily series at lags 1..K with
    the cumulative Ljung-Box portmanteau test (Ljung & Box 1978) at
    each lag — the textbook ACF table every forecasting /
    autocorrelation diagnosis starts from, beside the seasonal
    backtest (q193) and CUSUM (q166) gates.

    The series is the dense daily integer-cent sum (q193 convention).
    For lag k the sample ACF uses the full-series mean and the lag-0
    denominator (Box-Jenkins):

        r_k = sum_{t<=n-k} (c_t - m)(c_{t+k} - m) / sum_t (c_t - m)^2

    Exactness: multiplying through by n^2 makes BOTH sides exact
    integers —

        num_k * n^2 = n^2*P_k - n*S*(H_k + T_k) + (n-k)*S^2
        den   * n^2 = n^2*SS - n*S^2

    with P_k the lag-k cross sum, H_k/T_k the head/tail partial sums,
    S/SS the full sum and sum of squares, all accumulated in
    DECIMAL(38,0) (HUGEINT in the twin); r_k is ONE division of
    identical integers. The Ljung-Box statistic
    ``Q_k = n(n+2) * sum_{j<=k} r_j^2/(n-j)`` folds per-lag terms as
    round(r_j^2/(n-j) * 1e15) BIGINT femto-units (fold-order-free),
    and the p-value maps Q_k through the Wilson-Hilferty cube-root
    chi-square→normal approximation into the shared A&S 7.1.26 tail.

    Returns K rows: ``(lag, n, acf, lb_q, lb_p)``.

    Scale: ONE date-keyed agg over the raw table; every window runs on
    the CALENDAR-BOUNDED dense spine (days, not rows), and the lag
    fan-out is K spine-sized passes stacked by an explode on the
    bounded grid — the raw table is never windowed or shuffled twice.
    """
    dense = _daily_cents(df, ts_col, value_col).select(
        "__i", F.col("__c").cast("decimal(38,0)").alias("__c")
    )
    tot = dense.agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum("__c").alias("__s"),
        F.sum(F.col("__c") * F.col("__c")).alias("__ss"),
    )
    lags = dense.sparkSession.range(1, max_lag + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    # lead() needs a literal offset, so the lag-k pairing index-joins
    # a shifted copy on the bounded grid instead of K window passes.
    shifted = dense.select(
        F.col("__i").alias("__j"), F.col("__c").alias("__ck")
    )
    pairs = (
        F.broadcast(lags)
        .join(dense, how="cross")
        .join(
            shifted,
            F.col("__j") == F.col("__i") + F.col("lag"),
            "inner",
        )
        .groupBy("lag")
        .agg(
            F.sum(F.col("__c") * F.col("__ck")).alias("__p"),
            F.sum("__c").alias("__h"),
            F.sum("__ck").alias("__t"),
        )
    )
    n = F.col("__n").cast("decimal(38,0)")
    num = (
        n * n * F.col("__p")
        - n * F.col("__s") * (F.col("__h") + F.col("__t"))
        + (n - F.col("lag").cast("decimal(38,0)"))
        * F.col("__s")
        * F.col("__s")
    )
    den = n * n * F.col("__ss") - n * F.col("__s") * F.col("__s")
    # constant series: den = 0 -> NULL acf (DuckDB's x/0 IS NULL; Spark
    # ANSI mode would throw, so guard explicitly)
    r = F.when(
        den != F.lit(0).cast("decimal(38,0)"),
        num.cast("double") / den.cast("double"),
    )
    per_lag = pairs.join(F.broadcast(tot), how="cross").select(
        "lag",
        F.col("__n").alias("n"),
        r.alias("__r"),
        # femto-unit Ljung-Box term: r^2 / (n - k), fold-order-free
        to_fixed(
            r * r / (F.col("__n") - F.col("lag")).cast("double"), 15
        ).alias("__lbt"),
    )
    wcum = Window.orderBy("lag").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    nn = F.col("n").cast("double")
    q = nn * (nn + F.lit(2.0)) * (
        from_fixed(F.sum("__lbt").over(wcum), 15)
    )
    staged2 = per_lag.select(
        "lag",
        "n",
        "__r",
        q.alias("__q"),
        F.col("lag").cast("double").alias("__k"),
    )
    # Wilson-Hilferty: z = ((Q/k)^(1/3) - (1 - 2/(9k))) / sqrt(2/(9k))
    wh_z = (
        "((pow(__q / __k, CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))"
        " - (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)"
        "    / (CAST(9 AS DOUBLE) * __k)))"
        " / sqrt(CAST(2 AS DOUBLE) / (CAST(9 AS DOUBLE) * __k)))"
    )
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    return staged2.select(
        "lag",
        "n",
        round_to(F.col("__r"), 6).alias("acf"),
        round_to(F.col("__q"), 6).alias("lb_q"),
        round_to(
            F.when(
                F.expr(wh_z) >= 0, F.expr(_phi_tail_sql(wh_z))
            ).otherwise(
                F.lit(1.0) - F.expr(_phi_tail_sql(f"-({wh_z})"))
            ),
            6,
        ).alias("lb_p"),
    ).orderBy("lag")


def acf_ljung_box_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    max_lag: int = 7,
) -> str:
    """DuckDB twin of :func:`acf_ljung_box` — identical daily-cent
    spine, integer n^2-scaled ACF folds (HUGEINT), femto-unit
    Ljung-Box cumsum, Wilson-Hilferty + A&S tail expression text."""
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    wh_z = (
        "((pow(__q / __k, CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))"
        " - (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)"
        "    / (CAST(9 AS DOUBLE) * __k)))"
        " / sqrt(CAST(2 AS DOUBLE) / (CAST(9 AS DOUBLE) * __k)))"
    )
    return f"""{base}
    , __tot AS (
        SELECT CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(CAST(__c AS HUGEINT)) AS HUGEINT) AS __s,
               CAST(sum(CAST(__c AS HUGEINT) * CAST(__c AS HUGEINT))
                    AS HUGEINT) AS __ss
        FROM __dense
    ), __lags AS (
        SELECT CAST(unnest(range(1, {max_lag + 1})) AS INTEGER) AS lag
    ), __pairs AS (
        SELECT l.lag,
               CAST(sum(CAST(a.__c AS HUGEINT)
                        * CAST(b.__c AS HUGEINT)) AS HUGEINT) AS __p,
               CAST(sum(CAST(a.__c AS HUGEINT)) AS HUGEINT) AS __h,
               CAST(sum(CAST(b.__c AS HUGEINT)) AS HUGEINT) AS __t
        FROM __lags l
        JOIN __dense a ON TRUE
        JOIN __dense b ON b.__i = a.__i + l.lag
        GROUP BY 1
    ), __perlag AS (
        SELECT p.lag, t.__n AS n,
               CAST(CAST(t.__n AS HUGEINT) * CAST(t.__n AS HUGEINT)
                        * p.__p
                    - CAST(t.__n AS HUGEINT) * t.__s
                        * (p.__h + p.__t)
                    + (CAST(t.__n AS HUGEINT)
                       - CAST(p.lag AS HUGEINT)) * t.__s * t.__s
                    AS DOUBLE)
               / CAST(CAST(t.__n AS HUGEINT) * CAST(t.__n AS HUGEINT)
                          * t.__ss
                      - CAST(t.__n AS HUGEINT) * t.__s * t.__s
                      AS DOUBLE) AS __r
        FROM __pairs p CROSS JOIN __tot t
    ), __lb AS (
        SELECT lag, n, __r,
               CAST(round(__r * __r
                          / CAST(n - lag AS DOUBLE) * 1e15, 0)
                    AS BIGINT) AS __lbt
        FROM __perlag
    ), __staged AS (
        SELECT lag, n, __r,
               CAST(n AS DOUBLE) * (CAST(n AS DOUBLE)
                   + CAST(2 AS DOUBLE))
               * (CAST(CAST(sum(__lbt) OVER (ORDER BY lag
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS DOUBLE) / 1e15) AS __q,
               CAST(lag AS DOUBLE) AS __k
        FROM __lb
    )
    SELECT lag, n,
           round(__r * 1e6, 0) / 1e6 AS acf,
           round(__q * 1e6, 0) / 1e6 AS lb_q,
           round(CASE WHEN {wh_z} >= 0 THEN {_phi_tail_sql(wh_z)}
                 ELSE CAST(1 AS DOUBLE)
                      - {_phi_tail_sql(f"-({wh_z})")} END
                 * 1e6, 0) / 1e6 AS lb_p
    FROM __staged
    ORDER BY lag
    """


def pettitt_test(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Pettitt (1979) rank-based change-point test on the daily series
    — the nonparametric sibling of the CUSUM gate (q166): no mean/
    variance model, just ranks, so a single outlier day cannot fake a
    shift.

    Statistic via the rank identity (midranks for ties, doubled to
    stay integer): with ``2m_i = 2*rank_min(c_i) + ties(c_i) - 1``,

        U_t = sum_{i<=t} (2m_i) - t*(n+1)        (exact BIGINT)
        K   = max_{1<=t<n} |U_t|,  t* = earliest argmax
        p  ~= min(1, 2*exp(-6K^2 / (n^3 + n^2)))

    Returns one row: ``(n, change_day, u_stat, p_value)`` where
    ``change_day`` is the last day of the pre-change segment.

    Exactness: ranks, cumulative sums and K are exact integers on both
    engines; the only float op is ONE exp of a division of identical
    integers. Scale: the raw table collapses in one date-keyed agg;
    ranks and prefix sums run on the CALENDAR-BOUNDED spine.
    """
    dense = _daily_cents(df, ts_col, value_col)
    wv = Window.orderBy("__c")
    wt = Window.partitionBy("__c")
    wd = Window.orderBy("__d")
    ranked = dense.select(
        "__d",
        "__i",
        (
            F.lit(2) * F.rank().over(wv)
            + F.count("*").over(wt)
            - F.lit(1)
        )
        .cast("bigint")
        .alias("__2m"),
    )
    n_ = F.max("__i").over(
        Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    u = ranked.select(
        "__d",
        "__i",
        n_.cast("bigint").alias("__n"),
        (
            F.sum("__2m").over(
                wd.rowsBetween(Window.unboundedPreceding, 0)
            )
            - F.col("__i").cast("bigint") * (n_.cast("bigint") + 1)
        ).alias("__u"),
    ).where(F.col("__i") < F.col("__n"))
    best = u.select(
        "__n",
        F.abs("__u").alias("__au"),
        "__d",
    )
    agg = best.groupBy("__n").agg(
        F.max("__au").alias("__k"),
    )
    arg = (
        best.join(F.broadcast(agg), ["__n"])
        .where(F.col("__au") == F.col("__k"))
        .groupBy("__n", "__k")
        .agg(F.min("__d").alias("change_day"))
    )
    nn = F.col("__n").cast("double")
    kk = F.col("__k").cast("double")
    p = F.least(
        F.lit(1.0),
        F.lit(2.0)
        * F.exp(
            F.lit(-6.0) * kk * kk / (nn * nn * nn + nn * nn)
        ),
    )
    return arg.select(
        F.col("__n").alias("n"),
        "change_day",
        F.col("__k").cast("bigint").alias("u_stat"),
        round_to(p, 6).alias("p_value"),
    )


def pettitt_test_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
) -> str:
    """DuckDB twin of :func:`pettitt_test` — identical spine, doubled
    midranks, prefix-sum U_t, earliest-argmax convention and the one
    exp."""
    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    return f"""{base}
    , __ranked AS (
        SELECT __d, __i,
               CAST(2 * rank() OVER (ORDER BY __c)
                    + count(*) OVER (PARTITION BY __c)
                    - 1 AS BIGINT) AS __2m,
               CAST(max(__i) OVER () AS BIGINT) AS __n
        FROM __dense
    ), __u AS (
        SELECT __d, __i, __n,
               CAST(sum(__2m) OVER (ORDER BY __d
                        ROWS BETWEEN UNBOUNDED PRECEDING
                        AND CURRENT ROW) AS BIGINT)
               - __i * (__n + 1) AS __uv
        FROM __ranked
    ), __best AS (
        SELECT __n, abs(__uv) AS __au, __d
        FROM __u WHERE __i < __n
    ), __agg AS (
        SELECT __n, max(__au) AS __k FROM __best GROUP BY 1
    ), __arg AS (
        SELECT b.__n, a.__k, min(b.__d) AS change_day
        FROM __best b JOIN __agg a
          ON b.__n = a.__n AND b.__au = a.__k
        GROUP BY 1, 2
    )
    SELECT CAST(__n AS BIGINT) AS n, change_day,
           CAST(__k AS BIGINT) AS u_stat,
           round(least(CAST(1 AS DOUBLE),
                 CAST(2 AS DOUBLE) * exp(CAST(-6 AS DOUBLE)
                 * CAST(__k AS DOUBLE) * CAST(__k AS DOUBLE)
                 / (CAST(__n AS DOUBLE) * CAST(__n AS DOUBLE)
                    * CAST(__n AS DOUBLE)
                    + CAST(__n AS DOUBLE) * CAST(__n AS DOUBLE))))
                 * 1e6, 0) / 1e6 AS p_value
    FROM __arg
    """


def mann_kendall(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Mann-Kendall monotonic-trend test with Sen's slope (Mann 1945,
    Kendall 1975, Sen 1968) on the daily series — the standard
    distribution-free "is this metric drifting" readout beside
    Pettitt's single-shift alternative.

        S = sum_{i<j} sign(c_j - c_i)
        Var(S) = [n(n-1)(2n+5) - sum_ties t(t-1)(2t+5)] / 18
        z = (S -+ 1) / sqrt(Var)   (continuity-corrected, 0 when S=0)
        sen = median over pairs of (c_j - c_i)/(j - i)

    Returns one row: ``(n, s_stat, var_s_x18, z, p_value, sen_slope)``
    (variance kept x18 to stay integer; z folds the /18 inside the
    sqrt as literals).

    Exactness: S, the tie fold and 18*Var are exact BIGINT; z is
    divisions/sqrt of identical integers; two-sided p uses the shared
    A&S 7.1.26 tail. Sen's slope picks the lower-median pair slope by
    (slope, i, j) ordering — each slope is ONE division of exact
    integer cents by exact day gaps, and the pick is an order
    statistic, not a float sum, so fold order never enters.

    Scale: the pair fan-out runs on the CALENDAR-BOUNDED spine
    (days^2/2 pairs — bounded by the date range, independent of table
    size); the raw table contributes one date-keyed agg.
    """
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    # the daily frame is CALENDAR-bounded (tens of rows) but its subtree
    # is a full raw-table aggregation — without a checkpoint it re-runs
    # for every consumer (both pair sides x two pair readers + ties:
    # 20 raw scans in the audited plan); the pair grid is days^2/2,
    # also bounded, and feeds two aggregates
    dense = _daily_cents(df, ts_col, value_col)  # checkpointed inside
    a = dense.select(
        F.col("__i").alias("__ia"), F.col("__c").alias("__ca")
    )
    b = dense.select(
        F.col("__i").alias("__ib"), F.col("__c").alias("__cb")
    )
    pairs = stage(a.join(
        F.broadcast(b), F.col("__ib") > F.col("__ia"), "inner"
    ))
    s_and_n = pairs.agg(
        F.sum(F.signum(F.col("__cb") - F.col("__ca")))
        .cast("bigint")
        .alias("s_stat"),
        (
            (F.lit(1) + F.sqrt(F.lit(1.0) + F.lit(8.0) * F.count("*")))
            / F.lit(2.0)
        )
        .cast("bigint")
        .alias("n"),
    )
    ties = (
        dense.groupBy("__c")
        .agg(F.count("*").cast("bigint").alias("__t"))
        .agg(
            F.sum(
                F.col("__t")
                * (F.col("__t") - 1)
                * (F.lit(2) * F.col("__t") + 5)
            )
            .cast("bigint")
            .alias("__tiefold")
        )
    )
    # Sen's slope: lower median of pair slopes by (slope, ia, ib)
    slopes = pairs.select(
        (
            (F.col("__cb") - F.col("__ca")).cast("double")
            / (F.col("__ib") - F.col("__ia")).cast("double")
            / F.lit(100.0)
        ).alias("__sl"),
        "__ia",
        "__ib",
    )
    wsl = Window.orderBy("__sl", "__ia", "__ib")
    cnt = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    sen = (
        slopes.select(
            "__sl",
            F.row_number().over(wsl).alias("__rn"),
            F.count("*").over(cnt).alias("__np"),
        )
        .where(
            F.col("__rn")
            == F.floor((F.col("__np") + 1) / 2).cast("bigint")
        )
        .select(F.col("__sl").alias("__sen"))
    )
    st = (
        s_and_n.join(F.broadcast(ties), how="cross")
        .join(F.broadcast(sen), how="cross")
        .select(
            "n",
            "s_stat",
            (
                F.col("n")
                * (F.col("n") - 1)
                * (F.lit(2) * F.col("n") + 5)
                - F.col("__tiefold")
            )
            .cast("bigint")
            .alias("var_s_x18"),
            "__sen",
        )
    )
    # divide INSIDE the sign branches: s != 0 implies Var > 0 (a zero
    # variance needs every value tied, which forces S = 0), and the
    # all-tied series must reach ELSE 0 without dividing (ANSI mode
    # throws on 0/0; pymannkendall's z = 0, p = 1 convention)
    z_expr = (
        "(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE)"
        " - CAST(1 AS DOUBLE))"
        " / sqrt(CAST(var_s_x18 AS DOUBLE) / CAST(18 AS DOUBLE))"
        " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE)"
        " + CAST(1 AS DOUBLE))"
        " / sqrt(CAST(var_s_x18 AS DOUBLE) / CAST(18 AS DOUBLE))"
        " ELSE CAST(0 AS DOUBLE) END)"
    )
    return st.select(
        "n",
        "s_stat",
        "var_s_x18",
        round_to(F.expr(z_expr), 6).alias("z"),
        round_to(
            F.lit(2.0)
            * F.expr(_phi_tail_sql(f"abs({z_expr})")),
            6,
        ).alias("p_value"),
        round_to(F.col("__sen"), 6).alias("sen_slope"),
    )


def mann_kendall_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
) -> str:
    """DuckDB twin of :func:`mann_kendall` — identical spine, pair
    grid, tie fold, continuity correction, lower-median Sen pick and
    A&S tail."""
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    # divide INSIDE the sign branches: s != 0 implies Var > 0 (a zero
    # variance needs every value tied, which forces S = 0), and the
    # all-tied series must reach ELSE 0 without dividing (ANSI mode
    # throws on 0/0; pymannkendall's z = 0, p = 1 convention)
    z_expr = (
        "(CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE)"
        " - CAST(1 AS DOUBLE))"
        " / sqrt(CAST(var_s_x18 AS DOUBLE) / CAST(18 AS DOUBLE))"
        " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE)"
        " + CAST(1 AS DOUBLE))"
        " / sqrt(CAST(var_s_x18 AS DOUBLE) / CAST(18 AS DOUBLE))"
        " ELSE CAST(0 AS DOUBLE) END)"
    )
    return f"""{base}
    , __pairs AS (
        SELECT a.__i AS __ia, a.__c AS __ca, b.__i AS __ib,
               b.__c AS __cb
        FROM __dense a JOIN __dense b ON b.__i > a.__i
    ), __sn AS (
        SELECT CAST(sum(CASE WHEN __cb > __ca THEN 1
                        WHEN __cb < __ca THEN -1 ELSE 0 END)
                    AS BIGINT) AS s_stat,
               CAST((1 + sqrt(CAST(1 AS DOUBLE)
                    + CAST(8 AS DOUBLE) * count(*)))
                    / CAST(2 AS DOUBLE) AS BIGINT) AS n
        FROM __pairs
    ), __ties AS (
        SELECT CAST(sum(__t * (__t - 1) * (2 * __t + 5)) AS BIGINT)
               AS __tiefold
        FROM (SELECT CAST(count(*) AS BIGINT) AS __t
              FROM __dense GROUP BY __c)
    ), __slopes AS (
        SELECT CAST(__cb - __ca AS DOUBLE)
               / CAST(__ib - __ia AS DOUBLE)
               / CAST(100 AS DOUBLE) AS __sl,
               __ia, __ib
        FROM __pairs
    ), __sen AS (
        SELECT __sl AS __sen
        FROM (SELECT __sl,
                     row_number() OVER (ORDER BY __sl, __ia, __ib)
                         AS __rn,
                     count(*) OVER () AS __np
              FROM __slopes)
        WHERE __rn = (__np + 1) // 2
    ), __st AS (
        SELECT n, s_stat,
               CAST(n * (n - 1) * (2 * n + 5) - __tiefold AS BIGINT)
                   AS var_s_x18,
               __sen
        FROM __sn CROSS JOIN __ties CROSS JOIN __sen
    )
    SELECT n, s_stat, var_s_x18,
           round({z_expr} * 1e6, 0) / 1e6 AS z,
           round(CAST(2 AS DOUBLE)
                 * {_phi_tail_sql(f"abs({z_expr})")}
                 * 1e6, 0) / 1e6 AS p_value,
           round(__sen * 1e6, 0) / 1e6 AS sen_slope
    FROM __st
    """


def cross_correlation(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    type_col: str,
    type_x: str,
    type_y: str,
    max_lag: int = 7,
) -> DataFrame:
    """Cross-correlation function between two event types' daily
    value series at lags -K..K — the lead-lag detector ("do clicks
    lead purchases, and by how many days?") beside the single-series
    ACF (q204):

        ccf(k) = sum_t (x_t - xbar)(y_{t+k} - ybar)
                 / sqrt(sum (x - xbar)^2 * sum (y - ybar)^2)

    (full-series means/denominators, overlap-window numerator — the
    standard sample CCF normalization). Positive k means ``type_x``
    LEADS ``type_y`` by k days.

    Returns ``2*max_lag + 1`` rows: ``(lag, n, ccf)``.

    Exactness: both series are dense daily integer-cent sums on the
    SHARED calendar spine (zero-filled); the numerator is the exact
    n^2-scaled integer identity (q204's device, cross form)

        num * n^2 = n^2*P_k - n*Sx*T_k - n*Sy*H_k + (n-|k|)*Sx*Sy

    in DECIMAL(38)/HUGEINT; the denominator multiplies the two sqrt'd
    exact variance integers in double (their DECIMAL product could
    exceed 38 digits); one division ends the chain. Zero-variance
    series yield NULL.

    Scale: one date+type-keyed agg over the raw table; the lag
    pairing is an index join on the CALENDAR-BOUNDED spine.
    """
    typed = df.where(
        F.col(type_col).isin([type_x, type_y])
        & F.col(ts_col).isNotNull()
    ).select(
        F.to_date(F.col(ts_col)).alias("__d"),
        F.when(F.col(type_col) == type_x, F.lit("x"))
        .otherwise(F.lit("y"))
        .alias("__t"),
        to_fixed(F.col(value_col).cast("double"), 2).alias("__c"),
    )
    # days x 2 rows; feeds the range scalar AND both pivot joins —
    # checkpoint so the raw agg runs once per call
    daily = stage(typed.groupBy("__d", "__t").agg(
        F.sum("__c").alias("__c")
    ))
    rng = daily.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    spine = rng.select(
        F.explode(
            F.expr("sequence(__lo, __hi, interval 1 day)")
        ).alias("__d")
    )
    piv = stage(
        spine.join(
            daily.where(F.col("__t") == "x").select(
                "__d", F.col("__c").alias("__x")
            ),
            "__d",
            "left",
        )
        .join(
            daily.where(F.col("__t") == "y").select(
                "__d", F.col("__c").alias("__y")
            ),
            "__d",
            "left",
        )
        .select(
            F.row_number()
            .over(Window.orderBy("__d"))
            .cast("bigint")
            .alias("__i"),
            F.coalesce(F.col("__x"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__x"),
            F.coalesce(F.col("__y"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__y"),
        )
        # calendar-bounded; feeds the moment agg AND both lag-join
        # sides — checkpoint so the spine build runs once
    )
    tot = piv.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__syy"),
    )
    lags = piv.sparkSession.range(
        -max_lag, max_lag + 1
    ).select(F.col("id").cast("int").alias("lag"))
    shifted = piv.select(
        F.col("__i").alias("__j"), F.col("__y").alias("__yk")
    )
    pairs = (
        F.broadcast(lags)
        .join(piv.select("__i", "__x"), how="cross")
        .join(
            shifted,
            F.col("__j") == F.col("__i") + F.col("lag"),
            "inner",
        )
        .groupBy("lag")
        .agg(
            F.sum(F.col("__x") * F.col("__yk")).alias("__p"),
            F.sum("__x").alias("__h"),
            F.sum("__yk").alias("__t"),
        )
    )
    n = F.col("__n").cast("decimal(38,0)")
    k = F.abs(F.col("lag")).cast("decimal(38,0)")
    num = (
        n * n * F.col("__p")
        - n * F.col("__sx") * F.col("__t")
        - n * F.col("__sy") * F.col("__h")
        + (n - k) * F.col("__sx") * F.col("__sy")
    )
    dx = n * n * F.col("__sxx") - n * F.col("__sx") * F.col("__sx")
    dy = n * n * F.col("__syy") - n * F.col("__sy") * F.col("__sy")
    den = F.sqrt(dx.cast("double")) * F.sqrt(dy.cast("double"))
    return (
        pairs.join(F.broadcast(tot), how="cross")
        .select(
            "lag",
            F.col("__n").alias("n"),
            round_to(
                F.when(
                    (dx > 0) & (dy > 0), num.cast("double") / den
                ),
                6,
            ).alias("ccf"),
        )
        .orderBy("lag")
    )


def cross_correlation_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    type_col: str,
    type_x: str,
    type_y: str,
    max_lag: int = 7,
) -> str:
    """DuckDB twin of :func:`cross_correlation` — identical shared
    spine, HUGEINT cross folds, sqrt-product denominator."""
    return f"""
    WITH __typed AS (
        SELECT CAST({ts_col} AS DATE) AS __d,
               CASE WHEN {type_col} = '{type_x}' THEN 'x'
                    ELSE 'y' END AS __t,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __c
        FROM ({table_expr})
        WHERE {type_col} IN ('{type_x}', '{type_y}')
          AND {ts_col} IS NOT NULL
    ), __daily AS MATERIALIZED (
        SELECT __d, __t, CAST(sum(__c) AS BIGINT) AS __c
        FROM __typed GROUP BY 1, 2
    ), __rng AS (
        SELECT min(__d) AS __lo, max(__d) AS __hi FROM __daily
    ), __spine AS (
        SELECT CAST(unnest(generate_series(CAST(__lo AS TIMESTAMP),
                       CAST(__hi AS TIMESTAMP), INTERVAL 1 DAY))
                    AS DATE) AS __d
        FROM __rng
    ), __piv AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY s.__d) AS BIGINT)
                   AS __i,
               CAST(COALESCE(x.__c, 0) AS HUGEINT) AS __x,
               CAST(COALESCE(y.__c, 0) AS HUGEINT) AS __y
        FROM __spine s
        LEFT JOIN (SELECT __d, __c FROM __daily WHERE __t = 'x') x
          ON x.__d = s.__d
        LEFT JOIN (SELECT __d, __c FROM __daily WHERE __t = 'y') y
          ON y.__d = s.__d
    ), __tot AS (
        SELECT CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__x) AS HUGEINT) AS __sx,
               CAST(sum(__y) AS HUGEINT) AS __sy,
               CAST(sum(__x * __x) AS HUGEINT) AS __sxx,
               CAST(sum(__y * __y) AS HUGEINT) AS __syy
        FROM __piv
    ), __lags AS (
        SELECT CAST(unnest(range({-max_lag}, {max_lag + 1}))
                    AS INTEGER) AS lag
    ), __pairs AS (
        SELECT l.lag,
               CAST(sum(a.__x * b.__y) AS HUGEINT) AS __p,
               CAST(sum(a.__x) AS HUGEINT) AS __h,
               CAST(sum(b.__y) AS HUGEINT) AS __t
        FROM __lags l
        JOIN __piv a ON TRUE
        JOIN __piv b ON b.__i = a.__i + l.lag
        GROUP BY 1
    ), __num AS (
        SELECT p.lag, t.__n AS n,
               CAST(CAST(t.__n AS HUGEINT) * CAST(t.__n AS HUGEINT)
                        * p.__p
                    - CAST(t.__n AS HUGEINT) * t.__sx * p.__t
                    - CAST(t.__n AS HUGEINT) * t.__sy * p.__h
                    + (CAST(t.__n AS HUGEINT)
                       - CAST(abs(p.lag) AS HUGEINT))
                      * t.__sx * t.__sy AS DOUBLE) AS __numd,
               CAST(CAST(t.__n AS HUGEINT) * CAST(t.__n AS HUGEINT)
                        * t.__sxx
                    - CAST(t.__n AS HUGEINT) * t.__sx * t.__sx
                    AS DOUBLE) AS __dx,
               CAST(CAST(t.__n AS HUGEINT) * CAST(t.__n AS HUGEINT)
                        * t.__syy
                    - CAST(t.__n AS HUGEINT) * t.__sy * t.__sy
                    AS DOUBLE) AS __dy
        FROM __pairs p CROSS JOIN __tot t
    )
    SELECT lag, n,
           round(CASE WHEN __dx > 0 AND __dy > 0 THEN
                 __numd / (sqrt(__dx) * sqrt(__dy)) END
                 * 1e6, 0) / 1e6 AS ccf
    FROM __num
    ORDER BY lag
    """


def kruskal_wallis_dow(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Kruskal-Wallis rank test of day-of-week effect on the daily
    series (Kruskal & Wallis 1952) — the distribution-free one-way
    ANOVA: "does this metric genuinely differ by weekday, or is the
    Monday dip noise?" Groups are weekday(0=Mon..6=Sun) over the dense
    daily-cent spine; midranks handle ties:

        H = 12/(n(n+1)) * sum_g R_g^2/n_g - 3(n+1)
        H' = H / (1 - sum(t^3 - t)/(n^3 - n))     (tie correction)

    p-value via Wilson-Hilferty with df = (groups present) - 1 through
    the shared A&S tail.

    Returns one row: ``(n, n_groups, h_stat, p_value)``; NULL p when
    every value ties (correction denominator 0).

    Exactness: doubled midranks keep every rank sum an exact BIGINT;
    each group's R_g^2/n_g is ONE division nano-rounded before the
    7-term fold; the tie fold is exact integers.

    Scale: one date-keyed agg; ranks on the CALENDAR-BOUNDED spine.
    """
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    dense = _daily_cents(df, ts_col, value_col)
    wv = Window.orderBy("__c")
    wt = Window.partitionBy("__c")
    ranked = dense.select(
        F.expr("weekday(__d)").cast("int").alias("__g"),
        (
            F.lit(2) * F.rank().over(wv)
            + F.count("*").over(wt)
            - F.lit(1)
        )
        .cast("bigint")
        .alias("__2m"),
        F.col("__c"),
    )
    per_g = ranked.groupBy("__g").agg(
        F.sum("__2m").cast("bigint").alias("__s2"),
        F.count(F.lit(1)).cast("bigint").alias("__ng"),
    )
    # nano-rounded R_g^2 / n_g = (s2/2)^2 / ng = s2^2 / (4 ng)
    terms = per_g.select(
        to_fixed(
            (F.col("__s2") * F.col("__s2")).cast("double")
            / (F.lit(4) * F.col("__ng")).cast("double"),
            9,
        ).alias("__t"),
        "__ng",
    )
    ties = (
        dense.groupBy("__c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__t"))
        .agg(
            F.sum(
                F.col("__t") * F.col("__t") * F.col("__t")
                - F.col("__t")
            )
            .cast("bigint")
            .alias("__tiefold")
        )
    )
    agg = terms.agg(
        F.sum("__t").cast("bigint").alias("__rsum"),
        F.sum("__ng").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
    ).join(F.broadcast(ties), how="cross")
    nn = F.col("n").cast("double")
    h = (
        F.lit(12.0)
        / (nn * (nn + F.lit(1.0)))
        * from_fixed(F.col("__rsum"), 9)
        - F.lit(3.0) * (nn + F.lit(1.0))
    )
    corr = F.lit(1.0) - F.col("__tiefold").cast("double") / (
        nn * nn * nn - nn
    )
    hprime = F.when(corr > 0, h / corr)
    staged = agg.select(
        "n",
        "n_groups",
        hprime.alias("__q"),
        (F.col("n_groups") - 1).cast("double").alias("__k"),
    )
    wh_z = (
        "((pow(__q / __k, CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))"
        " - (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)"
        "    / (CAST(9 AS DOUBLE) * __k)))"
        " / sqrt(CAST(2 AS DOUBLE) / (CAST(9 AS DOUBLE) * __k)))"
    )
    return staged.select(
        "n",
        "n_groups",
        round_to(F.col("__q"), 6).alias("h_stat"),
        round_to(
            F.when(
                F.expr(wh_z) >= 0, F.expr(_phi_tail_sql(wh_z))
            ).otherwise(
                F.lit(1.0) - F.expr(_phi_tail_sql(f"-({wh_z})"))
            ),
            6,
        ).alias("p_value"),
    )


def kruskal_wallis_dow_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
) -> str:
    """DuckDB twin of :func:`kruskal_wallis_dow` — identical spine,
    doubled midranks, nano-unit R^2/n fold, tie correction and WH +
    A&S tail. Weekday alignment: Spark ``weekday`` (Mon=0) equals
    DuckDB ``isodow - 1``."""
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    wh_z = (
        "((pow(__q / __k, CAST(1 AS DOUBLE) / CAST(3 AS DOUBLE))"
        " - (CAST(1 AS DOUBLE) - CAST(2 AS DOUBLE)"
        "    / (CAST(9 AS DOUBLE) * __k)))"
        " / sqrt(CAST(2 AS DOUBLE) / (CAST(9 AS DOUBLE) * __k)))"
    )
    return f"""{base}
    , __ranked AS (
        SELECT CAST(isodow(__d) - 1 AS INTEGER) AS __g,
               CAST(2 * rank() OVER (ORDER BY __c)
                    + count(*) OVER (PARTITION BY __c)
                    - 1 AS BIGINT) AS __2m
        FROM __dense
    ), __perg AS (
        SELECT __g, CAST(sum(__2m) AS BIGINT) AS __s2,
               CAST(count(*) AS BIGINT) AS __ng
        FROM __ranked GROUP BY 1
    ), __terms AS (
        SELECT CAST(round(CAST(__s2 * __s2 AS DOUBLE)
                    / CAST(4 * __ng AS DOUBLE) * 1e9, 0) AS BIGINT)
                   AS __t,
               __ng
        FROM __perg
    ), __ties AS (
        SELECT CAST(sum(__t * __t * __t - __t) AS BIGINT) AS __tiefold
        FROM (SELECT CAST(count(*) AS BIGINT) AS __t
              FROM __dense GROUP BY __c)
    ), __agg AS (
        SELECT CAST(sum(__t) AS BIGINT) AS __rsum,
               CAST(sum(__ng) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS n_groups
        FROM __terms
    ), __staged AS (
        SELECT a.n, a.n_groups,
               CASE WHEN CAST(1 AS DOUBLE)
                         - CAST(t.__tiefold AS DOUBLE)
                           / (CAST(a.n AS DOUBLE) * CAST(a.n AS DOUBLE)
                              * CAST(a.n AS DOUBLE)
                              - CAST(a.n AS DOUBLE)) > 0 THEN
                    (CAST(12 AS DOUBLE)
                     / (CAST(a.n AS DOUBLE)
                        * (CAST(a.n AS DOUBLE) + CAST(1 AS DOUBLE)))
                     * (CAST(a.__rsum AS DOUBLE) / 1e9)
                     - CAST(3 AS DOUBLE)
                       * (CAST(a.n AS DOUBLE) + CAST(1 AS DOUBLE)))
                    / (CAST(1 AS DOUBLE)
                       - CAST(t.__tiefold AS DOUBLE)
                         / (CAST(a.n AS DOUBLE) * CAST(a.n AS DOUBLE)
                            * CAST(a.n AS DOUBLE)
                            - CAST(a.n AS DOUBLE))) END AS __q,
               CAST(a.n_groups - 1 AS DOUBLE) AS __k
        FROM __agg a CROSS JOIN __ties t
    )
    SELECT n, n_groups,
           round(__q * 1e6, 0) / 1e6 AS h_stat,
           round(CASE WHEN {wh_z} >= 0 THEN {_phi_tail_sql(wh_z)}
                 ELSE CAST(1 AS DOUBLE)
                      - {_phi_tail_sql(f"-({wh_z})")} END
                 * 1e6, 0) / 1e6 AS p_value
    FROM __staged
    """


def ohlc_bars(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    interval: str = "1 day",
) -> DataFrame:
    """Per-key OHLC + VWAP resample bars — the market-data/metrics
    staple (open/high/low/close of ``value_col`` per time bucket, with
    the tick count and the volume-weighted average where every tick
    has unit volume, i.e. the plain mean kept cent-exact):

    ``order_col`` breaks equal-timestamp ties so open/close are
    deterministic (the q133 lag-window rule).

    Returns ``(key, bucket, open, high, low, close, n_ticks, vwap)``.

    Exactness: ticks become integer cents BEFORE any aggregation;
    open/close are ``min_by``/``max_by`` over the (ts, order) struct —
    order statistics, not scans; vwap is one division, round-6.

    Scale: ONE (key, bucket)-keyed hash agg with map-side partials —
    no window over the raw table at all (the naive first/last-over-
    window formulation shuffles and sorts every tick; min_by does
    not).
    """
    # fixed-width lexicographic (ts, order) key inside _ohlc_staged —
    # DuckDB's arg_min does not take a struct ordering argument, so
    # BOTH engines order by the identical composed string
    staged = _ohlc_staged(
        df, key_col, ts_col, value_col, order_col, interval
    )
    return staged.groupBy("key", "bucket").agg(
        round_to(from_fixed(F.min_by("__c", F.col("__k")), 2), 6).alias("open"),
        round_to(from_fixed(F.max("__c"), 2), 6).alias("high"),
        round_to(from_fixed(F.min("__c"), 2), 6).alias("low"),
        round_to(from_fixed(F.max_by("__c", F.col("__k")), 2), 6).alias("close"),
        F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
        round_to(
            F.sum("__c").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(100.0),
            6,
        ).alias("vwap"),
    )


def ohlc_bars_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    interval: str = "1 day",
) -> str:
    """DuckDB twin of :func:`ohlc_bars` — identical epoch-floored
    buckets, cent staging, and (ts, order) arg-min/max."""
    n, unit = _parse_interval(interval)
    step = n * _UNIT_SECONDS[unit]
    return f"""
    WITH __staged AS (
        SELECT {key_col} AS key,
               make_timestamp(CAST(floor(epoch({ts_col})
                   / {step}) AS BIGINT)
                   * {step} * 1000000) AS bucket,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __c,
               printf('%020d|%020d', epoch_us({ts_col}),
                      CAST({order_col} AS BIGINT)) AS __k
        FROM {table}
        WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
    )
    SELECT key, bucket,
           round(CAST(arg_min(__c, __k) AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS open,
           round(CAST(max(__c) AS DOUBLE) / CAST(100 AS DOUBLE)
                 * 1e6, 0) / 1e6 AS high,
           round(CAST(min(__c) AS DOUBLE) / CAST(100 AS DOUBLE)
                 * 1e6, 0) / 1e6 AS low,
           round(CAST(arg_max(__c, __k) AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS close,
           CAST(count(*) AS BIGINT) AS n_ticks,
           round(CAST(sum(__c) AS BIGINT) / CAST(count(*) AS DOUBLE)
                 / CAST(100 AS DOUBLE) * 1e6, 0) / 1e6 AS vwap
    FROM __staged
    GROUP BY 1, 2
    """


def _ohlc_staged(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    interval: str,
) -> DataFrame:
    """Shared (key, bucket, cents, order-key) staging for the batch
    bars and the streaming partials."""
    n, unit = _parse_interval(interval)
    if unit not in _UNIT_SECONDS:
        raise ValueError("ohlc bars need a fixed-length interval")
    step = n * _UNIT_SECONDS[unit]
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp(F.col(ts_col)) / F.lit(step)).cast(
            "long"
        )
        * F.lit(step)
    )
    cents = to_fixed(F.col(value_col).cast("double"), 2)
    ordk = F.format_string(
        "%020d|%020d",
        F.unix_micros(F.col(ts_col)),
        F.col(order_col).cast("bigint"),
    )
    return df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(key_col).alias("key"),
        bucket.alias("bucket"),
        cents.alias("__c"),
        ordk.alias("__k"),
    )


def ohlc_bucket_partials(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    order_col: str,
    interval: str = "1 day",
) -> DataFrame:
    """MERGEABLE per-(key, bucket) OHLC partials — every component is
    an associative fold (arg-min/max by the composed order key, min,
    max, count, sum), so partials from out-of-order micro-batches
    merge to exactly the batch bars (the q166 streaming-maintenance
    discipline; law pinned in tests/test_streaming.py)."""
    staged = _ohlc_staged(
        df, key_col, ts_col, value_col, order_col, interval
    )
    return staged.groupBy("key", "bucket").agg(
        F.min("__k").alias("__ko"),
        F.min_by("__c", F.col("__k")).alias("__oc"),
        F.max("__k").alias("__kc"),
        F.max_by("__c", F.col("__k")).alias("__cc"),
        F.max("__c").alias("__hi"),
        F.min("__c").alias("__lo"),
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__c").cast("bigint").alias("__s"),
    )


def ohlc_merge_partials(partials: DataFrame) -> DataFrame:
    """Merge OHLC partials into final bars — identical output contract
    to :func:`ohlc_bars` (same columns, same rounding)."""
    merged = partials.groupBy("key", "bucket").agg(
        F.min_by("__oc", F.col("__ko")).alias("__oc"),
        F.max_by("__cc", F.col("__kc")).alias("__cc"),
        F.max("__hi").alias("__hi"),
        F.min("__lo").alias("__lo"),
        F.sum("__n").cast("bigint").alias("__n"),
        F.sum("__s").cast("bigint").alias("__s"),
    )
    return merged.select(
        "key",
        "bucket",
        round_to(from_fixed(F.col("__oc"), 2), 6).alias("open"),
        round_to(from_fixed(F.col("__hi"), 2), 6).alias("high"),
        round_to(from_fixed(F.col("__lo"), 2), 6).alias("low"),
        round_to(from_fixed(F.col("__cc"), 2), 6).alias("close"),
        F.col("__n").alias("n_ticks"),
        round_to(
            F.col("__s").cast("double")
            / F.col("__n").cast("double")
            / F.lit(100.0),
            6,
        ).alias("vwap"),
    )


def seasonal_strength(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    period: int = 7,
) -> DataFrame:
    """Seasonal and trend STRENGTH of the daily series (Wang, Smith &
    Hyndman 2006 — the feature-based forecasting readout):

        F_s = max(0, 1 - Var(R) / Var(S + R))
        F_t = max(0, 1 - Var(R) / Var(T + R))

    over the classical decomposition (seasonal_decompose) of the dense
    daily-cent spine, restricted to rows where the trend is defined
    (complete centered windows). Values near 1 mean the component
    dominates; near 0, noise does.

    Returns one row: ``(n, f_seasonal, f_trend)``; NULL when a
    denominator variance is 0 (constant component + residual).

    Exactness: decomposition components are round-6 doubles identical
    across engines (the q-decompose contract); each component value is
    micro-unit-rounded to BIGINT, variances fold exact
    DECIMAL(38)/HUGEINT moments, and the strengths are single
    divisions of identical integer-derived doubles.

    Scale: one date-keyed agg for the spine; decomposition windows are
    calendar-bounded; the strength fold is one pass over the spine.
    """
    daily = _daily_cents(df, ts_col, value_col).select(
        "__d", from_fixed(F.col("__c"), 2).alias("__val")
    )
    dec = seasonal_decompose(daily, "__d", "__val", period)
    ok = dec.where(
        F.col("trend").isNotNull() & F.col("residual").isNotNull()
    ).select(
        to_fixed(F.col("residual"), 6, wide=True).alias("__r"),
        to_fixed(F.col("seasonal") + F.col("residual"), 6, wide=True).alias("__sr"),
        to_fixed(F.col("trend") + F.col("residual"), 6, wide=True).alias("__tr"),
    )
    def moments(col, pre):
        # distinct prefixes: __s{r} vs __ss{r} collide for pre 'sr'
        return [
            F.sum(F.col(col)).alias(f"__sum_{pre}"),
            F.sum(F.col(col) * F.col(col)).alias(f"__sq_{pre}"),
        ]
    agg = ok.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *moments("__r", "r"),
        *moments("__sr", "sr"),
        *moments("__tr", "tr"),
    )
    n = F.col("n").cast("decimal(38,0)")
    def var(pre):
        return (
            n * F.col(f"__sq_{pre}")
            - F.col(f"__sum_{pre}") * F.col(f"__sum_{pre}")
        ).cast("double")
    fs = F.greatest(
        F.lit(0.0), F.lit(1.0) - var("r") / var("sr")
    )
    ft = F.greatest(
        F.lit(0.0), F.lit(1.0) - var("r") / var("tr")
    )
    return agg.select(
        "n",
        round_to(F.when(var("sr") > 0, fs), 6).alias("f_seasonal"),
        round_to(F.when(var("tr") > 0, ft), 6).alias("f_trend"),
    )


def seasonal_strength_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    period: int = 7,
) -> str:
    """DuckDB twin of :func:`seasonal_strength` — replays the spine,
    the decomposition and the micro-unit variance folds."""
    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    daily = (
        base
        + """ SELECT __d, CAST(__c AS DOUBLE) / CAST(100 AS DOUBLE)
              AS __val FROM __dense"""
    )
    dec = seasonal_decompose_sql(daily, "__d", "__val", period)
    return f"""
    WITH __dec AS MATERIALIZED (
        {dec}
    ), __ok AS (
        SELECT CAST(round(residual * 1e6, 0) AS HUGEINT) AS __r,
               CAST(round((seasonal + residual) * 1e6, 0) AS HUGEINT)
                   AS __sr,
               CAST(round((trend + residual) * 1e6, 0) AS HUGEINT)
                   AS __tr
        FROM __dec
        WHERE trend IS NOT NULL AND residual IS NOT NULL
    ), __agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(__r) AS HUGEINT) AS __sr_,
               CAST(sum(__r * __r) AS HUGEINT) AS __ssr_,
               CAST(sum(__sr) AS HUGEINT) AS __ssr2,
               CAST(sum(__sr * __sr) AS HUGEINT) AS __sssr2,
               CAST(sum(__tr) AS HUGEINT) AS __str2,
               CAST(sum(__tr * __tr) AS HUGEINT) AS __sstr2
        FROM __ok
    )
    SELECT n,
           round(CASE WHEN CAST(n AS HUGEINT) * __sssr2
                           - __ssr2 * __ssr2 > 0 THEN
                 greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)
                 - CAST(CAST(n AS HUGEINT) * __ssr_ - __sr_ * __sr_
                        AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * __sssr2
                          - __ssr2 * __ssr2 AS DOUBLE)) END
                 * 1e6, 0) / 1e6 AS f_seasonal,
           round(CASE WHEN CAST(n AS HUGEINT) * __sstr2
                           - __str2 * __str2 > 0 THEN
                 greatest(CAST(0 AS DOUBLE), CAST(1 AS DOUBLE)
                 - CAST(CAST(n AS HUGEINT) * __ssr_ - __sr_ * __sr_
                        AS DOUBLE)
                   / CAST(CAST(n AS HUGEINT) * __sstr2
                          - __str2 * __str2 AS DOUBLE)) END
                 * 1e6, 0) / 1e6 AS f_trend
    FROM __agg
    """


def peak_concurrency(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    order_col: str,
    gap_us: int = 1_800_000_000,
) -> DataFrame:
    """Per-day PEAK number of concurrently open sessions — the classic
    sweep-line (+1 at session start, -1 at session end, running max)
    over gap-sessionized events, with the q157/q186 bucketed-prefix
    decomposition instead of one global ordering.

    Convention: session intervals are CLOSED — at an instant where one
    session ends and another starts, both count (starts apply before
    ends at equal timestamps: ORDER BY ts, delta DESC). A day appears in
    the output iff some session starts or ends on it.

    Scale design: sessionization is the q11 user-keyed lag + running
    sum (no global window); endpoint rows are 2 per session; the sweep
    prefix runs per DAY bucket (bounded by endpoints/day), and the
    cross-day carry is a running sum over the tiny day axis. Peak(day)
    = carry_in + max(0, max within-day prefix) — exact, because the
    concurrency before the day's first endpoint is exactly carry_in.
    """
    w_order = Window.partitionBy(user_col).orderBy(ts_col, order_col)
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(w_order)
    new_sess = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    w_run = w_order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = (
        df.withColumn("__us", us)
        .withColumn("__ns", new_sess)
        .withColumn("__sid", F.sum("__ns").over(w_run))
        .groupBy(user_col, "__sid")
        .agg(F.min("__us").alias("__s"), F.max("__us").alias("__e"))
    )
    pts = sess.select(
        F.col("__s").alias("__pus"), F.lit(1).alias("__delta")
    ).unionByName(
        sess.select(F.col("__e").alias("__pus"), F.lit(-1).alias("__delta"))
    )
    pts = pts.withColumn(
        "__day", F.to_date(F.timestamp_micros(F.col("__pus")))
    )
    w_day = Window.partitionBy("__day").orderBy(
        F.col("__pus").asc(), F.col("__delta").desc()
    ).rowsBetween(Window.unboundedPreceding, Window.currentRow)
    pref = pts.withColumn("__prefix", F.sum("__delta").over(w_day))
    per_day = pref.groupBy("__day").agg(
        F.max("__prefix").alias("__maxp"),
        F.sum("__delta").alias("__tot"),
    )
    w_carry = Window.orderBy("__day").rowsBetween(
        Window.unboundedPreceding, -1
    )
    return (
        per_day.withColumn(
            "__carry", F.coalesce(F.sum("__tot").over(w_carry), F.lit(0))
        )
        .select(
            F.col("__day").alias("day"),
            (F.col("__carry") + F.greatest(F.col("__maxp"), F.lit(0)))
            .cast("long")
            .alias("peak_sessions"),
        )
    )


def peak_concurrency_sql(
    table: str,
    user_col: str,
    ts_col: str,
    order_col: str,
    gap_us: int = 1_800_000_000,
) -> str:
    """DuckDB twin of :func:`peak_concurrency` — deliberately the PLAIN
    single-global-window sweep (one running sum ordered by (ts, delta
    DESC); peak(day) = max over the day's endpoints of
    greatest(running_after, running_before)), so the oracle certifies
    the bucketed-prefix decomposition against the textbook formulation,
    exactly as q157's plain RANGE-window oracle certifies the bucketed
    rolling window. running_before = running_after - delta, and the
    day's first running_before IS the cross-day carry."""
    return f"""
    WITH base AS (
        SELECT {user_col} AS __u, {order_col} AS __o,
               epoch_us(CAST({ts_col} AS TIMESTAMP)) AS __us
        FROM {table}
    ), flagged AS (
        SELECT __u, __o, __us,
               CASE WHEN __us - lag(__us) OVER w > {gap_us}
                         OR lag(__us) OVER w IS NULL
                    THEN 1 ELSE 0 END AS __ns
        FROM base
        WINDOW w AS (PARTITION BY __u ORDER BY __us, __o)
    ), numbered AS (
        SELECT __u, __us,
               CAST(sum(__ns) OVER (
                   PARTITION BY __u ORDER BY __us, __o
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __sid
        FROM flagged
    ), sess AS (
        SELECT __u, __sid, min(__us) AS __s, max(__us) AS __e
        FROM numbered GROUP BY __u, __sid
    ), pts AS (
        SELECT __s AS __pus, 1 AS __delta FROM sess
        UNION ALL
        SELECT __e AS __pus, -1 AS __delta FROM sess
    ), run AS (
        SELECT __pus, __delta,
               CAST(sum(__delta) OVER (
                   ORDER BY __pus, __delta DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS __after
        FROM pts
    )
    SELECT CAST(make_timestamp(__pus) AS DATE) AS day,
           CAST(max(greatest(__after, __after - __delta)) AS BIGINT)
               AS peak_sessions
    FROM run GROUP BY 1
    """


def granger_lead_lag(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    type_col: str,
    type_x: str,
    type_y: str,
) -> DataFrame:
    """Granger-style lead-lag test at lag 1 on the shared daily spine:
    does yesterday's ``type_x`` daily value improve the prediction of
    today's ``type_y`` value beyond ``type_y``'s own yesterday?

        restricted:    y_t ~ 1 + y_{t-1}
        unrestricted:  y_t ~ 1 + y_{t-1} + x_{t-1}
        F = (RSS_r - RSS_u) / (RSS_u / (m - 3)),  m = spine days - 1

    (Granger 1969, the bivariate lag-1 form). The directional
    hypothesis-test companion to q218's symmetric CCF.

    Exactness: both series are dense integer-cent sums on the shared
    calendar spine (the q218 construction); all sufficient statistics
    fold as DECIMAL(38,0)/HUGEINT; the closed-form 2-feature solve,
    RSS identity and F-ratio run in doubles with the IDENTICAL
    expression text in the DuckDB twin (RSS scale factors cancel in
    the ratio). p_normal is the two-sided normal approximation of
    t = sqrt(F) via the shared A&S 7.1.26 tail polynomial — the same
    approximation (and caveat) as q197's z-tests.

    Scale: one date+type-keyed agg over the raw table; everything
    after is calendar-bounded. Returns one row
    (n, b_own, b_cross, f_stat, p_normal).
    """
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    typed = df.where(
        F.col(type_col).isin([type_x, type_y]) & F.col(ts_col).isNotNull()
    ).select(
        F.to_date(F.col(ts_col)).alias("__d"),
        F.when(F.col(type_col) == type_x, F.lit("x"))
        .otherwise(F.lit("y"))
        .alias("__t"),
        to_fixed(F.col(value_col).cast("double"), 2).alias("__c"),
    )
    daily = typed.groupBy("__d", "__t").agg(F.sum("__c").alias("__c"))
    rng = daily.agg(F.min("__d").alias("__lo"), F.max("__d").alias("__hi"))
    spine = rng.select(
        F.explode(F.expr("sequence(__lo, __hi, interval 1 day)")).alias(
            "__d"
        )
    )
    piv = stage(
        spine.join(
            daily.where(F.col("__t") == "x").select(
                "__d", F.col("__c").alias("__x")
            ),
            "__d",
            "left",
        )
        .join(
            daily.where(F.col("__t") == "y").select(
                "__d", F.col("__c").alias("__y")
            ),
            "__d",
            "left",
        )
        .select(
            F.row_number().over(Window.orderBy("__d"))
            .cast("bigint")
            .alias("__i"),
            F.coalesce(F.col("__x"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__x"),
            F.coalesce(F.col("__y"), F.lit(0))
            .cast("decimal(38,0)")
            .alias("__y"),
        )
        # calendar-bounded; feeds the current AND lagged projections
    )
    cur = piv.where(F.col("__i") >= 2).select(
        "__i", F.col("__y").alias("__yt")
    )
    prev = piv.select(
        (F.col("__i") + 1).alias("__i"),
        F.col("__y").alias("__y1"),
        F.col("__x").alias("__x1"),
    )
    rows = cur.join(prev, "__i")
    s = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        *_ols2_sums(F.col("__y1"), F.col("__x1"), F.col("__yt")),
    )
    nd, sd, c = _ols2_terms()
    c11, c1y, c2y, cyy = c["c11"], c["c1y"], c["c2y"], c["cyy"]
    fit = _ols2_solve(nd, c, sd["1"], sd["2"], sd["y"], guard=c11 != 0)
    ok, b1, b2 = fit["ok"], fit["b1"], fit["b2"]
    rss_u = cyy - b1 * c1y - b2 * c2y
    rss_r = cyy - c1y * c1y / c11
    f = F.when(
        ok & (rss_u > 0),
        (rss_r - rss_u) * (nd - F.lit(3.0)) / rss_u,
    )
    staged = s.select(
        F.col("n"),
        b1.alias("__b1"),
        b2.alias("__b2"),
        f.alias("__f"),
    )
    p = F.when(
        F.col("__f") >= 0,
        F.least(
            F.lit(1.0),
            F.lit(2.0) * F.expr(_phi_tail_sql("sqrt(__f)")),
        ),
    )
    return staged.select(
        "n",
        round_to(F.col("__b1"), 6).alias("b_own"),
        round_to(F.col("__b2"), 6).alias("b_cross"),
        round_to(F.col("__f"), 6).alias("f_stat"),
        round_to(p, 6).alias("p_normal"),
    )


def granger_lead_lag_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    type_col: str,
    type_x: str,
    type_y: str,
) -> str:
    """DuckDB twin of :func:`granger_lead_lag` — identical spine,
    HUGEINT folds, identical double expression chain."""
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    c = _ols2_terms_sql()
    det, _, b1, b2 = _ols2_solve_sql({k: k for k in c}, "{det} <> 0 AND c11 <> 0")
    sums = _ols2_sums_sql(
        {"1": "__y1", "2": "__x1", "y": "__yt"},
        lambda *f: f"CAST(sum({' * '.join(f)}) AS HUGEINT)",
    )
    return f"""
    WITH __typed AS (
        SELECT CAST({ts_col} AS DATE) AS __d,
               CASE WHEN {type_col} = '{type_x}' THEN 'x'
                    ELSE 'y' END AS __t,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __c
        FROM ({table_expr})
        WHERE {type_col} IN ('{type_x}', '{type_y}')
          AND {ts_col} IS NOT NULL
    ), __daily AS MATERIALIZED (
        SELECT __d, __t, CAST(sum(__c) AS BIGINT) AS __c
        FROM __typed GROUP BY 1, 2
    ), __rng AS (
        SELECT min(__d) AS __lo, max(__d) AS __hi FROM __daily
    ), __spine AS (
        SELECT CAST(unnest(generate_series(CAST(__lo AS TIMESTAMP),
                       CAST(__hi AS TIMESTAMP), INTERVAL 1 DAY))
                    AS DATE) AS __d
        FROM __rng
    ), __piv AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY s.__d) AS BIGINT)
                   AS __i,
               CAST(COALESCE(x.__c, 0) AS HUGEINT) AS __x,
               CAST(COALESCE(y.__c, 0) AS HUGEINT) AS __y
        FROM __spine s
        LEFT JOIN (SELECT __d, __c FROM __daily WHERE __t = 'x') x
          ON x.__d = s.__d
        LEFT JOIN (SELECT __d, __c FROM __daily WHERE __t = 'y') y
          ON y.__d = s.__d
    ), __rows AS (
        SELECT a.__y AS __yt, b.__y AS __y1, b.__x AS __x1
        FROM __piv a JOIN __piv b ON a.__i = b.__i + 1
        WHERE a.__i >= 2
    ), __s AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS n, {sums}
        FROM __rows
    ), __c AS MATERIALIZED (
        SELECT n, {", ".join(f"{t} AS {k}" for k, t in c.items())}
        FROM __s
    ), __b AS MATERIALIZED (
        SELECT n, c11, c1y, c2y, cyy,
               {det} AS det, {b1} AS __b1, {b2} AS __b2
        FROM __c
    ), __fcte AS MATERIALIZED (
        SELECT n, __b1, __b2,
               CASE WHEN det <> 0 AND c11 <> 0
                         AND cyy - __b1 * c1y - __b2 * c2y > 0
                    THEN ((cyy - c1y * c1y / c11)
                          - (cyy - __b1 * c1y - __b2 * c2y))
                         * (n::DOUBLE - 3.0)
                         / (cyy - __b1 * c1y - __b2 * c2y)
               END AS __f
        FROM __b
    )
    SELECT n,
           round(__b1, 6) AS b_own,
           round(__b2, 6) AS b_cross,
           round(__f, 6) AS f_stat,
           round(CASE WHEN __f >= 0 THEN
                 least(1.0, 2.0 * {_phi_tail_sql("sqrt(__f)")}) END, 6)
               AS p_normal
    FROM __fcte
    """


def poisson_rate_ratio(
    df: DataFrame,
    ts_col: str,
    split_day: int = 15,
    type_filter: str | None = None,
    type_col: str = "event_type",
) -> DataFrame:
    """Two-period Poisson rate-ratio test on daily event counts —
    count-data inference beside the proportion z-tests (q148/q197):
    events with day-of-month <= ``split_day`` vs after, exposure =
    observed distinct days per period,

        RR = (c1/T1) / (c2/T2),  se = sqrt(1/c1 + 1/c2),
        z = ln(RR)/se,  CI = exp(ln RR +- 1.96 se)

    (the standard log-linear Poisson comparison, e.g. Rothman's
    epidemiologic rate ratio). Exact BIGINT counts; the double chain is
    the IDENTICAL expression text in both engines; p via the shared
    A&S normal tail. Returns one row
    (n1, days1, n2, days2, rate_ratio, ci_lo, ci_hi, z, p_normal).

    Scale: ONE aggregation with conditional counts — no join, no
    window; safe at any event volume.
    """
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    base = df.where(F.col(ts_col).isNotNull())
    if type_filter is not None:
        base = base.where(F.col(type_col) == type_filter)
    first = F.dayofmonth(F.col(ts_col)) <= split_day
    s = base.agg(
        F.sum(F.when(first, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(~first, 1).otherwise(0)).cast("long").alias("n2"),
        F.count_distinct(
            F.when(first, F.to_date(F.col(ts_col)))
        ).cast("long").alias("days1"),
        F.count_distinct(
            F.when(~first, F.to_date(F.col(ts_col)))
        ).cast("long").alias("days2"),
    )
    ok = (
        (F.col("n1") > 0)
        & (F.col("n2") > 0)
        & (F.col("days1") > 0)
        & (F.col("days2") > 0)
    )
    lrr = F.log(
        (F.col("n1").cast("double") / F.col("days1").cast("double"))
        / (F.col("n2").cast("double") / F.col("days2").cast("double"))
    )
    se = F.sqrt(
        F.lit(1.0) / F.col("n1").cast("double")
        + F.lit(1.0) / F.col("n2").cast("double")
    )
    staged = s.select(
        "n1", "days1", "n2", "days2",
        F.when(ok, lrr).alias("__lrr"),
        F.when(ok, se).alias("__se"),
    ).select(
        "n1", "days1", "n2", "days2",
        "__lrr", "__se",
        (F.col("__lrr") / F.col("__se")).alias("__z"),
    )
    p = F.lit(2.0) * F.expr(_phi_tail_sql("abs(__z)"))
    return staged.select(
        "n1", "days1", "n2", "days2",
        round_to(F.exp(F.col("__lrr")), 6).alias("rate_ratio"),
        round_to(
            F.exp(F.col("__lrr") - F.lit(1.96) * F.col("__se")),
            6,
        ).alias("ci_lo"),
        round_to(
            F.exp(F.col("__lrr") + F.lit(1.96) * F.col("__se")),
            6,
        ).alias("ci_hi"),
        round_to(F.col("__z"), 6).alias("z"),
        round_to(F.least(F.lit(1.0), p), 6).alias("p_normal"),
    )


def poisson_rate_ratio_sql(
    table_expr: str,
    ts_col: str,
    split_day: int = 15,
    type_filter: str | None = None,
    type_col: str = "event_type",
) -> str:
    """DuckDB twin of :func:`poisson_rate_ratio`."""
    from pytrousse_spark.operators.cohort import _phi_tail_sql

    flt = (
        f" AND {type_col} = '{type_filter}'" if type_filter is not None else ""
    )
    return f"""
    WITH s AS MATERIALIZED (
        SELECT
          CAST(sum(CASE WHEN day(CAST({ts_col} AS TIMESTAMP))
                             <= {split_day} THEN 1 ELSE 0 END)
               AS BIGINT) AS n1,
          CAST(sum(CASE WHEN day(CAST({ts_col} AS TIMESTAMP))
                             <= {split_day} THEN 0 ELSE 1 END)
               AS BIGINT) AS n2,
          CAST(count(DISTINCT CASE WHEN day(CAST({ts_col} AS TIMESTAMP))
                                        <= {split_day}
                    THEN CAST({ts_col} AS DATE) END) AS BIGINT) AS days1,
          CAST(count(DISTINCT CASE WHEN day(CAST({ts_col} AS TIMESTAMP))
                                        <= {split_day}
                    THEN NULL ELSE CAST({ts_col} AS DATE) END)
               AS BIGINT) AS days2
        FROM ({table_expr})
        WHERE {ts_col} IS NOT NULL{flt}
    ), staged AS MATERIALIZED (
        SELECT n1, days1, n2, days2,
               CASE WHEN n1 > 0 AND n2 > 0 AND days1 > 0 AND days2 > 0
                    THEN ln((n1::DOUBLE / days1::DOUBLE)
                            / (n2::DOUBLE / days2::DOUBLE)) END AS __lrr,
               CASE WHEN n1 > 0 AND n2 > 0 AND days1 > 0 AND days2 > 0
                    THEN sqrt(1.0 / n1::DOUBLE + 1.0 / n2::DOUBLE)
               END AS __se
        FROM s
    ), zc AS (
        SELECT *, __lrr / __se AS __z FROM staged
    )
    SELECT n1, days1, n2, days2,
           round(exp(__lrr), 6) AS rate_ratio,
           round(exp(__lrr - 1.96 * __se), 6) AS ci_lo,
           round(exp(__lrr + 1.96 * __se), 6) AS ci_hi,
           round(__z, 6) AS z,
           round(least(1.0, 2.0 * {_phi_tail_sql("abs(__z)")}), 6)
               AS p_normal
    FROM zc
    """


def burstiness_census(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """Per-key temporal burstiness and dispersion census — the
    inter-event-time shape readout (Goh & Barabasi 2008) beside the
    rate tests:

        burstiness B = (sigma - mu) / (sigma + mu)   over inter-event
                       gaps (B ~ -1 periodic, 0 Poisson, ->1 bursty)
        fano_daily   = var / mean of per-day counts on the key's
                       calendar span (zero days included; Fano 1 =
                       Poisson, >1 overdispersed)

    Exactness: gaps are exact BIGINT microseconds; gap and count
    moments fold as DECIMAL(38,0)/HUGEINT (gap^2 ~ 7e24 overflows
    int64 — widened up front); the population-variance doubles and
    both ratios share identical expression text; keys with < 2 gaps
    or zero variance+mean yield NULL.

    Scale design: NO per-key global window. Within-day gaps use a
    (key, day)-bucketed window; the day-boundary gaps come from a
    lag over the per-(key, day) first/last frame (calendar-bounded)
    — the q157/q235 prefix decomposition applied to gap statistics.
    The Fano spine explodes one date sequence per key.
    """
    us = F.unix_micros(F.col(ts_col))
    base = df.where(F.col(ts_col).isNotNull()).select(
        F.col(key_col).alias("__k"),
        us.alias("__us"),
        F.to_date(F.col(ts_col)).alias("__d"),
        F.col(order_col).alias("__o"),
    )
    w_kd = Window.partitionBy("__k", "__d").orderBy("__us", "__o")
    within = base.select(
        "__k",
        (F.col("__us") - F.lag("__us").over(w_kd)).alias("__g"),
    ).where(F.col("__g").isNotNull())
    daylvl = base.groupBy("__k", "__d").agg(
        F.min("__us").alias("__first"),
        F.max("__us").alias("__last"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    w_days = Window.partitionBy("__k").orderBy("__d")
    boundary = daylvl.select(
        "__k",
        (F.col("__first") - F.lag("__last").over(w_days)).alias("__g"),
    ).where(F.col("__g").isNotNull())
    gaps = within.unionByName(boundary)
    d38 = lambda c: F.sum(c.cast("decimal(38,0)"))  # noqa: E731
    gstats = gaps.groupBy("__k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
        d38(F.col("__g")).alias("__sg"),
        d38(F.col("__g").cast("decimal(38,0)") * F.col("__g")).alias(
            "__sgg"
        ),
    )
    rng = daylvl.groupBy("__k").agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    spine = rng.select(
        "__k",
        F.explode(F.expr("sequence(__lo, __hi, interval 1 day)")).alias(
            "__d"
        ),
    )
    daily = (
        spine.join(daylvl.select("__k", "__d", "__cnt"), ["__k", "__d"], "left")
        .select(
            "__k", F.coalesce(F.col("__cnt"), F.lit(0)).alias("__c")
        )
    )
    cstats = daily.groupBy("__k").agg(
        F.count(F.lit(1)).cast("bigint").alias("__nd"),
        d38(F.col("__c")).alias("__sc"),
        d38(F.col("__c").cast("decimal(38,0)") * F.col("__c")).alias(
            "__scc"
        ),
    )
    j = gstats.join(cstats, "__k")
    ngd = F.col("n_gaps").cast("double")
    sgd = F.col("__sg").cast("double")
    sggd = F.col("__sgg").cast("double")
    mu = sgd / ngd
    sig = F.sqrt((ngd * sggd - sgd * sgd) / (ngd * ngd))
    ndd = F.col("__nd").cast("double")
    scd = F.col("__sc").cast("double")
    sccd = F.col("__scc").cast("double")
    cmu = scd / ndd
    cvar = (ndd * sccd - scd * scd) / (ndd * ndd)
    return j.select(
        F.col("__k").alias(key_col),
        "n_gaps",
        round_to(
            F.when(F.col("n_gaps") >= 2, sgd / ngd / F.lit(1e6)),
            6,
        ).alias("mean_gap_s"),
        round_to(
            F.when(
                (F.col("n_gaps") >= 2) & (sig + mu > 0),
                (sig - mu) / (sig + mu),
            ),
            6,
        ).alias("burstiness"),
        round_to(F.when(cmu > 0, cvar / cmu), 6).alias("fano_daily"),
    )


def burstiness_census_sql(
    table_expr: str,
    key_col: str,
    ts_col: str,
    order_col: str,
) -> str:
    """DuckDB twin of :func:`burstiness_census` — identical bucketed
    gap decomposition, HUGEINT moment folds, identical double chain."""
    return f"""
    WITH base AS MATERIALIZED (
        SELECT {key_col} AS __k,
               epoch_us(CAST({ts_col} AS TIMESTAMP)) AS __us,
               CAST({ts_col} AS DATE) AS __d,
               {order_col} AS __o
        FROM ({table_expr})
        WHERE {ts_col} IS NOT NULL
    ), within AS (
        SELECT __k, __g FROM (
            SELECT __k,
                   __us - lag(__us) OVER (
                       PARTITION BY __k, __d ORDER BY __us, __o
                   ) AS __g
            FROM base
        ) WHERE __g IS NOT NULL
    ), daylvl AS MATERIALIZED (
        SELECT __k, __d, min(__us) AS __first, max(__us) AS __last,
               CAST(count(*) AS BIGINT) AS __cnt
        FROM base GROUP BY 1, 2
    ), boundary AS (
        SELECT __k, __g FROM (
            SELECT __k,
                   __first - lag(__last) OVER (
                       PARTITION BY __k ORDER BY __d
                   ) AS __g
            FROM daylvl
        ) WHERE __g IS NOT NULL
    ), gaps AS (
        SELECT * FROM within UNION ALL SELECT * FROM boundary
    ), gstats AS MATERIALIZED (
        SELECT __k, CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(CAST(__g AS HUGEINT)) AS HUGEINT) AS __sg,
               CAST(sum(CAST(__g AS HUGEINT) * __g) AS HUGEINT) AS __sgg
        FROM gaps GROUP BY 1
    ), rng AS (
        SELECT __k, min(__d) AS __lo, max(__d) AS __hi
        FROM daylvl GROUP BY 1
    ), spine AS (
        SELECT __k,
               CAST(unnest(generate_series(CAST(__lo AS TIMESTAMP),
                           CAST(__hi AS TIMESTAMP), INTERVAL 1 DAY))
                    AS DATE) AS __d
        FROM rng
    ), daily AS (
        SELECT s.__k, coalesce(d.__cnt, 0) AS __c
        FROM spine s
        LEFT JOIN daylvl d ON d.__k = s.__k AND d.__d = s.__d
    ), cstats AS MATERIALIZED (
        SELECT __k, CAST(count(*) AS BIGINT) AS __nd,
               CAST(sum(CAST(__c AS HUGEINT)) AS HUGEINT) AS __sc,
               CAST(sum(CAST(__c AS HUGEINT) * __c) AS HUGEINT) AS __scc
        FROM daily GROUP BY 1
    )
    SELECT g.__k AS {key_col}, g.n_gaps,
           round(CASE WHEN g.n_gaps >= 2 THEN
                 CAST(g.__sg AS DOUBLE) / CAST(g.n_gaps AS DOUBLE) / 1e6
                 END * 1e6, 0) / 1e6 AS mean_gap_s,
           round(CASE WHEN g.n_gaps >= 2
                      AND sqrt((CAST(g.n_gaps AS DOUBLE)
                                * CAST(g.__sgg AS DOUBLE)
                                - CAST(g.__sg AS DOUBLE)
                                  * CAST(g.__sg AS DOUBLE))
                               / (CAST(g.n_gaps AS DOUBLE)
                                  * CAST(g.n_gaps AS DOUBLE)))
                          + CAST(g.__sg AS DOUBLE)
                            / CAST(g.n_gaps AS DOUBLE) > 0
                 THEN (sqrt((CAST(g.n_gaps AS DOUBLE)
                             * CAST(g.__sgg AS DOUBLE)
                             - CAST(g.__sg AS DOUBLE)
                               * CAST(g.__sg AS DOUBLE))
                            / (CAST(g.n_gaps AS DOUBLE)
                               * CAST(g.n_gaps AS DOUBLE)))
                       - CAST(g.__sg AS DOUBLE)
                         / CAST(g.n_gaps AS DOUBLE))
                      / (sqrt((CAST(g.n_gaps AS DOUBLE)
                               * CAST(g.__sgg AS DOUBLE)
                               - CAST(g.__sg AS DOUBLE)
                                 * CAST(g.__sg AS DOUBLE))
                              / (CAST(g.n_gaps AS DOUBLE)
                                 * CAST(g.n_gaps AS DOUBLE)))
                         + CAST(g.__sg AS DOUBLE)
                           / CAST(g.n_gaps AS DOUBLE))
                 END * 1e6, 0) / 1e6 AS burstiness,
           round(CASE WHEN CAST(c.__sc AS DOUBLE)
                           / CAST(c.__nd AS DOUBLE) > 0
                 THEN ((CAST(c.__nd AS DOUBLE) * CAST(c.__scc AS DOUBLE)
                        - CAST(c.__sc AS DOUBLE) * CAST(c.__sc AS DOUBLE))
                       / (CAST(c.__nd AS DOUBLE)
                          * CAST(c.__nd AS DOUBLE)))
                      / (CAST(c.__sc AS DOUBLE) / CAST(c.__nd AS DOUBLE))
                 END * 1e6, 0) / 1e6 AS fano_daily
    FROM gstats g JOIN cstats c ON g.__k = c.__k
    """


def gesd_outliers(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    k: int = 5,
) -> DataFrame:
    """Generalized ESD outlier rounds (Rosner 1983) on the daily
    integer-cent series — the iterative sibling of the one-shot MAD
    gate (q121): each round recomputes mean/sd over the REMAINING
    days, flags the most extreme day, removes it, and repeats, so a
    masked pair of outliers (which drags the naive sd up and hides
    its twin) is still caught on the next round.

    Per round r over the remaining set S_r (|S_r| = n):

        dev_i  = |n * c_i - sum(c)|          (EXACT integer argmax —
                                              proportional to
                                              |c_i - mean|, so the
                                              flagged day needs no
                                              float comparison)
        sd     = sqrt((n*ss - s^2) / (n*(n-1)))     (sample sd)
        r_stat = dev* / (n * sd)             (= |c* - mean| / sd)

    tie on dev -> earliest day (min __d). Returns one row per round,
    ``(round, day, value_cents, n_remaining, r_stat)`` ordered by
    round; rounds degenerate (n < 3 or sd = 0) are cut.

    Exactness: sufficient stats fold as DECIMAL(38,0) (daily cents
    squared pass 1e15 at sf0.1 — int64 is not enough headroom); the
    argmax and tie-break are pure integer/date comparisons; r_stat is
    one sqrt of a division of identical exact stats, round-6.

    Scale: each round is ONE job — the sufficient stats and the
    integer argmax ride full-frame windows over the CALENDAR-BOUNDED
    spine (the huber/q251 single-task-window device: rows = spine
    days, never events), the flagged day re-enters as a literal
    anti-filter, and the remaining set is staged per round so the
    k-round plan stays linear (r12 optimization round: the
    broadcast-stats form paid ~3 AQE-split jobs per round for identical
    arithmetic). k is a constant.
    """
    import math

    from pyspark.sql import types as T

    from ._collect import bounded_first

    spark = df.sparkSession
    nw = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    remaining = _daily_cents(df, ts_col, value_col).select("__d", "__c")
    out_schema = T.StructType(
        [
            T.StructField("round", T.IntegerType(), False),
            T.StructField("day", T.DateType(), True),
            T.StructField("value_cents", T.LongType(), True),
            T.StructField("n_remaining", T.LongType(), True),
            T.StructField("r_stat", T.DoubleType(), True),
        ]
    )
    flag_frames = []
    for r in range(1, k + 1):
        remaining = stage(remaining)
        row = bounded_first(
            remaining.select(
                "__d",
                "__c",
                F.count(F.lit(1)).over(nw).cast("bigint").alias("__n"),
                F.sum(F.col("__c").cast("decimal(38,0)"))
                .over(nw)
                .cast("decimal(38,0)")
                .alias("__s"),
                F.sum(
                    F.col("__c").cast("decimal(38,0)") * F.col("__c")
                )
                .over(nw)
                .cast("decimal(38,0)")
                .alias("__ss"),
            )
            .withColumn(
                "__dev",
                F.abs(
                    F.col("__n").cast("decimal(38,0)")
                    * F.col("__c").cast("decimal(38,0)")
                    - F.col("__s")
                ),
            )
            .withColumn("__mx", F.max("__dev").over(nw))
            .where(F.col("__dev") == F.col("__mx"))
            .groupBy("__n", "__s", "__ss", "__mx")
            .agg(
                F.min("__d").alias("day"),
                F.min_by("__c", "__d").cast("bigint").alias(
                    "value_cents"
                ),
            )
        )
        if row is None:
            break
        n = int(row["__n"])
        # decimal→double casts are correctly rounded in both the engine
        # and Python, and +,-,*,/,sqrt are IEEE-identical, so computing
        # the pre-round value driver-side reproduces the in-plan doubles
        # bit-for-bit; only the half-up round stays in-engine
        nn = float(n)
        s_d, ss_d = float(row["__s"]), float(row["__ss"])
        var = (nn * ss_d - s_d * s_d) / (nn * (nn - 1.0))
        if not (n >= 3 and var > 0.0):
            break
        pre = float(row["__mx"]) / (nn * math.sqrt(var)) * 1e6
        flag_frames.append(
            spark.range(1).select(
                F.lit(r).cast("int").alias("round"),
                F.lit(row["day"]).alias("day"),
                F.lit(int(row["value_cents"])).cast("bigint").alias(
                    "value_cents"
                ),
                F.lit(n).cast("bigint").alias("n_remaining"),
                from_fixed(F.round(F.lit(pre), 0), 6).alias("r_stat"),
            )
        )
        remaining = remaining.where(F.col("__d") != F.lit(row["day"]))
    if not flag_frames:
        return spark.createDataFrame([], out_schema)
    flags = flag_frames[0]
    for f in flag_frames[1:]:
        flags = flags.unionByName(f)
    return flags.orderBy("round")


def gesd_outliers_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    k: int = 5,
) -> str:
    """DuckDB twin of :func:`gesd_outliers` — the k rounds unrolled
    as MATERIALIZED CTEs (the q238 lesson: inlined CTEs re-run the
    whole prefix per round), HUGEINT folds, identical integer argmax
    and the same one-sqrt r_stat."""
    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    parts = [base]
    parts.append(
        ", __rem_1 AS MATERIALIZED (SELECT __d, __c FROM __dense)"
    )
    selects = []
    for r in range(1, k + 1):
        parts.append(f"""
    , __stats_{r} AS MATERIALIZED (
        SELECT CAST(count(*) AS BIGINT) AS __n,
               sum(CAST(__c AS HUGEINT)) AS __s,
               sum(CAST(__c AS HUGEINT) * CAST(__c AS HUGEINT))
                   AS __ss
        FROM __rem_{r}
    ), __dev_{r} AS MATERIALIZED (
        SELECT d.__d, d.__c, s.__n, s.__s, s.__ss,
               abs(CAST(s.__n AS HUGEINT) * CAST(d.__c AS HUGEINT)
                   - s.__s) AS __dev
        FROM __rem_{r} d CROSS JOIN __stats_{r} s
    ), __flag_{r} AS MATERIALIZED (
        SELECT CAST({r} AS INTEGER) AS round,
               min(__d) AS day,
               CAST(min_by(__c, __d) AS BIGINT) AS value_cents,
               any_value(__n) AS n_remaining,
               any_value(__s) AS __s, any_value(__ss) AS __ss,
               max(__dev) AS __mx
        FROM __dev_{r}
        WHERE __dev = (SELECT max(__dev) FROM __dev_{r})
          AND __n >= 3
          AND (CAST(__n AS DOUBLE) * CAST(__ss AS DOUBLE)
               - CAST(__s AS DOUBLE) * CAST(__s AS DOUBLE))
              / (CAST(__n AS DOUBLE) * (CAST(__n AS DOUBLE) - 1)) > 0
        GROUP BY 1
    ), __rem_{r + 1} AS MATERIALIZED (
        SELECT d.__d, d.__c FROM __rem_{r} d
        WHERE NOT EXISTS (SELECT 1 FROM __flag_{r} f
                          WHERE f.day = d.__d)
    )""")
        selects.append(f"""
    SELECT round, day, value_cents, n_remaining,
           round(CAST(__mx AS DOUBLE)
                 / (CAST(n_remaining AS DOUBLE)
                    * sqrt((CAST(n_remaining AS DOUBLE)
                            * CAST(__ss AS DOUBLE)
                            - CAST(__s AS DOUBLE)
                              * CAST(__s AS DOUBLE))
                           / (CAST(n_remaining AS DOUBLE)
                              * (CAST(n_remaining AS DOUBLE) - 1))))
                 * 1e6, 0) / 1e6 AS r_stat
    FROM __flag_{r}""")
    return (
        "".join(parts)
        + "\n    SELECT * FROM ("
        + "\n    UNION ALL".join(selects)
        + "\n    ) ORDER BY round"
    )


def _two_middle_median(vals: DataFrame, col: str) -> DataFrame:
    """One row ``(__n, __med)``: the row count of ``vals`` and the median
    of ``col`` as the average of the two middle rows (one row when the
    count is odd), ranked by one global window — the explicit form the
    DuckDB twins replay."""
    w = Window.orderBy(F.col(col).asc())
    n = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = vals.select(
        F.col(col),
        F.row_number().over(w).alias("__rn"),
        F.count(F.lit(1)).over(n).cast("bigint").alias("__n"),
    )
    return ranked.where(
        (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
        | (F.col("__rn") == F.floor(F.col("__n") / 2) + 1)
    ).groupBy("__n").agg(
        ((F.min(col) + F.max(col)) / F.lit(2.0)).alias("__med")
    )


def theil_sen_trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Theil-Sen robust trend line (Theil 1950, Sen 1968) on the
    daily integer-cent series: slope = median of all pairwise slopes
    (c_j - c_i)/(j - i) over day-index pairs i < j, intercept =
    median of the per-day residuals c_i - slope*i — the
    breakdown-point-29% sibling of the OLS gate (q131): a third of
    the days can be corrupted before the trend moves.

    Exactness: pairwise slopes are single divisions of exact integer
    deltas (identical doubles both engines); the median is selected
    EXPLICITLY — rows (n+1)//2 and n//2+1 of the sorted multiset,
    averaged as (m1+m2)/2.0 — not via the engines' quantile
    interpolation, whose formulas need not agree to the last ulp;
    round-6 on both outputs.

    Scale: the pair set is O(T^2) of the CALENDAR-BOUNDED spine (a
    decade is ~6.7M pairs), never of the raw table, which collapses
    in the one date-keyed agg of the spine device; the two median
    sorts run on that bounded set. Returns one row
    ``(n_days, n_pairs, slope, intercept)``.
    """
    dense = _daily_cents(df, ts_col, value_col)
    a = dense.select(
        F.col("__i").alias("__ia"), F.col("__c").alias("__ca")
    )
    b = dense.select(
        F.col("__i").alias("__ib"), F.col("__c").alias("__cb")
    )
    pairs = a.join(b, F.col("__ib") > F.col("__ia")).select(
        (
            (F.col("__cb") - F.col("__ca")).cast("double")
            / (F.col("__ib") - F.col("__ia")).cast("double")
        ).alias("__s")
    )

    # one row; feeds the residual pass AND the output — checkpoint so
    # the pair join + median sort run once, not twice
    med_s = stage(_two_middle_median(pairs, "__s").select(
        F.col("__med").alias("__slope"),
        F.col("__n").alias("__npairs"),
    ))
    resid = dense.crossJoin(F.broadcast(med_s)).select(
        "__slope",
        "__npairs",
        (
            F.col("__c").cast("double")
            - F.col("__slope") * F.col("__i").cast("double")
        ).alias("__r"),
    )
    med_r = (
        _two_middle_median(resid.select("__r"), "__r")
        .select(
            F.col("__n").alias("n_days"),
            F.col("__med").alias("__icept"),
        )
    )
    return (
        med_r.crossJoin(F.broadcast(med_s))
        .select(
            "n_days",
            F.col("__npairs").alias("n_pairs"),
            round_to(F.col("__slope"), 6).alias("slope"),
            round_to(F.col("__icept"), 6).alias("intercept"),
        )
    )


def theil_sen_trend_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
) -> str:
    """DuckDB twin of :func:`theil_sen_trend` — identical spine, pair
    set, EXPLICIT two-middle-row median (no quantile_cont) and the
    same (m1+m2)/2.0 average."""
    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    return f"""{base}
    , __pairs AS MATERIALIZED (
        SELECT CAST(b.__c - a.__c AS DOUBLE)
               / CAST(b.__i - a.__i AS DOUBLE) AS __s
        FROM __dense a JOIN __dense b ON b.__i > a.__i
    ), __rs AS (
        SELECT __s,
               row_number() OVER (ORDER BY __s ASC) AS __rn,
               CAST(count(*) OVER () AS BIGINT) AS __n
        FROM __pairs
    ), __ms AS MATERIALIZED (
        SELECT any_value(__n) AS __np,
               (min(__s) + max(__s)) / 2.0 AS __slope
        FROM __rs
        WHERE __rn = (__n + 1) // 2 OR __rn = __n // 2 + 1
    ), __resid AS (
        SELECT CAST(d.__c AS DOUBLE)
               - m.__slope * CAST(d.__i AS DOUBLE) AS __r
        FROM __dense d CROSS JOIN __ms m
    ), __rr AS (
        SELECT __r,
               row_number() OVER (ORDER BY __r ASC) AS __rn,
               CAST(count(*) OVER () AS BIGINT) AS __n
        FROM __resid
    ), __mr AS (
        SELECT any_value(__n) AS n_days,
               (min(__r) + max(__r)) / 2.0 AS __icept
        FROM __rr
        WHERE __rn = (__n + 1) // 2 OR __rn = __n // 2 + 1
    )
    SELECT r.n_days, s.__np AS n_pairs,
           round(s.__slope * 1e6, 0) / 1e6 AS slope,
           round(r.__icept * 1e6, 0) / 1e6 AS intercept
    FROM __mr r CROSS JOIN __ms s
    """


def repeated_median_trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Siegel repeated-median robust trend (Siegel 1982) on the daily
    integer-cent series — the 50%-breakdown upgrade of Theil-Sen
    (q251, breakdown 29%) AND its scale fix: Theil-Sen's single median
    sorts all O(T^2) pairwise slopes through ONE global window, which
    funnels a decade's ~13M ordered pairs into one sort task; the
    repeated median

        slope = median_i ( median_{j != i} (c_j - c_i)/(j - i) )

    computes each inner median in a window PARTITIONED BY i (every
    partition exactly T-1 rows — calendar-bounded), so the only global
    sort left runs over the T per-day medians, the same budget class
    as the spine itself. Intercept = median of the per-day residuals
    c_i - slope*i (the Theil-Sen convention).

    Exactness: pairwise slopes are single divisions of exact integer
    deltas (identical doubles both engines); EVERY median — inner,
    outer, residual — is selected explicitly as the average of sorted
    rows (n+1)//2 and n//2+1 (no engine quantile interpolation);
    round-6 on both outputs.

    Returns one row ``(n_days, n_pairs, slope, intercept)`` with
    ``n_pairs = T*(T-1)`` ordered pairs; no row for an empty input.
    """
    dense = _daily_cents(df, ts_col, value_col)  # checkpointed inside
    a = dense.select(
        F.col("__i").alias("__ia"), F.col("__c").alias("__ca")
    )
    b = dense.select(
        F.col("__i").alias("__ib"), F.col("__c").alias("__cb")
    )
    pairs = a.join(b, F.col("__ib") != F.col("__ia")).select(
        "__ia",
        (
            (F.col("__cb") - F.col("__ca")).cast("double")
            / (F.col("__ib") - F.col("__ia")).cast("double")
        ).alias("__s"),
    )
    # inner median per day i: window partitioned by i, exactly T-1
    # rows per partition — no global sort of the pair set
    wr = Window.partitionBy("__ia").orderBy(F.col("__s").asc())
    wn = Window.partitionBy("__ia")
    ranked = pairs.select(
        "__ia",
        "__s",
        F.row_number().over(wr).alias("__rn"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("__n"),
    )
    inner = (
        ranked.where(
            (F.col("__rn") == F.floor((F.col("__n") + 1) / 2))
            | (F.col("__rn") == F.floor(F.col("__n") / 2) + 1)
        )
        .groupBy("__ia")
        .agg(
            ((F.min("__s") + F.max("__s")) / F.lit(2.0)).alias("__mi"),
            F.max("__n").alias("__npp"),
        )
    )

    # outer median over the T inner medians (calendar-bounded frame);
    # n_pairs folds from the per-day partition sizes
    npairs = inner.agg(
        F.sum("__npp").cast("bigint").alias("__npairs")
    )
    med_s = (
        _two_middle_median(inner.select("__mi"), "__mi")
        .crossJoin(F.broadcast(npairs))
        .select(
            F.col("__med").alias("__slope"),
            "__npairs",
        )
    )
    resid = dense.crossJoin(F.broadcast(med_s)).select(
        "__slope",
        "__npairs",
        (
            F.col("__c").cast("double")
            - F.col("__slope") * F.col("__i").cast("double")
        ).alias("__r"),
    )
    med_r = (
        _two_middle_median(resid.select("__r"), "__r")
        .select(
            F.col("__n").alias("n_days"),
            F.col("__med").alias("__icept"),
        )
    )
    return (
        med_r.crossJoin(F.broadcast(med_s))
        .select(
            "n_days",
            F.col("__npairs").alias("n_pairs"),
            round_to(F.col("__slope"), 6).alias("slope"),
            round_to(F.col("__icept"), 6).alias("intercept"),
        )
    )


def repeated_median_trend_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
) -> str:
    """DuckDB twin of :func:`repeated_median_trend` — identical spine,
    ordered-pair set, per-i EXPLICIT two-middle-row inner medians,
    outer/residual medians with the same device."""
    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    return f"""{base}
    , __pairs AS (
        SELECT a.__i AS __ia,
               CAST(b.__c - a.__c AS DOUBLE)
               / CAST(b.__i - a.__i AS DOUBLE) AS __s
        FROM __dense a JOIN __dense b ON b.__i <> a.__i
    ), __rs AS (
        SELECT __ia, __s,
               row_number() OVER (PARTITION BY __ia ORDER BY __s ASC)
                   AS __rn,
               CAST(count(*) OVER (PARTITION BY __ia) AS BIGINT) AS __n
        FROM __pairs
    ), __inner AS MATERIALIZED (
        SELECT __ia, (min(__s) + max(__s)) / 2.0 AS __mi,
               max(__n) AS __npp
        FROM __rs
        WHERE __rn = (__n + 1) // 2 OR __rn = __n // 2 + 1
        GROUP BY __ia
    ), __np AS (
        SELECT CAST(sum(__npp) AS BIGINT) AS __npairs FROM __inner
    ), __ri AS (
        SELECT __mi,
               row_number() OVER (ORDER BY __mi ASC) AS __rn,
               CAST(count(*) OVER () AS BIGINT) AS __n
        FROM __inner
    ), __ms AS MATERIALIZED (
        SELECT (min(__mi) + max(__mi)) / 2.0 AS __slope
        FROM __ri
        WHERE __rn = (__n + 1) // 2 OR __rn = __n // 2 + 1
    ), __resid AS (
        SELECT CAST(d.__c AS DOUBLE)
               - m.__slope * CAST(d.__i AS DOUBLE) AS __r
        FROM __dense d CROSS JOIN __ms m
    ), __rr AS (
        SELECT __r,
               row_number() OVER (ORDER BY __r ASC) AS __rn,
               CAST(count(*) OVER () AS BIGINT) AS __n
        FROM __resid
    ), __mr AS (
        SELECT any_value(__n) AS n_days,
               (min(__r) + max(__r)) / 2.0 AS __icept
        FROM __rr
        WHERE __rn = (__n + 1) // 2 OR __rn = __n // 2 + 1
    )
    SELECT r.n_days, p.__npairs AS n_pairs,
           round(s.__slope * 1e6, 0) / 1e6 AS slope,
           round(r.__icept * 1e6, 0) / 1e6 AS intercept
    FROM __mr r CROSS JOIN __ms s CROSS JOIN __np p
    """


def distance_correlation(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    type_col: str,
    type_x: str,
    type_y: str,
) -> DataFrame:
    """Distance correlation (Szekely-Rizzo-Bakirov 2007) between two
    event types' daily value series — the DEPENDENCE detector beside
    Pearson (q130) and binned MI (q229): dCor = 0 iff the series are
    independent, so a deterministic NON-MONOTONE map that Pearson
    reads as ~0 still lights up.

    With integer-cent series x, y on the shared spine and
    a_ij = |x_i - x_j|, the double-centered matrix is computed at the
    n^2 scale so EVERYTHING before the final three divisions is an
    exact integer:

        At_ij = n^2*a_ij - n*ra_i - n*ra_j + ga        (exact)
        Sxy = sum At_ij*Bt_ij ; Sxx, Syy likewise      (exact)
        dCor^2 = Sxy / sqrt(Sxx*Syy)       (n^12 scales cancel)

    Returns one row ``(n_days, pearson_r, dcor)`` — Pearson from the
    same exact pivot folds for contrast; NULL dcor on zero distance
    variance, NULL pearson on zero variance; round-6.

    Exactness: a_ij, row sums, grand sums and all three S folds are
    DECIMAL(38,0)/HUGEINT integers; the doubles appear only in the
    final sqrt/division chain with identical expression text.

    HEADROOM GUARD (r7 ADVICE): the n^2-scaled folds grow as
    |S| <= 64 * T^6 * D^2 (T spine days, D max abs daily cents), which
    crosses the 38-digit ceiling well inside a multi-year heavy-value
    span — e.g. T ~ 3650 at D ~ 1e8 cents overflows. Worse, the two
    engines fail DIFFERENTLY there: Spark DECIMAL(38,0) overflow yields
    silent NULL while DuckDB HUGEINT overflow raises. The operator
    therefore PROBES (T, D) on the pivoted spine (one tiny agg on a
    calendar-bounded frame) and raises ValueError before building the
    pair matrix when 64*T^6*D^2 >= 10^38 — loud and engine-identical.
    At D <= 1e9 cents the safe span is T <= ~460 days; pre-aggregate to
    weeks/months or rescale the value unit for longer spans.

    Scale: the pair set is O(T^2) of the CALENDAR-BOUNDED spine (the
    q251 declaration), never of the raw table; row sums are
    spine-sized and broadcast back onto the pairs.
    """
    typed = df.where(
        F.col(type_col).isin([type_x, type_y])
        & F.col(ts_col).isNotNull()
    ).select(
        F.to_date(F.col(ts_col)).alias("__d"),
        F.when(F.col(type_col) == type_x, F.lit("x"))
        .otherwise(F.lit("y"))
        .alias("__t"),
        to_fixed(F.col(value_col).cast("double"), 2).alias("__c"),
    )
    # days x 2 rows; feeds the range scalar AND both pivot joins —
    # checkpoint so the raw agg runs once per call
    daily = stage(typed.groupBy("__d", "__t").agg(
        F.sum("__c").alias("__c")
    ))
    rng = daily.agg(
        F.min("__d").alias("__lo"), F.max("__d").alias("__hi")
    )
    spine = rng.select(
        F.explode(
            F.expr("sequence(__lo, __hi, interval 1 day)")
        ).alias("__d")
    )
    d38 = "decimal(38,0)"
    piv = stage(
        spine.join(
            daily.where(F.col("__t") == "x").select(
                "__d", F.col("__c").alias("__x")
            ),
            "__d",
            "left",
        )
        .join(
            daily.where(F.col("__t") == "y").select(
                "__d", F.col("__c").alias("__y")
            ),
            "__d",
            "left",
        )
        .select(
            F.row_number()
            .over(Window.orderBy("__d"))
            .cast("bigint")
            .alias("__i"),
            F.coalesce(F.col("__x"), F.lit(0)).cast(d38).alias("__x"),
            F.coalesce(F.col("__y"), F.lit(0)).cast(d38).alias("__y"),
        )
    )
    guard = piv.agg(
        F.count(F.lit(1)).alias("__n"),
        F.greatest(
            F.max(F.abs(F.col("__x"))), F.max(F.abs(F.col("__y")))
        ).alias("__dmax"),
    ).first()
    t_days = int(guard["__n"] or 0)
    d_max = int(guard["__dmax"] or 0)
    if 64 * t_days**6 * max(d_max, 1) ** 2 >= 10**38:
        raise ValueError(
            "distance_correlation: the exact n^2-scaled integer folds "
            f"would overflow DECIMAL(38,0)/HUGEINT at T={t_days} spine "
            f"days with max |daily cents|={d_max} "
            "(bound 64*T^6*D^2 >= 1e38; Spark would NULL silently and "
            "DuckDB would error). Pre-aggregate to a coarser bucket or "
            "rescale the value unit."
        )
    a = piv.select(
        F.col("__i").alias("__ia"),
        F.col("__x").alias("__xa"),
        F.col("__y").alias("__ya"),
    )
    b = piv.select(
        F.col("__i").alias("__ib"),
        F.col("__x").alias("__xb"),
        F.col("__y").alias("__yb"),
    )
    # broadcast the (calendar-bounded) right spine so the pair matrix
    # compiles to a BroadcastNestedLoopJoin, not a CartesianProduct
    # (test_plans.py pins no-cartesian outside declared baselines)
    pairs = a.crossJoin(F.broadcast(b)).select(
        "__ia",
        "__ib",
        F.abs(F.col("__xa") - F.col("__xb")).alias("__a"),
        F.abs(F.col("__ya") - F.col("__yb")).alias("__b"),
    )
    rows = pairs.groupBy("__ia").agg(
        F.sum("__a").alias("__ra"),
        F.sum("__b").alias("__rb"),
    )
    grand = rows.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__ra").alias("__ga"),
        F.sum("__rb").alias("__gb"),
    )
    ri = rows.select(
        F.col("__ia").alias("__ri_i"),
        F.col("__ra").alias("__ra_i"),
        F.col("__rb").alias("__rb_i"),
    )
    rj = rows.select(
        F.col("__ia").alias("__rj_j"),
        F.col("__ra").alias("__ra_j"),
        F.col("__rb").alias("__rb_j"),
    )
    cent = (
        pairs.join(F.broadcast(ri), pairs["__ia"] == ri["__ri_i"])
        .join(F.broadcast(rj), pairs["__ib"] == rj["__rj_j"])
        .crossJoin(F.broadcast(grand))
    )
    nn = F.col("__n").cast(d38)
    at = (
        nn * nn * F.col("__a")
        - nn * F.col("__ra_i")
        - nn * F.col("__ra_j")
        + F.col("__ga")
    )
    bt = (
        nn * nn * F.col("__b")
        - nn * F.col("__rb_i")
        - nn * F.col("__rb_j")
        + F.col("__gb")
    )
    folds = cent.select(
        F.col("__n"),
        at.alias("__at"),
        bt.alias("__bt"),
    ).groupBy("__n").agg(
        F.sum(F.col("__at") * F.col("__bt")).alias("__sxy"),
        F.sum(F.col("__at") * F.col("__at")).alias("__sxx"),
        F.sum(F.col("__bt") * F.col("__bt")).alias("__syy"),
    )
    mom = piv.agg(
        F.count(F.lit(1)).cast("bigint").alias("__n"),
        F.sum("__x").alias("__sx"),
        F.sum("__y").alias("__sy"),
        F.sum(F.col("__x") * F.col("__x")).alias("__pxx"),
        F.sum(F.col("__y") * F.col("__y")).alias("__pyy"),
        F.sum(F.col("__x") * F.col("__y")).alias("__pxy"),
    )
    j = folds.join(F.broadcast(mom), "__n")
    nd = F.col("__n").cast("double")
    pnum = nd * F.col("__pxy").cast("double") - F.col("__sx").cast(
        "double"
    ) * F.col("__sy").cast("double")
    pvx = nd * F.col("__pxx").cast("double") - F.col("__sx").cast(
        "double"
    ) * F.col("__sx").cast("double")
    pvy = nd * F.col("__pyy").cast("double") - F.col("__sy").cast(
        "double"
    ) * F.col("__sy").cast("double")
    pearson = F.when(
        (pvx > 0) & (pvy > 0), pnum / F.sqrt(pvx * pvy)
    )
    dcor = F.when(
        (F.col("__sxx").cast("double") > 0)
        & (F.col("__syy").cast("double") > 0),
        F.sqrt(
            F.col("__sxy").cast("double")
            / F.sqrt(
                F.col("__sxx").cast("double")
                * F.col("__syy").cast("double")
            )
        ),
    )
    return j.select(
        F.col("__n").alias("n_days"),
        round_to(pearson, 6).alias("pearson_r"),
        round_to(dcor, 6).alias("dcor"),
    )


def distance_correlation_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    type_col: str,
    type_x: str,
    type_y: str,
) -> str:
    """DuckDB twin of :func:`distance_correlation` — identical shared
    spine, HUGEINT n^2-scaled double-centering and the same final
    sqrt/division chain."""
    return f"""
    WITH __typed AS (
        SELECT CAST({ts_col} AS DATE) AS __d,
               CASE WHEN {type_col} = '{type_x}' THEN 'x'
                    ELSE 'y' END AS __t,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                    AS BIGINT) AS __c
        FROM ({table_expr})
        WHERE {type_col} IN ('{type_x}', '{type_y}')
          AND {ts_col} IS NOT NULL
    ), __daily AS MATERIALIZED (
        SELECT __d, __t, CAST(sum(__c) AS BIGINT) AS __c
        FROM __typed GROUP BY 1, 2
    ), __rng AS (
        SELECT min(__d) AS __lo, max(__d) AS __hi FROM __daily
    ), __spine AS (
        SELECT CAST(unnest(generate_series(CAST(__lo AS TIMESTAMP),
                       CAST(__hi AS TIMESTAMP), INTERVAL 1 DAY))
                    AS DATE) AS __d
        FROM __rng
    ), __piv AS MATERIALIZED (
        SELECT CAST(row_number() OVER (ORDER BY s.__d) AS BIGINT)
                   AS __i,
               CAST(COALESCE(x.__c, 0) AS HUGEINT) AS __x,
               CAST(COALESCE(y.__c, 0) AS HUGEINT) AS __y
        FROM __spine s
        LEFT JOIN (SELECT __d, __c FROM __daily WHERE __t = 'x') x
          ON x.__d = s.__d
        LEFT JOIN (SELECT __d, __c FROM __daily WHERE __t = 'y') y
          ON y.__d = s.__d
    ), __pairs AS MATERIALIZED (
        SELECT a.__i AS __ia, b.__i AS __ib,
               abs(a.__x - b.__x) AS __a,
               abs(a.__y - b.__y) AS __b
        FROM __piv a CROSS JOIN __piv b
    ), __rows AS MATERIALIZED (
        SELECT __ia, sum(__a) AS __ra, sum(__b) AS __rb
        FROM __pairs GROUP BY 1
    ), __grand AS (
        SELECT CAST(count(*) AS BIGINT) AS __n,
               sum(__ra) AS __ga, sum(__rb) AS __gb
        FROM __rows
    ), __folds AS (
        SELECT g.__n,
               sum(( CAST(g.__n AS HUGEINT) * CAST(g.__n AS HUGEINT)
                     * p.__a
                     - CAST(g.__n AS HUGEINT) * ri.__ra
                     - CAST(g.__n AS HUGEINT) * rj.__ra + g.__ga)
                   * ( CAST(g.__n AS HUGEINT) * CAST(g.__n AS HUGEINT)
                     * p.__b
                     - CAST(g.__n AS HUGEINT) * ri.__rb
                     - CAST(g.__n AS HUGEINT) * rj.__rb + g.__gb))
                   AS __sxy,
               sum(( CAST(g.__n AS HUGEINT) * CAST(g.__n AS HUGEINT)
                     * p.__a
                     - CAST(g.__n AS HUGEINT) * ri.__ra
                     - CAST(g.__n AS HUGEINT) * rj.__ra + g.__ga)
                   * ( CAST(g.__n AS HUGEINT) * CAST(g.__n AS HUGEINT)
                     * p.__a
                     - CAST(g.__n AS HUGEINT) * ri.__ra
                     - CAST(g.__n AS HUGEINT) * rj.__ra + g.__ga))
                   AS __sxx,
               sum(( CAST(g.__n AS HUGEINT) * CAST(g.__n AS HUGEINT)
                     * p.__b
                     - CAST(g.__n AS HUGEINT) * ri.__rb
                     - CAST(g.__n AS HUGEINT) * rj.__rb + g.__gb)
                   * ( CAST(g.__n AS HUGEINT) * CAST(g.__n AS HUGEINT)
                     * p.__b
                     - CAST(g.__n AS HUGEINT) * ri.__rb
                     - CAST(g.__n AS HUGEINT) * rj.__rb + g.__gb))
                   AS __syy
        FROM __pairs p
        JOIN __rows ri ON ri.__ia = p.__ia
        JOIN __rows rj ON rj.__ia = p.__ib
        CROSS JOIN __grand g
        GROUP BY 1
    ), __mom AS (
        SELECT CAST(count(*) AS BIGINT) AS __n,
               sum(__x) AS __sx, sum(__y) AS __sy,
               sum(__x * __x) AS __pxx, sum(__y * __y) AS __pyy,
               sum(__x * __y) AS __pxy
        FROM __piv
    )
    SELECT f.__n AS n_days,
           round(CASE WHEN
                     CAST(f.__n AS DOUBLE) * CAST(m.__pxx AS DOUBLE)
                     - CAST(m.__sx AS DOUBLE) * CAST(m.__sx AS DOUBLE)
                     > 0
                 AND CAST(f.__n AS DOUBLE) * CAST(m.__pyy AS DOUBLE)
                     - CAST(m.__sy AS DOUBLE) * CAST(m.__sy AS DOUBLE)
                     > 0
                 THEN (CAST(f.__n AS DOUBLE) * CAST(m.__pxy AS DOUBLE)
                       - CAST(m.__sx AS DOUBLE)
                         * CAST(m.__sy AS DOUBLE))
                      / sqrt((CAST(f.__n AS DOUBLE)
                              * CAST(m.__pxx AS DOUBLE)
                              - CAST(m.__sx AS DOUBLE)
                                * CAST(m.__sx AS DOUBLE))
                             * (CAST(f.__n AS DOUBLE)
                                * CAST(m.__pyy AS DOUBLE)
                                - CAST(m.__sy AS DOUBLE)
                                  * CAST(m.__sy AS DOUBLE)))
                 END * 1e6, 0) / 1e6 AS pearson_r,
           round(CASE WHEN CAST(f.__sxx AS DOUBLE) > 0
                       AND CAST(f.__syy AS DOUBLE) > 0
                 THEN sqrt(CAST(f.__sxy AS DOUBLE)
                           / sqrt(CAST(f.__sxx AS DOUBLE)
                                  * CAST(f.__syy AS DOUBLE)))
                 END * 1e6, 0) / 1e6 AS dcor
    FROM __folds f CROSS JOIN __mom m
    """


def huber_trend(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    iters: int = 6,
    tuning: float = 1.345,
) -> DataFrame:
    """Huber-loss robust trend line (Huber 1964) on the daily
    integer-cent series, fit by IRLS with the scale RE-ESTIMATED each
    iteration — the M-estimator between OLS (q131, breakdown 0) and
    Theil-Sen (q251, breakdown 29%). Per iteration t:

        delta_t = tuning * 1.4826 * median|r_t|     (MAD of current
                                                     residuals)
        w_i = 1 if r_i = 0 else min(1, delta_t/|r_i|)
        wm_i = floor(w_i * 1e6)                     (micro-unit INT)
        refit weighted OLS from the EXACT integer folds
        sum(wm), sum(wm*i), sum(wm*i^2), sum(wm*y), sum(wm*i*y)

    (one-shot initial-scale IRLS stalls: a tilted OLS start inflates
    the MAD and under-downweights the outliers — measured slope -18
    vs truth +3 on the planted-outlier test; per-iteration rescaling
    converges to +3.)

    The q111 logistic discipline: per-row weights are micro-unit
    INTEGERS before any sum, so the weighted normal equations are
    exact DECIMAL(38,0)/HUGEINT in both engines and every iterate's
    (a, b) doubles are bit-identical; floats appear only in the
    per-row weight and the closed-form solve, with identical
    expression text.

    Returns one row ``(n_days, ols_slope, ols_intercept, huber_slope,
    huber_intercept)``, round-6; a zero MAD gives exact-fit rows
    weight 1 and the rest 0 (the correct delta->0 limit).

    Scale: per iteration ONE job — the explicit-median windows (q251
    device, calendar-bounded frame) and the map-side-combinable
    weighted fold run in the same plan, and the iterate's (a, b)
    doubles re-enter the next iteration as literals (the q111
    "weights re-enter as literals" discipline; r12 optimization round
    — the broadcast-parameter form paid 3-4 AQE-split jobs per
    iteration for identical arithmetic). iters is a constant.
    """
    from ._collect import bounded_first

    d38 = "decimal(38,0)"
    dense = stage(_daily_cents(df, ts_col, value_col).select(
        "__i", "__c"
    ))

    def folds(weighted: DataFrame) -> DataFrame:
        wm = F.col("__wm").cast(d38)
        i_ = F.col("__i").cast(d38)
        y_ = F.col("__c").cast(d38)
        return weighted.agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum(wm).alias("__sw"),
            F.sum(wm * i_).alias("__swx"),
            F.sum(wm * i_ * i_).alias("__swxx"),
            F.sum(wm * y_).alias("__swy"),
            F.sum(wm * i_ * y_).alias("__swxy"),
        )

    def solve(fd: DataFrame) -> DataFrame:
        sw = F.col("__sw").cast("double")
        swx = F.col("__swx").cast("double")
        swxx = F.col("__swxx").cast("double")
        swy = F.col("__swy").cast("double")
        swxy = F.col("__swxy").cast("double")
        det = sw * swxx - swx * swx
        b = F.when(det != 0, (sw * swxy - swx * swy) / det)
        return fd.select(
            "__n",
            b.alias("__b"),
            F.when(sw > 0, (swy - b * swx) / sw).alias("__a"),
        )

    def _dlit(v) -> F.Column:
        return (
            F.lit(None).cast("double") if v is None else F.lit(float(v))
        )

    def residuals(a, b) -> DataFrame:
        # parameters as literals: exact IEEE doubles round-trip the
        # driver unchanged, so this is the broadcast attach bit-for-bit
        return dense.select(
            "__i",
            "__c",
            (
                F.col("__c").cast("double")
                - _dlit(a)
                - _dlit(b) * F.col("__i").cast("double")
            ).alias("__rs"),
        )

    def with_delta(resid: DataFrame) -> DataFrame:
        # the same two-middle-ranks MAD as the former mad_delta agg,
        # attached by full-frame window (identical value set feeding
        # identical min/max) so the weight pass shares ONE job with it
        w = Window.orderBy(F.abs(F.col("__rs")).asc())
        nw = Window.rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        qual = (
            F.col("__rn") == F.floor((F.col("__nn") + 1) / 2)
        ) | (F.col("__rn") == F.floor(F.col("__nn") / 2) + 1)
        return (
            resid.select(
                "__i",
                "__c",
                "__rs",
                F.row_number().over(w).alias("__rn"),
                F.count(F.lit(1)).over(nw).cast("bigint").alias("__nn"),
            )
            .withColumn("__rq", F.when(qual, F.abs(F.col("__rs"))))
            .withColumn(
                "__delta",
                (
                    (F.min("__rq").over(nw) + F.max("__rq").over(nw))
                    / F.lit(2.0)
                    * F.lit(tuning)
                    * F.lit(1.4826)
                ),
            )
        )

    ols = bounded_first(
        solve(folds(dense.withColumn("__wm", F.lit(1_000_000))))
    )
    a, b = ols["__a"], ols["__b"]
    for _ in range(iters):
        weighted = with_delta(residuals(a, b)).select(
            "__i",
            "__c",
            F.floor(
                F.when(F.abs(F.col("__rs")) == 0, F.lit(1.0))
                .when(F.col("__delta") <= 0, F.lit(0.0))
                .otherwise(
                    F.least(
                        F.lit(1.0),
                        F.col("__delta") / F.abs(F.col("__rs")),
                    )
                )
                * F.lit(1e6)
            )
            .cast("bigint")
            .alias("__wm"),
        )
        it = bounded_first(solve(folds(weighted.where(F.col("__wm") > 0))))
        a, b = it["__a"], it["__b"]
    spark = df.sparkSession
    return spark.range(1).select(
        F.lit(int(ols["__n"] or 0)).cast("bigint").alias("n_days"),
        round_to(_dlit(ols["__b"]), 6).alias("ols_slope"),
        round_to(_dlit(ols["__a"]), 6).alias("ols_intercept"),
        round_to(_dlit(b), 6).alias("huber_slope"),
        round_to(_dlit(a), 6).alias("huber_intercept"),
    )


def huber_trend_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    iters: int = 6,
    tuning: float = 1.345,
) -> str:
    """DuckDB twin of :func:`huber_trend` — identical OLS init,
    per-iteration MAD delta, micro-unit weight floors and HUGEINT
    folds, unrolled as MATERIALIZED CTEs (the q238 lesson)."""
    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    solve = """
        SELECT __n,
               CASE WHEN CAST(__sw AS DOUBLE) * CAST(__swxx AS DOUBLE)
                         - CAST(__swx AS DOUBLE) * CAST(__swx AS DOUBLE)
                         <> 0
                    THEN (CAST(__sw AS DOUBLE) * CAST(__swxy AS DOUBLE)
                          - CAST(__swx AS DOUBLE) * CAST(__swy AS DOUBLE))
                         / (CAST(__sw AS DOUBLE) * CAST(__swxx AS DOUBLE)
                            - CAST(__swx AS DOUBLE)
                              * CAST(__swx AS DOUBLE))
               END AS __b,
               CASE WHEN CAST(__sw AS DOUBLE) > 0
                    THEN (CAST(__swy AS DOUBLE)
                          - CASE WHEN CAST(__sw AS DOUBLE)
                                      * CAST(__swxx AS DOUBLE)
                                      - CAST(__swx AS DOUBLE)
                                        * CAST(__swx AS DOUBLE) <> 0
                                 THEN (CAST(__sw AS DOUBLE)
                                       * CAST(__swxy AS DOUBLE)
                                       - CAST(__swx AS DOUBLE)
                                         * CAST(__swy AS DOUBLE))
                                      / (CAST(__sw AS DOUBLE)
                                         * CAST(__swxx AS DOUBLE)
                                         - CAST(__swx AS DOUBLE)
                                           * CAST(__swx AS DOUBLE))
                            END * CAST(__swx AS DOUBLE))
                         / CAST(__sw AS DOUBLE)
               END AS __a
        FROM {src}
    """
    fold = """
        SELECT CAST(count(*) AS BIGINT) AS __n,
               sum(CAST(__wm AS HUGEINT)) AS __sw,
               sum(CAST(__wm AS HUGEINT) * CAST(__i AS HUGEINT))
                   AS __swx,
               sum(CAST(__wm AS HUGEINT) * CAST(__i AS HUGEINT)
                   * CAST(__i AS HUGEINT)) AS __swxx,
               sum(CAST(__wm AS HUGEINT) * CAST(__c AS HUGEINT))
                   AS __swy,
               sum(CAST(__wm AS HUGEINT) * CAST(__i AS HUGEINT)
                   * CAST(__c AS HUGEINT)) AS __swxy
        FROM {src}
    """
    parts = [base]
    parts.append(
        ", __f0 AS MATERIALIZED ("
        + fold.format(
            src="(SELECT __i, __c, 1000000 AS __wm FROM __dense)"
        )
        + "), __p0 AS MATERIALIZED ("
        + solve.format(src="__f0")
        + ")"
    )
    prev = "__p0"
    for t in range(1, iters + 1):
        parts.append(f"""
    , __r{t} AS MATERIALIZED (
        SELECT d.__i, d.__c,
               CAST(d.__c AS DOUBLE) - p.__a
                   - p.__b * CAST(d.__i AS DOUBLE) AS __rs
        FROM __dense d CROSS JOIN {prev} p
    ), __m{t} AS MATERIALIZED (
        SELECT {tuning} * 1.4826 * (min(__r) + max(__r)) / 2.0
                   AS __delta
        FROM (SELECT abs(__rs) AS __r,
                     row_number() OVER (ORDER BY abs(__rs) ASC)
                         AS __rn,
                     CAST(count(*) OVER () AS BIGINT) AS __nn
              FROM __r{t})
        WHERE __rn = (__nn + 1) // 2 OR __rn = __nn // 2 + 1
    )""")
        wsrc = f"""
        (SELECT r.__i, r.__c,
                CAST(floor(CASE WHEN abs(r.__rs) = 0 THEN 1.0
                     WHEN m.__delta <= 0 THEN 0.0
                     ELSE least(CAST(1.0 AS DOUBLE),
                          m.__delta / abs(r.__rs))
                     END * 1e6) AS BIGINT) AS __wm
         FROM __r{t} r CROSS JOIN __m{t} m)
        """
        parts.append(
            f", __f{t} AS MATERIALIZED ("
            + fold.format(
                src=f"(SELECT * FROM {wsrc} WHERE __wm > 0)"
            )
            + f"), __p{t} AS MATERIALIZED ("
            + solve.format(src=f"__f{t}")
            + ")"
        )
        prev = f"__p{t}"
    return (
        "".join(parts)
        + f"""
    SELECT o.__n AS n_days,
           round(o.__b * 1e6, 0) / 1e6 AS ols_slope,
           round(o.__a * 1e6, 0) / 1e6 AS ols_intercept,
           round(h.__b * 1e6, 0) / 1e6 AS huber_slope,
           round(h.__a * 1e6, 0) / 1e6 AS huber_intercept
    FROM __p0 o CROSS JOIN {prev} h
    """
    )


def gumbel_block_maxima(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    block_days: int = 7,
) -> DataFrame:
    """Gumbel extreme-value fit on block maxima of the daily
    integer-cent series, by probability-weighted moments (Landwehr
    1979; the EVT sibling of the Hill tail-index gate q168 — Hill
    reads the tail exponent from the top-k order statistics, this
    fits the FULL max-domain law and prices return levels):

        m_k   = max of block k (block = (i-1) // block_days)
        B0    = sum m_(j)            B1 = sum (j-1) m_(j)   (sorted)
        b0 = B0/n ; b1 = B1/(n(n-1))
        beta  = (2 b1 - b0) / ln 2        (scale)
        mu    = b0 - gamma_E * beta       (location)
        RL_T  = mu - beta * ln(-ln(1 - 1/T))

    Returns one row ``(n_blocks, mu, beta, rl_10, rl_52)`` (cents;
    return periods in blocks), round-6; NULL fit when n_blocks < 3.

    Exactness: block maxima and both PWM folds are exact integers
    (the tie hazard is provably absent: within a tied run of equal
    maxima the rank weights (j-1) sum to the same total whatever
    order row_number assigns); the fit is a fixed double expression
    of two exact integers.

    Scale: ONE block-keyed max agg on the calendar-bounded spine +
    one rank window over n_blocks rows.
    """
    dense = _daily_cents(df, ts_col, value_col)
    blocks = dense.groupBy(
        ((F.col("__i") - 1) / F.lit(block_days))
        .cast("bigint")
        .alias("__blk")
    ).agg(F.max("__c").alias("__m"))
    w = Window.orderBy(F.col("__m").asc(), F.col("__blk").asc())
    ranked = blocks.select(
        "__m", (F.row_number().over(w) - 1).cast("bigint").alias("__j")
    )
    fold = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum("__m").cast("decimal(38,0)").alias("__b0"),
        F.sum(
            F.col("__j").cast("decimal(38,0)")
            * F.col("__m").cast("decimal(38,0)")
        )
        .alias("__b1"),
    )
    n = F.col("n_blocks").cast("double")
    b0 = F.col("__b0").cast("double") / n
    b1 = F.col("__b1").cast("double") / (n * (n - F.lit(1.0)))
    beta = (F.lit(2.0) * b1 - b0) / F.lit(0.6931471805599453)
    mu = b0 - F.lit(0.5772156649015329) * beta
    gate = F.col("n_blocks") >= 3

    def rl(T: float):
        import math

        return mu - beta * F.lit(math.log(-math.log(1.0 - 1.0 / T)))

    return fold.select(
        "n_blocks",
        round_to(F.when(gate, mu), 6).alias("mu"),
        round_to(F.when(gate, beta), 6).alias("beta"),
        round_to(F.when(gate, rl(10.0)), 6).alias("rl_10"),
        round_to(F.when(gate, rl(52.0)), 6).alias("rl_52"),
    )


def gumbel_block_maxima_sql(
    table_expr: str,
    ts_col: str,
    value_col: str,
    block_days: int = 7,
) -> str:
    """DuckDB twin of :func:`gumbel_block_maxima` — identical blocks,
    integer PWM folds and double fit chain (python-evaluated ln
    constants embedded identically)."""
    import math

    base = _DAILY_CENTS_SQL.format(
        table=table_expr, ts=ts_col, val=value_col
    )
    ln2 = repr(0.6931471805599453)
    gam = repr(0.5772156649015329)
    c10 = repr(math.log(-math.log(1.0 - 1.0 / 10.0)))
    c52 = repr(math.log(-math.log(1.0 - 1.0 / 52.0)))
    return f"""{base}
    , __blocks AS (
        SELECT CAST((__i - 1) // {block_days} AS BIGINT) AS __blk,
               max(__c) AS __m
        FROM __dense GROUP BY 1
    ), __ranked AS (
        SELECT __m,
               CAST(row_number() OVER (ORDER BY __m ASC, __blk ASC)
                    - 1 AS BIGINT) AS __j
        FROM __blocks
    ), __fold AS (
        SELECT CAST(count(*) AS BIGINT) AS n_blocks,
               sum(CAST(__m AS HUGEINT)) AS __b0,
               sum(CAST(__j AS HUGEINT) * CAST(__m AS HUGEINT))
                   AS __b1
        FROM __ranked
    )
    SELECT n_blocks,
           round(CASE WHEN n_blocks >= 3 THEN
                 CAST(__b0 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
                 - {gam} * ((2.0 * CAST(__b1 AS DOUBLE)
                    / (CAST(n_blocks AS DOUBLE)
                       * (CAST(n_blocks AS DOUBLE) - 1.0))
                    - CAST(__b0 AS DOUBLE) / CAST(n_blocks AS DOUBLE))
                   / {ln2}) END * 1e6, 0) / 1e6 AS mu,
           round(CASE WHEN n_blocks >= 3 THEN
                 (2.0 * CAST(__b1 AS DOUBLE)
                  / (CAST(n_blocks AS DOUBLE)
                     * (CAST(n_blocks AS DOUBLE) - 1.0))
                  - CAST(__b0 AS DOUBLE) / CAST(n_blocks AS DOUBLE))
                 / {ln2} END * 1e6, 0) / 1e6 AS beta,
           round(CASE WHEN n_blocks >= 3 THEN
                 (CAST(__b0 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
                  - {gam} * ((2.0 * CAST(__b1 AS DOUBLE)
                     / (CAST(n_blocks AS DOUBLE)
                        * (CAST(n_blocks AS DOUBLE) - 1.0))
                     - CAST(__b0 AS DOUBLE)
                       / CAST(n_blocks AS DOUBLE)) / {ln2}))
                 - ((2.0 * CAST(__b1 AS DOUBLE)
                     / (CAST(n_blocks AS DOUBLE)
                        * (CAST(n_blocks AS DOUBLE) - 1.0))
                     - CAST(__b0 AS DOUBLE)
                       / CAST(n_blocks AS DOUBLE)) / {ln2})
                   * {c10} END * 1e6, 0) / 1e6 AS rl_10,
           round(CASE WHEN n_blocks >= 3 THEN
                 (CAST(__b0 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
                  - {gam} * ((2.0 * CAST(__b1 AS DOUBLE)
                     / (CAST(n_blocks AS DOUBLE)
                        * (CAST(n_blocks AS DOUBLE) - 1.0))
                     - CAST(__b0 AS DOUBLE)
                       / CAST(n_blocks AS DOUBLE)) / {ln2}))
                 - ((2.0 * CAST(__b1 AS DOUBLE)
                     / (CAST(n_blocks AS DOUBLE)
                        * (CAST(n_blocks AS DOUBLE) - 1.0))
                     - CAST(__b0 AS DOUBLE)
                       / CAST(n_blocks AS DOUBLE)) / {ln2})
                   * {c52} END * 1e6, 0) / 1e6 AS rl_52
    FROM __fold
    """


def durbin_watson(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Durbin-Watson statistic (Durbin & Watson 1950) pooled over
    per-key time series — lag-1 autocorrelation evidence in the
    mean-adjusted values (d ~ 2 independent, d -> 0 positive
    autocorrelation, d -> 4 negative):

        d = sum (y_t - y_{t-1})^2 / sum (y_t - ybar)^2

    The global mean CANCELS in the numerator (differences of demeaned
    values equal differences of raw values), so the whole statistic is
    exact integer arithmetic: numerator = one lag window per key in
    integer CENTS (the diff squares ride DECIMAL(38)); denominator =
    Q - S^2/N from ONE moment agg; ONE final double division, round 6
    — twin-replayable bit-for-bit, no broadcast of the mean needed.
    Lag ordering is (ts, tiebreak) per key — pass ``tiebreak_col`` when
    timestamps can tie, or the lag (and d) is nondeterministic.

    Scale: windows partition by KEY (no global sort); the moment agg is
    map-side combinable. First observation per key has no lag and drops
    from the numerator only.

    Returns one row ``(n, n_diffs, dw)`` — dw NULL when the value
    variance is 0.
    """
    y = to_fixed(F.col(value_col).cast("double"), 2)
    order = [F.col(ts_col)] + (
        [F.col(tiebreak_col)] if tiebreak_col else []
    )
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(F.col(key_col).alias("__k"), *order, y.alias("__y"))
    w = Window.partitionBy("__k").orderBy(*order)
    lagged = base.select(
        "__y", F.lag("__y").over(w).alias("__p")
    )
    d = (F.col("__y") - F.col("__p")).cast("decimal(38,0)")
    agg = lagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count("__p").cast("bigint").alias("n_diffs"),
        F.sum(d * d).alias("__num"),
        F.sum("__y").cast("bigint").alias("__s"),
        F.sum(
            F.col("__y").cast("decimal(38,0)")
            * F.col("__y").cast("decimal(38,0)")
        ).alias("__q"),
    )
    nn = F.col("n").cast("double")
    den = F.col("__q").cast("double") - (
        F.col("__s").cast("double") * F.col("__s").cast("double") / nn
    )
    return agg.select(
        "n",
        "n_diffs",
        F.when(
            den > 0, round_to(F.col("__num").cast("double") / den, 6)
        ).alias("dw"),
    )


def durbin_watson_sql(
    table: str,
    key_col: str,
    ts_col: str,
    value_col: str,
    tiebreak_col: str | None = None,
) -> str:
    """DuckDB twin of :func:`durbin_watson` (identical lag order,
    integer-cent folds, and final division)."""
    tb = f", {tiebreak_col}" if tiebreak_col else ""
    return f"""
    WITH base AS (
        SELECT {key_col} AS k,
               CAST(round(CAST({value_col} AS DOUBLE) * 100, 0) AS BIGINT)
                   AS y,
               lag(CAST(round(CAST({value_col} AS DOUBLE) * 100, 0)
                        AS BIGINT))
                   OVER (PARTITION BY {key_col}
                         ORDER BY {ts_col}{tb}) AS p
        FROM {table}
        WHERE {ts_col} IS NOT NULL AND {value_col} IS NOT NULL
    ), agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(count(p) AS BIGINT) AS n_diffs,
               CAST(sum(CAST(y - p AS HUGEINT) * (y - p)) AS HUGEINT)
                   AS num,
               CAST(sum(y) AS BIGINT) AS s,
               CAST(sum(CAST(y AS HUGEINT) * y) AS HUGEINT) AS q
        FROM base
    )
    SELECT n, n_diffs,
           CASE WHEN CAST(q AS DOUBLE)
                     - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                       / CAST(n AS DOUBLE) > 0
                THEN round(CAST(num AS DOUBLE)
                           / (CAST(q AS DOUBLE)
                              - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                                / CAST(n AS DOUBLE)), 6)
           END AS dw
    FROM agg
    """
