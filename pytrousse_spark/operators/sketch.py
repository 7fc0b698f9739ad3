"""Count-Min sketch: bounded-memory frequency estimation (Cormode &
Muthukrishnan 2005).

At 100 TB a token-frequency table is itself huge (trillions of tokens,
billions of distinct); a Count-Min sketch replaces it with a fixed d x w
counter grid (e.g. 4 x 16384 = 64k cells) built in ONE map-side-combined
aggregation keyed by (row, cell) — the only shuffle is bounded by d*w
regardless of corpus size, and the resulting grid broadcasts anywhere a
frequency estimate is needed (heavy-hitter gates, importance weighting,
vocabulary pruning). Estimates NEVER underestimate: est(x) >= true(x), with
overestimation bounded by e*N/w at confidence 1-(1/2)^d. The portable h60
hash family keeps the grid reproducible by the DuckDB oracle bit-for-bit;
``hash_fn="xxhash64"`` is the cheap pure-Spark tier.

Spark's own ``df.stat.countMinSketch`` builds the same structure JVM-side
with engine-private hashing (not oracle-checkable, not composable as a
DataFrame); this one stays a plain DataFrame so estimation is a broadcast
join and the grid can be persisted/unioned/merged like any table (sketches
are mergeable by cell-wise sum).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..functions.hashing import hash_expr
from ..functions.rounding import round_half_away, round_to
from ..staging import stage


def _cell_cols(col: Column, w: int, d: int, hash_fn: str) -> Column:
    """Array of d cell positions for one key."""
    return F.array(
        *[F.pmod(hash_expr(col, f"cm{j}", hash_fn), F.lit(w)).cast("long") for j in range(d)]
    )


def count_min_build(
    df: DataFrame, col: str, w: int = 1 << 14, d: int = 4, hash_fn: str = "md5"
) -> DataFrame:
    """Build the sketch grid from one key per row (pre-explode multi-valued
    inputs). Returns (j, pos, c) with at most d*w rows; partial aggregation
    makes the shuffle carry only the grid, never the corpus.
    """
    return (
        df.where(F.col(col).isNotNull())
        .select(
            F.posexplode(_cell_cols(F.col(col), w, d, hash_fn)).alias("j", "pos")
        )
        .groupBy("j", "pos")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def count_min_estimate(
    probe: DataFrame,
    col: str,
    sketch: DataFrame,
    w: int = 1 << 14,
    d: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """Frequency estimate per probe row: min over the d cells.

    The grid broadcasts (<= d*w rows); missing cells count 0, so keys never
    seen by the build side estimate correctly as 0 when none of their cells
    collide.
    """
    pp = probe.select(
        "*", F.posexplode(_cell_cols(F.col(col), w, d, hash_fn)).alias("j", "pos")
    )
    return (
        pp.join(F.broadcast(sketch), ["j", "pos"], "left")
        .groupBy(*probe.columns)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("cm_estimate"))
    )


def count_min_build_sql(rows_subquery: str, key_expr: str, w: int, d: int) -> str:
    """DuckDB twin of :func:`count_min_build` over ``rows_subquery``."""
    return f"""
        SELECT g.gi AS j,
               (('0x' || substr(md5('cm' || g.gi || '|' || {key_expr}), 1, 15))::BIGINT) % {w} AS pos,
               count(*) AS c
        FROM ({rows_subquery}) b
        CROSS JOIN generate_series(0, {d - 1}) AS g(gi)
        WHERE {key_expr} IS NOT NULL
        GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007) with portable, engine-exact registers
# ---------------------------------------------------------------------------
def hll_registers(
    df: DataFrame,
    col: str,
    p: int = 12,
    hash_fn: str = "md5",
    with_count: bool = False,
) -> DataFrame:
    """The 2^p HLL registers for a column: (bucket, r) with r = max over
    rows of (leading-zero rank of the hash suffix). Mergeable by max, the
    whole sketch is 2^p small ints — the classic bounded-memory distinct
    counter (Spark's own approx_count_distinct runs HLL++ JVM-side with
    engine-private hashing; this one is oracle-reproducible).

    Portability: the rank uses NO floating log — bit length is a sum of
    integer comparisons (rest >= 2^i), so registers are bit-for-bit
    identical in any engine. One hash-agg shuffle bounded by 2^p.

    ``with_count=True`` additionally returns the per-bucket input row
    count ``c`` in the SAME aggregation — a sketch-vs-exact consumer
    feeding a pre-deduplicated frame reads exact = sum(c) from the one
    collected register frame instead of paying a second full pass
    (r12 VERDICT item 3, guide §2.2 partial aggregation).
    """
    w = 60 - p  # suffix width under the 60-bit portable hash
    h = hash_expr(F.col(col), "hll", hash_fn)
    keyed = df.where(F.col(col).isNotNull()).select(
        F.pmod(h, F.lit(1 << p)).alias("bucket"),
        F.shiftright(h, p).bitwiseAND(F.lit((1 << w) - 1)).alias("__rest"),
    )
    nbits = None
    for i in range(w):
        t = (F.col("__rest") >= F.lit(1 << i)).cast("int")
        nbits = t if nbits is None else nbits + t
    aggs = [F.max("r").alias("r")]
    if with_count:
        aggs.append(F.count(F.lit(1)).alias("c"))
    return (
        keyed.withColumn("r", (F.lit(w) - nbits) + 1)
        .groupBy("bucket")
        .agg(*aggs)
    )


def hll_estimate_row(registers: list[tuple[int, int]], p: int) -> dict:
    """Distinct-count estimate from collected registers (2^p of them at
    most; absent buckets are zero). The harmonic mean's power sum is
    computed as an EXACT integer (sum of 2^(max_r - r_j)) so the estimate
    is deterministic — no float fold-order dependence; the only float ops
    are one division and (in the small range) one ln, identical libm
    on both engines and rounded in the output.
    """
    import math

    m = 1 << p
    reg = {b: 0 for b in range(m)}
    for b, r in registers:
        reg[int(b)] = max(reg[int(b)], int(r))
    max_r = max(reg.values())
    t_int = sum(1 << (max_r - r) for r in reg.values())  # exact integer
    alpha = 0.7213 / (1 + 1.079 / m)
    raw = alpha * m * m * (1 << max_r) / t_int
    v = sum(1 for r in reg.values() if r == 0)
    if v > 0 and raw <= 2.5 * m:
        est = m * math.log(m / v)
    else:
        est = raw
    return {"estimate": round_half_away(est, 2), "zero_registers": v}


def hll_sql(
    table_expr: str, key_expr: str, p: int = 12
) -> str:
    """DuckDB twin: identical bucket/rank integer math, identical exact
    power sum, identical branch and rounding."""
    w = 60 - p
    m = 1 << p
    h = f"(('0x' || substr(md5('hll|' || {key_expr}), 1, 15))::BIGINT)"
    nbits = " + ".join(
        f"(CASE WHEN rest >= {1 << i} THEN 1 ELSE 0 END)" for i in range(w)
    )
    return f"""
    WITH hashed AS (
        SELECT ({h} % {m}) AS bucket,
               (({h} >> {p}) & {(1 << w) - 1}) AS rest
        FROM ({table_expr}) WHERE {key_expr} IS NOT NULL
    ), ranked AS (
        SELECT bucket, ({w} - ({nbits})) + 1 AS r FROM hashed
    ), regs AS (
        SELECT g.i AS bucket, COALESCE(mx.r, 0) AS r
        FROM generate_series(0, {m - 1}) AS g(i)
        LEFT JOIN (SELECT bucket, max(r) AS r FROM ranked GROUP BY bucket) mx
               ON mx.bucket = g.i
    ), agg AS (
        SELECT max(r) AS max_r,
               CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
        FROM regs
    ), t AS (
        SELECT CAST(sum(1::BIGINT << ((SELECT max_r FROM agg) - r)) AS BIGINT)
               AS t_int
        FROM regs
    )
    SELECT round(
      CASE WHEN (SELECT v FROM agg) > 0
            AND (0.7213 / (1 + 1.079 / {m})) * {m}::DOUBLE * {m}
                * (1::BIGINT << (SELECT max_r FROM agg)) / (SELECT t_int FROM t)
                <= 2.5 * {m}
           THEN {m} * ln({m}::DOUBLE / (SELECT v FROM agg))
           ELSE (0.7213 / (1 + 1.079 / {m})) * {m}::DOUBLE * {m}
                * (1::BIGINT << (SELECT max_r FROM agg)) / (SELECT t_int FROM t)
      END, 2) AS estimate,
      (SELECT v FROM agg) AS zero_registers
    """


def hll_registers_grouped(
    df: DataFrame, group_col: str, col: str, p: int = 12, hash_fn: str = "md5"
) -> DataFrame:
    """Per-group HLL registers: (group, bucket, r) — one sketch per group
    built in ONE hash aggregation whose shuffle is bounded by
    groups x 2^p. This is the sharded-build layout a 100 TB profile run
    uses: each shard/partition/day builds its own registers, and the
    corpus-wide sketch is their bucket-wise max (see
    :func:`hll_merge_registers`) — no re-scan, no re-shuffle of data.
    """
    w = 60 - p
    h = hash_expr(F.col(col), "hll", hash_fn)
    keyed = df.where(F.col(col).isNotNull()).select(
        F.col(group_col).alias("grp"),
        F.pmod(h, F.lit(1 << p)).alias("bucket"),
        F.shiftright(h, p).bitwiseAND(F.lit((1 << w) - 1)).alias("__rest"),
    )
    nbits = None
    for i in range(w):
        t = (F.col("__rest") >= F.lit(1 << i)).cast("int")
        nbits = t if nbits is None else nbits + t
    return (
        keyed.withColumn("r", (F.lit(w) - nbits) + 1)
        .groupBy("grp", "bucket")
        .agg(F.max("r").alias("r"))
    )


def hll_merge_registers(regs: DataFrame) -> DataFrame:
    """Merge per-group sketches into one: bucket-wise max over all groups.

    THE mergeability law of HLL — merge(sketch(A), sketch(B)) ==
    sketch(A ∪ B) exactly (max is associative/commutative/idempotent), so
    per-shard registers combine into the corpus-wide sketch with a
    groups x 2^p -> 2^p aggregation and zero data re-reads. The law is
    pinned under the oracle gate by q103 (merged estimate == the
    whole-corpus q99 estimate, bit for bit).
    """
    return regs.groupBy("bucket").agg(F.max("r").alias("r"))


def hll_grouped_sql(
    table_expr: str, group_expr: str, key_expr: str, p: int = 12,
    merged_label: str = "ALL", out_group_col: str = "grp",
) -> str:
    """DuckDB twin of per-group registers + merge + per-group estimates:
    identical bucket/rank integer math and estimate branch as
    :func:`hll_sql`, computed per group plus a ``merged_label`` row whose
    registers are the bucket-wise max over every group."""
    w = 60 - p
    m = 1 << p
    h = f"(('0x' || substr(md5('hll|' || {key_expr}), 1, 15))::BIGINT)"
    nbits = " + ".join(
        f"(CASE WHEN rest >= {1 << i} THEN 1 ELSE 0 END)" for i in range(w)
    )
    alpha = f"(0.7213 / (1 + 1.079 / {m}))"
    raw = (
        f"{alpha} * {m}::DOUBLE * {m} * (1::BIGINT << a.max_r) / t.t_int"
    )
    return f"""
    WITH hashed AS (
        SELECT {group_expr} AS grp,
               ({h} % {m}) AS bucket,
               (({h} >> {p}) & {(1 << w) - 1}) AS rest
        FROM ({table_expr}) WHERE {key_expr} IS NOT NULL
    ), ranked AS (
        SELECT grp, bucket, ({w} - ({nbits})) + 1 AS r FROM hashed
    ), maxr AS (
        SELECT grp, bucket, max(r) AS r FROM ranked GROUP BY grp, bucket
        UNION ALL
        SELECT '{merged_label}' AS grp, bucket, max(r) AS r
        FROM ranked GROUP BY bucket
    ), grps AS (
        SELECT DISTINCT grp FROM maxr
    ), regs AS (
        SELECT g.grp, gs.i AS bucket, COALESCE(mx.r, 0) AS r
        FROM grps g
        CROSS JOIN generate_series(0, {m - 1}) AS gs(i)
        LEFT JOIN maxr mx ON mx.grp = g.grp AND mx.bucket = gs.i
    ), a AS (
        SELECT grp, max(r) AS max_r,
               CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
        FROM regs GROUP BY grp
    ), t AS (
        SELECT regs.grp,
               CAST(sum(1::BIGINT << (a.max_r - regs.r)) AS BIGINT) AS t_int
        FROM regs JOIN a ON a.grp = regs.grp
        GROUP BY regs.grp
    )
    SELECT a.grp AS {out_group_col},
           round(
             CASE WHEN a.v > 0 AND {raw} <= 2.5 * {m}
                  THEN {m} * ln({m}::DOUBLE / a.v)
                  ELSE {raw}
             END, 2) AS estimate,
           a.v AS zero_registers
    FROM a JOIN t ON t.grp = a.grp
    """


# ---------------------------------------------------------------------------
# Histogram quantile sketch (equi-width bins + linear interpolation)
# ---------------------------------------------------------------------------
def histogram_quantile_estimates(
    df: DataFrame, col: str, quantiles: list[float], num_bins: int = 4096
) -> list[dict]:
    """Approximate quantiles from a B-bin equi-width histogram.

    The fourth sketch in the family (membership q87, frequency q88,
    distinct q99): ONE min/max/count pass + ONE histogram aggregation
    whose shuffle is bounded by B cells regardless of row count, then a
    B-row collect and linear interpolation inside the crossing bin.
    Error is bounded by the bin width — for percentile workloads over
    roughly uniform commercial values (prices, sizes) B=4096 lands within
    a fraction of a percent, and unlike percentile()'s exact sort the
    build is a fixed-size hash agg. Every arithmetic step (bucket formula,
    cumulative crossing, interpolation) is replayed term-for-term by the
    DuckDB twin.
    """
    # lo/hi/n over the NULL-filtered frame so n matches the histogram mass
    # (min/max already ignore NULLs; count(1) would not).
    stats = df.where(F.col(col).isNotNull()).agg(
        F.min(col).alias("lo"), F.max(col).alias("hi"), F.count(F.lit(1)).alias("n")
    ).first()
    lo, hi, n = float(stats["lo"]), float(stats["hi"]), int(stats["n"])
    if hi == lo:
        return [{"q": q, "estimate": round_half_away(lo, 4)} for q in quantiles]
    bucket = F.least(
        F.floor(((F.col(col) - F.lit(lo)) / F.lit(hi - lo)) * num_bins).cast("long"),
        F.lit(num_bins - 1),
    )
    hist = sorted(
        (r["bucket"], r["c"])
        for r in df.where(F.col(col).isNotNull())
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    out = []
    for q in quantiles:
        target = q * n
        cum = 0
        est = hi
        for b, c in hist:
            prev = cum
            cum += c
            if cum >= target:
                est = lo + (b + (target - prev) / c) * ((hi - lo) / num_bins)
                break
        out.append({"q": q, "estimate": round_half_away(est, 4)})
    return out


def histogram_quantiles_sql(
    table: str, col: str, quantiles: list[float], num_bins: int = 4096
) -> str:
    """DuckDB twin of :func:`histogram_quantile_estimates` — identical
    bucket formula, crossing rule, and interpolation, one row per q with
    the exact quantile_cont alongside."""
    qvals = ", ".join(f"({q})" for q in quantiles)
    return f"""
    WITH s AS (
        SELECT min({col}) AS lo, max({col}) AS hi,
               CAST(count(*) AS BIGINT) AS n
        FROM {table} WHERE {col} IS NOT NULL
    ), b AS (
        SELECT CASE WHEN s.hi = s.lo THEN 0
                    ELSE LEAST(CAST(floor((({col} - s.lo) / (s.hi - s.lo)) * {num_bins})
                               AS BIGINT), {num_bins - 1}) END AS bucket
        FROM {table}, s WHERE {col} IS NOT NULL
    ), h AS (
        SELECT bucket, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY bucket
    ), cum AS (
        SELECT bucket, c,
               CAST(sum(c) OVER (ORDER BY bucket) AS BIGINT) AS cum
        FROM h
    ), qs(q) AS (VALUES {qvals}),
    pick AS (
        SELECT qs.q, min(cum.bucket) AS bucket
        FROM qs, cum, s
        WHERE cum.cum >= CAST(qs.q AS DOUBLE) * s.n
        GROUP BY qs.q
    )
    SELECT CAST(p.q AS DOUBLE) AS q,
           CASE WHEN s.hi = s.lo THEN round(s.lo, 4)
                ELSE round(s.lo + (p.bucket + (CAST(p.q AS DOUBLE) * s.n - (c2.cum - c2.c)) / c2.c)
                     * ((s.hi - s.lo) / {num_bins}), 4) END AS estimate
    FROM pick p
    JOIN cum c2 ON c2.bucket = p.bucket
    CROSS JOIN s
    """


def hll_trailing_distinct(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    window_days: int = 7,
    p: int = 9,
    hash_fn: str = "md5",
) -> DataFrame:
    """Trailing-window distinct counts from MERGED daily HLL sketches:
    for every day, the estimated distinct ``key_col`` over the last
    ``window_days`` days — the rolling-uniques metric that an exact
    ``count(DISTINCT) OVER (RANGE 6 PRECEDING)`` cannot compute at scale
    (it buffers every key per frame, and distinct does not decompose
    over sliding windows).

    Composition of pinned pieces: per-day registers
    (:func:`hll_registers_grouped` — one (day, bucket)-keyed agg, shuffle
    bounded by days x 2^p), a dense day x bucket grid, one RANGE window
    per bucket taking the frame-wise register max (HLL's mergeability law:
    max over days == sketch of the union), then the q99 estimator per
    day — exact integer power sums, one float division + ln, identical
    in the DuckDB replay. Data is scanned ONCE regardless of window
    length; the window runs over days x 2^p register rows only.

    Returns ``(day, estimate, zero_registers)``.
    """
    from pyspark.sql import Window

    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    regs = hll_registers_grouped(
        df.select(
            F.date_trunc("day", F.col(ts_col)).cast("date").alias("__day"),
            F.col(key_col),
        ),
        "__day",
        key_col,
        p=p,
        hash_fn=hash_fn,
    ).select(F.col("grp").alias("__day"), "bucket", "r")
    days = regs.select("__day").distinct()
    grid = days.select(
        "__day", F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bucket")
    )
    dense = (
        grid.join(regs, ["__day", "bucket"], "left")
        .select(
            "__day",
            "bucket",
            F.coalesce(F.col("r"), F.lit(0)).alias("r"),
            F.datediff(F.col("__day"), F.lit("1970-01-01").cast("date")).alias(
                "__dn"
            ),
        )
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("__dn")
        .rangeBetween(-(window_days - 1), 0)
    )
    rolled = dense.select(
        "__day", "bucket", F.max("r").over(w).alias("r")
    )
    heads = rolled.groupBy("__day").agg(
        F.max("r").alias("__max_r"),
        F.sum((F.col("r") == 0).cast("bigint")).alias("zero_registers"),
    )
    t_int = rolled.join(F.broadcast(heads), "__day").groupBy("__day").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), __max_r - r)")
        ).alias("__t")
    )
    raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(m)
        * F.expr("shiftleft(CAST(1 AS BIGINT), __max_r)")
        / F.col("__t")
    )
    v = F.col("zero_registers")
    est = F.when(
        (v > 0) & (raw <= F.lit(2.5 * m)),
        F.lit(m) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw)
    return (
        heads.join(t_int, "__day")
        .select(
            F.col("__day").alias("day"),
            round_to(est, 2).alias("estimate"),
            "zero_registers",
        )
    )


def hll_trailing_sql(
    table_expr: str,
    ts_expr: str,
    key_expr: str,
    window_days: int = 7,
    p: int = 9,
) -> str:
    """DuckDB twin of :func:`hll_trailing_distinct` — identical register
    math, identical dense grid, identical RANGE merge and estimator."""
    w_bits = 60 - p
    m = 1 << p
    h = f"(('0x' || substr(md5('hll|' || {key_expr}), 1, 15))::BIGINT)"
    nbits = " + ".join(
        f"(CASE WHEN rest >= {1 << i} THEN 1 ELSE 0 END)"
        for i in range(w_bits)
    )
    alpha = f"(0.7213 / (1 + 1.079 / {m}))"
    return f"""
    WITH hashed AS (
        SELECT CAST(date_trunc('day', CAST({ts_expr} AS TIMESTAMP)) AS DATE)
                   AS d,
               ({h} % {m}) AS bucket,
               (({h} >> {p}) & {(1 << w_bits) - 1}) AS rest
        FROM ({table_expr}) WHERE {key_expr} IS NOT NULL
    ), maxr AS (
        SELECT d, bucket, max(({w_bits} - ({nbits})) + 1) AS r
        FROM hashed GROUP BY d, bucket
    ), days AS (
        SELECT DISTINCT d FROM maxr
    ), dense AS (
        SELECT days.d, gs.i AS bucket, COALESCE(mx.r, 0) AS r,
               datediff('day', DATE '1970-01-01', days.d) AS dn
        FROM days
        CROSS JOIN generate_series(0, {m - 1}) AS gs(i)
        LEFT JOIN maxr mx ON mx.d = days.d AND mx.bucket = gs.i
    ), rolled AS (
        SELECT d, bucket,
               max(r) OVER (
                   PARTITION BY bucket ORDER BY dn
                   RANGE BETWEEN {window_days - 1} PRECEDING AND CURRENT ROW
               ) AS r
        FROM dense
    ), heads AS (
        SELECT d, max(r) AS max_r,
               CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS zero_registers
        FROM rolled GROUP BY d
    ), t AS (
        SELECT rolled.d,
               CAST(sum(1::BIGINT << (heads.max_r - rolled.r)) AS BIGINT)
                   AS t_int
        FROM rolled JOIN heads ON heads.d = rolled.d
        GROUP BY rolled.d
    )
    SELECT heads.d AS day,
           round(CASE WHEN heads.zero_registers > 0
                       AND {alpha} * {m}::DOUBLE * {m}
                           * (1::BIGINT << heads.max_r) / t.t_int
                           <= 2.5 * {m}
                      THEN {m} * ln({m}::DOUBLE / heads.zero_registers)
                      ELSE {alpha} * {m}::DOUBLE * {m}
                           * (1::BIGINT << heads.max_r) / t.t_int
                 END, 2) AS estimate,
           heads.zero_registers
    FROM heads JOIN t ON t.d = heads.d
    """


def histogram_quantiles_grouped(
    df: DataFrame,
    group_col: str,
    col: str,
    quantiles: list[float],
    num_bins: int = 1024,
) -> DataFrame:
    """PER-GROUP approximate quantiles from equi-width histograms — the
    swap-in for exact per-group ``percentile`` that q121/q123 docstrings
    point at when groups have unbounded history.

    Fully engine-side (no driver collect, unlike the single-column
    :func:`histogram_quantile_estimates` whose B-row collect is fine for
    one histogram but not for millions of groups): per-group (lo, hi, n)
    stats broadcast back, ONE (group, bin)-keyed histogram agg — shuffle
    bounded by groups x B — a per-group running-sum window over bins, and
    the crossing-bin interpolation as expressions. Identical arithmetic
    to the single-column sketch; constant groups (hi == lo) estimate lo.

    Returns ``(group, q, estimate)`` rounded to 4.
    """
    from pyspark.sql import Window

    v = F.col(col)
    stats = (
        df.where(v.isNotNull())
        .groupBy(F.col(group_col).alias("__g"))
        .agg(
            F.min(col).alias("__lo"),
            F.max(col).alias("__hi"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    span = F.when(
        F.col("__hi") == F.col("__lo"), F.lit(1.0)
    ).otherwise(F.col("__hi") - F.col("__lo"))
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((v - F.col("__lo")) / span * num_bins).cast("long"),
            F.lit(num_bins - 1),
        )
    )
    hist = (
        df.where(v.isNotNull())
        .select(F.col(group_col).alias("__g"), v.alias(col))
        .join(F.broadcast(stats), "__g")
        .select("__g", bucket.alias("__b"))
        .groupBy("__g", "__b")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    w = Window.partitionBy("__g").orderBy("__b").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(w))
    qrows = stats.select(
        "__g",
        "__lo",
        "__hi",
        "__n",
        F.explode(F.array(*[F.lit(float(q)) for q in quantiles])).alias("q"),
    )
    crossed = (
        qrows.join(cum, "__g")
        .where(F.col("__cum") >= F.col("q") * F.col("__n"))
        .groupBy("__g", "q")
        .agg(
            F.min_by(
                F.struct("__b", "__c", "__cum"), F.col("__b")
            ).alias("__s"),
            F.first("__lo").alias("__lo"),
            F.first("__hi").alias("__hi"),
            F.first("__n").alias("__n"),
        )
    )
    span2 = F.when(
        F.col("__hi") == F.col("__lo"), F.lit(1.0)
    ).otherwise(F.col("__hi") - F.col("__lo"))
    est = F.when(F.col("__hi") == F.col("__lo"), round_to(F.col("__lo"), 4)).otherwise(
        round_to(
            F.col("__lo")
            + (
                F.col("__s.__b")
                + (
                    F.col("q") * F.col("__n")
                    - (F.col("__s.__cum") - F.col("__s.__c"))
                )
                / F.col("__s.__c")
            )
            * (span2 / num_bins),
            4,
        )
    )
    return crossed.select(
        F.col("__g").alias(group_col), "q", est.alias("estimate")
    )


def histogram_quantiles_grouped_sql(
    table: str,
    group_col: str,
    col: str,
    quantiles: list[float],
    num_bins: int = 1024,
) -> str:
    """DuckDB twin of :func:`histogram_quantiles_grouped`."""
    qvals = ", ".join(f"({float(q)})" for q in quantiles)
    return f"""
    WITH s AS (
        SELECT {group_col} AS g, min({col}) AS lo, max({col}) AS hi,
               CAST(count(*) AS BIGINT) AS n
        FROM {table} WHERE {col} IS NOT NULL GROUP BY 1
    ), b AS (
        SELECT t.{group_col} AS g,
               CASE WHEN s.hi = s.lo THEN 0
                    ELSE LEAST(CAST(floor((({col} - s.lo) / (s.hi - s.lo))
                                    * {num_bins}) AS BIGINT),
                               {num_bins - 1}) END AS bucket
        FROM {table} t JOIN s ON s.g = t.{group_col}
        WHERE {col} IS NOT NULL
    ), h AS (
        SELECT g, bucket, CAST(count(*) AS BIGINT) AS c
        FROM b GROUP BY 1, 2
    ), cum AS (
        SELECT g, bucket, c,
               CAST(sum(c) OVER (
                   PARTITION BY g ORDER BY bucket
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS BIGINT) AS cum
        FROM h
    ), qs(q) AS (VALUES {qvals}),
    pick AS (
        SELECT cum.g, qs.q, min(cum.bucket) AS bucket
        FROM qs, cum JOIN s ON s.g = cum.g
        WHERE cum.cum >= CAST(qs.q AS DOUBLE) * s.n
        GROUP BY 1, 2
    )
    SELECT p.g AS {group_col}, CAST(p.q AS DOUBLE) AS q,
           CASE WHEN s.hi = s.lo THEN round(s.lo, 4)
                ELSE round(s.lo + (p.bucket
                     + (CAST(p.q AS DOUBLE) * s.n - (c2.cum - c2.c)) / c2.c)
                     * ((s.hi - s.lo) / {num_bins}), 4) END AS estimate
    FROM pick p
    JOIN cum c2 ON c2.g = p.g AND c2.bucket = p.bucket
    JOIN s ON s.g = p.g
    """


def count_min_self_join_size(
    df: DataFrame, col: str, w: int = 1 << 12, d: int = 4, hash_fn: str = "md5"
) -> DataFrame:
    """Self-join cardinality (second frequency moment F2 = Σ n_k²)
    estimated from the Count-Min grid's inner product with itself
    (Cormode & Muthukrishnan 2005; the AGMS-style join-size estimator) —
    the pre-flight skew diagnostic that prices a join BEFORE shuffling
    it. Never underestimates (cell sums only merge mass); the oracle
    replays grid and estimate exactly and the gate emits the true F2
    alongside (exact needs a keys-bounded groupBy — feasible here,
    impossible when distinct keys outgrow memory; the sketch is d x w
    cells regardless).

    Returns one row: ``(cm_estimate, exact_f2, ratio)``.
    """
    # ONE scan serves both estimates: the gate already pays the exact
    # keys-bounded groupBy, and the sketch grid is derivable from it —
    # a cell's count is the sum of its keys' row counts (integer sums
    # commute, bit-identical to hashing every raw row), so the d hash
    # evaluations run once per DISTINCT key instead of once per row
    keyed = stage(
        df.where(F.col(col).isNotNull())
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("__n"))
    )
    cm = (
        keyed.select(
            "__n",
            F.posexplode(_cell_cols(F.col(col), w, d, hash_fn)).alias(
                "j", "pos"
            ),
        )
        .groupBy("j", "pos")
        .agg(F.sum("__n").alias("c"))
    )
    est = (
        cm.groupBy("j")
        .agg(F.sum(F.col("c") * F.col("c")).alias("__ip"))
        .agg(F.min("__ip").alias("cm_estimate"))
    )
    exact = keyed.agg(
        F.sum(F.col("__n") * F.col("__n")).alias("exact_f2")
    )
    return est.crossJoin(exact).select(
        "cm_estimate",
        "exact_f2",
        round_to(F.col("cm_estimate") / F.col("exact_f2"), 6).alias("ratio"),
    )


def count_min_self_join_size_sql(
    table: str, key_expr: str, w: int = 1 << 12, d: int = 4
) -> str:
    """DuckDB twin of :func:`count_min_self_join_size`."""
    build = count_min_build_sql(f"SELECT {key_expr} FROM {table}", key_expr, w, d)
    return f"""
    WITH cm AS ({build}),
    est AS (
        SELECT CAST(min(ip) AS BIGINT) AS cm_estimate FROM (
            SELECT j, sum(c * c) AS ip FROM cm GROUP BY j
        )
    ),
    exact AS (
        SELECT CAST(sum(n * n) AS BIGINT) AS exact_f2 FROM (
            SELECT {key_expr} AS k, count(*) AS n FROM {table}
            WHERE {key_expr} IS NOT NULL GROUP BY 1
        )
    )
    SELECT e.cm_estimate, x.exact_f2,
           round(e.cm_estimate / x.exact_f2, 6) AS ratio
    FROM est e CROSS JOIN exact x
    """


def hll_set_ops(
    df_a: DataFrame,
    df_b: DataFrame,
    col: str,
    p: int = 12,
    hash_fn: str = "md5",
) -> DataFrame:
    """Distinct-set algebra from HLL sketches: |A|, |B|, |A∪B| (union =
    bucket-wise register max, the HLL mergeability law) and |A∩B| by
    inclusion–exclusion — the audience-overlap / cross-period-cohort
    question exact COUNT(DISTINCT) cannot answer at 100 TB without
    co-shuffling both sides on the key (here: two bounded sketches and
    registers-only math; the sides never meet on the raw key).

    Returns ONE row ``(est_a, est_b, est_union, est_intersection)``,
    estimates rounded to 2; the intersection is clamped at 0 (I-E can go
    negative within sketch error). Accuracy vs exact overlap is pinned
    in tests/test_sketch.py; the estimator is the q99 integer-exact one.

    Shuffle budget: each side is one hash-agg bounded by 2^p; everything
    after runs over 3 x 2^p register rows.
    """
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    # each side's registers checkpoint once (2^p rows): ra/rb feed BOTH
    # the union sketch and the labeled frame, and the dense grid below
    # has two consumers — without the barriers every consumer re-scans
    # and re-tokenizes the source (12 parquet scans measured; 2 after)
    ra = stage(
        hll_registers(df_a, col, p=p, hash_fn=hash_fn)
        .select(F.lit("a").alias("lbl"), "bucket", "r")
    )
    rb = stage(
        hll_registers(df_b, col, p=p, hash_fn=hash_fn)
        .select(F.lit("b").alias("lbl"), "bucket", "r")
    )
    ru = (
        ra.unionByName(rb)
        .groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .select(F.lit("u").alias("lbl"), "bucket", "r")
    )
    regs = ra.unionByName(rb).unionByName(ru)
    spark = df_a.sparkSession
    grid = (
        spark.createDataFrame([("a",), ("b",), ("u",)], "lbl string")
        .select(
            "lbl",
            F.explode(F.sequence(F.lit(0), F.lit(m - 1))).alias("bucket"),
        )
    )
    dense = stage(
        grid.join(regs, ["lbl", "bucket"], "left")
        .select(
            "lbl", "bucket", F.coalesce(F.col("r"), F.lit(0)).alias("r")
        )
    )
    heads = dense.groupBy("lbl").agg(
        F.max("r").alias("__max_r"),
        F.sum((F.col("r") == 0).cast("bigint")).alias("__v"),
    )
    t_int = dense.join(F.broadcast(heads), "lbl").groupBy("lbl").agg(
        F.sum(
            F.expr("shiftleft(CAST(1 AS BIGINT), __max_r - r)")
        ).alias("__t")
    )
    raw = (
        F.lit(alpha)
        * F.lit(float(m))
        * F.lit(m)
        * F.expr("shiftleft(CAST(1 AS BIGINT), __max_r)")
        / F.col("__t")
    )
    v = F.col("__v")
    est = F.when(
        (v > 0) & (raw <= F.lit(2.5 * m)),
        F.lit(m) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw)
    ests = heads.join(t_int, "lbl").select("lbl", est.alias("__e"))
    one = ests.groupBy().agg(
        F.max(F.when(F.col("lbl") == "a", F.col("__e"))).alias("__ea"),
        F.max(F.when(F.col("lbl") == "b", F.col("__e"))).alias("__eb"),
        F.max(F.when(F.col("lbl") == "u", F.col("__e"))).alias("__eu"),
    )
    return one.select(
        round_to(F.col("__ea"), 2).alias("est_a"),
        round_to(F.col("__eb"), 2).alias("est_b"),
        round_to(F.col("__eu"), 2).alias("est_union"),
        round_to(
            F.greatest(
                F.lit(0.0), F.col("__ea") + F.col("__eb") - F.col("__eu")
            ),
            2,
        ).alias("est_intersection"),
    )


def hll_set_ops_sql(
    sub_a: str, sub_b: str, key_expr: str, p: int = 12
) -> str:
    """DuckDB twin of :func:`hll_set_ops` — identical register math,
    bucket-wise-max union, estimator branch and inclusion–exclusion."""
    w_bits = 60 - p
    m = 1 << p
    h = f"(('0x' || substr(md5('hll|' || {key_expr}), 1, 15))::BIGINT)"
    nbits = " + ".join(
        f"(CASE WHEN rest >= {1 << i} THEN 1 ELSE 0 END)"
        for i in range(w_bits)
    )
    alpha = f"(0.7213 / (1 + 1.079 / {m}))"

    def hashed(sub: str, lbl: str) -> str:
        return f"""
        SELECT '{lbl}' AS lbl, ({h} % {m}) AS bucket,
               max(({w_bits} - ({nbits})) + 1) AS r
        FROM (
            SELECT (({h} >> {p}) & {(1 << w_bits) - 1}) AS rest, {key_expr}
            FROM ({sub}) WHERE {key_expr} IS NOT NULL
        ) GROUP BY 2"""

    return f"""
    WITH ra AS MATERIALIZED ({hashed(sub_a, "a")}
    ), rb AS MATERIALIZED ({hashed(sub_b, "b")}
    ), regs AS MATERIALIZED (
        SELECT * FROM ra
        UNION ALL SELECT * FROM rb
        UNION ALL
        SELECT 'u' AS lbl, bucket, max(r) AS r
        FROM (SELECT bucket, r FROM ra UNION ALL SELECT bucket, r FROM rb)
        GROUP BY 2
    ), dense AS MATERIALIZED (
        SELECT l.lbl, gs.i AS bucket, COALESCE(regs.r, 0) AS r
        FROM (VALUES ('a'), ('b'), ('u')) AS l(lbl)
        CROSS JOIN generate_series(0, {m - 1}) AS gs(i)
        LEFT JOIN regs ON regs.lbl = l.lbl AND regs.bucket = gs.i
    ), heads AS (
        SELECT lbl, max(r) AS max_r,
               CAST(sum(CASE WHEN r = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v
        FROM dense GROUP BY 1
    ), t AS (
        SELECT dense.lbl,
               CAST(sum(1::BIGINT << (heads.max_r - dense.r)) AS BIGINT)
                   AS t_int
        FROM dense JOIN heads ON heads.lbl = dense.lbl
        GROUP BY 1
    ), ests AS (
        SELECT heads.lbl,
               CASE WHEN heads.v > 0
                     AND {alpha} * {m}::DOUBLE * {m}
                         * (1::BIGINT << heads.max_r) / t.t_int <= 2.5 * {m}
                    THEN {m} * ln({m}::DOUBLE / heads.v)
                    ELSE {alpha} * {m}::DOUBLE * {m}
                         * (1::BIGINT << heads.max_r) / t.t_int
               END AS e
        FROM heads JOIN t ON t.lbl = heads.lbl
    ), one AS (
        SELECT max(CASE WHEN lbl = 'a' THEN e END) AS ea,
               max(CASE WHEN lbl = 'b' THEN e END) AS eb,
               max(CASE WHEN lbl = 'u' THEN e END) AS eu
        FROM ests
    )
    SELECT round(ea, 2) AS est_a, round(eb, 2) AS est_b,
           round(eu, 2) AS est_union,
           round(greatest(0.0, ea + eb - eu), 2) AS est_intersection
    FROM one
    """
