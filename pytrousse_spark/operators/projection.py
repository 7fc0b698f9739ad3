"""Johnson–Lindenstrauss random projection for embedding columns.

Dimensionality reduction is the cheapest lever in a 100 TB similarity
stack: projecting ``array<float>`` embeddings from d to k ≪ d dims with a
random ±1 sign matrix preserves pairwise geometry to (1±ε) with
ε ~ sqrt(ln n / k) (Johnson & Lindenstrauss 1984; Achlioptas 2003 showed
the ±1 database-friendly variant suffices), shrinking every downstream
index — LSH signatures, IVF cells, PQ codebooks — and the shuffles that
build them by d/k.

Scale design: the sign matrix is DERIVED, not stored — entry (j, i) is
the parity of the portable 60-bit md5 hash of ``"rp|salt|j|i"`` — so
executors embed it as a nested literal and the projection is a PURE
MAP-SIDE expression (k index-ordered double folds per row, whole-stage
codegen, zero shuffles, zero Python). The DuckDB oracle replays the same
literal matrix and fold order, so projected values hash-match exactly.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import from_fixed, round_to, to_fixed
from ..functions.vectors import lit_doubles
from ..staging import stage


def _sign(salt: str, j: int, i: int) -> int:
    """±1 from the portable h60 parity (same 60-bit md5 truncation as
    functions/hashing.h60, computed driver-side — it feeds literals)."""
    h = int(hashlib.md5(f"rp|{salt}|{j}|{i}".encode()).hexdigest()[:15], 16)
    return 1 if h % 2 == 0 else -1


def rp_signs(in_dim: int, out_dim: int, salt: str = "rp") -> list[list[int]]:
    """The out_dim × in_dim ±1 matrix both engines embed as a literal."""
    return [
        [_sign(salt, j, i) for i in range(in_dim)] for j in range(out_dim)
    ]


def _fold(vec: Column, signs: list[int]) -> Column:
    """Σ signs[i]·vec[i] as an index-ordered double fold (JVM-side)."""
    s = lit_doubles(signs)
    return F.aggregate(
        F.zip_with(vec, s, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def random_project(
    df: DataFrame,
    vec_col: str,
    in_dim: int,
    out_dim: int,
    salt: str = "rp",
    out_col: str = "projected",
) -> DataFrame:
    """Append ``out_col``: the k-dim ±1 projection scaled by 1/√k (the
    scaling that makes E[‖y‖²] = ‖x‖²). Zero shuffles — safe to run
    inline in any scan."""
    signs = rp_signs(in_dim, out_dim, salt)
    scale = 1.0 / (out_dim ** 0.5)
    v = F.col(vec_col)
    return df.withColumn(
        out_col,
        F.array(*[(_fold(v, signs[j]) * F.lit(scale)) for j in range(out_dim)]),
    )


def rp_component_sql(
    vec_expr: str, signs_row: list[int], in_dim: int, out_dim: int
) -> str:
    """DuckDB twin of one projected component: identical literal sign row,
    index-ordered fold, 1/√k scaling."""
    lits = "[" + ", ".join(str(float(s)) for s in signs_row) + "]"
    return (
        f"(list_sum(list_transform(range(1, {in_dim + 1}), "
        f"i -> CAST({vec_expr}[i] AS DOUBLE) * ({lits}[i]))) "
        f"* (1.0 / sqrt({out_dim})))"
    )


def pca2(
    df: "DataFrame",
    x_col: str,
    y_col: str,
    n_bins: int = 13,
) -> "DataFrame":
    """In-engine PCA for a 2-feature block, CLOSED FORM — no driver
    eigensolver, no iteration: for a 2x2 covariance matrix the top
    eigenvalue is ``l1 = (vx+vy)/2 + sqrt(((vx-vy)/2)^2 + cxy^2)``
    and an (unnormalized) eigenvector is ``(cxy, l1 - vx)`` (the
    characteristic-polynomial root — standard linear algebra, e.g.
    Strang §6). The whole decomposition is a handful of IEEE ops over
    exact integer moments, so it is bit-reproducible across engines —
    the 2-feature case every wider PCA reduces to blockwise, and the
    pattern for 'train tiny model in-engine' beside q111's logreg.

    Returns the first-component projection summarized as a histogram:
    one row per occupied bin ``(bin, n, mean_score, ux, uy, evr)``
    where ``(ux, uy)`` is the unit first eigenvector (sign fixed:
    ux >= 0, tie uy >= 0), ``evr = l1/(vx+vy)`` the explained-variance
    ratio, ``bin = clamp(floor(score / (sd1/2)), -B, B)`` with
    ``sd1 = sqrt(l1)`` and B = (n_bins-1)/2 — a fixed grid in units of
    half principal standard deviations.

    Exactness: inputs quantize to micro-units once (the operator's
    declared contract, like every cent/micro gate); all six moments
    are DECIMAL(38,0) sums of integer products; eigen math is one IEEE
    chain; per-bin means fold nano-unit integers.

    Scale: ONE moment agg (map-side combinable) broadcast back over
    ONE pass for scoring + the bounded-grid histogram agg. Degenerate
    inputs (zero variance) produce bin 0 with the conventional (1, 0)
    loading and NULL evr.
    """
    from pyspark.sql import functions as F

    B = (n_bins - 1) // 2
    q = df.select(
        to_fixed(F.col(x_col).cast("double"), 6).alias("__x"),
        to_fixed(F.col(y_col).cast("double"), 6).alias("__y"),
    ).where(F.col("__x").isNotNull() & F.col("__y").isNotNull())
    xd = F.col("__x").cast("decimal(19,0)")
    yd = F.col("__y").cast("decimal(19,0)")
    m = q.agg(
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
    cxy = F.col("__sxy").cast("double") / n - mx * my
    disc = F.sqrt(
        ((vx - vy) / F.lit(2.0)) * ((vx - vy) / F.lit(2.0)) + cxy * cxy
    )
    l1 = (vx + vy) / F.lit(2.0) + disc
    # eigenvector: (cxy, l1 - vx); degenerate cxy == 0 -> axis-aligned
    rawx = F.when(cxy != 0, cxy).otherwise(
        F.when(vx >= vy, F.lit(1.0)).otherwise(F.lit(0.0))
    )
    rawy = F.when(cxy != 0, l1 - vx).otherwise(
        F.when(vx >= vy, F.lit(0.0)).otherwise(F.lit(1.0))
    )
    nrm = F.sqrt(rawx * rawx + rawy * rawy)
    ux0 = rawx / nrm
    uy0 = rawy / nrm
    # sign convention: ux > 0, or (ux == 0 and uy > 0)
    flip = F.when(
        (ux0 < 0) | ((ux0 == 0) & (uy0 < 0)), F.lit(-1.0)
    ).otherwise(F.lit(1.0))
    # one row; checkpoint so the moment scan cannot re-run per consumer
    stats = stage(m.select(
        "__n",
        (mx).alias("__mx"),
        (my).alias("__my"),
        (ux0 * flip).alias("__ux"),
        (uy0 * flip).alias("__uy"),
        F.when(vx + vy > 0, l1 / (vx + vy)).alias("__evr"),
        F.when(l1 > 0, F.sqrt(l1)).alias("__sd1"),
    ))
    scored = q.crossJoin(F.broadcast(stats)).select(
        F.when(
            F.col("__sd1").isNull(), F.lit(0)
        )
        .otherwise(
            F.greatest(
                F.lit(-B),
                F.least(
                    F.lit(B),
                    F.floor(
                        (
                            (F.col("__x") - F.col("__mx")) * F.col("__ux")
                            + (F.col("__y") - F.col("__my"))
                            * F.col("__uy")
                        )
                        / (F.col("__sd1") / F.lit(2.0))
                    ).cast("int"),
                ),
            )
        )
        .alias("bin"),
        to_fixed(
            from_fixed(
                (F.col("__x") - F.col("__mx")) * F.col("__ux")
                + (F.col("__y") - F.col("__my")) * F.col("__uy"),
                6,
            ),
            3,
        ).alias("__smilli"),
        "__ux",
        "__uy",
        "__evr",
    )
    return scored.groupBy("bin", "__ux", "__uy", "__evr").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        round_to(
            from_fixed(F.sum("__smilli"), 3) / F.count(F.lit(1)), 6
        ).alias("mean_score"),
    ).select(
        "bin",
        "n",
        "mean_score",
        round_to(F.col("__ux"), 6).alias("ux"),
        round_to(F.col("__uy"), 6).alias("uy"),
        round_to(F.col("__evr"), 6).alias(
            "evr"
        ),
    )


def pca2_sql(
    table_expr: str, x_col: str, y_col: str, n_bins: int = 13
) -> str:
    """DuckDB twin of :func:`pca2` — identical micro quantization,
    integer moments, closed-form eigen chain, sign fix, binning and
    milli-unit score folds."""
    b = (n_bins - 1) // 2
    return f"""
    WITH q AS MATERIALIZED (
        SELECT CAST(round(CAST({x_col} AS DOUBLE) * 1e6, 0) AS BIGINT)
                   AS __x,
               CAST(round(CAST({y_col} AS DOUBLE) * 1e6, 0) AS BIGINT)
                   AS __y
        FROM ({table_expr})
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(CAST(__x AS DECIMAL(19,0))) AS DECIMAL(38,0))
                   AS __sx,
               CAST(sum(CAST(__y AS DECIMAL(19,0))) AS DECIMAL(38,0))
                   AS __sy,
               CAST(sum(CAST(__x AS DECIMAL(19,0))
                        * CAST(__x AS DECIMAL(19,0))) AS DECIMAL(38,0))
                   AS __sxx,
               CAST(sum(CAST(__x AS DECIMAL(19,0))
                        * CAST(__y AS DECIMAL(19,0))) AS DECIMAL(38,0))
                   AS __sxy,
               CAST(sum(CAST(__y AS DECIMAL(19,0))
                        * CAST(__y AS DECIMAL(19,0))) AS DECIMAL(38,0))
                   AS __syy
        FROM q
    ), eig0 AS (
        SELECT __n,
               CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE) AS __mx,
               CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE) AS __my,
               CAST(__sxx AS DOUBLE) / CAST(__n AS DOUBLE)
                 - (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE))
                   * (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE)) AS __vx,
               CAST(__syy AS DOUBLE) / CAST(__n AS DOUBLE)
                 - (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE))
                   * (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE)) AS __vy,
               CAST(__sxy AS DOUBLE) / CAST(__n AS DOUBLE)
                 - (CAST(__sx AS DOUBLE) / CAST(__n AS DOUBLE))
                   * (CAST(__sy AS DOUBLE) / CAST(__n AS DOUBLE)) AS __cxy
        FROM m
    ), eig1 AS (
        SELECT *,
               (__vx + __vy) / CAST(2 AS DOUBLE)
               + sqrt(((__vx - __vy) / CAST(2 AS DOUBLE))
                      * ((__vx - __vy) / CAST(2 AS DOUBLE))
                      + __cxy * __cxy) AS __l1
        FROM eig0
    ), eig2 AS (
        SELECT *,
               CASE WHEN __cxy <> 0 THEN __cxy
                    WHEN __vx >= __vy THEN CAST(1 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS __rawx,
               CASE WHEN __cxy <> 0 THEN __l1 - __vx
                    WHEN __vx >= __vy THEN CAST(0 AS DOUBLE)
                    ELSE CAST(1 AS DOUBLE) END AS __rawy
        FROM eig1
    ), eig3 AS (
        SELECT *,
               __rawx / sqrt(__rawx * __rawx + __rawy * __rawy) AS __ux0,
               __rawy / sqrt(__rawx * __rawx + __rawy * __rawy) AS __uy0
        FROM eig2
    ), stats AS MATERIALIZED (
        SELECT __n, __mx, __my,
               __ux0 * (CASE WHEN __ux0 < 0
                             OR (__ux0 = 0 AND __uy0 < 0)
                             THEN CAST(-1 AS DOUBLE)
                             ELSE CAST(1 AS DOUBLE) END) AS __ux,
               __uy0 * (CASE WHEN __ux0 < 0
                             OR (__ux0 = 0 AND __uy0 < 0)
                             THEN CAST(-1 AS DOUBLE)
                             ELSE CAST(1 AS DOUBLE) END) AS __uy,
               CASE WHEN __vx + __vy > 0 THEN __l1 / (__vx + __vy) END
                   AS __evr,
               CASE WHEN __l1 > 0 THEN sqrt(__l1) END AS __sd1
        FROM eig3
    ), scored AS (
        SELECT CASE WHEN s.__sd1 IS NULL THEN 0
                    ELSE CAST(greatest(-{b}, least({b},
                        floor(((q.__x - s.__mx) * s.__ux
                               + (q.__y - s.__my) * s.__uy)
                              / (s.__sd1 / CAST(2 AS DOUBLE)))))
                        AS INT)
               END AS bin,
               CAST(round(((q.__x - s.__mx) * s.__ux
                           + (q.__y - s.__my) * s.__uy)
                          / 1e6 * 1e3, 0) AS BIGINT) AS __smilli,
               s.__ux, s.__uy, s.__evr
        FROM q CROSS JOIN stats s
    )
    SELECT bin, CAST(count(*) AS BIGINT) AS n,
           round(CAST(sum(__smilli) AS BIGINT) / 1e3 / count(*) * 1e6,
                 0) / 1e6 AS mean_score,
           round(__ux * 1e6, 0) / 1e6 AS ux,
           round(__uy * 1e6, 0) / 1e6 AS uy,
           round(__evr * 1e6, 0) / 1e6 AS evr
    FROM scored GROUP BY bin, __ux, __uy, __evr
    """
