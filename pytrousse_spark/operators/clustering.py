"""Embedding clustering: Lloyd's k-means and SemDeDup-style semantic dedup.

Beyond-reference LLM-pipeline operators (the reference has no vector
surface; cf. BASELINE.json north star).  Both engines replay identical
math so the DuckDB oracle hash-matches:

- init is deterministic — the ``k`` corpus rows with smallest portable
  hash of their id (same coarse-quantizer trick as ``similarity.ivf_topk``;
  no RNG to replay),
- distances are index-ordered double folds (``functions.vectors`` rules),
  rounded to 6 with ties broken by ascending cluster index,
- updated centroid components are per-(cluster, position) averages rounded
  to 6 BEFORE the next assignment, so both engines feed iteration *t+1*
  the exact same literals.

Scale shape (100 TB): per iteration the vectors NEVER shuffle — assignment
is a map-side expression against k broadcast centroid literals, and the
update shuffles only hash-agg partials of (cluster, position) pairs
(k·dim rows per map partition after map-side combine).  The only
driver-side collect is the k·dim centroid matrix per iteration — Spark
MLlib's own KMeans makes the same reduce-to-driver trade.  ``iters`` is a
small constant, not data-dependent.

Semantic dedup follows SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
cluster the embeddings, compare pairs ONLY within a cluster, and drop all
but the lowest id of any pair with cosine >= tau.  The pairwise stage is
quadratic only within a cell — at real scale k grows with n (cells ≈ √n,
as for IVF) so cells stay bounded and the cell-keyed self-join is the only
shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import h60, h60_sql
from ..functions.rounding import from_fixed, round_half_away, round_to, to_fixed
from ..functions.vectors import cosine, cosine_sql, lit_doubles
from ..io import rebalance_undersplit
from ..staging import stage


# ---------------------------------------------------------------------------
# distance expressions (index-ordered folds; see functions/vectors.py)
# ---------------------------------------------------------------------------
def _sqdist(vec_col: str, cent: list[float]) -> Column:
    """Σ (v[i] − c[i])² in double precision, index order, vs a literal."""
    lit = lit_doubles(cent)
    return F.aggregate(
        F.zip_with(
            F.col(vec_col),
            lit,
            lambda x, p: (x.cast("double") - p) * (x.cast("double") - p),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _sqdist_sql(a: str, b: str, dim: int) -> str:
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))))"
    )


def _assign_expr(vec_col: str, cents: list[list[float]]) -> Column:
    """struct(dist, cluster) of the nearest centroid — array_sort of
    struct(round(dist,6), idx): ascending struct order = dist asc, idx asc.
    Pure map-side; k folds per row, no shuffle."""
    items = [
        F.struct(
            round_to(_sqdist(vec_col, cv), 6).alias("d"),
            F.lit(i + 1).alias("cluster"),
        )
        for i, cv in enumerate(cents)
    ]
    return F.array_sort(F.array(*items))[0]


# ---------------------------------------------------------------------------
# k-means
# ---------------------------------------------------------------------------
def _init_centroids(
    df: DataFrame, id_col: str, vec_col: str, k: int
) -> list[list[float]]:
    """Deterministic seed: the k rows with smallest (h60(id), id) — both
    engines recompute the same pick; components rounded like every later
    iteration so iteration 1 sees identical literals."""
    from ._collect import bounded_collect

    rows = bounded_collect(
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            h60(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "id")
        .limit(k)
    )
    return [[round_half_away(float(x), 6) for x in r["v"]] for r in rows]


def kmeans_fit(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> list[list[float]]:
    """Run ``iters`` Lloyd iterations; return the final centroid matrix
    (k lists of rounded doubles).  A cluster that captures no rows keeps
    its previous centroid (classic empty-cell rule, mirrored in the SQL
    twin via a left join back to the prior centroids).

    The trained matrix is memoized per (application, semantic input
    plan, id/vec/k/iters) — the ``__spark_entry__._pq_books``
    trained-artifact discipline with stricter keying
    (``semanticHash`` + ``sameSemantics``, see ``_probe``): training is
    a pure deterministic function of the input frame, so consumers of
    the same fit (the kmeans readout, cluster quality, cluster-cap,
    SemDeDup) share one ~(2·iters+1)-job training chain per session
    instead of re-running it each. Within one application a
    semantically identical plan reads identical data — the same
    invariant the per-session table cache already relies on.
    """
    from ._probe import cached_probe

    return cached_probe(
        "kmeans_cents",
        (df,),
        (id_col, vec_col, k, iters),
        lambda: _kmeans_fit_uncached(df, id_col, vec_col, k, iters),
    )


def _kmeans_fit_uncached(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    iters: int,
) -> list[list[float]]:
    # the k x d assignment fold re-runs over the source every Lloyd
    # iteration; a single-row-group bench input serializes it on one
    # core (no-op at real scale)
    src = rebalance_undersplit(df.where(F.col(vec_col).isNotNull()))
    cents = _init_centroids(src, id_col, vec_col, k)
    for _ in range(iters):
        assigned = src.select(
            _assign_expr(vec_col, cents)["cluster"].alias("cluster"),
            F.col(vec_col).alias("v"),
        )
        # update: hash-agg partials shuffle only (cluster, pos) pairs
        from ._collect import bounded_collect

        rows = bounded_collect(
            assigned.select("cluster", F.posexplode("v").alias("pos", "x"))
            .groupBy("cluster", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in rows:
            by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        nxt = []
        for i, prev in enumerate(cents):
            got = by_cluster.get(i + 1)
            if got is None:
                nxt.append(prev)  # empty cell keeps its centroid
            else:
                nxt.append(
                    [round_half_away(got[p], 6) for p in range(len(prev))]
                )
        cents = nxt
    return cents


def kmeans(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """(id, cluster, dist) after ``iters`` Lloyd iterations.  ``dist`` is
    the rounded squared Euclidean distance to the final centroid."""
    cents = kmeans_fit(df, id_col, vec_col, k, iters)
    a = _assign_expr(vec_col, cents)
    return (
        df.where(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            a["cluster"].alias("cluster"),
            a["d"].alias("dist"),
        )
    )


def _assign_sql(
    corpus: str, cent_cte: str, dim: int, id_col: str, vec_col: str
) -> str:
    """SELECT producing (rid, cluster) of nearest centroid from a CTE with
    columns (cidx, cv)."""
    d = _sqdist_sql(f"e.{vec_col}", "c.cv", dim)
    return f"""
      SELECT rid, cidx AS cluster, d FROM (
        SELECT e.{id_col} AS rid, c.cidx, round({d}, 6) AS d,
               row_number() OVER (
                 PARTITION BY e.{id_col}
                 ORDER BY round({d}, 6), c.cidx
               ) AS rn
        FROM {corpus} e CROSS JOIN {cent_cte} c
        WHERE e.{vec_col} IS NOT NULL
      ) WHERE rn = 1
    """


def kmeans_cent_ctes(
    corpus: str,
    k: int,
    dim: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    prefix: str = "",
) -> tuple[list[str], str]:
    """The unrolled (init, assign, update) CTE chain that materializes the
    final centroid table. Returns (cte_strings, final_cent_cte_name) with
    columns (cidx, cv); ``prefix`` namespaces the CTEs so several chains
    (e.g. one per PQ subspace) compose in one WITH."""
    h = h60_sql(f"CAST({id_col} AS VARCHAR)")
    parts = [
        f"""{prefix}cent0 AS (
      SELECT row_number() OVER (ORDER BY {h}, {id_col}) AS cidx,
             list_transform({vec_col}, x -> round(CAST(x AS DOUBLE), 6)) AS cv
      FROM {corpus} WHERE {vec_col} IS NOT NULL
      ORDER BY {h}, {id_col} LIMIT {k}
    )"""
    ]
    for t in range(iters):
        parts.append(
            f"""{prefix}assign{t} AS (
      {_assign_sql(corpus, f'{prefix}cent{t}', dim, id_col, vec_col)}
    )"""
        )
        # per-(cluster, position) mean, rounded; empty cells keep cent{t}
        parts.append(
            f"""{prefix}mean{t} AS (
      SELECT a.cluster, u.ord,
             round(avg(CAST(e.{vec_col}[u.ord] AS DOUBLE)), 6) AS m
      FROM {prefix}assign{t} a
      JOIN {corpus} e ON e.{id_col} = a.rid,
      range(1, {dim + 1}) AS u(ord)
      GROUP BY a.cluster, u.ord
    ), {prefix}cent{t + 1} AS (
      SELECT p.cidx,
             coalesce(
               (SELECT array_agg(m.m ORDER BY m.ord) FROM {prefix}mean{t} m
                WHERE m.cluster = p.cidx),
               p.cv
             ) AS cv
      FROM {prefix}cent{t} p
    )"""
        )
    return parts, f"{prefix}cent{iters}"


def kmeans_sql(
    corpus: str,
    k: int,
    dim: int,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`kmeans`: the iteration loop unrolled into
    ``iters`` (assign, update) CTE pairs replaying the identical fold
    order, rounding, and empty-cell rule."""
    parts, final_cent = kmeans_cent_ctes(corpus, k, dim, iters, id_col, vec_col)
    final = _assign_sql(corpus, final_cent, dim, id_col, vec_col)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT rid AS {id_col}, CAST(cluster AS INT) AS cluster, d AS dist
    FROM ({final})
    """
    )


# ---------------------------------------------------------------------------
# SemDeDup: within-cluster cosine prune
# ---------------------------------------------------------------------------
def semantic_dedup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    tau: float = 0.95,
) -> DataFrame:
    """(id_a, id_b, cluster, cos) for every within-cluster pair with
    cosine >= tau (id_a < id_b).  Vectors ride along the cluster-keyed
    self-join (the only shuffle); cross-cluster pairs are never formed —
    that is SemDeDup's whole trade: recall bounded by the clustering,
    cost bounded by the cell size."""
    from ..functions.vectors import dot, norm

    assigned = kmeans(df, id_col, vec_col, k, iters).select(
        F.col(id_col).alias("id"), "cluster"
    )
    vecs = df.where(F.col(vec_col).isNotNull()).select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v")
    )
    # norms staged ONCE per row below the join: cos(a,b) = dot/(na*nb)
    # evaluates the same doubles, but the two norm folds run n times
    # instead of once per PAIR (3x fewer array folds in the pair stage)
    side = assigned.join(vecs, "id").withColumn("nv", norm(F.col("v")))
    # salt the cell-keyed self-join: with small k the plain cluster join
    # has only k reduce keys, serializing the quadratic pair stage onto k
    # tasks (measured 18s at sf0.1 with k=8). Side b derives a salt from
    # its id map-side; side a replicates across all salts — join keys go
    # k -> k*S while every (a, b) pair still meets exactly once. Harmless
    # at real scale (k grows as sqrt(n)), decisive at small k.
    nsalt = df.sparkSession.sparkContext.defaultParallelism
    a = side.select(
        F.col("id").alias("id_a"),
        F.col("cluster"),
        F.col("v").alias("va"),
        F.col("nv").alias("na"),
        F.explode(F.sequence(F.lit(0), F.lit(nsalt - 1))).alias("__salt"),
    )
    b = side.select(
        F.col("id").alias("id_b"),
        F.col("cluster").alias("cluster_b"),
        F.col("v").alias("vb"),
        F.col("nv").alias("nb"),
        F.pmod(F.xxhash64("id"), F.lit(nsalt)).cast("int").alias("__salt_b"),
    )
    cos = F.when(
        (F.col("na") > 0) & (F.col("nb") > 0),
        dot(F.col("va"), F.col("vb")) / (F.col("na") * F.col("nb")),
    )
    return (
        a.join(
            b,
            (F.col("cluster") == F.col("cluster_b"))
            & (F.col("__salt") == F.col("__salt_b"))
            & (F.col("id_a") < F.col("id_b")),
        )
        .withColumn("cos", round_to(cos, 6))
        .where(F.col("cos") >= tau)
        .select("id_a", "id_b", "cluster", "cos")
    )


def semantic_dedup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    tau: float = 0.95,
) -> DataFrame:
    """Survivors: drop every id that appears as the GREATER side of a
    qualifying pair (keep-lowest-id rule, matching ``dedup.near_dedup``)."""
    pairs = semantic_dedup_pairs(df, id_col, vec_col, k, iters, tau)
    dropped = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(dropped, id_col, "left_anti")


def semantic_dedup_pairs_sql(
    corpus: str,
    k: int,
    dim: int,
    iters: int = 2,
    tau: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    km = kmeans_sql(corpus, k, dim, iters, id_col, vec_col)
    cos = cosine_sql(f"x.{vec_col}", f"y.{vec_col}", dim)
    return f"""
    WITH km AS ({km})
    SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
           CAST(a.cluster AS INT) AS cluster, round({cos}, 6) AS cos
    FROM km a
    JOIN km b ON a.cluster = b.cluster AND a.{id_col} < b.{id_col}
    JOIN {corpus} x ON x.{id_col} = a.{id_col}
    JOIN {corpus} y ON y.{id_col} = b.{id_col}
    WHERE round({cos}, 6) >= {tau}
    """


def cluster_cap_sample(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
    cap: int = 40,
) -> DataFrame:
    """Cluster-balanced corpus diversification — the cluster-then-cap step
    of SemDeDup/DataComp-style pipelines (Abbas et al. 2023; Gadre et al.
    2023, both public papers): k-means cells over the embedding space, then
    keep at most ``cap`` vectors per cell, chosen by salted id hash (ties
    by id). Caps over-dense regions (near-duplicate template clusters)
    while leaving sparse regions untouched.

    Scale: assignment is a map-side expression against broadcast centroid
    literals (vectors never shuffle to be assigned); the cap is one window
    shuffle keyed by cluster — bounded at ``k`` keys, and each group's
    window only ranks ids, never vectors.
    """
    from .sampling import hash_topk_per_group

    assigned = kmeans(df, id_col, vec_col, k, iters)
    return hash_topk_per_group(assigned, ["cluster"], cap, id_col)


def cluster_cap_sample_sql(
    corpus: str,
    k: int,
    dim: int,
    iters: int = 2,
    cap: int = 40,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`cluster_cap_sample`."""
    from .sampling import hash_topk_per_group_sql

    inner = kmeans_sql(corpus, k, dim, iters, id_col, vec_col)
    return hash_topk_per_group_sql(f"({inner})", ["cluster"], cap, id_col)


def cluster_quality(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iters: int = 2,
) -> DataFrame:
    """Internal cluster-validity readout for the q78 k-means fit:
    SIMPLIFIED silhouette (Hruschka 2004 — centroid distances instead
    of the O(n^2) pairwise mean, the standard large-n form) and the
    Davies-Bouldin index (Davies & Bouldin 1979):

        s_i  = (b_i - a_i) / max(a_i, b_i)
               a_i = dist to own centroid, b_i = dist to nearest other
        DB   = mean_i max_{j != i} (S_i + S_j) / M_ij
               S_i = mean intra distance, M_ij = centroid distance

    Returns one row per OCCUPIED cluster: ``(cluster, n,
    mean_silhouette, intra_dist, silhouette, db_index)`` — the last
    two are the corpus-level readouts repeated per row.

    Exactness: per-point centroid distances reuse the q78 rounding
    contract (round-6 sqdist, (d, cidx) ordering); per-point s_i and
    a_i are micro-unit-rounded BIGINT before any group mean, so every
    aggregate is an integer fold; centroid-pair distances M_ij are
    Python-computed literals injected as IDENTICAL text into both
    engines (the centroids themselves are round-6 literals, q78).

    Scale: one pass over points (scalar k-way distance expression —
    no join, centroids are literals), one cluster-keyed agg, then all
    silhouette/DB assembly on the k-row frame.
    """
    cents = kmeans_fit(df, id_col, vec_col, k, iters)
    dim = len(cents[0])
    structs = [
        F.struct(
            round_to(_sqdist(vec_col, c), 6).alias("d"),
            F.lit(i + 1).alias("cidx"),
        )
        for i, c in enumerate(cents)
    ]
    arr = F.array_sort(F.array(*structs))
    pts = rebalance_undersplit(df.where(F.col(vec_col).isNotNull())).select(
        arr[0]["cidx"].alias("cluster"),
        F.sqrt(arr[0]["d"]).alias("__a"),
        F.sqrt(arr[1]["d"]).alias("__b"),
    )
    s = F.when(
        F.greatest(F.col("__b"), F.col("__a")) > 0,
        (F.col("__b") - F.col("__a"))
        / F.greatest(F.col("__b"), F.col("__a")),
    ).otherwise(F.lit(0.0))
    staged = pts.select(
        "cluster",
        to_fixed(s, 6).alias("__sm"),
        to_fixed(F.col("__a"), 6).alias("__am"),
    )
    # the k-row frame feeds the sj broadcast, the rij main side and the
    # final join — checkpoint it so the full-corpus distance pass runs
    # once, not once per consumer
    per = stage(staged.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("__sm").cast("bigint").alias("__ssm"),
        F.sum("__am").cast("bigint").alias("__sam"),
    ))
    # centroid-pair distances computed IN-ENGINE with the same
    # _sqdist fold the per-point distances use (proven fold-equal to
    # the twin's list_sum by the q78 gate), then the knife-edge-safe
    # scaled round — never a Python-side float chain
    pair_rows = [
        (i + 1, j + 1, cents[i], cents[j])
        for i in range(k)
        for j in range(k)
        if i != j
    ]
    mdf = df.sparkSession.createDataFrame(
        pair_rows, ["__ci", "__cj", "__cvi", "__cvj"]
    ).select(
        "__ci",
        "__cj",
        round_to(
            F.sqrt(
                F.aggregate(
                    F.zip_with(
                        F.col("__cvi"),
                        F.col("__cvj"),
                        lambda x, p: (x.cast("double") - p.cast("double"))
                        * (x.cast("double") - p.cast("double")),
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
            ),
            6,
        ).alias("__m"),
    )
    sj = per.select(
        F.col("cluster").alias("__cj2"),
        (
            F.col("__sam").cast("double")
            / F.col("n").cast("double")
            / F.lit(1e6)
        ).alias("__sj"),
    )
    rij = (
        per.select(
            "cluster",
            (
                F.col("__sam").cast("double")
                / F.col("n").cast("double")
                / F.lit(1e6)
            ).alias("__si"),
        )
        .join(F.broadcast(mdf), F.col("cluster") == F.col("__ci"))
        .join(F.broadcast(sj), F.col("__cj") == F.col("__cj2"))
        .where(F.col("__m") > 0)
        .groupBy("cluster")
        .agg(
            round_to(
                F.max((F.col("__si") + F.col("__sj")) / F.col("__m")),
                6,
            ).alias("__dbi")
        )
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    out = per.join(rij, "cluster", "left").select(
        "cluster",
        "n",
        round_to(
            F.col("__ssm").cast("double")
            / F.col("n").cast("double")
            / F.lit(1e6),
            6,
        ).alias("mean_silhouette"),
        round_to(
            F.col("__sam").cast("double")
            / F.col("n").cast("double")
            / F.lit(1e6),
            6,
        ).alias("intra_dist"),
        round_to(
            F.sum("__ssm").over(tot).cast("double")
            / F.sum("n").over(tot).cast("double")
            / F.lit(1e6),
            6,
        ).alias("silhouette"),
        round_to(
            from_fixed(F.avg(to_fixed(F.col("__dbi"), 6)).over(tot), 6),
            6,
        ).alias("db_index"),
    )
    return out


def cluster_quality_sql(
    corpus: str,
    k: int = 8,
    dim: int = 64,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`cluster_quality` — SELF-CONTAINED: it
    replays the q78 centroid CTE chain, derives the centroid-pair
    distances M_ij from the replayed centroids with the identical
    left-to-right sqdist fold and scaled-round (so a fit mismatch
    between engines would hash-mismatch the gate), then the (d, cidx)
    two-nearest ranking and micro-unit folds."""
    parts, final_cent = kmeans_cent_ctes(
        corpus, k, dim, iters, id_col, vec_col
    )
    dc = _sqdist_sql("i.cv", "j.cv", dim)
    d = _sqdist_sql(f"e.{vec_col}", "c.cv", dim)
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f""",
    __m AS (
        SELECT i.cidx AS __ci, j.cidx AS __cj,
               round(sqrt({dc}) * 1e6, 0) / 1e6 AS __m
        FROM {final_cent} i JOIN {final_cent} j ON i.cidx <> j.cidx
    ),
    __two AS (
        SELECT rid, cidx, d,
               row_number() OVER (PARTITION BY rid
                                  ORDER BY d, cidx) AS rn
        FROM (
            SELECT e.{id_col} AS rid, c.cidx, round({d}, 6) AS d
            FROM {corpus} e CROSS JOIN {final_cent} c
            WHERE e.{vec_col} IS NOT NULL
        )
    ), __pts AS (
        SELECT a.cidx AS cluster,
               sqrt(a.d) AS __a, sqrt(b.d) AS __b
        FROM __two a JOIN __two b
          ON a.rid = b.rid AND a.rn = 1 AND b.rn = 2
    ), __staged AS (
        SELECT cluster,
               CAST(round(CASE WHEN greatest(__b, __a) > 0 THEN
                    (__b - __a) / greatest(__b, __a)
                    ELSE CAST(0 AS DOUBLE) END * 1e6, 0) AS BIGINT)
                   AS __sm,
               CAST(round(__a * 1e6, 0) AS BIGINT) AS __am
        FROM __pts
    ), __per AS (
        SELECT cluster, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(__sm) AS BIGINT) AS __ssm,
               CAST(sum(__am) AS BIGINT) AS __sam
        FROM __staged GROUP BY 1
    ), __rij AS (
        SELECT p.cluster,
               round(max((CAST(p.__sam AS DOUBLE)
                          / CAST(p.n AS DOUBLE) / 1e6
                          + CAST(q.__sam AS DOUBLE)
                          / CAST(q.n AS DOUBLE) / 1e6) / m.__m), 6)
                   AS __dbi
        FROM __per p
        JOIN __m m ON m.__ci = p.cluster
        JOIN __per q ON q.cluster = m.__cj
        WHERE m.__m > 0
        GROUP BY 1
    )
    SELECT CAST(p.cluster AS INT) AS cluster, p.n,
           round(CAST(p.__ssm AS DOUBLE) / CAST(p.n AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS mean_silhouette,
           round(CAST(p.__sam AS DOUBLE) / CAST(p.n AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS intra_dist,
           round(CAST(CAST(sum(p.__ssm) OVER () AS BIGINT) AS DOUBLE)
                 / CAST(CAST(sum(p.n) OVER () AS BIGINT) AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS silhouette,
           round(avg(CAST(round(r.__dbi * 1e6, 0) AS BIGINT))
                     OVER ()
                 / 1e6 * 1e6, 0) / 1e6 AS db_index
    FROM __per p LEFT JOIN __rij r ON r.cluster = p.cluster
    """
    )
