"""Iterative graph analytics with exact cross-engine replay.

PageRank (Brin & Page 1998) and HITS (Kleinberg 1999) run as
Pregel-style DataFrame loops in the GraphX discipline (Malewicz et al.
2010; Gonzalez et al. 2014): the edges are partitioned by their source
once, the vertex state lives on the same node-keyed partitions, and each
iteration is one :func:`_push`. Its edge⋈state join streams the edges in
place against a hash of the state, so the one exchange per iteration is
the node-keyed aggregate of the messages: node-sized, never edge-sized,
and nothing is sorted or broadcast. The loops are built with AQE off
(``_collect._no_aqe``): AQE would report the staged frames' partitioning
as unknown and re-shuffle the edges every iteration. Built that way,
staging runs nothing, and the chain runs in the caller's action. No
adjacency ever collects to the driver. Connected components (label
propagation) lives in operators/dedup.py:connected_components; this
module adds the weighted-importance side of graph profiling.

Exact replay design (the q111 trainer pattern): ranks are INTEGER
micro-units. Per-edge contributions are ``round(rank_micro / out_deg)``
— one IEEE double division + half-away round, bit-identical in any
engine — and all sums are integer sums, immune to float fold order. The
DuckDB oracle replays the full iteration chain (every per-iteration CTE
MATERIALIZED — an inlined chain re-evaluates iteration 1 exponentially)
to bit-identical final ranks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import (
    SCALE,
    from_fixed,
    round_half_away,
    round_to,
    to_fixed,
)
from ..staging import stage
from ._collect import _no_aqe, bounded_first


def _edge_frame(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """``(src, dst)`` from the caller's columns. A column already named
    ``src`` or ``dst`` passes through unaliased: the optimizer drops an
    ``x AS x`` alias, after which a staged frame reports its partitioning
    on the dropped attribute, and no join would see it co-partitioned."""
    return edges.select(
        *(
            F.col(c) if c == name else F.col(c).alias(name)
            for c, name in ((src_col, "src"), (dst_col, "dst"))
        )
    )


def _staged_by(df: DataFrame, key: str) -> DataFrame:
    """``df`` staged ``repartition(N, key)``, N being the session's
    ``spark.sql.shuffle.partitions``: the count the node-keyed aggregate
    exchange also uses, so joining this frame with node-keyed state on
    ``key`` re-partitions neither side. Built with AQE off, the staged
    frame keeps this partitioning; under AQE it would report none."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return stage(df.repartition(n, key))


def _push(edges: DataFrame, frm: str, to: str, msg: DataFrame) -> DataFrame:
    """One co-partitioned message step: ``(node, s)`` with ``s`` the sum
    of ``msg.m`` over the edges ``frm → to``, keyed by the ``to`` end.

    ``edges`` is staged ``repartition(N, frm)`` and ``msg`` is
    node-keyed on the same N partitions, so the join streams the edges in
    place against a per-partition hash of the messages (``shuffle_hash``
    on the node side: no sort of either side) and the one exchange is the
    node-keyed aggregate's, whose reduce side is node-sized.
    """
    return (
        edges.join(
            msg.select(F.col("node").alias(frm), "m").hint("shuffle_hash"), frm
        )
        .groupBy(F.col(to).alias("node"))
        .agg(F.sum("m").alias("s"))
    )


def pagerank(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iters: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a directed edge list (dangling nodes keep their
    teleport mass; duplicate edges count once — callers pre-distinct).

    Returns ``(node, rank_micro)`` — rank in integer micro-units, summing
    to ~N·1e6.

    Cost: the edges are staged once, partitioned by source. Each
    iteration pushes ``round(r / out_deg)`` along them (:func:`_push`)
    and joins the sums onto the node frame on the same partitions, so
    its one exchange is the node-keyed aggregate: a map partition ships
    at most one row per destination node, and the edges stay put. The
    rank frame (which carries ``out_deg``) is staged every iteration to
    keep the plan short; built with AQE off, staging runs no job, so
    the call runs none and the whole chain runs in the caller's action.
    """
    teleport = int(round_half_away((1.0 - damping) * SCALE[6]))
    with _no_aqe(edges):
        e = _staged_by(_edge_frame(edges, src_col, dst_col), "src")
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
        )
        deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("out_deg"))
        base = stage(
            nodes.join(deg.hint("shuffle_hash"), nodes["node"] == deg["src"], "left")
            .select("node", F.coalesce(F.col("out_deg"), F.lit(0)).alias("out_deg"))
        )
        ranks = base.select("node", "out_deg", F.lit(SCALE[6]).cast("bigint").alias("r"))
        for _ in range(iters):
            # dangling nodes (out_deg 0) contribute nothing; excluding
            # them also keeps the division ANSI-safe
            msg = ranks.where(F.col("out_deg") > 0).select(
                "node",
                F.round(F.col("r") / F.col("out_deg"), 0).cast("bigint").alias("m"),
            )
            ranks = stage(
                base.join(_push(e, "src", "dst", msg).hint("shuffle_hash"), "node", "left")
                .select(
                    "node",
                    "out_deg",
                    (
                        F.lit(teleport)
                        + F.round(
                            F.lit(damping) * F.coalesce(F.col("s"), F.lit(0)), 0
                        ).cast("bigint")
                    ).alias("r"),
                )
            )
    return ranks.select("node", F.col("r").alias("rank_micro"))


def pagerank_sql(
    edges_subquery: str,
    src_col: str,
    dst_col: str,
    iters: int = 10,
    damping: float = 0.85,
) -> str:
    """DuckDB twin of :func:`pagerank` — replays init → ``iters``
    iterations to bit-identical micro-unit ranks. Every CTE is
    MATERIALIZED (the q111 lesson: iteration k is referenced by k+1's
    join twice — src lookup and dst scan — and an inlined chain
    re-evaluates iteration 1 exponentially)."""
    teleport = int(round_half_away((1.0 - damping) * SCALE[6]))
    ctes = [
        f"e AS MATERIALIZED (SELECT {src_col} AS src, {dst_col} AS dst"
        f" FROM ({edges_subquery}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e"
        " UNION SELECT dst FROM e)",
        "base AS MATERIALIZED (SELECT n.node,"
        " coalesce(d.out_deg, 0) AS out_deg FROM nodes n LEFT JOIN"
        " (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM e GROUP BY src) d"
        " ON n.node = d.src)",
        f"r0 AS MATERIALIZED (SELECT node, CAST({SCALE[6]} AS BIGINT) AS r"
        " FROM base)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"""r{t} AS MATERIALIZED (
        SELECT b.node,
               CAST({teleport} + CAST(round({damping} * coalesce(s.in_sum, 0), 0) AS BIGINT) AS BIGINT) AS r
        FROM base b LEFT JOIN (
            SELECT e.dst AS node,
                   CAST(sum(CAST(round(p.r / b2.out_deg, 0) AS BIGINT)) AS BIGINT) AS in_sum
            FROM e
            JOIN r{t - 1} p ON e.src = p.node
            JOIN base b2 ON e.src = b2.node
            GROUP BY e.dst
        ) s ON b.node = s.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT node, r AS rank_micro FROM r{iters}"
    )


def triangle_count(edges: DataFrame, src_col: str, dst_col: str) -> DataFrame:
    """Exact triangle count + global clustering coefficient via
    DEGREE-ORDERED orientation (Chiba–Nishizeki / the standard
    MapReduce-era trick, Suri & Vassilvitskii 2011): orient every
    undirected edge from its lower-(degree, id) endpoint to the higher,
    so each wedge is generated at its lowest-order apex — per-vertex
    out-degree is O(sqrt(m)) and the wedge join is bounded by
    sum out_deg(v)^2, not sum deg(v)^2 (the hub-explosion killer on
    power-law graphs).

    Input may contain duplicates, self-loops and both directions; it is
    canonicalized first. Returns ONE row ``(n_vertices, n_edges,
    n_wedges, n_triangles, global_clustering)`` where ``n_wedges`` is
    the unordered path-of-length-2 count (sum deg choose 2) and
    ``global_clustering = 3 * triangles / wedges`` rounded to 6.

    Shuffle budget at 100 TB: one edge DISTINCT, one vertex-keyed degree
    agg joined back twice (vertex-keyed, never broadcast — degree tables
    scale with vertices), the apex-keyed wedge self-join, and one
    (v, w)-keyed closing join against the oriented edge list.
    """
    a, b = F.col(src_col), F.col(dst_col)
    und = stage(
        edges.where(a != b)
        .select(
            F.least(a, b).alias("__a"), F.greatest(a, b).alias("__b")
        )
        .distinct()
    )
    deg = stage(
        und.select(F.col("__a").alias("__v"))
        .unionAll(und.select(F.col("__b").alias("__v")))
        .groupBy("__v")
        .agg(F.count(F.lit(1)).alias("__d"))
    )
    withdeg = (
        und.join(deg.withColumnRenamed("__v", "__a").withColumnRenamed("__d", "__da"), "__a")
        .join(deg.withColumnRenamed("__v", "__b").withColumnRenamed("__d", "__db"), "__b")
    )
    lower_first = (F.col("__da") < F.col("__db")) | (
        (F.col("__da") == F.col("__db")) & (F.col("__a") < F.col("__b"))
    )
    oriented = stage(withdeg.select(
        F.when(lower_first, F.col("__a")).otherwise(F.col("__b")).alias("u"),
        F.when(lower_first, F.col("__b")).otherwise(F.col("__a")).alias("v"),
        F.when(lower_first, F.col("__db")).otherwise(F.col("__da")).alias("dv"),
    ))
    e1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    e2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = e1.join(e2, "u").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    tri = wedges.join(
        oriented.select(
            F.col("u").alias("v1"), F.col("v").alias("v2")
        ),
        ["v1", "v2"],
    ).agg(F.count(F.lit(1)).alias("n_triangles"))
    stats = und.agg(F.count(F.lit(1)).alias("n_edges")).crossJoin(
        deg.agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.sum(
                (F.col("__d") * (F.col("__d") - 1) / 2).cast("bigint")
            ).alias("n_wedges"),
        )
    )
    return (
        stats.crossJoin(tri)
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                round_to(
                    3 * F.col("n_triangles") / F.col("n_wedges"),
                    6,
                ),
            ).otherwise(F.lit(0.0)).alias("global_clustering"),
        )
    )


def triangle_count_sql(edges_subquery: str, src_col: str, dst_col: str) -> str:
    """DuckDB twin of :func:`triangle_count` — identical canonicalization,
    orientation and joins."""
    return f"""
    WITH und AS MATERIALIZED (
        SELECT DISTINCT least({src_col}, {dst_col}) AS __a,
                        greatest({src_col}, {dst_col}) AS __b
        FROM ({edges_subquery}) WHERE {src_col} <> {dst_col}
    ), deg AS MATERIALIZED (
        SELECT __v, CAST(count(*) AS BIGINT) AS __d
        FROM (SELECT __a AS __v FROM und
              UNION ALL SELECT __b AS __v FROM und)
        GROUP BY 1
    ), oriented AS MATERIALIZED (
        SELECT CASE WHEN (da.__d, u.__a) < (db.__d, u.__b)
                    THEN u.__a ELSE u.__b END AS u,
               CASE WHEN (da.__d, u.__a) < (db.__d, u.__b)
                    THEN u.__b ELSE u.__a END AS v,
               CASE WHEN (da.__d, u.__a) < (db.__d, u.__b)
                    THEN db.__d ELSE da.__d END AS dv
        FROM und u
        JOIN deg da ON da.__v = u.__a
        JOIN deg db ON db.__v = u.__b
    ), tri AS (
        SELECT CAST(count(*) AS BIGINT) AS n_triangles
        FROM oriented e1
        JOIN oriented e2 ON e1.u = e2.u
                        AND (e1.dv, e1.v) < (e2.dv, e2.v)
        JOIN oriented e3 ON e3.u = e1.v AND e3.v = e2.v
    ), stats AS (
        SELECT (SELECT CAST(count(*) AS BIGINT) FROM und) AS n_edges,
               (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
               (SELECT CAST(sum(CAST(__d * (__d - 1) / 2 AS BIGINT))
                            AS BIGINT) FROM deg) AS n_wedges
    )
    SELECT n_vertices, n_edges, n_wedges, n_triangles,
           CASE WHEN n_wedges > 0
                THEN round(3 * n_triangles / n_wedges, 6)
                ELSE 0.0 END AS global_clustering
    FROM stats CROSS JOIN tri
    """


def degree_assortativity(
    edges: DataFrame, src_col: str, dst_col: str
) -> DataFrame:
    """Degree assortativity coefficient of an undirected graph
    (Newman 2002, PRL 89.208701): the Pearson correlation of the
    endpoint degrees over the symmetrized edge list — positive means
    hubs attach to hubs (social nets), negative means hubs attach to
    leaves (the internet / co-occurrence graphs). The structural
    diagnostic beside the triangle census (same edge frames).

    Input edges are one row per undirected edge (any orientation,
    duplicates are the caller's contract, as in :func:`triangle_count`);
    the operator symmetrizes internally so j/k are exchangeable and
    ``var_j == var_k`` by construction.

    Returns one row: ``(n_nodes, n_edges, mean_degree,
    assortativity)`` — NULL assortativity for degree-regular graphs
    (zero variance).

    Exactness: degrees and all sufficient statistics are exact
    integers (DECIMAL(38,0) sums of degree products); the correlation
    is a single IEEE chain over those identical integers; scaled-round
    outputs.

    Scale: one node-keyed degree agg, two degree joins onto the
    symmetrized edges (shuffle bounded by |E|), one scalar moment
    agg. No windows, no driver collects.
    """
    # checkpoint the caller's edge build (often an expensive co-occurrence
    # self-join) and the degree table: und feeds both union branches of
    # sym, and deg feeds three consumers (two joins + the node census) —
    # the triangle_count discipline applied here
    und = stage(edges.select(
        F.col(src_col).alias("__a"), F.col(dst_col).alias("__b")
    ))
    sym = und.unionByName(
        und.select(F.col("__b").alias("__a"), F.col("__a").alias("__b"))
    )
    deg = stage(sym.groupBy(F.col("__a").alias("__v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("__d")
    ))
    j = (
        sym.join(deg.withColumnRenamed("__v", "__a"), "__a")
        .withColumnRenamed("__d", "__dj")
        .join(
            deg.withColumnRenamed("__v", "__b").withColumnRenamed(
                "__d", "__dk"
            ),
            "__b",
        )
    )
    dj = F.col("__dj").cast("decimal(19,0)")
    dk = F.col("__dk").cast("decimal(19,0)")
    m = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("__m2"),
        F.sum(dj).cast("decimal(38,0)").alias("__sj"),
        F.sum(dj * dk).alias("__sjk"),
        F.sum(dj * dj).alias("__sjj"),
    )
    nodes = deg.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    m2 = F.col("__m2").cast("double")
    sj = F.col("__sj").cast("double")
    sjk = F.col("__sjk").cast("double")
    sjj = F.col("__sjj").cast("double")
    mu = sj / m2
    var = sjj / m2 - mu * mu
    cov = sjk / m2 - mu * mu
    r = F.when(var > 0, cov / var)
    return m.crossJoin(F.broadcast(nodes)).select(
        "n_nodes",
        (F.col("__m2") / F.lit(2)).cast("bigint").alias("n_edges"),
        round_to(
            F.col("__m2").cast("double") / F.col("n_nodes"), 6
        ).alias("mean_degree"),
        round_to(r, 6).alias(
            "assortativity"
        ),
    )


def degree_assortativity_sql(
    edges_subquery: str, src_col: str, dst_col: str
) -> str:
    """DuckDB twin of :func:`degree_assortativity` — identical
    symmetrization, integer sufficient statistics, and IEEE chain."""
    return f"""
    WITH und AS MATERIALIZED (
        SELECT {src_col} AS __a, {dst_col} AS __b FROM ({edges_subquery})
    ), sym AS MATERIALIZED (
        SELECT __a, __b FROM und
        UNION ALL SELECT __b AS __a, __a AS __b FROM und
    ), deg AS MATERIALIZED (
        SELECT __a AS __v, CAST(count(*) AS BIGINT) AS __d
        FROM sym GROUP BY 1
    ), j AS (
        SELECT CAST(da.__d AS DECIMAL(19,0)) AS __dj,
               CAST(db.__d AS DECIMAL(19,0)) AS __dk
        FROM sym s
        JOIN deg da ON da.__v = s.__a
        JOIN deg db ON db.__v = s.__b
    ), m AS (
        SELECT CAST(count(*) AS BIGINT) AS __m2,
               CAST(sum(__dj) AS DECIMAL(38,0)) AS __sj,
               CAST(sum(__dj * __dk) AS DECIMAL(38,0)) AS __sjk,
               CAST(sum(__dj * __dj) AS DECIMAL(38,0)) AS __sjj
        FROM j
    ), nodes AS (
        SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM deg
    )
    SELECT n_nodes,
           CAST(__m2 / 2 AS BIGINT) AS n_edges,
           round(CAST(__m2 AS DOUBLE) / CAST(n_nodes AS DOUBLE) * 1e6,
                 0) / 1e6 AS mean_degree,
           round(CASE WHEN CAST(__sjj AS DOUBLE) / CAST(__m2 AS DOUBLE)
                       - (CAST(__sj AS DOUBLE) / CAST(__m2 AS DOUBLE))
                         * (CAST(__sj AS DOUBLE) / CAST(__m2 AS DOUBLE))
                       > 0
                 THEN (CAST(__sjk AS DOUBLE) / CAST(__m2 AS DOUBLE)
                       - (CAST(__sj AS DOUBLE) / CAST(__m2 AS DOUBLE))
                         * (CAST(__sj AS DOUBLE) / CAST(__m2 AS DOUBLE)))
                      / (CAST(__sjj AS DOUBLE) / CAST(__m2 AS DOUBLE)
                       - (CAST(__sj AS DOUBLE) / CAST(__m2 AS DOUBLE))
                         * (CAST(__sj AS DOUBLE) / CAST(__m2 AS DOUBLE)))
                 END * 1e6, 0) / 1e6 AS assortativity
    FROM m CROSS JOIN nodes
    """


def k_core(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    k: int,
    rounds: int = 12,
) -> DataFrame:
    """k-core of an undirected graph via ``rounds`` SYNCHRONOUS peeling
    rounds (Seidman 1983; Batagelj-Zaversnik is its sequential-peel
    sibling): each round drops every vertex whose degree in the
    surviving subgraph is < k, all at once. The result equals the
    exact k-core whenever the peel reaches its fixpoint within
    ``rounds`` (tests assert convergence at the test scale factors);
    with a fixed round count the DuckDB oracle replays the identical
    computation, converged or not.

    Scale design: each round is one degree aggregation (shuffle
    bounded by surviving edges) + two semi-joins; lineage is cut per
    round by staging the edge frame. No driver collect; the peel chain
    depth, not edge count, bounds the round cost. Unlike
    :func:`pagerank`, the loop is planned with the caller's AQE setting:
    the semi-joins key the edges on both ends, so no one partitioning
    serves every round (measured no-go for an AQE-off build in
    CHANGES.md).

    Returns one row ``(k, n_core_vertices, n_core_edges)``.
    """
    a, b = F.col(src_col), F.col(dst_col)
    e = stage(
        edges.where(a != b)
        .select(
            F.least(a, b).alias("__u"), F.greatest(a, b).alias("__v")
        )
        .distinct()
    )
    for _ in range(rounds):
        deg = (
            e.select(F.col("__u").alias("__x"))
            .unionAll(e.select(F.col("__v").alias("__x")))
            .groupBy("__x")
            .agg(F.count(F.lit(1)).alias("__c"))
        )
        # keep feeds BOTH semi-joins; unstaged, each broadcast build
        # re-runs the degree agg, doubling every round (the wave-1
        # duplicate-subtree class)
        keep = stage(deg.where(F.col("__c") >= k).select("__x"))
        e = stage(
            e.join(
                keep.withColumnRenamed("__x", "__u"), "__u", "left_semi"
            )
            .join(
                keep.withColumnRenamed("__x", "__v"), "__v", "left_semi"
            )
            .select("__u", "__v")
        )
    verts = (
        e.select(F.col("__u").alias("__x"))
        .unionAll(e.select(F.col("__v").alias("__x")))
        .agg(F.count_distinct(F.col("__x")).alias("n_core_vertices"))
    )
    cnt = e.agg(F.count(F.lit(1)).alias("n_core_edges"))
    return (
        verts.crossJoin(cnt)
        .select(
            F.lit(k).cast("int").alias("k"),
            "n_core_vertices",
            "n_core_edges",
        )
    )


def k_core_sql(
    edges_subquery: str,
    src_col: str,
    dst_col: str,
    k: int,
    rounds: int = 12,
) -> str:
    """DuckDB twin of :func:`k_core` — the identical synchronous peel
    unrolled as ``rounds`` (degree, filter) CTE pairs, MATERIALIZED so
    the chain evaluates linearly (the q238 lesson)."""
    parts = [
        f"""
    e0 AS MATERIALIZED (
        SELECT DISTINCT least({src_col}, {dst_col}) AS __u,
               greatest({src_col}, {dst_col}) AS __v
        FROM ({edges_subquery}) WHERE {src_col} <> {dst_col}
    )"""
    ]
    for n in range(1, rounds + 1):
        p = n - 1
        parts.append(f"""
    d{p} AS MATERIALIZED (
        SELECT __x, CAST(count(*) AS BIGINT) AS __c
        FROM (SELECT __u AS __x FROM e{p}
              UNION ALL SELECT __v AS __x FROM e{p})
        GROUP BY 1
    )""")
        parts.append(f"""
    e{n} AS MATERIALIZED (
        SELECT e.__u, e.__v
        FROM e{p} e
        JOIN d{p} da ON da.__x = e.__u AND da.__c >= {k}
        JOIN d{p} db ON db.__x = e.__v AND db.__c >= {k}
    )""")
    last = f"e{rounds}"
    return f"""
    WITH {",".join(parts)}
    SELECT CAST({k} AS INTEGER) AS k,
           (SELECT CAST(count(DISTINCT __x) AS BIGINT)
            FROM (SELECT __u AS __x FROM {last}
                  UNION ALL SELECT __v AS __x FROM {last}))
               AS n_core_vertices,
           (SELECT CAST(count(*) AS BIGINT) FROM {last})
               AS n_core_edges
    """


def label_propagation(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    rounds: int = 6,
) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation (Raghavan
    2007) over an undirected graph: every vertex starts as its own
    label; each round it adopts the most frequent label among its
    neighbors, ties broken toward the SMALLEST label, all vertices at
    once. Fully deterministic — no random visit order — so with a
    fixed round count the DuckDB oracle replays the identical
    computation whether or not the propagation has converged (the
    q240 k-core contract).

    Returns the community census ``(community, n_members)`` ordered
    by size DESC then label — communities are named by their minimum
    surviving seed label.

    Scale design: one round = one edge-keyed join (labels are
    vertex-keyed, adjacency is edge-keyed — shuffle bounded by 2|E|)
    + one (vertex, label) count + one per-vertex arg-max window whose
    partition is a vertex's neighbor-label set (bounded by max
    degree, not |V|); lineage cut per round by staging the label
    frame. No driver collect. Planned with the caller's AQE setting,
    like :func:`k_core`.
    """
    from pyspark.sql import Window

    a, b = F.col(src_col), F.col(dst_col)
    e = (
        edges.where(a != b)
        .select(
            F.least(a, b).alias("__u"), F.greatest(a, b).alias("__v")
        )
        .distinct()
    )
    adj = stage(
        e.select(F.col("__u").alias("__x"), F.col("__v").alias("__y"))
        .unionAll(
            e.select(
                F.col("__v").alias("__x"), F.col("__u").alias("__y")
            )
        )
    )
    labels = adj.select("__x").distinct().select(
        "__x", F.col("__x").cast("bigint").alias("__lab")
    )
    w = Window.partitionBy("__x").orderBy(
        F.col("__cnt").desc(), F.col("__lab").asc()
    )
    for _ in range(rounds):
        votes = (
            adj.join(
                labels.select(
                    F.col("__x").alias("__y"), "__lab"
                ),
                "__y",
            )
            .groupBy("__x", "__lab")
            .agg(F.count(F.lit(1)).alias("__cnt"))
        )
        labels = stage(
            votes.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") == 1)
            .select("__x", "__lab")
        )
    return (
        labels.groupBy(F.col("__lab").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_members"))
        .orderBy(F.col("n_members").desc(), F.col("community"))
    )


def label_propagation_sql(
    edges_subquery: str,
    src_col: str,
    dst_col: str,
    rounds: int = 6,
) -> str:
    """DuckDB twin of :func:`label_propagation` — the identical
    synchronous rounds unrolled as MATERIALIZED (votes, arg-max) CTE
    pairs (the q238 lesson), same (cnt DESC, label ASC) tie rule."""
    parts = [
        f"""
    __e AS MATERIALIZED (
        SELECT DISTINCT least({src_col}, {dst_col}) AS __u,
               greatest({src_col}, {dst_col}) AS __v
        FROM ({edges_subquery}) WHERE {src_col} <> {dst_col}
    ), __adj AS MATERIALIZED (
        SELECT __u AS __x, __v AS __y FROM __e
        UNION ALL
        SELECT __v AS __x, __u AS __y FROM __e
    ), __l0 AS MATERIALIZED (
        SELECT DISTINCT __x, CAST(__x AS BIGINT) AS __lab FROM __adj
    )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        parts.append(f"""
    __c{r} AS MATERIALIZED (
        SELECT a.__x, l.__lab, CAST(count(*) AS BIGINT) AS __cnt
        FROM __adj a JOIN __l{p} l ON l.__x = a.__y
        GROUP BY 1, 2
    ), __l{r} AS MATERIALIZED (
        SELECT __x, __lab FROM (
            SELECT __x, __lab,
                   row_number() OVER (PARTITION BY __x
                       ORDER BY __cnt DESC, __lab ASC) AS __rn
            FROM __c{r}
        ) WHERE __rn = 1
    )""")
    return f"""
    WITH {",".join(parts)}
    SELECT __lab AS community,
           CAST(count(*) AS BIGINT) AS n_members
    FROM __l{rounds}
    GROUP BY 1
    ORDER BY n_members DESC, community
    """


def adamic_adar(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    top_k: int = 50,
    max_apex_degree: int = 10_000,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003; the standard
    common-neighbor score of Liben-Nowell & Kleinberg 2003) — the
    missing-edge recommender over any co-occurrence graph, beside the
    structure censuses (triangles, k-core, communities):

        score(x, y) = sum_{z in N(x) ∩ N(y)} 1 / ln(deg z)

    for NON-adjacent pairs x < y, ranked by score. Rare shared
    neighbors count more than hubs — the whole point vs a raw
    common-neighbor count (also returned).

    Scale design: wedges generate at their APEX z (the common
    neighbor), so the join is bounded by sum deg(z)^2 — the hub axis.
    Apexes with degree above ``max_apex_degree`` are EXCLUDED
    (documented cap, not a silent truncation: a hub's per-wedge
    contribution 1/ln(deg) is the score's smallest term, and the cap
    is what makes the operator safe on power-law graphs; set it to the
    graph's max degree to disable). Already-adjacent pairs drop via
    one anti-join against the canonical edge list; top-k is
    TakeOrderedAndProject.

    Exactness: per-apex terms ``1/ln(deg)`` nano-round to BIGINT
    before the per-pair sum (one rounding per wedge — fold-order-free
    exact integers), final score /1e9 rounded 6; ties rank by
    (x, y).

    Returns ``(x, y, common_neighbors, score)``.
    """
    a, b = F.col(src_col), F.col(dst_col)
    und = stage(
        edges.where(a != b)
        .select(
            F.least(a, b).alias("__a"), F.greatest(a, b).alias("__b")
        )
        .distinct()
    )
    nbrs = und.select(
        F.col("__a").alias("__z"), F.col("__b").alias("__n")
    ).unionAll(
        und.select(F.col("__b").alias("__z"), F.col("__a").alias("__n"))
    )
    deg = stage(nbrs.groupBy("__z").agg(
        F.count(F.lit(1)).alias("__d")
    ))
    # the wedge-input frame feeds BOTH sides of the apex self-join —
    # checkpoint it so the nbrs x deg join runs once, not twice
    apex = stage(
        nbrs.join(
            deg.where(
                (F.col("__d") >= 2)
                & (F.col("__d") <= F.lit(max_apex_degree))
            ),
            "__z",
        )
        .select(
            "__z",
            "__n",
            to_fixed(
                F.lit(1.0) / F.log(F.col("__d").cast("double")), 9
            ).alias("__t"),
        )
    )
    left = apex.select("__z", F.col("__n").alias("__x"), "__t")
    right = apex.select("__z", F.col("__n").alias("__y"))
    pairs = (
        left.join(right, "__z")
        .where(F.col("__x") < F.col("__y"))
        .groupBy("__x", "__y")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("common_neighbors"),
            F.sum("__t").cast("bigint").alias("__s"),
        )
    )
    non_adj = pairs.join(
        und.select(
            F.col("__a").alias("__x"), F.col("__b").alias("__y")
        ),
        ["__x", "__y"],
        "left_anti",
    )
    return (
        non_adj.select(
            F.col("__x").alias("x"),
            F.col("__y").alias("y"),
            "common_neighbors",
            round_to(from_fixed(F.col("__s"), 9), 6).alias(
                "score"
            ),
        )
        .orderBy(F.col("score").desc(), "x", "y")
        .limit(top_k)
    )


def adamic_adar_sql(
    edges_subquery: str,
    src_col: str,
    dst_col: str,
    top_k: int = 50,
    max_apex_degree: int = 10_000,
) -> str:
    """DuckDB twin of :func:`adamic_adar` — identical
    canonicalization, apex cap, nano-rounded terms and tie order."""
    return f"""
    WITH __und AS MATERIALIZED (
        SELECT DISTINCT least({src_col}, {dst_col}) AS __a,
                        greatest({src_col}, {dst_col}) AS __b
        FROM ({edges_subquery}) WHERE {src_col} <> {dst_col}
    ), __nbrs AS MATERIALIZED (
        SELECT __a AS __z, __b AS __n FROM __und
        UNION ALL
        SELECT __b, __a FROM __und
    ), __deg AS (
        SELECT __z, CAST(count(*) AS BIGINT) AS __d
        FROM __nbrs GROUP BY 1
    ), __apex AS MATERIALIZED (
        SELECT n.__z, n.__n,
               CAST(round(1.0 / ln(CAST(d.__d AS DOUBLE)) * 1e9, 0)
                    AS BIGINT) AS __t
        FROM __nbrs n JOIN __deg d ON d.__z = n.__z
        WHERE d.__d >= 2 AND d.__d <= {max_apex_degree}
    ), __pairs AS (
        SELECT l.__n AS __x, r.__n AS __y,
               CAST(count(*) AS BIGINT) AS common_neighbors,
               CAST(sum(l.__t) AS BIGINT) AS __s
        FROM __apex l JOIN __apex r ON l.__z = r.__z AND l.__n < r.__n
        GROUP BY 1, 2
    )
    SELECT p.__x AS x, p.__y AS y, p.common_neighbors,
           round(CAST(p.__s AS DOUBLE) / 1e9, 6) AS score
    FROM __pairs p
    ANTI JOIN __und u ON u.__a = p.__x AND u.__b = p.__y
    ORDER BY score DESC, x, y
    LIMIT {top_k}
    """


def hits(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    iters: int = 6,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999) over a DIRECTED edge
    list — the bipartite-flavored companion of :func:`pagerank`: a good
    HUB points at good authorities, a good AUTHORITY is pointed at by
    good hubs. Duplicate edges count once — callers pre-distinct.

    Arithmetic: scores live in integer micro-units; each half-iteration
    is one :func:`_push` then a MAX-normalization (max-norm is a standard
    HITS scaling — any positive rescale leaves the fixed point's
    direction unchanged): ``round(raw * 1e6 / max_raw)`` — a single IEEE
    multiply+divide+round per node, the q117 exact-replay recipe, so the
    DuckDB twin reproduces every score bit-for-bit.

    Cost: the edges are staged twice, once partitioned by source (the
    authority half pushes along them) and once by destination (the hub
    half), and every node-keyed frame is staged on the same partitions,
    so a half-iteration's one exchange is the node-keyed aggregate and
    the edges stay put. The loop is built with AQE off, like
    :func:`pagerank`; its one Spark job per half-iteration reads the
    ``max_raw`` scalar on the driver, and the rest of the chain runs in
    the caller's action.

    Returns ``(node, hub_micro, auth_micro)`` for every node.
    """
    with _no_aqe(edges):
        by_src = _staged_by(_edge_frame(edges, src_col, dst_col), "src")
        by_dst = _staged_by(by_src, "dst")
        nodes = stage(
            by_src.select(F.col("src").alias("node"))
            .unionByName(by_src.select(F.col("dst").alias("node")))
            .distinct()
        )

        def scaled(raw: DataFrame) -> DataFrame:
            # the staged raw sums feed both the max read and the scaled
            # frame, so the push runs once
            raw = stage(raw)
            mx = bounded_first(raw.agg(F.max("s").alias("mx")))["mx"]
            return stage(
                nodes.join(raw.hint("shuffle_hash"), "node", "left").select(
                    "node",
                    F.coalesce(
                        F.round(F.col("s") * F.lit(1e6) / F.lit(mx), 0).cast("bigint"),
                        F.lit(0),
                    ).alias("m"),
                )
            )

        h = nodes.select("node", F.lit(SCALE[6]).cast("bigint").alias("m"))
        a = nodes.select("node", F.lit(0).cast("bigint").alias("m"))
        for _ in range(iters):
            a = scaled(_push(by_src, "src", "dst", h))
            h = scaled(_push(by_dst, "dst", "src", a))
    return h.select("node", F.col("m").alias("hub_micro")).join(
        a.select("node", F.col("m").alias("auth_micro")).hint("shuffle_hash"), "node"
    )


def hits_sql(
    edges_subquery: str, src_col: str, dst_col: str, iters: int = 6
) -> str:
    """DuckDB twin of :func:`hits` — unrolled MATERIALIZED CTEs per
    half-iteration (the q111/pagerank lesson), identical
    multiply/divide/round expression text."""
    ctes = [
        f"e AS MATERIALIZED (SELECT {src_col} AS src, {dst_col} AS dst"
        f" FROM ({edges_subquery}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e"
        " UNION SELECT dst FROM e)",
        f"h0 AS MATERIALIZED (SELECT node, CAST({SCALE[6]} AS BIGINT) AS h"
        " FROM nodes)",
    ]
    for t in range(1, iters + 1):
        ctes.append(
            f"""araw{t} AS MATERIALIZED (
        SELECT e.dst AS node, CAST(sum(p.h) AS BIGINT) AS raw
        FROM e JOIN h{t - 1} p ON e.src = p.node GROUP BY e.dst
    )"""
        )
        ctes.append(
            f"""a{t} AS MATERIALIZED (
        SELECT n.node,
               coalesce(CAST(round(r.raw * 1000000.0
                                   / (SELECT max(raw) FROM araw{t}), 0)
                             AS BIGINT), 0) AS a
        FROM nodes n LEFT JOIN araw{t} r ON n.node = r.node
    )"""
        )
        ctes.append(
            f"""hraw{t} AS MATERIALIZED (
        SELECT e.src AS node, CAST(sum(p.a) AS BIGINT) AS raw
        FROM e JOIN a{t} p ON e.dst = p.node GROUP BY e.src
    )"""
        )
        ctes.append(
            f"""h{t} AS MATERIALIZED (
        SELECT n.node,
               coalesce(CAST(round(r.raw * 1000000.0
                                   / (SELECT max(raw) FROM hraw{t}), 0)
                             AS BIGINT), 0) AS h
        FROM nodes n LEFT JOIN hraw{t} r ON n.node = r.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT h.node, h.h AS hub_micro, a.a AS auth_micro
    FROM h{iters} h JOIN a{iters} a ON h.node = a.node"""
    )
