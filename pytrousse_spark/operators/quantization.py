"""Product quantization (PQ) + asymmetric distance computation (ADC) for
embedding search at scale (Jégou, Douze & Schmid 2011 — public technique).

Why this exists next to cosine_topk / ann_topk_lsh / ivf_topk
(similarity.py): PQ attacks the MEMORY wall, not just the candidate count.
A 64-dim float32 embedding is 256 bytes; its PQ code here is S=4 small
ints. At 100 TB of embeddings the codes table is ~50x smaller than the
vectors, fits hot storage, and ADC scores pairs with S table lookups
instead of D multiplications — the standard IVF-PQ layout pairs this with
ivf_topk's cells.

Determinism/oracle design mirrors IVF (similarity.py:253): codebooks are
the C corpus rows with smallest portable hash of their id, sub-sliced per
subspace — no k-means replay; both engines recompute them exactly.
Distances fold left-to-right in double precision and are rounded to 6
decimals BEFORE every discrete decision (argmin assignment, ranking), with
index tie-breaks, so the DuckDB twin hash-matches bit-for-bit.

Scale notes:
- encode is a pure map-side expression (S*C sub-distance folds per row,
  no shuffle, no Python);
- ADC lookup tables are computed on the DRIVER (S*C entries per query —
  the classic LUT precompute) and broadcast;
- scoring shuffles only (query_id, code) pairs via a broadcast join +
  one keyed aggregation; the float subspace partials are summed in FIXED
  s-order via conditional aggregation (a bare SUM over doubles is
  order-nondeterministic and would break cross-engine hashes).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions.rounding import round_half_away, round_to
from ..functions.vectors import lit_double_matrix, lit_doubles

#: refuse to collect more query vectors than this for LUT precompute
MAX_QUERY_COLLECT = 10_000


def pq_codebooks(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    num_sub: int = 4,
    num_cent: int = 8,
    dim: int = 64,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks from the ``num_cent`` corpus rows with the
    smallest portable id-hash (deterministic; no iterative training to
    replay). Returns ``codebooks[s] = [(1-based code, subvector), ...]``.
    """
    from ..functions.hashing import h60

    if dim % num_sub:
        raise ValueError(f"dim {dim} not divisible by num_sub {num_sub}")
    sub = dim // num_sub
    rows = (
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            h60(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "id")
        .limit(num_cent)
        .collect()
    )
    books: list[list[tuple[int, list[float]]]] = []
    for s in range(num_sub):
        books.append(
            [
                (c + 1, [float(x) for x in r["v"][s * sub : (s + 1) * sub]])
                for c, r in enumerate(rows)
            ]
        )
    return books


def _sub_dist2(sub_vec: Column, cv: list[float]) -> Column:
    """Squared L2 distance, left-to-right double fold, (x-y)*(x-y) form
    (same IEEE ops as the DuckDB twin)."""
    lit = lit_doubles(cv)
    return F.aggregate(
        F.zip_with(
            sub_vec,
            lit,
            lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _nearest_code(sub_col: Column, book: list[tuple[int, list[float]]]) -> Column:
    """1-based index of the nearest codebook entry: round-6 squared L2,
    ties to the smaller code — identical math to clustering._assign_expr.

    PLAN-SIZE NOTE: the codebook is ONE nested literal array and the
    distance is ONE fold shared by all C entries via an indexed transform
    lambda. The naive per-centroid-literal expansion (C separate fold
    trees) took Catalyst ~5s of analysis/codegen per materialization at
    C=16 x 8 subspaces; this form is ~100x smaller and identical in value.
    ``sub_col`` must be a STAGED column reference (HOF lambdas re-evaluate
    embedded expressions per element).
    """
    cb_lit = lit_double_matrix([cv for _, cv in book])

    def entry(cv: Column, i: Column) -> Column:
        d2 = F.aggregate(
            F.zip_with(
                sub_col,
                cv,
                lambda x, y: (x.cast("double") - y) * (x.cast("double") - y),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        return F.struct(
            round_to(d2, 6).alias("d"), (i + 1).cast("int").alias("c")
        )

    return F.element_at(F.array_sort(F.transform(cb_lit, entry)), 1)["c"]


def pq_encode(
    df: DataFrame,
    vec_col: str,
    codebooks: list[list[tuple[int, list[float]]]],
    out_col: str = "pq_code",
) -> DataFrame:
    """Map-side PQ encoding: ``out_col`` = array of 1-based codes, one per
    subspace (argmin of round(d2, 6), ties to the smaller code)."""
    num_sub = len(codebooks)
    sub = len(codebooks[0][0][1])
    staged = df
    for s in range(num_sub):
        staged = staged.withColumn(
            f"__sub{s}", F.slice(F.col(vec_col), s * sub + 1, sub)
        )
    codes = [
        _nearest_code(F.col(f"__sub{s}"), codebooks[s]) for s in range(num_sub)
    ]
    return staged.withColumn(out_col, F.array(*codes)).drop(
        *[f"__sub{s}" for s in range(num_sub)]
    )


def pq_codebooks_kmeans(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    num_sub: int = 8,
    num_cent: int = 16,
    dim: int = 64,
    iters: int = 2,
) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace codebooks TRAINED with the deterministic Lloyd's
    k-means (clustering.kmeans_fit) on each subvector slice — the real PQ
    recipe. Same replayable math as q78's oracle: hash-picked init,
    round-6 means each iteration, empty-cell keeps its centroid; the SQL
    twin unrolls the identical chain per subspace (kmeans_cent_ctes).
    Measured on the sf0.001 embeddings: reconstruction error 1.25 → 0.57
    vs the untrained hash-pick codebooks at S=8/C=16.
    """
    from ..functions.hashing import h60

    if dim % num_sub:
        raise ValueError(f"dim {dim} not divisible by num_sub {num_sub}")
    sub = dim // num_sub
    src = corpus.where(F.col(vec_col).isNotNull())

    # init: ONE collect serves all subspaces (the same k hash-min rows,
    # sliced driver-side), rounded like every later iteration — identical
    # to clustering._init_centroids run per sliced frame
    from ._collect import bounded_collect

    seed_rows = bounded_collect(
        src.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            h60(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "id")
        .limit(num_cent)
    )
    books: list[list[list[float]]] = [
        [
            [round_half_away(float(x), 6) for x in r["v"][s * sub : (s + 1) * sub]]
            for r in seed_rows
        ]
        for s in range(num_sub)
    ]

    # Lloyd iterations, ALL subspaces batched into one job each: explode
    # each row into num_sub (s, nearest-cluster, subvector) structs, then
    # one (s, cluster, pos) mean aggregation. Assignment/mean/rounding
    # math is identical to clustering.kmeans_fit (round-6 argmin with
    # smaller-index ties, round-6 means, empty cell keeps its centroid),
    # which is what the per-subspace kmeans_cent_ctes SQL twin replays.
    for _ in range(iters):
        staged = src
        for s in range(num_sub):
            staged = staged.withColumn(
                f"__sub{s}", F.slice(F.col(vec_col), s * sub + 1, sub)
            )
        structs = []
        for s in range(num_sub):
            sv = F.col(f"__sub{s}")
            nearest = _nearest_code(
                sv, [(c + 1, cv) for c, cv in enumerate(books[s])]
            )
            structs.append(
                F.struct(
                    F.lit(s + 1).alias("s"),
                    nearest.alias("cluster"),
                    sv.alias("v"),
                )
            )
        ex = (
            staged.select(F.explode(F.array(*structs)).alias("st"))
            .select(
                F.col("st.s").alias("s"),
                F.col("st.cluster").alias("cluster"),
                F.posexplode("st.v").alias("pos", "x"),
            )
        )
        means = bounded_collect(
            ex.groupBy("s", "cluster", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
        )
        got: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            got.setdefault((r["s"], r["cluster"]), {})[r["pos"]] = r["m"]
        for s in range(num_sub):
            books[s] = [
                [
                    round_half_away(got[(s + 1, c + 1)][p], 6)
                    for p in range(sub)
                ]
                if (s + 1, c + 1) in got
                else prev
                for c, prev in enumerate(books[s])
            ]
    return [
        [(c + 1, cv) for c, cv in enumerate(books[s])] for s in range(num_sub)
    ]


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 5,
    rerank: int = 100,
) -> DataFrame:
    """PQ search: ADC candidate generation + exact re-rank.

    approximate dot(query, x) = sum_s LUT[s][code_s(x)]; the top ``rerank``
    ADC candidates per query are re-scored with the exact dot product and
    the top ``k`` survive — the standard PQ serving layout (candidate
    recall is what matters, pinned in tests). LUTs are computed driver-side
    with the same sequential double fold as the engines (S*C entries per
    query), broadcast, and joined against the exploded code table; subspace
    partials recombine in fixed s-order (a bare float SUM would be
    order-nondeterministic). Returns (query_id, neighbor_id, dot, rank<=k).
    """
    from ..functions.vectors import dot as vdot

    spark = corpus.sparkSession
    num_sub = len(codebooks)
    sub = len(codebooks[0][0][1])

    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    if len(qrows) > MAX_QUERY_COLLECT:
        raise ValueError(
            f"{len(qrows)} query vectors exceed the LUT collect guard "
            f"({MAX_QUERY_COLLECT}); batch the queries"
        )
    lut_rows = []
    for r in qrows:
        qv = [float(x) for x in r["qv"]]
        for s in range(num_sub):
            for code, cv in codebooks[s]:
                acc = 0.0
                for i in range(sub):
                    acc += qv[s * sub + i] * cv[i]
                lut_rows.append((int(r["qid"]), s + 1, code, acc))
    lut = spark.createDataFrame(lut_rows, ["qid", "s", "code", "v"])

    from ..io import rebalance_undersplit

    # PQ encode is S x C x sub multiply-adds per row — rebalance the
    # corpus so the argmin scan parallelizes (no-op at real scale)
    enc = pq_encode(rebalance_undersplit(corpus), vec_col, codebooks)
    exploded = enc.select(
        F.col(id_col).alias("rid"),
        F.posexplode("pq_code").alias("s0", "code"),
    ).withColumn("s", F.col("s0") + 1)

    partials = [
        F.sum(F.when(F.col("s") == s, F.col("v"))).alias(f"l{s}")
        for s in range(1, num_sub + 1)
    ]
    score = F.col("l1")
    for s in range(2, num_sub + 1):
        score = score + F.col(f"l{s}")
    pair = (
        exploded.join(F.broadcast(lut), ["s", "code"])
        .where(F.col("rid") != F.col("qid"))
        .groupBy("qid", "rid")
        .agg(*partials)
        .select("qid", "rid", round_to(score, 6).alias("adc_dot"))
    )
    w_adc = Window.partitionBy("qid").orderBy(F.desc("adc_dot"), F.col("rid"))
    cand = (
        pair.withColumn("arn", F.row_number().over(w_adc))
        .where(F.col("arn") <= rerank)
        .select("qid", "rid")
    )
    nb = corpus.select(F.col(id_col).alias("rid"), F.col(vec_col).alias("nv"))
    qf = queries.select(F.col(id_col).alias("qid"), F.col(vec_col).alias("qv"))
    rr = (
        cand.join(nb, "rid")
        .join(F.broadcast(qf), "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.col("rid").alias("neighbor_id"),
            round_to(vdot(F.col("qv"), F.col("nv")), 6).alias("dot"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("dot"), F.col("neighbor_id"))
    return (
        rr.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    codebooks: list[list[tuple[int, list[float]]]],
    k: int = 5,
    num_cells: int = 16,
    nprobe: int = 4,
    rerank: int = 100,
) -> DataFrame:
    """IVF-PQ: the similarity ladder's stated end state — PQ codes scored
    INSIDE IVF cells (Jégou et al. 2011's full layout; q57 x q90).

    Pipeline: corpus rows get a coarse cell (map-side argmax against
    centroid literals, similarity._cell_rank_array) AND a PQ code (map-side
    argmin encode) in one pass; queries probe their ``nprobe`` nearest
    cells; co-located candidates are scored by ADC (S broadcast-LUT lookups
    per pair instead of D multiplications); only the top ``rerank`` ADC
    candidates per query get the exact cosine, and the top ``k`` survive.

    Scale shape vs the parents: q57 exact-scores EVERY co-located candidate
    (D mults each); q90 ADC-scores the WHOLE corpus. Here the cell join
    bounds the candidate set (nprobe/num_cells of the corpus) and ADC
    bounds the exact work (rerank rows per query) — both knobs fixed, so
    scored work per query is constant as the corpus grows. The only
    shuffles are the (cell) candidate join and the (qid, rid) ADC
    aggregation; vectors ride the join exactly once for the re-rank.
    """
    from .similarity import _cell_rank_array, _ivf_centroids
    from ..functions.vectors import cosine, norm

    from ..io import rebalance_undersplit

    spark = corpus.sparkSession
    num_sub = len(codebooks)
    sub = len(codebooks[0][0][1])
    # cell-rank + PQ encode are the wide multiply-add pass — rebalance
    # the corpus so it parallelizes (no-op at real scale)
    corpus = rebalance_undersplit(corpus)
    cents = _ivf_centroids(corpus, id_col, vec_col, num_cells)

    # one map-side pass: cell assignment + PQ encode, vectors ride along
    enc = pq_encode(
        corpus.select(F.col(id_col), F.col(vec_col)), vec_col, codebooks
    )
    c_cells = (
        enc.withColumn("__n", norm(F.col(vec_col)))
        .withColumn("__ranked", _cell_rank_array(vec_col, cents))
        .select(
            F.col(id_col).alias("rid"),
            F.col(vec_col).alias("__cv"),
            F.col("__n").alias("__cn"),
            F.col("pq_code"),
            F.col("__ranked")[0]["cell"].alias("__cell"),
        )
    )
    q_cells = (
        queries.select(F.col(id_col).alias("qid"), F.col(vec_col))
        .withColumn("__n", norm(F.col(vec_col)))
        .withColumn("__ranked", _cell_rank_array(vec_col, cents))
        .select(
            "qid",
            F.explode(
                F.transform(
                    F.slice(F.col("__ranked"), 1, nprobe), lambda s: s["cell"]
                )
            ).alias("__cell"),
        )
    )

    # driver-side ADC LUTs, same sequential fold as pq_adc_topk
    qrows = queries.select(
        F.col(id_col).alias("qid"), F.col(vec_col).alias("qv")
    ).collect()
    if len(qrows) > MAX_QUERY_COLLECT:
        raise ValueError(
            f"{len(qrows)} query vectors exceed the LUT collect guard "
            f"({MAX_QUERY_COLLECT}); batch the queries"
        )
    lut_rows = []
    for r in qrows:
        qv = [float(x) for x in r["qv"]]
        for s in range(num_sub):
            for code, cv in codebooks[s]:
                acc = 0.0
                for i in range(sub):
                    acc += qv[s * sub + i] * cv[i]
                lut_rows.append((int(r["qid"]), s + 1, code, acc))
    lut = spark.createDataFrame(lut_rows, ["qid", "s", "code", "v"])

    # candidates: each corpus row lives in EXACTLY one cell, so the cell
    # join yields each (qid, rid) pair at most once — no dedup needed
    cand = (
        c_cells.join(F.broadcast(q_cells), "__cell")
        .where(F.col("qid") != F.col("rid"))
        .select("qid", "rid", "pq_code")
    )
    exploded = cand.select(
        "qid", "rid", F.posexplode("pq_code").alias("s0", "code")
    ).withColumn("s", F.col("s0") + 1)
    partials = [
        F.sum(F.when(F.col("s") == s, F.col("v"))).alias(f"l{s}")
        for s in range(1, num_sub + 1)
    ]
    score = F.col("l1")
    for s in range(2, num_sub + 1):
        score = score + F.col(f"l{s}")
    pair = (
        exploded.join(F.broadcast(lut), ["qid", "s", "code"])
        .groupBy("qid", "rid")
        .agg(*partials)
        .select("qid", "rid", round_to(score, 6).alias("adc_dot"))
    )
    w_adc = Window.partitionBy("qid").orderBy(F.desc("adc_dot"), F.col("rid"))
    adctop = (
        pair.withColumn("arn", F.row_number().over(w_adc))
        .where(F.col("arn") <= rerank)
        .select("qid", "rid")
    )

    # exact cosine re-rank (metric parity with q57's ladder)
    nb = corpus.select(
        F.col(id_col).alias("rid"),
        F.col(vec_col).alias("nv"),
        norm(F.col(vec_col)).alias("nn"),
    )
    qf = queries.select(
        F.col(id_col).alias("qid"),
        F.col(vec_col).alias("qv"),
        norm(F.col(vec_col)).alias("qn"),
    )
    cos = F.when(
        (F.col("qn") > 0) & (F.col("nn") > 0),
        cosine(F.col("qv"), F.col("nv")),
    )
    rr = (
        adctop.join(nb, "rid")
        .join(F.broadcast(qf), "qid")
        .select(
            F.col("qid").alias("query_id"),
            F.col("rid").alias("neighbor_id"),
            round_to(cos, 6).alias("cos"),
        )
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.col("neighbor_id")
    )
    return (
        rr.withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= k)
    )


def ivf_pq_topk_sql(
    corpus: str,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_sub: int = 8,
    num_cent: int = 16,
    iters: int = 2,
    num_cells: int = 16,
    nprobe: int = 4,
    rerank: int = 100,
    query_filter: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`ivf_pq_topk`: the q57 twin's centroid-pick /
    assign / probes CTEs composed with the q90 twin's kmeans-codebook /
    encode / LUT / fixed-order ADC recombination, candidate join restricted
    to co-located cells, exact cosine re-rank."""
    from ..functions.hashing import h60_sql
    from ..functions.vectors import cosine_sql
    from .clustering import kmeans_cent_ctes

    sub = dim // num_sub
    all_parts: list[str] = []
    cb_selects = []
    for s in range(1, num_sub + 1):
        lo, hi = (s - 1) * sub + 1, s * sub
        sliced = (
            f"(SELECT {id_col}, {vec_col}[{lo}:{hi}] AS sub FROM {corpus})"
        )
        parts, fin = kmeans_cent_ctes(
            sliced, num_cent, sub, iters, id_col, "sub", prefix=f"s{s}_"
        )
        all_parts.extend(parts)
        cb_selects.append(f"SELECT {s} AS s, cidx AS code, cv FROM {fin}")
    cb_union = "\n      UNION ALL ".join(cb_selects)

    h = h60_sql(f"CAST({id_col} AS VARCHAR)")
    ccos = cosine_sql(f"e.{vec_col}", "c.cv", dim)
    vcos = cosine_sql(f"q.{vec_col}", f"n.{vec_col}", dim)
    d2 = (
        f"round(list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"(CAST(e.{vec_col}[(b.s-1)*{sub}+i] AS DOUBLE) - CAST(b.cv[i] AS DOUBLE))"
        f" * (CAST(e.{vec_col}[(b.s-1)*{sub}+i] AS DOUBLE) - CAST(b.cv[i] AS DOUBLE)))), 6)"
    )
    lutv = (
        f"list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"CAST(q.{vec_col}[(b.s-1)*{sub}+i] AS DOUBLE) * CAST(b.cv[i] AS DOUBLE)))"
    )
    recomb = " + ".join(
        f"SUM(CASE WHEN l.s = {s} THEN l.v END)" for s in range(1, num_sub + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(all_parts)
        + f""", cb AS (
      {cb_union}
    ), ivfcent AS (
      SELECT {id_col} AS cid, {vec_col} AS cv,
             row_number() OVER (ORDER BY {h}, {id_col}) AS cidx
      FROM {corpus}
      ORDER BY {h}, {id_col} LIMIT {num_cells}
    ), cscore AS (
      SELECT e.{id_col} AS rid, c.cidx,
             coalesce(round({ccos}, 6), -2.0) AS s
      FROM {corpus} e CROSS JOIN ivfcent c
    ), assign AS (
      SELECT rid, cidx AS cell FROM (
        SELECT rid, cidx,
               row_number() OVER (PARTITION BY rid ORDER BY s DESC, cidx) AS rn
        FROM cscore
      ) WHERE rn = 1
    ), probes AS (
      SELECT rid AS qid, cidx AS cell FROM (
        SELECT cs.rid, cs.cidx,
               row_number() OVER (PARTITION BY cs.rid ORDER BY cs.s DESC, cs.cidx) AS rn
        FROM cscore cs JOIN {corpus} e ON e.{id_col} = cs.rid
        WHERE ({query_filter})
      ) WHERE rn <= {nprobe}
    ), enc AS (
      SELECT e.{id_col} AS rid, b.s, b.code, {d2} AS d2
      FROM {corpus} e CROSS JOIN cb b
    ), codes AS (
      SELECT rid, s, code FROM (
        SELECT rid, s, code,
               row_number() OVER (PARTITION BY rid, s ORDER BY d2, code) AS rn
        FROM enc
      ) WHERE rn = 1
    ), lut AS (
      SELECT q.{id_col} AS qid, b.s, b.code, {lutv} AS v
      FROM {corpus} q CROSS JOIN cb b
      WHERE ({query_filter})
    ), pair AS (
      SELECT p.qid, a.rid, round({recomb}, 6) AS adc_dot
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.rid <> p.qid
      JOIN codes c ON c.rid = a.rid
      JOIN lut l ON l.qid = p.qid AND l.s = c.s AND l.code = c.code
      GROUP BY p.qid, a.rid
    ), adctop AS (
      SELECT qid, rid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY adc_dot DESC, rid
        ) AS arn FROM pair
      ) WHERE arn <= {rerank}
    ), rr AS (
      SELECT a.qid AS query_id, a.rid AS neighbor_id,
             round({vcos}, 6) AS cos
      FROM adctop a
      JOIN {corpus} q ON q.{id_col} = a.qid
      JOIN {corpus} n ON n.{id_col} = a.rid
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id
      ) AS rank
      FROM rr WHERE cos IS NOT NULL
    ) WHERE rank <= {k}
    """
    )


def pq_adc_topk_sql(
    corpus: str,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_sub: int = 8,
    num_cent: int = 16,
    iters: int = 2,
    rerank: int = 100,
    query_filter: str = "TRUE",
) -> str:
    """DuckDB twin: per-subspace k-means chains (clustering.
    kmeans_cent_ctes), encode argmin, LUT, fixed-order recombination, ADC
    candidate cut and exact re-rank all replay the identical
    fold/round/tie math."""
    from ..functions.vectors import dot_sql
    from .clustering import kmeans_cent_ctes

    sub = dim // num_sub
    all_parts: list[str] = []
    cb_selects = []
    for s in range(1, num_sub + 1):
        lo, hi = (s - 1) * sub + 1, s * sub
        sliced = (
            f"(SELECT {id_col}, {vec_col}[{lo}:{hi}] AS sub FROM {corpus})"
        )
        parts, fin = kmeans_cent_ctes(
            sliced, num_cent, sub, iters, id_col, "sub", prefix=f"s{s}_"
        )
        all_parts.extend(parts)
        cb_selects.append(f"SELECT {s} AS s, cidx AS code, cv FROM {fin}")
    cb_union = "\n      UNION ALL ".join(cb_selects)

    d2 = (
        f"round(list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"(CAST(e.{vec_col}[(b.s-1)*{sub}+i] AS DOUBLE) - CAST(b.cv[i] AS DOUBLE))"
        f" * (CAST(e.{vec_col}[(b.s-1)*{sub}+i] AS DOUBLE) - CAST(b.cv[i] AS DOUBLE)))), 6)"
    )
    lutv = (
        f"list_sum(list_transform(range(1, {sub + 1}), i -> "
        f"CAST(q.{vec_col}[(b.s-1)*{sub}+i] AS DOUBLE) * CAST(b.cv[i] AS DOUBLE)))"
    )
    recomb = " + ".join(
        f"SUM(CASE WHEN l.s = {s} THEN l.v END)" for s in range(1, num_sub + 1)
    )
    rdot = dot_sql(f"q.{vec_col}", f"n.{vec_col}", dim)
    return (
        "WITH "
        + ",\n    ".join(all_parts)
        + f""", cb AS (
      {cb_union}
    ), enc AS (
      SELECT e.{id_col} AS rid, b.s, b.code, {d2} AS d2
      FROM {corpus} e CROSS JOIN cb b
    ), codes AS (
      SELECT rid, s, code FROM (
        SELECT rid, s, code,
               row_number() OVER (PARTITION BY rid, s ORDER BY d2, code) AS rn
        FROM enc
      ) WHERE rn = 1
    ), lut AS (
      SELECT q.{id_col} AS qid, b.s, b.code, {lutv} AS v
      FROM {corpus} q CROSS JOIN cb b
      WHERE ({query_filter})
    ), pair AS (
      SELECT l.qid, c.rid, round({recomb}, 6) AS adc_dot
      FROM codes c
      JOIN lut l ON l.s = c.s AND l.code = c.code AND c.rid <> l.qid
      GROUP BY l.qid, c.rid
    ), adctop AS (
      SELECT qid, rid FROM (
        SELECT *, row_number() OVER (
          PARTITION BY qid ORDER BY adc_dot DESC, rid
        ) AS arn FROM pair
      ) WHERE arn <= {rerank}
    ), rr AS (
      SELECT a.qid AS query_id, a.rid AS neighbor_id,
             round({rdot}, 6) AS dot
      FROM adctop a
      JOIN {corpus} q ON q.{id_col} = a.qid
      JOIN {corpus} n ON n.{id_col} = a.rid
    )
    SELECT query_id, neighbor_id, dot, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY dot DESC, neighbor_id
      ) AS rank
      FROM rr
    ) WHERE rank <= {k}
    """
    )


def sq8_encode(
    df: "DataFrame",
    vec_col: str = "embedding",
    codes_col: str = "sq8_codes",
    scale_col: str = "sq8_scale",
) -> "DataFrame":
    """Symmetric int8 SCALAR quantization of an embedding column — the
    simplest production memory trick beside PQ (4x smaller than float32,
    SIMD-friendly dot products; the faiss ScalarQuantizer / every vector
    DB's int8 mode): per-vector ``scale = max|x| / 127``,
    ``codes[i] = round(x[i] / scale)`` in [-127, 127].

    Pure JVM array expressions (transform/aggregate — no UDF). An
    all-zero vector gets scale 0 and all-zero codes. Key exactness
    property exploited downstream: the int8 COSINE equals
    ``dot_int / (sqrt(na_int) * sqrt(nb_int))`` — the per-vector scales
    cancel, so scoring folds pure BIGINTs (order-free, cross-engine
    exact) with two sqrts and one division at the end.
    """
    from pyspark.sql import functions as F

    v = F.col(vec_col)
    amax = F.aggregate(
        F.transform(v, lambda x: F.abs(x.cast("double"))),
        F.lit(0.0),
        lambda acc, x: F.greatest(acc, x),
    )
    staged = df.withColumn(scale_col, amax / F.lit(127.0))
    codes = F.when(
        F.col(scale_col) > 0,
        F.transform(
            v,
            lambda x: F.round(x.cast("double") / F.col(scale_col), 0)
            .cast("long"),
        ),
    ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))
    return staged.withColumn(codes_col, codes)


def _dot_int(a, b):
    from pyspark.sql import functions as F

    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def sq8_cosine_topk(
    df: "DataFrame",
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids_below: int = 10,
) -> "DataFrame":
    """Brute-force cosine top-k over int8-quantized vectors — the
    accuracy/cost readout for :func:`sq8_encode` (recall vs the exact
    float path is pinned in tests). Same query/corpus shape and
    tie-break as similarity.cosine_topk: queries = rows with
    ``id < query_ids_below``, self-pairs excluded, rank by (cos desc,
    id asc).

    Scale: codes build once (map-side); the scoring join broadcasts the
    (small) query frame; per-pair work is ONE BIGINT fold — at 100 TB
    the same plan as the exact baseline but 4x less data motion and
    integer arithmetic. The production ANN path composes sq8 scoring
    under the IVF/LSH candidate generators exactly like the PQ ADC.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    enc = sq8_encode(df, vec_col).select(
        F.col(id_col), F.col("sq8_codes").alias("__c")
    )
    q = enc.where(F.col(id_col) < query_ids_below).select(
        F.col(id_col).alias("query_id"), F.col("__c").alias("__qc")
    )
    pairs = enc.alias("c").join(
        F.broadcast(q), F.col(id_col) != F.col("query_id"), "inner"
    )
    d = _dot_int(F.col("__qc"), F.col("__c"))
    na = _dot_int(F.col("__qc"), F.col("__qc"))
    nb = _dot_int(F.col("__c"), F.col("__c"))
    cos = F.when(
        (na > 0) & (nb > 0),
        d.cast("double")
        / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        pairs.select(
            "query_id",
            F.col(id_col).alias("neighbor_id"),
            round_to(cos, 6).alias("cos"),
        )
        .where(F.col("cos").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            "query_id", "neighbor_id", "cos",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def sq8_cosine_topk_sql(
    corpus: str,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_ids_below: int = 10,
) -> str:
    """DuckDB twin of :func:`sq8_cosine_topk` — identical per-vector
    scale, rounding, BIGINT folds, and tie-break."""

    def dint(a, b):
        return (
            f"CAST(list_sum(list_transform(range(1, {dim + 1}), "
            f"i -> {a}[i] * {b}[i])) AS BIGINT)"
        )

    d = dint("q.__c", "c.__c")
    na = dint("q.__c", "q.__c")
    nb = dint("c.__c", "c.__c")
    return f"""
    WITH enc AS (
        SELECT {id_col},
               list_max(list_transform({vec_col},
                   x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS __sc,
               {vec_col} AS __v
        FROM {corpus}
    ), coded AS (
        SELECT {id_col},
               CASE WHEN __sc > 0 THEN
                 list_transform(__v,
                     x -> CAST(round(CAST(x AS DOUBLE) / __sc, 0)
                               AS BIGINT))
               ELSE list_transform(__v, x -> CAST(0 AS BIGINT))
               END AS __c
        FROM enc
    ), scored AS (
        SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
               round(CASE WHEN {na} > 0 AND {nb} > 0 THEN
                   CAST({d} AS DOUBLE)
                   / (sqrt(CAST({na} AS DOUBLE))
                      * sqrt(CAST({nb} AS DOUBLE)))
               END, 6) AS cos
        FROM coded q, coded c
        WHERE q.{id_col} < {query_ids_below}
          AND q.{id_col} <> c.{id_col}
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
        ) AS rank
        FROM scored WHERE cos IS NOT NULL
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """
