"""Similarity search over embedding columns (beyond-reference).

Brute-force cosine top-k is the exact baseline (and the oracle target);
random-hyperplane LSH bucketing is the scale path — both with deterministic,
engine-portable math. Hyperplane matrices are generated from a seeded PRNG on
the driver and embedded as literals, so the DuckDB oracle can replay the
identical computation.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import from_fixed, round_half_away, round_to, to_fixed
from ..functions.vectors import cosine_sql, lit_double_matrix, lit_doubles
from ..staging import stage


def _deterministic_planes(num_planes: int, dim: int, seed: int) -> list[list[float]]:
    rng = np.random.default_rng(seed)
    return [
        [round_half_away(float(v), 6) for v in rng.standard_normal(dim)]
        for _ in range(num_planes)
    ]


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str | None = None,
) -> DataFrame:
    """Exact top-k neighbors per query by brute-force cosine.

    Plan: broadcast the (small) query set against the corpus — embarrassingly
    parallel map-side work, then a per-query top-k window. Deterministic
    selection: ties broken by neighbor id ascending on the ROUNDED score, so
    results are stable across engines and partitionings.
    """
    from ..functions.vectors import dot, norm

    qid = query_id_col or id_col
    q = queries.select(
        F.col(qid).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    cos = F.when(
        (F.col("__qn") > 0) & (F.col("__cn") > 0),
        dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
    )
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", round_to(cos, 6))
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def cosine_topk_sql(
    corpus: str,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`cosine_topk` with queries = rows matching
    ``query_filter`` in the same corpus table."""
    cs = cosine_sql(f"q.{vec_col}", f"c.{vec_col}", dim)
    return f"""
    WITH scored AS (
        SELECT q.{id_col} AS query_id, c.{id_col} AS neighbor_id,
               round({cs}, 6) AS cos
        FROM {corpus} q, {corpus} c
        WHERE ({query_filter}) AND q.{id_col} <> c.{id_col}
    ), ranked AS (
        SELECT *, row_number() OVER (
            PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC
        ) AS rank
        FROM scored WHERE cos IS NOT NULL
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= {k}
    """


def hyperplane_signature(
    vec: Column, planes: list[list[float]]
) -> Column:
    """LSH bucket id: sign-bit signature against fixed random hyperplanes
    (public SimHash-for-vectors construction)."""
    bits = []
    for j, plane in enumerate(planes):
        lit_plane = lit_doubles(plane)
        d = F.aggregate(
            F.zip_with(vec, lit_plane, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bits.append(F.when(d > 0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("int")


def _probe_masks(num_planes: int, radius: int) -> list[int]:
    """All bit masks of popcount <= radius (multi-probe neighborhood)."""
    from itertools import combinations

    masks = [0]
    for r in range(1, radius + 1):
        for bits in combinations(range(num_planes), r):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def ann_topk_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    seed: int = 42,
    num_tables: int = 1,
    probe_hamming: int = 0,
) -> DataFrame:
    """Approximate top-k: hyperplane-bucket join, exact cosine re-rank over
    the candidate set. At 100 TB the bucket join replaces the full cross
    product. Recall knobs (standard LSH constructions, cf. Indyk-Motwani;
    multi-probe per Lv et al. 2007):

    - ``num_planes``: fewer planes → bigger buckets → higher recall;
    - ``num_tables``: independent hash tables (seeded ``seed+t``); candidates
      are unioned, recall ≈ 1-(1-p)^L for per-table collision rate p;
    - ``probe_hamming``: queries also probe corpus buckets within this
      Hamming distance of their own signature (recall without re-hashing the
      corpus — corpus rows still emit exactly ``num_tables`` bucket entries).

    Cost model: corpus explodes to ``num_tables`` rows; queries to
    ``num_tables · C(num_planes, <=probe_hamming)``; the candidate set is
    deduped before scoring so each (query, neighbor) is scored once.
    """
    from ..functions.vectors import dot, norm

    tables = [
        _deterministic_planes(num_planes, dim, seed + t)
        for t in range(num_tables)
    ]
    masks = _probe_masks(num_planes, probe_hamming)

    # Stage each table's signature as its own projected column BEFORE building
    # the probe arrays — array elements would otherwise each recompute the
    # full num_planes-aggregate signature (the HOF re-evaluation pitfall;
    # measured ~mask-count× slowdown at probe_hamming=2).
    def with_sigs(df: DataFrame, key: str) -> DataFrame:
        out = df.select(F.col(id_col).alias(key), F.col(vec_col))
        return out.withColumns(
            {
                f"__sig{t}": hyperplane_signature(F.col(vec_col), tables[t])
                for t in range(num_tables)
            }
        )

    # corpus: one (table, bucket) entry per table
    c_keys = with_sigs(corpus, "neighbor_id").select(
        "neighbor_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws("_", F.lit(t), F.col(f"__sig{t}"))
                    for t in range(num_tables)
                ]
            )
        ).alias("__tb"),
    )
    # queries: probe every bucket within Hamming <= probe_hamming, per table
    q_keys = with_sigs(queries, "query_id").select(
        "query_id",
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(t),
                        F.col(f"__sig{t}").bitwiseXOR(F.lit(m)).cast("int"),
                    )
                    for t in range(num_tables)
                    for m in masks
                ]
            )
        ).alias("__tb"),
    )
    candidates = (
        c_keys.join(F.broadcast(q_keys), on="__tb")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    c_vec = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    q_vec = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        norm(F.col(vec_col)).alias("__qn"),
    )
    cos = F.when(
        (F.col("__qn") > 0) & (F.col("__cn") > 0),
        dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
    )
    scored = (
        candidates.join(c_vec, "neighbor_id")
        .join(F.broadcast(q_vec), "query_id")
        .withColumn("cos", round_to(cos, 6))
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-flat ANN (coarse cells + probe; the other classic scale path)
# ---------------------------------------------------------------------------
def _ivf_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, num_cells: int
) -> list[tuple[int, list[float]]]:
    """The ``num_cells`` corpus rows with smallest portable hash of their id
    — a deterministic pseudo-random coarse quantizer both engines can
    recompute (no k-means iterations to replay). Returns [(1-based cell
    index, vector), ...] ordered by (hash, id)."""
    from ..functions.hashing import h60

    from ._collect import bounded_collect

    rows = bounded_collect(
        corpus.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            h60(F.col(id_col).cast("string")).alias("h"),
        )
        .orderBy("h", "id")
        .limit(num_cells)
    )
    return [(i + 1, [float(x) for x in r["v"]]) for i, r in enumerate(rows)]


def _cell_rank_array(
    vec_col: str, cents: list[tuple[int, list[float]]]
) -> Column:
    """Array of struct(neg_score, cell) per centroid, sorted — natural
    ascending struct order = score desc, cell index asc, NULL scores (zero
    norms) coalesced past every real score. Pure map-side expression: cell
    assignment costs num_cells dot products per row and NO shuffle. Assumes
    a staged ``__n`` row-norm column (HOF re-evaluation pitfall).

    PLAN-SIZE NOTE (same pitfall as quantization._nearest_code): the
    centroid matrix is ONE nested literal and the dot product ONE fold
    shared by all cells via an indexed transform lambda — the naive
    per-centroid-literal expansion built num_cells separate fold trees and
    its Catalyst analysis + codegen dominated cold runs (x101 16.8s cold /
    7.1s warm measured before this form; identical values either way).
    Centroid norms are precomputed on the driver with the engines' own
    sequential fold and shipped as a second literal array, so scores stay
    bit-identical to the DuckDB twin while the per-row expression halves.
    """
    import math

    cb_lit = lit_double_matrix([cv for _, cv in cents])
    norms = []
    for _, cv in cents:
        acc = 0.0
        for x in cv:
            acc += x * x
        norms.append(math.sqrt(acc))
    cn_lit = lit_doubles(norms)
    # cents are ordered with idx == position + 1 (both builders emit them
    # that way); the transform index therefore reconstructs the cell id
    assert [idx for idx, _ in cents] == list(range(1, len(cents) + 1))

    def entry(cv: Column, i: Column) -> Column:
        d = F.aggregate(
            F.zip_with(F.col(vec_col), cv, lambda x, p: x.cast("double") * p),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        cn = F.element_at(cn_lit, i + 1)
        s = F.when((F.col("__n") > 0) & (cn > 0), d / (F.col("__n") * cn))
        return F.struct(
            F.coalesce(-round_to(s, 6), F.lit(2.0)).alias("ns"),
            (i + 1).cast("int").alias("cell"),
        )

    return F.array_sort(F.transform(cb_lit, entry))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """Approximate top-k via IVF-flat (inverted-file) search: every corpus
    row is assigned to its nearest coarse centroid's cell, queries probe
    their ``nprobe`` nearest cells, and only co-located candidates get the
    exact cosine re-rank (cf. Sivic-Zisserman inverted files; IVF-flat as
    popularized by FAISS).

    Scale shape: assignment is a map-side expression against centroid
    literals (no shuffle); the only shuffle is the candidate join keyed by
    cell. Each corpus row lands in EXACTLY one cell, so candidates need no
    dedup (unlike multi-table LSH). At real corpus sizes raise ``num_cells``
    (cells ≈ √n keeps cell size and probe cost balanced); recall rises with
    ``nprobe`` (measured in tests/test_dedup_similarity.py)."""
    from ..io import rebalance_undersplit

    # cell assignment is D x num_cells of multiply-adds per row — the
    # hash-heavy-operator rebalance applies (no-op on real-scale inputs)
    corpus = rebalance_undersplit(corpus)
    cents = _ivf_centroids(corpus, id_col, vec_col, num_cells)

    from ..functions.vectors import dot, norm

    # Vectors and norms RIDE ALONG both sides of the cell join (the inverted
    # file's payload), so scoring is a pure expression on the joined row —
    # no join back to the corpus; the signature/assignment subtree runs once
    # per side.
    c_cells = (
        corpus.select(F.col(id_col).alias("neighbor_id"), F.col(vec_col))
        .withColumn("__n", norm(F.col(vec_col)))
        .withColumn("__ranked", _cell_rank_array(vec_col, cents))
        .select(
            "neighbor_id",
            F.col(vec_col).alias("__cv"),
            F.col("__n").alias("__cn"),
            F.col("__ranked")[0]["cell"].alias("__cell"),
        )
    )
    q_cells = (
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col))
        .withColumn("__n", norm(F.col(vec_col)))
        .withColumn("__ranked", _cell_rank_array(vec_col, cents))
        .select(
            "query_id",
            F.col(vec_col).alias("__qv"),
            F.col("__n").alias("__qn"),
            F.explode(
                F.transform(
                    F.slice(F.col("__ranked"), 1, nprobe), lambda s: s["cell"]
                )
            ).alias("__cell"),
        )
    )
    cos = F.when(
        (F.col("__qn") > 0) & (F.col("__cn") > 0),
        dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn")),
    )
    scored = (
        c_cells.join(F.broadcast(q_cells), on="__cell")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cos", round_to(cos, 6))
        .where(F.col("cos").isNotNull())
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos", "rank")
    )


def ivf_topk_sql(
    corpus: str,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_cells: int = 16,
    nprobe: int = 4,
    query_filter: str = "TRUE",
) -> str:
    """DuckDB twin of :func:`ivf_topk` (queries = corpus rows matching
    ``query_filter``). Centroid pick, cell assignment (score desc, cell asc,
    NULL scores last via the same -2.0 coalesce) and re-rank all replay the
    identical fold-order math."""
    from ..functions.hashing import h60_sql

    h = h60_sql(f"CAST({id_col} AS VARCHAR)")
    ccos = cosine_sql(f"e.{vec_col}", "c.cv", dim)
    vcos = cosine_sql(f"q.{vec_col}", f"n.{vec_col}", dim)
    return f"""
    WITH cent AS (
      SELECT {id_col} AS cid, {vec_col} AS cv,
             row_number() OVER (ORDER BY {h}, {id_col}) AS cidx
      FROM {corpus}
      ORDER BY {h}, {id_col} LIMIT {num_cells}
    ), cscore AS (
      SELECT e.{id_col} AS rid, c.cidx,
             coalesce(round({ccos}, 6), -2.0) AS s
      FROM {corpus} e CROSS JOIN cent c
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
    ), scored AS (
      SELECT p.qid AS query_id, a.rid AS neighbor_id, round({vcos}, 6) AS cos
      FROM probes p
      JOIN assign a ON a.cell = p.cell AND a.rid <> p.qid
      JOIN {corpus} q ON q.{id_col} = p.qid
      JOIN {corpus} n ON n.{id_col} = a.rid
    )
    SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY query_id ORDER BY cos DESC, neighbor_id
      ) AS rank
      FROM scored WHERE cos IS NOT NULL
    ) WHERE rank <= {k}
    """


def hybrid_search_rrf(
    docs: DataFrame,
    embs: DataFrame,
    text_col: str,
    id_col: str,
    vec_col: str,
    vec_id_col: str,
    terms: list[str],
    query_vec_id: int,
    k: int = 20,
    k_each: int = 50,
    rrf_k: int = 60,
) -> DataFrame:
    """Hybrid retrieval by Reciprocal Rank Fusion (Cormack et al., SIGIR
    2009 — the standard way production search fuses BM25/TF-IDF and
    vector rankings without score calibration): run the keyword ranking
    (:func:`~pytrousse_spark.functions.text.search_docs`) and the
    brute-force cosine ranking against the stored embedding of
    ``query_vec_id``, take each side's top ``k_each``, and fuse with
    ``sum(1 / (rrf_k + rank))`` over the lists a document appears in.

    Returns top-``k`` ``(doc_id, kw_rank, vec_rank, rrf_score)`` —
    absent-side ranks NULL, score rounded to 6, ties to the smaller id.

    Scale: both sides end in TakeOrderedAndProject (k_each rows); the
    fusion join and rank windows run over 2·k_each rows, not the corpus.
    The vector side here is the exact baseline — swap in ann_topk_lsh /
    ivf/pq for the production path; RRF only consumes (id, rank).
    """
    from pyspark.sql.window import Window

    from ..functions.text import search_docs
    from ..functions.vectors import cosine

    kw = search_docs(docs, text_col, id_col, terms, k=k_each).select(
        F.col(id_col).alias("__id"), F.col("score").alias("__kw_score")
    )
    wk = Window.orderBy(F.col("__kw_score").desc(), F.col("__id"))
    kwr = kw.select("__id", F.row_number().over(wk).alias("kw_rank"))

    qv = embs.where(F.col(vec_id_col) == query_vec_id).select(
        F.col(vec_col).alias("__qv")
    )
    cos = round_to(cosine(F.col("__qv"), F.col(vec_col)), 6)
    scored = (
        embs.crossJoin(F.broadcast(qv))
        .select(F.col(vec_id_col).alias("__id"), cos.alias("__cos"))
        .where(F.col("__cos").isNotNull())
        .orderBy(F.col("__cos").desc(), F.col("__id"))
        .limit(k_each)
    )
    wv = Window.orderBy(F.col("__cos").desc(), F.col("__id"))
    vecr = scored.select("__id", F.row_number().over(wv).alias("vec_rank"))

    fused = kwr.join(vecr, "__id", "full").select(
        "__id",
        "kw_rank",
        "vec_rank",
        (
            F.coalesce(1.0 / (F.lit(rrf_k) + F.col("kw_rank")), F.lit(0.0))
            + F.coalesce(
                1.0 / (F.lit(rrf_k) + F.col("vec_rank")), F.lit(0.0)
            )
        ).alias("__rrf"),
    )
    return (
        fused.orderBy(F.col("__rrf").desc(), F.col("__id"))
        .limit(k)
        .select(
            F.col("__id").alias("doc_id"),
            "kw_rank",
            "vec_rank",
            round_to(F.col("__rrf"), 6).alias("rrf_score"),
        )
    )


def hybrid_search_rrf_sql(
    docs_table: str,
    embs_table: str,
    text_col: str,
    id_col: str,
    vec_col: str,
    vec_id_col: str,
    terms: list[str],
    query_vec_id: int,
    dim: int,
    k: int = 20,
    k_each: int = 50,
    rrf_k: int = 60,
) -> str:
    """DuckDB twin of :func:`hybrid_search_rrf` — identical rankings,
    tiebreaks and fusion arithmetic."""
    from ..functions.text import search_docs_sql
    from ..functions.vectors import cosine_sql

    kw_sub = search_docs_sql(docs_table, text_col, id_col, terms, k_each)
    # the query vector joins in as a plain column: DuckDB rejects scalar
    # subqueries inside list-lambda expressions
    cs = cosine_sql("__qv", vec_col, dim)
    return f"""
    WITH kw AS MATERIALIZED ({kw_sub}
    ), kwr AS (
        SELECT {id_col} AS __id,
               CAST(row_number() OVER (ORDER BY score DESC, {id_col})
                    AS INT) AS kw_rank
        FROM kw
    ), qv AS (
        SELECT {vec_col} AS __qv FROM {embs_table}
        WHERE {vec_id_col} = {query_vec_id}
    ), vec_top AS MATERIALIZED (
        SELECT * FROM (
            SELECT {vec_id_col} AS __id, round({cs}, 6) AS __cos
            FROM {embs_table} CROSS JOIN qv
        ) WHERE __cos IS NOT NULL
        ORDER BY __cos DESC, __id LIMIT {k_each}
    ), vecr AS (
        SELECT __id,
               CAST(row_number() OVER (ORDER BY __cos DESC, __id) AS INT)
                   AS vec_rank
        FROM vec_top
    ), fused AS (
        SELECT COALESCE(kwr.__id, vecr.__id) AS __id,
               kwr.kw_rank, vecr.vec_rank,
               -- CAST to DOUBLE: a bare 1.0 literal is DECIMAL in DuckDB
               -- and decimal division would not match Spark's doubles
               COALESCE(CAST(1 AS DOUBLE) / ({rrf_k} + kwr.kw_rank), 0.0)
               + COALESCE(CAST(1 AS DOUBLE) / ({rrf_k} + vecr.vec_rank), 0.0)
                   AS __rrf
        FROM kwr FULL JOIN vecr ON kwr.__id = vecr.__id
    )
    SELECT __id AS doc_id, kw_rank, vec_rank,
           round(__rrf, 6) AS rrf_score
    FROM fused
    ORDER BY __rrf DESC, __id LIMIT {k}
    """


def embedding_drift(
    ref: DataFrame,
    cur: DataFrame,
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space drift readout between two vector samples — the
    vector-native companion of the scalar drift gates (PSI q142, KS
    q186, W1 q231): centroid cosine similarity (directional shift),
    centroid Euclidean distance (location shift), and the mean-norm
    ratio (scale shift). An embedding pipeline whose upstream model or
    preprocessing changed shows up here before any downstream metric
    moves.

    Returns one row: ``(n_ref, n_cur, centroid_cosine, centroid_dist,
    norm_ratio)``; cosine NULL if either centroid is zero.

    Exactness: per-position component sums fold micro-unit BIGINTs
    (one rounding per component per row); centroids are single
    divisions of those exact sums; the cosine/distance folds run in
    index order over the bounded dim grid (the functions/vectors
    rule); per-row norms micro-round before the mean.

    Scale: ONE (position)-keyed agg per side (shuffle bounded by dim
    after map-side combine) + one norm agg per side; no joins over
    vectors.
    """
    from pyspark.sql import functions as F

    def side(df, tag):
        nn = df.where(F.col(vec_col).isNotNull())
        comp = (
            nn.select(F.posexplode(vec_col).alias("pos", "__x"))
            .select(
                "pos",
                to_fixed(F.col("__x").cast("double"), 6).alias("__xm"),
            )
            .groupBy("pos")
            .agg(
                F.sum("__xm").cast("bigint").alias(f"__s_{tag}"),
                F.count(F.lit(1)).cast("bigint").alias(f"__n_{tag}"),
            )
        )
        norm = nn.select(
            to_fixed(
                F.sqrt(
                    F.aggregate(
                        F.transform(
                            F.col(vec_col),
                            lambda x: x.cast("double")
                            * x.cast("double"),
                        ),
                        F.lit(0.0),
                        lambda acc, v: acc + v,
                    )
                ),
                6,
            ).alias("__nm")
        ).agg(
            F.sum("__nm").cast("bigint").alias(f"__sn_{tag}"),
            F.count(F.lit(1)).cast("bigint").alias(f"__c_{tag}"),
        )
        return comp, norm

    cr, nr = side(ref, "r")
    cc, nc = side(cur, "c")
    cent = cr.join(cc, "pos").select(
        "pos",
        (
            F.col("__s_r").cast("double")
            / F.col("__n_r").cast("double")
        ).alias("__mr"),
        (
            F.col("__s_c").cast("double")
            / F.col("__n_c").cast("double")
        ).alias("__mc"),
    )
    # index-ordered folds over the bounded dim grid: nano-round each
    # per-position term so the three sums are exact integer folds
    folds = cent.select(
        to_fixed(F.col("__mr") * F.col("__mc") / F.lit(1e6), 6).alias("__dot"),
        to_fixed(F.col("__mr") * F.col("__mr") / F.lit(1e6), 6).alias("__rr"),
        to_fixed(F.col("__mc") * F.col("__mc") / F.lit(1e6), 6).alias("__cc2"),
        to_fixed(
            (F.col("__mr") - F.col("__mc"))
            * (F.col("__mr") - F.col("__mc"))
            / F.lit(1e6),
            6,
        ).alias("__dd"),
    ).agg(
        F.sum("__dot").cast("bigint").alias("__sdot"),
        F.sum("__rr").cast("bigint").alias("__srr"),
        F.sum("__cc2").cast("bigint").alias("__scc"),
        F.sum("__dd").cast("bigint").alias("__sdd"),
    )
    out = (
        folds.join(F.broadcast(nr), how="cross")
        .join(F.broadcast(nc), how="cross")
    )
    cos = F.col("__sdot").cast("double") / (
        F.sqrt(F.col("__srr").cast("double"))
        * F.sqrt(F.col("__scc").cast("double"))
    )
    return out.select(
        F.col("__c_r").alias("n_ref"),
        F.col("__c_c").alias("n_cur"),
        round_to(
            F.when((F.col("__srr") > 0) & (F.col("__scc") > 0), cos),
            6,
        ).alias("centroid_cosine"),
        # __sdd carries micro^2 = 1e12 scale (the /1e6 inside the
        # fold is cancelled by nano's *1e6): distance = sqrt(sdd)/1e6
        round_to(
            from_fixed(F.sqrt(F.col("__sdd").cast("double")), 6),
            6,
        ).alias("centroid_dist"),
        round_to(
            F.when(
                F.col("__sn_r") > 0,
                (
                    F.col("__sn_c").cast("double")
                    / F.col("__c_c").cast("double")
                )
                / (
                    F.col("__sn_r").cast("double")
                    / F.col("__c_r").cast("double")
                ),
            ),
            6,
        ).alias("norm_ratio"),
    )


def embedding_drift_sql(
    ref_expr: str,
    cur_expr: str,
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`embedding_drift` — identical micro-unit
    component sums, per-position nano folds and norm means."""
    def side_sql(expr, tag):
        return f"""
    __comp_{tag} AS (
        SELECT __u.pos,
               CAST(sum(CAST(round(CAST(__u.__x AS DOUBLE) * 1e6, 0)
                    AS BIGINT)) AS BIGINT) AS __s_{tag},
               CAST(count(*) AS BIGINT) AS __n_{tag}
        FROM (
            -- parallel unnests zip: value with its 1-based position
            SELECT unnest(t.{vec_col}) AS __x,
                   unnest(range(1, len(t.{vec_col}) + 1)) AS pos
            FROM ({expr}) t WHERE t.{vec_col} IS NOT NULL
        ) __u
        GROUP BY 1
    ), __norm_{tag} AS (
        SELECT CAST(sum(CAST(round(sqrt(list_sum(list_transform(
                    t.{vec_col}, __w -> CAST(__w AS DOUBLE)
                    * CAST(__w AS DOUBLE)))) * 1e6, 0) AS BIGINT))
                    AS BIGINT) AS __sn_{tag},
               CAST(count(*) AS BIGINT) AS __c_{tag}
        FROM ({expr}) t WHERE t.{vec_col} IS NOT NULL
    )"""
    return f"""
    WITH {side_sql(ref_expr, "r")},
    {side_sql(cur_expr, "c")},
    __cent AS (
        SELECT r.pos,
               CAST(r.__s_r AS DOUBLE) / CAST(r.__n_r AS DOUBLE)
                   AS __mr,
               CAST(c.__s_c AS DOUBLE) / CAST(c.__n_c AS DOUBLE)
                   AS __mc
        FROM __comp_r r JOIN __comp_c c ON r.pos = c.pos
    ), __folds AS (
        SELECT CAST(sum(CAST(round(__mr * __mc / 1e6 * 1e6, 0)
                    AS BIGINT)) AS BIGINT) AS __sdot,
               CAST(sum(CAST(round(__mr * __mr / 1e6 * 1e6, 0)
                    AS BIGINT)) AS BIGINT) AS __srr,
               CAST(sum(CAST(round(__mc * __mc / 1e6 * 1e6, 0)
                    AS BIGINT)) AS BIGINT) AS __scc,
               CAST(sum(CAST(round((__mr - __mc) * (__mr - __mc)
                    / 1e6 * 1e6, 0) AS BIGINT)) AS BIGINT) AS __sdd
        FROM __cent
    )
    SELECT n.__c_r AS n_ref, m.__c_c AS n_cur,
           round(CASE WHEN f.__srr > 0 AND f.__scc > 0 THEN
                 CAST(f.__sdot AS DOUBLE)
                 / (sqrt(CAST(f.__srr AS DOUBLE))
                    * sqrt(CAST(f.__scc AS DOUBLE))) END
                 * 1e6, 0) / 1e6 AS centroid_cosine,
           round(sqrt(CAST(f.__sdd AS DOUBLE)) / 1e6 * 1e6, 0) / 1e6
               AS centroid_dist,
           round(CASE WHEN n.__sn_r > 0 THEN
                 (CAST(m.__sn_c AS DOUBLE) / CAST(m.__c_c AS DOUBLE))
                 / (CAST(n.__sn_r AS DOUBLE)
                    / CAST(n.__c_r AS DOUBLE)) END * 1e6, 0) / 1e6
               AS norm_ratio
    FROM __folds f CROSS JOIN __norm_r n CROSS JOIN __norm_c m
    """


def embedding_isotropy(
    df: DataFrame,
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> DataFrame:
    """Within-sample embedding ISOTROPY census — the single-sample
    spectral-diagonal companion of :func:`embedding_drift` (which is a
    two-sample location/scale readout): per group,

        participation_ratio = (sum_p var_p)^2 / sum_p var_p^2
        anisotropy          = ||mu||^2 / E||x||^2
        rms_norm            = sqrt(E||x||^2)

    ``participation_ratio`` in [1, dim] is the effective number of
    variance-carrying directions read from the PER-DIMENSION variances
    (dim = perfectly isotropic diagonal, 1 = all variance on one axis);
    ``anisotropy`` in [0, 1] approximates the expected cosine of two
    random vectors (Ethayarajh 2019's common-direction pathology: an
    embedding column dominated by a shared mean direction dedups and
    clusters badly). An embedding pipeline whose vectors collapse
    toward a cone shows up here before any ANN metric moves.

    Exactness: component sums fold micro-unit BIGINTs and squares fold
    pico-unit (1e12) DECIMAL(38,0)/HUGEINT — one rounding per component
    per row, order-free; the per-dimension var/mu terms are doubles
    from those exact integers, pico-rounded BIGINT per position, then
    summed over the bounded dim grid (order-free again); the three
    final formulas are identical expression text, round 6.

    Scale: ONE (group, position)-keyed agg (shuffle bounded by
    groups x dim after map-side combine) + one groups x dim fold; no
    joins over vectors, nothing data-sized leaves the first agg.

    Returns one row per group: ``(group?, n, dim,
    participation_ratio, anisotropy, rms_norm)``.
    """
    gcols = [group_col] if group_col else []
    nn = df.where(F.col(vec_col).isNotNull())
    xm = to_fixed(F.col("__x").cast("double"), 6)
    x2p = to_fixed(
        F.col("__x").cast("double") * F.col("__x").cast("double"),
        12,
        wide=True,
    )
    comp = (
        nn.select(
            *gcols, F.posexplode(vec_col).alias("pos", "__x")
        )
        .select(*gcols, "pos", xm.alias("__xm"), x2p.alias("__x2"))
        .groupBy(*gcols, "pos")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("__n"),
            F.sum("__xm").cast("bigint").alias("__s"),
            F.sum("__x2").alias("__q"),
        )
    )
    mu = F.col("__s").cast("double") / (
        F.col("__n").cast("double") * F.lit(1e6)
    )
    ex2 = F.col("__q").cast("double") / (
        F.col("__n").cast("double") * F.lit(1e12)
    )
    var = ex2 - mu * mu
    folds = comp.groupBy(*gcols).agg(
        F.max("__n").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("dim"),
        F.sum(to_fixed(var, 12)).cast("bigint").alias("__sv"),
        F.sum(to_fixed(var * var, 12)).cast("bigint").alias("__sv2"),
        F.sum(to_fixed(mu * mu, 12)).cast("bigint").alias("__sm2"),
        F.sum(to_fixed(ex2, 12)).cast("bigint").alias("__se2"),
    )
    svd = F.col("__sv").cast("double")
    out = folds.select(
        *gcols,
        "n",
        "dim",
        round_to(
            F.when(
                F.col("__sv2") > 0,
                svd * svd / F.lit(1e12) / F.col("__sv2").cast("double"),
            ),
            6,
        ).alias("participation_ratio"),
        round_to(
            F.when(
                F.col("__se2") > 0,
                F.col("__sm2").cast("double")
                / F.col("__se2").cast("double"),
            ),
            6,
        ).alias("anisotropy"),
        round_to(
            F.sqrt(from_fixed(F.col("__se2"), 12)),
            6,
        ).alias("rms_norm"),
    )
    return out.orderBy(*gcols) if gcols else out


def embedding_isotropy_sql(
    table_expr: str,
    vec_col: str = "embedding",
    group_col: str | None = None,
) -> str:
    """DuckDB twin of :func:`embedding_isotropy` — identical staging
    rounds, integer folds and final expression text."""
    gsel = f"{group_col}, " if group_col else ""
    gby = f"GROUP BY {group_col}, pos" if group_col else "GROUP BY pos"
    gby2 = f"GROUP BY {group_col}" if group_col else ""
    order = f"ORDER BY {group_col}" if group_col else ""
    return f"""
    WITH __ex AS (
        -- parallel unnests zip: value with its 0-based position
        SELECT {gsel}
               unnest({vec_col}) AS __x,
               unnest(range(0, len({vec_col}))) AS pos
        FROM ({table_expr})
        WHERE {vec_col} IS NOT NULL
    ), __st AS (
        SELECT {gsel} pos,
               CAST(round(CAST(__x AS DOUBLE) * 1e6, 0) AS BIGINT)
                   AS __xm,
               CAST(round(CAST(__x AS DOUBLE) * CAST(__x AS DOUBLE)
                          * 1e12, 0) AS HUGEINT) AS __x2
        FROM __ex
    ), __comp AS (
        SELECT {gsel} pos,
               CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__xm) AS BIGINT) AS __s,
               CAST(sum(__x2) AS HUGEINT) AS __q
        FROM __st {gby}
    ), __folds AS (
        SELECT {gsel}
               CAST(max(__n) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS dim,
               CAST(sum(CAST(round((CAST(__q AS DOUBLE)
                        / (CAST(__n AS DOUBLE) * 1e12)
                        - (CAST(__s AS DOUBLE)
                           / (CAST(__n AS DOUBLE) * 1e6))
                          * (CAST(__s AS DOUBLE)
                             / (CAST(__n AS DOUBLE) * 1e6))) * 1e12, 0)
                    AS BIGINT)) AS BIGINT) AS __sv,
               CAST(sum(CAST(round((CAST(__q AS DOUBLE)
                        / (CAST(__n AS DOUBLE) * 1e12)
                        - (CAST(__s AS DOUBLE)
                           / (CAST(__n AS DOUBLE) * 1e6))
                          * (CAST(__s AS DOUBLE)
                             / (CAST(__n AS DOUBLE) * 1e6)))
                       * (CAST(__q AS DOUBLE)
                        / (CAST(__n AS DOUBLE) * 1e12)
                        - (CAST(__s AS DOUBLE)
                           / (CAST(__n AS DOUBLE) * 1e6))
                          * (CAST(__s AS DOUBLE)
                             / (CAST(__n AS DOUBLE) * 1e6)))
                       * 1e12, 0) AS BIGINT)) AS BIGINT) AS __sv2,
               CAST(sum(CAST(round((CAST(__s AS DOUBLE)
                          / (CAST(__n AS DOUBLE) * 1e6))
                         * (CAST(__s AS DOUBLE)
                            / (CAST(__n AS DOUBLE) * 1e6)) * 1e12, 0)
                    AS BIGINT)) AS BIGINT) AS __sm2,
               CAST(sum(CAST(round(CAST(__q AS DOUBLE)
                          / (CAST(__n AS DOUBLE) * 1e12) * 1e12, 0)
                    AS BIGINT)) AS BIGINT) AS __se2
        FROM __comp {gby2}
    )
    SELECT {gsel} n, dim,
           round(CASE WHEN __sv2 > 0 THEN
                 CAST(__sv AS DOUBLE) * CAST(__sv AS DOUBLE) / 1e12
                 / CAST(__sv2 AS DOUBLE) END * 1e6, 0) / 1e6
               AS participation_ratio,
           round(CASE WHEN __se2 > 0 THEN
                 CAST(__sm2 AS DOUBLE) / CAST(__se2 AS DOUBLE) END
                 * 1e6, 0) / 1e6 AS anisotropy,
           round(sqrt(CAST(__se2 AS DOUBLE) / 1e12) * 1e6, 0) / 1e6
               AS rms_norm
    FROM __folds
    {order}
    """


def item_item_cf(
    ratings: DataFrame,
    user_col: str,
    item_col: str,
    k: int = 5,
    min_cooc: int = 2,
) -> DataFrame:
    """Item-item collaborative filtering over implicit feedback
    (Sarwar et al. 2001; the Amazon item-to-item scheme): cosine
    similarity between items' user-sets,

        sim(i, j) = c_ij / sqrt(n_i * n_j)

    with c_ij the co-occurrence count and n_i the item's user count,
    keeping each item's top-``k`` neighbors with c_ij >= ``min_cooc``.

    Exactness: c_ij / n_i are exact BIGINT counts from a DISTINCT
    (user, item) reduction; cosine is ONE double division + sqrt per
    pair, round 6; ranking ties break by neighbor id.

    Scale design: the self-join is keyed on the user (co-occurrence
    pairs are generated per user, bounded by sum_u basket(u)^2 — the
    q135 wedge axis, NOT a cross join); heavy users are the skew risk
    and production callers should cap basket size upstream (the
    LSH-bucket lesson); per-item top-k windows run over each item's
    candidate neighbors only. Both orientations are emitted from one
    i<j pair table, so sim is computed once per unordered pair.

    Returns ``(item, neighbor, cooc, cosine, rank)``.
    """
    # checkpoint the reduced frames: ui feeds three subtrees (ni + both
    # self-join sides) and would re-run the caller's ratings build each
    # time; pairs feeds BOTH orientations of the union, which would
    # execute the per-user self-join + aggregation twice
    ui = stage(
        ratings.select(
            F.col(user_col).alias("__u"), F.col(item_col).alias("__i")
        )
        .distinct()
    )
    ni = stage(ui.groupBy("__i").agg(
        F.count(F.lit(1)).alias("__n")
    ))
    pairs = stage(
        ui.join(ui.withColumnRenamed("__i", "__j"), "__u")
        .where(F.col("__i") < F.col("__j"))
        .groupBy("__i", "__j")
        .agg(F.count(F.lit(1)).alias("cooc"))
        .where(F.col("cooc") >= min_cooc)
    )
    sym = pairs.unionByName(
        pairs.select(
            F.col("__j").alias("__i"), F.col("__i").alias("__j"), "cooc"
        )
    )
    scored = (
        sym.join(ni, "__i")
        .join(
            ni.select(
                F.col("__i").alias("__j"), F.col("__n").alias("__nj")
            ),
            "__j",
        )
        .select(
            F.col("__i").alias("item"),
            F.col("__j").alias("neighbor"),
            "cooc",
            round_to(
                F.col("cooc").cast("double")
                / F.sqrt(
                    (F.col("__n") * F.col("__nj")).cast("double")
                ),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("cosine").desc(), F.col("neighbor")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
    )


def item_item_cf_sql(
    ratings_subquery: str,
    user_col: str,
    item_col: str,
    k: int = 5,
    min_cooc: int = 2,
) -> str:
    """DuckDB twin of :func:`item_item_cf`."""
    return f"""
    WITH ui AS MATERIALIZED (
        SELECT DISTINCT {user_col} AS __u, {item_col} AS __i
        FROM ({ratings_subquery})
    ), ni AS MATERIALIZED (
        SELECT __i, CAST(count(*) AS BIGINT) AS __n FROM ui GROUP BY 1
    ), pairs AS MATERIALIZED (
        SELECT a.__i, b.__i AS __j, CAST(count(*) AS BIGINT) AS cooc
        FROM ui a JOIN ui b ON a.__u = b.__u AND a.__i < b.__i
        GROUP BY 1, 2
        HAVING count(*) >= {min_cooc}
    ), sym AS (
        SELECT __i, __j, cooc FROM pairs
        UNION ALL
        SELECT __j AS __i, __i AS __j, cooc FROM pairs
    ), scored AS (
        SELECT s.__i AS item, s.__j AS neighbor, s.cooc,
               round(s.cooc::DOUBLE
                     / sqrt(CAST(a.__n * b.__n AS DOUBLE)), 6) AS cosine
        FROM sym s
        JOIN ni a ON a.__i = s.__i
        JOIN ni b ON b.__i = s.__j
    )
    SELECT item, neighbor, cooc, cosine, rank FROM (
        SELECT *, CAST(row_number() OVER (
                   PARTITION BY item ORDER BY cosine DESC, neighbor
               ) AS BIGINT) AS rank
        FROM scored
    ) WHERE rank <= {k}
    """


def embedding_mmd_poly2(
    ref: DataFrame,
    cur: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Second-order MMD drift between two embedding samples — the
    COVARIANCE-sensitive companion of :func:`embedding_drift` (which
    reads centroids/norms and is blind to a rotation of the embedding
    cloud around an unchanged mean). With the degree-2 polynomial
    kernel ``k(x, y) = (x.y + 1)^2``, the squared maximum mean
    discrepancy has the closed MOMENT form

        MMD^2 = ||M_r - M_c||_F^2 + 2 ||mu_r - mu_c||^2

    where ``mu`` is the mean vector and ``M = E[x x^T]`` the second
    moment matrix — no pairwise sample kernel sums, just first and
    second moments per side.

    Scale design: each row expands to its d^2 second-moment cells via
    a SELF-JOIN of the exploded (id, pos, x) frame on the row id
    (documented cost axis: n * d^2 map work into a (pos_a, pos_b)-keyed
    agg with map-side combine — bounded output d^2 cells; d is the
    embedding width, a compile-time constant of the pipeline). Nothing
    row-scaled survives the agg.

    Exactness: per-row products pico-round (1e12) to integers summed
    as DECIMAL(38,0)/HUGEINT; component sums micro-round; the per-cell
    mean differences square into pico-rounded BIGINTs before the
    d^2-cell fold (order-free); identical final expression text,
    round 6.

    Returns one row:
    ``(n_ref, n_cur, mean_shift2, cov_shift_fro2, mmd2_poly2)``.
    """

    def moments(df: DataFrame, tag: str):
        from ..io import rebalance_undersplit

        # the d^2 expansion below multiplies per-row work by the squared
        # embedding width; a single-row-group bench input would run it
        # all on one core (no-op at real scale)
        nn = rebalance_undersplit(df.where(F.col(vec_col).isNotNull()))
        ex = nn.select(
            F.posexplode(vec_col).alias("__p", "__x")
        ).select(
            "__p",
            F.col("__x").cast("double").alias("__x"),
        )
        firsts = stage(ex.groupBy("__p").agg(
            F.sum(
                to_fixed(F.col("__x"), 6)
            ).cast("bigint").alias(f"__s_{tag}"),
            F.count(F.lit(1)).cast("bigint").alias(f"__n_{tag}"),
        ))
        # second moments WITHOUT the (id-keyed self-join -> n*d-row
        # shuffle -> n*d^2 join output -> second shuffle) the r12 plan
        # audit measured: the outer product is ROW-LOCAL, so a chain of
        # two codegen'd posexplode generators (each element row carries
        # the original array) yields the same (p, q, x*y) cells with NO
        # shuffle before the d^2-cell hash agg — map-side combine bounds
        # the only exchange at d^2 x tasks. Upper triangle only: M is
        # symmetric and the per-cell pico-rounded integers identical, so
        # the (p,q)/(q,p) sums are the same exact value (the cov fold
        # reweights). Same per-pair rounding, same DECIMAL(38,0)
        # order-free sum — bit-identical cells.
        e1 = nn.select(
            F.col(vec_col).alias("__v"),
            F.posexplode(vec_col).alias("__p", "__x"),
        )
        cells = (
            e1.select(
                "__p",
                F.col("__x").cast("double").alias("__x"),
                F.posexplode("__v").alias("__q", "__y"),
            )
            .where(F.col("__q") >= F.col("__p"))
            .select(
                "__p",
                "__q",
                to_fixed(
                    F.col("__x") * F.col("__y").cast("double"), 12, wide=True
                ).alias("__xy"),
            )
        )
        seconds = stage(
            cells.groupBy("__p", "__q")
            .agg(F.sum("__xy").alias(f"__m_{tag}"))
        )
        return firsts, seconds

    fr, sr = moments(ref, "r")
    fc, sc = moments(cur, "c")
    mu = (
        fr.join(fc, "__p")
        .select(
            to_fixed(
                (
                    F.col("__s_r").cast("double")
                    / (F.col("__n_r").cast("double") * F.lit(1e6))
                    - F.col("__s_c").cast("double")
                    / (F.col("__n_c").cast("double") * F.lit(1e6))
                )
                ** F.lit(2),
                12,
            ).alias("__d2"),
            F.col("__n_r").alias("__nr"),
            F.col("__n_c").alias("__nc"),
        )
        .agg(
            F.sum("__d2").cast("bigint").alias("__mu2"),
            F.max("__nr").alias("n_ref"),
            F.max("__nc").alias("n_cur"),
        )
    )
    # the moment frames hold the upper triangle only; each off-diagonal
    # pico-rounded term appears in the full d^2 fold exactly twice with
    # the identical integer value, so weighting AFTER the rounding is
    # the same exact sum
    cov = (
        sr.join(sc, ["__p", "__q"])
        .crossJoin(F.broadcast(mu.select("n_ref", "n_cur")))
        .select(
            (
                to_fixed(
                    (
                        F.col("__m_r").cast("double")
                        / (F.col("n_ref").cast("double") * F.lit(1e12))
                        - F.col("__m_c").cast("double")
                        / (F.col("n_cur").cast("double") * F.lit(1e12))
                    )
                    ** F.lit(2),
                    12,
                )
                * F.when(F.col("__p") == F.col("__q"), F.lit(1)).otherwise(
                    F.lit(2)
                )
            ).alias("__f2")
        )
        .agg(F.sum("__f2").cast("bigint").alias("__fro2"))
    )
    return mu.crossJoin(F.broadcast(cov)).select(
        "n_ref",
        "n_cur",
        round_to(from_fixed(F.col("__mu2"), 12), 6).alias(
            "mean_shift2"
        ),
        round_to(from_fixed(F.col("__fro2"), 12), 6).alias(
            "cov_shift_fro2"
        ),
        round_to(
            from_fixed(F.col("__fro2"), 12)
            + F.lit(2.0) * F.col("__mu2").cast("double") / F.lit(1e12),
            6,
        ).alias("mmd2_poly2"),
    )


def embedding_mmd_poly2_sql(
    ref_expr: str,
    cur_expr: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB twin of :func:`embedding_mmd_poly2` — identical staging
    rounds, moment folds and final expression."""

    def side(expr: str, tag: str) -> str:
        return f"""
    __ex_{tag} AS MATERIALIZED (
        SELECT {id_col} AS __id,
               unnest(range(0, len({vec_col}))) AS __p,
               unnest({vec_col}) AS __x
        FROM ({expr}) WHERE {vec_col} IS NOT NULL
    ),
    __f_{tag} AS (
        SELECT __p,
               CAST(sum(CAST(round(CAST(__x AS DOUBLE) * 1e6, 0)
                    AS BIGINT)) AS BIGINT) AS __s,
               CAST(count(*) AS BIGINT) AS __n
        FROM __ex_{tag} GROUP BY 1
    ),
    __m_{tag} AS (
        SELECT a.__p, b.__p AS __q,
               CAST(sum(CAST(round(CAST(a.__x AS DOUBLE)
                                   * CAST(b.__x AS DOUBLE) * 1e12, 0)
                    AS HUGEINT)) AS HUGEINT) AS __m
        FROM __ex_{tag} a JOIN __ex_{tag} b ON a.__id = b.__id
        GROUP BY 1, 2
    )"""

    return f"""
    WITH {side(ref_expr, 'r')},
    {side(cur_expr, 'c')},
    __mu AS (
        SELECT CAST(sum(CAST(round(
                   (CAST(r.__s AS DOUBLE) / (CAST(r.__n AS DOUBLE) * 1e6)
                    - CAST(c.__s AS DOUBLE)
                      / (CAST(c.__n AS DOUBLE) * 1e6))
                   * (CAST(r.__s AS DOUBLE) / (CAST(r.__n AS DOUBLE) * 1e6)
                      - CAST(c.__s AS DOUBLE)
                        / (CAST(c.__n AS DOUBLE) * 1e6))
                   * 1e12, 0) AS BIGINT)) AS BIGINT) AS __mu2,
               CAST(max(r.__n) AS BIGINT) AS n_ref,
               CAST(max(c.__n) AS BIGINT) AS n_cur
        FROM __f_r r JOIN __f_c c ON c.__p = r.__p
    ),
    __cov AS (
        SELECT CAST(sum(CAST(round(
                   (CAST(m1.__m AS DOUBLE) / (CAST(u.n_ref AS DOUBLE) * 1e12)
                    - CAST(m2.__m AS DOUBLE)
                      / (CAST(u.n_cur AS DOUBLE) * 1e12))
                   * (CAST(m1.__m AS DOUBLE)
                      / (CAST(u.n_ref AS DOUBLE) * 1e12)
                      - CAST(m2.__m AS DOUBLE)
                        / (CAST(u.n_cur AS DOUBLE) * 1e12))
                   * 1e12, 0) AS BIGINT)) AS BIGINT) AS __fro2
        FROM __m_r m1
        JOIN __m_c m2 ON m2.__p = m1.__p AND m2.__q = m1.__q
        CROSS JOIN __mu u
    )
    SELECT u.n_ref, u.n_cur,
           round(CAST(u.__mu2 AS DOUBLE) / 1e12 * 1e6, 0) / 1e6
               AS mean_shift2,
           round(CAST(v.__fro2 AS DOUBLE) / 1e12 * 1e6, 0) / 1e6
               AS cov_shift_fro2,
           round((CAST(v.__fro2 AS DOUBLE) / 1e12
                  + 2.0 * CAST(u.__mu2 AS DOUBLE) / 1e12) * 1e6, 0) / 1e6
               AS mmd2_poly2
    FROM __mu u CROSS JOIN __cov v
    """
