"""Composed training-corpus preparation (beyond-reference).

The end-to-end cleaning flow an LLM-data pipeline runs before training —
language/quality/length gating → exact content dedup (min-id survivor per
fingerprint) → verified near-dedup — composed from the existing operators
into one pipeline with a DuckDB twin for the correctness gate. Every stage
is expression-compiled; the only shuffles are the fingerprint aggregation
and the LSH (band_key, id) exchange, both keyed small.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import text as tx
from ..functions.rounding import round_to, to_fixed
from ..staging import stage, stage_unbounded
from . import dedup as dd

from pytrousse_spark.functions.sqlutil import sql_quote


def gate_documents(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.9,
    min_tokens: int = 12,
    max_tokens: int = 5000,
    shingle_n: int = 3,
) -> DataFrame:
    """The language/quality/length gate stage alone: rows passing all three
    filters, with (n_tokens, lang_guess, quality, __fp) attached. Pure
    stateless expressions — works identically on a BATCH frame and on a
    STRUCTURED STREAM (it is the ingestion-time filter in front of a
    streaming sink; the dedup stages below are batch-only because they
    aggregate across documents). Staging per functions/text.py HOF rules."""
    if not df.isStreaming:
        # md5 fingerprint per row; no-op at real scale or on a stream
        from ..io import rebalance_undersplit

        df = rebalance_undersplit(df)
    t = F.col(text_col)
    toks = F.col("__tk")
    staged = (
        df.select(id_col, text_col)
        .withColumn("__tk", tx.tokens(t))
        .withColumn("__sh", tx.shingles_from_tokens(toks, shingle_n))
        .withColumn("n_tokens", F.size(toks).cast("long"))
        .withColumn("lang_guess", tx.lang_id_from_tokens(toks))
        .withColumn("quality", tx.quality_score_from_tokens(t, toks))
        .withColumn("__fp", tx.fingerprint_from_shingles(F.col("__sh")))
    )
    return staged.where(
        (F.col("lang_guess") == lang)
        & (F.col("quality") >= min_quality)
        & F.col("n_tokens").between(min_tokens, max_tokens)
    ).select(id_col, text_col, "n_tokens", "quality", "__fp")


def clean_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.9,
    min_tokens: int = 12,
    max_tokens: int = 5000,
    shingle_n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
    hash_fn: str = "md5",
) -> DataFrame:
    """Cleaned corpus: rows passing the language/quality/length gates, with
    exact duplicates (identical content fingerprint) and verified near
    duplicates removed, min-id survivor in both dedup stages.

    ``min_tokens`` must be >= ``shingle_n`` so every surviving document has
    a non-NULL fingerprint (a NULL fingerprint would collapse all short
    docs into one dedup group).

    Output: (id_col, n_tokens, quality) for the surviving rows.
    """
    if min_tokens < shingle_n:
        raise ValueError("min_tokens must be >= shingle_n")
    kept = gate_documents(
        df, text_col, id_col,
        lang=lang, min_quality=min_quality,
        min_tokens=min_tokens, max_tokens=max_tokens, shingle_n=shingle_n,
    )
    exact = dd.exact_dedup(kept, ["__fp"], id_col)
    # The near-dedup stage reads `exact` for its shingle frame and for the
    # survivor anti-join with different column prunings, so the exchanges
    # are not canonically equal and AQE cannot reuse them — without staging
    # the full gate+dedup aggregation would execute twice. `exact` grows
    # with the input, so it stages as a reliable checkpoint.
    exact = stage_unbounded(exact)
    survivors = dd.near_dedup(
        exact,
        text_col,
        id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
        hash_fn=hash_fn,
    )
    return survivors.select(id_col, "n_tokens", "quality")


def clean_corpus_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang: str = "en",
    min_quality: float = 0.9,
    min_tokens: int = 12,
    max_tokens: int = 5000,
    shingle_n: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    threshold: float = 0.2,
) -> str:
    """DuckDB twin of :func:`clean_corpus` (md5 mode). The near-dedup stage
    nests :func:`dd.near_dedup_pairs_sql` as a subquery over the
    ``survivors`` CTE (DuckDB supports WITH inside a derived table)."""
    pairs = dd.near_dedup_pairs_sql(
        "survivors",
        text_col,
        id_col,
        num_perm=num_perm,
        bands=bands,
        shingle_n=shingle_n,
        threshold=threshold,
    )
    return f"""
    WITH stats AS (
      SELECT {id_col}, {text_col},
             CAST(len({tx.tokens_sql(text_col)}) AS BIGINT) AS n_tokens,
             {tx.lang_id_sql(text_col)} AS lang_guess,
             {tx.quality_score_sql(text_col)} AS quality,
             {tx.fingerprint_sql(text_col, shingle_n)} AS fp
      FROM {table}
    ), kept AS (
      SELECT * FROM stats
      WHERE lang_guess = {sql_quote(lang)} AND quality >= {min_quality}
        AND n_tokens BETWEEN {min_tokens} AND {max_tokens}
    ), survivors AS (
      SELECT k.{id_col}, k.{text_col}, k.n_tokens, k.quality
      FROM kept k
      JOIN (SELECT fp, min({id_col}) AS mid FROM kept GROUP BY fp) m
        ON k.fp = m.fp AND k.{id_col} = m.mid
    )
    SELECT {id_col}, n_tokens, quality FROM survivors
    WHERE {id_col} NOT IN (SELECT id_b FROM ({pairs}))
    """


def heaps_law_fit(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_checkpoints: int = 32,
) -> DataFrame:
    """Heaps'-law vocabulary-growth fit ``V(n) ~ K * n^beta`` (Heaps
    1978; Herdan 1960) — the corpus-health readout beside the Zipf
    token fit (q105): sublinear vocabulary growth (beta ~ 0.4-0.6 for
    natural text) is what dedup'd organic corpora look like; beta near
    1 flags boilerplate/ID-like token floods, beta near 0 flags a
    template loop.

    The growth curve is evaluated at ``num_checkpoints`` document-id
    grid points (ingestion order): at checkpoint g, ``n`` = tokens in
    docs with id <= g and ``V`` = distinct tokens whose FIRST
    occurrence (min doc id per token) is <= g — so the whole curve
    costs two bounded-grid prefix folds, never a per-doc running
    distinct count. The log-log OLS fit runs over the checkpoint
    frame in nano-unit integers: ``beta = (C*Sxy - Sx*Sy) /
    (C*Sxx - Sx^2)`` with every sum an exact DECIMAL(38,0)/HUGEINT
    fold of ``round(ln * 1e9)`` terms, fold-order-free; K and r2 are
    closed forms of the same sums.

    Returns one row: ``(points, total_tokens, vocab, beta, k, r2)``;
    fit fields NULL when fewer than 2 usable checkpoints (empty corpus
    or a single doc-id value).

    Scale: one token explode feeding (a) a per-token min-doc-id agg
    and (b) per-doc token counts; both reduce onto the C-bucket grid
    by integer bucket index and prefix-sum over the BOUNDED grid —
    no data-sized window, no global sort (the q157/q186 bucket-prefix
    device applied to first-occurrence counting).
    """
    from pyspark.sql.window import Window

    C = int(num_checkpoints)
    if C < 2:
        raise ValueError("heaps_law_fit: num_checkpoints must be >= 2")
    nn = df.where(
        F.col(text_col).isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).cast("bigint").alias("__id"),
        tx.tokens(F.col(text_col)).alias("__toks"),
    )
    # one row (id range); column pruning keeps its scan tokenize-free,
    # and the checkpoint stops it re-running per consumer
    st = stage(nn.agg(
        F.min("__id").alias("__lo"), F.max("__id").alias("__hi")
    ))
    # bucket index 0..C-1 by doc id position in [lo, hi]
    def bucket(idc):
        return (
            F.when(F.col("__hi") == F.col("__lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor(
                        (idc - F.col("__lo")).cast("double")
                        / (F.col("__hi") - F.col("__lo")).cast("double")
                        * F.lit(C)
                    ).cast("int"),
                    F.lit(C - 1),
                )
            )
        )

    # ONE tokenize+explode pass serves BOTH prefix folds (the audited
    # plan tokenized the corpus twice — once for first occurrences,
    # once for per-doc counts): bucket the exploded tokens immediately
    # (the bucket index is a nondecreasing function of doc id, so
    # bucket(min id) == min(bucket(id)) — first occurrences survive the
    # regrouping exactly), reduce to the vocab x C frame, checkpoint
    # it, and read both V(bucket) and token mass off that.
    doc_tok = nn.select("__id", F.explode("__toks").alias("__tok"))
    tb = stage(
        doc_tok.crossJoin(F.broadcast(st))
        .groupBy(F.col("__tok"), bucket(F.col("__id")).alias("__b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__c"))
    )
    vper = (
        tb.groupBy("__tok")
        .agg(F.min("__b").alias("__fb"))
        .groupBy(F.col("__fb").alias("__b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("__vb"))
    )
    tper = tb.groupBy("__b").agg(
        F.sum("__c").cast("bigint").alias("__tb")
    )
    spark = df.sparkSession
    grid = spark.range(C).select(F.col("id").cast("int").alias("__b"))
    w = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, 0)
    pts = (
        grid.join(F.broadcast(vper), "__b", "left")
        .join(F.broadcast(tper), "__b", "left")
        .select(
            "__b",
            F.sum(F.coalesce(F.col("__tb"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("__n"),
            F.sum(F.coalesce(F.col("__vb"), F.lit(0)))
            .over(w)
            .cast("bigint")
            .alias("__v"),
        )
        .where((F.col("__n") > 0) & (F.col("__v") > 0))
    )
    x = to_fixed(F.log(F.col("__n").cast("double")), 9, wide=True)
    y = to_fixed(F.log(F.col("__v").cast("double")), 9, wide=True)
    fold = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("__c"),
        F.max("__n").cast("bigint").alias("__ntot"),
        F.max("__v").cast("bigint").alias("__vtot"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * y).alias("__sxy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
    )
    c = F.col("__c")
    dxx = (
        c.cast("double") * F.col("__sxx").cast("double")
        - F.col("__sx").cast("double") * F.col("__sx").cast("double")
    )
    dyy = (
        c.cast("double") * F.col("__syy").cast("double")
        - F.col("__sy").cast("double") * F.col("__sy").cast("double")
    )
    dxy = (
        c.cast("double") * F.col("__sxy").cast("double")
        - F.col("__sx").cast("double") * F.col("__sy").cast("double")
    )
    beta = dxy / dxx
    lnk = (
        F.col("__sy").cast("double") - beta * F.col("__sx").cast("double")
    ) / (c.cast("double") * F.lit(1e9))
    ok = (c >= 2) & (dxx > 0)
    return fold.select(
        c.alias("points"),
        F.col("__ntot").alias("total_tokens"),
        F.col("__vtot").alias("vocab"),
        F.when(ok, round_to(beta, 6)).alias("beta"),
        F.when(ok, round_to(F.exp(lnk), 6)).alias(
            "k"
        ),
        F.when(
            ok & (dyy > 0),
            round_to(dxy * dxy / (dxx * dyy), 6),
        ).alias("r2"),
    )


def heaps_law_fit_sql(
    table_expr: str,
    text_col: str,
    id_col: str,
    num_checkpoints: int = 32,
) -> str:
    """DuckDB twin of :func:`heaps_law_fit` — deliberately the PLAIN
    formulation: each checkpoint's (n, V) is computed by a direct
    filtered aggregate over the corpus (count distinct tokens in docs
    with id <= g), so the oracle certifies the bucket-prefix
    decomposition itself, not just the fit arithmetic."""
    C = int(num_checkpoints)
    toks = tx.tokens_sql(text_col)
    return f"""
    WITH nn AS MATERIALIZED (
        SELECT CAST({id_col} AS BIGINT) AS __id, {toks} AS __toks
        FROM ({table_expr})
        WHERE {text_col} IS NOT NULL AND {id_col} IS NOT NULL
    ), st AS MATERIALIZED (
        SELECT min(__id) AS __lo, max(__id) AS __hi FROM nn
    ), doc_tok AS MATERIALIZED (
        SELECT __id, unnest(__toks) AS __tok FROM nn
    ), grid AS (
        SELECT CAST(gs.b AS INT) AS __b
        FROM generate_series(0, {C - 1}) AS gs(b)
    ), pts0 AS (
        SELECT g.__b,
               (SELECT CAST(COALESCE(sum(len(n2.__toks)), 0) AS BIGINT)
                FROM nn n2 CROSS JOIN st
                WHERE CASE WHEN st.__hi = st.__lo THEN 0
                           ELSE LEAST(CAST(floor(
                               CAST(n2.__id - st.__lo AS DOUBLE)
                               / CAST(st.__hi - st.__lo AS DOUBLE)
                               * {C}) AS INT), {C - 1}) END <= g.__b
               ) AS __n,
               (SELECT CAST(count(DISTINCT d2.__tok) AS BIGINT)
                FROM doc_tok d2 CROSS JOIN st
                WHERE CASE WHEN st.__hi = st.__lo THEN 0
                           ELSE LEAST(CAST(floor(
                               CAST(d2.__id - st.__lo AS DOUBLE)
                               / CAST(st.__hi - st.__lo AS DOUBLE)
                               * {C}) AS INT), {C - 1}) END <= g.__b
               ) AS __v
        FROM grid g
    ), pts AS (
        SELECT __b, __n, __v FROM pts0 WHERE __n > 0 AND __v > 0
    ), terms AS (
        SELECT __n, __v,
               CAST(round(ln(CAST(__n AS DOUBLE)) * 1e9, 0) AS HUGEINT)
                   AS __x,
               CAST(round(ln(CAST(__v AS DOUBLE)) * 1e9, 0) AS HUGEINT)
                   AS __y
        FROM pts
    ), fold AS (
        SELECT CAST(count(*) AS BIGINT) AS __c,
               CAST(max(__n) AS BIGINT) AS __ntot,
               CAST(max(__v) AS BIGINT) AS __vtot,
               sum(__x) AS __sx, sum(__y) AS __sy,
               sum(__x * __y) AS __sxy,
               sum(__x * __x) AS __sxx,
               sum(__y * __y) AS __syy
        FROM terms
    ), d AS (
        SELECT *,
               CAST(__c AS DOUBLE) * CAST(__sxx AS DOUBLE)
                   - CAST(__sx AS DOUBLE) * CAST(__sx AS DOUBLE) AS __dxx,
               CAST(__c AS DOUBLE) * CAST(__syy AS DOUBLE)
                   - CAST(__sy AS DOUBLE) * CAST(__sy AS DOUBLE) AS __dyy,
               CAST(__c AS DOUBLE) * CAST(__sxy AS DOUBLE)
                   - CAST(__sx AS DOUBLE) * CAST(__sy AS DOUBLE) AS __dxy
        FROM fold
    )
    SELECT __c AS points, __ntot AS total_tokens, __vtot AS vocab,
           CASE WHEN __c >= 2 AND __dxx > 0 THEN
             round(__dxy / __dxx * 1e6, 0) / 1e6 END AS beta,
           CASE WHEN __c >= 2 AND __dxx > 0 THEN
             round(exp((CAST(__sy AS DOUBLE)
                        - (__dxy / __dxx) * CAST(__sx AS DOUBLE))
                       / (CAST(__c AS DOUBLE) * 1e9)) * 1e6, 0) / 1e6
           END AS k,
           CASE WHEN __c >= 2 AND __dxx > 0 AND __dyy > 0 THEN
             round(__dxy * __dxy / (__dxx * __dyy) * 1e6, 0) / 1e6
           END AS r2
    FROM d
    """


def readability_census(
    df: DataFrame,
    text_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group Flesch Reading Ease census (Flesch 1948) with a
    DETERMINISTIC syllable heuristic — the readability dimension of
    corpus quality scoring, beside length/punct/stopword tiers (q86):

        fre = 206.835 - 1.015*(words/sentences)
                      - 84.6*(syllables/words)

    with ``words`` = ``[a-z]+`` runs of the lowercased text,
    ``sentences`` = max(1, runs of ``[.!?]+``), and
    ``syllables(word)`` = max(1, runs of ``[aeiouy]+``) — the standard
    vowel-group approximation (true syllabification needs a
    dictionary; this heuristic is exact BY DEFINITION here and
    identical in both engines).

    Returns one row per group: ``(group, n_docs, n_unscored,
    avg_fre, n_difficult, n_standard, n_easy)`` where bands split at
    fre < 50 / 50-70 / >= 70 (Flesch's own anchors), ``n_unscored``
    counts zero-word docs (NULL fre, excluded from avg and bands).

    Exactness: word/sentence/syllable counts are exact integers;
    per-doc fre is a scalar IEEE chain on those integers (identical
    expression text both engines), immediately micro-unit-rounded to
    BIGINT so the group avg is a fold-order-free integer mean.

    Scale: pure per-row scalar work (regexp + bounded list fold)
    then ONE group-keyed agg — no windows, no joins, map-side
    combinable.
    """
    words = F.expr(
        f"regexp_extract_all(lower({text_col}), '[a-z]+', 0)"
    )
    n_words = F.size(words).cast("bigint")
    n_sent = F.greatest(
        F.lit(1).cast("bigint"),
        F.size(
            F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)")
        ).cast("bigint"),
    )
    n_syl = F.expr(
        f"""aggregate(
            transform(regexp_extract_all(lower({text_col}),
                                         '[a-z]+', 0),
                w -> greatest(CAST(1 AS BIGINT),
                     CAST(size(regexp_extract_all(w, '[aeiouy]+', 0))
                          AS BIGINT))),
            CAST(0 AS BIGINT), (acc, x) -> acc + x)"""
    )
    fre = (
        F.lit(206.835).cast("double")
        - F.lit(1.015).cast("double")
        * (n_words.cast("double") / n_sent.cast("double"))
        - F.lit(84.6).cast("double")
        * (n_syl.cast("double") / n_words.cast("double"))
    )
    staged = df.select(
        F.col(group_col).alias("group"),
        F.when(
            n_words > 0,
            to_fixed(fre, 6),
        ).alias("__fm"),
    )
    scored = F.when(F.col("__fm").isNotNull(), 1).otherwise(0)
    return staged.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(1 - scored).cast("bigint").alias("n_unscored"),
        round_to(
            F.sum("__fm").cast("double")
            / F.sum(scored).cast("double")
            / F.lit(1e6),
            6,
        ).alias("avg_fre"),
        F.sum(
            F.when(F.col("__fm") < 50 * 1_000_000, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_difficult"),
        F.sum(
            F.when(
                (F.col("__fm") >= 50 * 1_000_000)
                & (F.col("__fm") < 70 * 1_000_000),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_standard"),
        F.sum(
            F.when(F.col("__fm") >= 70 * 1_000_000, 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_easy"),
    )


def readability_census_sql(
    table_expr: str,
    text_col: str,
    group_col: str,
) -> str:
    """DuckDB twin of :func:`readability_census` — identical regexes,
    bounded list fold, micro-unit rounding and integer band edges."""
    return f"""
    WITH __staged AS (
        SELECT {group_col} AS "group",
               CASE WHEN __w > 0 THEN
                    CAST(round((CAST(206.835 AS DOUBLE)
                         - CAST(1.015 AS DOUBLE)
                           * (CAST(__w AS DOUBLE)
                              / CAST(__se AS DOUBLE))
                         - CAST(84.6 AS DOUBLE)
                           * (CAST(__sy AS DOUBLE)
                              / CAST(__w AS DOUBLE))) * 1e6, 0)
                         AS BIGINT) END AS __fm
        FROM (
            SELECT {group_col},
                   CAST(len(regexp_extract_all(lower({text_col}),
                            '[a-z]+')) AS BIGINT) AS __w,
                   greatest(CAST(1 AS BIGINT),
                       CAST(len(regexp_extract_all({text_col},
                            '[.!?]+')) AS BIGINT)) AS __se,
                   CAST(list_sum(list_transform(
                        regexp_extract_all(lower({text_col}),
                                           '[a-z]+'),
                        __wd -> greatest(CAST(1 AS BIGINT),
                            CAST(len(regexp_extract_all(__wd,
                                 '[aeiouy]+')) AS BIGINT))))
                        AS BIGINT) AS __sy
            FROM ({table_expr})
        )
    )
    SELECT "group",
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN __fm IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_unscored,
           round(CAST(sum(__fm) AS BIGINT)
                 / CAST(sum(CASE WHEN __fm IS NOT NULL THEN 1
                            ELSE 0 END) AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS avg_fre,
           CAST(sum(CASE WHEN __fm < 50000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_difficult,
           CAST(sum(CASE WHEN __fm >= 50000000 AND __fm < 70000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_standard,
           CAST(sum(CASE WHEN __fm >= 70000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_easy
    FROM __staged
    GROUP BY 1
    """


def textrank_keywords(
    df: DataFrame,
    text_col: str,
    top_k: int = 30,
    iters: int = 6,
    min_len: int = 4,
) -> DataFrame:
    """Corpus-level TextRank keyword extraction (Mihalcea & Tarau
    2004): words are nodes, adjacency in the filtered token stream is
    an (undirected) edge, and PageRank centrality ranks keywords —
    built ENTIRELY by composition: the staged tokenizer
    (functions/text.tokens, the q163 HOF-staging lesson) feeding the
    q117 micro-unit PageRank (operators/graph.pagerank).

    Filter is the deterministic stand-in for the usual POS gate:
    tokens matching ``^[a-z]{min_len,}$``. Window = 2 (adjacent kept
    words), self-loops dropped, duplicate edges count once (the
    pagerank contract).

    Returns the ``top_k`` rows: ``(token, rank_micro)`` by
    (rank DESC, token) — a deterministic total order.

    Exactness: inherits pagerank's integer micro-unit ranks — no
    float folds anywhere.

    Scale: tokenize/explode is map-side; the edge list dedups with
    one shuffle bounded by distinct co-occurrences (vocabulary^2
    worst case, corpus-sublinear in practice); each PageRank
    iteration's one exchange is a node-keyed aggregate over edges
    partitioned once (see ``graph.pagerank``); top-k is
    TakeOrderedAndProject, never a global sort.
    """
    from pytrousse_spark.functions.text import tokens
    from pytrousse_spark.operators.graph import pagerank

    pat = f"^[a-z]{{{min_len},}}$"
    toks = df.select(
        F.filter(
            tokens(F.col(text_col)), lambda t: t.rlike(pat)
        ).alias("__tk")
    ).where(F.size("__tk") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(__tk) - 2),"
                " i -> struct(__tk[i] AS a, __tk[i + 1] AS b))"
            )
        ).alias("__p")
    ).select(F.col("__p.a").alias("a"), F.col("__p.b").alias("b"))
    und = pairs.where(F.col("a") != F.col("b"))
    edges = (
        und.unionByName(
            und.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
    )
    pr = pagerank(edges, "a", "b", iters=iters)
    return (
        pr.select(F.col("node").alias("token"), "rank_micro")
        .orderBy(F.desc("rank_micro"), "token")
        .limit(top_k)
    )


def textrank_keywords_sql(
    table_expr: str,
    text_col: str,
    top_k: int = 30,
    iters: int = 6,
    min_len: int = 4,
) -> str:
    """DuckDB twin of :func:`textrank_keywords` — identical tokenize/
    filter/pair chain feeding the q117 pagerank replay."""
    from pytrousse_spark.functions.text import tokens_sql
    from pytrousse_spark.operators.graph import pagerank_sql

    tk = tokens_sql(text_col)
    pat = f"^[a-z]{{{min_len},}}$"
    edges = f"""
        WITH __tks AS (
            SELECT list_filter({tk},
                   __w -> regexp_matches(__w, {sql_quote(pat)})) AS __tk
            FROM ({table_expr})
        ), __pairs AS (
            -- parallel unnest zips the two shifted slices
            SELECT unnest(list_slice(__tk, 1, len(__tk) - 1)) AS a,
                   unnest(list_slice(__tk, 2, len(__tk))) AS b
            FROM __tks WHERE len(__tk) >= 2
        ), __und AS (
            SELECT a, b FROM __pairs WHERE a <> b
        )
        SELECT DISTINCT a, b FROM (
            SELECT a, b FROM __und
            UNION ALL
            SELECT b AS a, a AS b FROM __und
        )
    """
    inner = pagerank_sql(edges, "a", "b", iters=iters)
    return f"""
    SELECT node AS token, rank_micro FROM ({inner})
    ORDER BY rank_micro DESC, token
    LIMIT {top_k}
    """


def skipgram_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    subsample_t: float = 1e-3,
    min_count: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Skip-gram (center, context) training-pair table with Mikolov
    2013 frequency subsampling — the word2vec/SGNS DATA-PREP stage:
    what the trainer consumes is exactly this table, so generating it
    in-engine (instead of streaming text through a Python tokenizer)
    is the 100 TB path.

        p_keep(w) = min(1, sqrt(t/f_w) + t/f_w)      f_w = corpus freq
        keep an OCCURRENCE iff h60(seed|doc#pos#tok) % 1e6
                                < floor(p_keep * 1e6)
        pairs: surviving occurrences of the same doc with
               1 <= pos_ctx - pos_ctr <= window, emitted BOTH
               directions (the symmetric-window SGNS convention);
               positions are pre-subsample ORIGINAL positions (the
               fixed-window variant; word2vec's compacted-sequence
               widening is a documented difference).

    Exactness: f_w and p_keep are divisions/sqrt of identical exact
    integers -> identical doubles -> identical floor thresholds; the
    keep decision is an integer comparison on the portable md5-based
    h60, so BOTH engines drop the same occurrences. Counts exact
    BIGINT.

    Scale: tokens stage once (the HOF lesson, text.py:36); the
    frequency table is vocab-sized and broadcast; the pair join is
    doc-keyed with a +-window band filter — per-doc cost bounded by
    doc length x window, never corpus^2. Output bounded by
    ``min_count``.

    Returns ``(center, context, n_pairs)`` ordered by n_pairs DESC,
    center, context.
    """
    from pytrousse_spark.functions.hashing import h60_seeded
    from pytrousse_spark.functions.text import tokens

    staged = df.select(
        F.col(id_col).alias("__doc"), tokens(F.col(text_col)).alias("__tk")
    )
    # occ feeds the frequency table AND the subsample filter, freq
    # feeds the total AND the threshold — checkpoint both so the
    # tokenize+explode pass runs once (was 3x in the audited plan)
    occ = stage_unbounded(
        staged.select(
            "__doc", F.posexplode("__tk").alias("__pos", "__tok")
        )
    )  # per-occurrence rows: reliable checkpoint, not executor blocks
    freq = stage(occ.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    ))
    total = freq.agg(
        F.sum("__cnt").cast("bigint").alias("__total")
    )
    fw = freq.crossJoin(F.broadcast(total)).select(
        "__tok",
        (
            F.col("__cnt").cast("double")
            / F.col("__total").cast("double")
        ).alias("__f"),
    )
    p = F.least(
        F.lit(1.0),
        F.sqrt(F.lit(subsample_t) / F.col("__f"))
        + F.lit(subsample_t) / F.col("__f"),
    )
    thr = fw.select(
        "__tok", F.floor(p * F.lit(1e6)).cast("bigint").alias("__thr")
    )
    kept = (
        occ.join(F.broadcast(thr), "__tok")
        .where(
            F.pmod(
                h60_seeded(
                    F.concat_ws("#", F.col("__doc"), F.col("__pos"), F.col("__tok")),
                    seed,
                ),
                F.lit(1_000_000),
            )
            < F.col("__thr")
        )
        .select("__doc", "__pos", "__tok")
    )
    # feeds BOTH sides of the window self-join; per-occurrence rows ->
    # reliable checkpoint (stage_unbounded), not executor blocks
    kept = stage_unbounded(kept)
    ctr = kept.select(
        "__doc", F.col("__pos").alias("__pa"), F.col("__tok").alias("__wa")
    )
    ctx = kept.select(
        "__doc", F.col("__pos").alias("__pb"), F.col("__tok").alias("__wb")
    )
    banded = ctr.join(ctx, "__doc").where(
        (F.col("__pb") - F.col("__pa") >= 1)
        & (F.col("__pb") - F.col("__pa") <= window)
    )
    # both directions from ONE execution of the window join (the
    # unionAll form ran it twice): same multiset of (center, context)
    directed = banded.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("__wa").alias("center"),
                    F.col("__wb").alias("context"),
                ),
                F.struct(
                    F.col("__wb").alias("center"),
                    F.col("__wa").alias("context"),
                ),
            )
        ).alias("__p")
    ).select("__p.center", "__p.context")
    return (
        directed.groupBy("center", "context")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .where(F.col("n_pairs") >= min_count)
        .orderBy(F.col("n_pairs").desc(), "center", "context")
    )


def skipgram_pairs_sql(
    table_expr: str,
    id_col: str,
    text_col: str,
    window: int = 3,
    subsample_t: float = 1e-3,
    min_count: int = 5,
    seed: int = 42,
) -> str:
    """DuckDB twin of :func:`skipgram_pairs` — parallel-unnest
    positions, identical h60 subsample gate and band join."""
    from pytrousse_spark.functions.hashing import h60_seeded_sql
    from pytrousse_spark.functions.text import tokens_sql

    tk = tokens_sql(text_col)
    h = h60_seeded_sql("__doc || '#' || __pos || '#' || __tok", seed)
    return f"""
    WITH __staged AS MATERIALIZED (
        SELECT {id_col} AS __doc, {tk} AS __tk FROM ({table_expr})
    ), __occ AS MATERIALIZED (
        SELECT __doc,
               unnest(range(0, len(__tk))) AS __pos,
               unnest(__tk) AS __tok
        FROM __staged
    ), __freq AS (
        SELECT __tok, CAST(count(*) AS BIGINT) AS __cnt FROM __occ
        GROUP BY 1
    ), __thr AS MATERIALIZED (
        SELECT __tok,
               CAST(floor(least(CAST(1.0 AS DOUBLE),
                    sqrt({subsample_t} / __f) + {subsample_t} / __f)
                    * 1e6) AS BIGINT) AS __thr
        FROM (SELECT __tok,
                     CAST(__cnt AS DOUBLE)
                     / CAST((SELECT sum(__cnt) FROM __freq) AS DOUBLE)
                         AS __f
              FROM __freq)
    ), __kept AS MATERIALIZED (
        SELECT __doc, __pos, __tok
        FROM (SELECT o.__doc, o.__pos, o.__tok AS __tok, t.__thr
              FROM __occ o JOIN __thr t ON t.__tok = o.__tok)
        WHERE ({h}) % 1000000 < __thr
    ), __banded AS (
        SELECT a.__tok AS __wa, b.__tok AS __wb
        FROM __kept a JOIN __kept b
          ON a.__doc = b.__doc
         AND b.__pos - a.__pos BETWEEN 1 AND {window}
    )
    SELECT center, context, CAST(count(*) AS BIGINT) AS n_pairs
    FROM (
        SELECT __wa AS center, __wb AS context FROM __banded
        UNION ALL
        SELECT __wb AS center, __wa AS context FROM __banded
    )
    GROUP BY 1, 2
    HAVING count(*) >= {min_count}
    ORDER BY n_pairs DESC, center, context
    """


def skipgram_negatives(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 3,
    subsample_t: float = 1e-3,
    negatives: int = 5,
    min_count: int = 5,
    seed: int = 42,
) -> DataFrame:
    """Negative-sample census for the q252 skip-gram pair table — the
    OTHER half of the SGNS data-prep stage (Mikolov 2013): every
    directed training pair draws ``negatives`` words from the
    unigram^0.75 distribution,

        mass(w) = floor(count(w)^0.75 * 1e6)        (exact integer)
        r = h60(seed+1 | doc#center_pos#context_pos#slot) % sum(mass)
        negative = the word whose cumulative-mass range holds r

    so the trainer's (center, context, negatives...) records can be
    assembled by joining this census's draw stream with q252's pairs.
    The positive word is NOT excluded from the draw (word2vec's own
    convention).

    Exactness: masses, the cumulative ranges and every draw are
    integers on the portable md5-based h60 — both engines draw the
    SAME word for the same (pair, slot); counts exact BIGINT.

    Scale: the mass/cumulative table is vocab-sized and BROADCAST —
    the draw-to-word mapping is a broadcast range join (the q165
    inverse-CDF device), so the big side never shuffles; draws grow
    as pairs x negatives, linear in the corpus.

    Returns ``(center, negative, n_draws)`` (draws with the same
    center aggregated across its pairs), n_draws >= min_count,
    ordered n_draws DESC, center, negative.
    """
    from pytrousse_spark.functions.hashing import h60_seeded
    from pytrousse_spark.functions.text import tokens

    staged = df.select(
        F.col(id_col).alias("__doc"), tokens(F.col(text_col)).alias("__tk")
    )
    # same staging discipline as skipgram_pairs: occ feeds freq + the
    # subsample filter; freq feeds total/threshold/mass/cumulative —
    # checkpoint both so the corpus tokenizes once (was 4x audited)
    occ = stage_unbounded(
        staged.select(
            "__doc", F.posexplode("__tk").alias("__pos", "__tok")
        )
    )  # per-occurrence rows: reliable checkpoint, not executor blocks
    freq = stage(occ.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    ))
    total = freq.agg(F.sum("__cnt").cast("bigint").alias("__total"))
    p = F.least(
        F.lit(1.0),
        F.sqrt(
            F.lit(subsample_t)
            / (
                F.col("__cnt").cast("double")
                / F.col("__total").cast("double")
            )
        )
        + F.lit(subsample_t)
        / (
            F.col("__cnt").cast("double")
            / F.col("__total").cast("double")
        ),
    )
    thr = freq.crossJoin(F.broadcast(total)).select(
        "__tok", F.floor(p * F.lit(1e6)).cast("bigint").alias("__thr")
    )
    kept = (
        occ.join(F.broadcast(thr), "__tok")
        .where(
            F.pmod(
                h60_seeded(
                    F.concat_ws(
                        "#", F.col("__doc"), F.col("__pos"), F.col("__tok")
                    ),
                    seed,
                ),
                F.lit(1_000_000),
            )
            < F.col("__thr")
        )
        .select("__doc", "__pos", "__tok")
    )
    # feeds BOTH sides of the window self-join; per-occurrence rows ->
    # reliable checkpoint (stage_unbounded), not executor blocks
    kept = stage_unbounded(kept)
    ctr = kept.select(
        "__doc", F.col("__pos").alias("__pa"), F.col("__tok").alias("__wa")
    )
    ctx = kept.select(
        "__doc", F.col("__pos").alias("__pb"), F.col("__tok").alias("__wb")
    )
    banded = ctr.join(ctx, "__doc").where(
        (F.col("__pb") - F.col("__pa") >= 1)
        & (F.col("__pb") - F.col("__pa") <= window)
    )
    # both directions from ONE execution of the window join
    directed = banded.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("__pa").alias("__cp"),
                    F.col("__pb").alias("__xp"),
                    F.col("__wa").alias("center"),
                ),
                F.struct(
                    F.col("__pb").alias("__cp"),
                    F.col("__pa").alias("__xp"),
                    F.col("__wb").alias("center"),
                ),
            )
        ).alias("__d"),
        "__doc",
    ).select(
        "__doc",
        F.col("__d.__cp").alias("__cp"),
        F.col("__d.__xp").alias("__xp"),
        F.col("__d.center").alias("center"),
    )
    mass = freq.select(
        "__tok",
        F.floor(
            F.pow(F.col("__cnt").cast("double"), F.lit(0.75))
            * F.lit(1e6)
        )
        .cast("bigint")
        .alias("__m"),
    )
    from pyspark.sql import Window

    wv = Window.orderBy("__tok").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = mass.select(
        "__tok",
        F.coalesce(F.sum("__m").over(wv), F.lit(0))
        .cast("bigint")
        .alias("__lo"),
        "__m",
    ).select(
        "__tok", "__lo", (F.col("__lo") + F.col("__m")).alias("__hi")
    )
    tot_mass = mass.agg(F.sum("__m").cast("bigint").alias("__tm"))
    draws = (
        directed.select(
            "__doc",
            "__cp",
            "__xp",
            "center",
            F.explode(
                F.sequence(F.lit(1), F.lit(negatives))
            ).alias("__slot"),
        )
        .crossJoin(F.broadcast(tot_mass))
        .select(
            "center",
            F.pmod(
                h60_seeded(
                    F.concat_ws(
                        "#",
                        F.col("__doc"),
                        F.col("__cp"),
                        F.col("__xp"),
                        F.col("__slot"),
                    ),
                    seed + 1,
                ),
                F.col("__tm"),
            ).alias("__r"),
            F.col("__tm"),
        )
    )
    # draw-to-word mapping as a broadcast HASH join, not a nested loop
    # over the vocab-sized cumulative table (the q165 inverse-CDF
    # device, pure-integer form): key both sides by the draw bucket
    # r div w with w = ceil(total_mass / 1024); each cumulative range
    # [lo, hi) expands to exactly the buckets it overlaps, the exact
    # range predicate stays as the join filter, and every draw matches
    # precisely one word as before.
    _K = 1024
    _w = f"CAST(((__tm + {_K} - 1) div {_K}) AS BIGINT)"
    gx = (
        cum.crossJoin(F.broadcast(tot_mass))
        .select(
            "__tok",
            "__lo",
            "__hi",
            F.explode(
                F.sequence(
                    F.expr(f"__lo div {_w}"),
                    F.expr(f"(__hi - 1) div {_w}"),
                )
            ).alias("__kb"),
        )
    )
    matched = draws.withColumn(
        "__kbr", F.expr(f"__r div {_w}")
    ).join(
        F.broadcast(gx),
        (F.col("__kbr") == F.col("__kb"))
        & (F.col("__r") >= F.col("__lo"))
        & (F.col("__r") < F.col("__hi")),
    )
    return (
        matched.groupBy(
            "center", F.col("__tok").alias("negative")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_draws"))
        .where(F.col("n_draws") >= min_count)
        .orderBy(F.col("n_draws").desc(), "center", "negative")
    )


def skipgram_negatives_sql(
    table_expr: str,
    id_col: str,
    text_col: str,
    window: int = 3,
    subsample_t: float = 1e-3,
    negatives: int = 5,
    min_count: int = 5,
    seed: int = 42,
) -> str:
    """DuckDB twin of :func:`skipgram_negatives` — identical subsample
    gate, band join, unigram^0.75 cumulative ranges and h60 draws."""
    from pytrousse_spark.functions.hashing import h60_seeded_sql
    from pytrousse_spark.functions.text import tokens_sql

    tk = tokens_sql(text_col)
    h_keep = h60_seeded_sql("__doc || '#' || __pos || '#' || __tok", seed)
    h_draw = h60_seeded_sql(
        "__doc || '#' || __cp || '#' || __xp || '#' || __slot", seed + 1
    )
    return f"""
    WITH __staged AS MATERIALIZED (
        SELECT {id_col} AS __doc, {tk} AS __tk FROM ({table_expr})
    ), __occ AS MATERIALIZED (
        SELECT __doc,
               unnest(range(0, len(__tk))) AS __pos,
               unnest(__tk) AS __tok
        FROM __staged
    ), __freq AS MATERIALIZED (
        SELECT __tok, CAST(count(*) AS BIGINT) AS __cnt FROM __occ
        GROUP BY 1
    ), __thr AS MATERIALIZED (
        SELECT __tok,
               CAST(floor(least(CAST(1.0 AS DOUBLE),
                    sqrt({subsample_t} / __f) + {subsample_t} / __f)
                    * 1e6) AS BIGINT) AS __thr
        FROM (SELECT __tok,
                     CAST(__cnt AS DOUBLE)
                     / CAST((SELECT sum(__cnt) FROM __freq) AS DOUBLE)
                         AS __f
              FROM __freq)
    ), __kept AS MATERIALIZED (
        SELECT __doc, __pos, __tok
        FROM (SELECT o.__doc, o.__pos, o.__tok AS __tok, t.__thr
              FROM __occ o JOIN __thr t ON t.__tok = o.__tok)
        WHERE ({h_keep}) % 1000000 < __thr
    ), __banded AS MATERIALIZED (
        SELECT a.__doc, a.__pos AS __pa, a.__tok AS __wa,
               b.__pos AS __pb, b.__tok AS __wb
        FROM __kept a JOIN __kept b
          ON a.__doc = b.__doc
         AND b.__pos - a.__pos BETWEEN 1 AND {window}
    ), __directed AS (
        SELECT __doc, __pa AS __cp, __pb AS __xp, __wa AS center
        FROM __banded
        UNION ALL
        SELECT __doc, __pb AS __cp, __pa AS __xp, __wb AS center
        FROM __banded
    ), __mass AS (
        SELECT __tok,
               CAST(floor(pow(CAST(__cnt AS DOUBLE), 0.75) * 1e6)
                    AS BIGINT) AS __m
        FROM __freq
    ), __cum AS MATERIALIZED (
        SELECT __tok,
               CAST(COALESCE(sum(__m) OVER (ORDER BY __tok
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) AS BIGINT) AS __lo,
               CAST(COALESCE(sum(__m) OVER (ORDER BY __tok
                    ROWS BETWEEN UNBOUNDED PRECEDING
                    AND 1 PRECEDING), 0) + __m AS BIGINT) AS __hi
        FROM __mass
    ), __draws AS MATERIALIZED (
        SELECT center,
               ({h_draw}) % (SELECT sum(__m) FROM __mass) AS __r
        FROM (SELECT d.*, unnest(range(1, {negatives} + 1)) AS __slot
              FROM __directed d)
    )
    SELECT center, c.__tok AS negative,
           CAST(count(*) AS BIGINT) AS n_draws
    FROM __draws d JOIN __cum c
      ON d.__r >= c.__lo AND d.__r < c.__hi
    GROUP BY 1, 2
    HAVING count(*) >= {min_count}
    ORDER BY n_draws DESC, center, negative
    """


def vocab_richness(
    df: DataFrame,
    text_col: str,
) -> DataFrame:
    """Unseen-vocabulary estimators from the frequency-of-frequencies
    profile — the "how much tail have we NOT crawled yet" readout
    beside the Heaps growth fit (q203), which needs a full growth
    curve; these need only the corpus as it stands:

        F_k    = # distinct tokens seen exactly k times
        Chao1  = V + F1^2 / (2 F2)           (Chao 1984 richness
                                              lower bound; V + F1(F1-1)/2
                                              when F2 = 0, the
                                              bias-corrected form)
        GT unseen mass = F1 / N              (Good 1953: probability
                                              the NEXT token is novel)

    Returns one row ``(total_tokens, vocab, f1, f2, chao1,
    gt_unseen_mass)``, round-6 on the two estimates; NULL estimates
    on an empty corpus.

    Exactness: two exact integer aggs (token counts, then counts of
    counts); both estimates are single closed forms of four exact
    integers.

    Scale: one token explode -> one (token) agg -> one tiny
    frequency-of-frequencies agg; no join, no window.
    """
    from pytrousse_spark.functions.text import tokens

    staged = df.select(tokens(F.col(text_col)).alias("__tk"))
    occ = staged.select(F.explode("__tk").alias("__tok"))
    freq = occ.groupBy("__tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("__cnt")
    )
    fof = freq.agg(
        F.sum("__cnt").cast("bigint").alias("total_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("__cnt") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("f1"),
        F.sum(F.when(F.col("__cnt") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("f2"),
    )
    v = F.col("vocab").cast("double")
    f1 = F.col("f1").cast("double")
    f2 = F.col("f2").cast("double")
    n = F.col("total_tokens").cast("double")
    chao1 = F.when(
        F.col("f2") > 0, v + f1 * f1 / (F.lit(2.0) * f2)
    ).otherwise(
        F.when(
            F.col("total_tokens") > 0,
            v + f1 * (f1 - F.lit(1.0)) / F.lit(2.0),
        )
    )
    gt = F.when(F.col("total_tokens") > 0, f1 / n)
    return fof.select(
        "total_tokens",
        "vocab",
        "f1",
        "f2",
        round_to(chao1, 6).alias("chao1"),
        round_to(gt, 6).alias("gt_unseen_mass"),
    )


def vocab_richness_sql(
    table_expr: str,
    text_col: str,
) -> str:
    """DuckDB twin of :func:`vocab_richness` — identical tokenize,
    frequency-of-frequencies and closed forms."""
    from pytrousse_spark.functions.text import tokens_sql

    tk = tokens_sql(text_col)
    return f"""
    WITH __occ AS (
        SELECT unnest({tk}) AS __tok FROM ({table_expr})
    ), __freq AS (
        SELECT __tok, CAST(count(*) AS BIGINT) AS __cnt
        FROM __occ GROUP BY 1
    ), __fof AS (
        SELECT CAST(sum(__cnt) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS vocab,
               CAST(sum(CASE WHEN __cnt = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS f1,
               CAST(sum(CASE WHEN __cnt = 2 THEN 1 ELSE 0 END)
                    AS BIGINT) AS f2
        FROM __freq
    )
    SELECT total_tokens, vocab, f1, f2,
           round(CASE WHEN f2 > 0 THEN
                     CAST(vocab AS DOUBLE)
                     + CAST(f1 AS DOUBLE) * CAST(f1 AS DOUBLE)
                       / (2.0 * CAST(f2 AS DOUBLE))
                 WHEN total_tokens > 0 THEN
                     CAST(vocab AS DOUBLE)
                     + CAST(f1 AS DOUBLE)
                       * (CAST(f1 AS DOUBLE) - 1.0) / 2.0
                 END * 1e6, 0) / 1e6 AS chao1,
           round(CASE WHEN total_tokens > 0 THEN
                 CAST(f1 AS DOUBLE) / CAST(total_tokens AS DOUBLE)
                 END * 1e6, 0) / 1e6 AS gt_unseen_mass
    FROM __fof
    """


def source_vocab_overlap(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Pairwise vocabulary overlap between corpus sources — the
    "which crawls are telling us the same things" diagnostic beside
    the document-level contamination gate (q64, exact text match) and
    the JS token-distribution distance (q152, frequency-weighted):
    this one reads SET overlap of the vocabularies,

        jaccard(a, b) = |V_a ∩ V_b| / |V_a ∪ V_b|

    with the union by inclusion-exclusion from exact counts.

    Scale: one DISTINCT (source, token) reduction; intersections come
    from a token-keyed self-join of that reduced frame (bounded by
    vocab x sources^2, never corpus size); vocab sizes broadcast back
    onto the pair grid.

    Returns ``(source_a, source_b, vocab_a, vocab_b, shared,
    jaccard)`` for a < b, ordered by the pair.
    """
    from pytrousse_spark.functions.text import tokens

    st = (
        df.select(
            F.col(group_col).alias("__s"),
            F.explode(tokens(F.col(text_col))).alias("__tok"),
        )
        .distinct()
    )
    a = st.select(F.col("__s").alias("source_a"), "__tok")
    b = st.select(F.col("__s").alias("source_b"), "__tok")
    shared = (
        a.join(b, "__tok")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared"))
    )
    sizes = st.groupBy("__s").agg(
        F.count(F.lit(1)).cast("bigint").alias("__v")
    )
    va = F.col("vocab_a").cast("double")
    vb = F.col("vocab_b").cast("double")
    sh = F.col("shared").cast("double")
    return (
        shared.join(
            F.broadcast(
                sizes.select(
                    F.col("__s").alias("source_a"),
                    F.col("__v").alias("vocab_a"),
                )
            ),
            "source_a",
        )
        .join(
            F.broadcast(
                sizes.select(
                    F.col("__s").alias("source_b"),
                    F.col("__v").alias("vocab_b"),
                )
            ),
            "source_b",
        )
        .select(
            "source_a",
            "source_b",
            "vocab_a",
            "vocab_b",
            "shared",
            round_to(sh / (va + vb - sh), 6).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def source_vocab_overlap_sql(
    table_expr: str,
    group_col: str,
    text_col: str,
) -> str:
    """DuckDB twin of :func:`source_vocab_overlap` — identical
    distinct reduction, pair join and inclusion-exclusion."""
    from pytrousse_spark.functions.text import tokens_sql

    tk = tokens_sql(text_col)
    return f"""
    WITH __st AS MATERIALIZED (
        SELECT DISTINCT {group_col} AS __s, unnest({tk}) AS __tok
        FROM ({table_expr})
    ), __shared AS (
        SELECT a.__s AS source_a, b.__s AS source_b,
               CAST(count(*) AS BIGINT) AS shared
        FROM __st a JOIN __st b
          ON a.__tok = b.__tok AND a.__s < b.__s
        GROUP BY 1, 2
    ), __sizes AS (
        SELECT __s, CAST(count(*) AS BIGINT) AS __v
        FROM __st GROUP BY 1
    )
    SELECT s.source_a, s.source_b,
           sa.__v AS vocab_a, sb.__v AS vocab_b, s.shared,
           round(CAST(s.shared AS DOUBLE)
                 / (CAST(sa.__v AS DOUBLE) + CAST(sb.__v AS DOUBLE)
                    - CAST(s.shared AS DOUBLE)) * 1e6, 0) / 1e6
               AS jaccard
    FROM __shared s
    JOIN __sizes sa ON sa.__s = s.source_a
    JOIN __sizes sb ON sb.__s = s.source_b
    ORDER BY source_a, source_b
    """


def log_odds_tokens(
    df: DataFrame,
    group_col: str,
    text_col: str,
    group_a: str,
    group_b: str,
    top_k: int = 30,
    alpha_scale: float = 0.01,
) -> DataFrame:
    """"Fightin' words" token divergence (Monroe, Colaresi & Quinn
    2008): which tokens mark corpus A against corpus B, by the
    log-odds-ratio with an informative Dirichlet prior — the
    shrinkage fix for raw log-odds exploding on rare tokens (the
    failure mode of plain TF-IDF contrast):

        alpha_w = alpha_scale * (total count of w in A+B)
        d_w  = ln((y_aw + a_w)/(n_a + a0 - y_aw - a_w))
             - ln((y_bw + a_w)/(n_b + a0 - y_bw - a_w))
        var  = 1/(y_aw + a_w) + 1/(y_bw + a_w)
        z_w  = d_w / sqrt(var)

    Returns the ``top_k`` tokens by |z| (ties -> token asc),
    ``(token, count_a, count_b, z)`` — positive z marks group A.

    Exactness: all counts exact BIGINT; alpha terms are
    double-of-identical-integers; the z chain is the identical
    expression in both engines, round-6; TakeOrderedAndProject
    top-k, no global sort.

    Scale: one token explode -> one (group, token) agg pivoted to
    two count columns; the prior joins from the same frame; output
    bounded by top_k.
    """
    from pytrousse_spark.functions.text import tokens

    occ = df.where(
        F.col(group_col).isin([group_a, group_b])
    ).select(
        F.when(F.col(group_col) == group_a, F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("__g"),
        F.explode(tokens(F.col(text_col))).alias("__tok"),
    )
    cnt = occ.groupBy("__tok").agg(
        F.sum(F.when(F.col("__g") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("count_a"),
        F.sum(F.when(F.col("__g") == "b", 1).otherwise(0))
        .cast("bigint")
        .alias("count_b"),
    )
    tot = cnt.agg(
        F.sum("count_a").cast("bigint").alias("__na"),
        F.sum("count_b").cast("bigint").alias("__nb"),
    )
    j = cnt.crossJoin(F.broadcast(tot))
    aw = (
        F.lit(alpha_scale)
        * (F.col("count_a") + F.col("count_b")).cast("double")
    )
    a0 = F.lit(alpha_scale) * (
        F.col("__na") + F.col("__nb")
    ).cast("double")
    ya = F.col("count_a").cast("double")
    yb = F.col("count_b").cast("double")
    na = F.col("__na").cast("double")
    nb = F.col("__nb").cast("double")
    d = F.log((ya + aw) / (na + a0 - ya - aw)) - F.log(
        (yb + aw) / (nb + a0 - yb - aw)
    )
    z = d / F.sqrt(1.0 / (ya + aw) + 1.0 / (yb + aw))
    scored = j.select(
        F.col("__tok").alias("token"),
        "count_a",
        "count_b",
        round_to(z, 6).alias("z"),
    )
    return scored.orderBy(
        F.abs(F.col("z")).desc(), F.col("token").asc()
    ).limit(top_k)


def log_odds_tokens_sql(
    table_expr: str,
    group_col: str,
    text_col: str,
    group_a: str,
    group_b: str,
    top_k: int = 30,
    alpha_scale: float = 0.01,
) -> str:
    """DuckDB twin of :func:`log_odds_tokens` — identical counts,
    prior and z chain."""
    from pytrousse_spark.functions.text import tokens_sql

    tk = tokens_sql(text_col)
    return f"""
    WITH __occ AS (
        SELECT CASE WHEN {group_col} = {sql_quote(group_a)} THEN 'a'
                    ELSE 'b' END AS __g,
               unnest({tk}) AS __tok
        FROM ({table_expr})
        WHERE {group_col} IN ({sql_quote(group_a)}, {sql_quote(group_b)})
    ), __cnt AS (
        SELECT __tok,
               CAST(sum(CASE WHEN __g = 'a' THEN 1 ELSE 0 END)
                    AS BIGINT) AS count_a,
               CAST(sum(CASE WHEN __g = 'b' THEN 1 ELSE 0 END)
                    AS BIGINT) AS count_b
        FROM __occ GROUP BY 1
    ), __tot AS (
        SELECT CAST(sum(count_a) AS BIGINT) AS __na,
               CAST(sum(count_b) AS BIGINT) AS __nb
        FROM __cnt
    )
    SELECT __tok AS token, count_a, count_b,
           round((ln((CAST(count_a AS DOUBLE)
                      + {alpha_scale}
                        * CAST(count_a + count_b AS DOUBLE))
                     / (CAST(__na AS DOUBLE)
                        + {alpha_scale}
                          * CAST(__na + __nb AS DOUBLE)
                        - CAST(count_a AS DOUBLE)
                        - {alpha_scale}
                          * CAST(count_a + count_b AS DOUBLE)))
                  - ln((CAST(count_b AS DOUBLE)
                        + {alpha_scale}
                          * CAST(count_a + count_b AS DOUBLE))
                       / (CAST(__nb AS DOUBLE)
                          + {alpha_scale}
                            * CAST(__na + __nb AS DOUBLE)
                          - CAST(count_b AS DOUBLE)
                          - {alpha_scale}
                            * CAST(count_a + count_b AS DOUBLE))))
                 / sqrt(1.0 / (CAST(count_a AS DOUBLE)
                               + {alpha_scale}
                                 * CAST(count_a + count_b AS DOUBLE))
                        + 1.0 / (CAST(count_b AS DOUBLE)
                                 + {alpha_scale}
                                   * CAST(count_a + count_b
                                          AS DOUBLE)))
                 * 1e6, 0) / 1e6 AS z
    FROM __cnt CROSS JOIN __tot
    ORDER BY abs(z) DESC, token ASC
    LIMIT {top_k}
    """
