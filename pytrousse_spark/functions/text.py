"""Text-analysis column expressions (beyond-reference, BASELINE.json north
star: language-ID, quality scoring, token counting, fingerprinting).

All pure JVM column expressions — designed so the identical computation can be
emitted as DuckDB SQL for the correctness oracle. Regexes stick to explicit
ASCII classes that behave identically under Java regex and RE2.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .hashing import h60, h60_sql
from .rounding import from_fixed, round_to, to_fixed

from pytrousse_spark.functions.sqlutil import sql_quote
from pytrousse_spark.staging import stage, stage_unbounded

#: tiny per-language stopword lists for the n-gram/stopword language heuristic.
#: Ordered dict — ties resolve to the earlier language (deterministic).
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "a"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "den"),
    "es": ("el", "la", "los", "las", "es", "y", "en", "que", "un", "una"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "zh": ("的", "是", "了", "在", "和", "有", "我", "不", "这", "人"),
}

#: BPE-ish token pattern: word pieces OR single non-space symbols.
TOKEN_REGEX = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"

#: ASCII case folding: full Unicode lowercasing differs between engines
#: (JVM vs utf8proc tables — e.g. 'İ' lowers to 1 char in DuckDB, 2 on the
#: JVM), so tokenization folds A-Z only. Non-ASCII case is preserved.
_UPPER = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
_LOWER = "abcdefghijklmnopqrstuvwxyz"


def tokens(col: Column) -> Column:
    """Whitespace tokens of lowercased text (empty strings dropped).

    PERFORMANCE: an expression referenced inside a higher-order-function
    lambda is re-evaluated PER ELEMENT (measured 11× slowdown building
    shingles straight from text). Operators must stage this as its own
    projected column and pass the column reference to the ``*_from_tokens``
    variants below.
    """
    lowered = F.translate(col, _UPPER, _LOWER)
    return F.filter(F.split(lowered, r"\s+"), lambda t: t != F.lit(""))


def tokens_sql(expr: str) -> str:
    lowered = f"translate({expr}, '{_UPPER}', '{_LOWER}')"
    return f"list_filter(string_split_regex({lowered}, '\\s+'), tok -> tok <> '')"


def token_count(col: Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col: Column) -> Column:
    """Sub-word-ish token count: alnum runs + individual symbols."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_REGEX), 0)).cast("long")


def bpe_ish_token_count_sql(expr: str) -> str:
    return f"CAST(len(regexp_extract_all({expr}, '{TOKEN_REGEX}')) AS BIGINT)"


def _member_of(sw: tuple[str, ...]):
    return lambda t: t.isin(*sw)


def lang_scores(col: Column) -> dict[str, Column]:
    """Stopword-hit count per language over the token stream."""
    return lang_scores_from_tokens(tokens(col))


def lang_scores_from_tokens(toks: Column) -> dict[str, Column]:
    return {
        lang: F.size(F.filter(toks, _member_of(sw)))
        for lang, sw in LANG_STOPWORDS.items()
    }


def lang_id(col: Column) -> Column:
    """Argmax language by stopword hits; ties → earlier language in
    LANG_STOPWORDS order; zero hits everywhere → 'und' (undetermined)."""
    return lang_id_from_tokens(tokens(col))


def lang_id_from_tokens(toks: Column) -> Column:
    scores = lang_scores_from_tokens(toks)
    langs = list(LANG_STOPWORDS)
    expr = F.lit("und")
    # Build from the last language backwards so earlier languages win ties.
    best = None
    for lang in langs:
        best = scores[lang] if best is None else F.greatest(best, scores[lang])
    for lang in reversed(langs):
        expr = F.when(scores[lang] == best, F.lit(lang)).otherwise(expr)
    return F.when(best > 0, expr).otherwise(F.lit("und"))


def lang_id_sql(expr: str) -> str:
    toks = tokens_sql(expr)
    score = {
        lang: f"len(list_filter({toks}, tok2 -> tok2 IN ({', '.join(repr(w) for w in sw)})))"
        for lang, sw in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    best = score[langs[0]]
    for lang in langs[1:]:
        best = f"greatest({best}, {score[lang]})"
    inner = "'und'"
    for lang in reversed(langs):
        inner = f"CASE WHEN {score[lang]} = best THEN '{lang}' ELSE {inner} END"
    return (
        f"(SELECT CASE WHEN best > 0 THEN {inner} ELSE 'und' END "
        f"FROM (SELECT {best} AS best))"
    )


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: penalize too-short/too-long docs,
    high symbol ratio, and low mean word length. Deterministic arithmetic —
    mirrored by :func:`quality_score_sql`."""
    return quality_score_from_tokens(col, tokens(col))


def quality_score_from_tokens(col: Column, toks: Column) -> Column:
    n_chars = F.length(col).cast("double")
    n_tok = F.size(toks).cast("double")
    n_alnum = F.length(F.regexp_replace(col, r"[^A-Za-z0-9]", "")).cast("double")
    alnum_ratio = F.when(n_chars > 0, n_alnum / n_chars).otherwise(F.lit(0.0))
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    mean_word = F.when(n_tok > 0, n_alnum / n_tok).otherwise(F.lit(0.0))
    word_score = F.least(mean_word / F.lit(4.0), F.lit(1.0))
    return round_to(
        0.4 * len_score + 0.3 * alnum_ratio + 0.3 * word_score,
        6,
    )


def quality_score_sql(expr: str) -> str:
    n_chars = f"CAST(length({expr}) AS DOUBLE)"
    n_tok = f"CAST(len({tokens_sql(expr)}) AS DOUBLE)"
    n_alnum = f"CAST(length(regexp_replace({expr}, '[^A-Za-z0-9]', '', 'g')) AS DOUBLE)"
    return (
        "round(0.4 * least({t} / 20.0, 1.0)"
        " + 0.3 * (CASE WHEN {c} > 0 THEN {a} / {c} ELSE 0.0 END)"
        " + 0.3 * least((CASE WHEN {t} > 0 THEN {a} / {t} ELSE 0.0 END) / 4.0, 1.0)"
        ", 6)"
    ).format(c=n_chars, t=n_tok, a=n_alnum)


def word_shingles(col: Column, n: int = 3) -> Column:
    """Array of word n-gram strings (space-joined); docs shorter than n words
    yield a single shingle of the whole text.

    For hot paths use :func:`shingles_from_tokens` over a STAGED token column
    (see the ``tokens`` docstring).
    """
    return shingles_from_tokens(tokens(col), n)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    k = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(k - n, F.lit(0)))

    def ngram(i):
        return F.concat_ws(" ", F.slice(toks, i + 1, n))

    return F.when(k <= n, F.array(F.concat_ws(" ", toks))).otherwise(
        F.transform(idx, ngram)
    )


def word_shingles_sql(expr: str, n: int = 3) -> str:
    toks = tokens_sql(expr)
    return (
        # coalesce: DuckDB array_to_string([]) is NULL, Spark concat_ws is ''
        f"(SELECT CASE WHEN len(__toks) <= {n} THEN [coalesce(array_to_string(__toks, ' '), '')] "
        f"ELSE list_transform(range(1, len(__toks) - {n} + 2), "
        f"i -> array_to_string(__toks[i:i+{n}-1], ' ')) END "
        f"FROM (SELECT {toks} AS __toks))"
    )


def fingerprint(col: Column, n: int = 3) -> Column:
    """Document fingerprint: min 60-bit hash over word n-gram shingles
    (winnowing-style rolling min; public technique — Schleimer et al. 2003)."""
    return F.array_min(F.transform(word_shingles(col, n), h60))


def fingerprint_from_shingles(sh: Column) -> Column:
    return F.array_min(F.transform(sh, h60))


def fingerprint_sql(expr: str, n: int = 3) -> str:
    return (
        f"list_min(list_transform({word_shingles_sql(expr, n)}, "
        f"s -> {h60_sql('s')}))"
    )


def winnow_fingerprints(col: Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken SIGMOD
    2003, the MOSS algorithm): hash every character ``k``-gram, slide a
    window of ``w`` consecutive hashes, keep each window's minimum
    (leftmost on ties — a fixed deterministic rule; the paper's
    rightmost-rule density argument holds either way), and de-duplicate
    consecutive picks. Guarantees: any shared substring of length
    >= ``k + w - 1`` between two documents yields at least one shared
    selected fingerprint, while only ~2/(w+1) of all k-grams are kept.

    Returns ``array<struct<pos int, fp bigint>>`` of the selected
    fingerprints with their 1-based character positions. Texts shorter
    than ``k`` yield an empty array; with fewer than ``w`` k-grams the
    whole gram list is one window (global min) — both engines truncate
    the window slice identically.

    Pure per-row JVM expression (h60 portable hashes inside HOF
    lambdas): no shuffle, no UDF; cost is O(len) md5s + O(windows * w)
    comparisons per row.
    """
    if k < 1 or w < 1:
        raise ValueError("winnow_fingerprints: k and w must be >= 1")
    return winnow_picks(kgram_hashes(col, k), w)


def kgram_hashes(col: Column, k: int, hash_fn: str = "md5") -> Column:
    """Portable 60-bit hash of every character ``k``-gram (HOF lambda —
    ``Column.substr`` accepts a column start position inside transform).
    NULL or shorter-than-k texts yield an empty array; the guard sits
    BEFORE sequence() because Spark's ``sequence(1, n)`` with n < 1
    DESCENDS instead of being empty.

    ``hash_fn="xxhash64"`` is the pure-Spark fast tier (~3x cheaper per
    gram, not oracle-portable) — the usual md5-for-verifiability /
    xxhash64-for-production split (functions/hashing.py).

    STAGE THIS in a real column before calling :func:`winnow_picks`:
    expression trees are re-inlined at every reference inside HOF
    lambdas, so winnowing directly over this expression would recompute
    every md5 per window (measured 80s vs 2s on 500 docs)."""
    if hash_fn == "md5":
        def h(i):
            return F.conv(
                F.substring(F.md5(col.substr(i, F.lit(k))), 1, 15), 16, 10
            ).cast("long")
    elif hash_fn == "xxhash64":
        def h(i):
            return F.xxhash64(col.substr(i, F.lit(k)))
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return F.when(
        col.isNull() | (F.length(col) < k),
        F.expr("array()").cast("array<bigint>"),
    ).otherwise(
        F.transform(F.sequence(F.lit(1), F.length(col) - F.lit(k - 1)), h)
    )


def winnow_picks(fps: Column, w: int) -> Column:
    """Window-min selection over a STAGED k-gram hash array column (see
    :func:`kgram_hashes`): each w-window's minimum with its leftmost
    1-based gram position, consecutive duplicates dropped.

    Consecutive-dedupe == full distinct under the leftmost-min rule: a
    position dethroned by a later element can't be re-picked, because
    the dethroner stays in every later window longer than it does — so
    duplicate picks are always adjacent, and no struct-distinct is
    needed (DuckDB's list_distinct can't do structs anyway)."""

    def pick_pos(j):
        return j - F.lit(1) + F.array_position(
            F.slice(fps, j, w), F.array_min(F.slice(fps, j, w))
        )

    nw = F.greatest(F.size(fps) - F.lit(w - 1), F.lit(1))
    wins = F.filter(
        F.sequence(F.lit(1), nw),
        lambda j: (j == F.lit(1)) | (pick_pos(j) != pick_pos(j - F.lit(1))),
    )
    picks = F.transform(
        wins,
        lambda j: F.struct(
            pick_pos(j).cast("int").alias("pos"),
            F.array_min(F.slice(fps, j, w)).alias("fp"),
        ),
    )
    return F.when(
        F.size(fps) == 0,
        F.expr("array()").cast("array<struct<pos:int,fp:bigint>>"),
    ).otherwise(picks)


def winnow_pick_positions(fps: Column, w: int) -> Column:
    """Stage 1 of the two-stage winnowing fast path: the raw per-window
    leftmost-min GRAM POSITIONS (1-based), un-deduped — one slice+min
    pass per window instead of :func:`winnow_picks`'s ~6 (the filter
    there re-evaluates the pick for j and j-1). STAGE the result as its
    own column, then :func:`winnow_select` dedupes by O(1) array
    lookups. Values are identical to winnow_picks (pinned in
    tests/test_text_multimodal.py)."""
    nw = F.greatest(F.size(fps) - F.lit(w - 1), F.lit(1))
    return F.when(
        F.size(fps) == 0, F.expr("array()").cast("array<int>")
    ).otherwise(
        F.transform(
            F.sequence(F.lit(1), nw),
            lambda j: (
                j
                - F.lit(1)
                + F.array_position(
                    F.slice(fps, j, w), F.array_min(F.slice(fps, j, w))
                )
            ).cast("int"),
        )
    )


def winnow_select(fps: Column, pos_arr: Column) -> Column:
    """Stage 2: consecutive-dedupe the staged position array and attach
    each pick's fingerprint by direct element access — all O(1) lookups
    on staged columns, no slices."""
    idx = F.filter(
        F.sequence(F.lit(1), F.size(pos_arr)),
        lambda j: (j == F.lit(1))
        | (
            F.element_at(pos_arr, j)
            != F.element_at(pos_arr, j - F.lit(1))
        ),
    )
    picks = F.transform(
        idx,
        lambda j: F.struct(
            F.element_at(pos_arr, j).alias("pos"),
            F.element_at(fps, F.element_at(pos_arr, j)).alias("fp"),
        ),
    )
    return F.when(
        F.size(pos_arr) == 0,
        F.expr("array()").cast("array<struct<pos:int,fp:bigint>>"),
    ).otherwise(picks)


def winnow_fingerprints_sql(expr: str, k: int = 8, w: int = 4) -> str:
    """DuckDB twin of :func:`winnow_fingerprints` — identical k-gram
    hash list, window min with leftmost-position rule, and the same
    consecutive-window dedupe (list_filter on the window index)."""
    fps = (
        f"list_transform(range(1, length({expr}) - {k} + 2), "
        f"i -> {h60_sql(f'substr({expr}, i, {k})')})"
    )

    def pick_pos(j: str) -> str:
        sl = f"__wfps[{j} : {j} + {w} - 1]"
        return f"({j} - 1 + list_position({sl}, list_min({sl})))"

    wins = (
        f"list_filter(range(1, greatest(len(__wfps) - {w} + 1, 1) + 1), "
        f"j -> j = 1 OR {pick_pos('j')} != {pick_pos('(j - 1)')})"
    )
    picks = (
        f"list_transform({wins}, "
        f"j -> {{pos: CAST({pick_pos('j')} AS INT), "
        f"fp: list_min(__wfps[j : j + {w} - 1])}})"
    )
    return (
        f"(SELECT CASE WHEN {expr} IS NULL OR length({expr}) < {k} "
        f"THEN CAST([] AS STRUCT(pos INT, fp BIGINT)[]) "
        f"ELSE {picks} END "
        f"FROM (SELECT {fps} AS __wfps))"
    )


def chunk_documents(
    df,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
):
    """Split documents into fixed-size token windows with overlap — the
    standard pre-training chunking step. Output: one row per chunk with
    (id_col, chunk_id, chunk_text, n_tokens).

    Pure expression pipeline: tokens stage once per row, chunk starts come
    from a ``sequence`` explode (stride = chunk_tokens - overlap), each
    chunk re-joins its token slice. Nothing leaves the row until the
    explode, whose fan-out is ceil(n/stride) — linear in corpus token
    count, embarrassingly parallel.

    The final partial window is kept (a trailing chunk shorter than
    ``chunk_tokens``); empty documents produce zero chunks.
    """
    from pyspark.sql import functions as F

    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    staged = (
        df.select(id_col, text_col)
        .withColumn("__tk", tokens(F.col(text_col)))
        .withColumn("__n", F.size("__tk"))
        .where(F.col("__n") > 0)
    )
    # chunk start offsets 0, stride, 2*stride, ...; a non-zero start must
    # satisfy start < n - overlap, else its chunk is entirely contained in
    # the previous one (the first `overlap` tokens of every chunk repeat by
    # construction) and would duplicate training text.
    max_start = F.greatest(
        ((F.col("__n") - overlap - 1) / stride).cast("long") * stride,
        F.lit(0),
    )
    starts = F.sequence(F.lit(0), max_start, F.lit(stride))
    out = staged.withColumn("__start", F.explode(starts))
    piece = F.slice(F.col("__tk"), F.col("__start") + 1, chunk_tokens)
    return out.select(
        F.col(id_col),
        (F.col("__start") / stride).cast("long").alias("chunk_id"),
        F.array_join(piece, " ").alias("chunk_text"),
        F.size(piece).cast("long").alias("n_tokens"),
    )


def chunk_documents_sql(
    table: str,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 128,
    overlap: int = 16,
) -> str:
    """DuckDB twin of :func:`chunk_documents` (1-based list slicing via
    ``list_slice``; same stride/partial-window semantics)."""
    stride = chunk_tokens - overlap
    toks = tokens_sql(text_col)
    return f"""
    WITH staged AS (
      SELECT {id_col}, {toks} AS tk, len({toks}) AS n FROM {table}
    ), exploded AS (
      SELECT {id_col}, tk,
             unnest(range(0, greatest(((n - {overlap} - 1) // {stride}) * {stride}, 0) + 1,
                          {stride})) AS s
      FROM staged WHERE n > 0
    )
    SELECT {id_col},
           CAST(s / {stride} AS BIGINT) AS chunk_id,
           array_to_string(list_slice(tk, s + 1, s + {chunk_tokens}), ' ')
             AS chunk_text,
           CAST(len(list_slice(tk, s + 1, s + {chunk_tokens})) AS BIGINT)
             AS n_tokens
    FROM exploded
    """


def vocabulary(df, text_col: str, id_col: str, min_count: int = 1):
    """Corpus vocabulary: (token, n_docs, n_occurrences) for tokens
    appearing at least ``min_count`` times — one explode + one aggregation
    (map-side partials make this scan-bound at any corpus size)."""
    from pyspark.sql import functions as F

    tok = (
        df.select(F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk"))
        .select("__id", F.explode("__tk").alias("token"))
    )
    return (
        tok.groupBy("token")
        .agg(
            F.countDistinct("__id").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .where(F.col("n_occurrences") >= min_count)
    )


def vocabulary_sql(table: str, text_col: str, id_col: str, min_count: int = 1) -> str:
    """DuckDB twin of :func:`vocabulary`."""
    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (
      SELECT {id_col} AS __id, unnest({toks}) AS token FROM {table}
    )
    SELECT token, count(DISTINCT __id) AS n_docs,
           count(*) AS n_occurrences
    FROM tok GROUP BY token HAVING count(*) >= {min_count}
    """


def tfidf_top_terms(df, text_col: str, id_col: str, k: int = 3):
    """Top-``k`` TF-IDF terms per document (tf · ln(N/df_t), raw counts,
    ties broken by token ascending on the rounded score).

    Plan: explode → (doc, token) counts → join token document-frequencies →
    per-doc top-k window. The N scalar comes from one count aggregation
    broadcast into the expression.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    base = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    )
    n_docs = base.count()  # one scalar action; the plan below embeds it
    tok = base.select("__id", F.explode("__tk").alias("token"))
    tf = tok.groupBy("__id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dft = tok.groupBy("token").agg(F.countDistinct("__id").alias("df_t"))
    scored = tf.join(dft, "token").withColumn(
        "score",
        round_to(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df_t")), 6),
    )
    w = Window.partitionBy("__id").orderBy(
        F.col("score").desc(), F.col("token").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col), "token", "score",
            F.col("rank").cast("int").alias("rank"),
        )
    )


def repetition_stats(df, text_col: str, id_col: str, ngram: int = 2):
    """Per-document repetition signals (the Gopher/RefinedWeb-style quality
    rules a pre-training filter runs): distinct-token ratio, most-frequent-
    token share, and most-frequent-``ngram`` share.

    Plan: one explode per granularity → two-level hash aggregation
    ((doc, term) counts, then per-doc max/sum with map-side partials) →
    broadcast-free join of the two per-doc aggregates on ``id_col``. Work is
    linear in token count; no window, no collect.
    """
    from pyspark.sql import functions as F

    base = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    )
    tok = base.select("__id", F.explode("__tk").alias("t"))
    tok_stats = (
        tok.groupBy("__id", "t")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_distinct"),
            F.max("c").cast("long").alias("top_c"),
        )
    )
    ng = base.select(
        "__id",
        F.explode(shingles_from_tokens(F.col("__tk"), ngram)).alias("g"),
    )
    ng_stats = (
        ng.groupBy("__id", "g")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("__id")
        .agg(
            F.sum("c").cast("long").alias("n_ngrams"),
            F.max("c").cast("long").alias("top_gc"),
        )
    )
    return (
        tok_stats.join(ng_stats, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            round_to(F.col("n_distinct") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
            round_to(F.col("top_c") / F.col("n_tokens"), 6).alias(
                "top_token_share"
            ),
            round_to(F.col("top_gc") / F.col("n_ngrams"), 6).alias(
                "top_ngram_share"
            ),
        )
    )


def repetition_stats_sql(
    table: str, text_col: str, id_col: str, ngram: int = 2
) -> str:
    """DuckDB twin of :func:`repetition_stats`."""
    toks = tokens_sql(text_col)
    sh = word_shingles_sql(text_col, ngram)
    return f"""
    WITH tok AS (
      SELECT {id_col} AS __id, unnest({toks}) AS t FROM {table}
    ), tc AS (
      SELECT __id, t, count(*) AS c FROM tok GROUP BY 1, 2
    ), ts AS (
      SELECT __id, CAST(sum(c) AS BIGINT) AS n_tokens,
             count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS top_c
      FROM tc GROUP BY __id
    ), ng AS (
      SELECT {id_col} AS __id, unnest({sh}) AS g FROM {table}
    ), gc AS (
      SELECT __id, g, count(*) AS c FROM ng GROUP BY 1, 2
    ), gs AS (
      SELECT __id, CAST(sum(c) AS BIGINT) AS n_ngrams,
             CAST(max(c) AS BIGINT) AS top_gc
      FROM gc GROUP BY __id
    )
    SELECT ts.__id AS {id_col}, ts.n_tokens,
           round(ts.n_distinct / ts.n_tokens, 6) AS distinct_ratio,
           round(ts.top_c / ts.n_tokens, 6) AS top_token_share,
           round(gs.top_gc / gs.n_ngrams, 6) AS top_ngram_share
    FROM ts LEFT JOIN gs USING (__id)
    """


def unigram_surprisal(df, text_col: str, id_col: str):
    """Per-document mean unigram surprisal −ln p(t) under the corpus's own
    unigram distribution — the cheap, model-free cousin of perplexity
    filtering (low surprisal ⇒ repetitive/templated text, high ⇒ noise).

    Plan: explode → corpus unigram counts (one hash agg) → broadcast-join
    the (small) vocabulary back onto the token stream → per-doc average.
    The corpus total rides along as a window-free scalar column inside the
    vocabulary frame, so the whole thing is two aggregations and one
    broadcast join.
    """
    from pyspark.sql import functions as F

    tok = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    ).select("__id", F.explode("__tk").alias("t"))
    vocab = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    total = vocab.agg(F.sum("c")).first()[0]
    scored = tok.join(F.broadcast(vocab), "t").withColumn(
        "__s", round_to(-F.log(F.col("c") / F.lit(float(total))), 6)
    )
    return scored.groupBy("__id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        round_to(F.avg("__s"), 4).alias("mean_surprisal"),
    ).select(F.col("__id").alias(id_col), "n_tokens", "mean_surprisal")


def unigram_surprisal_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin of :func:`unigram_surprisal` (identical per-token
    rounding before the average, so float summation agrees)."""
    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (
      SELECT {id_col} AS __id, unnest({toks}) AS t FROM {table}
    ), vocab AS (
      SELECT t, count(*) AS c FROM tok GROUP BY t
    ), n AS (
      SELECT CAST(sum(c) AS DOUBLE) AS total FROM vocab
    ), scored AS (
      SELECT __id, round(-ln(c / n.total), 6) AS s
      FROM tok JOIN vocab USING (t) CROSS JOIN n
    )
    SELECT __id AS {id_col}, count(*) AS n_tokens,
           round(avg(s), 4) AS mean_surprisal
    FROM scored GROUP BY __id
    """


def tfidf_top_terms_sql(table: str, text_col: str, id_col: str, k: int = 3) -> str:
    """DuckDB twin of :func:`tfidf_top_terms` (same raw-count formula,
    same rounded-score tie-break)."""
    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (
      SELECT {id_col} AS __id, unnest({toks}) AS token FROM {table}
    ), tf AS (
      SELECT __id, token, count(*) AS tf FROM tok GROUP BY 1, 2
    ), dft AS (
      SELECT token, count(DISTINCT __id) AS df_t FROM tok GROUP BY 1
    ), n AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM {table}
    ), scored AS (
      SELECT __id, tf.token, round(tf * ln(n.n_docs / df_t), 6) AS score
      FROM tf JOIN dft USING (token) CROSS JOIN n
    )
    SELECT __id AS {id_col}, token, score, CAST(rank AS INT) AS rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY __id ORDER BY score DESC, token ASC
      ) AS rank FROM scored
    ) WHERE rank <= {k}
    """


def duplicated_ngram_stats(
    df, text_col: str, id_col: str, n: int = 3, min_docs: int = 2
):
    """Cross-document duplicated n-gram fraction — the substring-level
    duplication signal of Lee et al. 2022 ("Deduplicating Training Data
    Makes Language Models Better", public paper): for each document, the
    share of its n-gram positions whose n-gram also occurs in at least
    ``min_docs`` distinct documents (i.e. in >= ``min_docs - 1`` OTHERS).
    Complements the *within*-doc repetition signals of
    :func:`repetition_stats` and whole/near-doc dedup: it catches documents
    stitched together from boilerplate that no document-level fingerprint
    sees.

    Plan: staged tokens -> strict n-gram array (docs shorter than ``n``
    contribute nothing; Spark's explode and DuckDB's unnest both drop the
    NULL array) -> one DISTINCT (doc, gram) projection feeds the gram
    doc-frequency hash agg -> the exploded stream joins the frequent-gram
    set keyed by gram only -> left join restores zero-gram docs. Nothing
    collects; both shuffles are keyed by gram / doc id, never by text, so
    the plan survives a 100 TB corpus (AQE handles hot boilerplate grams
    via skew-join splitting).
    """
    from pyspark.sql import functions as F

    from ..io import rebalance_undersplit

    grams_arr = F.when(
        F.size("__tk") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("__tk") - n),
            lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i + 1, n)),
        ),
    )
    # gram explosion is the heavy per-row work here: spread an under-split
    # scan first (no-op at real scale), or one core tokenizes 3 consumers
    base = rebalance_undersplit(df).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    ).select(
        "__id",
        F.greatest(F.size("__tk") - (n - 1), F.lit(0))
        .cast("long")
        .alias("__total"),
        grams_arr.alias("__g"),
    )
    # explode_outer, NOT explode: plain explode lets Catalyst infer
    # `size(__g) > 0 AND isnotnull(__g)` and push that filter below the
    # rebalance exchange, re-evaluating the whole gram construction twice
    # per row on the undersplit scan partition (measured 10s of the 25s
    # first cut at sf0.1). The post-explode null filter is per-gram cheap.
    exploded = base.select(
        "__id", F.explode_outer("__g").alias("g")
    ).where(F.col("g").isNotNull())
    frequent = (
        exploded.groupBy("g")
        .agg(F.countDistinct("__id").alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("g")
    )
    per_doc = exploded.join(frequent, "g").groupBy("__id").agg(
        F.count(F.lit(1)).alias("__dup")
    )
    out = base.select("__id", "__total").join(per_doc, "__id", "left")
    dup = F.coalesce(F.col("__dup"), F.lit(0)).cast("long")
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__total").alias("total_ngrams"),
        dup.alias("dup_ngrams"),
        F.when(
            F.col("__total") > 0, round_to(dup / F.col("__total"), 4)
        ).alias("dup_ratio"),
    )


def duplicated_ngram_stats_sql(
    table: str, text_col: str, id_col: str, n: int = 3, min_docs: int = 2
) -> str:
    """DuckDB twin of :func:`duplicated_ngram_stats` (same strict n-gram
    rule, same doc-frequency threshold, same NULL ratio for gramless docs)."""
    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (
      SELECT {id_col} AS __id, {toks} AS t FROM {table}
    ), g AS (
      SELECT __id, array_to_string(t[i:i+{n - 1}], ' ') AS g
      FROM tok, UNNEST(range(1, len(t) - {n} + 2)) AS u(i)
      WHERE len(t) >= {n}
    ), freq AS (
      SELECT g FROM (SELECT DISTINCT __id, g FROM g)
      GROUP BY g HAVING count(*) >= {min_docs}
    ), per AS (
      SELECT __id, count(*) AS dup FROM g JOIN freq USING (g) GROUP BY __id
    )
    SELECT tok.__id AS {id_col},
           CAST(greatest(len(tok.t) - {n - 1}, 0) AS BIGINT) AS total_ngrams,
           CAST(coalesce(per.dup, 0) AS BIGINT) AS dup_ngrams,
           round(coalesce(per.dup, 0) * 1.0
                 / nullif(greatest(len(tok.t) - {n - 1}, 0), 0),
                 4) AS dup_ratio
    FROM tok LEFT JOIN per ON per.__id = tok.__id
    """


def remove_duplicated_ngrams(
    df, text_col: str, id_col: str, n: int = 3, min_docs: int = 2
):
    """The cleaning TRANSFORM companion of :func:`duplicated_ngram_stats`
    (Lee et al. 2022 span-level dedup): drop every token position covered
    by an n-gram that occurs in >= ``min_docs`` distinct documents, and
    re-join the survivors. ``clean_text`` is the LOWERCASED whitespace
    token stream minus the removed spans — tokenization folds ASCII case,
    a documented deviation from byte-level span removal (the reference
    surface has no text operators at all; this is beyond-reference).

    Plan: same gram census as the stats operator, then covered positions =
    frequent-gram starts exploded to their n token slots (one DISTINCT
    keyed by (doc, pos)), survivors = positional tokens anti-joined on
    (doc, pos), reassembled with an in-group sort — no window, no collect.
    All shuffles keyed by gram, (doc, pos), or doc id.
    """
    from pyspark.sql import functions as F

    from ..io import rebalance_undersplit

    grams_arr = F.when(
        F.size("__tk") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("__tk") - n),
            lambda i: F.concat_ws(" ", F.slice(F.col("__tk"), i + 1, n)),
        ),
    )
    base = rebalance_undersplit(df).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    ).select("__id", "__tk", grams_arr.alias("__g"))
    # posexplode_outer for the same inferred-filter reason as the stats op
    grams = base.select(
        "__id", F.posexplode_outer("__g").alias("s", "g")
    ).where(F.col("g").isNotNull())
    frequent = (
        grams.groupBy("g")
        .agg(F.countDistinct("__id").alias("__df"))
        .where(F.col("__df") >= min_docs)
        .select("g")
    )
    covered = (
        grams.join(frequent, "g")
        .select(
            "__id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + (n - 1))
            ).alias("pos"),
        )
        .distinct()
    )
    toks = base.select(
        "__id", F.posexplode_outer("__tk").alias("pos", "tok")
    ).where(F.col("tok").isNotNull())
    agg = (
        toks.join(covered, ["__id", "pos"], "left_anti")
        .groupBy("__id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                    lambda st: st["tok"],
                ),
                " ",
            ).alias("__clean"),
            F.count(F.lit(1)).alias("__kept"),
        )
    )
    out = base.select(
        "__id", F.size("__tk").cast("long").alias("__ntok")
    ).join(agg, "__id", "left")
    kept = F.coalesce(F.col("__kept"), F.lit(0)).cast("long")
    return out.select(
        F.col("__id").alias(id_col),
        F.coalesce(F.col("__clean"), F.lit("")).alias("clean_text"),
        kept.alias("n_kept"),
        (F.col("__ntok") - kept).cast("long").alias("n_removed"),
    )


def remove_duplicated_ngrams_sql(
    table: str, text_col: str, id_col: str, n: int = 3, min_docs: int = 2
) -> str:
    """DuckDB twin of :func:`remove_duplicated_ngrams`."""
    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (
      SELECT {id_col} AS __id, {toks} AS t FROM {table}
    ), g AS (
      SELECT __id, i - 1 AS s, array_to_string(t[i:i+{n - 1}], ' ') AS g
      FROM tok, UNNEST(range(1, len(t) - {n} + 2)) AS u(i)
      WHERE len(t) >= {n}
    ), freq AS (
      SELECT g FROM g GROUP BY g HAVING count(DISTINCT __id) >= {min_docs}
    ), cov AS (
      SELECT DISTINCT __id, s + d.d AS pos
      FROM g JOIN freq USING (g), UNNEST(range(0, {n})) AS d(d)
    ), toklist AS (
      SELECT __id, i - 1 AS pos, t[i] AS tok
      FROM tok, UNNEST(range(1, len(t) + 1)) AS r(i)
    ), kept AS (
      SELECT toklist.* FROM toklist
      ANTI JOIN cov ON cov.__id = toklist.__id AND cov.pos = toklist.pos
    ), agg AS (
      SELECT __id, string_agg(tok, ' ' ORDER BY pos) AS clean,
             count(*) AS kept
      FROM kept GROUP BY __id
    )
    SELECT tok.__id AS {id_col},
           coalesce(agg.clean, '') AS clean_text,
           CAST(coalesce(agg.kept, 0) AS BIGINT) AS n_kept,
           CAST(len(tok.t) - coalesce(agg.kept, 0) AS BIGINT) AS n_removed
    FROM tok LEFT JOIN agg ON agg.__id = tok.__id
    """


def pmi_collocations(
    df, text_col: str, top_k: int = 50, min_count: int = 5
):
    """Corpus-level collocation mining: top adjacent-bigram pairs by
    pointwise mutual information (Church & Hanks 1990 — public technique),
    ``pmi = ln((c12/B) / ((c1/N)(c2/N)))`` with a ``min_count`` support
    gate against noise. Useful for phrase-aware tokenization and for
    spotting templated/boilerplate constructions in a crawl.

    Plan: staged tokens -> bigram explode -> one bigram hash agg + one
    unigram hash agg + a single-row scalar collect (N, B) -> two keyed
    joins of the (small, min_count-gated) bigram census against the
    unigram census -> top-k via orderBy/limit (TakeOrdered, no global
    window). Shuffles are keyed by token / bigram only.
    """
    from pyspark.sql import functions as F

    from ..io import rebalance_undersplit

    base = rebalance_undersplit(df).select(
        tokens(F.col(text_col)).alias("__tk")
    )
    bigrams_arr = F.when(
        F.size("__tk") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__tk") - 2),
            lambda i: F.struct(
                F.element_at("__tk", i + 1).alias("w1"),
                F.element_at("__tk", i + 2).alias("w2"),
            ),
        ),
    )
    uni = base.select(F.explode_outer("__tk").alias("w")).where(
        F.col("w").isNotNull()
    )
    unigrams = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    n_tok = unigrams.agg(F.sum("c")).first()[0]
    bi = base.select(
        F.explode_outer(bigrams_arr).alias("b")
    ).where(F.col("b").isNotNull()).select("b.w1", "b.w2")
    pairs = (
        bi.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_count)
    )
    n_bi = bi.count()
    c1 = unigrams.select(F.col("w").alias("w1"), F.col("c").alias("__c1"))
    c2 = unigrams.select(F.col("w").alias("w2"), F.col("c").alias("__c2"))
    pmi = round_to(
        F.log(
            (F.col("pair_count") / F.lit(float(n_bi)))
            / (
                (F.col("__c1") / F.lit(float(n_tok)))
                * (F.col("__c2") / F.lit(float(n_tok)))
            )
        ),
        6,
    )
    return (
        pairs.join(c1, "w1")
        .join(c2, "w2")
        .select("w1", "w2", "pair_count", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(top_k)
    )


def pmi_collocations_sql(
    table: str, text_col: str, top_k: int = 50, min_count: int = 5
) -> str:
    """DuckDB twin of :func:`pmi_collocations`."""
    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (
      SELECT {toks} AS t FROM {table}
    ), uni AS (
      SELECT u.w, count(*) AS c
      FROM tok, UNNEST(t) AS u(w) GROUP BY u.w
    ), n AS (
      SELECT CAST(sum(c) AS DOUBLE) AS n_tok FROM uni
    ), bi AS (
      SELECT t[i] AS w1, t[i + 1] AS w2
      FROM tok, UNNEST(range(1, len(t))) AS r(i)
    ), nb AS (
      SELECT CAST(count(*) AS DOUBLE) AS n_bi FROM bi
    ), pairs AS (
      SELECT w1, w2, count(*) AS pair_count FROM bi GROUP BY w1, w2
      HAVING count(*) >= {min_count}
    )
    SELECT p.w1, p.w2, CAST(p.pair_count AS BIGINT) AS pair_count,
           round(ln((p.pair_count / nb.n_bi)
                    / ((u1.c / n.n_tok) * (u2.c / n.n_tok))), 6) AS pmi
    FROM pairs p
    JOIN uni u1 ON u1.w = p.w1
    JOIN uni u2 ON u2.w = p.w2
    CROSS JOIN n CROSS JOIN nb
    ORDER BY pmi DESC, p.w1, p.w2
    LIMIT {top_k}
    """


def bigram_nll(df, text_col: str, id_col: str):
    """Per-document negative log-likelihood under an add-one-smoothed
    BIGRAM LM estimated from the corpus itself — the model-based quality
    filter one step up from :func:`unigram_surprisal` (CCNet famously uses
    a KenLM n-gram model for exactly this gate; a self-trained bigram LM is
    the engine-native, dependency-free variant).

    ``nll = mean over bigram positions of -ln p(w2|w1)``,
    ``p(w2|w1) = (c(w1,w2)+1) / (c(w1)+V)``. Templated/boilerplate text
    scores low, noise scores high.

    Plan: staged tokens feed one bigram explode + one unigram hash agg; the
    conditional-probability table joins bigram counts to left-context
    counts (token-keyed shuffles only, broadcast when small) and the rounded
    per-bigram term rides back onto the bigram stream in integer MICRO-units
    so the per-doc sum is exact and fold-order-free (same discipline as
    sampling.dsir_importance). Documents with fewer than two tokens have no
    bigram positions and drop out (mirrored in the SQL twin).
    """
    from pyspark.sql import functions as F

    from ..io import rebalance_undersplit

    base = rebalance_undersplit(df).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    )
    bigrams_arr = F.when(
        F.size("__tk") >= 2,
        F.transform(
            F.sequence(F.lit(0), F.size("__tk") - 2),
            lambda i: F.struct(
                F.element_at("__tk", i + 1).alias("w1"),
                F.element_at("__tk", i + 2).alias("w2"),
            ),
        ),
    )
    uni = base.select(F.explode_outer("__tk").alias("w")).where(
        F.col("w").isNotNull()
    )
    # vocab-bounded: the v_size count below materializes it, and the
    # conditional-probability join reads it back — ONE unigram pass
    # (the pre-r13 plan re-tokenized the corpus for uni, for the
    # v_size count, and twice through bi: 4 tokenize passes total)
    unigrams = stage(uni.groupBy("w").agg(
        F.count(F.lit(1)).alias("c1")
    ))
    v_size = unigrams.count()
    # per-bigram rows feed the count agg AND the final per-doc join:
    # reliable checkpoint (corpus-sized; r12 VERDICT item 6 class)
    bi = stage_unbounded(
        base.select("__id", F.explode_outer(bigrams_arr).alias("b"))
        .where(F.col("b").isNotNull())
        .select("__id", "b.w1", "b.w2")
    )
    big = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    term = -(
        F.log(F.col("c12") + 1) - F.log(F.col("c1") + F.lit(float(v_size)))
    )
    ratio = (
        big.join(unigrams.withColumnRenamed("w", "w1"), "w1")
        .select(
            "w1",
            "w2",
            to_fixed(round_to(term, 6), 6).alias("__r"),
        )
    )
    return (
        bi.join(ratio, ["w1", "w2"])
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            round_to(from_fixed(F.sum("__r"), 6) / F.count(F.lit(1)), 4).alias(
                "nll"
            ),
        )
        .select(F.col("__id").alias(id_col), "n_bigrams", "nll")
    )


def bigram_nll_sql(table: str, text_col: str, id_col: str) -> str:
    """DuckDB twin of :func:`bigram_nll` (identical smoothing, rounding,
    micro-unit summation)."""
    toks = tokens_sql(text_col)
    return f"""
    WITH tk AS (
      SELECT {id_col} AS __id, {toks} AS t FROM {table}
      WHERE {text_col} IS NOT NULL
    ), uni AS (
      SELECT w, count(*) AS c1
      FROM (SELECT unnest(t) AS w FROM tk) GROUP BY w
    ), v AS (
      SELECT count(*) AS v_size FROM uni
    ), bi AS (
      SELECT __id, t[i] AS w1, t[i + 1] AS w2
      FROM tk, UNNEST(range(1, len(t))) AS r(i)
    ), big AS (
      SELECT w1, w2, count(*) AS c12 FROM bi GROUP BY w1, w2
    ), ratio AS (
      SELECT b.w1, b.w2,
             CAST(round(round(-(ln(b.c12 + 1)
                               - ln(u.c1 + (SELECT CAST(v_size AS DOUBLE) FROM v))), 6)
                        * 1e6) AS BIGINT) AS rr
      FROM big b JOIN uni u ON u.w = b.w1
    )
    SELECT bi.__id AS {id_col},
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(sum(rr) / 1e6 / count(*), 4) AS nll
    FROM bi JOIN ratio ON ratio.w1 = bi.w1 AND ratio.w2 = bi.w2
    GROUP BY bi.__id
    """


# ---------------------------------------------------------------------------
# Zipf power-law fit (corpus-level frequency diagnostics)
# ---------------------------------------------------------------------------
def zipf_fit(df, text_col: str, id_col: str, top_r: int = 1000):
    """Fit the corpus token-frequency distribution to a power law:
    slope / intercept / r² of ``ln(freq) ~ ln(rank)`` over the ``top_r``
    most frequent tokens, plus the whole-vocabulary mass (n_types,
    n_tokens) and the modal token. A natural-language corpus lands near
    slope ≈ −1 (Zipf 1949); a corpus of boilerplate, spam, or generated
    junk visibly deviates — making the exponent a one-row corpus-quality
    gate alongside the per-document signals (repetition_stats,
    unigram_surprisal).

    Scale: one explode + one token-keyed aggregation (map-side partials;
    shuffle bounded by vocabulary, not corpus), materialized once via the
    signature-store pattern and consumed by BOTH the totals and the
    regression. The rank join is ``orderBy().limit(top_r)`` — a
    TakeOrderedAndProject, never a global sort — and the row_number
    window then runs over only ``top_r`` rows. The regression itself is
    one aggregation over ``top_r`` points staged as rounded logs so the
    DuckDB twin replays it term-for-term.
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    freq = stage(
        df.select(tokens(F.col(text_col)).alias("__tk"))
        .select(F.explode("__tk").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    totals = freq.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tokens"),
    )
    topr = (
        freq.orderBy(F.col("c").desc(), F.col("token"))
        .limit(top_r)
        .withColumn(
            "r",
            F.row_number().over(
                Window.orderBy(F.col("c").desc(), F.col("token"))
            ),
        )
    )
    pts = topr.select(
        round_to(F.log(F.col("r").cast("double")), 6).alias("lr"),
        round_to(F.log(F.col("c").cast("double")), 6).alias("lf"),
        F.when(F.col("r") == 1, F.col("token")).alias("__top"),
    )
    fit = pts.agg(
        round_to(F.regr_slope(F.col("lf"), F.col("lr")), 4).alias("slope"),
        round_to(F.regr_intercept(F.col("lf"), F.col("lr")), 4).alias("intercept"),
        round_to(F.regr_r2(F.col("lf"), F.col("lr")), 4).alias("r2"),
        F.max("__top").alias("top_token"),
    )
    return fit.crossJoin(totals).select(
        "slope", "intercept", "r2", "n_types", "n_tokens", "top_token"
    )


def zipf_fit_sql(table: str, text_col: str, id_col: str, top_r: int = 1000) -> str:
    """DuckDB twin of :func:`zipf_fit` — identical tokenization, rank
    tie-break, staged rounded logs, and regression aggregates."""
    toks = tokens_sql(text_col)
    return f"""
    WITH tok AS (
      SELECT unnest({toks}) AS token FROM {table}
    ), freq AS (
      SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY token
    ), tot AS (
      SELECT CAST(count(*) AS BIGINT) AS n_types,
             CAST(sum(c) AS BIGINT) AS n_tokens
      FROM freq
    ), topr AS (
      SELECT token, c,
             row_number() OVER (ORDER BY c DESC, token) AS r
      FROM freq QUALIFY r <= {top_r}
    ), pts AS (
      SELECT round(ln(CAST(r AS DOUBLE)), 6) AS lr,
             round(ln(CAST(c AS DOUBLE)), 6) AS lf,
             CASE WHEN r = 1 THEN token END AS __top
      FROM topr
    ), fit AS (
      SELECT round(regr_slope(lf, lr), 4) AS slope,
             round(regr_intercept(lf, lr), 4) AS intercept,
             round(regr_r2(lf, lr), 4) AS r2,
             max(__top) AS top_token
      FROM pts
    )
    SELECT slope, intercept, r2, n_types, n_tokens, top_token
    FROM fit CROSS JOIN tot
    """


def _require_terms(terms: list[str], fn: str) -> None:
    """Both engines must fail identically on an empty query: the SQL
    twins would otherwise emit `WHERE __t IN ()` (a DuckDB syntax
    error) while the Spark side silently returns degenerate rows."""
    if not list(terms):
        raise ValueError(f"{fn}: the query term list must be non-empty")


def search_docs(df, text_col: str, id_col: str, terms: list[str], k: int = 20):
    """Conjunctive keyword search with TF-IDF ranking — the inverted-index
    query path of the corpus engine.

    A document matches when its token multiset contains EVERY term;
    matches rank by summed tf·ln(N/df) over the query terms (same idf
    convention as :func:`tfidf_top_terms`), ties to the smaller id.

    Scale shape: the posting scan filters to query-term rows BEFORE any
    shuffle (the term list is a literal `isin`), so the aggregation is
    bounded by docs containing at least one term; per-term document
    frequencies come from the same filtered scan and broadcast back as a
    tiny dim. Top-k via orderBy().limit() — TakeOrderedAndProject, no
    global window. At rest, a materialized (token, id, tf) posting table
    bucketed by token makes this exchange-free (q108).

    Returns ``(doc_id, score)`` rounded to 6.
    """
    from pyspark.sql import functions as F

    _require_terms(terms, "search_docs")
    n_terms = len(set(terms))
    uniq = list(set(terms))
    # ONE tokenize pass: keep only the query-term tokens per doc and
    # checkpoint the (id, matched-tokens) rows — the posting subtree
    # otherwise re-tokenizes the corpus for each consumer (df census +
    # scoring), and the n_docs count rides the same materialization
    staged = stage(
        df.where(F.col(text_col).isNotNull())
        .select(
            F.col(id_col).alias("__id"),
            F.filter(
                tokens(F.col(text_col)), lambda t: t.isin(uniq)
            ).alias("__qt"),
        )
        # QUERY-FILTERED arrays (only the <= |terms| matched tokens per
        # doc survive): a REDUCED frame, not token-granularity — the r13
        # persist experiment cost q269/q303 ~30% (columnar cache encode
        # of array cells vs the checkpoint's raw-row store), so the
        # cheaper bounded stage() stays (measured trade, OPTIMIZATION_r13)
    )
    n_docs = staged.count()
    post = stage(
        staged.select("__id", F.explode("__qt").alias("__t"))
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = post.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    scored = (
        post.join(F.broadcast(dfreq), "__t")
        .groupBy("__id")
        .agg(
            F.count(F.lit(1)).alias("__hit"),
            round_to(
                F.sum(
                    F.col("__tf") * F.log(F.lit(float(n_docs)) / F.col("__df"))
                ),
                6,
            ).alias("score"),
        )
        .where(F.col("__hit") == n_terms)
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("__id"))
        .limit(k)
        .select(F.col("__id").alias(id_col), "score")
    )


def search_docs_sql(
    table: str, text_col: str, id_col: str, terms: list[str], k: int = 20
) -> str:
    """DuckDB twin of :func:`search_docs`."""
    _require_terms(terms, "search_docs_sql")
    uniq = sorted(set(terms))
    lits = ", ".join(sql_quote(t) for t in uniq)
    tok = tokens_sql(text_col)
    return f"""
    WITH post AS (
        SELECT {id_col} AS __id, __t, CAST(count(*) AS BIGINT) AS __tf
        FROM (
            SELECT {id_col}, unnest({tok}) AS __t FROM {table}
        ) WHERE __t IN ({lits})
        GROUP BY 1, 2
    ), n AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs FROM {table}
        WHERE {text_col} IS NOT NULL
    ), dfreq AS (
        SELECT __t, CAST(count(*) AS BIGINT) AS __df FROM post GROUP BY 1
    )
    SELECT p.__id AS {id_col},
           round(sum(p.__tf * ln((SELECT n_docs FROM n)::DOUBLE / d.__df)), 6)
               AS score
    FROM post p JOIN dfreq d USING (__t)
    GROUP BY p.__id
    HAVING count(*) = {len(uniq)}
    ORDER BY score DESC, p.__id
    LIMIT {k}
    """


def bm25_search(
    df, text_col: str, id_col: str, terms: list[str], k: int = 20
):
    """Okapi BM25 ranked retrieval (Robertson 1994; Lucene-style idf)
    — the length-normalized, saturation-damped upgrade of
    :func:`search_docs`'s raw tf-idf, and DISJUNCTIVE (any query term
    matches):

        score(d) = sum_t ln(1 + (N - df + 0.5)/(df + 0.5))
                   * tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))

    with k1 = 1.2, b = 0.75. Document length dl is the doc's FULL
    token count (F.size on the staged token column — no second
    explode); N and sum(dl) ride along as one broadcast scalar row,
    so avgdl is computed in-plan in BOTH engines (no driver literal).

    Scale shape: identical to search_docs — postings filter to query
    terms before any shuffle, dfreq broadcasts back, top-k is
    TakeOrderedAndProject. Floats: the IDENTICAL expression text in
    both engines, round(6), ties to the smaller id.

    Returns ``(doc_id, score)``.
    """
    from pyspark.sql import functions as F

    _require_terms(terms, "bm25_search")
    uniq = sorted(set(terms))
    # ONE tokenize pass: stage (id, doc length, matched tokens) and
    # checkpoint it — the audited plan re-tokenized the corpus four
    # times (lens for stats, lens for scoring, postings for the df
    # census, postings for scoring); everything below reads the
    # doc-sized staged rows or the tiny checkpointed posting frame
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    )
    staged = stage(base.select(
        "__id",
        F.size("__tk").cast("long").alias("__dl"),
        F.filter("__tk", lambda t: t.isin(uniq)).alias("__qt"),
        # query-filtered arrays -> reduced frame; persist measured ~30%
        # slower here (see search_docs note), checkpoint stays
    ))
    lens = staged.select("__id", "__dl")
    stats = staged.agg(
        F.count(F.lit(1)).cast("long").alias("__n"),
        F.sum("__dl").cast("long").alias("__sdl"),
    )
    post = stage(
        staged.select("__id", F.explode("__qt").alias("__t"))
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    dfreq = post.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    nd = F.col("__n").cast("double")
    avgdl = F.col("__sdl").cast("double") / nd
    idf = F.log(
        F.lit(1.0) + (nd - F.col("__df") + F.lit(0.5)) / (F.col("__df") + F.lit(0.5))
    )
    tfd = F.col("__tf").cast("double")
    dld = F.col("__dl").cast("double")
    tf_part = (
        tfd * F.lit(2.2)
        / (tfd + F.lit(1.2) * (F.lit(1.0) - F.lit(0.75) + F.lit(0.75) * dld / avgdl))
    )
    scored = (
        post.join(F.broadcast(dfreq), "__t")
        .join(lens, "__id")
        .crossJoin(F.broadcast(stats))
        .groupBy("__id")
        .agg(round_to(F.sum(idf * tf_part), 6).alias("score"))
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("__id"))
        .limit(k)
        .select(F.col("__id").alias(id_col), "score")
    )


def bm25_search_sql(
    table: str, text_col: str, id_col: str, terms: list[str], k: int = 20
) -> str:
    """DuckDB twin of :func:`bm25_search` (identical expression text)."""
    _require_terms(terms, "bm25_search_sql")
    uniq = sorted(set(terms))
    lits = ", ".join(sql_quote(t) for t in uniq)
    tok = tokens_sql(text_col)
    return f"""
    WITH base AS MATERIALIZED (
        SELECT {id_col} AS __id, {tok} AS __tk
        FROM {table} WHERE {text_col} IS NOT NULL
    ), lens AS MATERIALIZED (
        SELECT __id, CAST(len(__tk) AS BIGINT) AS __dl FROM base
    ), stats AS (
        SELECT CAST(count(*) AS BIGINT) AS __n,
               CAST(sum(__dl) AS BIGINT) AS __sdl
        FROM lens
    ), post AS MATERIALIZED (
        SELECT __id, __t, CAST(count(*) AS BIGINT) AS __tf
        FROM (SELECT __id, unnest(__tk) AS __t FROM base)
        WHERE __t IN ({lits})
        GROUP BY 1, 2
    ), dfreq AS (
        SELECT __t, CAST(count(*) AS BIGINT) AS __df FROM post GROUP BY 1
    )
    SELECT p.__id AS {id_col},
           round(sum(
               ln(1.0 + (s.__n::DOUBLE - d.__df + 0.5) / (d.__df + 0.5))
               * (p.__tf::DOUBLE * 2.2
                  / (p.__tf::DOUBLE
                     + 1.2 * (1.0 - 0.75
                              + 0.75 * l.__dl::DOUBLE
                                / (s.__sdl::DOUBLE / s.__n::DOUBLE))))
           ), 6) AS score
    FROM post p
    JOIN dfreq d USING (__t)
    JOIN lens l USING (__id)
    CROSS JOIN stats s
    GROUP BY p.__id
    ORDER BY score DESC, p.__id
    LIMIT {k}
    """


def dirichlet_ql_search(
    df, text_col: str, id_col: str, terms: list[str],
    mu: float = 2000.0, k: int = 20,
):
    """Dirichlet-smoothed query-likelihood ranked retrieval (Zhai &
    Lafferty 2001) — the language-modeling member of the retrieval trio
    beside Okapi BM25 (:func:`bm25_search`) and raw tf-idf
    (:func:`search_docs`):

        score(d) = sum_t ln( (tf_td + mu * cf_t/|C|) / (dl_d + mu) )

    i.e. the log-likelihood of the query under each document's
    Dirichlet-smoothed unigram LM. Unlike BM25, EVERY document scores
    (absent terms draw the smoothed collection mass), so the standard
    decomposition keeps the scan shape linear:

        score(d) = K + sum_{t in d} ln(1 + tf_td / (mu * p_t))
                   - Qe * ln(dl_d + mu)

    with p_t = cf_t/|C|, K = sum_t ln(mu * p_t) a doc-independent
    constant (kept so the score IS the true log-likelihood), and Qe
    the count of effective query terms. Query terms absent from the
    ENTIRE collection (cf = 0) are dropped — p_t = 0 has no defined
    likelihood — a data-derived decision both engines make identically.

    Scale shape: postings filter to query terms before any shuffle,
    per-term collection frequencies and the (K, Qe, |C|) scalars ride
    as broadcast one-row frames, the per-doc fold is lens LEFT JOIN
    matched-postings (all-doc scoring without an explode over
    non-matching tokens), top-k is TakeOrderedAndProject. Floats: the
    IDENTICAL ln/div expression text both engines, round(6), ties to
    the smaller id.

    Returns ``(doc_id, score)``.
    """
    from pyspark.sql import functions as F

    _require_terms(terms, "dirichlet_ql_search")
    uniq = sorted(set(terms))
    # ONE tokenize pass (the bm25_search staging applied here): the
    # audited plan re-tokenized the corpus for lens x2 (collection
    # total + all-doc scoring) and postings x2 (cf census + matching)
    base = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    )
    staged = stage(base.select(
        "__id",
        F.size("__tk").cast("long").alias("__dl"),
        F.filter("__tk", lambda t: t.isin(uniq)).alias("__qt"),
        # query-filtered arrays -> reduced frame; persist measured ~30%
        # slower here (see search_docs note), checkpoint stays
    ))
    lens = staged.select("__id", "__dl")
    post = stage(
        staged.select("__id", F.explode("__qt").alias("__t"))
        .groupBy("__id", "__t")
        .agg(F.count(F.lit(1)).alias("__tf"))
    )
    cf = post.groupBy("__t").agg(F.sum("__tf").cast("long").alias("__cf"))
    ctot = lens.agg(F.sum("__dl").cast("long").alias("__c"))
    # K and Qe over the cf>0 terms only; one broadcast row
    consts = (
        cf.crossJoin(F.broadcast(ctot))
        .agg(
            F.sum(
                F.log(
                    F.lit(float(mu))
                    * F.col("__cf").cast("double")
                    / F.col("__c").cast("double")
                )
            ).alias("__k"),
            F.count(F.lit(1)).cast("long").alias("__qe"),
        )
    )
    match_term = F.log(
        F.lit(1.0)
        + F.col("__tf").cast("double")
        / (
            F.lit(float(mu))
            * F.col("__cf").cast("double")
            / F.col("__c").cast("double")
        )
    )
    matched = (
        post.join(F.broadcast(cf), "__t")
        .crossJoin(F.broadcast(ctot))
        .groupBy("__id")
        .agg(F.sum(match_term).alias("__m"))
    )
    scored = (
        lens.join(matched, "__id", "left")
        .crossJoin(F.broadcast(consts))
        .select(
            "__id",
            round_to(
                F.coalesce(F.col("__k"), F.lit(0.0))
                + F.coalesce(F.col("__m"), F.lit(0.0))
                - F.coalesce(F.col("__qe"), F.lit(0)).cast("double")
                * F.log(F.col("__dl").cast("double") + F.lit(float(mu))),
                6,
            ).alias("score"),
        )
    )
    return (
        scored.orderBy(F.col("score").desc(), F.col("__id"))
        .limit(k)
        .select(F.col("__id").alias(id_col), "score")
    )


def dirichlet_ql_search_sql(
    table: str, text_col: str, id_col: str, terms: list[str],
    mu: float = 2000.0, k: int = 20,
) -> str:
    """DuckDB twin of :func:`dirichlet_ql_search` (identical ln/div
    expression text, same OOV-drop rule)."""
    _require_terms(terms, "dirichlet_ql_search_sql")
    uniq = sorted(set(terms))
    lits = ", ".join(sql_quote(t) for t in uniq)
    tok = tokens_sql(text_col)
    muf = float(mu)
    return f"""
    WITH base AS MATERIALIZED (
        SELECT {id_col} AS __id, {tok} AS __tk
        FROM {table} WHERE {text_col} IS NOT NULL
    ), lens AS MATERIALIZED (
        SELECT __id, CAST(len(__tk) AS BIGINT) AS __dl FROM base
    ), post AS MATERIALIZED (
        SELECT __id, __t, CAST(count(*) AS BIGINT) AS __tf
        FROM (SELECT __id, unnest(__tk) AS __t FROM base)
        WHERE __t IN ({lits})
        GROUP BY 1, 2
    ), cf AS (
        SELECT __t, CAST(sum(__tf) AS BIGINT) AS __cf FROM post GROUP BY 1
    ), ctot AS (
        SELECT CAST(sum(__dl) AS BIGINT) AS __c FROM lens
    ), consts AS (
        SELECT sum(ln({muf} * f.__cf::DOUBLE / t.__c::DOUBLE)) AS __k,
               CAST(count(*) AS BIGINT) AS __qe
        FROM cf f CROSS JOIN ctot t
    ), matched AS (
        SELECT p.__id,
               sum(ln(1.0 + p.__tf::DOUBLE
                      / ({muf} * f.__cf::DOUBLE / t.__c::DOUBLE)))
                   AS __m
        FROM post p JOIN cf f USING (__t) CROSS JOIN ctot t
        GROUP BY 1
    )
    SELECT l.__id AS {id_col},
           round(COALESCE(c.__k, 0.0) + COALESCE(m.__m, 0.0)
                 - COALESCE(c.__qe, 0)::DOUBLE
                   * ln(l.__dl::DOUBLE + {muf}), 6) AS score
    FROM lens l
    LEFT JOIN matched m USING (__id)
    CROSS JOIN consts c
    ORDER BY score DESC, l.__id
    LIMIT {k}
    """


def phrase_search(df, text_col: str, id_col: str, phrase: list[str], k: int = 20):
    """Exact phrase search over positional postings: documents whose
    token sequence contains ``phrase`` contiguously, ranked by
    occurrence count (ties to the smaller id) — the quoted-query path
    the conjunctive :func:`search_docs` cannot answer (it ignores
    order/adjacency).

    Plan: tokens stage as a projected column (the 11x HOF rule), then
    posexplode to (id, pos, token) rows FILTERED to the phrase's terms
    before any shuffle; term i of the phrase joins on (id, pos + i) —
    each join is keyed and bounded by the phrase terms' posting sizes,
    never the corpus; occurrences then hash-agg per doc and top-k is
    TakeOrderedAndProject. A token-bucketed posting table at rest makes
    the scan exchange-free (q108).

    Returns ``(doc_id, n_occurrences)``.
    """
    _require_terms(phrase, "phrase_search")
    from pyspark.sql import functions as F

    base = df.select(
        F.col(id_col).alias("__id"), tokens(F.col(text_col)).alias("__tk")
    )
    post = (
        base.select("__id", F.posexplode_outer("__tk").alias("__pos", "__t"))
        .where(F.col("__t").isin(list(set(phrase))))
    )
    cur = post.where(F.col("__t") == phrase[0]).select(
        "__id", F.col("__pos").alias("__p0")
    )
    for i, term in enumerate(phrase[1:], start=1):
        nxt = post.where(F.col("__t") == term).select(
            "__id", (F.col("__pos") - i).alias("__p0")
        )
        cur = cur.join(nxt, ["__id", "__p0"])
    return (
        cur.groupBy("__id")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("__id"))
        .limit(k)
        .select(F.col("__id").alias(id_col), "n_occurrences")
    )


def phrase_search_sql(
    table: str, text_col: str, id_col: str, phrase: list[str], k: int = 20
) -> str:
    """DuckDB twin of :func:`phrase_search` — identical positional-join
    logic (DuckDB positions are 1-based; only relative offsets matter)."""
    toks = tokens_sql(text_col)
    _require_terms(phrase, "phrase_search_sql")
    uniq = sorted(set(phrase))
    lits = ", ".join(sql_quote(t) for t in uniq)
    joins = []
    for i, term in enumerate(phrase[1:], start=1):
        joins.append(
            f"JOIN (SELECT __id, __pos - {i} AS __p0 FROM post"
            f" WHERE __t = '{term}') p{i} USING (__id, __p0)"
        )
    join_sql = "\n        ".join(joins)
    return f"""
    WITH tok AS (
        SELECT {id_col} AS __id, {toks} AS __tk FROM {table}
    ), post AS MATERIALIZED (
        SELECT __id, i.i AS __pos, __tk[i.i] AS __t
        FROM tok, unnest(range(1, len(__tk) + 1)) AS i(i)
        WHERE __tk[i.i] IN ({lits})
    ), starts AS (
        SELECT p0.__id, p0.__p0 FROM
        (SELECT __id, __pos AS __p0 FROM post
         WHERE __t = '{phrase[0]}') p0
        {join_sql}
    )
    SELECT __id AS {id_col}, CAST(count(*) AS BIGINT) AS n_occurrences
    FROM starts GROUP BY 1
    ORDER BY n_occurrences DESC, __id
    LIMIT {k}
    """


def js_divergence(
    df_a, df_b, text_col: str, min_count: int = 2
):
    """Jensen–Shannon divergence (in nats) between two corpora's token
    distributions — the bounded, symmetric corpus-distance behind
    domain-mixing weights (DoReMi, Xie et al. 2023 uses this family) and
    train/eval shift checks; PSI (profiling.psi_drift) is its binned
    numeric sibling.

    Tokens under ``min_count`` occurrences in BOTH corpora are dropped
    (declared vocabulary gate — the long tail otherwise dominates cost,
    not signal); zero-vs-nonzero tokens contribute through the mixture
    naturally (p·ln(p/m) with p=0 contributes 0).

    Returns ONE row ``(js_nats, vocab_size, n_tokens_a, n_tokens_b)``,
    js rounded 6. Per-token contributions fold as PICO-unit integers
    (1e12 — token terms are ~1e-7; a float sum over the vocab would be
    fold-order-dependent).

    Scale: each side is one token hash-agg; the join is vocab-keyed;
    totals broadcast. Corpora never co-shuffle raw text.
    """
    from pyspark.sql import functions as F

    def counts(df, side):
        return (
            df.select(tokens(F.col(text_col)).alias("__tk"))
            .select(F.explode_outer("__tk").alias("token"))
            .where(F.col("token").isNotNull())
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias(f"__c{side}"))
        )
    ca, cb = counts(df_a, "a"), counts(df_b, "b")
    j = stage(
        ca.join(cb, "token", "full")
        .select(
            "token",
            F.coalesce(F.col("__ca"), F.lit(0)).alias("__ca"),
            F.coalesce(F.col("__cb"), F.lit(0)).alias("__cb"),
        )
        .where(
            (F.col("__ca") >= min_count) | (F.col("__cb") >= min_count)
        )
    )
    tot = j.agg(
        F.sum("__ca").alias("__na"),
        F.sum("__cb").alias("__nb"),
        F.count(F.lit(1)).alias("__v"),
    )
    t = j.crossJoin(F.broadcast(tot))
    p = F.col("__ca").cast("double") / F.col("__na")
    q = F.col("__cb").cast("double") / F.col("__nb")
    m = (p + q) / 2
    term = (
        F.when(p > 0, 0.5 * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, 0.5 * q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    pico = to_fixed(term, 12)
    return (
        t.select(pico.alias("__p"), "__na", "__nb", "__v")
        .groupBy("__na", "__nb", "__v")
        .agg(F.sum("__p").alias("__s"))
        .select(
            round_to(from_fixed(F.col("__s"), 12), 6).alias("js_nats"),
            F.col("__v").cast("bigint").alias("vocab_size"),
            F.col("__na").cast("bigint").alias("n_tokens_a"),
            F.col("__nb").cast("bigint").alias("n_tokens_b"),
        )
    )


def js_divergence_sql(
    sub_a: str, sub_b: str, text_col: str, min_count: int = 2
) -> str:
    """DuckDB twin of :func:`js_divergence` — identical counts, gate,
    expression shapes and pico fold."""
    toks = tokens_sql(text_col)

    def counts(sub: str, side: str) -> str:
        return f"""
        SELECT token, CAST(count(*) AS BIGINT) AS __c{side}
        FROM (SELECT unnest({toks}) AS token FROM ({sub}))
        WHERE token IS NOT NULL GROUP BY 1"""

    return f"""
    WITH ca AS MATERIALIZED ({counts(sub_a, "a")}
    ), cb AS MATERIALIZED ({counts(sub_b, "b")}
    ), j AS MATERIALIZED (
        SELECT COALESCE(ca.token, cb.token) AS token,
               COALESCE(ca.__ca, 0) AS __ca,
               COALESCE(cb.__cb, 0) AS __cb
        FROM ca FULL JOIN cb ON ca.token = cb.token
        WHERE COALESCE(ca.__ca, 0) >= {min_count}
           OR COALESCE(cb.__cb, 0) >= {min_count}
    ), tot AS (
        SELECT CAST(sum(__ca) AS BIGINT) AS __na,
               CAST(sum(__cb) AS BIGINT) AS __nb,
               CAST(count(*) AS BIGINT) AS __v
        FROM j
    ), terms AS (
        SELECT CAST(round(
            (CASE WHEN CAST(__ca AS DOUBLE) / __na > 0
                  THEN 0.5 * (CAST(__ca AS DOUBLE) / __na)
                       * ln((CAST(__ca AS DOUBLE) / __na)
                            / ((CAST(__ca AS DOUBLE) / __na
                                + CAST(__cb AS DOUBLE) / __nb) / 2))
                  ELSE 0.0 END
             + CASE WHEN CAST(__cb AS DOUBLE) / __nb > 0
                    THEN 0.5 * (CAST(__cb AS DOUBLE) / __nb)
                         * ln((CAST(__cb AS DOUBLE) / __nb)
                              / ((CAST(__ca AS DOUBLE) / __na
                                  + CAST(__cb AS DOUBLE) / __nb) / 2))
                    ELSE 0.0 END) * 1e12, 0) AS BIGINT) AS __p,
               __na, __nb, __v
        FROM j CROSS JOIN tot
    )
    SELECT round(sum(__p) / 1e12, 6) AS js_nats,
           max(__v) AS vocab_size,
           max(__na) AS n_tokens_a,
           max(__nb) AS n_tokens_b
    FROM terms
    """


def smoothed_sampling_weights(
    df, key_col: str, count_col: str, alpha: float = 0.75, k: int = 50
):
    """Temperature-smoothed sampling distribution ``P(i) ∝ count_i^α``
    over pre-aggregated counts — word2vec's negative-sampling unigram
    (α=0.75, Mikolov et al. 2013) and the multilingual/domain mixture
    reweighting (α<1 upsamples the tail) in one operator.

    Returns top-``k`` rows by weight ``(key, count, weight, uplift)``
    (ties to the smaller key) — weight rounded 6; ``uplift`` =
    weight / raw_share (how much smoothing up- or down-samples the key,
    rounded 4).

    Exactness: each ``count^α`` is one pow of a BIGINT-derived double
    (identical in both engines) scaled to MICRO-unit integers; the
    normalizer is the exact integer sum of those — a float normalizer
    would be fold-order-dependent. Weights divide the two integers in
    doubles.

    Scale: input is an already-aggregated count frame; one micro-sum
    (map-side partials) broadcast back; top-k via
    TakeOrderedAndProject.
    """
    from pyspark.sql import functions as F

    c = F.col(count_col).cast("double")
    base = stage(df.where(F.col(count_col) > 0).select(
        F.col(key_col).alias("key"),
        F.col(count_col).cast("bigint").alias("count"),
        to_fixed(F.pow(c, F.lit(float(alpha))), 6).alias("__m"),
    ))
    tot = base.agg(
        F.sum("__m").alias("__tm"), F.sum("count").alias("__tc")
    )
    t = base.crossJoin(F.broadcast(tot))
    weight = F.col("__m").cast("double") / F.col("__tm")
    raw = F.col("count").cast("double") / F.col("__tc")
    return (
        t.select(
            "key",
            "count",
            round_to(weight, 6).alias("weight"),
            round_to(weight / raw, 4).alias("uplift"),
        )
        .orderBy(F.col("weight").desc(), "key")
        .limit(k)
    )


def smoothed_sampling_weights_sql(
    counts_subquery: str,
    key_col: str,
    count_col: str,
    alpha: float = 0.75,
    k: int = 50,
) -> str:
    """DuckDB twin of :func:`smoothed_sampling_weights`."""
    return f"""
    WITH base AS MATERIALIZED (
        SELECT {key_col} AS key,
               CAST({count_col} AS BIGINT) AS count,
               CAST(round(pow(CAST({count_col} AS DOUBLE), {alpha}) * 1e6,
                          0) AS BIGINT) AS __m
        FROM ({counts_subquery}) WHERE {count_col} > 0
    ), tot AS (
        SELECT CAST(sum(__m) AS BIGINT) AS __tm,
               CAST(sum(count) AS BIGINT) AS __tc
        FROM base
    )
    SELECT key, count,
           round(CAST(__m AS DOUBLE) / __tm, 6) AS weight,
           round((CAST(__m AS DOUBLE) / __tm)
                 / (CAST(count AS DOUBLE) / __tc), 4) AS uplift
    FROM base CROSS JOIN tot
    ORDER BY weight DESC, key
    LIMIT {k}
    """


def rrf_fuse(
    frames: list,
    id_col: str,
    k_const: int = 60,
    top_k: int = 20,
):
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) of N
    ranked lists — the standard production combiner over heterogeneous
    retrievers (here: the BM25 / Dirichlet-QL / tf-idf trio), robust
    because it reads only RANKS, never the incomparable raw scores:

        rrf(d) = sum_r 1 / (k + rank_r(d))      (k = 60 canonical)

    Each input frame is ``(id, score)``; rank = row_number by
    (score desc, id). Per-term reciprocals are rounded to integer
    NANO-units (one IEEE division + round each) so the cross-list sum
    is an exact integer fold — bit-identical in both engines
    regardless of accumulation order. Documents absent from a list
    contribute nothing for it (the RRF convention).

    Scale: every input is already a top-k frame (tiny); ranking is a
    window over <= top_k rows per list, the fuse one hash agg.
    Returns ``(id, rrf_nano, n_lists)`` — top_k rows by
    (rrf desc, id).
    """
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if not frames:
        raise ValueError("rrf_fuse: need at least one ranked frame")
    tagged = None
    for i, fr in enumerate(frames):
        t = fr.select(
            F.col(id_col).alias("__id"),
            F.col("score").alias("__s"),
            F.lit(i).alias("__src"),
        )
        tagged = t if tagged is None else tagged.unionByName(t)
    w = Window.partitionBy("__src").orderBy(
        F.col("__s").desc(), F.col("__id")
    )
    ranked = tagged.select(
        "__id", F.row_number().over(w).alias("__r")
    )
    return (
        ranked.groupBy("__id")
        .agg(
            F.sum(
                F.round(
                    F.lit(1e9) / (F.lit(float(k_const)) + F.col("__r")), 0
                ).cast("bigint")
            ).alias("rrf_nano"),
            F.count(F.lit(1)).cast("bigint").alias("n_lists"),
        )
        .orderBy(F.col("rrf_nano").desc(), F.col("__id"))
        .limit(top_k)
        .select(F.col("__id").alias(id_col), "rrf_nano", "n_lists")
    )


def rrf_fuse_sql(
    subqueries: list[str],
    id_col: str,
    k_const: int = 60,
    top_k: int = 20,
) -> str:
    """DuckDB twin of :func:`rrf_fuse`: each subquery must yield
    ``(id, score)``; identical rank/reciprocal/fold expression text."""
    if not subqueries:
        raise ValueError("rrf_fuse_sql: need at least one ranked subquery")
    parts = [
        f"SELECT {id_col} AS __id, score AS __s, {i} AS __src FROM ({q})"
        for i, q in enumerate(subqueries)
    ]
    union = "\n        UNION ALL\n        ".join(parts)
    return f"""
    WITH tagged AS MATERIALIZED (
        {union}
    ), ranked AS (
        SELECT __id,
               row_number() OVER (PARTITION BY __src
                                  ORDER BY __s DESC, __id) AS __r
        FROM tagged
    )
    SELECT __id AS {id_col},
           CAST(sum(CAST(round(1000000000.0 / ({float(k_const)!r} + __r), 0)
                         AS BIGINT)) AS BIGINT) AS rrf_nano,
           CAST(count(*) AS BIGINT) AS n_lists
    FROM ranked
    GROUP BY __id
    ORDER BY rrf_nano DESC, __id
    LIMIT {top_k}
    """
