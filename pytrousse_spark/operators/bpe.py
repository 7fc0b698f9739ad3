"""In-engine BPE tokenizer training (Sennrich/Haddow/Birch ACL 2016) —
the tokenizer-training leg of an LLM data pipeline, run as Spark
aggregations with FULL cross-engine training replay (the same
trained-artifact oracle discipline as clustering.kmeans_cent_ctes:
the DuckDB twin re-derives every merge itself, it does not trust the
driver's result).

Algorithm (classic word-frequency BPE):
  1. reduce the corpus to its ALNUM word-frequency vocabulary — the
     only corpus-sized aggregation; everything after is vocab-bounded,
     which is what makes BPE training feasible at 100 TB (the 2016
     paper's own trick);
  2. segment every word into characters;
  3. repeat ``num_merges`` times: count adjacent symbol pairs weighted
     by word frequency, merge the most frequent pair (ties: lexicographic
     smallest (lhs, rhs) — a fixed deterministic rule), everywhere.

Segmentation is carried as a DELIMITED STRING, each symbol wrapped in
``|`` sentinels (``cat`` → ``|c||a||t|``), so applying a merge
(a, b) → ab is ONE literal ``replace('|a||b|' → '|ab|')`` — and because
every symbol owns BOTH its sentinels, consecutive occurrences share no
characters and the engines' left-to-right non-overlapping replace IS
greedy BPE application. Sentinels are safe: words are restricted to
``[0-9a-z]+`` (documented; matches the corpus tokenizer's lowercase
charset) and merged symbols are concatenations of them.

Scale: the per-iteration pair count is a hash agg over the vocabulary
(not the corpus); the argmax is a 1-row collect; applying the final
merge table to text is a pure map-side expression chain (for production
merge counts in the tens of thousands, swap the chain for an Arrow
``mapInPandas`` tokenizer — the training side is unchanged).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..staging import stage

#: symbol sentinel — never appears in [0-9a-z]+ words
SENT = "|"

_WORD_RE = "^[0-9a-z]+$"


def _word_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """(word, freq) vocabulary of lowercase alnum words — the one
    corpus-sized reduction."""
    from ..functions.text import tokens

    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("__w"))
        .where(F.col("__w").rlike(_WORD_RE))
        .groupBy("__w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__f"))
    )


def _wrap_chars(col: Column) -> Column:
    """``cat`` → ``|c||a||t|`` (every char wrapped in its own sentinels)."""
    return F.regexp_replace(col, "(.)", SENT + "$1" + SENT)


def _seg_with_merges(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Chained greedy merge application over the wrapped segmentation."""
    seg = _wrap_chars(col)
    for lhs, rhs in merges:
        seg = F.replace(
            seg,
            F.lit(f"{SENT}{lhs}{SENT}{SENT}{rhs}{SENT}"),
            F.lit(f"{SENT}{lhs}{rhs}{SENT}"),
        )
    return seg


def _symbols(seg_col: Column) -> Column:
    """Wrapped segmentation string → symbol array."""
    return F.filter(F.split(seg_col, r"\|"), lambda s: s != F.lit(""))


def bpe_train(
    df: DataFrame, text_col: str, num_merges: int = 12
) -> list[tuple[int, str, str, str, int]]:
    """Train ``num_merges`` BPE merges; returns
    ``[(step, lhs, rhs, merged, pair_count), ...]`` in training order.

    Fully deterministic: exact BIGINT pair counts, argmax ties broken by
    (lhs, rhs) ascending. One vocab-bounded aggregation job per merge
    (plus the initial corpus word count); runs to ``num_merges``
    unconditionally — a pair with count 1 is still a well-defined argmax
    (callers wanting the classic stop rule can cut at pair_count < 2).
    """
    if num_merges < 1:
        raise ValueError("bpe_train: num_merges must be >= 1")
    vocab = stage(_word_vocab(df, text_col))
    # segmentation maintained INCREMENTALLY: applying merge k to the
    # (checkpointed) result of merges 1..k-1 IS the chained greedy
    # application, so each step's job applies ONE replace instead of
    # re-wrapping and replaying the whole growing chain from the raw
    # vocabulary (r12 optimization round; bit-identical by definition
    # of _seg_with_merges' left-to-right chain)
    seg = stage(vocab.select(
        _wrap_chars(F.col("__w")).alias("__seg"), "__f"
    ))
    merges: list[tuple[str, str]] = []
    out: list[tuple[int, str, str, str, int]] = []
    for step in range(1, num_merges + 1):
        staged = seg.select(
            _symbols(F.col("__seg")).alias("__t"),
            "__f",
        # single-symbol words carry no pairs — and Spark's
        # sequence(1, 0) DESCENDS instead of being empty
        ).where(F.size("__t") >= 2)
        pairs = staged.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__t") - F.lit(1)),
                    lambda i: F.struct(
                        F.element_at("__t", i).alias("lhs"),
                        F.element_at("__t", i + F.lit(1)).alias("rhs"),
                    ),
                )
            ).alias("__p"),
            "__f",
        )
        from ._collect import bounded_collect

        best = bounded_collect(
            pairs.groupBy(
                F.col("__p.lhs").alias("lhs"), F.col("__p.rhs").alias("rhs")
            )
            .agg(F.sum("__f").cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), "lhs", "rhs")
            .limit(1)
        )
        if not best:  # corpus with no multi-char words at all
            break
        r = best[0]
        merges.append((r["lhs"], r["rhs"]))
        out.append(
            (step, r["lhs"], r["rhs"], r["lhs"] + r["rhs"], int(r["cnt"]))
        )
        if step < num_merges:
            seg = stage(seg.select(
                F.replace(
                    F.col("__seg"),
                    F.lit(f"{SENT}{r['lhs']}{SENT}{SENT}{r['rhs']}{SENT}"),
                    F.lit(f"{SENT}{r['lhs']}{r['rhs']}{SENT}"),
                ).alias("__seg"),
                "__f",
            ))
    return out


def bpe_merge_table(
    df: DataFrame, text_col: str, num_merges: int = 12
) -> DataFrame:
    """The trained merge table as a DataFrame:
    ``(step, lhs, rhs, merged, pair_count)`` ordered by step — the
    artifact a tokenizer ships; the oracle twin
    (:func:`bpe_train_sql`) re-derives the identical table from the
    corpus, certifying the entire training chain cross-engine."""
    rows = bpe_train(df, text_col, num_merges)
    spark = df.sparkSession
    out = spark.createDataFrame(
        rows, "step int, lhs string, rhs string, merged string, pair_count bigint"
    )
    return out.orderBy("step")


def bpe_segment(col: Column, merges: list[tuple[str, str]]) -> Column:
    """Tokenize one WORD column with a trained merge list (greedy
    left-to-right application in training order) → array of symbols.
    Map-side only."""
    return _symbols(_seg_with_merges(col, merges))


def bpe_train_sql(table: str, text_col: str, num_merges: int = 12) -> str:
    """DuckDB twin of :func:`bpe_merge_table` — unrolled training replay:
    one CTE block per merge re-derives pair counts over the segmentation
    built from all PRIOR merges (scalar subqueries feed the replace
    chain), then the same (count desc, lhs, rhs) argmax."""
    from ..functions.text import tokens_sql

    toks = tokens_sql(text_col)
    ctes = [
        f"""vocab AS MATERIALIZED (
        SELECT __w, CAST(count(*) AS BIGINT) AS __f
        FROM (
            SELECT unnest({toks}) AS __w FROM {table}
        )
        WHERE regexp_full_match(__w, '[0-9a-z]+')
        GROUP BY __w
    )"""
    ]
    seg = f"regexp_replace(__w, '(.)', '{SENT}\\1{SENT}', 'g')"
    for j in range(1, num_merges + 1):
        for i in range(1, j):
            pat = (
                f"(SELECT '{SENT}' || lhs || '{SENT}{SENT}' || rhs || '{SENT}'"
                f" FROM m{i})"
            )
            rep = f"(SELECT '{SENT}' || lhs || rhs || '{SENT}' FROM m{i})"
            if i == 1:
                seg_j = f"replace({seg}, {pat}, {rep})"
            else:
                seg_j = f"replace({seg_j}, {pat}, {rep})"
        if j == 1:
            seg_j = seg
        ctes.append(
            f"""t{j} AS (
        SELECT list_filter(string_split({seg_j}, '{SENT}'), s -> s <> '')
                   AS __t,
               __f
        FROM vocab
    ), p{j} AS (
        SELECT u.lhs AS lhs, u.rhs AS rhs, CAST(sum(__f) AS BIGINT) AS cnt
        FROM (
            SELECT unnest(list_transform(range(1, len(__t)),
                          i -> {{lhs: __t[i], rhs: __t[i + 1]}})) AS u,
                   __f
            FROM t{j}
        )
        GROUP BY 1, 2
    ), m{j} AS MATERIALIZED (
        SELECT lhs, rhs, cnt FROM p{j}
        ORDER BY cnt DESC, lhs, rhs LIMIT 1
    )"""
        )
    arms = "\n    UNION ALL ".join(
        f"SELECT {j} AS step, lhs, rhs, lhs || rhs AS merged,"
        f" cnt AS pair_count FROM m{j}"
        for j in range(1, num_merges + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"\n    SELECT CAST(step AS INT) AS step, lhs, rhs, merged,"
        f" pair_count FROM ({arms}) ORDER BY step"
    )
