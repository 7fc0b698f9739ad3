"""Declarative data-quality expectations: a rule set checked in ONE pass.

The reference's repair/census machinery (row_fix.py, error census —
ported in operators/repair.py) checks hard-coded conditions; this is its
declarative generalization, the Great-Expectations-style contract every
ingestion pipeline runs before training data is trusted (public pattern:
Great Expectations, Deequ — Schelter et al., VLDB 2018).

Scale design: ALL rules evaluate in one aggregation over one scan —
each rule contributes sum(CASE WHEN violated) map-side partials, plus
(for uniqueness rules) one count-distinct. The per-rule result frame is
built by unpivoting the single aggregate row, so rule count never adds
scans. No collects, no joins, no shuffles beyond the one-row aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import round_to
from ..staging import stage


def expect(
    df: DataFrame,
    rules: dict[str, str],
    unique: dict[str, list[str]] | None = None,
) -> DataFrame:
    """Evaluate named expectations in one pass.

    ``rules`` maps rule name → a boolean SQL expression that must hold
    for every row (NULL counts as a violation — an expectation that
    cannot be evaluated is not met, matching SQL CHECK semantics under
    ``NOT ... IS TRUE``). ``unique`` maps rule name → column list that
    must be row-unique (violations = n_rows - n_distinct).

    Returns one row per rule: ``(rule, n_rows, n_violations,
    violation_rate, passed)`` — rate rounded to 6, ``passed`` =
    zero violations. Deterministic (rule order is the dict order).
    """
    if not rules and not unique:
        raise ValueError("at least one rule required")
    unique = unique or {}
    overlap = set(rules) & set(unique)
    if overlap:
        raise ValueError(f"duplicate rule names: {sorted(overlap)}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, cond in enumerate(rules.values()):
        aggs.append(
            F.sum(
                F.when(F.expr(cond), F.lit(0)).otherwise(F.lit(1))
            ).alias(f"__v{i}")
        )
    for i, cols in enumerate(unique.values()):
        aggs.append(
            F.countDistinct(*[F.col(c) for c in cols]).alias(f"__d{i}")
        )
    # ONE row; checkpointed because every unpivot arm below consumes it —
    # without the barrier each rule re-runs the whole aggregation scan
    one = stage(df.agg(*aggs))
    pieces = []
    for i, name in enumerate(rules):
        pieces.append(
            one.select(
                F.lit(name).alias("rule"),
                F.col("__n").alias("n_rows"),
                F.col(f"__v{i}").cast("bigint").alias("n_violations"),
            )
        )
    for i, name in enumerate(unique):
        pieces.append(
            one.select(
                F.lit(name).alias("rule"),
                F.col("__n").alias("n_rows"),
                (F.col("__n") - F.col(f"__d{i}"))
                .cast("bigint")
                .alias("n_violations"),
            )
        )
    out = pieces[0]
    for p in pieces[1:]:
        out = out.unionByName(p)
    return out.select(
        "rule",
        "n_rows",
        "n_violations",
        F.when(
            F.col("n_rows") > 0,
            round_to(F.col("n_violations") / F.col("n_rows"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("violation_rate"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def expect_sql(
    table_expr: str,
    rules: dict[str, str],
    unique: dict[str, list[str]] | None = None,
) -> str:
    """DuckDB twin of :func:`expect` — one aggregate row, unpivoted by
    UNION ALL, identical NULL-counts-as-violation semantics."""
    unique = unique or {}
    sel = ["CAST(count(*) AS BIGINT) AS __n"]
    for i, cond in enumerate(rules.values()):
        sel.append(
            f"CAST(sum(CASE WHEN {cond} THEN 0 ELSE 1 END) AS BIGINT)"
            f" AS __v{i}"
        )
    for i, cols in enumerate(unique.values()):
        # CASE-wrapped so NULL-keyed rows are excluded from the distinct
        # count, matching Spark's count(DISTINCT a, b) semantics
        notnull = " AND ".join(f"{c} IS NOT NULL" for c in cols)
        cols_sql = ", ".join(cols)
        sel.append(
            f"CAST(count(DISTINCT CASE WHEN {notnull}"
            f" THEN ROW({cols_sql}) END) AS BIGINT) AS __d{i}"
        )
    arms = []
    for i, name in enumerate(rules):
        arms.append(
            f"SELECT '{name}' AS rule, __n AS n_rows,"
            f" __v{i} AS n_violations FROM one"
        )
    for i, name in enumerate(unique):
        arms.append(
            f"SELECT '{name}' AS rule, __n AS n_rows,"
            f" CAST(__n - __d{i} AS BIGINT) AS n_violations FROM one"
        )
    body = "\n        UNION ALL ".join(arms)
    return f"""
    WITH one AS MATERIALIZED (
        SELECT {", ".join(sel)} FROM ({table_expr})
    ), rows_ AS (
        {body}
    )
    SELECT rule, n_rows, n_violations,
           CASE WHEN n_rows > 0
                THEN round(n_violations / n_rows, 6) ELSE 0.0 END
               AS violation_rate,
           n_violations = 0 AS passed
    FROM rows_
    """


_CTRL_PAT = r"[\x00-\x08\x0B\x0C\x0E-\x1F]"
_NONASCII_PAT = r"[^\x00-\x7F]"


def unicode_census_partials(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Mergeable per-group partials of :func:`unicode_census` — six
    exact BIGINT counters, so any partition of the corpus (micro-
    batches, shards, days) sums to the same census: the streaming
    maintenance twin (streaming/events.unicode_census_stream) appends
    these per micro-batch and the readout is bit-equal to the batch
    operator."""
    t = F.col(text_col)
    per = df.where(t.isNotNull()).select(
        F.col(group_col).alias("group"),
        F.length(t).cast("bigint").alias("__ch"),
        F.octet_length(t).cast("bigint").alias("__by"),
        F.regexp_count(t, F.lit(_NONASCII_PAT)).cast("bigint").alias(
            "__na"
        ),
        F.regexp_count(t, F.lit(_CTRL_PAT)).cast("bigint").alias(
            "__ct"
        ),
        F.regexp_count(t, F.lit("\ufffd")).cast("bigint").alias(
            "__re"
        ),
    )
    return per.groupBy("group").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("__ch").cast("bigint").alias("total_chars"),
        F.sum("__by").cast("bigint").alias("total_bytes"),
        F.sum("__na").cast("bigint").alias("nonascii_chars"),
        F.sum("__ct").cast("bigint").alias("ctrl_chars"),
        F.sum("__re").cast("bigint").alias("replacement_chars"),
    )


def unicode_census_merge(partials: DataFrame) -> DataFrame:
    """Merge :func:`unicode_census_partials` frames (sum the six
    counters per group) and emit the census output contract."""
    agg = partials.groupBy("group").agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.sum("total_chars").cast("bigint").alias("total_chars"),
        F.sum("total_bytes").cast("bigint").alias("total_bytes"),
        F.sum("nonascii_chars").cast("bigint").alias("nonascii_chars"),
        F.sum("ctrl_chars").cast("bigint").alias("ctrl_chars"),
        F.sum("replacement_chars")
        .cast("bigint")
        .alias("replacement_chars"),
    )
    ch = F.col("total_chars").cast("double")
    return agg.select(
        "group",
        "n_docs",
        "total_chars",
        "total_bytes",
        "nonascii_chars",
        "ctrl_chars",
        "replacement_chars",
        round_to(
            F.when(
                F.col("total_chars") > 0,
                F.lit(1.0)
                - F.col("nonascii_chars").cast("double") / ch,
            ),
            6,
        ).alias("ascii_ratio"),
        round_to(
            F.when(
                F.col("total_chars") > 0,
                F.col("total_bytes").cast("double") / ch,
            ),
            6,
        ).alias("bytes_per_char"),
    ).orderBy("group")


def unicode_census(
    df: DataFrame,
    group_col: str,
    text_col: str,
) -> DataFrame:
    """Per-group Unicode hygiene census of a text corpus — the
    encoding-level quality gate an LLM ingest runs before tokenizing
    100 TB: mojibake shows up as U+FFFD replacement characters,
    binary-contaminated text as C0 control characters (tab/newline/CR
    excluded), and the byte/char overhead separates CJK-heavy from
    corrupted sources.

        ascii_ratio    = 1 - nonascii_chars / total_chars
        bytes_per_char = total_bytes / total_chars

    Exactness: probed cross-engine — Spark ``length`` and DuckDB
    ``length`` both count CODE POINTS (an astral 4-byte char is 1),
    ``octet_length``/``strlen`` both count UTF-8 bytes, and Java and
    RE2 agree on the three character-class counts; all folds are
    exact BIGINT, the two ratios are single divisions of identical
    integers, round-6, NULL on empty groups. NULL texts are excluded.

    Scale: ONE map-side regexp pass + one group-keyed agg — no
    join, no window, no UDF. Composed as merge(partials(df)) so the
    batch census and the streaming maintenance readout
    (streaming/events.unicode_census_stream) share one code path.

    Returns ``(group, n_docs, total_chars, total_bytes,
    nonascii_chars, ctrl_chars, replacement_chars, ascii_ratio,
    bytes_per_char)`` ordered by group.
    """
    return unicode_census_merge(
        unicode_census_partials(df, group_col, text_col)
    )


def unicode_census_sql(
    table_expr: str,
    group_col: str,
    text_col: str,
) -> str:
    """DuckDB twin of :func:`unicode_census` — identical code-point /
    UTF-8-byte / RE2-class counts (probed) and ratio expressions."""
    return f"""
    WITH __per AS (
        SELECT {group_col} AS "group",
               CAST(length({text_col}) AS BIGINT) AS __ch,
               CAST(strlen({text_col}) AS BIGINT) AS __by,
               CAST(len(regexp_extract_all({text_col},
                    '[^\\x00-\\x7F]')) AS BIGINT) AS __na,
               CAST(len(regexp_extract_all({text_col},
                    '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS BIGINT)
                   AS __ct,
               CAST(len(regexp_extract_all({text_col},
                    '\\x{{FFFD}}')) AS BIGINT) AS __re
        FROM ({table_expr}) WHERE {text_col} IS NOT NULL
    ), __agg AS (
        SELECT "group",
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(__ch) AS BIGINT) AS total_chars,
               CAST(sum(__by) AS BIGINT) AS total_bytes,
               CAST(sum(__na) AS BIGINT) AS nonascii_chars,
               CAST(sum(__ct) AS BIGINT) AS ctrl_chars,
               CAST(sum(__re) AS BIGINT) AS replacement_chars
        FROM __per GROUP BY 1
    )
    SELECT "group", n_docs, total_chars, total_bytes, nonascii_chars,
           ctrl_chars, replacement_chars,
           round(CASE WHEN total_chars > 0 THEN
                 CAST(1.0 AS DOUBLE)
                 - CAST(nonascii_chars AS DOUBLE)
                   / CAST(total_chars AS DOUBLE) END * 1e6, 0) / 1e6
               AS ascii_ratio,
           round(CASE WHEN total_chars > 0 THEN
                 CAST(total_bytes AS DOUBLE)
                 / CAST(total_chars AS DOUBLE) END * 1e6, 0) / 1e6
               AS bytes_per_char
    FROM __agg ORDER BY "group"
    """
