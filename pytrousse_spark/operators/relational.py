"""Relational passthrough utilities beyond the Dataset methods (SURVEY.md
§2.3/§4): skew-aware joins and partitioned/bucketed sinks.

Catalyst + AQE already handle most physical decisions; these helpers cover
the two places a 100 TB pipeline still needs explicit intervention: joins on
heavily-skewed keys and layout-controlled output.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.rounding import round_to


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    how: str = "inner",
    salt_buckets: int = 16,
) -> DataFrame:
    """Equi-join with key salting for skewed left keys.

    The left (big, skewed) side gets a random salt in [0, salt_buckets); the
    right side is exploded ``salt_buckets``× so every (key, salt) pair
    matches. This splits a hot key's rows across ``salt_buckets`` tasks
    instead of one straggler.

    AQE's skew-join handling covers sort-merge cases automatically; salting
    remains necessary when a single key exceeds what one task can hold, or
    when AQE is unavailable (e.g. inside some streaming plans).

    Only columns from ``left`` plus ``right``'s non-key columns survive
    (standard equi-join projection).
    """
    salted_left = left.withColumn(
        "__salt", (F.rand(seed=42) * salt_buckets).cast("int")
    )
    salted_right = right.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1)))
    )
    out = salted_left.join(salted_right, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    mode: str = "error",
    max_records_per_file: int | None = None,
) -> None:
    """Partition-pruned parquet layout: downstream filters on
    ``partition_by`` columns skip whole directories."""
    writer = df.write.mode(mode).partitionBy(*partition_by)
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_by: str,
    num_buckets: int,
    sort_by: str | None = None,
    mode: str = "overwrite",
    single_file_per_bucket: bool = False,
) -> None:
    """Bucketed managed table: co-locates join keys so later joins on
    ``bucket_by`` skip the shuffle entirely (SortMergeJoin with no Exchange).

    With ``sort_by`` AND ``single_file_per_bucket`` the scan also reports
    its ordering, so the join's per-side Sort disappears too: Spark only
    trusts a bucket's sortedness when the bucket is ONE file (multiple
    writer tasks each emit their own sorted file per bucket, which is not
    globally sorted). The pre-shuffle uses the same hash Spark's bucket
    router uses, so each task owns exactly one bucket. Size buckets so one
    file per bucket stays manageable — at 100 TB that means thousands of
    buckets, not 8.
    """
    if single_file_per_bucket:
        df = df.repartition(num_buckets, F.col(bucket_by))
    writer = df.write.mode(mode).bucketBy(num_buckets, bucket_by)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table_name, format="parquet")


def zorder_key(a, b, bits: int = 16):
    """Z-order (Morton) interleave of two non-negative integer columns:
    bit i of ``a`` lands at position 2i, bit i of ``b`` at 2i+1.

    Why it matters at 100 TB: sorting (or range-partitioning) a table by a
    Z-order key before writing clusters rows that are close in BOTH
    dimensions into the same files, so min/max file statistics prune scans
    for predicates on either column — the layout trick behind
    OPTIMIZE ZORDER in lakehouse engines. Pure integer expression (sum of
    masked shifts), bit-exact in any engine.

    Callers must pre-reduce inputs into [0, 2^bits) — e.g. ``pmod(col, lit(
    1 << bits))`` — or high bits are silently ignored.
    """
    from pyspark.sql import functions as F

    key = F.lit(0).cast("long")
    for i in range(bits):
        abit = F.shiftleft((F.shiftright(a.cast("long"), i) % 2), 2 * i)
        bbit = F.shiftleft((F.shiftright(b.cast("long"), i) % 2), 2 * i + 1)
        key = key + abit + bbit
    return key


def zorder_key_sql(a: str, b: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`zorder_key` (same masked-shift sum)."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def fuzzy_join_blocked(
    df_a,
    df_b,
    id_col: str,
    text_col: str,
    block_expr: str,
    max_dist: int = 2,
):
    """Record linkage: pairs whose ``text_col`` edit distance is
    <= ``max_dist``, candidate-bounded by a declared BLOCKING key.

    Blocking (Fellegi–Sunter practice) replaces the O(n²) cross product
    with an equi-join on ``block_expr`` (a SQL expression over each
    side's columns — e.g. a domain key like the head noun, a phonetic
    code, or a length band); ``levenshtein`` then verifies candidates
    JVM-side. Recall is exactly the blocking key's recall — declared,
    not silent: pairs in different blocks are out of scope by contract.
    The exact-prefix alternative for set similarity is q112; for edit
    distance the published exact filter is Gravano 2001 character
    q-grams, which composes with this verify unchanged.

    Self-join callers pass the same frame twice; ``id_a < id_b``
    deduplicates unordered pairs.
    """
    from pyspark.sql import functions as F

    a = df_a.select(
        F.col(id_col).alias("id_a"),
        F.col(text_col).alias("text_a"),
        F.expr(block_expr).alias("__blk"),
    )
    b = df_b.select(
        F.col(id_col).alias("id_b"),
        F.col(text_col).alias("text_b"),
        F.expr(block_expr).alias("__blk"),
    )
    return (
        a.join(b, "__blk")
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("dist", F.levenshtein("text_a", "text_b"))
        .where(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "text_a", "text_b", "dist")
    )


def fuzzy_join_blocked_sql(
    table: str,
    id_col: str,
    text_col: str,
    block_expr: str,
    max_dist: int = 2,
) -> str:
    """DuckDB twin of the self-join form of :func:`fuzzy_join_blocked`."""
    return f"""
    WITH s AS (
        SELECT {id_col} AS id, {text_col} AS text, {block_expr} AS blk
        FROM {table}
    )
    SELECT a.id AS id_a, b.id AS id_b,
           a.text AS text_a, b.text AS text_b,
           CAST(levenshtein(a.text, b.text) AS INTEGER) AS dist
    FROM s a JOIN s b ON a.blk = b.blk AND a.id < b.id
    WHERE levenshtein(a.text, b.text) <= {max_dist}
    """


def pareto_frontier(
    df: DataFrame,
    x_col: str,
    y_col: str,
    num_buckets: int = 256,
) -> DataFrame:
    """2-D Pareto frontier (skyline, both dimensions maximized): the
    distinct ``(x, y)`` points not dominated by any other point
    (dominated = some point with x' >= x, y' >= y, strictly better in at
    least one), with ``n_rows`` = how many input rows sit exactly on each
    frontier point (Börzsönyi et al. 2001, the SKYLINE operator).

    Scale shape: the final sweep is a single-partition window — safe ONLY
    because two pruning stages run first, both distributed:
    (1) map-side x-range bucketing + a broadcast suffix-max table M(b) =
        max y over all strictly-higher buckets (rows there have strictly
        greater x, so any row with y <= M(bucket) is dominated) — this
        discards the interior mass; survivors are bounded by the frontier
        plus one bucket's worth of stragglers per bucket;
    (2) per-x reduction to the max-y point (same-x lower-y points are
        dominated), shuffle bounded by surviving distinct x.
    The sweep window then orders the pruned point set by x desc and keeps
    points whose y strictly exceeds the running max — |candidates| rows,
    not |input|.
    """
    xs, ys = F.col(x_col), F.col(y_col)
    base = df.where(xs.isNotNull() & ys.isNotNull()).select(
        xs.alias("__x"), ys.alias("__y")
    )
    rng = base.agg(
        F.min("__x").alias("__lo"), F.max("__x").alias("__hi")
    )
    b = base.crossJoin(F.broadcast(rng)).select(
        "__x",
        "__y",
        F.when(
            F.col("__hi") == F.col("__lo"), F.lit(0)
        )
        .otherwise(
            F.least(
                F.lit(num_buckets - 1),
                F.floor(
                    (F.col("__x") - F.col("__lo"))
                    / (F.col("__hi") - F.col("__lo"))
                    * num_buckets
                ).cast("int"),
            )
        )
        .alias("__b"),
    )
    from pyspark.sql.window import Window

    bmax = b.groupBy("__b").agg(F.max("__y").alias("__bm"))
    wsuf = (
        Window.orderBy(F.col("__b").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    suffix = bmax.select(
        "__b", F.max("__bm").over(wsuf).alias("__m")
    )
    pruned = (
        b.join(F.broadcast(suffix), "__b")
        .where(F.col("__m").isNull() | (F.col("__y") > F.col("__m")))
    )
    pts = pruned.groupBy("__x", "__y").agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    wx = Window.partitionBy("__x")
    perx = pts.withColumn("__ymax", F.max("__y").over(wx)).where(
        F.col("__y") == F.col("__ymax")
    )
    wsweep = (
        Window.orderBy(F.col("__x").desc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = (
        perx.withColumn("__prev", F.max("__y").over(wsweep))
        .where(F.col("__prev").isNull() | (F.col("__y") > F.col("__prev")))
        .select(
            F.col("__x").alias(x_col),
            F.col("__y").alias(y_col),
            "n_rows",
        )
    )
    return out


def pareto_frontier_sql(
    table_expr: str, x_col: str, y_col: str
) -> str:
    """DuckDB twin of :func:`pareto_frontier` — the pruning stages are a
    Spark-side physical optimization, so the twin runs the direct
    per-x-max + strict-running-max sweep (same mathematical definition,
    independently derivable: a stronger parity check than replaying the
    plan)."""
    return f"""
    WITH pts AS (
        SELECT {x_col} AS x, {y_col} AS y, CAST(count(*) AS BIGINT) AS n_rows
        FROM ({table_expr})
        WHERE {x_col} IS NOT NULL AND {y_col} IS NOT NULL
        GROUP BY 1, 2
    ), perx AS (
        SELECT * FROM (
            SELECT pts.*, max(y) OVER (PARTITION BY x) AS ymax FROM pts
        ) WHERE y = ymax
    ), sweep AS (
        SELECT perx.*,
               max(y) OVER (
                   ORDER BY x DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS prev
        FROM perx
    )
    SELECT x AS {x_col}, y AS {y_col}, n_rows
    FROM sweep WHERE prev IS NULL OR y > prev
    """


def fastss_neighbors(
    df: DataFrame,
    id_col: str,
    text_col: str,
) -> DataFrame:
    """EXACT edit-distance-1 neighbor pairs via deletion-neighborhood
    signatures (FastSS, Bocek et al. 2007) — the blocking-free,
    recall-lossless alternative to :func:`fuzzy_join_blocked`: two
    strings are within Levenshtein distance 1 only if their signature
    sets ``S(x) = {x} ∪ {x minus one character}`` intersect
    (substitution -> both delete the edited position; insert/delete ->
    the shorter string IS a deletion of the longer), so an equi-join
    on signatures finds every candidate and ``levenshtein`` verifies.

    Returns distinct unordered pairs: ``(id_a, id_b, text_a, text_b,
    dist)`` with ``id_a < id_b`` and ``dist <= 1`` (0 = exact dupes).

    Zero false negatives BY CONSTRUCTION (pinned against the O(n^2)
    scan in tests/test_relational_stateful.py); false candidates are
    filtered by the verify.

    Scale: |S(x)| = len(x) + 1 signatures per string — the explode is
    linear in total characters; the join shuffles on the signature
    key, and a signature's bucket only grows with genuinely
    near-identical strings (the workload's own duplicate mass — the
    same axis LSH bands grow on, q43). No block key to tune, no
    quadratic block interior, no O(n^2) anywhere.
    """
    from pyspark.sql import functions as F

    from ..io import rebalance_undersplit

    # the q87/q181 lesson: a single-row-group parquet scan is ONE task,
    # and the L+1-way signature explode would run on one core
    s = rebalance_undersplit(
        df.select(
            F.col(id_col).cast("bigint").alias("__id"),
            F.col(text_col).alias("__txt"),
        ).where(F.col("__txt").isNotNull())
    )
    # S(x) = {x} ∪ single-deletion variants (guard empty strings: the
    # descending-sequence trap — sequence(1, 0) is NOT empty)
    sigs = s.select(
        "__id",
        "__txt",
        F.explode(
            F.concat(
                F.array(F.col("__txt")),
                F.when(
                    F.length("__txt") >= 1,
                    F.expr(
                        "transform(sequence(1, length(__txt)), i ->"
                        " concat(substring(__txt, 1, i - 1),"
                        " substring(__txt, i + 1,"
                        " length(__txt))))"
                    ),
                ).otherwise(F.array()),
            )
        ).alias("__sig"),
    )
    a = sigs.select(
        F.col("__id").alias("id_a"),
        F.col("__txt").alias("text_a"),
        "__sig",
    )
    b = sigs.select(
        F.col("__id").alias("id_b"),
        F.col("__txt").alias("text_b"),
        "__sig",
    )
    cand = (
        a.join(b, "__sig")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(
            F.min("text_a").alias("text_a"),
            F.min("text_b").alias("text_b"),
        )
    )
    return (
        cand.withColumn(
            "dist",
            F.levenshtein("text_a", "text_b").cast("int"),
        )
        .where(F.col("dist") <= 1)
        .select("id_a", "id_b", "text_a", "text_b", "dist")
    )


def fastss_neighbors_sql(
    table: str,
    id_col: str,
    text_col: str,
) -> str:
    """DuckDB oracle for :func:`fastss_neighbors` — the BRUTE-FORCE
    O(n^2) levenshtein scan (length-banded), NOT a signature replay:
    the gate therefore certifies the deletion-neighborhood completeness
    claim itself, the q161 exhaustive-oracle convention."""
    return f"""
    WITH s AS (
        SELECT CAST({id_col} AS BIGINT) AS id, {text_col} AS txt
        FROM {table} WHERE {text_col} IS NOT NULL
    )
    SELECT a.id AS id_a, b.id AS id_b,
           a.txt AS text_a, b.txt AS text_b,
           CAST(levenshtein(a.txt, b.txt) AS INTEGER) AS dist
    FROM s a JOIN s b
      ON a.id < b.id
     AND abs(length(a.txt) - length(b.txt)) <= 1
    WHERE levenshtein(a.txt, b.txt) <= 1
    """


def fk_orphan_census(
    edges: list,
) -> DataFrame:
    """Referential-integrity census over declared foreign-key edges —
    the data-quality gate a warehouse runs before trusting any join:
    per edge, how many child rows have a NULL key, how many non-NULL
    keys have NO parent (orphans), and the orphan rate.

    ``edges`` is a list of ``(edge_name, child_df, fk_col, parent_df,
    pk_col)``. Returns one row per edge: ``(edge, n_child, n_null_fk,
    n_orphan, orphan_rate)`` with ``orphan_rate = n_orphan / non-null
    children`` (NULL when there are none).

    Exactness: pure integer counts + one division.

    Scale: each edge is one LEFT ANTI join on the key (AQE picks
    broadcast when the parent's distinct-key projection is small —
    the parent is pruned to its pk column before joining) plus one
    conditional agg; edges union at the END on one-row frames.
    """
    from functools import reduce

    from pyspark.sql import functions as F

    outs = []
    for name, child, fk, parent, pk in edges:
        keys = parent.select(F.col(pk).alias("__pk")).distinct()
        base = child.select(F.col(fk).alias("__fk"))
        # ONE child scan per edge: the distinct-key LEFT join preserves
        # child-row multiplicity exactly (at most one parent match), so
        # the total/NULL census and the orphan count (non-NULL fk with
        # no parent) fold in the same aggregation — the audited plan
        # paid two child scans per edge through the separate anti join
        row = (
            base.join(keys, F.col("__fk") == F.col("__pk"), "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child"),
                # COALESCE(..., 0): SUM over an empty child is NULL —
                # the r12 rewrite silently changed the empty-child edge
                # from the COUNT path's 0 (r12 ADVICE item 2); the SQL
                # twin mirrors the same guard
                F.coalesce(
                    F.sum(
                        F.when(F.col("__fk").isNull(), 1).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_null_fk"),
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col("__fk").isNotNull()
                            & F.col("__pk").isNull(),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("bigint")
                .alias("n_orphan"),
            )
        )
        row = row.select(
            F.lit(name).alias("edge"),
            "n_child",
            "n_null_fk",
            "n_orphan",
            round_to(
                F.when(
                    F.col("n_child") - F.col("n_null_fk") > 0,
                    F.col("n_orphan").cast("double")
                    / (F.col("n_child") - F.col("n_null_fk")).cast("double"),
                ),
                6,
            ).alias("orphan_rate"),
        )
        outs.append(row)
    return reduce(lambda x, y: x.unionByName(y), outs)


def fk_orphan_census_sql(edges: list) -> str:
    """DuckDB twin of :func:`fk_orphan_census`; ``edges`` entries are
    ``(edge_name, child_table, fk_col, parent_table, pk_col)``."""
    parts = []
    for name, child, fk, parent, pk in edges:
        parts.append(f"""
        SELECT '{name}' AS edge,
               CAST(count(*) AS BIGINT) AS n_child,
               CAST(COALESCE(sum(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END),
                    0) AS BIGINT) AS n_null_fk,
               CAST(COALESCE(sum(CASE WHEN c.{fk} IS NOT NULL
                        AND p.__pk IS NULL THEN 1 ELSE 0 END),
                    0) AS BIGINT) AS n_orphan,
               round(CASE WHEN count(*) - sum(CASE WHEN c.{fk} IS NULL
                          THEN 1 ELSE 0 END) > 0 THEN
                     CAST(sum(CASE WHEN c.{fk} IS NOT NULL
                              AND p.__pk IS NULL THEN 1 ELSE 0 END)
                          AS DOUBLE)
                     / CAST(count(*) - sum(CASE WHEN c.{fk} IS NULL
                            THEN 1 ELSE 0 END) AS DOUBLE) END
                     * 1e6, 0) / 1e6 AS orphan_rate
        FROM {child} c
        LEFT JOIN (SELECT DISTINCT {pk} AS __pk FROM {parent}) p
          ON c.{fk} = p.__pk""")
    return "\nUNION ALL\n".join(parts)
