"""Pattern mining over transactional and sequential data
(beyond-reference; the market-basket / clickstream queries an analytics
engine runs next to the reference's group statistics —
``/root/reference/src/trousse/dataset.py`` stops at per-column stats;
these are their multi-item counterparts).

Scale design:
- baskets reduce to DISTINCT (basket, item) BEFORE any pairing, and
  oversized baskets are EXCLUDED by a declared cap (the published
  practice for heavy-basket skew: one pathological 10k-item basket
  contributes 50M pairs; the cap names the trade instead of hiding it);
- the pair space is generated by a basket-keyed self-join (shuffle
  bounded by sum over baskets of b*(b-1)/2, never |items|^2);
- single-item counts are a separate small aggregate broadcast back, and
  the basket total is a one-row frame cross-joined in — no driver
  collect anywhere;
- sequence transitions use one (entity)-keyed window with a
  deterministic (ts, event id) tiebreak — raw events shuffle once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.rounding import round_to
from ..staging import stage


def association_rules(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int = 1000,
    top_k: int = 50,
) -> DataFrame:
    """Market-basket association rules a→b with support, confidence and
    lift, top-``top_k`` by lift (ties broken by the item pair, so the
    result is deterministic).

    Returns ``(antecedent, consequent, pair_count, antecedent_count,
    consequent_count, n_baskets, support, confidence, lift)`` — both
    directions of each unordered pair (confidence is directional).

    Lift uses exact integer cross-multiplication
    ``(pair_count * n_baskets) / (antecedent_count * consequent_count)``
    so both engines divide the same two BIGINTs — no float fold-order
    drift.

    Shuffle budget at 100 TB: one (basket, item) DISTINCT with map-side
    partials, one basket-size agg to apply the cap, one basket-keyed
    self-join of the capped item frame, one (a, b) pair agg, plus a
    broadcast of the single-item counts. Items never cross-join.
    """
    # The cap applies via a basket-partitioned window count rather than
    # an agg + semi-join back: ONE materialization instead of two
    # (items + capped both checkpointed measured 2.9s warm at sf0.1;
    # window variant 2.0s — same result set, same shuffle count).
    items = (
        df.select(
            F.col(basket_col).alias("__b"), F.col(item_col).alias("__i")
        )
        .where(F.col(item_col).isNotNull())
        .distinct()
    )
    wb = Window.partitionBy("__b")
    capped = stage(
        items.withColumn("__sz", F.count(F.lit(1)).over(wb))
        .where(F.col("__sz") <= max_basket_size)
        .drop("__sz")
    )
    n_baskets = capped.agg(
        F.countDistinct("__b").alias("n_baskets")
    )
    item_counts = capped.groupBy(F.col("__i").alias("__it")).agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    a = capped.select("__b", F.col("__i").alias("antecedent"))
    b = capped.select("__b", F.col("__i").alias("consequent"))
    pairs = (
        a.join(b, "__b")
        .where(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("pair_count"))
        .where(F.col("pair_count") >= min_pair_count)
    )
    out = (
        pairs.join(
            F.broadcast(
                item_counts.select(
                    F.col("__it").alias("antecedent"),
                    F.col("__cnt").alias("antecedent_count"),
                )
            ),
            "antecedent",
        )
        .join(
            F.broadcast(
                item_counts.select(
                    F.col("__it").alias("consequent"),
                    F.col("__cnt").alias("consequent_count"),
                )
            ),
            "consequent",
        )
        .crossJoin(F.broadcast(n_baskets))
    )
    out = out.select(
        "antecedent",
        "consequent",
        "pair_count",
        "antecedent_count",
        "consequent_count",
        "n_baskets",
        round_to(F.col("pair_count") / F.col("n_baskets"), 6).alias("support"),
        round_to(
            F.col("pair_count") / F.col("antecedent_count"),
            6,
        ).alias("confidence"),
        round_to(
            (F.col("pair_count") * F.col("n_baskets"))
            / (F.col("antecedent_count") * F.col("consequent_count")),
            6,
        ).alias("lift"),
    )
    return out.orderBy(
        F.col("lift").desc(), "antecedent", "consequent"
    ).limit(top_k)


def association_rules_sql(
    table: str,
    basket_col: str,
    item_col: str,
    min_pair_count: int = 2,
    max_basket_size: int = 1000,
    top_k: int = 50,
) -> str:
    """DuckDB twin of :func:`association_rules`."""
    return f"""
    WITH items AS MATERIALIZED (
        SELECT DISTINCT {basket_col} AS __b, {item_col} AS __i
        FROM {table} WHERE {item_col} IS NOT NULL
    ), capped AS MATERIALIZED (
        SELECT __b, __i FROM items
        WHERE __b IN (
            SELECT __b FROM items GROUP BY __b
            HAVING count(*) <= {max_basket_size}
        )
    ), nb AS (
        SELECT CAST(count(DISTINCT __b) AS BIGINT) AS n_baskets FROM capped
    ), ic AS (
        SELECT __i AS __it, CAST(count(*) AS BIGINT) AS __cnt
        FROM capped GROUP BY 1
    ), pairs AS (
        SELECT a.__i AS antecedent, b.__i AS consequent,
               CAST(count(*) AS BIGINT) AS pair_count
        FROM capped a JOIN capped b USING (__b)
        WHERE a.__i <> b.__i
        GROUP BY 1, 2
        HAVING count(*) >= {min_pair_count}
    )
    SELECT p.antecedent, p.consequent, p.pair_count,
           ca.__cnt AS antecedent_count,
           cb.__cnt AS consequent_count,
           nb.n_baskets,
           round(p.pair_count / nb.n_baskets, 6) AS support,
           round(p.pair_count / ca.__cnt, 6) AS confidence,
           round((p.pair_count * nb.n_baskets) / (ca.__cnt * cb.__cnt), 6)
               AS lift
    FROM pairs p
    JOIN ic ca ON ca.__it = p.antecedent
    JOIN ic cb ON cb.__it = p.consequent
    CROSS JOIN nb
    ORDER BY lift DESC, antecedent, consequent
    LIMIT {top_k}
    """


def event_transitions(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    order_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-entity event
    sequences: for each observed (prev_state, next_state) pair, the
    transition count and the row-normalized probability.

    ``order_col`` breaks timestamp ties deterministically (equal-time
    events would otherwise make lag() engine-order-dependent).

    Returns ``(prev_state, next_state, n_transitions, n_from,
    probability)`` with probability rounded to 6.

    Shuffle budget at 100 TB: events shuffle ONCE on the entity key for
    the lag window; transition pairs then hash-agg with map-side
    partials (bounded by states^2 post-agg); the per-source totals come
    from a second agg over the already-reduced pairs frame — raw events
    are never re-shuffled.
    """
    w = Window.partitionBy("__e").orderBy("__ts", "__o")
    trans = (
        df.select(
            F.col(entity_col).alias("__e"),
            F.col(ts_col).alias("__ts"),
            F.col(order_col).alias("__o"),
            F.col(state_col).alias("next_state"),
        )
        .withColumn("prev_state", F.lag("next_state").over(w))
        .where(F.col("prev_state").isNotNull())
        .groupBy("prev_state", "next_state")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )
    totals = trans.groupBy(F.col("prev_state").alias("__p")).agg(
        F.sum("n_transitions").alias("n_from")
    )
    return (
        trans.join(
            F.broadcast(totals), trans["prev_state"] == totals["__p"]
        )
        .select(
            "prev_state",
            "next_state",
            "n_transitions",
            "n_from",
            round_to(F.col("n_transitions") / F.col("n_from"), 6).alias(
                "probability"
            ),
        )
    )


def event_transitions_sql(
    table: str, entity_col: str, ts_col: str, state_col: str, order_col: str
) -> str:
    """DuckDB twin of :func:`event_transitions`."""
    return f"""
    WITH trans AS (
        SELECT prev_state, next_state,
               CAST(count(*) AS BIGINT) AS n_transitions
        FROM (
            SELECT lag({state_col}) OVER (
                       PARTITION BY {entity_col}
                       ORDER BY {ts_col}, {order_col}
                   ) AS prev_state,
                   {state_col} AS next_state
            FROM {table}
        )
        WHERE prev_state IS NOT NULL
        GROUP BY 1, 2
    ), totals AS (
        SELECT prev_state AS __p,
               CAST(sum(n_transitions) AS BIGINT) AS n_from
        FROM trans GROUP BY 1
    )
    SELECT t.prev_state, t.next_state, t.n_transitions, tt.n_from,
           round(t.n_transitions / tt.n_from, 6) AS probability
    FROM trans t JOIN totals tt ON t.prev_state = tt.__p
    """


def session_paths(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    order_col: str,
    gap_minutes: int = 30,
    depth: int = 3,
    top_k: int = 10,
) -> DataFrame:
    """Top entry paths: sessionize per entity (``gap_minutes`` idle gap),
    take each session's first ``depth`` events in order, and count
    sessions per path string — 'how do sessions start', the step past
    :func:`event_transitions`' single-hop view.

    The path is assembled from per-position MAX(CASE rn = i) aggregates,
    never ``collect_list`` (whose intra-group order is engine-dependent);
    ``order_col`` breaks timestamp ties so rn is total. Returns
    ``(path, depth_reached, n_sessions)``, ties to the smaller path.

    Shuffle budget at 100 TB: events shuffle ONCE on the entity key
    (both windows share the (entity) partitioning — one Exchange, two
    Window passes), the rn <= depth filter cuts to sessions x depth rows
    BEFORE the path agg, and top-k is TakeOrderedAndProject.
    """
    w = Window.partitionBy("__e").orderBy("__ts", "__o")
    gap = F.col("__ts").cast("double") - F.lag(
        F.col("__ts").cast("double")
    ).over(w)
    new_sess = F.when(
        gap.isNull() | (gap > gap_minutes * 60), F.lit(1)
    ).otherwise(F.lit(0))
    staged = df.select(
        F.col(entity_col).alias("__e"),
        F.col(ts_col).alias("__ts"),
        F.col(order_col).alias("__o"),
        F.col(state_col).alias("__s"),
    ).withColumn(
        "__sess", F.sum(new_sess).over(w).cast("bigint")
    )
    ws = Window.partitionBy("__e", "__sess").orderBy("__ts", "__o")
    ranked = (
        staged.withColumn("__rn", F.row_number().over(ws))
        .where(F.col("__rn") <= depth)
    )
    steps = [
        F.max(F.when(F.col("__rn") == i, F.col("__s"))).alias(f"__s{i}")
        for i in range(1, depth + 1)
    ]
    per_sess = ranked.groupBy("__e", "__sess").agg(*steps)
    path = F.concat_ws(
        ">", *[F.col(f"__s{i}") for i in range(1, depth + 1)]
    )
    reached = sum(
        F.when(F.col(f"__s{i}").isNotNull(), 1).otherwise(0)
        for i in range(1, depth + 1)
    )
    return (
        per_sess.select(
            path.alias("path"),
            reached.cast("int").alias("depth_reached"),
        )
        .groupBy("path", "depth_reached")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(top_k)
    )


def session_paths_sql(
    table: str,
    entity_col: str,
    ts_col: str,
    state_col: str,
    order_col: str,
    gap_minutes: int = 30,
    depth: int = 3,
    top_k: int = 10,
) -> str:
    """DuckDB twin of :func:`session_paths` — identical sessionization
    (windowed sum CAST BIGINT: the q11/q68 HUGEINT rule), rank filter,
    per-position MAX assembly and tiebreaks."""
    steps_sel = ", ".join(
        f"max(CASE WHEN __rn = {i} THEN __s END) AS __s{i}"
        for i in range(1, depth + 1)
    )
    path_parts = ", ".join(f"__s{i}" for i in range(1, depth + 1))
    reached = " + ".join(
        f"(CASE WHEN __s{i} IS NOT NULL THEN 1 ELSE 0 END)"
        for i in range(1, depth + 1)
    )
    return f"""
    WITH staged AS (
        SELECT {entity_col} AS __e,
               CAST({ts_col} AS TIMESTAMP) AS __ts,
               {order_col} AS __o,
               {state_col} AS __s
        FROM {table}
    ), sess AS (
        SELECT __e, __ts, __o, __s,
               CAST(sum(CASE WHEN __gap IS NULL
                              OR __gap > {gap_minutes * 60} THEN 1
                             ELSE 0 END)
                    OVER (PARTITION BY __e ORDER BY __ts, __o)
                    AS BIGINT) AS __sess
        FROM (
            SELECT *, epoch(__ts) - lag(epoch(__ts))
                       OVER (PARTITION BY __e ORDER BY __ts, __o) AS __gap
            FROM staged
        )
    ), ranked AS (
        SELECT __e, __sess, __s,
               row_number() OVER (
                   PARTITION BY __e, __sess ORDER BY __ts, __o) AS __rn
        FROM sess
        QUALIFY __rn <= {depth}
    ), per_sess AS (
        SELECT __e, __sess, {steps_sel}
        FROM ranked GROUP BY 1, 2
    )
    SELECT concat_ws('>', {path_parts}) AS path,
           CAST({reached} AS INT) AS depth_reached,
           CAST(count(*) AS BIGINT) AS n_sessions
    FROM per_sess
    GROUP BY 1, 2
    ORDER BY n_sessions DESC, path
    LIMIT {top_k}
    """


def markov_next_event_accuracy(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    order_col: str,
) -> DataFrame:
    """Resubstitution accuracy of the majority-next-state Markov
    predictor — the q133 transition matrix turned into the simplest
    deployable model and scored in-engine (the q200 confusion-readout
    convention): per source state the model predicts
    ``argmax_next count(prev -> next)`` (ties break to the
    lexicographically smallest next state, stated), and accuracy is
    the fraction of observed transitions the prediction gets right.

    Returns one row per source state: ``(prev_state, model_next,
    n_from, n_correct, accuracy, overall_accuracy)`` — the last column
    is the transition-weighted corpus accuracy repeated per row.

    Exactness: pure integer transition counts; accuracies are single
    divisions, round-6.

    Scale: inherits q133's ONE entity-keyed shuffle for the lag
    window; model selection and scoring run on the states^2 frame.
    """
    w = Window.partitionBy("__e").orderBy("__ts", "__o")
    trans = (
        df.select(
            F.col(entity_col).alias("__e"),
            F.col(ts_col).alias("__ts"),
            F.col(order_col).alias("__o"),
            F.col(state_col).alias("next_state"),
        )
        .withColumn("prev_state", F.lag("next_state").over(w))
        .where(F.col("prev_state").isNotNull())
        .groupBy("prev_state", "next_state")
        .agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    )
    pick = Window.partitionBy("prev_state").orderBy(
        F.col("__n").desc(), F.col("next_state").asc()
    )
    per = (
        trans.withColumn("__rn", F.row_number().over(pick))
        .groupBy("prev_state")
        .agg(
            F.sum("__n").cast("bigint").alias("n_from"),
            F.min(
                F.when(F.col("__rn") == 1, F.col("next_state"))
            ).alias("model_next"),
            F.sum(F.when(F.col("__rn") == 1, F.col("__n")).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
        )
    )
    tot = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per.select(
        "prev_state",
        "model_next",
        "n_from",
        "n_correct",
        round_to(
            F.col("n_correct").cast("double")
            / F.col("n_from").cast("double"),
            6,
        ).alias("accuracy"),
        round_to(
            F.sum("n_correct").over(tot).cast("double")
            / F.sum("n_from").over(tot).cast("double"),
            6,
        ).alias("overall_accuracy"),
    )


def markov_next_event_accuracy_sql(
    table: str,
    entity_col: str,
    ts_col: str,
    state_col: str,
    order_col: str,
) -> str:
    """DuckDB twin of :func:`markov_next_event_accuracy`."""
    return f"""
    WITH __seq AS (
        SELECT {entity_col} AS __e, {ts_col} AS __ts,
               {order_col} AS __o, {state_col} AS next_state,
               lag({state_col}) OVER (PARTITION BY {entity_col}
                   ORDER BY {ts_col}, {order_col}) AS prev_state
        FROM {table}
    ), __trans AS (
        SELECT prev_state, next_state,
               CAST(count(*) AS BIGINT) AS __n
        FROM __seq WHERE prev_state IS NOT NULL
        GROUP BY 1, 2
    ), __ranked AS (
        SELECT *, row_number() OVER (PARTITION BY prev_state
                   ORDER BY __n DESC, next_state ASC) AS __rn
        FROM __trans
    ), __per AS (
        SELECT prev_state,
               CAST(sum(__n) AS BIGINT) AS n_from,
               min(CASE WHEN __rn = 1 THEN next_state END)
                   AS model_next,
               CAST(sum(CASE WHEN __rn = 1 THEN __n ELSE 0 END)
                    AS BIGINT) AS n_correct
        FROM __ranked GROUP BY 1
    )
    SELECT prev_state, model_next, n_from, n_correct,
           round(CAST(n_correct AS DOUBLE) / CAST(n_from AS DOUBLE)
                 * 1e6, 0) / 1e6 AS accuracy,
           round(CAST(CAST(sum(n_correct) OVER () AS BIGINT)
                      AS DOUBLE)
                 / CAST(CAST(sum(n_from) OVER () AS BIGINT)
                        AS DOUBLE) * 1e6, 0) / 1e6
               AS overall_accuracy
    FROM __per
    """


def sequential_pattern_support(
    df: DataFrame,
    entity_col: str,
    item_col: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """Support of ordered 2-sequences <a then b> under FIRST-OCCURRENCE
    semantics (the length-2 core of AprioriAll / PrefixSpan, Agrawal &
    Srikant 1995): an entity supports <a, b> iff its first a occurs
    strictly before its first b. Complements event_transitions (adjacent
    steps) and association_rules (unordered co-occurrence).

    Scale design: events reduce to one row per (entity, item) — the
    first-occurrence min — BEFORE any pairing, so the per-entity
    self-join is bounded by entities x items^2 with items the small
    event-type vocabulary, never event volume. Ties on the first
    timestamp break by the order column, exactly mirrored in SQL.
    """
    firsts = df.groupBy(
        F.col(entity_col).alias("__e"), F.col(item_col).alias("__i")
    ).agg(
        F.min(
            F.struct(F.col(ts_col).alias("t"), F.col(order_col).alias("o"))
        ).alias("__first")
    )
    a = firsts.select(
        "__e",
        F.col("__i").alias("item_a"),
        F.col("__first").alias("__fa"),
    )
    b = firsts.select(
        "__e",
        F.col("__i").alias("item_b"),
        F.col("__first").alias("__fb"),
    )
    return (
        a.join(b, "__e")
        .where(
            (F.col("item_a") != F.col("item_b"))
            & (F.col("__fa") < F.col("__fb"))
        )
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_entities"))
    )


def sequential_pattern_support_sql(
    table: str,
    entity_col: str,
    item_col: str,
    ts_col: str,
    order_col: str,
) -> str:
    """DuckDB twin of :func:`sequential_pattern_support` (Spark's
    struct-min tie-break = min ts, then min order among rows AT that
    min ts — expressed as a join-back, since DuckDB's min_by takes no
    composite ordering)."""
    return f"""
    WITH base AS (
        SELECT {entity_col} AS __e, {item_col} AS __i,
               CAST({ts_col} AS TIMESTAMP) AS __ts, {order_col} AS __oc
        FROM {table}
    ), mins AS (
        SELECT __e, __i, min(__ts) AS __t FROM base GROUP BY 1, 2
    ), firsts AS (
        SELECT m.__e, m.__i, m.__t, min(b.__oc) AS __o
        FROM mins m JOIN base b
          ON b.__e = m.__e AND b.__i = m.__i AND b.__ts = m.__t
        GROUP BY 1, 2, 3
    )
    SELECT a.__i AS item_a, b.__i AS item_b,
           CAST(count(*) AS BIGINT) AS n_entities
    FROM firsts a JOIN firsts b ON a.__e = b.__e
    WHERE a.__i <> b.__i
      AND (a.__t < b.__t OR (a.__t = b.__t AND a.__o < b.__o))
    GROUP BY 1, 2
    """


def triple_sequence_support(
    df: DataFrame,
    entity_col: str,
    item_col: str,
    ts_col: str,
    order_col: str,
) -> DataFrame:
    """Support of ordered 3-sequences <a then b then c> under GREEDY
    subsequence matching — the length-3 PrefixSpan step above the
    first-occurrence 2-sequence gate (q237): an entity supports
    <a, b, c> iff positions p1 < p2 < p3 exist with items a, b, c.
    Greedy matching (first a, then FIRST b after it, then first c
    after that b) is provably complete for subsequence containment,
    so no per-entity sequence scan is needed. Adjacent repeats are
    excluded (a != b, b != c); a may equal c (<a, b, a> is a real
    round-trip pattern).

    Occurrence order is the composed fixed-width (epoch-micros,
    order) string key — the q225 OHLC device — so "first after" is a
    plain string min/compare identical in both engines.

    Scale design: stage events once with the composed key; the greedy
    frontier grows as events x vocab (step 2) and the support census
    as entities x vocab^3 DISTINCT rows (step 3) — vocab is the small
    event-type alphabet, never event volume; all joins are
    entity-keyed equi-joins.

    Returns ``(item_a, item_b, item_c, n_entities)``.
    """
    base = df.where(
        F.col(ts_col).isNotNull() & F.col(item_col).isNotNull()
    ).select(
        F.col(entity_col).alias("__e"),
        F.col(item_col).alias("__i"),
        F.format_string(
            "%020d|%020d",
            F.unix_micros(F.col(ts_col)),
            F.col(order_col).cast("bigint"),
        ).alias("__k"),
    )
    firsts = base.groupBy(
        "__e", F.col("__i").alias("item_a")
    ).agg(F.min("__k").alias("__fa"))
    fab = (
        base.join(firsts, "__e")
        .where(
            (F.col("__i") != F.col("item_a"))
            & (F.col("__k") > F.col("__fa"))
        )
        .groupBy("__e", "item_a", F.col("__i").alias("item_b"))
        .agg(F.min("__k").alias("__fab"))
    )
    trip = (
        base.join(fab, "__e")
        .where(
            (F.col("__i") != F.col("item_b"))
            & (F.col("__k") > F.col("__fab"))
        )
        .select(
            "__e", "item_a", "item_b", F.col("__i").alias("item_c")
        )
        .distinct()
    )
    return trip.groupBy("item_a", "item_b", "item_c").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entities")
    )


def triple_sequence_support_sql(
    table: str,
    entity_col: str,
    item_col: str,
    ts_col: str,
    order_col: str,
) -> str:
    """DuckDB twin of :func:`triple_sequence_support` — identical
    composed string keys, greedy mins and band filters."""
    return f"""
    WITH __base AS MATERIALIZED (
        SELECT {entity_col} AS __e, {item_col} AS __i,
               printf('%020d|%020d', epoch_us(CAST({ts_col}
                   AS TIMESTAMP)), CAST({order_col} AS BIGINT)) AS __k
        FROM {table}
        WHERE {ts_col} IS NOT NULL AND {item_col} IS NOT NULL
    ), __firsts AS (
        SELECT __e, __i AS item_a, min(__k) AS __fa
        FROM __base GROUP BY 1, 2
    ), __fab AS MATERIALIZED (
        SELECT b.__e, f.item_a, b.__i AS item_b, min(b.__k) AS __fab
        FROM __base b JOIN __firsts f ON f.__e = b.__e
        WHERE b.__i <> f.item_a AND b.__k > f.__fa
        GROUP BY 1, 2, 3
    ), __trip AS (
        SELECT DISTINCT b.__e, p.item_a, p.item_b, b.__i AS item_c
        FROM __base b JOIN __fab p ON p.__e = b.__e
        WHERE b.__i <> p.item_b AND b.__k > p.__fab
    )
    SELECT item_a, item_b, item_c,
           CAST(count(*) AS BIGINT) AS n_entities
    FROM __trip GROUP BY 1, 2, 3
    """


def markov_entropy_rate(
    df: DataFrame,
    entity_col: str,
    ts_col: str,
    state_col: str,
    order_col: str,
    iters: int = 20,
) -> DataFrame:
    """Entropy rate of the empirical first-order Markov chain over
    per-entity event sequences (Shannon 1948; Cover & Thomas ch. 4) —
    the PREDICTABILITY readout above the raw transition matrix
    (q133): H = -sum_s pi_s sum_t p_st log2 p_st, with pi the
    stationary distribution. H = 0 means the next event is determined
    by the current one; log2(S) means it is uniform noise.

    Stationary distribution by POWER ITERATION in micro-unit
    integers: pi'_t = sum_s (pi_s * c_st) div r_s, renormalized to
    ~1e6 with the same integer div each round — every iterate is an
    exact integer vector in both engines (the q224 lesson: Spark `/`
    on BIGINT is double division; `div` here, `//` in DuckDB — exact
    below 2^53 either way, pinned by the law tests). The chain is
    restricted to states with outgoing transitions; mass entering
    dead-end states is returned by the renormalization (the standard
    empirical-chain convention).

    Returns one row ``(n_states, n_transitions, entropy_rate_bits,
    perplexity)``, round-6; NULL when no transitions.

    Scale: ONE entity-keyed lag shuffle builds the count matrix
    (bounded by states^2). The matrix is collected (guarded at 65,536
    cells) and the power iteration runs DRIVER-SIDE in exact Python
    integers — bit-identical to the in-engine loop (every operation is
    a positive-integer multiply/``div``/sum, and Python's ``//`` equals
    Spark's ``div`` on positives), with the stationary vector
    re-entering as a literal frame for the entropy fold (r12
    optimization round: the distributed loop paid ~2 jobs per
    iteration to move a <=states^2 frame 20 times; same boundedness
    class as the k-means centroid collects). Above the guard the
    original checkpointed distributed loop runs unchanged.
    """
    from ._collect import bounded_collect

    trans = stage(event_transitions(
        df, entity_col, ts_col, state_col, order_col
    ).select(
        F.col("prev_state").alias("__s"),
        F.col("next_state").alias("__t"),
        F.col("n_transitions").cast("bigint").alias("__c"),
        F.col("n_from").cast("bigint").alias("__r"),
    ))
    _CELL_CAP = 65_536
    cells = bounded_collect(trans.limit(_CELL_CAP + 1))
    pi = None
    if len(cells) <= _CELL_CAP:
        states = sorted({r["__s"] for r in cells})
        out_by_s: dict = {}
        for r in cells:
            out_by_s.setdefault(r["__s"], []).append(
                (r["__t"], int(r["__c"]), int(r["__r"]))
            )
        pi_d: dict | None = {s: 1_000_000 for s in states}
        for _ in range(iters):
            # source join AND target semi-join both bind to the CURRENT
            # pi support (which can shrink), exactly as the distributed
            # loop's join + left_semi do
            nxt: dict = {}
            for s, mass in pi_d.items():
                for t, c, rr in out_by_s.get(s, ()):
                    if t in pi_d:
                        nxt[t] = nxt.get(t, 0) + (mass * c) // rr
            tot = sum(nxt.values())
            if tot <= 0:
                # a zero renormalization total yields NULL-mass rows in
                # the engine loop — defer to it for this pathological
                # input rather than modeling NULL arithmetic here
                pi_d = None
                break
            pi_d = {t: (p1 * 1_000_000) // tot for t, p1 in nxt.items()}
        if pi_d is not None:
            spark = df.sparkSession
            st_type = trans.schema["__s"].dataType
            pi_schema = T.StructType(
                [
                    T.StructField("__st", st_type, True),
                    T.StructField("__pi", T.LongType(), True),
                ]
            )
            pi = spark.createDataFrame(
                [(s, p) for s, p in sorted(pi_d.items())], pi_schema
            )
    if pi is None:
        pi = trans.select(F.col("__s").alias("__st")).distinct().select(
            "__st", F.lit(1_000_000).cast("bigint").alias("__pi")
        )
        for _ in range(iters):
            # contributions only into states that have outgoing mass.
            # Checkpoint THIS frame (it feeds both the renormalization
            # total's broadcast and the next pi — unmaterialized, the
            # broadcast subtree re-executed the join+agg, doubling
            # every iteration).
            contrib = stage(
                trans.join(pi.withColumnRenamed("__st", "__s"), "__s")
                .join(
                    pi.select(F.col("__st").alias("__t")).distinct(),
                    "__t",
                    "left_semi",
                )
                .select(
                    "__t",
                    F.expr("(__pi * __c) div __r").alias("__x"),
                )
                .groupBy("__t")
                .agg(F.sum("__x").cast("bigint").alias("__p1"))
            )
            tot = contrib.agg(
                F.sum("__p1").cast("bigint").alias("__tot")
            )
            pi = contrib.crossJoin(F.broadcast(tot)).select(
                F.col("__t").alias("__st"),
                F.expr("(__p1 * 1000000) div __tot")
                .cast("bigint")
                .alias("__pi"),
            )
    mass = pi.agg(F.sum("__pi").cast("bigint").alias("__mass"))
    cell = (
        trans.join(pi.withColumnRenamed("__st", "__s"), "__s")
        .crossJoin(F.broadcast(mass))
        .select(
            (
                (
                    F.col("__pi").cast("double")
                    / F.col("__mass").cast("double")
                )
                * (
                    F.col("__c").cast("double")
                    / F.col("__r").cast("double")
                )
                * (
                    F.log2(
                        F.col("__c").cast("double")
                        / F.col("__r").cast("double")
                    )
                )
            ).alias("__h"),
            F.col("__c"),
        )
    )
    agg = cell.agg(
        (-F.sum("__h")).alias("__H"),
        F.sum("__c").cast("bigint").alias("n_transitions"),
        F.count(F.lit(1)).cast("bigint").alias("__cells"),
    )
    nstates = pi.agg(F.count(F.lit(1)).cast("bigint").alias("n_states"))
    return nstates.crossJoin(F.broadcast(agg)).select(
        "n_states",
        "n_transitions",
        round_to(F.when(F.col("n_transitions") > 0, F.col("__H")), 6).alias(
            "entropy_rate_bits"
        ),
        round_to(
            F.when(
                F.col("n_transitions") > 0,
                F.pow(F.lit(2.0), F.col("__H")),
            ),
            6,
        ).alias("perplexity"),
    )


def markov_entropy_rate_sql(
    table: str,
    entity_col: str,
    ts_col: str,
    state_col: str,
    order_col: str,
    iters: int = 20,
) -> str:
    """DuckDB twin of :func:`markov_entropy_rate` — identical count
    matrix, integer-div power iteration (unrolled MATERIALIZED CTEs)
    and the same log2 fold."""
    inner = event_transitions_sql(
        table, entity_col, ts_col, state_col, order_col
    )
    parts = [f"""
    WITH __trans AS MATERIALIZED (
        SELECT prev_state AS __s, next_state AS __t,
               CAST(n_transitions AS BIGINT) AS __c,
               CAST(n_from AS BIGINT) AS __r
        FROM ({inner})
    ), __pi0 AS MATERIALIZED (
        SELECT DISTINCT __s AS __st,
               CAST(1000000 AS BIGINT) AS __pi
        FROM __trans
    )"""]
    prev = "__pi0"
    for k in range(1, iters + 1):
        parts.append(f"""
    , __ct{k} AS MATERIALIZED (
        SELECT t.__t,
               CAST(sum((p.__pi * t.__c) // t.__r) AS BIGINT) AS __p1
        FROM __trans t
        JOIN {prev} p ON p.__st = t.__s
        WHERE t.__t IN (SELECT __st FROM {prev})
        GROUP BY 1
    ), __pi{k} AS MATERIALIZED (
        SELECT __t AS __st,
               CAST((__p1 * 1000000)
                    // (SELECT sum(__p1) FROM __ct{k}) AS BIGINT)
                   AS __pi
        FROM __ct{k}
    )""")
        prev = f"__pi{k}"
    return (
        "".join(parts)
        + f"""
    , __mass AS (SELECT CAST(sum(__pi) AS BIGINT) AS __m FROM {prev})
    , __agg AS (
        SELECT -sum((CAST(p.__pi AS DOUBLE) / CAST(m.__m AS DOUBLE))
                    * (CAST(t.__c AS DOUBLE) / CAST(t.__r AS DOUBLE))
                    * log2(CAST(t.__c AS DOUBLE)
                           / CAST(t.__r AS DOUBLE))) AS __H,
               CAST(sum(t.__c) AS BIGINT) AS n_transitions
        FROM __trans t
        JOIN {prev} p ON p.__st = t.__s
        CROSS JOIN __mass m
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM {prev}) AS n_states,
           n_transitions,
           round(CASE WHEN n_transitions > 0 THEN __H END * 1e6, 0)
               / 1e6 AS entropy_rate_bits,
           round(CASE WHEN n_transitions > 0 THEN pow(2.0, __H)
                 END * 1e6, 0) / 1e6 AS perplexity
    FROM __agg
    """
    )
