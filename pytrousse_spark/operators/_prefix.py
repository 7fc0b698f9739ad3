"""Bounded-partition exclusive prefix sums over an integer level frame
(r10 VERDICT item 8 / the builder's own mann_whitney backlog note).

The level-frame discipline (mann_whitney, split_conformal, the
propensity/conformal family) folds row-sized data into one row per
distinct integer level, then needs, per level, the sum of one or more
count columns over all STRICTLY SMALLER levels. The obvious plan —
``Window.orderBy(level)`` — is bounded by value-domain cardinality,
not rows, but a genuinely unbounded continuous domain (distinct cents
~ distinct rows) would funnel the whole frame through ONE sort task.

This module's construction keeps the arithmetic exact-integer and
bit-identical while bounding EVERY window partition: a fixed 3-level
bucket hierarchy

    b1 = level >> 20      (same-b1 slice: <= 2^20 distinct levels)
    b2 = level >> 40      (same-b2 slice: <= 2^20 distinct b1 buckets)
    b3 = level >> 60      (same-b3 slice: <= 2^20 distinct b2 buckets)

so the only window WITHOUT a PARTITION BY runs over the b3 frame —
at most 16 rows for the whole 64-bit signed domain (arithmetic shift
is monotone and sign-preserving, so negative levels order correctly).
Then

    below(l) = cum_in_b1(l) + below_b1(b1) + below_b2(b2) + below_b3(b3)

where each term is an exclusive running sum inside its own bounded
partition, and the three bucket frames attach back by plain keyed
joins (never a data-sized broadcast). All sums are integer folds —
the decomposition reproduces the single-window plan bit-for-bit.

Round 12: both helpers take ``group_cols`` — partition keys threaded
through EVERY tier (windows partition by (group..., bucket), bucket
frames join back on (group..., bucket)), so a per-group drift table
(wasserstein_1d_by_group's mixture-rebalancing report) runs one plan
for all groups instead of a driver-side loop. The grouped tier-4
window partitions by the group keys alone (<= 16 rows per group), and
the <=16-row-per-group bucket frames attach by plain keyed joins —
broadcast only in the ungrouped case, where the frame is globally
tiny.

:func:`pooled_levels` is the one two-sample kernel over these helpers:
it builds the pooled cent-level frame, the per-group totals and the
ECDF gap that the drift statistics fold (``profiling``'s
cramer_von_mises, wasserstein_1d, wasserstein_1d_by_group,
kuiper_two_sample, anderson_darling_2s, energy_distance and
drift_by_group, and ``classifier.mann_whitney_by_group``).
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.rounding import to_fixed
from ..staging import stage

#: levels per bucket = 2^20 — the single-sort-task budget used across
#: the skew-immune operators (rolling_time_window's convention).
_SHIFT = 20

#: auto-route threshold: a level frame at or under one bucket's budget
#: sorts fine in a single task, and the plain global window costs ~3
#: stages where the hierarchy costs ~12 (q309/q310 measured 7-11 s vs
#: KS's 2 s at sf0.1 before routing) — the rolling_time_window
#: strategy="auto" convention applied to the level-frame helpers.
_AUTO_MAX_LEVELS = 1 << _SHIFT


def _route(
    lv: DataFrame, strategy: str, group_cols: Sequence[str] = ()
) -> str:
    """Resolve strategy='auto' by COUNTING the (checkpointed) level
    frame — one cheap job against materialized partitions; both routes
    are bit-identical, so this only ever trades plan shape. With
    ``group_cols`` the deciding count is the LARGEST group's level
    count (the per-partition sort budget is per group)."""
    if strategy not in ("auto", "window", "hierarchy"):
        raise ValueError(
            "level-frame strategy must be auto|window|hierarchy"
        )
    if strategy != "auto":
        return strategy
    if group_cols:
        row = (
            lv.groupBy(*group_cols)
            .count()
            .agg(F.max("count").alias("__mx"))
            .first()
        )
        mx = (row[0] if row is not None else 0) or 0
        return "window" if mx <= _AUTO_MAX_LEVELS else "hierarchy"
    return "window" if lv.count() <= _AUTO_MAX_LEVELS else "hierarchy"


def route_for(lv: DataFrame, group_cols: Sequence[str] = ()) -> str:
    """Count ``lv`` ONCE and return the resolved strategy string, for
    callers that feed the same level frame through more than one helper
    (wasserstein_1d chains :func:`next_level` into
    :func:`exclusive_prefix_sums`): with per-call ``strategy="auto"``
    the second call would count its INPUT — the first helper's
    lead-window/join output — executing that whole plan once before the
    real computation does. Route in the caller against the checkpointed
    level frame and pass the result to every helper in the chain."""
    return _route(lv, "auto", group_cols)


def exclusive_prefix_sums(
    lv: DataFrame,
    order_col: str,
    sum_cols: Sequence[str],
    materialize: bool = True,
    strategy: str = "auto",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Return ``lv`` plus, for each ``c`` in ``sum_cols``, a column
    ``__below_{c}`` holding the exact integer sum of ``c`` over all rows
    whose ``order_col`` is strictly smaller — WITHIN the same
    ``group_cols`` tuple when given. ``order_col`` must be an integer
    level key that is UNIQUE per row within its group (the level-frame
    contract: the frame is the output of a ``groupBy(group..., level)``).

    Physical shape (one LINEAR lineage, not four sibling branches): the
    in-bucket window establishes hashpartitioning(group..., __pb1); the
    b1-totals agg is computed FROM the window's output so it rides that
    partitioning with no new exchange, and each further tier likewise
    aggregates its parent window's output. The level frame therefore
    shuffles once going down; the offset chain folds bucket-side
    (o3 joins into o2, o2 into o1 — broadcast only in the ungrouped
    case where o3 is <=16 rows total) and the final join lands back on
    the SAME hashpartitioning the first window created, so the
    diamond's shared stages reuse their shuffle output instead of
    re-scanning the source (the round-11 plan audit caught the
    sibling-branch version scanning the input 6x).

    ``materialize=True`` (default) additionally stages the level frame
    (``staging.stage``): Catalyst's ReuseExchange fires inconsistently
    on the diamond (the same audit saw one caller reuse cleanly and
    another re-scan its source once per tier because column pruning
    rewrote each branch's agg chain differently), and at 100 TB the
    source scan is the dominant cost — staging makes ONE scan a
    structural guarantee rather than optimizer luck. The staged frame
    is the (small) level frame, never the raw data.

    ``strategy``: ``"auto"`` (default) counts the checkpointed level
    frame (the largest group's level count when grouped) and picks
    ``"window"`` (the plain per-group cumulative — one sort task per
    group, ~3 stages, correct whenever each group fits one task's
    budget) at or under 2^20 levels, else ``"hierarchy"`` (the bounded
    construction below). Both routes are exact-integer bit-identical;
    the router only trades plan shape, never values."""
    gc = list(group_cols)
    if materialize:
        lv = stage(lv)
    if _route(lv, strategy, gc) == "window":
        wbase = Window.partitionBy(*gc) if gc else Window
        w = wbase.orderBy(order_col).rowsBetween(
            Window.unboundedPreceding, -1
        )
        return lv.select(
            "*",
            *[
                F.coalesce(F.sum(c).over(w), F.lit(0)).alias(f"__below_{c}")
                for c in sum_cols
            ],
        )
    b1 = F.shiftright(F.col(order_col), _SHIFT)
    base = lv.select("*", b1.alias("__pb1"))

    # tier 1: in-bucket exclusive cumulative (partition <= 2^20 levels)
    w1 = (
        Window.partitionBy(*gc, "__pb1")
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cur = base.select(
        "*",
        *[
            F.coalesce(F.sum(c).over(w1), F.lit(0)).alias(f"__in1_{c}")
            for c in sum_cols
        ],
    )

    # tier 2: b1 totals FROM cur (rides w1's partitioning — no
    # exchange), then exclusive offsets among same-b2 siblings
    t1 = cur.groupBy(*gc, "__pb1").agg(
        *[F.sum(c).alias(f"__t_{c}") for c in sum_cols]
    ).select("*", F.shiftright(F.col("__pb1"), _SHIFT).alias("__pb2"))
    w2 = (
        Window.partitionBy(*gc, "__pb2")
        .orderBy("__pb1")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o1 = t1.select(
        *gc,
        "__pb1",
        "__pb2",
        *[F.col(f"__t_{c}") for c in sum_cols],
        *[
            F.coalesce(F.sum(f"__t_{c}").over(w2), F.lit(0)).alias(
                f"__o1_{c}"
            )
            for c in sum_cols
        ],
    )

    # tier 3: b2 totals FROM o1 (no exchange), offsets among same-b3
    t2 = o1.groupBy(*gc, "__pb2").agg(
        *[F.sum(f"__t_{c}").alias(f"__t_{c}") for c in sum_cols]
    ).select("*", F.shiftright(F.col("__pb2"), _SHIFT).alias("__pb3"))
    w3 = (
        Window.partitionBy(*gc, "__pb3")
        .orderBy("__pb2")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o2 = t2.select(
        *gc,
        "__pb2",
        "__pb3",
        *[F.col(f"__t_{c}") for c in sum_cols],
        *[
            F.coalesce(F.sum(f"__t_{c}").over(w3), F.lit(0)).alias(
                f"__o2_{c}"
            )
            for c in sum_cols
        ],
    )

    # tier 4: b3 totals FROM o2 (no exchange); per-group exclusive
    # offset — frame <= 16 rows per group for the whole 64-bit signed
    # domain; partition-free only in the ungrouped case
    t3 = o2.groupBy(*gc, "__pb3").agg(
        *[F.sum(f"__t_{c}").alias(f"__t_{c}") for c in sum_cols]
    )
    w4base = Window.partitionBy(*gc) if gc else Window
    w4 = w4base.orderBy("__pb3").rowsBetween(Window.unboundedPreceding, -1)
    o3 = t3.select(
        *gc,
        "__pb3",
        *[
            F.coalesce(F.sum(f"__t_{c}").over(w4), F.lit(0)).alias(
                f"__o3_{c}"
            )
            for c in sum_cols
        ],
    )

    # fold the offset chain bucket-side BEFORE touching the level frame
    o3j = o3 if gc else F.broadcast(o3)
    o23 = (
        o2.join(o3j, [*gc, "__pb3"])
        .select(
            *gc,
            "__pb2",
            *[
                (F.col(f"__o2_{c}") + F.col(f"__o3_{c}")).alias(
                    f"__o23_{c}"
                )
                for c in sum_cols
            ],
        )
    )
    offs = (
        o1.join(o23, [*gc, "__pb2"])
        .select(
            *gc,
            "__pb1",
            *[
                (F.col(f"__o1_{c}") + F.col(f"__o23_{c}")).alias(
                    f"__off_{c}"
                )
                for c in sum_cols
            ],
        )
    )
    out = cur.join(offs, [*gc, "__pb1"]).select(
        *lv.columns,
        *[
            (F.col(f"__in1_{c}") + F.col(f"__off_{c}")).alias(f"__below_{c}")
            for c in sum_cols
        ],
    )
    return out


def next_level(
    lv: DataFrame,
    order_col: str,
    materialize: bool = True,
    strategy: str = "auto",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Return ``lv`` plus ``__next`` = the smallest ``order_col``
    strictly greater than this row's within the same ``group_cols``
    tuple (NULL for each group's maximum) — the adjacency a
    Wasserstein-style integral over a level frame needs, with every
    window partition bounded exactly like
    :func:`exclusive_prefix_sums`: in-bucket ``lead`` partitioned by
    (group..., b1), bucket-boundary rows patched from a bucket-min
    frame whose own adjacency comes from the same construction one
    tier up (b2, then the <=16-row-per-group b3 frame). ``strategy``
    routes exactly like :func:`exclusive_prefix_sums` (plain per-group
    ``lead`` at or under 2^20 levels; bit-identical either way).
    """
    gc = list(group_cols)
    if materialize:
        lv = stage(lv)
    if _route(lv, strategy, gc) == "window":
        wbase = Window.partitionBy(*gc) if gc else Window
        w = wbase.orderBy(order_col)
        return lv.select("*", F.lead(order_col).over(w).alias("__next"))
    base = lv.select(
        "*", F.shiftright(F.col(order_col), _SHIFT).alias("__pb1")
    )

    # tier-1 lead within b1 (partition <= 2^20 levels)
    wl1 = Window.partitionBy(*gc, "__pb1").orderBy(order_col)
    cur = base.select("*", F.lead(order_col).over(wl1).alias("__n1"))

    # b1 bucket mins FROM cur (rides wl1's partitioning)
    m1 = cur.groupBy(*gc, "__pb1").agg(
        F.min(order_col).alias("__m")
    ).select("*", F.shiftright(F.col("__pb1"), _SHIFT).alias("__pb2"))
    # tier-2 lead of bucket mins within b2
    wl2 = Window.partitionBy(*gc, "__pb2").orderBy("__pb1")
    m1n = m1.select("*", F.lead("__m").over(wl2).alias("__n2"))
    # b2 mins FROM m1n; tier-3 lead within b3
    m2 = m1n.groupBy(*gc, "__pb2").agg(F.min("__m").alias("__m")).select(
        "*", F.shiftright(F.col("__pb2"), _SHIFT).alias("__pb3")
    )
    wl3 = Window.partitionBy(*gc, "__pb3").orderBy("__pb2")
    m2n = m2.select("*", F.lead("__m").over(wl3).alias("__n3"))
    # b3 mins FROM m2n; per-group lead over the <=16-row frame
    m3 = m2n.groupBy(*gc, "__pb3").agg(F.min("__m").alias("__m"))
    wl4base = Window.partitionBy(*gc) if gc else Window
    wl4 = wl4base.orderBy("__pb3")
    m3n = m3.select(
        *gc, "__pb3", F.lead("__m").over(wl4).alias("__n4")
    )

    # fold boundary successors inward: a b2-last bucket-min row takes
    # the next b3's min, then a b1-last row takes the next b2's min
    m3j = m3n if gc else F.broadcast(m3n)
    m2f = (
        m2n.join(m3j, [*gc, "__pb3"])
        .select(*gc, "__pb2", F.coalesce("__n3", "__n4").alias("__nb2"))
    )
    m1f = (
        m1n.join(m2f, [*gc, "__pb2"])
        .select(*gc, "__pb1", F.coalesce("__n2", "__nb2").alias("__nb1"))
    )
    out = cur.join(m1f, [*gc, "__pb1"]).select(
        *lv.columns,
        F.coalesce("__n1", "__nb1").alias("__next"),
    )
    return out


class PooledLevels(NamedTuple):
    """What :func:`pooled_levels` returns.

    ``levels``: one row per (group, cent level) with ``__c1``/``__c2``
    (the level's count in sample a / b), ``__below___c1`` and
    ``__below___c2`` (the counts at strictly smaller levels of the same
    group) and, with ``adjacency``, ``__next``. ``totals``: one row per
    group (a single row when ungrouped) with ``n_a``/``n_b``.
    """

    levels: DataFrame
    totals: DataFrame
    grouped: bool

    def with_totals(self) -> DataFrame:
        """``levels`` with each row's ``n_a``/``n_b`` attached: a keyed
        join by group (it rides the level frame's group-hash
        partitioning), else a cross join with the broadcast one-row
        totals."""
        if self.grouped:
            return self.levels.join(self.totals, "__g")
        return self.levels.crossJoin(F.broadcast(self.totals))


def both_sides() -> Column:
    """True where the group has rows in both samples."""
    return (F.col("n_a") > 0) & (F.col("n_b") > 0)


def ecdf_gap() -> Column:
    """``F_a(l) - F_b(l)`` at each level of :meth:`PooledLevels.with_totals`
    (inclusive cumulatives over the totals); 0 where a side is empty, so
    ANSI mode never divides by zero."""
    return F.when(
        both_sides(),
        (F.col("__below___c1") + F.col("__c1")).cast("double")
        / F.col("n_a").cast("double")
        - (F.col("__below___c2") + F.col("__c2")).cast("double")
        / F.col("n_b").cast("double"),
    ).otherwise(F.lit(0.0))


def pooled_levels(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    group_col: str | None = None,
    adjacency: bool = False,
) -> PooledLevels:
    """The pooled two-sample level frame shared by the drift statistics.

    Each sample's non-NULL ``value_col`` (and, grouped, non-NULL
    ``group_col``, as ``__g``) is quantized to integer cents ``__y``,
    tagged with its side, and the union is folded by
    ``groupBy([__g,] __y)`` into exact BIGINT counts ``__c1``/``__c2``.
    That frame is staged once and routed once (``route_for``, on the
    largest group's level count), and the routed strategy is passed to
    :func:`next_level` (with ``adjacency``) and
    :func:`exclusive_prefix_sums`, neither of which stages again. The
    totals aggregate the staged frame directly.
    """
    cents = to_fixed(F.col(value_col).cast("double"), 2)
    keep = F.col(value_col).isNotNull()
    key = []
    if group_col is not None:
        keep = keep & F.col(group_col).isNotNull()
        key = [F.col(group_col).alias("__g")]
    gc = ("__g",) if group_col is not None else ()

    def tagged(df: DataFrame, a: int, b: int) -> DataFrame:
        return df.where(keep).select(
            *key,
            cents.alias("__y"),
            F.lit(a).alias("__a"),
            F.lit(b).alias("__b"),
        )

    lv = stage(
        tagged(df_a, 1, 0)
        .unionByName(tagged(df_b, 0, 1))
        .groupBy(*gc, "__y")
        .agg(
            F.sum("__a").cast("bigint").alias("__c1"),
            F.sum("__b").cast("bigint").alias("__c2"),
        )
    )
    # route ONCE against the staged frame: a per-call "auto" in
    # exclusive_prefix_sums would count its input — next_level's output —
    # running that plan a full extra time; neither helper stages again,
    # as next_level's output derives cheaply from the staged frame (one
    # window on the common route) and a second checkpoint costs a job
    strat = route_for(lv, gc)
    lv2 = lv
    if adjacency:
        lv2 = next_level(
            lv2, "__y", materialize=False, strategy=strat, group_cols=gc
        )
    lv2 = exclusive_prefix_sums(
        lv2, "__y", ("__c1", "__c2"), materialize=False, strategy=strat,
        group_cols=gc,
    )
    tot = lv.groupBy(*gc).agg(
        F.sum("__c1").cast("bigint").alias("n_a"),
        F.sum("__c2").cast("bigint").alias("n_b"),
    )
    return PooledLevels(lv2, tot, bool(gc))
