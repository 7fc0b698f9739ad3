"""Range (interval-containment) join — point-in-range matching.

Spark plans a raw ``l.v BETWEEN r.lo AND r.hi`` join as a nested-loop; that
is fine when one side broadcasts but quadratic for big-big. The bucketed
strategy here turns it into an equi-join (public technique, used by most
interval-join implementations):

1. choose a bucket width; each left point maps to bucket ``floor(v/w)``;
2. each right interval explodes to every bucket it covers (guarded by
   ``max_buckets_per_range``);
3. equi-join on the bucket id, then re-check the exact range predicate.

Shuffle is keyed by bucket id, so co-location replaces the cross product;
skew follows bucket population, tunable via the width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..staging import stage


def range_join(
    left: DataFrame,
    right: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    how: str = "inner",
    bucket_width: float | None = None,
    max_buckets_per_range: int = 10_000,
) -> DataFrame:
    """Join left points to right intervals with ``lo <= point <= hi``.

    ``bucket_width=None`` → broadcast nested-loop (right side must be small).
    With a width, the bucketed equi-join strategy above (both sides large).
    ``how`` supports ``inner`` and ``left`` (unmatched points keep NULLs).
    """
    if how not in ("inner", "left"):
        raise ValueError("range_join supports how='inner' or 'left'")
    cond = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) <= F.col(hi_col))
    if bucket_width is None:
        return left.join(F.broadcast(right), cond, how)

    w = float(bucket_width)
    l_src = left
    if how == "left":
        # row id so unmatched points re-attach exactly once per input row even
        # when the left side holds duplicate rows (a whole-row exceptAll would
        # be wrong on multiplicity and shuffles the full row width).
        # Staging pins the ids: the joined and anti-join branches both
        # re-read the staged partitions instead of recomputing the left
        # plan, so a nondeterministic upstream (sample(), nondeterministic
        # UDF, AQE repartition) cannot hand the two branches different ids.
        l_src = stage(left.withColumn("__lid", F.monotonically_increasing_id()))
    l_b = l_src.withColumn("__bucket", F.floor(F.col(point_col) / w).cast("long"))
    n_buckets = (
        F.floor(F.col(hi_col) / w) - F.floor(F.col(lo_col) / w) + 1
    ).cast("int")
    r_nb = right.withColumn("__nb", n_buckets)
    r_small = (
        r_nb.where(F.col("__nb") <= max_buckets_per_range)  # guard BEFORE explode
        .withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo_col) / w).cast("long"),
                    F.floor(F.col(hi_col) / w).cast("long"),
                )
            ),
        )
        .drop("__nb")
    )
    # intervals spanning more buckets than the explode guard allows are NOT
    # dropped: they take the broadcast nested-loop path and union back in
    # (an interval that wide matches a huge point fraction anyway, so a
    # broadcast range predicate is the right plan for it).
    r_wide = r_nb.where(F.col("__nb") > max_buckets_per_range).drop("__nb")
    bucketed = (
        l_b.join(r_small, on="__bucket", how="inner").where(cond).drop("__bucket")
    )
    wide = l_b.drop("__bucket").join(F.broadcast(r_wide), cond, "inner")
    joined = bucketed.unionByName(wide)
    if how == "inner":
        return joined
    # left join: re-attach unmatched points via anti-join on the row id
    matched = joined.select("__lid").distinct()
    unmatched = l_b.drop("__bucket").join(matched, on="__lid", how="left_anti")
    for c in right.columns:
        unmatched = unmatched.withColumn(c, F.lit(None).cast(right.schema[c].dataType))
    return joined.unionByName(unmatched).drop("__lid")


def interval_join(
    left: DataFrame,
    right: DataFrame,
    left_lo: str,
    left_hi: str,
    right_lo: str,
    right_hi: str,
    how: str = "inner",
    bucket_width: float | None = None,
    max_buckets_per_range: int = 10_000,
) -> DataFrame:
    """Interval-overlap join: ``left_lo <= right_hi AND right_lo <= left_hi``
    (closed intervals; the temporal/genomic overlap-join predicate).

    ``bucket_width=None`` → broadcast nested-loop (small right side). With a
    width, BOTH sides explode to their covered buckets and equi-join on the
    bucket id; an overlapping pair shares every bucket their intersection
    covers, so to emit it exactly once WITHOUT a distinct shuffle the match
    is kept only in its canonical bucket — the one containing
    ``greatest(left_lo, right_lo)``, the start of the intersection (standard
    partitioned interval-join trick, e.g. GenomicsDB/spatial joins).

    Rows whose interval spans more than ``max_buckets_per_range`` buckets on
    either side skip the explode and take a broadcast nested-loop path,
    unioned back in (never silently dropped; assumed rare — pick a width
    that keeps typical intervals narrow).
    """
    if how not in ("inner", "left"):
        raise ValueError("interval_join supports how='inner' or 'left'")
    cond = (F.col(left_lo) <= F.col(right_hi)) & (
        F.col(right_lo) <= F.col(left_hi)
    )
    if bucket_width is None:
        return left.join(F.broadcast(right), cond, how)

    w = float(bucket_width)

    def bucketize(df: DataFrame, lo: str, hi: str):
        nb = (F.floor(F.col(hi) / w) - F.floor(F.col(lo) / w) + 1).cast("int")
        tagged = df.withColumn("__nb", nb)
        narrow = tagged.where(F.col("__nb") <= max_buckets_per_range).drop("__nb")
        wide = tagged.where(F.col("__nb") > max_buckets_per_range).drop("__nb")
        exploded = narrow.withColumn(
            "__bucket",
            F.explode(
                F.sequence(
                    F.floor(F.col(lo) / w).cast("long"),
                    F.floor(F.col(hi) / w).cast("long"),
                )
            ),
        )
        return narrow, wide, exploded

    l_src = left
    if how == "left":
        # see range_join: row id so unmatched rows re-attach exactly once;
        # staging pins the ids across the joined/anti-join branches.
        l_src = stage(left.withColumn("__lid", F.monotonically_increasing_id()))
    l_narrow, l_wide, l_expl = bucketize(l_src, left_lo, left_hi)
    r_narrow, r_wide, r_expl = bucketize(right, right_lo, right_hi)

    canonical = F.col("__bucket") == F.floor(
        F.greatest(F.col(left_lo), F.col(right_lo)) / w
    ).cast("long")
    bucketed = (
        l_expl.join(r_expl, on="__bucket", how="inner")
        .where(cond & canonical)
        .drop("__bucket")
    )
    # wide-row recovery: wide-left x all-right, narrow-left x wide-right —
    # together with narrow x narrow above this partitions all pairs exactly.
    wide_l = l_wide.join(F.broadcast(right), cond, "inner").drop("__nb")
    narrow_l_wide_r = l_narrow.join(F.broadcast(r_wide), cond, "inner")
    joined = bucketed.unionByName(wide_l).unionByName(narrow_l_wide_r)
    if how == "inner":
        return joined
    matched = joined.select("__lid").distinct()
    unmatched = l_src.join(matched, on="__lid", how="left_anti")
    for c in right.columns:
        unmatched = unmatched.withColumn(
            c, F.lit(None).cast(right.schema[c].dataType)
        )
    return joined.unionByName(unmatched).drop("__lid")
