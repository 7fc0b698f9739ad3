"""Snapshot diff + merge — incremental (CDC-style) dataset maintenance.

A 100 TB training corpus is not rebuilt from scratch per release; it is
maintained as snapshots, and every downstream consumer (dedup indexes,
quality gates, packed shards) wants the CHANGE SET between two snapshots:
which keys appeared, disappeared, or changed payload. ``snapshot_diff``
computes that change set with one co-partitioned full-outer join;
``merge_apply`` replays a change set onto the old snapshot and provably
reconstructs the new one (the round-trip law is pinned in
tests/test_cdc.py). Spark OSS has no MERGE INTO without a table format
that provides it; this pair expresses the same maintenance loop in plain
DataFrame ops.

Scale design
------------
* Each side is reduced MAP-SIDE to ``(key, fingerprint, payload)`` before
  the join, so the shuffle carries one hash instead of a wide row
  comparison, and the classification is a single hash equality.
* The diff is ONE shuffle per side, keyed by the snapshot key. At rest,
  write both snapshots bucketed by the key (see operators/relational
  bucketing / q108) and the diff becomes exchange-free.
* The fingerprint compares the two sides WITHIN one engine only (it is
  never emitted), so engine-specific value formatting cannot break
  cross-engine parity of the classification.
* ``merge_apply`` is an anti-join on the (delete ∪ update) keyset plus a
  union of the (insert ∪ update) new rows — when the change set is small
  relative to the snapshot (the steady-state case), AQE broadcasts it and
  the old snapshot never shuffles.

Reference parity: the reference has no incremental maintenance at all
(its datasets are eager in-memory frames, src/trousse/dataset.py) — this
module is part of the beyond-reference pipeline layer.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: unit separator / NUL sentinels for fingerprint serialization.
_SEP = "\x1f"
_NULL = "\x00"


def row_fingerprint(cols: list[str]) -> Column:
    """md5 fingerprint of the named columns (order-significant).

    NULL maps to a NUL sentinel so (NULL) and ('') differ; values join on
    the unit separator so ('ab','c') and ('a','bc') differ. Only hash
    EQUALITY between rows of the same engine is meaningful — the digest
    is engine-portable for ints/strings/decimals but double formatting
    may differ across engines, so callers must not emit it for parity.
    """
    return F.md5(
        F.concat_ws(
            _SEP, *[F.coalesce(F.col(c).cast("string"), F.lit(_NULL)) for c in cols]
        )
    )


def _side(
    df: DataFrame, tag: str, key_cols: list[str], payload: list[str]
) -> DataFrame:
    """One snapshot side of a change join: key and payload columns
    prefixed ``{tag}_`` plus the payload fingerprint ``{tag}_fp``."""
    return df.select(
        *[F.col(k).alias(f"{tag}_{k}") for k in key_cols],
        row_fingerprint(payload).alias(f"{tag}_fp"),
        *[F.col(c).alias(f"{tag}_{c}") for c in payload],
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Change set between two snapshots sharing a schema.

    Returns one row per changed key: the key columns, ``change_type`` in
    {'insert','delete','update'}, and the new-side payload columns (NULL
    for deletes). Unchanged keys are dropped in the join output filter —
    the steady-state 99% never leaves the shuffle reader.
    """
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in key_cols]
    payload = compare_cols

    a = _side(old, "a", key_cols, payload)
    b = _side(new, "b", key_cols, payload)
    cond = None
    for k in key_cols:
        eq = a[f"a_{k}"] == b[f"b_{k}"]
        cond = eq if cond is None else cond & eq
    joined = a.join(b, cond, "full_outer")
    a_key0, b_key0 = F.col(f"a_{key_cols[0]}"), F.col(f"b_{key_cols[0]}")
    change = (
        F.when(a_key0.isNull(), F.lit("insert"))
        .when(b_key0.isNull(), F.lit("delete"))
        .when(F.col("a_fp") != F.col("b_fp"), F.lit("update"))
    )
    return (
        joined.withColumn("change_type", change)
        .where(F.col("change_type").isNotNull())
        .select(
            *[
                F.coalesce(F.col(f"b_{k}"), F.col(f"a_{k}")).alias(k)
                for k in key_cols
            ],
            "change_type",
            *[F.col(f"b_{c}").alias(c) for c in payload],
            *[F.col(f"a_{c}").alias(f"old_{c}") for c in payload],
        )
    )


def merge_apply(
    old: DataFrame, changes: DataFrame, key_cols: list[str]
) -> DataFrame:
    """Replay a :func:`snapshot_diff` change set onto ``old``.

    new = (old ⟕̸ keys(delete ∪ update)) ∪ rows(insert ∪ update) — the
    anti side is the change keyset (small in steady state → broadcast),
    and the law ``merge_apply(A, snapshot_diff(A, B)) ≡ B`` holds
    row-for-row (pinned in tests/test_cdc.py).
    """
    payload = [c for c in old.columns if c not in key_cols]
    gone = changes.where(F.col("change_type").isin("delete", "update")).select(
        *key_cols
    )
    fresh = changes.where(F.col("change_type").isin("insert", "update")).select(
        *key_cols, *payload
    )
    return old.join(gone, key_cols, "left_anti").unionByName(fresh)


def snapshot_diff_sql(
    old_subquery: str,
    new_subquery: str,
    key_cols: list[str],
    compare_cols: list[str],
) -> str:
    """DuckDB twin of :func:`snapshot_diff` — same full-outer join, same
    NUL/US fingerprint serialization, same classification rule."""

    def fp(tag: str) -> str:
        parts = ", ".join(
            f"coalesce(CAST({tag}.{c} AS VARCHAR), chr(0))" for c in compare_cols
        )
        return f"md5(concat_ws(chr(31), {parts}))"

    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    keys = ", ".join(
        f"coalesce(b.{k}, a.{k}) AS {k}" for k in key_cols
    )
    newp = ", ".join(f"b.{c} AS {c}" for c in compare_cols)
    oldp = ", ".join(f"a.{c} AS old_{c}" for c in compare_cols)
    return f"""
    SELECT {keys},
           CASE WHEN a.{key_cols[0]} IS NULL THEN 'insert'
                WHEN b.{key_cols[0]} IS NULL THEN 'delete'
                WHEN {fp('a')} <> {fp('b')} THEN 'update'
           END AS change_type,
           {newp}, {oldp}
    FROM ({old_subquery}) a FULL OUTER JOIN ({new_subquery}) b ON {on}
    WHERE a.{key_cols[0]} IS NULL OR b.{key_cols[0]} IS NULL
       OR {fp('a')} <> {fp('b')}
    """


def scd2_history(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    t0: str,
    t1: str,
    compare_cols: list[str] | None = None,
) -> DataFrame:
    """Slowly-Changing-Dimension Type 2: build the versioned history of a
    dimension from two snapshots (valid at ``t0`` and ``t1``, ISO dates).

    Every key in the old snapshot yields its t0 version — closed at t1
    (``valid_to = t1, is_current = false``) when the key was deleted or
    its payload changed, open otherwise; every inserted or changed key
    yields an open t1 version. The classification is the same map-side
    fingerprint + one co-partitioned full-outer join as
    :func:`snapshot_diff` — unchanged keys (the steady-state 99%) cost
    one hash equality; at rest, bucket both snapshots by the key and the
    join is exchange-free (q108). Laws pinned in tests/test_cdc.py:
    current rows reproduce the new snapshot exactly, and each key has at
    most one open version.
    """
    if compare_cols is None:
        compare_cols = [c for c in old.columns if c not in key_cols]
    payload = compare_cols

    a = _side(old, "a", key_cols, payload)
    b = _side(new, "b", key_cols, payload)
    cond = None
    for k in key_cols:
        eq = a[f"a_{k}"] == b[f"b_{k}"]
        cond = eq if cond is None else cond & eq
    j = a.join(b, cond, "full_outer")
    a0, b0 = F.col(f"a_{key_cols[0]}"), F.col(f"b_{key_cols[0]}")
    changed = b0.isNull() | (F.col("a_fp") != F.col("b_fp"))
    d0, d1 = F.lit(t0).cast("date"), F.lit(t1).cast("date")
    old_rows = j.where(a0.isNotNull()).select(
        *[F.col(f"a_{k}").alias(k) for k in key_cols],
        *[F.col(f"a_{c}").alias(c) for c in payload],
        d0.alias("valid_from"),
        F.when(changed, d1).alias("valid_to"),
        (~changed).alias("is_current"),
    )
    new_rows = j.where(
        b0.isNotNull() & (a0.isNull() | (F.col("a_fp") != F.col("b_fp")))
    ).select(
        *[F.col(f"b_{k}").alias(k) for k in key_cols],
        *[F.col(f"b_{c}").alias(c) for c in payload],
        d1.alias("valid_from"),
        F.lit(None).cast("date").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return old_rows.unionByName(new_rows)


def scd2_history_sql(
    old_subquery: str,
    new_subquery: str,
    key_cols: list[str],
    t0: str,
    t1: str,
    compare_cols: list[str],
) -> str:
    """DuckDB twin of :func:`scd2_history` — same fingerprint, same
    full-outer join, same two-arm union."""

    def fp(tag: str) -> str:
        parts = ", ".join(
            f"coalesce(CAST({tag}.{c} AS VARCHAR), chr(0))" for c in compare_cols
        )
        return f"md5(concat_ws(chr(31), {parts}))"

    on = " AND ".join(f"a.{k} = b.{k}" for k in key_cols)
    aside = ", ".join(
        [f"{k} AS __k_{k}" for k in key_cols]
        + [f"{c} AS __p_{c}" for c in compare_cols]
    )
    aksel = ", ".join(f"a.__k_{k} AS a_{k}" for k in key_cols)
    bksel = ", ".join(f"b.__k_{k} AS b_{k}" for k in key_cols)
    apsel = ", ".join(f"a.__p_{c} AS a_{c}" for c in compare_cols)
    bpsel = ", ".join(f"b.__p_{c} AS b_{c}" for c in compare_cols)
    on2 = " AND ".join(f"a.__k_{k} = b.__k_{k}" for k in key_cols)
    fpa = "md5(concat_ws(chr(31), " + ", ".join(
        f"coalesce(CAST(a.__p_{c} AS VARCHAR), chr(0))" for c in compare_cols
    ) + "))"
    fpb = "md5(concat_ws(chr(31), " + ", ".join(
        f"coalesce(CAST(b.__p_{c} AS VARCHAR), chr(0))" for c in compare_cols
    ) + "))"
    out_keys_a = ", ".join(f"a_{k} AS {k}" for k in key_cols)
    out_pay_a = ", ".join(f"a_{c} AS {c}" for c in compare_cols)
    out_keys_b = ", ".join(f"b_{k} AS {k}" for k in key_cols)
    out_pay_b = ", ".join(f"b_{c} AS {c}" for c in compare_cols)
    changed = f"(b_{key_cols[0]} IS NULL OR a_fp <> b_fp)"
    return f"""
    WITH j AS MATERIALIZED (
        SELECT {aksel}, {bksel}, {apsel}, {bpsel},
               {fpa} AS a_fp, {fpb} AS b_fp
        FROM (SELECT {aside} FROM ({old_subquery})) a
        FULL OUTER JOIN (SELECT {aside} FROM ({new_subquery})) b ON {on2}
    )
    SELECT {out_keys_a}, {out_pay_a},
           DATE '{t0}' AS valid_from,
           CASE WHEN {changed} THEN DATE '{t1}' END AS valid_to,
           NOT {changed} AS is_current
    FROM j WHERE a_{key_cols[0]} IS NOT NULL
    UNION ALL
    SELECT {out_keys_b}, {out_pay_b},
           DATE '{t1}' AS valid_from,
           CAST(NULL AS DATE) AS valid_to,
           TRUE AS is_current
    FROM j
    WHERE b_{key_cols[0]} IS NOT NULL
      AND (a_{key_cols[0]} IS NULL OR a_fp <> b_fp)
    """
