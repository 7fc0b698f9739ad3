"""Skew-salted joins, partitioned/bucketed sinks, stateful streaming."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from pytrousse_spark import read_parquet_df
from pytrousse_spark.operators.relational import (
    salted_join,
    write_bucketed,
    write_partitioned,
)
from pytrousse_spark.streaming.events import read_events_stream, run_stream_to_memory
from pytrousse_spark.streaming.stateful import running_user_stats
from tests.conftest import SF_DIR


def test_salted_join_matches_plain_join(spark):
    left = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", i) for i in range(5)],
        ["k", "v"],
    )
    right = spark.createDataFrame([("hot", "H"), ("cold", "C")], ["k", "tag"])
    plain = salted_join(left, right, "k")
    got = sorted((r["k"], r["v"], r["tag"]) for r in plain.collect())
    expect = sorted(
        (r["k"], r["v"], r["tag"]) for r in left.join(right, "k").collect()
    )
    assert got == expect
    assert len(got) == 505


def test_salted_join_left_outer(spark):
    left = spark.createDataFrame([("a", 1), ("b", 2)], ["k", "v"])
    right = spark.createDataFrame([("a", "A")], ["k", "tag"])
    got = {(r["k"], r["tag"]) for r in salted_join(left, right, "k", how="left").collect()}
    assert got == {("a", "A"), ("b", None)}


def test_write_partitioned_prunes(spark, tmp_path):
    df = read_parquet_df(spark, f"{SF_DIR}/documents.parquet")
    path = os.path.join(tmp_path, "by_lang")
    write_partitioned(df, path, ["lang"])
    langs = {d.split("=")[1] for d in os.listdir(path) if d.startswith("lang=")}
    assert len(langs) >= 2
    back = spark.read.parquet(path).where(F.col("lang") == sorted(langs)[0])
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    assert back.count() == df.where(F.col("lang") == sorted(langs)[0]).count()


def test_write_bucketed_avoids_shuffle(spark, tmp_path):
    df = read_parquet_df(spark, f"{SF_DIR}/orders.parquet")
    write_bucketed(df, "orders_b", "o_custkey", 4, sort_by="o_custkey")
    t = spark.table("orders_b")
    joined = t.alias("a").join(t.alias("b"), on="o_custkey")
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # bucketed self-join on the bucket key: no shuffle exchange
    assert "Exchange hashpartitioning" not in plan
    assert joined.count() > 0
    spark.sql("DROP TABLE IF EXISTS orders_b")


def test_stateful_running_stats_stream_vs_batch(spark, tmp_path_factory):
    import shutil

    d = tmp_path_factory.mktemp("ev")
    shutil.copy(f"{SF_DIR}/events.parquet", d / "part-000.parquet")
    stream = read_events_stream(spark, str(d))
    stats = running_user_stats(stream)
    run_stream_to_memory(stats, "user_stats", timeout_sec=180, output_mode="update")
    # update mode emits one row per user per micro-batch; with one input file
    # there is exactly one batch -> final rows
    got = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["max_value"])
        for r in spark.sql("SELECT * FROM user_stats").collect()
    }
    batch = read_parquet_df(spark, f"{SF_DIR}/events.parquet")
    expect = {
        r["user_id"]: (r["n_events"], r["sum_value"], r["max_value"])
        for r in running_user_stats(batch).collect()
    }
    assert set(got) == set(expect)
    for u in expect:
        assert got[u][0] == expect[u][0]
        assert got[u][1] == pytest.approx(expect[u][1], abs=1e-3)
        assert got[u][2] == pytest.approx(expect[u][2])


def test_stateful_running_stats_stream_equals_batch_on_ties(spark, tmp_path_factory):
    """One-event users whose value is a 4-decimal tie (exact in binary,
    like 0.03125, or just inside it, like 0.00015): the stream's driver
    round and the batch twin's Spark round give the same sum_value."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    values = [0.03125, -0.03125, 0.00015, 1.00005, 2.50005, 0.12345, 7.0]
    d = tmp_path_factory.mktemp("ties")
    ts = dt.datetime(2024, 1, 1)
    pq.write_table(
        pa.table({
            "event_id": pa.array(range(len(values)), pa.int64()),
            "ts": pa.array([ts] * len(values), pa.timestamp("us")),
            "user_id": pa.array(range(1, len(values) + 1), pa.int64()),
            "event_type": ["view"] * len(values),
            "value": values,
            "props": pa.array([None] * len(values), pa.string()),
        }),
        d / "part-000.parquet",
    )
    stats = running_user_stats(read_events_stream(spark, str(d)))
    run_stream_to_memory(stats, "user_stats_ties", timeout_sec=180, output_mode="update")
    got = {tuple(r) for r in spark.sql("SELECT * FROM user_stats_ties").collect()}
    batch = spark.read.parquet(str(d))
    expect = {
        (r["user_id"], r["n_events"], r["sum_value"], r["max_value"])
        for r in running_user_stats(batch).collect()
    }
    assert got == expect
    assert (1, 1, 0.0313, 0.03125) in got


def test_zorder_key_known_values(spark):
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.relational import zorder_key

    def z_ref(a, b, bits=16):
        k = 0
        for i in range(bits):
            k |= ((a >> i) & 1) << (2 * i)
            k |= ((b >> i) & 1) << (2 * i + 1)
        return k

    cases = [(0, 0), (1, 0), (0, 1), (1, 1), (2, 1), (3, 3), (255, 7),
             (65535, 65535), (12345, 54321)]
    df = spark.createDataFrame(cases, ["a", "b"])
    got = {
        (r["a"], r["b"]): r["z"]
        for r in df.select(
            "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")
        ).collect()
    }
    for a, b in cases:
        assert got[(a, b)] == z_ref(a, b), (a, b)
    # interleave basics: z(1,0)=1, z(0,1)=2, z(1,1)=3
    assert got[(1, 0)] == 1 and got[(0, 1)] == 2 and got[(1, 1)] == 3


def test_zorder_clusters_both_dimensions(spark):
    """Rows adjacent in z-order are near in BOTH coordinates on average —
    the property that makes the key useful for file clustering."""
    from pyspark.sql import functions as F

    from pytrousse_spark.operators.relational import zorder_key

    pts = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(pts, ["x", "y"])
    rows = (
        df.select("x", "y", zorder_key(F.col("x"), F.col("y"), bits=5).alias("z"))
        .orderBy("z")
        .collect()
    )
    # mean Chebyshev distance between z-adjacent points must beat the
    # row-major layout's (which teleports across a full row at wraps)
    zd = sum(
        max(abs(rows[i]["x"] - rows[i + 1]["x"]), abs(rows[i]["y"] - rows[i + 1]["y"]))
        for i in range(len(rows) - 1)
    ) / (len(rows) - 1)
    rm = sorted(pts)
    rd = sum(
        max(abs(rm[i][0] - rm[i + 1][0]), abs(rm[i][1] - rm[i + 1][1]))
        for i in range(len(rm) - 1)
    ) / (len(rm) - 1)
    assert zd < rd


def test_fuzzy_join_blocked_finds_known_pairs(spark):
    from pytrousse_spark.operators.relational import fuzzy_join_blocked

    df = spark.createDataFrame(
        [
            (1, "red widget"),
            (2, "ted widget"),    # dist 1, same block
            (3, "red gadget"),    # different noun -> different block
            (4, "blue widget"),   # dist 3 from red widget -> filtered
        ],
        ["id", "name"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_join_blocked(
            df, df, "id", "name", "split(name, ' ')[1]", max_dist=2
        ).collect()
    }
    assert got == {(1, 2): 1}


def test_pareto_frontier_matches_bruteforce(spark):
    import random

    from pytrousse_spark.operators.relational import pareto_frontier

    rng = random.Random(7)
    rows = [(rng.randint(0, 50), rng.randint(0, 50)) for _ in range(400)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    got = {(r["x"], r["y"]) for r in pareto_frontier(df, "x", "y").collect()}
    pts = set(rows)
    expect = {
        (x, y)
        for (x, y) in pts
        if not any(
            (a >= x and b >= y and (a > x or b > y)) for (a, b) in pts
        )
    }
    assert got == expect


def test_pareto_frontier_counts_and_duplicates(spark):
    from pytrousse_spark.operators.relational import pareto_frontier

    rows = [(10, 1), (10, 1), (5, 5), (1, 10), (5, 4), (0, 0)]
    df = spark.createDataFrame(rows, "x bigint, y bigint")
    got = {
        (r["x"], r["y"]): r["n_rows"]
        for r in pareto_frontier(df, "x", "y").collect()
    }
    assert got == {(10, 1): 2, (5, 5): 1, (1, 10): 1}


# ---------------------------------------------------------------------------
# FastSS deletion-neighborhood fuzzy join + FK orphan census (round 7)
# ---------------------------------------------------------------------------
def test_fastss_zero_false_negatives_vs_bruteforce(spark):
    """Every edit-type within distance 1 is found; nothing farther is."""
    from pytrousse_spark.operators.relational import fastss_neighbors

    names = [
        "kitten",      # 1
        "mitten",      # 2: substitution of 1
        "kitte",       # 3: deletion of 1
        "kittens",     # 4: insertion of 1
        "sitting",     # 5: far from all
        "mitten",      # 6: exact dup of 2
        "a",           # 7: single char
        "b",           # 8: substitution of 7
        "",            # 9: empty — distance 1 from any single char
    ]
    df = spark.createDataFrame(
        [(i + 1, n) for i, n in enumerate(names)], ["id", "nm"]
    )
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fastss_neighbors(df, "id", "nm").collect()
    }

    def lev(a, b):
        import functools

        @functools.lru_cache(maxsize=None)
        def d(i, j):
            if i == 0:
                return j
            if j == 0:
                return i
            return min(
                d(i - 1, j) + 1,
                d(i, j - 1) + 1,
                d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )

        return d(len(a), len(b))

    want = {
        (i + 1, j + 1): lev(a, b)
        for i, a in enumerate(names)
        for j, b in enumerate(names)
        if i < j and lev(a, b) <= 1
    }
    assert got == want
    # spot checks: all three edit types + the exact dup + empty string
    assert got[(1, 2)] == 1 and got[(1, 3)] == 1 and got[(1, 4)] == 1
    assert got[(2, 6)] == 0
    assert got[(7, 9)] == 1 and got[(8, 9)] == 1 and got[(7, 8)] == 1
    assert (1, 5) not in got


def test_fk_orphan_census_planted(spark):
    from pytrousse_spark.operators.relational import fk_orphan_census

    parent = spark.createDataFrame([(1,), (2,), (3,)], ["pk"])
    child = spark.createDataFrame(
        [(1,), (1,), (2,), (99,), (None,)], ["fk"]
    )
    row = fk_orphan_census(
        [("c->p", child, "fk", parent, "pk")]
    ).collect()[0]
    assert row["edge"] == "c->p"
    assert row["n_child"] == 5
    assert row["n_null_fk"] == 1
    assert row["n_orphan"] == 1
    assert row["orphan_rate"] == 0.25
    # clean edge: zero orphans
    clean = spark.createDataFrame([(1,), (2,)], ["fk"])
    row = fk_orphan_census(
        [("ok", clean, "fk", parent, "pk")]
    ).collect()[0]
    assert row["n_orphan"] == 0 and row["orphan_rate"] == 0.0
