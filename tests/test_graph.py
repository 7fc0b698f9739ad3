"""PageRank laws (operators/graph.py) + pivot round-trip."""

from __future__ import annotations

from pyspark.sql import functions as F

from pytrousse_spark.operators.graph import pagerank


def test_pagerank_mass_and_symmetry(spark):
    """Teleport mass is conserved (sum ≈ N·1e6 up to per-node rounding)
    and symmetric nodes get identical ranks."""
    # 4-cycle: perfectly symmetric -> all ranks equal
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1)], ["src", "dst"]
    )
    rows = pagerank(edges, "src", "dst", iters=10).collect()
    ranks = {r["node"]: r["rank_micro"] for r in rows}
    assert len(set(ranks.values())) == 1
    assert abs(sum(ranks.values()) - 4_000_000) <= 4 * 10


def test_pagerank_hub_outranks_leaves(spark):
    """Star graph: the hub, pointed at by every leaf, outranks them."""
    leaves = list(range(2, 8))
    edges = spark.createDataFrame(
        [(i, 1) for i in leaves] + [(1, i) for i in leaves], ["src", "dst"]
    )
    ranks = {
        r["node"]: r["rank_micro"]
        for r in pagerank(edges, "src", "dst", iters=10).collect()
    }
    assert all(ranks[1] > ranks[i] for i in leaves)
    leaf_ranks = {ranks[i] for i in leaves}
    assert len(leaf_ranks) == 1  # leaves are symmetric


def test_pagerank_dangling_node_keeps_teleport(spark):
    """A node with no outgoing edges still holds >= teleport mass and
    contributes nothing (its rank never flows on)."""
    edges = spark.createDataFrame([(1, 2), (3, 2)], ["src", "dst"])
    ranks = {
        r["node"]: r["rank_micro"]
        for r in pagerank(edges, "src", "dst", iters=5, damping=0.85).collect()
    }
    assert ranks[2] > ranks[1] == ranks[3] == 150_000  # pure teleport


def test_pivot_unpivot_roundtrip(spark):
    """unpivot(pivot(x)) reproduces the original (day, type, count)."""
    from pytrousse_spark.io import read_parquet_df
    from tests.conftest import SF_DIR
    import __spark_entry__ as e

    wide = e.queries()["q118_pivot"](spark, SF_DIR)
    long = wide.unpivot(
        ["day"], e._EVENT_TYPES, "event_type", "n"
    ).where(F.col("n") > 0)
    ev = read_parquet_df(spark, f"{SF_DIR}/events.parquet")
    direct = ev.groupBy(
        F.to_date("ts").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    assert sorted(map(tuple, long.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_triangle_count_known_graphs(spark):
    from pytrousse_spark.operators.graph import triangle_count

    # K4 has 4 triangles, 6 edges, wedges = 4 * C(3,2) = 12, C = 3*4/12 = 1
    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    df = spark.createDataFrame(k4, "s bigint, d bigint")
    (r,) = triangle_count(df, "s", "d").collect()
    assert (r["n_vertices"], r["n_edges"], r["n_triangles"]) == (4, 6, 4)
    assert r["n_wedges"] == 12 and r["global_clustering"] == 1.0

    # path a-b-c: one wedge, no triangle
    p = spark.createDataFrame([(1, 2), (2, 3)], "s bigint, d bigint")
    (r,) = triangle_count(p, "s", "d").collect()
    assert r["n_triangles"] == 0 and r["n_wedges"] == 1
    assert r["global_clustering"] == 0.0


def test_triangle_count_canonicalizes_input(spark):
    from pytrousse_spark.operators.graph import triangle_count

    # triangle given with duplicates, reversed edges and a self-loop
    rows = [(1, 2), (2, 1), (2, 3), (3, 1), (1, 1), (2, 3)]
    df = spark.createDataFrame(rows, "s bigint, d bigint")
    (r,) = triangle_count(df, "s", "d").collect()
    assert (r["n_edges"], r["n_triangles"]) == (3, 1)


def test_degree_assortativity_known_graphs(spark):
    """A star is maximally disassortative (r = -1); a cycle is
    degree-regular (zero variance -> NULL); a double-star barbell is
    strongly positive at the hub-hub edge... checked against the
    hand-computed Newman formula for the path P4 (r = -0.5)."""
    from pytrousse_spark.operators.graph import degree_assortativity

    def g(edges):
        df = spark.createDataFrame(edges, "s long, d long")
        return degree_assortativity(df, "s", "d").collect()[0]

    star = g([(0, i) for i in range(1, 6)])
    assert star["n_nodes"] == 6 and star["n_edges"] == 5
    assert star["assortativity"] == -1.0

    cycle = g([(i, (i + 1) % 5) for i in range(5)])
    assert cycle["assortativity"] is None  # 2-regular: zero variance
    assert cycle["mean_degree"] == 2.0

    # path 0-1-2-3: degrees 1,2,2,1 -> Newman r = -0.5
    path = g([(0, 1), (1, 2), (2, 3)])
    assert abs(path["assortativity"] + 0.5) < 1e-6


def test_k_core_planted_structure(spark):
    """K4 plus a pendant path: the 3-core is exactly the K4 (4 vertices,
    6 edges); the 2-core keeps K4 only (path vertices peel); a triangle
    hung off the K4 survives the 2-core."""
    from pytrousse_spark.operators.graph import k_core

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    path = [(4, 10), (10, 11), (11, 12)]
    tri = [(1, 20), (20, 21), (21, 1)]
    df = spark.createDataFrame(k4 + path + tri, ["s", "d"])
    r3 = k_core(df, "s", "d", 3).first()
    assert (r3["n_core_vertices"], r3["n_core_edges"]) == (4, 6)
    r2 = k_core(df, "s", "d", 2).first()
    # 2-core: K4 + triangle (path is peeled): 6 vertices, 9 edges
    assert (r2["n_core_vertices"], r2["n_core_edges"]) == (6, 9)
    # k above max degree -> empty core
    r9 = k_core(df, "s", "d", 9).first()
    assert (r9["n_core_vertices"], r9["n_core_edges"]) == (0, 0)


def test_k_core_peel_converges_on_testdata(spark):
    """12 rounds reach the fixpoint on the sf co-purchase graph: one
    more round changes nothing (the exactness precondition the
    operator documents)."""
    from pyspark.sql import functions as F

    from pytrousse_spark.io import read_parquet_df
    from pytrousse_spark.operators.graph import k_core
    from tests.conftest import SF_DIR

    li = read_parquet_df(spark, f"{SF_DIR}/lineitem.parquet")
    items = li.select(
        F.col("l_orderkey").alias("__b"), F.col("l_partkey").alias("__i")
    ).distinct()
    edges = (
        items.join(items.withColumnRenamed("__i", "__j"), "__b")
        .where(F.col("__i") < F.col("__j"))
        .groupBy("__i", "__j")
        .agg(F.count(F.lit(1)).alias("__c"))
        .where(F.col("__c") >= 2)
    )
    a = k_core(edges, "__i", "__j", 3, rounds=12).first()
    b = k_core(edges, "__i", "__j", 3, rounds=13).first()
    assert (a["n_core_vertices"], a["n_core_edges"]) == (
        b["n_core_vertices"], b["n_core_edges"],
    )


def test_label_propagation_cliques_survive_bridge(spark):
    """Laws: two 4-cliques joined by ONE bridge edge resolve to two
    communities named by their minimum seed label (the bridge cannot
    outvote 3 in-clique neighbors); a path graph collapses toward the
    min label; output is a deterministic (size DESC, label) census."""
    import itertools

    from pytrousse_spark.operators.graph import label_propagation

    edges = []
    for grp in ([1, 2, 3, 4], [10, 11, 12, 13]):
        edges += list(itertools.combinations(grp, 2))
    edges.append((4, 10))
    df = spark.createDataFrame(edges, ["s", "d"])
    out = label_propagation(df, "s", "d", rounds=6).collect()
    assert [(r["community"], r["n_members"]) for r in out] == [
        (1, 4),
        (10, 4),
    ]
    # self-loops and duplicate/reversed edges are canonicalized away
    df2 = spark.createDataFrame(
        edges + [(1, 1), (2, 1), (4, 3)], ["s", "d"]
    )
    out2 = label_propagation(df2, "s", "d", rounds=6).collect()
    assert [(r["community"], r["n_members"]) for r in out2] == [
        (1, 4),
        (10, 4),
    ]


def test_adamic_adar_laws(spark):
    """Laws: (1) hand graph — path a-b-c predicts (a, c) with score
    1/ln(2); (2) adjacent pairs never appear; (3) richer shared
    neighborhood outscores a single hub neighbor; (4) the apex cap
    excludes hub-mediated pairs."""
    import math

    from pytrousse_spark.operators.graph import adamic_adar

    path = spark.createDataFrame([(1, 2), (2, 3)], ["s", "d"])
    out = adamic_adar(path, "s", "d", top_k=10).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["x"], r["y"], r["common_neighbors"]) == (1, 3, 1)
    assert abs(r["score"] - round(1.0 / math.log(2.0), 6)) < 1e-6

    # square 1-2-3-4-1 plus center 5 wired to 1 and 3: pair (1, 3) has
    # common neighbors {2, 4, 5}; pair (2, 4) has {1, 3} (deg 3 each);
    # no output row may be an existing edge
    sq = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (5, 1), (5, 3)], ["s", "d"]
    )
    rows = adamic_adar(sq, "s", "d", top_k=10).collect()
    edges = {(1, 2), (2, 3), (3, 4), (1, 4), (1, 5), (3, 5)}
    assert all((r["x"], r["y"]) not in edges for r in rows)
    got = {(r["x"], r["y"]): r for r in rows}
    assert got[(1, 3)]["common_neighbors"] == 3
    assert got[(2, 4)]["common_neighbors"] == 2
    assert got[(1, 3)]["score"] > got[(2, 4)]["score"]

    # cap below the path's apex degree (2) -> no predictions at all
    none = adamic_adar(path, "s", "d", top_k=10, max_apex_degree=1)
    assert none.count() == 0


def test_hits_laws_and_oracle_parity(spark):
    """HITS on a planted hub/authority structure: the authority every
    hub points at maxes out; symmetric hubs tie exactly; the DuckDB
    unrolled twin reproduces every micro-unit score bit-for-bit."""
    import duckdb

    from pytrousse_spark.operators.graph import hits, hits_sql

    rows = [
        ("u1", "v1"), ("u1", "v2"), ("u2", "v1"), ("u2", "v2"),
        ("u3", "v2"), ("u3", "v3"),
    ]
    e = spark.createDataFrame(rows, "src string, dst string")
    got = {
        r["node"]: (r["hub_micro"], r["auth_micro"])
        for r in hits(e, "src", "dst", iters=4).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges AS SELECT * FROM (VALUES "
        + ",".join(f"('{a}','{b}')" for a, b in rows)
        + ") t(src, dst)"
    )
    want = {
        r[0]: (r[1], r[2])
        for r in con.execute(
            hits_sql("SELECT src, dst FROM edges", "src", "dst", iters=4)
        ).fetchall()
    }
    assert got == want
    # v2 is pointed at by every hub -> max authority; u1/u2 symmetric
    assert got["v2"][1] == 1_000_000
    assert got["u1"] == got["u2"]
    assert got["u1"][0] == 1_000_000
    # pure sources have 0 authority; pure sinks have 0 hub
    assert all(got[u][1] == 0 for u in ("u1", "u2", "u3"))
    assert all(got[v][0] == 0 for v in ("v1", "v2", "v3"))


def _loop_graph(spark):
    """A small directed graph with a dangling node, a pure source, cycles
    and string node ids (the q117/q287 key type)."""
    import random

    rng = random.Random(7)
    pairs = {(f"n{rng.randrange(40)}", f"n{rng.randrange(40)}") for _ in range(160)}
    pairs.add(("src_only", "n1"))
    pairs.add(("n2", "sink_only"))
    return spark.createDataFrame(sorted(pairs), "src string, dst string")


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_nested_no_aqe_is_reentrant_and_restores(spark):
    """A bounded collect inside a loop region nests ``_no_aqe``: the lock
    must be reentrant, and each exit restores the value its entry saw."""
    import threading

    from pytrousse_spark.operators import _collect

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    df = spark.range(3)
    seen = []

    def nested():
        with _collect._no_aqe(df):
            seen.append(spark.conf.get(key))
            # fails fast (no hang) if the lock is not reentrant
            assert _collect._AQE_LOCK.acquire(timeout=5)
            _collect._AQE_LOCK.release()
            seen.append(_collect.bounded_first(df.agg(F.max("id").alias("mx")))["mx"])
            seen.append(spark.conf.get(key))

    spark.conf.set(key, "true")
    try:
        t = threading.Thread(target=nested, daemon=True)
        t.start()
        t.join(timeout=60)
        assert not t.is_alive(), "nested _no_aqe deadlocked"
        assert seen == ["false", 2, "false"]
        assert spark.conf.get(key) == "true"
    finally:
        spark.conf.set(key, prev)


def test_pagerank_restores_session_conf_on_return_and_raise(spark):
    import pytest
    from pyspark.errors import AnalysisException

    from pytrousse_spark.operators.graph import hits

    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    edges = _loop_graph(spark)
    try:
        for aqe in ("true", "false"):
            spark.conf.set(key, aqe)
            pagerank(edges, "src", "dst", iters=2).collect()
            assert spark.conf.get(key) == aqe
            hits(edges, "src", "dst", iters=1).collect()
            assert spark.conf.get(key) == aqe
            with pytest.raises(AnalysisException):
                pagerank(edges, "no_such_column", "dst")
            assert spark.conf.get(key) == aqe
    finally:
        spark.conf.set(key, prev)


def test_graph_loops_invariant_to_partitions_and_aqe(spark):
    """PageRank and HITS rows are bit-identical whatever the caller's
    ``spark.sql.shuffle.partitions`` and AQE setting."""
    from pytrousse_spark.operators.graph import hits

    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled")
    prev = [spark.conf.get(k) for k in keys]
    edges = _loop_graph(spark)
    results = {}
    try:
        for parts in ("1", "4"):
            for aqe in ("true", "false"):
                spark.conf.set(keys[0], parts)
                spark.conf.set(keys[1], aqe)
                results[parts, aqe] = (
                    sorted(map(tuple, pagerank(edges, "src", "dst", iters=6).collect())),
                    sorted(map(tuple, hits(edges, "src", "dst", iters=3).collect())),
                )
    finally:
        for k, v in zip(keys, prev):
            spark.conf.set(k, v)
    first = next(iter(results.values()))
    assert len(first[0]) == len(first[1]) == 42
    assert all(r == first for r in results.values())


def test_graph_loops_run_no_job_per_iteration(spark):
    """Job-count tripwire, build through ``collect()`` in one job group:
    the PageRank chain runs in the action's one job (1 measured) and HITS
    adds one job per half-iteration for its max scalar (2k + 1
    measured)."""
    from pytrousse_spark.operators.graph import hits

    edges = _loop_graph(spark)
    _, n_pr = _jobs_in_group(
        spark, "tripwire-pagerank", lambda: pagerank(edges, "src", "dst", iters=8).collect()
    )
    assert n_pr <= 8
    k = 3
    _, n_hits = _jobs_in_group(
        spark, "tripwire-hits", lambda: hits(edges, "src", "dst", iters=k).collect()
    )
    assert n_hits <= 2 * k + 2


def _iteration_plans(spark, monkeypatch, build):
    """The formatted AQE-off plan of every frame the loop stages, in
    staging order (each one unstaged, reading the frames staged before)."""
    import io
    from contextlib import redirect_stdout

    import pytrousse_spark.operators.graph as graph
    from pytrousse_spark.operators._collect import _no_aqe

    staged = []
    real = graph.stage

    def record(df):
        staged.append(df)
        return real(df)

    monkeypatch.setattr(graph, "stage", record)
    build()
    monkeypatch.setattr(graph, "stage", real)
    plans = []
    with _no_aqe(staged[0]):
        for df in staged:
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            plans.append(buf.getvalue())
    return plans


def _node_names(plan):
    import re

    return re.findall(r"^\(\d+\) (\w+)", plan, re.M)


def _exchange_keys(plan):
    import re

    return re.findall(r"^Arguments: hashpartitioning\((\w+)#\d+, \d+\)", plan, re.M)


def test_pagerank_iteration_plan_is_one_node_keyed_exchange(spark, monkeypatch):
    """One PageRank iteration: the edges stream in place against the
    rank state (hash join, no sort, no broadcast), and the only exchange
    is the node-keyed contribution aggregate."""
    edges = _loop_graph(spark)
    plans = _iteration_plans(
        spark, monkeypatch, lambda: pagerank(edges, "src", "dst", iters=2)
    )
    # staged: edges, base, then one rank frame per iteration
    assert len(plans) == 4
    names = _node_names(plans[-1])
    assert names.count("Exchange") == 1
    assert _exchange_keys(plans[-1]) == ["dst"]
    assert "Sort" not in names and "BroadcastExchange" not in names
    assert names.count("ShuffledHashJoin") == 2


def test_hits_half_iteration_plan_is_one_node_keyed_exchange(spark, monkeypatch):
    """One HITS half-iteration (the pushed raw sums, then their scaling):
    one node-keyed exchange, no sort, no broadcast of vertex state."""
    from pytrousse_spark.operators.graph import hits

    edges = _loop_graph(spark)
    plans = _iteration_plans(
        spark, monkeypatch, lambda: hits(edges, "src", "dst", iters=2)
    )
    # staged: edges by src, edges by dst, nodes, then (raw, scaled) per half
    assert len(plans) == 3 + 2 * 2 * 2
    for (raw, scaled), key in zip(
        [plans[-4:-2], plans[-2:]], ["dst", "src"]
    ):
        names = _node_names(raw) + _node_names(scaled)
        assert names.count("Exchange") == 1
        assert _exchange_keys(raw) == [key]
        assert "Sort" not in names and "BroadcastExchange" not in names
