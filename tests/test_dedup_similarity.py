"""Dedup + similarity operator semantics (near-dup recall, determinism)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pytrousse_spark import read_parquet_df
from pytrousse_spark.operators import dedup as dd
from pytrousse_spark.operators import similarity as sim
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def docs(spark):
    return read_parquet_df(spark, f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return read_parquet_df(spark, f"{SF_DIR}/embeddings.parquet")


def test_exact_dedup_deterministic_survivor(spark):
    df = spark.createDataFrame(
        [("k1", 5, "a"), ("k1", 2, "b"), ("k2", 9, "c")], ["k", "id", "v"]
    )
    out = dd.exact_dedup(df, ["k"], "id")
    got = {r["k"]: (r["id"], r["v"]) for r in out.collect()}
    assert got == {"k1": (2, "b"), "k2": (9, "c")}
    out_max = dd.exact_dedup(df, ["k"], "id", keep="max")
    assert {r["k"]: r["id"] for r in out_max.collect()}["k1"] == 5


def test_duplicate_groups(spark):
    df = spark.createDataFrame([("a",), ("a",), ("b",)], ["k"])
    got = dd.duplicate_groups(df, ["k"]).collect()
    assert [(r["k"], r["dup_count"]) for r in got] == [("a", 2)]


def test_minhash_identical_docs_collide(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "completely different words entirely unrelated content here")],
        ["doc_id", "text"],
    )
    pairs = dd.minhash_lsh_pairs(df, "text", "doc_id", num_perm=8, bands=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_minhash_near_duplicates_collide(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near = base.replace("theta", "thetaX", 1)
    df = spark.createDataFrame(
        [(1, base), (2, near), (3, "nothing in common with those documents at all ok")],
        ["doc_id", "text"],
    )
    pairs = dd.minhash_lsh_pairs(df, "text", "doc_id", num_perm=16, bands=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got


def test_jaccard_exact_values(spark):
    # doc1/doc2 share half their shingles
    df = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d x"), (3, "p q r s t")],
        ["doc_id", "text"],
    )
    out = dd.ngram_jaccard_pairs(df, "text", "doc_id", n=3, threshold=0.1)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    # shingles(1) = {abc,bcd,cde}, shingles(2) = {abc,bcd,cdx}: J = 2/4 = 0.5
    assert got[(1, 2)] == pytest.approx(0.5)
    assert (1, 3) not in got


def test_simhash_similar_docs_close(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, base), (2, base + " iota"), (3, "xx yy zz ww vv uu tt ss")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r["sh"] for r in df.select(
        "doc_id", dd.simhash(F.col("text")).alias("sh")
    ).collect()}
    import math

    def ham(a, b):
        return bin(a ^ b).count("1")

    assert ham(rows[1], rows[2]) < ham(rows[1], rows[3])


def test_near_dedup_candidates_much_smaller_than_n2(docs):
    """The composed pipeline's candidate set must be a tiny fraction of all
    n(n-1)/2 pairs — the whole point of LSH-before-verify."""
    n = docs.count()
    total_pairs = n * (n - 1) // 2
    cands = dd.minhash_lsh_pairs(docs, "text", "doc_id", num_perm=8, bands=4)
    n_cands = cands.count()
    assert n_cands * 100 < total_pairs, (n_cands, total_pairs)


def test_near_dedup_pairs_subset_of_exact(docs):
    """Verified pairs = exactly the exact-Jaccard pairs restricted to LSH
    candidates: same jaccard values, never a pair the exact op would reject."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.2
        ).collect()
    }
    composed = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.near_dedup_pairs(
            docs, "text", "doc_id", num_perm=8, bands=4, threshold=0.2
        ).collect()
    }
    assert set(composed) <= set(exact)
    for pair, j in composed.items():
        assert j == exact[pair]
    # and LSH recall over the exact pairs is high on this corpus
    assert len(composed) / max(len(exact), 1) >= 0.8


def test_cross_form_on_one_corpus_matches_self_form(docs):
    """A corpus crossed with itself, kept to id_a < id_b, gives exactly the
    self form's verified pairs: both share one LSH banding and one verify."""
    kw = dict(num_perm=8, bands=4, shingle_n=3, threshold=0.2)
    cross = dd.cross_near_dedup_pairs(docs, docs, "text", "doc_id", **kw)
    got = {tuple(r) for r in cross.where("id_a < id_b").collect()}
    want = {
        tuple(r) for r in dd.near_dedup_pairs(docs, "text", "doc_id", **kw).collect()
    }
    assert want and got == want


def test_near_dedup_removes_higher_id_of_pair(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog today"),
         (2, "the quick brown fox jumps over the lazy dog today"),
         (3, "completely different words entirely unrelated content here now")],
        ["doc_id", "text"],
    )
    out = dd.near_dedup(df, "text", "doc_id", num_perm=8, bands=4, threshold=0.5)
    assert sorted(r["doc_id"] for r in out.collect()) == [1, 3]


def test_xxhash_mode_runs(docs):
    """The fast (non-oracle) hash path produces the same pair structure."""
    pairs = dd.minhash_lsh_pairs(
        docs.limit(50), "text", "doc_id", num_perm=8, bands=4, hash_fn="xxhash64"
    )
    assert pairs.columns == ["id_a", "id_b"]
    pairs.count()  # executes


def test_embedding_neardup_threshold(emb):
    out = dd.embedding_neardup_pairs(emb.limit(100), "embedding", "vec_id", 0.3)
    rows = out.collect()
    assert all(r["cos"] >= 0.3 for r in rows)
    assert all(r["id_a"] < r["id_b"] for r in rows)


def test_cosine_topk_selfconsistent(emb):
    out = sim.cosine_topk(emb, emb.where("vec_id < 2"), 3).collect()
    byq = {}
    for r in out:
        byq.setdefault(r["query_id"], []).append(r)
    for q, rows in byq.items():
        assert len(rows) == 3
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3]
        by_rank = sorted(rows, key=lambda r: r["rank"])
        assert by_rank[0]["cos"] >= by_rank[1]["cos"] >= by_rank[2]["cos"]
        assert all(r["neighbor_id"] != q for r in rows)


def _recall_at5(emb, exact_set, **kw):
    approx = sim.ann_topk_lsh(emb, emb.where("vec_id < 40"), 5, 64, **kw).collect()
    approx_set = {(r["query_id"], r["neighbor_id"]) for r in approx}
    return len(exact_set & approx_set) / len(exact_set)


def test_ann_lsh_recall_vs_exact(emb):
    """Pinned recall@5 of ann_topk_lsh against exact cosine_topk — the
    evidence a 100 TB user needs before trusting the approximate path.
    Everything is deterministic (seeded planes, fixed sf0.01 data), so the
    measured values are stable: recall decreases in num_planes (smaller
    buckets) and the multi-table/multi-probe knobs recover it."""
    exact = sim.cosine_topk(emb, emb.where("vec_id < 40"), 5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}

    # recall-vs-planes curve at 4 tables, probe radius 1
    # (measured: 0.905 / 0.365 / 0.060)
    r4 = _recall_at5(emb, exact_set, num_planes=4, num_tables=4, probe_hamming=1)
    r8 = _recall_at5(emb, exact_set, num_planes=8, num_tables=4, probe_hamming=1)
    r12 = _recall_at5(emb, exact_set, num_planes=12, num_tables=4, probe_hamming=1)
    assert r4 >= 0.9
    assert r4 > r8 > r12          # fewer planes → bigger buckets → higher recall
    # deeper probing recovers recall at 8 planes (measured 0.940)
    r8_deep = _recall_at5(
        emb, exact_set, num_planes=8, num_tables=8, probe_hamming=2
    )
    assert r8_deep >= 0.9


def test_ann_lsh_default_config_shape(emb):
    """Single-table single-probe path (the num_tables=1 default) still
    produces well-formed ranked output."""
    approx = sim.ann_topk_lsh(
        emb, emb.where("vec_id < 20"), 5, 64, num_planes=3
    ).collect()
    assert all(r["rank"] >= 1 for r in approx)
    byq = {}
    for r in approx:
        byq.setdefault(r["query_id"], []).append(r)
    for rows in byq.values():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == list(range(1, len(ranks) + 1))


def test_hyperplane_signature_deterministic(emb):
    planes = sim._deterministic_planes(4, 64, seed=42)
    s1 = emb.select(sim.hyperplane_signature(F.col("embedding"), planes).alias("b")).collect()
    s2 = emb.select(sim.hyperplane_signature(F.col("embedding"), planes).alias("b")).collect()
    assert [r["b"] for r in s1] == [r["b"] for r in s2]
    assert all(0 <= r["b"] < 16 for r in s1)


def test_blas_neardup_agrees_with_expr(emb):
    """The BLAS scale path must produce the same pairs as the exact fold."""
    expr_pairs = {
        (r["id_a"], r["id_b"], round(r["cos"], 4))
        for r in dd.embedding_neardup_pairs(emb, "embedding", "vec_id", 0.3).collect()
    }
    blas_pairs = {
        (r["id_a"], r["id_b"], round(r["cos"], 4))
        for r in dd.embedding_neardup_pairs(
            emb, "embedding", "vec_id", 0.3, method="blas"
        ).collect()
    }
    assert expr_pairs == blas_pairs


def test_blas_neardup_corpus_cap(emb):
    with pytest.raises(ValueError):
        dd.embedding_neardup_pairs(
            emb, "embedding", "vec_id", 0.3, method="blas", max_broadcast=10
        )


def test_embedding_lsh_recovers_planted_neardups(spark, emb):
    """Production-path recall: plant a jittered copy (cos ~0.9998) of 30
    vectors; the LSH-composed dedup must recover nearly all planted pairs
    (expected per-table collision ~0.96 at 6 planes, ~1.0 over 4 tables)."""
    import numpy as np

    rng = np.random.default_rng(0)
    base = emb.limit(30).collect()
    jittered = []
    for r in base:
        v = np.array(r["embedding"], dtype=np.float64)
        jit = v + rng.normal(0.0, 0.02 * np.linalg.norm(v) / 8.0, v.shape)
        jittered.append((int(r["vec_id"]) + 100_000, [float(x) for x in jit]))
    dup = spark.createDataFrame(jittered, "vec_id long, embedding array<float>")
    corpus = emb.select("vec_id", "embedding").unionByName(dup)
    out = dd.embedding_neardup_lsh(
        corpus, "embedding", "vec_id", dim=64, threshold=0.9
    )
    got = {(r["id_a"], r["id_b"]) for r in out.collect()}
    planted = {(int(r["vec_id"]), int(r["vec_id"]) + 100_000) for r in base}
    recall = len(got & planted) / len(planted)
    assert recall >= 0.9


def test_embedding_lsh_subset_and_candidate_bound(emb):
    """Verified output is a strict subset of the exact sweep, and the
    candidate set (threshold=-1 accepts every verified candidate) stays far
    below the n²/2 pairs the exact sweep scores."""
    n = emb.count()
    out = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in dd.embedding_neardup_lsh(
            emb, "embedding", "vec_id", dim=64, threshold=0.4
        ).collect()
    }
    exact = {
        (r["id_a"], r["id_b"], r["cos"])
        for r in dd.embedding_neardup_pairs(
            emb, "embedding", "vec_id", 0.4, method="exact_np"
        ).collect()
    }
    assert out <= exact
    candidates = dd.embedding_neardup_lsh(
        emb, "embedding", "vec_id", dim=64, threshold=-1.0
    ).count()
    assert candidates < 0.15 * n * (n - 1) / 2


def test_ivf_recall_rises_with_nprobe(emb):
    """IVF-flat recall@5 against exact cosine_topk: monotone-ish in nprobe
    (more cells probed → more candidates), pinned at the q57 config."""
    exact = sim.cosine_topk(emb, emb.where("vec_id < 40"), 5).collect()
    exact_set = {(r["query_id"], r["neighbor_id"]) for r in exact}

    def recall(nprobe):
        got = sim.ivf_topk(emb, emb.where("vec_id < 40"), 5, nprobe=nprobe)
        got_set = {(r["query_id"], r["neighbor_id"]) for r in got.collect()}
        return len(exact_set & got_set) / len(exact_set)

    r1, r4, r16 = recall(1), recall(4), recall(16)
    print("ivf recall@5 nprobe 1/4/16:", r1, r4, r16)
    assert r1 <= r4 <= r16
    assert r16 == 1.0          # probing every cell == exhaustive search
    assert r4 >= 0.5           # measured on this corpus; pinned


def test_ivf_each_corpus_row_one_cell(emb):
    """Candidate sets need no dedup: with nprobe=num_cells every query sees
    every other row exactly once."""
    out = sim.ivf_topk(emb.limit(50), emb.limit(50).where("vec_id < 3"), 1000,
                       num_cells=4, nprobe=4)
    counts = out.groupBy("query_id", "neighbor_id").count().where("count > 1")
    assert counts.count() == 0


def test_simhash_pairs_exact_vs_bruteforce(docs):
    """The band-bucketed pair search must equal brute-force Hamming over all
    pairs (pigeonhole completeness) — exact, not approximate."""
    import itertools

    sub = docs.limit(120)
    got = sorted(
        map(tuple, dd.simhash_pairs(sub, "text", "doc_id", bits=32).collect())
    )
    sigs = dd.with_simhash(sub, "text", out_col="simhash32", bits=32).select(
        "doc_id", "simhash32"
    ).collect()
    brute = sorted(
        (min(x["doc_id"], y["doc_id"]), max(x["doc_id"], y["doc_id"]),
         bin(x["simhash32"] ^ y["simhash32"]).count("1"))
        for x, y in itertools.combinations(sigs, 2)
        if bin(x["simhash32"] ^ y["simhash32"]).count("1") <= 3
    )
    assert got == brute


def test_simhash_pairs_guards(docs):
    with pytest.raises(ValueError):
        dd.simhash_pairs(docs, "text", "doc_id", max_hamming=4, bands=4)
    with pytest.raises(ValueError):
        dd.simhash_pairs(docs, "text", "doc_id", bits=30, bands=4)


def test_clean_corpus_invariant_to_planted_duplicates(docs):
    """Planting exact copies (higher ids) of surviving documents must not
    change the cleaned corpus: the copies fall to the same fingerprint and
    the min-id survivor rule keeps the originals."""
    from pytrousse_spark.operators import corpus as cp

    base = sorted(map(tuple, cp.clean_corpus(docs).collect()))
    dup = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    ).limit(50)
    planted = docs.select("doc_id", "text").unionByName(dup)
    got = sorted(map(tuple, cp.clean_corpus(planted).collect()))
    assert got == base


def test_contamination_detects_planted_benchmark_copy(spark, docs):
    """A training doc that embeds a benchmark doc verbatim must score
    containment 1.0; unrelated docs stay below threshold."""
    bench = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta eta theta")],
        ["doc_id", "text"],
    )
    train = spark.createDataFrame(
        [(10, "prefix words alpha beta gamma delta epsilon zeta eta theta suffix words"),
         (11, "totally unrelated content having nothing shared at all here")],
        ["doc_id", "text"],
    )
    out = {(r["corpus_id"], r["bench_id"]): r["containment"]
           for r in dd.contamination_pairs(train, bench, min_containment=0.5).collect()}
    assert out == {(10, 1): 1.0}


def test_connected_components_exact_vs_python(spark):
    """Min-label propagation must equal a Python union-find ground truth on
    a graph with chains, cliques, and singleton-free edges."""
    import itertools

    edges = [(1, 2), (2, 3), (3, 4),          # chain -> all label 1
             (10, 11), (11, 12), (10, 12),    # triangle -> label 10
             (20, 21),                        # pair
             (30, 31), (32, 33), (31, 32)]    # two pairs joined -> label 30
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["id"]: r["component"]
           for r in dd.connected_components(pairs).collect()}

    parent = {}
    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    for a, b in edges:
        union(a, b)
    want = {x: find(x) for x in parent}
    assert got == want


def test_near_dedup_transitive_collapses_star(spark):
    """1~3 and 2~3 with 1,2 dissimilar: transitively 1,2,3 are one cluster
    (keep [1]); the greedy one-hop rule only drops pair id_b's (keep [1,2]).
    """
    a_txt = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 2
    b_txt = "lambda mu nu xi omicron pi rho sigma tau upsilon " * 2
    df = spark.createDataFrame(
        [(1, a_txt), (2, b_txt), (3, a_txt + b_txt)], ["doc_id", "text"]
    )
    kw = dict(num_perm=16, bands=8, threshold=0.3)
    pairs = {(r["id_a"], r["id_b"])
             for r in dd.near_dedup_pairs(df, "text", "doc_id", **kw).collect()}
    assert pairs == {(1, 3), (2, 3)}          # 1~2 share nothing
    trans = sorted(r["doc_id"] for r in
                   dd.near_dedup_transitive(df, "text", "doc_id", **kw).collect())
    greedy = sorted(r["doc_id"] for r in
                    dd.near_dedup(df, "text", "doc_id", **kw).collect())
    assert trans == [1]
    assert greedy == [1, 2]


def test_near_dedup_keep_best_prefers_high_score(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    near1 = base.replace("theta", "thetaX", 1)      # cluster {1,2,3}
    near2 = base.replace("iota", "iotaY", 1)
    other = "entirely different material with no overlap at all in any shingle here"
    df = spark.createDataFrame(
        [(1, base, 10), (2, near1, 99), (3, near2, 50), (4, other, 7)],
        ["doc_id", "text", "score"],
    )
    out = dd.near_dedup_keep_best(
        df, "text", "doc_id", "score", num_perm=8, bands=4, threshold=0.5
    )
    # survivor of the cluster is id 2 (score 99), NOT min-id 1; unique doc 4 kept
    assert {r["doc_id"] for r in out.collect()} == {2, 4}


def test_near_dedup_keep_best_tie_breaks_to_smaller_id(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [(5, base, 7), (9, base, 7)], ["doc_id", "text", "score"]
    )
    out = dd.near_dedup_keep_best(
        df, "text", "doc_id", "score", num_perm=8, bands=4, threshold=0.5
    )
    assert {r["doc_id"] for r in out.collect()} == {5}


def test_prefix_jaccard_equals_brute_force(docs):
    """Exactness law of the prefix filter (Chaudhuri 2006): the
    prefix-posting candidate join loses NO pair above the threshold, so
    the output equals the full inverted-index join row for row."""
    for t in (0.2, 0.5):
        fast = sorted(
            tuple(r)
            for r in dd.prefix_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=t
            ).collect()
        )
        brute = sorted(
            tuple(r)
            for r in dd.ngram_jaccard_pairs(
                docs, "text", "doc_id", n=3, threshold=t
            ).collect()
        )
        assert fast == brute and len(fast) > 0


def test_prefix_jaccard_handles_hostile_rows(spark):
    """Short docs (< n tokens → no shingles), exact clones, and disjoint
    docs: clones pair at 1.0, shingle-less docs drop out, no crash."""
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma delta epsilon"),
            (3, "one two"),
            (4, "totally different words in this row here"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dd.prefix_jaccard_pairs(
            df, "text", "doc_id", n=3, threshold=0.5
        ).collect()
    }
    assert got == {(1, 2): 1.0}


def test_hybrid_search_rrf_fusion_math(spark):
    from pytrousse_spark.operators.similarity import hybrid_search_rrf

    docs = spark.createDataFrame(
        [
            (0, "query anchor text"),
            (1, "alpha alpha beta"),
            (2, "alpha beta"),
            (3, "gamma delta"),
        ],
        "doc_id bigint, text string",
    )
    embs = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),
            (1, [0.9, 0.1]),
            (2, [0.0, 1.0]),
            (3, [0.8, 0.2]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    out = hybrid_search_rrf(
        docs, embs, "text", "doc_id", "embedding", "vec_id",
        ["alpha", "beta"], query_vec_id=0, k=10, k_each=10, rrf_k=60,
    )
    rows = {r["doc_id"]: r for r in out.collect()}
    # keyword side matches docs 1 (tf 3) and 2 (tf 2) only
    assert rows[1]["kw_rank"] == 1 and rows[2]["kw_rank"] == 2
    assert rows[0]["kw_rank"] is None and rows[3]["kw_rank"] is None
    # vector side ranks by cosine to vec 0: 0 (self), then 1, 3, 2
    assert rows[0]["vec_rank"] == 1
    assert rows[1]["vec_rank"] == 2 and rows[3]["vec_rank"] == 3
    # doc 1 is in BOTH lists -> top fused score
    import pytest as _pytest

    assert rows[1]["rrf_score"] == _pytest.approx(
        1 / 61 + 1 / 62, abs=1e-6
    )
    best = max(rows.values(), key=lambda r: r["rrf_score"])
    assert best["doc_id"] == 1


def test_prefix_dup_clusters_laws(spark):
    from pytrousse_spark.operators.dedup import prefix_dup_clusters

    base = "x" * 300
    rows = [
        (1, base + " tail one"),     # clusters with 2 (same 256-prefix)
        (2, base + " another tail"),
        (3, "short doc"),            # shorter than prefix: whole text anchors
        (4, "short doc"),            # exact dup of 3 -> clusters, 1 variant
        (5, "unique " + "y" * 300),  # singleton: filtered by min_cluster
        (6, None),                   # NULL text excluded
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["survivor_id"]: r for r in prefix_dup_clusters(df, "text", "doc_id", 256, 2).collect()}
    assert set(out) == {1, 3}
    long_c = out[1]
    assert (long_c["n_docs"], long_c["distinct_texts"]) == (2, 2)
    assert long_c["min_chars"] == len(base + " tail one")
    assert long_c["max_chars"] == len(base + " another tail")
    short_c = out[3]
    assert (short_c["n_docs"], short_c["distinct_texts"]) == (2, 1)


def test_prefix_dup_clusters_prefix_len_granularity(spark):
    """Docs diverging INSIDE the prefix never cluster; raising the
    granularity (shorter prefix) merges them — the knob's contract."""
    from pytrousse_spark.operators.dedup import prefix_dup_clusters

    a = "common" * 10  # 60 chars
    rows = [(1, a + "A" + "p" * 100), (2, a + "B" + "q" * 100)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert prefix_dup_clusters(df, "text", "doc_id", 256, 2).count() == 0
    assert prefix_dup_clusters(df, "text", "doc_id", 60, 2).count() == 1


def test_containment_pairs_directional(spark):
    """A short doc inside a long doc: high containment A->B, low B->A,
    and low symmetric Jaccard — the class the operator exists for."""
    from pytrousse_spark.operators.dedup import (
        containment_pairs_prefix,
        prefix_jaccard_pairs,
    )

    words = [f"w{i}" for i in range(60)]
    short = " ".join(words[:20])
    long_ = " ".join(words)  # contains every 3-shingle of `short`
    other = " ".join(f"z{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, short), (2, long_), (3, other)], ["doc_id", "text"]
    )
    got = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in containment_pairs_prefix(df, "text", "doc_id", 3, 0.8).collect()
    }
    assert got == {(1, 2): 1.0}
    # the same pair is invisible to symmetric Jaccard at the same bar
    jac = prefix_jaccard_pairs(df, "text", "doc_id", 3, 0.8).collect()
    assert jac == []


def test_containment_pairs_no_false_negatives_brute(spark):
    """Prefix+positional+size filters lose nothing: compare against the
    O(n^2) set-arithmetic ground truth on a corpus slice."""
    from pytrousse_spark.io import read_parquet_df
    from pytrousse_spark.operators.dedup import containment_pairs_prefix
    import re

    df = read_parquet_df(spark, "/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_prefix(df, "text", "doc_id", 3, 0.7).collect()
    }
    rows = df.select("doc_id", "text").where("text IS NOT NULL").collect()

    def sh(t):
        toks = re.findall(r"[0-9a-z]+", t.lower())
        return {tuple(toks[i : i + 3]) for i in range(len(toks) - 2)}

    sets = {r["doc_id"]: sh(r["text"]) for r in rows}
    truth = {
        (a, b)
        for a in sets
        for b in sets
        if a != b and sets[a]
        and round(len(sets[a] & sets[b]) / len(sets[a]), 6) >= 0.7
    }
    assert truth <= got  # exactness: no false negatives


def test_lsh_planner_laws(spark):
    from pytrousse_spark.operators.dedup import lsh_parameter_plan

    rows = {
        (r["bands"], r["rows_per_band"]): r
        for r in lsh_parameter_plan(spark, 64, 0.5).collect()
    }
    # all factorizations of 64 present
    assert set(rows) == {(1, 64), (2, 32), (4, 16), (8, 8), (16, 4),
                         (32, 2), (64, 1)}
    # the textbook pick at t=0.5 with 64 hashes is b=16, r=4
    # (s50 = (1/16)^(1/4) = 0.5 — the curve centers ON the threshold)
    assert rows[(16, 4)]["is_best"]
    assert rows[(16, 4)]["s50"] == 0.5
    assert sum(1 for r in rows.values() if r["is_best"]) == 1
    # extremes: many rows -> recall-poor (fn heavy); many bands ->
    # precision-poor (fp heavy)
    assert rows[(1, 64)]["fn_mass"] > rows[(16, 4)]["fn_mass"]
    assert rows[(64, 1)]["fp_mass"] > rows[(16, 4)]["fp_mass"]
    # masses are probabilities-ish: within [0, 1] after integration
    for r in rows.values():
        assert 0.0 <= r["fp_mass"] <= 1.0 and 0.0 <= r["fn_mass"] <= 1.0


def test_embedding_drift_laws(spark):
    from pytrousse_spark.operators.similarity import embedding_drift

    base = [(i, [1.0 + (i % 5) * 0.1, 2.0, 3.0 - (i % 3) * 0.1])
            for i in range(60)]
    a = spark.createDataFrame(base, ["vec_id", "embedding"])
    # identical samples: cosine 1, distance 0, ratio 1
    r = embedding_drift(a, a).collect()[0]
    assert r["centroid_cosine"] == 1.0
    assert r["centroid_dist"] == 0.0
    assert r["norm_ratio"] == 1.0
    # planted shift of +2 in the first coordinate: distance ~ 2
    b = spark.createDataFrame(
        [(i, [v[0] + 2.0, v[1], v[2]]) for i, v in base],
        ["vec_id", "embedding"],
    )
    r = embedding_drift(a, b).collect()[0]
    assert abs(r["centroid_dist"] - 2.0) < 1e-3
    assert r["centroid_cosine"] < 1.0
    # planted scaling by 3: norm ratio ~ 3, direction unchanged
    c = spark.createDataFrame(
        [(i, [3 * v[0], 3 * v[1], 3 * v[2]]) for i, v in base],
        ["vec_id", "embedding"],
    )
    r = embedding_drift(a, c).collect()[0]
    assert abs(r["norm_ratio"] - 3.0) < 1e-3
    assert r["centroid_cosine"] == 1.0


def test_item_item_cf_handcrafted(spark):
    """Hand-checked cosine: items A,B share 2 of their users
    (n_A=3, n_B=2 -> cos = 2/sqrt(6)); rank ordering and the
    min-cooc filter behave."""
    from pytrousse_spark.operators.similarity import item_item_cf

    rows = [
        (1, "A"), (1, "B"), (2, "A"), (2, "B"), (3, "A"),
        (3, "C"), (4, "C"), (1, "D"),
    ]
    df = spark.createDataFrame(rows, ["u", "i"])
    out = {
        (r["item"], r["neighbor"]): r
        for r in item_item_cf(df, "u", "i", k=5, min_cooc=2).collect()
    }
    import math

    assert abs(out[("A", "B")]["cosine"] - 2 / math.sqrt(6)) < 1e-6
    assert out[("A", "B")]["cooc"] == 2
    assert ("B", "A") in out            # symmetric emission
    assert ("A", "C") not in out        # cooc 1 < min_cooc
    assert ("A", "D") not in out
    # symmetry of the score
    assert out[("A", "B")]["cosine"] == out[("B", "A")]["cosine"]


def test_item_item_cf_rank_law(spark):
    """Per-item ranks are 1..k dense, ordered by (cosine desc, id)."""
    from pytrousse_spark.io import read_parquet_df
    from pytrousse_spark.operators.similarity import item_item_cf

    li = read_parquet_df(spark, f"{SF_DIR}/lineitem.parquet")
    o = read_parquet_df(spark, f"{SF_DIR}/orders.parquet")
    ratings = li.join(
        o.select("o_orderkey", "o_custkey"),
        li.l_orderkey == o.o_orderkey,
    ).select("o_custkey", "l_partkey")
    out = item_item_cf(ratings, "o_custkey", "l_partkey", 3, 2).collect()
    assert out
    per_item = {}
    for r in out:
        per_item.setdefault(r["item"], []).append(r)
    for rs in per_item.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
        key = [(-r["cosine"], r["neighbor"]) for r in rs]
        assert key == sorted(key)


def test_minhash_calibration_identical_docs_and_estimator_sanity(spark):
    """Laws: (1) identical documents land in the TOP bin with exact =
    1.0 and estimate = 1.0 (all signature components match) — zero
    error; (2) partially-overlapping docs land in a lower bin with
    mean_abs_err bounded by the estimator's granularity envelope
    (a 16-perm estimate moves in 1/16 steps, so per-pair error < 1 is
    the only hard bound — assert it and that the estimate is not
    degenerate); (3) every fold is integer-deterministic: two calls
    return identical rows."""
    from pytrousse_spark.operators.dedup import minhash_calibration

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base),
        (2, base),                               # exact dup of 1
        (3, base + " lambda mu nu xi"),          # high overlap
        (4, "totally different words entirely here now and forever"),
        (5, "totally different words entirely here now and always"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = minhash_calibration(df, "text", "doc_id").collect()
    rows_by_bin = {r["bin_lo"]: r for r in out}
    top = rows_by_bin[max(rows_by_bin)]
    assert top["mean_exact"] == 1.0 or top["bin_lo"] == 0.8
    # the identical pair contributes a zero-error observation
    assert any(r["mean_abs_err"] < 1.0 for r in out)
    assert all(0.0 <= r["mean_est"] <= 1.0 for r in out)
    again = minhash_calibration(df, "text", "doc_id").collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_embedding_isotropy_laws(spark):
    """Laws: (1) equal per-dim variance + zero mean -> participation
    ratio == dim, anisotropy == 0; (2) all variance on one axis ->
    PR == 1; (3) all vectors identical -> zero variance (PR NULL),
    anisotropy == 1, rms_norm == |v|."""
    from pytrousse_spark.operators.similarity import embedding_isotropy

    dim = 4
    iso_rows = []
    for p in range(dim):
        for s in (1.0, -1.0):
            v = [0.0] * dim
            v[p] = 0.5 * s
            iso_rows.append((v,))
    iso = embedding_isotropy(
        spark.createDataFrame(iso_rows, "embedding array<double>"),
        "embedding",
    ).collect()[0]
    assert iso["n"] == 2 * dim and iso["dim"] == dim
    assert abs(iso["participation_ratio"] - dim) < 1e-4
    assert iso["anisotropy"] == 0.0

    one_axis = embedding_isotropy(
        spark.createDataFrame(
            [([0.5, 0.0, 0.0, 0.0],), ([-0.5, 0.0, 0.0, 0.0],)],
            "embedding array<double>",
        ),
        "embedding",
    ).collect()[0]
    assert abs(one_axis["participation_ratio"] - 1.0) < 1e-4

    const = embedding_isotropy(
        spark.createDataFrame(
            [([0.3, 0.4, 0.0],)] * 5, "embedding array<double>"
        ),
        "embedding",
    ).collect()[0]
    assert const["participation_ratio"] is None
    assert const["anisotropy"] == 1.0
    assert abs(const["rms_norm"] - 0.5) < 1e-6


def test_embedding_mmd_poly2_laws(spark):
    """Laws: (1) identical samples -> every component 0; (2) a pure
    mean shift moves mean_shift2 by ||delta||^2; (3) a covariance
    ROTATION around an unchanged zero mean is invisible to the
    centroid readout but lights cov_shift_fro2 — the operator's reason
    to exist."""
    from pytrousse_spark.operators.similarity import (
        embedding_drift,
        embedding_mmd_poly2,
    )

    base = [(i, [0.5 * (1 if i % 2 else -1), 0.0]) for i in range(8)]
    ref = spark.createDataFrame(base, "vec_id long, embedding array<double>")
    same = embedding_mmd_poly2(ref, ref).collect()[0]
    assert (same["mean_shift2"], same["cov_shift_fro2"], same["mmd2_poly2"]) == (
        0.0, 0.0, 0.0,
    )

    shifted = spark.createDataFrame(
        [(i, [v[0] + 0.3, v[1] + 0.4]) for i, v in base],
        "vec_id long, embedding array<double>",
    )
    sh = embedding_mmd_poly2(ref, shifted).collect()[0]
    assert abs(sh["mean_shift2"] - 0.25) < 1e-5  # 0.3^2 + 0.4^2

    # rotate the variance axis: +-0.5 on dim 0 -> +-0.5 on dim 1.
    # both clouds have mean (0, 0): centroids cannot see it.
    rot = spark.createDataFrame(
        [(i, [0.0, 0.5 * (1 if i % 2 else -1)]) for i in range(8)],
        "vec_id long, embedding array<double>",
    )
    mm = embedding_mmd_poly2(ref, rot).collect()[0]
    assert mm["mean_shift2"] == 0.0
    # M_ref = diag(0.25, 0), M_rot = diag(0, 0.25) -> fro2 = 2 * 0.25^2
    assert abs(mm["cov_shift_fro2"] - 0.125) < 1e-5
    drift = embedding_drift(ref, rot).collect()[0]
    assert drift["centroid_dist"] == 0.0  # blind to the rotation
