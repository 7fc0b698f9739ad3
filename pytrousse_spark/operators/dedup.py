"""Deduplication operators for large-scale training-data pipelines
(beyond-reference; BASELINE.json north star).

All public-knowledge techniques: exact hash dedup, MinHash+LSH (Broder 1997;
banding per Mining of Massive Datasets ch.3), SimHash (Charikar 2002),
inverted-index n-gram Jaccard, embedding-cosine near-dup.

Scale design:
- signatures/fingerprints are per-row expressions (one scan, no Python);
- candidate generation is an equi-join on (band, band-hash) or shingle —
  shuffles only ids+signatures, never full documents;
- every operator has a ``hash_fn`` switch: ``"md5"`` = portable 60-bit base
  (DuckDB-verifiable, used by the correctness gate), ``"xxhash64"`` = fast
  JVM path for production runs.

The shingle-set pair operators are one candidate generator followed by one
exact verify score, built from four private helpers: :func:`shingle_frame`
(the only text → word-shingle chain), :func:`_lsh_bands` (shingles →
``(id, band)`` rows), :func:`_prefix_postings` (prefix-filter postings) and
:func:`_verify_pairs` (candidate pairs scored with ``array_intersect``).
Each public pair operator, as candidate generator → verify score:

- :func:`minhash_lsh_pairs`: LSH bands → none (candidates only);
- :func:`near_dedup_pairs` (under ``near_dedup``, ``near_dedup_transitive``
  and ``near_dedup_keep_best``): LSH bands → Jaccard;
- :func:`cross_near_dedup_pairs` (under :func:`cross_dedup`): LSH bands
  with cross-side buckets → Jaccard;
- :func:`prefix_jaccard_pairs`: prefix postings → Jaccard;
- :func:`containment_pairs_prefix`: prefix postings against full
  postings → containment;
- :func:`ngram_jaccard_pairs`: inverted index on shingles → Jaccard from
  posting counts;
- :func:`contamination_pairs`: inverted index on shingles, bench side
  broadcast → containment from posting counts;
- :func:`winnow_overlap_pairs`: inverted index on winnowed fingerprints →
  shared-fingerprint count.

Public entry points that spread an under-split input
(``rebalance_undersplit``) do it once, on entry; the private cores never do.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60_sql, hash_expr
from ..functions.rounding import from_fixed, round_to, to_fixed
from ..functions.text import (
    fingerprint_from_shingles,
    shingles_from_tokens,
    tokens,
    word_shingles,
    word_shingles_sql,
)
from ..io import rebalance_undersplit
from ..staging import stage, stage_unbounded


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------
def exact_dedup(
    df: DataFrame, key_cols: list[str], id_col: str, keep: str = "min"
) -> DataFrame:
    """Keep one row per distinct ``key_cols`` — the one with the min (or max)
    ``id_col``, so the survivor is deterministic (unlike ``dropDuplicates``,
    whose survivor depends on partitioning).

    Implemented as a single hash-aggregation keyed on ``key_cols`` via
    ``min_by`` (no window, no sort — one shuffle).
    """
    agg = F.min_by if keep == "min" else F.max_by
    others = [c for c in df.columns if c not in key_cols]
    return df.groupBy(*key_cols).agg(
        *[agg(F.col(c), F.col(id_col)).alias(c) for c in others]
    )


def duplicate_groups(df: DataFrame, key_cols: list[str]) -> DataFrame:
    """Groups with >1 occurrence: key + count (exact dedup census)."""
    return df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("dup_count")).where(
        F.col("dup_count") > 1
    )


# ---------------------------------------------------------------------------
# the shingle-set kernel
# ---------------------------------------------------------------------------
def shingle_frame(
    df: DataFrame,
    text_col: str,
    id_col: str | None,
    shingle_n: int,
    id_alias: str | None = None,
    distinct: bool = False,
) -> DataFrame:
    """Per-doc ``(id, __sh)`` word-shingle arrays — the one place this
    module turns text into shingles.

    The id column is renamed to ``id_alias`` when given; ``id_col=None``
    keeps every column of ``df`` instead. ``distinct`` explodes to one row
    per distinct shingle (the inverted-index and prefix-filter input).
    Tokens are a projected column of their own: inside the shingle
    expression's higher-order lambdas an inlined token expression would be
    re-evaluated per element (see ``functions/text.py``). No rebalance
    here: public entry points rebalance their inputs once.
    """
    keep = [F.col(id_col).alias(id_alias or id_col)] if id_col else ["*"]
    tk = df.select(*keep, tokens(F.col(text_col)).alias("__tk"))
    sh = shingles_from_tokens(F.col("__tk"), shingle_n)
    return tk.withColumn(
        "__sh", F.explode(F.array_distinct(sh)) if distinct else sh
    ).drop("__tk")


def _distinct_sets(sh: DataFrame) -> DataFrame:
    """``(__id, __set, __size)`` distinct-shingle sets of an ``(__id, __sh)``
    shingle frame — the per-doc input of :func:`_verify_pairs`."""
    return sh.select(
        "__id", F.array_distinct(F.col("__sh")).alias("__set")
    ).withColumn("__size", F.size("__set"))


def _jaccard() -> Column:
    """``|a ∩ b| / |a ∪ b|`` over the ``__common``/``__sa``/``__sb``
    columns of a scored pair."""
    return F.col("__common") / (F.col("__sa") + F.col("__sb") - F.col("__common"))


def _verify_pairs(
    cands: DataFrame,
    sets_a: DataFrame,
    sets_b: DataFrame,
    name: str,
    score: Column,
    threshold: float,
) -> DataFrame:
    """Exact verify of candidate pairs ``(id_a, id_b)``: join each side's
    ``(__id, __set, __size)`` set, count the common shingles with one
    ``array_intersect``, score with ``score`` (over ``__common``, ``__sa``
    and ``__sb``: Jaccard or containment), round to 6 places and keep
    ``name >= threshold``. Work is O(candidates · doc length), never O(n²)."""
    a = sets_a.select(
        F.col("__id").alias("id_a"),
        F.col("__set").alias("__seta"),
        F.col("__size").alias("__sa"),
    )
    b = sets_b.select(
        F.col("__id").alias("id_b"),
        F.col("__set").alias("__setb"),
        F.col("__size").alias("__sb"),
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("__common", F.size(F.array_intersect("__seta", "__setb")))
        .withColumn(name, round_to(score, 6))
        .where(F.col(name) >= threshold)
        .select("id_a", "id_b", name)
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------
#: Carter-Wegman universal hashing (MMDS ch.3 practice): permutation p's hash
#: is g_p(x) = (a_p·x + b_p) mod M31 over ONE md5 base hash per shingle,
#: instead of num_perm seeded md5 calls — 16× fewer md5 at 16 perms. With
#: M31 = 2^31−1 both factors stay below 2^31, so every intermediate fits a
#: signed 64-bit integer: identical overflow-free BIGINT arithmetic on both
#: engines. (A Kirsch-Mitzenmacher h1+p·h2 variant was tried first and
#: rejected: for small sequential p the argmin shingle barely changes across
#: permutations, so signature slots are order-correlated and LSH banding
#: misses true near-duplicates.)
_MASK60 = (1 << 60) - 1
_M31 = (1 << 31) - 1


def _mh_coeff(p: int) -> tuple[int, int]:
    """Fixed (a_p, b_p) for permutation p — derived from md5 so Python,
    the Spark literals, and the generated oracle SQL all agree."""
    import hashlib

    a = int(hashlib.md5(f"mh-a-{p}".encode()).hexdigest()[:15], 16) % (_M31 - 1) + 1
    b = int(hashlib.md5(f"mh-b-{p}".encode()).hexdigest()[:15], 16) % _M31
    return a, b


def minhash_signature(
    text: Column, num_perm: int = 16, shingle_n: int = 3, hash_fn: str = "md5"
) -> Column:
    """Array of ``num_perm`` minhash values over word shingles.

    Self-contained form; prefer :func:`with_minhash_signature`, which stages
    the base-hash array so md5 runs once per shingle total rather than once
    per permutation.
    """
    sh = word_shingles(text, shingle_n)
    return _sig_from_base(_base_hashes(sh, hash_fn), num_perm)


def _base_hashes(sh: Column, hash_fn: str) -> Column:
    # mask-then-mod: the mask is a no-op for md5 (< 2^60 already) and makes
    # the signed xxhash64 fast path non-negative before the mod.
    return F.transform(
        sh,
        lambda s: hash_expr(s, None, hash_fn).bitwiseAND(F.lit(_MASK60))
        % F.lit(_M31),
    )


def _sig_from_base(h: Column, num_perm: int) -> Column:
    def perm(p: int) -> Column:
        a, b = _mh_coeff(p)
        return F.array_min(
            F.transform(h, lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_M31))
        )

    return F.array(*[perm(p) for p in range(num_perm)])


def with_minhash_signature(
    df: DataFrame,
    text_col: str,
    out_col: str = "__sig",
    num_perm: int = 16,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Staged variant: tokens, shingles, and the base-hash array each
    materialize in their own projection so they run ONCE per row instead of
    once per permutation / once per array element (expressions inside
    higher-order lambdas re-run per element — measured ~10× slowdown; see
    functions/text.py).

    The input is rebalanced first: per-row md5/xxhash shingle hashing is
    exactly the compute-per-row that justifies spreading an under-split
    scan (io.rebalance_undersplit is a no-op when splits >= parallelism,
    i.e. on any real-scale table). Measured ~1.45× on the near-dedup
    pipeline at bench scale; NOT applied at the scan in _t because
    scan-light document queries then pay a full-text exchange for nothing."""
    return (
        shingle_frame(rebalance_undersplit(df), text_col, None, shingle_n)
        .withColumn("__h0", _base_hashes(F.col("__sh"), hash_fn))
        .withColumn(out_col, _sig_from_base(F.col("__h0"), num_perm))
        .drop("__sh", "__h0")
    )


def minhash_signature_sql(expr: str, num_perm: int = 16, shingle_n: int = 3) -> str:
    """DuckDB twin of :func:`minhash_signature` (md5 mode, same universal
    family). The oracle recomputes the base hash per permutation — fine at
    oracle scale; the Spark side stages it."""
    sh = word_shingles_sql(expr, shingle_n)
    base = f"({h60_sql('s')} % {_M31})"
    mins = ", ".join(
        "list_min(list_transform({sh}, s -> (({a} * {base} + {b}) % {m})))".format(
            sh=sh, a=a, base=base, b=b, m=_M31
        )
        for a, b in (_mh_coeff(p) for p in range(num_perm))
    )
    return f"[{mins}]"


def _band_key(sig_col: Column, band: int, rows_per_band: int) -> Column:
    """Stable string key for one LSH band of the signature."""
    return F.concat_ws(
        "_",
        F.lit(band),
        *[
            F.element_at(sig_col, band * rows_per_band + r + 1)
            for r in range(rows_per_band)
        ],
    )


def _lsh_bands(
    sh: DataFrame, id_col: str, num_perm: int, bands: int, hash_fn: str
) -> DataFrame:
    """``(id_col, band)`` rows: the ``bands`` LSH band keys of each
    document's minhash signature, from a shingle frame ``(id_col, __sh)``.
    The base-hash array and the signature are projected columns of their
    own, so md5 runs once per shingle."""
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rpb = num_perm // bands
    return (
        sh.withColumn("__h0", _base_hashes(F.col("__sh"), hash_fn))
        .withColumn("__sig", _sig_from_base(F.col("__h0"), num_perm))
        .select(
            id_col,
            F.explode(
                F.array(*[_band_key(F.col("__sig"), b, rpb) for b in range(bands)])
            ).alias("band"),
        )
    )


def _band_keys_sql(sig: str, num_perm: int, bands: int) -> str:
    """DuckDB twin of :func:`_lsh_bands`' key list: the comma-separated
    band-key expressions over the signature list ``sig``."""
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rpb = num_perm // bands
    return ", ".join(
        f"'{b}_' || "
        + " || '_' || ".join(f"{sig}[{b * rpb + r + 1}]" for r in range(rpb))
        for b in range(bands)
    )


def _jaccard_sql(a: str, b: str, size_a: str, size_b: str) -> str:
    """DuckDB twin of :func:`_jaccard` over the lists ``a``/``b`` of sizes
    ``size_a``/``size_b``, rounded to 6 places."""
    common = f"len(list_intersect({a}, {b}))"
    return f"round({common} / ({size_a} + {size_b} - {common}), 6)"


def _lsh_candidates(
    sh: DataFrame, num_perm: int, bands: int, hash_fn: str
) -> DataFrame:
    """Within-corpus LSH candidate pairs ``(id_a, id_b)``, id_a < id_b, of an
    ``(__id, __sh)`` shingle frame.

    Group ids per band bucket and emit in-bucket pairs — ONE pass over the
    signature subtree (a self-join would execute it twice) and one shuffle
    keyed by band. Bucket sizes are naturally small for near-dup workloads;
    a pathological all-duplicates corpus concentrates in one bucket, which
    is inherent to LSH banding (cap upstream if that is a concern)."""
    return (
        _lsh_bands(sh, "__id", num_perm, bands, hash_fn)
        .groupBy("band")
        .agg(F.array_sort(F.collect_set("__id")).alias("__ids"))
        .where(F.size("__ids") > 1)
        .select(F.explode(_pairs_within("__ids")).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    hash_fn: str = "md5",
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) whose signatures collide
    in at least one LSH band.

    Plan: one scan computes signatures → explode only ``bands`` small rows
    per doc (band key + id) → group ids per bucket → in-bucket pairs →
    distinct. Documents never shuffle; only (band_key, id).
    """
    sh = shingle_frame(
        rebalance_undersplit(df), text_col, id_col, shingle_n, id_alias="__id"
    )
    return _lsh_candidates(sh, num_perm, bands, hash_fn)


def _pairs_within(ids_col: str):
    """All ordered pairs (a < b) within a sorted id array, as an array of
    structs — pure expression, no join."""
    ids = F.col(ids_col)

    def outer(x, i):
        return F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
        )

    return F.flatten(F.transform(ids, outer))


# ---------------------------------------------------------------------------
# n-gram Jaccard (exact, inverted index)
# ---------------------------------------------------------------------------
def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact Jaccard over distinct word n-grams for every pair sharing at
    least one n-gram; keeps pairs with similarity >= threshold.

    Inverted-index join: explode distinct shingles → self-join on shingle →
    count common → combine with per-doc sizes. Exact but quadratic in
    worst-case posting lists — at scale run AFTER minhash_lsh_pairs as the
    verification stage.
    """
    # the shingle pass feeds THREE subtrees (sizes + both join sides);
    # checkpoint it so tokenize+explode runs once, spread first so the
    # per-row shingling parallelizes on single-row-group bench inputs
    # (no-op at real scale; r12 optimization round). Per-shingle rows:
    # reliable checkpoint (r12 VERDICT item 6).
    docs = rebalance_undersplit(
        df.select(F.col(id_col).alias("__id"), F.col(text_col))
    )
    shingled = stage_unbounded(
        shingle_frame(docs, text_col, "__id", n, distinct=True)
    )
    sizes = shingled.groupBy("__id").agg(F.count(F.lit(1)).alias("__size"))
    l, r = shingled.alias("l"), shingled.alias("r")
    common = (
        l.join(r, on="__sh")
        .where(F.col("l.__id") < F.col("r.__id"))
        .groupBy(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    sa = sizes.select(F.col("__id").alias("id_a"), F.col("__size").alias("__sa"))
    sb = sizes.select(F.col("__id").alias("id_b"), F.col("__size").alias("__sb"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", round_to(_jaccard(), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs_sql(
    table: str, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5
) -> str:
    """DuckDB twin of :func:`ngram_jaccard_pairs`."""
    sh = word_shingles_sql(text_col, n)
    return f"""
    WITH shingled AS (
        SELECT {id_col} AS __id, unnest(list_distinct({sh})) AS __sh FROM {table}
    ), sizes AS (
        SELECT __id, count(*) AS __size FROM shingled GROUP BY __id
    ), common AS (
        SELECT l.__id AS id_a, r.__id AS id_b, count(*) AS __common
        FROM shingled l JOIN shingled r USING (__sh)
        WHERE l.__id < r.__id
        GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(__common / (sa.__size + sb.__size - __common), 6) AS jaccard
    FROM common
    JOIN sizes sa ON sa.__id = id_a
    JOIN sizes sb ON sb.__id = id_b
    WHERE round(__common / (sa.__size + sb.__size - __common), 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# prefix-filtered exact similarity join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------
def _df_ordered_shingle_docs(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """Per-doc ``(__id, __set, __size)`` distinct-shingle arrays in the
    global (document-frequency asc, shingle asc) total order — the shared
    frame under every prefix-filtered similarity join
    (:func:`prefix_jaccard_pairs`, :func:`containment_pairs_prefix`).

    Both frames are staged: the shingle rows feed the df count and the
    df join, and the result feeds several branches of the caller, some
    of them broadcast builds whose jobs launch concurrently (measured at
    sf0.1: q112/q161 walls equal to an eager checkpoint's within
    run-to-run spread)."""
    shingled = stage(shingle_frame(df, text_col, id_col, n, "__id", distinct=True))
    dfc = shingled.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    return stage(
        shingled.join(dfc, "__sh")
        .groupBy("__id")
        .agg(
            F.expr("transform(sort_array(collect_list(struct(__df, __sh))), x -> x.__sh)").alias("__set"),
            F.count(F.lit(1)).alias("__size"),
        )
    )


def _prefix_postings(docs: DataFrame, threshold: float) -> DataFrame:
    """``(__id, __size, __pos, __sh)`` postings of each document's prefix:
    its first ``|s| - ceil(t·|s|) + 1`` shingles in the global order, with
    1-based positions. ``threshold=0`` keeps every shingle (full postings)."""
    size = F.col("__size")
    return docs.select(
        "__id",
        "__size",
        F.posexplode(
            F.slice(
                F.col("__set"),
                F.lit(1),
                (size - F.ceil(F.lit(threshold) * size) + 1).cast("int"),
            )
        ).alias("__p0", "__sh"),
    ).select("__id", "__size", (F.col("__p0") + 1).alias("__pos"), "__sh")


def prefix_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """EXACT Jaccard similarity join with prefix filtering — every pair with
    distinct-n-gram Jaccard >= ``threshold``, no false negatives, without the
    full inverted-index self-join of :func:`ngram_jaccard_pairs`.

    Prefix-filter principle (Chaudhuri/Ganti/Kaushik ICDE 2006; Bayardo
    WWW 2007 AllPairs; Xiao WWW 2008 PPJoin): order every document's shingle
    set by a single global total order — ascending document frequency,
    ties by shingle — and keep only the first
    ``p = |s| - ceil(t*|s|) + 1`` shingles as its *prefix*. Any pair with
    Jaccard >= t must share at least one prefix shingle, so the candidate
    join runs over prefix postings only. Because the global order puts the
    RAREST shingles first, prefixes are dominated by low-frequency shingles
    and posting lists stay short — the quadratic blow-up of frequent
    shingles is filtered out by construction, not sampled away. The length
    filter ``min(|a|,|b|) >= t*max(|a|,|b|)`` prunes candidates before
    verification.

    Contrast with the MinHash path (:func:`near_dedup_pairs`): LSH is
    probabilistic (recall < 1) with corpus-size-independent signatures;
    prefix filtering is exact with data-dependent postings. At 100 TB the
    shuffles are (a) shingle-keyed df counts (bounded by shingle vocab),
    (b) id-keyed per-doc array build (linear), (c) the prefix-posting
    self-join (bounded by rare-shingle postings), (d) candidate-keyed
    verify. Documents never shuffle; only ids + shingle arrays do.

    Semantics match :func:`ngram_jaccard_pairs` exactly (distinct word
    n-grams, ``common/(|a|+|b|-common)`` rounded to 6) — pinned in
    tests/test_dedup_similarity.py.
    """
    docs = _df_ordered_shingle_docs(rebalance_undersplit(df), text_col, id_col, n)
    prefix = _prefix_postings(docs, threshold)
    l, r = prefix.alias("l"), prefix.alias("r")
    # positional filter (PPJoin): a shared prefix token at 1-based positions
    # (pa, pb) bounds the overlap by 1 + min(|a|-pa, |b|-pb); Jaccard >= t
    # needs overlap >= ceil(t/(1+t)·(|a|+|b|)), so most same-boilerplate
    # candidates die IN the posting join, before the distinct shuffle.
    t_over = threshold / (1.0 + threshold)
    ubound = F.lit(1) + F.least(
        F.col("l.__size") - F.col("l.__pos"), F.col("r.__size") - F.col("r.__pos")
    )
    alpha = F.ceil(F.lit(t_over) * (F.col("l.__size") + F.col("r.__size")))
    cands = (
        l.join(r, "__sh")
        .where(
            (F.col("l.__id") < F.col("r.__id"))
            & (
                F.least(F.col("l.__size"), F.col("r.__size"))
                >= F.lit(threshold) * F.greatest(F.col("l.__size"), F.col("r.__size"))
            )
            & (ubound >= alpha)
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
        # AQE coalesces the tiny distinct output (ids only) to ~1 partition,
        # which would serialize the verify stage's array_intersect work on
        # one core; pin the fan-out (explicit N is exempt from coalescing).
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    return _verify_pairs(cands, docs, docs, "jaccard", _jaccard(), threshold)


def prefix_jaccard_pairs_sql(
    table: str, text_col: str, id_col: str, n: int = 3, threshold: float = 0.5
) -> str:
    """DuckDB twin of :func:`prefix_jaccard_pairs` — replays the prefix
    construction (df-ordered lists, slice, posting join, length filter)
    term for term, so the oracle certifies the FILTER, not only the final
    Jaccard values."""
    sh = word_shingles_sql(text_col, n)
    t_over = threshold / (1.0 + threshold)
    jac = _jaccard_sql("a.__arr", "b.__arr", "a.__sz", "b.__sz")
    return f"""
    WITH shingled AS (
        SELECT {id_col} AS __id, unnest(list_distinct({sh})) AS __sh FROM {table}
    ), dfc AS (
        SELECT __sh, count(*) AS __df FROM shingled GROUP BY __sh
    ), docs AS (
        SELECT s.__id,
               list(s.__sh ORDER BY d.__df, s.__sh) AS __arr,
               count(*) AS __sz
        FROM shingled s JOIN dfc d USING (__sh)
        GROUP BY s.__id
    ), sliced AS (
        SELECT __id, __sz,
               CAST(__sz - ceil({threshold} * __sz) + 1 AS BIGINT) AS __p
        FROM docs
    ), pref AS (
        SELECT s.__id, s.__sz, u[1] AS __sh, u[2] AS __pos
        FROM (
            SELECT sliced.__id, sliced.__sz,
                   unnest(list_zip(d.__arr[1 : __p], range(1, __p + 1))) AS u
            FROM sliced JOIN docs d USING (__id)
        ) s(__id, __sz, u)
    ), cand AS (
        SELECT DISTINCT l.__id AS id_a, r.__id AS id_b
        FROM pref l JOIN pref r USING (__sh)
        WHERE l.__id < r.__id
          AND least(l.__sz, r.__sz) >= {threshold} * greatest(l.__sz, r.__sz)
          AND 1 + least(l.__sz - l.__pos, r.__sz - r.__pos)
              >= ceil({t_over} * (l.__sz + r.__sz))
    )
    SELECT id_a, id_b, {jac} AS jaccard
    FROM cand
    JOIN docs a ON a.__id = id_a
    JOIN docs b ON b.__id = id_b
    WHERE {jac} >= {threshold}
    """


# ---------------------------------------------------------------------------
# composed production near-dedup: LSH candidates → exact Jaccard verify
# ---------------------------------------------------------------------------
def near_dedup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Verified near-duplicate pairs: MinHash-LSH candidate generation
    (:func:`minhash_lsh_pairs`) followed by exact n-gram Jaccard computed
    ONLY for candidate pairs — the composition a 100 TB user actually runs.

    Unlike standalone :func:`ngram_jaccard_pairs` (inverted-index self-join,
    quadratic in worst-case posting lists), the verify stage here joins the
    candidate pair list against per-doc distinct-shingle arrays and scores
    each pair with one ``array_intersect`` expression: work is
    O(corpus + candidates·doc_len), never O(n²). Jaccard semantics are
    identical to :func:`ngram_jaccard_pairs` (distinct word n-grams,
    ``common / (|a| + |b| - common)``, rounded to 6).

    The banding branch and both verify sides read one unstaged
    :func:`shingle_frame`: at sf0.1 on 4 cores a reliable checkpoint of
    it was slower on q54, q55, q59, q65 and q77 in 7–9 of 10 alternating
    pairs (writing and reading back the per-document shingle arrays cost
    more than recomputing them).
    """
    sh = shingle_frame(
        rebalance_undersplit(df), text_col, id_col, shingle_n, id_alias="__id"
    )
    sets = _distinct_sets(sh)
    return _verify_pairs(
        _lsh_candidates(sh, num_perm, bands, hash_fn),
        sets, sets, "jaccard", _jaccard(), threshold,
    )


def near_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Corpus with verified near-duplicates removed: a document is dropped
    when it has a verified near-duplicate with a SMALLER id (greedy min-id
    survivor — deterministic and single-pass, the standard large-scale
    approximation of transitive-closure clustering; documents only connected
    through a removed intermediate are both kept).
    """
    pairs = near_dedup_pairs(
        df, text_col, id_col,
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        threshold=threshold, hash_fn=hash_fn,
    )
    losers = pairs.select(F.col("id_b").alias(id_col)).distinct()
    return df.join(losers, on=id_col, how="left_anti")


def _cross_near_pairs(
    inc_sh: DataFrame,
    ref_sh: DataFrame,
    num_perm: int,
    bands: int,
    threshold: float,
    hash_fn: str,
) -> DataFrame:
    """Verified cross-side pairs of two ``(__id, __sh)`` shingle frames:
    LSH buckets keep the sides apart by a tag column (ids may overlap),
    only incoming × reference pairs are emitted, then Jaccard verify."""
    both = (
        _lsh_bands(inc_sh, "__id", num_perm, bands, hash_fn)
        .withColumn("__side", F.lit("i"))
        .unionByName(
            _lsh_bands(ref_sh, "__id", num_perm, bands, hash_fn)
            .withColumn("__side", F.lit("r"))
        )
    )
    grouped = (
        both.groupBy("band")
        .agg(
            F.array_sort(
                F.collect_set(F.when(F.col("__side") == "i", F.col("__id")))
            ).alias("__ia"),
            F.array_sort(
                F.collect_set(F.when(F.col("__side") == "r", F.col("__id")))
            ).alias("__ib"),
        )
        .where((F.size("__ia") > 0) & (F.size("__ib") > 0))
    )
    cross = F.flatten(
        F.transform(
            F.col("__ia"),
            lambda x: F.transform(
                F.col("__ib"),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    cands = (
        grouped.select(F.explode(cross).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )
    return _verify_pairs(
        cands, _distinct_sets(inc_sh), _distinct_sets(ref_sh),
        "jaccard", _jaccard(), threshold,
    )


def cross_near_dedup_pairs(
    incoming: DataFrame,
    reference: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Verified near-duplicate pairs ACROSS two corpora: (incoming_id,
    reference_id, jaccard) for incoming documents whose Jaccard with some
    reference document meets ``threshold`` — the "does this new crawl
    overlap my training set" primitive. Same LSH-then-verify shape as
    :func:`near_dedup_pairs`, but buckets keep the two sides apart and only
    cross-side pairs are emitted (incoming-incoming and reference-reference
    pairs never materialize, so a heavily self-duplicated reference corpus
    cannot blow up the candidate set).

    Ids may overlap between the two corpora; sides are tracked by a tag
    column, never by id arithmetic.
    """
    inc_sh, ref_sh = (
        shingle_frame(
            rebalance_undersplit(side), text_col, id_col, shingle_n, id_alias="__id"
        )
        for side in (incoming, reference)
    )
    return _cross_near_pairs(inc_sh, ref_sh, num_perm, bands, threshold, hash_fn)


def cross_dedup(
    incoming: DataFrame,
    reference: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Incoming rows that survive deduplication AGAINST the reference
    corpus: exact content-fingerprint matches are dropped first (one
    broadcast-friendly anti-join on the fingerprint), then incoming rows
    with a verified cross-corpus near-duplicate are dropped. The reference
    corpus is never mutated and never shuffles whole — only its
    fingerprints, band keys and shingle sets travel."""
    # md5-per-shingle work on both sides — see with_minhash_signature
    incoming = rebalance_undersplit(incoming)
    reference = rebalance_undersplit(reference)
    # The reference corpus has THREE consumers (fingerprints, band keys,
    # verify sets). One staged shingle frame feeds all three, so the
    # reference is tokenized once instead of three times (measured ~2x on
    # q75 at sf0.1). The frame carries only (id, shingles) — the reference
    # text itself still never shuffles or materializes. Per-doc shingle
    # arrays: reliable checkpoint.
    ref_sh = stage_unbounded(
        shingle_frame(reference, text_col, id_col, shingle_n, id_alias="__id")
    )
    ref_fp = ref_sh.select(
        fingerprint_from_shingles(F.col("__sh")).alias("__fp")
    ).distinct()
    stage1 = (
        shingle_frame(incoming, text_col, None, shingle_n)
        .withColumn("__fp", fingerprint_from_shingles(F.col("__sh")))
        .drop("__sh")
        .join(ref_fp, "__fp", "left_anti")
        .drop("__fp")
    )
    # stage1 feeds three consumers (band keys, shingle sets, the final
    # anti-join) with different prunings — without materialization the whole
    # fingerprint anti-join subtree (including the reference fingerprint
    # scan) executes three times. Reliable checkpoint: computed once here,
    # then read back; carries text, so it scales with input.
    stage1 = stage_unbounded(stage1)
    near = _cross_near_pairs(
        shingle_frame(stage1, text_col, id_col, shingle_n, id_alias="__id"),
        ref_sh, num_perm, bands, threshold, hash_fn,
    )
    losers = near.select(F.col("id_a").alias(id_col)).distinct()
    return stage1.join(losers, id_col, "left_anti")


def cross_dedup_sql(
    incoming: str,
    reference: str,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`cross_dedup` (md5 mode). ``incoming`` and
    ``reference`` are table expressions (views or parenthesized SELECTs)."""
    from ..functions.text import fingerprint_sql

    band_keys = _band_keys_sql("s", num_perm, bands)
    sig = minhash_signature_sql(text_col, num_perm=num_perm, shingle_n=shingle_n)
    fp_i = fingerprint_sql(f"i.{text_col}", shingle_n)
    fp_r = fingerprint_sql(f"r.{text_col}", shingle_n)
    sh = word_shingles_sql(text_col, shingle_n)
    jac = _jaccard_sql("sa.st", "sb.st", "len(sa.st)", "len(sb.st)")
    # NOT EXISTS, not NOT IN: a NULL fingerprint (doc shorter than one
    # shingle) must be KEPT, matching Spark's null-dropping anti-join.
    return f"""
    WITH stage1 AS (
        SELECT i.* FROM {incoming} i
        WHERE NOT EXISTS (
            SELECT 1 FROM {reference} r WHERE {fp_r} = {fp_i}
        )
    ),
    bi AS (
        SELECT {id_col} AS __id, unnest([{band_keys}]) AS band
        FROM (SELECT {id_col}, {sig} AS s FROM stage1)
    ),
    br AS (
        SELECT {id_col} AS __id, unnest([{band_keys}]) AS band
        FROM (SELECT {id_col}, {sig} AS s FROM {reference})
    ),
    cands AS (
        SELECT DISTINCT bi.__id AS id_a, br.__id AS id_b
        FROM bi JOIN br USING (band)
    ),
    seti AS (SELECT {id_col} AS __id, list_distinct({sh}) AS st FROM stage1),
    setr AS (
        SELECT {id_col} AS __id, list_distinct({sh}) AS st FROM {reference}
    ),
    losers AS (
        SELECT DISTINCT id_a FROM cands
        JOIN seti sa ON sa.__id = id_a
        JOIN setr sb ON sb.__id = id_b
        WHERE {jac} >= {threshold}
    )
    SELECT * FROM stage1 WHERE {id_col} NOT IN (SELECT id_a FROM losers)
    """


def near_dedup_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`near_dedup_pairs` (md5 mode)."""
    band_keys = _band_keys_sql("s", num_perm, bands)
    sig = minhash_signature_sql(text_col, num_perm=num_perm, shingle_n=shingle_n)
    sh = word_shingles_sql(text_col, shingle_n)
    jac = _jaccard_sql("sa.st", "sb.st", "len(sa.st)", "len(sb.st)")
    return f"""
    WITH sigs AS (SELECT {id_col} AS __id, {sig} AS s FROM {table}),
    banded AS (SELECT __id, unnest([{band_keys}]) AS band FROM sigs),
    cands AS (
        SELECT DISTINCT l.__id AS id_a, r.__id AS id_b
        FROM banded l JOIN banded r USING (band)
        WHERE l.__id < r.__id
    ),
    sets AS (SELECT {id_col} AS __id, list_distinct({sh}) AS st FROM {table})
    SELECT id_a, id_b, {jac} AS jaccard
    FROM cands
    JOIN sets sa ON sa.__id = id_a
    JOIN sets sb ON sb.__id = id_b
    WHERE {jac} >= {threshold}
    """


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------
def simhash(text: Column, bits: int = 16, hash_fn: str = "md5") -> Column:
    """``bits``-bit SimHash over whitespace tokens (Charikar 2002): bit j is
    the sign of the sum over tokens of ±1 from the token hash's bit j.
    Pure array-expression — no explode, no shuffle."""
    hs = F.transform(tokens(text), lambda t: hash_expr(t, None, hash_fn))
    return _simhash_from_hashes(hs, bits)


def _bit_counts(hs: Column, bits: int) -> Column:
    """ONE fold with an array-of-counters accumulator instead of ``bits``
    separate aggregates: each token contributes its bit vector via a
    zip_with add. Same integer arithmetic as per-bit sums (the DuckDB
    twin's list_sums agree), but the generated code is one aggregate block
    instead of ``bits`` — measured ~3× on 32-bit fingerprints."""
    return F.aggregate(
        hs,
        F.array(*[F.lit(0)] * bits),
        lambda acc, x: F.zip_with(
            acc,
            F.array(
                *[F.shiftright(x, j).bitwiseAND(F.lit(1)).cast("int")
                  for j in range(bits)]
            ),
            lambda a, b: a + b,
        ),
    )


def _sig_from_counts(ones: Column, n: Column, bits: int) -> Column:
    """Fingerprint from a STAGED bit-count array (``ones`` must be a plain
    column reference — element_at per bit would otherwise re-run the whole
    fold; the HOF re-evaluation pitfall).

    bit j set when the ±1 sum is positive: ones[j] - zeros[j] > 0
    <=> 2·ones[j] > n.
    """
    out = F.lit(0)
    for j in range(bits):
        out = out + F.when(
            F.element_at(ones, j + 1) * 2 > n, F.lit(1 << j)
        ).otherwise(F.lit(0))
    return out.cast("long")


def _simhash_from_hashes(hs: Column, bits: int) -> Column:
    # self-contained (unstaged) form — prefer with_simhash for hot paths
    return _sig_from_counts(_bit_counts(hs, bits), F.size(hs), bits)


def with_simhash(
    df: DataFrame,
    text_col: str,
    out_col: str = "simhash16",
    bits: int = 16,
    hash_fn: str = "md5",
) -> DataFrame:
    """Staged SimHash: token hashes materialize once, then ``bits`` aggregates
    read the hash array column instead of re-hashing per bit."""
    df = rebalance_undersplit(df)  # hash-per-token; see with_minhash_signature

    def tok_hash(t):
        return hash_expr(t, None, hash_fn)

    return (
        df.withColumn("__tk", tokens(F.col(text_col)))
        .withColumn("__hs", F.transform(F.col("__tk"), tok_hash))
        .withColumn("__ones", _bit_counts(F.col("__hs"), bits))
        .withColumn(
            out_col,
            _sig_from_counts(F.col("__ones"), F.size(F.col("__hs")), bits),
        )
        .drop("__tk", "__hs", "__ones")
    )


def simhash_sql(expr: str, bits: int = 16) -> str:
    """DuckDB twin of :func:`simhash` (md5 mode)."""
    from ..functions.text import tokens_sql
    from ..functions.hashing import h60_sql

    hs = f"list_transform({tokens_sql(expr)}, t -> {h60_sql('t')})"
    parts = []
    for j in range(bits):
        s = f"list_sum(list_transform({hs}, x -> CAST(((x >> {j}) & 1) * 2 - 1 AS INT)))"
        parts.append(f"(CASE WHEN {s} > 0 THEN {1 << j} ELSE 0 END)")
    return f"CAST(({' + '.join(parts)}) AS BIGINT)"


def hamming_distance(a: Column, b: Column, bits: int = 16) -> Column:
    """Popcount of XOR via bit_count (JVM built-in)."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 16,
    bands: int = 4,
    hash_fn: str = "md5",
) -> DataFrame:
    """ALL pairs (id_a < id_b) with simhash Hamming distance <= max_hamming
    — exact result at bucket-join cost, via the pigeonhole band trick of
    Manku-Jain-Das Sarma 2007 (Google's web near-dup detector): split the
    fingerprint into ``bands`` bit-blocks; any pair differing in at most
    ``max_hamming < bands`` bits matches exactly on at least one block, so
    candidates = same-block collisions are a SUPERSET of true pairs and the
    cheap popcount verify makes the output exact, never all-pairs.

    Same scale shape as :func:`minhash_lsh_pairs`: one scan computes
    fingerprints, only (band_key, id) explodes, per-bucket pair emission,
    verify joins two 1-column sides.
    """
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee"
        )
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    w = bits // bands
    mask = (1 << w) - 1
    sigs = with_simhash(
        df.select(F.col(id_col).alias("__id"), F.col(text_col)),
        text_col,
        out_col="__sh",
        bits=bits,
        hash_fn=hash_fn,
    ).select("__id", "__sh")
    # The 8-byte fingerprint travels WITH the id through the bucket stage
    # (struct elements in collect_set), so the verify is a pure expression
    # on the emitted pair — no join back, and the signature subtree runs
    # ONCE instead of three times (bucket + two verify sides). collect_set
    # sorts by the full struct, but __id is unique so order is by id, as
    # _pairs_within requires.
    keyed = sigs.select(
        F.struct(F.col("__id"), F.col("__sh")).alias("__e"),
        F.explode(
            F.array(
                *[
                    F.concat_ws(
                        "_",
                        F.lit(b),
                        F.shiftright(F.col("__sh"), b * w).bitwiseAND(F.lit(mask)),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("__band"),
    )
    pairs = (
        keyed.groupBy("__band")
        .agg(F.array_sort(F.collect_set("__e")).alias("__ids"))
        .where(F.size("__ids") > 1)
        .select(F.explode(_pairs_within("__ids")).alias("__p"))
        .select(
            F.col("__p.id_a.__id").alias("id_a"),
            F.col("__p.id_b.__id").alias("id_b"),
            hamming_distance(
                F.col("__p.id_a.__sh"), F.col("__p.id_b.__sh"), bits
            ).cast("int").alias("hamming"),
        )
        .distinct()
    )
    return pairs.where(F.col("hamming") <= max_hamming)


def simhash_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 16,
    bands: int = 4,
) -> str:
    """DuckDB twin of :func:`simhash_pairs` (md5 mode)."""
    if bands <= max_hamming:
        raise ValueError(
            f"bands ({bands}) must exceed max_hamming ({max_hamming}) "
            "for the pigeonhole guarantee"
        )
    if bits % bands != 0:
        raise ValueError("bits must be divisible by bands")
    w = bits // bands
    mask = (1 << w) - 1
    sig = simhash_sql(text_col, bits=bits)
    per_band = "\n      UNION ALL ".join(
        f"SELECT vid, {b} AS b, (sig >> {b * w}) & {mask} AS bk FROM sigs"
        for b in range(bands)
    )
    return f"""
    WITH sigs AS (
      SELECT {id_col} AS vid, {sig} AS sig FROM {table}
    ), bk AS (
      {per_band}
    ), cand AS (
      SELECT DISTINCT a.vid AS ia, b.vid AS ib
      FROM bk a JOIN bk b ON a.b = b.b AND a.bk = b.bk AND a.vid < b.vid
    )
    SELECT c.ia AS id_a, c.ib AS id_b,
           CAST(bit_count(xor(sa.sig, sb.sig)) AS INT) AS hamming
    FROM cand c
    JOIN sigs sa ON sa.vid = c.ia
    JOIN sigs sb ON sb.vid = c.ib
    WHERE bit_count(xor(sa.sig, sb.sig)) <= {max_hamming}
    """


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------
def embedding_neardup_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    threshold: float = 0.95,
    method: str = "expr",
    max_broadcast: int = 200_000,
) -> DataFrame:
    """Pairs (id_a < id_b) with cosine similarity >= threshold.

    ``method="expr"``: pure JVM expression fold — exact left-to-right double
    arithmetic, bit-reproducible by the DuckDB oracle. O(n²) pair evaluations.

    ``method="exact_np"``: Arrow-batched ``mapInPandas`` computing the SAME
    left-to-right fold via ``np.add.accumulate`` (strictly sequential), with
    rounding done Spark-side — bit-identical to ``expr`` (verified) at ~10×
    the speed. Default for the oracle-checked query.

    ``method="blas"``: one BLAS matmul per batch — fastest, but float-sum
    order differs from the fold in the last ulp (fine for production dedup,
    not for bit-exact oracle comparison).

    Both numpy methods broadcast the corpus matrix (capped at
    ``max_broadcast`` vectors); beyond that, pre-bucket with
    similarity.ann_topk_lsh.
    """
    if method == "blas":
        return _neardup_blas(df, vec_col, id_col, threshold, max_broadcast)
    if method == "exact_np":
        return _neardup_exact_np(df, vec_col, id_col, threshold, max_broadcast)
    from ..functions.vectors import dot, norm

    # Pre-compute norms per row (O(n)) so the O(n²) pair stage only does one
    # dot product per pair instead of three.
    l = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
    )
    r = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    cos = F.when(
        (F.col("__na") > 0) & (F.col("__nb") > 0),
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
    )
    return (
        l.join(r, F.col("id_a") < F.col("id_b"))
        .withColumn("cos", round_to(cos, 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _collect_corpus(df: DataFrame, vec_col: str, id_col: str, max_broadcast: int):
    import numpy as np

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n = src.count()
    if n > max_broadcast:
        raise ValueError(
            f"corpus has {n} vectors (> {max_broadcast}); pre-bucket with LSH"
        )
    rows = src.collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    return src, ids, mat


def _neardup_exact_np(
    df: DataFrame, vec_col: str, id_col: str, threshold: float, max_broadcast: int
) -> DataFrame:
    """Sequential-fold numpy pair stage: ``np.add.accumulate`` reproduces the
    expression fold's addition order exactly, so raw cosines are bit-identical
    to the JVM/DuckDB computation; rounding + final threshold run Spark-side.
    """
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    src, ids, mat = _collect_corpus(df, vec_col, id_col, max_broadcast)
    norms = np.sqrt(np.add.accumulate(mat * mat, axis=1)[:, -1])
    sc = df.sparkSession.sparkContext
    b = sc.broadcast((ids, mat, norms))
    margin = threshold - 1e-6  # rounding moves a value by < 5e-7

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat, all_norms = b.value
        for batch in batches:
            qids = batch["id"].to_numpy()
            if len(qids) == 0:
                continue
            qmat = np.array(batch["v"].tolist(), dtype=np.float64)
            qnorms = np.sqrt(np.add.accumulate(qmat * qmat, axis=1)[:, -1])
            dim = qmat.shape[1]
            # working set is (block, n) instead of the former
            # (block, n, dim) products tensor + axis-2 accumulate —
            # the dim-ascending in-place adds perform the IDENTICAL
            # IEEE operation sequence (acc_d = acc_{d-1} + q_d*x_d),
            # so raw cosines stay bit-equal to the expression fold
            # (r12 optimization round; ~3x less memory traffic)
            for lo in range(0, len(qids), 512):
                qs, qv, qn = qids[lo:lo + 512], qmat[lo:lo + 512], qnorms[lo:lo + 512]
                dots = qv[:, 0:1] * all_mat[None, :, 0]
                for d in range(1, dim):
                    dots += qv[:, d:d + 1] * all_mat[None, :, d]
                denom = qn[:, None] * all_norms[None, :]
                with np.errstate(invalid="ignore", divide="ignore"):
                    cos = dots / denom
                mask = (all_ids[None, :] > qs[:, None]) & (denom > 0) & (cos >= margin)
                qi, cj = np.nonzero(mask)
                yield pd.DataFrame(
                    {"id_a": qs[qi], "id_b": all_ids[cj], "raw": cos[qi, cj]}
                )

    raw = src.mapInPandas(run, schema="id_a long, id_b long, raw double")
    return (
        raw.withColumn("cos", round_to(F.col("raw"), 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def _neardup_blas(
    df: DataFrame, vec_col: str, id_col: str, threshold: float, max_broadcast: int
) -> DataFrame:
    """Broadcast-matrix near-dup: each Arrow batch does one matmul against
    the full corpus matrix (executors share the broadcast copy)."""
    from collections.abc import Iterator

    import numpy as np
    import pandas as pd

    src = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    n = src.count()
    if n > max_broadcast:
        raise ValueError(
            f"corpus has {n} vectors (> {max_broadcast}); pre-bucket with LSH"
        )
    rows = src.collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = np.inf  # zero vectors never match
    unit = mat / norms[:, None]
    sc = df.sparkSession.sparkContext
    b_ids, b_unit = sc.broadcast(ids), sc.broadcast(unit)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_unit = b_ids.value, b_unit.value
        for batch in batches:
            q = np.array(batch["v"].tolist(), dtype=np.float64)
            qn = np.linalg.norm(q, axis=1)
            qn[qn == 0] = np.inf
            sims = (q / qn[:, None]) @ all_unit.T
            qids = batch["id"].to_numpy()
            out_a, out_b, out_c = [], [], []
            for i, qid in enumerate(qids):
                mask = (all_ids > qid) & (np.round(sims[i], 6) >= threshold)
                js = np.nonzero(mask)[0]
                out_a.extend([qid] * len(js))
                out_b.extend(all_ids[js])
                out_c.extend(np.round(sims[i, js], 6))
            yield pd.DataFrame({"id_a": out_a, "id_b": out_b, "cos": out_c})

    return src.mapInPandas(run, schema="id_a long, id_b long, cos double")


# ---------------------------------------------------------------------------
# Embedding near-dup, LSH-composed (the production path at scale)
# ---------------------------------------------------------------------------
def embedding_neardup_lsh(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.4,
    num_planes: int = 6,
    num_tables: int = 4,
    seed: int = 7,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, cos >= threshold) found via
    random-hyperplane LSH buckets, then exact-cosine verified.

    This is the operator a 100 TB user calls for embedding dedup: unlike
    :func:`embedding_neardup_pairs` (O(n²) exact sweep, or broadcast-capped
    numpy tiers), nothing here is quadratic in the corpus and nothing is
    collected to the driver. Plan: one scan computes ``num_tables``
    sign-bit signatures per row (hyperplanes are driver-generated literals,
    cf. Charikar 2002 / Indyk-Motwani) → explode only (table_bucket, id) →
    per-bucket pair emission (documents never shuffle; same shape as
    :func:`minhash_lsh_pairs`) → candidates join back to vectors for the
    exact fold-order cosine. Recall is tunable: fewer planes or more tables
    raise it (measured in tests/test_dedup_similarity.py); at higher corpus
    scale raise ``num_planes`` to keep buckets bounded.

    Output is a strict subset of the exact sweep at the same threshold —
    pairs whose signatures never collide are missed by design (that is the
    recall/cost trade every LSH dedup makes; cf. MMDS ch.3).
    """
    from ..functions.vectors import dot, norm
    from .similarity import _deterministic_planes, hyperplane_signature

    # num_tables x num_planes x D multiply-adds per row (signatures) plus
    # the exact-cosine verify — rebalance (no-op at real scale)
    df = rebalance_undersplit(df)

    tables = [
        _deterministic_planes(num_planes, dim, seed + t)
        for t in range(num_tables)
    ]
    # Stage each signature as its own projected column before the explode —
    # array elements would otherwise recompute the full aggregate per element
    # (the HOF re-evaluation pitfall; see functions/text.py).
    keyed = df.select(F.col(id_col).alias("__id"), F.col(vec_col)).withColumns(
        {
            f"__sig{t}": hyperplane_signature(F.col(vec_col), tables[t])
            for t in range(num_tables)
        }
    )
    buckets = keyed.select(
        "__id",
        F.explode(
            F.array(
                *[
                    F.concat_ws("_", F.lit(t), F.col(f"__sig{t}"))
                    for t in range(num_tables)
                ]
            )
        ).alias("__tb"),
    )
    cand = (
        buckets.groupBy("__tb")
        .agg(F.array_sort(F.collect_set("__id")).alias("__ids"))
        .where(F.size("__ids") > 1)
        .select(F.explode(_pairs_within("__ids")).alias("__p"))
        .select(F.col("__p.id_a"), F.col("__p.id_b"))
        .distinct()
    )
    l = df.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        norm(F.col(vec_col)).alias("__na"),
    )
    r = df.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        norm(F.col(vec_col)).alias("__nb"),
    )
    cos = F.when(
        (F.col("__na") > 0) & (F.col("__nb") > 0),
        dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
    )
    return (
        cand.join(l, "id_a")
        .join(r, "id_b")
        .withColumn("cos", round_to(cos, 6))
        .where(F.col("cos") >= threshold)
        .select("id_a", "id_b", "cos")
    )


def embedding_neardup_lsh_sql(
    table: str,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.4,
    num_planes: int = 6,
    num_tables: int = 4,
    seed: int = 7,
) -> str:
    """DuckDB twin of :func:`embedding_neardup_lsh`: identical plane
    literals, identical index-order double fold for both the sign bits and
    the verifying cosine, so bucket membership and scores hash-match."""
    from ..functions.vectors import cosine_sql
    from .similarity import _deterministic_planes

    def sig_sql(planes: list[list[float]]) -> str:
        terms = []
        for j, plane in enumerate(planes):
            lits = "[" + ", ".join(repr(p) for p in plane) + "]"
            d = (
                f"list_sum(list_transform(range(1, {dim + 1}), "
                f"i -> CAST({vec_col}[i] AS DOUBLE) * ({lits})[i]))"
            )
            terms.append(f"(CASE WHEN {d} > 0 THEN {1 << j} ELSE 0 END)")
        return " + ".join(terms)

    per_table = "\n      UNION ALL ".join(
        f"SELECT {id_col} AS vid, {t} AS t, {sig_sql(planes)} AS sig"
        f" FROM {table}"
        for t, planes in enumerate(
            _deterministic_planes(num_planes, dim, seed + t)
            for t in range(num_tables)
        )
    )
    cos = cosine_sql(f"ea.{vec_col}", f"eb.{vec_col}", dim)
    return f"""
    WITH sigs AS (
      {per_table}
    ), cand AS (
      SELECT DISTINCT a.vid AS ia, b.vid AS ib
      FROM sigs a JOIN sigs b ON a.t = b.t AND a.sig = b.sig AND a.vid < b.vid
    )
    SELECT c.ia AS id_a, c.ib AS id_b, round({cos}, 6) AS cos
    FROM cand c
    JOIN {table} ea ON ea.{id_col} = c.ia
    JOIN {table} eb ON eb.{id_col} = c.ib
    WHERE round({cos}, 6) >= {threshold}
    """


# ---------------------------------------------------------------------------
# cross-corpus contamination (decontamination check)
# ---------------------------------------------------------------------------
def contamination_pairs(
    corpus: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_containment: float = 0.5,
) -> DataFrame:
    """(corpus_id, bench_id, containment) for training documents that
    contain >= ``min_containment`` of a benchmark document's distinct word
    n-grams — the standard pre-training decontamination check (containment
    |A∩B|/|B| rather than Jaccard, so a long training doc embedding a short
    benchmark item still scores high; cf. the n-gram-overlap
    decontamination described in public LM reports).

    Scale shape: the benchmark side is small by nature and BROADCASTS, so
    the corpus never shuffles — each corpus partition joins its shingles
    against the broadcast bench index; only (corpus_id, bench_id) partial
    counts move in the final aggregation.
    """
    c_sh = shingle_frame(corpus, text_col, id_col, n, "corpus_id", distinct=True)
    b_sh = shingle_frame(bench, text_col, id_col, n, "bench_id", distinct=True)
    b_sizes = b_sh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("__bsize"))
    common = (
        c_sh.join(F.broadcast(b_sh), on="__sh")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("__common"))
    )
    return (
        common.join(F.broadcast(b_sizes), "bench_id")
        .withColumn(
            "containment", round_to(F.col("__common") / F.col("__bsize"), 6)
        )
        .where(F.col("containment") >= min_containment)
        .select("corpus_id", "bench_id", "containment")
    )


def contamination_pairs_sql(
    corpus_table: str,
    bench_table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_containment: float = 0.5,
) -> str:
    """DuckDB twin of :func:`contamination_pairs`."""
    sh = word_shingles_sql(text_col, n)
    cont = "round(__common / bs.__bsize, 6)"
    return f"""
    WITH c_sh AS (
      SELECT {id_col} AS corpus_id, unnest(list_distinct({sh})) AS __sh
      FROM {corpus_table}
    ), b_sh AS (
      SELECT {id_col} AS bench_id, unnest(list_distinct({sh})) AS __sh
      FROM {bench_table}
    ), b_sizes AS (
      SELECT bench_id, count(*) AS __bsize FROM b_sh GROUP BY bench_id
    ), common AS (
      SELECT corpus_id, bench_id, count(*) AS __common
      FROM c_sh JOIN b_sh USING (__sh)
      GROUP BY 1, 2
    )
    SELECT corpus_id, bench_id, {cont} AS containment
    FROM common JOIN b_sizes bs USING (bench_id)
    WHERE {cont} >= {min_containment}
    """


# ---------------------------------------------------------------------------
# transitive duplicate clusters (connected components)
# ---------------------------------------------------------------------------
def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """(id, component) for every id in ``pairs`` (id_a, id_b), where
    component = min id reachable through the pair graph — exact transitive
    closure, unlike the single-hop greedy rule.

    Iterative min-label propagation (the standard distributed-CC loop, cf.
    large-star/small-star of Kiveris et al. 2014; plain propagation is used
    here because dedup graphs have tiny diameters — duplicate cliques and
    short chains): each round joins labels across edges and keeps the min;
    stops when no label changes. Each round is one shuffle keyed by id;
    rounds needed = graph diameter (checked against ``max_iter``).

    Iteration requires an action per round (the convergence test), so this
    operator is NOT one lazy plan — by design, like every iterative graph
    algorithm on Spark.
    """
    edges = stage(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        # materialize ONCE: edges are re-joined every round, and without
        # this the whole upstream pair-generation pipeline (LSH + verify)
        # would re-execute per round
    )
    labels = edges.select(F.col("src").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("id", "dst").withColumnRenamed(
                    "component", "__nc"
                ),
                on="dst",
            )
            .groupBy("src")
            .agg(F.min("__nc").alias("__nmin"))
            .withColumnRenamed("src", "id")
        )
        updated = (
            labels.join(neighbor_min, on="id", how="left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("__nmin"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("__nmin"), F.col("component")) < F.col("component"))
                .alias("__changed"),
            )
        )
        updated = stage(updated)  # truncate the iterative lineage
        n_changed = updated.where("__changed").count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(graph diameter larger than max_iter)"
    )


def near_dedup_transitive(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Corpus with whole duplicate CLUSTERS collapsed to their min-id member
    — exact transitive semantics (a-b, b-c ⇒ drop b AND c even though a,c
    were never compared). Contrast :func:`near_dedup`, whose greedy one-hop
    rule keeps documents connected only through a removed intermediate.
    """
    pairs = near_dedup_pairs(
        df, text_col, id_col,
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        threshold=threshold, hash_fn=hash_fn,
    )
    comp = connected_components(pairs)
    losers = comp.where(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def near_dedup_keep_best(
    df: DataFrame,
    text_col: str,
    id_col: str,
    score_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    hash_fn: str = "md5",
) -> DataFrame:
    """Transitive near-dedup keeping the BEST-scoring member of each
    duplicate cluster (highest ``score_col``, ties to the smaller id) —
    the "keep the longest / highest-quality copy" survivor policy of
    production pipelines, instead of min-id.

    Plan: verified pairs → connected components → one ``max_by`` hash
    aggregation per component picks the winner (no window), then rows not
    in any cluster union the winners back. ``id_col`` must be numeric
    (the tie-break negates it)."""
    pairs = near_dedup_pairs(
        df, text_col, id_col,
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        threshold=threshold, hash_fn=hash_fn,
    )
    comp = connected_components(pairs).withColumnRenamed("id", id_col)
    member = df.join(comp, id_col, "inner")
    winners = member.groupBy("component").agg(
        F.max_by(
            F.col(id_col),
            F.struct(F.col(score_col), (-F.col(id_col)).alias("__negid")),
        ).alias(id_col)
    ).select(id_col)
    nondup = df.join(comp.select(id_col), id_col, "left_anti")
    return nondup.unionByName(df.join(winners, id_col, "inner"))


def near_dedup_keep_best_sql(
    table: str,
    text_col: str,
    id_col: str,
    score_col: str,
    num_perm: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> str:
    """DuckDB twin of :func:`near_dedup_keep_best` (recursive-CTE closure,
    window arg-max with the same score-desc/id-asc tie-break)."""
    pairs = near_dedup_pairs_sql(
        table, text_col, id_col,
        num_perm=num_perm, bands=bands, shingle_n=shingle_n,
        threshold=threshold,
    )
    return f"""
    WITH RECURSIVE edges AS (
      SELECT id_a AS src, id_b AS dst FROM ({pairs})
      UNION SELECT id_b, id_a FROM ({pairs})
    ), reach(id, r) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.id
    ), comp AS (
      SELECT id AS {id_col}, min(r) AS component FROM reach GROUP BY id
    ), winners AS (
      SELECT {id_col} FROM (
        SELECT m.{id_col}, row_number() OVER (
          PARTITION BY c.component
          ORDER BY m.{score_col} DESC, m.{id_col} ASC
        ) AS rn
        FROM {table} m JOIN comp c USING ({id_col})
      ) WHERE rn = 1
    )
    SELECT d.* FROM {table} d
    WHERE d.{id_col} NOT IN (SELECT {id_col} FROM comp)
       OR d.{id_col} IN (SELECT {id_col} FROM winners)
    """


def prefix_dup_clusters(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 256,
    min_cluster: int = 2,
) -> DataFrame:
    """Truncation-duplicate detection: cluster documents whose first
    ``prefix_len`` characters are identical — the web-corpus pathology
    (same page scraped at different truncation depths / pagination
    tails) that exact-hash dedup misses because the FULL texts differ.
    CCNet/RefinedWeb-style pipelines run this between exact and
    MinHash dedup: it is exact (no false positives at the prefix
    granularity) yet catches the most common near-dup class for the
    price of one hash agg.

    Returns one row per cluster of size >= ``min_cluster``:
    ``(anchor, n_docs, distinct_texts, survivor_id, min_chars,
    max_chars)`` where ``anchor`` = md5 of the prefix, ``survivor_id``
    = the minimum id (the canonical keep under the min-id rule, as
    dedup_exact), and ``distinct_texts`` counts full-text variants
    inside the cluster (1 would mean the docs are exact dups too).

    Exactness: md5/substring are character-identical cross-engine;
    counts and char lengths are BIGINTs.

    Scale: ONE hash agg keyed by the 32-hex anchor (map-side combine;
    ``distinct_texts`` plans as the standard two-level distinct agg on
    (anchor, text-hash)) — no pairing, no shuffle of text bodies beyond
    the agg itself. Docs shorter than ``prefix_len`` anchor on their
    whole text, so they only cluster with equal-length equal-text
    prefixes (well-defined, no padding artifacts).
    """
    t = F.col(text_col)
    anchor = F.md5(F.substring(t, 1, prefix_len))
    return (
        df.where(t.isNotNull())
        .select(
            anchor.alias("anchor"),
            F.col(id_col).alias("__id"),
            F.length(t).cast("bigint").alias("__len"),
            F.md5(t).alias("__th"),
        )
        .groupBy("anchor")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.countDistinct("__th").cast("bigint").alias("distinct_texts"),
            F.min("__id").alias("survivor_id"),
            F.min("__len").alias("min_chars"),
            F.max("__len").alias("max_chars"),
        )
        .where(F.col("n_docs") >= min_cluster)
        .orderBy("anchor")
    )


def prefix_dup_clusters_sql(
    table: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_len: int = 256,
    min_cluster: int = 2,
) -> str:
    """DuckDB twin of :func:`prefix_dup_clusters`."""
    return f"""
    SELECT md5(substr({text_col}, 1, {prefix_len})) AS anchor,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT md5({text_col})) AS BIGINT)
               AS distinct_texts,
           min({id_col}) AS survivor_id,
           CAST(min(length({text_col})) AS BIGINT) AS min_chars,
           CAST(max(length({text_col})) AS BIGINT) AS max_chars
    FROM {table}
    WHERE {text_col} IS NOT NULL
    GROUP BY 1
    HAVING count(*) >= {min_cluster}
    ORDER BY anchor
    """


def containment_pairs_prefix(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT directional containment join: every ordered pair (a, b) with
    ``|shingles(a) ∩ shingles(b)| / |shingles(a)| >= threshold`` — doc a
    (near-)contained in doc b. The doc-inside-doc near-dup class
    (quoted articles, pagination supersets, boilerplate-wrapped reposts)
    that symmetric Jaccard misses: a 100-shingle doc fully inside a
    1000-shingle doc has Jaccard 0.1 but containment 1.0.

    Prefix filter, asymmetric form (Chaudhuri ICDE 2006 adapted to
    overlap bound α = ceil(t·|a|)): containment needs overlap >= α, so if
    b shares NONE of a's first ``|a| - α + 1`` rarest shingles the
    overlap is at most α - 1 — a's prefix joins against b's FULL posting
    list (the contained side prunes; the container side cannot). The
    global rare-first order keeps prefixes on low-df shingles, so the
    posting join's cardinality is Σ_prefix-shingles df(sh)² — bounded by
    rare postings, never the frequent-shingle quadratic. Candidates then
    pass the positional filter (overlap <= 1 + min(|a|-pa, |b|-pb)) and
    the size filter |b| >= α before the exact ``array_intersect`` verify.

    Returns ``(id_a, id_b, containment)`` — directional: both (a,b) and
    (b,a) can appear. Scale shape matches :func:`prefix_jaccard_pairs`:
    documents never shuffle, only ids + shingle arrays.
    """
    docs = _df_ordered_shingle_docs(rebalance_undersplit(df), text_col, id_col, n)
    alpha = F.ceil(F.lit(threshold) * F.col("l.__size"))
    # contained side: prefix postings; container side: FULL postings
    l = _prefix_postings(docs, threshold).alias("l")
    r = _prefix_postings(docs, 0.0).alias("r")
    ubound = F.lit(1) + F.least(
        F.col("l.__size") - F.col("l.__pos"), F.col("r.__size") - F.col("r.__pos")
    )
    cands = (
        l.join(r, "__sh")
        .where(
            (F.col("l.__id") != F.col("r.__id"))
            & (F.col("r.__size") >= alpha)
            & (ubound >= alpha)
        )
        .select(F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b"))
        .distinct()
        # pin the verify fan-out (see prefix_jaccard_pairs)
        .repartition(df.sparkSession.sparkContext.defaultParallelism)
    )
    return _verify_pairs(
        cands, docs, docs, "containment", F.col("__common") / F.col("__sa"),
        threshold,
    )


def containment_pairs_prefix_sql(
    table: str, text_col: str, id_col: str, n: int = 3, threshold: float = 0.8
) -> str:
    """DuckDB twin of :func:`containment_pairs_prefix` — replays the
    asymmetric prefix construction (contained-side slice vs container-side
    full postings, positional + size filters) term for term."""
    sh = word_shingles_sql(text_col, n)
    return f"""
    WITH shingled AS (
        SELECT {id_col} AS __id, unnest(list_distinct({sh})) AS __sh FROM {table}
    ), dfc AS (
        SELECT __sh, count(*) AS __df FROM shingled GROUP BY __sh
    ), docs AS (
        SELECT s.__id,
               list(s.__sh ORDER BY d.__df, s.__sh) AS __arr,
               count(*) AS __sz
        FROM shingled s JOIN dfc d USING (__sh)
        GROUP BY s.__id
    ), sliced AS (
        SELECT __id, __sz,
               CAST(__sz - ceil({threshold} * __sz) + 1 AS BIGINT) AS __p
        FROM docs
    ), pref AS (
        SELECT s.__id, s.__sz, u[1] AS __sh, u[2] AS __pos
        FROM (
            SELECT sliced.__id, sliced.__sz,
                   unnest(list_zip(d.__arr[1 : __p], range(1, __p + 1))) AS u
            FROM sliced JOIN docs d USING (__id)
        ) s(__id, __sz, u)
    ), fullpost AS (
        SELECT d.__id, d.__sz, u[1] AS __sh, u[2] AS __pos
        FROM (
            SELECT docs.__id, docs.__sz,
                   unnest(list_zip(docs.__arr, range(1, __sz + 1))) AS u
            FROM docs
        ) d(__id, __sz, u)
    ), cand AS (
        SELECT DISTINCT l.__id AS id_a, r.__id AS id_b
        FROM pref l JOIN fullpost r USING (__sh)
        WHERE l.__id != r.__id
          AND r.__sz >= ceil({threshold} * l.__sz)
          AND 1 + least(l.__sz - l.__pos, r.__sz - r.__pos)
              >= ceil({threshold} * l.__sz)
    )
    SELECT id_a, id_b,
           round(len(list_intersect(a.__arr, b.__arr))
                 / CAST(a.__sz AS DOUBLE), 6) AS containment
    FROM cand
    JOIN docs a ON a.__id = id_a
    JOIN docs b ON b.__id = id_b
    WHERE round(len(list_intersect(a.__arr, b.__arr))
                / CAST(a.__sz AS DOUBLE), 6) >= {threshold}
    """


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 16,
    w: int = 8,
    min_shared: int = 5,
    max_df: int = 50,
    hash_fn: str = "md5",
) -> DataFrame:
    """MOSS-style local-fingerprint overlap detection (Schleimer 2003):
    pairs of documents sharing >= ``min_shared`` winnowed fingerprints
    — the copy-detection primitive that catches LONG VERBATIM SPANS
    (any shared substring of length >= k+w-1 guarantees a shared
    fingerprint) regardless of how different the rest of the documents
    are, where set-level Jaccard/containment dilute local overlap away.

    Returns ``(id_a, id_b, shared_fps)`` with id_a < id_b, descending
    shared_fps then ascending ids.

    Scale: winnowing keeps ~2/(w+1) of k-grams per doc as a pure
    map-side expression; the pair search is an inverted-index self-join
    on fingerprint keys whose postings are capped at ``max_df`` docs
    (boilerplate fingerprints shared by more docs carry no pair signal
    and are dropped BEFORE the join — the same frequent-key guard as
    the prefix joins; dropped mass is recoverable by raising max_df).
    Only (fp, id) pairs shuffle; text never moves past the first scan.
    """
    from ..functions.text import (
        kgram_hashes,
        winnow_pick_positions,
        winnow_select,
    )

    fp = (
        rebalance_undersplit(df)
        # every intermediate array MUST be a staged column: HOF lambdas
        # re-inline expression trees at every reference, so winnowing
        # straight over the hash expression recomputes every md5 per
        # window (measured 80s vs ~2s on 500 docs); the two-stage
        # positions+select path then replaces the ~6-slices-per-window
        # single-expression form with one slice pass + O(1) lookups
        .select(
            F.col(id_col).alias("__id"),
            kgram_hashes(F.col(text_col), k, hash_fn).alias("__kg"),
        )
        .select(
            "__id",
            "__kg",
            winnow_pick_positions(F.col("__kg"), w).alias("__wp"),
        )
        .select(
            "__id",
            winnow_select(F.col("__kg"), F.col("__wp")).alias("__fps"),
        )
        .select(
            "__id",
            F.explode(
                F.array_distinct(F.expr("transform(__fps, x -> x.fp)"))
            ).alias("__fp"),
        )
    )
    # the winnowing pass (an md5 per k-gram of every document) feeds
    # THREE subtrees — the df census and both posting join sides; stage
    # the compact per-fingerprint rows as a reliable checkpoint so it
    # runs once without pinning a corpus-sized block in executor memory
    fp = stage_unbounded(fp)
    dfc = fp.groupBy("__fp").agg(F.count(F.lit(1)).alias("__df"))
    posting = fp.join(
        F.broadcast(dfc.where(F.col("__df") <= max_df).select("__fp")),
        "__fp",
    )
    l, r = posting.alias("l"), posting.alias("r")
    return (
        l.join(r, "__fp")
        .where(F.col("l.__id") < F.col("r.__id"))
        .groupBy(
            F.col("l.__id").alias("id_a"), F.col("r.__id").alias("id_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
        .orderBy(F.desc("shared_fps"), "id_a", "id_b")
    )


def winnow_overlap_pairs_sql(
    table: str,
    text_col: str,
    id_col: str,
    k: int = 16,
    w: int = 8,
    min_shared: int = 5,
    max_df: int = 50,
) -> str:
    """DuckDB twin of :func:`winnow_overlap_pairs`."""
    from ..functions.text import winnow_fingerprints_sql

    wf = winnow_fingerprints_sql(text_col, k, w)
    return f"""
    WITH fp AS (
        SELECT {id_col} AS __id,
               unnest(list_distinct(list_transform({wf}, x -> x.fp)))
                   AS __fp
        FROM {table}
    ), keep AS (
        SELECT __fp FROM fp GROUP BY __fp HAVING count(*) <= {max_df}
    ), posting AS (
        SELECT fp.__id, fp.__fp FROM fp JOIN keep USING (__fp)
    )
    SELECT l.__id AS id_a, r.__id AS id_b,
           CAST(count(*) AS BIGINT) AS shared_fps
    FROM posting l JOIN posting r USING (__fp)
    WHERE l.__id < r.__id
    GROUP BY 1, 2
    HAVING count(*) >= {min_shared}
    ORDER BY shared_fps DESC, id_a, id_b
    """


def lsh_parameter_plan(
    spark,
    n_hashes: int = 64,
    threshold: float = 0.5,
    grid_points: int = 200,
) -> DataFrame:
    """MinHash-LSH band-parameter planner: for every (bands b, rows r)
    factorization of ``n_hashes``, the S-curve candidate probability
    ``P(s) = 1 - (1 - s^r)^b`` is integrated on a fixed s-grid to give
    the false-positive mass below ``threshold`` and the false-negative
    mass above it (Leskovec/Rajaraman/Ullman ch. 3 — the standard
    banding trade-off, computed in-engine instead of a rule of thumb):

        fp = integral_0^t P(s) ds      (trapezoid, uniform grid)
        fn = integral_t^1 (1 - P(s)) ds

    Returns one row per factorization: ``(bands, rows_per_band,
    s50, fp_mass, fn_mass, cost, is_best)`` where ``s50 ~ (1/b)^(1/r)``
    is the curve's midpoint and ``cost = fp + fn`` picks ``is_best``
    (ties break to more bands — higher recall — then the row order).

    Exactness: the s-grid and all P(s) terms are scalar IEEE chains
    with identical expression text; each trapezoid term nano-rounds to
    BIGINT before the fold, so the integral is an exact integer sum.

    Scale: pure bounded-grid compute (factorizations x grid points) —
    the planner costs the same at any corpus size; it reads no data.
    """
    from pyspark.sql import Window

    configs = [
        (b, n_hashes // b)
        for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
    ]
    cfg = spark.createDataFrame(
        configs, ["bands", "rows_per_band"]
    ).select(
        F.col("bands").cast("int").alias("bands"),
        F.col("rows_per_band").cast("int").alias("rows_per_band"),
    )
    pts = spark.range(0, grid_points + 1).select(
        F.col("id").cast("int").alias("__i")
    )
    s = F.col("__i").cast("double") / F.lit(float(grid_points))
    prob = F.lit(1.0) - F.pow(
        F.lit(1.0)
        - F.pow(s, F.col("rows_per_band").cast("double")),
        F.col("bands").cast("double"),
    )
    # trapezoid weights: 1/2 at the ends, 1 inside; ds = 1/grid
    wgt = F.when(
        (F.col("__i") == 0) | (F.col("__i") == grid_points),
        F.lit(0.5),
    ).otherwise(F.lit(1.0))
    staged = cfg.crossJoin(F.broadcast(pts)).select(
        "bands",
        "rows_per_band",
        to_fixed(
            F.when(s < F.lit(float(threshold)), prob * wgt).otherwise(
                F.lit(0.0)
            ),
            9,
        ).alias("__fp"),
        to_fixed(
            F.when(
                s >= F.lit(float(threshold)),
                (F.lit(1.0) - prob) * wgt,
            ).otherwise(F.lit(0.0)),
            9,
        ).alias("__fn"),
    )
    per = staged.groupBy("bands", "rows_per_band").agg(
        F.sum("__fp").cast("bigint").alias("__sfp"),
        F.sum("__fn").cast("bigint").alias("__sfn"),
    )
    ds = 1.0 / grid_points
    fp = from_fixed(F.col("__sfp"), 9) * F.lit(ds)
    fn = from_fixed(F.col("__sfn"), 9) * F.lit(ds)
    cost_n = F.col("__sfp") + F.col("__sfn")
    wbest = Window.orderBy(
        F.col("__cost").asc(), F.col("bands").desc()
    )
    staged2 = per.select(
        "bands",
        "rows_per_band",
        round_to(
            F.pow(
                F.lit(1.0) / F.col("bands").cast("double"),
                F.lit(1.0) / F.col("rows_per_band").cast("double"),
            ),
            6,
        ).alias("s50"),
        round_to(fp, 6).alias("fp_mass"),
        round_to(fn, 6).alias("fn_mass"),
        cost_n.alias("__cost"),
    )
    return staged2.select(
        "bands",
        "rows_per_band",
        "s50",
        "fp_mass",
        "fn_mass",
        round_to(from_fixed(F.col("__cost"), 9) * F.lit(ds), 6).alias(
            "cost"
        ),
        (F.row_number().over(wbest) == 1).alias("is_best"),
    )


def lsh_parameter_plan_sql(
    n_hashes: int = 64,
    threshold: float = 0.5,
    grid_points: int = 200,
) -> str:
    """DuckDB twin of :func:`lsh_parameter_plan` — identical grid,
    S-curve expression text, nano trapezoid folds and best pick."""
    configs = ", ".join(
        f"({b}, {n_hashes // b})"
        for b in range(1, n_hashes + 1)
        if n_hashes % b == 0
    )
    ds = 1.0 / grid_points
    prob = (
        "(CAST(1 AS DOUBLE) - pow(CAST(1 AS DOUBLE)"
        " - pow(CAST(__i AS DOUBLE) / CAST({gp} AS DOUBLE),"
        " CAST(rows_per_band AS DOUBLE)),"
        " CAST(bands AS DOUBLE)))"
    ).format(gp=float(grid_points))
    s = f"(CAST(__i AS DOUBLE) / CAST({float(grid_points)} AS DOUBLE))"
    wgt = (
        f"(CASE WHEN __i = 0 OR __i = {grid_points} THEN"
        " CAST(0.5 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END)"
    )
    return f"""
    WITH __cfg(bands, rows_per_band) AS (VALUES {configs}),
    __pts AS (
        SELECT CAST(unnest(range(0, {grid_points + 1})) AS INTEGER)
            AS __i
    ), __staged AS (
        SELECT bands, rows_per_band,
               CAST(round(CASE WHEN {s} < CAST({float(threshold)}
                          AS DOUBLE) THEN {prob} * {wgt}
                          ELSE CAST(0 AS DOUBLE) END * 1e9, 0)
                    AS BIGINT) AS __fp,
               CAST(round(CASE WHEN {s} >= CAST({float(threshold)}
                          AS DOUBLE) THEN
                          (CAST(1 AS DOUBLE) - {prob}) * {wgt}
                          ELSE CAST(0 AS DOUBLE) END * 1e9, 0)
                    AS BIGINT) AS __fn
        FROM __cfg CROSS JOIN __pts
    ), __per AS (
        SELECT bands, rows_per_band,
               CAST(sum(__fp) AS BIGINT) AS __sfp,
               CAST(sum(__fn) AS BIGINT) AS __sfn
        FROM __staged GROUP BY 1, 2
    )
    SELECT bands, rows_per_band,
           round(pow(CAST(1 AS DOUBLE) / CAST(bands AS DOUBLE),
                 CAST(1 AS DOUBLE) / CAST(rows_per_band AS DOUBLE))
                 * 1e6, 0) / 1e6 AS s50,
           round(CAST(__sfp AS DOUBLE) / 1e9 * CAST({ds!r} AS DOUBLE)
                 * 1e6, 0) / 1e6 AS fp_mass,
           round(CAST(__sfn AS DOUBLE) / 1e9 * CAST({ds!r} AS DOUBLE)
                 * 1e6, 0) / 1e6 AS fn_mass,
           round(CAST(__sfp + __sfn AS DOUBLE) / 1e9
                 * CAST({ds!r} AS DOUBLE) * 1e6, 0) / 1e6 AS cost,
           (row_number() OVER (ORDER BY (__sfp + __sfn) ASC,
                               bands DESC) = 1) AS is_best
    FROM __per
    """


def minhash_calibration(
    df: DataFrame,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    shingle_n: int = 3,
    min_jaccard: float = 0.1,
    n_bins: int = 5,
) -> DataFrame:
    """MinHash-estimator calibration audit (Broder 1997's unbiasedness
    claim, MEASURED on this corpus): for every exact-Jaccard pair
    >= ``min_jaccard``, compare the signature estimate (matching
    components / num_perm) against the exact similarity, binned by
    the exact value — the evidence table behind the near-dedup
    stack's "LSH candidates, exact verify" design (q42/q43/q54): it
    shows HOW tight the 16-permutation estimate actually is where the
    thresholds live.

    Exactness: the estimate is matches * (1e6/num_perm) EXACT
    micro-units (num_perm must divide 1e6); the exact side is
    round(jaccard * 1e6) micro-units; every per-bin fold (sums,
    abs-error sums, max) is exact BIGINT, so no float-sum order can
    drift. Means divide at the end, round-6.

    Scale: the pair set is the EXACT verifier's output (inverted-
    index join, the declared-quadratic-worst-case baseline — this is
    an audit gate, not a production path); signatures attach by two
    id-keyed joins; the bin census is n_bins rows.

    Returns ``(bin_lo, n_pairs, mean_exact, mean_est, mean_abs_err,
    max_abs_err)`` ordered by bin_lo; bins are equal-width on
    [min_jaccard rounded down to a bin edge, 1].
    """
    assert 1_000_000 % num_perm == 0
    pairs = ngram_jaccard_pairs(
        df, text_col, id_col, n=shingle_n, threshold=min_jaccard
    )
    sigs = with_minhash_signature(
        df, text_col, out_col="__sig", num_perm=num_perm,
        shingle_n=shingle_n,
    ).select(F.col(id_col).alias("__sid"), "__sig")
    a = sigs.select(
        F.col("__sid").alias("id_a"), F.col("__sig").alias("__siga")
    )
    b = sigs.select(
        F.col("__sid").alias("id_b"), F.col("__sig").alias("__sigb")
    )
    matches = sum(
        (
            F.element_at("__siga", p) == F.element_at("__sigb", p)
        ).cast("int")
        for p in range(1, num_perm + 1)
    )
    unit = 1_000_000 // num_perm
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            to_fixed(F.col("jaccard"), 6).alias("__je"),
            (matches * F.lit(unit)).cast("bigint").alias("__es"),
        )
        .select(
            "__je",
            "__es",
            F.abs(F.col("__je") - F.col("__es")).alias("__ae"),
            F.least(
                F.lit(n_bins - 1),
                F.floor(
                    F.col("__je") * n_bins / F.lit(1_000_000)
                ).cast("int"),
            ).alias("__bin"),
        )
    )
    n = F.col("n_pairs").cast("double")
    return (
        scored.groupBy("__bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("__je").cast("bigint").alias("__sje"),
            F.sum("__es").cast("bigint").alias("__ses"),
            F.sum("__ae").cast("bigint").alias("__sae"),
            F.max("__ae").cast("bigint").alias("__mae"),
        )
        .select(
            round_to(F.col("__bin").cast("double") / F.lit(float(n_bins)), 6)
            .alias("bin_lo"),
            "n_pairs",
            round_to(F.col("__sje").cast("double") / n / F.lit(1e6), 6).alias(
                "mean_exact"
            ),
            round_to(F.col("__ses").cast("double") / n / F.lit(1e6), 6).alias(
                "mean_est"
            ),
            round_to(F.col("__sae").cast("double") / n / F.lit(1e6), 6).alias(
                "mean_abs_err"
            ),
            round_to(from_fixed(F.col("__mae"), 6), 6).alias(
                "max_abs_err"
            ),
        )
        .orderBy("bin_lo")
    )


def minhash_calibration_sql(
    table: str,
    text_col: str,
    id_col: str,
    num_perm: int = 16,
    shingle_n: int = 3,
    min_jaccard: float = 0.1,
    n_bins: int = 5,
) -> str:
    """DuckDB twin of :func:`minhash_calibration` — identical exact
    pairs, signature estimates and integer micro-unit folds."""
    inner = ngram_jaccard_pairs_sql(
        table, text_col, id_col, shingle_n, min_jaccard
    )
    sig = minhash_signature_sql(text_col, num_perm, shingle_n)
    unit = 1_000_000 // num_perm
    match_sum = " + ".join(
        f"CASE WHEN a.__sig[{p}] = b.__sig[{p}] THEN 1 ELSE 0 END"
        for p in range(1, num_perm + 1)
    )
    return f"""
    WITH __pairs AS MATERIALIZED ({inner}),
    __sigs AS MATERIALIZED (
        SELECT {id_col} AS __sid, {sig} AS __sig FROM {table}
    ), __scored AS (
        SELECT CAST(round(p.jaccard * 1e6, 0) AS BIGINT) AS __je,
               CAST(({match_sum}) * {unit} AS BIGINT) AS __es
        FROM __pairs p
        JOIN __sigs a ON a.__sid = p.id_a
        JOIN __sigs b ON b.__sid = p.id_b
    ), __binned AS (
        SELECT __je, __es, abs(__je - __es) AS __ae,
               CAST(least({n_bins - 1},
                    CAST(floor(__je * {n_bins} / 1000000.0)
                         AS BIGINT)) AS INTEGER) AS __bin
        FROM __scored
    )
    SELECT round(CAST(__bin AS DOUBLE) / {float(n_bins)} * 1e6, 0)
               / 1e6 AS bin_lo,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(CAST(sum(__je) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS mean_exact,
           round(CAST(sum(__es) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS mean_est,
           round(CAST(sum(__ae) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                 / 1e6 * 1e6, 0) / 1e6 AS mean_abs_err,
           round(CAST(max(__ae) AS DOUBLE) / 1e6 * 1e6, 0) / 1e6
               AS max_abs_err
    FROM __binned GROUP BY __bin ORDER BY bin_lo
    """
