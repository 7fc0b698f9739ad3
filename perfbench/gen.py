"""Seeded input generator for the benchmark.

Each seed's tables are drawn from the input pool in ``perfbench/sample/``,
which ``make_sample.py`` cuts from the registry's sf0.1 test data
(``TESTDATA.md``): ``customer``, ``orders`` and ``lineitem`` for every
fifth sf0.1 customer, and every sf0.1 document and embedding. A seed
picks a subset of the pool's rows and perturbs their values; the same
seed writes the same files, another seed different contents with the
same schemas and about the same row counts.

- ``customer``/``orders``/``lineitem``: a subset of the pool's customers
  with all their orders and line items (sf0.1's ten orders per customer
  and four lines per order carry over); money columns scaled by a
  per-row factor in [0.99, 1.01] and rounded to cents.
- ``documents``: a subset of sf0.1's documents, ``doc_id`` kept, in which
  one document in twenty has one token replaced by another word of the
  vocabulary; ``n_chars`` follows the text.
- ``embeddings``: a subset of sf0.1's vectors, each moved by Gaussian
  noise (sigma 0.01 per component) and scaled back to unit length.

``iterate`` also gets a synthesized dirty CSV (mixed types, decimal-comma
and out-of-scale typos, junk words, NULLs). ``corpus`` also gets its
documents split into files in ``doc_id`` order, so that each file is one
micro-batch and the streamed output can be compared with its batch twin.

Run on its own to inspect what a seed produces::

    python3 perfbench/gen.py --seed 7 --out inputs --scale tiny
"""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

SAMPLE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sample")

#: rows drawn per input at each scale; ``bench`` is what the timed runs
#: use, ``tiny`` is the self-test's. ``customer`` sets the TPC-H subset:
#: its orders (about 10 each) and their line items (about 4 per order)
#: come with it. The pool holds 3,000 customers, 5,000 documents and
#: 2,000 embeddings; sf0.1 holds 15,000 customers.
SCALES = {
    "bench": {"customer": 750, "documents": 1000, "embeddings": 500, "dirty_csv": 1000},
    "tiny": {"customer": 150, "documents": 200, "embeddings": 200, "dirty_csv": 500},
}

#: input tables each workload needs (its calls read nothing else)
WORKLOAD_TABLES = {
    "iterate": ("customer", "orders", "lineitem", "embeddings"),
    "corpus": ("documents", "embeddings"),
}

#: files the streamed documents are split into, one micro-batch each
STREAM_FILES = 2
#: share of documents that get one token replaced
DOC_EDIT_SHARE = 0.05
#: per-component noise added to each embedding before renormalizing
EMBEDDING_NOISE = 0.01


def _pool(name: str) -> pa.Table:
    return pq.read_table(os.path.join(SAMPLE_DIR, f"{name}.parquet"))


def _subset(rng: np.random.Generator, table: pa.Table, n: int, key: str) -> pa.Table:
    """``n`` rows of ``table`` drawn without replacement, in ``key`` order."""
    if n > table.num_rows:
        raise ValueError(f"{n} rows asked of a pool of {table.num_rows}")
    return table.take(np.sort(rng.choice(table.num_rows, n, replace=False))).sort_by(key)


def _jitter(rng: np.random.Generator, table: pa.Table, column: str) -> pa.Table:
    """Scale ``column`` by a per-row factor in [0.99, 1.01], to cents."""
    values = table[column].to_numpy()
    scaled = np.round(values * rng.uniform(0.99, 1.01, len(values)), 2)
    return table.set_column(table.schema.get_field_index(column), column, pa.array(scaled))


def _tpch(rng: np.random.Generator, rows: dict) -> dict[str, pa.Table]:
    customer = _subset(rng, _pool("customer"), rows["customer"], "c_custkey")
    orders = _pool("orders")
    orders = orders.filter(pc.is_in(orders["o_custkey"], customer["c_custkey"]))
    lineitem = _pool("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"]))
    return {
        "customer": _jitter(rng, customer, "c_acctbal"),
        "orders": _jitter(rng, orders, "o_totalprice"),
        "lineitem": _jitter(rng, lineitem, "l_extendedprice"),
    }


def _documents(rng: np.random.Generator, rows: dict) -> pa.Table:
    pool = _pool("documents")
    vocab = sorted({w for t in pool["text"].to_pylist() for w in t.split()})
    docs = _subset(rng, pool, rows["documents"], "doc_id")
    texts = docs["text"].to_pylist()
    for i in np.flatnonzero(rng.random(len(texts)) < DOC_EDIT_SHARE):
        words = texts[i].split()
        words[int(rng.integers(0, len(words)))] = vocab[int(rng.integers(0, len(vocab)))]
        texts[i] = " ".join(words)
    docs = docs.set_column(docs.schema.get_field_index("text"), "text", pa.array(texts))
    return docs.set_column(
        docs.schema.get_field_index("n_chars"), "n_chars",
        pa.array([len(t) for t in texts], pa.int64()),
    )


def _embeddings(rng: np.random.Generator, rows: dict) -> pa.Table:
    emb = _subset(rng, _pool("embeddings"), rows["embeddings"], "vec_id")
    v = np.stack(emb["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
    v += rng.normal(scale=EMBEDDING_NOISE, size=v.shape)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    field = emb.schema.field("embedding")
    return emb.set_column(
        emb.schema.get_field_index("embedding"), field, pa.array(list(v), field.type)
    )


def _dirty_csv(rng: np.random.Generator, n: int, path: str) -> dict:
    """A pytrousse-style exam sheet: categorical metadata, a clean numeric
    column, two numeric columns with typos the repair cascade fixes
    (decimal comma, degree sign, ``>`` out-of-scale marker) or nulls out
    (junk words), NULL cells, and free-text columns."""
    breeds = rng.choice(["MONGREL", "POODLE", "BEAGLE", "BOXER", "PUG"], n, p=[0.5, 0.2, 0.1, 0.1, 0.1])
    sex = rng.choice(["M", "F", ""], n, p=[0.48, 0.48, 0.04])
    age = rng.integers(0, 18, n)
    temp = np.round(rng.normal(38.5, 0.6, n), 1)
    weight = np.round(rng.uniform(2, 45, n), 1)
    kind = rng.random((n, 2))
    owners = rng.integers(0, n // 4 + 1, n)
    # what the repair cascade must turn each cell into
    repaired: dict[str, list] = {"temp": [], "weight": []}

    def dirty(col: str, v: float, k: float) -> str:
        s, fixed = f"{v}", v
        if k < 0.05:
            s = '"' + s.replace(".", ",") + '"'
        elif k < 0.08:
            s += "°"
        elif k < 0.10:
            s, fixed = ">" + s, v * (1 + 0.02)
        elif k < 0.12:
            s, fixed = "---", None
        elif k < 0.14:
            s, fixed = "", None
        repaired[col].append(fixed)
        return s

    lines = ["id,breed,sex,age,temp,weight,owner,notes"]
    for i in range(n):
        lines.append(
            f"{i},{breeds[i]},{sex[i]},{age[i]},{dirty('temp', temp[i], kind[i, 0])},"
            f"{dirty('weight', weight[i], kind[i, 1])},owner_{owners[i]},"
            f"visit note {i % 97}"
        )
    with open(path, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    return {
        "id": list(range(n)), "breed": breeds.tolist(),
        "sex": [s or None for s in sex.tolist()], "age": age.tolist(),
        "owner": [f"owner_{o}" for o in owners.tolist()], **repaired,
    }


def _write_split(table: pa.Table, key: str, out_dir: str, parts: int) -> None:
    """Split ``table`` by ascending ``key`` into ``parts`` files whose
    names sort in key order (so a file stream sees keys in order)."""
    os.makedirs(out_dir, exist_ok=True)
    table = table.sort_by(key)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), os.path.join(out_dir, f"part-{i:03d}.parquet"))


def generate(workload: str, seed: int, out_dir: str, scale: str = "bench") -> tuple[dict, dict]:
    """Write ``workload``'s inputs under ``out_dir``. Returns the manifest
    (row and byte counts per file) and the generator's own record of the
    dirty CSV's cells, which the output checks compare against."""
    rows = SCALES[scale]
    os.makedirs(out_dir, exist_ok=True)
    wanted = WORKLOAD_TABLES[workload]
    # one random stream per (seed, table group): a table's contents do not
    # depend on which other tables the workload writes
    tables: dict[str, pa.Table] = {
        "documents": _documents(np.random.default_rng([seed, 1]), rows),
        "embeddings": _embeddings(np.random.default_rng([seed, 2]), rows),
    }
    if "customer" in wanted:
        tables.update(_tpch(np.random.default_rng([seed, 0]), rows))
    manifest: dict = {"seed": seed, "scale": scale, "tables": {}}
    for name in wanted:
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        manifest["tables"][name] = {"rows": tables[name].num_rows, "bytes": os.path.getsize(path)}
    truth: dict = {}
    if workload == "iterate":
        csv = os.path.join(out_dir, "dirty.csv")
        truth = _dirty_csv(np.random.default_rng([seed, 3]), rows["dirty_csv"], csv)
        manifest["tables"]["dirty_csv"] = {"rows": rows["dirty_csv"], "bytes": os.path.getsize(csv)}
    if workload == "corpus":
        stream_dir = os.path.join(out_dir, "documents_stream")
        _write_split(tables["documents"], "doc_id", stream_dir, STREAM_FILES)
    return manifest, truth


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(WORKLOAD_TABLES), default="iterate")
    ap.add_argument("--scale", choices=sorted(SCALES), default="bench")
    args = ap.parse_args()
    manifest, _ = generate(args.workload, args.seed, args.out, args.scale)
    print(json.dumps(manifest, indent=1))


if __name__ == "__main__":
    main()
