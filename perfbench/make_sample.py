"""Cut the benchmark's input pool, ``perfbench/sample/``, from the sf0.1
tables of the registry's test data (``TESTDATA.md``).

The pool is what ``gen.py`` draws each seed's inputs from; it is
committed so that a checkout, which holds no test data, can make them.

- ``documents`` and ``embeddings``: every row of sf0.1 (5,000 documents,
  2,000 vectors);
- ``customer``, ``orders``, ``lineitem``: every fifth customer of sf0.1
  (``c_custkey % 5 == 0``), all of its orders and all of their line
  items, so the three tables stay joinable and keep sf0.1's orders per
  customer and lines per order.

Usage, from the root of a checkout::

    python3 perfbench/make_sample.py --src <sf0.1 directory>
"""

from __future__ import annotations

import argparse
import os

import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
OUT = os.path.join(HERE, "sample")
#: one customer in this many is kept
CUSTOMER_STRIDE = 5


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--src", required=True, help="directory with the sf0.1 parquet files")
    args = ap.parse_args()
    read = lambda name: pq.read_table(os.path.join(args.src, f"{name}.parquet"))  # noqa: E731

    customer = read("customer")
    customer = customer.filter(customer["c_custkey"].to_numpy() % CUSTOMER_STRIDE == 0)
    orders = read("orders")
    orders = orders.filter(pc.is_in(orders["o_custkey"], customer["c_custkey"]))
    lineitem = read("lineitem")
    lineitem = lineitem.filter(pc.is_in(lineitem["l_orderkey"], orders["o_orderkey"]))

    os.makedirs(OUT, exist_ok=True)
    for name, table in (("customer", customer), ("orders", orders), ("lineitem", lineitem),
                        ("documents", read("documents")), ("embeddings", read("embeddings"))):
        table = table.replace_schema_metadata(None)
        pq.write_table(table, os.path.join(OUT, f"{name}.parquet"), compression="zstd")
        print(name, table.num_rows, os.path.getsize(os.path.join(OUT, f"{name}.parquet")))


if __name__ == "__main__":
    main()
