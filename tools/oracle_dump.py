"""Dump ``__spark_entry__.oracle_sql()`` as sorted JSON, each SQL string
whitespace-normalized (every run of whitespace becomes one space, ends
stripped), so that "the oracle text did not move between two checkouts"
is one ``diff`` of two dumps. Needs no Spark session.

Usage:
    python tools/oracle_dump.py [out.json]     # stdout without a path

To compare two checkouts, run it in each and ``diff`` the two files.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def normalize(sql: str) -> str:
    return " ".join(sql.split())


def dump() -> str:
    import __spark_entry__ as entrymod

    oracle = {k: normalize(v) for k, v in entrymod.oracle_sql().items()}
    return json.dumps(oracle, sort_keys=True, indent=1) + "\n"


def main() -> None:
    text = dump()
    if len(sys.argv) > 1:
        with open(sys.argv[1], "w") as f:
            f.write(text)
    else:
        sys.stdout.write(text)


if __name__ == "__main__":
    main()
