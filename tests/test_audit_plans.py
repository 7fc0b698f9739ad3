"""``tools/audit_plans.plan_counts`` over a captured formatted plan. The
plan holds a staged frame read twice (once in a scalar subquery), a
persisted frame whose cache was filled (so its AQE final and initial
plans print under the ``InMemoryRelation``) and a global sort. No Spark
session needed."""

from __future__ import annotations

import importlib.util
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _plan_counts():
    spec = importlib.util.spec_from_file_location(
        "audit_plans", os.path.join(_ROOT, "tools", "audit_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.plan_counts


def _captured() -> str:
    with open(os.path.join(_ROOT, "tests", "data", "plan_formatted_cached_subquery.txt")) as f:
        return f.read()


def test_counts_each_tree_node_once_outside_cached_plans():
    text = _captured()
    # the raw text names the parquet scan 5 times: twice in trees (one
    # under the cache), once more in the cache's initial plan, and twice
    # in the details
    assert text.count("Scan parquet") == 5
    assert _plan_counts()(text) == {
        "scan_parquet": 1,
        "scan_rdd": 2,  # the staged frame, in the main plan and the subquery
        "scan_cached": 1,
        "exchange": 3,  # the subquery's exchange counts, the cache's do not
        "bnlj": 0,
        "pyeval": 0,
        "mapinpandas": 0,
        "global_sort": 1,
    }


def test_local_sort_is_not_global():
    text = (
        "== Physical Plan ==\n"
        "Window (3)\n"
        "+- Sort (2)\n"
        "   +- Scan parquet  (1)\n"
        "\n\n"
        "(1) Scan parquet \n"
        "Output [1]: [a#1]\n"
        "\n"
        "(2) Sort\n"
        "Input [1]: [a#1]\n"
        "Arguments: [a#1 ASC NULLS FIRST], false, 0\n"
        "\n"
        "(3) Window\n"
        "Input [1]: [a#1]\n"
    )
    counts = _plan_counts()(text)
    assert counts["global_sort"] == 0 and counts["scan_parquet"] == 1
