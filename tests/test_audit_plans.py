"""``tools/audit_plans.plan_counts`` and ``masked_plan`` over a captured
formatted plan. The plan holds a staged frame read twice (once in a
scalar subquery), a persisted frame whose cache was filled (so its AQE
final and initial plans print under the ``InMemoryRelation``) and a
global sort. No Spark session needed."""

from __future__ import annotations

import importlib.util
import os
import re

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _audit_plans():
    spec = importlib.util.spec_from_file_location(
        "audit_plans", os.path.join(_ROOT, "tools", "audit_plans.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _captured() -> str:
    with open(os.path.join(_ROOT, "tests", "data", "plan_formatted_cached_subquery.txt")) as f:
        return f.read()


def test_counts_each_tree_node_once_outside_cached_plans():
    text = _captured()
    # the raw text names the parquet scan 5 times: twice in trees (one
    # under the cache), once more in the cache's initial plan, and twice
    # in the details
    assert text.count("Scan parquet") == 5
    assert _audit_plans().plan_counts(text) == {
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
    counts = _audit_plans().plan_counts(text)
    assert counts["global_sort"] == 0 and counts["scan_parquet"] == 1


def test_masked_plan_hides_build_ids_and_checkpoint_paths():
    masked_plan = _audit_plans().masked_plan
    text = _captured()
    masked = masked_plan(text)
    assert re.search(r"#\d|plan_id=\d|RDD\[\d", masked) is None
    # a second build of the same plan numbers its ids afresh
    rebuilt = re.sub(
        r"(#|plan_id=|RDD\[)(\d+)",
        lambda m: m.group(1) + str(int(m.group(2)) + 1000),
        text,
    )
    assert rebuilt != text and masked_plan(rebuilt) == masked
    # operator ids, data paths and expressions stay
    assert "+- Scan parquet  (10)" in masked
    assert "[file:/data/sf0.001/customer.parquet]" in masked
    assert "hashpartitioning(c_nationkey#N, 4), ENSURE_REQUIREMENTS, [plan_id=N]" in masked
    assert masked.count("\n") == text.count("\n")
    # a different plan stays different
    assert masked_plan(text.replace("Inner BuildRight", "Inner BuildLeft")) != masked
    ckpt = (
        "Arguments: [a#3L], ReliableCheckpointRDD[41] at file:/tmp/spark-"
        "0e2b4f5a-1c2d-4e5f-8a9b-0c1d2e3f4a5b/checkpoints/"
        "9d8c7b6a-5f4e-4d3c-8b2a-1f0e9d8c7b6a/rdd-41, ExistingRDD"
    )
    assert masked_plan(ckpt) == (
        "Arguments: [a#NL], ReliableCheckpointRDD[N] at <checkpoint>, ExistingRDD"
    )
    # where the RDD was created depends on the caller's stack
    for site in ("<unknown>:0", "NativeMethodAccessorImpl.java:0"):
        assert masked_plan(f"MapPartitionsRDD[7] at checkpoint at {site}, ExistingRDD") == (
            "MapPartitionsRDD[N] at checkpoint at <callsite>, ExistingRDD"
        )
    # lambda variables take a JVM-wide counter; a stream's state op a runId
    stream = (
        "lambdafunction(NOT (lambda x_138#7 = ), lambda x_138#7, false), "
        "state info [ checkpoint = <unknown>, runId = "
        "da71916d-1386-445e-80e9-209704a2e46e, opId = 0, ver = 0"
    )
    assert masked_plan(stream) == (
        "lambdafunction(NOT (lambda x_N#N = ), lambda x_N#N, false), "
        "state info [ checkpoint = <unknown>, runId = N, opId = 0, ver = 0"
    )
