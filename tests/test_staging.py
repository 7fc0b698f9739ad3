"""The staging module is the package's only way to materialize a frame:
a source tripwire, the measured job behaviour ``stage``'s docstring
states, and release of the recomputable persists that operators hold
only for the length of one call."""

from __future__ import annotations

import inspect
import os
import re

import pytest
from pyspark.sql import functions as F

from pytrousse_spark.io import read_parquet_df
from pytrousse_spark.staging import stage

from tests.conftest import SF_DIR

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_STAGING = os.path.join(_ROOT, "pytrousse_spark", "staging.py")
_RAW = re.compile(r"\.(localCheckpoint|persist|cache|checkpoint)\(")


def _sources():
    yield os.path.join(_ROOT, "__spark_entry__.py")
    for dirpath, _, files in os.walk(os.path.join(_ROOT, "pytrousse_spark")):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def test_no_raw_materialization_outside_staging_module():
    hits = []
    for path in _sources():
        if path == _STAGING:
            continue
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if _RAW.search(line):
                    hits.append(f"{os.path.relpath(path, _ROOT)}:{i}: {line.strip()}")
    assert not hits, "stage through pytrousse_spark.staging:\n" + "\n".join(hits)


def test_stage_takes_only_the_frame():
    assert list(inspect.signature(stage).parameters) == ["df"]


def _jobs(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("aqe, staging_jobs", [("true", 1), ("false", 0)])
def test_stage_runs_map_stages_only_under_aqe(spark, aqe, staging_jobs):
    """An aggregate stages with one job (its map stage) under AQE and
    none without; either way the first consumer runs one job and reads
    the same rows as the unstaged plan."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, aqe)
    try:
        agg = spark.range(0, 5000).groupBy((F.col("id") % 7).alias("k")).count()
        staged, n_stage = _jobs(spark, f"stage-{aqe}", lambda: stage(agg))
        rows, n_first = _jobs(spark, f"first-{aqe}", staged.collect)
    finally:
        spark.conf.set(key, prev)
    assert (n_stage, n_first) == (staging_jobs, 1)
    assert sorted(map(tuple, rows)) == sorted(map(tuple, agg.collect()))


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_clean_corpus_releases_its_persist(spark):
    from pytrousse_spark.operators import corpus as cp

    docs = read_parquet_df(spark, f"{SF_DIR}/documents.parquet")
    spark.catalog.clearCache()
    out = cp.clean_corpus(docs)
    assert _cache_empty(spark)
    rows = out.collect()
    assert rows and _cache_empty(spark)


def test_bradley_terry_releases_its_persist(spark):
    from pytrousse_spark.operators.classifier import bradley_terry

    games = spark.createDataFrame(
        [("a", "b"), ("a", "b"), ("b", "a"), ("b", "c"), ("c", "a")], "w string, l string"
    )
    spark.catalog.clearCache()
    assert bradley_terry(games, "w", "l").collect()
    assert _cache_empty(spark)
