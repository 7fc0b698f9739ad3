"""The staging module is the package's only way to materialize a frame:
a source tripwire, the measured job behaviour ``stage``'s docstring
states, and the one GC-driven lifecycle both helpers share — nothing
enters the CacheManager, and ``stage_unbounded``'s checkpoint files are
deleted once their frames are garbage-collected, or at shutdown."""

from __future__ import annotations

import gc
import inspect
import os
import re
import subprocess
import sys
import textwrap
import time

import pytest
from pyspark.sql import functions as F

from pytrousse_spark.staging import stage, stage_unbounded

from tests.conftest import SF_DIR

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_STAGING = os.path.join(_ROOT, "pytrousse_spark", "staging.py")
_RAW = re.compile(r"\.(localCheckpoint|checkpoint)\(")
_CACHE = re.compile(r"persist\(|\.cache\(|cacheTable\(|CACHE TABLE|StorageLevel", re.I)


def _sources():
    yield os.path.join(_ROOT, "__spark_entry__.py")
    for dirpath, _, files in os.walk(os.path.join(_ROOT, "pytrousse_spark")):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _hits(pattern, skip=()):
    out = []
    for path in _sources():
        if path in skip:
            continue
        with open(path) as fh:
            for i, line in enumerate(fh, 1):
                if pattern.search(line):
                    out.append(f"{os.path.relpath(path, _ROOT)}:{i}: {line.strip()}")
    return out


def test_no_raw_materialization_outside_staging_module():
    hits = _hits(_RAW, skip=(_STAGING,))
    assert not hits, "stage through pytrousse_spark.staging:\n" + "\n".join(hits)


def test_nothing_is_cached_anywhere():
    """No persist, cache, unpersist or storage level — the staging module
    included: its only materializers are the two checkpoints."""
    hits = _hits(_CACHE)
    assert not hits, "stage instead of caching:\n" + "\n".join(hits)


@pytest.mark.parametrize("helper", [stage, stage_unbounded], ids=["stage", "stage_unbounded"])
def test_stage_takes_only_the_frame(helper):
    assert list(inspect.signature(helper).parameters) == ["df"]


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


def _rdd_dirs(spark) -> set[str]:
    """The per-RDD directories under the session's checkpoint dir."""
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is None:
        return set()
    path = ckpt[len("file:"):] if ckpt.startswith("file:") else ckpt
    return set(os.listdir(path)) if os.path.isdir(path) else set()


# every registry query that reaches a stage_unbounded caller
_UNBOUNDED_QUERIES = (
    "q44 q59 q75 q93 q111 q163 q177 q183 q194 q252 q258 q280 q289"
).split()


def test_stage_unbounded_lifecycle_over_registry(spark):
    """Each query checkpoints at least one frame and leaves the
    CacheManager empty after its action; once the frames are dropped and
    the driver has run GC, the cleaner deletes every checkpoint."""
    import __spark_entry__ as entry

    qs = entry.queries()
    names = [n for n in qs if n.split("_")[0] in _UNBOUNDED_QUERIES]
    assert len(names) == len(_UNBOUNDED_QUERIES)
    spark.catalog.clearCache()
    before = _rdd_dirs(spark)
    for name in names:
        seen = _rdd_dirs(spark)
        df = qs[name](spark, SF_DIR)
        df.write.format("noop").mode("overwrite").save()
        assert _cache_empty(spark), name
        assert _rdd_dirs(spark) - seen, f"{name} wrote no checkpoint"
    del df
    left = _rdd_dirs(spark) - before
    deadline = time.monotonic() + 120
    while left and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(1)
        left = _rdd_dirs(spark) - before
    assert not left, f"checkpoints not released after GC: {sorted(left)}"


_PLAIN_SESSION = textwrap.dedent(
    """
    import sys
    from pyspark.sql import SparkSession
    from pytrousse_spark.operators.dedup import ngram_jaccard_pairs

    builder = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false")
    if len(sys.argv) > 1:
        builder = builder.config("spark.checkpoint.dir", sys.argv[1])
    spark = builder.getOrCreate()
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, "an entirely different sentence about nothing")],
        "doc_id long, text string",
    )
    rows = ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.3).collect()
    print(spark.sparkContext.getCheckpointDir(), len(rows))
    """
)


def _run_plain_session(tmp_path, *args) -> str:
    """Run ngram_jaccard_pairs in a plain ``SparkSession.builder`` session in
    a child process; return the checkpoint dir (a local path) it used."""
    env = {
        **os.environ,
        "PYTHONPATH": os.pathsep.join(
            p for p in (_ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "SPARK_LOCAL_DIRS": str(tmp_path / "local"),
    }
    out = subprocess.run(
        [sys.executable, "-c", _PLAIN_SESSION, *args],
        env=env, cwd=str(tmp_path), capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    ckpt, n_rows = out.stdout.split()[-2:]
    assert int(n_rows) == 1
    return ckpt[len("file:"):] if ckpt.startswith("file:") else ckpt


def test_plain_session_leaves_no_checkpoint_files(tmp_path):
    """A session not built by ``get_spark`` checkpoints under a directory
    Spark deletes at shutdown, so nothing outlives the process."""
    path = _run_plain_session(tmp_path)
    assert path.startswith(str(tmp_path / "local")), path
    # the JVM runs its shutdown hooks after the Python process has exited
    deadline = time.monotonic() + 60
    while os.path.exists(path) and time.monotonic() < deadline:
        time.sleep(0.5)
    assert not os.path.exists(path), f"checkpoint dir outlived the process: {path}"


def test_configured_checkpoint_dir_is_kept(tmp_path):
    """A deployment's ``spark.checkpoint.dir`` is used as set."""
    path = _run_plain_session(tmp_path, str(tmp_path / "ckpt"))
    assert path.startswith(str(tmp_path / "ckpt")), path
