"""Isolated per-query measurement harness (guide §1): times each named
query with the noop sink on a fresh session, optionally dumps
``.explain("formatted")`` to a file, masked by
``audit_plans.masked_plan`` so that plans of two checkouts compare with
``diff -r``.

Usage:
    python tools/measure.py q287_hits q117_pagerank [--reps 3]
        [--plans plans/r12 --suffix before] [--rows rows/before]

To compare the plans of two checkouts, run each with its own ``--plans``
directory and the same ``--suffix``, then ``diff -r`` the directories.
``--rows DIR`` writes ``DIR/<query>.txt`` per query: its output schema
(``simpleString``), row count and the SHA-256 of its sorted rows, so
"same schema and rows as the parent" is one ``diff -r`` as well. With both
flags each query's frame is built once: explained, then digested. With no
query named, every registry query runs; ``--reps 0`` skips the timing.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
Prints one line per query: name, per-rep walls, and per rep the split of
each wall into ``build_s``/``build_jobs`` (the query function returning
its DataFrame, including any jobs it runs on the way: the map stages of
staged frames, bounded collects) and ``action_s``/``action_jobs`` (the
noop write). Jobs are counted per phase through its own Spark job group.
``ckpt_mb`` is the size of the session's checkpoint directory after the
action: the files ``staging.stage_unbounded`` wrote during that rep.
Warm-up: one untimed, unrecorded rep of each named query right before
its timed reps, so no timed rep pays the JVM's first code generation
for that query's expressions. Before every rep, outside its timer, the
``_probe`` memo and the session's cached relations are cleared (as
``bench.py`` does), so each rep pays for its own probes and trained
artifacts; then the previous rep's frame is dropped and the Python and
JVM garbage collectors run until the ContextCleaner has deleted its
checkpoint files (at most 120 s), so no rep counts an earlier rep's.
"""

from __future__ import annotations

import gc
import hashlib
import io
import json
import os
import sys
import time
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from audit_plans import masked_plan  # noqa: E402
from pytrousse_spark.operators import _probe  # noqa: E402
from pytrousse_spark.session import get_spark  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402


def _phase(spark, group: str, fn):
    """Run ``fn`` under its own job group; return its result, wall and
    the number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        t0 = time.perf_counter()
        out = fn()
        wall = time.perf_counter() - t0
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setJobDescription(None)
    return out, wall, len(sc.statusTracker().getJobIdsForGroup(group))


def _checkpoint_mb(spark) -> float:
    """Megabytes under the session's checkpoint directory (0 if unset)."""
    ckpt = spark.sparkContext.getCheckpointDir()
    if ckpt is None:
        return 0.0
    root = ckpt[len("file:"):] if ckpt.startswith("file:") else ckpt
    size = sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(root)
        for f in files
    )
    return round(size / 2**20, 3)


def _drain_checkpoints(spark) -> None:
    """Collect garbage on the driver until the ContextCleaner has deleted
    the checkpoint files of every unreferenced frame (at most 120 s)."""
    deadline = time.monotonic() + 120
    while _checkpoint_mb(spark) > 0 and time.monotonic() < deadline:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.25)


def rows_digest(df) -> str:
    """Schema, row count and SHA-256 of the sorted row reprs of ``df``."""
    rows = sorted(repr(tuple(r)) for r in df.collect())
    digest = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return f"{df.schema.simpleString()}\nrows {len(rows)}\nsha256 {digest}\n"


def main() -> None:
    args = [a for a in sys.argv[1:]]
    reps = 3
    plans_dir = None
    rows_dir = None
    suffix = "before"
    names = []
    i = 0
    while i < len(args):
        a = args[i]
        if a == "--reps":
            reps = int(args[i + 1]); i += 2
        elif a == "--plans":
            plans_dir = args[i + 1]; i += 2
        elif a == "--rows":
            rows_dir = args[i + 1]; i += 2
        elif a == "--suffix":
            suffix = args[i + 1]; i += 2
        else:
            names.append(a); i += 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="pytrousse-measure")
    spark.sparkContext.setLogLevel("ERROR")
    qs = {**entrymod.queries(), **entrymod.bench_extras()}
    names = names or list(entrymod.queries())

    results = {}
    for name in names:
        fn = qs[name]
        df = fn(spark, sf_dir) if plans_dir or rows_dir else None
        if plans_dir:
            os.makedirs(plans_dir, exist_ok=True)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain("formatted")
            with open(
                os.path.join(plans_dir, f"{name}_{suffix}.txt"), "w"
            ) as f:
                f.write(masked_plan(buf.getvalue()))
        if rows_dir:
            os.makedirs(rows_dir, exist_ok=True)
            with open(os.path.join(rows_dir, f"{name}.txt"), "w") as f:
                f.write(rows_digest(df))
        if not reps:
            continue
        walls = []
        ledger: dict[str, list] = {
            "build_s": [], "build_jobs": [], "action_s": [], "action_jobs": [],
            "ckpt_mb": [],
        }
        for rep in ("warm", *range(reps)):
            _probe.clear()
            spark.catalog.clearCache()
            df = None
            _drain_checkpoints(spark)
            df, build_s, build_jobs = _phase(
                spark, f"measure:{name}:{rep}:build", lambda: fn(spark, sf_dir)
            )
            _, action_s, action_jobs = _phase(
                spark,
                f"measure:{name}:{rep}:action",
                lambda: df.write.format("noop").mode("overwrite").save(),
            )
            if rep == "warm":
                continue
            walls.append(round(build_s + action_s, 3))
            ledger["build_s"].append(round(build_s, 3))
            ledger["build_jobs"].append(build_jobs)
            ledger["action_s"].append(round(action_s, 3))
            ledger["action_jobs"].append(action_jobs)
            ledger["ckpt_mb"].append(_checkpoint_mb(spark))
        results[name] = walls
        print(json.dumps({"query": name, "walls": walls, **ledger}), flush=True)
    print(json.dumps({"all": results}))


if __name__ == "__main__":
    main()
