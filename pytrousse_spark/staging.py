"""The package's two ways to materialize an intermediate frame.

Operators that read one intermediate more than once (iterations,
self-joins, a scalar plus the rows it scales) stage it so its plan runs
once. Which helper applies depends on how the frame grows:

- :func:`stage` — bounded frames (vocab-, level-, group- or node-sized,
  or an iteration's state): a lazy ``localCheckpoint``, whose blocks
  live in the executors' block managers.
- :func:`stage_unbounded` — frames that grow with the input
  (per-token, per-occurrence, per-residual rows): an eager reliable
  ``checkpoint``, whose rows live in files under the checkpoint
  directory and so survive a lost executor.

Both truncate lineage and both share one lifecycle: nothing registers
with the session's CacheManager, and the ContextCleaner releases the
blocks or files once the returned frame is unreachable and the driver
has garbage-collected it. No caller releases anything by hand.

This module imports nothing from the package, so every module,
``profiling`` included, can use it without an import cycle.
"""

from __future__ import annotations

import os
import threading

from pyspark import SparkFiles
from pyspark.sql import DataFrame

_CHECKPOINT_DIR_LOCK = threading.Lock()


def stage(df: DataFrame) -> DataFrame:
    """Stage a bounded frame: ``df.localCheckpoint(eager=False)``.

    The returned frame reads the staged rows, so its plan (and every
    consumer's) starts at the checkpoint and lineage is truncated — the
    form iterative loops need. Measured on Spark 4.1.2, local mode:

    - With AQE on (the session default), staging runs the staged plan's
      shuffle map stages at once, as Spark finalizes the adaptive plan;
      the result stage runs inside the first consumer's job, which also
      stores the blocks. A narrow plan (no exchange) runs nothing here.
    - With AQE off, nothing runs until the first consumer's job.
    - An eager checkpoint produced the same rows at one extra job per
      staged frame, so there is no eager form.

    The blocks are not recomputable (losing an executor fails a later
    reader), which is why bounded frames stage here, plus frames whose
    values must not change on recompute, such as generated row ids
    (``rangejoin``), and one row-sized frame kept here on measurement:
    the causal estimators' feature frame (``cohort._propensity_frame``,
    q226/q246/q279). As a ``stage_unbounded`` it cost one more build job
    and was slower in 4, 5 and 5 of 5 alternating pairs
    (``tools/measure.py --reps 3`` at sf0.1, 4 cores; medians 3.72 →
    4.31, 3.99 → 4.76 and 3.77 → 4.42 s). Nothing
    releases them while the returned frame can still be read; the
    ContextCleaner drops them once the frame is garbage-collected on the
    driver (see ``spark.cleaner.periodicGC.interval`` in
    :func:`pytrousse_spark.session.get_spark`).
    """
    return df.localCheckpoint(eager=False)


def stage_unbounded(df: DataFrame) -> DataFrame:
    """Stage a frame whose size SCALES WITH THE INPUT (per-token,
    per-occurrence, per-residual rows): ``df.checkpoint(eager=True)``.
    Bounded frames use :func:`stage`.

    The call runs one job that computes the frame and writes it to the
    checkpoint directory (with AQE on, the plan's shuffle map stages run
    first as their own jobs). The returned frame scans those files, so
    every consumer reads them without recomputing the input and without
    a job of its own per read. The files survive a lost executor, and
    nothing is pinned in executor memory, so the working set does not
    grow with the corpus.

    Why eager: a lazy checkpoint is written after the first consumer's
    job by a second job that recomputes the frame, and every read in
    that first job recomputes it too. Measured with ``tools/measure.py``
    at sf0.1 on 4 cores (min of 3 reps) against the ``MEMORY_AND_DISK``
    persist this helper used to be, the lazy form made q44 slower
    (2.35 → 3.10 s) and q252 slower (2.06 → 2.70 s), where the eager
    form made both faster (2.84 → 2.37 s and 1.85 → 1.64 s).

    Release is GC-driven, as for :func:`stage`: with
    ``spark.cleaner.referenceTracking.cleanCheckpoints`` on (set by
    :func:`pytrousse_spark.session.get_spark`), the ContextCleaner
    deletes a frame's files once the driver has garbage-collected it.

    A session whose ``spark.checkpoint.dir`` is unset checkpoints under
    the driver's ``SparkFiles`` root, a temporary directory Spark deletes
    when the application stops, so no files outlive the process. A
    deployment that sets ``spark.checkpoint.dir`` keeps its value.
    """
    sc = df.sparkSession.sparkContext
    # the cleaner deletes files under the CURRENT dir, so it is set once
    with _CHECKPOINT_DIR_LOCK:
        if sc.getCheckpointDir() is None:
            sc.setCheckpointDir(os.path.join(SparkFiles.getRootDirectory(), "checkpoints"))
    return df.checkpoint(eager=True)
