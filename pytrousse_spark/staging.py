"""The package's two ways to materialize an intermediate frame.

Operators that read one intermediate more than once (iterations,
self-joins, a scalar plus the rows it scales) stage it so its plan runs
once. Which helper applies depends on how the frame grows:

- :func:`stage` — bounded frames (vocab-, level-, group- or node-sized,
  or an iteration's state): a lazy ``localCheckpoint``.
- :func:`stage_unbounded` — frames that grow with the input
  (per-token, per-occurrence, per-residual rows): a recomputable,
  spill-safe persist.

This module imports nothing from the package, so every module,
``profiling`` included, can use it without an import cycle.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame


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
    (``rangejoin``). Nothing
    releases them while the returned frame can still be read; the
    ContextCleaner drops them once the frame is garbage-collected on the
    driver (see ``spark.cleaner.periodicGC.interval`` in
    :func:`pytrousse_spark.session.get_spark`).
    """
    return df.localCheckpoint(eager=False)


def stage_unbounded(df: DataFrame) -> DataFrame:
    """Stage a frame whose size SCALES WITH THE INPUT (per-token,
    per-occurrence, per-residual rows) as a spill-safe, RECOMPUTABLE
    ``persist(MEMORY_AND_DISK)``. Bounded frames use :func:`stage`.

    Both materialize once and serve every consumer from storage, but a
    localCheckpoint block is non-recomputable — losing an executor (or
    evicting under pressure) fails the job, and the pinned working set
    grows with the corpus. A persist keeps the lineage: blocks spill,
    evict and recompute, so the job survives a lost executor and memory
    pressure stays bounded at 100 TB.

    Release is the caller's job. ``persist`` registers the plan with the
    session's CacheManager, which holds a strong reference to it, so the
    ContextCleaner never sees the blocks as unreachable (that GC-driven
    release applies only to :func:`stage` blocks): they stay stored —
    in memory, or on disk once evicted — until ``unpersist()`` on the
    returned frame or ``spark.catalog.clearCache()``. Most operators
    that stage through here do not hand the staged frame back, so a
    long-lived session that calls them accumulates their cached
    relations until it clears the cache.
    """
    return df.persist(StorageLevel.MEMORY_AND_DISK)
