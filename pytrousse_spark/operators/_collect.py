"""Regions of driver code that plan without AQE's per-exchange
re-planning, where the plans' shapes make adaptive execution useless.

A region is allowed only when every exchange it plans per call or per
iteration has a reduce side keyed by nodes, groups or a constant: its
size is fixed by the output, not by the input, so AQE has no join to
re-strategize, no partition to coalesce and no skewed reduce partition
to split. The argument is about the output and reduce-side shape, which
does not change with input size, so it is scale-neutral, not a
local-mode tune. Two users:

- **Bounded collects** (:func:`bounded_first`, :func:`bounded_collect`):
  a keyless aggregate's single row, a k-row argmax/limit, a k·dim
  centroid table. AQE still splits such a query into one job per
  exchange with a re-optimization pause between them. Measured on the
  logreg gradient aggregate shape (32-partition checkpointed frame,
  local[32]): 295 ms/iteration with AQE on vs 179 ms with it off; the
  grouped k-means update agg reads 458 vs 376 ms. A 20-iteration
  trainer pays that delta twenty times.
- **Loop regions** (``graph.pagerank``, ``graph.hits``): the loop is
  built, and its frames staged, inside :func:`_no_aqe`; the caller's
  action runs outside it. A frame staged with AQE off keeps its
  ``hashpartitioning``, where under AQE it reports none, so every
  iteration joins node-keyed state onto edges that were partitioned
  once and stay put, and its one exchange is the node-keyed aggregate.
  A lazy stage with AQE off runs nothing, so building the loop runs no
  job. The only edge-sized exchanges, the one-time ``repartition(N,
  key)`` of the edges, are ones AQE would neither coalesce nor split
  either: it leaves a repartition to a given count as it is. The
  caller's edge plan is planned in the region too; a caller that wants
  AQE to pick that plan's joins stages it first, as q117 does.

The caller's AQE value is restored in a ``finally``. Concurrent-driver
users planning queries in the window would lose AQE for those plans,
which is why regions are reserved for the sequential training, readout
and graph loops.
"""

from __future__ import annotations

import threading
from contextlib import contextmanager
from typing import Any, Iterator

from pyspark.sql import DataFrame, Row


_AQE_KEY = "spark.sql.adaptive.enabled"
# The AQE toggle is a session-global conf, so two interleaved regions
# could restore each other's "false" and leave AQE off for the rest of
# the session. The lock serializes the flip/restore window. It is
# reentrant because a loop region calls bounded_first (HITS reads its
# max scalar inside the loop); the inner exit restores the outer
# region's "false". A concurrent planner NOT using this helper still
# plans without AQE during the window — callers run these loops
# sequentially on the driver by design (module docstring).
_AQE_LOCK = threading.RLock()


@contextmanager
def _no_aqe(df: DataFrame) -> Iterator[None]:
    spark = df.sparkSession
    with _AQE_LOCK:
        try:
            prev = spark.conf.get(_AQE_KEY)
        except Exception:
            prev = "true"
        spark.conf.set(_AQE_KEY, "false")
        try:
            yield
        finally:
            spark.conf.set(_AQE_KEY, prev)


def bounded_first(df: DataFrame) -> Row | None:
    """``df.first()`` for a keyless-aggregate (single-row) plan."""
    with _no_aqe(df):
        return df.first()


def bounded_collect(df: DataFrame) -> list[Any]:
    """``df.collect()`` for a constant-bounded (k-row) result."""
    with _no_aqe(df):
        return df.collect()
