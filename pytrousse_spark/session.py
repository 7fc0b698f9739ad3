"""SparkSession bootstrap for pytrousse-spark.

Single place where the engine's Spark tuning lives so tests, bench and the
driver entry all agree. Designed for a real cluster (AQE, skew-join handling,
broadcast thresholds); tests run it on ``local[N]``.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _worker_pythonpath() -> str:
    """The package's parent directory followed by any
    ``spark.executorEnv.PYTHONPATH`` already configured (for example in
    ``spark-defaults.conf``), without duplicates."""
    prior = SparkConf().get("spark.executorEnv.PYTHONPATH", "")
    parts = [_PACKAGE_ROOT] + [p for p in prior.split(os.pathsep) if p]
    return os.pathsep.join(dict.fromkeys(parts))


def get_spark(
    app_name: str = "pytrousse-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    Defaults are chosen for scale-out behavior:

    - AQE on (runtime coalescing of shuffle partitions, skew-join splitting);
      at 100 TB the static ``shuffle.partitions`` is only an upper bound.
    - Arrow on, so the few pandas-UDF escape hatches batch via Arrow.
    - Session timezone pinned to UTC so results are reproducible and match
      external oracles (DuckDB) regardless of host timezone.
    - ``spark.cleaner.periodicGC.interval`` is 2min, which forces a
      periodic driver ``System.gc()``. That is the right trade for
      many-query batch drivers (it lets the cleaner release the blocks
      and checkpoint files of dead staged frames between queries — the
      r12 finding), but it DOES impose periodic GC pauses; a
      latency-sensitive caller can pass
      ``extra_conf={"spark.cleaner.periodicGC.interval": "30min"}`` to
      restore Spark's default.
    - ``spark.cleaner.referenceTracking.cleanCheckpoints`` is on, so the
      checkpoint files behind ``staging.stage_unbounded`` frames are
      deleted once the driver has garbage-collected the frames. Without
      ``spark.checkpoint.dir`` they are written under a temporary
      directory that Spark deletes at shutdown; on a cluster, set
      ``spark.checkpoint.dir`` to shared storage (HDFS, S3, a shared
      mount), as you ship the package with ``--py-files``.

    - ``spark.executorEnv.PYTHONPATH`` gains the directory that holds
      this package, merged with any value already configured, so Python
      workers (``mapInPandas``, pandas UDFs) can import it whatever the
      driver's working directory. That covers local mode and executors
      that share the driver's filesystem; on a cluster, ship the package
      with ``--py-files`` (or ``SparkContext.addPyFile``).

    Environment: ``SPARK_GRAFT_CPUS`` (local core count, default 32),
    ``SPARK_GRAFT_DRIVER_MEM`` (default 8g) and ``SPARK_GRAFT_NO_MASTER``
    (leave the master to ``spark-submit``). ``extra_conf`` is applied
    last and overrides every default above.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet pushdown/pruning are on by default; pin them anyway so a
        # misconfigured cluster profile cannot silently disable them.
        .config("spark.sql.parquet.filterPushdown", "true")
        # Read TIMESTAMP(NANOS) parquet columns as long (Spark has no nanos
        # type); io.read_parquet converts them back to timestamps.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Split even small files into >= cores partitions: a single small
        # parquet file otherwise yields ONE input split, serializing every
        # per-row expression (signatures, repair cascades) on one core. At
        # real scale inputs have plenty of splits, so a minimum is free;
        # AQE re-coalesces after shuffles either way.
        .config("spark.sql.files.minPartitionNum", cpus)
        # local mode starts faster with the driver host pinned.
        .config("spark.driver.host", "127.0.0.1")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # managed-table warehouse outside the repo (bucketed-table support)
        .config("spark.sql.warehouse.dir", "/tmp/pytrousse_warehouse")
        # Long-lived sessions (the bench runs ~330 queries in one JVM)
        # accumulate staged frames: the ContextCleaner releases their
        # blocks (staging.stage) and checkpoint files
        # (staging.stage_unbounded) only after a JVM GC proves them
        # unreachable, and the default periodic-GC interval (30min)
        # exceeds the whole session, so blocks pile up and squeeze
        # execution memory, and files pile up on disk. A shorter interval
        # lets the cleaner drain between queries; scale-neutral
        # (production drivers with many-query sessions want exactly this).
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.executorEnv.PYTHONPATH", _worker_pythonpath())
    )
    if master is not None:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    builder = builder.config(
        "spark.sql.shuffle.partitions", str(shuffle_partitions or int(cpus))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
