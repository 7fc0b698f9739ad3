"""Sources and sinks (SURVEY.md §2.1, S1-S6).

Replaces the reference's ``shelve`` persistence (dataset.py:668-704, 756-807)
with Parquet + a JSON sidecar carrying roles, derived columns and the full
operation history — portable and distributed-write friendly.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dataset import Dataset
from .exceptions import DatasetSidecarError
from .operations import OperationsList

SIDECAR_NAME = "_pytrousse_sidecar.json"


# ---- S1/S2: sources ---------------------------------------------------------
def read_csv(
    spark: SparkSession,
    path: str,
    schema: T.StructType | None = None,
    metadata_cols: tuple[str, ...] = (),
    header: bool = True,
    infer_schema: bool = False,
    options: dict[str, str] | None = None,
) -> Dataset:
    """CSV scan (reference ``get_df_from_csv``, dataset.py:28-49).

    Unlike the reference we raise on a missing path instead of returning
    None — silent None propagates badly through a lazy pipeline.

    Scale note: ``infer_schema`` forces an extra pass over the file; at 100 TB
    pass an explicit ``schema``. By default everything is read as strings
    (pandas-``object``-like) and the profiler decides what is numeric,
    mirroring the reference's value-inspected typing (dataset.py:56-101).
    ``options`` passes extra DataFrameReader options through (e.g.
    ``multiLine``/``escape`` for quoted embedded newlines, ``mode`` for
    corrupt-line policy).
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", str(infer_schema).lower())
    for key, val in (options or {}).items():
        reader = reader.option(key, val)
    return Dataset(reader.csv(path), metadata_cols=frozenset(metadata_cols))


def _nanos_timestamp_cols(path: str) -> list[str]:
    """Columns stored as parquet TIMESTAMP(NANOS), which Spark reads as long
    (``spark.sql.legacy.parquet.nanosAsLong``). Footer-only check via pyarrow."""
    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            inner = [p for p in os.listdir(path) if p.endswith(".parquet")]
            if not inner:
                return []
            target = os.path.join(path, inner[0])
        schema = pq.read_schema(target)
        return [f.name for f in schema if str(f.type) == "timestamp[ns]"]
    except Exception:
        return []


def read_parquet_df(spark: SparkSession, path: str) -> DataFrame:
    """Parquet scan with TIMESTAMP(NANOS) columns restored to TimestampType.

    Nanos→micros truncates; sub-microsecond precision is not representable in
    Spark SQL at all, and the conversion keeps oracle (DuckDB) comparisons on
    instants rather than raw nano longs.
    """
    nanos_cols = _nanos_timestamp_cols(path)
    if nanos_cols:
        # runtime-settable SQL conf; required when the caller's session was
        # not built by pytrousse_spark.session.get_spark (e.g. the driver's)
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in nanos_cols:
        # guard on the dtype actually read: Spark's own parquet writer can
        # store TIMESTAMP(NANOS) metadata (footer says timestamp[ns]) for
        # columns it still reads back as TimestampType — only raw-long
        # columns need the nanos->micros restore
        if df.schema[c].dataType.typeName() != "long":
            continue
        df = df.withColumn(c, F.expr(f"timestamp_micros(CAST(`{c}` DIV 1000 AS BIGINT))"))
    # Parquet timestamps written without isAdjustedToUTC surface as
    # TIMESTAMP_NTZ; normalize to TimestampType so downstream epoch math
    # (unix_micros) resolves and results serialize exactly like the oracle's
    # naive TIMESTAMP. Sessions are pinned to UTC, so the cast is a
    # wall-clock identity.
    ntz_cols = [f.name for f in df.schema.fields if f.dataType.typeName() == "timestamp_ntz"]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def rebalance_undersplit(df: DataFrame) -> DataFrame:
    """Spread an under-split input across the cluster before heavy per-row
    work (signatures, repair cascades, chunking).

    Parquet only splits at row-group boundaries, so a small single-row-group
    file yields ONE partition and serializes every downstream expression on
    one core. This helper round-robins such inputs to ``defaultParallelism``;
    it is a NO-OP whenever the input already has enough splits (any real
    cluster-scale table), so callers on the 100 TB path pay nothing.
    Measured trade: a blanket rebalance at read time slowed the scan-light
    majority of the query battery by the cost of the extra exchange, so it
    is opt-in where compute-per-row justifies the shuffle. Predicate
    pushdown and pruning traverse Repartition nodes.
    """
    if df.isStreaming:
        # partition introspection (df.rdd) is illegal on a stream, and
        # micro-batch sizing is the source's job (maxFilesPerTrigger etc.)
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def read_parquet(
    spark: SparkSession, path: str, metadata_cols: tuple[str, ...] = ()
) -> Dataset:
    return Dataset(read_parquet_df(spark, path), metadata_cols=frozenset(metadata_cols))


def from_df(df: DataFrame, metadata_cols: tuple[str, ...] = ()) -> Dataset:
    return Dataset(df, metadata_cols=frozenset(metadata_cols))


def read_tables(spark: SparkSession, sf_dir: str, names: tuple[str, ...]) -> dict[str, DataFrame]:
    """Load the driver's parquet tables (TESTDATA.md)."""
    return {
        n: read_parquet_df(spark, os.path.join(sf_dir, f"{n}.parquet")) for n in names
    }


# ---- S3/S4: dataset persistence --------------------------------------------
def write_dataset(dataset: Dataset, path: str, mode: str = "error") -> None:
    """Parquet + JSON sidecar (replaces shelve sink, dataset.py:668-704).

    ``mode="error"`` mirrors the reference's overwrite=False default
    (dataset.py:692-698).
    """
    dataset.df.write.mode(mode).parquet(path)
    sidecar = {
        "format_version": 1,
        "metadata_cols": sorted(dataset.metadata_cols),
        "feature_cols": sorted(dataset._feature_cols) if dataset._feature_cols is not None else None,
        "derived_columns": sorted(dataset.derived_columns),
        "history": json.loads(dataset.history.to_json()),
    }
    with open(os.path.join(path, SIDECAR_NAME), "w") as fh:
        json.dump(sidecar, fh, indent=1)


def read_dataset(spark: SparkSession, path: str) -> Dataset:
    """Read Parquet + sidecar back (replaces shelve source, dataset.py:756-807)."""
    sidecar_path = os.path.join(path, SIDECAR_NAME)
    if not os.path.exists(sidecar_path):
        raise DatasetSidecarError(f"No {SIDECAR_NAME} found in {path}")
    try:
        with open(sidecar_path) as fh:
            sidecar = json.load(fh)
    except (OSError, json.JSONDecodeError) as exc:
        raise DatasetSidecarError(f"Invalid sidecar at {sidecar_path}: {exc}") from exc
    if sidecar.get("format_version") != 1:
        raise DatasetSidecarError(
            f"Unsupported sidecar version {sidecar.get('format_version')!r}"
        )
    df = spark.read.parquet(path)
    feats = sidecar.get("feature_cols")
    return Dataset(
        df,
        metadata_cols=frozenset(sidecar.get("metadata_cols", ())),
        feature_cols=frozenset(feats) if feats is not None else None,
        derived_columns=frozenset(sidecar.get("derived_columns", ())),
        history=OperationsList.from_json(json.dumps(sidecar.get("history", []))),
    )


# ---- S5: CSV sink -----------------------------------------------------------
def write_csv(df: DataFrame, path: str, mode: str = "error") -> None:
    """CSV sink (anonymize_database.py:197-204)."""
    df.write.mode(mode).option("header", "true").csv(path)


# ---- JSONL source/sink (beyond-reference: the LLM-corpus interchange format)
def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str | None = None,
    metadata_cols: tuple[str, ...] = (),
) -> Dataset:
    """JSON-lines scan — the de-facto interchange format of LLM training
    corpora (one document object per line).

    Scale notes: without ``schema`` Spark samples the files to infer one (an
    extra pass — always pass a schema at 100 TB); with a schema the scan is
    single-pass and splittable per file. Corrupt lines land in the standard
    ``_corrupt_record`` column under the default PERMISSIVE mode rather than
    failing the job, so a bad crawl shard cannot kill a whole ingest.
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return Dataset(reader.json(path), metadata_cols=frozenset(metadata_cols))


def write_jsonl(df: DataFrame, path: str, mode: str = "error") -> None:
    """JSON-lines sink (one object per line, one file per partition —
    writer parallelism is the partition count, as for every other sink)."""
    df.write.mode(mode).json(path)


def read_orc(
    spark: SparkSession, path: str, metadata_cols: tuple[str, ...] = ()
) -> Dataset:
    """ORC scan (built-in vectorized reader). Same pushdown properties as
    parquet: predicate pushdown to stripe/row-group level, column pruning,
    and splittable stripes — a drop-in columnar alternative where the lake
    standardized on ORC."""
    return Dataset(spark.read.orc(path), metadata_cols=frozenset(metadata_cols))


def write_orc(df: DataFrame, path: str, mode: str = "error") -> None:
    """ORC sink (snappy by default, one file per partition)."""
    df.write.mode(mode).orc(path)


def read_text_corpus(
    spark: SparkSession,
    path: str,
    id_from_file: bool = True,
) -> DataFrame:
    """Raw-text ingestion: one row per line with its source file — the
    lowest-common-denominator crawl format.

    Returns (text, source_file[, doc_id]); ``doc_id`` is a deterministic
    128-bit content hash (md5 hex of file|text) so re-ingesting the same
    shards yields the same ids (no monotonically_increasing_id, whose
    values depend on partition layout), and birthday collisions stay
    negligible at crawl scale (~1e-19 at 1e10 lines, vs ~50% for a 60-bit
    id at ~1.3e9 lines). Identical lines within one file intentionally
    share an id — they are exact duplicates and collapse at the first
    dedup. Scale: line-splittable, no parsing pass; pair with
    functions.text gates + dedup for the cleaning pipeline.
    """
    from pyspark.sql import functions as F

    df = (
        spark.read.text(path)
        .withColumn("source_file", F.input_file_name())
        .withColumnRenamed("value", "text")
    )
    if id_from_file:
        df = df.withColumn(
            "doc_id",
            F.md5(F.concat_ws("|", F.col("source_file"), F.col("text"))),
        )
    return df


def compact_parquet(
    spark,
    path: str,
    target_bytes: int = 128 * 1024 * 1024,
    sort_cols: list[str] | None = None,
) -> dict:
    """Table maintenance: rewrite a parquet directory into files of
    ~``target_bytes`` — the small-files compaction every long-lived
    100 TB table needs (streaming sinks and incremental appends produce
    thousands of KB-sized files; scan planning, footer reads, and the
    driver's split enumeration all degrade linearly in file count).

    File count = ceil(on-disk bytes / target); the rewrite is ONE
    repartition (or a sorted repartitionByRange when ``sort_cols`` is
    given, which also restores clustering for min-max pruning — pair
    with relational.zorder_key for two-dimensional locality). Writes to
    a sibling temp dir then swaps via two renames. Returns
    {files_before, files_after, bytes_total} for the maintenance log.

    Swap semantics (round-5 ADVICE): the two os.rename calls are NOT one
    atomic operation — a reader between them sees no table for a
    microsecond-scale window, and a crash between them leaves the data
    intact but stranded at ``<path>__compact_<id>__old`` (recover by
    renaming it back). Both renames are same-directory (the temp dir is
    a sibling of ``path``), so cross-filesystem EXDEV cannot occur. On a
    real cluster this path maps to a HDFS/S3 committer or a table format
    (Delta/Iceberg) whose metadata swap IS atomic; the local swap is the
    single-node stand-in, and the old dir is removed only LAST, after
    the new dir is fully in place, so no crash point loses data.
    """
    import math
    import os
    import shutil
    import uuid

    files = [
        os.path.join(dp, f)
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    total = sum(os.path.getsize(f) for f in files)
    n = max(1, math.ceil(total / target_bytes))
    df = read_parquet_df(spark, path)
    out = df.repartitionByRange(n, *sort_cols) if sort_cols else df.repartition(n)
    tmp = f"{path.rstrip('/')}__compact_{uuid.uuid4().hex[:8]}"
    out.write.mode("overwrite").parquet(tmp)
    # swap only after the new dir is FULLY written; crash between the
    # renames strands (not loses) the old data — see docstring
    old = f"{tmp}__old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    after = [
        f
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    ]
    return {
        "files_before": len(files),
        "files_after": len(after),
        "bytes_total": total,
    }
