"""Structured Streaming over the events table (beyond-reference; SURVEY.md
§2.11 notes the reference has no streaming at all).

Batch-first design: every streaming aggregation here has a batch twin used by
the correctness gate; the streaming path runs the same logical plan with a
watermark, verified in tests via the ``availableNow`` trigger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.rounding import round_half_away, round_to


def _events_schema(ts_type: T.DataType) -> T.StructType:
    return T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", ts_type),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )


def read_events_stream(spark: SparkSession, path_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet files.

    Mirrors the batch reader's timestamp normalization (io.read_parquet_df):
    TIMESTAMP(NANOS) files arrive as long (session sets ``nanosAsLong``) and
    are truncated to micros; TIMESTAMP(MICROS)-without-UTC files arrive as
    TIMESTAMP_NTZ and are cast (wall-clock identity, sessions pinned UTC).
    """
    from ..io import _nanos_timestamp_cols

    nanos = "ts" in _nanos_timestamp_cols(path_dir)
    ts_type = T.LongType() if nanos else T.TimestampNTZType()
    raw = (
        spark.readStream.schema(_events_schema(ts_type))
        .option("maxFilesPerTrigger", 1)
        .parquet(path_dir)
    )
    if nanos:
        return raw.withColumn(
            "ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS BIGINT))")
        )
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def windowed_event_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + value sums per event_type with late-data
    handling via watermark (streaming) — works identically on a batch frame
    (no watermark applied there).
    """
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window_duration).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            round_to(F.sum("value"), 4).alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sessionize(
    events: DataFrame, gap: str = "30 minutes"
) -> DataFrame:
    """Session-window aggregation per user (streaming-native via
    ``session_window``; same call works in batch)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", gap)
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame,
    query_name: str,
    timeout_sec: int = 120,
    output_mode: str = "complete",
) -> None:
    """Drain a stream into an in-memory table with availableNow (test/verify
    harness; production would write a real sink). ``output_mode`` must match
    the plan ("complete" for aggregations, "update" for stateful maps)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(query_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_sec)


def dedup_events_stream(
    events: DataFrame,
    key_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup on ``key_cols`` — the ingestion-time guard an
    LLM-data pipeline puts in front of every sink.

    Streaming: ``dropDuplicatesWithinWatermark`` after a watermark on ``ts``,
    so dedup state EXPIRES with the watermark instead of growing without
    bound (the plain ``dropDuplicates`` keeps every key forever — a
    scale-killer on an unbounded stream). Duplicates arriving within the
    watermark horizon are suppressed; older re-arrivals are by contract
    late data. Batch twin: plain ``dropDuplicates`` (exact).
    """
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            list(key_cols)
        )
    return events.dropDuplicates(list(key_cols))


def enrich_events_stream(events: DataFrame, user_dim: DataFrame) -> DataFrame:
    """Stream-static enrichment: join each micro-batch against a static
    dimension (user attributes), then aggregate per enrichment key.

    The static side re-resolves per micro-batch and broadcasts (standard
    stream-static join — no state, no watermark needed for inner joins);
    at scale the dim is the small side by construction, so the stream
    never shuffles for the join itself, only for the aggregation. Works
    identically on a batch frame (the oracle-checked twin).
    """
    joined = events.join(F.broadcast(user_dim), "user_id")
    return joined.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        round_to(F.sum("value"), 4).alias("sum_value"),
    )


def rollup_events_stream(
    events: DataFrame,
    keys: list[str],
    value_col: str,
    partials_path: str,
    max_files_per_trigger: int = 1,
) -> None:
    """Streaming maintenance of a standing aggregate: each micro-batch
    reduces to MERGEABLE partials (operators/incremental.py) appended to
    a partials store; readers get the current rollup by merging —
    ``merge(partials) == partial(all data so far)`` bit-exactly, because
    sums ride integer micro-units (the q115 law, now held incrementally).

    This is the streaming form of incremental rollup maintenance: no
    micro-batch ever re-reads history, the store grows by groups-per-batch
    rows, and a periodic :func:`~pytrousse_spark.io.compact_parquet` +
    merge rewrite keeps it bounded. foreachBatch is the documented Spark
    pattern for sinks with merge semantics.
    """
    from ..operators.incremental import partial_rollup

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            partial_rollup(batch_df, keys, value_col)
            .withColumn("__batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(partials_path)
        )

    q = (
        events.writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", partials_path + "__ckpt")
        .start()
    )
    q.awaitTermination(120)


def view_purchase_stream_join(
    views: DataFrame,
    purchases: DataFrame,
    max_gap_minutes: int = 30,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: each view pairs with every purchase
    by the same user within ``max_gap_minutes`` AFTER it — the
    conversion-path join, streaming edition of the q60 interval join.

    Streaming semantics: BOTH sides carry a watermark and the join
    condition bounds event time on both ends, so Spark can size the join
    state to the watermark+gap horizon and expire it (an unbounded
    stream-stream join without the time bound accumulates both sides
    forever — the scale-killer Structured Streaming refuses outright for
    outer joins and silently pays for inner ones). Batch frames take the
    IDENTICAL join expression — the oracle-checked twin (q143).
    """
    v = views.select(
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        round_to(F.col("value"), 4).alias("p_val"),
    )
    if v.isStreaming:
        v = v.withWatermark("v_ts", watermark)
    if p.isStreaming:
        p = p.withWatermark("p_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (
            F.col("p_ts")
            <= F.col("v_ts") + F.expr(f"INTERVAL {max_gap_minutes} MINUTES")
        )
    )
    # gap floors the EXACT microsecond-precision difference — seconds
    # since epoch in µs fit a double exactly (< 2^53), so both engines
    # subtract the same doubles; unix_timestamp() would truncate each
    # operand FIRST and drift ±1s vs the oracle's epoch() difference
    gap = F.floor(
        F.col("p_ts").cast("double") - F.col("v_ts").cast("double")
    ).cast("bigint")
    return v.join(p, cond, "inner").select(
        "user_id",
        "v_ts",
        "p_ts",
        gap.alias("gap_sec"),
        "p_val",
    )


def cusum_events_stream(
    events: DataFrame,
    partials_path: str,
    group_cols: list[str] | None = None,
    unit: str = "day",
) -> None:
    """Streaming maintenance of the CUSUM drift monitor's state: each
    micro-batch reduces to MERGEABLE (group, bucket, n, micro-sum)
    partials (operators/timeseries.cusum_bucket_partials) appended to a
    partials store — order-independent, so late or out-of-order events
    just land in their bucket's partial; no watermark-finalization race.
    The monitor readout (:func:`cusum_from_partials`) merges the store
    and runs the reflected walk over the calendar-bounded bucket grid —
    bit-equal to the batch operator over the same events (pinned in
    tests/test_streaming.py). The same maintenance discipline as
    :func:`rollup_events_stream`."""
    from ..operators.timeseries import cusum_bucket_partials

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            cusum_bucket_partials(
                batch_df, "ts", "value", unit, group_cols
            )
            .withColumn("__batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(partials_path)
        )

    q = (
        events.writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", partials_path + "__ckpt")
        .start()
    )
    q.awaitTermination(120)


def cusum_from_partials(
    spark,
    partials_path: str,
    group_cols: list[str] | None = None,
    k: float = 0.5,
    h: float = 5.0,
) -> DataFrame:
    """CUSUM readout over the maintained partials store: merge the
    per-batch (group, bucket) partials by summing (n, __sm) — exact
    integer merge — then the batch operator's reflected walk."""
    from ..operators.timeseries import _cusum_from_buckets

    gcols = list(group_cols or [])
    merged = (
        spark.read.parquet(partials_path)
        .groupBy(*gcols, "bucket")
        .agg(
            F.sum("n").cast("bigint").alias("n"),
            F.sum("__sm").cast("bigint").alias("__sm"),
        )
    )
    return _cusum_from_buckets(
        merged,
        gcols,
        int(round_half_away(k * 1_000_000)),
        int(round_half_away(h * 1_000_000)),
    )


def ohlc_events_stream(
    events: DataFrame,
    key_col: str,
    value_col: str,
    partials_path: str,
    interval: str = "1 day",
) -> None:
    """Streaming maintenance of OHLC/VWAP bars (q225's batch operator):
    each micro-batch reduces to MERGEABLE per-(key, bucket) partials —
    open/close ride arg-min/max of the composed (ts, order) key, so
    out-of-order delivery cannot corrupt them — appended to a partials
    store; :func:`ohlc_from_partials` merges to bars bit-equal to the
    batch operator (pinned in tests/test_streaming.py). Same
    maintenance discipline as :func:`rollup_events_stream` /
    :func:`cusum_events_stream`."""
    from ..operators.timeseries import ohlc_bucket_partials

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            ohlc_bucket_partials(
                batch_df, key_col, "ts", value_col, "event_id", interval
            )
            .withColumn("__batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(partials_path)
        )

    q = (
        events.writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", partials_path + "__ckpt")
        .start()
    )
    q.awaitTermination(120)


def ohlc_from_partials(spark, partials_path: str) -> DataFrame:
    """Bars readout over the maintained partials store — merge then
    the batch operator's output contract."""
    from ..io import read_parquet_df
    from ..operators.timeseries import ohlc_merge_partials

    return ohlc_merge_partials(
        read_parquet_df(spark, partials_path).drop("__batch")
    )


def unicode_census_stream(
    docs: DataFrame,
    group_col: str,
    text_col: str,
    partials_path: str,
) -> None:
    """Streaming maintenance of the Unicode hygiene census (q254's
    batch operator): each micro-batch reduces to the six MERGEABLE
    per-group BIGINT counters (operators/quality.
    unicode_census_partials) appended to a partials store —
    order-independent pure sums, so late/duplicate-batch delivery
    cannot corrupt anything except by double-append (the same
    at-least-once contract as :func:`rollup_events_stream`);
    :func:`unicode_census_from_partials` merges to a readout
    bit-equal to the batch census (pinned in tests)."""
    from ..operators.quality import unicode_census_partials

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        (
            unicode_census_partials(batch_df, group_col, text_col)
            .withColumn("__batch", F.lit(batch_id))
            .write.mode("append")
            .parquet(partials_path)
        )

    q = (
        docs.writeStream.foreachBatch(_sink)
        .trigger(availableNow=True)
        .option("checkpointLocation", partials_path + "__ckpt")
        .start()
    )
    q.awaitTermination(120)


def unicode_census_from_partials(spark, partials_path: str) -> DataFrame:
    """Census readout over the maintained partials store — merge then
    the batch operator's output contract."""
    from ..io import read_parquet_df
    from ..operators.quality import unicode_census_merge

    return unicode_census_merge(
        read_parquet_df(spark, partials_path).drop("__batch")
    )
