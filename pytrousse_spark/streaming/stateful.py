"""Custom stateful streaming operator via ``applyInPandasWithState``.

Running per-user statistics over the events stream with explicit state:
cumulative event count, cumulative value sum, and a high-water mark. The
reference has no streaming at all (SURVEY.md §2.11); this is the
beyond-reference scale surface for incremental pipelines.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

from ..functions.rounding import round_half_away, round_to

STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)


def _update_user_state(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.exists:
        n, s, mx = state.get
    else:
        n, s, mx = 0, 0.0, float("-inf")
    for batch in batches:
        vals = batch["value"].dropna()
        n += len(batch)
        s += float(vals.sum())
        if len(vals):
            mx = max(mx, float(vals.max()))
    state.update((n, s, mx))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "sum_value": [round_half_away(s, 4)],
            "max_value": [mx if mx != float("-inf") else None],
        }
    )


def running_user_stats(events: DataFrame) -> DataFrame:
    """Stateful per-user running stats (streaming or batch-groupBy twin).

    Streaming: ``applyInPandasWithState`` keeps (count, sum, max) per user
    across micro-batches. On a batch frame the same semantics collapse to a
    plain aggregation — used by tests as the equivalence oracle.
    """
    if not events.isStreaming:
        from pyspark.sql import functions as F

        return events.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            round_to(F.sum("value"), 4).alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    return (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _update_user_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
