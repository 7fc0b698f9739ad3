"""Streaming near-duplicate ALERTS: LSH band keys + per-band state.

The streaming face of the MinHash/LSH family (operators/dedup.py): as
documents stream in, each doc's band keys probe a per-band state holding
the first document ever seen in that band; a hit emits an alert row
(band, first_doc, dup_doc) — "this incoming doc is a near-dup CANDIDATE
of that earlier doc". Exactly the ingestion-time guard an LLM-data
pipeline wants in front of a training-corpus sink, with the same
verify-on-candidates discipline as the batch path (alerts are LSH
candidates; exact Jaccard verification happens downstream on the tiny
alert stream, not the corpus).

Scale shape: signatures are stateless per-row expressions (proved
stream-safe in tests); the only stateful exchange is keyed by band — state
per band is ONE long (the first doc id), so state size is bounded by the
number of distinct bands, not by corpus size. Batch twin = min-per-band +
anti-self join, behind the DuckDB oracle gate (q97).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..io import rebalance_undersplit
from ..operators.dedup import _lsh_bands, shingle_frame

BAND_STATE_SCHEMA = T.StructType([T.StructField("first_doc", T.LongType())])

ALERT_SCHEMA = T.StructType(
    [
        T.StructField("band", T.StringType()),
        T.StructField("first_doc", T.LongType()),
        T.StructField("dup_doc", T.LongType()),
    ]
)


def _update_band(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (band,) = key
    first = state.get[0] if state.exists else None
    alerts_first, alerts_dup = [], []
    ids: list[int] = []
    for batch in batches:
        ids.extend(int(x) for x in batch["doc"])
    for i in sorted(ids):
        if first is None:
            first = i
        elif i != first:
            lo, hi = (first, i) if first < i else (i, first)
            alerts_first.append(lo)
            alerts_dup.append(hi)
            first = lo
    state.update((first,))
    # most bands see no duplicate in a batch: constructing (and Arrow-
    # serializing) an EMPTY 3-column pandas frame per group dominated the
    # Python side of the stateful op at bench scale — yield only when
    # there is an alert to emit (guide §4: shrink the Python boundary)
    if alerts_first:
        yield pd.DataFrame(
            {"band": [band] * len(alerts_first), "first_doc": alerts_first,
             "dup_doc": alerts_dup}
        )


def near_dup_band_alerts(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """(band, first_doc, dup_doc) near-dup candidate alerts.

    Streaming: per-band ``applyInPandasWithState`` (state = one id per
    band). Batch: min-per-band + join — identical result when documents
    arrive in id order (the parity pinned in tests). With out-of-order
    arrival every non-first doc still alerts exactly once per shared band,
    but against the then-known first rather than the global min — alerts
    are candidates for downstream exact verification either way.
    """
    sh = shingle_frame(rebalance_undersplit(docs), text_col, id_col, 3)
    keyed = _lsh_bands(sh, id_col, num_perm, bands, "md5").select(
        F.col(id_col).alias("doc"), "band"
    )
    if docs.isStreaming:
        return keyed.groupBy("band").applyInPandasWithState(
            _update_band,
            outputStructType=ALERT_SCHEMA,
            stateStructType=BAND_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    firsts = keyed.groupBy("band").agg(F.min("doc").alias("first_doc"))
    return (
        keyed.join(firsts, "band")
        .where(F.col("doc") != F.col("first_doc"))
        .select("band", "first_doc", F.col("doc").alias("dup_doc"))
    )
