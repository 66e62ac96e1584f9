"""Online per-user event-path trigrams — last-two-events state.

The ONLINE counterpart of ``analytics.event_path_trigrams``: a
per-user ``applyInPandasWithState`` operator whose state is the last
TWO event types seen for the key (two strings — the minimal
higher-order-Markov sessionization state, between the interarrival
family's one long and the burst family's in-horizon multiset),
emitting one (user_id, t1, t2, t3) row the moment each third event of
a path arrives.

Exactness contract (the gate bar): the emitted trigram multiset must
equal the batch double-``lead`` window's exactly, INCLUDING paths that
straddle micro-batch boundaries (the state carries them across).
Order obligations (the streaming/burst.py discipline):

1. ACROSS batches events arrive in nondecreasing time order — the
   seq-source replay splits on value ranges of the rebased
   microsecond column, so equal timestamps never straddle batches.
2. WITHIN a batch each key's rows sort by (us, event_id) before the
   fold — the batch window's total tie order.

Reference analog: the K5 ordered apply loop (kvraft/server.go:166-214)
— per-key sequential state, fourth domain (KV replay, burst windows,
gap extraction, now path mining).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from distributed_computing_spark.functions.frames import frame_maker


TRI_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t1", StringType()),
        StructField("t2", StringType()),
        StructField("t3", StringType()),
    ]
)

_STATE_SCHEMA = StructType(
    [StructField("p1", StringType()), StructField("p2", StringType())]
)


def trigram_stream(events: DataFrame) -> DataFrame:
    """One output row per completed (t1, t2, t3) path within each
    user's (us, event_id)-ordered event stream. Input columns:
    user_id, event_type, us (epoch microseconds), event_id. State per
    key is two strings — bounded by the key domain for an unbounded
    stream."""
    build = frame_maker(TRI_SCHEMA)

    def fold(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        p1, p2 = state.get if state.exists else (None, None)
        pdf = pd.concat(list(pdfs)).sort_values(["us", "event_id"])
        o1: list[str] = []
        o2: list[str] = []
        o3: list[str] = []
        for t in pdf["event_type"].astype(str):
            if p1 is not None and p2 is not None:
                o1.append(p1)
                o2.append(p2)
                o3.append(t)
            p1, p2 = p2, t
        state.update((p1, p2))
        if o1:
            yield build([int(key[0])] * len(o1), o1, o2, o3)

    return events.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=TRI_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
