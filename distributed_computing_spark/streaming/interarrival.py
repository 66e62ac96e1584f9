"""Online per-key interarrival gaps — constant per-key state.

The ONLINE counterpart of the registry's batch lag-window gap pass
(``user_interarrival_quantiles``): a per-(user, type)
``applyInPandasWithState`` operator whose state is ONE ``last_us``
long per key — the minimal sessionization state, unlike the burst
family's in-horizon multiset — emitting a gap row the moment each
next event arrives. (No event_id needs to persist: tied-timestamp
gaps are 0 regardless of tie order, and ties never straddle batches
per obligation 1 below.)

Exactness contract (the gate bar): emitted gaps must equal the batch
``lag(us) over (partition by user_id, event_type order by ts,
event_id)`` differences exactly. Order obligations (the
streaming/burst.py discipline):

1. ACROSS batches events arrive in nondecreasing time order — the
   seq-source replay splits on value ranges of the rebased
   microsecond column, so equal timestamps never straddle batches.
2. WITHIN a batch each key's rows are sorted by (us, event_id) before
   the fold — the batch window's total tie order.

Reference analog: the K5 ordered apply loop (kvraft/server.go:166-214)
— per-key sequential state, third domain (KV replay, burst windows,
now gap extraction).
"""

from __future__ import annotations

from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import LongType, StringType, StructField, StructType

from distributed_computing_spark.functions.frames import frame_maker


GAP_SCHEMA = StructType(
    [
        StructField("event_type", StringType()),
        StructField("gap_s", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("last_us", LongType())])


def gap_stream(events: DataFrame) -> DataFrame:
    """One output row per consecutive-event gap within each
    (user_id, event_type) stream: (event_type, gap_s) with
    ``gap_s = (us - prev_us) div 1e6`` — truncation of a non-negative
    difference, matching the batch operator and both engines.

    Input columns: user_id, event_type, us (epoch microseconds),
    event_id. State per key is ONE long — bounded by the key domain
    for an unbounded stream."""
    build = frame_maker(GAP_SCHEMA)

    def fold(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        last_us = state.get[0] if state.exists else None
        pdf = pd.concat(list(pdfs)).sort_values(["us", "event_id"])
        us = pdf["us"].astype("int64").tolist()
        gaps: list[int] = []
        for u in us:
            if last_us is not None:
                if u < last_us:
                    # Replay-order contract violation (obligation 1):
                    # a silent negative floor-divided gap would corrupt
                    # the quantiles — fail loudly instead (ADVICE r11).
                    raise ValueError(
                        "gap_stream: event for key "
                        f"{key!r} arrived at {u} us, before stored "
                        f"last_us={last_us} — the seq-source replay "
                        "must deliver nondecreasing time order"
                    )
                gaps.append((u - last_us) // 1_000_000)
            last_us = u
        state.update((int(last_us),))
        if gaps:
            yield build([str(key[1])] * len(gaps), gaps)

    return events.groupBy("user_id", "event_type").applyInPandasWithState(
        fold,
        outputStructType=GAP_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
