"""Online sliding-window burst alerting — bounded per-key state.

The ONLINE counterpart of the registry's batch RANGE-frame burst
family (``user_burst_rates`` / ``user_burst_alerts``): a per-user
``applyInPandasWithState`` operator that keeps ONLY the event
timestamps inside the trailing horizon (state evicts as time advances
— bounded by each user's peak in-horizon event count, unlike the
flush-pattern twin whose state is the whole (user, minute) series) and
emits an alert row the moment a user's trailing-window count reaches
the threshold.

Exactness contract (the gate bar): alerts must equal the batch RANGE
window ``count(*) OVER (PARTITION BY user ORDER BY t RANGE BETWEEN
horizon-1 PRECEDING AND CURRENT ROW)`` exactly. Two order obligations
make that hold:

1. ACROSS batches, events must arrive in nondecreasing ``t`` order —
   the seq-source replay (``stream_in_seq_batches`` on the epoch-
   second column) guarantees it, and equal timestamps never split
   across batches (the source splits on value ranges). A production
   deployment gets the same property from event-time ordering within
   a partitioned log topic, or tolerates approximation.
2. WITHIN a batch, all events sharing (user, t) are applied BEFORE
   any alert for ``t`` is evaluated — the batch RANGE frame counts
   ties ("peers") regardless of row order, so the state fn processes
   whole equal-``t`` groups, not single rows.

Reference analog: the K5 ordered apply loop (kvraft/server.go:166-214)
— same per-key sequential-state shape, new domain.
"""

from __future__ import annotations

import json
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from distributed_computing_spark.functions.frames import frame_maker


ALERT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("t", LongType()),
        StructField("n_events", LongType()),
    ]
)

# the in-horizon timestamp multiset rides as a JSON string (the
# kv_stream state discipline: scalar state fields, engine-portable)
_STATE_SCHEMA = StructType([StructField("recent", StringType())])


def burst_alert_stream(
    events: DataFrame, threshold: int = 3, horizon_s: int = 3600
) -> DataFrame:
    """Per-user online alerting over an (user_id, t) event stream.

    Emits one row per (user, t) where the trailing-``horizon_s``
    inclusive event count first reaches/exceeds ``threshold`` at that
    timestamp — identical to the batch RANGE-frame definition
    (ties counted in full; duplicates collapsed to one row)."""
    build = frame_maker(ALERT_SCHEMA)

    def alert(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        recent: list[int] = (
            json.loads(state.get[0]) if state.exists else []
        )
        out_t: list[int] = []
        out_n: list[int] = []
        ts = pd.concat(list(pdfs))["t"].astype("int64").sort_values()
        # whole equal-t groups: peers count toward each other's window
        for t, grp in ts.groupby(ts):
            t = int(t)
            recent.extend([t] * len(grp))
            lo = t - horizon_s + 1
            # evict outside the horizon (state stays sorted: input is
            # globally time-ordered across batches by contract)
            i = 0
            while i < len(recent) and recent[i] < lo:
                i += 1
            if i:
                recent = recent[i:]
            if len(recent) >= threshold:
                out_t.append(t)
                out_n.append(len(recent))
        state.update((json.dumps(recent),))
        if out_t:
            yield build([int(key[0])] * len(out_t), out_t, out_n)

    return events.groupBy("user_id").applyInPandasWithState(
        alert,
        outputStructType=ALERT_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
