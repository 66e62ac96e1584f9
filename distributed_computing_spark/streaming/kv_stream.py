"""Streaming KV surface: the ops log consumed as a Structured Stream.

Maps the reference's apply loop (kvraft/server.go:166-214 — single
consumer applies committed ops in order, K5) onto two Spark-native
shapes:

1. ``foreach_batch_apply`` — micro-batch exactly-once apply: each batch
   is deduped against the persistent high-water table and folded into
   the persistent state table (parquet-backed MERGE analog). This is the
   production shape: all state lives in tables, nothing on the driver,
   and a batch is the unit of atomic install (the K5/P7 "apply once, in
   order" contract comes from Structured Streaming's serialized
   micro-batches + checkpointing). On the parquet backend one batch is
   8 Spark jobs. The high-water advances from the raw batch: per
   client, max(stored, max req_id over the batch) equals max(stored,
   max req_id over the ops actually applied), because every op the
   dedup drops sits at or below one of those two.

2. ``stateful_fold_stream`` — per-key ``applyInPandasWithState``: the
   custom-stateful-operator shape for when per-event latency matters.
   State per key = (value, applied_hw per client) — the same dedup+fold
   semantics, held in the Spark state store (RocksDB/HDFS-backed at
   scale), checkpointed like the reference's snapshots (K6 =
   raft.go:416-450 log compaction, for free).
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from distributed_computing_spark.functions.frames import frame_maker


OPS_SCHEMA = StructType(
    [
        StructField("seq", LongType()),
        StructField("client_id", LongType()),
        StructField("req_id", LongType()),
        StructField("op", StringType()),
        StructField("key", StringType()),
        StructField("value", StringType()),
    ]
)

STATE_SCHEMA = "key string, value string"
HW_SCHEMA = "client_id long, high_water long"


class KVTableStore:
    """KV state + per-client high-water tables behind the MERGE sink.

    The durable-state half of shape 1. ``apply_batch`` is the
    distributed merge: read state, apply the (deduped) batch delta,
    commit. The physical form is decided by ``sinks``: real
    ``MERGE INTO`` when the session has Delta (ACID under concurrent
    writers, matched-file-only rewrites), a generation of parquet tables
    installed by one rename otherwise (same all-or-nothing batch
    semantics, single writer). ``state_dir`` and ``hw_dir`` name the
    live tables.
    """

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root

    def _live(self) -> str:
        from distributed_computing_spark import sinks

        if sinks.delta_available(self.spark):
            return self.root
        return sinks.live_generation(self.root)

    @property
    def state_dir(self) -> str:
        return os.path.join(self._live(), "state")

    @property
    def hw_dir(self) -> str:
        return os.path.join(self._live(), "high_water")

    def state(self) -> DataFrame:
        from distributed_computing_spark import sinks

        return sinks.read_state(self.spark, self.state_dir, STATE_SCHEMA)

    def high_water(self) -> DataFrame:
        from distributed_computing_spark import sinks

        return sinks.read_state(self.spark, self.hw_dir, HW_SCHEMA)

    def apply_batch(self, batch: DataFrame) -> None:
        """Dedup the batch against persistent high-water, fold writes
        into state, advance high-water — the K4+K2+K3 batch merge.

        On the parquet backend each table is one SQL statement over the
        batch and the stored tables, written into the next generation;
        the generation goes live with one rename, so a failure anywhere
        leaves both tables at the previous batch. 6 Spark jobs: the
        state is a write over three shuffles (client window, key fold,
        stored state), the high-water a write over one. Both tables are
        read with their declared schema (no inference job) in the
        batch's own session: a ``foreachBatch`` frame belongs to the
        stream's cloned session, where the store's session's views do
        not resolve.
        """
        from distributed_computing_spark import sinks
        from distributed_computing_spark.operators.kv import dedup_sql, fold_sql

        spark = batch.sparkSession
        live = self._live()
        hw = sinks.read_state(spark, os.path.join(live, "high_water"), HW_SCHEMA)
        # The stored high-water enters each client's window as its first
        # row (NULL seq sorts first, NULL op is no write), so one window
        # drops ops at-or-below it (K4 across batches) and ops beaten by
        # an earlier req_id of the batch (K4 within the batch).
        ops = (
            "(SELECT CAST(NULL AS BIGINT) AS seq, client_id, high_water AS req_id, "
            "CAST(NULL AS STRING) AS op, CAST(NULL AS STRING) AS key, "
            "CAST(NULL AS STRING) AS value FROM {hw} "
            "UNION ALL SELECT seq, client_id, req_id, op, key, value FROM {batch})"
        )
        # the MERGE treats the stored value as a seq=-inf append base
        # unless a put in the batch (_lp non-null) resets it
        deduped = f"({dedup_sql(ops)})"
        folded = f"(SELECT key, value AS _delta, _lp FROM ({fold_sql(deduped)}))"
        # High-water from the RAW batch: max(stored, max req_id over the
        # batch) == max(stored, max req_id over the applied ops), per
        # client. An op the high-water filter dropped has req_id <=
        # stored; an op the in-batch dedup dropped has req_id <= an
        # earlier applied op of its client (the running max it lost to
        # is attained by an applied op). The parquet merge's GROUP BY
        # takes the max over the raw rows; a Delta MERGE needs one
        # source row per client.
        advances = "(SELECT client_id, req_id AS high_water FROM {batch})"
        if sinks.delta_available(spark):
            sinks.merge_kv_state(
                spark,
                self.state_dir,
                spark.sql(f"SELECT * FROM {folded}", hw=hw, batch=batch),
            )
            sinks.merge_high_water(
                spark,
                self.hw_dir,
                spark.sql(
                    "SELECT client_id, max(high_water) AS high_water "
                    f"FROM {advances} GROUP BY client_id",
                    batch=batch,
                ),
            )
            return
        state = sinks.read_state(spark, os.path.join(live, "state"), STATE_SCHEMA)
        sinks.commit_generation(
            self.root,
            {
                "state": spark.sql(
                    sinks.kv_state_merge_sql("{state}", folded),
                    state=state, hw=hw, batch=batch,
                ),
                "high_water": spark.sql(
                    sinks.high_water_merge_sql("{hw}", advances), hw=hw, batch=batch
                ),
            },
        )


def foreach_batch_apply(
    ops_stream: DataFrame,
    store: KVTableStore,
    checkpoint: str,
    trigger: dict[str, Any] | None = None,
):
    """Shape 1: attach the micro-batch apply loop to an ops stream.

    ``trigger`` defaults to bounded replay (``availableNow``) — the
    gate/test shape. Pass e.g. ``{"processingTime": "100 milliseconds"}``
    for the reference's live poll loop (shardkv/server.go:368-385): an
    unbounded query that keeps applying batches as new ops arrive.
    """

    def apply(batch: DataFrame, batch_id: int) -> None:
        store.apply_batch(batch)

    return (
        ops_stream.writeStream.foreachBatch(apply)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )


def dedup_within_watermark(
    ops_stream: DataFrame, time_col: str = "ts", delay: str = "365 days"
) -> DataFrame:
    """K4, streaming-NATIVE form: duplicate-request suppression via the
    built-in ``dropDuplicatesWithinWatermark`` state store — no custom
    stateful operator, bounded state (entries evict once older than the
    watermark delay).

    Semantics vs the reference's dedup table (kvraft/server.go:72-80):
    this drops exact (client_id, req_id) redeliveries — the at-least-
    once transport retry case — whereas the high-water variant
    (``dedup_stream``) also drops STALE req_ids. Both are K4 shapes; a
    redelivery storm is the common case the built-in covers with zero
    Python in the hot path.
    """
    return ops_stream.withWatermark(time_col, delay).dropDuplicatesWithinWatermark(
        ["client_id", "req_id"]
    )


def dedup_stream(ops_stream: DataFrame) -> DataFrame:
    """Shape 2a: per-CLIENT stateful high-water dedup (streaming K4).

    The reference's dedup is per client across ALL keys
    (kvraft/server.go:72-80), while the fold state is per key — two
    different groupings, so they are two chained stateful stages (the
    standard Spark pattern: compose via an intermediate sink/topic).
    This stage emits only the surviving ("effective") ops; state per
    client is just the high-water req_id.
    """
    state_schema = StructType([StructField("high_water", LongType())])

    def dedup(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        hw = state.get[0] if state.exists else -1
        for pdf in pdfs:
            pdf = pdf.sort_values("seq")
            keep = []
            for i, req in enumerate(pdf["req_id"]):
                if req > hw:
                    hw = int(req)
                    keep.append(i)
            if keep:
                yield pdf.iloc[keep]
        state.update((hw,))

    return ops_stream.groupBy("client_id").applyInPandasWithState(
        dedup,
        outputStructType=OPS_SCHEMA,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_fold_stream(effective_ops: DataFrame) -> DataFrame:
    """Shape 2b: per-KEY applyInPandasWithState ordered fold (K2+K3).

    Input contract: an already-deduped ("effective") ops stream — the
    output of ``dedup_stream`` replayed through an intermediate sink.
    State per key: (value, max applied seq); ops at-or-below the
    watermark seq are skipped, making redelivery idempotent. Output:
    one (key, value) row per key per batch — the streaming analog of
    the replayed state table.
    """
    out_schema = StructType(
        [StructField("key", StringType()), StructField("value", StringType())]
    )
    state_schema = StructType(
        [StructField("value", StringType()), StructField("max_seq", LongType())]
    )
    build = frame_maker(out_schema)

    def fold(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        value, max_seq = state.get if state.exists else ("", -1)
        rows = pd.concat(list(pdfs)).sort_values("seq")
        # itertuples, not iterrows: no per-row Series construction in
        # the order-sensitive fold (ADVICE r11 — ~5x on wide batches)
        for r in rows.itertuples(index=False):
            seq = int(r.seq)
            if seq <= max_seq:
                continue  # redelivered slice — already applied
            max_seq = seq
            if r.op == "put":
                value = r.value
            elif r.op == "append":
                value = value + r.value
        state.update((value, max_seq))
        yield build([key[0]], [value])

    return effective_ops.groupBy("key").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
