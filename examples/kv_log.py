"""The reference's KV surface (Get/Put/Append with exactly-once dedup,
src/kvraft) as ops-log replay — batch and incremental-streaming forms.

Run: python examples/kv_log.py
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_computing_spark.operators.kv import kv_get, replay, snapshot_at
from distributed_computing_spark.session import get_spark
from distributed_computing_spark.streaming.kv_stream import (
    KVTableStore,
    foreach_batch_apply,
)

OPS = [
    # (seq, client_id, req_id, op, key, value)
    (1, 1, 1, "put", "config", "a=1;"),
    (2, 1, 2, "append", "config", "b=2;"),
    (3, 2, 1, "append", "log", "started;"),
    (4, 1, 2, "append", "config", "DUPLICATE"),  # re-sent req 2 -> dropped (K4)
    (5, 2, 2, "append", "log", "ready;"),
    (6, 1, 3, "put", "config", "reset;"),        # put resets (K2)
    (7, 1, 4, "append", "config", "c=3;"),
]
SCHEMA = "seq long, client_id long, req_id long, op string, key string, value string"


def main() -> None:
    spark = get_spark(app_name="kv-example", cpus=4, shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    ops = spark.createDataFrame(OPS, SCHEMA)

    print("final state (batch replay):")
    replay(ops).orderBy("key").show(truncate=False)
    print("state at seq<=5 (snapshot/time-travel):")
    snapshot_at(ops, 5).orderBy("key").show(truncate=False)
    print("point get:", repr(kv_get(replay(ops), "config")))

    # streaming form: same log consumed as micro-batches into a
    # persistent store (exactly-once across batches via high-water)
    with tempfile.TemporaryDirectory(prefix="kv_example_") as tmp:
        src = os.path.join(tmp, "src")
        ops.where("seq <= 4").coalesce(1).write.mode("append").parquet(src)
        ops.where("seq > 4").coalesce(1).write.mode("append").parquet(src)
        store = KVTableStore(spark, os.path.join(tmp, "store"))
        stream = spark.readStream.schema(ops.schema).option(
            "maxFilesPerTrigger", "1"
        ).parquet(src)
        foreach_batch_apply(
            stream, store, os.path.join(tmp, "ckpt")
        ).awaitTermination(120)
        print("final state (streaming foreachBatch apply):")
        store.state().orderBy("key").show(truncate=False)


if __name__ == "__main__":
    main()
