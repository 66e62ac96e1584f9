"""Linearizable-KV capability as batch ops-log replay (SURVEY.md §2.5).

The reference serves Get/Put/Append through a Raft-replicated log and a
single in-order apply loop (src/kvraft/server.go:166-214). Spark-first,
the *capability* is: given a totally-ordered ops log
``(seq, client_id, req_id, op, key, value)``, produce the exact state a
linearizable store would hold — with the reference's exactly-once
semantics under client retries.

Operator map:
- K4 dedup      ``dedup_ops``    — per-client high-water ``req_id`` filter
                 (reqId ≤ high-water ⇒ duplicate, kvraft/server.go:72-80)
- K2 Put        last-writer-wins reset of the key
- K3 Append     order-sensitive concat fold (kvraft/server.go:118)
- K1 Get        point lookup against the replayed state
- K6 snapshot   ``snapshot_at`` — replay of a log prefix (time travel)

Scale notes (100 TB posture): the dedup window shuffles once on
client_id; the fold shuffles once on key. The per-key ``collect_list``
is bounded by that key's op count — for a pathological hot key, pass
``salt_buckets`` to ``replay``: the fold splits into contiguous
(key, seq-range) sub-folds across ``salt_buckets`` reducers and
concatenates the bucket results in range order (string concat is
associative), so no single task ever holds a whole hot key. Streaming
equivalent lives in streaming/kv_stream.py (applyInPandasWithState).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OPS_COLUMNS = ("seq", "client_id", "req_id", "op", "key", "value")


def ops_from_events(events: DataFrame, keep_ts: bool = False) -> DataFrame:
    """Derive a deterministic ops log from the `events` table.

    This is the test-data adapter: event_id gives the total order (the
    Raft log index analog), user_id gives client identity and key
    locality, and the event_type maps onto the op kind. The modulus on
    req_id deliberately makes clients re-send old req_ids so the K4
    high-water dedup path is exercised.

    ``keep_ts`` retains the event-time column for streaming consumers
    that need a watermark (dedup_within_watermark).
    """
    extra = [F.col("ts")] if keep_ts else []
    return events.select(
        *extra,
        F.col("event_id").alias("seq"),
        (F.col("user_id") % 50).alias("client_id"),
        (F.col("event_id") % 97).alias("req_id"),
        F.when(F.col("event_type").isin("click", "view"), F.lit("append"))
        .when(F.col("event_type").isin("purchase", "signup"), F.lit("put"))
        .otherwise(F.lit("get"))
        .alias("op"),
        (F.col("user_id") % 20).cast("string").alias("key"),
        F.concat(
            F.substring(F.col("event_type"), 1, 2),
            (F.col("event_id") % 10).cast("string"),
        ).alias("value"),
    )


def dedup_sql(ops: str) -> str:
    """K4 as SQL text over the relation ``ops`` (a ``{name}`` placeholder
    or a parenthesised subquery): drop each op whose req_id is at or
    below an earlier req_id of its client.

    ``ORDER BY seq`` sorts NULLs first, so a row with a NULL seq acts as
    its client's prior high-water: ``KVTableStore.apply_batch`` enters
    the stored high-water that way."""
    return (
        "SELECT * EXCEPT (_hw) FROM (SELECT *, max(req_id) OVER ("
        "PARTITION BY client_id ORDER BY seq "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS _hw "
        f"FROM {ops}) WHERE _hw IS NULL OR req_id > _hw"
    )


def fold_sql(ops: str) -> str:
    """K2+K3 as SQL text: the per-key ordered fold of the put/append
    ops of the relation ``ops`` → ``(key, value, _lp)``.

    ``value`` is the key's last Put value followed by the later Appends
    in seq order; ``_lp`` is that last Put's seq, null when the key saw
    only Appends (the value then extends whatever the key held before).
    One shuffle on key: the last-Put cutoff is a window and the concat
    a groupBy over the same partitioning."""
    return (
        "SELECT key, concat_ws('', transform(array_sort(collect_list("
        "struct(seq, value))), s -> s.value)) AS value, max(_lp) AS _lp "
        "FROM (SELECT *, max(CASE WHEN op = 'put' THEN seq END) "
        "OVER (PARTITION BY key) AS _lp "
        f"FROM {ops} WHERE op IN ('put', 'append')) "
        "WHERE seq >= coalesce(_lp, -1) GROUP BY key"
    )


def dedup_ops(ops: DataFrame) -> DataFrame:
    """K4: drop ops whose req_id is ≤ the client's prior high-water mark.

    Exact reference semantics (kvraft/server.go:76-78): an op is a
    duplicate iff some *earlier* op from the same client had
    ``req_id >= this req_id`` — stale req_ids are dropped too, not just
    exact re-sends. One shuffle on client_id.
    """
    return ops.sparkSession.sql(dedup_sql("{ops}"), ops=ops)


def _ordered_concat(order_col: str, value_col: str):
    """Aggregate: the group's ``value_col`` strings concatenated in
    ``order_col`` order (``fold_sql``'s concat, for the salted fold)."""
    return F.concat_ws(
        "",
        F.transform(
            F.array_sort(F.collect_list(F.struct(order_col, value_col))),
            lambda s: s[value_col],
        ),
    )


def _salted_fold(writes: DataFrame, salt_buckets: int) -> DataFrame:
    """The hot-key form of ``fold_sql``'s fold → ``(key, value)``.

    The fold runs in two phases — sub-fold within (key, contiguous seq
    range) so a hot key spreads over ``salt_buckets`` tasks, then concat
    the per-bucket partials in range order (string concat is
    associative). The last-Put cutoff switches from a window to a
    partial-aggregated groupBy + skew-aware equi-join, so NO stage
    processes a whole hot key in one task.
    """
    # The salted path references `writes` TWICE (last-put aggregate +
    # the fold probe), and Catalyst re-evaluates the subtree — with a
    # deduped input that meant running the client_id dedup window twice
    # over the full log (measured: 5 exchanges, two full scans at the
    # 500× tier). A tracked MEMORY_AND_DISK persist computes it once;
    # the reuse is disk-backed at scale, released by the harness after
    # the terminal action (same lazy-builder discipline as
    # minhash_lsh_exact).
    from pyspark import StorageLevel

    from distributed_computing_spark.caching import track_persist

    writes = track_persist(writes, StorageLevel.MEMORY_AND_DISK)
    last_put = writes.groupBy("key").agg(
        F.max(F.when(F.col("op") == "put", F.col("seq"))).alias("_last_put")
    )
    eff = writes.join(last_put, "key").where(
        F.col("seq") >= F.coalesce(F.col("_last_put"), F.lit(-1))
    )
    max_seq = writes.agg(F.max("seq")).collect()[0][0] or 0
    width = max_seq // salt_buckets + 1
    parts = (
        # integer `div`, not float division — seq is a long and doubles
        # lose integer precision past 2^53
        eff.withColumn("_b", F.expr(f"seq div {width}"))
        .groupBy("key", "_b")
        .agg(_ordered_concat("seq", "value").alias("_part"))
    )
    return parts.groupBy("key").agg(_ordered_concat("_b", "_part").alias("value"))


def replay(
    ops: DataFrame, dedup: bool = True, salt_buckets: int | None = None
) -> DataFrame:
    """Replay the ops log → final state table ``(key, value)`` (K2+K3+K5).

    The reference applies committed entries one-by-one in a single
    goroutine (kvraft/server.go:166-199); the batch-equivalent semantics
    is this deduped, seq-ordered fold — same final state, but computed
    as two distributed stages instead of a serial loop, built as one
    statement from ``dedup_sql`` and ``fold_sql``. Pass
    ``salt_buckets`` when the key distribution is skewed (hot keys).
    """
    if not salt_buckets:
        src = f"({dedup_sql('{ops}')})" if dedup else "{ops}"
        return ops.sparkSession.sql(
            f"SELECT key, value FROM ({fold_sql(src)})", ops=ops
        )
    if dedup:
        ops = dedup_ops(ops)
    return _salted_fold(ops.where(F.col("op").isin("put", "append")), salt_buckets)


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE INTO emulation on plain DataFrames (K2's table form —
    SURVEY §1.4 maps Put to Delta MERGE; without Delta the same
    semantics is anti-join + union): matched keys take the update row,
    unmatched updates insert, untouched targets pass through.
    One shuffle on the key; with both sides bucketed on the key the
    exchange disappears entirely (see tests/test_sinks.py).
    """
    return target.join(updates.select(key), key, "left_anti").unionByName(updates)


def scd2_apply(
    dim: DataFrame,
    changes: DataFrame,
    key: str,
    version: int,
) -> DataFrame:
    """Slowly-changing-dimension type 2: changed keys close their
    current row (valid_to = version) and append a new current version.

    ``dim`` schema contract: attribute columns + (``valid_from`` long,
    ``valid_to`` long nullable, ``is_current`` boolean); ``changes``
    carries key + attribute columns only. History rows are immutable —
    the classic append-mostly dimension pattern a KV store's Put
    history (K2 + K6 time travel) generalizes to.
    """
    attr_cols = [c for c in changes.columns]
    changed_keys = changes.select(key)
    closed = (
        dim.where(F.col("is_current"))
        .join(changed_keys, key, "left_semi")
        .withColumn("valid_to", F.lit(version).cast("long"))
        .withColumn("is_current", F.lit(False))
    )
    untouched = dim.join(
        changed_keys, key, "left_anti"
    ).unionByName(dim.where(~F.col("is_current")).join(changed_keys, key, "left_semi"))
    fresh = changes.select(
        *attr_cols,
        F.lit(version).cast("long").alias("valid_from"),
        F.lit(None).cast("long").alias("valid_to"),
        F.lit(True).alias("is_current"),
    )
    return untouched.unionByName(closed).unionByName(fresh)


def kv_get(state: DataFrame, key: str) -> str:
    """K1: point read; returns "" for a missing key (ErrNoKey analog)."""
    row = state.where(F.col("key") == key).select("value").collect()
    return row[0]["value"] if row else ""


def snapshot_at(ops: DataFrame, max_seq: int, dedup: bool = True) -> DataFrame:
    """K6 analog: state as of log index ``max_seq`` (inclusive).

    Filter-then-replay = snapshot/time-travel; the filter pushes down to
    the scan so old snapshots don't read the whole log.
    """
    return replay(ops.where(F.col("seq") <= max_seq), dedup=dedup)


def state_diff(ops: DataFrame, seq_from: int, seq_to: int) -> DataFrame:
    """CDC between two log positions (Delta change-data-feed analog of
    K6 time travel): per key, the state at ``seq_from`` vs ``seq_to``
    with a change verdict. The ops log has no delete, so changes are
    insert/update/same; both snapshots share one scan of the log."""
    old = snapshot_at(ops, seq_from).select(
        "key", F.col("value").alias("old_value")
    )
    new = snapshot_at(ops, seq_to).select("key", F.col("value").alias("new_value"))
    return old.join(new, "key", "full").select(
        "key",
        "old_value",
        "new_value",
        F.when(F.col("old_value").isNull(), F.lit("insert"))
        .when(F.col("old_value") != F.col("new_value"), F.lit("update"))
        .otherwise(F.lit("same"))
        .alias("change"),
    )


def merkle_digests(
    state: DataFrame,
    n_buckets: int = 256,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Anti-entropy bucket digests of a KV state (round 9): bucket =
    md5_hash60(key) mod n_buckets, digest = bit_xor of a 60-bit row
    hash over (key, value) — XOR is commutative/associative with
    identity 0, so the digest is order-independent, PARTIAL-aggregates
    map-side, and never overflows (stays < 2^60). Two replicas (or two
    versions) of a 100 TB state compare by exchanging n_buckets
    digest rows each; only diverged buckets need a drill-down — the
    Merkle-tree/anti-entropy repair primitive (Dynamo-style read
    repair; the reference's shard-migration verification analog,
    shardkv/server.go's per-shard state handoff).

    Cross-engine exact: the md5_hash60 family reproduces bit-for-bit
    in DuckDB SQL, so the digest table itself sits under the strict
    hash gate.

    Row representation (round 10, ADVICE r9): LENGTH-PREFIXED fields —
    ``k<len>:<key>|v<len>:<value>`` with NULL values encoded as the
    distinct marker ``|n`` — so ('a|b','c') never collides with
    ('a','b|c') and (k, NULL) hashes differently from (k, '') instead
    of being concat_ws-skipped. Mirrored verbatim in the kv_merkle_diff
    oracle (registry.py)."""
    from distributed_computing_spark.operators.dedup import md5_hash60

    row_hash = md5_hash60(
        F.concat(
            F.lit("k"),
            F.length(F.col(key_col)).cast("string"),
            F.lit(":"),
            F.col(key_col),
            F.when(F.col(value_col).isNull(), F.lit("|n")).otherwise(
                F.concat(
                    F.lit("|v"),
                    F.length(F.col(value_col)).cast("string"),
                    F.lit(":"),
                    F.col(value_col),
                )
            ),
        ),
        1,
    )
    return (
        state.select(
            F.pmod(md5_hash60(F.col(key_col), 0), F.lit(n_buckets)).alias(
                "bucket"
            ),
            row_hash.alias("_rh"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(_rh)").alias("digest"),
        )
    )


def merkle_diff(
    state_a: DataFrame, state_b: DataFrame, n_buckets: int = 256
) -> DataFrame:
    """Diverged-bucket report between two KV states: full-outer join
    of the two digest tables on bucket; a bucket appears iff its count
    OR digest differs (absent side coalesces to the empty digest 0).
    The exchange is 2·n_buckets digest rows regardless of state size."""
    da = merkle_digests(state_a, n_buckets).select(
        "bucket",
        F.col("n_rows").alias("n_a"),
        F.col("digest").alias("digest_a"),
    )
    db = merkle_digests(state_b, n_buckets).select(
        "bucket",
        F.col("n_rows").alias("n_b"),
        F.col("digest").alias("digest_b"),
    )
    j = da.join(db, "bucket", "full_outer").select(
        "bucket",
        F.coalesce("n_a", F.lit(0)).alias("n_a"),
        F.coalesce("n_b", F.lit(0)).alias("n_b"),
        F.coalesce("digest_a", F.lit(0)).alias("digest_a"),
        F.coalesce("digest_b", F.lit(0)).alias("digest_b"),
    )
    return j.where(
        (F.col("n_a") != F.col("n_b"))
        | (F.col("digest_a") != F.col("digest_b"))
    )


def merkle_repair_keys(
    state_a: DataFrame,
    state_b: DataFrame,
    n_buckets: int = 256,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """The anti-entropy DRILL-DOWN (round 9): from the digest-level
    diff to the concrete repair set — join both states' rows ONLY for
    diverged buckets (broadcast of the tiny diverged-bucket list
    prunes each side's scan before any row exchange), then a per-key
    full-outer compare emits op 'U' (values differ), 'D' (only in a),
    'I' (only in b). At 100 TB the row exchange is bounded by the
    diverged fraction, not the state size — digests localize, this
    fetches."""
    from distributed_computing_spark.operators.dedup import md5_hash60

    diverged = merkle_diff(state_a, state_b, n_buckets).select("bucket")

    def in_diverged(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket", F.pmod(md5_hash60(F.col(key_col), 0), F.lit(n_buckets))
        ).join(F.broadcast(diverged), "bucket")

    a = in_diverged(state_a).select(
        key_col, F.col(value_col).alias("_va"), F.lit(1).alias("_pa")
    )
    b = in_diverged(state_b).select(
        key_col, F.col(value_col).alias("_vb"), F.lit(1).alias("_pb")
    )
    j = a.join(b, key_col, "full_outer")
    # Null-safe value compare (ADVICE r9): a plain != evaluates to NULL
    # when exactly one side's VALUE is NULL (key present on both
    # replicas, value NULL on one) and the where-clause would drop a
    # real divergence; eqNullSafe treats NULL as a comparable value.
    return (
        j.where(
            F.col("_pa").isNull()
            | F.col("_pb").isNull()
            | ~F.col("_va").eqNullSafe(F.col("_vb"))
        )
        .select(
            key_col,
            F.when(F.col("_pa").isNull(), F.lit("I"))
            .when(F.col("_pb").isNull(), F.lit("D"))
            .otherwise(F.lit("U"))
            .alias("op"),
            F.col("_va").alias("value_a"),
            F.col("_vb").alias("value_b"),
        )
    )
