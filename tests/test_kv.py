"""KV ops-log engine tests — port of the reference's layer-3 strategy
(kvraft/test_test.go GenericTest): randomized op streams incl. duplicate
injection, correctness = equality with a serial reference fold."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from distributed_computing_spark.operators.kv import (
    dedup_ops,
    kv_get,
    ops_from_events,
    replay,
    snapshot_at,
)
from distributed_computing_spark.sources.catalog import load_table

OPS_SCHEMA = "seq long, client_id long, req_id long, op string, key string, value string"


def serial_replay_hw(ops: list[tuple]) -> tuple[dict[str, str], dict[int, int]]:
    """Reference semantics, literally: single in-order apply loop with
    per-client high-water dedup (kvraft/server.go:72-80, 113-121).
    Returns (state, per-client high-water)."""
    hw: dict[int, int] = {}
    db: dict[str, str] = {}
    for seq, client, req, op, key, value in sorted(ops):
        if client in hw and req <= hw[client]:
            continue
        hw[client] = req
        if op == "put":
            db[key] = value
        elif op == "append":
            db[key] = db.get(key, "") + value
    return db, hw


def serial_replay(ops: list[tuple]) -> dict[str, str]:
    """The state half of ``serial_replay_hw``."""
    return serial_replay_hw(ops)[0]


def random_ops(seed: int, n: int = 500) -> list[tuple]:
    rng = random.Random(seed)
    ops = []
    for seq in range(n):
        client = rng.randrange(5)
        # small req_id space → plenty of duplicate/stale req_ids
        req = rng.randrange(40)
        op = rng.choice(["put", "append", "append", "get"])
        key = str(rng.randrange(8))
        value = f"v{seq % 13}"
        ops.append((seq, client, req, op, key, value))
    return ops


@pytest.mark.parametrize("seed", [1, 7, 42])
def test_replay_matches_serial_fold(spark, seed):
    ops = random_ops(seed)
    df = spark.createDataFrame(ops, OPS_SCHEMA)
    got = {r["key"]: r["value"] for r in replay(df).collect()}
    want = {k: v for k, v in serial_replay(ops).items() if v != ""}
    assert got == want


def test_exactly_once_under_retry(spark):
    """Re-delivering the same (client, req) op must apply once (K4)."""
    base = [(0, 1, 10, "append", "a", "x"), (1, 1, 11, "append", "a", "y")]
    dup = base + [(2, 1, 11, "append", "a", "y"), (3, 1, 10, "append", "a", "x")]
    df = spark.createDataFrame(dup, OPS_SCHEMA)
    assert kv_get(replay(df), "a") == "xy"


def test_stale_req_dropped(spark):
    """High-water semantics: lower req_id after a higher one is stale."""
    ops = [(0, 1, 5, "append", "a", "1"), (1, 1, 3, "append", "a", "2"),
           (2, 1, 6, "append", "a", "3")]
    df = spark.createDataFrame(ops, OPS_SCHEMA)
    assert kv_get(replay(df), "a") == "13"


def test_put_resets_appends(spark):
    ops = [(0, 1, 1, "append", "k", "a"), (1, 2, 1, "put", "k", "B"),
           (2, 3, 1, "append", "k", "c")]
    df = spark.createDataFrame(ops, OPS_SCHEMA)
    assert kv_get(replay(df), "k") == "Bc"


def test_get_missing_key_is_empty(spark):
    df = spark.createDataFrame([(0, 1, 1, "put", "k", "v")], OPS_SCHEMA)
    assert kv_get(replay(df), "nope") == ""


def test_snapshot_prefix_semantics(spark):
    ops = random_ops(3, n=200)
    df = spark.createDataFrame(ops, OPS_SCHEMA)
    snap = {r["key"]: r["value"] for r in snapshot_at(df, 99).collect()}
    want = {k: v for k, v in serial_replay([o for o in ops if o[0] <= 99]).items() if v != ""}
    assert snap == want


def test_dedup_is_idempotent(spark):
    ops = random_ops(9)
    df = spark.createDataFrame(ops, OPS_SCHEMA)
    once = dedup_ops(df)
    twice = dedup_ops(once)
    assert once.count() == twice.count()


def test_ops_from_events_deterministic(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    a = ops_from_events(ev).orderBy("seq").collect()
    b = ops_from_events(ev).orderBy("seq").collect()
    assert a == b
    assert ops_from_events(ev).count() == ev.count()


@pytest.mark.parametrize("salt_buckets", [2, 7])
def test_salted_replay_matches_unsalted(spark, salt_buckets):
    """Hot-key salting: the two-phase (key, seq-range) fold reaches the
    exact same state as the single-stage fold — including a pathological
    key holding most of the log."""
    ops = random_ops(3, n=400)
    # make key "0" hot: 70% of ops hit it
    ops = [
        (seq, c, r, op, "0" if seq % 10 < 7 else k, v)
        for seq, c, r, op, k, v in ops
    ]
    df = spark.createDataFrame(ops, OPS_SCHEMA)
    plain = {r["key"]: r["value"] for r in replay(df).collect()}
    salted = {r["key"]: r["value"] for r in replay(df, salt_buckets=salt_buckets).collect()}
    assert salted == plain
    want = {k: v for k, v in serial_replay(ops).items() if v != ""}
    assert salted == want


def test_scd2_apply_history_semantics(spark):
    """SCD2: change batches close current rows and append versions;
    history is complete and exactly one current row per live key."""
    from distributed_computing_spark.operators.kv import scd2_apply

    dim = spark.createDataFrame(
        [("k1", "v1", 1, None, True), ("k2", "w1", 1, None, True)],
        "key string, attr string, valid_from long, valid_to long, is_current boolean",
    )
    # version 2: k1 changes; version 3: k1 changes again, k3 appears
    dim = scd2_apply(dim, spark.createDataFrame([("k1", "v2")], "key string, attr string"), "key", 2)
    dim = scd2_apply(
        dim,
        spark.createDataFrame([("k1", "v3"), ("k3", "x1")], "key string, attr string"),
        "key",
        3,
    )
    rows = {(r["key"], r["attr"]): (r["valid_from"], r["valid_to"], r["is_current"]) for r in dim.collect()}
    assert rows == {
        ("k1", "v1"): (1, 2, False),
        ("k1", "v2"): (2, 3, False),
        ("k1", "v3"): (3, None, True),
        ("k2", "w1"): (1, None, True),
        ("k3", "x1"): (3, None, True),
    }
    # invariant: exactly one current row per key
    cur = dim.where("is_current").groupBy("key").count().where("count > 1").count()
    assert cur == 0


def test_hotkey_ops_are_genuinely_skewed(spark, sf_dir):
    """round 5: the hot-key regime must be real skew — one key holding
    ~25% of all writes (the reference's append-history workload shape,
    kvraft/test_test.go:131-236) — and monotone req_ids mean the K4
    dedup drops NOTHING, so the per-key fold carries the load."""
    from distributed_computing_spark.registry import _hotkey_ops

    ops = _hotkey_ops(spark, sf_dir)
    writes = ops.where(F.col("op").isin("put", "append"))
    per_key = {r["key"]: r["n"] for r in
               writes.groupBy("key").agg(F.count("*").alias("n")).collect()}
    total = sum(per_key.values())
    assert 0.15 <= per_key["hot"] / total <= 0.35
    assert per_key["hot"] == max(per_key.values())
    assert dedup_ops(ops).count() == ops.count()  # monotone req_id: no drops


def test_kv_replay_hotkey_salted_equals_unsalted(spark, sf_dir):
    """The salted fold (the plan kv_replay_hotkey ships) must be
    byte-identical to the unsalted reference fold on the same skewed
    log — bucket sub-folds concatenated in range order are the same
    string because concat is associative."""
    from distributed_computing_spark.registry import _hotkey_ops

    ops = _hotkey_ops(spark, sf_dir)
    salted = {r["key"]: r["value"]
              for r in replay(ops, salt_buckets=32).collect()}
    plain = {r["key"]: r["value"] for r in replay(ops).collect()}
    assert salted == plain


def test_customer_scd2_history_invariants(spark, sf_dir):
    """round 5: the two-fold SCD2 application must produce a legal
    type-2 history — per key: exactly one current row, contiguous
    validity intervals starting at version 1, closed rows immutable."""
    from distributed_computing_spark.registry import customer_scd2

    rows = customer_scd2(spark, sf_dir).collect()
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r["c_custkey"], []).append(r)
    assert by_key  # non-empty
    multi = 0
    for key, hist in by_key.items():
        hist.sort(key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in hist) == 1, key
        assert hist[0]["valid_from"] == 1
        assert hist[-1]["is_current"] and hist[-1]["valid_to"] is None
        for a, b in zip(hist, hist[1:]):
            assert a["valid_to"] == b["valid_from"], key  # contiguous
            assert not a["is_current"]
        if len(hist) > 1:
            multi += 1
    assert multi > 0  # versions 2/3 actually fired at this SF
    # a customer hit by BOTH changes carries all three segment states
    tri = [h for h in by_key.values() if len(h) == 3]
    if tri:
        segs = [r["segment"] for r in sorted(tri[0], key=lambda r: r["valid_from"])]
        assert segs[1] == "UPGRADED" and segs[2] == "CHURNED"
