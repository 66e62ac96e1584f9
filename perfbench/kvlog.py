"""The seeded KV client log of the ``kv_log`` workload and its answer key.

``make_ops_log`` draws the log (FIXTURES.md §3) and ``fold_ops`` is the
reference's single in-order apply loop over it
(kvraft/server.go:166-199).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

KV_OPS = 36_000  # log length
KV_BATCHES = 16  # seq-ordered micro-batches; a pass applies the next one
KV_GETS_PER_BATCH = 4  # point reads after each batch
KV_CLIENTS = 64
KV_KEYS = 5_000
KV_ZIPF_S = 1.2  # key popularity
KV_RETRY_FRAC = 0.10  # share of ops that re-send an earlier request

OPS_ARROW_SCHEMA = pa.schema([
    ("seq", pa.int64()), ("client_id", pa.int64()), ("req_id", pa.int64()),
    ("op", pa.string()), ("key", pa.string()), ("value", pa.string()),
])


def make_ops_log(seed: int) -> pa.Table:
    """Client ops in log order: append/put/get 60/20/20 over Zipf keys;
    about ``KV_RETRY_FRAC`` of ops re-send one of the client's last
    eight requests unchanged (a retry the store must not apply twice)."""
    r = np.random.default_rng([seed, 7])
    p = 1.0 / np.arange(1, KV_KEYS + 1) ** KV_ZIPF_S
    keys = r.choice(KV_KEYS, KV_OPS, p=p / p.sum())
    kinds = r.choice(["append", "put", "get"], KV_OPS, p=[0.6, 0.2, 0.2])
    clients = r.integers(0, KV_CLIENTS, KV_OPS)
    retry = r.random(KV_OPS) < KV_RETRY_FRAC
    back = r.integers(1, 9, KV_OPS)
    issued: list[list[tuple]] = [[] for _ in range(KV_CLIENTS)]
    rows = []
    for i in range(KV_OPS):
        c = int(clients[i])
        hist = issued[c]
        if retry[i] and hist:
            _, req, op, key, value = hist[-min(int(back[i]), len(hist))]
        else:
            req = len(hist) + 1
            op = str(kinds[i])
            key = f"k{keys[i]}"
            value = None if op == "get" else f"{c:02d}{req:05d};"
            hist.append((c, req, op, key, value))
        rows.append((i, c, req, op, key, value))
    cols = list(zip(*rows))
    return pa.Table.from_arrays(
        [pa.array(col, f.type) for col, f in zip(cols, OPS_ARROW_SCHEMA)],
        schema=OPS_ARROW_SCHEMA,
    )


def fold_ops(ops: pa.Table, cuts: list[int]) -> list[dict[str, str]]:
    """Apply the log in seq order, one op at a time, skipping any
    request at or below the client's high-water req_id. Returns the
    state after each prefix ``seq < cut``."""
    d = ops.to_pydict()
    hw: dict[int, int] = {}
    state: dict[str, str] = {}
    out = []
    it = iter(sorted(cuts))
    cut = next(it)
    for seq, c, req, op, key, value in zip(
        d["seq"], d["client_id"], d["req_id"], d["op"], d["key"], d["value"]
    ):
        while cut is not None and seq >= cut:
            out.append(dict(state))
            cut = next(it, None)
        if req <= hw.get(c, 0):
            continue
        hw[c] = req
        if op == "put":
            state[key] = value
        elif op == "append":
            state[key] = state.get(key, "") + value
    while cut is not None:
        out.append(dict(state))
        cut = next(it, None)
    return out
