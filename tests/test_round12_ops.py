"""Round-12 operator tests: event-path trigrams (batch + online),
weekly retention cohorts, and document-level co-occurrence lift."""

from __future__ import annotations

import datetime
from collections import Counter

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def _write_events(spark, path, rows):
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{path}/events.parquet")


def _write_docs(spark, path, texts):
    rows = [
        (i, t, "en", f"src{i % 2}", len(t)) for i, t in enumerate(texts)
    ]
    spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, "
        "n_chars long",
    ).write.mode("overwrite").parquet(f"{path}/documents.parquet")


# ---------------------------------------------------------------------------
# event_path_trigrams
# ---------------------------------------------------------------------------

def _brute_trigrams(rows):
    """rows: (event_id, ts, user_id, event_type, ...) — pure-Python
    double-lead reference."""
    by_user: dict = {}
    for eid, ts, uid, et, *_ in rows:
        by_user.setdefault(uid, []).append((ts, eid, et))
    paths: Counter = Counter()
    users: dict = {}
    for uid, evs in by_user.items():
        evs.sort()
        types = [t for _, _, t in evs]
        for i in range(len(types) - 2):
            tri = (types[i], types[i + 1], types[i + 2])
            paths[tri] += 1
            users.setdefault(tri, set()).add(uid)
    return {t: (n, len(users[t])) for t, n in paths.items()}


def test_event_path_trigrams_matches_brute_force(spark, tmp_path):
    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    # user 1: a b a b a; user 2: b b b; user 3: a c (too short);
    # user 4: single event; tied timestamps break by event_id
    for uid, seq in [(1, "ababa"), (2, "bbb"), (3, "ac"), (4, "a")]:
        for j, ch in enumerate(seq):
            eid += 1
            # user 2's events all share one timestamp: event_id order
            ts = t0 if uid == 2 else t0 + datetime.timedelta(minutes=j)
            rows.append((eid, ts, uid, ch, 1.0, "{}"))
    _write_events(spark, d, rows)
    got = {
        (r["t1"], r["t2"], r["t3"]): (r["n_paths"], r["n_users"])
        for r in QUERIES["event_path_trigrams"](spark, d).collect()
    }
    assert got == _brute_trigrams(rows)


@pytest.mark.slow
def test_stream_event_trigrams_equals_batch_across_boundaries(
    spark, tmp_path
):
    """The online twin must emit exactly the batch path table,
    INCLUDING trigrams whose three events straddle micro-batch
    boundaries — the last-two state carries them across. 40 events
    per user over 4 seq batches guarantees straddles."""
    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    eid = 0
    for uid in range(1, 6):
        for j in range(40):
            eid += 1
            rows.append(
                (
                    eid,
                    t0 + datetime.timedelta(minutes=j, seconds=uid),
                    uid,
                    "abc"[(j * uid) % 3],
                    1.0,
                    "{}",
                )
            )
    _write_events(spark, d, rows)
    batch = {
        (r["t1"], r["t2"], r["t3"]): (r["n_paths"], r["n_users"])
        for r in QUERIES["event_path_trigrams"](spark, d).collect()
    }
    online = {
        (r["t1"], r["t2"], r["t3"]): (r["n_paths"], r["n_users"])
        for r in QUERIES["stream_event_trigrams"](spark, d).collect()
    }
    assert online == batch
    assert sum(n for n, _ in batch.values()) == 5 * 38


# ---------------------------------------------------------------------------
# retention_cohorts
# ---------------------------------------------------------------------------

def test_retention_cohorts_matches_brute_force(spark, tmp_path):
    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    base = datetime.datetime(2024, 1, 4)  # mid-epoch-week, any anchor
    rows = []
    eid = 0
    # (user, [active week indexes relative to base])
    plan = [
        (1, [0, 1, 3]),
        (2, [0, 0, 2]),   # duplicate week events collapse
        (3, [1]),
        (4, [1, 2]),
        (5, [3]),
    ]
    for uid, weeks in plan:
        for w in weeks:
            eid += 1
            rows.append(
                (
                    eid,
                    base + datetime.timedelta(weeks=w, hours=uid),
                    uid,
                    "visit",
                    1.0,
                    "{}",
                )
            )
    _write_events(spark, d, rows)
    out = QUERIES["retention_cohorts"](spark, d).collect()
    # brute force on epoch-week buckets
    def week_of(dt):
        return int(dt.timestamp()) // 86400 // 7

    first: dict = {}
    active: set = set()
    for eid_, ts, uid, *_ in rows:
        w = week_of(ts)
        active.add((uid, w))
        first[uid] = min(first.get(uid, w), w)
    agg: Counter = Counter()
    for uid, w in active:
        agg[(first[uid], w - first[uid])] += 1
    expect = {}
    for (cw, off), n in agg.items():
        size = agg[(cw, 0)]
        expect[(cw, off)] = (n, size, n * 1000000 // size)
    got = {
        (r["cohort_week"], r["week_offset"]): (
            r["n_users"],
            r["cohort_size"],
            r["retention_ppm"],
        )
        for r in out
    }
    assert got == expect
    # offset 0 exists for every cohort and is its own 100%
    for (cw, off), (n, size, ppm) in got.items():
        if off == 0:
            assert n == size and ppm == 1000000


# ---------------------------------------------------------------------------
# doc_cooccurrence
# ---------------------------------------------------------------------------

def test_doc_cooccurrence_matches_brute_force_with_caps(spark, tmp_path):
    import re
    from itertools import combinations

    from distributed_computing_spark.operators.textstats import (
        doc_cooccurrence,
    )
    from distributed_computing_spark.caching import release_tracked

    texts = (
        ["alpha beta gamma"] * 12          # {alpha,beta,gamma} together
        + ["alpha beta"] * 4               # alpha-beta stronger
        + ["delta epsilon"] * 10           # an independent pair
        + ["alpha delta zeta zeta"] * 3    # cross pair below floor
        + [""]                             # empty doc: excluded from N
        + [" ".join(f"w{i}" for i in range(50))] * 2  # over-cap: skipped
    )
    d = str(tmp_path / "sf")
    _write_docs(spark, d, texts)
    try:
        out = doc_cooccurrence(
            spark, d, min_docs=3, k=100, max_doc_vocab=10
        ).collect()
        got = {
            (r["x"], r["y"]): (
                r["n_xy"], r["n_x"], r["n_y"], r["lift_ppm"]
            )
            for r in out
        }
        # brute force
        pat = re.compile("[A-Za-z0-9]+")
        docs = []
        for t in texts:
            toks = sorted(set(pat.findall(t)))
            if toks and len(toks) <= 10:
                docs.append(toks)
        N = len(docs)
        df_c: Counter = Counter()
        pair_c: Counter = Counter()
        for toks in docs:
            df_c.update(toks)
            pair_c.update(combinations(toks, 2))
        expect = {}
        for (x, y), nxy in pair_c.items():
            if nxy >= 3:
                expect[(x, y)] = (
                    nxy,
                    df_c[x],
                    df_c[y],
                    nxy * N * 1000000 // (df_c[x] * df_c[y]),
                )
        assert got == expect
        # the over-cap mega-vocab docs contributed nothing (no w0 pair)
        assert not any(x.startswith("w") for x, _ in got)
    finally:
        release_tracked()


def test_doc_cooccurrence_lift_orders_independent_pairs_low(spark, tmp_path):
    """delta-epsilon co-occur in ALL their docs (lift = N/n_docs >> 1);
    alpha-delta co-occur only incidentally — sanity on the statistic's
    direction over a planted corpus."""
    from distributed_computing_spark.operators.textstats import (
        doc_cooccurrence,
    )
    from distributed_computing_spark.caching import release_tracked

    texts = (
        ["delta epsilon"] * 6
        + ["alpha beta"] * 6
        + ["alpha delta"] * 3
        + ["beta epsilon noise"] * 5
    )
    d = str(tmp_path / "sf")
    _write_docs(spark, d, texts)
    try:
        rows = doc_cooccurrence(spark, d, min_docs=3, k=100).collect()
        lift = {(r["x"], r["y"]): r["lift_ppm"] for r in rows}
        assert lift[("delta", "epsilon")] > lift[("alpha", "delta")]
    finally:
        release_tracked()
