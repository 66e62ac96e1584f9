"""Relational analytics tests: a sample of registry queries checked
against their DuckDB oracles at sf0.001 (the full set runs in
tools/check_correctness.py at sf0.01 — this keeps CI fast)."""

from __future__ import annotations

import math

import duckdb
import pytest

from distributed_computing_spark.registry import ORACLES, QUERIES

CHECK = [
    "pricing_summary",
    "revenue_by_segment",
    "priority_rollup",
    "events_windowed",
    "kv_state",
    "shard_census",
    "user_sessions",
]


def _norm(v):
    import datetime

    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6f}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def _multiset(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(_norm(r[i]) for i in order) for r in rows)


@pytest.mark.parametrize("name", CHECK)
def test_query_matches_oracle(spark, sf_dir, name):
    sdf = QUERIES[name](spark, sf_dir)
    srows, scols = sdf.collect(), sdf.columns
    con = duckdb.connect()
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    cur = con.execute(ORACLES[name])
    ocols = [d[0] for d in cur.description]
    orows = cur.fetchall()
    assert sorted(scols) == sorted(ocols)
    assert len(srows) == len(orows)
    assert _multiset([tuple(r) for r in srows], scols) == _multiset(orows, ocols)


def test_approx_distinct_within_error(spark, sf_dir):
    import pyspark.sql.functions as F

    from distributed_computing_spark.operators.analytics import approx_distinct_users
    from distributed_computing_spark.sources.catalog import load_table

    approx = {
        r["event_type"]: r["approx_users"]
        for r in approx_distinct_users(spark, sf_dir).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for k, v in exact.items():
        assert abs(approx[k] - v) <= max(2.0, 0.05 * v)


def test_entry_contract(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() >= 0
    qs, os_ = e.queries(), e.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 30


def test_approx_percentile_error_bound(spark, sf_dir):
    """The quantile sketch must land within rank-error of the exact
    percentile (GK accuracy 10000 -> 0.01% rank error; assert loosely)."""
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.analytics import approx_percentiles
    from distributed_computing_spark.sources.catalog import load_table

    orders = load_table(spark, sf_dir, "orders")
    exact = {
        r["o_orderstatus"]: r["p50"]
        for r in orders.groupBy("o_orderstatus")
        .agg(F.percentile("o_totalprice", 0.5).alias("p50"))
        .collect()
    }
    approx = {
        r["o_orderstatus"]: r["p50_approx"] for r in approx_percentiles(spark, sf_dir).collect()
    }
    for status, p in approx.items():
        assert abs(p - exact[status]) / exact[status] < 0.02


def test_frequent_items_contains_true_heavy_hitters(spark, sf_dir):
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.analytics import frequent_items
    from distributed_computing_spark.sources.catalog import load_table

    [row] = frequent_items(spark, sf_dir).collect()
    candidates = set(row["word_freqItems"])
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(F.explode(F.split(F.lower("text"), "[^a-z0-9]+")).alias("word"))
    words = words.where(F.col("word") != "")
    total = words.count()
    true_heavy = {
        r["word"]
        for r in words.groupBy("word").count().where(F.col("count") > 0.02 * total).collect()
    }
    assert true_heavy <= candidates  # sketch guarantee: no false negatives


def test_events_gapfill_densifies_missing_hours(spark, tmp_path):
    import datetime as dt

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 30), 1, "click", 1.0, "{}"),
        (2, dt.datetime(2024, 1, 1, 3, 10), 2, "click", 2.5, "{}"),  # 2h gap
        (3, dt.datetime(2024, 1, 1, 0, 5), 3, "view", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    path = str(tmp_path / "events.parquet")
    df.write.parquet(path)
    from distributed_computing_spark.operators.analytics import events_gapfill

    out = events_gapfill(spark, str(tmp_path)).collect()
    clicks = sorted(
        [r for r in out if r["event_type"] == "click"], key=lambda r: r["hour"]
    )
    assert len(clicks) == 4  # hours 0..3 inclusive, gap filled
    assert [r["n_events"] for r in clicks] == [1, 0, 0, 1]
    assert [r["total_value"] for r in clicks] == [1.0, 0.0, 0.0, 2.5]
    assert len([r for r in out if r["event_type"] == "view"]) == 1


def test_decayed_user_activity_bounds(spark):
    from distributed_computing_spark.operators.analytics import decayed_user_activity
    from tests.conftest import SF_DIR

    rows = decayed_user_activity(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        # each event contributes (0, 1]: decayed total bounded by count
        assert 0.0 < r["decayed_count"] <= r["n_events"]


def test_value_histogram_partitions_all_events(spark):
    from distributed_computing_spark.operators.analytics import value_histogram
    from distributed_computing_spark.sources.catalog import load_table
    from tests.conftest import SF_DIR

    rows = value_histogram(spark, SF_DIR, nbins=20).collect()
    n_total = load_table(spark, SF_DIR, "events").count()
    assert sum(r["n_events"] for r in rows) == n_total  # every event binned once
    assert all(0 <= r["bin"] < 20 for r in rows)
    assert len({r["bin"] for r in rows}) == len(rows)  # bins unique


def test_event_anomalies_planted_spike(spark, tmp_path):
    """A 10x spike after 24 steady hours is flagged; steady hours are
    not; hours with < 12 trailing cells are excluded by design."""
    from datetime import datetime, timedelta

    from distributed_computing_spark.operators.analytics import event_anomalies

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0
    for h in range(30):
        n = 200 if h == 27 else (20 + h % 3)  # mild jitter, one spike
        for i in range(n):
            rows.append((eid, base + timedelta(hours=h, seconds=i), 1, "click", 1.0, "{}"))
            eid += 1
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = str(tmp_path / "sf")
    ev.write.parquet(d + "/events.parquet")
    got = {(r["hour"].hour + 24 * (r["hour"].day - 1)): r for r in event_anomalies(spark, d).collect()}
    assert 27 in got and got[27]["n_events"] == 200
    assert all(r["z"] >= 2 or r["z"] <= -2 for r in got.values())
    assert all(h >= 12 for h in got)  # warm-up hours never flagged


def test_user_retention_hand_matrix(spark, tmp_path):
    """Two cohorts, hand-checked offsets and retention fractions."""
    from datetime import datetime

    from distributed_computing_spark.operators.analytics import user_retention

    # cohort A (week of Jan 1): users 1,2 — user 1 returns in week 2
    # cohort B (week of Jan 8): user 3
    t = lambda d: datetime(2024, 1, d, 12, 0, 0)
    rows = [
        (0, t(1), 1, "v", 1.0, "{}"),
        (1, t(2), 2, "v", 1.0, "{}"),
        (2, t(9), 1, "v", 1.0, "{}"),   # user 1 active week offset 1
        (3, t(8), 3, "v", 1.0, "{}"),
        (4, t(10), 3, "v", 1.0, "{}"),  # same week, still offset 0
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = str(tmp_path / "sf")
    ev.write.parquet(d + "/events.parquet")
    got = {
        (r["cohort_week"].day, r["week_offset"]): (r["n_active"], r["cohort_size"], r["retention"])
        for r in user_retention(spark, d).collect()
    }
    assert got == {
        (1, 0): (2, 2, 1.0),
        (1, 1): (1, 2, 0.5),
        (8, 0): (1, 1, 1.0),
    }


def test_copurchase_pairs_basket_bounded(spark, tmp_path):
    """Pairs form only within an order (basket), canonicalized a < b."""
    from distributed_computing_spark.operators.analytics import copurchase_pairs

    rows = [
        (1, 10), (1, 20), (1, 30),   # order 1: 3 pairs
        (2, 10), (2, 20),            # order 2: 1 pair
        (3, 99),                     # singleton: no pairs
    ]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    d = str(tmp_path / "sf")
    li.write.parquet(d + "/lineitem.parquet")
    got = {(r["a"], r["b"]): r["n_orders"]
           for r in copurchase_pairs(spark, d, min_count=1).collect()}
    assert got == {(10, 20): 2, (10, 30): 1, (20, 30): 1}


def test_event_transitions_ordering(spark, tmp_path):
    """Transitions follow (ts, event_id) order per user; no cross-user
    transitions."""
    from datetime import datetime, timedelta

    from distributed_computing_spark.operators.analytics import event_transitions

    base = datetime(2024, 1, 1)
    rows = [
        (0, base, 1, "view", 0.0, "{}"),
        (1, base + timedelta(minutes=1), 1, "click", 0.0, "{}"),
        (2, base + timedelta(minutes=2), 1, "purchase", 0.0, "{}"),
        (3, base, 2, "view", 0.0, "{}"),  # user 2: single event, no transition
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    d = str(tmp_path / "sf")
    ev.write.parquet(d + "/events.parquet")
    got = {(r["from_type"], r["to_type"]): (r["n_transitions"], r["n_users"])
           for r in event_transitions(spark, d).collect()}
    assert got == {("view", "click"): (1, 1), ("click", "purchase"): (1, 1)}


def test_bucketed_source_tag_tracks_source_fingerprint(tmp_path):
    """ADVICE r5: the bucketed-table catalog tag must change when the
    source parquet is regenerated (mtime/size), so stale bucketed
    copies can't silently serve old data against a fresh oracle."""
    import os
    import shutil

    from distributed_computing_spark.operators.analytics import _bucketed_source_tag

    src = "/root/testdata/sf0.001"
    d = tmp_path / "sf"
    d.mkdir()
    for t in ("orders", "lineitem"):
        shutil.copy(f"{src}/{t}.parquet", d / f"{t}.parquet")
    t1 = _bucketed_source_tag(str(d), 8)
    assert t1 == _bucketed_source_tag(str(d), 8)  # stable when unchanged
    assert t1 != _bucketed_source_tag(str(d), 16)  # bucket count in tag
    os.utime(d / "orders.parquet", ns=(1, 1))  # simulate regeneration
    assert t1 != _bucketed_source_tag(str(d), 8)


def test_priority_grouping_sets_strata(spark, sf_dir):
    """round 5: irregular grouping sets ((p,s),(s),(p)) — no grand
    total row, GROUPING() flags disambiguate strata, and each partial
    stratum's counts re-aggregate to the detail stratum's."""
    from distributed_computing_spark.registry import priority_grouping_sets

    rows = priority_grouping_sets(spark, sf_dir).collect()
    strata = {(r["g_p"], r["g_s"]) for r in rows}
    assert strata == {(0, 0), (1, 0), (0, 1)}  # no (1,1) grand total
    detail = [r for r in rows if (r["g_p"], r["g_s"]) == (0, 0)]
    by_status = {}
    for r in detail:
        by_status[r["status"]] = by_status.get(r["status"], 0) + r["n_orders"]
    for r in rows:
        if (r["g_p"], r["g_s"]) == (1, 0):  # priority grouped out
            assert r["priority"] is None
            assert r["n_orders"] == by_status[r["status"]]


def test_events_ohlc_picks_and_plan(spark, sf_dir):
    """round 6: OHLC bars — open/close are the unique (ts, event_id)-
    ordered first/last picks (cross-checked against an explicit window
    formulation), extrema bound them, and the whole query is a single
    partial-aggregated hash exchange (no ordering window shuffle)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.analytics import events_ohlc
    from distributed_computing_spark.plans.inspect import (
        count_exchanges,
        physical_plan,
    )
    from distributed_computing_spark.sources.catalog import load_table

    out = events_ohlc(spark, sf_dir)
    assert count_exchanges(out) == 1
    # struct-keyed min_by buffers aren't hash-aggregable, so Spark
    # lowers to SortAggregate — but crucially WITH a map-side partial
    # (one row per bar crosses the exchange; the window formulation
    # would shuffle every event). Pin partial+final.
    tree = physical_plan(out).split("\n\n")[0]
    assert tree.count("SortAggregate") == 2, tree

    rows = {(r["event_type"], r["bar_hour"]): r for r in out.collect()}
    ev = load_table(spark, sf_dir, "events").withColumn(
        "bar_hour", F.date_trunc("hour", F.col("ts"))
    )
    w = Window.partitionBy("event_type", "bar_hour").orderBy("ts", "event_id")
    ref = (
        ev.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "rn_last",
            F.row_number().over(
                w.orderBy(F.col("ts").desc(), F.col("event_id").desc())
            ),
        )
        .groupBy("event_type", "bar_hour")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("value"))).alias("open"),
            F.max(F.when(F.col("rn_last") == 1, F.col("value"))).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    )
    assert len(ref) == len(rows)
    for r in ref:
        got = rows[(r["event_type"], r["bar_hour"])]
        assert got["open"] == r["open"] and got["close"] == r["close"]
        assert got["n_ticks"] == r["n"]
        assert got["low"] <= min(r["open"], r["close"])
        assert got["high"] >= max(r["open"], r["close"])


# --- 2-D Pareto skyline ------------------------------------------------------


def _py_skyline(pts):
    return sorted(
        (i, u, c)
        for i, u, c in pts
        if not any(
            (u2 >= u and c2 <= c and (u2 > u or c2 < c))
            for _, u2, c2 in pts
        )
    )


def test_skyline_matches_bruteforce_with_duplicates(spark):
    import random

    from distributed_computing_spark.operators.analytics import skyline2d

    rng = random.Random(17)
    pts = [(i, rng.randint(0, 40), rng.randint(0, 40)) for i in range(300)]
    pts += [(300 + j, pts[j][1], pts[j][2]) for j in range(10)]  # exact dups
    df = spark.createDataFrame(pts, "doc_id long, u long, c long")
    got = sorted(
        (r["doc_id"], r["u"], r["c"])
        for r in skyline2d(df, "u", "c").collect()
    )
    assert got == _py_skyline(pts)
    # exact duplicates of a skyline point are BOTH retained
    dup_ids = {i for i, u, c in _py_skyline(pts) if i >= 300}
    for d in dup_ids:
        assert (pts[d - 300][0], pts[d - 300][1], pts[d - 300][2]) in [
            (i, u, c) for i, u, c in got
        ]


def test_skyline_invariant_to_prune_bucketing(spark):
    import random

    from distributed_computing_spark.operators.analytics import skyline2d

    rng = random.Random(99)
    pts = [(i, rng.randint(0, 25), rng.randint(0, 25)) for i in range(200)]
    df = spark.createDataFrame(pts, "doc_id long, u long, c long")
    base = sorted(
        tuple(r) for r in skyline2d(df, "u", "c", prune_buckets=1).collect()
    )
    for nb in (2, 7, 64):
        assert (
            sorted(
                tuple(r)
                for r in skyline2d(df, "u", "c", prune_buckets=nb).collect()
            )
            == base
        )
    assert base == _py_skyline(pts)


# --- oracle-exact HLL register sketch ---------------------------------------


def _py_hll_registers(values, m=64, seed=0):
    import hashlib

    regs = {}
    bits = 60 - (m.bit_length() - 1)
    for v in values:
        h = int(
            hashlib.md5(f"{v}#{seed}".encode()).hexdigest()[:15], 16
        )
        reg, rest = h % m, h // m
        rank = bits + 1 if rest == 0 else bits + 1 - rest.bit_length()
        regs[reg] = max(regs.get(reg, 0), rank)
    return regs


def test_hll_registers_match_python_md5_reference(spark):
    from distributed_computing_spark.operators.analytics import (
        hll_register_sketch,
    )

    vals = list(range(1000, 1600))
    df = spark.createDataFrame([(v,) for v in vals], "user_id long")
    got = {
        r["register"]: r["max_rank"]
        for r in hll_register_sketch(df, "user_id").collect()
    }
    assert got == _py_hll_registers(vals)


def test_hll_sketch_merge_is_elementwise_max(spark):
    from distributed_computing_spark.operators.analytics import (
        hll_register_sketch,
    )

    a = spark.createDataFrame([(v,) for v in range(500)], "user_id long")
    b = spark.createDataFrame(
        [(v,) for v in range(300, 900)], "user_id long"
    )
    ra = {
        r["register"]: r["max_rank"]
        for r in hll_register_sketch(a, "user_id").collect()
    }
    rb = {
        r["register"]: r["max_rank"]
        for r in hll_register_sketch(b, "user_id").collect()
    }
    ru = {
        r["register"]: r["max_rank"]
        for r in hll_register_sketch(a.unionAll(b), "user_id").collect()
    }
    merged = {
        k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)
    }
    assert ru == merged


def test_hll_estimate_error_bound(spark):
    from distributed_computing_spark.operators.analytics import (
        hll_estimate,
        hll_register_sketch,
    )

    for n in (200, 2_000, 20_000):
        df = spark.createDataFrame(
            [(v * 7 + 1,) for v in range(n)], "user_id long"
        )
        regs = {
            r["register"]: r["max_rank"]
            for r in hll_register_sketch(df, "user_id").collect()
        }
        est = hll_estimate(regs)
        # sigma = 1.04 / sqrt(64) = 13%; allow 3 sigma
        assert abs(est - n) / n < 0.39, (n, est)


def test_hll_rejects_non_power_of_two(spark):
    from distributed_computing_spark.operators.analytics import (
        hll_register_sketch,
    )

    df = spark.createDataFrame([(1,)], "user_id long")
    with pytest.raises(ValueError, match="power of two"):
        hll_register_sketch(df, "user_id", m=48)


# --- incremental view maintenance --------------------------------------------


def test_ivm_refresh_equals_recompute(spark):
    import random

    from distributed_computing_spark.operators.analytics import ivm_refresh
    from pyspark.sql import functions as F

    rng = random.Random(5)
    rows = [(i, f"g{rng.randint(0, 5)}", rng.randint(1, 100)) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, g string, v long")
    base = df.where(F.col("id") < 400).groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v")
    )
    # deletes: a subset of base rows; inserts: the tail + a NEW group
    deletes = df.where((F.col("id") < 400) & (F.col("id") % 7 == 0))
    inserts = df.where(F.col("id") >= 400).unionByName(
        spark.createDataFrame([(9999, "g_new", 42)], "id long, g string, v long")
    )
    delta = inserts.withColumn("_sign", F.lit(1)).unionByName(
        deletes.withColumn("_sign", F.lit(-1))
    )
    got = {
        r["g"]: (r["n_rows"], r["v"])
        for r in ivm_refresh(base, delta, ["g"], "n_rows", ("v",)).collect()
    }
    # recompute the effective state directly
    eff = [
        (i, g, v)
        for i, g, v in rows
        if (i >= 400) or (i % 7 != 0)
    ] + [(9999, "g_new", 42)]
    want = {}
    for _, g, v in eff:
        n, s = want.get(g, (0, 0))
        want[g] = (n + 1, s + v)
    assert got == want
    assert "g_new" in got  # group born from the delta


def test_ivm_refresh_drops_groups_emptied_by_deletes(spark):
    from distributed_computing_spark.operators.analytics import ivm_refresh
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 5)], "id long, g string, v long"
    )
    base = df.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_rows"), F.sum("v").alias("v")
    )
    delta = df.where(F.col("g") == "a").withColumn("_sign", F.lit(-1))
    got = {
        r["g"]: (r["n_rows"], r["v"])
        for r in ivm_refresh(base, delta, ["g"], "n_rows", ("v",)).collect()
    }
    assert got == {"b": (1, 5)}


def test_equidepth_matches_python_reference_with_heavy_ties(spark):
    import random

    from distributed_computing_spark.operators.analytics import (
        equidepth_histogram,
    )

    rng = random.Random(11)
    # heavy ties: a mode value carried by 30% of rows crosses tiles
    rows = [
        (i, 500 if rng.random() < 0.3 else rng.randint(0, 2000))
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, "id long, v long")
    got = {
        r["tile"]: (r["n_rows"], r["lo"], r["hi"])
        for r in equidepth_histogram(df, "v", "id", nb=7).collect()
    }
    order = sorted(rows, key=lambda t: (t[1], t[0]))
    n = len(order)
    want = {}
    for rk, (_, v) in enumerate(order):
        t = rk * 7 // n
        c, lo, hi = want.get(t, (0, 1 << 62, -(1 << 62)))
        want[t] = (c + 1, min(lo, v), max(hi, v))
    assert got == want
    # depths differ by at most 1 across tiles
    depths = [c for c, _, _ in got.values()]
    assert max(depths) - min(depths) <= 1


def test_equidepth_empty_raises(spark):
    import pytest

    from distributed_computing_spark.operators.analytics import (
        equidepth_histogram,
    )

    df = spark.createDataFrame([], "id long, v long")
    with pytest.raises(ValueError, match="empty"):
        equidepth_histogram(df, "v", "id")


# ---------------------------------------------------------------------------
# Count-min sketch registers
# ---------------------------------------------------------------------------


def _py_cms(keys, depth=4, width=512, seed0=0):
    import hashlib
    from collections import Counter

    regs = Counter()
    for k in keys:
        for r in range(depth):
            h = int(
                hashlib.md5(f"{k}#{seed0 + r}".encode()).hexdigest()[:15], 16
            )
            regs[(r, h % width)] += 1
    return dict(regs)


def test_cms_registers_match_python_md5_reference(spark):
    from distributed_computing_spark.operators.analytics import (
        cms_register_sketch,
    )

    keys = [f"w{i % 37}" for i in range(500)]  # skewed stream
    df = spark.createDataFrame([(k,) for k in keys], "word string")
    got = {
        (r["sketch_row"], r["register"]): r["cnt"]
        for r in cms_register_sketch(df, "word").collect()
    }
    assert got == _py_cms(keys)


def test_cms_point_estimate_one_sided(spark):
    """CMS guarantees estimate >= true count (collisions only add)."""
    from collections import Counter

    from distributed_computing_spark.operators.analytics import (
        cms_point_estimate,
        cms_register_sketch,
    )

    keys = [f"tok{i % 97}" for i in range(2000)] + ["heavy"] * 300
    df = spark.createDataFrame([(k,) for k in keys], "word string")
    regs = {
        (r["sketch_row"], r["register"]): r["cnt"]
        for r in cms_register_sketch(df, "word").collect()
    }
    exact = Counter(keys)
    for k, n in exact.items():
        assert cms_point_estimate(regs, k) >= n
    # the heavy hitter is far above the collision noise floor
    assert cms_point_estimate(regs, "heavy") < 300 + len(keys) // 100


def test_cms_sketch_merge_is_elementwise_sum(spark):
    from distributed_computing_spark.operators.analytics import (
        cms_register_sketch,
    )

    a = [f"a{i % 11}" for i in range(200)]
    b = [f"b{i % 7}" for i in range(150)] + ["a3"] * 25
    def sk(keys):
        df = spark.createDataFrame([(k,) for k in keys], "word string")
        return {
            (r["sketch_row"], r["register"]): r["cnt"]
            for r in cms_register_sketch(df, "word").collect()
        }

    sa, sb, sab = sk(a), sk(b), sk(a + b)
    merged = dict(sa)
    for k, v in sb.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == sab


def test_cms_rejects_bad_shape(spark):
    from distributed_computing_spark.operators.analytics import (
        cms_register_sketch,
    )

    df = spark.createDataFrame([("x",)], "word string")
    with pytest.raises(ValueError):
        cms_register_sketch(df, "word", depth=0)


# ---------------------------------------------------------------------------
# Bloom-filter semi-join pruning
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives(spark):
    from distributed_computing_spark.operators.analytics import (
        bloom_bitset,
        bloom_membership,
    )

    members = spark.createDataFrame(
        [(i * 13,) for i in range(400)], "k long"
    )
    bits = bloom_bitset(members, "k")
    kept = members.where(bloom_membership("k", bits)).count()
    assert kept == 400  # every inserted key MUST pass


def test_bloom_false_positive_rate_bounded(spark):
    from distributed_computing_spark.operators.analytics import (
        bloom_bitset,
        bloom_membership,
    )

    members = spark.createDataFrame(
        [(i,) for i in range(500)], "k long"
    )
    bits = bloom_bitset(members, "k")
    probe = spark.createDataFrame(
        [(i,) for i in range(10_000, 12_000)], "k long"
    )
    fp = probe.where(bloom_membership("k", bits)).count()
    # n=500, m=16384, k=5 → theoretical fp ~ 2e-4; allow wide slack
    assert fp / 2000 < 0.02


def test_bloom_semi_orders_equals_plain_semi_anti(spark, sf_dir):
    """The bloom-pruned plan is an optimizer VARIANT: byte-identical
    result to the direct semi/anti formulation."""
    from distributed_computing_spark.registry import QUERIES

    got = sorted(
        (r["c_custkey"], r["c_mktsegment"])
        for r in QUERIES["bloom_semi_orders"](spark, sf_dir).collect()
    )
    want = sorted(
        (r["c_custkey"], r["c_mktsegment"])
        for r in QUERIES["semi_anti_orders"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_bloom_bitset_rejects_bad_width(spark):
    from distributed_computing_spark.operators.analytics import bloom_bitset

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        bloom_bitset(df, "k", m_bits=100)


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch
# ---------------------------------------------------------------------------


def _py_kmv(vals, k=64, seed=0):
    import hashlib

    hs = sorted(
        {
            int(
                hashlib.md5(f"{v}#{seed}".encode()).hexdigest()[:15], 16
            )
            for v in vals
        }
    )
    return hs[:k]


def test_kmv_sketch_matches_python_reference(spark):
    from distributed_computing_spark.operators.analytics import kmv_sketch

    rows = [("a", i % 200) for i in range(1000)] + [
        ("b", i % 40) for i in range(300)
    ]
    df = spark.createDataFrame(rows, "grp string, v long")
    out = kmv_sketch(df, "grp", "v", k=64).collect()
    got = {}
    for r in out:
        got.setdefault(r["grp"], []).append((r["rnk"], r["hval"]))
    for g, vals in (("a", range(200)), ("b", range(40))):
        want = _py_kmv(vals, k=64)
        assert [h for _, h in sorted(got[g])] == want
    # group b has < k distinct values: the sketch IS the exact set
    assert len(got["b"]) == 40


def test_kmv_estimate_error_bound(spark):
    from distributed_computing_spark.operators.analytics import (
        kmv_estimate,
        kmv_sketch,
    )

    n = 5000
    df = spark.createDataFrame(
        [("g", i) for i in range(n)], "grp string, v long"
    )
    hvals = [
        r["hval"] for r in kmv_sketch(df, "grp", "v", k=64).collect()
    ]
    est = kmv_estimate(hvals, k=64)
    # standard error ~ n/sqrt(k-1) ≈ 12.6%; allow 3 sigma
    assert abs(est - n) / n < 0.38


def test_kmv_union_merge_property(spark):
    """min-k of the union == min-k over the two sketches' values —
    the mergeability that makes KMV a distributed-friendly summary."""
    from distributed_computing_spark.operators.analytics import kmv_sketch

    a = [("x", i) for i in range(500)]
    b = [("x", i) for i in range(250, 800)]
    def mins(rows):
        df = spark.createDataFrame(rows, "grp string, v long")
        return [
            r["hval"] for r in kmv_sketch(df, "grp", "v", k=64).collect()
        ]

    merged = sorted(set(mins(a)) | set(mins(b)))[:64]
    assert mins(a + b) == merged


def test_kmv_jaccard_estimate(spark):
    from distributed_computing_spark.operators.analytics import (
        kmv_jaccard,
        kmv_sketch,
    )

    a = [("x", i) for i in range(600)]           # {0..599}
    b = [("x", i) for i in range(300, 900)]      # {300..899}; J = 1/3
    def mins(rows):
        df = spark.createDataFrame(rows, "grp string, v long")
        return [
            r["hval"] for r in kmv_sketch(df, "grp", "v", k=64).collect()
        ]

    j = kmv_jaccard(mins(a), mins(b), k=64)
    assert abs(j - 1 / 3) < 0.2


def test_kmv_rejects_tiny_k(spark):
    from distributed_computing_spark.operators.analytics import kmv_sketch

    df = spark.createDataFrame([("g", 1)], "grp string, v long")
    with pytest.raises(ValueError):
        kmv_sketch(df, "grp", "v", k=1)


def test_kmv_union_sketch_merge_closure(spark):
    """The KMV closure property the merge relies on: min-k of the union
    of two min-k sketches == min-k of the union of the FULL distinct
    hash sets (so merging sketches loses nothing vs rescanning raw
    data). Verified on planted overlapping groups, plus the
    client-side Jaccard estimate being exact when unions fit in k."""
    from distributed_computing_spark.operators.analytics import (
        kmv_jaccard,
        kmv_sketch,
        kmv_union_sketches,
    )
    from distributed_computing_spark.operators.dedup import md5_hash60
    from pyspark.sql import functions as F

    rows = [("A", v) for v in range(40)] + [
        ("B", v) for v in range(20, 60)
    ]
    df = spark.createDataFrame(rows, "grp string, v long")
    k = 16
    sk = kmv_sketch(df, "grp", "v", k=k, seed=0)
    merged = kmv_union_sketches(sk, "grp", k=k).collect()
    assert {(r["g_a"], r["g_b"]) for r in merged} == {("A", "B")}
    got = [(r["rnk"], r["hval"], r["in_both"]) for r in merged]
    assert [r[0] for r in got] == list(range(1, k + 1))

    # independent min-k over the FULL union of distinct hashes
    full = (
        df.select(md5_hash60(F.col("v").cast("string"), 0).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
        .collect()
    )
    assert [r[1] for r in got] == [r["h"] for r in full]

    # in_both is exact membership against the per-group sketches
    a_hashes = {r["hval"] for r in sk.where(F.col("grp") == "A").collect()}
    b_hashes = {r["hval"] for r in sk.where(F.col("grp") == "B").collect()}
    for _, h, in_both in got:
        assert in_both == int(h in a_hashes and h in b_hashes)

    # client-side Jaccard from the same sketches is a sane estimate of
    # the true 20/60
    est = kmv_jaccard(sorted(a_hashes), sorted(b_hashes), k=k)
    assert 0.05 <= est <= 0.8


def test_hll_merge_equals_direct_coarse_sketch(spark):
    """The distributive-rollup property: merging fine-group register
    tables by elementwise max equals sketching the coarse group
    directly from raw rows — on planted groups with overlap."""
    from pyspark.sql import functions as F

    from distributed_computing_spark.operators.analytics import (
        hll_group_registers,
        hll_merge_registers,
        hll_register_sketch,
    )

    rows = [("a", v) for v in range(30)] + [("b", v) for v in range(15, 50)]
    df = spark.createDataFrame(rows, "fine string, v long")
    fine = hll_group_registers(df, "fine", "v", m=64, seed=0)
    mapping = spark.createDataFrame(
        [("a", "all"), ("b", "all")], "fine string, coarse string"
    )
    merged = {
        (r["register"]): r["max_rank"]
        for r in hll_merge_registers(fine, mapping, "fine", "coarse").collect()
    }
    direct = {
        r["register"]: r["max_rank"]
        for r in hll_register_sketch(df, "v", m=64, seed=0).collect()
    }
    assert merged == direct
