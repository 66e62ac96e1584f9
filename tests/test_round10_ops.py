"""Round-10 operator contracts: the ADVICE r9 hardening set —
null-safe Merkle repair, length-prefixed row hashing, the absolute
basket cap, benford's filter-not-throw degradation, and the gated
support broadcast in copurchase_cosine.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F
import pytest


def test_merkle_repair_catches_null_value_divergence(spark):
    """ADVICE r9 (medium): key present on BOTH replicas with value NULL
    on exactly one side is a real divergence — the old plain != compare
    evaluated to NULL and silently dropped it. Both directions must
    emit 'U'; a key NULL on BOTH sides is NOT a divergence."""
    from distributed_computing_spark.operators.kv import merkle_repair_keys

    rows_a = [("1", "x"), ("2", None), ("3", None), ("4", "same")]
    rows_b = [("1", None), ("2", "y"), ("3", None), ("4", "same")]
    a = spark.createDataFrame(rows_a, "key string, value string")
    b = spark.createDataFrame(rows_b, "key string, value string")
    got = {(r["key"], r["op"]) for r in merkle_repair_keys(a, b, 16).collect()}
    assert got == {("1", "U"), ("2", "U")}


def test_merkle_digest_distinguishes_null_from_empty_value(spark):
    """The old concat_ws('|', k, v) SKIPPED a NULL value, hashing
    (k, NULL) like a bare key; the length-prefixed repr gives NULL its
    own marker, so states differing only in NULL-vs-'' diverge."""
    from distributed_computing_spark.operators.kv import merkle_diff

    a = spark.createDataFrame([("k", None)], "key string, value string")
    b = spark.createDataFrame([("k", "")], "key string, value string")
    assert merkle_diff(a, b, n_buckets=4).count() == 1
    assert merkle_diff(a, a, n_buckets=4).count() == 0


def test_merkle_row_hash_is_delimiter_unambiguous(spark):
    """('a|b', 'c') and ('a', 'b|c') concatenated with a raw '|' are the
    same string; the length-prefixed repr keeps their ROW hashes apart.
    Compared at n_buckets=1 so only the digest (not the key-derived
    bucket) can separate them — counts are equal on both sides."""
    from distributed_computing_spark.operators.kv import merkle_diff

    a = spark.createDataFrame([("a|b", "c")], "key string, value string")
    b = spark.createDataFrame([("a", "b|c")], "key string, value string")
    diffs = merkle_diff(a, b, n_buckets=1).collect()
    assert len(diffs) == 1
    assert diffs[0]["n_a"] == diffs[0]["n_b"] == 1
    assert diffs[0]["digest_a"] != diffs[0]["digest_b"]


def test_basket_pair_counts_skips_mega_basket(spark):
    """ADVICE r9: the absolute max_basket companion cap — a degenerate
    mega-basket is SKIPPED (its C(k,2) fan-out never reaches the
    Python pair loop), normal baskets still count."""
    from distributed_computing_spark.operators.analytics import (
        basket_pair_counts,
    )

    rows = [(1, i) for i in range(50)] + [(2, 10), (2, 11), (3, 10), (3, 11)]
    items = spark.createDataFrame(rows, "l_orderkey long, item long")
    got = {
        (r["a"], r["b"]): r["n_orders"]
        for r in basket_pair_counts(
            items, min_count=1, max_basket=10
        ).collect()
    }
    # basket 1 (50 items) is over the cap and contributes nothing
    assert got == {(10, 11): 2}
    # without the cap binding, basket 1's pairs appear
    uncapped = basket_pair_counts(items, min_count=1, max_basket=100)
    assert uncapped.count() == 50 * 49 // 2  # (10,11) merges with basket 1's


def test_benford_filters_negative_amounts_instead_of_throwing(
    spark, tmp_path
):
    """ADVICE r9: a negative o_totalprice must degrade to filtering
    (the '-' leading char would throw under ANSI cast otherwise). The
    digit histogram over [19.99, -5.00, 29.99, 0.00] sees digits 1 and
    2 only."""
    from distributed_computing_spark.operators.analytics import benford_audit

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    rows = [
        (1, 1, "O", 19.99, t0, "P"),
        (2, 1, "O", -5.00, t0, "P"),
        (3, 1, "O", 29.99, t0, "P"),
        (4, 1, "O", 0.00, t0, "P"),
    ]
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    out = {r["digit"]: r["n_orders"] for r in benford_audit(spark, d).collect()}
    assert out == {1: 1, 2: 1}


def test_copurchase_cosine_broadcast_gate_answer_identical(spark, sf_dir):
    """ADVICE r9: above max_broadcast_items the support re-attach falls
    back to a shuffle join — same answer, no broadcast of the support
    tables (the bigram_pmi max_broadcast_vocab rule)."""
    from distributed_computing_spark.operators.analytics import (
        copurchase_cosine,
    )
    from distributed_computing_spark.plans import executed_plan

    hinted = copurchase_cosine(spark, sf_dir, min_count=3)
    forced = copurchase_cosine(
        spark, sf_dir, min_count=3, max_broadcast_items=0
    )
    assert sorted(map(tuple, hinted.collect()), key=lambda t: t[:2]) == sorted(
        map(tuple, forced.collect()), key=lambda t: t[:2]
    )
    # the gated fallback really does drop the broadcast HINT — with
    # the size-based auto-broadcast off (at sf0.001 AQE would convert
    # the tiny support tables regardless), only the hinted plan keeps
    # broadcast joins
    thr = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        n_forced = executed_plan(
            copurchase_cosine(spark, sf_dir, 3, max_broadcast_items=0)
        ).count("BroadcastHashJoin")
        n_hinted = executed_plan(
            copurchase_cosine(spark, sf_dir, 3)
        ).count("BroadcastHashJoin")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thr)
    assert n_hinted > n_forced


def _brute_quantile(pairs, q_permille):
    """Lower weighted quantile reference: smallest v with
    1000*cumweight >= q_permille*W over (v, wt) pairs."""
    total = sum(w for _, w in pairs)
    cum = 0
    for v, w in sorted(pairs):
        cum += w
        if 1000 * cum >= q_permille * total:
            return v
    raise AssertionError("unreachable for q <= 1000")


@pytest.mark.slow
def test_grouped_weighted_quantile_matches_bruteforce(spark):
    """VERDICT r9 item 3: the three-pass q-permille generalization is
    gate-only — pin it against a sorted-reference brute force on
    adversarial shapes: ties at the crossing, all-equal values, a
    two-value column (256 buckets mostly empty), weights > 1, a
    single-group input, and boundary q values (1, 500, 900, 990,
    1000)."""
    from distributed_computing_spark.operators.analytics import (
        grouped_weighted_quantile,
    )

    cases = {
        # (g) -> list of (v, wt)
        "ties": [(10, 3), (20, 3), (30, 3)],
        "allequal": [(7, 5)],
        "twoval": [(0, 7), (1_000_000, 3)],
        "skew": [(1, 1), (2, 1), (3, 1), (4, 1), (5, 96)],
        "single": [(42, 1)],
    }
    rows = [(g, v, w) for g, pairs in cases.items() for v, w in pairs]
    vw = spark.createDataFrame(rows, "g string, v long, wt long")
    for q in (1, 500, 900, 990, 1000):
        got = {
            r["g"]: (r["w_total"], r["q_v"])
            for r in grouped_weighted_quantile(vw, q).collect()
        }
        want = {
            g: (sum(w for _, w in pairs), _brute_quantile(pairs, q))
            for g, pairs in cases.items()
        }
        assert got == want, (q, got, want)


def test_order_price_quantiles_matches_bruteforce(spark, tmp_path):
    """End-to-end: planted orders with ties and a heavy tail — the
    gated query's P50/P90/P99 equal the sorted-reference quantiles per
    priority."""
    import datetime

    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.operators.analytics import (
        order_price_quantiles,
    )

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    prices = {
        "A": [1.00] * 10 + [2.00] * 85 + [99.99] * 5,
        "B": [0.01, 0.02, 0.03, 0.04],
    }
    rows = []
    i = 0
    for g, ps in prices.items():
        for p in ps:
            rows.append((i, 1, "O", p, t0, g))
            i += 1
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    try:
        got = {
            r["priority"]: (
                r["n_orders"],
                r["p50_cents"],
                r["p90_cents"],
                r["p99_cents"],
            )
            for r in order_price_quantiles(spark, d).collect()
        }
    finally:
        release_tracked()
    for g, ps in prices.items():
        pairs = {}
        for p in ps:
            c = int(p * 100 + 0.5)
            pairs[c] = pairs.get(c, 0) + 1
        pl = sorted(pairs.items())
        want = (
            len(ps),
            _brute_quantile(pl, 500),
            _brute_quantile(pl, 900),
            _brute_quantile(pl, 990),
        )
        assert got[g] == want, (g, got[g], want)


@pytest.mark.slow
def test_grouped_min_rank_adversarial_matches_window_rank(spark):
    """VERDICT r9 item 6: grouped_min_rank is exact for min-rank
    because ties never span buckets — prove it on the adversarial
    shapes: an all-equal column (every rank 1), a two-value column
    (256 buckets, two occupied), a degenerate single-group input, and
    negative values; reference = brute-force rank() window at small
    n."""
    from pyspark.sql import Window as W

    from distributed_computing_spark.operators.analytics import (
        grouped_min_rank,
    )

    cases = [
        [("g1", 5)] * 40,  # all-equal
        [("g1", 0)] * 20 + [("g1", 1_000_000)] * 20,  # two values
        [("solo", v) for v in (3, 1, 2, 2, 9, -7, -7)],  # single group, negatives
        [("a", v) for v in range(10)] + [("b", v % 3) for v in range(30)],
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "g string, v long")
        got = sorted(
            (r["g"], r["v"], r["rk"])
            for r in grouped_min_rank(df, "g", "v", "rk").collect()
        )
        want = sorted(
            (r["g"], r["v"], r["rk"])
            for r in df.withColumn(
                "rk", F.rank().over(W.partitionBy("g").orderBy("v"))
            ).collect()
        )
        assert got == want, rows[:3]


# ---------------------------------------------------------------------------
# Round-10 new operators: CUSUM recurrence + the TPC-H shape contracts
# ---------------------------------------------------------------------------


def _brute_cusum(xs):
    """The literal Page recurrence s_i = max(0, s_{i-1} + x_i)."""
    s, out = 0, []
    for x in xs:
        s = max(0, s + x)
        out.append(s)
    return out


def test_cusum_closed_form_matches_recurrence_adversarial(spark):
    """The prefix-sum − running-min fold must equal the literal
    recurrence on every adversarial shape: all-negative (clamp pins to
    0), all-positive (clamp never fires), alternating resets, a deep
    trench followed by recovery, zeros, and a single row — per group,
    with groups interleaved."""
    from distributed_computing_spark.operators.analytics import cusum_positive

    series = {
        "neg": [-5, -1, -7, -2],
        "pos": [3, 1, 4, 1, 5],
        "alt": [10, -20, 7, -3, -100, 9],
        "trench": [-1000, 5, 5, 5, -2, 100],
        "zeros": [0, 0, 0],
        "one": [42],
    }
    rows = [
        (g, i, x) for g, xs in series.items() for i, x in enumerate(xs)
    ]
    df = spark.createDataFrame(rows, "g string, t int, x long")
    got = {
        (r["g"], r["t"]): r["cusum"]
        for r in cusum_positive(df, "g", "t", "x").collect()
    }
    for g, xs in series.items():
        want = _brute_cusum(xs)
        for i, w in enumerate(want):
            assert got[(g, i)] == w, (g, i, got[(g, i)], w)


def test_cusum_hypothesis_random_series(spark):
    """Deterministic pseudo-random sweep (no hypothesis engine for the
    Spark fixture): 20 seeds × 30 steps of signed steps, closed form ==
    recurrence everywhere."""
    from distributed_computing_spark.operators.analytics import cusum_positive

    rows = []
    want = {}
    for seed in range(20):
        xs = [((seed * 2654435761 + i * 40503) % 2001) - 1000 for i in range(30)]
        rows += [(f"s{seed}", i, x) for i, x in enumerate(xs)]
        for i, w in enumerate(_brute_cusum(xs)):
            want[(f"s{seed}", i)] = w
    df = spark.createDataFrame(rows, "g string, t int, x long")
    got = {
        (r["g"], r["t"]): r["cusum"]
        for r in cusum_positive(df, "g", "t", "x").collect()
    }
    assert got == want


def test_events_cusum_drift_detects_planted_level_shift(spark, tmp_path):
    """A type whose daily counts jump from 10 to 30 for the last third
    of the window must drift (4·cusum > S fires inside the shifted
    region); a flat type must not, and its first_drift_day is NULL."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(30):
        n_flat = 10
        n_shift = 10 if day < 20 else 30
        for k, (typ, n) in enumerate(
            [("flat", n_flat), ("shift", n_shift)]
        ):
            for j in range(n):
                eid += 1
                rows.append(
                    (
                        eid,
                        t0 + datetime.timedelta(days=day, seconds=j + 1),
                        j,
                        typ,
                        1.0,
                        "{}",
                    )
                )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r["event_type"]: r for r in QUERIES["events_cusum_drift"](spark, d).collect()}
    assert out["flat"]["n_drift_days"] == 0
    assert out["flat"]["first_drift_day"] is None
    assert out["flat"]["max_cusum"] == 0  # perfectly flat: x ≡ 0
    assert out["shift"]["n_drift_days"] > 0
    # drift can only fire inside the shifted region
    assert out["shift"]["first_drift_day"] >= t0 + datetime.timedelta(days=20)


def test_top_supplier_revenue_keeps_ties(spark, tmp_path):
    """Q15's known trap: two suppliers with the SAME max revenue must
    BOTH survive (ORDER BY LIMIT 1 would silently drop one)."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    ship = datetime.datetime(1998, 2, 1)
    li_rows = [
        (1, 1, 101, 1, 1.0, 500.00, 0.00, 0.0, "N", "O", ship),
        (2, 1, 102, 1, 1.0, 500.00, 0.00, 0.0, "N", "O", ship),
        (3, 1, 103, 1, 1.0, 400.00, 0.00, 0.0, "N", "O", ship),
    ]
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(101, "S101", 0, 0.0), (102, "S102", 0, 0.0), (103, "S103", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    got = QUERIES["top_supplier_revenue"](spark, d).collect()
    assert [(r["s_suppkey"], r["total_rev_mc"]) for r in got] == [
        (101, 5_000_000),
        (102, 5_000_000),
    ]


def test_custdist_preserves_zero_order_customers(spark, tmp_path):
    """Q13's point: a customer with NO qualifying orders lands in the
    c_count=0 bucket — an inner join would erase the row entirely."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, "c1", 0, 0.0, "AUTO"), (2, "c2", 0, 0.0, "AUTO"), (3, "c3", 0, 0.0, "AUTO")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    o_rows = [
        (1, 1, "O", 1.0, t0, "1-URGENT"),
        (2, 1, "O", 1.0, t0, "1-URGENT"),
        (3, 2, "O", 1.0, t0, "4-NOT SPECIFIED"),  # excluded by the filter
    ]
    spark.createDataFrame(
        o_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = {r["c_count"]: r["custdist"] for r in QUERIES["custdist_histogram"](spark, d).collect()}
    # customer 1: two qualifying orders; customers 2 and 3: zero
    assert got == {2: 1, 0: 2}


def test_sole_return_supplier_planted_case(spark, tmp_path):
    """Planted Q21 semantics: supplier A returns on a 2-supplier order
    where B is clean → A qualifies; on an order where BOTH return,
    neither qualifies; a single-supplier returned order never
    qualifies (no other supplier EXISTS)."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    ship = t0
    li_rows = [
        # order 1: A returns, B clean -> A qualifies
        (1, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "R", "F", ship),
        (1, 1, 2, 2, 1.0, 10.0, 0.0, 0.0, "N", "F", ship),
        # order 2: both return -> neither qualifies
        (2, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "R", "F", ship),
        (2, 1, 2, 2, 1.0, 10.0, 0.0, 0.0, "R", "F", ship),
        # order 3: A alone returns -> no other supplier, not counted
        (3, 1, 1, 1, 1.0, 10.0, 0.0, 0.0, "R", "F", ship),
        # order 4: non-F status order -> out of scope entirely
        (4, 1, 2, 1, 1.0, 10.0, 0.0, 0.0, "R", "F", ship),
    ]
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    o_rows = [
        (1, 1, "F", 1.0, t0, "1-URGENT"),
        (2, 1, "F", 1.0, t0, "1-URGENT"),
        (3, 1, "F", 1.0, t0, "1-URGENT"),
        (4, 1, "O", 1.0, t0, "1-URGENT"),
    ]
    spark.createDataFrame(
        o_rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    spark.createDataFrame(
        [(1, "SUPP_A", 0, 0.0), (2, "SUPP_B", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    got = [(r["s_name"], r["numwait"]) for r in QUERIES["sole_return_supplier"](spark, d).collect()]
    assert got == [("SUPP_A", 1)]


def test_min_cost_supplier_keeps_per_part_ties(spark, tmp_path):
    """Q2's correlated min is tie-safe PER PART: two suppliers hitting
    the same minimum for one part both appear; other parts keep their
    own independent winners."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    ship = datetime.datetime(2024, 1, 1)
    li_rows = [
        (1, 10, 1, 1, 1.0, 100.00, 0.0, 0.0, "N", "O", ship),
        (2, 10, 2, 1, 1.0, 100.00, 0.0, 0.0, "N", "O", ship),
        (3, 10, 3, 1, 1.0, 150.00, 0.0, 0.0, "N", "O", ship),
        (4, 20, 3, 1, 1.0, 75.00, 0.0, 0.0, "N", "O", ship),
        (5, 20, 1, 1, 1.0, 80.00, 0.0, 0.0, "N", "O", ship),
    ]
    spark.createDataFrame(
        li_rows,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    spark.createDataFrame(
        [(10, "P10", "Brand#1", "LARGE", 3, 1.0),
         (20, "P20", "Brand#2", "LARGE", 5, 1.0),
         (30, "P30", "Brand#3", "LARGE", 50, 1.0)],  # filtered out by size
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double",
    ).write.mode("overwrite").parquet(f"{d}/part.parquet")
    spark.createDataFrame(
        [(1, "S1", 0, 0.0), (2, "S2", 0, 0.0), (3, "S3", 0, 0.0)],
        "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    ).write.mode("overwrite").parquet(f"{d}/supplier.parquet")
    got = [
        (r["p_partkey"], r["s_name"], r["offer_cents"])
        for r in QUERIES["min_cost_supplier"](spark, d).collect()
    ]
    assert got == [(10, "S1", 10000), (10, "S2", 10000), (20, "S3", 7500)]


def test_sales_opportunity_cross_multiplied_threshold(spark, tmp_path):
    """Q22's average threshold as exact integers: bal·n > Σbal — the
    boundary customer (exactly average) is EXCLUDED (strict >), and a
    recently-active customer is excluded by the anti-join even with a
    high balance."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    # balances: 10.00, 20.00, 30.00 -> avg 20.00; c2 sits exactly on it
    spark.createDataFrame(
        [
            (1, "c1", 0, 10.00, "A"),
            (2, "c2", 0, 20.00, "A"),
            (3, "c3", 0, 30.00, "A"),
            (4, "c4", 0, 30.00, "B"),  # active recently -> anti-joined away
        ],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(1, 4, "O", 1.0, datetime.datetime(2000, 6, 1), "1-URGENT"),
         (2, 3, "O", 1.0, datetime.datetime(1999, 6, 1), "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = {
        r["c_mktsegment"]: (r["n_custs"], r["bal_cents"])
        for r in QUERIES["sales_opportunity"](spark, d).collect()
    }
    # avg of positives = (1000+2000+3000+3000)/4 = 2250 cents:
    # c3 (3000, old order only) passes; c2 (2000) under; c4 active
    assert got == {"A": (1, 3000)}


def test_theilsen_linear_trend_exact_and_outlier_robust(spark, tmp_path):
    """A perfectly linear series (+2/day) has EVERY pairwise slope 2 —
    the median pair must satisfy dy == 2·dx exactly. Corrupting ONE day
    (the OLS-breaking case) must not move the Theil–Sen median off the
    true slope (breakdown 29%)."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(12):
        base = 10 + 2 * day
        counts = {"lin": base, "corrupt": base if day != 6 else 500}
        for typ, n in counts.items():
            for j in range(n):
                eid += 1
                rows.append(
                    (eid, t0 + datetime.timedelta(days=day, seconds=j + 1),
                     j, typ, 1.0, "{}")
                )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    out = {r["event_type"]: r for r in QUERIES["events_theilsen"](spark, d).collect()}
    lin = out["lin"]
    assert lin["n_pairs"] == 12 * 11 // 2
    assert lin["med_dy"] == 2 * lin["med_dx"]
    cor = out["corrupt"]
    # 11 clean days give C(11,2)=55 exact-slope-2 pairs of 66 total:
    # the median pair is still on the true line
    assert cor["med_dy"] == 2 * cor["med_dx"]


def test_theilsen_past_cap_degrades_to_weeks_not_raises(spark):
    """Round 11 (VERDICT r10 item 4): a series longer than
    MAX_THEILSEN_DAYS no longer raises — it auto-coarsens to weekly
    buckets with the same exact (med_dy, med_dx) contract. The result
    must match the forced bucket_days=7 path AND a brute-force weekly
    Theil–Sen computed in Python."""
    import datetime

    from distributed_computing_spark.operators import analytics

    t0 = datetime.datetime(2020, 1, 1)
    n_days = analytics.MAX_THEILSEN_DAYS + 2
    # counts vary by day so slopes are nontrivial: c_d = 1 + (d*d) % 5
    rows = []
    eid = 0
    for i in range(n_days):
        for j in range(1 + (i * i) % 5):
            eid += 1
            rows.append(
                (eid, t0 + datetime.timedelta(days=i, seconds=j + 1),
                 j, "t", 1.0, "{}")
            )
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.mode("overwrite").parquet(f"{d}/events.parquet")
        auto = analytics.events_theilsen(spark, d).collect()
        forced = analytics.events_theilsen(spark, d, bucket_days=7).collect()
    assert [tuple(r) for r in auto] == [tuple(r) for r in forced]
    # brute force: weekly sums, all pairwise (dy, dx), operator's
    # exact selection order ((IEEE slope, dy, dx), rank (n+1)//2)
    epoch0 = datetime.date(1970, 1, 1)
    weekly: dict[int, int] = {}
    for i in range(n_days):
        ed = (datetime.date(2020, 1, 1) + datetime.timedelta(days=i) - epoch0).days
        weekly[(ed - ed % 7) // 7] = weekly.get((ed - ed % 7) // 7, 0) + 1 + (i * i) % 5
    xs = sorted(weekly)
    pairs = [
        (weekly[b] - weekly[a], (b - a) * 7)
        for ai, a in enumerate(xs)
        for b in xs[ai + 1 :]
    ]
    pairs.sort(key=lambda p: (p[0] / p[1], p[0], p[1]))
    med = pairs[(len(pairs) + 1) // 2 - 1]
    got = auto[0]
    assert (got["med_dy"], got["med_dx"]) == med
    assert got["n_pairs"] == len(pairs)


def test_rfm_scores_planted_quintiles(spark, tmp_path):
    """Five customers with frequencies 1..5 (and identical recency and
    per-order spend) must land in f_score 1..5 respectively: the exact
    lower-quintile thresholds are 1,2,3,4 and score = 1 + #{t < v}.
    With all recencies equal, every r_score is 1 (no threshold strictly
    below); monetary tracks frequency here so m_score == f_score."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 5)
    rows = []
    ok = 0
    for cust in range(1, 6):
        for k in range(cust):  # customer c places c orders, same day
            ok += 1
            rows.append((ok, cust, "O", 100.00, t0, "1-URGENT"))
    spark.createDataFrame(
        rows,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = {
        (r["r_score"], r["f_score"], r["m_score"]): r["n_customers"]
        for r in QUERIES["customer_rfm_segments"](spark, d).collect()
    }
    assert got == {(1, s, s): 1 for s in range(1, 6)}


def test_rfm_metric_table_cached_once(spark):
    """The per-customer (r, f, m) table feeds the threshold pass AND
    the scoring pass — the subtree-reuse rule wants one persisted build
    read from both branches."""
    from distributed_computing_spark.caching import release_tracked
    from distributed_computing_spark.registry import QUERIES

    try:
        df = QUERIES["customer_rfm_segments"](spark, "/root/testdata/sf0.001")
        from distributed_computing_spark.plans import physical_plan

        plan = physical_plan(df)
        assert plan.count("InMemoryTableScan") >= 2, plan
        assert df.count() > 0
    finally:
        release_tracked()


def test_segment_allocation_sums_to_budget_and_known_case(spark, tmp_path):
    """Hamilton apportionment: Σ units == 10000 ALWAYS (the property
    naive per-row rounding breaks), and a hand-checkable case: revenues
    1/1/1 cents → quotas 3333.33… → bases 3333 with one leftover unit,
    which goes to the alphabetically first segment (all remainder
    fractions tie)."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(1, "cA", 0, 0.0, "X"), (2, "cB", 0, 0.0, "Y"), (3, "cC", 0, 0.0, "Z")],
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(f"{d}/customer.parquet")
    spark.createDataFrame(
        [(1, 1, "O", 0.01, t0, "1-URGENT"),
         (2, 2, "O", 0.01, t0, "1-URGENT"),
         (3, 3, "O", 0.01, t0, "1-URGENT")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(f"{d}/orders.parquet")
    got = {r["c_mktsegment"]: r["units"] for r in QUERIES["segment_allocation"](spark, d).collect()}
    assert got == {"X": 3334, "Y": 3333, "Z": 3333}
    assert sum(got.values()) == 10_000

    # and on the real table: the budget invariant holds regardless of
    # the revenue distribution
    rows = QUERIES["segment_allocation"](spark, "/root/testdata/sf0.001").collect()
    assert sum(r["units"] for r in rows) == 10_000


@pytest.mark.slow
def test_dow_anomalies_weekly_rhythm_not_flagged_corruption_is(
    spark, tmp_path
):
    """The seasonal point: weekends at DOUBLE volume every week are NOT
    anomalies (each day matches its own day-of-week median), while one
    corrupted Wednesday IS — the z-score detector would flag every
    weekend instead."""
    import datetime

    from distributed_computing_spark.registry import QUERIES

    d = str(tmp_path / "sf")
    t0 = datetime.datetime(2024, 1, 1)  # a Monday; epoch-dow anchors it
    rows = []
    eid = 0
    corrupt_day = 16  # a Wednesday (day 16 = 2024-01-17)
    for day in range(28):
        dow = (datetime.date(2024, 1, 1) + datetime.timedelta(days=day)).weekday()
        n = 40 if dow >= 5 else 20  # weekend double volume, every week
        if day == corrupt_day:
            n = 200
        for j in range(n):
            eid += 1
            rows.append(
                (eid, t0 + datetime.timedelta(days=day, seconds=j + 1),
                 j, "click", 1.0, "{}")
            )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = QUERIES["events_dow_anomalies"](spark, d).collect()
    assert len(got) == 1
    assert got[0]["day"] == t0 + datetime.timedelta(days=corrupt_day)
    assert got[0]["c"] == 200 and got[0]["med_dow"] == 20


def test_market_share_broadcast_gate_answer_identical(spark, sf_dir):
    """Round-10 late re-plan: above max_broadcast_orders the
    qualifying-orders side falls back to the hinted shuffle-hash join —
    same answer either way (the copurchase_cosine gate rule)."""
    from distributed_computing_spark.registry import market_share_ppm

    hinted = market_share_ppm(spark, sf_dir)
    forced = market_share_ppm(spark, sf_dir, max_broadcast_orders=0)
    assert sorted(map(tuple, hinted.collect())) == sorted(
        map(tuple, forced.collect())
    )
